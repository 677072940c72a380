package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col

import graft.operators.Dedup

/** Properties of the composed LSH→Jaccard pipeline against the exact
  * all-pairs baseline on a corpus with controlled overlap. */
class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // 30 docs: 10 template families of 3 variants each — variants share most
  // of their shingles (high jaccard); cross-family overlap is low
  lazy val docs = {
    val base = (0 until 10).map { f =>
      (0 until 12).map(w => s"fam$f word${f}_$w common$w").mkString(" ")
    }
    val rows = for {
      f <- 0 until 10
      v <- 0 until 3
    } yield {
      val text =
        if (v == 0) base(f)
        else base(f) + s" extra$f$v tail$v"
      (f * 3L + v, text)
    }
    spark.createDataFrame(rows).toDF("doc_id", "text")
  }

  test("lshJaccard = exact ngramJaccard restricted to LSH candidates (precision 1)") {
    val thr = 0.3
    val exact = Dedup.ngramJaccard(docs, "doc_id", "text", shingleN = 3, threshold = thr)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val lsh = Dedup.lshJaccard(docs, "doc_id", "text",
      shingleN = 3, numHashes = 16, bands = 4, threshold = thr)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(lsh.nonEmpty, "no LSH candidate pairs — test vacuous")
    // precision 1: every verified pair exists in the exact result with the
    // identical jaccard value
    lsh.foreach { case (pair, j) =>
      assert(exact.contains(pair), s"pair $pair not in exact result")
      assert(exact(pair) == j, s"pair $pair jaccard $j != exact ${exact(pair)}")
    }
    // recall sanity: the banded signatures catch most same-family pairs
    assert(lsh.size * 2 >= exact.size,
      s"recall too low: lsh=${lsh.size} exact=${exact.size}")
  }

  test("lshJaccard at threshold 0 admits only pairs that share a shingle") {
    // a candidate pair always shares the shingle whose minhash matched —
    // unless one id labels two texts: id 100 below is both a copy of doc 0
    // and an unrelated text, so the pair (0, 100) also meets that second
    // text, with which it shares nothing (jaccard 0)
    val extra = spark.createDataFrame(Seq(
      (100L, docs.filter(col("doc_id") === 0).head().getString(1)),
      (100L, (0 until 12).map(w => s"unrelated$w other$w").mkString(" "))
    )).toDF("doc_id", "text")
    val rows = Dedup.lshJaccard(docs.union(extra), "doc_id", "text",
      shingleN = 3, numHashes = 16, bands = 4, threshold = 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(rows.exists(_._1 == ((0L, 100L))), "the copy of doc 0 must pair with it")
    assert(rows.forall(_._2 > 0.0),
      s"zero-overlap pairs admitted: ${rows.filter(_._2 <= 0.0).mkString(", ")}")
  }

  test("embeddingNearDup LSH default is a subset of the exact pairs, same cosines") {
    val rnd = new scala.util.Random(5)
    val base = Array.fill(8)(Array.fill(64)(rnd.nextGaussian()))
    val rows = (0 until 40).map { i =>
      val b = base(i % 8)
      val v = b.map(x => (x + rnd.nextGaussian() * 0.05).toFloat)
      (i.toLong, v)
    }
    val emb = spark.createDataFrame(rows).toDF("vec_id", "embedding")
    val exact = Dedup.embeddingNearDup(emb, 0.8, exact = true)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val lsh = Dedup.embeddingNearDup(emb, 0.8) // default = LSH path
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(exact.nonEmpty && lsh.nonEmpty)
    lsh.foreach { case (pair, c) =>
      assert(exact.contains(pair) && exact(pair) == c, s"pair $pair")
    }
  }

  test("IVF with trained k-means centroids == local recomputation; high recall on clustered data") {
    import graft.operators.Similarity
    val rnd = new scala.util.Random(17)
    val dim = 64
    val centers = Array.fill(6)(Array.fill(dim)(rnd.nextGaussian()))
    val rows = (0 until 300).map { i =>
      val c = centers(i % 6)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.15).toFloat))
    }
    val emb = spark.createDataFrame(rows).toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(emb, k = 6, iters = 5, sampleN = 300)
    val queries = emb.filter(col("vec_id") < 4)
    val got = Similarity.ivfCosineTopK(emb, queries, 5, cents, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2)).toSeq

    // local recomputation of the exact same semantics
    val vecs = rows.map { case (id, v) => id -> v.map(_.toDouble) }.toMap
    def dist2Surrogate(v: Array[Double], c: Array[Double]): Double =
      c.map(x => x * x).sum - 2.0 * v.zip(c).map { case (a, b) => a * b }.sum
    def ranking(v: Array[Double]): Seq[Int] =
      cents.indices.map(j => (dist2Surrogate(v, cents(j)), j)).sorted.map(_._2)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val r = d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      math.rint(r * 100000) / 100000
    }
    val cellOf = vecs.map { case (id, v) => id -> ranking(v).head }
    val want = (0L until 4L).flatMap { qid =>
      val probes = ranking(vecs(qid)).take(2).toSet
      val cands = vecs.keys.filter(c => c != qid && probes(cellOf(c)))
        .map(c => (c, cos(vecs(qid), vecs(c)))).toSeq
        .sortBy { case (c, s) => (-s, c) }.take(5)
      cands.zipWithIndex.map { case ((c, s), r) => (qid, r + 1, c, s) }
    }
    assert(got == want)
    // recall vs brute force: clustered data keeps most true neighbors in
    // the probed cells
    val brute = Similarity.cosineTopK(emb, queries, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfSet = got.map(t => (t._1, t._3)).toSet
    val recall = ivfSet.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall=$recall")
  }

  test("cosineTopK excludeSelf=false keeps id-coincident pairs; graft_dot rejects ragged dims") {
    import graft.operators.Similarity
    val corpus = spark.createDataFrame(Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))).toDF("vec_id", "embedding")
    // a DISTINCT query table whose ids coincide with corpus ids: with
    // excludeSelf (the drawn-from-corpus default) cid==qid pairs vanish;
    // with excludeSelf=false the true nearest neighbour survives
    val queries = spark.createDataFrame(Seq(
      (0L, Array(0.0f, 1.0f)))).toDF("vec_id", "embedding") // nearest is cid 1... and cid 0 is orthogonal
    val kept = Similarity.cosineTopK(corpus, queries, 2, excludeSelf = false)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(kept == Seq((1L, 1.0), (0L, 0.0)))
    val excl = Similarity.cosineTopK(corpus, queries, 2)
      .collect().map(r => r.getLong(1)).toSeq
    assert(excl == Seq(1L)) // cid 0 dropped as "self" despite being a different vector
    // dimension mismatch is data corruption — surfaced, not truncated
    val ragged = spark.createDataFrame(Seq(
      (7L, Array(1.0f, 0.0f, 0.0f)))).toDF("vec_id", "embedding")
    val e = intercept[org.apache.spark.SparkException](
      Similarity.cosineTopK(corpus, ragged, 1, excludeSelf = false).collect())
    assert(e.getMessage.contains("dimension mismatch") ||
      Option(e.getCause).exists(_.getMessage.contains("dimension mismatch")))
  }

  test("languageId emits ('und', 0) for token-less docs — no dropped rows") {
    val rows = Seq(
      (1L, "the cat sat of it"), // en stopwords
      (2L, "!!! ???"), // punctuation-only: zero tokens
      (3L, ""), // empty text
      (4L, "zzz qqq")) // tokens but zero stopword evidence
    val df = spark.createDataFrame(rows).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.languageId(df)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(got == Seq((1L, "en", 3L), (2L, "und", 0L), (3L, "und", 0L), (4L, "und", 0L)))
  }

  test("sampleFrames samples the partial tail frame (ceil division)") {
    import graft.operators.Multimodal
    // 511 bytes = frame 0 (256 B, sampled) + frame 1 (255 B, not a
    // multiple of everyK) ; 1100 bytes = 5 frames, samples 0 and 4 where
    // frame 4 is the 76-byte tail
    val meta = Multimodal.MediaMeta("video", 0, 0, 0, 0L)
    val media = Seq(
      Multimodal.MediaRow(1L, new Array[Byte](511), meta),
      Multimodal.MediaRow(2L, new Array[Byte](1100), meta))
    val ds = spark.createDataset(media)(org.apache.spark.sql.Encoders.product[Multimodal.MediaRow])
    val got = Multimodal.sampleFrames(ds)
      .groupBy("id")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum("frame_bytes").as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(got == Seq((1L, 1L, 256L), (2L, 2L, 332L)))
  }

  test("newestVersion keeps exactly one latest row per key") {
    val rows = Seq(
      (1L, 100L, 10L), (1L, 200L, 11L), (1L, 200L, 12L), // tie on ts -> max tie col
      (2L, 50L, 20L))
    val df = spark.createDataFrame(rows).toDF("k", "ts", "id")
    val got = Dedup.newestVersion(df, "k", "ts", "id")
      .select("k", "ts", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(got == Seq((1L, 200L, 12L), (2L, 50L, 20L)))
  }
}

/** Query-language parser unit coverage (F3/F4 + r02 negated filters). */
class QueryParserSpec extends AnyFunSuite {
  import graft.queries.QueryParser

  test("bare terms are AND terms; OR flips mode") {
    val p = QueryParser.parse("data Table join")
    assert(p.andTerms == Seq("data", "table", "join") && p.orTerms.isEmpty)
    val q = QueryParser.parse("dup OR vector")
    assert(q.andTerms.isEmpty && q.orTerms == Seq("dup", "vector"))
  }

  test("phrases, negation, metadata filters") {
    val p = QueryParser.parse("\"data processing\" fast -slow lang:de site:host1.example")
    assert(p.phrases == Seq(Seq("data", "processing")))
    assert(p.andTerms == Seq("fast"))
    assert(p.negTerms == Seq("slow"))
    assert(p.lang.contains("de") && p.site.contains("host1.example"))
  }

  test("negated metadata filters are filters, not term negation") {
    val p = QueryParser.parse("dup -lang:de -site:host2.example -noise")
    assert(p.negLang.contains("de"))
    assert(p.negSite.contains("host2.example"))
    assert(p.negTerms == Seq("noise"))
    assert(p.andTerms == Seq("dup"))
  }

  test("case-insensitive filter prefixes, tokenized terms") {
    val p = QueryParser.parse("LANG:DE Data-Table")
    assert(p.lang.contains("de"))
    assert(p.andTerms == Seq("data", "table"))
  }

  test("nested boolean grammar: parens + mixed AND/OR (dcs alternation)") {
    import graft.queries.BoolQuery._
    val p = QueryParser.parse("(data table) OR (dup vector)")
    assert(p.bool.contains(Or(Seq(And(Seq(Term("data"), Term("table"))),
      And(Seq(Term("dup"), Term("vector")))))))
    assert(p.andTerms.isEmpty && p.orTerms.isEmpty)
    assert(p.scoringTerms == Seq("data", "dup", "table", "vector"))
    // unparenthesized mixed query: adjacency binds tighter than OR
    val q = QueryParser.parse("aa bb OR cc dd")
    assert(q.bool.contains(Or(Seq(And(Seq(Term("aa"), Term("bb"))),
      And(Seq(Term("cc"), Term("dd")))))))
    // deeper nesting
    val d = QueryParser.parse("((aa bb) OR cc) dd")
    assert(d.bool.contains(And(Seq(
      Or(Seq(And(Seq(Term("aa"), Term("bb"))), Term("cc"))), Term("dd")))))
    // flat queries keep the legacy fast-path fields
    val flat = QueryParser.parse("data table")
    assert(flat.bool.isEmpty && flat.andTerms == Seq("data", "table"))
    val flatOr = QueryParser.parse("dup OR vector")
    assert(flatOr.bool.isEmpty && flatOr.orTerms == Seq("dup", "vector"))
    // redundant parens around a flat group still classify as flat
    val fp = QueryParser.parse("(data table)")
    assert(fp.bool.isEmpty && fp.andTerms == Seq("data", "table"))
  }

  test("NEAR/k proximity atoms lift out of the token stream") {
    val p = QueryParser.parse("data NEAR/3 table")
    assert(p.nears == Seq(("data", "table", 3)))
    assert(p.andTerms.isEmpty && p.bool.isEmpty)
    assert(p.scoringTerms == Seq("data", "table"))
    // NEAR combines with plain terms; both restrict, all score
    val q = QueryParser.parse("fast data NEAR/2 table")
    assert(q.nears == Seq(("data", "table", 2)))
    assert(q.andTerms == Seq("fast"))
    assert(q.scoringTerms == Seq("data", "fast", "table"))
    // malformed (dangling) NEAR stays plain tokens ('near', '3')
    val m = QueryParser.parse("NEAR/3 table")
    assert(m.nears.isEmpty && m.scoringTerms == Seq("3", "near", "table"))
  }

  test("trailing-star wildcards become prefix atoms") {
    val p = QueryParser.parse("s* dup")
    assert(p.prefixes == Seq("s"))
    assert(p.andTerms == Seq("dup"))
    // scoringTerms excludes the unexpanded prefix (runner expands it)
    assert(p.scoringTerms == Seq("dup"))
    val only = QueryParser.parse("qmark*")
    assert(only.prefixes == Seq("qmark") && only.andTerms.isEmpty)
  }

  test("leading-star and trailing-tilde become suffix/fuzzy atoms") {
    val p = QueryParser.parse("*ow dup")
    assert(p.suffixes == Seq("ow") && p.andTerms == Seq("dup"))
    assert(p.scoringTerms == Seq("dup")) // runner expands the wildcard
    val f = QueryParser.parse("sow~ fast")
    assert(f.fuzzies == Seq("sow") && f.andTerms == Seq("fast"))
    assert(f.scoringTerms == Seq("fast"))
    // all three wildcard kinds coexist; bare `*` / `~` stay inert
    val m = QueryParser.parse("pre* *fix typo~ plain")
    assert(m.prefixes == Seq("pre") && m.suffixes == Seq("fix") &&
      m.fuzzies == Seq("typo") && m.andTerms == Seq("plain"))
    val inert = QueryParser.parse("* ~ plain")
    assert(inert.prefixes.isEmpty && inert.suffixes.isEmpty && inert.fuzzies.isEmpty)
  }

  test("path:/-path: are regexp filters over the url; filters mix with parens") {
    val p = QueryParser.parse("(aa bb) OR cc lang:de path:docs/.* -path:tmp/")
    assert(p.lang.contains("de"))
    assert(p.path.contains("docs/.*"))
    assert(p.negPath.contains("tmp/"))
    assert(p.bool.nonEmpty)
  }

  test("site:/path: regexp values keep parens intact (ADVICE r03)") {
    val p = QueryParser.parse("dup path:(foo|bar)/x site:host(1|2)\\.example")
    assert(p.path.contains("(foo|bar)/x"))
    assert(p.site.contains("host(1|2)\\.example"))
    assert(p.andTerms == Seq("dup"))
  }

  test("negation and filters inside paren groups classify by their core (r04)") {
    // `(-foo` must NOT enter the boolean grammar (Text.tokenize would
    // flip -foo into a POSITIVE term); the paren stays structural
    val p = QueryParser.parse("(-foo bar) OR baz")
    assert(p.negTerms == Seq("foo"))
    assert(p.scoringTerms == Seq("bar", "baz"))
    // `(lang:de` classifies as a lang filter, not a term
    val q = QueryParser.parse("(lang:de foo) bar")
    assert(q.lang.contains("de"))
    assert(q.scoringTerms == Seq("bar", "foo"))
    // trailing ')' peels off plain-term filter values back into the
    // structural stream instead of polluting the value
    val r = QueryParser.parse("xx (aa -lang:de) bb")
    assert(r.negLang.contains("de"))
    assert(r.scoringTerms == Seq("aa", "bb", "xx"))
  }

  test("(site:x) peels only the UNBALANCED close paren off regexp values (r04)") {
    // `(site:x)`: the ')' is the structural group close, not regexp syntax
    val p = QueryParser.parse("(site:example\\.com foo) bar")
    assert(p.site.contains("example\\.com"))
    assert(p.scoringTerms == Seq("bar", "foo"))
    val q = QueryParser.parse("(path:(a|b) xx) foo")
    assert(q.path.contains("(a|b)")) // balanced parens stay in the value
    assert(q.scoringTerms == Seq("foo", "xx"))
    // an ESCAPED trailing \) is regexp syntax and stays
    val r = QueryParser.parse("dup -path:tmp\\)")
    assert(r.negPath.contains("tmp\\)"))
    assert(r.andTerms == Seq("dup"))
  }

  test("paren edges: lang:(de), -(term), escaped runs, orphan ')' (r04 2nd pass)") {
    // a parenthesized PLAIN filter value peels both sides structurally
    val p = QueryParser.parse("lang:(de) foo")
    assert(p.lang.contains("de"))
    assert(p.andTerms == Seq("foo"))
    // a parenthesized negation must not leak a stray structural ')'
    // that swallows the rest of the query
    val n = QueryParser.parse("a -(xyz) d")
    assert(n.negTerms == Seq("xyz"))
    assert(n.scoringTerms == Seq("a", "d"))
    // escapedness is backslash-RUN parity: 'a\\' ends in an escaped
    // backslash, so the final ')' IS structural
    val e = QueryParser.parse("(site:a\\\\) b")
    assert(e.site.contains("a\\\\"))
    assert(e.scoringTerms == Seq("b"))
    // a bare orphan ')' is skipped, not a query truncation
    val o = QueryParser.parse("aa ) dd")
    assert(o.scoringTerms == Seq("aa", "dd"))
  }

  test("regexp filter values: class parens, never-empty peel (r04 3rd pass)") {
    // parens inside a character class are class members, not structure:
    // the balance scan must not count them
    val c1 = QueryParser.parse("xx path:(a[)]) yy")
    assert(c1.path.contains("(a[)])"))
    assert(c1.scoringTerms == Seq("xx", "yy"))
    val c2 = QueryParser.parse("(path:[(]x) yy")
    assert(c2.path.contains("[(]x"))
    assert(c2.scoringTerms == Seq("yy"))
    // a value is never peeled to EMPTY: `(site:)` keeps its ')' and
    // fails visibly at regexp compile instead of matching everything
    val c3 = QueryParser.parse("(site:) yy")
    assert(c3.site.contains(")"))
    // an orphan ')' must not demote a top-level wildcard atom to a plain
    // term (4th pass: depth<0 used to skip both the lift and the reject)
    val c4 = QueryParser.parse("aa ) sort*")
    assert(c4.prefixes == Seq("sort"))
    assert(c4.scoringTerms == Seq("aa"))
  }

  test("depth clamps at zero on orphan ')' (ADVICE r04)") {
    // without the clamp, `a) (sort* b)` counts the later real '(' back to
    // depth 0 and the atom inside a GENUINE group is silently lifted to a
    // whole-query restriction instead of rejected by the in-group guard
    val e1 = intercept[IllegalArgumentException](QueryParser.parse("a) (sort* b)"))
    assert(e1.getMessage.contains("not supported inside"))
    // same clamp in depthAt for NEAR atoms
    val e2 = intercept[IllegalArgumentException](QueryParser.parse("x) (a NEAR/3 b)"))
    assert(e2.getMessage.contains("not supported inside"))
  }

  test("malformed atoms are rejected, never silently demoted (r05)") {
    // NEAR distance beyond Int range: a require, not NumberFormatException
    val e1 = intercept[IllegalArgumentException](
      QueryParser.parse("a NEAR/99999999999 b"))
    assert(e1.getMessage.contains("out of range"))
    // a wildcard NEAR operand would tokenize to its exact stem and
    // silently drop the star — reject instead
    val e2 = intercept[IllegalArgumentException](
      QueryParser.parse("spark* NEAR/3 scala"))
    assert(e2.getMessage.contains("NEAR operand"))
    val e3 = intercept[IllegalArgumentException](
      QueryParser.parse("a NEAR/2 b~"))
    assert(e3.getMessage.contains("NEAR operand"))
    // infix wildcard would classify as the PREFIX query (endsWith tested
    // first) and silently miss contains matches
    val e4 = intercept[IllegalArgumentException](QueryParser.parse("*ipsum*"))
    assert(e4.getMessage.contains("infix wildcard"))
  }
}
