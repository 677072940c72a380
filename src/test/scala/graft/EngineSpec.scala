package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lower}
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.PageGen
import graft.functions.Text
import graft.index.{IndexBuilder, IndexMerger, Search}

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

class EngineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val N = 600L
  lazy val pages = PageGen.pages(spark, N, parallelism = 4).cache()
  lazy val docs = pages.toDF()
  lazy val idx = IndexBuilder.build(spark, docs,
    IndexBuilder.Config(docsPerShard = 128, blockSize = 16, partitions = 4)).cache()
  lazy val urlToDocId: Map[String, Long] =
    idx.docmap.collect().map(d => d.url -> d.docId).toMap

  // ---- brute-force side of the seeded operator sweeps ------------------
  /** (docId, text) of every fixture doc. */
  lazy val fixtureText: Seq[(Long, String)] =
    pages.collect().map(p => urlToDocId(p.url) -> p.text).toSeq
  /** Brute-force tokenizer: lowercase, then runs of [a-z0-9]. */
  private def bruteTokens(text: String): Array[String] =
    text.toLowerCase(java.util.Locale.ROOT).split("[^a-z0-9]+").filter(_.nonEmpty)
  lazy val fixtureTokens: Seq[(Long, Array[String])] =
    fixtureText.map { case (d, t) => d -> bruteTokens(t) }
  /** A seeded term pool spanning list lengths: terms of 1-3 docs (absent
    * from most of the 5 shards), mid-frequency and common terms, and a
    * term absent from the index. */
  private def termPool(rnd: scala.util.Random): IndexedSeq[String] = {
    val df = fixtureTokens.flatMap(_._2.distinct).groupBy(identity)
      .map { case (t, xs) => t -> xs.size }.toSeq.sortBy(_.swap)
    def pick(lo: Int, hi: Int, n: Int): Seq[String] =
      rnd.shuffle(df.collect { case (t, c) if c >= lo && c <= hi => t }).take(n)
    (pick(1, 3, 3) ++ pick(10, 100, 3) ++ pick(300, Int.MaxValue, 2) :+ "zzqnohit").toIndexedSeq
  }
  /** A seeded ASCII substring (3-12 chars) of a random doc of `texts`. */
  private def sampleLiteral(rnd: scala.util.Random,
      texts: Seq[(Long, String)] = fixtureText): String = {
    var lit = ""
    while (lit.length < 3 || !Text.isAscii(lit)) {
      val t = texts(rnd.nextInt(texts.length))._2
      val n = 3 + rnd.nextInt(10)
      if (t.length > n) { val i = rnd.nextInt(t.length - n); lit = t.substring(i, i + n) }
    }
    lit
  }

  test("per-row invariant: text == extractText(html), byte-identical") {
    val bad = pages.filter(p => p.text != Text.extractText(p.html)).count()
    assert(bad == 0)
  }

  test("corpus is deterministic across parallelism levels") {
    val p1 = PageGen.pages(spark, 100, parallelism = 1).collect().sortBy(_.url)
    val p7 = PageGen.pages(spark, 100, parallelism = 7).collect().sortBy(_.url)
    assert(p1.length == p7.length)
    p1.zip(p7).foreach { case (a, b) =>
      assert(a.url == b.url && a.text == b.text && a.lang == b.lang
        && a.warc_ts == b.warc_ts && java.util.Arrays.equals(a.html, b.html))
    }
  }

  test("docIds are dense and follow url sort order") {
    val entries = idx.docmap.collect().sortBy(_.docId)
    assert(entries.length == N)
    assert(entries.map(_.docId).toSeq == (0L until N).toSeq)
    assert(entries.map(_.url).toSeq == entries.map(_.url).sorted.toSeq)
    assert(entries.forall(d => d.shard == (d.docId / 128).toInt))
  }

  test("planted marker posting list is exact (qmarker3)") {
    val expected = (0L until N).filter(_ % 1009 == 3)
      .map(i => urlToDocId(PageGen.url(i))).sorted
    val got = Search.searchAnd(spark, idx, Seq("qmarker3"))
      .as[Long].collect().sorted.toSeq
    assert(got == expected)
  }

  test("AND intersects, OR unions (qmarker markers)") {
    val d3 = (0L until N).filter(_ % 1009 == 3).map(i => urlToDocId(PageGen.url(i))).toSet
    val d7 = (0L until N).filter(_ % 1009 == 7).map(i => urlToDocId(PageGen.url(i))).toSet
    val and = Search.searchAnd(spark, idx, Seq("qmarker3", "qmarker7")).as[Long].collect().toSet
    assert(and == (d3 intersect d7))
    val or = Search.searchOr(spark, idx, Seq("qmarker3", "qmarker7")).as[Long].collect().toSet
    assert(or == (d3 union d7))
    // AND with a term with no postings at all -> empty
    assert(Search.searchAnd(spark, idx, Seq("qmarker3", "zzqnohit")).count() == 0)

    // seeded sweep: term pairs and triples vs the brute-force tokenizer
    import graft.queries.BoolQuery.{And, Or, Term}
    val rnd = new scala.util.Random(20261017L)
    val pool = termPool(rnd)
    val sets = fixtureTokens.map { case (d, ts) => d -> ts.toSet }
    def holding(t: String): Set[Long] = sets.collect { case (d, ts) if ts(t) => d }.toSet
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] = df.as[Long].collect().sorted.toSeq
    for (_ <- 0 until 6) {
      val q = rnd.shuffle(pool).take(2 + rnd.nextInt(2))
      val each = q.map(holding)
      assert(ids(Search.searchAnd(spark, idx, q)) == each.reduce(_ intersect _).toSeq.sorted,
        s"AND $q")
      assert(ids(Search.searchOr(spark, idx, q)) == each.reduce(_ union _).toSeq.sorted,
        s"OR $q")
      // (q0 AND q1) OR qLast, and (q0 OR qLast) AND q1
      val t1 = Or(Seq(And(Seq(Term(q(0)), Term(q(1)))), Term(q.last)))
      assert(ids(Search.boolSearch(spark, idx, t1)) ==
        ((each(0) intersect each(1)) union each.last).toSeq.sorted, s"bool $t1")
      val t2 = And(Seq(Or(Seq(Term(q(0)), Term(q.last))), Term(q(1))))
      assert(ids(Search.boolSearch(spark, idx, t2)) ==
        ((each(0) union each.last) intersect each(1)).toSeq.sorted, s"bool $t2")
    }
  }

  test("AND with common term restricts correctly (the + qmarker5)") {
    val got = Search.searchAnd(spark, idx, Seq("the", "qmarker5")).as[Long].collect().toSet
    val marker = (0L until N).filter(_ % 1009 == 5).map(i => urlToDocId(PageGen.url(i))).toSet
    val withThe = Search.searchAnd(spark, idx, Seq("the")).as[Long].collect().toSet
    assert(got == (marker intersect withThe))
  }

  test("WAND top-k is rank-identical to the brute-force oracle") {
    val queries = Seq(
      Seq("qmarker3"), Seq("qmarker3", "qmarker7"), Seq("the", "qmarker5"),
      Seq("the", "of", "and"), Seq("needlealpha"), Seq("qmarker1", "qmarker2"))
    for (q <- queries) {
      val wand = Search.topK(spark, idx, q, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      val brute = Search.bruteForceTopK(spark, docs
        .join(idx.docmap.select("docId", "url"), "url")
        .select("docId", "text"), q, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(wand.map(_._1).toSeq == brute.map(_._1).toSeq,
        s"docId order mismatch for query $q:\nwand=${wand.toSeq}\nbrute=${brute.toSeq}")
      wand.zip(brute).foreach { case ((_, s1), (_, s2)) =>
        assert(math.abs(s1 - s2) < 1e-9, s"score mismatch for $q: $s1 vs $s2")
      }
    }
  }

  test("BMW pruning stays exact across k values (block-boundary stress)") {
    for (k <- Seq(1, 5, 37); q <- Seq(Seq("the", "of", "and"), Seq("the", "qmarker5"))) {
      val wand = Search.topK(spark, idx, q, k).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      val brute = Search.bruteForceTopK(spark, docs
        .join(idx.docmap.select("docId", "url"), "url")
        .select("docId", "text"), q, k).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(wand.map(_._1).toSeq == brute.map(_._1).toSeq, s"k=$k q=$q")
      wand.zip(brute).foreach { case ((_, s1), (_, s2)) => assert(math.abs(s1 - s2) < 1e-9) }
    }
  }

  test("no-hit query returns empty") {
    assert(Search.topK(spark, idx, Seq("zzqnohit"), 10).count() == 0)
  }

  /** Pure-Scala BM25 scorer (shares nothing with the index path). Sums
    * contributions in lexicographic term order like the engine. */
  private def localTopK(rows: Seq[(Long, String)], terms: Seq[String], k: Int,
      requireAll: Boolean = false): Seq[(Long, Double)] = {
    import graft.functions.BM25
    val toks = rows.map { case (id, t) => id -> Text.tokenize(t) }
    val n = rows.length.toLong
    val avgdl = toks.map(_._2.length.toLong).sum.toDouble / n
    val sorted = terms.distinct.sorted
    val dfm = sorted.map(t => t -> toks.count(_._2.contains(t)).toLong).toMap
    toks.flatMap { case (id, tk) =>
      val dl = tk.length
      var s = 0.0
      var hit = 0
      sorted.foreach { t =>
        val tf = tk.count(_ == t)
        if (tf > 0) { hit += 1; s += BM25.score(tf, dfm(t), dl, n, avgdl) }
      }
      if (hit > 0 && (!requireAll || hit == sorted.length)) Some((id, s)) else None
    }.sortBy { case (id, s) => (-s, id) }.take(k)
  }

  private def assertSameRanking(got: Seq[(Long, Double)], want: Seq[(Long, Double)],
      label: String): Unit = {
    assert(got.map(_._1) == want.map(_._1), s"$label docIds:\ngot= $got\nwant=$want")
    got.zip(want).foreach { case ((_, a), (_, b)) =>
      assert(math.abs(a - b) < 1e-9, s"$label score: $a vs $b")
    }
  }

  test("randomized WAND rank identity (BMW partial-score regression)") {
    // tiny blocks + skewed random corpora maximize the odds of a shallow
    // seek landing one cursor on the pivot while another block-spanning
    // cursor still sits below it — the r01 partial-score/duplicate bug
    val rnd = new scala.util.Random(20260816L)
    val vocab = Array("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    for (trial <- 0 until 3) {
      val nDocs = 150 + trial * 70
      val rows = (0L until nDocs.toLong).map { i =>
        val len = 1 + rnd.nextInt(30)
        // zipf-ish skew towards the head of the vocab
        val words = Array.fill(len)(vocab(math.min(
          rnd.nextInt(vocab.length), rnd.nextInt(vocab.length))))
        (f"u$i%06d", words.mkString(" "), "en")
      }
      val df = spark.createDataFrame(rows).toDF("url", "text", "lang")
      val tIdx = IndexBuilder.build(spark, df,
        IndexBuilder.Config(docsPerShard = 32, blockSize = 4,
          partitions = 4, buildTrigrams = false))
      val local = rows.zipWithIndex.map { case ((_, t, _), i) => (i.toLong, t) }
      for (qn <- 0 until 4) {
        val q = rnd.shuffle(vocab.toSeq).take(2 + rnd.nextInt(3))
        for (k <- Seq(3, 10)) {
          val got = Search.topK(spark, tIdx, q, k).collect()
            .map(r => (r.getLong(0), r.getDouble(1))).toSeq
          assertSameRanking(got, localTopK(local, q, k), s"trial=$trial q=$q k=$k")
          assert(got.map(_._1).distinct.length == got.length,
            s"duplicate docIds in top-k: $got")
          val gotAnd = Search.topKAnd(spark, tIdx, q, k).collect()
            .map(r => (r.getLong(0), r.getDouble(1))).toSeq
          assertSameRanking(gotAnd, localTopK(local, q, k, requireAll = true),
            s"AND trial=$trial q=$q k=$k")
        }
      }
    }
  }

  test("topKBatch is identical to per-query WAND topK for every query in the batch") {
    val batch = Seq(
      (0L, Seq("the", "qmarker5")),
      (1L, Seq("qmarker3", "qmarker7")),
      (2L, Seq("the", "of", "and")),
      (3L, Seq("zzqnohit")))
    val qdf = spark.createDataFrame(batch).toDF("qid", "terms")
    val got = Search.topKBatch(spark, idx, qdf, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(t => (t._2, t._3)).toSeq).toMap
    for ((qid, terms) <- batch) {
      val want = Search.topK(spark, idx, terms, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val g = got.getOrElse(qid, Seq.empty)
      assert(g.map(_._1) == want.map(_._1), s"qid=$qid docIds: $g vs $want")
      g.zip(want).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-9) }
    }
  }

  test("degenerate configs stay exact: 1-doc shards and 1-doc blocks") {
    // every doc its own shard / its own block: maximal boundary stress
    // for shallowSeek/seek/pivot logic and the merge paths
    val rows = (0L until 60L).map { i =>
      (f"u$i%04d", Seq.fill(3 + (i % 7).toInt)(Seq("aa", "bb", "cc")((i % 3).toInt)).mkString(" ") +
        (if (i % 5 == 0) " dd" else ""), "en")
    }
    val df = spark.createDataFrame(rows).toDF("url", "text", "lang")
    val local = rows.zipWithIndex.map { case ((_, t, _), i) => (i.toLong, t) }
    for (cfg <- Seq(
      IndexBuilder.Config(docsPerShard = 1, blockSize = 4, partitions = 3, buildTrigrams = false),
      IndexBuilder.Config(docsPerShard = 16, blockSize = 1, partitions = 3, buildTrigrams = false))) {
      val tIdx = IndexBuilder.build(spark, df, cfg)
      for (q <- Seq(Seq("aa", "dd"), Seq("aa", "bb", "cc"), Seq("dd"))) {
        val got = Search.topK(spark, tIdx, q, 7).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assertSameRanking(got, localTopK(local, q, 7), s"cfg=$cfg q=$q")
        val gotAnd = Search.topKAnd(spark, tIdx, q, 7).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assertSameRanking(gotAnd, localTopK(local, q, 7, requireAll = true),
          s"AND cfg=$cfg q=$q")
      }
    }
  }

  test("empty and degenerate queries are handled gracefully") {
    import graft.queries.QueryRunner
    assert(QueryRunner.run(spark, idx, "", 10).count() == 0)
    assert(QueryRunner.run(spark, idx, "lang:de", 10).count() == 0) // no terms
    assert(QueryRunner.run(spark, idx, "the the the", 10).count() > 0) // dup terms
    assert(Search.topK(spark, idx, Seq("the", "the"), 5).count() == 5)
    // k far larger than matches
    val big = Search.topKAnd(spark, idx, Seq("needlealpha"), 10000).count()
    assert(big == 1)
  }

  test("3-part shard-aligned concat merge is byte-identical") {
    val all = docs.orderBy("url").collect()
    val cfg = IndexBuilder.Config(docsPerShard = 64, blockSize = 16,
      partitions = 4, buildTrigrams = false)
    // 128 + 256 + rest: every prefix sum is a multiple of 64
    val ranges = Seq(all.slice(0, 128), all.slice(128, 384), all.slice(384, all.length))
    val parts = ranges.map { rows =>
      IndexBuilder.build(spark, spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq, 2), docs.schema), cfg)
    }
    assert(IndexMerger.canConcat(parts, cfg))
    val merged = IndexMerger.merge(spark, parts, cfg)
    val direct = IndexBuilder.build(spark, docs, cfg)
    def key(b: graft.index.PostingBlock) = (b.term, b.shard, b.blockId)
    def repr(b: graft.index.PostingBlock) =
      (b.term, b.shard, b.blockId, b.df, b.cf, b.maxTf, b.firstDoc, b.lastDoc,
        b.docs.toSeq, b.tfs.toSeq, b.nPos, b.pos.toSeq, b.posrel.toSeq)
    assert(merged.postings.collect().sortBy(key).map(repr).toSeq ==
      direct.postings.collect().sortBy(key).map(repr).toSeq)
  }

  test("topKAnd is conjunctive and matches brute-force restricted scoring") {
    val q = Seq("the", "qmarker5")
    val got = Search.topKAnd(spark, idx, q, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val local = docs.join(idx.docmap.select("docId", "url"), "url")
      .select("docId", "text").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assertSameRanking(got, localTopK(local, q, 10, requireAll = true), s"q=$q")
    // a doc missing any term must not appear
    val andSet = Search.searchAnd(spark, idx, q).as[Long].collect().toSet
    assert(got.forall(r => andSet(r._1)))
    // absent term -> empty
    assert(Search.topKAnd(spark, idx, Seq("the", "zzqnohit"), 10).count() == 0)
  }

  test("phrase query finds planted bigram exactly") {
    val expected = (0L until N).filter(_ % 211 == 5)
      .map(i => urlToDocId(PageGen.url(i))).toSet
    val got = Search.phrase(spark, idx, Seq("data", "processing")).as[Long].collect().toSet
    assert(got == expected)
    // scrambled order must not match
    val none = Search.phrase(spark, idx, Seq("processing", "data")).as[Long].collect().toSet
    assert((none intersect expected).isEmpty || none != expected)

    // seeded sweep: 2-3 token windows of random fixture docs plus random
    // pool pairs, vs a brute-force consecutive-token scan
    val rnd = new scala.util.Random(20261018L)
    val pool = termPool(rnd)
    val long = fixtureTokens.filter(_._2.length >= 3)
    def brute(p: Seq[String]): Seq[Long] = fixtureTokens.collect {
      case (d, ts) if ts.sliding(p.length).exists(_.sameElements(p)) => d
    }.sorted
    val phrases = Seq.fill(5) {
      val ts = long(rnd.nextInt(long.length))._2
      val n = 2 + rnd.nextInt(2)
      val i = rnd.nextInt(ts.length - n + 1)
      ts.slice(i, i + n).toSeq
    } ++ Seq.fill(2)(rnd.shuffle(pool).take(2))
    for (p <- phrases) {
      val got = Search.phrase(spark, idx, p).as[Long].collect().sorted.toSeq
      assert(got == brute(p), s"phrase $p")
    }
  }

  test("trigram substring search finds needleAlpha in doc 137 (case-exact)") {
    val docsWithIds = docs.join(idx.docmap.select("docId", "url"), "url")
      .select("docId", "text")
    val got = Search.substring(spark, idx, docsWithIds, "needleAlpha")
      .as[Long].collect().toSeq
    assert(got == Seq(urlToDocId(PageGen.url(137))))
    // lowercase variant is a different byte string -> no match
    assert(Search.substring(spark, idx, docsWithIds, "nEEdleAlpha").count() == 0)

    // seeded sweep: random fixture substrings vs String.contains
    val rnd = new scala.util.Random(20261019L)
    for (lit <- Seq.fill(6)(sampleLiteral(rnd)) :+ "zqzqzq") {
      val got = Search.substring(spark, idx, docsWithIds, lit).as[Long].collect().sorted.toSeq
      val want = fixtureText.collect { case (d, t) if t.contains(lit) => d }.sorted
      assert(got == want, s"substring '$lit'")
    }
  }

  test("case-insensitive substring search folds trigram variants (nocase path)") {
    val docsWithIds = docs.join(idx.docmap.select("docId", "url"), "url")
      .select("docId", "text")
    // mixed-case query literal finds the camelCase needle
    val got = Search.substringNoCase(spark, idx, docsWithIds, "NEEDLEalpha")
      .as[Long].collect().toSeq
    assert(got == Seq(urlToDocId(PageGen.url(137))))
    // and the case-exact path still misses it (pinned limitation)
    assert(Search.substring(spark, idx, docsWithIds, "NEEDLEalpha").count() == 0)
    // sanity: same results as exact search for an all-lowercase literal
    val a = Search.substringNoCase(spark, idx, docsWithIds, "data processing")
      .as[Long].collect().sorted.toSeq
    val b = docsWithIds.filter(lower(col("text")).contains("data processing"))
      .select("docId").as[Long].collect().sorted.toSeq
    assert(a == b && a.nonEmpty)

    // seeded sweep on a mixed-case copy of 200 fixture docs (the generated
    // text is lowercase, so only here do a trigram's case variants share a
    // shard with overlapping blocks): random substrings with random case
    // flips vs a lowercased String.contains
    val rnd = new scala.util.Random(20261020L)
    val mixedText = fixtureText.take(200).map { case (d, t) =>
      d -> t.split(" ", -1).map { w =>
        rnd.nextInt(4) match { case 0 => w.capitalize; case 1 => w.toUpperCase; case _ => w }
      }.mkString(" ")
    }
    val mixedDocs = spark.createDataFrame(mixedText.map { case (d, t) => (f"u$d%06d", t, "en") })
      .toDF("url", "text", "lang")
    val mIdx = IndexBuilder.build(spark, mixedDocs,
      IndexBuilder.Config(docsPerShard = 32, blockSize = 4, partitions = 4))
    val mWithIds = mixedDocs.join(mIdx.docmap.select("docId", "url"), "url")
      .select("docId", "text")
    val mById = mWithIds.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    for (lit0 <- Seq.fill(6)(sampleLiteral(rnd, mById))) {
      val lit = lit0.map(c => if (rnd.nextBoolean()) c.toUpper else c.toLower)
      val got = Search.substringNoCase(spark, mIdx, mWithIds, lit)
        .as[Long].collect().sorted.toSeq
      val folded = lit.toLowerCase(java.util.Locale.ROOT)
      val want = mById.collect {
        case (d, t) if t.toLowerCase(java.util.Locale.ROOT).contains(folded) => d
      }.sorted
      assert(got == want && want.nonEmpty, s"substringNoCase '$lit'")
    }
  }

  test("recall hole closed: gate-failing docs still reachable by substring/regexp") {
    // one doc with a >2000-byte single line fails the trigram ingest gate
    // but must still be found via the non-indexable verification union
    val longLine = ("filler " * 400) + "needleomega" + (" filler" * 10)
    assert(longLine.length > 2000)
    val special = Seq(("https://host0.example/zzlong", longLine, "en"))
    val df = docs.select("url", "text", "lang")
      .union(spark.createDataFrame(special).toDF("url", "text", "lang"))
    val idx2 = IndexBuilder.build(spark, df,
      IndexBuilder.Config(docsPerShard = 128, blockSize = 16, partitions = 4))
    val dm = idx2.docmap.collect()
    val longId = dm.find(_.url.endsWith("zzlong")).get
    assert(!longId.indexable, "gate should reject the long-line doc")
    // PageGen itself produces a few >2000-byte single-paragraph lines, so
    // the corpus has other legitimately gate-failing docs too
    assert(dm.count(!_.indexable) >= 1)
    val docsWithIds2 = df.join(idx2.docmap.select("docId", "url"), "url")
      .select("docId", "text")
    assert(Search.substring(spark, idx2, docsWithIds2, "needleomega")
      .as[Long].collect().toSeq == Seq(longId.docId))
    assert(Search.substringNoCase(spark, idx2, docsWithIds2, "NeedleOmega")
      .as[Long].collect().toSeq == Seq(longId.docId))
    assert(Search.regexpSearch(spark, idx2, docsWithIds2, "needle(omega|zeta)")
      .as[Long].collect().toSeq == Seq(longId.docId))
  }

  test("byte-trigram search handles multibyte UTF-8 text (webtext realism)") {
    val special = Seq(
      ("https://host0.example/zmb1", "der schöne Straßenkehrer kehrt die straße täglich", "de"),
      ("https://host0.example/zmb2", "la qualité des données est très importante", "fr"),
      ("https://host0.example/zmb3", "plain ascii filler document here", "en"))
    val df = docs.select("url", "text", "lang").limit(50)
      .union(spark.createDataFrame(special).toDF("url", "text", "lang"))
    val idx2 = IndexBuilder.build(spark, df,
      IndexBuilder.Config(docsPerShard = 32, blockSize = 8, partitions = 2))
    val withIds = df.join(idx2.docmap.select("docId", "url"), "url").select("docId", "text")
    def urlOf(d: Long) = idx2.docmap.filter(_.docId == d).head().url
    // multibyte literal via the byte-trigram index (UTF-8 bytes roll fine)
    val hits = Search.substring(spark, idx2, withIds, "Straßenkehrer")
      .as[Long].collect().toSeq
    assert(hits.map(urlOf) == Seq("https://host0.example/zmb1"))
    // case-folded path falls back to a verified scan for non-ASCII folds
    val nc = Search.substringNoCase(spark, idx2, withIds, "QUALITÉ des")
      .as[Long].collect().toSeq
    assert(nc.map(urlOf) == Seq("https://host0.example/zmb2"))
    // regexp with multibyte chars (trigram keys skip multibyte grams ->
    // guarded fallback path) still verifies correctly
    val re = Search.regexpSearch(spark, idx2, withIds, "stra(ß|ss)e")
      .as[Long].collect().toSeq
    assert(re.map(urlOf) == Seq("https://host0.example/zmb1"))
  }

  test("metadata filters run on the bounded regex engine (r04)") {
    import graft.queries.QueryRunner
    // dcs compiles site:/path: filters with RE2; ours evaluate through
    // RegexVerifier (linear NFA, step-bounded fallback) instead of
    // Catalyst rlike, so a hostile user-supplied filter cannot
    // backtrack-DoS the executors
    val viaNfa = QueryRunner
      .run(spark, idx, "qmarker3 site:host[0-9]+\\.example", 50).count()
    assert(viaNfa > 0)
    // out-of-subset syntax still serves through the bounded fallback
    val viaFallback = QueryRunner
      .run(spark, idx, "qmarker3 site:host\\p{Digit}+\\.example", 50).count()
    assert(viaFallback == viaNfa)
  }

  test("grepContext on a CRLF corpus: '$' matches before the \\r (r04)") {
    // grepContext splits on \n, so CRLF documents leave a trailing \r on
    // every line — the default-mode '$' must still anchor there, exactly
    // as java.util.regex does (the pre-r04 \n-only check missed it)
    val df = spark.createDataFrame(Seq(
      (1L, "alpha\r\nbravo\r\ncharlie\r\n"))).toDF("docId", "text")
    val r = Search.grepContext(spark, df, "bravo$")
      .collect().map(x => (x.getInt(1), x.getString(2))).toSeq
    assert(r == Seq((2, "bravo\r")))
    // per-line semantics: the line IS "bravo\r", so an explicit \r$
    // matches it too (java.util.regex agrees on the line string)
    assert(Search.grepContext(spark, df, "bravo\\r$").count() == 1)
    // anchored patterns must not be lost to the whole-document
    // pre-filter: 'bravo$'/'^bravo' fail a whole-text find on a doc
    // where the needle sits on an INTERIOR line, but grep over lines
    // must still return line 2 (code-review r04)
    val lf = spark.createDataFrame(Seq(
      (1L, "alpha\nbravo\nx"))).toDF("docId", "text")
    assert(Search.grepContext(spark, lf, "bravo$")
      .collect().map(_.getInt(1)).toSeq == Seq(2))
    assert(Search.grepContext(spark, lf, "^bravo")
      .collect().map(_.getInt(1)).toSeq == Seq(2))
  }

  test("out-of-subset regexp syntax falls back to the guarded scan (r04)") {
    val docsWithIds = docs.join(idx.docmap.select("docId", "url"), "url")
      .select("docId", "text")
    // \p{Lower} is outside the trigram compiler's parser subset: there is
    // NO conservative candidate query (literalizing '\p' would build a
    // non-conservative one) — candidates must decline…
    assert(Search.regexpCandidates(spark, idx, "needle\\p{Upper}lpha").isEmpty)
    // …and the full search still answers through the guarded scan, where
    // the step-bounded java.util.regex fallback handles the syntax
    assert(Search.regexpSearch(spark, idx, docsWithIds, "needle\\p{Upper}lpha")
      .count() == 1)
  }

  test("regexp full-scan fallback is guarded above maxScanDocs (dcs reject)") {
    val docsWithIds = docs.join(idx.docmap.select("docId", "url"), "url")
      .select("docId", "text")
    // '.' compiles to QAll — allowed on a small corpus, rejected above cap
    assert(Search.regexpSearch(spark, idx, docsWithIds, "needle.lpha").count() == 1)
    val e = intercept[IllegalArgumentException] {
      Search.regexpSearch(spark, idx, docsWithIds, "a.c.e", maxScanDocs = 10)
    }
    assert(e.getMessage.contains("rejected"))
  }

  test("fiveLines returns the 5-line window around the first match") {
    val text = (1 to 9).map(i => s"line$i content").mkString("\n")
    val cases = Seq(
      ("line5", 5, (3 to 7)), // interior: 2 lines either side
      ("line1", 1, (1 to 3)), // clamped at the top
      ("line9", 9, (7 to 9)), // clamped at the bottom
      ("line2", 2, (1 to 4)))
    val df = spark.createDataFrame(Seq((1L, text))).toDF("docId", "text")
    for ((lit, wantLine, range) <- cases) {
      val r = Search.fiveLines(df, lit).collect()
      assert(r.length == 1)
      assert(r.head.getInt(1) == wantLine, s"lit=$lit")
      val want = range.map(i => s"line$i content").mkString("\n")
      assert(r.head.getString(2) == want, s"lit=$lit")
    }
    // first match wins when several lines match
    val r = Search.fiveLines(df, "content").collect()
    assert(r.head.getInt(1) == 1 && r.head.getString(2) ==
      (1 to 3).map(i => s"line$i content").mkString("\n"))
  }

  test("in-decode restrict skips blocks outside the restrict ranges") {
    import org.apache.spark.sql.functions.typedLit
    val restrictIds = Seq(3L, 5L, 130L) // two shards of the 600-doc corpus
    val restrict = spark.createDataFrame(restrictIds.map(Tuple1(_))).toDF("docId")
    val decoded = spark.sparkContext.longAccumulator("decoded")
    val skipped = spark.sparkContext.longAccumulator("skipped")
    val terms = Seq("the", "of")
    val rows = Search.restrictedTfRows(spark, idx, terms, restrict,
      Some((decoded, skipped))).collect()
    // correctness: identical to decode-everything + filter
    val dps = idx.meta.docsPerShard
    val want = idx.postings.filter(col("term").isin(terms: _*)).collect()
      .flatMap { b =>
        val (ds, tfs) = graft.index.Postings.decodeDocsTfs(b, dps)
        ds.zip(tfs).collect { case (d, tf) if restrictIds.contains(d) => (b.term, d, tf) }
      }.sortBy(r => (r._1, r._2)).toSeq
    val got = rows.map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
      .sortBy(r => (r._1, r._2)).toSeq
    assert(got == want && got.nonEmpty)
    // the pruning must actually prune: restrict lives in 2 of 5 shards,
    // so most blocks of hot terms never decode
    val totalBlocks = idx.postings.filter(col("term").isin(terms: _*)).count()
    assert(decoded.value < totalBlocks,
      s"decoded=${decoded.value} of $totalBlocks blocks")
    assert(decoded.value + skipped.value < totalBlocks) // shard-level skip too
  }

  test("positional decode skips blocks outside the candidate ranges") {
    // rare AND common: qmarker3 lives in ONE doc, "the" in most docs —
    // with the in-decode positional restrict (VERDICT r03 #2) the common
    // term's position lists decode only for blocks whose [firstDoc,
    // lastDoc] can hold that one candidate, O(matching blocks) not O(df)
    val dec = spark.sparkContext.longAccumulator("posDecoded")
    val skip = spark.sparkContext.longAccumulator("posSkipped")
    val got = Search.near(spark, idx, "qmarker3", "the", 1000, Some((dec, skip)))
      .as[Long].collect().toSet
    val want = Search.near(spark, idx, "qmarker3", "the", 1000)
      .as[Long].collect().toSet
    assert(got == want && got.nonEmpty)
    assert(skip.value > 0, s"no positional blocks skipped (skip=${skip.value})")
    // one candidate doc → at most one matching block per term
    assert(dec.value <= 2, s"decoded ${dec.value} positional blocks for 1 candidate")

    // rare+common phrase: candidates = {1 doc}, so the common term's ~8
    // positional blocks in that shard must skip down to 1 (the phrase
    // itself may be empty — the pruning happens during verification)
    val decP = spark.sparkContext.longAccumulator("posDecodedP")
    val skipP = spark.sparkContext.longAccumulator("posSkippedP")
    val gotP = Search.phrase(spark, idx, Seq("qmarker3", "the"), Some((decP, skipP)))
      .as[Long].collect().toSet
    val wantP = Search.phrase(spark, idx, Seq("qmarker3", "the"))
      .as[Long].collect().toSet
    assert(gotP == wantP)
    assert(skipP.value > 0, "phrase decoded every positional block")
    assert(decP.value <= 2, s"decoded ${decP.value} positional blocks for 1 candidate")
    // and a planted MATCHING phrase stays correct under the same gate
    val gotD = Search.phrase(spark, idx, Seq("data", "processing"),
      Some((spark.sparkContext.longAccumulator, spark.sparkContext.longAccumulator)))
      .as[Long].collect().toSet
    val wantD = Search.phrase(spark, idx, Seq("data", "processing")).as[Long].collect().toSet
    assert(gotD == wantD && gotD.nonEmpty)

    // substring first/last-trigram refinement gets the same block gate:
    // "ta processing" (inside the planted "data processing", 3 docs) has
    // a COMMON first trigram — "ta " ends every vocab word built on the
    // "ta" syllable — so most of that trigram's blocks cannot contain a
    // candidate and must skip
    val decS = spark.sparkContext.longAccumulator("posDecodedS")
    val skipS = spark.sparkContext.longAccumulator("posSkippedS")
    val cand = Search.substringCandidates(spark, idx, "ta processing",
      posAudit = Some((decS, skipS))).count()
    assert(cand >= 3)
    assert(skipS.value > 0, "substring refinement decoded every tri block")
  }

  test("regexp search via trigram index matches java.util.regex ground truth") {
    val docsWithIds = docs.join(idx.docmap.select("docId", "url"), "url")
      .select("docId", "text")
    for (pattern <- Seq("needle[A-Z]lpha", "qmarker[12] section", "data process(ing|or)")) {
      val got = Search.regexpSearch(spark, idx, docsWithIds, pattern)
        .as[Long].collect().sorted.toSeq
      val p = java.util.regex.Pattern.compile(pattern)
      val expected = docsWithIds.collect()
        .filter(r => p.matcher(r.getString(1)).find())
        .map(_.getLong(0)).sorted.toSeq
      assert(got == expected, s"pattern $pattern")
      assert(expected.nonEmpty, s"vacuous pattern $pattern")
    }

    // seeded sweep: patterns built from random fixture words (an
    // alternation, a trailing class, a wildcard) vs a java.util.regex scan
    val rnd = new scala.util.Random(20261021L)
    val words = fixtureText.flatMap { case (_, t) => "[A-Za-z0-9]{5,}".r.findAllIn(t) }
      .distinct.sorted
    def word(): String = words(rnd.nextInt(words.length))
    val patterns = Seq.fill(2) {
      val (w1, w2, w3) = (word(), word(), word())
      Seq(s"$w1|$w2", w1.init + "[a-z0-9]", w3.take(2) + "." + w3.drop(3))
    }.flatten
    for (pattern <- patterns) {
      val got = Search.regexpSearch(spark, idx, docsWithIds, pattern)
        .as[Long].collect().sorted.toSeq
      val p = java.util.regex.Pattern.compile(pattern)
      val want = fixtureText.collect { case (d, t) if p.matcher(t).find() => d }.sorted
      assert(got == want && want.nonEmpty, s"pattern $pattern")
    }
  }

  test("grep with context returns matching lines with line numbers and context") {
    val docsWithIds = docs.join(idx.docmap.select("docId", "url"), "url")
      .select("docId", "text")
    val rows = Search.grepContext(spark, docsWithIds, "needleAlpha", ctx = 2).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getLong(0) == urlToDocId(PageGen.url(137)))
    val text = pages.filter(_.url == PageGen.url(137)).head().text
    val lines = text.split("\n")
    val expectIdx = lines.indexWhere(_.contains("needleAlpha"))
    assert(r.getInt(1) == expectIdx + 1) // 1-based line number (pos+1 is int)
    assert(r.getString(2).contains("needleAlpha"))
    val before = r.getSeq[String](3)
    assert(before.toSeq == lines.slice(math.max(0, expectIdx - 2), expectIdx).toSeq)
    val after = r.getSeq[String](4)
    assert(after.toSeq == lines.slice(expectIdx + 1, expectIdx + 3).toSeq)
  }

  test("grepContext streams a 100k-line doc with no Generate lines-carry (r06)") {
    // VERDICT r05 #3: the posexplode shape carried the FULL lines array
    // per exploded row — O(L²) bytes for an L-line doc. The mapPartitions
    // form must (a) plan no Generate at all and (b) chew a 100k-line
    // candidate without materializing multi-GB rows.
    import spark.implicits._
    val lines = (1 to 100000).map(i =>
      if (i % 9999 == 0) s"needleomega match $i" else s"filler line $i")
    val df = Seq((1L, lines.mkString("\n"))).toDF("docId", "text")
    val res = Search.grepContext(spark, df, "needleomega", ctx = 2)
    assert(!res.queryExecution.executedPlan.toString.contains("Generate"))
    val rows = res.collect()
    assert(rows.length == 10) // multiples of 9999 up to 99990
    assert(rows.forall(r => r.getSeq[String](3).length == 2 &&
      r.getSeq[String](4).length == 2))
    assert(rows.map(_.getInt(1)).toSeq == (1 to 10).map(_ * 9999))
  }

  test("substringNoCase non-ASCII fallback is guarded above maxScanDocs (dcs reject)") {
    val docsWithIds = docs.join(idx.docmap.select("docId", "url"), "url")
      .select("docId", "text")
    // non-ASCII fold -> verified scan, allowed below the cap
    assert(Search.substringNoCase(spark, idx, docsWithIds, "täglich").count() == 0)
    val e = intercept[IllegalArgumentException] {
      Search.substringNoCase(spark, idx, docsWithIds, "täglich", maxScanDocs = 10)
    }
    assert(e.getMessage.contains("rejected"))
    // the ASCII fold path uses index candidates — unaffected by the cap
    assert(Search.substringNoCase(spark, idx, docsWithIds, "NEEDLEalpha",
      maxScanDocs = 10).count() == 1)
  }

  test("candidate-fed grep and snippet verify far fewer docs than the corpus") {
    val docsWithIds = docs.join(idx.docmap.select("docId", "url"), "url")
      .select("docId", "text")
    val audit = spark.sparkContext.longAccumulator("grepCand")
    val got = Search.grepContextIndexed(spark, idx, docsWithIds, "needleAlpha",
      ctx = 2, audit = Some(audit)).collect()
    val want = Search.grepContext(spark, docsWithIds, "needleAlpha", ctx = 2).collect()
    assert(got.map(_.toString).sorted.toSeq == want.map(_.toString).sorted.toSeq)
    assert(got.nonEmpty)
    assert(audit.value > 0 && audit.value < N,
      s"grep verified ${audit.value} of $N docs — candidates must prune")
    val audit2 = spark.sparkContext.longAccumulator("snipCand")
    val snips = Search.fiveLinesIndexed(spark, idx, docsWithIds, "needleAlpha",
      audit = Some(audit2)).collect()
    val wantSnips = Search.fiveLines(docsWithIds, "needleAlpha").collect()
    assert(snips.map(_.toString).sorted.toSeq == wantSnips.map(_.toString).sorted.toSeq)
    assert(snips.nonEmpty)
    assert(audit2.value > 0 && audit2.value < N)
  }

  test("boolSearch evaluates nested AND/OR trees (mixed query semantics)") {
    import graft.queries.BoolQuery._
    // (qmarker3 AND the) OR (qmarker7 AND of)
    val tree = Or(Seq(And(Seq(Term("qmarker3"), Term("the"))),
      And(Seq(Term("qmarker7"), Term("of")))))
    val got = Search.boolSearch(spark, idx, tree).as[Long].collect().sorted.toSeq
    val a = Search.searchAnd(spark, idx, Seq("qmarker3", "the")).as[Long].collect().toSet
    val b = Search.searchAnd(spark, idx, Seq("qmarker7", "of")).as[Long].collect().toSet
    assert(got == (a ++ b).toSeq.sorted && got.nonEmpty)
    // nesting the other way: (qmarker3 OR qmarker7) AND the
    val tree2 = And(Seq(Or(Seq(Term("qmarker3"), Term("qmarker7"))), Term("the")))
    val got2 = Search.boolSearch(spark, idx, tree2).as[Long].collect().sorted.toSeq
    val or37 = Search.searchOr(spark, idx, Seq("qmarker3", "qmarker7")).as[Long].collect().toSet
    val the = Search.searchOr(spark, idx, Seq("the")).as[Long].collect().toSet
    assert(got2 == (or37 & the).toSeq.sorted && got2.nonEmpty)
  }

  test("case-insensitive regexp end-to-end through the trigram index") {
    val docsWithIds = docs.join(idx.docmap.select("docId", "url"), "url")
      .select("docId", "text")
    for (pattern <- Seq("(?i)NEEDLE[A-Z]LPHA", "(?i)Data Process(ing|or)")) {
      val got = Search.regexpSearch(spark, idx, docsWithIds, pattern)
        .as[Long].collect().sorted.toSeq
      val p = java.util.regex.Pattern.compile(pattern)
      val expected = docsWithIds.collect()
        .filter(r => p.matcher(r.getString(1)).find())
        .map(_.getLong(0)).sorted.toSeq
      assert(got == expected, s"pattern $pattern")
      assert(expected.nonEmpty, s"vacuous pattern $pattern")
    }
  }

  test("batch maxscore pruning stays exact at small k (stopword tail)") {
    val batch = Seq(
      (0L, Seq("qmarker3", "the", "of", "and")),
      (1L, Seq("qmarker5", "the", "of")),
      (2L, Seq("the", "of", "and")))
    val qdf = spark.createDataFrame(batch).toDF("qid", "terms")
    for (k <- Seq(1, 2, 3)) {
      val got = Search.topKBatch(spark, idx, qdf, k).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(t => (t._2, t._3)).toSeq).toMap
      for ((qid, terms) <- batch) {
        val want = Search.topK(spark, idx, terms, k).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val g = got.getOrElse(qid, Seq.empty)
        assert(g.map(_._1) == want.map(_._1), s"k=$k qid=$qid: $g vs $want")
        g.zip(want).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-9) }
      }
    }
  }

  test("batch stopword tail leaves untouched blocks undecoded (lazy decode)") {
    // rare anchor + stopwords at k=1: each query freezes right after its
    // anchor, so the stopword terms are scored by per-candidate block
    // probes — blocks of "the"/"of"/"and" holding no candidate of ANY
    // query in the batch must never varint-decode (VERDICT r03 #7)
    val batch = Seq(
      (0L, Seq("qmarker3", "the", "of", "and")),
      (1L, Seq("qmarker5", "the", "of")))
    val qdf = spark.createDataFrame(batch).toDF("qid", "terms")
    val dec = spark.sparkContext.longAccumulator("batchDecoded")
    val skip = spark.sparkContext.longAccumulator("batchSkipped")
    val got = Search.topKBatch(spark, idx, qdf, 1, Some((dec, skip))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(t => (t._1, t._2)).toSeq
    val want = Search.topKBatch(spark, idx, qdf, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(t => (t._1, t._2)).toSeq
    assert(got == want && got.nonEmpty)
    assert(skip.value > 0, s"no blocks skipped (decoded=${dec.value})")
    // in the anchors' shards the stopwords decode O(candidate blocks);
    // unfrozen shards still decode fully, so just assert real pruning
    val totalBlocks = idx.postings
      .filter(col("term").isin("qmarker3", "qmarker5", "the", "of", "and")).count()
    assert(dec.value < totalBlocks,
      s"decoded=${dec.value} of $totalBlocks blocks — nothing pruned")
    assert(dec.value + skip.value == totalBlocks)
  }

  test("topKBatch empty-terms batch returns the full 4-column schema") {
    val qdf = spark.createDataFrame(Seq((0L, Seq.empty[String]))).toDF("qid", "terms")
    val r = Search.topKBatch(spark, idx, qdf, 5)
    assert(r.columns.toSeq == Seq("qid", "docId", "score", "rank"))
    assert(r.count() == 0)
  }

  test("merge(shards) is equivalent to build(union) — ConcatN property") {
    val all = docs.orderBy("url").collect()
    val third = all.length / 3
    val ranges = Seq(all.slice(0, third), all.slice(third, 2 * third),
      all.slice(2 * third, all.length))
    val cfg = IndexBuilder.Config(docsPerShard = 128, blockSize = 16,
      partitions = 4, buildTrigrams = false)
    val parts = ranges.map { rows =>
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq, 2), docs.schema)
      IndexBuilder.build(spark, df, cfg)
    }
    val merged = IndexMerger.merge(spark, parts, cfg)
    val direct = IndexBuilder.build(spark, docs, cfg)
    assert(merged.meta.nDocs == direct.meta.nDocs)
    assert(math.abs(merged.meta.avgdl - direct.meta.avgdl) < 1e-9)
    // docmaps identical
    val dm1 = merged.docmap.collect().sortBy(_.docId).map(d => (d.docId, d.url, d.shard, d.dl)).toSeq
    val dm2 = direct.docmap.collect().sortBy(_.docId).map(d => (d.docId, d.url, d.shard, d.dl)).toSeq
    assert(dm1 == dm2)
    // posting blocks byte-identical
    def key(b: graft.index.PostingBlock) = (b.term, b.shard, b.blockId)
    def repr(b: graft.index.PostingBlock) =
      (b.term, b.shard, b.blockId, b.df, b.cf, b.maxTf, b.firstDoc, b.lastDoc,
        b.docs.toSeq, b.tfs.toSeq, b.nPos, b.pos.toSeq, b.posrel.toSeq)
    val p1 = merged.postings.collect().sortBy(key).map(repr).toSeq
    val p2 = direct.postings.collect().sortBy(key).map(repr).toSeq
    assert(p1 == p2)
  }

  test("shard-aligned merge takes the block-level concat fast path, byte-identical") {
    val all = docs.orderBy("url").collect()
    // split at 256 = 2 whole shards of 128: fast path eligible
    val ranges = Seq(all.slice(0, 256), all.slice(256, all.length))
    val cfg = IndexBuilder.Config(docsPerShard = 128, blockSize = 16,
      partitions = 4, buildTrigrams = true)
    val parts = ranges.map { rows =>
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq, 2), docs.schema)
      IndexBuilder.build(spark, df, cfg)
    }
    assert(IndexMerger.canConcat(parts, cfg))
    // misaligned parts must decline the fast path
    assert(!IndexMerger.canConcat(
      Seq(parts.head.copy(meta = parts.head.meta.copy(nDocs = 200)), parts(1)), cfg))
    val merged = IndexMerger.merge(spark, parts, cfg)
    val direct = IndexBuilder.build(spark, docs, cfg)
    def key(b: graft.index.PostingBlock) = (b.term, b.shard, b.blockId)
    def repr(b: graft.index.PostingBlock) =
      (b.term, b.shard, b.blockId, b.df, b.cf, b.maxTf, b.firstDoc, b.lastDoc,
        b.docs.toSeq, b.tfs.toSeq, b.nPos, b.pos.toSeq, b.posrel.toSeq)
    assert(merged.postings.collect().sortBy(key).map(repr).toSeq ==
      direct.postings.collect().sortBy(key).map(repr).toSeq)
    // trigram sections concat identically
    def tkey(b: graft.index.TriBlock) = (b.tri, b.shard, b.blockId)
    def trepr(b: graft.index.TriBlock) =
      (b.tri, b.shard, b.blockId, b.df, b.firstDoc, b.lastDoc,
        b.docs.toSeq, b.nPos, b.pos.toSeq, b.posrel.toSeq)
    assert(merged.trigrams.get.collect().sortBy(tkey).map(trepr).toSeq ==
      direct.trigrams.get.collect().sortBy(tkey).map(trepr).toSeq)
    // termstats equal too (from block metadata alone)
    assert(merged.termstats.collect().sortBy(_.term).toSeq ==
      direct.termstats.collect().sortBy(_.term).toSeq)
    // docnorms cover the full doc range with the right bases
    val dn = merged.docnorms.collect().sortBy(_.shard)
    assert(dn.map(_.n).sum == all.length)
    dn.foreach(n => assert(n.base == n.shard.toLong * 128))
  }

  test("near finds bounded-gap pairs, matches tokenizer brute force") {
    val byDoc: Map[Long, Array[(String, Int)]] = pages.collect()
      .map(p => urlToDocId(p.url) -> Text.tokenizeWithPositions(p.text)).toMap
    def bruteNear(a: String, b: String, w: Int): Set[Long] =
      byDoc.collect { case (d, toks) =>
        val pa = toks.collect { case (t, p) if t == a => p }
        val pb = toks.collect { case (t, p) if t == b => p }
        if (pa.exists(x => pb.exists(y => math.abs(x - y) <= w))) Some(d) else None
      }.flatten.toSet
    for (w <- Seq(0, 1, 3, 8)) {
      val got = Search.near(spark, idx, "the", "of", w).as[Long].collect().toSet
      assert(got == bruteNear("the", "of", w), s"window=$w")
    }
    // adjacency (w=1) must admit at least every phrase hit "the of"/"of the"
    val phraseHits = Search.phrase(spark, idx, Seq("the", "of")).as[Long].collect().toSet
    assert(phraseHits.subsetOf(Search.near(spark, idx, "the", "of", 1).as[Long].collect().toSet))

    // seeded sweep: random pool pairs and windows
    val rnd = new scala.util.Random(20261022L)
    val pool = termPool(rnd)
    for (_ <- 0 until 6) {
      val Seq(a, b) = rnd.shuffle(pool).take(2)
      val w = Seq(0, 1, 2, 5, 20)(rnd.nextInt(5))
      val got = Search.near(spark, idx, a, b, w).as[Long].collect().toSet
      assert(got == bruteNear(a, b, w), s"near($a, $b, $w)")
    }
  }

  test("prefix search expands the dictionary and unions postings") {
    val byDoc: Map[Long, Set[String]] = pages.collect()
      .map(p => urlToDocId(p.url) -> Text.tokenize(p.text).toSet).toMap
    val brute = byDoc.collect { case (d, ts) if ts.exists(_.startsWith("qmarker")) => d }.toSet
    val got = Search.prefixSearch(spark, idx, "qmarker").as[Long].collect().toSet
    assert(got == brute)
    // no-hit prefix -> empty, NOT an error
    assert(Search.prefixSearch(spark, idx, "zzznohit").count() == 0)
    // expansion above the cap is rejected (qmarker0..9 = 10 terms > 3)
    val e = intercept[IllegalArgumentException] {
      Search.prefixSearch(spark, idx, "qmarker", maxExpand = 3)
    }
    assert(e.getMessage.contains("maxExpand"))
    // the same cap guards suffix and fuzzy expansion (a degenerate
    // one-letter suffix hits many syllable terms; one edit from
    // "qmarker0" reaches all ten markers)
    val es = intercept[IllegalArgumentException] {
      Search.suffixSearch(spark, idx, "a", maxExpand = 3)
    }
    assert(es.getMessage.contains("maxExpand"))
    val ef = intercept[IllegalArgumentException] {
      Search.fuzzySearch(spark, idx, "qmarker0", maxDist = 1, maxExpand = 3)
    }
    assert(ef.getMessage.contains("maxExpand"))
    // no-hit suffix/fuzzy -> empty, NOT an error
    assert(Search.suffixSearch(spark, idx, "zzznohit").count() == 0)
    assert(Search.fuzzySearch(spark, idx, "zzznohitzzz").count() == 0)
  }

  test("cooccurrence counts co-terms over the target's docs exactly") {
    val byDoc: Map[Long, Set[String]] = pages.collect()
      .map(p => urlToDocId(p.url) -> Text.tokenize(p.text).toSet).toMap
    val targetDocs = byDoc.collect { case (d, ts) if ts("qmarker3") => d }.toSet
    val brute = byDoc.view.filterKeys(targetDocs).values
      .flatMap(_ - "qmarker3")
      .groupBy(identity).map { case (t, xs) => (t, xs.size.toLong) }
    val expected = brute.toSeq.sortBy { case (t, n) => (-n, t) }.take(15)
    val got = Search.cooccurrence(spark, idx, "qmarker3", topN = 15)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == expected)
  }

  test("query language: NEAR/k and prefix wildcards run end-to-end") {
    import graft.queries.QueryRunner
    // NEAR restricts to the proximity candidates, scores both operands
    val nearDocs = Search.near(spark, idx, "the", "of", 2).as[Long].collect().toSet
    val ran = QueryRunner.run(spark, idx, "the NEAR/2 of", 1000)
      .select("docId").as[Long].collect().toSet
    assert(ran == nearDocs)
    // wildcard: candidates = union of the expansion's postings
    val expandDocs = Search.prefixSearch(spark, idx, "qmarker").as[Long].collect().toSet
    val ranP = QueryRunner.run(spark, idx, "qmarker*", 1000)
      .select("docId").as[Long].collect().toSet
    assert(ranP == expandDocs)
    // and the wildcard's scores equal disjunctive scoring over the expansion
    val terms = Search.expandPrefix(spark, idx, "qmarker")
    val viaOr = QueryRunner.scoreDocs(spark, idx, terms,
      Some(Search.prefixSearch(spark, idx, "qmarker")))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    QueryRunner.run(spark, idx, "qmarker*", 1000)
      .select("docId", "score").collect()
      .foreach(r => assert(math.abs(viaOr(r.getLong(0)) - r.getDouble(1)) < 1e-9))
  }

  test("query language: suffix and fuzzy wildcards run end-to-end") {
    import graft.queries.QueryRunner
    // dictionary expansions against the spec corpus: only the planted
    // markers contain digits, so both expansions are exactly known
    assert(Search.expandSuffix(spark, idx, "r0") == Seq("qmarker0"))
    assert(Search.expandFuzzy(spark, idx, "qmarker0") ==
      (0 to 9).map(k => s"qmarker$k"))
    // suffix: candidates = union of the expansion's postings
    val sufDocs = Search.suffixSearch(spark, idx, "r0").as[Long].collect().toSet
    assert(sufDocs ==
      Search.searchOr(spark, idx, Seq("qmarker0")).as[Long].collect().toSet)
    assert(sufDocs.nonEmpty)
    val ranS = QueryRunner.run(spark, idx, "*r0", 100000)
      .select("docId").as[Long].collect().toSet
    assert(ranS == sufDocs)
    // fuzzy: one edit reaches every marker digit
    val fuzDocs = Search.fuzzySearch(spark, idx, "qmarker0").as[Long].collect().toSet
    val orDocs = Search.searchOr(spark, idx, (0 to 9).map(k => s"qmarker$k"))
      .as[Long].collect().toSet
    assert(fuzDocs == orDocs && fuzDocs.nonEmpty)
    val ranF = QueryRunner.run(spark, idx, "qmarker0~", 100000)
      .select("docId").as[Long].collect().toSet
    assert(ranF == fuzDocs)
  }

  test("suggest ranks dictionary corrections by distance then df") {
    val got = Search.suggest(spark, idx, "qmarker0", maxDist = 1, k = 20)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    // the seed itself is the closest correction (dist 0), then the other
    // nine markers at dist 1
    assert(got.head._1 == "qmarker0" && got.head._2 == 0)
    assert(got.map(_._1).toSet == (0 to 9).map(i => s"qmarker$i").toSet)
    val dfs = idx.termstats.filter(col("term").startsWith("qmarker"))
      .collect().map(t => t.term -> t.df).toMap
    got.foreach { case (t, d, f) =>
      assert(f == dfs(t))
      assert(d == (if (t == "qmarker0") 0 else 1))
    }
    // full deterministic order: (dist ASC, df DESC, term ASC)
    assert(got.toSeq == got.sortBy { case (t, d, f) => (d, -f, t) }.toSeq)
  }

  test("moreLikeThis: seed vector from the index, integer rank, seed excluded") {
    val seed = 137L
    val text = pages.collect().find(p => urlToDocId(p.url) == seed).get.text
    val tfs = Text.tokenize(text).groupBy(identity).map { case (t, xs) => t -> xs.length }
    val dfs = idx.termstats.collect().map(t => t.term -> t.df).toMap
    val expectedVec = tfs.toSeq
      .sortBy { case (t, tf) => (-tf, dfs(t), t) }.take(3).map(_._1)
    val got = Search.moreLikeThis(spark, idx, seed, nTerms = 3, k = 15)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(!got.map(_._1).contains(seed))
    val expected = Search.topK(spark, idx, expectedVec, 16)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .filterNot(_._1 == seed).take(15)
    assert(got.toSeq == expected.toSeq)
  }

  test("groupedResultStats: per-group count + best hit under deterministic order") {
    import graft.queries.QueryRunner
    val groups = idx.docmap.select(col("docId"), col("lang").as("grp"))
    val got = QueryRunner.groupedResultStats(spark, idx, "qmarker3", groups)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // brute force: score via the independent scorer, group via docmap
    val scored = Search.bruteForceTopK(spark, docs
      .join(idx.docmap.select("docId", "url"), "url")
      .select("docId", "text"), Seq("qmarker3"), Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val langOf = idx.docmap.collect().map(d => d.docId -> d.lang).toMap
    val brute = scored.groupBy { case (d, _) => langOf(d) }.map { case (g, xs) =>
      val best = xs.minBy { case (d, s) => (-s, d) }
      (g, xs.length.toLong, best._1)
    }.toSeq.sortBy(_._1)
    assert(got.toSeq == brute)
  }

  test("groupedResultStats scores wildcard expansions like run() (r05)") {
    import graft.queries.QueryRunner
    val groups = idx.docmap.select(col("docId"), col("lang").as("grp"))
    // a pure-wildcard query has NO exact scoring terms — group stats must
    // score over the dictionary expansion (pre-r05: zero rows)
    val got = QueryRunner.groupedResultStats(spark, idx, "qmarker*", groups)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    // parity with run(): the same query's global best doc appears as the
    // best_docid of its own group, with the same score
    val top = QueryRunner.run(spark, idx, "qmarker*", 1)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).head
    val langOf = idx.docmap.collect().map(d => d.docId -> d.lang).toMap
    val row = got.find(_._1 == langOf(top._1)).get
    assert(row._3 == top._1 && row._4 == top._2)
  }

  test("raw term entry points case-fold like the index dictionary (r05)") {
    val a = Search.topK(spark, idx, Seq("QmArKeR3"), 10).collect().toSeq
    val b = Search.topK(spark, idx, Seq("qmarker3"), 10).collect().toSeq
    assert(a == b && a.nonEmpty)
    val c = Search.searchAnd(spark, idx, Seq("QMARKER3")).count()
    assert(c == Search.searchAnd(spark, idx, Seq("qmarker3")).count() && c > 0)
  }

  test("compression: encoded postings much smaller than raw 4-byte ids") {
    val (encoded, rawIds) = idx.postings.collect()
      .map(b => (b.docs.length.toLong + b.tfs.length, b.df * 8L))
      .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    assert(encoded < rawIds, s"encoded=$encoded raw=$rawIds")
  }
}
