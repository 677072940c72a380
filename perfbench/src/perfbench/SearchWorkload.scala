package perfbench

import org.apache.spark.sql.functions._

import graft.corpus.PageGen
import graft.index.{BuiltIndex, IndexBuilder, Search}
import graft.queries.{ParsedQuery, QueryParser, QueryRunner}

/** `search`: interactive ranked queries. A closed-loop client sends
  * `QueryRunner.run(k = 10)` requests to a warm, cached, token-only
  * in-memory index. No trigram, verification, merge or disk work. */
object SearchWorkload {
  val Docs = 5000L
  val K = 10
  val PerClass = 4

  /** A query and, where one exists, the closed form of the rows it must
    * return (planted markers); `None` queries are checked against the
    * brute-force scorer on a sample. */
  final case class Query(cls: String, text: String, pred: Option[Long => Boolean])

  /** The query classes of the reference query set. Vocabulary terms are
    * drawn Zipf-popular from `PageGen.vocab`; markers are the planted
    * `qmarkerK` terms. */
  val Classes: IndexedSeq[String] = IndexedSeq("rare_term", "and", "common_rare", "top_heavy",
    "phrase", "or", "no_hit", "identifier", "lang", "site")

  def query(cls: String, r: Rng): Query = {
    val v = PageGen.vocab
    def rare(): String = v(r.zipf(1000, v.length))
    def mid(): String = v(r.zipf(10, 3000))
    val k = r.nextInt(10)
    def isMarker(i: Long) = Corpus.isMarker(i, k)
    cls match {
      case "rare_term" => Query(cls, rare(), None)
      case "and" => Query(cls, Seq.fill(2 + r.nextInt(2))(mid()).distinct.mkString(" "), None)
      case "common_rare" => Query(cls, v(r.nextInt(3)) + " " + rare(), None)
      case "top_heavy" => Query(cls, Seq.fill(2 + r.nextInt(2))(v(r.nextInt(20))).distinct.mkString(" "), None)
      case "phrase" =>
        if (r.nextInt(2) == 0) Query(cls, "\"data processing\"", Some(Corpus.isDataProcessing))
        else Query(cls, s""""qmarker$k section"""", Some(isMarker))
      case "or" =>
        val b = (k + 1 + r.nextInt(9)) % 10
        Query(cls, s"qmarker$k OR qmarker$b", Some(i => isMarker(i) || Corpus.isMarker(i, b)))
      case "no_hit" =>
        Query(cls, "zzqnohit" + Seq.fill(4)(('a' + r.nextInt(26)).toChar).mkString, Some(_ => false))
      case "identifier" => Query(cls, s"qmarker$k", Some(isMarker))
      case "lang" =>
        val lang = if (r.nextInt(2) == 0) "de" else "fr"
        Query(cls, s"qmarker$k lang:$lang", Some(i => isMarker(i) && PageGen.lang(i) == lang))
      case "site" =>
        val h = r.nextInt(97)
        val site = java.util.regex.Pattern.compile(s"host$h.example")
        Query(cls, s"qmarker$k site:host$h.example",
          Some(i => isMarker(i) && site.matcher(s"host${i % 97}.example").find()))
    }
  }

  /** The seed's query pool: `PerClass` queries of every class. The
    * identifier class's least popular entry is `needlealpha`, the
    * identifier planted in one doc; it is the same slot in every seed, as
    * a query for a term the index lacks costs a tenth of one it holds. */
  def pool(seed: Long): IndexedSeq[IndexedSeq[Query]] =
    Classes.indices.map(c => (0 until PerClass).map { j =>
      if (Classes(c) == "identifier" && j == PerClass - 1) Query(Classes(c), "needlealpha", Some(_ == 137L))
      else query(Classes(c), Rng(seed, 2, c * 1000L + j))
    })

  /** Request i's query: its class from the `Mix` cycle, or with
    * `uniform` the classes in turn; within a class, Zipf-popular over
    * the pool, so queries repeat. */
  def queryOf(pool: IndexedSeq[IndexedSeq[Query]], mix: IndexedSeq[Int], seed: Long,
      uniform: Boolean)(i: Long): Query = {
    val c = pool(if (uniform) (i % pool.size).toInt else mix((i % mix.size).toInt))
    c(Rng(seed, 3, i).zipf(0, c.size))
  }

  /** Whether `QueryRunner.run` takes its pure-AND fast path
    * (`Search.topKAnd`), which never computes the candidate set. */
  def fastPath(p: ParsedQuery): Boolean =
    p.andTerms.nonEmpty && p.phrases.isEmpty && p.negTerms.isEmpty && p.lang.isEmpty &&
      p.site.isEmpty && p.negLang.isEmpty && p.negSite.isEmpty && p.path.isEmpty &&
      p.negPath.isEmpty && p.orTerms.isEmpty && p.bool.isEmpty && p.nears.isEmpty &&
      p.prefixes.isEmpty && p.suffixes.isEmpty && p.fuzzies.isEmpty

  type Rows = Seq[(Long, String, Double)]

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val first = Corpus.first(ctx.seed, 2)
    val corpus = ctx.dir("corpus")
    val cfg = ctx.indexConfig(Docs, trigrams = false)
    var idx: BuiltIndex = null
    Corpus.write(spark, first, Docs, corpus, ctx.cores)
    val setup = Harness.setup(ctx) { _ =>
      spark.catalog.clearCache()
      idx = ctx.trace.span("IndexBuilder.build") { _ =>
        val built = IndexBuilder.build(spark, Corpus.docs(spark, corpus), cfg).cache()
        built.postings.count(); built.docmap.count(); built.docnorms.count(); built.termstats.count()
        built
      }
    }(IndexContent.of(idx))
    val textBytes = Corpus.textBytes(spark, corpus)
    val indexBytes = IndexContent.bytes(setup.content)

    val qs = pool(ctx.seed)
    val mix = Mix.cycle(ctx.seed, 6, Classes)
    val cands = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val fast = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    def exec(id: Long, q: Query, sid: Long): Rows =
      ctx.trace.span("QueryRunner.run", sid, id)(_ =>
        QueryRunner.run(spark, idx, q.text, K).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq)
    // the layer probes of a probed window: the parse and the candidate
    // set `QueryRunner.run` computes (or, on its fast path, skips)
    def probe(id: Long, q: Query): Unit = {
      val p = ctx.trace.span("QueryParser.parse", 0L, id)(_ => QueryParser.parse(q.text))
      if (fastPath(p)) fast.add(id)
      cands.put(id, ctx.trace.span("QueryRunner.candidates", 0L, id)(_ =>
        QueryRunner.candidates(spark, idx, q.text).count()))
    }
    ctx.log("warm-up")
    Warmup.each(ctx, qs.flatten)(exec)
    val w = Harness.windows(ctx)((secs, probing) =>
      ClosedLoop.run(ctx, secs, queryOf(qs, mix, ctx.seed, uniform = probing),
        if (probing) Some(probe _) else None)(exec))
    val all = w.untraced.samples ++ w.traced.toSeq.flatMap(t => t.measured.samples ++ t.probed.samples)
    ctx.log("checks")
    val failed = check(ctx, idx, corpus, first, all) + (if (setup.sameContent) 0 else 1)

    val metrics = w.traced match {
      case None =>
        val lat = w.untraced.latMs
        Seq(
          Metric("setup_s", Stats.median(setup.seconds), "s"),
          Metric("request_p50_ms", Stats.median(lat), "ms"),
          Metric("request_p95_ms", Stats.pct(lat, 95), "ms"),
          Metric("requests_per_s", w.untraced.perSecond, "1/s"),
          Metric("index_bytes_per_text_byte", indexBytes.toDouble / textBytes, "ratio"))
      case Some(t) =>
        val tr = ctx.trace
        val probed = t.probed.samples.map(_.req).toSet
        def ms(name: String) = tr.named(name).filter(s => probed(s.req)).map(s => s.req -> s.durNs / 1e6).toMap
        val runMs = ms("QueryRunner.run")
        // candidates_ms and score_ms (= run − candidates) describe only
        // queries off the fast path: on it there is no candidate step
        val candMs = ms("QueryRunner.candidates").filter(x => !fast.contains(x._1))
        import scala.jdk.CollectionConverters._
        Seq(
          Metric("IndexBuilder.build_s", Stats.median(tr.named("IndexBuilder.build").map(_.durNs / 1e9)), "s"),
          Metric("QueryParser.parse_ms", Stats.median(ms("QueryParser.parse").values.toSeq), "ms"),
          Metric("QueryRunner.candidates_ms", Stats.medianOrZero(candMs.values.toSeq), "ms"),
          Metric("QueryRunner.score_ms", Stats.medianOrZero(candMs.toSeq.flatMap { case (req, c) => runMs.get(req).map(_ - c) }), "ms"),
          Metric("QueryRunner.candidates", Stats.mean(cands.values.asScala.map(_.toDouble).toSeq), "count"),
          Metric("QueryRunner.rows", Stats.mean(t.probed.samples.flatMap(_.out.toOption).map(_.size.toDouble)), "count"),
          Harness.overhead(Stats.median(w.untraced.latMs), Stats.median(t.measured.latMs))) ++
          Harness.sparkMetrics(ctx, t.spark, t.measured.samples.size, t.measured.wallS)
    }
    val byClass = all.groupBy(_.q.cls).toSeq.sortBy(_._1).map { case (c, ss) =>
      f"$c:${ss.size}:${Stats.median(ss.map(_.ms))}%.1fms" }
    Result(all.size + 1L, failed, metrics, Seq(
      s"index = $Docs docs, $indexBytes encoded bytes; ${w.untraced.samples.size} measured queries",
      "per class (count:p50) " + byClass.mkString(" ")))
  }

  /** Count failed requests: exceptions, closed-form mismatches, results
    * that differ between repeats of one query, and sampled rank identity
    * against `Search.bruteForceTopK` under the conjunctive semantics of
    * `QueryRunner.run`. */
  private def check(ctx: Ctx, idx: BuiltIndex, corpus: String, first: Long,
      all: Seq[Sample[Query, Rows]]): Long = {
    val spark = ctx.spark
    val rows = first until first + Docs
    val closed = scala.collection.mutable.Map.empty[String, Long]
    def closedOk(q: Query, got: Rows): Boolean = {
      val p = q.pred.get
      val n = closed.getOrElseUpdate(q.text, rows.count(i => p(i)).toLong)
      got.size == math.min(K, n) && got.forall(r => p(Corpus.rowOf(r._2)))
    }
    val ok = all.filter(_.out.isRight)
    val firstOf = ok.groupBy(_.q.text).map { case (t, ss) => t -> ss.head.out.toOption.get }
    val sampled = firstOf.keys.filter(t => ok.exists(s => s.q.text == t && s.q.pred.isEmpty))
      .toSeq.sortBy(t => Rng.mix64(t.hashCode ^ ctx.seed)).take(1)
    val docs = spark.read.parquet(corpus).join(idx.docmap.toDF().select("docId", "url"), "url")
      .select("docId", "text").cache()
    val bruteBad = sampled.filterNot { t =>
      val ok = sameRanking(firstOf(t), bruteConjunctive(ctx, docs, t))
      ctx.log(s"brute-force check of '$t': $ok")
      ok
    }.toSet
    docs.unpersist()
    bruteBad.foreach(t => System.err.println(s"perfbench: rank mismatch for query '$t'"))
    all.count { s =>
      s.out match {
        case Left(e) => e.printStackTrace(); true
        case Right(got) =>
          val bad = (s.q.pred.isDefined && !closedOk(s.q, got)) || bruteBad(s.q.text) ||
            !sameRanking(got, firstOf(s.q.text).map(r => (r._1, r._3)))
          if (bad) System.err.println(s"perfbench: wrong result for '${s.q.text}': $got")
          bad
      }
    }.toLong
  }

  /** Brute-force top-k over docs holding every query term, ranked by
    * `Search.bruteForceTopK`'s scores over the whole corpus. */
  private def bruteConjunctive(ctx: Ctx, docs: org.apache.spark.sql.DataFrame,
      q: String): Seq[(Long, Double)] = {
    val terms = QueryParser.parse(q).andTerms
    val toks = split(lower(col("text")), "[^a-z0-9]+")
    val holdsAll = docs.filter(terms.map(t => array_contains(toks, t)).reduce(_ && _))
      .select("docId").collect().map(_.getLong(0)).toSet
    Search.bruteForceTopK(ctx.spark, docs, terms, Docs.toInt).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).filter(x => holdsAll(x._1)).take(K + 1).toSeq
  }

  /** Same docs in the same order with the same scores (1e-9), where docs
    * with equal scores may come in either order. */
  def sameRanking(got: Rows, want: Seq[(Long, Double)]): Boolean = {
    def tied(i: Int, j: Int) = j >= 0 && j < want.size && math.abs(want(i)._2 - want(j)._2) < 1e-9
    got.size == math.min(K, want.size) && got.indices.forall { i =>
      math.abs(got(i)._3 - want(i)._2) < 1e-9 &&
        (got(i)._1 == want(i)._1 || tied(i, i - 1) || tied(i, i + 1))
    }
  }
}
