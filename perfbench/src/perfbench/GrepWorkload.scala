package perfbench

import graft.corpus.PageGen
import graft.index.{BuiltIndex, IndexBuilder, IndexPublisher, Search}
import graft.queries.{TriQuery, TrigramCompiler}

/** `grep`: the dcs regexp → trigram → verify path. A closed-loop
  * client sends `Search.grepContextIndexed` requests to a
  * persisted index loaded WITHOUT `cache()`, so every request reads
  * trigram blocks and docs text from parquet. No BM25 scoring. */
object GrepWorkload {
  val Docs = 5000L
  val PerClass = 4

  /** The regexp classes of the grep workload. */
  val Classes: IndexedSeq[String] = IndexedSeq("identifier", "common_word", "alternation",
    "char_class", "case_fold", "multi_word")

  def pattern(cls: String, r: Rng): String = {
    val v = PageGen.vocab
    def word(lo: Int, hi: Int): String =
      Iterator.continually(v(r.zipf(lo, hi))).find(_.length >= 4).get
    val k = r.nextInt(10)
    cls match {
      case "identifier" => s"qmarker$k"
      case "common_word" => word(100, 3000)
      case "alternation" =>
        if (r.nextInt(2) == 0) s"qmarker$k|qmarker${(k + 1 + r.nextInt(9)) % 10}"
        else s"${word(300, 5000)}|${word(300, 5000)}"
      case "char_class" =>
        val lo = r.nextInt(5)
        s"qmarker[$lo-${lo + 1 + r.nextInt(4)}] section"
      case "case_fold" => if (r.nextInt(2) == 0) s"(?i)QMARKER$k SECTION" else "(?i)Data Processing"
      case "multi_word" => if (r.nextInt(2) == 0) "data\\s+processing" else s"qmarker$k\\s+section"
    }
  }

  /** The seed's pattern pool, `PerClass` per class, flattened class by
    * class; patterns whose trigram query is unrestricted (no indexable
    * trigrams) are left out. The identifier class's least popular entry
    * is `needleAlpha`, the identifier planted in one doc, in every seed. */
  def pool(seed: Long): IndexedSeq[(String, String)] = Classes.indices.flatMap { c =>
    val ps = Iterator.from(0).map(j => pattern(Classes(c), Rng(seed, 4, c * 1000L + j)))
      .filter(p => TrigramCompiler.compile(p).op != TriQuery.QAll)
      .take(PerClass).toSeq
    (if (Classes(c) == "identifier") ps.init :+ "needleAlpha" else ps).map(Classes(c) -> _)
  }

  /** Request i's pattern index: its class from the `Mix` cycle, or with
    * `uniform` the classes in turn; Zipf-popular within a class. */
  def patternOf(mix: IndexedSeq[Int], seed: Long, uniform: Boolean)(i: Long): Int = {
    val c = if (uniform) (i % Classes.size).toInt else mix((i % mix.size).toInt)
    c * PerClass + Rng(seed, 5, i).zipf(0, PerClass)
  }

  /** Matches as (docId, line_no, line hash), sorted. */
  type Lines = Seq[(Long, Int, Int)]

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val first = Corpus.first(ctx.seed, 3)
    val corpus = ctx.dir("corpus")
    val cfg = ctx.indexConfig(Docs, trigrams = true)
    var root = ""
    var idx: BuiltIndex = null
    Corpus.write(spark, first, Docs, corpus, ctx.cores)
    // the index is built as one IndexFeeder batch, as a micro-batch would be
    def batch = s"$root/batches/b0"
    val setup = Harness.setup(ctx) { rep =>
      if (root.nonEmpty) org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      root = ctx.dir(s"index-$rep")
      Builds.batch(ctx, Corpus.docs(spark, corpus), batch, cfg)
      idx = ctx.trace.span("IndexBuilder.load")(_ => IndexBuilder.load(spark, batch))
    }(IndexContent.of(idx))
    val textBytes = Corpus.textBytes(spark, corpus)
    val sections = IndexBytes.sections(batch)
    val docs = spark.read.parquet(s"$batch/docs").select("docId", "text")

    val pats = pool(ctx.seed)
    val mix = Mix.cycle(ctx.seed, 7, Classes)
    val audit = new java.util.concurrent.ConcurrentHashMap[Long, org.apache.spark.util.LongAccumulator]()
    val candDocs = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    def exec(id: Long, p: Int, sid: Long): Lines =
      ctx.trace.span("Search.grep", sid, id)(_ =>
        Search.grepContextIndexed(spark, idx, docs, pats(p)._2, audit = Option(audit.get(id)))
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2).hashCode)).toSeq.sorted)
    // the layer probes of a probed window: the trigram compile and the
    // candidate set `grepContextIndexed` computes (index-derived docs plus
    // the docs the index does not cover), then an `audit` accumulator,
    // which counts the index-derived ones, for the request itself
    def probe(id: Long, p: Int): Unit = {
      val pattern = pats(p)._2
      ctx.trace.span("TrigramCompiler.compile", 0L, id)(_ => TrigramCompiler.compile(pattern))
      candDocs.put(id, ctx.trace.span("Search.candidates", 0L, id)(_ =>
        Search.regexpCandidates(spark, idx, pattern).map(_.count()).get))
      audit.put(id, spark.sparkContext.longAccumulator)
    }
    ctx.log("warm-up")
    Warmup.each(ctx, pats.indices)(exec)
    val w = Harness.windows(ctx)((secs, probing) =>
      ClosedLoop.run(ctx, secs, patternOf(mix, ctx.seed, uniform = probing),
        if (probing) Some(probe _) else None)(exec))
    val all = w.untraced.samples ++ w.traced.toSeq.flatMap(t => t.measured.samples ++ t.probed.samples)

    // the traced run also merges and publishes the batch and loads the
    // published version (one-batch merge: every docId stays); the merge
    // path costs more than the run budget allows in every run
    val publishOk = !ctx.traced || {
      ctx.trace.on = true
      try {
        Builds.publish(ctx, root, cfg)
        val published = ctx.trace.span("IndexPublisher.loadCurrent")(_ =>
          IndexPublisher.loadCurrent(spark, root))
        published.meta.nDocs == Docs && published.docmap.toDF().select("docId", "url")
          .exceptAll(idx.docmap.toDF().select("docId", "url")).isEmpty
      } finally ctx.trace.on = false
    }
    if (!publishOk) System.err.println("perfbench: published docmap differs from the batch's")

    // full-scan java.util.regex reference, every pool pattern in one pass
    ctx.log("checks")
    val want = reference(ctx, docs, pats.map(_._2))
    val failed = Seq(publishOk, setup.sameContent).count(!_) + all.count { s =>
      s.out match {
        case Left(e) => e.printStackTrace(); true
        case Right(got) =>
          val bad = got != want(s.q)
          if (bad) System.err.println(s"perfbench: grep '${pats(s.q)._2}' returned ${got.size} " +
            s"lines, the full scan ${want(s.q).size}")
          bad
      }
    }.toLong

    val notes = scala.collection.mutable.ArrayBuffer.empty[String]
    val metrics = w.traced match {
      case None =>
        val lat = w.untraced.latMs
        Seq(
          Metric("setup_s", Stats.median(setup.seconds), "s"),
          Metric("request_p50_ms", Stats.median(lat), "ms"),
          Metric("request_p95_ms", Stats.pct(lat, 95), "ms"),
          Metric("requests_per_s", w.untraced.perSecond, "1/s"),
          Metric("index_bytes_per_text_byte", sections.total.toDouble / textBytes, "ratio"))
      case Some(t) =>
        val tr = ctx.trace
        val probed = t.probed.samples.filter(_.out.isRight)
        def ms(name: String) = tr.named(name).filter(s => audit.containsKey(s.req))
          .map(s => s.req -> s.durNs / 1e6).toMap
        val candMs = ms("Search.candidates")
        val grepMs = ms("Search.grep")
        // grepContextIndexed computes the candidates itself, so its
        // verify share is the grep span minus the probe's candidates span
        val verifyMs = probed.map(s => grepMs(s.req) - candMs(s.req))
        val nAudit = probed.map(s => audit.get(s.req).value.longValue).sum
        val nCand = probed.map(s => candDocs.get(s.req)).sum
        val nMatched = probed.map(_.out.toOption.get.map(_._1).distinct.size.toLong).sum
        val n = math.max(1, probed.size).toDouble
        notes += s"grep_precision base: $nMatched matched of $nCand candidate docs " +
          s"over ${probed.size} probed greps (the audit accumulator counted $nAudit)"
        Seq(
          Metric("TrigramCompiler.compile_ms", Stats.median(ms("TrigramCompiler.compile").values.toSeq), "ms"),
          Metric("Search.candidates_ms", Stats.median(candMs.values.toSeq), "ms"),
          Metric("Search.verify_ms", Stats.median(verifyMs), "ms"),
          Metric("Search.grep_candidates", nAudit / n, "count"),
          Metric("Search.grep_matched_docs", nMatched / n, "count"),
          Metric("Search.grep_precision", if (nCand == 0) 0.0 else nMatched.toDouble / nCand, "ratio"),
          Harness.overhead(Stats.median(w.untraced.latMs), Stats.median(t.measured.latMs))) ++
          Builds.layerMetrics(ctx, sections) ++
          Harness.sparkMetrics(ctx, t.spark, t.measured.samples.size, t.measured.wallS)
    }
    val byClass = all.groupBy(s => pats(s.q)._1).toSeq.sortBy(_._1).map { case (c, ss) =>
      f"$c:${ss.size}:${Stats.median(ss.map(_.ms))}%.1fms" }
    Result(all.size + (if (ctx.traced) 2L else 1L), failed, metrics, Seq(
      s"index = $Docs docs, ${w.untraced.samples.size} measured greps",
      "per class (count:p50) " + byClass.mkString(" ")) ++ notes)
  }

  /** Every (docId, line_no, line hash) each pattern matches, by a full
    * scan of the docs text with java.util.regex, line by line. */
  private def reference(ctx: Ctx, docs: org.apache.spark.sql.DataFrame,
      patterns: IndexedSeq[String]): Map[Int, Lines] = {
    import ctx.spark.implicits._
    val found = docs.select("docId", "text").as[(Long, String)].mapPartitions { it =>
      val ps = patterns.map(java.util.regex.Pattern.compile)
      it.flatMap { case (id, text) =>
        val lines = text.split("\n", -1)
        for (j <- ps.indices.iterator; i <- lines.indices.iterator
             if ps(j).matcher(lines(i)).find()) yield (j, id, i + 1, lines(i).hashCode)
      }
    }.collect()
    val byPattern = found.groupBy(_._1).map { case (j, xs) =>
      j -> xs.map(x => (x._2, x._3, x._4)).toSeq.sorted }
    patterns.indices.map(j => j -> byPattern.getOrElse(j, Seq.empty)).toMap
  }
}
