package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.corpus.PageGen

/** SplitMix64 stream: every generated input is a pure function of
  * (seed, stream, index), never of thread timing. */
final class Rng(seed: Long) {
  private var state = seed
  def nextLong(): Long = { state += 0x9e3779b97f4a7c15L; Rng.mix64(state) }
  def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
  def nextInt(bound: Int): Int = ((nextLong() >>> 1) % bound).toInt

  /** Zipf(~1) rank in [lo, hi): log-uniform inverse CDF, like PageGen's
    * word draw, so popular ranks are drawn as often as they occur. */
  def zipf(lo: Int, hi: Int): Int = {
    val span = (hi - lo).toDouble
    lo + math.min(hi - lo - 1, (math.pow(span + 1, nextDouble()) - 1).toInt)
  }
}

object Rng {
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def apply(seed: Long, stream: Long, i: Long): Rng =
    new Rng(mix64(mix64(seed * 1000003L + stream) ^ i))
}

final case class Metric(name: String, value: Double, unit: String)

final case class Result(attempted: Long, failed: Long, metrics: Seq[Metric],
    notes: Seq[String] = Nil)

object Stats {
  /** Nearest-rank percentile (p in 0..100). */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    s(math.min(s.length - 1, math.ceil(p / 100.0 * s.length).toInt - 1).max(0))
  }
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
  def medianOrZero(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

/** Everything a workload needs: the session, the run's arguments and the
  * span recorder. */
final class Ctx(val spark: SparkSession, val cores: Int, val seed: Long,
    val seconds: Int, val traced: Boolean, val work: String) {
  val trace = new Trace
  /** Request ids, shared by every window of the run. */
  val reqIds = new AtomicLong(1L)
  def dir(name: String): String = s"$work/$name"

  private val t0 = System.nanoTime()
  /** Progress line on stderr, stamped with seconds since the run began. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench [${(System.nanoTime() - t0) / 1e9}%7.2fs] $msg")

  /** Index layout for `docs` documents: one shard and one partition per
    * core. */
  def indexConfig(docs: Long, trigrams: Boolean): graft.index.IndexBuilder.Config =
    graft.index.IndexBuilder.Config(docsPerShard = (docs + cores - 1) / cores,
      blockSize = 256, buildTrigrams = trigrams, partitions = cores)
}

/** One completed request. */
final case class Sample[Q, R](req: Long, q: Q, startNs: Long, endNs: Long,
    out: Either[Throwable, R]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** A measured window: its samples and its wall time. */
final case class Window[Q, R](samples: Seq[Sample[Q, R]], wallS: Double) {
  def latMs: Seq[Double] = samples.map(_.ms)
  def perSecond: Double = samples.size / wallS
}

object ClosedLoop {
  /** One client sends its next request only after the previous one
    * returns, until `seconds` have passed; request ids come from
    * `ctx.reqIds`, and request i's input is `next(i)`. A request started
    * inside the window is always completed and counted. Spark still runs
    * each request's tasks on all `nproc` cores. With `nproc` clients a
    * request's latency also depended on which requests ran beside it,
    * and the p95 of a run's ~100 requests spread by a quarter between
    * runs of the same code. `probe`, if given, runs before each request,
    * outside its timing, span and job group. `exec` gets the request id,
    * its input and its span id. In a traced run each request's Spark
    * jobs carry the job group `req-<id>`. */
  def run[Q, R](ctx: Ctx, seconds: Double, next: Long => Q,
      probe: Option[(Long, Q) => Unit] = None)(exec: (Long, Q, Long) => R): Window[Q, R] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Sample[Q, R]]
    val sc = ctx.spark.sparkContext
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline) {
      val id = ctx.reqIds.getAndIncrement()
      val q = next(id)
      // a failed probe fails its request, which then is not sent
      val probeError = try { probe.foreach(_(id, q)); None } catch { case e: Throwable => Some(e) }
      if (ctx.trace.on) sc.setJobGroup(s"req-$id", "perfbench request")
      val s = System.nanoTime()
      val r = probeError.map(Left(_)).getOrElse(
        try Right(ctx.trace.span("request", 0L, id)(sid => exec(id, q, sid)))
        catch { case e: Throwable => Left(e) })
      out += Sample(id, q, s, System.nanoTime(), r)
      if (ctx.trace.on) sc.clearJobGroup()
    }
    val end = if (out.isEmpty) System.nanoTime() else out.last.endNs
    Window(out.toSeq, (end - t0) / 1e9)
  }
}

object Warmup {
  /** `nproc` threads send every input once, untimed, so that the first
    * execution of each distinct request (Spark generates and compiles
    * the code of a new plan shape) happens before any window. A failure
    * here is not counted: the same input fails again, and counts, when
    * measured. */
  def each[Q](ctx: Ctx, inputs: Seq[Q])(exec: (Long, Q, Long) => Any): Unit = {
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (0 until ctx.cores).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < inputs.size) {
          try exec(ctx.reqIds.getAndIncrement(), inputs(i), 0L) catch { case _: Throwable => }
          i = next.getAndIncrement()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }
}

/** The class mix of a request stream. In dcs's production query log 78 %
  * of the queries are identifier queries (BASELINE.md §1, from dcs
  * `howto/index.md:29-31`); the other classes share the rest equally.
  * Request i takes slot i of a cycle that holds exactly that mix, in a
  * seed-shuffled order, so every window of a run sees the same mix. */
object Mix {
  val IdentifierShare = 0.78

  def cycle(seed: Long, stream: Long, classes: IndexedSeq[String]): IndexedSeq[Int] = {
    val id = classes.indexOf("identifier")
    require(id >= 0, "no identifier class")
    val others = classes.indices.filter(_ != id)
    val nId = math.round(IdentifierShare / (1 - IdentifierShare) * others.size).toInt
    val slots = (Seq.fill(nId)(id) ++ others).toArray
    val r = Rng(seed, stream, 0L)
    for (i <- slots.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = slots(i); slots(i) = slots(j); slots(j) = t
    }
    slots.toIndexedSeq
  }
}

/** The seeded corpus: `PageGen.page(i)` over a seed-derived row range,
  * materialised as a (url, warc_ts, html, text, lang) parquet table. */
object Corpus {
  /** First row of the seed's range for `stream` (one range per use). */
  def first(seed: Long, stream: Long): Long =
    (Rng.mix64(seed * 7919L + stream) >>> 1) % 1000000000L

  def write(spark: SparkSession, first: Long, n: Long, dir: String, files: Int): Unit = {
    import spark.implicits._
    spark.range(first, first + n, 1, files).map(i => PageGen.page(i))
      .write.mode("overwrite").parquet(dir)
  }

  /** (url, text, lang) rows — what the program receives. */
  def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir).select("url", "text", "lang")

  def textBytes(spark: SparkSession, dir: String): Long =
    spark.read.parquet(dir).agg(sum(octet_length(col("text")))).head().getLong(0)

  /** Row index of a generated url (`.../<base36 i>`). */
  def rowOf(url: String): Long =
    java.lang.Long.parseLong(url.substring(url.lastIndexOf('/') + 1), 36)

  // the planted markers (PageGen): qmarkerK ⇔ i % 1009 == K (K < 10),
  // "data processing" ⇔ i % 211 == 5 (needlealpha ⇔ i == 137)
  def isMarker(i: Long, k: Int): Boolean = i % 1009 == k
  def isDataProcessing(i: Long): Boolean = i % 211 == 5
}

/** Index fingerprints: row count and encoded bytes of every section. */
object IndexContent {
  import org.apache.spark.sql.types._

  /** (rows, bytes): variable-width columns count their byte length,
    * fixed-width columns their width. */
  def payload(df: DataFrame): Seq[Long] = {
    val widths = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case StringType | BinaryType => octet_length(col(f.name)).cast("long")
        case t: NumericType => lit(t.defaultSize.toLong)
        case BooleanType => lit(1L)
        case t => sys.error(s"no width for ${f.name}: $t")
      }
    }
    val r = df.agg(count(lit(1)), sum(widths.reduce(_ + _))).head()
    Seq(r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L))
  }

  /** Docmap, doc norms, token blocks, trigram blocks, term stats and the
    * reversed and deletion dictionaries (where the index has them), as
    * (rows, bytes) each. Parquet file sizes are not used: they vary a
    * little between builds of one corpus as rows fall differently across
    * files. */
  def of(idx: graft.index.BuiltIndex): Seq[Long] =
    (Seq(idx.docmap.toDF(), idx.docnorms.toDF(), idx.postings.toDF()) ++
      idx.trigrams.map(_.toDF()) ++ Seq(idx.termstats.toDF()) ++ idx.revdict ++ idx.deldict)
      .flatMap(payload)

  /** Encoded bytes of a fingerprint from `of`. */
  def bytes(content: Seq[Long]): Long =
    content.grouped(2).map(_(1)).sum
}

/** On-disk size of a persisted index's parquet files, by section. */
object IndexBytes {
  private def sizeOf(dir: java.io.File): Long =
    Option(dir.listFiles()).getOrElse(Array.empty).map { f =>
      if (f.isDirectory) sizeOf(f) else if (f.getName.endsWith(".parquet")) f.length else 0L
    }.sum

  final case class Sections(blocks: Long, docs: Long, dicts: Long) {
    def total: Long = blocks + docs + dicts
  }

  /** Blocks, docs + docnorms, termstats + revterms + delterms. Fails if
    * the index holds parquet files outside these sections. */
  def sections(dir: String): Sections = {
    def s(name: String) = sizeOf(new java.io.File(s"$dir/$name"))
    val out = Sections(s("blocks"), s("docs") + s("docnorms"),
      s("termstats") + s("revterms") + s("delterms"))
    val all = sizeOf(new java.io.File(dir))
    require(out.total == all, s"$dir: ${all - out.total} parquet bytes outside the known sections")
    out
  }
}

/** The operator's write path — build a batch, merge and publish it, load
  * the published version — with a span around each public call. */
object Builds {
  import graft.index.{IndexBuilder, IndexMerger, IndexPublisher}
  import graft.streaming.IndexFeeder

  /** One batch build, as `IndexFeeder`'s micro-batches run it; each stage
    * interval the program reports through `onStage` becomes a child span. */
  def batch(ctx: Ctx, docs: org.apache.spark.sql.DataFrame, dir: String,
      cfg: IndexBuilder.Config): Unit =
    ctx.trace.span("IndexFeeder.batch_build") { sid =>
      IndexBuilder.buildPersistent(ctx.spark, docs, dir, cfg, onStage = (stage, s) => {
        val now = System.nanoTime()
        ctx.trace.record(s"IndexBuilder.$stage", sid, 0L, now - (s * 1e9).toLong, now)
      })
    }

  /** `IndexFeeder.mergeAndPublish`'s public steps in its order, each in
    * its own span (the merge is lazy and runs inside persist). */
  def publish(ctx: Ctx, root: String, cfg: IndexBuilder.Config): Unit =
    ctx.trace.span("IndexFeeder.mergeAndPublish") { sid =>
      val tr = ctx.trace
      val parts = tr.span("IndexBuilder.load", sid)(_ =>
        IndexFeeder.batchDirs(root).map(d => IndexBuilder.load(ctx.spark, d)))
      if (IndexMerger.canConcat(parts, cfg)) {
        val now = System.nanoTime()
        tr.record("IndexMerger.concat", sid, 0L, now, now)
      }
      val merged = tr.span("IndexMerger.merge", sid)(_ => IndexMerger.merge(ctx.spark, parts, cfg))
      val ver = IndexPublisher.nextVersion(root)
      tr.span("IndexFeeder.persist", sid)(_ => IndexFeeder.persist(merged, s"$root/$ver"))
      tr.span("IndexPublisher.swap", sid)(_ => IndexPublisher.swap(root, ver))
    }

  /** Write-path per-layer metrics: medians over the recorded builds and
    * publishes, and the given parquet section sizes. */
  def layerMetrics(ctx: Ctx, sections: IndexBytes.Sections): Seq[Metric] = {
    val tr = ctx.trace
    def med(name: String): Double = Stats.median(tr.named(name).map(_.durNs / 1e9))
    def stage(names: String*): Double = Stats.median(tr.named("IndexFeeder.batch_build").map { b =>
      tr.all.filter(s => s.parent == b.id && names.contains(s.name.stripPrefix("IndexBuilder.")))
        .map(_.durNs).sum / 1e9
    })
    val publishes = tr.named("IndexFeeder.mergeAndPublish")
    Seq(
      Metric("IndexBuilder.docmap_s", stage("docmap"), "s"),
      // docnorms and encode run concurrently and are reported as one
      // interval (the docnorms‖encode pair of buildPersistent)
      Metric("IndexBuilder.encode_s", stage("docnorms", "encode"), "s"),
      Metric("IndexBuilder.termstats_s", stage("termstats"), "s"),
      Metric("IndexBuilder.dicts_s", stage("delterms", "revterms"), "s"),
      Metric("IndexBuilder.load_s", med("IndexBuilder.load"), "s"),
      Metric("IndexBuilder.blocks_bytes", sections.blocks.toDouble, "bytes"),
      Metric("IndexBuilder.docs_bytes", sections.docs.toDouble, "bytes"),
      Metric("IndexBuilder.dict_bytes", sections.dicts.toDouble, "bytes"),
      Metric("IndexFeeder.batch_build_s", med("IndexFeeder.batch_build"), "s"),
      Metric("IndexMerger.merge_s", Stats.median(publishes.map { p =>
        tr.all.filter(s => s.parent == p.id &&
          (s.name == "IndexMerger.merge" || s.name == "IndexFeeder.persist")).map(_.durNs).sum / 1e9
      }), "s"),
      Metric("IndexMerger.concat_frac", tr.named("IndexMerger.concat").size.toDouble / publishes.size, "ratio"),
      Metric("IndexPublisher.swap_ms", med("IndexPublisher.swap") * 1e3, "ms"),
      Metric("IndexPublisher.loadCurrent_ms", med("IndexPublisher.loadCurrent") * 1e3, "ms"))
  }
}
