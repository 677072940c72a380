package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point (started by perfbench/run.py):
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --out FILE --trace-dir DIR
  *
  * Runs one workload against the program's public API and writes one
  * JSON result to FILE. With --trace 1 the measured window is split (see
  * `Harness.windows`): untraced, traced, and probed; the per-layer
  * metrics come from the last two, and the first two give the tracing
  * overhead.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val cores = Runtime.getRuntime.availableProcessors
    val work = a("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ctx = new Ctx(spark, cores, a("seed").toLong, a("seconds").toInt,
      a("trace") == "1", work)

    val r = workload match {
      case "search" => SearchWorkload.run(ctx)
      case "grep" => GrepWorkload.run(ctx)
    }
    val metrics =
      if (ctx.traced) r.metrics
      else r.metrics :+ Metric("peak_rss_mb", peakRssMb(), "MB")
    if (ctx.traced)
      ctx.trace.write(s"${a("trace-dir")}/$workload-seed${ctx.seed}.spans.jsonl")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), toJson(r, metrics))
    ctx.log("result written")
    spark.stop()
    ctx.log("stopped")
    // skip the shutdown hooks: the run's directory is deleted by run.py
    Runtime.getRuntime.halt(0)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def toJson(r: Result, metrics: Seq[Metric]): String = {
    val ms = metrics.map { m =>
      require(!m.value.isNaN && !m.value.isInfinite, s"metric ${m.name} is ${m.value}")
      s""""${m.name}":{"value":${m.value},"unit":"${m.unit}"}"""
    }.mkString(",")
    val notes = r.notes.map(n => "\"" + esc(n) + "\"").mkString(",")
    s"""{"correct":${r.failed == 0},"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""metrics":{$ms},"notes":[$notes]}"""
  }
}

/** The run skeleton every workload shares. */
object Harness {
  /** Set-up repetitions per run; `setup_s` is their median. */
  val SetupReps = 3

  /** Each set-up's seconds, the last one's index fingerprint, and whether
    * every set-up built the same index. */
  final case class Setup(seconds: Seq[Double], content: Seq[Long], sameContent: Boolean)

  /** Run `once(rep)` SetupReps times (the last repetition's state is the
    * one measured) and time each. After each, and outside its timing,
    * `content` fingerprints the index it built. A traced run records the
    * set-up's spans too. */
  def setup(ctx: Ctx)(once: Int => Unit)(content: => Seq[Long]): Setup = {
    ctx.trace.on = ctx.traced
    val reps = try (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      once(rep)
      val s = (System.nanoTime() - t0) / 1e9
      ctx.log(s"setup $rep done")
      (s, content)
    } finally ctx.trace.on = false
    val same = reps.forall(_._2 == reps.head._2)
    if (!same) System.err.println(s"perfbench: set-ups built different indexes: ${reps.map(_._2)}")
    Setup(reps.map(_._1), reps.last._2, same)
  }

  /** The measured windows of a run. `untraced` is the whole window in an
    * untraced run; in a traced one it is two eighths, one before and one
    * after the traced quarter, so that a drift in speed over the run
    * cancels out of the tracing overhead. */
  final case class Windows[Q, R](untraced: Window[Q, R], traced: Option[Traced[Q, R]])

  /** The rest of a traced run's window: a quarter `measured` with the
    * request spans and a Spark listener on (no probes), and a half
    * `probed`, where each request is preceded by its workload's layer
    * probes, outside its timing, and the listener is off. */
  final case class Traced[Q, R](measured: Window[Q, R], spark: SparkStats, probed: Window[Q, R])

  /** `measure(seconds, probing)` runs one closed loop. */
  def windows[Q, R](ctx: Ctx)(measure: (Double, Boolean) => Window[Q, R]): Windows[Q, R] =
    if (!ctx.traced) { ctx.log("window"); Windows(measure(ctx.seconds.toDouble, false), None) }
    else {
      val eighth = ctx.seconds / 8.0
      ctx.log("untraced window")
      val before = measure(eighth, false)
      ctx.log("traced window")
      val sc = ctx.spark.sparkContext
      val stats = new SparkStats
      sc.addSparkListener(stats)
      ctx.trace.on = true
      val measured = try measure(2 * eighth, false) finally {
        ctx.trace.on = false
        org.apache.spark.BenchListenerBus.drain(sc)
        sc.removeSparkListener(stats)
        ctx.trace.groups = stats.perGroup
      }
      ctx.log("untraced window")
      val after = measure(eighth, false)
      ctx.log("probed window")
      ctx.trace.on = true
      val probed = try measure(4 * eighth, true) finally ctx.trace.on = false
      ctx.log("windows done")
      Windows(Window(before.samples ++ after.samples, before.wallS + after.wallS),
        Some(Traced(measured, stats, probed)))
    }

  /** Spark per-layer metrics of a traced window, per request. */
  def sparkMetrics(ctx: Ctx, st: SparkStats, requests: Int, wallS: Double): Seq[Metric] = {
    val n = math.max(1, requests).toDouble
    val disp = st.dispatchMs
    Seq(
      Metric("spark.jobs_per_query", st.jobCount / n, "count"),
      Metric("spark.tasks_per_query", st.tasks / n, "count"),
      Metric("spark.dispatch_ms", if (disp.isEmpty) 0.0 else Stats.median(disp), "ms"),
      Metric("spark.task_run_s", st.runMs / 1e3 / n, "s"),
      Metric("spark.task_cpu_s", st.cpuNs / 1e9 / n, "s"),
      Metric("spark.gc_s", st.gcMs / 1e3 / n, "s"),
      Metric("spark.busy_frac", st.runMs / 1e3 / (wallS * ctx.cores), "ratio"),
      Metric("spark.shuffle_write_bytes", st.shuffleWrite / n, "bytes"),
      Metric("spark.shuffle_read_bytes", st.shuffleRead / n, "bytes"),
      Metric("spark.spill_bytes", st.spill / n, "bytes"),
      Metric("spark.input_bytes", st.input / n, "bytes"))
  }

  /** Traced-window median over untraced-window median, minus one. */
  def overhead(untracedP50: Double, tracedP50: Double): Metric =
    Metric("trace.overhead_frac", tracedP50 / untracedP50 - 1.0, "ratio")
}
