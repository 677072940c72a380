package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. `parent` is the id of the span
  * that caused it (0 = none); spans of one request share `req`. */
final case class Span(id: Long, name: String, parent: Long, req: Long,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. When off, `span` only runs its body, so an
  * untraced window pays nothing; spans are written once, at exit. */
final class Trace {
  @volatile var on: Boolean = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()

  def span[T](name: String, parent: Long = 0L, req: Long = 0L)(body: Long => T): T =
    if (!on) body(0L)
    else {
      val id = ids.incrementAndGet()
      val t0 = System.nanoTime()
      try body(id)
      finally spans.add(Span(id, name, parent, req, t0, System.nanoTime()))
    }

  /** Record an interval measured elsewhere (e.g. a build stage reported
    * through the program's `onStage` callback). */
  def record(name: String, parent: Long, req: Long, startNs: Long, endNs: Long): Unit =
    if (on) spans.add(Span(ids.incrementAndGet(), name, parent, req, startNs, endNs))

  /** Spark (jobs, tasks) per job group of the traced window. */
  @volatile var groups: Map[String, (Int, Long)] = Map.empty

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Per-layer self time in seconds: each span's duration minus the part
    * of its interval covered by its children, summed by span name. */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val kids = ss.filter(_.parent != 0L).groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      name -> group.map { s =>
        val covered = Trace.unionNs(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
        (s.durNs - covered) / 1e9
      }.sum
    }
  }

  /** Write every span as one JSON line, then one line per layer with its
    * span count, total and self time, then one line per request's Spark
    * job group with its job and task counts. */
  def write(path: String): Unit = {
    val ss = all
    val t0 = ss.headOption.map(_.startNs).getOrElse(0L)
    val self = selfSeconds
    val sb = new StringBuilder
    ss.foreach { s =>
      sb.append(s"""{"span":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""req":${s.req},"start_ms":${(s.startNs - t0) / 1e6},"end_ms":${(s.endNs - t0) / 1e6}}""")
        .append('\n')
    }
    ss.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, g) =>
      sb.append(s"""{"layer":"$name","spans":${g.size},"total_s":${g.map(_.durNs).sum / 1e9},""" +
        s""""self_s":${self(name)}}""").append('\n')
    }
    groups.toSeq.sortBy(_._1).foreach { case (g, (jobs, tasks)) =>
      sb.append(s"""{"job_group":"$g","jobs":$jobs,"tasks":$tasks}""").append('\n')
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

object Trace {
  /** Total length of the union of [start, end) intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }
}

/** Spark job/stage/task counters for the traced window, registered by the
  * benchmark as a `SparkListener`. Jobs carry the job group of the
  * request that submitted them. */
final class SparkStats extends SparkListener {
  final class Job(val group: String, val submitMs: Long) {
    @volatile var firstLaunchMs: Long = Long.MaxValue
    var tasks = 0L
  }
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val lock = new Object
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val j = new Job(group, e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      lock.synchronized { j.firstLaunchMs = math.min(j.firstLaunchMs, e.taskInfo.launchTime) }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    tasks += 1
    Option(stageJob.get(e.stageId)).foreach(_.tasks += 1)
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      input += m.inputMetrics.bytesRead
    }
  }

  def jobCount: Int = jobs.size

  /** Job submit → first task launch, per job that ran a task (ms). */
  def dispatchMs: Seq[Double] = lock.synchronized {
    jobs.values.asScala.toSeq.filter(_.firstLaunchMs != Long.MaxValue)
      .map(j => (j.firstLaunchMs - j.submitMs).toDouble)
  }

  /** (jobs, tasks) per job group. */
  def perGroup: Map[String, (Int, Long)] = lock.synchronized {
    jobs.values.asScala.toSeq.groupBy(_.group)
      .map { case (g, js) => g -> (js.size, js.map(_.tasks).sum) }
  }
}
