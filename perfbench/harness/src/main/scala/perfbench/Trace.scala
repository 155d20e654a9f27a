package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One span: a timed interval at a layer boundary. Times are epoch
  * nanoseconds; `parent` is 0 for a root span. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    start: Long, end: Long, run: String)

/** In-memory span log. The harness is a single closed-loop client, so
  * the innermost open harness span is one variable. Each harness span
  * also sets the Spark local property [[Spans.Property]] (`id:layer`),
  * which a job captures when it is submitted; the listener reads it from
  * the job's properties to parent the job. Spans are only kept while
  * `enabled` (the traced run). */
final class Spans(val run: String, sc: SparkContext) {
  private val ids = new AtomicLong
  private val log = new ConcurrentLinkedQueue[Span]()
  @volatile var enabled = false
  private var open: List[Long] = Nil

  def current: Long = open.headOption.getOrElse(0L)
  def nextId(): Long = ids.incrementAndGet()
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  /** Epoch nanoseconds on the monotonic clock. */
  def now(): Long = fromNano(System.nanoTime())
  def fromNano(t: Long): Long = base + t

  def add(s: Span): Unit = if (enabled) log.add(s)

  /** Time `f` as a span of `layer`, nested under the current span. */
  def time[T](name: String, layer: String)(f: => T): T = {
    val id = nextId()
    val parent = current
    val t0 = now()
    val outer = sc.getLocalProperty(Spans.Property)
    open = id :: open
    sc.setLocalProperty(Spans.Property, s"$id:$layer")
    try f
    finally {
      sc.setLocalProperty(Spans.Property, outer)
      open = open.tail
      add(Span(id, parent, name, layer, t0, now(), run))
    }
  }

  def all: Seq[Span] = log.asScala.toSeq
}

object Spans {
  val Property = "perfbench.span"

  /** The harness span (id, layer) a job was submitted under, from the
    * job's local properties; (0, "") outside any span. */
  def of(props: java.util.Properties): (Long, String) =
    Option(props).flatMap(p => Option(p.getProperty(Property))) match {
      case Some(v) =>
        val i = v.indexOf(':')
        (v.take(i).toLong, v.drop(i + 1))
      case None => (0L, "")
    }

  /** Self time per layer: each span's duration minus the part of its
    * interval that its child spans cover. */
  def selfTimeByLayer(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil).map(c =>
          (math.max(c.start, s.start), math.min(c.end, s.end))))
        (s.end - s.start - covered).max(0L) / 1e9
      }.sum
    }
  }

  /** Total length of the union of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }
}

/** Spark-side counters and spans, collected by a listener the harness
  * attaches around the traced round only (see [[Ctx.listening]]);
  * counters are totals over that round. */
final class ExecListener(spans: Spans) extends SparkListener {
  val jobs = new AtomicLong
  val jobsInBuild = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskRunMs = new AtomicLong
  val taskCpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val fetchWaitMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val parquetScans = new AtomicLong
  /** Job intervals (epoch ns) for the union that makes `exec.s`. */
  val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Long)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = spans.nextId()
    val (parent, layer) = Spans.of(e.properties)
    jobStart.put(e.jobId, (id, parent, e.time * 1000000L))
    e.stageIds.foreach(s => stageJob.put(s, id))
    jobs.incrementAndGet()
    if (layer == "operators") jobsInBuild.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (id, parent, t0) =>
      val t1 = e.time * 1000000L
      jobIntervals.add((t0, t1))
      spans.add(Span(id, parent, s"job ${e.jobId}", "exec", t0, t1, spans.run))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    stages.incrementAndGet()
    for (s <- info.submissionTime; c <- info.completionTime)
      spans.add(Span(spans.nextId(), Option(stageJob.remove(info.stageId)).getOrElse(0L),
        s"stage ${info.stageId}", "stage", s * 1000000L, c * 1000000L, spans.run))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      taskRunMs.addAndGet(m.executorRunTime)
      taskCpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => parquetScans.addAndGet(ExecListener.scans(s.sparkPlanInfo))
    case _ =>
  }

  /** Seconds covered by at least one Spark job. */
  def execSeconds: Double = Spans.union(jobIntervals.asScala.toSeq) / 1e9
}

object ExecListener {
  def scans(p: SparkPlanInfo): Long =
    (if (p.nodeName.startsWith("Scan parquet")) 1L else 0L) + p.children.map(scans).sum

  /** Wait until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBridge.drain(sc)
}

/** Per-layer metric names, and the ones every traced run shares. Each
  * traced run reports every layer; a layer its workload does not run
  * reads 0. */
object Layers {
  type Metric = (String, Double, String)

  val Query: Seq[(String, String)] = Seq(
    "operators.build_s" -> "s", "operators.build_jobs" -> "count",
    "plans.persisted_rdds" -> "count",
    "stores.build_s" -> "s", "stores.builds" -> "count", "stores.disk_mb" -> "MB",
    "stores.miss_in_query" -> "count") ++
    QueryMix.Stores.map(fam => s"stores.build_s.$fam" -> "s")

  val Etl: Seq[(String, String)] = Seq(
    "source.rows" -> "count", "source.rejected" -> "count", "source.s" -> "s",
    "extract.s" -> "s", "extract.efficiency" -> "share",
    "transform.s" -> "s",
    "sink.posts" -> "count", "sink.posts_rejected" -> "count", "sink.mb" -> "MB",
    "sink.bytes_per_record" -> "B", "sink.post_ms_p50" -> "ms", "sink.post_ms_p99" -> "ms",
    "sink.in_flight_max" -> "count", "sink.s" -> "s",
    "spill.files" -> "count", "spill.mb" -> "MB", "spill.replay_records" -> "count",
    "spill.files_deleted" -> "count", "spill.dup_posts" -> "count")

  def zero(names: Seq[(String, String)]): Seq[Metric] = names.map { case (n, u) => (n, 0.0, u) }

  /** `tables.parquet_scans` and the Spark execution layer, as totals
    * over what the listener saw. */
  def exec(l: ExecListener): Seq[Metric] = {
    val execS = l.execSeconds
    val runS = l.taskRunMs.get / 1e3
    Seq(
      ("tables.parquet_scans", l.parquetScans.get.toDouble, "count"),
      ("exec.s", execS, "s"),
      ("exec.jobs", l.jobs.get.toDouble, "count"),
      ("exec.stages", l.stages.get.toDouble, "count"),
      ("exec.tasks", l.tasks.get.toDouble, "count"),
      ("exec.task_run_s", runS, "s"),
      ("exec.task_cpu_s", l.taskCpuNs.get / 1e9, "s"),
      ("exec.gc_s", l.gcMs.get / 1e3, "s"),
      ("exec.fetch_wait_s", l.fetchWaitMs.get / 1e3, "s"),
      ("exec.shuffle_write_mb", l.shuffleWriteBytes.get / Util.mb, "MB"),
      ("exec.spill_mb", l.spillBytes.get / Util.mb, "MB"),
      ("exec.core_busy_share", if (execS > 0) runS / (execS * Main.cores) else 0.0, "share"))
  }

  /** Tracing overhead: the traced round against the untraced median. */
  def overhead(tracedWall: Double, untracedWall: Double): Seq[Metric] = Seq(
    ("trace.wall_s", tracedWall, "s"),
    ("trace.untraced_wall_s", untracedWall, "s"),
    ("trace.overhead_share", tracedWall / untracedWall - 1, "share"))
}
