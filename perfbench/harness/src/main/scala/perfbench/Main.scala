package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Benchmark JVM entry point. `run.py` generates the inputs, sets the
  * store roots and calls this once per run:
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --out <dir> [workload parameters, see run.py]
  * }}}
  *
  * It prints one `{"perfbench": ...}` report line (machine stamp, the
  * workload's own metrics, flags) and, last, the result line
  * `{"correct":..,"attempted":..,"failed":..,"metrics":{..}}`.
  */
object Main {

  final class Args(m: Map[String, String]) {
    def str(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = str(k).toInt
    def long(k: String): Long = str(k).toLong
    def flag(k: String): Boolean = m.get(k).contains("1")
    def get(k: String): Option[String] = m.get(k)
  }

  /** What a workload hands back: outcome counts, the end-to-end metrics
    * (untraced run) or per-layer metrics (traced run), and extra report
    * fields. */
  final case class Outcome(
      attempted: Long, failed: Long, checksOk: Boolean,
      metrics: Seq[(String, Double, String)],
      report: Seq[(String, Double, String)],
      flags: Seq[String])

  /** The master is `local[<nproc>]`. */
  val cores: Int = Runtime.getRuntime.availableProcessors

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = new Args(argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap)
    val loadStart = loadavg()
    val t0 = System.nanoTime()
    val spark = graft.Sessions.configure(
      SparkSession.builder().master(s"local[$cores]").appName("perfbench"),
      cores.toString).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val out = Paths.get(a.str("out"))
    Files.createDirectories(out)
    val ctx = Ctx(spark, a, sessionS,
      new Spans(s"${a.str("workload")}-${a.str("seed")}", spark.sparkContext), out)
    val res =
      try a.str("workload") match {
        case "query_mix" => QueryMix.run(ctx)
        case "etl_bulk" | "etl_device" => Etl.run(ctx)
        case w => sys.error(s"unknown workload $w")
      } finally spark.stop()
    val stamp = Seq(
      "nproc" -> cores.toString,
      "heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "jdk" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(spark.version),
      "loadavg_start" -> Json.str(loadStart),
      "loadavg_end" -> Json.str(loadavg()))
    val report = Json.obj(Seq(
      "workload" -> Json.str(a.str("workload")),
      "seed" -> a.str("seed"),
      "trace" -> (if (a.flag("trace")) "1" else "0"),
      "stamp" -> Json.obj(stamp),
      "metrics" -> Json.metrics(res.report),
      "flags" -> Json.arr(res.flags.map(Json.str))))
    Files.writeString(out.resolve("report.json"), report + "\n")
    println(s"""{"perfbench":$report}""")
    val correct = res.checksOk && res.failed == 0
    println(s"""{"correct":$correct,"attempted":${res.attempted},"failed":${res.failed},""" +
      s""""metrics":${Json.metrics(res.metrics)}}""")
  }

  /** Progress note for the run's log (stderr). */
  def log(msg: String): Unit = System.err.println(f"perfbench-progress ${System.currentTimeMillis() / 1e3}%.3f $msg")

  private def loadavg(): String =
    scala.util.Try(Files.readString(Paths.get("/proc/loadavg")).split(" ").take(3).mkString(" "))
      .getOrElse("")
}

/** What every workload needs from the entry point. */
final case class Ctx(spark: SparkSession, args: Main.Args, sessionS: Double,
    spans: Spans, out: Path) {
  def traced: Boolean = args.flag("trace")
  def seconds: Double = args.str("seconds").toDouble
  def seed: Long = args.long("seed")

  /** Run `f` with a fresh [[ExecListener]] attached, so its counters
    * cover exactly the jobs `f` starts; returns once the listener bus
    * has delivered all of their events. */
  def listening[T](f: => T): (T, ExecListener) = {
    val sc = spark.sparkContext
    val l = new ExecListener(spans)
    sc.addSparkListener(l)
    try {
      val r = f
      ExecListener.drain(sc)
      (r, l)
    } finally sc.removeSparkListener(l)
  }

  /** Write the traced run's spans and per-layer self times, and stop
    * keeping spans. */
  def writeTrace(extra: Seq[String]): Unit = {
    spans.enabled = false
    val ss = spans.all.sortBy(_.start)
    val self = Spans.selfTimeByLayer(ss).toSeq.sortBy(_._1)
    val body = Json.obj(Seq(
      "run" -> Json.str(spans.run),
      "self_s" -> Json.obj(self.map { case (k, v) => k -> Json.num(v) }),
      "detail" -> Json.arr(extra),
      "spans" -> Json.arr(ss.map(s => Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
        "start" -> s.start.toString, "end" -> s.end.toString,
        "run" -> Json.str(s.run)))))))
    Files.writeString(out.resolve("trace.json"), body + "\n")
  }
}

/** Just enough JSON writing for the report lines. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
  def metrics(ms: Seq[(String, Double, String)]): String =
    obj(ms.map { case (k, v, u) => k -> obj(Seq("value" -> num(v), "unit" -> str(u))) })
}

/** Order statistics over the samples of one run. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.length)
}

/** Helpers for timing and the run's scratch directories. */
object Util {
  def secs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.deleteIfExists(x))
    finally s.close()
  }

  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try { var n = 0L; s.filter(Files.isRegularFile(_)).forEach(x => n += Files.size(x)); n }
    finally s.close()
  }

  val mb: Double = 1024.0 * 1024.0
  def metrics(kv: (String, Double, String)*): Seq[(String, Double, String)] = kv
  def buf[T]: mutable.ArrayBuffer[T] = mutable.ArrayBuffer.empty[T]
}
