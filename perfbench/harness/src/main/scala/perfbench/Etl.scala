package perfbench

import graft.pipeline._
import perfbench.Util._

import java.nio.file.Path

/** `etl_bulk` and `etl_device`: one `EtlPipeline.run` per round against
  * a fresh [[MockSink]] and spill directory, then one `Spill.replay`
  * round against the recovered sink. Checks per round: every valid
  * inventory row acknowledged exactly once after replay, the rejected
  * count equal to the malformed rows generated, and an empty spill
  * directory after replay. */
object Etl {

  final case class Params(inventory: String, valid: Int, malformed: Long, latencyMs: Long,
      budget: Int, loadPartitions: Int, batch: Int, sinkDelayMs: Long, failEvery: Int,
      warmRounds: Int) {
    def extractor: Extractor =
      if (latencyMs > 0) SimulatedLatencyExtractor(latencyMs, budget, Some(FixedTs))
      else ProjectionExtractor(Some(FixedTs))
  }

  private val FixedTs = 1700000000L

  final case class Round(runS: Double, replayS: Double, stats: EtlRunStats,
      replayed: Long, deleted: Int, spillFiles: Int, spillBytes: Long, leftover: Int,
      notOnce: Long, posts: Seq[MockSink.Post], rejectedPosts: Long,
      sinkBytes: Long, inFlightMax: Int, replayDups: Long) {
    def wallS: Double = runS + replayS
    def recordsPerS: Double = stats.sink.sentRecords / runS
  }

  def run(c: Ctx): Main.Outcome = {
    val a = c.args
    val p = Params(a.str("inventory"), a.int("valid"), a.long("malformed"), a.long("latency-ms"),
      a.int("budget"), a.int("load-partitions"), a.int("batch"), a.long("sink-delay-ms"),
      a.int("fail-every"), a.int("warm-rounds"))

    // --- set-up: a fixed number of warm rounds, enough that round times
    // have stopped falling at this size
    val (_, warmS) = secs((1 to p.warmRounds).foreach(_ => round(c, p)))
    val setupS = c.sessionS + warmS

    // --- timed rounds (the traced run also keeps one traced round)
    val rounds = buf[Round]
    val untracedFor = if (c.traced) c.seconds / 2 else c.seconds
    val t0 = System.nanoTime()
    do rounds += round(c, p)
    while ((System.nanoTime() - t0) / 1e9 < untracedFor)
    val (layers, traced) = if (c.traced) {
      val (ls, r) = tracedRound(c, p)
      // one more untraced round after the traced one (see QueryMix)
      rounds += round(c, p)
      (ls ++ Layers.overhead(r.wallS, Stats.median(rounds.map(_.wallS).toSeq)), Some(r))
    } else (Nil, None)
    val wall = Stats.median(rounds.map(_.wallS).toSeq)

    val all = rounds.toSeq ++ traced
    val badRejects = all.count(_.stats.rejectedRows != p.malformed)
    val leftover = all.map(_.leftover).sum
    val notOnce = all.map(_.notOnce).sum
    val flags = Seq(
      if (badRejects > 0) Some(s"rejected!=${p.malformed} in $badRejects rounds") else None,
      if (leftover > 0) Some(s"spill files left after replay: $leftover") else None,
      if (notOnce > 0) Some(s"rows not acknowledged exactly once: $notOnce") else None).flatten
    flags.foreach(f => System.err.println(s"[perfbench] $f"))

    val report = metrics(
      ("setup_s", setupS, "s"), ("wall_s", wall, "s"),
      ("records_per_s", Stats.median(rounds.map(_.recordsPerS).toSeq), "1/s"),
      ("replay_s", Stats.median(rounds.map(_.replayS).toSeq), "s"),
      ("error_share", notOnce.toDouble / (all.size.toLong * p.valid), "share"))
    val metricsOut =
      if (!c.traced) metrics(("setup_s", setupS, "s"), ("wall_s", wall, "s"))
      else layers
    Main.Outcome(all.size.toLong * p.valid, notOnce, checksOk = badRejects == 0 && leftover == 0,
      metricsOut, report, flags)
  }

  /** One delivery round: the pipeline against a sink that fails every
    * `failEvery`-th POST, then replay against the recovered sink. */
  def round(c: Ctx, p: Params): Round = {
    val spill = c.out.resolve("spill")
    deleteTree(spill)
    val sink = new MockSink(p.valid, p.sinkDelayMs, p.failEvery,
      residue = if (p.failEvery > 0) (c.seed % p.failEvery).toInt else 0, threads = Main.cores)
    try {
      val cfg = config(p, sink.url, spill)
      val (stats, runS) = secs(c.spans.time("EtlPipeline.run", "pipeline") {
        val r = new EtlPipeline(c.spark, cfg).run()
        addPosts(c, sink)
        r
      })
      val spillFiles = Spill.listSpillFiles(spill.toString).size
      val spillBytes = treeBytes(spill)
      val posts0 = sink.posts.size
      val dups0 = sink.dupPosts.get
      sink.failing = false
      val ((replayed, deleted), replayS) = secs(c.spans.time("Spill.replay", "spill") {
        val r = Spill.replay(c.spark, cfg.sink)
        addPosts(c, sink, skip = posts0)
        r
      })
      import scala.jdk.CollectionConverters._
      val posts = sink.posts.asScala.toSeq
      Main.log(f"round run $runS%.3f replay $replayS%.3f")
      Round(runS, replayS, stats, replayed, deleted, spillFiles, spillBytes,
        Spill.listSpillFiles(spill.toString).size,
        (0 until p.valid).count(i => sink.acks.get(i) != 1).toLong + sink.unknownRows.get,
        posts, sink.rejected.get, sink.bytes.get, sink.inFlightMax.get,
        sink.dupPosts.get - dups0)
    } finally {
      sink.stop()
      deleteTree(spill)
    }
  }

  private def config(p: Params, url: String, spill: Path): EtlConfig = EtlConfig(
    csvPath = p.inventory,
    sink = HttpSink.Config(url, "perfbench-token", batchSize = p.batch, spillDir = spill.toString),
    extractor = p.extractor,
    loadPartitions = p.loadPartitions,
    countRejected = true)

  /** Server-side POST spans, parented to the harness span now open. */
  private def addPosts(c: Ctx, sink: MockSink, skip: Int = 0): Unit = if (c.spans.enabled) {
    import scala.jdk.CollectionConverters._
    val parent = c.spans.current
    sink.posts.asScala.drop(skip).foreach(x => c.spans.add(Span(c.spans.nextId(), parent,
      s"POST /load ${x.status} rows=${x.rows}", "sink", c.spans.fromNano(x.start),
      c.spans.fromNano(x.end), c.spans.run)))
  }

  /** The traced round. The fused pipeline stage is split from outside:
    * source only, +extract, +transform (each to one hash action, with
    * the pipeline's own routing), then the full round; each layer's
    * time is the difference. The Spark execution layer is the full
    * round alone: the listener is not attached for the prefix actions. */
  private def tracedRound(c: Ctx, p: Params): (Seq[Layers.Metric], Round) = {
    val spark = c.spark
    c.spans.enabled = true
    val src = ApplianceSource.read(spark, p.inventory)
    val routed = src.ok.repartition(p.loadPartitions)
    val cpu = p.extractor.extract(spark, routed)
    val json = Transform.deviceDataJson(Transform.toDeviceData(cpu, lenient = true))
    // each prefix is timed SplitReps times and its median kept: the
    // layer times are differences of these and would carry their noise
    def prefix(name: String, layer: String, df: org.apache.spark.sql.DataFrame): (Long, Double) = {
      val shots = (1 to SplitReps).map(_ => secs(c.spans.time(name, layer)(hash(df)._1)))
      (shots.head._1, Stats.median(shots.map(_._2)))
    }
    val (rows, sourceS) = prefix("source", "source", routed)
    val (_, extractCumS) = prefix("source+extract", "extract", cpu)
    val (_, transformCumS) = prefix("source+extract+transform", "transform", json)
    val (r, l) = c.listening(c.spans.time("round", "round")(round(c, p)))
    c.writeTrace(Nil)

    val extractS = extractCumS - sourceS
    val ideal = p.valid.toDouble * p.latencyMs / 1e3 / p.budget
    val postMs = r.posts.map(x => (x.end - x.start) / 1e6)
    val postedRows = r.stats.sink.sentRecords + r.stats.sink.spilledRecords + r.replayed
    val layers = Layers.exec(l) ++ metrics(
      ("source.rows", rows.toDouble, "count"),
      ("source.rejected", r.stats.rejectedRows.toDouble, "count"),
      ("source.s", sourceS, "s"),
      ("extract.s", extractS, "s"),
      ("extract.efficiency", if (extractS > 0) ideal / extractS else 0.0, "share"),
      ("transform.s", transformCumS - extractCumS, "s"),
      ("sink.posts", r.posts.size.toDouble, "count"),
      ("sink.posts_rejected", r.rejectedPosts.toDouble, "count"),
      ("sink.mb", r.sinkBytes / mb, "MB"),
      ("sink.bytes_per_record", r.sinkBytes.toDouble / math.max(1L, postedRows), "B"),
      ("sink.post_ms_p50", Stats.quantile(postMs, 0.5), "ms"),
      ("sink.post_ms_p99", Stats.quantile(postMs, 0.99), "ms"),
      ("sink.in_flight_max", r.inFlightMax.toDouble, "count"),
      ("sink.s", r.stats.mainJobMillis / 1e3 - transformCumS, "s"),
      ("spill.files", r.spillFiles.toDouble, "count"),
      ("spill.mb", r.spillBytes / mb, "MB"),
      ("spill.replay_records", r.replayed.toDouble, "count"),
      ("spill.files_deleted", r.deleted.toDouble, "count"),
      ("spill.dup_posts", r.replayDups.toDouble, "count")) ++
      Layers.zero(Layers.Query)
    (layers, r)
  }

  private val SplitReps = 3

  private def hash(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
    val r = df.selectExpr("count(1)", "coalesce(sum(xxhash64(struct(*))), 0)").collect()(0)
    (r.getLong(0), r.getLong(1))
  }
}
