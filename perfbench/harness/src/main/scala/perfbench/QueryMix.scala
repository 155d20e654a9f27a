package perfbench

import graft.functions.StoreEvents
import graft.{SparkEntry, StoreWarmup, Tables}
import perfbench.Util._

import java.nio.file.{Files, Paths}

/** `query_mix`: catalog queries (`--queries`), one at a time, in an
  * order the seed permutes, after warming the store families they read
  * ([[Stores]]) into the run's fresh store root. Each query is timed as build (the catalog function that
  * returns its DataFrame) plus action (one aggregate of its row count
  * and `sum(xxhash64(struct(*)))`, which forces every output column);
  * the two values are checked against the expected file. */
object QueryMix {

  final case class Shot(query: String, buildS: Double, actionS: Double,
      rows: Long, hash: String, error: Option[String], storeBuilds: Long) {
    def seconds: Double = buildS + actionS
  }

  /** The store families the queries read, warmed cold in set-up. */
  val Stores: Seq[String] = Seq("fuzzy_clusters")

  private val StoreEnv = Seq("SPARK_GRAFT_FRAME_DIR", "SPARK_GRAFT_SKETCH_DIR", "SPARK_GRAFT_INDEX_DIR")

  def run(c: Ctx): Main.Outcome = {
    val spark = c.spark
    val dir = c.args.str("data")
    val queries = c.args.str("queries").split(",").toSeq
    val order = new scala.util.Random(c.seed).shuffle(queries)
    val recording = c.args.get("record").nonEmpty
    val expected = c.args.get("expected").map(readExpected).getOrElse(Map.empty)
    def ok(s: Shot): Boolean = s.error.isEmpty && (recording || expected.get(s.query).contains((s.rows, s.hash)))
    val storeRoots = StoreEnv.flatMap(sys.env.get).distinct.map(Paths.get(_))

    // --- set-up: tables, cold store builds, warm passes for the JIT
    val (_, tablesS) = secs(Tables.names.foreach { n =>
      (if (n == "events") Tables.events(spark, dir) else Tables(spark, dir, n)).schema
    })
    storeRoots.foreach(deleteTree)
    val (warm, storesS) = secs(warmStores(spark, dir))
    Main.log(s"stores $warm")
    val (_, warmPassS) = secs((1 to c.args.int("warm-passes")).foreach(_ =>
      order.foreach(q => shot(c, q, dir))))
    val setupS = c.sessionS + tablesS + storesS + warmPassS

    // --- timed passes (the traced run also keeps one traced pass)
    val passes = buf[Seq[Shot]]
    val untracedFor = if (c.traced) c.seconds / 2 else c.seconds
    val t0 = System.nanoTime()
    do passes += order.map(q => shot(c, q, dir))
    while ((System.nanoTime() - t0) / 1e9 < untracedFor)

    val (layers, traced) =
      if (c.traced) tracedPass(c, order, dir, ok, warm, storeRoots) else (Nil, Nil)
    // the traced pass runs on a warmer JIT: one more untraced pass after
    // it keeps the overhead comparison fair
    if (c.traced) passes += order.map(q => shot(c, q, dir))
    val untracedWall = Stats.median(passes.map(_.map(_.seconds).sum).toSeq)
    val shots = (passes.flatten ++ traced).toSeq
    val failed = shots.filter(s => !ok(s))
    failed.foreach(s => System.err.println(
      s"[perfbench] ${s.query}: ${s.error.getOrElse(s"rows=${s.rows} hash=${s.hash}")}" +
        s" expected ${expected.get(s.query).map(e => s"rows=${e._1} hash=${e._2}").getOrElse("nothing")}"))
    c.args.get("record").foreach(p => Files.writeString(Paths.get(p),
      passes.head.sortBy(_.query).map(s => s"${s.query}\t${s.rows}\t${s.hash}\n").mkString))
    val missInQuery = shots.map(_.storeBuilds).sum
    val flags = Seq(
      if (missInQuery > 0) Some(s"stores.miss_in_query=$missInQuery") else None,
      if (failed.nonEmpty) Some(s"failed=${failed.map(_.query).distinct.mkString(",")}") else None
    ).flatten

    val timed = passes.flatten.toSeq
    val p50 = Stats.median(timed.map(_.seconds))
    val geomean = Stats.geomean(queries.map(q => Stats.median(timed.filter(_.query == q).map(_.seconds))))
    val pinned = pinnedMb(c)
    val report = metrics(
      ("setup_s", setupS, "s"), ("wall_s", untracedWall, "s"), ("query_p50_s", p50, "s"),
      ("query_geomean_s", geomean, "s"), ("pinned_mb", pinned, "MB"),
      ("error_share", failed.size.toDouble / shots.size, "share"),
      ("stores.miss_in_query", missInQuery.toDouble, "count"))

    val metricsOut =
      if (!c.traced) metrics(("setup_s", setupS, "s"), ("wall_s", untracedWall, "s"))
      else layers ++ Layers.overhead(traced.map(_.seconds).sum, untracedWall)
    Main.Outcome(shots.size, failed.size, checksOk = true, metricsOut, report, flags)
  }

  /** One traced pass: the listener and spans on, per-layer run totals. */
  private def tracedPass(c: Ctx, order: Seq[String], dir: String, ok: Shot => Boolean,
      warm: Seq[(String, Double, Int)],
      storeRoots: Seq[java.nio.file.Path]): (Seq[(String, Double, String)], Seq[Shot]) = {
    c.spans.enabled = true
    val (pass, l) = c.listening(order.map(q => c.spans.time(q, "query")(shot(c, q, dir))))
    val persisted = c.spark.sparkContext.getPersistentRDDs.size
    c.writeTrace(pass.map(s => Json.obj(Seq(
      "query" -> Json.str(s.query), "build_s" -> Json.num(s.buildS), "action_s" -> Json.num(s.actionS),
      "rows" -> s.rows.toString, "hash" -> Json.str(s.hash),
      "ok" -> ok(s).toString, "store_builds" -> s.storeBuilds.toString))))
    val stores = warm.map { case (fam, s, _) => (s"stores.build_s.$fam", s, "s") }
    (Layers.exec(l) ++ stores ++ metrics(
      ("operators.build_s", pass.map(_.buildS).sum, "s"),
      ("operators.build_jobs", l.jobsInBuild.get.toDouble, "count"),
      ("plans.persisted_rdds", persisted.toDouble, "count"),
      ("stores.build_s", warm.map(_._2).sum, "s"),
      ("stores.builds", warm.map(_._3).sum.toDouble, "count"),
      ("stores.disk_mb", storeRoots.map(treeBytes).sum / mb, "MB"),
      ("stores.miss_in_query", pass.map(_.storeBuilds).sum.toDouble, "count")) ++
      Layers.zero(Layers.Etl), pass)
  }

  /** Build the [[Stores]] families cold, as `StoreWarmup.warmAll` does
    * for all of them: (family, seconds, store builds). */
  private def warmStores(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(String, Double, Int)] =
    StoreWarmup.warmers.filter(w => Stores.contains(w._1)).map { case (fam, fn) =>
      val e0 = StoreEvents.count
      val (_, s) = secs(fn(spark, dir))
      (fam, s, (StoreEvents.count - e0).toInt)
    }

  /** Build and run one query; never throws. */
  def shot(c: Ctx, q: String, dir: String): Shot = {
    val e0 = StoreEvents.count
    var buildS = 0.0
    var actionS = 0.0
    try {
      val (df, b) = secs(c.spans.time(s"$q build", "operators")(SparkEntry.catalog(q).fn(c.spark, dir)))
      buildS = b
      val ((rows, hash), a) = secs(c.spans.time(s"$q action", "action")(checksum(df)))
      actionS = a
      Main.log(f"$q build $buildS%.3f action $actionS%.3f")
      Shot(q, buildS, actionS, rows, hash, None, StoreEvents.count - e0)
    } catch {
      case e: Throwable =>
        Shot(q, buildS, actionS, -1, "", Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"),
          StoreEvents.count - e0)
    }
  }

  /** Row count and order-independent content hash in one action. An
    * output type xxhash64 cannot take falls back to the count alone. */
  private def checksum(df: org.apache.spark.sql.DataFrame): (Long, String) =
    try {
      val r = df.selectExpr("count(1)", "coalesce(sum(xxhash64(struct(*))), 0)").collect()(0)
      (r.getLong(0), r.getLong(1).toString)
    } catch {
      case _: org.apache.spark.sql.AnalysisException => (df.count(), "-")
    }

  private def readExpected(path: String): Map[String, (Long, String)] =
    scala.io.Source.fromFile(path).getLines().filter(_.nonEmpty).map { l =>
      val Array(q, rows, hash) = l.split("\t")
      q -> (rows.toLong, hash)
    }.toMap

  /** Block-manager bytes still held, after a GC and a settle so the
    * context cleaner can release what nothing references any more. */
  private def pinnedMb(c: Ctx): Double = {
    System.gc()
    Thread.sleep(2000)
    c.spark.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum / mb
  }
}
