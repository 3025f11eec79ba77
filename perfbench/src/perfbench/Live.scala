package perfbench

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import scala.collection.mutable
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions._
import graft.serve.Grafana
import graft.serve.Grafana.{QueryRequest, Target}
import graft.streaming.{Compaction, RawStore, Retention, Rollup}

/** `live_ingest`: writes beside reads.
  *
  *  - Catch-up: a backlog of 1 simulated day (48 drop files, 240,000
  *    rows) sits in the drop dir before `Collector.startFromDropDir`
  *    (parquet sink) and `Rollup.startServed` (day rollup, published per
  *    batch) start, like a collector restarting after downtime; timed
  *    until both the raw sink and the served rollup cover it.
  *  - Steady: a feeder drops 2 files per wall second (one in each half
  *    second, at offsets that sweep it — see `OpenLoop.slot`), each 30 simulated
  *    minutes of 50 series × 100 points (5,000 rows) — 1 wall second is 1
  *    simulated hour and the offered rate 10,000 rows/s. Every 3 s a
  *    maintenance pass runs `Retention.enforce` (keep 12 simulated hours)
  *    and `Compaction.compact` over closed days, both in grace mode. The
  *    dashboard mix runs at 3 requests/s on 2 worker threads, and one
  *    prober thread times how long each dropped file takes to show in a
  *    raw panel and in the served daily rollup.
  *  - Drain and check: both streams drain, a last deterministic
  *    maintenance pass runs, and the store is reconciled against the
  *    generator (the lifecycle soak's checks).
  */
object Live {
  val Series = 50
  val FileMs: Long = 30 * 60 * 1000L
  val PointsPerSeries = 100
  val FilesPerSecond = 2
  val BacklogFiles = 48
  val KeepMs: Long = 12 * Feed.HourMs
  val MaintEveryMs = 3000L
  val GraceMs = 2000L
  val Rate = 3.0
  val Workers = 2
  val Reps = 3

  def run(r: Main.Run): Unit = {
    val spark = r.spark
    val feed = Feed(r.seed, Series, FileMs, PointsPerSeries)

    // warm-up: a small store through the same streams, reads and
    // maintenance, so the timed phases do not pay JIT and codegen
    val warmDir = r.work.resolve("warm")
    r.setupOnce {
      val warm = Served.ingest(spark, feed, warmDir,
        Served.writeDrop(feed, warmDir.resolve("drop"), 8))
      Mix.schedule(r.seed, Series, 20).foreach(s => warm.execute(s, feed.start(8) - 1000))
      Retention.enforce(spark, warm.sinkDir, new Timestamp(feed.start(2) + 1000),
        "parquet", Some(GraceMs))
      Compaction.compact(spark, warm.sinkDir, "parquet", maxFiles = 1, targetFiles = 1,
        closedBefore = Some(java.time.LocalDate.of(2100, 1, 1)), grace = Some(GraceMs))
    }
    // set-up proper: stage the backlog (each rep into a fresh dir)
    val root = r.work.resolve("live")
    val drop = (1 to Reps).map { i =>
      val d = r.setupRep(Served.writeDrop(feed, root.resolve(s"drop$i"), BacklogFiles))
      if (i < Reps) r.discard(d)
      d
    }.last
    r.discard(warmDir)
    r.phase("set-up done")
    val stage = Files.createDirectories(root.resolve("stage"))
    val served = new Served(spark, feed, root.resolve("sink").toString,
      root.resolve("served").toString)
    val fs = new HPath(served.sinkDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

    // ── catch-up ────────────────────────────────────────────────────────
    Trace.measuring = true
    val c0 = System.nanoTime()
    val (collect, rollup) = Served.startStreams(spark, root, drop)
    Trace.record("stream", "id" -> collect.id.toString, "role" -> "collector")
    Trace.record("stream", "id" -> rollup.id.toString, "role" -> "rollup")
    collect.processAllAvailable(); rollup.processAllAvailable()
    val catchupS = (System.nanoTime() - c0) / 1e9
    val snap0 = Rollup.currentSnapshot(spark, served.servedDir)
    r.phase("catch-up done")

    // ── steady ──────────────────────────────────────────────────────────
    val moved = new AtomicLong(BacklogFiles)
    val movedAt = new ConcurrentHashMap[Long, java.lang.Long]()
    val stop = new AtomicBoolean(false)
    // simulated now: the end of the newest dropped file; requests end
    // their ranges a second before it, retention cuts `KeepMs` before it
    def now(): Long = feed.start(moved.get)
    def frontier(): Long = now() - 1000
    val steadyFiles = math.max(1, (r.seconds * FilesPerSecond).toInt)
    val collectId = collect.id.toString

    val feeder = thread("feeder") {
      val t0 = System.nanoTime()
      (0 until steadyFiles).foreach { j =>
        val due = t0 + (OpenLoop.slot(j) * 1e9 / FilesPerSecond).toLong
        val w = due - System.nanoTime()
        if (w > 0) Thread.sleep(w / 1000000, (w % 1000000).toInt)
        val k = BacklogFiles + j
        feed.drop(k, stage, drop)
        movedAt.put(k, System.nanoTime())
        moved.set(k + 1)
        val ingested = Option(Trace.progressRows.get(collectId)).map(_.get).getOrElse(0L)
        Trace.record("backlog", "files" -> (k + 1 - ingested / feed.rowsPerFile))
      }
    }

    val ops = new AtomicLong(0L)
    val opFailures = new AtomicLong(0L)
    def attempt(what: String)(f: => Unit): Unit = {
      ops.incrementAndGet()
      try f catch { case e: Throwable =>
        opFailures.incrementAndGet()
        System.err.println(s"[perfbench] $what failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }

    def maintain(cutoffMs: Long, graceMs: Long): Unit = {
      Trace.span("retention.enforce") {
        val (d, w) = Retention.enforce(spark, served.sinkDir, new Timestamp(cutoffMs),
          "parquet", Some(graceMs))
        Trace.attr("dropped", d); Trace.attr("rewritten", w)
      }
      val days = Option(new java.io.File(served.sinkDir).list()).getOrElse(Array.empty[String])
        .filter(_.startsWith("p_date="))
        .flatMap(n => scala.util.Try(java.time.LocalDate.parse(n.stripPrefix("p_date="))).toOption)
      if (days.nonEmpty) {
        def activeFiles() = RawStore.read(spark, served.sinkDir, served.schema, "parquet")
          .inputFiles.length
        val before = if (Trace.on) activeFiles() else 0
        Trace.span("compaction.compact") {
          Trace.attr("compacted", Compaction.compact(spark, served.sinkDir, "parquet",
            maxFiles = 2, targetFiles = 1, closedBefore = Some(days.max),
            grace = Some(graceMs)))
        }
        if (Trace.on) Trace.record("counter", "name" -> "compaction.files_removed",
          "value" -> (before - activeFiles()))
      }
    }
    val maint = thread("maintenance") {
      var next = System.nanoTime() + MaintEveryMs * 1000000L
      while (!stop.get()) {
        if (System.nanoTime() >= next) {
          attempt("maintenance")(maintain(now() - KeepMs, GraceMs))
          next += MaintEveryMs * 1000000L
        } else Thread.sleep(20)
      }
    }

    // the prober polls the raw version stamp and the rollup pointer; a
    // poll that finds the pointer file mid-replace (publish renames over
    // it) is a miss and is polled again, never a sample
    val pollMisses = new AtomicLong(0L)
    def poll(f: => Long): Option[Long] =
      try Some(f) catch { case _: java.io.IOException | _: IllegalStateException =>
        pollMisses.incrementAndGet(); None }
    val freshRaw = mutable.ArrayBuffer[Double]()
    val freshRollup = mutable.ArrayBuffer[Double]()
    val prober = thread("prober") {
      var lastStamp = -1L
      var lastSnap = -1L
      var nextRaw = BacklogFiles.toLong
      var nextRoll = BacklogFiles.toLong
      val s0 = Seq(Target(feed.seriesName(0), "timeseries"))
      // after the stop, keep probing until the drained files are seen,
      // for at most 10 s
      var deadline = Long.MaxValue
      while ((!stop.get() || nextRaw < moved.get || nextRoll < moved.get) &&
        System.nanoTime() < deadline) {
        if (stop.get() && deadline == Long.MaxValue) deadline = System.nanoTime() + 10000000000L
        val m = moved.get
        var probed = false
        if (nextRaw < m) {
          val stamp = poll(Trace.span("rawstore.version_stamp")(
            RawStore.versionStamp(fs, served.sinkDir)))
          if (stamp.exists(_ != lastStamp)) {
            lastStamp = stamp.get; probed = true
            attempt("raw probe") {
              val req = QueryRequest(s0, Feed.range(feed.start(nextRaw), feed.start(m) - 1000), 1 << 20)
              // the probe's own span, not grafana.query: its whole-window
              // scans would skew the request mix's serve-layer figures
              val out = Trace.span("probe.raw")(Grafana.query(served.raw(), req))
              val t = System.nanoTime()
              val seen = Responses.parse(out).flatMap(_._2).map(_._1.toLong).toSet
              while (nextRaw < m && seen(nextRaw)) {
                freshRaw += (t - movedAt.get(nextRaw)) / 1e6; nextRaw += 1
              }
            }
          }
        }
        if (nextRoll < m) {
          val snap = poll(Rollup.currentSnapshot(spark, served.servedDir))
          if (snap.exists(_ != lastSnap)) {
            lastSnap = snap.get; probed = true
            attempt("rollup probe") {
              val req = QueryRequest(s0, Feed.range(feed.start(nextRoll), feed.start(m) - 1000), 1 << 20)
              val out = Trace.span("probe.rollup")(
                Grafana.queryDaily(Rollup.servedTable(spark, served.servedDir), req))
              val t = System.nanoTime()
              // s00's value is its file index, so a day's mean over files
              // kFirst..kLast (all of equal size) is (kFirst + kLast) / 2
              val coveredTo = Responses.parse(out).flatMap(_._2).map { case (mean, dayMs) =>
                val kFirst = math.max(0L, feed.fileOf(dayMs))
                feed.day(dayMs) -> math.round(2 * mean - kFirst)
              }.toMap
              while (nextRoll < m &&
                coveredTo.get(feed.day(feed.start(nextRoll))).exists(_ >= nextRoll)) {
                freshRollup += (t - movedAt.get(nextRoll)) / 1e6; nextRoll += 1
              }
            }
          }
        }
        if (!probed) Thread.sleep(5)
      }
    }

    val specs = Mix.schedule(r.seed, Series, math.max(1, (r.seconds * Rate).toInt))
    val done = new OpenLoop(Rate, Workers).run(specs.size, j => served.execute(specs(j), frontier()))
    feeder.join()
    r.phase("steady done")

    // ── drain ───────────────────────────────────────────────────────────
    collect.processAllAvailable(); rollup.processAllAvailable()
    stop.set(true)
    maint.join(); prober.join()
    val batches = Seq(collect, rollup).map(q => Option(q.lastProgress).map(_.batchId + 1).getOrElse(0L)).sum
    val snaps = Rollup.currentSnapshot(spark, served.servedDir) - snap0
    collect.stop(); rollup.stop()
    Seq(collect, rollup).foreach(q => q.exception.foreach { e =>
      r.failed += 1; r.fail(s"stream ${q.id} died: ${e.getMessage}")
    })
    Trace.record("counter", "name" -> "rollup.publishes", "value" -> snaps)
    Trace.record("counter", "name" -> "rawstore.manifest_commits",
      "value" -> RawStore.readManifest(fs, served.sinkDir).seq)
    Trace.record("counter", "name" -> "rollup.snapshot_bytes",
      "value" -> dirBytes(fs, s"${served.servedDir}/snap=${Rollup.currentSnapshot(spark, served.servedDir)}"))
    org.apache.spark.ListenerDrain(spark.sparkContext)
    Trace.measuring = false
    r.phase("drained")

    // ── final maintenance pass and reconciliation ──────────────────────
    val files = moved.get
    val cutoff = feed.start(files) - KeepMs
    maintain(cutoff, GraceMs)
    RawStore.reap(fs, served.sinkDir, 0L)
    val stored = served.raw().count()
    val expected = (0L until files).map { k =>
      (0 until PointsPerSeries).count(j => feed.ts(k, j) >= cutoff).toLong * Series
    }.sum
    if (stored != expected) r.fail(s"stored rows $stored != generator survivors $expected")
    val cutoffDay = java.time.Instant.ofEpochMilli(cutoff).atZone(java.time.ZoneOffset.UTC)
      .toLocalDate.toString
    val sinkAgg = served.raw().filter(col("p_date") > lit(cutoffDay))
      .groupBy("series", "p_date").agg(count(lit(1)).as("s_cnt"), sum("value").as("s_total"))
    val rollAgg = spark.read.parquet(root.resolve("rollup").toString)
      .filter(col("p_date") > lit(cutoffDay))
      .select(col("series"), col("p_date"), col("cnt"), col("total"))
    val drift = sinkAgg.join(rollAgg, Seq("series", "p_date"), "full").filter(
      col("s_cnt").isNull || col("cnt").isNull || col("s_cnt") =!= col("cnt") ||
        abs(col("s_total") - col("total")) > 1e-6).count()
    if (drift != 0) r.fail(s"$drift rollup rows drift from the raw store")
    val bytes = served.raw().inputFiles.map(f => fs.getFileStatus(new HPath(f)).getLen).sum

    r.attempted += done.size + ops.get + batches
    r.failed += done.count(_.error.nonEmpty) + opFailures.get
    done.foreach { d =>
      d.error.foreach(e => System.err.println(s"[perfbench] request ${d.j} failed: $e"))
      d.out.foreach(o => if (specs(d.j).kind.startsWith("raw")) pointCheck(feed, o).foreach(r.fail))
    }
    if (freshRaw.isEmpty || freshRollup.isEmpty) r.fail("no file was seen to arrive")
    // the ingest user's operation: a dropped file reaching a raw panel
    r.out("latencies_ms") = freshRaw
    r.out("kinds") = freshRaw.map(_ => "fresh_raw")
    r.out("serve_latencies_ms") = done.map(_.latencyMs)
    r.out("serve_kinds") = done.map(d => specs(d.j).kind)
    r.out("late_ms") = done.map(_.lateMs)
    r.out("poll_misses") = pollMisses.get
    r.out("pointer_misses") = served.pointerMisses.get
    r.out("fresh_rollup_ms") = freshRollup
    r.out("catchup_rows_per_s") = BacklogFiles.toLong * feed.rowsPerFile / catchupS
    r.out("store_bytes_per_row") = bytes.toDouble / stored
    r.out("store") = Map("backlog_files" -> BacklogFiles, "backlog_rows" -> BacklogFiles.toLong * feed.rowsPerFile,
      "steady_files" -> steadyFiles, "offered_rows_per_s" -> FilesPerSecond * feed.rowsPerFile,
      "stored_rows" -> stored, "expected_rows" -> expected, "rollup_drift_rows" -> drift)
  }

  /** A raw response's points must be the generator's own: the value
    * names the file its timestamp falls in, and the series. */
  private def pointCheck(feed: Feed, out: String): Option[String] =
    Responses.parse(out).flatMap { case (t, pts) =>
      val s = feed.seriesIndex(t).get
      pts.find { case (v, ts) => v != feed.value(feed.fileOf(ts), s) }
        .map { case (v, ts) => s"live raw point ($v, $ts) of $t is not the generator's" }
    }.headOption

  private def dirBytes(fs: org.apache.hadoop.fs.FileSystem, dir: String): Long = {
    val it = fs.listFiles(new HPath(dir), true)
    var n = 0L
    while (it.hasNext) n += it.next().getLen
    n
  }

  private def thread(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, s"perfbench-$name")
    t.setDaemon(true)
    t.start()
    t
  }
}
