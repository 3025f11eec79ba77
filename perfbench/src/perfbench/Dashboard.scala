package perfbench

/** `dashboard_read`: an open-loop stream of Grafana requests against a
  * static store. Set-up builds the store through the production path
  * (drop files → `Collector.startFromDropDir` parquet sink, and
  * `Rollup.startServed` publishing the day rollup per batch); ingest and
  * maintenance then sit idle while the serve path and the RawStore
  * resolver take the load.
  *
  * Store: 50 series × 30 simulated days, one point per series every
  * 8 minutes = 270,000 raw points in 60 drop files of 12 simulated hours
  * (4,500 rows each, one collector batch); the served rollup is
  * 50 × 30 = 1,500 rows. Set-up writes the drop files once and ingests
  * them three times into fresh stores (the median ingest is reported),
  * keeping the last.
  * Load: 6 requests/s, open loop, 3 worker threads.
  */
object Dashboard {
  val Series = 50
  val FileMs: Long = 12 * Feed.HourMs
  val PointsPerSeries = 90
  val Files = 60
  val Rate = 6.0
  val Workers = 3
  val Reps = 3
  val Warmup = 40

  def run(r: Main.Run): Unit = {
    val feed = Feed(r.seed, Series, FileMs, PointsPerSeries)
    val drop = r.setupOnce(Served.writeDrop(feed, r.work.resolve("drop"), Files))
    // each rep ingests into a fresh store; only the last one is served
    val served = (1 to Reps).map { i =>
      val root = r.work.resolve(s"store$i")
      val s = r.setupRep(Served.ingest(r.spark, feed, root, drop))
      if (i < Reps) r.discard(root)
      s
    }.last
    r.discard(drop)
    r.phase("stores built")
    val now = feed.start(Files) - 1000
    val n = math.max(1, (r.seconds * Rate).toInt)
    val specs = Mix.schedule(r.seed, Series, Warmup + n)
    // warm-up: JIT, codegen and the first panels' memo entries, as a
    // dashboard server would have them after its first refresh
    r.setupOnce(specs.take(Warmup).foreach(s => served.execute(s, now)))

    r.phase("warm-up done")
    Trace.measuring = true
    val done = new OpenLoop(Rate, Workers).run(n, j => served.execute(specs(Warmup + j), now))

    r.phase("load done")
    r.attempted += done.size
    done.foreach { d =>
      val spec = specs(Warmup + d.j)
      d.error match {
        case Some(e) => r.failed += 1; System.err.println(s"[perfbench] request ${d.j} failed: $e")
        case None => served.check(spec, now, Files, d.out.get).foreach(r.fail)
      }
    }
    r.out("latencies_ms") = done.map(_.latencyMs)
    r.out("kinds") = done.map(d => specs(Warmup + d.j).kind)
    r.out("late_ms") = done.map(_.lateMs)
    r.out("store") = Map("series" -> Series, "days" -> Files * FileMs / Feed.DayMs,
      "raw_points" -> Files.toLong * feed.rowsPerFile, "drop_files" -> Files,
      "rate_per_s" -> Rate, "workers" -> Workers)
  }
}
