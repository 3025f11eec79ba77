package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.serve.{Grafana, SnapshotCache}
import graft.serve.Grafana.{QueryRequest, Target}
import graft.streaming.{Collector, RawStore, Rollup}

/** One request of the dashboard mix, with its times relative to the
  * store's newest point (`now`), so the same schedule serves a static
  * store and a live one. */
final case class Spec(kind: String, series: Seq[Int], windowMs: Long,
                      endOffsetMs: Long, maxDataPoints: Int) {
  def request(feed: Feed, nowMs: Long): QueryRequest = {
    val (from, to) =
      if (kind == "daily") { // day-aligned, so a repeated panel repeats its key
        val d = feed.day(nowMs - endOffsetMs)
        ((d * Feed.DayMs) - windowMs, d * Feed.DayMs + Feed.DayMs - 1000)
      } else (nowMs - endOffsetMs - windowMs, nowMs - endOffsetMs)
    QueryRequest(series.map(s => Target(feed.seriesName(s), "timeseries")),
      Feed.range(math.max(feed.t0, from), math.max(feed.t0, to)), maxDataPoints)
  }
}

object Mix {
  /** The request mix, in blocks of 20 requests whose kinds are fixed and
    * whose order the seed shuffles, so every seed offers the same shares:
    *  - 7 `raw`: `Grafana.query`, 1 target, trailing 6 h and 24 h in
    *    turn, truncated to 100 points;
    *  - 3 `raw3`: `Grafana.query`, 3 targets, trailing 24 h, 200 points;
    *  - 3 `down`: `Grafana.queryDownsampled`, 1–2 targets, 7, 14, 21
    *    and 30 days in turn, 100 buckets;
    *  - 6 `daily`: `Grafana.queryDaily` through the SnapshotCache — 4
    *    repeat one of four fixed panels (memo hits once warm), 2 are
    *    fresh ranges (misses);
    *  - 1 `search`.
    * Trailing windows end a geometric number of hours (mean 6) before
    * the newest point, so recent ranges are favoured.
    */
  val Block: Seq[String] = Seq.fill(7)("raw") ++ Seq.fill(3)("raw3") ++
    Seq.fill(3)("down") ++ Seq.fill(4)("panel") ++ Seq.fill(2)("daily") ++ Seq("search")

  def schedule(seed: Long, series: Int, n: Int): IndexedSeq[Spec] = {
    val rnd = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
    def pick(k: Int): Seq[Int] =
      Iterator.continually(rnd.nextInt(series)).distinct.take(k).toSeq
    def recentMs(): Long = {
      var h = 0L
      while (rnd.nextDouble() > 1.0 / 6 && h < 72) h += 1
      h * Feed.HourMs
    }
    val panels = IndexedSeq.fill(4)(
      Spec("daily", pick(1 + rnd.nextInt(3)), (7 + rnd.nextInt(21)) * Feed.DayMs, 0L, 100))
    def shuffled(): Seq[String] = {
      val a = Block.toArray
      for (i <- a.indices.reverse) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a.toSeq
    }
    var raws, downs = 0
    Iterator.continually(shuffled()).flatten.take(n).map {
      case "raw" =>
        raws += 1
        Spec("raw", pick(1), (if (raws % 2 == 0) 6 else 24) * Feed.HourMs, recentMs(), 100)
      case "raw3" => Spec("raw3", pick(3), 24 * Feed.HourMs, recentMs(), 200)
      case "down" =>
        downs += 1
        Spec("down", pick(1 + rnd.nextInt(2)), Seq(7, 14, 21, 30)(downs % 4) * Feed.DayMs, 0L, 100)
      case "panel" => panels(rnd.nextInt(panels.size))
      case "daily" => Spec("daily", pick(1 + rnd.nextInt(3)), (1 + rnd.nextInt(29)) * Feed.DayMs,
        rnd.nextInt(3) * Feed.DayMs, 100)
      case _ => Spec("search", Seq.empty, 0L, 0L, 0)
    }.toIndexedSeq
  }
}

/** The serving side of one store: the raw tier resolved per request
  * through `RawStore.read`, the served rollup through a SnapshotCache
  * built here with wrapped closures, so the traced run sees its version
  * checks and resolves. */
final class Served(spark: SparkSession, val feed: Feed, val sinkDir: String,
                   val servedDir: String) {
  val schema = "series STRING, ts TIMESTAMP, value DOUBLE, p_date DATE, batch_id BIGINT"

  def raw(): DataFrame = Trace.span("rawstore.read") {
    val df = RawStore.read(spark, sinkDir, schema, "parquet")
    if (Trace.on) Trace.attr("files", df.inputFiles.length)
    df
  }

  /** Pointer reads of version checks that found no rollup pointer. */
  val pointerMisses = new AtomicLong(0L)

  /** `Rollup.currentSnapshot`, read again while the pointer is missing.
    * `Rollup.publish` replaces `_CURRENT` with a rename over it, which
    * on the local filesystem deletes the old pointer first, so a read in
    * that gap finds none. The request reads the pointer again, as the
    * live prober does, and each miss is counted (`pointer_misses`); a
    * pointer still missing after a second fails the request. */
  private def currentSnapshot(): Long = {
    val deadline = System.nanoTime() + 1000000000L
    var v = -1L
    while (v < 0) {
      try v = Rollup.currentSnapshot(spark, servedDir)
      catch { case e @ (_: java.io.IOException | _: IllegalStateException) =>
        if (System.nanoTime() > deadline) throw e
        pointerMisses.incrementAndGet()
        Thread.sleep(1)
      }
    }
    v
  }

  val cache = new SnapshotCache(
    () => Trace.span("snapshotcache.version")(currentSnapshot()),
    v => Trace.span("snapshotcache.resolve")(spark.read.parquet(s"$servedDir/snap=$v")))

  private def grafana(name: String)(f: => String): String = Trace.span(name) {
    val out = f
    if (Trace.on) {
      Trace.attr("bytes", out.length)
      Trace.attr("points", Responses.parse(out).map(_._2.size).sum)
    }
    out
  }

  def execute(spec: Spec, nowMs: Long): String = {
    lazy val req = spec.request(feed, nowMs)
    spec.kind match {
      case "raw" | "raw3" => val df = raw(); grafana("grafana.query")(Grafana.query(df, req))
      case "down" =>
        val df = raw(); grafana("grafana.query_downsampled")(Grafana.queryDownsampled(df, req))
      case "daily" => Trace.span("snapshotcache.render") {
        cache.render(req)(df => grafana("grafana.query_daily")(Grafana.queryDaily(df, req)))
      }
      case "search" =>
        val df = raw()
        Trace.span("grafana.search")(Main.json.writeValueAsString(Grafana.search(df)))
    }
  }

  /** Compare a static-store response with the answer computed from the
    * generator; returns a problem description, or None. */
  def check(spec: Spec, nowMs: Long, files: Long, out: String): Option[String] = {
    val req = spec.request(feed, nowMs)
    spec.kind match {
      case "search" =>
        val want = Main.json.writeValueAsString((0 until feed.series).map(feed.seriesName))
        if (out == want) None else Some(s"search returned $out")
      case k =>
        val want = k match {
          case "raw" | "raw3" => feed.rawAnswer(req, files)
          case "down" => feed.downsampledAnswer(req, files)
          case "daily" => feed.dailyAnswer(req, files)
        }
        Responses.diff(Responses.parse(out), want).map(d => s"$k $req: $d")
    }
  }
}

object Served {
  /** Start the production ingest pair over `dropDir`: the collector's
    * parquet sink and the served day rollup, published per batch. */
  def startStreams(spark: SparkSession, root: Path, dropDir: Path): (StreamingQuery, StreamingQuery) = {
    val collect = Collector.startFromDropDir(spark, dropDir.toString,
      root.resolve("sink").toString, root.resolve("ck_collect").toString,
      sinkFormat = "parquet")
    val points = Collector.transform(spark.readStream.schema(Collector.rawSchema)
      .option("maxFilesPerTrigger", 100).json(dropDir.toString))
    val rollup = Rollup.startServed(spark, points, root.resolve("rollup").toString,
      root.resolve("served").toString, root.resolve("ck_rollup").toString)
    (collect, rollup)
  }

  /** Write drop files [0, files) into `dir`. */
  def writeDrop(feed: Feed, dir: Path, files: Int): Path = {
    Files.createDirectories(dir)
    (0L until files).foreach(k => Files.write(dir.resolve(feed.fileName(k)), feed.bytes(k)))
    dir
  }

  /** Ingest everything in `drop` into a fresh static store under `root`. */
  def ingest(spark: SparkSession, feed: Feed, root: Path, drop: Path): Served = {
    val (c, r) = startStreams(spark, root, drop)
    try { c.processAllAvailable(); r.processAllAvailable() }
    finally { c.stop(); r.stop() }
    new Served(spark, feed, root.resolve("sink").toString, root.resolve("served").toString)
  }
}

/** Grafana timeseries responses as (target, [(value, epoch ms)]). */
object Responses {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def parse(json: String): Seq[(String, Seq[(Double, Long)])] =
    mapper.readTree(json).elements().asScala.toSeq.map { o =>
      o.get("target").asText() -> o.get("datapoints").elements().asScala.toSeq
        .map(p => (p.get(0).asDouble(), p.get(1).asLong()))
    }

  def diff(got: Seq[(String, Seq[(Double, Long)])],
           want: Seq[(String, Seq[(Double, Long)])]): Option[String] =
    if (got.map(_._1) != want.map(_._1)) Some(s"targets ${got.map(_._1)} != ${want.map(_._1)}")
    else got.zip(want).iterator.flatMap { case ((t, g), (_, w)) =>
      if (g.size != w.size) Some(s"$t: ${g.size} points != ${w.size}")
      else g.zip(w).collectFirst { case ((gv, gt), (wv, wt))
          if gt != wt || math.abs(gv - wv) > 1e-9 * math.max(1.0, math.abs(wv)) =>
        s"$t: point ($gv, $gt) != ($wv, $wt)"
      }
    }.nextOption()
}

/** Open-loop load: request `j` is due in slot `j` of length `1 / rate`
  * whatever happened before; `workers` threads execute, so a stall
  * queues later requests and their latency, timed from the due time,
  * shows it. `late` is how far the dispatcher itself ran behind. */
final class OpenLoop(rate: Double, workers: Int) {
  import OpenLoop.Done

  def run(n: Int, exec: Int => String): IndexedSeq[Done] = {
    val pool = Executors.newFixedThreadPool(workers)
    val done = new ConcurrentLinkedQueue[Done]()
    val t0 = System.nanoTime() + 5000000L
    try {
      (0 until n).foreach { j =>
        val due = t0 + (OpenLoop.slot(j) * 1e9 / rate).toLong
        var wait = due - System.nanoTime()
        while (wait > 0) { LockSupport.parkNanos(wait); wait = due - System.nanoTime() }
        val lateMs = (System.nanoTime() - due) / 1e6
        pool.submit(new Runnable {
          def run(): Unit = {
            val r = try Right(Trace.request(j + 1L)(exec(j)))
            catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
            val ms = (System.nanoTime() - due) / 1e6
            done.add(Done(j, ms, lateMs, r.toOption, r.left.toOption))
          }
        })
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(120, TimeUnit.SECONDS)
    }
    done.asScala.toIndexedSeq.sortBy(_.j)
  }
}

object OpenLoop {
  final case class Done(j: Int, latencyMs: Double, lateMs: Double,
                        out: Option[String], error: Option[String])

  /** Arrival `j`, in slot units: inside slot `j`, offset by the golden
    * ratio sequence. The streams trigger on whole wall seconds; evenly
    * spaced arrivals keep one phase to the trigger for a whole run, and
    * that phase, random per run, moved a run's latency and freshness by
    * a fifth. Offsets that sweep the slot make every run sample all
    * phases alike. */
  def slot(j: Int): Double = j + (j * 0.6180339887498949) % 1.0
}
