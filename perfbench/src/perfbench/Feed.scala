package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import graft.serve.Grafana.{QueryRequest, TimeRange}

/** The deterministic point feed both store workloads ingest: drop file
  * `k` covers simulated time `[start(k), start(k) + fileMs)` and holds
  * `pointsPerSeries` evenly spaced points for each of `series` series.
  * A point's value encodes where it came from — integer part = file
  * index, two fraction digits = series index — so a response can be
  * checked point by point and a served daily mean tells which files it
  * covers. The seed picks the simulated start date.
  */
final case class Feed(seed: Long, series: Int, fileMs: Long, pointsPerSeries: Int) {
  require(series <= 100 && fileMs % (pointsPerSeries * 1000L) == 0,
    "series fit two fraction digits and points fall on whole seconds")

  val t0: Long = Feed.Epoch + Math.floorMod(seed, 28L) * Feed.DayMs
  val rowsPerFile: Int = series * pointsPerSeries
  private val stepMs = fileMs / pointsPerSeries

  def start(k: Long): Long = t0 + k * fileMs
  def ts(k: Long, j: Int): Long = start(k) + j * stepMs
  def seriesName(s: Int): String = f"s$s%02d"
  def valueStr(k: Long, s: Int): String = f"$k.$s%02d"
  /** Parsed exactly as the collector's CAST(... AS DOUBLE) parses it. */
  def value(k: Long, s: Int): Double = java.lang.Double.parseDouble(valueStr(k, s))
  def fileOf(tMs: Long): Long = Math.floorDiv(tMs - t0, fileMs)
  def day(tMs: Long): Long = Math.floorDiv(tMs, Feed.DayMs)
  def fileName(k: Long): String = f"f$k%07d.json"

  /** The collector's raw `{series, ts, body}` JSON lines for file `k`. */
  def bytes(k: Long): Array[Byte] = {
    val sb = new StringBuilder(rowsPerFile * 72)
    var j = 0
    while (j < pointsPerSeries) {
      val iso = java.time.Instant.ofEpochMilli(ts(k, j)).toString
      var s = 0
      while (s < series) {
        sb.append("{\"series\":\"").append(seriesName(s)).append("\",\"ts\":\"")
          .append(iso).append("\",\"body\":\"{\\\"count\\\": ")
          .append(valueStr(k, s)).append("}\"}\n")
        s += 1
      }
      j += 1
    }
    sb.toString.getBytes(UTF_8)
  }

  /** Write file `k` into `stage`, then move it atomically into `drop` —
    * the file source never lists a half-written file. */
  def drop(k: Long, stage: Path, drop: Path): Unit = {
    val staged = stage.resolve(fileName(k))
    Files.write(staged, bytes(k))
    Files.move(staged, drop.resolve(fileName(k)), StandardCopyOption.ATOMIC_MOVE)
  }

  // ── reference answers for the Grafana read path ──────────────────────

  /** Points of series `s` with ts in [from, to] among files [0, files). */
  def points(s: Int, fromMs: Long, toMs: Long, files: Long): Iterator[(Double, Long)] = {
    val k0 = math.max(0L, fileOf(fromMs))
    val k1 = math.min(files - 1, fileOf(toMs))
    Iterator.range(k0, k1 + 1).flatMap { k =>
      Iterator.range(0, pointsPerSeries).map(j => ts(k, j))
        .filter(t => t >= fromMs && t <= toMs).map(t => (value(k, s), t))
    }
  }

  def seriesIndex(name: String): Option[Int] =
    if (name.matches("s\\d\\d") && name.drop(1).toInt < series) Some(name.drop(1).toInt)
    else None

  /** `Grafana.query`: the earliest `maxDataPoints` points per target. */
  def rawAnswer(req: QueryRequest, files: Long): Seq[(String, Seq[(Double, Long)])] = {
    val (f, t) = Feed.bounds(req.range)
    req.targets.map(tg => tg.target -> seriesIndex(tg.target).toSeq
      .flatMap(s => points(s, f, t, files).take(req.maxDataPoints)))
  }

  /** `Grafana.queryDownsampled`: per-bucket means, buckets clamped below
    * `maxDataPoints`. */
  def downsampledAnswer(req: QueryRequest, files: Long): Seq[(String, Seq[(Double, Long)])] = {
    val (f, t) = Feed.bounds(req.range)
    val max = math.max(1, req.maxDataPoints).toLong
    val bucketMs = math.max(1L, (t - f + max - 1) / max)
    req.targets.map { tg =>
      val sums = new java.util.TreeMap[Long, (Double, Long)]()
      seriesIndex(tg.target).foreach(s => points(s, f, t, files).foreach { case (v, ts) =>
        val b = math.min((ts - f) / bucketMs, max - 1)
        val (sum, n) = Option(sums.get(b)).getOrElse((0.0, 0L))
        sums.put(b, (sum + v, n + 1))
      })
      tg.target -> scala.jdk.CollectionConverters.MapHasAsScala(sums).asScala.toSeq
        .map { case (b, (sum, n)) => (sum / n, b * bucketMs + f) }
    }
  }

  /** `Grafana.queryDaily` over a rollup of files [0, files): per-day
    * means of each target, earliest `maxDataPoints` days. */
  def dailyAnswer(req: QueryRequest, files: Long): Seq[(String, Seq[(Double, Long)])] = {
    val (f, t) = Feed.bounds(req.range)
    val d0 = day(f) * Feed.DayMs
    val d1 = day(t) * Feed.DayMs + Feed.DayMs - 1
    req.targets.map { tg =>
      tg.target -> seriesIndex(tg.target).toSeq.flatMap { s =>
        points(s, d0, d1, files).toSeq.groupBy(p => day(p._2)).toSeq.sortBy(_._1)
          .map { case (d, ps) => (ps.map(_._1).sum / ps.size, d * Feed.DayMs) }
          .take(req.maxDataPoints)
      }
    }
  }
}

object Feed {
  val Epoch: Long = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
  val HourMs: Long = 3600L * 1000
  val DayMs: Long = 24 * HourMs

  private val fmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
  def iso(ms: Long): String = fmt.format(java.time.Instant.ofEpochMilli(ms))
  def range(fromMs: Long, toMs: Long): TimeRange = TimeRange(iso(fromMs), iso(toMs))
  def bounds(r: TimeRange): (Long, Long) = {
    def ms(s: String) = java.time.LocalDateTime.parse(s.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    (ms(r.fromIso), ms(r.toIso))
  }
}
