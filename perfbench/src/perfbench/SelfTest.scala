package perfbench

import java.nio.file.{Files, Path}

/** Checks that need no Spark: the same seed yields byte-identical drop
  * files and the same request schedule, and another seed does not.
  * Exits non-zero on the first failure. */
object SelfTest {
  def run(work: Path): Unit = {
    def dropAll(seed: Long, dir: String): Seq[Array[Byte]] = {
      val feed = Feed(seed, Live.Series, Live.FileMs, Live.PointsPerSeries)
      val stage = Files.createDirectories(work.resolve(s"$dir/stage"))
      val drop = Files.createDirectories(work.resolve(s"$dir/drop"))
      (0L until 4L).map { k => feed.drop(k, stage, drop); Files.readAllBytes(drop.resolve(feed.fileName(k))) }
    }
    val a = dropAll(7, "a")
    val b = dropAll(7, "b")
    val c = dropAll(8, "c")
    check(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) },
      "same seed, same drop files")
    check(a.zip(c).exists { case (x, y) => !java.util.Arrays.equals(x, y) },
      "another seed, other drop files")
    check(Mix.schedule(7, 50, 500) == Mix.schedule(7, 50, 500), "same seed, same schedule")
    check(Mix.schedule(7, 50, 500) != Mix.schedule(8, 50, 500), "another seed, another schedule")
    val kinds = Mix.schedule(7, 50, 2000).groupBy(_.kind).map { case (k, v) => k -> v.size }
    check(Set("raw", "raw3", "down", "daily", "search").forall(kinds.contains),
      s"every request kind is scheduled: $kinds")
    val feed = Feed(7, 50, Dashboard.FileMs, Dashboard.PointsPerSeries)
    check(feed.fileOf(feed.ts(5, Dashboard.PointsPerSeries - 1)) == 5 &&
      feed.value(5, 7) == 5.07, "a point's value names its file and series")
    println("selftest ok")
  }

  private def check(ok: Boolean, what: String): Unit =
    if (!ok) { System.err.println(s"selftest FAILED: $what"); sys.exit(1) }
}
