package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: runs one workload and writes its raw
  * samples (latencies, set-up times, counts, check results) as one JSON
  * object; perfbench/run.py turns them into the reported metrics.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir>
  *          <result file> [<data dir>]
  *        perfbench.Main selftest <work dir>
  */
object Main {
  /** Writes the result and trace files (Scala maps, sequences, options). */
  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** Everything one run reports; `samples` are the user-facing operation
    * latencies the end-to-end metrics summarise. */
  final class Run(val spark: SparkSession, val work: Path, val seed: Long,
                  val seconds: Double) {
    val out = mutable.LinkedHashMap[String, Any]()
    val problems = mutable.ArrayBuffer[String]()
    var attempted = 0L
    var failed = 0L
    val setupReps = mutable.ArrayBuffer[Double]()
    var setupOnceS = 0.0

    private val t0 = System.nanoTime()
    /** Log a phase boundary (to the JVM log, with seconds since start). */
    def phase(name: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.2f s: $name")

    /** Delete set-up files the run no longer reads, as soon as set-up is
      * done with them: files the kernel has not yet written back delete
      * cheaply and cause no write-back during the measured phase, while
      * each written-back one costs a discard on a disk mounted with
      * `discard`. */
    def discard(dir: Path): Unit = org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)

    def fail(msg: String): Unit = { problems += msg; System.err.println(s"[perfbench] CHECK FAILED: $msg") }

    /** Time one repetition of the workload's set-up. */
    def setupRep[T](f: => T): T = {
      val t0 = System.nanoTime()
      try f finally setupReps += (System.nanoTime() - t0) / 1e9
    }

    /** Time set-up work done once per run (warm-up). */
    def setupOnce[T](f: => T): T = {
      val t0 = System.nanoTime()
      try f finally setupOnceS += (System.nanoTime() - t0) / 1e9
    }
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = args match {
    case Array("selftest", work) => SelfTest.run(Paths.get(work))
    case Array(workload, seed, seconds, trace, work, result, rest @ _*) =>
      val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
      val workDir = Files.createDirectories(Paths.get(work))
      val spark = session(workDir)
      val startS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      if (trace == "1") Trace.enable(spark)
      val run = new Run(spark, workDir, seed.toLong, seconds.toDouble)
      try workload match {
        case "dashboard_read" => Dashboard.run(run)
        case "live_ingest" => Live.run(run)
        case "batch_analytics" => Batch.run(run, rest.headOption.getOrElse(
          sys.error("batch_analytics needs the data dir")))
        case other => sys.error(s"unknown workload $other")
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          run.fail(s"workload aborted: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      run.phase("workload done")
      if (trace == "1") {
        org.apache.spark.ListenerDrain(spark.sparkContext)
        Trace.measuring = false
        val tracePath = workDir.resolve("trace.jsonl").toString
        Trace.write(tracePath)
        run.out("trace_file") = tracePath
      }
      spark.stop()
      run.phase("stopped")
      run.out ++= Map("workload" -> workload, "seed" -> run.seed,
        "correct" -> run.problems.isEmpty, "problems" -> run.problems.take(20),
        "attempted" -> run.attempted, "failed" -> run.failed,
        "start_s" -> startS, "setup_once_s" -> run.setupOnceS,
        "setup_reps_s" -> run.setupReps, "peak_rss_kb" -> peakRssKb())
      Files.writeString(Paths.get(result), json.writeValueAsString(run.out))
    case _ =>
      System.err.println("usage: perfbench.Main <workload> <seed> <seconds> <trace> <work> <result> [data]")
      sys.exit(2)
  }

  /** VmHWM: the process's resident-set high-water mark. */
  private def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
}
