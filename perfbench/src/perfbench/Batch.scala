package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import graft.ops._

/** `batch_analytics`: timed passes, in seed-shuffled order, over a fixed
  * set of `SparkEntry.queries` that covers every ops module, with the
  * serve and streaming layers idle.
  *
  * Every timed query pays its own construction and intermediates: it
  * runs on a fresh `newSession()` (so per-session memos miss), the JVM
  * runs with SPARK_GRAFT_NO_MEMO set (see run.py), and between queries
  * every persisted RDD is unpersisted (blocking) and the catalog cache
  * cleared, as `graft.Bench` does, and the heap is collected. Construction (the query function,
  * which may run eager Spark jobs) and the action (a `noop` write that
  * executes the whole physical plan) are timed separately. The warm-up
  * (JIT, codegen) runs every query once, collecting its result and
  * hashing it for the correctness check; it counts as set-up.
  */
object Batch {
  val Modules: Seq[(String, Map[String, graft.Q])] = Seq(
    "Reference" -> Reference.queries, "Relational" -> Relational.queries,
    "Windows" -> Windows.queries, "Extensions" -> Extensions.queries,
    "Dedup" -> Dedup.queries, "TextAnalysis" -> TextAnalysis.queries,
    "Similarity" -> Similarity.queries, "Multimodal" -> Multimodal.queries,
    "TrainingPipeline" -> TrainingPipeline.queries)

  val Queries: Seq[String] = Seq(
    "q01_range_scan_limit", "q02_search_catalog", "q03_grafana_table_shape",
    "q48_downsample", "q49_rate",
    "q30_groupby_agg", "q55_salted_agg", "q62_math_fns",
    "q47_gap_fill", "q72_session_window",
    "q75_decontaminate_bloom", "q81_shingle_jaccard",
    "q85_minhash_lsh", "q100_dup_clusters",
    "q115_trigram_logprob", "q121_bpe_merges_hotpart", "q125_bpe_encode_rich",
    "q57_ivf_ann", "q105_semantic_dedup",
    "q92_multimodal_decode",
    "q129_pipeline_full")

  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def moduleOf(q: String): String = Modules.find(_._2.contains(q)).get._1

  /** Drop the query's cached state, then collect its garbage, so the next
    * query starts from the same heap whatever ran before it. */
  private def release(spark: SparkSession, s: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    s.catalog.clearCache()
    System.gc()
  }

  def run(r: Main.Run, dataDir: String): Unit = {
    val spark = r.spark
    val fn = Queries.map(q => q -> graft.SparkEntry.queries(q)).toMap
    // set-up proper: open and count every input table
    val rows = (1 to 3).map(_ => r.setupRep(
      Tables.map(t => t -> spark.read.parquet(s"$dataDir/$t.parquet").count()).toMap)).last
    r.out("table_rows") = rows

    val hashes = scala.collection.mutable.LinkedHashMap[String, String]()
    // warm-up: each query once, collected for the correctness hash; it
    // runs the same physical plans as the timed noop writes, so JIT and
    // codegen are warm for them
    r.setupOnce(Queries.foreach { q =>
      val s = spark.newSession()
      try {
        val out = fn(q)(s, dataDir).collect()
        hashes(q) = Canon.hash(out)
        if (q == "q92_multimodal_decode") {
          // no oracle: the decode must round-trip every document
          val n = out.map(_.getAs[Long]("cnt")).sum
          if (n != rows("documents") || !out.forall(_.getAs[Boolean]("all_isize_ok")))
            r.fail(s"q92 decoded $n of ${rows("documents")} documents")
        }
      } catch { case e: Throwable => r.failed += 1; r.fail(s"$q warm-up failed: $e") }
      finally release(spark, s)
    })
    r.attempted += Queries.size
    r.out("hashes") = hashes

    r.phase("measuring")
    Trace.measuring = true
    val rnd = new scala.util.Random(r.seed)
    val times = scala.collection.mutable.ArrayBuffer[(String, Double, Double)]()
    // whole passes only, and only as many as fit the window (at least one)
    val t0 = System.nanoTime()
    var passes = 0
    var lastPassS = 0.0
    while (passes == 0 || (System.nanoTime() - t0) / 1e9 + lastPassS <= r.seconds) {
      val p0 = System.nanoTime()
      rnd.shuffle(Queries).foreach { q =>
        val m = moduleOf(q)
        val s = spark.newSession()
        Trace.watchExchanges(s, q)
        r.attempted += 1
        try {
          val a = System.nanoTime()
          val df = Trace.span(s"ops.$m.construct") { Trace.attr("query", q); fn(q)(s, dataDir) }
          val b = System.nanoTime()
          Trace.span(s"ops.$m.action") {
            Trace.attr("query", q); df.write.format("noop").mode("overwrite").save()
          }
          val c = System.nanoTime()
          times += ((q, (b - a) / 1e6, (c - b) / 1e6))
        } catch { case e: Throwable => r.failed += 1; System.err.println(s"[perfbench] $q failed: $e") }
        finally release(spark, s)
      }
      passes += 1
      lastPassS = (System.nanoTime() - p0) / 1e9
    }
    r.out("passes") = passes
    r.out("latencies_ms") = times.map(t => t._2 + t._3)
    r.out("kinds") = times.map(_._1)
    r.out("construct_ms") = times.map(_._2)
    r.out("action_ms") = times.map(_._3)
  }
}

/** Order-insensitive hash of a query result: each row rendered with
  * doubles at 9 significant digits (summation order may move the last
  * bits), rows sorted, SHA-256 over the lines. */
object Canon {
  def hash(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(value).sorted.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else if (d == 0.0) "0" else
      new java.math.BigDecimal(d).round(new java.math.MathContext(9)).stripTrailingZeros.toString
    case f: Float => value(f.toDouble)
    case r: Row => r.toSeq.map(value).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => value(k) + "->" + value(x) }
      .sorted.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(value).mkString("[", ",", "]")
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case other => other.toString
  }
}
