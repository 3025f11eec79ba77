package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. Spans wrap the benchmark's calls into each
  * layer's public functions; Spark's own listeners add task, job and
  * micro-batch counters at the same boundaries. Everything is kept in
  * memory and written once, as JSON lines, when the run ends; the
  * per-layer metrics are derived from that file (perfbench/derive.py).
  *
  * With tracing off, [[span]] is a plain call and no listener is
  * attached, so the untraced run measures the engine alone.
  */
object Trace {
  @volatile private var enabled = false
  @volatile private var context: SparkContext = null
  /** Counters and task metrics are kept only while the measured phase
    * runs; set-up and the final checks are excluded. */
  @volatile var measuring = false

  final case class Span(id: Long, parent: Long, name: String, req: Long,
                        t0: Long, t1: Long, attrs: Map[String, Any])

  private val SpanProp = "perfbench.span"
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val records = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val ids = new AtomicLong(0L)
  private val stack = ThreadLocal.withInitial[java.util.ArrayDeque[Long]](
    () => new java.util.ArrayDeque[Long]())
  private val reqId = ThreadLocal.withInitial[java.lang.Long](() => 0L)
  private val attrs = ThreadLocal.withInitial[mutable.Map[String, Any]](
    () => mutable.Map.empty)

  def on: Boolean = enabled

  /** Run `f` as one request: every span opened inside shares `id`. */
  def request[T](id: Long)(f: => T): T = {
    val prev = reqId.get
    reqId.set(id)
    try span("request")(f) finally reqId.set(prev)
  }

  /** One span around a layer call. Jobs the call starts carry the span
    * id as a local property, so task metrics attribute to it. */
  def span[T](name: String)(f: => T): T = {
    if (!enabled || !measuring) return f
    val id = ids.incrementAndGet()
    val st = stack.get
    val parent = if (st.isEmpty) 0L else st.peek
    val sc = Option(context)
    val prevProp = sc.map(_.getLocalProperty(SpanProp)).orNull
    sc.foreach(_.setLocalProperty(SpanProp, id.toString))
    val outer = attrs.get
    attrs.set(mutable.Map.empty)
    st.push(id)
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      st.pop()
      sc.foreach(_.setLocalProperty(SpanProp, prevProp))
      spans.add(Span(id, parent, name, reqId.get, t0, t1, attrs.get.toMap))
      attrs.set(outer)
    }
  }

  /** Attach a value to the innermost open span (no-op when untraced). */
  def attr(key: String, value: Any): Unit =
    if (enabled && measuring) attrs.get.update(key, value)

  /** A named counter or sample outside any span. */
  def record(kind: String, fields: (String, Any)*): Unit =
    if (enabled && measuring)
      records.add(Map[String, Any]("kind" -> kind, "t" -> System.nanoTime()) ++ fields)

  // ── Spark listeners ──────────────────────────────────────────────────

  /** Task metrics summed per stage; the job that started a stage carries
    * the span and streaming-query properties. */
  private final class StageAgg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var schedMs = 0L; var records = 0L; var shuffleWrite = 0L; var spill = 0L
  }
  private val stageAgg = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  private object TaskListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (measuring) {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).orNull
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
      records.add(Map("kind" -> "job", "job" -> e.jobId, "t" -> System.nanoTime(),
        "span" -> prop(SpanProp), "stream" -> prop("sql.streaming.queryId")))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (measuring) {
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null && info != null) {
        val a = stageAgg.computeIfAbsent(e.stageId, _ => new StageAgg)
        a.synchronized {
          a.tasks += 1
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.schedMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            info.gettingResultTime)
          a.records += m.inputMetrics.recordsRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.diskBytesSpilled
        }
      }
    }
  }

  private object ProgressListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (measuring) {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        records.add(Map("kind" -> "progress", "id" -> p.id.toString,
          "batch" -> p.batchId, "rows" -> p.numInputRows, "duration" -> d,
          "t" -> System.nanoTime()))
        progressRows.computeIfAbsent(p.id.toString, _ => new AtomicLong)
          .addAndGet(p.numInputRows)
      }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Rows each stream has reported through its progress events (traced
    * runs only) — the live workload samples its backlog from this. */
  val progressRows = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()

  /** Exchanges in the executed plan of every action on `session`, tagged
    * with `label` (the batch workload registers one per query session). */
  def watchExchanges(session: SparkSession, label: String): Unit =
    if (enabled) session.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        if (measuring) records.add(Map("kind" -> "qexec", "label" -> label,
          "func" -> funcName, "exchanges" -> exchanges(qe.executedPlan)))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })

  private def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case e: ShuffleExchangeLike => 1 + e.children.map(exchanges).sum
    case e: BroadcastExchangeLike => 1 + e.children.map(exchanges).sum
    case other => (other.children ++ other.subqueries).map(exchanges).sum
  }

  /** Turn tracing on for this process and attach the listeners. */
  def enable(spark: SparkSession): Unit = {
    enabled = true
    context = spark.sparkContext
    spark.sparkContext.addSparkListener(TaskListener)
    spark.streams.addListener(ProgressListener)
  }

  /** Write every span, listener record and stage aggregate as JSON lines. */
  def write(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try {
      spans.asScala.foreach { s =>
        out.println(Main.json.writeValueAsString(Map("kind" -> "span", "id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "req" -> s.req, "t0" -> s.t0, "t1" -> s.t1,
          "attrs" -> s.attrs)))
      }
      records.asScala.foreach(r => out.println(Main.json.writeValueAsString(r)))
      stageAgg.asScala.foreach { case (stage, a) =>
        out.println(Main.json.writeValueAsString(Map("kind" -> "stage", "stage" -> stage,
          "job" -> Option(stageJob.get(stage)).map(_.intValue),
          "tasks" -> a.tasks, "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs,
          "gc_ms" -> a.gcMs, "sched_ms" -> a.schedMs, "records" -> a.records,
          "shuffle_write" -> a.shuffleWrite, "spill" -> a.spill)))
      }
    } finally out.close()
  }
}
