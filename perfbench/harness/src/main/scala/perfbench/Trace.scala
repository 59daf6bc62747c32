package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Executor counters for one (operation, phase) key. */
final class Counters {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskMs = new AtomicLong
  val spillBytes = new AtomicLong
  val shuffleReadBytes = new AtomicLong
}

/** Catalyst figures of one sink write, read from its QueryExecution. */
final case class PlanStats(analysisMs: Double, optimizationMs: Double, planningMs: Double,
                           planStartMs: Long, planEndMs: Long, nodes: Int, exchanges: Int)

/** Everything the harness learns from Spark's listener interfaces.
  *
  * The shuffle-write byte counter is always on: it is the byte column of
  * the untraced runs. Everything else is recorded only while [[tracing]]
  * is set, keyed by the `perfbench.op` / `perfbench.phase` local
  * properties the harness puts on its thread before each phase. */
final class Recorder extends SparkListener {
  val tracing = new AtomicBoolean(false)
  val shuffleWriteBytes = new AtomicLong
  private val events = new AtomicLong
  private val counters = new ConcurrentHashMap[(String, String), Counters]()
  private val stageKey = new ConcurrentHashMap[Int, (String, String)]()

  def counter(op: String, phase: String): Counters =
    counters.computeIfAbsent((op, phase), _ => new Counters)

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    if (tracing.get && js.properties != null) {
      val op = js.properties.getProperty("perfbench.op")
      val phase = js.properties.getProperty("perfbench.phase")
      if (op != null && phase != null) {
        val c = counter(op, phase)
        c.jobs.incrementAndGet()
        js.stageInfos.foreach(s => stageKey.put(s.stageId, (op, phase)))
      }
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    val k = stageKey.get(sc.stageInfo.stageId)
    if (tracing.get && k != null) counter(k._1, k._2).stages.incrementAndGet()
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val m = te.taskMetrics
    if (m != null) {
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      val k = stageKey.get(te.stageId)
      if (tracing.get && k != null) {
        val c = counter(k._1, k._2)
        c.tasks.incrementAndGet()
        c.taskMs.addAndGet(m.executorRunTime)
        c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        c.shuffleReadBytes.addAndGet(
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = events.incrementAndGet()
  override def onJobEnd(je: SparkListenerJobEnd): Unit = events.incrementAndGet()

  /** Returns once the asynchronous listener bus has gone quiet: the event
    * count reads the same twice, 30 ms apart (bounded at 3 s). */
  def drain(): Unit = {
    var prev = events.get
    var i = 0
    while (i < 100) {
      Thread.sleep(30)
      val cur = events.get
      if (cur == prev) return
      prev = cur; i += 1
    }
  }

  // ---- Catalyst: the sink write's QueryExecution ----

  private val plans = new ConcurrentHashMap[String, PlanStats]()
  private val tables = ConcurrentHashMap.newKeySet[String]()

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (tracing.get) {
        sinkPath(qe).foreach(p => plans.put(p, planStats(qe)))
        Trace.nodes(qe.executedPlan).foreach {
          case s: FileSourceScanExec => s.relation.location.rootPaths
            .map(_.getName).filter(_.endsWith(".parquet"))
            .foreach(n => tables.add(n.stripSuffix(".parquet")))
          case _ =>
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Names of the parquet tables the traced operations scanned so far. */
  def takeTables(): Seq[String] = {
    val t = tables.asScala.toSeq
    tables.clear()
    t
  }

  private def sinkPath(qe: QueryExecution): Option[String] = qe.logical match {
    case c: InsertIntoHadoopFsRelationCommand => Some(c.outputPath.toUri.getPath)
    case _ => None
  }

  /** The write's Catalyst record, waiting (bounded) for the bus to deliver it. */
  def takePlan(path: String): Option[PlanStats] = {
    var i = 0
    while (i < 100 && !plans.containsKey(path)) { Thread.sleep(20); i += 1 }
    Option(plans.remove(path))
  }

  private def planStats(qe: QueryExecution): PlanStats = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    val starts = ph.values.map(_.startTimeMs)
    val ends = ph.values.map(_.endTimeMs)
    val nodes = Trace.nodes(qe.executedPlan)
    PlanStats(ms("analysis"), ms("optimization"), ms("planning"),
      if (starts.isEmpty) 0L else starts.min, if (ends.isEmpty) 0L else ends.max,
      nodes.count(p => !p.isInstanceOf[DataWritingCommandExec]),
      nodes.count(_.isInstanceOf[ShuffleExchangeLike]))
  }

  // ---- Streaming: one record per micro-batch ----

  val batches = new java.util.concurrent.ConcurrentLinkedQueue[Trace.Batch]()

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String) = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      if (p.numInputRows > 0)
        batches.add(Trace.Batch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
          d("triggerExecution"), d("addBatch")))
    }
  }
}

object Trace {
  final case class Batch(id: Long, startMs: Long, triggerMs: Long, addBatchMs: Long)

  /** Every physical node of a plan that has run: adaptive plans are read
    * at their final shape, query stages are unwrapped, reused exchanges
    * count once, subqueries are included. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Summed JVM garbage-collection time so far, in seconds. */
  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  /** A span: one phase of one operation, or one micro-batch. */
  final case class Span(op: String, name: String, phase: String, startMs: Long, endMs: Long,
                        attrs: Seq[(String, Double)]) {
    def json: String = Json.obj(Seq(
      "op" -> Json.str(op), "name" -> Json.str(name), "phase" -> Json.str(phase),
      "start_ms" -> startMs.toString, "end_ms" -> endMs.toString,
      "attrs" -> Json.obj(attrs.map { case (k, v) => k -> Json.num(v) })))
  }

  final class Spans {
    private val buf = mutable.ArrayBuffer.empty[Span]
    def add(s: Span): Unit = buf.synchronized(buf += s)
    def all: Seq[Span] = buf.synchronized(buf.toSeq)
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
