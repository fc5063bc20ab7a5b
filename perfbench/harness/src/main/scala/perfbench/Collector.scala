package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, TakeOrderedAndProjectExec, UnionExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** Reads the engine from outside through Spark's public listeners: one
  * record per job (with its stages' task totals and the call site that
  * launched it), one per successful Dataset action (Catalyst phase
  * times, exchange count, output rows) and one per streaming progress
  * event. Nothing here changes what the engine runs.
  */
final class Collector(spark: SparkSession) {
  import Collector._

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val execSites = new ConcurrentHashMap[Long, String]()
  private val actions = new ConcurrentLinkedQueue[Action]()
  private val progress = new ConcurrentLinkedQueue[Progress]()
  @volatile private var listenerNanos = 0L

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    listenerNanos += System.nanoTime() - t0
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      // A SQL action's stage jobs may run on adaptive-execution threads;
      // the call site of the action that owns them is its execution's.
      val site = prop("spark.sql.execution.id").flatMap(id => Option(execSites.get(id.toLong)))
        .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse(""))
      jobs.put(e.jobId, new Job(e.jobId, e.time, prop(OpKey),
        prop("sql.streaming.queryId"), site, e.stageIds.size))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => timed(execSites.put(s.executionId, s.details))
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val si = e.stageInfo
      Option(jobs.get(stageJob.getOrDefault(si.stageId, -1))).foreach { j =>
        j.synchronized {
          j.tasks += si.numTasks
          val m = si.taskMetrics
          if (m != null) {
            j.cpuNs += m.executorCpuTime
            j.gcMs += m.jvmGCTime
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = timed {
      val phases = qe.tracker.phases
      def ph(k: String) = phases.get(k).map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
      val plan = qe.executedPlan
      actions.add(Action(
        ph("analysis"), ph("optimization"), ph("planning"),
        Plans.collect(plan) { case e: Exchange => e }.size,
        Plans.outputRows(plan)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = timed {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
      val st = p.stateOperators.toSeq
      val observed = Option(p.observedMetrics.get("graft_ingest")).map { r =>
        r.schema.fieldNames.toSeq.map(f => f -> r.getAs[Any](f).toString.toDouble).toMap
      }.getOrElse(Map.empty)
      progress.add(Progress(p.id.toString, p.numInputRows, d,
        st.map(_.commitTimeMs.toDouble).sum, st.map(_.numRowsTotal).sum,
        st.map(_.memoryUsedBytes).sum, observed))
    }
  }

  spark.sparkContext.addSparkListener(jobListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Waits until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)

  def detach(): Unit = {
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(jobListener)
  }

  /** Milliseconds spent inside the listener callbacks. */
  def listenerMs: Double = listenerNanos / 1e6

  def mark(): Mark = { drain(); Mark(maxJob, actions.size, progress.size) }

  private def maxJob: Int = if (jobs.isEmpty) -1 else jobs.keySet.asScala.max

  /** Everything recorded since `m`, after draining the listener bus. */
  def since(m: Mark): Window = {
    drain()
    Window(
      jobs.values.asScala.filter(_.id > m.job).toSeq.sortBy(_.id),
      actions.asScala.drop(m.actions).toSeq,
      progress.asScala.drop(m.progress).toSeq)
  }
}

object Collector {
  /** Local property that tags the jobs of one benchmark operation. */
  val OpKey = "perfbench.op"

  final class Job(val id: Int, val start: Long, val op: Option[String],
      val streamQuery: Option[String], val callSite: String, val stages: Int) {
    @volatile var end: Long = -1L
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }

  final case class Action(analysisMs: Double, optimizationMs: Double, planningMs: Double,
      exchanges: Int, outputRows: Option[Long])

  final case class Progress(id: String, rows: Long,
      durationMs: Map[String, Double], stateCommitMs: Double, stateRows: Long,
      stateMemBytes: Long, observed: Map[String, Double])

  final case class Mark(job: Int, actions: Int, progress: Int)
  val Start = Mark(-1, 0, 0)

  final case class Window(jobs: Seq[Job], actions: Seq[Action], progress: Seq[Progress]) {
    def stages: Long = jobs.map(_.stages.toLong).sum
    def tasks: Long = jobs.map(_.tasks).sum
    def cpuMs: Double = jobs.map(_.cpuNs).sum / 1e6
    def gcMs: Double = jobs.map(_.gcMs).sum.toDouble
    def shuffleWrite: Long = jobs.map(_.shuffleWrite).sum
    def spill: Long = jobs.map(_.spill).sum
    def exchanges: Long = actions.map(_.exchanges.toLong).sum

    /** Milliseconds of [from, to] covered by at least one running job. */
    def jobCoveredMs(from: Long, to: Long): Double =
      Trace.coverage(jobs.map(j => (j.start max from, (if (j.end < 0) to else j.end) min to)))
  }
}

/** Plan helpers that look through adaptive query stages. */
object Plans extends AdaptiveSparkPlanHelper {
  /** Operators whose output has exactly their input's rows. */
  private val rowPreserving = Set("Project", "Sort", "Window", "InputAdapter",
    "AQEShuffleRead", "ColumnarToRow", "RowToColumnar", "Exchange", "ReusedExchange",
    "DeserializeToObject", "SerializeFromObject", "MapElements", "Coalesce",
    "OverwriteByExpression", "AppendData", "OverwritePartitionsDynamic")

  /** Rows the action's root produced, from the SQL metrics the write
    * already recorded (no extra action): the nearest operator below the
    * noop sink that counts its output rows, looking through operators
    * that keep their input's rows, and summing the branches of a union.
    * None when the plan does not say. */
  def outputRows(plan: SparkPlan): Option[Long] = {
    def go(p: SparkPlan): Option[Long] =
      p.metrics.get("numOutputRows").map(_.value).orElse(p match {
        case a: AdaptiveSparkPlanExec => go(a.executedPlan)
        case q: QueryStageExec => go(q.plan)
        case w: WholeStageCodegenExec => go(w.child)
        case u: UnionExec =>
          val parts = u.children.map(go)
          if (parts.forall(_.isDefined)) Some(parts.flatten.sum) else None
        case t: TakeOrderedAndProjectExec =>
          go(t.child).map(c => (c - t.offset).max(0L).min(t.limit.toLong))
        case e: ShuffleExchangeLike if e.metrics.contains("shuffleRecordsWritten") =>
          Some(e.metrics("shuffleRecordsWritten").value)
        case o if o.children.size == 1 && rowPreserving.exists(n => o.nodeName.startsWith(n)) =>
          go(o.children.head)
        case _ => None
      })
    go(plan)
  }
}
