package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Task metrics of every job that runs while attached — the one
  * task-metrics listener the runners (Bench, Scale, Pipeline) share.
  * Counters sum over all tasks since the last [[reset]]; drain the
  * listener bus (`ListenerDrain.drain`) before reading them, since
  * events post asynchronously.
  */
final class TaskMetrics extends SparkListener {
  val shuffleRead, shuffleWrite, memSpill, diskSpill, inputBytes =
    new AtomicLong
  val runMs, cpuNs, gcMs = new AtomicLong
  // per job: (start, end) event times in ms; end -1 until it ends
  private val jobs = new ConcurrentHashMap[Int, Array[Long]]()
  // per stage: task ms, task count, input bytes and the operator name.
  // inputBytes accumulates RAW bytes (divided once at print): per-task
  // division truncated every sub-1MB task to 0, and input_mb 0 vs >0
  // is the cache-vs-scan discriminator
  private final class StageAgg {
    val taskMs, nTasks, inputBytes = new AtomicLong
    @volatile var name = ""
  }
  private val stages = new ConcurrentHashMap[Int, StageAgg]()
  private def stage(id: Int) = stages.computeIfAbsent(id, _ => new StageAgg)

  def reset(): Unit = {
    Seq(shuffleRead, shuffleWrite, memSpill, diskSpill, inputBytes,
      runMs, cpuNs, gcMs).foreach(_.set(0))
    jobs.clear(); stages.clear()
  }

  override def onJobStart(js: SparkListenerJobStart): Unit =
    jobs.put(js.jobId, Array(js.time, -1L))
  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    Option(jobs.get(je.jobId)).foreach(_(1) = je.time)

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) {
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      memSpill.addAndGet(m.memoryBytesSpilled)
      diskSpill.addAndGet(m.diskBytesSpilled)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      runMs.addAndGet(m.executorRunTime)
      // run − cpu = time blocked inside tasks (lock contention,
      // cache-fill races, fetch wait)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      if (te.taskInfo != null) {
        val s = stage(te.stageId)
        s.taskMs.addAndGet(te.taskInfo.duration)
        s.nTasks.incrementAndGet()
        s.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      }
    }
  }

  // the stage NAME under AQE is just the materialization call site;
  // the RDD scope names inside the stage are the operators (Exchange,
  // WholeStageCodegen, ObjectHashAggregate …). CAVEAT: the stage
  // graph is static lineage, so a cached relation's parent RDDs
  // (FileScanRDD, Generate, …) appear in the name even when every
  // read is served from cache blocks — input_mb tells them apart
  // (block-manager reads count as input; parquet scans here report 0)
  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
    stage(sc.stageInfo.stageId).name = sc.stageInfo.rddInfos
      .map(_.name.takeWhile(_ != '\n')).distinct
      .filterNot(n => n.isEmpty || n.startsWith("Shuffled") || n == "MapPartitionsRDD")
      .mkString("|")

  def jobCount: Int = jobs.size
  /** Σ job walls in seconds (jobs still running count 0). */
  def inJobSec: Double = jobs.values.asScala
    .map(j => if (j(1) > 0) (j(1) - j(0)) / 1e3 else 0.0).sum

  /** The counters as JSON fields of a query line whose action took
    * `wallSec`: MB of shuffle and spill, then jobs, in-job seconds, the
    * driver gap (wall − Σ job walls) and task run/CPU/GC seconds.
    */
  def fields(wallSec: Double): String = {
    def mb(v: AtomicLong) = v.get / 1048576.0
    f""""shuffle_read_mb":${mb(shuffleRead)}%.1f,"shuffle_write_mb":${mb(shuffleWrite)}%.1f,"spill_mem_mb":${mb(memSpill)}%.1f,"spill_disk_mb":${mb(diskSpill)}%.1f,"jobs":$jobCount,"in_job_sec":$inJobSec%.3f,"driver_gap_sec":${wallSec - inJobSec}%.3f,"task_run_sec":${runMs.get / 1e3}%.3f,"task_cpu_sec":${cpuNs.get / 1e9}%.3f,"gc_sec":${gcMs.get / 1e3}%.3f"""
  }

  /** The `k` stages with the most task time, as JSON lines. Stage
    * task-seconds ≈ wall × concurrency, so shares, not absolutes, are
    * the signal.
    */
  def topStages(k: Int): Seq[String] =
    stages.asScala.toSeq.sortBy(-_._2.taskMs.get).take(k).map { case (id, s) =>
      f"""{"stage":$id,"task_sec":${s.taskMs.get / 1e3}%.1f,"n_tasks":${s.nTasks.get},"input_mb":${s.inputBytes.get / 1048576},"name":${Json.str(s.name)}}"""
    }
}

object TaskMetrics {
  /** Runs `body` with a [[TaskMetrics]] attached to the session's
    * context and removes it when `body` returns or throws.
    */
  def attached[T](spark: SparkSession)(body: TaskMetrics => T): T = {
    val tm = new TaskMetrics
    spark.sparkContext.addSparkListener(tm)
    try body(tm) finally spark.sparkContext.removeSparkListener(tm)
  }
}
