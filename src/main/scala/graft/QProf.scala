package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-query job-level profiler (r16 optimization round, guide §1):
  * `runMain graft.QProf <sfDir> <queryName...>` runs each query once
  * against the noop sink (after one uncounted sf0.001 warmup pass for
  * JIT parity with Bench) and prints, per query:
  *
  *   - wall seconds,
  *   - number of Spark jobs the single action fanned out into,
  *   - summed in-job seconds vs the DRIVER GAP (wall − Σ job walls —
  *     Catalyst analysis/optimization, driver-side decisions, cache
  *     bookkeeping), which is the quantity the bench-scale
  *     "iterative overhead" floor is made of,
  *   - per-job wall + task count + executor task time, so a query's
  *     job COUNT (checkpoint materializations, count() decisions,
  *     AQE stage re-planning) is attributable line by line.
  *
  * Diagnostic only — the driver contract (Bench/Verify) is untouched.
  */
object QProf {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.tail.toSeq else Seq("q01_pricing_summary")
    val spark = GraftSession.local()

    case class J(start: Long, var end: Long = -1L, var tasks: Int = 0,
      var taskMs: Long = 0L, var gcMs: Long = 0L, var cpuMs: Long = 0L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.put(js.jobId, J(js.time))
        js.stageIds.foreach(sid => stageToJob.put(sid, js.jobId))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val j = jobs.get(je.jobId); if (j != null) j.end = je.time
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val jid = stageToJob.getOrDefault(sc.stageInfo.stageId, -1)
        val j = jobs.get(jid)
        if (j != null) {
          j.tasks += sc.stageInfo.numTasks
          j.taskMs += sc.stageInfo.taskMetrics.executorRunTime
          j.gcMs += sc.stageInfo.taskMetrics.jvmGCTime
          // run − cpu = blocked/waiting inside tasks (lock contention,
          // cache-fill races, fetch wait) — the r17 32-core adjudicator
          j.cpuMs += sc.stageInfo.taskMetrics.executorCpuTime / 1000000L
        }
      }
    })

    def run(name: String, dir: String): Unit =
      SparkEntry.queries(name)(spark, dir).write
        .format("noop").mode("overwrite").save()

    // JIT/codegen warmup at sf0.001 — Bench's discipline. Guard the
    // null parent a single-segment relative sfDir produces (r16 ADVICE):
    // fall back to sfDir itself rather than NPE.
    val parent = Option(new java.io.File(sfDir).getParentFile)
    val warmDir = parent.fold(sfDir)(p => new java.io.File(p, "sf0.001").toString)
    names.foreach { n =>
      try run(n, warmDir) catch { case e: Throwable =>
        System.err.println(s"[qprof] warmup $n failed: ${e.getMessage}") }
      CacheScope.drain(blocking = true); spark.catalog.clearCache()
    }

    names.foreach { n =>
      jobs.clear(); stageToJob.clear()
      spark.sparkContext.setJobDescription(n)
      val t0 = System.nanoTime()
      try run(n, sfDir) catch { case e: Throwable =>
        System.err.println(s"[qprof] $n FAILED: ${e.getMessage}") }
      val wallS = (System.nanoTime() - t0) / 1e9
      CacheScope.drain(blocking = true); spark.catalog.clearCache()
      // listener events are async; wait until the bus is actually empty
      // (r16 ADVICE: the old Thread.sleep(300) was a race by
      // construction — ListenerDrain is the real drain)
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      val snap = {
        import scala.jdk.CollectionConverters._
        jobs.asScala.toSeq.sortBy(_._1)
      }
      val jobWallS = snap.map { case (_, j) =>
        if (j.end > 0) (j.end - j.start) / 1e3 else 0.0 }.sum
      val gcS = snap.map(_._2.gcMs).sum / 1e3
      val cpuS = snap.map(_._2.cpuMs).sum / 1e3
      val runS = snap.map(_._2.taskMs).sum / 1e3
      println(f"[qprof] $n%-30s wall=$wallS%7.3f s  jobs=${snap.size}%3d  " +
        f"in-job=$jobWallS%7.3f s  driver-gap=${wallS - jobWallS}%7.3f s  gc=$gcS%6.3f s" +
        f"  taskRun=$runS%8.3f s  taskCpu=$cpuS%8.3f s")
      snap.foreach { case (id, j) =>
        val w = if (j.end > 0) (j.end - j.start) / 1e3 else -1.0
        println(f"[qprof]   job $id%3d  wall=$w%7.3f s  tasks=${j.tasks}%4d  taskTime=${j.taskMs / 1e3}%8.3f s  cpu=${j.cpuMs / 1e3}%8.3f s  gc=${j.gcMs / 1e3}%6.3f s")
      }
    }
    spark.stop()
  }
}
