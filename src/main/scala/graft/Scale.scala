package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.{KnnGraph, Portable, Similarity}

/** The soak runner: the most expensive registry queries against a
  * [[ScaleGen]]-scaled corpus, with the metrics that predict 100 TB
  * behaviour — shuffle bytes and spill — beside wall time, plus the
  * kNN-graph dial sweep.
  *
  *   runMain graft.Scale <sfDir> [names]
  *   runMain graft.Scale knn <dirCsv> <armsCsv> <mod> [repeats]
  *
  * Wall time alone can hide a superlinear shuffle behind fixed
  * overhead; shuffle-write bytes are the size-of-exchange ground truth
  * (a "dup-rate-sized relation" claim is checkable as shuffle bytes
  * growing ×copies, not ×copies²), and any disk spill at a scale that
  * fits memory means the partition sizing story failed. Each query line
  * also splits its wall into jobs, in-job seconds and the driver gap
  * (wall − Σ job walls: Catalyst, driver-side decisions, cache
  * bookkeeping), with task run, CPU and GC time; its top-8 stages
  * follow it. The `knn` scenario is [[knn]].
  */
object Scale {
  /** The soak list: the most expensive registry queries whose scale
    * claims are worth measuring every round. Re-pinned r13 on the
    * PRODUCTION-WIDTH forms (r12 verdict ask #1): the 128-bit cluster
    * family q167–q170 replaces the 60-bit q53/q160 it superseded —
    * soak cycles should measure what a 100 TB run ships — with
    * q67_canonical_docs kept as the ONE 60-bit representative (the
    * quadratic-banding canary: its ×300/×1000 trend line is the
    * longest-running in SCALE.md and guards the audit dial's cost).
    * All documents-table dedup/text/tokenizer paths; the rest of the
    * registry is dimension-sized. The r13 kNN-graph family
    * (q175/q176) soaks SEPARATELY (SCALE.md r13 section): its
    * embedding descent needs ~3× the 15×-on-disk heap rule this
    * list's flag-free config applies (measured: 15 g OOM, 48 g
    * clean at ×300), so putting it here would fail the soak for a
    * sizing reason, not a scale one.
    */
  val hot: Seq[String] = Seq(
    "q127_curation_ledger", "q104_containment",
    "q167_dedup_clusters128", "q168_canonical_docs128",
    "q169_cluster_split128", "q170_triangles128",
    "q67_canonical_docs",
    "q35_ngram_jaccard", "q156_bpe_encode",
    "q154_bpe_train", "q78_duplicated_spans",
    "q148_threshold_sweep", "q157_dup_source_matrix",
    "q102_bloom_contamination")

  /** Task metrics of every job that runs while attached — the one
    * task-metrics listener the runners share. Counters sum over all
    * tasks since the last [[reset]]; drain the listener bus
    * (`ListenerDrain.drain`) before reading them, since events post
    * asynchronously.
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

  /** Runs `body` with a [[TaskMetrics]] attached to the session's
    * context and removes it when `body` returns or throws.
    */
  def withTaskMetrics[T](spark: SparkSession)(body: TaskMetrics => T): T = {
    val tm = new TaskMetrics
    spark.sparkContext.addSparkListener(tm)
    try body(tm) finally spark.sparkContext.removeSparkListener(tm)
  }

  /** Sets the soak's shuffle partitioning on `spark` and returns it:
    * 2× cores, the 64p rule (r10 SCALE.md §1 sweep, shipped r11) — the
    * banding/inverted-index family zero-spills at tasks ≈ 2× cores when
    * memory is data-sized; 64p beat both 32p (8.9 GB spill on q127
    * ×1000) and 128p (4–6× locality cost). SPARK_GRAFT_SHUFFLE
    * overrides it for sizing experiments.
    */
  def soakPartitions(spark: SparkSession): String = {
    val n = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", (2 * GraftSession.cores).toString)
    spark.conf.set("spark.sql.shuffle.partitions", n)
    n
  }

  def main(args: Array[String]): Unit =
    if (args.headOption.contains("knn"))
      knn(args(1).split(',').map(_.trim).toSeq, args(2).split(',').map(_.trim).toSeq,
        args(3), args.lift(4).map(_.toInt).getOrElse(2))
    else soak(args(0), args.lift(1).map(_.split(',').toSeq).getOrElse(hot))

  def soak(sfDir: String, names: Seq[String]): Unit = {
    val spark = GraftSession.local()
    val nShuffle = soakPartitions(spark)
    var totalSpillDiskMb = 0.0
    withTaskMetrics(spark) { tm =>
      // JIT/codegen warmup on the tiny SF so measured runs are execution
      // (same policy as Bench); warmup failures are ignored, the measured
      // run surfaces them
      names.foreach { n =>
        try SparkEntry.queries(n)(spark, "/root/testdata/sf0.001")
          .write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
        CacheScope.drain(); spark.catalog.clearCache()
      }

      // SPARK_GRAFT_REPEATS=N: run each query N times IN-JVM and report
      // the min wall (Bench's noise-robust estimator — ×300 wall on the
      // heavy spillers is bimodal and the host window drifts within a
      // session, so single-sample soak A/Bs mislead). Every counter and
      // the stage table come from the min-wall SUCCESSFUL repeat alone:
      // a failing repeat can abort early with a tiny wall, so letting it
      // win the min would report a failed run's counters as the query's
      // cost. err is reported only when every repeat failed.
      val repeats = sys.env.getOrElse("SPARK_GRAFT_REPEATS", "1").toInt max 1
      var totalSec = 0.0
      names.foreach { n =>
        var best = Double.MaxValue
        var bestFields = new TaskMetrics().fields(0.0)
        var bestSpillMb = 0.0
        var bestStages = Seq.empty[String]
        var lastErr = ""
        var nFailed = 0
        (1 to repeats).foreach { _ =>
          // drains the warmup's or the last repeat's straggler events
          // before the reset, so they cannot land in this repeat
          ListenerDrain.drain(spark.sparkContext); tm.reset()
          val t0 = System.nanoTime()
          val e =
            try { SparkEntry.queries(n)(spark, sfDir)
              .write.format("noop").mode("overwrite").save(); "" }
            catch { case ex: Throwable => ex.getClass.getSimpleName }
          val dt = (System.nanoTime() - t0) / 1e9
          CacheScope.drain(); spark.catalog.clearCache()
          ListenerDrain.drain(spark.sparkContext)
          if (e.nonEmpty) { lastErr = e; nFailed += 1 }
          else if (dt < best) {
            best = dt
            bestFields = tm.fields(dt)
            bestSpillMb = tm.diskSpill.get / 1048576.0
            bestStages = tm.topStages(8)
          }
        }
        val allFailed = nFailed == repeats
        val sec = if (allFailed) 0.0 else best
        totalSec += sec
        totalSpillDiskMb += bestSpillMb
        println(f"""{"query":${Json.str(n)},"sec":$sec%.3f,$bestFields,"repeats":$repeats,"failed_repeats":$nFailed,"shuffle_partitions":$nShuffle,"err":${Json.str(if (allFailed) lastErr else "")}}""")
        bestStages.foreach(println)
      }
      println(f"""{"metric":"scale_total","sec":$totalSec%.1f,"sf":${Json.str(sfDir)},"n_queries":${names.size},"shuffle_partitions":$nShuffle}""")
    }
    spark.stop()
    // SPARK_GRAFT_ASSERT_NOSPILL=1: the zero-spill claim as an exit
    // code — tools/soak.sh --certify uses it to certify that the default
    // partition sizing reproduces the ×1000 zero-spill config without
    // hand flags. Asserts on the min-wall repeats' disk spill.
    if (sys.env.get("SPARK_GRAFT_ASSERT_NOSPILL").contains("1") &&
      totalSpillDiskMb > 0.0) {
      System.err.println(
        f"[scale] NOSPILL ASSERT FAILED: $totalSpillDiskMb%.1f MB disk spill")
      sys.exit(1)
    }
  }

  /** The kNN-graph dial sweep (q175/q176's 100 TB story, measured): the
    * registered queries pick the LSH plane count AUTOMATICALLY
    * ([[KnnGraph.planesFor]] holds bucket size ~32); this prices
    * arbitrary dial points against it. With planes FIXED, bucket size
    * grows ~n/2^planes and the init pairing term n·(planes+1)·n/2^planes
    * goes corpus-quadratic (the fixed width-6 form filled the scratch
    * disk at ×30 before failing); raising planes with corpus size holds
    * the init linear — and each line shows what a dial point COSTS and
    * what recall it BUYS.
    *
    * `dirs`: corpus dirs measured in ONE session, so the uniform driver
    * corpus (LSH/descent's worst case) and a `ScaleGen clustered`
    * mixture fixture (the realistic case) are same-session-comparable.
    *
    * `arms`: each is `planes[:rounds[:kBuild[:segments[:finisher]]]]` —
    * planes a number or `auto` ([[KnnGraph.planesFor]]); rounds defaults
    * to [[KnnGraph.Rounds]]; kBuild to [[KnnGraph.K]]; segments to 1
    * (one-shot init; > 1 runs the bounded-scratch segmented init,
    * [[KnnGraph.initTopK]]). kBuild > K builds wide and audits the
    * narrow top-K truncation, so every arm answers the same question —
    * "how good are the K neighbors this dial ships?". The finisher is
    * `h2` ([[KnnGraph.h2Rerank]]), `auto` (h2 or none, picked from
    * [[KnnGraph.occupancySkew]]) or empty.
    *
    * `modArg` is a number or `auto` ([[KnnGraph.modFor]]). Each arm
    * times the FULL graph build (init + descent, forced by a checksum
    * aggregate, min over `repeats`), then audits final-graph recall@K
    * against the exact ground truth on the h60 % mod sample. One
    * `knn_bench` line per (dir, arm) — cost and recall as one table.
    */
  def knn(dirs: Seq[String], arms: Seq[String], modArg: String, repeats: Int): Unit = {
    val spark = GraftSession.local()
    val nShuffle = soakPartitions(spark)

    for (dir <- dirs) {
      val e = Similarity.nv(spark, dir).select("vec_id", "qe", "nrm")
        .persist()
      val n = e.count()
      val mod = modArg match {
        case "auto" => KnnGraph.modFor(n)
        case m => m.toLong
      }

      // exact ground truth on the h60 % mod sample — shared by every
      // arm (the dial under test is the GRAPH's, not the audit's)
      val ex = e.filter(expr(
          s"${Portable.h60Spark("cast(vec_id as string)")} % $mod = 0"))
        .select(col("vec_id").as("v"), col("qe").as("vqe"),
          col("nrm").as("vnrm"))
        .join(e.select(col("vec_id").as("w"), col("qe").as("wqe"),
          col("nrm").as("wnrm")), col("w") =!= col("v"))
        .select(col("v"), col("w"),
          expr("cast(vec_ldot(vqe, wqe) as double) / (vnrm * wnrm)").as("cos"))
        .withColumn("r", row_number().over(
          Window.partitionBy("v").orderBy(col("cos").desc, col("w"))))
        .filter(col("r") <= KnnGraph.K)
        .select("v", "w")
        .persist()
      val nExact = ex.count()
      // a mistyped modulus must not read as recall 0.0, which looks
      // like a catastrophically bad plane width
      require(nExact > 0,
        s"audit sample is empty: h60(vec_id) % $mod = 0 matched no rows " +
          s"of the $n-vector corpus — bad mod dial (try 'auto' = ${KnnGraph.modFor(n)})")

      for (arm <- arms) {
        val parts = arm.split(':')
        val planes = parts(0) match {
          case "auto" => KnnGraph.planesFor(n)
          case p => p.toInt
        }
        val rounds = parts.lift(1).map(_.toInt).getOrElse(KnnGraph.Rounds)
        val kBuild = parts.lift(2).map(_.toInt).getOrElse(KnnGraph.K)
        // the audit reads the top-K truncation, so a graph built
        // narrower than K would understate recall
        require(kBuild >= KnnGraph.K,
          s"arm '$arm': kBuild=$kBuild < K=${KnnGraph.K} — recall@${KnnGraph.K} " +
            s"audits the top-${KnnGraph.K} truncation, which a $kBuild-rank " +
            "graph cannot fill; build at least K neighbors per node")
        val segments = parts.lift(3).map(_.toInt).getOrElse(1)
        val finisher = parts.lift(4).getOrElse("")
        // `auto` resolves to h2-or-none ONCE per (dir, arm) from the
        // measured init-bucket occupancy skew: uniform-ish corpora (skew
        // below the pinned threshold) take the +recall h2 harvest,
        // clustered corpora (where the descent already saturates) skip
        // its ~2× init term. The probe's own cost is timed and emitted.
        val tProbe = System.nanoTime()
        val skew =
          if (finisher == "auto") KnnGraph.occupancySkew(e, planes) else -1.0
        val probeSec = (System.nanoTime() - tProbe) / 1e9
        val resolved =
          if (finisher == "auto")
            (if (skew < KnnGraph.H2SkewThreshold) "h2" else "") else finisher
        def build(): DataFrame = {
          val g = KnnGraph.descend(e, planes = planes, rounds = rounds,
            k = kBuild, segments = segments).last
          // the h2 output is checkpointed: the edge count and the audit
          // both read it, and only the descent was checkpointed
          resolved match {
            case "h2" => CacheScope.checkpointed(
              KnnGraph.h2Rerank(e, g, planes, kBuild))
            case "" => g
            case f => throw new IllegalArgumentException(s"unknown finisher '$f'")
          }
        }
        var best = Double.MaxValue
        var edges = 0L
        var g: DataFrame = null
        for (_ <- 1 to repeats) {
          // releases the previous build; the LAST build stays cached for
          // the audit below
          CacheScope.drain()
          val t0 = System.nanoTime()
          g = build()
          // checksum forces every edge (and so the whole descent)
          g.selectExpr("sum(v + w + rank) as checksum")
            .write.format("noop").mode("overwrite").save()
          val sec = (System.nanoTime() - t0) / 1e9
          if (sec < best) best = sec
          edges = g.count()
        }
        // audit_sec is the incremental semi-join time over the cached
        // graph; recall is ALWAYS on the top-K truncation so arms compare
        val t1 = System.nanoTime()
        val found = ex.join(
          g.filter(col("rank") <= KnnGraph.K).select(col("v"), col("w")),
          Seq("v", "w"), "left_semi").count()
        val auditSec = (System.nanoTime() - t1) / 1e9
        CacheScope.drain()
        val recall = math.floor(found * 1e6 / nExact) / 1e6
        val autoFields =
          if (finisher == "auto")
            f""","occupancy_skew":$skew%.3f,"probe_sec":$probeSec%.3f,"resolved_finisher":${Json.str(resolved)},"skew_threshold":${KnnGraph.H2SkewThreshold}"""
          else ""
        println(f"""{"metric":"knn_bench","dir":"$dir","planes":$planes,"rounds":$rounds,"k_build":$kBuild,"segments":$segments,"finisher":${Json.str(finisher)},"sec":$best%.3f,"edges":$edges,"n":$n,"mod":$mod,"audit_sec":$auditSec%.3f,"n_exact":$nExact,"n_found":$found,"recall_at_${KnnGraph.K}":$recall%.6f,"repeats":$repeats,"shuffle_partitions":$nShuffle$autoFields}""")
      }
      e.unpersist(); ex.unpersist()
    }
    spark.stop()
  }
}
