package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Scale soak: run the most expensive registry queries against a
  * [[ScaleGen]]-scaled corpus and report wall time PLUS the metrics
  * that actually predict 100 TB behavior — shuffle bytes and spill.
  * `runMain graft.Scale <sfDir> [names]` prints one JSON line per query
  * and a trailing summary line.
  *
  * Wall time alone can hide a superlinear shuffle behind fixed
  * overhead; shuffle-write bytes are the size-of-exchange ground truth
  * (a "dup-rate-sized relation" claim is checkable as shuffle bytes
  * growing ×copies, not ×copies²), and any disk spill at a scale that
  * fits memory means the partition sizing story failed.
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

  /** Host-speed calibration subset + anchor live in [[HostCal]] (r12:
    * extracted so StreamBench's ingest lines carry the same stamp —
    * r11 ask #3).
    */
  val calQueries: Seq[String] = HostCal.calQueries
  val CalAnchorR9Sec: Double = HostCal.CalAnchorR9Sec

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.lift(1).map(_.split(',').toSeq).getOrElse(hot)
    val spark = GraftSession.local()
    // The 64p rule as code (r10 SCALE.md §1 sweep, shipped r11): the
    // banding/inverted-index family zero-spills at tasks ≈ 2× cores
    // when memory is data-sized — 64p beat both 32p (8.9 GB spill on
    // q127 ×1000) and 128p (4–6× locality cost) — so the SOAK defaults
    // to 2× cores instead of GraftSession's cores-sized bench default.
    // SPARK_GRAFT_SHUFFLE still overrides for sizing experiments.
    val nShuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", (2 * GraftSession.cores).toString)
    spark.conf.set("spark.sql.shuffle.partitions", nShuffle)

    val shufRead = new AtomicLong; val shufWrite = new AtomicLong
    val memSpill = new AtomicLong; val diskSpill = new AtomicLong
    // SPARK_GRAFT_STAGES=1: per-stage task-time breakdown (top 8 per
    // query) — names the dominant stage instead of guessing from the
    // query total. stage task-seconds ≈ wall × concurrency, so shares,
    // not absolutes, are the signal.
    // inputBytes accumulates RAW bytes (divide once at print): per-task
    // integer division truncated every sub-1MB task to 0, and
    // input_mb=0 vs >0 is the documented cache-vs-scan discriminator
    // (r9 ADVICE).
    case class StageAgg(name: String, taskMs: AtomicLong, nTasks: AtomicLong,
        inputBytes: AtomicLong)
    val stageSec =
      new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          memSpill.addAndGet(m.memoryBytesSpilled)
          diskSpill.addAndGet(m.diskBytesSpilled)
          if (sys.env.contains("SPARK_GRAFT_STAGES")) {
            val info = te.taskInfo
            if (info != null) {
              val agg = stageSec.computeIfAbsent(te.stageId,
                _ => StageAgg("", new AtomicLong, new AtomicLong, new AtomicLong))
              agg.taskMs.addAndGet(info.duration)
              agg.nTasks.incrementAndGet()
              agg.inputBytes.addAndGet(m.inputMetrics.bytesRead)
            }
          }
        }
      }
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        if (sys.env.contains("SPARK_GRAFT_STAGES")) {
          val si = sc.stageInfo
          // the stage NAME under AQE is just the materialization call
          // site; the RDD scope names inside the stage are the
          // operators (Exchange, WholeStageCodegen, ObjectHashAggregate
          // …) — that's the attribution a human needs. CAVEAT: the
          // stage graph is static lineage, so a cached relation's
          // parent RDDs (FileScanRDD, Generate, …) appear in the name
          // even when every read is served from cache blocks — use
          // input_mb to tell them apart (block-manager reads count as
          // input; this setup's parquet scans report 0)
          val ops = si.rddInfos.map(_.name.takeWhile(_ != '\n')).distinct
            .filterNot(n => n.isEmpty || n.startsWith("Shuffled") || n == "MapPartitionsRDD")
            .mkString("|")
          val cur = stageSec.computeIfAbsent(si.stageId,
            _ => StageAgg("", new AtomicLong, new AtomicLong, new AtomicLong))
          stageSec.put(si.stageId, cur.copy(name = ops))
        }
    })

    // JIT/codegen warmup on the tiny SF so measured runs are execution
    // (same policy as Bench); ignore warmup failures, measured run will
    // surface them loudly.
    val warm = "/root/testdata/sf0.001"
    val warmNames = if (HostCal.enabled) names ++ calQueries else names
    warmNames.foreach { n =>
      try SparkEntry.queries(n)(spark, warm)
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
      CacheScope.drain(); spark.catalog.clearCache()
    }
    // Host-speed calibration (r10 verdict ask #6: soak lines need the
    // same per-run normalization denominator the bench emits, so
    // cross-round hot-12 comparisons aren't host-window hostage):
    // [[HostCal.measure]] — min-of-3 over the fixed sf0.1 subset,
    // median / r9-clean anchor, failed repeats excluded, cal block
    // pinned to the anchor's cores-sized partition config (r11 ADVICE
    // ×2 and ask #4; see HostCal's scaladoc). Stamped on every soak
    // line below; -1 disabled, -2 poisoned.
    val hostSpeed = HostCal.measure(spark, GraftSession.cores, nShuffle)
    // drain straggler warmup task-end events before the first measured
    // reset (r6 ADVICE: without this, warmup stragglers pollute the
    // first query's numbers). waitUntilEmpty is the REAL drain — the
    // old Thread.sleep(500) was a bounded race (r7 ask #7).
    org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
    // the warmup loop itself populated stageSec — clear it so the
    // first measured query's stage table is its own (r9 ADVICE: stage
    // attribution is exactly the tool used to chase hot stages, so
    // 12 warmup queries' rows in the first table mislead).
    stageSec.clear()

    // SPARK_GRAFT_REPEATS=N: run each query N times IN-JVM and report
    // the min wall (Bench's noise-robust estimator — round-9 found
    // ×300 wall on the heavy spillers is bimodal and the host window
    // drifts within a session, so single-sample soak A/Bs mislead).
    // Shuffle/spill counters AND the stage table are from the min-wall
    // SUCCESSFUL repeat alone: a failing repeat can abort early with a
    // tiny wall, so letting it win the min would report a failed run's
    // counters as the query's cost (r9 ADVICE). err is reported only
    // when every repeat failed.
    val repeats = sys.env.getOrElse("SPARK_GRAFT_REPEATS", "1").toInt max 1
    var totalSec = 0.0
    var totalSpillDiskMb = 0.0
    names.foreach { n =>
      var best = Double.MaxValue
      var bestM = (0.0, 0.0, 0.0, 0.0)
      var bestStages = Seq.empty[(Int, String, Long, Long, Long)]
      var lastErr = ""
      var nFailed = 0
      (1 to repeats).foreach { _ =>
        shufRead.set(0); shufWrite.set(0); memSpill.set(0); diskSpill.set(0)
        // fresh stage IDs per repeat — clear so the table we snapshot
        // below is exactly this repeat's stages, not a cross-repeat mix
        stageSec.clear()
        val t0 = System.nanoTime()
        val e =
          try { SparkEntry.queries(n)(spark, sfDir)
            .write.format("noop").mode("overwrite").save(); "" }
          catch { case ex: Throwable => ex.getClass.getSimpleName }
        val dt = (System.nanoTime() - t0) / 1e9
        CacheScope.drain(); spark.catalog.clearCache()
        // listener events post asynchronously; wait until the bus is
        // actually empty before reading the counters (shim around the
        // private[spark] waitUntilEmpty — see ListenerDrain)
        org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
        def mb(v: AtomicLong) = v.get / 1048576.0
        if (e.nonEmpty) { lastErr = e; nFailed += 1 }
        else if (dt < best) {
          best = dt
          bestM = (mb(shufRead), mb(shufWrite), mb(memSpill), mb(diskSpill))
          if (sys.env.contains("SPARK_GRAFT_STAGES")) {
            import scala.jdk.CollectionConverters._
            bestStages = stageSec.asScala.toSeq.map { case (id, a) =>
              (id, a.name, a.taskMs.get, a.nTasks.get, a.inputBytes.get)
            }
          }
        }
      }
      val allFailed = nFailed == repeats
      val err = if (allFailed) lastErr else ""
      val sec = if (allFailed) 0.0 else best
      totalSec += sec
      totalSpillDiskMb += bestM._4
      println(f"""{"query":${Json.str(n)},"sec":$sec%.3f,"shuffle_read_mb":${bestM._1}%.1f,"shuffle_write_mb":${bestM._2}%.1f,"spill_mem_mb":${bestM._3}%.1f,"spill_disk_mb":${bestM._4}%.1f,"repeats":$repeats,"failed_repeats":$nFailed,"shuffle_partitions":$nShuffle,"host_speed_vs_clean_r9":$hostSpeed%.3f,"err":${Json.str(err)}}""")
      if (sys.env.contains("SPARK_GRAFT_STAGES")) {
        bestStages.sortBy(-_._3).take(8).foreach {
          case (id, name, taskMs, nTasks, inBytes) =>
            println(f"""{"stage":$id,"task_sec":${taskMs / 1e3}%.1f,"n_tasks":$nTasks,"input_mb":${inBytes / 1048576},"name":${Json.str(name)}}""")
        }
        stageSec.clear()
      }
    }
    println(f"""{"metric":"scale_total","sec":$totalSec%.1f,"sf":${Json.str(sfDir)},"n_queries":${names.size},"shuffle_partitions":$nShuffle,"host_speed_vs_clean_r9":$hostSpeed%.3f}""")
    spark.stop()
    // SPARK_GRAFT_ASSERT_NOSPILL=1: the zero-spill claim as an exit
    // code — the soak harness (tools/soak.sh) uses this to certify the
    // default partition sizing reproduces the ×1000 zero-spill config
    // without hand flags. Asserts on the min-wall repeat's disk spill
    // across the whole run.
    if (sys.env.get("SPARK_GRAFT_ASSERT_NOSPILL").contains("1") &&
      totalSpillDiskMb > 0.0) {
      System.err.println(
        f"[scale] NOSPILL ASSERT FAILED: $totalSpillDiskMb%.1f MB disk spill")
      sys.exit(1)
    }
  }
}
