package graft

import org.apache.spark.sql.SparkSession

/** The soak runner: the most expensive registry queries against a
  * [[ScaleGen]]-scaled corpus, with the metrics that predict 100 TB
  * behaviour — shuffle bytes and spill — beside wall time.
  *
  *   runMain graft.Scale <sfDir> [names]
  *
  * `names` defaults to [[hot]]; any registry query soaks through it, the
  * kNN-graph family included (`q175_knn_graph,q176_knn_graph_recall`
  * prices the shipped graph dial — its build cost and its recall).
  *
  * Wall time alone can hide a superlinear shuffle behind fixed
  * overhead; shuffle-write bytes are the size-of-exchange ground truth
  * (a "dup-rate-sized relation" claim is checkable as shuffle bytes
  * growing ×copies, not ×copies²), and any disk spill at a scale that
  * fits memory means the partition sizing story failed. Each query line
  * also splits its wall into jobs, in-job seconds and the driver gap
  * (wall − Σ job walls: Catalyst, driver-side decisions, cache
  * bookkeeping), with task run, CPU and GC time; its top-8 stages
  * follow it.
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
    * (q175/q176) soaks SEPARATELY, through the names argument (SCALE.md
    * r13 section): its embedding descent needs ~3× the 15×-on-disk heap
    * rule this list's flag-free config applies (measured: 15 g OOM,
    * 48 g clean at ×300), so putting it here would fail the soak for a
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
    soak(args(0), args.lift(1).map(_.split(',').toSeq).getOrElse(hot))

  def soak(sfDir: String, names: Seq[String]): Unit = {
    val spark = GraftSession.local()
    val nShuffle = soakPartitions(spark)
    // passes: ×300 wall on the heavy spillers is bimodal and the host
    // window drifts within a session, so single-sample A/Bs mislead
    val repeats = sys.env.getOrElse("SPARK_GRAFT_REPEATS", "1").toInt max 1
    val runs = Bench.measure(spark, names.map(n => n -> SparkEntry.queries(n)), sfDir,
      "/root/testdata/sf0.001", repeats)
    spark.stop()
    runs.foreach { r =>
      val fields = r.best.fold(new TaskMetrics().fields(0.0))(_.fields)
      val err = if (r.best.isEmpty) r.err else ""
      println(f"""{"query":${Json.str(r.name)},"sec":${r.best.fold(0.0)(_.sec)}%.3f,$fields,"repeats":$repeats,"failed_repeats":${r.failed},"shuffle_partitions":$nShuffle,"err":${Json.str(err)}}""")
      r.best.foreach(_.stages.foreach(println))
    }
    val totalSec = runs.flatMap(_.best).map(_.sec).sum
    println(f"""{"metric":"scale_total","sec":$totalSec%.1f,"sf":${Json.str(sfDir)},"n_queries":${names.size},"shuffle_partitions":$nShuffle}""")
    // SPARK_GRAFT_ASSERT_NOSPILL=1: the zero-spill claim as an exit
    // code — tools/soak.sh --certify uses it to certify that the default
    // partition sizing reproduces the ×1000 zero-spill config without
    // hand flags. Asserts on the min-wall passes' disk spill.
    val spillDiskMb = runs.flatMap(_.best).map(_.spillDiskMb).sum
    if (sys.env.get("SPARK_GRAFT_ASSERT_NOSPILL").contains("1") && spillDiskMb > 0.0) {
      System.err.println(f"[scale] NOSPILL ASSERT FAILED: $spillDiskMb%.1f MB disk spill")
      sys.exit(1)
    }
  }
}
