package graft

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
