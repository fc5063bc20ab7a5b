package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ext.{KnnGraph, Portable, Similarity}

/** The kNN-graph dial sweep (q175/q176's 100 TB story, measured): the
  * registered queries pick the LSH plane count AUTOMATICALLY
  * ([[graft.ext.KnnGraph.planesFor]] holds bucket size ~32); this
  * bench prices arbitrary dial points against it. With planes FIXED,
  * bucket size grows ~n/2^planes and the init pairing term
  * n·(planes+1)·n/2^planes goes corpus-quadratic (measured: the fixed
  * width-6 form filled the scratch disk at ×30 before failing);
  * raising planes with corpus size holds the init linear — and this
  * bench shows what each dial point COSTS and what recall it BUYS.
  *
  * `runMain graft.KnnBench <dirCsv> <armsCsv> <mod> [repeats]`
  *
  * `dirCsv`: one or more corpus dirs (comma-separated) measured in ONE
  * JVM session — the r13 verdict asks the dial to be priced on BOTH
  * the uniform driver corpus (LSH/descent's worst case) and a
  * [[ClusteredGen]] mixture fixture (the realistic case) in one
  * session, so the numbers are same-session-comparable.
  *
  * `armsCsv`: each arm is `planes[:rounds[:kBuild[:segments]]]` —
  * planes may be a number or `auto` ([[KnnGraph.planesFor]]); rounds
  * defaults to [[KnnGraph.Rounds]]; kBuild defaults to [[KnnGraph.K]];
  * segments defaults to 1 (one-shot init) and > 1 runs the
  * bounded-scratch segmented init ([[KnnGraph.initTopK]]). kBuild > K
  * is the build-wide/truncate-narrow arm: the graph is built at kBuild
  * neighbors per node (wider candidate field for NN-descent to climb
  * through) and recall is ALWAYS audited on the top-[[KnnGraph.K]]
  * truncation, so every arm answers the same question — "how good are
  * the 5 neighbors this dial ships?".
  *
  * `mod` may be a number or `auto` ([[KnnGraph.modFor]]). Each arm
  * times the FULL graph build (init + descent, forced by a checksum
  * aggregate, min over `repeats`), then audits final-graph recall@K
  * against the exact ground truth on the h60 % mod sample. One JSON
  * line per (dir, arm) — cost-vs-recall as one table, not two claims.
  */
object KnnBench {
  def main(args: Array[String]): Unit = {
    val dirs = args(0).split(',').map(_.trim).toSeq
    val arms = args(1).split(',').map(_.trim).toSeq
    val modArg = args(2)
    val repeats = args.lift(3).map(_.toInt).getOrElse(2)
    val spark = GraftSession.local()
    val nShuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE",
      (2 * GraftSession.cores).toString)
    spark.conf.set("spark.sql.shuffle.partitions", nShuffle)

    for (dir <- dirs) {
      val e = Similarity.nv(spark, dir).select("vec_id", "qe", "nrm")
        .persist()
      val n = e.count()
      // `auto` mirrors planes (r13 ADVICE): the registered queries'
      // modFor dial, so a sweep never hand-types a modulus at all
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
      // fail fast on an empty audit sample (r13 ADVICE): a mistyped
      // modulus must not read as recall 0.0 — that output is otherwise
      // indistinguishable from a catastrophically bad plane width
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
        // the audit below always reads the top-K truncation, so an arm
        // built narrower than K would silently understate recall (its
        // graph holds < K ranks but is judged against K exact
        // neighbors) — refuse the arm instead (r14 ADVICE)
        require(kBuild >= KnnGraph.K,
          s"arm '$arm': kBuild=$kBuild < K=${KnnGraph.K} — recall@${KnnGraph.K} " +
            s"audits the top-${KnnGraph.K} truncation, which a $kBuild-rank " +
            "graph cannot fill; build at least K neighbors per node")
        val segments = parts.lift(3).map(_.toInt).getOrElse(1)
        // 5th field: `sym` symmetrizes the final graph; `h2` adds a
        // hamming-2 probe harvest re-ranked with it — the two r14
        // ask-#5 recall arms, both leaving init + rounds untouched;
        // `auto` runs the r16 clusteredness probe on the init buckets
        // and picks `h2` or none from the measured occupancy skew
        val finisher = parts.lift(4).getOrElse("")
        // `auto` resolves to h2-or-none ONCE per (dir, arm) from the
        // measured init-bucket occupancy skew (the r15 verdict ask #7
        // probe): uniform-ish corpora (skew below the pinned
        // threshold) take the +recall h2 harvest, clustered corpora
        // (where the descent already saturates) skip its ~2× init
        // term. The probe's own cost is timed and emitted so the
        // decision rule's overhead is measurable (it reads one
        // id+bucket aggregate — no vectors move).
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
          // finisher output checkpointed (r15 ADVICE): the edge count
          // and the audit below both read the built graph, and for
          // sym/h2 arms only the DESCENT was checkpointed — without
          // this the finisher windows re-execute once per consumer and
          // audit_sec stops being the incremental semi-join time
          resolved match {
            case "sym" => CacheScope.checkpointed(
              KnnGraph.symmetrized(g, kBuild))
            case "h2" => CacheScope.checkpointed(
              KnnGraph.h2Rerank(e, g, planes, kBuild))
            case "" => g
            case f => throw new IllegalArgumentException(s"unknown finisher '$f'")
          }
        }
        var best = Double.MaxValue
        var edges = 0L
        var g: DataFrame = null
        for (i <- 1 to repeats) {
          CacheScope.drain()
          val t0 = System.nanoTime()
          g = build()
          // checksum forces every edge (and so the whole descent)
          g.selectExpr("sum(v + w + rank) as checksum")
            .write.format("noop").mode("overwrite").save()
          val sec = (System.nanoTime() - t0) / 1e9
          if (sec < best) best = sec
          edges = g.count()
          // no trailing drain here: the next iteration's loop-head
          // drain covers intermediate builds, and the LAST build's
          // cache must survive for the audit below (r14 ADVICE — the
          // old conditional drain was dead code inviting exactly the
          // wrong future edit)
        }
        // audit against the LAST build's still-cached graph (its scope
        // is not drained until after the audit — a rebuild would
        // double the corpus-scale cost for nothing); audit_sec is the
        // incremental semi-join time. Recall is ALWAYS on the top-K
        // truncation so arms compare.
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
