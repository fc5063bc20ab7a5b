package graft

import java.nio.file.Files

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ext.{Clustering, Dedup, Portable}
import graft.stream.StreamingCuration

/** The production curation DAG end-to-end in ONE session (r14 verdict
  * ask #6): ~130 of this repo's operators are individually certified,
  * but a training-data pipeline runs them COMPOSED — ingest/validate →
  * exact dedup → near-dup canonicals + soft weights → decontaminate →
  * split → pack/materialize → shard manifest — and the composition has
  * its own 100 TB failure mode: a naive chain re-reads the corpus text
  * once per operator. This main runs the chain against a ScaleGen-
  * scaled corpus and PROVES the scan discipline per stage: the
  * optimized-plan corpus-scan count shows text-bearing scans ≈ one per
  * stage-FAMILY (three total — enrich, decontaminate, materialize),
  * everything else running on narrow cached derivations, with task
  * metrics (shuffle, spill) alongside.
  *
  * The discipline (the 100 TB design, not a test-scale shortcut):
  *
  *  - Stage A reads text ONCE and derives every per-doc column the
  *    narrow stages need — Gopher verdict (the SAME
  *    [[StreamingCuration.gate]] the ingest stream runs), token count,
  *    q88's normalized exact-dup hash, the 128-bit SimHash chunks,
  *    q60's pack hash/shard, q52's split coin — into a ~100 B/doc
  *    `meta` relation, cached. Text itself is NOT cached: at 100 TB
  *    the corpus does not fit any cache tier worth paying for; meta
  *    does (it is ~0.02 % of corpus bytes... roughly dimension-sized).
  *  - Stages B (exact dedup), C (near-dup CC + soft weights), E
  *    (split) run entirely on meta / id-keyed relations — zero text.
  *  - Stage D (decontamination) and stage F (pack materialization) are
  *    the two operators whose SEMANTICS need text (shingle overlap;
  *    the packed output itself) — each re-scans the parquet exactly
  *    once, joined against the current survivor id set.
  *
  * Ledger counts (the q127 shape) are printed per gate so the run is
  * also a correctness smoke: every stage's kill count is visible, and
  * the packed output + manifest land under `outDir` as real parquet.
  *
  *   runMain graft.Pipeline <docsDir> <outDir> [benchDir] [seqLen]
  *   runMain graft.Pipeline lake <docsDir> <outDir> [benchDir] [perTrigger] [seqLen]
  *
  * `lake` runs the streaming→batch composition across the lake
  * boundary ([[lake]]).
  *
  * Defaults: benchDir=/root/testdata/sf0.001 (the decontamination
  * benchmark — its distinct 5-gram shingles broadcast, the q50/q102
  * posture), seqLen=2048 (q60's budget). Env: SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_SHUFFLE (defaults to the soak 2×cores rule, set for the
  * DAG only), SPARK_DRIVER_MEM via tools/run_main.sh.
  *
  * The quality gate always enforces: rejects stop at stage A. A
  * scaled corpus keeps its volume past the gate when it is built with
  * `ScaleGen … stopsafe`, whose copies keep the Gopher stopwords.
  *
  * Scan-discipline accounting: each stage line carries
  * `corpus_text_scans` — the number of documents.parquet scan nodes
  * in that stage's OPTIMIZED plan (structural, deterministic; see the
  * docScans note in the body for why byte counters can't serve here) —
  * plus `input_mb` (Spark's input metric, cache-block reads included)
  * and shuffle/spill informationally.
  */
object Pipeline {
  def main(args: Array[String]): Unit =
    if (args.headOption.contains("lake"))
      lake(args(1), args(2), args.lift(3).getOrElse("/root/testdata/sf0.001"),
        args.lift(4).map(_.toInt).getOrElse(4),
        args.lift(5).map(_.toInt).getOrElse(2048))
    else {
      val spark = GraftSession.local()
      run(spark, args(0), args(1), args.lift(2).getOrElse("/root/testdata/sf0.001"),
        args.lift(3).map(_.toInt).getOrElse(2048))
      CacheScope.drain()
      spark.stop()
    }

  /** The DAG body, callable in-session ([[lake]] runs it over the
    * parquet its streaming phase just landed). Returns the ledger counts
    * so a composing caller can reconcile them against its own. The
    * soak's shuffle partitioning ([[Scale.soakPartitions]]) holds for
    * the DAG only; the caller's session gets its own setting back.
    */
  def run(spark: SparkSession, docsDir: String, outDir: String,
      benchDir: String, seqLen: Int): Map[String, Long] = {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.getOption(key)
    try {
      val nShuffle = Scale.soakPartitions(spark)
      graft.functions.VectorExpressions.register(spark)
      TaskMetrics.attached(spark)(dag(spark, _, docsDir, outDir, benchDir,
        seqLen, nShuffle))
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  // per-stage attribution: the task metrics are reset around each
  // stage's materialization barrier
  private def dag(spark: SparkSession, tm: TaskMetrics,
      docsDir: String, outDir: String, benchDir: String, seqLen: Int,
      nShuffle: String): Map[String, Long] = {
    val docsMb = {
      def sz(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(sz).sum else f.length()
      sz(new java.io.File(docsDir, "documents.parquet")) / 1048576.0
    }
    // The scan-discipline PROOF is structural, not a byte counter:
    // count the documents.parquet scan nodes in each stage's OPTIMIZED
    // plan. Cache substitution (CacheManager.useCachedData) replaces a
    // cached subtree with InMemoryRelation — a logical LEAF — so a
    // narrow stage built on the cached meta shows ZERO corpus scans,
    // and a text-needing stage shows exactly the one scan its
    // semantics require. (Byte counters can't make this distinction
    // here: Spark's inputMetrics count cache-block reads as input, and
    // the local FS's Hadoop Statistics under-report vectorized parquet
    // reads — both measured misleading on the ×300 run.)
    val docsPath = s"$docsDir/documents.parquet"
    def docScans(df: DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation
          if l.relation.isInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation] &&
            l.relation.asInstanceOf[
              org.apache.spark.sql.execution.datasources.HadoopFsRelation]
              .location.rootPaths.exists(_.toString.contains(docsPath)) => l
      }.size
    var currentScans = 0
    def noteScans(dfs: DataFrame*): Unit = currentScans = dfs.map(docScans).sum
    val stageRows =
      scala.collection.mutable.ArrayBuffer[(String, Double, Int)]()
    def stage[T](name: String)(body: => T): T = {
      ListenerDrain.drain(spark.sparkContext); tm.reset()
      currentScans = 0
      val t0 = System.nanoTime()
      val r = body
      ListenerDrain.drain(spark.sparkContext)
      val sec = (System.nanoTime() - t0) / 1e9
      stageRows += ((name, sec, currentScans))
      println(f"""{"stage":${Json.str(name)},"sec":$sec%.1f,"corpus_text_scans":$currentScans,"input_mb":${tm.inputBytes.get / 1048576.0}%.1f,"shuffle_write_mb":${tm.shuffleWrite.get / 1048576.0}%.1f,"spill_disk_mb":${tm.diskSpill.get / 1048576.0}%.1f}""")
      r
    }

    val h = (salt: String) =>
      Portable.h60Spark(s"concat('$salt|', cast(doc_id as string))")

    // ── A: ingest + validate + enrich — text scan #1 ────────────────────
    val meta = stage("A_ingest_validate_enrich") {
      val m = StreamingCuration.gate(Tables.documents(spark, docsDir))
        .select(col("doc_id"), col("lang"), col("source"), col("quality_pass"),
          expr("cast(size(split(text, ' ')) as bigint)").as("n_tokens"),
          md5(expr("trim(regexp_replace(regexp_replace(lower(text)," +
            " '[^a-z0-9 ]', ''), ' +', ' '))")).as("norm_hash"),
          expr("simhash128(text)").as("fp"),
          expr(s"${h("pack")} % 8").as("shard"), expr(h("pack")).as("h"),
          expr(s"CASE WHEN ${h("split")} % 100 < 90 THEN 'train'" +
            s" WHEN ${h("split")} % 100 < 95 THEN 'val' ELSE 'test' END").as("split"))
        .select((Seq("doc_id", "lang", "source", "quality_pass", "n_tokens",
          "norm_hash", "shard", "h", "split").map(col) ++
          (0 until 4).map(c => col("fp").getItem(c).as(s"c$c"))): _*)
      noteScans(m)
      CacheScope.eager(m)
    }
    val nRaw = meta.count()
    val quality = meta.filter(col("quality_pass"))
    val nQuality = quality.count()

    // ── B: exact dedup (q34/q88's decision) — meta only ────────────────
    val exact = stage("B_exact_dedup") {
      val ex = quality
        .withColumn("exact_canon",
          min("doc_id").over(Window.partitionBy("norm_hash")))
        .filter(col("doc_id") === col("exact_canon"))
        .drop("exact_canon", "norm_hash", "quality_pass")
      noteScans(ex)
      CacheScope.eager(ex)
    }
    val nExact = exact.count()

    // ── C: near-dup canonicals + soft weights (q167/q168/q172) ─────────
    // production-width 8×16 banding over the cached chunks; CC over the
    // pair-participant subgraph only; canonical = component min id;
    // every survivor carries its q172 soft weight for the trainer
    val survivors = stage("C_neardup_canonical") {
      val pairs = Dedup.simhash128Verified(
        Dedup.simhash128Bands(
          exact.select("doc_id", "c0", "c1", "c2", "c3"), nBands = 8, bandBits = 16))
        .transform(CacheScope.scoped)
      val participants = pairs.select(col("a_id").as("doc_id"))
        .union(pairs.select(col("b_id").as("doc_id"))).distinct()
      val cc = Clustering.components(participants, pairs)
        .withColumn("cluster_size", count(lit(1)).over(
          Window.partitionBy("cluster_id")))
      val sv = exact
        .join(cc, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
        .withColumn("weight_ppm",
          expr("1000000L div coalesce(cluster_size, 1L)"))
        .filter(col("doc_id") === col("cluster_id"))
        .drop("cluster_size", "c0", "c1", "c2", "c3")
      noteScans(sv)
      CacheScope.eager(sv)
    }
    val nCanon = survivors.count()

    // ── D: decontaminate — text scan #2 (survivor-restricted) ──────────
    val clean = stage("D_decontaminate") {
      val bench = Dedup.shinglesOf(Tables.documents(spark, benchDir))
        .select("sh").distinct()
      val contaminated = Dedup.shinglesOf(
          Tables.documents(spark, docsDir)
            .join(survivors.select("doc_id"), "doc_id")
            .filter(expr("size(split(text, ' ')) >= 5")))
        .join(broadcast(bench), Seq("sh"), "left_semi")
        .select("doc_id").distinct()
      val cl = survivors.join(contaminated, Seq("doc_id"), "left_anti")
      noteScans(cl)
      CacheScope.eager(cl)
    }
    val nClean = clean.count()

    // ── E: split — the q52 coin, already a meta column ──────────────────
    val train = stage("E_split") {
      val tr = clean.filter(col("split") === "train")
      noteScans(tr)
      CacheScope.eager(tr)
    }
    val nTrain = train.count()

    // ── F: pack + materialize — text scan #3 (train-restricted) ────────
    // q60's layout (same salt/shard/budget), q81's ordered concat; the
    // packed text lands shard-partitioned so a trainer reads one
    // shard's files sequentially; each pack carries its token count
    // and the token-weighted mean soft weight (q172 → q177's consumer)
    stage("F_pack_materialize") {
      val packed = Tables.documents(spark, docsDir)
        .select("doc_id", "text")
        .join(train.select("doc_id", "lang", "shard", "h", "n_tokens",
          "weight_ppm"), "doc_id")
        .withColumn("cum", sum("n_tokens").over(
          Window.partitionBy("lang", "shard")
            .orderBy(col("h"), col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("pack_id", expr(s"(cum - n_tokens) div $seqLen"))
        .groupBy("lang", "shard", "pack_id")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_tokens").as("pack_tokens"),
          expr("sum(n_tokens * weight_ppm) div sum(n_tokens)")
            .as("soft_weight_ppm"),
          expr("array_join(transform(array_sort(collect_list(" +
            "struct(h, doc_id, text))), x -> x.text), ' ')").as("pack_text"))
      noteScans(packed)
      packed.write.mode("overwrite").partitionBy("shard")
        .parquet(s"$outDir/packed")
    }

    // ── G: shard manifest — aggregate of the materialized packs ────────
    val manifest = stage("G_shard_manifest") {
      val m = spark.read.parquet(s"$outDir/packed")
        .groupBy("shard")
        .agg(
          count(lit(1)).as("n_packs"),
          sum("n_docs").as("n_docs"),
          sum("pack_tokens").as("n_tokens"),
          expr("sum(pack_tokens * soft_weight_ppm) div sum(pack_tokens)")
            .as("soft_weight_ppm"))
      noteScans(m)
      m.coalesce(1).write.mode("overwrite").parquet(s"$outDir/manifest")
      m.agg(sum("n_packs"), sum("n_tokens")).collect()(0)
    }
    val nPacks = manifest.getLong(0)
    val nTokens = manifest.getLong(1)

    // the proof line: total corpus-text scan nodes across every
    // stage's optimized plan — the claim is exactly 3 (enrich,
    // decontaminate, materialize), whatever the byte counters say
    val textScans = stageRows.map(_._3).sum
    println(f"""{"metric":"pipeline","docs_dir":${Json.str(docsDir)},"docs_on_disk_mb":$docsMb%.1f,"n_raw":$nRaw,"n_quality":$nQuality,"n_exact_canonical":$nExact,"n_neardup_canonical":$nCanon,"n_decontaminated":$nClean,"n_train":$nTrain,"n_packs":$nPacks,"packed_tokens":$nTokens,"seq_len":$seqLen,"text_bearing_scans":$textScans,"total_sec":${stageRows.map(_._2).sum}%.1f,"shuffle_partitions":$nShuffle}""")
    Map(
      "n_raw" -> nRaw, "n_quality" -> nQuality,
      "n_exact_canonical" -> nExact, "n_neardup_canonical" -> nCanon,
      "n_decontaminated" -> nClean, "n_train" -> nTrain,
      "n_packs" -> nPacks, "packed_tokens" -> nTokens,
      "text_bearing_scans" -> textScans.toLong)
  }

  /** Streaming→batch composition across the LAKE boundary — the
    * reference's E1→E2 topology in ONE session:
    *
    *  1. **E1 (stream)**: new documents arrive as file micro-batches and
    *     pass through the COMPOSED ingest gate — Gopher quality +
    *     benchmark decontamination + MinHash near-dup probe + IVF-PQ
    *     semantic probe, all four verdicts in one per-batch plan —
    *     landing verdict-partitioned parquet (the IngestStream routing
    *     discipline: downstream consumers partition-prune to
    *     `verdict=accepted` and never re-read rejects).
    *  2. **E2 (batch)**: the curation DAG ([[run]]) runs over the LANDED
    *     accepted partition.
    *
    * The input corpus is SPLIT by doc-id hash: the even half plays the
    * ALREADY-INGESTED corpus (its MinHash signature table, its IVF-PQ
    * index with the corpus-derived τ), the odd half arrives as the
    * stream. That is the deployment shape (write-once static relations
    * probed per batch) with honest self-match semantics: a streamed
    * doc's own signatures are NOT in the reference side, so near-dup
    * flags mean cross-corpus similarity, not identity. Embeddings
    * attach by `doc_id = vec_id` (the generated tables share the id
    * stride at every scale — the "embedding inference is upstream"
    * seam).
    *
    * End-to-end doc-count RECONCILIATION, printed and asserted:
    *
    *  - every streamed doc lands exactly once: n_stream = Σ lake
    *    verdict partitions;
    *  - the gate family agrees with itself across the boundary: the
    *    batch DAG re-runs quality on the landed docs and must kill 0
    *    (`n_quality = n_raw`), and its decontamination stage re-checks
    *    the same benchmark and must find 0 new overlap
    *    (`n_decontaminated = n_neardup_canonical`);
    *  - survivor flow is monotone: accepted ≥ exact ≥ near-dup ≥
    *    decontaminated ≥ train.
    *
    * The stream-side MinHash rejects and the batch near-dup stage kill
    * DIFFERENT things by design (cross-corpus MinHash vs within-stream
    * SimHash CC): both counts print, no equality is asserted.
    */
  def lake(docsDir: String, outDir: String, benchDir: String,
      perTrigger: Int, seqLen: Int): Unit = {
    val spark = GraftSession.local()
    Scale.soakPartitions(spark)
    graft.functions.VectorExpressions.register(spark)
    val root = Files.createTempDirectory("graft_lake").toString

    val half = s"${Portable.h60Spark("cast(doc_id as string)")} % 2"
    val docs = Tables.documents(spark, docsDir).persist()
    val streamSide = docs.filter(expr(s"$half = 1"))
    val nStream = streamSide.count()

    // ── static reference relations (write-once, probed per batch) ─────
    val bench = Dedup.shinglesOf(Tables.documents(spark, benchDir))
      .select("sh").distinct().persist()
    bench.count()
    val refDocs = docs.filter(expr(s"$half = 0"))
    val sigR = StreamingCuration.signatureTable(refDocs).persist()
    val nSig = sigR.count()
    docs.unpersist()
    val vhalf = s"${Portable.h60Spark("cast(vec_id as string)")} % 2"
    val refEmb = Tables.embeddings(spark, docsDir).filter(expr(s"$vhalf = 0"))
    val idxR = StreamingCuration.semanticIndex(refEmb)
    val tauR = StreamingCuration.calibratedTau(refEmb, idxR)
    val embAll = Tables.embeddings(spark, docsDir)
      .select(col("vec_id"), col("embedding"))

    // ── E1: stream the odd half through the composed gate ─────────────
    val src = s"$root/src"
    StreamBench.shards(streamSide
      .withColumn("ts", timestamp_micros(
        lit(1704067200000000L) + col("doc_id") % 100000000L * 1000L))
      .repartitionByRange(32, col("doc_id")), src)
    val lake = s"$outDir/lake"
    val streamSec = StreamBench.drain(StreamBench.shardStream(spark, src, perTrigger)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val eligible = batch.filter(expr("size(split(text, ' ')) >= 5"))
        val contam = Dedup.shinglesOf(eligible)
          .join(bench, Seq("sh"), "left_semi")
          .select("doc_id").distinct()
          .withColumn("contaminated", lit(true))
        val mh = eligible
          .select(col("doc_id"), expr("minhash16(text)").as("sig"))
          .filter(col("sig").isNotNull)
          .select(col("doc_id"), posexplode(col("sig")).as(Seq("i", "mh")))
          .join(sigR.select("i", "mh"), Seq("i", "mh"), "left_semi")
          .select("doc_id").distinct()
          .withColumn("mh_dup", lit(true))
        val sem = StreamingCuration.semanticVerdicts(
            batch.join(embAll, col("doc_id") === col("vec_id"))
              .select(col("doc_id"), col("embedding")),
            idxR, tauR)
          .select(col("doc_id"), col("semantic_dup"))
        StreamingCuration.gate(batch)
          .join(contam, Seq("doc_id"), "left")
          .join(mh, Seq("doc_id"), "left")
          .join(sem, Seq("doc_id"), "left")
          .withColumn("verdict", expr(
            """CASE WHEN NOT quality_pass THEN 'rejected_quality'
              |     WHEN contaminated THEN 'rejected_contaminated'
              |     WHEN mh_dup THEN 'rejected_neardup'
              |     WHEN semantic_dup THEN 'rejected_semantic_dup'
              |     ELSE 'accepted' END""".stripMargin))
          .write.mode("append").partitionBy("verdict").parquet(lake)
        ()
      }
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()).wallSec

    // ── the lake is the source of truth: count every partition ───────
    val lakeCounts = spark.read.parquet(lake)
      .groupBy("verdict").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nLake = lakeCounts.values.sum
    val nAccepted = lakeCounts.getOrElse("accepted", 0L)

    // ── E2: land the accepted partition as a documents table and run
    // the batch DAG over it ───────────────────────────────────────────
    val landed = s"$outDir/landed"
    spark.read.parquet(s"$lake/verdict=accepted")
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$landed/documents.parquet")
    val t1 = System.nanoTime()
    val p = run(spark, landed, s"$outDir/curated", benchDir, seqLen)
    val batchSec = (System.nanoTime() - t1) / 1e9

    // ── reconciliation ────────────────────────────────────────────────
    val exactlyOnce = nLake == nStream
    val qualityIdempotent = p("n_quality") == p("n_raw")
    val decontIdempotent = p("n_decontaminated") == p("n_neardup_canonical")
    val rawMatches = p("n_raw") == nAccepted
    val monotone = nAccepted >= p("n_exact_canonical") &&
      p("n_exact_canonical") >= p("n_neardup_canonical") &&
      p("n_neardup_canonical") >= p("n_decontaminated") &&
      p("n_decontaminated") >= p("n_train")
    val ok = exactlyOnce && qualityIdempotent && decontIdempotent &&
      rawMatches && monotone
    val verdictJson = lakeCounts.toSeq.sorted
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    println(
      f"""{"metric":"lake_pipeline","docs_dir":${Json.str(docsDir)},"n_stream":$nStream,"n_lake":$nLake,"lake_verdicts":$verdictJson,"stream_sec":$streamSec%.1f,"stream_docs_per_sec":${(nStream / streamSec).toInt},"ref_sig_rows":$nSig,"semantic_tau":$tauR%.4f,"n_accepted":$nAccepted,"pipe_n_raw":${p("n_raw")},"pipe_n_quality":${p("n_quality")},"pipe_n_exact":${p("n_exact_canonical")},"pipe_n_neardup":${p("n_neardup_canonical")},"pipe_n_decontaminated":${p("n_decontaminated")},"pipe_n_train":${p("n_train")},"pipe_n_packs":${p("n_packs")},"pipe_text_scans":${p("text_bearing_scans")},"batch_sec":$batchSec%.1f,"recon_exactly_once":$exactlyOnce,"recon_raw_matches":$rawMatches,"recon_quality_idempotent":$qualityIdempotent,"recon_decont_idempotent":$decontIdempotent,"recon_monotone":$monotone,"recon_ok":$ok}""")
    require(ok, "lake_pipeline reconciliation FAILED — see the JSON line")
    graft.stream.OrderlyShutdown.stop(spark)
  }
}
