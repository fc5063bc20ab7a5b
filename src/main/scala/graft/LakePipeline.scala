package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ext.{Dedup, Portable, Similarity}
import graft.stream.{IngestStream, StreamingCuration}

/** Streaming→batch composition across the LAKE boundary (r15 verdict
  * ask #4) — the reference's actual E1→E2 topology in ONE session:
  *
  *  1. **E1 (stream)**: new documents arrive as file micro-batches and
  *     pass through the COMPOSED ingest gate — Gopher quality +
  *     benchmark decontamination + MinHash near-dup probe + IVF-PQ
  *     semantic probe, all four verdicts in one per-batch plan —
  *     landing verdict-partitioned parquet (the IngestStream routing
  *     discipline: downstream consumers partition-prune to
  *     `verdict=accepted` and never re-read rejects).
  *  2. **E2 (batch)**: the curation DAG ([[Pipeline.run]]) runs over
  *     the LANDED accepted partition — exact dedup → near-dup CC →
  *     decontaminate → split → pack → manifest — in `enforce` mode.
  *
  * Reference-corpus posture: the probe SPLITS the input corpus by
  * doc-id hash — the even half plays the ALREADY-INGESTED corpus (its
  * MinHash signature table, its IVF-PQ index with the corpus-derived
  * τ), the odd half arrives as the stream. That is the deployment
  * shape (write-once static relations probed per batch) with honest
  * self-match semantics: a streamed doc's own signatures are NOT in
  * the reference side, so near-dup flags mean cross-corpus similarity,
  * not identity. Embeddings attach by `doc_id = vec_id` (the generated
  * tables share the id stride at every scale — the "embedding
  * inference is upstream" seam).
  *
  * End-to-end doc-count RECONCILIATION (the probe's verdict, printed
  * and asserted):
  *
  *  - every streamed doc lands exactly once: n_stream = Σ lake
  *    verdict partitions;
  *  - the gate family agrees with itself across the boundary: the
  *    batch DAG re-runs quality on the landed docs and must kill 0
  *    (`n_quality = n_raw` — gate idempotence), and its
  *    decontamination stage re-checks the same benchmark and must
  *    find 0 new overlap (`n_decontaminated = n_neardup_canonical`) —
  *    the composed form of the q178-style stream≡batch pin, extended
  *    to the whole gate family;
  *  - survivor flow is monotone: accepted ≥ exact ≥ near-dup ≥
  *    decontaminated ≥ train.
  *
  * The stream-side MinHash rejects and the batch near-dup stage kill
  * DIFFERENT things by design (cross-corpus MinHash vs within-stream
  * SimHash CC) — both counts print so the composition's total dedup
  * story is readable, but no equality is asserted between them.
  *
  *   runMain graft.LakePipeline <docsDir> <outDir> [benchDir]
  *     [perTrigger] [seqLen]
  *
  * Env: SPARK_GRAFT_CPUS, SPARK_GRAFT_SHUFFLE, SPARK_DRIVER_MEM via
  * tools/run_main.sh (the soak config: 48g / SHUFFLE=64 at ×300+).
  */
object LakePipeline {
  def main(args: Array[String]): Unit = {
    val docsDir = args(0)
    val outDir = args(1)
    val benchDir = args.lift(2).getOrElse("/root/testdata/sf0.001")
    val perTrigger = args.lift(3).map(_.toInt).getOrElse(4)
    val seqLen = args.lift(4).map(_.toInt).getOrElse(2048)
    val spark = GraftSession.local()
    val nShuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE",
      (2 * GraftSession.cores).toString)
    spark.conf.set("spark.sql.shuffle.partitions", nShuffle)
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
    streamSide
      .withColumn("ts", timestamp_micros(
        lit(1704067200000000L) + col("doc_id") % 100000000L * 1000L))
      .repartitionByRange(32, col("doc_id"))
      .write.parquet(src)
    IngestStream.pinPickOrder(src)
    val schema = spark.read.parquet(src).schema
    val lake = s"$outDir/lake"
    val t0 = System.nanoTime()
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", perTrigger).parquet(src)
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
      .start()
    q.awaitTermination()
    val streamSec = (System.nanoTime() - t0) / 1e9

    // ── the lake is the source of truth: count every partition ───────
    val lakeCounts = spark.read.parquet(lake)
      .groupBy("verdict").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nLake = lakeCounts.values.sum
    val nAccepted = lakeCounts.getOrElse("accepted", 0L)

    // ── E2: land the accepted partition as a documents table and run
    // the batch DAG over it in ENFORCE mode ───────────────────────────
    val landed = s"$outDir/landed"
    spark.read.parquet(s"$lake/verdict=accepted")
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$landed/documents.parquet")
    val t1 = System.nanoTime()
    val p = Pipeline.run(spark, landed, s"$outDir/curated", benchDir,
      seqLen, "enforce")
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
