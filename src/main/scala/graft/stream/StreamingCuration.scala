package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.ext.{Dedup, Similarity, TextAnalysis}

/** Streaming corpus curation: the quality + decontamination gate run ON
  * INGEST, before a document ever lands in the lake — the streaming
  * composition of q65's Gopher rules and q50's benchmark-contamination
  * check. Catching rejects at ingest is the 100 TB discipline: a doc
  * filtered here never costs lake storage, compaction, or a pass of
  * every downstream batch job.
  *
  * Two Spark surfaces, each verified in StreamingCurationSpec:
  *
  *  - [[contaminatedIds]] — a pure STREAMING plan: shingle explode →
  *    stream-static LEFT SEMI join against the benchmark shingle set →
  *    watermarked per-doc collapse. Stream-static joins are stateless
  *    (each micro-batch probes the static relation, re-planned per
  *    batch — broadcast while it fits, hash join beyond); the only
  *    state is the dedup's, bounded by the watermark horizon.
  *  - [[run]] — the deployable foreachBatch sink: per micro-batch the
  *    gate + contamination verdicts compute as one batch plan and land
  *    verdict-partitioned in the lake (IngestStream's routing
  *    discipline), so downstream consumers partition-prune to
  *    `verdict=accepted` and never re-read rejects.
  */
object StreamingCuration {

  /** Gopher lexical gate (Rae et al. 2021 §A.1.1, q65's exact integer
    * rules) as a per-row verdict with failed-rule reasons. A narrow
    * stateless projection — works identically on static and streaming
    * relations, and every rule is an integer comparison (ratio
    * thresholds cross-multiplied), fully codegen'd.
    */
  def gate(docs: DataFrame): DataFrame = {
    // the SAME feature projection and rule predicates as q65's batch
    // funnel (TextAnalysis.gopherFeatures/gopherRules) — tuning a
    // threshold there moves both surfaces, they cannot drift
    val reasons = TextAnalysis.gopherRules
      .map { case (name, pred) => s"CASE WHEN NOT ($pred) THEN '$name' END" }
      .mkString("filter(array(", ", ", "), x -> x IS NOT NULL)")
    TextAnalysis.gopherFeatures(docs)
      .withColumn("reasons", expr(reasons))
      .withColumn("quality_pass", size(col("reasons")) === 0)
      .drop("chars", "punct", "stops")
  }

  /** Streaming doc_ids sharing ≥1 word-5-gram with the static benchmark
    * shingle relation (`bench`: one `sh` column, globally distinct).
    * Emits each contaminated doc once per watermark horizon.
    */
  def contaminatedIds(
      stream: DataFrame,
      bench: DataFrame,
      eventTimeCol: String,
      delay: String): DataFrame =
    // a doc shorter than one shingle can't be 5-gram-contaminated, and
    // the generator's sequence(1, n-4) misbehaves below 5 tokens
    // (Dedup.shingles5's corpus precondition — ingest gets no such
    // guarantee, so the filter enforces it here)
    Dedup.shinglesOf(
        stream.withWatermark(eventTimeCol, delay)
          .filter(expr("size(split(text, ' ')) >= 5")),
        keep = Seq(eventTimeCol))
      .join(bench, Seq("sh"), "left_semi")
      // many shingle hits per doc collapse to one flag row; dedup state
      // expires with the watermark, so state is O(contaminated rate ×
      // horizon), not stream history
      .dropDuplicatesWithinWatermark(Seq("doc_id"))
      .select("doc_id", eventTimeCol)

  /** The corpus MinHash signature relation (corpus_id, i, mh) a
    * streaming ingest probes for near-duplicates — the static side of
    * [[nearDupCandidateIds]]. In production this is written ONCE as a
    * bucketed+sorted table on (i, mh) (BucketingSpec proves that
    * layout joins shuffle-free), then every micro-batch probes it
    * without moving the corpus.
    */
  def signatureTable(docs: DataFrame): DataFrame = {
    graft.functions.VectorExpressions.register(docs.sparkSession)
    docs
      .select(col("doc_id").as("corpus_id"), expr("minhash16(text)").as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("corpus_id"), posexplode(col("sig")).as(Seq("i", "mh")))
  }

  /** Streaming near-dup gate — the STREAMING shape of q58's
    * incremental dedup: incoming docs compute their 16 MinHash
    * signature positions with the one-pass `minhash16` kernel (128
    * bytes/doc, no shingle explode) and semi-join the static corpus
    * signature relation on (i, mh); any collision marks the doc a
    * near-dup CANDIDATE, emitted once per watermark horizon. Candidate
    * — not verified — on purpose: exact-Jaccard verification needs
    * corpus text, which a per-batch stream job must not scan; the gate
    * routes candidates to a (tiny, candidate-rate-sized) downstream
    * verify job, the q36 discipline split across the stream/batch
    * boundary. Stream-static joins are stateless (each micro-batch
    * re-plans against the static side); the only state is the dedup's,
    * bounded by the watermark horizon.
    */
  def nearDupCandidateIds(
      stream: DataFrame,
      corpusSig: DataFrame,
      eventTimeCol: String,
      delay: String): DataFrame = {
    graft.functions.VectorExpressions.register(stream.sparkSession)
    stream.withWatermark(eventTimeCol, delay)
      // minhash16 needs ≥1 shingle; sub-5-token docs can't collide
      .filter(expr("size(split(text, ' ')) >= 5"))
      .select(col("doc_id"), col(eventTimeCol), expr("minhash16(text)").as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("doc_id"), col(eventTimeCol), posexplode(col("sig")).as(Seq("i", "mh")))
      .join(corpusSig.select("i", "mh"), Seq("i", "mh"), "left_semi")
      .dropDuplicatesWithinWatermark(Seq("doc_id"))
      .select("doc_id", eventTimeCol)
  }

  /** The static IVF-PQ index a streaming ingest probes for SEMANTIC
    * near-duplicates — the vector-space analog of [[signatureTable]]
    * (r13 verdict ask #5): MinHash gates lexical near-dups, but a
    * paraphrased or re-encoded duplicate shares no shingles and only
    * the embedding space sees it (q158's batch semantic-contamination
    * check, moved to the ingest boundary). Layout is exactly q174's
    * ([[Similarity.ivfPqBuild]]): coarse centroids + residual PQ
    * codebooks (both broadcast-sized) and the 32×-compressed
    * `codes` relation — 8 code bytes + a label per corpus vector, the
    * only corpus-proportional relation a probe touches. All three are
    * persisted and MATERIALIZED here (an index built lazily would
    * re-train per micro-batch); build-time intermediates (the
    * quantized corpus, the residual subvectors) are released once the
    * codes exist. In production the index is written once as parquet
    * and refreshed on a compaction cadence — this builder is that
    * write path.
    */
  def semanticIndex(emb: DataFrame): Similarity.IvfPqIndex = {
    graft.functions.VectorExpressions.register(emb.sparkSession)
    val buildScoped = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val cache = (df: DataFrame) => { df.persist(); buildScoped += df; df }
    val qv = cache(emb.select(col("vec_id"), col("label"),
      expr(Similarity.qeSpark).as("qe")))
    // CELLED coarse layout (r16): label-coarse probing is
    // corpus-linear per doc — at ×300 one micro-batch's ADC scan
    // filled the scratch disk inside `Pipeline lake`. Cells hold the
    // per-doc probe cost constant at every corpus size; on the spec
    // fixtures (n < labels·64) the width is 0 and the index is
    // bit-identical to the classic layout.
    val built = Similarity.ivfPqBuildCelled(qv, cache)._1
    // codes is persisted by the builder's cache since r16 — keep the
    // same Dataset (re-persisting it would only warn)
    val codes = built.codes
    // materialize the long-lived probe relations, then drop the
    // build-time intermediates (cent/codebook/codes were cached by the
    // builder — keep those three, release the rest)
    codes.count(); built.cent.count(); built.codebook.count()
    buildScoped
      .filterNot(d => (d eq built.cent) || (d eq built.codebook) ||
        (d eq codes))
      .foreach(_.unpersist(blocking = false))
    Similarity.IvfPqIndex(built.cent, built.codebook, codes)
  }

  /** Corpus-derived gate threshold for a built [[semanticIndex]] —
    * the deployment-facing wrapper over
    * [[Similarity.calibratedGateTau]] (r15 verdict ask #3): τ = the
    * p20 nearest-compressed-neighbor distance of a bounded ~500-doc
    * sample of the corpus probed against its own index, so the gate's
    * notion of "unusually close" comes from THIS corpus's distance
    * distribution instead of a constant calibrated on another one.
    * Run once at index build/refresh, alongside [[semanticIndex]];
    * falls back to [[Similarity.SemanticGateMaxDist]] when the sample
    * has no index hits.
    */
  def calibratedTau(emb: DataFrame, idx: Similarity.IvfPqIndex): Double = {
    graft.functions.VectorExpressions.register(emb.sparkSession)
    Similarity.calibratedGateTau(
      emb.select(col("vec_id"), expr(Similarity.qeSpark).as("qe")), idx)
  }

  /** Per-batch semantic near-dup verdicts against a [[semanticIndex]]
    * — a pure delegation to [[Similarity.semanticVerdicts]], the ONE
    * definition of the gate's decision boundary (nearest compressed
    * neighbor, integer adist, √adist/2²⁰ ≤ τ). The same function
    * backs the registered batch pin q178, whose DuckDB oracle checks
    * the boundary at both SFs — the stream and batch forms share one
    * implementation AND one cross-engine certification (r15, the
    * DriftMonitor/q87 shared-expression pattern).
    */
  def semanticVerdicts(
      batch: DataFrame,
      idx: Similarity.IvfPqIndex,
      maxDist: Double): DataFrame =
    Similarity.semanticVerdicts(batch, idx, maxDist)

  /** Deployable semantic gate: verdict-partitioned parquet sink over
    * micro-batches (the [[run]] discipline — downstream consumers
    * partition-prune to `verdict=accepted`). The stream carries
    * (doc_id, embedding, …) — embedding inference is upstream of the
    * engine, exactly like the multimodal decode seam.
    */
  def runSemanticGate(
      stream: DataFrame,
      idx: Similarity.IvfPqIndex,
      maxDist: Double,
      outDir: String,
      checkpointDir: String): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        semanticVerdicts(batch, idx, maxDist)
          .withColumn("verdict", expr(
            "CASE WHEN semantic_dup THEN 'rejected_semantic_dup' ELSE 'accepted' END"))
          .write.mode("append").partitionBy("verdict").parquet(outDir)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Deployable gate: verdict-partitioned parquet sink over micro
    * batches. `bench` is the static benchmark shingle set (`sh`
    * column); inside each batch the contamination join is hint-free —
    * AQE broadcasts benchmark-sized sets and falls back beyond.
    */
  def run(
      stream: DataFrame,
      bench: DataFrame,
      outDir: String,
      checkpointDir: String): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val hits = Dedup.shinglesOf(batch.filter(expr("size(split(text, ' ')) >= 5")))
          .join(bench, Seq("sh"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
        gate(batch)
          .join(hits, Seq("doc_id"), "left")
          .withColumn("verdict", expr(
            """CASE WHEN NOT quality_pass THEN 'rejected_quality'
              |     WHEN n_overlap IS NOT NULL THEN 'rejected_contaminated'
              |     ELSE 'accepted' END""".stripMargin))
          .write.mode("append").partitionBy("verdict").parquet(outDir)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
}
