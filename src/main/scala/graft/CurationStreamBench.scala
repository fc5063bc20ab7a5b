package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ext.Dedup
import graft.stream.{IngestStream, StreamingCuration}

/** Throughput figure for the STREAMING CURATION path — the ingest-time
  * Gopher gate + benchmark decontamination + corpus near-dup probe
  * (`stream/StreamingCuration.scala`), the LLM-pipeline counterpart of
  * StreamBench's reference-topology figure. Drives the corpus of an
  * existing testdata/ScaleGen dir through file micro-batches:
  *
  *  1. the deployable [[StreamingCuration.run]] sink — per batch:
  *     quality gate + contamination semi-join → verdict-partitioned
  *     parquet lake; and
  *  2. the [[StreamingCuration.nearDupCandidateIds]] stream — per-doc
  *     minhash16 → stream-static semi-join against the corpus
  *     signature relation → watermark-deduped candidate ids.
  *
  * Static sides are built the way a deployment would: the benchmark
  * shingle set from a fixed eval sample (every 200th doc — guarantees
  * a known contaminated fraction), the signature relation from the
  * corpus itself (so every streamed doc collides — worst-case probe
  * load). One JSON line per leg with docs/s and verdict counts.
  *
  * `runMain graft.CurationStreamBench <dir> [perTrigger]`
  */
object CurationStreamBench {
  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    if (args.lift(1).contains("refresh")) { refreshArm(dir); return }
    val perTrigger = args.lift(1).map(_.toInt).getOrElse(4)
    val spark = GraftSession.local()

    val root = Files.createTempDirectory("graft_curbench").toString
    // persist: setup consumes the corpus four times (count, re-shard
    // write, benchmark shingles, signature table) — one scan, not four
    val docs = Tables.documents(spark, dir).persist()
    val nDocs = docs.count()

    // re-shard the corpus into event-time-ordered file shards (the
    // StreamBench discipline): doc_id order IS arrival order, 1 doc/s
    val src = s"$root/src"
    val nFiles = 32
    docs
      .withColumn("ts", timestamp_micros(
        lit(1704067200000000L) + col("doc_id") * 1000000L))
      .repartitionByRange(nFiles, col("doc_id"))
      .write.parquet(src)
    IngestStream.pinPickOrder(src)
    val schema = spark.read.parquet(src).schema

    // static sides, built once and persisted — the deployment shape
    // (a benchmark shingle table and a bucketed signature table are
    // write-once relations a stream probes per batch)
    val bench = Dedup.shinglesOf(docs.filter(col("doc_id") % 200 === 0))
      .select("sh").distinct().persist()
    val benchN = bench.count()
    val corpusSig = StreamingCuration.signatureTable(docs).persist()
    val sigN = corpusSig.count()
    docs.unpersist()

    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", perTrigger).parquet(src)

    // ── leg 1: deployable verdict-partitioned lake sink ──────────────
    val t0 = System.nanoTime()
    val q1 = StreamingCuration.run(stream, bench, s"$root/lake", s"$root/ckpt1")
    q1.awaitTermination()
    val lakeSec = (System.nanoTime() - t0) / 1e9
    val verdicts = spark.read.parquet(s"$root/lake")
      .groupBy("verdict").agg(count(lit(1)).as("n"))
      .collect().map(r => s""""${r.getString(0)}":${r.getLong(1)}""")
      .sorted.mkString("{", ",", "}")
    println(
      s"""{"metric":"curation_stream","leg":"gate+decontaminate lake sink","docs":$nDocs,""" +
        s""""bench_shingles":$benchN,"wall_sec":${f"$lakeSec%.1f"},""" +
        s""""docs_per_sec":${(nDocs / lakeSec).toInt},"verdicts":$verdicts}""")

    // ── leg 3 setup (before leg 2 consumes the JVM's cache headroom):
    // the static IVF-PQ index over the dir's embeddings — built once,
    // the write-once relation the semantic gate probes per batch ──────
    val emb = Tables.embeddings(spark, dir)
    val nVec = emb.count()

    // ── leg 2: streaming near-dup candidate gate ─────────────────────
    val t1 = System.nanoTime()
    val q2 = StreamingCuration
      .nearDupCandidateIds(stream, corpusSig, "ts", "10 minutes")
      .writeStream.format("noop")
      .option("checkpointLocation", s"$root/ckpt2")
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val ndSec = (System.nanoTime() - t1) / 1e9
    val progress = q2.recentProgress.filter(_.numInputRows > 0)
    val candRows = progress.map(_.sink.numOutputRows).sum
    println(
      s"""{"metric":"curation_stream","leg":"near-dup candidate gate","docs":$nDocs,""" +
        s""""corpus_sig_rows":$sigN,"wall_sec":${f"$ndSec%.1f"},""" +
        s""""docs_per_sec":${(nDocs / ndSec).toInt},"n_batches":${progress.length},""" +
        s""""candidates":$candRows}""")

    // ── leg 3: streaming SEMANTIC near-dup gate (r13 ask #5) ─────────
    // Probe the static IVF-PQ index with the corpus's own embeddings,
    // ids offset past the corpus — worst-case load: every streamed doc
    // has an exact twin in the index (its un-offset self), so every
    // probe pays a full LUT + probed ADC scan and the flag rate is the
    // quantization-error ceiling, not a fixture artifact.
    val idx = StreamingCuration.semanticIndex(emb)
    val src3 = s"$root/src_emb"
    emb.select((col("vec_id") + 1000000000L).as("doc_id"), col("embedding"))
      .repartitionByRange(nFiles, col("doc_id"))
      .write.parquet(src3)
    IngestStream.pinPickOrder(src3)
    val schema3 = spark.read.parquet(src3).schema
    val t2 = System.nanoTime()
    val q3 = StreamingCuration.runSemanticGate(
      spark.readStream.schema(schema3)
        .option("maxFilesPerTrigger", perTrigger).parquet(src3),
      idx, maxDist = 1.0, s"$root/semlake", s"$root/ckpt3")
    q3.awaitTermination()
    val semSec = (System.nanoTime() - t2) / 1e9
    val semVerdicts = spark.read.parquet(s"$root/semlake")
      .groupBy("verdict").agg(count(lit(1)).as("n"))
      .collect().map(r => s""""${r.getString(0)}":${r.getLong(1)}""")
      .sorted.mkString("{", ",", "}")
    println(
      s"""{"metric":"curation_stream","leg":"semantic gate (IVF-PQ probe)","docs":$nVec,""" +
        s""""index_vectors":$nVec,"wall_sec":${f"$semSec%.1f"},""" +
        s""""docs_per_sec":${(nVec / semSec).toInt},"verdicts":$semVerdicts}""")
    graft.stream.OrderlyShutdown.stop(spark)
  }

  /** Refresh-cadence arm (r15 verdict ask #8): the streaming semantic
    * gate holds a STATIC IVF-PQ index while the corpus grows — how
    * fast do the frozen centroids/codebooks drift the gate, and what
    * does each refresh strategy cost? Protocol:
    *
    *  - the dir's embeddings are split by vec_id order (arrival-order
    *    analog): base = first 50%, four growth chunks of 10%, and a
    *    10% HELD-OUT probe set that is never indexed (so the drift
    *    curve is measured on the same incoming batch at every step);
    *  - after each chunk arrives, two indexes answer for the corpus:
    *    **incremental** — the base index's frozen centroids/codebooks
    *    with the new chunk [[graft.ext.Similarity.ivfPqEncode]]d in
    *    (one broadcast pass over the chunk); **rebuild** — a full
    *    [[graft.ext.Similarity.ivfPqBuild]] over everything so far,
    *    with the gate τ recalibrated ([[StreamingCuration.calibratedTau]]);
    *  - the probe set is gated against both; the rebuild is the
    *    reference, so `disagree` (verdict mismatch rate) IS the
    *    incremental path's drift. One JSON line per step with both
    *    walls and both flag rates; the SCALE.md verdict derives the
    *    cadence rule from the cost ratio vs the drift curve.
    */
  private def refreshArm(dir: String): Unit = {
    import graft.ext.Similarity
    val spark = GraftSession.local()
    graft.functions.VectorExpressions.register(spark)
    val qv = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), expr(Similarity.qeSpark).as("qe"))
      .persist()
    val n = qv.count()
    // rank-based slices over vec_id order (ids are arrival order in
    // the generated tables; percent_rank avoids assuming dense ids)
    val ranked = qv.withColumn("pr",
      org.apache.spark.sql.functions.percent_rank().over(
        org.apache.spark.sql.expressions.Window.orderBy("vec_id")))
      .persist()
    ranked.count(); qv.unpersist()
    def slice(lo: Double, hi: Double) =
      ranked.filter(col("pr") >= lo && col("pr") < hi)
        .select("vec_id", "label", "qe")
    val base = slice(0.0, 0.5).persist(); val nBase = base.count()
    val probe = ranked.filter(col("pr") >= 0.9)
      .select(col("vec_id").as("doc_id"), col("vec_id"), col("label"), col("qe"))
      .persist()
    val nProbe = probe.count()

    def buildOn(corpus: org.apache.spark.sql.DataFrame): (Similarity.IvfPqIndex, Int, Double, Double) = {
      val kept = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.DataFrame]()
      val keep = (df: org.apache.spark.sql.DataFrame) => { df.persist(); kept += df; df }
      val t = System.nanoTime()
      val (idx, p, _) = Similarity.ivfPqBuildCelled(corpus, keep)
      // codes already rides `keep`'s persist (the r16 builder change) —
      // materialize it, don't re-persist it (r16 ADVICE: the explicit
      // second .persist() was a redundant double registration)
      val codes = idx.codes
      codes.count(); idx.cent.count(); idx.codebook.count()
      val tau = Similarity.calibratedGateTau(corpus, idx)
      val sec = (System.nanoTime() - t) / 1e9
      // codes survives buildOn alongside cent/codebook (release() drops
      // all three later) — the old exclusion list missed it, so the
      // cadence loop's verdict probes re-encoded the corpus every step
      kept.filterNot(d =>
          (d eq idx.cent) || (d eq idx.codebook) || (d eq idx.codes))
        .foreach(_.unpersist(blocking = false))
      (Similarity.IvfPqIndex(idx.cent, idx.codebook, codes), p, tau, sec)
    }
    def verdictsOf(idx: Similarity.IvfPqIndex, tau: Double) =
      Similarity.ivfPqTopK(
          probe.select(col("doc_id").as("qid"), col("qe")), idx, k = 1)
        .select(col("qid"),
          (expr("sqrt(cast(adist as double)) / 1048576.0D") <= tau)
            .as("dup"))
    def release(idx: Similarity.IvfPqIndex): Unit = {
      idx.cent.unpersist(); idx.codebook.unpersist(); idx.codes.unpersist()
    }

    val (idx0, p0, tau0, baseSec) = buildOn(base)
    println(f"""{"metric":"refresh_cadence","step":0,"n_base":$nBase,"n_probe":$nProbe,"cell_width":$p0,"base_build_sec":$baseSec%.1f,"tau0":$tau0%.4f}""")

    var incCodes = idx0.codes
    (1 to 4).foreach { t =>
      val lo = 0.5 + (t - 1) * 0.1
      val chunk = slice(lo, lo + 0.1).persist()
      val nChunk = chunk.count()
      // incremental: frozen centroids/codebooks, encode + append codes
      val t0 = System.nanoTime()
      // the frozen dial is part of "incremental": new vectors encode
      // into the BASE build's cells (width p0), codebooks untouched
      val newCodes = Similarity.ivfPqEncode(Similarity.celled(chunk, p0), idx0)
      val merged = incCodes.union(newCodes).persist()
      merged.count()
      val incSec = (System.nanoTime() - t0) / 1e9
      if (!(incCodes eq idx0.codes)) incCodes.unpersist()
      incCodes = merged
      val incIdx = Similarity.IvfPqIndex(idx0.cent, idx0.codebook, incCodes)
      // middle arm: incremental codes + RECALIBRATED τ — a τ refresh
      // costs one bounded ~500-probe calibration pass, so if most of
      // the drift is threshold drift (the frozen τ no longer matching
      // the densifying corpus) the cheap arm recovers it without
      // touching the codebooks
      val corpusSoFar = slice(0.0, lo + 0.1).persist()
      val tR = System.nanoTime()
      val recalTau = Similarity.calibratedGateTau(
        corpusSoFar.select("vec_id", "qe"), incIdx)
      val recalSec = (System.nanoTime() - tR) / 1e9
      // rebuild: everything so far, τ recalibrated
      val (rebIdx, _, rebTau, rebSec) = buildOn(corpusSoFar)
      // drift: the rebuild is the reference answer for the same probe
      val inc = verdictsOf(incIdx, tau0)
      val rec = verdictsOf(incIdx, recalTau)
      val reb = verdictsOf(rebIdx, rebTau)
      val joined = inc.withColumnRenamed("dup", "inc_dup")
        .join(rec.withColumnRenamed("dup", "rec_dup"), Seq("qid"), "full")
        .join(reb.withColumnRenamed("dup", "reb_dup"), Seq("qid"), "full")
        .select(
          coalesce(col("inc_dup"), lit(false)).as("inc_dup"),
          coalesce(col("rec_dup"), lit(false)).as("rec_dup"),
          coalesce(col("reb_dup"), lit(false)).as("reb_dup"))
        .persist()
      val nJ = joined.count()
      val disagree = joined.filter(col("inc_dup") =!= col("reb_dup")).count()
      val disagreeRec = joined.filter(col("rec_dup") =!= col("reb_dup")).count()
      val flagInc = joined.filter(col("inc_dup")).count()
      val flagRec = joined.filter(col("rec_dup")).count()
      val flagReb = joined.filter(col("reb_dup")).count()
      joined.unpersist(); chunk.unpersist(); corpusSoFar.unpersist()
      release(rebIdx)
      println(f"""{"metric":"refresh_cadence","step":$t,"growth_pct":${(t * 10)},"n_chunk":$nChunk,"inc_encode_sec":$incSec%.2f,"recal_sec":$recalSec%.2f,"rebuild_sec":$rebSec%.1f,"recal_tau":$recalTau%.4f,"reb_tau":$rebTau%.4f,"n_probe":$nJ,"disagree_frozen_ppm":${1000000L * disagree / math.max(1, nJ)},"disagree_recal_ppm":${1000000L * disagreeRec / math.max(1, nJ)},"flag_inc":$flagInc,"flag_rec":$flagRec,"flag_reb":$flagReb}""")
    }
    spark.stop()
  }
}
