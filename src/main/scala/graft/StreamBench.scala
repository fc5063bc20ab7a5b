package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.ext.Dedup
import graft.gen.FarmProducer
import graft.stream.{IngestStream, StreamingCuration, Throttle}

/** The streaming runner: one scenario per streaming path, each reporting
  * from its query's own StreamingQueryProgress events (the Structured
  * Streaming monitoring model), never from a side probe.
  *
  *   runMain graft.StreamBench [nEvents] [nFiles] [filesPerTrigger]
  *   runMain graft.StreamBench paced [seconds]
  *   runMain graft.StreamBench state [nEvents] [nKeys] [nFiles] [perTrigger]
  *   runMain graft.StreamBench curation [dir] [perTrigger]
  *
  *  - default (ingest): the FULL reference path end to end — producer
  *    wire records → base-rate faults/alerts → decode/parse/validate/
  *    alert → throttle state machine → status-partitioned JSON lake +
  *    parquet alert sink, all in the one ingest query. One
  *    `stream_ingest` line (events/s, batch latency percentiles, landed
  *    and alert rows) and a `stream_batch` line per micro-batch on
  *    stderr.
  *  - `paced`: event-to-sink latency at the reference's cadence
  *    ([[paced]]).
  *  - `state`: the throttle's per-location processor alone, at a large
  *    key space ([[state]]).
  *  - `curation`: the streaming curation gates over a testdata or
  *    ScaleGen dir ([[curation]]).
  *
  * The batch scenarios read time-ordered file shards ([[shards]]): the
  * file analog of the Kinesis batches (SURVEY §2.1 S1/S3), nFiles shards
  * consumed perTrigger at a time, so a run is nFiles/perTrigger
  * micro-batches and its stateful outputs are run-deterministic.
  */
object StreamBench {
  def main(args: Array[String]): Unit = args.headOption match {
    case Some("paced") => paced(args.lift(1).map(_.toInt).getOrElse(60))
    case Some("state") => state(
      args.lift(1).map(_.toLong).getOrElse(1000000L),
      args.lift(2).map(_.toLong).getOrElse(300000L),
      args.lift(3).map(_.toInt).getOrElse(32),
      args.lift(4).map(_.toInt).getOrElse(4))
    case Some("curation") => curation(
      args.lift(1).getOrElse("/root/testdata/sf0.1"),
      args.lift(2).map(_.toInt).getOrElse(4))
    case _ => ingest(
      args.lift(0).map(_.toLong).getOrElse(1000000L),
      args.lift(1).map(_.toInt).getOrElse(32),
      args.lift(2).map(_.toInt).getOrElse(4))
  }

  /** Writes `df` one file per partition and pins the file source's pick
    * order to partition order ([[IngestStream.pinPickOrder]]). Callers
    * hand in partitions that are contiguous event-time slices (range
    * partitions: round-robin shards made every batch replay the whole
    * time range), so shards arrive in event-time order like a broker
    * stream.
    */
  private[graft] def shards(df: DataFrame, path: String,
      format: String = "parquet"): Unit = {
    df.write.format(format).save(path)
    IngestStream.pinPickOrder(path)
  }

  /** A stream over parquet [[shards]], `perTrigger` files per batch. */
  private[graft] def shardStream(spark: SparkSession, path: String,
      perTrigger: Int): DataFrame =
    spark.readStream.schema(spark.read.parquet(path).schema)
      .option("maxFilesPerTrigger", perTrigger).parquet(path)

  /** A drained AvailableNow query: its wall time from `start` and the
    * progress events of the micro-batches that read rows.
    */
  private[graft] final case class Drained(query: StreamingQuery, wallSec: Double) {
    val batches: Array[StreamingQueryProgress] =
      query.recentProgress.filter(_.numInputRows > 0)
    private val durs =
      batches.map(_.durationMs.get("triggerExecution").toLong).sorted
    /** Trigger-execution latency percentile over [[batches]]. */
    def pct(p: Double): Long =
      if (durs.isEmpty) 0L else durs(((durs.length - 1) * p).toInt)
  }

  /** Starts a query and waits for it to drain its source. */
  private[graft] def drain(start: => StreamingQuery): Drained = {
    val t0 = System.nanoTime()
    val q = start
    q.awaitTermination()
    Drained(q, (System.nanoTime() - t0) / 1e9)
  }

  private def verdictCounts(lake: DataFrame): String =
    lake.groupBy("verdict").agg(count(lit(1)).as("n"))
      .collect().map(r => s""""${r.getString(0)}":${r.getLong(1)}""")
      .sorted.mkString("{", ",", "}")

  /** Events/s and batch latency of the full ingest topology. */
  def ingest(n: Long, nFiles: Int, perTrigger: Int): Unit = {
    val spark = GraftSession.local()
    val root = Files.createTempDirectory("graft_streambench").toString
    val (src, lake, alerts, ckpt) =
      (s"$root/src", s"$root/lake", s"$root/alerts", s"$root/ckpt")

    // producer → files is the faithful topology (the reference's
    // producer publishes to MQTT, never feeds the Lambda in-process);
    // the producer's partitions are contiguous event-time slices
    shards(FarmProducer.records(spark, n, numPartitions = nFiles), src, "text")
    val run = drain(IngestStream.start(
      IngestStream.fileSource(spark, src, Some(perTrigger)),
      lake, alerts, ckpt)._1)

    // per-batch duration breakdown: addBatch = the sink write + batch
    // compute; walCommit/commitOffsets = offset-log fsyncs; stateCommit
    // lives inside addBatch
    run.query.recentProgress.foreach { p =>
      val d = p.durationMs
      def ms(k: String): Long =
        Option(d.get(k)).map(_.toLong).getOrElse(-1L)
      System.err.println(
        s"""{"metric":"stream_batch","query":"${p.name}","batch":${p.batchId},""" +
          s""""ts":"${p.timestamp}","rows":${p.numInputRows},""" +
          s""""trigger_ms":${ms("triggerExecution")},"addbatch_ms":${ms("addBatch")},""" +
          s""""walcommit_ms":${ms("walCommit")},"commitoffsets_ms":${ms("commitOffsets")},""" +
          s""""getbatch_ms":${ms("getBatch")},"latestoffset_ms":${ms("latestOffset")}}""")
    }

    val landed = spark.read.json(lake).count()
    val alertRows = spark.read.parquet(alerts).count()
    println(
      s"""{"metric":"stream_ingest","events":$n,"wall_sec":${f"${run.wallSec}%.1f"},""" +
        s""""events_per_sec":${(n / run.wallSec).toInt},""" +
        s""""n_batches":${run.batches.length},"batch_ms_p50":${run.pct(0.5)},""" +
        s""""batch_ms_p95":${run.pct(0.95)},"batch_ms_max":${run.pct(1.0)},""" +
        s""""landed_rows":$landed,"alert_rows":$alertRows}""")
    graft.stream.OrderlyShutdown.stop(spark)
  }

  /** Keyed-state scale of the alert path. The ingest scenario runs the
    * reference's real key space (3 locations, one state row each), which
    * says nothing about the throttle when keyed state is LARGE; this
    * drives [[Throttle]]'s per-location processor — the one the ingest
    * query runs — alone, through its occurrence API, over a synthetic
    * high-cardinality location stream, on the session's state store.
    * Locations round-robin at 1 s event spacing, so each recurs every
    * nKeys seconds — beyond the 1 h TTL once nKeys > 3600 — and the
    * reported state_rows is the LIVE horizon (one micro-batch's key span
    * plus the TTL+watermark window), not the total key count.
    */
  def state(n: Long, nKeys: Long, nFiles: Int, perTrigger: Int): Unit = {
    val spark = GraftSession.local()
    import spark.implicits._
    val root = Files.createTempDirectory("graft_statebench").toString
    val src = s"$root/src"
    // spark.range's partitions are contiguous id (= event-time) slices
    shards(spark.range(0L, n, 1L, nFiles).select(
      concat(lit("loc_"), col("id") % nKeys).as("locId"),
      lit("high_temperature").as("alertType"),
      lit("HIGH").as("priority"),
      lit("temperature above range").as("description"),
      format_string("evt_%012d", col("id")).as("eventId"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 1000000L)
        .as("eventTime")), src)

    val sent = Throttle(shardStream(spark, src, perTrigger)
      .as[Throttle.Occurrence]
      .withWatermark("eventTime", "10 minutes"))
    val run = drain(sent.writeStream
      .format("noop")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow())
      .start())

    val lastState = run.batches.reverse.flatMap(_.stateOperators.headOption)
      .headOption
    val stateRows = lastState.map(_.numRowsTotal).getOrElse(-1L)
    val stateMemMb = lastState.map(_.memoryUsedBytes / 1e6).getOrElse(-1.0)
    // state size over time, one point per micro-batch (recentProgress
    // holds the last 100): the TTL evidence — state rows RISE to the
    // TTL+watermark horizon and PLATEAU there, not track the cumulative
    // key count
    val series = run.batches.map { p =>
      val so = p.stateOperators.headOption
      s"""{"batch":${p.batchId},"rows_in":${p.numInputRows},""" +
        s""""exec_ms":${p.durationMs.get("triggerExecution").toLong},""" +
        s""""state_rows":${so.map(_.numRowsTotal).getOrElse(-1L)},""" +
        s""""mem_mb":${f"${so.map(_.memoryUsedBytes / 1e6).getOrElse(-1.0)}%.1f"}}"""
    }.mkString("[", ",", "]")
    println(s"""{"metric":"state_series","points":$series}""")
    println(
      s"""{"metric":"state_bench","events":$n,"n_keys":$nKeys,""" +
        s""""wall_sec":${f"${run.wallSec}%.1f"},"events_per_sec":${(n / run.wallSec).toInt},""" +
        s""""n_batches":${run.batches.length},"batch_ms_p50":${run.pct(0.5)},"batch_ms_max":${run.pct(1.0)},""" +
        s""""state_rows":$stateRows,"state_mem_mb":${f"$stateMemMb%.1f"}}""")
    graft.stream.OrderlyShutdown.stop(spark)
  }

  /** Throughput of the streaming curation path
    * (`stream/StreamingCuration.scala`) over a dir's corpus, one
    * `curation_stream` line per leg with docs/s and its counts:
    *
    *  1. the verdict-partitioned lake sink [[StreamingCuration.run]]:
    *     quality gate + benchmark-contamination semi-join;
    *  2. the near-dup candidate stream
    *     [[StreamingCuration.nearDupCandidateIds]]: per-doc minhash16 →
    *     stream-static semi-join against the corpus signature relation;
    *  3. the semantic gate [[StreamingCuration.runSemanticGate]]: the
    *     static IVF-PQ index probed with the corpus's own embeddings.
    *
    * Static sides are built the way a deployment would: the benchmark
    * shingle set from a fixed eval sample (every 200th doc — a known
    * contaminated fraction), the signature relation and the index from
    * the corpus itself (so every streamed doc collides — worst-case
    * probe load).
    */
  def curation(dir: String, perTrigger: Int): Unit = {
    val spark = GraftSession.local()
    val root = Files.createTempDirectory("graft_curbench").toString
    val nFiles = 32
    // persist: setup consumes the corpus four times (count, shards,
    // benchmark shingles, signature table) — one scan, not four
    val docs = Tables.documents(spark, dir).persist()
    val nDocs = docs.count()

    // doc_id order IS arrival order, 1 doc/s
    val src = s"$root/src"
    shards(docs
      .withColumn("ts", timestamp_micros(
        lit(1704067200000000L) + col("doc_id") * 1000000L))
      .repartitionByRange(nFiles, col("doc_id")), src)

    val bench = Dedup.shinglesOf(docs.filter(col("doc_id") % 200 === 0))
      .select("sh").distinct().persist()
    val benchN = bench.count()
    val corpusSig = StreamingCuration.signatureTable(docs).persist()
    val sigN = corpusSig.count()
    docs.unpersist()

    // ── leg 1: deployable verdict-partitioned lake sink ──────────────
    val lake = drain(StreamingCuration.run(shardStream(spark, src, perTrigger),
      bench, s"$root/lake", s"$root/ckpt1"))
    println(
      s"""{"metric":"curation_stream","leg":"gate+decontaminate lake sink","docs":$nDocs,""" +
        s""""bench_shingles":$benchN,"wall_sec":${f"${lake.wallSec}%.1f"},""" +
        s""""docs_per_sec":${(nDocs / lake.wallSec).toInt},""" +
        s""""verdicts":${verdictCounts(spark.read.parquet(s"$root/lake"))}}""")

    // leg 3's embeddings, counted before leg 2 takes the JVM's cache
    // headroom
    val emb = Tables.embeddings(spark, dir)
    val nVec = emb.count()

    // ── leg 2: streaming near-dup candidate gate ─────────────────────
    val nd = drain(StreamingCuration
      .nearDupCandidateIds(shardStream(spark, src, perTrigger), corpusSig,
        "ts", "10 minutes")
      .writeStream.format("noop")
      .option("checkpointLocation", s"$root/ckpt2")
      .trigger(Trigger.AvailableNow()).start())
    val candRows = nd.batches.map(_.sink.numOutputRows).sum
    println(
      s"""{"metric":"curation_stream","leg":"near-dup candidate gate","docs":$nDocs,""" +
        s""""corpus_sig_rows":$sigN,"wall_sec":${f"${nd.wallSec}%.1f"},""" +
        s""""docs_per_sec":${(nDocs / nd.wallSec).toInt},"n_batches":${nd.batches.length},""" +
        s""""candidates":$candRows}""")

    // ── leg 3: streaming semantic near-dup gate ──────────────────────
    // ids offset past the corpus, so every streamed doc has an exact
    // twin in the index (its un-offset self): every probe pays a full
    // LUT + probed ADC scan and the flag rate is the quantization-error
    // ceiling, not a fixture artifact
    val idx = StreamingCuration.semanticIndex(emb)
    val src3 = s"$root/src_emb"
    shards(emb.select((col("vec_id") + 1000000000L).as("doc_id"), col("embedding"))
      .repartitionByRange(nFiles, col("doc_id")), src3)
    val sem = drain(StreamingCuration.runSemanticGate(
      shardStream(spark, src3, perTrigger),
      idx, maxDist = 1.0, s"$root/semlake", s"$root/ckpt3"))
    println(
      s"""{"metric":"curation_stream","leg":"semantic gate (IVF-PQ probe)","docs":$nVec,""" +
        s""""index_vectors":$nVec,"wall_sec":${f"${sem.wallSec}%.1f"},""" +
        s""""docs_per_sec":${(nVec / sem.wallSec).toInt},""" +
        s""""verdicts":${verdictCounts(spark.read.parquet(s"$root/semlake"))}}""")
    graft.stream.OrderlyShutdown.stop(spark)
  }

  /** Event-to-sink latency at the reference's cadence: the producer
    * publishes 3 records every 3 s (`Producer /producer.py`), here as
    * one JSONL file per tick, for `seconds`, under a 1 s processing-time
    * trigger. Each record's event time is its landing time, and its
    * latency is the modification time of the sink file holding it minus
    * that. Prints the lake's and the alert sink's p50/p90 in ms.
    */
  def paced(seconds: Int): Unit = {
    val spark = GraftSession.local()
    val root = Files.createTempDirectory("graft_paced").toString
    val (src, lake, alerts, ckpt) =
      (s"$root/src", s"$root/lake", s"$root/alerts", s"$root/ckpt")
    Files.createDirectories(java.nio.file.Paths.get(src))
    val ticks = math.max(1, seconds / 3)
    val pool = FarmProducer.records(spark, 3L * ticks, seed = 1L)
      .collect().map(_.getString(0))
    val iso = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").withZone(java.time.ZoneOffset.UTC)
    val (query, _) = IngestStream.start(IngestStream.fileSource(spark, src),
      lake, alerts, ckpt, trigger = Trigger.ProcessingTime("1 second"))
    val t0 = System.currentTimeMillis()
    pool.grouped(3).zipWithIndex.foreach { case (recs, i) =>
      val stamp = iso.format(java.time.Instant.now())
      val lines = recs.map(_.replaceFirst("\"timestamp\": \"[^\"]*\"",
        s""""timestamp": "$stamp""""))
      // written under a hidden name, then renamed: the file source
      // never sees a partial file
      val tmp = java.nio.file.Paths.get(src, f".tick-$i%05d.jsonl")
      Files.write(tmp, lines.mkString("\n").getBytes("UTF-8"))
      Files.move(tmp, java.nio.file.Paths.get(src, f"tick-$i%05d.jsonl"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      Thread.sleep(math.max(0L, t0 + (i + 1) * 3000L - System.currentTimeMillis()))
    }
    query.processAllAvailable()
    query.stop()

    def latencies(df: DataFrame, eventTime: org.apache.spark.sql.Column): Array[Long] =
      df.select(input_file_name(), (eventTime.cast("double") * 1000).cast("long"))
        .na.drop().collect().map { r =>
          new java.io.File(new java.net.URI(r.getString(0))).lastModified() - r.getLong(1)
        }.sorted
    def pct(xs: Array[Long], p: Double): Long =
      if (xs.isEmpty) -1L else xs(((xs.length - 1) * p).toInt)
    val lakeMs = latencies(spark.read.json(lake), to_timestamp(col("timestamp")))
    val alertMs = latencies(spark.read.parquet(alerts), col("eventTime"))
    println(
      s"""{"metric":"stream_paced","seconds":$seconds,"events":${pool.length},""" +
        s""""lake_rows":${lakeMs.length},"lake_p50_ms":${pct(lakeMs, 0.5)},""" +
        s""""lake_p90_ms":${pct(lakeMs, 0.9)},"alert_rows":${alertMs.length},""" +
        s""""alert_p50_ms":${pct(alertMs, 0.5)},"alert_p90_ms":${pct(alertMs, 0.9)}}""")
    graft.stream.OrderlyShutdown.stop(spark)
  }
}
