package graft

import java.nio.file.Files

import graft.gen.FarmProducer
import graft.stream.IngestStream

/** Streaming throughput/latency figure for the ingest topology — the
  * reference is a REAL-TIME pipeline, so the batch registry bench alone
  * under-describes it. `runMain graft.StreamBench [nEvents] [nFiles]
  * [filesPerTrigger]` drives the FULL path end to end — producer wire
  * records → base-rate faults/alerts → decode/parse/validate/alert →
  * throttle state machine → status-partitioned JSON lake + parquet
  * alert sink — and prints one JSON line with events/s and
  * per-micro-batch latency percentiles from the engine's own
  * StreamingQueryProgress.
  *
  * The source is the file analog of the Kinesis batches (SURVEY §2.1
  * S1/S3): nFiles JSONL shards consumed filesPerTrigger at a time, so
  * a run produces nFiles/filesPerTrigger micro-batches — enough
  * samples for a latency distribution, same stateless/stateful hops a
  * record-broker source would drive.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toLong).getOrElse(1000000L)
    val nFiles = args.lift(1).map(_.toInt).getOrElse(32)
    val perTrigger = args.lift(2).map(_.toInt).getOrElse(4)
    // 4th arg "tws": run the alert throttle on Spark 4
    // transformWithState + RocksDB instead of fMGWS + the default
    // HDFS-backed store — the two state-API paths ThrottleSpec proves
    // equivalent, measured head to head
    val tws = args.lift(3).contains("tws")
    val spark = GraftSession.local()
    if (tws) {
      spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // avro state encoding: additive state-schema evolution across
      // restarts (StateEvolutionSpec; see Throttle.TwsThrottleState doc)
      spark.conf.set("spark.sql.streaming.stateStore.encodingFormat", "avro")
    }

    val root = Files.createTempDirectory("graft_streambench").toString
    val (src, lake, alerts, ckpt) =
      (s"$root/src", s"$root/lake", s"$root/alerts", s"$root/ckpt")

    // producer → files is the faithful topology (the reference's
    // producer publishes to MQTT, never feeds the Lambda in-process).
    // Shards are contiguous event-time slices (range partitions, no
    // shuffle) and the mtime stamping below pins the file source's
    // (modTime, path) pick order to event-time order — so micro-batches
    // arrive in-order like a broker stream, the watermark/TTL are
    // exercised mid-stream, and the alert count is run-deterministic
    // (round-robin shards made every batch replay the full 34-day
    // range, and mtime ties made the batch composition — and hence
    // suppression decisions — vary run to run)
    FarmProducer.records(spark, n, numPartitions = nFiles).write.text(src)
    val parts = new java.io.File(src).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val nowMs = System.currentTimeMillis()
    parts.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(nowMs - (parts.length - i) * 1000L)
    }

    val t0 = System.nanoTime()
    val (lakeQ, alertQ) = IngestStream.start(
      IngestStream.fileSource(spark, src, Some(perTrigger)),
      lake, alerts, ckpt, useTransformWithState = tws)
    lakeQ.awaitTermination()
    val lakeSec = (System.nanoTime() - t0) / 1e9
    alertQ.awaitTermination()
    val wallSec = (System.nanoTime() - t0) / 1e9

    val batches = lakeQ.recentProgress.filter(_.numInputRows > 0)
    val durs = batches
      .map(_.durationMs.get("triggerExecution").toLong).sorted
    def pct(p: Double): Long =
      if (durs.isEmpty) 0L else durs(((durs.length - 1) * p).toInt)
    // per-batch duration breakdown as a machine-readable line, read
    // from recentProgress after the run (so it costs the run nothing):
    // addBatch = the sink write + batch compute; walCommit/commitOffsets
    // = offset-log fsyncs; stateCommit lives inside addBatch for the
    // stateful query
    (lakeQ.recentProgress ++ alertQ.recentProgress).foreach { p =>
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
    // host-speed stamp AFTER the streaming run (r11 ask #3: ingest
    // lines need the same normalization denominator the soak/bench
    // lines carry; running the calibration after keeps the streaming
    // measurement itself uncontended). Shares Scale's machinery —
    // HostCal pins/restores the partition config itself.
    val curShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    if (HostCal.enabled) HostCal.warm(spark)
    val hostSpeed = HostCal.measure(spark, GraftSession.cores, curShuffle)
    println(
      s"""{"metric":"stream_ingest","state_api":"${if (tws) "transformWithState+rocksdb" else "fMGWS+hdfs"}","events":$n,"wall_sec":${f"$wallSec%.1f"},""" +
        s""""lake_sec":${f"$lakeSec%.1f"},"events_per_sec":${(n / wallSec).toInt},""" +
        s""""n_batches":${batches.length},"batch_ms_p50":${pct(0.5)},""" +
        s""""batch_ms_p95":${pct(0.95)},"batch_ms_max":${pct(1.0)},""" +
        s""""landed_rows":$landed,"alert_rows":$alertRows,""" +
        s""""host_speed_vs_clean_r9":${f"$hostSpeed%.3f"}}""")
    graft.stream.OrderlyShutdown.stop(spark)
  }
}
