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
  * alert sink, all in the one ingest query — and prints one JSON line
  * with events/s and per-micro-batch latency percentiles from the
  * engine's own StreamingQueryProgress.
  *
  * The source is the file analog of the Kinesis batches (SURVEY §2.1
  * S1/S3): nFiles JSONL shards consumed filesPerTrigger at a time, so
  * a run produces nFiles/filesPerTrigger micro-batches — enough
  * samples for a latency distribution, same stateless/stateful hops a
  * record-broker source would drive.
  *
  * `runMain graft.StreamBench paced [seconds]` measures event-to-sink
  * latency at the reference's cadence instead (see [[paced]]).
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("paced")) {
      paced(args.lift(1).map(_.toInt).getOrElse(60))
      return
    }
    val n = args.lift(0).map(_.toLong).getOrElse(1000000L)
    val nFiles = args.lift(1).map(_.toInt).getOrElse(32)
    val perTrigger = args.lift(2).map(_.toInt).getOrElse(4)
    val spark = GraftSession.local()

    val root = Files.createTempDirectory("graft_streambench").toString
    val (src, lake, alerts, ckpt) =
      (s"$root/src", s"$root/lake", s"$root/alerts", s"$root/ckpt")

    // producer → files is the faithful topology (the reference's
    // producer publishes to MQTT, never feeds the Lambda in-process).
    // Shards are contiguous event-time slices (range partitions, no
    // shuffle; round-robin shards made every batch replay the full
    // 34-day range) and pinPickOrder admits them in that order, so the
    // alert count is run-deterministic
    FarmProducer.records(spark, n, numPartitions = nFiles).write.text(src)
    IngestStream.pinPickOrder(src)

    val t0 = System.nanoTime()
    val (query, _) = IngestStream.start(
      IngestStream.fileSource(spark, src, Some(perTrigger)),
      lake, alerts, ckpt)
    query.awaitTermination()
    val wallSec = (System.nanoTime() - t0) / 1e9

    val batches = query.recentProgress.filter(_.numInputRows > 0)
    val durs = batches
      .map(_.durationMs.get("triggerExecution").toLong).sorted
    def pct(p: Double): Long =
      if (durs.isEmpty) 0L else durs(((durs.length - 1) * p).toInt)
    // per-batch duration breakdown as a machine-readable line, read
    // from recentProgress after the run (so it costs the run nothing):
    // addBatch = the sink write + batch compute; walCommit/commitOffsets
    // = offset-log fsyncs; stateCommit lives inside addBatch
    query.recentProgress.foreach { p =>
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
      s"""{"metric":"stream_ingest","events":$n,"wall_sec":${f"$wallSec%.1f"},""" +
        s""""events_per_sec":${(n / wallSec).toInt},""" +
        s""""n_batches":${batches.length},"batch_ms_p50":${pct(0.5)},""" +
        s""""batch_ms_p95":${pct(0.95)},"batch_ms_max":${pct(1.0)},""" +
        s""""landed_rows":$landed,"alert_rows":$alertRows,""" +
        s""""host_speed_vs_clean_r9":${f"$hostSpeed%.3f"}}""")
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
      lake, alerts, ckpt, trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
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

    import org.apache.spark.sql.functions._
    def latencies(df: org.apache.spark.sql.DataFrame, eventTime: org.apache.spark.sql.Column): Array[Long] =
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
