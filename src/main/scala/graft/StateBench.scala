package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.stream.{IngestStream, Throttle}

/** State-scale figure for the stateful alert path: the full-topology
  * StreamBench exercises the reference's real key space (3 locations ×
  * a few alert types ≈ 15 keys), which says nothing about how the
  * throttle behaves when keyed state is LARGE. This bench drives the
  * [[Throttle]] operator alone with a synthetic high-cardinality
  * occurrence stream and reports the engine's own state-store metrics
  * alongside throughput. Keys round-robin at 1s event spacing, so each
  * key recurs every nKeys seconds — beyond the 1h TTL once
  * nKeys > 3600, which makes the event-time TTL measurable: reported
  * state_rows is the LIVE horizon (one micro-batch's key span plus the
  * TTL+watermark window), not the total key count, proving state ages
  * out instead of accumulating.
  *
  * `runMain graft.StateBench [nEvents] [nKeys] [nFiles] [perTrigger]`
  * — same time-ordered-shard discipline as StreamBench (range
  * partitions + mtime-pinned pick order), so runs are deterministic.
  * The throttle runs on the session's state store provider.
  */
object StateBench {
  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toLong).getOrElse(1000000L)
    val nKeys = args.lift(1).map(_.toLong).getOrElse(300000L)
    val nFiles = args.lift(2).map(_.toInt).getOrElse(32)
    val perTrigger = args.lift(3).map(_.toInt).getOrElse(4)
    val spark = GraftSession.local()
    import spark.implicits._

    val root = Files.createTempDirectory("graft_statebench").toString
    val src = s"$root/src"
    // 1s event spacing, round-robin keys (see scaladoc for the TTL
    // interaction this is designed to expose)
    spark.range(0L, n, 1L, nFiles).select(
      concat(lit("loc_"), col("id") % nKeys).as("locId"),
      lit("high_temperature").as("alertType"),
      lit("HIGH").as("priority"),
      lit("temperature above range").as("description"),
      format_string("evt_%012d", col("id")).as("eventId"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 1000000L)
        .as("eventTime"))
      .write.parquet(src)
    IngestStream.pinPickOrder(src)

    val occ = spark.readStream
      .schema("locId STRING, alertType STRING, priority STRING, " +
        "description STRING, eventId STRING, eventTime TIMESTAMP")
      .option("maxFilesPerTrigger", perTrigger)
      .parquet(src)
      .as[Throttle.Occurrence]
      .withWatermark("eventTime", "10 minutes")
    val sent = Throttle(occ)

    val t0 = System.nanoTime()
    val q = sent.writeStream
      .format("noop")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val wallSec = (System.nanoTime() - t0) / 1e9

    val progress = q.recentProgress.filter(_.numInputRows > 0)
    val durs = progress
      .map(_.durationMs.get("triggerExecution").toLong).sorted
    def pct(p: Double): Long =
      if (durs.isEmpty) 0L else durs(((durs.length - 1) * p).toInt)
    val stateOps = progress.reverse.flatMap(_.stateOperators.headOption)
    val lastState = stateOps.headOption
    val stateRows = lastState.map(_.numRowsTotal).getOrElse(-1L)
    val stateMemMb = lastState.map(_.memoryUsedBytes / 1e6).getOrElse(-1.0)

    // state-size-over-time: one point per micro-batch (recentProgress
    // holds the last 100 — at soak batch sizes that is every batch).
    // The series is the TTL evidence: state rows should RISE to the
    // TTL+watermark horizon and PLATEAU there across many horizons,
    // not track the cumulative key count.
    val series = progress.map { p =>
      val so = p.stateOperators.headOption
      s"""{"batch":${p.batchId},"rows_in":${p.numInputRows},""" +
        s""""exec_ms":${p.durationMs.get("triggerExecution").toLong},""" +
        s""""state_rows":${so.map(_.numRowsTotal).getOrElse(-1L)},""" +
        s""""mem_mb":${f"${so.map(_.memoryUsedBytes / 1e6).getOrElse(-1.0)}%.1f"}}"""
    }.mkString("[", ",", "]")
    println(s"""{"metric":"state_series","points":$series}""")
    println(
      s"""{"metric":"state_bench","events":$n,"n_keys":$nKeys,""" +
        s""""wall_sec":${f"$wallSec%.1f"},"events_per_sec":${(n / wallSec).toInt},""" +
        s""""n_batches":${progress.length},"batch_ms_p50":${pct(0.5)},"batch_ms_max":${pct(1.0)},""" +
        s""""state_rows":$stateRows,"state_mem_mb":${f"$stateMemMb%.1f"}}""")
    graft.stream.OrderlyShutdown.stop(spark)
  }
}
