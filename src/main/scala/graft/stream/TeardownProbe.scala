package graft.stream

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.GraftSession

/** Minimal reproduction/regression driver for the RocksDB teardown
  * SIGSEGV (SCALE.md §2): run the [[Throttle]] processor on the RocksDB state
  * store with changelog checkpointing (the store configuration the 10M
  * soak crashed under — the crash was a JNI logger-lifetime race in
  * the provider's teardown, not in the operator), then tear the
  * session down and exit 0. Run in a FORKED JVM by
  * RocksDBTeardownSpec: if the native crash recurs, the
  * probe dies with SIGSEGV (exit 134/139) instead of killing the test
  * suite, and the spec fails on the exit code.
  *
  * `runMain graft.stream.TeardownProbe [nEvents] [nKeys]` tears down
  * via [[OrderlyShutdown]] (queries → StateStore.stop() →
  * spark.stop()).
  */
object TeardownProbe {
  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toLong).getOrElse(200000L)
    val nKeys = args.lift(1).map(_.toLong).getOrElse(200000L)
    val spark = GraftSession.local()
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    import spark.implicits._

    val root = Files.createTempDirectory("graft_teardown").toString
    spark.range(0L, n, 1L, 8).select(
      concat(lit("loc_"), col("id") % nKeys).as("locId"),
      lit("high_temperature").as("alertType"),
      lit("HIGH").as("priority"),
      lit("probe").as("description"),
      format_string("evt_%09d", col("id")).as("eventId"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 1000000L)
        .as("eventTime"))
      .write.parquet(s"$root/src")

    val q = Throttle(
        spark.readStream
          .schema("locId STRING, alertType STRING, priority STRING, " +
            "description STRING, eventId STRING, eventTime TIMESTAMP")
          .option("maxFilesPerTrigger", 2)
          .parquet(s"$root/src")
          .as[Throttle.Occurrence]
          .withWatermark("eventTime", "10 minutes"))
      .writeStream.format("noop")
      .option("checkpointLocation", s"$root/cp")
      .trigger(Trigger.AvailableNow())
      .outputMode("append").start()
    q.awaitTermination()
    val batches = q.recentProgress.length
    q.stop()

    OrderlyShutdown.stop(spark)
    // the soak's crash arrived ~16 s AFTER stop returned, on a native
    // background thread — hold the JVM open long enough for any such
    // straggler to fire inside the probe's observation window
    Thread.sleep(20000L)
    println(s"""{"metric":"teardown_probe","events":$n,"batches":$batches,"clean_exit":true}""")
  }
}
