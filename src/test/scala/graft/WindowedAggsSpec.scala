package graft

import java.sql.Timestamp

import graft.stream.WindowedAggs
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Streaming tumbling-window aggregation: append-mode emission is
  * gated by the watermark (closed windows emit, open windows hold
  * state), and the same plan aggregates identically in batch.
  */
class WindowedAggsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(s: String) = Timestamp.valueOf(s)

  test("append mode emits only windows the watermark has closed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Double)]
    in.addData(
      (ts("2025-08-09 12:00:00"), 1.0),
      (ts("2025-08-09 12:30:00"), 2.0),
      // advances watermark to 13:00 → closes the 12:00 window; its own
      // 13:00 window stays open (no emission)
      (ts("2025-08-09 13:10:00"), 5.0))
    val q = WindowedAggs.tumbling(
      in.toDF.toDF("ts", "value"), "ts", "value")
      .writeStream
      .format("memory").queryName("win_out")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val rows = spark.table("win_out")
      .select("window_start", "sum_value", "n").collect()
    assert(rows.length === 1)
    assert(rows.head.getTimestamp(0) === ts("2025-08-09 12:00:00"))
    assert(rows.head.getDouble(1) === 3.0)
    assert(rows.head.getLong(2) === 2L)
  }

  test("update mode re-emits a window's row as late-but-in-watermark data lands") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Double)]
    val agg = WindowedAggs.tumbling(in.toDF.toDF("ts", "value"), "ts", "value")
    // ONE continuous query, two processed batches: update mode's
    // contract is per-batch re-emission of changed aggregates WITHIN a
    // query (a restarted query without a checkpoint replays instead)
    val q = agg.writeStream
      .format("memory").queryName("upd_out")
      .outputMode("update") // emit CHANGED aggregates per batch, not closed ones
      .start()
    in.addData((ts("2025-08-09 12:00:00"), 1.0))
    q.processAllAvailable()
    in.addData((ts("2025-08-09 12:30:00"), 2.0)) // same window, still open
    q.processAllAvailable()
    q.stop()
    // update mode: the 12:00 window appears TWICE (sum 1.0, then 3.0) —
    // the dashboard-refresh semantics append mode cannot provide while
    // a window is open; sinks must upsert by window key
    val sums = spark.table("upd_out")
      .select("sum_value").collect().map(_.getDouble(0)).sorted.toSeq
    assert(sums === Seq(1.0, 3.0), s"expected both revisions, got $sums")
  }

  test("hopping windows report each event at every overlapping alignment") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Double)]
    in.addData(
      (ts("2025-08-09 12:07:00"), 3.0),
      // closes every window ending ≤ 13:50 (watermark 10 min behind)
      (ts("2025-08-09 14:00:00"), 9.0))
    val q = WindowedAggs.hopping(
      in.toDF.toDF("ts", "value"), "ts", "value",
      width = "10 minutes", slide = "5 minutes")
      .writeStream
      .format("memory").queryName("hop_out")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val rows = spark.table("hop_out")
      .select("window_start", "sum_value").collect()
      .map(r => (r.getTimestamp(0), r.getDouble(1))).sortBy(_._1.getTime)
    // the 12:07 event appears under BOTH its alignments (12:00-12:10
    // and 12:05-12:15) — the overlap tumbling can't produce
    assert(rows === Seq(
      (ts("2025-08-09 12:00:00"), 3.0),
      (ts("2025-08-09 12:05:00"), 3.0)))
  }

  test("same plan aggregates in batch (watermark no-op), keyed variant") {
    import spark.implicits._
    val df = Seq(
      (ts("2025-08-09 12:05:00"), "a", 1.0),
      (ts("2025-08-09 12:55:00"), "a", 2.0),
      (ts("2025-08-09 12:10:00"), "b", 10.0),
      (ts("2025-08-09 13:10:00"), "a", 4.0)
    ).toDF("ts", "k", "value")
    val out = WindowedAggs.tumbling(df, "ts", "value", keyCols = Seq("k"))
      .orderBy("window_start", "k")
      .collect()
    assert(out.map(r => (r.getTimestamp(0), r.getString(2), r.getDouble(3), r.getLong(5))).toSeq === Seq(
      (ts("2025-08-09 12:00:00"), "a", 3.0, 2L),
      (ts("2025-08-09 12:00:00"), "b", 10.0, 1L),
      (ts("2025-08-09 13:00:00"), "a", 4.0, 1L)))
  }

  test("session windows: gap splits sessions, append emits closed ones") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    in.addData(
      (ts("2025-08-09 12:00:00"), "u1", 1.0),
      (ts("2025-08-09 12:10:00"), "u1", 2.0),  // within 30-min gap → same session
      (ts("2025-08-09 13:30:00"), "u1", 4.0),  // > gap → new session
      // far-future flush event: watermark passes both earlier sessions
      (ts("2025-08-09 18:00:00"), "u2", 0.0))
    val q = WindowedAggs.sessionized(
      in.toDF.toDF("ts", "user_id", "value"), "ts", "value",
      keyCols = Seq("user_id"))
      .writeStream
      .format("memory").queryName("sess_out")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val rows = spark.table("sess_out")
      .filter($"user_id" === "u1")
      .orderBy("session_start")
      .collect()
    assert(rows.length === 2)
    // first session spans both close events; end = last event + gap
    assert(rows(0).getTimestamp(0) === ts("2025-08-09 12:00:00"))
    assert(rows(0).getTimestamp(1) === ts("2025-08-09 12:40:00"))
    assert(rows(0).getAs[Double]("sum_value") === 3.0)
    assert(rows(0).getAs[Long]("n_events") === 2L)
    assert(rows(1).getTimestamp(0) === ts("2025-08-09 13:30:00"))
    assert(rows(1).getAs[Long]("n_events") === 1L)
  }

  test("session windows run on the RocksDB state store provider") {
    // The 100 TB state backend: RocksDB spills keyed state to local
    // disk instead of holding it on-heap. Session conf only — the
    // provider is picked up at query start, other tests keep the
    // default HDFS-backed store.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    TestSpark.withConf(TestSpark.RocksDb) {
      val in = MemoryStream[(Timestamp, String, Double)]
      in.addData(
        (ts("2025-08-09 12:00:00"), "u1", 1.0),
        (ts("2025-08-09 12:10:00"), "u1", 2.0),
        (ts("2025-08-09 18:00:00"), "u2", 0.0))
      val q = WindowedAggs.sessionized(
        in.toDF.toDF("ts", "user_id", "value"), "ts", "value",
        keyCols = Seq("user_id"))
        .writeStream
        .format("memory").queryName("sess_rocks")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      val u1 = spark.table("sess_rocks").filter($"user_id" === "u1").collect()
      assert(u1.length === 1)
      assert(u1.head.getAs[Double]("sum_value") === 3.0)
      // the state operator actually ran on RocksDB
      val metrics = q.recentProgress.flatMap(_.stateOperators)
        .flatMap(_.customMetrics.keySet().toArray(Array.empty[String]))
      assert(metrics.exists(_.startsWith("rocksdb")),
        s"no rocksdb state metrics in progress: ${metrics.toSet}")
    }
  }
}
