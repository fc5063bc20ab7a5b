package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType
import org.scalatest.funsuite.AnyFunSuite

import graft.stream.IngestStream

/** The single ingest query: one scan of the raw source per trigger,
  * a lake `alerts_sent` stamp that equals the alert sink when 5-minute
  * suppression windows straddle micro-batches and a restart, and one
  * late-data rule whether or not no-data micro-batches run.
  */
class IngestQuerySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def hot(eventId: String, loc: String, hhmm: String): String =
    FarmFixtures.record(
      locId = Some(loc),
      sensors = FarmFixtures.withSensor("temperature", "52.0"),
      weatherTemp = Some("45.0"),
      eventId = eventId,
      timestamp = s"2025-08-09T$hhmm:00.000000Z")

  /** Writes one JSONL file per line group, admitted in the given order. */
  private def land(dir: String, files: Seq[Seq[String]], from: Int = 0): Unit = {
    Files.createDirectories(Paths.get(dir))
    val now = System.currentTimeMillis()
    files.zipWithIndex.foreach { case (lines, i) =>
      val f = Paths.get(dir, f"part-${from + i}%05d.jsonl")
      Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
      f.toFile.setLastModified(now - (files.size - i) * 1000L)
    }
  }

  /** One AvailableNow drain, one file per trigger; returns the query. */
  private def drain(root: String) = {
    val (lq, aq) = IngestStream.start(
      IngestStream.fileSource(spark, s"$root/src", maxFilesPerTrigger = Some(1)),
      s"$root/lake", s"$root/alerts", s"$root/cp")
    assert(lq eq aq, "start returns its one query in both slots")
    lq.awaitTermination(180000)
    lq
  }

  /** (event_id, alert type) pairs the lake stamps as sent. */
  private def stamped(root: String): Set[(String, String)] =
    spark.read.json(s"$root/lake").filter(col("alerts_sent").isNotNull)
      .select(col("event_id"), explode(from_json(col("alerts_sent"),
        DataType.fromDDL("array<struct<type:string,priority:string,sent_timestamp:string>>"))).as("a"))
      .select(col("event_id"), col("a.type")).as[(String, String)].collect().toSet

  private def sunk(root: String): Seq[(String, String)] =
    spark.read.parquet(s"$root/alerts").select("eventId", "alertType")
      .as[(String, String)].collect().toSeq

  test("alerts_sent stamp equals the alert sink across micro-batches and a restart") {
    val root = Files.createTempDirectory("graft_stamp").toString
    // loc_1's windows straddle triggers: a1 12:00 sends; a2 12:03
    // (next trigger) is inside a1's window; after the restart a3 12:07
    // sends and a4 12:09 is inside a3's window. b1 is another location.
    land(s"$root/src", Seq(
      Seq(hot("evt_a1", "loc_1", "12:00"), FarmFixtures.record(eventId = "evt_ok")),
      Seq(hot("evt_a2", "loc_1", "12:03"), hot("evt_b1", "loc_2", "12:03"))))
    // without a trailing no-data batch the last execution is a data
    // batch: the one query scans the raw source once per trigger
    val q1 = TestSpark.withConf(
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")(drain(root))
    val plan = q1.asInstanceOf[StreamingQueryWrapper].streamingQuery
      .lastExecution.executedPlan
    assert(plan.collect { case s: FileSourceScanExec => s }.size === 1, plan)
    land(s"$root/src", Seq(
      Seq(hot("evt_a3", "loc_1", "12:07")), Seq(hot("evt_a4", "loc_1", "12:09"))), from = 2)
    drain(root)

    val sink = sunk(root)
    assert(sink.sorted === Seq("evt_a1", "evt_a3", "evt_b1").map(_ -> "High Temperature"))
    assert(stamped(root) === sink.toSet)
    val landed = spark.read.json(s"$root/lake").select("event_id").as[String].collect()
    assert(landed.sorted.toSeq ===
      Seq("evt_a1", "evt_a2", "evt_a3", "evt_a4", "evt_b1", "evt_ok"))
  }

  test("late data: the same alerts with no-data micro-batches on and off, and the late record lands") {
    // loc_1 at 15:00 moves the watermark to 14:50; loc_2's 12:00 record
    // then arrives more than the TTL behind it. Spark's late-row filter
    // would drop it only when a no-data micro-batch ran in between; the
    // throttle decides it instead, the same way both times.
    def landLate(root: String): Unit = land(s"$root/src", Seq(
      Seq(hot("evt_n1", "loc_1", "15:00")),
      Seq(hot("evt_late", "loc_2", "12:00")),
      Seq(hot("evt_n2", "loc_1", "15:01"), hot("evt_n3", "loc_1", "15:06"))))
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    // The record throttle itself, on a memory sink, under the session's
    // setting: every record comes out, with the same send decisions.
    def throttledRun(on: String): (Set[(String, Seq[String])], Boolean) =
      TestSpark.withConf(noData -> on) {
        val root = Files.createTempDirectory(s"graft_late_mem_$on").toString
        landLate(root)
        val q = IngestStream.throttled(IngestStream.process(
            IngestStream.fileSource(spark, s"$root/src", maxFilesPerTrigger = Some(1))))
          .select(col("event_id"), col("_sent.alertType").as("sent"))
          .writeStream.format("memory").queryName(s"late_records_$on")
          .option("checkpointLocation", s"$root/cp").start()
        try {
          q.processAllAvailable()
          (spark.table(s"late_records_$on").as[(String, Seq[String])].collect().toSet,
            q.recentProgress.exists(_.numInputRows == 0))
        } finally q.stop()
      }
    val (recOn, ranNoData) = throttledRun("true")
    val (recOff, _) = throttledRun("false")
    assert(ranNoData, "no no-data micro-batch ran with them enabled")
    assert(recOn === recOff)
    assert(recOn.map(_._1) === Set("evt_n1", "evt_late", "evt_n2", "evt_n3"))
    assert(recOn.filter(_._2.nonEmpty).map(_._1) === Set("evt_n1", "evt_late", "evt_n3"))

    // The ingest query runs no no-data micro-batches at all (start()),
    // and lands the late record with the same alerts either way.
    def run(on: String): (Set[(String, String, Long)], Seq[String]) =
      TestSpark.withConf(noData -> on) {
        val root = Files.createTempDirectory(s"graft_late_$on").toString
        landLate(root)
        val q = drain(root)
        assert(q.recentProgress.forall(_.numInputRows > 0))
        val sent = spark.read.parquet(s"$root/alerts")
          .select(col("eventId"), col("alertType"), col("sentTime").cast("long"))
          .as[(String, String, Long)].collect().toSet
        assert(stamped(root) === sent.map(s => (s._1, s._2)))
        (sent, spark.read.json(s"$root/lake").select("event_id").as[String].collect().toSeq)
      }
    val (on, lakeOn) = run("true")
    val (off, lakeOff) = run("false")
    assert(on === off)
    assert(on.map(_._1) === Set("evt_n1", "evt_late", "evt_n3"))
    for (lake <- Seq(lakeOn, lakeOff))
      assert(lake.sorted === Seq("evt_late", "evt_n1", "evt_n2", "evt_n3"))
  }
}
