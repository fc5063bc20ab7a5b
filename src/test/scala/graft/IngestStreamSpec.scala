package graft

import java.nio.file.Files

import graft.stream.IngestStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end streaming ingest (SURVEY §3 E1): parse → validate →
  * alert → status-routed lake sink + throttled alert sink, driven
  * through a file source with AvailableNow triggers.
  */
class IngestStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def rawDf(lines: String*) = {
    import spark.implicits._
    lines.toDF("raw")
  }

  test("routing: valid / warnings / invalid / json_decode / processing") {
    val routes = IngestStream.process(rawDf(
      FarmFixtures.record(),                                              // VALID
      FarmFixtures.record(sensors = FarmFixtures.withSensor("temperature", "52.0")), // near_threshold → WARNING
      FarmFixtures.record(sensors = FarmFixtures.withSensor("humidity", "9999")),    // sentinel → INVALID
      "this is not json {",                                               // JSONDecodeError analog
      "[1, 2, 3]"))                                                       // valid JSON, not a record → processing error
      .select("route").collect().map(_.getString(0)).toSeq
    assert(routes === Seq("valid", "valid/warnings", "invalid",
      "errors/json_decode", "errors/processing"))
  }

  test("base64 ingress: decode feeds process; bad base64 → errors/json_decode") {
    import spark.implicits._
    def b64(s: String) =
      java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
    val encoded = Seq(
      b64(FarmFixtures.record()),                 // VALID after decode
      b64("this is not json {"),                  // decodes, fails parse
      "!!!not//base64@@@"                         // malformed base64
    ).toDF("data")
    val out = IngestStream.process(IngestStream.decodeBase64(encoded))
    val routes = out.select("route").collect().map(_.getString(0)).toSeq
    assert(routes.head === "valid")
    assert(routes(1) === "errors/json_decode")
    // malformed base64 never yields a processable record — it must land
    // in an error route (lenient decode → garbage bytes → parse fail)
    assert(routes(2).startsWith("errors/"))
    // raw_payload carries what the parser saw (the decoded text), and
    // ingest_payload preserves the wire-original for replay — including
    // the corrupt-base64 case whose decode is mojibake
    val errs = out.filter(col("route").startsWith("errors/"))
      .select("raw_payload", "ingest_payload").collect()
    assert(errs.map(_.getString(0)).contains("this is not json {"))
    assert(errs.map(_.getString(1)).contains("!!!not//base64@@@"))
    // valid records don't carry their payload twice into the lake
    assert(out.filter(col("route") === "valid")
      .select("ingest_payload").head.isNullAt(0))
  }

  test("error routes carry the reference's error-record fields") {
    val out = IngestStream.process(rawDf(
      "oops, not json",
      """[1, 2, 3]"""))
    val decode = out.filter(col("route") === "errors/json_decode").head
    assert(decode.getAs[String]("raw_payload") === "oops, not json")
    assert(decode.getAs[String]("error_type") === "json_decode_error")
    val proc = out.filter(col("route") === "errors/processing").head
    assert(proc.getAs[String]("raw_payload") === "[1, 2, 3]")
    assert(proc.getAs[String]("error_type") === "processing_error")
    assert(proc.getAs[String]("error_message") !== null)
  }

  test("partial extraction: processing-error payloads surface event_id/loc_id") {
    // valid JSON whose shape breaks the wire struct (location is a
    // scalar) → errors/processing, but the ids are still extractable
    // from the raw text (lamda.py:518-524)
    val out = IngestStream.process(rawDf(
      """{"event_id": "evt_p", "loc_id": "loc_1", "location": 42}"""))
    val row = out.head
    if (row.getAs[String]("route").startsWith("errors/")) {
      assert(row.getAs[String]("event_id") === "evt_p")
      assert(row.getAs[String]("loc_id") === "loc_1")
    } else {
      // PERMISSIVE parse may recover the well-typed fields instead —
      // then the record flows the validation path with ids intact
      assert(row.getAs[String]("event_id") === "evt_p")
    }
  }

  test("end-to-end: file stream → routed lake + throttled alerts") {
    val src = Files.createTempDirectory("graft-src").toString
    val lake = Files.createTempDirectory("graft-lake").toString
    val alerts = Files.createTempDirectory("graft-alerts").toString
    val ckpt = Files.createTempDirectory("graft-ckpt").toString

    Files.writeString(java.nio.file.Paths.get(s"$src/events.jsonl"),
      Seq(
        FarmFixtures.record(eventId = "evt_a"),
        // temp 52 → near-threshold WARNING + High Temperature alert
        // (weather 45 keeps |diff| ≤ 15: no mismatch warning)
        FarmFixtures.record(
          sensors = FarmFixtures.withSensor("temperature", "52.0"),
          weatherTemp = Some("45.0"),
          eventId = "evt_b",
          timestamp = "2025-08-09T12:05:00.000000Z"),
        FarmFixtures.record(
          sensors = FarmFixtures.withSensor("humidity", "9999"),
          eventId = "evt_c",
          timestamp = "2025-08-09T12:06:00.000000Z"),
        "[7, 8, 9]" // valid JSON, not a record → errors/processing
      ).mkString("\n"))

    val (lakeQ, alertQ) = IngestStream.start(
      IngestStream.fileSource(spark, src), lake, alerts, ckpt)
    lakeQ.awaitTermination(120000)
    alertQ.awaitTermination(120000)

    val landed = spark.read.json(lake)
    assert(landed.count() === 4)
    assert(landed.select("route").distinct().collect().map(_.getString(0)).toSet
      === Set("valid", "valid/warnings", "invalid", "errors/processing"))
    // flattened: nested structs became underscore columns
    assert(landed.columns.contains("location_latitude"))
    assert(landed.columns.contains("sensor_data_temperature"))

    // s3_location back-reference on every data record, none on errors
    val locs = landed.filter(!col("route").startsWith("errors/"))
      .select("s3_location").collect().map(_.getString(0))
    assert(locs.length === 3 && locs.forall(_ != null))
    assert(locs.exists(_.contains("/valid/")))
    // well-formed URI: a bucket-name authority, not a filesystem path
    assert(locs.forall(l => l.startsWith("s3://") && !l.startsWith("s3:///")), locs.head)
    assert(landed.filter(col("route").startsWith("errors/"))
      .select("s3_location").head.isNullAt(0))
    // the error record kept its raw payload for debugging
    assert(landed.filter(col("route") === "errors/processing")
      .select("raw_payload").head.getString(0) === "[7, 8, 9]")

    // alerts_sent audit stamp: records whose alerts fired carry the
    // sent list; the clean record carries none (lamda.py:467-471)
    val sentB = landed.filter(col("event_id") === "evt_b")
      .select("alerts_sent").head.getString(0)
    assert(sentB != null && sentB.contains("High Temperature"))
    val sentC = landed.filter(col("event_id") === "evt_c")
      .select("alerts_sent").head.getString(0)
    assert(sentC != null && sentC.contains("Sensor Failure"))
    assert(landed.filter(col("event_id") === "evt_a")
      .select("alerts_sent").head.isNullAt(0))

    val sent = spark.read.parquet(alerts)
    // evt_b fires High Temperature (52 > 35); evt_c fires CRITICAL
    // sensor_failure (extreme_value) which bypasses the throttle
    val types = sent.select("alertType").collect().map(_.getString(0)).toSet
    assert(types.contains("High Temperature"))
    assert(types.contains("Sensor Failure"))
    // SNS-shaped formatting with recommended-action lookup
    val msg = sent.filter(col("alertType") === "High Temperature")
      .select("message").head.getString(0)
    assert(msg.contains("Recommended Action: Increase irrigation frequency"))

    // batch summary metrics observed on the ingest query (A4)
    val observed = lakeQ.recentProgress
      .flatMap(p => Option(p.observedMetrics.get("graft_ingest")))
    assert(observed.nonEmpty)
    assert(observed.map(_.getLong(0)).sum === 4) // n_records
    assert(observed.map(_.getLong(1)).sum === 1) // n_invalid
  }

  test("warning route is a subdirectory of valid (reference key layout)") {
    // The sink partitions by the route value; Spark escapes '/' in
    // partition values on disk but restores it on read — the logical
    // layout matches the reference's valid/warnings prefix.
    val r = IngestStream.process(rawDf(
      FarmFixtures.record(sensors = FarmFixtures.withSensor("temperature", "52.0"))))
      .select("route").head.getString(0)
    assert(r.startsWith("valid/"))
  }
}
