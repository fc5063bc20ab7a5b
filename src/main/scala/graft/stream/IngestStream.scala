package graft.stream

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ArrayType, StructType}
import graft.rules.{Alerts, Validation}
import graft.schema.FarmSchema

/** The streaming event path (SURVEY.md §3 E1): raw JSON payloads →
  * parse → validate → alert-derive → throttle → status-routed lake sink
  * and alert sink — the reference's Kinesis→Lambda→S3/SNS pipeline
  * (`Lambda/lamda.py:395-530`), which also makes one pass per record
  * (validate, alert, throttle, route: `lamda.py:246-283, 467-471`), as
  * ONE Structured Streaming query ([[start]]) that scans the source
  * once per trigger.
  *
  * The record path is stateless column work (micro-batch or
  * `availableNow`, identical in batch — [[process]] is reused by batch
  * callers and tests). The only stateful hop is the throttle
  * ([[throttled]] on [[Throttle]]'s flatMapGroupsWithState processor),
  * keyed by loc_id, which takes whole records and returns each with
  * its send decisions — at scale, state shards by location and the
  * event-time TTL bounds it; the record path scales embarrassingly
  * with source partitions.
  *
  * Late data: every record lands in the lake, whatever its event time
  * and whatever the trigger timing (no Spark late-row filter sits in
  * front of the lake), and every alert with an event time is throttled
  * against its location's state — [[Throttle]]'s header gives the one
  * rule.
  *
  * Sink layout mirrors the reference's status routing
  * (`lamda.py:474-479`, key layout `:367`): VALID → `valid`, WARNING →
  * `valid/warnings`, INVALID → `invalid`, malformed JSON →
  * `errors/json_decode`, and syntactically-valid JSON the pipeline
  * can't process as a record (scalars/arrays — the reference's
  * arbitrary-exception branch, `lamda.py:505-530`) →
  * `errors/processing`, with the reference's error-record fields
  * (error_type / error_message / raw_payload + partial event_id/loc_id
  * when extractable). Sink-side failures take the same route through
  * the foreachBatch fallback writer in [[start]]. We partition by
  * (route, loc_id) which makes status/location slices
  * partition-pruned scans downstream.
  */
object IngestStream {

  /** Kinesis-shaped ingress decode (SURVEY §2.1 S4 first half): the
    * reference receives records base64-encoded and decodes before
    * parsing (`Lambda/lamda.py:426-428`, `base64.b64decode` →
    * `json.loads`). This projects the encoded `dataCol` to the UTF-8
    * `raw` column [[process]] expects. Payloads that are not valid
    * base64 decode leniently (invalid characters skipped, trailing
    * partial groups dropped) to bytes that then fail JSON parsing and
    * land in `errors/json_decode` — the same terminal route the
    * reference's decode-failure path takes through its except branch.
    * The ORIGINAL wire payload is retained as `ingest_payload`:
    * lenient decoding of corrupt base64 yields mojibake, and a DLQ
    * record holding only the garbage would be undebuggable — the error
    * route's `raw_payload` prefers the original (see [[process]]),
    * matching the reference's except branch which logs the record it
    * received, not a transform of it. Pure projection: fuses into the
    * same whole-stage-codegen pass as the parse, no extra scan or
    * shuffle.
    */
  def decodeBase64(encoded: DataFrame, dataCol: String = "data"): DataFrame =
    encoded
      .withColumn("raw", unbase64(col(dataCol)).cast("string"))
      .withColumnRenamed(dataCol, "ingest_payload")

  /** The exact source schema `spark.readStream.format("kafka")` emits
    * (spark-sql-kafka's fixed output contract) — pinned here so the
    * production swap is compile-checked against the same contract the
    * tests exercise. The connector jar itself is not bundled in this
    * container, so KafkaIngestSpec drives [[fromKafkaWire]] through a
    * memory stream DECLARED with this schema; in production the swap
    * is exactly:
    * {{{
    * IngestStream.fromKafkaWire(
    *   spark.readStream.format("kafka")
    *     .option("kafka.bootstrap.servers", brokers)
    *     .option("subscribe", "farm/data").load())
    * }}}
    */
  val KafkaWireSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "key BINARY, value BINARY, topic STRING, partition INT, " +
        "offset BIGINT, timestamp TIMESTAMP, timestampType INT")

  /** Binds the Kafka wire form to the ingest chain (SURVEY §2.1 S1
    * prod form): `value` holds the UTF-8 JSON payload the MQTT
    * producer publishes (`Producer /producer.py:439` — the reference's
    * broker carries the JSON verbatim; set `base64 = true` for a
    * bridge that re-wraps payloads Kinesis-style, reusing
    * [[decodeBase64]]). Kafka's (topic, partition, offset) ride along
    * as `ingest_topic`/`ingest_partition`/`ingest_offset` — the
    * sequence-number provenance the reference reads off each Kinesis
    * record — and survive [[process]] untouched (it only adds
    * columns). Pure projection: fuses into the parse's codegen stage.
    */
  def fromKafkaWire(kafka: DataFrame, base64: Boolean = false): DataFrame = {
    val missing = KafkaWireSchema.map(f => f.name -> f.dataType).filterNot {
      case (n, t) => kafka.schema.exists(g => g.name == n && g.dataType == t)
    }
    require(missing.isEmpty,
      s"not a kafka-wire frame; missing/mistyped: ${missing.map(_._1).mkString(",")}")
    val tagged = kafka.select(
      col("value").cast("string").as(if (base64) "data" else "raw"),
      col("topic").as("ingest_topic"),
      col("partition").as("ingest_partition"),
      col("offset").as("ingest_offset"))
    if (base64) decodeBase64(tagged) else tagged
  }

  /** Stateless record path: parse + validate + alerts + route. Input
    * needs one string column `raw` — the decoded payload; for
    * base64-encoded ingress (Kinesis wire format) apply
    * [[decodeBase64]] first.
    */
  def process(raw: DataFrame): DataFrame = {
    val parsed = FarmSchema.parse(raw, "raw")
    val withAlerts = Alerts.derive(Validation.annotate(parsed))
    // Unparseable payloads → PERMISSIVE from_json filled `_corrupt`
    // with the raw text inside FarmSchema.parse (ONE parse per record;
    // a malformed row parses to all-null fields, NOT a null struct) —
    // the reference's except branches (lamda.py:488-530).
    val corrupt = col("_corrupt")
    // Corrupt + syntactically-valid JSON = the payload parsed but isn't
    // a processable record (scalar/array/shape-broken object) — the
    // reference reaches its generic `except Exception` there
    // (AttributeError on data.get, lamda.py:505) and routes to
    // errors/processing; only actual JSONDecodeErrors go to
    // errors/json_decode (lamda.py:488). The validity probe is nested
    // UNDER the corrupt branch so the dominant all-valid traffic never
    // evaluates the extra parse (when() branches short-circuit per row
    // in codegen).
    val validJson = expr("try_parse_json(raw) IS NOT NULL")
    withAlerts.withColumn("route",
      when(corrupt.isNotNull,
        when(validJson, "errors/processing").otherwise("errors/json_decode"))
        .when(col("validation_status") === "INVALID", "invalid")
        .when(col("validation_status") === "WARNING", "valid/warnings")
        .otherwise("valid"))
      // error-record fields (lamda.py:493-500, 510-516): typed error +
      // original payload, so error rows are debuggable from the lake
      .withColumn("error_type",
        when(col("route") === "errors/json_decode", "json_decode_error")
          .when(col("route") === "errors/processing", "processing_error"))
      .withColumn("error_message",
        when(col("route") === "errors/json_decode", "payload is not valid JSON")
          .when(col("route") === "errors/processing", "payload is not a processable record object"))
      // raw_payload = the DECODED text the parser saw (the reference's
      // except branch logs what json.loads received). When the base64
      // ingress ran, the payload AS RECEIVED ON THE WIRE additionally
      // survives on error routes as ingest_payload — corrupt base64
      // decodes to mojibake, and a DLQ record without the original
      // would be unreplayable. Non-error routes null it so the lake
      // doesn't carry every valid record's payload twice.
      .withColumn("raw_payload",
        when(col("route").like("errors/%"), col("raw")))
      .transform(df =>
        if (df.columns.contains("ingest_payload"))
          df.withColumn("ingest_payload",
            when(col("route").like("errors/%"), col("ingest_payload")))
        else df)
      // partial extraction for processing errors (lamda.py:518-524):
      // pull event_id/loc_id out of the raw text when the JSON allows
      // (only evaluated for rows whose parsed id is null — coalesce and
      // when() are lazy per row)
      .withColumn("event_id",
        coalesce(col("event_id"),
          when(validJson, get_json_object(col("raw"), "$.event_id"))))
      .withColumn("loc_id",
        coalesce(col("loc_id"),
          when(validJson, get_json_object(col("raw"), "$.loc_id"))))
  }

  /** Flatten for the lake sink — drops the raw payload and nested
    * structs, mirroring `flatten_record` before upload (lamda.py:360).
    * `bucket` names the lake for the `s3_location` back-reference the
    * reference attaches to every landed data record (lamda.py:483,
    * key layout `:367`: `{prefix}{loc_id}/{procTime}_{event_id}.json`);
    * error records carry no s3_location, as in the reference.
    */
  def flattened(processed: DataFrame, bucket: String = "farm-lake"): DataFrame =
    FarmSchema.flatten(processed.drop("raw"))
      .withColumn("processing_timestamp", date_format(current_timestamp(),
        "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"))
      .withColumn("processor_version", lit("1.0"))
      .withColumn("s3_location",
        when(!col("route").like("errors/%"),
          concat(lit(s"s3://$bucket/"), col("route"), lit("/"),
            coalesce(col("loc_id"), lit("unknown")), lit("/"),
            date_format(current_timestamp(), "yyyyMMdd'T'HHmmss"), lit("_"),
            coalesce(col("event_id"), lit("unknown")), lit(".json"))))

  /** Alert occurrences for the throttle: one row per (record, alert).
    *
    * DIVERGENCE (documented): occurrences without a parseable event
    * time are excluded from the throttled notification sink — the
    * throttle is event-time-deterministic and a record with no event
    * time has no position in that order, whereas the reference sends
    * on wall clock regardless (lamda.py:250). Nothing is lost from the
    * lake: such records are INVALID (missing/invalid timestamp) and
    * land with their full `alerts` array on the record.
    */
  def occurrences(processed: DataFrame): Dataset[Throttle.Occurrence] = {
    val spark = processed.sparkSession
    import spark.implicits._
    // The occurrence struct is assembled INSIDE one transform() over
    // `alerts`, and the explode emits the finished struct — so the
    // (large) alerts/validation expression tree appears exactly once in
    // the plan. The obvious spelling — explode(alerts) then extract
    // .type/.priority/... — invites GeneratorNestedColumnAliasing /
    // projection collapse to duplicate that whole tree per extracted
    // field: measured 101 s vs 2.9 s on a 5k-row batch (33.5 MiB vs
    // 3.5 MiB task binaries), and streaming re-pays it EVERY micro-batch
    // because incremental planning re-optimizes per trigger.
    processed
      .select(explode(transform(col("alerts"), a => struct(
        coalesce(col("loc_id"), lit("unknown")).as("locId"),
        a.getField("type").as("alertType"),
        a.getField("priority").as("priority"),
        a.getField("description").as("description"),
        coalesce(col("event_id"), lit("unknown")).as("eventId"),
        to_timestamp(col("timestamp")).as("eventTime")))).as("o"))
      .select(col("o.*"))
      .filter(col("eventTime").isNotNull)
      .as[Throttle.Occurrence]
  }

  /** The whole-record throttle: every record of `processed` comes back
    * with a `_sent` column, the alerts of its `alerts` array that the
    * per-location [[Throttle]] sent (type, priority, description,
    * sentTime). Records keep every column, so one pass feeds both the
    * lake and the alert sink. Records without an event time, or
    * without alerts, pass through with an empty `_sent` (see
    * [[occurrences]] for why an alert needs an event time). On a stream
    * the event time gets `watermarkDelay`'s watermark, which only ages
    * out idle locations' state: no record is dropped as late.
    */
  def throttled(processed: DataFrame, watermarkDelay: String = "10 minutes"): DataFrame = {
    val keyed0 = processed
      .withColumn(LocKey, coalesce(col("loc_id"), lit("unknown")))
      .withColumn(EventTime, to_timestamp(col("timestamp")))
    val keyed = Throttle.neverLate(
      if (keyed0.isStreaming) keyed0.withWatermark(EventTime, watermarkDelay) else keyed0)
    val (timeIdx, alertsIdx) =
      (keyed.schema.fieldIndex(EventTime), keyed.schema.fieldIndex("alerts"))
    def timeOf(r: Row): Long =
      if (r.isNullAt(timeIdx)) Throttle.NoTime else r.getTimestamp(timeIdx).getTime
    def alertsOf(r: Row): Seq[Row] =
      if (r.isNullAt(alertsIdx)) Nil else r.getSeq[Row](alertsIdx)
    val outSchema = keyed.schema.add(Sent, ArrayType(SentAlert))
    Throttle.byLocation(keyed.as[Row](Encoders.row(keyed.schema)), LocKey, EventTime,
      timeOf) { (records, state) =>
      Throttle.throttleLocation[Row](records, state, timeOf,
        r => alertsOf(r).map(a => a.getAs[String]("type") -> a.getAs[String]("priority")))
        .map { case (r, fired) =>
          val sent = alertsOf(r).zip(fired).collect { case (a, true) =>
            Row(a.getAs[String]("type"), a.getAs[String]("priority"),
              a.getAs[String]("description"), r.getTimestamp(timeIdx))
          }
          Row.fromSeq(r.toSeq :+ sent)
        }
    }(Encoders.row(keyed.schema), Encoders.row(outSchema))
  }

  private val LocKey = "_loc"
  private val EventTime = "_event_time"
  private val Sent = "_sent"
  private val SentAlert = StructType.fromDDL(
    "alertType STRING, priority STRING, description STRING, sentTime TIMESTAMP")
  private val IsoMicros = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"

  /** The alert sink's rows from [[throttled]] output: one per sent
    * alert, SNS-shaped (lamda.py:285-314, SURVEY §2.1 S9: subject and
    * message templates plus the recommended-action lookup).
    */
  private def sentAlerts(throttledRecords: DataFrame): DataFrame = {
    val (subject, message) = Alerts.formatMessage(
      col("alertType"), col("priority"), col("description"),
      col("locId"), col("eventId"), col("eventTime").cast("string"))
    throttledRecords
      .select(explode(col(Sent)).as("s"), col(LocKey).as("locId"),
        coalesce(col("event_id"), lit("unknown")).as("eventId"),
        col(EventTime).as("eventTime"))
      .select(col("locId"), col("s.alertType"), col("s.priority"),
        col("s.description"), col("eventId"), col("eventTime"), col("s.sentTime"))
      .withColumn("subject", subject)
      .withColumn("message", message)
  }

  /** Wire the full topology on a streaming `raw` DataFrame as ONE
    * query that scans the source once per trigger: [[process]] (with
    * its `graft_ingest` summary metrics) → [[throttled]] → one
    * foreachBatch that lands every record in the routed lake
    * (partitioned by route/loc_id, with its `alerts_sent` stamp) and
    * the sent alerts in the parquet alert sink.
    *
    * Returns that one query in both slots of the pair (callers written
    * for the former lake/alert query pair still await, stop and read
    * progress from it); the checkpoint is `checkpointRoot/ingest`.
    */
  def start(
      rawStream: DataFrame,
      lakePath: String,
      alertPath: String,
      checkpointRoot: String,
      watermarkDelay: String = "10 minutes",
      trigger: Trigger = Trigger.AvailableNow()): (StreamingQuery, StreamingQuery) = {
    // Per-micro-batch summary counts — the Lambda's batch summary
    // (lamda.py:533-541, SURVEY §2.4 A4) as observable metrics: free
    // (piggybacks the sink pass), surfaced in every
    // StreamingQueryProgress.observedMetrics["graft_ingest"]. A batch
    // without rows (an empty file) reports zeros, not NULL sums.
    def total(c: Column) = coalesce(sum(c), lit(0L))
    val records = process(rawStream).observe("graft_ingest",
      count(lit(1)).as("n_records"),
      total(when(col("route") === "invalid", 1).otherwise(0)).as("n_invalid"),
      total(when(col("route") === "errors/json_decode", 1).otherwise(0)).as("n_decode_errors"),
      total(size(col("alerts"))).as("n_alerts"))
    // The alert sink is Spark's own file sink, driven per batch: its
    // _spark_metadata log skips a batch id it has already committed, so
    // a batch replayed after a crash lands its alerts exactly once, and
    // readers see only committed files.
    val alertSink = new FileStreamSink(rawStream.sparkSession, alertPath,
      new ParquetFileFormat(), Nil, Map.empty)
    // bucket NAME analog for the s3:// back-reference, not the
    // filesystem path (s3://<path> would be an authority-less URI)
    val bucket = new java.io.File(lakePath).getName
    val writer = throttled(records, watermarkDelay).writeStream
      .queryName("graft-ingest")
      .option("checkpointLocation", s"$checkpointRoot/ingest")
      .trigger(trigger)
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        // two writes consume this batch — materialize once so the
        // record path and the throttle run once, the state commits once
        // and the observe() metrics fire once
        val batch = batch0.persist()
        try {
          // alerts_sent (lamda.py:467-471): which alerts fired for each
          // record, from the same throttle decisions the alert sink
          // lands — stamp and sink agree across micro-batches.
          val stamped = batch.withColumn("alerts_sent",
            when(size(col(Sent)) > 0, to_json(transform(col(Sent), s => struct(
              s("alertType").as("type"), s("priority").as("priority"),
              date_format(s("sentTime"), IsoMicros).as("sent_timestamp"))))))
          try {
            // uncompressed JSON, the reference's lake byte-shape (a gzip
            // lake measured −8% throughput, SCALE.md §2 round 10); the
            // throttle's location partitioning puts each (route, loc_id)
            // in one task, so one part file per partition value
            flattened(stamped, bucket).write.mode("append")
              .partitionBy("route", "loc_id").json(lakePath)
          } catch {
            case e: Throwable =>
              // errors/processing fallback (lamda.py:505-530): a failed
              // lake write routes the batch's raw payloads + partial
              // fields to the error prefix instead of dropping them —
              // the at-least-once story for sink-side failures.
              try {
                batch.select(
                  lit("processing_error").as("error_type"),
                  lit(String.valueOf(e.getMessage)).as("error_message"),
                  col("raw").as("raw_payload"),
                  get_json_object(col("raw"), "$.event_id").as("event_id"),
                  lit("errors/processing").as("route"),
                  get_json_object(col("raw"), "$.loc_id").as("loc_id"))
                  .write.mode("append")
                  .partitionBy("route", "loc_id")
                  .json(lakePath)
              } catch { case _: Throwable => throw e }
              throw e
          }
          alertSink.addBatch(batchId, sentAlerts(batch))
        } finally batch.unpersist()
      }
    // No no-data micro-batches for this query: all they do is evict
    // lapsed throttle state, and the late-data rule makes a lapsed state
    // count as empty before it is evicted, so they cannot change an
    // output — while each one re-runs the state job and both sink writes
    // (a full extra trigger after every AvailableNow drain). The setting
    // is read when the query is created, so it is set around start()
    // only and the session keeps its own.
    val spark = rawStream.sparkSession
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    val saved = spark.conf.getOption(noData)
    spark.conf.set(noData, "false")
    val query = try writer.start() finally
      saved.fold(spark.conf.unset(noData))(spark.conf.set(noData, _))
    (query, query)
  }

  /** Pins the file source's pick order to part-file name order.
    * FileStreamSource admits files oldest-modification-time first, and
    * files written in one job share near-identical mtimes, so without
    * this a micro-batch's file set varies run to run. Stamping `part-*`
    * files one second apart, in name order, makes range-partitioned
    * shards arrive in event-time order like a broker stream: the
    * watermark and TTL advance mid-stream and stateful outputs are
    * run-deterministic. Call it on a directory written before the
    * stream starts.
    */
  def pinPickOrder(dir: String): Unit = {
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val nowMs = System.currentTimeMillis()
    parts.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(nowMs - (parts.length - i) * 1000L)
    }
  }

  /** Convenience source for tests/fixtures: a directory of JSONL files
    * read as a text stream (the file-source analog of the Kinesis
    * batches, SURVEY §2.1 S1/S3).
    */
  def fileSource(
      spark: SparkSession,
      dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream
    maxFilesPerTrigger.foreach(k => reader.option("maxFilesPerTrigger", k))
    reader.text(dir).withColumnRenamed("value", "raw")
  }
}
