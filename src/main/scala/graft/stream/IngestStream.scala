package graft.stream


import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.rules.{Alerts, Validation}
import graft.schema.FarmSchema

/** The streaming event path (SURVEY.md §3 E1): raw JSON payloads →
  * parse → validate → alert-derive → status-routed lake sink, plus the
  * throttled alert stream — the reference's Kinesis→Lambda→S3/SNS
  * pipeline (`Lambda/lamda.py:395-530`) as one Structured Streaming
  * topology.
  *
  * The record path is stateless column work (micro-batch or
  * `availableNow`, identical in batch — [[process]] is reused by batch
  * callers and tests). The only stateful hop is the alert throttle
  * ([[Throttle]], flatMapGroupsWithState) keyed by (loc_id,
  * alert_type) — at scale, state shards by key and the event-time TTL
  * bounds it; everything else scales embarrassingly with source
  * partitions.
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

  /** Wire the full topology on a streaming `raw` DataFrame: the routed
    * lake sink (foreachBatch, partitioned by route/loc_id) and the
    * throttled alert sink. Returns both queries; callers await/stop.
    */
  def start(
      rawStream: DataFrame,
      lakePath: String,
      alertPath: String,
      checkpointRoot: String,
      watermarkDelay: String = "10 minutes"): (StreamingQuery, StreamingQuery) = {
    // Per-micro-batch summary counts — the Lambda's batch summary
    // (lamda.py:533-541, SURVEY §2.4 A4) as observable metrics: free
    // (piggybacks the sink pass), surfaced in every
    // StreamingQueryProgress.observedMetrics["graft_ingest"].
    val lake = process(rawStream).observe("graft_ingest",
      count(lit(1)).as("n_records"),
      sum(when(col("route") === "invalid", 1).otherwise(0)).as("n_invalid"),
      sum(when(col("route") === "errors/json_decode", 1).otherwise(0)).as("n_decode_errors"),
      sum(size(col("alerts"))).as("n_alerts"))
    val lakeQuery = lake.writeStream
      .queryName("graft-ingest-lake")
      .option("checkpointLocation", s"$checkpointRoot/lake")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch0: DataFrame, _: Long) =>
        // two actions consume this batch (the alerts_sent aggregation
        // and the lake write) — materialize once so the parse/validate
        // pipeline runs once and the observe() metrics fire once
        val batch = batch0.persist()
        try {
        // alerts_sent (lamda.py:467-471): which alerts fired for each
        // record, stamped onto the landed record so lake rows join the
        // sent-alert audit. Decisions come from the same deterministic
        // Throttle state machine applied to THIS BATCH's occurrences —
        // state does not span micro-batches here, so when a suppression
        // window crosses a batch boundary the stamp can claim a send
        // the checkpointed alert sink suppressed. The stamp is
        // therefore "eligible to send given batch-local history"; the
        // cross-batch source of truth is the alert sink, joinable on
        // event_id. (The reference has the analogous at-least-once gap:
        // its DynamoDB check-then-send races across concurrent Lambda
        // invocations, lamda.py:246-283.)
        val sentNow = Throttle(occurrences(batch))
          .groupBy(col("eventId"))
          .agg(to_json(collect_list(struct(
            col("alertType").as("type"),
            col("priority"),
            date_format(col("sentTime"),
              "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").as("sent_timestamp"))))
            .as("alerts_sent"))
        // bucket NAME analog for the s3:// back-reference, not the
        // filesystem path (s3://<path> would be an authority-less URI)
        // occurrences coalesce a missing event_id to "unknown", so the
        // lake side must too or id-less records would never stamp
        val out = flattened(batch, new java.io.File(lakePath).getName)
          .join(sentNow,
            coalesce(col("event_id"), lit("unknown")) === col("eventId"), "left")
          .drop("eventId")
        try {
          // uncompressed JSON, the reference's lake byte-shape (a gzip
          // lake measured −8% throughput, SCALE.md §2 round 10)
          out.write.mode("append").partitionBy("route", "loc_id")
            .json(lakePath)
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
        } finally batch.unpersist()
      }
      .start()

    val occ = occurrences(process(rawStream))
    val sent = Throttle(occ.withWatermark("eventTime", watermarkDelay))
    // SNS-shaped notification columns (lamda.py:285-314, SURVEY §2.1
    // S9): subject/message templates + recommended-action lookup.
    val (subject, message) = Alerts.formatMessage(
      col("alertType"), col("priority"), col("description"),
      col("locId"), col("eventId"), col("eventTime").cast("string"))
    val alertQuery = sent.toDF()
      .withColumn("subject", subject)
      .withColumn("message", message)
      .writeStream
      .queryName("graft-ingest-alerts")
      .option("checkpointLocation", s"$checkpointRoot/alerts")
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .option("path", alertPath)
      .start()

    (lakeQuery, alertQuery)
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
