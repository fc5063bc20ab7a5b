package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import graft.stream.IngestStream

/** Crash/restart driver for the full ingest topology (r9 verdict ask
  * #4): proves the operational claim the streaming docs rest on —
  * exactly-once alert-sink routing and throttle-state continuity
  * across a HARD driver death (`Runtime.halt`, no cleanup) that lands
  * MID-BATCH (offset log written, commit log not).
  *
  * Run in forked JVMs by IngestRecoverySpec, twice per provider:
  *
  * `crash <root> <provider>`:
  *  1. land file f1 (one High Temperature occurrence `a1`,
  *     loc_1 @ 12:00) through the full topology; both AvailableNow
  *     queries drain (batch 0 plus any no-data watermark batches —
  *     AvailableNow appends one to advance stateful eviction, so the
  *     committed-batch ceiling is discovered, not assumed).
  *  2. write f2 (parse-heavy filler + `a2` loc_1 @ 12:03 + `b1`
  *     loc_2 @ 12:03) and f3 (`a3` loc_1 @ 12:07), record the first
  *     UNSEEN alert-query batch id N (max committed + 1) to
  *     `<root>/watch_batch`, restart the topology on the same
  *     checkpoints, and HALT the JVM (exit 42) the moment `offsets/N`
  *     appears — before `commits/N` can (the filler makes batch N take
  *     seconds; the poll fires in ~1 ms).
  *
  * `resume <root> <provider>`: records whether the crash image really
  * is mid-batch (offsets/N present, commits/N absent, N read from
  * `watch_batch`), restarts the topology, drains, and prints the alert
  * sink + lake contents as one JSON line for the spec to assert on.
  *
  * The alert signature discriminates state loss exactly (interval
  * 5 min, threshold 1): state SURVIVED ⇒ alerts = {a1, b1, a3} (a2
  * inside a1's window → suppressed; a3 at +7 min → fires). State LOST
  * at the crash ⇒ a2 fires at 12:03 and a3 (+4 min from a2) is
  * suppressed ⇒ {a1, a2, b1}. No overlap between the two outcomes.
  */
object RecoveryProbe {
  private val Iso = "2025-08-09T12:%02d:00.000000Z"

  private def hot(eventId: String, loc: String, minute: Int): String =
    FarmFixtures.record(
      locId = Some(loc),
      sensors = FarmFixtures.withSensor("temperature", "52.0"),
      weatherTemp = Some("45.0"),
      eventId = eventId,
      timestamp = Iso.format(minute))

  private def writeLines(path: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(path), lines.mkString("\n").getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val root = args(1)
    val provider = args.lift(2).getOrElse("hdfs")
    val spark = GraftSession.local()
    if (provider == "rocksdb") {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      // the store keeps its default state encoding: Spark rejects
      // encodingFormat=avro for the fMGWS throttle this topology runs
      // ("State store encoding format as avro is not supported for
      // operator=flatMapGroupsWithState")
    }
    val (src, lake, alerts, cp) =
      (s"$root/src", s"$root/lake", s"$root/alerts", s"$root/cp")
    def topology() = IngestStream.start(
      IngestStream.fileSource(spark, src, maxFilesPerTrigger = Some(1)),
      lake, alerts, cp)

    mode match {
      case "crash" =>
        Files.createDirectories(Paths.get(src))
        writeLines(s"$src/f1.jsonl", Seq(
          hot("evt_a1", "loc_1", 0),
          FarmFixtures.record(eventId = "evt_ok")))
        val (l0, a0) = topology()
        l0.awaitTermination(); a0.awaitTermination()

        // parse-heavy filler (no alerts: default sensors are in range)
        // stretches batch 1 to seconds so the halt below is mid-batch
        val filler = (0 until 3000).map(i =>
          FarmFixtures.record(locId = Some(s"loc_f$i"), eventId = s"evt_f$i"))
        writeLines(s"$src/f2.jsonl",
          filler ++ Seq(hot("evt_a2", "loc_1", 3), hot("evt_b1", "loc_2", 3)))
        writeLines(s"$src/f3.jsonl", Seq(hot("evt_a3", "loc_1", 7)))
        // FileStreamSource admits oldest-first; keep f3 strictly newer
        Paths.get(s"$src/f3.jsonl").toFile
          .setLastModified(System.currentTimeMillis() + 60000L)

        // the first drain commits batch 0 PLUS no-data watermark
        // batches AvailableNow appends for stateful eviction — the
        // crash target is the first batch id the image has never seen
        val committed = Option(Paths.get(s"$cp/alerts/commits").toFile
          .list()).getOrElse(Array.empty)
          .flatMap(n => scala.util.Try(n.toLong).toOption)
        val watchBatch = if (committed.isEmpty) 0L else committed.max + 1L
        writeLines(s"$root/watch_batch", Seq(watchBatch.toString))
        val offsetsN = Paths.get(s"$cp/alerts/offsets/$watchBatch")
        val watcher = new Thread(() => {
          while (!Files.exists(offsetsN)) Thread.sleep(1L)
          Runtime.getRuntime.halt(42)
        })
        watcher.setDaemon(true)
        watcher.start()
        val (l1, a1) = topology()
        l1.awaitTermination(); a1.awaitTermination()
        // only reachable if the watcher lost every race — report loudly
        println("""{"probe":"crash","halted":false}""")
        sys.exit(1)

      case "resume" =>
        val watchBatch = new String(Files.readAllBytes(
          Paths.get(s"$root/watch_batch")), "UTF-8").trim
        val midBatch =
          Files.exists(Paths.get(s"$cp/alerts/offsets/$watchBatch")) &&
            !Files.exists(Paths.get(s"$cp/alerts/commits/$watchBatch"))
        val (l2, a2) = topology()
        l2.awaitTermination(); a2.awaitTermination()

        import spark.implicits._
        // file-sink read goes through _spark_metadata: only committed
        // batches' files are visible — the exactly-once view
        val sent = spark.read.parquet(alerts)
          .select("eventId", "alertType").as[(String, String)]
          .collect().sorted
        val lakeCounts = spark.read.json(lake)
          .filter("event_id IS NOT NULL AND event_id LIKE 'evt_a%' " +
            "OR event_id LIKE 'evt_b%' OR event_id = 'evt_ok'")
          .groupBy("event_id").count()
          .as[(String, Long)].collect().sorted
        val sentJson = sent.map { case (e, t) => s""""$e=$t"""" }
          .mkString("[", ",", "]")
        val lakeJson = lakeCounts.map { case (e, n) => s""""$e:$n"""" }
          .mkString("[", ",", "]")
        println(s"""{"probe":"resume","crash_was_mid_batch":$midBatch,""" +
          s""""alerts":$sentJson,"lake":$lakeJson}""")
        spark.stop()
    }
  }
}
