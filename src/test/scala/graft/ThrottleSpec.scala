package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.stream.Throttle
import graft.stream.Throttle.{Occurrence, ThrottleState}

/** Throttle state machine (`Lambda/lamda.py:246-283`): 5-min interval
  * suppression, CRITICAL bypass, consecutive-count threshold — unit
  * (pure step), batch Dataset, and Structured Streaming (MemoryStream,
  * state across micro-batches with event-time TTL, on both state store
  * providers, and equal to the batch path over the same occurrences).
  */
class ThrottleSpec extends AnyFunSuite {

  private val t0 = Timestamp.valueOf("2025-08-09 12:00:00").getTime
  private def min(n: Int): Long = n * 60 * 1000L

  test("first occurrence sends (threshold = 1, lamda.py:271-283)") {
    val (st, fire) = Throttle.step(ThrottleState(-1L, 0), "HIGH", t0)
    assert(fire && st === ThrottleState(t0, 0))
  }

  test("re-fire within 5 min is suppressed without touching count (lamda.py:264-269)") {
    val (st, fire) = Throttle.step(ThrottleState(t0, 0), "HIGH", t0 + min(1))
    assert(!fire && st === ThrottleState(t0, 0))
  }

  test("re-fire after the interval sends again") {
    val (st, fire) = Throttle.step(ThrottleState(t0, 0), "HIGH", t0 + min(6))
    assert(fire && st === ThrottleState(t0 + min(6), 0))
  }

  test("CRITICAL bypasses throttling and stamps lastSent without resetting count (lamda.py:257-261)") {
    val (st, fire) = Throttle.step(ThrottleState(t0, 3), "CRITICAL", t0 + min(1))
    assert(fire && st === ThrottleState(t0 + min(1), 3))
  }

  test("higher threshold requires consecutive occurrences") {
    val s0 = ThrottleState(-1L, 0)
    val (s1, f1) = Throttle.step(s0, "HIGH", t0, threshold = 3)
    val (s2, f2) = Throttle.step(s1, "HIGH", t0 + min(6), threshold = 3)
    val (s3, f3) = Throttle.step(s2, "HIGH", t0 + min(12), threshold = 3)
    assert(!f1 && !f2 && f3 && s3 === ThrottleState(t0 + min(12), 0))
  }

  private def occ(atMs: Long, key: String = "loc_1|High Temperature",
      priority: String = "HIGH"): Occurrence = {
    val Array(loc, tpe) = key.split('|')
    Occurrence(loc, tpe, priority, "d", s"evt_$atMs", new Timestamp(atMs))
  }

  test("batch Dataset: t, t+1min, t+6min → sent at t and t+6min (FIXTURES throttle_sequence)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val sent = Throttle(Seq(
      occ(t0), occ(t0 + min(1)), occ(t0 + min(6)),
      occ(t0 + min(1), key = "loc_2|High Temperature") // independent key
    ).toDS()).collect().map(s => (s.locId, s.sentTime.getTime)).sortBy(_._2)
    assert(sent.toList === List(
      ("loc_1", t0), ("loc_2", t0 + min(1)), ("loc_1", t0 + min(6))))
  }

  test("batch path: pre-sorted in the exchange — one shuffle, one sort, order-free input") {
    val spark = TestSpark.spark
    import spark.implicits._
    // deliberately out of event-time order: the exchange-aligned
    // secondary sort must restore it (the lazy processor's monotonicity
    // guard throws if Spark ever re-sorts by key only)
    val sent = Throttle(Seq(
      occ(t0 + min(6)), occ(t0), occ(t0 + min(1)),
      occ(t0 + min(1), key = "loc_2|High Temperature")).toDS())
    val rows = sent.collect().map(s => (s.locId, s.sentTime.getTime)).sortBy(_._2)
    assert(rows.toList === List(
      ("loc_1", t0), ("loc_2", t0 + min(1)), ("loc_1", t0 + min(6))))
    // the group operator must reuse our repartition+sort, not add its
    // own (AQE prints the initial plan too — count the final plan only)
    val plan = sent.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.linesIterator.count(_.contains("ShuffleQueryStage")) === 1, plan)
    assert(plan.linesIterator.count(_.contains(" Sort [")) === 1, plan)
  }

  test("streaming: state persists across micro-batches with event-time watermark") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Occurrence]
    val q = Throttle(input.toDS().withWatermark("eventTime", "10 minutes"))
      .writeStream.format("memory").queryName("throttle_sent")
      .outputMode("append").start()
    try {
      input.addData(occ(t0))
      q.processAllAvailable()
      input.addData(occ(t0 + min(1))) // suppressed by state from batch 1
      q.processAllAvailable()
      input.addData(occ(t0 + min(6))) // past the interval → sends
      q.processAllAvailable()
      val sent = spark.table("throttle_sent")
        .collect().map(_.getAs[Timestamp]("sentTime").getTime).sorted.toList
      assert(sent === List(t0, t0 + min(6)))
    } finally q.stop()
  }

  test("streaming on RocksDB: CRITICAL bypass and suppression across micro-batches") {
    // CRITICAL bypass + interval suppression + cross-micro-batch state,
    // on the RocksDB state store provider (the throttle runs on
    // whichever store the session configures)
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    TestSpark.withConf(TestSpark.RocksDb) {
      val input = MemoryStream[Occurrence]
      val q = Throttle(input.toDS().withWatermark("eventTime", "10 minutes"))
        .writeStream.format("memory").queryName("throttle_rocksdb")
        .outputMode("append").start()
      try {
        input.addData(occ(t0)) // first occurrence → sends, stamps t0
        q.processAllAvailable()
        input.addData(occ(t0 + min(1))) // 1 min since t0 → suppressed
        input.addData(occ(t0 + min(2), priority = "CRITICAL")) // bypass, stamps t0+2
        q.processAllAvailable()
        input.addData(occ(t0 + min(6))) // 4 min since t0+2 → suppressed
        input.addData(occ(t0 + min(8))) // 6 min since t0+2 → sends
        q.processAllAvailable()
        val sent = spark.table("throttle_rocksdb")
          .collect().map(_.getAs[Timestamp]("sentTime").getTime).sorted.toList
        assert(sent === List(t0, t0 + min(2), t0 + min(8)))
        // the state operator really ran on RocksDB
        val metrics = q.recentProgress.flatMap(_.stateOperators)
          .flatMap(_.customMetrics.keySet().toArray(Array.empty[String]))
        assert(metrics.exists(_.startsWith("rocksdb")),
          s"no rocksdb state metrics in progress: ${metrics.toSet}")
      } finally q.stop()
    }
  }

  test("streaming: event-time TTL drops a key's state 1h past its newest occurrence") {
    // The TTL is output-invisible by design (it only bounds state), so
    // this asserts on the engine's own numRowsTotal. State is keyed by
    // location and A..E are five locations, so a state row is a key
    // below (one alert type each). Key A is seen
    // twice (t0, t0+50min), so its timeout moves from t0+1h to
    // t0+110min: it must survive the batch that runs at watermark
    // 75min and age out at 170min, while B and C age out on their
    // first timeout. Bulk evidence for the same invariant (a
    // 629,200-row plateau over a 10M-key space) is the StateBench soak
    // in SCALE.md §2.
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Occurrence]
    val q = Throttle(input.toDS().withWatermark("eventTime", "10 minutes"))
      .writeStream.format("memory").queryName("throttle_ttl")
      .outputMode("append").start()
    try {
      def addAndProcess(o: Occurrence): Unit = {
        input.addData(o); q.processAllAvailable()
      }
      addAndProcess(occ(t0)) // A: timeout t0+1h
      addAndProcess(occ(t0 + min(50))) // A again: timeout moves to t0+110min
      addAndProcess(occ(t0 + min(85), key = "loc_C|High Temperature")) // C; watermark after this batch = 75min
      addAndProcess(occ(t0 + min(180), key = "loc_B|High Temperature")) // runs at wm 75min: A (110min) survives
      addAndProcess(occ(t0 + min(300), key = "loc_D|High Temperature")) // wm 170min: A and C (145min) have aged out
      addAndProcess(occ(t0 + min(360), key = "loc_E|High Temperature")) // wm 290min: B (240min) has aged out
      // threshold = 1 and every send is ≥ 5 min after the key's last:
      // all six occurrences send regardless of TTL (output-invariant)
      assert(spark.table("throttle_ttl").count() === 6)
      // live state after the E batch: D + E only — A, B and C aged out
      val rows = q.recentProgress.reverse
        .flatMap(_.stateOperators.headOption).headOption
        .map(_.numRowsTotal)
      assert(rows.contains(2L), s"live state rows: $rows")
    } finally q.stop()
  }

  test("streaming: a row older than the watermark's TTL horizon is throttled, not fatal") {
    // Spark drops late rows against the PREVIOUS batch's watermark but
    // validates timeouts against the current one, so a file arriving
    // out of event-time order can hand the throttle a row whose
    // 1h timeout is already behind the watermark. Without no-data
    // batches the second trigger below runs at watermark t0+170min
    // while its late-row filter still reads the initial watermark.
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    TestSpark.withConf("spark.sql.streaming.noDataMicroBatches.enabled" -> "false") {
      val input = MemoryStream[Occurrence]
      val q = Throttle(input.toDS().withWatermark("eventTime", "10 minutes"))
        .writeStream.format("memory").queryName("throttle_late")
        .outputMode("append").start()
      try {
        input.addData(occ(t0 + min(180)))
        q.processAllAvailable()
        input.addData(occ(t0, key = "loc_L|High Temperature")) // 1h timeout < wm
        q.processAllAvailable()
        input.addData(occ(t0 + min(181))) // suppressed: loc_1 state intact
        input.addData(occ(t0 + min(186)))
        q.processAllAvailable()
        val sent = spark.table("throttle_late").collect()
          .map(r => (r.getAs[String]("locId"), r.getAs[Timestamp]("sentTime").getTime))
          .sortBy(_._2).toList
        assert(sent === List(
          ("loc_L", t0), ("loc_1", t0 + min(180)), ("loc_1", t0 + min(186))))
      } finally q.stop()
    }
  }

  test("streaming: late rows get the same decisions with no-data micro-batches on and off") {
    // Spark's own late-row filter reads the previous batch's watermark,
    // so it dropped loc_L's row only when a no-data batch ran in
    // between; the throttle now decides late rows itself.
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def run(noData: String): List[(String, Long)] =
      TestSpark.withConf("spark.sql.streaming.noDataMicroBatches.enabled" -> noData) {
        val input = MemoryStream[Occurrence]
        val q = Throttle(input.toDS().withWatermark("eventTime", "10 minutes"))
          .writeStream.format("memory").queryName(s"throttle_late_$noData")
          .outputMode("append").start()
        try {
          input.addData(occ(t0 + min(180)))
          q.processAllAvailable()
          input.addData(occ(t0, key = "loc_L|High Temperature"))
          q.processAllAvailable()
          input.addData(occ(t0 + min(181)), occ(t0 + min(186)))
          q.processAllAvailable()
          spark.table(s"throttle_late_$noData").collect()
            .map(r => (r.getAs[String]("locId"), r.getAs[Timestamp]("sentTime").getTime))
            .sortBy(_._2).toList
        } finally q.stop()
      }
    val expected = List(("loc_L", t0), ("loc_1", t0 + min(180)), ("loc_1", t0 + min(186)))
    assert(run("true") === expected)
    assert(run("false") === expected)
  }

  test("streaming state across shuffled micro-batches ≡ one batch over the union") {
    // The batch oracle takes apply()'s batch branch and the alert
    // stream its streaming branch; both must decide identically when
    // the same occurrences arrive over several triggers. Random
    // occurrences over a few keys (one sparse, so it idles past the 1h
    // TTL), mixed priorities, distinct event times per key (ties leave
    // the per-key order unspecified on both paths), fed as time-ordered
    // micro-batches shuffled inside each batch.
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val occGen = for {
      key <- Gen.frequency(
        10 -> "loc_1|High Temperature", 10 -> "loc_1|Low Water Level",
        10 -> "loc_2|High Temperature", 1 -> "loc_3|pH Out of Range")
      tick <- Gen.choose(0, 4 * 360) // 4h at 10 s resolution
      prio <- Gen.frequency(
        6 -> "HIGH", 3 -> "MEDIUM", 2 -> "LOW", 1 -> "CRITICAL")
    } yield occ(t0 + tick * 10000L, key, prio)
    val crossBatchState = (1 to 3).map { seed =>
      val occs = Gen.listOfN(120, occGen)
        .apply(Gen.Parameters.default, Seed(seed.toLong)).get
        .distinctBy(o => (o.locId, o.alertType, o.eventTime.getTime))
        .sortBy(_.eventTime.getTime)
      val rnd = new scala.util.Random(seed)
      val batches = occs.grouped((occs.size + 3) / 4).map(rnd.shuffle(_)).toList
      assert(batches.size >= 3)
      val idlesPastTtl = occs.groupBy(o => (o.locId, o.alertType)).values
        .exists(_.map(_.eventTime.getTime).sliding(2)
          .exists(p => p.last - p.head > Throttle.StateTtlMs + min(10)))
      val input = MemoryStream[Occurrence]
      val q = Throttle(input.toDS().withWatermark("eventTime", "10 minutes"))
        .writeStream.format("memory").queryName(s"throttle_prop_$seed")
        .outputMode("append").start()
      try {
        batches.foreach { b => input.addData(b); q.processAllAvailable() }
        val streamed =
          spark.table(s"throttle_prop_$seed").as[Throttle.Sent].collect().toSet
        val oneBatch = Throttle(occs.toDS()).collect().toSet
        val (onlyStreamed, onlyBatch) = (streamed -- oneBatch, oneBatch -- streamed)
        assert(onlyStreamed.isEmpty && onlyBatch.isEmpty,
          s"seed $seed: streamed-only $onlyStreamed, batch-only $onlyBatch")
        assert(oneBatch.nonEmpty && oneBatch.size < occs.size, s"seed $seed")
        // batch-local history (no state across triggers) decides
        // differently — the sets above agree because state carried over
        (idlesPastTtl,
          batches.flatMap(b => Throttle(b.toDS()).collect()).toSet != oneBatch)
      } finally q.stop()
    }
    assert(crossBatchState.exists(_._1), "no key idled past the TTL")
    assert(crossBatchState.exists(_._2))
  }
}
