package graft.stream

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Per-key stateful alert throttling — the reference's
  * `check_and_send_alert` (`Lambda/lamda.py:246-283`, SURVEY.md §2.7
  * ST2/ST3), the one genuinely stateful operator in the pipeline.
  *
  * Key = (loc_id, alert_type); state = {lastSent, consecutiveCount}.
  * Semantics per the reference:
  *  - CRITICAL priority bypasses throttling entirely and stamps
  *    lastSent (the consecutive count is NOT reset — lamda.py:257-261).
  *  - otherwise, an occurrence within ALERT_INTERVAL of lastSent is
  *    suppressed without touching the count (lamda.py:264-269).
  *  - otherwise the count increments; at CONSECUTIVE_RECORDS_THRESHOLD
  *    the alert sends, lastSent stamps, count resets (lamda.py:271-283).
  *
  * DIVERGENCES (documented, SURVEY §7.4):
  *  - "now" is the occurrence's event time, not wall clock
  *    (datetime.utcnow, lamda.py:250) — deterministic and replayable;
  *    occurrences are processed in event-time order per key.
  *  - state TTL is an *event-time* timeout: a key's state expires once
  *    the stream's watermark passes 1h beyond its last occurrence —
  *    deterministic/replayable (timeout depends only on data times),
  *    unlike the reference's probabilistic wall-clock sweep
  *    (lamda.py:401-416). Streaming callers must therefore set
  *    `withWatermark` on the event-time column before [[apply]].
  *
  * At 100 TB the state is bounded by key cardinality × fixed state size
  * and Spark shards it by key across executors; the TTL keeps it from
  * accumulating dead keys.
  *
  * One state API, `flatMapGroupsWithState`, serves both the streaming
  * alert sink and the batch path (the lake's `alerts_sent` stamp), on
  * whichever state store the session configures (HDFS-backed or
  * RocksDB). A second implementation on Spark 4's arbitrary-state API
  * emitted the identical alert set but ran slower in the keyed-state
  * bench at 300k and 10M keys (SCALE.md §2), so it was removed.
  */
object Throttle {

  val AlertIntervalMs: Long = 5 * 60 * 1000L // lamda.py:20
  val ConsecutiveThreshold: Int = 1 // lamda.py:21
  val StateTtlMs: Long = 60 * 60 * 1000L // lamda.py:408

  case class Occurrence(
      locId: String,
      alertType: String,
      priority: String,
      description: String,
      eventId: String,
      eventTime: Timestamp)

  case class ThrottleState(lastSentMs: Long, consecutive: Int)

  case class Sent(
      locId: String,
      alertType: String,
      priority: String,
      description: String,
      eventId: String,
      eventTime: Timestamp,
      sentTime: Timestamp)

  /** Pure state machine for one occurrence: (state, sent?). */
  def step(
      st: ThrottleState,
      priority: String,
      nowMs: Long,
      interval: Long = AlertIntervalMs,
      threshold: Int = ConsecutiveThreshold): (ThrottleState, Boolean) = {
    if (priority == "CRITICAL") {
      (st.copy(lastSentMs = nowMs), true)
    } else if (st.lastSentMs >= 0 && nowMs - st.lastSentMs < interval) {
      (st, false)
    } else {
      val count = st.consecutive + 1
      if (count >= threshold)
        (ThrottleState(nowMs, 0), true)
      else
        (st.copy(consecutive = count), false)
    }
  }

  /** Streaming-memory group processor: CONSUMES LAZILY, requiring the
    * iterator to arrive event-time-ascending — it never materializes
    * the group, so a key holding millions of batch rows processes in
    * O(1) memory. State commit rides the iterator's tail (Spark
    * commits GroupState when the returned iterator completes), and a
    * monotonicity guard turns a violated sort contract into a loud
    * error instead of silently-wrong throttling.
    */
  def processGroupSorted(
      key: (String, String),
      occurrences: Iterator[Occurrence],
      state: GroupState[ThrottleState]): Iterator[Sent] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      var st = state.getOption.getOrElse(ThrottleState(-1L, 0))
      var lastMs = Long.MinValue
      val sent = occurrences.flatMap { occ =>
        val nowMs = occ.eventTime.getTime
        require(nowMs >= lastMs,
          s"Throttle occurrences for key $key are not event-time-sorted " +
            s"($nowMs after $lastMs); use apply()/the sorting wrapper")
        lastMs = nowMs
        val (next, fire) = step(st, occ.priority, nowMs)
        st = next
        if (fire)
          Some(Sent(occ.locId, occ.alertType, occ.priority, occ.description,
            occ.eventId, occ.eventTime, new Timestamp(nowMs)))
        else None
      }
      // Runs once, after the last occurrence is consumed: commit state
      // and stamp the deterministic event-time TTL (expire when the
      // watermark passes 1h beyond this key's newest occurrence).
      // Spark filters late rows against the previous batch's watermark
      // but rejects a timeout behind the current one, so a file landing
      // out of event-time order can bring rows older than that horizon:
      // clamp to the watermark, which expires such state at its next
      // advance. Inert in batch mode (no watermark — both calls throw).
      sent ++ {
        state.update(st)
        if (lastMs != Long.MinValue) {
          try state.setTimeoutTimestamp(
            math.max(lastMs + StateTtlMs, state.getCurrentWatermarkMs()))
          catch { case _: UnsupportedOperationException => () }
        }
        Iterator.empty
      }
    }
  }

  /** Unsorted-delivery group processor: sorts the group in memory, then
    * delegates. This is the STREAMING path — Spark's stateful shuffle
    * re-sorts only on the grouping key (arbitrary within-key order), so
    * the in-group sort is required for the event-time-deterministic
    * contract; group size there is bounded by the micro-batch trigger,
    * not stream history. The scale risk is giant BATCHES (AvailableNow
    * catch-up, foreachBatch) — those take [[apply]]'s batch branch,
    * which pre-sorts in the exchange and streams lazily instead.
    */
  def processGroup(
      key: (String, String),
      occurrences: Iterator[Occurrence],
      state: GroupState[ThrottleState]): Iterator[Sent] =
    if (state.hasTimedOut) processGroupSorted(key, occurrences, state)
    else processGroupSorted(key,
      occurrences.toSeq.sortBy(_.eventTime.getTime).iterator, state)

  /** Apply the throttle to an occurrence stream or batch Dataset — the
    * same state machine and state API on both. Streaming callers set
    * `withWatermark("eventTime", …)` upstream so the event-time TTL can
    * fire.
    *
    * Batch uses an exchange-aligned secondary sort: repartition on the
    * grouping columns (satisfies the group operator's required
    * distribution, so no second exchange) and sort within partitions by
    * (key, eventTime) — a (key) prefix of that ordering satisfies the
    * operator's required sort, so Spark inserts none and the group
    * iterator arrives time-ordered for the lazy O(1)-memory processor.
    * Streaming can't use this (its stateful shuffle owns partitioning
    * and re-sorts by key only), so it sorts per group — bounded by the
    * trigger interval.
    */
  def apply(ds: Dataset[Occurrence]): Dataset[Sent] = {
    implicit val stEnc = Encoders.product[ThrottleState]
    implicit val outEnc = Encoders.product[Sent]
    implicit val keyEnc = Encoders.tuple(Encoders.STRING, Encoders.STRING)
    implicit val occEnc = Encoders.product[Occurrence]
    if (ds.isStreaming) {
      ds.groupByKey(o => (o.locId, o.alertType))
        .flatMapGroupsWithState(
          OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
          processGroup)
    } else {
      import org.apache.spark.sql.functions.col
      ds.repartition(col("locId"), col("alertType"))
        .sortWithinPartitions(col("locId"), col("alertType"), col("eventTime"))
        .groupBy(col("locId"), col("alertType"))
        .as[(String, String), Occurrence]
        .flatMapGroupsWithState(
          OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
          processGroupSorted)
    }
  }
}
