package graft.stream

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.Metadata

/** Per-location stateful alert throttling — the reference's
  * `check_and_send_alert` (`Lambda/lamda.py:246-283`, SURVEY.md §2.7
  * ST2/ST3), the one genuinely stateful operator in the pipeline.
  *
  * Key = loc_id; one state row per location holds every alert type's
  * {lastSent, consecutiveCount} (the reference's (loc_id, alert_type)
  * items, sharing one row per location like the pattern-sharing state
  * of multi-pattern detection, SIGMOD 2019) plus the location's
  * horizon: the newest event time it has throttled. Per alert type,
  * per the reference:
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
  *    a location's occurrences are processed in event-time order within
  *    each micro-batch.
  *  - state TTL is an *event-time* timeout: a location's state expires
  *    once the stream's watermark passes 1h beyond its horizon —
  *    deterministic/replayable (timeout depends only on data times),
  *    unlike the reference's probabilistic wall-clock sweep
  *    (lamda.py:401-416). Streaming callers must therefore set
  *    `withWatermark` on the event-time column before [[apply]].
  *
  * Late data, one rule: every occurrence that reaches the throttle is
  * throttled, whatever the trigger timing. Spark's own late-row filter
  * (which drops rows older than the PREVIOUS batch's watermark, so a
  * late row survived or vanished depending on whether a no-data
  * micro-batch ran) never sees the event-time column: [[byLocation]]
  * hands the operator its watermark on a column that is never late. A
  * row older than its location's horizon is throttled against the
  * state as it stands: it cannot pull a lastSent back (a CRITICAL send
  * stamps the newer of the two times), and a non-CRITICAL one inside a
  * suppression window stays suppressed. A state whose horizon is more
  * than the TTL behind the watermark counts as empty whether or not a
  * micro-batch has evicted it yet, so eviction timing cannot change a
  * decision either.
  *
  * At 100 TB the state is bounded by the location count × the alert
  * types and Spark shards it by key across executors; the TTL keeps it
  * from accumulating dead locations.
  *
  * One state API, `flatMapGroupsWithState`, and one processor
  * ([[throttleLocation]]) serve the occurrence stream and batch of
  * [[apply]] and the ingest query's whole-record throttle
  * (`IngestStream.throttled`), on whichever state store the session
  * configures (HDFS-backed or RocksDB). A second implementation on
  * Spark 4's arbitrary-state API emitted the identical alert set but ran
  * slower in the keyed-state bench at 300k and 10M keys (SCALE.md §2),
  * so it was removed.
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
      // the newer stamp: a late CRITICAL row cannot pull lastSent back
      (st.copy(lastSentMs = math.max(st.lastSentMs, nowMs)), true)
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

  /** One location's state: its horizon (newest throttled event time)
    * and every alert type's machine. */
  case class LocationState(horizonMs: Long, alerts: Map[String, ThrottleState])

  /** An item without an event time: it passes through unthrottled. */
  private[stream] val NoTime: Long = Long.MinValue

  private val Fresh = ThrottleState(-1L, 0)

  /** The one group processor. Steps a location's items through its
    * state in the order given, which must be event-time ascending (a
    * monotonicity guard turns a violated sort contract into a loud
    * error), and returns each item with one fired flag per alert of
    * `alertsOf(item)` ((type, priority) pairs). It consumes lazily, so
    * a pre-sorted batch group runs in O(1) memory; the state commit
    * rides the iterator's tail (Spark commits GroupState when the
    * returned iterator completes). Items with [[NoTime]] fire nothing
    * and leave the state alone.
    */
  private[stream] def throttleLocation[A](
      items: Iterator[A],
      state: GroupState[LocationState],
      timeOf: A => Long,
      alertsOf: A => Seq[(String, String)]): Iterator[(A, Seq[Boolean])] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      // In batch mode there is no watermark (both GroupState calls throw)
      // and nothing ever lapses.
      val wm = try state.getCurrentWatermarkMs()
        catch { case _: UnsupportedOperationException => Long.MinValue }
      def lapsed(horizonMs: Long) = horizonMs + StateTtlMs < wm
      val machines = scala.collection.mutable.HashMap.empty[String, ThrottleState]
      var horizon = NoTime
      state.getOption.filterNot(s => lapsed(s.horizonMs)).foreach { s =>
        machines ++= s.alerts
        horizon = s.horizonMs
      }
      var lastMs = NoTime
      val out = items.map { item =>
        val nowMs = timeOf(item)
        val alerts = alertsOf(item)
        if (nowMs == NoTime || alerts.isEmpty) (item, alerts.map(_ => false))
        else {
          require(nowMs >= lastMs,
            s"Throttle items for a location are not event-time-sorted " +
              s"($nowMs after $lastMs)")
          lastMs = nowMs
          horizon = math.max(horizon, nowMs)
          (item, alerts.map { case (tpe, priority) =>
            val (next, fire) = step(machines.getOrElse(tpe, Fresh), priority, nowMs)
            machines(tpe) = next
            fire
          })
        }
      }
      // Runs once, after the last item is consumed: commit the state and
      // stamp the event-time TTL (expire when the watermark passes 1h
      // beyond the horizon). A state that is already lapsed (every row
      // was older than the watermark's TTL horizon) is not kept.
      out ++ {
        if (horizon == NoTime || lapsed(horizon)) state.remove()
        else {
          state.update(LocationState(horizon, machines.toMap))
          try state.setTimeoutTimestamp(horizon + StateTtlMs)
          catch { case _: UnsupportedOperationException => () }
        }
        Iterator.empty
      }
    }
  }

  /** Runs `f` (built on [[throttleLocation]]) over `ds` grouped by the
    * location column `loc`, with each group in event-time order (`time`).
    *
    * Streaming: the stateful shuffle owns partitioning and re-sorts by
    * key only, so each group is sorted in memory — bounded by the
    * micro-batch, not stream history. The input's watermark moves to a
    * column that is never late, so Spark's late-row filter drops
    * nothing and the processor decides late rows itself (header).
    *
    * Batch: an exchange-aligned secondary sort — repartition on the
    * location (satisfies the group operator's required distribution,
    * so no second exchange) and sort within partitions by (location,
    * time); a (location) prefix of that ordering satisfies the
    * operator's required sort, so Spark inserts none and the group
    * iterator arrives time-ordered for the lazy O(1)-memory processor.
    * The scale risk is giant batches (AvailableNow catch-up), which is
    * why batch does not sort in memory.
    */
  private[stream] def byLocation[A, B](ds: Dataset[A], loc: String, time: String, timeOf: A => Long)(
      f: (Iterator[A], GroupState[LocationState]) => Iterator[B])(
      implicit aEnc: Encoder[A], bEnc: Encoder[B]): Dataset[B] = {
    implicit val stEnc: Encoder[LocationState] = Encoders.product[LocationState]
    implicit val keyEnc: Encoder[String] = Encoders.STRING
    // grouping on the column, not a key function, so the map side
    // never deserializes a record
    val grouped =
      if (ds.isStreaming) neverLate(ds.toDF()).groupBy(col(loc)).as[String, A]
      else ds.repartition(col(loc)).sortWithinPartitions(col(loc), col(time))
        .groupBy(col(loc)).as[String, A]
    val sortInMemory = ds.isStreaming
    grouped.flatMapGroupsWithState(
      OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
      (_: String, items: Iterator[A], state: GroupState[LocationState]) =>
        f(if (sortInMemory) items.toArray(aEnc.clsTag).sortBy(timeOf).iterator else items, state)
    }
  }

  private[stream] val NeverLate = "_never_late"

  /** Moves the watermark of `df` off its event-time column onto a
    * [[NeverLate]] column that holds the latest timestamp. The
    * event-time timeout needs a watermarked column in the operator's
    * input, and the operator drops every row whose watermarked column is
    * at or behind the previous batch's watermark; a never-late column
    * keeps the first and disarms the second. The watermark itself is
    * still measured upstream, on the event-time column. A frame without
    * a watermark, or already moved, comes back as it is.
    */
  private[stream] def neverLate(df: DataFrame): DataFrame =
    df.schema.find(_.metadata.contains(EventTimeWatermark.delayKey)) match {
      case Some(marked) if marked.name != NeverLate =>
        df.select(df.columns.map(c => col(s"`$c`").as(c, Metadata.empty)) :+
          lit(Timestamp.valueOf("9999-12-31 00:00:00")).as(NeverLate, marked.metadata): _*)
      case _ => df
    }

  /** Apply the throttle to an occurrence stream or batch Dataset — the
    * same processor and state API on both. Streaming callers set
    * `withWatermark("eventTime", …)` upstream so the event-time TTL can
    * fire.
    */
  def apply(ds: Dataset[Occurrence]): Dataset[Sent] = {
    implicit val occEnc: Encoder[Occurrence] = Encoders.product[Occurrence]
    implicit val outEnc: Encoder[Sent] = Encoders.product[Sent]
    byLocation(ds, "locId", "eventTime", (o: Occurrence) => o.eventTime.getTime) {
      (occurrences, state) =>
        throttleLocation[Occurrence](occurrences, state, _.eventTime.getTime,
          o => Seq(o.alertType -> o.priority)).collect {
          case (o, Seq(true)) => Sent(o.locId, o.alertType, o.priority, o.description,
            o.eventId, o.eventTime, o.eventTime)
        }
    }
  }
}
