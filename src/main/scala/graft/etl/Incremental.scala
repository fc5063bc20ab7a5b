package graft.etl

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import graft.CacheScope
import graft.etl.StarSchema.Keyed
import org.apache.spark.sql.functions._

/** Incremental high-watermark load — the reference's Glue driver logic
  * (`ETL job - Glue/s3-to-redshift.py:26-59`, SURVEY.md §2.2 P9/P10,
  * §2.4 A1): read MAX(full_date) from the fact table (epoch default on
  * empty/unreadable), keep only strictly-newer readings, short-circuit
  * on empty.
  *
  * Divergence kept as in the reference (SURVEY §2.7 ST6): the watermark
  * keys on timestamp, not event_id — late events at or before the
  * watermark are silently dropped. The streaming path's
  * `withWatermark` + checkpoint subsumes this on live data.
  *
  * Scale notes: the watermark's MAX is NOT answered from parquet footer
  * statistics: [[bounds]] reads the `full_date` column of every fact
  * file (column pruning keeps it to one column), so its cost grows with
  * the fact. It reads the keyed dims' max keys in the same job — a
  * per-partition max folded on the driver, with no exchange, so one
  * job where a MAX aggregate per table would take two under AQE. The
  * timestamp filter prunes partitions when the fact/lake is
  * date-partitioned.
  */
object Incremental {

  val Epoch: Timestamp = Timestamp.valueOf("1970-01-01 00:00:00")

  /** What an increment reads before it loads: the watermark and the
    * largest surrogate key of each keyed dim (0 for an empty one). */
  private[etl] final case class Bounds(watermark: Timestamp, maxKeys: Map[Keyed, Long])

  /** MAX(full_date) from the existing fact, or epoch when the fact is
    * empty or unreadable (`s3-to-redshift.py:34-41`).
    */
  def watermark(fact: Option[DataFrame]): Timestamp = bounds(fact, Nil).watermark

  /** The watermark and the max keys of `dims` (0 for a dim without a
    * key), in one job. A fact that
    * is empty or unreadable gives the epoch, as [[watermark]] says; the
    * dims are then read again without it, and a dim that fails to read
    * fails the call.
    */
  private[etl] def bounds(fact: Option[DataFrame], dims: Seq[(Keyed, DataFrame)]): Bounds = {
    def read(fact: Option[DataFrame]): Bounds = {
      // slot 0: the fact's full_date in micros; slot 1 + tag: a dim's key
      val probes = fact.map(_.select(lit(0).as("i"), unix_micros(col("full_date")).as("v"))) ++
        dims.flatMap { case (k, d) =>
          k.keyName.map(key => d.select(lit(k.tag + 1).as("i"), col(key).cast("long").as("v")))
        }
      val none = Array.fill(StarSchema.PassDims.size + 1)(Long.MinValue)
      val max = if (probes.isEmpty) none else probes.reduce(_ union _).rdd.aggregate(none)(
        (m, r) => { if (!r.isNullAt(1)) m(r.getInt(0)) = m(r.getInt(0)) max r.getLong(1); m },
        (a, b) => a.zip(b).map { case (x, y) => x max y })
      Bounds(
        if (max(0) == Long.MinValue) Epoch else DateTimeUtils.toJavaTimestamp(max(0)),
        dims.map { case (k, _) => k -> (max(k.tag + 1) max 0L) }.toMap)
    }
    try read(fact)
    catch { case _: Exception if fact.isDefined => read(None) }
  }

  /** Readings strictly newer than the watermark (`s3-to-redshift.py:53`). */
  def newReadings(readings: DataFrame, wm: Timestamp): DataFrame =
    readings.filter(col("timestamp") > lit(wm))

  /** Full incremental batch: filter to new rows, short-circuit on empty
    * (`s3-to-redshift.py:55-58`), upsert dims, append fact rows.
    * Returns (updated dims, new fact rows) without side effects —
    * callers own the writes.
    *
    * An increment with new rows runs a fixed handful of jobs inside this
    * call, whatever the number of dims (6 on a farm increment, where the
    * per-dim builders ran 21): the bounds read (the watermark and every
    * keyed dim's max key, [[bounds]]), the empty probe, and ONE keyed
    * pass ([[StarSchema.keyedDeltas]]: range sample, range shuffle, count
    * pass, data pass into the cache) that finds the new rows of all four
    * dims and assigns the location, soil and weather keys. The new dim
    * rows are cached, so the caller's dim writes and the fact's joins only
    * read them; the fact stays lazy, the caller's write runs it.
    */
  def load(
      readings: DataFrame,
      fact: Option[DataFrame],
      dims: Option[(DataFrame, DataFrame, DataFrame, DataFrame)]): IncrementalResult = {
    val (exLoc, exTime, exSoil, exWeather) =
      (dims.map(_._1), dims.map(_._2), dims.map(_._3), dims.map(_._4))
    val passed = Seq(StarSchema.Location -> exLoc, StarSchema.Time -> exTime,
      StarSchema.Soil -> exSoil, StarSchema.Weather -> exWeather)
    val b = bounds(fact, passed.collect { case (k, Some(d)) => k -> d })
    // materialized once: the batch is consumed many times below (empty
    // probe, keyed pass and the fact join); without the persist every
    // consumer re-reads and re-filters the source. Callers release it
    // with CacheScope.drain after landing the outputs.
    val fresh = newReadings(readings, b.watermark).transform(CacheScope.scoped)
    if (fresh.isEmpty) {
      IncrementalResult(fresh, exLoc, exTime, exSoil, exWeather, None)
    } else {
      val deltas = StarSchema.keyedDeltas(fresh, passed, b.maxKeys)
      def merged(ex: Option[DataFrame], add: DataFrame): DataFrame =
        ex.map(_.unionByName(add)).getOrElse(add)
      val loc = merged(exLoc, deltas(StarSchema.Location))
      val time = merged(exTime, StarSchema.calendar(deltas(StarSchema.Time)))
      val soil = merged(exSoil, deltas(StarSchema.Soil))
      val weather = merged(exWeather, deltas(StarSchema.Weather))
      val factRows = StarSchema.fact(fresh, loc, time, soil, weather)
      IncrementalResult(fresh, Some(loc), Some(time), Some(soil), Some(weather), Some(factRows))
    }
  }

  final case class IncrementalResult(
      newReadings: DataFrame,
      dimLocation: Option[DataFrame],
      dimTime: Option[DataFrame],
      dimSoil: Option[DataFrame],
      dimWeather: Option[DataFrame],
      newFactRows: Option[DataFrame])
}
