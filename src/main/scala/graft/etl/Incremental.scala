package graft.etl

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import graft.CacheScope
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
  * statistics. On this (v1) parquet source the executed plan is
  * `FileScan parquet [full_date]` → partial `HashAggregate` →
  * `Exchange SinglePartition` → final `HashAggregate`, with no pushed
  * aggregation, so it reads the `full_date` column of every fact file
  * and its cost grows with the fact. (Column pruning keeps it to one
  * column.) The timestamp filter prunes partitions when the fact/lake is
  * date-partitioned.
  */
object Incremental {

  val Epoch: Timestamp = Timestamp.valueOf("1970-01-01 00:00:00")

  /** MAX(full_date) from the existing fact, or epoch when the fact is
    * empty or unreadable (`s3-to-redshift.py:34-41`).
    */
  def watermark(fact: Option[DataFrame]): Timestamp =
    fact.flatMap { f =>
      try Option(f.agg(max(col("full_date"))).head().getTimestamp(0))
      catch { case _: Exception => None }
    }.getOrElse(Epoch)

  /** Readings strictly newer than the watermark (`s3-to-redshift.py:53`). */
  def newReadings(readings: DataFrame, wm: Timestamp): DataFrame =
    readings.filter(col("timestamp") > lit(wm))

  /** Full incremental batch: filter to new rows, short-circuit on empty
    * (`s3-to-redshift.py:55-58`), upsert dims, append fact rows.
    * Returns (updated dims, new fact rows) without side effects —
    * callers own the writes.
    */
  def load(
      readings: DataFrame,
      fact: Option[DataFrame],
      dims: Option[(DataFrame, DataFrame, DataFrame, DataFrame)]): IncrementalResult = {
    // materialized once: the batch is consumed many times below
    // (isEmpty probe, four dim builders — each an eager two-pass
    // orderedIds — and the fact join); without the persist every
    // consumer re-reads and re-filters the source. Callers unpersist
    // via result.newReadings after landing the outputs.
    val fresh = newReadings(readings, watermark(fact)).transform(CacheScope.scoped)
    if (fresh.isEmpty) {
      IncrementalResult(fresh, dims.map(_._1), dims.map(_._2), dims.map(_._3), dims.map(_._4), None)
    } else {
      val (exLoc, exTime, exSoil, exWeather) =
        (dims.map(_._1), dims.map(_._2), dims.map(_._3), dims.map(_._4))
      val newLoc = StarSchema.dimLocation(fresh, exLoc)
      val newTime = StarSchema.dimTime(fresh, exTime)
      val newSoil = StarSchema.dimSoil(fresh, exSoil)
      val newWeather = StarSchema.dimWeather(fresh, exWeather)
      def merged(ex: Option[DataFrame], add: DataFrame): DataFrame =
        ex.map(_.unionByName(add)).getOrElse(add)
      val loc = merged(exLoc, newLoc)
      val time = merged(exTime, newTime)
      val soil = merged(exSoil, newSoil)
      val weather = merged(exWeather, newWeather)
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
