package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Batch star-schema ETL — the reference's Glue job + Redshift
  * transform (`ETL job - Glue/s3-to-redshift.py:76-190`,
  * `DWH - Redshift/Transforming Tables.sql`, SURVEY.md §2 J1–J3/A3,
  * §3 E2): candidate dim rows are DISTINCT projections of the new
  * readings, upserted idempotently via anti-join against the existing
  * dim, and the fact resolves surrogate keys through natural-key
  * equality joins.
  *
  * Semantics preserved from the reference:
  *  - dim_location dedups on loc_id ONLY; dim_time on full_date ONLY;
  *    dim_soil/dim_weather on their full column tuples (NOT EXISTS) —
  *    `s3-to-redshift.py:80-148`.
  *  - upserts anti-join NULL-SAFELY (`<=>`) and the weather fact join
  *    matches null-safely too: dim_weather tuples carry NULLs for any
  *    field beyond temperature_2m, and the reference's `NOT EXISTS
  *    d.x = v.x` / equality joins would re-insert those tuples every
  *    batch and drop their readings from the fact — we implement the
  *    intended set semantics (see [[upsertRows]]).
  *  - fact↔dim joins compare DOUBLEs for equality — intentional and
  *    correct because dims are projections of the same rows; never
  *    round (SURVEY §7.4).
  *  - IDENTITY surrogate keys become `maxExisting + global rank` over
  *    the natural key — deterministic, gap-free per batch, and stable
  *    under re-runs of the same input (unlike
  *    monotonically_increasing_id).
  *
  * Scale notes: dim_location and dim_time stay bounded (fixed farm
  * count; minutes-cardinality time), so their fact joins are forced
  * broadcasts. dim_soil/dim_weather natural keys are tuples of
  * continuous DOUBLEs — at 100× the fact they grow with the data, so
  * (a) their surrogate keys are assigned by [[orderedIds]], a two-pass
  * range-partitioned ranking with NO single-reducer global window, and
  * (b) their fact joins carry no broadcast hint: AQE picks broadcast
  * while they're small and falls back to a shuffle join when they
  * aren't. The anti-join reads only the dim's natural-key columns
  * (column pruning).
  */
object StarSchema {

  /** Global natural-key-ordered ids `base+1 .. base+N` with no
    * single-reducer stage: parallel range-partitioned total sort, then
    * `zipWithIndex` — which computes per-partition offsets with one
    * extra (driver-light) counting job and adds the cumulative offset
    * per partition.
    *
    * Why `zipWithIndex` and not a separate counts query: the counting
    * pass and the data pass MUST see identical partition boundaries.
    * RangePartitioner's boundary sampling is seeded with the RDD id, so
    * two independent query executions over the same input are NOT
    * guaranteed the same boundaries once sampling actually subsamples
    * (i.e. exactly at scale) — keys would duplicate or gap, and rows
    * could vanish through a pid mismatch. `zipWithIndex` runs both
    * passes over the SAME RDD (same id → same sampling seed), which is
    * the determinism contract this needs. Note the construction is
    * eager (the counting job runs when a dim builder is called) and the
    * sort is computed twice (count pass + data pass) — two parallel
    * passes in exchange for removing the single-reducer global window
    * that dies first at 100×. SurrogateIdSpec pins the contract.
    */
  private[graft] def orderedIds(
      fresh: DataFrame, keyName: String, orderCols: Seq[String], base: Long): DataFrame = {
    val spark = fresh.sparkSession
    val nParts = spark.sessionState.conf.numShufflePartitions
    val sorted = fresh
      .repartitionByRange(nParts, orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.map(col): _*)
    val indexed = sorted.rdd.zipWithIndex().map { case (row, i) =>
      org.apache.spark.sql.Row.fromSeq(row.toSeq :+ (base + 1L + i))
    }
    spark.createDataFrame(indexed,
      sorted.schema.add(keyName, org.apache.spark.sql.types.LongType, nullable = false))
  }

  /** DISTINCT + NOT-NULL candidates, minus rows already in `existing`
    * (anti-join on `matchCols`), with surrogate keys continuing from
    * the existing max.
    *
    * The anti-join matches NULL-SAFELY (`<=>`): dim_weather tuples can
    * legitimately carry NULL components (only temperature_2m is
    * null-filtered, per the reference), and a plain equality anti-join
    * would re-insert every NULL-bearing tuple on every batch — the
    * reference's own `NOT EXISTS ... d.x = v.x` has exactly that bug;
    * we implement the intended set semantics (DISTINCT already treats
    * NULLs as equal).
    */
  private def upsertRows(
      candidates: DataFrame,
      existing: Option[DataFrame],
      matchCols: Seq[String],
      keyName: String,
      orderCols: Seq[String]): DataFrame = {
    val fresh = existing match {
      case Some(dim) =>
        val ex = dim.select(matchCols.map(col): _*).as("_ex")
        val cand = candidates.as("_cand")
        cand.join(ex,
          matchCols.map(c => col(s"_cand.$c") <=> col(s"_ex.$c")).reduce(_ && _),
          "left_anti")
      case None => candidates
    }
    val base = existing
      .map(_.agg(coalesce(max(col(keyName)), lit(0L))).head().getLong(0))
      .getOrElse(0L)
    orderedIds(fresh, keyName, orderCols, base)
  }

  /** dim_location(location_key, loc_id, latitude, longitude) — 3-col
    * DISTINCT candidates, upserted against existing loc_ids only
    * (`s3-to-redshift.py:80-86`: within one batch, several coordinate
    * variants of a loc_id ALL insert — the NOT IN probes only the
    * pre-batch dim). Keys order over the full tuple so variant rows
    * don't tie on the sort key — surrogate assignment stays
    * deterministic under re-runs.
    */
  def dimLocation(readings: DataFrame, existing: Option[DataFrame] = None): DataFrame =
    upsertRows(
      readings.filter(col("loc_id").isNotNull)
        .select("loc_id", "latitude", "longitude").distinct(),
      existing, Seq("loc_id"), "location_key",
      Seq("loc_id", "latitude", "longitude"))

  /** dim_time(full_date, year, month, day, hour, minute) — natural PK,
    * no surrogate (`Creating Tables.sql:9-16`, `s3-to-redshift.py:89-101`).
    */
  def dimTime(readings: DataFrame, existing: Option[DataFrame] = None): DataFrame = {
    val candidates = readings.filter(col("timestamp").isNotNull)
      .select(
        col("timestamp").as("full_date"),
        year(col("timestamp")).as("year"),
        month(col("timestamp")).as("month"),
        dayofmonth(col("timestamp")).as("day"),
        hour(col("timestamp")).as("hour"),
        minute(col("timestamp")).as("minute"))
      .distinct()
    existing match {
      case Some(dim) => candidates.join(dim.select("full_date"), Seq("full_date"), "left_anti")
      case None => candidates
    }
  }

  /** dim_soil(soil_key, ph, nitrogen, phosphorus, potassium)
    * (`s3-to-redshift.py:104-119`).
    */
  def dimSoil(readings: DataFrame, existing: Option[DataFrame] = None): DataFrame = {
    val cols = Seq("ph", "nitrogen", "phosphorus", "potassium")
    upsertRows(
      readings.na.drop(cols).select(cols.map(col): _*).distinct(),
      existing, cols, "soil_key", cols)
  }

  /** dim_weather(weather_key, weather_temperature, weather_humidity,
    * wind_speed, wind_direction, rain, surface_pressure)
    * (`s3-to-redshift.py:122-148`; note only temperature_2m is
    * null-filtered, as written there).
    */
  def dimWeather(readings: DataFrame, existing: Option[DataFrame] = None): DataFrame = {
    val out = Seq("weather_temperature", "weather_humidity", "wind_speed",
      "wind_direction", "rain", "surface_pressure")
    upsertRows(
      readings.filter(col("weather_temperature_2m").isNotNull)
        .select(
          col("weather_temperature_2m").as("weather_temperature"),
          col("weather_relative_humidity_2m").as("weather_humidity"),
          col("weather_wind_speed_10m").as("wind_speed"),
          col("weather_wind_direction_10m").as("wind_direction"),
          col("weather_rain").as("rain"),
          col("weather_surface_pressure").as("surface_pressure"))
        .distinct(),
      existing, out, "weather_key", out)
  }

  /** fact_sensor_readings — 4-way broadcast equi-join resolving
    * surrogate keys through natural keys (`s3-to-redshift.py:153-190`,
    * `Transforming Tables.sql:48-102`). Inner joins: readings whose dim
    * row was filtered (nulls) drop out, as in the reference.
    */
  def fact(
      readings: DataFrame,
      dimLocation: DataFrame,
      dimTime: DataFrame,
      dimSoil: DataFrame,
      dimWeather: DataFrame): DataFrame = {
    readings.as("v")
      .join(broadcast(dimLocation.as("l")),
        col("v.loc_id") === col("l.loc_id") &&
          col("v.latitude") === col("l.latitude") &&
          col("v.longitude") === col("l.longitude"))
      // no broadcast hint on the two unbounded dims (continuous-DOUBLE
      // natural keys): AQE broadcasts them while small, shuffle-joins
      // when they grow with the fact — a forced broadcast would OOM
      // executors at 100×. Weather matches NULL-SAFELY: only
      // temperature_2m is null-filtered at the dim, so a VALID reading
      // with e.g. no rain field must still resolve its (NULL-bearing)
      // weather tuple rather than silently dropping from the fact.
      .join(dimWeather.as("w"),
        col("v.weather_temperature_2m") <=> col("w.weather_temperature") &&
          col("v.weather_relative_humidity_2m") <=> col("w.weather_humidity") &&
          col("v.weather_wind_speed_10m") <=> col("w.wind_speed") &&
          col("v.weather_wind_direction_10m") <=> col("w.wind_direction") &&
          col("v.weather_rain") <=> col("w.rain") &&
          col("v.weather_surface_pressure") <=> col("w.surface_pressure"))
      .join(dimSoil.as("s"),
        col("v.ph") === col("s.ph") &&
          col("v.nitrogen") === col("s.nitrogen") &&
          col("v.phosphorus") === col("s.phosphorus") &&
          col("v.potassium") === col("s.potassium"))
      .join(broadcast(dimTime.as("t")), col("v.timestamp") === col("t.full_date"))
      .select(
        col("v.event_id").as("evt_id"),
        col("l.location_key"),
        col("w.weather_key"),
        col("s.soil_key"),
        col("t.full_date"),
        col("v.temperature").as("soil_temperature"),
        col("v.humidity").as("soil_humidity"),
        col("v.water_level"),
        col("v.validation_status"))
  }
}
