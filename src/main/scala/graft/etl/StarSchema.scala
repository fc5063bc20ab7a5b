package graft.etl

import graft.CacheScope
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType, TimestampType}

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
  *  - upserts match NULL-SAFELY (NULL equals NULL) and the weather fact
  *    join matches null-safely too (`<=>`): dim_weather tuples carry
  *    NULLs for any field beyond temperature_2m, and the reference's
  *    `NOT EXISTS d.x = v.x` / equality joins would re-insert those
  *    tuples every batch and drop their readings from the fact — we
  *    implement the intended set semantics (see [[keyedDeltas]]).
  *  - fact↔dim joins compare DOUBLEs for equality — intentional and
  *    correct because dims are projections of the same rows; never
  *    round (SURVEY §7.4). `-0.0` and `0.0` are one key, as in
  *    Spark's DISTINCT and equi-joins; a dim stores it as `0.0`.
  *  - IDENTITY surrogate keys become `maxExisting + global rank` over
  *    the natural key — deterministic, gap-free per batch, and stable
  *    under re-runs of the same input (unlike
  *    monotonically_increasing_id).
  *
  * Scale notes: every dim gets its new rows from ONE keyed pass over
  * the readings ([[keyedDeltas]]). The four dims' candidates and the
  * natural keys they already hold are one tagged relation, and
  * [[orderedIds]] ranks all of it at once: one parallel range shuffle
  * that also does the DISTINCT and the upsert's anti-join, then a count
  * pass and a data pass over the same RDD, with NO single-reducer global
  * window. The new rows are materialized once ([[CacheScope]]), so the
  * dim writes and the fact's joins only read them. The existing max keys
  * come from the increment's one bounds read ([[Incremental.bounds]]).
  * The pass reads only the dims' natural-key columns (column pruning);
  * it moves the existing dims' keys through its shuffle, which at scale
  * costs what the shuffled anti-join it replaces did.
  * dim_location and dim_time stay bounded (fixed farm count;
  * minutes-cardinality time), so their fact joins are forced
  * broadcasts. dim_soil/dim_weather natural keys are tuples of
  * continuous DOUBLEs — at 100× the fact they grow with the data, so
  * their fact joins carry no broadcast hint: AQE picks broadcast while
  * they're small and falls back to a shuffle join when they aren't.
  */
object StarSchema {

  /** A dim whose new rows the keyed pass finds: its natural key (at
    * most one STRING column, at most one TIMESTAMP, then DOUBLEs, in the
    * dim's column and sort order), the columns its upsert matches on, how
    * readings project to its (not yet DISTINCT) candidates, and the name
    * of the surrogate key the pass assigns it, if it has one.
    */
  private[graft] final case class Keyed(
      tag: Int,
      keyName: Option[String],
      string: Option[String],
      time: Option[String],
      doubles: Seq[String],
      matchCols: Seq[String],
      candidates: DataFrame => DataFrame) {
    def natural: Seq[String] = string.toSeq ++ time ++ doubles
    // the known rows of a dim sort before its candidates only when its
    // match key leads its natural key (see orderedIds)
    require(natural.startsWith(matchCols))
  }

  private val SoilCols = Seq("ph", "nitrogen", "phosphorus", "potassium")
  private val WeatherCols = Seq("weather_temperature", "weather_humidity", "wind_speed",
    "wind_direction", "rain", "surface_pressure")

  /** dim_location: 3-col DISTINCT candidates, upserted against existing
    * loc_ids only (`s3-to-redshift.py:80-86`: within one batch, several
    * coordinate variants of a loc_id ALL insert — the NOT IN probes only
    * the pre-batch dim). Keys order over the full tuple so variant rows
    * don't tie on the sort key.
    */
  private[graft] val Location = Keyed(0, Some("location_key"), Some("loc_id"), None,
    Seq("latitude", "longitude"), Seq("loc_id"),
    _.filter(col("loc_id").isNotNull).select("loc_id", "latitude", "longitude"))

  /** dim_time: DISTINCT on full_date, no surrogate key
    * (`s3-to-redshift.py:89-101`); [[calendar]] adds the rest. */
  private[graft] val Time = Keyed(1, None, None, Some("full_date"), Nil, Seq("full_date"),
    _.filter(col("timestamp").isNotNull).select(col("timestamp").as("full_date")))

  /** dim_soil (`s3-to-redshift.py:104-119`). */
  private[graft] val Soil = Keyed(2, Some("soil_key"), None, None, SoilCols, SoilCols,
    _.na.drop(SoilCols).select(SoilCols.map(col): _*))

  /** dim_weather (`s3-to-redshift.py:122-148`; note only temperature_2m
    * is null-filtered, as written there).
    */
  private[graft] val Weather = Keyed(3, Some("weather_key"), None, None, WeatherCols, WeatherCols,
    _.filter(col("weather_temperature_2m").isNotNull)
      .select(
        col("weather_temperature_2m").as("weather_temperature"),
        col("weather_relative_humidity_2m").as("weather_humidity"),
        col("weather_wind_speed_10m").as("wind_speed"),
        col("weather_wind_direction_10m").as("wind_direction"),
        col("weather_rain").as("rain"),
        col("weather_surface_pressure").as("surface_pressure")))

  /** Every dim of the keyed pass, in tag order. */
  private[etl] val PassDims = Seq(Location, Time, Soil, Weather)

  /** The tagged layout every dim's natural key maps into: the dim's tag,
    * its STRING column, its TIMESTAMP, then up to six DOUBLEs. */
  private val Doubles = 6
  private val Layout = Seq("_tag", "_s", "_t") ++ (0 until Doubles).map(i => s"_d$i")

  /** Name of the data-pass RDD of [[orderedIds]], for lineage probes. */
  private[graft] val RankingRdd = "keyed dims ranking"

  /** The columns `use` of `k`'s natural key in `df`, in the tagged
    * layout; slots they do not fill are NULL. `-0.0` becomes `0.0`, so
    * that the range sort's DISTINCT keeps one stable value for what
    * Spark's DISTINCT and joins treat as one key.
    */
  private def inLayout(k: Keyed, df: DataFrame, use: Seq[String]): Seq[Column] = {
    def value(c: Option[String], t: DataType) =
      c.filter(use.contains).map(df(_).cast(t)).getOrElse(lit(null).cast(t))
    val doubles = (0 until Doubles).map { i =>
      val v = value(k.doubles.lift(i), DoubleType)
      when(v === 0.0, lit(0.0)).otherwise(v)
    }
    (lit(k.tag) +: value(k.string, StringType) +: value(k.time, TimestampType) +: doubles)
      .zip(Layout).map { case (c, name) => c.as(name) }
  }

  /** The layout slot of `k`'s natural-key column `c`. */
  private def slot(k: Keyed, c: String): Int =
    if (k.string.contains(c)) 1 else if (k.time.contains(c)) 2 else 3 + k.doubles.indexOf(c)

  /** Surrogate keys per tag for the new DISTINCT rows of `tagged`: a
    * row whose first column (an Int tag `t`) is `t` gets the next of
    * `bases(t)+1 .. bases(t)+N_t`, in the order of all its columns. A row
    * is not new when `known` (rows of the same layout, NULL after their
    * match key) holds a row of its tag that agrees with it on its first
    * `matchLen(t)` columns, its match key (by default all of them).
    *
    * No single-reducer stage: ONE parallel range shuffle carries the
    * candidates and the known rows. It partitions on each row's match
    * key, so a known row and the candidates it matches share a partition,
    * and sorts on every column, known rows first among equals; NULLs sort
    * first, so a known row precedes every candidate of its match key.
    * Then a count pass (new rows per tag per partition) and a data pass
    * that adds each partition's cumulative offset both keep the same rows
    * ([[newRows]]: not matched by the last known row, not a repeat of the
    * row before).
    *
    * Why both passes run over ONE RDD and not as two queries: they MUST
    * see identical partition boundaries. RangePartitioner's boundary
    * sampling is seeded with the RDD id, so two independent query
    * executions over the same input are NOT guaranteed the same
    * boundaries once sampling actually subsamples (i.e. exactly at
    * scale) — keys would duplicate or gap, and rows could vanish
    * through a pid mismatch. Taking `.rdd` runs the range shuffle once;
    * both passes then read its output. The count pass is eager (it runs
    * when this is called). SurrogateIdSpec pins the contract.
    */
  private[graft] def orderedIds(
      tagged: DataFrame,
      keyName: String,
      bases: IndexedSeq[Long],
      known: Option[DataFrame] = None,
      matchLen: IndexedSeq[Int] = IndexedSeq.empty): DataFrame = {
    val spark = tagged.sparkSession
    val cols = tagged.columns.toSeq
    val lens = bases.indices.map(t => matchLen.lift(t).getOrElse(cols.size)).toArray
    val tag = col(cols.head)
    // the match key: columns at or past a tag's match length are NULL
    val rangeKey = tag +: cols.indices.tail.map { i =>
      val masked = lens.indices.filter(lens(_) <= i)
      if (masked.isEmpty) col(cols(i)) else when(!tag.isin(masked: _*), col(cols(i)))
    }
    val candidates = tagged.withColumn("_new", lit(1))
    val sorted = known.fold(candidates)(_.toDF(cols: _*).withColumn("_new", lit(0)).union(candidates))
      .repartitionByRange(spark.sessionState.conf.numShufflePartitions, rangeKey: _*)
      .sortWithinPartitions((cols :+ "_new").map(col): _*)
    val rows = sorted.rdd
    val tags = bases.size
    val counts = rows.mapPartitions { it =>
      val n = new Array[Long](tags)
      newRows(it, lens).foreach(r => n(r.getInt(0)) += 1)
      Iterator(n)
    }.collect()
    // the key before each partition's first row, per tag
    val starts = counts.scanLeft(bases.toArray)((a, n) => a.zip(n).map { case (x, y) => x + y })
    val ranked = rows.mapPartitionsWithIndex { (p, it) =>
      val last = starts(p).clone()
      newRows(it, lens).map { r =>
        val t = r.getInt(0)
        last(t) += 1
        Row.fromSeq(r.toSeq.init :+ last(t))
      }
    }.setName(RankingRdd)
    spark.createDataFrame(ranked, tagged.schema.add(keyName, LongType, nullable = false))
  }

  /** The new rows of a sorted [[orderedIds]] partition: candidates (last
    * column 1) that neither agree with the last known row (last column 0)
    * on their match key nor repeat the candidate before them. */
  private def newRows(it: Iterator[Row], matchLen: Array[Int]): Iterator[Row] = {
    def agree(a: Row, b: Row, n: Int) = (0 until n).forall { i =>
      (a.get(i), b.get(i)) match {
        case (x: Double, y: Double) => x == y || (x.isNaN && y.isNaN)
        case (x, y) => x == y
      }
    }
    var known: Row = null
    var prev: Row = null
    it.filter { r =>
      val n = r.length - 1
      if (r.getInt(n) == 0) { known = r; false }
      else {
        val fresh = (known == null || !agree(known, r, matchLen(r.getInt(0)))) &&
          (prev == null || !agree(prev, r, n))
        prev = r
        fresh
      }
    }
  }

  /** The new rows of each dim in `dims`, upserted against its existing
    * rows (if any), with surrogate keys continuing from `bases` (0 for a
    * dim without one) — all in one keyed pass.
    *
    * Candidates are DISTINCT, minus natural keys already in the dim. The
    * match is NULL-SAFE (NULL equals NULL, as in DISTINCT): dim_weather
    * tuples can legitimately carry NULL components (only temperature_2m
    * is null-filtered, per the reference), and a plain equality anti-join
    * would re-insert every NULL-bearing tuple on every batch — the
    * reference's own `NOT EXISTS ... d.x = v.x` has exactly that bug;
    * we implement the intended set semantics.
    */
  private[etl] def keyedDeltas(
      readings: DataFrame,
      dims: Seq[(Keyed, Option[DataFrame])],
      bases: Map[Keyed, Long]): Map[Keyed, DataFrame] = {
    val candidates = dims.map { case (k, _) => k -> k.candidates(readings) }
    val keyed = orderedIds(
      candidates.map { case (k, c) => c.select(inLayout(k, c, k.natural): _*) }.reduce(_ union _),
      "_key",
      PassDims.map(k => bases.getOrElse(k, 0L)).toIndexedSeq,
      dims.collect { case (k, Some(d)) => d.select(inLayout(k, d, k.matchCols): _*) }
        .reduceOption(_ union _),
      PassDims.map(k => k.matchCols.map(slot(k, _)).max + 1).toIndexedSeq)
      .transform(CacheScope.scoped)
    // the data pass, once, into the cache: a noop write is one job (no
    // exchange, so no AQE stages), where count() would take three
    keyed.write.format("noop").mode("overwrite").save()
    candidates.map { case (k, c) =>
      k -> keyed.filter(col("_tag") === k.tag).select(
        k.natural.map(n => col(Layout(slot(k, n))).cast(c.schema(n).dataType).as(n)) ++
          k.keyName.map(col("_key").as(_)): _*)
    }.toMap
  }

  /** One dim's new rows: its max-key read and [[keyedDeltas]]. */
  private def keyedDelta(k: Keyed, readings: DataFrame, existing: Option[DataFrame]): DataFrame =
    keyedDeltas(readings, Seq(k -> existing),
      Incremental.bounds(None, existing.map(k -> _).toSeq).maxKeys)(k)

  /** dim_location(location_key, loc_id, latitude, longitude) — see
    * [[Location]].
    */
  def dimLocation(readings: DataFrame, existing: Option[DataFrame] = None): DataFrame =
    keyedDelta(Location, readings, existing)

  /** dim_time(full_date, year, month, day, hour, minute) — natural PK,
    * no surrogate (`Creating Tables.sql:9-16`, `s3-to-redshift.py:89-101`).
    */
  def dimTime(readings: DataFrame, existing: Option[DataFrame] = None): DataFrame =
    calendar(keyedDelta(Time, readings, existing))

  /** dim_time's columns from its natural key, `full_date`. */
  private[etl] def calendar(fullDates: DataFrame): DataFrame = {
    val t = col("full_date")
    fullDates.select(t, year(t).as("year"), month(t).as("month"), dayofmonth(t).as("day"),
      hour(t).as("hour"), minute(t).as("minute"))
  }

  /** dim_soil(soil_key, ph, nitrogen, phosphorus, potassium) — see
    * [[Soil]].
    */
  def dimSoil(readings: DataFrame, existing: Option[DataFrame] = None): DataFrame =
    keyedDelta(Soil, readings, existing)

  /** dim_weather(weather_key, weather_temperature, weather_humidity,
    * wind_speed, wind_direction, rain, surface_pressure) — see [[Weather]].
    */
  def dimWeather(readings: DataFrame, existing: Option[DataFrame] = None): DataFrame =
    keyedDelta(Weather, readings, existing)

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
