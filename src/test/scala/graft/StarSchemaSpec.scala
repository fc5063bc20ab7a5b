package graft

import java.sql.Timestamp

import graft.etl.{Incremental, StarSchema}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Star-schema ETL semantics (SURVEY §3 E2): DISTINCT dim candidates,
  * idempotent anti-join upsert, surrogate-key continuation, 4-way fact
  * join, incremental high-watermark load.
  */
class StarSchemaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(s: String) = Timestamp.valueOf(s)

  /** valid_readings rows in the Glue job's flattened shape. */
  private def readings(rows: Seq[(String, String, String)]): DataFrame = {
    import spark.implicits._
    rows.map { case (evt, t, loc) =>
      (evt, ts(t), loc, 23.4, 30.6,
        24.1, 60.2, 1.8, 115.0, 60.0, 58.0, 6.9,
        31.0, 45.0, 9.5, 180.0, 0.0, 1009.0, "VALID")
    }.toDF(
      "event_id", "timestamp", "loc_id", "latitude", "longitude",
      "temperature", "humidity", "water_level",
      "nitrogen", "phosphorus", "potassium", "ph",
      "weather_temperature_2m", "weather_relative_humidity_2m",
      "weather_wind_speed_10m", "weather_wind_direction_10m",
      "weather_rain", "weather_surface_pressure", "validation_status")
  }

  private val batch1 = readings(Seq(
    ("evt_1", "2025-08-09 12:00:00", "loc_1"),
    ("evt_2", "2025-08-09 12:01:00", "loc_1"),
    ("evt_3", "2025-08-09 12:01:00", "loc_2")))

  test("dims from scratch: DISTINCT candidates with dense surrogate keys") {
    val loc = StarSchema.dimLocation(batch1)
    assert(loc.count() === 2)
    assert(loc.select("location_key").collect().map(_.getLong(0)).sorted === Array(1L, 2L))
    assert(StarSchema.dimTime(batch1).count() === 2) // dedup on full_date
    assert(StarSchema.dimSoil(batch1).count() === 1) // identical soil tuple
    assert(StarSchema.dimWeather(batch1).count() === 1)
  }

  test("upsert is idempotent: re-running the same batch adds no dim rows") {
    val loc = StarSchema.dimLocation(batch1)
    assert(StarSchema.dimLocation(batch1, Some(loc)).count() === 0)
    val time = StarSchema.dimTime(batch1)
    assert(StarSchema.dimTime(batch1, Some(time)).count() === 0)
  }

  test("new location continues the surrogate-key sequence") {
    val loc1 = StarSchema.dimLocation(batch1)
    val batch2 = readings(Seq(("evt_4", "2025-08-09 13:00:00", "loc_3")))
    val fresh = StarSchema.dimLocation(batch2, Some(loc1))
    assert(fresh.count() === 1)
    assert(fresh.select("location_key").head.getLong(0) === 3L)
  }

  test("fact join resolves every surrogate key (no row loss on clean input)") {
    val fact = StarSchema.fact(batch1,
      StarSchema.dimLocation(batch1), StarSchema.dimTime(batch1),
      StarSchema.dimSoil(batch1), StarSchema.dimWeather(batch1))
    assert(fact.count() === 3)
    assert(fact.columns.toSeq === Seq("evt_id", "location_key", "weather_key",
      "soil_key", "full_date", "soil_temperature", "soil_humidity",
      "water_level", "validation_status"))
    assert(fact.filter(
      fact("location_key").isNull || fact("weather_key").isNull ||
        fact("soil_key").isNull || fact("full_date").isNull).count() === 0)
  }

  test("incremental load: watermark filters to strictly-newer readings") {
    val first = Incremental.load(batch1, fact = None, dims = None)
    assert(first.newFactRows.get.count() === 3)
    val factTable = first.newFactRows.get
    // second batch: one stale row (== max watermark) + one new row
    val batch2 = readings(Seq(
      ("evt_3b", "2025-08-09 12:01:00", "loc_2"), // at watermark → dropped
      ("evt_4", "2025-08-09 14:00:00", "loc_3")))
    val second = Incremental.load(batch2, Some(factTable),
      Some((first.dimLocation.get, first.dimTime.get,
        first.dimSoil.get, first.dimWeather.get)))
    assert(second.newReadings.count() === 1)
    assert(second.newFactRows.get.count() === 1)
    assert(second.dimLocation.get.count() === 3) // loc_3 appended
  }

  test("empty increment short-circuits without touching dims") {
    val first = Incremental.load(batch1, None, None)
    val stale = readings(Seq(("evt_old", "2025-08-09 11:00:00", "loc_1")))
    val res = Incremental.load(stale, first.newFactRows,
      Some((first.dimLocation.get, first.dimTime.get,
        first.dimSoil.get, first.dimWeather.get)))
    assert(res.newFactRows.isEmpty)
    assert(res.dimLocation.get.count() === 2)
  }

  test("NULL-bearing weather tuples upsert once and still resolve in the fact") {
    import spark.implicits._
    // a VALID reading whose weather_data lacks rain (validation only
    // requires temperature_2m) — the tuple carries a NULL component
    val rows = Seq(
      ("evt_n", ts("2025-08-09 12:00:00"), "loc_1", 23.4, 30.6,
        24.1, 60.2, 1.8, 115.0, 60.0, 58.0, 6.9,
        31.0, 45.0, 9.5, 180.0, null.asInstanceOf[java.lang.Double], 1009.0, "VALID"))
      .toDF(
        "event_id", "timestamp", "loc_id", "latitude", "longitude",
        "temperature", "humidity", "water_level",
        "nitrogen", "phosphorus", "potassium", "ph",
        "weather_temperature_2m", "weather_relative_humidity_2m",
        "weather_wind_speed_10m", "weather_wind_direction_10m",
        "weather_rain", "weather_surface_pressure", "validation_status")
    val dim1 = StarSchema.dimWeather(rows)
    assert(dim1.count() === 1)
    // idempotent even though the natural key contains NULL — a plain
    // equality anti-join would re-insert it every batch
    assert(StarSchema.dimWeather(rows, Some(dim1)).count() === 0)
    // and the reading still resolves its weather_key in the fact
    val fact = StarSchema.fact(rows,
      StarSchema.dimLocation(rows), StarSchema.dimTime(rows),
      StarSchema.dimSoil(rows), dim1)
    assert(fact.count() === 1)
    assert(!fact.select("weather_key").head.isNullAt(0))
  }

  test("surrogate keys scale: no single-partition exchange, global order preserved") {
    import spark.implicits._
    // enough distinct soil tuples to span several range partitions
    val soil = (1 to 500).map(i =>
      (6.0 + i * 0.01, 100.0 + i, 50.0 + i, 40.0 + i))
      .toDF("ph", "nitrogen", "phosphorus", "potassium")
    val dim = StarSchema.dimSoil(soil)
    // the old global Window.orderBy ranked in one reducer — the stage
    // that dies first at 100× scale. The dim's own plan is a scan of the
    // ranked RDD, so check the ranking in its lineage: the range-sorted
    // RDD that zipWithIndex numbers must span several non-empty
    // partitions.
    def lineage(r: org.apache.spark.rdd.RDD[_]): Seq[org.apache.spark.rdd.RDD[_]] =
      r +: r.dependencies.flatMap(d => lineage(d.rdd))
    val ranked = lineage(dim.rdd).filter(_.getClass.getSimpleName == "ZippedWithIndexRDD")
    assert(ranked.size === 1, s"no zipWithIndex ranking in ${dim.rdd.toDebugString}")
    val sizes = ranked.head.mapPartitions(it => Iterator(it.size)).collect()
    assert(sizes.count(_ > 0) > 1,
      s"surrogate keys are ranked in one partition: sizes ${sizes.toList}")
    // keys are still the exact global rank in natural-key order, gap-free
    val keys = dim.orderBy("ph").select("soil_key").collect().map(_.getLong(0))
    assert(keys === (1L to 500L).toArray)
    // and continuation from an existing dim still holds
    val more = (501 to 520).map(i =>
      (6.0 + i * 0.01, 100.0 + i, 50.0 + i, 40.0 + i))
      .toDF("ph", "nitrogen", "phosphorus", "potassium")
    val appended = StarSchema.dimSoil(more, Some(dim))
    val newKeys = appended.orderBy("ph").select("soil_key").collect().map(_.getLong(0))
    assert(newKeys === (501L to 520L).toArray)
  }

  test("watermark: epoch on missing fact, MAX(full_date) otherwise") {
    assert(Incremental.watermark(None) === Incremental.Epoch)
    val fact = Incremental.load(batch1, None, None).newFactRows.get
    assert(Incremental.watermark(Some(fact)) === ts("2025-08-09 12:01:00"))
  }
}
