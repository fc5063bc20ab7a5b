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
    import org.apache.spark.rdd.RDD
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import spark.implicits._
    // enough distinct locations, soil and weather tuples to span several
    // range partitions each; natural-key order is row order
    def rows(from: Int, to: Int, minute: Int) = (from to to).map { i =>
      (s"e$i", ts(f"2025-08-09 12:$minute%02d:00"), f"loc_$i%04d", 10.0 + i * 0.01, 20.0,
        24.1, 60.2, 1.8, 100.0 + i, 50.0 + i, 40.0 + i, 6.0 + i * 0.01,
        10.0 + i * 0.05, 45.0, 9.5, 180.0, 0.0, 1009.0, "VALID")
    }.toDF(
      "event_id", "timestamp", "loc_id", "latitude", "longitude",
      "temperature", "humidity", "water_level",
      "nitrogen", "phosphorus", "potassium", "ph",
      "weather_temperature_2m", "weather_relative_humidity_2m",
      "weather_wind_speed_10m", "weather_wind_direction_10m",
      "weather_rain", "weather_surface_pressure", "validation_status")
    def lineage(r: RDD[_]): Seq[RDD[_]] = r +: r.dependencies.flatMap(d => lineage(d.rdd))
    // the old global Window.orderBy ranked in one reducer — the stage
    // that dies first at 100× scale. A dim's plan scans the cached keyed
    // rows, so the ranking is in the cache's lineage: the data-pass RDD
    // over the range-sorted rows.
    def ranking(dim: DataFrame): RDD[Row] = {
      val named = dim.queryExecution.optimizedPlan
        .collect { case r: InMemoryRelation => r.cacheBuilder.cachedColumnBuffers }
        .flatMap(lineage).filter(_.name == StarSchema.RankingRdd)
      assert(named.nonEmpty, s"no keyed ranking under ${dim.queryExecution.optimizedPlan}")
      named.last.asInstanceOf[RDD[Row]]
    }
    val keyed = Seq("location_key" -> StarSchema.Location, "soil_key" -> StarSchema.Soil,
      "weather_key" -> StarSchema.Weather)
    def dimsOf(r: Incremental.IncrementalResult) =
      Seq(r.dimLocation.get, r.dimSoil.get, r.dimWeather.get)
    def keysInOrder(dim: DataFrame, key: String) =
      dim.orderBy(dim.columns.filter(_ != key).map(dim(_)): _*).select(key).collect().map(_.getLong(0))
    // every keyed dim of an increment comes from ONE ranking over ONE
    // shuffle (the range shuffle that also does the DISTINCT and the
    // upsert's anti-join); each dim is ranked over several partitions
    def checkRanking(r: Incremental.IncrementalResult): Unit = {
      val rankings = dimsOf(r).map(ranking)
      assert(rankings.map(_.id).distinct.size === 1)
      val shuffles = lineage(rankings.head).filter(_.getClass.getSimpleName == "ShuffledRowRDD")
      assert(shuffles.size === 1, rankings.head.toDebugString)
      val tags = rankings.head.mapPartitions(it => Iterator(it.map(_.getInt(0)).toSet)).collect()
      keyed.foreach { case (key, k) =>
        assert(tags.count(_.contains(k.tag)) > 1,
          s"$key is ranked in one partition: tags per partition ${tags.toList}")
      }
    }
    TestSpark.withConf("spark.sql.shuffle.partitions" -> "12") {
      val first = Incremental.load(rows(1, 500, 0), None, None)
      checkRanking(first)
      // keys are still the exact global rank in natural-key order, gap-free
      dimsOf(first).zip(keyed).foreach { case (dim, (key, _)) =>
        assert(keysInOrder(dim, key) === (1L to 500L).toArray, key)
      }
      // and continuation from the landed dims still holds: rows 1..500
      // come again and are upserted away, 501..1000 continue the keys
      val wh = java.nio.file.Files.createTempDirectory("graft-star-scale").toString
      val names = Seq("location", "time", "soil", "weather")
      names.zip(Seq(first.dimLocation, first.dimTime, first.dimSoil, first.dimWeather))
        .foreach { case (nm, df) => df.get.write.parquet(s"$wh/$nm") }
      val back = names.map(nm => spark.read.parquet(s"$wh/$nm"))
      val next = Incremental.load(rows(1, 1000, 1), first.newFactRows,
        Some((back(0), back(1), back(2), back(3))))
      checkRanking(next)
      dimsOf(next).zip(keyed).foreach { case (dim, (key, _)) =>
        assert(keysInOrder(dim, key) === (1L to 1000L).toArray, key)
      }
      CacheScope.drain()
    }
  }

  /** Increment `inc` (1..3) of a fixture built to stress key assignment:
    * enough distinct soil and weather tuples to span several range
    * partitions, NULL-bearing weather tuples, several coordinate variants
    * of one loc_id (and, from increment 2, new variants of an existing
    * loc_id, which the dim must not insert), `-0.0` next to `0.0`, tuples
    * that repeat across increments, rows with a NULL natural-key field,
    * and two rows at the previous increment's watermark.
    */
  private def keyedFixture(inc: Int): DataFrame = {
    import spark.implicits._
    val base = ts("2025-08-09 00:00:00").getTime
    def at(inc: Int, i: Int) = new Timestamp(base + inc * 86400000L + (i / 2) * 60000L)
    def d(x: Double): java.lang.Double = x
    val n = 240
    val rows = (0 until n).map { i =>
      val loc = i % 6 match {
        case 0 => "loc_0"
        case 5 => if (i % 4 == 1) null else "loc_9"
        case k => s"loc_${k + inc - 1}"
      }
      // loc_0 arrives in two coordinate variants per increment, new ones
      // each increment; loc_4's latitude alternates -0.0 and 0.0
      val lat = loc match {
        case "loc_0" => d(10.0 + (i % 12) / 6 + inc * 0.25)
        case "loc_4" => d(if (i % 12 < 6) -0.0 else 0.0)
        case null => d(0.0)
        case l => d(20.0 + l.stripPrefix("loc_").toInt)
      }
      val s = (i + inc * 7) % (41 + inc * 10)
      val ph = if (i % 53 == 0) null else d(6.0 + s * 0.05)
      val nitrogen = d(if (s % 11 == 0) -0.0 else if (s % 11 == 1) 0.0 else 100.0 + s)
      val w = (i * 3 + inc * 11) % (97 + inc * 20)
      val temp = if (i % 31 == 0) null else d(20.0 + w * 0.5)
      val rain = w % 7 match {
        case 0 => null
        case 1 => d(-0.0)
        case 2 => d(0.0)
        case k => d(k * 0.1)
      }
      val pressure = if (w % 17 == 0) null else d(1000.0 + w % 5)
      val t = if (inc > 1 && i < 2) at(inc - 1, n - 1) else at(inc, i)
      (s"e${inc}_$i", t, loc, lat, d(30.0),
        d(24.0 + i % 9), d(60.0), d(1.5 + i % 4),
        nitrogen, d(50.0 + s % 13), d(40.0 + s % 5), ph,
        temp, d(40.0 + w % 13), d(5.0 + w % 3), d(90.0 * (w % 4)), rain, pressure,
        if (i % 9 == 0) "WARNING" else "VALID")
    }
    rows.toDF(
      "event_id", "timestamp", "loc_id", "latitude", "longitude",
      "temperature", "humidity", "water_level",
      "nitrogen", "phosphorus", "potassium", "ph",
      "weather_temperature_2m", "weather_relative_humidity_2m",
      "weather_wind_speed_10m", "weather_wind_direction_10m",
      "weather_rain", "weather_surface_pressure", "validation_status")
  }

  test("three increments land the parent-pinned dims, surrogate keys and fact rows") {
    import org.apache.spark.sql.functions.{col, count, lit, struct, sum, to_json, xxhash64}
    val wh = java.nio.file.Files.createTempDirectory("graft-star-digest").toString
    // (rows, exact sum of per-row hashes) of a table; every column,
    // surrogate keys included, goes through the row's JSON, so -0.0 and
    // 0.0 hash apart
    def digest(df: DataFrame): (Long, String) = {
      val r = df.select(count(lit(1)),
        sum(xxhash64(to_json(struct(df.columns.map(col): _*))).cast("decimal(38,0)"))).head()
      (r.getLong(0), String.valueOf(r.getDecimal(1)))
    }
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    var fact: Option[DataFrame] = None
    var dims: Option[(DataFrame, DataFrame, DataFrame, DataFrame)] = None
    val got = (1 to 3).map { inc =>
      val res = Incremental.load(keyedFixture(inc), fact, dims)
      val names = Seq("location", "time", "soil", "weather")
      names.zip(Seq(res.dimLocation, res.dimTime, res.dimSoil, res.dimWeather))
        .foreach { case (nm, df) => df.get.write.parquet(s"$wh/dim_$nm/$inc") }
      res.newFactRows.get.write.parquet(s"$wh/fact/inc=$inc")
      CacheScope.drain()
      val back = names.map(nm => spark.read.parquet(s"$wh/dim_$nm/$inc"))
      dims = Some((back(0), back(1), back(2), back(3)))
      fact = Some(spark.read.parquet(s"$wh/fact"))
      (back :+ spark.read.parquet(s"$wh/fact/inc=$inc")).map(digest)
    }
    assert((spark.sparkContext.getPersistentRDDs.keySet -- persisted).isEmpty)
    // computed with the per-dim builders (one max-key read and one
    // zipWithIndex ranking per dim), before the keyed pass replaced them
    val pinned: Seq[Seq[(Long, String)]] = Seq(
      Seq((7L, "3864046083954376577"), (120L, "-40533284249056131528"),
        (51L, "11144628337166280423"), (39L, "-26000976449298585406"),
        (209L, "-6544477151335802554")),
      Seq((8L, "10581829820634736596"), (239L, "-5631635532356342975"),
        (61L, "38595604522962825911"), (136L, "25108491574338212155"),
        (170L, "-95156994696087516890")),
      Seq((9L, "1907543121744624407"), (358L, "167487306963502704949"),
        (71L, "42081919454813105559"), (156L, "42649346008956329514"),
        (170L, "-53665258787241032324")))
    assert(got === pinned)
  }

  /** Loads increment 1 of [[keyedFixture]] and lands it as parquet
    * under `wh`; returns the fact and dims read back, as a periodic job
    * would see them. */
  private def landedIncrement1(wh: String): (DataFrame, (DataFrame, DataFrame, DataFrame, DataFrame)) = {
    val res = Incremental.load(keyedFixture(1), None, None)
    val names = Seq("location", "time", "soil", "weather")
    names.zip(Seq(res.dimLocation, res.dimTime, res.dimSoil, res.dimWeather))
      .foreach { case (nm, df) => df.get.write.parquet(s"$wh/dim_$nm") }
    res.newFactRows.get.write.parquet(s"$wh/fact")
    CacheScope.drain()
    val back = names.map(nm => spark.read.parquet(s"$wh/dim_$nm"))
    (spark.read.parquet(s"$wh/fact"), (back(0), back(1), back(2), back(3)))
  }

  test("an increment with existing dims launches a bounded number of jobs inside load") {
    val (fact, dims) = landedIncrement1(
      java.nio.file.Files.createTempDirectory("graft-star-jobs").toString)
    val readings = keyedFixture(2)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graft.ListenerDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      Incremental.load(readings, Some(fact), Some(dims))
      org.apache.spark.graft.ListenerDrain.drain(sc)
    } finally sc.removeSparkListener(listener)
    CacheScope.drain()
    // one bounds read, the empty probe and one keyed pass: 6 jobs. The
    // per-dim builders this replaced ran 23 here (per dim a max-key read
    // and an eager zipWithIndex count, each with its AQE stages); the
    // margin absorbs AQE planning differences
    assert(jobs.get <= 10, s"${jobs.get} jobs inside Incremental.load")
  }

  test("watermark: epoch on missing fact, MAX(full_date) otherwise") {
    assert(Incremental.watermark(None) === Incremental.Epoch)
    val fact = Incremental.load(batch1, None, None).newFactRows.get
    assert(Incremental.watermark(Some(fact)) === ts("2025-08-09 12:01:00"))
  }

  test("watermark: epoch on an empty or unreadable fact, and the load still runs") {
    val first = Incremental.load(batch1, None, None)
    val dims = (first.dimLocation.get, first.dimTime.get, first.dimSoil.get, first.dimWeather.get)
    assert(Incremental.watermark(Some(first.newFactRows.get.limit(0))) === Incremental.Epoch)
    // a fact whose files go away after the frame was made fails only when
    // read (`s3-to-redshift.py:34-41`: unreadable → epoch)
    val dir = java.nio.file.Files.createTempDirectory("graft-star-gone").toString
    first.newFactRows.get.write.mode("overwrite").parquet(dir)
    val gone = spark.read.parquet(dir)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    assert(Incremental.watermark(Some(gone)) === Incremental.Epoch)
    // the load reads the dims' max keys in the same job as the
    // watermark; an unreadable fact must not cost it those keys
    val batch2 = readings(Seq(
      ("evt_1", "2025-08-09 12:00:00", "loc_1"),
      ("evt_5", "2025-08-09 15:00:00", "loc_5")))
    val res = Incremental.load(batch2, Some(gone), Some(dims))
    assert(res.newReadings.count() === 2) // epoch: nothing is stale
    assert(res.newFactRows.get.count() === 2)
    assert(res.dimLocation.get.orderBy("location_key").collect()
      .map(r => (r.getAs[String]("loc_id"), r.getAs[Long]("location_key"))).toSeq ===
      Seq("loc_1" -> 1L, "loc_2" -> 2L, "loc_5" -> 3L))
    CacheScope.drain()
  }

  test("a dim without rows gives base 0: keys start at 1") {
    val empty = StarSchema.dimSoil(batch1).limit(0)
    assert(StarSchema.dimSoil(batch1, Some(empty)).select("soil_key").collect()
      .map(_.getLong(0)).toSeq === Seq(1L))
    val first = Incremental.load(batch1, None, None)
    val none = (first.dimLocation.get.limit(0), first.dimTime.get.limit(0),
      first.dimSoil.get.limit(0), first.dimWeather.get.limit(0))
    val res = Incremental.load(batch1, None, Some(none))
    assert(res.dimLocation.get.select("location_key").collect().map(_.getLong(0)).sorted ===
      Array(1L, 2L))
    assert(res.dimWeather.get.select("weather_key").collect().map(_.getLong(0)).toSeq === Seq(1L))
    CacheScope.drain()
  }
}
