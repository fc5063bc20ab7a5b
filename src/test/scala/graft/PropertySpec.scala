package graft

import graft.gen.FarmProducer
import graft.rules.{Alerts, Validation}
import graft.schema.FarmSchema
import graft.stream.Throttle
import org.apache.spark.sql.Row
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based coverage (SURVEY §5.2): the validator is total over
  * arbitrary dirty payloads with a coherent status partition, and the
  * throttle state machine never double-fires inside its suppression
  * window. Properties run over seeded ScalaCheck generator samples
  * (scalatestplus' forAll bridge is not on the offline resolver;
  * Spark-side cases are batched into one job either way — per-case
  * Spark jobs would be 100× slower for no extra coverage).
  */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // ── generators for dirty sensor payloads ───────────────────────────
  private val dirtyToken: Gen[String] = Gen.oneOf(
    Gen.choose(-10000.0, 10000.0).map(d => f"$d%.2f"),
    Gen.oneOf("0", "9999", "-9999", "-0", "1e3"),
    Gen.oneOf("\"0\"", "\"9999\"", "\"-9999\"", "\"NaN\"", "\"NULL\"", "\"null\"",
      "\"FAIL\"", "\"25.5\"", "\"0.0\"", "\" 25\"", "null"),
    // JSON booleans: unquoted ones are Python ints (False == 0), quoted
    // ones are uncoercible strings
    Gen.oneOf("true", "false", "\"true\"", "\"false\""),
    Gen.choose(0, 60).map(_.toString))

  private val dirtySensors: Gen[Seq[(String, String)]] =
    Gen.sequence[Seq[(String, String)], (String, String)](
      FarmFixtures.defaultSensors.map { case (k, _) =>
        Gen.frequency(9 -> dirtyToken, 1 -> Gen.const("null")).map(k -> _)
      })

  /** Dirty sensors with a random subset of the keys dropped. */
  private val partialSensors: Gen[Seq[(String, String)]] = for {
    sensors <- dirtySensors
    keep <- Gen.listOfN(sensors.size, Gen.oneOf(true, false))
  } yield sensors.zip(keep).collect { case (kv, true) => kv }

  private val dirtyObject: Gen[String] = for {
    loc <- Gen.oneOf(Some("loc_1"), Some("loc_2"), Some("loc_3"),
      Some("loc_9"), Some(""), None)
    sensors <- Gen.frequency(3 -> dirtySensors, 1 -> partialSensors,
      1 -> Gen.const(Seq.empty[(String, String)]))
    weather <- Gen.oneOf(Some("31.0"), Some("-5.0"), None)
    weatherNull <- Gen.frequency(5 -> false, 1 -> true)
  } yield {
    val rec = FarmFixtures.record(locId = loc, sensors = sensors, weatherTemp = weather)
    // `"weather_data": null` is present-but-null, unlike a dropped key
    if (weatherNull && weather.isEmpty) rec.dropRight(1) + """, "weather_data": null}"""
    else rec
  }

  private val dirtyRecord: Gen[String] = Gen.frequency(
    19 -> dirtyObject,
    1 -> Gen.oneOf("[1,2]", "42", "{"))

  private def sample(n: Int, gen: Gen[String]): Seq[String] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(42L + i)))

  test("validator is total: status partitions coherently over 200 dirty records") {
    import spark.implicits._
    val raws = sample(200, dirtyRecord)
    val rows: Array[Row] =
      Validation.annotate(FarmSchema.parse(raws.toDF("raw"), "raw"))
        .select("validation_status", "validation_errors", "validation_warnings")
        .collect()
    assert(rows.length === 200)
    rows.foreach { r =>
      val (status, errs, warns) =
        (r.getString(0), r.getSeq[String](1), r.getSeq[String](2))
      assert(Set("VALID", "WARNING", "INVALID").contains(status))
      assert((status == "INVALID") === errs.nonEmpty)
      assert((status == "WARNING") === (errs.isEmpty && warns.nonEmpty))
      assert((status == "VALID") === (errs.isEmpty && warns.isEmpty))
    }
  }

  test("validator + alerts digest is pinned over dirty and producer records") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit, struct, sum, to_json, xxhash64}
    // order-independent: each row hashes its own raw payload together
    // with everything the record path derives from it, and the hashes
    // are summed exactly. The expected value was computed with the
    // validator's earlier single-projection form, so any rewrite must
    // reproduce it byte for byte.
    val producer = FarmProducer.records(spark, 5000, seed = 1L)
      .collect().map(_.getString(0)).toSeq
    val raws = sample(2000, dirtyRecord) ++ producer
    val out = Alerts.derive(
      Validation.annotate(FarmSchema.parse(raws.toDF("raw"), "raw")))
    val derived = Seq("validation_status", "validation_errors", "validation_warnings") ++
      FarmSchema.sensorFields.map(s => s"sensor_$s") :+ "alerts"
    val row = out.select(
        sum(xxhash64(col("raw"), to_json(struct(derived.map(col): _*)))
          .cast("decimal(38,0)")),
        count(lit(1)))
      .head()
    assert(row.getLong(1) === 7000L)
    assert(row.getDecimal(0).toString === "1401786317237140745753")
  }

  test("flatten output has no nested types and stable underscore names") {
    import spark.implicits._
    val df = FarmSchema.parse(sample(50, dirtyRecord).toDF("raw"), "raw")
    val flat = FarmSchema.flatten(df.drop("raw"))
    flat.schema.fields.foreach { f =>
      assert(!f.dataType.typeName.matches("struct|map|array"),
        s"${f.name} is still nested: ${f.dataType}")
    }
    assert(flat.columns.contains("location_latitude"))
    FarmSchema.sensorFields.foreach(s =>
      assert(flat.columns.contains(s"sensor_data_$s")))
  }

  test("throttle never fires twice within the interval for non-CRITICAL") {
    val stepsGen = Gen.listOfN(30, for {
      dt <- Gen.choose(0L, 8 * 60 * 1000L)
      prio <- Gen.oneOf("HIGH", "MEDIUM", "LOW")
    } yield (dt, prio))
    (0 until 200).foreach { i =>
      val steps = stepsGen.apply(Gen.Parameters.default, Seed(1000L + i)).get
      var st = Throttle.ThrottleState(-1L, 0)
      var now = 0L
      var lastFire = Long.MinValue
      steps.foreach { case (dt, prio) =>
        now += dt
        val (next, fired) = Throttle.step(st, prio, now)
        if (fired) {
          assert(now - lastFire >= Throttle.AlertIntervalMs || lastFire == Long.MinValue)
          lastFire = now
        }
        st = next
      }
    }
  }

  test("selfPairs ≡ plain self-join over random bucketed relations") {
    import spark.implicits._
    // random relations with adversarial bucket distributions (uniform,
    // 90%-hot, all-hot) × random thresholds/salts — the salted banding
    // join must be pair-set-identical to the naive self-join on all
    val relGen = for {
      n <- Gen.choose(20, 120)
      skew <- Gen.oneOf(0, 1, 2) // 0 uniform, 1 hot-heavy, 2 single bucket
      rows <- Gen.listOfN(n, for {
        id <- Gen.choose(0L, 200L)
        b <- skew match {
          case 0 => Gen.choose(0, 10)
          case 1 => Gen.frequency(9 -> Gen.const(0), 1 -> Gen.choose(1, 5))
          case 2 => Gen.const(0)
        }
      } yield (id, b))
    } yield rows.distinct
    (0 until 6).foreach { i =>
      val rows = relGen.apply(Gen.Parameters.default, Seed(3000L + i)).get
      val rel = rows.toDF("doc_id", "bv")
      val plain = rel.as("a").join(rel.as("b"),
          org.apache.spark.sql.functions.col("a.bv") ===
            org.apache.spark.sql.functions.col("b.bv") &&
            org.apache.spark.sql.functions.col("a.doc_id") <
            org.apache.spark.sql.functions.col("b.doc_id"))
        .select("a.doc_id", "b.doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val threshold = 1 + (i % 3) * 7
      val salted = graft.ext.Skew.selfPairs(rel, "doc_id", Seq("bv"),
          hotThreshold = threshold, salts = 2 + i % 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(salted === plain, s"case $i (threshold=$threshold)")
    }
  }

  test("text_stats ≡ split/regexp/HOF chain over random unicode strings") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr, when}
    // alphabet biased toward the kernel's branch points: spaces
    // (token boundaries, incl. leading/trailing/consecutive), stop
    // words and their prefixes/extensions, alnum vs punct codepoints,
    // multi-byte BMP chars, and supplementary-plane emoji (1 codepoint,
    // 2 UTF-16 units — the codepoint-vs-unit trap)
    val tokenGen: Gen[String] = Gen.oneOf(
      Gen.oneOf("the", "a", "of", "to", "and", "is", "的", "是"),
      Gen.oneOf("th", "thee", "ofof", "And", "IS", ""),
      Gen.listOfN(3, Gen.alphaNumChar).map(_.mkString.toLowerCase),
      Gen.oneOf("a.b", "x,y", "€42", "naïve", "日本語", "a😀b", "!!!", "[t]"))
    val textGen: Gen[String] = for {
      n <- Gen.choose(0, 12)
      toks <- Gen.listOfN(n, tokenGen)
      lead <- Gen.oneOf("", " ")
      trail <- Gen.oneOf("", " ", "  ")
    } yield lead + toks.mkString(" ") + trail
    val texts = (0 until 300).flatMap(i =>
      textGen.apply(Gen.Parameters.default, Seed(7000L + i)))
    val quoted = "'the','a','of','to','and','is','的','是'"
    graft.functions.VectorExpressions.register(spark)
    val mism = texts.toDF("text").select(
      expr("text_stats(text, 'the,a,of,to,and,is,的,是')").as("k"),
      when(col("text").isNotNull,
        expr("array(cast(size(split(text, ' ')) as bigint), " +
          "cast(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '')) as bigint), " +
          s"cast(size(filter(split(text, ' '), t -> t IN ($quoted))) as bigint))")).as("r"))
      .filter(col("k") =!= col("r") || col("k").isNull =!= col("r").isNull)
    assert(mism.count() === 0)
  }

  test("CRITICAL always fires regardless of state") {
    val gen = for {
      lastSent <- Gen.choose(-1L, Long.MaxValue / 2)
      consec <- Gen.choose(0, 10)
    } yield (lastSent, consec)
    (0 until 200).foreach { i =>
      val (lastSent, consec) = gen.apply(Gen.Parameters.default, Seed(2000L + i)).get
      val (_, fired) = Throttle.step(
        Throttle.ThrottleState(lastSent, consec), "CRITICAL",
        math.max(lastSent, 0L) + 1)
      assert(fired)
    }
  }
}
