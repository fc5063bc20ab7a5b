package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import graft.rules.Validation
import graft.schema.FarmSchema
import graft.stream.IngestStream

/** Validator semantics P1–P8 against the reference's fault taxonomy
  * (`Lambda/lamda.py:60-150`; cases from FIXTURES.md §A). Each case is
  * one raw wire record; expectations are exact (status, errors,
  * warnings) triples including array order.
  */
class ValidationSpec extends AnyFunSuite {
  import FarmFixtures._

  private def annotate(raws: String*): Seq[Row] = {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = raws.toDF("raw")
    Validation.annotate(FarmSchema.parse(df, "raw"))
      .select("validation_status", "validation_errors", "validation_warnings")
      .collect().toSeq
  }

  private def triple(r: Row): (String, List[String], List[String]) =
    (r.getString(0), r.getSeq[String](1).toList, r.getSeq[String](2).toList)

  test("healthy record is VALID with no errors or warnings") {
    assert(triple(annotate(record()).head) === (("VALID", Nil, Nil)))
  }

  test("missing loc_id short-circuits to INVALID (lamda.py:70-73)") {
    assert(triple(annotate(record(locId = None)).head) ===
      (("INVALID", List("missing_loc_id"), Nil)))
  }

  test("unknown loc_id short-circuits to INVALID (lamda.py:75-77)") {
    assert(triple(annotate(record(locId = Some("loc_9"))).head) ===
      (("INVALID", List("invalid_loc_id:loc_9"), Nil)))
  }

  test("missing weather_data key → missing_top_level_key (lamda.py:82-85)") {
    assert(triple(annotate(record(weatherTemp = None)).head) ===
      (("INVALID", List("missing_top_level_key:weather_data"), Nil)))
  }

  test("empty sensor_data → missing_sensor_data, INVALID (lamda.py:88-91)") {
    assert(triple(annotate(record(sensors = Nil)).head) ===
      (("INVALID", List("missing_sensor_data"), Nil)))
  }

  test("JSON booleans: false is the 0-sentinel, true is range-checked (Python bool ⊂ int)") {
    // Python: False == 0 → `val in [0, ...]` is True → extreme_value;
    // True == 1 → type-converts to 1 and range-checks (out of range for
    // every loc_1 sensor band)
    val f = triple(annotate(record(sensors = withSensor("temperature", "false"))).head)
    assert(f._1 === "INVALID")
    assert(f._2 === List("sensor_data:temperature_extreme_value"))
    val t = triple(annotate(record(sensors = withSensor("temperature", "true"))).head)
    assert(t._1 === "INVALID")
    assert(t._2 === List("sensor_data:temperature_out_of_range"))
    // quoted "false" is a plain uncoercible string, as in the reference
    val q = triple(annotate(record(sensors = withSensor("temperature", "\"false\""))).head)
    assert(q._2 === List("sensor_data:temperature_invalid_type"))
  }

  test("required-key presence is top-level only: nested key does not mask the error") {
    // 'timestamp' appears only INSIDE sensor_data — the reference's
    // `if key not in data` (lamda.py:84) still flags the top level
    val raw = """{"event_id": "e1", "loc_id": "loc_1",
      | "location": {"latitude": 23.4, "longitude": 30.6},
      | "sensor_data": {"timestamp": 123, "temperature": 24.1},
      | "weather_data": {"temperature_2m": 31.0}}""".stripMargin.replace("\n", "")
    val r = triple(annotate(raw).head)
    assert(r._2.contains("missing_top_level_key:timestamp"), r._2)
  }

  test("every sentinel form → <s>_extreme_value in sensor order (lamda.py:98-101)") {
    val sentinels = Seq(
      "temperature" -> "0", "humidity" -> "9999", "water_level" -> "-9999",
      "nitrogen" -> "\"-9999\"", "phosphorus" -> "\"NULL\"",
      "potassium" -> "null", "ph" -> "\"NaN\"")
    assert(triple(annotate(record(sensors = sentinels)).head) === ((
      "INVALID",
      List("temperature", "humidity", "water_level", "nitrogen",
        "phosphorus", "potassium", "ph")
        .map(s => s"sensor_data:${s}_extreme_value"),
      Nil)))
  }

  test("numeric 0.0 token is a sentinel (Python 0.0 == 0)") {
    assert(triple(annotate(record(sensors = withSensor("humidity", "0.0"))).head) ===
      (("INVALID", List("sensor_data:humidity_extreme_value"), Nil)))
  }

  test("quoted \"0.0\" is NOT a sentinel — coerced then range-checked (lamda.py:98,109-126)") {
    // '0.0' not in the extreme list (exact string match), float('0.0')
    // succeeds → type_converted warning, 0.0 out of loc_1 temperature
    // range [10,50] and beyond its buffer [6,54] → out_of_range error.
    // The coerced value is written back (lamda.py:112), so the cross-field
    // check then compares 0.0 vs the fixture's weather 31.0 → mismatch.
    assert(triple(annotate(record(sensors = withSensor("temperature", "\"0.0\""))).head) === ((
      "INVALID",
      List("sensor_data:temperature_out_of_range"),
      List("sensor_data:temperature_type_converted",
        "temperature_mismatch:0.0vs31.0"))))
  }

  test("quoted numeric string coerces with type_converted warning (lamda.py:109-114)") {
    assert(triple(annotate(record(sensors = withSensor("temperature", "\"25.5\""))).head) ===
      (("WARNING", Nil, List("sensor_data:temperature_type_converted"))))
  }

  test("uncoercible string → invalid_type error (lamda.py:115-117)") {
    assert(triple(annotate(record(sensors = withSensor("temperature", "\"FAIL\""))).head) ===
      (("INVALID", List("sensor_data:temperature_invalid_type"), Nil)))
  }

  test("out-of-range beyond 10% buffer → out_of_range error (lamda.py:120-126)") {
    // 65 > 50 max and > 54 buffered max at loc_1; weather 55 keeps the
    // mismatch check quiet (|65-55| < 15).
    assert(triple(annotate(record(
      sensors = withSensor("temperature", "65.0"),
      weatherTemp = Some("55.0"))).head) ===
      (("INVALID", List("sensor_data:temperature_out_of_range"), Nil)))
  }

  test("inside the 10% buffer → near_threshold warning (lamda.py:121-124)") {
    // 52 ∈ (50, 54]; weather 45 keeps |52-45| < 15.
    assert(triple(annotate(record(
      sensors = withSensor("temperature", "52.0"),
      weatherTemp = Some("45.0"))).head) ===
      (("WARNING", Nil, List("sensor_data:temperature_near_threshold"))))
  }

  test("sensor vs weather temperature mismatch warning with raw tokens (lamda.py:129-137)") {
    assert(triple(annotate(record(
      sensors = withSensor("temperature", "20.0"),
      weatherTemp = Some("40.0"))).head) ===
      (("WARNING", Nil, List("temperature_mismatch:20.0vs40.0"))))
  }

  test("per-location ranges differ: 53 is near_threshold at loc_1, VALID at loc_2") {
    val Seq(a, b) = annotate(
      record(sensors = withSensor("temperature", "53.0"), weatherTemp = Some("45.0")),
      record(locId = Some("loc_2"), sensors = withSensor("temperature", "53.0"),
        weatherTemp = Some("45.0")))
    assert(triple(a) === (("WARNING", Nil, List("sensor_data:temperature_near_threshold"))))
    assert(triple(b) === (("VALID", Nil, Nil)))
  }

  test("validator is total over dirty tokens: status always partitions") {
    val tokens = Seq("0", "9999", "-9999", "\"NULL\"", "\"NaN\"", "\"FAIL\"",
      "null", "\"25.5\"", "24.0", "1e3", "-1.5", "\"\"", "\"x y\"", "3")
    val rnd = new scala.util.Random(42)
    val raws = (1 to 60).map { i =>
      record(
        locId = Some(Seq("loc_1", "loc_2", "loc_3", "loc_9")(rnd.nextInt(4))),
        sensors = defaultSensors.map { case (k, _) =>
          k -> tokens(rnd.nextInt(tokens.length)) },
        eventId = f"evt_$i%012d")
    }
    val rows = annotate(raws: _*)
    assert(rows.size === 60)
    assert(rows.forall(r => Set("VALID", "WARNING", "INVALID")(r.getString(0))))
  }

  test("staged plan: one key-set parse, one quotedness probe per sensor, no _v* leak") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.{Expression, JsonObjectKeys, RLike}
    import org.apache.spark.sql.catalyst.expressions.json.JsonExpressionUtils
    import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    // an RDD source, not a local Seq: the optimizer folds a projection
    // over a local relation into constants, which would leave no plan
    val raw = spark.sparkContext.parallelize(Seq(record())).toDF("raw")
    // every expression node of every plan node, counted with repeats:
    // an inlined producer shows up once per use
    val exprs: Seq[Expression] = IngestStream.process(raw).queryExecution.optimizedPlan
      .collect { case p => p.expressions }.flatten.flatMap(_.collect { case e => e })
    val rlikes = exprs.count(_.isInstanceOf[RLike])
    val keyParses = exprs.count {
      case _: JsonObjectKeys => true
      case s: StaticInvoke =>
        s.staticObject == classOf[JsonExpressionUtils] && s.functionName == "jsonObjectKeys"
      case _ => false
    }
    assert(rlikes === FarmSchema.sensorFields.size, "one wasQuoted probe per sensor")
    assert(keyParses === 1, "one json_object_keys parse per record")

    val parsed = FarmSchema.parse(raw, "raw")
    val cols = Validation.annotate(parsed).columns.toSeq
    assert(cols === parsed.columns.toSeq ++
      Seq("validation_errors", "validation_warnings", "validation_status") ++
      FarmSchema.sensorFields.map(s => s"sensor_$s"), "no internal _v* column leaks out")
  }
}
