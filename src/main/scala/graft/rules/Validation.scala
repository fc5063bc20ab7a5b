package graft.rules

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.schema.FarmSchema

/** The reference's per-record validator (`Lambda/lamda.py:60-150`,
  * SURVEY.md §2.2 P1–P8) compiled to native column expressions — no UDF.
  *
  * Plan shape: [[annotate]] is a chain of projections, so each raw-text
  * fact is computed once per record. Stage 1 parses the top-level key
  * set and, per sensor, probes quotedness and reads the map value;
  * stage 2 coerces each value, stage 3 flags sentinels, stage 4 builds
  * errors, warnings and the coerced columns, and the last select derives
  * the status and drops the internal `_v*` columns. The stages survive
  * optimization because `CollapseProject` does not inline a non-cheap
  * producer that is referenced more than once. The error/warning
  * compaction (`filter` over an `array`) is a `CodegenFallback`, so
  * stage 4 runs outside whole-stage codegen, but it only reads
  * precomputed columns.
  * In one projection Catalyst would inline every fact at each use, and
  * subexpression elimination does not reach into that compaction: ~500
  * regex scans and ~20 JSON key parses per record.
  *
  * Faithfulness notes (order matters — the error/warning arrays are
  * compared element-for-element in tests):
  *  - missing/invalid loc_id short-circuits to INVALID with only that
  *    error (lamda.py:70-77).
  *  - required-key errors accumulate before the sensor_data empty check
  *    (lamda.py:82-91).
  *  - a None/absent sensor value hits the sentinel list (None ∈
  *    extreme_values, lamda.py:98) so `<s>_missing` is unreachable in
  *    the reference; we replicate the reachable behavior.
  *  - sentinel matching is value-based for numbers (0 == 0.0 in Python)
  *    and literal for 'null'/'NULL'/'NaN' strings.
  *  - the temperature/weather cross-check reuses the reference's
  *    Python-format message via the raw JSON tokens.
  *  - DIVERGENCE (documented): when the sensor temperature is
  *    non-numeric after coercion the reference *crashes* into its
  *    errors/processing route (abs(str - float) TypeError); we skip the
  *    cross-check instead — those records are already INVALID.
  */
object Validation {

  val StringSentinels: Seq[String] = Seq("null", "NULL", "NaN")
  val NumericSentinels: Seq[Double] = Seq(0.0, 9999.0, -9999.0)

  /** All validation columns, derived from the parsed wire columns
    * produced by [[FarmSchema.parse]] (expects `raw`, `loc_id`,
    * `sensor_data`, `weather_data` columns).
    *
    * Adds: validation_status, validation_errors, validation_warnings,
    * and one coerced DOUBLE column `sensor_<name>` per sensor (null when
    * sentinel or uncoercible — mirrors the reference mutating only
    * successfully converted values).
    */
  def annotate(df: DataFrame, rawCol: String = "raw"): DataFrame = {
    val raw = col(rawCol)
    val locId = col("loc_id")
    val sensors = Ranges.sensors

    // internal per-stage columns, dropped by the final select; each
    // stage is its own projection over the previous one
    def stage(d: DataFrame, cols: Seq[Column]): DataFrame = d.select(col("*") +: cols: _*)
    val keys = col("_vkeys")
    def quoted(s: String): Column = col(s"_vquoted_$s")
    def rawVal(s: String): Column = col(s"_vraw_$s")
    def castVal(s: String): Column = col(s"_vcast_$s")
    def isSentinel(s: String): Column = col(s"_vsentinel_$s")

    // Stage 1: the raw-text facts — one key-set parse per record, one
    // quotedness probe and one map lookup per sensor
    val facts = stage(df,
      FarmSchema.topLevelKeys(raw).as("_vkeys") +:
        sensors.flatMap(s => Seq(
          FarmSchema.wasQuoted(raw, s).as(s"_vquoted_$s"),
          element_at(col("sensor_data"), s).as(s"_vraw_$s"))))

    // Stage 2: unquoted JSON booleans coerce to 1/0 BEFORE try_cast:
    // Python's bool is an int subtype, so the reference's `val in [0,
    // ...]` sentinel check and range arithmetic treat False as 0 and
    // True as 1 (lamda.py:98 onward); a double cast of the token text
    // would instead null them into invalid_type. Quoted "true"/"false"
    // strings stay uncoercible — the reference's float("true") raises.
    val coerced = stage(facts, sensors.map { s =>
      when(!quoted(s) && rawVal(s) === "true", lit(1.0))
        .when(!quoted(s) && rawVal(s) === "false", lit(0.0))
        .otherwise(rawVal(s).try_cast("double"))
        .as(s"_vcast_$s")
    })

    // Stage 3: sentinel matching replicates Python `val in [0, 9999,
    // -9999, '0', '9999', '-9999', 'null', 'NULL', 'NaN', None]`
    // (lamda.py:98): numeric JSON tokens compare by value (0.0 == 0 in
    // Python), quoted strings compare by *exact text* — a quoted "0.0"
    // is NOT a sentinel there (it would be type-converted then
    // range-checked), so the numeric-value branch is gated on the token
    // being unquoted.
    val sentinels = stage(coerced, sensors.map { s =>
      (rawVal(s).isNull ||
        rawVal(s).isin(StringSentinels: _*) ||
        when(quoted(s), rawVal(s).isin("0", "9999", "-9999"))
          .otherwise(coalesce(castVal(s).isin(NumericSentinels: _*), lit(false))))
        .as(s"_vsentinel_$s")
    })

    // Stage 4: errors, warnings and coerced columns from the facts only

    // P2: loc_id domain (falsy in Python = null or empty string)
    val locMissing = locId.isNull || locId === ""
    val locInvalid = !locId.isin(Ranges.locations: _*)

    // P1: required top-level keys (JSON-text presence, see FarmSchema)
    val requiredKeyErrors: Seq[Column] = FarmSchema.requiredKeys.map { k =>
      when(!FarmSchema.keyPresent(keys, k), lit(s"missing_top_level_key:$k"))
    }

    // P3: empty sensor_data
    val sensorEmpty = col("sensor_data").isNull || size(map_keys(col("sensor_data"))) === 0

    // Per-sensor range checks (P4–P6)
    def inRange(v: Column, lo: Column, hi: Column): Column = v >= lo && v <= hi
    def locConst(f: Ranges.Range => Double, s: String): Column =
      Ranges.locations.foldLeft(lit(null).cast("double")) { (acc, loc) =>
        when(locId === loc, lit(f(Ranges.perLocation(loc)(s)))).otherwise(acc)
      }

    val sensorErrors: Seq[Column] = sensors.map { s =>
      val v = castVal(s)
      val lo = locConst(_.min, s)
      val hi = locConst(_.max, s)
      val buf = locConst(_.buffer, s)
      when(isSentinel(s), lit(s"sensor_data:${s}_extreme_value"))
        .when(v.isNull, lit(s"sensor_data:${s}_invalid_type"))
        .when(!inRange(v, lo, hi) && !inRange(v, lo - buf, hi + buf),
          lit(s"sensor_data:${s}_out_of_range"))
    }

    val sensorWarnings: Seq[Column] = sensors.flatMap { s =>
      val v = castVal(s)
      val lo = locConst(_.min, s)
      val hi = locConst(_.max, s)
      val buf = locConst(_.buffer, s)
      val usable = !isSentinel(s) && v.isNotNull
      Seq(
        when(usable && quoted(s),
          lit(s"sensor_data:${s}_type_converted")),
        when(usable && !inRange(v, lo, hi) && inRange(v, lo - buf, hi + buf),
          lit(s"sensor_data:${s}_near_threshold")))
    }

    // P7: sensor-vs-weather temperature cross-check (lamda.py:129-137)
    val sensorTemp = castVal("temperature")
    val weatherTemp = col("weather_data.temperature_2m")
    val tempUsable = !isSentinel("temperature") && sensorTemp.isNotNull
    val mismatch = when(
      map_contains_key(col("sensor_data"), "temperature") && tempUsable &&
        FarmSchema.keyPresent(keys, "weather_data") && weatherTemp.isNotNull &&
        abs(sensorTemp - weatherTemp) > 15,
      concat(
        lit("temperature_mismatch:"),
        FarmSchema.rawToken(raw, "temperature"),
        lit("vs"),
        FarmSchema.rawToken(raw, "temperature_2m")))

    def compact(cols: Seq[Column]): Column =
      filter(array(cols: _*), x => x.isNotNull)

    val errors =
      when(locMissing, array(lit("missing_loc_id")))
        .when(locInvalid, array(concat(lit("invalid_loc_id:"), locId)))
        .when(sensorEmpty,
          compact(requiredKeyErrors :+ lit("missing_sensor_data")))
        .otherwise(compact(requiredKeyErrors ++ sensorErrors))

    val warnings =
      when(locMissing || locInvalid || sensorEmpty, array().cast("array<string>"))
        .otherwise(compact(sensorWarnings :+ mismatch))

    val checked = stage(sentinels,
      Seq(errors.as("validation_errors"), warnings.as("validation_warnings")) ++
        sensors.map(s => when(!isSentinel(s), castVal(s)).as(s"sensor_$s")))

    // P8: status derivation (lamda.py:139-150)
    val status =
      when(size(col("validation_errors")) > 0, "INVALID")
        .when(size(col("validation_warnings")) > 0, "WARNING")
        .otherwise("VALID")

    checked.select(
      (df.columns.map(col).toSeq :+
        col("validation_errors") :+
        col("validation_warnings") :+
        status.as("validation_status")) ++
        sensors.map(s => col(s"sensor_$s")): _*)
  }
}
