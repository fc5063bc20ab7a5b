package graft.schema

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Wire schema of the farm IoT event (SURVEY.md §1.2; record assembly at
  * `Producer /producer.py:355-362`) and the schema-driven flatten that
  * replaces the reference's per-record `flatten_record`
  * (`Lambda/lamda.py:333-348`).
  *
  * Dirty-data stance (SURVEY §1.2): `sensor_data` values may arrive as
  * numbers, numeric strings, sentinel strings ('NULL', 'NaN', 'FAIL') or
  * be absent, so they are parsed as MAP<STRING,STRING> and coerced later
  * with try_cast — a DOUBLE schema would silently null exactly the
  * sentinels the validator must see.
  */
object FarmSchema {

  /** Sensor names in the reference's dict-insertion order (the producer
    * assembles sensor_data in this order, `Producer /producer.py:50-58`,
    * and the Lambda iterates it, `Lambda/lamda.py:94`) — error/warning
    * arrays and flattened column order are both order-sensitive.
    */
  val sensorFields: Seq[String] = Seq(
    "temperature", "humidity", "water_level",
    "nitrogen", "phosphorus", "potassium", "ph")

  val weatherFields: Seq[String] = Seq(
    "temperature_2m", "relative_humidity_2m", "is_day", "wind_speed_10m",
    "wind_direction_10m", "wind_gusts_10m", "rain", "precipitation",
    "surface_pressure", "apparent_temperature")

  /** Ingest schema for `from_json` over the raw payload. */
  val wire: StructType = StructType(Seq(
    StructField("event_id", StringType),
    StructField("timestamp", StringType),
    StructField("loc_id", StringType),
    StructField("location", StructType(Seq(
      StructField("latitude", DoubleType),
      StructField("longitude", DoubleType)))),
    StructField("sensor_data", MapType(StringType, StringType)),
    StructField("weather_data",
      StructType(weatherFields.map(StructField(_, DoubleType))))))

  /** Top-level keys the validator requires (lamda.py:82). */
  val requiredKeys: Seq[String] =
    Seq("event_id", "timestamp", "sensor_data", "weather_data", "location")

  /** Top-level keys of the raw payload, for key-presence tests. Needed
    * because `from_json` cannot distinguish an absent key from an
    * explicit null value, but the reference's missing_top_level_key
    * error can (lamda.py:84: `if key not in data`). Uses
    * `json_object_keys` — exact top-level semantics; a regex text probe
    * would also match the key name nested inside another object.
    *
    * Each use is a full parse of the record, and repeated uses are not
    * shared: subexpression elimination does not look inside CASE
    * branches or an interpreted (`CodegenFallback`) expression such as
    * `filter` over an `array`, which is where the validator's checks
    * sit. Project it once into a column and test that column with
    * [[keyPresent]]; `CollapseProject` does not inline a non-cheap
    * producer that is referenced more than once, so the single parse
    * survives optimization.
    */
  def topLevelKeys(raw: Column): Column = json_object_keys(raw)

  /** Key-presence test over a [[topLevelKeys]] column. */
  def keyPresent(keys: Column, key: String): Column = array_contains(keys, key)

  /** True when the sensor value arrived as a *quoted* JSON string — the
    * condition for the reference's type-converted warning
    * (lamda.py:109-114: `not isinstance(val, (int, float))`). The parsed
    * MAP<STRING,STRING> loses quotedness, so test the raw text. A regex
    * scan of the whole record: project it once per sensor, as
    * [[topLevelKeys]].
    */
  def wasQuoted(raw: Column, sensor: String): Column =
    raw.rlike("\"" + sensor + "\"\\s*:\\s*\"")

  /** Raw JSON token text of a field, as the reference's f-strings would
    * render the parsed value (ints stay ints). Used for the
    * temperature_mismatch message (lamda.py:137). Matches the FIRST
    * occurrence of `"field":` anywhere in the document — safe because
    * the wire contract's field names are globally unique (sensor names
    * vs `*_2m` weather names); anchoring to a path would need a real
    * parse, which would lose the raw token text.
    */
  def rawToken(raw: Column, field: String): Column = {
    // match `"field": <token>` with optional quotes, token = up to , } "
    regexp_extract(raw, "\"" + field + "\"\\s*:\\s*\"?([^,\"}\\]]+)", 1)
  }

  /** Parse the raw payload column into the wire columns plus an
    * internal `_corrupt` column (PERMISSIVE corrupt-record capture:
    * non-null exactly when the payload is not a parseable record
    * object — the caller routes those to the error sinks, the
    * reference's except branches, lamda.py:488-530). Carrying the
    * corrupt signal out of the ONE parse keeps the hot path at a
    * single Jackson pass per record; underscore-prefixed columns are
    * internal and never reach the lake ([[flatten]] skips them).
    */
  def parse(df: DataFrame, rawCol: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val schema = wire.add("_corrupt", StringType)
    val parsed = from_json(col(rawCol), schema,
      Map("columnNameOfCorruptRecord" -> "_corrupt").asJava)
    // ALL input columns pass through (not just rawCol): ingress stages
    // attach provenance like ingest_payload (the base64 wire original)
    // that the error sinks downstream need. Input columns must not
    // collide with wire field names.
    df.withColumn("_parsed", parsed)
      .select(df.columns.toSeq.map(c => col(s"`$c`")) ++
        (wire.fieldNames.toSeq :+ "_corrupt").map(f => col(s"_parsed.`$f`")): _*)
  }

  /** Map-typed fields whose key domain is fixed by the wire contract —
    * flatten expands these into one column per key, like the
    * reference's dict recursion does (`flatten_record` recurses into
    * *any* dict, `Lambda/lamda.py:337-339`; the only map-typed field is
    * sensor_data and its keys are the producer's sensor names).
    */
  val knownMapKeys: Map[String, Seq[String]] = Map("sensor_data" -> sensorFields)

  /** Schema-recursive flatten with `_` separator: structs recurse, maps
    * with a known key domain expand per key, arrays serialize to JSON
    * strings, scalars pass through — `flatten_record`'s semantics
    * (lamda.py:333-348) but compiled from the schema once instead of
    * per record. A map key absent in a record flattens to NULL (the
    * reference simply omits the column for that record; landing as a
    * uniform schema with NULLs is the columnar equivalent). Maps with
    * an open key domain fall back to a JSON string. Top-level
    * underscore-prefixed columns (internal bookkeeping like `_corrupt`)
    * are excluded from the flattened record.
    */
  def flattenColumns(schema: StructType, path: String = "", prefix: String = ""): Seq[Column] =
    schema.fields.toSeq.filterNot(f => path.isEmpty && f.name.startsWith("_")).flatMap { f =>
      val p = if (path.isEmpty) s"`${f.name}`" else s"$path.`${f.name}`"
      val name = if (prefix.isEmpty) f.name else s"${prefix}_${f.name}"
      f.dataType match {
        case s: StructType => flattenColumns(s, p, name)
        case _: ArrayType => Seq(to_json(col(p)).as(name))
        case _: MapType if knownMapKeys.contains(f.name) =>
          knownMapKeys(f.name).map(k => element_at(col(p), k).as(s"${name}_$k"))
        case _: MapType => Seq(to_json(col(p)).as(name))
        case _ => Seq(col(p).as(name))
      }
    }

  def flatten(df: DataFrame): DataFrame =
    df.select(flattenColumns(df.schema): _*)
}
