package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered engine capability: a Spark query over the test tables
  * plus (when SQL-expressible) an equivalent DuckDB oracle query the
  * driver hash-compares against (see SparkEntry).
  *
  * Column names/types must line up between `fn`'s result and `oracle` —
  * the driver sorts columns by name and hashes values, so every computed
  * column is aliased identically on both sides, and doubles that
  * accumulate differently across engines (sums/avgs) are rounded on both
  * sides to make the comparison exact.
  *
  * Cache contract: some builders `persist()` a multi-consumer
  * intermediate (a shingle/signature/profile relation feeding several
  * branches of one plan). The returned DataFrame is lazy, so the builder
  * cannot unpersist without recomputing the shared stage — lifetime
  * management belongs to the runner. Builders register such caches with
  * [[CacheScope]], and the registry runners (Verify, Bench, Scale) call
  * `CacheScope.drain()` after each query's action; a library caller
  * embedding a single query should do the same. `clearCache()` is not
  * enough: a `CacheScope.checkpointed` block lives outside the
  * CacheManager, so only the drain releases it.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, sql: String)(
      fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(sql))

  /** Non-SQL-expressible op: the driver records a weaker rows-only check. */
  def noOracle(name: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, None)
}

/** Minimal JSON string escaping shared by the driver-facing mains
  * (Verify's oracle dump, Bench's metrics line): backslash, quote, and
  * ALL control chars (<0x20) — a tab or CR in builder-authored SQL (or
  * a quote in a path) would otherwise make the driver's json.load fail
  * and silently zero a round.
  */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
