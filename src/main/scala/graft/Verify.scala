package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter, for fast
    // local iteration on a subset (the driver always passes 2 args)
    val only = args.lift(2).map(_.split(',').toSet)
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // schema-drift tripwire: if the driver regenerated the testdata with
    // a different encoding, name the column ONCE up front instead of
    // erroring N queries deep in analysis (round-7 postmortem).
    SchemaGuard.check(spark, sfDir).foreach(d => System.err.println(s"[verify] SCHEMA DRIFT: $d"))
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries persist their own multi-consumer stages (signature
      // tables etc.) through CacheScope; drop them so 157 queries in
      // one session don't accumulate cached blocks into eviction
      // churn — and don't skew later queries' AQE size estimates.
      // clearCache() stays as the belt-and-braces sweep for anything
      // cached outside the scope.
      CacheScope.drain()
      spark.catalog.clearCache()
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
