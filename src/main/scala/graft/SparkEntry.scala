package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 registers one entry in
  * `queries` (Spark plan) and one in `oracleSql` (equivalent DuckDB SQL
  * over the same parquet tables).
  */
object SparkEntry {

  /** Full capability registry, assembled per module. */
  def registry: Seq[Q] =
    _root_.graft.queries.CoreQueries.all ++
      _root_.graft.analytics.Dashboard.all ++
      _root_.graft.ext.TextAnalysis.all ++
      _root_.graft.ext.Dedup.all ++
      _root_.graft.ext.Similarity.all ++
      _root_.graft.ext.KnnGraph.all ++
      _root_.graft.ext.Multimodal.all ++
      _root_.graft.ext.Statistics.all ++
      _root_.graft.ext.Temporal.all ++
      _root_.graft.ext.Curation.all ++
      _root_.graft.ext.Clustering.all ++
      _root_.graft.ext.Scrub.all ++
      _root_.graft.ext.Layout.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    registry.head.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap
}
