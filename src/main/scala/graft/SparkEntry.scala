package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + BASELINE.md.
  *
  * Aggregates every operator module's named queries and their DuckDB oracle
  * SQL. Queries absent from [[oracleSql]] (ML fits, LSH internals) get the
  * driver's weaker rows-only check.
  */
object SparkEntry {
  private def modules: Seq[QueryModule] = Seq(
    Relational, Joins, Events, Text, Similarity, Stats, Multimodal,
    Dedup, Geo, AsOf, Storage, Pipeline, Graph,
    graft.streaming.StreamingJobs, graft.ml.Pipelines)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(spark, "/root/testdata/sf0.001")

  /** Flatten module maps, failing loudly on duplicate query names — a
    * silent last-wins merge would drop a query (and its oracle) from the
    * correctness gate without any error.
    */
  private def distinctByName[V](kvs: Seq[(String, V)]): Map[String, V] = {
    val dups = kvs.groupBy(_._1).collect { case (k, vs) if vs.size > 1 => k }
    require(dups.isEmpty, s"duplicate query names across modules: ${dups.mkString(", ")}")
    kvs.toMap
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, Q] = distinctByName(modules.flatMap(_.queries))

  /** The queries a run selects by `only`, the `SPARK_GRAFT_ONLY` value: a
    * comma-separated list of substrings of query names. Blank tokens are
    * dropped, since a blank matches every name; an unset or all-blank
    * value selects every query. Returns the tokens in force (None: no
    * filter) and the selected queries in name order.
    */
  def select(only: Option[String]): (Option[Seq[String]], Seq[(String, Q)]) = {
    val tokens = only.map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty)).filter(_.nonEmpty)
    (tokens, queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => tokens.forall(_.exists(name.contains)) })
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = distinctByName(modules.flatMap(_.oracles))
}
