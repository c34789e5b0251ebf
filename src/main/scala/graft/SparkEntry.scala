package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{Analytics, Apps, Core, Dedup, Media, MiwGate, Pipeline, Q, Similarity, Temporal, Text}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are contributed by module (graft.queries.*); each entry pairs
  * a Spark plan with a DuckDB oracle over the same parquet tables.
  */
object SparkEntry {

  private def modules: Vector[Q] =
    Core.entries ++ Dedup.entries ++ Similarity.entries ++ Text.entries ++
      MiwGate.entries ++ Apps.entries ++ Media.entries ++ Temporal.entries ++
      Analytics.entries ++ Pipeline.entries

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    modules.find(_.name == "q09_join_multi").get.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(q => q.name -> q.fn).toMap

  /** Does one entry of a query list (`SPARK_GRAFT_ONLY`,
    * `SPARK_GRAFT_SKIP`, the Plans tool's list) select query `name`?
    * An entry is a full name or a name's id prefix up to its `_`:
    * `q23` and `q23_` select `q23_minhash_sig`, never `q230_…`. */
  def selects(entry: String, name: String): Boolean =
    name == entry || name.startsWith(if (entry.endsWith("_")) entry else entry + "_")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.collect { case q if q.oracle.isDefined => q.name -> q.oracle.get.trim }.toMap
}
