package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each operator family lives in its own registry object; this is the
  * single aggregation point the driver's Verify/Bench mains consume.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.Relational.q1PricingSummary(spark, "/root/testdata/sf0.001")

  private lazy val registry: Map[String, Query] = Query.byName(Seq(
    Relational.all, Relational2.all, ParityQueries.all, LlmQueries.all,
    LlmQueries2.all, LlmQueries3.all, LlmQueries4.all, LlmQueries5.all,
    LlmQueries6.all, LlmQueries7.all, LlmQueries8.all, LlmQueries9.all,
    LlmQueries10.all, LlmQueries11.all, LlmQueries12.all, LlmQueries13.all,
    LlmQueries14.all, LlmQueries15.all, LlmQueries16.all, LlmQueries17.all,
    LlmQueries18.all, PqQueries.all).flatten)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, q) => name -> q.build }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    registry.map { case (name, q) => name -> q.oracle }
}
