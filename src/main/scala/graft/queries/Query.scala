package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered operator: `build` runs it over the parquet tables in a
  * scale-factor directory, and `oracle` is the DuckDB SQL over the same
  * tables whose result it must hash-match. */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String)

object Query {

  /** `qs` keyed by name; a name declared twice fails fast, naming it. */
  def byName(qs: Seq[Query]): Map[String, Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"query name declared twice: ${dups.toSeq.sorted.mkString(", ")}")
    qs.map(q => q.name -> q).toMap
  }
}
