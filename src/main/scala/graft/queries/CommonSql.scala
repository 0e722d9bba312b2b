package graft.queries

/** DuckDB mirrors of the Spark helpers that many oracles share. */
private[queries] object CommonSql {

  /** Mirror of [[graft.ops.Dedup.normalize]]: lower-case, non-alphanumerics
    * to spaces, runs of spaces collapsed, trimmed. */
  def normSql(c: String): String =
    s"trim(regexp_replace(regexp_replace(lower($c), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"

  /** Mirror of [[graft.ops.Dedup.hashStr]]: the 60-bit md5-prefix hash of
    * `e` under `seed`. */
  def hashSql(seed: Int, e: String): String =
    s"CAST('0x' || substring(md5('$seed|' || $e), 1, 15) AS BIGINT)"

  /** The margin CTEs of the integer-weight quality scorer, ending in
    * `s(doc_id, n_features, margin)`; shared by every scorer oracle so
    * the scorer has one shape across registries. */
  val marginCte: String =
    s"""n AS (SELECT doc_id, ${normSql("text")} AS norm FROM documents),
       |w AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS wd FROM n),
       |f AS (SELECT doc_id, ${hashSql(77, "wd")} % 256 AS bucket,
       |        count(*) AS cnt
       |      FROM w WHERE wd <> '' GROUP BY 1, 2),
       |s AS (SELECT doc_id, count(*) AS n_features,
       |        CAST(sum(cnt * ((${hashSql(55, "CAST(bucket AS VARCHAR)")} % 21) - 10))
       |          AS BIGINT) AS margin
       |      FROM f GROUP BY doc_id)""".stripMargin
}
