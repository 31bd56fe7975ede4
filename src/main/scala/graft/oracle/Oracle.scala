package graft.oracle

/** The DuckDB oracle: for each registry query that has one, ANSI SQL
  * that DuckDB runs over the same parquet tables. A query without an
  * entry gets a rows-only check. Only [[graft.Verify]] reads it, to
  * write `oracle_sql.json`. One file per family; chains that several
  * families replay live once in [[Chains]]. */
object Oracle {
  lazy val sql: Map[String, String] =
    RelationalOracle.sql ++ KvOracle.sql ++ EventsOracle.sql ++ DedupOracle.sql ++
      SimilarityOracle.sql ++ TextOracle.sql ++ MultimodalOracle.sql ++ PipelineOracle.sql

  /** A JSON string literal. Escapes backslash, quote and every control
    * char (< 0x20): a tab or CR left raw in the SQL would make a
    * reader's JSON parse fail. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `queries` as the JSON object of `oracle_sql.json`. */
  def json(queries: Map[String, String] = sql): String =
    queries.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
}
