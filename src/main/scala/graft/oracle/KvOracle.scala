package graft.oracle

import Chains._

/** Oracle SQL of the KV queries: the events table as a cell bag,
  * last-write-wins, tombstones, TTLs and the partitioner tokens. */
private[oracle] object KvOracle {

  /** Shared SQL prelude for the KV oracles: the events table as a cell
    * bag (key, col, ts, seq, value). */
  private val cellsCte: String =
    """WITH cells AS (SELECT CAST(user_id AS VARCHAR) AS key, event_type AS col,
      |  CAST(ts AS TIMESTAMP) AS ts, event_id AS seq, value FROM events)""".stripMargin

  /** The RandomPartitioner token (abs of MD5 as signed 128-bit
    * two's-complement, fixed-width lowercase hex) expressed in DuckDB
    * SQL: reconstruct the big-endian value from the digest's hex
    * halves as HUGEINTs and take the two's-complement absolute value
    * branch-wise (2^128 - v splits into per-half arithmetic; the
    * lo = 0 carry case handled explicitly). Independently validates
    * the engine's CassandraRandomMd5 expression under the hard gate. */
  private val randomTokenSqlCte: String =
    """tok AS (
      |  SELECT key, lpad(lower(hex(
      |    CASE WHEN hi < 9223372036854775808::HUGEINT
      |      THEN hi * 18446744073709551616::HUGEINT + lo
      |      WHEN lo = 0
      |      THEN (18446744073709551616::HUGEINT - hi) * 18446744073709551616::HUGEINT
      |      ELSE (18446744073709551615::HUGEINT - hi) * 18446744073709551616::HUGEINT
      |           + (18446744073709551616::HUGEINT - lo) END)), 32, '0') AS token
      |  FROM (SELECT key,
      |      CAST(concat('0x', substring(md5(key), 1, 16)) AS UBIGINT)::HUGEINT AS hi,
      |      CAST(concat('0x', substring(md5(key), 17, 16)) AS UBIGINT)::HUGEINT AS lo
      |    FROM (SELECT DISTINCT key FROM cells)))""".stripMargin

  /** Cassandra's sign-bug Murmur3 token (Partitioners.cpp:80-180)
    * expressed in DuckDB SQL, independently cross-validating the
    * engine's CassandraMurmur3 expression under the hard gate — the
    * FULL hash: `maxBlocks` 16-byte body blocks (unsigned
    * little-endian lanes, the h1/h2 cross-mixing rounds) plus the
    * signed-char tail exactly like the reference; keys longer than
    * 16·maxBlocks+15 yield NULL so a violation fails the gate loudly
    * instead of silently. All 64-bit wrapping arithmetic runs on
    * non-negative HUGEINT bit patterns: multiply splits into 32-bit
    * halves (a 64x64 product overflows HUGEINT), rotate/shift become
    * scaled adds over disjoint bits. Generated as a chain of
    * MATERIALIZED CTE stages: DuckDB inlines plain single-use CTEs,
    * and an inlined stage whose expression references its input column
    * four times (mul64) would compound EXPONENTIALLY through the ~60
    * stages (measured: >300 s vs 0.09 s); materialization keeps
    * evaluation linear. `prefix` namespaces the chain so several key
    * relations can be tokenized in one statement; the result CTE is
    * `<prefix>tok(key, token)`. */
  private def murmurTokenSqlChain(
      prefix: String, fromSql: String, maxBlocks: Int = 3): String = {
    import U64Sql.M
    val HB = "9223372036854775808::HUGEINT"  // 2^63
    val stages = murmurX64Stages(maxBlocks, signedTail = true) ++
      Seq(Map("h1" -> U64Sql.add64("h1", "h2")))
    murmurStageCtes(prefix, fromSql, stages) +
      s",\n${prefix}tok AS MATERIALIZED (SELECT key, CASE WHEN len > ${16 * maxBlocks + 15} THEN NULL" +
      s" WHEN h1 = $HB THEN 9223372036854775807::BIGINT" +
      s" ELSE (h1 - CASE WHEN h1 >= $HB THEN $M ELSE 0::HUGEINT END)::BIGINT END AS token" +
      s" FROM ${prefix}_s${stages.length})"
  }

  /** The default token chain over the cell store's key set — `mtok`. */
  private val murmurTokenSqlCte: String =
    murmurTokenSqlChain("m", "(SELECT DISTINCT key FROM cells)")

  /** A cell's last-write-wins rank within its (key, col): newest ts
    * first, the higher seq breaking ties; rn = 1 is the winner. `p`
    * qualifies the columns. */
  private def lwwRank(p: String = ""): String =
    s"ROW_NUMBER() OVER (PARTITION BY ${p}key, ${p}col ORDER BY ${p}ts DESC, ${p}seq DESC) AS rn"

  /** `ranked`: the `cols` of `from` with their [[lwwRank]]. */
  private def rankedCte(cols: String, from: String, p: String = ""): String =
    s"""ranked AS (SELECT $cols,
      |  ${lwwRank(p)}
      |  FROM $from)""".stripMargin

  /** The cells whose murmur token passes `cond`, with their token. */
  private val TokenCellCols = "c.key, c.col, c.ts, c.seq, c.value, t.token"
  private def tokenCells(cond: String): String =
    s"cells c JOIN mtok t USING (key)\n  WHERE $cond"

  val sql: Map[String, String] = Map(
    "kv_lww_latest" ->
      s"""$cellsCte,
        |${rankedCte("key, col, ts, value", "cells")}
        |SELECT key, col, ts, value FROM ranked WHERE rn = 1
        |ORDER BY key, col""".stripMargin,

    "kv_byte_ordered_scan" ->
      s"""$cellsCte,
        |${rankedCte("key, col, ts, value", "cells WHERE key >= '42'")}
        |SELECT key, col, ts, value FROM ranked WHERE rn = 1
        |ORDER BY key, col""".stripMargin,

    "kv_resume_scan" -> {
      val start = graft.functions.CassandraMurmur3.token(
        org.apache.spark.unsafe.types.UTF8String.fromString("42"))
      val cells = tokenCells(s"t.token >= $start AND (t.token > $start OR c.key >= '42')")
      s"""$cellsCte,
        |$murmurTokenSqlCte,
        |${rankedCte(TokenCellCols, cells, "c.")}
        |SELECT key, col, ts, seq, value, token FROM ranked WHERE rn = 1
        |ORDER BY token, key, col""".stripMargin
    },

    "kv_long_key_tokens" ->
      s"""$cellsCte,
        |${murmurTokenSqlChain("w1", "(SELECT DISTINCT rpad(key, 20, 'x') AS key FROM cells)")},
        |${murmurTokenSqlChain("w2", "(SELECT DISTINCT rpad(key, 37, 'y') AS key FROM cells)")},
        |${murmurTokenSqlChain("w3", "(SELECT DISTINCT rpad(key, 52, 'z') AS key FROM cells)")}
        |SELECT k.key,
        |  a.token AS token_1block, b.token AS token_2block, c.token AS token_3block
        |FROM (SELECT DISTINCT key FROM cells) k
        |JOIN w1tok a ON a.key = rpad(k.key, 20, 'x')
        |JOIN w2tok b ON b.key = rpad(k.key, 37, 'y')
        |JOIN w3tok c ON c.key = rpad(k.key, 52, 'z')
        |ORDER BY k.key""".stripMargin,

    "kv_token_range_scan" -> {
      val t1 = graft.functions.CassandraMurmur3.token(
        org.apache.spark.unsafe.types.UTF8String.fromString("25"))
      val t2 = graft.functions.CassandraMurmur3.token(
        org.apache.spark.unsafe.types.UTF8String.fromString("75"))
      val (tMin, tMax) = (math.min(t1, t2), math.max(t1, t2))
      s"""$cellsCte,
        |$murmurTokenSqlCte,
        |${rankedCte(TokenCellCols, tokenCells(s"t.token BETWEEN $tMin AND $tMax"), "c.")}
        |SELECT key, col, ts, seq, value, token FROM ranked WHERE rn = 1
        |ORDER BY token, key, col""".stripMargin
    },

    "kv_token_distribution" ->
      s"""$cellsCte,
        |$murmurTokenSqlCte
        |SELECT ((token::HUGEINT + CASE WHEN token < 0 THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END)
        |        // 288230376151711744::HUGEINT
        |        - CASE WHEN token < 0 THEN 64 ELSE 0 END + 32)::BIGINT AS bucket,
        |  COUNT(*) AS n_cells, COUNT(DISTINCT c.key) AS n_keys
        |FROM cells c JOIN mtok t USING (key)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "kv_random_resume_scan" ->
      s"""$cellsCte,
        |$randomTokenSqlCte,
        |ranked AS (SELECT t.token, c.key, c.col, c.ts, c.value,
        |  ROW_NUMBER() OVER (PARTITION BY c.key, c.col ORDER BY ts DESC, seq DESC) AS rn
        |  FROM cells c JOIN tok t USING (key)
        |  WHERE t.token > '${graft.functions.CassandraRandomMd5.tokenHex("42")}'
        |     OR (t.token = '${graft.functions.CassandraRandomMd5.tokenHex("42")}'
        |         AND c.key >= '42'))
        |SELECT token, key, col, ts, value FROM ranked WHERE rn = 1
        |ORDER BY token, key, col""".stripMargin,

    "kv_random_token_distribution" ->
      s"""$cellsCte,
        |$randomTokenSqlCte
        |SELECT CAST(concat('0x', substring(t.token, 1, 2)) AS INT) AS bucket,
        |  COUNT(*) AS n_cells, COUNT(DISTINCT c.key) AS n_keys
        |FROM cells c JOIN tok t USING (key)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "kv_generations_merge" ->
      s"""$cellsCte,
        |${rankedCte("key, col, ts", "cells")}
        |SELECT key, COUNT(*) AS n_cols, MAX(ts) AS last_write
        |FROM ranked WHERE rn = 1
        |GROUP BY key ORDER BY key""".stripMargin,

    "kv_tombstone_merge" ->
      s"""$cellsCte,
        |marked AS (SELECT *, MAX(CASE WHEN col = 'error' THEN ts END)
        |  OVER (PARTITION BY key) AS del_ts FROM cells),
        |live AS (SELECT * FROM marked
        |  WHERE col <> 'error' AND (del_ts IS NULL OR ts > del_ts)),
        |${rankedCte("key, col, ts, value", "live")}
        |SELECT key, col, ts, value FROM ranked WHERE rn = 1
        |ORDER BY key, col""".stripMargin,

    "kv_range_tombstone" ->
      s"""$cellsCte,
        |marked AS (SELECT *, MAX(CASE WHEN col = 'error' THEN ts END)
        |  OVER (PARTITION BY key) AS del_ts FROM cells),
        |live AS (SELECT * FROM marked
        |  WHERE col <> 'error' AND (del_ts IS NULL OR ts > del_ts
        |        OR col NOT BETWEEN 'click' AND 'purchase')),
        |${rankedCte("key, col, ts, value", "live")}
        |SELECT key, col, ts, value FROM ranked WHERE rn = 1
        |ORDER BY key, col""".stripMargin,

    "kv_ttl_expiry" ->
      s"""$cellsCte,
        |exp AS (SELECT key, col, seq,
        |  CAST(FLOOR(value * 10 * 1000000.0) AS BIGINT) AS ttl_us,
        |  epoch_us(ts) + CAST(FLOOR(value * 10 * 1000000.0) AS BIGINT) AS expiry_us
        |  FROM cells)
        |SELECT key, col, seq, ttl_us, expiry_us FROM exp
        |WHERE expiry_us >= 1706140800000000 AND ttl_us >= 600000000
        |ORDER BY key, col, seq""".stripMargin,

    "kv_prohibit_eternal" ->
      s"""$cellsCte,
        |exp AS (SELECT key, col, seq,
        |  CASE WHEN seq % 5 <> 0
        |    THEN CAST(FLOOR(value * 10 * 1000000.0) AS BIGINT) END AS ttl_us,
        |  epoch_us(ts) + CASE WHEN seq % 5 <> 0
        |    THEN CAST(FLOOR(value * 10 * 1000000.0) AS BIGINT) END AS expiry_us
        |  FROM cells)
        |SELECT key, col, seq, ttl_us, expiry_us FROM exp
        |WHERE expiry_us IS NOT NULL
        |  AND expiry_us >= 1706140800000000 AND ttl_us >= 600000000
        |ORDER BY key, col, seq""".stripMargin,

    "kv_record_ttl" ->
      s"""$cellsCte,
        |exp AS (SELECT key, col, seq,
        |  CAST(FLOOR(value * 10 * 1000000.0) AS BIGINT) AS ttl_us,
        |  epoch_us(ts) + CAST(FLOOR(value * 10 * 1000000.0) AS BIGINT) AS expiry_us
        |  FROM cells),
        |live AS (SELECT * FROM exp
        |  WHERE expiry_us >= 1706140800000000 AND ttl_us >= 600000000)
        |SELECT key, MIN(expiry_us) AS first_expiry_us, MAX(expiry_us) AS last_expiry_us,
        |  COUNT(*) AS n_cells
        |FROM live GROUP BY key ORDER BY key""".stripMargin,

    "kv_create_only" ->
      s"""$cellsCte,
        |existing AS (SELECT DISTINCT key, col FROM cells
        |  WHERE epoch_us(ts) < 1705276800000000),
        |incoming AS (SELECT * FROM cells WHERE epoch_us(ts) >= 1705276800000000)
        |SELECT
        | CAST(SUM(CASE WHEN e.key IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS written,
        | CAST(SUM(CASE WHEN e.key IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS skipped_existing
        |FROM incoming i LEFT JOIN existing e ON i.key = e.key AND i.col = e.col""".stripMargin,

    "kv_export_stats" ->
      s"""$cellsCte,
        |annotated AS (SELECT *,
        |  MAX(CASE WHEN col = 'error' THEN ts END) OVER (PARTITION BY key) AS del_ts,
        |  ${lwwRank()},
        |  CAST(FLOOR(value * 10 * 1000000.0) AS BIGINT) AS ttl_us,
        |  epoch_us(ts) + CAST(FLOOR(value * 10 * 1000000.0) AS BIGINT) AS expiry_us
        |  FROM cells)
        |SELECT COUNT(*) AS cells_read,
        | COUNT(DISTINCT key) AS rows_read,
        | CAST(SUM(CASE WHEN col = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS tombstone_cells,
        | CAST(SUM(CASE WHEN col <> 'error' AND rn = 1 AND (del_ts IS NULL OR ts > del_ts)
        |     THEN 1 ELSE 0 END) AS BIGINT) AS live_latest_cells,
        | CAST(SUM(CASE WHEN col <> 'error' AND del_ts IS NOT NULL AND ts <= del_ts
        |     THEN 1 ELSE 0 END) AS BIGINT) AS tombstoned_cells,
        | CAST(SUM(CASE WHEN expiry_us < 1706140800000000 THEN 1 ELSE 0 END) AS BIGINT) AS expired_cells
        |FROM annotated""".stripMargin,

    "kv_dry_run_format" ->
      s"""$cellsCte,
        |${rankedCte("key, col, ts, value", "cells")},
        |fmt AS (SELECT key, col,
        |  col || '=' || CAST(CAST(value AS DECIMAL(12,2)) AS VARCHAR) AS cell_text
        |  FROM ranked WHERE rn = 1)
        |SELECT key, col, cell_text, lower(hex(cell_text)) AS cell_hex,
        |  (length(regexp_replace(cell_text, '[ -~]', '', 'g')) = 0) AS printable
        |FROM fmt ORDER BY key, col""".stripMargin,

    "kv_counter_merge" ->
      s"""$cellsCte
        |SELECT key, col,
        | CAST(ROUND(SUM(CAST(value AS DECIMAL(30,2))), 2) AS DOUBLE) AS counter_value,
        | COUNT(*) AS n_contributions,
        | MAX(ts) AS last_write
        |FROM cells
        |GROUP BY key, col
        |ORDER BY key, col""".stripMargin
  )
}
