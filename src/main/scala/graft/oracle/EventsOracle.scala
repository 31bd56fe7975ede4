package graft.oracle

import graft.functions.Exact.ratio4Sql

import Chains._

/** Oracle SQL of the event-stream queries. */
private[oracle] object EventsOracle {

  /** Spark's `xxhash64` of ONE long (seed 42) in DuckDB SQL — the
    * murmur3-chain technique applied to XXH64's hashLong path: all
    * 64-bit wrapping arithmetic on non-negative HUGEINT bit patterns
    * (multiply split into 32-bit halves, rotl as scaled add over
    * disjoint bits), one MATERIALIZED stage per step so DuckDB never
    * inlines a 4-reference mul64 exponentially. Validated term-for-term
    * against Spark 4.1.2's XxHash64 on reference values. The chain
    * reads a relation `$fromSql` with a BIGINT `user_id` column and
    * yields `<prefix>xx(user_id, h)` where h = hash >>> 1 (the
    * sign-bit-masked uniform [0, 2^63) value the KMV sketch retains). */
  private def xxhash64LongSqlChain(prefix: String, fromSql: String): String = {
    import U64Sql._
    val P1 = "11400714785074694791::HUGEINT" // XXH64 PRIME64_1
    val P2 = "14029467366897019727::HUGEINT" // PRIME64_2
    val P3 = "1609587929392839161::HUGEINT"  // PRIME64_3
    val P4 = "9650029242287828579::HUGEINT"  // PRIME64_4
    // h0 = seed + PRIME64_5 + 8 = 42 + 2870177450012600261 + 8.
    val stages = Seq(
      mul64("h", P2), rotl("h", 31), mul64("h", P1),
      xor64("2870177450012600311::HUGEINT", "h"),
      rotl("h", 27), mul64("h", P1), m64(s"h + $P4"),
      xor64("h", shr("h", 33)), mul64("h", P2),
      xor64("h", shr("h", 29)), mul64("h", P3),
      xor64("h", shr("h", 32)))
    (stageChain(s"${prefix}_s",
      s"SELECT user_id, ((user_id::HUGEINT % $M + $M) % $M) AS h FROM $fromSql",
      stages.map(st => (prev: String) => s"SELECT user_id, $st AS h FROM $prev")) :+
      (s"${prefix}xx AS MATERIALIZED (SELECT user_id, " +
        s"(h // 2)::BIGINT AS h FROM ${prefix}_s${stages.length})")).mkString(",\n")
  }

  /** Hourly event counts per event type on a dense grid: every type
    * gets every hour from the first event to the last, 0 where it has
    * none — `d`(event_type, h, x), h in epoch hours. Shared by the
    * smoother, backtest and CUSUM oracles. */
  private val HourlyGridCtes: String =
    """ev AS (SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h FROM events),
      |b AS (SELECT MIN(h) AS hmin, MAX(h) AS hmax FROM ev),
      |types AS (SELECT DISTINCT event_type FROM ev),
      |dense AS (SELECT t.event_type, r.h
      |  FROM types t, b, UNNEST(range(b.hmin, b.hmax + 1)) AS r(h)),
      |cnt AS (SELECT event_type, h, COUNT(*) AS x FROM ev GROUP BY 1, 2),
      |d AS (SELECT dense.event_type, dense.h, COALESCE(cnt.x, 0) AS x
      |  FROM dense LEFT JOIN cnt USING (event_type, h))""".stripMargin

  /** [[HourlyGridCtes]] numbered per type in hour order,
    * `idx`(event_type, h, x, i), i from 1: the smoothers' recursion
    * index. */
  private val HourlySeriesCtes: String =
    s"""$HourlyGridCtes,
      |idx AS (SELECT d.event_type, d.h, d.x,
      |    ROW_NUMBER() OVER (PARTITION BY d.event_type ORDER BY d.h) AS i
      |  FROM d)""".stripMargin

  val sql: Map[String, String] = Map(
    "events_windowed_agg" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start, event_type,
        | COUNT(*) AS n_events,
        | CAST(ROUND(SUM(CAST(value AS DECIMAL(30,2))), 2) AS DOUBLE) AS sum_value,
        | COUNT(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    // The EWMA recurrence replayed as a recursive CTE: base row seeds
    // s = x, err = 0; each step's err and α-update read the SAME
    // (x − s_prev) subtraction the codegen'd holt_seq computes with
    // β = 0, so the paths are bit-identical.
    "events_ewma" ->
      s"""WITH RECURSIVE
        |$HourlySeriesCtes,
        |rec AS (
        |  SELECT event_type, h, x, i,
        |    CAST(x AS DOUBLE) AS s, CAST(0.0 AS DOUBLE) AS err
        |  FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT idx.event_type, idx.h, idx.x, idx.i,
        |    rec.s + 0.25 * (CAST(idx.x AS DOUBLE) - rec.s),
        |    CAST(idx.x AS DOUBLE) - rec.s
        |  FROM rec JOIN idx ON idx.event_type = rec.event_type AND idx.i = rec.i + 1)
        |SELECT event_type, h AS hour, x AS n_events,
        |  CAST(CAST(ROUND(s, 4) AS DECIMAL(28,4)) AS DOUBLE) AS ewma,
        |  CAST(CAST(ROUND(err, 4) AS DECIMAL(28,4)) AS DOUBLE) AS forecast_err
        |FROM rec
        |ORDER BY event_type, hour""".stripMargin,

    // Holt's error-correction recurrence replayed token-for-token: the
    // recursive step carries BOTH states (level, trend) and every
    // update reads the one shared err = x - (l + b) term, exactly the
    // engine's holt_seq IEEE sequence.
    "events_holt" ->
      s"""WITH RECURSIVE
        |$HourlySeriesCtes,
        |rec AS (
        |  SELECT event_type, h, x, i,
        |    CAST(x AS DOUBLE) AS l, CAST(0.0 AS DOUBLE) AS bt,
        |    CAST(0.0 AS DOUBLE) AS err
        |  FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT idx.event_type, idx.h, idx.x, idx.i,
        |    (rec.l + rec.bt) + 0.25 * (CAST(idx.x AS DOUBLE) - (rec.l + rec.bt)),
        |    rec.bt + 0.25 * 0.3 * (CAST(idx.x AS DOUBLE) - (rec.l + rec.bt)),
        |    CAST(idx.x AS DOUBLE) - (rec.l + rec.bt)
        |  FROM rec JOIN idx ON idx.event_type = rec.event_type AND idx.i = rec.i + 1)
        |SELECT event_type, h AS hour, x AS n_events,
        |  CAST(CAST(ROUND(l, 4) AS DECIMAL(28,4)) AS DOUBLE) AS level,
        |  CAST(CAST(ROUND(bt, 4) AS DECIMAL(28,4)) AS DOUBLE) AS trend,
        |  CAST(CAST(ROUND(err, 4) AS DECIMAL(28,4)) AS DOUBLE) AS forecast_err
        |FROM rec
        |ORDER BY event_type, hour""".stripMargin,

    // Both smoother recurrences replayed over the shared densified
    // series, then the per-type error census as x10000 INTEGERS of the
    // 4-rounded errs (order-free sums); the bias divides agree because
    // Spark's `div` and DuckDB's integer `//` BOTH truncate toward zero
    // (verified: -7 // 2 = -3 in DuckDB) — no floor identity exists or
    // is needed, so don't "fix" either side to one.
    "events_forecast_backtest" ->
      s"""WITH RECURSIVE
        |$HourlySeriesCtes,
        |recew AS (
        |  SELECT event_type, x, i, CAST(x AS DOUBLE) AS s, CAST(0.0 AS DOUBLE) AS err
        |  FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT idx.event_type, idx.x, idx.i,
        |    recew.s + 0.25 * (CAST(idx.x AS DOUBLE) - recew.s),
        |    CAST(idx.x AS DOUBLE) - recew.s
        |  FROM recew JOIN idx ON idx.event_type = recew.event_type AND idx.i = recew.i + 1),
        |recho AS (
        |  SELECT event_type, x, i,
        |    CAST(x AS DOUBLE) AS l, CAST(0.0 AS DOUBLE) AS bt,
        |    CAST(0.0 AS DOUBLE) AS err
        |  FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT idx.event_type, idx.x, idx.i,
        |    (recho.l + recho.bt) + 0.25 * (CAST(idx.x AS DOUBLE) - (recho.l + recho.bt)),
        |    recho.bt + 0.25 * 0.3 * (CAST(idx.x AS DOUBLE) - (recho.l + recho.bt)),
        |    CAST(idx.x AS DOUBLE) - (recho.l + recho.bt)
        |  FROM recho JOIN idx ON idx.event_type = recho.event_type AND idx.i = recho.i + 1),
        |aew AS (SELECT event_type, COUNT(*)::BIGINT AS n_hours,
        |    SUM(CASE WHEN i > 1 THEN CAST(CAST(ROUND(ABS(err), 4)
        |      AS DECIMAL(28,4)) * 10000 AS BIGINT) ELSE 0 END)::BIGINT AS abs_ew,
        |    SUM(CASE WHEN i > 1 THEN CAST(CAST(ROUND(err, 4)
        |      AS DECIMAL(28,4)) * 10000 AS BIGINT) ELSE 0 END)::BIGINT AS bias_ew
        |  FROM recew GROUP BY 1),
        |aho AS (SELECT event_type,
        |    SUM(CASE WHEN i > 1 THEN CAST(CAST(ROUND(ABS(err), 4)
        |      AS DECIMAL(28,4)) * 10000 AS BIGINT) ELSE 0 END)::BIGINT AS abs_ho,
        |    SUM(CASE WHEN i > 1 THEN CAST(CAST(ROUND(err, 4)
        |      AS DECIMAL(28,4)) * 10000 AS BIGINT) ELSE 0 END)::BIGINT AS bias_ho
        |  FROM recho GROUP BY 1)
        |SELECT event_type, CAST(n_hours AS INT) AS n_hours,
        |  CAST(abs_ew // GREATEST(n_hours - 1, 1) AS DOUBLE) / 10000.0 AS mae_ewma,
        |  CAST(abs_ho // GREATEST(n_hours - 1, 1) AS DOUBLE) / 10000.0 AS mae_holt,
        |  CAST(bias_ew // GREATEST(n_hours - 1, 1) AS DOUBLE) / 10000.0 AS bias_ewma,
        |  CAST(bias_ho // GREATEST(n_hours - 1, 1) AS DOUBLE) / 10000.0 AS bias_holt,
        |  CASE WHEN abs_ho < abs_ew THEN 'holt'
        |       WHEN abs_ew < abs_ho THEN 'ewma' ELSE 'tie' END AS winner
        |FROM aew JOIN aho USING (event_type)
        |ORDER BY event_type""".stripMargin,

    // Each event lies in EXACTLY the 4 hopping windows whose start is
    // ⌊ts⌋₁₅ − k·15min for k = 0..3 (epoch alignment makes the covering
    // set closed-form), so the oracle unnests the 4 offsets explicitly.
    "events_hopping_agg" ->
      """WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
        |    event_type, user_id, value FROM events),
        |w AS (SELECT make_timestamp(
        |      (tus // 900000000) * 900000000 - k * 900000000) AS window_start,
        |    event_type, user_id, value
        |  FROM e CROSS JOIN (SELECT unnest([0,1,2,3])::BIGINT AS k))
        |SELECT window_start, event_type,
        | COUNT(*) AS n_events,
        | CAST(ROUND(SUM(CAST(value AS DECIMAL(30,2))), 2) AS DOUBLE) AS sum_value,
        | COUNT(DISTINCT user_id) AS n_users
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "events_heatmap" ->
      """SELECT event_type,
        | CAST((epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 + 3) % 7 AS INT) AS dow,
        | CAST((epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 AS INT) AS hour,
        | COUNT(*) AS n_events,
        | COUNT(DISTINCT user_id) AS n_users,
        | CAST(ROUND(SUM(CAST(value AS DECIMAL(30,2))), 2) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "events_interarrival" ->
      """WITH g AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP))
        |      - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
        |        PARTITION BY user_id, event_type
        |        ORDER BY CAST(ts AS TIMESTAMP), event_id) AS gap_us
        |  FROM events)
        |SELECT event_type, COUNT(*)::BIGINT AS n_gaps,
        | CAST(CAST(SUM(gap_us) // COUNT(*) AS BIGINT) AS DOUBLE)
        |   / CAST(1000000.0 AS DOUBLE) AS avg_gap_s,
        | CAST(MIN(gap_us) AS DOUBLE) / CAST(1000000.0 AS DOUBLE) AS min_gap_s,
        | CAST(MAX(gap_us) AS DOUBLE) / CAST(1000000.0 AS DOUBLE) AS max_gap_s,
        | quantile_cont(gap_us, 0.5) / CAST(1000000.0 AS DOUBLE) AS p50_gap_s
        |FROM g WHERE gap_us IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "events_mad_outliers" ->
      """WITH c AS (SELECT event_type,
        |    CAST(ROUND(value * 100, 0) AS BIGINT) AS cents FROM events),
        |med AS (SELECT event_type, quantile_cont(cents, 0.5) AS med_cents
        |  FROM c GROUP BY 1),
        |dev AS (SELECT c.event_type, cents, med_cents,
        |    ABS(CAST(cents AS DOUBLE) - med_cents) AS adev
        |  FROM c JOIN med USING (event_type)),
        |mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad_cents
        |  FROM dev GROUP BY 1),
        |z AS (SELECT dev.event_type, med_cents, mad_cents,
        |    CAST(0.6745 AS DOUBLE) * (CAST(cents AS DOUBLE) - med_cents)
        |      / NULLIF(mad_cents, 0) AS mz
        |  FROM dev JOIN mad USING (event_type))
        |SELECT event_type, COUNT(*)::BIGINT AS n_events,
        | CAST(CAST(ROUND(ANY_VALUE(med_cents) / 100.0, 4) AS DECIMAL(10,4))
        |   AS DOUBLE) AS median_value,
        | CAST(CAST(ROUND(ANY_VALUE(mad_cents) / 100.0, 4) AS DECIMAL(10,4))
        |   AS DOUBLE) AS mad_value,
        | SUM(CASE WHEN ABS(mz) > 3.5 THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
        | CAST(CAST(ROUND(MAX(ABS(mz)), 4) AS DECIMAL(10,4)) AS DOUBLE) AS max_abs_z
        |FROM z GROUP BY event_type ORDER BY event_type""".stripMargin,

    "events_user_overlap" ->
      raw"""WITH ut AS (SELECT DISTINCT event_type, user_id FROM events),
        |sz AS (SELECT event_type, COUNT(*)::BIGINT AS n FROM ut GROUP BY 1),
        |ov AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    COUNT(*)::BIGINT AS n_both
        |  FROM ut a JOIN ut b USING (user_id)
        |  WHERE a.event_type < b.event_type GROUP BY 1, 2)
        |SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_both,
        | ${ratio4Sql("n_both", "(sa.n + sb.n - n_both)")} AS jaccard
        |FROM ov
        |JOIN sz sa ON sa.event_type = type_a
        |JOIN sz sb ON sb.event_type = type_b
        |ORDER BY type_a, type_b""".stripMargin,

    // The KMV sketch replayed exactly: Spark's xxhash64-of-long as a
    // HUGEINT wrap-arithmetic chain, k-smallest-distinct retention as a
    // row_number window, the theta-sketch pair algebra as windowed
    // order statistics — every estimate under the hard hash gate.
    "events_user_overlap_sketch" -> {
      val K = 256
      val pow63 = "9.223372036854775807e18"
      s"""WITH uid AS (SELECT DISTINCT user_id FROM events),
        |${xxhash64LongSqlChain("ux", "uid")},
        |dh AS (SELECT DISTINCT e.event_type, x.h
        |  FROM events e JOIN uxxx x USING (user_id)),
        |rk AS (SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        |  FROM dh),
        |sk AS (SELECT event_type, h, rn FROM rk WHERE rn <= $K),
        |szs AS (SELECT event_type, COUNT(*)::BIGINT AS nd FROM dh GROUP BY 1),
        |est AS (SELECT a.event_type, z.nd AS n_exact,
        |    CASE WHEN a.sz < $K THEN CAST(a.sz AS DOUBLE)
        |         ELSE CAST(${K - 1} AS DOUBLE) / (CAST(a.hk AS DOUBLE) / $pow63)
        |    END AS est_n
        |  FROM (SELECT event_type, COUNT(*)::BIGINT AS sz,
        |      MAX(CASE WHEN rn = $K THEN h END) AS hk FROM sk GROUP BY 1) a
        |  JOIN szs z USING (event_type)),
        |pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    a.n_exact AS n_a, b.n_exact AS n_b, a.est_n AS est_a, b.est_n AS est_b
        |  FROM est a JOIN est b ON a.event_type < b.event_type),
        |u AS (SELECT p.type_a, p.type_b, s.h
        |  FROM pr p JOIN sk s ON s.event_type IN (p.type_a, p.type_b)
        |  GROUP BY 1, 2, 3),
        |comb AS (SELECT type_a, type_b, h, rn FROM (
        |    SELECT type_a, type_b, h,
        |      row_number() OVER (PARTITION BY type_a, type_b ORDER BY h) AS rn
        |    FROM u) WHERE rn <= $K),
        |eu AS (SELECT c.type_a, c.type_b, g.size_u,
        |    CASE WHEN g.size_u < $K THEN CAST(g.size_u AS DOUBLE)
        |         ELSE CAST(${K - 1} AS DOUBLE) / (CAST(g.hmax AS DOUBLE) / $pow63)
        |    END AS est_union,
        |    COALESCE(r.rho, 0)::BIGINT AS rho
        |  FROM (SELECT type_a, type_b, COUNT(*)::BIGINT AS size_u, MAX(h) AS hmax
        |        FROM comb GROUP BY 1, 2) g
        |  JOIN (SELECT type_a, type_b FROM pr) c USING (type_a, type_b)
        |  LEFT JOIN (SELECT c.type_a, c.type_b, COUNT(*)::BIGINT AS rho
        |      FROM comb c
        |      JOIN sk sa ON sa.event_type = c.type_a AND sa.h = c.h
        |      JOIN sk sb ON sb.event_type = c.type_b AND sb.h = c.h
        |      GROUP BY 1, 2) r USING (type_a, type_b)),
        |ut AS (SELECT DISTINCT event_type, user_id FROM events),
        |ov AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    COUNT(*)::BIGINT AS n_both
        |  FROM ut a JOIN ut b USING (user_id)
        |  WHERE a.event_type < b.event_type GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b, p.n_a, p.n_b,
        |  COALESCE(ov.n_both, 0)::BIGINT AS n_both,
        |  CAST(CAST(ROUND(p.est_a, 4) AS DECIMAL(28,4)) AS DOUBLE) AS est_a,
        |  CAST(CAST(ROUND(p.est_b, 4) AS DECIMAL(28,4)) AS DOUBLE) AS est_b,
        |  CAST(CAST(ROUND(e.est_union, 4) AS DECIMAL(28,4)) AS DOUBLE) AS est_union,
        |  CAST(CAST(ROUND((CAST(e.rho AS DOUBLE) * e.est_union)
        |    / CAST(e.size_u AS DOUBLE), 4) AS DECIMAL(28,4)) AS DOUBLE) AS est_both,
        |  CAST((10000 * COALESCE(ov.n_both, 0))
        |    // (p.n_a + p.n_b - COALESCE(ov.n_both, 0)) AS DOUBLE) / 10000.0 AS jaccard,
        |  CAST((10000 * e.rho) // e.size_u AS DOUBLE) / 10000.0 AS jaccard_est,
        |  CAST(CAST(ROUND(ABS((CAST(e.rho AS DOUBLE) * e.est_union)
        |      / CAST(e.size_u AS DOUBLE) - CAST(COALESCE(ov.n_both, 0) AS DOUBLE))
        |    / GREATEST(CAST(COALESCE(ov.n_both, 0) AS DOUBLE), 1.0), 4)
        |    AS DECIMAL(28,4)) AS DOUBLE) AS rel_err
        |FROM pr p
        |JOIN eu e USING (type_a, type_b)
        |LEFT JOIN ov USING (type_a, type_b)
        |ORDER BY type_a, type_b""".stripMargin
    },

    "events_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
        |  LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |flagged AS (SELECT *, CASE WHEN prev_ts IS NULL
        |    OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM e),
        |sess AS (SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM flagged)
        |SELECT user_id, session_seq,
        | MIN(ts) AS session_start, MAX(ts) AS session_end,
        | COUNT(*) AS n_events,
        | CAST(ROUND(SUM(CAST(value AS DECIMAL(30,2))), 2) AS DOUBLE) AS sum_value
        |FROM sess GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,

    "events_transitions" ->
      raw"""WITH s AS (SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS from_type
        |  FROM events),
        |c AS (SELECT from_type, event_type AS to_type,
        |    COUNT(*)::BIGINT AS n_transitions
        |  FROM s WHERE from_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n_transitions,
        |  ${ratio4Sql("n_transitions", "(SUM(n_transitions) OVER (PARTITION BY from_type))")} AS prob
        |FROM c ORDER BY from_type, to_type""".stripMargin,

    "events_attribution" ->
      raw"""WITH t AS (SELECT user_id, ts, event_type, value,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |      IGNORE NULLS) OVER w AS t_type,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN ts END
        |      IGNORE NULLS) OVER w AS t_ts
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |p AS (SELECT CASE WHEN t_type IS NULL OR t_ts < ts - INTERVAL 7 DAY
        |      THEN 'direct' ELSE t_type END AS channel, value
        |  FROM t WHERE event_type = 'purchase'),
        |a AS (SELECT channel, COUNT(*)::BIGINT AS n_conversions,
        |    CAST(ROUND(SUM(CAST(value AS DECIMAL(30,2))), 2) AS DOUBLE)
        |      AS attributed_revenue
        |  FROM p GROUP BY channel)
        |SELECT channel, n_conversions, attributed_revenue,
        |  ${ratio4Sql("n_conversions", "SUM(n_conversions) OVER ()")} AS conversion_share
        |FROM a ORDER BY channel""".stripMargin,

    "events_user_features" ->
      raw"""WITH a AS (SELECT user_id,
        |    COUNT(*)::BIGINT AS n_events,
        |    COUNT(DISTINCT event_type)::BIGINT AS n_types,
        |    COUNT(DISTINCT epoch_us(ts) // 86400000000)::BIGINT
        |      AS n_active_days,
        |    MIN(ts) AS first_ts, MAX(ts) AS last_ts,
        |    CAST(ROUND(SUM(CAST(value AS DECIMAL(30,2))), 2) AS DOUBLE)
        |      AS total_value,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_purchases
        |  FROM events GROUP BY user_id)
        |SELECT user_id, n_events, n_types, n_active_days, first_ts, last_ts,
        |  total_value, n_purchases,
        |  (epoch_us(last_ts) - epoch_us(first_ts)) // 86400000000
        |    AS lifespan_days,
        |  ${ratio4Sql("n_events", "GREATEST(n_active_days, 1)")} AS events_per_active_day
        |FROM a ORDER BY user_id""".stripMargin,

    "events_pagerank" ->
      """WITH sq AS (SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS from_type
        |  FROM events),
        |e AS (SELECT from_type, event_type AS to_type, COUNT(*)::BIGINT AS n
        |  FROM sq WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |o AS (SELECT from_type, SUM(n)::BIGINT AS out_n FROM e GROUP BY 1),
        |ew AS (SELECT e.from_type, e.to_type, e.n, o.out_n
        |  FROM e JOIN o USING (from_type)),
        |nodes AS (SELECT DISTINCT node FROM
        |  (SELECT from_type AS node FROM ew UNION ALL SELECT to_type FROM ew)),
        |nn AS (SELECT COUNT(*)::BIGINT AS n_nodes FROM nodes),
        |r0 AS (SELECT node, CAST(1000000000 // n_nodes AS BIGINT) AS rank_ppb
        |  FROM nodes, nn),
        |m1 AS (SELECT ew.to_type AS node,
        |    SUM(CAST(r.rank_ppb AS HUGEINT) * ew.n // ew.out_n) AS in_mass
        |  FROM ew JOIN r0 r ON r.node = ew.from_type GROUP BY 1),
        |r1 AS (SELECT nd.node, CAST(150000000 // nn.n_nodes
        |    + (85 * COALESCE(m1.in_mass, 0)) // 100 AS BIGINT) AS rank_ppb
        |  FROM nodes nd CROSS JOIN nn LEFT JOIN m1 ON m1.node = nd.node),
        |m2 AS (SELECT ew.to_type AS node,
        |    SUM(CAST(r.rank_ppb AS HUGEINT) * ew.n // ew.out_n) AS in_mass
        |  FROM ew JOIN r1 r ON r.node = ew.from_type GROUP BY 1),
        |r2 AS (SELECT nd.node, CAST(150000000 // nn.n_nodes
        |    + (85 * COALESCE(m2.in_mass, 0)) // 100 AS BIGINT) AS rank_ppb
        |  FROM nodes nd CROSS JOIN nn LEFT JOIN m2 ON m2.node = nd.node),
        |m3 AS (SELECT ew.to_type AS node,
        |    SUM(CAST(r.rank_ppb AS HUGEINT) * ew.n // ew.out_n) AS in_mass
        |  FROM ew JOIN r2 r ON r.node = ew.from_type GROUP BY 1),
        |r3 AS (SELECT nd.node, CAST(150000000 // nn.n_nodes
        |    + (85 * COALESCE(m3.in_mass, 0)) // 100 AS BIGINT) AS rank_ppb
        |  FROM nodes nd CROSS JOIN nn LEFT JOIN m3 ON m3.node = nd.node),
        |m4 AS (SELECT ew.to_type AS node,
        |    SUM(CAST(r.rank_ppb AS HUGEINT) * ew.n // ew.out_n) AS in_mass
        |  FROM ew JOIN r3 r ON r.node = ew.from_type GROUP BY 1),
        |r4 AS (SELECT nd.node, CAST(150000000 // nn.n_nodes
        |    + (85 * COALESCE(m4.in_mass, 0)) // 100 AS BIGINT) AS rank_ppb
        |  FROM nodes nd CROSS JOIN nn LEFT JOIN m4 ON m4.node = nd.node),
        |m5 AS (SELECT ew.to_type AS node,
        |    SUM(CAST(r.rank_ppb AS HUGEINT) * ew.n // ew.out_n) AS in_mass
        |  FROM ew JOIN r4 r ON r.node = ew.from_type GROUP BY 1),
        |r5 AS (SELECT nd.node, CAST(150000000 // nn.n_nodes
        |    + (85 * COALESCE(m5.in_mass, 0)) // 100 AS BIGINT) AS rank_ppb
        |  FROM nodes nd CROSS JOIN nn LEFT JOIN m5 ON m5.node = nd.node)
        |SELECT node AS event_type, rank_ppb FROM r5
        |ORDER BY event_type""".stripMargin,

    "events_sequences" ->
      raw"""WITH s AS (SELECT user_id, event_type AS e1,
        |    lead(event_type, 1) OVER w AS e2,
        |    lead(event_type, 2) OVER w AS e3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (SELECT e1, e2, e3, COUNT(*)::BIGINT AS n_seq
        |  FROM s WHERE e3 IS NOT NULL GROUP BY 1, 2, 3),
        |t AS (SELECT SUM(n_seq)::DOUBLE AS total FROM g)
        |SELECT e1, e2, e3, n_seq,
        |  ${ratio4Sql("n_seq", "total")} AS share
        |FROM g, t
        |ORDER BY n_seq DESC, e1, e2, e3 LIMIT 20""".stripMargin,

    "events_json_props" ->
      """SELECT event_type,
        | COUNT(CAST(props->>'k' AS BIGINT)) AS n_with_k,
        | CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
        | MIN(CAST(props->>'k' AS BIGINT)) AS min_k,
        | MAX(CAST(props->>'k' AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "events_value_hist" ->
      """SELECT event_type,
        | floor(value / 25.0) * 25.0 AS bucket_start,
        | COUNT(*)::BIGINT AS n_events
        |FROM events GROUP BY event_type, floor(value / 25.0) * 25.0
        |ORDER BY event_type, bucket_start""".stripMargin,

    "events_moving_avg" ->
      raw"""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events)
        |SELECT user_id, event_id, ts,
        | COUNT(*) OVER w AS n_1h,
        | ${ratio4Sql("(SUM(cents) OVER w)", "(COUNT(*) OVER w) * 100")} AS avg_1h
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY tus
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,

    // Moments as exact integer cents (DuckDB's SUM(BIGINT) is HUGEINT —
    // 128-bit exact, the analog of the Spark side's DECIMAL(38,0));
    // the z arithmetic is the same IEEE sequence in both engines, so
    // the 2.5 boundary is bit-stable.
    "events_zscore_outliers" ->
      """WITH e AS (SELECT event_id, event_type, value,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |st AS (SELECT event_type, COUNT(*)::BIGINT AS n,
        |    SUM(cents) AS s, SUM(cents * cents) AS ss
        |  FROM e GROUP BY event_type),
        |m AS (SELECT event_type, n, s, ss,
        |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        |    CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
        |      - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS var
        |  FROM st),
        |z AS (SELECT e.event_id, e.event_type, e.value,
        |    CASE WHEN m.var > 0
        |      THEN (CAST(e.cents AS DOUBLE) - m.mean) / sqrt(m.var) END AS zv
        |  FROM e JOIN m USING (event_type))
        |SELECT event_id, event_type, value,
        |  CAST(CAST(ROUND(zv, 4) AS DECIMAL(10,4)) AS DOUBLE) AS zscore
        |FROM z WHERE abs(zv) > 2.5
        |ORDER BY event_id""".stripMargin,

    // CUSUM: the oracle replays the recurrence as a recursive CTE in
    // the same pinned IEEE operation order as the CusumSeq kernel.
    "events_cusum" ->
      s"""WITH RECURSIVE
        |$HourlyGridCtes,
        |st AS (SELECT event_type, COUNT(*) AS n, SUM(x) AS sx, SUM(x*x) AS ss
        |  FROM d GROUP BY 1),
        |st2 AS (SELECT event_type,
        |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        |    sqrt(GREATEST(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
        |      - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 0.0)) AS std
        |  FROM st),
        |idx AS (SELECT d.event_type, d.h, d.x, st2.mean, st2.std,
        |    ROW_NUMBER() OVER (PARTITION BY d.event_type ORDER BY d.h) AS i
        |  FROM d JOIN st2 USING (event_type)),
        |rec AS (
        |  SELECT event_type, h, x, mean, std, i,
        |    GREATEST(0.0, 0.0 + ((CAST(x AS DOUBLE) - mean) - 0.5 * std)) AS sp,
        |    GREATEST(0.0, 0.0 + ((mean - CAST(x AS DOUBLE)) - 0.5 * std)) AS sn
        |  FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT idx.event_type, idx.h, idx.x, idx.mean, idx.std, idx.i,
        |    GREATEST(0.0, rec.sp + ((CAST(idx.x AS DOUBLE) - idx.mean) - 0.5 * idx.std)),
        |    GREATEST(0.0, rec.sn + ((idx.mean - CAST(idx.x AS DOUBLE)) - 0.5 * idx.std))
        |  FROM rec JOIN idx ON idx.event_type = rec.event_type AND idx.i = rec.i + 1)
        |SELECT event_type, h AS hour, x AS n_events,
        |  CAST(CAST(ROUND(sp, 4) AS DECIMAL(28,4)) AS DOUBLE) AS cusum_pos,
        |  CAST(CAST(ROUND(sn, 4) AS DECIMAL(28,4)) AS DOUBLE) AS cusum_neg,
        |  (sp > 4.0 * std OR sn > 4.0 * std) AS alarm
        |FROM rec
        |ORDER BY event_type, hour""".stripMargin,

    // Interval join: the oracle states the naive theta-join; the Spark
    // side computes the identical relation through the bucketed
    // equi-join decomposition — the hash gate pins the rewrite exact.
    "events_interval_join" ->
      """WITH w AS (SELECT event_id AS window_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) - 1800000000 AS lo,
        |    epoch_us(CAST(ts AS TIMESTAMP)) + 1800000000 AS hi
        |  FROM events WHERE event_type = 'purchase' AND value >= 250)
        |SELECT w.window_id,
        | COUNT(*) AS n_events,
        | COUNT(DISTINCT e.user_id) AS n_users,
        | CAST(ROUND(SUM(CAST(e.value AS DECIMAL(30,2))), 2) AS DOUBLE) AS sum_value
        |FROM w JOIN (SELECT user_id, value,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS tus FROM events) e
        |  ON e.tus >= w.lo AND e.tus < w.hi
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    "events_asof_prev" ->
      """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        | LAG(event_type) OVER w AS prev_type,
        | LAG(CAST(ts AS TIMESTAMP)) OVER w AS prev_ts,
        | epoch_us(CAST(ts AS TIMESTAMP))
        |   - epoch_us(LAG(CAST(ts AS TIMESTAMP)) OVER w) AS gap_us
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin,

    "events_funnel" ->
      raw"""WITH e AS (SELECT user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS tus
        |  FROM events WHERE event_type IN ('view','click','purchase')),
        |u AS (SELECT user_id,
        |    MIN(CASE WHEN event_type = 'view' THEN tus END) AS t1
        |  FROM e GROUP BY user_id),
        |s2 AS (SELECT e.user_id, MIN(tus) AS t2
        |  FROM e JOIN u USING (user_id)
        |  WHERE event_type = 'click' AND tus > u.t1
        |    AND tus <= u.t1 + 259200000000
        |  GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, MIN(tus) AS t3
        |  FROM e JOIN s2 USING (user_id)
        |  WHERE event_type = 'purchase' AND tus > s2.t2
        |    AND tus <= s2.t2 + 259200000000
        |  GROUP BY e.user_id),
        |n AS (SELECT (SELECT COUNT(t1) FROM u) AS n1,
        |             (SELECT COUNT(*) FROM s2) AS n2,
        |             (SELECT COUNT(*) FROM s3) AS n3)
        |SELECT CAST(1 AS INT) AS step, 'view' AS step_name, n1 AS n_users,
        |  ${ratio4Sql("n1", "GREATEST(n1, 1)")}
        |    AS conversion FROM n
        |UNION ALL
        |SELECT CAST(2 AS INT), 'view>click', n2,
        |  ${ratio4Sql("n2", "GREATEST(n1, 1)")}
        |  FROM n
        |UNION ALL
        |SELECT CAST(3 AS INT), 'view>click>purchase', n3,
        |  ${ratio4Sql("n3", "GREATEST(n1, 1)")}
        |  FROM n
        |ORDER BY step""".stripMargin,

    "events_retention" ->
      raw"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |fw AS (SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
        |  FROM e GROUP BY user_id),
        |cs AS (SELECT cohort_week, COUNT(*) AS cohort_size
        |  FROM fw GROUP BY cohort_week),
        |aw AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM e),
        |m AS (SELECT f.cohort_week,
        |    CAST((epoch_us(a.week) - epoch_us(f.cohort_week)) / 604800000000 AS INT)
        |      AS week_offset,
        |    COUNT(DISTINCT a.user_id) AS n_active
        |  FROM aw a JOIN fw f USING (user_id) GROUP BY 1, 2)
        |SELECT m.cohort_week, m.week_offset, m.n_active,
        |  ${ratio4Sql("m.n_active", "c.cohort_size")}
        |    AS retention_pct
        |FROM m JOIN cs c USING (cohort_week)
        |ORDER BY m.cohort_week, m.week_offset""".stripMargin,

    "events_asof_join" ->
      """WITH p AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id AS c_user_id, event_id AS click_id,
        |  CAST(ts AS TIMESTAMP) AS click_ts
        |  FROM events WHERE event_type = 'click')
        |SELECT p.user_id, p.event_id, p.ts, p.value, c.click_id, c.click_ts,
        | epoch_us(p.ts) - epoch_us(c.click_ts) AS gap_us
        |FROM p LEFT JOIN c ON p.user_id = c.c_user_id AND c.click_ts <= p.ts
        |  AND epoch_us(p.ts) - epoch_us(c.click_ts) <= 604800000000
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY p.event_id
        |  ORDER BY c.click_ts DESC NULLS LAST, c.click_id DESC) = 1
        |ORDER BY p.user_id, p.event_id""".stripMargin,

    "events_asof_next" ->
      """WITH p AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id AS c_user_id, event_id AS click_id,
        |  CAST(ts AS TIMESTAMP) AS click_ts
        |  FROM events WHERE event_type = 'click')
        |SELECT p.user_id, p.event_id, p.ts, p.value, c.click_id, c.click_ts,
        | epoch_us(c.click_ts) - epoch_us(p.ts) AS gap_us
        |FROM p LEFT JOIN c ON p.user_id = c.c_user_id AND c.click_ts >= p.ts
        |  AND epoch_us(c.click_ts) - epoch_us(p.ts) <= 604800000000
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY p.event_id
        |  ORDER BY c.click_ts ASC NULLS LAST, c.click_id ASC) = 1
        |ORDER BY p.user_id, p.event_id""".stripMargin,

    "events_weekend_contrast" ->
      raw"""WITH e AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 + 3) % 7 AS dow
        |  FROM events),
        |a AS (SELECT event_type,
        |    SUM(CASE WHEN dow < 5 THEN 1 ELSE 0 END)::BIGINT AS n_weekday_events,
        |    SUM(CASE WHEN dow >= 5 THEN 1 ELSE 0 END)::BIGINT AS n_weekend_events,
        |    COUNT(DISTINCT CASE WHEN dow < 5 THEN day END)::BIGINT AS n_weekday_days,
        |    COUNT(DISTINCT CASE WHEN dow >= 5 THEN day END)::BIGINT AS n_weekend_days
        |  FROM e GROUP BY 1),
        |r AS (SELECT *,
        |    (100 * n_weekday_events) // GREATEST(n_weekday_days, 1) AS wd100,
        |    (100 * n_weekend_events) // GREATEST(n_weekend_days, 1) AS we100
        |  FROM a)
        |SELECT event_type, n_weekday_events, n_weekend_events,
        | n_weekday_days, n_weekend_days,
        | CAST(wd100 AS DOUBLE) / CAST(100.0 AS DOUBLE) AS weekday_rate,
        | CAST(we100 AS DOUBLE) / CAST(100.0 AS DOUBLE) AS weekend_rate,
        | ${ratio4Sql("we100", "NULLIF(wd100, 0)")} AS weekend_ratio
        |FROM r ORDER BY event_type""".stripMargin,

    "events_streaks" ->
      raw"""WITH ud AS (SELECT DISTINCT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
        |  FROM events),
        |runs AS (SELECT user_id,
        |    day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS rk
        |  FROM ud),
        |st AS (SELECT user_id, rk, COUNT(*)::BIGINT AS len
        |  FROM runs GROUP BY 1, 2),
        |pu AS (SELECT user_id, MAX(len) AS max_streak,
        |    SUM(len) AS active_days FROM st GROUP BY 1),
        |tot AS (SELECT COUNT(*)::BIGINT AS n_users_total FROM pu)
        |SELECT max_streak, COUNT(*)::BIGINT AS n_users,
        | ${ratio4Sql("COUNT(*)", "t.n_users_total")} AS user_share,
        | ${ratio4Sql("SUM(active_days)", "COUNT(*)")} AS mean_active_days
        |FROM pu CROSS JOIN tot t
        |GROUP BY max_streak, t.n_users_total
        |ORDER BY max_streak""".stripMargin,

    // Lifecycle weeks ride the dau_mau epoch-week rule; the wow
    // denominator is NULL unless the prior report row is the prior
    // calendar week.
    "events_user_lifecycle" ->
      raw"""WITH uw AS (SELECT DISTINCT user_id,
        |    (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 + 3) // 7 AS wk
        |  FROM events),
        |st AS (SELECT user_id, wk,
        |    LAG(wk) OVER w AS prev_wk, LEAD(wk) OVER w AS next_wk
        |  FROM uw WINDOW w AS (PARTITION BY user_id ORDER BY wk)),
        |cl AS (SELECT wk,
        |    CASE WHEN prev_wk IS NULL THEN 'new'
        |         WHEN prev_wk = wk - 1 THEN 'retained'
        |         ELSE 'resurrected' END AS state,
        |    (next_wk IS NULL OR next_wk <> wk + 1) AS churning
        |  FROM st),
        |wkly AS (SELECT wk, COUNT(*)::BIGINT AS n_active,
        |    SUM(CASE WHEN state = 'new' THEN 1 ELSE 0 END)::BIGINT AS n_new,
        |    SUM(CASE WHEN state = 'retained' THEN 1 ELSE 0 END)::BIGINT
        |      AS n_retained,
        |    SUM(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END)::BIGINT
        |      AS n_resurrected,
        |    SUM(CASE WHEN churning THEN 1 ELSE 0 END)::BIGINT AS n_churning
        |  FROM cl GROUP BY wk),
        |fin AS (SELECT *, LAG(wk) OVER (ORDER BY wk) AS pwk,
        |    LAG(n_active) OVER (ORDER BY wk) AS pact FROM wkly)
        |SELECT DATE '1970-01-01' + CAST(wk * 7 - 3 AS INT) AS week,
        | n_active, n_new, n_retained, n_resurrected, n_churning,
        | ${ratio4Sql("n_retained",
            "NULLIF(CASE WHEN pwk = wk - 1 THEN pact END, 0)")} AS wow_retention
        |FROM fin ORDER BY week""".stripMargin,

    // TVD drift: every cross-multiple rides HUGEINT (the DECIMAL(38,0)
    // stand-in), mirroring the Spark side's decimal casts; the 0.1
    // alarm compares the SAME ratio4-presented double in both engines.
    "events_dist_drift" ->
      raw"""WITH e AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    CAST(floor(value / 25.0) AS BIGINT) AS bucket
        |  FROM events),
        |b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM e),
        |cells AS (SELECT event_type, bucket,
        |    SUM(CASE WHEN day > (lo + hi) // 2 THEN 0 ELSE 1 END)::BIGINT AS c1,
        |    SUM(CASE WHEN day > (lo + hi) // 2 THEN 1 ELSE 0 END)::BIGINT AS c2
        |  FROM e, b GROUP BY 1, 2),
        |sc AS (SELECT event_type, bucket, c1, c2,
        |    SUM(c1) OVER (PARTITION BY event_type) AS n1,
        |    SUM(c2) OVER (PARTITION BY event_type) AS n2,
        |    abs(CAST(c1 AS HUGEINT) * SUM(c2) OVER (PARTITION BY event_type)
        |      - CAST(c2 AS HUGEINT) * SUM(c1) OVER (PARTITION BY event_type)) AS m
        |  FROM cells),
        |ag AS (SELECT event_type, CAST(MAX(n1) AS BIGINT) AS n1,
        |    CAST(MAX(n2) AS BIGINT) AS n2,
        |    COUNT(*)::BIGINT AS n_buckets, SUM(m) AS mm
        |  FROM sc GROUP BY 1),
        |tp AS (SELECT event_type, bucket, m FROM (
        |    SELECT event_type, bucket, m,
        |      ROW_NUMBER() OVER (PARTITION BY event_type
        |        ORDER BY m DESC, bucket) AS rn
        |    FROM sc) WHERE rn = 1)
        |SELECT a.event_type, a.n1, a.n2, a.n_buckets,
        | ${ratio4Sql("a.mm",
            "NULLIF(2 * CAST(a.n1 AS HUGEINT) * CAST(a.n2 AS HUGEINT), 0)")} AS tvd,
        | (${ratio4Sql("a.mm",
            "NULLIF(2 * CAST(a.n1 AS HUGEINT) * CAST(a.n2 AS HUGEINT), 0)")} >= 0.1)
        |   AS drifted,
        | CAST(t.bucket AS DOUBLE) * 25.0 AS top_bucket,
        | ${ratio4Sql("t.m",
            "NULLIF(CAST(a.n1 AS HUGEINT) * CAST(a.n2 AS HUGEINT), 0)")} AS top_shift
        |FROM ag a JOIN tp t USING (event_type)
        |ORDER BY a.event_type""".stripMargin,

    "events_dau_mau" ->
      raw"""WITH e AS (SELECT
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 + 3) // 7 AS wk,
        |    year(CAST(ts AS TIMESTAMP)) * 12 + month(CAST(ts AS TIMESTAMP)) AS mon,
        |    user_id FROM events),
        |d AS (SELECT day, MAX(wk) AS wk, MAX(mon) AS mon,
        |    COUNT(DISTINCT user_id)::BIGINT AS dau FROM e GROUP BY 1),
        |w AS (SELECT wk, COUNT(DISTINCT user_id)::BIGINT AS wau FROM e GROUP BY 1),
        |m AS (SELECT mon, COUNT(DISTINCT user_id)::BIGINT AS mau FROM e GROUP BY 1)
        |SELECT CAST(DATE '1970-01-01' + CAST(day AS INT) AS DATE) AS day,
        | dau, wau, mau,
        | ${ratio4Sql("dau", "wau")} AS dau_wau,
        | ${ratio4Sql("dau", "mau")} AS dau_mau
        |FROM d JOIN w USING (wk) JOIN m USING (mon) ORDER BY day""".stripMargin,

    "events_sessionize_native" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
        |  LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |flagged AS (SELECT *, CASE WHEN prev_ts IS NULL
        |    OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM e),
        |sess AS (SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM flagged)
        |SELECT user_id,
        | MIN(ts) AS session_start, MAX(ts) AS session_end,
        | COUNT(*) AS n_events,
        | CAST(ROUND(SUM(CAST(value AS DECIMAL(30,2))), 2) AS DOUBLE) AS sum_value
        |FROM sess GROUP BY user_id, session_seq
        |ORDER BY user_id, session_start""".stripMargin,

    "events_session_stats" ->
      raw"""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |  LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |flagged AS (SELECT *, CASE WHEN prev_ts IS NULL
        |    OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM e),
        |sess AS (SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM flagged),
        |s AS (SELECT user_id, session_seq, COUNT(*)::BIGINT AS n_events,
        |    (epoch_us(MAX(ts)) - epoch_us(MIN(ts)))::BIGINT AS dur_us
        |  FROM sess GROUP BY 1, 2),
        |byn AS (SELECT n_events, COUNT(*)::BIGINT AS n_sessions,
        |    SUM(dur_us)::BIGINT AS sum_us FROM s GROUP BY 1),
        |t AS (SELECT SUM(n_sessions)::BIGINT AS total_sessions FROM byn)
        |SELECT n_events, n_sessions,
        | ${ratio4Sql("n_sessions", "total_sessions")}
        |   AS session_share,
        | CAST(sum_us // 1000000 AS BIGINT) AS total_duration_s,
        | CAST(CAST(sum_us // n_sessions AS BIGINT) AS DOUBLE)
        |   / CAST(1000000.0 AS DOUBLE) AS avg_duration_s
        |FROM byn CROSS JOIN t ORDER BY n_events""".stripMargin,

    "events_conversion_lag" ->
      raw"""WITH e AS (SELECT user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS tus
        |  FROM events WHERE event_type IN ('view','click')),
        |u AS (SELECT user_id,
        |    MIN(CASE WHEN event_type = 'view' THEN tus END) AS t1
        |  FROM e GROUP BY user_id),
        |s2 AS (SELECT e.user_id, MIN(tus) AS t2
        |  FROM e JOIN u USING (user_id)
        |  WHERE event_type = 'click' AND tus > u.t1
        |    AND tus <= u.t1 + 259200000000
        |  GROUP BY e.user_id),
        |lags AS (SELECT (t2 - t1) // 3600000000 AS lag_hours
        |  FROM s2 JOIN u USING (user_id)),
        |t AS (SELECT COUNT(*)::BIGINT AS n_converters FROM lags)
        |SELECT CAST(lag_hours AS BIGINT) AS lag_hours,
        | COUNT(*)::BIGINT AS n_users,
        | ${ratio4Sql("COUNT(*)", "ANY_VALUE(n_converters)")} AS share
        |FROM lags CROSS JOIN t GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_session_mix" ->
      raw"""WITH e AS (SELECT user_id, event_id, event_type,
        |  CAST(ts AS TIMESTAMP) AS ts,
        |  LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |flagged AS (SELECT *, CASE WHEN prev_ts IS NULL
        |    OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM e),
        |sess AS (SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM flagged),
        |s AS (SELECT user_id, session_seq,
        |    string_agg(DISTINCT event_type, '+' ORDER BY event_type) AS mix,
        |    COUNT(*)::BIGINT AS n_events
        |  FROM sess GROUP BY 1, 2),
        |t AS (SELECT COUNT(*)::BIGINT AS total_sessions FROM s)
        |SELECT mix, COUNT(*)::BIGINT AS n_sessions,
        | ${ratio4Sql("COUNT(*)", "ANY_VALUE(total_sessions)")} AS session_share,
        | CAST(CAST((100 * SUM(n_events)) // COUNT(*) AS BIGINT) AS DOUBLE)
        |   / CAST(100.0 AS DOUBLE) AS avg_events
        |FROM s CROSS JOIN t GROUP BY mix ORDER BY mix""".stripMargin,

    "events_growth_curve" ->
      raw"""WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    user_id FROM events),
        |fd AS (SELECT user_id, MIN(day) AS day FROM e GROUP BY 1),
        |nb AS (SELECT day, COUNT(*)::BIGINT AS new_users FROM fd GROUP BY 1),
        |d AS (SELECT day, COUNT(*)::BIGINT AS dau
        |  FROM (SELECT DISTINCT day, user_id FROM e) GROUP BY 1),
        |j AS (SELECT d.day, COALESCE(new_users, 0)::BIGINT AS new_users, dau
        |  FROM d LEFT JOIN nb ON d.day = nb.day),
        |c AS (SELECT *, CAST(SUM(new_users) OVER (ORDER BY day) AS BIGINT)
        |    AS cum_users FROM j)
        |SELECT CAST(DATE '1970-01-01' + CAST(day AS INT) AS DATE) AS day,
        | new_users, dau - new_users AS returning_users, dau, cum_users,
        | ${ratio4Sql("dau", "cum_users")} AS active_share
        |FROM c ORDER BY day""".stripMargin,

    "events_activity_islands" ->
      """WITH h AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr,
        |    COUNT(*)::BIGINT AS c FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, SUM(c)::BIGINT AS n_ev,
        |    (MAX(hr) - MIN(hr) + 1)::BIGINT AS hh FROM h GROUP BY 1),
        |hot AS (SELECT h.event_type, hr, c FROM h JOIN m
        |  ON h.event_type = m.event_type WHERE c * hh > n_ev),
        |runs AS (SELECT *, hr - row_number() OVER (
        |    PARTITION BY event_type ORDER BY hr) AS run_key FROM hot)
        |SELECT event_type,
        | make_timestamp(MIN(hr) * 3600000000) AS island_start,
        | make_timestamp((MAX(hr) + 1) * 3600000000) AS island_end,
        | COUNT(*)::BIGINT AS n_hours, SUM(c)::BIGINT AS n_events
        |FROM runs GROUP BY event_type, run_key
        |ORDER BY event_type, island_start""".stripMargin,

    "events_autocorr" ->
      """WITH h AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr,
        |    COUNT(*)::BIGINT AS c FROM events GROUP BY 1, 2),
        |adj AS (SELECT a.event_type, SUM(a.c * b.c)::BIGINT AS sxy
        |  FROM h a JOIN h b ON a.event_type = b.event_type AND b.hr = a.hr + 1
        |  GROUP BY 1),
        |m AS (SELECT event_type, SUM(c)::BIGINT AS n_ev,
        |    (MAX(hr) - MIN(hr) + 1)::BIGINT AS hh,
        |    SUM(c * c)::BIGINT AS sc2,
        |    MIN(hr) AS hr0, MAX(hr) AS hr1 FROM h GROUP BY 1),
        |e AS (SELECT h.event_type,
        |    SUM(CASE WHEN hr = hr0 THEN c ELSE 0 END)::BIGINT AS c_first,
        |    SUM(CASE WHEN hr = hr1 THEN c ELSE 0 END)::BIGINT AS c_last
        |  FROM h JOIN m ON h.event_type = m.event_type GROUP BY 1)
        |SELECT m.event_type, n_ev AS n_events, hh AS n_hours,
        | CAST(CAST(ROUND(
        |   CAST((hh - 1) * COALESCE(sxy, 0)
        |     - (n_ev - c_last) * (n_ev - c_first) AS DOUBLE) /
        |   NULLIF(SQRT(CAST((hh - 1) * (sc2 - c_last * c_last)
        |      - (n_ev - c_last) * (n_ev - c_last) AS DOUBLE)) *
        |    SQRT(CAST((hh - 1) * (sc2 - c_first * c_first)
        |      - (n_ev - c_first) * (n_ev - c_first) AS DOUBLE)), 0.0), 4)
        |   AS DECIMAL(10,4)) AS DOUBLE) AS lag1_autocorr
        |FROM m LEFT JOIN adj ON m.event_type = adj.event_type
        |JOIN e ON m.event_type = e.event_type
        |WHERE hh > 2 ORDER BY m.event_type""".stripMargin,

    "events_winsorized" ->
      """WITH ev AS (SELECT event_type,
        |    CAST(ROUND(value * 100, 0) AS BIGINT) AS cents FROM events),
        |h AS (SELECT event_type, cents // 1000 AS gb, cents,
        |    COUNT(*)::BIGINT AS cnt FROM ev GROUP BY 1, 2, 3),
        |o AS (SELECT event_type, gb, SUM(cnt)::BIGINT AS bc FROM h GROUP BY 1, 2),
        |o2 AS (SELECT *,
        |    SUM(bc) OVER (PARTITION BY event_type ORDER BY gb) - bc AS boff,
        |    SUM(bc) OVER (PARTITION BY event_type) AS n FROM o),
        |cum AS (SELECT h.event_type, h.cents, boff
        |    + SUM(cnt) OVER (PARTITION BY h.event_type, h.gb ORDER BY h.cents) AS cum, n
        |  FROM h JOIN o2 ON h.event_type = o2.event_type AND h.gb = o2.gb),
        |cuts AS (SELECT event_type,
        |    MAX(CASE WHEN (20 * cum + n - 1) // n <= 1 THEN cents END) AS c_lo,
        |    MAX(CASE WHEN (20 * cum + n - 1) // n <= 19 THEN cents END) AS c_hi
        |  FROM cum GROUP BY 1),
        |cl AS (SELECT ev.event_type, cents, c_lo, c_hi,
        |    GREATEST(LEAST(cents, COALESCE(c_hi, 9223372036854775807)),
        |      COALESCE(c_lo, -9223372036854775808)) AS w
        |  FROM ev JOIN cuts USING (event_type)),
        |a AS (SELECT event_type, COUNT(*)::BIGINT AS n_events,
        |    SUM(cents)::BIGINT AS sum_c, SUM(w)::BIGINT AS sum_w,
        |    SUM(CASE WHEN w > cents THEN 1 ELSE 0 END)::BIGINT AS n_clamped_low,
        |    SUM(CASE WHEN w < cents THEN 1 ELSE 0 END)::BIGINT AS n_clamped_high,
        |    ANY_VALUE(c_lo) AS c_lo, ANY_VALUE(c_hi) AS c_hi
        |  FROM cl GROUP BY 1)
        |SELECT event_type, n_events,
        | CAST(CAST((100 * sum_c) // n_events AS BIGINT) AS DOUBLE)
        |   / CAST(10000.0 AS DOUBLE) AS mean_value,
        | CAST(CAST((100 * sum_w) // n_events AS BIGINT) AS DOUBLE)
        |   / CAST(10000.0 AS DOUBLE) AS winsorized_mean,
        | CAST(c_lo AS DOUBLE) / CAST(100.0 AS DOUBLE) AS p5_cut,
        | CAST(c_hi AS DOUBLE) / CAST(100.0 AS DOUBLE) AS p95_cut,
        | n_clamped_low, n_clamped_high
        |FROM a ORDER BY event_type""".stripMargin,

    "events_hhi" ->
      raw"""WITH pu AS (SELECT event_type, user_id, COUNT(*)::BIGINT AS c
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT event_type, SUM(c)::BIGINT AS n_events,
        |    COUNT(*)::BIGINT AS n_users, SUM(c * c)::BIGINT AS sum_c2
        |  FROM pu GROUP BY 1)
        |SELECT event_type, n_events, n_users,
        | ${ratio4Sql("sum_c2", "n_events * n_events")}
        |   AS hhi,
        | ${ratio4Sql("n_events * n_events", "sum_c2")}
        |   AS effective_users
        |FROM a ORDER BY event_type""".stripMargin,

    "events_burstiness" ->
      raw"""WITH h AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr,
        |    COUNT(*)::BIGINT AS c
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT event_type, SUM(c)::BIGINT AS n_events,
        |    (MAX(hr) - MIN(hr) + 1)::BIGINT AS n_hours,
        |    COUNT(*)::BIGINT AS n_active_hours,
        |    SUM(c * c)::BIGINT AS sum_c2
        |  FROM h GROUP BY 1)
        |SELECT event_type, n_events, n_hours, n_active_hours,
        | ${ratio4Sql("(n_hours * sum_c2 - n_events * n_events)", "(n_hours - 1) * n_events")} AS fano,
        | CAST((10000 * n_events) // n_hours AS BIGINT) / CAST(10000.0 AS DOUBLE)
        |   AS mean_per_hour
        |FROM a WHERE n_hours > 1 ORDER BY event_type""".stripMargin
  )
}
