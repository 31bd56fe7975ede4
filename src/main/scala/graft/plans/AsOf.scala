package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.AsOfJoinApi

import graft.sources.Tables

/** As-of join operator (SURVEY §2.3) — the engine's one full
  * custom-operator stack (logical node + planner strategy + physical
  * merge exec, see [[org.apache.spark.sql.graftbridge.AsOfJoinExec]]).
  */
object AsOf {

  /** Each left row joined to one right row of the same key, picked by
    * `direction` — `backward` (latest rightTime ≤ leftTime, the
    * default), `forward` (earliest rightTime ≥ leftTime), or `nearest`
    * (closer of the two; exact-distance ties keep backward) — within
    * `toleranceUs` when ≥ 0; left-outer semantics. Both sides are
    * co-partitioned by key and merge-scanned in time order — one
    * shuffle each, O(1) state for every direction. NULL key/time rows
    * never match (left passes through unmatched, right is skipped);
    * `rightSeq` pins the winner among equal (key, time) right rows
    * (largest seq backward, smallest forward).
    * `allowExactMatches = false` makes both inequalities strict
    * (pandas merge_asof's flag): equal-time right rows are never
    * matched — backward takes the latest strictly-earlier row,
    * forward the earliest strictly-later one. */
  def asofJoin(
      left: DataFrame, right: DataFrame,
      leftKeys: Seq[Column], rightKeys: Seq[Column],
      leftTime: Column, rightTime: Column,
      toleranceUs: Long = -1L,
      rightSeq: Seq[Column] = Nil,
      direction: String = "backward",
      allowExactMatches: Boolean = true): DataFrame =
    AsOfJoinApi.asofJoin(left, right, leftKeys, rightKeys, leftTime, rightTime,
      toleranceUs, rightSeq, direction, allowExactMatches)

  /** #32b events_asof_join: every purchase matched to the user's latest
    * click no more than 7 days earlier (attribution-window semantics). */
  def eventsAsofJoin(spark: SparkSession, dir: String): DataFrame =
    purchaseClicks(spark, dir, "backward")

  /** #32i events_asof_next: every purchase matched to the user's
    * EARLIEST click no more than 7 days later — the forward direction
    * of the same custom merge exec (post-purchase re-engagement
    * attribution). Same plan shape as [[eventsAsofJoin]]: co-partition
    * on user_id, per-partition merge, O(1) state. */
  def eventsAsofNext(spark: SparkSession, dir: String): DataFrame =
    purchaseClicks(spark, dir, "forward")

  /** Every purchase matched to one click of the same user within 7 days
    * in `direction`, with `gap_us` the non-negative distance between
    * the two (purchase − click backward, click − purchase forward). */
  private def purchaseClicks(
      spark: SparkSession, dir: String, direction: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val tolUs = 7L * 24 * 3600 * 1000000L
    val (later, earlier) =
      if (direction == "forward") ("click_ts", "ts") else ("ts", "click_ts")
    asofJoin(
      purchases, clicks,
      Seq(purchases("user_id")), Seq(clicks("c_user_id")),
      purchases("ts"), clicks("click_ts"), tolUs,
      rightSeq = Seq(clicks("click_id")),
      direction = direction)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"),
        col("click_id"), col("click_ts"),
        (unix_micros(col(later)) - unix_micros(col(earlier))).as("gap_us"))
      .orderBy(col("user_id"), col("event_id"))
  }
}
