package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import graft.functions.OracleSort._
import org.apache.spark.sql.functions._

/** Window functions, ranking, top-k (SURVEY §2.E/F).
  *
  * The reference's global `.sortBy(-count)` rankings and per-question top-1
  * answer [ref: wikipedia/…/WikipediaRanking.scala,
  * stackoverflow/…/StackOverflow.scala#scoredPostings] generalize to window
  * functions. Scale note: window partitions shuffle by the partition key;
  * all keys here (nation, user, customer) have bounded per-key cardinality,
  * so no single partition can blow up at 100 TB. Global top-k compiles to
  * `TakeOrderedAndProject` (per-partition heaps, no global sort).
  */
object Windows {

  /** E9 `window_share` (round 7): ratio-to-report — each priority's share
    * of total revenue, the percentage column every BI rollup carries. The
    * textbook encoding is `sum() over ()`, an UNPARTITIONED window; this
    * implementation is the scale-correct form: the grand total is ONE
    * exact-decimal scalar aggregate broadcast back onto the (already
    * bounded) group rows (`ScalarAttach`), so no global window exists in
    * the plan at all and both operands of the share division are the same
    * exact decimals in both engines. Per-group revenue is the `agg_avg`
    * money discipline.
    */
  def windowShare(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{Num, ScalarAttach}
    import ScalarAttach._
    val g = Tables.orders(s, dir)
      .groupBy("o_orderpriority")
      .agg(sum(Num.dec2(col("o_totalprice"))).as("rev_dec"),
        count(lit(1)).as("n_orders"))
      // round-17: g feeds the grand-total aggregate AND the share rows —
      // cut so the orders scan+agg runs once (guide §2.4)
      .localCheckpoint(eager = false)
    g.attachScalarRow(
        g.agg(sum("rev_dec").as("total_dec")))
      .select(col("o_orderpriority"), col("n_orders"),
        Num.money(col("rev_dec")).as("revenue"),
        round(col("rev_dec").cast("double") / col("total_dec").cast("double"), 6)
          .as("share"))
      .oracleSorted("o_orderpriority")
  }

  /** E1: rank within group — suppliers by account balance within nation. */
  def windowRank(s: SparkSession, dir: String): DataFrame =
    Tables.supplier(s, dir)
      .withColumn("rnk",
        rank().over(Window.partitionBy("s_nationkey").orderBy(desc("s_acctbal"))))
      .select("s_nationkey", "s_suppkey", "s_name", "s_acctbal", "rnk")
      .oracleSorted("s_nationkey", "rnk", "s_suppkey")

  /** E2: per-group top-1 — highest-value event per user
    * [ref: stackoverflow/…/StackOverflow.scala#scoredPostings as window].
    */
  def windowTop1(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id").orderBy(desc("value"), asc("event_id"))))
      .filter(col("rn") === 1)
      .select("user_id", "event_id", "value")
      .oracleSorted("user_id")

  /** E3: frame-spec analytics — running revenue and lag delta per customer. */
  def windowRunning(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    Tables.orders(s, dir)
      .select(
        col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        round(sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
          .as("running_total"),
        round(col("o_totalprice") - coalesce(lag("o_totalprice", 1).over(w), lit(0.0)), 2)
          .as("delta_prev"))
      .oracleSorted("o_custkey", "o_orderdate", "o_orderkey")
  }

  /** E5: value-based (RANGE) frame — for each order, how many of the same
    * customer's orders fall within $500 below its total, and their summed
    * value. RANGE frames bound by the ORDER BY *value*, not row position,
    * and include all peer rows of the frame edge — so the result is
    * deterministic under ties with no tiebreak needed (the property ROWS
    * frames lack). Sum through exact decimals per [[graft.functions.Num]].
    */
  def windowRange(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_totalprice")
      .rangeBetween(-500, Window.currentRow)
    Tables.orders(s, dir)
      .select(
        col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        count(lit(1)).over(w).as("n_near"),
        graft.functions.Num.money(
          sum(graft.functions.Num.dec2(col("o_totalprice"))).over(w)).as("near_total"))
      .oracleSorted("o_custkey", "o_totalprice", "o_orderkey")
  }

  /** E4: distribution analytics — quartile bucket, percent_rank and
    * cume_dist of supplier balances within each nation. The window's ORDER
    * BY carries an explicit tiebreak (`s_suppkey`) so every rank is a total
    * order; percent_rank/cume_dist then reduce to integer ratios
    * `(rank-1)/(n-1)` and `row/n`, which both engines compute as one IEEE
    * division of identical integers — bit-identical without rounding.
    */
  def windowNtile(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("s_nationkey").orderBy(desc("s_acctbal"), asc("s_suppkey"))
    Tables.supplier(s, dir)
      .select(
        col("s_nationkey"), col("s_suppkey"), col("s_acctbal"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cdist"))
      .oracleSorted("s_nationkey", "s_suppkey")
  }

  /** E7 `window_moving` (round 6): bounded ROWS-frame moving aggregate —
    * the 4-order trailing average per customer (3 preceding + current).
    * The bounded frame is the one window shape the family didn't cover
    * (running = unbounded-preceding, range = value-bounded); its state is
    * O(frame) per row, so the window cost is flat regardless of partition
    * size. The average is computed over integer CENTS with two pinned IEEE
    * divisions and NO terminal rounding (the `window_ntile` discipline) —
    * a `round(double, 2)` here landed on the `.xx5` boundary where the two
    * engines' rounding modes differ (observed: 278348.17 vs .16).
    */
  def windowMoving(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(-3, Window.currentRow)
    val cents = round(col("o_totalprice") * 100, 0).cast("long")
    Tables.orders(s, dir)
      .select(
        col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        ((sum(cents).over(w).cast("double") / count(lit(1)).over(w)) / 100)
          .as("trailing_avg"),
        count(lit(1)).over(w).as("n_window"))
      .oracleSorted("o_custkey", "o_orderdate", "o_orderkey")
  }

  /** Trailing-frame length for `window_ewma` (current row + 15 prior). */
  val EwmaFrame = 16

  /** E10 `window_ewma` (round 10): exponentially weighted moving average —
    * the smoothing every monitoring/forecasting readout applies where the
    * plain trailing mean (`window_moving`) reacts too slowly. Per customer
    * over (o_orderdate, o_orderkey): EWMA with α = 1/2 over the trailing
    * 16-row frame, ewma = Σ x_j·2^-j / Σ 2^-j (j = rows back from current).
    *
    * Cross-engine exactness: the numerator is a LEFT FOLD `acc/2 + x` over
    * the frame's cent values (oldest → newest) — halving a dyadic double
    * and adding an integer are both IEEE-exact, so every intermediate is
    * exact and the fold sequence is replayed verbatim by DuckDB's
    * `list_reduce` (a prepended 0.0 aligns its first-element init with
    * Spark's explicit zero). The denominator runs the SAME fold over a
    * ones-list (never a `pow` call whose libm rounding could differ), and
    * the two terminal divisions are single IEEE ops — bit-identical in
    * both engines, no rounding needed at the edge.
    *
    * Scale: per-customer window partitions are bounded; the collected
    * frame is O(16) per row — constant memory, one shuffle by customer,
    * same cost class as `window_moving`.
    */
  def windowEwma(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(-(EwmaFrame - 1), Window.currentRow)
    val cents = round(col("o_totalprice") * 100, 0).cast("long")
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        collect_list(cents.cast("double")).over(w).as("frame"))
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        (expr("aggregate(frame, 0D, (acc, x) -> acc / 2D + x)") /
          expr("aggregate(transform(frame, x -> 1D), 0D, (acc, x) -> acc / 2D + x)")
          / 100).as("ewma"))
      .oracleSorted("o_custkey", "o_orderdate", "o_orderkey")
  }

  /** E8 `trend_period` (round 7): period-over-period trend — the BI
    * readout behind every "revenue vs yesterday / vs last week" tile.
    * Day-grain revenue (exact decimals), then day-over-day and 7-day
    * deltas as percentages via `lag` over the day axis.
    *
    * The lag window is global but runs POST-AGGREGATION over ≤ calendar
    * days (the `rank_tokens` bounded-window justification — the heavy
    * work is the partial-agg groupBy, whose shuffle carries one row per
    * day per task). First-day/week rows carry NULL pcts (no prior
    * period) — numeric NULLs cross the gate fine.
    */
  def trendPeriod(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("day")
    Tables.orders(s, dir)
      .groupBy(date_trunc("DAY", col("o_orderdate")).as("day"))
      .agg(graft.functions.Num.money(
          sum(graft.functions.Num.dec2(col("o_totalprice")))).as("revenue"),
        count(lit(1)).as("n_orders"))
      .withColumn("prev_d", lag("revenue", 1).over(w))
      .withColumn("prev_w", lag("revenue", 7).over(w))
      .select(col("day"), col("revenue"), col("n_orders"),
        round((col("revenue") - col("prev_d")) / col("prev_d") * 100, 4).as("dod_pct"),
        round((col("revenue") - col("prev_w")) / col("prev_w") * 100, 4).as("wow_pct"))
      .oracleSorted("day")
  }

  /** F3: global top-k — plans as TakeOrderedAndProject (asserted in spec). */
  def topk(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy("o_custkey")
      .agg(graft.functions.Num.money(sum(graft.functions.Num.dec2(col("o_totalprice")))).as("revenue"))
      .orderBy(desc("revenue"), asc("o_custkey"))
      .limit(10)
}
