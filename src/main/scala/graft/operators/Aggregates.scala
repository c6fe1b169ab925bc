package graft.operators

import graft.{Staging, Tables}
import graft.functions.{Num, TypedAvg}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.functions.OracleSort._
import org.apache.spark.sql.functions._

/** Aggregation family (SURVEY §2.D).
  *
  * The reference teaches partial aggregation manually (naive rescan vs
  * `groupByKey` vs `reduceByKey` [ref: wikipedia/…/WikipediaRanking.scala]);
  * every `groupBy` below gets the same map-side combine automatically from
  * Catalyst (`HashAggregate(partial) → Exchange → HashAggregate(final)`),
  * which is the property that makes these queries hold at 100 TB: shuffle
  * volume is proportional to group cardinality, not input rows.
  */
object Aggregates {

  /** D7 flagship — TPC-H Q1 shape: the reference's `timeUsageGrouped`
    * capability (groupBy + avg + round + multi-col orderBy)
    * [ref: timeusage/…/TimeUsage.scala#timeUsageGrouped].
    */
  def aggAvg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        Num.money(sum(Num.dec2(col("l_extendedprice")))).as("sum_base_price"),
        Num.money(sum(Num.discounted(col("l_extendedprice"), col("l_discount")))).as("sum_disc_price"),
        Num.money(sum(Num.charged(col("l_extendedprice"), col("l_discount"), col("l_tax")))).as("sum_charge"),
        round(avg("l_quantity"), 2).as("avg_qty"),
        round(sum(Num.dec2(col("l_extendedprice"))).cast("double") / count(lit(1)), 2).as("avg_price"),
        round(sum(Num.rate2(col("l_discount"))).cast("double") / count(lit(1)), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .oracleSorted("l_returnflag", "l_linestatus")

  /** D8: the same aggregation through the SQL string entry point
    * [ref: timeusage/…/TimeUsage.scala#timeUsageGroupedSql]. The typed
    * Aggregator is registered via `udaf(...)` and exercised from SQL here
    * (SURVEY §2.L promise): `graft_avg` is TypedAvg — cents-exact, so it
    * reproduces the oracle's DECIMAL average bit-for-bit.
    */
  def aggSql(s: SparkSession, dir: String): DataFrame = {
    s.udf.register("graft_avg",
      org.apache.spark.sql.functions.udaf(TypedAvg.ofDouble, org.apache.spark.sql.Encoders.scalaDouble))
    Tables.orders(s, dir).createOrReplaceTempView("graft_orders")
    s.sql("""
      SELECT o_orderstatus,
             round(graft_avg(o_totalprice), 2) AS avg_total,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_total,
             count(1) AS n_orders
      FROM graft_orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus""")
  }

  /** D1: single-pass conditional counts — the reference's
    * `rdd.aggregate(0)((a,x) => a + if(pred))` re-expressed as
    * `count(when(...))` so one scan yields every counter
    * [ref: wikipedia/…/WikipediaRanking.scala#occurrencesOfLang].
    */
  def aggCondCount(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .agg(
        count(when(col("event_type") === "click", 1)).as("n_click"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchase"),
        count(when(col("event_type") === "view", 1)).as("n_view"),
        count(when(col("event_type") === "error", 1)).as("n_error"),
        count(when(col("event_type") === "signup", 1)).as("n_signup"),
        count(lit(1)).as("n_total"))

  /** D6: max-per-group [ref: stackoverflow/…/StackOverflow.scala#scoredPostings]. */
  def aggMaxGroup(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_orderkey")
      .agg(round(max("l_extendedprice"), 2).as("max_price"),
           count(lit(1)).as("n_lines"))
      .oracleSorted("l_orderkey")

  /** D13: exact distinct counting. */
  def aggDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users"),
           count(lit(1)).as("n_events"))
      .oracleSorted("event_type")

  /** D13b: HLL approximate distinct — the 100 TB path where exact
    * `countDistinct`'s shuffle of every key is unaffordable. The sketch
    * VALUE is HLL++-specific (DuckDB's approx_count_distinct is a different
    * HLL), so the gate uses the agg_countmin laws-as-columns discipline
    * (round 13): emit the exact count plus a COMPUTED `bound_ok` flag —
    * |estimate − exact| within `ApproxDistinctBound` of exact — against the
    * oracle's literal 1. The estimate is deterministic (hash registers, no
    * RNG), so the flag is stable at any parallelism; an estimator drift
    * past the published-rsd-derived bound flips the flag and breaks the
    * hash. The exact twin exists ONLY to gate the sketch — at 100 TB a
    * user runs the estimate alone.
    */
  def aggApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    // the sketch and the exact twin aggregate SEPARATELY and join on the
    // 6-row result: a combined agg plans through Expand, which carries the
    // ~16 KB rsd=0.01 HLL++ buffer per (type, user) PARTIAL-AGG KEY — at
    // 100× that spilled 113 GB / 43 s; split, the sketch buffer exists per
    // TYPE only and the exact arm is a plain (type, user) dedup-count
    // (measured 43.4 → 1.7 s, zero spill)
    val approx = ev.groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), ApproxDistinctRsd).as("est"))
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users_exact"))
    approx.join(exact, "event_type")
      .select(col("event_type"), col("n_users_exact"),
        when(abs(col("est") - col("n_users_exact")) <=
          greatest(lit(2L), (col("n_users_exact") * ApproxDistinctBound).cast("long")),
          lit(1)).otherwise(lit(0)).as("bound_ok"))
      .oracleSorted("event_type")
  }

  /** HLL++ relative standard deviation requested from
    * `approx_count_distinct`, and the gate bound: 5σ of the published rsd
    * (plus a ±2 absolute floor for tiny groups) — generous enough to never
    * trip on estimator variance, tight enough that a broken sketch (wrong
    * merge, truncated registers) cannot pass.
    */
  val ApproxDistinctRsd = 0.01
  val ApproxDistinctBound: Double = 5 * ApproxDistinctRsd

  /** D11: exact median per group
    * [ref: stackoverflow/…/StackOverflow.scala#clusterResults].
    */
  def aggMedian(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy("o_orderpriority")
      .agg((median(round(col("o_totalprice") * 100, 0).cast("long")) / 100).as("median_total"),
           count(lit(1)).as("n"))
      .oracleSorted("o_orderpriority")

  /** D12: dominant value per group with deterministic tiebreak (count desc,
    * then value asc) — `mode()` leaves ties engine-defined, so we use the
    * two-level count + max_by form the oracle can reproduce exactly
    * [ref: stackoverflow/…/StackOverflow.scala#clusterResults].
    */
  def aggMode(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.events(s, dir)
      .groupBy((col("user_id") % 10).as("user_bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("user_bucket").orderBy(desc("n"), asc("event_type"))
    counts
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_bucket"), col("event_type").as("top_type"), col("n").as("top_n"))
      .oracleSorted("user_bucket")
  }

  /** D14: rollup over the Q1 grouping. */
  def aggRollup(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      // compute the per-row decimal money expression BEFORE the rollup:
      // Expand replicates each row once per grouping set (3× here), and an
      // aggregate-side expression would be re-evaluated per replica —
      // projecting first makes Expand copy the value instead (measured
      // ~2.6× on this query's steady-state)
      .withColumn("disc", Num.discounted(col("l_extendedprice"), col("l_discount")))
      .rollup("l_returnflag", "l_linestatus")
      .agg(Num.money(sum(col("disc"))).as("revenue"),
           count(lit(1)).as("n"))
      .oracleSorted(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** D14b: cube over the same grouping. */
  def aggCube(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(round(sum("l_quantity"), 2).as("sum_qty"),
           count(lit(1)).as("n"))
      .oracleSorted(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** D3: groupBy + collect_list (the reference's inverted index
    * [ref: wikipedia/…/WikipediaRanking.scala#makeIndex]), capped with
    * `slice` so group payload stays bounded at scale. The id list is
    * emitted as a canonical comma-joined string — scalar, so the driver's
    * hash-compare gate can hash it (round-1 FAIL was the raw array column).
    */
  def groupCollect(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy("lang")
      .agg(array_join(
             transform(slice(sort_array(collect_list(col("doc_id"))), 1, 20),
               x => x.cast("string")), ",").as("doc_ids"),
           count(lit(1)).as("n_docs"))
      .oracleSorted("lang")

  /** D9: typed aggregation through a custom Aggregator (replaces the removed
    * `typed.avg`) [ref: timeusage/…/TimeUsage.scala#timeUsageGroupedTyped].
    */
  def aggTyped(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .select(col("o_orderstatus"), col("o_totalprice"))
      .as[(String, Double)]
      .groupByKey(_._1)
      .agg(TypedAvg.ofSecond.name("avg_total"))
      .toDF("o_orderstatus", "avg_total")
      .select(col("o_orderstatus"), round(col("avg_total"), 2).as("avg_total"))
      .oracleSorted("o_orderstatus")
  }

  /** D21 `agg_weighted` (round 6): weighted average — the aggregation a
    * mixture/pricing analysis actually needs where plain `avg` silently
    * equal-weights rows. Numerator and denominator are exact DECIMAL sums
    * (associative — identical on any partitioning); the single double
    * division + round happens once per group on identical inputs in both
    * engines. One partial-agg pass.
    */
  def aggWeighted(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        round(sum(Num.dec2(col("l_extendedprice")) * Num.rate2(col("l_discount"))).cast("double") /
              sum(Num.dec2(col("l_extendedprice"))).cast("double"), 6).as("wavg_discount"),
        round(avg(col("l_discount")), 6).as("avg_discount"),
        count(lit(1)).as("n"))
      .oracleSorted("l_returnflag")

  /** D16 `agg_percentile` (round 6): exact interpolated quartiles per group.
    * Same cents-integer discipline as D11's median (the general form of
    * which this supersedes at the API level — `percentile(col, array(...))`
    * is one pass for any percentile vector): rounding prices to integer
    * cents first makes the sort keys exact, so the only float op is the
    * single interpolation `lo + (hi-lo)*frac` both engines perform on
    * identical integers — bit-identical, no rounding tier needed. At scale
    * exact percentiles sort within groups (Spark's `percentile` buffers per
    * group); the sketch swap for unbounded groups is `approx_percentile`,
    * same call shape (documented, not registered: its sketch is
    * engine-specific, so no oracle could hash-match it).
    */
  def aggPercentile(s: SparkSession, dir: String): DataFrame = {
    val cents = round(col("o_totalprice") * 100, 0).cast("long")
    Tables.orders(s, dir)
      .groupBy("o_orderpriority")
      .agg(percentile(cents, array(lit(0.25), lit(0.5), lit(0.75))).as("q"),
           count(lit(1)).as("n"))
      .select(col("o_orderpriority"),
        (col("q")(0) / 100).as("p25"),
        (col("q")(1) / 100).as("p50"),
        (col("q")(2) / 100).as("p75"),
        col("n"))
      .oracleSorted("o_orderpriority")
  }

  /** D17 `agg_sketch_merge` (round 6): MERGEABLE distinct-count sketches —
    * the actual 100 TB cardinality path. `approx_count_distinct` (D13)
    * answers one query; what a warehouse stores is the per-segment SKETCH
    * (here: Apache DataSketches HLL via `hll_sketch_agg`), because sketches
    * re-aggregate: any union of segments is answered by `hll_union_agg`
    * over stored bytes without rescanning raw data. This query materializes
    * both levels — and pins the MERGE LAW in the gated output itself
    * (round-7): every row carries `union_est` (estimate from unioning the
    * stored per-(type, day) shard sketches) next to `direct_est` (a sketch
    * built in one pass over the same raw rows) and their signed
    * difference. DataSketches HLL union is register-wise max, so the two
    * are equal when merge is correct; any row where they diverge is
    * re-emitted as a `VIOLATION:<type>` row, so a broken merge changes the
    * driver's rows-only count, not just column content. The ALL row unions
    * ALL shard sketches (never rescans raw data) against a direct
    * whole-corpus sketch.
    *
    * Gate (round 13, replacing the rows-only VIOLATION channel): sketch
    * estimates are DataSketches-specific (DuckDB's approx_count_distinct is
    * a different HLL), so the laws ride as COMPUTED flag columns next to
    * the exact count the oracle can reproduce — `merge_ok` (the estimate
    * served from UNIONING the stored per-(type, day) shard sketches sits
    * within `SketchMergeBound` of the exact count: re-aggregating stored
    * segments answers union queries within the published error, the
    * user-facing property at 100 TB) and `bound_ok` (same bound for the
    * one-pass direct sketch). Estimate-level EQUALITY between the two
    * paths is deliberately not the law: DataSketches serves a streaming
    * (HIP) estimate from a sketch built in one pass but a composite
    * estimate after any multi-sketch union, so the two paths return
    * different numbers from equivalent registers at dense-mode
    * cardinality (measured at sf0.1: exact 1500, direct 1499, shard-union
    * 1488 — both inside the 8.1% bound). Both estimates are deterministic,
    * so the flags are stable at any parallelism; a broken union or a
    * drifted estimator flips a flag and breaks the hash.
    */
  def aggSketchMerge(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    // shard grain = (type, day): the form a warehouse stores per segment
    val parts = ev.groupBy(col("event_type"), date_trunc("DAY", col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val unioned = parts.groupBy("event_type").agg(hll_union_agg(col("sk")).as("sk_u"))
    val allU = parts.agg(hll_union_agg(col("sk")).as("sk_u"))
      .select(lit("ALL").as("event_type"), col("sk_u"))
    val direct = ev.groupBy("event_type").agg(hll_sketch_agg(col("user_id")).as("sk_d"))
    val allD = ev.agg(hll_sketch_agg(col("user_id")).as("sk_d"))
      .select(lit("ALL").as("event_type"), col("sk_d"))
    val exact = ev.groupBy("event_type").agg(countDistinct(col("user_id")).as("n_users_exact"))
    val allE = ev.agg(countDistinct(col("user_id")).as("n_users_exact"))
      .select(lit("ALL").as("event_type"), col("n_users_exact"))
    def inBound(est: Column): Column =
      when(abs(est - col("n_users_exact")) <=
        greatest(lit(2L), (col("n_users_exact") * SketchMergeBound).cast("long")),
        lit(1)).otherwise(lit(0))
    unioned.unionByName(allU)
      .join(direct.unionByName(allD), "event_type")
      .join(exact.unionByName(allE), "event_type")
      .select(col("event_type"), col("n_users_exact"),
        inBound(hll_sketch_estimate(col("sk_u"))).as("merge_ok"),
        inBound(hll_sketch_estimate(col("sk_d"))).as("bound_ok"))
      .oracleSorted("event_type")
  }

  /** 5σ of the published rsd for DataSketches HLL at the default
    * lgConfigK=12: rsd = 1.04/√2¹² ≈ 1.63% → bound ≈ 8.1% (±2 absolute
    * floor for tiny groups).
    */
  val SketchMergeBound: Double = 5 * 1.04 / math.sqrt((1 << 12).toDouble)

  /** D22 `agg_countmin` (round 7): mergeable count-min frequency sketches —
    * the heavy-hitters companion to D19's cardinality sketches. At 100 TB
    * per-token exact counts are a full shuffle of the token stream; a CMS
    * is a fixed (depth × width) counter grid built by `stat.countMinSketch`
    * as a distributed tree-aggregate (what moves is sketch bytes, never
    * rows) and MERGED by counter addition — per-segment sketches stored
    * once answer any segment-union frequency question later.
    *
    * The laws are hash-GATED, not just spec'd: the oracle emits the exact
    * lexicon counts plus literal-true flags; the Spark side emits COMPUTED
    * flags — `over_ok` (CMS never underestimates), `merge_ok` (merged
    * half-corpus sketches ≡ the direct sketch, counter-exact because the
    * seeded hash grid is shared), `bound_ok` (overestimate ≤ ⌈ε·N⌉) — so a
    * sketch defect flips a flag and breaks the hash. The estimate VALUES
    * are engine-specific and live in AggregatesSpec, not the gate.
    */
  def aggCountmin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val (eps, conf, seed) = (CmsEps, 0.99, 42)
    val direct = toks.stat.countMinSketch("token", eps, conf, seed)
    val merged = toks.where(col("doc_id") % 2 === 0).stat.countMinSketch("token", eps, conf, seed)
    merged.mergeInPlace(
      toks.where(col("doc_id") % 2 === 1).stat.countMinSketch("token", eps, conf, seed))
    val n = toks.count()
    val bound = math.ceil(eps * n).toLong
    // ≤ |lexicon| rows cross the driver — the same O(k) class as the
    // k-means centroids
    val exact = toks.where(col("token").isin(TextOps.lexicon: _*))
      .groupBy("token").agg(count(lit(1)).as("exact_n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    TextOps.lexicon.sorted.flatMap { t =>
      exact.get(t).map { ex =>
        val d = direct.estimateCount(t)
        val m = merged.estimateCount(t)
        (t, ex,
          if (d >= ex) 1 else 0,
          if (m == d) 1 else 0,
          if (d - ex <= bound) 1 else 0)
      }
    }.toDF("token", "exact_n", "over_ok", "merge_ok", "bound_ok")
      .oracleSorted("token")
  }

  /** CMS relative-error knob: ε of total stream length N bounds the
    * overestimate (w.p. the confidence); width = ⌈e/ε⌉ counters.
    */
  val CmsEps = 0.001

  /** D23 `ab_ttest` (round 7): Welch two-sample t-test per event type —
    * the A/B-experiment readout an analytics engine owes its users, and a
    * pure single-pass moment computation at any scale: per (type, variant)
    * exact DECIMAL cent sums n/Σx/Σx² (associative partials — identical on
    * 32 threads or 1000 executors), then ONE fixed double expression for
    * mean, sample variance, t, and Welch–Satterthwaite df. The variant
    * assignment is the deterministic hash-split discipline of `sample_split`
    * (here `user_id % 2` — unit-of-randomization = user, the experiment
    * rule). The oracle mirrors the same moment CTE chain, so doubles are
    * bit-identical before the terminal rounding (statsMoments discipline).
    */
  def abTtest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def cents(c: Column): Column =
      (c.cast(DecimalType(12, 2)) * 100).cast(DecimalType(38, 0))
    val c = cents(col("value"))
    val c2 = (c * c).cast(DecimalType(38, 0))
    def side(v: Int, e: Column): Column = sum(when(col("variant") === v, e))
    Tables.events(s, dir)
      .select(col("event_type"), (col("user_id") % 2).cast("int").as("variant"),
        col("value"))
      .groupBy("event_type")
      .agg(
        count(when(col("variant") === 0, lit(1))).as("n0"),
        count(when(col("variant") === 1, lit(1))).as("n1"),
        side(0, c).cast("double").as("s1_0"), side(0, c2).cast("double").as("s2_0"),
        side(1, c).cast("double").as("s1_1"), side(1, c2).cast("double").as("s2_1"))
      // the shared combine — SAME expression tree as the oracle CTE
      .withColumn("mu0", col("s1_0") / col("n0"))
      .withColumn("mu1", col("s1_1") / col("n1"))
      .withColumn("v0",
        (col("s2_0") / col("n0") - col("mu0") * col("mu0")) * col("n0") / (col("n0") - 1))
      .withColumn("v1",
        (col("s2_1") / col("n1") - col("mu1") * col("mu1")) * col("n1") / (col("n1") - 1))
      .withColumn("se0", col("v0") / col("n0"))
      .withColumn("se1", col("v1") / col("n1"))
      .withColumn("se2", col("se0") + col("se1"))
      .select(col("event_type"), col("n0"), col("n1"),
        round(col("mu0") / 100, 4).as("mean_a"),
        round(col("mu1") / 100, 4).as("mean_b"),
        round((col("mu1") - col("mu0")) / sqrt(col("se2")), 6).as("t_stat"),
        round(col("se2") * col("se2") /
          (col("se0") * col("se0") / (col("n0") - 1) +
           col("se1") * col("se1") / (col("n1") - 1)), 6).as("welch_df"))
      .oracleSorted("event_type")
  }

  /** D15′ `unpivot_long` (round 7): the inverse of D15's pivot — melt wide
    * measure columns into long (measure, value) rows, the reshape every
    * metrics store / plotting layer asks for. `unpivot` is a NARROW
    * generator-style expansion (rows × |measures|, zero shuffle before the
    * oracle sort) — the 100 TB cost is the output volume itself, which is
    * why the fixture takes the one-line-per-order slice. The oracle is the
    * UNION-ALL expansion, pinning both the stacking and the
    * measure-name/value binding.
    */
  def unpivotLong(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .where(col("l_linenumber") === 1)
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"))
      .unpivot(Array(col("l_orderkey")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
        "measure", "value")
      // (l_orderkey, l_linenumber=1) is not unique in this synthetic data,
      // so (l_orderkey, measure) ties with different values — total order
      // needs the value column too (round-8 10x-gate tie class)
      .oracleSorted("l_orderkey", "measure", "value")

  /** Histogram-quantile knobs: 256 fixed bins over the observed cent range;
    * readout quantiles. Shared with the oracle SQL via SparkEntry.
    */
  val QmBins = 256
  val QmQs: Seq[Double] = Seq(0.5, 0.9, 0.99)
  private def qn(q: Double): String = (q * 100).toInt.toString

  /** D24 `agg_quantile_merge` (round 7): MERGEABLE quantile summaries — the
    * re-aggregable path D18's exact `percentile` doesn't give you. Exact
    * percentiles need the sorted data (or all distinct values) per query;
    * what a 100 TB warehouse stores instead is a per-segment fixed-bin
    * histogram (256 bins over the observed cent range), because counts
    * re-aggregate: any segment union's quantile is answered from stored
    * summaries by bin-count addition + one cumulative pass over ≤256 rows —
    * no raw rescan.
    *
    * The gate materializes both levels: `bin` from the per-returnflag
    * summaries MERGED, `merge_ok` = (merged ≡ one-pass direct histogram;
    * counter-exact re-aggregation law), `approx_q` = the chosen bin's lower
    * edge, and the signed `err` vs D18's exact interpolated percentile —
    * every column is deterministic arithmetic mirrored in the oracle, so
    * the whole construction (binning, merge, cumulative selection, error)
    * is hash-checked, not just spec'd. Scale shape: one scan → per-(seg,
    * bin) partial-agg counts; everything after runs on ≤ segments×256 rows
    * (the bounded-window precedent of `rank_tokens`).
    */
  def aggQuantileMerge(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ScalarAttach._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val B = QmBins
    val x = Tables.lineitem(s, dir).select(col("l_returnflag").as("seg"),
      (col("l_extendedprice").cast(DecimalType(12, 2)) * 100).cast("long").as("c"))
    // Round-17 (guide §1.2 step 1 / §2.4): the round-7 form re-executed the
    // 1-row (lo, hi, n_total) aggregate subtree at EVERY attachScalarRow
    // site and ran the exact percentile as its own scan — 8 lineitem scans
    // in one plan (plans/r17/agg_quantile_merge_before.txt). Two changes:
    //
    //  1. The global stats land on the driver (a 1-row aggregate — the
    //     k-means coordinator-read class) and re-enter the plan as
    //     literals: identical longs/doubles, so every downstream
    //     expression is bit-identical to the attach-column form.
    //  2. The exact percentile no longer uses the `percentile` aggregate:
    //     its partial state is the full value→count map, so the merge +
    //     sort ran single-threaded over every distinct value (probed
    //     2.3-2.7 s at sf0.1 — repartitioning does NOT help, the merge is
    //     the wall). Instead: a distinct-value grid (partial-agg groupBy,
    //     parallel) + one cumulative window over |distinct| rows + the
    //     k-th-smallest probes, replaying Percentile.getPercentile's
    //     arithmetic EXACTLY — position = p·(n−1) in float64,
    //     lower/higher = floor/ceil, valueAt(k) = min value with
    //     cumulative count ≥ k, result = (higher−pos)·v_lo +
    //     (pos−lower)·v_hi in the same operand order — so the emitted
    //     doubles are bit-identical to the old aggregate's. (The merge
    //     concentration is the same asymptotic class as the old plan's —
    //     exactness at scale is exactly why this query's POINT is the
    //     mergeable-histogram path; the exact arm exists to gate it.)
    // A full parallel-prefix rework of `cum` was probed and REJECTED (2.87 →
    // 3.40 s — the added stages cost more than this one bounded window).
    // Round-18 (VERDICT r17 #6) — the two-level exact prefix was BUILT AND
    // REJECTED at 100× with numbers: order-preserving ranges r = c >> 16
    // (160 ranges over 583k distinct cents at 100×), per-range totals → a
    // range-grain global window → broadcast offsets back → within-range
    // window partitioned by r. Bit-identical `cum`, but 8.4 → 10.3 s
    // single-pass / 12.3–12.5 s over 3 passes at 100× vs the single window
    // — the extra exchange-by-r, broadcast build, and second window cost
    // more than one bounded sort saves (the round-17 sf0.1 probe of the
    // same rework read 2.87 → 3.40 s; the regression direction holds at
    // both scales). The global window's input is bounded by the VALUE
    // DOMAIN — distinct cent values ≤ the price span in cents (~10.4M)
    // regardless of corpus size — so it is a bounded-constant structure
    // (the 256-bin cumulative's class, bigger constant), not a data-sized
    // single partition.
    val grid = x
      .groupBy("c").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(Window.orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .localCheckpoint(eager = false)
    val g = grid.agg(min("c").as("lo"), max("c").as("hi"),
      sum("cnt").as("n_total")).collect()(0)
    val (lo, hi, nTotal) = (g.getLong(0), g.getLong(1), g.getLong(2))
    // Percentile.getPercentile replay (see note above)
    val pos = QmQs.map(q => q * (nTotal - 1).toDouble)
    val lows = pos.map(p => math.floor(p).toLong)
    val highs = pos.map(p => math.ceil(p).toLong)
    val probes = QmQs.indices.flatMap(i => Seq(
      min(when(col("cum") >= lows(i) + 1, col("c"))).as(s"vl_$i"),
      min(when(col("cum") >= highs(i) + 1, col("c"))).as(s"vh_$i")))
    val vr = grid.agg(probes.head, probes.tail: _*).collect()(0)
    val ex = QmQs.indices.map { i =>
      val (vl, vh) = (vr.getLong(2 * i), vr.getLong(2 * i + 1))
      // both short-circuits mirror Percentile.getPercentile: the two-product
      // interpolation is only evaluated when it was there too (a·v + b·v
      // with a+b=1 can differ from v by an ulp)
      if (highs(i) == lows(i) || vl == vh) vl.toDouble
      else (highs(i) - pos(i)) * vl.toDouble + (pos(i) - lows(i)) * vh.toDouble
    }
    // second (and last) scan: the binned rows, materialized once behind a
    // lineage cut for the two histogram consumers (stored-summary arm and
    // one-pass control arm)
    val binned = x
      .withColumn("bin",
        floor((col("c") - lit(lo)) * B / (lit(hi) - lit(lo) + 1)).cast("int"))
      .localCheckpoint(eager = false)
    val perSeg = binned.groupBy("seg", "bin").agg(count(lit(1)).as("cnt")) // stored summaries
    val merged = perSeg.groupBy("bin").agg(sum("cnt").as("cnt"))          // re-aggregation
    val direct = binned.groupBy("bin").agg(count(lit(1)).as("cnt"))       // one-pass control
    // bounded global window: ≤ 256 bins regardless of data size
    def qSel(hist: DataFrame, pfx: String): DataFrame = {
      val cum = hist.withColumn("cum", sum("cnt").over(Window.orderBy("bin")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val exprs = QmQs.map(q =>
        min(when(col("cum") >= lit(q) * lit(nTotal), col("bin"))).as(s"${pfx}_${qn(q)}"))
      cum.agg(exprs.head, exprs.tail: _*)
    }
    qSel(merged, "bm")
      .attachScalarRow(qSel(direct, "bd"))
      .withColumn("w", (lit(hi) - lit(lo) + 1) / lit(B))
      .select(explode(array(QmQs.zipWithIndex.map { case (q, i) =>
        struct(lit(q).as("q"),
          col(s"bm_${qn(q)}").as("bin"),
          col(s"bd_${qn(q)}").as("bin_direct"),
          lit(ex(i)).as("exc"), lit(lo).as("lo"), col("w"))
      }: _*)).as("p"))
      .select(col("p.q"),
        col("p.bin"),
        round((col("p.lo") + col("p.bin") * col("p.w")) / 100, 4).as("approx_q"),
        round(col("p.exc") / 100, 4).as("exact_q"),
        round((col("p.lo") + col("p.bin") * col("p.w")) / 100 - col("p.exc") / 100, 4).as("err"),
        when(col("p.bin") === col("p.bin_direct"), 1).otherwise(0).as("merge_ok"))
      .oracleSorted("q")
  }

  /** 2.G: set operations — union distinct. */
  def setopUnion(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click").select("user_id")
    val views  = ev.filter(col("event_type") === "view").select("user_id")
    clicks.union(views).distinct().oracleSorted("user_id")
  }

  /** 2.G: except — (user, day) pairs with a click but no purchase that
    * day. The grain matters: every user eventually does every event type,
    * so the user-level EXCEPT is the empty set and its gate row could
    * never fail (round-6 verdict: vacuous). At day grain the difference is
    * non-empty at every SF (105 / 1010 / 10201 rows at sf0.001/0.01/0.1),
    * so EXCEPT's dedup-and-subtract semantics are actually exercised.
    * Still one shuffle on the composite key — EXCEPT plans as a left-anti
    * over distinct rows, same scale shape as before.
    */
  def setopExcept(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    // day stays TIMESTAMP (midnight), not DATE: the oracle bridge
    // canonicalizes DuckDB DATE to pandas Timestamp, so a Spark DATE
    // column would dtype-mismatch even with identical values
    def days(t: String) = ev.filter(col("event_type") === t)
      .select(col("user_id"), date_trunc("DAY", col("ts")).as("day"))
    days("click").except(days("purchase"))
      .oracleSorted("user_id", "day")
  }

  /** 2.G: intersect (users who both click and purchase). */
  def setopIntersect(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    ev.filter(col("event_type") === "click").select("user_id")
      .intersect(ev.filter(col("event_type") === "purchase").select("user_id"))
      .oracleSorted("user_id")
  }

  /** D15: pivot (long→wide reshape) — per-source document counts spread
    * across language columns. The pivot domain is PINNED (the five langs
    * the generator emits) rather than discovered: at 100 TB a discovered
    * domain costs an extra distinct-scan job before planning, and an
    * unbounded domain would blow the row width — pinning makes the reshape
    * a single partial-agg pass with a fixed schema. Missing cells are
    * coalesced to 0 so the wide table is dense (and matches the oracle's
    * conditional counts).
    */
  /** The pinned pivot domain — interpolated into the oracle SQL too, so
    * the two engines cannot drift (round-5b review).
    */
  val PivotLangs: Seq[String] = Seq("de", "en", "es", "fr", "zh")

  def aggPivot(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy("source")
      .pivot("lang", PivotLangs)
      .agg(count(lit(1)))
      .select(col("source") +: PivotLangs.map(l => coalesce(col(l), lit(0L)).as(s"n_$l")): _*)
      .oracleSorted("source")

  /** D16: GROUPING SETS — independent marginals (per-flag, per-status, and
    * the grand total) in ONE pass over the fact table. Unlike rollup/cube
    * this picks exactly the requested sets, so Expand replicates each row
    * 3× instead of 4× (cube). `grouping()` flags disambiguate the NULL
    * produced by aggregation from a NULL in the data.
    */
  def aggGroupingSets(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .withColumn("price2", Num.dec2(col("l_extendedprice")))
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(Num.money(sum(col("price2"))).as("sum_price"),
           count(lit(1)).as("n"),
           grouping(col("l_returnflag")).cast("int").as("g_flag"),
           grouping(col("l_linestatus")).cast("int").as("g_status"))
      .oracleSorted(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** D17: bivariate statistics — Pearson correlation and sample covariance
    * of quantity vs price per return flag, built from single-pass exact
    * MOMENTS instead of `corr()`/`covar_samp()`: the five decimal sums are
    * associative (merge-order-independent, so identical on local[32] and
    * 1000 executors — the same argument as [[graft.functions.Num]]), and
    * the final combine is a fixed double expression over them. The
    * built-ins stream doubles through partial aggregates whose merge order
    * varies run-to-run. The combine is rounded (6/4 digits): DuckDB's
    * DECIMAL→DOUBLE cast double-rounds (int128→double, then ÷10^scale), so
    * the moments can differ from Spark's correctly-rounded cast by one ulp
    * — observed at sf0.001.
    */
  def aggCorr(s: SparkSession, dir: String): DataFrame = {
    val (x, y) = (Num.dec2(col("l_quantity")), Num.dec2(col("l_extendedprice")))
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(x).cast("double").as("sx"),
        sum(y).cast("double").as("sy"),
        sum(x * x).cast("double").as("sxx"),
        sum(y * y).cast("double").as("syy"),
        sum(x * y).cast("double").as("sxy"))
      .select(
        col("l_returnflag"), col("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
               (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("corr_qty_price"),
        round((col("sxy") - col("sx") * col("sy") / col("n")) / (col("n") - 1), 4)
          .as("covar_qty_price"))
      .oracleSorted("l_returnflag")
  }

  /** D25 `agg_regression` (round 7): per-group ordinary-least-squares fit —
    * slope / intercept / R² of extended price against quantity per return
    * flag. The regression a pricing or drift analysis runs is a pure
    * moment computation, so it inherits `aggCorr`'s scale argument
    * unchanged: the six sums are exact DECIMAL partials (associative —
    * identical on local[32] and 1000 executors; shuffle ∝ groups, never
    * rows), and the closed-form combine is one fixed double expression
    * per group. `regr_slope`/`regr_intercept` built-ins stream doubles
    * through merge-order-dependent partials — same reason `corr()` is
    * avoided in D17. Terminal rounding (6/4) absorbs DuckDB's
    * double-rounded DECIMAL→DOUBLE cast (one-ulp, observed in D17).
    */
  def aggRegression(s: SparkSession, dir: String): DataFrame = {
    val (x, y) = (Num.dec2(col("l_quantity")), Num.dec2(col("l_extendedprice")))
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(x).cast("double").as("sx"),
        sum(y).cast("double").as("sy"),
        sum(x * x).cast("double").as("sxx"),
        sum(y * y).cast("double").as("syy"),
        sum(x * y).cast("double").as("sxy"))
      .withColumn("cov_n", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("var_n", col("n") * col("sxx") - col("sx") * col("sx"))
      // constant-x group => var_n = 0: the fit is undefined (0/0 or k/0)
      // and NaN/Inf rendering is engine-specific — emit NULL for all three
      // derived columns (oracle mirrors the guard; round-7 ADVICE #2)
      .withColumn("slope_raw",
        when(col("var_n") =!= 0.0, col("cov_n") / col("var_n")))
      .select(
        col("l_returnflag"), col("n"),
        round(col("slope_raw"), 6).as("slope"),
        round((col("sy") - col("slope_raw") * col("sx")) / col("n"), 4).as("intercept"),
        when(col("var_n") =!= 0.0,
          round(col("cov_n") * col("cov_n") /
            (col("var_n") * (col("n") * col("syy") - col("sy") * col("sy"))), 6)).as("r2"))
      .oracleSorted("l_returnflag")
  }

  /** D26 `agg_entropy` (round 7): Shannon entropy of the language mix per
    * source shard — the corpus-diversity diagnostic a data-mixture
    * experiment watches (a shard whose entropy collapses is feeding the
    * model one language). H = ln N − (Σ nᵢ·ln nᵢ)/N over the per-(source,
    * lang) counts nᵢ, so the float work is one ln per GROUP (not per row)
    * and the cross-group sum goes through exact DECIMAL(28,18) — the
    * `text_logprob` discipline — making the result independent of which
    * executor merged which partial. Scale: two chained partial-agg
    * groupBys, shuffle ∝ |source × lang| then |source|, never rows.
    * `norm_entropy` (H / ln k over the observed class count) is the
    * 0-to-1 form dashboards threshold on.
    */
  def aggEntropy(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val nd = col("ni").cast("double")
    Tables.documents(s, dir)
      .groupBy("source", "lang").agg(count(lit(1)).as("ni"))
      .groupBy("source")
      .agg(
        sum("ni").as("n_docs"),
        count(lit(1)).cast("int").as("n_langs"),
        sum((nd * log(nd)).cast(DecimalType(28, 18))).cast("double").as("snln"))
      .select(
        col("source"), col("n_docs"), col("n_langs"),
        round(log(col("n_docs").cast("double")) - col("snln") / col("n_docs"), 6)
          .as("entropy"),
        // single-language source => ln(n_langs)=0 and H=0: norm 0/0 is
        // undefined, and engines render NaN differently — emit NULL (the
        // oracle mirrors the CASE; round-7 ADVICE #1)
        when(col("n_langs") > 1,
          round((log(col("n_docs").cast("double")) - col("snln") / col("n_docs")) /
            log(col("n_langs").cast("double")), 6)).as("norm_entropy"))
      .oracleSorted("source")
  }

  /** D30 `stats_ks` (round 7): two-sample Kolmogorov–Smirnov statistic per
    * event type — the NONPARAMETRIC companion to D23's Welch t-test (a
    * mean shift isn't the only drift; KS sees shape). Same experiment
    * split (variant = user_id % 2, the user-level randomization unit).
    * Exactness: group by the distinct integer-cent VALUE first (ties
    * collapse, so no within-tie ordering ambiguity), running cumulative
    * counts over the value axis, D = max |c₀/n₀ − c₁/n₁| — every operand
    * an exact integer until the two divisions, identical IEEE in both
    * engines. Scale: the distinct-value grid is a partial-agg groupBy
    * (shuffle ∝ |type × distinct values|); the running window partitions
    * by type over that GRID, not raw events — the bounded-window
    * `rank_tokens` argument, with the D13→D19-style swap (quantile-sketch
    * CDFs) named for unbounded value domains.
    */
  def statsKs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val cents = (col("value").cast(DecimalType(12, 2)) * 100).cast("long")
    // Round-17 (guide §2.4): the grid feeds BOTH the per-type totals and
    // the running-CDF window — cut once so the events scan + distinct-value
    // aggregation run once instead of twice. The totals side is a
    // type-cardinality-bounded aggregate → broadcast to the probe join
    // (was a sort-merge join: 2 exchanges + sorts on the grid).
    val grid = Tables.events(s, dir)
      .select(col("event_type"), (col("user_id") % 2).cast("int").as("variant"), cents.as("c"))
      .groupBy("event_type", "c")
      .agg(
        count(when(col("variant") === 0, 1)).as("d0"),
        count(when(col("variant") === 1, 1)).as("d1"))
      .localCheckpoint(eager = false)
    val w = Window.partitionBy("event_type").orderBy("c")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = grid.groupBy("event_type").agg(sum("d0").as("n0"), sum("d1").as("n1"))
    grid
      .withColumn("c0", sum("d0").over(w))
      .withColumn("c1", sum("d1").over(w))
      .join(broadcast(totals), "event_type")
      .withColumn("gap", abs(col("c0").cast("double") / col("n0") -
        col("c1").cast("double") / col("n1")))
      .groupBy("event_type", "n0", "n1")
      .agg(round(max("gap"), 6).as("ks_d"))
      .select(col("event_type"), col("n0"), col("n1"), col("ks_d"))
      .oracleSorted("event_type")
  }

  /** D29 `agg_argmax` (round 7): top-1-per-group as an AGGREGATE —
    * `max_by` over a composite ordinal — rather than `window_top1`'s
    * rank-window. The two answer the same question with different scale
    * economics: the window form sorts every group's rows inside each
    * partition (O(n log n) per partition, full rows shuffled); this form
    * is a partial-aggregable max (O(n) map-side, ONE (key, best) pair per
    * task crosses the shuffle) — the preferred plan when only the top-1
    * is wanted. Determinism: `max_by` alone is tie-arbitrary, so the
    * ordinal packs (cents, event_id) into one BIGINT — a total order, the
    * same discipline as `window_top1`'s explicit tiebreak. Emitted next
    * to the window form's host columns so the parity law (AggregatesSpec:
    * row-for-row equal to window_top1) is checkable.
    */
  def aggArgmax(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cents = (col("value").cast(DecimalType(12, 2)) * 100).cast("long")
    // Packing domain (LawsCheck-pinned): cents < 9.2×10^6 (~$92k — event
    // values are ≤ ~$1k here) and event_id < 10^12, so the ordinal stays
    // < 2^63 and orders by (value asc, event_id DESC) — max_by then picks
    // max value with MIN event_id on ties, exactly `window_top1`'s
    // (desc value, asc event_id) winner. Wider domains use a struct
    // ordinal instead of the packed long. The domain is ENFORCED at
    // runtime (round-7 ADVICE #4): out-of-range rows raise instead of
    // silently overflowing Long and crowning a wrong top-1 — two codegen'd
    // comparisons per row, no extra pass.
    val inDomain = cents.between(0L, 9200000L) &&
      col("event_id").between(0L, 999999999999L)
    val ordRaw = cents * lit(1000000000000L) + (lit(999999999999L) - col("event_id"))
    val ord = when(inDomain, ordRaw).otherwise(raise_error(concat(
      lit("agg_argmax packed-ordinal domain violated (value in [0,$92k], " +
        "event_id in [0,1e12) required; use a struct ordinal beyond): value="),
      col("value"), lit(" event_id="), col("event_id"))))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("value"), ord.as("ord"))
      .groupBy("user_id")
      .agg(
        max_by(col("event_id"), col("ord")).as("event_id"),
        max_by(col("value"), col("ord")).as("value"),
        count(lit(1)).as("n_events"))
      .oracleSorted("user_id")
  }

  /** D27 `agg_stringagg` (round 7): ordered string aggregation — the
    * LISTAGG/STRING_AGG reporting surface (one delimited cell per group).
    * Built as `array_join(array_sort(collect_list(...)))` rather than a
    * nondeterministic first-come concat: the explicit sort makes the cell
    * independent of partial-merge arrival order — the only correct form
    * of this operator on a cluster (an unordered STRING_AGG differs
    * run-to-run and engine-to-engine). Scale: collect_list is the one agg
    * whose state is O(group size); sane only for bounded groups (nations
    * per region ≤ 25 here) — unbounded-group concat at 100 TB is a design
    * error, which is why the bounded dimension table is the right host.
    */
  def aggStringagg(s: SparkSession, dir: String): DataFrame =
    Tables.nation(s, dir)
      .join(Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(
        count(lit(1)).cast("int").as("n_nations"),
        array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"))
      .oracleSorted("r_name")

  // ------------------------------------------------------------------
  // D31 agg_kmv: KMV distinct sketch + set-intersection estimation
  // ------------------------------------------------------------------

  /** KMV sketch size: the k smallest distinct 60-bit hashes of a set. */
  val KmvK = 256

  /** Distinct-estimate gate bound, in percent: the KMV estimator
    * (k−1)·2⁶⁰/h_k has relative σ ≈ 1/√(k−2) ≈ 6.3% at k=256; 5σ ≈ 31.4%,
    * rounded up to 32 (the `ApproxDistinctBound` discipline: generous
    * enough never to trip on estimator variance, tight enough that a
    * broken sketch cannot pass).
    */
  val KmvDistinctPct = 32

  /** Jaccard-estimate gate bound, in percent (ADDITIVE): n_common/kk is a
    * k-sample estimate of J with σ ≤ 1/(2√k) ≈ 3.1% at k=256; 5σ ≈ 15.6%,
    * rounded up to 16.
    */
  val KmvJaccardPct = 16

  /** 100 × (k−1) × 2⁶⁰ — the cross-multiplied estimator numerator (the
    * bound comparisons run ×100 so the percent bounds stay integers).
    */
  val KmvSpaceK1: String =
    ((BigInt(1) << 60) * (KmvK - 1) * 100).toString

  /** Fixed stage dir of the distinct (lang, hv) shingle-hash family
    * SHARED by `agg_kmv` and `stream_kmv` (round 15, VERDICT #4): both
    * queries consume the same distinct 60-bit-hash set, and at 100× each
    * was independently paying the identical 26M-row corpus
    * explode+distinct (39.5 s + 26.9 s — the two slowest scale rows). The
    * set now stages ONCE per documents content (see
    * [[graft.Staging.stage]]) and both consumers scan the
    * vocabulary-sized family. Values are integers, so the parquet round
    * trip is exact and the oracles — which replay the derivation from the
    * ORIGINAL documents table — still hash-gate cell-for-cell.
    */
  val KmvStageDir = "/tmp/graft_kmv_hashes"

  /** The staged distinct (lang, hv) table both KMV consumers read. */
  private[graft] def kmvHashes(s: SparkSession, dir: String): DataFrame = {
    val root = Staging.stage(KmvStageDir, dir, "kmv1", s"$dir/documents.parquet") {
      target =>
        Tables.documents(s, dir)
          .select(col("lang"),
            explode(array_distinct(TextOps.shingles(col("text"), 3))).as("g"))
          .select(col("lang"),
            conv(substring(md5(col("g").cast("binary")), 1, 15), 16, 10)
              .cast("long").as("hv"))
          .distinct()
          .write.mode("overwrite").parquet(s"$target/hashes")
    }
    Tables.parquet(s, s"$root/hashes")
  }

  /** D31 `agg_kmv` (round 14): KMV / theta-style distinct sketch with set
    * INTERSECTION estimation — the mergeable-summary family member
    * (HLL/CMS/histogram, D13′/D19/D22/D24) that supports set OPERATIONS
    * (Bar-Yossef 2002; the Apache DataSketches theta pattern): a set's
    * sketch is its `KmvK` smallest distinct 60-bit hashes — a pure
    * function of the SET (order- and partition-independent, so it
    * hash-gates where Misra-Gries-style counter summaries cannot), and
    * mergeable: k-smallest-of(k-smallest(A) ∪ k-smallest(B)) ≡
    * k-smallest(A ∪ B) (the merge law in AggregatesSpec). Per language
    * pair over the distinct 3-word-shingle sets (the
    * `Kernels.wordShingles` feed): the pair's UNION sketch is built from the two per-lang
    * sketches ALONE (never the raw sets — at 100 TB the sketches are the
    * only thing shards ship), distinct-of-union estimated as
    * (k−1)·2⁶⁰/h_k, Jaccard as n_common/kk (union-sketch hashes present
    * in both input sketches), intersection as Ĵ·N̂.
    *
    * Laws as columns (the D13′ discipline, exact twins aggregated
    * SEPARATELY from the sketch): exact per-lang / intersection / union
    * counts ride along, and `est_ok`/`jac_ok` flag the 5σ bounds via
    * EXACT cross-multiplied integer comparisons (no float division
    * anywhere — ×100 keeps the percent bounds integral; the estimator
    * itself never materializes). When the union sketch is unsaturated
    * (kk < k) it IS the exact union hash set and `est_ok` asserts
    * equality outright. The oracle replays the ENTIRE computation
    * (md5-prefix hashes are engine-identical), so the sketch STATE
    * (h_k, kk, n_common) is hash-gated cell-for-cell, not just flagged.
    *
    * Scale shape: distinct (lang, hv) is vocabulary-sized (Heaps' law —
    * the BPE-learn discipline); the per-lang window runs over that
    * bounded set with a rank-k cutoff (WindowGroupLimit); everything
    * past the sketches is ≤ |langs|²·k rows. The exact twins exist only
    * to gate the sketch — at 100 TB a user ships sketches, not sets.
    */
  def aggKmv(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hashes = kmvHashes(s, dir)
    val exact = hashes.groupBy("lang").agg(count(lit(1)).as("n_d"))
    val sketch = hashes
      .withColumn("rn", row_number()
        .over(Window.partitionBy("lang").orderBy(asc("hv"))))
      .filter(col("rn") <= KmvK).select("lang", "hv")
    // complete lang-pair frame (a < b), built driver-locally from the
    // GROUP-KEY domain (|langs| rows — bounded like the k-means k-sized
    // collects, never data-sized): a join-based cross pairing would
    // constant-fold its key and plan as a nested loop
    import s.implicits._
    val langList = exact.select("lang").collect().map(_.getString(0)).sorted.toSeq
    val lp = (for { a <- langList; b <- langList if a < b } yield (a, b))
      .toDF("lang_a", "lang_b")
    // the pair's merged candidate hashes, built from the two SKETCHES only
    val merged = lp.join(sketch.withColumnRenamed("lang", "lang_a"), "lang_a")
      .select("lang_a", "lang_b", "hv")
      .union(lp.join(sketch.withColumnRenamed("lang", "lang_b"), "lang_b")
        .select("lang_a", "lang_b", "hv"))
      .distinct()
    val us = merged
      .withColumn("rn", row_number()
        .over(Window.partitionBy("lang_a", "lang_b").orderBy(asc("hv"))))
      .filter(col("rn") <= KmvK).select("lang_a", "lang_b", "hv")
    val uagg = us.groupBy("lang_a", "lang_b")
      .agg(count(lit(1)).cast("int").as("kk"), max(col("hv")).as("h_k"))
    val common = us
      .join(sketch.select(col("lang").as("lang_a"), col("hv")), Seq("lang_a", "hv"))
      .join(sketch.select(col("lang").as("lang_b"), col("hv")), Seq("lang_b", "hv"))
      .groupBy("lang_a", "lang_b").agg(count(lit(1)).as("n_common_raw"))
    // exact twins from the full distinct hash sets (vocabulary-sized)
    val inter = hashes.select(col("lang").as("lang_a"), col("hv"))
      .join(hashes.select(col("lang").as("lang_b"), col("hv")), "hv")
      .filter(col("lang_a") < col("lang_b"))
      .groupBy("lang_a", "lang_b").agg(count(lit(1)).as("n_inter_raw"))
    val spaceK1 = lit(KmvSpaceK1).cast("decimal(38,0)")
    lp.join(exact.select(col("lang").as("lang_a"), col("n_d").as("n_a")), "lang_a")
      .join(exact.select(col("lang").as("lang_b"), col("n_d").as("n_b")), "lang_b")
      .join(inter, Seq("lang_a", "lang_b"), "left")
      .join(uagg, Seq("lang_a", "lang_b"))
      .join(common, Seq("lang_a", "lang_b"), "left")
      .withColumn("n_inter", coalesce(col("n_inter_raw"), lit(0L)))
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_inter"))
      .withColumn("n_common", coalesce(col("n_common_raw"), lit(0L)))
      .withColumn("est_ok",
        when(col("kk") < KmvK, (col("kk") === col("n_union")).cast("int"))
          .otherwise(
            ((col("n_union").cast("decimal(38,0)") * col("h_k") *
                (100 - KmvDistinctPct) <= spaceK1) &&
             (spaceK1 <= col("n_union").cast("decimal(38,0)") * col("h_k") *
                (100 + KmvDistinctPct))).cast("int")))
      .withColumn("jac_ok",
        (abs(col("n_common") * lit(100L) * col("n_union") -
             col("kk").cast("long") * lit(100L) * col("n_inter")) <=
          lit(KmvJaccardPct.toLong) * col("kk") * col("n_union")).cast("int"))
      .select(col("lang_a"), col("lang_b"), col("n_a"), col("n_b"),
        col("n_inter"), col("n_union"), col("kk"), col("h_k"),
        col("n_common"), col("est_ok"), col("jac_ok"))
      .oracleSorted("lang_a", "lang_b")
  }
}
