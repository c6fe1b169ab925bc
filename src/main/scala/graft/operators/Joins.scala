package graft.operators

import graft.{Staging, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StructType
import graft.functions.OracleSort._
import org.apache.spark.sql.functions._

/** Join family (SURVEY §2.C).
  *
  * The reference's single join is a pair-RDD shuffle join of questions to
  * answers [ref: stackoverflow/…/StackOverflow.scala#groupedPostings]. Here
  * every join is declared and Catalyst picks the physical strategy; we force
  * `broadcast()` only for the dimensions that are small BY SCHEMA DESIGN
  * (region=5 rows, nation=25 — fixed size at any scale factor, so the hint
  * is still correct at 100 TB). Fact-to-fact joins (orders⋈lineitem) are
  * left to sort-merge/shuffled-hash + AQE, which is the right call when both
  * sides are TB-scale.
  */
object Joins {

  /** Bucket count for `join_bucketed`'s staged tables. 8 keeps the local
    * fixture readable; the 100 TB deployment picks O(thousands) so each
    * bucket's files fit an executor — the PLAN is identical at any count,
    * which is the point of the demo.
    */
  val BucketCount = 8

  /** Fixed stage dir of `join_bucketed`'s bucketed tables (see
    * [[graft.Staging.stage]]).
    */
  val BucketStageDir = "/tmp/graft_bucketed"

  /** Stage orders and customer as bucketed+sorted tables and return their
    * catalog names. `bucketBy` metadata persists only through
    * `saveAsTable` (Spark refuses it with `save()`), and a CTAS refuses a
    * non-empty location, so each table is written into its own new
    * subdirectory of the stage target. The names carry the target's
    * digest, so data regenerated at the same path gets new tables, never
    * stale buckets. The stage is keyed on the listing of `dir`, which holds
    * both sources, and on N, since the written files follow the loaders'
    * scan partitions. A staged target that is not in this session's
    * catalog (staged by another JVM, or dropped) is registered over its
    * files.
    */
  private def stagedBucketed(s: SparkSession, dir: String): (String, String) = {
    val tables = Seq(("orders", "o_custkey", Tables.orders _),
      ("customer", "c_custkey", Tables.customer _))
    def name(root: String, src: String) = s"graft_${src}_bkt_${new java.io.File(root).getName}"
    val root = Staging.stage(BucketStageDir, dir, s"bkt1|b=$BucketCount|${Tables.scanTag(s)}", dir) {
      root => tables.foreach { case (src, key, load) =>
        load(s, dir).write.mode("overwrite").option("path", s"$root/$src")
          .bucketBy(BucketCount, key).sortBy(key).saveAsTable(name(root, src))
      }
    }
    tables.foreach { case (src, key, load) =>
      if (!s.catalog.tableExists(name(root, src))) {
        // a bucketed CREATE TABLE needs its column list; a file-source
        // table stores every column nullable, as saveAsTable did
        val cols = StructType(load(s, dir).schema.map(_.copy(nullable = true))).toDDL
        s.sql(s"CREATE TABLE IF NOT EXISTS ${name(root, src)} ($cols) USING parquet " +
          s"CLUSTERED BY ($key) SORTED BY ($key) INTO $BucketCount BUCKETS LOCATION '$root/$src'")
      }
    }
    (name(root, "orders"), name(root, "customer"))
  }

  /** C9 `join_bucketed`: SHUFFLE-FREE co-located fact join via
    * bucketed storage — the named scale pattern the rest of the join family
    * doesn't cover (broadcast handles small dims, salting handles skew;
    * bucketing handles the repeated big⋈big join on a stable key). Both
    * sides are staged `bucketBy(8, key).sortBy(key)` tables, so the
    * sort-merge join's required hash distribution is satisfied BY THE
    * STORAGE LAYOUT: the plan contains zero ShuffleExchange under the join
    * (PlanShapeSpec asserts it) — at 100 TB that deletes the two largest
    * shuffles a fact-to-fact query pays, every time the key is reused. The
    * `merge` hint pins SMJ so the demo can't degrade to a broadcast at toy
    * scale; the aggregate above the join still exchanges on its own group
    * key, which is the only shuffle the query should have.
    */
  def joinBucketed(s: SparkSession, dir: String): DataFrame = {
    val (ordersT, custT) = stagedBucketed(s, dir)
    s.table(ordersT).hint("merge")
      .join(s.table(custT), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        graft.functions.Num.money(
          sum(graft.functions.Num.dec2(col("o_totalprice")))).as("revenue"))
      .oracleSorted("c_mktsegment")
  }

  /** C1: inner equi-join orders⋈lineitem, aggregated per order status. */
  def joinInner(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir),
        col("o_orderkey") === col("l_orderkey"), "inner")
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n_lines"),
        graft.functions.Num.money(
          sum(graft.functions.Num.discounted(col("l_extendedprice"), col("l_discount")))).as("revenue"))
      .oracleSorted("o_orderstatus")

  /** C2: multi-way star join with broadcast dimensions — revenue by region. */
  def joinStar(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(graft.functions.Num.money(sum(graft.functions.Num.dec2(col("o_totalprice")))).as("revenue"),
           count(lit(1)).as("n_orders"))
      .oracleSorted("r_name")

  /** C8: the TPC-H Q3 shape — the composed relational pipeline a BI user
    * runs end-to-end: selective dimension filter (market segment) →
    * broadcast semi-reduction of orders → fact join → grouped revenue →
    * global top-10. Every per-table predicate sits directly on its scan
    * (pushdown reaches parquet), the filtered customer key set broadcasts
    * so orders shrink BEFORE the expensive lineitem join, the revenue sum
    * is exact-decimal, and the final ordering plans as
    * `TakeOrderedAndProject` (per-partition heaps — no global sort). At
    * 100 TB the only heavy edge is the lineitem⋈orders shuffle, which AQE
    * can demote to broadcast when the filtered order side collapses.
    */
  def queryQ3(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1998-01-01").cast("timestamp")
    val cust = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") < cutoff)
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") > cutoff)
      .select(col("l_orderkey"),
        graft.functions.Num.discounted(col("l_extendedprice"), col("l_discount")).as("disc"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(graft.functions.Num.money(sum(col("disc"))).as("revenue"))
      .orderBy(desc("revenue"), asc("o_orderdate"), asc("l_orderkey"))
      .limit(10)
  }

  /** C8′ `query_q5` (round 7): the SECOND composed star query — TPC-H Q5
    * shape, local-supplier volume: revenue per nation where the customer
    * and the line's supplier share a nation, region-filtered, one order
    * year. Adds what Q3 doesn't exercise: a SIX-table chain, a non-key
    * equi-condition (`c_nationkey = s_nationkey` rides the supplier join —
    * Catalyst keeps it in the hash-join key set, no post-filter), and a
    * dimension snowflake (region→nation) folded into ONE broadcast.
    * Plan: date predicate pushed into the orders scan, supplier and the
    * filtered nation⋈region broadcast; the only big shuffles are the two
    * fact joins (orders⋈customer, lineitem⋈orders) — at 100 TB both sides
    * of each live in the bucketed layout (`join_bucketed`). Exact decimal
    * revenue (Num).
    */
  def queryQ5(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
    val ord = Tables.orders(s, dir)
      .where(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val supp = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
    val natAsia = Tables.nation(s, dir)
      .join(broadcast(Tables.region(s, dir).where(col("r_name") === "ASIA")
        .select("r_regionkey")), col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    ord.join(cust, col("o_custkey") === col("c_custkey"))
      .join(li, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(natAsia), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(graft.functions.Num.money(
          sum(graft.functions.Num.discounted(col("l_extendedprice"), col("l_discount"))))
          .as("revenue"),
        count(lit(1)).as("n_lines"))
      .oracleSorted(desc("revenue"), asc("n_name"))
  }

  /** C4: anti join — customers with no orders IN 1995 (NOT EXISTS). The
    * build side is filtered to one year BEFORE the join: at this data every
    * customer has some order, so the unfiltered anti-join is the empty set
    * and the gate row could never fail (round-6 verdict: vacuous). The
    * year-window complement is non-empty at every SF (34 / 326 / 3305 rows
    * at sf0.001/0.01/0.1), so a broken anti-join now actually trips the
    * hash. The filter lands below the join (PushedFilters on the orders
    * scan), shrinking the build side — the same shape that matters at
    * 100 TB, where the anti-join's right side should be the pruned slice,
    * never the whole fact table.
    */
  def joinAnti(s: SparkSession, dir: String): DataFrame = {
    val orders1995 = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1996-01-01").cast("timestamp"))
    Tables.customer(s, dir)
      .join(orders1995, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .oracleSorted("c_custkey")
  }

  /** C4b: semi join — customers with at least one order (EXISTS). */
  def joinSemi(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .oracleSorted("c_custkey")

  /** C5 `join_asof`: as-of join — for each event, the most recent order
    * (order date ≤ event time) of the same customer. Spark has no ASOF JOIN
    * operator, and the naive encoding (range join + per-event top-1 window)
    * explodes to |events| × |orders-per-key| intermediate rows. Scalable
    * shape instead: tag and union both sides, shuffle ONCE by key, and a
    * running `last(_, ignoreNulls)` window carries the latest order forward
    * onto each event row — linear work, per-key partitions, the standard
    * distributed as-of pattern. The as-of winner at equal (key, date) is
    * made unique by ordering order rows by o_orderkey inside the window
    * (max key wins — tie-free for the oracle); order rows sort before
    * event rows at equal time, giving inclusive (≥) semantics. DuckDB
    * checks via its native ASOF LEFT JOIN.
    */
  def joinAsof(s: SparkSession, dir: String): DataFrame = {
    // Round-18 (guide §2.4): the (key, date) pre-reduction groupBy is GONE —
    // it bought almost nothing (o_orderdate is near-unique per customer, so
    // the partial agg barely reduced rows) and cost a full extra exchange of
    // the orders side by (key, t) before the window re-exchanged by key.
    // The reduction's only job — a unique, deterministic as-of winner at
    // equal (key, t) — moves into the window ORDER instead: order rows sort
    // by (t, side, last_orderkey), so among same-day orders the running
    // `last` lands on the max o_orderkey, exactly the old max() winner.
    // (Event rows carry null last_orderkey; their relative order at equal t
    // is irrelevant — they contribute nothing to the ignoreNulls lasts.)
    val ord = Tables.orders(s, dir)
      .select(col("o_custkey").as("key"),
        col("o_orderdate").cast("timestamp").as("t"), lit(0).as("side"),
        col("o_orderkey").as("last_orderkey"), lit(null).cast("long").as("event_id"))
    val ev = Tables.events(s, dir)
      .select(col("user_id").as("key"), col("ts").as("t"), lit(1).as("side"),
        lit(null).cast("long").as("last_orderkey"), col("event_id"))
    val w = Window.partitionBy("key").orderBy("t", "side", "last_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ord.unionByName(ev)
      // both carried values in ONE select → a single Window node (one pass
      // over each sorted partition instead of two)
      .select(col("event_id"), col("key"), col("t"), col("side"),
        last(when(col("side") === 0, col("last_orderkey")), ignoreNulls = true)
          .over(w).as("lo_key"),
        last(when(col("side") === 0, col("t")), ignoreNulls = true)
          .over(w).as("lo_date"))
      .filter(col("side") === 1)
      .select(col("event_id"), col("key").as("user_id"), col("t").as("ts"),
        col("lo_date").as("last_order_date"), col("lo_key").as("last_orderkey"))
      .oracleSorted("event_id")
  }

  /** Time-bin width of `join_asof_salted` (1 day in microseconds). The
    * trade: smaller bins spread a hot key over more tasks but grow the
    * per-key carry table (one summary row per active bin); a day keeps the
    * carry table ∝ active days — thousands of rows per key at most — while
    * bounding any window partition to one key-day of data.
    */
  val AsofBinMicros: Long = 86400L * 1000000L

  /** C5′ `join_asof_salted`: skew-resistant as-of join. `join_asof`'s
    * running-last window partitions by key alone, so ONE task sees every
    * row of a hot key (and AQE cannot split a window partition — skew
    * handling applies to joins only). This variant salts the window with a
    * TIME BIN, the order-preserving analogue of `join_salted`'s key salt
    * (a random salt would break the running-order semantics; binning by
    * floor(t) keeps every window frame contiguous in time):
    *
    *  1. within-bin pass: the same running `last(_, ignoreNulls)` window,
    *     but partitioned by (key, bin) — a hot key spreads over its active
    *     bins, max task load = one key-day;
    *  2. per-bin summary: groupBy (key, bin) → latest order in the bin
    *     (partial-aggregated, no skew);
    *  3. carry pass: running last over the SUMMARY rows per key — this
    *     window is per-key again, but over #active-bins rows, not data
    *     rows (bounded by days-in-range regardless of corpus size);
    *  4. events resolve to coalesce(within-bin last, carried last from
    *     prior bins).
    *
    * Result is provably identical to `join_asof` (bin boundaries respect
    * the time order: t1 < t2 ⇒ bin1 ≤ bin2, and ties stay inside one bin
    * where the original ordering applies) — the oracle runs the same
    * native ASOF JOIN to prove it. JoinsWindowsSpec adds the hot-key law:
    * parity under a planted hot key plus the bin-spread bound.
    */
  def joinAsofSalted(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("key"), col("o_orderdate").cast("timestamp").as("t"))
      .agg(max("o_orderkey").as("last_orderkey"))
      .select(col("key"), col("t"), lit(0).as("side"),
        col("last_orderkey"), lit(null).cast("long").as("event_id"))
    val ev = Tables.events(s, dir)
      .select(col("user_id").as("key"), col("ts").as("t"), lit(1).as("side"),
        lit(null).cast("long").as("last_orderkey"), col("event_id"))
    val tagged = ord.unionByName(ev)
      .withColumn("bin", expr(s"unix_micros(t) div $AsofBinMicros"))
      // feeds the within-bin window AND the bin-summary aggregate
      .localCheckpoint(eager = false)

    // (1) within-bin running last, partitioned by (key, bin)
    val wBin = Window.partitionBy("key", "bin").orderBy("t", "side")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val within = tagged.select(col("event_id"), col("key"), col("bin"), col("t"), col("side"),
      last(when(col("side") === 0, col("last_orderkey")), ignoreNulls = true)
        .over(wBin).as("in_key"),
      last(when(col("side") === 0, col("t")), ignoreNulls = true)
        .over(wBin).as("in_date"))

    // (2) latest order per (key, bin) — null for event-only bins.
    // Round-17 (guide §1.2 step 2): this was max(when(side=0, struct(t,
    // last_orderkey))) — a struct-typed buffer, which forces SortAggregate
    // (two extra full sorts of the tagged union, the serial one below the
    // exchange being the expensive one). Orders are pre-reduced to ONE row
    // per (key, o_orderdate) and bins are calendar days, so a (key, bin)
    // group holds AT MOST ONE order row — the lexicographic struct max
    // degenerates to two independent primitive maxes over that single row
    // (null together on event-only bins), which hash-aggregate.
    val summaries = tagged.groupBy("key", "bin")
      .agg(max(when(col("side") === 0, col("t"))).as("bin_t"),
           max(when(col("side") === 0, col("last_orderkey"))).as("bin_key"))
    // (3) carry from strictly earlier bins; window rows = active bins per
    // key. bin_t/bin_key are null on exactly the same rows, so the two
    // last(ignoreNulls) frames resolve to the same source row.
    val wCarry = Window.partitionBy("key").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carries = summaries.select(col("key"), col("bin"),
      last(col("bin_t"), ignoreNulls = true).over(wCarry).as("carry_t"),
      last(col("bin_key"), ignoreNulls = true).over(wCarry).as("carry_key"))

    // (4) resolve: within-bin hit wins, else the carried prior-bin order
    within.filter(col("side") === 1)
      .join(carries, Seq("key", "bin"))
      .select(col("event_id"), col("key").as("user_id"), col("t").as("ts"),
        coalesce(col("in_date"), col("carry_t")).as("last_order_date"),
        coalesce(col("in_key"), col("carry_key")).as("last_orderkey"))
      .oracleSorted("event_id")
  }

  /** C6 `join_salted`: explicit skew mitigation for a hot-key equi-join.
    * The first line of defense at scale is AQE's skew-join split; when a
    * single key is hot enough that even split shuffle blocks hammer one
    * reducer, the classic fix is salting — fact rows get a deterministic
    * salt in [0, S), the other side is replicated S× with `explode`, and
    * the join key becomes (key, salt), spreading the hot key over S
    * reducers at the cost of an S× build side. The result is provably
    * identical to the unsalted join, which is exactly what the oracle runs.
    */
  def joinSalted(s: SparkSession, dir: String): DataFrame = {
    val S = 8
    val li = Tables.lineitem(s, dir)
      .withColumn("l_salt", pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(S)))
    val ord = Tables.orders(s, dir)
      .withColumn("o_salt", explode(sequence(lit(0), lit(S - 1))))
    // round-17 (guide §3.1): pin a SHUFFLE join. At fixture size the
    // planner broadcast the S×-exploded orders side — a serial 1.2M-row
    // broadcast build that also defeats the demo (salting exists to spread
    // a hot key across SHUFFLE reducers; a broadcast join has none). The
    // hint exchanges both sides by (key, salt) — the exact plan the salt is
    // for — same pinning rationale as join_bucketed's `merge` hint. SMJ
    // over shuffled-hash by measurement at BOTH scales (sf0.1 warm 0.90 vs
    // 1.11 s; 100× 25 vs 30 s — the sort spills gracefully where the
    // per-partition hash build pays GC).
    ord.join(li.hint("merge"),
        col("o_orderkey") === col("l_orderkey") && col("o_salt") === col("l_salt"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_lines"),
           graft.functions.Num.money(
             sum(graft.functions.Num.dec2(col("l_extendedprice")))).as("gross"))
      .oracleSorted("o_orderstatus")
  }

  /** C7 `join_range`: interval/range join — for each event, how many events
    * by the same user land strictly inside the following minute. SURVEY §2.C
    * notes the reference has no theta/range joins; the naive Spark encoding
    * (non-equi condition only) plans a BroadcastNestedLoopJoin, which is a
    * cross product at scale. Scalable shape: bucket time into bins exactly
    * one range-width wide (60 s), so every match for an anchor lives in the
    * anchor's bin or the next one; explode each anchor into those two
    * candidate bins and equi-join on (user, bin) with the exact range
    * predicate as a post-filter. The join is then a plain shuffle hash/SMJ
    * on (user, bin) — work ∝ matches, not |events|², and each match joins
    * exactly one candidate row (bins are disjoint), so no dedup is needed.
    * Left join + `count(r_id)` keeps zero-match anchors at count 0.
    */
  def joinRange(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select("event_id", "user_id", "ts")
    val bin = expr("unix_micros(ts) div 60000000")
    val anchors = ev.select(col("event_id"), col("user_id"), col("ts"),
      explode(array(bin, bin + 1)).as("bin"))
    val right = ev.select(col("user_id").as("r_user"), col("ts").as("r_ts"),
      col("event_id").as("r_id"), bin.as("r_bin"))
    anchors.join(right,
        col("user_id") === col("r_user") && col("bin") === col("r_bin") &&
        col("r_ts") > col("ts") &&
        col("r_ts") <= col("ts") + expr("INTERVAL 1 MINUTE"), "left")
      .groupBy("event_id", "user_id", "ts")
      .agg(count(col("r_id")).as("n_next_min"))
      .oracleSorted("event_id")
  }

  /** C10 `join_bloom`: explicit bloom-filter semi-reduction of a fact scan.
    *
    * Catalyst's runtime bloom injection (RuntimeFilterSpec) lives and dies
    * inside one query; this operator is the build-once/apply-many form a
    * 100 TB pipeline uses when the same selective dimension gates MANY fact
    * scans: build the sketch from the filtered dim with a distributed
    * `stat.bloomFilter` tree-aggregate (driver receives a KB–MB bitset,
    * never rows), then probe it in a codegen'd filter
    * (plans/BloomProbe.scala) BELOW the fact side's exchange — the shuffle
    * moves ~|matching| rows instead of the whole fact table. No false
    * negatives, and the equi-join afterwards removes the ≤1% false
    * positives, so the result is EXACT and a plain SQL join oracles it.
    *
    * The dim side here (urgent 1995 orders) fits a broadcast at test SF, but
    * at the deployment scale this demo is FOR, it does not — `hint("merge")`
    * pins the 100 TB plan so BloomSpec can assert the probe sits below the
    * fact-side shuffle (same pinning rationale as `join_bucketed`).
    */
  def joinBloom(s: SparkSession, dir: String): DataFrame = {
    val dim = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      .select("o_orderkey", "o_orderdate")
    // one cheap dim pass to size the sketch + one to build it — both are
    // aggregates over the (selective) dim, the documented price of cutting
    // the fact shuffle; fpp 1% ⇒ ~9.6 bits/key
    val nKeys = math.max(dim.count(), 1L)
    val sketch = dim.stat.bloomFilter("o_orderkey", nKeys, 0.01)
    val fact = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_extendedprice", "l_discount")
      .where(graft.plans.BloomProbe.probe(col("l_orderkey"), sketch))
    fact.join(dim.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(month(col("o_orderdate")).cast("int").as("o_month"))
      .agg(count(lit(1)).as("n_lines"),
        graft.functions.Num.money(
          sum(graft.functions.Num.discounted(col("l_extendedprice"), col("l_discount")))).as("revenue"))
      .oracleSorted("o_month")
  }

  /** C11 `join_fuzzy` (round 7): edit-distance similarity join — fuzzy
    * entity matching (dedup of names/addresses across sources), the string
    * sibling of the embedding near-dup family. The naive encoding is an
    * all-pairs `levenshtein ≤ k` theta-join — quadratic, the 100 TB failure
    * mode PlanSweepSpec bans. Scalable shape (FastSS deletion
    * neighborhoods): explode each name into its |name| delete-one-char
    * variants; two names at substitution distance 1 share the variant that
    * deletes the differing position, so candidates come from a plain
    * EQUI-join on the variant string; `levenshtein` verifies exactly, and
    * key_a < key_b + distinct canonicalize the pair set. Cost ∝ names ×
    * |name| candidates, never names².
    *
    * The DuckDB oracle REPLAYS the same FastSS chain (round 15 — linear
    * like the engine, so the 10×/100× scale gates run it; the old
    * brute-force all-pairs oracle was quadratic and kept this the last
    * excluded_manual). The recall-1.0 proof against brute force lives in
    * JoinsWindowsSpec (driver-side all-pairs on the fixture — the hash
    * match there proves the blocking finds exactly the quadratic answer
    * over the FULL Levenshtein-≤1 class: substitutions via the shared
    * position-qualified variant, insertions/deletions via name-to-variant
    * equality across lengths) and in LawsCheck's class-completeness
    * property on random variable-length universes.
    */
  def joinFuzzy(s: SparkSession, dir: String): DataFrame = {
    // Zero-length names are excluded IDENTICALLY on both sides (round-15
    // ADVICE): `sequence(1, length(name))` on an empty name returns the
    // descending [1, 0] (Spark's sequence is bidirectional), so the engine
    // would emit deletion variants for it — while the oracle's
    // generate_series(1, 0) yields none. The fixture contract keeps names
    // non-empty (TPC-H c_name), so the filter is a no-op there; it exists
    // so the blocking's candidate class has ONE definition on both engines
    // for any input.
    val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_name"))
      .filter(length(col("c_name")) > 0)
    // Blocking covers the WHOLE Levenshtein-≤1 class through three
    // disjoint equi-join routes (FastSS, position-qualified):
    //  - substitution: shared (deletion INDEX, variant) — two equal-length
    //    names share (i, delete-at-i) iff they differ only at position i.
    //    Keying on the bare variant (round-7 first form) also admitted
    //    every distance-2 delete+insert pair as a candidate; measured at
    //    sf0.1 that was 1.6M candidates, ~84% rejected by the verify
    //    (13.3 s) — the position-qualified key prunes them at the join
    //    (5-6 s, dominated by the 262k TRUE pairs the query must emit);
    //  - deletion/insertion (cross-length): one side's NAME equals the
    //    other's variant — exact by construction, joined both directions.
    // `levenshtein` verifies uniformly; key_a < key_b + distinct
    // canonicalize (a deletion pair can surface at several i).
    def named(pfx: String): DataFrame = c.select(
      col("c_custkey").as(s"key_$pfx"), col("c_name").as(s"name_$pfx"))
    // Round-17 (guide §2.4/§3): the deletion-variant table is derived ONCE
    // behind a lineage cut — the round-7 form re-ran the customer scan +
    // posexplode for each of its three join inputs, and because the
    // substitution self-join's two sides are now the SAME materialized
    // frame, their (i, v) shuffles are identical subtrees Spark dedups via
    // ReusedExchange (2 exchanges → 1 on that join).
    val vbase = c.select(
      col("c_custkey").as("key"), col("c_name").as("name"),
      posexplode(expr("transform(sequence(1, length(c_name)), " +
        "i -> concat(substring(c_name, 1, i - 1), substring(c_name, i + 1, length(c_name))))")))
      .withColumnsRenamed(Map("pos" -> "i", "col" -> "v"))
      .localCheckpoint(eager = false)
    // Round-18 (guide §2.3/§8.4 — shuffle keys, not payloads): the round-17
    // form shipped BOTH name columns through every exchange — the
    // substitution self-join's (i, v) shuffle carried (key, name, i, v) on
    // both sides (54M rows at 100×: 2.95 GB written, 4.8 GB spilled in the
    // merge sort) and the terminal distinct deduped 5-column rows. Names
    // are functionally determined by key, so the pair DECISIONS need no
    // name at all:
    //  - substitution route: a shared (i, delete-at-i) between equal-length
    //    names already IMPLIES dist ≤ 1 (they agree outside position i) —
    //    every join hit is a true pair, no verify column needed. Whether
    //    dist is 0 or 1 falls out of counting shared variants whose DELETED
    //    CHARACTER also matches (the 1-char `d` column): equal names of
    //    length L share all L position-qualified variants with equal
    //    deleted chars (n_same = L = length(v) + 1, free at the join),
    //    while names differing at exactly one position p share exactly ONE
    //    variant — (p, delete-at-p), where the deleted chars DIFFER — so
    //    n_same = 0 (sharing (j, ·) for j ≠ p would mean agreeing outside
    //    j too — contradiction). The deleted char is what keeps L = 1
    //    honest: two distinct single-char names share (1, "") but their
    //    deleted chars differ. So the groupBy(key_a, key_b) that replaces
    //    the old distinct also classifies: dist = 0 iff n_same = L.
    //  - cross-length route: name_a = delete-variant of name_b ⇒ dist
    //    exactly 1; only the keys survive to the dedup.
    // The exchanges now carry (key, i, v, d) / (key_b, v_b) rows and the
    // dedup runs on (key_a, key_b) ints; names re-attach to the PAIR SET
    // (output-sized, ≪ variant-sized) by two key equi-joins at the end.
    // The old `levenshtein`-free dist reasoning (round 17) carries over
    // unchanged; JoinsWindowsSpec still compares the full (keys, names,
    // dist) tuple set against a driver-side textbook DP.
    def sv(pfx: String): DataFrame = vbase.select(
      col("key").as(s"key_$pfx"), col("i").as(s"i_$pfx"), col("v").as(s"v_$pfx"),
      col("name").substr(col("i"), lit(1)).as(s"d_$pfx"))
    val subsPairs = sv("a").join(sv("b"),
        col("i_a") === col("i_b") && col("v_a") === col("v_b") &&
          col("key_a") < col("key_b"))
      .groupBy("key_a", "key_b")
      .agg(sum(when(col("d_a") === col("d_b"), 1).otherwise(0)).as("n_same"),
        max(length(col("v_a"))).as("vlen"))
      .select(col("key_a"), col("key_b"),
        when(col("n_same") === col("vlen") + 1, 0).otherwise(1).as("dist"))
    // deletion + insertion routes as ONE join (round 17), canonicalized by
    // a key swap; route-internal multiplicity (several i producing the same
    // variant) dedups on the bare key pair. The two routes are DISJOINT
    // (equal vs off-by-one lengths), so no cross-route dedup is needed.
    val crossPairs = named("a").join(
        vbase.select(col("key").as("key_b"), col("v").as("v_b")),
        col("name_a") === col("v_b") && col("key_a") =!= col("key_b"))
      .select(least(col("key_a"), col("key_b")).as("key_a"),
        greatest(col("key_a"), col("key_b")).as("key_b"))
      .distinct()
      .withColumn("dist", lit(1))
    subsPairs.unionByName(crossPairs)
      .join(c.select(col("c_custkey").as("key_a"), col("c_name").as("name_a")), "key_a")
      .join(c.select(col("c_custkey").as("key_b"), col("c_name").as("name_b")), "key_b")
      .select(col("key_a"), col("key_b"), col("name_a"), col("name_b"), col("dist"))
      .oracleSorted("key_a", "key_b")
  }

  /** Left outer join preserving customers with zero orders (count of a
    * nullable column counts only matches).
    */
  def joinOuter(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"),
           coalesce(graft.functions.Num.money(
             sum(graft.functions.Num.dec2(col("o_totalprice")))), lit(0.0)).as("sum_total"))
      .oracleSorted("c_custkey")
}
