package graft.operators

import graft.{Staging, Tables}
import graft.functions.OracleSort._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table-maintenance operators a 100 TB lakehouse runs daily: CDC upsert
  * merge and multi-dimensional clustering layout. Neither is in the
  * reference (its corpus is immutable course data); both are table-stakes
  * for the training-data pipelines this engine targets — a corpus is not
  * write-once (takedowns, re-crawls, label fixes), and scans over it filter
  * on more than one dimension.
  */
object Lakehouse {

  /** `merge_upsert`: the MERGE INTO shape — apply a CDC batch of
    * updates / deletes / inserts to a base snapshot in one pass.
    *
    * The change batch here is DERIVED deterministically from the base
    * (update every key ≡3 mod 7, delete every key ≡5 mod 13 — deletes win
    * the overlap — insert a fresh negative key for every key ≡4 mod 11),
    * so the DuckDB oracle can reconstruct the identical merge from the raw
    * table and hash-check all four verdict classes (kept / updated /
    * deleted / inserted) in one gate row set.
    *
    * Shape: ONE full-outer equi-join on the key — matched+op=U rewrites
    * values, matched+op=D drops the row, unmatched-change inserts,
    * unmatched-base carries over. Scale: shuffle is ∝ |base|+|changes| once;
    * at 100 TB the base side is bucketed by key (`join_bucketed`'s layout),
    * making the daily merge exchange-free on the big side, and a
    * broadcast join when the batch is small. Never read-modify-write per
    * row — that is an RDBMS pattern, not a lake one.
    */
  def mergeUpsert(s: SparkSession, dir: String): DataFrame =
    mergedSnapshot(s, dir).oracleSorted("o_orderkey")

  /** The pre-merge base snapshot (shared by `merge_upsert` and
    * `cdc_changefeed` so the two operators — apply-a-feed and
    * derive-a-feed — can never drift apart on what the table states are).
    */
  private[graft] def ordersBase(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .where(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey").as("key"), col("o_custkey"), col("o_totalprice").as("val"))

  /** The CDC batch with before/after images — op ∈ {U, D, I}, one source
    * for `merge_upsert`'s apply, `cdc_changefeed`'s states, and
    * `matview_delta`'s group deltas (a fixture edit breaks all gates or
    * none). +100.0 stays engine-exact because both engines do the same
    * IEEE double add (no decimal re-rounding involved).
    */
  private[graft] def cdcBatch(base: DataFrame): DataFrame = {
    val updates = base.where(col("key") % 7 === 3 && col("key") % 13 =!= 5)
      .select(col("key"), col("o_custkey"), col("val").as("before_val"),
        (col("val") + 100.0).as("after_val"), lit("U").as("op"))
    val deletes = base.where(col("key") % 13 === 5)
      .select(col("key"), col("o_custkey"), col("val").as("before_val"),
        lit(null).cast("double").as("after_val"), lit("D").as("op"))
    val inserts = base.where(col("key") % 11 === 4)
      .select((-col("key")).as("key"), col("o_custkey"),
        lit(null).cast("double").as("before_val"), col("val").as("after_val"),
        lit("I").as("op"))
    updates.unionByName(deletes).unionByName(inserts)
  }

  /** The merged (post-CDC-apply) snapshot with its verdict column. */
  private[graft] def mergedSnapshot(s: SparkSession, dir: String): DataFrame = {
    val base = ordersBase(s, dir)
    val changes = cdcBatch(base)
      .select(col("key").as("c_key"), col("o_custkey").as("c_custkey"),
        coalesce(col("after_val"), col("before_val")).as("c_val"), col("op"))

    base.join(changes, col("key") === col("c_key"), "full_outer")
      .where(coalesce(col("op"), lit("")) =!= "D")
      .select(
        coalesce(col("key"), col("c_key")).as("o_orderkey"),
        coalesce(col("o_custkey"), col("c_custkey")).as("o_custkey"),
        when(col("op").isin("U", "I"), col("c_val")).otherwise(col("val")).as("o_totalprice"),
        when(col("op").isNull, "kept").when(col("op") === "U", "updated")
          .otherwise("inserted").as("src"))
  }

  /** M9 `matview_delta` (round 11): incremental materialized-view
    * maintenance — the third leg of the CDC tripod (apply a feed:
    * `merge_upsert`; derive a feed: `cdc_changefeed`; CONSUME a feed
    * downstream: this). A materialized aggregate view over the base
    * (per-customer sum(val) + row count) is refreshed from the change
    * batch's before/after images ALONE — sum and count are
    * self-maintainable aggregates (Δsum = Σ after−before, Δn =
    * #inserts − #deletes), so the refresh never rescans the base table.
    * Output: one row per AFFECTED group with (old, delta, new) — the
    * view-maintenance journal a lakehouse writes per CDC commit.
    *
    * Float discipline: sums run as DECIMAL(18,2) (order-free; the
    * `join_bloom` money precedent) and cast to double only at the edge.
    *
    * Scale shape: the delta aggregation is over the CHANGE BATCH (∝
    * churn, partial-agged map-side), never the base; the old-view side
    * here is recomputed for the gate but is the STORED view at
    * deployment — joined on the group key, broadcastable whenever the
    * churned-group set is small, bucketed-by-key co-located otherwise.
    * LakehouseSpec pins the refresh law: old+delta == a full recompute
    * over the merged snapshot, per group and in total.
    */
  def matviewDelta(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d2 = (c: Column) => c.cast(DecimalType(18, 2))
    val zero = lit(0).cast(DecimalType(18, 2))
    val base = ordersBase(s, dir)
    val mv = base.groupBy(col("o_custkey"))
      .agg(sum(d2(col("val"))).as("old_sum"), count(lit(1)).as("old_n"))
    val deltas = cdcBatch(base).groupBy(col("o_custkey"))
      .agg(
        sum(coalesce(d2(col("after_val")), zero) - coalesce(d2(col("before_val")), zero))
          .as("delta_sum"),
        sum(when(col("op") === "I", 1L).when(col("op") === "D", -1L).otherwise(0L))
          .as("delta_n"))
    deltas.join(mv, Seq("o_custkey"), "left")
      .select(col("o_custkey"),
        coalesce(col("old_sum"), zero).cast("double").as("old_sum"),
        coalesce(col("old_n"), lit(0L)).as("old_n"),
        col("delta_sum").cast("double").as("delta_sum"),
        col("delta_n"),
        (coalesce(col("old_sum"), zero) + col("delta_sum")).cast("double").as("new_sum"),
        (coalesce(col("old_n"), lit(0L)) + col("delta_n")).as("new_n"))
      .oracleSorted("o_custkey")
  }

  /** M5 `cdc_changefeed` (round 7): snapshot-diff change feed — the
    * INVERSE of `merge_upsert`. Given two states of a table (here: the
    * base snapshot and its post-merge successor, both reconstructible by
    * the oracle), emit the MINIMAL change set that transforms one into
    * the other: one row per differing key with op ∈ insert/update/delete
    * and before/after values — what Delta's change-data-feed /
    * `table_changes` surface exposes, and what replication, cache
    * invalidation, and incremental downstream consumers ingest. Unchanged
    * keys emit nothing (the feed is ∝ churn, not table size).
    *
    * Shape: ONE full-outer equi-join of the two snapshots; at 100 TB both
    * snapshots share the bucketed-by-key layout (`join_bucketed`), making
    * the diff exchange-free — the daily-diff cost is a co-located merge
    * scan, not a shuffle of two full tables. Round-trip law (LakehouseSpec):
    * applying the emitted feed to A reproduces B exactly.
    */
  def cdcChangefeed(s: SparkSession, dir: String): DataFrame = {
    val a = ordersBase(s, dir).select(col("key").as("a_key"), col("val").as("a_val"))
    val b = mergedSnapshot(s, dir)
      .select(col("o_orderkey").as("b_key"), col("o_totalprice").as("b_val"))
    a.join(b, col("a_key") === col("b_key"), "full_outer")
      .withColumn("op",
        when(col("b_key").isNull, "delete")
          .when(col("a_key").isNull, "insert")
          .when(col("a_val") =!= col("b_val"), "update"))
      .where(col("op").isNotNull)
      .select(coalesce(col("a_key"), col("b_key")).as("o_orderkey"), col("op"),
        col("a_val").as("before_val"), col("b_val").as("after_val"))
      .oracleSorted("o_orderkey")
  }

  /** `compact_files` staging root, fragment count, and per-file target. */
  private[graft] val CompactStageDir =
    s"${System.getProperty("java.io.tmpdir")}/graft_compact"
  val CompactSmallFiles = 32
  val CompactTargetBytes: Long = 128L * 1024 * 1024

  /** M6 `compact_files` (round 7): small-file compaction — the maintenance
    * pass every lake runs behind streaming ingest: each micro-batch commit
    * leaves a file, and a 100 TB table accumulates millions of KB-sized
    * fragments whose open/footer overhead dwarfs the data read (file
    * COUNT, not bytes, is the scan bottleneck — the same argument as
    * `scan_binaryfile`'s manifest note). The op rewrites a fragmented
    * mirror (32 files, the post-ingest state) into ⌈bytes / 128 MB⌉
    * right-sized files via one `repartition` job — shuffle ∝ data once,
    * driver work ∝ file count (listing only).
    *
    * Gate: content IDENTITY (the compacted table reads back as exactly the
    * source rows — the property a compaction must never break) plus a
    * `compact_ok` law flag computed from the real file listings
    * (files_after == ⌈bytes/target⌉ ≤ files_before); the oracle emits
    * literal TRUE, so a compaction that drops rows, duplicates rows, or
    * writes the wrong file count all fail the same hash (the
    * `agg_countmin` gated-flag pattern).
    */
  def compactFiles(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    def parquetFiles(p: String): Vector[java.nio.file.Path] = {
      val ls = Files.list(Paths.get(p))
      try ls.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toVector
      finally ls.close()
    }
    // stage key folds BOTH tuning constants in (round-7 ADVICE #5): editing
    // either invalidates the staged layout automatically instead of silently
    // reusing a layout built under the old constants
    val root = Staging.stage(CompactStageDir, dir,
        s"compact1|n=$CompactSmallFiles|t=$CompactTargetBytes",
        s"$dir/documents.parquet") { target =>
      // the fragmented state a micro-batch ingest leaves behind
      Tables.documents(s, dir).repartition(CompactSmallFiles)
        .write.mode("overwrite").parquet(s"$target/small")
      val bytes = parquetFiles(s"$target/small").map(Files.size(_)).sum
      val files = math.max(1L, (bytes + CompactTargetBytes - 1) / CompactTargetBytes).toInt
      Tables.parquet(s, s"$target/small").repartition(files)
        .write.mode("overwrite").parquet(s"$target/compacted")
    }
    val nBefore = parquetFiles(s"$root/small").size
    val nAfter = parquetFiles(s"$root/compacted").size
    val bytes = parquetFiles(s"$root/small").map(Files.size(_)).sum
    val want = math.max(1L, (bytes + CompactTargetBytes - 1) / CompactTargetBytes).toInt
    // Spark writes NO file for an empty partition, so a fixture smaller
    // than CompactSmallFiles rows legitimately yields fewer fragments —
    // the expectation is min(rows, requested partitions), not the constant
    // (round-7 ADVICE #3: the literal check would fail spuriously at a
    // smaller SF rather than flagging a real compaction defect). A cheap
    // metadata-only count over the staged fragments (parquet footers, no
    // row scan) anchors it to the actual staged state.
    val stagedRows = Tables.parquet(s, s"$root/small").count()
    val expectBefore = math.min(stagedRows, CompactSmallFiles.toLong).toInt
    Tables.parquet(s, s"$root/compacted")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .withColumn("files_before", lit(expectBefore))
      .withColumn("compact_ok", lit(nBefore == expectBefore &&
        nAfter == want && nAfter <= nBefore))
      .oracleSorted("doc_id")
  }

  /** `dq_checks`: declarative data-quality audit — the constraint report
    * (Deequ/dbt-test class) every lake pipeline runs before publishing a
    * snapshot: null rates, key uniqueness, referential integrity, value
    * ranges, accepted sets. One row per check with the measured violation
    * count and a pass verdict; the fixture yields BOTH verdicts (the
    * integrity checks hold by construction, the deliberately tight
    * `l_quantity ≤ 40` rule fails at every SF), so neither branch of the
    * verdict logic is vacuous.
    *
    * Scale shape — CHECK FUSION: all row-predicate checks against one
    * table run as conditional sums in ONE scan (orders: 2 checks/scan;
    * lineitem: 2 checks/scan), not one pass per rule — at 100 TB the audit
    * costs one read per table plus the two structurally different checks
    * (uniqueness = partial-agg groupBy on the key; FK = left-anti against
    * the dimension), each itself one shuffle.
    */
  def dqChecks(s: SparkSession, dir: String): DataFrame = {
    def viol(c: Column): Column = sum(when(c, 1).otherwise(0))
    val orders = Tables.orders(s, dir)
    val oRows = orders.agg(
      viol(col("o_custkey").isNull).as("v_notnull"),
      viol(!col("o_orderstatus").isin("O", "F", "P")).as("v_accepted"))
      .select(explode(array(
        struct(lit("not_null:o_custkey").as("check_name"),
          lit("orders").as("table_name"), col("v_notnull").as("violations")),
        struct(lit("accepted:o_orderstatus").as("check_name"),
          lit("orders").as("table_name"), col("v_accepted").as("violations")))).as("p"))
      .select("p.*")
    val lRows = Tables.lineitem(s, dir).agg(
      viol(col("l_discount") < 0 || col("l_discount") > 0.1).as("v_range"),
      viol(col("l_quantity") > 40).as("v_tight"))
      .select(explode(array(
        struct(lit("range:l_discount").as("check_name"),
          lit("lineitem").as("table_name"), col("v_range").as("violations")),
        struct(lit("range:l_quantity_le_40").as("check_name"),
          lit("lineitem").as("table_name"), col("v_tight").as("violations")))).as("p"))
      .select("p.*")
    val uq = orders.groupBy("o_orderkey").agg(count(lit(1)).as("n"))
      .where(col("n") > 1).agg(count(lit(1)).as("violations"))
      .select(lit("unique:o_orderkey").as("check_name"),
        lit("orders").as("table_name"), col("violations"))
    val fk = orders
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("violations"))
      .select(lit("fk:o_custkey").as("check_name"),
        lit("orders").as("table_name"), col("violations"))
    oRows.unionByName(lRows).unionByName(uq).unionByName(fk)
      .withColumn("pass", when(col("violations") === 0, 1).otherwise(0))
      .oracleSorted("check_name")
  }

  /** Bits interleaved per dimension for the Z-order key (dims fit 16 bits
    * at every testdata SF; the 100 TB deployment widens to 21×3 or 16×4 —
    * the construction is identical).
    */
  val ZBits = 16

  /** Z-region width: the z-key's top bits name the region. A PREFIX, not an
    * ntile: regions need no global sort, so assignment is a narrow per-row
    * projection at any scale. 16 ⇒ each region is a 256-customer ×
    * 256-day rectangle — hundreds of occupied regions at the gate SFs
    * (region COUNT grows with the key-space the data occupies; region
    * SHAPE is scale-invariant, which is the property under test).
    */
  val ZShift = 16

  /** The bit-interleave Σᵢ ((x≫i)&1)≪2i | ((y≫i)&1)≪(2i+1) as SQL text —
    * ONE definition rendered into both engines (Spark `expr` and the DuckDB
    * oracle share `>> & <<`), so a bit-order mistake breaks both or
    * neither… which is exactly why the gate also pins per-region min/max of
    * the RAW dims: those expose the layout itself, not just the formula.
    */
  def zInterleaveSql(x: String, y: String): String =
    // BIGINT casts: bit 2i+1 reaches position 31 — INT shift overflow
    // territory in either engine; 64-bit lanes sidestep it identically
    (0 until ZBits).map(i =>
      s"(((CAST(${x} AS BIGINT) >> $i) & 1) << ${2 * i}) + " +
        s"(((CAST(${y} AS BIGINT) >> $i) & 1) << ${2 * i + 1})")
      .mkString("(", " + ", ")")

  /** `layout_zorder`: multi-dimensional clustering — the data-layout move
    * that makes min/max file skipping work on MORE than the sort column.
    *
    * A date-sorted 100 TB table prunes date predicates beautifully and
    * customer predicates not at all (every file spans every customer).
    * Z-ordering interleaves the bits of (customer, day) so each z-region is
    * a RECTANGLE in key space: files carry tight min/max on BOTH dims and
    * either predicate prunes (measured: ZorderSpec shows the per-region
    * customer range collapses ~two orders of magnitude vs date-sorted).
    *
    * This query emits per-region stats (count + min/max of both raw dims) —
    * the footer metadata a skipping scan would consult — and the oracle
    * recomputes the interleave independently, gating the bit arithmetic
    * AND the region geometry. Assignment is a narrow projection (no global
    * sort: regions are z-prefixes); the deployment writes with
    * `repartition($"z_region").sortWithinPartitions($"zkey")`.
    */
  def layoutZorder(s: SparkSession, dir: String): DataFrame = {
    val prepared = Tables.orders(s, dir).select(
      col("o_custkey"),
      datediff(to_date(col("o_orderdate")), lit("1992-01-01").cast("date")).as("day_nr"))
    val z = prepared.withColumn("zkey",
      expr(zInterleaveSql(s"o_custkey & ${(1 << ZBits) - 1}", s"day_nr & ${(1 << ZBits) - 1}")))
    z.groupBy(shiftright(col("zkey"), ZShift).cast("int").as("z_region"))
      .agg(count(lit(1)).as("n_rows"),
        min("o_custkey").as("min_cust"), max("o_custkey").as("max_cust"),
        min("day_nr").as("min_day"), max("day_nr").as("max_day"))
      .oracleSorted("z_region")
  }

  // ------------------------------------------------------------------
  // M2′ Hilbert clustering (round 10)
  // ------------------------------------------------------------------

  /** Hilbert side bits (same 16-bit lanes as Z-order) and the region shift
    * (top 16 of the 32-bit key → each region is an ALIGNED 2^16-key block,
    * which on a Hilbert curve is exactly one 256×256 quadrant).
    */
  val HBits = 16
  val HShift = 16

  /** One Hilbert encode level (bit `i`, top-down) as named SQL fragments —
    * the standard xy→d iteration (quadrant digit + rotate/flip; see the
    * public-domain formulation on the Hilbert-curve literature): rx/ry are
    * bit `i` of the running (x, y); the level contributes s²·(3rx XOR ry)
    * to d (XOR spelled arithmetically, `3rx + ry - 2·rx·ry`, since DuckDB
    * has no `^` operator); when ry = 0 the frame flips (rx = 1 reflects
    * both axes over the FULL grid, N−1 − v — higher bits are already
    * consumed, so the over-wide flip is harmless) and x/y swap.
    *
    * ONE definition rendered into both engines (Spark `expr` consumes the
    * fragments as a `withColumn` chain, the oracle as one CTE per level
    * with same-SELECT lateral aliases), the `zInterleaveSql` discipline: a
    * bit-order mistake breaks both or neither, so the gate also pins the
    * raw-dim region geometry.
    */
  def hilbertLevelSql(i: Int): Seq[(String, String)] = {
    val s = 1L << i
    val n1 = (1L << HBits) - 1
    val (xp, yp, dp) = (s"hx${i + 1}", s"hy${i + 1}", s"hd${i + 1}")
    Seq(
      s"hrx$i" -> s"(($xp >> $i) & 1)",
      s"hry$i" -> s"(($yp >> $i) & 1)",
      s"hd$i" -> s"$dp + ${s * s} * (3 * hrx$i + hry$i - 2 * hrx$i * hry$i)",
      s"hx$i" -> (s"CASE WHEN hry$i = 0 THEN (CASE WHEN hrx$i = 1 " +
        s"THEN $n1 - $yp ELSE $yp END) ELSE $xp END"),
      s"hy$i" -> (s"CASE WHEN hry$i = 0 THEN (CASE WHEN hrx$i = 1 " +
        s"THEN $n1 - $xp ELSE $xp END) ELSE $yp END"))
  }

  /** Attach `hkey` = Hilbert index of (`x`, `y`) (each masked to `HBits`),
    * via the fused native `Kernels.hilbertKey` (round 10: the fragment
    * chain's 80-expression projection cost ~1.1 µs/row — 1.7 s over 600k
    * orders; the kernel is one loop, parity-pinned to the fragment form in
    * NativeVecSpec). Narrow per-row map either way, no shuffle.
    */
  def hilbertKey(df: DataFrame, x: String, y: String): DataFrame =
    df.withColumn("hkey", graft.plans.Kernels.hilbertKey(
      expr(s"CAST($x AS BIGINT)"), expr(s"CAST($y AS BIGINT)"), HBits))

  /** The per-level fragment-chain form of the encode — the oracle's exact
    * shape kept executable engine-side as the kernel's parity reference.
    */
  def hilbertKeyFragments(df: DataFrame, x: String, y: String): DataFrame = {
    val mask = (1L << HBits) - 1
    var cur = df
      .withColumn(s"hx$HBits", expr(s"CAST($x AS BIGINT) & $mask"))
      .withColumn(s"hy$HBits", expr(s"CAST($y AS BIGINT) & $mask"))
      .withColumn(s"hd$HBits", lit(0L))
    for (i <- HBits - 1 to 0 by -1; (c, e) <- hilbertLevelSql(i))
      cur = cur.withColumn(c, expr(e))
    cur.withColumn("hkey", col("hd0"))
      .drop((HBits to 0 by -1).flatMap(i =>
        Seq(s"hx$i", s"hy$i", s"hd$i", s"hrx$i", s"hry$i")): _*)
  }

  /** The oracle's level CTE chain (shared fragments — see hilbertLevelSql);
    * `prep` must provide hx{HBits}/hy{HBits}/hd{HBits}.
    */
  def hilbertCtesSql: String =
    (HBits - 1 to 0 by -1).map { i =>
      val frags = hilbertLevelSql(i).map { case (c, e) => s"$e AS $c" }.mkString(", ")
      s"l$i AS (SELECT *, $frags FROM ${if (i == HBits - 1) "prep" else s"l${i + 1}"})"
    }.mkString(", ")

  /** `layout_hilbert` (round 10): Hilbert-curve clustering — `layout_zorder`
    * with the better space-filling curve. Z-order regions are rectangles
    * but the curve JUMPS (up to a full side at bit boundaries), so a key
    * range can span two far-apart rectangles; the Hilbert walk moves one
    * cell per step, giving strictly tighter worst-case bounding boxes per
    * key range — at 100 TB that is measurably fewer files touched per
    * 2-D predicate (why Delta/Iceberg added Hilbert alongside Z-order).
    *
    * Same gate shape as M2: per-region stats (count + min/max of both raw
    * dims) = the footer metadata a skipping scan consults; the oracle
    * recomputes the full 16-level encode through the SHARED fragments. The
    * structural proof (bijection, unit steps, aligned-quadrant regions)
    * runs on a complete grid in LakehouseSpec; deployment writes with
    * `repartition($"h_region").sortWithinPartitions($"hkey")`.
    */
  def layoutHilbert(s: SparkSession, dir: String): DataFrame = {
    val prepared = Tables.orders(s, dir).select(
      col("o_custkey"),
      datediff(to_date(col("o_orderdate")), lit("1992-01-01").cast("date")).as("day_nr"))
    hilbertKey(prepared, "o_custkey", "day_nr")
      .groupBy(shiftright(col("hkey"), HShift).cast("int").as("h_region"))
      .agg(count(lit(1)).as("n_rows"),
        min("o_custkey").as("min_cust"), max("o_custkey").as("max_cust"),
        min("day_nr").as("min_day"), max("day_nr").as("max_day"))
      .oracleSorted("h_region")
  }

  // ------------------------------------------------------------------
  // M8 zone-map file skipping (round 10)
  // ------------------------------------------------------------------

  /** The 2-D range predicate `zonemap_skip` prunes against — calibrated so
    * the file set splits into BOTH scanned and skipped at every SF.
    */
  val ZmCustLo = 0L
  val ZmCustHi = 999L
  val ZmDayLo = 1500 // orders start 1995 → day_nr ∈ [1096, ~3500] at every SF
  val ZmDayHi = 1900

  /** M8 `zonemap_skip` (round 10): min/max zone maps + file pruning — the
    * mechanism that makes `layout_zorder`/`layout_hilbert` PAY at 100 TB.
    * Parquet footers (and Delta/Iceberg manifests) carry per-file min/max
    * per column; a scan consults only that metadata and opens a file iff
    * its ranges overlap the predicate box. This op materializes the whole
    * decision over the Hilbert layout ("files" = the h-regions the
    * deployment `repartition($"h_region")` writes, so the oracle can
    * replay file assignment exactly): per file, the zone map, the
    * `scanned` verdict for a fixed 2-D box, the EXACT match count, and
    * `skip_safe` = scanned OR n_match = 0.
    *
    * The gate carries the laws, not just the stats: the oracle emits
    * literal TRUE for `skip_safe` (the `compact_ok` gated-flag pattern),
    * so a pruning rule that ever skips a file containing a matching row
    * breaks the hash — the one property file skipping must never lose.
    * Completeness of the metadata (min/max really bound the file) is
    * implied: n_match > 0 forces overlap forces scanned.
    *
    * Scale: the decision input is one row PER FILE (metadata, not data) —
    * at 100 TB that is the manifest scan, millions of times smaller than
    * the table; the per-file stats here are the one-off layout-build cost
    * (`layout_hilbert`'s own aggregation, reused shuffle shape).
    */
  def zonemapSkip(s: SparkSession, dir: String): DataFrame = {
    val prepared = Tables.orders(s, dir).select(
      col("o_custkey"),
      datediff(to_date(col("o_orderdate")), lit("1992-01-01").cast("date")).as("day_nr"))
    val matched = col("o_custkey").between(ZmCustLo, ZmCustHi) &&
      col("day_nr").between(ZmDayLo, ZmDayHi)
    val overlap = col("min_cust") <= ZmCustHi && col("max_cust") >= ZmCustLo &&
      col("min_day") <= ZmDayHi && col("max_day") >= ZmDayLo
    hilbertKey(prepared, "o_custkey", "day_nr")
      .groupBy(shiftright(col("hkey"), HShift).cast("int").as("file_id"))
      .agg(count(lit(1)).as("n_rows"),
        min("o_custkey").as("min_cust"), max("o_custkey").as("max_cust"),
        min("day_nr").as("min_day"), max("day_nr").as("max_day"),
        sum(when(matched, 1L).otherwise(0L)).as("n_match"))
      .withColumn("scanned", when(overlap, 1).otherwise(0))
      .withColumn("skip_safe",
        when(col("scanned") === 1 || col("n_match") === 0, 1).otherwise(0))
      .select("file_id", "n_rows", "min_cust", "max_cust", "min_day", "max_day",
        "scanned", "n_match", "skip_safe")
      .oracleSorted("file_id")
  }

  // ------------------------------------------------------------------
  // M10 scan_timetravel: versioned snapshots, AS-OF reads
  // ------------------------------------------------------------------

  /** Fixed stage dir of the versioned table (see [[graft.Staging.stage]]).
    * Each version is a FULL copy-on-write snapshot directory `v0/ v1/ v2/` —
    * the Delta/Iceberg v1 model, where a committed version is an
    * immutable file set and time travel is directory selection, never
    * reconstruction.
    */
  val TtStageDir = "/tmp/graft_timetravel"
  val TtVersions = 3

  /** The version chain, derived deterministically from `orders` so the
    * oracle can re-derive every snapshot from the raw table:
    * v0 = (key, cust, cents); v1 = v0 with cents+100 on key ≡ 0 (mod 10)
    * (an update batch); v2 = v1 minus key ≡ 0 (mod 7) (a delete batch).
    */
  private[graft] def ttSnapshot(s: SparkSession, dir: String, v: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val v0 = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
      (col("o_totalprice").cast(DecimalType(12, 2)) * 100).cast("long").as("cents"))
    val v1 = v0.withColumn("cents",
      when(col("o_orderkey") % 10 === 0, col("cents") + 100).otherwise(col("cents")))
    v match {
      case 0 => v0
      case 1 => v1
      case _ => v1.filter(col("o_orderkey") % 7 =!= 0)
    }
  }

  /** M10 `scan_timetravel` (round 14): AS-OF version reads over a
    * copy-on-write versioned table — the lakehouse time-travel surface
    * (audit "what did the table say when the model trained", reproduce a
    * past run, diff two versions). Version resolution is directory
    * selection off the staged manifest layout; each AS-OF read is an
    * ordinary pruned parquet scan of that version's immutable file set —
    * no log replay, no reconstruction, so an AS-OF query plans and costs
    * exactly like a current-version query at any scale. The query reads
    * ALL versions and emits one audit row per version (row count, exact
    * cents sum, key span) — the reconciliation a retention/takedown
    * audit wants. The oracle re-derives every snapshot from the raw
    * table while the engine reads the staged files, so the gate also
    * pins the staged snapshot round trip.
    */
  def scanTimetravel(s: SparkSession, dir: String): DataFrame = {
    val root = Staging.stage(TtStageDir, dir, s"tt1|${Tables.scanTag(s)}", s"$dir/orders.parquet") { target =>
      (0 until TtVersions).foreach { v =>
        ttSnapshot(s, dir, v).write.mode("overwrite").parquet(s"$target/v$v")
      }
    }
    (0 until TtVersions).map { v =>
      Tables.parquet(s, s"$root/v$v")
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
        .select(lit(v).as("version"), col("n_rows"), col("sum_cents"),
          col("min_key"), col("max_key"))
    }.reduce(_ union _)
      .oracleSorted("version")
  }
}
