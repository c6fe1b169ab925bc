package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import graft.functions.OracleSort._
import org.apache.spark.sql.functions._

/** Event-time / streaming-shaped operators (SURVEY §2.J).
  *
  * The reference has no streaming; these run the standard event-time surface
  * in batch with the SAME functions Structured Streaming executes (`window`,
  * `session_window`), so the semantics transfer 1:1 to a `readStream` source.
  * StreamingParitySpec re-runs the tumbling aggregation under `MemoryStream`
  * to prove batch/stream parity.
  *
  * Scale notes: time-windowed aggregation shuffles by (window, key) — group
  * cardinality is bounded by time-range/window-size × key cardinality, so
  * these hold at 100 TB. Session windows shuffle by user_id; per-user event
  * counts are the skew risk, handled by AQE skew-join/partition splitting.
  */
object EventOps {

  /** J1: tumbling window aggregation. */
  def streamTumbling(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), graft.functions.Num.money(sum(graft.functions.Num.dec2(col("value")))).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))
      .oracleSorted("window_start", "event_type")

  /** J2: sliding window (1 hour window, 15 minute slide → 4 windows/row). */
  def streamSliding(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"), graft.functions.Num.money(sum(graft.functions.Num.dec2(col("value")))).as("sum_value"))
      .select(col("window.start").as("window_start"), col("n"), col("sum_value"))
      .oracleSorted("window_start")

  /** J3: session window per user (10 minute gap). Session start is the first
    * event's timestamp; a new session begins when the gap from the previous
    * event is >= the gap duration (Spark merges overlapping [ts, ts+gap)).
    */
  def streamSession(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), graft.functions.Num.money(sum(graft.functions.Num.dec2(col("value")))).as("sum_value"))
      .select(col("session_window.start").as("session_start"), col("user_id"),
              col("n_events"), col("sum_value"))
      .oracleSorted("user_id", "session_start")

  /** J4 `stream_watermark`: watermark / late-data semantics as a BATCH
    * query (round-7: previously test-only). Structured Streaming's rule —
    * drop a row when its window has already been finalized, i.e. when
    * `window.end <= max(event time seen in prior batches) - delay` — is
    * replayed over a deterministic arrival order: micro-batch
    * `event_id div 1000`, with `error` events delivered one batch late
    * (the batched-crash-report model; the raw feed is time-ordered, so
    * lateness must come from delivery, exactly as in production). With a
    * 6-hour delay part of each late error batch lands behind the watermark
    * and is dropped at EVERY SF (201 / 1823 / 1878 rows at
    * sf0.001/0.01/0.1) — the gate row fails if either the watermark
    * recursion or the drop predicate is wrong.
    *
    * Scale shape: the per-batch max is a partial agg (≤ one row per batch);
    * the prefix-max window runs over that BOUNDED batch-count frame, never
    * over rows (same O(partitions) argument as the global row-number
    * helper); the watermark table broadcasts back onto events. Streaming
    * parity: StreamingParitySpec feeds the identical batch schedule through
    * MemoryStream + `withWatermark` and asserts the surviving aggregate
    * matches this plan row-for-row.
    */
  def streamWatermark(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("bat", expr("event_id div 1000") +
        when(col("event_type") === "error", lit(1L)).otherwise(lit(0L)))
    val bmax = ev.groupBy("bat").agg(max("ts").as("mx"))
    // strictly-prior batches: streaming watermarks advance BETWEEN batches
    val prior = Window.orderBy("bat").rowsBetween(Window.unboundedPreceding, -1)
    val wm = bmax.select(col("bat"),
      (max("mx").over(prior) - expr("INTERVAL 6 HOURS")).as("wmark"))
    ev.join(broadcast(wm), "bat")
      .withColumn("w", window(col("ts"), "1 hour"))
      .filter(col("wmark").isNull || col("w.end") > col("wmark"))
      .groupBy(col("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.functions.Num.money(sum(graft.functions.Num.dec2(col("value")))).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))
      .oracleSorted("window_start", "event_type")
  }

  /** J8 `stream_join`: attribution join — each purchase enriched with the
    * count of the same user's clicks in the preceding 10 minutes. This is
    * the STREAM-STREAM time-range join (the enrichment every attribution
    * pipeline runs at ingest): in Structured Streaming the identical
    * predicate (user equality + bounded time range) with watermarks on
    * both sides runs incrementally with bounded state — the range bound is
    * what lets the engine expire buffered rows. StreamingParitySpec runs
    * exactly that MemoryStream join and asserts it matches this batch form.
    *
    * Batch scale shape: same bin-bucket trick as `join_range` — clicks land
    * in 10-minute bins, each purchase probes its own and the previous bin,
    * so the join is a plain (user, bin) equi-join with the exact range
    * predicate as a post-filter; work ∝ matches, never |events|². Left join
    * keeps zero-click purchases at count 0.
    */
  def streamJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val bin = expr("unix_micros(ts) div 600000000") // 600 s = the range width
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"),
        explode(array(bin - 1, bin)).as("bin"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"), bin.as("c_bin"))
    purchases.join(clicks,
        col("user_id") === col("c_user") && col("bin") === col("c_bin") &&
        col("c_ts") >= col("ts") - expr("INTERVAL 10 MINUTES") &&
        col("c_ts") < col("ts"), "left")
      .groupBy("event_id", "user_id", "ts")
      .agg(count(col("c_id")).as("n_clicks_10m"))
      .oracleSorted("event_id")
  }

  /** J9 `funnel_events` (round 6): ordered multi-step funnel — per user, the
    * earliest view, the earliest click AFTER that view within 60 minutes,
    * and the earliest purchase AFTER that click within 60 minutes; depth =
    * how many stages completed. This is the sequential-pattern query every
    * product-analytics pipeline runs, and it is NOT a plain aggregation:
    * each stage's predicate depends on the previous stage's result.
    *
    * Scale shape: each stage is a type-filtered partial-agg `groupBy(user)`
    * min — map-side combine collapses events to one row per user BEFORE the
    * shuffle, so each stage shuffles ≤ |users| rows regardless of event
    * volume, and the stage joins are equi-joins on user_id over those
    * already-aggregated (small) frames. No window over raw events, no
    * per-user event buffering — at 100 TB the cost is three filtered scans
    * (one per stage; a single-scan variant would trade them for a full
    * shuffle of all events, which loses whenever the funnel types are a
    * small fraction of traffic).
    */
  def funnelEvents(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select("user_id", "event_type", "ts")
    val step = expr("INTERVAL 60 MINUTES")
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("view_ts"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id")
      .filter(col("ts") > col("view_ts") && col("ts") <= col("view_ts") + step)
      .groupBy("user_id").agg(min("ts").as("click_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id")
      .filter(col("ts") > col("click_ts") && col("ts") <= col("click_ts") + step)
      .groupBy("user_id").agg(min("ts").as("purchase_ts"))
    // later-stage timestamps are NULL for users who fell out of the funnel;
    // they cross the oracle gate as epoch-micros BIGINTs because a NULL
    // TIMESTAMP surfaces as NaT, which no equality (or hash) treats as
    // self-equal — numeric NULLs compare fine (view_ts is never NULL)
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("view_ts"),
        unix_micros(col("click_ts")).as("click_us"),
        unix_micros(col("purchase_ts")).as("purchase_us"),
        (lit(1) + when(col("click_ts").isNotNull, 1).otherwise(0)
               + when(col("purchase_ts").isNotNull, 1).otherwise(0)).as("depth"))
      .oracleSorted("user_id")
  }

  /** J10 `event_retention` (round 6): cohort retention — users cohorted by
    * the calendar day of their first event; for each (cohort_day, day
    * offset) the count of distinct cohort members active that day. The
    * classic growth-analytics triangle, and the canonical "self-join on a
    * per-key aggregate" shape.
    *
    * Scale shape: the first-day frame is a partial-agg `groupBy(user)` min
    * (shuffle ≤ |users|); activity is `distinct (user, day)` (partial
    * distinct collapses same-day duplicates map-side); the join back is a
    * user-key equi-join; the final count-distinct groups by (cohort, offset)
    * whose cardinality is days² — tiny forever. Nothing here depends on raw
    * event volume past the first map stage.
    */
  def eventRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val firstDay = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
    ev.distinct()
      .join(firstDay, "user_id")
      .groupBy(col("cohort_day"), datediff(col("day"), col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      // DATE crosses the gate as midnight TIMESTAMP (the join_asof
      // convention: both engines' DATE→pandas representations differ)
      .withColumn("cohort_day", col("cohort_day").cast("timestamp"))
      .oracleSorted("cohort_day", "day_offset")
  }

  /** E6 `window_sessionid` (round 6): gaps-and-islands session-ID
    * assignment — the LONG form of sessionization: every event keeps its
    * row, labeled with its session's ordinal per user (1-based), so
    * downstream joins can attach session context to raw events without
    * re-deriving boundaries. Same 10-minute gap as `stream_session` /
    * `stream_sessionize`; the oracle SQL shares their CTE chain
    * (single-sourced — the three session views cannot drift).
    *
    * Scale shape: two windows over ONE shuffle by user_id (lag + running
    * sum share the partition ordering); per-key size is the skew risk,
    * same story as every per-user window here.
    */
  def windowSessionId(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        lag("ts", 1).over(w).as("prev_ts"))
      .withColumn("brk",
        when(col("prev_ts").isNull ||
          col("ts") >= col("prev_ts") + expr("INTERVAL 10 MINUTES"), 1).otherwise(0))
      .withColumn("sid", sum("brk")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("int"))
      .select("user_id", "event_id", "ts", "sid")
      .oracleSorted("user_id", "ts", "event_id")
  }

  /** `attribution_lasttouch`: marketing attribution — credit each purchase
    * to the user's most recent click at-or-before it. The canonical form
    * is an as-of self-join (`join_asof` machinery); this implementation is
    * the STRONGER plan: ONE window pass per user carrying the last-seen
    * click forward (`last(..., ignoreNulls)` over rows-unbounded-preceding)
    * — no self-join, no second shuffle, cost = one sort per user partition.
    * Purchases with no prior click keep NULL attribution (never dropped —
    * the unattributed rate is itself the metric marketers watch); the
    * click timestamp crosses the gate as micros BIGINT (the NULL-timestamp
    * convention of `funnel_events`).
    */
  def attributionLasttouch(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("click_id",
        last(when(col("event_type") === "click", col("event_id")), ignoreNulls = true).over(w))
      .withColumn("click_ts",
        last(when(col("event_type") === "click", col("ts")), ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("click_id"),
        unix_micros(col("click_ts")).as("click_us"),
        (unix_micros(col("ts")) - unix_micros(col("click_ts"))).as("gap_us"))
      .oracleSorted("event_id")
  }

  /** `resample_ffill`: time-series regularization — resample each user's
    * irregular event stream onto a per-user DAILY grid (first to last
    * active day) and forward-fill gaps with the last observed close value.
    * The classic prep step before any fixed-step model (or any as-of-style
    * dashboard) consumes an event log; without it, per-entity gaps silently
    * bias window statistics.
    *
    * Shape: daily closes via one (user, day) window pass; the grid is
    * `sequence(first_day, last_day, 1 day)` exploded from a per-user
    * aggregate — rows ∝ users × active-span days, never driver-side; the
    * fill is `last(value, ignoreNulls)` over one user-ordered window. Three
    * shuffles total, each keyed by user (the session-family skew story).
    * First grid day is always observed, so the fill never emits NULL.
    */
  def resampleFfill(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("day", date_trunc("DAY", col("ts")))
    val wDay = Window.partitionBy("user_id", "day")
    val daily = ev
      .withColumn("rn", row_number().over(wDay.orderBy(desc("ts"), desc("event_id"))))
      .withColumn("n_obs", count(lit(1)).over(wDay))
      .where(col("rn") === 1)
      .select(col("user_id"), col("day"), col("value").as("close_value"), col("n_obs"))
    val grid = ev.groupBy("user_id").agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY"))).as("day"))
    val wff = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"),
        when(col("n_obs").isNotNull, 1).otherwise(0).as("is_observed"),
        last("close_value", ignoreNulls = true).over(wff).as("close_ff"))
      .oracleSorted("user_id", "day")
  }

  /** `scd2_intervals`: build a slowly-changing-dimension (type 2) history
    * from an event log — each user's event_type is treated as a mutable
    * attribute, and every CHANGE of it opens a validity interval
    * [effective_from, effective_to). The warehouse deliverable this feeds
    * is "what was the user's state at time T" via a plain range predicate,
    * instead of replaying the log per query.
    *
    * Gaps-and-islands over one shuffle by user_id (lag to flag changes,
    * running sum to number islands — the `window_sessionid` machinery with
    * equality breaks instead of time gaps), then one partial-agg groupBy
    * per island and a lead() to close each interval with the next one's
    * start. The open interval of each user's current state has
    * effective_to NULL — emitted as unix-micros BIGINT (`funnel_events`'
    * NULL-timestamp gate convention) with `is_current` as INT.
    */
  def scd2Intervals(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val islands = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type").as("state"))
      .withColumn("brk",
        when(lag("state", 1).over(w).isNull ||
          col("state") =!= lag("state", 1).over(w), 1).otherwise(0))
      .withColumn("island", sum("brk")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val intervals = islands
      .groupBy("user_id", "island")
      .agg(first("state").as("state"), min("ts").as("effective_from"),
        count(lit(1)).as("n_events"))
    val wi = Window.partitionBy("user_id").orderBy("island")
    intervals
      .withColumn("effective_to_us", unix_micros(lead("effective_from", 1).over(wi)))
      .select(col("user_id"), col("island").cast("int").as("version"),
        col("state"), col("effective_from"), col("effective_to_us"),
        col("n_events"),
        when(col("effective_to_us").isNull, 1).otherwise(0).as("is_current"))
      .oracleSorted("user_id", "version")
  }

  /** J5: keep-first dedup by (user_id, event_type) — the batch equivalent of
    * streaming `dropDuplicates` with arrival order made deterministic
    * (earliest ts, then event_id).
    */
  def dedupState(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id", "event_type").orderBy(asc("ts"), asc("event_id"))))
      .filter(col("rn") === 1)
      .select("user_id", "event_type", "event_id", "ts")
      .oracleSorted("user_id", "event_type")

  /** TTL horizon for `dedup_ttl` — 24 h in micros. Calibrated against the
    * testdata gap distribution (per-(user,type) gap p25 ≈ 14 h, p50 ≈ 35 h),
    * so ~36% of events are duplicates at every SF — both verdict branches
    * carry real mass.
    */
  val DedupTtlUs: Long = 24L * 3600 * 1000000

  /** J15 `dedup_ttl` (round 10): TTL-bounded dedup — the PRODUCTION form of
    * `dedup_state`. Keep-first-forever dedup needs one state entry per key
    * ever seen (unbounded at 100 TB); real pipelines keep a key's dedup
    * state only while it stays warm: an event is a duplicate iff the SAME
    * (user, event_type) fired within the last `DedupTtlUs`, and a key that
    * has been silent past the TTL starts a fresh "burst" whose first event
    * is kept again. That is exactly the state a streaming watermark can
    * expire — the streaming twin (`StatefulOps.dedupTtlStream`, parity-
    * tested) carries one timestamp per LIVE key instead of one per key ever.
    *
    * Batch form: gaps-and-islands over (user, type) — gap > TTL breaks a
    * burst; burst ordinal via a running sum; EVERY event is emitted with
    * its burst id and kept flag, so both verdict branches sit in one hash.
    * Integer-micros arithmetic end to end. Scale: one shuffle by (user,
    * type); per-key partitions are bounded and the state story (not the
    * batch cost) is the point of the TTL.
    */
  def dedupTtl(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    Tables.events(s, dir)
      .withColumn("prev_us", unix_micros(lag("ts", 1).over(w)))
      .withColumn("kept",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > DedupTtlUs, 1).otherwise(0))
      .withColumn("burst", sum("kept")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("int"))
      .select("user_id", "event_type", "event_id", "ts", "burst", "kept")
      .oracleSorted("user_id", "event_type", "ts", "event_id")
  }

  /** J14 `event_twap` (round 7): time-weighted average — the
    * metrics-correct mean over IRREGULARLY sampled values (a value "holds"
    * until the next observation; the plain `avg` over-weights chatty
    * periods — the classic monitoring/finance mistake). Per (user, day):
    * weight each event's value by the micros until the user's next event
    * that day (the last observation closes the interval with weight 0),
    * TWAP = Σ v·Δt / Σ Δt. Exactness: Δt is integer micros and v integer
    * cents, per-term products ≤ ~10^16 < 2^63, cross-row sums as
    * DECIMAL(38,0) (associative), ONE double division + round at the
    * edge. Single-event days have no held interval and are excluded
    * (0/0), with `n_obs` emitted so the exclusion is visible. Scale: one
    * lead window + one partial-agg groupBy over the same (user, day)
    * shuffle.
    */
  def eventTwap(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        date_trunc("day", col("ts")).as("day"),
        (col("value").cast(DecimalType(12, 2)) * 100).cast("long").as("cents"))
      .withColumn("dt_us", unix_micros(lead("ts", 1).over(w)) - unix_micros(col("ts")))
      .where(col("dt_us").isNotNull)
      .groupBy("user_id", "day")
      .agg(
        count(lit(1)).as("n_held"),
        sum((col("cents") * col("dt_us")).cast(DecimalType(38, 0))).as("num"),
        sum(col("dt_us").cast(DecimalType(38, 0))).as("den"))
      .where(col("den") > 0)
      .select(col("user_id"), col("day"), col("n_held"),
        round(col("num").cast("double") / col("den").cast("double") / 100, 6).as("twap"))
      .oracleSorted("user_id", "day")
  }

  /** `join_interval` (round 7): interval-OVERLAP join — both sides are
    * intervals, the shape `join_range` (point-in-window) doesn't cover:
    * which user sessions overlap an error-incident window ([ts, ts+30 min]
    * around each error event)? The ops question behind "was this session
    * affected?". Per session, emit the overlap COUNT (left join — sessions
    * clear of incidents keep 0, so both branches of the predicate are
    * non-vacuous: a session containing an error always overlaps its own
    * incident).
    *
    * Session intervals come from the SAME gaps-and-islands chain as
    * `window_sessionid` (oracle single-sourced via sessionIdCtes). Overlap
    * = `s_start <= i_end AND i_start <= s_end` (inclusive ends, the
    * deterministic closed-interval rule). Scale: the equi-key (user_id)
    * bounds candidates to same-user pairs — one shuffle each side; for
    * keyless interval sets the time-bin bucketing of `join_range` is the
    * shape (intervals explode to ≤⌈len/bin⌉ bins, candidates from the bin
    * equi-join, dedup before count).
    */
  def joinInterval(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val sess = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        lag("ts", 1).over(w).as("prev_ts"))
      .withColumn("brk", when(col("prev_ts").isNull ||
        col("ts") >= col("prev_ts") + expr("INTERVAL 10 MINUTES"), 1).otherwise(0))
      .withColumn("sid", sum("brk")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("int"))
      .groupBy("user_id", "sid")
      .agg(min("ts").as("s_start"), max("ts").as("s_end"))
    val inc = Tables.events(s, dir).filter(col("event_type") === "error")
      .select(col("user_id").as("i_user"), col("ts").as("i_start"),
        (col("ts") + expr("INTERVAL 30 MINUTES")).as("i_end"))
    sess.join(inc, col("user_id") === col("i_user") &&
        col("s_start") <= col("i_end") && col("i_start") <= col("s_end"), "left")
      .groupBy("user_id", "sid", "s_start", "s_end")
      .agg(count(col("i_start")).as("n_incidents"))
      .select(col("user_id"), col("sid"),
        unix_micros(col("s_start")).as("s_start_us"),
        unix_micros(col("s_end")).as("s_end_us"),
        col("n_incidents"))
      .oracleSorted("user_id", "sid")
  }

  /** `anomaly_mad` (round 7): robust per-group outlier detection — flag
    * events whose value sits further than 3 scaled-MADs from its event
    * type's median (the median/MAD rule metric-quality monitors use:
    * unlike mean/stddev z-scores, one wild value cannot drag the
    * threshold toward itself). Exactness: values as integer cents, so
    * median and MAD are dyadic rationals (k or k.5 / k.25 — exact
    * doubles) and the flag comparison is the same IEEE product in both
    * engines — the flagged ROW SET is hash-gated, not a rounded score.
    * The events fixture's heavy tail keeps the set non-empty at every SF
    * (vacuity checked in EventAnalyticsSpec). Scale: two partial-agg
    * groupBys (∝ |groups|) + two broadcast joins back; the exact medians
    * are the `agg_median` path — at extreme group cardinality the swap is
    * `approx_percentile` sketches, same argument as D13→D19.
    */
  def anomalyMad(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val e = Tables.events(s, dir)
      .select(col("event_type"), col("event_id"), col("value"))
      .withColumn("x", (col("value").cast(DecimalType(12, 2)) * 100).cast("long"))
    // Round-17 (guide §2.4/§3.1): med and mad are event_type-cardinality-
    // bounded aggregates → broadcast both probe joins (were sort-merge:
    // events shuffled by event_type twice), and cut the deviation frame
    // once — it feeds the MAD aggregate AND the final filter, so the old
    // plan re-ran the events scan + median join for each consumer
    // (4 scans → 1 + one narrow materialization).
    val med = e.groupBy("event_type").agg(median(col("x")).as("med"))
    val j = e.join(broadcast(med), Seq("event_type"))
      .withColumn("adev", abs(col("x") - col("med")))
      .localCheckpoint(eager = false)
    val mad = j.groupBy("event_type").agg(median(col("adev")).as("mad"))
    j.join(broadcast(mad), Seq("event_type"))
      .where(col("adev") > lit(3) * lit(1.4826) * col("mad"))
      .select(col("event_type"), col("event_id"), col("value"),
        round(col("med") / 100, 2).as("med_val"),
        round(col("mad") / 100, 2).as("mad_val"),
        round(col("adev") / (lit(1.4826) * col("mad")), 4).as("robust_z"))
      .oracleSorted("event_type", "event_id")
  }

  /** `anomaly_running` gate: flag only after this many PRIOR events (a
    * z-score against fewer is noise), and the squared z threshold (3σ →
    * 9, kept squared so the test is a pure integer comparison).
    */
  val AnomalyMinPrior = 5
  val AnomalyZ2 = 9L

  /** E11 `anomaly_running` (round 14): per-key RUNNING z-score anomaly
    * flags — the ONLINE form of D28's global MAD filter (production
    * monitors score each event against what the key had seen BEFORE it,
    * not against the full-history distribution a batch filter sees): per
    * user in (ts, event_id) order, an event is anomalous when its value
    * sits more than 3σ from the mean of its strict predecessors. One
    * window pass carries the running (n, Σv, Σv²) over integer cents, and
    * the 3σ test is the cross-multiplied INTEGER comparison
    * (v·n − Σv)²·(n−1) > 9·n·(n·Σv² − Σv²) — no float mean/stddev
    * anywhere, so both engines agree exactly. The ACCUMULATORS and the
    * products both run wide (round-15 ADVICE — the round-14 fix widened
    * only the 3σ comparison, leaving the running Σv² itself to wrap a
    * Long at ~2.5×10⁹ events on one hot key at cents ~6×10⁴): Σv and Σv²
    * accumulate in DECIMAL(38,0) — exactly DuckDB's own BIGINT-sum →
    * HUGEINT widening — and the comparison's triple products run in the
    * same type. Bounds differ per term (round-16 ADVICE): n·Σv² holds to
    * n ~10¹⁰ per key, but the LHS dev²·(n−1) grows ~n³·cents² and can
    * saturate 38 digits around n ~10⁹·⁵ on one hot key at cents ~6×10⁴ —
    * under ANSI that overflow ERRORS LOUDLY (both engines), never
    * produces wrong rows; it is the documented extreme-hot-key limit. The
    * EMITTED s1/s2 stay BIGINT (the cross-engine schema): the narrowing
    * cast fails loudly at the same point DuckDB's CAST(sum AS BIGINT)
    * errors, instead of the old silent wrap inside the accumulator.
    *
    * Scale shape: ONE shuffle by user_id, one linear window pass per key
    * (running frames are O(1)/row); output ∝ anomalies. The identical
    * fold runs incrementally as `stream_anomaly`
    * (StatefulOps.streamAnomaly — O(1) state per key at ingest time);
    * StatefulOpsSpec pins the two row-for-row and across triggers.
    */
  def anomalyRunning(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val dev = col("cents") * col("n_prior") - col("s1")
    // first factor of each product chain widened; BIGINT co-factors then
    // promote, so every multiply runs in decimal space (exact at scale 0)
    val wide = DecimalType(38, 0)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        (col("value").cast(DecimalType(12, 2)) * 100).cast("long").as("cents"))
      .withColumn("n_prior", count(lit(1)).over(w))
      .withColumn("s1", coalesce(sum(col("cents").cast(wide)).over(w),
        lit(0L).cast(wide)))
      .withColumn("s2", coalesce(sum((col("cents").cast(wide)) * col("cents")).over(w),
        lit(0L).cast(wide)))
      .filter(col("n_prior") >= AnomalyMinPrior &&
        dev.cast(wide) * dev * (col("n_prior") - 1) >
          lit(AnomalyZ2).cast(wide) * col("n_prior") *
            (col("n_prior").cast(wide) * col("s2") -
              col("s1") * col("s1")))
      .select(col("user_id"), col("event_id"), col("cents"), col("n_prior"),
        col("s1").cast("long").as("s1"), col("s2").cast("long").as("s2"))
      .oracleSorted("user_id", "event_id")
  }

  /** E12 `event_markov` (round 14): first-order transition matrix of the
    * per-user event stream — the user-journey Markov model (what follows
    * what, and how often): per user in (ts, event_id) order, each event
    * pairs with its successor via `lead`, pairs aggregate to (src, dst)
    * counts, and each row carries its src row-total so the transition
    * probability is the exact integer ratio n/src_total (never
    * materialized as a float — the consumer divides). Output is
    * |event_types|² rows max.
    *
    * Scale shape: ONE shuffle by user_id for the lead window (linear
    * pass), then a partial-agg groupBy whose key space is the TYPE
    * domain (bounded), and a broadcast-sized totals join. Law
    * (EventAnalyticsSpec): per-src counts sum exactly to src_total, and
    * src_total equals the user-stream non-terminal event count.
    */
  def eventMarkov(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
    val pairs = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("src_type"))
      .withColumn("dst_type", lead(col("src_type"), 1).over(w))
      .filter(col("dst_type").isNotNull)
      .groupBy("src_type", "dst_type").agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy("src_type").agg(sum(col("n")).as("src_total"))
    pairs.join(totals, "src_type")
      .select(col("src_type"), col("dst_type"), col("n"), col("src_total"))
      .oracleSorted("src_type", "dst_type")
  }
}
