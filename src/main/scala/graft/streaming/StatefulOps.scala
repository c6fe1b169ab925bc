package graft.streaming

import java.sql.Timestamp
import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.functions.OracleSort._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, ListState,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}

/** Custom stateful processing (SURVEY §2.J extension): the
  * `KeyValueGroupedDataset.mapGroupsWithState` surface the brief names for
  * state Spark's built-in windows can't express.
  *
  * The same function runs in BOTH modes:
  *  - batch: each group is processed once with fresh state — equivalent to
  *    a groupBy aggregation, which is exactly what the DuckDB oracle checks;
  *  - streaming: state persists across triggers (verified by
  *    StatefulOpsSpec under `MemoryStream` with incremental batches).
  *
  * Scale: state is shuffled by user_id (high-cardinality, uniform) and each
  * group's state is O(1) — the shape that holds on a 1000-executor cluster;
  * watermark-driven `GroupStateTimeout` bounds state size in streaming.
  */
object StatefulOps {

  /** Starts `ds` into the in-memory table `queryName` (the parity tests'
    * sink for every streaming entry below).
    */
  private def memorySink(ds: Dataset[_], queryName: String, mode: OutputMode) =
    ds.writeStream.format("memory").queryName(queryName).outputMode(mode).start()

  case class UserEvent(user_id: Long, ts: Timestamp, value: Double)

  /** Per-user running profile: event count, exact cents sum, time span. */
  case class UserProfile(user_id: Long, n_events: Long, sum_cents: Long,
                         first_ts: Timestamp, last_ts: Timestamp)

  /** State transition: fold a batch of events into the running profile.
    * Cents arithmetic keeps the fold exact and merge-order independent
    * (events within a group arrive unordered in batch mode).
    */
  def updateProfile(userId: Long, events: Iterator[UserEvent],
                    state: GroupState[UserProfile]): UserProfile = {
    val init = state.getOption.getOrElse(
      UserProfile(userId, 0L, 0L, null, null))
    val updated = events.foldLeft(init) { (p, e) =>
      UserProfile(
        userId,
        p.n_events + 1,
        p.sum_cents + math.round(e.value * 100),
        if (p.first_ts == null || e.ts.before(p.first_ts)) e.ts else p.first_ts,
        if (p.last_ts == null || e.ts.after(p.last_ts)) e.ts else p.last_ts)
    }
    state.update(updated)
    updated
  }

  /** Typed stateful pipeline, shared verbatim between batch and streaming. */
  def profile(events: Dataset[UserEvent]): Dataset[UserProfile] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(updateProfile)
  }

  /** Batch entry for the correctness gate: per-user profile over `events`,
    * surfaced with money as 2-decimal doubles for the oracle.
    */
  def streamStateful(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("value"))
      .as[UserEvent]
    profile(ev)
      .toDF()
      .select(col("user_id"), col("n_events"),
        (col("sum_cents").cast("double") / 100).as("sum_value"),
        col("first_ts"), col("last_ts"))
      .oracleSorted("user_id")
  }

  /** Streaming entry (same pipeline through `writeStream`) — used by the
    * parity test; `Update` mode emits the refreshed profile per trigger.
    */
  def profileStreamQuery(events: Dataset[UserEvent], queryName: String) =
    memorySink(profile(events), queryName, OutputMode.Update())

  // ------------------------------------------------------------------
  // mapGroupsWithState changelog compaction (§2.J13 — M1's streaming twin)
  // ------------------------------------------------------------------

  /** One version of a keyed row in a changelog (seq = version ordinal —
    * the LSN a CDC feed carries; unique per key by contract, here
    * `event_id`, unique by construction).
    */
  case class VersionedRow(key: Long, seq: Long, value: Double)

  /** `stream_upsert`: changelog compaction to latest-version-per-key — the
    * materialized-view maintenance loop every CDC consumer runs: a keyed
    * stream of row VERSIONS arrives (events as versions of their user's
    * state, `event_id` the LSN), and the operator maintains the CURRENT
    * row per key under last-writer-wins. This is the streaming twin of
    * `merge_upsert` (M1): the batch merge applies a finished feed in one
    * join; this form applies it incrementally with O(1) state per key —
    * (seq, row) — so a key's current value is correct after EVERY
    * trigger, not just at the end of the day.
    *
    * Batch = the same typed fold per group (one pass, fresh state), which
    * the window-top-1 oracle checks; StatefulOpsSpec proves a stale
    * version arriving in a LATER trigger than its successor does not
    * regress the state (the last-writer-wins point, where naive
    * overwrite-on-arrival breaks). Scale: state shuffled by key, O(1)
    * each; in deployment the store is RocksDB and versions carry their
    * own ordinal so reordered delivery is safe by construction.
    * (Version order is the LSN, deliberately NOT event time: the fixture's
    * (key, l_linenumber)-style ordinals are non-unique in the wild — an
    * upsert feed without a total version order per key is a bug upstream.)
    */
  def updateLatest(key: Long, rows: Iterator[VersionedRow],
                   state: GroupState[VersionedRow]): VersionedRow = {
    val updated = rows.foldLeft(state.getOption) { (cur, r) =>
      if (cur.forall(_.seq < r.seq)) Some(r) else cur
    }.get // rows is non-empty in both modes when the group fires
    state.update(updated)
    updated
  }

  /** Typed compaction pipeline, shared verbatim between batch and streaming. */
  def latest(rows: Dataset[VersionedRow]): Dataset[VersionedRow] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.key).mapGroupsWithState(GroupStateTimeout.NoTimeout())(updateLatest)
  }

  /** Batch entry for the correctness gate. */
  def streamUpsert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v = Tables.events(s, dir)
      .select(col("user_id").as("key"), col("event_id").as("seq"), col("value"))
      .as[VersionedRow]
    latest(v).toDF()
      .select(col("key").as("user_id"), col("seq").as("last_seq"), col("value"))
      .oracleSorted("user_id")
  }

  /** Streaming entry (same pipeline through `writeStream`) — parity test. */
  def upsertStreamQuery(rows: Dataset[VersionedRow], queryName: String) =
    memorySink(latest(rows), queryName, OutputMode.Update())

  // ------------------------------------------------------------------
  // mapGroupsWithState incremental view maintenance (J16 — M9's twin)
  // ------------------------------------------------------------------

  /** One change-feed row reduced to its view delta: Δcents (after−before,
    * exact integer cents — the `streamStateful` money discipline) and the
    * row-count delta (+1 insert / −1 delete / 0 update). The change→delta
    * mapping is stateless, so the stream carries deltas and the STATE is
    * the running view itself.
    */
  case class MvDelta(group: Long, delta_cents: Long, dn: Long)

  /** Per-group materialized-view state: the running (Σcents, row count). */
  case class MvState(group: Long, sum_cents: Long, n: Long)

  /** `stream_matview`: incremental materialized-view maintenance as a
    * STATEFUL STREAM — the streaming twin of `matview_delta` (M9),
    * exactly as `stream_upsert` twins `merge_upsert` (M1): the batch form
    * refreshes the view from a finished CDC batch in one join; this form
    * folds each arriving change into O(1) per-group state — (Σcents, n)
    * — so the view is correct after EVERY trigger. Sum and count are
    * self-maintainable (no rescan, no per-group history), which is
    * precisely what makes the state O(1) and the operator streamable;
    * integer-cents arithmetic keeps the fold exact and arrival-order
    * free (a double fold would drift by merge order).
    *
    * Batch entry = same typed fold with fresh state ≡ the delta half of
    * `matview_delta`'s journal, checked against the SAME shared
    * change-batch CTE (`cdcSnapshotCtes`) — the batch M9, its oracle,
    * and this twin read one fixture definition. StatefulOpsSpec proves
    * cross-trigger accumulation (deltas split over two triggers land on
    * the batch total) and batch/stream parity.
    */
  def updateMv(g: Long, rows: Iterator[MvDelta],
               state: GroupState[MvState]): MvState = {
    val init = state.getOption.getOrElse(MvState(g, 0L, 0L))
    val up = rows.foldLeft(init) { (st, r) =>
      MvState(g, st.sum_cents + r.delta_cents, st.n + r.dn)
    }
    state.update(up)
    up
  }

  /** Typed maintenance pipeline, shared verbatim between batch and streaming. */
  def mvMaintain(rows: Dataset[MvDelta]): Dataset[MvState] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.group).mapGroupsWithState(GroupStateTimeout.NoTimeout())(updateMv)
  }

  /** Batch entry for the correctness gate: the change feed is M9's
    * derived CDC batch (`Lakehouse.cdcBatch` — one fixture, all CDC
    * gates), reduced to deltas and folded per group.
    */
  /** The typed delta feed of `stream_matview` — split out so the
    * file-source parity test (round 16) drives the IDENTICAL fixture
    * deltas through `readStream` directory discovery.
    */
  private[graft] def mvDeltas(s: SparkSession, dir: String): Dataset[MvDelta] = {
    import s.implicits._
    val base = graft.operators.Lakehouse.ordersBase(s, dir)
    graft.operators.Lakehouse.cdcBatch(base)
      .select(col("o_custkey").as("group"),
        (coalesce(round(col("after_val") * 100, 0).cast("long"), lit(0L)) -
          coalesce(round(col("before_val") * 100, 0).cast("long"), lit(0L))).as("delta_cents"),
        when(col("op") === "I", 1L).when(col("op") === "D", -1L).otherwise(0L).as("dn"))
      .as[MvDelta]
  }

  def streamMatview(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ch = mvDeltas(s, dir)
    mvMaintain(ch).toDF()
      .select(col("group").as("o_custkey"),
        (col("sum_cents").cast("double") / 100).as("delta_sum"),
        col("n").as("delta_n"))
      .oracleSorted("o_custkey")
  }

  /** Streaming entry (same pipeline through `writeStream`) — parity test. */
  def matviewStreamQuery(rows: Dataset[MvDelta], queryName: String) =
    memorySink(mvMaintain(rows), queryName, OutputMode.Update())

  // ------------------------------------------------------------------
  // flatMapGroupsWithState TTL-bounded dedup (§2.J15 — dedup_ttl's twin)
  // ------------------------------------------------------------------

  case class KeyedEvent(user_id: Long, event_type: String, event_id: Long,
                        ts: Timestamp)

  /** Per-(user, type) dedup state: last event's micros + bursts so far —
    * O(1) per LIVE key, the whole point of the TTL (see
    * `EventOps.dedupTtl`'s Scaladoc).
    */
  case class TtlState(last_us: Long, bursts: Int)

  case class TtlVerdict(user_id: Long, event_type: String, event_id: Long,
                        ts: Timestamp, burst: Int, kept: Int)

  /** Pure TTL-dedup core, shared verbatim by batch and streaming: fold
    * time-sorted events against the last-seen micros — kept iff silent past
    * the TTL (or first ever); EVERY event advances the clock, kept or not
    * (island semantics: the gap is measured from the previous event).
    */
  def foldTtl(key: (Long, String), events: Seq[KeyedEvent],
              st: Option[TtlState]): (Seq[TtlVerdict], Option[TtlState]) = {
    val sorted = events.sortBy(e => (tsMicros(e.ts), e.event_id))
    var cur = st
    val out = sorted.map { e =>
      val us = tsMicros(e.ts)
      val kept = cur.forall(s => us - s.last_us > graft.operators.EventOps.DedupTtlUs)
      cur = Some(TtlState(us, cur.map(_.bursts).getOrElse(0) + (if (kept) 1 else 0)))
      TtlVerdict(key._1, key._2, e.event_id, e.ts, cur.get.bursts, if (kept) 1 else 0)
    }
    (out, cur)
  }

  /** Batch transition (fresh state per group, one pass) — law-tested to
    * equal the window-based `EventOps.dedupTtl` verdict for verdict.
    */
  def ttlBatch(key: (Long, String), events: Iterator[KeyedEvent],
               state: GroupState[TtlState]): Iterator[TtlVerdict] =
    foldTtl(key, events.toSeq, state.getOption)._1.iterator

  /** Streaming transition: same fold, but state EXPIRES via event-time
    * timeout once the watermark passes last_ts + TTL — expiry ≡ "gap > TTL",
    * so the next event is kept again exactly as the batch islands say, and
    * state size is bounded by the number of keys WARM within one TTL
    * horizon, not keys ever seen. (Burst ordinals restart after an expiry —
    * the cross-mode invariant is the kept/dropped verdict, which the parity
    * test pins per event.)
    */
  def ttlStream(key: (Long, String), events: Iterator[KeyedEvent],
                state: GroupState[TtlState]): Iterator[TtlVerdict] = {
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      val (out, cur) = foldTtl(key, events.toSeq, state.getOption)
      cur.foreach { s =>
        state.update(s)
        state.setTimeoutTimestamp(
          Math.floorDiv(s.last_us, 1000L) + graft.operators.EventOps.DedupTtlUs / 1000L)
      }
      out.iterator
    }
  }

  /** Typed batch entry (the law-test surface; the registered gate query is
    * the window form `EventOps.dedupTtl`).
    */
  def dedupTtlTyped(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"))
      .as[KeyedEvent]
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(ttlBatch)
      .toDF()
  }

  /** Streaming entry (bounded-state deployment shape) — parity test feeds
    * MemoryStream batches in event-time order and compares per-event kept
    * verdicts against the batch islands.
    */
  def dedupTtlStreamQuery(events: Dataset[KeyedEvent], queryName: String) = {
    import events.sparkSession.implicits._
    val out = events
      .withWatermark("ts", "0 seconds")
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(ttlStream)
    memorySink(out, queryName, OutputMode.Append())
  }

  // ------------------------------------------------------------------
  // flatMapGroupsWithState sessionization (§2.J6)
  // ------------------------------------------------------------------

  /** Gap threshold: a new session starts when the inter-event gap is
    * ≥ 10 minutes — the same boundary as `stream_session`'s built-in
    * `session_window(ts, "10 minutes")`, so the two operators describe the
    * same sessions through different machinery.
    */
  val SessionGapMs: Long = 10 * 60 * 1000L

  case class SessionEvent(user_id: Long, ts: Timestamp, event_id: Long, value: Double)

  /** An in-progress session (the flatMap state). */
  case class OpenSession(start: Timestamp, last: Timestamp, n_events: Long, sum_cents: Long)

  /** A closed session — the operator's output row. */
  case class SessionRow(user_id: Long, session_start: Timestamp, session_end: Timestamp,
                        n_events: Long, sum_cents: Long)

  /** Pure sessionization core, shared verbatim by the batch and streaming
    * wrappers: fold time-ordered events into (closed sessions, trailing
    * open session). Events are sorted by (ts, event_id) — groups arrive
    * unordered in both modes, and the explicit ordering makes ties
    * deterministic.
    */
  def foldSessions(events: Seq[SessionEvent], open: Option[OpenSession])
      : (Seq[OpenSession], Option[OpenSession]) = {
    val sorted = events.sortBy(e => (e.ts.getTime, e.event_id))
    val closed = Seq.newBuilder[OpenSession]
    var cur = open
    sorted.foreach { e =>
      cur match {
        case Some(o) if e.ts.getTime - o.last.getTime < SessionGapMs =>
          cur = Some(OpenSession(o.start, e.ts, o.n_events + 1,
            o.sum_cents + math.round(e.value * 100)))
        case Some(o) =>
          closed += o
          cur = Some(OpenSession(e.ts, e.ts, 1L, math.round(e.value * 100)))
        case None =>
          cur = Some(OpenSession(e.ts, e.ts, 1L, math.round(e.value * 100)))
      }
    }
    (closed.result(), cur)
  }

  /** Batch transition: each group is seen exactly once, so the trailing
    * open session is final — emit it along with the closed ones.
    */
  def sessionizeBatch(userId: Long, events: Iterator[SessionEvent],
                      state: GroupState[OpenSession]): Iterator[SessionRow] = {
    val (closed, open) = foldSessions(events.toSeq, state.getOption)
    (closed ++ open).iterator
      .map(o => SessionRow(userId, o.start, o.last, o.n_events, o.sum_cents))
  }

  /** Streaming transition: emit only CLOSED sessions; the open session
    * persists in state and is flushed when the event-time timeout fires
    * (watermark passed start+gap with no new events) — the standard
    * emission policy for append-mode sessionization. The fold itself is
    * `foldSessions`, identical to batch.
    */
  def sessionizeStream(userId: Long, events: Iterator[SessionEvent],
                       state: GroupState[OpenSession]): Iterator[SessionRow] = {
    if (state.hasTimedOut) {
      val o = state.get
      state.remove()
      Iterator.single(SessionRow(userId, o.start, o.last, o.n_events, o.sum_cents))
    } else {
      val (closed, open) = foldSessions(events.toSeq, state.getOption)
      open.foreach { o =>
        state.update(o)
        state.setTimeoutTimestamp(o.last.getTime + SessionGapMs)
      }
      closed.iterator
        .map(o => SessionRow(userId, o.start, o.last, o.n_events, o.sum_cents))
    }
  }

  /** Batch entry for the correctness gate: custom-state sessionization of
    * `events` — same sessions as the built-in `session_window` query, built
    * with `flatMapGroupsWithState` instead (the typed surface for session
    * logic Spark's windows cannot express: per-session custom accumulators,
    * early emission policies, …). Shuffle is one exchange by user_id;
    * per-group work is O(events-per-user · log) for the sort.
    */
  def streamSessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .as[SessionEvent]
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(sessionizeBatch)
      .toDF()
      .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"),
        (col("sum_cents").cast("double") / 100).as("sum_value"))
      .oracleSorted("user_id", "session_start")
  }

  /** Streaming entry (same core through `writeStream`): append-mode closed
    * sessions with event-time timeout flush — used by the parity test.
    */
  def sessionizeStreamQuery(events: Dataset[SessionEvent], queryName: String) = {
    import events.sparkSession.implicits._
    val out = events
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(sessionizeStream)
    memorySink(out, queryName, OutputMode.Append())
  }

  // ------------------------------------------------------------------
  // mapGroupsWithState funnel (§2.J9 streaming form)
  // ------------------------------------------------------------------

  case class FunnelEvent(user_id: Long, event_type: String, ts: Timestamp)

  /** Per-user funnel progress: the chosen stage timestamps (null = stage
    * not reached). The greedy in-ts-order fold fixes each stage at its
    * earliest qualifying event, which equals the batch join chain's
    * `min`-per-stage semantics (EventOps.funnelEvents) as long as events
    * are processed in event-time order — the production contract a
    * watermarked stream provides per trigger.
    */
  case class FunnelState(view_ts: Timestamp, click_ts: Timestamp,
                         purchase_ts: Timestamp)

  val FunnelStepUs: Long = 60L * 60 * 1000000L

  /** Exact epoch micros of a Timestamp — `getTime` alone is millis and
    * truncates the sub-millisecond digits `getNanos` carries; the batch
    * side's `unix_micros` keeps them, so the funnel forms would disagree
    * on any sub-millisecond event time. EVERY comparison in the fold goes
    * through this (sort key, strict `>` stage bounds, the +60 min window
    * edge) — the testdata's timestamps all carry sub-millisecond digits,
    * so a single `getTime` comparison would diverge from the batch form on
    * same-millisecond events and boundary cases (round-6 review #1).
    */
  private def tsMicros(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** State transition shared verbatim by batch and streaming: fold a
    * time-sorted batch of one user's events into the stage state. Strict
    * `>` bounds mean equal-timestamp events can never double-fill a stage,
    * so no tiebreak beyond ts ordering is needed.
    */
  def updateFunnel(userId: Long, events: Iterator[FunnelEvent],
                   state: GroupState[FunnelState]): FunnelState = {
    val init = state.getOption.getOrElse(FunnelState(null, null, null))
    val updated = events.toSeq.sortBy(e => tsMicros(e.ts)).foldLeft(init) { (st, e) =>
      e.event_type match {
        case "view" if st.view_ts == null => st.copy(view_ts = e.ts)
        case "click" if st.click_ts == null && st.view_ts != null &&
          tsMicros(e.ts) > tsMicros(st.view_ts) &&
          tsMicros(e.ts) <= tsMicros(st.view_ts) + FunnelStepUs => st.copy(click_ts = e.ts)
        case "purchase" if st.purchase_ts == null && st.click_ts != null &&
          tsMicros(e.ts) > tsMicros(st.click_ts) &&
          tsMicros(e.ts) <= tsMicros(st.click_ts) + FunnelStepUs => st.copy(purchase_ts = e.ts)
        case _ => st
      }
    }
    state.update(updated)
    updated
  }

  /** Batch entry for the correctness gate: the INCREMENTAL form of
    * `funnel_events` — per-user stage state folded by `mapGroupsWithState`
    * instead of the three-stage join chain. Same oracle SQL as
    * `funnel_events` (the two implementations must agree row-for-row; the
    * streaming parity test additionally proves the fold gives the same
    * answer fed incrementally across triggers). Scale shape: ONE shuffle by
    * user_id and O(1) state per user — the ingest-time funnel a production
    * pipeline runs instead of re-joining history every day.
    */
  def streamFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val funnelTypes = Seq("view", "click", "purchase")
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin(funnelTypes: _*))
      .select(col("user_id"), col("event_type"), col("ts"))
      .as[FunnelEvent]
    ev.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (uid: Long, events: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          uid -> updateFunnel(uid, events, state)
      }
      .filter(_._2.view_ts != null) // the view anchors the funnel, as in batch
      .map { case (uid, st) =>
        (uid, st.view_ts,
          Option(st.click_ts).map(tsMicros),
          Option(st.purchase_ts).map(tsMicros),
          1 + Option(st.click_ts).size + Option(st.purchase_ts).size)
      }
      .toDF("user_id", "view_ts", "click_us", "purchase_us", "depth")
      .oracleSorted("user_id")
  }

  /** Streaming entry (same fold through `writeStream`, Update mode) — used
    * by the cross-trigger parity test.
    */
  def funnelStreamQuery(events: Dataset[FunnelEvent], queryName: String) = {
    import events.sparkSession.implicits._
    val out = events
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (uid: Long, evs: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          uid -> updateFunnel(uid, evs, state)
      }
    memorySink(out, queryName, OutputMode.Update())
  }

  // ------------------------------------------------------------------
  // transformWithState (Spark 4 arbitrary-state API v2) — §2.J7
  // ------------------------------------------------------------------

  /** Per-user top-N size for `stream_topn_state`. */
  val TopNPerUser = 3

  case class TopEvent(user_id: Long, event_id: Long, value: Double)
  case class TopRow(user_id: Long, rn: Int, event_id: Long, value: Double)

  /** `StatefulProcessor` maintaining each user's top-N events by value in a
    * `ListState` — the Spark 4 `transformWithState` surface (typed state
    * cells + timers + TTL), demonstrated alongside the two classic APIs
    * (`mapGroupsWithState` profile, `flatMapGroupsWithState` sessionizer).
    *
    * Per trigger: merge the state list with the batch's events, keep the
    * top N by (value desc, event_id asc — the deterministic tiebreak), store
    * back, emit the refreshed ranking. State is O(N) per user; shuffled by
    * user_id like every stateful op here.
    */
  class TopNProcessor extends StatefulProcessor[Long, TopEvent, TopRow] {
    @transient private var top: ListState[TopEvent] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      top = getHandle.getListState[TopEvent]("top",
        org.apache.spark.sql.Encoders.product[TopEvent], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[TopEvent],
                                 timers: TimerValues): Iterator[TopRow] = {
      val merged = (top.get().toSeq ++ rows)
        .sortBy(e => (-e.value, e.event_id))
        .take(TopNPerUser)
      top.put(merged.toArray)
      merged.iterator.zipWithIndex
        .map { case (e, i) => TopRow(key, i + 1, e.event_id, e.value) }
    }
  }

  /** Batch `transformWithState` (TransformWithStateExec) loads its
    * executor-side state store through the driver's `StateStoreCoordinator`
    * RPC endpoint — but Spark only CREATES that endpoint when the session's
    * StreamingQueryManager starts its first streaming query, so a
    * batch-only session fails with `RpcEndpointNotFoundException`
    * (observed against Spark 4.1.2; the API's batch mode is newer than its
    * streaming mode). Running one empty micro-batch through a no-op sink
    * registers the endpoint — once per SparkContext, ~100 ms, stateless (no
    * store files written). The guard is keyed on `applicationId`, NOT a
    * JVM-wide boolean (round-2 ADVICE): the coordinator endpoint is
    * per-SparkContext, so a session stopped and rebuilt in the same JVM
    * must re-register or batch `transformWithState` fails with the same
    * RpcEndpointNotFoundException. Note: `MemoryStream` is an internal API
    * — this workaround is pinned to Spark 4.1.2 behavior.
    */
  @volatile private var coordinatorAppId: String = null
  private def ensureStateStoreCoordinator(s: SparkSession): Unit = {
    val appId = s.sparkContext.applicationId
    if (coordinatorAppId != appId) synchronized {
      if (coordinatorAppId != appId) {
        implicit val ctx = s.sqlContext
        import s.implicits._
        val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
        ms.addData(0)
        val q = ms.toDS().writeStream.format("noop").start()
        try q.processAllAvailable() finally q.stop()
        coordinatorAppId = appId
      }
    }
  }

  /** Batch entry for the correctness gate: per-user top-N events via
    * `transformWithState` (each group processed once with fresh state —
    * equivalent to a rank-window query, which is what the oracle checks).
    */
  def streamTopnState(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ensureStateStoreCoordinator(s)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("value"))
      .as[TopEvent]
      .groupByKey(_.user_id)
      .transformWithState(new TopNProcessor, TimeMode.None(), OutputMode.Update())
      .toDF()
      .oracleSorted("user_id", "rn")
  }

  /** Streaming entry — used by the cross-trigger parity test. */
  def topnStreamQuery(events: Dataset[TopEvent], queryName: String) = {
    import events.sparkSession.implicits._
    val out = events
      .groupByKey(_.user_id)
      .transformWithState(new TopNProcessor, TimeMode.None(), OutputMode.Update())
    memorySink(out, queryName, OutputMode.Update())
  }

  // ------------------------------------------------------------------
  // running z-score anomaly fold (§2.J17 — streaming twin of E11)
  // ------------------------------------------------------------------

  case class AnomEvent(user_id: Long, event_id: Long, ts: Timestamp, cents: Long)

  /** Per-user running moments over integer cents: count, Σv, Σv² of all
    * events SEEN so far — O(1) state per key at any history length. The
    * moments are BigInt (encoded as DECIMAL(38,0) state — round-15
    * ADVICE: per-key history is unbounded, and a Long Σv² wraps silently
    * at ~2.5×10⁹ events on a hot key at cents ~6×10⁴; the window form
    * widens identically).
    */
  case class AnomState(n: Long, s1: BigInt, s2: BigInt)

  case class AnomRow(user_id: Long, event_id: Long, cents: Long,
                     n_prior: Long, s1: Long, s2: Long)

  /** State transition shared by batch and streaming: fold a time-sorted
    * batch of one user's events, scoring each against the moments of its
    * STRICT predecessors (the event updates state only after it is
    * scored). The 3σ test is the same cross-multiplied integer comparison
    * as the window form (EventOps.anomalyRunning) — run in BigInt, the
    * Scala twin of the window form's DECIMAL(38,0) widening (per-key
    * history is unbounded, so the 64-bit products overflow past ~5×10⁴
    * events; round-14 ADVICE) — exact, so the two forms and the oracle
    * agree cell-for-cell.
    *
    * ORDERING ASSUMPTION (round-14 ADVICE): events are sorted within the
    * batch, but state already folded in earlier triggers is never
    * re-scored — an event arriving in a LATER trigger with an EARLIER
    * event time is scored against moments that include its successors,
    * which diverges from the strict-predecessor window form. The parity
    * gate therefore assumes in-event-time-order arrival across triggers
    * (the shape a watermarked, log-ordered ingest delivers); the
    * documented late-arrival behavior — still scored, against the
    * richer state — is pinned by its own StatefulOpsSpec test.
    */
  /** Narrow a BigInt moment to the emitted BIGINT column, failing loudly
    * at the same point the oracle's CAST(sum AS BIGINT) errors — never a
    * silent wrap (round-15 ADVICE).
    */
  private def toLongExact(b: BigInt): Long =
    if (b.isValidLong) b.toLong
    else throw new ArithmeticException(
      s"anomaly moment $b exceeds the emitted BIGINT range (mirror of the " +
        "oracle's CAST overflow error)")

  def foldAnomalies(events: Seq[AnomEvent],
                    init: AnomState): (Seq[AnomRow], AnomState) = {
    val minPrior = graft.operators.EventOps.AnomalyMinPrior
    val z2 = graft.operators.EventOps.AnomalyZ2
    val out = Seq.newBuilder[AnomRow]
    var st = init
    events.sortBy(e => (tsMicros(e.ts), e.event_id)).foreach { e =>
      val (n, s1, s2) = (st.n, st.s1, st.s2)
      val dev = BigInt(e.cents) * n - s1
      if (n >= minPrior &&
          dev * dev * (n - 1) > BigInt(z2) * n * (n * s2 - s1 * s1))
        out += AnomRow(e.user_id, e.event_id, e.cents, n,
          toLongExact(s1), toLongExact(s2))
      st = AnomState(n + 1, s1 + e.cents, s2 + BigInt(e.cents) * e.cents)
    }
    (out.result(), st)
  }

  def anomalyFold(userId: Long, events: Iterator[AnomEvent],
                  state: GroupState[AnomState]): Iterator[AnomRow] = {
    val (rows, st) =
      foldAnomalies(events.toSeq, state.getOption.getOrElse(AnomState(0L, 0L, 0L)))
    state.update(st)
    rows.iterator
  }

  /** Typed event frame shared by the batch entry and the parity test. */
  private[graft] def anomEvents(s: SparkSession, dir: String): Dataset[AnomEvent] = {
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        (col("value").cast(DecimalType(12, 2)) * 100).cast("long").as("cents"))
      .as[AnomEvent]
  }

  /** J17 `stream_anomaly`: the INCREMENTAL form of `anomaly_running` —
    * per-user running-moments state folded by `flatMapGroupsWithState`
    * instead of a window pass over history. Same oracle SQL as the window
    * form (the two must agree row-for-row; the parity test additionally
    * proves the fold across MemoryStream triggers). Scale shape: ONE
    * shuffle by user_id and 3 longs of state per user — the ingest-time
    * monitor a production pipeline runs instead of re-windowing history
    * every day.
    */
  def streamAnomaly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    anomEvents(s, dir)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(anomalyFold)
      .toDF()
      .oracleSorted("user_id", "event_id")
  }

  // ------------------------------------------------------------------
  // KMV sketch maintenance at ingest (§2.J18 — streaming twin of D31)
  // ------------------------------------------------------------------

  case class KmvHash(lang: String, hv: Long)

  /** Per-lang KMV state: the `Aggregates.KmvK` smallest DISTINCT hashes
    * seen so far, kept sorted — O(k) per key regardless of history. The
    * fold is a pure function of the hash SET (merge = k-smallest of
    * union), so any batch split / arrival order yields the same state —
    * the mergeability that lets every shard maintain its sketch at
    * ingest and ship k longs instead of its vocabulary.
    */
  case class KmvSketch(hs: Seq[Long])

  /** Published sketch state per lang: size and the largest retained
    * (= k-th smallest overall) hash — the estimator's whole input.
    */
  case class KmvRow(lang: String, kk: Int, h_k: Long)

  def kmvFold(lang: String, rows: Iterator[KmvHash],
              state: GroupState[KmvSketch]): KmvRow = {
    val k = graft.operators.Aggregates.KmvK
    // bounded fold: a k-capped sorted set consumed straight off the
    // iterator — O(k) memory through the fold itself, not just the
    // stored state (the incoming batch is never materialized)
    val set = scala.collection.mutable.TreeSet.empty[Long]
    state.getOption.foreach(_.hs.foreach(set.add))
    rows.foreach { r =>
      if (set.size < k) { set.add(r.hv); () }
      else if (r.hv < set.last && set.add(r.hv)) { set.remove(set.last); () }
    }
    val merged = set.toSeq
    state.update(KmvSketch(merged))
    KmvRow(lang, merged.size, merged.max)
  }

  /** J18 `stream_kmv`: the D31 KMV sketch MAINTAINED incrementally with
    * `mapGroupsWithState` instead of rebuilt from the distinct hash table
    * — the ingest-time form of `agg_kmv`'s per-lang sketch stage (state
    * is k longs per key; a new document batch folds in as
    * k-smallest-of-union, the AggregatesSpec merge law). Output per lang:
    * sketch size and the k-th smallest hash (the estimator's whole
    * state). Reads the SAME staged distinct (lang, hv) family as
    * `agg_kmv` (round 15 — the derivation staged once instead of each
    * query paying the corpus explode+distinct independently; the sketch
    * is a pure function of the hash SET, so consuming the deduplicated
    * family is value-identical to folding the raw stream, and the
    * cross-trigger parity test still feeds RAW hashes split across
    * triggers in a different order and must land on the identical sketch).
    * The oracle replays the 60-bit md5-prefix derivation from the
    * ORIGINAL documents table exactly.
    */
  def streamKmv(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.Aggregates.kmvHashes(s, dir)
      .as[KmvHash]
      .groupByKey(_.lang)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(kmvFold)
      .toDF()
      .oracleSorted("lang")
  }

  /** Streaming entry — used by the cross-trigger parity test. */
  def kmvStreamQuery(hashes: Dataset[KmvHash], queryName: String) = {
    import hashes.sparkSession.implicits._
    val out = hashes
      .groupByKey(_.lang)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(kmvFold)
    memorySink(out, queryName, OutputMode.Update())
  }

  // ------------------------------------------------------------------
  // flatMapGroupsWithState banded MinHash near-dup dedup (§2.K2's
  // ingest-time twin — round-16 VERDICT #4: the one LLM-dedup family
  // member that had no streaming form under the twin discipline)
  // ------------------------------------------------------------------

  /** One (band, sig) bucket row of an arriving document: the banded-LSH
    * index entry, with the doc's full hashed-shingle set riding along so
    * the bucket fold can Jaccard-verify candidates without a join back
    * to the corpus.
    */
  case class BandHv(band: Int, sig: Long, doc_id: Long, hv: Seq[Long])

  case class MemberDoc(doc_id: Long, hv: Seq[Long])

  /** Per-bucket state: every doc ingested into this (band, sig) bucket —
    * exactly the posting list a persisted banded-LSH index keeps, so
    * state mass is the index mass (4 band rows per doc) and a batch
    * probe costs O(|bucket|) per key.
    */
  case class MinhashBucket(docs: Seq[MemberDoc])

  /** Candidate pair with raw intersection/union set sizes — the Jaccard
    * division + round runs DOWNSTREAM as the same Catalyst expression the
    * batch form uses, so rounding can never drift between twins.
    */
  case class CandPair(doc_a: Long, doc_b: Long, n_inter: Int, n_union: Int)

  /** Bucket fold: probe arrivals against the bucket's existing members
    * (and earlier same-trigger arrivals, in doc_id order), then append
    * them. A pair colliding in several bands is emitted ONLY by its
    * smallest colliding band ([[graft.operators.TextOps.bandSigOf]] —
    * a pure function of the two hv sets, so every bucket agrees without
    * coordination); the union over buckets is then exactly the batch
    * form's `distinct()` candidate set, with no second stateful
    * operator in the streaming plan.
    */
  private def minhashBucketFold(key: (Int, Long), rows: Iterator[BandHv],
                                state: GroupState[MinhashBucket]): Iterator[CandPair] = {
    val band = key._1
    val out = Seq.newBuilder[CandPair]
    var members = state.getOption.map(_.docs.toList).getOrElse(Nil)
    rows.toArray.sortBy(_.doc_id).foreach { r =>
      members.foreach { m =>
        if (m.doc_id != r.doc_id) {
          val (a, b) =
            if (m.doc_id < r.doc_id) (m, MemberDoc(r.doc_id, r.hv)) else (MemberDoc(r.doc_id, r.hv), m)
          val owned = (0 until band).forall { j =>
            (graft.operators.TextOps.bandSigOf(a.hv, j),
             graft.operators.TextOps.bandSigOf(b.hv, j)) match {
              case (Some(x), Some(y)) => x != y
              case _ => true
            }
          }
          if (owned) {
            val sa = a.hv.toSet
            val sb = b.hv.toSet
            out += CandPair(a.doc_id, b.doc_id, (sa & sb).size, (sa | sb).size)
          }
        }
      }
      members ::= MemberDoc(r.doc_id, r.hv)
    }
    state.update(MinhashBucket(members))
    out.result().iterator
  }

  /** The banded index rows a document contributes — (band, sig, doc_id,
    * hv), null signatures excluded (a null sig matches nothing in the
    * batch bucket join either). Shared by the gated batch entry and the
    * parity tests' streaming feeds.
    */
  private[graft] def minhashBandRows(docs: DataFrame): Dataset[BandHv] = {
    import docs.sparkSession.implicits._
    import graft.operators.TextOps
    docs
      .select(col("doc_id"), TextOps.hashedShingles(col("text"), 3).as("hv"))
      .select(col("doc_id"), col("hv"),
        posexplode(graft.plans.Kernels.bandSigs(col("hv"), TextOps.MinhashBands)))
      .filter(col("col").isNotNull)
      .select(col("pos").cast("int").as("band"), col("col").as("sig"),
        col("doc_id"), col("hv"))
      .as[BandHv]
  }

  /** Jaccard verify + τ filter over the fold's raw set sizes — the SAME
    * Catalyst round/divide the batch `dedup_minhash` uses.
    */
  private[graft] def minhashVerify(pairs: DataFrame): DataFrame = {
    import graft.operators.TextOps
    pairs
      .withColumn("jaccard",
        round(col("n_inter").cast("double") / col("n_union"), 6))
      .filter(col("jaccard") >= TextOps.MinhashTau)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** `stream_dedup_minhash`: banded MinHash near-dup detection MAINTAINED
    * at ingest — per-(band, sig) bucket state probed by each arriving
    * document, instead of the batch bucket self-join over the whole
    * corpus. Same oracle SQL as `dedup_minhash`: the two forms must agree
    * row-for-row (the KMV/anomaly/matview/funnel twin discipline), and
    * the cross-trigger parity test additionally proves the fold emits
    * every pair exactly once when the corpus arrives incrementally.
    * Scale shape: state = the banded-LSH index itself (RocksDB-backed at
    * deployment), one shuffle by (band, sig); per-trigger cost is
    * ∝ |batch| · bucket occupancy — corpus size enters only through
    * near-dup bucket mass, never a rescan.
    */
  def streamDedupMinhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    minhashVerify(
      minhashBandRows(Tables.documents(s, dir))
        .groupByKey(r => (r.band, r.sig))
        .flatMapGroupsWithState(OutputMode.Append(),
          GroupStateTimeout.NoTimeout())(minhashBucketFold)
        .toDF())
      .oracleSorted("doc_a", "doc_b")
  }

  /** Streaming entry — used by the cross-trigger parity test. */
  def minhashStreamQuery(rows: Dataset[BandHv], queryName: String) = {
    import rows.sparkSession.implicits._
    val out = rows
      .groupByKey(r => (r.band, r.sig))
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(minhashBucketFold)
    memorySink(out, queryName, OutputMode.Append())
  }

  /** Streaming entry — used by the cross-trigger parity test. */
  def anomalyStreamQuery(events: Dataset[AnomEvent], queryName: String) = {
    import events.sparkSession.implicits._
    val out = events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(anomalyFold)
    memorySink(out, queryName, OutputMode.Append())
  }
}
