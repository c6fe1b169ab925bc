package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every capability is a pure function `(SparkSession, sfDir) => DataFrame`
  * registered in `queries`; `oracleSql` carries the DuckDB-equivalent SQL for
  * every query whose semantics ANSI SQL can express (the driver hash-compares
  * results). Determinism rules applied throughout: total-order `orderBy` with
  * explicit tiebreak keys, `round` at float edges, UTC session time.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Aggregates.aggAvg(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.A scans
    "scan_documents" -> (Relational.scanDocuments _),
    "scan_schema" -> (Relational.scanSchema _),
    "scan_csv" -> (Relational.scanCsv _),
    "scan_json" -> (Relational.scanJson _),
    "scan_orc" -> (Relational.scanOrc _),
    "scan_nested" -> (Relational.scanNested _),
    "scan_binaryfile" -> (Relational.scanBinaryfile _),
    "scan_packed" -> (Relational.scanPacked _),
    "scan_evolved" -> (Relational.scanEvolved _),
    "scan_partitioned" -> (Relational.scanPartitioned _),
    "scan_dpp" -> (Relational.scanDpp _),
    // §2.B filters / projections
    "filter_eq" -> (Relational.filterEq _),
    "filter_range" -> (Relational.filterRange _),
    "filter_token" -> (Relational.filterToken _),
    "project_case" -> (Relational.projectCase _),
    "project_arith" -> (Relational.projectArith _),
    // §2.H scalar functions
    "scalar_math" -> (Relational.scalarMath _),
    "scalar_string" -> (Relational.scalarString _),
    "scalar_date" -> (Relational.scalarDate _),
    "scalar_json" -> (Relational.scalarJson _),
    "scalar_map" -> (Relational.scalarMap _),
    // §2.D aggregations
    "agg_avg" -> (Aggregates.aggAvg _),
    "agg_sql" -> (Aggregates.aggSql _),
    "agg_condcount" -> (Aggregates.aggCondCount _),
    "agg_maxgroup" -> (Aggregates.aggMaxGroup _),
    "agg_distinct" -> (Aggregates.aggDistinct _),
    "agg_approx_distinct" -> (Aggregates.aggApproxDistinct _),
    "agg_median" -> (Aggregates.aggMedian _),
    "agg_mode" -> (Aggregates.aggMode _),
    "agg_rollup" -> (Aggregates.aggRollup _),
    "agg_cube" -> (Aggregates.aggCube _),
    "agg_typed" -> (Aggregates.aggTyped _),
    "agg_pivot" -> (Aggregates.aggPivot _),
    "unpivot_long" -> (Aggregates.unpivotLong _),
    "agg_groupingsets" -> (Aggregates.aggGroupingSets _),
    "agg_corr" -> (Aggregates.aggCorr _),
    "agg_percentile" -> (Aggregates.aggPercentile _),
    "agg_weighted" -> (Aggregates.aggWeighted _),
    "agg_sketch_merge" -> (Aggregates.aggSketchMerge _),
    "agg_countmin" -> (Aggregates.aggCountmin _),
    "ab_ttest" -> (Aggregates.abTtest _),
    "agg_quantile_merge" -> (Aggregates.aggQuantileMerge _),
    "agg_regression" -> (Aggregates.aggRegression _),
    "agg_entropy" -> (Aggregates.aggEntropy _),
    "agg_stringagg" -> (Aggregates.aggStringagg _),
    "agg_kmv" -> (Aggregates.aggKmv _),
    "agg_argmax" -> (Aggregates.aggArgmax _),
    "stats_ks" -> (Aggregates.statsKs _),
    "resample_ffill" -> (EventOps.resampleFfill _),
    "group_collect" -> (Aggregates.groupCollect _),
    // §2.G set ops
    "setop_union" -> (Aggregates.setopUnion _),
    "setop_except" -> (Aggregates.setopExcept _),
    "setop_intersect" -> (Aggregates.setopIntersect _),
    // §2.C joins
    "join_inner" -> (Joins.joinInner _),
    "join_star" -> (Joins.joinStar _),
    "join_anti" -> (Joins.joinAnti _),
    "join_semi" -> (Joins.joinSemi _),
    "join_outer" -> (Joins.joinOuter _),
    "join_asof" -> (Joins.joinAsof _),
    "join_asof_salted" -> (Joins.joinAsofSalted _),
    "join_salted" -> (Joins.joinSalted _),
    "join_range" -> (Joins.joinRange _),
    "join_bucketed" -> (Joins.joinBucketed _),
    "join_bloom" -> (Joins.joinBloom _),
    "join_fuzzy" -> (Joins.joinFuzzy _),
    // lakehouse table maintenance
    "merge_upsert" -> (Lakehouse.mergeUpsert _),
    "cdc_changefeed" -> (Lakehouse.cdcChangefeed _),
    "matview_delta" -> (Lakehouse.matviewDelta _),
    "compact_files" -> (Lakehouse.compactFiles _),
    "layout_zorder" -> (Lakehouse.layoutZorder _),
    "layout_hilbert" -> (Lakehouse.layoutHilbert _),
    "zonemap_skip" -> (Lakehouse.zonemapSkip _),
    "scd2_intervals" -> (EventOps.scd2Intervals _),
    "dq_checks" -> (Lakehouse.dqChecks _),
    "trend_period" -> (Windows.trendPeriod _),
    "attribution_lasttouch" -> (EventOps.attributionLasttouch _),
    "query_q3" -> (Joins.queryQ3 _),
    "query_q5" -> (Joins.queryQ5 _),
    // §2.E/F windows + top-k
    "window_rank" -> (Windows.windowRank _),
    "window_top1" -> (Windows.windowTop1 _),
    "window_running" -> (Windows.windowRunning _),
    "window_ntile" -> (Windows.windowNtile _),
    "window_sessionid" -> (EventOps.windowSessionId _),
    "window_range" -> (Windows.windowRange _),
    "window_moving" -> (Windows.windowMoving _),
    "window_ewma" -> (Windows.windowEwma _),
    "window_share" -> (Windows.windowShare _),
    "topk" -> (Windows.topk _),
    // §2.J event-time / streaming-shaped
    "stream_tumbling" -> (EventOps.streamTumbling _),
    "stream_sliding" -> (EventOps.streamSliding _),
    "stream_session" -> (EventOps.streamSession _),
    "stream_watermark" -> (EventOps.streamWatermark _),
    "dedup_state" -> (EventOps.dedupState _),
    "dedup_ttl" -> (EventOps.dedupTtl _),
    "stream_join" -> (EventOps.streamJoin _),
    "funnel_events" -> (EventOps.funnelEvents _),
    "stream_funnel" -> (graft.streaming.StatefulOps.streamFunnel _),
    "event_retention" -> (EventOps.eventRetention _),
    "event_twap" -> (EventOps.eventTwap _),
    "anomaly_mad" -> (EventOps.anomalyMad _),
    "anomaly_running" -> (EventOps.anomalyRunning _),
    "stream_anomaly" -> (graft.streaming.StatefulOps.streamAnomaly _),
    "event_markov" -> (EventOps.eventMarkov _),
    "stream_kmv" -> (graft.streaming.StatefulOps.streamKmv _),
    "stream_dedup_minhash" -> (graft.streaming.StatefulOps.streamDedupMinhash _),
    "scan_timetravel" -> (Lakehouse.scanTimetravel _),
    "join_interval" -> (EventOps.joinInterval _),
    "stream_stateful" -> (graft.streaming.StatefulOps.streamStateful _),
    "stream_sessionize" -> (graft.streaming.StatefulOps.streamSessionize _),
    "stream_topn_state" -> (graft.streaming.StatefulOps.streamTopnState _),
    "stream_upsert" -> (graft.streaming.StatefulOps.streamUpsert _),
    "stream_matview" -> (graft.streaming.StatefulOps.streamMatview _),
    // §2.B6 column classification
    "project_classified" -> (Relational.projectClassified _),
    // §2.D2/D4/D5 + §2.K5 text analysis
    "rank_tokens" -> (TextOps.rankTokens _),
    "rank_strategies" -> (TextOps.rankStrategies _),
    "text_tfidf" -> (TextOps.textTfidf _),
    "text_logprob" -> (TextOps.textLogprob _),
    "text_logprob2" -> (TextOps.textLogprob2 _),
    "text_tokens" -> (TextOps.textTokens _),
    "text_quality" -> (TextOps.textQuality _),
    "text_langid" -> (TextOps.textLangid _),
    "text_fingerprint" -> (TextOps.textFingerprint _),
    "vocab_oov" -> (TextOps.vocabOov _),
    "vocab_bpe" -> (TextOps.vocabBpe _),
    "vocab_unigram" -> (TextOps.vocabUnigram _),
    "tokenize_unigram" -> (TextOps.tokenizeUnigram _),
    "tokenize_bpe" -> (TextOps.tokenizeBpe _),
    "tokenize_bpe_encode" -> (TextOps.tokenizeBpeEncode _),
    // §2.K1/K2 deduplication
    "dedup_exact" -> (TextOps.dedupExact _),
    "dedup_minhash" -> (TextOps.dedupMinhash _),
    "dedup_simhash" -> (TextOps.dedupSimhash _),
    "dedup_simhash_pairs" -> (TextOps.dedupSimhashPairs _),
    "dedup_simhash_wide" -> (TextOps.dedupSimhashWide _),
    "dedup_ngram" -> (TextOps.dedupNgram _),
    "dedup_embed" -> (VectorOps.dedupEmbed _),
    "dedup_semantic" -> (VectorOps.dedupSemantic _),
    "dedup_semantic_lsh" -> (VectorOps.dedupSemanticLsh _),
    "dedup_cluster" -> (TextOps.dedupCluster _),
    "dedup_keepbest" -> (TextOps.dedupKeepbest _),
    "dedup_incremental" -> (TextOps.dedupIncremental _),
    "dedup_pipeline" -> (TextOps.dedupPipeline _),
    "corpus_pipeline" -> (TextOps.corpusPipeline _),
    "corpus_report" -> (TextOps.corpusReport _),
    "corpus_budget" -> (TextOps.corpusBudget _),
    "dedup_substring" -> (TextOps.dedupSubstring _),
    "dedup_substring_spans" -> (TextOps.dedupSubstringSpans _),
    "dedup_substring_clean" -> (TextOps.dedupSubstringClean _),
    "explode_tokens" -> (TextOps.explodeTokens _),
    "text_chunk" -> (TextOps.textChunk _),
    "rag_retrieve" -> (TextOps.ragRetrieve _),
    "rag_bm25" -> (TextOps.ragBm25 _),
    "rag_hybrid" -> (TextOps.ragHybrid _),
    "text_normalize" -> (TextOps.textNormalize _),
    "text_pii" -> (TextOps.textPii _),
    "text_ngrams" -> (TextOps.textNgrams _),
    "text_collocations" -> (TextOps.textCollocations _),
    "text_repetition" -> (TextOps.textRepetition _),
    "decontaminate" -> (TextOps.decontaminate _),
    "pack_sequences" -> (TextOps.packSequences _),
    "pack_greedy" -> (TextOps.packGreedy _),
    "sample_stratified" -> (VectorOps.sampleStratified _),
    "sample_hash" -> (Relational.sampleHash _),
    "sample_reservoir" -> (Relational.sampleReservoir _),
    "sample_weighted" -> (Relational.sampleWeighted _),
    "sample_dsir" -> (TextOps.sampleDsir _),
    "sample_mix" -> (Relational.sampleMix _),
    "sample_temperature" -> (Relational.sampleTemperature _),
    "sample_split" -> (Relational.sampleSplit _),
    "stats_profile" -> (Relational.statsProfile _),
    "stats_moments" -> (Relational.statsMoments _),
    "stats_histogram" -> (Relational.statsHistogram _),
    "drift_psi" -> (Relational.driftPsi _),
    "quantile_bins" -> (VectorOps.quantileBins _),
    "shuffle_rows" -> (VectorOps.shuffleRows _),
    // §2.K3/K4 vectors / similarity / multimodal (+ B7 feature scaling)
    "vec_norm" -> (VectorOps.vecNorm _),
    "vec_quantize" -> (VectorOps.vecQuantize _),
    "vec_scale" -> (VectorOps.vecScale _),
    "multimodal_join" -> (VectorOps.multimodalJoin _),
    "multimodal_decode" -> (VectorOps.multimodalDecode _),
    "multimodal_resize" -> (VectorOps.multimodalResize _),
    "multimodal_framesample" -> (VectorOps.multimodalFramesample _),
    "multimodal_audio" -> (VectorOps.multimodalAudio _),
    "multimodal_phash" -> (VectorOps.multimodalPhash _),
    "multimodal_phash_pairs" -> (VectorOps.multimodalPhashPairs _),
    "sim_topk" -> (VectorOps.simTopk _),
    "sim_mips" -> (VectorOps.simMips _),
    "sim_mrl" -> (VectorOps.simMrl _),
    "sim_hamming" -> (VectorOps.simHamming _),
    "sim_hnsw" -> (VectorOps.simHnsw _),
    "sim_hnsw_incremental" -> (VectorOps.simHnswIncremental _),
    "sim_mmr" -> (VectorOps.simMmr _),
    "sample_fps" -> (VectorOps.sampleFps _),
    "sim_ivf_incremental" -> (VectorOps.simIvfIncremental _),
    "sim_mips_ivf" -> (VectorOps.simMipsIvf _),
    "sim_ann" -> (VectorOps.simAnn _),
    "sim_ivf" -> (VectorOps.simIvf _),
    "vec_pq" -> (VectorOps.vecPq _),
    "vec_pq_adc" -> (VectorOps.vecPqAdc _),
    "sim_ivfpq" -> (VectorOps.simIvfPq _),
    // §2.I iterative k-means (+ the oracle-checkable single assignment step)
    "kmeans_clusters" -> (VectorOps.kmeansClusters _),
    "kmeans_assign" -> (VectorOps.kmeansAssign _),
    "kmeans_iter1" -> (VectorOps.kmeansIter1 _),
    "kmeans_int_trace" -> (VectorOps.kmeansIntTrace _),
    // §2.I′ iterative graph dataflow
    "graph_pagerank" -> (GraphOps.graphPagerank _),
    "graph_bfs" -> (GraphOps.graphBfs _),
    "graph_triangles" -> (GraphOps.graphTriangles _),
  )

  // ---- shared DuckDB oracle fragments (kept in sync with the Scala
  // constants in TextOps/VectorOps via string interpolation) ----

  /** Gaps-and-islands session-ID CTE chain (10-minute gap), ending in
    * `sa(user_id, event_id, ts, value, sid)` — ONE definition for the three
    * session views (`stream_session`, `stream_sessionize`,
    * `window_sessionid`): a gap-rule edit must break all three or none.
    */
  private val sessionIdCtes: String =
    "o AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value, lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events), " +
      "b AS (SELECT *, CASE WHEN prev_ts IS NULL OR ts - prev_ts >= INTERVAL '10 minutes' THEN 1 ELSE 0 END AS brk FROM o), " +
      "sa AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM b)"

  /** Base-snapshot + CDC-batch CTEs shared by `merge_upsert` (apply the
    * feed) and `cdc_changefeed` (derive the feed) — ONE definition, so a
    * fixture edit breaks both gates or neither (mirrors
    * Lakehouse.ordersBase/mergedSnapshot).
    */
  private val cdcSnapshotCtes: String =
    // before/after images mirror Lakehouse.cdcBatch; c_val (the merge's
    // collapsed value) is their coalesce, so merge_upsert/cdc_changefeed
    // and matview_delta all read ONE change-batch definition
    "base AS (SELECT o_orderkey AS key, o_custkey, o_totalprice AS val FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'), " +
      "changes AS (SELECT key, o_custkey AS c_custkey, CAST(val AS DOUBLE) AS before_val, CAST(val + 100.0 AS DOUBLE) AS after_val, val + 100.0 AS c_val, 'U' AS op FROM base WHERE key % 7 = 3 AND key % 13 <> 5 " +
      "UNION ALL SELECT key, o_custkey, val, NULL, val, 'D' FROM base WHERE key % 13 = 5 " +
      "UNION ALL SELECT -key, o_custkey, NULL, val, val, 'I' FROM base WHERE key % 11 = 4)"

  /** MMR oracle: the greedy selection UNROLLED as `MmrK` chained CTEs
    * (the vocab_bpe trajectory-replay discipline) — sel1 is the relevance
    * argmax, each further stage scores the not-yet-picked candidates as
    * 0.5·rel − 0.5·max(sim to picked) over the SAME cosine folds the
    * engine uses, and appends the (score desc, vec_id) winner. The full
    * selection ORDER hash-gates, not just the set.
    */
  private val mmrSql: String = {
    val rel = s"${dotSql("q_emb", "embedding")} / (sqrt(${sqNorm("q_emb")}) * sqrt(${sqNorm("embedding")}))"
    val psim = s"${dotSql("a.embedding", "b.embedding")} / (sqrt(${sqNorm("a.embedding")}) * sqrt(${sqNorm("b.embedding")}))"
    val lam = VectorOps.MmrLambda
    // single-reference recurrence: sel_j carries the ORDERED pick list as
    // a LIST column and references sel_{j-1} exactly ONCE. A multi-
    // reference chain (UNION + join + NOT EXISTS per step) inlines
    // EXPONENTIALLY under engines without materialized CTEs — the
    // SqlSurfaceSpec sweep drives this text through spark.sql, where the
    // 3-refs-per-level form built 3^MmrK analyzer copies and OOMed.
    // LEFT joins + the NULL-pick carry (round-14 ADVICE): a query whose
    // pool is exhausted (fewer candidates than MmrK — degenerate stage-1
    // pools) keeps its partial `sel` through every remaining step instead
    // of silently dropping out of the chain; still ONE reference to
    // sel_{j-1} per step (the exponential-inlining discipline holds)
    val steps = (2 to VectorOps.MmrK).map { j =>
      s"sel$j AS MATERIALIZED (SELECT q_id, CASE WHEN vec_id IS NULL THEN sel ELSE list_append(sel, vec_id) END AS sel FROM (" +
      s"SELECT m.q_id, m.sel, m.vec_id, row_number() OVER (PARTITION BY m.q_id ORDER BY $lam * m.rel - ${1 - lam} * m.mx DESC NULLS LAST, m.vec_id) AS r FROM (" +
      "SELECT s.q_id, s.sel, p.a AS vec_id, c2.rel, max(p.sim) AS mx " +
      s"FROM sel${j - 1} s " +
      "LEFT JOIN ps p ON p.q_id = s.q_id AND list_contains(s.sel, p.b) AND NOT list_contains(s.sel, p.a) " +
      "LEFT JOIN cand c2 ON c2.q_id = p.q_id AND c2.vec_id = p.a " +
      "GROUP BY s.q_id, s.sel, p.a, c2.rel) m) WHERE r = 1)"
    }.mkString(", ", ", ", " ")
    s"WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < ${VectorOps.QuerySetSize}), " +
      s"c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= ${VectorOps.QuerySetSize}), " +
      s"s0 AS (SELECT q_id, vec_id, $rel AS rel, embedding FROM c CROSS JOIN q), " +
      s"cand AS MATERIALIZED (SELECT q_id, vec_id, rel, embedding FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, vec_id) AS rn FROM s0) WHERE rn <= ${VectorOps.MmrCandidates}), " +
      s"ps AS MATERIALIZED (SELECT a.q_id, a.vec_id AS a, b.vec_id AS b, $psim AS sim FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.vec_id <> b.vec_id), " +
      "sel1 AS MATERIALIZED (SELECT q_id, list_value(vec_id) AS sel FROM (SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, vec_id) AS r FROM cand) WHERE r = 1)" +
      steps +
      s"SELECT q_id, CAST(g.i AS INT) AS rn, sel[g.i] AS vec_id FROM sel${VectorOps.MmrK}, (SELECT unnest(generate_series(1, ${VectorOps.MmrK})) AS i) g WHERE g.i <= len(sel) ORDER BY q_id, rn"
  }

  /** kmeans_clusters oracle (round 16 — the registry's last no_oracle row,
    * round-15 VERDICT #1): the FULL float k-means loop replayed by a
    * DuckDB recursive CTE to the engine's own converge-or-cap exit, then
    * the cluster report over the final centers. Exactness chain, each
    * link already proven by a passing gate: init = first-vector-per-label
    * (`kmeans_assign`); per-iteration re-center = exact DECIMAL(28,20)
    * sums cast to DOUBLE over the argmin assignment (`kmeans_iter1` —
    * associative-exact, so partition order cannot move an ulp); the
    * argmin = min over (dist, cid) structs, ties to the lower cid (the
    * engine's array_min struct form); every distance is the shared
    * sequential fold ([[sqDistSql]] ≡ Vec.sqDistF). Since every stage is
    * bitwise-identical, ITERATING them stays bitwise-identical — the
    * loop carries one (cid, center, movement) row set per iteration and
    * stops when the max per-centroid squared movement drops to
    * `KmeansTol` or at the `KmeansMaxIters` cap, exactly the engine's
    * `while` condition (an empty cluster keeps its center through the
    * LEFT JOIN's COALESCE, movement 0 — the engine's branch). The
    * movement trajectory renders as floor(m·10¹²) integers (the
    * graph_pagerank floor trick; the engine emits the same), so the
    * WHOLE loop path hash-gates — centers, exit iteration, and report.
    * The recursive member references `c` twice (prev-centers + argmin
    * book) and aggregates over it — DuckDB executes both against the
    * previous iteration's rows; Spark's recursive CTEs reject the
    * aggregation (INVALID_RECURSIVE_REFERENCE, the kmeans_int_trace
    * exemption class in SqlSurfaceSpec).
    */
  private val kmeansFloatSql: String = {
    val dim = VectorOps.Dim
    val tol = VectorOps.KmeansTol
    val cap = VectorOps.KmeansMaxIters
    def argmin(emb: String, cvec: String, cid: String) =
      s"CAST(min({'d': ${sqDistSql(emb, cvec)}, 'c': CAST($cid AS DOUBLE)}).c AS INT)"
    "WITH RECURSIVE " +
      "init AS (SELECT CAST(row_number() OVER (ORDER BY label) - 1 AS INT) AS cid, " +
      "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec " +
      "FROM (SELECT label, embedding, row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn FROM embeddings) i0 WHERE rn = 1), " +
      "c AS (SELECT cid, cvec, 0 AS iter, CAST(1e18 AS DOUBLE) AS mv_max FROM init " +
      "UNION ALL SELECT cid, cvec, iter, max(mv) OVER () AS mv_max FROM (" +
      s"SELECT p.cid, COALESCE(n.ncvec, p.cvec) AS cvec, p.iter + 1 AS iter, " +
      s"CASE WHEN n.ncvec IS NULL THEN 0.0 ELSE ${sqDistSql("p.cvec", "n.ncvec")} END AS mv " +
      s"FROM (SELECT * FROM c WHERE mv_max > $tol AND iter < $cap) p " +
      "LEFT JOIN (SELECT cid, list(comp ORDER BY pos) AS ncvec FROM (" +
      "SELECT cid, g.i AS pos, CAST(sum(CAST(CAST(embedding[g.i] AS DOUBLE) AS DECIMAL(28,20))) AS DOUBLE) / count(1) AS comp " +
      s"FROM (SELECT e.vec_id, e.embedding, ${argmin("e.embedding", "c2.cvec", "c2.cid")} AS cid " +
      s"FROM embeddings e JOIN (SELECT * FROM c WHERE mv_max > $tol AND iter < $cap) c2 ON TRUE " +
      "GROUP BY e.vec_id, e.embedding) a, " +
      s"(SELECT unnest(generate_series(1, $dim)) AS i) g GROUP BY cid, g.i) rc GROUP BY cid) n ON n.cid = p.cid) stp), " +
      "fin AS (SELECT cid, cvec FROM c WHERE iter = (SELECT max(iter) FROM c)), " +
      "mseq AS (SELECT string_agg(CAST(CAST(floor(mv_max * 1e12) AS BIGINT) AS VARCHAR), ',' ORDER BY iter) AS movement_seq " +
      "FROM (SELECT iter, max(mv_max) AS mv_max FROM c WHERE iter >= 1 GROUP BY iter) ms), " +
      s"asgf AS (SELECT e.vec_id, e.label, sqrt(${sqNorm("e.embedding")}) AS nrm, " +
      s"${argmin("e.embedding", "f.cvec", "f.cid")} AS cid " +
      "FROM embeddings e JOIN fin f ON TRUE GROUP BY e.vec_id, e.label, e.embedding), " +
      "lab AS (SELECT cid, label AS top_label, n AS top_n FROM (" +
      "SELECT cid, label, count(1) AS n, row_number() OVER (PARTITION BY cid ORDER BY count(1) DESC, label) AS rn " +
      "FROM asgf GROUP BY cid, label) lr WHERE rn = 1) " +
      "SELECT a.cid AS cluster_id, count(1) AS n_vecs, any_value(l.top_label) AS top_label, " +
      "round(CAST(any_value(l.top_n) AS DOUBLE) / count(1), 4) AS label_share, " +
      "round(median(a.nrm), 6) AS median_norm, any_value(m.movement_seq) AS movement_seq " +
      "FROM asgf a JOIN lab l ON l.cid = a.cid CROSS JOIN mseq m " +
      "GROUP BY a.cid ORDER BY cluster_id"
  }

  /** sim_hnsw oracle: the ENTIRE index build and bounded beam search
    * replayed as chained CTEs — bucket exponent from the corpus count via
    * the same integer CASE ladder as [[VectorOps.hnswBits]], sign buckets
    * as a masked fixed-length series fold (the sim_hamming signature
    * idiom), min-vec_id portals, within-bucket cosine kNN symmetrized,
    * 1-bit-flip shortcut edges, then `HnswIters` unrolled beam rounds.
    * Each round x_t/v_t references its predecessor at most twice
    * (MATERIALIZED; 2^HnswIters = 8 inline copies under engines without
    * materialized CTEs — the mmrSql exponential-inlining budget holds).
    * The expanded flag rides as a boolean column: top-`HnswBeam`
    * unexpanded rows expand, everything re-touched collapses by
    * group-max (cosines are pure functions of (q, vec), so duplicates
    * agree bitwise).
    */
  private val hnswSql: String = {
    val qss = VectorOps.QuerySetSize
    def cosOf(a: String, b: String) =
      s"${dotSql(a, b)} / (sqrt(${sqNorm(a)}) * sqrt(${sqNorm(b)}))"
    val ladder = (3 until VectorOps.HnswMaxBits)
      .map(b => s"WHEN n <= ${VectorOps.HnswTargetList << b} THEN $b")
      .mkString("CASE ", " ", s" ELSE ${VectorOps.HnswMaxBits} END")
    val bkt = s"CAST(list_sum(list_transform(generate_series(1, ${VectorOps.HnswMaxBits}), " +
      "i -> CASE WHEN i <= p.bits AND embedding[i] >= 0 THEN CAST(1 AS BIGINT) << (i - 1) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"
    val iters = (1 to VectorOps.HnswIters).map { t =>
      s"x$t AS MATERIALIZED (SELECT q_id, vec_id, cos, ex, row_number() OVER (PARTITION BY q_id, ex ORDER BY cos DESC, vec_id) AS r FROM v${t - 1}), " +
      s"n$t AS (SELECT DISTINCT x.q_id, e.dst FROM x$t x JOIN edges e ON NOT x.ex AND x.r <= ${VectorOps.HnswBeam} AND e.src = x.vec_id), " +
      s"s$t AS (SELECT n$t.q_id, n$t.dst AS vec_id, ${cosOf("q.q_emb", "cb.embedding")} AS cos FROM n$t JOIN cb ON cb.vec_id = n$t.dst JOIN q ON q.q_id = n$t.q_id), " +
      s"v$t AS MATERIALIZED (SELECT q_id, vec_id, max(cos) AS cos, bool_or(ex) AS ex FROM (" +
      s"SELECT q_id, vec_id, cos, (ex OR r <= ${VectorOps.HnswBeam}) AS ex FROM x$t " +
      s"UNION ALL SELECT q_id, vec_id, cos, FALSE AS ex FROM s$t) u$t GROUP BY 1, 2)"
    }.mkString(", ", ", ", ", ")
    s"WITH p AS MATERIALIZED (SELECT $ladder AS bits FROM (SELECT count(*) AS n FROM embeddings WHERE vec_id >= $qss) t0), " +
      s"g AS (SELECT i, CAST(1 AS BIGINT) << i AS pw FROM (SELECT unnest(generate_series(0, ${VectorOps.HnswMaxBits - 1})) AS i) gg), " +
      // 2-bit masks for the radius-2 entry ring: pw_i + pw_j = pw_i XOR
      // pw_j for distinct bits (no carries) — keeps every xor() call
      // flat for the SqlSurfaceSpec bridge
      "g2 AS (SELECT ga.i AS i1, gb.i AS i2, CAST(ga.pw + gb.pw AS BIGINT) AS pw2 FROM g ga JOIN g gb ON ga.i < gb.i), " +
      s"q AS MATERIALIZED (SELECT vec_id AS q_id, embedding AS q_emb, $bkt AS b FROM embeddings, p WHERE vec_id < $qss), " +
      s"cb AS MATERIALIZED (SELECT vec_id, embedding, $bkt AS b FROM embeddings, p WHERE vec_id >= $qss), " +
      "portal AS MATERIALIZED (SELECT cb.b, cb.vec_id, cb.embedding FROM cb JOIN (SELECT b, min(vec_id) AS mv FROM cb GROUP BY b) pm ON cb.b = pm.b AND cb.vec_id = pm.mv), " +
      // kNN with the neighbor-diversity (occlusion) prune — mirrors
      // VectorOps.diversifiedKnn: rank the HnswCand nearest bucketmates,
      // occlude c when a higher-ranked s is closer to c than src is,
      // non-occluded win the M slots first, occluded back-fill
      s"kn0 AS MATERIALIZED (SELECT src, dst, c, rn FROM (SELECT a.vec_id AS src, bb.vec_id AS dst, ${cosOf("a.embedding", "bb.embedding")} AS c, row_number() OVER (PARTITION BY a.vec_id ORDER BY ${cosOf("a.embedding", "bb.embedding")} DESC, bb.vec_id) AS rn FROM cb a JOIN cb bb ON a.b = bb.b AND a.vec_id <> bb.vec_id) kr WHERE rn <= ${VectorOps.HnswCand}), " +
      s"occ AS (SELECT a.src, a.dst, max(CASE WHEN ${cosOf("ec.embedding", "es.embedding")} > a.c THEN 1 ELSE 0 END) AS occ FROM kn0 a JOIN kn0 s2 ON s2.src = a.src AND s2.rn < a.rn JOIN cb ec ON ec.vec_id = a.dst JOIN cb es ON es.vec_id = s2.dst GROUP BY a.src, a.dst), " +
      s"knn AS MATERIALIZED (SELECT src, dst FROM (SELECT a.src, a.dst, row_number() OVER (PARTITION BY a.src ORDER BY COALESCE(o.occ, 0), a.rn) AS dr FROM kn0 a LEFT JOIN occ o ON o.src = a.src AND o.dst = a.dst) kd WHERE dr <= ${VectorOps.HnswM}), " +
      "sym AS (SELECT src, dst FROM knn UNION ALL SELECT dst AS src, src AS dst FROM knn), " +
      "fl AS (SELECT cb.vec_id AS src, xor(cb.b, g.pw) AS fb FROM cb, g, p WHERE g.i < p.bits), " +
      "sc AS (SELECT fl.src, pt.vec_id AS dst FROM fl JOIN portal pt ON pt.b = fl.fb), " +
      // hub spokes: bucket member <-> portal (intra-bucket connectivity
      // under duplicate cliques — see VectorOps.stageHnswGraph)
      "hub AS (SELECT cb.vec_id AS src, pt.vec_id AS dst FROM cb JOIN portal pt ON cb.b = pt.b WHERE cb.vec_id <> pt.vec_id), " +
      "edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM (SELECT src, dst FROM sym UNION ALL SELECT src, dst FROM hub UNION ALL SELECT dst AS src, src AS dst FROM hub UNION ALL SELECT src, dst FROM sc) alle), " +
      "qf AS (SELECT q_id, q_emb, b AS eb FROM q UNION ALL SELECT q_id, q_emb, xor(q.b, g.pw) AS eb FROM q, g, p WHERE g.i < p.bits " +
      "UNION ALL SELECT q_id, q_emb, xor(q.b, g2.pw2) AS eb FROM q, g2, p WHERE g2.i2 < p.bits), " +
      // v0 = portal fan (expandable) ∪ own-bucket members (pre-expanded —
      // scored, never spend a beam slot; see VectorOps.simHnsw round 16);
      // duplicates fold with expanded winning
      s"v0 AS MATERIALIZED (SELECT q_id, vec_id, max(cos) AS cos, bool_or(ex) AS ex FROM (" +
      s"SELECT q_id, pt.vec_id, ${cosOf("q_emb", "pt.embedding")} AS cos, FALSE AS ex FROM qf JOIN portal pt ON pt.b = qf.eb " +
      s"UNION ALL SELECT q.q_id, cb.vec_id, ${cosOf("q.q_emb", "cb.embedding")} AS cos, TRUE AS ex FROM q JOIN cb ON cb.b = q.b) u0 GROUP BY 1, 2)" +
      iters +
      s"r AS (SELECT q_id, vec_id, cos, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn FROM v${VectorOps.HnswIters}) " +
      s"SELECT q_id, vec_id, cos, CAST(rn AS INT) AS rn FROM r WHERE rn <= ${VectorOps.AnnTopK} ORDER BY q_id, rn"
  }

  /** sim_hnsw_incremental oracle: the graph INSERT replayed — bucket
    * exponent pinned to the BASE count, base/batch buckets, merged
    * portals (base pinned, fresh buckets from the batch), batch kNN over
    * bucketmates, reverse edges, flip shortcuts, distinct. The insert is
    * a function of base buckets/portals and the batch alone (no base kNN
    * CTEs needed — the batch-proportional-ingest property, visible in
    * the oracle text itself).
    */
  private val hnswIncSql: String = {
    val qss = VectorOps.QuerySetSize
    val mod = VectorOps.IvfIncBatchMod
    def cosOf(a: String, b: String) =
      s"${dotSql(a, b)} / (sqrt(${sqNorm(a)}) * sqrt(${sqNorm(b)}))"
    val ladder = (3 until VectorOps.HnswMaxBits)
      .map(b => s"WHEN n <= ${VectorOps.HnswTargetList << b} THEN $b")
      .mkString("CASE ", " ", s" ELSE ${VectorOps.HnswMaxBits} END")
    val bkt = s"CAST(list_sum(list_transform(generate_series(1, ${VectorOps.HnswMaxBits}), " +
      "i -> CASE WHEN i <= p.bits AND embedding[i] >= 0 THEN CAST(1 AS BIGINT) << (i - 1) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"
    s"WITH p AS MATERIALIZED (SELECT $ladder AS bits FROM (SELECT count(*) AS n FROM embeddings WHERE vec_id >= $qss AND vec_id % $mod <> 0) t0), " +
      s"g AS (SELECT i, CAST(1 AS BIGINT) << i AS pw FROM (SELECT unnest(generate_series(0, ${VectorOps.HnswMaxBits - 1})) AS i) gg), " +
      s"bb AS MATERIALIZED (SELECT vec_id, embedding, $bkt AS b FROM embeddings, p WHERE vec_id >= $qss AND vec_id % $mod <> 0), " +
      s"nb AS MATERIALIZED (SELECT vec_id, embedding, $bkt AS b FROM embeddings, p WHERE vec_id >= $qss AND vec_id % $mod = 0), " +
      "bp AS (SELECT b, min(vec_id) AS vec_id FROM bb GROUP BY b), " +
      "np AS (SELECT nb.b, min(nb.vec_id) AS vec_id FROM nb LEFT JOIN bp ON nb.b = bp.b WHERE bp.b IS NULL GROUP BY nb.b), " +
      "pt AS MATERIALIZED (SELECT b, vec_id FROM bp UNION ALL SELECT b, vec_id FROM np), " +
      "mates AS (SELECT b, vec_id, embedding FROM bb UNION ALL SELECT b, vec_id, embedding FROM nb), " +
      // same diversity prune as the full build (see hnswSql's kn0/occ/knn)
      s"kn0 AS MATERIALIZED (SELECT src, dst, c, rn FROM (SELECT a.vec_id AS src, m.vec_id AS dst, ${cosOf("a.embedding", "m.embedding")} AS c, row_number() OVER (PARTITION BY a.vec_id ORDER BY ${cosOf("a.embedding", "m.embedding")} DESC, m.vec_id) AS rn FROM nb a JOIN mates m ON a.b = m.b AND a.vec_id <> m.vec_id) kr WHERE rn <= ${VectorOps.HnswCand}), " +
      s"occ AS (SELECT a.src, a.dst, max(CASE WHEN ${cosOf("ec.embedding", "es.embedding")} > a.c THEN 1 ELSE 0 END) AS occ FROM kn0 a JOIN kn0 s2 ON s2.src = a.src AND s2.rn < a.rn JOIN mates ec ON ec.vec_id = a.dst JOIN mates es ON es.vec_id = s2.dst GROUP BY a.src, a.dst), " +
      s"knn AS MATERIALIZED (SELECT src, dst FROM (SELECT a.src, a.dst, row_number() OVER (PARTITION BY a.src ORDER BY COALESCE(o.occ, 0), a.rn) AS dr FROM kn0 a LEFT JOIN occ o ON o.src = a.src AND o.dst = a.dst) kd WHERE dr <= ${VectorOps.HnswM}), " +
      "fl AS (SELECT nb.vec_id AS src, xor(nb.b, g.pw) AS fb FROM nb, g, p WHERE g.i < p.bits), " +
      "sc AS (SELECT fl.src, pt.vec_id AS dst FROM fl JOIN pt ON pt.b = fl.fb WHERE fl.src <> pt.vec_id), " +
      "hubi AS (SELECT nb.vec_id AS src, pt.vec_id AS dst FROM nb JOIN pt ON nb.b = pt.b WHERE nb.vec_id <> pt.vec_id), " +
      "ins AS (SELECT DISTINCT src, dst FROM (SELECT src, dst FROM knn UNION ALL SELECT dst AS src, src AS dst FROM knn UNION ALL SELECT src, dst FROM hubi UNION ALL SELECT dst AS src, src AS dst FROM hubi UNION ALL SELECT src, dst FROM sc) alle) " +
      s"SELECT src, dst, CAST(CASE WHEN src % $mod = 0 THEN 1 ELSE 0 END AS INT) AS src_is_batch FROM ins ORDER BY src, dst"
  }

  /** Farthest-point-sampling oracle: the greedy maximin trajectory as a
    * SINGLE-REFERENCE CTE recurrence (the mmrSql lesson — a pick CTE
    * referenced twice per level inlines 2^K copies under engines without
    * materialized CTEs): f_j carries every unpicked row's distance-to-
    * nearest-picked `md` plus the ORDERED pick/radius lists; each step
    * extracts the (md desc, vec_id) argmax with full-partition
    * first_value windows — ONE reference to f_{j-1} — then folds it into
    * `md` via `least` (matching the engine's left-fold). Both the pick
    * ORDER and each step's covering radius hash-gate.
    */
  private val fpsSql: String = {
    val steps = (2 until VectorOps.FpsK).map { j =>
      s"f$j AS MATERIALIZED (SELECT vec_id, embedding, least(md, ${sqDistSql("embedding", "pe")}) AS md, " +
        "list_append(picks, pv) AS picks, list_append(d2s, pd) AS d2s FROM (" +
        "SELECT vec_id, embedding, md, picks, d2s, first_value(vec_id) OVER w AS pv, " +
        "first_value(embedding) OVER w AS pe, first_value(md) OVER w AS pd " +
        s"FROM f${j - 1} WINDOW w AS (ORDER BY md DESC, vec_id)) WHERE vec_id <> pv)"
    }.mkString(", ")
    "WITH s1 AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 1), " +
      s"f1 AS MATERIALIZED (SELECT e.vec_id, e.embedding, ${sqDistSql("e.embedding", "s.embedding")} AS md, " +
      "list_value(s.vec_id) AS picks, list_value(CAST(0.0 AS DOUBLE)) AS d2s " +
      "FROM embeddings e, s1 s WHERE e.vec_id <> s.vec_id), " +
      steps +
      ", fin AS (SELECT list_append(picks, pv) AS picks, list_append(d2s, pd) AS d2s FROM (" +
      "SELECT picks, d2s, first_value(vec_id) OVER w AS pv, first_value(md) OVER w AS pd " +
      s"FROM f${VectorOps.FpsK - 1} WINDOW w AS (ORDER BY md DESC, vec_id)) LIMIT 1) " +
      s"SELECT CAST(g.i AS INT) AS rn, picks[g.i] AS vec_id, d2s[g.i] AS d2 FROM fin, (SELECT unnest(generate_series(1, ${VectorOps.FpsK})) AS i) g ORDER BY rn"
  }

  /** Running z-score anomaly oracle shared by `anomaly_running` (window
    * form) and `stream_anomaly` (flatMapGroupsWithState form): running
    * (n, Σv, Σv²) over integer cents in strict-predecessor frames, 3σ
    * test as the exact cross-multiplied integer comparison — widened to
    * HUGEINT (DECIMAL(38,0) after the Spark bridge) like the engine's
    * DECIMAL(38,0) products, since per-key history is unbounded and the
    * n·Σv² term overflows 64 bits past ~5×10⁴ events (round-14 ADVICE).
    */
  private val anomalySql: String =
    "WITH c AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents FROM events), " +
      "w AS (SELECT user_id, event_id, cents, count(*) OVER pw AS n_prior, CAST(COALESCE(sum(cents) OVER pw, 0) AS BIGINT) AS s1, CAST(COALESCE(sum(cents * cents) OVER pw, 0) AS BIGINT) AS s2 FROM c " +
      "WINDOW pw AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) " +
      s"SELECT user_id, event_id, cents, n_prior, s1, s2 FROM w WHERE n_prior >= ${EventOps.AnomalyMinPrior} " +
      s"AND CAST(cents * n_prior - s1 AS HUGEINT) * (cents * n_prior - s1) * (n_prior - 1) > CAST(${EventOps.AnomalyZ2} AS HUGEINT) * n_prior * (CAST(n_prior AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1) " +
      "ORDER BY user_id, event_id"

  /** Funnel oracle shared by `funnel_events` (join-chain form) and
    * `stream_funnel` (mapGroupsWithState form) — the two implementations
    * answer the same question and must never drift.
    */
  private val funnelSql: String =
    "WITH v AS (SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS view_ts FROM events WHERE event_type = 'view' GROUP BY 1), " +
      "c AS (SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS click_ts FROM events e JOIN v ON e.user_id = v.user_id WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > v.view_ts AND CAST(e.ts AS TIMESTAMP) <= v.view_ts + INTERVAL 60 MINUTE GROUP BY 1), " +
      "p AS (SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS purchase_ts FROM events e JOIN c ON e.user_id = c.user_id WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > c.click_ts AND CAST(e.ts AS TIMESTAMP) <= c.click_ts + INTERVAL 60 MINUTE GROUP BY 1) " +
      "SELECT v.user_id, v.view_ts, epoch_us(c.click_ts) AS click_us, epoch_us(p.purchase_ts) AS purchase_us, CAST(1 + CASE WHEN c.click_ts IS NOT NULL THEN 1 ELSE 0 END + CASE WHEN p.purchase_ts IS NOT NULL THEN 1 ELSE 0 END AS INT) AS depth " +
      "FROM v LEFT JOIN c ON v.user_id = c.user_id LEFT JOIN p ON v.user_id = p.user_id ORDER BY v.user_id"

  /** DuckDB list literal of the ranking lexicon. */
  private val lexiconSql = TextOps.lexicon.map(t => s"'$t'").mkString("[", ", ", "]")
  private val stopwordsSql = TextOps.stopwords.map(t => s"'$t'").mkString("(", ", ", ")")

  /** Distinct 3-word shingles of `text` (mirror of TextOps.shingles). */
  private val sh3 =
    "list_distinct(list_transform(generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)), i -> array_to_string((string_split(text, ' '))[i:i+2], ' ')))"

  /** Distinct char 4-grams of `text` (mirror of TextOps.charGrams). */
  private val cg4 =
    "list_distinct(list_transform(generate_series(1, greatest(length(text) - 3, 1)), i -> text[i:i+3]))"

  /** Full 60-bit md5 prefix, NO mod-p reduction (mirror of
    * Kernels.charGramsWide — dedup_substring's fingerprint space).
    */
  private def hash60Wide(x: String) =
    s"CAST(('0x' || substr(md5($x), 1, 15)) AS BIGINT)"

  /** md5-derived 60-bit hash of a string, mod p (mirror of TextOps.shingleHash). */
  private def hash60(x: String) =
    s"${hash60Wide(x)} % ${TextOps.MinhashP}"

  /** Raw (non-distinct) n-word shingles of `text` (mirror of
    * TextOps.shingles — repetition scoring needs totals, not sets).
    */
  private def rawShingles(n: Int) =
    s"list_transform(generate_series(1, greatest(len(string_split(text, ' ')) - ${n - 1}, 1)), i -> array_to_string((string_split(text, ' '))[i:i+${n - 1}], ' '))"

  /** Shared MinHash-LSH candidate CTE chain (mirror of TextOps.bandSignatures:
    * r=2 — band signature packs the two smallest permuted hashes): defines
    * `w(doc_id, hv)` and `c(doc_a, doc_b)` over any (doc_id, text) relation.
    */
  private def minhashCandSqlOver(rel: String): String =
    s"w AS (SELECT doc_id, list_distinct(list_transform($sh3, x -> ${hash60("x")})) AS hv FROM $rel), " +
      s"sm AS (SELECT doc_id, b.band, list_sort(list_transform(hv, h -> ((2 * b.band + 1) * h + 12345 * b.band + 1) % ${TextOps.MinhashP})) AS m FROM w, (SELECT unnest(generate_series(0, ${TextOps.MinhashBands - 1})) AS band) b), " +
      "s2 AS (SELECT doc_id, band, m[1] * 2147483648 + m[2] AS sig FROM sm), " +
      "c AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM s2 a JOIN s2 b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)"

  private def minhashCandSql: String = minhashCandSqlOver("documents")

  /** Verified-pair + converged-components CTE chain, shared by
    * `dedup_cluster` and `dedup_pipeline` (they must never drift — the
    * round-3 lockstep-iteration oracle bug was exactly a one-sided edit
    * class). Expects the `w`/`c` candidate chain in scope; defines
    * `j` (Jaccard-verified pairs), `e` (symmetrized edges), `reach`
    * (RECURSIVE transitive closure — the converged semantics
    * TextOps.clusterLabels iterates to; round-3 VERDICT #2: the previous
    * oracle ran 4 lockstep iterations, so a diameter>4 chain would have
    * "agreed" on split components), and `lab` (per-doc component-min
    * label). Components are tiny near-dup cliques/chains, so the closure
    * stays bounded.
    */
  private def minhashComponentsSql: String = {
    val jac = "round(CAST(len(list_intersect(wa.hv, wb.hv)) AS DOUBLE) / len(list_distinct(list_concat(wa.hv, wb.hv))), 6)"
    s"j AS (SELECT doc_a, doc_b FROM c JOIN w wa ON c.doc_a = wa.doc_id JOIN w wb ON c.doc_b = wb.doc_id WHERE $jac >= ${TextOps.MinhashTau}), " +
      "e AS (SELECT doc_a AS src, doc_b AS dst FROM j UNION ALL SELECT doc_b AS src, doc_a AS dst FROM j), " +
      "reach(doc_id, r) AS (SELECT DISTINCT src, src FROM e UNION SELECT reach.doc_id, e.dst FROM reach JOIN e ON e.src = reach.r), " +
      "lab AS (SELECT doc_id, min(r) AS lbl FROM reach GROUP BY 1)"
  }

  private def dedupClusterSql: String =
    s"WITH RECURSIVE $minhashCandSql, $minhashComponentsSql, " +
      "sz AS (SELECT lbl, count(1) AS cluster_size FROM lab GROUP BY 1) " +
      "SELECT doc_id, lbl AS canonical_id, cluster_size FROM lab JOIN sz USING (lbl) ORDER BY doc_id"

  /** Positional winnowed-fingerprint → merged-span CTE chain (mirror of
    * TextOps.substringSpans): defines `sp0(doc_id, span_start, span_end,
    * n_windows)`. Shared by the `dedup_substring_spans` and
    * `dedup_substring_clean` oracles so the apply step can never drift
    * from the span derivation.
    */
  private def substringSpansCtes: String =
    s"wp AS (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(length(text) - ${TextOps.SubstrGramN - 1}, 1)), i -> {'p': i, 'g': ${hash60Wide(s"text[i:i+${TextOps.SubstrGramN - 1}]")}})) AS u FROM documents), " +
    s"w AS (SELECT doc_id, CAST(u.p AS INT) AS pos, u.g AS g FROM wp WHERE u.g % ${TextOps.SubstrWinnowMod} = 0), " +
    "sg AS (SELECT g FROM w GROUP BY g HAVING count(DISTINCT doc_id) >= 2), " +
    "m AS (SELECT doc_id, pos FROM w JOIN sg USING (g)), " +
    s"i1 AS (SELECT doc_id, pos, CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > ${TextOps.SubstrGramN} THEN 1 ELSE 0 END AS brk FROM m), " +
    "i2 AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS span_id FROM i1), " +
    s"sp0 AS (SELECT doc_id, CAST(min(pos) AS INT) AS span_start, CAST(max(pos) + ${TextOps.SubstrGramN - 1} AS INT) AS span_end, count(1) AS n_windows FROM i2 GROUP BY doc_id, span_id)"

  /** Canonical text normal form (mirror of TextOps.normText — the ONE
    * definition both `text_normalize` and `dedup_pipeline` oracles use).
    */
  private def normSql(c: String) =
    s"regexp_replace(trim(lower($c)), ' +', ' ', 'g')"

  /** End-to-end dedup chain (mirror of TextOps.dedupPipeline): normalize →
    * exact groups over normalized text → MinHash LSH + converged components
    * over the exact representatives → per-doc verdict. The LSH chain
    * (`w…c`) runs over `pdocs` (representatives with normalized text), not
    * raw documents; the verified-pair/components chain is the SAME
    * fragment `dedup_cluster` uses.
    */
  /** The dedup-verdict CTE chain (mirror of TextOps.dedupVerdicts), ending
    * in `fin(doc_id, exact_rep, canonical_id)` — shared by the
    * `dedup_pipeline` oracle and the composed `corpus_pipeline` oracle.
    */
  private def dedupVerdictCtes: String =
    s"pn AS (SELECT doc_id, ${normSql("text")} AS norm_text FROM documents), " +
      "pg AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY norm_text) AS exact_rep, norm_text FROM pn), " +
      "pdocs AS (SELECT doc_id, norm_text AS text FROM pg WHERE doc_id = exact_rep), " +
      s"${minhashCandSqlOver("pdocs")}, $minhashComponentsSql, " +
      "fin AS (SELECT pg.doc_id, pg.exact_rep, coalesce(lab.lbl, pg.exact_rep) AS canonical_id FROM pg LEFT JOIN lab ON lab.doc_id = pg.exact_rep)"

  private def dedupPipelineSql: String =
    s"WITH RECURSIVE $dedupVerdictCtes " +
      "SELECT doc_id, canonical_id, " +
      "CASE WHEN doc_id = canonical_id THEN 'keep' ELSE 'drop' END AS verdict, " +
      "CASE WHEN doc_id = canonical_id THEN NULL WHEN doc_id <> exact_rep THEN 'exact_dup' ELSE 'near_dup' END AS reason " +
      "FROM fin ORDER BY doc_id"

  /** Salted percentage bucket of doc_id (mirror of Relational.saltedBucket
    * — ONE definition for every sampling oracle; it must stay bit-identical
    * to the Scala 60-bit md5-prefix form).
    */
  private def saltedBucketSql(salt: String): String =
    s"CAST((CAST(('0x' || substr(md5('$salt:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100) AS INT)"

  /** Shared RAG chunk-corpus CTEs (mirror of TextOps.chunkFrame) —
    * single-sourced across the `rag_retrieve` / `rag_bm25` / `rag_hybrid`
    * oracles exactly as `chunkFrame` is on the Spark side.
    */
  private def ragChunkCtes: String =
    s"d AS (SELECT doc_id, text, length(text) AS len FROM documents), " +
    s"s AS (SELECT doc_id, text, unnest(generate_series(0, greatest(len - 1, 0), ${TextOps.ChunkStride})) AS off FROM d), " +
    s"ch AS (SELECT doc_id, CAST(off // ${TextOps.ChunkStride} AS INT) AS chunk_id, text[off+1:off+${TextOps.ChunkLen}] AS chunk FROM s)"

  /** Dense ranked-list CTEs (mirror of TextOps.ragDenseRanked): hashed-BoW
    * integer vectors, brute-force dot scores, total-order rank in `dr` —
    * depth chosen by the consumer's `WHERE rnk <= k`.
    */
  private def ragDenseCtes: String = {
    def bow(src: String) =
      s"list_transform(generate_series(0, ${TextOps.RagDims - 1}), d -> CAST(len(list_filter(" +
      s"list_transform(string_split($src, ' '), t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % ${TextOps.RagDims}), " +
      "h -> h = d)) AS BIGINT))"
    s"cv AS (SELECT doc_id, chunk_id, ${bow("chunk")} AS vec FROM ch), " +
    s"qv AS (SELECT doc_id AS query_doc, ${bow("text")} AS qvec FROM documents " +
    s"WHERE doc_id % ${TextOps.RagQueryMod} = 0 AND doc_id < ${TextOps.RagMaxQueryDoc}), " +
    s"dsc AS (SELECT q.query_doc, c.doc_id, c.chunk_id, " +
    s"list_sum(list_transform(generate_series(1, ${TextOps.RagDims}), i -> q.qvec[i] * c.vec[i])) AS score " +
    "FROM qv q CROSS JOIN cv c), " +
    "dr AS (SELECT query_doc, doc_id, chunk_id, score, " +
    "row_number() OVER (PARTITION BY query_doc ORDER BY score DESC, doc_id, chunk_id) AS rnk FROM dsc)"
  }

  /** Sparse (BM25) ranked-list CTEs (mirror of TextOps.ragSparseRanked):
    * per-term float64 contributions mirrored operation-for-operation,
    * cross-term sum through DECIMAL(28,18), total-order rank in `sr`.
    */
  private def ragSparseCtes: String = {
    val toks = (src: String) => s"list_filter(string_split($src, ' '), t -> t <> '')"
    val avgdl = "(CAST(tot_dl AS DOUBLE) / CAST(n_chunks AS DOUBLE))"
    val idf = "ln(1.0 + (CAST(n_chunks AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))"
    val norm = "((CAST(tf AS DOUBLE) * 2.2) / " +
      s"(CAST(tf AS DOUBLE) + 1.2 * (0.25 + (0.75 * CAST(dl AS DOUBLE)) / $avgdl)))"
    s"ct AS (SELECT doc_id, chunk_id, CAST(len(${toks("chunk")}) AS BIGINT) AS dl, unnest(${toks("chunk")}) AS term FROM ch), " +
    "tf AS (SELECT doc_id, chunk_id, dl, term, count(1) AS tf FROM ct GROUP BY 1, 2, 3, 4), " +
    "df AS (SELECT term, count(1) AS df FROM tf GROUP BY 1), " +
    s"st AS (SELECT count(1) AS n_chunks, sum(dl) AS tot_dl FROM (SELECT CAST(len(${toks("chunk")}) AS BIGINT) AS dl FROM ch) WHERE dl > 0), " +
    s"qt AS (SELECT doc_id AS query_doc, unnest(list_distinct(${toks("text")})) AS term FROM documents " +
    s"WHERE doc_id % ${TextOps.RagQueryMod} = 0 AND doc_id < ${TextOps.RagMaxQueryDoc}), " +
    s"ssc AS (SELECT query_doc, doc_id, chunk_id, sum(CAST($idf * $norm AS DECIMAL(28,18))) AS score_d " +
    "FROM tf JOIN qt USING (term) JOIN df USING (term) CROSS JOIN st GROUP BY 1, 2, 3), " +
    "sr AS (SELECT query_doc, doc_id, chunk_id, score_d, " +
    "row_number() OVER (PARTITION BY query_doc ORDER BY score_d DESC, doc_id, chunk_id) AS rnk FROM ssc)"
  }

  /** The PQ codebook CTEs (mirror of VectorOps.pqCentSubs): sim_ivf's
    * exact-decimal label-mean centroids sliced into `PqSubspaces`
    * sub-codebooks — single-sourced between the `vec_pq` encode oracle and
    * the `vec_pq_adc` search oracle, as `pqCentSubs` is on the Spark side.
    */
  private def pqCodebookCtes: String =
    s"cell AS (SELECT label AS c_label, g.i AS pos, CAST(CAST(embedding[g.i] AS DOUBLE) AS DECIMAL(28,20)) AS v FROM embeddings, (SELECT unnest(generate_series(1, ${VectorOps.Dim})) AS i) g), " +
    "comp AS (SELECT c_label, pos, CAST(sum(v) AS DOUBLE) / count(1) AS comp FROM cell GROUP BY 1, 2), " +
    "cent AS (SELECT c_label, list(comp ORDER BY pos) AS cvec FROM comp GROUP BY 1), " +
    s"sg AS (SELECT unnest(generate_series(0, ${VectorOps.PqSubspaces - 1})) AS s), " +
    s"cs AS (SELECT c_label, s, cvec[s * ${VectorOps.PqSubDim} + 1 : s * ${VectorOps.PqSubDim} + ${VectorOps.PqSubDim}] AS csub FROM cent, sg)"

  /** The perceptual-hash CTEs (mirror of VectorOps.phashBmp): BMP
    * geometry, 8×8 grid gray sums hex-decoded from the pixel array, bit =
    * gray·64 ≥ total, MSB-first 16-bit bands — ends in `px(doc_id, width,
    * height, band0..band3)`. Single-sourced between the `multimodal_phash`
    * and `multimodal_phash_pairs` oracles as `phashFrame` is in Spark.
    */
  private def phashPxCtes: String = {
    val n2 = VectorOps.PhashGrid * VectorOps.PhashGrid
    def off(plus: Int) =
      s"((i // ${VectorOps.PhashGrid}) * h // ${VectorOps.PhashGrid} * stride + (i % ${VectorOps.PhashGrid}) * w // ${VectorOps.PhashGrid} * 3 + $plus) * 2 + 1"
    def byteAt(plus: Int) = s"CAST(('0x' || substr(hx, ${off(plus)}, 2)) AS BIGINT)"
    "mb AS (SELECT doc_id, text, octet_length(encode(text)) AS n, octet_length(encode(text)) % 60 + 4 AS w FROM documents), " +
    "ms AS (SELECT doc_id, text, n, w, (w * 3 + 3) // 4 * 4 AS stride FROM mb), " +
    "mh AS (SELECT doc_id, text, n, w, stride, (n + stride - 1) // stride AS h FROM ms), " +
    "hxx AS (SELECT doc_id, w, h, stride, lower(hex(encode(text) || encode(repeat(' ', stride * h - n)))) AS hx FROM mh), " +
    s"gs AS (SELECT doc_id, w, h, stride, hx, unnest(generate_series(0, ${n2 - 1})) AS i FROM hxx WHERE h > 0), " +
    s"pv AS (SELECT doc_id, i, ${byteAt(0)} + ${byteAt(1)} + ${byteAt(2)} AS g FROM gs), " +
    "tt AS (SELECT doc_id, sum(g) AS tot FROM pv GROUP BY 1), " +
    s"bd AS (SELECT pv.doc_id, i // 16 AS b, sum(CASE WHEN g * $n2 >= tot THEN 1 << (15 - i % 16) ELSE 0 END) AS v FROM pv JOIN tt USING (doc_id) GROUP BY 1, 2), " +
    (0 to 3).map(b => s"CAST(sum(CASE WHEN b = $b THEN v ELSE 0 END) AS INT) AS band$b").mkString(
      "bb AS (SELECT doc_id, ", ", ", " FROM bd GROUP BY 1), ") +
    "px AS (SELECT mh.doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height, " +
    (0 to 3).map(b => s"coalesce(band$b, 0) AS band$b").mkString(", ") +
    " FROM mh LEFT JOIN bb USING (doc_id))"
  }

  /** Per-language keep-rate CASE (mirror of Relational.MixPct fold). */
  private def mixCaseSql: String =
    "CASE " + Relational.MixPct.map { case (l, p) => s"WHEN lang = '$l' THEN $p" }.mkString(" ") + " ELSE 100 END"

  /** Cumulative split-label CASE over a bucket ref (mirror of
    * Relational.SplitPct fold).
    */
  private def splitCaseSql(bucketRef: String): String =
    "CASE " + Relational.SplitPct.init.map { case (n, hi) => s"WHEN $bucketRef < $hi THEN '$n'" }.mkString(" ") +
      s" ELSE '${Relational.SplitPct.last._1}' END"

  /** Quality bucket over a text column ref (mirror of TextOps.qualityLabel
    * — shared by `text_quality` and `corpus_pipeline`).
    */
  private def qualityCaseSql(t: String): String =
    s"CASE WHEN len(string_split($t, ' ')) < 20 THEN 'short' " +
      s"WHEN CAST(len(list_filter(string_split($t, ' '), t -> t IN $stopwordsSql)) AS DOUBLE) / len(string_split($t, ' ')) > 0.12 THEN 'stopword_heavy' " +
      "ELSE 'ok' END"

  /** Composed corpus-assembly CTEs: the SAME verdict chain as
    * `dedup_pipeline`, then quality floor and per-language mix — each
    * stage the exact fragment its standalone oracle uses; ends in
    * `mx(doc_id, lang, n_tokens)`. Shared by `corpus_pipeline` (per-doc
    * manifest) and `corpus_report` (the datasheet over it).
    */
  private def corpusAsmCtes: String =
    s"$dedupVerdictCtes, " +
      "kept AS (SELECT doc_id FROM fin WHERE doc_id = canonical_id), " +
      s"qd AS (SELECT d.doc_id, d.lang, CAST(len(string_split(d.text, ' ')) AS INT) AS n_tokens FROM documents d JOIN kept USING (doc_id) WHERE ${qualityCaseSql("d.text")} = 'ok'), " +
      s"mx AS (SELECT doc_id, lang, n_tokens FROM qd WHERE ${saltedBucketSql("mix")} < $mixCaseSql)"

  private def corpusPipelineSql: String =
    s"WITH RECURSIVE $corpusAsmCtes " +
      s"SELECT doc_id, lang, n_tokens, ${splitCaseSql(saltedBucketSql("split"))} AS split FROM mx ORDER BY doc_id"

  /** Datasheet oracle over the shared assembly CTEs + the verdict frame. */
  private def corpusReportSql: String =
    s"WITH RECURSIVE $corpusAsmCtes, " +
      s"asm AS (SELECT doc_id, lang, n_tokens, ${splitCaseSql(saltedBucketSql("split"))} AS split FROM mx), " +
      "lr AS (SELECT d.lang, round(CAST(sum(CASE WHEN f.doc_id = f.canonical_id THEN 1 ELSE 0 END) AS DOUBLE) / count(1), 6) AS lang_keep_rate " +
      "FROM documents d JOIN fin f USING (doc_id) GROUP BY 1) " +
      "SELECT a.lang, a.split, count(1) AS n_docs, CAST(sum(a.n_tokens) AS BIGINT) AS n_tokens_total, " +
      "round(CAST(sum(a.n_tokens) AS DOUBLE) / count(1), 4) AS mean_tokens, lr.lang_keep_rate " +
      "FROM asm a JOIN lr ON a.lang = lr.lang GROUP BY a.lang, a.split, lr.lang_keep_rate ORDER BY a.lang, a.split"

  /** Sequential-fold squared-norm of an embedding list (bitwise-matches
    * Spark's ArrayAggregate fold — see Vec).
    */
  private def sqNorm(c: String) =
    s"list_sum(list_transform($c, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"

  /** BPE learn CTEs (shared by `vocab_bpe` and `tokenize_bpe` — one merge
    * sequence by construction, like the Scala side's shared bpeLearnLocal):
    * w = word types, s0 = char symbols, then per step j: pair counts p_j,
    * argmax b_j, greedy-fold rewrite s_j via list_reduce. Two totality /
    * scale properties (round 9, BpeMerges = 200):
    *  - s_j LEFT JOINs its (0-or-1-row) argmax and carries s_{j-1} through
    *    UNCHANGED when b_j is empty (round-8 ADVICE #1) — so the chain is
    *    total past pair exhaustion (the shipped corpora exhaust at < 200
    *    merges) and b_k onward contribute no trajectory rows, exactly
    *    like the engine's early stop.
    *  - every CTE is MATERIALIZED: DuckDB would otherwise INLINE each of
    *    the 200 chained steps into every downstream reference, re-opening
    *    the parquet source per step ("too many open files" at k = 200).
    */
  private val bpeLearnCtes: String = {
    val mergeSql = (j: Int) =>
      s"p$j AS (SELECT syms[i] AS l, syms[i+1] AS r, n FROM " +
      s"(SELECT syms, n, unnest(generate_series(1, len(syms) - 1)) AS i FROM s${j - 1}) x$j), " +
      s"b$j AS MATERIALIZED (SELECT l, r, CAST(sum(n) AS BIGINT) AS cnt FROM p$j GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1), " +
      s"s$j AS MATERIALIZED (SELECT word, n, CASE WHEN b$j.l IS NULL THEN syms ELSE list_reduce(list_transform(syms, s -> [s]), " +
      s"(acc, s) -> CASE WHEN len(acc) >= 1 AND acc[-1] = b$j.l AND s[1] = b$j.r " +
      s"THEN list_concat(acc[1:-2], [b$j.l || b$j.r]) ELSE list_concat(acc, s) END) END AS syms " +
      s"FROM s${j - 1} LEFT JOIN b$j ON TRUE)"
    "w AS MATERIALIZED (SELECT word, count(1) AS n FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t WHERE length(word) > 0 GROUP BY 1), " +
    "s0 AS MATERIALIZED (SELECT word, n, string_split(word, '') AS syms FROM w), " +
    (1 to TextOps.BpeMerges).map(mergeSql).mkString(", ")
  }

  /** Unigram-LM train CTEs (`vocab_unigram`): ty = word types, sub =
    * substring occurrence counts, p0 = seeded vocabulary, then per round
    * r: tv/sc (add-one-smoothed piece log-scores, the `text_logprob`
    * ln→DECIMAL(28,18) discipline), a fixed-depth chained-CTE Viterbi DP
    * (v{r}_0..v{r}_{UniMaxWordLen} — position k's best is picked from the
    * up-to-`UniMaxPieceLen` predecessor CTEs by `ORDER BY s DESC, np,
    * cuts`, the engine's exact tiebreak; the decimal sum is CAST back to
    * (28,18) per step so the type never outgrows DuckDB's 38-digit cap —
    * exact, since addition at scale 18 never rounds), cut-string decode
    * (occ), integer Viterbi counts (vc), and the rank·5 ≤ m·4 prune (k).
    * Every CTE is MATERIALIZED (the `bpeLearnCtes` lesson — inlining
    * re-opens the parquet per chain step).
    */
  /** One Viterbi pass of the `vocab_unigram` oracle, parameterized by the
    * EM round r: smoothed scores sc$r off the previous vocabulary p${r−1},
    * the fixed-depth DP chain v{r}_0..W, and the per-word best b$r. Split
    * out of [[uniLearnCtes]] so `tokenize_unigram` can run a FOURTH pass
    * over the final trained vocabulary (its per-word `np` IS the token
    * count).
    */
  private def uniViterbiCtes(r: Int): String = {
    val P = TextOps.UniMaxPieceLen
    val W = TextOps.UniMaxWordLen
    val dp =
      (s"v${r}_0 AS (SELECT word, n, 0 AS pos, CAST(0 AS DECIMAL(28,18)) AS s, 0 AS np, '' AS cuts FROM ty)" +:
        (1 to W).map { k =>
          val branches = (math.max(0, k - P) until k).map { j =>
            f"SELECT d.word, d.n, $k AS pos, CAST(d.s + sc.s AS DECIMAL(28,18)) AS s, d.np + 1 AS np, d.cuts || '$j%02d' AS cuts " +
            s"FROM v${r}_$j d JOIN sc$r sc ON sc.piece = substring(d.word, ${j + 1}, ${k - j}) " +
            s"WHERE length(d.word) >= $k"
          }.mkString(" UNION ALL ")
          s"v${r}_$k AS MATERIALIZED (SELECT word, n, pos, s, np, cuts FROM " +
          s"(SELECT *, row_number() OVER (PARTITION BY word ORDER BY s DESC, np, cuts) AS rk FROM ($branches) c$r$k) r$r$k WHERE rk = 1)"
        }).mkString(", ")
    s"tv$r AS (SELECT CAST(sum(cnt) + count(1) AS BIGINT) AS tv FROM p${r - 1}), " +
    s"sc$r AS MATERIALIZED (SELECT piece, CAST(ln((cnt + 1.0) / CAST(tv AS DOUBLE)) AS DECIMAL(28,18)) AS s FROM p${r - 1} CROSS JOIN tv$r), " +
    dp + ", " +
    s"b$r AS MATERIALIZED (SELECT word, n, np, cuts FROM (${(1 to W).map(k => s"SELECT * FROM v${r}_$k").mkString(" UNION ALL ")}) u$r WHERE pos = length(word))"
  }

  private val uniLearnCtes: String = {
    val P = TextOps.UniMaxPieceLen
    val W = TextOps.UniMaxWordLen
    def round(r: Int): String =
      uniViterbiCtes(r) + ", " +
      s"occ$r AS MATERIALIZED (SELECT substring(word, start + 1, stop - start) AS piece, n FROM " +
      s"(SELECT word, n, CAST(substring(cuts, 2 * gi - 1, 2) AS INT) AS start, " +
      s"CASE WHEN gi < np THEN CAST(substring(cuts, 2 * gi + 1, 2) AS INT) ELSE length(word) END AS stop " +
      s"FROM b$r, (SELECT unnest(generate_series(1, $W)) AS gi) g$r WHERE gi <= np) d$r), " +
      s"vc$r AS MATERIALIZED (SELECT p.piece, CAST(COALESCE(o.c, 0) AS BIGINT) AS cnt FROM p${r - 1} p " +
      s"LEFT JOIN (SELECT piece, sum(n) AS c FROM occ$r GROUP BY 1) o USING (piece)), " +
      s"k$r AS MATERIALIZED (SELECT piece, cnt, (length(piece) = 1 OR rk * 5 <= m * 4) AS kept FROM " +
      s"(SELECT piece, cnt, row_number() OVER (PARTITION BY (length(piece) > 1) ORDER BY cnt DESC, piece) AS rk, " +
      s"count(1) OVER (PARTITION BY (length(piece) > 1)) AS m FROM vc$r) w$r), " +
      s"p$r AS MATERIALIZED (SELECT piece, cnt FROM k$r WHERE kept)"
    "ty AS MATERIALIZED (SELECT w AS word, CAST(count(1) AS BIGINT) AS n FROM " +
    "(SELECT unnest(string_split(text, ' ')) AS w FROM documents) t0 WHERE length(w) > 0 GROUP BY 1), " +
    s"sub AS MATERIALIZED (SELECT substring(word, i, l) AS piece, CAST(sum(n) AS BIGINT) AS cnt FROM ty, " +
    s"(SELECT unnest(generate_series(1, $W)) AS i) gi, (SELECT unnest(generate_series(1, $P)) AS l) gl " +
    "WHERE i + l - 1 <= length(word) GROUP BY 1), " +
    "p0 AS MATERIALIZED (SELECT piece, cnt FROM sub WHERE length(piece) = 1 UNION ALL " +
    "SELECT piece, cnt FROM (SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece) AS rk " +
    s"FROM sub WHERE length(piece) > 1) m0 WHERE rk <= ${TextOps.UniSeedMulti}), " +
    (1 to TextOps.UniRounds).map(round).mkString(", ")
  }

  /** `multimodal_resize` gate-subset predicate (empty at the default mod 1)
    * — mirrors `VectorOps.ResizeGateModConf`, which Verify sets from the
    * same SPARK_GRAFT_RESIZE_MOD env this reads, so the dumped oracle SQL
    * and the engine cover the identical 1/N payload subset at the 100×
    * gate (round-13 VERDICT next #5).
    */
  private def resizeGateWhere: String = {
    val n = sys.env.getOrElse("SPARK_GRAFT_RESIZE_MOD", "1").toInt
    if (n > 1) s" WHERE doc_id % $n = 0" else ""
  }

  private def dotSql(a: String, b: String) =
    s"list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"

  /** Squared euclidean distance (mirror of Vec.sqDist's sequential fold). */
  private def sqDistSql(a: String, b: String) =
    s"list_sum(list_transform(list_zip($a, $b), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"

  /** Sign-bit LSH bucket (mirror of Vec.signBucket, 8 bits). */
  private val bucket8 =
    "list_sum(list_transform(generate_series(1, 8), i -> CASE WHEN embedding[i] >= 0 THEN 1 << (i - 1) ELSE 0 END))"

  /** Per-band sign-bit bucket over dims [band·bits+1 .. band·bits+bits]
    * (mirror of Vec.signBucket with offset — dedup_embed's banded LSH);
    * expects a lateral `g(band)`.
    */
  private val bandBucket =
    s"list_sum(list_transform(generate_series(1, ${VectorOps.EmbedBandBits}), i -> CASE WHEN embedding[g.band * ${VectorOps.EmbedBandBits} + i] >= 0 THEN 1 << (i - 1) ELSE 0 END))"

  /** SimHash-per-doc CTE chain (mirror of TextOps.dedupSimhash):
    * defines `sh(doc_id, simhash)`.
    */
  private val simhashShSql = simhashShChain(8, 16)

  /** Parameterized SimHash CTE chain: token hash = first `hexChars` md5 hex
    * chars (a signed-positive BIGINT for ≤15), signature over `bits` bits.
    * `CAST(1 AS BIGINT) << i` — a plain `1 << i` is a 32-bit shift in
    * DuckDB and overflows past bit 30.
    */
  private def simhashShChain(hexChars: Int, bits: Int): String =
    "tok AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t FROM documents), " +
    s"h AS (SELECT doc_id, CAST(('0x' || substr(md5(t), 1, $hexChars)) AS BIGINT) AS hv FROM tok), " +
    s"b AS (SELECT doc_id, g.i, CAST(sum(CASE WHEN (hv >> g.i) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS w FROM h, (SELECT unnest(generate_series(0, ${bits - 1})) AS i) g GROUP BY 1, 2), " +
    s"sh AS (SELECT doc_id, CAST(sum(CASE WHEN w > 0 THEN CAST(1 AS BIGINT) << i ELSE 0 END) AS BIGINT) AS simhash FROM b GROUP BY 1)"

  /** Band-rotation Hamming pairing over a `sh(doc_id, simhash)` chain
    * (mirror of TextOps.simhashBandPairs).
    */
  private def simhashPairsSql(shChain: String, bits: Int, bandBits: Int): String =
    s"WITH $shChain, ds AS (SELECT simhash AS sig, min(doc_id) AS min_doc FROM sh GROUP BY 1), " +
    s"bd AS (SELECT sig, min_doc, g.band, (sig >> (g.band * $bandBits)) & ${(1L << bandBits) - 1} AS bval FROM ds, (SELECT unnest(generate_series(0, ${TextOps.SimhashBands - 1})) AS band) g), " +
    "p AS (SELECT DISTINCT a.min_doc AS doc_a, b.min_doc AS doc_b, a.sig AS sig_a, b.sig AS sig_b FROM bd a JOIN bd b ON a.band = b.band AND a.bval = b.bval AND a.sig < b.sig), " +
    s"hp AS (SELECT doc_a, doc_b, sig_a, sig_b, CAST(list_sum(list_transform(generate_series(0, ${bits - 1}), i -> CASE WHEN (xor(sig_a, sig_b) >> i) & 1 = 1 THEN 1 ELSE 0 END)) AS INT) AS hamming FROM p) " +
    s"SELECT doc_a, doc_b, sig_a, sig_b, hamming FROM hp WHERE hamming <= ${TextOps.SimhashHammingK} ORDER BY doc_a, doc_b"

  private def langidScoreSql: String =
    TextOps.langProfiles.map { case (l, ps) =>
      ps.map(p => s"CAST((length(text) - length(replace(text, '$p', ''))) / ${p.length} AS INT)")
        .mkString(" + ") + s" AS score_$l"
    }.mkString(", ")

  private def langidPredSql: String = {
    val g = "greatest(" + TextOps.langProfiles.map { case (l, _) => s"score_$l" }.mkString(", ") + ")"
    "CASE " + TextOps.langProfiles.map { case (l, _) => s"WHEN score_$l = $g THEN '$l'" }.mkString(" ") +
      " ELSE 'und' END"
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a weaker rows-only check.
    */
  def oracleSql: Map[String, String] = Map(
    "scan_documents" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id",
    "scan_schema" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem ORDER BY l_orderkey, l_linenumber, l_quantity",
    "scan_csv" ->
      // stagedRoot pins the digest this JVM staged (oracleSql is a def,
      // re-evaluated when Verify dumps it AFTER the queries ran), so an
      // interleaved run at another SF re-linking `current` can't poison it
      (s"SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice FROM read_csv('${Staging.stagedRoot(Relational.CsvStageDir)}/part/*.csv', header=true, " +
      "columns={'p_partkey':'BIGINT','p_name':'VARCHAR','p_brand':'VARCHAR','p_type':'VARCHAR','p_size':'INTEGER','p_retailprice':'DOUBLE'}) ORDER BY p_partkey"),
    "scan_json" ->
      (s"SELECT doc_id, text, lang, source, n_chars FROM read_json('${Staging.stagedRoot(Relational.JsonStageDir)}/documents/*.json', " +
      "format='newline_delimited', columns={'doc_id':'BIGINT','text':'VARCHAR','lang':'VARCHAR','source':'VARCHAR','n_chars':'BIGINT'}) ORDER BY doc_id"),
    // DuckDB has no ORC reader: the oracle reads the source PARQUET rows, so
    // the hash match pins the ORC write+read round trip to value-exactness
    // (see Relational.scanOrc — timestamps are the load-bearing column)
    "scan_orc" ->
      "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate FROM orders ORDER BY o_orderkey",
    // both engines read the SAME staged nested files with their own
    // struct/array parquet decoders (see Relational.scanNested)
    "scan_nested" ->
      (s"SELECT doc_id, meta.lang AS lang, meta.source AS source, meta.n_chars AS n_chars, " +
      s"CAST(len(tokens) AS INT) AS n_tokens, tokens[1] AS first_token, tokens[-1] AS last_token " +
      s"FROM read_parquet('${Staging.stagedRoot(Relational.NestedStageDir)}/documents/*.parquet') ORDER BY doc_id"),
    // oracle filters the ORIGINAL flat table — the hash match proves the
    // hive-partitioned round-trip preserved the data
    // the oracle reads the ROW form the files were staged from — the hash
    // match proves the byte-exact file round-trip and the path→id binding
    "scan_binaryfile" ->
      "SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, md5(text) AS checksum FROM documents ORDER BY doc_id",
    // the packed twin must round-trip the identical bytes (one oracle, two
    // ingest paths: per-file source vs packed parquet binary columns)
    "scan_packed" ->
      "SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, md5(text) AS checksum FROM documents ORDER BY doc_id",
    "scan_partitioned" ->
      "SELECT doc_id, lang, source, n_chars FROM documents WHERE lang = 'en' ORDER BY doc_id",
    // the oracle reconstructs the evolution: pre-evolution (even) rows
    // must surface the added column as NULL — the mergeSchema backfill
    "scan_evolved" ->
      "SELECT doc_id, lang, n_chars, CASE WHEN doc_id % 2 = 1 THEN source ELSE NULL END AS source FROM documents ORDER BY doc_id",
    // oracle rebuilds the lang dimension from the flat table (mirror of the
    // staged langdim derivation) and runs the same dim-filtered join
    "scan_dpp" ->
      ("WITH dim AS (SELECT DISTINCT lang, CASE WHEN lang = 'zh' THEN 'cjk' ELSE 'latin' END AS lang_group FROM documents) " +
      "SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d JOIN dim USING (lang) " +
      "WHERE dim.lang_group = 'cjk' ORDER BY d.doc_id"),
    "filter_eq" ->
      "SELECT event_id, user_id, value FROM events WHERE event_type = 'purchase' ORDER BY event_id",
    // the oracle proves the bucketed tables hold exactly the source rows —
    // the layout (and the exchange-free plan it buys) is asserted Spark-side
    "join_bucketed" ->
      "SELECT c_mktsegment, count(1) AS n_orders, CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1 ORDER BY 1",
    "funnel_events" -> funnelSql,
    // the incremental mapGroupsWithState form must agree with the join
    // chain row-for-row — ONE oracle string for both, so they cannot drift
    "stream_funnel" -> funnelSql,
    "anomaly_running" -> anomalySql,
    "stream_anomaly" -> anomalySql,
    // first-order transition matrix: lead over the per-user stream, then
    // type-domain counts with per-src totals (probability = n/src_total,
    // an exact integer ratio the consumer divides)
    "event_markov" ->
      ("WITH p AS (SELECT event_type AS src_type, lead(event_type) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS dst_type FROM events), " +
      "c AS (SELECT src_type, dst_type, count(*) AS n FROM p WHERE dst_type IS NOT NULL GROUP BY 1, 2), " +
      "t AS (SELECT src_type, CAST(sum(n) AS BIGINT) AS src_total FROM c GROUP BY 1) " +
      "SELECT c.src_type, c.dst_type, n, src_total FROM c JOIN t USING (src_type) ORDER BY src_type, dst_type"),
    // time travel: the oracle RE-DERIVES each copy-on-write snapshot from
    // the raw table (v0 base / v1 update batch / v2 delete batch) while
    // the engine reads the staged version directories — the gate pins the
    // snapshot round trip too
    "scan_timetravel" ->
      ("WITH v0 AS (SELECT o_orderkey AS k, CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents FROM orders), " +
      "v1 AS (SELECT k, CASE WHEN k % 10 = 0 THEN cents + 100 ELSE cents END AS cents FROM v0), " +
      "v2 AS (SELECT * FROM v1 WHERE k % 7 <> 0) " +
      "SELECT 0 AS version, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS sum_cents, min(k) AS min_key, max(k) AS max_key FROM v0 " +
      "UNION ALL SELECT 1, count(*), CAST(sum(cents) AS BIGINT), min(k), max(k) FROM v1 " +
      "UNION ALL SELECT 2, count(*), CAST(sum(cents) AS BIGINT), min(k), max(k) FROM v2 ORDER BY version"),
    // the agg_kmv per-lang sketch stage alone (the state the streaming
    // fold maintains): k smallest distinct 60-bit shingle hashes
    "stream_kmv" ->
      (s"WITH tok AS (SELECT lang, unnest($sh3) AS g FROM documents), " +
      s"h AS MATERIALIZED (SELECT DISTINCT lang, ${hash60Wide("g")} AS hv FROM tok), " +
      s"sk AS (SELECT lang, hv FROM (SELECT lang, hv, row_number() OVER (PARTITION BY lang ORDER BY hv) AS rn FROM h) WHERE rn <= ${Aggregates.KmvK}) " +
      "SELECT lang, CAST(count(*) AS INT) AS kk, max(hv) AS h_k FROM sk GROUP BY 1 ORDER BY lang"),
    "event_retention" ->
      ("WITH a AS (SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events), " +
       "f AS (SELECT user_id, min(day) AS cohort_day FROM a GROUP BY 1) " +
       "SELECT CAST(f.cohort_day AS TIMESTAMP) AS cohort_day, CAST(date_diff('day', f.cohort_day, a.day) AS INT) AS day_offset, count(DISTINCT a.user_id) AS n_users " +
       "FROM a JOIN f ON a.user_id = f.user_id GROUP BY 1, 2 ORDER BY 1, 2"),
    "filter_range" ->
      "SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem WHERE l_quantity BETWEEN 10 AND 20 AND l_discount < 0.05 ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount",
    "filter_token" ->
      "SELECT doc_id, lang FROM documents WHERE list_contains(string_split(text, ' '), 'spark') ORDER BY doc_id",
    "project_case" ->
      "SELECT o_orderkey, CASE WHEN o_totalprice < 1000 THEN 'low' WHEN o_totalprice < 5000 THEN 'mid' ELSE 'high' END AS price_bucket FROM orders ORDER BY o_orderkey",
    "project_arith" ->
      "SELECT l_orderkey, l_linenumber, CAST(round(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1.0 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2))), 2) AS DOUBLE) AS net_price FROM lineitem ORDER BY l_orderkey, l_linenumber, net_price",
    "scalar_math" ->
      "SELECT l_orderkey, l_linenumber, round(sqrt(l_extendedprice), 4) AS sqrt_price, round(pow(l_discount, 2), 6) AS disc_sq, CAST(ceil(l_quantity / 7) AS BIGINT) AS qty_ceil, CAST(floor(l_extendedprice / 100) AS BIGINT) AS price_floor, abs(l_quantity - 25) AS qty_dev FROM lineitem ORDER BY l_orderkey, l_linenumber, sqrt_price, disc_sq, qty_ceil, price_floor, qty_dev",
    "scalar_string" ->
      "SELECT p_partkey, upper(p_name) AS name_upper, substr(p_name, 1, 5) AS name_pre, concat_ws('#', p_brand, p_type) AS brand_type, CAST(length(p_name) AS INT) AS name_len, regexp_replace(p_name, '[aeiou]', '', 'g') AS name_novowel FROM part ORDER BY p_partkey",
    "scalar_date" ->
      "SELECT CAST(year(o_orderdate) AS INT) AS o_year, CAST(month(o_orderdate) AS INT) AS o_month, count(1) AS n_orders, CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_total FROM orders GROUP BY 1, 2 ORDER BY 1, 2",
    "scalar_json" ->
      "SELECT event_type, CAST(sum(CAST(regexp_extract(props, '\"k\": (-?\\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k, count(1) AS n FROM events GROUP BY 1 ORDER BY 1",
    "agg_avg" ->
      "SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_base_price, CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_disc_price, CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1.0 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_charge, round(avg(l_quantity), 2) AS avg_qty, round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(1), 2) AS avg_price, round(CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / count(1), 4) AS avg_disc, count(1) AS count_order FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' GROUP BY 1, 2 ORDER BY 1, 2",
    "agg_sql" ->
      "SELECT o_orderstatus, round(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / count(1), 2) AS avg_total, CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_total, count(1) AS n_orders FROM orders GROUP BY 1 ORDER BY 1",
    "agg_condcount" ->
      "SELECT count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click, count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase, count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view, count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error, count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup, count(1) AS n_total FROM events",
    "agg_maxgroup" ->
      "SELECT l_orderkey, round(max(l_extendedprice), 2) AS max_price, count(1) AS n_lines FROM lineitem GROUP BY 1 ORDER BY 1",
    "agg_distinct" ->
      "SELECT event_type, count(DISTINCT user_id) AS n_users, count(1) AS n_events FROM events GROUP BY 1 ORDER BY 1",
    // laws-as-columns gates (agg_countmin discipline): the oracle emits the
    // exact distinct counts plus literal-true flags; the Spark side computes
    // the flags from the sketches, so estimator drift past the published-rsd
    // bound (or a broken sketch union) breaks the hash
    "agg_approx_distinct" ->
      "SELECT event_type, count(DISTINCT user_id) AS n_users_exact, 1 AS bound_ok FROM events GROUP BY 1 ORDER BY 1",
    "agg_sketch_merge" ->
      ("SELECT event_type, count(DISTINCT user_id) AS n_users_exact, 1 AS merge_ok, 1 AS bound_ok FROM events GROUP BY 1 " +
      "UNION ALL SELECT 'ALL', count(DISTINCT user_id), 1, 1 FROM events ORDER BY 1"),
    "agg_median" ->
      "SELECT o_orderpriority, median(CAST(round(o_totalprice * 100, 0) AS BIGINT)) / 100 AS median_total, count(1) AS n FROM orders GROUP BY 1 ORDER BY 1",
    "agg_weighted" ->
      "SELECT l_returnflag, round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE), 6) AS wavg_discount, round(avg(l_discount), 6) AS avg_discount, count(1) AS n FROM lineitem GROUP BY 1 ORDER BY 1",
    // cents-integer quartiles: both engines interpolate lo + (hi-lo)*frac
    // over identical integers, so the doubles are bit-identical
    "agg_percentile" ->
      "SELECT o_orderpriority, quantile_cont(CAST(round(o_totalprice * 100, 0) AS BIGINT), 0.25) / 100 AS p25, quantile_cont(CAST(round(o_totalprice * 100, 0) AS BIGINT), 0.5) / 100 AS p50, quantile_cont(CAST(round(o_totalprice * 100, 0) AS BIGINT), 0.75) / 100 AS p75, count(1) AS n FROM orders GROUP BY 1 ORDER BY 1",
    "agg_mode" ->
      "WITH c AS (SELECT user_id % 10 AS user_bucket, event_type, count(1) AS n FROM events GROUP BY 1, 2), r AS (SELECT user_bucket, event_type, n, row_number() OVER (PARTITION BY user_bucket ORDER BY n DESC, event_type) AS rn FROM c) SELECT user_bucket, event_type AS top_type, n AS top_n FROM r WHERE rn = 1 ORDER BY user_bucket",
    "agg_rollup" ->
      "SELECT l_returnflag, l_linestatus, CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue, count(1) AS n FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus) ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST",
    "agg_cube" ->
      "SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, count(1) AS n FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus) ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST",
    "agg_typed" ->
      "SELECT o_orderstatus, round(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / count(1), 2) AS avg_total FROM orders GROUP BY 1 ORDER BY 1",
    "group_collect" ->
      "SELECT lang, array_to_string((list_sort(list(doc_id)))[1:20], ',') AS doc_ids, count(1) AS n_docs FROM documents GROUP BY 1 ORDER BY 1",
    "agg_pivot" ->
      ("SELECT source, " +
      Aggregates.PivotLangs.map(l => s"count(CASE WHEN lang = '$l' THEN 1 END) AS n_$l").mkString(", ") +
      " FROM documents GROUP BY 1 ORDER BY 1"),
    "agg_groupingsets" ->
      ("SELECT l_returnflag, l_linestatus, CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_price, " +
      "count(1) AS n, CAST(GROUPING(l_returnflag) AS INT) AS g_flag, CAST(GROUPING(l_linestatus) AS INT) AS g_status " +
      "FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ()) " +
      "ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"),
    // exact decimal moments cast to double, then ONE shared combine
    // expression, rounded at 6/4 digits — DuckDB's DECIMAL→DOUBLE cast
    // double-rounds, so the moments can differ by one ulp (see
    // Aggregates.aggCorr)
    "agg_corr" ->
      ("WITH m AS (SELECT l_returnflag, count(1) AS n, " +
      "CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx, " +
      "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy, " +
      "CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sxx, " +
      "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS syy, " +
      "CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy " +
      "FROM lineitem GROUP BY 1) " +
      "SELECT l_returnflag, n, round((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr_qty_price, " +
      "round((sxy - sx * sy / n) / (n - 1), 4) AS covar_qty_price FROM m ORDER BY l_returnflag"),
    // moment CTE mirrors Aggregates.aggRegression term-for-term (the D17
    // discipline): exact DECIMAL sums → one shared double combine
    "agg_regression" ->
      ("WITH m AS (SELECT l_returnflag, count(1) AS n, " +
      "CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx, " +
      "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy, " +
      "CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sxx, " +
      "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS syy, " +
      "CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy " +
      "FROM lineitem GROUP BY 1), " +
      "c AS (SELECT *, n * sxy - sx * sy AS cov_n, n * sxx - sx * sx AS var_n FROM m), " +
      "sl AS (SELECT *, CASE WHEN var_n <> 0 THEN cov_n / var_n END AS slope_raw FROM c) " +
      "SELECT l_returnflag, n, round(slope_raw, 6) AS slope, " +
      "round((sy - slope_raw * sx) / n, 4) AS intercept, " +
      "CASE WHEN var_n <> 0 THEN round(cov_n * cov_n / (var_n * (n * syy - sy * sy)), 6) END AS r2 " +
      "FROM sl ORDER BY l_returnflag"),
    // per-group ln terms cross the sum as exact DECIMAL(28,18) (the
    // text_logprob discipline) so partial-merge order can't move the hash
    "agg_entropy" ->
      ("WITH g AS (SELECT source, lang, count(1) AS ni FROM documents GROUP BY 1, 2), " +
      "e AS (SELECT source, CAST(sum(ni) AS BIGINT) AS n_docs, CAST(count(1) AS INT) AS n_langs, " +
      "CAST(sum(CAST(CAST(ni AS DOUBLE) * ln(CAST(ni AS DOUBLE)) AS DECIMAL(28,18))) AS DOUBLE) AS snln FROM g GROUP BY 1) " +
      "SELECT source, n_docs, n_langs, " +
      "round(ln(CAST(n_docs AS DOUBLE)) - snln / n_docs, 6) AS entropy, " +
      "CASE WHEN n_langs > 1 THEN round((ln(CAST(n_docs AS DOUBLE)) - snln / n_docs) / ln(CAST(n_langs AS DOUBLE)), 6) END AS norm_entropy " +
      "FROM e ORDER BY source"),
    // map-free reconstruction of the map pipeline's content: the busy
    // threshold is the exact integer cross-product n*n_days > total
    "scalar_map" ->
      ("WITH d AS (SELECT event_type, strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS day, count(1) AS n FROM events GROUP BY 1, 2), " +
      "t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS total, count(1) AS n_days FROM d GROUP BY 1), " +
      "b AS (SELECT d.event_type, day, CAST(n * 2 AS BIGINT) AS v2 FROM d JOIN t USING (event_type) WHERE n * n_days > total) " +
      "SELECT t.event_type, CAST(t.n_days AS INT) AS n_days, CAST(coalesce(bc.c, 0) AS INT) AS n_busy_days, coalesce(bs.s, '') AS busy_2x " +
      "FROM t LEFT JOIN (SELECT event_type, count(1) AS c FROM b GROUP BY 1) bc USING (event_type) " +
      "LEFT JOIN (SELECT event_type, string_agg(day || ':' || CAST(v2 AS VARCHAR), ',' ORDER BY day) AS s FROM b GROUP BY 1) bs USING (event_type) " +
      "ORDER BY t.event_type"),
    // the full BPE merge trajectory replayed by one chained CTE per step:
    // identical greedy-fold semantics via list_reduce (see TextOps.vocabBpe)
    "vocab_bpe" -> {
      s"WITH $bpeLearnCtes " +
      "SELECT * FROM (" +
      (1 to TextOps.BpeMerges).map(j =>
        s"SELECT CAST($j AS INT) AS step, l AS lhs, r AS rhs, cnt AS pair_count FROM b$j")
        .mkString(" UNION ALL ") +
      ") u ORDER BY step"
    },
    // unigram-LM train trajectory: seed vocabulary + every round's Viterbi
    // counts and prune verdicts (uniLearnCtes replays the engine's
    // exact-decimal DP and integer prune step for step)
    "vocab_unigram" -> {
      s"WITH $uniLearnCtes " +
      "SELECT * FROM (" +
      ("SELECT CAST(0 AS INT) AS em_round, piece, cnt, TRUE AS kept FROM p0 UNION ALL " +
        (1 to TextOps.UniRounds).map(r =>
          s"SELECT CAST($r AS INT) AS em_round, piece, cnt, kept FROM k$r")
          .mkString(" UNION ALL ")) +
      ") u ORDER BY em_round, piece"
    },
    // apply the learned unigram vocabulary (shared CTE prefix): a fourth
    // Viterbi pass over the FINAL vocabulary p3 — each word's np is its
    // token count — joined back onto the token stream, per-doc partial agg
    "tokenize_unigram" -> {
      val r = TextOps.UniRounds + 1
      s"WITH $uniLearnCtes, ${uniViterbiCtes(r)}, " +
      "t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents), " +
      s"tj AS (SELECT doc_id, t.word, np FROM t JOIN b$r b ON b.word = t.word WHERE length(t.word) > 0) " +
      "SELECT doc_id, count(1) AS n_words, CAST(sum(np) AS BIGINT) AS n_uni_tokens, " +
      "round(CAST(sum(length(word)) AS DOUBLE) / CAST(sum(np) AS BIGINT), 4) AS chars_per_token " +
      "FROM tj GROUP BY doc_id ORDER BY doc_id"
    },
    // apply the same learned merges (shared CTE prefix): word-type token
    // counts joined back onto the token stream, per-doc partial agg
    "tokenize_bpe" -> {
      s"WITH $bpeLearnCtes, " +
      s"wl AS (SELECT word, CAST(len(syms) AS BIGINT) AS w_bpe FROM s${TextOps.BpeMerges}), " +
      "t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents), " +
      "tj AS (SELECT doc_id, word, w_bpe FROM t JOIN wl USING (word)) " +
      "SELECT doc_id, count(1) AS n_words, CAST(sum(w_bpe) AS BIGINT) AS n_bpe_tokens, " +
      "round(CAST(sum(length(word)) AS DOUBLE) / CAST(sum(w_bpe) AS BIGINT), 4) AS chars_per_token " +
      "FROM tj GROUP BY doc_id ORDER BY doc_id"
    },
    // ENCODE leg: the same learned symbol table emits each document's full
    // ordered token stream; word order via original split positions (pos
    // indexes the full words array INCLUDING empties, exactly Spark's
    // posexplode indices — the empty-word filter never renumbers)
    "tokenize_bpe_encode" -> {
      s"WITH $bpeLearnCtes, " +
      s"wl AS (SELECT word, array_to_string(syms, ' ') AS wtoks, CAST(len(syms) AS BIGINT) AS w_bpe FROM s${TextOps.BpeMerges}), " +
      "tw AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents), " +
      "tp AS (SELECT doc_id, g.i - 1 AS pos, words[g.i] AS word FROM tw, LATERAL (SELECT unnest(generate_series(1, len(words))) AS i) g WHERE length(words[g.i]) > 0), " +
      "tj AS (SELECT doc_id, pos, wtoks, w_bpe FROM tp JOIN wl USING (word)) " +
      "SELECT doc_id, CAST(sum(w_bpe) AS BIGINT) AS n_bpe_tokens, " +
      "string_agg(wtoks, ' ' ORDER BY pos) AS bpe_tokens " +
      "FROM tj GROUP BY doc_id ORDER BY doc_id"
    },
    // greedy per-source token-budget fill in quality order (single-sourced
    // quality bucket + chars/4 token estimate); both verdict branches gated
    "corpus_budget" ->
      (s"WITH b AS (SELECT doc_id, source, CAST(ceil(n_chars / 4.0) AS BIGINT) AS tok_est, " +
      s"CAST(CASE WHEN ${qualityCaseSql("text")} = 'ok' THEN 0 WHEN ${qualityCaseSql("text")} = 'stopword_heavy' THEN 1 ELSE 2 END AS INT) AS q_rank FROM documents), " +
      "c AS (SELECT *, CAST(sum(tok_est) OVER (PARTITION BY source ORDER BY q_rank, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens FROM b) " +
      s"SELECT doc_id, source, tok_est, q_rank, cum_tokens, CAST(cum_tokens <= ${TextOps.BudgetTokens} AS INT) AS kept " +
      "FROM c ORDER BY source, doc_id"),
    "vocab_oov" ->
      (s"WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents), " +
      s"v AS (SELECT token FROM (SELECT token, count(1) AS n FROM t GROUP BY 1 ORDER BY n DESC, token LIMIT ${TextOps.VocabK})), " +
      "j AS (SELECT t.doc_id, CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov FROM t LEFT JOIN v ON t.token = v.token) " +
      "SELECT doc_id, count(1) AS n_tokens, CAST(sum(oov) AS BIGINT) AS n_oov, " +
      "round(CAST(sum(oov) AS DOUBLE) / count(1), 6) AS oov_rate FROM j GROUP BY 1 ORDER BY doc_id"),
    // distinct-value grid -> running CDF counts -> max gap; all operands
    // exact integers until the two divisions (mirrored verbatim)
    "stats_ks" ->
      ("WITH e AS (SELECT event_type, CAST(user_id % 2 AS INT) AS variant, CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS c FROM events), " +
      "g AS (SELECT event_type, c, count(1) FILTER (WHERE variant = 0) AS d0, count(1) FILTER (WHERE variant = 1) AS d1 FROM e GROUP BY 1, 2), " +
      "t AS (SELECT event_type, CAST(sum(d0) AS BIGINT) AS n0, CAST(sum(d1) AS BIGINT) AS n1 FROM g GROUP BY 1), " +
      "r AS (SELECT event_type, c, CAST(sum(d0) OVER (PARTITION BY event_type ORDER BY c ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c0, " +
      "CAST(sum(d1) OVER (PARTITION BY event_type ORDER BY c ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c1 FROM g) " +
      "SELECT r.event_type, n0, n1, round(max(abs(CAST(c0 AS DOUBLE) / n0 - CAST(c1 AS DOUBLE) / n1)), 6) AS ks_d " +
      "FROM r JOIN t USING (event_type) GROUP BY 1, 2, 3 ORDER BY event_type"),
    // agg-based top-1-per-group: same winner as window_top1 (packed-ordinal
    // tiebreak mirrors desc value, asc event_id)
    "agg_argmax" ->
      ("WITH e AS (SELECT user_id, event_id, value, " +
      "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) * 1000000000000 + (999999999999 - event_id) AS ord FROM events) " +
      "SELECT user_id, arg_max(event_id, ord) AS event_id, arg_max(value, ord) AS value, count(1) AS n_events " +
      "FROM e GROUP BY user_id ORDER BY user_id"),
    // A-ES weighted reservoir: u = (hkey+1)/2^60 (exact dyadic), prio =
    // -ln(u)/n_chars; selection replayed by the same arithmetic
    "sample_weighted" ->
      ("WITH h AS (SELECT doc_id, lang, n_chars, CAST(('0x' || substr(md5('wres:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hkey FROM documents WHERE n_chars > 0), " +
      "p AS (SELECT doc_id, lang, n_chars, -ln((hkey + 1) / 1152921504606846976.0) / n_chars AS prio FROM h), " +
      s"t AS (SELECT * FROM p ORDER BY prio, doc_id LIMIT ${Relational.WeightedK}) " +
      "SELECT doc_id, lang, n_chars, round(prio, 8) AS prio FROM t ORDER BY doc_id"),
    // DSIR importance resampling: hashed unigram+bigram bucket counts,
    // add-one-smoothed target-vs-pool log-ratios (exact DECIMAL(20,18)
    // quantization of ln on identical doubles), per-doc exact decimal
    // product-sum, Gumbel-top-k selection (the A-ES trick in log space)
    "sample_dsir" -> {
      val B = TextOps.DsirBuckets
      s"WITH g AS (SELECT doc_id, lang, unnest(list_concat(string_split(text, ' '), ${rawShingles(2)})) AS gram FROM documents), " +
      s"gb AS (SELECT doc_id, lang, ${hash60Wide("('dsirf:' || gram)")} % $B AS b FROM g), " +
      "db AS (SELECT doc_id, lang, b, count(1) AS c FROM gb GROUP BY 1, 2, 3), " +
      s"tb AS (SELECT b, sum(CASE WHEN lang = '${TextOps.DsirTargetLang}' THEN c ELSE 0 END) AS pc, sum(c) AS qc FROM db GROUP BY 1), " +
      "tot AS (SELECT CAST(sum(pc) AS BIGINT) AS pt, CAST(sum(qc) AS BIGINT) AS qt FROM tb), " +
      s"diff AS (SELECT b, CAST(ln((pc + 1.0) / CAST(pt + $B AS DOUBLE)) - ln((qc + 1.0) / CAST(qt + $B AS DOUBLE)) AS DECIMAL(20,18)) AS d FROM tb CROSS JOIN tot), " +
      "lw AS (SELECT doc_id, lang, CAST(sum(CAST(c AS DECIMAL(10,0)) * d) AS DOUBLE) AS logw FROM db JOIN diff USING (b) GROUP BY 1, 2), " +
      "pr AS (SELECT doc_id, lang, logw, ln(-ln((hkey + 1) / 1152921504606846976.0)) - logw AS prio FROM (SELECT lw.*, CAST(('0x' || substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hkey FROM lw) h), " +
      s"t AS (SELECT * FROM pr ORDER BY prio, doc_id LIMIT ${TextOps.DsirK}) " +
      "SELECT doc_id, lang, round(logw, 8) AS logw, round(prio, 8) AS prio FROM t ORDER BY doc_id"
    },
    "agg_stringagg" ->
      ("SELECT r_name, CAST(count(1) AS INT) AS n_nations, " +
      "string_agg(n_name, ',' ORDER BY n_name) AS nations " +
      "FROM nation JOIN region ON n_regionkey = r_regionkey " +
      "GROUP BY r_name ORDER BY r_name"),
    // KMV sketch over distinct 3-shingle sets per lang: full replay — the
    // k-smallest selection, the sketch-only union merge, membership
    // counts, and the cross-multiplied integer bound flags are all
    // deterministic md5-prefix arithmetic, identical on both engines
    "agg_kmv" ->
      (s"WITH tok AS (SELECT lang, unnest($sh3) AS g FROM documents), " +
      // h feeds four consumers (n, sk, ix twice) and costs a 26M-row
      // unnest+md5 at 100x — inlined per reference it blew the gate's
      // 600 s budget; MATERIALIZED evaluates each shared stage once
      s"h AS MATERIALIZED (SELECT DISTINCT lang, ${hash60Wide("g")} AS hv FROM tok), " +
      "n AS MATERIALIZED (SELECT lang, count(*) AS n_d FROM h GROUP BY 1), " +
      s"sk AS MATERIALIZED (SELECT lang, hv FROM (SELECT lang, hv, row_number() OVER (PARTITION BY lang ORDER BY hv) AS rn FROM h) WHERE rn <= ${Aggregates.KmvK}), " +
      "lp AS (SELECT a.lang AS lang_a, b.lang AS lang_b FROM n a JOIN n b ON a.lang < b.lang), " +
      "mh AS (SELECT DISTINCT lang_a, lang_b, hv FROM (SELECT lp.lang_a, lp.lang_b, sk.hv FROM lp JOIN sk ON sk.lang = lp.lang_a UNION ALL SELECT lp.lang_a, lp.lang_b, sk.hv FROM lp JOIN sk ON sk.lang = lp.lang_b)), " +
      s"us AS (SELECT lang_a, lang_b, hv FROM (SELECT *, row_number() OVER (PARTITION BY lang_a, lang_b ORDER BY hv) AS rn FROM mh) WHERE rn <= ${Aggregates.KmvK}), " +
      "ua AS (SELECT lang_a, lang_b, CAST(count(*) AS INT) AS kk, max(hv) AS h_k FROM us GROUP BY 1, 2), " +
      "nc AS (SELECT us.lang_a, us.lang_b, count(*) AS n_common FROM us JOIN sk a ON a.lang = us.lang_a AND a.hv = us.hv JOIN sk b ON b.lang = us.lang_b AND b.hv = us.hv GROUP BY 1, 2), " +
      "ix AS MATERIALIZED (SELECT a.lang AS lang_a, b.lang AS lang_b, count(*) AS n_i FROM h a JOIN h b ON a.hv = b.hv AND a.lang < b.lang GROUP BY 1, 2), " +
      "f AS (SELECT lp.lang_a, lp.lang_b, na.n_d AS n_a, nb.n_d AS n_b, COALESCE(ix.n_i, 0) AS n_inter, na.n_d + nb.n_d - COALESCE(ix.n_i, 0) AS n_union, ua.kk, ua.h_k, COALESCE(nc.n_common, 0) AS n_common " +
      "FROM lp JOIN n na ON na.lang = lp.lang_a JOIN n nb ON nb.lang = lp.lang_b " +
      "JOIN ua ON ua.lang_a = lp.lang_a AND ua.lang_b = lp.lang_b " +
      "LEFT JOIN ix ON ix.lang_a = lp.lang_a AND ix.lang_b = lp.lang_b " +
      "LEFT JOIN nc ON nc.lang_a = lp.lang_a AND nc.lang_b = lp.lang_b) " +
      "SELECT lang_a, lang_b, n_a, n_b, n_inter, n_union, kk, h_k, n_common, " +
      s"CASE WHEN kk < ${Aggregates.KmvK} THEN CASE WHEN kk = n_union THEN 1 ELSE 0 END " +
      s"WHEN CAST(n_union AS DECIMAL(38,0)) * h_k * ${100 - Aggregates.KmvDistinctPct} <= CAST('${Aggregates.KmvSpaceK1}' AS DECIMAL(38,0)) " +
      s"AND CAST('${Aggregates.KmvSpaceK1}' AS DECIMAL(38,0)) <= CAST(n_union AS DECIMAL(38,0)) * h_k * ${100 + Aggregates.KmvDistinctPct} THEN 1 ELSE 0 END AS est_ok, " +
      s"CASE WHEN abs(n_common * 100 * n_union - kk * CAST(100 AS BIGINT) * n_inter) <= ${Aggregates.KmvJaccardPct} * kk * n_union THEN 1 ELSE 0 END AS jac_ok " +
      "FROM f ORDER BY lang_a, lang_b"),
    "setop_union" ->
      "SELECT user_id FROM events WHERE event_type = 'click' UNION SELECT user_id FROM events WHERE event_type = 'view' ORDER BY user_id",
    // day grain, not user grain: every user does every event type, so the
    // user-level EXCEPT is empty and the gate would be vacuous (round-6)
    "setop_except" ->
      ("SELECT user_id, day FROM (SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day FROM events WHERE event_type = 'click' " +
      "EXCEPT SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day FROM events WHERE event_type = 'purchase') ORDER BY user_id, day"),
    "setop_intersect" ->
      "SELECT user_id FROM events WHERE event_type = 'click' INTERSECT SELECT user_id FROM events WHERE event_type = 'purchase' ORDER BY user_id",
    "join_inner" ->
      "SELECT o_orderstatus, count(1) AS n_lines, CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY 1 ORDER BY 1",
    // no bloom in the oracle: the probe admits no false negatives and the
    // equi-join removes false positives, so the sketch-prefiltered plan must
    // equal the plain join exactly (see Joins.joinBloom)
    "join_bloom" ->
      "SELECT CAST(month(o_orderdate) AS INT) AS o_month, count(1) AS n_lines, CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue FROM lineitem JOIN orders ON l_orderkey = o_orderkey WHERE o_orderpriority = '1-URGENT' AND o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01' GROUP BY 1 ORDER BY 1",
    // the oracle reconstructs the same derived CDC batch and replays the
    // merge as one full-outer join — all four verdict classes (kept /
    // updated / deleted / inserted) sit in one hash (see Lakehouse.mergeUpsert)
    "merge_upsert" ->
      (s"WITH $cdcSnapshotCtes " +
      "SELECT coalesce(b.key, c.key) AS o_orderkey, coalesce(b.o_custkey, c.c_custkey) AS o_custkey, " +
      "CASE WHEN c.op IN ('U', 'I') THEN c.c_val ELSE b.val END AS o_totalprice, " +
      "CASE WHEN c.op IS NULL THEN 'kept' WHEN c.op = 'U' THEN 'updated' ELSE 'inserted' END AS src " +
      "FROM base b FULL OUTER JOIN changes c ON b.key = c.key WHERE coalesce(c.op, '') <> 'D' ORDER BY o_orderkey"),
    // diff of the SAME two snapshots merge_upsert relates (CTEs shared via
    // cdcSnapshotCtes — the apply and derive directions can't drift)
    "cdc_changefeed" ->
      (s"WITH $cdcSnapshotCtes, " +
      "merged AS (SELECT coalesce(b.key, c.key) AS key, CASE WHEN c.op IN ('U', 'I') THEN c.c_val ELSE b.val END AS val " +
      "FROM base b FULL OUTER JOIN changes c ON b.key = c.key WHERE coalesce(c.op, '') <> 'D'), " +
      "d AS (SELECT coalesce(a.key, m.key) AS o_orderkey, " +
      "CASE WHEN m.key IS NULL THEN 'delete' WHEN a.key IS NULL THEN 'insert' WHEN a.val <> m.val THEN 'update' END AS op, " +
      "a.val AS before_val, m.val AS after_val " +
      "FROM base a FULL OUTER JOIN merged m ON a.key = m.key) " +
      "SELECT o_orderkey, op, before_val, after_val FROM d WHERE op IS NOT NULL ORDER BY o_orderkey"),
    // incremental view maintenance replayed from the SAME change-batch CTE
    // (before/after images) — delta aggregation over changes only, old view
    // recomputed as the stored-MV stand-in, refresh = old + delta
    "matview_delta" ->
      (s"WITH $cdcSnapshotCtes, " +
      "mv AS (SELECT o_custkey, sum(CAST(val AS DECIMAL(18,2))) AS old_sum, count(1) AS old_n FROM base GROUP BY 1), " +
      "d AS (SELECT c_custkey AS o_custkey, " +
      "sum(coalesce(CAST(after_val AS DECIMAL(18,2)), CAST(0 AS DECIMAL(18,2))) - coalesce(CAST(before_val AS DECIMAL(18,2)), CAST(0 AS DECIMAL(18,2)))) AS delta_sum, " +
      "CAST(sum(CASE op WHEN 'I' THEN 1 WHEN 'D' THEN -1 ELSE 0 END) AS BIGINT) AS delta_n FROM changes GROUP BY 1) " +
      "SELECT d.o_custkey, CAST(coalesce(mv.old_sum, 0) AS DOUBLE) AS old_sum, coalesce(mv.old_n, 0) AS old_n, " +
      "CAST(d.delta_sum AS DOUBLE) AS delta_sum, d.delta_n, " +
      "CAST(coalesce(mv.old_sum, 0) + d.delta_sum AS DOUBLE) AS new_sum, CAST(coalesce(mv.old_n, 0) + d.delta_n AS BIGINT) AS new_n " +
      "FROM d LEFT JOIN mv ON d.o_custkey = mv.o_custkey ORDER BY d.o_custkey"),
    // M9's streaming twin: the delta half of matview_delta's journal from
    // the SAME shared change-batch CTE — one fixture, three CDC gates + twin
    "stream_matview" ->
      (s"WITH $cdcSnapshotCtes " +
      "SELECT c_custkey AS o_custkey, " +
      "CAST(sum(coalesce(CAST(after_val AS DECIMAL(18,2)), CAST(0 AS DECIMAL(18,2))) - coalesce(CAST(before_val AS DECIMAL(18,2)), CAST(0 AS DECIMAL(18,2)))) AS DOUBLE) AS delta_sum, " +
      "CAST(sum(CASE op WHEN 'I' THEN 1 WHEN 'D' THEN -1 ELSE 0 END) AS BIGINT) AS delta_n " +
      "FROM changes GROUP BY 1 ORDER BY 1"),
    // the interleave expression text is single-sourced from
    // Lakehouse.zInterleaveSql (both engines parse the same `>> & <<`
    // arithmetic); min/max of the RAW dims pins the region geometry
    "layout_zorder" ->
      (s"WITH p AS (SELECT o_custkey, CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS INT) AS day_nr FROM orders), " +
      s"z AS (SELECT o_custkey, day_nr, ${Lakehouse.zInterleaveSql(s"o_custkey & ${(1 << Lakehouse.ZBits) - 1}", s"day_nr & ${(1 << Lakehouse.ZBits) - 1}")} AS zkey FROM p) " +
      s"SELECT CAST(zkey >> ${Lakehouse.ZShift} AS INT) AS z_region, count(1) AS n_rows, min(o_custkey) AS min_cust, max(o_custkey) AS max_cust, min(day_nr) AS min_day, max(day_nr) AS max_day FROM z GROUP BY 1 ORDER BY 1"),
    // layout_hilbert: the oracle replays the full 16-level encode through the
    // SAME per-level fragments Spark executes (Lakehouse.hilbertLevelSql)
    "layout_hilbert" ->
      (s"WITH p AS (SELECT o_custkey, CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS INT) AS day_nr FROM orders), " +
      s"prep AS (SELECT o_custkey, day_nr, CAST(o_custkey & ${(1L << Lakehouse.HBits) - 1} AS BIGINT) AS hx${Lakehouse.HBits}, " +
      s"CAST(day_nr & ${(1L << Lakehouse.HBits) - 1} AS BIGINT) AS hy${Lakehouse.HBits}, CAST(0 AS BIGINT) AS hd${Lakehouse.HBits} FROM p), " +
      s"${Lakehouse.hilbertCtesSql} " +
      s"SELECT CAST(hd0 >> ${Lakehouse.HShift} AS INT) AS h_region, count(1) AS n_rows, min(o_custkey) AS min_cust, max(o_custkey) AS max_cust, min(day_nr) AS min_day, max(day_nr) AS max_day FROM l0 GROUP BY 1 ORDER BY 1"),
    // zonemap_skip: skip_safe is the gated-flag law (oracle emits literal 1 —
    // a pruning rule that skips a file holding a match breaks the hash)
    "zonemap_skip" ->
      (s"WITH p AS (SELECT o_custkey, CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS INT) AS day_nr FROM orders), " +
      s"prep AS (SELECT o_custkey, day_nr, CAST(o_custkey & ${(1L << Lakehouse.HBits) - 1} AS BIGINT) AS hx${Lakehouse.HBits}, " +
      s"CAST(day_nr & ${(1L << Lakehouse.HBits) - 1} AS BIGINT) AS hy${Lakehouse.HBits}, CAST(0 AS BIGINT) AS hd${Lakehouse.HBits} FROM p), " +
      s"${Lakehouse.hilbertCtesSql}, " +
      s"f AS (SELECT CAST(hd0 >> ${Lakehouse.HShift} AS INT) AS file_id, count(1) AS n_rows, " +
      "min(o_custkey) AS min_cust, max(o_custkey) AS max_cust, min(day_nr) AS min_day, max(day_nr) AS max_day, " +
      s"CAST(sum(CASE WHEN o_custkey BETWEEN ${Lakehouse.ZmCustLo} AND ${Lakehouse.ZmCustHi} " +
      s"AND day_nr BETWEEN ${Lakehouse.ZmDayLo} AND ${Lakehouse.ZmDayHi} THEN 1 ELSE 0 END) AS BIGINT) AS n_match FROM l0 GROUP BY 1) " +
      s"SELECT file_id, n_rows, min_cust, max_cust, min_day, max_day, " +
      s"CASE WHEN min_cust <= ${Lakehouse.ZmCustHi} AND max_cust >= ${Lakehouse.ZmCustLo} " +
      s"AND min_day <= ${Lakehouse.ZmDayHi} AND max_day >= ${Lakehouse.ZmDayLo} THEN 1 ELSE 0 END AS scanned, " +
      "n_match, 1 AS skip_safe FROM f ORDER BY file_id"),
    // laws-as-columns gate: the oracle's flags are literal 1s over the
    // EXACT counts; the Spark side computes them from the sketches — a CMS
    // underestimate / merge drift / bound blowout flips a flag and breaks
    // the hash (estimate values themselves are engine-specific → spec'd,
    // not gated; see Aggregates.aggCountmin)
    "agg_countmin" ->
      (s"WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents) " +
      s"SELECT token, count(1) AS exact_n, 1 AS over_ok, 1 AS merge_ok, 1 AS bound_ok FROM tok " +
      s"WHERE token IN ${TextOps.lexicon.map(t => s"'$t'").mkString("(", ", ", ")")} GROUP BY 1 ORDER BY token"),
    // the full histogram-quantile construction (cent binning, per-segment
    // summaries, counter merge, cumulative selection, error vs exact) is
    // mirrored arithmetic — the hash checks the CONSTRUCTION, not a flag
    "agg_quantile_merge" ->
      ("WITH x AS (SELECT l_returnflag AS seg, CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS c FROM lineitem), " +
      "mm AS (SELECT min(c) AS lo, max(c) AS hi, count(1) AS n_total FROM x), " +
      "b AS (SELECT seg, CAST(floor((c - lo) * 256 / (hi - lo + 1)) AS INT) AS bin FROM x CROSS JOIN mm), " +
      "ps AS (SELECT seg, bin, count(1) AS cnt FROM b GROUP BY 1, 2), " +
      "mg AS (SELECT bin, sum(cnt) AS cnt FROM ps GROUP BY 1), " +
      "dr AS (SELECT bin, count(1) AS cnt FROM b GROUP BY 1), " +
      "mgc AS (SELECT bin, sum(cnt) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM mg), " +
      "drc AS (SELECT bin, sum(cnt) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM dr), " +
      "sm AS (SELECT min(CASE WHEN cum >= CAST(0.5 AS DOUBLE) * n_total THEN bin END) AS bm_50, min(CASE WHEN cum >= CAST(0.9 AS DOUBLE) * n_total THEN bin END) AS bm_90, min(CASE WHEN cum >= CAST(0.99 AS DOUBLE) * n_total THEN bin END) AS bm_99 FROM mgc CROSS JOIN mm), " +
      "sd AS (SELECT min(CASE WHEN cum >= CAST(0.5 AS DOUBLE) * n_total THEN bin END) AS bd_50, min(CASE WHEN cum >= CAST(0.9 AS DOUBLE) * n_total THEN bin END) AS bd_90, min(CASE WHEN cum >= CAST(0.99 AS DOUBLE) * n_total THEN bin END) AS bd_99 FROM drc CROSS JOIN mm), " +
      "ex AS (SELECT quantile_cont(c, 0.5) AS ex_50, quantile_cont(c, 0.9) AS ex_90, quantile_cont(c, 0.99) AS ex_99 FROM x), " +
      "ww AS (SELECT lo, (hi - lo + 1) / 256 AS w FROM mm), " +
      "u AS (SELECT CAST(0.5 AS DOUBLE) AS q, bm_50 AS bin, bd_50 AS bin_direct, ex_50 AS exc FROM sm, sd, ex " +
      "UNION ALL SELECT CAST(0.9 AS DOUBLE), bm_90, bd_90, ex_90 FROM sm, sd, ex " +
      "UNION ALL SELECT CAST(0.99 AS DOUBLE), bm_99, bd_99, ex_99 FROM sm, sd, ex) " +
      "SELECT q, bin, round((lo + bin * w) / 100, 4) AS approx_q, round(exc / 100, 4) AS exact_q, " +
      "round((lo + bin * w) / 100 - exc / 100, 4) AS err, CASE WHEN bin = bin_direct THEN 1 ELSE 0 END AS merge_ok " +
      "FROM u CROSS JOIN ww ORDER BY q"),
    // moment CTE chain mirrors Aggregates.abTtest term-for-term, so the
    // doubles are bit-identical before the terminal rounding
    "ab_ttest" ->
      ("WITH e AS (SELECT event_type, CAST(user_id % 2 AS INT) AS variant, CAST(CAST(value AS DECIMAL(12,2)) * 100 AS DECIMAL(38,0)) AS c FROM events), " +
      "g AS (SELECT event_type, count(1) FILTER (WHERE variant = 0) AS n0, count(1) FILTER (WHERE variant = 1) AS n1, " +
      "CAST(sum(c) FILTER (WHERE variant = 0) AS DOUBLE) AS s1_0, CAST(sum(CAST(c * c AS DECIMAL(38,0))) FILTER (WHERE variant = 0) AS DOUBLE) AS s2_0, " +
      "CAST(sum(c) FILTER (WHERE variant = 1) AS DOUBLE) AS s1_1, CAST(sum(CAST(c * c AS DECIMAL(38,0))) FILTER (WHERE variant = 1) AS DOUBLE) AS s2_1 FROM e GROUP BY 1), " +
      "m AS (SELECT *, s1_0 / n0 AS mu0, s1_1 / n1 AS mu1 FROM g), " +
      "v AS (SELECT *, (s2_0 / n0 - mu0 * mu0) * n0 / (n0 - 1) AS v0, (s2_1 / n1 - mu1 * mu1) * n1 / (n1 - 1) AS v1 FROM m), " +
      "se AS (SELECT *, v0 / n0 AS se0, v1 / n1 AS se1, v0 / n0 + v1 / n1 AS se2 FROM v) " +
      "SELECT event_type, n0, n1, round(mu0 / 100, 4) AS mean_a, round(mu1 / 100, 4) AS mean_b, " +
      "round((mu1 - mu0) / sqrt(se2), 6) AS t_stat, " +
      "round(se2 * se2 / (se0 * se0 / (n0 - 1) + se1 * se1 / (n1 - 1)), 6) AS welch_df " +
      "FROM se ORDER BY event_type"),
    // identity content + literal-TRUE law flags (the countmin pattern):
    // a compaction that drops/duplicates rows or mis-sizes files fails the hash
    "compact_files" ->
      (s"SELECT doc_id, lang, source, n_chars, " +
      s"CAST(LEAST((SELECT count(1) FROM documents), ${Lakehouse.CompactSmallFiles}) AS INT) AS files_before, " +
      "TRUE AS compact_ok FROM documents ORDER BY doc_id"),
    // last-writer-wins compaction ≡ window top-1 by the LSN ordinal
    "stream_upsert" ->
      ("WITH r AS (SELECT user_id, event_id, value, " +
      "row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM events) " +
      "SELECT user_id, event_id AS last_seq, value FROM r WHERE rn = 1 ORDER BY user_id"),
    // integer micros x integer cents per term, DECIMAL(38,0) sums, one
    // terminal division — the held-interval weighting mirrored verbatim
    "event_twap" ->
      ("WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day, CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents FROM events), " +
      "l AS (SELECT *, epoch_us(lead(ts) OVER (PARTITION BY user_id, day ORDER BY ts, event_id)) - epoch_us(ts) AS dt_us FROM e), " +
      "g AS (SELECT user_id, day, count(1) AS n_held, sum(CAST(cents * dt_us AS DECIMAL(38,0))) AS num, sum(CAST(dt_us AS DECIMAL(38,0))) AS den FROM l WHERE dt_us IS NOT NULL GROUP BY 1, 2) " +
      "SELECT user_id, day, n_held, round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 100, 6) AS twap " +
      "FROM g WHERE den > 0 ORDER BY user_id, day"),
    // interval-overlap join: session CTEs shared with window_sessionid via
    // sessionIdCtes; inclusive-ends overlap rule mirrored verbatim
    "join_interval" ->
      (s"WITH $sessionIdCtes, " +
      "sess AS (SELECT user_id, sid, min(ts) AS s_start, max(ts) AS s_end FROM sa GROUP BY 1, 2), " +
      "inc AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS i_start, CAST(ts AS TIMESTAMP) + INTERVAL 30 MINUTE AS i_end FROM events WHERE event_type = 'error') " +
      "SELECT s.user_id, CAST(s.sid AS INT) AS sid, epoch_us(s.s_start) AS s_start_us, epoch_us(s.s_end) AS s_end_us, " +
      "count(i.i_start) AS n_incidents " +
      "FROM sess s LEFT JOIN inc i ON s.user_id = i.user_id AND s.s_start <= i.i_end AND i.i_start <= s.s_end " +
      "GROUP BY 1, 2, 3, 4 ORDER BY s.user_id, sid"),
    // integer-cents medians are dyadic-exact, so the flagged row set (not
    // just a rounded score) hash-matches — see EventOps.anomalyMad
    "anomaly_mad" ->
      ("WITH c AS (SELECT event_type, event_id, value, CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS x FROM events), " +
      "m AS (SELECT event_type, median(x) AS med FROM c GROUP BY 1), " +
      "j AS (SELECT c.event_type, event_id, value, x, med, abs(x - med) AS adev FROM c JOIN m USING (event_type)), " +
      "m2 AS (SELECT event_type, median(adev) AS mad FROM j GROUP BY 1) " +
      "SELECT j.event_type, event_id, value, round(med / 100, 2) AS med_val, round(mad / 100, 2) AS mad_val, " +
      "round(adev / (1.4826 * mad), 4) AS robust_z " +
      "FROM j JOIN m2 USING (event_type) WHERE adev > 3 * 1.4826 * mad ORDER BY event_type, event_id"),
    "resample_ffill" ->
      ("WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day FROM events), " +
      "d AS (SELECT user_id, day, value AS close_value, n_obs FROM (SELECT user_id, day, value, row_number() OVER (PARTITION BY user_id, day ORDER BY ts DESC, event_id DESC) AS rn, count(1) OVER (PARTITION BY user_id, day) AS n_obs FROM e) WHERE rn = 1), " +
      "sp AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM e GROUP BY 1), " +
      "g AS (SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM sp), " +
      "j AS (SELECT g.user_id, g.day, d.close_value, coalesce(d.n_obs, 0) AS n_obs, CASE WHEN d.n_obs IS NULL THEN 0 ELSE 1 END AS is_observed FROM g LEFT JOIN d ON g.user_id = d.user_id AND g.day = d.day) " +
      "SELECT user_id, day, n_obs, is_observed, last_value(close_value IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close_ff FROM j ORDER BY user_id, day"),
    // integer-mass PageRank: the recursive CTE replays the IDENTICAL
    // 15-step trajectory (floors provably engine-exact — GraphOps.PrMass0),
    // so the full fixed point is hash-gated, not just one step
    "graph_pagerank" ->
      (s"WITH RECURSIVE tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents), " +
      "p0 AS (SELECT ts, unnest(generate_series(1, len(ts) - 1)) AS i FROM tok WHERE len(ts) > 1), " +
      "pairs AS (SELECT DISTINCT ts[i] AS src, ts[i+1] AS dst FROM p0), " +
      "nodes AS (SELECT DISTINCT unnest(ts) AS token FROM tok), " +
      "deg AS (SELECT src, count(1) AS outdeg FROM pairs GROUP BY 1), " +
      "eplus AS (SELECT src, dst, 1 AS w FROM pairs UNION ALL SELECT token, token, 0 FROM nodes), " +
      s"pr AS (SELECT token, CAST(${GraphOps.PrMass0} AS BIGINT) AS mass, 0 AS iter FROM nodes " +
      "UNION ALL SELECT e.dst AS token, " +
      s"CAST(${GraphOps.PrBase} + floor(sum(CAST(floor(p.mass / coalesce(d.outdeg, 1)) AS BIGINT) * e.w) * 85 / 100) AS BIGINT) AS mass, " +
      "min(p.iter) + 1 AS iter FROM pr p JOIN eplus e ON e.src = p.token LEFT JOIN deg d ON d.src = p.token " +
      s"WHERE p.iter < ${GraphOps.PrIters} GROUP BY e.dst) " +
      s"SELECT token, mass, CAST(rank() OVER (ORDER BY mass DESC, token) AS INT) AS rnk FROM pr WHERE iter = ${GraphOps.PrIters} ORDER BY mass DESC, token"),
    // the recursive member explores every ≤k-hop path; min(dist) over the
    // deduped (token, dist) set equals BFS first-reach depth — integer
    // distances, so the whole bounded trajectory is hash-gated
    "graph_bfs" ->
      ("WITH RECURSIVE tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents), " +
      "p0 AS (SELECT ts, unnest(generate_series(1, len(ts) - 1)) AS i FROM tok WHERE len(ts) > 1), " +
      "pairs AS (SELECT DISTINCT ts[i] AS src, ts[i+1] AS dst FROM p0), " +
      "nodes AS (SELECT src AS token FROM pairs UNION SELECT dst FROM pairs), " +
      s"seeds AS (SELECT token FROM nodes WHERE token IN ${TextOps.lexicon.map(t => s"'$t'").mkString("(", ", ", ")")}), " +
      "r AS (SELECT token, 0 AS dist FROM seeds " +
      "UNION SELECT p.dst, r.dist + 1 FROM r JOIN pairs p ON p.src = r.token " +
      s"WHERE r.dist < ${GraphOps.BfsMaxHops}) " +
      "SELECT token, CAST(min(dist) AS INT) AS dist FROM r GROUP BY token ORDER BY token"),
    // graph_triangles: the oracle replays the same degree-ordered DAG — each
    // triangle closes exactly once at its lowest-(deg, token) corner
    "graph_triangles" ->
      ("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents), " +
      "p0 AS (SELECT ts, unnest(generate_series(1, len(ts) - 1)) AS i FROM tok WHERE len(ts) > 1), " +
      "pairs AS (SELECT DISTINCT ts[i] AS src, ts[i+1] AS dst FROM p0), " +
      "und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM pairs WHERE src <> dst), " +
      "deg AS (SELECT node, count(1) AS deg FROM (SELECT a AS node FROM und UNION ALL SELECT b FROM und) GROUP BY 1), " +
      "d AS (SELECT CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.a ELSE u.b END AS u, " +
      "CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.b ELSE u.a END AS v, " +
      "CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN db.deg ELSE da.deg END AS dv " +
      "FROM und u JOIN deg da ON da.node = u.a JOIN deg db ON db.node = u.b), " +
      "tri AS (SELECT e1.u, e1.v, e2.v AS w FROM d e1 JOIN d e2 ON e1.u = e2.u AND (e1.dv, e1.v) < (e2.dv, e2.v) " +
      "JOIN d e3 ON e3.u = e1.v AND e3.v = e2.v) " +
      "SELECT token, count(1) AS n_tri FROM (SELECT unnest([u, v, w]) AS token FROM tri) GROUP BY token ORDER BY token"),
    // FastSS deletion-neighborhood replay (round 15, VERDICT #3): the
    // oracle runs the SAME three equi-join blocking routes as the engine
    // — linear like the engine, so the 10x/100x scale gates can run it
    // (the old brute-force all-pairs oracle was quadratic and forced the
    // last excluded_manual). The recall-1.0 proof against brute force is
    // retired to JoinsWindowsSpec (driver-side all-pairs on the fixture)
    // plus LawsCheck's class-completeness property on random universes.
    // zero-length names excluded on BOTH sides (round-15 ADVICE): the
    // engine's sequence(1, length) would emit variants for them while
    // generate_series(1, 0) yields none — see Joins.joinFuzzy
    "join_fuzzy" ->
      ("WITH c AS (SELECT c_custkey AS key, c_name AS name FROM customer WHERE length(c_name) > 0), " +
      "e AS MATERIALIZED (SELECT key, name, unnest(generate_series(1, length(name))) AS i FROM c), " +
      "w AS MATERIALIZED (SELECT key, name, i, substr(name, 1, i - 1) || substr(name, i + 1) AS v FROM e), " +
      "subs AS (SELECT a.key AS key_a, b.key AS key_b, a.name AS name_a, b.name AS name_b FROM w a JOIN w b ON a.i = b.i AND a.v = b.v AND a.key < b.key), " +
      "dels AS (SELECT a.key AS key_a, b.key AS key_b, a.name AS name_a, b.name AS name_b FROM c a JOIN w b ON a.name = b.v AND a.key < b.key), " +
      "inss AS (SELECT a.key AS key_a, b.key AS key_b, a.name AS name_a, b.name AS name_b FROM w a JOIN c b ON a.v = b.name AND a.key < b.key), " +
      "u AS (SELECT key_a, key_b, name_a, name_b FROM subs UNION ALL SELECT key_a, key_b, name_a, name_b FROM dels UNION ALL SELECT key_a, key_b, name_a, name_b FROM inss) " +
      "SELECT DISTINCT key_a, key_b, name_a, name_b, CAST(levenshtein(name_a, name_b) AS INT) AS dist " +
      "FROM u WHERE levenshtein(name_a, name_b) <= 1 ORDER BY key_a, key_b"),
    "unpivot_long" ->
      ("WITH x AS (SELECT l_orderkey, l_quantity, l_extendedprice, l_discount, l_tax FROM lineitem WHERE l_linenumber = 1) " +
      "SELECT l_orderkey, 'l_quantity' AS measure, l_quantity AS value FROM x " +
      "UNION ALL SELECT l_orderkey, 'l_extendedprice', l_extendedprice FROM x " +
      "UNION ALL SELECT l_orderkey, 'l_discount', l_discount FROM x " +
      "UNION ALL SELECT l_orderkey, 'l_tax', l_tax FROM x ORDER BY l_orderkey, measure, value"),
    "trend_period" ->
      ("WITH d AS (SELECT date_trunc('day', o_orderdate) AS day, CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue, count(1) AS n_orders FROM orders GROUP BY 1), " +
      "t AS (SELECT day, revenue, n_orders, lag(revenue, 1) OVER (ORDER BY day) AS prev_d, lag(revenue, 7) OVER (ORDER BY day) AS prev_w FROM d) " +
      "SELECT day, revenue, n_orders, round((revenue - prev_d) / prev_d * 100, 4) AS dod_pct, round((revenue - prev_w) / prev_w * 100, 4) AS wow_pct FROM t ORDER BY day"),
    "attribution_lasttouch" ->
      ("WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events), " +
      "a AS (SELECT user_id, event_id, ts, event_type, " +
      "last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS) OVER w AS click_id, " +
      "last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS) OVER w AS click_ts " +
      "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
      "SELECT event_id, user_id, ts, click_id, epoch_us(click_ts) AS click_us, epoch_us(ts) - epoch_us(click_ts) AS gap_us FROM a WHERE event_type = 'purchase' ORDER BY event_id"),
    // the fixture exercises BOTH verdicts: integrity checks hold by
    // construction, the tight quantity rule fails at every SF (non-vacuity)
    "dq_checks" ->
      ("WITH o AS (SELECT CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_notnull, CAST(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END) AS BIGINT) AS v_accepted FROM orders), " +
      "l AS (SELECT CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS v_range, CAST(sum(CASE WHEN l_quantity > 40 THEN 1 ELSE 0 END) AS BIGINT) AS v_tight FROM lineitem), " +
      "uq AS (SELECT count(*) AS v FROM (SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(1) > 1)), " +
      "fk AS (SELECT count(*) AS v FROM orders WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)), " +
      "u AS (SELECT 'not_null:o_custkey' AS check_name, 'orders' AS table_name, v_notnull AS violations FROM o " +
      "UNION ALL SELECT 'accepted:o_orderstatus', 'orders', v_accepted FROM o " +
      "UNION ALL SELECT 'range:l_discount', 'lineitem', v_range FROM l " +
      "UNION ALL SELECT 'range:l_quantity_le_40', 'lineitem', v_tight FROM l " +
      "UNION ALL SELECT 'unique:o_orderkey', 'orders', v FROM uq " +
      "UNION ALL SELECT 'fk:o_custkey', 'orders', v FROM fk) " +
      "SELECT check_name, table_name, violations, CASE WHEN violations = 0 THEN 1 ELSE 0 END AS pass FROM u ORDER BY check_name"),
    "scd2_intervals" ->
      ("WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type AS state FROM events), " +
      "b AS (SELECT user_id, event_id, ts, state, CASE WHEN lag(state, 1) OVER w IS NULL OR state <> lag(state, 1) OVER w THEN 1 ELSE 0 END AS brk FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
      "i AS (SELECT user_id, event_id, ts, state, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM b), " +
      "g AS (SELECT user_id, island, min(state) AS state, min(ts) AS effective_from, count(1) AS n_events FROM i GROUP BY 1, 2) " +
      "SELECT user_id, CAST(island AS INT) AS version, state, effective_from, epoch_us(lead(effective_from, 1) OVER (PARTITION BY user_id ORDER BY island)) AS effective_to_us, n_events, CASE WHEN lead(effective_from, 1) OVER (PARTITION BY user_id ORDER BY island) IS NULL THEN 1 ELSE 0 END AS is_current FROM g ORDER BY user_id, version"),
    "join_star" ->
      "SELECT r_name, CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue, count(1) AS n_orders FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey GROUP BY 1 ORDER BY 1",
    // orders restricted to 1995 so the complement is non-empty at every SF
    // (the unfiltered anti-join matches zero customers — vacuous, round-6)
    "join_anti" ->
      ("SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
      "AND o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01') ORDER BY c_custkey"),
    "join_semi" ->
      "SELECT c_custkey, c_name FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY c_custkey",
    "join_outer" ->
      "SELECT c_custkey, count(o_orderkey) AS n_orders, coalesce(CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE), 0.0) AS sum_total FROM customer LEFT JOIN orders ON c_custkey = o_custkey GROUP BY 1 ORDER BY 1",
    "join_asof" ->
      "WITH o AS (SELECT o_custkey AS key, CAST(o_orderdate AS TIMESTAMP) AS t, max(o_orderkey) AS last_orderkey FROM orders GROUP BY 1, 2) SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts, o.t AS last_order_date, o.last_orderkey FROM events e ASOF LEFT JOIN o ON e.user_id = o.key AND CAST(e.ts AS TIMESTAMP) >= o.t ORDER BY e.event_id",
    // identical semantics to join_asof — the salted plan must reproduce the
    // same native ASOF JOIN result
    "join_asof_salted" ->
      "WITH o AS (SELECT o_custkey AS key, CAST(o_orderdate AS TIMESTAMP) AS t, max(o_orderkey) AS last_orderkey FROM orders GROUP BY 1, 2) SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts, o.t AS last_order_date, o.last_orderkey FROM events e ASOF LEFT JOIN o ON e.user_id = o.key AND CAST(e.ts AS TIMESTAMP) >= o.t ORDER BY e.event_id",
    "join_salted" ->
      "SELECT o_orderstatus, count(1) AS n_lines, CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS gross FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY 1 ORDER BY 1",
    "join_range" ->
      "SELECT a.event_id, a.user_id, CAST(a.ts AS TIMESTAMP) AS ts, count(b.event_id) AS n_next_min FROM events a LEFT JOIN events b ON a.user_id = b.user_id AND CAST(b.ts AS TIMESTAMP) > CAST(a.ts AS TIMESTAMP) AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL 1 MINUTE GROUP BY 1, 2, 3 ORDER BY 1",
    "query_q3" ->
      ("SELECT l_orderkey, o_orderdate, o_orderpriority, " +
      "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue " +
      "FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey " +
      "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00' " +
      "GROUP BY 1, 2, 3 ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10"),
    "query_q5" ->
      ("SELECT n_name, " +
      "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue, " +
      "count(1) AS n_lines " +
      "FROM customer JOIN orders ON c_custkey = o_custkey " +
      "JOIN lineitem ON l_orderkey = o_orderkey " +
      "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey " +
      "JOIN nation ON s_nationkey = n_nationkey " +
      "JOIN region ON n_regionkey = r_regionkey " +
      "WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01' " +
      "GROUP BY 1 ORDER BY revenue DESC, n_name"),
    "window_rank" ->
      "SELECT s_nationkey, s_suppkey, s_name, s_acctbal, CAST(rank() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC) AS INT) AS rnk FROM supplier ORDER BY s_nationkey, rnk, s_suppkey",
    // ratio-to-report via an exact-decimal scalar total (no global window)
    "window_share" ->
      ("WITH g AS (SELECT o_orderpriority, sum(CAST(o_totalprice AS DECIMAL(12,2))) AS rev_dec, count(1) AS n_orders FROM orders GROUP BY 1), " +
      "t AS (SELECT sum(rev_dec) AS total_dec FROM g) " +
      "SELECT o_orderpriority, n_orders, CAST(round(rev_dec, 2) AS DOUBLE) AS revenue, " +
      "round(CAST(rev_dec AS DOUBLE) / CAST(total_dec AS DOUBLE), 6) AS share " +
      "FROM g CROSS JOIN t ORDER BY o_orderpriority"),
    "window_top1" ->
      "WITH r AS (SELECT user_id, event_id, value, row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn FROM events) SELECT user_id, event_id, value FROM r WHERE rn = 1 ORDER BY user_id",
    "window_running" ->
      "SELECT o_custkey, o_orderkey, o_orderdate, round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total, round(o_totalprice - coalesce(lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 0), 2) AS delta_prev FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey",
    "topk" ->
      "SELECT o_custkey, CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue FROM orders GROUP BY 1 ORDER BY revenue DESC, o_custkey LIMIT 10",
    // the window ORDER BY carries a full tiebreak (s_suppkey), so
    // percent_rank/cume_dist are single IEEE divisions of identical
    // integers in both engines — emitted unrounded (see Windows.windowNtile)
    "window_ntile" ->
      ("SELECT s_nationkey, s_suppkey, s_acctbal, " +
      "CAST(ntile(4) OVER w AS INT) AS quartile, percent_rank() OVER w AS pct_rank, cume_dist() OVER w AS cdist " +
      "FROM supplier WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey) " +
      "ORDER BY s_nationkey, s_suppkey"),
    // RANGE frame: peers of the frame edge are all included, so the
    // result is deterministic under totalprice ties without a tiebreak
    "window_range" ->
      ("SELECT o_custkey, o_orderkey, o_totalprice, " +
      "count(1) OVER w AS n_near, " +
      "CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER w, 2) AS DOUBLE) AS near_total " +
      "FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice RANGE BETWEEN 500 PRECEDING AND CURRENT ROW) " +
      "ORDER BY o_custkey, o_totalprice, o_orderkey"),
    // cents + two pinned IEEE divisions, no rounding — round(double, 2)
    // diverges at the .xx5 boundary between the engines
    "window_moving" ->
      ("SELECT o_custkey, o_orderkey, o_orderdate, " +
      "(CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) OVER w AS DOUBLE) / count(1) OVER w) / 100 AS trailing_avg, " +
      "count(1) OVER w AS n_window " +
      "FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) " +
      "ORDER BY o_custkey, o_orderdate, o_orderkey"),
    // window_ewma: the [0e0] prepend aligns list_reduce's first-element init
    // with Spark aggregate's explicit zero — both engines run the identical
    // exact-dyadic fold sequence (see Windows.windowEwma). 0e0/1e0 are DOUBLE
    // literals: a bare `1.0` is DECIMAL(2,1) in DuckDB and silently runs the
    // whole fold in scale-1 decimal (measured: den 1.8 instead of 1.75).
    "window_ewma" ->
      ("WITH f AS (SELECT o_custkey, o_orderkey, o_orderdate, " +
      "list(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS DOUBLE)) OVER w AS frame " +
      "FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
      s"ROWS BETWEEN ${graft.operators.Windows.EwmaFrame - 1} PRECEDING AND CURRENT ROW)) " +
      "SELECT o_custkey, o_orderkey, o_orderdate, " +
      "list_reduce([0e0] || frame, (acc, x) -> acc / 2 + x) " +
      "/ list_reduce([0e0] || list_transform(frame, x -> 1e0), (acc, x) -> acc / 2 + x) " +
      "/ 100 AS ewma " +
      "FROM f ORDER BY o_custkey, o_orderdate, o_orderkey"),
    "stream_tumbling" ->
      "SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start, event_type, count(1) AS n, CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value FROM events GROUP BY 1, 2 ORDER BY 1, 2",
    "stream_sliding" ->
      "SELECT ws AS window_start, count(1) AS n, CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value FROM (SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP)) - j * INTERVAL '15 minutes' AS ws, value FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j)) GROUP BY 1 ORDER BY 1",
    "stream_session" ->
      s"WITH $sessionIdCtes SELECT min(ts) AS session_start, user_id, count(1) AS n_events, CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value FROM sa GROUP BY user_id, sid ORDER BY user_id, session_start",
    // J4 watermark replay: micro-batch = event_id div 1000, 'error' rows
    // delivered one batch late; drop when window end <= prefix-max(prior
    // batch event time) - 6h — the Structured Streaming rule verbatim
    "stream_watermark" ->
      ("WITH b AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value, " +
      "event_id // 1000 + CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS bat FROM events), " +
      "bmax AS (SELECT bat, max(ts) AS mx FROM b GROUP BY bat), " +
      "wm AS (SELECT bat, max(mx) OVER (ORDER BY bat ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - INTERVAL '6 hours' AS wmark FROM bmax) " +
      "SELECT time_bucket(INTERVAL '1 hour', b.ts) AS window_start, b.event_type, count(1) AS n, " +
      "CAST(round(sum(CAST(b.value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value " +
      "FROM b JOIN wm USING (bat) " +
      "WHERE wmark IS NULL OR time_bucket(INTERVAL '1 hour', b.ts) + INTERVAL '1 hour' > wmark " +
      "GROUP BY 1, 2 ORDER BY 1, 2"),
    "window_sessionid" ->
      s"WITH $sessionIdCtes SELECT user_id, event_id, ts, CAST(sid AS INT) AS sid FROM sa ORDER BY user_id, ts, event_id",
    "dedup_state" ->
      "WITH r AS (SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts, row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn FROM events) SELECT user_id, event_type, event_id, ts FROM r WHERE rn = 1 ORDER BY user_id, event_type",
    "dedup_ttl" ->
      ("WITH e AS (SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events), " +
      "b AS (SELECT user_id, event_type, event_id, ts, CASE WHEN lag(us, 1) OVER w IS NULL OR us - lag(us, 1) OVER w > " +
      s"${graft.operators.EventOps.DedupTtlUs} THEN 1 ELSE 0 END AS kept " +
      "FROM e WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)) " +
      "SELECT user_id, event_type, event_id, ts, CAST(sum(kept) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS burst, kept " +
      "FROM b ORDER BY user_id, event_type, ts, event_id"),
    "stream_join" ->
      "SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS ts, count(c.event_id) AS n_clicks_10m FROM events p LEFT JOIN events c ON p.user_id = c.user_id AND c.event_type = 'click' AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 10 MINUTE AND CAST(c.ts AS TIMESTAMP) < CAST(p.ts AS TIMESTAMP) WHERE p.event_type = 'purchase' GROUP BY 1, 2, 3 ORDER BY 1",
    "stream_stateful" ->
      "SELECT user_id, count(1) AS n_events, CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value, min(CAST(ts AS TIMESTAMP)) AS first_ts, max(CAST(ts AS TIMESTAMP)) AS last_ts FROM events GROUP BY 1 ORDER BY 1",
    "stream_sessionize" ->
      s"WITH $sessionIdCtes SELECT user_id, min(ts) AS session_start, max(ts) AS session_end, count(1) AS n_events, CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value FROM sa GROUP BY user_id, sid ORDER BY user_id, session_start",
    "stream_topn_state" ->
      s"SELECT user_id, CAST(rn AS INT) AS rn, event_id, value FROM (SELECT user_id, event_id, value, row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn FROM events) WHERE rn <= ${graft.streaming.StatefulOps.TopNPerUser} ORDER BY user_id, rn",
    "project_classified" ->
      "SELECT l_orderkey, l_linenumber, CAST(round(CAST(l_extendedprice AS DECIMAL(12,2)), 2) AS DOUBLE) AS money_sum, CAST(round(CAST(l_discount AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)), 2) AS DOUBLE) AS rate_sum, round(l_quantity, 2) AS qty_sum FROM lineitem ORDER BY l_orderkey, l_linenumber, money_sum, rate_sum, qty_sum",
    "rank_tokens" ->
      s"WITH c AS (SELECT unnest(list_intersect(list_distinct(string_split(text, ' ')), $lexiconSql)) AS token FROM documents), g AS (SELECT token, count(1) AS n_docs FROM c GROUP BY 1) SELECT token, n_docs, CAST(rank() OVER (ORDER BY n_docs DESC) AS INT) AS rnk FROM g ORDER BY n_docs DESC, token",
    // the oracle computes the ranking ONCE and cross-joins the three strategy
    // labels; the Spark side really runs three different plans, so the hash
    // match IS the cross-strategy equality law (see TextOps.rankStrategies).
    "rank_strategies" ->
      s"WITH c AS (SELECT unnest(list_intersect(list_distinct(string_split(text, ' ')), $lexiconSql)) AS token FROM documents), g AS (SELECT token, count(1) AS n_docs FROM c GROUP BY 1), r AS (SELECT token, n_docs, CAST(rank() OVER (ORDER BY n_docs DESC) AS INT) AS rnk FROM g), st AS (SELECT unnest(['rescan', 'index', 'onepass']) AS strategy) SELECT strategy, token, n_docs, rnk FROM st CROSS JOIN r ORDER BY strategy, n_docs DESC, token",
    "text_tfidf" ->
      "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents), tf AS (SELECT doc_id, token, count(1) AS tf FROM tok GROUP BY 1, 2), df AS (SELECT token, count(1) AS df FROM tf GROUP BY 1), n AS (SELECT count(1) AS n_docs FROM documents) SELECT tf.doc_id, tf.token, tf.tf, df.df, round(tf.tf * ln(CAST(n_docs AS DOUBLE) / df.df), 6) AS tfidf FROM tf JOIN df USING (token) CROSS JOIN n ORDER BY doc_id, token",
    "text_logprob" ->
      ("WITH lt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents), " +
      "lc AS (SELECT token, count(1) AS tf FROM lt GROUP BY 1), " +
      "ln_tot AS (SELECT sum(tf) AS n_total FROM lc) " +
      "SELECT doc_id, count(1) AS n_tokens, " +
      "round(CAST(sum(CAST(-ln(CAST(tf AS DOUBLE) / n_total) AS DECIMAL(28,18))) AS DOUBLE) / count(1), 6) AS avg_neg_logprob " +
      "FROM lt JOIN lc USING (token) CROSS JOIN ln_tot GROUP BY doc_id ORDER BY doc_id"),
    // bigram LM with stupid backoff: the SAME shingle-stream g CTE text as
    // text_ngrams/text_collocations (one bigram-count definition), ln
    // chains parenthesized identically to the Spark Column chain, per-doc
    // means through exact decimal sums
    "text_logprob2" ->
      ("WITH g AS (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(string_split(text, ' ')) - 1, 1)), i -> array_to_string((string_split(text, ' '))[i:i+1], ' '))) AS bigram FROM documents), " +
      s"b AS (SELECT bigram, count(1) AS c_xy FROM g GROUP BY 1 HAVING count(1) >= ${TextOps.BigramLmMinSupport}), " +
      "u AS (SELECT w, count(1) AS c_w FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY 1), " +
      "t AS (SELECT CAST(sum(c_w) AS BIGINT) AS n_total FROM u), " +
      "pr AS (SELECT doc_id, bigram, split_part(bigram, ' ', 1) AS x, split_part(bigram, ' ', 2) AS y FROM g WHERE len(string_split(bigram, ' ')) = 2), " +
      "sc AS (SELECT pr.doc_id, CASE WHEN b.c_xy IS NULL THEN 1 ELSE 0 END AS backoff, " +
      "CAST(CASE WHEN b.c_xy IS NOT NULL THEN ln(CAST(ux.c_w AS DOUBLE)) - ln(CAST(b.c_xy AS DOUBLE)) " +
      "ELSE ln(CAST(t.n_total AS DOUBLE)) - ln(CAST(uy.c_w AS DOUBLE)) + ln(2.5) END AS DECIMAL(28,18)) AS nlp " +
      "FROM pr LEFT JOIN b ON pr.bigram = b.bigram JOIN u ux ON pr.x = ux.w JOIN u uy ON pr.y = uy.w, t) " +
      "SELECT doc_id, count(1) AS n_bigrams, CAST(sum(backoff) AS BIGINT) AS n_backoff, " +
      "round(CAST(sum(nlp) AS DOUBLE) / count(1), 6) AS avg_neg_logprob " +
      "FROM sc GROUP BY doc_id ORDER BY doc_id"),
    "text_tokens" ->
      "SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens, CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS INT) AS n_re_tokens, CAST(length(text) AS INT) AS len_chars, CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_bpe_est FROM documents ORDER BY doc_id",
    "text_quality" ->
      s"SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens, round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')), 4) AS avg_word_len, round(CAST(len(list_filter(string_split(text, ' '), t -> t IN $stopwordsSql)) AS DOUBLE) / len(string_split(text, ' ')), 4) AS stopword_ratio, round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' ')), 4) AS ttr, ${qualityCaseSql("text")} AS quality FROM documents ORDER BY doc_id",
    "text_langid" ->
      s"WITH s AS (SELECT doc_id, lang, $langidScoreSql FROM documents) SELECT doc_id, lang, ${TextOps.langProfiles.map { case (l, _) => s"score_$l" }.mkString(", ")}, $langidPredSql AS pred_lang FROM s ORDER BY doc_id",
    "text_fingerprint" ->
      s"SELECT doc_id, substr(md5(text), 1, 16) AS fp64, list_aggregate(list_transform($sh3, x -> md5(x)), 'min') AS min_shingle_fp FROM documents ORDER BY doc_id",
    "dedup_exact" ->
      "SELECT sha256(text) AS content_hash, min(doc_id) AS keep_id, count(1) AS n_copies FROM documents GROUP BY 1 ORDER BY keep_id",
    "dedup_minhash" ->
      s"WITH $minhashCandSql, j AS (SELECT doc_a, doc_b, round(CAST(len(list_intersect(wa.hv, wb.hv)) AS DOUBLE) / len(list_distinct(list_concat(wa.hv, wb.hv))), 6) AS jaccard FROM c JOIN w wa ON c.doc_a = wa.doc_id JOIN w wb ON c.doc_b = wb.doc_id) SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= ${TextOps.MinhashTau} ORDER BY doc_a, doc_b",
    // the ingest-time twin computes the IDENTICAL pair set (the funnel /
    // anomaly twin discipline: one oracle, two implementations)
    "stream_dedup_minhash" ->
      s"WITH $minhashCandSql, j AS (SELECT doc_a, doc_b, round(CAST(len(list_intersect(wa.hv, wb.hv)) AS DOUBLE) / len(list_distinct(list_concat(wa.hv, wb.hv))), 6) AS jaccard FROM c JOIN w wa ON c.doc_a = wa.doc_id JOIN w wb ON c.doc_b = wb.doc_id) SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= ${TextOps.MinhashTau} ORDER BY doc_a, doc_b",
    "dedup_simhash" ->
      s"WITH $simhashShSql SELECT simhash, count(1) AS n_docs, min(doc_id) AS min_doc FROM sh GROUP BY 1 ORDER BY simhash",
    "dedup_simhash_pairs" -> simhashPairsSql(simhashShChain(8, 16), bits = 16, bandBits = 4),
    "dedup_simhash_wide" -> simhashPairsSql(simhashShChain(15, 60), bits = 60, bandBits = 15),
    "dedup_ngram" ->
      s"WITH $minhashCandSql, g AS (SELECT doc_id, list_distinct(list_transform($cg4, x -> ${hash60("x")})) AS cg FROM documents), j AS (SELECT doc_a, doc_b, round(CAST(len(list_intersect(ga.cg, gb.cg)) AS DOUBLE) / len(list_distinct(list_concat(ga.cg, gb.cg))), 6) AS jaccard FROM c JOIN g ga ON c.doc_a = ga.doc_id JOIN g gb ON c.doc_b = gb.doc_id) SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= ${TextOps.NgramTau} ORDER BY doc_a, doc_b",
    "dedup_embed" ->
      (s"WITH bd AS (SELECT vec_id, g.band AS band, $bandBucket AS bucket FROM embeddings, (SELECT unnest(generate_series(0, ${VectorOps.EmbedBands - 1})) AS band) g), " +
      "c AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b FROM bd a JOIN bd b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id), " +
      s"e AS (SELECT vec_id, embedding, sqrt(${sqNorm("embedding")}) AS nrm FROM embeddings), " +
      s"p AS (SELECT vec_a, vec_b, ${dotSql("ea.embedding", "eb.embedding")} / (ea.nrm * eb.nrm) AS cos FROM c JOIN e ea ON c.vec_a = ea.vec_id JOIN e eb ON c.vec_b = eb.vec_id) " +
      s"SELECT vec_a, vec_b, cos FROM p WHERE cos >= ${VectorOps.EmbedDupTau} ORDER BY vec_a, vec_b"),
    // SemDeDup verdict (adaptive since round 17 — round-16 VERDICT #1):
    // coarse centroid CTEs shared fragment-for-fragment with sim_ivf
    // (cell/comp/cent + the same argmin); the refinement exponent is the
    // same integer ladder as VectorOps.semBits (min b with
    // k0·target·2^b ≥ n, capped), the sign bucket the same masked fold as
    // the hnsw oracle, per-cell means the same cell/comp/cent discipline
    // keyed on the refined cid; cosine shared with dedup_embed; the
    // domination CASE mirrors VectorOps.dedupSemantic's keep-priority
    // (dist asc, vec_id asc) term-for-term
    "dedup_semantic" -> {
      val bkt = s"CAST(list_sum(list_transform(generate_series(1, ${VectorOps.SemMaxBits}), " +
        "i -> CASE WHEN i <= p.bits AND embedding[i] >= 0 THEN CAST(1 AS BIGINT) << (i - 1) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"
      s"WITH p AS (SELECT coalesce(min(b), ${VectorOps.SemMaxBits}) AS bits FROM (SELECT unnest(generate_series(0, ${VectorOps.SemMaxBits - 1})) AS b) bb, " +
      "(SELECT count(*) AS n FROM embeddings) t0, (SELECT count(DISTINCT label) AS k0 FROM embeddings) t1 " +
      s"WHERE (k0 * ${VectorOps.SemTargetCluster}) * (CAST(1 AS BIGINT) << b) >= n), " +
      s"cell AS (SELECT label AS c_label, g.i AS pos, CAST(CAST(embedding[g.i] AS DOUBLE) AS DECIMAL(28,20)) AS v FROM embeddings, (SELECT unnest(generate_series(1, ${VectorOps.Dim})) AS i) g), " +
      "comp AS (SELECT c_label, pos, CAST(sum(v) AS DOUBLE) / count(1) AS comp FROM cell GROUP BY 1, 2), " +
      "cent AS (SELECT c_label, list(comp ORDER BY pos) AS cvec FROM comp GROUP BY 1), " +
      s"asg AS (SELECT vec_id, embedding, c_label, row_number() OVER (PARTITION BY vec_id ORDER BY ${sqDistSql("embedding", "cvec")}, c_label) AS rn FROM embeddings, cent), " +
      s"a0 AS (SELECT vec_id, embedding, CAST(c_label AS BIGINT) * (CAST(1 AS BIGINT) << p.bits) + $bkt AS cid FROM asg, p WHERE rn = 1), " +
      s"cc AS (SELECT cid, g.i AS pos, CAST(CAST(embedding[g.i] AS DOUBLE) AS DECIMAL(28,20)) AS v FROM a0, (SELECT unnest(generate_series(1, ${VectorOps.Dim})) AS i) g), " +
      "cm AS (SELECT cid, pos, CAST(sum(v) AS DOUBLE) / count(1) AS comp FROM cc GROUP BY 1, 2), " +
      "cv AS (SELECT cid, list(comp ORDER BY pos) AS cvec FROM cm GROUP BY 1), " +
      // dist pre-rounded to the gate's 1e-6 grid BEFORE the domination
      // compare (round-17: raw-double compare is not cross-engine total
      // at the two-equal-clique midpoint tie)
      s"a AS (SELECT a0.vec_id, a0.embedding, a0.cid, round(${sqDistSql("a0.embedding", "cvec")}, 6) AS dist, sqrt(${sqNorm("a0.embedding")}) AS nrm FROM a0 JOIN cv ON a0.cid = cv.cid), " +
      "pr AS (SELECT x.vec_id, CASE WHEN y.dist < x.dist OR (y.dist = x.dist AND y.vec_id < x.vec_id) THEN 1 ELSE 0 END AS dom " +
      s"FROM a x JOIN a y ON x.cid = y.cid AND x.vec_id <> y.vec_id AND ${dotSql("x.embedding", "y.embedding")} / (x.nrm * y.nrm) >= ${VectorOps.SemDupTau}), " +
      "v AS (SELECT vec_id, count(1) AS n_dup_nbrs, max(dom) AS dominated FROM pr GROUP BY 1) " +
      "SELECT a.vec_id, CAST(a.cid AS INT) AS cid, a.dist AS c_dist, CAST(coalesce(v.n_dup_nbrs, 0) AS INT) AS n_dup_nbrs, CAST(CASE WHEN coalesce(v.dominated, 0) = 1 THEN 0 ELSE 1 END AS INT) AS kept " +
      "FROM a LEFT JOIN v ON a.vec_id = v.vec_id ORDER BY a.vec_id"
    },
    // linear-scale SemDeDup: cluster = own sign bucket (no argmin), bucket
    // means via the shared cell/comp/cent discipline, same domination CASE
    "dedup_semantic_lsh" -> {
      // width from the corpus-count ladder floored at the historical 5
      // bits (round 17 — mirror of VectorOps.semLshBitsOf), masked fold
      // like the dedup_semantic/hnsw bucket replays
      val bkt = s"CAST(list_sum(list_transform(generate_series(1, ${VectorOps.SemMaxBits}), " +
        "i -> CASE WHEN i <= p.bits AND embedding[i] >= 0 THEN CAST(1 AS BIGINT) << (i - 1) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"
      s"WITH p AS (SELECT greatest(${VectorOps.SemLshBits}, coalesce(min(b), ${VectorOps.SemMaxBits})) AS bits FROM (SELECT unnest(generate_series(0, ${VectorOps.SemMaxBits - 1})) AS b) bb, " +
      s"(SELECT count(*) AS n FROM embeddings) t0 WHERE ${VectorOps.SemTargetCluster} * (CAST(1 AS BIGINT) << b) >= n), " +
      s"e AS (SELECT vec_id, embedding, $bkt AS b FROM embeddings, p), " +
      s"cell AS (SELECT b, g.i AS pos, CAST(CAST(embedding[g.i] AS DOUBLE) AS DECIMAL(28,20)) AS v FROM e, (SELECT unnest(generate_series(1, ${VectorOps.Dim})) AS i) g), " +
      "comp AS (SELECT b, pos, CAST(sum(v) AS DOUBLE) / count(1) AS comp FROM cell GROUP BY 1, 2), " +
      "cent AS (SELECT b, list(comp ORDER BY pos) AS cvec FROM comp GROUP BY 1), " +
      s"a AS (SELECT vec_id, embedding, e.b, round(${sqDistSql("embedding", "cvec")}, 6) AS dist, sqrt(${sqNorm("embedding")}) AS nrm FROM e JOIN cent USING (b)), " +
      "pr AS (SELECT x.vec_id, CASE WHEN y.dist < x.dist OR (y.dist = x.dist AND y.vec_id < x.vec_id) THEN 1 ELSE 0 END AS dom " +
      s"FROM a x JOIN a y ON x.b = y.b AND x.vec_id <> y.vec_id AND ${dotSql("x.embedding", "y.embedding")} / (x.nrm * y.nrm) >= ${VectorOps.SemDupTau}), " +
      "v AS (SELECT vec_id, count(1) AS n_dup_nbrs, max(dom) AS dominated FROM pr GROUP BY 1) " +
      "SELECT a.vec_id, CAST(a.b AS INT) AS bucket, a.dist AS c_dist, CAST(coalesce(v.n_dup_nbrs, 0) AS INT) AS n_dup_nbrs, CAST(CASE WHEN coalesce(v.dominated, 0) = 1 THEN 0 ELSE 1 END AS INT) AS kept " +
      "FROM a LEFT JOIN v ON a.vec_id = v.vec_id ORDER BY a.vec_id"
    },
    "vec_norm" ->
      s"SELECT vec_id, label, CAST(len(embedding) AS INT) AS dim, sqrt(${sqNorm("embedding")}) AS l2_norm, list_sum(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS l1_norm FROM embeddings ORDER BY vec_id",
    // mirrors VectorOps.vecQuantize: floor-based affine int8 codes — floor
    // of an IEEE double is engine-exact, so q_sum/max_err hash-match
    "vec_quantize" ->
      ("WITH vq AS (SELECT vec_id, label, embedding, CAST(list_min(embedding) AS DOUBLE) AS mn, CAST(list_max(embedding) AS DOUBLE) AS mx FROM embeddings), " +
      "vc AS (SELECT vec_id, label, embedding, mn, mx, list_transform(embedding, x -> CASE WHEN mx = mn THEN 0 ELSE CAST(least(greatest(floor((CAST(x AS DOUBLE) - mn) * 255.0 / (mx - mn)), 0.0), 255.0) AS BIGINT) END) AS q FROM vq) " +
      "SELECT vec_id, label, round(mn, 6) AS q_min, round(mx, 6) AS q_max, CAST(list_sum(q) AS BIGINT) AS q_sum, " +
      "array_to_string(q, ',') AS q_codes, " +
      "round(list_max(list_transform(list_zip(embedding, q), p -> abs(CAST(p[1] AS DOUBLE) - (mn + CAST(p[2] AS DOUBLE) * ((mx - mn) / 255.0))))), 6) AS max_err " +
      "FROM vc ORDER BY vec_id"),
    "dedup_cluster" -> dedupClusterSql,
    // keep policy over the SAME cluster chain (fragments shared with
    // dedup_cluster) + the packed-ordinal argmax of agg_argmax
    "dedup_keepbest" ->
      (s"WITH RECURSIVE $minhashCandSql, $minhashComponentsSql, " +
      "q AS (SELECT lab.doc_id, lbl, n_chars FROM lab JOIN documents USING (doc_id)), " +
      "k AS (SELECT lbl, arg_max(doc_id, n_chars * 1000000000000 + (999999999999 - doc_id)) AS keep_id, count(1) AS cluster_size FROM q GROUP BY 1) " +
      "SELECT q.doc_id, q.lbl AS canonical_id, k.keep_id, q.doc_id = k.keep_id AS kept, k.cluster_size " +
      "FROM q JOIN k USING (lbl) ORDER BY q.doc_id"),
    // asymmetric batch-vs-index candidates: new (doc_id % m = 0) band rows
    // join ONLY index band rows; same verify as dedup_minhash
    "dedup_incremental" ->
      (s"WITH $minhashCandSql, " + // reuses w/sm/s2; its `c` is unused here
      s"ci AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS idx_id FROM s2 a JOIN s2 b ON a.band = b.band AND a.sig = b.sig AND a.doc_id % ${TextOps.IncrementalModulus} = 0 AND b.doc_id % ${TextOps.IncrementalModulus} <> 0), " +
      s"ji AS (SELECT new_id, idx_id, round(CAST(len(list_intersect(wn.hv, wi.hv)) AS DOUBLE) / len(list_distinct(list_concat(wn.hv, wi.hv))), 6) AS jaccard FROM ci JOIN w wn ON ci.new_id = wn.doc_id JOIN w wi ON ci.idx_id = wi.doc_id) " +
      s"SELECT new_id, idx_id, jaccard FROM ji WHERE jaccard >= ${TextOps.MinhashTau} ORDER BY new_id, idx_id"),
    "dedup_pipeline" -> dedupPipelineSql,
    "dedup_substring" ->
      (s"WITH sg AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, greatest(length(text) - ${TextOps.SubstrGramN - 1}, 1)), i -> ${hash60Wide(s"text[i:i+${TextOps.SubstrGramN - 1}]")}))) AS g FROM documents), " +
      s"f AS (SELECT doc_id, g FROM sg WHERE g % ${TextOps.SubstrWinnowMod} = 0) " +
      "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(1) AS n_shared " +
      "FROM f a JOIN f b ON a.g = b.g AND a.doc_id < b.doc_id " +
      "GROUP BY 1, 2 ORDER BY doc_a, doc_b"),
    // positional mirror of dedup_substring's fingerprints: every winnowed
    // window OCCURRENCE with its 1-based char offset, shared set = ≥2
    // distinct docs, gaps-and-islands merge at gap > SubstrGramN (shared
    // `sp0` chain — the clean oracle must never drift from the span oracle)
    "dedup_substring_spans" ->
      s"WITH $substringSpansCtes SELECT doc_id, span_start, span_end, n_windows FROM sp0 ORDER BY doc_id, span_start",
    // apply the cut lists: rebuild each doc from the segments between its
    // sorted spans (ends clamped to the text length), keep clean docs as-is
    "dedup_substring_clean" ->
      (s"WITH $substringSpansCtes, " +
      "spl AS (SELECT doc_id, list({'s': span_start, 'e': span_end} ORDER BY span_start) AS sp FROM sp0 GROUP BY doc_id) " +
      "SELECT d.doc_id, " +
      "CASE WHEN spl.sp IS NULL THEN d.text ELSE array_to_string(list_transform(generate_series(1, len(spl.sp) + 1), i -> " +
      "d.text[(CASE WHEN i = 1 THEN 1 ELSE least(spl.sp[i-1].e, length(d.text)) + 1 END):(CASE WHEN i = len(spl.sp) + 1 THEN length(d.text) ELSE spl.sp[i].s - 1 END)]), '') END AS clean_text, " +
      "CAST(COALESCE(len(spl.sp), 0) AS INT) AS n_spans, " +
      "CAST(COALESCE(list_sum(list_transform(spl.sp, x -> least(x.e, length(d.text)) - x.s + 1)), 0) AS INT) AS n_cut_chars " +
      "FROM documents d LEFT JOIN spl ON d.doc_id = spl.doc_id ORDER BY d.doc_id"),
    "text_normalize" ->
      s"SELECT doc_id, ${normSql("text")} AS norm_text, sha256(${normSql("text")}) AS norm_hash FROM documents ORDER BY doc_id",
    "sample_stratified" ->
      "SELECT vec_id, label, CAST(rn AS INT) AS rn FROM (SELECT vec_id, label, row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn FROM embeddings) WHERE rn <= 20 ORDER BY label, rn",
    "text_pii" ->
      s"SELECT doc_id, CAST(len(regexp_extract_all(text, '${TextOps.EmailRe}')) AS INT) AS n_emails, CAST(len(regexp_extract_all(text, '${TextOps.PhoneRe}')) AS INT) AS n_phones, regexp_replace(regexp_replace(text, '${TextOps.EmailRe}', '<EMAIL>', 'g'), '${TextOps.PhoneRe}', '<PHONE>', 'g') AS redacted FROM documents ORDER BY doc_id",
    "explode_tokens" ->
      ("WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
      "e AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i FROM d) " +
      "SELECT doc_id, CAST(i - 1 AS INT) AS pos, toks[CAST(i AS INT)] AS token FROM e ORDER BY doc_id, pos"),
    "text_chunk" ->
      (s"WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents), " +
      s"s AS (SELECT doc_id, text, unnest(generate_series(0, greatest(len - 1, 0), ${TextOps.ChunkStride})) AS off FROM d) " +
      s"SELECT doc_id, CAST(off // ${TextOps.ChunkStride} AS INT) AS chunk_id, " +
      s"text[off+1:off+${TextOps.ChunkLen}] AS chunk, CAST(length(text[off+1:off+${TextOps.ChunkLen}]) AS INT) AS chunk_len " +
      "FROM s ORDER BY doc_id, chunk_id"),
    // rag_retrieve: hashed-BoW vectors are integer counts, so scores and the
    // full top-k ranking hash-gate; the hash is the house md5-prefix idiom
    "rag_retrieve" ->
      (s"WITH $ragChunkCtes, $ragDenseCtes " +
      s"SELECT query_doc, CAST(rnk AS INT) AS rnk, doc_id, chunk_id, CAST(score AS BIGINT) AS score " +
      s"FROM dr WHERE rnk <= ${TextOps.RagTopK} ORDER BY query_doc, rnk"),
    // rag_bm25: per-term float64 contributions mirrored operation-for-operation
    // (ln of identical doubles matches), cross-term sum through DECIMAL(28,18)
    // (the text_logprob discipline); ranking key = the exact decimal sum
    "rag_bm25" ->
      (s"WITH $ragChunkCtes, $ragSparseCtes " +
      s"SELECT query_doc, CAST(rnk AS INT) AS rnk, doc_id, chunk_id, round(CAST(score_d AS DOUBLE), 6) AS score " +
      s"FROM sr WHERE rnk <= ${TextOps.Bm25TopK} ORDER BY query_doc, rnk"),
    // rag_hybrid: RRF over the SAME dense/sparse CTE chains the two
    // standalone oracles use; the lcm-scaled reciprocal ranks are exact
    // integers on both engines (`div` / `//` integral division)
    "rag_hybrid" ->
      (s"WITH $ragChunkCtes, $ragDenseCtes, $ragSparseCtes, " +
      s"f AS (SELECT query_doc, doc_id, chunk_id, a.rnk AS dense_rnk, b.rnk AS sparse_rnk " +
      s"FROM (SELECT * FROM dr WHERE rnk <= ${TextOps.HybridN}) a " +
      s"FULL JOIN (SELECT * FROM sr WHERE rnk <= ${TextOps.HybridN}) b USING (query_doc, doc_id, chunk_id)), " +
      s"h AS (SELECT query_doc, doc_id, chunk_id, dense_rnk, sparse_rnk, " +
      s"coalesce(${TextOps.RrfL} // (${TextOps.RrfK} + dense_rnk), 0) + " +
      s"coalesce(${TextOps.RrfL} // (${TextOps.RrfK} + sparse_rnk), 0) AS rrf_score FROM f), " +
      "r2 AS (SELECT h.*, row_number() OVER (PARTITION BY query_doc ORDER BY rrf_score DESC, doc_id, chunk_id) AS rnk FROM h) " +
      s"SELECT query_doc, CAST(rnk AS INT) AS rnk, doc_id, chunk_id, CAST(rrf_score AS BIGINT) AS rrf_score, " +
      s"CAST(dense_rnk AS INT) AS dense_rnk, CAST(sparse_rnk AS INT) AS sparse_rnk " +
      s"FROM r2 WHERE rnk <= ${TextOps.RagTopK} ORDER BY query_doc, rnk"),
    "text_ngrams" ->
      "WITH g AS (SELECT unnest(list_transform(generate_series(1, greatest(len(string_split(text, ' ')) - 1, 1)), i -> array_to_string((string_split(text, ' '))[i:i+1], ' '))) AS bigram FROM documents) SELECT bigram, count(1) AS n FROM g GROUP BY 1 HAVING count(1) >= 2 ORDER BY n DESC, bigram",
    // PMI over the SAME shingle stream as text_ngrams (shared g CTE text);
    // ln chain parenthesized identically to the Spark Column chain — the
    // factored integer-product form overflows 2^53 at 10x
    "text_collocations" ->
      (s"WITH g AS (SELECT unnest(list_transform(generate_series(1, greatest(len(string_split(text, ' ')) - 1, 1)), i -> array_to_string((string_split(text, ' '))[i:i+1], ' '))) AS bigram FROM documents), " +
      s"b AS (SELECT bigram, count(1) AS c_xy FROM g GROUP BY 1 HAVING count(1) >= ${TextOps.CollocMinSupport}), " +
      // split_part is 1-based with identical semantics on BOTH engines —
      // the [i] list index is 1-based only in DuckDB (SqlSurfaceSpec bridge)
      "b2 AS (SELECT bigram, c_xy, split_part(bigram, ' ', 1) AS w1, split_part(bigram, ' ', 2) AS w2 FROM b WHERE len(string_split(bigram, ' ')) = 2), " +
      "u AS (SELECT w, count(1) AS c_w FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY 1), " +
      "t AS (SELECT CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS t_tok, CAST(sum(greatest(len(string_split(text, ' ')) - 1, 1)) AS BIGINT) AS n_bi FROM documents) " +
      "SELECT bigram, c_xy, round(ln(CAST(c_xy AS DOUBLE)) + ln(CAST(t_tok AS DOUBLE)) + ln(CAST(t_tok AS DOUBLE)) - ln(CAST(n_bi AS DOUBLE)) - ln(CAST(x.c_w AS DOUBLE)) - ln(CAST(y.c_w AS DOUBLE)), 6) AS pmi " +
      "FROM b2 JOIN u x ON b2.w1 = x.w JOIN u y ON b2.w2 = y.w, t ORDER BY pmi DESC, bigram"),
    "text_repetition" ->
      (s"WITH s2 AS (SELECT doc_id, ${rawShingles(2)} AS sh2, ${rawShingles(3)} AS sh3 FROM documents), " +
      s"r AS (SELECT doc_id, round(1.0 - CAST(len(list_distinct(list_transform(sh2, x -> ${hash60("x")}))) AS DOUBLE) / len(sh2), 4) AS rep2, round(1.0 - CAST(len(list_distinct(list_transform(sh3, x -> ${hash60("x")}))) AS DOUBLE) / len(sh3), 4) AS rep3 FROM s2), " +
      "bc AS (SELECT doc_id, bigram, count(1) AS n FROM (SELECT doc_id, unnest(sh2) AS bigram FROM s2) b GROUP BY 1, 2), " +
      "tb AS (SELECT doc_id, round(CAST(max(n) AS DOUBLE) / sum(n), 4) AS top_bigram_frac FROM bc GROUP BY 1) " +
      "SELECT r.doc_id, rep2, rep3, top_bigram_frac, CASE WHEN rep2 > 0.2 OR top_bigram_frac > 0.18 THEN 1 ELSE 0 END AS flagged FROM r JOIN tb USING (doc_id) ORDER BY doc_id"),
    "decontaminate" ->
      (s"WITH g AS (SELECT doc_id, list_distinct(list_transform(${rawShingles(TextOps.DecontamShingleN)}, x -> ${hash60("x")})) AS hv FROM documents), " +
      s"ev AS (SELECT DISTINCT unnest(hv) AS gg FROM g WHERE doc_id % ${TextOps.DecontamModulus} = 0), " +
      s"tr AS (SELECT doc_id, hv FROM g WHERE doc_id % ${TextOps.DecontamModulus} <> 0), " +
      "hits AS (SELECT doc_id, count(1) AS n_hit FROM (SELECT doc_id, unnest(hv) AS gg FROM tr) t JOIN ev USING (gg) GROUP BY 1) " +
      "SELECT tr.doc_id, CAST(len(hv) AS INT) AS n_grams, CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit, round(CAST(COALESCE(n_hit, 0) AS DOUBLE) / len(hv), 4) AS hit_frac, CASE WHEN COALESCE(n_hit, 0) > 0 THEN 1 ELSE 0 END AS contaminated FROM tr LEFT JOIN hits USING (doc_id) ORDER BY doc_id"),
    "pack_sequences" ->
      (s"WITH t AS (SELECT doc_id, CAST(doc_id % ${TextOps.PackShards} AS INT) AS shard, CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_tokens FROM documents), " +
      "o AS (SELECT doc_id, shard, n_tokens, CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off FROM t) " +
      s"SELECT doc_id, shard, n_tokens, start_off, start_off // ${TextOps.PackCapacity} AS seq_id FROM o ORDER BY doc_id"),
    // pack_greedy: RUN-LEVEL recursion (round 14 — the per-DOC recursive
    // replay was depth ∝ docs/shard: 62.5k iterations at 100×, each
    // re-joining the doc table; intractable at any budget). In the NFD
    // order, docs of equal n_tokens are consecutive, and next-fit over a
    // run of r equal-size-t docs entering state (bin₀, fill₀) has a closed
    // form: a = min(r, (C−fill₀)//t) docs top off the current bin, the
    // rest fill fresh bins m = max(C//t, 1) at a time. The recursion walks
    // RUNS (depth = distinct token sizes per shard, ≤ ~C and scale-
    // INVARIANT — replicas add copies, not new sizes); every per-doc
    // (bin_id, running fill) is then pure arithmetic off its run's entry
    // state, so the hash still pins every doc's placement. The start
    // state (bin 0, fill C) forces the first doc to open bin 1, exactly
    // the engine's `bin == 0 ||` branch.
    "pack_greedy" -> {
      val C = TextOps.PackBinCapacity
      // closed-form pieces over a joined (st, runs) row
      val m = s"(CASE WHEN runs.n_tokens > $C THEN CAST(1 AS BIGINT) ELSE $C // runs.n_tokens END)"
      // GREATEST clamp: an oversized run leaves fill_end = t > C, making
      // the next run's headroom negative — the engine's overflow branch
      val a = s"LEAST(runs.r, GREATEST(($C - st.fill_end) // runs.n_tokens, 0))"
      val rem = s"(runs.r - $a)"
      val newBins = s"(($rem + $m - 1) // $m)"
      // ... and over the per-doc expansion row (same state, aliased rd)
      val mD = s"(CASE WHEN rd.n_tokens > $C THEN CAST(1 AS BIGINT) ELSE $C // rd.n_tokens END)"
      val aD = s"LEAST(rd.r, GREATEST(($C - rd.fill0) // rd.n_tokens, 0))"
      val jD = s"(rd.i - $aD)"
      s"WITH RECURSIVE t AS MATERIALIZED (SELECT doc_id, CAST(doc_id % ${TextOps.PackShards} AS INT) AS shard, CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_tokens FROM documents), " +
      "d AS MATERIALIZED (SELECT doc_id, shard, n_tokens, CAST(row_number() OVER (PARTITION BY shard, n_tokens ORDER BY doc_id) AS BIGINT) AS i FROM t), " +
      "runs AS MATERIALIZED (SELECT shard, n_tokens, CAST(count(1) AS BIGINT) AS r, CAST(row_number() OVER (PARTITION BY shard ORDER BY n_tokens DESC) AS BIGINT) AS k FROM t GROUP BY 1, 2), " +
      s"st AS (SELECT shard, CAST(0 AS BIGINT) AS k, CAST(0 AS BIGINT) AS bin_end, CAST($C AS BIGINT) AS fill_end FROM (SELECT DISTINCT shard FROM t) s0 " +
      "UNION ALL SELECT runs.shard, runs.k, " +
      s"st.bin_end + CASE WHEN $rem = 0 THEN 0 ELSE $newBins END, " +
      s"CASE WHEN $rem = 0 THEN st.fill_end + $a * runs.n_tokens ELSE ($rem - ($newBins - 1) * $m) * runs.n_tokens END " +
      "FROM st JOIN runs ON runs.shard = st.shard AND runs.k = st.k + 1), " +
      "rd AS (SELECT d.doc_id, d.shard, d.n_tokens, d.i, runs.r, st.bin_end AS bin0, st.fill_end AS fill0 " +
      "FROM d JOIN runs ON runs.shard = d.shard AND runs.n_tokens = d.n_tokens " +
      "JOIN st ON st.shard = d.shard AND st.k = runs.k - 1) " +
      s"SELECT rd.doc_id, rd.shard, rd.n_tokens, CAST(CASE WHEN rd.i <= $aD THEN rd.bin0 ELSE rd.bin0 + ($jD + $mD - 1) // $mD END AS INT) AS bin_id, " +
      s"CASE WHEN rd.i <= $aD THEN rd.fill0 + rd.i * rd.n_tokens ELSE ($jD - (($jD + $mD - 1) // $mD - 1) * $mD) * rd.n_tokens END AS bin_fill " +
      "FROM rd ORDER BY rd.doc_id"
    },
    "sample_hash" ->
      s"WITH h AS (SELECT doc_id, lang, source, ${saltedBucketSql("graft")} AS bucket FROM documents) SELECT doc_id, lang, source, bucket FROM h WHERE bucket < ${Relational.SamplePct} ORDER BY doc_id",
    "sample_reservoir" ->
      (s"WITH h AS (SELECT doc_id, lang, source, CAST(('0x' || substr(md5('res:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hkey FROM documents), " +
      s"t AS (SELECT * FROM h ORDER BY hkey, doc_id LIMIT ${Relational.ReservoirK}) " +
      "SELECT doc_id, lang, source, hkey, CAST(row_number() OVER (ORDER BY hkey, doc_id) AS INT) AS sample_rank FROM t ORDER BY doc_id"),
    "sample_mix" ->
      (s"WITH h AS (SELECT doc_id, lang, source, ${saltedBucketSql("mix")} AS bucket, " +
      s"$mixCaseSql AS keep_pct FROM documents) " +
      "SELECT doc_id, lang, source, bucket, keep_pct FROM h WHERE bucket < keep_pct ORDER BY doc_id"),
    // temperature rebalancing: data-derived keep rates (sqrt(n_min/n_l)
    // = the alpha=0.5 downsample-only form), integer basis-point compare
    "sample_temperature" ->
      (s"WITH ln AS (SELECT lang, count(1) AS n_l FROM documents GROUP BY 1), " +
      "mn AS (SELECT min(n_l) AS n_min FROM ln), " +
      s"r AS (SELECT lang, n_l, CAST(floor(sqrt(CAST(n_min AS DOUBLE) / CAST(n_l AS DOUBLE)) * ${Relational.TempBasis}) AS INT) AS keep_bp FROM ln, mn), " +
      s"h AS (SELECT doc_id, d.lang, CAST((CAST(('0x' || substr(md5('temp:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % ${Relational.TempBasis}) AS INT) AS bucket_bp, n_l, keep_bp FROM documents d JOIN r ON d.lang = r.lang) " +
      "SELECT doc_id, lang, bucket_bp, n_l, keep_bp FROM h WHERE bucket_bp < keep_bp ORDER BY doc_id"),
    "corpus_pipeline" -> corpusPipelineSql,
    "corpus_report" -> corpusReportSql,
    "sample_split" ->
      (s"WITH h AS (SELECT doc_id, lang, ${saltedBucketSql("split")} AS bucket FROM documents) " +
      s"SELECT doc_id, lang, bucket, ${splitCaseSql("bucket")} AS split FROM h ORDER BY doc_id"),
    "stats_histogram" ->
      (s"SELECT bin, count(1) AS n, CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_total, CAST(bin * ${Relational.HistBinWidth} AS DOUBLE) AS bin_lo " +
      s"FROM (SELECT CAST(least(floor(o_totalprice / ${Relational.HistBinWidth}), ${Relational.HistMaxBin}) AS INT) AS bin, o_totalprice FROM orders) GROUP BY bin ORDER BY bin"),
    // per-bin ln terms deterministic (exact-integer proportions), total
    // crosses bins as DECIMAL(28,18); binning constants single-sourced
    // with stats_histogram
    "drift_psi" ->
      (s"WITH o AS (SELECT o_orderdate AS d, o_totalprice AS x FROM orders), " +
      s"r AS (SELECT CAST(least(floor(x / ${Relational.HistBinWidth}), ${Relational.HistMaxBin}) AS INT) AS bin, count(1) AS n_ref FROM o WHERE d >= TIMESTAMP '1995-01-01' AND d < TIMESTAMP '1996-01-01' GROUP BY 1), " +
      s"c AS (SELECT CAST(least(floor(x / ${Relational.HistBinWidth}), ${Relational.HistMaxBin}) AS INT) AS bin, count(1) AS n_cur FROM o WHERE d >= TIMESTAMP '1996-01-01' AND d < TIMESTAMP '1997-01-01' GROUP BY 1), " +
      "t AS (SELECT (SELECT sum(n_ref) FROM r) AS t_ref, (SELECT sum(n_cur) FROM c) AS t_cur), " +
      "j AS (SELECT bin, n_ref, n_cur, CAST(n_ref AS DOUBLE) / t_ref AS p, CAST(n_cur AS DOUBLE) / t_cur AS q FROM r JOIN c USING (bin) CROSS JOIN t), " +
      "w AS (SELECT *, (q - p) * ln(q / p) AS term FROM j), " +
      "s AS (SELECT CAST(sum(CAST(term AS DECIMAL(28,18))) AS DOUBLE) AS psi_raw FROM w) " +
      "SELECT bin, n_ref, n_cur, round(term, 6) AS psi_term, round(psi_raw, 6) AS psi_total " +
      "FROM w CROSS JOIN s ORDER BY bin"),
    "stats_profile" ->
      Relational.ProfileCols.map(c =>
        s"SELECT '$c' AS col_name, count(1) AS n_rows, CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, count(DISTINCT $c) AS n_distinct, min($c) AS min_val, max($c) AS max_val FROM lineitem")
        .mkString("", " UNION ALL ", " ORDER BY col_name"),
    // int128 HUGEINT mirrors Spark's DECIMAL(38,0) integer-cents moments —
    // both exact, so the double combine sees identical bits (explicit h*h*h,
    // never **: DuckDB pow returns DOUBLE and would break exactness)
    "stats_moments" -> {
      def h(c: String) = s"CAST(CAST($c AS DECIMAL(12,2)) * 100 AS HUGEINT)"
      ("WITH a AS (SELECT count(1) AS n, " +
        Relational.MomentCols.map(c =>
          s"CAST(sum(${h(c)}) AS DOUBLE) AS ${c}_s1, " +
          s"CAST(sum(${h(c)} * ${h(c)}) AS DOUBLE) AS ${c}_s2, " +
          s"CAST(sum(${h(c)} * ${h(c)} * ${h(c)}) AS DOUBLE) AS ${c}_s3, " +
          s"CAST(sum(${h(c)} * ${h(c)} * ${h(c)} * ${h(c)}) AS DOUBLE) AS ${c}_s4").mkString(", ") +
      " FROM lineitem), u AS (" +
        Relational.MomentCols.map(c =>
          s"SELECT '$c' AS col_name, n, ${c}_s1 AS s1, ${c}_s2 AS s2, ${c}_s3 AS s3, ${c}_s4 AS s4 FROM a")
          .mkString(" UNION ALL ") +
      "), m AS (SELECT col_name, n, s1/n AS mu, s2, s3, s4 FROM u), " +
      "k AS (SELECT col_name, n, mu, s2/n - mu*mu AS m2, " +
      "s3/n - 3*mu*(s2/n) + 2*mu*mu*mu AS m3, " +
      "s4/n - 4*mu*(s3/n) + 6*mu*mu*(s2/n) - 3*mu*mu*mu*mu AS m4 FROM m) " +
      "SELECT col_name, n, round(mu/100, 6) AS mean, round(sqrt(m2)/100, 6) AS stddev_pop, " +
      "round(m3/(m2*sqrt(m2)), 6) AS skewness, round(m4/(m2*m2) - 3, 6) AS kurtosis " +
      "FROM k ORDER BY col_name")
    },
    "quantile_bins" ->
      "SELECT doc_id, n_chars, CAST(ntile(10) OVER (ORDER BY n_chars, doc_id) AS INT) AS decile FROM documents ORDER BY doc_id",
    "shuffle_rows" ->
      ("WITH h AS (SELECT doc_id, CAST(('0x' || substr(md5('shuf:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hkey FROM documents) " +
      "SELECT doc_id, hkey, row_number() OVER (ORDER BY hkey, doc_id) - 1 AS shuffle_pos FROM h ORDER BY doc_id"),
    "multimodal_join" ->
      s"SELECT doc_id, lang, label, n_chars, CAST(octet_length(encode(text)) AS INT) AS n_bytes, md5(text) AS content_md5, sqrt(${sqNorm("embedding")}) AS l2_norm FROM documents JOIN embeddings ON doc_id = vec_id ORDER BY doc_id",
    "vec_scale" ->
      s"SELECT vec_id, label, CAST(label AS BIGINT) * 50000 AS feat_x, sqrt(${sqNorm("embedding")}) AS feat_y FROM embeddings ORDER BY vec_id",
    // mirrors VectorOps.encodeBmp/decodeBmp: w = n%60+4, 4-byte-aligned
    // 24bpp stride, height covers the content, pixel array = text + space
    // padding, file = 54 header bytes + pixel array
    "multimodal_decode" ->
      ("WITH mb AS (SELECT doc_id, text, octet_length(encode(text)) AS n, octet_length(encode(text)) % 60 + 4 AS w FROM documents), " +
      "ms AS (SELECT doc_id, text, n, w, (w * 3 + 3) // 4 * 4 AS stride FROM mb), " +
      "mh AS (SELECT doc_id, text, n, w, stride, (n + stride - 1) // stride AS h FROM ms) " +
      "SELECT doc_id, CAST(54 + stride * h AS INT) AS n_bytes, CAST(w AS INT) AS width, CAST(h AS INT) AS height, 1 AS n_frames, md5(text || repeat(' ', stride * h - n)) AS checksum FROM mh ORDER BY doc_id"),
    // frame geometry single-sourced from VectorOps.FrameRows/FrameStride:
    // sampled frames' byte ranges sliced out of hex(blob) per frame index
    "multimodal_framesample" ->
      (s"WITH mb AS (SELECT doc_id, text, octet_length(encode(text)) AS n, octet_length(encode(text)) % 60 + 4 AS w FROM documents), " +
      "ms AS (SELECT doc_id, text, n, w, (w * 3 + 3) // 4 * 4 AS stride FROM mb), " +
      "mh AS (SELECT doc_id, text, n, w, stride, (n + stride - 1) // stride AS h FROM ms), " +
      s"fd AS (SELECT doc_id, stride, h, (h + ${VectorOps.FrameRows} - 1) // ${VectorOps.FrameRows} AS nf, lower(hex(encode(text) || encode(repeat(' ', stride * h - n)))) AS hx FROM mh), " +
      s"fr AS (SELECT doc_id, stride, h, hx, unnest(generate_series(0, nf - 1, ${VectorOps.FrameStride})) AS f FROM fd), " +
      s"sl AS (SELECT doc_id, f, substr(hx, f * ${VectorOps.FrameRows} * stride * 2 + 1, least(${VectorOps.FrameRows}, h - f * ${VectorOps.FrameRows}) * stride * 2) AS seg, least(${VectorOps.FrameRows}, h - f * ${VectorOps.FrameRows}) * stride AS len FROM fr), " +
      "o AS (SELECT doc_id, string_agg(seg, '' ORDER BY f) AS ohex, CAST(sum(len) AS INT) AS n_bytes FROM sl GROUP BY doc_id) " +
      s"SELECT d.doc_id, CAST(d.nf AS INT) AS n_frames, CAST((d.nf + ${VectorOps.FrameStride} - 1) // ${VectorOps.FrameStride} AS INT) AS n_sampled, coalesce(o.n_bytes, 0) AS n_bytes_sampled, md5(coalesce(o.ohex, '')) AS checksum " +
      "FROM fd d LEFT JOIN o ON d.doc_id = o.doc_id ORDER BY d.doc_id"),
    // mirrors VectorOps.phashBmp: 8x8 nearest-neighbor grid over the BMP
    // pixel array (hex-decoded 3-byte gray sums), bit = gray*64 >= total,
    // MSB-first 16-bit bands — all integers, hash-gated to the hex char
    "multimodal_phash" ->
      (s"WITH $phashPxCtes " +
      "SELECT doc_id, width, height, band0, band1, band2, band3, " +
      "printf('%04x%04x%04x%04x', band0, band1, band2, band3) AS phash " +
      "FROM px ORDER BY doc_id"),
    // the pairing stage over the SAME phash CTEs: per-band equi-self-join
    // candidates, exact hamming from the four band XORs, keep <= PhashTau
    "multimodal_phash_pairs" ->
      (s"WITH $phashPxCtes, " +
      "ex AS (SELECT doc_id, band0, band1, band2, band3, gb.b, " +
      "CASE gb.b WHEN 0 THEN band0 WHEN 1 THEN band1 WHEN 2 THEN band2 ELSE band3 END AS v " +
      "FROM px, (SELECT unnest(generate_series(0, 3)) AS b) gb), " +
      "cd AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b, " +
      "a.band0 AS a0, a.band1 AS a1, a.band2 AS a2, a.band3 AS a3, " +
      "c.band0 AS c0, c.band1 AS c1, c.band2 AS c2, c.band3 AS c3 " +
      "FROM ex a JOIN ex c ON a.b = c.b AND a.v = c.v AND a.doc_id < c.doc_id), " +
      "hm AS (SELECT doc_a, doc_b, CAST(bit_count(xor(a0, c0)) + bit_count(xor(a1, c1)) + bit_count(xor(a2, c2)) + bit_count(xor(a3, c3)) AS INT) AS hamming FROM cd) " +
      s"SELECT doc_a, doc_b, hamming FROM hm WHERE hamming <= ${VectorOps.PhashTau} ORDER BY doc_a, doc_b"),
    // mirrors VectorOps.encodeWav/decodeWav: rate = 8000 + n%4000, data =
    // text padded to even bytes; signed int16 decode from hex pairs (UTF-8
    // high bytes make samples negative — the CASE is load-bearing)
    "multimodal_audio" ->
      ("WITH a AS (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents), " +
      "g AS (SELECT doc_id, text, n, 8000 + n % 4000 AS rate, (n + 1) // 2 AS ns FROM a), " +
      "hx AS (SELECT doc_id, rate, ns, n, text, lower(hex(encode(text) || encode(repeat(' ', ns * 2 - n)))) AS h FROM g), " +
      "sm AS (SELECT doc_id, h, unnest(generate_series(0, ns - 1)) AS i FROM hx), " +
      "sv AS (SELECT doc_id, CAST(('0x' || substr(h, i * 4 + 1, 2)) AS INT) + 256 * CAST(('0x' || substr(h, i * 4 + 3, 2)) AS INT) AS v FROM sm), " +
      "sa AS (SELECT doc_id, sum(CASE WHEN v >= 32768 THEN 65536 - v ELSE v END) AS sum_abs FROM sv GROUP BY 1) " +
      "SELECT g.doc_id, CAST(rate AS INT) AS sample_rate, CAST(ns AS INT) AS n_samples, " +
      "CAST(ns * 1000 // rate AS INT) AS duration_ms, CAST(coalesce(sum_abs, 0) AS BIGINT) AS sum_abs, " +
      "md5(text || repeat(' ', ns * 2 - n)) AS checksum " +
      "FROM g LEFT JOIN sa USING (doc_id) ORDER BY doc_id"),
    // re-derives the NN 2x downsample byte-for-byte: per-pixel coordinates
    // via unnest(generate_series), source bytes sliced out of hex(blob)
    // (byte-positional — substr on the raw UTF-8 text is character-based),
    // empty payloads (h=0) kept via left join with the md5 of zero bytes
    "multimodal_resize" ->
      (s"WITH mb AS (SELECT doc_id, text, octet_length(encode(text)) AS n, octet_length(encode(text)) % 60 + 4 AS w FROM documents$resizeGateWhere), " +
      "ms AS (SELECT doc_id, text, n, w, (w * 3 + 3) // 4 * 4 AS stride FROM mb), " +
      "mh AS (SELECT doc_id, text, n, w, stride, (n + stride - 1) // stride AS h FROM ms), " +
      "dims AS (SELECT doc_id, w, h, stride, greatest(w // 2, 1) AS ow, CASE WHEN h = 0 THEN 0 ELSE greatest(h // 2, 1) END AS oh, lower(hex(encode(text) || encode(repeat(' ', stride * h - n)))) AS hx FROM mh), " +
      "py AS (SELECT doc_id, stride, ow, hx, unnest(generate_series(0, oh - 1)) AS y FROM dims), " +
      "pxy AS (SELECT doc_id, stride, hx, y, unnest(generate_series(0, ow - 1)) AS x FROM py), " +
      "o AS (SELECT doc_id, string_agg(substr(hx, (y * 2 * stride + x * 2 * 3) * 2 + 1, 6), '' ORDER BY y, x) AS ohex FROM pxy GROUP BY doc_id) " +
      "SELECT d.doc_id, CAST(d.w AS INT) AS src_w, CAST(d.h AS INT) AS src_h, CAST(d.ow AS INT) AS out_w, CAST(d.oh AS INT) AS out_h, CAST(d.ow * d.oh * 3 AS INT) AS n_bytes_out, md5(coalesce(o.ohex, '')) AS checksum " +
      "FROM dims d LEFT JOIN o ON d.doc_id = o.doc_id ORDER BY d.doc_id"),
    "sim_topk" ->
      s"WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < ${VectorOps.QuerySetSize}), c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= ${VectorOps.QuerySetSize}), s AS (SELECT q_id, vec_id, ${dotSql("q_emb", "embedding")} / (sqrt(${sqNorm("q_emb")}) * sqrt(${sqNorm("embedding")})) AS cos FROM c CROSS JOIN q), r AS (SELECT q_id, vec_id, cos, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn FROM s) SELECT q_id, vec_id, cos, CAST(rn AS INT) AS rn FROM r WHERE rn <= ${VectorOps.TopK} ORDER BY q_id, rn",
    // IVF incremental maintenance: integer-unit (Σ, n) state per
    // (list, dim) (components quantized to 10^-12 units — exact double
    // product + half-away rounding on both engines), batch assigned to
    // nearest OLD centroid, delta merged by integer addition —
    // cell-for-cell mirror of the engine's fold
    "sim_ivf_incremental" ->
      (s"WITH base AS (SELECT * FROM embeddings WHERE vec_id % ${VectorOps.IvfIncBatchMod} != 0), " +
      s"batch AS (SELECT * FROM embeddings WHERE vec_id % ${VectorOps.IvfIncBatchMod} = 0), " +
      s"scell AS (SELECT label AS list_id, CAST(g.i - 1 AS INT) AS pos, CAST(round(CAST(embedding[g.i] AS DOUBLE) * ${VectorOps.IvfIncUnit}.0) AS BIGINT) AS v FROM base, (SELECT unnest(generate_series(1, ${VectorOps.Dim})) AS i) g), " +
      "state AS (SELECT list_id, pos, CAST(sum(v) AS BIGINT) AS usum, count(1) AS n_base FROM scell GROUP BY 1, 2), " +
      s"cent AS (SELECT list_id AS c_list, list(CAST(usum AS DOUBLE) / ${VectorOps.IvfIncUnit}.0 / n_base ORDER BY pos) AS cvec FROM state GROUP BY 1), " +
      s"a AS (SELECT vec_id, embedding, c_list, ${sqDistSql("embedding", "cvec")} AS d2 FROM batch CROSS JOIN cent), " +
      "asg AS (SELECT vec_id, embedding, c_list FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_list) AS rn FROM a) r WHERE rn = 1), " +
      s"dcell AS (SELECT c_list AS list_id, CAST(g.i - 1 AS INT) AS pos, CAST(round(CAST(embedding[g.i] AS DOUBLE) * ${VectorOps.IvfIncUnit}.0) AS BIGINT) AS v FROM asg, (SELECT unnest(generate_series(1, ${VectorOps.Dim})) AS i) g), " +
      "delta AS (SELECT list_id, pos, CAST(sum(v) AS BIGINT) AS dusum, count(1) AS n_add FROM dcell GROUP BY 1, 2) " +
      "SELECT s.list_id, s.pos, s.n_base, CAST(COALESCE(d.n_add, 0) AS BIGINT) AS n_add, " +
      "s.usum + COALESCE(d.dusum, 0) AS usum " +
      "FROM state s LEFT JOIN delta d USING (list_id, pos) ORDER BY list_id, pos"),
    // Matryoshka two-stage: stage 1 prefix-dim cosine over embedding[1:16]
    // (DuckDB slices are 1-based inclusive), top-MrlCandidates per query,
    // stage 2 exact full-dim cosine over just those candidates — every
    // float fold mirrors the engine's sequential fold (dotSql/sqNorm), so
    // both stages' rankings are bitwise and the result hash-gates
    "sim_mrl" ->
      (s"WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb, embedding[1:${VectorOps.MrlPrefixDims}] AS q_pre FROM embeddings WHERE vec_id < ${VectorOps.QuerySetSize}), " +
      s"c AS (SELECT vec_id, embedding, embedding[1:${VectorOps.MrlPrefixDims}] AS pre FROM embeddings WHERE vec_id >= ${VectorOps.QuerySetSize}), " +
      s"s1 AS (SELECT q_id, vec_id, ${dotSql("q_pre", "pre")} / (sqrt(${sqNorm("q_pre")}) * sqrt(${sqNorm("pre")})) AS pcos FROM c CROSS JOIN q), " +
      "r1 AS (SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY pcos DESC, vec_id) AS prn FROM s1), " +
      s"cand AS (SELECT q_id, vec_id FROM r1 WHERE prn <= ${VectorOps.MrlCandidates}), " +
      s"s2 AS (SELECT cand.q_id, cand.vec_id, ${dotSql("q_emb", "embedding")} / (sqrt(${sqNorm("q_emb")}) * sqrt(${sqNorm("embedding")})) AS cos FROM cand JOIN c ON cand.vec_id = c.vec_id JOIN q ON cand.q_id = q.q_id), " +
      "r2 AS (SELECT q_id, vec_id, cos, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn FROM s2) " +
      s"SELECT q_id, vec_id, cos, CAST(rn AS INT) AS rn FROM r2 WHERE rn <= ${VectorOps.TopK} ORDER BY q_id, rn"),
    // Binary-quantization two-stage: stage 1 ranks by Hamming distance
    // between sign signatures (two 32-bit words per vector, rebuilt here
    // from the ORIGINAL embedding column — integer-exact XOR+popcount on
    // both engines), top-HamCandidates per query, stage 2 exact full-dim
    // cosine over just those candidates (the sim_mrl s2 chain)
    "sim_hamming" ->
      (s"WITH e AS (SELECT vec_id, embedding, " +
      s"CAST(list_sum(list_transform(generate_series(1, ${VectorOps.HamWordBits}), i -> CASE WHEN embedding[i] >= 0 THEN CAST(1 AS BIGINT) << (i - 1) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS lo, " +
      s"CAST(list_sum(list_transform(generate_series(1, ${VectorOps.HamWordBits}), i -> CASE WHEN embedding[${VectorOps.HamWordBits} + i] >= 0 THEN CAST(1 AS BIGINT) << (i - 1) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS hi FROM embeddings), " +
      s"q AS (SELECT vec_id AS q_id, embedding AS q_emb, lo AS q_lo, hi AS q_hi FROM e WHERE vec_id < ${VectorOps.QuerySetSize}), " +
      s"c AS (SELECT vec_id, embedding, lo, hi FROM e WHERE vec_id >= ${VectorOps.QuerySetSize}), " +
      "s1 AS (SELECT q_id, vec_id, bit_count(xor(q_lo, lo)) + bit_count(xor(q_hi, hi)) AS hd FROM c CROSS JOIN q), " +
      "r1 AS (SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY hd, vec_id) AS prn FROM s1), " +
      s"cand AS (SELECT q_id, vec_id FROM r1 WHERE prn <= ${VectorOps.HamCandidates}), " +
      s"s2 AS (SELECT cand.q_id, cand.vec_id, ${dotSql("q_emb", "embedding")} / (sqrt(${sqNorm("q_emb")}) * sqrt(${sqNorm("embedding")})) AS cos FROM cand JOIN c ON cand.vec_id = c.vec_id JOIN q ON cand.q_id = q.q_id), " +
      "r2 AS (SELECT q_id, vec_id, cos, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn FROM s2) " +
      s"SELECT q_id, vec_id, cos, CAST(rn AS INT) AS rn FROM r2 WHERE rn <= ${VectorOps.TopK} ORDER BY q_id, rn"),
    "sim_mmr" -> mmrSql,
    "sim_hnsw" -> hnswSql,
    "sim_hnsw_incremental" -> hnswIncSql,
    "sample_fps" -> fpsSql,
    // MIPS: same brute scan as sim_topk ranked by the RAW dot product —
    // the float fold mirrors Vec.dotF term for term (dotSql)
    "sim_mips" ->
      s"WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < ${VectorOps.QuerySetSize}), c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= ${VectorOps.QuerySetSize}), s AS (SELECT q_id, vec_id, ${dotSql("q_emb", "embedding")} AS dot FROM c CROSS JOIN q), r AS (SELECT q_id, vec_id, dot, row_number() OVER (PARTITION BY q_id ORDER BY dot DESC, vec_id) AS rn FROM s) SELECT q_id, vec_id, dot, CAST(rn AS INT) AS rn FROM r WHERE rn <= ${VectorOps.TopK} ORDER BY q_id, rn",
    // sim_mips_ivf: the sim_ivf CTE chain rebuilt in the norm-AUGMENTED
    // (Dim+1)-dim space — m2 = max corpus squared norm, a = every vector
    // extended with CAST(sqrt(m2 − ‖x‖²) AS REAL) (queries with 0, the
    // same float rounding as the engine's .cast("float")); centroids /
    // assignment / probes run on the augmented `ix`, candidate scoring on
    // the ORIGINAL embeddings' raw dot (the Shrivastava-Li identity makes
    // the rankings equal)
    "sim_mips_ivf" ->
      (s"WITH m AS (SELECT max(${sqNorm("embedding")}) AS m2 FROM embeddings WHERE vec_id >= ${VectorOps.QuerySetSize}), " +
      s"a AS (SELECT vec_id, label, embedding, embedding || [CAST(CASE WHEN vec_id < ${VectorOps.QuerySetSize} THEN 0 ELSE sqrt(m.m2 - ${sqNorm("embedding")}) END AS REAL)] AS ix FROM embeddings, m), " +
      s"cell AS (SELECT label AS c_label, g.i AS pos, CAST(CAST(ix[g.i] AS DOUBLE) AS DECIMAL(28,20)) AS v FROM a, (SELECT unnest(generate_series(1, ${VectorOps.Dim + 1})) AS i) g), " +
      "comp AS (SELECT c_label, pos, CAST(sum(v) AS DOUBLE) / count(1) AS comp FROM cell GROUP BY 1, 2), " +
      "cent AS (SELECT c_label, list(comp ORDER BY pos) AS cvec FROM comp GROUP BY 1), " +
      s"asg AS (SELECT vec_id, embedding, c_label, row_number() OVER (PARTITION BY vec_id ORDER BY ${sqDistSql("ix", "cvec")}, c_label) AS rn FROM a, cent), " +
      s"inv AS (SELECT vec_id, embedding, c_label AS ilist FROM asg WHERE rn = 1 AND vec_id >= ${VectorOps.QuerySetSize}), " +
      s"probes AS (SELECT vec_id AS q_id, embedding AS q_emb, c_label AS ilist FROM asg WHERE rn <= ${VectorOps.IvfProbes} AND vec_id < ${VectorOps.QuerySetSize}), " +
      s"sc AS (SELECT q_id, inv.vec_id, ${dotSql("q_emb", "inv.embedding")} AS dot FROM inv JOIN probes USING (ilist)), " +
      "r AS (SELECT q_id, vec_id, dot, row_number() OVER (PARTITION BY q_id ORDER BY dot DESC, vec_id) AS rn FROM sc) " +
      s"SELECT q_id, vec_id, dot, CAST(rn AS INT) AS rn FROM r WHERE rn <= ${VectorOps.AnnTopK} ORDER BY q_id, rn"),
    "sim_ivf" ->
      (s"WITH cell AS (SELECT label AS c_label, g.i AS pos, CAST(CAST(embedding[g.i] AS DOUBLE) AS DECIMAL(28,20)) AS v FROM embeddings, (SELECT unnest(generate_series(1, ${VectorOps.Dim})) AS i) g), " +
      "comp AS (SELECT c_label, pos, CAST(sum(v) AS DOUBLE) / count(1) AS comp FROM cell GROUP BY 1, 2), " +
      s"cent AS (SELECT c_label, list(comp ORDER BY pos) AS cvec FROM comp GROUP BY 1), asg AS (SELECT vec_id, embedding, c_label, row_number() OVER (PARTITION BY vec_id ORDER BY ${sqDistSql("embedding", "cvec")}, c_label) AS rn FROM embeddings, cent), inv AS (SELECT vec_id, embedding, c_label AS ilist FROM asg WHERE rn = 1 AND vec_id >= ${VectorOps.QuerySetSize}), probes AS (SELECT vec_id AS q_id, embedding AS q_emb, c_label AS ilist FROM asg WHERE rn <= ${VectorOps.IvfProbes} AND vec_id < ${VectorOps.QuerySetSize}), sc AS (SELECT q_id, inv.vec_id, ${dotSql("q_emb", "inv.embedding")} / (sqrt(${sqNorm("q_emb")}) * sqrt(${sqNorm("inv.embedding")})) AS cos FROM inv JOIN probes USING (ilist)), r AS (SELECT q_id, vec_id, cos, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn FROM sc) SELECT q_id, vec_id, cos, CAST(rn AS INT) AS rn FROM r WHERE rn <= ${VectorOps.AnnTopK} ORDER BY q_id, rn"),
    // vec_pq: same exact-decimal centroid CTEs as sim_ivf, sliced into
    // subspaces; codes AND the ordered-fold reconstruction error hash-gate
    "vec_pq" ->
      (s"WITH $pqCodebookCtes, " +
      s"vs AS (SELECT vec_id, s, embedding[s * ${VectorOps.PqSubDim} + 1 : s * ${VectorOps.PqSubDim} + ${VectorOps.PqSubDim}] AS subv FROM embeddings, sg), " +
      s"dd AS (SELECT vec_id, vs.s AS s, c_label, ${sqDistSql("subv", "csub")} AS d2 FROM vs JOIN cs ON vs.s = cs.s), " +
      "b AS (SELECT vec_id, s, c_label, d2, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c_label) AS rn FROM dd), " +
      "f AS (SELECT vec_id, list(c_label ORDER BY s) AS codes, round(list_sum(list(d2 ORDER BY s)), 6) AS recon_err FROM b WHERE rn = 1 GROUP BY 1) " +
      s"SELECT vec_id, ${(0 until VectorOps.PqSubspaces).map(i => s"codes[${i + 1}] AS code_$i").mkString(", ")}, recon_err FROM f ORDER BY vec_id"),
    // vec_pq_adc: the SAME codebook + argmin CTEs produce the corpus codes;
    // the query-side LUT replays the encode's distance fold; the 4-term
    // cross-subspace sum goes through DECIMAL(28,18) so the ranking key is
    // exact (the rag_bm25 discipline)
    "vec_pq_adc" ->
      (s"WITH $pqCodebookCtes, " +
      s"vs AS (SELECT vec_id, s, embedding[s * ${VectorOps.PqSubDim} + 1 : s * ${VectorOps.PqSubDim} + ${VectorOps.PqSubDim}] AS subv FROM embeddings, sg WHERE vec_id >= ${VectorOps.QuerySetSize}), " +
      s"dd AS (SELECT vec_id, vs.s AS s, c_label, ${sqDistSql("subv", "csub")} AS d2 FROM vs JOIN cs ON vs.s = cs.s), " +
      "b AS (SELECT vec_id, s, c_label, d2, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c_label) AS rn FROM dd), " +
      "cod AS (SELECT vec_id, s, c_label AS code FROM b WHERE rn = 1), " +
      s"qs AS (SELECT vec_id AS q_id, s, embedding[s * ${VectorOps.PqSubDim} + 1 : s * ${VectorOps.PqSubDim} + ${VectorOps.PqSubDim}] AS qsub FROM embeddings, sg WHERE vec_id < ${VectorOps.QuerySetSize}), " +
      s"lut AS (SELECT q_id, s, c_label AS code, CAST(${sqDistSql("qsub", "csub")} AS DECIMAL(28,18)) AS d2c FROM qs JOIN cs USING (s)), " +
      "sc AS (SELECT q_id, vec_id, sum(d2c) AS adc_d FROM cod JOIN lut USING (s, code) GROUP BY 1, 2), " +
      "r AS (SELECT q_id, vec_id, adc_d, row_number() OVER (PARTITION BY q_id ORDER BY adc_d, vec_id) AS rn FROM sc) " +
      s"SELECT q_id, CAST(rn AS INT) AS rn, vec_id, round(CAST(adc_d AS DOUBLE), 6) AS adc " +
      s"FROM r WHERE rn <= ${VectorOps.AnnTopK} ORDER BY q_id, rn"),
    // sim_ivfpq: the composed IVF+PQ stack from the SAME codebook CTEs —
    // codes rank on the raw double d2 (law-identical to vec_pq), the coarse
    // assignment and probes on the exact-decimal subspace-sum full distance
    "sim_ivfpq" ->
      (s"WITH $pqCodebookCtes, " +
      s"vs AS (SELECT vec_id, s, embedding[s * ${VectorOps.PqSubDim} + 1 : s * ${VectorOps.PqSubDim} + ${VectorOps.PqSubDim}] AS subv FROM embeddings, sg), " +
      s"dd AS (SELECT vec_id, vs.s AS s, c_label, ${sqDistSql("subv", "csub")} AS d2, CAST(${sqDistSql("subv", "csub")} AS DECIMAL(28,18)) AS d2c FROM vs JOIN cs USING (s)), " +
      s"b AS (SELECT vec_id, s, c_label, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c_label) AS rn FROM dd WHERE vec_id >= ${VectorOps.QuerySetSize}), " +
      "cod AS (SELECT vec_id, s, c_label AS code FROM b WHERE rn = 1), " +
      "fl AS (SELECT vec_id, c_label, sum(d2c) AS fd FROM dd GROUP BY 1, 2), " +
      s"il AS (SELECT vec_id, c_label AS ilist FROM (SELECT vec_id, c_label, row_number() OVER (PARTITION BY vec_id ORDER BY fd, c_label) AS rn FROM fl WHERE vec_id >= ${VectorOps.QuerySetSize}) WHERE rn = 1), " +
      s"pr AS (SELECT vec_id AS q_id, c_label AS ilist FROM (SELECT vec_id, c_label, row_number() OVER (PARTITION BY vec_id ORDER BY fd, c_label) AS rn FROM fl WHERE vec_id < ${VectorOps.QuerySetSize}) WHERE rn <= ${VectorOps.IvfProbes}), " +
      s"lut AS (SELECT vec_id AS q_id, s, c_label AS code, d2c FROM dd WHERE vec_id < ${VectorOps.QuerySetSize}), " +
      "sc AS (SELECT pr.q_id, cod.vec_id, sum(lut.d2c) AS adc_d FROM cod JOIN il USING (vec_id) JOIN pr USING (ilist) " +
      "JOIN lut ON lut.q_id = pr.q_id AND lut.s = cod.s AND lut.code = cod.code GROUP BY 1, 2), " +
      "r AS (SELECT q_id, vec_id, adc_d, row_number() OVER (PARTITION BY q_id ORDER BY adc_d, vec_id) AS rn FROM sc) " +
      s"SELECT q_id, CAST(rn AS INT) AS rn, vec_id, round(CAST(adc_d AS DOUBLE), 6) AS adc " +
      s"FROM r WHERE rn <= ${VectorOps.AnnTopK} ORDER BY q_id, rn"),
    "sim_ann" ->
      (s"WITH e AS (SELECT vec_id, embedding, $bucket8 AS bucket FROM embeddings), " +
      s"q AS (SELECT vec_id AS q_id, embedding AS q_emb, xor(bucket, m.mask) AS bucket FROM e, (SELECT unnest(${VectorOps.AnnProbeMasks.mkString("[", ", ", "]")}) AS mask) m WHERE vec_id < ${VectorOps.QuerySetSize}), " +
      s"c AS (SELECT vec_id, embedding, bucket FROM e WHERE vec_id >= ${VectorOps.QuerySetSize}), " +
      s"s AS (SELECT q_id, c.vec_id, ${dotSql("q_emb", "c.embedding")} / (sqrt(${sqNorm("q_emb")}) * sqrt(${sqNorm("c.embedding")})) AS cos FROM c JOIN q USING (bucket)), " +
      "r AS (SELECT q_id, vec_id, cos, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn FROM s) " +
      s"SELECT q_id, vec_id, cos, CAST(rn AS INT) AS rn FROM r WHERE rn <= ${VectorOps.AnnTopK} ORDER BY q_id, rn"),
    // the FULL float loop to convergence + cluster report (round 16 —
    // closes the registry's last no_oracle row; see kmeansFloatSql)
    "kmeans_clusters" -> kmeansFloatSql,
    "kmeans_assign" ->
      ("WITH r AS (SELECT vec_id, label, embedding, row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn FROM embeddings), " +
      "cent AS (SELECT CAST(row_number() OVER (ORDER BY label) - 1 AS INT) AS cid, embedding AS cvec FROM r WHERE rn = 1), " +
      s"a AS (SELECT e.vec_id, e.label, c.cid, ${sqDistSql("e.embedding", "c.cvec")} AS dist, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqDistSql("e.embedding", "c.cvec")}, c.cid) AS arn FROM embeddings e CROSS JOIN cent c) " +
      "SELECT vec_id, label, cid, round(dist, 6) AS sq_dist FROM a WHERE arn = 1 ORDER BY vec_id"),
    // the loop's first re-center step: same init + argmin as kmeans_assign,
    // then the per-(cluster, dimension) mean with the exact-decimal sum
    // discipline the Spark loop itself uses (same pattern as sim_ivf's
    // centroid build)
    "kmeans_iter1" ->
      ("WITH r AS (SELECT vec_id, label, embedding, row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn FROM embeddings), " +
      "cent AS (SELECT CAST(row_number() OVER (ORDER BY label) - 1 AS INT) AS cid, embedding AS cvec FROM r WHERE rn = 1), " +
      s"a AS (SELECT e.vec_id, e.embedding, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqDistSql("e.embedding", "c.cvec")}, c.cid) AS arn FROM embeddings e CROSS JOIN cent c), " +
      "asg AS (SELECT cid, embedding FROM a WHERE arn = 1), " +
      s"ex AS (SELECT cid, CAST(g.i - 1 AS INT) AS pos, CAST(CAST(embedding[g.i] AS DOUBLE) AS DECIMAL(28,20)) AS v FROM asg, (SELECT unnest(generate_series(1, ${VectorOps.Dim})) AS i) g) " +
      "SELECT cid, pos, round(CAST(sum(v) AS DOUBLE) / count(1), 6) AS center_val, count(1) AS n FROM ex GROUP BY 1, 2 ORDER BY 1, 2"),
    // the FULL integer-grid k-means loop replayed by a recursive CTE (the
    // graph_pagerank floor-exactness trick — see VectorOps.kmeansIntTrace):
    // all 8 iterations' centroids/sizes hash-gated, not just one step
    "kmeans_int_trace" ->
      (s"WITH RECURSIVE pts AS (SELECT event_id, CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS x, CAST(event_id % 997 AS BIGINT) AS y FROM events), " +
      s"init AS (SELECT CAST(event_id % ${VectorOps.KmIntK} AS INT) AS cid, arg_min(x, event_id) AS cx, arg_min(y, event_id) AS cy FROM pts GROUP BY 1), " +
      "c AS (SELECT cid, cx, cy, CAST(0 AS BIGINT) AS n_pts, 0 AS iter FROM init " +
      s"UNION ALL SELECT CAST(a.cid AS INT) AS cid, CAST(floor(sum(a.x) * 1.0 / count(1)) AS BIGINT) AS cx, CAST(floor(sum(a.y) * 1.0 / count(1)) AS BIGINT) AS cy, count(1) AS n_pts, min(a.iter) + 1 AS iter " +
      s"FROM (SELECT p.x, p.y, min(c.iter) AS iter, min(((p.x - c.cx) * (p.x - c.cx) + (p.y - c.cy) * (p.y - c.cy)) * ${VectorOps.KmIntK} + c.cid) % ${VectorOps.KmIntK} AS cid " +
      s"FROM pts p JOIN c ON c.iter < ${VectorOps.KmIntIters} GROUP BY p.event_id, p.x, p.y) a GROUP BY 1) " +
      "SELECT iter, cid, cx, cy, n_pts FROM c WHERE iter >= 1 ORDER BY iter, cid"),
  )
}
