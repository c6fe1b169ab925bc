package graft.operators

import graft.{Staging, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import graft.functions.OracleSort._
import org.apache.spark.sql.functions._

/** Text-analysis and document-deduplication operators (SURVEY §2.K1/K2/K5,
  * plus the wikipedia ranking capability §2.D2/D4/D5).
  *
  * Everything here is pure Catalyst — shingling, MinHash, SimHash and
  * fingerprints are built from `split`/`transform`/`aggregate`/`md5`, so the
  * hot path stays inside whole-stage codegen and the DuckDB oracle can
  * recompute identical values (md5 is the portable hash both engines share).
  *
  * Scale shapes (the part that must survive 100 TB):
  *  - ranking/TF-IDF: explode → groupBy — shuffle volume ∝ distinct
  *    (doc, token) pairs, partial-aggregated map-side.
  *  - MinHash/n-gram dedup: banded LSH — candidates come from
  *    `groupBy(band, signature)` buckets and a bucket self-join, NEVER an
  *    all-pairs cross join; verification joins candidate pairs back to the
  *    shingle sets by doc_id (shuffle-by-key).
  *  - SimHash: per-row fold to a 16-bit signature (no shuffle), then one
  *    groupBy(signature) — near-dups land in the same bucket.
  */
object TextOps {

  /** Fixed ranking lexicon (subset of the corpus vocabulary) — the
    * wikipedia assignment's `langs` list generalized
    * [ref: wikipedia/…/WikipediaRanking.scala#langs].
    */
  val lexicon: Seq[String] =
    Seq("spark", "query", "join", "window", "stream", "vector", "hash", "merge", "filter", "batch")

  val stopwords: Seq[String] = Seq("the", "a")

  /** MinHash LSH parameters: 4 bands × 2 rows (sig = the two smallest
    * permuted hashes per band), verify threshold 0.5. r=2 makes the noise
    * candidate probability ≈ J² per band — measured per-band noise collision
    * was ~8e-4 with r=1 (82k candidate pairs at sf0.1, dominating the verify
    * join), ~1e-6 with r=2 (candidates ≈ the true near-dups). Planted dups
    * sit at J ≥ 0.8 → recall 1-(1-J²)^4 ≥ 0.98.
    */
  val MinhashBands = 4
  val MinhashTau = 0.5

  /** n-gram dedup: char 4-grams, single min-md5 band for blocking. */
  val NgramTau = 0.5

  private def words(c: Column): Column = split(c, " ")

  /** n-word shingles (all occurrences, in order); short docs yield one
    * whole-text shingle so the expression never produces an empty array.
    * Computed by the native `Kernels.wordShingles` kernel — the HOF chain
    * below is kept as `shinglesHof` for the bitwise parity law in
    * NativeVecSpec (round-11 verdict #1: the interpreted HOF was the last
    * CodegenFallback on a hot path, 49.7 s at 100× for text_collocations).
    */
  def shingles(text: Column, n: Int): Column =
    graft.plans.Kernels.wordShingles(text, n)

  /** Reference HOF form of `shingles` (1-based `slice`; parity-test oracle). */
  def shinglesHof(text: Column, n: Int): Column = {
    val w = words(text)
    transform(sequence(lit(1), greatest(size(w) - (n - 1), lit(1))),
      i => concat_ws(" ", slice(w, i, lit(n))))
  }

  /** Distinct character n-grams of the raw text. */
  def charGrams(text: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(text) - (n - 1), lit(1))),
      i => text.substr(i, lit(n))))

  /** md5 hex of a string column's UTF-8 bytes (= DuckDB `md5(varchar)`). */
  private def md5s(c: Column): Column = md5(c.cast("binary"))

  /** Canonical text normal form — lowercase, trimmed, whitespace collapsed.
    * THE single definition: `text_normalize` and `dedup_pipeline`'s exact
    * stage must agree exactly (SparkEntry mirrors it once as `normSql`).
    */
  private[graft] def normText(c: Column): Column =
    regexp_replace(trim(lower(c)), " +", " ")

  // ------------------------------------------------------------------
  // Ranking / TF-IDF (wikipedia capability + §2.K5)
  // ------------------------------------------------------------------

  /** D2/D4/D5 `rank_tokens`: rank the lexicon by number of documents that
    * mention each token — the wikipedia assignment's three strategies
    * collapsed into the one-pass plan its `reduceByKey` variant teaches
    * [ref: wikipedia/…/WikipediaRanking.scala#rankLangsReduceByKey]:
    * explode(distinct tokens ∩ lexicon) → groupBy → count → orderBy. One
    * scan, map-side partial aggregation, shuffle ∝ lexicon size.
    *
    * The final rank window is global but runs over ≤ |lexicon| rows (post-
    * aggregation), so the single-partition window is not a scale concern.
    */
  def rankTokens(s: SparkSession, dir: String): DataFrame = {
    val lex = array(lexicon.map(lit): _*)
    Tables.documents(s, dir)
      .select(explode(array_intersect(array_distinct(words(col("text"))), lex)).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("rnk", rank().over(Window.orderBy(desc("n_docs"))).cast("int"))
      .oracleSorted(desc("n_docs"), asc("token"))
  }

  /** D2/D4/D5′ `rank_strategies`: the reference's pedagogical THREE-STRATEGY
    * comparison as a runnable, hash-gated query [ref: wikipedia/…/
    * WikipediaRanking.scala#rankLangs / #rankLangsUsingIndex /
    * #rankLangsReduceByKey]. Each strategy computes the SAME lexicon ranking
    * by a genuinely different plan, and all three land labeled in ONE gated
    * result, so cross-strategy equality is a hash-checked law (the DuckDB
    * oracle computes the ranking once and cross-joins the three labels — a
    * divergent strategy breaks the hash):
    *
    *  - `rescan`  — one filtered `count()` job per lexicon token: |lexicon|
    *    full passes over the corpus. This is the anti-pattern the assignment
    *    teaches away from, reproduced deliberately as the exhibit; cost is
    *    bounded by |lexicon| (= ${lexicon.size}) driver-loop iterations, each
    *    a distributed scan+count, never O(rows) on the driver.
    *  - `index`   — materialize the inverted (token → doc) index with
    *    `persist()` (the assignment's `makeIndex`), aggregate counts FROM the
    *    cached index, then unpersist. The post-aggregation collect is
    *    ≤ |lexicon| rows.
    *  - `onepass` — single scan, explode(distinct ∩ lexicon) → partial-agg
    *    groupBy: the `reduceByKey` lesson's conclusion, identical to the
    *    standalone `rank_tokens` plan, kept fully distributed here.
    *
    * StrategySpec asserts the mechanics (rescan really runs ≥ |lexicon|
    * jobs; index really reads an InMemoryRelation; onepass does neither) —
    * this query gates the agreement of their results.
    */
  def rankStrategies(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val lex = array(lexicon.map(lit): _*)

    // strategy 1: naive rescan — one job per token (pedagogical exhibit).
    // Round-17 (guide §1.2 step 2): token membership in split(text, " ")
    // for a non-empty, space-free token t is EXACTLY a substring match of
    // " t " against " text " (split-on-single-space boundaries are spaces
    // or string edges; empty tokens from runs of spaces can never equal t)
    // — a codegen Contains instead of |lexicon| per-row array
    // materializations. The anti-pattern exhibited — one full corpus pass
    // per token — is untouched (StrategySpec asserts the job count).
    val rescan: DataFrame = lexicon.map { t =>
      t -> docs.where(concat(lit(" "), col("text"), lit(" ")).contains(s" $t ")).count()
    }.toDF("token", "n_docs")

    // strategy 2: inverted index, cached, counts read from the cache.
    val index = docs
      .select(explode(array_intersect(array_distinct(words(col("text"))), lex)).as("token"),
        col("doc_id"))
      .persist()
    val indexCounts =
      try index.groupBy("token").agg(count(lit(1)).as("n_docs")).collect().toSeq
      finally index.unpersist(false)
    val fromIndex: DataFrame = indexCounts
      .map(r => (r.getString(0), r.getLong(1))).toDF("token", "n_docs")

    // strategy 3: one-pass partial aggregation (= rank_tokens), distributed.
    val onepass = docs
      .select(explode(array_intersect(array_distinct(words(col("text"))), lex)).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n_docs"))

    val labeled = rescan.withColumn("strategy", lit("rescan"))
      .unionByName(fromIndex.withColumn("strategy", lit("index")))
      .unionByName(onepass.withColumn("strategy", lit("onepass")))
    labeled
      .withColumn("rnk",
        rank().over(Window.partitionBy("strategy").orderBy(desc("n_docs"))).cast("int"))
      .select("strategy", "token", "n_docs", "rnk")
      .oracleSorted(asc("strategy"), desc("n_docs"), asc("token"))
  }

  /** K5 `text_tfidf`: per-(doc, token) TF-IDF. The doc-frequency side is
    * vocabulary-sized, so it broadcasts; N comes from a 1-row broadcast
    * hash join (`attachScalarRow`) — no driver-side constants baked into
    * the plan.
    */
  def textTfidf(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ScalarAttach._
    val docs = Tables.documents(s, dir)
    // Round-17 (guide §2.4; the rag_bm25 index-once shape): tf feeds BOTH
    // the document-frequency aggregate and the probe join — without the
    // cut each consumer re-ran the corpus explode + aggregation (2 full
    // token-stream passes → 1).
    val tf = docs
      .select(col("doc_id"), explode(words(col("text"))).as("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false)
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(broadcast(dfreq), "token")
      .attachScalarRow(n)
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6).as("tfidf"))
      .oracleSorted("doc_id", "token")
  }

  /** Token counting: whitespace tokens, regex (BPE-ish `[a-z]+|[0-9]+`)
    * tokens, chars, and the chars/4 BPE-count heuristic. Narrow per-row
    * projection — no shuffle except the oracle-mandated terminal sort.
    */
  def textTokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        size(words(col("text"))).as("n_ws_tokens"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+', 0)")).as("n_re_tokens"),
        length(col("text")).as("len_chars"),
        ceil(length(col("text")) / lit(4.0)).cast("long").as("n_bpe_est"))
      .oracleSorted("doc_id")

  /** `explode_tokens`: lateral flatten with position — one output row per
    * (doc, token occurrence), the canonical long-format handoff to
    * sequence-labeling / alignment stages. `posexplode` is a generator, not
    * a join: the flatten is a narrow per-partition expansion (no shuffle),
    * and output volume is ∝ total token occurrences — the same cost any
    * consumer of per-token rows must pay anyway.
    */
  def explodeTokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
      .oracleSorted("doc_id", "pos")

  /** `text_chunk`: fixed-window chunking with overlap — split each document
    * into `ChunkLen`-char windows every `ChunkStride` chars (50-char overlap),
    * the standard context-window packing precursor for embedding / training
    * pipelines. `sequence(0, len-1, stride)` generates the start offsets
    * per row and `posexplode` flattens them: narrow, zero-shuffle, output ∝
    * total chunk text. Empty documents still emit one empty chunk (a doc is
    * never silently dropped).
    */
  val ChunkLen = 200
  val ChunkStride = 150

  /** Shared chunk derivation — `text_chunk`'s frame, reused verbatim by
    * `rag_retrieve` so the retrieval corpus cannot drift from the chunker.
    */
  private[graft] def chunkFrame(s: SparkSession, dir: String): DataFrame = {
    val chunk = col("text").substr(col("off") + 1, lit(ChunkLen))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"),
        posexplode(sequence(lit(0), greatest(length(col("text")) - 1, lit(0)), lit(ChunkStride)))
          .as(Seq("chunk_id", "off")))
      .select(col("doc_id"), col("chunk_id"), chunk.as("chunk"),
        length(chunk).cast("int").as("chunk_len"))
  }

  def textChunk(s: SparkSession, dir: String): DataFrame =
    chunkFrame(s, dir).oracleSorted("doc_id", "chunk_id")

  /** `rag_retrieve` (round 10): the retrieval stage of a RAG pipeline as ONE
    * composed query — chunk the corpus (`chunkFrame`, shared verbatim with
    * `text_chunk`), embed every chunk, embed the queries the same way, and
    * return each query's top-`RagTopK` chunks by similarity.
    *
    * The embedding is a hashed bag-of-words count vector (feature hashing,
    * Weinberger 2009): token → house md5-prefix hash mod `RagDims`, vector
    * = per-dimension counts. ALL-INTEGER, so the dot-product scores — and
    * therefore the ranking — are engine-exact and the full top-k result
    * hash-gates against DuckDB (a float model embedding would be
    * `no_oracle`; the plumbing, not the model, is what an engine owns).
    * Queries are every `RagQueryMod`-th document below `RagMaxQueryDoc` —
    * a query set bounded by construction at every scale.
    *
    * Scale shape is the one that holds at 100 TB: the query table is tiny
    * by construction → BROADCAST cross join (fan-out only on the broadcast
    * side, corpus scanned once, zero shuffle for scoring); per-query top-k
    * via a window partitioned by query (bounded partitions — one row per
    * corpus chunk per query enters, k leave). Both hot stages run native
    * kernels: embedding via the fused `Kernels.hashedBow` (one
    * md5+count loop per row; the HOF form's per-dimension interpreted
    * filters cost 3.9 s for 12k chunks at sf0.1 — parity law in
    * NativeVecSpec) and scoring via `Vec.dotF` (codegen'd; the float
    * lanes are exact for these small-integer counts, so the long-cast
    * scores still hash-gate). For a real float-embedding corpus the
    * IVF/LSH index (`sim_ivf`/`sim_ann`) replaces the brute-force scan —
    * same frame, same top-k tail.
    */
  val RagDims = 16
  val RagTopK = 3
  val RagQueryMod = 100

  /** Hard cap on the query-doc id — what makes the query set BOUNDED BY
    * CONSTRUCTION (the BNLJ grant's premise): real retrieval query sets
    * don't grow with the corpus, but `doc_id % RagQueryMod` alone would
    * (measured: at 100× it made 5k queries × 1.25M chunks — a 6.25-G-row
    * window sort that spilled the disk dry). With the cap the query count
    * is ≤ 50 at EVERY scale (identical result at 1×/10× where all doc_ids
    * are below it), and the scored-row mass is linear in the corpus.
    */
  val RagMaxQueryDoc = 5000L

  /** Hashed-BoW embedding of a text column: md5-prefix hash per token
    * (house portable-hash idiom), then per-dimension counts — emitted as
    * `array<float>` so the scoring stage can run the codegen'd
    * `Vec.dotF` kernel. Counts are small integers (≤ tokens per doc ≪
    * 2^24), so the float lanes, the float64-accumulated dot, and the
    * terminal long cast are all EXACT — the oracle stays pure-integer.
    */
  /** The HOF reference form of the embedding (md5 per token → per-dim
    * filter counts) — kept for the bitwise parity law in NativeVecSpec;
    * the production path is the fused `Kernels.hashedBow` (the `dims`
    * interpreted filter lambdas per row cost 3.9 s for 12k rows at sf0.1).
    */
  private[graft] def hashedBowHof(textCol: String): Column = {
    val th = s"transform(split($textCol, ' '), t -> " +
      s"cast(conv(substring(md5(cast(t as binary)), 1, 15), 16, 10) as bigint) % $RagDims)"
    expr(s"transform(sequence(0, ${RagDims - 1}), d -> " +
      s"cast(size(filter($th, h -> h = cast(d as bigint))) as float))")
  }

  def ragRetrieve(s: SparkSession, dir: String): DataFrame =
    ragDenseRanked(s, dir, RagTopK).oracleSorted("query_doc", "rnk")

  /** The dense ranked list at depth `k` — `rag_retrieve` IS this at
    * k = `RagTopK`; `rag_hybrid` fuses it at k = `HybridN` (one body, so
    * the registered query and the fusion input cannot drift).
    */
  private[graft] def ragDenseRanked(s: SparkSession, dir: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The repartition is a deliberate pipeline barrier, not a distribution
    // need: whole-stage codegen DEFERS a deterministic projection into the
    // nested-loop join's build loop, so without it `vec` re-evaluates per
    // (chunk × query) PAIR — measured 3.6 s vs 0.4 s at sf0.1. The exchange
    // materializes the embedding exactly once per chunk (the "build the
    // embedding table" stage every vector pipeline has anyway); it ships
    // ids + 16 floats, far smaller than the chunk text it replaces.
    // Round-17 (guide §2.2): the barrier keeps an EXPLICIT partition count
    // (scale-adaptive: defaultParallelism), because a bare repartition(col)
    // is AQE-coalescible and the embedding table is small enough that AQE
    // folded it to one partition — serializing the |queries| × |chunks|
    // scoring stage and the top-k window above it.
    val chunks = chunkFrame(s, dir)
      .select(col("doc_id"), col("chunk_id"),
        graft.plans.Kernels.hashedBow(col("chunk"), RagDims).as("vec"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"), col("chunk_id"))
    val queries = Tables.documents(s, dir)
      .where(col("doc_id") % RagQueryMod === 0 && col("doc_id") < RagMaxQueryDoc)
      .select(col("doc_id").as("query_doc"),
        graft.plans.Kernels.hashedBow(col("text"), RagDims).as("qvec"))
    val w = Window.partitionBy("query_doc")
      .orderBy(desc("score"), asc("doc_id"), asc("chunk_id"))
    chunks.crossJoin(broadcast(queries))
      // the 100 TB hot path: |queries| × |chunks| scoring rows — the native
      // kernel keeps the stage in whole-stage codegen where the HOF form
      // evaluates interpreted (measured here: 6.1 s → sub-second at sf0.1)
      .withColumn("score",
        graft.functions.Vec.dotF(col("qvec"), col("vec")).cast("long"))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select("query_doc", "rnk", "doc_id", "chunk_id", "score")
  }

  /** K31 `rag_bm25` constants: the standard Okapi parameters. The derived
    * literals (`k1+1`, `1−b`) are spelled as their own decimal literals on
    * BOTH engines — `1.2 + 1.0` in float64 rounds at the last bit, and
    * whether the two engines fold that constant identically is exactly the
    * kind of cross-engine coupling the house float rules exist to avoid.
    */
  val Bm25TopK = 3

  /** K31 `rag_bm25` (round 10): sparse lexical retrieval — the OTHER half
    * of a production retrieval stack next to `rag_retrieve`'s dense
    * vectors (hybrid BM25 + vector retrieval is the default RAG shape).
    * Okapi BM25 (Robertson 1994) over the SAME chunk frame (`chunkFrame`,
    * shared verbatim with `text_chunk`/`rag_retrieve` — the sparse and
    * dense corpora cannot drift from each other): per query, the top-k
    * chunks by Σ_{t ∈ q ∩ chunk} idf(t) · tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)),
    * idf = ln(1 + (N−df+0.5)/(df+0.5)) (the Lucene positive-idf form).
    *
    * Oracle-exactness (the `text_logprob` discipline): every per-term
    * contribution is a float64 expression tree mirrored OPERATION FOR
    * OPERATION in the SQL (identical doubles in → identical doubles out;
    * ln of identical doubles matches DuckDB), and the order-sensitive
    * cross-term sum goes through DECIMAL(28,18) so it is partition- and
    * merge-order free. The RANKING key is the exact decimal sum itself —
    * never the rounded display value — so rank and score cannot disagree.
    *
    * Scale shape (round 11 — the round-10 plan rebuilt the token stream
    * once per CONSUMER): the tf table — the inverted index every search
    * engine builds exactly once — sits behind a LAZY `localCheckpoint`
    * (first materialized by the df-broadcast job, the benched 3.33 s
    * plan), and ALL THREE downstream consumers (the per-term df,
    * the global (N, Σdl) pair, and the query probe itself) read the
    * materialized rows instead of re-running chunk→explode→aggregate.
    * The round-10 shape paid that pipeline three times (once under the
    * df broadcast job, once for the probe, once — pre-aggregation — for
    * the stats scan) AND evaluated the ln + decimal-cast score arithmetic
    * once per (posting × matching query) pair — 15M evaluations at sf0.1
    * where 300k suffice, since idf·norm is query-independent. Benched
    * flag-free at sf0.1: round-10 plan 6.17 s → this plan 3.33 s (the
    * A/B the round-10 VERDICT asked for, step by step: index-once cut
    * 6.17→5.3; contrib-per-posting 5.3→3.3; a window-derived dl variant
    * REGRESSED to 4.8 — a localCheckpoint does not carry partitioning
    * into the logical plan, so the window re-paid exchange+sort — and was
    * dropped). The tf aggregation partial-aggregates map-side (shuffle ∝
    * distinct (chunk, term) pairs, 2-3× below raw occurrences on natural
    * text); the round-10 upfront `repartition(doc_id, chunk_id)` that
    * moved the RAW occurrence stream is gone. df and the query-term
    * table are vocabulary-/query-bounded → broadcast; the global (N,
    * Σdl) pair is a 1-row `attachScalarRow` DERIVED FROM tf (a chunk
    * with dl>0 appears in tf by construction, so no separate corpus
    * scan). The per-posting `contrib` frame is repartitioned on
    * (doc_id, chunk_id), which satisfies the score agg's
    * ClusteredDistribution(query, doc, chunk) by the subset rule — the
    * query fan-out is generated AND hash-aggregated inside one codegen
    * stage, never exchanged; the top-k window then moves only scored
    * (query, chunk) rows — bounded by |queries|·|matched chunks|, not by
    * the corpus.
    */
  def ragBm25(s: SparkSession, dir: String): DataFrame =
    ragSparseRanked(s, dir, Bm25TopK)
      .select(col("query_doc"), col("rnk"), col("doc_id"), col("chunk_id"),
        round(col("score_d").cast("double"), 6).as("score"))
      .oracleSorted("query_doc", "rnk")

  /** The sparse (BM25) ranked list at depth `k` — `rag_bm25` IS this at
    * k = `Bm25TopK` plus the rounded display projection; `rag_hybrid`
    * fuses it at k = `HybridN`. The ranking key stays the exact decimal
    * sum throughout.
    */
  private[graft] def ragSparseRanked(s: SparkSession, dir: String, k: Int): DataFrame = {
    import graft.functions.ScalarAttach._
    import org.apache.spark.sql.types.DecimalType
    // array_remove(split(...), "") ≡ filter(split(...), t => t =!= "") —
    // same array for any input — but ArrayRemove is a codegen expression
    // while the filter HOF is CodegenFallback (interpreted per row, a
    // closure per element) — round-17, guide §1.2 step 2
    val realToks = (c: Column) => array_remove(split(c, " "), "")
    // chunk token stream; dl (chunk token count) is a PER-ROW function of
    // the chunk text, computed before the explode — no window, no rejoin.
    // Round-17 (guide §1.2 step 2): the token array is materialized as its
    // own projection BELOW the Generate — `size(realToks(c))` and
    // `explode(realToks(c))` in one select evaluated the interpreted
    // split+filter HOF TWICE per chunk row (the generator input is
    // evaluated in the Generate node, outside the child project's
    // common-subexpression elimination); via an attribute it runs once.
    val tok = chunkFrame(s, dir)
      .select(col("doc_id"), col("chunk_id"), realToks(col("chunk")).as("toks"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
    // THE INVERTED INDEX, built exactly once (lazy cut — the first
    // consuming job, the dfT broadcast, materializes it): every consumer
    // below reads the materialized rows — see the Scaladoc scale shape.
    // (A localCheckpoint does NOT carry partitioning into the logical
    // plan, so the (d,c) clustering the score agg needs is established on
    // the post-cut `contrib` frame below, not here.)
    val tf = tok.groupBy("doc_id", "chunk_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false)
    // chunk-level df (chunks containing the term): vocabulary-sized output
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // global stats over NON-EMPTY chunks, derived from the index itself
    // (a chunk with dl>0 has >=1 posting; (doc_id, chunk_id) determines dl)
    val stats = tf.select("doc_id", "chunk_id", "dl").distinct()
      .agg(count(lit(1)).as("n_chunks"), sum("dl").as("tot_dl"))
    val qt = Tables.documents(s, dir)
      .where(col("doc_id") % RagQueryMod === 0 && col("doc_id") < RagMaxQueryDoc)
      .select(col("doc_id").as("query_doc"),
        explode(array_distinct(realToks(col("text")))).as("term"))
    val dfD = col("df").cast("double")
    val nD = col("n_chunks").cast("double")
    val avgdl = col("tot_dl").cast("double") / col("n_chunks").cast("double")
    val idf = log(lit(1.0) + (nD - dfD + lit(0.5)) / (dfD + lit(0.5)))
    val norm = (col("tf").cast("double") * lit(2.2)) /
      (col("tf").cast("double") + lit(1.2) *
        (lit(0.25) + (lit(0.75) * col("dl").cast("double")) / avgdl))
    val w = Window.partitionBy("query_doc")
      .orderBy(desc("score_d"), asc("doc_id"), asc("chunk_id"))
    // Per-POSTING contribution, computed ONCE: idf·norm is a function of
    // (term, tf, dl) only — independent of the query — so the ln and the
    // decimal cast run |postings| times, not |postings × matching queries|
    // times (round-10 computed them after the query join: 15M evaluations
    // vs 300k at sf0.1, the actual 6-second culprit). The repartition on
    // (doc_id, chunk_id) makes HashPartitioning(d,c) satisfy the score
    // agg's ClusteredDistribution(q,d,c) (subset rule), so the query
    // fan-out — postings × matching queries — is generated AND hash-
    // aggregated inside one codegen stage, never exchanged.
    val contrib = tf.join(broadcast(dfT), "term")
      .attachScalarRow(stats)
      .select(col("doc_id"), col("chunk_id"), col("term"),
        (idf * norm).cast(DecimalType(28, 18)).as("contrib"))
      .repartition(col("doc_id"), col("chunk_id"))
    contrib.join(broadcast(qt), "term")
      .groupBy("query_doc", "doc_id", "chunk_id")
      .agg(sum("contrib").as("score_d"))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select("query_doc", "rnk", "doc_id", "chunk_id", "score_d")
  }

  /** K32 `rag_hybrid` constants. `HybridN` is the per-retriever list
    * depth the fusion consumes; `RrfK` the standard reciprocal-rank-fusion
    * damping (Cormack 2009 uses 60); `RrfL` = lcm(61..70) so that every
    * fused contribution `RrfL div (RrfK + rank)` is an EXACT integer —
    * RRF over ranks 1..10 needs only the denominators 61..70, and scaling
    * by their lcm turns the float 1/(K+r) sums into engine-exact longs
    * (max possible score 2·RrfL/61 ≈ 4.7e12 ≪ 2^63).
    */
  val HybridN = 10
  val RrfK = 60
  val RrfL = 142813628717760L

  /** K32 `rag_hybrid` (round 10): hybrid retrieval — reciprocal-rank
    * fusion (RRF, Cormack 2009) of the dense (`rag_retrieve`) and sparse
    * (`rag_bm25`) lists, the default production RAG retrieval shape
    * (lexical recall + semantic recall, fused rank-side so the two
    * scoring scales never need calibrating). Per query: take each
    * retriever's top-`HybridN`, full-outer-join on the chunk key, score
    * Σ_lists 1/(RrfK + rank) — computed as the exact integer
    * `RrfL div (RrfK + rank)` (see `RrfL`) so the fusion ranking
    * hash-gates — and keep the top `RagTopK`.
    *
    * Scale shape: the two retrieval pipelines are the proven ones
    * (`ragDenseRanked` / `ragSparseRanked`, single-sourced bodies); the
    * fusion itself touches only their top-k outputs — ≤ 2·|queries|·N
    * rows at ANY corpus scale — so the full-outer join and the final
    * window are query-bounded, not corpus-bounded. At 100 TB the corpus
    * pays one scan per retriever (exactly what running the two registered
    * queries would pay); fusion adds zero corpus-sized work. Measured
    * (round 11, flag-free sf0.1): rag_hybrid 3.68 s vs rag_retrieve
    * 0.93 s + rag_bm25 3.33 s = 4.26 s standalone — the fusion costs
    * LESS than the sum of the registered queries (the arms share the
    * session's warmed chunk scan), i.e. ≈ the sum and nothing more.
    */
  def ragHybrid(s: SparkSession, dir: String): DataFrame = {
    val rrf = (rank: String) =>
      coalesce(expr(s"CAST($RrfL AS BIGINT) div ($RrfK + $rank)"), lit(0L))
    // Each arm derives the chunk frame from the documents scan on its own
    // (Catalyst reuses the file scan; the chunking compute runs twice). A
    // shared lineage-cut chunk frame measured as a wash at 100× — 28.9 s
    // shared (`bench_rag100x_armB.json`) vs 27.7 s independent
    // (`bench_rag100x_armA.json`) median — so the simpler plan stays.
    val d = ragDenseRanked(s, dir, HybridN)
      .select(col("query_doc"), col("doc_id"), col("chunk_id"),
        col("rnk").as("dense_rnk"))
    val sp = ragSparseRanked(s, dir, HybridN)
      .select(col("query_doc"), col("doc_id"), col("chunk_id"),
        col("rnk").as("sparse_rnk"))
    val w = Window.partitionBy("query_doc")
      .orderBy(desc("rrf_score"), asc("doc_id"), asc("chunk_id"))
    d.join(sp, Seq("query_doc", "doc_id", "chunk_id"), "full_outer")
      .withColumn("rrf_score", rrf("dense_rnk") + rrf("sparse_rnk"))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= RagTopK)
      .select(col("query_doc"), col("rnk"), col("doc_id"), col("chunk_id"),
        col("rrf_score"), col("dense_rnk"), col("sparse_rnk"))
      .oracleSorted("query_doc", "rnk")
  }

  /** Fixed stage dir (see [[graft.Staging.stage]]) of the corpus n-gram
    * LM statistics SHARED by `text_ngrams`, `text_collocations`,
    * `text_logprob` and `text_logprob2` (round 16, VERDICT #3 — the `agg_kmv`/`stream_kmv`
    * shared-family discipline): all four consume the same unigram- and
    * bigram-occurrence count tables, and at 100× each was independently
    * paying the identical corpus explode+aggregate (`text_logprob2`
    * alone paid it twice — 17.1 s, the slowest non-output-dominated new
    * row). Two families, staged ONCE per documents fingerprint:
    *  - `uni` (token, c_w): split-on-space token OCCURRENCE counts;
    *  - `bi` (bigram, c_xy): 2-shingle occurrence counts, UNFLOORED and
    *    including the single-token degenerate rows — each consumer
    *    applies its own floor/shape filter, so the staged table is the
    *    one shared definition.
    * The corpus totals derive from the families themselves (t_tok =
    * Σ c_w; n_bi = Σ c_xy, since a doc of nt tokens yields exactly
    * greatest(nt−1, 1) 2-shingles) — vocabulary-sized aggregates, never a
    * corpus rescan. Values are integers, so the parquet round trip is
    * exact and the oracles — which replay the derivation from the
    * ORIGINAL documents table — still hash-gate cell-for-cell.
    */
  val NgramStageDir = "/tmp/graft_ngram_lm"

  /** The staged (uni, bi) count families all LM-statistics consumers read. */
  private[graft] def ngramCounts(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val root = Staging.stage(NgramStageDir, dir, "ngram1", s"$dir/documents.parquet") {
      target =>
        val docs = Tables.documents(s, dir)
        docs.select(explode(words(col("text"))).as("token"))
          .groupBy("token").agg(count(lit(1)).as("c_w"))
          .write.mode("overwrite").parquet(s"$target/uni")
        docs.select(explode(shingles(col("text"), 2)).as("bigram"))
          .groupBy("bigram").agg(count(lit(1)).as("c_xy"))
          .write.mode("overwrite").parquet(s"$target/bi")
    }
    (Tables.parquet(s, s"$root/uni"), Tables.parquet(s, s"$root/bi"))
  }

  /** `text_ngrams`: corpus-level bigram counts (every occurrence, not
    * per-doc distinct) with a ≥2 support floor — the n-gram LM-statistics
    * stage of a training pipeline. Reads the staged `bi` family (see
    * [[NgramStageDir]]); the support filter runs post-aggregate (HAVING).
    */
  def textNgrams(s: SparkSession, dir: String): DataFrame = {
    val (_, bi) = ngramCounts(s, dir)
    bi.select(col("bigram"), col("c_xy").as("n"))
      .filter(col("n") >= 2)
      .oracleSorted(desc("n"), asc("bigram"))
  }

  /** K33 `text_collocations` (round 11): PMI-ranked collocations (Church &
    * Hanks 1990) — the phrase-mining corpus statistic behind tokenizer
    * merge seeding and multi-word-expression extraction, one level above
    * `text_ngrams`' raw counts: PMI(x,y) = ln p(x,y) − ln p(x) − ln p(y),
    * with bigram probabilities from the shingle stream (N = Σ per-doc
    * shingle count, the `text_ngrams` convention incl. its single-token
    * degenerate rows — so the two operators' denominators share one
    * definition) and unigram probabilities from token occurrences.
    *
    * Oracle-exactness: counts are exact longs; PMI is evaluated as an
    * EXPLICITLY parenthesized ln chain — ((((ln c_xy + ln T) + ln T) −
    * ln N_bi) − ln c_x) − ln c_y — identical doubles in, identical
    * doubles out on both engines (the `text_logprob` discipline; the
    * factored product form c_xy·T² overflows 2^53 at 10×, measured
    * before writing it this way). Ranking = (rounded pmi, bigram) —
    * total.
    *
    * Scale: reads the staged (uni, bi) count families (round 16, see
    * [[NgramStageDir]] — the corpus explode+aggregate passes run once per
    * corpus fingerprint, shared with `text_ngrams`/`text_logprob`/
    * `text_logprob2`), unigram table broadcast twice (w1/w2 probes),
    * corpus totals as aggregates of the families via one
    * `attachScalarRow`; the ≥ `CollocMinSupport` floor prunes the long
    * tail before the joins.
    */
  val CollocMinSupport = 5

  def textCollocations(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ScalarAttach._
    // staged count families (round 16, see NgramStageDir); the corpus
    // totals are aggregates OF the families — t_tok = Σ c_w, and n_bi =
    // Σ c_xy because a doc of nt tokens yields greatest(nt−1, 1)
    // 2-shingles, so the per-doc sum and the occurrence-table sum are the
    // same number by construction
    val (uniS, biS) = ngramCounts(s, dir)
    val uni = uniS.select(col("token").as("w"), col("c_w"))
    // ONE aggregation over the union of both families (a crossJoin of two
    // 1-row aggregates would plan as a BNLJ — PlanSweepSpec bans it)
    val tot = uniS.select(col("c_w").as("v"), lit(true).as("is_tok"))
      .unionByName(biS.select(col("c_xy").as("v"), lit(false).as("is_tok")))
      .agg(sum(when(col("is_tok"), col("v"))).as("t_tok"),
        sum(when(!col("is_tok"), col("v"))).as("n_bi"))
    val bi = biS
      .filter(col("c_xy") >= CollocMinSupport &&
        size(split(col("bigram"), " ")) === 2)
    val lnD = (c: Column) => log(c.cast("double"))
    val pmi = lnD(col("c_xy")).plus(lnD(col("t_tok"))).plus(lnD(col("t_tok")))
      .minus(lnD(col("n_bi"))).minus(lnD(col("c_x"))).minus(lnD(col("c_y")))
    bi.withColumn("w1", split(col("bigram"), " ")(0))
      .withColumn("w2", split(col("bigram"), " ")(1))
      .join(broadcast(uni.select(col("w").as("w1"), col("c_w").as("c_x"))), "w1")
      .join(broadcast(uni.select(col("w").as("w2"), col("c_w").as("c_y"))), "w2")
      .attachScalarRow(tot)
      .select(col("bigram"), col("c_xy"), round(pmi, 6).as("pmi"))
      .oracleSorted(desc("pmi"), asc("bigram"))
  }

  /** Quality scoring: token count, mean word length, stopword ratio,
    * type-token ratio, and a when/otherwise quality bucket — the standard
    * cheap pre-filters of a training-data pipeline.
    */
  /** The quality bucket over a text column — ONE definition shared by
    * `text_quality` and the composed `corpus_pipeline` (a one-sided edit
    * to the thresholds must break both or neither).
    */
  private[graft] def qualityLabel(text: Column): Column = {
    val w = words(text)
    val stop = array(stopwords.map(lit): _*)
    val nTok = size(w)
    val nStop = size(filter(w, t => array_contains(stop, t)))
    when(nTok < 20, "short")
      .when(nStop.cast("double") / nTok > 0.12, "stopword_heavy")
      .otherwise("ok")
  }

  def textQuality(s: SparkSession, dir: String): DataFrame = {
    val w = words(col("text"))
    val stop = array(stopwords.map(lit): _*)
    val nTok = size(w)
    val nStop = size(filter(w, t => array_contains(stop, t)))
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        nTok.as("n_tokens"),
        round(length(regexp_replace(col("text"), " ", "")).cast("double") / nTok, 4).as("avg_word_len"),
        round(nStop.cast("double") / nTok, 4).as("stopword_ratio"),
        round(size(array_distinct(w)).cast("double") / nTok, 4).as("ttr"),
        qualityLabel(col("text")).as("quality"))
      .oracleSorted("doc_id")
  }

  /** K22 `text_logprob`: unigram-LM quality score — per doc, the mean
    * negative log-probability of its tokens under the corpus unigram
    * distribution (the CCNet-style perplexity proxy: boilerplate and
    * natural prose score low, token salad scores high — the quality
    * signal length/stopword ratios miss). Two aggregations:
    * corpus token counts (explode → partial-agg groupBy, shuffle ∝
    * distinct tokens), then a scoring join back on token (hot tokens are
    * exactly what AQE's skew split handles; the counts side is 1 row per
    * distinct token and broadcastable on bounded vocabularies) and a
    * per-doc mean. Cross-row float sums go through exact decimals
    * (DECIMAL(28,18)) so the result is partition-order independent and
    * hash-matches the oracle — the same associativity discipline as Num.
    */
  def textLogprob(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ScalarAttach._
    import org.apache.spark.sql.types.DecimalType
    // `tok` (the exploded (doc_id, token) scoring stream — the LARGEST
    // intermediate, ∝ total corpus token occurrences) is recomputed from
    // its narrow-map lineage; the count table comes from the staged `uni`
    // family (round 16, see NgramStageDir), so the corpus pays ONE
    // explode per invocation instead of two.
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("token"))
    val counts = ngramCounts(s, dir)._1
      .select(col("token"), col("c_w").as("tf"))
    val total = counts.agg(sum("tf").as("n_total"))
    tok.join(counts, "token")
      .attachScalarRow(total)
      .select(col("doc_id"),
        (-log(col("tf").cast("double") / col("n_total"))).cast(DecimalType(28, 18)).as("nlp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round((sum(col("nlp")).cast("double") / count(lit(1))), 6).as("avg_neg_logprob"))
      .oracleSorted("doc_id")
  }

  /** Bigram-LM-table support floor — shared definition with `text_ngrams`
    * (≥ 2): a bigram seen once is treated as unseen. This is also what
    * makes backoff non-vacuous when the LM scores its own training corpus
    * (with no floor, every scored bigram would trivially be in the table).
    */
  val BigramLmMinSupport = 2

  /** K22′ `text_logprob2` (round 15, VERDICT #6): bigram-LM quality score
    * with STUPID BACKOFF (Brants 2007, α = 2/5) — the word-ORDER signal
    * the unigram perplexity proxy (K22 `text_logprob`) cannot see: token
    * salad built from common words scores like prose under a unigram LM,
    * but its TRANSITIONS are unseen and every one pays the backoff
    * penalty here. Per doc, per within-doc bigram (x, y): −ln p with
    * p = c_xy/c_x when the corpus bigram table carries (x, y) at support
    * ≥ [[BigramLmMinSupport]] (the `text_ngrams` floor — the two share
    * the shingle-stream count definition), else backoff p = α·c_y/N.
    * The ln chain is explicitly parenthesized — (ln c_x − ln c_xy) on the
    * match branch, ((ln N − ln c_y) + ln 2.5) on the backoff branch —
    * identical doubles in, identical doubles out on both engines (the
    * `text_collocations` discipline; −ln α enters as +ln 2.5 computed by
    * each engine's own ln, and the round-6 output absorbs the ≤1-ulp
    * libm spread). Per-doc means go through exact DECIMAL(28,18) sums;
    * `n_backoff` rides along — the signal a quality filter thresholds.
    *
    * Scale shape: the count tables come from the staged (uni, bi)
    * families (round 16, see [[NgramStageDir]] — shared with
    * `text_ngrams`/`text_collocations`/`text_logprob`, staged once per
    * corpus fingerprint), so each invocation pays ONE corpus explode —
    * the scoring stream; the bigram probe joins back on it (hot bigrams
    * are exactly AQE's skew-split territory), the unigram table
    * broadcasts twice (x/y probes), corpus total via one
    * `attachScalarRow`. Docs with no true bigram (single-token) drop out
    * — mirrored by the oracle.
    */
  def textLogprob2(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ScalarAttach._
    import org.apache.spark.sql.types.DecimalType
    val docs = Tables.documents(s, dir)
    // count tables from the staged families (round 16, see NgramStageDir
    // — the round-15 form re-derived both from the corpus on every
    // invocation, re-exploding the bigram stream twice; 17.1 s at 100×):
    // the invocation now pays ONE corpus explode — the scoring stream.
    val (uniS, biS) = ngramCounts(s, dir)
    val uni = uniS
    val total = uni.agg(sum("c_w").cast("long").as("n_total"))
    val bi = biS
      .filter(size(split(col("bigram"), " ")) === 2)
      .filter(col("c_xy") >= BigramLmMinSupport)
    val lnD = (c: Column) => log(c.cast("double"))
    val nlp = when(col("c_xy").isNotNull, lnD(col("c_x")) - lnD(col("c_xy")))
      .otherwise(lnD(col("n_total")) - lnD(col("c_y")) + log(lit(2.5)))
    docs.select(col("doc_id"), explode(shingles(col("text"), 2)).as("bigram"))
      .filter(size(split(col("bigram"), " ")) === 2)
      .withColumn("x", split(col("bigram"), " ")(0))
      .withColumn("y", split(col("bigram"), " ")(1))
      .join(bi, Seq("bigram"), "left")
      .join(broadcast(uni.select(col("token").as("x"), col("c_w").as("c_x"))), "x")
      .join(broadcast(uni.select(col("token").as("y"), col("c_w").as("c_y"))), "y")
      .attachScalarRow(total)
      .select(col("doc_id"),
        col("c_xy").isNull.cast("long").as("backoff"),
        nlp.cast(DecimalType(28, 18)).as("nlp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("backoff").as("n_backoff"),
        round(sum(col("nlp")).cast("double") / count(lit(1)), 6).as("avg_neg_logprob"))
      .oracleSorted("doc_id")
  }

  /** Character-bigram profiles per candidate language for `text_langid`.
    * Order = prediction priority on score ties.
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("th", "ow", "sc"),
    "de" -> Seq("ei", "ur"),
    "es" -> Seq("rr", "do"),
    "fr" -> Seq("ou", "eu"),
    "zh" -> Seq("ta", "ng"),
  )

  /** Language ID by n-gram profile scoring: per language, count occurrences
    * of its profile bigrams (pure length/replace arithmetic — no regex
    * engine in the hot loop) and take the argmax with fixed priority order.
    */
  def textLangid(s: SparkSession, dir: String): DataFrame = {
    def occ(pat: String): Column =
      ((length(col("text")) - length(regexp_replace(col("text"), pat, ""))) / pat.length).cast("int")
    val scores = langProfiles.map { case (l, ps) => l -> ps.map(occ).reduce(_ + _) }
    val maxScore = greatest(scores.map(_._2): _*)
    val pred = scores.tail
      .foldLeft(when(scores.head._2 === maxScore, lit(scores.head._1))) {
        case (acc, (l, sc)) => acc.when(sc === maxScore, lit(l))
      }
      .otherwise("und")
    val scoreCols = scores.map { case (l, sc) => sc.as(s"score_$l") }
    Tables.documents(s, dir)
      .select(col("doc_id") +: col("lang") +: scoreCols :+ pred.as("pred_lang"): _*)
      .oracleSorted("doc_id")
  }

  /** Document fingerprinting: a 64-bit content fingerprint (md5 prefix of
    * the raw text) plus the min-md5 of the 3-word shingle set — the latter
    * is stable under small edits, the standard cheap near-dup pre-key.
    */
  def textFingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        substring(md5s(col("text")), 1, 16).as("fp64"),
        // native fused min-digest kernel; == the HOF form
        // array_min(transform(array_distinct(shingles), md5)) bitwise
        // (NativeVecSpec parity test)
        graft.plans.Kernels.minGramMd5(col("text"), 3).as("min_shingle_fp"))
      .oracleSorted("doc_id")

  // ------------------------------------------------------------------
  // Deduplication (§2.K1/K2)
  // ------------------------------------------------------------------

  /** K1 `dedup_exact`: content-hash dedup — groupBy(sha256(text)) keeps the
    * lowest doc_id per content group. Shuffle is by hash (uniform by
    * construction, no skew), volume ∝ distinct contents: the exact shape
    * that holds at 100 TB.
    */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(sha2(col("text").cast("binary"), 256).as("content_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .oracleSorted("keep_id")

  /** Mersenne prime 2^31−1 for the universal band-hash family. */
  val MinhashP = 2147483647L

  /** One md5 per shingle → 60-bit integer (both engines parse the same 15
    * hex chars), reduced mod p. Each band permutes this SINGLE md5 value
    * with the cheap universal family ((2b+1)·h + 12345·b + 1) mod p instead
    * of re-hashing per band — md5 dominates signature cost, so this is
    * ~bands× less hashing.
    */
  def shingleHash(x: Column): Column =
    conv(substring(md5s(x), 1, 15), 16, 10).cast("long") % MinhashP

  /** Distinct hashed n-word shingle set. Downstream set operations (bands,
    * Jaccard) run on longs, not ~30-char strings — smaller shuffles, cheaper
    * comparisons — and stay engine-reproducible: DuckDB computes identical
    * hashes, so even the (negligible, ~n²/2^60) collisions agree.
    *
    * Computed by the native `Kernels.wordGrams` (one fused pass; the HOF
    * chain below it is kept as `hashedShinglesHof` for the bitwise parity
    * test in NativeVecSpec).
    */
  def hashedShingles(text: Column, n: Int): Column =
    graft.plans.Kernels.wordGrams(text, n)

  /** Reference HOF form of `hashedShingles` (parity-test oracle). */
  def hashedShinglesHof(text: Column, n: Int): Column =
    array_distinct(transform(shinglesHof(text, n), x => shingleHash(x)))

  /** Per-band MinHash signatures from a (doc_id, hv: array<long>) frame.
    * r=2: the band signature packs the two smallest permuted hashes into one
    * long (both < 2^31, so m1·2^31 + m2 is exact); single-shingle docs get a
    * null second min → null sig, which matches nothing in either engine.
    */
  private[graft] def bandSignatures(hvDf: DataFrame): DataFrame =
    hvDf.select(col("doc_id"),
        posexplode(graft.plans.Kernels.bandSigs(col("hv"), MinhashBands)))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("sig"))

  /** Reference HOF form of `bandSignatures` (parity-test oracle).
    * `try_element_at`, not `element_at`: under ANSI mode (Spark 4 default)
    * `element_at(_, 2)` THROWS on a single-shingle doc instead of giving
    * the documented null signature — a latent crash the native kernel's
    * parity test exposed (testdata docs are all long enough to mask it).
    * DuckDB's `m[2]` is NULL out of bounds, so null is also the
    * oracle-consistent value.
    */
  private[graft] def bandSignaturesHof(hvDf: DataFrame): DataFrame =
    hvDf.select(col("doc_id"), explode(
        transform(sequence(lit(0), lit(MinhashBands - 1)),
          b => {
            val perm = array_sort(transform(col("hv"),
              h => ((lit(2) * b + 1) * h + lit(12345) * b + 1) % MinhashP))
            struct(b.as("band"),
              (try_element_at(perm, lit(1)) * lit(2147483648L) +
                try_element_at(perm, lit(2))).as("sig"))
          })
      ).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))

  /** Scala twin of one band's signature (the [[bandSignaturesHof]]
    * formula on a driver/state-side Seq): the streaming bucket fold uses
    * it to decide pair OWNERSHIP — a candidate pair colliding in several
    * bands is emitted only by its smallest colliding band, which
    * deduplicates across buckets without a second stateful operator.
    * Long arithmetic is exact (h < 2³¹, factor ≤ 7), so the value is
    * bit-identical to the column form.
    */
  private[graft] def bandSigOf(hv: Seq[Long], b: Int): Option[Long] = {
    val perm = hv.map(h => ((2L * b + 1) * h + 12345L * b + 1) % MinhashP).sorted
    if (perm.size < 2) None else Some(perm(0) * 2147483648L + perm(1))
  }

  /** K2 `dedup_minhash`: banded MinHash LSH near-dup detection.
    * shingle(3-word) → per-band min-signature → candidate pairs from a
    * bucket self-join on (band, sig) → exact Jaccard verification ≥ τ.
    * The self-join is an equi-join on the band key — candidate count is
    * Σ bucket² over near-dup buckets, never corpus², which is what makes
    * this the 100 TB shape (SURVEY §2.K2; VERDICT round-1 mandate).
    */
  def dedupMinhash(s: SparkSession, dir: String): DataFrame =
    minhashPairs(Tables.documents(s, dir)).oracleSorted("doc_a", "doc_b")

  /** Core of `dedup_minhash` over ANY (doc_id, text) frame — reused by
    * `dedup_pipeline`, which runs the LSH over the normalized exact-dedup
    * representatives instead of the raw corpus. Returns unsorted
    * (doc_a, doc_b, jaccard) pairs with jaccard ≥ MinhashTau.
    */
  private[graft] def minhashPairs(docs: DataFrame): DataFrame = {
    // Lineage-cut materialization (A5): the hashed-shingle table feeds both
    // sides of the bucket self-join and both verification joins — without
    // the cut each branch would recompute the full shingling+hashing
    // pipeline. `localCheckpoint(false)`, not `cache` (round-2 VERDICT #5):
    // the blocks live in the block manager like a cache but are released by
    // the ContextCleaner as soon as the result frame is garbage, so repeated
    // invocations in a long-lived session (Bench's 4×75 runs) don't
    // accumulate InMemoryRelations; lazy, so no blocking job at plan-build
    // time. localCheckpoint discards lineage, so a lost executor cannot
    // recompute the blocks: the job fails and is retried from the source.
    val hv = docs
      .select(col("doc_id"), hashedShingles(col("text"), 3).as("hv"))
      .localCheckpoint(eager = false) // lazy: cut lineage now, materialize inside the one job
    val sigs = bandSignatures(hv)
    val cand = sigs.as("a")
      .join(sigs.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(hv.select(col("doc_id").as("doc_a"), col("hv").as("hv_a")), "doc_a")
      .join(hv.select(col("doc_id").as("doc_b"), col("hv").as("hv_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(size(array_intersect(col("hv_a"), col("hv_b"))).cast("double") /
          size(array_distinct(concat(col("hv_a"), col("hv_b")))), 6).as("jaccard"))
      .filter(col("jaccard") >= MinhashTau)
  }

  /** Hard iteration cap for `clusterLabels` — a RUNAWAY GUARD, not a
    * correctness bound (round-3 fixed 4 iterations silently SPLIT any
    * duplicate chain of diameter > 4 — round-3 VERDICT "What's wrong" #1).
    * The loop exits as soon as an iteration changes no label, i.e. at the
    * true per-component-min fixed point, and each iteration combines
    * one-hop neighbour-min propagation with POINTER JUMPING (label ←
    * label-of-label), so a chain of diameter D converges in O(log₂ D)
    * iterations — the cap of 50 covers diameters far beyond any physical
    * graph (≫2^40). Hitting it still FAILS LOUDLY rather than emitting
    * split components.
    */
  val ClusterMaxIters = 50

  /** Connected-component labels over an undirected pair graph: min-label
    * propagation with pointer jumping, run to CONVERGENCE. Labels start as
    * own doc_id; each iteration takes the min of (own label, one-hop
    * neighbours' labels, the label OF the own label — the pointer jump
    * that doubles the effective hop distance per round, the classic
    * log-rounds trick of Hash-to-Min / large-star contractions). Safe:
    * labels are monotone non-increasing and bounded by the component
    * minimum (every label value is a member node's id), and any fixpoint
    * with two labels in one component has an edge whose neighbour-min
    * would still decrease — so the fixpoint is exactly per-component min.
    * A 1-row driver aggregate per iteration (count of changed labels —
    * the same coordinator cost class as the k-means loop) detects it.
    * Each iteration eagerly `localCheckpoint`s the new labels: the plan
    * would otherwise double per iteration (each step references the
    * previous labels three times), and the convergence check then reads
    * the materialized rows instead of re-running the chain. The
    * checkpointed sets are tiny — dup-pair docs only.
    */
  private[graft] def clusterLabels(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("lbl", col("doc_id"))
      .localCheckpoint()
    var converged = false
    var it = 0
    while (!converged && it < ClusterMaxIters) {
      it += 1
      // Round-18 (guide §2.4 — VERDICT r17 #4): ONE lookup join instead of
      // separate neighbour-min and pointer-jump joins. Both probes ask the
      // same question — "what is the label OF node X?" — for X = each
      // neighbour (dst) and X = the own current label (the jump). Unioning
      // the two probe streams answers both through a single join + min
      // aggregate: 2 joins/iteration instead of 3. The self-probe
      // (src = doc_id, dst = lbl) ALWAYS resolves (labels hold member node
      // ids), so every labelled doc gets a contribution row and the final
      // attach join is INNER. Per-iteration update is value-identical:
      // least(lbl, min(neighbour labels ∪ {label-of-label})) — the same
      // trajectory, the same fixpoint.
      val contrib = edges
        .union(labels.select(col("doc_id").as("src"), col("lbl").as("dst")))
        .join(labels.select(col("doc_id").as("dst"), col("lbl").as("nlbl")), "dst")
        .groupBy("src").agg(min("nlbl").as("min_c"))
      val upd = labels
        .join(contrib.withColumnRenamed("src", "doc_id"), Seq("doc_id"))
        .select(col("doc_id"), col("lbl").as("old_lbl"),
          least(col("lbl"), col("min_c")).as("lbl"))
        .localCheckpoint() // eager: one job per iteration, lineage stays flat
      converged = upd.filter(col("lbl") =!= col("old_lbl")).limit(1).count() == 0
      labels = upd.select("doc_id", "lbl")
    }
    require(converged,
      s"clusterLabels hit the $ClusterMaxIters-iteration cap before converging " +
        "— refusing to emit split components")
    labels
  }

  /** `dedup_cluster`: connected components over the MinHash near-dup pair
    * graph → canonical document per duplicate cluster (the step an LLM
    * pipeline actually dedupes WITH — keep `canonical_id`, drop the rest).
    * Min-label propagation run to convergence (see `clusterLabels`); shuffle
    * per iteration is by doc_id over only the docs that appear in dup pairs
    * (a tiny fraction of the corpus). GraphX-free, AQE-friendly — the same
    * driver-coordinated loop structure as the reference's k-means (§3.2),
    * data never collects to the driver. The DuckDB oracle computes the same
    * fixed point via a recursive reachability CTE, so the hash match proves
    * CONVERGED components, not lockstep iterations.
    */
  def dedupCluster(s: SparkSession, dir: String): DataFrame = {
    // Truncate lineage at the pair list so the MinHash self-join plan
    // executes exactly once and the iteration loop starts from a LogicalRDD.
    val pairs = minhashPairs(Tables.documents(s, dir))
      .select("doc_a", "doc_b").localCheckpoint()
    val labels = clusterLabels(pairs)
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "lbl")
      .select(col("doc_id"), col("lbl").as("canonical_id"), col("cluster_size"))
      .oracleSorted("doc_id")
  }

  /** `vocab_oov` vocabulary size (top-K corpus tokens by frequency). */
  val VocabK = 200

  /** K5f `vocab_oov` (round 7): per-document out-of-vocabulary rate
    * against the corpus top-K vocabulary — the tokenizer-prep diagnostic
    * (a doc full of OOV tokens is noise, markup, or the wrong language;
    * the rate feeds the same filtering stage as `text_quality`).
    * Two passes: (1) vocabulary = top-K tokens by corpus frequency
    * (count desc, token asc tiebreak — deterministic), a partial-agg
    * groupBy + TakeOrderedAndProject over the VOCABULARY-sized count
    * table; (2) per-(doc, token) membership via a BROADCAST left join of
    * the K-row vocab onto the token stream, partial-agg per doc. Shuffle
    * ∝ token occurrences once; the vocab side never shuffles.
    */
  def vocabOov(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val vocab = toks.groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("token")).limit(VocabK)
      .select(col("token"), lit(1).as("iv"))
    toks.join(broadcast(vocab), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("iv").isNull, 1).otherwise(0)).as("n_oov"))
      .withColumn("oov_rate", round(col("n_oov").cast("double") / col("n_tokens"), 6))
      .oracleSorted("doc_id")
  }

  /** `vocab_bpe` merge-step count — pinned so the DuckDB chained-CTE
    * oracle replays the identical merge sequence. Round 9: production
    * merge count (the learn loop is driver-local over the collected
    * word-type table, so steps cost no Spark jobs; the shipped corpora
    * exhaust their pair supply before 200, which the oracle's total
    * LEFT-JOIN fold carries through step-for-step).
    */
  val BpeMerges = 200

  /** K5g `vocab_bpe` (round 8; round 9: production shape): byte-pair-
    * encoding vocabulary induction — the first `BpeMerges` BPE merges
    * learned from the corpus, the canonical tokenizer-training
    * computation (Sennrich et al. 2016; the algorithm behind GPT/Llama
    * tokenizers). Classic word-type formulation: the corpus collapses to
    * a (word, count) table ONCE (partial-agg shuffle ∝ corpus, output ∝
    * |vocabulary|) — the ONLY distributed pass. The vocabulary-sized
    * table is then collected and the merge loop runs DRIVER-LOCAL with
    * incrementally-maintained pair counts (only words containing the
    * merged pair are rescanned — the standard tokenizer-trainer update),
    * so per-step cost is independent of corpus size and carries no Spark
    * job scheduling: k = 30k merges is ~k × |affected words| local work,
    * vs the round-8 distributed loop's ~2 jobs per merge. This is the
    * same coordinator contract as `kmeans_int_trace` (vocabulary-sized
    * driver state, corpus-sized work stays distributed), and the realist
    * production shape: word-type tables fit driver memory at any corpus
    * size that fits a language (they grow ~Heaps' law, not linearly).
    *
    * Exactness: all counts are integers, the argmax tiebreak compares
    * UTF-8 bytes (== Spark UTF8String == DuckDB binary collation), and
    * the greedy fold is order-exact, so the full merge TRAJECTORY is
    * hash-gated — the DuckDB oracle replays all 200 steps via chained
    * MATERIALIZED CTEs with the identical `list_reduce` fold; steps past
    * pair exhaustion carry the symbol table through unchanged via a
    * LEFT JOIN on the empty argmax (total fold — round-8 ADVICE #1).
    * A parity law (TextOpsSpec) pins the driver-local loop to the
    * round-8 distributed form merge-for-merge.
    */
  /** The ONE distributed pass of the production BPE path: word-type
    * counts, collected (vocabulary-sized — 31 types on the synthetic
    * corpus, ~10^6-10^7 on a real one; Heaps' law keeps it driver-sized
    * at any corpus scale).
    */
  private def bpeCollectTypes(s: SparkSession, dir: String): Seq[(String, Long)] =
    Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .where(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("n"))
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1)))

  /** Greedy left-to-right non-overlapping merge of (l, r) in a symbol
    * array, as an order-exact fold (mirrored by the oracle's list_reduce):
    * append s, unless the accumulated tail is l and s is r — then replace
    * the tail with the merged token. A merged token can never equal the
    * pair's left symbol, so no same-scan re-merge is possible — exactly
    * BPE's greedy contract.
    */
  private[graft] def bpeMergeFold(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 && element_at(acc, -1) === l && x === r,
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(x))))

  /** The round-8 DISTRIBUTED BPE learn loop over a (word, n, syms) base:
    * per step, exact-integer pair counts + deterministic argmax + greedy
    * merge fold, each step ~2 Spark jobs. Superseded by [[bpeLearnLocal]]
    * for the registered queries (the distributed form doesn't survive
    * production k); retained as the parity reference — TextOpsSpec pins
    * local ≡ distributed merge-for-merge at small k.
    */
  private[graft] def bpeLearnDistributed(base: DataFrame, k: Int): Seq[(Int, String, String, Long)] = {
    var cur = base
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= k && !exhausted) {
      val best = cur
        .select(col("n"), explode(arrays_zip(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1))).as("p"))
        .groupBy(col("p.0").as("l"), col("p.1").as("r"))
        .agg(sum("n").as("cnt"))
        .orderBy(desc("cnt"), asc("l"), asc("r")).limit(1)
        .collect()
      if (best.isEmpty) {
        // every word fully merged — the fixed step count past exhaustion;
        // the oracle agrees (an empty b_j carries s_{j-1} through its
        // LEFT-JOIN fold and contributes no trajectory row)
        exhausted = true
      } else {
        val l = best(0).getString(0)
        val r = best(0).getString(1)
        val cnt = best(0).getLong(2)
        merges += ((step, l, r, cnt))
        cur = cur.select(col("word"), col("n"), bpeMergeFold(col("syms"), l, r).as("syms"))
        step += 1
      }
    }
    merges.toSeq
  }

  /** Unsigned UTF-8 byte-order comparison — the collation Spark's
    * UTF8String ordering and DuckDB's binary string sort both use, so the
    * driver-local argmax tiebreak is bit-identical to both engines
    * (Java's String.compareTo is UTF-16 code-unit order, which diverges
    * on supplementary-plane characters — not used here).
    */
  private def cmpUtf8(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  /** Driver-local BPE learn over the collected word-type table, with
    * incrementally-maintained pair counts: a merge rescans only the words
    * that contain the merged pair (the standard tokenizer-trainer
    * update), so total work is ~Σ|affected words| across steps, not
    * k × |vocabulary|. Semantics are EXACTLY the distributed loop's:
    * symbols are code points (mirror of `split(word, "")` /
    * `string_split(word, '')`), pair counts weighted by word count,
    * argmax by (count desc, lhs asc, rhs asc) under UTF-8 byte order,
    * greedy left-to-right non-overlapping fold ([[bpeMergeFold]]'s
    * contract). Stops at pair exhaustion like the distributed form.
    *
    * Returns (merge trajectory, final per-word token SEQUENCE) — learn,
    * count-apply (`tokenize_bpe`) and encode-apply (`tokenize_bpe_encode`)
    * all share one merge sequence and one fold by construction.
    */
  private[graft] def bpeLearnLocal(types: Seq[(String, Long)], k: Int)
      : (Seq[(Int, String, String, Long)], Map[String, Seq[String]]) = {
    val words = types.iterator.map(_._1).toArray
    val counts = types.iterator.map(_._2).toArray
    val syms: Array[Array[String]] = words.map(w =>
      w.codePoints().toArray.map(cp => new String(Character.toChars(cp))))
    val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
    // pair -> word indexes that currently contain it (candidate set; a
    // stale member is filtered by the per-word adjacency re-check below)
    val occ = scala.collection.mutable.HashMap.empty[(String, String), scala.collection.mutable.BitSet]
    def tally(w: Int, sign: Long): Unit = {
      val s = syms(w)
      var j = 0
      while (j < s.length - 1) {
        val key = (s(j), s(j + 1))
        val nv = pc.getOrElse(key, 0L) + sign * counts(w)
        if (nv == 0L) pc.remove(key) else pc.update(key, nv)
        if (sign > 0) occ.getOrElseUpdate(key, new scala.collection.mutable.BitSet()) += w
        j += 1
      }
    }
    var w0 = 0
    while (w0 < words.length) { tally(w0, 1L); w0 += 1 }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 1
    while (step <= k && pc.nonEmpty) {
      var bl: String = null; var br: String = null; var bc = 0L
      pc.foreach { case ((l, r), c) =>
        if (bl == null || c > bc || (c == bc && {
          val dl = cmpUtf8(l, bl); dl < 0 || (dl == 0 && cmpUtf8(r, br) < 0)
        })) { bl = l; br = r; bc = c }
      }
      merges += ((step, bl, br, bc))
      val affected = occ.remove((bl, br)).getOrElse(new scala.collection.mutable.BitSet())
      affected.foreach { w =>
        val s = syms(w)
        // adjacency re-check: the candidate set is not maintained on
        // removal, so a word whose (bl, br) was destroyed by an earlier
        // merge may linger — the fold below would be the identity anyway,
        // but skipping it keeps the count bookkeeping exact
        var has = false; var j = 0
        while (!has && j < s.length - 1) { if (s(j) == bl && s(j + 1) == br) has = true; j += 1 }
        if (has) {
          tally(w, -1L)
          val out = new scala.collection.mutable.ArrayBuffer[String](s.length)
          var i = 0
          while (i < s.length) {
            val x = s(i)
            if (out.nonEmpty && out(out.length - 1) == bl && x == br)
              out(out.length - 1) = bl + br
            else out += x
            i += 1
          }
          syms(w) = out.toArray
          tally(w, 1L)
        }
      }
      step += 1
    }
    (merges.toSeq, words.iterator.zipWithIndex.map { case (w, i) => w -> syms(i).toSeq }.toMap)
  }

  def vocabBpe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (merges, _) = bpeLearnLocal(bpeCollectTypes(s, dir), BpeMerges)
    merges.toDF("step", "lhs", "rhs", "pair_count")
      .oracleSorted("step")
  }

  /** K5h `tokenize_bpe` (round 8; round 9: production shape): APPLY the
    * learned merges — the other half of the tokenizer round trip. Scale
    * shape is the important part: the merge folds run DRIVER-LOCAL over
    * the collected word-type table (vocabulary-sized, never the corpus —
    * [[bpeLearnLocal]] returns the final word → BPE-token-count map
    * directly, replacing the round-8 chain of k column-level folds whose
    * plan grew linearly in k); the corpus-sized work is ONE broadcast
    * equi-join of the token stream against that map plus a per-doc
    * partial agg — tokenizing 100 TB costs one scan + one broadcast
    * probe, flat in k. Per doc: whitespace token count, BPE token count
    * under the learned vocabulary, and chars-per-token (the compression
    * dashboards track; exact-int division, one terminal round). Learn and
    * apply share `bpeLearnLocal` — one merge sequence, by construction.
    */
  def tokenizeBpe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (_, tokSeqs) = bpeLearnLocal(bpeCollectTypes(s, dir), BpeMerges)
    val wordLen = tokSeqs.view.mapValues(_.size).toSeq.toDF("word", "w_bpe_i")
      .select(col("word"), col("w_bpe_i").cast("long").as("w_bpe"))
    // char mass rides the SAME token stream (Σ|word| ≡ chars minus
    // spaces) — one corpus scan total, no second scan + re-join
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .where(length(col("word")) > 0)
      .join(broadcast(wordLen), "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("w_bpe").as("n_bpe_tokens"),
        sum(length(col("word")).cast("long")).as("n_chars_txt"))
      .select(col("doc_id"), col("n_words"), col("n_bpe_tokens"),
        round(col("n_chars_txt").cast("double") / col("n_bpe_tokens"), 4)
          .as("chars_per_token"))
      .oracleSorted("doc_id")
  }

  /** K5i `tokenize_bpe_encode` (round 9): EMIT the BPE token stream —
    * the third leg of the tokenizer round trip (learn = `vocab_bpe`,
    * count = `tokenize_bpe`, encode = this): per document, the full
    * ordered token sequence under the learned merges, as a
    * space-joined string (tokens contain no spaces by construction —
    * they are substrings of whitespace-split words — so the join is
    * injective and the hash gate covers the exact sequence).
    *
    * Scale shape = `tokenize_bpe`'s: the merges run driver-local, the
    * word → token-string map broadcasts, and the corpus pays ONE scan +
    * one broadcast probe. Word order is preserved via `posexplode`
    * positions (original split indices — identical on both engines, so
    * the in-doc ordering is total) with a per-doc sort_array over
    * (pos, tokens) structs — the same bounded in-group sort every
    * sequence emitter pays; output bytes ≈ corpus bytes, the encoder's
    * intrinsic floor.
    */
  def tokenizeBpeEncode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (_, tokSeqs) = bpeLearnLocal(bpeCollectTypes(s, dir), BpeMerges)
    val wordToks = tokSeqs.view.mapValues(_.mkString(" ")).toSeq
      .toDF("word", "wtoks")
    Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), col("pos"), col("col").as("word"))
      .where(length(col("word")) > 0)
      .join(broadcast(wordToks), "word")
      .groupBy("doc_id")
      .agg(
        array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("wtoks")))),
          x => x.getField("wtoks")), " ").as("bpe_tokens"),
        sum(size(split(col("wtoks"), " ")).cast("long")).as("n_bpe_tokens"))
      .select(col("doc_id"), col("n_bpe_tokens"), col("bpe_tokens"))
      .oracleSorted("doc_id")
  }

  /** `vocab_unigram` knobs (pinned so the DuckDB chained-CTE oracle
    * replays the identical trajectory):
    *  - `UniMaxPieceLen`: longest candidate piece (SentencePiece's
    *    max_sentencepiece_length);
    *  - `UniSeedMulti`: multi-char seed-vocabulary size (top substrings by
    *    occurrence count — the frequent-substring seeding of Kudo 2018,
    *    which full SentencePiece draws from a suffix array; single chars
    *    are always seeded and never pruned, preserving coverage);
    *  - `UniRounds`: EM+prune rounds;
    *  - `UniMaxWordLen`: the oracle's Viterbi DP chain depth — the engine
    *    REQUIREs every word type fits (the shipped corpora max at 8) so a
    *    longer-word corpus fails loudly instead of silently diverging
    *    from the fixed-depth SQL replay.
    */
  val UniMaxPieceLen = 6
  val UniSeedMulti = 80
  val UniRounds = 3
  val UniMaxWordLen = 16

  /** K5j `vocab_unigram` (round 14): unigram-LM tokenizer training — the
    * OTHER production tokenizer-training computation next to the BPE
    * family (SentencePiece; Kudo 2018): seed a candidate vocabulary from
    * frequent substrings, then alternate EM over the corpus with pruning
    * of the least-useful pieces until the vocabulary converges. Same
    * coordinator contract as `vocab_bpe`: the corpus collapses to the
    * word-TYPE table ONCE (the only distributed pass, partial-agg shuffle
    * ∝ corpus, output ∝ |vocabulary| — Heaps' law keeps it driver-sized
    * at any corpus scale), and the train loop runs driver-local.
    *
    * This implementation is the hard-EM (Viterbi) variant with a
    * count-rank prune, chosen so the full trajectory is EXACT and
    * hash-gates like `vocab_bpe`'s 200-merge trajectory:
    *  - piece scores are ln((cnt+1)/(T+V)) (add-one smoothing — no −∞ for
    *    unused survivors) computed on IDENTICAL doubles and quantized to
    *    DECIMAL(28,18), the `text_logprob` cross-engine ln discipline;
    *    the ln+cast runs through a vocabulary-sized Spark job so the
    *    engine's quantization IS Spark's, not the JVM driver's;
    *  - the Viterbi DP maximizes the exact-decimal score sum with a total
    *    deterministic tiebreak (fewer pieces, then lexicographically
    *    smallest zero-padded cut-position string) — mirrored term for
    *    term by the oracle's fixed-depth chained-CTE DP;
    *  - the E-step counts are integers (piece occurrences in each type's
    *    Viterbi segmentation × type count), and the prune keeps the top
    *    4/5 of multi-char pieces by (count desc, piece asc UTF-8) — the
    *    pure-integer inequality rank·5 ≤ m·4 on both engines.
    *
    * Output: the full trajectory — round 0 = seeded vocabulary with
    * substring counts, rounds 1..`UniRounds` = every live piece with its
    * new Viterbi count and kept/pruned verdict. TextOpsSpec pins the DP
    * to brute-force segmentation enumeration per word type and the
    * trajectory to its invariants (chars never pruned, coverage, exact
    * prune arithmetic).
    */
  def vocabUnigram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    uniLearnLocal(s, bpeCollectTypes(s, dir))._1
      .toDF("em_round", "piece", "cnt", "kept")
      .oracleSorted("em_round", "piece")
  }

  /** K5k `tokenize_unigram` (round 14): APPLY the learned unigram-LM
    * vocabulary — the count leg of the unigram tokenizer round trip, the
    * exact `tokenize_bpe` shape for the OTHER tokenizer family: per doc,
    * whitespace token count, Viterbi token count under the final trained
    * vocabulary (scores from the last EM round's counts), and
    * chars-per-token. Learn and apply share `uniLearnLocal` — one
    * trajectory, one final vocabulary, by construction. Scale shape =
    * `tokenize_bpe`'s: the train loop is driver-local over the word-type
    * table, the word → token-count map broadcasts, and the corpus pays
    * ONE scan + one broadcast probe — flat in vocabulary size. The
    * oracle extends the `vocab_unigram` CTE replay with a FOURTH Viterbi
    * DP over the final vocabulary and joins its per-word piece counts
    * back onto the token stream.
    */
  def tokenizeUnigram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val types = bpeCollectTypes(s, dir)
    val (_, finalPieces) = uniLearnLocal(s, types)
    val score = uniScores(s, finalPieces)
    val wordLen = types
      .map { case (w, _) => (w, uniViterbi(w, score).size.toLong) }
      .toDF("word", "w_uni")
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .where(length(col("word")) > 0)
      .join(broadcast(wordLen), "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("w_uni").as("n_uni_tokens"),
        sum(length(col("word")).cast("long")).as("n_chars_txt"))
      .select(col("doc_id"), col("n_words"), col("n_uni_tokens"),
        round(col("n_chars_txt").cast("double") / col("n_uni_tokens"), 4)
          .as("chars_per_token"))
      .oracleSorted("doc_id")
  }

  /** Driver-local unigram-LM train loop over the collected word-type
    * table. Returns (the full (round, piece, count, kept) trajectory,
    * the FINAL vocabulary with its last-round counts — the apply leg's
    * input). BMP-only string ops (like the shipped corpora); lengths /
    * substrings are Java char counts == DuckDB character counts for BMP
    * text.
    */
  private[graft] def uniLearnLocal(s: SparkSession, types: Seq[(String, Long)])
      : (Seq[(Int, String, Long, Boolean)], Seq[(String, Long)]) = {
    require(types.forall(_._1.length <= UniMaxWordLen),
      s"word type exceeds UniMaxWordLen=$UniMaxWordLen — the oracle DP chain cannot replay it")
    // seed: substring occurrence counts (overlapping, weighted by type count)
    val subCnt = scala.collection.mutable.HashMap.empty[String, Long]
    for ((w, n) <- types; l <- 1 to UniMaxPieceLen; i <- 0 to w.length - l) {
      val p = w.substring(i, i + l)
      subCnt.update(p, subCnt.getOrElse(p, 0L) + n)
    }
    val byCountThenPiece: ((String, Long), (String, Long)) => Boolean =
      (a, b) => a._2 > b._2 || (a._2 == b._2 && cmpUtf8(a._1, b._1) < 0)
    val chars = subCnt.iterator.filter(_._1.length == 1).toSeq.sortWith(byCountThenPiece)
    val multi = subCnt.iterator.filter(_._1.length > 1).toSeq
      .sortWith(byCountThenPiece).take(UniSeedMulti)
    var pieces: Seq[(String, Long)] = chars ++ multi
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long, Boolean)]
    pieces.foreach { case (p, c) => out += ((0, p, c, true)) }
    for (r <- 1 to UniRounds) {
      val score = uniScores(s, pieces)
      val vc = scala.collection.mutable.HashMap.empty[String, Long]
      for ((w, n) <- types; p <- uniViterbi(w, score))
        vc.update(p, vc.getOrElse(p, 0L) + n)
      val withNew = pieces.map { case (p, _) => (p, vc.getOrElse(p, 0L)) }
      val multiRanked = withNew.filter(_._1.length > 1).sortWith(byCountThenPiece)
      val m = multiRanked.size
      val keptMulti = multiRanked.zipWithIndex
        .collect { case ((p, _), idx) if (idx + 1) * 5 <= m * 4 => p }.toSet
      withNew.foreach { case (p, c) =>
        out += ((r, p, c, p.length == 1 || keptMulti(p)))
      }
      pieces = withNew.filter { case (p, _) => p.length == 1 || keptMulti(p) }
    }
    (out.toSeq, pieces)
  }

  /** Piece log-scores for one EM round, computed THROUGH Spark (a
    * vocabulary-sized local job) so ln and the double→DECIMAL(28,18)
    * quantization are exactly the engine arithmetic the `text_logprob`
    * gate already pins to DuckDB's — the driver JVM's own Math.log never
    * touches the trajectory. The double ratio (cnt+1)/(T+V) is IEEE-754
    * division, identical everywhere.
    */
  private[graft] def uniScores(s: SparkSession, pieces: Seq[(String, Long)])
      : Map[String, java.math.BigDecimal] = {
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    val tv = pieces.iterator.map(_._2).sum + pieces.size
    pieces.map { case (p, c) => (p, (c + 1.0) / tv.toDouble) }
      .toDF("piece", "x")
      .select(col("piece"), log(col("x")).cast(DecimalType(28, 18)).as("sc"))
      .collect().map(r => r.getString(0) -> r.getDecimal(1)).toMap
  }

  /** Exact-decimal Viterbi segmentation of one word under the current
    * piece scores: maximize the score sum; ties broken by fewer pieces,
    * then the lexicographically smallest zero-padded cut-position string
    * — a TOTAL order the oracle's `ORDER BY s DESC, np, cuts` replays.
    * Every character is always a live piece, so the DP never starves.
    */
  private[graft] def uniViterbi(w: String,
      score: Map[String, java.math.BigDecimal]): Seq[String] = {
    final case class St(s: java.math.BigDecimal, np: Int, cuts: String)
    def better(a: St, b: St): Boolean = {
      val d = a.s.compareTo(b.s)
      d > 0 || (d == 0 && (a.np < b.np || (a.np == b.np && a.cuts.compareTo(b.cuts) < 0)))
    }
    val L = w.length
    val dp = new Array[St](L + 1)
    dp(0) = St(java.math.BigDecimal.ZERO.setScale(18), 0, "")
    var k = 1
    while (k <= L) {
      var best: St = null
      var j = math.max(0, k - UniMaxPieceLen)
      while (j < k) {
        if (dp(j) != null) score.get(w.substring(j, k)).foreach { ps =>
          val cand = St(dp(j).s.add(ps), dp(j).np + 1, dp(j).cuts + f"$j%02d")
          if (best == null || better(cand, best)) best = cand
        }
        j += 1
      }
      dp(k) = best
      k += 1
    }
    require(dp(L) != null, s"no segmentation for '$w' — char coverage broken")
    val cuts = dp(L).cuts.grouped(2).map(_.toInt).toSeq
    cuts.zipWithIndex.map { case (st, i) =>
      w.substring(st, if (i + 1 < cuts.length) cuts(i + 1) else L)
    }
  }

  /** `sample_dsir` knobs: feature-hash bucket count, target domain, and
    * sample size. 64 buckets is deliberately small against DSIR's 10k —
    * the synthetic corpus has 31 word types; the BUCKETED importance
    * ratios must still separate the domains (measured: the selected set
    * overrepresents the target at every shipped SF — the TextOpsSpec law).
    */
  val DsirBuckets = 64
  val DsirTargetLang = "en"
  val DsirK = 100

  /** K23″ `sample_dsir` (round 14): importance-resampling data selection
    * (DSIR; Xie et al. 2023) — the LEARNED-mixing sampler next to the
    * fixed-rate family (`sample_hash`/`sample_mix`) and the length-
    * weighted one (`sample_weighted`): each pool document is weighted by
    * the log-likelihood ratio of a TARGET domain's hashed-n-gram unigram
    * model against the raw pool's, then an exact-k weighted sample is
    * drawn by Gumbel-top-k. Composes three proven parts:
    *  - features: word unigrams + 2-word shingles (the
    *    `Kernels.wordShingles` kernel), hashed into `DsirBuckets` buckets
    *    with the md5-60-bit gram hash both engines share;
    *  - exact ratios: per bucket, ln((pc+1)/(PT+B)) − ln((qc+1)/(QT+B))
    *    (add-one smoothing) on identical doubles, quantized
    *    DECIMAL(20,18) — the `text_logprob` ln discipline; per-doc
    *    log-weight = Σ_b c_db · diff_b as an EXACT decimal product-sum
    *    (DECIMAL(10,0) × DECIMAL(20,18) → (31,18), no precision cliff on
    *    either engine);
    *  - selection: Gumbel-top-k ≡ the A-ES trick of `sample_weighted` in
    *    log space — prio = ln(−ln(u)) − logw with u the exact dyadic
    *    (hkey+1)/2^60 from the salted doc hash, k smallest prios win.
    *
    * Scale: one corpus scan (gram explode → (doc, bucket) partial agg,
    * shuffle ∝ |docs|·B not corpus bytes), the B-row ratio table
    * broadcasts back, and the pick is a TakeOrdered heap — no global
    * sort, no second scan. The bucket-count table is behind a lineage cut
    * (it feeds both the ratio build and the scoring join).
    */
  def sampleDsir(s: SparkSession, dir: String): DataFrame =
    dsirScored(s, dir)
      .orderBy(asc("prio"), asc("doc_id"))
      .limit(DsirK)
      .select(col("doc_id"), col("lang"),
        round(col("logw"), 8).as("logw"), round(col("prio"), 8).as("prio"))
      .oracleSorted("doc_id")

  /** Every pool document with its DSIR log-weight and Gumbel priority
    * (the frame `sample_dsir` takes its top-k from) — split out so the
    * TextOpsSpec overrepresentation law measures the exact weights the
    * query selects on.
    */
  private[graft] def dsirScored(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ScalarAttach._
    import org.apache.spark.sql.types.DecimalType
    val db = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        explode(concat(words(col("text")), shingles(col("text"), 2))).as("gram"))
      .select(col("doc_id"), col("lang"),
        (conv(substring(md5s(concat(lit("dsirf:"), col("gram"))), 1, 15), 16, 10)
          .cast("long") % DsirBuckets).as("b"))
      .groupBy("doc_id", "lang", "b").agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false)
    // bucket-bounded (B rows); cut so the ratio build's two consumers (tot
    // and diff) re-read B materialized rows instead of re-aggregating the
    // full (doc, bucket) table twice (round-17, guide §2.4)
    val tb = db.groupBy("b").agg(
      sum(when(col("lang") === DsirTargetLang, col("c")).otherwise(0L)).as("pc"),
      sum("c").as("qc"))
      .localCheckpoint(eager = false)
    val tot = tb.agg(sum("pc").as("pt"), sum("qc").as("qt"))
    val diff = tb.attachScalarRow(tot)
      .select(col("b"),
        (log((col("pc") + lit(1.0)) / (col("pt") + lit(DsirBuckets.toLong)).cast("double")) -
         log((col("qc") + lit(1.0)) / (col("qt") + lit(DsirBuckets.toLong)).cast("double")))
          .cast(DecimalType(20, 18)).as("d"))
    val u = (Relational.saltedHash("dsir") + 1).cast("double") /
      lit(1.152921504606846976e18)
    db.join(broadcast(diff), "b")
      .groupBy("doc_id", "lang")
      .agg(sum(col("c").cast(DecimalType(10, 0)) * col("d")).cast("double").as("logw"))
      .withColumn("prio", log(-log(u)) - col("logw"))
  }

  /** `corpus_budget` per-source token budget (calibrated so every source
    * both keeps and drops documents at every shipped SF — non-vacuous
    * gate branches; sources carry ~1.6–2.3k estimated tokens).
    */
  val BudgetTokens = 1000L

  /** K7′ `corpus_budget` (round 8): token-budget-capped per-source
    * selection — the DATA-MIXING primitive (Pile/DoReMi-style): each
    * source/domain gets a token budget, filled greedily in quality order
    * (quality bucket rank, then doc_id — a total, deterministic order)
    * until the running token estimate exceeds the budget. Emits EVERY doc
    * with its running total and keep verdict, so both branches are
    * hash-gated. Quality bucket is [[qualityLabel]] — single-sourced with
    * `text_quality` / `corpus_pipeline`; token estimate is the
    * `text_tokens` chars/4 convention.
    *
    * Scale: one partitioned window per source (shuffle ∝ rows, once; at
    * 100 TB source cardinality ≫ parallelism so the cumsum parallelizes),
    * no global window, all-integer arithmetic — the verdict is exact at
    * any cluster size.
    */
  def corpusBudget(s: SparkSession, dir: String): DataFrame = {
    val qRank = when(qualityLabel(col("text")) === "ok", 0)
      .when(qualityLabel(col("text")) === "stopword_heavy", 1)
      .otherwise(2).cast("int")
    val w = Window.partitionBy("source").orderBy("q_rank", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        ceil(col("n_chars") / 4.0).cast("long").as("tok_est"),
        qRank.as("q_rank"))
      .withColumn("cum_tokens", sum("tok_est").over(w))
      .withColumn("kept", (col("cum_tokens") <= BudgetTokens).cast("int"))
      .oracleSorted("source", "doc_id")
  }

  /** K6′ `dedup_keepbest` (round 7): the KEEP POLICY over near-dup
    * clusters — real pipelines keep the BEST member of each duplicate
    * cluster (here: longest text, the most-complete-copy heuristic;
    * tiebreak min doc_id), not the arbitrary first. Composes the
    * single-sourced cluster machinery (`minhashPairs` + `clusterLabels`,
    * the `dedup_cluster` chain) with the D29 packed-ordinal `max_by` —
    * the selection is one partial-aggregable pass over |clustered docs|,
    * no window sort. Output: every clustered doc with its cluster, the
    * cluster's keeper, and its own verdict. Scale: the argmax shuffles
    * one (cluster, best) pair per map task; everything upstream is the
    * audited LSH chain.
    */
  def dedupKeepbest(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pairs = minhashPairs(docs).select("doc_a", "doc_b").localCheckpoint()
    val labels = clusterLabels(pairs)
    val q = labels.join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
    val ord = col("n_chars") * lit(1000000000000L) + (lit(999999999999L) - col("doc_id"))
    val k = q.withColumn("ord", ord).groupBy("lbl")
      .agg(max_by(col("doc_id"), col("ord")).as("keep_id"),
        count(lit(1)).as("cluster_size"))
    q.join(k, "lbl")
      .select(col("doc_id"), col("lbl").as("canonical_id"), col("keep_id"),
        (col("doc_id") === col("keep_id")).as("kept"), col("cluster_size"))
      .oracleSorted("doc_id")
  }

  /** `dedup_incremental` batch split: every `IncrementalModulus`-th doc_id
    * is the INCOMING batch; the rest are the existing index.
    */
  val IncrementalModulus = 3

  /** K24 `dedup_incremental`: near-dup check of an INCOMING BATCH against
    * an EXISTING INDEX — the shape a daily-ingest pipeline runs, where
    * re-deduping the whole corpus per batch is unaffordable. The batch's
    * band signatures join ONLY the index's band table (never batch×batch,
    * never index×index — the asymmetry is the point and is unit-tested),
    * then exact Jaccard verifies candidates as usual.
    *
    * Scale shape: at 100 TB the index band table is PRECOMPUTED and read
    * from storage (here both sides derive from the same corpus so the
    * DuckDB oracle can rebuild them); incremental cost is then
    * ∝ |batch| · bucket-hit rate — independent of corpus size except
    * through bucket occupancy, which banding keeps at near-dup mass. A
    * matched batch doc would be dropped (or routed to the matched
    * canonical) before it ever enters the index.
    */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val isNew = pmod(col("doc_id"), lit(IncrementalModulus)) === 0
    val hv = Tables.documents(s, dir)
      .select(col("doc_id"), hashedShingles(col("text"), 3).as("hv"))
      .localCheckpoint(eager = false) // feeds both band tables + both verify joins
    val sigs = bandSignatures(hv)
    val cand = sigs.filter(isNew).as("n")
      .join(sigs.filter(!isNew).as("i"),
        col("n.band") === col("i.band") && col("n.sig") === col("i.sig"))
      .select(col("n.doc_id").as("new_id"), col("i.doc_id").as("idx_id"))
      .distinct()
    cand
      .join(hv.select(col("doc_id").as("new_id"), col("hv").as("hv_n")), "new_id")
      .join(hv.select(col("doc_id").as("idx_id"), col("hv").as("hv_i")), "idx_id")
      .select(col("new_id"), col("idx_id"),
        round(size(array_intersect(col("hv_n"), col("hv_i"))).cast("double") /
          size(array_distinct(concat(col("hv_n"), col("hv_i")))), 6).as("jaccard"))
      .filter(col("jaccard") >= MinhashTau)
      .oracleSorted("new_id", "idx_id")
  }

  /** `dedup_substring` parameters: the exact-match unit is a 32-char
    * window; fingerprints are the windows whose 60-bit hash ≡ 0 mod
    * `SubstrWinnowMod` (winnowing-style 1/8 sampling). Any shared exact
    * substring of length L ≥ 32 contains L−31 windows, so it survives the
    * sampling with probability 1−(7/8)^(L−31) — ≈0.99 at L=64, →1 for the
    * long boilerplate/plagiarism runs this operator exists to catch; the
    * sampling is by HASH VALUE, so both docs keep or drop the same
    * windows (never a one-sided miss).
    */
  val SubstrGramN = 32
  val SubstrWinnowMod = 8

  /** K19 `dedup_substring`: exact-substring overlap pairs — documents
    * sharing at least one verbatim 32-char window, with the count of
    * shared (winnowed, distinct) windows as the overlap mass. This is the
    * EXACT-MATCH complement of the similarity family: MinHash/SimHash
    * score whole-document resemblance and miss a long copied paragraph
    * inside otherwise-unrelated documents, which is precisely the
    * train-set contamination/boilerplate case (cf. the exact-substring
    * dedup of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", 2021 — re-expressed as fingerprint joins instead of
    * a suffix array).
    *
    * Scale shape: fused `Kernels.charGramsWide` (one codegen'd pass per doc)
    * → explode → winnow filter (drops 7/8 of rows BEFORE the shuffle) →
    * fingerprint self-join. The join key is the full 60-bit hash of an
    * exact 32-char window, so bucket sizes = documents sharing that
    * verbatim window — boilerplate clusters, never the corpus; random
    * collisions are ~n²/2^60 and engine-identical (DuckDB recomputes the
    * same md5-derived hashes, so the oracle agrees bitwise).
    */
  def dedupSubstring(s: SparkSession, dir: String): DataFrame = {
    val fps = Tables.documents(s, dir)
      .select(col("doc_id"),
        // WIDE (full 60-bit) fingerprints, not the mod-2^31 MinHash form:
        // the join key must make spurious collisions negligible at corpus
        // scale (~n²/2^60, engine-identical), or fake pairs dominate
        explode(graft.plans.Kernels.charGramsWide(col("text"), SubstrGramN)).as("g"))
      .filter(pmod(col("g"), lit(SubstrWinnowMod)) === 0)
      .localCheckpoint(eager = false) // feeds both sides of the fingerprint join
    fps.as("a")
      .join(fps.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .oracleSorted("doc_a", "doc_b")
  }

  /** K19′ `dedup_substring_spans`: sub-document SPAN output for
    * exact-substring dedup (round-4 VERDICT "What's missing" #2).
    * `dedup_substring` names the document PAIRS sharing verbatim windows;
    * the Lee-et-al pipeline it implements removes the repeated SPAN, not
    * the document — so the deliverable a pipeline user actually consumes is
    * a per-document CUT LIST: (doc_id, span_start, span_end) character
    * ranges covering every occurrence of every cross-document shared
    * window, with overlapping/adjacent windows merged into maximal spans.
    *
    * Shape: positional winnowed fingerprints (the same 60-bit window
    * hashes and 1/8 hash-sampling as `dedup_substring`, but keeping (pos,
    * hash) per OCCURRENCE — spans need offsets, so the distinct fused
    * kernel doesn't apply) → shared-fingerprint set via groupBy(g) with a
    * ≥2-distinct-docs floor (shuffle ∝ winnowed windows, keys are uniform
    * hashes) → semi-join occurrences back to shared hashes → classic
    * gaps-and-islands merge per doc (window partitioned by doc_id —
    * parallel across docs, never global). Winnowing means spans are
    * SAMPLED evidence of the duplicated run: consecutive surviving windows
    * of one run sit ≤ `SubstrGramN`·`SubstrWinnowMod` apart in expectation,
    * and the merge gap is `SubstrGramN`, so one long run may emit several
    * sub-spans — each still a verbatim-duplicated range (the law the spec
    * proves: cutting the spans removes every shared winnowed window).
    */
  def dedupSubstringSpans(s: SparkSession, dir: String): DataFrame =
    substringSpans(Tables.documents(s, dir))
      .oracleSorted("doc_id", "span_start")

  /** Core of `dedup_substring_spans` over any (doc_id, text) frame. */
  private[graft] def substringSpans(docs: DataFrame): DataFrame = {
    val n = SubstrGramN
    // (doc_id, pos, g): 1-based char position of every winnow-surviving
    // window occurrence, from the fused positional kernel (winnow inside
    // the kernel — only 1/8 of windows materialize; the HOF chain measured
    // 4.07 s vs ~1 s at sf0.1). Feeds the shared-set build AND the span
    // join, hence the cut.
    val w = docs
      .select(col("doc_id"),
        explode(graft.plans.Kernels.winnowedGramPos(col("text"), n, SubstrWinnowMod)).as("w"))
      .select(col("doc_id"), col("w.pos").as("pos"), col("w.g").as("g"))
      .localCheckpoint(eager = false)
    // windows shared VERBATIM by ≥2 documents (full 60-bit key, as in
    // dedup_substring — spurious collisions are ~n²/2^60, engine-identical)
    val shared = w.groupBy("g")
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select("g")
    val m = w.join(shared, "g").select("doc_id", "pos")
    // gaps-and-islands: windows [pos, pos+n-1] merge while the next start
    // is within n of the previous (overlap or touch)
    val wd = Window.partitionBy("doc_id").orderBy("pos")
    val prev = lag(col("pos"), 1).over(wd)
    m.withColumn("brk", when(prev.isNull || col("pos") - prev > n, 1).otherwise(0))
      .withColumn("span_id", sum("brk").over(
        wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "span_id")
      .agg(min("pos").as("span_start"),
        (max("pos") + (n - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select("doc_id", "span_start", "span_end", "n_windows")
  }

  /** K19″ `dedup_substring_clean`: APPLY the span cut lists — the cleaned
    * corpus a training pipeline actually feeds downstream (doc_id,
    * clean_text, n_spans, n_cut_chars). Spans per doc are collected and
    * sorted (disjoint by construction — the islands merge guarantees a gap
    * > 0 between spans), then one per-row HOF pass rebuilds the text from
    * the segments BETWEEN spans; span ends clamp to the text length (a
    * shorter-than-window doc's whole-text window reports span_end = 32
    * regardless of its true length).
    *
    * Scale shape: the spans computation is `dedup_substring_spans`
    * unchanged; the apply adds one groupBy(doc_id) over SPAN rows (∝
    * duplicated runs, not corpus), a left join back to the docs on doc_id,
    * and a narrow per-row string rebuild. Nothing new concentrates.
    */
  def dedupSubstringClean(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val sp = substringSpans(docs)
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(
        col("span_start").as("s"), col("span_end").as("e")))).as("sp"))
    val txt = col("text")
    val n = size(col("sp"))
    // segment i ∈ [1, n+1]: from (prev span end)+1 through (next span
    // start)−1; first segment starts at 1, last ends at len(text)
    val segs = transform(sequence(lit(1), n + 1), i => {
      val st = when(i === 1, lit(1))
        .otherwise(least(element_at(col("sp"), i - 1).getField("e"), length(txt)) + 1)
      val en = when(i === n + 1, length(txt))
        .otherwise(element_at(col("sp"), i).getField("s") - 1)
      when(en >= st, txt.substr(st, en - st + 1)).otherwise(lit(""))
    })
    val cut = aggregate(col("sp"), lit(0),
      (a, x) => a + (least(x.getField("e"), length(txt)) - x.getField("s") + 1))
    docs.join(sp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("sp").isNull, txt).otherwise(concat_ws("", segs)).as("clean_text"),
        coalesce(n, lit(0)).as("n_spans"),
        coalesce(cut, lit(0)).as("n_cut_chars"))
      .oracleSorted("doc_id")
  }

  /** `dedup_pipeline`: the END-TO-END dedup chain a training-data pipeline
    * actually runs, composed from the stages that are each green in
    * isolation (round-3 VERDICT "What's missing" #3):
    *
    *   normalize → exact-dedup (per normalized content, keep min doc_id)
    *             → MinHash LSH near-dup pairs over the exact REPRESENTATIVES
    *             → connected components to convergence
    *             → per-doc keep/drop verdict + canonical_id + reason.
    *
    * Composition notes (the part isolation doesn't test):
    *  - the LSH runs over exact representatives with NORMALIZED text, so
    *    the near-dup stage never re-scores byte-identical copies — at
    *    corpus scale that is most of the duplicate mass;
    *  - `staged` (per-doc exact_rep) is lineage-cut once and feeds both the
    *    representative set and the final verdict join, and the pair list is
    *    checkpointed before the iteration loop — the composed plan stays
    *    linear in stages (no exponential re-analysis; PlanSweep plans it);
    *  - every shuffle is by a key (norm_hash, band sig, doc_id) — the
    *    chain inherits each stage's 100 TB shape unchanged.
    *
    * Verdict semantics: a doc is kept iff it is its cluster's canonical
    * (minimum doc_id through both stages); dropped docs carry reason
    * `exact_dup` (byte-identical after normalization to an earlier doc) or
    * `near_dup` (its exact representative clustered under an earlier one).
    */
  def dedupPipeline(s: SparkSession, dir: String): DataFrame =
    dedupVerdicts(s, dir).oracleSorted("doc_id")

  /** The unsorted verdict frame `dedup_pipeline` emits — factored so the
    * composed `corpus_pipeline` consumes the identical chain without a
    * mid-pipeline global sort (the terminal sort is oracle contract, not
    * semantics).
    */
  private[graft] def dedupVerdicts(s: SparkSession, dir: String): DataFrame = {
    val staged = Tables.documents(s, dir)
      .select(col("doc_id"), normText(col("text")).as("norm_text"))
      .withColumn("exact_rep", min("doc_id").over(
        Window.partitionBy(sha2(col("norm_text").cast("binary"), 256))))
      .localCheckpoint(eager = false) // one materialization feeds reps + verdict join
    val reps = staged.filter(col("doc_id") === col("exact_rep"))
      .select(col("doc_id"), col("norm_text").as("text"))
    val pairs = minhashPairs(reps).select("doc_a", "doc_b").localCheckpoint()
    val labels = clusterLabels(pairs) // (rep doc_id, converged component min)
    staged
      .join(labels.select(col("doc_id").as("exact_rep"), col("lbl")),
        Seq("exact_rep"), "left")
      .select(col("doc_id"), col("exact_rep"),
        coalesce(col("lbl"), col("exact_rep")).as("canonical_id"))
      .select(col("doc_id"), col("canonical_id"),
        when(col("doc_id") === col("canonical_id"), "keep").otherwise("drop").as("verdict"),
        when(col("doc_id") === col("canonical_id"), lit(null).cast("string"))
          .when(col("doc_id") =!= col("exact_rep"), "exact_dup")
          .otherwise("near_dup").as("reason"))
  }

  /** K28 `corpus_pipeline` (round 6): the END-TO-END training-corpus
    * assembly a data team actually ships — the composed chain of four
    * already-proven stages, each reused from its standalone operator so
    * the composition cannot drift from the parts:
    *
    *   1. dedup verdicts ([[dedupVerdicts]] — normalize → exact rep →
    *      MinHash LSH over reps → converged components), keep canonical
    *      docs only;
    *   2. quality floor ([[qualityLabel]] == 'ok' — the same bucket
    *      `text_quality` publishes);
    *   3. language rebalance ([[Relational.mixKept]] — per-lang
    *      deterministic keep rates);
    *   4. train/val/test assignment ([[Relational.splitLabeled]] — salted
    *      split buckets, leak-proof under re-ingest).
    *
    * Output: one row per surviving doc with (lang, n_tokens, split) — the
    * manifest a tokenizer/shard writer consumes. Scale shape: the dedup
    * chain dominates (its cost story is `dedup_pipeline`'s); stages 2–4
    * are stateless per-row projections fused into the verdict join's
    * output — no additional shuffle beyond the dedup chain itself, because
    * quality/mix/split are all pure functions of the row.
    */
  def corpusPipeline(s: SparkSession, dir: String): DataFrame =
    assembledFrom(s, dir, dedupVerdicts(s, dir)).oracleSorted("doc_id")

  /** The unsorted assembled manifest from a given verdict frame — factored
    * so `corpus_report` aggregates the IDENTICAL assembly (and reuses one
    * verdict computation for both its branches).
    */
  private[graft] def assembledFrom(s: SparkSession, dir: String,
                                   verdicts: DataFrame): DataFrame = {
    val kept = verdicts.filter(col("verdict") === "keep").select("doc_id")
    val docs = Tables.documents(s, dir).join(kept, "doc_id")
      .filter(qualityLabel(col("text")) === "ok")
      .select(col("doc_id"), col("lang"), size(words(col("text"))).as("n_tokens"))
    Relational.splitLabeled(Relational.mixKept(docs).drop("bucket", "keep_pct"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("split"))
  }

  /** K29 `corpus_report` (round 7): the dataset DATASHEET — the summary
    * table a corpus release ships next to the manifest: per (language,
    * split) document counts, exact token totals, mean length, and the
    * per-language dedup keep rate. Every number derives from the SAME
    * single-sourced stages as `corpus_pipeline` (one shared verdict frame
    * feeds both the assembly and the keep-rate branch — lineage-cut once,
    * so the LSH chain runs once), and the mean is the exact-integer-sum /
    * count division, never a float `avg`. Scale: two partial aggregations
    * over the assembled frame + one over the verdict frame; everything
    * upstream is the audited dedup chain.
    */
  def corpusReport(s: SparkSession, dir: String): DataFrame = {
    val verdicts = dedupVerdicts(s, dir).localCheckpoint(eager = false)
    val rate = verdicts
      .join(Tables.documents(s, dir).select("doc_id", "lang"), "doc_id")
      .groupBy("lang")
      .agg(round(sum(when(col("verdict") === "keep", 1).otherwise(0)).cast("double") /
        count(lit(1)), 6).as("lang_keep_rate"))
    assembledFrom(s, dir, verdicts)
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens_total"),
        round(sum("n_tokens").cast("double") / count(lit(1)), 4).as("mean_tokens"))
      .join(rate, "lang")
      .select(col("lang"), col("split"), col("n_docs"), col("n_tokens_total"),
        col("mean_tokens"), col("lang_keep_rate"))
      .oracleSorted("lang", "split")
  }

  /** PII patterns, written WITHOUT backslash escapes so the same literal is
    * valid in Java regex (Spark) and RE2 (DuckDB) and survives both SQL
    * string parsers: `[.]` instead of `\.`, no `\b`/`\d` classes.
    */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}"
  val PhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** `text_pii`: PII detection + redaction — count email/phone matches and
    * rewrite them to placeholder tags, the scrubbing stage every
    * training-data pipeline runs before anything else sees the text.
    * Narrow per-row projection (regex only), no shuffle beyond the oracle
    * terminal sort; at 100 TB this is embarrassingly parallel scan work.
    */
  def textPii(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        size(expr(s"regexp_extract_all(text, '$EmailRe', 0)")).as("n_emails"),
        size(expr(s"regexp_extract_all(text, '$PhoneRe', 0)")).as("n_phones"),
        regexp_replace(regexp_replace(col("text"), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>").as("redacted"))
      .oracleSorted("doc_id")

  /** `text_normalize`: canonical text form — lowercase, trimmed, whitespace
    * collapsed — plus the content hash of the normal form (what exact-dedup
    * should key on in a real pipeline). Narrow per-row projection.
    */
  def textNormalize(s: SparkSession, dir: String): DataFrame = {
    val norm = normText(col("text"))
    Tables.documents(s, dir)
      .select(col("doc_id"), norm.as("norm_text"),
        sha2(norm.cast("binary"), 256).as("norm_hash"))
      .oracleSorted("doc_id")
  }

  /** `text_repetition`: Gopher-style intra-document repetition signals —
    * the quality rule that catches boilerplate/spam which length and
    * stopword ratios miss. Per doc: fraction of repeated 2-word and 3-word
    * shingles (1 − distinct/total) and the share of the single most
    * frequent bigram.
    *
    * Scale shape: a NARROW ZERO-SHUFFLE PROJECTION — distinct counts via
    * the fused `Kernels.charGramsWide` (one codegen'd pass; 60-bit collisions
    * ~n²/2^60 and engine-identical, DuckDB dedups the same hashes), totals
    * by arithmetic (#words − n + 1, floored at the whole-text fallback),
    * and the top-bigram count via `Kernels.topGramCount` (exact string
    * counting per row). Measured at sf0.1: the naive raw-string-HOF +
    * explode→groupBy form was 5.15 s — the slowest query in the inventory —
    * because it shuffled every bigram occurrence of the corpus to take a
    * per-doc max; this form is a per-row map over the scan.
    */
  def textRepetition(s: SparkSession, dir: String): DataFrame = {
    val nW = size(split(col("text"), " "))
    def total(n: Int): Column = greatest(nW - (n - 1), lit(1))
    def repFrac(n: Int): Column =
      round(lit(1.0) - size(hashedShingles(col("text"), n)).cast("double") / total(n), 4)
    Tables.documents(s, dir)
      .select(col("doc_id"), repFrac(2).as("rep2"), repFrac(3).as("rep3"),
        round(graft.plans.Kernels.topGramCount(col("text"), 2).cast("double") / total(2), 4)
          .as("top_bigram_frac"))
      .withColumn("flagged",
        when(col("rep2") > 0.2 || col("top_bigram_frac") > 0.18, 1).otherwise(0))
      .oracleSorted("doc_id")
  }

  /** Decontamination: eval docs are every `DecontamModulus`-th doc_id (a
    * deterministic stand-in for a benchmark set); overlap unit is the
    * hashed 8-word shingle.
    */
  val DecontamModulus = 97
  val DecontamShingleN = 8

  /** Max distinct eval grams the `decontaminate` broadcast path may carry
    * (2M longs ≈ tens of MB broadcast — the scale where per-executor
    * copies stop being free).
    */
  val DecontamBroadcastLimitDefault = 2000000L

  /** `decontaminate`: train/eval n-gram overlap — the contamination check
    * every training-data pipeline runs against benchmark sets before
    * training. Each training doc joins its exploded shingles against the
    * eval set's distinct hashed 8-word shingles, so the only shuffle is the
    * per-doc hit count, ∝ contaminated shingles — near-zero on a clean
    * corpus. Flag semantics: any 8-gram overlap marks the doc (the standard
    * conservative rule).
    *
    * The hit join is SIZE-GATED (round-4 VERDICT #4 removed the last
    * "small by assumption" in the K-block): the distinct eval-gram count is
    * measured (one aggregation of the eval side; its cut blocks are reused
    * by the join), and at ≤ `DecontamBroadcastLimitDefault` grams the set is
    * broadcast — the streaming-friendly stateless-per-row shape
    * StreamingParitySpec exercises. Above the limit (decontaminating
    * against a merged benchmark suite plus a dedup blocklist) the hint is
    * dropped and the same equi-join runs as a shuffle join on the uniform
    * gram key — no single task ever holds the whole eval set. Both paths
    * are byte-identical by construction (TextOpsSpec parity law); AQE
    * remains free to re-broadcast at runtime if actual sizes allow.
    */
  def decontaminate(s: SparkSession, dir: String): DataFrame =
    decontaminateAt(s, dir, DecontamBroadcastLimitDefault)

  /** `decontaminate` with an explicit broadcast limit (the registered query
    * runs at [[DecontamBroadcastLimitDefault]]; the parity law forces the
    * shuffle path with 0).
    */
  private[graft] def decontaminateAt(s: SparkSession, dir: String,
                                     broadcastLimit: Long): DataFrame = {
    // one shingling pass feeds both branches (lineage-cut, cleaner-freed)
    val g = Tables.documents(s, dir)
      .select(col("doc_id"), hashedShingles(col("text"), DecontamShingleN).as("hv"))
      .localCheckpoint(eager = false)
    val isEval = pmod(col("doc_id"), lit(DecontamModulus)) === 0
    val evalGrams = g.filter(isEval)
      .select(explode(col("hv")).as("g"))
      .distinct()
      .localCheckpoint(eager = false) // the gate's count() materializes; the join reuses
    val train = g.filter(!isEval)
    val evalSide =
      if (evalGrams.count() <= broadcastLimit) broadcast(evalGrams) else evalGrams
    val hits = train.select(col("doc_id"), explode(col("hv")).as("g"))
      .join(evalSide, "g")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    train.select(col("doc_id"), size(col("hv")).as("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("hit_frac", round(col("n_hit").cast("double") / col("n_grams"), 4))
      .withColumn("contaminated", when(col("n_hit") > 0, 1).otherwise(0))
      .oracleSorted("doc_id")
  }

  /** Sequence packing: target sequence length (tokens) and shard count. */
  val PackCapacity = 2048L
  val PackShards = 8

  /** `pack_sequences`: GPT-style concat-and-chunk packing — per shard,
    * documents are concatenated in doc_id order and the token stream is
    * chopped every `PackCapacity` tokens; each doc reports its shard,
    * estimated token count, start offset in the shard's stream, and the
    * training sequence its first token lands in. This is EXACT for the
    * concat-and-chunk semantic (not a bin-packing approximation). Scale
    * shape: one window per shard (`partitionBy(shard)` — parallel across
    * shards, never a global single-partition window); shard count scales
    * with the cluster, and the driver holds nothing.
    */
  def packSequences(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"),
        pmod(col("doc_id"), lit(PackShards)).cast("int").as("shard"),
        ceil(length(col("text")) / lit(4.0)).cast("long").as("n_tokens"))
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    toks
      .withColumn("start_off", coalesce(sum("n_tokens").over(w), lit(0L)))
      .withColumn("seq_id", expr(s"start_off div $PackCapacity"))
      .oracleSorted("doc_id")
  }

  /** Bin capacity for `pack_greedy` — calibrated (tok_est p50 ≈ 77, max ≈
    * 140) so bins hold 1-5 docs AND genuinely oversized docs exist at every
    * SF (27-38 of 500 at 1×), exercising the own-bin branch.
    */
  val PackBinCapacity = 128L

  case class PackDoc(doc_id: Long, shard: Int, n_tokens: Long)
  case class PackedDoc(doc_id: Long, shard: Int, n_tokens: Long,
                       bin_id: Int, bin_fill: Long)

  /** K17′ `pack_greedy` (round 10): DOCUMENT-PRESERVING sequence packing —
    * the padding-minimizing batcher (next-fit-decreasing bin packing) that
    * complements K17's concat-and-chunk: K17 splits documents across
    * sequence boundaries (right for pretraining token streams); this op
    * keeps each document intact in exactly one ≤`PackBinCapacity` bin
    * (right for instruction tuning / long-context curation, where a split
    * example is a corrupted example). Per shard: sort by (tokens desc,
    * doc_id), fold next-fit — a bin closes when the next doc would
    * overflow; an oversized doc takes a bin alone. NFD is the classic
    * 2-approximation; the greedy fold is inherently sequential, which is
    * exactly why the op SHARDS FIRST: parallelism = shard count (a tunable
    * ∝ cluster), per-shard state is O(1), and the typed `flatMapGroups`
    * fold is the sanctioned per-group-imperative route (the sessionize /
    * BPE-learn justification). All-integer outputs (doc, bin ordinal,
    * running fill) — the full packing hash-gates against a recursive-CTE
    * oracle that replays the fold step-for-step.
    */
  def packGreedy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"),
        pmod(col("doc_id"), lit(PackShards)).cast("int").as("shard"),
        ceil(length(col("text")) / lit(4.0)).cast("long").as("n_tokens"))
      .as[PackDoc]
      .groupByKey(_.shard)
      .flatMapGroups { (_: Int, it: Iterator[PackDoc]) =>
        val docs = it.toSeq.sortBy(d => (-d.n_tokens, d.doc_id))
        var bin = 0
        var fill = 0L
        docs.iterator.map { d =>
          if (bin == 0 || fill + d.n_tokens > PackBinCapacity) {
            bin += 1; fill = d.n_tokens
          } else fill += d.n_tokens
          PackedDoc(d.doc_id, d.shard, d.n_tokens, bin, fill)
        }
      }
      .toDF()
      .oracleSorted("doc_id")
  }

  /** K2b `dedup_simhash`: 16-bit SimHash over the distinct token set, folded
    * per row with HOFs (array accumulator of bit weights) — zero shuffle
    * until the final groupBy(simhash) bucket report. Token bit i weights
    * ±1 by bit i of the md5-derived 32-bit token hash.
    */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      // native fused kernel; == simhashHof bitwise (NativeVecSpec)
      .select(col("doc_id"), graft.plans.Kernels.simhash(col("text"), 8, 16).as("simhash"))
      .groupBy("simhash")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc"))
      .oracleSorted("simhash")

  /** SimHash pairing parameters: the Hamming radius of both pairings, and
    * the band count of `dedup_simhash_wide`'s band-rotation join. With
    * radius 3 a pair differs in at most 3 bits, so by pigeonhole it agrees
    * on at least one of the 4 disjoint bands: band equality has exact
    * recall inside the radius.
    */
  val SimhashBands = 4
  val SimhashHammingK = 3

  /** K2b′ `dedup_simhash_pairs`: near-dup DOCUMENT PAIRS within Hamming ≤ k
    * of the 16-bit SimHash — the step `dedup_simhash`'s exact-signature
    * buckets stop short of (round-2 VERDICT #3). The pairing is
    * [[simhashRadiusPairs]]: each distinct signature XORs itself with every
    * mask of 1..k bits (the radius-k Hamming ball) and equi-joins the
    * neighbour value back to the broadcast signature table, so candidates
    * are exactly the pairs inside the radius.
    *
    * Scale shape: the pairing runs over DISTINCT signatures, not documents —
    * a 16-bit space holds ≤ 65 536 rows no matter the corpus size, so the
    * join cost is a CONSTANT, independent of N (each signature carries its
    * min doc_id as the cluster representative; full membership is
    * `dedup_simhash`'s bucket table, an equi-join away).
    */
  def dedupSimhashPairs(s: SparkSession, dir: String): DataFrame =
    simhashRadiusPairs(
      Tables.documents(s, dir)
        .select(col("doc_id"), graft.plans.Kernels.simhash(col("text"), 8, 16).as("sig")),
      bits = 16)

  /** Wide-signature variant of the pairing for corpus scale: the 16-bit
    * space saturates at 65 536 distinct signatures (on a large corpus every
    * bucket is occupied and the Hamming graph over distinct signatures goes
    * dense), so `dedup_simhash_wide` pairs a 60-bit SimHash (60 = the
    * widest md5-prefix value that stays a signed-positive BIGINT in both
    * engines) with a classic band-rotation join: 4 bands × 15 bits,
    * candidates from any-band equality (exact recall inside the radius, see
    * `SimhashBands`), verification by exact Hamming distance. Band buckets
    * have 2^15 values and the distinct-signature space is 2^60 — neither
    * saturates at any realistic corpus size.
    */
  def dedupSimhashWide(s: SparkSession, dir: String): DataFrame =
    simhashBandPairs(
      Tables.documents(s, dir)
        .select(col("doc_id"), graft.plans.Kernels.simhash(col("text"), 15, 60).as("sig")),
      bandBits = 15)

  /** Round-18 (guide §1.1 first-principles / §2.4): bounded-radius XOR
    * enumeration for the 16-BIT pairing. The output CONTRACT of the band
    * form is exactly "all distinct-signature pairs within Hamming ≤ k":
    * the band-share candidate condition is IMPLIED by the final filter
    * (pigeonhole — k = 3 differing bits cannot touch all `SimhashBands` = 4
    * disjoint bands, so every surviving pair shares a band; TextOpsSpec
    * asserts output == the brute-force radius pair set). On a big corpus
    * the 16-bit space SATURATES (≤ 65 536 distinct sigs but only 2^4 = 16
    * bucket values per band), so the band self-join enumerates
    * Σ_buckets |b|² ≈ (2^16)²/2^4 × 4 ≈ 10⁹ candidate evaluations — 110 s
    * at 100× (`bench_full100x_r17.json`) for an output it then dedups
    * band-by-band. This form enumerates the radius DIRECTLY: every sig
    * explodes into its C(16,1..3) = 696 XOR masks, keeps the `sig < sig^m`
    * orientation (each unordered pair generated EXACTLY once — no
    * `distinct()` pass at all), and equi-joins the neighbor value back to
    * the signature table. Work is 696·|sigs| generated probes against a
    * ≤ 2^16-row build side (broadcast: the bound is structural — the
    * SIGNATURE SPACE, not the corpus, caps the relation at any scale), vs
    * the band join's |sigs|²/16·4. The signature table is computed ONCE
    * behind a lazy cut (the band form re-ran the SimHash kernel + distinct
    * on both self-join sides — two full corpus scans).
    *
    * Equivalence: pairs = {(sa, sb) : sa < sb distinct sigs,
    * hamming(sa,sb) ∈ 1..k} on both forms (hamming 0 is impossible across
    * DISTINCT sigs; doc_a/doc_b are each side's min-doc representative,
    * keyed to the same sa < sb orientation).
    */
  private def simhashRadiusPairs(sigDf: DataFrame, bits: Int): DataFrame = {
    val masks: Array[Long] = (1 to SimhashHammingK).flatMap(k =>
      (0 until bits).combinations(k).map(_.map(i => 1L << i).sum)).toArray
    val sigs = sigDf.groupBy("sig").agg(min("doc_id").as("min_doc"))
      .localCheckpoint(eager = false) // one kernel+distinct pass feeds both sides
    val probes = sigs
      .select(col("sig"), col("min_doc"), explode(typedLit(masks)).as("m"))
      .select(col("sig"), col("min_doc"),
        col("sig").bitwiseXOR(col("m")).as("nsig"))
      .where(col("sig") < col("nsig"))
    probes.as("a").join(broadcast(sigs.as("b")), col("a.nsig") === col("b.sig"))
      .select(col("a.min_doc").as("doc_a"), col("b.min_doc").as("doc_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .oracleSorted("doc_a", "doc_b")
  }

  /** Shared band-rotation pairing over a (doc_id, sig) frame: reduce to
    * DISTINCT signatures (min doc_id as representative), explode
    * `SimhashBands` bands of `bandBits` bits, equi-join on any-band
    * equality, verify exact Hamming ≤ k. Kept for the 60-BIT wide variant,
    * whose 2^15-value band buckets never saturate (the 16-bit form moved
    * to [[simhashRadiusPairs]] — C(60,≤3) = 36 051 masks would make radius
    * enumeration the worse trade here).
    */
  private def simhashBandPairs(sigDf: DataFrame, bandBits: Int): DataFrame = {
    val mask = (1L << bandBits) - 1
    val sigs = sigDf.groupBy("sig").agg(min("doc_id").as("min_doc"))
    val bands = sigs.select(col("sig"), col("min_doc"),
        posexplode(array((0 until SimhashBands).map(b =>
          shiftright(col("sig"), b * bandBits).bitwiseAND(lit(mask))): _*)))
      .select(col("sig"), col("min_doc"), col("pos").as("band"), col("col").as("bval"))
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
          col("a.sig") < col("b.sig"))
      .select(col("a.min_doc").as("doc_a"), col("b.min_doc").as("doc_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= SimhashHammingK)
      .oracleSorted("doc_a", "doc_b")
  }

  /** Reference HOF SimHash column (parity-test oracle for
    * `Kernels.simhash(text, 8, 16)`).
    */
  private[graft] def simhashHof(text: Column): Column = {
    val bits = 16
    def hv(t: Column): Column = conv(substring(md5s(t), 1, 8), 16, 10).cast("long")
    def bitVec(h: Column): Column = transform(sequence(lit(0), lit(bits - 1)),
      i => when(pmod((h / pow(lit(2.0), i)).cast("long"), lit(2)) === 1, lit(1)).otherwise(lit(-1)))
    val weights = aggregate(array_distinct(words(text)),
      array_repeat(lit(0), bits),
      (acc, t) => zip_with(acc, bitVec(hv(t)), (a, b) => a + b))
    aggregate(
      zip_with(weights, sequence(lit(0), lit(bits - 1)),
        (w, i) => when(w > 0, pow(lit(2.0), i)).otherwise(lit(0.0))),
      lit(0.0), (a, x) => a + x).cast("long")
  }

  /** Reference HOF 60-bit SimHash column (parity-test oracle for
    * `Kernels.simhash(text, 15, 60)`).
    * All arithmetic stays in LONG: bit i of the 60-bit token hash is read
    * with pmod(h, 2^(i+1)) ≥ 2^i (casting h to double would lose bits above
    * 2^53), and the signature accumulates long powers of two — `pow(2, i)`
    * is exact in double for any i and the cast to long is exact.
    */
  private[graft] def simhash60Hof(text: Column): Column = {
    val bits = 60
    def hv(t: Column): Column = conv(substring(md5s(t), 1, 15), 16, 10).cast("long")
    def bitVec(h: Column): Column = transform(sequence(lit(0), lit(bits - 1)),
      i => {
        val p = pow(lit(2.0), i).cast("long")
        when(pmod(h, p * 2) >= p, lit(1)).otherwise(lit(-1))
      })
    val weights = aggregate(array_distinct(words(text)),
      array_repeat(lit(0), bits),
      (acc, t) => zip_with(acc, bitVec(hv(t)), (a, b) => a + b))
    aggregate(
      zip_with(weights, sequence(lit(0), lit(bits - 1)),
        (w, i) => when(w > 0, pow(lit(2.0), i).cast("long")).otherwise(lit(0L))),
      lit(0L), (a, x) => a + x)
  }

  /** K2c `dedup_ngram`: character-4-gram Jaccard near-dup detection.
    *
    * Candidates come from the word-shingle MinHash bands (same LSH as
    * dedup_minhash); verification is exact char-4-gram Jaccard, which also
    * scores sub-word edits that word shingles miss. Blocking on char grams
    * themselves does NOT scale on low-entropy corpora: measured on the
    * testdata, unrelated docs average char-4-gram Jaccard 0.27 (max 0.41),
    * so a min-gram block put 3047 of 5000 docs in one bucket (≈4.6M verify
    * pairs) — the all-pairs shape this engine must never produce. Word
    * 3-shingle noise Jaccard is ~0.007, so its bands are the discriminative
    * key; τ=0.5 sits above the char-gram noise ceiling, keeping the output
    * to true near-dups.
    */
  def dedupNgram(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val cand = {
      // lineage-cut materialization instead of cache, as in dedupMinhash
      val sigs = bandSignatures(
        docs.select(col("doc_id"), hashedShingles(col("text"), 3).as("hv"))
          .localCheckpoint(eager = false))
      sigs.as("a").join(sigs.as("b"),
          col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
    }
    // hashed char-gram sets: Jaccard over longs (identical in both engines);
    // native fused kernel, same value as the HOF chain (NativeVecSpec)
    val g = docs.select(col("doc_id"),
        graft.plans.Kernels.charGrams(col("text"), 4).as("cg"))
      .localCheckpoint(eager = false)
    cand
      .join(g.select(col("doc_id").as("doc_a"), col("cg").as("cg_a")), "doc_a")
      .join(g.select(col("doc_id").as("doc_b"), col("cg").as("cg_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(size(array_intersect(col("cg_a"), col("cg_b"))).cast("double") /
          size(array_distinct(concat(col("cg_a"), col("cg_b")))), 6).as("jaccard"))
      .filter(col("jaccard") >= NgramTau)
      .oracleSorted("doc_a", "doc_b")
  }
}
