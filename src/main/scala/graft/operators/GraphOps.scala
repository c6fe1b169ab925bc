package graft.operators

import graft.Tables
import graft.functions.OracleSort._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph dataflow (§2.I′ — iterative beyond k-means).
  *
  * The reference's iterative loop is k-means over score vectors
  * [ref: stackoverflow/…/StackOverflow.scala#kmeans]; PageRank is the other
  * canonical fixed-point the big-data curriculum builds on the same
  * machinery (re-rank from neighbors until stable). Same engine discipline
  * as `kmeans_clusters`/`dedup_cluster`: a driver-coordinated loop over
  * DataFrames, every per-iteration step a plain join + partial
  * aggregation. Lineage handling is per-loop (round 17): the fixed-count
  * pagerank loop builds one inline plan; the data-dependent BFS recursion
  * cuts per hop — see each loop's comment.
  */
object GraphOps {

  /** Fixed iteration count — pinned (not convergence-gated) so the DuckDB
    * recursive-CTE oracle replays the identical trajectory.
    */
  val PrIters = 15

  /** Initial integer mass per node and the 15% teleport share of it.
    * INTEGER mass is the determinism trick: every update is
    * `base + ⌊(Σ ⌊mass/outdeg⌋·w) · 85 / 100⌋` — all operands stay exact
    * in both engines' arithmetic (products ≤ 2.6e15 < 2^53, and a
    * non-exact quotient is ≥ 1/outdeg ≥ 1/100 away from an integer while
    * the double error is < 0.005, so the floors can never disagree) — the
    * 15-step trajectory is hash-identical, not approximately equal.
    */
  val PrMass0 = 1000000000000L
  val PrBase: Long = PrMass0 * 15 / 100

  /** `graph_pagerank`: PageRank over the token-transition graph of the
    * corpus (src = token, dst = its successor within a document; distinct,
    * unweighted). Per iteration each node splits its mass uniformly over
    * its out-edges, keeps nothing (dangling mass exits, a documented
    * choice both engines share), and every node receives the 15% teleport
    * base — expressed as ONE join + partial-agg groupBy per step over an
    * `eplus` edge table that carries a weight-0 self-loop per node, so
    * isolated/no-inbound nodes keep a row without a second pass (the same
    * single-reference shape the recursive oracle needs).
    *
    * Scale: node/edge tables here are vocabulary-sized, but the loop body
    * is the general shuffle-by-dst shape — at web scale each iteration is
    * one shuffle ∝ |edges|, the textbook cost. The fixed 15-step loop is
    * built INLINE (round 17): plan analysis is linear in step count, and
    * keeping the steps in one plan lets Catalyst see the per-step rank
    * table's (vocabulary-bounded) size instead of a stats-less lineage
    * cut — see the loop comment.
    */
  /** Distinct token-transition edges (src = token, dst = its successor
    * within a document) — the ONE edge derivation `graph_pagerank` and
    * `graph_bfs` share (mirrored verbatim by both recursive oracles).
    */
  private[graft] def tokenPairs(toks: DataFrame): DataFrame =
    toks.where(size(col("ts")) > 1)
      .select(explode(arrays_zip(
        slice(col("ts"), lit(1), size(col("ts")) - 1),
        slice(col("ts"), lit(2), size(col("ts")) - 1))).as("p"))
      .select(col("p.0").as("src"), col("p.1").as("dst"))
      .distinct()

  private[graft] def tokenized(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ts"))

  def graphPagerank(s: SparkSession, dir: String): DataFrame = {
    val toks = tokenized(s, dir)
    val pairs = tokenPairs(toks)
    val nodes = toks.select(explode(col("ts")).as("token")).distinct()
    val deg = pairs.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val eplus = pairs.withColumn("w", lit(1))
      .unionByName(nodes.select(col("token").as("src"), col("token").as("dst"), lit(0).as("w")))
      .join(deg, Seq("src"), "left")
      .withColumn("outdeg", coalesce(col("outdeg"), lit(1L)))
      .localCheckpoint(eager = false)

    var pr = nodes.select(col("token"), lit(PrMass0).as("mass"))
    for (i <- 1 to PrIters) {
      val step = eplus.join(pr, col("src") === col("token"))
        .select(col("dst"),
          (floor(col("mass") / col("outdeg")).cast("long") * col("w")).as("c"))
        .groupBy("dst")
        .agg((lit(PrBase) + floor(sum("c") * 85 / 100).cast("long")).as("mass"))
        .withColumnRenamed("dst", "token")
      // Round-17 (guide §2.4/§3.1): the per-iteration lineage cut is GONE.
      // A cut left each iteration's pr as a LogicalRDD with no size stats,
      // so every step planned a shuffle join — re-exchanging the edge table
      // per iteration. Inline, Catalyst sees pr is an aggregate over the
      // vocabulary-bounded node set and picks the broadcast build itself
      // (at real-stats web scale it would pick SMJ — the declared-join
      // discipline from the Joins preamble), leaving ONE exchange per step:
      // the partial-agg groupBy(dst), the textbook ∝|edges|→|nodes| cost.
      // The 15-step inline plan stays linear to analyze (measured: 3.16 →
      // 2.31 s at sf0.1; a per-iteration driver broadcast of pr was also
      // probed and was WORSE, 4.8 s — 15 blocking broadcast jobs).
      pr = step
    }
    pr.withColumn("rnk",
        rank().over(org.apache.spark.sql.expressions.Window
          .orderBy(desc("mass"), asc("token"))).cast("int"))
      .oracleSorted(desc("mass"), asc("token"))
  }

  /** `graph_bfs` hop cap — fixed (not convergence-gated) so the DuckDB
    * recursive oracle replays the identical bounded exploration.
    */
  val BfsMaxHops = 4

  /** `graph_bfs` (round 7): multi-source breadth-first hop distance —
    * "which tokens are within k transitions of the lexicon" — the
    * reachability primitive under impact analysis, link-distance
    * features, and taint propagation. Textbook Pregel BFS: per hop, join
    * ONLY the frontier (nodes first reached last hop) against the edge
    * table, anti-join out already-settled nodes, union into the settled
    * set — each hop is one equi-join + anti-join shuffle ∝ |frontier
    * edges|, never |settled| × |edges| (the naive re-propagate-everything
    * form). Integer distances make the whole bounded exploration
    * hash-exact, so like `graph_pagerank` — and unlike float fixed
    * points — the ENTIRE trajectory is oracle-gated: the recursive CTE
    * explores every ≤k-hop path and takes min(dist), which equals BFS
    * first-reach depth.
    */
  def graphBfs(s: SparkSession, dir: String): DataFrame = {
    val pairs = tokenPairs(tokenized(s, dir)).localCheckpoint(eager = false)
    val seeds = pairs.select(col("src").as("token"))
      .unionByName(pairs.select(col("dst").as("token")))
      .distinct()
      .where(col("token").isin(TextOps.lexicon: _*))
    var settled = seeds.select(col("token"), lit(0).as("dist"))
    var frontier = settled
    for (h <- 1 to BfsMaxHops) {
      val next = frontier.join(pairs, frontier("token") === pairs("src"))
        .select(col("dst").as("token")).distinct()
        .join(settled, Seq("token"), "left_anti")
        .select(col("token"), lit(h).as("dist"))
        // per-hop cuts STAY here (unlike graphPagerank's inline loop):
        // next feeds both settled and the following frontier, so an uncut
        // recursion re-expands the whole hop history inside every
        // consumer (probed round 17: 1.0 -> 1.9 s at sf0.1)
        .localCheckpoint(eager = false)
      settled = settled.unionByName(next).localCheckpoint(eager = false)
      frontier = next
    }
    settled.oracleSorted("token")
  }

  /** `graph_triangles` (round 10): per-node triangle counts over the
    * undirected token-transition graph — the clustering/community signal
    * (and the dedup-graph density diagnostic) every graph stack ships.
    *
    * Algorithm is the DISTRIBUTED-SCALE one, not the naive 3-way self-join:
    * compact-forward / degree ordering (Latapy 2008; the same trick
    * Cohen's MapReduce triangle paper and GraphFrames use). Rank nodes by
    * (degree, token); direct every undirected edge from lower to higher
    * rank — a DAG where each triangle appears EXACTLY once, as a wedge
    * (u→v, u→w) at its lowest-rank corner closed by the edge v→w. The
    * wedge join's intermediate is Σ_u outdeg(u)² with outdeg bounded by
    * O(√|E|) on any graph (every out-neighbour outranks u), vs the naive
    * join's Σ deg² with hub degrees unbounded — the difference between
    * tractable and not on a power-law graph at 100 TB. Corners then
    * explode (3 rows per triangle) into one partial-agg groupBy.
    *
    * Joins here are broadcast (vocabulary-sized tables); at corpus scale
    * the same plan shuffles by `u` / `(v, w)` — plain equi-joins, AQE
    * skew-splittable. Self-loops (repeated tokens) are dropped; counts are
    * exact integers, fully hash-gated.
    */
  def graphTriangles(s: SparkSession, dir: String): DataFrame = {
    val und = tokenPairs(tokenized(s, dir))
      .where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val lower = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    val d = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(
        when(lower, col("a")).otherwise(col("b")).as("u"),
        when(lower, col("b")).otherwise(col("a")).as("v"),
        when(lower, col("db")).otherwise(col("da")).as("dv"))
    val wedges = d.select(col("u"), col("v"), col("dv"))
      .join(d.select(col("u").as("u2"), col("v").as("w"), col("dv").as("dw")),
        col("u") === col("u2") &&
          (struct(col("dv"), col("v")) < struct(col("dw"), col("w"))))
    val tris = wedges.join(d.select(col("u").as("v3"), col("v").as("w3")),
      col("v") === col("v3") && col("w") === col("w3"))
    tris
      .select(explode(array(col("u"), col("v"), col("w"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n_tri"))
      .oracleSorted("token")
  }
}
