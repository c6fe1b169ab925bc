package graft.functions

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}

/** Session scope of the driver-coordinated iteration loops (the Lloyd loop
  * that trains the k-means centers and the PQ codebooks, and the integer
  * k-means twin).
  *
  * Each iteration runs one TINY aggregate job: the shuffle moves k×dim
  * partial-agg rows regardless of corpus size, so AQE's between-stage
  * re-optimization round trip buys nothing for those jobs while adding
  * measurable driver latency per iteration (probed at sf0.1: 0.59 s →
  * 0.42 s per pass; ×~9 passes on the float loop). AQE stays ON everywhere
  * else — skew-join splitting and partition coalescing are part of the
  * engine's 100 TB story.
  *
  * The loop body runs on a CLONE of the frame's session that carries the
  * two settings; the caller's session is never written, so concurrent
  * queries on it keep AQE and their own partition count, and overlapping
  * loops cannot restore each other's values. The clone copies every other
  * setting and shares the SparkContext and the CacheManager, so a frame
  * the caller cached is read from that cache inside the loop. At the
  * repo's local[4] settings the loop raises shuffle partitions from 4 to 8.
  * On a session built without `GraftSession.builder()`'s artifact setting,
  * each clone gets its own class loader and recompiles the loop's
  * generated classes.
  */
object Confs {
  /** Reduce-partition count for a k-bounded loop's exchanges: every
    * shuffle inside these loops carries k×dim (or k×2) partial-agg rows
    * REGARDLESS of corpus size, so a handful of reduce partitions is the
    * right setting at any scale — `spark.sql.shuffle.partitions` = cores
    * just launches empty tasks each iteration (probed: ~0.55 → ~0.40 s per
    * k-means pass on top of the AQE scope). The map side (the corpus scan)
    * is unaffected. Results are partition-count independent by the
    * engine's exact-decimal/integer sum discipline.
    */
  private val KBoundedLoopPartitions = 8

  /** Runs `body` with `df` re-bound to a clone of its session that has AQE
    * off and 8 shuffle partitions. Frames the body derives from its
    * argument run under those settings; frames built from the caller's
    * session, during or after the loop, do not.
    */
  def kBoundedLoop[A](df: DataFrame)(body: DataFrame => A): A = {
    val clone = GraftSqlBridge.cloneSession(df.sparkSession)
    clone.conf.set("spark.sql.adaptive.enabled", "false")
    clone.conf.set("spark.sql.shuffle.partitions", KBoundedLoopPartitions.toString)
    body(GraftSqlBridge.onSession(df, clone))
  }
}
