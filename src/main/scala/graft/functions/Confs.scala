package graft.functions

import org.apache.spark.sql.SparkSession

/** Exception-safe scoped session-conf override: the previous value (or
  * its absence) is restored even when the body throws.
  *
  * Round-17 use: driver-coordinated iteration loops (k-means, the integer
  * k-means twin, PQ codebook learning) run one TINY aggregate job per
  * iteration — the shuffle moves k×dim partial-agg rows regardless of
  * corpus size, so AQE's between-stage re-optimization round trip buys
  * nothing for those jobs while adding measurable driver latency per
  * iteration (probed at sf0.1: 0.59 s → 0.42 s per pass; ×~9 passes on the
  * float loop). AQE stays ON everywhere else — skew-join splitting and
  * partition coalescing are part of the engine's 100 TB story; the scope
  * here is exactly the loops whose per-iteration exchanges are
  * k-bounded by construction.
  */
object Confs {
  def withConf[A](s: SparkSession, key: String, value: String)(body: => A): A = {
    val prev = s.conf.getOption(key)
    s.conf.set(key, value)
    try body finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None    => s.conf.unset(key)
    }
  }

  /** AQE off for the duration of a k-bounded-iteration driver loop. */
  def withoutAqe[A](s: SparkSession)(body: => A): A =
    withConf(s, "spark.sql.adaptive.enabled", "false")(body)

  /** Reduce-partition count for a k-bounded loop's exchanges: every
    * shuffle inside these loops carries k×dim (or k×2) partial-agg rows
    * REGARDLESS of corpus size, so a handful of reduce partitions is the
    * right setting at any scale — `spark.sql.shuffle.partitions` = cores
    * just launches empty tasks each iteration (probed: ~0.55 → ~0.40 s per
    * k-means pass on top of the AQE scope). The map side (the corpus scan)
    * is unaffected. Results are partition-count independent by the
    * engine's exact-decimal/integer sum discipline.
    */
  val KBoundedLoopPartitions = 8

  /** Combined loop scope: AQE off + k-bounded reduce partitions. */
  def kBoundedLoop[A](s: SparkSession)(body: => A): A =
    withoutAqe(s)(withConf(s, "spark.sql.shuffle.partitions",
      KBoundedLoopPartitions.toString)(body))
}
