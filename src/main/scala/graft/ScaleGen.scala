package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic scale-up generator for the round-7 scale-stress measurement
  * (BASELINE.md "10× scale-stress"): replicates the sf0.1 tables `factor`×
  * into an output dir, with KEY-DISJOINT replicas so join/group cardinality
  * scales linearly like real growth would — naive row duplication would
  * square join outputs and explode dedup candidate mass, measuring the
  * fixture instead of the engine.
  *
  * Per-table discipline (stride far above any real key):
  *  - lineitem: l_orderkey offset per replica (orders joins stay 1:N);
  *  - orders:   o_orderkey AND o_custkey offset (as-of per-key densities
  *              preserved, key count 10×);
  *  - events:   event_id AND user_id offset, timestamps kept (same 30-day
  *              range at 10× traffic — the realistic growth shape);
  *  - embeddings: vec_id offset, vectors kept (replica 0 holds the lowest
  *              vec_ids, so k-means init centers — first vector per label —
  *              and the convergence trajectory match sf0.1; per-pass cost
  *              scales 10×);
  *  - documents: doc_id offset, and replicas >0 get a DETERMINISTIC
  *              per-replica injective word RENAMING (word →
  *              hex(xxhash64(word, replica))[0:8]): word-level n-gram
  *              structure is isomorphic under an injective vocabulary
  *              relabeling, so near-duplicate pairs WITHIN a replica keep
  *              exactly their shingle overlap, while cross-replica copies
  *              share no vocabulary at all — the duplicate RATE stays
  *              constant as the corpus grows, which is what "10× more
  *              data" means for a dedup pipeline. (A first attempt that
  *              PERMUTED words instead was discarded: sorting groups a
  *              replica's common words into identical runs shared by every
  *              doc, which blows up LSH bucket sizes — a fixture artifact
  *              that measured as super-linear dedup cost.)
  *
  * Usage: runMain graft.ScaleGen <srcSfDir> <outDir> <factor>
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: graft.ScaleGen <srcSfDir> <outDir> <factor>")
    val Array(src, out, fStr) = args
    val factor = fStr.toInt
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = GraftSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, src, out, factor)
    spark.stop()
  }

  /** One replica column via explode — a single pass per table, no N-way
    * union plan.
    */
  private def replicated(df: DataFrame, factor: Int): DataFrame =
    df.withColumn("rep", explode(sequence(lit(0L), lit(factor - 1L))))

  val Stride = 100000000L // beyond any generator key at any SF

  def generate(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    val parts = spark.sparkContext.defaultParallelism
    def write(df: DataFrame, name: String): Unit = {
      df.repartition(parts).write.mode("overwrite").parquet(s"$out/$name.parquet")
      System.err.println(s"[scalegen] wrote $name x$factor")
    }
    def off(c: String) = (col(c) + col("rep") * Stride).as(c)

    write(replicated(Tables.lineitem(spark, src), factor)
      .select((col("l_orderkey") + col("rep") * Stride).as("l_orderkey") +:
        Tables.lineitem(spark, src).columns.filter(_ != "l_orderkey").map(col): _*),
      "lineitem")

    write(replicated(Tables.orders(spark, src), factor)
      .select(off("o_orderkey"), off("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority")),
      "orders")

    // customer: key-shifted replicas so orders' o_custkey offsets keep
    // resolving (FK integrity preserved at every factor — dq_checks runs
    // unchanged). Names get a per-replica "_r_r" suffix (the replica index
    // TWICE): cross-replica name pairs then differ in >= 2 positions, so
    // join_fuzzy's <=1-distance answer is exactly the union of the
    // per-replica answers — output scales LINEARLY in the factor, the
    // "10x more entities" semantics. (Verbatim replication would plant
    // factor-sized exact-duplicate name groups and a quadratic output — a
    // fixture property, which round-7's first scale table had to exclude.)
    write(replicated(Tables.customer(spark, src), factor)
      .select(off("c_custkey") +: concat(col("c_name"), lit("_"), col("rep"),
          lit("_"), col("rep")).as("c_name") +:
        Tables.customer(spark, src).columns
          .filter(c => c != "c_custkey" && c != "c_name").map(col): _*),
      "customer")

    write(replicated(Tables.events(spark, src), factor)
      .select(off("event_id"), col("ts"), off("user_id"),
        col("event_type"), col("value"), col("props")),
      "events")

    write(replicated(Tables.embeddings(spark, src), factor)
      .select(off("vec_id"), col("embedding"), col("label")),
      "embeddings")

    // documents: replica 0 verbatim; replicas >0 vocabulary-renamed (see
    // header — injective relabeling preserves n-gram structure exactly)
    val docs = replicated(Tables.documents(spark, src), factor)
    val renamed = when(col("rep") === 0, col("text")).otherwise(
      concat_ws(" ",
        transform(split(col("text"), " "),
          w => lower(substring(hex(xxhash64(w, col("rep"))), 1, 8)))))
    write(docs.select(off("doc_id"), renamed.as("text"),
      col("lang"), col("source"), col("n_chars")), "documents")
  }
}
