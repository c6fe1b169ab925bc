package graft

import graft.operators.{TextOps, VectorOps, Windows}
import org.scalatest.funsuite.AnyFunSuite

/** Scale-shape assertions for the LLM-pipeline operators: every dedup /
  * similarity query must get its candidates from an LSH bucket equi-join —
  * a CartesianProduct anywhere in these plans is the 100 TB failure mode
  * this engine exists to avoid. `sim_topk` is the one sanctioned
  * broadcast-nested-loop (tiny query set × corpus).
  */
class PlanShapeSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sfDir}

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.sparkPlan.toString

  test("dedup_minhash candidates come from an equi-join, never all-pairs") {
    val p = planOf(TextOps.dedupMinhash(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dedup_ngram has no all-pairs stage") {
    val p = planOf(TextOps.dedupNgram(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dedup_embed pairs only within LSH buckets") {
    val p = planOf(VectorOps.dedupEmbed(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("sim_ann joins queries to corpus on the bucket key") {
    val p = planOf(VectorOps.simAnn(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("sim_topk is the sanctioned broadcast nested loop over a tiny query set") {
    val p = planOf(VectorOps.simTopk(spark, sfDir))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("text_tfidf broadcasts the vocabulary-sized doc-frequency side") {
    val p = planOf(TextOps.textTfidf(spark, sfDir))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
  }

  test("scan_dpp prunes partitions at RUNTIME via DynamicPruningExpression") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.catalyst.expressions.{DynamicPruning, DynamicPruningExpression}
    val helper = new AdaptiveSparkPlanHelper {}
    val df = graft.operators.Relational.scanDpp(spark, sfDir)

    // plan-time proof: the partitioned fact scan carries a dynamic-pruning
    // subquery in its PARTITION filters (qe.sparkPlan — AQE hides leaves;
    // at this stage it is still a DynamicPruningSubquery, planned into a
    // DynamicPruningExpression in the executed plan below)
    val scans = helper.collect(df.queryExecution.sparkPlan) {
      case f: FileSourceScanExec if f.relation.partitionSchema.nonEmpty => f
    }
    assert(scans.nonEmpty, df.queryExecution.sparkPlan.toString)
    val dppScan = scans.find(_.partitionFilters.exists(
      _.exists(_.isInstanceOf[DynamicPruning])))
    assert(dppScan.nonEmpty,
      s"no DynamicPruning in partition filters:\n${scans.map(_.partitionFilters).mkString("\n")}")

    // runtime proof: execute and read the scan's partitions-read metric —
    // only the 1 matching lang partition of 5 may be read
    df.collect()
    val executedScan = helper.collect(df.queryExecution.executedPlan) {
      case f: FileSourceScanExec if f.relation.partitionSchema.nonEmpty => f
    }.head
    assert(executedScan.partitionFilters.exists(
      _.exists(_.isInstanceOf[DynamicPruningExpression])),
      executedScan.partitionFilters.mkString("; "))
    val partsRead = executedScan.metrics("numPartitions").value
    val totalParts = spark.read.parquet(
        s"${graft.Staging.stagedRoot(graft.operators.Relational.PartStageDir)}/documents")
      .select("lang").distinct().count()
    assert(partsRead < totalParts, s"read $partsRead of $totalParts partitions — no runtime pruning")
    assert(partsRead == 1L, s"expected exactly the cjk partition, read $partsRead")
  }

  test("graft.terminalSort=false elides the oracle-contract global sort") {
    // default (oracle mode): terminal global sort present
    assert(planOf(VectorOps.vecNorm(spark, sfDir)).contains("Sort ["))
    spark.conf.set("graft.terminalSort", "false")
    try {
      // pure projection: no Sort node of any kind remains
      val p = planOf(VectorOps.vecNorm(spark, sfDir))
      assert(!p.contains("Sort ["), p)
      // window query keeps its per-partition (local) sort, loses the global
      // one — physical Sort prints `Sort [...], <global>, 0`; local sorts
      // are inserted by EnsureRequirements, so check the executed plan
      val w = Windows.windowRank(spark, sfDir).queryExecution.executedPlan.toString
      assert(w.contains("], false, 0"), w)
      assert(!w.contains("], true, 0"), w)
      // semantic order stays: top-k still plans as TakeOrderedAndProject
      val t = planOf(Windows.topk(spark, sfDir))
      assert(t.contains("TakeOrderedAndProject"), t)
    } finally spark.conf.unset("graft.terminalSort")
  }

  test("query_q5: dims broadcast, date predicate inside the orders scan, no cartesian (C8')") {
    val df = graft.operators.Joins.queryQ5(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the order-date range must reach the orders parquet scan
    val sp = df.queryExecution.sparkPlan.toString
    assert(sp.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate")
      || sp.contains("GreaterThanOrEqual(o_orderdate"), sp)
  }

  test("sample_reservoir: the k-smallest-hash sample plans as a heap, not a global sort (K12')") {
    val p = planOf(graft.operators.Relational.sampleReservoir(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("join_bucketed: storage layout satisfies the join distribution — zero shuffle under the SMJ (C9)") {
    val df = graft.operators.Joins.joinBucketed(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p) // merge hint held (no toy-scale broadcast)
    // everything FROM the join DOWN is exchange-free: the bucketed scans
    // satisfy the join's required distribution by layout (the two exchanges
    // above it — group-key aggregate + terminal oracle sort — are the
    // query's own, not the join's)
    val joinSubtree = p.substring(p.indexOf("SortMergeJoin"))
    assert(!joinSubtree.contains("Exchange"), joinSubtree)
    // and the scans really are bucketed reads, all buckets selected
    assert(joinSubtree.contains("Bucketed: true"), joinSubtree)
    assert(joinSubtree.contains("SelectedBucketsCount: 8 out of 8"), joinSubtree)
  }

  test("join_bucketed reads from the bucketed stage; a dropped table is re-registered over its files, not rewritten") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.execution.FileSourceScanExec
    import graft.operators.Joins
    def scans(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.sparkPlan.collect { case f: FileSourceScanExec => f }
    def dataFiles(root: String): Map[String, Long] = {
      val walk = Files.walk(Paths.get(root))
      try walk.filter(_.toString.endsWith(".parquet")).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
      finally walk.close()
    }
    val first = Joins.joinBucketed(spark, sfDir)
    val root = graft.Staging.stagedRoot(Joins.BucketStageDir)
    val roots = scans(first).flatMap(_.relation.location.rootPaths.map(_.toUri.getPath))
    assert(roots.size == 2 && roots.forall(_.startsWith(s"$root/")), s"$roots vs $root")
    val files = dataFiles(root)
    assert(files.nonEmpty)
    scans(first).flatMap(_.tableIdentifier).foreach(t => spark.sql(s"DROP TABLE ${t.table}"))
    val again = Joins.joinBucketed(spark, sfDir)
    assert(dataFiles(root) == files, "the staged bucketed files were rewritten")
    val p = again.queryExecution.executedPlan.toString
    val joinSubtree = p.substring(p.indexOf("SortMergeJoin"))
    assert(!joinSubtree.contains("Exchange"), joinSubtree)
    assert(joinSubtree.contains("SelectedBucketsCount: 8 out of 8"), joinSubtree)
    assert(again.collect().toSeq == first.collect().toSeq)
  }

  test("query_q3: predicates reach every scan, dims broadcast, top-10 is a heap (C8)") {
    val df = graft.operators.Joins.queryQ3(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p) // never a global sort
    assert(p.contains("BroadcastHashJoin"), p)     // filtered dim side broadcasts
    // the ship-date predicate must be INSIDE the lineitem parquet scan —
    // a post-scan filter would read the whole fact table at 100 TB
    // (sparkPlan, not executedPlan: AQE hides the scan leaves)
    val scans = df.queryExecution.sparkPlan.collectWithSubqueries {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val liScan = scans.find(_.metadata.get("Location").exists(_.contains("lineitem")))
    assert(liScan.isDefined, scans.map(_.metadata).mkString("; "))
    assert(liScan.get.metadata("PushedFilters").contains("GreaterThan(l_shipdate"),
      liScan.get.metadata("PushedFilters"))
  }
}
