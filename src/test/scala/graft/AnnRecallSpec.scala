package graft

import graft.operators.VectorOps
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Corpus recall laws for the ANN family (round-4 VERDICT "Next round" #6):
  * the synthetic-set recall laws in VectorOpsSpec prove the MECHANISM
  * (multi-probe recovers 1-bit flips, IVF is exact on separable data); this
  * spec measures recall@5 against `sim_topk` — the exact baseline — over
  * the DRIVER'S OWN sf0.1 embeddings, so the documented number is about the
  * actual corpus distribution, and a future change that drops corpus recall
  * below the floor fails loudly.
  *
  * Context for the floor values: the testdata embeddings are PURE RANDOM
  * vectors (measured max pairwise cosine ≈ 0.5, no cluster structure —
  * BASELINE.md), the regime where NO sublinear method can match brute
  * force: neighbours at cosine ≈ 0.4 flip sign bits with p ≈ 0.37/dim-slice
  * and spread across IVF lists. The floors below are therefore measured
  * corpus numbers minus a safety margin, not aspirations — on a real
  * clustered corpus (the planted-dup laws) recall approaches 1.
  */
class AnnRecallSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private val dir = "/root/testdata/sf0.1"
  private val K = 5

  /** (q_id, vec_id) pairs of the top-K rows. */
  private def topK(df: DataFrame): Set[(Long, Long)] = df.collect()
    .map(r => (r.getLong(r.fieldIndex("q_id")), r.getLong(r.fieldIndex("vec_id")),
      r.getInt(r.fieldIndex("rn"))))
    .filter(_._3 <= K).map(t => (t._1, t._2)).toSet

  private lazy val brute = topK(VectorOps.simTopk(spark, dir))

  private def recallOf(df: DataFrame): Double = {
    val got = topK(df)
    (got & brute).size.toDouble / brute.size
  }

  // Measured corpus values (deterministic — no RNG in the family):
  // sim_ann 0.12, sim_ivf 0.32, sim_hnsw 0.32, sim_ivf_kmeans 0.76.
  // Notably the kmeans-LEARNED coarse quantizer beats label-mean centroids
  // ~2.4x on recall at identical probe cost — random labels carry no
  // geometry, the learned centroids adapt to it; 9-probe sign-LSH trails
  // both because a cosine-0.4 "neighbour" flips ~3 of 8 sign bits. Floors
  // sit one deliberate-change margin below the measured values.
  test("sim_ann recall@5 on the sf0.1 corpus stays above its floor") {
    val r = recallOf(VectorOps.simAnn(spark, dir))
    info(f"sim_ann corpus recall@5 = $r%.2f")
    assert(r >= 0.10, f"sim_ann corpus recall@5 $r%.2f below documented floor 0.10")
  }

  test("sim_ann probe radius is the recall lever: flips=2 strictly beats flips=1") {
    val r1 = recallOf(VectorOps.simAnn(spark, dir))
    val r2 = recallOf(VectorOps.simAnnAt(spark, dir, VectorOps.probeMasks(2)))
    info(f"sim_ann corpus recall@5: flips=1 $r1%.2f → flips=2 $r2%.2f")
    // candidates scale 9/256 → 37/256 of the corpus per query; on the
    // random-vector corpus (the hardest regime) the wider radius must
    // recover strictly more of the exact top-K
    assert(r2 > r1, f"radius-2 recall $r2%.2f not above radius-1 $r1%.2f")
    assert(r2 >= 0.25, f"radius-2 recall $r2%.2f below documented floor 0.25")
  }

  test("sim_ivf recall@5 on the sf0.1 corpus stays above its floor") {
    val r = recallOf(VectorOps.simIvf(spark, dir))
    info(f"sim_ivf corpus recall@5 = $r%.2f")
    assert(r >= 0.28, f"sim_ivf corpus recall@5 $r%.2f below documented floor 0.28")
  }

  // sim_hnsw runs at the registered HnswIters/HnswBeam (measured 0.32 on
  // the 5-query split; the 50-query sweep in annrecall_1x_r17.json read
  // 0.456 at beam 8). Its top-K is ranked by exact cosine over the visited
  // set, so recall is bounded by graph reachability alone.
  test("sim_hnsw recall@5 on the sf0.1 corpus stays above its floor") {
    val r = recallOf(VectorOps.simHnsw(spark, dir))
    info(f"sim_hnsw corpus recall@5 = $r%.2f")
    assert(r >= 0.28, f"sim_hnsw corpus recall@5 $r%.2f below documented floor 0.28")
  }

  test("sim_ivf with kmeans-learned centroids: corpus recall@5 above floor") {
    val r = recallOf(VectorOps.simIvfKmeans(spark, dir))
    info(f"sim_ivf_kmeans corpus recall@5 = $r%.2f")
    assert(r >= 0.70, f"sim_ivf_kmeans corpus recall@5 $r%.2f below documented floor 0.70")
  }
}
