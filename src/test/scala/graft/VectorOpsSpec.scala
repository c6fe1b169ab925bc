package graft

import graft.functions.Vec
import graft.operators.VectorOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class VectorOpsSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sfDir}

  test("Vec.dot / l2 match hand-computed values") {
    import spark.implicits._
    val df = Seq((Seq(1.0f, 2.0f, 2.0f), Seq(2.0f, 0.0f, 1.0f))).toDF("a", "b")
    val r = df.select(Vec.dot(col("a"), col("b")).as("d"), Vec.l2(col("a")).as("n")).collect().head
    assert(r.getDouble(0) == 4.0)
    assert(r.getDouble(1) == 3.0)
  }

  test("cosine is scale-invariant and self-similarity is 1") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val vecs = Seq.fill(20)(Seq.fill(16)(rnd.nextFloat() - 0.5f))
    val df = vecs.map(v => (v, v.map(x => x * 4.0f))).toDF("a", "scaled")
    val rows = df.select(
      Vec.cosine(col("a"), col("a")).as("self"),
      Vec.cosine(col("a"), col("scaled")).as("cross")).collect()
    rows.foreach { r =>
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
      // ×4 is a power of two: scaling is exact in binary, cosine identical
      assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
    }
  }

  test("signBucket maps sign patterns to distinct buckets") {
    import spark.implicits._
    val df = Seq(
      Seq(1.0f, 1.0f, -1.0f, -1.0f),
      Seq(-1.0f, 1.0f, 1.0f, -1.0f),
      Seq(1.0f, 1.0f, -1.0f, -1.0f),
    ).toDF("v").select(Vec.signBucket(col("v"), 4).as("b"))
    val got = df.collect().map(_.getLong(0)).toSeq
    assert(got == Seq(3L, 6L, 3L))
  }

  test("sim_topk ranks by cosine desc with vec_id tiebreak, k per query") {
    val res = VectorOps.simTopk(spark, sfDir).collect()
    val byQ = res.groupBy(_.getLong(0))
    assert(byQ.keySet == (0L until VectorOps.QuerySetSize.toLong).toSet)
    byQ.values.foreach { rows =>
      val cs = rows.sortBy(_.getInt(3)).map(_.getDouble(2)).toSeq
      assert(cs == cs.sorted.reverse, s"cos not descending: $cs")
      assert(rows.length == VectorOps.TopK)
    }
  }

  test("sim_ann results are a subset of brute-force candidates' scores") {
    // every ANN hit's cosine must equal the brute-force cosine for that pair
    val ann = VectorOps.simAnn(spark, sfDir)
      .select("q_id", "vec_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val brute = VectorOps.simTopk(spark, sfDir)
      .select("q_id", "vec_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    ann.foreach { case (pair, cos) =>
      brute.get(pair).foreach(b => assert(b == cos, s"$pair: ann=$cos brute=$b"))
    }
  }

  test("sim_ivf hits score identically to brute force and respect k/probes") {
    val ivf = VectorOps.simIvf(spark, sfDir)
      .select("q_id", "vec_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val brute = VectorOps.simTopk(spark, sfDir)
      .select("q_id", "vec_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // approximate index must never fabricate a score
    ivf.foreach { case (pair, cos) =>
      brute.get(pair).foreach(b => assert(b == cos, s"$pair: ivf=$cos brute=$b"))
    }
    assert(ivf.keys.map(_._1).groupBy(identity).values.forall(_.size <= VectorOps.AnnTopK))
  }

  test("sim_ivf achieves full recall on label-separable data") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // 3 well-separated blobs keyed by label: per-label centroids ARE the
    // blob centers, so probing 2 of 3 lists must recover the exact top-k.
    val data = (0 until 90).map { i =>
      val label = i % 3
      val center = Array.fill(8)(0.0f).updated(label, 10.0f)
      val v = center.map(c => c + (rnd.nextFloat() - 0.5f))
      (i.toLong, v.toSeq, label)
    }
    val dir = "/tmp/graft_test_ivf"
    data.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val ivf = VectorOps.simIvf(spark, dir)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = VectorOps.simTopk(spark, dir).filter(col("rn") <= VectorOps.AnnTopK)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf == brute, s"recall ${(ivf & brute).size.toDouble / brute.size}")
  }

  test("sim_ivf over KMEANS-LEARNED centroids: full recall on separable data (§2.K3c deployment shape)") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    // Same blob construction as the label-mean IVF test — but here the
    // centroids are LEARNED by the k-means loop (kmeansCenters), the shape a
    // user runs on an unlabeled corpus. Converged centers sit at the blob
    // means, so probing 2 of 3 lists must still recover the exact top-k.
    val data = (0 until 90).map { i =>
      val label = i % 3
      val center = Array.fill(8)(0.0f).updated(label, 10.0f)
      val v = center.map(c => c + (rnd.nextFloat() - 0.5f))
      (i.toLong, v.toSeq, label)
    }
    val dir = "/tmp/graft_test_ivf_km"
    data.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val ivf = VectorOps.simIvfKmeans(spark, dir)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = VectorOps.simTopk(spark, dir).filter(col("rn") <= VectorOps.AnnTopK)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf == brute, s"recall ${(ivf & brute).size.toDouble / brute.size}")
  }

  test("kmeans converges to pure clusters on a separable dataset (I1-I4)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // 3 well-separated gaussian blobs in 8-d, 30 points each
    val data = (0 until 90).map { i =>
      val label = i % 3
      val center = Array.fill(8)(0.0f).updated(label, 10.0f)
      val v = center.zipWithIndex.map { case (c, _) => c + (rnd.nextFloat() - 0.5f) }
      (i.toLong, v.toSeq, label)
    }
    data.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet("/tmp/graft_test_kmeans/embeddings.parquet")
    val report = VectorOps.kmeansClusters(spark, "/tmp/graft_test_kmeans").collect()
    assert(report.length == 3)
    report.foreach { r =>
      assert(r.getLong(r.fieldIndex("n_vecs")) == 30L, r.toString)
      assert(r.getDouble(r.fieldIndex("label_share")) == 1.0, r.toString)
    }
  }

  test("k-means iterations reuse one compiled class: more iterations compile nothing new") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("label"), col("embedding"))
    // tol < 0: the loop runs exactly maxIters iterations
    VectorOps.kmeansCentersTraced(emb, maxIters = 1, tol = -1.0)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val (_, trace) = VectorOps.kmeansCentersTraced(emb, maxIters = 4, tol = -1.0)
    assert(trace.length == 4)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled,
      "a k-means iteration compiled a new class: a per-iteration value entered the generated source")
  }

  test("quantile_bins NTILE law at sf0.1: monotone deciles, exact bucket sizes") {
    // Regression law for the round-3 boundary bug: repartitionByRange
    // samples boundaries with an RDD-id-derived seed, so the offsets job
    // and the window job could see different partitions — 1281/5000
    // deciles off by one at sf0.1 until the ranged frame was pinned with
    // an eager checkpoint. Sorting by the NTILE key must give a
    // non-decreasing decile sequence with exact NTILE bucket sizes.
    val rows = VectorOps.quantileBins(spark, "/root/testdata/sf0.1")
      .collect().map(r => (r.getLong(r.fieldIndex("n_chars")),
        r.getLong(r.fieldIndex("doc_id")), r.getInt(r.fieldIndex("decile"))))
    val n = rows.length
    val deciles = rows.sortBy(t => (t._1, t._2)).map(_._3)
    assert(deciles.zip(deciles.tail).forall { case (a, b) => a <= b }, "deciles not monotone")
    val sizes = deciles.groupBy(identity).view.mapValues(_.length).toMap
    val (q, r) = (n / 10, n % 10)
    (1 to 10).foreach { d =>
      val want = if (d <= r) q + 1 else q
      assert(sizes.getOrElse(d, 0) == want, s"decile $d size ${sizes.get(d)} != $want")
    }
  }

  test("vec_quantize: max reconstruction error is bounded by the grid step; constants are exact") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Seq(-2.0f, 0.0f, 1.0f, 3.5f), 0),
      (2L, Seq(0.25f, 0.25f, 0.25f, 0.25f), 0), // constant → zero codes, zero error
      (3L, (0 until 64).map(i => (i * 0.1f) - 3.0f), 1))
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet("/tmp/graft_test_quant/embeddings.parquet")
    val rows = VectorOps.vecQuantize(spark, "/tmp/graft_test_quant")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(r.fieldIndex("q_min")), r.getDouble(r.fieldIndex("q_max")),
          r.getLong(r.fieldIndex("q_sum")), r.getDouble(r.fieldIndex("max_err")))).toMap
    val (mn1, mx1, _, err1) = rows(1L)
    assert(mn1 == -2.0 && mx1 == 3.5)
    assert(err1 <= (mx1 - mn1) / 255.0 + 1e-9, s"error $err1 exceeds one grid step")
    assert(rows(2L) == ((0.25, 0.25, 0L, 0.0)), rows(2L).toString)
    val (mn3, mx3, _, err3) = rows(3L)
    assert(err3 <= (mx3 - mn3) / 255.0 + 1e-9)
  }

  test("shuffle_rows: positions are a permutation of 0..n-1, deterministic, and hash-ordered") {
    val rows = VectorOps.shuffleRows(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = rows.length
    assert(rows.map(_._3).sorted.toSeq == (0L until n).toSeq, "not a permutation")
    // position order == (hkey, doc_id) order — the deterministic total order
    val byPos = rows.sortBy(_._3).map(t => (t._2, t._1)).toSeq
    assert(byPos == byPos.sorted, "positions do not follow the hash order")
    // pure function of the key: a second run gives identical positions
    val again = VectorOps.shuffleRows(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(again.toSeq == rows.map(t => (t._1, t._3)).toSeq)
  }

  test("dedup_embed banded LSH: no band bucket exceeds the quadratic-mass cap") {
    val dir = "/root/testdata/sf0.01"
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val sizes = emb.select(posexplode(array((0 until VectorOps.EmbedBands).map(b =>
        Vec.signBucket(col("embedding"), VectorOps.EmbedBandBits, b * VectorOps.EmbedBandBits)): _*)))
      .groupBy(col("pos"), col("col")).count()
      .collect().map(_.getLong(2))
    // 16-bit sign buckets on sign-balanced data: even with planted near-dup
    // clusters no bucket should hold more than ~5% of the corpus. (The
    // round-2 single 8-bit bucket spread N/256 ≈ uniform mass over EVERY
    // bucket — quadratic at scale; this cap is the law that bans it.)
    assert(sizes.max <= math.max(n / 20, 8L), s"max band bucket ${sizes.max} of $n rows")
  }

  test("dedup_embed finds planted high-cosine near-dups (banded LSH recall law)") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    // 100 random base vectors + 20 slightly-perturbed copies (cos ≈ 0.998):
    // per-band collision p^16 with p = 1−θ/π ≈ 0.98 → ~0.72, so ≥1-of-4-band
    // recall ≈ 0.994 — expect essentially all 20 planted pairs.
    val base = (0 until 100).map(i => (i.toLong, Seq.fill(64)(rnd.nextFloat() - 0.5f)))
    val dups = base.take(20).map { case (id, v) =>
      (id + 100L, v.map(x => x + (rnd.nextFloat() - 0.5f) * 0.04f))
    }
    val dir = "/tmp/graft_test_dedup_embed"
    (base ++ dups).map { case (id, v) => (id, v, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val found = VectorOps.dedupEmbed(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 20).map(i => (i.toLong, i + 100L)).toSet
    assert((found & planted).size >= 18, s"recall ${(found & planted).size}/20")
  }

  test("dedup_semantic: planted near-dup dropped, most-representative kept, clean vecs untouched") {
    import spark.implicits._
    // hand-built geometry (dim 4): cluster 0 holds a planted near-dup
    // pair v0/v1 (cos ≈ 0.9987) plus a same-cluster-but-dissimilar v2
    // (cos < τ with both); cluster 1 holds two anti-parallel clean vecs.
    // Centroid distances: |v1−c0|² ≈ 15.03 < |v0−c0|² ≈ 15.45, so the
    // keep-priority (closer to centroid) must keep v1 and drop v0.
    val rows = Seq(
      (0L, Seq(10f, 0f, 0f, 0f), 0),
      (1L, Seq(9.9f, 0.5f, 0f, 0f), 0),
      (2L, Seq(2.5f, 0f, 9f, 0f), 0),
      (3L, Seq(0f, 0f, 0f, 10f), 1),
      (4L, Seq(0f, 0.5f, 0f, -9.9f), 1))
    val dir = "/tmp/graft_test_semdedup"
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = VectorOps.dedupSemantic(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(r.fieldIndex("n_dup_nbrs")), r.getInt(r.fieldIndex("kept")))).toMap
    assert(got.size == 5, "every vector gets a verdict row")
    assert(got(0L) == ((1, 0)), s"planted dup v0 must be dropped: ${got(0L)}")
    assert(got(1L) == ((1, 1)), s"representative v1 must be kept: ${got(1L)}")
    for (id <- Seq(2L, 3L, 4L))
      assert(got(id) == ((0, 1)), s"clean v$id must be kept with no dup nbrs: ${got(id)}")
  }

  test("dedup_semantic semBits ladder: smallest b with k0·target·2^b ≥ n, capped") {
    // the fixture corpus sizes the gates actually run (k0 = 10 labels)
    assert(VectorOps.semBits(10, 500) == 0, "sf0.001/0.01: no refinement")
    assert(VectorOps.semBits(10, 2000) == 2, "sf0.1: 40 cells")
    assert(VectorOps.semBits(10, 200000) == 9, "100x staging: 5120 cells")
    // monotone in n, and the cap binds instead of overflowing INT cids
    assert(VectorOps.semBits(1, 64) == 0)
    assert(VectorOps.semBits(1, 65) == 1)
    assert(VectorOps.semBits(1, Long.MaxValue) == VectorOps.SemMaxBits)
  }

  test("dedup_semantic adaptive refinement: planted dup still pruned, candidate mass strictly below the fixed-k exhibit") {
    import spark.implicits._
    // single label => k0 = 1; n = 202 > 2·SemTargetCluster => bits ≥ 2.
    // v0/v1 are a planted near-dup pair with identical signs on every dim
    // (same sign bucket at any b); fill vectors carry mixed signs so the
    // refinement actually splits the one coarse cell.
    val rnd = new scala.util.Random(17)
    val fill = (2 until 202).map { i =>
      (i.toLong, Seq.fill(8)((rnd.nextFloat() - 0.5f) * 10f), 0)
    }
    val rows = Seq(
      (0L, Seq(10f, 2f, 1f, 1f, 1f, 1f, 1f, 1f), 0),
      (1L, Seq(9.9f, 2.1f, 1f, 1f, 1f, 1f, 1f, 1f), 0)) ++ fill
    val dir = "/tmp/graft_test_semadapt"
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def cellMass(df: org.apache.spark.sql.DataFrame): Long =
      df.groupBy("cid").count().collect().map { r =>
        val n = r.getLong(1); n * n
      }.sum
    val adaptive = VectorOps.dedupSemantic(spark, dir).cache()
    try {
      val verdicts = adaptive.collect().map(r => r.getLong(0) ->
        (r.getInt(r.fieldIndex("n_dup_nbrs")), r.getInt(r.fieldIndex("kept")))).toMap
      assert(verdicts.size == 202, "every vector gets a verdict row")
      assert(verdicts(0L)._1 >= 1 && verdicts(1L)._1 >= 1,
        s"planted pair must see each other: ${verdicts(0L)} / ${verdicts(1L)}")
      assert(verdicts(0L)._2 + verdicts(1L)._2 <= 1,
        "the domination order must drop at least one of the planted pair")
      // the round-16 fixed-k=1 exhibit (forced b = 0): one cell of 202 =>
      // mass n² — the quadratic shape the adaptive ladder exists to kill
      val emb = Tables.embeddings(spark, dir)
      val fixed = VectorOps.dedupSemanticWith(emb, VectorOps.labelMeanCentroids(emb), 0)
      assert(cellMass(fixed) == 202L * 202L, "b=0 is the single-cell exhibit")
      assert(cellMass(adaptive) < 202L * 202L / 2,
        s"adaptive mass ${cellMass(adaptive)} must break the quadratic shape")
      assert(adaptive.select("cid").distinct().count() > 1, "refinement split the cell")
    } finally adaptive.unpersist()
  }

  test("dedup_semantic_lsh: co-bucketed planted dup pruned, sign-separated vectors untouched") {
    import spark.implicits._
    // dim 8, SemLshBits=5: v0/v1 share sign pattern 11111 (one bucket) at
    // cos ≈ 1 — a 2-member cluster is equidistant from its mean, so the
    // vec_id tiebreak keeps v0 and drops v1; v2 flips dim 0's sign into
    // bucket 11110 alone — kept, no neighbours
    Seq(
      (0L, Seq(10f, 1f, 1f, 1f, 1f, 0f, 0f, 0f), 0),
      (1L, Seq(9.9f, 1.1f, 1f, 1f, 1f, 0f, 0f, 0f), 0),
      (2L, Seq(-10f, 1f, 1f, 1f, 1f, 0f, 0f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet("/tmp/graft_test_semlsh/embeddings.parquet")
    val got = VectorOps.dedupSemanticLsh(spark, "/tmp/graft_test_semlsh")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(r.fieldIndex("n_dup_nbrs")), r.getInt(r.fieldIndex("kept")))).toMap
    assert(got == Map(0L -> ((1, 1)), 1L -> ((1, 0)), 2L -> ((0, 1))), got.toString)
  }

  test("dedup_semantic over KMEANS-LEARNED centroids: same verdicts as label means on separable data") {
    import spark.implicits._
    // the deployment form (unlabeled corpora) must agree with the
    // oracle-checked label-mean form wherever clusters are separable —
    // same geometry as the planted-dup law (restaged: self-contained test)
    val dir = "/tmp/graft_test_semdedup_km"
    Seq(
      (0L, Seq(10f, 0f, 0f, 0f), 0),
      (1L, Seq(9.9f, 0.5f, 0f, 0f), 0),
      (2L, Seq(2.5f, 0f, 9f, 0f), 0),
      (3L, Seq(0f, 0f, 0f, 10f), 1),
      (4L, Seq(0f, 0.5f, 0f, -9.9f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def verdicts(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "n_dup_nbrs", "kept").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val labelForm = verdicts(VectorOps.dedupSemantic(spark, dir))
    val kmeansForm = verdicts(VectorOps.dedupSemanticKmeans(spark, dir))
    assert(kmeansForm == labelForm)
    assert(labelForm.nonEmpty)
  }

  test("sim_ann multi-probe has full recall when buckets differ by at most one bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    // 3 blobs with FIXED sign patterns on dims 1..7 (≥4 bits apart) and one
    // noisy-sign dim (dim 0): every member's bucket is its blob's pattern or
    // that pattern with bit 0 flipped. Single probe misses the flipped
    // members; the 1-bit-flip probes cover Hamming ≤ 1 exactly, so
    // multi-probe recall must be exactly 1 (cross-blob buckets stay ≥ 3
    // bits away and are never probed).
    val patterns = Seq(
      Seq(1f, 1f, 1f, 1f, -1f, -1f, -1f, -1f),
      Seq(1f, -1f, -1f, 1f, 1f, 1f, -1f, -1f),
      Seq(-1f, 1f, -1f, -1f, -1f, 1f, 1f, -1f))
    val data = (0 until 90).map { i =>
      val p = patterns(i % 3)
      val v = p.zipWithIndex.map { case (s, d) =>
        if (d == 0) s * (rnd.nextFloat() * 2.0f - 0.5f) // sign flips ~25% of rows
        else s * (1.0f + rnd.nextFloat() * 0.5f)
      }
      (i.toLong, v, i % 3)
    }
    val dir = "/tmp/graft_test_ann"
    data.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val ann = VectorOps.simAnn(spark, dir)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = VectorOps.simTopk(spark, dir).filter(col("rn") <= VectorOps.AnnTopK)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ann == brute, s"recall ${(ann & brute).size.toDouble / brute.size}")
  }

  test("sim_ann / sim_ivf measured recall@5 vs sim_topk stays above the recorded floor") {
    val dir = "/root/testdata/sf0.01"
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = pairs(VectorOps.simTopk(spark, dir).filter(col("rn") <= VectorOps.AnnTopK))
    val annR = (pairs(VectorOps.simAnn(spark, dir)) & want).size.toDouble / want.size
    val ivfR = (pairs(VectorOps.simIvf(spark, dir)) & want).size.toDouble / want.size
    // Measured 2026-08 on the RANDOM testdata embeddings (no similarity
    // structure — the hardest regime for any index): sim_ann 0.20 with 9
    // probes over 256 buckets, sim_ivf 0.36 probing 2 of 10 lists. On
    // clustered data both reach 1.0 (tests above). Numbers recorded in
    // PLANS.md; these floors catch a regression in either index shape.
    assert(annR >= 0.15, s"sim_ann recall@5 $annR below recorded floor")
    assert(ivfR >= 0.30, s"sim_ivf recall@5 $ivfR below recorded floor")
  }

  test("kmeans_assign assigns every vector; init vectors map to themselves at distance 0") {
    val res = VectorOps.kmeansAssign(spark, sfDir).collect()
    val emb = Tables.embeddings(spark, sfDir)
    assert(res.length.toLong == emb.count())
    val k = emb.select("label").distinct().count()
    val cids = res.map(r => r.getInt(r.fieldIndex("cid"))).toSet
    assert(cids.subsetOf((0 until k.toInt).toSet), s"cids $cids for k=$k")
    // the init centers are first-vector-per-label — their own nearest centroid
    assert(res.count(r => r.getDouble(r.fieldIndex("sq_dist")) == 0.0) >= k)
  }

  test("encodeBmp produces a valid BMP that decodeBmp parses back field-for-field") {
    val md = java.security.MessageDigest.getInstance("MD5")
    for (n <- Seq(1, 59, 60, 61, 200, 4096)) {
      val raw = Array.tabulate(n)(i => ('a' + i % 26).toByte)
      val bmp = VectorOps.encodeBmp(raw)
      // real header bytes: magic + little-endian size/offset fields
      assert(bmp(0) == 'B'.toByte && bmp(1) == 'M'.toByte)
      val feats = VectorOps.decodeBmp(md, 7L, bmp)
      val w = n % 60 + 4
      val stride = (w * 3 + 3) / 4 * 4
      val h = (n + stride - 1) / stride
      assert(feats.width == w && feats.height == h, s"n=$n: $feats")
      assert(feats.n_bytes == 54 + stride * h && feats.n_bytes == bmp.length)
      // checksum covers pixel array = content + space padding
      md.reset()
      val pixels = raw ++ Array.fill(stride * h - n)(' '.toByte)
      val want = md.digest(pixels).map("%02x".format(_)).mkString
      assert(feats.checksum == want)
    }
  }

  test("encodeWav/decodeWav round-trip: fields, signed |amplitude| sum, and rejection (K4e)") {
    val md = java.security.MessageDigest.getInstance("MD5")
    for (n <- Seq(0, 1, 2, 59, 200, 4097)) {
      // include high-bit bytes so some int16 samples go NEGATIVE — the
      // signed decode path must not be vacuous
      val raw = Array.tabulate(n)(i => ((i * 37) % 256).toByte)
      val wav = VectorOps.encodeWav(raw)
      val f = VectorOps.decodeWav(md, 3L, wav)
      val ns = (n + 1) / 2
      val rate = 8000 + n % 4000
      assert(f.sample_rate == rate && f.n_samples == ns, s"n=$n: $f")
      assert(f.duration_ms == (ns.toLong * 1000 / rate).toInt)
      val data = raw ++ Array.fill(ns * 2 - n)(' '.toByte)
      val want = (0 until ns).map { i =>
        math.abs((((data(2 * i) & 0xff) | (data(2 * i + 1) << 8)).toShort).toLong)
      }.sum
      assert(f.sum_abs == want, s"n=$n: sum_abs ${f.sum_abs} != $want")
      if (n >= 512) // high bytes >= 0x80 appear: negative samples exercised
        assert((0 until ns).exists(i => (data(2 * i + 1) & 0x80) != 0))
      md.reset()
      assert(f.checksum == md.digest(data).map("%02x".format(_)).mkString)
      // malformed payloads are rejected, never silently decoded
      intercept[IllegalArgumentException] {
        VectorOps.decodeWav(md, 3L, wav.updated(0, 'X'.toByte))
      }
      intercept[IllegalArgumentException] {
        VectorOps.decodeWav(md, 3L, wav.dropRight(1))
      }
    }
  }

  test("resizeBmp samples exactly source pixel (2x, 2y) per output pixel (K4c)") {
    val md = java.security.MessageDigest.getInstance("MD5")
    for (n <- Seq(1, 59, 61, 200, 4096)) {
      // distinct byte per position so a one-byte sampling offset error
      // changes the checksum
      val raw = Array.tabulate(n)(i => (i % 251).toByte)
      val bmp = VectorOps.encodeBmp(raw)
      val r = VectorOps.resizeBmp(md, 9L, bmp)
      val w = n % 60 + 4
      val stride = (w * 3 + 3) / 4 * 4
      val h = (n + stride - 1) / stride
      assert(r.src_w == w && r.src_h == h, s"n=$n: $r")
      assert(r.out_w == math.max(w / 2, 1) && r.out_h == math.max(h / 2, 1), s"n=$n: $r")
      assert(r.n_bytes_out == r.out_w * r.out_h * 3)
      // brute-force the expected resample from the padded pixel array
      val pixels = raw ++ Array.fill(stride * h - n)(' '.toByte)
      val sb = new StringBuilder
      for (y <- 0 until r.out_h; x <- 0 until r.out_w; k <- 0 until 3)
        sb.append(f"${pixels(y * 2 * stride + x * 2 * 3 + k) & 0xff}%02x")
      md.reset()
      val want = md.digest(sb.toString.getBytes("US-ASCII")).map("%02x".format(_)).mkString
      assert(r.checksum == want, s"n=$n: sampling mismatch")
    }
  }

  test("framesampleBmp keeps every 2nd 4-row frame, short last frame included (K4d)") {
    val md = java.security.MessageDigest.getInstance("MD5")
    for (n <- Seq(1, 59, 61, 200, 4096)) {
      val raw = Array.tabulate(n)(i => (i % 251).toByte)
      val r = VectorOps.framesampleBmp(md, 12L, VectorOps.encodeBmp(raw))
      val w = n % 60 + 4
      val stride = (w * 3 + 3) / 4 * 4
      val h = (n + stride - 1) / stride
      val nf = (h + VectorOps.FrameRows - 1) / VectorOps.FrameRows
      assert(r.n_frames == nf, s"n=$n: $r")
      assert(r.n_sampled == (nf + VectorOps.FrameStride - 1) / VectorOps.FrameStride)
      // brute-force the sampled bytes from the padded pixel array
      val pixels = raw ++ Array.fill(stride * h - n)(' '.toByte)
      val sb = new StringBuilder
      var total = 0
      for (f <- 0 until nf by VectorOps.FrameStride) {
        val rowStart = f * VectorOps.FrameRows
        val rows = math.min(VectorOps.FrameRows, h - rowStart)
        for (i <- 0 until rows * stride)
          sb.append(f"${pixels(rowStart * stride + i) & 0xff}%02x")
        total += rows * stride
      }
      assert(r.n_bytes_sampled == total, s"n=$n: $r")
      md.reset()
      val want = md.digest(sb.toString.getBytes("US-ASCII")).map("%02x".format(_)).mkString
      assert(r.checksum == want, s"n=$n: frame geometry mismatch")
    }
  }

  test("framesampleBmp: empty payload yields zero frames and the empty checksum") {
    val md = java.security.MessageDigest.getInstance("MD5")
    val r = VectorOps.framesampleBmp(md, 13L, VectorOps.encodeBmp(Array.emptyByteArray))
    assert(r.n_frames == 0 && r.n_sampled == 0 && r.n_bytes_sampled == 0)
    md.reset()
    assert(r.checksum == md.digest(Array.emptyByteArray).map("%02x".format(_)).mkString)
  }

  test("resizeBmp: empty payload resizes to zero rows, not an OOB read or a drop") {
    val md = java.security.MessageDigest.getInstance("MD5")
    val r = VectorOps.resizeBmp(md, 10L, VectorOps.encodeBmp(Array.emptyByteArray))
    assert(r.src_h == 0 && r.out_h == 0 && r.n_bytes_out == 0)
    md.reset() // md5 of zero bytes — the oracle's md5('')
    assert(r.checksum == md.digest(Array.emptyByteArray).map("%02x".format(_)).mkString)
  }

  test("resizeBmp rejects malformed payloads like decodeBmp (shared parse)") {
    val md = java.security.MessageDigest.getInstance("MD5")
    intercept[IllegalArgumentException] {
      VectorOps.resizeBmp(md, 11L, "not a bitmap at all".getBytes)
    }
  }

  test("decodeBmp rejects non-BMP and truncated payloads") {
    val md = java.security.MessageDigest.getInstance("MD5")
    intercept[IllegalArgumentException] {
      VectorOps.decodeBmp(md, 1L, "not a bitmap at all".getBytes)
    }
    val valid = VectorOps.encodeBmp(Array.fill(100)('x'.toByte))
    intercept[IllegalArgumentException] { // header claims more bytes than present
      VectorOps.decodeBmp(md, 2L, valid.take(valid.length - 4))
    }
  }

  test("decodeBmp rejects dimensions inconsistent with the pixel array") {
    // round-4 ADVICE #4: consistent bfSize/bfOffBits but garbage
    // width/height must not decode into bogus dimensions
    val md = java.security.MessageDigest.getInstance("MD5")
    val valid = VectorOps.encodeBmp(Array.fill(100)('x'.toByte))
    def withInt(off: Int, v: Int): Array[Byte] = {
      val b = valid.clone()
      java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(off, v)
      b
    }
    intercept[IllegalArgumentException] { // garbage width, everything else intact
      VectorOps.decodeBmp(md, 3L, withInt(18, 9999))
    }
    intercept[IllegalArgumentException] { // garbage height
      VectorOps.decodeBmp(md, 4L, withInt(22, 7))
    }
    intercept[IllegalArgumentException] { // non-positive width
      VectorOps.decodeBmp(md, 5L, withInt(18, 0))
    }
    // the unmodified container still decodes
    assert(VectorOps.decodeBmp(md, 6L, valid).width > 0)
  }

  test("vec_pq: codes are per-subspace argmins (driver brute force), PQ compresses, error reconstructs (K21')") {
    val out = VectorOps.vecPq(spark, sfDir).collect()
    assert(out.nonEmpty)
    // independent truth: recompute codebooks + assignments driver-side from
    // the raw parquet (double means — within-tolerance of the decimal path,
    // far finer than the argmin margins on random data)
    val emb = Tables.embeddings(spark, sfDir)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    val byLabel = emb.groupBy(_._2)
    val cent: Map[Int, Array[Double]] = byLabel.map { case (l, vs) =>
      val acc = Array.fill(VectorOps.Dim)(0.0)
      vs.foreach(v => v._3.indices.foreach(i => acc(i) += v._3(i).toDouble))
      l -> acc.map(_ / vs.length)
    }
    val labels = cent.keys.toSeq.sorted
    val vecs = emb.map(v => v._1 -> v._3).toMap
    val sd = VectorOps.PqSubDim
    out.foreach { r =>
      val v = vecs(r.getLong(0))
      var err = 0.0
      (0 until VectorOps.PqSubspaces).foreach { s =>
        val dists = labels.map { l =>
          l -> (0 until sd).map { i =>
            val d = v(s * sd + i).toDouble - cent(l)(s * sd + i); d * d
          }.sum
        }
        val (bestL, bestD) = dists.minBy { case (l, d) => (d, l) }
        assert(r.getInt(r.fieldIndex(s"code_$s")) == bestL,
          s"vec ${r.getLong(0)} subspace $s: code ${r.get(r.fieldIndex(s"code_$s"))} != $bestL")
        err += bestD
      }
      assert(math.abs(r.getDouble(r.fieldIndex("recon_err")) - err) < 1e-6,
        s"vec ${r.getLong(0)}: recon_err ${r.getDouble(r.fieldIndex("recon_err"))} != $err")
    }
    // compression: distinct code tuples are far fewer than vectors, > 1
    val tuples = out.map(r => (0 until VectorOps.PqSubspaces)
      .map(s => r.getInt(r.fieldIndex(s"code_$s"))).mkString(",")).distinct
    assert(tuples.length > 1 && tuples.length < out.length,
      s"${tuples.length} code tuples over ${out.length} vectors — no compression")
  }

  test("vec_pq_adc: ADC distances recompute from codes+LUT (driver brute force), ranks total, ADC approximates the true distance (K21'')") {
    val out = VectorOps.vecPqAdc(spark, sfDir).collect()
    assert(out.nonEmpty)
    // independent truth: codebook, codes, LUT, and the ADC sum all
    // re-derived driver-side from the raw parquet (double means — within
    // tolerance of the decimal path)
    val emb = Tables.embeddings(spark, sfDir)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    val byLabel = emb.groupBy(_._2)
    val cent: Map[Int, Array[Double]] = byLabel.map { case (l, vs) =>
      val acc = Array.fill(VectorOps.Dim)(0.0)
      vs.foreach(v => v._3.indices.foreach(i => acc(i) += v._3(i).toDouble))
      l -> acc.map(_ / vs.length)
    }
    val labels = cent.keys.toSeq.sorted
    val sd = VectorOps.PqSubDim
    def subDist(v: Array[Float], l: Int, sIdx: Int): Double =
      (0 until sd).map { i =>
        val d = v(sIdx * sd + i).toDouble - cent(l)(sIdx * sd + i); d * d
      }.sum
    def codesOf(v: Array[Float]): Seq[Int] =
      (0 until VectorOps.PqSubspaces).map { sIdx =>
        labels.minBy(l => (subDist(v, l, sIdx), l))
      }
    val corpus = emb.filter(_._1 >= VectorOps.QuerySetSize)
    val queries = emb.filter(_._1 < VectorOps.QuerySetSize)
    val corpusCodes = corpus.map(v => v._1 -> codesOf(v._3)).toMap
    def adc(q: Array[Float], codes: Seq[Int]): Double =
      codes.zipWithIndex.map { case (c, sIdx) => subDist(q, c, sIdx) }.sum
    val wantTop: Map[Long, Seq[(Long, Double)]] = queries.map { q =>
      q._1 -> corpus.map(v => v._1 -> adc(q._3, corpusCodes(v._1)))
        .sortBy { case (id, d) => (d, id) }.take(VectorOps.AnnTopK).toSeq
    }.toMap
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.keySet == wantTop.keySet, "query set mismatch")
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to VectorOps.AnnTopK), s"rank set broken for $q")
      val got = rs.sortBy(_.getInt(1)).map(r => (r.getLong(2), r.getDouble(3))).toSeq
      got.zip(wantTop(q)).foreach { case ((gi, gd), (wi, wd)) =>
        assert(gi == wi, s"query $q: ADC neighbour $gi != $wi")
        assert(math.abs(gd - wd) < 1e-6, s"query $q vec $gi: adc $gd != $wd")
      }
    }
    // the asymmetric approximation is sane: for every reported neighbour,
    // |ADC - true squared distance| ≤ the vector's own worst-case PQ cell
    // radius — here just assert ADC is within 2x of the true distance and
    // strictly positive (random vectors are never coincident)
    val vecs = emb.map(v => v._1 -> v._3).toMap
    out.foreach { r =>
      val q = vecs(r.getLong(0)); val v = vecs(r.getLong(2))
      val truth = q.indices.map { i => val d = q(i).toDouble - v(i).toDouble; d * d }.sum
      val a = r.getDouble(3)
      assert(a > 0.0 && a < 2.0 * truth && a > 0.3 * truth,
        s"ADC $a wildly off true $truth for (${r.getLong(0)},${r.getLong(2)})")
    }
  }

  test("sim_ivfpq: driver recompute of the full IVF+PQ stack, probed-list containment, ADC scores match vec_pq_adc on shared candidates (K3d)") {
    val out = VectorOps.simIvfPq(spark, sfDir).collect()
    assert(out.nonEmpty)
    val emb = Tables.embeddings(spark, sfDir)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    val byLabel = emb.groupBy(_._2)
    val cent: Map[Int, Array[Double]] = byLabel.map { case (l, vs) =>
      val acc = Array.fill(VectorOps.Dim)(0.0)
      vs.foreach(v => v._3.indices.foreach(i => acc(i) += v._3(i).toDouble))
      l -> acc.map(_ / vs.length)
    }
    val labels = cent.keys.toSeq.sorted
    val sd = VectorOps.PqSubDim
    def subDist(v: Array[Float], l: Int, sIdx: Int): Double =
      (0 until sd).map { i =>
        val d = v(sIdx * sd + i).toDouble - cent(l)(sIdx * sd + i); d * d
      }.sum
    def fullDist(v: Array[Float], l: Int): Double =
      (0 until VectorOps.PqSubspaces).map(subDist(v, l, _)).sum
    def codesOf(v: Array[Float]): Seq[Int] =
      (0 until VectorOps.PqSubspaces).map(sIdx => labels.minBy(l => (subDist(v, l, sIdx), l)))
    def ilistOf(v: Array[Float]): Int = labels.minBy(l => (fullDist(v, l), l))
    val corpus = emb.filter(_._1 >= VectorOps.QuerySetSize)
    val queries = emb.filter(_._1 < VectorOps.QuerySetSize)
    val probesOf: Map[Long, Set[Int]] = queries.map { q =>
      q._1 -> labels.sortBy(l => (fullDist(q._3, l), l)).take(VectorOps.IvfProbes).toSet
    }.toMap
    // full driver recompute: candidates = probed lists only, scored by ADC
    val wantTop: Map[Long, Seq[(Long, Double)]] = queries.map { q =>
      val cands = corpus.filter(v => probesOf(q._1).contains(ilistOf(v._3)))
        .map { v =>
          val adc = codesOf(v._3).zipWithIndex
            .map { case (c, sIdx) => subDist(q._3, c, sIdx) }.sum
          v._1 -> adc
        }
      q._1 -> cands.sortBy { case (id, d) => (d, id) }.take(VectorOps.AnnTopK).toSeq
    }.toMap
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.keySet == wantTop.keySet)
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to VectorOps.AnnTopK), s"rank set broken for $q")
      val got = rs.sortBy(_.getInt(1)).map(r => (r.getLong(2), r.getDouble(3))).toSeq
      got.zip(wantTop(q)).foreach { case ((gi, gd), (wi, wd)) =>
        assert(gi == wi, s"query $q: IVF-PQ neighbour $gi != $wi")
        assert(math.abs(gd - wd) < 1e-6, s"query $q vec $gi: adc $gd != $wd")
      }
      // containment: every reported neighbour lives in a probed list
      got.foreach { case (gi, _) =>
        val v = corpus.find(_._1 == gi).get._3
        assert(probesOf(q).contains(ilistOf(v)), s"query $q neighbour $gi outside probed lists")
      }
    }
    // cross-operator law: where a (q, vec) pair also appears in the
    // unpruned vec_pq_adc top-k, the ADC scores are identical — same
    // codes, same LUT, same decimal sum
    val adcScores = VectorOps.vecPqAdc(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    out.foreach { r =>
      adcScores.get((r.getLong(0), r.getLong(2))).foreach { a =>
        assert(a == r.getDouble(3), s"ADC score drift between sim_ivfpq and vec_pq_adc at (${r.getLong(0)},${r.getLong(2)})")
      }
    }
  }

  test("multimodal_phash: bits recompute from raw bytes (driver), bands reassemble the hex hash, pairs obey the pigeonhole recall law (K4f/K4g)") {
    val out = VectorOps.multimodalPhash(spark, sfDir).collect()
    assert(out.nonEmpty)
    // independent truth: re-derive the 8x8 grid, gray sums, mean bits and
    // band packing from the encoded container bytes in plain Scala
    val texts = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def wantOf(id: Long): (Int, Int, Seq[Int], String) = {
      val bmp = VectorOps.encodeBmp(texts(id).getBytes("UTF-8"))
      val bb = java.nio.ByteBuffer.wrap(bmp).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val w = bb.getInt(18); val h = bb.getInt(22)
      val stride = (w * 3 + 3) / 4 * 4
      val gs = (0 until 64).map { i =>
        if (h == 0) 0L else {
          val off = 54 + (i / 8) * h / 8 * stride + (i % 8) * w / 8 * 3
          ((bmp(off) & 0xff) + (bmp(off + 1) & 0xff) + (bmp(off + 2) & 0xff)).toLong
        }
      }
      val tot = gs.sum
      val bands = Array.fill(4)(0)
      if (h > 0) (0 until 64).foreach { i =>
        if (gs(i) * 64 >= tot) bands(i / 16) |= 1 << (15 - i % 16)
      }
      (w, h, bands.toSeq, bands.map(b => f"$b%04x").mkString)
    }
    out.foreach { r =>
      val (w, h, bands, hex) = wantOf(r.getLong(0))
      assert(r.getInt(1) == w && r.getInt(2) == h, s"dims wrong for ${r.getLong(0)}")
      (0 to 3).foreach(b => assert(r.getInt(3 + b) == bands(b),
        s"band$b wrong for ${r.getLong(0)}"))
      assert(r.getString(7) == hex, s"phash hex wrong for ${r.getLong(0)}")
    }
    // pairing: exact hamming on reported pairs, threshold honored, and the
    // pigeonhole law — EVERY pair at hamming <= 3 (which must share a
    // 16-bit band) is reported; at tau=4 only the 1-1-1-1 spread may escape
    val pairs = VectorOps.multimodalPhashPairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs.nonEmpty)
    val bandsOf = out.map(r => r.getLong(0) -> (0 to 3).map(b => r.getInt(3 + b))).toMap
    def ham(a: Seq[Int], b: Seq[Int]): Int =
      a.zip(b).map { case (x, y) => Integer.bitCount(x ^ y) }.sum
    pairs.foreach { case ((a, b), d) =>
      assert(a < b && d <= VectorOps.PhashTau)
      assert(ham(bandsOf(a), bandsOf(b)) == d, s"hamming wrong for ($a,$b)")
    }
    val ids = bandsOf.keys.toSeq.sorted
    var nClose = 0
    for (i <- ids.indices; j <- (i + 1) until ids.length) {
      val d = ham(bandsOf(ids(i)), bandsOf(ids(j)))
      if (d <= 3) {
        nClose += 1
        assert(pairs.contains((ids(i), ids(j))),
          s"missed guaranteed pair (${ids(i)},${ids(j)}) at hamming $d")
      }
    }
    assert(nClose > 0, "no hamming<=3 pairs in the corpus — recall law vacuous")
    // the drop branch trips: some banded candidates exceed tau (measured
    // 3493 of 4211 at sf0.01)
    assert(pairs.values.forall(_ <= VectorOps.PhashTau) && pairs.nonEmpty)
  }

  test("multimodal_join carries binary payload features consistent with text") {
    val r = VectorOps.multimodalJoin(spark, sfDir)
      .select("n_chars", "n_bytes").limit(20).collect()
    // corpus is ASCII: byte length == char count
    r.foreach(row => assert(row.getLong(0) == row.getInt(1).toLong, row.toString))
  }

  test("PQ k-means deployment twin: codebook shape, ADC search parity with the label-mean form and true-blob recall on separable data (K21'/K21'' deployment shape)") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // 3 well-separated blobs along the all-ones diagonal: the label offset
    // (10*l on every component) is visible in EVERY PqSubDim-slice, so each
    // of the 4 subspaces independently learns / carries the blob structure.
    val data = (0 until 90).map { i =>
      val label = i % 3
      val v = Array.fill(VectorOps.Dim)(label * 10.0f + (rnd.nextFloat() - 0.5f))
      (i.toLong, v.toSeq, label)
    }
    val dir = "/tmp/graft_test_pq_km"
    data.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding"))
    // codebook shape: PqSubspaces x k rows, PqSubDim-dim sub-centroids
    val book = VectorOps.pqKmeansSubCodebooks(emb).collect()
    assert(book.length == VectorOps.PqSubspaces * 3, s"codebook rows ${book.length}")
    book.foreach(r => assert(r.getSeq[Double](2).length == VectorOps.PqSubDim))
    // end-to-end search parity: the kmeans-learned codebook and the
    // label-mean codebook converge to the same sub-centroids on separable
    // data, so the full ADC ranking (encode + LUT + exact-decimal sum +
    // vec_id tiebreak) must return identical (q, rn, vec) triples
    val km = VectorOps.vecPqAdcKmeans(spark, dir)
      .select("q_id", "rn", "vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val lm = VectorOps.vecPqAdc(spark, dir)
      .select("q_id", "rn", "vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(km == lm, s"ADC search parity broken: ${(km diff lm) ++ (lm diff km)}")
    // true-retrieval law, not just parity: every hit is from the query's blob
    val labelOf = data.map(d => d._1 -> d._3).toMap
    km.foreach { case (q, _, v) =>
      assert(labelOf(v) == labelOf(q), s"query $q (blob ${labelOf(q)}) retrieved $v (blob ${labelOf(v)})")
    }
  }

  test("PQ k-means deployment twin: reconstruction error <= the label-mean codebook's on the real corpus (Lloyd monotonicity, measured)") {
    // the learned codebook is SEEDED with the label-mean sub-centroids and
    // Lloyd's distortion is monotone non-increasing, so the total encode
    // reconstruction error can only improve — pinned measured, per row sums
    val lm = VectorOps.vecPq(spark, sfDir).collect()
      .map(r => r.getDouble(r.fieldIndex("recon_err"))).sum
    val km = VectorOps.vecPqKmeans(spark, sfDir).collect()
      .map(r => r.getDouble(r.fieldIndex("recon_err"))).sum
    // the HARD law is monotone non-increase (Lloyd from the label-mean seed)
    assert(km <= lm + 1e-6, s"kmeans codebook recon $km > label-mean $lm")
    // FIXTURE-SPECIFIC check (round-11 ADVICE #4): on the sf* embeddings —
    // PURE-RANDOM vectors, no label structure — label means collapse to
    // ~the global mean while Lloyd actually partitions the space, so the
    // improvement is strict. A regenerated fixture with label-correlated
    // embeddings (label means near Lloyd's fixed point) would void THIS
    // check without any product bug; drop it with the fixture, keep the
    // monotone law above.
    assert(km < lm * 0.999,
      s"strict improvement expected on the pure-random sf fixture: $km vs $lm")
  }

  test("sim_mips: dot ranking == argmin over the Shrivastava-Li norm-augmented L2 space on the real corpus (K3e reduction law)") {
    import graft.functions.Vec
    val out = VectorOps.simMips(spark, sfDir)
      .select("q_id", "rn", "vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(out.nonEmpty)
    // augment in-engine: corpus x -> [x, sqrt(M^2 - |x|^2)], query q -> [q, 0];
    // then ||aug(q) - aug(x)||^2 = |q|^2 + M^2 - 2 q.x, so the ascending
    // augmented-distance ranking must equal the descending-dot ranking
    val emb = Tables.embeddings(spark, sfDir)
    val m2 = emb.filter(col("vec_id") >= VectorOps.QuerySetSize)
      .select(Vec.dotF(col("embedding"), col("embedding")).as("n2"))
      .agg(max("n2")).collect()(0).getAs[Number](0).doubleValue()
    val corpusAug = emb.filter(col("vec_id") >= VectorOps.QuerySetSize)
      .select(col("vec_id"),
        concat(col("embedding"), array(sqrt(lit(m2) -
          Vec.dotF(col("embedding"), col("embedding")).cast("double")).cast("float"))).as("aug"))
    val qAug = emb.filter(col("vec_id") < VectorOps.QuerySetSize)
      .select(col("vec_id").as("q_id"),
        concat(col("embedding"), array(lit(0.0f))).as("q_aug"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(asc("d2"), asc("vec_id"))
    val viaL2 = corpusAug.crossJoin(broadcast(qAug))
      .select(col("q_id"), col("vec_id"),
        Vec.sqDistF(col("q_aug"), col("aug")).as("d2"))
      .withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= VectorOps.TopK)
      .select("q_id", "rn", "vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(out == viaL2,
      s"MIPS/augmented-L2 rank mismatch on ${(out.toSet diff viaL2.toSet).take(5)}")
  }

  test("sim_mips_ivf: exhaustive probing recovers the exact brute-force dot ranking rank-for-rank; default probes stay a subset of the index's candidates (K3e' serving law)") {
    // ground truth: brute-force MIPS capped at the index's AnnTopK
    val want = VectorOps.simMips(spark, sfDir)
      .filter(col("rn") <= VectorOps.AnnTopK)
      .select("q_id", "rn", "vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(want.nonEmpty)
    // nProbes = 10 (every label-mean list) makes the coarse filter a
    // no-op, so the norm-augmentation identity must give EXACT recall —
    // rank-for-rank, not just set recall
    val exhaustive = VectorOps.simMipsIvfAt(spark, sfDir, 10)
      .select("q_id", "rn", "vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(exhaustive == want,
      s"exhaustive-probe MIPS-IVF drifted from brute force: ${
        (exhaustive.toSet diff want.toSet).take(5)}")
    // at the default probe count the result is the dot-ranked top of the
    // PROBED candidate set: every hit must be a candidate, every query
    // must still return AnnTopK rows (the index never starves a query)
    val got = VectorOps.simMipsIvf(spark, sfDir)
      .select("q_id", "rn", "vec_id").collect()
    val byQ = got.groupBy(_.getLong(0))
    assert(byQ.size == VectorOps.QuerySetSize.toInt &&
      byQ.values.forall(_.length == VectorOps.AnnTopK),
      s"probe starvation: ${byQ.view.mapValues(_.length).toMap}")
    val cands = VectorOps.mipsIvfCandidates(Tables.embeddings(spark, sfDir), VectorOps.IvfProbes)
      .select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    got.foreach(r => assert(cands((r.getLong(0), r.getLong(2))),
      s"hit (${r.getLong(0)}, ${r.getLong(2)}) not in the candidate set"))
  }

  test("sim_ivf_incremental: one incremental step equals a full rebuild over the merged corpus bit-for-bit (K3h refresh law)") {
    val got = VectorOps.simIvfIncremental(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got.nonEmpty)
    val (_, assigned) = VectorOps.ivfIncParts(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    // independent aggregation tree: one grouped mean over the merged
    // membership (base keeps its label, batch keeps its ASSIGNED list)
    val merged = emb
      .filter(pmod(col("vec_id"), lit(VectorOps.IvfIncBatchMod)) =!= 0)
      .select(col("label").as("list_id"), col("embedding"))
      .union(assigned.select(col("c_list").as("list_id"), col("embedding")))
    val rebuild = merged.select(col("list_id"), posexplode(col("embedding")))
      .groupBy("list_id", "pos")
      .agg(count(lit(1)).as("n"),
        sum(round(col("col").cast("double") * lit(VectorOps.IvfIncUnit.toDouble))
          .cast("long")).as("usum"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(rebuild.keySet == got.keySet)
    rebuild.foreach { case (k, (n, usum)) =>
      val (nb, na, u) = got(k)
      assert(nb + na == n, s"$k member count drifted")
      assert(u == usum, s"$k state sum drifted: $u vs $usum")
    }
    // non-vacuity: the batch lands, and assignment is by DISTANCE, not by
    // the vector's own label (random vectors scatter across lists)
    val asg = assigned.join(emb, "vec_id")
      .select(col("c_list"), col("label")).collect()
    assert(asg.nonEmpty)
    assert(asg.exists(r => r.getInt(0) != r.getInt(1)),
      "every batch vector landed on its own label's list — assignment vacuous")
    assert(got.values.map(_._2).sum > 0, "no additions reached the state")
  }

  test("sim_mrl: exhaustive candidates reproduce sim_topk rank-for-rank; recall is monotone in C and never starves a query (K3g truncation-rerank laws)") {
    val want = VectorOps.simTopk(spark, sfDir)
      .select("q_id", "rn", "vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(want.nonEmpty)
    val corpus = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") >= VectorOps.QuerySetSize).count()
    def runAt(c: Long): Map[(Long, Int), Long] =
      VectorOps.simMrlAt(spark, sfDir, c)
        .select("q_id", "rn", "vec_id").collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // C = |corpus|: stage 2 IS the brute force — exact rank identity, not
    // just set recall (the law that pins both stages' plumbing)
    val exhaustive = runAt(corpus)
    assert(exhaustive == want,
      s"exhaustive-C MRL drifted from sim_topk: ${(exhaustive.toSet diff want.toSet).take(5)}")
    // recall@TopK is monotone non-decreasing in C (a bigger rerank pool
    // can only add true hits), and every query returns TopK rows at any C
    // >= TopK — the truncation stage never starves a query
    def recall(m: Map[(Long, Int), Long]): Double = {
      val hits = m.toSet intersect want.toSet
      hits.size.toDouble / want.size
    }
    val rs = Seq(VectorOps.TopK.toLong, VectorOps.MrlCandidates.toLong,
      4L * VectorOps.MrlCandidates, corpus).map { c =>
      val m = runAt(c)
      val byQ = m.keys.groupBy(_._1)
      assert(byQ.size == VectorOps.QuerySetSize.toInt &&
        byQ.values.forall(_.size == VectorOps.TopK),
        s"starved query at C=$c: ${byQ.view.mapValues(_.size).toMap}")
      recall(m)
    }
    assert(rs.zip(rs.tail).forall { case (a, b) => a <= b },
      s"recall not monotone in C: $rs")
    assert(rs.last == 1.0, s"exhaustive recall != 1.0: $rs")
  }

  test("sample_fps: greedy maximin trajectory matches a sequential-fold replay; covering radius is non-increasing (K8' coreset laws)") {
    val got = VectorOps.sampleFps(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(got.length == VectorOps.FpsK &&
      got.map(_._1).toSeq == (1 to VectorOps.FpsK) &&
      got.map(_._2).distinct.length == got.length, s"bad shape: ${got.toSeq}")
    assert(got.head._3 == 0.0, "seed carries a nonzero radius")
    // the picked maximin d2 IS the covering radius of the selection so
    // far — non-increasing by construction, strictly positive
    val radii = got.tail.map(_._3)
    assert(radii.forall(_ > 0) &&
      radii.zip(radii.tail).forall { case (a, b) => a >= b },
      s"covering radius not non-increasing: ${radii.toSeq}")
    // full replay with a plain sequential Scala fold (the kernel's fold
    // order) — the pick TRAJECTORY must match exactly
    val all = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def d2(a: Array[Float], b: Array[Float]): Double = {
      var (acc, i) = (0.0, 0)
      while (i < a.length) {
        val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1
      }
      acc
    }
    var picks = Vector(all.keys.min)
    var replay = Vector((1, picks.head, 0.0))
    while (picks.length < VectorOps.FpsK) {
      val (v, md) = all.keysIterator.filterNot(picks.contains).map { x =>
        x -> picks.map(p => d2(all(x), all(p))).min
      }.maxBy { case (x, m) => (m, -x) }
      picks :+= v
      replay :+= ((picks.length, v, md))
    }
    assert(got.toSeq == replay, s"trajectory drifted:\n$got\nvs\n$replay")
    // diversity non-vacuity: the coreset spans more than one label
    val labels = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id").isin(got.map(_._2): _*))
      .select("label").distinct().count()
    assert(labels >= 2, "farthest-point picks collapsed into one cluster")
  }

  test("sim_mmr: pick 1 is the relevance argmax, picks are distinct and locally optimal, and diversification genuinely reorders (K3k greedy laws)") {
    val got = VectorOps.simMmr(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val byQ = got.groupBy(_._1)
    assert(byQ.size == VectorOps.QuerySetSize.toInt &&
      byQ.values.forall(_.length == VectorOps.MmrK),
      s"wrong shape: ${byQ.view.mapValues(_.length).toMap}")
    byQ.values.foreach { rows =>
      assert(rows.map(_._3).distinct.length == rows.length, "duplicate pick")
      assert(rows.map(_._2).sorted.toSeq == (1 to VectorOps.MmrK), "rank gap")
    }
    // pick 1 == sim_topk rank 1 (the relevance argmax — MMR's first pick
    // has no diversity term)
    val top1 = VectorOps.simTopk(spark, sfDir).filter(col("rn") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(r.fieldIndex("vec_id"))).toMap
    byQ.foreach { case (q, rows) =>
      assert(rows.find(_._2 == 1).get._3 == top1(q),
        s"query $q pick 1 is not the relevance argmax")
    }
    // diversification non-vacuity: for at least one query the MMR top-k
    // is NOT the plain cosine top-k order
    val topk = VectorOps.simTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(r.fieldIndex("rn")), r.getLong(r.fieldIndex("vec_id")))).toSet
    assert(got.toSet != topk, "MMR degenerated to plain top-k on this data")
    // local optimality: each pick j >= 2 scores at least as high as every
    // candidate it passed over AT THAT STEP, over an independently
    // collected (rel, sim) pool (1e-9 slack for the independent fold)
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") < VectorOps.QuerySetSize)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val cand = emb.filter(col("vec_id") >= VectorOps.QuerySetSize)
      .crossJoin(broadcast(q))
      .select(col("q_id"), col("vec_id"),
        graft.functions.Vec.cosineF(col("q_emb"), col("embedding")).as("rel"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(desc("rel"), asc("vec_id"))))
      .filter(col("rn") <= VectorOps.MmrCandidates)
    val rels = cand.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ce = cand.join(emb, "vec_id").select("q_id", "vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getSeq[Float](2).toArray)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var (d, na, nb, i) = (0.0, 0.0, 0.0, 0)
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val embByQ = ce.groupBy(_._1._1)
    byQ.foreach { case (qid, rows) =>
      val vecs = embByQ(qid).map { case ((_, v), e) => v -> e }.toMap
      val ordered = rows.sortBy(_._2).map(_._3)
      (2 to ordered.length).foreach { j =>
        val sel = ordered.take(j - 1)
        def score(d: Long): Double =
          VectorOps.MmrLambda * rels((qid, d)) -
            (1 - VectorOps.MmrLambda) * sel.map(p => cos(vecs(d), vecs(p))).max
        val picked = score(ordered(j - 1))
        vecs.keys.filterNot(ordered.take(j).contains).foreach { other =>
          assert(picked >= score(other) - 1e-9,
            s"query $qid step $j passed over a better candidate $other")
        }
      }
    }
  }

  test("sim_hamming: staged sign signatures match a per-row reference; " +
       "Hamming tracks the true angle on average (K3j binarization laws)") {
    val emb = VectorOps.hamStaged(spark, sfDir)
    val rows = emb.select("vec_id", "bits_lo", "bits_hi", "embedding")
      .orderBy("vec_id").limit(64).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = r.getSeq[Float](3)
      def word(off: Int): Long = (0 until VectorOps.HamWordBits)
        .map(i => if (v(off + i) >= 0) 1L << i else 0L).sum
      assert(r.getLong(1) == word(0) &&
        r.getLong(2) == word(VectorOps.HamWordBits),
        s"signature drifted for vec ${r.getLong(0)}")
    }
    // Charikar 2002: P[sign bit differs] = theta/pi per dimension, so
    // E[hd] = Dim * theta/pi. Over the query x corpus pairs the MEAN
    // Hamming distance of true-top-10 pairs must sit well below the mean
    // over all pairs — the signal stage 1 ranks by (a distribution-level
    // law, not per-pair: single pairs can invert)
    val q = emb.filter(col("vec_id") < VectorOps.QuerySetSize)
      .select(col("vec_id").as("q_id"),
        col("bits_lo").as("q_lo"), col("bits_hi").as("q_hi"))
    val all = emb.filter(col("vec_id") >= VectorOps.QuerySetSize)
      .select(col("vec_id"), col("bits_lo"), col("bits_hi"))
      .crossJoin(broadcast(q))
      .select(col("q_id"), col("vec_id"),
        (bit_count(col("q_lo").bitwiseXOR(col("bits_lo"))) +
         bit_count(col("q_hi").bitwiseXOR(col("bits_hi")))).cast("long").as("hd"))
    val want = VectorOps.simTopk(spark, sfDir).select("q_id", "vec_id")
    val meanTop = all.join(want, Seq("q_id", "vec_id"))
      .agg(avg("hd")).head.getDouble(0)
    val meanAll = all.agg(avg("hd")).head.getDouble(0)
    assert(meanTop < meanAll,
      s"Hamming carries no angle signal: top-pair mean $meanTop vs all-pair $meanAll")
  }

  test("sim_hamming: exhaustive candidates reproduce sim_topk rank-for-rank; recall is monotone in C and never starves a query (K3j rerank laws)") {
    val want = VectorOps.simTopk(spark, sfDir)
      .select("q_id", "rn", "vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(want.nonEmpty)
    val corpus = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") >= VectorOps.QuerySetSize).count()
    def runAt(c: Long): Map[(Long, Int), Long] =
      VectorOps.simHammingAt(spark, sfDir, c)
        .select("q_id", "rn", "vec_id").collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val exhaustive = runAt(corpus)
    assert(exhaustive == want,
      s"exhaustive-C Hamming drifted from sim_topk: ${
        (exhaustive.toSet diff want.toSet).take(5)}")
    def recall(m: Map[(Long, Int), Long]): Double =
      (m.toSet intersect want.toSet).size.toDouble / want.size
    val rs = Seq(VectorOps.TopK.toLong, VectorOps.HamCandidates.toLong,
      4L * VectorOps.HamCandidates, corpus).map { c =>
      val m = runAt(c)
      val byQ = m.keys.groupBy(_._1)
      assert(byQ.size == VectorOps.QuerySetSize.toInt &&
        byQ.values.forall(_.size == VectorOps.TopK),
        s"starved query at C=$c: ${byQ.view.mapValues(_.size).toMap}")
      recall(m)
    }
    assert(rs.zip(rs.tail).forall { case (a, b) => a <= b },
      s"recall not monotone in C: $rs")
    assert(rs.last == 1.0, s"exhaustive recall != 1.0: $rs")
  }

  test("sim_hnsw: staged graph is well-formed and the registered output " +
       "equals an independent full beam-search replay (K3n laws)") {
    val qss = VectorOps.QuerySetSize.toLong
    val (edgesDf, portalsDf) = VectorOps.hnswStaged(spark, sfDir)
    val edges = edgesDf.collect()
      .map(r => (r.getLong(r.fieldIndex("src")), r.getLong(r.fieldIndex("dst")),
        r.getSeq[Float](r.fieldIndex("dst_emb")).toArray))
    assert(edges.nonEmpty, "empty edge family")
    assert(edges.forall { case (s0, d, _) => s0 != d && s0 >= qss && d >= qss },
      "self-loop or non-corpus endpoint in the graph")
    assert(edges.map(t => (t._1, t._2)).distinct.length == edges.length,
      "duplicate edge in the staged family")
    val embMap = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    edges.take(256).foreach { case (_, d, de) =>
      assert(de.sameElements(embMap(d)), s"dst_emb drifted from corpus for $d")
    }
    // every corpus node is reachable FROM somewhere (symmetrized kNN +
    // shortcut in-edges): appears as a dst
    val dsts = edges.map(_._2).toSet
    val corpusIds = embMap.keySet.filter(_ >= qss)
    assert(corpusIds.subsetOf(dsts),
      s"unreachable corpus nodes: ${(corpusIds -- dsts).take(5)}")

    // independent replay of the whole bounded beam search
    val bits = VectorOps.hnswCorpusBits(spark, sfDir)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var (dd, na, nb, i) = (0.0, 0.0, 0.0, 0)
      while (i < a.length) {
        dd += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dd / (math.sqrt(na) * math.sqrt(nb))
    }
    def bucket(v: Array[Float]): Long =
      (0 until bits).map(i => if (v(i) >= 0) 1L << i else 0L).sum
    val adj = edges.groupBy(_._1).map { case (s0, es) => s0 -> es.map(_._2).toSet }
    val portalMap = portalsDf.collect()
      .map(r => r.getLong(r.fieldIndex("b")) -> r.getLong(r.fieldIndex("vec_id"))).toMap
    val bucketMembers = corpusIds.groupBy(v => bucket(embMap(v)))
    val want = embMap.keys.filter(_ < qss).toSeq.sorted.flatMap { qid =>
      val qe = embMap(qid)
      val b = bucket(qe)
      val entryBuckets = (b +: (0 until bits).map(i => b ^ (1L << i))) ++
        (for { i <- 0 until bits; j <- (i + 1) until bits }
          yield b ^ ((1L << i) | (1L << j)))
      // own-bucket members enter scored AND pre-expanded (round 16)
      val own = bucketMembers.getOrElse(b, Set.empty)
      var scored = (entryBuckets.flatMap(portalMap.get) ++ own).distinct
        .map(v => v -> cos(qe, embMap(v))).toMap
      var expanded: Set[Long] = own
      (1 to VectorOps.HnswIters).foreach { _ =>
        val frontier = scored.keys.filterNot(expanded).toSeq
          .sortBy(v => (-scored(v), v)).take(VectorOps.HnswBeam)
        expanded ++= frontier
        val nbrs = frontier.flatMap(v => adj.getOrElse(v, Set.empty))
          .distinct.filterNot(scored.contains)
        scored ++= nbrs.map(v => v -> cos(qe, embMap(v)))
      }
      scored.toSeq.sortBy { case (v, c) => (-c, v) }
        .take(VectorOps.AnnTopK).zipWithIndex
        .map { case ((v, _), i) => (qid, i + 1, v) }
    }.toSet
    val got = VectorOps.simHnsw(spark, sfDir).collect()
      .map(r => (r.getLong(r.fieldIndex("q_id")), r.getInt(r.fieldIndex("rn")),
        r.getLong(r.fieldIndex("vec_id")))).toSet
    assert(got == want, s"beam-search replay diverges: got ${got.size} rows, " +
      s"diff ${(got diff want).take(5)} / ${(want diff got).take(5)}")
    // shape: no query starves, ranks dense
    val byQ = got.groupBy(_._1)
    assert(byQ.size == VectorOps.QuerySetSize.toInt &&
      byQ.values.forall(_.map(_._2).toSeq.sorted == (1 to VectorOps.AnnTopK)),
      "starved query or rank gap")
  }

  test("sim_hnsw_incremental: every inserted edge touches the batch, every " +
       "batch node becomes findable, and the flag tracks membership (K3n')") {
    val (insDf, bbDf, nbDf) = VectorOps.hnswIncParts(spark, sfDir)
    val ins = insDf.collect().map(r => (r.getLong(0), r.getLong(1)))
    val batchIds = nbDf.select("vec_id").collect().map(_.getLong(0)).toSet
    val baseIds = bbDf.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ins.nonEmpty && batchIds.nonEmpty && baseIds.nonEmpty)
    // ingest is batch-proportional: no inserted edge joins base to base
    assert(ins.forall { case (s0, d) => batchIds(s0) || batchIds(d) },
      "a base-to-base edge leaked into the insert set")
    // well-formed: valid endpoints, no self-loops, distinct
    assert(ins.forall { case (s0, d) =>
      s0 != d && (batchIds(s0) || baseIds(s0)) && (batchIds(d) || baseIds(d))
    })
    assert(ins.distinct.length == ins.length, "duplicate inserted edge")
    // findability: the reverse kNN edges give every batch node an in-link
    val dsts = ins.map(_._2).toSet
    assert(batchIds.subsetOf(dsts),
      s"unfindable batch nodes: ${(batchIds -- dsts).take(5)}")
    // the registered output is exactly the parts, with a faithful flag
    val got = VectorOps.simHnswIncremental(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.map(t => (t._1, t._2)).toSet == ins.toSet)
    got.foreach { case (s0, _, f) =>
      assert((f == 1) == batchIds(s0), s"flag drift at src $s0")
    }
  }

  test("sim_hnsw: exact recall on a bucket-separable clustered corpus (K3n)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_hnsw_sep").toString
    try {
      // 8 clusters aligned with the 3-bit sign buckets (corpus 80 ≤ 512 →
      // bits = 3): cluster c's members share the sign pattern of dims 0-2
      // and differ by small same-sign jitter further out, so the true
      // top-k of each query is entirely within its own bucket and the
      // beam (entering at the bucket portal, expanding intra-bucket kNN
      // edges) must recover it exactly
      val rnd = new scala.util.Random(11)
      def member(c: Int, j: Int): Array[Float] = {
        val v = Array.fill(VectorOps.Dim)(0.05f + 0.9f * rnd.nextFloat() * 0.01f)
        (0 until 3).foreach(i => v(i) = if (((c >> i) & 1) == 1) 1f else -1f)
        v(3 + j % 8) += 0.3f
        v
      }
      val qss = VectorOps.QuerySetSize
      val queries = (0 until qss).map(q => (q.toLong, member(q, 0)))
      val corpus = (0 until 80).map { k =>
        ((qss + k).toLong, member(k % 8, k / 8 + 1))
      }
      (queries ++ corpus).toDF("vec_id", "embedding")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val got = VectorOps.simHnsw(spark, dir).collect()
        .map(r => (r.getLong(r.fieldIndex("q_id")), r.getLong(r.fieldIndex("vec_id")))).toSet
      val want = VectorOps.simTopk(spark, dir)
        .filter(col("rn") <= VectorOps.AnnTopK).collect()
        .map(r => (r.getLong(r.fieldIndex("q_id")), r.getLong(r.fieldIndex("vec_id")))).toSet
      assert(got == want,
        s"recall < 1.0 on separable clusters: missing ${(want diff got).take(5)}")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("sim_mmr: a single-candidate stage-1 pool still emits its pick 1 " +
       "instead of silently dropping the query (round-14 ADVICE)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mmr_degen").toString
    try {
      // QuerySetSize query vectors + exactly ONE corpus vector: every
      // query's stage-1 pool is the degenerate single candidate the old
      // a <> b self-join filter dropped entirely
      val rnd = new scala.util.Random(7)
      def v(): Array[Float] = Array.fill(VectorOps.Dim)(rnd.nextFloat() - 0.5f)
      val rows = (0L to VectorOps.QuerySetSize.toLong).map(i => (i, v()))
      rows.toDF("vec_id", "embedding")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val got = VectorOps.simMmr(spark, dir).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val want = (0L until VectorOps.QuerySetSize.toLong)
        .map(q => (q, 1, VectorOps.QuerySetSize.toLong)).toSet
      assert(got == want, s"degenerate-pool output: $got (want $want)")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("diversifiedKnn: a duplicate clique spends ONE slot, degree stays " +
       "min(M, pool), and a clique-free pool reduces to plain kNN (r16)") {
    import spark.implicits._
    val dim = VectorOps.Dim
    // src at e0; a 4-copy clique NEAR src (cos ~0.995, mutual cos 1.0);
    // M+2 weaker but mutually-orthogonal-ish singles the prune must keep
    def v(parts: (Int, Double)*): Array[Float] = {
      val a = new Array[Float](dim)
      parts.foreach { case (i, x) => a(i) = x.toFloat }
      a
    }
    val src = (100L, v(0 -> 1.0))
    val clique = (0 until 4).map(i => (200L + i, v(0 -> 1.0, 1 -> 0.1)))
    val singles = (0 until VectorOps.HnswM + 2).map(i =>
      (300L + i, v(0 -> 1.0, (2 + i) -> (0.8 + 0.01 * i))))
    val nodes = (clique ++ singles).map { case (id, emb) => (src._1, src._2, id, emb) }
    val pairs = nodes.toDF("src", "emb_a", "dst", "emb_b")
    val got = VectorOps.diversifiedKnn(pairs).collect()
      .map(r => r.getLong(r.fieldIndex("dst"))).toSet
    assert(got.size == VectorOps.HnswM, s"degree ${got.size} != M")
    // the clique (4 candidates, all mutually cos=1.0, each nearer to the
    // others than to src) must not monopolize: exactly ONE clique member
    // survives the occlusion prune into the M slots when enough diverse
    // non-occluded singles exist
    assert((got & clique.map(_._1).toSet).size == 1,
      s"clique spent ${(got & clique.map(_._1).toSet).size} slots: $got")
    // clique-free pool of exactly M: prune is a no-op (backfill restores)
    val plain = singles.take(VectorOps.HnswM)
      .map { case (id, emb) => (src._1, src._2, id, emb) }
      .toDF("src", "emb_a", "dst", "emb_b")
    val got2 = VectorOps.diversifiedKnn(plain).collect()
      .map(_.getLong(1)).toSet
    assert(got2 == singles.take(VectorOps.HnswM).map(_._1).toSet)
  }
}
