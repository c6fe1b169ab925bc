package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ArrayType(FloatType)` embedding columns, built from
  * Catalyst higher-order functions only (SURVEY §2.H5/K3) — no UDFs, so every
  * expression stays inside whole-stage codegen and the DuckDB oracle can
  * reproduce it bit-for-bit.
  *
  * Determinism: each fold is a strict left-to-right float64 accumulation
  * (`ArrayAggregate` evaluates elements in order), which matches DuckDB's
  * `list_sum` exactly (verified empirically on the testdata), so derived
  * values are bitwise-identical across engines with no rounding fudge.
  * float32→float64 widening is exact, and per-row folds do not depend on
  * partitioning — the same property that makes them safe on a 1000-executor
  * cluster.
  */
object Vec {
  private def d(c: Column): Column = c.cast("double")

  /** Σ xᵢ·yᵢ in float64, element order preserved. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => d(x) * d(y)), lit(0.0), (acc, x) => acc + x)

  /** Euclidean (L2) norm. */
  def l2(a: Column): Column = sqrt(dot(a, a))

  /** Manhattan (L1) norm. */
  def l1(a: Column): Column = aggregate(a, lit(0.0), (acc, x) => acc + abs(d(x)))

  /** Cosine similarity. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2(a) * l2(b))

  // Codegen'd variants for dense float vectors (graft.plans.VecOp):
  // bitwise-identical results (same sequential float64 accumulation), but a
  // generated primitive loop instead of the HOFs' interpreted CodegenFallback
  // path — used on the similarity hot paths where per-row closure overhead
  // would dominate at corpus scale.

  def dotF(a: Column, b: Column): Column = graft.plans.VecOp.dot(a, b)

  def l2F(a: Column): Column = sqrt(dotF(a, a))

  def cosineF(a: Column, b: Column): Column = dotF(a, b) / (l2F(a) * l2F(b))

  /** Codegen'd squared euclidean distance (graft.plans.VecOp) — the
    * k-means / IVF assignment kernel, evaluated once per row per centroid;
    * bitwise-equal to `sqDist`'s HOF fold (NativeVecSpec).
    */
  def sqDistF(a: Column, b: Column): Column = graft.plans.VecOp.sqDist(a, b)

  /** Squared euclidean distance (k-means kernel). */
  def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (d(x) - d(y)) * (d(x) - d(y))),
      lit(0.0), (acc, x) => acc + x)

  /** Sign-bit LSH bucket from `bits` consecutive dimensions starting at
    * `offset` (0-based): bit i set iff component offset+i ≥ 0. Axis-aligned
    * random-hyperplane LSH — deterministic, so the DuckDB oracle rebuilds
    * identical buckets. At scale this is the coarse index of an IVF-style
    * ANN: candidates shrink by ~2^bits without any all-pairs work. A nonzero
    * `offset` carves INDEPENDENT bands out of one embedding (disjoint
    * dimension slices), the banded-LSH building block `dedup_embed` uses.
    */
  def signBucket(a: Column, bits: Int, offset: Int = 0): Column =
    (0 until bits)
      .map(i => when(element_at(a, offset + i + 1) >= 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
}
