package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector operators (`Array[Float]` columns) for similarity search
  * over the `embeddings` table. Pure Column expressions via the higher-order
  * array functions — no UDFs, so they stay inside codegen.
  */
object VectorFunctions {

  /** Cast a float array to double for stable arithmetic. */
  private def d(v: Column): Column = transform(v, x => x.cast("double"))

  /** Dot product of two equal-length numeric arrays (double result,
    * left-to-right summation — deterministic). Native single-pass Catalyst
    * expression handling float or double arrays directly — no cast pass
    * (a transform() cast per pair re-introduces an interpreted lambda at
    * N²-join scale). */
  def dot(a: Column, b: Column): Column =
    graft.functions.expressions.DotProductExpr(a, b)

  /** L2 norm. */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in [-1, 1]. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Pre-normalized copy of the vector (double elements). Compute once per
    * row BEFORE a pairwise join so cosine degrades to a plain dot product —
    * at N² pair scale, recomputing norms per pair triples the work. */
  def unitVector(a: Column): Column = {
    val n = l2Norm(a)
    transform(d(a), x => x / n)
  }

  /** Deterministic pseudo-random hyperplanes for sign-LSH: `n` planes of
    * dimension `dim`, seeded; returned as literal nested arrays so the
    * bucketing is a pure expression broadcast with the plan. */
  def hyperplanes(n: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(n, dim)(rng.nextGaussian())
  }

  /** Sign-LSH bucket id: one bit per hyperplane (sign of the dot product).
    * Vectors in the same bucket are ANN candidates; probe neighboring
    * buckets for recall. */
  def lshBucket(v: Column, planes: Array[Array[Double]]): Column =
    graft.functions.expressions.SignLshBucketExpr(v, planes)

  /** Int8 quantization: struct(scale, q binary) at 1/4 the float (1/8 the
    * double) footprint — the storage/IO lever for re-rank at 100 TB. */
  def quantizeInt8(v: Column): Column =
    graft.functions.expressions.QuantizeInt8Expr(v)

  /** Dot product of two quantizeInt8 structs (integer MAC, scaled back). */
  def quantizedDot(a: Column, b: Column): Column =
    graft.functions.expressions.QuantizedDotExpr(a, b)
}
