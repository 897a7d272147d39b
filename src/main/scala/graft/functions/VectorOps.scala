package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector scoring as Catalyst column expressions (whole-stage-codegen friendly;
  * no Scala UDF in the hot path). Semantics mirror the reference's cosine
  * (/root/reference/src/util/entity_dedup.py:215-224: normalized dot product
  * with zero-norm guard → 0.0).
  *
  * All math is done in DoubleType regardless of the input element type so
  * results are reproducible across engines (oracle parity) and stable under
  * reordering of *rows* (element order within a vector is fixed).
  */
object VectorOps {

  /** sum(a[i]*b[i]) in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  /** L2 norm in double. */
  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))

  /** Cosine similarity with zero-norm guard → 0.0. Backed by the native
    * codegen'd expression (one fused loop); `cosineHof` keeps the
    * higher-order-function formulation for A/B comparison — both produce
    * bit-identical doubles (same accumulation order and formula).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.expr.CosineSimilarity(a, b)

  /** HOF formulation (interpreted lambdas; ~no whole-stage codegen). */
  def cosineHof(a: Column, b: Column): Column = {
    val na = l2Norm(a)
    val nb = l2Norm(b)
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(dot(a, b) / (na * nb))
  }

  /** Normalize a vector to unit L2 (zero vector stays zero), double elements. */
  def normalize(a: Column): Column = {
    val n = l2Norm(a)
    when(n === 0.0, transform(a, v => v.cast("double")))
      .otherwise(transform(a, v => v.cast("double") / n))
  }
}
