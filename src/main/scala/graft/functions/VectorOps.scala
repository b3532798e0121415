package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.expressions.DotProduct

/** Vector math over `array<double>` columns — SURVEY.md §7.5 (similarity
  * search). All folds run in array order, so the result is a
  * bit-deterministic double reproducible by a sequential `list_reduce` fold
  * on the oracle side (no rounding needed).
  *
  * Inputs must be cast to array<double> FIRST (`array<float>` would
  * round each product to float and diverge from a double-arithmetic oracle).
  *
  * The dot product is a codegen'd Catalyst Expression (graft.expressions
  * .DotProduct) rather than `aggregate(zip_with(...))`: same left-to-right
  * fold semantics, but it joins whole-stage codegen, which is the difference
  * between an interpreted lambda per pair and a primitive loop inside the
  * all-pairs join (the similarity bench's hot path).
  */
object VectorOps {

  /** Sequential-fold dot product: ((0 + a0·b0) + a1·b1) + … */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** L2 norm (IEEE sqrt is correctly rounded → engine-identical). */
  def norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine from precomputed norms (one division at the end). */
  def cosine(dotAB: Column, normA: Column, normB: Column): Column =
    dotAB / (normA * normB)

  /** Sign-bit LSH band: `width` sign bits of dims
    * [band·width+1, band·width+width] packed into a long. Deterministic,
    * hyperplane-free (axis-aligned), portable to plain SQL — band 0 of
    * width 6 is exactly Similarity's coarse `signBucket`. Banded OR-
    * construction (same value in ANY band → candidate) trades candidate
    * volume for recall just like minhash bands. */
  def signBand(v: Column, band: Int, width: Int): Column =
    (0 until width).map(i =>
      when(element_at(v, band * width + i + 1) >= 0.0, lit(1L << i))
        .otherwise(lit(0L))).reduce(_ + _)
}
