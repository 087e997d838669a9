package graft.util

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.{Bridge => ExpressionUtils}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column helpers shared by all operators.
  *
  * The `dec*`/`sumDec*` helpers exist for cross-engine determinism: a sum of
  * doubles is order-dependent, so any aggregate the DuckDB oracle checks is
  * accumulated in exact DECIMAL and only cast back to double at the very end.
  * At 100 TB this is also the right thing for reproducible pipelines — the
  * decimal hash-aggregate is still a single map-side-combinable shuffle.
  */
object Cols {
  /** Wrap a native Catalyst expression as a Column (Spark-4 bridge). */
  def nativeCol(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    ExpressionUtils.column(e)

  /** The Catalyst expression behind a Column (Spark-4 bridge). */
  def nativeExpr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    ExpressionUtils.expression(c)

  /** RLIKE with a NON-LITERAL pattern column (the functions API only
    * takes literal regexes). Catalyst's RLike compiles per evaluation
    * when the pattern is non-foldable — keep such matches off hot paths
    * unless guarded (see [[graft.operators.Robots.ruleMatch]]'s
    * wildcard-only branch).
    */
  def rlikeCol(src: Column, pattern: Column): Column =
    nativeCol(
      org.apache.spark.sql.catalyst.expressions.RLike(nativeExpr(src), nativeExpr(pattern))
    )

  def lng(c: Column): Column = c.cast(LongType)
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))
  def dec4(c: Column): Column = c.cast(DecimalType(18, 4))

  /** Order-insensitive exact sum of a (2-decimal) double column, as double. */
  def sumDec2(c: Column): Column = sum(dec2(c)).cast(DoubleType)

  /** Same, at 4-decimal precision (for price*(1-disc)-style products). */
  def sumDec4(c: Column): Column = sum(dec4(c)).cast(DoubleType)

  /** Exact average: decimal sum, then one double division (deterministic). */
  def avgDec2(c: Column): Column =
    sum(dec2(c)).cast(DoubleType) / count(lit(1))

  /** 60-bit hash that both Spark and DuckDB can compute identically:
    * the first 15 hex chars of md5, parsed as an unsigned integer.
    * DuckDB equivalent: `('0x' || substr(md5(x), 1, 15))::BIGINT`.
    * Used wherever a hash value is part of an oracle-checked result
    * (Spark's `hash`/`xxhash64` have no DuckDB counterpart).
    */
  def md5Long(c: Column): Column =
    conv(substring(md5(c.cast(StringType)), 1, 15), 16, 10).cast(LongType)

  /** Dot product of two numeric array columns, computed left-to-right in
    * double (bit-reproducible across engines; DuckDB `list_dot_product`
    * iterates in the same order). Native codegen expression — the
    * `aggregate(zip_with(...))` HOF formulation computes the same values
    * but runs interpreted, ~100× slower on pairwise workloads.
    */
  def dot(a: Column, b: Column): Column =
    ExpressionUtils.column(
      graft.functions.VecDot(ExpressionUtils.expression(a), ExpressionUtils.expression(b))
    )

  /** Cosine similarity, single codegen pass (three independent
    * left-to-right accumulators — bit-identical to dot/(|a||b|) composed).
    */
  def cosine(a: Column, b: Column): Column =
    ExpressionUtils.column(
      graft.functions.VecCosine(ExpressionUtils.expression(a), ExpressionUtils.expression(b))
    )
}
