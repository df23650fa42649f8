package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** A deterministic bucket id MONOTONE in double ordering — the
  * partition-splitting key of the distributed prefix-sum rank kernel
  * (`graft.operators.Ranking.prefixRank`). Uses the classic IEEE-754
  * total-order key (negatives: flip all bits; positives: identity after
  * recentering), truncated to its top 20 bits (`>> 44`), so:
  *
  *   - v1 < v2  ⟹  bucket(v1) <= bucket(v2)   (monotone — prefix sums
  *     over buckets compose into global cumulative counts);
  *   - equal values share a bucket (peers never straddle a boundary);
  *     -0.0 is normalized to +0.0 and every NaN to the canonical NaN
  *     (doubleToLongBits), matching Spark's value grouping/order exactly
  *     (NaN sorts last, above +Infinity);
  *   - the id is a pure function of the value: no sampling, no partition
  *     identity, no materialization — the same value buckets identically
  *     under any plan, executor count, or retry.
  *
  * Bucket POPULATION is distribution-dependent (44 dropped bits ≈ each
  * binary octave splits into 512 buckets): real-valued measures spread
  * over hundreds of buckets; a degenerate column (all one value) makes
  * one bucket, which degrades exactly to the pre-split plan, never below
  * it. */
case class DoubleSortBucket(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"double_sort_bucket expects DOUBLE, got ${child.dataType}")

  override def dataType: DataType = LongType
  override def prettyName: String = "double_sort_bucket"

  protected override def nullSafeEval(a: Any): Any =
    DoubleSortBucket.bucket(a.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.DoubleSortBucket.bucket($a)")

  override protected def withNewChildInternal(newChild: Expression): DoubleSortBucket =
    copy(child = newChild)
}

object DoubleSortBucket {
  def bucket(d: Double): Long = {
    if (d == 0.0d) return 0L // -0.0 and +0.0 are order-equal peers
    val bits = java.lang.Double.doubleToLongBits(d) // canonical NaN
    val key = if (bits < 0L) ~bits ^ java.lang.Long.MIN_VALUE else bits
    key >> 44
  }
}
