package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** All integer counts of the within-document repetition signals
  * (`text_repetition`) in ONE compiled pass over the token array —
  * replacing the interpreted higher-order-function spelling (three gram
  * `transform`s + `array_distinct`s + an O(distinct·n) per-token
  * multiplicity rescan), which ran as Catalyst interpreted lambdas and
  * was the whole 6.3 s cost of the query at sf0.1 (guide §1.2 step 2:
  * per-task work; §4.1: prefer codegen over interpreted expression
  * trees).
  *
  * Input: the ALREADY-SPLIT token array (`split(trim(text), ' ')`) — the
  * tokenizer itself stays Spark's, so there is zero tokenizer drift.
  * Output struct of exact BIGINT counts; the caller spells the final
  * ratios in SQL with the identical casts/divisions the old projection
  * used, so every emitted double is bit-identical:
  *
  *   n_tok — `size(toks)`
  *   top   — max token multiplicity
  *         = `array_max(transform(array_distinct(toks), t ->
  *            size(filter(toks, x -> x = t))))`
  *   gK    — word-K-gram count = `greatest(n_tok - K + 1, 1)` (the
  *           sequence bound; the i-th gram is
  *           `concat_ws(' ', slice(toks, i, K))`, end-truncated)
  *   dK    — distinct word-K-gram count
  *
  * The gram strings are built with the same space join (UTF8 bytes) the
  * SQL produced, so distinctness is decided over identical byte strings.
  * Token arrays from `split` contain no nulls; a null element (impossible
  * for the shipped caller) is treated as the empty string, matching
  * `concat_ws`'s null-skipping only vacuously. Pinned bit-identical to
  * the old projection by the differential spec. */
case class RepetitionStats(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"repetition_stats expects ARRAY<STRING>, got $t")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n_tok", LongType, nullable = false),
    StructField("top", LongType, nullable = false),
    StructField("d2", LongType, nullable = false),
    StructField("g2", LongType, nullable = false),
    StructField("d3", LongType, nullable = false),
    StructField("g3", LongType, nullable = false)))

  override def prettyName: String = "repetition_stats"

  protected override def nullSafeEval(a: Any): Any =
    RepetitionStats.stats(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.RepetitionStats.stats($a)")

  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)
}

object RepetitionStats {
  private val Space = UTF8String.fromString(" ")
  private val Empty = UTF8String.fromString("")

  private def at(toks: ArrayData, i: Int): UTF8String = {
    val s = toks.getUTF8String(i)
    if (s == null) Empty else s
  }

  /** Initial hash capacity for `n` entries: 2n, clamped to [16, 2^30]
    * (the java.util.HashMap maximum). Computed in Long: the Int `n * 2`
    * wraps negative past 2^30 tokens and the presize silently fell back
    * to 16. */
  private[graft] def capacityFor(n: Int): Int =
    math.min(math.max(16L, 2L * n), 1L << 30).toInt

  def stats(toks: ArrayData): InternalRow = {
    val n = toks.numElements()
    // max multiplicity via one hash-count pass
    val mult = new java.util.HashMap[UTF8String, Long](capacityFor(n))
    var top = 0L
    var i = 0
    while (i < n) {
      val t = at(toks, i)
      val c = mult.merge(t, 1L, (x, y) => x + y)
      if (c > top) top = c
      i += 1
    }
    def gramCounts(k: Int): (Long, Long) = {
      val g = Math.max(n - (k - 1), 1)
      val seen = new java.util.HashSet[UTF8String](capacityFor(g))
      var d = 0L
      var j = 0
      while (j < g) {
        // concat_ws(' ', slice(toks, j+1, k)) — end-truncated like slice
        val hi = Math.min(j + k, n)
        // empty slice (n = 0, impossible from split) → concat_ws = ""
        var gram = if (j < n) at(toks, j) else Empty
        var m = j + 1
        while (m < hi) { gram = UTF8String.concatWs(Space, gram, at(toks, m)); m += 1 }
        if (seen.add(gram)) d += 1
        j += 1
      }
      (d, g.toLong)
    }
    val (d2, g2) = gramCounts(2)
    val (d3, g3) = gramCounts(3)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n.toLong, top, d2, g2, d3, g3))
  }
}
