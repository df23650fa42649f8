package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Polynomial rolling hash over Unicode code points — the document-
  * fingerprinting primitive (SURVEY.md §7.3 path (b): a native Catalyst
  * `Expression` with `doGenCode`, so it stays inside whole-stage codegen;
  * a Scala UDF would break the codegen span and pay serialization per row).
  *
  * h = Σ h·B + codepoint (mod P), B=263, P=1e9+7 — stays in positive
  * longs. Code points (not UTF-8 bytes) so the hash is expressible
  * identically in DuckDB SQL (`unicode(substring(s, i, 1))` — see
  * [[graft.oracle.Parity.rollingHashDuck]]), which upgrades every query
  * built on this hash from rows-only to full oracle hash-checking.
  */
case class RollingHash(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"rolling_hash expects STRING, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"

  protected override def nullSafeEval(input: Any): Any =
    RollingHash.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RollingHash.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

object RollingHash {
  final val Base = 263L
  final val Mod = 1000000007L

  /** Iterates code points decoded straight from the UTF-8 bytes (no
    * String materialization — this runs once per shingle on the dedup hot
    * path) — exactly the sequence DuckDB's codepoint-indexed `substring`
    * + `unicode` walks, so both engines hash identical integer streams.
    * Spark strings are valid UTF-8, so the decoder needs no error paths;
    * a 4-byte sequence (surrogate pair in UTF-16) is one code point. */
  def hash(s: UTF8String): Long = {
    val n = s.numBytes
    var h = 0L
    var i = 0
    while (i < n) {
      val b0 = s.getByte(i) & 0xff
      var cp = 0
      if (b0 < 0x80) { cp = b0; i += 1 }
      else if ((b0 & 0xE0) == 0xC0) {
        cp = ((b0 & 0x1F) << 6) | (s.getByte(i + 1) & 0x3F); i += 2
      } else if ((b0 & 0xF0) == 0xE0) {
        cp = ((b0 & 0x0F) << 12) | ((s.getByte(i + 1) & 0x3F) << 6) |
          (s.getByte(i + 2) & 0x3F); i += 3
      } else {
        cp = ((b0 & 0x07) << 18) | ((s.getByte(i + 1) & 0x3F) << 12) |
          ((s.getByte(i + 2) & 0x3F) << 6) | (s.getByte(i + 3) & 0x3F); i += 4
      }
      h = (h * Base + cp) % Mod
    }
    h
  }
}

/** The library's custom-expression function table. A session gets it
  * when it is built, through [[graft.GraftExtensions]]: every
  * [[graft.LocalSession]] and the test session do, and a cluster does
  * with `spark.sql.extensions=graft.GraftExtensions`. The two MWU
  * operators whose plans call one of these functions
  * (`Ranking.prefixRank`, `MwuStats.withP`) also [[ensure]] it, so
  * `graft.api.MwuApi` runs on a session built without the extension. */
object GraftFunctions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

  val all: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("rolling_hash", "polynomial rolling hash of a string",
      exprs => RollingHash(exprs.head)),
    ("sorted_intersect_count", "|A intersect B| of two sorted BIGINT arrays",
      exprs => SortedIntersectCount(exprs.head, exprs(1))),
    ("sorted_jaccard", "Jaccard of two sorted distinct BIGINT arrays (single-pass)",
      exprs => SortedJaccard(exprs.head, exprs(1))),
    ("char_trigram_codes", "sorted distinct packed char-trigram codes",
      exprs => CharTrigramCodes(exprs.head)),
    ("chain_dot", "left-associated dot product of two numeric arrays",
      exprs => ChainDot(exprs.head, exprs(1))),
    ("sorted_dot_fp", "fixed-point dot of two sorted (token, weight) parallel-array pairs",
      exprs => SortedDotFp(exprs.head, exprs(1), exprs(2), exprs(3))),
    ("cody_erfc", "erfc via Cody's SPECFUN algorithm (bit-equal to the SQL snippet)",
      exprs => CodyErfc(exprs.head)),
    ("winnow_sel", "distinct packed winnow-selected (pos, fp) keys of a document",
      exprs => WinnowSel(exprs.head)),
    ("repetition_stats", "integer counts of the within-doc repetition signals in one pass",
      exprs => RepetitionStats(exprs.head)),
    ("double_sort_bucket", "deterministic bucket id monotone in double ordering",
      exprs => DoubleSortBucket(exprs.head)))

  /** `all` in the form `SparkSessionExtensions.injectFunction` and the
    * function registry take. */
  private[graft] val entries: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    all.map { case (name, usage, builder) =>
      (FunctionIdentifier(name),
        new ExpressionInfo(classOf[graft.GraftExtensions].getName, name, usage), builder)
    }

  /** Registers the functions `spark`'s registry lacks. A function the
    * session already holds is left as it is, so a session built with the
    * extension is never touched. */
  def ensure(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    entries.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
  }
}
