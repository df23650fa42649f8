package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Pre-flight validation (SURVEY.md §2.2) — the Spark rendering of the
  * reference's reject-rather-than-filter checks:
  * `validate_ranks_and_masks` (/root/reference/dask_mwu/_utils.py:25-51),
  * `get_masks` shape rejects (rank_data.py:64-70), `create_df`
  * `_check_shapes` and `top_n` bounds (create_df.py:11-64).
  *
  * Every eager check is a set of [[Rule]]s that [[require]] evaluates in
  * one pass over its input: one action per input however many rules it
  * checks, and only the rules' values cross to the driver.
  */
object Validation {

  final case class ValidationException(msg: String) extends IllegalArgumentException(msg)

  /** `example` is an aggregate that is NULL when the rule holds and
    * otherwise names an offending example. */
  private final case class Rule(message: String, example: Column)

  /** Evaluates every rule over `df` in one pass and throws
    * `ValidationException("<message> (e.g. <example>)")` for the first
    * rule that fails. The rules are observed metrics of a no-op write, so
    * they are merged on the driver from every task's partial result: over
    * a grouped `df` the per-key merge keeps all its shuffle partitions and
    * no exchange into one partition follows it (one job per shuffle plus
    * one, where `agg(...).head()` takes one more). */
  private def require(df: DataFrame, rules: Rule*): Unit = if (rules.nonEmpty) {
    val seen = new Observation()
    val named = rules.indices.map(i => rules(i).example.as(s"rule$i"))
    df.observe(seen, named.head, named.tail: _*).write.format("noop").mode("overwrite").save()
    val values = seen.get
    rules.indices.find(i => values(s"rule$i") != null).foreach { i =>
      throw ValidationException(s"${rules(i).message} (e.g. ${values(s"rule$i")})")
    }
  }

  /** `c=value` of one row where `bad` holds (a NULL `c` reads `c=null`). */
  private def offending(c: String, bad: Column = lit(true)): Column =
    min(when(bad, format_string(s"$c=%s", col(c))))

  /** An index guard over a semi- or anti-join whose every row offends:
    * it holds when `df` is empty, else the message names one row's `c`. */
  private[operators] def requireEmpty(df: DataFrame, message: String, c: String): Unit =
    require(df, Rule(message, offending(c)))

  /** Partition-of-groups check over `obs(obs_id, grp)`: every observation
    * in EXACTLY one group (reference _utils.py:47-51), both rules over one
    * per-id aggregate. */
  def requirePartition(obs: DataFrame): Unit =
    require(obs.groupBy("obs_id").agg(count(lit(1)).as("n"), count("grp").as("n_grp")),
      Rule("every observation must belong to a group", offending("obs_id", col("n_grp") < col("n"))),
      Rule("observations must belong to exactly one group", offending("obs_id", col("n") > 1)))

  /** Every feature of `cells(feature_id, …)` covers the same observation
    * count (the reference's ranks.shape == masks rows, _utils.py:38-45, in
    * long form), and `topN` is within [1, n_features], over one
    * per-feature aggregate. */
  def requireUniformFeatures(cells: DataFrame, topN: Option[Int] = None): Unit =
    require(cells.groupBy("feature_id").agg(count(lit(1)).as("n_obs")),
      Rule("all features must have the same number of observations",
        when(min("n_obs") =!= max("n_obs"), format_string("feature_id=%s has %d, feature_id=%s has %d",
          min_by(col("feature_id"), col("n_obs")), min("n_obs"),
          max_by(col("feature_id"), col("n_obs")), max("n_obs")))) +: topNRules(topN): _*)

  /** The gene-name table names every feature present (reference
    * scratch/rank_gene_groups.py:118-133), and `topN` is within
    * [1, n_features], over one aggregate of the distinct features. */
  def requireVarsCover(cells: DataFrame, vars: DataFrame, topN: Option[Int] = None): Unit =
    require(cells.select("feature_id").distinct().join(
      vars.select("feature_id").distinct().withColumn("__named", lit(true)), Seq("feature_id"), "left"),
      Rule("vars table must name every feature", offending("feature_id", col("__named").isNull))
        +: topNRules(topN): _*)

  private def topNError(k: Int, n: Any) =
    ValidationException(s"top_n must be in [1, $n], got $k (reference create_df.py:60-64)")

  /** top_n ≥ 1, at call time with no job. */
  private[operators] def requireTopNPositive(topN: Option[Int]): Unit =
    topN.filter(_ < 1).foreach(k => throw topNError(k, "n_features"))

  /** top_n in [1, n_features] over a frame with one row per feature:
    * below 1 throws at once, with no job; above n_features is a rule on
    * the aggregate that already counts the features. */
  private def topNRules(topN: Option[Int]): Seq[Rule] = {
    requireTopNPositive(topN)
    topN.toSeq.map(k => Rule(topNError(k, "n_features").msg,
      when(count(lit(1)) < k, format_string("%d features", count(lit(1))))))
  }

  /** top_n bounds against a known feature count. */
  def requireTopN(topN: Option[Int], nFeatures: Long): Unit = {
    requireTopNPositive(topN)
    topN.filter(_ > nFeatures).foreach(k => throw topNError(k, nFeatures))
  }

  /** Finiteness of fixed-point-summed measures, all columns in one pass:
    * NaN/Inf would not fail loudly — Spark's non-ANSI double→BIGINT cast
    * wraps them to 0/Long.Max while DuckDB throws — so the
    * deterministic-aggregation contract ([[graft.oracle.Parity.fpSum]])
    * holds only for finite values. No operator calls it: a caller with
    * untrusted measures calls it before the query. */
  def requireFinite(df: DataFrame, cols: Seq[String]): Unit =
    require(df, cols.map { c =>
      Rule(s"measure column '$c' must be finite (NaN/Inf would diverge between engines)",
        offending(c, isnan(col(c)) || col(c) === Double.PositiveInfinity || col(c) === Double.NegativeInfinity))
    }: _*)
}
