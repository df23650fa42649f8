package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A1–A3, A6 — the hash-aggregates of the MWU pipeline (SURVEY.md §2.5).
  *
  * The reference computes the in-group rank sum as a masked matmul
  * (`da.tensordot`, /root/reference/dask_mwu/rank_data.py:292-296) and the
  * tie term as an elementwise reduction (rank_data.py:301-315). In Spark
  * both are plain partial+final hash aggregates — the one-hot mask matrix
  * is never materialized (SURVEY.md §1.1: groupBy replaces mask-multiply),
  * and results stay distributed (the reference eagerly `.compute()`s to
  * driver numpy; we never collect).
  */
object MwuAgg {

  /** A1 + A3: per (feature, group) rank sum and group size, plus the
    * per-feature total row count `n` via a window over the tiny aggregated
    * frame (#rows = features × groups — no extra scan of the fact table). */
  def rankSums(ranked: DataFrame): DataFrame = {
    val agg = ranked.groupBy("feature_id", "grp")
      .agg(sum("rank").as("rank_sum"), count(lit(1)).as("n1"))
    agg.withColumn("n", sum("n1").over(Window.partitionBy("feature_id")))
  }

  /** A1+A3 WITHOUT sorting the fact table — the tied-data scale path.
    * The fact rows collapse through a map-side-combined aggregate to
    * (feature, value, grp, count) first, and [[Ranking.prefixRank]]
    * ranks only those rows, weighted by their counts:
    *   rank_sum(grp) = Σ_v c(grp,v)·avg_rank(v), exact dyadic arithmetic
    *   → bit-identical to summing per-cell ranks in any order, so it
    *   shares [[rankSums]]'s oracle (PropertySpec pins the two equal,
    *   NaN poisoning and NULL features included).
    * For discrete measures (quantities, discounts, grades) the kernel
    * sorts thousands of rows instead of billions; for continuous values
    * it degrades to ~n aggregated rows, and the per-cell route
    * ([[Ranking.withRanks]] + [[rankSums]]) measures faster there (README
    * "Scale design"). NaN poisoning matches
    * rank_data.py:193-196: any bad value NULLs the feature's rank sums
    * while n1/n stay populated. */
  def rankSumsAgg(cells: DataFrame): DataFrame =
    Ranking.prefixRank(
      cells.groupBy("feature_id", "value", "grp").agg(count(lit(1)).as("c")),
      col("c"), split = true)
      .groupBy("feature_id", "grp")
      .agg(sum(col("rank") * col("c")).as("rank_sum"), sum("c").as("n1"))
      .withColumn("n", sum("n1").over(Window.partitionBy("feature_id")))

  /** A2: tie term Σ(t³−t) per feature. Two-level aggregate: count each
    * distinct value's multiplicity, then sum t³−t — singletons contribute
    * 0, exactly the scipy tie-vector semantics (rank_data.py:315).
    * NaN rows are excluded: NaN≠NaN under IEEE, so in the reference each
    * NaN is a singleton tie group contributing 0; Spark's groupBy would
    * wrongly coalesce NaNs into one group (SURVEY.md §7.5).
    *
    * Exact BIGINT arithmetic, checked whatever the session's ANSI mode:
    * each term is spelled (t−1)·t·(t+1), which stays inside BIGINT up to
    * t = 2^21 where t·t·t alone would not, and a larger t or a
    * per-feature sum past BIGINT raises `MWU_TIE_TERM_OVERFLOW` instead
    * of wrapping into a silently wrong sigma. */
  def tieTerm(cells: DataFrame): DataFrame = {
    val overflow = raise_error(concat_ws(" ",
      lit("MWU_TIE_TERM_OVERFLOW: tie term exceeds BIGINT for feature"),
      col("feature_id").cast("string")))
    val t = col("t")
    // (t−1)·t·(t+1) < 2^63 exactly when t <= 2^21; try_sum is NULL past BIGINT
    val term = when(t > (1L << 21), overflow).otherwise((t - 1L) * t * (t + 1L))
    cells.filter(!Ranking.isBad(col("value")))
      .groupBy("feature_id", "value").agg(count(lit(1)).as("t"))
      .groupBy("feature_id").agg(coalesce(try_sum(term), overflow).as("tie_term"))
  }

  /** Oracle-SQL for [[rankSums]] over a ranked-cells subquery. */
  def rankSumsSql(rankedSql: String): String =
    s"""select feature_id, grp, cast(sum(rank) as double) as rank_sum,
       | cast(count(*) as bigint) as n1,
       | cast(sum(count(*)) over (partition by feature_id) as bigint) as n
       |from ($rankedSql) group by feature_id, grp""".stripMargin.replace("\n", " ")

  /** Oracle-SQL for [[tieTerm]] over a cells subquery. NaN/NULL rows are
    * filtered like the Spark side: DuckDB's GROUP BY coalesces NaNs into
    * one group (t³−t ≠ 0) where the reference treats each NaN as a
    * contributing-zero singleton. */
  def tieTermSql(cellsSql: String): String =
    s"""select feature_id, cast(sum((t - 1) * t * (t + 1)) as bigint) as tie_term from (
       | select feature_id, value, cast(count(*) as bigint) as t
       | from ($cellsSql) where value is not null and not isnan(value)
       | group by feature_id, value
       |) group by feature_id""".stripMargin.replace("\n", " ")
}
