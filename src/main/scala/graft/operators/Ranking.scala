package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** W1/W3 — per-feature average ranks with ties + tie-group sizes
  * (reference `_rank_and_ties`, /root/reference/dask_mwu/rank_data.py:90-201;
  * scipy `method='average'`, `nan_policy='propagate'` hardcoded at :182-184).
  *
  * Every rank of the MWU core comes from one kernel, [[prefixRank]]. A
  * rank is a prefix count: over weighted (feature_id, value[, grp]) rows,
  *
  *   avg_rank(v) = C_{<v} + (t_v + 1)/2
  *
  * with C_{<v} the weight of the feature's values below v and t_v the
  * weight of v's peers. Weight 1 per cell gives the per-cell ranks of
  * [[withRanks]]; (feature, value[, grp]) counts give [[ranksByValue]]
  * and [[MwuAgg.rankSumsAgg]], whose windows sort distinct values
  * instead of cells.
  *
  * Plan: the prefix count is two-level, so no task sorts a whole
  * feature. One hash exchange on (feature_id, value bucket) carries the
  * rows into the local windows; the feature×bucket offset table costs
  * two small exchanges (its map-side-combined aggregate and its
  * per-feature offset window) and is broadcast back. That is three hash
  * exchanges, one of them row-sized.
  *
  * NaN/null propagation (reference rank_data.py:193-196): any NaN or NULL
  * value in a feature makes every rank of that feature NULL; tie counts
  * stay finite (only ranks are overwritten in the reference, SURVEY.md
  * §1.2).
  */
object Ranking {

  def isBad(c: Column): Column = c.isNull || isnan(c)

  /** Adds `rank` (DOUBLE, null on NaN-poisoned features), `tie_count`
    * (LONG), `feature_has_nan` (BOOLEAN) to a cells-like frame — the
    * kernel at weight 1 per cell.
    *
    * `bucketSplit = false` keeps one window per feature, whose partition
    * key is exactly the bucketed-cells table's bucket hash: the
    * `mwu_rank_bucket` gate's declared ZERO-exchange plan (PlanSpec pins
    * it), which the split's (feature, bucket) exchanges would break. */
  def withRanks(cells: DataFrame, bucketSplit: Boolean = true): DataFrame =
    prefixRank(cells, lit(1L), bucketSplit)

  /** [[withRanks]] collapsed to PER-DISTINCT-VALUE rows — (feature_id,
    * value, tie_count, rank), the relation `mwu_rank` materializes.
    * Cells collapse to (feature, value) counts first (map-side combine),
    * so only distinct values reach the kernel's sort: on heavy-tie
    * corpora the sorted input shrinks from n cells to d values. Not a
    * replacement for [[withRanks]] where per-cell ranks are the API
    * surface. */
  def ranksByValue(cells: DataFrame): DataFrame =
    prefixRank(cells.groupBy("feature_id", "value").agg(count(lit(1)).as("c")),
      col("c"), split = true)
      .select("feature_id", "value", "tie_count", "rank")

  /** The exact prefix rank over `rows` carrying `feature_id` and `value`,
    * each row weighing `weight` (1 per cell, or the count of equal rows
    * it stands for). Adds
    *   - `tie_count` = t, the weight of the row's peers (equal values);
    *   - `rank` = C_{<v} + (t+1)/2, NULL for the whole feature when any
    *     of its values is NULL or NaN;
    *   - `feature_has_nan`.
    *
    * `split` (the default path) buckets each feature's value axis with
    * `double_sort_bucket` — deterministic and monotone, so equal values
    * share a bucket and buckets order like their values. The windows run
    * per (feature, bucket): a local running weight and the peer weight
    * t. A feature×bucket table holds each bucket's offset (the weight of
    * all lower buckets) and the feature's NaN flag; it is broadcast and
    * joined NULL-SAFE on both keys (a NULL feature ranks like any other;
    * a NULL value buckets to NULL, which sorts first like the value).
    * offset + local running weight restores the global integer exactly,
    * and every rank is a dyadic rational below 2^53, so the result is
    * bit-equal to the single-window spelling (`split = false`: one
    * window per feature, offset 0) in any plan.
    *
    * Working columns carry the reserved prefix `__rank_` and are dropped
    * again; every other caller column passes through (a caller
    * `tie_count`, `rank` or `feature_has_nan` is overwritten). */
  private[operators] def prefixRank(rows: DataFrame, weight: Column,
                                    split: Boolean): DataFrame = {
    val Seq(vb, cum, off, fNan, btF, btB) =
      Seq("vb", "cum", "off", "fnan", "bt_f", "bt_b").map("__rank_" + _)
    val v = col("value")
    val keyed = if (split) {
      graft.functions.GraftFunctions.register(rows.sparkSession)
      rows.withColumn(vb, expr("double_sort_bucket(value)"))
    } else rows
    val keys = if (split) Seq(col("feature_id"), col(vb)) else Seq(col("feature_id"))
    val wOrd = Window.partitionBy(keys: _*).orderBy(v)
    val local = keyed
      .withColumn(cum, sum(weight).over(
        wOrd.rangeBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tie_count", sum(weight).over(
        wOrd.rangeBetween(Window.currentRow, Window.currentRow)))
    val placed = if (split) {
      // `off` first holds the bucket's own weight, then the weight of
      // all lower buckets of the feature
      val bt = keyed.groupBy(col("feature_id").as(btF), col(vb).as(btB))
        .agg(sum(weight).as(off), max(isBad(v)).as(fNan))
        .withColumn(off, coalesce(sum(off).over(Window.partitionBy(btF).orderBy(btB)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn(fNan, max(fNan).over(Window.partitionBy(btF)))
      local.join(broadcast(bt), col("feature_id") <=> col(btF) && col(vb) <=> col(btB))
    } else {
      local.withColumn(off, lit(0L))
        .withColumn(fNan, max(isBad(v)).over(Window.partitionBy("feature_id")))
    }
    placed
      .withColumn("feature_has_nan", col(fNan))
      .withColumn("rank", when(col(fNan), lit(null).cast("double"))
        .otherwise((col(off) + col(cum) - col("tie_count")).cast("double") +
          (col("tie_count") + 1L) / 2.0))
      .drop(vb, cum, off, fNan, btF, btB)
  }

  /** Oracle-SQL rendering of the same computation, including the NaN
    * branch: any NaN/NULL cell NULLs every rank of its feature while tie
    * counts stay finite (rank_data.py:193-196). Both engines order NaN
    * last and treat NaN = NaN as a tie, so tie_count agrees; the rank
    * values themselves are masked before anything downstream sums them. */
  def ranksSql(cellsSql: String): String =
    s"""select grp, feature_id, value, tie_count,
       | case when f_nan = 1 then null else rank0 end as rank
       |from (select grp, feature_id, value,
       | count(*) over (partition by feature_id order by value
       |   range between current row and current row) as tie_count,
       | cast(rank() over (partition by feature_id order by value) as bigint)
       |   + (cast(count(*) over (partition by feature_id order by value
       |       range between current row and current row) as bigint) - 1) / 2.0 as rank0,
       | max(case when value is null or isnan(value) then 1 else 0 end)
       |   over (partition by feature_id) as f_nan
       |from ($cellsSql))""".stripMargin.replace("\n", " ")
}
