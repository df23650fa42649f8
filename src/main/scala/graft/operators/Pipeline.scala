package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end marker-stats pipeline — the Spark rendering of
  * `rank_gene_groups_vec` (/root/reference/scratch/rank_gene_groups.py:261-309).
  *
  * Plan shape (SURVEY.md §3.1 "Spark trace"): ONE exchange moves cells
  * unaggregated — hash by (feature_id, value bucket) into the rank
  * kernel's local windows ([[Ranking.prefixRank]]). Every other exchange
  * carries a map-side-combined aggregate or a window over one: the
  * bucket offsets (2), the rank sums (2), the tie term (2), the lfc
  * means (2), BH (1) and top-k (1). PlanSpec pins the total, 11 hash
  * exchanges over lineitem at sf0.001. Tie-term and lfc-mean frames are
  * feature×group sized and joined broadcast. Nothing is collected to the
  * driver (the reference crosses a `.compute()` barrier per stage).
  *
  * Ranks are per cell here. That route wins on continuous values; the
  * aggregated rank sums ([[MwuAgg.rankSumsAgg]]) win on tied ones
  * (README "Scale design" has the measurements).
  *
  * Checkpoint (S5/S7, rank_gene_groups.py:219-252): the rank stage is the
  * cost center ("HIGHLY recommended to save this data to disk",
  * rank_data.py:221-223) — optionally persisted to partitioned parquet and
  * reused across runs unless `recomputeRanks`.
  */
object Pipeline {

  case class Config(
      base: Option[Double] = None,
      topN: Option[Int] = None,
      checkpointDir: Option[String] = None,
      recomputeRanks: Boolean = false)

  /** Rank stage with the reference's cache-or-compute gate. */
  def rankedCells(spark: SparkSession, cells: DataFrame, cfg: Config): DataFrame =
    cfg.checkpointDir match {
      case None => Ranking.withRanks(cells)
      case Some(dir) =>
        val path = new org.apache.hadoop.fs.Path(dir)
        val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (cfg.recomputeRanks || !fs.exists(path)) {
          // One write, pre-partitioned by feature hash — the reference's
          // write-then-rechunk-then-rewrite double pass (S5) collapses to a
          // single repartitioned write (SURVEY.md §2.1). Stored planes
          // mirror the reference's rank tensor exactly: ranks + tie sizes
          // (rank_data.py:201), keyed by (grp, feature) — not the raw
          // values, which downstream stages re-scan from the source.
          // (A round-robin repartition before the write was tried to undo
          // the few-features skew at small SF; the extra 4M-row shuffle
          // cost more than the skewed write saved.)
          Ranking.withRanks(cells)
            .select("grp", "feature_id", "rank", "tie_count")
            .write.mode("overwrite").parquet(dir)
        }
        spark.read.parquet(dir) // column pruning replaces zarr plane slicing
    }

  /** Full pipeline: cells(grp, feature_id, value) → marker stats
    * (grp, gene, U, p_value, p_adjusted, logfoldchange, abs_logfoldchange, rk).
    * `cells` values are assumed log1p-transformed for the lfc leg, as in
    * the reference (conftest.py:11). */
  def markerStats(spark: SparkSession, cells: DataFrame, cfg: Config = Config()): DataFrame = {
    val ranked = rankedCells(spark, cells, cfg)
    val stats = MwuStats.withBH(
      MwuStats.withP(
        MwuStats.withZ(MwuStats.withU(MwuAgg.rankSums(ranked)), MwuAgg.tieTerm(cells))))
    val lfc = LogFold.withLfc(LogFold.groupMeans(cells), cfg.base)
      .select("feature_id", "grp", "lfc", "abs_lfc")
    val joined = stats.join(lfc, Seq("feature_id", "grp"))
      .select(col("grp"), col("feature_id").as("gene"), col("u1").as("U"),
        col("p").as("p_value"), col("p_adj").as("p_adjusted"),
        col("lfc").as("logfoldchange"), col("abs_lfc").as("abs_logfoldchange"))
    MarkerTable.topK(joined.withColumn("abs_lfc", col("abs_logfoldchange")), cfg.topN)
      .drop("abs_lfc")
  }
}
