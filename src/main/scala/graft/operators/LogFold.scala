package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A4 + M4 — group means, rest means, and log2 fold change
  * (reference /root/reference/dask_mwu/logfoldchange.py).
  *
  * One aggregation pass: per (feature, group) sums/counts, then the "rest"
  * mean is derived by subtraction from the per-feature total — the
  * reference's algebraic trick (logfoldchange.py:19-22) that avoids an
  * anti-join per group; here the totals come from a window over the tiny
  * aggregated frame, so the fact table is scanned once.
  *
  * lfc = log2(f(mu1)+eps) − log2(f(mu2)+eps) with f = expm1 (natural log
  * data) or expm1(x·ln base) (logfoldchange.py:50-54); eps=1e-9 guards
  * log(0) (:48). Inputs are assumed log1p-transformed, as in the
  * reference (tests/conftest.py:11).
  */
object LogFold {

  /** Per (feature, grp): mu1 (group mean), mu2 (rest mean). */
  def groupMeans(cells: DataFrame): DataFrame = {
    val agg = cells.groupBy("feature_id", "grp")
      .agg(sum("value").as("s1"), count(lit(1)).as("c1"))
    val wFeat = Window.partitionBy("feature_id")
    agg
      .withColumn("tot", sum("s1").over(wFeat))
      .withColumn("n", sum("c1").over(wFeat))
      .withColumn("mu1", col("s1") / col("c1"))
      // single-group input has an empty "rest": NaN mean (the reference
      // rejects all-true masks up front; ANSI-safe here)
      .withColumn("mu2", when(col("n") > col("c1"),
        (col("tot") - col("s1")) / (col("n") - col("c1"))).otherwise(lit(Double.NaN)))
  }

  /** M4 on a frame with mu1/mu2. `base=None` in the reference means the
    * data is natural-log1p'd: f(x)=expm1(x); otherwise f(x)=expm1(x·ln b). */
  def withLfc(means: DataFrame, base: Option[Double] = None): DataFrame = {
    val k = base.map(b => math.log(b)).getOrElse(1.0)
    def f(c: org.apache.spark.sql.Column) = expm1(c * lit(k)) + lit(1e-9)
    means.withColumn("lfc", log2(f(col("mu1"))) - log2(f(col("mu2"))))
      .withColumn("abs_lfc", abs(col("lfc")))
  }

  /** Cross-engine snippet of the same lfc formula over two (quantized)
    * mean expressions — identical text on both sides (DuckDB has no
    * expm1, so f is spelled exp()-1; the means are O(10) here, so the
    * small-x precision advantage of expm1 is immaterial). `base=Some(b)`
    * folds ln b into a shared double literal, mirroring the reference's
    * log-base parameter (logfoldchange.py:50-54, tests
    * test_log_fold_change.py:74). */
  def lfcSql(mu1: String, mu2: String, base: Option[Double] = None): String = {
    def f(mu: String) = base match {
      case None    => s"(exp($mu) - 1e0)"
      case Some(b) => s"(exp($mu * ${graft.oracle.Parity.lit(math.log(b))}) - 1e0)"
    }
    s"(log2(${f(mu1)} + 1.0e-9) - log2(${f(mu2)} + 1.0e-9))"
  }
}
