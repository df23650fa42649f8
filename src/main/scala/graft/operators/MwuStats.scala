package graft.operators

import graft.oracle.Parity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** M1–M3 + A5 — Mann–Whitney U, tie-corrected z, two-sided p, and
  * Benjamini–Hochberg FDR (reference /root/reference/dask_mwu/pvals.py).
  *
  * All scalar math is Catalyst built-ins (whole-stage codegen'd); the one
  * gap in Spark SQL, `erfc`, is a single-sourced SQL snippet
  * ([[Parity.pFromZ]] — Cody's algorithm with only +,-,*,/,exp,floor,abs)
  * parsed by `expr(...)`, so no UDF breaks codegen and the DuckDB oracle
  * evaluates the *identical* text.
  *
  * Input frames are feature×group sized (tiny relative to the fact table);
  * the feature-sized tie-term frame is always broadcast into the join —
  * nothing is ever collected (the reference `.compute()`s eagerly to
  * driver numpy, pvals.py:111,137).
  */
object MwuStats {

  /** U statistics from rank sums (pvals.py:72-125).
    *   U1 = R1 − n1(n1+1)/2 ; U2 = n1·n2 − U1 ; u = max(U1,U2) two-sided.
    * NOTE the returned `U` is U1, not max — matches scipy's statistic
    * (pvals.py:125; SURVEY.md §7.5 "returned-U subtlety"). Exact dyadic
    * arithmetic; bit-reproducible. */
  def withU(rankSums: DataFrame): DataFrame =
    rankSums
      .withColumn("n2", col("n") - col("n1"))
      .withColumn("u1", col("rank_sum") - col("n1") * (col("n1") + 1L) / 2.0)
      .withColumn("u2", col("n1") * col("n2") - col("u1"))
      .withColumn("u_max", greatest(col("u1"), col("u2")))

  /** Tie-corrected z with continuity correction (pvals.py:21-59):
    *   mu = n1 n2/2 ; sigma = sqrt(n1 n2/12 · ((n+1) − T/(n(n−1)))) ;
    *   z = (u − mu − 0.5)/sigma.
    * sqrt is correctly rounded ⇒ z is bit-exact across engines given the
    * exact integer/dyadic inputs. sigma=0 (all values tied) yields ±inf/NaN
    * exactly like the reference's errstate-ignored division (pvals.py:57-58). */
  def withZ(uStats: DataFrame, tieTerm: DataFrame): DataFrame = {
    // Explicit zero-denominator branches: the reference relies on numpy's
    // errstate-ignored IEEE semantics (pvals.py:57-58); Spark 4 defaults
    // to ANSI mode which would throw instead, so the IEEE outcomes
    // (sigma=0 → z=±inf, 0/0 → NaN, n<2 → NaN sigma) are spelled out.
    uStats.join(broadcast(tieTerm), Seq("feature_id"), "left")
      .withColumn("tie_term", coalesce(col("tie_term"), lit(0L)))
      .withColumn("mu_u", col("n1") * col("n2") / 2.0)
      .withColumn("sigma", when(col("n") > 1, sqrt(
        col("n1") * col("n2") / 12.0 *
          ((col("n") + 1.0) - col("tie_term") / (col("n") * (col("n") - 1.0)))))
        .otherwise(lit(Double.NaN)))
      .withColumn("z_num", col("u_max") - col("mu_u") - 0.5)
      // sigma=NaN (n<2) must yield z=NaN (numpy: x/NaN = NaN) — it must
      // NOT fall into the sign-of-numerator ±inf arms, which model ONLY
      // the sigma=0 division. NaN fails `> 0.0`, so the isnan arm comes
      // between the division and the sigma=0 sign arms.
      .withColumn("z", when(col("sigma") > 0.0, col("z_num") / col("sigma"))
        .when(isnan(col("sigma")), lit(Double.NaN))
        .otherwise(when(col("z_num") > 0.0, lit(Double.PositiveInfinity))
          .when(col("z_num") < 0.0, lit(Double.NegativeInfinity))
          .otherwise(lit(Double.NaN))))
      .drop("z_num")
  }

  /** Two-sided p = min(1, erfc(z/√2)) — single-sourced snippet. Null z
    * (NaN-poisoned feature) keeps a null p: Spark's `least` skips nulls
    * and would otherwise return the 1.0 clip arm. NaN z (n<2 feature,
    * sigma=NaN) keeps a NaN p for the same reason — Spark's `least`
    * treats NaN as greatest and would return the 1.0 clip arm, where the
    * reference's 2·norm.sf(NaN) = NaN (pvals.py:119). */
  def withP(zStats: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensure(zStats.sparkSession)
    // ±inf z (all-tied feature, sigma=0) gets the limit values explicitly:
    // erfc(+inf)=0 → p=0, erfc(-inf)=2 → clip 1. CodyErfc's saturating
    // BIGINT floor already computes these, but the DuckDB snippet's double
    // floor keeps inf and turns the scale factor into 0·NaN — so both
    // sides spell the limits out (Parity.pFromZ mirrors these arms).
    zStats.withColumn("p",
      when(col("z").isNull, lit(null).cast("double"))
        .when(isnan(col("z")), lit(Double.NaN))
        .when(col("z") === Double.PositiveInfinity, lit(0.0))
        .when(col("z") === Double.NegativeInfinity, lit(1.0))
        .otherwise(expr(Parity.pFromZ(Parity.SparkD, "z"))))
  }

  /** A5 — Benjamini–Hochberg step-up per group over all features
    * (pvals.py:128-141, via statsmodels fdr_bh). Pure windows:
    *   i = ascending p rank, m = #features, raw = p·m/i,
    *   p_adj = min(1, suffix-min of raw) — order-insensitive among tied
    *   p's (suffix-min absorbs intra-tie ordering; SURVEY.md §7.5). */
  def withBH(pStats: DataFrame, pCol: String = "p", outCol: String = "p_adj"): DataFrame = {
    // null/NaN p rows (NaN-poisoned features, SURVEY §1.2) are excluded
    // from the BH windows entirely: partitioning on the validity flag keeps
    // them out of bh_i/bh_m AND out of every valid row's suffix-min frame
    // (Spark sorts null first / NaN last, DuckDB null last — excluding them
    // makes both engines and the reference agree without relying on either
    // engine's null ordering).
    val wOrd = Window.partitionBy("grp", "bh_valid").orderBy(col(pCol), col("feature_id"))
    val wAll = Window.partitionBy("grp", "bh_valid")
    val wSuffix = wOrd.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    pStats
      .withColumn("bh_valid", col(pCol).isNotNull && !isnan(col(pCol)))
      .withColumn("bh_i", row_number().over(wOrd).cast("long"))
      .withColumn("bh_m", count(lit(1)).over(wAll))
      .withColumn(outCol, when(col(pCol).isNull, lit(null).cast("double"))
        .when(isnan(col(pCol)), lit(Double.NaN))
        .otherwise(
          least(lit(1.0), min(col(pCol) * col("bh_m") / col("bh_i")).over(wSuffix))))
      .drop("bh_i", "bh_m", "bh_valid")
  }

  /** Holm step-DOWN correction — the FWER sibling of [[withBH]]'s FDR
    * step-up: p_holm(i) = min(1, max_{j≤i} (m−j+1)·p_(j)) over the valid
    * rows in (p, feature_id) order. Same NaN/null exclusion discipline;
    * prefix-max instead of suffix-min, per-rank factor instead of m/i.
    * Monotone ≥ the BH value by construction (FWER dominates FDR) —
    * PropertySpec pins it. */
  def withHolm(pStats: DataFrame, pCol: String = "p", outCol: String = "p_holm"): DataFrame = {
    val wOrd = Window.partitionBy("grp", "bh_valid").orderBy(col(pCol), col("feature_id"))
    val wAll = Window.partitionBy("grp", "bh_valid")
    val wPrefix = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pStats
      .withColumn("bh_valid", col(pCol).isNotNull && !isnan(col(pCol)))
      .withColumn("bh_i", row_number().over(wOrd).cast("long"))
      .withColumn("bh_m", count(lit(1)).over(wAll))
      .withColumn(outCol, when(col(pCol).isNull, lit(null).cast("double"))
        .when(isnan(col(pCol)), lit(Double.NaN))
        .otherwise(least(lit(1.0),
          max(col(pCol) * (col("bh_m") - col("bh_i") + 1L).cast("double")).over(wPrefix))))
      .drop("bh_i", "bh_m", "bh_valid")
  }

  /** DuckDB mirror of [[withHolm]] (the [[bhSql]] pattern). */
  def holmSql(pSql: String): String =
    s"""select feature_id, grp, p9,
       | case when p9 is null or isnan(p9) then p9 else
       |  least(1.0, max(p9 * cast(bh_m - bh_i + 1 as double)) over (
       |   partition by grp, bh_valid order by p9 nulls last, feature_id
       |   rows between unbounded preceding and current row)) end as p_holm
       |from (
       | select feature_id, grp, p9,
       |  (p9 is not null and not isnan(p9)) as bh_valid,
       |  cast(row_number() over (partition by grp, (p9 is not null and not isnan(p9))
       |    order by p9 nulls last, feature_id) as bigint) as bh_i,
       |  cast(count(*) over (partition by grp, (p9 is not null and not isnan(p9))) as bigint) as bh_m
       | from ($pSql)
       |)""".stripMargin.replace("\n", " ")

  /** Oracle-SQL: U/z/p over a rankSums⋈tieTerm subquery with columns
    * (feature_id, grp, rank_sum, n1, n, tie_term). p is q9-quantized
    * (exp differs by ulps between libms); everything upstream is exact. */
  def statsSql(joinedSql: String): String = {
    val u1 = "(rank_sum - cast(n1 as double) * (cast(n1 as double) + 1.0) / 2.0)"
    val n2 = "cast(n - n1 as double)"
    val uMax = s"greatest($u1, cast(n1 as double) * $n2 - $u1)"
    // n<2 → NaN sigma, mirroring withZ's explicit guard (the raw formula
    // would hit tie_term/0, which DuckDB evaluates to NULL, not numpy's
    // NaN — ADVICE r2: DuckDB double x/0 and 0/0 return NULL).
    val sigmaRaw = s"sqrt(cast(n1 as double) * $n2 / 12.0 * ((cast(n as double) + 1.0) - " +
      "cast(tie_term as double) / (cast(n as double) * (cast(n as double) - 1.0))))"
    val sigma = s"(case when n > 1 then $sigmaRaw else 'nan'::double end)"
    val num = s"($uMax - cast(n1 as double) * $n2 / 2.0 - 0.5)"
    // the IEEE outcomes withZ spells out, mirrored: sigma NaN/NULL → NaN
    // (checked FIRST — DuckDB orders NaN greater than everything, so
    // `sigma > 0` would wrongly take the division arm); sigma > 0 → the
    // division (NULL numerator of a NaN-poisoned feature flows to NULL);
    // sigma = 0 → sign-of-numerator ±inf/NaN.
    val z = s"""(case when $sigma is null or isnan($sigma) then 'nan'::double
       | when $sigma > 0e0 then $num / $sigma
       | when $num > 0e0 then 'infinity'::double
       | when $num < 0e0 then '-infinity'::double
       | else 'nan'::double end)""".stripMargin.replace("\n", " ")
    s"""select feature_id, grp, n1, n, tie_term,
       | $u1 as u1,
       | $sigma as sigma,
       | $z as z
       |from ($joinedSql)""".stripMargin.replace("\n", " ")
  }

  /** BH oracle-SQL over a frame with (feature_id, grp, p9) where p9 is the
    * already-quantized p — BH arithmetic on identical inputs is exact. */
  def bhSql(pSql: String): String =
    s"""select feature_id, grp, p9,
       | case when p9 is null or isnan(p9) then p9 else
       |  least(1.0, min(p9 * cast(bh_m as double) / cast(bh_i as double)) over (
       |   partition by grp, bh_valid order by p9 nulls last, feature_id
       |   rows between current row and unbounded following)) end as p_adj
       |from (
       | select feature_id, grp, p9,
       |  (p9 is not null and not isnan(p9)) as bh_valid,
       |  cast(row_number() over (partition by grp, (p9 is not null and not isnan(p9))
       |    order by p9 nulls last, feature_id) as bigint) as bh_i,
       |  cast(count(*) over (partition by grp, (p9 is not null and not isnan(p9))) as bigint) as bh_m
       | from ($pSql)
       |)""".stripMargin.replace("\n", " ")
}
