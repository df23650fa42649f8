package graft.operators

import graft.oracle.Parity
import graft.oracle.Parity.{Dialect, DuckD, SparkD, fpSum, q9}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Classical statistics beyond the MWU pipeline — Pearson correlation,
  * per-group OLS regression, Welch's t (group-vs-rest), and a chi-square
  * independence test — each built Spark-first from ORDER-FREE moment
  * sums so the whole suite is cross-engine hash-checkable.
  *
  * Why not `corr()` / `covar_samp()`: both engines implement them with
  * order-dependent streaming updates (Welford / pairwise merges), so
  * their low bits depend on partitioning. Here every moment (Σx, Σx²,
  * Σxy, …) goes through [[Parity.fpSum]] — per-row fixed-point rounding
  * to 2^-20, exact BIGINT summation — and the closed-form statistic is
  * then ONE deterministic double expression over identical inputs.
  *
  * Fixed-point overflow contract: fpSum holds while Σ|x|·2^20 < 2^63,
  * i.e. for second moments max(x²)·n < 2^43 ≈ 8.8e12. Callers pre-scale
  * each variable by an exact power of two (`xShift`/`yShift`, a LOSSLESS
  * IEEE operation; correlation is scale-invariant, regression slopes
  * rescale exactly) to keep max|x| ~ 1e2, good to n ~ 1e8 rows per
  * aggregate. At 1e12-row scale, raise the shifts (or lower the
  * fixed-point factor) accordingly — the contract is explicit, not
  * silently violated: a caller with untrusted inputs runs Validation.
  * requireFinite first, and DuckDB's HUGEINT sum flags a Spark wrap.
  *
  * Scale shape: every statistic is one map-side-combined hash aggregate
  * over the fact table (+ a broadcast of the 1-row totals for the
  * group-vs-rest subtraction) — no windows, no second fact pass, no
  * driver math.
  */
object Stats {

  /** Spark/DuckDB spelling of erfc. */
  private def erfcOf(d: Dialect, x: String): String = d match {
    case SparkD => s"cody_erfc($x)"
    case DuckD  => Parity.erfc(x)
  }

  // ------------------------------------------------------------------
  // Pearson correlation + OLS, per group
  // ------------------------------------------------------------------

  /** Shared closed forms over the moment columns n, sx, sy, sxx, syy,
    * sxy (dn = n as double). */
  private val dn = "cast(n as double)"
  private val covN = s"($dn * sxy - sx * sy)" // n²·cov
  private val varxN = s"($dn * sxx - sx * sx)" // n²·var(x)
  private val varyN = s"($dn * syy - sy * sy)"
  // degenerate groups (constant column, n<2) would hit x/0 — IEEE ±inf/
  // NaN on Spark but NULL on DuckDB — so the guard is spelled in the
  // shared text and the answer is NULL in both engines (CASE is lazy in
  // both, the division never runs)
  private val degenerate = s"(n < 2 or $varxN <= 0e0 or $varyN <= 0e0)"
  private val corrExpr =
    s"(case when $degenerate then null else $covN / sqrt($varxN * $varyN) end)"
  private val slopeExpr = s"($covN / $varxN)"
  private val slopeSafe =
    s"(case when $degenerate then null else $slopeExpr end)"
  private val iceptSafe =
    s"(case when $degenerate then null else (sy - $slopeExpr * sx) / $dn end)"
  private val r2Safe =
    s"(case when $degenerate then null else ($covN * $covN) / ($varxN * $varyN) end)"

  /** Per-group moment sums of two pre-scaled variables. `x`/`y` are
    * column EXPRESSIONS (shared snippet text — e.g.
    * `"(l_extendedprice / 1024e0)"`). */
  private def moments(df: DataFrame, grp: String, x: String, y: String): DataFrame =
    df.groupBy(col(grp)).agg(
      count(lit(1)).as("n"),
      expr(fpSum(x)).as("sx"), expr(fpSum(y)).as("sy"),
      expr(fpSum(s"($x) * ($x)")).as("sxx"),
      expr(fpSum(s"($y) * ($y)")).as("syy"),
      expr(fpSum(s"($x) * ($y)")).as("sxy"))

  private def momentsSql(table: String, grp: String, x: String, y: String): String =
    s"""select $grp, cast(count(*) as bigint) as n,
       | ${fpSum(x)} as sx, ${fpSum(y)} as sy,
       | ${fpSum(s"($x) * ($x)")} as sxx,
       | ${fpSum(s"($y) * ($y)")} as syy,
       | ${fpSum(s"($x) * ($y)")} as sxy
       |from $table group by $grp""".stripMargin.replace("\n", " ")

  /** Per-group Pearson r of y on x. */
  def corr(df: DataFrame, grp: String, x: String, y: String): DataFrame =
    moments(df, grp, x, y)
      .select(col(grp), col("n"), expr(q9(corrExpr)).as("corr9"))

  def corrSql(table: String, grp: String, x: String, y: String): String =
    s"select $grp, n, ${q9(corrExpr)} as corr9 from (${momentsSql(table, grp, x, y)})"

  /** Per-group simple OLS y = slope·x + icept, with r². */
  def ols(df: DataFrame, grp: String, x: String, y: String): DataFrame =
    moments(df, grp, x, y).select(col(grp), col("n"),
      expr(q9(slopeSafe)).as("slope9"),
      expr(q9(iceptSafe)).as("icept9"),
      expr(q9(r2Safe)).as("r2_9"))

  def olsSql(table: String, grp: String, x: String, y: String): String =
    s"select $grp, n, ${q9(slopeSafe)} as slope9, ${q9(iceptSafe)} as icept9, " +
      s"${q9(r2Safe)} as r2_9 from (${momentsSql(table, grp, x, y)})"

  // ------------------------------------------------------------------
  // Welch's t, group vs rest
  // ------------------------------------------------------------------

  // rest moments by exact subtraction (fixed-point sums are dyadic
  // rationals: nt−n, st−s, sst−ss are EXACT — and so are the ≤|groups|
  // -row sums that build the totals), then Welch on the shared closed
  // form. p is the large-sample two-sided normal approximation —
  // erfc(|t|/√2) — not Student's t (no incomplete beta in either SQL
  // dialect); with the smallest group in the thousands the difference
  // is below the 1e-9 output grid. Documented, not hidden.
  private def welchCols(d: Dialect): Seq[String] = {
    val m1 = "(s1 / cast(n as double))"
    val m2 = "((st - s1) / cast(nt - n as double))"
    val v1 = "((ss1 - s1 * s1 / cast(n as double)) / cast(n - 1 as double))"
    val v2 = "(((sst - ss1) - (st - s1) * (st - s1) / cast(nt - n as double)) " +
      "/ cast(nt - n - 1 as double))"
    val a = s"($v1 / cast(n as double))"
    val b = s"($v2 / cast(nt - n as double))"
    val se2 = s"($a + $b)"
    // degenerate shapes (a group of <2, a rest of <2, both sides
    // constant) would divide by zero — NULL in the shared text, both
    // engines (lazy CASE; and the DuckDB least-ignores-NULL trap never
    // fires because p's guard short-circuits first)
    val guard = s"(n < 2 or nt - n < 2 or $se2 <= 0e0)"
    val t = s"(case when $guard then null else ($m1 - $m2) / sqrt($se2) end)"
    val dof = s"(case when $guard then null else ($se2 * $se2) " +
      s"/ (($a * $a) / cast(n - 1 as double) " +
      s"+ ($b * $b) / cast(nt - n - 1 as double)) end)"
    val p = s"(case when $guard then null " +
      s"else least(1e0, ${erfcOf(d, s"(abs(($m1 - $m2) / sqrt($se2)) / sqrt(2e0))")}) end)"
    Seq("grp", "n", "cast(nt - n as bigint) as n_rest",
      s"${q9(t)} as t9", s"${q9(dof)} as dof9", s"${q9(p)} as p9")
  }

  /** Welch's t of each group against the rest of the corpus (the MWU
    * pipeline's group-vs-rest contract, parametric edition). `x` is a
    * pre-scaled column expression (see the overflow contract above). */
  def welchT(df: DataFrame, grp: String, x: String): DataFrame = {
    val g = df.groupBy(col(grp).as("grp")).agg(
      count(lit(1)).as("n"),
      expr(fpSum(x)).as("s1"),
      expr(fpSum(s"($x) * ($x)")).as("ss1"))
    val tot = g.agg(sum("n").cast("long").as("nt"),
      sum("s1").cast("double").as("st"), sum("ss1").cast("double").as("sst"))
    g.crossJoin(broadcast(tot)).selectExpr(welchCols(SparkD): _*)
  }

  def welchTSql(table: String, grp: String, x: String): String =
    s"""with g as (select $grp as grp, cast(count(*) as bigint) as n,
       |  ${fpSum(x)} as s1, ${fpSum(s"($x) * ($x)")} as ss1
       | from $table group by $grp),
       |n2 as (select cast(sum(n) as bigint) as nt,
       |  cast(sum(s1) as double) as st, cast(sum(ss1) as double) as sst
       | from g)
       |select ${welchCols(DuckD).mkString(", ")} from g, n2"""
      .stripMargin.replace("\n", " ")

  // ------------------------------------------------------------------
  // Chi-square independence test (contingency table + Wilson–Hilferty)
  // ------------------------------------------------------------------

  // χ² = Σ_cells (o−e)²/e with e = rowSum·colSum/n. The cell terms are
  // doubles, so the CROSS-CELL sum goes through fpSum too (a ~dozens-row
  // aggregate, but order still matters for bit-equality). The upper-tail
  // p uses the Wilson–Hilferty cube-root normal approximation — the
  // cube root spelled exp(ln(r)/3) so both engines evaluate the same
  // transcendental path (their exp/ln agree bit-for-bit on these ranges,
  // as the Cody-erfc and logprob gates already establish).
  private def chisqCols(d: Dialect): Seq[String] = {
    val r = "(chi2 / cast(k as double))"
    val cbrtR = s"(case when chi2 = 0e0 then 0e0 else exp(ln($r) / 3e0) end)"
    val z = s"(($cbrtR - (1e0 - 2e0 / (9e0 * cast(k as double)))) " +
      s"/ sqrt(2e0 / (9e0 * cast(k as double))))"
    // k = 0 (a single-category margin) has no test — NULL in both engines
    val zSafe = s"(case when k = 0 then null else $z end)"
    val pSafe = s"(case when k = 0 then null " +
      s"else least(1e0, (5e-1 * ${erfcOf(d, s"($z / sqrt(2e0))")})) end)"
    Seq("n_total", "k", s"${q9("chi2")} as chi2_9", s"${q9(zSafe)} as z9",
      s"${q9(pSafe)} as p9")
  }

  /** Chi-square test of independence between two categorical columns.
    * One fact aggregate (the contingency cells), two tiny margin aggs
    * broadcast back onto the ≤|A|·|B|-row cell relation, one fpSum. */
  def chisq(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("o"))
    val rows = cells.groupBy("a").agg(sum("o").cast("long").as("na"))
    val cols_ = cells.groupBy("b").agg(sum("o").cast("long").as("nb"))
    val tot = cells.agg(sum("o").cast("long").as("n_total"),
      (countDistinct("a") - 1).cast("long").as("ka"),
      (countDistinct("b") - 1).cast("long").as("kb"))
    val terms = cells.join(broadcast(rows), "a").join(broadcast(cols_), "b")
      .crossJoin(broadcast(tot))
      .selectExpr("n_total", "(ka * kb) as k",
        "(cast(o as double) - cast(na as double) * cast(nb as double) " +
          "/ cast(n_total as double)) as d",
        "(cast(na as double) * cast(nb as double) / cast(n_total as double)) as e")
    terms.groupBy("n_total", "k")
      .agg(expr(fpSum("(d * d) / e")).as("chi2"))
      .selectExpr(chisqCols(SparkD): _*)
  }

  def chisqSql(joined: String, aCol: String, bCol: String): String =
    s"""with cells as (select $aCol as a, $bCol as b,
       |  cast(count(*) as bigint) as o from ($joined) group by 1, 2),
       |rows_ as (select a, cast(sum(o) as bigint) as na from cells group by a),
       |cols_ as (select b, cast(sum(o) as bigint) as nb from cells group by b),
       |tot as (select cast(sum(o) as bigint) as n_total,
       |  cast(count(distinct a) - 1 as bigint) as ka,
       |  cast(count(distinct b) - 1 as bigint) as kb from cells),
       |terms as (select n_total, (ka * kb) as k,
       |  (cast(o as double) - cast(na as double) * cast(nb as double)
       |   / cast(n_total as double)) as d,
       |  (cast(na as double) * cast(nb as double) / cast(n_total as double)) as e
       | from cells join rows_ on cells.a = rows_.a
       |  join cols_ on cells.b = cols_.b, tot),
       |s as (select n_total, k, ${fpSum("(d * d) / e")} as chi2
       | from terms group by n_total, k)
       |select ${chisqCols(DuckD).mkString(", ")} from s"""
      .stripMargin.replace("\n", " ")

  // ------------------------------------------------------------------
  // Poisson bootstrap
  // ------------------------------------------------------------------

  /** Poisson(1) CDF thresholds on the integer hash grid [0, CwMod):
    * replicate weight k is the count of thresholds at or below the
    * row's hash — the inverse-CDF draw done entirely in exact int64
    * comparisons (computed once here, embedded as literals in BOTH
    * engine texts, so there is no cross-engine double-parsing surface
    * at all). */
  private val poissonT: IndexedSeq[Long] = {
    val e1 = math.exp(-1.0)
    val fact = Array(1.0, 1.0, 2.0, 6.0, 24.0, 120.0, 720.0)
    (0 to 6).map { k =>
      ((0 to k).map(i => e1 / fact(i)).sum * Parity.CwMod.toDouble).toLong
    }
  }

  /** Weight CASE ladder over an integer-hash expression (shared text). */
  private def poissonW(u: String): String =
    (0 to 6).map(k => s"when $u < ${poissonT(k)} then $k")
      .mkString("(case ", " ", " else 7 end)")

  /** Replicate-b hash of the per-row key hash (shared text): remix the
    * key with the replicate index, then one Carter-Wegman step. */
  private def bootU: String =
    Parity.cwMix(7, "((h * 31 + b) % 1000000007)")

  private val bootMean =
    "(case when n_eff = 0 then null " +
      "else (s / 1048576e0) / cast(n_eff as double) end)"

  /** Poisson bootstrap — the distributed confidence-interval machinery:
    * every row gets a DETERMINISTIC Poisson(1) weight per replicate
    * (inverse-CDF over a hash of (row key, replicate)), and each
    * replicate's weighted mean is one fixed-point aggregate. The
    * spread of the `reps` means IS the sampling distribution of the
    * group mean — no data movement beyond ONE map-side-combined
    * aggregate over a reps-times exploded stream that collapses to
    * groups×reps cells per partition before shuffling (the classic
    * one-pass bootstrap; resampling n rows with replacement per
    * replicate would need a global sample — Poisson weights need only
    * the row itself). `x` follows the fixed-point pre-scale contract
    * (object scaladoc); `key` is a dialect-specific row-identity
    * expression. */
  def bootstrap(df: DataFrame, grp: String, x: String, keySpark: String,
                reps: Int = 32): DataFrame = {
    df.selectExpr(s"$grp as grp",
        s"cast(floor(($x) * 1048576e0 + 5e-1) as bigint) as v_fp",
        s"${Parity.rollingHash(SparkD, keySpark)} as h")
      .select(col("grp"), col("v_fp"), col("h"),
        explode(expr(s"sequence(0, ${reps - 1})")).as("b"))
      .withColumn("w", expr(poissonW(bootU)))
      .groupBy("grp", "b")
      .agg(sum("w").cast("long").as("n_eff"),
        sum(expr("w * v_fp")).cast("long").as("s"))
      .selectExpr("grp", "cast(b as bigint) as b", "n_eff",
        s"$bootMean as mean_boot")
  }

  /** DuckDB mirror of [[bootstrap]]. */
  def bootstrapSql(table: String, grp: String, x: String, keyDuck: String,
                   reps: Int = 32): String =
    s"""with base as (select $grp as grp,
       |  cast(floor(($x) * 1048576e0 + 5e-1) as bigint) as v_fp,
       |  ${Parity.rollingHashDuck(keyDuck)} as h from $table),
       |e as (select grp, v_fp, h,
       |  unnest(generate_series(0, ${reps - 1})) as b from base),
       |wtd as (select grp, b, v_fp, ${poissonW(bootU)} as w from e),
       |agg as (select grp, b, cast(sum(w) as bigint) as n_eff,
       |  cast(sum(w * v_fp) as bigint) as s from wtd group by grp, b)
       |select grp, cast(b as bigint) as b, n_eff, $bootMean as mean_boot
       |from agg""".stripMargin.replace("\n", " ")

  // ------------------------------------------------------------------
  // Gini concentration of per-user value mass
  // ------------------------------------------------------------------

  /** Gini coefficient of per-user total value — the concentration/
    * inequality audit (a data-mix readout: is the event mass dominated
    * by a few users/domains?). Rank-based identity with tie-averaged
    * ranks: G = (2·Σᵤ rank(u)·mᵤ − (n+1)·Σm) / (n·Σm). Per-user totals
    * ride [[fpSum]] (exact multiples of 2^-20 → converted to exact
    * BIGINT units), ranks come from cumulative counts over the distinct-
    * value GRID (the lr_auc aggregated-rank path — no per-user global
    * sort). The doubled rank-sum r2m ≤ 2·(n+1)·mass multiplies the
    * 2^20-scaled mass by ~2n, so it outgrows BIGINT near n·Σvalue ≈
    * 2^42: it accumulates in 128-bit integers instead — DECIMAL(38,0)
    * here, HUGEINT in the DuckDB mirror — and only the final
    * exact-integer numerator/denominator cast to double (same
    * round-to-nearest in both engines), keeping bit-equality at any
    * realistic scale. Degenerate all-zero mass reads NULL in both. */
  def gini(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val users = events.groupBy("user_id")
      .agg(expr(fpSum("value")).as("m"))
      .select(expr("cast(floor(m * 1048576e0 + 5e-1) as bigint)").as("mu"))
    val grid = users.groupBy("mu").agg(count(lit(1)).as("nv"))
    val w = Window.orderBy("mu").rowsBetween(Window.unboundedPreceding, -1)
    grid
      .withColumn("cb", coalesce(sum("nv").over(w), lit(0L)))
      // doubled tie-averaged rank sum contribution of this value class;
      // 128-bit accumulation (see scaladoc) — BIGINT wraps near n·Σv ≈ 2^42
      .withColumn("r2m",
        expr("cast(mu as decimal(38,0)) * nv * (2 * cb + nv + 1)"))
      .agg(sum("nv").as("n"), sum(expr("mu * nv")).as("mass"),
        sum("r2m").as("r2m"))
      // overflow guard: every r2m term is non-null (mu, nv, cb all
      // non-null), so a NULL sum with rows present can ONLY be
      // decimal(38,0) overflow — where DuckDB's HUGEINT (max ~1.7e38
      // > 1e38) may still hold the value. Surface that divergence as
      // an error inside the consumed expression (an unused guard
      // column would be pruned by Catalyst), not a silent NULL.
      .selectExpr("n", "cast(mass as double) / 1048576e0 as total",
        """(case when mass = 0 or n is null then null
          | when r2m is null then cast(raise_error(
          |   'gini: r2m overflowed decimal(38,0) cross-engine bound') as double)
          | else
          | cast(r2m - cast(n + 1 as decimal(38,0)) * mass as double) /
          | cast(cast(n as decimal(38,0)) * mass as double) end) as gini"""
          .stripMargin.replace("\n", " "))
  }

  /** DuckDB mirror of [[gini]]. */
  def giniSql(table: String = "events"): String =
    s"""with users as (select cast(floor(m * 1048576e0 + 5e-1) as bigint) as mu
       | from (select user_id, ${fpSum("value")} as m from $table group by 1)),
       |grid as (select mu, cast(count(*) as bigint) as nv from users group by 1),
       |cumg as (select mu, nv,
       |  cast(coalesce(sum(nv) over (order by mu
       |    rows between unbounded preceding and 1 preceding), 0) as bigint) as cb
       | from grid),
       |tot as (select cast(sum(nv) as bigint) as n,
       |  cast(sum(mu * nv) as bigint) as mass,
       |  sum(cast(mu as hugeint) * nv * (2 * cb + nv + 1)) as r2m from cumg)
       |select n, cast(mass as double) / 1048576e0 as total,
       | (case when mass = 0 then null else
       |   cast(r2m - cast(n + 1 as hugeint) * mass as double) /
       |   cast(cast(n as hugeint) * mass as double) end) as gini
       |from tot""".stripMargin.replace("\n", " ")

  // ------------------------------------------------------------------
  // Mutual information of two categorical columns
  // ------------------------------------------------------------------

  /** Mutual information I(A;B) = Σ p(a,b)·ln(p(a,b)/(p(a)p(b))) between
    * event type and the value tier — the feature-selection/dependence
    * statistic (the aggregate twin of the per-pair PMI op). Each cell's
    * ln rides the 1e-9 unit grid (the [[TextOps]] PMI discipline), the
    * sum Σ c_ab·ln_units is exact BIGINT arithmetic, and the final
    * normalization is two divisions on identical operands — so the
    * nats value is bit-deterministic with no final rounding. Scale:
    * joint and marginal tables are cell/level-sized map-side-combined
    * aggregates; marginals broadcast. */
  def mutualInfo(events: DataFrame): DataFrame = {
    val e = events.select(col("event_type").as("a"),
      expr("cast(floor(value / 25e0) as bigint)").as("b"))
    val joint = e.groupBy("a", "b").agg(count(lit(1)).as("cxy"))
    val ma = e.groupBy("a").agg(count(lit(1)).as("cx"))
    val mb = e.groupBy("b").agg(count(lit(1)).as("cy"))
    val nt = e.agg(count(lit(1)).as("nt"))
    joint.join(broadcast(ma), "a").join(broadcast(mb), "b")
      .crossJoin(broadcast(nt))
      .withColumn("lu", expr(
        "cast(floor(ln((cast(cxy as double) * cast(nt as double)) / " +
          "(cast(cx as double) * cast(cy as double))) * 1.0e9 + 5e-1) as bigint)"))
      .agg(max("nt").as("n"), count(lit(1)).as("n_cells"),
        sum(expr("cxy * lu")).as("s"))
      .selectExpr("n", "n_cells",
        "(cast(s as double) / cast(n as double)) / 1.0e9 as mi_nats")
  }

  /** DuckDB mirror of [[mutualInfo]]. */
  def mutualInfoSql(table: String = "events"): String =
    s"""with e as (select event_type as a,
       |  cast(floor(value / 25e0) as bigint) as b from $table),
       |joint as (select a, b, cast(count(*) as bigint) as cxy from e group by 1, 2),
       |ma as (select a, cast(count(*) as bigint) as cx from e group by 1),
       |mb as (select b, cast(count(*) as bigint) as cy from e group by 1),
       |nt as (select cast(count(*) as bigint) as nt from e),
       |cells as (select cxy,
       |  cast(floor(ln((cast(cxy as double) * cast(nt as double)) /
       |   (cast(cx as double) * cast(cy as double))) * 1.0e9 + 5e-1) as bigint) as lu,
       |  nt
       | from joint join ma using (a) join mb using (b) cross join nt)
       |select max(nt) as n, cast(count(*) as bigint) as n_cells,
       | (cast(sum(cxy * lu) as double) / cast(max(nt) as double)) / 1.0e9 as mi_nats
       |from cells""".stripMargin.replace("\n", " ")

  // ------------------------------------------------------------------
  // Autocorrelation of an hourly series
  // ------------------------------------------------------------------

  /** Lag-k autocorrelation (k = 1..maxLag) of the hourly value series —
    * the seasonality/persistence diagnostic a time-series pipeline runs
    * before modeling. Spelled as Pearson r over the LAG-JOINED hourly
    * relation, so the whole fixed-point moment discipline (and the
    * degenerate-series guard) is [[corr]]'s, reused verbatim: the fact
    * table collapses to the hour grid map-side, the lag pairing is k
    * self-equi-joins of the grid-sized series (robust to missing hours —
    * a gap simply contributes no pair), and each lag is one moments row.
    */
  def acf(events: DataFrame, maxLag: Int = 3): DataFrame = {
    val hourly = events
      .withColumn("h", expr("ts div 3600000000000"))
      .groupBy("h").agg(expr(fpSum("value")).as("v"))
    val pairs = (1 to maxLag).map { k =>
      hourly.select(col("h"), col("v").as("x"))
        .join(hourly.select((col("h") + k).as("h"), col("v").as("y")), "h")
        .select(lit(k.toLong).as("lagk"), col("x"), col("y"))
    }.reduce(_ unionByName _)
    corr(pairs, "lagk", "x", "y")
  }

  /** DuckDB mirror of [[acf]]. */
  def acfSql(table: String = "events", maxLag: Int = 3): String = {
    val legs = (1 to maxLag).map { k =>
      s"select cast($k as bigint) as lagk, a.v as x, b.v as y " +
        s"from hourly a join hourly b on a.h = b.h + $k"
    }.mkString(" union all ")
    val pairs = s"(with hourly as (select epoch_ns(ts) // 3600000000000 as h, " +
      s"${fpSum("value")} as v from $table group by 1) $legs)"
    corrSql(pairs, "lagk", "x", "y")
  }

  // ------------------------------------------------------------------
  // Two-sample Kolmogorov–Smirnov
  // ------------------------------------------------------------------

  /** Shared p-value text over columns d, n1, n2: the standard asymptotic
    * approximation (Numerical Recipes §14.3, public):
    * λ = (√ne + 0.12 + 0.11/√ne)·D with ne = n1·n2/(n1+n2), then
    * Q(λ) = 2·Σ_{k=1..8} (−1)^{k−1} e^{−2k²λ²} (terms decay doubly
    * exponentially; 8 left-chained terms, clipped to [0,1]). The exps
    * are the transcendental surface → the result rides the q9 grid. */
  private def ksPExpr(dCol: String = "d"): String = {
    val en = "(cast(n1 as double) * cast(n2 as double) / " +
      "(cast(n1 as double) + cast(n2 as double)))"
    val lam = s"((sqrt($en) + 12e-2 + 11e-2 / sqrt($en)) * ($dCol))"
    val terms = (1 to 8).map(k => s"exp(-2e0 * ${k * k}e0 * $lam * $lam)")
    val alt = terms.zipWithIndex
      .map { case (t, i) => if (i == 0) t else if (i % 2 == 1) s"- $t" else s"+ $t" }
      .reduceLeft((a, b) => s"($a $b)")
    // the alternating series needs more terms the smaller λ gets and
    // OSCILLATES at λ=0 (8 truncated terms would read p=0 for identical
    // samples); below λ=0.3 the true Q exceeds 0.9996, so the shared
    // text short-circuits to 1 there — the NR convergence-failure arm
    s"(case when $lam < 3e-1 then 1e0 " +
      s"else least(1e0, greatest(0e0, 2e0 * $alt)) end)"
  }

  /** Two-sample Kolmogorov–Smirnov over BINNED empirical CDFs — D is the
    * max ECDF gap between two event types' value distributions, the
    * distribution-free drift/shift test run next to the MWU location
    * test. Values land on a 1/16 grid FIRST (floor(v·16)/16): at 100 TB
    * a continuous column has data-proportional distinct values and the
    * exact KS would sort them all; the binned ECDF bounds the grid (and
    * the cumulative window) at range×16 rows while changing D by at most
    * one bin's probability mass — the documented scale contract, same
    * grid in both engines so the statistic is still bit-deterministic.
    *
    * Scale shape: one map-side-combined aggregate onto the value grid,
    * one grid-sized cumulative window, a 1-row totals broadcast, and a
    * max-aggregate — the [[graft.operators.Classifier.lrAuc]]
    * aggregated-rank physics. All ECDF arithmetic is exact integer
    * ratios; only the p-value's exps ride the q9 grid. */
  def ks(events: DataFrame, typeA: String = "click",
         typeB: String = "view"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = events
      .filter(col("event_type").isin(typeA, typeB))
      .select(expr("floor(value * 16e0) / 16e0").as("v"),
        when(col("event_type") === typeA, 1L).otherwise(0L).as("is_a"))
    val grid = s.groupBy("v")
      .agg(sum("is_a").as("na_v"), sum(expr("1 - is_a")).as("nb_v"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = grid.agg(sum("na_v").as("n1"), sum("nb_v").as("n2"))
    grid
      .withColumn("ca", sum("na_v").over(w))
      .withColumn("cb", sum("nb_v").over(w))
      .crossJoin(broadcast(tot))
      .withColumn("gap", expr(
        "abs(cast(ca as double) / cast(n1 as double) - " +
          "cast(cb as double) / cast(n2 as double))"))
      .groupBy("n1", "n2")
      .agg(max("gap").as("d"))
      .selectExpr("n1", "n2", "d", s"${q9(ksPExpr())} as ks_p9")
  }

  /** DuckDB mirror of [[ks]]. */
  def ksSql(table: String = "events", typeA: String = "click",
            typeB: String = "view"): String =
    s"""with s as (select floor(value * 16e0) / 16e0 as v,
       |  case when event_type = '$typeA' then 1 else 0 end as is_a
       | from $table where event_type in ('$typeA', '$typeB')),
       |grid as (select v, cast(sum(is_a) as bigint) as na_v,
       |  cast(sum(1 - is_a) as bigint) as nb_v from s group by v),
       |tot as (select cast(sum(na_v) as bigint) as n1,
       |  cast(sum(nb_v) as bigint) as n2 from grid),
       |cum as (select v, sum(na_v) over w as ca, sum(nb_v) over w as cb
       | from grid window w as (order by v
       |   rows between unbounded preceding and current row)),
       |gaps as (select abs(cast(ca as double) / cast(n1 as double)
       |   - cast(cb as double) / cast(n2 as double)) as gap, n1, n2
       | from cum, tot),
       |res as (select n1, n2, max(gap) as d from gaps group by n1, n2)
       |select n1, n2, d, ${q9(ksPExpr())} as ks_p9 from res"""
      .stripMargin.replace("\n", " ")
}
