package graft.operators

import graft.oracle.Parity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HyperLogLog distinct-count sketch (Flajolet et al. 2007, public) —
  * the industry-standard cardinality estimator, completing the sketch
  * family next to KMV ([[TextOps.kmvDistinct]]), Count-Min
  * ([[TextOps.cmsHeavy]]), the histogram quantiles and the bloom screen:
  * each value hashes to one of m = 2^b registers which keeps the maximum
  * "rho" (position of the lowest set bit of a second independent hash);
  * the estimate is the bias-corrected harmonic mean. THE scale property:
  * the sketch state is m small integers no matter the corpus size, the
  * register build is one map-side-combined `max` aggregate, and sketches
  * merge by register-wise max (how a 1000-executor job combines them).
  *
  * Cross-engine determinism, with NO quantization anywhere: both hashes
  * are Carter-Wegman mixes of the codepoint rolling hash (bit-identical
  * by construction); rho is a pure integer case chain; each register
  * contributes 2^-rho — a dyadic rational with denominator ≤ 2^25 — so
  * the harmonic sum of m = 1024 terms needs ≤ 35 mantissa bits and is
  * EXACT in double regardless of aggregation order; the final
  * alpha·m²/S is IEEE arithmetic on bit-identical operands. The oracle
  * hash-checks the estimate itself, not a rounded version.
  */
object Hll {

  val b = 10
  val m: Int = 1 << b // 1024 registers

  /** alpha_m for m >= 128 (Flajolet et al. §4), emitted as an identical
    * literal into both engines' SQL. */
  private val alpha: Double = 0.7213 / (1.0 + 1.079 / m)

  /** rho = 1 + (number of trailing zero bits) of a 25-bit value with the
    * top bit always set — a pure integer case chain, identical text in
    * both engines. */
  private def rhoCase(x: String): String = {
    val arms = (1 to 25).map { j =>
      s"when ($x) % ${1L << j} = ${1L << (j - 1)} then $j"
    }.mkString(" ")
    s"(case $arms end)"
  }

  /** 2^-rho as exact double — the one dialect split (shift spelling). */
  private def pow2neg(d: Parity.Dialect, r: String): String = d match {
    case Parity.SparkD => s"(1e0 / cast(shiftleft(1, $r) as double))"
    case Parity.DuckD  => s"(1e0 / cast((1 << ($r)) as double))"
  }

  /** Shared scalar text: register index and the 25-bit rho input from
    * the token's rolling hash. */
  private def regExpr(rh: String) = s"(${Parity.cwMix(60, rh)} % $m)"
  private def xExpr(rh: String) =
    s"(${Parity.cwMix(61, rh)} % 16777216 + 16777216)"

  /** The classic two-regime estimate (Flajolet §4): linear counting
    * m·ln(m/V) below 2.5m with zero registers remaining (the raw
    * harmonic estimate floors at ~0.72m for tiny n), the raw estimate
    * above. The ln branch is the one transcendental — q9-gridded; the
    * raw branch is exact dyadic arithmetic and needs nothing. Identical
    * text in both engines (`raw`/`v_zero` are columns in each). */
  private val estCase: String = {
    val lin = Parity.q9(s"(${m}e0 * ln(${m}e0 / cast(v_zero as double)))")
    s"(case when raw <= ${Parity.lit(2.5 * m)} and v_zero > 0 then $lin else raw end)"
  }

  /** Per-language HLL over the word-3-gram universe (the
    * [[TextOps.kmvDistinct]] relation, so the two sketches are directly
    * comparable in the results): emits the exact distinct count, the
    * number of untouched registers, and the two-regime HLL estimate. */
  def hllDistinct(docs: DataFrame): DataFrame = {
    val dt = docs.select(col("lang"), expr("split(trim(text), ' ')").as("words"))
      .select(col("lang"), explode(expr(
        "array_distinct(transform(sequence(1, greatest(size(words) - 2, 1)), " +
          "i -> concat_ws(' ', slice(words, i, 3))))")).as("t"))
      .distinct()
    val exact = dt.groupBy("lang").agg(count(lit(1)).as("n_exact"))
    val rh = "rolling_hash(t)"
    val regs = dt
      .select(col("lang"), expr(regExpr(rh)).as("reg"),
        expr(rhoCase(xExpr(rh))).as("rho"))
      .groupBy("lang", "reg")
      .agg(max("rho").as("r"))
    val sk = regs.groupBy("lang")
      .agg(count(lit(1)).as("n_filled"),
        sum(expr(pow2neg(Parity.SparkD, "r"))).as("s_filled"))
      .withColumn("v_zero", lit(m.toLong) - col("n_filled"))
      .withColumn("raw",
        expr(s"${Parity.lit(alpha)} * ${m}e0 * ${m}e0")
          / (col("s_filled") + col("v_zero").cast("double")))
      .withColumn("hll_est", expr(estCase))
      .select(col("lang"), col("v_zero"), col("hll_est"))
    exact.join(sk, "lang").select("lang", "n_exact", "v_zero", "hll_est")
  }

  /** Shared scalar text for the streaming sketch's per-event projection
    * (register index / rho from a rolling-hash expression). */
  private[graft] def regSql(rh: String): String = regExpr(rh)
  private[graft] def rhoSql(rh: String): String = rhoCase(xExpr(rh))

  /** Scala mirror of the SQL estimate — the flatMapGroupsWithState
    * sketch computes its emission with the SAME literals, numerator
    * parenthesization, dyadic-exact harmonic fold, and q9 grid on the
    * ln branch, so the streaming snapshot hash-matches the relational
    * spelling. Returns (v_zero, hll_est). */
  private[graft] def estimate(regs: Array[Byte]): (Long, Double) = {
    var filled = 0L
    var s = 0.0
    var i = 0
    while (i < m) {
      val r = regs(i)
      if (r > 0) { filled += 1; s += 1.0 / (1L << r).toDouble }
      i += 1
    }
    val vZero = m.toLong - filled
    val raw = (alpha * m.toDouble * m.toDouble) / (s + vZero.toDouble)
    val est =
      if (raw <= 2.5 * m && vZero > 0) {
        // StrictMath.log, NOT math.log: Spark SQL's `ln` evaluates via
        // StrictMath, so the streaming snapshot's linear-counting branch
        // must walk the same libm to stay bit-equal to the relational
        // spelling (the Spark-vs-DuckDB ulp risk stays the only one).
        val x = m.toDouble * StrictMath.log(m.toDouble / vZero.toDouble)
        math.floor(x * 1e9 + 0.5) / 1e9 + 0.0
      } else raw
    (vZero, est)
  }

  /** DuckDB mirror of the events-stream sketch: per event_type, the
    * observation count and the two-regime HLL estimate of distinct
    * users. Registers max over ALL rows — HLL insertion is idempotent,
    * so this equals the distinct-universe build, which is why the
    * streaming state (which sees every event) lands on the same
    * registers. */
  def eventsHllSql(table: String = "events"): String = {
    val rh = Parity.rollingHashDuck("cast(user_id as varchar)")
    s"""with regs as (select event_type, ${regExpr(rh)} as reg,
       |   max(${rhoCase(xExpr(rh))}) as r
       | from $table group by event_type, ${regExpr(rh)}),
       |ob as (select event_type, cast(count(*) as bigint) as n_obs from $table group by event_type),
       |sk as (select event_type, cast(count(*) as bigint) as n_filled,
       |   sum(${pow2neg(Parity.DuckD, "r")}) as s_filled
       | from regs group by event_type),
       |est as (select event_type, cast($m - n_filled as bigint) as v_zero,
       |  (${Parity.lit(alpha)} * ${m}e0 * ${m}e0)
       |    / (s_filled + cast($m - n_filled as double)) as raw
       | from sk)
       |select ob.event_type as event_type, n_obs, v_zero, $estCase as hll_est
       |from ob join est on ob.event_type = est.event_type""".stripMargin.replace("\n", " ")
  }

  /** Sketch MERGE across partitions — the property that makes HLL the
    * distributed cardinality sketch: per-SOURCE register tables combine
    * by register-wise `max` into the global sketch, exactly how a
    * 1000-executor job (or a day-partitioned warehouse rollup) unions
    * sketches without re-reading data. The oracle builds the global
    * sketch DIRECTLY from the token universe, so hash equality is the
    * merge-identity proof: max-of-maxes == max, estimate included. */
  def hllMerged(docs: DataFrame): DataFrame = {
    val dt = docs.select(col("source"), expr("split(trim(text), ' ')").as("words"))
      .select(col("source"), explode(expr(
        "array_distinct(transform(sequence(1, greatest(size(words) - 2, 1)), " +
          "i -> concat_ws(' ', slice(words, i, 3))))")).as("t"))
      .distinct()
    val rh = "rolling_hash(t)"
    val perSource = dt
      .select(col("source"), expr(regExpr(rh)).as("reg"),
        expr(rhoCase(xExpr(rh))).as("rho"))
      .groupBy("source", "reg")
      .agg(max("rho").as("r"))
    val merged = perSource.groupBy("reg").agg(max("r").as("r"))
    val exact = dt.select("t").distinct().agg(count(lit(1)).as("n_exact"))
    val sk = merged
      .agg(count(lit(1)).as("n_filled"),
        sum(expr(pow2neg(Parity.SparkD, "r"))).as("s_filled"))
      .withColumn("v_zero", lit(m.toLong) - col("n_filled"))
      .withColumn("raw",
        expr(s"${Parity.lit(alpha)} * ${m}e0 * ${m}e0")
          / (col("s_filled") + col("v_zero").cast("double")))
      .withColumn("hll_est", expr(estCase))
      .select(col("v_zero"), col("hll_est"))
    exact.crossJoin(sk).select("n_exact", "v_zero", "hll_est")
  }

  /** DuckDB mirror of [[hllMerged]] — builds the GLOBAL sketch directly
    * (no per-source step): equality proves the merge identity. */
  def hllMergedSql(table: String = "documents"): String = {
    val rh = Parity.rollingHashDuck("t")
    s"""with doc as (select string_split(trim(text), ' ') as words from $table),
       |dt as (select distinct t from
       |  (select unnest(list_distinct(list_transform(
       |    generate_series(1, greatest(len(words) - 2, 1)),
       |    i -> array_to_string(list_slice(words, i, i + 2), ' ')))) as t from doc)),
       |ex as (select cast(count(*) as bigint) as n_exact from dt),
       |regs as (select ${regExpr(rh)} as reg,
       |   max(${rhoCase(xExpr(rh))}) as r
       | from dt group by ${regExpr(rh)}),
       |sk as (select cast(count(*) as bigint) as n_filled,
       |   sum(${pow2neg(Parity.DuckD, "r")}) as s_filled
       | from regs),
       |est as (select cast($m - n_filled as bigint) as v_zero,
       |  (${Parity.lit(alpha)} * ${m}e0 * ${m}e0)
       |    / (s_filled + cast($m - n_filled as double)) as raw
       | from sk)
       |select n_exact, v_zero, $estCase as hll_est
       |from ex, est""".stripMargin.replace("\n", " ")
  }

  /** DuckDB mirror of [[hllDistinct]]. */
  def hllDistinctSql(table: String = "documents"): String = {
    val rh = Parity.rollingHashDuck("t")
    s"""with doc as (select lang, string_split(trim(text), ' ') as words from $table),
       |dt as (select distinct lang, t from
       |  (select lang, unnest(list_distinct(list_transform(
       |    generate_series(1, greatest(len(words) - 2, 1)),
       |    i -> array_to_string(list_slice(words, i, i + 2), ' ')))) as t from doc)),
       |ex as (select lang, cast(count(*) as bigint) as n_exact from dt group by lang),
       |regs as (select lang, ${regExpr(rh)} as reg,
       |   max(${rhoCase(xExpr(rh))}) as r
       | from dt group by lang, ${regExpr(rh)}),
       |sk as (select lang, cast(count(*) as bigint) as n_filled,
       |   sum(${pow2neg(Parity.DuckD, "r")}) as s_filled
       | from regs group by lang),
       |est as (select lang, cast($m - n_filled as bigint) as v_zero,
       |  (${Parity.lit(alpha)} * ${m}e0 * ${m}e0)
       |    / (s_filled + cast($m - n_filled as double)) as raw
       | from sk)
       |select ex.lang, n_exact, v_zero, $estCase as hll_est
       |from ex join est on ex.lang = est.lang""".stripMargin.replace("\n", " ")
  }
}
