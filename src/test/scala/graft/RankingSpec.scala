package graft

import graft.operators.{MwuAgg, Ranking}
import org.apache.spark.sql.functions._

/** W1/W3 + A2: average ranks with ties, tie counts, NaN propagation,
  * partition invariance — mirrors reference tests/test_ranking.py
  * (fixtures from scripts/gen_fixtures.py, an independent
  * reimplementation). */
class RankingSpec extends SparkSpec {

  val g6 = Seq("a", "b", "a", "b", "a", "b")

  test("explicit ties get average ranks (reference test_ranking.py:30-40)") {
    val df = Ranking.withRanks(cellsOf("f1", Seq(2, 2, 3, 2, 3, 3).map(_.toDouble), g6))
    val ranks = df.orderBy("value").select("rank").collect().map(_.getDouble(0))
    assert(ranks.toSeq == Seq(2.0, 2.0, 2.0, 5.0, 5.0, 5.0))
    val ties = df.orderBy("value").select("tie_count").collect().map(_.getLong(0))
    assert(ties.toSeq == Seq(3L, 3L, 3L, 3L, 3L, 3L))
  }

  test("all-identical column: every rank is (n+1)/2") {
    val df = Ranking.withRanks(cellsOf("f2", Seq.fill(6)(4.0), g6))
    assert(df.select("rank").collect().map(_.getDouble(0)).forall(_ == 3.5))
  }

  test("NaN propagates to the whole feature; tie counts stay finite (rank_data.py:193-196)") {
    val df = Ranking.withRanks(cellsOf("f", Seq(1.0, Double.NaN, 3.0), Seq("a", "b", "a")))
    assert(df.select("rank").collect().forall(_.isNullAt(0)))
    // tie_term over the same cells is finite and excludes the NaN singleton
    val tt = MwuAgg.tieTerm(cellsOf("f", Seq(1.0, Double.NaN, 1.0), Seq("a", "b", "a")))
      .collect().head.getLong(1)
    assert(tt == 6L) // one tie pair: 2^3-2
  }

  test("ranks are sums to n(n+1)/2 per feature (identity rank_data.py:271-273)") {
    val vals = Seq(-42, 27, 15, -7, -7, 35, -42, 19, -30, -41, 2, 47).map(_.toDouble)
    val df = Ranking.withRanks(cellsOf("f", vals, Seq.fill(12)("g")))
    val s = df.agg(sum("rank")).collect().head.getDouble(0)
    assert(s == 12 * 13 / 2.0)
  }

  test("partition invariance: identical results under shuffle.partitions 1/4/13 " +
    "(analogue of chunking parametrization test_ranking.py:21-22)") {
    val vals = Seq(-42, 27, 15, -7, -7, 35, -42, 19, -30, -41, 2, 47,
      23, 26, 21, 28, 1, -38, 33, -5, 0, -13, -32, 42).map(_.toDouble)
    val grps = (0 until 24).map(i => Seq("x", "y", "z")(i % 3))
    def run(): Seq[(String, Double, Double)] = {
      Ranking.withRanks(cellsOf("f", vals, grps))
        .orderBy("value", "grp").select("grp", "value", "rank")
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSeq
    }
    val results = Seq("1", "4", "13").map { p =>
      spark.conf.set("spark.sql.shuffle.partitions", p)
      try run() finally spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
    assert(results(0) == results(1) && results(1) == results(2))
  }

  test("caller columns pass through withRanks unchanged (working columns are reserved)") {
    // `_vb` / `_off` are ordinary caller names (they were once the kernel's
    // own working columns); they must come back untouched
    val cells = cellsOf("f", Seq(3.0, 1.0, 3.0, 2.0, 5.0, 1.0), g6)
      .withColumn("_vb", lit("caller")).withColumn("_off", lit(7L))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("grp", "value", "_vb", "_off", "tie_count", "rank").collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getString(2), r.getLong(3),
          r.getLong(4), r.getDouble(5))).sorted.toSeq
    val split = rows(Ranking.withRanks(cells))
    assert(split.forall(r => r._3 == "caller" && r._4 == 7L), split)
    assert(split == rows(Ranking.withRanks(cells, bucketSplit = false)))
  }

  private def oneValueFeature(n: Long, values: Int = 1) =
    spark.range(n * values).select(lit("f").as("feature_id"),
      (col("id") % values).cast("double").as("value"), lit("a").as("grp"))

  test("tie term is exact at the BIGINT edge: t = 2^21 gives (t-1)·t·(t+1)") {
    // t³ alone is 2^63 — only the factored product stays inside BIGINT
    val tt = MwuAgg.tieTerm(oneValueFeature(2097152L)).collect().head.getLong(1)
    assert(tt == 9223372036852678656L)
  }

  private def overflowed(df: org.apache.spark.sql.DataFrame): Boolean = {
    val e = intercept[Exception](df.collect())
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("MWU_TIE_TERM_OVERFLOW"))
  }

  test("tie term never wraps: one value repeated 2^21+1 times raises a named error") {
    assert(overflowed(MwuAgg.tieTerm(oneValueFeature(2097153L))))
  }

  test("tie term never wraps: a per-feature sum past BIGINT raises a named error") {
    // two values of t = 2^21: each term fits, their sum does not
    assert(overflowed(MwuAgg.tieTerm(oneValueFeature(2097152L, values = 2))))
  }
}
