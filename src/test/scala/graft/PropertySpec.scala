package graft

import graft.operators._
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property layer (SURVEY.md §5 — the reference lacks one): algebraic
  * identities of the pipeline over generated inputs. Inputs are drawn
  * from seeded ScalaCheck generators but evaluated in a plain loop (one
  * Spark job per case, not per forAll shrink). */
class PropertySpec extends SparkSpec {

  val genCase: Gen[(List[Double], List[String])] = for {
    n <- Gen.choose(4, 40)
    vals <- Gen.listOfN(n, Gen.chooseNum(-100, 100).map(_.toDouble))
    gs <- Gen.listOfN(n, Gen.oneOf("a", "b", "c"))
    if gs.distinct.size >= 2
  } yield (vals, gs)

  def cases(k: Int): Seq[(List[Double], List[String])] =
    (1 to k).flatMap(i => genCase.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("sparse index merge algebra: any shard partition, any append order == one-shot build — 4 random cases") {
    import spark.implicits._
    // the df moments and corpus count form a commutative monoid under
    // shard append, so EVERY partition of the corpus into shards, folded
    // in EVERY order, must produce the identical stored index (moments,
    // count) and the identical served answer as a one-shot build
    val genShards: Gen[(Int, List[Int])] = for {
      n <- Gen.choose(12, 36)
      kShards <- Gen.choose(2, 4)
      assign <- Gen.listOfN(n, Gen.choose(0, kShards - 1))
    } yield (kShards, assign)
    val pool = Vector("alpha beta gamma delta", "epsilon zeta eta theta",
      "iota kappa lambda mu", "alpha beta eta theta")
    for (i <- 1 to 4) {
      val (k, assign) = genShards.apply(Gen.Parameters.default, Seed(100L + i)).get
      val docs = assign.zipWithIndex.map { case (sh, id) =>
        (id.toLong, s"${pool(id % 4)} ${pool((id / 4) % 4)} w${id % 5}", sh)
      }.toDF("doc_id", "text", "shard")
      val oneShot = graft.Scratch.dir(s"prop_sidx_one_$i")
      SparseIndex.writeSparseIndex(docs.drop("shard"), oneShot)
      // fold shards in a seed-dependent order (reversed for odd cases)
      val order = if (i % 2 == 1) (0 until k).reverse else 0 until k
      val inc = graft.Scratch.dir(s"prop_sidx_inc_$i")
      SparseIndex.writeSparseIndex(docs.limit(0).drop("shard"), inc)
      order.foreach { sh =>
        SparseIndex.appendSparseIndex(
          docs.filter(col("shard") === sh).drop("shard"), inc)
      }
      // df MOMENTS = delta segments folded with a sum (the reader
      // discipline — appends write segments, not a rewritten table)
      def dfstats(d: String) = spark.read.parquet(s"$d/dfstats")
        .groupBy("token").agg(org.apache.spark.sql.functions.sum("dfq").as("dfq"))
        .filter(col("dfq") > 0).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      def nn(d: String) = spark.read.parquet(s"$d/meta").collect().head.getLong(0)
      assert(dfstats(inc) == dfstats(oneShot),
        s"case $i (k=$k, order=$order): df moments diverge")
      assert(nn(inc) == nn(oneShot), s"case $i: corpus count diverges")
      def serve(d: String) = SparseIndex
        .sparseRetrievalStored(spark, d, queryEvery = 5).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      assert(serve(inc) == serve(oneShot), s"case $i: served answers diverge")
    }
  }

  test("rank-sum identity, U1+U2=n1*n2, p in [0,1], BH bounds — 6 random cases") {
    for ((vals, gs) <- cases(6)) {
      val cells = cellsOf("f", vals, gs)
      val n = vals.size
      val stats = MwuStats.withBH(MwuStats.withP(
        MwuStats.withZ(MwuStats.withU(MwuAgg.rankSums(Ranking.withRanks(cells))),
          MwuAgg.tieTerm(cells))))
        .select("n1", "rank_sum", "u1", "u2", "p", "p_adj").collect()
      val totalRankSum = stats.map(_.getDouble(1)).sum
      assert(totalRankSum == n * (n + 1) / 2.0, s"sum of group rank sums n=$n")
      stats.foreach { r =>
        val (n1, u1, u2, p, padj) =
          (r.getLong(0), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
        assert(u1 + u2 == n1.toDouble * (n - n1), "U1+U2 = n1*n2")
        assert(p >= 0.0 && p <= 1.0, s"p=$p in [0,1]")
        assert(padj >= p - 1e-15 && padj <= 1.0, s"BH p_adj=$padj >= p=$p, <= 1")
      }
    }
  }

  test("full marker pipeline is invariant to shuffle partitioning (1/4/13)") {
    def run(): Seq[String] = {
      SparkEntry.queries("mwu_markers")(spark, sf("sf0.001"))
        .orderBy("grp", "rk").collect().map(_.toString).toSeq
    }
    val results = Seq("1", "4", "13").map { p =>
      spark.conf.set("spark.sql.shuffle.partitions", p)
      try run() finally spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
    assert(results(0).nonEmpty)
    assert(results(0) == results(1) && results(1) == results(2))
  }

  test("retrieval family is invariant to shuffle partitioning (1/4/13)") {
    // sparse scores ride fpSum, RRF is rank-only arithmetic, semantic
    // dedup is min-label propagation — none may depend on partition
    // count or intra-partition order
    def run(): Seq[String] = {
      val sparse = SparkEntry.queries("sparse_retrieval")(spark, sf("sf0.001"))
        .orderBy("q_id", "rk").collect().map(_.toString).toSeq
      val rrf = SparkEntry.queries("hybrid_rrf")(spark, sf("sf0.001"))
        .orderBy("q_id", "rn").collect().map(_.toString).toSeq
      val bm25 = SparkEntry.queries("bm25_retrieval")(spark, sf("sf0.001"))
        .orderBy("q_id", "rk").collect().map(_.toString).toSeq
      val sem = SparkEntry.queries("semantic_dedup")(spark, sf("sf0.001"))
        .orderBy("vec_id").collect().map(_.toString).toSeq
      sparse ++ rrf ++ bm25 ++ sem
    }
    val results = Seq("1", "4", "13").map { p =>
      spark.conf.set("spark.sql.shuffle.partitions", p)
      try run() finally spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
    assert(results(0).nonEmpty)
    assert(results(0) == results(1) && results(1) == results(2))
  }

  test("round-5 curation family is invariant to shuffle partitioning (1/4/13)") {
    // lm terciles order by exact-division doubles with id tiebreaks, DSIR
    // selection is a lossless two-phase top-k, PCA moments ride fpSum,
    // converged CC is a fixpoint — none may depend on partition count
    def run(): Seq[String] = {
      val lm = SparkEntry.queries("lm_perplexity")(spark, sf("sf0.001"))
        .orderBy("doc_id").collect().map(_.toString).toSeq
      val ds = SparkEntry.queries("dsir_select")(spark, sf("sf0.001"))
        .orderBy("rn").collect().map(_.toString).toSeq
      val pca = SparkEntry.queries("emb_pca")(spark, sf("sf0.001"))
        .orderBy("vec_id").collect().map(_.toString).toSeq
      val cc = SparkEntry.queries("dedup_cc")(spark, sf("sf0.001"))
        .orderBy("doc_id").collect().map(_.toString).toSeq
      val ev = SparkEntry.queries("dedup_eval")(spark, sf("sf0.001"))
        .collect().map(_.toString).toSeq
      lm ++ ds ++ pca ++ cc ++ ev
    }
    val results = Seq("1", "4", "13").map { p =>
      spark.conf.set("spark.sql.shuffle.partitions", p)
      try run() finally spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
    assert(results(0).nonEmpty)
    assert(results(0) == results(1) && results(1) == results(2))
  }

  test("round-7 family is invariant to shuffle partitioning (1/4/13)") {
    // skewJoin's salted aggregates are exact integers, MLP weights ride
    // per-term fixed-point sums, incremental-winnow verdicts are integer
    // containment predicates, video frame metas are per-row decode —
    // none may depend on partition count or intra-partition order
    def run(): Seq[String] = {
      val sj = SparkEntry.queries("q_skew_join")(spark, sf("sf0.001"))
        .orderBy("p_brand").collect().map(_.toString).toSeq
      val mlp = SparkEntry.queries("mlp_train")(spark, sf("sf0.001"))
        .orderBy("layer", "i", "j").collect().map(_.toString).toSeq
      val iw = SparkEntry.queries("dedup_incremental_winnow")(spark, sf("sf0.001"))
        .orderBy("doc_id").collect().map(_.toString).toSeq
      val mv = SparkEntry.queries("multimodal_video")(spark, sf("sf0.001"))
        .orderBy("doc_id", "frame_idx").collect().map(_.toString).toSeq
      sj ++ mlp ++ iw ++ mv
    }
    val results = Seq("1", "4", "13").map { p =>
      spark.conf.set("spark.sql.shuffle.partitions", p)
      try run() finally spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
    assert(results(0).nonEmpty)
    assert(results(0) == results(1) && results(1) == results(2))
  }

  test("skewJoin ≡ plain join on randomized skew shapes (seeded)") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260814L)
    (1 to 6).foreach { trial =>
      val nKeys = 1 + rnd.nextInt(12)
      val hotShare = rnd.nextInt(80)
      val fact = (0 until 200).map { i =>
        val k = if (rnd.nextInt(100) < hotShare) 0L else rnd.nextInt(nKeys).toLong
        (k, i.toLong)
      }.toDF("k", "payload")
      // dim multiplicity 0..3 per key — fan-out and missing keys both occur
      val dim = (0L until nKeys.toLong).flatMap { k =>
        (0 until rnd.nextInt(4)).map(j => (k, s"d${k}_$j"))
      }.toDF("k", "tag")
      val nSalt = 2 + rnd.nextInt(6)
      val hotRatio = 2 + rnd.nextInt(4)
      def sorted(df: org.apache.spark.sql.DataFrame) = df
        .select("k", "payload", "tag").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
      val got = sorted(SkewJoin.skewJoin(fact, dim, "k", nSalt, hotRatio))
      val want = sorted(fact.join(dim, "k"))
      assert(got == want,
        s"trial $trial (nKeys=$nKeys hotShare=$hotShare nSalt=$nSalt hotRatio=$hotRatio)")
    }
  }

  test("aggregated rank sums are bit-equal to per-cell rank sums (incl. NaN poisoning)") {
    for ((vals, gs) <- cases(4)) {
      val cells = cellsOf("f", vals, gs)
        .unionAll(cellsOf("g", vals.map(v => if (v > 50) Double.NaN else v), gs))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("feature_id", "grp", "rank_sum", "n1", "n").collect()
          .map(r => (r.getString(0), r.getString(1)) ->
            (if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getLong(3), r.getLong(4)))
          .toMap
      val perCell = rows(MwuAgg.rankSums(Ranking.withRanks(cells)))
      val agg = rows(MwuAgg.rankSumsAgg(cells))
      assert(perCell == agg, s"plans diverge: $perCell vs $agg")
    }
  }

  test("NULL-feature rows are ranked by every rank spelling, and the spellings agree — 4 random cases") {
    for ((vals, gs) <- cases(4)) {
      val cells = cellsOf("f", vals, gs).unionAll(cellsOf(null, vals.map(-_), gs))
      def ranks(df: org.apache.spark.sql.DataFrame) =
        df.select("feature_id", "grp", "value", "tie_count", "rank").collect()
          .map(r => (Option(r.getString(0)), r.getString(1), r.getDouble(2),
            r.getLong(3), r.getDouble(4))).sorted.toSeq
      val split = ranks(Ranking.withRanks(cells))
      assert(split.size == 2 * vals.size, s"rows dropped: $split")
      assert(split == ranks(Ranking.withRanks(cells, bucketSplit = false)))
      def sums(df: org.apache.spark.sql.DataFrame) =
        df.select("feature_id", "grp", "rank_sum", "n1", "n").collect()
          .map(r => (Option(r.getString(0)), r.getString(1)) ->
            (r.getDouble(2), r.getLong(3), r.getLong(4))).toMap
      val agg = sums(MwuAgg.rankSumsAgg(cells))
      assert(agg.keySet.exists(_._1.isEmpty), s"NULL feature dropped: $agg")
      assert(agg == sums(MwuAgg.rankSums(Ranking.withRanks(cells))))
      assert(agg == sums(MwuAgg.rankSums(Ranking.withRanks(cells, bucketSplit = false))))
    }
  }

  test("as-of join equals the brute-force at-or-before lookup — 5 random cases") {
    import spark.implicits._
    val genEvents: Gen[List[(Long, Long, Long, Double)]] = for {
      n <- Gen.choose(5, 40)
      rows <- Gen.listOfN(n, for {
        key <- Gen.choose(1L, 3L)
        ts <- Gen.choose(0L, 20L) // small domain → many exact-tie collisions
        v <- Gen.chooseNum(-50, 50).map(_.toDouble)
      } yield (key, ts, v))
    } yield rows.zipWithIndex.map { case ((k, t, v), i) => (i.toLong, k, t, v) }
    for (seed <- 1 to 5) {
      val rows = genEvents(Gen.Parameters.default, Seed(seed.toLong)).get
      val (leftRows, rightRows) = rows.partition(_._1 % 2 == 0)
      val left = leftRows.map(r => (r._2, r._3, r._1)).toDF("user_id", "ts", "event_id")
      val right = rightRows.map(r => (r._2, r._3, r._1, r._4))
        .toDF("user_id", "ts", "event_id", "value")
      val got = EventOps.asofJoin(left, right, "user_id", "ts", "event_id",
          payload = Seq("event_id", "value"))
        .select("event_id", "asof_event_id", "asof_value").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some((r.getLong(1), r.getDouble(2))))).toMap
      // oracle: latest right row with (ts, id) <= (l.ts, +inf), max (ts, id)
      val expected = leftRows.map { l =>
        val cand = rightRows.filter(r => r._2 == l._2 && r._3 <= l._3)
        l._1 -> (if (cand.isEmpty) None
                 else { val b = cand.maxBy(r => (r._3, r._1)); Some((b._1, b._4)) })
      }.toMap
      assert(got == expected, s"seed=$seed: $got vs $expected")
      assert(got.size == leftRows.size)
    }
  }

  test("bootstrap / PMI / anomaly outputs are invariant to shuffle partitioning (1/13)") {
    // the fixed-point contract for the round's new deterministic ops:
    // identical bits no matter how the data is partitioned
    for (q <- Seq("stat_bootstrap", "text_pmi", "q_anomaly")) {
      def run(): Seq[String] = SparkEntry.queries(q)(spark, sf("sf0.001"))
        .collect().map(_.toString).sorted.toSeq
      val results = Seq("1", "13").map { p =>
        spark.conf.set("spark.sql.shuffle.partitions", p)
        try run() finally spark.conf.set("spark.sql.shuffle.partitions", "4")
      }
      assert(results(0).nonEmpty, q)
      assert(results(0) == results(1), s"$q diverged across partitionings")
    }
  }

  test("poisson bootstrap: replicate means bracket the true mean, n_eff ~ n") {
    val sfDir = sf("sf0.001")
    val li = graft.sources.Tables.read(spark, sfDir, "lineitem")
    val boot = SparkEntry.queries("stat_bootstrap")(spark, sfDir)
      .groupBy("grp")
      .agg(min("mean_boot").as("lo"), max("mean_boot").as("hi"),
        avg("n_eff").as("avg_n_eff"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val truth = li.groupBy(col("l_returnflag").as("grp"))
      .agg(avg(expr("l_extendedprice / 1024e0")).as("mu"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    truth.foreach { case (g, (mu, n)) =>
      val (lo, hi, avgNeff) = boot(g)
      // 32 replicates straddle the truth on this fixture, and E[n_eff]=n
      assert(lo <= mu && mu <= hi, s"$g: mean $mu outside [$lo, $hi]")
      assert(math.abs(avgNeff - n) / n < 0.05,
        s"$g: avg n_eff $avgNeff far from n $n")
    }
  }

  test("BH is monotone in p within each group") {
    for ((vals, gs) <- cases(3)) {
      val cells = cellsOf("f", vals, gs)
      // fabricate multiple features by shifting values
      val multi = (0 to 2).map(k => cellsOf(s"f$k", vals.map(_ + k * 3), gs))
        .reduce(_ unionAll _)
      val stats = MwuStats.withBH(MwuStats.withP(
        MwuStats.withZ(MwuStats.withU(MwuAgg.rankSums(Ranking.withRanks(multi))),
          MwuAgg.tieTerm(multi))))
        .select("grp", "p", "p_adj").collect()
        .groupBy(_.getString(0))
      stats.values.foreach { rows =>
        val sorted = rows.map(r => (r.getDouble(1), r.getDouble(2))).sortBy(_._1)
        sorted.sliding(2).foreach {
          case Array((_, a1), (_, a2)) => assert(a1 <= a2 + 1e-15, "monotone")
          case _ =>
        }
      }
    }
  }

  test("Holm (FWER) dominates BH (FDR), both bracket [p, 1]") {
    for ((vals, gs) <- cases(3)) {
      val multi = (0 to 2).map(k => cellsOf(s"f$k", vals.map(_ + k * 3), gs))
        .reduce(_ unionAll _)
      val p = MwuStats.withP(
        MwuStats.withZ(MwuStats.withU(MwuAgg.rankSums(Ranking.withRanks(multi))),
          MwuAgg.tieTerm(multi)))
      val joined = MwuStats.withHolm(MwuStats.withBH(p))
        .select("p", "p_adj", "p_holm").collect()
        .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
      joined.foreach { case (raw, bh, holm) =>
        assert(holm >= bh - 1e-15, s"Holm $holm must dominate BH $bh")
        assert(bh >= raw - 1e-15 && holm <= 1.0 + 1e-15, s"($raw, $bh, $holm)")
      }
    }
  }

  test("round-6 family is invariant to shuffle partitioning (1/4/13)") {
    // the struct-max argmaxes (LPA, golden, langmix), the two-phase
    // skyline prune, the grid-cumulative rank paths (lr_auc, stat_ks,
    // vocab_coverage), and the partial-state merge (q_incr_agg) must not
    // depend on partition count or intra-partition order
    val qs = Seq("q_scd2", "graph_lpa", "lr_auc", "q_skyline", "stat_ks",
      "q_incr_agg", "vocab_coverage", "q_transitions", "stat_mi",
      "q_golden", "text_langmix", "q_islands", "sketch_hll_merge")
    def run(): Seq[String] = qs.flatMap { q =>
      val df = SparkEntry.queries(q)(spark, sf("sf0.001"))
      df.orderBy(df.columns.map(col): _*).collect().map(q + _.toString).toSeq
    }
    val results = Seq("1", "4", "13").map { p =>
      spark.conf.set("spark.sql.shuffle.partitions", p)
      try run() finally spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
    assert(results(0).nonEmpty)
    assert(results(0) == results(1) && results(1) == results(2))
  }
}
