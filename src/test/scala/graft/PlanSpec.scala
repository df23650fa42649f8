package graft

import graft.operators.{MwuAgg, Ranking}
import graft.sources.Tables

/** Physical-plan guarantees — the scale properties SURVEY.md §4 promises.
  * These assert plan SHAPE (shuffle counts, broadcasts, scan pruning),
  * not results, so regressions that only hurt at 1000× data fail fast. */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("rank windows + rank sums ride ONE fact shuffle (hash by feature_id) in the bucket-aligned spelling") {
    // the single-window spelling (bucketSplit = false) is the shape the
    // bucketed-cells gate serves exchange-free; this pin keeps it honest
    val p = plan(MwuAgg.rankSums(Ranking.withRanks(
      QueriesMwu.liCells(spark, sf("sf0.001")), bucketSplit = false)))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange, plan:\n$p")
  }

  test("r16 split rank spelling: the window rides (feature, value-bucket), never feature alone") {
    // the default per-cell rank path distributes the per-feature sort
    // two-level (DoubleSortBucket) — the window partition key must carry
    // the bucket or one task re-inherits a whole feature's sort
    val p = plan(MwuAgg.rankSums(Ranking.withRanks(
      QueriesMwu.liCells(spark, sf("sf0.001")))))
    assert(p.contains("hashpartitioning(feature_id") && p.contains("_vb"),
      s"expected the (feature_id, _vb) window exchange:\n$p")
  }

  test("measured MWU path: markerStats and rankSumsAgg keep their hash-exchange budget") {
    // both end-to-end spellings share the prefix-rank kernel; the kernel
    // must not add a hash exchange to either
    val cells = QueriesMwu.liCells(spark, sf("sf0.001"))
    val marker = plan(graft.operators.Pipeline.markerStats(spark, cells))
    val agg = plan(MwuAgg.rankSumsAgg(cells))
    assert("Exchange hashpartitioning".r.findAllIn(marker).length == 11, marker)
    assert("Exchange hashpartitioning".r.findAllIn(agg).length == 7, agg)
  }

  test("marker pipeline broadcasts the feature-sized side tables") {
    val p = plan(SparkEntry.queries("mwu_markers")(spark, sf("sf0.001")))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"feature-size tables must broadcast:\n$p")
  }

  test("top-k window uses WindowGroupLimit pushdown") {
    val p = plan(SparkEntry.queries("mwu_markers")(spark, sf("sf0.001")))
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("projection reaches the parquet scan (column pruning)") {
    val df = Tables.read(spark, sf("sf0.001"), "lineitem")
      .select("l_returnflag", "l_quantity")
    val p = plan(df)
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_returnflag:string>") ||
      p.contains("ReadSchema: struct<l_returnflag:string,l_quantity:double>"), p)
  }

  test("filters push down to the parquet scan") {
    val df = Tables.read(spark, sf("sf0.001"), "lineitem")
      .filter("l_quantity > 30.0").select("l_orderkey")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"), p)
  }

  test("q_forecast (Q6): every predicate reaches the parquet scan") {
    // default maxMetadataStringLength=100 truncates the PushedFilters
    // line before the predicates under test
    spark.conf.set("spark.sql.maxMetadataStringLength", "500")
    val p = try plan(SparkEntry.queries("q_forecast")(spark, sf("sf0.001")))
    finally spark.conf.set("spark.sql.maxMetadataStringLength", "100")
    assert(p.contains("PushedFilters:"), p)
    for (f <- Seq("GreaterThanOrEqual(l_discount,0.02)",
      "LessThanOrEqual(l_discount,0.08)", "LessThan(l_quantity,24.0)"))
      assert(p.contains(f), s"missing pushed filter $f:\n$p")
  }

  test("within-doc dedup: ONE exchange feeds both the window and the reassembly agg") {
    val p = plan(graft.operators.Dedup.withinDocDedup(
      Tables.read(spark, sf("sf0.001"), "documents")))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange, plan:\n$p")
  }

  test("dynamic partition pruning fires on a partitioned fact x filtered dim join") {
    // the 100 TB scan-reduction feature beyond static pruning: the dim
    // filter's values prune fact PARTITIONS at runtime. Stage lineitem
    // hive-partitioned by return flag, join against a dim filtered to
    // one flag, and assert the fact scan carries a dynamicpruning
    // subquery in its partition filters.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp_").toString
    Tables.read(spark, sf("sf0.001"), "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(dir)
    // DPP requires a SELECTIVE predicate over a real scan on the dim
    // side (a literal relation constant-folds into a LocalTableScan and
    // never qualifies), and the default metadata truncation would cut
    // the PartitionFilters line before the subquery
    val dimDir = java.nio.file.Files.createTempDirectory("graft_dppdim_").toString
    Seq(("A", "keep"), ("N", "drop"), ("R", "drop"))
      .toDF("flag", "tag").write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter($"tag" === "keep")
    val fact = spark.read.parquet(dir)
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
    val joined = fact.join(dim, fact("l_returnflag") === dim("flag"))
      .groupBy("tag").count()
    val p = try plan(joined).toLowerCase
    finally spark.conf.set("spark.sql.maxMetadataStringLength", "100")
    assert(p.contains("dynamicpruning"), s"expected a dynamicpruning partition filter:\n$p")
    assert(joined.collect().map(_.getLong(1)).sum > 0)
  }

  test("star join broadcasts the dimension tables") {
    val p = plan(SparkEntry.queries("q_join_revenue")(spark, sf("sf0.001")))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3, p)
  }

  test("decontaminate broadcasts the eval side — the corpus never shuffles pre-join") {
    val p = plan(SparkEntry.queries("decontaminate")(spark, sf("sf0.001")))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    // the only hash exchange is the per-doc top-1 window
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange (argmax window), plan:\n$p")
  }

  test("skew join: hot-flag set broadcasts, dim replicates, final join keys on (key, salt)") {
    val p = plan(SparkEntry.queries("q_skew_join")(spark, sf("sf0.001")))
    // both flag joins broadcast the bounded hot set — the fact relation
    // never shuffles for flagging
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
    // dim-side replication is a generate (explode of the salt range)
    assert(p.contains("Generate explode"), p)
    // the one fact shuffle carries the composite (key, salt)
    assert("hashpartitioning\\(l_partkey#\\d+L?, __salt".r.findFirstIn(p).isDefined, p)
  }

  test("minhash signature computes shuffle-free (band join is the first exchange)") {
    val sh = graft.operators.Dedup.withShingleCodes(
      Tables.read(spark, sf("sf0.001"), "documents"))
    val sig = sh.selectExpr(("doc_id" +: (0 until 16).map(j =>
      s"array_min(transform(codes, c -> ${graft.oracle.Parity.cwMix(j, "c")})) as h$j")): _*)
    val p = plan(sig)
    assert(!p.contains("Exchange"), s"signature stage must not shuffle:\n$p")
  }

  test("mwu_orders: no forced broadcast of the fact-proportional obs side (AQE decides)") {
    val df = SparkEntry.queries("mwu_orders")(spark, sf("sf0.001"))
    // orders is ~1/4 of lineitem — a hardcoded broadcast() hint would OOM
    // at 100× scale; the fact⋈obs join must stay hint-free so AQE can
    // pick broadcast at small SF and shuffle-join at large. (The tiny
    // per-feature tie-term join keeps its deliberate broadcast hint.)
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val obsJoins = df.queryExecution.optimizedPlan.collect {
      case j: Join if j.condition.exists(_.references.exists(_.name == "o_orderkey")) => j
    }
    assert(obsJoins.nonEmpty, "expected the lineitem ⋈ orders join in the plan")
    obsJoins.foreach { j =>
      assert(j.hint.leftHint.isEmpty && j.hint.rightHint.isEmpty,
        s"obs-side join must not carry a strategy hint: $j")
    }
  }

  test("kmv sketch: per-lang top-k sort is two-phase (partition-local prune first)") {
    val df = graft.operators.TextOps.kmvDistinct(
      Tables.read(spark, sf("sf0.001"), "documents"))
    // two Window operators over row_number: the partition-local (lang,pid)
    // prune and the final per-lang top-k — a single global per-lang sort
    // (the r2 shape) shows only one
    val p = plan(df)
    val rn = "row_number".r.findAllIn(p).length
    assert(rn >= 2, s"expected the local prune + final top-k windows (got $rn):\n$p")
  }

  test("bucketed cells: the whole rank pipeline runs with ZERO exchanges — at BOTH bucket counts") {
    // the bucket count is a sizing parameter (QueriesMwu.DefaultCellBuckets);
    // the zero-exchange plan must be a property of the bucketed layout,
    // not of the literal 8 — so the pin runs at two counts (verdict r11 #6)
    import org.apache.spark.sql.functions.max
    for (nb <- Seq(QueriesMwu.DefaultCellBuckets, 16)) {
      val df = graft.operators.Ranking
        .withRanks(QueriesMwu.bucketedCells(spark, sf("sf0.001"), nb),
          bucketSplit = false)
        .groupBy("feature_id", "value")
        .agg(max("tie_count").as("tie_count"), max("rank").as("rank"))
      val p = plan(df)
      assert(!p.contains("Exchange"),
        s"[$nb buckets] bucket hash must satisfy every downstream distribution:\n$p")
    }
  }

  test("as-of join is the merge shape: ONE shuffle, ONE window carrying every payload") {
    val p = plan(SparkEntry.queries("q_asof")(spark, sf("sf0.001")))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    assert("Window".r.findAllIn(p).length == 1,
      s"all asof payload columns must ride one Window operator:\n$p")
    assert(!p.contains("Join"), s"asof must not degenerate into a join:\n$p")
  }

  test("line dedup joins back only the duplicated hashes (broadcast-able side)") {
    val p = plan(SparkEntry.queries("dedup_lines")(spark, sf("sf0.001")))
    // the dup-hash relation (cnt > 1) broadcasts; the corpus lines shuffle
    // exactly twice — the (hash,count) aggregate and the per-doc reassembly
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"dup hashes must stay the small side:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 2, s"expected 2 exchanges (line counts + doc reassembly):\n$p")
  }

  test("q_avg_yearly: the per-part window reuses the join's partitioning (one fact shuffle)") {
    val p = plan(SparkEntry.queries("q_avg_yearly")(spark, sf("sf0.001")))
    // one hash exchange feeds BOTH the l_partkey window and nothing else —
    // the correlated-mean window must not add its own shuffle on top
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange (shared by join+window):\n$p")
  }

  test("CMS counters aggregate with map-side combine before the grid shuffle") {
    val p = plan(SparkEntry.queries("sketch_heavy")(spark, sf("sf0.001")))
    // partial HashAggregate under each Exchange: the token stream collapses
    // to <= depth*width cells per partition before anything moves
    assert("partial_count".r.findAllIn(p).length >= 1, p)
    assert(p.contains("BroadcastHashJoin"), s"the 64-cell grid must broadcast:\n$p")
  }

  test("stratified sample is two-phase (partition-local prune before the per-lang sort)") {
    val p = plan(SparkEntry.queries("sample_stratified")(spark, sf("sf0.001")))
    val rn = "row_number".r.findAllIn(p).length
    assert(rn >= 2, s"expected the local (lang,pid) prune + final window (got $rn):\n$p")
  }

  test("mix plan broadcasts the rate table; only lang aggregates shuffle") {
    val p = plan(SparkEntry.queries("mix_plan")(spark, sf("sf0.001")))
    assert(p.contains("BroadcastHashJoin"), s"rate thresholds must broadcast onto the corpus:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    val partials = "partial_count".r.findAllIn(p).length
    assert(partials >= exchanges - 1, s"expected map-side combine before the lang shuffles:\n$p")
  }

  test("hash features: one exchange, map-side combined") {
    val p = plan(graft.operators.TextOps.hashFeatures(
      Tables.read(spark, sf("sf0.001"), "documents")))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    assert(p.contains("partial_count"), s"expected map-side combine before the (doc,bucket) shuffle:\n$p")
  }

  test("temperature resampling broadcasts the rate table; the corpus never shuffles") {
    val p = plan(SparkEntry.queries("sample_temperature")(spark, sf("sf0.001")))
    assert(p.contains("BroadcastHashJoin"), s"rates must broadcast onto the corpus:\n$p")
    // the only hash exchanges move per-lang aggregates (≤ langs rows per
    // partition after map-side combine) — never raw documents; partial
    // aggregation before every one of them proves that
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    val partials = "partial_count".r.findAllIn(p).length
    assert(partials >= exchanges - 1, s"expected map-side combine before the lang shuffles:\n$p")
  }

  test("histogram quantiles: fact scan feeds map-side-combined aggs, never a fact shuffle") {
    val p = plan(SparkEntry.queries("sketch_quantiles")(spark, sf("sf0.001")))
    // both fact passes collapse before moving: the scalar min/max/count and
    // the ≤64-bin histogram both show partial aggregation
    assert("partial_count".r.findAllIn(p).length >= 1, p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 1-row scalar relation must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"nothing here is big enough to sort-merge:\n$p")
  }

  test("bloom screen: kHash broadcast probes; corpus postings never hash-shuffle pre-agg") {
    val p = plan(SparkEntry.queries("decontaminate_bloom")(spark, sf("sf0.001")))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3,
      s"each of the 3 position probes must be a broadcast join:\n$p")
    // hash exchanges: one per probe's bloom-build distinct (each bounded
    // by mBits rows and fed by the SMALL eval side — Spark replans the
    // build subtree per join) plus the final per-doc aggregate. The
    // corpus posting list itself flows shuffle-free into the partial agg.
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 4, s"expected 3 bloom-build distincts + doc agg:\n$p")
  }

  test("stat_corr: all six moments ride ONE map-side-combined aggregate") {
    val p = plan(SparkEntry.queries("stat_corr")(spark, sf("sf0.001")))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected a single group-by exchange:\n$p")
    assert(p.contains("partial_count"), s"expected map-side combine:\n$p")
  }

  test("partitioned sink: the read-back scan prunes to the one lang partition") {
    val p = plan(SparkEntry.queries("sink_partitioned")(spark, sf("sf0.001")))
    assert(p.contains("PartitionFilters"), s"expected a partition-pruned scan:\n$p")
    assert("PartitionFilters: \\[[^\\]]*lang[^\\]]*= en".r.findFirstIn(p).isDefined,
      s"the lang = en predicate must prune directories, not filter rows:\n$p")
  }

  test("stored IVF-PQ: the code scan statically prunes to the probed cells") {
    val p = plan(SparkEntry.queries("ann_ivfpq_stored")(spark, sf("sf0.001")))
    // the probed-cell literal set must land as PartitionFilters on the
    // hive-partitioned code table — directory pruning, not a row filter:
    // at 1000 cells / nprobe=3 this is the difference between opening
    // 0.3% of the corpus and scanning all of it
    assert("PartitionFilters: \\[cl#\\d+L? IN \\(".r.findFirstIn(p).isDefined,
      s"probed cells must prune directories on the stored code scan:\n$p")
  }

  test("tombstoned IVF-PQ serve: partition pruning survives; the tombstone anti-join broadcasts") {
    // build a tombstoned index, then pin the SERVING plan: the stored
    // code scan must still prune to probed cells (the anti-join must not
    // defeat static pruning) and the deleted-id filter must be a
    // broadcast anti join (the sidecar is deleted-rows-sized)
    val idx = graft.Scratch.dir("plan_ivfpq_del_")
    val emb = Tables.read(spark, sf("sf0.001"), "embeddings")
    graft.operators.Pq.writeIvfPqIndex(emb, idx)
    graft.operators.Pq.deleteFromIvfPqIndex(
      emb.filter(org.apache.spark.sql.functions.col("vec_id") % 5 === 3), idx)
    val p = plan(graft.operators.Pq.ivfAdcTopKStored(
      emb.filter(org.apache.spark.sql.functions.col("vec_id") % 5 =!= 3), idx))
    assert("PartitionFilters: \\[cl#\\d+L? IN \\(".r.findFirstIn(p).isDefined,
      s"probed-cell pruning must survive the tombstone filter:\n$p")
    assert("BroadcastHashJoin .*LeftAnti".r.findFirstIn(p).isDefined,
      s"tombstones must anti-join as a broadcast:\n$p")
  }

  test("stored sparse index: the token join inherits the bucket distribution — fewer exchanges than rebuild") {
    // the rebuild comparator is the UNmaterialized operator chain: the
    // shipped sparse_retrieval localCheckpoints its postings (r15), which
    // truncates the plan and would hide exactly the exchanges this pin
    // compares against
    val rebuild = plan(graft.operators.TextOps.sparseRetrievalFrom(
      graft.operators.TextOps.sparsePostings(
        Tables.read(spark, sf("sf0.001"), "documents"))))
    val stored = plan(SparkEntry.queries("sparse_stored")(spark, sf("sf0.001")))
    def exchanges(p: String) = "Exchange hashpartitioning".r.findAllIn(p).length
    // rebuild pays the token shuffle on both join sides; the bucketed
    // table satisfies the join distribution from storage, leaving only
    // the post-join aggregate/window exchanges
    assert(exchanges(stored) <= 2,
      s"stored retrieval should only shuffle post-join (got ${exchanges(stored)}):\n$stored")
    assert(exchanges(stored) < exchanges(rebuild),
      s"stored (${exchanges(stored)}) must beat rebuild (${exchanges(rebuild)})")
  }

  test("IVF-routed rerank: probed-cell pruning reaches the stored code scan under the rerank composition") {
    val idx = graft.Scratch.dir("plan_ivfpq_rr_")
    val emb = Tables.read(spark, sf("sf0.001"), "embeddings")
    graft.operators.Pq.writeIvfPqIndex(emb, idx)
    val p = plan(graft.operators.Pq.ivfAdcRerankStored(emb, idx))
    // the shortlist stage must keep the stored index's static pruning —
    // the whole point of routing the rerank through the index is that
    // no stage scans unprobed cells
    assert("PartitionFilters: \\[cl#\\d+L? IN \\(".r.findFirstIn(p).isDefined,
      s"probed cells must prune the shortlist's code scan:\n$p")
    assert(!p.contains("Cartesian"), s"rerank plans a cartesian:\n$p")
  }

  test("sparse lifecycle serve (TF-IDF and BM25): tombstones broadcast-anti-join; no more exchanges than a rebuild — at BOTH bucket counts") {
    val docs = Tables.read(spark, sf("sf0.001"), "documents")
    def exchanges(s: String) = "Exchange hashpartitioning".r.findAllIn(s).length
    // unmaterialized comparators (see the stored-vs-rebuild pin above):
    // the shipped rebuild queries localCheckpoint their postings (r15),
    // which would truncate away the exchanges being compared
    val rebuild = plan(graft.operators.TextOps.sparseRetrievalFrom(
      graft.operators.TextOps.sparsePostings(docs)))
    val bm25Rebuild = plan(graft.operators.TextOps.bm25RetrievalFrom(
      graft.operators.TextOps.bm25Postings(docs)))
    // the bucket count is a sizing parameter (buckets ≈ cluster cores ×
    // a small factor — SparseIndex.DefaultBuckets docs); the
    // zero-extra-exchange serve plan must be a property of the BUCKETED
    // LAYOUT, not of the literal 8, so the pin runs at two counts
    for (nb <- Seq(graft.operators.SparseIndex.DefaultBuckets, 4)) {
      val idx = graft.Scratch.dir(s"plan_sidx_b${nb}_")
      graft.operators.SparseIndex.writeSparseIndex(
        docs.filter(org.apache.spark.sql.functions.col("doc_id") % 3 =!= 0), idx,
        nBuckets = nb)
      graft.operators.SparseIndex.appendSparseIndex(
        docs.filter(org.apache.spark.sql.functions.col("doc_id") % 3 === 0), idx)
      graft.operators.SparseIndex.deleteFromSparseIndex(
        docs.filter(org.apache.spark.sql.functions.col("doc_id") % 5 === 3), idx)
      val p = plan(graft.operators.SparseIndex.sparseRetrievalStored(spark, idx))
      // the deleted-id filter is deleted-rows-sized — it must broadcast,
      // never shuffle the posting table
      assert("BroadcastHashJoin .*LeftAnti".r.findFirstIn(p).isDefined,
        s"[$nb buckets] tombstones must anti-join as a broadcast:\n$p")
      // both stored relations are token-bucketed: the df attach and the
      // retrieval join read the bucket distribution from storage, so the
      // serve plan must not exceed the rebuild's exchange count even
      // while adding the tombstone filter and the moment join
      assert(exchanges(p) <= exchanges(rebuild),
        s"[$nb buckets] lifecycle serve (${exchanges(p)}) must not exceed " +
          s"rebuild (${exchanges(rebuild)}):\n$p")
      // BM25 from the SAME standing index (r11 feature, spec-pinned r12):
      // identical plan contract — token-bucketed join, broadcast 1-row
      // meta, broadcast tombstone anti-join, zero extra exchanges
      val pb = plan(graft.operators.SparseIndex.bm25RetrievalStored(spark, idx))
      assert("BroadcastHashJoin .*LeftAnti".r.findFirstIn(pb).isDefined,
        s"[$nb buckets] bm25 tombstones must anti-join as a broadcast:\n$pb")
      assert(exchanges(pb) <= exchanges(bm25Rebuild),
        s"[$nb buckets] bm25 stored serve (${exchanges(pb)}) must not exceed " +
          s"rebuild (${exchanges(bm25Rebuild)}):\n$pb")
    }
  }

  test("near-dup index serve: each stored table scanned ONCE; tombstones broadcast-anti-join; no cartesian") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.read(spark, sf("sf0.001"), "documents")
    val idx = graft.Scratch.dir("plan_ndidx_")
    graft.operators.NearDupIndex.writeNearDupIndex(
      docs.filter(col("doc_id") % 5 < 4), idx)
    graft.operators.NearDupIndex.deleteFromNearDupIndex(
      docs.filter(col("doc_id") % 5 < 4 && col("doc_id") % 10 === 1)
        .select("doc_id")
        .join(graft.operators.NearDupIndex.indexedIds(spark, idx),
          Seq("doc_id"), "left_semi"), idx)
    val p = plan(graft.operators.NearDupIndex.serveNearDup(spark, idx,
      docs.filter(col("doc_id") % 5 >= 4)))
    assert(!p.contains("Cartesian"), s"near-dup serve plans a cartesian:\n$p")
    // the deleted-id sidecar is deleted-rows-sized — it must broadcast,
    // never shuffle a stored table
    assert("BroadcastHashJoin .*LeftAnti".r.findFirstIn(p).isDefined,
      s"tombstones must anti-join as a broadcast:\n$p")
    // serve cost must be candidate-proportional: the index is consulted
    // exactly once per stored relation (bands for candidates, sets for
    // the verify) — a second scan would mean the plan re-derives
    // something the standing artifact already holds
    def scans(suffix: String) =
      s"Scan parquet [^\\n]*$suffix".r.findAllIn(p).length
    assert(scans("_bands") == 1, s"band table scanned ${scans("_bands")}x:\n$p")
    assert(scans("_sets") == 1, s"sets table scanned ${scans("_sets")}x:\n$p")

    // BACKFILL regime (size-gated fallback, verdict r12): no
    // shard-derived relation may broadcast — a backfill-sized shard
    // would be driver-mass — and the STORED tables must inherit their
    // bucket layout instead of re-exchanging
    val pf = plan(graft.operators.NearDupIndex.serveNearDup(spark, idx,
      docs.filter(col("doc_id") % 5 >= 4), broadcastShard = Some(false)))
    assert(!pf.contains("Cartesian") && !pf.contains("BroadcastNestedLoopJoin"),
      s"fallback serve plans a cartesian/nested-loop:\n$pf")
    // the ONLY broadcasts are the tombstone anti-joins (deleted-rows-
    // sized, shard-independent); every inner/outer join is sort-merge
    assert("BroadcastHashJoin [^\\n]*(Inner|LeftOuter|LeftSemi)".r
      .findFirstIn(pf).isEmpty,
      s"fallback serve broadcasts a shard-derived relation:\n$pf")
    assert("BroadcastHashJoin [^\\n]*LeftAnti".r.findFirstIn(pf).isDefined,
      s"tombstones must still broadcast in the fallback:\n$pf")
    // the candidate join's stored side reads its (band, bv) bucket
    // layout from storage: the only (band, bv) exchanges in the SERVED
    // plan are the shard band rows (1) and the two sides of the
    // within-shard self-join — a 4th would mean the index re-shuffled.
    // (The r14 shard-occupancy cap's count aggregate also exchanges on
    // (band, bv), but it runs eagerly at serve construction behind a
    // checkpoint — shard-sized, map-side-combined, never in this plan.)
    val bandEx = "Exchange hashpartitioning\\(band".r.findAllIn(pf).length
    assert(bandEx == 3,
      s"expected 3 shard-side (band, bv) exchanges, got $bandEx — the " +
        s"stored band table must inherit its bucket layout:\n$pf")
    def scansF(suffix: String) =
      s"Scan parquet [^\\n]*$suffix".r.findAllIn(pf).length
    assert(scansF("_bands") == 1 && scansF("_sets") == 1,
      s"fallback serve rescans a stored table:\n$pf")
  }

  test("dedup_decide: pair mass collapses in a partial min-aggregate before the exchange; no cartesian") {
    val p = plan(SparkEntry.queries("dedup_decide")(spark, sf("sf0.001")))
    assert(!p.contains("Cartesian"), s"dedup_decide plans a cartesian:\n$p")
    // the whole point of the decision relation: the ~quadratic banded
    // pair stream must reduce map-side (partial_min inside the join
    // stage) so only doc-proportional rows ever cross the shuffle
    assert("partial_min".r.findFirstIn(p).isDefined,
      s"pair mass must partial-aggregate before shuffling:\n$p")
  }

  test("banded dedup siblings: candidate generation is pure equi-join — no cartesian, no nested loop") {
    // the entire point of the banded variants is that candidates come
    // from bucket equi-joins whose volume tracks clique co-occupancy;
    // a cartesian or nested-loop anywhere would reintroduce the
    // quadratic the bands exist to remove
    Seq("dedup_winnow_banded", "allpairs_banded").foreach { q =>
      val p = plan(SparkEntry.queries(q)(spark, sf("sf0.001")))
      assert(!p.contains("Cartesian"), s"$q plans a cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q plans a nested-loop join:\n$p")
      // (the signature aggregate itself sits behind the banded
      // relation's localCheckpoint, so it is not in this plan segment)
    }
  }

  test("q_local_supplier: nation/region broadcast; no cartesian from the dim-key equality") {
    val p = plan(SparkEntry.queries("q_local_supplier")(spark, sf("sf0.001")))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("Cartesian"), s"c_nationkey = s_nationkey must ride the equi-join:\n$p")
  }

  test("stream-static join broadcasts the dimension (no stream-side shuffle before agg)") {
    val events = Tables.read(spark, sf("sf0.001"), "events")
    val customers = Tables.read(spark, sf("sf0.001"), "customer")
      .select("c_custkey", "c_mktsegment")
    val p = plan(graft.streaming.EventStream.joinSegments(events, customers))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_latest: latest-row-per-key runs through WindowGroupLimit, not a full sort") {
    val p = plan(SparkEntry.queries("q_latest")(spark, sf("sf0.001")))
    assert(p.contains("WindowGroupLimit"),
      s"rn = 1 must push a per-partition running top-1:\n$p")
  }

  test("q_waiting: the order-level windows share the per-(order,supplier) agg shuffle") {
    val p = plan(SparkEntry.queries("q_waiting")(spark, sf("sf0.001")))
    // the fact moves once onto l_orderkey (agg + both windows), then the
    // key-sized supplier rollup moves once; the top-10 is a
    // TakeOrderedAndProject, never a global sort of the counts
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 3, s"expected <= 3 hash exchanges:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-10 must be two-phase:\n$p")
  }

  test("text_pmi: global top-k is TakeOrderedAndProject (never a full candidate sort)") {
    val p = plan(SparkEntry.queries("text_pmi")(spark, sf("sf0.001")))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("sink_sorted: date filter pushes down to the range-clustered read-back scan") {
    val p = plan(SparkEntry.queries("sink_sorted")(spark, sf("sf0.001")))
    // the rewrite happens eagerly inside the query fn; the plan here is
    // the read-back — its date bounds must reach the parquet scan, where
    // the sorted layout's tight row-group min/max stats make them prune
    assert("PushedFilters: \\[[^\\]]*l_shipdate".r.findFirstIn(p).isDefined,
      s"ship-date bounds must reach the scan:\n$p")
  }

  test("margin mining adds NO exchange over cosineTopK's per-query partition") {
    val p = plan(graft.operators.Similarity.marginMine(
      Tables.read(spark, sf("sf0.001"), "embeddings")))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"margin window must ride the existing q_id partition, plan:\n$p")
  }

  test("incremental bloom prescreen: every probe side broadcasts (no sort-merge)") {
    val p = plan(graft.operators.Dedup.incrementalBloom(
      Tables.read(spark, sf("sf0.001"), "documents")))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      s"bloom bit positions and history fps must broadcast at this size:\n$p")
  }

  test("two-stage rerank: candidate joins broadcast, no sort-merge join") {
    val p = plan(graft.operators.Pq.adcRerank(
      Tables.read(spark, sf("sf0.001"), "embeddings")))
    assert(!p.contains("SortMergeJoin"),
      s"shortlist/query sides must broadcast at this size:\n$p")
  }

  test("sparse retrieval: token-keyed equi-joins only, df table never hint-forced") {
    // pin the UNmaterialized operator chain: the shipped sparse_retrieval
    // localCheckpoints its postings (r15), which truncates the plan this
    // pin inspects (the token exchange lives in the checkpointed half)
    val p = plan(graft.operators.TextOps.sparseRetrievalFrom(
      graft.operators.TextOps.sparsePostings(
        Tables.read(spark, sf("sf0.001"), "documents"))))
    assert(!p.contains("CartesianProduct"),
      s"the posting join must be an equi-join on the token, never all-pairs:\n$p")
    // the word-3-gram df table is an OPEN universe (grows with the
    // corpus): it meets tf keyed on the token — the planner may still
    // broadcast it at THIS size by its own estimate, but nothing in the
    // operator forces it (the only hinted broadcast is the 1-row count)
    assert("Exchange hashpartitioning\\(token".r.findFirstIn(p).isDefined,
      s"df/posting joins must hash on the token:\n$p")
  }

  test("hybrid RRF fuses with a full outer join over top-k-bounded inputs") {
    val p = plan(graft.operators.Similarity.hybridRrf(
      Tables.read(spark, sf("sf0.001"), "documents"),
      Tables.read(spark, sf("sf0.001"), "embeddings")))
    assert(p.contains("FullOuter"),
      s"fusion must union the two retrievers' query universes:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("knn classify: label-vote joins broadcast at this size (no sort-merge)") {
    val p = plan(graft.operators.Similarity.knnClassify(
      Tables.read(spark, sf("sf0.001"), "embeddings")))
    assert(!p.contains("SortMergeJoin"),
      s"votes and label projections are tiny; they must broadcast:\n$p")
  }

  test("pipeline_curate: composition adds no exchange beyond its stages' plans") {
    // the composed curation chain must stay ONE declarative plan whose
    // exchanges are each attributable to a stage — composition through
    // checkpoints/collects would break this, and an accidental repartition
    // between stages would push the count past the standalone union.
    // (curate_filter's plan already contains the exact-dedup aggregate,
    // so dedup_exact is not double-counted.)
    def exch(q: String): Int = "Exchange".r.findAllIn(
      plan(SparkEntry.queries(q)(spark, sf("sf0.001")))).length
    val stages = Seq("curate_filter", "dedup_lines", "decontaminate_bloom",
      "mix_plan", "corpus_shuffle", "text_pack").map(exch).sum
    val composed = exch("pipeline_curate")
    assert(composed <= stages, s"composed=$composed > stage union=$stages")
  }

  test("lm_perplexity: map-side combined count joins, no cartesian") {
    val p = plan(SparkEntry.queries("lm_perplexity")(spark, sf("sf0.001")))
    assert(!p.contains("CartesianProduct"), s"no cartesian allowed:\n$p")
    assert(p.contains("partial_count"),
      s"bigram/context counts must combine map-side before their shuffles:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the lang-bounded vocab-size relation must broadcast:\n$p")
  }

  test("dsir_select: constant bucket table broadcasts; top-k is two-phase") {
    val p = plan(SparkEntry.queries("dsir_select")(spark, sf("sf0.001")))
    assert(p.contains("BroadcastHashJoin"),
      s"the <=512-row unit table must broadcast onto the transition stream:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // global k-row window runs once, after the partition-local prune
    assert("Exchange SinglePartition".r.findAllIn(p).length <= 1, p)
  }

  test("emb_standardize: dim-bounded stats broadcast back; only combined aggregates shuffle") {
    val p = plan(SparkEntry.queries("emb_standardize")(spark, sf("sf0.001")))
    assert(p.contains("BroadcastHashJoin"),
      s"per-dim stats must broadcast onto the long relation:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    val partials = "partial_count".r.findAllIn(p).length
    assert(partials >= exchanges,
      s"every hash exchange must carry map-side-combined aggregates, not raw rows:\n$p")
  }

  test("emb_pca: the projection stage is exchange-free (literal eigenvectors)") {
    val p = plan(SparkEntry.queries("emb_pca")(spark, sf("sf0.001")))
    assert(!p.contains("Exchange"),
      s"projection is scan+project against literal vectors — no shuffle:\n$p")
    assert(p.contains("chain_dot"), s"projection must run the codegen'd chain dot:\n$p")
  }

  test("dedup_eval: bounded sample sides broadcast (no sort-merge join)") {
    val p = plan(SparkEntry.queries("dedup_eval")(spark, sf("sf0.001")))
    assert(!p.contains("SortMergeJoin"),
      s"all joins are against the constant-size sample — they must broadcast:\n$p")
  }

  test("scd2: three windows ride ONE key shuffle and one sort") {
    val p = plan(SparkEntry.queries("q_scd2")(spark, sf("sf0.001")))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    val sorts = "\\bSort \\[".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$p")
    assert(sorts == 1, s"run-collapse + version + valid_to must share one sort, got $sorts:\n$p")
  }

  test("phrase search: probes are literal posting-list cuts over the pinned postings") {
    val p = plan(SparkEntry.queries("phrase_search")(spark, sf("sf0.001")))
    // the collected argmax phrase turns each term probe into a literal
    // token filter on the checkpointed posting relation (no re-tokenize,
    // no argmax re-execution per branch)
    assert("Filter \\(+\\(?tok#\\d+ = ".r.findAllIn(p).length >= 3,
      s"three literal term filters must cut the postings:\n$p")
    // the postings come from the checkpoint, not a fresh corpus scan
    assert(!p.contains("FileScan parquet"),
      s"probes must read the pinned postings, not rescan the corpus:\n$p")
    // the two adjacency joins broadcast (posting-list-sized sides)
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
  }

  test("sink_zorder: rectangle predicates reach the clustered read-back scan") {
    val p = plan(SparkEntry.queries("sink_zorder")(spark, sf("sf0.001")))
    assert("PushedFilters: \\[[^\\]]*bx".r.findFirstIn(p).isDefined &&
      "PushedFilters: \\[[^\\]]*by".r.findFirstIn(p).isDefined,
      s"both bucket bounds must reach the scan (min/max skipping):\n$p")
  }

  test("sink_hilbert: rectangle predicates reach the clustered read-back scan") {
    val p = plan(SparkEntry.queries("sink_hilbert")(spark, sf("sf0.001")))
    assert("PushedFilters: \\[[^\\]]*bx".r.findFirstIn(p).isDefined &&
      "PushedFilters: \\[[^\\]]*by".r.findFirstIn(p).isDefined,
      s"both bucket bounds must reach the scan (min/max skipping):\n$p")
  }

  test("lr_auc: the only rank window runs over the grid-sized relation (post-agg)") {
    val p = plan(SparkEntry.queries("lr_auc")(spark, sf("sf0.001")))
    // the cumulative window must sit ABOVE the m9 grid aggregate, never
    // on per-doc rows: exactly one Window, and a HashAggregate keyed by
    // m9 below it
    assert("\\bWindow\\b".r.findAllIn(p).length == 1, p)
    assert(p.contains("m9"), p)
  }

  test("incremental hourly merge: both partials aggregate map-side before the merge") {
    val p = plan(SparkEntry.queries("q_incr_agg")(spark, sf("sf0.001")))
    // partial_count / partial_sum markers on both branches
    assert("partial_count".r.findAllIn(p).length >= 2, p)
  }

  test("pipeline_search: composition adds only the dedup exchange over standalone retrieval") {
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange hashpartitioning".r.findAllIn(plan(df)).length
    val standalone = exchanges(SparkEntry.queries("bm25_retrieval")(spark, sf("sf0.001")))
    val composed = exchanges(SparkEntry.queries("pipeline_search")(spark, sf("sf0.001")))
    // the curated survivor relation is materialized once (checkpoint), so
    // the downstream plan is the standalone retrieval's own; the filter
    // is row-local and the keeper dedup is one md5-keyed window whose
    // exchange lives in the (already-run) checkpoint lineage
    assert(composed <= standalone,
      s"composed $composed exchanges vs standalone $standalone budget")
  }

  test("rank windows keep whole-stage codegen") {
    val df = Ranking.withRanks(QueriesMwu.liCells(spark, sf("sf0.001")))
    df.collect() // finalize the adaptive plan so codegen spans materialize
    val p = df.queryExecution.executedPlan.toString
    // codegen'd stages print as "*(n)" in the compact plan string; the
    // projections around the Window operators must stay inside them
    assert(p.contains("*(1)") && p.contains("*(2)"), p)
  }
}
