package graft

import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale legs: each checks a claim the registry sweep (`sf1full`, every
  * gate at 10× rows) cannot — an equality or bound asserted at scale, a
  * growth axis the sweep does not grow, or a committed artifact.
  *
  * `SPARK_GRAFT_SF_DIR=… sbt "runMain graft.ScaleStress <leg> [args]"`
  *
  * A numeric first argument (or none) runs the feature-width MWU leg:
  * lineitem widened into F synthetic features (F × 600k cells at sf0.1)
  * through the full marker pipeline — evidence that the plan scales in
  * the feature dimension (features shard freely across the hash
  * shuffle; every feature has n_obs rows, so partitions stay balanced by
  * construction). `sbt "runMain graft.ScaleStress [nFeatures]"`
  */
object ScaleStress {
  /** Wall-clock / layout expectations are MEASUREMENTS, not invariants:
    * on a loaded or few-core host they can fail spuriously and would
    * abort the whole stress sweep. The JSON line is always printed
    * first; the check itself is a warning unless GRAFT_STRESS_STRICT=1
    * (set in CI-quiet runs where the timing claim is the point).
    * Result-equality asserts stay hard — those are correctness. */
  private def timingCheck(cond: => Boolean, msg: => String): Unit = {
    if (!cond) {
      if (sys.env.get("GRAFT_STRESS_STRICT").contains("1"))
        throw new AssertionError(msg)
      else System.err.println(s"TIMING-CHECK-WARN (noisy-host tolerant): $msg")
    }
  }

  /** A leg runs on the shared session over the input tables' dir with
    * the arguments after its name. */
  type Leg = (SparkSession, String, Array[String]) => Unit

  val legs: Map[String, Leg] = Map(
    "sf1full" -> sf1FullStress,
    "appendproof" -> appendProofStress,
    "serveproof" -> serveProofStress,
    "nearduprecall" -> nearDupRecallStress,
    "neardupserve" -> nearDupServeStress,
    "rebuildproof" -> rebuildProofStress,
    "dedupdegen" -> dedupDegenStress,
    "lpa" -> lpaStress,
    "allpairs" -> allPairsStress,
    "winnow" -> winnowStress,
    "skewjoin" -> skewJoinStress,
    "hilbert" -> hilbertStress,
    "mwuskew" -> mwuSkewStress)

  /** The leg `args` names and its own arguments: a named leg, or the
    * feature-width leg for a numeric (or no) first argument; anything
    * else is a usage message listing the legs. */
  def resolve(args: Array[String]): Either[String, (Leg, Array[String])] =
    args.headOption match {
      case None => Right((featureWidth, args))
      case Some(a) if a.toIntOption.isDefined => Right((featureWidth, args))
      case Some(a) => legs.get(a).map(leg => (leg, args.drop(1))).toRight(
        s"usage: ScaleStress [nFeatures] | <leg> [args]; unknown leg '$a'; " +
          s"legs: ${legs.keys.toSeq.sorted.mkString(", ")}")
    }

  def main(args: Array[String]): Unit = resolve(args) match {
    case Left(usage) =>
      System.err.println(usage)
      sys.exit(2)
    case Right((leg, legArgs)) =>
      val spark = LocalSession()
      try leg(spark, LocalSession.sfDir, legArgs) finally spark.stop()
  }

  /** F deterministic synthetic features per lineitem row: value_i = log1p
    * of a per-feature affine mix of the measures (distinct distributions,
    * all positive), grouped by `grp`. */
  private def syntheticCells(li: DataFrame, nFeat: Int, grp: Column): DataFrame =
    li.select(grp.as("grp"),
        explode(expr(s"sequence(0, ${nFeat - 1})")).as("fi"),
        col("l_extendedprice"), col("l_quantity"), col("l_discount"))
      .select(col("grp"), concat(lit("f"), col("fi")).as("feature_id"),
        log1p(col("l_extendedprice") * (lit(1.0) + col("fi") * col("l_discount"))
          + col("fi") * col("l_quantity")).as("value"))

  /** `m` near-copies of each document: ids `doc_id·m + r`, replica 0 keeps
    * its text and replica r > 0 gets a ` replica<r>` tag (near- but not
    * exact duplicates); `keep` columns pass through. */
  private def taggedReplicas(docs: DataFrame, m: Int, keep: String*): DataFrame =
    docs.select(col("*"), explode(expr(s"sequence(0, ${m - 1})")).as("r"))
      .select(Seq((col("doc_id") * m + col("r")).as("doc_id"),
        when(col("r") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" replica"), col("r").cast("string")))
          .as("text")) ++ keep.map(col): _*)

  /** `m` copies of each embedding: ids `vec_id·m + r`, every component
    * shifted by r·1e-3 so the copies stay distinct. */
  private def jitteredReplicas(emb: DataFrame, m: Int): DataFrame =
    emb.select(col("vec_id"), col("embedding"), col("label"),
        explode(expr(s"sequence(0, ${m - 1})")).as("r"))
      .select((col("vec_id") * m + col("r")).as("vec_id"),
        expr("transform(embedding, x -> cast(x + cast(r as float) * 1e-3f as float))")
          .as("embedding"),
        col("label"))

  /** `m` copies of each document with the alphabet of copy r ROTATED
    * (translate): copies keep the original's internal near-dup structure
    * but share no n-gram vocabulary across copies, so true pairs grow ~m×
    * while a quadratic pair generator would grow m²×. */
  private def rotatedReplicas(docs: DataFrame, m: Int): DataFrame = {
    val abc = "abcdefghijklmnopqrstuvwxyz"
    docs
      .select(col("doc_id"), col("text"), explode(expr(s"sequence(0, ${m - 1})")).as("r"))
      .select((col("doc_id") * m + col("r")).as("doc_id"),
        (0 until m).foldLeft(col("text")) { (acc, r) =>
          when(col("r") === r,
            translate(col("text"), abc, abc.drop(r * 7 % 26) + abc.take(r * 7 % 26)))
            .otherwise(acc)
        }.as("text"))
      .localCheckpoint()
  }

  private val featureWidth: Leg = featureWidthStress

  /** `f`'s value and its wall seconds. */
  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e9)
  }

  private def featureWidthStress(spark: SparkSession, sfDir: String, args: Array[String]): Unit = {
    val nFeat = if (args.nonEmpty) args(0).toInt else 32
    val li = graft.sources.Tables.read(spark, sfDir, "lineitem")
    val cells = syntheticCells(li, nFeat, col("l_returnflag"))
    val nCells = cells.count()
    val (n, sec) = timed(
      Pipeline.markerStats(spark, cells, Pipeline.Config(topN = Some(5))).count())
    println(f"""{"stress":"mwu_pipeline","features":$nFeat,"cells":$nCells,"out_rows":$n,"sec":$sec%.2f,"cells_per_sec":${(nCells / sec).toLong}}""")
  }

  /** Adversarial leg for the MinHash gather cap: N byte-identical docs
    * (the exact-dedup pre-pass deliberately NOT run), so every doc lands
    * in the SAME bucket in every band. Pre-cap this would collect one
    * N-member row per band and OOM the task; with the cap the bucket
    * takes the self-join path and the N²/2 verifications spread across
    * the cluster. `sbt "runMain graft.ScaleStress dedupdegen [nDocs]"` */
  private def dedupDegenStress(spark: SparkSession, sfDir: String, args: Array[String]): Unit = {
    val nDocs = if (args.nonEmpty) args(0).toInt else 3000
    val docs = spark.range(nDocs.toLong).select(col("id").as("doc_id"),
      lit("the same boilerplate document body repeated verbatim across the corpus").as("text"))
    // gatherCap forced tiny so the join fallback carries the whole load
    val (pairs, sec) = timed(Dedup.minHashPairs(docs, numHashes = 16, bands = 4,
      threshold = 0.5, gatherCap = 64).count())
    val expected = nDocs.toLong * (nDocs - 1) / 2
    println(f"""{"stress":"dedup_degenerate","docs":$nDocs,"pairs":$pairs,"expected":$expected,"sec":$sec%.2f}""")
    assert(pairs == expected, s"degenerate clique must yield all pairs: $pairs != $expected")
  }

  /** LPA stress: `replicas` DISJOINT copies of the co-purchase graph
    * (order keys renumbered, part ids offset per copy). Communities of each
    * copy are independent, so community count must scale EXACTLY by the
    * replica factor (a structural correctness check at scale, not just a
    * wall-clock one) while per-round exchanges stay node×degree-sized —
    * per-node throughput should hold or improve as fixed per-round
    * overhead amortizes. */
  private def lpaStress(spark: SparkSession, sfDir: String, args: Array[String]): Unit = {
    val replicas = if (args.nonEmpty) args(0).toInt else 4
    val li = graft.sources.Tables.read(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_partkey")
    def blow(m: Int) = li.select(col("l_orderkey"), col("l_partkey"),
        explode(expr(s"sequence(0, ${m - 1})")).as("r"))
      .select((col("l_orderkey") * m + col("r")).as("l_orderkey"),
        (col("l_partkey") + col("r") * 10000000L).as("l_partkey"))
    def leg(m: Int): (Long, Long, Double) = {
      val (out, sec) = timed(graft.operators.Graph.labelCommunities(blow(m)).collect())
      (out.length.toLong, out.map(_.getLong(1)).sum, sec)
    }
    val (c1, n1, s1) = leg(1)
    val (cR, nR, sR) = leg(replicas)
    require(cR == replicas * c1 && nR == replicas * n1,
      s"disjoint copies must yield exactly ${replicas}x the communities/nodes: " +
        s"got $cR/$c1 communities, $nR/$n1 nodes")
    println(f"""{"stress":"graph_lpa","replicas":$replicas,"communities":$cR,"nodes":$nR,"sec1":$s1%.2f,"secR":$sR%.2f,"nodes_per_sec":${(nR / sR).toLong}}""")
  }

  /** Skewed-GROUP MWU leg: the synthetic features are uniform by
    * construction (every feature has n_obs rows, so the feature-hash
    * shuffle balances), but extension users group by skewed keys — one
    * language or condition holding 90% of observations. This leg runs
    * the FULL marker pipeline twice on identical cells, once with the
    * natural l_returnflag groups and once with 90% of rows collapsed
    * onto one HOT group, and reports the ratio. The chain is skew-
    * resistant by design: the rank window partitions by (feature_id,
    * value bucket) — the `double_sort_bucket` split of each feature's
    * value axis, unaffected by group skew — and every per-(feature, group)
    * aggregate combines map-side before the shuffle, so only combined
    * partials travel — the ratio should stay near 1 and the leg asserts
    * it stays under 1.5.
    * `sbt "runMain graft.ScaleStress mwuskew [nFeatures]"` */
  private def mwuSkewStress(spark: SparkSession, sfDir: String, args: Array[String]): Unit = {
    val nFeat = if (args.nonEmpty) args(0).toInt else 16
    val li = graft.sources.Tables.read(spark, sfDir, "lineitem")
    def cells(skewed: Boolean) = syntheticCells(li, nFeat,
      if (skewed) expr("case when l_orderkey % 10 < 9 then 'HOT' else l_returnflag end")
      else col("l_returnflag"))
    def run(skewed: Boolean): Double =
      timed(Pipeline.markerStats(spark, cells(skewed), Pipeline.Config(topN = Some(5))).count())._2
    run(skewed = false) // warm-up: JIT + codegen, not measured
    val uniform = run(skewed = false)
    val skewedSec = run(skewed = true)
    // every lineitem row emits exactly nFeat cells — no need to re-run
    // the explode just to log the count
    val n = li.count() * nFeat
    val ratio = skewedSec / uniform
    println(f"""{"stress":"mwu_skew","features":$nFeat,"cells":$n,"uniform_sec":$uniform%.2f,"skew90_sec":$skewedSec%.2f,"ratio":$ratio%.2f}""")
    timingCheck(ratio < 1.5,
      f"90/10 group skew must not dominate the MWU chain: ratio $ratio%.2f")
  }

  /** Auto-salting skew-join leg: a replicated lineitem fact with 90% of
    * rows collapsed onto ONE planted hot key joins a per-key dim, plain
    * vs [[graft.operators.SkewJoin.skewJoin]]. Broadcast and AQE are
    * disabled for BOTH paths — emulating the 100 TB regime where the dim
    * is not broadcastable and the cluster defaults don't carry AQE's
    * skew splitting — so the plain join funnels the hot key through one
    * reducer while the salted join fans it across nSalt sub-keys. The
    * leg asserts (a) identical aggregates from both paths and (b) a
    * wall-clock win for the salted plan.
    * `sbt "runMain graft.ScaleStress skewjoin [replicas]"` */
  private def skewJoinStress(spark: SparkSession, sfDir: String, args: Array[String]): Unit = {
    val replicas = if (args.nonEmpty) args(0).toInt else 10
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val li = graft.sources.Tables.read(spark, sfDir, "lineitem")
    // 90% of fact rows land on key 0; the rest spread over 1..999
    val fact = li.select(
        expr("case when l_orderkey % 10 < 9 then 0 else 1 + l_orderkey % 999 end").as("k"),
        col("l_extendedprice"), col("l_quantity"),
        explode(expr(s"sequence(0, ${replicas - 1})")).as("r"))
      .localCheckpoint()
    val n = fact.count()
    // 5 dim rows per key: the reduce side REALIZES a 5× join fan-out, so
    // the plain plan's hot partition produces 90% of the output serially
    // — the actual failure mode of a skewed fan-out join (map-side
    // shuffle write is identical for both paths and drops out of the
    // comparison)
    val dim = spark.range(0, 5000).select((col("id") % 1000).as("k"),
      (col("id") * 7 % 13).as("w"))
    def agg(j: org.apache.spark.sql.DataFrame) = j
      // per-joined-row work that a real pipeline does after a fan-out
      // join (format + hash); it runs INSIDE the reduce task, so the
      // plain plan pays 90% of it serially. Exact integer sum (wrapping
      // is deterministic) — order-free, so plan equality is bitwise.
      .agg(count(lit(1)).as("n"),
        sum(expr("xxhash64(concat(cast(l_quantity as string), '|', " +
          "cast(l_extendedprice as string), '|', cast(w as string)))")).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).head
    agg(fact.join(dim, "k")) // warm-up: JIT + codegen, not measured
    val (plainV, plainSec) = timed(agg(fact.join(dim, "k")))
    val (saltV, saltSec) = timed(agg(
      graft.operators.SkewJoin.skewJoin(fact, dim, "k", nSalt = 32, hotRatio = 10)))
    assert(plainV == saltV, s"salted join diverged: $plainV vs $saltV")
    val speedup = plainSec / saltSec
    println(f"""{"stress":"skew_join","rows":$n,"plain_sec":$plainSec%.2f,"salted_sec":$saltSec%.2f,"speedup":$speedup%.2f}""")
    timingCheck(speedup > 1.2,
      f"salting a 90%% hot key must beat the one-reducer funnel: $speedup%.2f")
  }

  /** Hilbert-vs-Morton pruning-effectiveness leg: write lineitem under
    * BOTH clustered layouts at the same file count, then measure what
    * min/max skipping actually prunes — per physical file, the (bx, by)
    * bounds are read back (`input_file_name`) and a file "survives" a
    * rectangle query iff its bounds intersect the rectangle, which is
    * precisely the decision parquet row-group skipping makes from
    * footer stats. Averaged over a 3×3 grid of query rectangles, the
    * Hilbert layout must touch no more files than Morton (its
    * unit-adjacent walk packs tighter rectangles per file — Morton's
    * quadrant diagonals smear both dimensions across file boundaries).
    * `sbt "runMain graft.ScaleStress hilbert [files]"` */
  private def hilbertStress(spark: SparkSession, sfDir: String, args: Array[String]): Unit = {
    val files = if (args.nonEmpty) args(0).toInt else 16
    val li = graft.sources.Tables.read(spark, sfDir, "lineitem")
    val mx = li.agg(max("l_partkey").as("pmax"), max("l_suppkey").as("smax"))
    val bucketed = li.select("l_partkey", "l_suppkey")
      .crossJoin(broadcast(mx))
      .withColumn("bx", expr(graft.operators.Zorder.bucket("l_partkey", "pmax")))
      .withColumn("by", expr(graft.operators.Zorder.bucket("l_suppkey", "smax")))
      .select("bx", "by").localCheckpoint()
    def surviving(keyed: org.apache.spark.sql.DataFrame, keyCol: String): Double = {
      val dir = graft.Scratch.dir(s"graft_prune_$keyCol")
      keyed.repartitionByRange(files, col(keyCol))
        .sortWithinPartitions(keyCol)
        .write.mode("overwrite").parquet(dir)
      val bounds = spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg(min("bx").as("x0"), max("bx").as("x1"),
          min("by").as("y0"), max("by").as("y1"))
        .collect()
      // 3×3 grid of 64×64 query rectangles
      val rects = for (i <- 0 until 3; j <- 0 until 3)
        yield (i * 85L, i * 85L + 63L, j * 85L, j * 85L + 63L)
      rects.map { case (qx0, qx1, qy0, qy1) =>
        bounds.count { b =>
          b.getLong(1) <= qx1 && b.getLong(2) >= qx0 &&
            b.getLong(3) <= qy1 && b.getLong(4) >= qy0
        }
      }.sum.toDouble / rects.size
    }
    val zKeyed = bucketed.withColumn("zk",
      expr(graft.operators.Zorder.morton("bx", "by")))
    var hKeyed = bucketed.selectExpr("bx", "by",
      "bx as hx", "by as hy", "cast(0 as bigint) as hd")
    (0 until 8).foreach { i =>
      val (nx, ny, nd) = graft.operators.Hilbert.level(128 >> i)
      hKeyed = hKeyed.selectExpr("bx", "by", s"$nx as hx__", s"$ny as hy__", s"$nd as hd__")
        .withColumnRenamed("hx__", "hx").withColumnRenamed("hy__", "hy")
        .withColumnRenamed("hd__", "hd")
    }
    val zFiles = surviving(zKeyed.select("bx", "by", "zk"), "zk")
    val hFiles = surviving(hKeyed.select("bx", "by", "hd"), "hd")
    println(f"""{"stress":"hilbert_prune","files":$files,"morton_files_touched":$zFiles%.2f,"hilbert_files_touched":$hFiles%.2f}""")
    timingCheck(hFiles <= zFiles,
      f"hilbert layout must prune at least as well as morton: $hFiles%.2f vs $zFiles%.2f")
  }

  /** All-pairs similarity stress — the Bayardo prefix-filter bound under
    * corpus growth: the corpus is replicated M× with each replica's
    * alphabet ROTATED (translate), so replicas keep the original's
    * internal near-dup structure but share no 3-gram vocabulary across
    * slices — true pairs grow ~M×, while a quadratic candidate
    * generator would grow M²×. For thresholds {0.5, 0.6, 0.8} the leg
    * records candidate-pair count and wall-clock at 1× and M× and
    * REQUIRES the candidate growth to stay linear-ish (< 2M), i.e.
    * candidates track realized selectivity, not N².
    * `sbt "runMain graft.ScaleStress allpairs [replicas]"` */
  private def allPairsStress(spark: SparkSession, sfDir: String, args: Array[String]): Unit = {
    val replicas = if (args.nonEmpty) args(0).toInt else 4
    val docs = graft.sources.Tables.read(spark, sfDir, "documents")
      .select("doc_id", "text").localCheckpoint()
    val one = rotatedReplicas(docs, 1)
    val big = rotatedReplicas(docs, replicas)
    val (n1, nM) = (one.count(), big.count())
    for (t <- Seq(0.5, 0.6, 0.8)) {
      def leg(d: org.apache.spark.sql.DataFrame): (Long, Long, Double) = {
        val cand = graft.operators.TextOps.allPairsCandidates(d, t).count()
        val (pairs, sec) = timed(graft.operators.TextOps.allPairsSimilarity(d, t).count())
        (cand, pairs, sec)
      }
      val (c1, p1, s1) = leg(one)
      val (cM, pM, sM) = leg(big)
      val candRatio = cM.toDouble / math.max(c1, 1L).toDouble
      println(f"""{"stress":"allpairs","threshold":$t,"replicas":$replicas,"docs1":$n1,"docsM":$nM,"cand1":$c1,"candM":$cM,"cand_ratio":$candRatio%.2f,"pairs1":$p1,"pairsM":$pM,"sec1":$s1%.2f,"secM":$sM%.2f}""")
      require(candRatio < 2.0 * replicas,
        f"candidate growth $candRatio%.1fx at ${replicas}x corpus — quadratic regime (N2 would be ${replicas * replicas}x)")
    }
  }

  /** Winnow-overlap stress — the [[allPairsStress]] question for the
    * MOSS fingerprint join: replicate the corpus with ROTATED alphabets
    * (replicas keep internal near-dup structure, share no 5-gram
    * vocabulary across slices), so TRUE overlap pairs grow ~M× and a
    * quadratic pair generator would grow M²×. Requires the emitted pair
    * growth to stay linear-ish. Context: the sf1full replica scheme
    * (suffix-tagged NEAR-IDENTICAL replicas) makes every fingerprint
    * family M× larger and true pairs grow M²× BY CONSTRUCTION — that
    * leg measures output growth, this one isolates plan behavior.
    * `sbt "runMain graft.ScaleStress winnow [replicas]"` */
  private def winnowStress(spark: SparkSession, sfDir: String, args: Array[String]): Unit = {
    val replicas = if (args.nonEmpty) args(0).toInt else 4
    val docs = graft.sources.Tables.read(spark, sfDir, "documents")
      .select("doc_id", "text").localCheckpoint()
    def leg(d: DataFrame): (Long, Double) =
      timed(graft.operators.TextOps.winnowOverlap(d).count())
    val (p1, s1) = leg(rotatedReplicas(docs, 1))
    val (pM, sM) = leg(rotatedReplicas(docs, replicas))
    val ratio = pM.toDouble / math.max(p1, 1L).toDouble
    println(f"""{"stress":"winnow","replicas":$replicas,"pairs1":$p1,"pairsM":$pM,"pair_ratio":$ratio%.2f,"sec1":$s1%.2f,"secM":$sM%.2f}""")
    require(ratio < 2.0 * replicas,
      f"pair growth $ratio%.1fx at ${replicas}x corpus — quadratic regime")
  }

  /** Append-cost flatness proof — the QUANTITATIVE form of the index
    * lifecycle claim ("ingest cost is shard-proportional; the indexed
    * corpus is never rescanned"): append an IDENTICAL fixed-size shard
    * to a 1× index and to an M×-replica index of the same corpus, for
    * both stored indexes (sparse postings and IVF-PQ). If append read
    * the indexed corpus, the M× time would be ~M× the 1× time; if it is
    * shard-proportional + sidecar-sized, the ratio stays near 1 (the
    * sparse df sidecar grows mildly with vocabulary — replicas add
    * replica-tagged trigrams — so its ratio may sit slightly above 1,
    * which the printed sidecar sizes make visible).
    * `sbt "runMain graft.ScaleStress appendproof [replicas]"` */
  private def appendProofStress(spark: SparkSession, sfDir: String, args: Array[String]): Unit = {
    val replicas = if (args.nonEmpty) args(0).toInt else 10
    val docs = graft.sources.Tables.read(spark, sfDir, "documents")
      .localCheckpoint()
    val emb = graft.sources.Tables.read(spark, sfDir, "embeddings")
      .localCheckpoint()
    val nDocs = docs.count()
    // fresh-id shards, identical content for both targets
    val docShard = docs.select((col("doc_id") + 100000000L * replicas).as("doc_id"),
      col("text")).localCheckpoint()
    val embShard = emb.select((col("vec_id") + 100000000L * replicas).as("vec_id"),
      col("embedding"), col("label")).localCheckpoint()
    def sparseLeg(r: Int): (Double, Long) = {
      val idx = graft.Scratch.dir(s"appendproof_sidx_${r}x_")
      graft.operators.SparseIndex.writeSparseIndex(
        if (r == 1) docs else taggedReplicas(docs, r), idx)
      val (_, t) = timed(graft.operators.SparseIndex.appendSparseIndex(docShard, idx))
      (t, spark.read.parquet(s"$idx/dfstats").count())
    }
    def annLeg(r: Int): (Double, Long) = {
      val idx = graft.Scratch.dir(s"appendproof_pq_${r}x_")
      graft.operators.Pq.writeIvfPqIndex(
        if (r == 1) emb else jitteredReplicas(emb, r), idx)
      val (_, t) = timed(graft.operators.Pq.appendIvfPqIndex(embShard, idx))
      (t, spark.read.parquet(s"$idx/cellstats").count())
    }
    // warm both code paths once so neither leg absorbs first-run JIT
    sparseLeg(1); annLeg(1)
    val (s1, v1) = sparseLeg(1)
    val (sM, vM) = sparseLeg(replicas)
    val (a1, c1) = annLeg(1)
    val (aM, cM) = annLeg(replicas)
    println(f"""{"stress":"appendproof","replicas":$replicas,"shard_docs":$nDocs,"sparse_append_1x_sec":$s1%.2f,"sparse_append_${replicas}x_sec":$sM%.2f,"sparse_ratio":${sM / s1}%.2f,"sparse_vocab_1x":$v1,"sparse_vocab_${replicas}x":$vM,"ann_append_1x_sec":$a1%.2f,"ann_append_${replicas}x_sec":$aM%.2f,"ann_ratio":${aM / a1}%.2f,"ann_cells_1x":$c1,"ann_cells_${replicas}x":$cM}""")
  }

  /** Serve-cost flatness proof — the QUANTITATIVE form of the stored-
    * index serving claim ("query cost is proportional to the probed /
    * matched slices, decoupled from how much unqueried corpus the index
    * holds"): build a standing index over a 1× corpus and over an
    * M×-replica corpus, then serve the SAME fixed query set (constant
    * membership — the `*_serve_fixedq` discipline) from both, for both
    * stored indexes. If a serve rescanned the corpus, the M× time would
    * be ~M× the 1× time; index-bounded serving stays near 1. (The
    * sparse ratio sits above the ANN's: a fixed text query still joins
    * postings whose per-token lists grow with the corpus — df-capped,
    * but not partition-pruned away like unprobed IVF cells.) Round-10
    * sibling of [[appendProofStress]], which proved the same flatness
    * for the INGEST verbs. `sbt "runMain graft.ScaleStress serveproof
    * [replicas]"` */
  private def serveProofStress(spark: SparkSession, sfDir: String, args: Array[String]): Unit = {
    val replicas = if (args.nonEmpty) args(0).toInt else 10
    val docs = graft.sources.Tables.read(spark, sfDir, "documents")
      .localCheckpoint()
    val emb = graft.sources.Tables.read(spark, sfDir, "embeddings")
      .localCheckpoint()
    // replica ids = id + rr*N (N = max original id + 1): the ORIGINAL
    // low ids — and hence the fixed query membership (doc_id % 50 == 0,
    // < 500) — are STABLE across replica factors, so the 1x and Mx legs
    // serve literally the same query documents. The old id*M+rr scheme
    // kept the query COUNT equal but swapped in different originals at
    // each size (advice r10), so part of the measured ratio was query
    // composition, not index growth.
    val nOrigDocs = docs.agg(max("doc_id")).head().getLong(0) + 1
    def blowDocs(r: Int) = docs
      .select(col("doc_id"), col("text"), explode(expr(s"sequence(0, ${r - 1})")).as("rr"))
      .select((col("doc_id") + col("rr") * nOrigDocs).as("doc_id"),
        when(col("rr") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" replica"), col("rr").cast("string"))).as("text"))
    val maxQ = 500L
    def sparseLeg(r: Int): (Double, Long) = {
      val idx = graft.Scratch.dir(s"serveproof_sidx_${r}x_")
      graft.operators.SparseIndex.writeSparseIndex(
        if (r == 1) docs else blowDocs(r), idx)
      timed(graft.operators.SparseIndex
        .sparseRetrievalStored(spark, idx, maxQ = maxQ).count()).swap
    }
    def annLeg(r: Int): (Double, Long) = {
      val idx = graft.Scratch.dir(s"serveproof_pq_${r}x_")
      graft.operators.Pq.writeIvfPqIndex(if (r == 1) emb else jitteredReplicas(emb, r), idx)
      timed(graft.operators.Pq
        .ivfAdcTopKStored(emb, idx, maxQ = maxQ).count()).swap
    }
    // warm both code paths once so neither leg absorbs first-run JIT
    sparseLeg(1); annLeg(1)
    val (s1, sr1) = sparseLeg(1)
    val (sM, srM) = sparseLeg(replicas)
    val (a1, ar1) = annLeg(1)
    val (aM, arM) = annLeg(replicas)
    println(f"""{"stress":"serveproof","replicas":$replicas,"fixed_q_cap":$maxQ,"sparse_serve_1x_sec":$s1%.2f,"sparse_serve_${replicas}x_sec":$sM%.2f,"sparse_ratio":${sM / s1}%.2f,"sparse_rows_1x":$sr1,"sparse_rows_${replicas}x":$srM,"ann_serve_1x_sec":$a1%.2f,"ann_serve_${replicas}x_sec":$aM%.2f,"ann_ratio":${aM / a1}%.2f,"ann_rows_1x":$ar1,"ann_rows_${replicas}x":$arM}""")
  }

  /** Registry rows whose timed query SERVES a once-per-corpus
    * cache-or-compute artifact (dataKey-keyed tmpdir parquet / bucketed
    * table): the sweep pre-warms these at each dir so the recorded time
    * is the serve, with the pre-warm wall-clock disclosed alongside.
    * Build scaling for each artifact is carried by its builder sibling
    * (multimodal_features, dedup_decide, dedup_ngram_banded, the sparse/
    * ANN lifecycle rows). */
  private val storedServeQueries: Set[String] = Set(
    "bm25_stored", "bm25_serve_fixedq", "bm25_lifecycle_serve",
    "sparse_stored", "sparse_lifecycle_serve", "sparse_serve_fixedq",
    "neardup_index_stored", "neardup_lifecycle_serve", "data_card_ndhealth",
    "multimodal_features_stored", "pipeline_curate_ndidx", "data_card_ndin",
    "ann_serve_fixedq", "mwu_rank_bucket", "mwu_rank_bucket_agg")

  /** Documented brute-force / growing-universe exactness anchors → the
    * bounded-candidate sibling that carries the same semantics at scale.
    * Superlinearity in a labeled row is the stated price of exactness,
    * not a regression; an UNLABELED superlinear row is a finding. */
  private val anchorOf: Map[String, String] = Map(
    "allpairs_similarity" -> "allpairs_banded",
    "dedup_winnow" -> "dedup_winnow_banded",
    "dedup_incremental_winnow" -> "dedup_incremental_winnow_banded",
    "dedup_incremental_winnow_bloom" -> "dedup_incremental_winnow_banded",
    "dedup_ngram" -> "dedup_ngram_banded",
    "decontaminate" -> "decontaminate_fixed",
    "decontaminate_winnow" -> "decontaminate_winnow_fixed",
    "knn_classify" -> "knn_classify_ivf",
    "emb_neardup_exact" -> "emb_neardup_probe",
    "ann_rerank" -> "ann_rerank_ivf")

  /** FULL-registry sf1 leg: every fact axis grows `replicas`× — lineitem
    * row-identical (the aggregate/join fan-out axis), documents as
    * tagged near-dup replicas ([[taggedReplicas]] — keeps near-dup pair
    * growth linear instead of quadratic-by-construction), events
    * id/user-shifted (per-user session shapes preserved), embeddings
    * jittered ([[jitteredReplicas]]) — then EVERY registry query runs
    * once at sf0.1 and once at the replicated sf1, emitting one JSON line
    * per query with both wall-clocks and the ratio. Any plan that
    * silently tips from broadcast to sort-merge-with-spill (or to a quadratic
    * candidate join) between sf0.1 and sf1 shows up as an outlier
    * ratio. Single-pass timings — the question is plan capacity, and
    * outliers get re-examined individually, so per-query noise is
    * acceptable. Note: probe-set families (every-50th-id ann/retrieval
    * queries) grow their QUERY COUNT with the corpus by construction —
    * their ratios read as work×queries, documented in STATUS.
    * `sbt "runMain graft.ScaleStress sf1full [replicas]"` */
  private def sf1FullStress(spark: SparkSession, sfDir: String, args: Array[String]): Unit = {
    val replicas = if (args.nonEmpty) args(0).toInt else 10
    val outDir = s"/tmp/graft_sf1full_x$replicas"
    val T = graft.sources.Tables
    if (!new java.io.File(s"$outDir/_READY").exists()) {
      Seq("region", "nation", "customer", "supplier", "part", "orders").foreach { t =>
        T.read(spark, sfDir, t).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      }
      val rep = explode(expr(s"sequence(0, ${replicas - 1})")).as("r")
      T.read(spark, sfDir, "lineitem")
        .select(col("*"), rep).drop("r")
        .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
      taggedReplicas(T.read(spark, sfDir, "documents"), replicas,
          "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
      jitteredReplicas(T.read(spark, sfDir, "embeddings"), replicas)
        .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
      T.read(spark, sfDir, "events")
        .select(col("*"), rep)
        .select((col("event_id") * replicas + col("r")).as("event_id"),
          (col("ts") + col("r") * 1000L).as("ts"),
          (col("user_id") + col("r") * 10000000L).as("user_id"),
          col("event_type"), col("value"), col("props"))
        .write.mode("overwrite").parquet(s"$outDir/events.parquet")
      new java.io.File(s"$outDir/_READY").createNewFile()
    }
    // optional 2nd arg: comma-separated name filter — rerun a subset
    // (e.g. a round's additions) against the already-built replica set
    // without paying the full-registry sweep again
    val names = args.lift(1) match {
      case Some(list) =>
        val requested = list.split(",").toSeq
        val unknown = requested.filterNot(SparkEntry.queries.contains)
        require(unknown.isEmpty,
          s"unknown query name(s) in filter: ${unknown.mkString(", ")}")
        requested
      case None => SparkEntry.queries.keys.toSeq.sorted
    }
    // per-query watchdog (default 10 min, SPARK_GRAFT_SF1_CAP_SEC):
    // a query whose realized mass blows up at 10× is CANCELLED and
    // recorded as capped instead of spilling the disk to death and
    // taking the rest of the sweep with it
    val capMs = sys.env.getOrElse("SPARK_GRAFT_SF1_CAP_SEC", "600").toLong * 1000L
    val timer = new java.util.Timer("sf1full-watchdog", true)
    names.foreach { q =>
      def time(dir: String): Double = {
        val t0 = System.nanoTime()
        val group = s"sf1full_$q"
        spark.sparkContext.setJobGroup(group, q, interruptOnCancel = true)
        val cancel = new java.util.TimerTask {
          def run(): Unit = spark.sparkContext.cancelJobGroup(group)
        }
        timer.schedule(cancel, capMs)
        try { Bench.evalRows(SparkEntry.queries(q)(spark, dir)) }
        finally { cancel.cancel(); spark.sparkContext.clearJobGroup() }
        (System.nanoTime() - t0) / 1e9
      }
      try {
        val extras = new StringBuilder
        if (storedServeQueries(q)) {
          // deterministic warm serve (verdict r14 #1): these rows serve
          // a once-per-corpus cache-or-compute artifact, and their
          // contract is the SERVE cost — but a corpus regeneration
          // rolls the dataKey and leaves the replica-dir cache cold, so
          // an unwarmed sweep times the build instead (the r14 sweep's
          // multimodal_features_stored 57.5x / data_card_ndin 33.8x /
          // pipeline_curate_ndidx 13.1x were exactly that). One
          // untimed pass per dir builds the artifact when absent; its
          // wall-clock is disclosed as *_prewarm_sec (cold ≈ the build
          // cost, already measured by each artifact's builder row).
          val w0 = time(sfDir)
          val w1 = time(outDir)
          extras ++= f""","stored_serve":true,"sf01_prewarm_sec":$w0%.2f,"sf1_prewarm_sec":$w1%.2f"""
        }
        // documented brute-force / growing-universe exactness anchors:
        // the bounded sibling that carries the same semantics at scale
        // (verdict r14 #5 — the label rides the artifact row itself)
        anchorOf.get(q).foreach(a => extras ++= s""","anchor_of":"$a"""")
        val base = time(sfDir)
        val big = time(outDir)
        println(f"""{"stress":"sf1full","query":"$q","replicas":$replicas,"sf01_sec":$base%.2f,"sf1_sec":$big%.2f,"ratio":${big / base}%.2f$extras}""")
      } catch {
        case e: Throwable =>
          val anchor = anchorOf.get(q).map(a => s""","anchor_of":"$a"""").getOrElse("")
          println(s"""{"stress":"sf1full","query":"$q","error":"${e.getClass.getSimpleName}"$anchor}""")
      }
      // free the localCheckpoint blocks the query pinned — across a
      // 237-query double sweep they otherwise accumulate to tens of GB
      // of dead block-manager storage
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      System.gc() // nudge ContextCleaner to reap shuffle files
    }
    timer.cancel()
  }

  /** MEASURED recall of the banded near-dup family against the FULL
    * winnow overlap probe on the NON-planted word-soup corpus (verdict
    * r12 #4: the recall-1.0 spec runs on the planted shifted-copy
    * regime; the adversarial sf1 corpus — where the full pair
    * watchdog-caps — had no measured recall row). The full probe is
    * made affordable by SAMPLING the incoming side: universe = full
    * history (doc_id % 5 < 4 over `replicas`× replicated documents)
    * ∪ a 1/sampleMod slice of the incoming docs; ground truth
    * ([[Dedup.incrementalWinnow]] — NO df cut), the banded operator
    * ([[Dedup.incrementalWinnowBanded]] — df cut + LSH candidates) and
    * the standing [[NearDupIndex]] serve (frozen build-corpus cut) all
    * run on that SAME universe, so statuses compare row by row.
    * Disagreement is two-sided by design: the df cut removes
    * boilerplate fps from BOTH the shared count and the containment
    * denominator, so the banded verdict can flag docs the full probe
    * keeps as well as miss docs it flags — both directions reported.
    * `sbt "runMain graft.ScaleStress nearduprecall [replicas] [sampleMod]"` */
  private def nearDupRecallStress(spark: SparkSession, sfDir: String, args: Array[String]): Unit = {
    val replicas = if (args.nonEmpty) args(0).toInt else 10
    val sampleMod = if (args.length > 1) args(1).toInt else 20
    // the sf1full replica scheme: fresh ids, replica-tagged texts
    val docs = taggedReplicas(
      graft.sources.Tables.read(spark, sfDir, "documents"), replicas)
    // incoming docs are doc_id ≡ 4 (mod 5); the sample takes every
    // sampleMod-th of THOSE: doc_id ≡ 4 (mod 5·sampleMod) — a plain
    // `% sampleMod == 0` would contradict the mod-5 residue and select
    // nothing (the first cut of this leg did exactly that)
    val universe = docs.filter(
      col("doc_id") % 5 < 4 ||
        col("doc_id") % (5L * sampleMod) === 4)
      .localCheckpoint()
    // each verdict relation is checkpointed WHILE timed, so the
    // artifact carries per-operator wall clock on the same universe
    // (single evaluation; the comparison join reads the checkpoints)
    val opSec = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def verdicts(df: => org.apache.spark.sql.DataFrame, name: String) = {
      val t0 = System.nanoTime()
      val out = df.select(col("doc_id"), col("status").as(name))
        .localCheckpoint()
      opSec(name) = (System.nanoTime() - t0) / 1e9
      out
    }
    val full = verdicts(Dedup.incrementalWinnow(universe), "s_full")
    val banded = verdicts(Dedup.incrementalWinnowBanded(universe), "s_band")
    // the DECOMPOSITION reference: the full pair probe over df-CUT fps
    // (no LSH) — banded_vs_full conflates two effects (the df cut's
    // boilerplate semantics AND any LSH candidate misses); comparing
    // banded against THIS relation isolates the bands' recall alone
    val cutFull = {
      val fps = graft.operators.TextOps.winnow(universe)
        .select("doc_id", "fp").distinct().localCheckpoint()
      val nDocs = universe.select("doc_id").distinct().count()
      val kept = fps.join(
        fps.groupBy("fp").agg(count(lit(1)).as("dfp"))
          .filter(col("dfp") * 10 <= lit(nDocs)).select("fp"), "fp")
        .localCheckpoint()
      val hist = kept.filter(expr("doc_id % 5 < 4"))
        .select(col("doc_id").as("o_id"), col("fp"))
      val inc = kept.filter(expr("doc_id % 5 >= 4"))
      val incSz = inc.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
      def hits(m: org.apache.spark.sql.DataFrame, flag: String) = m
        .filter(col("n_shared") >= 3)
        .join(incSz, "doc_id")
        .filter(col("n_shared") * 2L >= col("n_fp"))
        .select("doc_id").distinct().withColumn(flag, lit(1L))
      val hh = hits(inc.join(hist, "fp")
        .groupBy("doc_id", "o_id").agg(count(lit(1)).as("n_shared")), "h")
      val bb = hits(inc.join(inc.select(col("doc_id").as("o_id"), col("fp")), "fp")
        .filter(col("o_id") < col("doc_id"))
        .groupBy("doc_id", "o_id").agg(count(lit(1)).as("n_shared")), "b")
      incSz.join(hh, Seq("doc_id"), "left").join(bb, Seq("doc_id"), "left")
        .selectExpr("doc_id",
          "case when h is not null then 'dup_history' " +
            "when b is not null then 'dup_batch' else 'kept' end as status")
    }
    val cut = verdicts(cutFull, "s_cut")
    // the r=1 configuration (16 bands × 1 hash): P(candidate) per band
    // is s (Jaccard) not s², so CONTAINMENT-shaped dups — small doc
    // ⊂ big doc, low Jaccard — that r=2 bands miss become reachable:
    // 1-(1-s)^16 vs 1-(1-s²)^8 (s=0.2: 0.97 vs 0.28). Candidate mass
    // rises (any shared argmin collides); this leg measures both sides
    // of that trade on the natural corpus
    val banded16 = verdicts(
      Dedup.incrementalWinnowBanded(universe, bands = 16), "s_b16")
    val idxDir = graft.Scratch.dir("graft_ndrecall_idx_")
    NearDupIndex.writeNearDupIndex(universe.filter(col("doc_id") % 5 < 4), idxDir)
    val idx = verdicts(NearDupIndex.serveNearDup(spark, idxDir,
      universe.filter(col("doc_id") % 5 >= 4)), "s_idx")
    // full outer on doc_id: universes can differ at the margin (the df
    // cut can empty a doc's kept set entirely -> absent from banded/idx)
    val j = full.join(banded, Seq("doc_id"), "left")
      .join(idx, Seq("doc_id"), "left")
      .join(cut, Seq("doc_id"), "left")
      .join(banded16, Seq("doc_id"), "left")
      .selectExpr("doc_id",
        "s_full <> 'kept' as d_full",
        "coalesce(s_band, 'kept') <> 'kept' as d_band",
        "coalesce(s_idx, 'kept') <> 'kept' as d_idx",
        "coalesce(s_cut, 'kept') <> 'kept' as d_cut",
        "coalesce(s_b16, 'kept') <> 'kept' as d_b16")
      .localCheckpoint()
    def agg(ref: String, flag: String): (Long, Long, Long) = {
      val r = j.selectExpr(
        s"coalesce(sum(case when $ref and $flag then 1 else 0 end), 0) as hit",
        s"coalesce(sum(case when $ref and not $flag then 1 else 0 end), 0) as miss",
        s"coalesce(sum(case when not $ref and $flag then 1 else 0 end), 0) as extra").head
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val n = j.count()
    val nFullDup = j.filter(col("d_full")).count()
    val nCutDup = j.filter(col("d_cut")).count()
    val (bh, bm, bx) = agg("d_full", "d_band")
    val (ih, im, ix) = agg("d_full", "d_idx")
    // vs the cut-full reference: isolates LSH candidate recall from the
    // df cut's (intended) boilerplate semantics
    val (cbh, cbm, cbx) = agg("d_cut", "d_band")
    val (cih, cim, cix) = agg("d_cut", "d_idx")
    val (c16h, c16m, c16x) = agg("d_cut", "d_b16")
    def rec(h: Long, m: Long) = if (h + m == 0) 1.0 else h.toDouble / (h + m)
    val secs = opSec.map { case (k, v) => f""""$k":$v%.2f""" }
      .mkString("{", ",", "}")
    println(f"""{"stress":"neardup_recall","op_sec":$secs,"replicas":$replicas,"sample_mod":$sampleMod,"sampled_incoming":$n,"full_dups":$nFullDup,"cutfull_dups":$nCutDup,"banded_recall_vs_full":${rec(bh, bm)}%.4f,"banded_extra_vs_full":$bx,"index_recall_vs_full":${rec(ih, im)}%.4f,"index_extra_vs_full":$ix,"banded_recall_vs_cutfull":${rec(cbh, cbm)}%.4f,"banded_extra_vs_cutfull":$cbx,"banded_miss_vs_cutfull":$cbm,"index_recall_vs_cutfull":${rec(cih, cim)}%.4f,"index_extra_vs_cutfull":$cix,"index_miss_vs_cutfull":$cim,"banded16_recall_vs_cutfull":${rec(c16h, c16m)}%.4f,"banded16_extra_vs_cutfull":$c16x,"banded16_miss_vs_cutfull":$c16m}""")
  }

  /** Verdict r14 #3's closing A/B: the r14 `neardupcrudab` leg (since
    * deleted; its table is STATUS.md §5) measured the seed-grown serve
    * regime (2.4× slower than a fresh build; 240
    * crowded-but-unfrozen buckets) and PINNED it with "rebuild at ~2×
    * growth" as a documented-but-unenforced trigger. This leg runs the
    * verb that now enforces it: build the 1/3-seed growth sequence,
    * measure the grown serve, let [[NearDupIndex.rebuildNearDupIndexIfDrifted]]
    * read the driftlog and trip on the default any-cap-grown-bucket
    * threshold, and measure the post-rebuild serve — which should land
    * at the fresh-build level the A/B established (9.6 s vs 23.4 s at
    * 10×).
    * `sbt "runMain graft.ScaleStress rebuildproof [replicas]"` */
  private def rebuildProofStress(spark: SparkSession, sfDir: String, args: Array[String]): Unit = {
    val replicas = if (args.nonEmpty) args(0).toInt else 10
    val docs = taggedReplicas(
      graft.sources.Tables.read(spark, sfDir, "documents"), replicas).localCheckpoint()
    val hist = col("doc_id") % 5 < 4
    val doomed = col("doc_id") % 10 === 1
    val inc = docs.filter(col("doc_id") % 5 >= 4).localCheckpoint()
    // the gate's growth sequence: 1/3 seed build, two appends, deletes
    val idx = graft.Scratch.dir("ndrebuildproof_")
    NearDupIndex.writeNearDupIndex(
      docs.filter(hist && col("doc_id") % 3 === 0), idx)
    NearDupIndex.appendNearDupIndex(
      docs.filter(hist && col("doc_id") % 3 === 1), idx)
    NearDupIndex.appendNearDupIndex(
      docs.filter(hist && col("doc_id") % 3 === 2), idx)
    NearDupIndex.deleteFromNearDupIndex(
      docs.filter(hist && doomed).select("doc_id")
        .join(NearDupIndex.indexedIds(spark, idx), Seq("doc_id"), "left_semi"),
      idx)
    def serveSec(): Double =
      timed(NearDupIndex.serveNearDup(spark, idx, inc).queryExecution.toRdd.count())._2
    serveSec() // JIT/readahead warm-up, untimed
    val grownPasses = (1 to 3).map(_ => serveSec())
    val sGrown = grownPasses.min
    val live = docs.filter(hist && !doomed)
    val (dec, rebuildSec) = timed(NearDupIndex.rebuildNearDupIndexIfDrifted(live, idx))
    serveSec() // fresh layout warm-up, untimed
    val postPasses = (1 to 3).map(_ => serveSec())
    val sPost = postPasses.min
    println(f"""{"stress":"rebuildproof","replicas":$replicas,"serve_grown_sec":$sGrown%.2f,"rebuilt":${dec.rebuilt},"cap_grown_max":${dec.capGrownBucketsMax},"boiler_max":${dec.newBoilerplateFracMax}%.4f,"rebuild_sec":$rebuildSec%.2f,"serve_postrebuild_sec":$sPost%.2f,"grown_over_post":${sGrown / sPost}%.2f,"passes_grown":[${grownPasses.map(p => f"$p%.2f").mkString(",")}],"passes_post":[${postPasses.map(p => f"$p%.2f").mkString(",")}]}""")
    assert(dec.rebuilt,
      s"the growth sequence must trip the default rebuild trigger: $dec")
  }

  /** Backfill-regime near-dup serve: the standing index built over the
    * WHOLE corpus, then a corpus-sized (replicated, near-copy) shard
    * served through [[NearDupIndex.serveNearDup]] with the AUTO size
    * gate — the estimate exceeds `autoBroadcastJoinThreshold`, so the
    * serve must take the no-shard-broadcast sort-merge path (verdict
    * r12 #2: the unconditional broadcast would be driver-mass here).
    * Hard asserts: the serve completes (no driver OOM) and the
    * replicas of indexed docs — near-copies by construction — come
    * back `dup_history`/`dup_batch`, proving the fallback path answers,
    * not just survives.
    * `sbt "runMain graft.ScaleStress neardupserve [replicas]"` */
  private def nearDupServeStress(spark: SparkSession, sfDir: String, args: Array[String]): Unit = {
    val replicas = if (args.nonEmpty) args(0).toInt else 4
    val docs = graft.sources.Tables.read(spark, sfDir, "documents")
      .select("doc_id", "text")
    val nHist = docs.count()
    val idx = graft.Scratch.dir("graft_ndsrv_stress_")
    NearDupIndex.writeNearDupIndex(docs, idx)
    // shard: `replicas` near-copies of every corpus doc (fresh ids, a
    // replica-tagged token appended so copies are near- not exact)
    val shard = docs.select(col("doc_id"), col("text"),
        explode(expr(s"sequence(0, ${replicas - 1})")).as("r"))
      .select((col("doc_id") * replicas + col("r") + lit(1000000000L)).as("doc_id"),
        concat(col("text"), lit(" replicatag"), col("r")).as("text"))
    val shardDocs = nHist * replicas
    // replicate the serve's size estimate so the artifact RECORDS that
    // the auto gate chose the fallback (shard fp mass × 8 B alone must
    // exceed the broadcast threshold for this leg to test what it
    // claims to)
    val totFps = graft.operators.TextOps.winnow(shard)
      .select("doc_id", "fp").distinct().count()
    val thresh = spark.sessionState.conf.autoBroadcastJoinThreshold
    val fallback = totFps * 8L + shardDocs * 64L > thresh
    val t0 = System.nanoTime()
    val out = NearDupIndex.serveNearDup(spark, idx, shard)
      .groupBy("status").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sec = (System.nanoTime() - t0) / 1e9
    val served = out.values.sum
    val dupFrac = (out.getOrElse("dup_history", 0L) +
      out.getOrElse("dup_batch", 0L)).toDouble / math.max(served, 1L)
    println(f"""{"stress":"neardup_serve_backfill","replicas":$replicas,"index_docs":$nHist,"shard_docs":$shardDocs,"shard_fps":$totFps,"fallback":$fallback,"served":$served,"dup_frac":$dupFrac%.4f,"sec":$sec%.2f}""")
    assert(fallback, s"leg must exercise the no-broadcast regime: " +
      s"shard fp mass ${totFps * 8L} B vs threshold $thresh B — raise replicas")
    assert(dupFrac > 0.8,
      s"backfill serve must recognize replica near-copies: $out")
  }
}
