package graft.operators

import graft.oracle.Parity
import graft.oracle.Parity.{Dialect, DuckD, SparkD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (builder north star,
  * SURVEY.md §7.6).
  *
  * Baseline: brute-force cosine top-k — O(|Q|·N·d) but fully distributed:
  * the (small) query set broadcasts, candidates stream through a codegen'd
  * projection, and top-k is a per-query window. The dot product is an
  * explicit left-associated chain ([[Parity.dot]]) — a strict sequential
  * fold in both engines, so cosine is bit-deterministic and the oracle
  * needs no rounding.
  *
  * Scale path: [[lshBuckets]] — random-hyperplane (SimHash) signatures
  * prune candidates to same-bucket pairs; at 100 TB the bucket join
  * replaces the cross product, trading recall for a ~2^bits fan-in cut.
  */
object Similarity {

  val dim = 64

  /** Adds a deterministic `norm` column. */
  def withNorm(emb: DataFrame, d: Dialect = SparkD, vecCol: String = "embedding"): DataFrame =
    emb.withColumn("norm", expr(s"sqrt(${Parity.dot(d, vecCol, vecCol, dim)})"))

  /** Brute-force cosine top-k: for each query row (`queryPred` selects
    * them), the k nearest other vectors by cosine. */
  def cosineTopK(emb: DataFrame, k: Int = 10, queryEvery: Int = 50): DataFrame = {
    // zero vectors have no cosine: exclude them up front — Spark's NaN
    // compares GREATEST while DuckDB's 0/0 is NULL, so letting them reach
    // the ordering/threshold produces engine-divergent results
    val n = withNorm(emb).filter(col("norm") > 0.0)
    val q = n.filter(col("vec_id") % queryEvery === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("norm").as("q_norm"))
    val c = n.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"), col("norm").as("n_norm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    // no broadcast hint: the query relation is N/queryEvery — corpus-
    // proportional — so a forced broadcast OOMs at scale; the planner
    // broadcasts it while its own estimate is small (the adcTopK
    // precedent)
    q.join(c, col("q_id") =!= col("n_id"))
      .withColumn("cos", when(col("q_norm") * col("n_norm") > 0.0,
        expr(Parity.dot(SparkD, "q_emb", "n_emb", dim)) / (col("q_norm") * col("n_norm")))
        .otherwise(lit(Double.NaN)))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("q_id", "n_id", "cos", "rn")
  }

  /** Random-hyperplane LSH bucket id: sign bits of `bits` fixed ±1
    * projections. A typed mapPartitions kernel (not a 768-term codegen
    * expression, which blew up janino compile time): the sign matrix is
    * a broadcast-sized closure constant, the loop is tight primitive
    * arithmetic — SURVEY.md §7.3 case (d), justified for a fixed numeric
    * kernel.
    *
    * Cross-engine determinism: plane component (b,d) is ±1 from the
    * Carter-Wegman parity of the 1-based dimension index
    * ([[Parity.cwParams]]), and each embedding value is quantized to
    * 2^-20 fixed point (floor(v·2^20 + 0.5) — the [[Parity.fpSum]]
    * pattern) so the projection is an exact BIGINT sum. The bucket id is
    * therefore a pure integer function of the vector, reproducible in
    * DuckDB SQL — the LSH near-dup query hash-checks end-to-end. */
  def lshBuckets(emb: DataFrame, bits: Int = 12,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val mod = Parity.CwMod
    val params = Array.tabulate(bits)(b => Parity.cwParams(b))
    val buckets = emb
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .mapPartitions(_.map { case (id, v) =>
        val q = new Array[Long](v.length)
        var i = 0
        while (i < v.length) {
          q(i) = math.floor(v(i).toDouble * 1048576.0 + 0.5).toLong
          i += 1
        }
        var bucket = 0L
        var b = 0
        while (b < params.length) {
          val (a, c) = params(b)
          var s = 0L; var d = 0
          while (d < q.length) {
            // 1-based dim index matches DuckDB's generate_series(1, dim)
            if ((((d + 1) * a + c) % mod) % 2 == 1) s += q(d) else s -= q(d)
            d += 1
          }
          if (s > 0L) bucket |= (1L << b)
          b += 1
        }
        (id, bucket)
      }).toDF(idCol, "bucket")
    emb.join(buckets, idCol)
  }

  /** IVF (inverted-file) approximate top-k — the scale path for cosine
    * search: a coarse k-means quantizer (spark.ml, seeded) partitions the
    * corpus into `nlist` cells; each query probes only its `nprobe`
    * nearest cells, cutting the scanned fraction to ~nprobe/nlist. At
    * 100 TB the candidate join shuffles on the cluster id (data can be
    * stored bucketed by it), and only the probed cells are read.
    * Hash family is library-internal → rows-only checking; recall vs the
    * exact [[cosineTopK]] is asserted in the spec. */
  def ivfTopK(emb: DataFrame, k: Int = 10, queryEvery: Int = 50,
              nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.vector_to_array
    val spark = emb.sparkSession
    import spark.implicits._
    val vecs = emb.withColumn("v",
      org.apache.spark.ml.functions.array_to_vector(col("embedding").cast("array<double>")))
    // a corpus barely larger than nlist breaks the k-means fit (spark.ml's
    // aggregator AIOOBEs when duplicate/degenerate points collapse the
    // init below k) and makes cell pruning pointless anyway — degrade to
    // the exact scan, which is both correct and faster at that size. The
    // count is one scalar off a pass the fit would do regardless.
    if (vecs.count() < 4L * nlist) return cosineTopK(emb, k, queryEvery)
    // a coarse quantizer needs few iterations — cells only prune the
    // candidate scan, they don't decide the final ranking
    val model = new KMeans().setK(nlist).setSeed(42L).setMaxIter(5)
      .setFeaturesCol("v").setPredictionCol("cluster").fit(vecs)
    val assigned = model.transform(vecs)
      .select(col("vec_id"), col("embedding"), col("cluster"))
    val n = withNorm(assigned).filter(col("norm") > 0.0)
    // tiny centroid relation (nlist rows) — broadcast everywhere
    val centroids = model.clusterCenters.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toArray) }.toDF("cluster", "centroid")
    val cNorm = broadcast(centroids.withColumn("c_norm",
      expr(s"sqrt(${Parity.dot(SparkD, "centroid", "centroid", dim)})")))
    // probe list: nprobe nearest centroids per query by cosine
    val q = n.filter(col("vec_id") % queryEvery === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("norm").as("q_norm"))
    val probeW = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("c_cos").desc, col("cluster").asc)
    val probes = q.crossJoin(cNorm)
      .withColumn("c_cos", expr(Parity.dot(SparkD,
        "q_emb", "centroid", dim)) / (col("q_norm") * col("c_norm")))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nprobe)
      .select("q_id", "q_emb", "q_norm", "cluster")
    // scan only probed cells
    val cand = n.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
      col("norm").as("n_norm"), col("cluster"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    probes.join(cand, Seq("cluster")).filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", when(col("q_norm") * col("n_norm") > 0.0,
        expr(Parity.dot(SparkD, "q_emb", "n_emb", dim)) / (col("q_norm") * col("n_norm")))
        .otherwise(lit(Double.NaN)))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("q_id", "n_id", "cos", "rn")
  }

  /** Driver-gate recall probe for the k-means IVF: per query, the
    * fraction of the exact [[cosineTopK]] result that [[ivfTopK]]
    * recovers, thresholded. The recall VALUE is environment-sensitive —
    * spark.ml's seeded k-means|| init samples per partition, so a
    * different input partitioning can shift cell boundaries and move a
    * borderline neighbor in or out — so the oracle-checked output is the
    * thresholded boolean (constant `true` for every query id when the
    * index is healthy), not the raw fraction: the driver's DuckDB oracle
    * reproduces the exact query-id set and asserts `recall_ok` on each.
    * A degenerate fit (collapsed cells, broken probe selection) drags
    * per-query recall below the floor and turns the row red — a real
    * correctness signal where round 3 had a rows-only carve-out. */
  def ivfRecall(emb: DataFrame, k: Int = 10, queryEvery: Int = 50,
                nlist: Int = 16, nprobe: Int = 4,
                threshold: Double = 0.05): DataFrame = {
    // the q_id universe is built INDEPENDENTLY of the exact top-k (same
    // norm>0 ∧ %queryEvery predicate as the oracle text): a query with
    // zero eligible neighbors would otherwise vanish from the groupBy
    // while the oracle still predicts its row. Zero exact neighbors ⇒
    // nothing to recall ⇒ vacuously ok in both engines.
    val universe = withNorm(emb).filter(col("norm") > 0.0)
      .filter(col("vec_id") % queryEvery === 0)
      .select(col("vec_id").as("q_id"))
    val exact = cosineTopK(emb, k, queryEvery).select("q_id", "n_id")
    val approx = ivfTopK(emb, k, queryEvery, nlist, nprobe)
      .select(col("q_id"), col("n_id")).withColumn("hit", lit(1L))
    val perQ = exact.join(approx, Seq("q_id", "n_id"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_exact"),
        (sum(coalesce(col("hit"), lit(0L))) / lit(k.toDouble)).as("recall"))
    universe.join(perQ, Seq("q_id"), "left")
      .select(col("q_id"),
        (coalesce(col("n_exact"), lit(0L)) === 0L ||
          col("recall") >= threshold).as("recall_ok"))
  }

  /** IVF with a FIXED coarse quantizer: the label partition is the
    * inverted file (cells = per-label fixed-point-mean centroids), so —
    * unlike the k-means [[ivfTopK]] — every step is SQL-expressible and
    * the whole IVF machinery (centroid build, nprobe cell selection by
    * centroid cosine, cell-pruned candidate scan, exact re-rank) runs
    * under the hash-checked oracle instead of a rows-only carve-out.
    * Same physical shape as [[ivfTopK]]: tiny centroid relation
    * broadcasts, candidates join on the cell id (storable bucketed by it
    * at 100 TB), only probed cells are scanned. */
  def ivfLabelTopK(emb: DataFrame, k: Int = 10, queryEvery: Int = 50,
                   nprobe: Int = 3): DataFrame = {
    val n = withNorm(emb).filter(col("norm") > 0.0)
    val probes = labelProbes(emb, queryEvery, nprobe)
    val cand = n.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
      col("norm").as("n_norm"), col("label").cast("long").as("cl"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    probes.join(cand, Seq("cl")).filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", expr(Parity.dot(SparkD, "q_emb", "n_emb", dim)) /
        (col("q_norm") * col("n_norm")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("q_id", "n_id", "cos", "rn")
  }

  /** The probe stage of the fixed-quantizer IVF: per-label fixed-point-
    * mean centroids, each query's `nprobe` nearest cells by centroid
    * cosine. Returns (q_id, q_emb, q_norm, cl) — one row per probed
    * cell. Shared by [[ivfLabelTopK]] (exact re-rank) and
    * [[Pq.ivfAdcTopK]] (ADC re-rank — the IVF-PQ layout). */
  def labelProbes(emb: DataFrame, queryEvery: Int = 50,
                  nprobe: Int = 3): DataFrame =
    probesFromCentroids(emb, labelCentroids(emb), queryEvery, nprobe)

  /** The model half of the fixed-quantizer IVF index: per-label
    * fixed-point-mean centroids with their norms, zero-norm cells
    * excluded (a cell of cancelling vectors has no cosine — x/0 is
    * ±inf/NaN in Spark but NULL in DuckDB, so they must never reach the
    * probe ordering). (cl, centroid, c_norm) — n_cells rows of exact
    * doubles, which is why the relation round-trips a parquet sink
    * bit-identically ([[Pq.writeIvfPqIndex]] stores it as the index
    * sidecar). */
  def labelCentroids(emb: DataFrame): DataFrame =
    centroidsFromStats(cellStats(emb))

  /** Exact per-(cell, dimension) moment relation — the MERGEABLE form
    * of [[labelCentroids]]: a row count and the 2^-20 fixed-point
    * BIGINT sum (the integer inside [[Parity.fpSum]], before its final
    * divide). Integer adds are associative and exact, so shard stats
    * summed into stored stats equal the full-corpus stats bit for bit —
    * which is what makes IVF-PQ index APPEND ([[Pq.appendIvfPqIndex]])
    * provably identical to a full rebuild. n_cells·dim rows — model-
    * sized at any corpus scale. */
  def cellStats(emb: DataFrame): DataFrame = {
    emb.select(col("label").cast("long").as("cl"),
        explode(expr(s"sequence(1, $dim)")).as("d"), col("embedding"))
      .withColumn("v", expr("cast(element_at(embedding, d) as double)"))
      .groupBy("cl", "d")
      .agg(count(lit(1)).as("n"),
        expr("sum(cast(floor(v * 1048576e0 + 5e-1) as bigint))").as("ivs"))
  }

  /** Rebuild the centroid relation from (merged) [[cellStats]] — the
    * fpSum divide deferred to here, so the arithmetic is exactly
    * [[labelCentroids]]' original spelling on the same integers. */
  def centroidsFromStats(stats: DataFrame): DataFrame =
    stats
      .withColumn("cv",
        expr("(cast(ivs as bigint) / 1048576e0) / cast(n as double)"))
      .groupBy("cl")
      .agg(expr("transform(array_sort(collect_list(struct(d, cv))), x -> x.cv)")
        .as("centroid"))
      .withColumn("c_norm",
        expr(s"sqrt(${Parity.dot(SparkD, "centroid", "centroid", dim)})"))
      .filter(col("c_norm") > 0.0)

  /** Probe ranking against a GIVEN centroid relation — the query-time
    * half shared by the in-memory path ([[labelProbes]]) and the
    * stored-index path ([[Pq.ivfAdcTopKStored]], which loads the
    * centroids from parquet instead of recomputing them). */
  def probesFromCentroids(emb: DataFrame, centroids: DataFrame,
                          queryEvery: Int = 50, nprobe: Int = 3,
                          maxQ: Long = Long.MaxValue): DataFrame = {
    val cNorm = broadcast(centroids)
    val n = withNorm(emb).filter(col("norm") > 0.0)
    val q = n.filter(col("vec_id") % queryEvery === 0 && col("vec_id") < maxQ)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("norm").as("q_norm"))
    val probeW = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("c_cos").desc, col("cl").asc)
    q.crossJoin(cNorm)
      .withColumn("c_cos", expr(Parity.dot(SparkD, "q_emb", "centroid", dim)) /
        (col("q_norm") * col("c_norm")))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nprobe)
      .select("q_id", "q_emb", "q_norm", "cl")
  }

  /** Margin-criterion candidate mining — the ratio-margin scoring rule
    * of large-scale parallel-pair mining (Artetxe & Schwenk 2019, public;
    * the filter behind the big public bitext corpora): a neighbor is a
    * confident match not when its cosine is high in absolute terms but
    * when it stands OUT against the query's neighborhood —
    * margin(x,y) = cos(x,y) / mean(cos of x's top-k). Runs entirely on
    * the [[cosineTopK]] relation (one extra windowed aggregate sharing
    * the existing per-query partition, no new shuffle of the corpus).
    * Cross-engine determinism: the neighborhood mean goes through the
    * [[Parity.fpSum]] fixed-point window so it is order-free, the margin
    * divides two bit-identical doubles, and a zero mean (cancelling
    * cosines) yields NULL in both engines rather than engine-divergent
    * inf/NaN. */
  def marginMine(emb: DataFrame, k: Int = 10, queryEvery: Int = 50,
                 threshold: Double = 1.05): DataFrame =
    marginTail(cosineTopK(emb, k, queryEvery), threshold)

  /** [[marginMine]] over the FIXED-quantizer IVF neighborhood instead of
    * the brute scan — the bounded-scale margin miner: the top-k feeding
    * the ratio margin comes from [[ivfLabelTopK]] (probed cells only, so
    * candidate mass is cells-scanned-proportional, never |corpus|² — at
    * 100 TB this is the only way the bitext-mining filter runs at all),
    * and because the fixed quantizer is SQL-expressible the whole chain
    * stays under the hash-checked oracle — unlike the k-means IVF's
    * recall-style gate. */
  def marginMineIvf(emb: DataFrame, k: Int = 10, queryEvery: Int = 50,
                    nprobe: Int = 3, threshold: Double = 1.05): DataFrame =
    marginTail(ivfLabelTopK(emb, k, queryEvery, nprobe)
      .select("q_id", "n_id", "cos"), threshold)

  /** The ratio-margin scoring tail over any (q_id, n_id, cos) top-k
    * relation: per-query fixed-point mean cosine, margin = cos / mean,
    * thresholded. */
  private def marginTail(topk: DataFrame, threshold: Double): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
    val meanCos = (sum(expr("cast(floor(cos * 1048576e0 + 5e-1) as bigint)")).over(w)
      / lit(1048576.0)) / count(lit(1)).over(w).cast("double")
    topk
      .withColumn("mean_cos", meanCos)
      .withColumn("margin",
        when(abs(col("mean_cos")) > 0.0, col("cos") / col("mean_cos")))
      .filter(col("margin") >= threshold)
      .select("q_id", "n_id", "cos", "margin")
  }

  /** DuckDB mirror of [[marginMine]] — [[graft.QueriesLlm]] composes it
    * over the shared brute-cosine CTE text. The explicit bigint cast on
    * the window sum is load-bearing (DuckDB window sum(BIGINT) returns
    * HUGEINT — the text_pack lesson). */
  def marginMineSqlTail(k: Int = 10, threshold: Double = 1.05): String =
    s"""m as (select q_id, n_id, cos,
       | (cast(sum(cast(floor(cos * 1048576e0 + 5e-1) as bigint))
       |    over (partition by q_id) as bigint) / 1048576e0)
       |  / cast(count(*) over (partition by q_id) as double) as mean_cos
       | from topk)
       |select q_id, n_id, cos, margin from (
       | select q_id, n_id, cos,
       |  case when abs(mean_cos) > 0e0 then cos / mean_cos end as margin from m)
       |where margin >= ${Parity.lit(threshold)}""".stripMargin.replace("\n", " ")

  /** Contrastive training-pair generation with HARD negatives — the
    * dual-encoder data-prep op (DPR-style retriever training, public):
    * per anchor, the top-1 neighbor is the positive and ranks
    * [negFrom, negTo] are the hard negatives (near misses — ranked high
    * but not nearest — which carry most of the gradient signal random
    * negatives lack). Everything derives from ONE [[cosineTopK]] pass at
    * k = negTo; the positive×negative assembly is a self-join on q_id
    * over k-pruned rows (tiny, broadcast), so no second corpus scan and
    * no new shuffle of the corpus. Deterministic end-to-end ⇒ fully
    * hash-checked. */
  def trainPairs(emb: DataFrame, negFrom: Int = 11, negTo: Int = 15,
                 queryEvery: Int = 50): DataFrame =
    pairsTail(cosineTopK(emb, negTo, queryEvery), negFrom)

  /** [[trainPairs]] over the FIXED-quantizer IVF neighborhood — the
    * bounded-scale contrastive miner (the [[marginMineIvf]] precedent):
    * the top-k feeding the positive/hard-negative assembly comes from
    * [[ivfLabelTopK]]'s probed cells only, so pair-mining cost tracks
    * cells-scanned, never |corpus|², and — the fixed quantizer being
    * SQL-expressible — the whole chain stays under the hash-checked
    * oracle. IVF hard negatives are, if anything, HARDER: every
    * candidate already shares a coarse cell with the anchor. */
  def trainPairsIvf(emb: DataFrame, negFrom: Int = 11, negTo: Int = 15,
                    queryEvery: Int = 50, nprobe: Int = 3): DataFrame =
    pairsTail(ivfLabelTopK(emb, negTo, queryEvery, nprobe), negFrom)

  /** The positive × hard-negative assembly over any (q_id, n_id, cos,
    * rn ≤ negTo) top-k relation: rank 1 is the positive, ranks
    * [negFrom, negTo] the negatives — a self-join on q_id over k-pruned
    * rows (tiny), no second corpus scan. */
  private def pairsTail(top: DataFrame, negFrom: Int): DataFrame = {
    val pos = top.filter(col("rn") === 1)
      .select(col("q_id"), col("n_id").as("pos_id"), col("cos").as("pos_cos"))
    val neg = top.filter(col("rn") >= negFrom)
      .select(col("q_id"), col("n_id").as("neg_id"), col("cos").as("neg_cos"),
        (col("rn") - negFrom + 1).as("slot"))
    pos.join(neg, Seq("q_id"))
      .select("q_id", "pos_id", "pos_cos", "neg_id", "neg_cos", "slot")
  }

  /** Symmetric int8 quantization of the embedding column — the storage/
    * bandwidth-reduction op of an embedding pipeline. scale = 127/max|v|
    * (max is order-independent), q = clamp(floor(v·scale + 0.5), ±127) —
    * every step IEEE-exact on identical operands, so the long-format
    * output hash-checks against DuckDB. Per-row array math: no shuffle. */
  def quantizeInt8(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), explode(expr(s"sequence(1, $dim)")).as("dim"), col("embedding"))
      .withColumn("mx", expr("array_max(transform(embedding, x -> abs(cast(x as double))))"))
      .withColumn("scale", expr("case when mx > 0e0 then 127e0 / mx else 0e0 end"))
      .withColumn("v", expr("cast(element_at(embedding, dim) as double)"))
      .withColumn("q",
        expr("greatest(-127, least(127, cast(floor(v * scale + 5e-1) as bigint)))"))
      .select(col("vec_id"), col("dim").cast("long").as("dim"), col("q"), col("scale"))

  /** DuckDB mirror of [[quantizeInt8]]. */
  def quantizeInt8Sql: String =
    s"""select vec_id, cast(i as bigint) as dim,
       | greatest(-127, least(127, cast(floor(cast(list_extract(embedding, i) as double) * scale + 5e-1) as bigint))) as q,
       | scale
       |from (select vec_id, embedding, i,
       |  case when mx > 0e0 then 127e0 / mx else 0e0 end as scale
       |  from (select vec_id, embedding, i,
       |   list_max(list_transform(embedding, x -> abs(cast(x as double)))) as mx
       |   from embeddings, generate_series(1, $dim) t(i)))""".stripMargin.replace("\n", " ")

  /** Shared quantize→dequantize round-trip text: x̂ = clamp(round(v·127/mx))
    * · (mx/127). ONE spelling on both engines — the reconstruction error
    * is the quantizer's, not a cross-engine difference. */
  private def deqLambda(v: String): String =
    s"cast(greatest(-127, least(127, cast(floor(cast($v as double) * (127e0 / mx) + 5e-1) as bigint))) as double) * (mx / 127e0)"

  /** Brute-force top-k over SCALAR-quantized codes (faiss `SQ8` style —
    * the simplest memory-reduction ANN: 4× smaller vectors than float32,
    * no codebook to train, unlike [[Pq]]'s sub-vector codebooks). Each
    * vector is dequantized from its int8 codes and the dot runs over the
    * reconstructions — the asymmetric-distance idea applied to scalar
    * codes; at scale only the codes + one scale per vector are stored
    * and the scan bandwidth drops 4×.
    *
    * Plan shape mirrors [[cosineTopK]]: per-row quantize/dequantize
    * array math (zero shuffles), no broadcast hint on the corpus-
    * proportional query side, codegen'd chain_dot, per-query top-k
    * window. Zero vectors carry no scale and are excluded, like the
    * zero-norm rule everywhere else. Determinism: the quantize →
    * dequantize round-trip is floor/clamp/multiply on identical
    * operands and the dot is the strict left-chain — bit-exact without
    * quantization grids. */
  def sqAdcTopK(emb: DataFrame, k: Int = 10, queryEvery: Int = 50): DataFrame = {
    val codes = emb
      .withColumn("mx", expr("array_max(transform(embedding, x -> abs(cast(x as double))))"))
      .filter(col("mx") > 0.0)
      .select(col("vec_id"),
        expr(s"transform(embedding, v -> ${deqLambda("v")})").as("deq"))
    val q = codes.filter(col("vec_id") % queryEvery === 0)
      .select(col("vec_id").as("q_id"), col("deq").as("qd"))
    val c = codes.select(col("vec_id").as("n_id"), col("deq").as("cd"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("score").desc, col("n_id").asc)
    q.join(c, col("q_id") =!= col("n_id"))
      .withColumn("score", expr(Parity.dot(SparkD, "qd", "cd", dim)))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("q_id", "n_id", "score", "rn")
  }

  /** DuckDB mirror of [[sqAdcTopK]]. */
  def sqAdcTopKSql(k: Int = 10, queryEvery: Int = 50): String = {
    val dotQC = Parity.dot(DuckD, "qd", "cd", dim)
    s"""with dq as (select vec_id,
       |  list_transform(embedding, v -> ${deqLambda("v")}) as deq
       | from (select vec_id, embedding,
       |   list_max(list_transform(embedding, x -> abs(cast(x as double)))) as mx
       |   from embeddings) where mx > 0e0),
       |q as (select vec_id as q_id, deq as qd from dq where vec_id % $queryEvery = 0),
       |c as (select vec_id as n_id, deq as cd from dq)
       |select q_id, n_id, score, rn from (
       | select q_id, n_id, score,
       |  cast(row_number() over (partition by q_id order by score desc, n_id asc) as bigint) as rn
       | from (select q_id, n_id, ($dotQC) as score from q join c on q_id <> n_id))
       |where rn <= $k""".stripMargin.replace("\n", " ")
  }

  /** L2 normalization of the embedding column in long format — the
    * preprocessing step every cosine-based pipeline wants done ONCE at
    * ingestion (after it, cosine = plain dot). norm is the same strict
    * left-associated chain dot both engines share ([[Parity.dot]]) and
    * v/norm is one IEEE division on identical operands, so the values are
    * bit-exact with no quantization. Zero vectors (no direction) are
    * excluded like everywhere else. Per-row math + a generator: no
    * shuffle. */
  def l2Normalize(emb: DataFrame): DataFrame = {
    val n = withNorm(emb).filter(col("norm") > 0.0)
    n.select(col("vec_id"), explode(expr(s"sequence(1, $dim)")).as("d"),
        col("embedding"), col("norm"))
      .select(col("vec_id"), col("d").cast("long").as("dim"),
        (expr("cast(element_at(embedding, d) as double)") / col("norm")).as("nv"))
  }

  /** DuckDB mirror of [[l2Normalize]]. */
  def l2NormalizeSql: String = {
    val dotSelf = Parity.dot(Parity.DuckD, "embedding", "embedding", dim)
    s"""select vec_id, cast(i as bigint) as dim,
       | cast(list_extract(embedding, i) as double) / norm as nv
       |from (select vec_id, embedding, sqrt($dotSelf) as norm from embeddings) e,
       | generate_series(1, $dim) t(i)
       |where norm > 0e0""".stripMargin.replace("\n", " ")
  }

  /** Per-DIMENSION z-score standardization across the corpus — feature
    * whitening, the preprocessing PCA / k-means / linear probes want;
    * complements [[l2Normalize]]'s per-VECTOR scaling. Long format
    * (vec_id, dim, z). Each dimension's moments go through
    * [[Parity.fpSum]] (order-free exact sums), so mean and std are
    * bit-identical across engines and z is a chain of IEEE ops on
    * identical operands — bit-exact with no quantization. Constant
    * dimensions (sd = 0) standardize to 0 via an explicit guard spelled
    * identically in both engines (Spark's 0/0 = NaN vs DuckDB's NULL
    * would otherwise diverge — the zero-norm lesson). Plan: one
    * generator explode, one dim-keyed aggregate that combines map-side
    * into a dim-bounded relation (broadcast back), one projection — the
    * corpus shuffles zero times. fpSum overflow contract: holds while
    * max(x²)·n·2^20 < 2^63 (n < ~8e12 rows at |x| ≤ 1). */
  def standardize(emb: DataFrame): DataFrame = {
    val long = emb
      .select(col("vec_id"), explode(expr(s"sequence(1, $dim)")).as("d"), col("embedding"))
      .select(col("vec_id"), col("d").cast("long").as("dim"),
        expr("cast(element_at(embedding, d) as double)").as("x"))
    val mom = long.groupBy("dim").agg(count(lit(1)).as("n"),
      expr(Parity.fpSum("x")).as("sx"), expr(Parity.fpSum("x * x")).as("sxx"))
    val st = mom.selectExpr("dim", "sx / cast(n as double) as mu",
      "sqrt(greatest(sxx / cast(n as double) - (sx / cast(n as double)) * (sx / cast(n as double)), 0e0)) as sd")
    long.join(broadcast(st), "dim")
      .selectExpr("vec_id", "dim",
        "case when sd = 0e0 then 0e0 else (x - mu) / sd end as z")
  }

  /** DuckDB mirror of [[standardize]] — identical moment, guard, and
    * division text; only the element-access spelling differs. */
  def standardizeSql: String =
    s"""with lf as (select vec_id, cast(i as bigint) as dim,
       |  cast(list_extract(embedding, i) as double) as x
       |  from embeddings, generate_series(1, $dim) t(i)),
       |mom as (select dim, cast(count(*) as bigint) as n,
       |  ${Parity.fpSum("x")} as sx, ${Parity.fpSum("x * x")} as sxx from lf group by dim),
       |st as (select dim, sx / cast(n as double) as mu,
       |  sqrt(greatest(sxx / cast(n as double) - (sx / cast(n as double)) * (sx / cast(n as double)), 0e0)) as sd
       |  from mom)
       |select vec_id, dim, case when sd = 0e0 then 0e0 else (x - mu) / sd end as z
       |from lf join st using (dim)""".stripMargin.replace("\n", " ")

  /** Exact near-duplicate pairs within a blocking key (here: the label
    * column): deterministic cosine over all same-block pairs — the
    * oracle-checkable exact counterpart of [[nearDupPairs]]. */
  def nearDupExact(emb: DataFrame, threshold: Double = 0.8,
                   blockCol: String = "label"): DataFrame = {
    val n = withNorm(emb).filter(col("norm") > 0.0)
    val a = n.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
      col("norm").as("norm_a"), col(blockCol))
    val b = n.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"),
      col("norm").as("norm_b"), col(blockCol))
    a.join(b, Seq(blockCol)).filter(col("id_a") < col("id_b"))
      .withColumn("cos", when(col("norm_a") * col("norm_b") > 0.0,
        expr(Parity.dot(SparkD, "emb_a", "emb_b", dim)) / (col("norm_a") * col("norm_b")))
        .otherwise(lit(Double.NaN)))
      .filter(col("cos") >= threshold)
      .select(col(blockCol), col("id_a"), col("id_b"), col("cos"))
  }

  /** Hybrid retrieval: reciprocal-rank fusion (RRF, Cormack et al. 2009)
    * of the dense cosine top-k ([[cosineTopK]] over `embeddings`) and the
    * sparse posting-list top-k ([[TextOps.sparseRetrieval]] over
    * `documents`) — the standard two-tower RAG retrieval shape. Score =
    * Σ over lists of 1/(k0 + rank), absent list contributes 0. Fusion is
    * rank-only (never compares raw cosine against TF-IDF scores), so the
    * arithmetic is two exact integer-denominator divisions and one
    * addition — bit-deterministic cross-engine with no quantization.
    * The q_id universe is the UNION of both retrievers' query sets (a
    * zero-vector query can still retrieve sparsely, an all-stop-gram doc
    * densely) via the full outer join.
    *
    * Scale: both inputs are already top-k-bounded relations (≤ k rows
    * per query), so the fusion join is tiny regardless of corpus size —
    * all the heavy lifting stays in the two retrievers, which keep
    * their own 100 TB paths (IVF for dense, bucketed postings for
    * sparse). */
  def hybridRrf(docs: DataFrame, emb: DataFrame, k: Int = 10,
                queryEvery: Int = 50, k0: Int = 60): DataFrame = {
    val dense = cosineTopK(emb, k, queryEvery)
      .select(col("q_id"), col("n_id").as("doc_id"), col("rn").as("dense_rk"))
    val sparse = TextOps.sparseRetrieval(docs, k, queryEvery)
      .select(col("q_id"), col("doc_id"), col("rk").as("sparse_rk"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("rrf").desc, col("doc_id").asc)
    dense.join(sparse, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(k0) + col("dense_rk")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(k0) + col("sparse_rk")), lit(0.0)))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("q_id", "doc_id", "dense_rk", "sparse_rk", "rrf", "rn")
  }

  /** Semantic deduplication — the SemDeDup shape (Abbas et al. 2023,
    * arXiv:2303.09540): embedding-space near-duplicates are clustered
    * and one representative per cluster is kept, removing paraphrases
    * and re-encodings exact text dedup cannot see. Rendering here:
    * block by the coarse cell ([[nearDupExact]]'s label blocking — at
    * scale the IVF cell assignment), take exact within-cell cosine ≥
    * threshold pairs, collapse to clusters with
    * [[Dedup.clusterLabels]] min-label propagation, keep the min-id
    * member (deterministic; the paper keeps the centroid-farthest — a
    * one-line orderBy swap once a trained centroid column exists).
    * Output: every clustered vector with its cluster and an
    * `is_keeper` flag; unclustered vectors are implicitly kept.
    *
    * Scale: pair generation is quadratic only within a cell (the IVF
    * partitioning bounds cell size), propagation and the keeper window
    * run on the pair-relation-sized label table — the corpus
    * embeddings never reshuffle after cell assignment. */
  def semanticDedup(emb: DataFrame, threshold: Double = 0.3): DataFrame = {
    val pairs = nearDupExact(emb, threshold)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(col("doc_id").asc)
    Dedup.connectedComponents(pairs)
      .withColumn("is_keeper", row_number().over(w) === 1)
      .select(col("cluster_id"), col("doc_id").as("vec_id"), col("is_keeper"))
  }

  /** kNN majority-vote classification: each query vector takes the
    * modal label of its [[cosineTopK]] neighbors (ties: most votes, then
    * smallest label) — the standard weak-labeling / label-propagation
    * shape for annotating an unlabeled slice from a labeled corpus.
    * Emits the query's own label and an `is_correct` flag, so the same
    * relation doubles as the leave-one-out accuracy audit.
    *
    * Scale: votes aggregate the top-k-bounded neighbor relation (≤ k
    * rows/query) and the label side is a two-column projection of the
    * corpus — the vote join shuffles only (q_id, label, count) tuples,
    * never embeddings; the heavy lifting stays in the retriever with
    * its own IVF scale path. */
  def knnClassify(emb: DataFrame, k: Int = 10, queryEvery: Int = 50): DataFrame =
    classifyTail(emb, cosineTopK(emb, k, queryEvery))

  /** [[knnClassify]] over the FIXED-quantizer IVF neighborhood — the
    * bounded-scale weak labeler: votes come from [[ivfLabelTopK]]'s
    * probed cells only (classification cost tracks cells-scanned, never
    * |corpus|²), fully hash-checked through the SQL-expressible fixed
    * quantizer. */
  def knnClassifyIvf(emb: DataFrame, k: Int = 10, queryEvery: Int = 50,
                     nprobe: Int = 3): DataFrame =
    classifyTail(emb, ivfLabelTopK(emb, k, queryEvery, nprobe))

  /** Majority-vote tail over any (q_id, n_id) neighbor relation:
    * label votes, deterministic tie-break, leave-one-out correctness
    * flag. k-pruned inputs — every join here is tiny. */
  private def classifyTail(emb: DataFrame, nbrs: DataFrame): DataFrame = {
    val lbl = emb.select(col("vec_id"), col("label"))
    val votes = nbrs
      .join(lbl.withColumnRenamed("vec_id", "n_id"), "n_id")
      .groupBy("q_id", "label").agg(count(lit(1)).as("votes"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("votes").desc, col("label").asc)
    votes.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .join(lbl.select(col("vec_id").as("q_id"), col("label").as("true_label")), "q_id")
      .select(col("q_id"), col("label").cast("long").as("pred_label"), col("votes"),
        col("true_label").cast("long").as("true_label"),
        (col("label") === col("true_label")).as("is_correct"))
  }

  /** LSH-pruned near-duplicate pairs: same-bucket candidates filtered by
    * true cosine ≥ threshold. */
  def nearDupPairs(emb: DataFrame, threshold: Double = 0.95, bits: Int = 12): DataFrame = {
    val b = withNorm(lshBuckets(emb, bits)).filter(col("norm") > 0.0)
    val a = b.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
      col("norm").as("norm_a"), col("bucket"))
    val c = b.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"),
      col("norm").as("norm_b"), col("bucket"))
    a.join(c, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .withColumn("cos", when(col("norm_a") * col("norm_b") > 0.0,
        expr(Parity.dot(SparkD, "emb_a", "emb_b", dim)) / (col("norm_a") * col("norm_b")))
        .otherwise(lit(Double.NaN)))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** MULTI-PROBE LSH near-dup pairs (Lv et al. 2007, radius-1 probing):
    * each vector probes its own bucket plus every Hamming-1 neighbor, so
    * candidate pairs are those whose sign signatures differ in AT MOST
    * one bit — recovering the near-dups a single hyperplane's sign flip
    * hides from [[nearDupPairs]], WITHOUT extra hash tables (the classic
    * recall/probe-cost knob). Scale shape: the probe fan-out explodes
    * the (id, bucket) relation only (bits+1 longs per vector — the
    * embeddings never replicate), candidates dedupe BEFORE the exact
    * verification joins the vectors back, and everything is bucket/id-
    * keyed equi-joins. */
  def nearDupPairsProbe(emb: DataFrame, threshold: Double = 0.35,
                        bits: Int = 12): DataFrame = {
    val b = withNorm(lshBuckets(emb, bits)).filter(col("norm") > 0.0)
    val flips = (0 until bits).map(i => s"bucket ^ ${1L << i}").mkString(", ")
    val probes = b.select(col("vec_id").as("id_a"), col("bucket"))
      .select(col("id_a"), explode(expr(s"array(bucket, $flips)")).as("bucket"))
    val cand = probes
      .join(b.select(col("vec_id").as("id_b"), col("bucket")), "bucket")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val va = b.select(col("vec_id").as("id_a"),
      col("embedding").as("emb_a"), col("norm").as("norm_a"))
    val vb = b.select(col("vec_id").as("id_b"),
      col("embedding").as("emb_b"), col("norm").as("norm_b"))
    cand.join(va, "id_a").join(vb, "id_b")
      .withColumn("cos",
        expr(Parity.dot(SparkD, "emb_a", "emb_b", dim)) / (col("norm_a") * col("norm_b")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }
}
