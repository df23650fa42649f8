package graft.operators

import graft.oracle.Parity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the memory-bandwidth scale path for
  * vector search (Jégou et al. 2011, public): split each `dim`-d vector
  * into `m` subvectors, quantize each against a per-subspace codebook of
  * `ksub` codewords, and answer queries with asymmetric distance
  * computation (ADC): exact query subvectors against the corpus CODES —
  * per-query work reads `m` bytes per corpus vector instead of `4·dim`,
  * a 32× scan-bandwidth cut here, and the code table is what a
  * 100 TB deployment stores and scans (composing with the IVF cell prune
  * of [[Similarity.ivfTopK]] gives the classic IVF-PQ layout).
  *
  * Cross-engine determinism (unlike trained-k-means PQ, this whole
  * pipeline is oracle-checkable): the codebook is a FIXED deterministic
  * grid — dyadic-rational literals generated from the Carter-Wegman walk
  * ([[Parity.cwParams]]) and embedded in both engines' text — and every
  * distance is an explicit left-associated chain of IEEE ops on
  * identical operands ([[Parity.dot]] discipline), so code assignments,
  * ADC distances, and the top-k order are bit-identical in Spark and
  * DuckDB. Encode runs as a typed mapPartitions kernel (the
  * [[Similarity.lshBuckets]] precedent: a fixed numeric kernel beats a
  * thousand-node codegen expression), with the JVM loop accumulating in
  * the exact order the spelled-out SQL chain does (`0.0 + t1 ≡ t1`).
  *
  * Vectors must have exactly `dim` elements; others are excluded by the
  * shared `size(embedding) = dim` predicate (documented contract, same
  * text both engines).
  */
object Pq {

  val dim: Int = Similarity.dim // 64
  val m = 8                     // subvectors
  val dsub: Int = dim / m       // dims per subvector
  val ksub = 16                 // codewords per subspace

  /** codebook(j)(c)(d): dyadic rationals in (-0.25, 0.25) — k/4096 from
    * the CW walk (the power-of-two denominator makes every literal
    * round-trip exactly into a double). The ±2σ span matches the
    * synthetic embeddings' value distribution (σ ≈ 0.125); a real
    * deployment would train the codebook (per-subspace k-means), which
    * is exactly the library-internal step [[Similarity.ivfTopK]] models
    * — here the grid stays FIXED so the entire encode+ADC pipeline is
    * oracle-checkable. */
  type Codebook = Array[Array[Array[Double]]]

  val codebook: Codebook = {
    val mod = Parity.CwMod
    Array.tabulate(m) { j =>
      val (a, b) = Parity.cwParams(100 + j)
      Array.tabulate(ksub) { c =>
        Array.tabulate(dsub) { d =>
          val idx = (c * dsub + d + 1).toLong
          (((idx * a + b) % mod) % 2047L - 1023L) / 4096.0
        }
      }
    }
  }

  /** Per-subspace k-means-TRAINED codebook — the real PQ deployment step
    * the fixed grid stands in for (Jégou et al. §III: codebooks are
    * learned per subquantizer). Rendered Spark-first as ONE distributed
    * Lloyd's loop over all m subspaces at once, initialized by
    * DETERMINISTIC farthest-point traversal (Gonzalez 2-approx, public)
    * over a hash-smallest rank-bounded sample — a pure function of the data
    * (unlike a seeded k-means|| init) that starts on the data manifold
    * (unlike the fixed grid: grid-init Lloyd measured 0.23 recall vs
    * 0.32 from this init at sf0.001). Each iteration is a single kernel
    * pass that assigns every subvector to its nearest codeword and
    * accumulates per-(subspace, codeword) fixed-point sums (the
    * [[Parity.fpSum]] discipline — integer adds are order-free, so the
    * result is DETERMINISTIC and partition-invariant),
    * tree-combined into the m·ksub·dsub model.
    * 8 separate spark.ml fits cost ~100 scheduler rounds; this costs
    * `iters`. The result is MODEL PARAMETERS — 1024 doubles regardless
    * of corpus size — broadcast-correct at any scale. Lloyd monotonically
    * lowers quantization MSE from the grid init, which is what lifts ADC
    * recall ([[trainedRecall]] gates it; the spec pins trained ≥ grid).
    * Still iterative ⇒ not SQL-expressible ⇒ recall-gated, not
    * hash-checked. Empty cells keep their previous codeword. Fixed-point
    * sums stay exact below ~2^33 vectors per codeword (2^20 · 2^33 =
    * 2^53); shard the training sample beyond that. */
  def trainCodebook(emb: DataFrame, iters: Int = 5,
                    sampleCap: Int = 2048): Codebook = {
    val spark = emb.sparkSession
    import spark.implicits._
    val base = emb.filter(size(col("embedding")) === dim)
    val vecs = base
      .select(col("embedding").cast("array<float>")).as[Array[Float]]
      .rdd.cache()
    try {
      val n = vecs.count()
      if (n < 4L * ksub) return codebook
      // deterministic bounded sample: the sampleCap hash-smallest rows
      // (CW mix of the id ≈ uniform pick), RANK-bounded — an id-stride
      // predicate assumes dense ids: clustered ids over-collect past the
      // driver cap and sparse ids starve the init. Two-phase top-k (the
      // [[Sampling.stratified]] pattern): the partition-local prune is
      // lossless, so the global sort sees ≤ partitions·cap rows.
      val hashed = base.select(col("vec_id"), col("embedding"),
        expr(Parity.cwMix(61, s"(vec_id % ${Parity.CwMod})")).as("h"))
      val local = hashed
        .withColumn("pid", spark_partition_id())
        .withColumn("lrn", row_number().over(
          Window.partitionBy("pid").orderBy(col("h").asc, col("vec_id").asc)))
        .filter(col("lrn") <= sampleCap)
        .drop("pid", "lrn")
      // MEMBERSHIP is hash-based; the collected ORDER is by vec_id, so
      // farthestPointInit's deterministic start (pts(0)) is the lowest
      // sampled id, independent of partitioning and of the hash walk
      val sample = local
        .withColumn("rn", row_number().over(
          Window.orderBy(col("h").asc, col("vec_id").asc)))
        .filter(col("rn") <= sampleCap)
        .select(col("vec_id").cast("long"), col("embedding").cast("array<float>"))
        .as[(Long, Array[Float])]
        .collect().sortBy(_._1).map(_._2)
      // realized-sample guard: the n-row precheck counts the corpus, not
      // the sample — farthestPointInit needs ksub distinct picks, so an
      // under-filled sample falls back to the fixed grid rather than
      // crashing (empty) or collapsing codewords (sub-ksub)
      if (sample.length < ksub) return codebook
      var cb = farthestPointInit(sample)
      var round = 0
      while (round < iters) {
        val bc = cb
        val (sums, cnts) = vecs.treeAggregate(
          (Array.ofDim[Long](m, ksub, dsub), Array.ofDim[Long](m, ksub)))(
          { case (acc @ (s, n), v) =>
            var j = 0
            while (j < m) {
              val c = assign(v, j, bc)
              n(j)(c) += 1L
              var d = 0
              while (d < dsub) {
                s(j)(c)(d) +=
                  math.floor(v(j * dsub + d).toDouble * 1048576.0 + 0.5).toLong
                d += 1
              }
              j += 1
            }
            acc
          },
          { case (a @ (s1, n1), (s2, n2)) =>
            var j = 0
            while (j < m) {
              var c = 0
              while (c < ksub) {
                n1(j)(c) += n2(j)(c)
                var d = 0
                while (d < dsub) { s1(j)(c)(d) += s2(j)(c)(d); d += 1 }
                c += 1
              }
              j += 1
            }
            a
          })
        cb = Array.tabulate(m)(j => Array.tabulate(ksub)(c =>
          if (cnts(j)(c) == 0L) bc(j)(c)
          else Array.tabulate(dsub)(d =>
            (sums(j)(c)(d) / 1048576.0) / cnts(j)(c))))
        round += 1
      }
      cb
    } finally { vecs.unpersist(); () }
  }

  /** Gonzalez farthest-point traversal per subspace over the collected
    * sample: start from the first subvector, greedily add the point
    * maximizing min distance to the chosen set (first-maximum ties →
    * lowest index — deterministic). O(ksub·|sample|·dsub) driver work on
    * a capped sample. */
  private def farthestPointInit(sample: Array[Array[Float]]): Codebook = {
    Array.tabulate(m) { j =>
      val pts = sample.map(v => Array.tabulate(dsub)(d => v(j * dsub + d).toDouble))
      val chosen = scala.collection.mutable.ArrayBuffer(pts(0))
      val minD = Array.fill(pts.length)(Double.MaxValue)
      while (chosen.length < ksub) {
        val last = chosen.last
        var best = -1
        var bestD = -1.0
        var i = 0
        while (i < pts.length) {
          var s = 0.0
          var d = 0
          while (d < dsub) { val t = pts(i)(d) - last(d); s += t * t; d += 1 }
          if (s < minD(i)) minD(i) = s
          if (minD(i) > bestD) { bestD = minD(i); best = i }
          i += 1
        }
        chosen += pts(best)
      }
      chosen.toArray
    }
  }

  /** Left-associated ||x_j - C[j][c]||² for one subvector, matching the
    * spelled SQL chain bit-for-bit. */
  private def subDist(v: Array[Float], j: Int, c: Int,
                      cb: Codebook = codebook): Double = {
    val cw = cb(j)(c)
    var s = 0.0
    var d = 0
    while (d < dsub) {
      val t = v(j * dsub + d).toDouble - cw(d)
      s += t * t
      d += 1
    }
    s
  }

  /** First-minimum argmin over the `ksub` codewords (ties → lowest code,
    * the same winner as the oracle's `case least(...) when ...` text). */
  private def assign(v: Array[Float], j: Int, cb: Codebook = codebook): Int = {
    var best = 0
    var bestD = subDist(v, j, 0, cb)
    var c = 1
    while (c < ksub) {
      val dc = subDist(v, j, c, cb)
      if (dc < bestD) { best = c; bestD = dc }
      c += 1
    }
    best
  }

  /** ENCODE: per vector, the `m` code assignments (vec_id, c0..c7) —
    * the stored representation a PQ deployment scans. Embarrassingly
    * parallel, no shuffle. */
  def codes(emb: DataFrame, cb: Codebook = codebook): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb
      .filter(size(col("embedding")) === dim)
      .select(col("vec_id").cast("long"), col("embedding").cast("array<float>"))
      .as[(Long, Array[Float])]
      .mapPartitions(_.map { case (id, v) =>
        (id, assign(v, 0, cb).toLong, assign(v, 1, cb).toLong, assign(v, 2, cb).toLong,
          assign(v, 3, cb).toLong, assign(v, 4, cb).toLong, assign(v, 5, cb).toLong,
          assign(v, 6, cb).toLong, assign(v, 7, cb).toLong)
      })
      .toDF("vec_id", "c0", "c1", "c2", "c3", "c4", "c5", "c6", "c7")
  }

  /** Per-query ADC distance tables as a RELATION, not driver state:
    * (q_id, dt) where dt[j·ksub + c] = ||q_j − C[j][c]||², computed by
    * the same [[subDist]] kernel as encode, distributed over the query
    * rows — the query set never passes through the driver, so the shape
    * survives a query set proportional to the corpus (the round-3 fix:
    * the previous version `collect()`ed every query to the driver). */
  private def queryTables(emb: DataFrame, queryEvery: Int,
                          cb: Codebook = codebook,
                          maxQ: Long = Long.MaxValue): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb
      .filter(size(col("embedding")) === dim)
      .filter(col("vec_id") % queryEvery === 0 && col("vec_id") < maxQ)
      .select(col("vec_id").cast("long"), col("embedding").cast("array<float>"))
      .as[(Long, Array[Float])]
      .mapPartitions(_.map { case (id, v) =>
        val dt = new Array[Double](m * ksub)
        var j = 0
        while (j < m) {
          var c = 0
          while (c < ksub) { dt(j * ksub + c) = subDist(v, j, c, cb); c += 1 }
          j += 1
        }
        (id, dt)
      }).toDF("q_id", "dt")
  }

  /** ADC distance from the code columns: the left-associated chain
    * Σ_j dt[j·ksub + c_j] — same association order as the JVM kernel it
    * replaced (`0.0 + t_0 ≡ t_0`) and as the SQL [[adcLookup]], so the
    * values stay bit-identical to the oracle. Pure `element_at` lookups:
    * codegen'd, no UDF. */
  private def adcDist: org.apache.spark.sql.Column =
    (0 until m).map(j => expr(s"element_at(dt, cast(c$j as int) + ${j * ksub + 1})"))
      .reduce(_ + _)

  /** ADC top-k: every `queryEvery`-th vector queries the quantized
    * corpus. Pure dataflow: the code table ([[codes]] — what a 100 TB
    * deployment stores) broadcast-joins the per-query distance-table
    * relation ([[queryTables]]), ADC is the codegen'd [[adcDist]] lookup
    * chain, and top-k is the two-phase per-query window
    * ([[Sampling.stratified]] pattern) — no corpus shuffle before the
    * k-pruned survivors, no driver-side state. The query×corpus product
    * is inherent to the BRUTE-FORCE baseline (like [[Similarity
    * .cosineTopK]]); [[ivfAdcTopK]] is the cell-pruned scale path. */
  def adcTopK(emb: DataFrame, k: Int = 10, queryEvery: Int = 50,
              cb: Codebook = codebook): DataFrame = {
    // no broadcast hint: the query relation is N/queryEvery — corpus-
    // proportional, so a forced broadcast OOMs executors at scale. The
    // planner broadcasts it while its estimate is small and falls back
    // to a partitioned nested-loop otherwise (the mwu_orders precedent:
    // never hint an unbounded relation).
    val pairs = codes(emb, cb)
      .join(queryTables(emb, queryEvery, cb), col("q_id") =!= col("vec_id"))
      .withColumn("dist", adcDist)
      .select(col("q_id"), col("vec_id").as("n_id"), col("dist"))
    perQueryTopK(pairs, k)
  }

  /** Exact L2 top-k over the same universe [[adcTopK]] searches (every
    * `queryEvery`-th len-dim vector vs all len-dim vectors) — the ground
    * truth ADC approximates. d² = |a|² + |b|² − 2a·b via the codegen'd
    * chain_dot; the monotone form is fine for an internal ranking (this
    * never meets the DuckDB oracle). */
  def exactL2TopK(emb: DataFrame, k: Int = 10, queryEvery: Int = 50): DataFrame = {
    val base = emb.filter(size(col("embedding")) === dim)
      .withColumn("n2", expr("chain_dot(embedding, embedding)"))
    val q = base.filter(col("vec_id") % queryEvery === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("n2").as("q_n2"))
    val c = base.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
      col("n2").as("n_n2"))
    val w = Window.partitionBy("q_id").orderBy(col("dist").asc, col("n_id").asc)
    // no broadcast hint — corpus-proportional query relation, the
    // planner decides (the adcTopK precedent)
    q.join(c, col("q_id") =!= col("n_id"))
      .withColumn("dist",
        col("q_n2") + col("n_n2") - lit(2.0) * expr("chain_dot(q_emb, n_emb)"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("q_id", "n_id", "dist", "rn")
  }

  /** Driver-gate recall probe for TRAINED-codebook PQ (the `ann_ivf`
    * pattern — see [[Similarity.ivfRecall]] for why the oracle checks a
    * thresholded boolean rather than the environment-sensitive recall
    * value): per query, the fraction of the exact L2 top-k that ADC over
    * the k-means codebook recovers, gated at the at-least-one-hit floor.
    * A collapsed codebook (all codes equal → ADC distances
    * uninformative) drags queries to zero hits and reds the row. */
  def trainedRecall(emb: DataFrame, k: Int = 10, queryEvery: Int = 50,
                    threshold: Double = 0.05): DataFrame = {
    val cb = trainCodebook(emb)
    // the q_id universe is built INDEPENDENTLY of the exact top-k (same
    // predicate as the oracle text): a query with zero eligible
    // neighbors would otherwise vanish from the groupBy while the
    // oracle still predicts its row — guaranteed row-count red on a
    // degenerate dataset. Zero exact neighbors ⇒ nothing to recall ⇒
    // vacuously ok (both engines agree by construction).
    val universe = emb.filter(size(col("embedding")) === dim)
      .filter(col("vec_id") % queryEvery === 0)
      .select(col("vec_id").cast("long").as("q_id"))
    val approx = adcTopK(emb, k, queryEvery, cb)
      .select(col("q_id"), col("n_id")).withColumn("hit", lit(1L))
    val perQ = exactL2TopK(emb, k, queryEvery).select("q_id", "n_id")
      .join(approx, Seq("q_id", "n_id"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_exact"),
        (sum(coalesce(col("hit"), lit(0L))) / lit(k.toDouble)).as("recall"))
    universe.join(perQ, Seq("q_id"), "left")
      .select(col("q_id"),
        (coalesce(col("n_exact"), lit(0L)) === 0L ||
          col("recall") >= threshold).as("recall_ok"))
  }

  /** Two-stage retrieval — the production ANN serving pattern (shortlist
    * from the compressed index, exact re-rank of the survivors): ADC over
    * PQ codes prunes the corpus to `shortlist` candidates per query, then
    * ONLY those rows join back to the full vectors for an exact L2
    * re-rank to `k`. At 100 TB the expensive exact distance touches
    * shortlist·|Q| rows instead of N·|Q| — the whole point of the code
    * table — and the candidate join keys on vec_id (shuffle or broadcast,
    * AQE's call). Fully oracle-checkable: both stages are deterministic
    * (the ADC chain + the chain_dot norm identity on identical operands),
    * so unlike the k-means paths this needs no recall carve-out. */
  def adcRerank(emb: DataFrame, k: Int = 10, shortlist: Int = 50,
                queryEvery: Int = 50): DataFrame = {
    val short = adcTopK(emb, shortlist, queryEvery)
      .select(col("q_id"), col("n_id"))
    rerankExact(emb, short, k, queryEvery)
  }

  /** The exact re-rank tail shared by [[adcRerank]] and
    * [[ivfAdcRerankStored]]: join a (q_id, n_id) shortlist back to the
    * original vectors and rank by exact L2 (d² = |q|² + |n|² − 2q·n via
    * the codegen'd chain_dot). Shortlist-proportional work — the
    * full-precision vectors are only ever read for candidates that
    * survived the quantized screen. */
  private def rerankExact(emb: DataFrame, short: DataFrame, k: Int,
                          queryEvery: Int): DataFrame = {
    val base = emb.filter(size(col("embedding")) === dim)
      .withColumn("n2", expr("chain_dot(embedding, embedding)"))
    val cand = base.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
      col("n2").as("n_n2"))
    val q = base.filter(col("vec_id") % queryEvery === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("n2").as("q_n2"))
    val w = Window.partitionBy("q_id").orderBy(col("dist").asc, col("n_id").asc)
    // equi-join on q_id, no hint — AQE broadcasts the query side while
    // small and shuffle-joins when the query set outgrows it
    short.join(cand, Seq("n_id")).join(q, Seq("q_id"))
      .withColumn("dist",
        col("q_n2") + col("n_n2") - lit(2.0) * expr("chain_dot(q_emb, n_emb)"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("q_id", "n_id", "dist", "rn")
  }

  /** DuckDB mirror of [[adcRerank]]: [[adcSql]]'s CTEs cut at
    * `shortlist`, joined back to the vectors for the exact re-rank. */
  def adcRerankSql(k: Int = 10, shortlist: Int = 50, queryEvery: Int = 50,
                   table: String = "embeddings"): String = {
    val dotQN = Parity.dot(Parity.DuckD, "q_emb", "n_emb", dim)
    val dotQQ = Parity.dot(Parity.DuckD, "q_emb", "q_emb", dim)
    val dotNN = Parity.dot(Parity.DuckD, "n_emb", "n_emb", dim)
    s"""with ${codesCte(s"select vec_id, embedding from $table where len(embedding) = $dim")},
       |qe as (select vec_id as q_id, $extractCols from $table
       |  where vec_id % $queryEvery = 0 and len(embedding) = $dim),
       |qd as (select q_id, $distCols from qe),
       |pairs as (select q_id, vec_id as n_id, $adcLookup as dist
       |  from codes cross join qd where q_id <> vec_id),
       |sl as (select q_id, n_id from (select q_id, n_id, dist,
       |  row_number() over (partition by q_id order by dist asc, n_id asc) as srn
       | from pairs) where srn <= $shortlist),
       |qv as (select vec_id as q_id, embedding as q_emb from $table
       |  where vec_id % $queryEvery = 0 and len(embedding) = $dim),
       |cv as (select vec_id as n_id, embedding as n_emb from $table
       |  where len(embedding) = $dim),
       |rr as (select sl.q_id, sl.n_id,
       |  (($dotQQ) + ($dotNN) - 2e0 * ($dotQN)) as dist
       | from sl join qv on sl.q_id = qv.q_id join cv on sl.n_id = cv.n_id)
       |select q_id, n_id, dist,
       | cast(row_number() over (partition by q_id order by dist asc, n_id asc) as bigint) as rn
       |from rr qualify rn <= $k""".stripMargin.replace("\n", " ")
  }

  /** Two-phase per-query top-k by (dist asc, n_id asc) — the
    * [[Sampling.stratified]] pattern: the partition-local prune is
    * lossless, so the per-query sort runs over ≤ partitions·k rows. */
  private def perQueryTopK(pairs: DataFrame, k: Int): DataFrame = {
    val local = pairs
      .withColumn("pid", spark_partition_id())
      .withColumn("lrn", row_number().over(
        Window.partitionBy("q_id", "pid").orderBy(col("dist").asc, col("n_id").asc)))
      .filter(col("lrn") <= k)
      .drop("pid", "lrn")
    local
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("dist").asc, col("n_id").asc)).cast("long"))
      .filter(col("rn") <= k)
  }

  // ---------------------------------------------------------------- SQL

  /** `(e_i - cw_d)²` chain for subvector j, codeword c, over element
    * columns e1..e64. */
  private def chain(j: Int, c: Int): String = {
    val terms = (0 until dsub).map { d =>
      val e = s"e${j * dsub + d + 1}"
      val l = s"(${Parity.lit(codebook(j)(c)(d))})"
      s"(($e - $l) * ($e - $l))"
    }
    terms.reduce((a, b) => s"($a + $b)")
  }

  private def extractCols: String =
    (1 to dim).map(i => s"list_extract(embedding, $i) as e$i").mkString(", ")

  private def distCols: String =
    (0 until m).flatMap(j => (0 until ksub).map(c => s"${chain(j, c)} as d_${j}_$c"))
      .mkString(", ")

  /** `case least(d_j_0..d_j_15) when d_j_0 then 0 ... end` — the first
    * equal match wins, i.e. lowest code on ties. */
  private def argmin(j: Int): String = {
    val ds = (0 until ksub).map(c => s"d_${j}_$c")
    val whens = (0 until ksub).map(c => s"when d_${j}_$c then $c").mkString(" ")
    s"cast(case least(${ds.mkString(", ")}) $whens end as bigint)"
  }

  /** ADC distance: left-associated sum of per-subvector code lookups —
    * the association order is parity-load-bearing and shared by adcSql,
    * ivfAdcSql, and the JVM kernels. */
  private val adcLookup: String = (0 until m).map { j =>
    val whens = (0 until ksub).map(c => s"when $c then d_${j}_$c").mkString(" ")
    s"(case c$j $whens end)"
  }.reduce((a, b) => s"($a + $b)")

  /** `src` must expose (vec_id, embedding [, extra keys named in
    * `keep`]); emits ce/cd/codes CTEs carrying vec_id + keep. */
  private def codesCte(src: String, keep: String = ""): String =
    s"ce as (select vec_id$keep, $extractCols from ($src) s0), " +
      s"cd as (select vec_id$keep, $distCols from ce), " +
      s"codes as (select vec_id$keep, ${(0 until m).map(j => s"${argmin(j)} as c$j").mkString(", ")} from cd)"

  /** DuckDB mirror of [[codes]]. */
  def codesSql(table: String = "embeddings"): String =
    s"with ${codesCte(s"select vec_id, embedding from $table where len(embedding) = $dim")} " +
      "select * from codes"

  /** IVF-PQ: the classic trillion-scale ANN layout — the fixed-quantizer
    * IVF cell prune ([[Similarity.labelProbes]]) narrows candidates to
    * each query's `nprobe` cells, then ADC over PQ codes re-ranks them.
    * At 100 TB the code table is stored bucketed by cell id, a query
    * reads only its probed buckets, and each candidate costs m bytes —
    * both the scan volume AND the per-candidate bandwidth are pruned.
    * Pure dataflow end-to-end (the round-3 fix — nothing is collected):
    * probes join the cell-keyed code table on the cell id (the shuffle a
    * bucketed layout eliminates), the per-query distance tables join on
    * q_id (broadcast when small, shuffle when not — Spark's stats/AQE
    * decide), and ADC is the codegen'd [[adcDist]] chain.
    * Candidate universe matches `ann_ivf_label` (norm > 0 vectors) so
    * the two re-rankers are directly comparable. */
  def ivfAdcTopK(emb: DataFrame, k: Int = 10, queryEvery: Int = 50,
                 nprobe: Int = 3): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val embF = emb.filter(size(col("embedding")) === dim)
    val probes = Similarity.labelProbes(embF, queryEvery, nprobe)
      .select("q_id", "cl")
    // norm > 0 alone does NOT exclude short vectors (a self-dot has
    // equal lengths, so chain_dot returns a finite norm) — the kernel
    // needs the explicit dim guard of the Pq contract, so the WHOLE
    // pipeline (centroids, probes, candidates) runs on the dim-filtered
    // table, mirrored in the oracle's cg/nn CTEs
    val nn = Similarity.withNorm(embF).filter(col("norm") > 0.0)
    // cell-keyed code table — the stored IVF-PQ representation
    val candCodes = nn
      .select(col("vec_id").cast("long"), col("embedding").cast("array<float>"),
        col("label").cast("long"))
      .as[(Long, Array[Float], Long)]
      .mapPartitions(_.map { case (id, v, cl) =>
        (id, cl, assign(v, 0).toLong, assign(v, 1).toLong, assign(v, 2).toLong,
          assign(v, 3).toLong, assign(v, 4).toLong, assign(v, 5).toLong,
          assign(v, 6).toLong, assign(v, 7).toLong)
      })
      .toDF("vec_id", "cl", "c0", "c1", "c2", "c3", "c4", "c5", "c6", "c7")
    val pairs = probes.join(candCodes, Seq("cl"))
      .filter(col("q_id") =!= col("vec_id"))
      .join(queryTables(nn, queryEvery), Seq("q_id"))
      .withColumn("dist", adcDist)
      .select(col("q_id"), col("vec_id").as("n_id"), col("dist"))
    perQueryTopK(pairs, k)
  }

  /** Explicit read schemas for the stored index: providing the schema
    * (a) pins the hive-partition column `cl` to BIGINT (inference would
    * read `cl=3` as INT, and the resulting cast on the partition
    * attribute can defeat static pruning), and (b) lets an EMPTY index
    * directory read as an empty relation instead of failing schema
    * inference. */
  private val storedCodesSchema =
    "vec_id long, " + (0 until m).map(j => s"c$j long").mkString(", ") + ", cl long"
  private val storedCentroidsSchema = "cl long, centroid array<double>, c_norm double"
  private val storedStatsSchema = "cl long, d int, n long, ivs long"

  /** Persist the IVF-PQ index — index-as-a-system, not per-query
    * rebuild. Two halves:
    *   `dir/codes`     — the cell-keyed code table, hive-partitioned by
    *                     `cl`: m bytes of payload per corpus vector laid
    *                     out one directory per IVF cell, so a query
    *                     physically scans only its `nprobe` probed
    *                     slices (PartitionFilters prune the rest — at
    *                     1000 cells and nprobe=3, 99.7% of the corpus is
    *                     never opened);
    *   `dir/centroids` — the model sidecar ([[Similarity.labelCentroids]]):
    *                     n_cells rows of exact doubles.
    * Both halves round-trip parquet bit-identically (longs and doubles),
    * which is what lets [[ivfAdcTopKStored]] share [[ivfAdcSql]]'s
    * oracle with the rebuild path. Write cost is one corpus encode pass
    * + the hive-partitioned shuffle-free write; it amortizes over every
    * query served from the layout (the checkpoint-or-compute discipline
    * of `mwu_checkpoint`, applied to an ANN index). */
  def writeIvfPqIndex(emb: DataFrame, dir: String,
                      cb: Codebook = codebook): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    // a from-scratch build owns the dir: stale tombstones (a previous
    // lifecycle that died between delete and compact) would silently
    // suppress freshly indexed vec_ids at serve
    IndexFs.deleteRecursive(spark, s"$dir/tombstones")
    val embF = emb.filter(size(col("embedding")) === dim)
    val nn = Similarity.withNorm(embF).filter(col("norm") > 0.0)
    nn.select(col("vec_id").cast("long"), col("embedding").cast("array<float>"),
        col("label").cast("long"))
      .as[(Long, Array[Float], Long)]
      .mapPartitions(_.map { case (id, v, cl) =>
        (id, cl, assign(v, 0, cb).toLong, assign(v, 1, cb).toLong,
          assign(v, 2, cb).toLong, assign(v, 3, cb).toLong,
          assign(v, 4, cb).toLong, assign(v, 5, cb).toLong,
          assign(v, 6, cb).toLong, assign(v, 7, cb).toLong)
      })
      .toDF("vec_id", "cl", "c0", "c1", "c2", "c3", "c4", "c5", "c6", "c7")
      .write.mode("overwrite").partitionBy("cl").parquet(s"$dir/codes")
    // the mergeable exact moment relation behind the centroids — stored
    // so a later APPEND can fold a new shard in without rescanning the
    // already-indexed corpus (n_cells·dim BIGINT rows: model-sized).
    // Materialized ONCE (r15): labelCentroids IS
    // centroidsFromStats∘cellStats, so the old spelling aggregated the
    // full embedding corpus twice per build — the checkpoint is
    // model-sized and the centroid write now derives from it, exactly
    // the append/delete verbs' shape (whose gates prove the derived
    // centroids serve bit-identically to a rebuild's)
    val stats = Similarity.cellStats(embF).localCheckpoint()
    stats.write.mode("overwrite").parquet(s"$dir/cellstats")
    Similarity.centroidsFromStats(stats)
      .select("cl", "centroid", "c_norm")
      .write.mode("overwrite").parquet(s"$dir/centroids")
    // the index OWNS its codebook (verdict r10 #4): m·ksub rows of
    // exact doubles (model-sized — 1024 values), written for every
    // build so append-time encode and serve-time ADC read back the
    // quantizer the codes were produced with. Doubles round-trip
    // parquet bit-exactly, so a stored-then-read codebook encodes and
    // ranks identically to the in-memory one — at 100 TB this is the
    // production shape: train once, sidecar the model, every later
    // verb derives from the artifact, never from "the same default".
    val rows = for (j <- 0 until m; c <- 0 until ksub)
      yield (j, c, cb(j)(c).toSeq)
    spark.createDataFrame(rows).toDF("j", "c", "vals")
      .repartition(1)
      .write.mode("overwrite").parquet(s"$dir/codebook")
  }

  private val storedCodebookSchema = "j int, c int, vals array<double>"

  /** The codebook a stored index was built with, read back from its
    * sidecar; indexes written before the sidecar existed fall back to
    * the fixed default grid (they were encoded with it by construction).
    */
  def readCodebook(spark: SparkSession, dir: String): Codebook = {
    if (!IndexFs.exists(spark, s"$dir/codebook")) return codebook
    val rows = spark.read.schema(storedCodebookSchema)
      .parquet(s"$dir/codebook").collect()
    val cb: Codebook = Array.ofDim[Array[Double]](m, ksub)
    rows.foreach { r =>
      cb(r.getInt(0))(r.getInt(1)) =
        r.getSeq[Double](2).toArray
    }
    require(cb.forall(_.forall(_ != null)),
      s"stored codebook at '$dir/codebook' is incomplete")
    cb
  }

  /** Incremental index ingest — fold a NEW shard into a stored IVF-PQ
    * index ([[writeIvfPqIndex]]) WITHOUT rescanning the indexed corpus:
    *   codes     — the shard encodes through the same fixed codebook
    *               (per-row, shard-sized work) and APPENDS into the
    *               cell-partitioned layout;
    *   cellstats — the shard's exact integer moments ADD onto the
    *               stored ones (BIGINT adds are associative/exact);
    *   centroids — rebuilt from the merged stats with the identical
    *               deferred-divide arithmetic ([[Similarity.centroidsFromStats]]).
    * Both quantizers are fixed (codebook is deterministic; cells are the
    * label quantizer), so encode(old ∪ new) = encode(old) ∪ encode(new)
    * and the merged centroids equal the full-corpus centroids bit for
    * bit — serving from the appended index is therefore IDENTICAL to a
    * full rebuild, which is exactly what `ann_ivfpq_append` proves by
    * sharing [[ivfAdcSql]]'s whole-corpus oracle. Ingest cost is
    * shard-proportional + a model-sized stats merge — the shape a daily
    * 100 TB ingestion pipeline needs (index the delta, not the world). */
  def appendIvfPqIndex(newEmb: DataFrame, dir: String): Unit = {
    val spark = newEmb.sparkSession
    import spark.implicits._
    val embF = newEmb.filter(size(col("embedding")) === dim)
    val nn = Similarity.withNorm(embF).filter(col("norm") > 0.0)
    // ordering constraint (re-insert): an id deleted earlier still has
    // its physical code row in `codes`, suppressed only by the
    // tombstone. Appending the id again would either resurface that
    // stale row (if the tombstone were cleared) or leave the new row
    // shadowed too (tombstone kept) — in both cases stats/centroids and
    // the served answer diverge from a rebuild. Compaction physically
    // drops tombstoned rows and clears the sidecar, after which the id
    // appends cleanly — so a re-insert must compact first, and this
    // shard-sized gate makes the constraint loud instead of letting the
    // rebuild invariant silently break (advice r8).
    IndexFs.requireNotTombstoned(nn, "vec_id", dir, "appendIvfPqIndex", "compactIvfPqIndex")
    // the shard encodes through the codebook STORED WITH THE INDEX —
    // an append may run sessions/days after the build, and encoding
    // with anything but the build's quantizer silently corrupts ADC
    val cb = readCodebook(spark, dir)
    nn.select(col("vec_id").cast("long"), col("embedding").cast("array<float>"),
        col("label").cast("long"))
      .as[(Long, Array[Float], Long)]
      .mapPartitions(_.map { case (id, v, cl) =>
        (id, cl, assign(v, 0, cb).toLong, assign(v, 1, cb).toLong,
          assign(v, 2, cb).toLong, assign(v, 3, cb).toLong,
          assign(v, 4, cb).toLong, assign(v, 5, cb).toLong,
          assign(v, 6, cb).toLong, assign(v, 7, cb).toLong)
      })
      .toDF("vec_id", "cl", "c0", "c1", "c2", "c3", "c4", "c5", "c6", "c7")
      .write.mode("append").partitionBy("cl").parquet(s"$dir/codes")
    // merge stats, then REPLACE both sidecars: localCheckpoint breaks
    // the read-overwrite cycle (Spark cannot lazily read the path it is
    // overwriting) at a model-sized materialization
    val merged = spark.read.schema(storedStatsSchema).parquet(s"$dir/cellstats")
      .unionByName(Similarity.cellStats(embF))
      .groupBy("cl", "d")
      .agg(sum("n").as("n"), sum("ivs").as("ivs"))
      .localCheckpoint()
    merged.write.mode("overwrite").parquet(s"$dir/cellstats")
    Similarity.centroidsFromStats(merged)
      .select("cl", "centroid", "c_norm")
      .write.mode("overwrite").parquet(s"$dir/centroids")
  }

  /** Delete rows from a stored IVF-PQ index — the third lifecycle verb.
    * Takes the deleted ROWS (vec_id, embedding, label), not bare ids:
    * PQ codes are lossy, so the exact stats downdate needs the original
    * vectors (the upstream table has them — the usual delete feed).
    * Two halves:
    *   tombstones — deleted ids append to `dir/tombstones`; serving
    *                anti-joins them so the codes stop answering without
    *                rewriting a single code file (O(deleted) write);
    *   cellstats  — the deleted rows' exact integer moments SUBTRACT
    *                from the stored ones (BIGINT stats form an abelian
    *                group: the same algebra that makes append exact
    *                makes delete exact), cells emptied to n=0 drop, and
    *                the centroids rebuild — bit-identical to indexing
    *                the survivor corpus from scratch, which is what
    *                `ann_ivfpq_delete` proves by sharing the oracle
    *                with a survivors-only rebuild. */
  def deleteFromIvfPqIndex(deleted: DataFrame, dir: String): Unit = {
    val spark = deleted.sparkSession
    // idempotence guard: a re-delivered delete (same id twice, or an id
    // already tombstoned by an earlier call) must be a NO-OP — without
    // this, the stats would subtract twice and the centroids silently
    // corrupt. dropDuplicates dedupes within the batch; the anti-join
    // against existing tombstones dedupes across calls. localCheckpoint
    // pins the filtered set BEFORE the tombstone append below changes
    // the very relation the filter reads (deleted-rows-sized).
    val tombPath = s"$dir/tombstones"
    val incoming = deleted.filter(size(col("embedding")) === dim)
      .dropDuplicates("vec_id")
    val embF = IndexFs.liveOnly(incoming, dir, "vec_id").localCheckpoint()
    embF.select(col("vec_id").cast("long"))
      .write.mode("append").parquet(tombPath)
    val merged = spark.read.schema(storedStatsSchema).parquet(s"$dir/cellstats")
      .unionByName(Similarity.cellStats(embF)
        .select(col("cl"), col("d"), (-col("n")).as("n"), (-col("ivs")).as("ivs")))
      .groupBy("cl", "d")
      .agg(sum("n").as("n"), sum("ivs").as("ivs"))
      .filter(col("n") > 0) // a fully-deleted cell leaves the model
      .localCheckpoint()
    merged.write.mode("overwrite").parquet(s"$dir/cellstats")
    Similarity.centroidsFromStats(merged)
      .select("cl", "centroid", "c_norm")
      .write.mode("overwrite").parquet(s"$dir/centroids")
  }

  /** Compact a stored IVF-PQ index: physically apply the tombstones and
    * rewrite each cell's accumulated small files (every [[appendIvfPqIndex]]
    * adds one file set per cell it touches) into ONE sorted file per
    * cell. Pure layout maintenance — centroids/cellstats are already
    * exact, so only the code table rewrites; serving before and after
    * is bit-identical (`ann_ivfpq_compact` shares the survivors
    * oracle), and the per-cell file count drops to 1 (spec-pinned).
    * The rewrite materializes the live code table once (m+2 longs per
    * vector — the compaction pass any LSM-shaped store pays) and the
    * tombstone sidecar clears, restoring O(1) serve-side filtering. */
  def compactIvfPqIndex(spark: SparkSession, dir: String): Unit = {
    val tombPath = s"$dir/tombstones"
    val codes = spark.read.schema(storedCodesSchema).parquet(s"$dir/codes")
    val live = IndexFs.liveOnly(codes, dir, "vec_id")
    // one task per cell → one file per cell; sorted for scan locality.
    // localCheckpoint materializes before the overwrite of the path
    // being read (Spark cannot lazily read what it is replacing).
    val compacted = live.repartition(col("cl"))
      .sortWithinPartitions("vec_id")
      .localCheckpoint()
    compacted.write.mode("overwrite").partitionBy("cl").parquet(s"$dir/codes")
    IndexFs.deleteRecursive(spark, tombPath)
  }

  /** Serve IVF-PQ top-k from the STORED index ([[writeIvfPqIndex]]):
    * centroids load from the sidecar (no centroid recompute), probes
    * rank against them, and the code scan is STATICALLY pruned to the
    * probed cells — the probed-cell set is bounded by the CELL COUNT
    * (distinct labels), not by corpus or query count, so collecting it
    * to the driver is a model-sized read that turns into a literal
    * partition filter (`PartitionFilters: cl IN (...)`, pinned in
    * PlanSpec). Query cost is therefore proportional to the probed
    * slices' size, independent of how many unprobed cells the corpus
    * grows — plus the m-byte-per-candidate ADC scan bandwidth.
    * Bit-identical to [[ivfAdcTopK]] (shares [[ivfAdcSql]]'s oracle):
    * stored longs/doubles round-trip exactly, and every downstream op
    * is the same expression on the same bits. */
  def ivfAdcTopKStored(emb: DataFrame, indexDir: String, k: Int = 10,
                       queryEvery: Int = 50, nprobe: Int = 3,
                       maxQ: Long = Long.MaxValue): DataFrame = {
    val spark = emb.sparkSession
    val embF = emb.filter(size(col("embedding")) === dim)
    val nn = Similarity.withNorm(embF).filter(col("norm") > 0.0)
    val cents = spark.read.schema(storedCentroidsSchema)
      .parquet(s"$indexDir/centroids")
    val probes = Similarity.probesFromCentroids(embF, cents, queryEvery, nprobe,
        maxQ)
      .select("q_id", "cl")
    // bounded driver collect: ≤ n_cells values (the audited-collects
    // family — model-sized, never corpus-proportional)
    val probedCells = probes.select("cl").distinct().collect().map(_.getLong(0))
    val codesStored = spark.read.schema(storedCodesSchema)
      .parquet(s"$indexDir/codes")
      .filter(col("cl").isin(probedCells.map(Long.box): _*))
    // tombstone-aware serve ([[deleteFromIvfPqIndex]]): deleted ids stop
    // answering without any code-file rewrite; the sidecar is deleted-
    // rows-sized and broadcasts until a compaction clears it
    val codesLive = IndexFs.liveOnly(codesStored, indexDir, "vec_id")
    val pairs = probes.join(codesLive, Seq("cl"))
      .filter(col("q_id") =!= col("vec_id"))
      // ADC LUT from the codebook stored WITH the index — fixed-grid
      // indexes read back the grid bit-identically, trained indexes
      // rank with the quantizer their codes were produced by
      .join(queryTables(nn, queryEvery, readCodebook(spark, indexDir), maxQ),
        Seq("q_id"))
      .withColumn("dist", adcDist)
      .select(col("q_id"), col("vec_id").as("n_id"), col("dist"))
    perQueryTopK(pairs, k)
  }

  /** Is a servable stored IVF-PQ index present at `dir` — all three
    * halves (codes, cellstats, centroids) on the filesystem? The
    * cache-or-compute guard for serve-only gates; scheme-resolved
    * ([[IndexFs]]), so it works against cluster URIs. */
  def isIndexed(spark: SparkSession, dir: String): Boolean =
    IndexFs.exists(spark, s"$dir/codes") &&
      IndexFs.exists(spark, s"$dir/cellstats") &&
      IndexFs.exists(spark, s"$dir/centroids")

  /** IVF-routed exact re-rank — the production serving pattern with the
    * shortlist stage ALSO index-bounded: [[ivfAdcTopKStored]] generates
    * the `shortlist` cheapest-ADC candidates from the probed cells only
    * (static partition pruning — the unprobed corpus is never opened),
    * then [[rerankExact]] reads full-precision vectors for just those
    * candidates. This graduates [[adcRerank]]'s one remaining brute
    * stage (its shortlist scanned ALL codes): query cost is
    * probed-slices ADC + shortlist-sized exact math, independent of how
    * many unprobed cells the corpus grows. Answer quality is the IVF
    * recall contract: exact ranking over the probed-cell shortlist
    * (hash-gated vs the DuckDB mirror; recall vs [[exactL2TopK]]
    * spec-gated). */
  def ivfAdcRerankStored(emb: DataFrame, indexDir: String, k: Int = 10,
                         shortlist: Int = 50, queryEvery: Int = 50,
                         nprobe: Int = 3): DataFrame = {
    val short = ivfAdcTopKStored(emb, indexDir, shortlist, queryEvery, nprobe)
      .select(col("q_id"), col("n_id"))
    rerankExact(emb, short, k, queryEvery)
  }

  /** DuckDB mirror of [[ivfAdcTopK]] — the `ann_ivf_label` probe CTEs
    * composed with the PQ code CTEs and the ADC lookup. */
  def ivfAdcSql(k: Int = 10, queryEvery: Int = 50, nprobe: Int = 3,
                table: String = "embeddings",
                maxQ: Long = Long.MaxValue): String =
    s"""with ${ivfPairsCtes(queryEvery, nprobe, table, maxQ)},
       |ranked as (select q_id, n_id, dist,
       |  cast(row_number() over (partition by q_id order by dist asc, n_id asc) as bigint) as rn
       | from pairs)
       |select q_id, n_id, dist, rn from ranked where rn <= $k"""
      .stripMargin.replace("\n", " ")

  /** DuckDB mirror of [[ivfAdcRerankStored]]: the IVF pair CTEs cut at
    * `shortlist`, joined back to the vectors for the exact re-rank
    * ([[adcRerankSql]]'s tail over [[ivfAdcSql]]'s candidates). */
  def ivfAdcRerankSql(k: Int = 10, shortlist: Int = 50, queryEvery: Int = 50,
                      nprobe: Int = 3, table: String = "embeddings"): String = {
    val dotQN = Parity.dot(Parity.DuckD, "q_emb", "n_emb", dim)
    val dotQQ = Parity.dot(Parity.DuckD, "q_emb", "q_emb", dim)
    val dotNN = Parity.dot(Parity.DuckD, "n_emb", "n_emb", dim)
    s"""with ${ivfPairsCtes(queryEvery, nprobe, table)},
       |sl as (select q_id, n_id from (select q_id, n_id, dist,
       |  row_number() over (partition by q_id order by dist asc, n_id asc) as srn
       | from pairs) where srn <= $shortlist),
       |qv as (select vec_id as q_id, embedding as q_emb from $table
       |  where vec_id % $queryEvery = 0 and len(embedding) = $dim),
       |cv as (select vec_id as n_id, embedding as n_emb from $table
       |  where len(embedding) = $dim),
       |rr as (select sl.q_id, sl.n_id,
       |  (($dotQQ) + ($dotNN) - 2e0 * ($dotQN)) as dist
       | from sl join qv on sl.q_id = qv.q_id join cv on sl.n_id = cv.n_id)
       |select q_id, n_id, dist,
       | cast(row_number() over (partition by q_id order by dist asc, n_id asc) as bigint) as rn
       |from rr qualify rn <= $k""".stripMargin.replace("\n", " ")
  }

  /** The shared IVF-ADC CTE chain (through the probed-cell candidate
    * `pairs` relation) behind [[ivfAdcSql]] and [[ivfAdcRerankSql]]. */
  private def ivfPairsCtes(queryEvery: Int, nprobe: Int,
                           table: String,
                           maxQ: Long = Long.MaxValue): String = {
    val dotSelf = Parity.dot(Parity.DuckD, "embedding", "embedding", dim)
    val dotCC = Parity.dot(Parity.DuckD, "centroid", "centroid", dim)
    val dotQC = Parity.dot(Parity.DuckD, "q_emb", "centroid", dim)
    val qCap = if (maxQ == Long.MaxValue) "" else s" and vec_id < $maxQ"
    s"""tf as (select * from $table where len(embedding) = $dim),
       |cg as (select cast(label as bigint) as cl, i as d,
       |  cast(count(*) as bigint) as n,
       |  ${Parity.fpSum("cast(list_extract(embedding, i) as double)")} as vs
       | from tf, generate_series(1, $dim) t(i) group by cl, i),
       |cent as (select cl, list(cv order by d) as centroid from
       |  (select cl, d, vs / cast(n as double) as cv from cg) group by cl),
       |cn as (select * from (select cl, centroid, sqrt($dotCC) as c_norm from cent)
       |  where c_norm > 0e0),
       |nn as (select * from (select vec_id, embedding, cast(label as bigint) as cl,
       |   sqrt($dotSelf) as norm from tf) where norm > 0e0),
       |q as (select vec_id as q_id, embedding as q_emb, norm as q_norm from nn
       |  where vec_id % $queryEvery = 0$qCap),
       |probes as (select q_id, cl from (
       |  select q.q_id, cn.cl,
       |   row_number() over (partition by q.q_id
       |     order by ($dotQC) / (q.q_norm * cn.c_norm) desc, cn.cl asc) as pr
       |  from q cross join cn) where pr <= $nprobe),
       |${codesCte("select vec_id, cl, embedding from nn", ", cl")},
       |qe as (select q_id, $extractCols from
       |  (select q_id, q_emb as embedding from q) s1),
       |qd as (select q_id, $distCols from qe),
       |pairs as (select p.q_id, codes.vec_id as n_id, $adcLookup as dist
       | from probes p
       |  join codes on p.cl = codes.cl and p.q_id <> codes.vec_id
       |  join qd on qd.q_id = p.q_id)"""
      .stripMargin.replace("\n", " ")
  }

  /** DuckDB mirror of [[adcTopK]]. */
  def adcSql(k: Int = 10, queryEvery: Int = 50, table: String = "embeddings"): String = {
    s"""with ${codesCte(s"select vec_id, embedding from $table where len(embedding) = $dim")},
       |qe as (select vec_id as q_id, $extractCols from $table
       |  where vec_id % $queryEvery = 0 and len(embedding) = $dim),
       |qd as (select q_id, $distCols from qe),
       |pairs as (select q_id, vec_id as n_id, $adcLookup as dist
       |  from codes cross join qd where q_id <> vec_id),
       |ranked as (select q_id, n_id, dist,
       |  row_number() over (partition by q_id order by dist asc, n_id asc) as rn
       | from pairs)
       |select q_id, n_id, dist, rn from ranked where rn <= $k"""
      .stripMargin.replace("\n", " ")
  }
}
