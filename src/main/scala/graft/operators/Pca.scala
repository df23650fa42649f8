package graft.operators

import graft.oracle.Parity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed PCA over the embedding corpus — HASH-CHECKED end to end,
  * which is unusual for an eigen decomposition and possible here because
  * every stage is forced onto cross-engine-deterministic arithmetic:
  *
  *   1. moments: the corpus pass computes E[x_i·x_j] and E[x_i] with
  *      [[Parity.fpSum]] (order-free exact fixed-point sums), so the
  *      centered covariance entries are identical doubles in both
  *      engines. Two spellings of the SAME grid: the dataflow spelling
  *      (one explode + one (i,j)-keyed aggregate that combines map-side
  *      into a dim²-bounded relation) and the [[momentsAgg]] typed
  *      `treeAggregate` twin (per-partition primitive long arrays, no
  *      per-cell JVM rows) — bit-equal by construction since both sum
  *      the identical floor-scaled BIGINT terms in an order-free way.
  *      The corpus never shuffles in either spelling.
  *   2. eigenvectors: for each of the top-k components, `rounds` fixed
  *      power-iteration steps from a deterministic full-support Walsh
  *      start (component c flips sign every 2^(c-2) coordinates, so
  *      starts are mutually orthogonal and never die against a zero
  *      column), then Rayleigh deflation before the next component.
  *      Every dot/normalize is a strict left-to-right fold with a
  *      `+0.0` sign-of-zero canonicalization — the same chain contract
  *      as [[graft.functions.ChainDot]]. Spark runs the iteration on
  *      the driver over the COLLECTED dim²-bounded moment relation (the
  *      [[Pq.trainCodebook]] bounded-collect precedent: dim·(dim+1)
  *      rows, a constant independent of corpus size); DuckDB runs the
  *      IDENTICAL iteration as unrolled materialized CTE rounds on list
  *      values. Fixed round count means parity needs no convergence
  *      argument — both engines compute the same function of the data.
  *   3. projection: per-vector scores p1..pk via the codegen'd
  *      chain-dot against the literal eigenvector (Spark) vs the
  *      spelled-out list fold (DuckDB).
  *
  * At 100 TB the moment pass is the only corpus-sized stage; dim² stays
  * driver-bounded for any realistic embedding width (d=1024 → 1M
  * doubles). The treeAggregate twin is the scale path: the dataflow
  * spelling pays dim·(dim+1) JVM tuples per vector through codegen
  * (4,160 rows/vector at dim=64), the typed twin a single primitive
  * array walk per vector with log-depth executor-side combining.
  * Power iteration is the standard top-k eigensolver when k ≪ d (Halko
  * et al. 2011 randomized variants are the next step up).
  */
object Pca {

  private val dim = Similarity.dim
  private val rounds = 24

  /** Strict left fold of products, seeded with the FIRST product like
    * DuckDB's `list_reduce`, then `+0.0` to canonicalize -0.0 — the
    * shared chain contract. */
  private def fold(ps: Array[Double]): Double = {
    var acc = ps(0)
    var k = 1
    while (k < ps.length) { acc = acc + ps(k); k += 1 }
    acc + 0.0
  }

  private def matvec(c: Array[Array[Double]], v: Array[Double]): Array[Double] =
    Array.tabulate(dim)(i => fold(Array.tabulate(dim)(k => c(i)(k) * v(k))))

  private def normalize(v: Array[Double]): Array[Double] = {
    val nrm = math.sqrt(fold(v.map(x => x * x)))
    if (nrm == 0.0) v else v.map(x => x / nrm)
  }

  /** Deterministic full-support start for component `comp` (1-based):
    * comp 1 is all-ones; comp c ≥ 2 is the Walsh pattern that flips
    * sign every 2^(c-2) coordinates (c=2 → alternating ±1, c=3 →
    * ++--++--, …). Mutually orthogonal for dim a power of two, never
    * sparse (a sparse e_i start dies instantly when its column of C is
    * zero — the matvec hits the zero-norm guard and sticks at 0). Both
    * engines receive the identical ±1 doubles. */
  private def start(comp: Int): Array[Double] =
    Array.tabulate(dim) { k =>
      if (comp == 1) 1.0
      else if (((k / (1 << (comp - 2))) % 2) == 0) 1.0 else -1.0
    }

  /** `rounds` power-iteration steps from the component's Walsh start. */
  private def iterate(c: Array[Array[Double]], comp: Int): Array[Double] = {
    var v = start(comp)
    (1 to rounds).foreach(_ => v = normalize(matvec(c, v)))
    v
  }

  /** Rayleigh quotient λ = (C·v)·v of a unit vector (one extra matvec,
    * same fold). */
  private def rayleigh(c: Array[Array[Double]], v: Array[Double]): Double = {
    val y = matvec(c, v)
    fold(Array.tabulate(dim)(k => y(k) * v(k)))
  }

  /** The per-cell fixed-point term of [[Parity.fpSum]]`("xi * xj")` —
    * `floor(x · 2^20 + 0.5)` as BIGINT. Spark's SQL `floor` saturates
    * through BIGINT; inputs here are finite products of float32-exact
    * doubles, where `math.floor` agrees bit-for-bit. */
  @inline private def fpTerm(x: Double): Long =
    math.floor(x * 1048576.0 + 0.5).toLong

  /** Raw moment grid: cell (i,j) for i in 1..dim, j in 0..dim laid out
    * flat as (i-1)·(dim+1)+j, where j=0 is the mean sentinel (xj=1).
    * `n` is the row count. exx(i,j) = (Σ fpTerm(xi·xj)) / 2^20 / n —
    * the exact arithmetic of the dataflow spelling. */
  private final case class MomentGrid(sums: Array[Long], n: Long) {
    def exx(i: Int, j: Int): Double =
      (sums((i - 1) * (dim + 1) + j).toDouble / 1048576.0) / n.toDouble
  }

  /** Dataflow spelling of the moment pass: one explode + one
    * (i,j)-keyed map-side-combined aggregate over [[Parity.fpSum]]
    * terms. Collect is dim·(dim+1) rows — corpus-size-independent. */
  private def momentsDataflow(emb: DataFrame): MomentGrid = {
    val li = emb.select(col("vec_id"), col("embedding"),
        explode(expr(s"sequence(1, $dim)")).as("i"))
      .select(col("vec_id"), col("embedding"), col("i"),
        expr("cast(element_at(embedding, i) as double)").as("xi"))
    // ONE corpus pass for both moments: the j=0 sentinel (xj=1) makes
    // E[x_i·1] = E[x_i], and xi*1e0 is bit-identical to xi, so the mean
    // lands on the same fpSum grid as the oracle's separate mu CTE
    val rows = li.withColumn("j", explode(expr(s"sequence(0, $dim)")))
      .select(col("i"), col("j"), col("xi"),
        expr("case when j = 0 then 1e0 else cast(element_at(embedding, j) as double) end").as("xj"))
      .groupBy("i", "j")
      .agg(count(lit(1)).as("n"),
        expr("sum(cast(floor((xi * xj) * 1048576e0 + 5e-1) as bigint))").as("s"))
      .collect()
    require(rows.nonEmpty, "Pca.project: embeddings table is empty")
    val sums = new Array[Long](dim * (dim + 1))
    var n = 0L
    rows.foreach { r =>
      sums((r.getInt(0) - 1) * (dim + 1) + r.getInt(1)) = r.getLong(3)
      n = r.getLong(2)
    }
    MomentGrid(sums, n)
  }

  /** Typed `treeAggregate` twin of [[momentsDataflow]] — the 100-TB
    * spelling: each executor walks its vectors once into a primitive
    * dim·(dim+1) long array (no per-cell JVM rows), partials combine
    * elementwise with log-depth tree reduction, and the driver receives
    * ONE array. Sums the IDENTICAL floor-scaled BIGINT terms, and long
    * addition is associative-exact, so the grid — and therefore every
    * eigenvector and projection downstream — is bit-equal to the
    * dataflow spelling's (which is what `emb_pca_agg` sharing
    * `emb_pca`'s oracle proves through the driver's hash gate). */
  private def momentsAgg(emb: DataFrame): MomentGrid = {
    val d = dim
    val cells = d * (d + 1)
    val (sums, n) = emb.select(col("embedding")).rdd
      .map(_.getSeq[Float](0))
      .treeAggregate((new Array[Long](cells), 0L))(
        seqOp = { case ((acc, cnt), v) =>
          var i = 0
          while (i < d) {
            val xi = v(i).toDouble
            acc(i * (d + 1)) += fpTerm(xi) // j=0 mean sentinel: xi·1
            var j = 0
            while (j < d) {
              acc(i * (d + 1) + j + 1) += fpTerm(xi * v(j).toDouble)
              j += 1
            }
            i += 1
          }
          (acc, cnt + 1L)
        },
        combOp = { case ((a, na), (b, nb)) =>
          var k = 0
          while (k < cells) { a(k) += b(k); k += 1 }
          (a, na + nb)
        },
        depth = 2)
    require(n > 0L, "Pca.project: embeddings table is empty")
    MomentGrid(sums, n)
  }

  /** Top-k eigenvectors of the centered covariance built from a moment
    * grid: iterate → Rayleigh λ → deflate, k times. */
  /** Eigenpairs (v, λ): λ is each component's Rayleigh quotient against
    * ITS (deflated) covariance — computed for every component so the
    * whitening path can scale by 1/√λ; deflation consumes the identical
    * value, so [[components]]' trajectory is unchanged. */
  private def eigh(g: MomentGrid, k: Int): Seq[(Array[Double], Double)] = {
    val mu = Array.tabulate(dim)(i => g.exx(i + 1, 0))
    // centered covariance, spelled exactly like the oracle's cmat1 CTE
    var c = Array.tabulate(dim, dim)((i, j) => g.exx(i + 1, j + 1) - mu(i) * mu(j))
    (1 to k).map { comp =>
      val v = iterate(c, comp)
      val lam = rayleigh(c, v)
      if (comp < k)
        c = Array.tabulate(dim, dim)((i, j) => c(i)(j) - lam * (v(i) * v(j)))
      (v, lam)
    }
  }

  private def components(g: MomentGrid, k: Int): Seq[Array[Double]] =
    eigh(g, k).map(_._1)

  private def projectOn(emb: DataFrame, vs: Seq[Array[Double]]): DataFrame = {
    def lit64(v: Array[Double]) = s"array(${v.map(Parity.lit).mkString(", ")})"
    emb.select(col("vec_id") +: vs.zipWithIndex.map { case (v, i) =>
      expr(s"(chain_dot(embedding, ${lit64(v)}) + 0e0)").as(s"p${i + 1}")
    }: _*)
  }

  /** Top-k PCA projection of every vector: (vec_id, p1..pk). */
  def project(emb: DataFrame, k: Int = 2): DataFrame =
    projectOn(emb, components(momentsDataflow(emb), k))

  /** [[project]] with the moment pass on the [[momentsAgg]] scale path —
    * same results bit-for-bit (gated by `emb_pca_agg` hash-matching
    * `emb_pca`'s oracle). */
  def projectAgg(emb: DataFrame, k: Int = 2): DataFrame =
    projectOn(emb, components(momentsAgg(emb), k))

  /** PCA WHITENING — the projection each component scaled by 1/√λ so
    * the output has unit variance per component (the standard
    * embedding-pipeline preprocessing before cosine retraining, score
    * calibration, or Mahalanobis-style distances). λ is the component's
    * in-engine Rayleigh quotient — exactly the value deflation already
    * uses, so both engines carry bit-identical λ and the scale division
    * is one IEEE op on identical operands. Degenerate components
    * (λ ≤ 0 on variance-free data) pass through unscaled — mirrored in
    * the oracle's CASE. */
  def whiten(emb: DataFrame, k: Int = 2): DataFrame = {
    val es = eigh(momentsDataflow(emb), k)
    def lit64(v: Array[Double]) = s"array(${v.map(Parity.lit).mkString(", ")})"
    emb.select(col("vec_id") +: es.zipWithIndex.map { case ((v, lam), i) =>
      val p = s"(chain_dot(embedding, ${lit64(v)}) + 0e0)"
      val l = Parity.lit(lam)
      expr(s"(case when $l > 0e0 then $p / sqrt($l) else $p end)").as(s"w${i + 1}")
    }: _*)
  }

  // -------------------------------------------------------------------
  // DuckDB mirror: the identical computation as CTEs. Lambda variables
  // are k/x/y only (never i/j — the dsir_select shadowing lesson).
  // -------------------------------------------------------------------

  /** `(list_reduce(list_transform(generate_series(1, dim), k -> <prod>),
    * (x, y) -> x + y) + 0e0)` — the fold text. */
  private def foldSql(prod: String): String =
    s"(list_reduce(list_transform(generate_series(1, $dim), k -> $prod), (x, y) -> x + y) + 0e0)"

  /** One power-iteration round: matvec over the cov rows, re-list in
    * dim order, normalize with the zero guard. Every CTE MATERIALIZED —
    * the labelPropDuck lesson: each round references its predecessor
    * more than once, so inlining re-evaluates the whole prefix
    * exponentially. */
  private def roundSql(k: Int, prev: String, crow: String): String =
    s"m$k as materialized (select i, ${foldSql("carr[k] * v[k]")} as y from $crow, ${prev}), " +
      s"u$k as materialized (select list(y order by i) as v from m$k), " +
      s"r$k as materialized (select case when nrm = 0e0 then v else list_transform(v, x -> x / nrm) end as v " +
      s"from (select v, sqrt(${foldSql("v[k] * v[k]")}) as nrm from u$k))"

  /** The [[start]] vector of component `comp` as a CTE named st`comp`. */
  private def startSql(comp: Int): String =
    if (comp == 1)
      s"st1 as materialized (select list_transform(generate_series(1, $dim), k -> 1e0) as v)"
    else {
      val p = 1 << (comp - 2)
      s"st$comp as materialized (select list_transform(generate_series(1, $dim), " +
        s"k -> case when ((k - 1) // $p) % 2 = 0 then 1e0 else -1e0 end) as v)"
    }

  /** @param prefix extra CTE definitions (each ending with ", ") spliced
    *        after WITH — lets a composed pipeline feed a survivor CTE in
    *        as `table`. */
  def projectSql(table: String = "embeddings", prefix: String = "",
                 k: Int = 2, whiten: Boolean = false): String = {
    val sb = new StringBuilder
    sb ++= s"with $prefix"
    sb ++= s"li as materialized (select vec_id, embedding, cast(ui as bigint) as i, " +
      s"cast(embedding[ui] as double) as xi from $table, generate_series(1, $dim) t(ui)), "
    sb ++= s"mu as materialized (select i, ${Parity.fpSum("xi")} / cast(count(*) as double) as mu " +
      "from li group by i), "
    sb ++= s"mom as materialized (select i, cast(uj as bigint) as j, " +
      s"${Parity.fpSum("xi * cast(embedding[uj] as double)")} / cast(count(*) as double) as exx " +
      s"from li, generate_series(1, $dim) t2(uj) group by 1, 2), "
    sb ++= "cmat1 as materialized (select mom.i as i, mom.j as j, exx - (a.mu * b.mu) as c " +
      "from mom join mu a on mom.i = a.i join mu b on mom.j = b.i), "
    sb ++= "crow1 as materialized (select i, list(c order by j) as carr from cmat1 group by i), "
    sb ++= startSql(1)
    // final round CTE of component c is r{(c-1)*100 + rounds}
    def lastOf(c: Int): String = s"r${(c - 1) * 100 + rounds}"
    for (c <- 1 to k) {
      if (c > 1) {
        // deflate: λ of the previous component off its covariance, then
        // cmat{c} = cmat{c-1} − λ·v vᵀ
        sb ++= s", ml$c as materialized (select i, ${foldSql("carr[k] * v[k]")} as y " +
          s"from crow${c - 1}, ${lastOf(c - 1)})"
        sb ++= s", yl$c as materialized (select list(y order by i) as y from ml$c)"
        sb ++= s", lm$c as materialized (select ${foldSql("y[k] * v[k]")} as lam " +
          s"from yl$c, ${lastOf(c - 1)})"
        sb ++= s", cmat$c as materialized (select cmat${c - 1}.i as i, cmat${c - 1}.j as j, " +
          s"c - lam * (v[cmat${c - 1}.i] * v[cmat${c - 1}.j]) as c " +
          s"from cmat${c - 1}, ${lastOf(c - 1)}, lm$c)"
        sb ++= s", crow$c as materialized (select i, list(c order by j) as carr from cmat$c group by i)"
        sb ++= ", " + startSql(c)
      }
      (1 to rounds).foreach { t =>
        val id = (c - 1) * 100 + t
        val prev = if (t == 1) s"st$c" else s"r${id - 1}"
        sb ++= ", " + roundSql(id, prev, s"crow$c")
      }
    }
    if (whiten) {
      // per-component λ: the Rayleigh quotient against the component's
      // own (deflated) covariance — the identical formula the deflation
      // CTEs use, now emitted for EVERY component
      for (c <- 1 to k) {
        sb ++= s", wm$c as materialized (select i, ${foldSql("carr[k] * v[k]")} as y " +
          s"from crow$c, ${lastOf(c)})"
        sb ++= s", wy$c as materialized (select list(y order by i) as y from wm$c)"
        sb ++= s", wl$c as materialized (select ${foldSql("y[k] * v[k]")} as lam " +
          s"from wy$c, ${lastOf(c)})"
      }
      val aliases = ((1 to k).map(c => s"${lastOf(c)} e$c") ++
        (1 to k).map(c => s"wl$c")).mkString(", ")
      val cols = (1 to k).map { c =>
        val p = foldSql(s"cast(embedding[k] as double) * e$c.v[k]")
        s"(case when wl$c.lam > 0e0 then $p / sqrt(wl$c.lam) else $p end) as w$c"
      }.mkString(", ")
      sb ++= s" select vec_id, $cols from $table, $aliases"
    } else {
      val aliases = (1 to k).map(c => s"${lastOf(c)} e$c").mkString(", ")
      val cols = (1 to k).map(c =>
        s"${foldSql(s"cast(embedding[k] as double) * e$c.v[k]")} as p$c").mkString(", ")
      sb ++= s" select vec_id, $cols from $table, $aliases"
    }
    sb.toString
  }
}
