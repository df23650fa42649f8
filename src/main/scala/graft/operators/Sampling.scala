package graft.operators

import graft.oracle.Parity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic corpus sampling for training-data pipelines (builder
  * north star, SURVEY.md §7.6): stratified per-language samples and
  * temperature-based language rebalancing. Everything is keyed off the
  * Carter-Wegman hash of the document id — no `rand()`, no row-order
  * dependence — so the sample is REPRODUCIBLE across runs, partitionings
  * and engines, and the DuckDB oracle checks the exact member set.
  */
object Sampling {

  /** Spark-side per-doc uniform hash in [0, CwMod): CW mix of the
    * codepoint rolling hash of the id (same construction as
    * `sample_split`, different mix index so the streams are pairwise
    * independent). */
  private def hSpark = Parity.cwMix(33, "rolling_hash(cast(doc_id as string))")
  private def hDuck =
    Parity.cwMix(33, Parity.rollingHashDuck("cast(doc_id as varchar)"))

  /** Deterministic global corpus shuffle — the training-order export
    * every pipeline runs before writing shards: shard = h mod nShards
    * and pos = rank of h within the shard, where h is the CW affine
    * scramble of the doc id (a bijection mod p, so within-shard order is
    * tie-free and NOT correlated with ingestion order). No `rand()`:
    * the permutation is reproducible across runs, partitionings and
    * engines — resuming a training job re-derives the exact order.
    *
    * Scale: one hash partition by shard and a within-shard sort — i.e.
    * exactly the physical layout `write.partitionBy(shard)` wants; no
    * global sort ever happens.
    *
    * The within-shard order is (h, doc_id): h alone is a bijection only
    * below CwMod (~1e9) — two ids congruent mod p share h, and the op
    * explicitly targets corpora beyond that, so doc_id breaks the tie
    * to keep the permutation deterministic at any cardinality. */
  def corpusShuffle(docs: DataFrame, nShards: Int = 8): DataFrame = {
    val w = Window.partitionBy("shard").orderBy(col("h").asc, col("doc_id").asc)
    docs.select(col("doc_id"),
        expr(Parity.cwMix(9, s"(doc_id % ${Parity.CwMod})")).as("h"))
      .withColumn("shard", col("h") % nShards)
      .withColumn("pos", row_number().over(w).cast("long"))
      .select("doc_id", "shard", "h", "pos")
  }

  /** DuckDB mirror of [[corpusShuffle]]. */
  def corpusShuffleSql(nShards: Int = 8, table: String = "documents"): String = {
    val h = Parity.cwMix(9, s"(doc_id % ${Parity.CwMod})")
    s"""select doc_id, shard, h,
       | cast(row_number() over (partition by shard order by h asc, doc_id asc) as bigint) as pos
       |from (select doc_id, $h as h, ($h) % $nShards as shard from $table)"""
      .stripMargin.replace("\n", " ")
  }

  /** Stratified sample: the k hash-smallest documents of EVERY language —
    * equal representation per stratum no matter how skewed the corpus.
    *
    * Scale shape (the KMV two-phase pattern, `TextOps.kmvDistinct`): a
    * single per-lang `row_number` window would sort each language's
    * entire corpus in one task. Phase 1 keeps each physical partition's k
    * hash-smallest per lang (any global top-k row is also top-k within
    * its own partition, so phase 1 never drops a final-answer row);
    * the per-lang sort then runs over ≤ partitions·k survivors. */
  def stratified(docs: DataFrame, k: Int = 50): DataFrame = {
    val hashed = docs.selectExpr("doc_id", "lang", s"$hSpark as h")
    val local = hashed
      .withColumn("pid", spark_partition_id())
      .withColumn("lrn", row_number().over(
        Window.partitionBy("lang", "pid").orderBy(col("h").asc, col("doc_id").asc)))
      .filter(col("lrn") <= k)
      .drop("pid", "lrn")
    local
      .withColumn("rn", row_number().over(
        Window.partitionBy("lang").orderBy(col("h").asc, col("doc_id").asc))
        .cast("long"))
      .filter(col("rn") <= k)
  }

  /** DuckDB mirror of [[stratified]] — the one-phase spelling (phase 1
    * only discards rows the final window discards anyway). */
  def stratifiedSql(k: Int = 50, table: String = "documents"): String =
    s"""select doc_id, lang, h, rn from (
       | select doc_id, lang, h,
       |  row_number() over (partition by lang order by h asc, doc_id asc) as rn
       | from (select doc_id, lang, $hDuck as h from $table))
       |where rn <= $k""".stripMargin.replace("\n", " ")

  /** Temperature (α = 1/2) language rebalancing — the multilingual-corpus
    * resampling pass (sampling weight ∝ n_l^α, so low-resource languages
    * are upweighted relative to their share). Per language:
    * weight w_l = √n_l / Σ_m √n_m, target budget = frac·N·w_l, keep rate
    * r_l = min(1, budget/n_l); a document survives iff its id-hash mod
    * 10^6 falls under floor(r_l·10^6). The Σ√n is an order-free
    * fixed-point sum ([[Parity.fpSum]]) and √ is correctly rounded in
    * both engines, so the rates — and therefore the exact member set —
    * are cross-engine deterministic. Returns the per-language audit:
    * corpus count, rate, kept count.
    *
    * Scale shape: one map-side-combinable count per lang, a broadcast of
    * the (few-row) rate table back onto the corpus, one final count agg —
    * the corpus itself never shuffles. */
  def temperature(docs: DataFrame, frac: Double = 0.5): DataFrame = {
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val wsum = counts.agg(
      expr(Parity.fpSum("sqrt(cast(n_docs as double))")).as("wsum"),
      sum("n_docs").as("n_total"))
    val rates = counts.crossJoin(broadcast(wsum))
      .withColumn("rate", expr(rateExpr(frac)))
      .select(col("lang"), col("n_docs"), col("rate"))
    val kept = docs.selectExpr("doc_id", "lang", s"($hSpark % 1000000) as u")
      .join(broadcast(rates.select("lang", "rate")), Seq("lang"))
      .filter(col("u") < expr("cast(floor(rate * 1e6) as bigint)"))
      .groupBy("lang").agg(count(lit(1)).as("n_kept"))
    rates.join(kept, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"),
        expr(Parity.q9("rate")).as("rate9"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** min(1, frac·N·(√n_l / Σ√n) / n_l) — shared snippet text. The
    * fraction is spelled as an exact integer ratio (decimal-point
    * literals parse as DECIMAL in Spark — the Parity literal trap). */
  private def rateExpr(frac: Double): String = {
    val f = s"(${(frac * 1e6).round} / 1e6)"
    s"least(1e0, $f * cast(n_total as double) * " +
      "(sqrt(cast(n_docs as double)) / wsum) / cast(n_docs as double))"
  }

  /** Efraimidis–Spirakis weighted sampling WITHOUT replacement: each
    * document draws key = ln(u)/w (u uniform from its id hash, w its
    * weight); the global top-k by key IS a weighted sample without
    * replacement — and because u is the CW hash, the member set is
    * reproducible across runs, partitionings and engines. Weight =
    * n_chars + 1 (the +1 keeps empty documents drawable rather than
    * dividing by zero). Two-phase top-k like [[stratified]]: any global
    * top-k row is top-k within its own partition, so the partition-local
    * prune is lossless. */
  def weighted(docs: DataFrame, k: Int = 100): DataFrame = {
    val hashed = docs.selectExpr("doc_id", "lang",
      "cast(n_chars + 1 as bigint) as w", s"${esKey(hSpark)} as key")
    val local = hashed
      .withColumn("pid", spark_partition_id())
      .withColumn("lrn", row_number().over(
        Window.partitionBy("pid").orderBy(col("key").desc, col("doc_id").asc)))
      .filter(col("lrn") <= k)
      .drop("pid", "lrn")
    local
      .withColumn("rn", row_number().over(
        Window.orderBy(col("key").desc, col("doc_id").asc)).cast("long"))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("lang"), col("w"),
        expr(Parity.q9("key")).as("key9"), col("rn"))
  }

  /** ln(u)/w with u = (h+1)/CwMod ∈ (0, 1] — shared snippet text. */
  private def esKey(h: String): String =
    s"(ln((cast(($h) as double) + 1e0) / ${Parity.CwMod}e0) " +
      "/ cast(n_chars + 1 as double))"

  /** DuckDB mirror of [[weighted]] (one-phase spelling). */
  def weightedSql(k: Int = 100, table: String = "documents"): String =
    s"""select doc_id, lang, w, ${Parity.q9("key")} as key9, rn from (
       | select doc_id, lang, w, key,
       |  row_number() over (order by key desc, doc_id asc) as rn
       | from (select doc_id, lang, cast(n_chars + 1 as bigint) as w,
       |   ${esKey(hDuck)} as key from $table))
       |where rn <= $k""".stripMargin.replace("\n", " ")

  /** Target mix weights in parts-per-1024 (integers so every rate
    * computation stays in exact BIGINT arithmetic; Σ = 1024). A language
    * outside the table gets 0 parts → sampled out, deterministically. */
  val mixParts: Seq[(String, Int)] =
    Seq("de" -> 154, "en" -> 358, "es" -> 154, "fr" -> 205, "zh" -> 153)

  private[operators] val partsExpr =
    mixParts.map { case (lg, p) => s"when '$lg' then $p" }
      .mkString("(case lang ", " ", " else 0 end)")

  private[operators] def mixHash(h: String) = s"(${Parity.cwMix(45, h)} % 1048576)"

  /** Threshold t_l = min(2^20, ⌊budget·parts_l·2^20 / (1024·tokens_l)⌋),
    * overflow-safely: the saturation case is decided BEFORE any scaling
    * multiply (budget·parts ≥ 1024·tokens ⇔ the rate would cap at 1),
    * and the residual product budget·parts·1024 stays under 2^63 for
    * budgets to ~8.8e15 tokens (vs ~8.8e12 for the naive ·2^20 form —
    * which Spark would WRAP silently while DuckDB throws). `idiv` is the
    * dialect's integer division ('div' / '//'). */
  private[operators] def tFpExpr(budget: Long, idiv: String): String =
    s"(case when cast($budget as bigint) * parts >= 1024 * tok_total then 1048576 " +
      s"else (cast($budget as bigint) * parts * 1024) $idiv tok_total end)"

  /** Data-mix planner: given per-language target weights and a total
    * token budget, compute each language's keep rate and realize the
    * sample — the "hit the training-mix spec" pass that turns a raw
    * multilingual crawl into a budgeted mixture. Rate threshold
    * t_l = min(2^20, budget·parts_l·2^20 / (1024·tokens_l)) is pure
    * BIGINT arithmetic; a document survives iff its id-hash mod 2^20
    * falls under t_l, so the member set (not just the counts) is
    * reproducible across runs, partitionings and engines. Returns the
    * per-language plan + realized sample audit: doc/token totals, parts,
    * threshold, sampled doc/token counts.
    *
    * Scale shape: one map-side-combinable token aggregate per lang, the
    * few-row rate table broadcast back onto the corpus, one final agg —
    * the corpus never shuffles (the [[temperature]] shape with a token
    * budget instead of a √n target). */
  def mixPlan(docs: DataFrame, budgetTokens: Long = 100000L): DataFrame = {
    val toks = docs.selectExpr("doc_id", "lang",
      "cast(size(split(trim(text), ' ')) as bigint) as n_tok",
      s"${mixHash("rolling_hash(cast(doc_id as string))")} as u")
    val totals = toks.groupBy("lang")
      .agg(sum("n_tok").as("tok_total"), count(lit(1)).as("n_docs"))
    val rates = totals
      .withColumn("parts", expr(partsExpr))
      .withColumn("t_fp", expr(tFpExpr(budgetTokens, "div")))
    val sampled = toks
      .join(broadcast(rates.select("lang", "t_fp")), Seq("lang"))
      .filter(col("u") < col("t_fp"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"), sum("n_tok").as("tok_sampled"))
    rates.join(sampled, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("tok_total"),
        col("parts").cast("long").as("parts"), col("t_fp"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        coalesce(col("tok_sampled"), lit(0L)).as("tok_sampled"))
  }

  /** DuckDB mirror of [[mixPlan]]. */
  def mixPlanSql(budgetTokens: Long = 100000L, table: String = "documents"): String =
    s"""with t as (select doc_id, lang,
       |  cast(len(string_split(trim(text), ' ')) as bigint) as n_tok,
       |  ${mixHash(Parity.rollingHashDuck("cast(doc_id as varchar)"))} as u from $table),
       |tot as (select lang, cast(sum(n_tok) as bigint) as tok_total,
       |  cast(count(*) as bigint) as n_docs from t group by lang),
       |rates as (select lang, n_docs, tok_total, parts,
       |  ${tFpExpr(budgetTokens, "//")} as t_fp
       | from (select tot.*, $partsExpr as parts from tot) tp),
       |samp as (select t.lang, cast(count(*) as bigint) as n_sampled,
       |  cast(sum(n_tok) as bigint) as tok_sampled
       | from t join rates on t.lang = rates.lang where t.u < rates.t_fp
       | group by t.lang)
       |select rates.lang, n_docs, tok_total, cast(parts as bigint) as parts,
       | cast(t_fp as bigint) as t_fp,
       | coalesce(n_sampled, 0) as n_sampled, coalesce(tok_sampled, 0) as tok_sampled
       |from rates left join samp on rates.lang = samp.lang"""
      .stripMargin.replace("\n", " ")

  /** DuckDB mirror of [[temperature]]. */
  def temperatureSql(frac: Double = 0.5, table: String = "documents"): String =
    s"""with counts as (select lang, cast(count(*) as bigint) as n_docs
       |  from $table group by lang),
       |s as (select ${Parity.fpSum("sqrt(cast(n_docs as double))")} as wsum,
       |  cast(sum(n_docs) as bigint) as n_total from counts),
       |rates as (select lang, n_docs, ${rateExpr(frac)} as rate from counts, s),
       |kept as (select lang, cast(count(*) as bigint) as n_kept from (
       |  select d.lang from
       |   (select doc_id, lang, ($hDuck % 1000000) as u from $table) d
       |   join rates r on d.lang = r.lang
       |   where d.u < cast(floor(r.rate * 1e6) as bigint)) group by lang)
       |select rates.lang, n_docs, ${Parity.q9("rate")} as rate9,
       | coalesce(n_kept, 0) as n_kept
       |from rates left join kept on rates.lang = kept.lang"""
      .stripMargin.replace("\n", " ")
}
