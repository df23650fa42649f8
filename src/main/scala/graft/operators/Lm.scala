package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Count-based language-model scoring for corpus curation (builder north
  * star — beyond the reference surface, SURVEY.md §7.6).
  *
  * The CCNet/Gopher-style quality pass: train a cheap n-gram LM on a
  * trusted reference slice, score every document's perplexity under it,
  * and bucket each language's corpus into head/middle/tail so downstream
  * mixing can oversample the head. Public method: CCNet (Wenzek et al.
  * 2020) filters Common Crawl with per-language KenLM perplexity
  * terciles; this is the same pipeline with a bigram add-one LM, which
  * keeps every probability an exact rational of two BIGINT counts — the
  * property that lets the driver gate hash-check the scores cross-engine
  * (ln goes through the 1e-9 integer-unit grid, as
  * [[TextOps.unigramLogProb]] established).
  *
  * Scale shape: the SCORING pass touches the corpus token stream once
  * (one explode → three joins → one per-doc aggregate); TRAINING
  * re-scans the reference quarter twice more (bigram counts and the
  * vocab-size aggregate) — re-reading pruned parquet is cheaper at
  * scale than materializing the tokenized quarter. Bigram/context
  * counts are vocabulary-sized relations met with token-keyed shuffle
  * hash joins (the tfidf/PMI physics — never broadcast, the vocabulary
  * is data-proportional); the per-language vocab-size relation is
  * bounded by the language universe and broadcasts. The final tercile is a
  * per-language ntile window over the per-DOC relation (corpus-count,
  * not token-count, rows); at extreme scale swap it for comparison
  * against sampled cutoffs — the window spelling is kept here because it
  * is exact, deterministic, and the established pattern of the gate's
  * other ranking queries.
  */
object Lm {

  /** Reference slice: every 4th document — a deterministic stand-in for
    * "the trusted corpus" (in production: the wiki/books partition). */
  private val refPred = "doc_id % 4 = 0"

  /** Add-one bigram negative log-likelihood units on the 1e-9 grid:
    * p(w2|w1) = (c(w1,w2)+1) / (c(w1)+V). All operands are exact
    * BIGINTs, the division is one correctly-rounded IEEE op, and ln's
    * 1-ulp cross-libm risk is absorbed by the unit grid. Identical text
    * runs in both engines. */
  private val unitExpr =
    "cast(floor(ln(cast(coalesce(cb, 0) + 1 as double) / " +
      "(cast(coalesce(cc, 0) as double) + cast(v as double))) * 1.0e9 + 5e-1) as bigint)"

  private val nllExpr =
    "(-(cast(us as double) / cast(n_trans as double) / 1.0e9) + 0e0)"

  private val bucketExpr =
    "case nt when 1 then 'head' when 2 then 'middle' else 'tail' end"

  /** Per-document bigram perplexity under the reference-slice LM, plus
    * the per-language head/middle/tail bucket. Documents with fewer than
    * two tokens (no transitions) are unscored and drop out; languages
    * absent from the reference slice likewise (inner vocab join) — both
    * deliberate CCNet semantics, spelled identically in the oracle. */
  def perplexity(docs: DataFrame): DataFrame = {
    val toks = docs.selectExpr("doc_id", "lang", "split(trim(text), ' ') as ws")
    val ref = toks.filter(expr(refPred))
    val refTrans = ref.filter(expr("size(ws) >= 2"))
      .withColumn("i", explode(expr("sequence(1, size(ws) - 1)")))
      .selectExpr("lang", "element_at(ws, i) as w1", "element_at(ws, i + 1) as w2")
    val big = refTrans.groupBy("lang", "w1", "w2").agg(count(lit(1)).as("cb"))
    val ctx = big.groupBy("lang", "w1").agg(sum("cb").as("cc"))
    val vocab = ref.withColumn("w", explode(col("ws")))
      .groupBy("lang").agg(countDistinct("w").as("v"))
    val trans = toks.filter(expr("size(ws) >= 2"))
      .withColumn("i", explode(expr("sequence(1, size(ws) - 1)")))
      .selectExpr("doc_id", "lang", "element_at(ws, i) as w1", "element_at(ws, i + 1) as w2")
    val perDoc = trans
      .join(big, Seq("lang", "w1", "w2"), "left")
      .join(ctx, Seq("lang", "w1"), "left")
      .join(broadcast(vocab), Seq("lang"))
      .select(col("doc_id"), col("lang"), expr(unitExpr).as("u"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_trans"), sum("u").as("us"))
      .withColumn("nll9", expr(nllExpr))
    perDoc
      .withColumn("nt", ntile(3).over(
        Window.partitionBy("lang").orderBy(col("nll9").asc, col("doc_id").asc)))
      .selectExpr("doc_id", "lang", "n_trans", "nll9", s"$bucketExpr as bucket")
  }

  // -------------------------------------------------------------------
  // DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
  // public method): estimate target vs raw distributions over HASHED
  // n-gram features, weight every raw document by its importance
  // log-ratio, and Gumbel-top-k sample the selection. The hashing is
  // the whole scale story: the feature space collapses to a CONSTANT
  // number of buckets, so both distribution estimates are bounded
  // relations (broadcastable at any corpus size) and selection is one
  // token-stream pass + a two-phase top-k.
  // -------------------------------------------------------------------

  private val dsirBuckets = 512
  private val dsirK = 100

  /** Hashed-bigram bucket of the (w1, w2) transition — rolling hash of
    * the joined text through one CW mix, mod the constant bucket count. */
  private def dsirBucket(d: graft.oracle.Parity.Dialect, w1: String, w2: String): String =
    s"(${graft.oracle.Parity.cwMix(7,
      graft.oracle.Parity.rollingHash(d, s"concat($w1, ' ', $w2)"))} % $dsirBuckets)"

  /** Per-bucket importance log-ratio on the 1e-9 unit grid:
    * ln( ((ct+1)/(Nt+B)) / ((cr+1)/(Nr+B)) ) — add-one smoothed target
    * over raw. All counts exact BIGINTs; the division ORDER is part of
    * the cross-engine contract. */
  private val dsirUnit =
    "cast(floor(ln((cast(coalesce(ct, 0) + 1 as double) / " +
      s"(cast(nt as double) + ${dsirBuckets}e0)) / " +
      "((cast(cr as double) + 1e0) / " +
      s"(cast(nr as double) + ${dsirBuckets}e0))) * 1.0e9 + 5e-1) as bigint)"

  /** Deterministic Gumbel perturbation from the doc-id hash:
    * g = -ln(-ln(u)), u = (h + 1/2) / CwMod ∈ (0,1) strictly — the
    * half-offset keeps both ln arguments away from 0 and 1, so g is
    * always finite. Same reproducible-randomness contract as
    * [[Sampling.weighted]]'s Efraimidis–Spirakis keys. */
  private def dsirGumbel(h: String): String =
    s"(-ln(-ln((cast($h as double) + 5e-1) / ${graft.oracle.Parity.CwMod}e0)))"

  private def dsirScore(h: String): String =
    s"(cast(wu as double) / 1.0e9 + ${dsirGumbel(h)})"

  /** DSIR selection: target = the 'en' slice, raw = the whole corpus,
    * features = hashed bigrams. Returns the Gumbel-top-k selected docs
    * with their importance weights. Plan shape: ONE transition stream
    * feeds both distribution estimates (bucket-keyed aggregates that
    * combine map-side into ≤ `dsirBuckets` rows), the unit table
    * broadcasts by construction, and the top-k is the two-phase
    * partition-local prune + k-row global window. */
  def dsirSelect(docs: DataFrame): DataFrame = {
    import graft.oracle.Parity.{SparkD, cwMix}
    val trans = docs.selectExpr("doc_id", "lang", "split(trim(text), ' ') as ws")
      .filter(expr("size(ws) >= 2"))
      .withColumn("i", explode(expr("sequence(1, size(ws) - 1)")))
      .selectExpr("doc_id", "lang",
        s"${dsirBucket(SparkD, "element_at(ws, i)", "element_at(ws, i + 1)")} as b")
    val raw = trans.groupBy("b").agg(count(lit(1)).as("cr"))
    val tgt = trans.filter(col("lang") === "en")
      .groupBy("b").agg(count(lit(1)).as("ct"))
    val tot = trans.agg(count(lit(1)).as("nr"),
      count(when(col("lang") === "en", 1)).as("nt"))
    val units = raw.join(tgt, Seq("b"), "left")
      .crossJoin(broadcast(tot))
      .select(col("b"), expr(dsirUnit).as("lu"))
    val scored = trans.join(broadcast(units), "b")
      .groupBy("doc_id", "lang").agg(sum("lu").as("wu"))
      .withColumn("score",
        expr(dsirScore(cwMix(21, "rolling_hash(cast(doc_id as string))"))))
    val local = scored.withColumn("pid", spark_partition_id())
      .withColumn("lrn", row_number().over(
        Window.partitionBy("pid").orderBy(col("score").desc, col("doc_id").asc)))
      .filter(col("lrn") <= dsirK).drop("pid", "lrn")
    local.withColumn("rn", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
      .filter(col("rn") <= dsirK)
      .selectExpr("doc_id", "lang", "cast(wu as double) / 1.0e9 as iw9",
        s"${graft.oracle.Parity.q9("score")} as score9", "rn")
  }

  /** DuckDB mirror of [[dsirSelect]] (one-phase top-k spelling). */
  def dsirSelectSql(table: String = "documents"): String = {
    import graft.oracle.Parity.{DuckD, cwMix, q9, rollingHashDuck}
    val h = cwMix(21, rollingHashDuck("cast(doc_id as varchar)"))
    // the transition index is `ti`, NOT `i`: rollingHashDuck's char-walk
    // lambda binds `i`, which would shadow an outer column of that name
    s"""with tr as (select doc_id, lang,
       |  ${dsirBucket(DuckD, "ws[ti]", "ws[ti + 1]")} as b from (
       |  select doc_id, lang, ws, unnest(generate_series(1, len(ws) - 1)) as ti
       |  from (select doc_id, lang, string_split(trim(text), ' ') as ws from $table)
       |  where len(ws) >= 2)),
       |raw as (select b, cast(count(*) as bigint) as cr from tr group by 1),
       |tgt as (select b, cast(count(*) as bigint) as ct from tr where lang = 'en' group by 1),
       |tot as (select cast(count(*) as bigint) as nr,
       |  cast(count(*) filter (where lang = 'en') as bigint) as nt from tr),
       |units as (select b, $dsirUnit as lu from raw left join tgt using (b), tot),
       |w as (select doc_id, lang, cast(sum(lu) as bigint) as wu
       |  from tr join units using (b) group by 1, 2)
       |select doc_id, lang, iw9, score9, rn from (
       | select doc_id, lang, cast(wu as double) / 1.0e9 as iw9,
       |  ${q9("score")} as score9,
       |  row_number() over (order by score desc, doc_id asc) as rn
       | from (select doc_id, lang, wu, ${dsirScore(h)} as score from w))
       |where rn <= $dsirK""".stripMargin.replace("\n", " ")
  }

  // -------------------------------------------------------------------
  // Curriculum composition: perplexity phases → deterministic sharded
  // shuffle → token-budget packing. The easy-to-hard data ordering a
  // curriculum-learning run consumes (head tercile first), with the
  // corpus_shuffle physics: NO global sort — phase and shard come from
  // arithmetic, order within a (phase, shard) cell is the hash order,
  // and bins are per-cell running token counts. Every value is exact
  // integer arithmetic on top of the gated perplexity relation.
  // -------------------------------------------------------------------

  private val curShards = 64
  private val curBudget = 256

  private def curHash(h: String): String = graft.oracle.Parity.cwMix(45, h)

  /** Training-order curriculum over the SCORED corpus (docs the LM can
    * score — CCNet semantics): phase 1/2/3 = head/middle/tail, then
    * within each phase a reproducible shard + position + token-budget
    * bin. Output: (doc_id, phase, shard, pos, n_tokens, bin). */
  def curriculum(docs: DataFrame): DataFrame = {
    val nt = docs.selectExpr("doc_id",
      "cast(size(split(trim(text), ' ')) as bigint) as n_tokens")
    val cur = perplexity(docs)
      .selectExpr("doc_id",
        "case bucket when 'head' then 1 when 'middle' then 2 else 3 end as phase")
      .join(nt, "doc_id")
      .withColumn("h", expr(curHash("rolling_hash(cast(doc_id as string))")))
      .withColumn("shard", expr(s"h % $curShards"))
    val w = Window.partitionBy("phase", "shard")
      .orderBy(col("h").asc, col("doc_id").asc)
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cur.withColumn("pos", row_number().over(w).cast("long"))
      .withColumn("cum", sum("n_tokens").over(cum))
      .selectExpr("doc_id", "cast(phase as bigint) as phase",
        "cast(shard as bigint) as shard", "pos", "n_tokens",
        s"(cum - n_tokens) div $curBudget as bin")
  }

  /** DuckDB mirror of [[curriculum]]. The outer bin cast is load-bearing
    * (window sum(BIGINT) → HUGEINT through `//` — the packBins lesson). */
  def curriculumSql(table: String = "documents"): String = {
    import graft.oracle.Parity.rollingHashDuck
    s"""with lm as materialized (${perplexitySql(table)}),
       |nt as (select doc_id, cast(len(string_split(trim(text), ' ')) as bigint) as n_tokens
       |  from $table),
       |cur as (select lm.doc_id as doc_id,
       |  case bucket when 'head' then 1 when 'middle' then 2 else 3 end as phase,
       |  n_tokens, ${curHash(rollingHashDuck("cast(lm.doc_id as varchar)"))} as h
       |  from lm join nt on lm.doc_id = nt.doc_id),
       |sh as (select doc_id, phase, n_tokens, h, h % $curShards as shard from cur)
       |select doc_id, cast(phase as bigint) as phase, cast(shard as bigint) as shard,
       | row_number() over (partition by phase, shard order by h asc, doc_id asc) as pos,
       | n_tokens,
       | cast((sum(n_tokens) over (partition by phase, shard order by h asc, doc_id asc
       |   rows between unbounded preceding and current row) - n_tokens) // $curBudget as bigint) as bin
       |from sh""".stripMargin.replace("\n", " ")
  }

  /** DuckDB mirror of [[perplexity]] — same counts, same unit grid, same
    * tercile window; only the list-index/unnest spellings differ. */
  def perplexitySql(table: String = "documents"): String =
    s"""with toks as (select doc_id, lang, string_split(trim(text), ' ') as ws from $table),
       |reft as (select lang, ws[i] as w1, ws[i + 1] as w2 from (
       |  select lang, ws, unnest(generate_series(1, len(ws) - 1)) as i
       |  from toks where $refPred and len(ws) >= 2)),
       |big as (select lang, w1, w2, cast(count(*) as bigint) as cb from reft group by 1, 2, 3),
       |ctx as (select lang, w1, cast(sum(cb) as bigint) as cc from big group by 1, 2),
       |voc as (select lang, cast(count(distinct w) as bigint) as v from (
       |  select lang, unnest(ws) as w from toks where $refPred) group by 1),
       |tr as (select doc_id, lang, ws[i] as w1, ws[i + 1] as w2 from (
       |  select doc_id, lang, ws, unnest(generate_series(1, len(ws) - 1)) as i
       |  from toks where len(ws) >= 2)),
       |sc as (select tr.doc_id as doc_id, tr.lang as lang, $unitExpr as u
       |  from tr
       |  left join big on tr.lang = big.lang and tr.w1 = big.w1 and tr.w2 = big.w2
       |  left join ctx on tr.lang = ctx.lang and tr.w1 = ctx.w1
       |  join voc on tr.lang = voc.lang),
       |pd as (select doc_id, lang, cast(count(*) as bigint) as n_trans,
       |  cast(sum(u) as bigint) as us from sc group by 1, 2)
       |select doc_id, lang, n_trans, nll9, $bucketExpr as bucket from (
       | select doc_id, lang, n_trans, $nllExpr as nll9,
       |  ntile(3) over (partition by lang
       |    order by $nllExpr asc, doc_id asc) as nt
       | from pd)""".stripMargin.replace("\n", " ")
}
