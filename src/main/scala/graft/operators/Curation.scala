package graft.operators

import graft.oracle.Parity
import graft.oracle.Parity.{DuckD, SparkD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The END-TO-END curation pipeline — every stage of the training-data
  * prep chain COMPOSED into one dataflow, the way a real 100 TB user
  * runs them (each stage is individually gate-checked elsewhere; the
  * composition is where accidental extra exchanges and recomputed
  * prefixes hide):
  *
  *   documents
  *     → quality + language filter      (curate_filter's scoring)
  *     → exact dedup, min-id keeper     (dedup_exact semantics)
  *     → cross-doc line dedup           (dedup_lines: globally duplicated
  *                                       10-token lines removed; a doc's
  *                                       token budget shrinks to its
  *                                       surviving lines)
  *     → bloom decontamination          (decontaminate_bloom: drop docs
  *                                       whose eval-shingle hit fraction
  *                                       reaches `contamMax`)
  *     → mix plan                       (mix_plan thresholds over the
  *                                       POST-dedup token counts)
  *     → deterministic corpus shuffle   (corpus_shuffle: shard + pos)
  *     → sequence packing               (text_pack bins, filled in the
  *                                       SHUFFLE order h — the training
  *                                       order — rather than pack's
  *                                       standalone hash)
  *
  * COMPOSITION SHAPE — the load-bearing design. A naive chain of the
  * standalone stages branches the survivor relation at every
  * aggregate-and-join-back (line-fp counts, bloom fractions, mix rates),
  * and because Spark recomputes non-identical subtrees, each branch
  * doubles the whole upstream prefix: the first cut of this pipeline
  * planned 36 parquet scans. The composed form is LINEAR instead:
  *
  *   - line-fp multiplicity is a COUNT WINDOW over the line relation
  *     (one fp-keyed exchange in-stream) rather than an aggregate joined
  *     back — the [[TextOps.sparseRetrieval]] open-universe df pattern;
  *   - `lang` rides the line relation, so after the line stage the
  *     pipeline never needs document text again and nothing joins back
  *     to a text-bearing prefix;
  *   - the bloom verdict is computed ONCE off the raw scan, not off the
  *     survivor prefix: hit_frac is per-document INTRINSIC (corpus
  *     shingles vs the eval filter — no cross-corpus term), so gating
  *     c3 survivors on it is semantically identical and the contam
  *     branch's prefix is a table scan, not the pipeline;
  *   - mix-plan totals are a per-lang SUM WINDOW (no rate-table join),
  *     and the pack window rides the SAME lang partitioning — filter
  *     preserves distribution, so packing adds a sort but no exchange;
  *   - the shard/pos window is the one remaining repartition, and it is
  *     exactly the `write.partitionBy(shard)` layout the export wants.
  *
  * Every corpus-sized exchange is attributable to one stage (PlanSpec
  * pins composed ≤ Σ standalone), nothing collects, and nothing
  * corpus-proportional broadcasts (bloom positions ≤ mBits, parts/t_fp
  * are row-local expressions).
  *
  * Cross-engine determinism: every stage reuses the exact shared-text
  * discipline its standalone query proved (md5 fingerprints, CW hashes,
  * integer token arithmetic, fixed-point thresholds), so the composed
  * output — member set AND shard/pos/bin assignment — hash-checks
  * against one DuckDB CTE chain at every dataset.
  */
object Curation {

  /** Run the composed pipeline. Returns one row per SURVIVING document:
    * (doc_id, lang, n_tokens, h, shard, pos, bin) where n_tokens is the
    * post-line-dedup token count the mix/pack stages budget with.
    *
    * `nearDup = true` inserts the NEAR-dup keep-first stage (verdict
    * r10 #2) between exact dedup and line dedup — the one production
    * dedup stage the composed chain was missing: the banded trigram-
    * Jaccard candidates of [[Dedup.ngramJaccardBanded]] over the
    * exact-dedup survivors, applied as the keep-earliest DROP rule of
    * [[Dedup.keepFirst]] (a doc drops iff some smaller-id near-dup
    * exists). Composition shape: the candidate pass checkpoints its
    * signature relation internally, the drop set is near-dup-sized, and
    * it anti-joins the survivor stream — no corpus-sized re-shuffle, no
    * pair list ever materialized downstream. */
  def pipeline(docs: DataFrame, evalEvery: Int = 97, qualityMin: Double = 0.5,
               lineTokens: Int = 10, mBits: Int = 65536, kHash: Int = 3,
               contamMax: Double = 0.5, budgetTokens: Long = 20000L,
               nShards: Int = 8, binBudget: Int = 256,
               nearDup: Boolean = false,
               nearDupPairs: Option[DataFrame] = None): DataFrame = {
    // stage 1 (row-local): quality + language-consistency filter.
    // n_chars (the raw column, not the recomputed n_chars_m) rides
    // along because the near-dup stage bands on it — the standalone
    // dedup gates' exact banding input.
    val scored = docs
      .filter(col("doc_id") % evalEvery =!= 0)
      .selectExpr("text" +: "n_chars" +:
        (TextOps.statsSelects(SparkD) ++ TextOps.langIdSelects(SparkD).drop(2)): _*)
      .withColumn("quality", expr(TextOps.qualityExpr))
      .withColumn("pred_lang", expr(TextOps.langPredExpr))
    val c1 = scored
      .filter(col("quality") >= qualityMin && col("pred_lang") === col("lang"))
      .select("doc_id", "lang", "text", "n_chars")

    // stage 2: exact dedup — keep the min-id copy of each distinct text
    // (a window, not an agg+join: the relation flows straight through)
    val c2x = c1
      .withColumn("keeper", min("doc_id").over(Window.partitionBy(md5(col("text")))))
      .filter(col("doc_id") === col("keeper"))
      .select("doc_id", "lang", "text", "n_chars")

    // stage 2b (optional): near-dup keep-first — drop every survivor
    // with a smaller-id banded near-duplicate ([[Dedup.keepFirst]]'s
    // verdict as an anti-join; doc_b is always the larger id, so the
    // distinct doc_b set IS the drop set)
    // `nearDupPairs` (verdict r12 #6): the banded pair relation served
    // from a STANDING artifact instead of recomputed per run — at
    // 100 TB the near-dup pass is materialized once by the dedup job
    // and every downstream pipeline reuses it (the `data_card_ndin`
    // discipline). Equivalence to the inline pass is exact because
    // [[Dedup.ngramJaccardBanded]] is pairwise-local (per-doc
    // signatures, per-pair verify — no corpus-dependent cut), so the
    // full-corpus pair relation restricted to both-endpoints-surviving
    // IS the survivor-corpus pair relation; the drop rule then only
    // fires when the smaller-id partner itself survived, exactly as
    // the inline spelling. Pair relations are near-dup-sized, so the
    // two semi-joins are cheap against the survivor stream.
    val c2 = if (!nearDup) c2x
      else {
        val ids = c2x.select("doc_id")
        val pairs = nearDupPairs match {
          case Some(p) => p
            .join(ids.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_semi")
            .join(ids.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"), "left_semi")
          case None => Dedup.ngramJaccardBanded(c2x)
        }
        c2x.join(pairs.select(col("doc_b").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
      }

    // stage 3: cross-doc line dedup over the survivors — fp multiplicity
    // via a count window on the line relation (conservative rule: ALL
    // copies of a repeated line go); the per-doc reassembly keeps lang so
    // text never has to be joined back. All-boilerplate docs drop out.
    val lines = Dedup.tokenLines(c2, lineTokens, carry = Seq("lang"))
    val c3 = lines
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("fp")))
      .groupBy("doc_id")
      .agg(max("lang").as("lang"),
        sum(when(col("cnt") === 1,
          expr("cast(size(split(line, ' ')) as bigint)")).otherwise(0L)).as("n_tokens"))
      .filter(col("n_tokens") > 0)

    // stage 4: bloom decontamination — the proven decontaminate_bloom
    // screen verbatim, computed off the RAW candidate scan (hit_frac is
    // per-doc intrinsic vs the eval set, so gating survivors on it is
    // identical — and the branch never recomputes the pipeline prefix)
    val contam = Dedup.decontaminateBloom(docs, evalEvery, mBits, kHash)
      .select(col("doc_id"), col("hit_frac"))
    val c4 = c3.join(contam, Seq("doc_id"))
      .filter(col("hit_frac") < contamMax)
      .select("doc_id", "lang", "n_tokens")

    // stage 5: mix plan over the post-dedup token counts — per-lang
    // totals as a sum window (no rate-table branch), threshold and
    // membership row-local
    val c5 = c4
      .withColumn("tok_total", sum("n_tokens").over(Window.partitionBy("lang")))
      .withColumn("parts", expr(Sampling.partsExpr))
      .withColumn("t_fp", expr(Sampling.tFpExpr(budgetTokens, "div")))
      .withColumn("u", expr(Sampling.mixHash("rolling_hash(cast(doc_id as string))")))
      .filter(col("u") < col("t_fp"))
      .select("doc_id", "lang", "n_tokens")

    // stages 6+7: contiguous-fill packing per lang in the SHUFFLE order
    // (h, doc_id) — rides the stage-5 lang partitioning, no new exchange
    // — then the deterministic shard/pos export layout
    val wPack = Window.partitionBy("lang").orderBy(col("h").asc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wShard = Window.partitionBy("shard").orderBy(col("h").asc, col("doc_id").asc)
    c5.withColumn("h", expr(Parity.cwMix(9, s"(doc_id % ${Parity.CwMod})")))
      .withColumn("shard", col("h") % nShards)
      .withColumn("cum", sum("n_tokens").over(wPack))
      .withColumn("bin", expr(s"(cum - n_tokens) div $binBudget"))
      .withColumn("pos", row_number().over(wShard).cast("long"))
      .select("doc_id", "lang", "n_tokens", "h", "shard", "pos", "bin")
  }

  /** DuckDB mirror of [[pipeline]] — the stages' oracle texts composed
    * as one CTE chain over the same survivor universes. */
  def pipelineSql(evalEvery: Int = 97, qualityMin: Double = 0.5,
                  lineTokens: Int = 10, mBits: Int = 65536, kHash: Int = 3,
                  contamMax: Double = 0.5, budgetTokens: Long = 20000L,
                  nShards: Int = 8, binBudget: Int = 256,
                  table: String = "documents",
                  nearDupShingle: String = ""): String = {
    val combined = (TextOps.statsSelects(DuckD) ++ TextOps.langIdSelects(DuckD).drop(2))
      .mkString(", ")
    val h9 = Parity.cwMix(9, s"(doc_id % ${Parity.CwMod})")
    val u = Sampling.mixHash(Parity.rollingHashDuck("cast(doc_id as varchar)"))
    // nearDupShingle non-empty mirrors `pipeline(nearDup = true)`: the
    // banded-candidate chain (nested WITH, the keepFirstSql pattern)
    // over the c2x survivors, distinct larger ids = the drop set
    val ndCtes =
      if (nearDupShingle.isEmpty) ""
      else s"""nd as (select distinct doc_b as doc_id
           | from (${Dedup.ngramJaccardBandedSql(nearDupShingle, table = "c2x")})),
           |c2 as (select c2x.* from c2x
           | where not exists (select 1 from nd where nd.doc_id = c2x.doc_id)),
           |""".stripMargin.replace("\n", " ")
    val c2Name = if (nearDupShingle.isEmpty) "c2" else "c2x"
    s"""with st as (select text, n_chars, $combined from $table where doc_id % $evalEvery <> 0),
       |c1 as (select doc_id, lang, text, n_chars from (
       |  select doc_id, lang, text, n_chars, ${TextOps.qualityExpr} as quality,
       |   ${TextOps.langPredExpr} as pred_lang from st)
       | where quality >= ${Parity.lit(qualityMin)} and pred_lang = lang),
       |$c2Name as (select doc_id, lang, text, n_chars from (
       |  select doc_id, lang, text, n_chars, min(doc_id) over (partition by md5(text)) as keeper
       |  from c1) where doc_id = keeper),
       |$ndCtes${Dedup.linesCteSql(lineTokens, "c2", ", lang").replace("\n", " ")},
       |lc as (select doc_id, lang, line,
       |  count(*) over (partition by md5(line)) as cnt from l),
       |c3 as (select * from (
       |  select doc_id, max(lang) as lang,
       |   cast(sum(case when cnt = 1 then len(string_split(line, ' ')) else 0 end) as bigint) as n_tokens
       |  from lc group by doc_id) where n_tokens > 0),
       |${Dedup.bloomScreenCtes(evalEvery, mBits, kHash, table).replace("\n", " ")},
       |c4 as (select c3.doc_id, c3.lang, c3.n_tokens from c3 join contam using (doc_id)
       | where hit_frac < ${Parity.lit(contamMax)}),
       |c5 as (select doc_id, lang, n_tokens from (
       |  select *, ${Sampling.tFpExpr(budgetTokens, "//")} as t_fp from (
       |   select m.*, ${Sampling.partsExpr} as parts from (
       |    select doc_id, lang, n_tokens,
       |     cast(sum(n_tokens) over (partition by lang) as bigint) as tok_total from c4) m) mp)
       | where $u < t_fp),
       |s6 as (select doc_id, lang, n_tokens, $h9 as h, ($h9) % $nShards as shard from c5)
       |select doc_id, lang, n_tokens, h, shard,
       | cast(row_number() over (partition by shard order by h asc, doc_id asc) as bigint) as pos,
       | cast((cum - n_tokens) // $binBudget as bigint) as bin
       |from (select *, sum(n_tokens) over (partition by lang order by h asc, doc_id asc
       |  rows between unbounded preceding and current row) as cum from s6)"""
      .stripMargin.replace("\n", " ")
  }

  /** Curate → index → retrieve, COMPOSED (the 4th composed pipeline,
    * next to curate/embed/curriculum): quality + language-consistency
    * filter, exact-dedup keeper window, then the BM25 query-by-example
    * retrieval ([[TextOps.bm25Retrieval]]) builds its posting index over
    * the SURVIVORS — the "index the cleaned corpus" shape every search/
    * RAG deploy runs. Composition properties: the filter is row-local
    * (no exchange), the keeper dedup is ONE md5-keyed window in-stream
    * (no agg-and-join-back, so the text-bearing prefix is never
    * recomputed), and everything downstream is the standalone
    * retrieval's own plan over a smaller relation — PlanSpec pins the
    * composed exchange budget at standalone + the one dedup exchange. */
  def searchPipeline(docs: DataFrame, qualityMin: Double = 0.5,
                     k: Int = 10, queryEvery: Int = 50): DataFrame = {
    val scored = docs
      .selectExpr("text" +:
        (TextOps.statsSelects(SparkD) ++ TextOps.langIdSelects(SparkD).drop(2)): _*)
      .withColumn("quality", expr(TextOps.qualityExpr))
      .withColumn("pred_lang", expr(TextOps.langPredExpr))
    val c1 = scored
      .filter(col("quality") >= qualityMin && col("pred_lang") === col("lang"))
      .select("doc_id", "text")
    // the retrieval plan consumes its corpus through FOUR branches
    // (lengths, df, totals, postings×query) and Spark recomputes
    // non-identical prefixes per branch — materialize the curated
    // survivors ONCE (the minHashPairs/allPairs posting-relation
    // discipline) so the filter+dedup prefix runs once, not four times
    val c2 = c1
      .withColumn("keeper", min("doc_id").over(Window.partitionBy(md5(col("text")))))
      .filter(col("doc_id") === col("keeper"))
      .select("doc_id", "text")
      .localCheckpoint()
    TextOps.bm25Retrieval(c2, k, queryEvery)
  }

  /** DuckDB mirror of [[searchPipeline]] — the curate CTEs prepended to
    * the standalone retrieval oracle via its `withPrefix` hook. */
  def searchPipelineSql(qualityMin: Double = 0.5, k: Int = 10,
                        queryEvery: Int = 50,
                        table: String = "documents"): String = {
    val combined = (TextOps.statsSelects(DuckD) ++ TextOps.langIdSelects(DuckD).drop(2))
      .mkString(", ")
    val prefix =
      s"""st as (select text, $combined from $table),
         |c1 as (select doc_id, text from (
         |  select doc_id, lang, text, ${TextOps.qualityExpr} as quality,
         |   ${TextOps.langPredExpr} as pred_lang from st)
         | where quality >= ${Parity.lit(qualityMin)} and pred_lang = lang),
         |c2 as (select doc_id, text from (
         |  select doc_id, text, min(doc_id) over (partition by md5(text)) as keeper
         |  from c1) where doc_id = keeper),
         |""".stripMargin.replace("\n", " ")
    TextOps.bm25RetrievalSql(k, queryEvery, "c2", prefix)
  }

  /** DATA CARD — the per-(source, lang) dataset datasheet a training
    * pipeline publishes next to its corpus (doc/token/char volumes,
    * quality distribution, duplication rate). Every column is an exact
    * or order-free aggregate of signals that are individually
    * gate-checked elsewhere (statsSelects/qualityExpr from
    * `curate_filter`, min-id exact-dedup keepers from `dedup_exact`),
    * so the composed report hash-checks end to end:
    *   - volumes: BIGINT sums;
    *   - quality: fpSum mean (order-free fixed point) + exact min/max
    *     — deliberately NOT a percentile, so no interpolation seam;
    *   - dup_rate: duplicates are non-keeper docs of a GLOBAL md5
    *     text group, attributed to the duplicate's own (source, lang)
    *     slice (a copy counts against the slice that carries it);
    *   - neardup_rate (r11): the share of the slice a NEAR-dup pass
    *     would additionally drop — exact-unique docs whose
    *     [[Dedup.keepFirst]] verdict is keep = false (a smaller-id
    *     banded trigram-Jaccard neighbor exists). Exact dups are
    *     excluded so the two rates report disjoint drop reasons.
    * One pass over the stats relation + one global dedup aggregate +
    * the banded keep-first decision relation (linear output — the
    * `dedup_decide` gate's production shape).
    *
    * `nearDupVerdict`: at 100 TB a datasheet should not RECOMPUTE the
    * banded near-dup self-join per card — the curation pipeline already
    * materializes the keep-first decision relation, so a caller that
    * has one passes it here (any relation with `(doc_id, keep)`,
    * covering every doc) and the card costs one stats pass + two
    * doc-proportional joins (verdict r11 #9). When absent, the card
    * computes [[Dedup.keepFirst]] itself — self-contained, same hash. */
  def dataCard(docs: DataFrame,
               nearDupVerdict: Option[DataFrame] = None): DataFrame = {
    val c = docs.selectExpr(TextOps.statsSelects(SparkD): _*)
      .withColumn("quality", expr(TextOps.qualityExpr))
    val keepers = Dedup.exact(docs)
      .select(col("keeper_id").as("doc_id"), lit(true).as("is_keeper"))
    val nd = nearDupVerdict.getOrElse(Dedup.keepFirst(docs))
      .select(col("doc_id"), col("keep"))
    c.join(keepers, Seq("doc_id"), "left")
      .join(nd, Seq("doc_id"))
      .groupBy("source", "lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        sum("n_chars_m").as("n_chars"),
        expr(Parity.fpSum("quality")).as("q_sum"),
        min("quality").as("q_min"),
        max("quality").as("q_max"),
        sum(when(col("is_keeper").isNull, 1L).otherwise(0L)).as("n_dups"),
        sum(when(col("is_keeper").isNotNull && !col("keep"), 1L)
          .otherwise(0L)).as("n_neardups"))
      .withColumn("q_mean", col("q_sum") / col("n_docs").cast("double"))
      .withColumn("dup_rate",
        col("n_dups").cast("double") / col("n_docs").cast("double"))
      .withColumn("neardup_rate",
        col("n_neardups").cast("double") / col("n_docs").cast("double"))
      .select("source", "lang", "n_docs", "n_tokens", "n_chars",
        "q_mean", "q_min", "q_max", "n_dups", "dup_rate",
        "n_neardups", "neardup_rate")
  }

  /** INDEX-HEALTH card over a standing [[NearDupIndex]]'s `driftlog`
    * sidecar (verdict r13 #5): the per-append drift observations exist
    * since r13 ([[NearDupIndex.NearDupDrift]] — frozen-stop-cut decay
    * and, since r14, hot-bucket-cap growth) but nothing consumed them;
    * this is the datasheet row a curation pipeline publishes next to
    * its dedup stage so the documented rebuild triggers
    * (`newBoilerplateFrac` > ~0.05, cap growth » 0) are READ, not
    * inferred. One row, order-free aggregates over the append log
    * (counts/sums exact, fracs max'd — the trigger reads the worst
    * shard), so the card is independent of append order and of the
    * parquet row layout. Cost: the driftlog is appends-sized (one row
    * per append) — this never touches the index tables. */
  def indexHealthCard(spark: org.apache.spark.sql.SparkSession,
                      dir: String): DataFrame = {
    // an index that has never had an append has no driftlog sidecar at
    // all (the append writes it, and a rebuild resets it): that reads
    // as the healthy all-zeros card, not PATH_NOT_FOUND (advice r14)
    val driftlog =
      if (IndexFs.exists(spark, s"$dir/driftlog"))
        spark.read.schema("shard_docs long, shard_fp_mass long, " +
            "new_boilerplate_frac double, stale_stop_frac double, " +
            "cap_grown_buckets long")
          .parquet(s"$dir/driftlog")
      else
        spark.range(0).selectExpr("id as shard_docs", "id as shard_fp_mass",
          "cast(id as double) as new_boilerplate_frac",
          "cast(id as double) as stale_stop_frac", "id as cap_grown_buckets")
    driftlog
      .agg(
        count(lit(1)).as("n_appends"),
        coalesce(sum("shard_docs"), lit(0L)).as("shard_docs_total"),
        coalesce(sum("shard_fp_mass"), lit(0L)).as("shard_fp_mass_total"),
        coalesce(max("new_boilerplate_frac"), lit(0d))
          .as("new_boilerplate_frac_max"),
        coalesce(max("stale_stop_frac"), lit(0d)).as("stale_stop_frac_max"),
        coalesce(max("cap_grown_buckets"), lit(0L))
          .as("cap_grown_buckets_max"))
  }

  /** DuckDB mirror of [[dataCard]]. `shingle` is the caller's DuckDB
    * trigram expression (the keepFirst oracle's). */
  def dataCardSql(table: String = "documents", shingle: String): String = {
    val combined = TextOps.statsSelects(DuckD).mkString(", ")
    s"""with st as (select *, ${TextOps.qualityExpr} as quality
       |  from (select $combined from $table)),
       |k as (select min(doc_id) as doc_id, true as is_keeper
       | from $table group by md5(text)),
       |nd as (select doc_id, keep from (${Dedup.keepFirstSql(shingle, table)})),
       |g as (select source, lang,
       |  cast(count(*) as bigint) as n_docs,
       |  cast(sum(n_tokens) as bigint) as n_tokens,
       |  cast(sum(n_chars_m) as bigint) as n_chars,
       |  ${Parity.fpSum("quality")} as q_sum,
       |  min(quality) as q_min, max(quality) as q_max,
       |  cast(sum(case when is_keeper is null then 1 else 0 end) as bigint) as n_dups,
       |  cast(sum(case when is_keeper is not null and not keep then 1 else 0 end) as bigint) as n_neardups
       | from st left join k on st.doc_id = k.doc_id
       |  join nd on st.doc_id = nd.doc_id
       | group by 1, 2)
       |select source, lang, n_docs, n_tokens, n_chars,
       | q_sum / cast(n_docs as double) as q_mean, q_min, q_max, n_dups,
       | cast(n_dups as double) / cast(n_docs as double) as dup_rate,
       | n_neardups,
       | cast(n_neardups as double) / cast(n_docs as double) as neardup_rate
       |from g""".stripMargin.replace("\n", " ")
  }
}
