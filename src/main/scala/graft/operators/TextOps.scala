package graft.operators

import graft.oracle.Parity.{Dialect, DuckD, SparkD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: token stats, quality
  * scoring, fingerprinting (builder north star, SURVEY.md §7.6). All
  * built from codegen'd built-ins — per-row, embarrassingly parallel, no
  * shuffle.
  *
  * The snippet builders are dialect-parameterized so the Spark plan and
  * the DuckDB oracle evaluate the *same arithmetic*: token counts and
  * ratios are exact integer ratios → bit-deterministic, no rounding.
  */
object TextOps {

  val stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "in", "to", "is", "data", "value", "fast")

  /** Per-document token statistics + quality ratios, one SQL snippet per
    * output column (join with "," for the oracle; feed to selectExpr for
    * Spark). Tokenization = split on single space after trim (empties
    * from runs of spaces count identically in both engines). */
  def statsSelects(d: Dialect): Seq[String] = {
    val (split, len, distinct, filt) = d match {
      case SparkD => ("split", "size", "array_distinct", "filter")
      case DuckD  => ("string_split", "len", "list_distinct", "list_filter")
    }
    val toks = s"$split(trim(text), ' ')"
    val nTok = s"$len($toks)"
    val stopList = stopwords.map(w => s"'$w'").mkString(", ")
    val sumLen = s"(length(trim(text)) - ($nTok - 1))"
    Seq(
      "doc_id", "lang", "source",
      "cast(length(text) as bigint) as n_chars_m",
      s"cast($nTok as bigint) as n_tokens",
      s"cast($len($distinct($toks)) as bigint) as n_distinct",
      s"cast($sumLen as bigint) as sum_token_len",
      s"(cast($sumLen as double) / cast($nTok as double)) as avg_token_len",
      s"(cast($len($distinct($toks)) as double) / cast($nTok as double)) as ttr",
      s"(cast($len($filt($toks, t -> t in ($stopList))) as double) / cast($nTok as double)) as stop_ratio")
  }

  /** Composite quality score in [0,1]: length band + lexical diversity +
    * stopword presence, over the [[statsSelects]] columns. Pure rational
    * arithmetic on exact ratios — deterministic. */
  def qualityExpr: String =
    "(least(1e0, cast(n_chars_m as double) / 4e2) * 4e-1" +
      " + least(1e0, ttr * 2e0) * 3e-1" +
      " + least(1e0, stop_ratio * 1e1) * 3e-1)"

  /** Spark side of [[statsSelects]] — same snippets by construction. */
  def stats(docs: DataFrame): DataFrame =
    docs.selectExpr(statsSelects(SparkD): _*)

  /** BPE-ish sub-word tokenization: the classic pre-tokenizer regex
    * (letter runs | digit runs | single non-alphanumeric), counted via
    * regexp_extract_all — identical simple-class pattern semantics in
    * Java and RE2 regex engines. */
  val bpePattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"

  def bpeSelects: Seq[String] = Seq(
    "doc_id",
    s"cast(size(regexp_extract_all(text, '$bpePattern', 0)) as bigint) as n_bpe",
    s"cast(size(array_distinct(regexp_extract_all(text, '$bpePattern', 0))) as bigint) as n_bpe_distinct")

  def bpeTokens(docs: DataFrame): DataFrame = docs.selectExpr(bpeSelects: _*)

  def bpeSql(table: String = "documents"): String =
    s"""select doc_id,
       | cast(len(regexp_extract_all(text, '$bpePattern', 0)) as bigint) as n_bpe,
       | cast(len(list_distinct(regexp_extract_all(text, '$bpePattern', 0))) as bigint) as n_bpe_distinct
       |from $table""".stripMargin.replace("\n", " ")

  /** Language-ID by stopword-profile scoring: score(lang) = fraction of
    * tokens in that language's function-word list; prediction = argmax
    * with alphabetical tie-break. The classic cheap n-gram/stopword
    * heuristic — deterministic exact ratios, dialect-shared. (The
    * synthetic corpus uses one shared vocabulary across langs, so the
    * scorer's value here is the oracle-checked mechanics, not accuracy.) */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "en" -> Seq("the", "a", "of", "and", "in", "to", "is", "that", "it", "for"),
    "es" -> Seq("el", "la", "que", "y", "en", "un", "es", "no", "por", "los"),
    "fr" -> Seq("le", "la", "et", "un", "que", "pour", "dans", "ce", "une", "sur"),
    "zh" -> Seq("的", "是", "在", "了", "我", "有", "和", "就", "不", "人"))

  def langIdSelects(d: Dialect, textCol: String = "text"): Seq[String] = {
    val (split, len, filt) = d match {
      case SparkD => ("split", "size", "filter")
      case DuckD  => ("string_split", "len", "list_filter")
    }
    val toks = s"$split(trim($textCol), ' ')"
    val scores = langProfiles.map { case (lg, ws) =>
      val list = ws.map(w => s"'$w'").mkString(", ")
      s"(cast($len($filt($toks, t -> t in ($list))) as double) / cast($len($toks) as double)) as s_$lg"
    }
    Seq("doc_id", "lang") ++ scores
  }

  /** argmax over the s_<lang> columns, alphabetical tie-break. */
  def langPredExpr: String = {
    val m = langProfiles.map { case (lg, _) => s"s_$lg" }.mkString("greatest(", ", ", ")")
    val cases = langProfiles.map { case (lg, _) => s"when s_$lg = $m then '$lg'" }
    s"(case ${cases.mkString(" ")} end)"
  }

  def langId(docs: DataFrame): DataFrame =
    docs.selectExpr(langIdSelects(SparkD): _*)
      .withColumn("pred_lang", expr(langPredExpr))
      .withColumn("is_correct", col("pred_lang") === col("lang"))

  /** Content fingerprint of whitespace-trimmed text (md5 — identical hex
    * in both engines) plus UTF-8 byte length. */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(trim(col("text"))).as("fingerprint"),
      octet_length(col("text")).cast("long").as("n_bytes"))

  // -------------------------------------------------------------------
  // Winnowing (Schleimer, Wilkerson, Aiken, SIGMOD 2003 — the MOSS
  // fingerprint selection; public algorithm): hash every char k-gram,
  // slide a w-window over the positions, keep each window's minimal
  // hash (rightmost on ties). Guarantees a match of length ≥ w+k-1 is
  // always detected while storing ~2/(w+1) of the hashes — the
  // position-ROBUST exact-substring fingerprint (doc_rolling_hash is
  // whole-doc; dedup_spans is fixed-stride: both break under single
  // insertions, winnowing doesn't).
  // -------------------------------------------------------------------

  private val winK = 5 // k-gram width
  private val winW = 4 // winnowing window

  /** (hash, rightmost-tie) packed into ONE BIGINT so the window argmin
    * is a plain integer `min` in both engines: key = h·2^33 + (2^33-1-i)
    * — h < CwMod < 2^30 keeps the product ≤ 2^63-2^33, so the packed
    * key tops out at exactly 2^63-1 (signed-64 max) and smaller key ⇔
    * (smaller h, then LARGER i). Positions are structurally < 2^33:
    * a JVM string caps at 2^31-1 chars, so no document the Spark side
    * can hold ever aliases (the r5 2^21 packing silently wrapped past
    * ~2M chars; this one cannot overflow by construction). */
  private def winKey(h: String, i: String): String =
    s"(($h) * 8589934592 + (8589934591 - ($i)))"

  /** Winnowed fingerprints: (doc_id, pos, fp) — the selected k-gram
    * start positions and their rolling hashes. r15: ONE codegen
    * expression per document ([[graft.functions.WinnowSel]]) — the
    * selection is doc-local, so the old dataflow spelling's
    * row-per-character explode + exchange + window sort (a corpus-
    * characters-sized shuffle PER WINNOW CALL, inherited by the
    * near-dup index verbs, the incremental/batch winnow dedups and
    * winnow decontamination) collapses to scan → explode(selected
    * set): zero exchanges, nothing per-character leaves the scan
    * stage. Output rows are already distinct (the expression returns
    * the distinct selected-key set; keys encode (pos, fp) uniquely),
    * so the old trailing distinct's exchange is gone too. Documents
    * shorter than k+w-1 chars have no full window and are absent —
    * identical filter in both engines; the DuckDB oracle
    * ([[winnowSql]]) is untouched, so every winnow gate hash-checks
    * the expression against the independent declarative spelling.
    * Selected sets are pinned bit-identical to [[winnowWindowed]] by
    * the differential spec. */
  def winnow(docs: DataFrame): DataFrame = {
    docs
      .select(col("doc_id"), explode(expr("winnow_sel(trim(text))")).as("sel"))
      .select(col("doc_id"),
        expr("cast(8589934591 - sel % 8589934592 as bigint)").as("pos"),
        expr("cast(sel div 8589934592 as bigint)").as("fp"))
  }

  /** The pre-r15 dataflow spelling of [[winnow]] — kept as the
    * INDEPENDENT reference implementation the differential spec pins
    * [[graft.functions.WinnowSel]] against (per-row generators + one
    * chunk-keyed partition-local window; the chunking splits a
    * pathological document into `chunkLen`-position window tasks with
    * w−1 frame-filler overlap, selecting exactly the unchunked set). */
  private[graft] def winnowWindowed(docs: DataFrame, chunkLen: Int = 1 << 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = docs
      .select(col("doc_id"), expr("trim(text)").as("t"))
      .select(col("doc_id"), expr(s"char_length(t) - ${winK - 1}").as("np"),
        // floor the bound at 1, NOT 0: Spark's sequence(1, 0) descends
        // [1,0]; the stray i=1 row of a short doc dies in the
        // full-window filter below
        explode(expr(s"sequence(1, greatest(char_length(t) - ${winK - 1}, 1))")).as("i"),
        col("t"))
      .select(col("doc_id"), col("np"), col("i"),
        expr(winKey(s"rolling_hash(substring(t, i, $winK))", "i")).as("key"))
      // chunk membership: every position joins its own chunk; the first
      // w-1 positions of chunk c>0 are replicated into chunk c-1 so the
      // forward-looking frame never crosses a partition boundary
      .select(col("doc_id"), col("np"), col("i"), col("key"),
        explode(expr(
          s"if((i - 1) % $chunkLen < ${winW - 1} and i > $chunkLen, " +
            s"array((i - 1) div $chunkLen, (i - 1) div $chunkLen - 1), " +
            s"array((i - 1) div $chunkLen))")).as("chunk"))
    val w = Window.partitionBy("doc_id", "chunk").orderBy(col("i").asc)
      .rowsBetween(Window.currentRow, winW - 1)
    grams
      .withColumn("sel", min("key").over(w))
      .filter(col("i") <= col("np") - (winW - 1)) // full windows only
      .filter(expr(s"(i - 1) div $chunkLen = chunk")) // owning rows only
      .select(col("doc_id"),
        expr("cast(8589934591 - sel % 8589934592 as bigint)").as("pos"),
        expr("cast(sel div 8589934592 as bigint)").as("fp"))
      .distinct()
  }

  /** DuckDB mirror of [[winnow]] (`length` is DuckDB's char count; the
    * single-node oracle needs no chunking — same selected set). */
  def winnowSql(table: String = "documents"): String = {
    val rh = graft.oracle.Parity.rollingHashDuck(s"substring(t, gi, $winK)")
    s"""with g as (select doc_id, np, gi, ${winKey(rh, "gi")} as key from (
       |  select doc_id, length(t) - ${winK - 1} as np,
       |   unnest(generate_series(1, greatest(length(t) - ${winK - 1}, 0))) as gi, t
       |  from (select doc_id, trim(text) as t from $table))),
       |sel as (select doc_id, gi, np,
       |  min(key) over (partition by doc_id order by gi asc
       |    rows between current row and ${winW - 1} following) as sel
       | from g)
       |select distinct doc_id, cast(8589934591 - sel % 8589934592 as bigint) as pos,
       | cast(sel // 8589934592 as bigint) as fp
       |from sel where gi <= np - ${winW - 1}""".stripMargin.replace("\n", " ")
  }

  /** Winnow→dedup consumer (the MOSS overlap report, Schleimer et al.
    * §5): document pairs ranked by how many winnowed fingerprints they
    * share. Because winnowing guarantees any common substring of length
    * ≥ w+k-1 contributes at least one SELECTED fingerprint to both
    * docs regardless of where it sits, this catches the
    * single-insertion shifted copy that [[Dedup]]'s fixed-stride span
    * hashing structurally misses — the position-robust sibling of
    * `dedup_spans`.
    *
    * Scale shape: the corpus collapses to its fingerprint sets
    * (~2/(w+1) of the k-grams), a df stop cut drops boilerplate
    * fingerprints shared by >10% of docs (the same knob as the
    * tf-idf/all-pairs family — hot keys are what make fingerprint
    * joins quadratic), and pairs meet in a fingerprint-keyed equi-join
    * whose work tracks realized overlap, never |docs|². Score =
    * shared / min(|A|,|B|) (containment — a doc pasted inside a larger
    * one still scores 1.0); exact integer ratio, bit-deterministic. */
  def winnowOverlap(docs: DataFrame, minShared: Int = 3,
                    threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fps = winnow(docs).select("doc_id", "fp").distinct().localCheckpoint()
    // corpus size is a bounded driver aggregate (one count job); riding
    // it through the dataflow as a broadcast 1-row cross join was
    // MEASURED to cost +6s at sf0.1 (15.1s vs 8.9s end-to-end, both
    // passes, plans otherwise identical) — the literal keeps the
    // df-filter side a clean broadcast build
    val nDocs = docs.select("doc_id").distinct().count()
    // kept feeds three consumers (sets + both join sides) — materialize
    // once, like the minHashPairs/allPairs posting relation
    val kept = fps.join(
      fps.groupBy("fp").agg(count(lit(1)).as("dfp"))
        .filter(col("dfp") * 10 <= lit(nDocs)).select("fp"),
      "fp").localCheckpoint()
    // r16: candidates via the SMALLER-SIDE rarest prefix + one sorted
    // merge per pair — [[graft.operators.Dedup.incrementalWinnowFrom]]'s
    // lossless trick applied to the symmetric batch overlap. A passing
    // pair needs n_shared >= t = max(minShared, floor(threshold·n_min))
    // (floor is the conservative integer bound: n_shared is an integer
    // >= threshold·n_min, so >= floor of it), hence any
    // (n_min - t + 1)-subset of the SMALLER doc's kept fps intersects
    // the pair — probing with its rarest that-many fps is lossless, and
    // one side suffices when generation is pinned to the (n, id)-smaller
    // side. Measured at sf0.1: fan-out 22.1 M → 10.9 M rows, candidates
    // 6.2 M (vs 8.5 M aggregated pairs), each verified by one
    // sorted_intersect_count merge over the ~32-element kept-fp arrays.
    // (The r15 rejection of a two-sided prefix probe used the hash-set
    // array_intersect verify; the codegen merge changes the trade — A/B
    // min-of-3 8.86 → 4.73 s. The per-fp join+aggregate spelling stays as
    // [[winnowOverlapJoinAgg]], pinned by the differential spec; the
    // DuckDB oracle keeps the independent join+aggregate spelling.)
    val sets = kept.groupBy("doc_id").agg(
        sort_array(collect_list(col("fp"))).as("fset"),
        count(lit(1)).as("n_fp"))
      .localCheckpoint()
    val dfp = kept.groupBy("fp").agg(count(lit(1)).as("dfp"))
    val wd = Window.partitionBy("doc_id").orderBy(col("dfp").asc, col("fp").asc)
    val pref = kept.join(dfp, "fp")
      .withColumn("rk", row_number().over(wd))
      .withColumn("n_fp", count(lit(1)).over(Window.partitionBy("doc_id")))
      .withColumn("t", greatest(lit(minShared.toLong),
        expr(s"cast(floor(n_fp * ${graft.oracle.Parity.lit(threshold)}) as bigint)")))
      .filter(col("rk") <= col("n_fp") - col("t") + 1)
      .select(col("doc_id").as("doc_p"), col("n_fp").as("n_p"), col("fp"))
    val other = kept.select(col("doc_id").as("doc_o"), col("fp"))
      .join(sets.select(col("doc_id").as("doc_o"), col("n_fp").as("n_o")), "doc_o")
    val cand = pref.join(other, "fp")
      .filter(col("n_p") < col("n_o") ||
        (col("n_p") === col("n_o") && col("doc_p") < col("doc_o")))
      .select(least(col("doc_p"), col("doc_o")).as("doc_a"),
        greatest(col("doc_p"), col("doc_o")).as("doc_b"))
      .distinct()
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("fset").as("fa"),
        col("n_fp").as("n_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("fset").as("fb"),
        col("n_fp").as("n_b")), "doc_b")
      .withColumn("n_shared", expr("sorted_intersect_count(fa, fb)"))
      .filter(col("n_shared") >= minShared)
      .withColumn("score",
        col("n_shared").cast("double") / least(col("n_a"), col("n_b")).cast("double"))
      .filter(col("score") >= threshold)
      .select("doc_a", "doc_b", "n_shared", "n_a", "n_b", "score")
  }

  /** The pre-r16 per-fp join+aggregate spelling of [[winnowOverlap]] —
    * kept as the INDEPENDENT Spark reference the differential spec pins
    * the prefix-filtered respelling against. Its code comments carry the
    * r15 measured trade-offs that still motivate the df stop cut. */
  private[graft] def winnowOverlapJoinAgg(docs: DataFrame, minShared: Int = 3,
                    threshold: Double = 0.5): DataFrame = {
    val fps = winnow(docs).select("doc_id", "fp").distinct().localCheckpoint()
    val nDocs = docs.select("doc_id").distinct().count()
    val kept = fps.join(
      fps.groupBy("fp").agg(count(lit(1)).as("dfp"))
        .filter(col("dfp") * 10 <= lit(nDocs)).select("fp"),
      "fp").localCheckpoint()
    // Second-stage-cut candidates MEASURED r15 at sf0.1 (22.1M fan-out
    // rows -> 12M distinct pairs): (a) dropping docs with n_fp <
    // minShared pre-join kills 2 of 5000 docs — template-heavy corpora
    // have no doomed-doc tail; (b) a TWO-SIDED Bayardo prefix probe
    // (probe prefix n-ceil(t*n)+1, index prefix n-minShared+1) halves
    // the fan-out to 10.7M but its hash-set array_intersect verify cost
    // more than the direct count (superseded r16: the smaller-side
    // prefix + sorted-merge verify in [[winnowOverlap]] wins);
    // (c) a packed single-long pair key changes agg time by <3%.
    val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    val pairs = kept.select(col("doc_id").as("doc_a"), col("fp"))
      .join(kept.select(col("doc_id").as("doc_b"), col("fp")), "fp")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    pairs
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_fp").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_fp").as("n_b")), "doc_b")
      .withColumn("score",
        col("n_shared").cast("double") / least(col("n_a"), col("n_b")).cast("double"))
      .filter(col("score") >= threshold)
      .select("doc_a", "doc_b", "n_shared", "n_a", "n_b", "score")
  }

  /** DuckDB mirror of [[winnowOverlap]]. */
  def winnowOverlapSql(minShared: Int = 3, threshold: Double = 0.5,
                       table: String = "documents"): String =
    s"""with wn as materialized (${winnowSql(table)}),
       |fps as materialized (select distinct doc_id, fp from wn),
       |nd as (select cast(count(distinct doc_id) as bigint) as n_docs from $table),
       |kept as materialized (select doc_id, fp from fps
       |  where fp in (select fp from fps, nd group by fp, n_docs
       |               having cast(count(*) as bigint) * 10 <= n_docs)),
       |sz as (select doc_id, cast(count(*) as bigint) as n_fp from kept group by doc_id),
       |pr as (select a.doc_id as doc_a, b.doc_id as doc_b,
       |  cast(count(*) as bigint) as n_shared
       | from kept a join kept b using (fp) where a.doc_id < b.doc_id
       | group by 1, 2 having cast(count(*) as bigint) >= $minShared)
       |select doc_a, doc_b, n_shared, sa.n_fp as n_a, sb.n_fp as n_b,
       | cast(n_shared as double) / cast(least(sa.n_fp, sb.n_fp) as double) as score
       |from pr join sz sa on pr.doc_a = sa.doc_id
       |  join sz sb on pr.doc_b = sb.doc_id
       |where cast(n_shared as double) / cast(least(sa.n_fp, sb.n_fp) as double)
       |  >= ${graft.oracle.Parity.lit(threshold)}""".stripMargin.replace("\n", " ")

  /** Banded winnow overlap — the bounded-candidate sibling of
    * [[winnowOverlap]] (verdict r7 #3). The full operator's pair count
    * is realized-overlap-proportional: on a template-heavy corpus the
    * fp-keyed equi-join materializes EVERY co-occurrence row before the
    * pair aggregate, which is what watchdog-capped it at sf1. Here the
    * fp sets are first LSH-banded (the [[Dedup.minHashPairs]]
    * discipline lifted from shingle codes to winnow fingerprints): a
    * per-doc Carter-Wegman MinHash signature over the kept fp set —
    * ONE map-side-combined aggregate, never an fp self-join — is split
    * into `bands` buckets, candidates are same-bucket pairs, and the
    * EXACT containment verify (linear-merge intersect over sorted fp
    * arrays) runs only inside candidates. Verify arithmetic and the df
    * stop cut are identical to [[winnowOverlap]], so the output is
    * structurally a SUBSET of the full operator's (candidates ⊆ all
    * pairs; scoring identical) with MinHash-LSH recall at the Jaccard
    * the band curve targets ((1/b)^(1/r) ≈ 0.35 for 8×2) —
    * TextOpsWinnowSpec measures recall = 1.0 on the planted near-dup
    * corpus. Whole chain deterministic and SQL-expressible → the
    * driver hash-checks the banded algorithm END-TO-END.
    *
    * Scale shape: candidate volume is bounded by bucket co-occupancy
    * (near-dup cliques + CW hash noise), not by fp co-occurrence mass;
    * per-pair verify is a linear merge of two fp arrays. The fp-set
    * arrays RIDE the band join (×bands — the [[Dedup.ngramJaccardBanded]]
    * trade) so the verify runs INLINE in the join stage and each pair
    * verifies exactly once in its FIRST colliding band
    * ([[Dedup.firstMeetChainSql]]): an earlier cut materialized distinct
    * candidate pairs and re-attached both fp arrays through two more
    * joins, re-shuffling pairs × arrays — on a template-heavy 10× corpus
    * (where most same-band pairs are genuine near-dups and candidate
    * mass ≈ output, irreducible) that shape ran 73.3 s where this one
    * clears in ~17 s, measured. Candidate SET and scoring arithmetic are
    * unchanged (first-meet is a dedupe of the same collision relation),
    * so the DuckDB mirror — distinct candidates, same verify — is
    * untouched and the gate stays bit-for-bit. */
  def winnowOverlapBanded(docs: DataFrame, minShared: Int = 3,
                          threshold: Double = 0.5,
                          numHashes: Int = 16, bands: Int = 8): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val fps = winnow(docs).select("doc_id", "fp").distinct().localCheckpoint()
    // bounded driver count — the measured winnowOverlap trade (riding
    // n_docs through the dataflow cost +6s at sf0.1)
    val nDocs = docs.select("doc_id").distinct().count()
    // same df stop cut as winnowOverlap: boilerplate fps (>10% of docs)
    // would otherwise dominate every signature AND the verify sets
    val kept = fps.join(
      fps.groupBy("fp").agg(count(lit(1)).as("dfp"))
        .filter(col("dfp") * 10 <= lit(nDocs)).select("fp"),
      "fp").localCheckpoint()
    // ONE aggregate builds everything the join needs per doc: the sorted
    // fp array (verify operand), its size (containment denominator), and
    // the 16 CW minima. fp < CwMod by the winnow packing (h < CwMod
    // rides the high bits), so cwMix is overflow-free on it directly
    val sigAggs = (0 until numHashes).map(j =>
      min(expr(graft.oracle.Parity.cwMix(j, "fp"))).as(s"h$j"))
    val aggs = Seq(sort_array(collect_list(col("fp"))).as("fset"),
      count(lit(1)).as("n_fp")) ++ sigAggs
    val sets = kept.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    val bvCols = (0 until bands).map(b =>
      expr(Dedup.bandValueSql((b * r until (b + 1) * r).map(j => s"h$j"))))
    // checkpoint BEFORE the band explode: stores each fp array once
    // (not ×bands); the explode is free to repeat per join side
    val banded = sets
      .select(col("doc_id"), col("fset"), col("n_fp"), array(bvCols: _*).as("bvs"))
      .localCheckpoint()
      .select(col("doc_id"), col("fset"), col("n_fp"), col("bvs"),
        posexplode(col("bvs")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bv")
    def side(s: String) = banded.select(col("doc_id").as(s"doc_$s"),
      col("fset").as(s"f$s"), col("n_fp").as(s"n_$s"),
      col("bvs").as(s"bvs_$s"), col("band"), col("bv"))
    side("a").join(side("b"), Seq("band", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(expr(Dedup.firstMeetChainSql(bands)))
      .withColumn("n_shared", expr("sorted_intersect_count(fa, fb)"))
      .filter(col("n_shared") >= minShared)
      .withColumn("score",
        col("n_shared").cast("double") / least(col("n_a"), col("n_b")).cast("double"))
      .filter(col("score") >= threshold)
      .select("doc_a", "doc_b", "n_shared", "n_a", "n_b", "score")
  }

  /** DuckDB mirror of [[winnowOverlapBanded]] — every constant
    * (CW params, band fold, df cut, thresholds) interpolated from the
    * same Scala source as the Spark plan. */
  def winnowOverlapBandedSql(minShared: Int = 3, threshold: Double = 0.5,
                             numHashes: Int = 16, bands: Int = 8,
                             table: String = "documents"): String = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val sigCols = (0 until numHashes)
      .map(j => s"min(${graft.oracle.Parity.cwMix(j, "fp")}) as h$j")
      .mkString(", ")
    val bandRows = (0 until bands)
      .map(b => s"select doc_id, $b as band, " +
        s"${Dedup.bandValueSql((b * r until (b + 1) * r).map(j => s"h$j"))} as bv from sig")
      .mkString(" union all ")
    s"""with wn as materialized (${winnowSql(table)}),
       |fps as materialized (select distinct doc_id, fp from wn),
       |nd as (select cast(count(distinct doc_id) as bigint) as n_docs from $table),
       |kept as materialized (select doc_id, fp from fps
       |  where fp in (select fp from fps, nd group by fp, n_docs
       |               having cast(count(*) as bigint) * 10 <= n_docs)),
       |sig as (select doc_id, $sigCols from kept group by doc_id),
       |banded as ($bandRows),
       |cand as (select distinct a.doc_id as doc_a, b.doc_id as doc_b
       |  from banded a join banded b on a.band = b.band and a.bv = b.bv
       |    and a.doc_id < b.doc_id),
       |sets as materialized (select doc_id, list_sort(list(fp)) as fset,
       |  cast(count(*) as bigint) as n_fp from kept group by doc_id),
       |vr as (select doc_a, doc_b,
       |  cast(len(list_intersect(sa.fset, sb.fset)) as bigint) as n_shared,
       |  sa.n_fp as n_a, sb.n_fp as n_b
       |  from cand join sets sa on cand.doc_a = sa.doc_id
       |    join sets sb on cand.doc_b = sb.doc_id)
       |select doc_a, doc_b, n_shared, n_a, n_b,
       | cast(n_shared as double) / cast(least(n_a, n_b) as double) as score
       |from vr where n_shared >= $minShared
       |  and cast(n_shared as double) / cast(least(n_a, n_b) as double)
       |    >= ${graft.oracle.Parity.lit(threshold)}""".stripMargin.replace("\n", " ")
  }

  /** Within-document repetition signals (the Gopher/MassiveText quality
    * filters): fraction of duplicate word n-grams and the share of the
    * most frequent token. All exact integer ratios over per-row array
    * ops — no shuffle, bit-deterministic in both engines. */
  def repetitionSelects(d: Dialect): Seq[String] = {
    val (split, len, distinct) = d match {
      case SparkD => ("split", "size", "array_distinct")
      case DuckD  => ("string_split", "len", "list_distinct")
    }
    val toks = s"$split(trim(text), ' ')"
    val nTok = s"$len($toks)"
    // NON-distinct word k-grams: repetition is about multiplicity
    def grams(k: Int) = d match {
      case SparkD =>
        s"transform(sequence(1, greatest($nTok - ${k - 1}, 1)), " +
          s"i -> concat_ws(' ', slice($toks, i, $k)))"
      case DuckD =>
        s"list_transform(generate_series(1, greatest($nTok - ${k - 1}, 1)), " +
          s"i -> array_to_string(list_slice($toks, i, i + ${k - 1}), ' '))"
    }
    def dupFrac(k: Int) =
      s"(1e0 - cast($len($distinct(${grams(k)})) as double) / " +
        s"cast($len(${grams(k)}) as double))"
    // max token multiplicity. A sorted-run-length fold (sort_array +
    // aggregate) was MEASURED at parity with this per-distinct-token
    // rescan at sf0.1 (~3.2 s either way — the row's cost is the gram
    // arrays, and codegen subexpression elimination already dedups the
    // repeated splits), so the symmetric two-dialect spelling stays.
    val topTok = d match {
      case SparkD =>
        s"array_max(transform($distinct($toks), t -> $len(filter($toks, x -> x = t))))"
      case DuckD =>
        s"list_max(list_transform($distinct($toks), t -> $len(list_filter($toks, x -> x = t))))"
    }
    Seq(
      "doc_id", "lang",
      s"cast($nTok as bigint) as n_tokens",
      s"(cast($topTok as double) / cast($nTok as double)) as top_token_frac",
      s"${dupFrac(2)} as dup_2gram_frac",
      s"${dupFrac(3)} as dup_3gram_frac")
  }

  def repetition(docs: DataFrame): DataFrame = {
    // r16: the interpreted higher-order-function projection (three gram
    // transforms + array_distincts + the O(distinct·n) multiplicity
    // rescan) was the query's entire 6.3 s at sf0.1 — one compiled pass
    // ([[graft.functions.RepetitionStats]]) produces the identical
    // integer counts and the ratios keep the identical casts/divisions,
    // so every double is bit-equal. The old projection stays as
    // [[repetitionHof]] (and remains the DuckDB oracle's source via
    // [[repetitionSelects]]), pinned by the differential spec.
    docs
      .select(col("doc_id"), col("lang"),
        expr("repetition_stats(split(trim(text), ' '))").as("rs"))
      .selectExpr("doc_id", "lang",
        "rs.n_tok as n_tokens",
        "(cast(rs.top as double) / cast(rs.n_tok as double)) as top_token_frac",
        "(1e0 - cast(rs.d2 as double) / cast(rs.g2 as double)) as dup_2gram_frac",
        "(1e0 - cast(rs.d3 as double) / cast(rs.g3 as double)) as dup_3gram_frac")
  }

  /** The pre-r16 higher-order-function spelling — the independent Spark
    * reference the differential spec pins [[repetition]] against (and
    * the shared source of the DuckDB oracle via [[repetitionSelects]]). */
  private[graft] def repetitionHof(docs: DataFrame): DataFrame =
    docs.selectExpr(repetitionSelects(SparkD): _*)

  /** Word-3-gram tokenizer, Spark side — the OPEN posting universe the
    * retrieval family shares (unigrams degenerate to stop words on a
    * small vocabulary; the kmvDistinct precedent). */
  private[operators] val gram3Spark: String =
    "transform(sequence(1, greatest(size(split(trim(text), ' ')) - 2, 1)), " +
      "i -> concat_ws(' ', slice(split(trim(text), ' '), i, 3)))"

  /** |gram3Spark(text)| WITHOUT building the gram array — the sequence
    * bound above, so it equals size(gram3Spark) by construction. Used to
    * compute per-doc token counts pre-explode at split cost instead of
    * re-running the whole gram constructor a second time (r15: a
    * size(toks) spelling measured ~+20% on every TF-IDF consumer because
    * the collapsed projection evaluated the transform twice). */
  private[operators] val gram3Count: String =
    "greatest(size(split(trim(text), ' ')) - 2, 1)"

  /** DuckDB twin of [[gram3Spark]] as a `(doc_id, token)` select. */
  private def gram3DuckToks(table: String): String =
    s"""select doc_id, unnest(list_transform(
       |   generate_series(1, greatest(len(string_split(trim(text), ' ')) - 2, 1)),
       |   i -> array_to_string(list_slice(string_split(trim(text), ' '), i, i + 2), ' '))) as token
       | from $table""".stripMargin

  /** q9-quantized idf snippet shared by every TF-IDF consumer (idf goes
    * through ln — a 1-ulp divergence risk — so it is quantized BEFORE
    * any product; identical operands make the products bit-equal). */
  private[operators] val idfQ9: String = graft.oracle.Parity.q9(
    "ln((1e0 + cast(nn as double)) / (1e0 + cast(dfq as double)))")

  /** Shared TF-IDF posting builder: tokenize with `tokenExpr`, count tf
    * per (doc, token), derive document frequency FROM the tf relation
    * (tf has exactly one row per (doc, token), so `count(*)` over it is
    * the df — one corpus tokenization, no second explode), attach the
    * corpus count and the quantized idf.
    *
    * `dfCap` > 0 keeps a token only while dfq·dfCap ≤ N (stop cut);
    * `broadcastDf` — for CLOSED token universes (unigram vocabularies)
    * df is a vocabulary-sized sub-aggregate broadcast back onto tf (tf
    * never moves). For OPEN universes (word n-grams, growing with the
    * corpus) df is a count window over tf partitioned by the token —
    * one pass, no second relation, and the token exchange it introduces
    * is exactly the partitioning a downstream posting join reuses.
    * Emits (doc_id, token, c, n_tok, dfq, nn, tfidf). */
  private def tfidfPostings(docs: DataFrame, tokenExpr: String,
                            dfCap: Int, broadcastDf: Boolean,
                            nTokExpr: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r15: n_tok = the token-array LENGTH computed row-locally from
    // `nTokExpr` (each tokenizer's closed-form count — split cost, no
    // second gram construction) instead of a sum-over-tf window: the
    // explode drops nothing from these tokenizers, so the integer equals
    // the old window's exactly, and the doc_id-keyed window exchange +
    // sort disappears from every TF-IDF consumer (guide §2.4). n_tok is
    // functionally dependent on doc_id, so carrying it in the grouping
    // key changes no group. The two-step select is load-bearing: with
    // n_tok and the explode in ONE projection, ExtractGenerator hoists
    // n_tok ABOVE the Generate and the split runs once per exploded
    // TOKEN row instead of once per document (measured +80% on
    // tfidf_top) — computing it in the child projection pins it below.
    val toks = docs
      .select(col("doc_id"), expr(s"cast(($nTokExpr) as bigint)").as("n_tok"),
        col("text"))
      .select(col("doc_id"), col("n_tok"), explode(expr(tokenExpr)).as("token"))
    val tf = toks.groupBy("doc_id", "n_tok", "token").agg(count(lit(1)).as("c"))
    val withDf =
      if (broadcastDf) {
        val dfreq = tf.groupBy("token").agg(count(lit(1)).as("dfq"))
        tf.join(broadcast(dfreq), "token")
      } else tf.withColumn("dfq", count(lit(1)).over(Window.partitionBy("token")))
    val joined = withDf.crossJoin(broadcast(docs.agg(count(lit(1)).as("nn"))))
    val cut = if (dfCap > 0) joined.filter(col("dfq") * dfCap <= col("nn")) else joined
    cut.withColumn("tfidf",
      (col("c").cast("double") / col("n_tok").cast("double")) * expr(idfQ9))
  }

  /** DuckDB mirror of [[tfidfPostings]] — the CTE chain up to a
    * `postings` relation; compose with a final select. `windowDf`
    * mirrors `broadcastDf = false` (df as a count window over tf). */
  private def tfidfPostingsCtes(toksSelect: String, table: String,
                                dfCutPred: String,
                                windowDf: Boolean = false): String = {
    val dfCtes =
      if (windowDf)
        "tfd as (select *, count(*) over (partition by token) as dfq from tf)"
      else
        """dfreq as (select token, count(*) as dfq from tf group by token),
          |tfd as (select tf.*, dfq from tf join dfreq on tf.token = dfreq.token)""".stripMargin
    s"""toks as ($toksSelect),
       |tf as (select doc_id, token, count(*) as c,
       |  sum(count(*)) over (partition by doc_id) as n_tok
       |  from toks group by doc_id, token),
       |$dfCtes,
       |n as (select count(*) as nn from $table),
       |postings as (select doc_id, token,
       |  (cast(c as double) / cast(n_tok as double)) * $idfQ9 as tfidf
       | from tfd, n$dfCutPred)""".stripMargin
  }

  /** Per-document top-k tokens by TF-IDF. tf is an exact ratio; idf is
    * q9-quantized before the product ([[idfQ9]]), and the top-k window
    * tie-breaks on the token for a deterministic order. Plan shape: one
    * explode, two hash aggregates, a broadcast df join (unigram
    * vocabulary — a CLOSED universe, so the broadcast is bounded), one
    * per-doc window. */
  def tfIdfTop(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("token").asc)
    tfidfPostings(docs, "split(trim(text), ' ')", dfCap = 0, broadcastDf = true,
      nTokExpr = "size(split(trim(text), ' '))")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("doc_id", "token", "tfidf", "rk")
  }

  /** KMV (k-minimum-values) distinct-count sketch per language, next to
    * the exact count it estimates. The classic streaming-sketch shape:
    * keep the k smallest hash values of the set; with h_k the k-th
    * smallest over a hash domain of size P, estimate = (k-1)·P/h_k.
    * Built on the Carter-Wegman family ([[graft.oracle.Parity.cwMix]] of
    * the codepoint rolling hash — the affine mix spreads the short-word
    * codes across the domain), so the sketch is DETERMINISTIC and the
    * estimate itself oracle-checks — a sketch whose accuracy the gate
    * measures rather than takes on faith. k=256 → ~6% rel. error. */
  /** The distinct (lang, t) word-3-gram universe — the set the KMV
    * sketch family estimates over. The exploded multiset collapses
    * through ONE distinct; words materialize in a lower projection (the
    * split-inside-the-shingle-lambda form is O(words²) per doc). */
  private def trigramUniverse(docs: DataFrame): DataFrame =
    docs.select(col("lang"), expr("split(trim(text), ' ')").as("words"))
      .select(col("lang"), explode(expr(
        "array_distinct(transform(sequence(1, greatest(size(words) - 2, 1)), " +
          "i -> concat_ws(' ', slice(words, i, 3))))")).as("t"))
      .distinct()

  /** Per-language k-minimum hash values of the trigram universe — the
    * stored form of the KMV sketch, shared by the cardinality estimate
    * ([[kmvDistinct]]) and the set algebra ([[kmvSetOps]]).
    * Two-phase top-k: a single per-lang window would sort each
    * language's ENTIRE distinct hash set in one task (millions of rows
    * feeding a 256-row answer — the r2 bench's slowest query). Phase 1
    * keeps each physical partition's k smallest per lang (any global
    * top-k row is also top-k within its own partition, so nothing the
    * final window needs is lost); the per-lang sort then runs over at
    * most partitions·k survivors. distinct() leaves the data hashed on
    * (lang, h), so phase 1's groups are partition-local slices. */
  private def kmvMinima(dt: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dh = dt
      .select(col("lang"), expr(graft.oracle.Parity.cwMix(0, "rolling_hash(t)")).as("h"))
      .distinct() // hash collisions collapse (the sketch sees the h-set)
    val local = dh
      .withColumn("pid", org.apache.spark.sql.functions.spark_partition_id())
      .withColumn("lrn", row_number().over(
        Window.partitionBy("lang", "pid").orderBy(col("h").asc)))
      .filter(col("lrn") <= k)
      .drop("pid", "lrn")
    local
      .withColumn("rn", row_number().over(
        Window.partitionBy("lang").orderBy(col("h").asc)))
      .filter(col("rn") <= k)
      .select("lang", "h")
  }

  def kmvDistinct(docs: DataFrame, k: Int = 256): DataFrame = {
    val mod = graft.oracle.Parity.CwMod
    // sketch the word-3-gram universe (thousands of distinct values per
    // language — the 31-token synthetic vocabulary itself never exceeds
    // k, which would reduce the sketch to its exact fallback branch)
    val dt = trigramUniverse(docs)
    val exact = dt.groupBy("lang").agg(count(lit(1)).as("n_exact"))
    val sketch = kmvMinima(dt, k)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), max("h").as("h_k"))
      .withColumn("kmv_est",
        when(col("n_kept") < k, col("n_kept").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(mod.toDouble) / col("h_k").cast("double")))
    exact.join(sketch, "lang")
      .select("lang", "n_exact", "n_kept", "h_k", "kmv_est")
  }

  /** DuckDB mirror of [[kmvDistinct]]. */
  def kmvDistinctSql(k: Int = 256): String = {
    val mod = graft.oracle.Parity.CwMod
    val rh = graft.oracle.Parity.rollingHashDuck("t")
    val mix = graft.oracle.Parity.cwMix(0, rh)
    val shingle = "list_transform(generate_series(1, greatest(len(words) - 2, 1)), " +
      "i -> array_to_string(list_slice(words, i, i + 2), ' '))"
    s"""with doc as (select lang, string_split(trim(text), ' ') as words from documents),
       |dt as (select distinct lang, t from
       |  (select lang, unnest(list_distinct($shingle)) as t from doc)),
       |exact as (select lang, cast(count(*) as bigint) as n_exact
       |  from dt group by lang),
       |dh as (select distinct lang, $mix as h from dt),
       |ranked as (select lang, h, row_number() over (partition by lang order by h asc) as rn from dh),
       |sk as (select lang, cast(count(*) as bigint) as n_kept, max(h) as h_k
       |  from ranked where rn <= $k group by lang)
       |select exact.lang, n_exact, n_kept, h_k,
       | case when n_kept < $k then cast(n_kept as double)
       |  else ${graft.oracle.Parity.lit((k - 1).toDouble)} * ${graft.oracle.Parity.lit(1.0e9 + 7.0)} / cast(h_k as double) end as kmv_est
       |from exact join sk on exact.lang = sk.lang""".stripMargin.replace("\n", " ")
  }

  /** KMV sketch SET ALGEBRA — the theta-sketch shape (Dasgupta et al.,
    * "Theta-Sketch Framework", public): per-language KMV sketches
    * combined into UNION and INTERSECTION cardinality estimates for
    * every language pair, next to the exact values they estimate.
    *   union    — the k smallest of S_a ∪ S_b are exactly the KMV
    *              sketch of universe(a) ∪ universe(b), so the estimator
    *              is [[kmvDistinct]]'s applied to the merged minima;
    *   intersect — of the union sketch's n_kept hashes (all < θ, a
    *              uniform sample of the union), the fraction present in
    *              BOTH input sketches estimates the Jaccard ρ;
    *              inter_est = ρ · union_est.
    * Built on the Carter-Wegman family, so the whole estimate —
    * collisions and all — is DETERMINISTIC and oracle-checks, like the
    * KMV/CMS/HLL siblings. Scale shape: only the k-sized sketches meet
    * the pair logic (O(pairs·k) work — at 100 TB the sketches are what
    * ships between daily partitions/sources); the exact columns are the
    * differential's ground truth, computed from the same distinct
    * universe relation the sketch reads (materialized ONCE). */
  def kmvSetOps(docs: DataFrame, k: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mod = graft.oracle.Parity.CwMod
    val dt = trigramUniverse(docs).localCheckpoint() // 3 consumers
    val sk = kmvMinima(dt, k).localCheckpoint()      // 4 consumers
    val langs = dt.select("lang").distinct()
    val pairs = langs.select(col("lang").as("lang_a"))
      .crossJoin(broadcast(langs.select(col("lang").as("lang_b"))))
      .filter(col("lang_a") < col("lang_b"))
    val skA = pairs.join(sk.withColumnRenamed("lang", "lang_a"), Seq("lang_a"))
      .select("lang_a", "lang_b", "h")
    val skB = pairs.join(sk.withColumnRenamed("lang", "lang_b"), Seq("lang_b"))
      .select("lang_a", "lang_b", "h")
    // union sketch per pair: k smallest of the merged minima (≤ 2k rows
    // per pair feed the window — pair-count · k, never corpus-sized)
    val wp = Window.partitionBy("lang_a", "lang_b").orderBy(col("h").asc)
    val merged = skA.unionByName(skB).distinct()
      .withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= k)
      .select("lang_a", "lang_b", "h")
    val flagged = merged
      .join(skA.withColumn("in_a", lit(true)), Seq("lang_a", "lang_b", "h"), "left")
      .join(skB.withColumn("in_b", lit(true)), Seq("lang_a", "lang_b", "h"), "left")
    val stats = flagged.groupBy("lang_a", "lang_b")
      .agg(count(lit(1)).as("n_kept"), max("h").as("theta"),
        sum(when(col("in_a") && col("in_b"), 1L).otherwise(0L)).as("common"))
      .withColumn("union_est",
        when(col("n_kept") < k, col("n_kept").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(mod.toDouble)
            / col("theta").cast("double")))
      .withColumn("inter_est",
        col("common").cast("double") / col("n_kept").cast("double")
          * col("union_est"))
    // r16 (guide §1.2 "don't compute things you throw away"): the exact
    // union count derives from inclusion–exclusion over EXACT BIGINTs —
    // |A ∪ B| = |A| + |B| − |A ∩ B| — so the pair-fanned union relation
    // (4·|dt| rows through a distinct + exchange) is never materialized;
    // only the per-lang counts (5 rows) and the intersection join remain.
    // The DuckDB oracle keeps the literal distinct-union spelling — hash
    // equality is the identity's proof.
    val exactL = dt.groupBy("lang").agg(count(lit(1)).as("n_lang_exact"))
    val exactI = pairs
      .join(dt.withColumnRenamed("lang", "lang_a"), Seq("lang_a"))
      .join(dt.withColumnRenamed("lang", "lang_b").withColumnRenamed("t", "t")
        .select(col("lang_b"), col("t")), Seq("lang_b", "t"))
      .groupBy("lang_a", "lang_b").agg(count(lit(1)).as("n_inter_exact"))
    stats
      .join(broadcast(exactL.select(col("lang").as("lang_a"),
        col("n_lang_exact").as("n_a"))), Seq("lang_a"))
      .join(broadcast(exactL.select(col("lang").as("lang_b"),
        col("n_lang_exact").as("n_b"))), Seq("lang_b"))
      .join(exactI, Seq("lang_a", "lang_b"), "left")
      .withColumn("n_inter_exact", coalesce(col("n_inter_exact"), lit(0L)))
      .withColumn("n_union_exact", col("n_a") + col("n_b") - col("n_inter_exact"))
      .select("lang_a", "lang_b", "n_union_exact", "n_inter_exact",
        "n_kept", "theta", "common", "union_est", "inter_est")
  }

  /** DuckDB mirror of [[kmvSetOps]]. */
  def kmvSetOpsSql(k: Int = 256): String = {
    val rh = graft.oracle.Parity.rollingHashDuck("t")
    val mix = graft.oracle.Parity.cwMix(0, rh)
    val shingle = "list_transform(generate_series(1, greatest(len(words) - 2, 1)), " +
      "i -> array_to_string(list_slice(words, i, i + 2), ' '))"
    // estimator modulus derives from the ONE CW-hash modulus both engines
    // share (advice r9: a hard-coded 1.0e9+7.0 literal here would drift
    // silently if Parity.CwMod ever changed)
    val estK = graft.oracle.Parity.lit((k - 1).toDouble)
    val estP = graft.oracle.Parity.lit(graft.oracle.Parity.CwMod.toDouble)
    s"""with doc as (select lang, string_split(trim(text), ' ') as words from documents),
       |dt as materialized (select distinct lang, t from
       |  (select lang, unnest(list_distinct($shingle)) as t from doc)),
       |dh as (select distinct lang, $mix as h from dt),
       |sk as materialized (select lang, h from
       |  (select lang, h, row_number() over (partition by lang order by h asc) as rn
       |   from dh) where rn <= $k),
       |pr as materialized (select a.lang as lang_a, b.lang as lang_b
       | from (select distinct lang from dt) a
       |  join (select distinct lang from dt) b on a.lang < b.lang),
       |mu as (select distinct lang_a, lang_b, h from (
       |  select pr.lang_a, pr.lang_b, sk.h from pr join sk on sk.lang = pr.lang_a
       |  union all
       |  select pr.lang_a, pr.lang_b, sk.h from pr join sk on sk.lang = pr.lang_b)),
       |mk as (select lang_a, lang_b, h from
       |  (select lang_a, lang_b, h,
       |    row_number() over (partition by lang_a, lang_b order by h asc) as rn
       |   from mu) where rn <= $k),
       |fl as (select mk.lang_a, mk.lang_b, mk.h,
       |  (sa.h is not null) as in_a, (sb.h is not null) as in_b
       | from mk
       |  left join sk sa on sa.lang = mk.lang_a and sa.h = mk.h
       |  left join sk sb on sb.lang = mk.lang_b and sb.h = mk.h),
       |st as (select lang_a, lang_b, cast(count(*) as bigint) as n_kept,
       |  max(h) as theta,
       |  cast(sum(case when in_a and in_b then 1 else 0 end) as bigint) as common
       | from fl group by 1, 2),
       |se as (select lang_a, lang_b, n_kept, theta, common,
       |  case when n_kept < $k then cast(n_kept as double)
       |   else $estK * $estP / cast(theta as double) end as union_est
       | from st),
       |exu as (select lang_a, lang_b, cast(count(*) as bigint) as n_union_exact
       | from (select distinct lang_a, lang_b, t from (
       |   select pr.lang_a, pr.lang_b, dt.t from pr join dt on dt.lang = pr.lang_a
       |   union all
       |   select pr.lang_a, pr.lang_b, dt.t from pr join dt on dt.lang = pr.lang_b))
       | group by 1, 2),
       |exi as (select pr.lang_a, pr.lang_b, cast(count(*) as bigint) as n_inter_exact
       | from pr join dt da on da.lang = pr.lang_a
       |  join dt db on db.lang = pr.lang_b and db.t = da.t
       | group by 1, 2)
       |select se.lang_a, se.lang_b, n_union_exact,
       | coalesce(n_inter_exact, cast(0 as bigint)) as n_inter_exact,
       | n_kept, theta, common, union_est,
       | cast(common as double) / cast(n_kept as double) * union_est as inter_est
       |from se join exu on se.lang_a = exu.lang_a and se.lang_b = exu.lang_b
       | left join exi on se.lang_a = exi.lang_a and se.lang_b = exi.lang_b"""
      .stripMargin.replace("\n", " ")
  }

  /** Shared Carter-Wegman bucket text for [[cmsHeavy]]: row j of the
    * sketch hashes `code` with the j-th affine mix, modulo the width. */
  private def cmsBucketCase(depth: Int, width: Int): String = {
    val arms = (0 until depth)
      .map(j => s"when $j then (${graft.oracle.Parity.cwMix(j, "code")} % $width)")
      .mkString(" ")
    s"(case j $arms end)"
  }

  /** Count-Min sketch heavy hitters — the bounded-memory frequency
    * estimator of a streaming pipeline, next to the exact counts it
    * approximates. The sketch is a fixed depth×width counter grid: every
    * token occurrence increments one counter per row (map-side combine
    * collapses each partition to ≤ depth·width cells, so the shuffle is
    * O(grid), not O(corpus)); a token's estimate is the MIN over its
    * depth counters, guaranteed ≥ the true count. Built on the
    * Carter-Wegman family ([[graft.oracle.Parity.cwMix]] of the codepoint
    * rolling hash), so the sketch — collisions, overcounts and all — is
    * DETERMINISTIC and the estimate itself oracle-checks, like the KMV
    * sketch ([[kmvDistinct]]). Output: the top-k tokens by exact
    * frequency with their CMS estimates. */
  def cmsHeavy(docs: DataFrame, depth: Int = 4, width: Int = 16, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs
      .select(explode(expr("split(trim(text), ' ')")).as("token"))
      .select(col("token"), expr("rolling_hash(token)").as("code"))
    // the sketch update stream: depth cells per occurrence, aggregated to
    // the fixed grid (this is the scale-honest shape — the exact vocab agg
    // below is only needed because the demo reports estimate vs truth)
    val counters = toks
      .select(col("code"), explode(expr(s"sequence(0, ${depth - 1})")).as("j"))
      .select(col("j"), expr(cmsBucketCase(depth, width)).as("bucket"))
      .groupBy("j", "bucket").agg(count(lit(1)).as("cnt"))
    val freqs = toks.groupBy("token", "code").agg(count(lit(1)).as("freq"))
    val top = freqs
      .withColumn("rn", row_number().over(
        Window.orderBy(col("freq").desc, col("token").asc)))
      .filter(col("rn") <= k)
    top.select(col("token"), col("freq"), col("code"),
        explode(expr(s"sequence(0, ${depth - 1})")).as("j"))
      .withColumn("bucket", expr(cmsBucketCase(depth, width)))
      .join(broadcast(counters), Seq("j", "bucket"))
      .groupBy("token", "freq")
      .agg(min("cnt").as("cms_est"))
  }

  /** DuckDB mirror of [[cmsHeavy]]. */
  def cmsHeavySql(depth: Int = 4, width: Int = 16, k: Int = 20,
                  table: String = "documents"): String = {
    val rh = graft.oracle.Parity.rollingHashDuck("token")
    val bc = cmsBucketCase(depth, width)
    s"""with toks as (select token, $rh as code from
       |  (select unnest(string_split(trim(text), ' ')) as token from $table)),
       |counters as (select j, bucket, cast(count(*) as bigint) as cnt from
       |  (select j, $bc as bucket from toks, generate_series(0, ${depth - 1}) t(j))
       |  group by j, bucket),
       |freqs as (select token, code, cast(count(*) as bigint) as freq
       |  from toks group by token, code),
       |top as (select token, code, freq from
       |  (select token, code, freq,
       |    row_number() over (order by freq desc, token asc) as rn from freqs)
       |  where rn <= $k),
       |probe as (select token, freq, j, $bc as bucket
       |  from top, generate_series(0, ${depth - 1}) t(j))
       |select token, freq, min(cnt) as cms_est
       |from probe join counters on probe.j = counters.j and probe.bucket = counters.bucket
       |group by token, freq""".stripMargin.replace("\n", " ")
  }

  /** Unigram language-model score — the model-based quality filter of a
    * training pipeline (perplexity-style): train token frequencies on the
    * corpus itself (one aggregate), then score each document by its mean
    * token log-probability. Per-token ln goes through fixed-point BIGINT
    * units (floor(ln(c/N)·1e9 + 0.5) — ln outputs can differ by 1 ulp
    * between engines AND decimal-grid doubles don't sum exactly, so the
    * summation happens in integers) and divides once per doc. Shape:
    * explode → vocab aggregate → token⋈vocab hash join → per-doc
    * aggregate; the vocab join is the standard shuffle at corpus scale. */
  def unigramLogProb(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(expr("split(trim(text), ' ')")).as("token"))
    val vocab = toks.groupBy("token").agg(count(lit(1)).as("c"))
    val n = toks.agg(count(lit(1)).as("nn"))
    val units =
      "cast(floor(ln(cast(c as double) / cast(nn as double)) * 1.0e9 + 5e-1) as bigint)"
    toks.join(vocab, "token").crossJoin(broadcast(n))
      .select(col("doc_id"), expr(units).as("u"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("u").as("u_sum"))
      .withColumn("avg_logp",
        expr("cast(u_sum as double) / cast(n_tokens as double) / 1.0e9"))
      .select("doc_id", "n_tokens", "avg_logp")
  }

  /** DuckDB mirror of [[unigramLogProb]]. */
  def unigramLogProbSql(table: String = "documents"): String = {
    val units =
      "cast(floor(ln(cast(c as double) / cast(nn as double)) * 1.0e9 + 5e-1) as bigint)"
    s"""with toks as (select doc_id, unnest(string_split(trim(text), ' ')) as token from $table),
       |vocab as (select token, cast(count(*) as bigint) as c from toks group by token),
       |n as (select cast(count(*) as bigint) as nn from toks)
       |select doc_id, cast(count(*) as bigint) as n_tokens,
       | cast(cast(sum($units) as bigint) as double) / cast(count(*) as double) / 1.0e9 as avg_logp
       |from toks join vocab on toks.token = vocab.token, n
       |group by doc_id""".stripMargin.replace("\n", " ")
  }

  /** Deterministic shuffle + sequence packing: order documents by an id
    * hash (a reproducible "random" shuffle — same property as
    * [[graft.oracle.Parity.cwMix]]-based splitting), then assign each
    * doc to the training batch whose token budget its START offset falls
    * in (contiguous-fill packing: a running token count per language,
    * bin = floor(offset / budget)). The classic pre-training batch
    * packer, rendered as one window cumsum per stratum — the same
    * distributed shape as sessionization, no driver state. Bins may
    * overrun the budget by at most one document, the standard
    * contiguous-fill tradeoff. Exact integer arithmetic throughout. */
  def packBins(docs: DataFrame, budget: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang").orderBy(col("h").asc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.selectExpr("doc_id", "lang",
        "cast(size(split(trim(text), ' ')) as bigint) as n_tokens",
        s"${graft.oracle.Parity.cwMix(33, "rolling_hash(cast(doc_id as string))")} as h")
      .withColumn("cum", sum("n_tokens").over(w))
      .withColumn("bin", expr(s"(cum - n_tokens) div $budget"))
      .select("doc_id", "lang", "n_tokens", "h", "bin")
  }

  /** DuckDB mirror of [[packBins]]. The outer `cast(... as bigint)` on
    * `bin` is load-bearing: DuckDB's window `sum(BIGINT)` returns HUGEINT
    * and `//` keeps it, so without the cast `bin` is the suite's one
    * HUGEINT output column — whose client-side conversion (float64 vs
    * decimal128) varies across DuckDB versions and broke the driver's
    * hash compare in round 3 while passing locally. */
  def packBinsSql(budget: Int = 256): String = {
    val h = graft.oracle.Parity.cwMix(33,
      graft.oracle.Parity.rollingHashDuck("cast(doc_id as varchar)"))
    s"""select doc_id, lang, n_tokens, h, cast((cum - n_tokens) // $budget as bigint) as bin from (
       | select doc_id, lang, n_tokens, h,
       |  sum(n_tokens) over (partition by lang order by h asc, doc_id asc
       |    rows between unbounded preceding and current row) as cum
       | from (select doc_id, lang,
       |   cast(len(string_split(trim(text), ' ')) as bigint) as n_tokens,
       |   $h as h from documents))""".stripMargin.replace("\n", " ")
  }

  /** Token-window chunking with overlap — the context-window preparation
    * op of a training pipeline: doc → ⌈(n-size)/stride⌉+1 chunks of
    * `size` tokens starting every `stride` tokens. Pure per-row array
    * math + one generator explode; exact integer bounds (the final
    * partial chunk is kept, matching the usual packer). */
  def chunk(docs: DataFrame, size: Int = 32, stride: Int = 24): DataFrame = {
    require(stride > 0 && size >= stride, "need 0 < stride <= size")
    docs.select(col("doc_id"), expr("split(trim(text), ' ')").as("words"))
      .select(col("doc_id"), expr(
        s"""explode(transform(
           | sequence(0, cast(greatest(ceil((size(words) - $size) / cast($stride as double)), 0) as int)),
           | i -> struct(cast(i as bigint) as chunk_idx,
           |   concat_ws(' ', slice(words, i * $stride + 1, $size)) as chunk_text,
           |   cast(size(slice(words, i * $stride + 1, $size)) as bigint) as n_chunk_tokens)))"""
          .stripMargin.replace("\n", " ")).as("c"))
      .select(col("doc_id"), col("c.chunk_idx"), col("c.chunk_text"), col("c.n_chunk_tokens"))
  }

  /** DuckDB mirror of [[chunk]] — scalar generate_series (list form) +
    * unnest, since DuckDB's table-function form rejects lateral column
    * arguments. */
  def chunkSql(size: Int = 32, stride: Int = 24): String =
    s"""select doc_id, cast(i as bigint) as chunk_idx,
       | array_to_string(list_slice(words, i * $stride + 1, i * $stride + $size), ' ') as chunk_text,
       | cast(len(list_slice(words, i * $stride + 1, i * $stride + $size)) as bigint) as n_chunk_tokens
       |from (
       | select doc_id, words,
       |  unnest(generate_series(0, cast(greatest(ceil((len(words) - $size) / cast($stride as double)), 0) as bigint))) as i
       | from (select doc_id, string_split(trim(text), ' ') as words from documents))"""
      .stripMargin.replace("\n", " ")

  /** Sparse TF-IDF retrieval via the POSTING-LIST join — the inverted-
    * index counterpart of the dense ANN paths (`ann_*`): score(q, d) =
    * Σ over shared tokens of tfidf_q · tfidf_d, computed term-at-a-time
    * by joining the query docs' postings to the corpus postings ON THE
    * TOKEN. The scale-bearing choices: stop-terms are pruned by document
    * frequency (dfq·10 > N → dropped — an exact integer compare; hot
    * tokens would otherwise make the posting join quadratic, the same
    * hot-key argument as decontaminateJoin), the score sum goes through
    * [[graft.oracle.Parity.fpSum]] (order-free), and top-k is the
    * per-query window. At 100 TB the posting table is the stored
    * index, bucketed by token; a query reads only its terms' postings. */
  def sparseRetrieval(docs: DataFrame, k: Int = 10, queryEvery: Int = 50): DataFrame =
    // posting unit = word 3-gram, not unigram: the synthetic corpus has
    // a 31-token vocabulary (every unigram is a stop word by any df
    // cut), while its 3-gram universe is thousands-wide per language —
    // the kmvDistinct precedent. Real deployments pick the unit the
    // same way: whatever makes postings selective. An OPEN token
    // universe grows with the corpus, so broadcastDf=false: the df
    // table meets tf in a token-keyed equi-join.
    // r15: the rebuild path materializes the posting relation once
    // (localCheckpoint — the normalizedPostings discipline): the
    // retrieval join consumes it on BOTH sides, and without the
    // materialization each side re-ran the whole tokenize+aggregate
    // chain (plan showed the subtree twice). The stored-index serve
    // path is untouched — its postings are already a table.
    sparseRetrievalFrom(sparsePostings(docs).localCheckpoint(), k, queryEvery)

  /** The TF-IDF posting relation (doc_id, token, tfidf) — the stored
    * form of the sparse index ([[sparseRetrievalFrom]] serves from it;
    * `sparse_stored` persists it token-bucketed so the retrieval join
    * runs with zero exchanges). */
  def sparsePostings(docs: DataFrame): DataFrame =
    tfidfPostings(docs, gram3Spark, dfCap = 10, broadcastDf = false,
      nTokExpr = gram3Count)
      .select("doc_id", "token", "tfidf")

  /** Retrieval over a GIVEN posting relation — the query-time half
    * shared by the rebuild path ([[sparseRetrieval]]) and the stored-
    * index path. When `postings` is a token-bucketed table, BOTH join
    * sides inherit the bucket distribution and the token join plans
    * with zero exchanges (PlanSpec pins it) — the Lucene-segment shape
    * of a 100 TB text index: postings are written once, a query only
    * pays its own terms' lists. */
  def sparseRetrievalFrom(postings: DataFrame, k: Int = 10,
                          queryEvery: Int = 50,
                          maxQ: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // maxQ caps the query-set MEMBERSHIP at a constant (the
    // decontaminate_fixed discipline): the default every-50th-id query
    // set grows WITH the corpus, so a bench row over it measures
    // queries×postings, not the serve path — a fixed set isolates how
    // one query's cost scales as the index grows
    val q = postings.filter(col("doc_id") % queryEvery === 0 &&
        col("doc_id") < maxQ)
      .select(col("doc_id").as("q_id"), col("token"), col("tfidf").as("q_w"))
    val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("doc_id").asc)
    q.join(postings, "token").filter(col("q_id") =!= col("doc_id"))
      .groupBy("q_id", "doc_id")
      .agg(expr(graft.oracle.Parity.fpSum("q_w * tfidf")).as("score"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("q_id", "doc_id", "score", "rk")
  }

  /** DuckDB mirror of [[sparseRetrieval]]. */
  def sparseRetrievalSql(k: Int = 10, queryEvery: Int = 50,
                         table: String = "documents",
                         maxQ: Long = Long.MaxValue): String = {
    val qCap = if (maxQ == Long.MaxValue) "" else s" and doc_id < $maxQ"
    s"""with ${tfidfPostingsCtes(gram3DuckToks(table), table,
            " where dfq * 10 <= nn", windowDf = true)},
       |q as (select doc_id as q_id, token, tfidf as q_w from postings
       |  where doc_id % $queryEvery = 0$qCap),
       |sc as (select q_id, p.doc_id as doc_id,
       |  ${graft.oracle.Parity.fpSum("q_w * tfidf")} as score
       | from q join postings p using (token) where q_id <> p.doc_id
       | group by q_id, p.doc_id)
       |select q_id, doc_id, score, rk from (
       | select q_id, doc_id, score,
       |  cast(row_number() over (partition by q_id order by score desc, doc_id asc) as bigint) as rk
       | from sc)
       |where rk <= $k""".stripMargin.replace("\n", " ")
  }

  /** All-pairs similarity join — every document pair with TF-IDF cosine
    * ≥ `threshold`, WITHOUT the quadratic posting self-join (Bayardo,
    * Ma & Srikant, "Scaling Up All Pairs Similarity Search", WWW'07).
    * Each doc's unit-normalized postings are ordered canonically
    * rarest-token-first (df asc, token asc) and only the PREFIX whose
    * running suffix norm could still reach the threshold generates
    * candidates: by Cauchy–Schwarz, a pair whose shared tokens all sit
    * in one doc's dropped suffix has cosine ≤ ‖suffix‖ < t, so joining
    * prefix postings against FULL postings is lossless — which is
    * exactly what hash equality against the naive self-join oracle
    * proves. Candidates then verify with an exact score over all shared
    * tokens (fixed-point sum, order-free).
    *
    * The 100 TB shape: the df stop cut has already removed the hot
    * tokens that make any token-keyed join quadratic, rare-first
    * ordering makes prefixes shortest exactly where documents are long,
    * and raising the threshold shrinks the candidate join directly —
    * the knob a near-dup pass at scale actually turns. The normalized
    * posting relation feeds four consumers (prefix, candidate probe,
    * both verify sides), so it materializes ONCE (the minHashPairs /
    * pageRank discipline) instead of re-planning the tokenize prefix
    * under each subtree. */
  /** The normalized posting relation and the prefix-filtered candidate
    * pair relation of [[allPairsSimilarity]] — split out so the scale
    * stress can count candidates (the quantity the Bayardo bound
    * controls) without re-spelling the filter. */
  private def allPairsParts(docs: DataFrame, threshold: Double): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val w = normalizedPostings(docs)
    // suffix norm² in the canonical rare-first order: a token stays in
    // the prefix while the suffix STARTING at it could still reach t
    // (inclusive compare with a 1e-9 slack so float error in the
    // Spark-only running sum can never drop a token the bound needs —
    // keeping one token too many costs candidates, never pairs).
    val suf = Window.partitionBy("doc_id")
      .orderBy(col("dfq").asc, col("token").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val prefix = w
      .withColumn("suffix2", sum(col("w") * col("w")).over(suf))
      .filter(col("suffix2") >= threshold * threshold - 1e-9)
      .select(col("doc_id").as("probe_id"), col("token"))
    val cand = prefix.join(w.select("doc_id", "token"), "token")
      .filter(col("probe_id") =!= col("doc_id"))
      .select(least(col("probe_id"), col("doc_id")).as("doc_lo"),
              greatest(col("probe_id"), col("doc_id")).as("doc_hi"))
      .distinct()
    (w, cand)
  }

  /** Unit-normalized TF-IDF posting relation (doc_id, token, w, dfq) —
    * shared by the Bayardo prefix filter and the banded variant; four+
    * consumers, so it materializes once (the minHashPairs discipline). */
  private def normalizedPostings(docs: DataFrame): DataFrame = {
    val p = tfidfPostings(docs, gram3Spark, dfCap = 10, broadcastDf = false,
      nTokExpr = gram3Count)
      .select("doc_id", "token", "tfidf", "dfq")
    val nrm = p.groupBy("doc_id")
      .agg(expr(graft.oracle.Parity.fpSum("tfidf * tfidf")).as("nrm2"))
    p.join(nrm, "doc_id")
      .withColumn("w", col("tfidf") / sqrt(col("nrm2")))
      .select("doc_id", "token", "w", "dfq")
      .localCheckpoint()
  }

  /** Candidate pairs surviving the prefix filter at `threshold` — the
    * pre-verification join size the WWW'07 bound keeps proportional to
    * realized similarity rather than |docs|². */
  def allPairsCandidates(docs: DataFrame, threshold: Double = 0.6): DataFrame =
    allPairsParts(docs, threshold)._2

  def allPairsSimilarity(docs: DataFrame, threshold: Double = 0.6): DataFrame = {
    val (w, cand) = allPairsParts(docs, threshold)
    verifyPairsDot(w, cand, threshold)
  }

  /** The pre-r16 explode-join + fpSum-aggregate verify — kept as the
    * INDEPENDENT Spark reference the differential spec pins
    * [[verifyPairsDot]] against (the winnowWindowed discipline). */
  private[graft] def allPairsSimilarityJoinAgg(docs: DataFrame,
                                               threshold: Double = 0.6): DataFrame = {
    val (w, cand) = allPairsParts(docs, threshold)
    val pl = w.select(col("doc_id").as("doc_lo"), col("token"), col("w").as("wl"))
    val pg = w.select(col("doc_id").as("doc_hi"), col("token"), col("w").as("wg"))
    cand.join(pl, "doc_lo").join(pg, Seq("doc_hi", "token"))
      .groupBy("doc_lo", "doc_hi")
      .agg(expr(graft.oracle.Parity.fpSum("wl * wg")).as("score"))
      .filter(col("score") >= threshold)
      .select("doc_lo", "doc_hi", "score")
  }

  /** Exact cosine verify of candidate pairs — r16 respelling shared by
    * [[allPairsSimilarity]] and [[allPairsBanded]] (guide §3.3: `explode`
    * before a join multiplies the shuffle). The old verify joined every
    * candidate against BOTH docs' full posting rows (candidate×tokens
    * fan-out) and aggregated `fpSum(wl·wg)` through a pair-keyed
    * exchange; now each doc's postings collapse once into ASC-sorted
    * parallel (token, w) arrays and each candidate pair verifies with ONE
    * linear merge ([[graft.functions.SortedDotFp]]) — no exploded
    * relation, no pair-keyed exchange. Bit-equal by construction: the
    * merge accumulates the identical per-term fixed-point longs over the
    * identical shared-token set and divides once (fpSum's exact
    * order-free BIGINT sum), and a no-shared-token pair scores 0.0,
    * dropped by the same `>= threshold` filter that never saw its empty
    * aggregation group. The naive-self-join DuckDB oracle is untouched —
    * hash equality is the proof. */
  private def verifyPairsDot(w: DataFrame, cand: DataFrame,
                             threshold: Double): DataFrame = {
    // sort_array over (token, w) structs orders by token (distinct per
    // doc) in UTF8 binary order — the comparator SortedDotFp merges with
    val arrs = w.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("token"), col("w")))).as("tw"))
      .select(col("doc_id"),
        expr("transform(tw, x -> x.token)").as("toks"),
        expr("transform(tw, x -> x.w)").as("ws"))
      .localCheckpoint() // feeds both pair sides
    cand
      .join(arrs.select(col("doc_id").as("doc_lo"),
        col("toks").as("tl"), col("ws").as("wsl")), "doc_lo")
      .join(arrs.select(col("doc_id").as("doc_hi"),
        col("toks").as("tg"), col("ws").as("wsg")), "doc_hi")
      .withColumn("score", expr("sorted_dot_fp(tl, wsl, tg, wsg)"))
      .filter(col("score") >= threshold)
      .select("doc_lo", "doc_hi", "score")
  }

  /** DuckDB mirror of [[allPairsSimilarity]] — the NAIVE exact
    * all-pairs self-join (the oracle needs correctness, not scale);
    * hash equality against it is the losslessness proof for the Spark
    * side's prefix filter. */
  def allPairsSimilaritySql(threshold: Double = 0.6,
                            table: String = "documents"): String = {
    val fp = graft.oracle.Parity.fpSum _
    s"""with ${tfidfPostingsCtes(gram3DuckToks(table), table,
            " where dfq * 10 <= nn", windowDf = true)},
       |nrm as (select doc_id, ${fp("tfidf * tfidf")} as nrm2
       |  from postings group by doc_id),
       |w as (select doc_id, token, tfidf / sqrt(nrm2) as w
       |  from postings join nrm using (doc_id)),
       |sc as (select p1.doc_id as doc_lo, p2.doc_id as doc_hi,
       |  ${fp("p1.w * p2.w")} as score
       | from w p1 join w p2 using (token) where p1.doc_id < p2.doc_id
       | group by 1, 2)
       |select doc_lo, doc_hi, score from sc
       |where score >= $threshold""".stripMargin.replace("\n", " ")
  }

  /** Banded all-pairs similarity — the bounded-candidate sibling of
    * [[allPairsSimilarity]] (the r7 verdict's second
    * realized-overlap-proportional family member). The Bayardo prefix
    * filter is lossless but its candidate set still tracks realized
    * token co-occurrence, which is what watchdog-capped it on the sf1
    * template-heavy corpus. Here candidates come from MinHash-LSH over
    * each doc's TOKEN SET (the [[Dedup.minHashPairs]] discipline on the
    * posting relation's token hashes): `numHashes` Carter-Wegman minima
    * per doc — one map-side-combined aggregate, never a token
    * self-join — fold into `bands` CwMod-range bucket values, so bucket
    * population tracks near-dup cliques plus hash noise, NOT a
    * fixed-size value range (a sign-bit SimHash band of r bits has only
    * 2^r buckets and goes quadratic in n — measured: the 8×2-bit first
    * cut of this operator blew the 600 s sf1 watchdog on candidate
    * volume alone). The EXACT cosine verify (the fpSum the full
    * operator uses) runs only inside same-bucket pairs — so the output
    * is structurally a subset of [[allPairsSimilarity]]'s with
    * identical scores, with the MinHash band curve over token-set
    * Jaccard (1-(1-j^r)^b: →1 in the near-dup regime the bands target;
    * a high-cosine/low-Jaccard pair can be missed — the documented
    * recall contract, spec-measured 1.0 on planted near-dups). Whole
    * chain deterministic and SQL-expressible → hash-gated end-to-end.
    *
    * Scale shape: after the posting pass the corpus is numHashes
    * longs/doc; candidate volume is bucket co-occupancy. The verify
    * join is the only stage that touches postings again, restricted to
    * candidate docs. */
  def allPairsBanded(docs: DataFrame, threshold: Double = 0.6,
                     numHashes: Int = 16, bands: Int = 8): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val w = normalizedPostings(docs)
      .withColumn("th", expr("rolling_hash(token)")) // hash once, not ×16
    val sigAggs = (0 until numHashes).map(j =>
      min(expr(graft.oracle.Parity.cwMix(j, "th"))).as(s"h$j"))
    val bitsDf = w.groupBy("doc_id").agg(sigAggs.head, sigAggs.tail: _*)
    val bandCols = (0 until bands).map { b =>
      val bv = Dedup.bandValueSql((b * r until (b + 1) * r).map(j => s"h$j"))
      struct(lit(b).as("band"), expr(bv).as("bv"))
    }
    val banded = bitsDf.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bv").as("bv"))
      .localCheckpoint()
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_lo"), col("b.doc_id").as("doc_hi"))
      .distinct()
    // verify stays the explode-join + fpSum aggregate HERE (r16 A/B:
    // 3.56 → 3.67 s under verifyPairsDot — the banded candidate set is
    // small enough that collecting per-doc sorted arrays costs more than
    // the explode it replaces; the full operator's candidates are ~40×
    // larger and take the dot verify, see [[verifyPairsDot]])
    val pl = w.select(col("doc_id").as("doc_lo"), col("token"), col("w").as("wl"))
    val pg = w.select(col("doc_id").as("doc_hi"), col("token"), col("w").as("wg"))
    cand.join(pl, "doc_lo").join(pg, Seq("doc_hi", "token"))
      .groupBy("doc_lo", "doc_hi")
      .agg(expr(graft.oracle.Parity.fpSum("wl * wg")).as("score"))
      .filter(col("score") >= threshold)
      .select("doc_lo", "doc_hi", "score")
  }

  /** DuckDB mirror of [[allPairsBanded]] — CW params, band fold and the
    * exact verify all interpolated from the same Scala source. */
  def allPairsBandedSql(threshold: Double = 0.6, numHashes: Int = 16,
                        bands: Int = 8, table: String = "documents"): String = {
    val fp = graft.oracle.Parity.fpSum _
    val r = numHashes / bands
    val bitCols = (0 until numHashes)
      .map(j => s"min(${graft.oracle.Parity.cwMix(j, "th")}) as h$j")
      .mkString(", ")
    val bandRows = (0 until bands).map { b =>
      val bv = Dedup.bandValueSql((b * r until (b + 1) * r).map(j => s"h$j"))
      s"select doc_id, $b as band, $bv as bv from bits"
    }.mkString(" union all ")
    s"""with ${tfidfPostingsCtes(gram3DuckToks(table), table,
            " where dfq * 10 <= nn", windowDf = true)},
       |nrm as (select doc_id, ${fp("tfidf * tfidf")} as nrm2
       |  from postings group by doc_id),
       |w as materialized (select doc_id, token, tfidf / sqrt(nrm2) as w,
       |  ${graft.oracle.Parity.rollingHashDuck("token")} as th
       |  from postings join nrm using (doc_id)),
       |bits as (select doc_id, $bitCols from w group by doc_id),
       |banded as ($bandRows),
       |cand as (select distinct a.doc_id as doc_lo, b.doc_id as doc_hi
       |  from banded a join banded b on a.band = b.band and a.bv = b.bv
       |    and a.doc_id < b.doc_id),
       |sc as (select doc_lo, doc_hi, ${fp("p1.w * p2.w")} as score
       | from cand join w p1 on cand.doc_lo = p1.doc_id
       |   join w p2 on cand.doc_hi = p2.doc_id and p1.token = p2.token
       | group by doc_lo, doc_hi)
       |select doc_lo, doc_hi, score from sc
       |where score >= $threshold""".stripMargin.replace("\n", " ")
  }

  /** DuckDB mirror of [[tfIdfTop]]. */
  def tfIdfSql(k: Int = 3): String = {
    val toks = "select doc_id, unnest(string_split(trim(text), ' ')) as token from documents"
    s"""with ${tfidfPostingsCtes(toks, "documents", "")}
       |select doc_id, token, tfidf, rk from (
       | select doc_id, token, tfidf,
       |  cast(row_number() over (partition by doc_id order by tfidf desc, token asc) as bigint) as rk
       | from postings)
       |where rk <= $k""".stripMargin.replace("\n", " ")
  }

  // -------------------------------------------------------------------
  // PII scrubbing — detect + redact emails / phone numbers / IPv4
  // addresses (the privacy pass every training-data pipeline runs).
  // Patterns avoid backslash escapes entirely ([.] not \., [0-9] not \d)
  // so the SAME literal text is a valid, identically-interpreted regex
  // in Spark (java.util.regex) and DuckDB (RE2) — backslashes are the
  // one place the two engines' string-literal rules diverge.
  // -------------------------------------------------------------------

  val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
  val phonePat = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
  val ipPat = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"

  private def strT(d: Dialect): String = d match {
    case SparkD => "string"
    case DuckD  => "varchar"
  }

  /** Deterministic PII augmentation: the synthetic corpus contains no
    * PII, so the query seeds each document with an email, a phone and an
    * IPv4 derived from its id — pure arithmetic, identical text in both
    * engines — making every detector arm fire on every row. */
  def piiAugExpr(d: Dialect): String = {
    val s = strT(d)
    s"concat(text, ' contact user', cast(doc_id as $s), '@mail', " +
      s"cast(doc_id % 7 as $s), '.example.org call 555-', " +
      s"lpad(cast(doc_id % 1000 as $s), 3, '0'), '-', " +
      s"lpad(cast(doc_id % 10000 as $s), 4, '0'), ' from 10.', " +
      s"cast(doc_id % 256 as $s), '.', cast((doc_id * 7) % 256 as $s), " +
      s"'.', cast((doc_id * 13) % 256 as $s))"
  }

  private def reCount(d: Dialect, e: String, pat: String): String = d match {
    // Spark's idx defaults to capture group 1 — pass 0 (whole match)
    case SparkD => s"cast(size(regexp_extract_all($e, '$pat', 0)) as bigint)"
    case DuckD  => s"cast(len(regexp_extract_all($e, '$pat')) as bigint)"
  }

  private def reScrub(d: Dialect, e: String, pat: String, rep: String): String =
    d match {
      // DuckDB replaces only the first match unless 'g'; Spark always-global
      case SparkD => s"regexp_replace($e, '$pat', '$rep')"
      case DuckD  => s"regexp_replace($e, '$pat', '$rep', 'g')"
    }

  /** Per-document PII audit: match counts per class + the md5 of the
    * text after redacting emails → phones → IPs in that order (the order
    * matters and is part of the contract — it is identical in the
    * oracle, so the fingerprint proves byte-identical redaction). */
  def piiSelects(d: Dialect): Seq[String] = {
    val aug = piiAugExpr(d)
    val scrubbed = reScrub(d, reScrub(d, reScrub(d,
      aug, emailPat, "<EMAIL>"), phonePat, "<PHONE>"), ipPat, "<IP>")
    Seq(
      "doc_id",
      s"${reCount(d, aug, emailPat)} as n_emails",
      s"${reCount(d, aug, phonePat)} as n_phones",
      s"${reCount(d, aug, ipPat)} as n_ips",
      s"md5($scrubbed) as red_fp")
  }

  /** PII scrub over the augmented corpus — per-row, embarrassingly
    * parallel, no shuffle (the 100 TB shape: a pure map). */
  def piiRedact(docs: DataFrame): DataFrame =
    docs.selectExpr(piiSelects(SparkD): _*)

  /** DuckDB mirror of [[piiRedact]]. */
  def piiSql(table: String = "documents"): String =
    s"select ${piiSelects(DuckD).mkString(", ")} from $table"

  // -------------------------------------------------------------------
  // Fuzzy string matching (entity resolution)
  // -------------------------------------------------------------------

  /** Blocked fuzzy self-join over DISTINCT names: block on the last
    * token (the entity's head noun) plus a length-difference filter, then
    * score candidates with Levenshtein — an integer metric with identical
    * semantics in both engines. Blocking keeps candidate generation
    * linear in block sizes, never all-pairs: the 100 TB shape is a
    * hash-partitioned self-join on the block key, and a skewed block
    * (one very common head noun) is exactly the AQE skew-join case. */
  def fuzzyPairs(df: DataFrame, nameCol: String, maxDist: Int = 3): DataFrame = {
    val names = df.selectExpr(s"$nameCol as name").distinct()
      .selectExpr("name", "split(name, ' ') as ws")
      .selectExpr("name", "element_at(ws, size(ws)) as blk",
        "length(name) as len")
    val a = names.select(col("name").as("name_a"), col("blk"),
      col("len").as("len_a"))
    val b = names.select(col("name").as("name_b"), col("blk"),
      col("len").as("len_b"))
    // THRESHOLDED levenshtein (3-arg form): banded O(k·n) DP with early
    // exit, returning -1 past the bound — at 100 TB the per-candidate
    // scoring cost is the whole game, and the band is exact for every
    // pair that survives. The DuckDB oracle keeps the plain 2-arg
    // distance (no threshold form there); results agree because the
    // banded value IS the true distance whenever it's <= maxDist.
    a.join(b, "blk")
      .filter(col("name_a") < col("name_b") &&
        abs(col("len_a") - col("len_b")) <= maxDist)
      .withColumn("dist",
        levenshtein(col("name_a"), col("name_b"), maxDist).cast("long"))
      .filter(col("dist") >= 0)
      .select("name_a", "name_b", "dist")
  }

  /** DuckDB mirror of [[fuzzyPairs]]. */
  def fuzzyPairsSql(table: String, nameCol: String, maxDist: Int = 3): String =
    s"""with names as (select distinct $nameCol as name from $table),
       |nb as (select name, string_split(name, ' ') as ws from names),
       |nn as (select name, ws[len(ws)] as blk, length(name) as len from nb)
       |select a.name as name_a, b.name as name_b,
       | cast(levenshtein(a.name, b.name) as bigint) as dist
       |from nn a join nn b on a.blk = b.blk
       |where a.name < b.name and abs(a.len - b.len) <= $maxDist
       | and levenshtein(a.name, b.name) <= $maxDist"""
      .stripMargin.replace("\n", " ")

  /** Shared BM25 per-(doc, term) score text over columns idf9 (fixed-
    * point idf), tf, len, and avglen — k1 = 1.2, b = 0.75 spelled as
    * exponent-form literals; every input is an exact integer or a ratio
    * of exact integers, so the double arithmetic is identical in both
    * engines. */
  private val bm25Term: String =
    "((cast(idf9 as double) / 1.0e9) * " +
      "(cast(tf as double) * 22e-1) / " +
      "(cast(tf as double) + 12e-1 * (25e-2 + 75e-2 * (cast(len as double) / avglen))))"

  /** Fixed-point BM25 idf over a df column `dfq` and the corpus-count
    * column named by `ndCol` — the textbook ln((N − df + ½)/(df + ½))
    * quantized to 1e-9 BIGINT units BEFORE any product (ln is the 1-ulp
    * divergence risk, same rationale as [[idfQ9]]). Shared verbatim by
    * the rebuild ([[bm25Retrieval]], ndCol = the in-query `nd`) and the
    * stored-index serve ([[SparseIndex.bm25RetrievalStored]], ndCol =
    * the meta sidecar's `nn`) so identical integers produce identical
    * idf. */
  private[operators] def bm25Idf9(ndCol: String): String =
    s"cast(floor(ln((cast($ndCol as double) - cast(dfq as double) + 5e-1) / " +
      "(cast(dfq as double) + 5e-1)) * 1.0e9 + 5e-1) as bigint)"

  /** BM25 retrieval scoring for a fixed conjunctive-ish term set — the
    * classic search primitive over the corpus statistics the TF-IDF op
    * already maintains: idf from doc frequencies (fixed-point ln, same
    * rationale as [[pmiTop]]; negative for df > N/2 like the textbook
    * formula — no Lucene-style clamp, documented contract), per-doc
    * length normalization against the exact average length, top-`k` by
    * score. Scale shape: one token explode feeding two aggregates (doc
    * lengths; per-term tf), the tiny per-term df/idf table and the 1-row
    * totals broadcast back, per-doc score is an fpSum (order-free), and
    * the global top-k is TakeOrderedAndProject. */
  def bm25(docs: DataFrame, terms: Seq[String] = Seq("hash", "join", "merge"),
           k: Int = 10): DataFrame = {
    val termList = terms.map(t => s"'$t'").mkString("(", ", ", ")")
    val toks = docs.select(col("doc_id"),
      explode(expr("split(trim(text), ' ')")).as("token"))
    val lens = toks.groupBy("doc_id").agg(count(lit(1)).as("len"))
    val totals = lens.agg(count(lit(1)).as("nd"), sum("len").as("tot"))
    val tf = toks.filter(expr(s"token in $termList"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("token").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(totals))
      .selectExpr("token",
        "cast(floor(ln((cast(nd as double) - cast(df as double) + 5e-1) / " +
          "(cast(df as double) + 5e-1)) * 1.0e9 + 5e-1) as bigint) as idf9")
    tf.join(lens, "doc_id")
      .join(broadcast(dfT), "token")
      .crossJoin(broadcast(totals.selectExpr(
        "cast(tot as double) / cast(nd as double) as avglen")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"),
        expr(graft.oracle.Parity.fpSum(bm25Term)).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** DuckDB mirror of [[bm25]]. */
  def bm25Sql(terms: Seq[String] = Seq("hash", "join", "merge"),
              k: Int = 10, table: String = "documents"): String = {
    val termList = terms.map(t => s"'$t'").mkString("(", ", ", ")")
    s"""with toks as (select doc_id,
       |  unnest(string_split(trim(text), ' ')) as token from $table),
       |lens as (select doc_id, cast(count(*) as bigint) as len
       | from toks group by doc_id),
       |totals as (select cast(count(*) as bigint) as nd,
       |  cast(sum(len) as bigint) as tot from lens),
       |tf as (select doc_id, token, cast(count(*) as bigint) as tf
       | from toks where token in $termList group by doc_id, token),
       |dft as (select token,
       |  cast(floor(ln((cast(nd as double) - cast(df as double) + 5e-1) /
       |   (cast(df as double) + 5e-1)) * 1.0e9 + 5e-1) as bigint) as idf9
       | from (select token, cast(count(*) as bigint) as df
       |   from tf group by token), totals),
       |av as (select cast(tot as double) / cast(nd as double) as avglen
       | from totals)
       |select doc_id, cast(count(*) as bigint) as n_terms,
       | ${graft.oracle.Parity.fpSum(bm25Term)} as score
       |from tf join lens using (doc_id) join dft using (token), av
       |group by doc_id
       |order by score desc, doc_id asc limit $k"""
      .stripMargin.replace("\n", " ")
  }

  /** Query-by-example BM25 retrieval over the word-3-gram posting
    * universe — [[bm25]]'s ranking function lifted from a fixed term
    * set to every-doc-as-query (the [[sparseRetrieval]] harness with
    * BM25's saturated tf + length normalization in place of TF-IDF):
    * score(q, d) = Σ over shared grams of idf·sat(tf_d, len_d). The
    * idf is the textbook fixed-point ln((N − df + ½)/(df + ½))
    * ([[bm25Term]] verbatim), document frequency is the count window
    * over tf (open universe — no broadcast), stop grams are cut at
    * df·10 > N (which also keeps the idf positive), scores are fpSum'd,
    * top-k per query. Same 100 TB shape as [[sparseRetrieval]]: the
    * posting table is the stored index, bucketed by token. */
  def bm25Retrieval(docs: DataFrame, k: Int = 10, queryEvery: Int = 50,
                    maxQ: Long = Long.MaxValue): DataFrame =
    // r15: materialize the posting relation once — the retrieval join
    // consumes it on both sides (see sparseRetrieval)
    bm25RetrievalFrom(bm25Postings(docs).localCheckpoint(), k, queryEvery, maxQ)

  /** The scored BM25 posting relation a from-scratch retrieval builds —
    * split out of [[bm25Retrieval]] so plan pins can compare the
    * UNmaterialized chain against the stored-index serve. */
  def bm25Postings(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r15: `len` = the closed-form gram count ([[gram3Count]] — split
    // cost, no second gram construction; equals the old sum-over-tf
    // window's integer exactly since explode drops nothing), so the
    // doc_id-keyed window exchange + sort disappears; and the two
    // scalar totals come from a cheap row-local scan instead of
    // re-running the whole tokenize+aggregate subtree a second time
    // (nd = doc count since gram3 emits >= 1 token per doc — the
    // SparseIndex meta contract; tot = Σ gram3Count = Σ tf).
    // two-step select: pins `len` BELOW the Generate (see tfidfPostings)
    val toks = docs
      .select(col("doc_id"), expr(s"cast(($gram3Count) as bigint)").as("len"),
        col("text"))
      .select(col("doc_id"), col("len"), explode(expr(gram3Spark)).as("token"))
    val tf = toks.groupBy("doc_id", "len", "token").agg(count(lit(1)).as("tf"))
      .withColumn("dfq", count(lit(1)).over(Window.partitionBy("token")))
    val totals = docs.agg(count(lit(1)).as("nd"),
      expr(s"cast(sum($gram3Count) as bigint)").as("tot"))
    val postings = tf.crossJoin(broadcast(totals))
      .filter(col("dfq") * 10 <= col("nd"))
      .withColumn("idf9", expr(bm25Idf9("nd")))
      .withColumn("avglen", expr("cast(tot as double) / cast(nd as double)"))
      .select("doc_id", "token", "tf", "len", "idf9", "avglen")
    postings
  }

  /** BM25 retrieval over a GIVEN scored-posting relation
    * `(doc_id, token, tf, len, idf9, avglen)` — the query-time half
    * shared by the rebuild ([[bm25Retrieval]]) and the stored-index
    * serve ([[SparseIndex.bm25RetrievalStored]]), exactly the
    * [[sparseRetrievalFrom]] split: when the relation derives from the
    * token-bucketed stored index, the query⋈corpus token join inherits
    * the bucket distribution. All score inputs ride the DOCUMENT side
    * (BM25 scores the matched document; the query contributes only its
    * term set), so the query projection is (q_id, token). `maxQ` caps
    * query-set membership at a constant (the *_fixedq bench
    * discipline). */
  def bm25RetrievalFrom(postings: DataFrame, k: Int = 10,
                        queryEvery: Int = 50,
                        maxQ: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = postings.filter(col("doc_id") % queryEvery === 0 &&
        col("doc_id") < maxQ)
      .select(col("doc_id").as("q_id"), col("token"))
    val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("doc_id").asc)
    q.join(postings, "token").filter(col("q_id") =!= col("doc_id"))
      .groupBy("q_id", "doc_id")
      .agg(expr(graft.oracle.Parity.fpSum(bm25Term)).as("score"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("q_id", "doc_id", "score", "rk")
  }

  /** DuckDB mirror of [[bm25Retrieval]]. `withPrefix` lets a composed
    * pipeline prepend its own CTEs (must end with a comma). */
  def bm25RetrievalSql(k: Int = 10, queryEvery: Int = 50,
                       table: String = "documents",
                       withPrefix: String = "",
                       maxQ: Long = Long.MaxValue): String =
    s"""with ${withPrefix}toks as (${gram3DuckToks(table)}),
       |tf as (select doc_id, token, count(*) as tf,
       |  sum(count(*)) over (partition by doc_id) as len
       |  from toks group by doc_id, token),
       |tfd as (select *, count(*) over (partition by token) as dfq from tf),
       |totals as (select cast(count(distinct doc_id) as bigint) as nd,
       |  cast(sum(tf) as bigint) as tot from tf),
       |postings as (select doc_id, token, tf, len,
       |  cast(floor(ln((cast(nd as double) - cast(dfq as double) + 5e-1) /
       |   (cast(dfq as double) + 5e-1)) * 1.0e9 + 5e-1) as bigint) as idf9,
       |  cast(tot as double) / cast(nd as double) as avglen
       | from tfd, totals where dfq * 10 <= nd),
       |q as (select doc_id as q_id, token from postings
       |  where doc_id % $queryEvery = 0${
           if (maxQ == Long.MaxValue) "" else s" and doc_id < $maxQ"}),
       |sc as (select q_id, p.doc_id as doc_id,
       |  ${graft.oracle.Parity.fpSum(bm25Term)} as score
       | from q join postings p using (token) where q_id <> p.doc_id
       | group by q_id, p.doc_id)
       |select q_id, doc_id, score, rk from (
       | select q_id, doc_id, score,
       |  cast(row_number() over (partition by q_id order by score desc, doc_id asc) as bigint) as rk
       | from sc)
       |where rk <= $k""".stripMargin.replace("\n", " ")

  /** Shared fixed-point PMI expression: ln of the bigram/independence
    * probability ratio in 1e-9 BIGINT units (same rationale as
    * [[unigramLogProb]]: ln may differ by 1 ulp between engines and
    * decimal doubles don't sum exactly, so every comparison and the
    * top-k order live on the integer grid). Identical text runs in both
    * engines — the division/multiplication ORDER is part of the
    * contract. */
  private def pmiUnits: String =
    "cast(floor(ln((cast(c_xy as double) / cast(n_bi as double)) / " +
      "((cast(c1 as double) / cast(n_uni as double)) * " +
      "(cast(c2 as double) / cast(n_uni as double)))) * 1.0e9 + 5e-1) as bigint)"

  /** PMI collocation mining — the phrase-discovery pass of a corpus
    * pipeline (find "New York"-style units worth merging before
    * tokenizer training): count unigrams and adjacent bigrams, join the
    * bigram table to the vocabulary twice (hash joins on the token —
    * the standard corpus-scale shuffle, never a broadcast: the
    * vocabulary is data-proportional), score
    * PMI = ln(p(xy) / (p(x)·p(y))), keep bigrams seen ≥ `minCount`
    * times, return the global top-`k`. The top-k is orderBy+limit —
    * Spark plans TakeOrderedAndProject (per-partition top-k, merge of
    * k-row heads), the two-phase shape that never sorts the full
    * candidate set. Ties broken by the bigram text, so the cut is
    * deterministic. */
  def pmiTop(docs: DataFrame, minCount: Int = 5, k: Int = 20): DataFrame = {
    val words = docs.select(expr("split(trim(text), ' ')").as("words"))
    val uni = words.select(explode(col("words")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val nUni = uni.agg(sum("c").as("n_uni"))
    // sequence(1, 0) in Spark steps DOWNWARD — filter single-token docs
    // before the generator (DuckDB's generate_series(1, 0) is just empty)
    val bi = words.filter(size(col("words")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(words) - 1),
          | i -> struct(element_at(words, i) as w1,
          |   element_at(words, i + 1) as w2))"""
          .stripMargin.replace("\n", " "))).as("b"))
      .select("b.w1", "b.w2")
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
    val nBi = bi.agg(sum("c_xy").as("n_bi"))
    bi.filter(col("c_xy") >= minCount)
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(nBi)).crossJoin(broadcast(nUni))
      .select(col("w1"), col("w2"), col("c_xy"), expr(pmiUnits).as("pmi_fp"))
      .orderBy(col("pmi_fp").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  /** DuckDB mirror of [[pmiTop]]. */
  def pmiTopSql(minCount: Int = 5, k: Int = 20,
      table: String = "documents"): String =
    s"""with ws as (select string_split(trim(text), ' ') as words from $table),
       |uni as (select unnest(words) as w from ws),
       |vocab as (select w, cast(count(*) as bigint) as c from uni group by w),
       |nu as (select cast(sum(c) as bigint) as n_uni from vocab),
       |bi0 as (select words[i] as w1, words[i + 1] as w2 from
       |  (select words, unnest(generate_series(1, len(words) - 1)) as i from ws)),
       |bi as (select w1, w2, cast(count(*) as bigint) as c_xy
       |  from bi0 group by w1, w2),
       |nb as (select cast(sum(c_xy) as bigint) as n_bi from bi)
       |select w1, w2, c_xy, $pmiUnits as pmi_fp
       |from bi
       | join (select w as w1, c as c1 from vocab) using (w1)
       | join (select w as w2, c as c2 from vocab) using (w2), nb, nu
       |where c_xy >= $minCount
       |order by pmi_fp desc, w1 asc, w2 asc limit $k"""
      .stripMargin.replace("\n", " ")

  /** Per-document character Shannon entropy — the compression-ratio
    * stand-in quality signal (near-zero = repeated filler, near-log2 of
    * the alphabet = random junk; natural text sits in a narrow band).
    * Both engines' `length`/`substring` count codepoints, counts and
    * ratios are exact, and the `log2` terms ride [[Parity.fpSum]], so
    * the score is deterministic (the usual ~per-term ulp flip risk).
    * Empty documents have no distribution and are excluded by the shared
    * `length >= 1` predicate. Two map-side-combined aggregates; shuffle
    * volume is (doc × distinct-char)-sized. */
  def charEntropy(docs: DataFrame): DataFrame = {
    val term = "(cast(c as double) / cast(len as double)) * " +
      "log2(cast(c as double) / cast(len as double))"
    // chars come from ONE split pass: per-index substring(text, i, 1)
    // re-seeks from the string start every call (UTF-8 is variable
    // width), which is O(n²) per document — measured 4.1 s at sf0.1 vs
    // 0.4 s for split+slice. split-by-empty-regex advances by codepoint
    // (multibyte text matches the oracle's substring chars; edge-gate
    // checked); Spark's default limit=-1 keeps a trailing empty token,
    // removed by the codegen'd slice (a filter LAMBDA here runs
    // interpreted and costs 2.4 s by itself)
    docs
      .filter(expr("length(text) >= 1"))
      .select(col("doc_id"), expr("length(text)").cast("long").as("len"),
        explode(expr(
          "slice(split(text, ''), 1, cast(length(text) as int))")).as("ch"))
      .groupBy("doc_id", "len", "ch")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id", "len")
      .agg(count(lit(1)).as("n_distinct_chars"),
        expr(s"(0e0 - ${graft.oracle.Parity.fpSum(term)}) as entropy"))
      .select(col("doc_id"), col("len").as("n_chars_e"),
        col("n_distinct_chars"), col("entropy"))
  }

  /** DuckDB mirror of [[charEntropy]]. */
  def charEntropySql(table: String = "documents"): String = {
    val term = "(cast(c as double) / cast(len as double)) * " +
      "log2(cast(c as double) / cast(len as double))"
    s"""with d as (select doc_id, text, cast(length(text) as bigint) as len
       |  from $table where length(text) >= 1),
       |ix as (select doc_id, text, len, unnest(generate_series(1, len)) as i from d),
       |cnt as (select doc_id, len, substring(text, i, 1) as ch,
       |  cast(count(*) as bigint) as c from ix group by 1, 2, 3)
       |select doc_id, len as n_chars_e,
       | cast(count(*) as bigint) as n_distinct_chars,
       | (0e0 - ${graft.oracle.Parity.fpSum(term)}) as entropy
       |from cnt group by doc_id, len""".stripMargin.replace("\n", " ")
  }

  /** Feature-hashing vectorizer (the hashing trick, public):
    * every token hashes into one of `buckets` fixed feature slots and
    * the document becomes a sparse count vector — the featurization a
    * cheap quality/topic classifier consumes at corpus scale, with NO
    * vocabulary to build, broadcast, or keep consistent across runs.
    * Long-format output (doc_id, bucket, cnt); the CW mix spreads the
    * short-token codes across slots. One explode + one map-side-combined
    * aggregate — the only shuffle is (doc, bucket)-sized. */
  def hashFeatures(docs: DataFrame, buckets: Int = 256): DataFrame = {
    docs
      .select(col("doc_id"), explode(expr("split(trim(text), ' ')")).as("tok"))
      .select(col("doc_id"),
        expr(s"(${graft.oracle.Parity.cwMix(52, "rolling_hash(tok)")} % $buckets) as bucket"))
      .groupBy("doc_id", "bucket")
      .agg(count(lit(1)).as("cnt"))
  }

  /** DuckDB mirror of [[hashFeatures]]. */
  def hashFeaturesSql(buckets: Int = 256, table: String = "documents"): String =
    s"""select doc_id,
       | (${graft.oracle.Parity.cwMix(52, graft.oracle.Parity.rollingHashDuck("tok"))} % $buckets) as bucket,
       | cast(count(*) as bigint) as cnt
       |from (select doc_id, unnest(string_split(trim(text), ' ')) as tok from $table) t
       |group by 1, 2""".stripMargin.replace("\n", " ")

  /** Vocabulary coverage curve — what fraction of corpus TOKENS the
    * top-k most frequent words cover, for a ladder of k (the
    * tokenizer/vocab-size planning curve: BPE vocab sizing reads exactly
    * this). The global frequency ranking is NOT a single-partition sort:
    * rank(w) under (count desc, word asc) decomposes into the
    * cumulative word count of HIGHER frequencies (a window over the
    * frequency GRID — distinct counts, heavy-tailed and tiny) plus a
    * row_number WITHIN the word's own frequency class (partitioned by
    * count — scale-parallel); the cumulative token mass inside a class
    * is just rn·c, no window at all. Coverage values are exact integer
    * ratios. */
  def vocabCoverage(docs: DataFrame,
                    ks: Seq[Int] = Seq(16, 64, 256, 1024, 4096)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wc = docs
      .select(explode(expr("split(trim(text), ' ')")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val grid = wc.groupBy("c").agg(count(lit(1)).as("nw"))
      .withColumn("tok", col("c") * col("nw"))
    val gw = Window.orderBy(col("c").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val gridCum = grid
      .withColumn("w_before", coalesce(sum("nw").over(gw), lit(0L)))
      .withColumn("tok_before", coalesce(sum("tok").over(gw), lit(0L)))
      .select("c", "w_before", "tok_before")
    val ranked = wc.join(gridCum, "c")
      .withColumn("rn", row_number().over(
        Window.partitionBy("c").orderBy("w")).cast("long"))
      .select(col("w"), col("c"),
        (col("w_before") + col("rn")).as("rank"),
        (col("tok_before") + col("rn") * col("c")).as("cum_tok"))
    val totals = grid.agg(sum("nw").as("vocab"), sum("tok").as("total_tok"))
    val kdf = docs.sparkSession.createDataFrame(
      ks.map(k => Tuple1(k.toLong))).toDF("k")
    kdf.crossJoin(broadcast(totals))
      .withColumn("target", least(col("k"), col("vocab")))
      .join(ranked, col("target") === col("rank"))
      .select(col("k"), col("target").as("rank"), col("vocab"),
        col("cum_tok").as("covered"), col("total_tok"),
        (col("cum_tok").cast("double") / col("total_tok").cast("double"))
          .as("coverage"))
  }

  /** DuckDB mirror of [[vocabCoverage]]. */
  def vocabCoverageSql(ks: Seq[Int] = Seq(16, 64, 256, 1024, 4096),
                       table: String = "documents"): String = {
    val kvals = ks.map(k => s"($k)").mkString(", ")
    s"""with wc as (select w, cast(count(*) as bigint) as c from
       |  (select unnest(string_split(trim(text), ' ')) as w from $table)
       | group by w),
       |grid as (select c, cast(count(*) as bigint) as nw,
       |  c * cast(count(*) as bigint) as tok from wc group by c),
       |gc as (select c,
       |  cast(coalesce(sum(nw) over w, 0) as bigint) as w_before,
       |  cast(coalesce(sum(tok) over w, 0) as bigint) as tok_before
       | from grid window w as (order by c desc
       |   rows between unbounded preceding and 1 preceding)),
       |ranked as (select wc.w, wc.c,
       |  cast(w_before + rn as bigint) as rank,
       |  cast(tok_before + rn * wc.c as bigint) as cum_tok
       | from (select w, c, cast(row_number() over (partition by c order by w) as bigint) as rn
       |   from wc) wc join gc on wc.c = gc.c),
       |tot as (select cast(sum(nw) as bigint) as vocab,
       |  cast(sum(tok) as bigint) as total_tok from grid),
       |kv as (select cast(k as bigint) as k from (values $kvals) t(k))
       |select k, least(k, vocab) as rank, vocab, cum_tok as covered,
       | total_tok,
       | cast(cum_tok as double) / cast(total_tok as double) as coverage
       |from kv cross join tot
       | join ranked on least(k, vocab) = ranked.rank"""
      .stripMargin.replace("\n", " ")
  }

  /** Per-LINE language mixture — the paragraph-level langid pass (CCNet
    * scores paragraphs, not documents: a code-switching page looks
    * mid-confidence at doc level but bimodal at line level). Each
    * fixed-token line ([[Dedup.tokenLines]] — the shared line rule) gets
    * the stopword-profile langid; per doc: line count, the majority line
    * language (argmax by count desc then language asc — deterministic),
    * its share of lines (exact ratio), and whether it agrees with the
    * doc label. One doc-keyed shuffle carries the line aggregation and
    * the majority window. */
  def langMix(docs: DataFrame, lineTokens: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lines = Dedup.tokenLines(docs, lineTokens, carry = Seq("lang"))
      .select(col("doc_id"), col("lang"), col("line"))
    val scored = lines
      .selectExpr((Seq("doc_id", "lang") ++
        langIdSelects(SparkD, "line").drop(2)): _*)
      .withColumn("pred", expr(langPredExpr))
    val perLang = scored.groupBy("doc_id", "lang", "pred")
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("doc_id").orderBy(col("c").desc, col("pred").asc)
    perLang
      .withColumn("n_lines", sum("c").over(Window.partitionBy("doc_id")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("lang"), col("n_lines"),
        col("pred").as("major_lang"), col("c").as("n_major"),
        (col("c").cast("double") / col("n_lines").cast("double")).as("major_share"),
        (col("pred") === col("lang")).as("agrees"))
  }

  /** DuckDB mirror of [[langMix]]. */
  def langMixSql(lineTokens: Int = 10, table: String = "documents"): String = {
    val scores = langIdSelects(graft.oracle.Parity.DuckD, "line").drop(2)
      .mkString(", ")
    s"""with ${Dedup.linesCteSql(lineTokens, table, ", lang")},
       |sc as (select doc_id, lang, ${TextOps.langPredExpr} as pred from
       |  (select doc_id, lang, $scores from l)),
       |pl as (select doc_id, lang, pred, cast(count(*) as bigint) as c
       | from sc group by 1, 2, 3),
       |agg as (select doc_id, lang, pred, c,
       |  sum(c) over (partition by doc_id) as n_lines,
       |  row_number() over (partition by doc_id
       |   order by c desc, pred asc) as rk from pl)
       |select doc_id, lang, cast(n_lines as bigint) as n_lines,
       | pred as major_lang, c as n_major,
       | cast(c as double) / cast(n_lines as double) as major_share,
       | (pred = lang) as agrees
       |from agg where rk = 1""".stripMargin.replace("\n", " ")
  }

  /** Positional phrase search — the exact-phrase primitive of an
    * inverted-index engine (Lucene `PhraseQuery`): build positional
    * postings (doc_id, pos, token), pick the query phrase as the
    * corpus's most frequent word trigram (argmax by count desc then
    * text asc — deterministic, data-driven, so the query matches at any
    * SF), then match it by joining the three term postings on
    * (doc, pos+offset) adjacency.
    *
    * Scale shape: postings are tokenized ONCE (eager localCheckpoint —
    * checkpoint/persist on a cluster) and the trigram count pass is two
    * window `lead`s over the SAME (doc_id, pos) sort — one shuffle, no
    * self-join. The argmax phrase is a bounded 1-row driver collect
    * (run once, not once per probe); each term probe is then a literal
    * token filter over the pinned postings (the classic posting-list
    * cut), and the adjacency join is two (doc, pos)-keyed equi-joins —
    * at 100 TB this is exactly the distributed merge of three posting
    * lists, never a text rescan. */
  def phraseSearch(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // materialize the postings ONCE (eager localCheckpoint — the
    // minHashPairs posting-relation discipline): `post` feeds the
    // trigram count pass and three probe joins, and without pinning it
    // each branch would re-tokenize the whole corpus
    val post = docs.select(col("doc_id"),
        posexplode(expr("split(trim(text), ' ')")).as(Seq("p", "tok")))
      .select(col("doc_id"), col("p").cast("long").as("p"), col("tok"))
      .localCheckpoint(true)
    val byDoc = Window.partitionBy("doc_id").orderBy("p")
    val tri = post
      .withColumn("w2", lead(col("tok"), 1).over(byDoc))
      .withColumn("w3", lead(col("tok"), 2).over(byDoc))
      .filter(col("w2").isNotNull && col("w3").isNotNull)
      .groupBy(col("tok").as("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("c"))
    // the argmax phrase is ONE row: run the count/sort pass once and
    // collect it, so the three probes below are literal token filters
    // (posting-list cuts) instead of three re-executions of the argmax
    // headOption: a corpus with no >=3-token document has an empty
    // argmax relation — return the empty (doc_id, n_hits, first_pos)
    // frame instead of throwing at plan-build time
    val top = tri
      .orderBy(col("c").desc, col("w1").asc, col("w2").asc, col("w3").asc)
      .limit(1)
      .select("w1", "w2", "w3")
      .collect().headOption
    if (top.isEmpty) {
      return post.select(col("doc_id"), lit(0L).as("n_hits"),
        lit(0L).as("first_pos")).limit(0)
    }
    val Array(t1, t2, t3) =
      top.map(r => Array(r.getString(0), r.getString(1), r.getString(2))).get
    val p1 = post.filter(col("tok") === lit(t1))
      .select(col("doc_id"), col("p"))
    val p2 = post.filter(col("tok") === lit(t2))
      .select(col("doc_id"), (col("p") - 1).as("p"))
    val p3 = post.filter(col("tok") === lit(t3))
      .select(col("doc_id"), (col("p") - 2).as("p"))
    p1.join(p2, Seq("doc_id", "p")).join(p3, Seq("doc_id", "p"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"), min("p").as("first_pos"))
  }

  /** DuckDB mirror of [[phraseSearch]] — identical trigram argmax and
    * posting-adjacency joins; CTEs referenced more than once are
    * `materialized` (the inlining-re-evaluation gotcha). */
  def phraseSearchSql(table: String = "documents"): String =
    s"""with tw as (
       | select doc_id, unnest(generate_series(1, len(ws))) as ti, ws
       | from (select doc_id, string_split(trim(text), ' ') as ws from $table)),
       |toks as materialized (
       | select doc_id, cast(ti - 1 as bigint) as p, ws[ti] as tok from tw),
       |tri as (
       | select tok as w1,
       |  lead(tok, 1) over w as w2, lead(tok, 2) over w as w3
       | from toks window w as (partition by doc_id order by p)),
       |phrase as materialized (
       | select w1, w2, w3 from tri where w2 is not null and w3 is not null
       | group by 1, 2, 3
       | order by count(*) desc, w1 asc, w2 asc, w3 asc limit 1)
       |select t1.doc_id, cast(count(*) as bigint) as n_hits,
       | min(t1.p) as first_pos
       |from toks t1
       | join phrase ph on t1.tok = ph.w1
       | join toks t2 on t2.doc_id = t1.doc_id and t2.p = t1.p + 1
       |   and t2.tok = ph.w2
       | join toks t3 on t3.doc_id = t1.doc_id and t3.p = t1.p + 2
       |   and t3.tok = ph.w3
       |group by t1.doc_id""".stripMargin.replace("\n", " ")
}
