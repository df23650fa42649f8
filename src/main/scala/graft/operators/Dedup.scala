package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale text pipelines (builder north
  * star — beyond the reference surface, SURVEY.md §7.6).
  *
  * Scale design: every variant is a pure hash-partitioned plan —
  *   - exact: one shuffle on the content hash; at 100 TB the hash
  *     pre-aggregation combines map-side, and only (hash, count, keeper)
  *     tuples shuffle, never the text.
  *   - n-gram Jaccard: candidate generation is a bucketed self-join
  *     (language × length band) so the quadratic blow-up is bounded per
  *     bucket; shingle arrays shuffle once, hashed by bucket.
  *   - MinHash/LSH & SimHash: signatures are fixed-width, so the shuffle
  *     volume is O(rows × bands), independent of document length.
  */
object Dedup {

  /** Exact dedup via content fingerprint: per-hash multiplicity and the
    * deterministic keeper (min id). */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("fingerprint"))
      .agg(count(lit(1)).as("cnt"), min(col(idCol)).as("keeper_id"))

  /** Distinct character n-gram shingles of a text column (1-based
    * substring; short texts yield one partial shingle — deterministic). */
  def shingles(textCol: String, n: Int = 3): Column =
    expr(s"array_distinct(transform(sequence(1, greatest(char_length($textCol) - ${n - 1}, 1)), " +
      s"i -> substring($textCol, i, $n)))")

  /** Distinct character 3-gram shingles packed into BIGINT codes
    * (codepoint·2^42 + codepoint·2^21 + codepoint — collision-free for
    * Unicode ≤ 0x10FFFF). Same set cardinalities as the string shingles,
    * but array intersection runs on longs instead of hashed strings —
    * several× cheaper at scale — and the encoding is expressible
    * identically in DuckDB for the oracle. */
  def charShingleCodes(textCol: String): Column = expr(charShingleCodesSql(textCol))

  def charShingleCodesSql(textCol: String): String =
    s"array_distinct(transform(sequence(1, greatest(char_length($textCol) - 2, 1)), " +
      s"i -> ascii(substring($textCol, i, 1)) * 4398046511104 " +
      s"+ ascii(substring($textCol, i + 1, 1)) * 2097152 " +
      s"+ ascii(substring($textCol, i + 2, 1))))"

  /** Distinct word n-gram shingles — the right granularity for document-
    * level near-dup: random word sequences are near-disjoint between
    * unrelated documents even over a small vocabulary, so LSH candidate
    * sets stay sparse (char n-grams of a shared vocab overlap almost
    * completely and degenerate to O(n²) candidates). */
  def wordShingles(textCol: String, n: Int = 3): Column = expr(wordShinglesSql(textCol, n))

  def wordShinglesSql(textCol: String, n: Int = 3): String =
    s"array_distinct(transform(sequence(1, greatest(size(split(trim($textCol), ' ')) - ${n - 1}, 1)), " +
      s"i -> concat_ws(' ', slice(split(trim($textCol), ' '), i, $n))))"

  /** Sorted distinct rolling-hash codes of the word-3-gram shingles — the
    * integer shingle-set representation every hash-family op runs on
    * (merge-intersect ready; codes ∈ [0, CwMod) so Carter-Wegman mixes
    * stay overflow-free in both engines). Single-expression form — see
    * [[withShingleCodes]] for the fast two-projection shape. */
  def shingleCodesSql(textCol: String): String =
    s"array_sort(array_distinct(transform(${wordShinglesSql(textCol)}, s -> rolling_hash(s))))"

  /** (doc_id, codes) with the words array materialized in a LOWER
    * projection: inlining `split` into the shingle lambda re-splits the
    * text once per shingle — O(words²) per document, measured 3× slower
    * at sf0.1. CollapseProject keeps the two projections separate because
    * `words` is non-cheap and referenced twice. */
  def withShingleCodes(docs: DataFrame, textCol: String = "text"): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.select(col("doc_id"), expr(s"split(trim($textCol), ' ')").as("words"))
      .select(col("doc_id"), expr(
        "array_sort(array_distinct(transform(transform(" +
          "sequence(1, greatest(size(words) - 2, 1)), " +
          "i -> concat_ws(' ', slice(words, i, 3))), " +
          "s -> rolling_hash(s))))").as("codes"))
  }

  /** Near-duplicate pairs by character-n-gram Jaccard within
    * (lang, length-band) candidate buckets. Jaccard is an exact integer
    * ratio — cross-engine deterministic with no rounding.
    *
    * Deliberately a bucketed self-JOIN, not the gather-per-bucket shape
    * [[minHashPairs]] uses: length-band buckets are large (most docs of a
    * language share a band), and in-place pair generation would serialize
    * each bucket into one task, while the join spreads the quadratic
    * verification across the cluster (measured ~25% slower as a gather). */
  /** Length-band bucket of a documents relation: the physical `n_chars`
    * column when present (pushdown-friendly — the scan never touches
    * `text` for the band), else derived as `length(text)` (they are
    * equal by the documents-table contract). Makes the banded
    * operators' input contract (doc_id, text, lang) + OPTIONAL n_chars
    * — round 11 composed [[keepFirst]] into `dataCard` and silently
    * widened the contract to require the physical column, breaking any
    * caller without it. */
  private def lenBucketExpr(docs: DataFrame, band: Int) =
    if (docs.columns.contains("n_chars")) expr(s"n_chars div $band")
    else expr(s"length(text) div $band")

  def ngramJaccard(docs: DataFrame, n: Int = 3, band: Int = 50,
                   threshold: Double = 0.4): DataFrame = {
    require(n == 3, "char_trigram_codes packs exactly 3 code points; " +
      "other n would need a wider packing")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val sh = docs.select(col("doc_id"), col("lang"),
        lenBucketExpr(docs, band).as("bucket"),
        expr("char_trigram_codes(text)").as("sh"))
    val a = sh.select(col("doc_id").as("doc_a"), col("lang"), col("bucket"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("doc_b"), col("lang"), col("bucket"), col("sh").as("sh_b"))
    a.join(b, Seq("lang", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      // sound prune: jac <= min/max, so min < t*max can never pass
      .filter(least(size(col("sh_a")), size(col("sh_b"))).cast("double") >=
        lit(threshold) * greatest(size(col("sh_a")), size(col("sh_b"))).cast("double"))
      // linear merge intersect (sorted long arrays) — same count as
      // size(array_intersect), several× cheaper than per-pair hash sets
      .withColumn("inter", expr("sorted_intersect_count(sh_a, sh_b)"))
      .withColumn("uni",
        size(col("sh_a")).cast("long") + size(col("sh_b")).cast("long") - col("inter"))
      .withColumn("jac", col("inter").cast("double") / col("uni").cast("double"))
      .filter(col("jac") >= threshold)
      .select("doc_a", "doc_b", "jac")
  }

  /** Banded trigram-Jaccard — the bounded-candidate sibling of
    * [[ngramJaccard]] (verdict r8 #1). The full operator's (lang,
    * length-band) bucketed self-join is quadratic WITHIN buckets: most
    * docs of a language share a length band, so at 100× data each bucket
    * holds ~100× more docs and the pair mass grows ~10,000× (measured
    * 31.7× at 10× data). Here candidates come from MinHash-LSH over the
    * SAME trigram code sets (the [[graft.operators.TextOps.winnowOverlapBanded]]
    * discipline): a per-doc Carter-Wegman signature — array transforms
    * over the code array, zero shuffles until the band join — is split
    * into `bands` buckets; candidates are same-bucket pairs; and the
    * EXACT verify (the full operator's (lang, length-band) gate, its
    * min/max prune, its `sorted_intersect_count` linear-merge intersect
    * and its integer-ratio Jaccard — identical arithmetic) runs only
    * inside candidates. Output is therefore a structural SUBSET of
    * [[ngramJaccard]] with identical scores, at MinHash-LSH recall for
    * the Jaccard regime the band curve targets ((1/b)^(1/r) ≈ 0.35 for
    * 8×2, comfortably under the 0.4 report threshold); OperatorsSpec
    * measures recall 1.0 on the planted near-dup corpus. Trigram codes
    * pack 3 code points into ~2^63 so they exceed the Carter-Wegman
    * domain; they are reduced `% CwMod` before mixing — collisions there
    * only add candidates (verify is exact on the ORIGINAL codes).
    * Deterministic and SQL-expressible end-to-end →
    * [[ngramJaccardBandedSql]] lets the driver hash-check the banded
    * algorithm itself.
    *
    * Scale shape: the join key is (band, band-value, lang, length-band)
    * — content similarity AND the full operator's bucket gate TOGETHER —
    * so per-key pair mass (one task per key) is co-occupancy of BOTH
    * filters; on a boilerplate-heavy corpus where one band value
    * captures much of the corpus (this synthetic word-soup corpus is the
    * extreme: 60%+ of docs share the argmin trigram) the length slices
    * keep every task clique-sized (measured max 1960 docs/key at 10×
    * data vs 32k/key without the split). The code arrays ride into the
    * band join (the minHashPairs trade, ×bands here) so the verify runs
    * INLINE in the join stage and the quadratic pair mass never crosses
    * a shuffle — an earlier cut attached arrays to a distinct pair list
    * with two joins, re-shuffling pairs × both arrays (~100 GB at 10×),
    * and watchdog-capped where this shape clears. Each pair verifies
    * exactly once (first-colliding-band rule — 8 long compares), so
    * total work = collision mass (cheap filter) + one exact intersect
    * per candidate pair. */
  def ngramJaccardBanded(docs: DataFrame, lenBand: Int = 50,
                         threshold: Double = 0.4,
                         numHashes: Int = 16, bands: Int = 8): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val r = numHashes / bands
    val mod = graft.oracle.Parity.CwMod
    // one projection chain, zero shuffles until the band join: trigram
    // codes → 16 CW minima (array transforms, codegen'd) → 8 band folds
    val sigCols = (0 until numHashes).map(j =>
      expr(s"array_min(transform(sh, c -> ${graft.oracle.Parity.cwMix(j, s"(c % $mod)")}))")
        .as(s"h$j"))
    val bvCols = (0 until bands).map(b =>
      expr(bandValueSql((b * r until (b + 1) * r).map(j => s"h$j"))))
    val banded = docs.select(col("doc_id"), col("lang"),
        lenBucketExpr(docs, lenBand).as("bucket"), col("text"))
      // spread the per-doc signature work BEFORE the heavy projection:
      // a single parquet input split would otherwise serialize the
      // trigram + 16-hash chain (and, through localCheckpoint's
      // partition-preserving materialization, every downstream stage)
      // onto one task — raw text shuffles once, cheap vs the compute
      .repartition(col("doc_id"))
      .select(col("doc_id"), col("lang"), col("bucket"),
        expr("char_trigram_codes(text)").as("sh"))
      .select(Seq(col("doc_id"), col("lang"), col("bucket"), col("sh")) ++ sigCols: _*)
      .select(col("doc_id"), col("lang"), col("bucket"), col("sh"),
        array(bvCols: _*).as("bvs"))
      // checkpoint BEFORE the band explode: stores each code array once
      // (not ×bands) and still cuts signature recompute for both join
      // sides — the explode itself is free to repeat
      .localCheckpoint()
      .select(col("doc_id"), col("lang"), col("bucket"), col("sh"), col("bvs"),
        posexplode(col("bvs")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bv")
    // (lang, bucket) — the full operator's candidate gate — rides IN the
    // join key, not as a post-filter: it splits any residual dense LSH
    // bucket across length-band slices, so per-key pair mass (one task
    // per key) stays bounded (measured max 1960 docs/key at 10×)
    def side(s: String) = banded.select(col("doc_id").as(s"doc_$s"),
      col("sh").as(s"sh_$s"), col("bvs").as(s"bvs_$s"),
      col("band"), col("bv"), col("lang"), col("bucket"))
    side("a").join(side("b"), Seq("band", "bv", "lang", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      // verify each pair exactly ONCE, in its FIRST colliding band: a
      // near-identical pair collides in all 8 bands, so verifying per
      // collision would repeat the exact intersect 8×. The check runs on
      // EVERY generated pair (92.2M at 10× data — this corpus makes most
      // same-bucket pairs genuine near-dups, so generated ≈ output×bands,
      // irreducible by candidate pruning), hence the allocation-free
      // comparison chain instead of a per-row zip_with array
      // ([[firstMeetChainSql]]: 45.2 s → 20.1 s on the 10× corpus).
      .filter(expr(firstMeetChainSql(bands)))
      // sound prune: jac <= min/max, so min < t*max can never pass
      .filter(least(size(col("sh_a")), size(col("sh_b"))).cast("double") >=
        lit(threshold) * greatest(size(col("sh_a")), size(col("sh_b"))).cast("double"))
      // sorted_jaccard = bit-identical to the full operator's
      // inter/(la+lb−inter) arithmetic but referenced ONCE, so the
      // threshold conjunct stays LAST in the join predicate and the
      // cheap filters above short-circuit it (see SortedJaccard's doc)
      .withColumn("jac", expr("sorted_jaccard(sh_a, sh_b)"))
      .filter(col("jac") >= threshold)
      .select("doc_a", "doc_b", "jac")
  }

  /** DuckDB mirror of [[ngramJaccardBanded]] — every constant (CW
    * params, band fold, thresholds) interpolated from the same Scala
    * source as the Spark plan. `shingle` is the caller's DuckDB trigram
    * expression (the one its full-operator oracle already uses). */
  def ngramJaccardBandedSql(shingle: String, lenBand: Int = 50,
                            threshold: Double = 0.4,
                            numHashes: Int = 16, bands: Int = 8,
                            table: String = "documents"): String = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val mod = graft.oracle.Parity.CwMod
    val sigCols = (0 until numHashes)
      .map(j => s"list_min(list_transform(sh, c -> " +
        s"${graft.oracle.Parity.cwMix(j, s"(c % $mod)")})) as h$j")
      .mkString(", ")
    val bvList = (0 until bands)
      .map(b => bandValueSql((b * r until (b + 1) * r).map(j => s"h$j")))
      .mkString("[", ", ", "]")
    val bandRows = (0 until bands)
      .map(b => s"select doc_id, lang, bucket, sh, bvs, $b as band, " +
        s"bvs[${b + 1}] as bv from sigv")
      .mkString(" union all ")
    // first-colliding-band rule mirrored: generate_series(1, band) is
    // the EARLIER bands (1-based list index; empty for band 0) — the
    // pair verifies only where no earlier band already collided
    s"""with sh as materialized (select doc_id, lang, n_chars // $lenBand as bucket,
       |  $shingle as sh from $table),
       |sigs as (select doc_id, lang, bucket, sh, $sigCols from sh),
       |sigv as materialized (select doc_id, lang, bucket, sh, $bvList as bvs from sigs),
       |banded as ($bandRows),
       |vr as (select a.doc_id as doc_a, b.doc_id as doc_b,
       |  cast(len(list_intersect(a.sh, b.sh)) as double)
       |   / cast(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) as double) as jac
       | from banded a join banded b on a.band = b.band and a.bv = b.bv
       |   and a.lang = b.lang and a.bucket = b.bucket
       |   and a.doc_id < b.doc_id
       | where len(list_filter(generate_series(1, a.band),
       |         i -> a.bvs[i] = b.bvs[i])) = 0)
       |select doc_a, doc_b, jac from vr where jac >= ${graft.oracle.Parity.lit(threshold)}"""
      .stripMargin.replace("\n", " ")
  }

  /** Keep-first dedup DECISION — the relation a production 100 TB dedup
    * pass actually materializes: ONE row per document with a keep/drop
    * verdict, not the quadratic near-dup pair list. Policy: a document
    * drops iff it has at least one near-duplicate with a smaller
    * doc_id (the keep-earliest rule of the public corpus-dedup
    * pipelines); `dup_of` records the smallest such id for lineage.
    * Candidates and scores come from [[ngramJaccardBanded]] (recall
    * contract inherited), but the pair mass collapses in a map-side
    * min-aggregate the moment it exists — output and every shuffled
    * relation after the band join are LINEAR in documents, which is
    * what lets the decision run at corpus scales where materializing
    * the pair list (output ~quadratic on template-heavy corpora — 105×
    * at 10× data, measured) cannot. */
  def keepFirst(docs: DataFrame): DataFrame = {
    val dupOf = ngramJaccardBanded(docs)
      .groupBy(col("doc_b").as("doc_id"))
      .agg(min(col("doc_a")).as("dup_of"))
    docs.select(col("doc_id"))
      .join(dupOf, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"), col("dup_of").isNull.as("keep"))
  }

  /** DuckDB mirror of [[keepFirst]] — the banded-pair CTE chain wrapped
    * in the min-neighbor aggregate and the keep verdict. */
  def keepFirstSql(shingle: String, table: String = "documents"): String =
    s"""select d.doc_id, p.dup_of, p.dup_of is null as keep
       |from $table d left join (
       |  select doc_b as doc_id, cast(min(doc_a) as bigint) as dup_of
       |  from (${ngramJaccardBandedSql(shingle, table = table)})
       |  group by doc_b) p using (doc_id)""".stripMargin.replace("\n", " ")

  /** Production LSH banding parameters — ONE definition so
    * [[minHashPairs]], its oracle, and the [[lshEval]] audit can never
    * drift apart (the audit exists to validate exactly these). */
  final val LshNumHashes = 16
  final val LshBands = 4
  final val LshThreshold = 0.5

  /** Polynomial fold of a band's minhashes into one bucket value —
    * modular, so it is overflow-free and identical in both engines. */
  private[graft] def bandValueSql(hashes: Seq[String]): String =
    hashes.reduceLeft((acc, h) => s"((($acc) * 1000003 + $h) % ${graft.oracle.Parity.CwMod})")

  /** First-colliding-band predicate as an allocation-free comparison
    * chain: "this row's `band` is the EARLIEST index where `bvs_a` and
    * `bvs_b` agree". Equivalent to (and replacing) the
    * `!exists(slice(zip_with(bvs_a, bvs_b, (x,y) -> x = y), 1, band), ...)`
    * form, which allocated a fresh 8-element boolean array per GENERATED
    * join row — and the generated pair mass (every same-key ordered pair,
    * pre-filter) is the single largest row count in the whole engine at
    * scale (92.2M at 10× data). Swapping the lambda for this nested
    * short-circuit chain of `element_at` compares cut the banded dedup's
    * 10×-corpus leg from 45.2 s to 20.1 s, measured, with bit-identical
    * output — candidate SETS are unchanged (each colliding pair still
    * verifies exactly once), so the DuckDB mirrors need no edit. */
  private[graft] def firstMeetChainSql(bands: Int): String = {
    def chain(b: Int): String =
      if (b >= bands - 1) s"band = ${bands - 1}"
      else s"band = $b or (element_at(bvs_a, ${b + 1}) <> element_at(bvs_b, ${b + 1})" +
        s" and (${chain(b + 1)}))"
    chain(0)
  }

  /** MinHash + LSH near-dup, built Spark-first from codegen'd built-ins
    * (word shingles → rolling-hash codes → Carter-Wegman minhash
    * signature → band buckets → bucket join → exact-Jaccard
    * verification). The classic scale shape: signature width is fixed
    * (numHashes longs/doc), candidate generation is a shuffle on band
    * value, and only same-bucket pairs pay the exact verification.
    * (spark.ml's MinHashLSH approxSimilarityJoin was tried first and
    * degenerates into a single-task quadratic candidate scan.)
    *
    * The signature is computed with array transforms on the per-doc code
    * set — zero shuffles until the band join (the previous explode +
    * 16-way min aggregate paid a full shuffle of every shingle).
    *
    * Hash family: h_j(S) = min over codes c of (a_j·c + b_j) mod P
    * ([[graft.oracle.Parity.cwMix]]) over codepoint rolling-hash codes —
    * every step expressible in DuckDB SQL, so the driver hash-checks this
    * query end-to-end (no rows-only carve-out).
    *
    * @param numHashes signature width (bands × rowsPerBand)
    * @param bands     LSH bands; match probability ≈ 1-(1-j^r)^b
    */
  def minHashPairs(docs: DataFrame, numHashes: Int = LshNumHashes, bands: Int = LshBands,
                   threshold: Double = LshThreshold, gatherCap: Int = 4096): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val r = numHashes / bands
    // codes materialize ONCE in this projection (CollapseProject keeps
    // the expensive array out of the 16 signature transforms), and ride
    // through the band join so no subplan recomputes the shingling —
    // carrying the fixed-width code array through the shuffle is the
    // standard LSH trade (≈1 KB/doc·band) vs. re-deriving it per join.
    val sh = withShingleCodes(docs, "text")
    val sigCols = (0 until numHashes).map(j =>
      expr(s"array_min(transform(codes, c -> ${graft.oracle.Parity.cwMix(j, "c")}))").as(s"h$j"))
    val sig = sh.select(col("doc_id") +: col("codes") +: sigCols: _*)
    val bandCols = (0 until bands).map { b =>
      val bv = bandValueSql((b * r until (b + 1) * r).map(j => s"h$j"))
      struct(lit(b).as("band"), expr(bv).as("bv"))
    }
    val banded = sig.select(col("doc_id"), col("codes"),
        explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("codes"), col("bk.band").as("band"), col("bk.bv").as("bv"))
    // one-pass LSH: gather each bucket's members and emit its pairs in
    // place — the codes compute ONCE and ride a single shuffle (a self-
    // join instead re-derives the whole shingle pipeline on both sides).
    // Buckets are near-dup cliques plus hash noise, so per-bucket pair
    // generation is quadratic only within a clique — the candidate count
    // the verification pays anyway. (At corpus scale, run [[exact]] first
    // so byte-identical duplicates collapse before LSH; that bounds the
    // clique — and the collected bucket — sizes.) A pair colliding in
    // several bands dedupes in the final aggregate (jac is identical on
    // every hit).
    //
    // Degenerate-bucket guard: a pathological bucket (boilerplate corpus
    // where everything shares a signature) would collect into ONE row and
    // OOM its task, so oversized-bucket KEYS are found first by a light
    // count aggregate — map-side combined, shuffles (band, bv, count)
    // tuples only, and its output is bounded by the number of
    // pathological buckets, so it broadcasts at any corpus size. The
    // keys gate the gather with an anti join (memory-bounded by
    // construction) and feed the rare oversized buckets to a self-JOIN
    // path — identical pairs, quadratic work spread across the cluster
    // rather than one executor. In the common case the key set is EMPTY:
    // AQE folds the anti join into a pass-through and eliminates the
    // semi-join subtree before its stages ever run, so the guard's
    // steady-state cost is the one light aggregate. (The round-4 window
    // variant sorted the full code-bearing relation and re-planned it
    // under all three consumers — 3 scans and a 1.34× regression on the
    // idle bench; this shape restores the round-3 profile.) Results are
    // identical either way (the final per-pair aggregate merges both
    // paths) — the cap is a pure scale-safety valve, exercised by the
    // adversarial all-identical-docs ScaleStress leg.
    // materialize the banded relation ONCE (localCheckpoint — the
    // pageRank/Bpe discipline): three independent subtrees consume it
    // (key-set aggregate, gather, big-bucket path), and Spark would
    // otherwise re-plan the whole scan→shingle→signature prefix under
    // each (the round-4 window variant planned 3 corpus scans. On the
    // idle sf0.1 bench all shapes measure within noise — the r3→r4
    // dedup_minhash movement was ambient, see STATUS — but at corpus
    // scale one scan vs three is structural). Materialized volume =
    // the same (doc_id, codes, band, bv) rows the band shuffle already
    // carries. localCheckpoint is EAGER: constructing this DataFrame
    // runs the banding job (the Bpe.train / Graph.pageRank precedent —
    // iterative/multi-consumer ops in this repo materialize at
    // construction; Bench times construction inside the query window).
    val bandedM = banded.localCheckpoint()
    val bigKeys = bandedM.groupBy("band", "bv").agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > gatherCap)
      .select("band", "bv")

    val pairSql =
      """flatten(transform(members, (m, i) ->
        |  transform(slice(members, i + 2, size(members)), n ->
        |    struct(m.doc_id as doc_a, n.doc_id as doc_b,
        |      sorted_intersect_count(m.codes, n.codes) as inter,
        |      size(m.codes) + size(n.codes) as tot))))""".stripMargin.replace("\n", " ")
    val gathered = bandedM.join(broadcast(bigKeys), Seq("band", "bv"), "left_anti")
      .groupBy("band", "bv")
      .agg(expr("array_sort(collect_list(struct(doc_id, codes)))").as("members"))
      .select(explode(expr(pairSql)).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"),
        col("p.inter").cast("long").as("inter"), col("p.tot").cast("long").as("tot"))
    val big = bandedM.join(broadcast(bigKeys), Seq("band", "bv"), "left_semi")
    val bigA = big.select(col("band"), col("bv"),
      col("doc_id").as("doc_a"), col("codes").as("codes_a"))
    val bigB = big.select(col("band"), col("bv"),
      col("doc_id").as("doc_b"), col("codes").as("codes_b"))
    val joinedPairs = bigA.join(bigB, Seq("band", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("sorted_intersect_count(codes_a, codes_b)").cast("long").as("inter"),
        (size(col("codes_a")) + size(col("codes_b"))).cast("long").as("tot"))
    gathered.union(joinedPairs)
      .withColumn("jac", col("inter").cast("double") / (col("tot") - col("inter")).cast("double"))
      .filter(col("jac") >= threshold)
      .groupBy("doc_a", "doc_b")
      .agg(min("jac").as("jac"))
  }

  /** Benchmark decontamination: for every corpus document, the best-
    * matching eval-set document by word-3-gram containment
    * |D∩E| / |E| (the standard train/eval contamination direction).
    * The eval set (doc_id % evalEvery == 0 — a stand-in for a benchmark
    * table) is tiny by construction, so it BROADCASTS and the scan over
    * the corpus is a single shuffle-free pass plus one per-doc top-1
    * window; at 100 TB this is the only shape that works — the corpus
    * never shuffles. Exact integer ratios → full oracle hash check. */
  def decontaminate(docs: DataFrame, evalEvery: Int = 97,
                    maxEvalId: Long = Long.MaxValue): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val sh = withShingleCodes(docs, "text")
    // benchmark-contamination semantics at scale: a real eval set is a
    // FIXED benchmark, not a corpus fraction — `maxEvalId` caps the
    // eval membership so the eval side stays constant-sized as the
    // corpus grows (the every-97th default made the doc×eval mass grow
    // quadratically in the sf1 sweep). Everything outside the capped
    // eval set is corpus.
    val isEval = col("doc_id") % evalEvery === 0 && col("doc_id") < maxEvalId
    val evals = sh.filter(isEval)
      .select(col("doc_id").as("eval_id"), col("codes").as("eval_codes"))
    val corpus = sh.filter(!isEval)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("contam").desc, col("eval_id").asc)
    corpus.crossJoin(broadcast(evals))
      .withColumn("inter", expr("sorted_intersect_count(codes, eval_codes)"))
      .withColumn("contam",
        col("inter").cast("double") / size(col("eval_codes")).cast("double"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select("doc_id", "eval_id", "contam")
  }

  /** Position-robust decontamination — the winnowed-fingerprint sibling
    * of [[decontaminate]]: instead of whole-doc shingle-set overlap, the
    * corpus and the eval set are reduced to MOSS winnowed fingerprints
    * ([[TextOps.winnow]]) and a corpus doc is flagged by its best
    * eval-containment score. Catches the case the shingle-set ratio
    * dilutes: a long corpus document QUOTING an eval answer verbatim
    * (the quote's winnow fps all match an eval doc even though the
    * corpus doc's own fingerprint universe is much larger), and is
    * robust to the single-character edits that shift every fixed-stride
    * span hash.
    *
    * Scale shape: fps collapse to distinct (doc, fp) map-side; the eval
    * side is eval-fraction-sized, and the match is a fp-keyed equi-join
    * (never a cross join); per-doc argmax is one window over the match
    * relation. */
  def decontaminateWinnow(docs: DataFrame, evalEvery: Int = 97,
                          minShared: Int = 2,
                          maxEvalId: Long = Long.MaxValue): DataFrame = {
    val fps = TextOps.winnow(docs).select("doc_id", "fp").distinct()
    // maxEvalId pins the eval set to a fixed membership (benchmark
    // semantics — see [[decontaminate]]): with a constant-sized eval
    // side every corpus fp joins to at most |eval| rows, so the match
    // relation is LINEAR in the corpus instead of growing with the
    // corpus-proportional every-97th eval carve.
    val isEval = col("doc_id") % evalEvery === 0 && col("doc_id") < maxEvalId
    val evalFps = fps.filter(isEval)
      .select(col("doc_id").as("eval_id"), col("fp"))
    val evalSz = evalFps.groupBy("eval_id").agg(count(lit(1)).as("n_eval_fp"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("contain").desc, col("eval_id").asc)
    fps.filter(!isEval)
      .join(evalFps, "fp")
      .groupBy("doc_id", "eval_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(evalSz, "eval_id")
      .withColumn("contain",
        col("n_shared").cast("double") / col("n_eval_fp").cast("double"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select("doc_id", "eval_id", "n_shared", "contain")
  }

  /** DuckDB mirror of [[decontaminateWinnow]]. */
  def decontaminateWinnowSql(evalEvery: Int = 97, minShared: Int = 2,
                             table: String = "documents",
                             maxEvalId: Long = Long.MaxValue): String =
    s"""with wn as materialized (${TextOps.winnowSql(table)}),
       |fps as materialized (select distinct doc_id, fp from wn),
       |ev as materialized (select doc_id as eval_id, fp from fps
       |  where doc_id % $evalEvery = 0 and doc_id < $maxEvalId),
       |sz as (select eval_id, cast(count(*) as bigint) as n_eval_fp
       | from ev group by 1),
       |sh as (select doc_id, eval_id, cast(count(*) as bigint) as n_shared
       | from (select doc_id, fp from fps
       |   where not (doc_id % $evalEvery = 0 and doc_id < $maxEvalId)) co
       |  join ev using (fp)
       | group by 1, 2 having count(*) >= $minShared)
       |select doc_id, eval_id, n_shared, contain from (
       | select sh.doc_id, sh.eval_id, n_shared,
       |  cast(n_shared as double) / cast(n_eval_fp as double) as contain,
       |  row_number() over (partition by sh.doc_id
       |    order by cast(n_shared as double) / cast(n_eval_fp as double) desc,
       |     sh.eval_id asc) as rk
       | from sh join sz using (eval_id))
       |where rk = 1""".stripMargin.replace("\n", " ")

  /** Near-dup CLUSTER resolution: collapse a pair relation into
    * connected components by synchronized min-label propagation —
    * `iters` rounds of "my label = min(mine, my neighbors')". The output
    * is a deterministic function of (pairs, iters) whether or not the
    * propagation has converged, so the DuckDB oracle (the identical
    * iteration unrolled as CTEs) matches bit-for-bit by construction;
    * clusters with diameter ≤ iters are fully resolved, and near-dup
    * clusters are band-bucketed cliques-plus-chains where 8 hops is
    * generous. Each round is one join + one min-aggregate on the
    * (tiny relative to the corpus) pair relation; lineage is cut with a
    * localCheckpoint per round — on a cluster, swap for
    * `checkpoint()` against a reliable dir, same plan otherwise. */
  def clusterLabels(pairs: DataFrame, iters: Int = 8): DataFrame = {
    val p = pairs.select("doc_a", "doc_b").localCheckpoint(true)
    val edges = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    var labels = p.select(col("doc_a").as("id"))
      .union(p.select(col("doc_b").as("id"))).distinct()
      .withColumn("lbl", col("id"))
    (1 to iters).foreach { _ =>
      val prop = edges.join(labels, edges("dst") === labels("id"))
        .select(col("src").as("id"), col("lbl"))
      labels = labels.select("id", "lbl").union(prop)
        .groupBy("id").agg(min("lbl").as("lbl"))
        .localCheckpoint(true)
    }
    labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
  }

  /** DuckDB CTE chain mirroring [[clusterLabels]] over an arbitrary
    * `pairsSql` (doc_a, doc_b) subquery: emits CTEs `pairs`, `edges`,
    * `l0`..`l{iters}`; the caller selects from `l{iters}` (columns
    * id, lbl). Splice into a larger WITH — the reuse hook the
    * golden-record oracle needed (QueriesLlm's dedup_groups oracle
    * delegates here). */
  def labelPropCtes(pairsSql: String, iters: Int = 8): String = {
    val lp = (1 to iters).map { i =>
      val prev = s"l${i - 1}"
      s"l$i as materialized (select id, min(lbl) as lbl from (select id, lbl from $prev " +
        s"union all select e.src as id, p.lbl as lbl from edges e join $prev p on e.dst = p.id) " +
        "group by id)"
    }.mkString(", ")
    s"""pairs as materialized ($pairsSql),
       |edges as materialized (select doc_a as src, doc_b as dst from pairs
       |  union all select doc_b as src, doc_a as dst from pairs),
       |l0 as materialized (select id, id as lbl from
       |  (select doc_a as id from pairs union select doc_b as id from pairs)),
       |$lp""".stripMargin.replace("\n", " ")
  }

  /** LSH quality audit: banding recall/precision against exact-Jaccard
    * ground truth on a BOUNDED deterministic sample — the evaluation
    * harness a production dedup pipeline runs before trusting its
    * band/row parameters (the 1-(1-j^r)^b curve predicts recall; this
    * measures it on the actual corpus). Ground truth needs all-pairs
    * exact Jaccard, which exists at any scale only on a sample: the
    * `sampleK` hash-smallest doc ids (two-phase top-k — never a global
    * sort), so the sampled relation is CONSTANT-size and the all-pairs
    * comparison is a broadcast nested-loop over ≤ sampleK² bounded rows.
    * Candidates are the band collisions (pre-verification) on the same
    * sample — precision here measures how much verification work the
    * banding wastes, recall what it can never recover. One summary row:
    * (n_sample, n_truth, n_cand, n_hit, recall, prec); empty-denominator
    * arms are vacuously 1, spelled identically in both engines. */
  def lshEval(docs: DataFrame, sampleK: Int = 192, numHashes: Int = LshNumHashes,
              bands: Int = LshBands, threshold: Double = LshThreshold): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val r = numHashes / bands
    val hk = graft.oracle.Parity.cwMix(5, "rolling_hash(cast(doc_id as string))")
    val withH = docs.selectExpr("doc_id", "text", s"$hk as hk")
    val localTop = withH.withColumn("pid", spark_partition_id())
      .withColumn("lrn", row_number().over(
        Window.partitionBy("pid").orderBy(col("hk").asc, col("doc_id").asc)))
      .filter(col("lrn") <= sampleK).drop("pid", "lrn")
    val sample = localTop.withColumn("rn", row_number().over(
        Window.orderBy(col("hk").asc, col("doc_id").asc)))
      .filter(col("rn") <= sampleK).select("doc_id", "text")
    val sh = withShingleCodes(sample, "text").localCheckpoint(true)
    val truth = sh.select(col("doc_id").as("doc_a"), col("codes").as("ca"))
      .join(broadcast(sh.select(col("doc_id").as("doc_b"), col("codes").as("cb"))),
        col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("cast(sorted_intersect_count(ca, cb) as bigint)").as("inter"),
        expr("cast(size(ca) + size(cb) as bigint)").as("tot"))
      .filter(expr(s"cast(inter as double) / cast(tot - inter as double) >= ${graft.oracle.Parity.lit(threshold)}"))
      .select("doc_a", "doc_b")
    val sigCols = (0 until numHashes).map(j =>
      expr(s"array_min(transform(codes, c -> ${graft.oracle.Parity.cwMix(j, "c")}))").as(s"h$j"))
    val sig = sh.select(col("doc_id") +: sigCols: _*)
    val bandCols = (0 until bands).map { b =>
      val bv = bandValueSql((b * r until (b + 1) * r).map(j => s"h$j"))
      struct(lit(b).as("band"), expr(bv).as("bv"))
    }
    val banded = sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bv").as("bv"))
    val cand = banded.select(col("doc_id").as("doc_a"), col("band"), col("bv"))
      .join(broadcast(banded.select(col("doc_id").as("doc_b"), col("band"), col("bv"))),
        Seq("band", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    // both sides are sample-bounded; the hint keeps the static plan
    // broadcast (AQE would get there at runtime anyway)
    val hit = truth.join(broadcast(cand), Seq("doc_a", "doc_b"))
    // each arm is a single-row aggregate: hint them broadcast so the
    // static plan is nested-loop-over-1-row, not a cartesian exchange
    val counts = sample.agg(count(lit(1)).as("n_sample"))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
      .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand"))))
      .crossJoin(broadcast(hit.agg(count(lit(1)).as("n_hit"))))
    counts.selectExpr("n_sample", "n_truth", "n_cand", "n_hit",
      "case when n_truth = 0 then 1e0 else cast(n_hit as double) / cast(n_truth as double) end as recall",
      "case when n_cand = 0 then 1e0 else cast(n_hit as double) / cast(n_cand as double) end as prec")
  }

  /** DuckDB mirror of [[lshEval]] — same sample, shingles, signature,
    * bands, and metric arms (the [[minHashPairs]] oracle spellings over
    * the sampled relation). */
  def lshEvalSql(sampleK: Int = 192, numHashes: Int = LshNumHashes, bands: Int = LshBands,
                 threshold: Double = LshThreshold, table: String = "documents"): String = {
    val r = numHashes / bands
    val rh = graft.oracle.Parity.rollingHashDuck("s")
    val hk = graft.oracle.Parity.cwMix(5,
      graft.oracle.Parity.rollingHashDuck("cast(doc_id as varchar)"))
    val shingle = "list_distinct(list_transform(generate_series(1, greatest(len(words) - 2, 1)), " +
      "i -> array_to_string(list_slice(words, i, i + 2), ' ')))"
    val sigCols = (0 until numHashes).map(j =>
      s"list_min(list_transform(codes, c -> ${graft.oracle.Parity.cwMix(j, "c")})) as h$j")
      .mkString(", ")
    val bandRows = (0 until bands).map(b =>
      s"select doc_id, $b as band, " +
        s"${bandValueSql((b * r until (b + 1) * r).map(j => s"h$j"))} as bv from sig")
      .mkString(" union all ")
    s"""with sample as materialized (select doc_id, text from (
       |  select doc_id, text, row_number() over (order by $hk asc, doc_id asc) as rn
       |  from $table) where rn <= $sampleK),
       |sh as materialized (select doc_id,
       |  list_sort(list_distinct(list_transform($shingle, s -> $rh))) as codes
       |  from (select doc_id, string_split(trim(text), ' ') as words from sample)),
       |truth as materialized (select doc_a, doc_b from (
       |  select a.doc_id as doc_a, b.doc_id as doc_b,
       |   cast(len(list_intersect(a.codes, b.codes)) as bigint) as inter,
       |   cast(len(a.codes) as bigint) + cast(len(b.codes) as bigint) as tot
       |  from sh a join sh b on a.doc_id < b.doc_id)
       | where cast(inter as double) / cast(tot - inter as double) >= ${graft.oracle.Parity.lit(threshold)}),
       |sig as (select doc_id, $sigCols from sh),
       |banded as ($bandRows),
       |cand as materialized (select distinct a.doc_id as doc_a, b.doc_id as doc_b
       |  from banded a join banded b on a.band = b.band and a.bv = b.bv and a.doc_id < b.doc_id),
       |hit as (select doc_a, doc_b from truth join cand using (doc_a, doc_b)),
       |c as (select (select cast(count(*) as bigint) from sample) as n_sample,
       |  (select cast(count(*) as bigint) from truth) as n_truth,
       |  (select cast(count(*) as bigint) from cand) as n_cand,
       |  (select cast(count(*) as bigint) from hit) as n_hit)
       |select n_sample, n_truth, n_cand, n_hit,
       | case when n_truth = 0 then 1e0 else cast(n_hit as double) / cast(n_truth as double) end as recall,
       | case when n_cand = 0 then 1e0 else cast(n_hit as double) / cast(n_cand as double) end as prec
       |from c""".stripMargin.replace("\n", " ")
  }

  /** CONVERGED connected components over a pair relation via the
    * alternating large-star / small-star algorithm (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014 — public
    * algorithm, reimplemented on DataFrames). Where [[clusterLabels]]
    * contracts one hop per round (its fixed-`iters` output resolves only
    * clusters of diameter ≤ iters), each large/small-star round HALVES
    * path lengths, so the edge set provably converges to stars rooted at
    * each component's minimum id in O(log² n) rounds regardless of
    * diameter — the scale-correct resolution for pathological near-dup
    * chains (template families, crawl mirrors) whose diameter grows with
    * the corpus. Every round is two degree-keyed aggregate+join passes
    * over the pair-sized relation (never the corpus), and convergence is
    * detected exactly INSIDE the round's own materialization job: the
    * new edge set full-outer-joins the previous one and two
    * accumulators count edges seen on only one side while the
    * checkpoint job streams past them — one Spark job per round, not
    * three (the r5 count+except spelling paid two extra scheduler
    * round-trips per iteration, the query's dominant fixed cost at
    * O(log² n) rounds). Task retries can only inflate the accumulators,
    * which at worst runs one extra (idempotent) round — a converged
    * round has zero one-sided rows for a retry to double-count, so
    * premature convergence is impossible. Output schema matches [[clusterLabels]]:
    * (doc_id, cluster_id = component min). The DuckDB oracle is a
    * recursive-CTE reachability fixpoint — a different algorithm arriving
    * at the same canonical labeling, which is the strongest cross-engine
    * check in the dedup family (nothing about the iteration schedule can
    * leak into the result). */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 64): DataFrame = {
    val p = pairs.select("doc_a", "doc_b").localCheckpoint(true)
    val nodes = p.select(col("doc_a").as("id"))
      .union(p.select(col("doc_b").as("id"))).distinct()
    var edges = p
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint(true)
    val sc = pairs.sparkSession.sparkContext
    var done = edges.isEmpty
    var round = 0
    while (!done && round < maxRounds) {
      // LARGE-STAR: on the symmetric adjacency, every strictly-larger
      // neighbor of a center u links to m = min({u} ∪ Γ(u)).
      val sym = edges.select(col("u"), col("v"))
        .union(edges.select(col("v").as("u"), col("u").as("v")))
      val lmin = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = sym.join(lmin, "u")
        .filter(col("v") > col("u"))
        .select(greatest(col("v"), col("m")).as("u"),
          least(col("v"), col("m")).as("v"))
        .filter(col("u") =!= col("v")).distinct()
      // SMALL-STAR: orient each edge from its larger endpoint; every
      // neighbor of a center u (all ≤ u) and u itself link to the
      // minimum neighbor m.
      val withM = ls.join(ls.groupBy("u").agg(min("v").as("m")), "u")
      val ss = withM.select(col("v").as("a"), col("m").as("b"))
        .union(withM.select(col("u").as("a"), col("m").as("b")))
        .filter(col("a") =!= col("b"))
        .select(col("a").as("u"), col("b").as("v")).distinct()
      // ONE job per round: the eager localCheckpoint below materializes
      // next-round edges THROUGH the full outer join against the current
      // set, and the accumulators pick up the symmetric difference as the
      // rows stream past — set equality (both relations are distinct) ⇔
      // added = removed = 0, with no separate count/except actions.
      val added = sc.longAccumulator("cc_added")
      val removed = sc.longAccumulator("cc_removed")
      val joined = ss.select(col("u"), col("v"), lit(1).as("in_new"))
        .join(edges.select(col("u"), col("v"), lit(1).as("in_old")),
          Seq("u", "v"), "full")
      val counted = joined.mapPartitions { it =>
        it.map { r =>
          if (r.isNullAt(2)) removed.add(1L)
          else if (r.isNullAt(3)) added.add(1L)
          r
        }
      }(org.apache.spark.sql.Encoders.row(joined.schema))
      edges = counted.filter(col("in_new").isNotNull)
        .select(col("u"), col("v")).localCheckpoint(true)
      done = added.value == 0L && removed.value == 0L
      round += 1
    }
    // the CONVERGED contract is the whole point — an unconverged edge set
    // would label nodes with intermediate ids and silently corrupt
    // downstream keeper decisions, so fail loud instead
    require(done, s"connectedComponents did not converge within $maxRounds " +
      "rounds — raise maxRounds (O(log² n) suffices for any real pair relation)")
    nodes.join(edges.select(col("u").as("id"), col("v").as("root")), Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("root"), col("id")).as("cluster_id"))
  }

  /** Quality-aware canonical selection: for every near-dup cluster
    * ([[minHashPairs]] → [[connectedComponents]] — CONVERGED components,
    * so a chain longer than any fixed hop budget still collapses to one
    * canonical), keep the HIGHEST-QUALITY
    * member ([[TextOps.qualityExpr]]), not an arbitrary one — the policy
    * real curation pipelines want (dropping the clean copy because a
    * boilerplate-ridden near-dup had a smaller id loses data quality).
    * Ties break on min doc_id. Output: every clustered doc with its
    * cluster, quality and an `is_canonical` flag (downstream keeps
    * canonical rows plus all unclustered docs).
    *
    * Scale: quality is a per-doc map-side projection; the join and the
    * per-cluster window run on the pair-relation-sized label table, not
    * the corpus — same physics as [[clusterLabels]]. */
  def canonical(docs: DataFrame): DataFrame = {
    val labels = connectedComponents(minHashPairs(docs))
    val q = TextOps.stats(docs)
      .withColumn("quality", expr(TextOps.qualityExpr))
      .select("doc_id", "quality")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(col("quality").desc, col("doc_id").asc)
    labels.join(q, "doc_id")
      .withColumn("is_canonical", row_number().over(w) === 1)
      .select("cluster_id", "doc_id", "quality", "is_canonical")
  }

  /** Inverted-index decontamination — same answers as [[decontaminate]],
    * different physics: when the eval side is a large held-out corpus
    * (not a benchmark-sized table) it cannot broadcast, so both sides
    * explode to (doc, shingle-code) postings and meet in a hash join ON
    * THE CODE, then containment re-aggregates per (corpus, eval) pair.
    * Work is proportional to actual shingle collisions instead of
    * |corpus|×|eval| comparisons — the classic scale shape for
    * contamination sweeps against big eval sets.
    *
    * Zero-overlap corpus docs never reach the join, so they are patched
    * back with the same (min eval_id, contam 0) row the broadcast
    * variant's top-1 window produces — the two variants stay
    * bit-identical and share one oracle.
    *
    * Skew at 100 TB: a boilerplate shingle present in most corpus docs
    * AND some eval doc makes one join key quadratic-hot. The join is a
    * plain equi-join, so AQE's skew-join split handles it at runtime
    * (partitions split by size, the eval side duplicated per split);
    * the downstream count re-aggregates correctly because splits of one
    * (doc, eval) pair land in the same hash group. For corpora where
    * even that is too hot, prune codes above a document-frequency cap
    * FIRST on both sides — containment against a capped shingle set is
    * a different (documented) measure, so it is a caller decision, not
    * a silent default here. */
  def decontaminateJoin(docs: DataFrame, evalEvery: Int = 97,
                        maxEvalId: Long = Long.MaxValue): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val sh = withShingleCodes(docs, "text")
    // maxEvalId: fixed-benchmark eval membership (see [[decontaminate]])
    val isEval = col("doc_id") % evalEvery === 0 && col("doc_id") < maxEvalId
    val evals = sh.filter(isEval)
      .select(col("doc_id").as("eval_id"), col("codes").as("eval_codes"))
    val corpus = sh.filter(!isEval)
    val corpusIdx = corpus.select(col("doc_id"), explode(col("codes")).as("code"))
    val evalIdx = evals.select(col("eval_id"),
      size(col("eval_codes")).cast("long").as("eval_n"),
      explode(col("eval_codes")).as("code"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("contam").desc, col("eval_id").asc)
    val best = corpusIdx.join(evalIdx, "code")
      .groupBy("doc_id", "eval_id", "eval_n").agg(count(lit(1)).as("inter"))
      .withColumn("contam", col("inter").cast("double") / col("eval_n").cast("double"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select("doc_id", "eval_id", "contam")
    // docs with no shingle in common with ANY eval doc: the broadcast
    // variant ranks all-zero contam rows and keeps the min eval_id
    val minEval = evals.agg(min("eval_id").as("eval_id"))
      .withColumn("contam", lit(0.0))
    val missed = corpus.select("doc_id")
      .join(best.select("doc_id"), Seq("doc_id"), "left_anti")
      .crossJoin(broadcast(minEval))
    best.union(missed.select("doc_id", "eval_id", "contam"))
  }

  /** Shared Carter-Wegman bloom-position text: hash j of a shingle code,
    * modulo the filter width (same text both engines, like the CMS grid). */
  private[operators] def bloomPosCase(kHash: Int, mBits: Int): String = {
    val arms = (0 until kHash)
      .map(j => s"when $j then (${graft.oracle.Parity.cwMix(40 + j, "code")} % $mBits)")
      .mkString(" ")
    s"(case j $arms end)"
  }

  /** Bloom-filter decontamination SCREEN — the third point in the
    * eval-side size tradeoff: [[decontaminate]] broadcasts the full eval
    * shingle sets (benchmark-sized evals), [[decontaminateJoin]] shuffles
    * postings (huge evals, exact answers), and this one compresses the
    * WHOLE eval universe to its set of set bit positions — at most
    * `mBits` rows, a constant-size broadcast NO MATTER how large the eval
    * corpus grows. Each corpus shingle probes its `kHash` positions and
    * counts as a (possible) hit iff ALL are set: one-sided error — no
    * false negatives, only deterministic false positives — so the
    * per-document bloom-positive fraction is a certified UPPER bound on
    * true containment, the classic cheap first pass that gates the exact
    * sweep. Built on the Carter-Wegman family, so the filter (false
    * positives and all) is deterministic and the estimate oracle-checks. */
  def decontaminateBloom(docs: DataFrame, evalEvery: Int = 97,
                         mBits: Int = 65536, kHash: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val sh = withShingleCodes(docs, "text")
    val bloom = sh.filter(col("doc_id") % evalEvery === 0)
      .select(explode(col("codes")).as("code"))
      .select(col("code"), explode(expr(s"sequence(0, ${kHash - 1})")).as("j"))
      .select(expr(bloomPosCase(kHash, mBits)).as("pos"))
      .distinct()
      .withColumn("set_bit", lit(1))
    val corpus = sh.filter(col("doc_id") % evalEvery =!= 0)
      .select(col("doc_id"), size(col("codes")).cast("long").as("n_codes"),
        explode(col("codes")).as("code"))
    // probe the kHash positions as kHash BROADCAST joins instead of a
    // j-explode: no posting-row multiplication, no per-code shuffle — the
    // corpus side's only exchange is the final map-side-combined per-doc
    // aggregate. Spark replans the (eval-scan → distinct) build subtree
    // under each probe join, so the bloom builds 3×; that side is small
    // by definition (a benchmark eval suite), and a genuinely huge eval
    // corpus should materialize the position set to a table once instead.
    val withPos = corpus.select(
      Seq(col("doc_id"), col("n_codes"), col("code")) ++
        (0 until kHash).map(j =>
          expr(s"(${graft.oracle.Parity.cwMix(40 + j, "code")} % $mBits)")
            .as(s"p$j")): _*)
    val probed = (0 until kHash).foldLeft(withPos) { (df, j) =>
      df.join(broadcast(bloom.select(col("pos").as(s"bp$j"))),
        col(s"p$j") === col(s"bp$j"), "left")
    }
    probed
      .withColumn("all_set",
        (0 until kHash).map(j => col(s"bp$j").isNotNull)
          .reduce(_ && _).cast("long"))
      .groupBy("doc_id", "n_codes")
      .agg(sum("all_set").as("n_hits"))
      .select(col("doc_id"), col("n_codes"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_codes").cast("double")).as("hit_frac"))
  }

  /** Bloom-screen CTE chain (no leading WITH, no final select), ending
    * in `contam(doc_id, n_codes, n_hits, hit_frac)` — the ONE copy of
    * the parity-critical hash text, shared by [[decontaminateBloomSql]]
    * and the composed-pipeline oracle ([[Curation.pipelineSql]]). */
  private[operators] def bloomScreenCtes(evalEvery: Int = 97, mBits: Int = 65536,
                                         kHash: Int = 3, table: String = "documents"): String = {
    val rh = graft.oracle.Parity.rollingHashDuck("s")
    val shingle = "list_transform(generate_series(1, greatest(len(words) - 2, 1)), " +
      "i -> array_to_string(list_slice(words, i, i + 2), ' '))"
    val pc = bloomPosCase(kHash, mBits)
    s"""bdoc as (select doc_id, string_split(trim(text), ' ') as words from $table),
       |bsh as (select doc_id, list_sort(list_distinct(list_transform($shingle, s -> $rh))) as codes from bdoc),
       |ev as (select unnest(codes) as code from bsh where doc_id % $evalEvery = 0),
       |bloom as (select distinct $pc as pos from ev, generate_series(0, ${kHash - 1}) t(j)),
       |corp as (select doc_id, cast(len(codes) as bigint) as n_codes,
       |  unnest(codes) as code from bsh where doc_id % $evalEvery <> 0),
       |pr as (select doc_id, n_codes, code, $pc as pos
       |  from corp, generate_series(0, ${kHash - 1}) t(j)),
       |hh as (select doc_id, n_codes, code,
       |  min(case when b.pos is not null then 1 else 0 end) as all_set
       | from pr left join bloom b on pr.pos = b.pos
       | group by doc_id, n_codes, code),
       |contam as (select doc_id, n_codes, cast(sum(all_set) as bigint) as n_hits,
       | cast(sum(all_set) as double) / cast(n_codes as double) as hit_frac
       |from hh group by doc_id, n_codes)""".stripMargin
  }

  /** DuckDB mirror of [[decontaminateBloom]]. */
  def decontaminateBloomSql(evalEvery: Int = 97, mBits: Int = 65536,
                            kHash: Int = 3, table: String = "documents"): String =
    (s"with ${bloomScreenCtes(evalEvery, mBits, kHash, table)} " +
      "select doc_id, n_codes, n_hits, hit_frac from contam").replace("\n", " ")

  /** SimHash 64-bit fingerprint: sign-sum over per-token hash bits.
    * Built from explode + bitwise built-ins: for each of 64 bit lanes,
    * sum ±1 per token and take the sign bit. Near-dup candidates =
    * fingerprints within `maxHamming` (verified by popcount on xor).
    *
    * Lane bits come from Carter-Wegman mixes of the token's codepoint
    * rolling hash ([[graft.oracle.Parity.cwBit]]) — pairwise-independent
    * per lane and expressible in DuckDB, so the pair query hash-checks
    * (DuckDB assembles the same bits into four 16-bit blocks instead of
    * one 64-bit word — its BIGINT shift throws on 1<<63). */
  def simHash(docs: DataFrame, textCol: String = "text"): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val toks = docs.select(col("doc_id"),
      explode(expr(s"split(trim($textCol), ' ')")).as("t"))
      .withColumn("h", expr("rolling_hash(t)"))
    val bitCols = (0 until 64).map(b =>
      sum(when(expr(graft.oracle.Parity.cwBit(b, "h")) === 1, 1L).otherwise(-1L)).as(s"b$b"))
    val bitSums = toks.groupBy("doc_id").agg(bitCols.head, bitCols.tail: _*)
    val fp = (0 until 64).map(b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce((x, y) => x.bitwiseOR(y))
    bitSums.select(col("doc_id"), fp.as("simhash"))
  }

  /** SimHash near-dup pairs within a Hamming radius, candidate-pruned by
    * 16-bit block keys (pigeonhole: <=3 differing bits → some 16-bit
    * block equal). */
  def simHashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val fp = simHash(docs)
    val blocks = (0 until 4).map(b =>
      struct(lit(b).as("blk"), expr(s"(simhash >> ${b * 16}) & 65535").as("bv")))
    val keyed = fp.select(col("doc_id"), col("simhash"),
        explode(array(blocks: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.blk").as("blk"), col("bk.bv").as("bv"))
    keyed.as("a").join(keyed.as("b"), Seq("blk", "bv"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("fp_a"), col("b.simhash").as("fp_b"))
      .distinct()
      .withColumn("hamming", expr("bit_count(fp_a ^ fp_b)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Corpus-level LINE deduplication (the RefinedWeb/CCNet pass): split
    * every document into fixed-token "lines", count each line's
    * multiplicity across the WHOLE corpus, and report per document how
    * many of its lines are corpus-duplicated plus the fingerprint of the
    * text that survives removing them (first occurrences are removed too,
    * matching the usual conservative variant).
    *
    * Scale design: only (line-hash, count) tuples aggregate — map-side
    * combine keeps the shuffle at distinct-line volume — and the join back
    * carries ONLY duplicated hashes (cnt > 1), which after exact-dedup is
    * a small fraction of the corpus, so AQE can broadcast it; document
    * text itself shuffles once, keyed by doc_id, for the reassembly. */
  /** Fixed-token "lines" of every document: (idCol, line_idx, line, fp).
    * The one line-windowing rule shared by [[lineDedup]] and
    * [[withinDocDedup]] (and mirrored once in [[linesCteSql]]). */
  private[operators] def tokenLines(docs: DataFrame, lineTokens: Int,
                         textCol: String = "text", idCol: String = "doc_id",
                         carry: Seq[String] = Nil): DataFrame = {
    val c = carry.map(col)
    docs
      .select(col(idCol) +: c :+ expr(s"split(trim($textCol), ' ')").as("words"): _*)
      .select(col(idCol) +: c :+ expr(
        s"explode(transform(sequence(0, cast((size(words) + ${lineTokens - 1}) div $lineTokens as int) - 1), " +
          s"i -> struct(cast(i as bigint) as line_idx, " +
          s"concat_ws(' ', slice(words, i * $lineTokens + 1, $lineTokens)) as line)))").as("l"): _*)
      .select(col(idCol) +: c :+ col("l.line_idx").as("line_idx") :+ col("l.line").as("line"): _*)
      .withColumn("fp", md5(col("line")))
  }

  /** `d`/`l` CTE pair producing the identical lines in DuckDB. `carry`
    * names extra pass-through columns (", lang") — the SQL twin of
    * [[tokenLines]]'s carry parameter. */
  private[operators] def linesCteSql(lineTokens: Int, table: String,
                                     carry: String = ""): String =
    s"""d as (select doc_id$carry, string_split(trim(text), ' ') as words from $table),
       |l as (select doc_id$carry, i as line_idx,
       |  array_to_string(list_slice(words, i * $lineTokens + 1, i * $lineTokens + $lineTokens), ' ') as line
       | from (select doc_id$carry, words,
       |   unnest(generate_series(0, (len(words) + ${lineTokens - 1}) // $lineTokens - 1)) as i from d))"""
      .stripMargin

  def lineDedup(docs: DataFrame, lineTokens: Int = 10,
                textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val lines = tokenLines(docs, lineTokens, textCol, idCol)
    val dupFps = lines.groupBy("fp").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
    lines.join(dupFps, Seq("fp"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("cnt").isNotNull, 1L).otherwise(0L)).as("n_dup_lines"),
        // kept text = the cnt-is-null lines back in order; all-dup docs
        // collapse to md5('') in both engines (empty concat vs coalesce'd
        // empty string_agg)
        expr("md5(concat_ws(' ', transform(array_sort(" +
          "collect_list(case when cnt is null then struct(line_idx, line) end)), x -> x.line)))")
          .as("kept_fp"))
  }

  /** INTRA-document repeated-line removal — the boilerplate-stripping
    * sibling of [[lineDedup]]: within each document, a line that repeats
    * an earlier line of the SAME document is removed (first occurrence
    * kept — the classic "strip repeated nav/boilerplate blocks" pass;
    * TextOps.repetition MEASURES this signal, this op applies it). Lines
    * are the same fixed-token windows as [[lineDedup]].
    *
    * Scale design: one exchange total. The explicit `repartition(doc_id)`
    * hash-partitions on doc_id, which satisfies the clustered
    * distribution of BOTH the (doc_id, fp) first-occurrence window and
    * the per-doc reassembly aggregate, so neither inserts another
    * shuffle (PlanSpec asserts the single exchange). All work is
    * per-document — embarrassingly parallel at any corpus size. */
  def withinDocDedup(docs: DataFrame, lineTokens: Int = 10): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id", "fp").orderBy("line_idx")
    tokenLines(docs.repartition(col("doc_id")), lineTokens)
      .withColumn("rn", row_number().over(w))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_removed"),
        expr("md5(concat_ws(' ', transform(array_sort(" +
          "collect_list(case when rn = 1 then struct(line_idx, line) end)), x -> x.line)))")
          .as("kept_fp"))
  }

  /** SOURCE-conditional boilerplate stripping — the per-domain template
    * pass (CCNet/RefinedWeb strip nav/footer lines per site, not per
    * corpus): a line is boilerplate when it appears in at least
    * `num/den` of its OWN source's documents (and at least `minDocs` of
    * them — the rate alone is meaningless for 2-doc sources). Both are
    * calibration knobs: real site templates sit far above any sane
    * threshold; the defaults (5%, >=2 docs) are tuned to have signal on
    * the sparse synthetic corpus while staying a plausible site cut. Differs
    * from [[lineDedup]] (corpus-global multiplicity) and
    * [[withinDocDedup]] (intra-doc repeats): a site's shared header is
    * invisible to both when each doc contains it once and the corpus
    * count stays below the global threshold's radar at 100 TB — but
    * dominates its domain's doc-frequency, which is this op's signal.
    *
    * Scale design: per-doc line presence collapses map-side to the
    * distinct (source, fp, doc) relation, then to (source, fp)
    * doc-frequencies; per-source doc totals are a source-sized
    * broadcastable aggregate; the boilerplate fp set (rate-thresholded)
    * is the small join-back side — the corpus itself shuffles once, by
    * doc_id, for the reassembly. */
  def sourceBoilerplate(docs: DataFrame, lineTokens: Int = 10,
                        num: Int = 1, den: Int = 20, minDocs: Int = 2): DataFrame = {
    val lines = tokenLines(docs.repartition(col("doc_id")), lineTokens,
      carry = Seq("source"))
    val srcDocs = docs.groupBy("source").agg(count(lit(1)).as("nd"))
    val presence = lines.select("source", "fp", "doc_id").distinct()
      .groupBy("source", "fp").agg(count(lit(1)).as("dfq"))
    val boiler = presence.join(srcDocs, "source")
      .filter(col("dfq") >= minDocs && col("dfq") * den >= col("nd") * num)
      .select("source", "fp").withColumn("is_b", lit(1L))
    lines.join(boiler, Seq("source", "fp"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("is_b").isNotNull, 1L).otherwise(0L)).as("n_boiler"),
        expr("md5(concat_ws(' ', transform(array_sort(" +
          "collect_list(case when is_b is null then struct(line_idx, line) end)), x -> x.line)))")
          .as("kept_fp"))
  }

  /** DuckDB mirror of [[sourceBoilerplate]]. */
  def sourceBoilerplateSql(lineTokens: Int = 10, num: Int = 1, den: Int = 20,
                           minDocs: Int = 2, table: String = "documents"): String =
    s"""with ${linesCteSql(lineTokens, table, ", source")},
       |lf as (select source, doc_id, line_idx, line, md5(line) as fp from l),
       |sd as (select source, cast(count(*) as bigint) as nd from $table group by 1),
       |pres as (select source, fp, cast(count(*) as bigint) as dfq
       | from (select distinct source, fp, doc_id from lf) group by 1, 2),
       |boiler as (select source, fp, 1 as is_b from pres join sd using (source)
       | where dfq >= $minDocs and dfq * $den >= nd * $num)
       |select doc_id, cast(count(*) as bigint) as n_lines,
       | cast(sum(case when is_b is not null then 1 else 0 end) as bigint) as n_boiler,
       | md5(coalesce(string_agg(case when is_b is null then line end, ' '
       |   order by line_idx), '')) as kept_fp
       |from lf left join boiler using (source, fp)
       |group by doc_id""".stripMargin.replace("\n", " ")

  /** DuckDB mirror of [[withinDocDedup]]. */
  def withinDocDedupSql(lineTokens: Int = 10, table: String = "documents"): String =
    s"""with ${linesCteSql(lineTokens, table)},
       |r as (select doc_id, line_idx, line,
       |  row_number() over (partition by doc_id, md5(line) order by line_idx) as rn from l)
       |select doc_id, cast(count(*) as bigint) as n_lines,
       | cast(sum(case when rn > 1 then 1 else 0 end) as bigint) as n_removed,
       | md5(coalesce(string_agg(case when rn = 1 then line end, ' ' order by line_idx), '')) as kept_fp
       |from r group by doc_id""".stripMargin.replace("\n", " ")

  /** INCREMENTAL dedup — the production shape: a new shard (today's
    * crawl) deduplicates against the fingerprint index of everything
    * already ingested, plus within itself (first occurrence kept).
    * Every incoming document gets a verdict: `kept`, `dup_history`
    * (fingerprint already in the index), or `dup_batch` (an earlier
    * incoming doc has the same fingerprint).
    *
    * Scale shape: the history side ships ONLY distinct fingerprints
    * (16-byte md5s, no text), the join keys on fp, and AQE picks the
    * strategy — for a day-sized increment against a corpus-sized index
    * the fp join shuffles both sides hash-partitioned, and a bloom
    * prescreen ([[decontaminateBloom]]'s pattern) can cut the history
    * probe further. The within-batch keeper is a min-per-fp window over
    * the (small) incoming shard. Here the "history" is the deterministic
    * 4/5 of documents by id, the increment the remaining 1/5. */
  def incremental(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    val hist = docs.filter(expr("doc_id % 5 < 4"))
      .select(md5(col("text")).as("fp")).distinct()
      .withColumn("seen", lit(1L))
    docs.filter(expr("doc_id % 5 >= 4"))
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .withColumn("keeper", min("doc_id").over(w))
      .join(hist, Seq("fp"), "left")
      .selectExpr("doc_id", "fp",
        "case when seen is not null then 'dup_history' " +
          "when doc_id <> keeper then 'dup_batch' else 'kept' end as status")
  }

  /** [[incremental]] with the bloom prescreen its scaladoc promised, now
    * wired ([[decontaminateBloom]]'s pattern composed into the
    * incremental join): history fingerprints compress to their set of
    * set bit positions — at most `mBits` rows, a constant-size broadcast
    * no matter how large the history index grows — and only
    * bloom-POSITIVE incoming docs probe the full history fp join; the
    * bloom-negative rest is certified absent and short-circuits to the
    * within-batch verdict. Bloom has no false negatives, so the verdicts
    * are IDENTICAL to [[incremental]] — the driver query shares its
    * oracle, which is the proof — while the expensive join sees only
    * certified candidates plus the deterministic false-positive dribble.
    * At a corpus-sized index / day-sized increment this turns the
    * history probe from |increment| joined rows into
    * |true dups| + |false positives|. */
  def incrementalBloom(docs: DataFrame, mBits: Int = 65536,
                       kHash: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    val hist = docs.filter(expr("doc_id % 5 < 4"))
      .select(md5(col("text")).as("fp")).distinct()
      .withColumn("seen", lit(1L))
    // rolling_hash brings the hex fp into CW range; same j-th mixes as
    // decontaminateBloom (cwMix(40+j))
    val bloom = hist
      .select(expr("rolling_hash(fp)").as("code"),
        explode(expr(s"sequence(0, ${kHash - 1})")).as("j"))
      .select(expr(bloomPosCase(kHash, mBits)).as("pos"))
      .distinct()
    val inc = docs.filter(expr("doc_id % 5 >= 4"))
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .withColumn("keeper", min("doc_id").over(w))
      .withColumn("code", expr("rolling_hash(fp)"))
    val withPos = inc.select(col("doc_id") +: col("fp") +: col("keeper") +:
      (0 until kHash).map(j =>
        expr(s"(${graft.oracle.Parity.cwMix(40 + j, "code")} % $mBits)").as(s"p$j")): _*)
    val probed = (0 until kHash).foldLeft(withPos) { (df, j) =>
      df.join(broadcast(bloom.select(col("pos").as(s"bp$j"))),
        col(s"p$j") === col(s"bp$j"), "left")
    }.withColumn("bloom_pos",
      (0 until kHash).map(j => col(s"bp$j").isNotNull).reduce(_ && _))
      .select("doc_id", "fp", "keeper", "bloom_pos")
    val verdict = "case when seen is not null then 'dup_history' " +
      "when doc_id <> keeper then 'dup_batch' else 'kept' end as status"
    // only the bloom-positive slice touches the history index
    probed.filter(col("bloom_pos")).join(hist, Seq("fp"), "left")
      .selectExpr("doc_id", "fp", verdict)
      .unionByName(probed.filter(!col("bloom_pos"))
        .withColumn("seen", lit(null).cast("long"))
        .selectExpr("doc_id", "fp", verdict))
  }

  /** INCREMENTAL NEAR-dup — [[incremental]]'s production shape upgraded
    * from exact hashes to MOSS winnowed fingerprints ([[TextOps.winnow]]):
    * yesterday's index stores each ingested doc's winnow-fp set (16-byte
    * fps, never text), and today's shard gets per-doc verdicts —
    * `dup_history` when enough of an incoming doc's fingerprints are
    * covered by ONE indexed doc, `dup_batch` when an EARLIER incoming
    * doc covers it, else `kept`. This catches the single-insertion
    * shifted near-copy that exact-hash [[incremental]] structurally
    * misses, positioned exactly where production runs it (the
    * "yesterday's index vs today's crawl" loop).
    *
    * Containment is scored against the INCOMING doc's own fp count —
    * "how much of the new doc is already indexed" — as an exact integer
    * predicate `n_shared · thrDen ≥ thrNum · n_fp` (no doubles, so the
    * oracle matches bit-for-bit by construction). Scale shape: the
    * history side ships only fps, both probes are fp-keyed equi-joins
    * whose pair mass tracks realized overlap (increment × index, never
    * |corpus|²), and the within-batch probe is increment-sized. Docs
    * too short to emit a full winnow window have no fps and are outside
    * the contract (same as the batch winnow operators). */
  def incrementalWinnow(docs: DataFrame, minShared: Int = 3,
                        thrNum: Int = 1, thrDen: Int = 2): DataFrame =
    incrementalWinnowFrom(docs, minShared, thrNum, thrDen, (pref, _) => pref)

  /** `ceil(n · num / den)` as exact BIGINT arithmetic for a BIGINT column
    * `n`: a double quotient rounds once n · num passes 2^53, and the probe
    * prefix built from it would then be one fp short or long. */
  private[graft] def ceilFracSql(n: String, num: Int, den: Int): String =
    s"($n * $num + ${den - 1}) div $den"

  /** The verdict engine behind [[incrementalWinnow]] and
    * [[incrementalWinnowBloom]] — r16 respelling of the full-probe pair
    * path (guide §2.3/§3.2). The old spelling joined EVERY incoming fp
    * row against the history/batch fp sets and aggregated the full
    * co-occurrence mass into per-pair counts; with no df stop cut (the
    * full probe's declared exactness), hot boilerplate fingerprints make
    * that fan-out quadratic — measured at sf0.1: 96.6 M history-join rows
    * collapsing to 4.0 M distinct pairs plus 11.8 M batch-join rows to
    * 0.5 M, with the pair-keyed aggregation the bench's top row. Now
    * candidates come from a LOSSLESS prefix filter and pairs verify by
    * one sorted-array merge each:
    *
    *   - a pair can only reach the verdict when
    *     `n_shared >= t(B) = max(minShared, ceil(n_fp·thrNum/thrDen))`
    *     (B = the incoming doc the containment is scored against), and
    *     `|B \ A| <= n_fp - t`, so ANY `n_fp - t + 1`-subset of B's fps
    *     must contain a shared fp — probing with a subset of that size
    *     is lossless (Bayardo/Chaudhuri prefix filtering, WWW'07 §3,
    *     applied to the containment threshold);
    *   - the subset CHOSEN is the doc's rarest fps (global fp document
    *     frequency asc, fp asc — deterministic), so the candidate join
    *     avoids exactly the hot fingerprints that carried the quadratic
    *     mass (measured at sf0.1: history probe fan-out 96.6 M → 11.6 M
    *     rows, batch 11.8 M → 1.4 M; candidates 3.3 M + 0.4 M pairs,
    *     each verified by one merge over ~81-element sorted arrays);
    *   - each distinct candidate pair verifies once with the EXACT
    *     n_shared from `sorted_intersect_count` over the two docs'
    *     sorted fp arrays — the same integers the old aggregate counted,
    *     so the verdict predicate is unchanged (the banded family's
    *     verify operand, here with no recall caveat because candidate
    *     generation is lossless).
    *
    * Scale shape: the per-doc fp-set relation is 1 row/doc (corpus-
    * catalog-sized, like the banded signatures), the probe join's mass
    * is bounded by rare-fp co-occurrence instead of total co-occurrence,
    * and the verify is |candidates| merges. The DuckDB oracle
    * ([[incrementalWinnowSql]]) keeps the independent join+aggregate
    * spelling — hash equality is the losslessness proof — and the old
    * Spark spelling stays as [[incrementalWinnowJoinAgg]], pinned
    * verdict-identical by the differential spec. */
  private def incrementalWinnowFrom(docs: DataFrame, minShared: Int,
      thrNum: Int, thrDen: Int,
      screenHistProbe: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    import org.apache.spark.sql.expressions.Window
    val fps = TextOps.winnow(docs).select("doc_id", "fp").distinct().localCheckpoint()
    val hist = fps.filter(expr("doc_id % 5 < 4"))
      .select(col("doc_id").as("hist_id"), col("fp"))
    val inc = fps.filter(expr("doc_id % 5 >= 4"))
    // ONE aggregate: per-doc sorted fp array (the verify operand) and its
    // size (the containment denominator / verdict universe)
    val sets = fps.groupBy("doc_id").agg(
        sort_array(collect_list(col("fp"))).as("fset"),
        count(lit(1)).as("n_fp"))
      .localCheckpoint()
    // lossless rarest-(n_fp - t + 1) probe prefix per incoming doc (see
    // scaladoc); rows ordered by global fp rarity so hot fps stay out of
    // candidate generation whenever the doc has rarer ones
    val dfp = fps.groupBy("fp").agg(count(lit(1)).as("dfp"))
    val wd = Window.partitionBy("doc_id").orderBy(col("dfp").asc, col("fp").asc)
    val pref = inc.join(dfp, "fp")
      .withColumn("rk", row_number().over(wd))
      .withColumn("n_fp", count(lit(1)).over(Window.partitionBy("doc_id")))
      .withColumn("t", greatest(lit(minShared.toLong),
        expr(ceilFracSql("n_fp", thrNum, thrDen))))
      .filter(col("rk") <= col("n_fp") - col("t") + 1)
      .select("doc_id", "fp")
      .localCheckpoint() // feeds both probes
    def verdictHit(cands: DataFrame, aId: String, flag: String): DataFrame = cands
      .join(sets.select(col("doc_id").as(aId), col("fset").as("fa")), aId)
      .join(sets.select(col("doc_id"), col("fset").as("fb"), col("n_fp")), "doc_id")
      .withColumn("n_shared", expr("sorted_intersect_count(fa, fb)"))
      .filter(col("n_shared") >= minShared &&
        col("n_shared") * lit(thrDen.toLong) >= lit(thrNum.toLong) * col("n_fp"))
      .select("doc_id").distinct().withColumn(flag, lit(1L))
    val histHit = verdictHit(
      screenHistProbe(pref, hist).join(hist, "fp")
        .select("doc_id", "hist_id").distinct(),
      "hist_id", "hist_dup")
    val batchHit = verdictHit(
      pref.join(inc.select(col("doc_id").as("e_id"), col("fp")), "fp")
        .filter(col("e_id") < col("doc_id"))
        .select("doc_id", "e_id").distinct(),
      "e_id", "batch_dup")
    val incSz = sets.filter(expr("doc_id % 5 >= 4")).select("doc_id", "n_fp")
    incSz.join(histHit, Seq("doc_id"), "left")
      .join(batchHit, Seq("doc_id"), "left")
      .selectExpr("doc_id", "n_fp",
        "case when hist_dup is not null then 'dup_history' " +
          "when batch_dup is not null then 'dup_batch' else 'kept' end as status")
  }

  /** The pre-r16 per-fp join+aggregate spelling of [[incrementalWinnow]]
    * — kept as the INDEPENDENT Spark reference the differential spec pins
    * the prefix-filtered respelling against (the [[TextOps.winnowWindowed]]
    * discipline). */
  private[graft] def incrementalWinnowJoinAgg(docs: DataFrame, minShared: Int = 3,
                        thrNum: Int = 1, thrDen: Int = 2): DataFrame = {
    val fps = TextOps.winnow(docs).select("doc_id", "fp").distinct().localCheckpoint()
    val hist = fps.filter(expr("doc_id % 5 < 4"))
      .select(col("doc_id").as("hist_id"), col("fp"))
    val inc = fps.filter(expr("doc_id % 5 >= 4"))
    val incSz = inc.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    def hits(matches: DataFrame, flag: String): DataFrame = matches
      .filter(col("n_shared") >= minShared)
      .join(incSz, "doc_id")
      .filter(col("n_shared") * lit(thrDen.toLong) >= lit(thrNum.toLong) * col("n_fp"))
      .select("doc_id").distinct().withColumn(flag, lit(1L))
    val histHit = hits(
      inc.join(hist, "fp")
        .groupBy("doc_id", "hist_id").agg(count(lit(1)).as("n_shared")),
      "hist_dup")
    val batchHit = hits(
      inc.join(inc.select(col("doc_id").as("e_id"), col("fp")), "fp")
        .filter(col("e_id") < col("doc_id"))
        .groupBy("doc_id", "e_id").agg(count(lit(1)).as("n_shared")),
      "batch_dup")
    incSz.join(histHit, Seq("doc_id"), "left")
      .join(batchHit, Seq("doc_id"), "left")
      .selectExpr("doc_id", "n_fp",
        "case when hist_dup is not null then 'dup_history' " +
          "when batch_dup is not null then 'dup_batch' else 'kept' end as status")
  }

  /** [[incrementalWinnow]] with the bloom prescreen that makes the
    * history probe index-size-independent ([[incrementalBloom]]'s
    * pattern lifted to the NEAR-dup shape): history winnow fingerprints
    * compress to their set of set bit positions — at most `mBits` rows,
    * a constant-size broadcast no matter how large the index grows —
    * and only bloom-POSITIVE incoming fp rows probe the history join;
    * a clear bit certifies the fingerprint absent from history, and an
    * absent fingerprint contributes nothing to any n_shared count, so
    * the verdicts are IDENTICAL to [[incrementalWinnow]] (the driver
    * query shares its oracle, which is the proof). The within-batch
    * probe keeps every fp — bloom screens only the history side. At a
    * corpus-sized index / day-sized increment the history join sees
    * |true shared fps| + the deterministic false-positive dribble
    * instead of |increment| fp rows. */
  def incrementalWinnowBloom(docs: DataFrame, minShared: Int = 3,
                             thrNum: Int = 1, thrDen: Int = 2,
                             mBits: Int = 65536, kHash: Int = 3): DataFrame = {
    val cw = graft.oracle.Parity.CwMod
    // r16: the bloom now prescreens the PREFIX probe rows of the shared
    // verdict engine (see [[incrementalWinnowFrom]]) instead of the full
    // incoming fp relation. Losslessness composes: a clear bit certifies
    // the fingerprint absent from history, an absent fingerprint is in no
    // history doc's intersection, and the prefix theorem only needs the
    // probe subset to RETAIN every shared fp it held — so the verdicts
    // stay identical to [[incrementalWinnow]] (the driver query shares
    // its oracle, which is the proof).
    incrementalWinnowFrom(docs, minShared, thrNum, thrDen, (pref, hist) => {
      // fp % CwMod brings the 33-bit winnow fp into CW range so the mixes
      // stay overflow-free in BOTH engines (DuckDB raises on bigint wrap)
      val bloom = hist
        .select(expr(s"fp % $cw").as("code"),
          explode(expr(s"sequence(0, ${kHash - 1})")).as("j"))
        .select(expr(bloomPosCase(kHash, mBits)).as("pos"))
        .distinct()
      val withPos = pref.withColumn("code", expr(s"fp % $cw"))
        .select(col("doc_id") +: col("fp") +:
          (0 until kHash).map(j =>
            expr(s"(${graft.oracle.Parity.cwMix(40 + j, "code")} % $mBits)").as(s"p$j")): _*)
      (0 until kHash).foldLeft(withPos) { (df, j) =>
        df.join(broadcast(bloom.select(col("pos").as(s"bp$j"))),
          col(s"p$j") === col(s"bp$j"), "left")
      }.withColumn("bloom_pos",
        (0 until kHash).map(j => col(s"bp$j").isNotNull).reduce(_ && _))
        .filter(col("bloom_pos"))
        .select("doc_id", "fp")
    })
  }

  /** BANDED incremental near-dup — the bounded-candidate sibling of
    * [[incrementalWinnow]], the same relationship
    * [[TextOps.winnowOverlapBanded]] bears to [[TextOps.winnowOverlap]].
    * The full operator's history and within-batch probes are fp-keyed
    * equi-joins whose pair mass tracks fp CO-OCCURRENCE — on a
    * template-heavy corpus hot fingerprints make that quadratic (the
    * honest-statistic sf1 sweep watchdog-capped both incremental winnow
    * rows once their verdict joins were actually timed). Here candidate
    * pairs come from LSH bands over a per-doc Carter-Wegman MinHash
    * signature of the df-cut winnow-fp set — ONE map-side-combined
    * aggregate per doc, never an fp self-join — and the exact integer
    * containment verify (`sorted_intersect_count` over the sorted fp
    * arrays, `n_shared·thrDen ≥ thrNum·n_fp` against the INCOMING doc's
    * kept-fp count) runs only inside same-bucket pairs, each verified
    * once in its first colliding band ([[firstMeetChainSql]]).
    *
    * Differences from the full operator's contract, both deliberate and
    * both mirrored exactly in the oracle: (a) the df stop cut (fps in
    * >10% of docs dropped) bounds signature AND verify mass — boilerplate
    * fps carry no near-dup signal; (b) the verdict universe is increment
    * docs with ≥1 KEPT fp.
    *
    * Band geometry (r13, MEASURED): the default is 16 bands × 1 hash
    * (r=1), not the classic 8×2. The verdict here is CONTAINMENT of the
    * incoming doc (≥ thrNum/thrDen), but LSH collision probability
    * tracks the pair's JACCARD — a small doc half-contained in a large
    * one has low Jaccard, and at r=2 the per-band collision is s², so
    * containment-shaped dups go unseen: on the natural sf0.1 corpus
    * the 8×2 geometry found 53/104 of the df-cut full-pair probe's
    * verdicts (recall 0.51), while 16×1 found 103/104 (0.99, zero
    * extras) for ~7% more wall clock (5.99 → 6.39 s) — candidates are
    * a strict superset (agreeing on an (h0,h1) band implies agreeing
    * on h0). The planted shifted-copy spec measures 1.0 under both
    * geometries (`ScaleStress nearduprecall` is the standing artifact).
    *
    * Scale shape: the history side ships one signature row + one sorted
    * fp array per doc (never text), candidate volume is bounded by
    * bucket co-occupancy, and a day-sized increment meets the
    * corpus-sized index in a band-keyed equi-join — |increment|-
    * proportional, index-growth-independent candidate generation.
    *
    * Hot-bucket cap (r14): band values held by more than `bvCutAbs`
    * docs of the universe are excluded from candidate generation — the
    * same deterministic skip-mega-buckets rule the standing
    * [[NearDupIndex]] applies (its [[NearDupIndex.BvCutAbs]] doc
    * carries the full absolute-vs-relative argument), mirrored in the
    * oracle. Motivation measured on the r14 regenerated (dup-heavy)
    * corpus: at r=1 a single corpus-common argmin crowds one bucket
    * with thousands of docs and the collision mass is quadratic —
    * the uncapped 10× leg ran 258 s where the capped standing index
    * serves the same universe in ~8 s. The first-meet chain runs over
    * EFFECTIVE band vectors (capped entries replaced with doc-unique
    * negative sentinels, the [[NearDupIndex.serveNearDup]] pattern) so
    * a pair whose first agreeing band is capped still verifies once,
    * in its first surviving band.
    *
    * Recall escape hatch (verdict r14 #6): the cap's documented price
    * is recall on pairs that agree ONLY inside mega-buckets (0.942 vs
    * the cut reference on the pathological dup-heavy corpus — 29/500
    * pairs whose every agreeing band was capped). For corpora where
    * exactness outranks cost, pass `bvCutAbs = Int.MaxValue`: no
    * bucket is ever capped, every sentinel substitution is the
    * identity, and the operator reproduces the uncapped (pre-r14)
    * banded verdicts exactly — at the measured quadratic collision
    * cost on dup-heavy data. */
  def incrementalWinnowBanded(docs: DataFrame, minShared: Int = 3,
                              thrNum: Int = 1, thrDen: Int = 2,
                              numHashes: Int = 16, bands: Int = 16,
                              bvCutAbs: Int = NearDupIndex.BvCutAbs): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val r = numHashes / bands
    val fps = TextOps.winnow(docs).select("doc_id", "fp").distinct().localCheckpoint()
    // bounded driver count — the measured winnowOverlap trade
    val nDocs = docs.select("doc_id").distinct().count()
    val kept = fps.join(
      fps.groupBy("fp").agg(count(lit(1)).as("dfp"))
        .filter(col("dfp") * 10 <= lit(nDocs)).select("fp"),
      "fp").localCheckpoint()
    // one aggregate: sorted fp array (verify operand), its size
    // (containment denominator), and the CW minima (fp < CwMod by the
    // winnow packing, so cwMix is overflow-free on it directly)
    val sigAggs = (0 until numHashes).map(j =>
      min(expr(graft.oracle.Parity.cwMix(j, "fp"))).as(s"h$j"))
    val aggs = Seq(sort_array(collect_list(col("fp"))).as("fset"),
      count(lit(1)).as("n_fp")) ++ sigAggs
    val sets = kept.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    val bvCols = (0 until bands).map(b =>
      expr(bandValueSql((b * r until (b + 1) * r).map(j => s"h$j"))))
    // checkpoint BEFORE the band explode: each fp array stored once
    val setsC = sets
      .select(col("doc_id"), col("fset"), col("n_fp"), array(bvCols: _*).as("bvs"))
      .localCheckpoint()
    // hot-bucket cap: whole-universe occupancy per (band, bv) — one
    // narrow aggregate over the fixed-width band rows; the result is
    // bounded by (rows / cap) keys, always broadcast. ebvs replaces
    // capped entries with doc-unique negative sentinels so the
    // first-meet chain sees exactly the joinable band set (real bvs
    // are in [0, CwMod))
    val bandRows = setsC.select(col("doc_id"), posexplode(col("bvs")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bv")
    val hotBv = bandRows.groupBy("band", "bv")
      .agg(count(lit(1)).as("c")).filter(col("c") > bvCutAbs)
      .select("band", "bv").localCheckpoint()
    val uncut = bandRows.join(broadcast(hotBv), Seq("band", "bv"), "left_anti")
      .groupBy("doc_id").agg(collect_set(col("band")).as("okb"))
    val banded = setsC.join(uncut, Seq("doc_id"), "left")
      .withColumn("ebvs", expr(
        s"transform(bvs, (v, j) -> case when okb is not null and " +
          s"array_contains(okb, j) then v " +
          s"else -(doc_id * $bands + cast(j as bigint)) - 1 end)"))
      .select(col("doc_id"), col("fset"), col("n_fp"), col("ebvs").as("bvs"),
        posexplode(col("ebvs")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bv")
      .filter(col("bv") >= 0)
    def side(s: String, pred: String) = banded.filter(expr(pred))
      .select(col("doc_id").as(s"doc_$s"), col("fset").as(s"f$s"),
        col("n_fp").as(s"n_$s"), col("bvs").as(s"bvs_$s"),
        col("band"), col("bv"))
    // flagged doc is doc_b (the incoming / later doc); containment is
    // scored against ITS kept-fp count — incrementalWinnow's predicate
    def verdictHit(cands: DataFrame, flag: String): DataFrame = cands
      .filter(expr(firstMeetChainSql(bands)))
      .withColumn("n_shared", expr("sorted_intersect_count(fa, fb)"))
      .filter(col("n_shared") >= minShared &&
        col("n_shared") * lit(thrDen.toLong) >= lit(thrNum.toLong) * col("n_b"))
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn(flag, lit(1L))
    val histHit = verdictHit(
      side("a", "doc_id % 5 < 4")
        .join(side("b", "doc_id % 5 >= 4"), Seq("band", "bv")),
      "hist_dup")
    val batchHit = verdictHit(
      side("a", "doc_id % 5 >= 4")
        .join(side("b", "doc_id % 5 >= 4"), Seq("band", "bv"))
        .filter(col("doc_a") < col("doc_b")),
      "batch_dup")
    val incSz = setsC.filter(expr("doc_id % 5 >= 4")).select("doc_id", "n_fp")
    incSz.join(histHit, Seq("doc_id"), "left")
      .join(batchHit, Seq("doc_id"), "left")
      .selectExpr("doc_id", "n_fp",
        "case when hist_dup is not null then 'dup_history' " +
          "when batch_dup is not null then 'dup_batch' else 'kept' end as status")
  }

  /** DuckDB mirror of [[incrementalWinnowBanded]] — every constant (CW
    * params, band fold, df cut, containment predicate) interpolated from
    * the same Scala source as the Spark plan; candidates are the same
    * collision relation deduplicated (first-meet is only a Spark-side
    * evaluation-order optimization). */
  def incrementalWinnowBandedSql(minShared: Int = 3, thrNum: Int = 1,
                                 thrDen: Int = 2, numHashes: Int = 16,
                                 bands: Int = 16,
                                 bvCutAbs: Int = NearDupIndex.BvCutAbs,
                                 table: String = "documents"): String = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val sigCols = (0 until numHashes)
      .map(j => s"min(${graft.oracle.Parity.cwMix(j, "fp")}) as h$j")
      .mkString(", ")
    val bandRows = (0 until bands)
      .map(b => s"select doc_id, $b as band, " +
        s"${bandValueSql((b * r until (b + 1) * r).map(j => s"h$j"))} as bv from sig")
      .mkString(" union all ")
    def hitCte(name: String, candPred: String): String =
      s"""$name as (select distinct doc_b as doc_id from (
         |  select distinct a.doc_id as doc_a, b.doc_id as doc_b
         |  from bandedc a join bandedc b on a.band = b.band and a.bv = b.bv
         |  where $candPred) c
         | join sets sa on c.doc_a = sa.doc_id
         | join sets sb on c.doc_b = sb.doc_id
         | where cast(len(list_intersect(sa.fset, sb.fset)) as bigint) >= $minShared
         |  and cast(len(list_intersect(sa.fset, sb.fset)) as bigint) * $thrDen
         |    >= $thrNum * sb.n_fp)""".stripMargin
    s"""with wn as materialized (${TextOps.winnowSql(table)}),
       |fps as materialized (select distinct doc_id, fp from wn),
       |nd as (select cast(count(distinct doc_id) as bigint) as n_docs from $table),
       |kept as materialized (select doc_id, fp from fps
       |  where fp in (select fp from fps, nd group by fp, n_docs
       |               having cast(count(*) as bigint) * 10 <= n_docs)),
       |sig as (select doc_id, $sigCols from kept group by doc_id),
       |banded as materialized ($bandRows),
       |stopbv as materialized (select band, bv from (
       |  select band, bv, cast(count(*) as bigint) as c from banded
       |  group by band, bv)
       | where c > $bvCutAbs),
       |bandedc as materialized (select bd.doc_id, bd.band, bd.bv
       | from banded bd where not exists (select 1 from stopbv s
       |  where s.band = bd.band and s.bv = bd.bv)),
       |sets as materialized (select doc_id, list_sort(list(fp)) as fset,
       |  cast(count(*) as bigint) as n_fp from kept group by doc_id),
       |${hitCte("hh", "a.doc_id % 5 < 4 and b.doc_id % 5 >= 4")},
       |${hitCte("bh", "a.doc_id % 5 >= 4 and b.doc_id % 5 >= 4 and a.doc_id < b.doc_id")},
       |isz as (select doc_id, n_fp from sets where doc_id % 5 >= 4)
       |select isz.doc_id, n_fp,
       | case when hh.doc_id is not null then 'dup_history'
       |  when bh.doc_id is not null then 'dup_batch' else 'kept' end as status
       |from isz left join hh on isz.doc_id = hh.doc_id
       | left join bh on isz.doc_id = bh.doc_id""".stripMargin.replace("\n", " ")
  }

  /** DuckDB mirror of [[incrementalWinnow]]. */
  def incrementalWinnowSql(minShared: Int = 3, thrNum: Int = 1,
                           thrDen: Int = 2, table: String = "documents"): String =
    s"""with wn as materialized (${TextOps.winnowSql(table)}),
       |fps as materialized (select distinct doc_id, fp from wn),
       |hist as materialized (select doc_id as hist_id, fp from fps
       |  where doc_id % 5 < 4),
       |inc as materialized (select doc_id, fp from fps where doc_id % 5 >= 4),
       |isz as materialized (select doc_id, cast(count(*) as bigint) as n_fp
       | from inc group by 1),
       |hh as (select distinct s.doc_id from (
       |  select i.doc_id, hist_id, cast(count(*) as bigint) as n_shared
       |  from inc i join hist using (fp) group by 1, 2
       |  having count(*) >= $minShared) s
       | join isz using (doc_id) where n_shared * $thrDen >= $thrNum * n_fp),
       |bh as (select distinct s.doc_id from (
       |  select a.doc_id, b.doc_id as e_id, cast(count(*) as bigint) as n_shared
       |  from inc a join inc b using (fp) where b.doc_id < a.doc_id
       |  group by 1, 2 having count(*) >= $minShared) s
       | join isz using (doc_id) where n_shared * $thrDen >= $thrNum * n_fp)
       |select isz.doc_id, n_fp,
       | case when hh.doc_id is not null then 'dup_history'
       |  when bh.doc_id is not null then 'dup_batch' else 'kept' end as status
       |from isz left join hh on isz.doc_id = hh.doc_id
       | left join bh on isz.doc_id = bh.doc_id""".stripMargin.replace("\n", " ")

  /** DuckDB mirror of [[incremental]]. */
  def incrementalSql(table: String = "documents"): String =
    s"""with h as (select distinct md5(text) as fp, 1 as seen from $table
       |  where doc_id % 5 < 4),
       |inc as (select doc_id, md5(text) as fp from $table where doc_id % 5 >= 4),
       |k as (select doc_id, fp, min(doc_id) over (partition by fp) as keeper from inc)
       |select doc_id, k.fp,
       | case when seen is not null then 'dup_history'
       |  when doc_id <> keeper then 'dup_batch' else 'kept' end as status
       |from k left join h on k.fp = h.fp""".stripMargin.replace("\n", " ")

  /** Cross-document duplicated-span fraction — the exact-substring dedup
    * signal (the "dedup training data" pass at shingle resolution, vs
    * [[lineDedup]]'s disjoint lines and TextOps.repetition's INTRA-doc
    * n-grams): every sliding word `n`-gram is fingerprinted, grams seen
    * in MORE THAN ONE DOCUMENT are marked, and each document reports the
    * fraction of its grams that are cross-doc duplicated. Scale shape:
    * (fp, doc) distinct + per-fp aggregate move fingerprints only, and
    * only the duplicated fingerprints (the small survivor set, same
    * argument as [[lineDedup]]) join back onto the gram stream — AQE
    * picks broadcast when that side is small. Docs shorter than `n`
    * tokens have no grams and are excluded (documented contract, same in
    * the oracle). */
  def dupSpans(docs: DataFrame, n: Int = 5): DataFrame = {
    val grams = docs
      .select(col("doc_id"), expr("split(trim(text), ' ')").as("words"))
      .filter(size(col("words")) >= n)
      .select(col("doc_id"), expr(
        s"explode(transform(sequence(1, size(words) - ${n - 1}), " +
          s"i -> md5(concat_ws(' ', slice(words, i, $n)))))").as("fp"))
    val crossDup = grams.select("fp", "doc_id").distinct()
      .groupBy("fp").agg(count(lit(1)).as("nd"))
      .filter(col("nd") > 1)
    grams.join(crossDup, Seq("fp"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("nd").isNotNull, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac",
        col("n_dup").cast("double") / col("n_grams").cast("double"))
  }

  /** DuckDB mirror of [[dupSpans]]. */
  def dupSpansSql(n: Int = 5, table: String = "documents"): String =
    s"""with d as (select doc_id, string_split(trim(text), ' ') as words
       |  from $table),
       |g as (select doc_id,
       |  md5(array_to_string(list_slice(words, i, i + ${n - 1}), ' ')) as fp
       | from (select doc_id, words,
       |   unnest(generate_series(1, len(words) - ${n - 1})) as i
       |  from d where len(words) >= $n)),
       |x as (select fp, cast(count(distinct doc_id) as bigint) as nd
       | from g group by fp having count(distinct doc_id) > 1)
       |select doc_id, cast(count(*) as bigint) as n_grams,
       | cast(sum(case when nd is not null then 1 else 0 end) as bigint) as n_dup,
       | cast(sum(case when nd is not null then 1 else 0 end) as double)
       |  / cast(count(*) as double) as dup_frac
       |from g left join x on g.fp = x.fp
       |group by doc_id""".stripMargin.replace("\n", " ")

  def lineDedupSql(lineTokens: Int = 10, table: String = "documents"): String =
    s"""with ${linesCteSql(lineTokens, table)},
       |lf as (select doc_id, line_idx, line, md5(line) as fp from l),
       |dups as (select fp, cast(count(*) as bigint) as cnt from lf
       |  group by fp having count(*) > 1)
       |select doc_id, cast(count(*) as bigint) as n_lines,
       | cast(sum(case when cnt is not null then 1 else 0 end) as bigint) as n_dup_lines,
       | md5(coalesce(string_agg(case when cnt is null then line end, ' ' order by line_idx), '')) as kept_fp
       |from lf left join dups on lf.fp = dups.fp
       |group by doc_id""".stripMargin.replace("\n", " ")
}
