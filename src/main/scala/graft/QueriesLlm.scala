package graft

import graft.operators.{Dedup, Lm, Multimodal, Sampling, Similarity, TextOps}
import graft.oracle.Parity
import graft.oracle.Parity.{DuckD, SparkD}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline queries (builder north star): dedup, text
  * analysis, similarity search, multimodal plumbing — each a `queries()`
  * entry with a DuckDB oracle on `documents`/`embeddings` where the
  * operation is SQL-expressible (hash-family-internal ops are rows-only).
  */
object QueriesLlm {

  private val dim = Similarity.dim

  /** Cache-or-compute the FULL sparse-index lifecycle (write 2/3 →
    * append 1/3 → delete %5==3 → compact) for a data dir, at a
    * deterministic location keyed injectively by the dir
    * ([[graft.operators.IndexFs.dirKey]]). First call per (session, dir)
    * pays the build; later calls — bench passes 2..n — serve from the
    * standing index, which is the point: the serve-only gates measure
    * index QUERY cost, not build cost. The content is identical to what
    * `sparse_lifecycle` builds, so those gates share its survivors
    * oracle. */
  /** Cache key for a standing index serving data dir `dir` — the
    * shared [[graft.operators.IndexFs.dataKey]] composite (injective
    * dirKey + content snapshot id; advice r10/r11). */
  private def dataKey(s: SparkSession, dir: String): String =
    graft.operators.IndexFs.dataKey(s, dir)

  /** Atomicity marker for MULTI-STEP cached builders (advice r12): a
    * build/append/delete/compact sequence behind a bare `isIndexed`
    * guard turns the guard true after the FIRST step, so a crash
    * mid-sequence leaves a half-mutated index that later runs treat as
    * complete and the gate fails with a misleading symptom. The marker
    * file is written only after the LAST verb; the cache check requires
    * it, so an interrupted lifecycle rebuilds from scratch instead. */
  private def lifecycleDone(s: SparkSession, idx: String): Boolean =
    graft.operators.IndexFs.exists(s, s"$idx/_lifecycle_complete")

  private def markLifecycleDone(s: SparkSession, idx: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$idx/_lifecycle_complete")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.create(p, true).close()
  }

  /** First statement of EVERY rebuild branch (advice r13): a STALE
    * marker left by a prior completed lifecycle must be cleared before
    * the first verb runs — if the rebuild was triggered by `isIndexed`
    * going false (e.g. a geometry bump) and the multi-verb sequence
    * crashes mid-way, the next run would otherwise see
    * isIndexed=true ∧ marker=true and serve a half-run lifecycle, the
    * exact failure mode the marker exists to close. */
  private def clearLifecycleMarker(s: SparkSession, idx: String): Unit =
    graft.operators.IndexFs.deleteRecursive(s, s"$idx/_lifecycle_complete")

  private def cachedLifecycleIndex(s: SparkSession, dir: String): String = {
    val idx = s"${System.getProperty("java.io.tmpdir")}/graft_sidxlc_" +
      dataKey(s, dir)
    if (!graft.operators.SparseIndex.isIndexed(s, idx) ||
        !lifecycleDone(s, idx)) {
      clearLifecycleMarker(s, idx)
      val docs = Tables.read(s, dir, "documents")
      graft.operators.SparseIndex.writeSparseIndex(
        docs.filter(col("doc_id") % 3 =!= 0), idx)
      graft.operators.SparseIndex.appendSparseIndex(
        docs.filter(col("doc_id") % 3 === 0), idx)
      graft.operators.SparseIndex.deleteFromSparseIndex(
        docs.filter(col("doc_id") % 5 === 3), idx)
      graft.operators.SparseIndex.compactSparseIndex(s, idx)
      markLifecycleDone(s, idx)
    }
    idx
  }

  /** Cache-or-compute the FULL-corpus stored sparse index for a data
    * dir — the standing index the `bm25_stored` / `bm25_serve_fixedq`
    * gates serve from (whole corpus, so they share `bm25_retrieval`'s
    * oracle verbatim; the lifecycle cache above proves the same serve
    * over a mutated history). */
  private def cachedFullIndex(s: SparkSession, dir: String): String = {
    val idx = s"${System.getProperty("java.io.tmpdir")}/graft_sidxfull_" +
      dataKey(s, dir)
    if (!graft.operators.SparseIndex.isIndexed(s, idx))
      graft.operators.SparseIndex.writeSparseIndex(
        Tables.read(s, dir, "documents"), idx)
    idx
  }

  /** Cache-or-compute the standing NEAR-DUP index over the history
    * slice (doc_id % 5 < 4) — the `neardup_index_stored` gate serves a
    * shard from it, so the timed row is index QUERY cost. */
  private def cachedNearDupIndex(s: SparkSession, dir: String): String = {
    val idx = s"${System.getProperty("java.io.tmpdir")}/graft_ndidx_" +
      dataKey(s, dir)
    if (!graft.operators.NearDupIndex.isIndexed(s, idx))
      graft.operators.NearDupIndex.writeNearDupIndex(
        Tables.read(s, dir, "documents").filter(col("doc_id") % 5 < 4), idx)
    idx
  }

  /** Near-dup index with a MUTATED history — build on 3/5, append the
    * 4th fifth (so the live history equals the stored-index gate's),
    * tombstone the % 10 == 1 ids, compact. The serve over it proves the
    * whole verb algebra against one declarative oracle. */
  private def cachedNearDupLifecycleIndex(s: SparkSession, dir: String): String = {
    // stem bumped r14: the driftlog gained cap_grown_buckets, and the
    // health-card gate reads it with the 5-column schema — a pre-r14
    // cache would serve nulls there (isIndexed cannot see driftlog
    // schema), so pre-r14 caches must key differently and rebuild
    val idx = s"${System.getProperty("java.io.tmpdir")}/graft_ndidxlc2_" +
      dataKey(s, dir)
    if (!graft.operators.NearDupIndex.isIndexed(s, idx) ||
        !lifecycleDone(s, idx)) {
      clearLifecycleMarker(s, idx)
      // reap the pre-r14 stem for this data dir — the bump orphaned
      // graft_ndidxlc_* cache directories in tmpdir (advice r14); the
      // delete is best-effort and idempotent
      graft.operators.IndexFs.deleteRecursive(s,
        s"${System.getProperty("java.io.tmpdir")}/graft_ndidxlc_" +
          dataKey(s, dir))
      val docs = Tables.read(s, dir, "documents")
      graft.operators.NearDupIndex.writeNearDupIndex(
        docs.filter(col("doc_id") % 5 < 3), idx)
      graft.operators.NearDupIndex.appendNearDupIndex(
        docs.filter(col("doc_id") % 5 === 3), idx)
      // only indexed ids may be deleted (a doc with no kept fps — short
      // or all-boilerplate text — has no index rows and is outside the
      // universe; the edge dataset exercises exactly that)
      graft.operators.NearDupIndex.deleteFromNearDupIndex(
        docs.filter(col("doc_id") % 5 < 4 && col("doc_id") % 10 === 1)
          .select("doc_id")
          .join(graft.operators.NearDupIndex.indexedIds(s, idx),
            Seq("doc_id"), "left_semi"), idx)
      graft.operators.NearDupIndex.compactNearDupIndex(s, idx)
      markLifecycleDone(s, idx)
    }
    idx
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact dedup: content-hash multiplicity + deterministic keeper
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(Tables.read(s, dir, "documents"))),
    // near-dup by character-3-gram Jaccard in (lang, length-band) buckets
    "dedup_ngram" -> ((s, dir) =>
      Dedup.ngramJaccard(Tables.read(s, dir, "documents"), n = 3, band = 50, threshold = 0.4)),
    // bounded-candidate sibling of dedup_ngram: CW-MinHash LSH over the
    // trigram code sets generates candidates; exact Jaccard verify (the
    // full operator's arithmetic) only inside candidates → output ⊆
    // dedup_ngram with identical scores, linear candidate mass at scale
    // keep-first dedup DECISION: one row per doc (keep | dup_of) — the
    // linear-output relation a production dedup pass materializes; the
    // banded pair mass collapses in a min-aggregate before anything
    // wide ever shuffles
    "dedup_decide" -> ((s, dir) =>
      Dedup.keepFirst(Tables.read(s, dir, "documents"))),
    "dedup_ngram_banded" -> ((s, dir) =>
      Dedup.ngramJaccardBanded(Tables.read(s, dir, "documents"))),
    // MinHash LSH near-dup (Carter-Wegman family → full hash check)
    "dedup_minhash" -> ((s, dir) =>
      Dedup.minHashPairs(Tables.read(s, dir, "documents"))),
    // SimHash fingerprints + Hamming-radius near-dup pairs (CW lane bits
    // → full hash check)
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simHashPairs(Tables.read(s, dir, "documents"))),
    // near-dup CLUSTERS: MinHash pairs collapsed to connected components
    // by 8 rounds of min-label propagation (oracle = the identical
    // iteration unrolled as CTEs — deterministic converged or not)
    "dedup_groups" -> ((s, dir) =>
      Dedup.clusterLabels(Dedup.minHashPairs(Tables.read(s, dir, "documents")))),
    // CONVERGED near-dup components: alternating large-star/small-star
    // to a detected fixpoint — resolves ANY cluster diameter in O(log²n)
    // rounds (the scale-correct sibling of dedup_groups' fixed-8
    // contract). Oracle = recursive-CTE reachability fixpoint: a
    // different algorithm, same canonical min-id labeling.
    "dedup_cc" -> ((s, dir) =>
      Dedup.connectedComponents(Dedup.minHashPairs(Tables.read(s, dir, "documents")))),
    // LSH banding audit: recall/precision of band collisions vs exact
    // all-pairs Jaccard on a bounded hash-smallest sample — the harness
    // that validates band/row parameters against the actual corpus
    "dedup_eval" -> ((s, dir) =>
      Dedup.lshEval(Tables.read(s, dir, "documents"))),
    // quality-aware canonical selection: per near-dup cluster keep the
    // highest-quality member, not the smallest id
    "dedup_canonical" -> ((s, dir) =>
      Dedup.canonical(Tables.read(s, dir, "documents"))),
    // per-document token statistics
    "text_stats" -> ((s, dir) =>
      TextOps.stats(Tables.read(s, dir, "documents"))),
    // per-doc character Shannon entropy — the compression-ratio quality
    // signal (fixed-point log2 terms, codepoint-exact counts)
    "text_entropy" -> ((s, dir) =>
      TextOps.charEntropy(Tables.read(s, dir, "documents"))),
    // feature-hashing vectorizer: tokens → 256 fixed slots, sparse
    // long-format counts (classifier featurization with no vocabulary)
    "text_hash_features" -> ((s, dir) =>
      TextOps.hashFeatures(Tables.read(s, dir, "documents"))),
    // logistic-regression TRAINING over the hashed features (full-batch
    // GD in pure dataflow; fpSum margins/gradients, q9'd sigmoid) —
    // oracle = the identical 3 iterations unrolled as CTEs
    "lr_train" -> ((s, dir) =>
      graft.operators.Classifier.lrTrain(Tables.read(s, dir, "documents"))),
    // scoring audit with the trained model: per-lang prediction counts
    "lr_score" -> ((s, dir) =>
      graft.operators.Classifier.lrScore(Tables.read(s, dir, "documents"))),
    // calibration audit: per-decile reliability bins (n, positives,
    // exact fixed-point mean p) — the check before trusting thresholds
    "lr_calibration" -> ((s, dir) =>
      graft.operators.Classifier.lrCalibration(Tables.read(s, dir, "documents"))),
    // ROC AUC via the Mann-Whitney identity (AUC = normalized U): ranks
    // from cumulative counts over the q9 score GRID, all-BIGINT rank
    // arithmetic — the engine's MWU core as model evaluation
    "lr_auc" -> ((s, dir) =>
      graft.operators.Classifier.lrAuc(Tables.read(s, dir, "documents"))),
    // composite quality score over the stats
    "text_quality" -> ((s, dir) =>
      TextOps.stats(Tables.read(s, dir, "documents"))
        .withColumn("quality", expr(TextOps.qualityExpr))
        .select("doc_id", "lang", "n_tokens", "ttr", "stop_ratio", "quality")),
    // content fingerprint (md5) + byte length
    "doc_fingerprint" -> ((s, dir) =>
      TextOps.fingerprint(Tables.read(s, dir, "documents"))),
    // rolling-hash fingerprint via the custom codegen Expression
    // (codepoint polynomial — mirrored in DuckDB by Parity.rollingHashDuck)
    // winnowed fingerprints (Schleimer et al. 2003 / MOSS): the
    // position-robust exact-substring selection — guarantees any match
    // of length ≥ w+k-1 survives while keeping ~2/(w+1) of the hashes
    "doc_winnow" -> ((s, dir) =>
      TextOps.winnow(Tables.read(s, dir, "documents"))),
    // winnow→dedup consumer: doc pairs by shared winnowed fingerprints
    // (the MOSS overlap report) — catches the single-insertion shifted
    // copy that fixed-stride span hashing (dedup_spans) misses
    "dedup_winnow" -> ((s, dir) =>
      TextOps.winnowOverlap(Tables.read(s, dir, "documents"))),
    // bounded-candidate sibling: LSH bands over the winnow fp sets cut
    // the fp-co-occurrence pair mass to bucket co-occupancy; exact
    // containment verify only inside candidates (the sf1 scale path for
    // the realized-overlap-proportional family)
    "dedup_winnow_banded" -> ((s, dir) =>
      TextOps.winnowOverlapBanded(Tables.read(s, dir, "documents"))),
    "doc_rolling_hash" -> ((s, dir) =>
      Tables.read(s, dir, "documents")
        .selectExpr("doc_id", "rolling_hash(trim(text)) as rh")),
    // stopword-profile language ID (deterministic argmax)
    "lang_id" -> ((s, dir) =>
      TextOps.langId(Tables.read(s, dir, "documents"))
        .select("doc_id", "lang", "pred_lang", "is_correct")),
    // brute-force cosine top-10 for every 50th vector
    "ann_cosine" -> ((s, dir) =>
      Similarity.cosineTopK(Tables.read(s, dir, "embeddings"), k = 10, queryEvery = 50)),
    // exact near-dup within label blocks (oracle-checked counterpart of
    // the LSH variant)
    "emb_neardup_exact" -> ((s, dir) =>
      Similarity.nearDupExact(Tables.read(s, dir, "embeddings"), threshold = 0.3)),
    // IVF approximate top-k — coarse-quantizer scale path. The k-means
    // fit is the one SQL-inexpressible estimator, so the gate row is the
    // RECALL PROBE: per-query recall@10 of ivfTopK vs the exact
    // cosineTopK, thresholded (Similarity.ivfRecall scaladoc) — the
    // oracle reproduces the query-id set and asserts recall_ok on each,
    // turning the round-3 rows-only carve-out into a hash-checked signal
    "ann_ivf" -> ((s, dir) =>
      Similarity.ivfRecall(Tables.read(s, dir, "embeddings"), k = 10, queryEvery = 50)),
    // IVF with a FIXED coarse quantizer (label partition = inverted file):
    // identical probe/scan machinery, fully hash-checked — the oracle
    // covers centroid build, nprobe selection, and the cell-pruned rerank
    "ann_ivf_label" -> ((s, dir) =>
      Similarity.ivfLabelTopK(Tables.read(s, dir, "embeddings"))),
    // LSH-bucketed near-duplicate embedding pairs (deterministic ±1
    // hyperplanes over fixed-point projections → full hash check)
    "emb_neardup" -> ((s, dir) =>
      Similarity.nearDupPairs(Tables.read(s, dir, "embeddings"), threshold = 0.35)),
    // multi-probe LSH (radius-1): candidates are pairs whose signatures
    // differ in <= 1 bit — the recall knob without extra hash tables;
    // probe fan-out rides the (id, bucket) relation, never embeddings
    "emb_neardup_probe" -> ((s, dir) =>
      Similarity.nearDupPairsProbe(Tables.read(s, dir, "embeddings"))),
    // canonical text normalization (trim → collapse spaces → lower) with
    // a normalized-content fingerprint
    "text_normalize" -> ((s, dir) =>
      Tables.read(s, dir, "documents").selectExpr(
        "doc_id",
        "lower(trim(regexp_replace(text, '  +', ' '))) as norm_text",
        "md5(lower(trim(regexp_replace(text, '  +', ' ')))) as norm_fp",
        "cast(length(lower(trim(regexp_replace(text, '  +', ' ')))) as bigint) as norm_len")),
    // BPE-ish regex sub-word token counts
    "text_bpe_tokens" -> ((s, dir) =>
      TextOps.bpeTokens(Tables.read(s, dir, "documents"))),
    // corpus vocabulary: token frequency + document frequency, top-100
    // (explode → two-level count; the token-counting op of the text suite)
    "corpus_vocab" -> ((s, dir) =>
      Tables.read(s, dir, "documents")
        .select(col("doc_id"), explode(expr("split(trim(text), ' ')")).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("freq"), countDistinct("doc_id").as("docfreq"))
        .orderBy(col("freq").desc, col("token").asc)
        .limit(100)),
    // per-label centroid via array explode + fixed-point mean (the
    // aggregate building block of IVF training, oracle-checked)
    "emb_centroids" -> ((s, dir) =>
      Tables.read(s, dir, "embeddings")
        .select(col("label").cast("long").as("label"),
          explode(expr(s"sequence(1, $dim)")).as("dim"), col("embedding"))
        .withColumn("v", expr("cast(element_at(embedding, dim) as double)"))
        .groupBy(col("label"), col("dim").cast("long").as("dim"))
        .agg(count(lit(1)).as("n"), expr(Parity.fpSum("v")).as("vsum"))
        .withColumn("centroid", col("vsum") / col("n").cast("double"))),
    // multimodal: REAL image decode — genuine PNG bytes (encoded
    // in-flight with doc_id-derived dims) parsed by the JDK's actual
    // codec; the oracle predicts the decoded width/height arithmetically.
    // n_bytes is excluded: PNG compression may vary across JDK versions
    "multimodal_meta" -> ((s, dir) =>
      Multimodal.decodeMeta(s,
          Multimodal.pngAssets(s, Tables.read(s, dir, "documents")),
          Multimodal.imageDecode)
        .select("doc_id", "width", "height", "channels", "format")),
    // Gopher-style within-document repetition signals
    "text_repetition" -> ((s, dir) =>
      TextOps.repetition(Tables.read(s, dir, "documents"))),
    // sparse inverted-index retrieval: TF-IDF posting-list join with
    // document-frequency stop-term pruning — the term-at-a-time twin of
    // the dense ann_* paths; score sums are fixed-point, fully hash-checked
    "sparse_retrieval" -> ((s, dir) =>
      TextOps.sparseRetrieval(Tables.read(s, dir, "documents"))),
    // query-by-example BM25 over the same 3-gram posting index
    "bm25_retrieval" -> ((s, dir) =>
      TextOps.bm25Retrieval(Tables.read(s, dir, "documents"))),
    // ...and its fixed-query bench sibling (constant query membership —
    // completes the fixed-query family: sparse / ANN / BM25)
    "bm25_fixedq" -> ((s, dir) =>
      TextOps.bm25Retrieval(Tables.read(s, dir, "documents"), maxQ = 500L)),
    // BM25 served from the STORED sparse index (verdict r10 #1): the
    // rebuild gates above pay a full corpus tokenize + posting/df/len
    // build inside every query — bm25_fixedq proved that build is the
    // whole 6.2x scale row. Here every score input reads from the
    // standing token-bucketed relations (postings carry tf and doc
    // length; dfstats the df moments; meta nn + tot => idf, avglen), so
    // a query pays only its own terms' posting lists. Shares
    // bm25_retrieval's oracle: stored == rebuilt, bit for bit
    "bm25_stored" -> ((s, dir) =>
      graft.operators.SparseIndex.bm25RetrievalStored(
        s, cachedFullIndex(s, dir))),
    // ...fixed-query sibling: constant query membership over the cached
    // standing index — the serve-only row whose scale slope is the
    // per-query cost as the index grows
    "bm25_serve_fixedq" -> ((s, dir) =>
      graft.operators.SparseIndex.bm25RetrievalStored(
        s, cachedFullIndex(s, dir), maxQ = 500L)),
    // ...and BM25 over the MUTATED standing index (write 2/3 -> append
    // 1/3 -> delete %5==3 -> compact): proves the new meta moments (tot
    // for avglen) merge exactly under the append/delete algebra — the
    // survivors-rebuild oracle is the same bit-exact contract the
    // sparse lifecycle gates carry
    "bm25_lifecycle_serve" -> ((s, dir) =>
      graft.operators.SparseIndex.bm25RetrievalStored(
        s, cachedLifecycleIndex(s, dir))),
    // exact-phrase search over positional postings (Lucene PhraseQuery
    // shape): data-driven top-trigram query, broadcast 1-row phrase,
    // (doc, pos+offset) posting-adjacency joins
    "phrase_search" -> ((s, dir) =>
      TextOps.phraseSearch(Tables.read(s, dir, "documents"))),
    // all-pairs similarity join: every doc pair with TF-IDF cosine >= t
    // via the Bayardo prefix filter; oracle = the naive exact self-join,
    // so hash equality proves the filter lossless
    // sparse retrieval served from the STORED index: the TF-IDF posting
    // table persisted token-bucketed (write once, query many — the
    // Lucene-segment shape), so the retrieval's token join inherits the
    // bucket distribution on BOTH sides and plans with zero exchanges.
    // Shares sparse_retrieval's oracle: stored == rebuilt, bit for bit
    "sparse_stored" -> ((s, dir) => {
      // cache key = dataKey: injective dirKey (sanitized tail + full
      // SHA-256 — no two data dirs alias one cached index) PLUS the
      // content snapshot id (regenerated data under the same path rolls
      // the key, advice r10). The Hadoop-FS path-exists check rebuilds
      // if tmp was reaped under a live catalog entry, and works against
      // cluster URIs too.
      val key = dataKey(s, dir)
      val tbl = s"graft_postings_bucketed_$key"
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_bucket_$key/postings"
      if (!s.catalog.tableExists(tbl) || !graft.operators.IndexFs.exists(s, path)) {
        s.sql(s"drop table if exists $tbl")
        TextOps.sparsePostings(Tables.read(s, dir, "documents"))
          .write.bucketBy(graft.operators.SparseIndex.DefaultBuckets, "token")
          .sortBy("token")
          .option("path", path).format("parquet").mode("overwrite").saveAsTable(tbl)
      }
      TextOps.sparseRetrievalFrom(s.table(tbl))
    }),
    // sparse index LIFECYCLE (the IVF-PQ verbs on the posting index):
    // raw tf postings append as segments, df moments add/subtract as
    // exact BIGINTs, tfidf recomputes from the merged moments at serve —
    // so every physical history below serves bit-identically to a
    // from-scratch build, proven by sharing sparse_retrieval's oracle.
    // append: index two-thirds, fold the last third in as a shard
    "sparse_append" -> ((s, dir) => {
      val idx = graft.Scratch.dir("graft_sidx_app_")
      val docs = Tables.read(s, dir, "documents")
      graft.operators.SparseIndex.writeSparseIndex(
        docs.filter(col("doc_id") % 3 =!= 0), idx)
      graft.operators.SparseIndex.appendSparseIndex(
        docs.filter(col("doc_id") % 3 === 0), idx)
      graft.operators.SparseIndex.sparseRetrievalStored(s, idx)
    }),
    // delete: tombstones + df downdate; oracle = survivors-only rebuild
    "sparse_delete" -> ((s, dir) => {
      val idx = graft.Scratch.dir("graft_sidx_del_")
      val docs = Tables.read(s, dir, "documents")
      graft.operators.SparseIndex.writeSparseIndex(docs, idx)
      graft.operators.SparseIndex.deleteFromSparseIndex(
        docs.filter(col("doc_id") % 5 === 3), idx)
      graft.operators.SparseIndex.sparseRetrievalStored(s, idx)
    }),
    // full lifecycle: write → append → delete → compact (segments fold
    // to one file per bucket, tombstones apply physically) → serve;
    // same survivors oracle as the delete gate — three physical
    // histories, one logical answer
    "sparse_lifecycle" -> ((s, dir) => {
      val idx = graft.Scratch.dir("graft_sidx_cmp_")
      val docs = Tables.read(s, dir, "documents")
      graft.operators.SparseIndex.writeSparseIndex(
        docs.filter(col("doc_id") % 3 =!= 0), idx)
      graft.operators.SparseIndex.appendSparseIndex(
        docs.filter(col("doc_id") % 3 === 0), idx)
      graft.operators.SparseIndex.deleteFromSparseIndex(
        docs.filter(col("doc_id") % 5 === 3), idx)
      graft.operators.SparseIndex.compactSparseIndex(s, idx)
      graft.operators.SparseIndex.sparseRetrievalStored(s, idx)
    }),
    // SERVE-ONLY leg of the lifecycle (verdict r9 #3): the build-
    // inclusive gates above time build+mutate+serve in one query, so
    // their scale rows measure BUILD scaling. Here the full lifecycle
    // runs ONCE per data dir into a deterministic cached location (the
    // sparse_stored cache-or-compute discipline) and the timed query is
    // the serve alone — a bench min-of-3 over this gate measures what a
    // standing index costs per query. Same survivors oracle as
    // sparse_lifecycle: the physical history cannot change the answer.
    "sparse_lifecycle_serve" -> ((s, dir) => {
      graft.operators.SparseIndex.sparseRetrievalStored(
        s, cachedLifecycleIndex(s, dir))
    }),
    // ...and its FIXED-QUERY sibling (verdict r9 #6): the default
    // every-50th-id query set grows with the corpus, so even a
    // serve-only row still scales as queries×postings. Capping query
    // membership at a constant (doc_id < 500 — exactly the ids present
    // at every SF; the decontaminate_fixed discipline) isolates the
    // per-query serve cost as the index grows.
    "sparse_serve_fixedq" -> ((s, dir) => {
      graft.operators.SparseIndex.sparseRetrievalStored(
        s, cachedLifecycleIndex(s, dir), maxQ = 500L)
    }),
    // bounded-candidate sibling: MinHash-LSH bands over each doc's
    // token set, exact cosine verify only inside candidates (the sf1
    // scale path for the Bayardo family)
    "allpairs_banded" -> ((s, dir) =>
      TextOps.allPairsBanded(Tables.read(s, dir, "documents"))),
    "allpairs_similarity" -> ((s, dir) =>
      TextOps.allPairsSimilarity(Tables.read(s, dir, "documents"))),
    // hybrid dense+sparse retrieval: reciprocal-rank fusion of ann_cosine
    // and sparse_retrieval — rank-only arithmetic, fully hash-checked
    "hybrid_rrf" -> ((s, dir) =>
      Similarity.hybridRrf(
        Tables.read(s, dir, "documents"), Tables.read(s, dir, "embeddings"))),
    // kNN majority-vote weak labeling over the dense retriever, with the
    // leave-one-out accuracy flag
    "knn_classify" -> ((s, dir) =>
      Similarity.knnClassify(Tables.read(s, dir, "embeddings"))),
    // the bounded-scale weak labeler: votes from the fixed-quantizer
    // IVF neighborhood (probed cells only) — classification cost tracks
    // cells-scanned, never |corpus|²; fully hash-checked
    "knn_classify_ivf" -> ((s, dir) =>
      Similarity.knnClassifyIvf(Tables.read(s, dir, "embeddings"))),
    // SemDeDup: embedding-space near-dup clusters, keep one
    // representative per cluster
    "semantic_dedup" -> ((s, dir) =>
      Similarity.semanticDedup(Tables.read(s, dir, "embeddings"))),
    // per-document top-3 tokens by TF-IDF (quantized idf, deterministic
    // tie-break)
    "tfidf_top" -> ((s, dir) =>
      TextOps.tfIdfTop(Tables.read(s, dir, "documents"))),
    // benchmark decontamination: best eval-set match by word-3-gram
    // containment (broadcast eval side)
    "decontaminate" -> ((s, dir) =>
      Dedup.decontaminate(Tables.read(s, dir, "documents"))),
    // position-robust decontamination: MOSS winnowed fingerprints vs the
    // eval set (catches verbatim quotes inside long docs and survives
    // the single-char edits that shift fixed-stride span hashes)
    "decontaminate_winnow" -> ((s, dir) =>
      Dedup.decontaminateWinnow(Tables.read(s, dir, "documents"))),
    // same semantics via the inverted-index join — the shape for LARGE
    // eval sets that cannot broadcast (both variants share one oracle, so
    // the gate proves them bit-identical)
    "decontaminate_join" -> ((s, dir) =>
      Dedup.decontaminateJoin(Tables.read(s, dir, "documents"))),
    // bloom-filter decontamination screen: the eval universe compresses
    // to a constant-size bit-position set (broadcast no matter how big
    // the eval corpus); per-doc bloom-positive shingle fraction is a
    // certified upper bound on containment (no false negatives)
    "decontaminate_bloom" -> ((s, dir) =>
      Dedup.decontaminateBloom(Tables.read(s, dir, "documents"))),
    // FIXED-eval decontamination — benchmark semantics at scale: the
    // eval set is pinned to a constant membership (6 docs at every SF)
    // instead of the corpus-proportional every-97th carve, so the
    // doc×eval co-occurrence mass grows linearly with the corpus. This
    // is the production contamination check (the benchmark does not
    // grow because the corpus did); the uncapped variants above remain
    // the large-eval oracle anchors
    "decontaminate_fixed" -> ((s, dir) =>
      Dedup.decontaminate(Tables.read(s, dir, "documents"), maxEvalId = 582L)),
    "decontaminate_join_fixed" -> ((s, dir) =>
      Dedup.decontaminateJoin(Tables.read(s, dir, "documents"),
        maxEvalId = 582L)),
    "decontaminate_winnow_fixed" -> ((s, dir) =>
      Dedup.decontaminateWinnow(Tables.read(s, dir, "documents"),
        maxEvalId = 582L)),
    // symmetric int8 embedding quantization (long format)
    "emb_quantize" -> ((s, dir) =>
      Similarity.quantizeInt8(Tables.read(s, dir, "embeddings"))),
    // brute-force top-k over scalar-quantized (SQ8) codes: per-row
    // quantize->dequantize round-trip (4x scan bandwidth cut, no
    // codebook), codegen'd chain dot, per-query top-k window
    "ann_sq" -> ((s, dir) =>
      Similarity.sqAdcTopK(Tables.read(s, dir, "embeddings"))),
    // multimodal resize: REAL decode → Graphics2D rescale → PNG
    // re-encode → decode AGAIN, so the checked dims come out of a full
    // codec round trip over the transformed bytes, not from bookkeeping
    "multimodal_resize" -> ((s, dir) => {
      import s.implicits._
      val resized = Multimodal.imageResize(s,
        Multimodal.pngAssets(s, Tables.read(s, dir, "documents")))
      Multimodal.decodeMeta(s,
          resized.map(r => Multimodal.Asset(r.doc_id, r.blob)),
          Multimodal.imageDecode)
        .select("doc_id", "width", "height", "channels", "format")
    }),
    // REAL multi-frame codec sampling: animated GIFs encoded in-flight,
    // frames enumerated and every 2nd one DECODED through the JDK
    // reader; the oracle predicts per-frame dims + frame count from the
    // encode parameters while the values come out of a genuine
    // multi-frame container round trip
    "multimodal_frames" -> ((s, dir) =>
      Multimodal.gifFrameSample(s,
        Multimodal.gifAssets(s, Tables.read(s, dir, "documents"))).toDF()),
    // REAL VIDEO decode: MJPEG streams (concatenated JFIF frames — the
    // actual Motion-JPEG container payload) encoded in-flight, demuxed
    // at the JPEG marker level, every 2nd frame DECODED through the JDK
    // codec; the oracle predicts per-frame dims + frame count from the
    // encode parameters while the values come out of a genuine
    // demux → decode round trip
    "multimodal_video" -> ((s, dir) =>
      Multimodal.videoFrameSample(s,
        Multimodal.mjpegAssets(s, Tables.read(s, dir, "documents"))).toDF()),
    // second real container family: RIFF/AVI with uncompressed BGR DIB
    // frames — pure-JVM demux AND pixel decode, so the gate checks
    // decoded pixel arithmetic (corner byte + full pixel sum), not just
    // raster dims; compressed-codec fourccs are the fallback boundary
    "multimodal_video_avi" -> ((s, dir) =>
      Multimodal.aviFrameSample(s,
        Multimodal.aviAssets(s, Tables.read(s, dir, "documents"))).toDF()),
    // genuinely COMPRESSED codec decoded pure-JVM: BI_RLE8 frames
    // (run-length packets + palette) decompressed with a strict decoder
    // that rejects any structural violation; gate checks decoded pixels
    "multimodal_video_rle" -> ((s, dir) =>
      Multimodal.aviFrameSample(s,
        Multimodal.aviRle8Assets(s, Tables.read(s, dir, "documents"))).toDF()),
    // REAL feature extraction: per-channel color histogram of the
    // DECODED raster (encode → decode → featurize, all genuine; pixel
    // content is arithmetic in (doc_id,x,y) so the oracle reproduces
    // the decoded histogram bit-exactly as integer counts)
    "multimodal_features" -> ((s, dir) =>
      Multimodal.imageHistogram(s,
        Multimodal.pngAssets(s, Tables.read(s, dir, "documents")))),
    // ...and the DECODE SIDECAR serve (verdict r12 #5): decoded
    // per-asset features cached once per corpus generation keyed by
    // dataKey — the multimodal family is decode-mass-linear (8-9× at
    // 10× data), so repeated analytics must serve features from a
    // standing artifact instead of re-decoding every asset per run
    // (the data_card_ndin discipline applied to decodes). Shares
    // multimodal_features' oracle verbatim: stored == recomputed,
    // bit for bit
    "multimodal_features_stored" -> ((s, dir) => {
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_mmfeat_" +
        dataKey(s, dir)
      if (!graft.operators.IndexFs.exists(s, s"$path/_SUCCESS"))
        Multimodal.imageHistogram(s,
            Multimodal.pngAssets(s, Tables.read(s, dir, "documents")))
          .write.mode("overwrite").parquet(path)
      s.read.schema("doc_id long, channel long, bin long, cnt long")
        .parquet(path)
    }),
    // REAL audio features from raw PCM bytes: little-endian int16 parse
    // on the executors -> exact integer energy + zero-crossing counts
    // (the silence/voicing gates run before any audio model)
    "mm_audio" -> ((s, dir) =>
      Multimodal.audioFeatures(s,
        Multimodal.audioAssets(s, Tables.read(s, dir, "documents")))),
    // REAL image-quality screen: grayscale + horizontal edge-energy sums
    // over the DECODED raster (the blur/flat filter run before paying
    // for model inference); oracle reproduces the decoded sums exactly
    "mm_quality" -> ((s, dir) =>
      Multimodal.imageQuality(s,
        Multimodal.pngAssets(s, Tables.read(s, dir, "documents")))),
    // REAL learned weights through the BatchModel inference contract:
    // lrTrain's weight vector (bucket-bounded collect) scores every
    // document blob inside inferFeatures' partition-batched runner; the
    // JVM featurization/margin mirrors the relational spelling on the
    // same fixed-point grid, so the oracle (unrolled training CTEs +
    // one scoring pass, margin float-round-tripped like the Feature
    // vector) hash-checks trained-model inference end to end
    "mm_lr_infer" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val buckets = 256
      val weights = new Array[Double](buckets)
      graft.operators.Classifier.lrTrain(docs, buckets).collect()
        .foreach(r => weights(r.getLong(0).toInt) = r.getDouble(1))
      Multimodal.inferFeatures(s, Multimodal.assetsFromDocs(s, docs),
          new Multimodal.LrTextModel(weights)).toDF()
        .selectExpr("doc_id", "cast(element_at(embedding, 1) as double) as m")
        .selectExpr("doc_id", "m",
          s"${Parity.q9("1e0 / (1e0 + exp(-m))")} as p9")
    }),
    // distributed NON-LINEAR model training: one-hidden-layer ReLU MLP,
    // full-batch GD in pure dataflow (fixed-point gradients, exact ReLU,
    // q9'd output sigmoid); dumps both weight layers
    "mlp_train" -> ((s, dir) =>
      graft.operators.Mlp.mlpTrain(Tables.read(s, dir, "documents"))),
    // the trained MLP served through the partition-batched BatchModel
    // contract — a REAL learned non-linear model behind the model
    // runtime; the imperative forward pass is bit-equal to the
    // relational spelling the oracle replays
    "mm_mlp_infer" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val (m1, m2) = graft.operators.Mlp.trainedArrays(docs)
      Multimodal.inferFeatures(s, Multimodal.assetsFromDocs(s, docs),
          new Multimodal.MlpTextModel(m1, m2)).toDF()
        .selectExpr("doc_id", "cast(element_at(embedding, 1) as double) as m")
        .selectExpr("doc_id", "m",
          s"${Parity.q9("1e0 / (1e0 + exp(-m))")} as p9")
    }),
    // the serving path proven WEIGHT-SOURCE-AGNOSTIC: train → dump the
    // (layer, i, j, w9) artifact to parquet → load into the generalized
    // L-layer stack model → infer. Shares mm_mlp_infer's oracle, so the
    // stored round-trip is hash-equal to in-memory-trained inference
    "mm_mlp_stored" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val art = graft.Scratch.dir("graft_mlp_w_")
      graft.operators.Mlp.mlpTrain(docs).write.mode("overwrite").parquet(art)
      val layers = graft.operators.Mlp.loadWeights(s, art)
      Multimodal.inferFeatures(s, Multimodal.assetsFromDocs(s, docs),
          new Multimodal.MlpStackModel(layers)).toDF()
        .selectExpr("doc_id", "cast(element_at(embedding, 1) as double) as m")
        .selectExpr("doc_id", "m",
          s"${Parity.q9("1e0 / (1e0 + exp(-m))")} as p9")
    }),
    // token-window chunking with overlap (context-window preparation)
    "text_chunk" -> ((s, dir) =>
      TextOps.chunk(Tables.read(s, dir, "documents"))),
    // deterministic shuffle + contiguous-fill sequence packing into
    // fixed-token training bins (one window cumsum per language)
    "text_pack" -> ((s, dir) =>
      TextOps.packBins(Tables.read(s, dir, "documents"))),
    // unigram-LM mean token log-probability per document (model-based
    // quality filter; fixed-point summation keeps ln cross-engine exact)
    "text_logprob" -> ((s, dir) =>
      TextOps.unigramLogProb(Tables.read(s, dir, "documents"))),
    // CCNet-style quality pass: per-language bigram add-one LM trained
    // on the reference quarter, per-doc perplexity, head/middle/tail
    // terciles — all counts exact BIGINTs, ln on the 1e-9 unit grid
    "lm_perplexity" -> ((s, dir) =>
      Lm.perplexity(Tables.read(s, dir, "documents"))),
    // DSIR data selection (Xie et al. 2023): hashed-bigram importance
    // log-ratios (target = 'en' slice vs raw corpus), Gumbel-top-k
    // resampling from doc-id hashes — constant-size feature space means
    // both distribution estimates broadcast at any corpus size
    "dsir_select" -> ((s, dir) =>
      Lm.dsirSelect(Tables.read(s, dir, "documents"))),
    // curriculum composition: perplexity phases (head first) →
    // reproducible sharded shuffle → token-budget packing, no global
    // sort anywhere — the easy-to-hard training order
    "pipeline_curriculum" -> ((s, dir) =>
      Lm.curriculum(Tables.read(s, dir, "documents"))),
    // Count-Min sketch heavy hitters: top-20 tokens by exact frequency
    // with their CMS estimates — the bounded-memory counter grid is
    // CW-deterministic, so even the sketch's overcounts oracle-check
    "sketch_heavy" -> ((s, dir) =>
      TextOps.cmsHeavy(Tables.read(s, dir, "documents"))),
    // corpus-level line dedup (the RefinedWeb pass): per-doc duplicated-
    // line counts + fingerprint of the text left after removing lines
    // that repeat anywhere in the corpus
    "dedup_lines" -> ((s, dir) =>
      Dedup.lineDedup(Tables.read(s, dir, "documents"))),
    // incremental dedup: today's shard vs the historical fingerprint
    // index + within-batch keeper — per-doc kept/dup_history/dup_batch
    "dedup_incremental" -> ((s, dir) =>
      Dedup.incremental(Tables.read(s, dir, "documents"))),
    // bloom-prescreened incremental dedup: constant-size history bloom
    // gates the fp join; no false negatives ⇒ verdicts identical to
    // dedup_incremental, proven by sharing its oracle
    "dedup_incremental_bloom" -> ((s, dir) =>
      Dedup.incrementalBloom(Tables.read(s, dir, "documents"))),
    // incremental NEAR-dup: today's shard vs the historical WINNOW
    // fingerprint index (position-robust — catches the shifted
    // near-copy exact hashes miss), exact integer containment
    // predicate, per-doc kept/dup_history/dup_batch
    "dedup_incremental_winnow" -> ((s, dir) =>
      Dedup.incrementalWinnow(Tables.read(s, dir, "documents"))),
    // bloom-prescreened incremental near-dup: constant-size history-fp
    // bloom certifies absent fingerprints before the history join; no
    // false negatives ⇒ verdicts identical to dedup_incremental_winnow,
    // proven by sharing its oracle
    "dedup_incremental_winnow_bloom" -> ((s, dir) =>
      Dedup.incrementalWinnowBloom(Tables.read(s, dir, "documents"))),
    // BANDED incremental near-dup: the bounded-candidate sibling — LSH
    // bands over per-doc MinHash signatures of the df-cut winnow-fp set
    // generate candidates (bucket co-occupancy, never fp co-occurrence
    // mass), exact integer containment verify inside candidates only;
    // the full-probe rows above stay as the exactness anchors
    "dedup_incremental_winnow_banded" -> ((s, dir) =>
      Dedup.incrementalWinnowBanded(Tables.read(s, dir, "documents"))),
    // STANDING near-dup index (the sparse/ANN stored-index discipline
    // applied to incremental crawl dedup): the history slice is a
    // cache-or-compute stored artifact, the timed row is the shard
    // SERVE — broadcast shard bands into the bucketed band table,
    // verify per candidate against the doc_id-bucketed sets table
    "neardup_index_stored" -> ((s, dir) =>
      graft.operators.NearDupIndex.serveNearDup(s, cachedNearDupIndex(s, dir),
        Tables.read(s, dir, "documents").filter(col("doc_id") % 5 >= 4))),
    // the same serve over a MUTATED history (build 3/5 + append the 4th
    // fifth + tombstoned %10==1 ids + compact): one declarative oracle
    // proves the whole verb algebra — append extends the candidate set,
    // tombstones hide, compaction is invisible, the stop cut stays
    // frozen at the BUILD corpus
    "neardup_lifecycle_serve" -> ((s, dir) =>
      graft.operators.NearDupIndex.serveNearDup(s,
        cachedNearDupLifecycleIndex(s, dir),
        Tables.read(s, dir, "documents").filter(col("doc_id") % 5 >= 4))),
    // INDEX-HEALTH data card (verdict r13 #5): the drift metrics the
    // lifecycle's append logged to `dir/driftlog` — frozen-stop-cut
    // decay + hot-bucket-cap growth — surfaced as the datasheet row a
    // pipeline reads its rebuild triggers from. The Spark side reads
    // the STORED artifact; the oracle recomputes every metric from the
    // raw table (artifact values vs an independent derivation — the
    // serveSql discipline, strictly stronger than re-reading the file)
    "data_card_ndhealth" -> ((s, dir) =>
      graft.operators.Curation.indexHealthCard(s,
        cachedNearDupLifecycleIndex(s, dir))),
    // REBUILD-ON-TRIGGER (verdict r14 #3 — the verb that CONSUMES the
    // health card's rebuild triggers): a fresh seed index (%3==0 slice,
    // build %5<3 + append %5==3) takes two drift-trigger decisions —
    // a 'hold' arm whose thresholds no observation exceeds (no-op: the
    // driftlog survives, card still reads the append) and a 'trip' arm
    // whose thresholds any observation exceeds (rebuild from the live
    // %5<4 slice: both frozen cuts re-freeze at today's corpus, the
    // driftlog resets, and the post card reads all-zeros — also the
    // never-appended-card path, advice r14). The oracle recomputes the
    // pre-decision card from the raw table (healthSql) and pins both
    // decisions and both post-card states declaratively.
    "neardup_rebuild_drifted" -> ((s, dir) => {
      val ND = graft.operators.NearDupIndex
      val docs = Tables.read(s, dir, "documents")
        .filter(col("doc_id") % 3 === 0)
      val live = docs.filter(col("doc_id") % 5 < 4)
      val idx = graft.Scratch.dir("graft_ndrebuild_")
      ND.writeNearDupIndex(docs.filter(col("doc_id") % 5 < 3), idx)
      ND.appendNearDupIndex(docs.filter(col("doc_id") % 5 === 3), idx)
      val hold = ND.rebuildNearDupIndexIfDrifted(live, idx,
        maxNewBoilerplate = 1.0, maxStaleStop = 1.0,
        maxCapGrown = Long.MaxValue)
      val holdPost = graft.operators.Curation.indexHealthCard(s, idx)
        .head.getLong(0)
      val trip = ND.rebuildNearDupIndexIfDrifted(live, idx,
        maxNewBoilerplate = -1.0, maxStaleStop = 2.0, maxCapGrown = -1L)
      val tripPost = graft.operators.Curation.indexHealthCard(s, idx)
        .head.getLong(0)
      import s.implicits._
      Seq(
        ("hold", hold.rebuilt, hold.nAppends, hold.newBoilerplateFracMax,
          hold.staleStopFracMax, hold.capGrownBucketsMax, holdPost),
        ("trip", trip.rebuilt, trip.nAppends, trip.newBoilerplateFracMax,
          trip.staleStopFracMax, trip.capGrownBucketsMax, tripPost))
        .toDF("arm", "rebuilt", "n_appends", "new_boilerplate_frac_max",
          "stale_stop_frac_max", "cap_grown_buckets_max", "post_n_appends")
    }),
    // INTRA-document repeated-line removal (boilerplate stripping): first
    // occurrence kept, later repeats of the same line dropped, document
    // reassembled — one exchange total (the doc_id repartition feeds both
    // the first-occurrence window and the reassembly agg)
    "dedup_within" -> ((s, dir) =>
      Dedup.withinDocDedup(Tables.read(s, dir, "documents"))),
    // per-SOURCE boilerplate stripping (the CCNet per-domain pass): a
    // line present in >= 5% of its own source's docs (and >= 2 of them,
    // the sourceBoilerplate defaults) is template, invisible to both the
    // corpus-global and intra-doc passes; boiler fp set is the small
    // join-back side
    "text_boilerplate" -> ((s, dir) =>
      Dedup.sourceBoilerplate(Tables.read(s, dir, "documents"))),
    // paragraph-level langid (CCNet scores paragraphs, not docs): per
    // line langid -> per-doc majority language, share, doc-label
    // agreement — the code-switching detector
    "text_langmix" -> ((s, dir) =>
      TextOps.langMix(Tables.read(s, dir, "documents"))),
    // vocab-size planning curve: token coverage of the top-k words via
    // two-level ranking (freq-grid window + within-class row_number —
    // never a single-partition vocab sort)
    "vocab_coverage" -> ((s, dir) =>
      TextOps.vocabCoverage(Tables.read(s, dir, "documents"))),
    // distributed BPE merge training: 8 rounds over the frequency-weighted
    // word vocabulary (corpus touched once; per-round work vocab-sized);
    // oracle = the identical iteration unrolled as CTEs
    "bpe_train" -> ((s, dir) =>
      graft.operators.Bpe.train(Tables.read(s, dir, "documents"))),
    // tokenizer ENCODE with the trained merges: per-doc word + post-merge
    // token counts via a corpus⋈vocab join (AQE broadcasts while small)
    "bpe_encode" -> ((s, dir) =>
      graft.operators.Bpe.encode(Tables.read(s, dir, "documents"))),
    // tokenizer APPLY: the ordered subword token stream per document
    // (word/symbol positions from generators; reference-BPE-exact
    // segmentation under the leftmost-first merge contract)
    "bpe_apply" -> ((s, dir) =>
      graft.operators.Bpe.applyTokens(Tables.read(s, dir, "documents"))),
    // tokenizer fertility audit: per-language tokens-per-word and
    // chars-per-token under the trained tokenizer (exact integer totals)
    "bpe_fertility" -> ((s, dir) =>
      graft.operators.Bpe.fertility(Tables.read(s, dir, "documents"))),
    // token-budget data-mix planner: per-language keep rates from target
    // parts + realized deterministic sample (id-hash membership)
    // deterministic global training-order shuffle: CW-scrambled shard +
    // within-shard position, reproducible across runs/partitionings
    "corpus_shuffle" -> ((s, dir) =>
      Sampling.corpusShuffle(Tables.read(s, dir, "documents"))),
    "mix_plan" -> ((s, dir) =>
      Sampling.mixPlan(Tables.read(s, dir, "documents"))),
    // the COMPOSED curation pipeline: quality/lang filter → exact dedup
    // → line dedup → bloom decontamination → mix plan → deterministic
    // shuffle → packing, every stage over the previous stage's
    // survivors, one declarative plan (PlanSpec pins the composition
    // adds no exchange beyond the stages' own)
    // curate -> index -> retrieve composed (4th composed pipeline):
    // row-local filter, one in-stream keeper window, then the standalone
    // BM25 retrieval plan over the survivors
    "pipeline_search" -> ((s, dir) =>
      graft.operators.Curation.searchPipeline(Tables.read(s, dir, "documents"))),
    "pipeline_curate" -> ((s, dir) =>
      graft.operators.Curation.pipeline(Tables.read(s, dir, "documents"))),
    // ...and the pipeline WITH the near-dup keep-first stage composed
    // between exact dedup and line dedup (verdict r10 #2): the banded
    // candidate pass + keep-earliest drop rule the dedup_decide gate
    // proved linear, running where a production corpus pass runs it
    "pipeline_curate_neardup" -> ((s, dir) =>
      graft.operators.Curation.pipeline(Tables.read(s, dir, "documents"),
        nearDup = true)),
    // ...and the same pipeline with the near-dup PAIR relation served
    // from a standing cache-or-compute artifact (verdict r12 #6 — the
    // `data_card_ndin` discipline applied to the curation chain): the
    // banded pass runs once per corpus generation, every pipeline run
    // serves from it. Shares pipeline_curate_neardup's oracle verbatim
    // — the restriction to both-endpoints-surviving makes the supplied
    // and inline spellings exactly equal (see Curation.pipeline doc)
    "pipeline_curate_ndidx" -> ((s, dir) => {
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_ndpairs_" +
        dataKey(s, dir)
      if (!graft.operators.IndexFs.exists(s, s"$path/_SUCCESS"))
        graft.operators.Dedup.ngramJaccardBanded(Tables.read(s, dir, "documents"))
          .select("doc_a", "doc_b").write.mode("overwrite").parquet(path)
      graft.operators.Curation.pipeline(Tables.read(s, dir, "documents"),
        nearDup = true,
        nearDupPairs = Some(s.read.schema("doc_a long, doc_b long")
          .parquet(path)))
    }),
    // L2-normalized embeddings in long format (bit-exact: shared chain
    // dot + one IEEE division; zero vectors excluded)
    "emb_normalize" -> ((s, dir) =>
      Similarity.l2Normalize(Tables.read(s, dir, "embeddings"))),
    // per-DIMENSION z-score whitening (corpus-level moments via fpSum;
    // bit-exact, zero corpus shuffles — dim-bounded stats broadcast)
    "emb_standardize" -> ((s, dir) =>
      Similarity.standardize(Tables.read(s, dir, "embeddings"))),
    // hash-checked distributed PCA: fpSum covariance (corpus never
    // shuffles), fixed power-iteration rounds on the dim²-bounded moment
    // relation (driver-side, Pq-codebook precedent), chain-dot top-2
    // projections — bit-identical to the oracle's unrolled CTE rounds
    // PCA whitening: projections scaled 1/sqrt(lambda) (unit-variance
    // components — the Mahalanobis/calibration preprocessing); lambda is
    // the deflation's own Rayleigh quotient, bit-identical cross-engine
    "emb_whiten" -> ((s, dir) =>
      graft.operators.Pca.whiten(Tables.read(s, dir, "embeddings"))),
    "emb_pca" -> ((s, dir) =>
      graft.operators.Pca.project(Tables.read(s, dir, "embeddings"))),
    // same decomposition at k=4 — the parameterized iterate/deflate
    // loop (Walsh starts, three Rayleigh deflations), oracle = the
    // identical four-component iteration unrolled as CTEs
    "emb_pca_k4" -> ((s, dir) =>
      graft.operators.Pca.project(Tables.read(s, dir, "embeddings"), k = 4)),
    // the treeAggregate moment twin (primitive long arrays per
    // partition, log-depth combine — the 100-TB spelling) sharing
    // emb_pca's oracle: hash equality IS the proof the two moment
    // spellings land on the same fixed-point grid
    "emb_pca_agg" -> ((s, dir) =>
      graft.operators.Pca.projectAgg(Tables.read(s, dir, "embeddings"))),
    // composed embedding pipeline: semantic dedup drops cluster
    // non-keepers, then PCA is FIT ON THE SURVIVORS and projects them —
    // dedup-then-fit, the order a real embedding curation pass uses
    "pipeline_embed" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      val drop = Similarity.semanticDedup(emb)
        .filter(!col("is_keeper")).select("vec_id")
      graft.operators.Pca.project(
        emb.join(drop, Seq("vec_id"), "left_anti").select("vec_id", "embedding"))
    }),
    // product-quantization ENCODE: per-vector code assignments against
    // the fixed deterministic codebook (8 subvectors × 16 codewords) —
    // the stored representation a 100 TB vector store scans
    "emb_pq_codes" -> ((s, dir) =>
      graft.operators.Pq.codes(Tables.read(s, dir, "embeddings"))),
    // PQ asymmetric-distance top-k: exact query subvectors vs corpus
    // CODES (m bytes/vec instead of 4·dim — the memory-bandwidth scale
    // path; composes with IVF cells for IVF-PQ). Whole pipeline
    // hash-checked because the codebook is a fixed literal grid
    "ann_pq" -> ((s, dir) =>
      graft.operators.Pq.adcTopK(Tables.read(s, dir, "embeddings"))),
    // TRAINED-codebook PQ (per-subspace k-means — the real deployment
    // path the fixed grid models): k-means is SQL-inexpressible, so the
    // gate row is the recall probe vs exact L2, thresholded (the ann_ivf
    // pattern; oracle asserts recall_ok per query id)
    "ann_pq_trained" -> ((s, dir) =>
      graft.operators.Pq.trainedRecall(Tables.read(s, dir, "embeddings"))),
    // two-stage retrieval: PQ-ADC shortlist → exact L2 re-rank of ONLY
    // the survivors (the production serving pattern; both stages
    // deterministic, so fully hash-checked end-to-end)
    "ann_rerank" -> ((s, dir) =>
      graft.operators.Pq.adcRerank(Tables.read(s, dir, "embeddings"))),
    // margin-criterion mining (ratio margin over the top-k
    // neighborhood) — the bitext-mining confidence filter
    "ann_margin" -> ((s, dir) =>
      Similarity.marginMine(Tables.read(s, dir, "embeddings"))),
    // the bounded-scale margin miner: same ratio-margin tail over the
    // fixed-quantizer IVF neighborhood (probed cells only) — fully
    // hash-checked, the 100 TB shape of the bitext filter
    "ann_margin_ivf" -> ((s, dir) =>
      Similarity.marginMineIvf(Tables.read(s, dir, "embeddings"))),
    // contrastive training pairs: top-1 positive + hard negatives
    // (ranks 11..15) from one cosineTopK pass — dual-encoder data prep
    "train_pairs" -> ((s, dir) =>
      Similarity.trainPairs(Tables.read(s, dir, "embeddings"))),
    // the bounded-scale contrastive miner: positives + hard negatives
    // from the fixed-quantizer IVF neighborhood (probed cells only) —
    // pair-mining cost tracks cells-scanned, never |corpus|²; the IVF
    // negatives are if anything harder (every candidate shares a cell)
    "train_pairs_ivf" -> ((s, dir) =>
      Similarity.trainPairsIvf(Tables.read(s, dir, "embeddings"))),
    // IVF-PQ: fixed-quantizer cell prune + ADC re-rank over codes — the
    // trillion-scale layout (scan only probed buckets, m bytes/candidate)
    "ann_ivfpq" -> ((s, dir) =>
      graft.operators.Pq.ivfAdcTopK(Tables.read(s, dir, "embeddings"))),
    // IVF-PQ served from the STORED index: the cell-keyed code table is
    // hive-partitioned by cell + a centroid sidecar, written once; the
    // query answers from the stored layout with the code scan statically
    // pruned to the probed cells (PartitionFilters — PlanSpec pins it).
    // Shares ann_ivfpq's oracle: stored == rebuilt, bit for bit
    "ann_ivfpq_stored" -> ((s, dir) => {
      val idx = graft.Scratch.dir("graft_ivfpq_")
      val emb = Tables.read(s, dir, "embeddings")
      graft.operators.Pq.writeIvfPqIndex(emb, idx)
      graft.operators.Pq.ivfAdcTopKStored(emb, idx)
    }),
    // the TRAINED codebook through the full stored lifecycle (verdict
    // r11 #5 — the production shape the sidecar machinery existed for
    // but no gate exercised): train once, build a stored index with the
    // trained quantizer, APPEND a shard (the append encodes through the
    // codebook READ BACK from the sidecar — days-later ingest must use
    // the build's quantizer, not "the same default"), serve both the
    // appended index and a whole-corpus trained build via the sidecar
    // read-back, and emit per-query equality of the full ranked lists.
    // A k-means codebook isn't SQL-expressible, so the DuckDB oracle is
    // the ann_pq_trained pattern: the exact query universe with the
    // boolean asserted true — appended-stored == trained rebuild, per
    // query, n_id AND dist
    "ann_ivfpq_trained_stored" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      val cb = graft.operators.Pq.trainCodebook(emb)
      val whole = graft.Scratch.dir("graft_ivfpq_trw_")
      graft.operators.Pq.writeIvfPqIndex(emb, whole, cb)
      val inc = graft.Scratch.dir("graft_ivfpq_tri_")
      graft.operators.Pq.writeIvfPqIndex(
        emb.filter(col("vec_id") % 3 =!= 0), inc, cb)
      graft.operators.Pq.appendIvfPqIndex(
        emb.filter(col("vec_id") % 3 === 0), inc)
      def lists(idx: String) = graft.operators.Pq.ivfAdcTopKStored(emb, idx)
      val a = lists(whole).select(col("q_id"), col("rn"),
        col("n_id").as("a_nid"), col("dist").as("a_dist"))
      val b = lists(inc).select(col("q_id"), col("rn"),
        col("n_id").as("b_nid"), col("dist").as("b_dist"))
      // full outer on (q_id, rn): a row present on one side only is a
      // mismatch (coalesce — null comparisons would escape a bare min)
      val perQ = a.join(b, Seq("q_id", "rn"), "full_outer")
        .groupBy("q_id")
        .agg(min(coalesce(col("a_nid") === col("b_nid") &&
          col("a_dist") === col("b_dist"), lit(false))).as("ok"))
      // universe built independently of the serves (the trainedRecall
      // discipline): a query with no servable neighbors is vacuously ok
      emb.filter(size(col("embedding")) === graft.operators.Pq.dim)
        .filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").cast("long").as("q_id"))
        .join(perQ, Seq("q_id"), "left")
        .select(col("q_id"), coalesce(col("ok"), lit(true)).as("stored_ok"))
    }),
    // serve-only fixed-query ANN row — the dense twin of
    // sparse_serve_fixedq: the index builds ONCE per data dir at a
    // deterministic cached location, and the query membership is a
    // constant (vec_id < 500, present at every SF), so the timed row
    // isolates what ONE standing-index query costs as the corpus grows
    // (probed slices + sidecars — never the unprobed corpus)
    "ann_serve_fixedq" -> ((s, dir) => {
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft_pqserve_" +
        dataKey(s, dir)
      val emb = Tables.read(s, dir, "embeddings")
      if (!graft.operators.Pq.isIndexed(s, idx))
        graft.operators.Pq.writeIvfPqIndex(emb, idx)
      graft.operators.Pq.ivfAdcTopKStored(emb, idx, maxQ = 500L)
    }),
    // incremental ingest: index yesterday's corpus, APPEND today's shard
    // (shard-proportional encode + model-sized stats merge — the corpus
    // is never rescanned), serve from the appended layout. Shares the
    // whole-corpus oracle: append == full rebuild, bit for bit
    "ann_ivfpq_append" -> ((s, dir) => {
      val idx = graft.Scratch.dir("graft_ivfpq_app_")
      val emb = Tables.read(s, dir, "embeddings")
      graft.operators.Pq.writeIvfPqIndex(emb.filter(col("vec_id") % 3 =!= 0), idx)
      graft.operators.Pq.appendIvfPqIndex(emb.filter(col("vec_id") % 3 === 0), idx)
      graft.operators.Pq.ivfAdcTopKStored(emb, idx)
    }),
    // index DELETE: tombstones stop the codes answering (no code-file
    // rewrite), exact integer stats SUBTRACT (the append algebra run
    // backwards), centroids rebuild. Oracle = a survivors-only rebuild
    "ann_ivfpq_delete" -> ((s, dir) => {
      val idx = graft.Scratch.dir("graft_ivfpq_del_")
      val emb = Tables.read(s, dir, "embeddings")
      graft.operators.Pq.writeIvfPqIndex(emb, idx)
      graft.operators.Pq.deleteFromIvfPqIndex(emb.filter(col("vec_id") % 5 === 3), idx)
      graft.operators.Pq.ivfAdcTopKStored(emb.filter(col("vec_id") % 5 =!= 3), idx)
    }),
    // IVF-routed exact re-rank — the production serving pattern with
    // BOTH stages index-bounded: the ADC shortlist comes from the
    // stored index's probed cells only (static partition pruning, no
    // full-code scan), the exact re-rank reads full-precision vectors
    // for just those candidates. Graduates ann_rerank's brute shortlist
    "ann_rerank_ivf" -> ((s, dir) => {
      val idx = graft.Scratch.dir("graft_ivfpq_rr_")
      val emb = Tables.read(s, dir, "embeddings")
      graft.operators.Pq.writeIvfPqIndex(emb, idx)
      graft.operators.Pq.ivfAdcRerankStored(emb, idx)
    }),
    // full lifecycle: write base → append shard → delete → COMPACT
    // (tombstones applied physically, one sorted file per cell) → serve.
    // Same survivors oracle as the delete gate: four different physical
    // histories, one logical answer
    "ann_ivfpq_compact" -> ((s, dir) => {
      val idx = graft.Scratch.dir("graft_ivfpq_cmp_")
      val emb = Tables.read(s, dir, "embeddings")
      graft.operators.Pq.writeIvfPqIndex(emb.filter(col("vec_id") % 3 =!= 0), idx)
      graft.operators.Pq.appendIvfPqIndex(emb.filter(col("vec_id") % 3 === 0), idx)
      graft.operators.Pq.deleteFromIvfPqIndex(emb.filter(col("vec_id") % 5 === 3), idx)
      graft.operators.Pq.compactIvfPqIndex(s, idx)
      graft.operators.Pq.ivfAdcTopKStored(emb.filter(col("vec_id") % 5 =!= 3), idx)
    }),
    // KMV (k-minimum-values) distinct-count sketch per language — a
    // deterministic sketch over the CW hash family, so even the estimate
    // is oracle-checked (alongside the exact count it approximates)
    "sketch_distinct" -> ((s, dir) =>
      TextOps.kmvDistinct(Tables.read(s, dir, "documents"))),
    // KMV sketch SET ALGEBRA (theta-sketch shape): per-language sketches
    // combined into union/intersection cardinality estimates for every
    // language pair, next to the exact values — deterministic CW hash
    // family, so even the estimates hash-check
    "sketch_set_ops" -> ((s, dir) =>
      TextOps.kmvSetOps(Tables.read(s, dir, "documents"))),
    // HyperLogLog cardinality sketch over the same 3-gram universe —
    // m=1024 register maxes (merge = register-wise max at any scale);
    // the harmonic sum is exact dyadic arithmetic, so even the estimate
    // hash-checks with no quantization
    "sketch_hll" -> ((s, dir) =>
      graft.operators.Hll.hllDistinct(Tables.read(s, dir, "documents"))),
    // sketch ALGEBRA: per-source register tables merged by register-wise
    // max; oracle builds the global sketch directly — hash equality is
    // the merge-identity proof (how executors/daily partitions combine)
    "sketch_hll_merge" -> ((s, dir) =>
      graft.operators.Hll.hllMerged(Tables.read(s, dir, "documents"))),
    // reproducible train/val/test assignment by id hash — the split every
    // training pipeline needs to be STABLE across runs and engines: no
    // rand(), no row order dependence, pure per-row arithmetic
    "sample_split" -> ((s, dir) =>
      Tables.read(s, dir, "documents").selectExpr(
          "doc_id", "lang",
          s"${Parity.cwMix(21, "rolling_hash(cast(doc_id as string))")} as h")
        .withColumn("split", expr(splitCase))),
    // end-to-end curation: one pass scores quality + language, the exact-
    // dedup keeper set marks duplicates, and every doc gets a keep/drop
    // verdict with its first failing reason — the composed filter chain
    // of a training-data pipeline, oracle-checked row by row
    "curate_filter" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val combined = docs.selectExpr(
          (TextOps.statsSelects(SparkD) ++ TextOps.langIdSelects(SparkD).drop(2)): _*)
        .withColumn("quality", expr(TextOps.qualityExpr))
        .withColumn("pred_lang", expr(TextOps.langPredExpr))
      val keepers = Dedup.exact(docs)
        .select(col("keeper_id").as("doc_id"), lit(true).as("is_keeper"))
      combined.join(keepers, Seq("doc_id"), "left")
        .withColumn("reason", expr(curateReason))
        .withColumn("keep", col("reason") === "keep")
        .select("doc_id", "lang", "pred_lang", "quality", "keep", "reason")
    }),
    // DATA CARD: the per-(source, lang) dataset datasheet — volumes,
    // order-free quality distribution (fpSum mean + exact min/max),
    // and the global-dup rate attributed to the slice carrying the
    // copy. Composes individually-gated signals; hash-checks end to end
    "data_card" -> ((s, dir) =>
      graft.operators.Curation.dataCard(Tables.read(s, dir, "documents"))),
    // ...and the card with the near-dup verdict SUPPLIED (verdict r11
    // #9): the production shape — the curation pipeline materializes
    // the keep-first decision relation ONCE (here a cache-or-compute
    // parquet keyed by dataKey, the standing-index discipline), and
    // every datasheet reuses it instead of recomputing the banded
    // self-join per card. The banded pass is ~24 s at 10× data; the
    // card over a standing verdict is ~1.3 s. Shares data_card's
    // oracle: supplied == recomputed, bit for bit
    "data_card_ndin" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_ndverdict_" +
        dataKey(s, dir)
      if (!graft.operators.IndexFs.exists(s, s"$path/_SUCCESS"))
        graft.operators.Dedup.keepFirst(docs)
          .write.mode("overwrite").parquet(path)
      graft.operators.Curation.dataCard(docs,
        Some(s.read.schema("doc_id long, dup_of long, keep boolean")
          .parquet(path)))
    }),
    // PII scrub: detect + redact emails/phones/IPv4 (counts + redacted-
    // text fingerprint); the corpus is deterministically PII-seeded so
    // every detector arm fires on every row
    "text_pii" -> ((s, dir) =>
      TextOps.piiRedact(Tables.read(s, dir, "documents"))),
    // stratified sample: the k hash-smallest docs of every language —
    // reproducible equal-per-stratum sampling, two-phase top-k
    "sample_stratified" -> ((s, dir) =>
      Sampling.stratified(Tables.read(s, dir, "documents"))),
    // temperature (α=1/2) language rebalancing: per-lang keep rates from
    // √n weights, membership by id-hash threshold — the multilingual
    // corpus-mixing pass, deterministic member set
    "sample_temperature" -> ((s, dir) =>
      Sampling.temperature(Tables.read(s, dir, "documents"))),
    // Efraimidis–Spirakis weighted sampling without replacement (weight =
    // doc length): global top-k by ln(u)/w with hash-derived u — the
    // reproducible weighted pick every curriculum/mixing pipeline needs
    "sample_weighted" -> ((s, dir) =>
      Sampling.weighted(Tables.read(s, dir, "documents"))),
    // PMI collocations: phrase discovery before tokenizer training —
    // bigram⋈vocab hash joins, fixed-point ln scores, two-phase top-k
    "text_pmi" -> ((s, dir) =>
      TextOps.pmiTop(Tables.read(s, dir, "documents"))),
    // cross-document duplicated-span fraction — the exact-substring
    // dedup signal; only duplicated fingerprints join back
    "dedup_spans" -> ((s, dir) =>
      Dedup.dupSpans(Tables.read(s, dir, "documents"))),
    // BM25 retrieval scoring for a fixed term set — idf from doc
    // frequencies (fixed-point ln), exact length normalization, fpSum'd
    // per-doc scores, two-phase top-k
    "text_bm25" -> ((s, dir) =>
      TextOps.bm25(Tables.read(s, dir, "documents"))),
    // metadata-filtered vector search: the search universe is restricted
    // by a predicate on the DOCUMENT side before any distance computes
    // (pre-filtering — exact recall on the slice, vs post-filtering's
    // recall loss). The metadata cut is a left-semi join; with the
    // lang-partitioned layout (sink_partitioned) the same cut is a
    // directory prune at 100 TB
    "ann_filtered" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      val keep = Tables.read(s, dir, "documents")
        .filter(col("lang") === "en").select("doc_id")
      Similarity.cosineTopK(
        emb.join(keep, col("vec_id") === col("doc_id"), "left_semi"))
    })
  )

  /** Brute cosine top-k oracle, parameterized by an extra predicate on
    * the search universe (shared by ann_cosine and the metadata
    * pre-filtered ann_filtered). */
  /** Fixed-quantizer IVF as a reusable CTE chain ending in `ranked`
    * (q_id, n_id, cos, rn over the probed-cell candidates) — shared by
    * the `ann_ivf_label` top-k gate and the `ann_margin_ivf` miner. */
  private def ivfLabelCtes: String = {
    val dotSelf = Parity.dot(DuckD, "embedding", "embedding", dim)
    val dotCC = Parity.dot(DuckD, "centroid", "centroid", dim)
    val dotQC = Parity.dot(DuckD, "q_emb", "centroid", dim)
    val dotQN = Parity.dot(DuckD, "p.q_emb", "nn.embedding", dim)
    s"""with cg as (select cast(label as bigint) as cl, i as d,
       |  cast(count(*) as bigint) as n,
       |  ${Parity.fpSum("cast(list_extract(embedding, i) as double)")} as vs
       | from embeddings, generate_series(1, $dim) t(i) group by cl, i),
       |cent as (select cl, list(cv order by d) as centroid from
       |  (select cl, d, vs / cast(n as double) as cv from cg) group by cl),
       |cn as (select * from (select cl, centroid, sqrt($dotCC) as c_norm from cent)
       |  where c_norm > 0e0),
       |nn as (select * from (select vec_id, embedding, cast(label as bigint) as cl,
       |   sqrt($dotSelf) as norm from embeddings) where norm > 0e0),
       |q as (select vec_id as q_id, embedding as q_emb, norm as q_norm from nn
       |  where vec_id % 50 = 0),
       |probes as (select q_id, q_emb, q_norm, cl from (
       |  select q.q_id, q.q_emb, q.q_norm, cn.cl,
       |   row_number() over (partition by q.q_id
       |     order by ($dotQC) / (q.q_norm * cn.c_norm) desc, cn.cl asc) as pr
       |  from q cross join cn) where pr <= 3),
       |ranked as (select q_id, n_id, cos,
       |  cast(row_number() over (partition by q_id order by cos desc, n_id asc) as bigint) as rn
       | from (select p.q_id, nn.vec_id as n_id,
       |   ($dotQN) / (p.q_norm * nn.norm) as cos
       |  from probes p join nn on p.cl = nn.cl and p.q_id <> nn.vec_id))"""
      .stripMargin.replace("\n", " ")
  }

  private def annCosineSql(universePred: String): String = {
    val dotQN = Parity.dot(DuckD, "q_emb", "n_emb", dim)
    val dotSelf = Parity.dot(DuckD, "embedding", "embedding", dim)
    s"""with nn as (select * from (select vec_id, embedding, sqrt($dotSelf) as norm from embeddings)
       |  where norm > 0e0$universePred),
       |q as (select vec_id as q_id, embedding as q_emb, norm as q_norm from nn
       |  where vec_id % 50 = 0),
       |c as (select vec_id as n_id, embedding as n_emb, norm as n_norm from nn)
       |select q_id, n_id, cos, rn from (
       | select q_id, n_id, cos,
       |  cast(row_number() over (partition by q_id order by cos desc, n_id asc) as bigint) as rn
       | from (select q_id, n_id, ($dotQN) / (q_norm * n_norm) as cos
       |   from q join c on q_id <> n_id))
       |where rn <= 10""".stripMargin.replace("\n", " ")
  }

  /** 80/10/10 split from the last decimal digit of the id hash — shared
    * text, exact integer arithmetic. */
  private val splitCase =
    "(case when h % 10 < 8 then 'train' when h % 10 = 8 then 'val' else 'test' end)"

  /** First-failing-reason verdict, shared text (is_keeper is NULL for
    * non-keeper rows of the left join in BOTH engines). */
  private val curateReason =
    "(case when is_keeper is null then 'duplicate' " +
      "when quality < 5e-1 then 'low_quality' " +
      "when pred_lang <> lang then 'lang_mismatch' else 'keep' end)"

  // every ascii() is cast to BIGINT before the multiply: DuckDB's ascii
  // returns INT32 and cp * 2097152 overflows it for CJK codepoints
  private val shingleDuck =
    "list_distinct(list_transform(generate_series(1, greatest(length(text) - 2, 1)), " +
      "i -> cast(ascii(substring(text, i, 1)) as bigint) * 4398046511104 " +
      "+ cast(ascii(substring(text, i + 1, 1)) as bigint) * 2097152 " +
      "+ cast(ascii(substring(text, i + 2, 1)) as bigint)))"

  private def statsDuck =
    s"select ${TextOps.statsSelects(DuckD).mkString(", ")} from documents"

  /** DuckDB mirror of [[Dedup.clusterLabels]] over any (doc_a, doc_b)
    * pair relation — 8 rounds of min-label propagation unrolled as CTEs.
    * Every CTE is MATERIALIZED: each l_i references l_{i-1} twice, so
    * inlining would re-evaluate the pair pipeline 2^8 times. */
  private def labelPropDuck(pairsSql: String): String =
    s"with ${Dedup.labelPropCtes(pairsSql)} " +
      "select id as doc_id, lbl as cluster_id from l8"

  /** [[labelPropDuck]] over the MinHash near-dup pairs (`dedup_groups`). */
  private def dedupGroupsDuck: String = labelPropDuck(minhashDuck)

  /** DuckDB mirror of [[Similarity.semanticDedup]] — ONE definition
    * shared by the `semantic_dedup` gate and `pipeline_embed`'s survivor
    * stage, so the composed oracle can never drift from the standalone
    * one. */
  private def semanticDedupDuck: String =
    s"""with labels as materialized (${ccFixpointDuck(
          s"select id_a as doc_a, id_b as doc_b from ($embNeardupExactDuck)")})
       |select cluster_id, doc_id as vec_id, (rk = 1) as is_keeper from (
       | select cluster_id, doc_id,
       |  row_number() over (partition by cluster_id order by doc_id asc) as rk
       | from labels)""".stripMargin.replace("\n", " ")

  /** Converged-components oracle over any pair relation: recursive-CTE
    * reachability fixpoint (set-semantics UNION terminates once no new
    * (id, reachable-label) pair appears), min over the closure = the
    * canonical component-minimum labeling. Deliberately a DIFFERENT
    * algorithm from the Spark side's large-star/small-star, so the gate
    * checks the converged ANSWER, not an iteration schedule. Shared by
    * `dedup_cc`, `dedup_canonical`, and the semantic-dedup family. */
  private def ccFixpointDuck(pairsSql: String): String =
    s"""with recursive pairs as materialized ($pairsSql),
       |cedges as materialized (select doc_a as src, doc_b as dst from pairs
       |  union all select doc_b as src, doc_a as dst from pairs),
       |reach as (select src as id, src as lbl from cedges
       |  union
       |  select e.src as id, r.lbl from cedges e join reach r on e.dst = r.id)
       |select id as doc_id, min(lbl) as cluster_id from reach group by id""".stripMargin
      .replace("\n", " ")

  private def dedupCcDuck: String = ccFixpointDuck(minhashDuck)

  /** DuckDB mirror of [[Similarity.nearDupExact]] at threshold 0.3. */
  private def embNeardupExactDuck: String = {
    val dotSelf = Parity.dot(DuckD, "embedding", "embedding", dim)
    s"""with nn as (select * from (select vec_id, label, embedding, sqrt($dotSelf) as norm
       |  from embeddings) where norm > 0e0)
       |select label, id_a, id_b, cos from (
       | select a.label as label, a.vec_id as id_a, b.vec_id as id_b,
       |  (${Parity.dot(DuckD, "a.embedding", "b.embedding", dim)})
       |    / (a.norm * b.norm) as cos
       | from nn a join nn b on a.label = b.label and a.vec_id < b.vec_id)
       |where cos >= 3e-1""".stripMargin.replace("\n", " ")
  }

  /** DuckDB mirror of [[Dedup.minHashPairs]] — word-3-gram shingles →
    * rolling-hash codes → 16 CW minhashes → 4 band buckets → bucket join
    * → exact Jaccard on the code sets. Every constant is interpolated
    * from the same Scala source as the Spark plan. */
  private def minhashDuck: String = {
    val numHashes = Dedup.LshNumHashes
    val bands = Dedup.LshBands
    val r = numHashes / bands
    val rh = Parity.rollingHashDuck("s")
    val shingle = "list_distinct(list_transform(generate_series(1, greatest(len(words) - 2, 1)), " +
      "i -> array_to_string(list_slice(words, i, i + 2), ' ')))"
    val sigCols = (0 until numHashes)
      .map(j => s"list_min(list_transform(codes, c -> ${Parity.cwMix(j, "c")})) as h$j")
      .mkString(", ")
    val bandRows = (0 until bands)
      .map(b => s"select doc_id, $b as band, " +
        s"${Dedup.bandValueSql((b * r until (b + 1) * r).map(j => s"h$j"))} as bv from sig")
      .mkString(" union all ")
    s"""with doc as (select doc_id, string_split(trim(text), ' ') as words from documents),
       |sh as (select doc_id, list_sort(list_distinct(list_transform($shingle, s -> $rh))) as codes from doc),
       |sig as (select doc_id, $sigCols from sh),
       |banded as ($bandRows),
       |cand as (select distinct a.doc_id as doc_a, b.doc_id as doc_b
       |  from banded a join banded b on a.band = b.band and a.bv = b.bv and a.doc_id < b.doc_id),
       |vr as (select doc_a, doc_b,
       |  cast(len(list_intersect(sa.codes, sb.codes)) as bigint) as inter,
       |  cast(len(sa.codes) as bigint) + cast(len(sb.codes) as bigint) as tot
       |  from cand join sh sa on cand.doc_a = sa.doc_id join sh sb on cand.doc_b = sb.doc_id)
       |select doc_a, doc_b, jac from (
       | select doc_a, doc_b, cast(inter as double) / cast(tot - inter as double) as jac from vr)
       |where jac >= ${Parity.lit(Dedup.LshThreshold)}""".stripMargin.replace("\n", " ")
  }

  /** DuckDB mirror of [[Dedup.simHashPairs]] — CW lane bits assembled
    * into four 16-bit blocks (DuckDB's BIGINT shift throws on 1<<63, so
    * the 64-bit word never materializes; hamming sums block popcounts). */
  private def simhashDuck: String = {
    val rh = Parity.rollingHashDuck("t")
    val bitSums = (0 until 64)
      .map(b => s"sum(case when ${Parity.cwBit(b, "h")} = 1 then 1 else -1 end) as s$b")
      .mkString(", ")
    val blocks = (0 until 4).map { k =>
      val terms = (0 until 16)
        .map(i => s"(case when s${k * 16 + i} > 0 then ${1 << i} else 0 end)")
        .mkString(" + ")
      s"cast($terms as bigint) as k$k"
    }.mkString(", ")
    val keyRows = (0 until 4)
      .map(k => s"select doc_id, k0, k1, k2, k3, $k as blk, k$k as bv from blk")
      .mkString(" union all ")
    s"""with toks as (select doc_id, unnest(string_split(trim(text), ' ')) as t from documents),
       |h as (select doc_id, $rh as h from toks),
       |bits as (select doc_id, $bitSums from h group by doc_id),
       |blk as (select doc_id, $blocks from bits),
       |keyed as ($keyRows),
       |cand as (select distinct a.doc_id as doc_a, b.doc_id as doc_b,
       |  a.k0 as a0, a.k1 as a1, a.k2 as a2, a.k3 as a3,
       |  b.k0 as b0, b.k1 as b1, b.k2 as b2, b.k3 as b3
       |  from keyed a join keyed b on a.blk = b.blk and a.bv = b.bv and a.doc_id < b.doc_id)
       |select doc_a, doc_b, hamming from (
       | select doc_a, doc_b, cast(bit_count(xor(a0, b0)) + bit_count(xor(a1, b1))
       |  + bit_count(xor(a2, b2)) + bit_count(xor(a3, b3)) as bigint) as hamming from cand)
       |where hamming <= 3""".stripMargin.replace("\n", " ")
  }

  /** DuckDB mirror of [[Similarity.nearDupPairs]] — 12 deterministic ±1
    * hyperplane sign bits over 2^-20 fixed-point values → bucket join →
    * exact cosine. */
  private def embNeardupDuck: String = {
    val sCols = (0 until 12)
      .map(b => s"sum(case when ${Parity.cwBit(b, "i")} = 1 then qv else -qv end) as s$b")
      .mkString(", ")
    val bucket = (0 until 12)
      .map(b => s"(case when s$b > 0 then ${1 << b} else 0 end)")
      .mkString(" + ")
    val dotAB = Parity.dot(DuckD, "a.embedding", "b.embedding", dim)
    val dotSelf = Parity.dot(DuckD, "embedding", "embedding", dim)
    s"""with qd as (select vec_id, i,
       |  cast(floor(cast(list_extract(embedding, i) as double) * 1048576e0 + 5e-1) as bigint) as qv
       |  from embeddings, generate_series(1, $dim) t(i)),
       |bs as (select vec_id, $sCols from qd group by vec_id),
       |bkt as (select vec_id, cast($bucket as bigint) as bucket from bs),
       |nn as (select * from (select e.vec_id, e.embedding, sqrt($dotSelf) as norm, k.bucket
       |  from embeddings e join bkt k on e.vec_id = k.vec_id) where norm > 0e0)
       |select id_a, id_b, cos from (
       | select a.vec_id as id_a, b.vec_id as id_b, ($dotAB) / (a.norm * b.norm) as cos
       | from nn a join nn b on a.bucket = b.bucket and a.vec_id < b.vec_id)
       |where cos >= 35e-2""".stripMargin.replace("\n", " ")
  }

  /** DuckDB mirror of [[Similarity.nearDupPairsProbe]] — identical
    * signature arithmetic; the radius-1 probing compiles to the
    * declarative "signatures differ in ≤ 1 bit" join (the single-node
    * oracle affords the non-equi spelling the distributed plan avoids). */
  private def embNeardupProbeDuck: String = {
    val sCols = (0 until 12)
      .map(b => s"sum(case when ${Parity.cwBit(b, "i")} = 1 then qv else -qv end) as s$b")
      .mkString(", ")
    val bucket = (0 until 12)
      .map(b => s"(case when s$b > 0 then ${1 << b} else 0 end)")
      .mkString(" + ")
    val dotAB = Parity.dot(DuckD, "a.embedding", "b.embedding", dim)
    val dotSelf = Parity.dot(DuckD, "embedding", "embedding", dim)
    s"""with qd as (select vec_id, i,
       |  cast(floor(cast(list_extract(embedding, i) as double) * 1048576e0 + 5e-1) as bigint) as qv
       |  from embeddings, generate_series(1, $dim) t(i)),
       |bs as (select vec_id, $sCols from qd group by vec_id),
       |bkt as (select vec_id, cast($bucket as bigint) as bucket from bs),
       |nn as (select * from (select e.vec_id, e.embedding, sqrt($dotSelf) as norm, k.bucket
       |  from embeddings e join bkt k on e.vec_id = k.vec_id) where norm > 0e0)
       |select id_a, id_b, cos from (
       | select a.vec_id as id_a, b.vec_id as id_b, ($dotAB) / (a.norm * b.norm) as cos
       | from nn a join nn b
       |  on bit_count(xor(a.bucket, b.bucket)) <= 1 and a.vec_id < b.vec_id)
       |where cos >= 35e-2""".stripMargin.replace("\n", " ")
  }

  /** DuckDB mirror of [[Dedup.decontaminate]]. `maxEvalId` mirrors the
    * fixed-benchmark eval cap (default = unbounded, the legacy carve). */
  private def decontamDuck(maxEvalId: Long = Long.MaxValue): String = {
    val rh = Parity.rollingHashDuck("s")
    val shingle = "list_distinct(list_transform(generate_series(1, greatest(len(words) - 2, 1)), " +
      "i -> array_to_string(list_slice(words, i, i + 2), ' ')))"
    s"""with doc as (select doc_id, string_split(trim(text), ' ') as words from documents),
       |sh as (select doc_id, list_sort(list_distinct(list_transform($shingle, s -> $rh))) as codes from doc),
       |ev as (select doc_id as eval_id, codes as eval_codes from sh
       |  where doc_id % 97 = 0 and doc_id < $maxEvalId),
       |corp as (select doc_id, codes from sh
       |  where not (doc_id % 97 = 0 and doc_id < $maxEvalId))
       |select doc_id, eval_id, contam from (
       | select doc_id, eval_id, contam,
       |  row_number() over (partition by doc_id order by contam desc, eval_id asc) as rk
       | from (select corp.doc_id, ev.eval_id,
       |   cast(len(list_intersect(corp.codes, ev.eval_codes)) as double)
       |    / cast(len(ev.eval_codes) as double) as contam
       |   from corp cross join ev))
       |where rk = 1""".stripMargin.replace("\n", " ")
  }

  private val oraclesBase: Map[String, String] = Map(
    "sample_split" ->
      s"""select doc_id, lang, h, $splitCase as split from (
         |select doc_id, lang,
         | ${Parity.cwMix(21, Parity.rollingHashDuck("cast(doc_id as varchar)"))} as h
         |from documents)""".stripMargin.replace("\n", " "),
    "curate_filter" -> {
      val combined = (TextOps.statsSelects(DuckD) ++ TextOps.langIdSelects(DuckD).drop(2))
        .mkString(", ")
      s"""with c as (select *, ${TextOps.qualityExpr} as quality,
         |  ${TextOps.langPredExpr} as pred_lang
         | from (select $combined from documents)),
         |k as (select min(doc_id) as doc_id, true as is_keeper
         | from documents group by md5(text))
         |select doc_id, lang, pred_lang, quality, (reason = 'keep') as keep, reason
         |from (select c.doc_id, c.lang, pred_lang, quality, $curateReason as reason
         |  from c left join k on c.doc_id = k.doc_id)"""
        .stripMargin.replace("\n", " ")
    },
    "sketch_distinct" -> TextOps.kmvDistinctSql(),
    "sketch_set_ops" -> TextOps.kmvSetOpsSql(),
    "data_card" -> graft.operators.Curation.dataCardSql(
      shingle = shingleDuck),
    "data_card_ndin" -> graft.operators.Curation.dataCardSql(
      shingle = shingleDuck),
    "sketch_hll" -> graft.operators.Hll.hllDistinctSql(),
    "sketch_hll_merge" -> graft.operators.Hll.hllMergedSql(),
    "sketch_heavy" -> TextOps.cmsHeavySql(),
    "dedup_lines" -> Dedup.lineDedupSql(),
    "dedup_within" -> Dedup.withinDocDedupSql(),
    "text_boilerplate" -> Dedup.sourceBoilerplateSql(),
    "text_langmix" -> TextOps.langMixSql(),
    "vocab_coverage" -> TextOps.vocabCoverageSql(),
    "dedup_incremental" -> Dedup.incrementalSql(),
    "dedup_incremental_winnow" -> Dedup.incrementalWinnowSql(),
    "dedup_incremental_winnow_bloom" -> Dedup.incrementalWinnowSql(),
    "dedup_incremental_winnow_banded" -> Dedup.incrementalWinnowBandedSql(),
    "neardup_index_stored" -> graft.operators.NearDupIndex.serveSql(
      stopPred = "doc_id % 5 < 4", histPred = "doc_id % 5 < 4",
      incPred = "doc_id % 5 >= 4"),
    "neardup_lifecycle_serve" -> graft.operators.NearDupIndex.serveSql(
      stopPred = "doc_id % 5 < 3",
      histPred = "doc_id % 5 < 4 and doc_id % 10 <> 1",
      incPred = "doc_id % 5 >= 4"),
    // the lifecycle's single append (%5==3 shard onto the %5<3 build;
    // the append runs BEFORE the deletes, so live occupancy is %5<4)
    "data_card_ndhealth" -> graft.operators.NearDupIndex.healthSql(
      buildPred = "doc_id % 5 < 3", shardPred = "doc_id % 5 = 3"),
    // both decision arms from one recomputed pre-decision card: 'hold'
    // thresholds trip on nothing (post card still reads the 1 append),
    // 'trip' thresholds trip on anything (post card reads the reset
    // driftlog: 0 appends)
    "neardup_rebuild_drifted" ->
      s"""with h as (${graft.operators.NearDupIndex.healthSql(
        buildPred = "doc_id % 3 = 0 and doc_id % 5 < 3",
        shardPred = "doc_id % 3 = 0 and doc_id % 5 = 3")})
         |select 'hold' as arm, false as rebuilt, n_appends,
         |  new_boilerplate_frac_max, stale_stop_frac_max,
         |  cap_grown_buckets_max, cast(1 as bigint) as post_n_appends
         |from h
         |union all
         |select 'trip', true, n_appends, new_boilerplate_frac_max,
         |  stale_stop_frac_max, cap_grown_buckets_max, cast(0 as bigint)
         |from h""".stripMargin.replace("\n", " "),
    // shared oracle = the bloom prescreen provably changes no verdict
    "dedup_incremental_bloom" -> Dedup.incrementalSql(),
    "bpe_train" -> graft.operators.Bpe.trainSql(),
    "bpe_encode" -> graft.operators.Bpe.encodeSql(),
    "bpe_apply" -> graft.operators.Bpe.applyTokensSql(),
    "bpe_fertility" -> graft.operators.Bpe.fertilitySql(),
    "mix_plan" -> Sampling.mixPlanSql(),
    "corpus_shuffle" -> Sampling.corpusShuffleSql(),
    "pipeline_curate" -> graft.operators.Curation.pipelineSql(),
    "pipeline_curate_neardup" -> graft.operators.Curation.pipelineSql(
      nearDupShingle = shingleDuck),
    // the standing-pair-relation spelling is exactly equal by
    // construction — one oracle gates both
    "pipeline_curate_ndidx" -> graft.operators.Curation.pipelineSql(
      nearDupShingle = shingleDuck),
    "pipeline_search" -> graft.operators.Curation.searchPipelineSql(),
    "emb_normalize" -> Similarity.l2NormalizeSql,
    "emb_standardize" -> Similarity.standardizeSql,
    "emb_pca" -> graft.operators.Pca.projectSql(),
    "emb_whiten" -> graft.operators.Pca.projectSql(whiten = true),
    "emb_pca_k4" -> graft.operators.Pca.projectSql(k = 4),
    "emb_pca_agg" -> graft.operators.Pca.projectSql(),
    "pipeline_embed" ->
      graft.operators.Pca.projectSql(table = "surv", prefix =
        s"sd as materialized ($semanticDedupDuck), " +
          "surv as materialized (select e.vec_id as vec_id, e.embedding as embedding " +
          "from embeddings e where e.vec_id not in " +
          "(select vec_id from sd where not is_keeper)), "),
    "emb_pq_codes" -> graft.operators.Pq.codesSql(),
    "ann_pq" -> graft.operators.Pq.adcSql(),
    // ann_pq_trained's oracle: the exact query-id set of the PQ search
    // universe (len = dim, every 50th id) with recall_ok asserted true
    "ann_pq_trained" ->
      s"""select vec_id as q_id, true as recall_ok from embeddings
         |where len(embedding) = ${graft.operators.Pq.dim} and vec_id % 50 = 0"""
        .stripMargin.replace("\n", " "),
    "ann_rerank" -> graft.operators.Pq.adcRerankSql(),
    "train_pairs" -> {
      val dotQN = Parity.dot(DuckD, "q_emb", "n_emb", dim)
      val dotSelf = Parity.dot(DuckD, "embedding", "embedding", dim)
      s"""with nn as (select * from (select vec_id, embedding, sqrt($dotSelf) as norm
         |  from embeddings) where norm > 0e0),
         |q as (select vec_id as q_id, embedding as q_emb, norm as q_norm from nn
         |  where vec_id % 50 = 0),
         |c as (select vec_id as n_id, embedding as n_emb, norm as n_norm from nn),
         |topk as (select q_id, n_id, cos, rn from (
         |  select q_id, n_id, cos,
         |   cast(row_number() over (partition by q_id order by cos desc, n_id asc) as bigint) as rn
         |  from (select q_id, n_id, ($dotQN) / (q_norm * n_norm) as cos
         |    from q join c on q_id <> n_id)) where rn <= 15)
         |select p.q_id, p.n_id as pos_id, p.cos as pos_cos,
         | n.n_id as neg_id, n.cos as neg_cos, n.rn - 10 as slot
         |from (select * from topk where rn = 1) p
         |join (select * from topk where rn between 11 and 15) n using (q_id)"""
        .stripMargin.replace("\n", " ")
    },
    "ann_margin" -> {
      val dotQN = Parity.dot(DuckD, "q_emb", "n_emb", dim)
      val dotSelf = Parity.dot(DuckD, "embedding", "embedding", dim)
      s"""with nn as (select * from (select vec_id, embedding, sqrt($dotSelf) as norm
         |  from embeddings) where norm > 0e0),
         |q as (select vec_id as q_id, embedding as q_emb, norm as q_norm from nn
         |  where vec_id % 50 = 0),
         |c as (select vec_id as n_id, embedding as n_emb, norm as n_norm from nn),
         |topk as (select q_id, n_id, cos from (
         |  select q_id, n_id, cos,
         |   row_number() over (partition by q_id order by cos desc, n_id asc) as rn
         |  from (select q_id, n_id, ($dotQN) / (q_norm * n_norm) as cos
         |    from q join c on q_id <> n_id)) where rn <= 10),
         |${Similarity.marginMineSqlTail()}""".stripMargin.replace("\n", " ")
    },
    "ann_ivfpq" -> graft.operators.Pq.ivfAdcSql(),
    "ann_ivfpq_stored" -> graft.operators.Pq.ivfAdcSql(),
    // trained-stored lifecycle: the exact query universe with the
    // equality boolean asserted (the ann_pq_trained pattern — the
    // trained quantizer itself is not SQL-expressible)
    "ann_ivfpq_trained_stored" ->
      s"""select vec_id as q_id, true as stored_ok from embeddings
         |where len(embedding) = ${graft.operators.Pq.dim} and vec_id % 50 = 0"""
        .stripMargin.replace("\n", " "),
    "ann_serve_fixedq" -> graft.operators.Pq.ivfAdcSql(maxQ = 500L),
    "ann_rerank_ivf" -> graft.operators.Pq.ivfAdcRerankSql(),
    "ann_ivfpq_append" -> graft.operators.Pq.ivfAdcSql(),
    "ann_ivfpq_delete" -> graft.operators.Pq.ivfAdcSql(
      table = "(select * from embeddings where vec_id % 5 <> 3)"),
    "ann_ivfpq_compact" -> graft.operators.Pq.ivfAdcSql(
      table = "(select * from embeddings where vec_id % 5 <> 3)"),
    "text_chunk" -> TextOps.chunkSql(),
    "text_pack" -> TextOps.packBinsSql(),
    "text_logprob" -> TextOps.unigramLogProbSql(),
    "lm_perplexity" -> Lm.perplexitySql(),
    "dsir_select" -> Lm.dsirSelectSql(),
    "pipeline_curriculum" -> Lm.curriculumSql(),
    // the encode parameters (gifBytes/gifFrameCount/pngDims) predict the
    // decoded reality: n_frames = 1 + id % 8, dims = (1 + id % 13,
    // 1 + 3·id % 11), sampled indices 0,2,… ≤ id % 8
    "multimodal_frames" ->
      """select doc_id, cast(i as bigint) as frame_idx,
        | cast(1 + doc_id % 8 as bigint) as n_frames,
        | cast(1 + doc_id % 13 as bigint) as width,
        | cast(1 + (doc_id * 3) % 11 as bigint) as height
        |from (select doc_id,
        |  unnest(generate_series(0, cast(doc_id % 8 as bigint), 2)) as i
        | from documents)""".stripMargin.replace("\n", " "),
    // the encode parameters (mjpegBytes/vidFrameCount/pngDims) predict
    // the demuxed + decoded reality: n_frames = 2 + id % 7, dims =
    // (1 + id % 13, 1 + 3·id % 11), sampled indices 0,2,… ≤ 1 + id % 7
    "multimodal_video" ->
      """select doc_id, cast(i as bigint) as frame_idx,
        | cast(2 + doc_id % 7 as bigint) as n_frames,
        | cast(1 + doc_id % 13 as bigint) as width,
        | cast(1 + (doc_id * 3) % 11 as bigint) as height
        |from (select doc_id,
        |  unnest(generate_series(0, cast(1 + doc_id % 7 as bigint), 2)) as i
        | from documents)""".stripMargin.replace("\n", " "),
    // the encode parameters (aviBytes/aviFrameCount/pngDims) predict the
    // demuxed + DECODED reality down to the pixel bytes: n = 2 + id % 6
    // frames of (1 + id % 13, 1 + 3·id % 11) BGR pixels where
    // b = (id + f·131 + x·29 + y·13) % 256, g = (b+85) % 256,
    // r = (b+170) % 256 — corner byte and full pixel sum are exact
    "multimodal_video_avi" ->
      """with f as (select doc_id,
        |  unnest(generate_series(0, cast(1 + doc_id % 6 as bigint), 2)) as i,
        |  cast(2 + doc_id % 6 as bigint) as n_frames,
        |  cast(1 + doc_id % 13 as bigint) as w,
        |  cast(1 + (doc_id * 3) % 11 as bigint) as h
        | from documents),
        |px as (select doc_id, i, n_frames, w, h,
        |  unnest(generate_series(0, w - 1)) as x from f),
        |pxy as (select doc_id, i, n_frames, w, h, x,
        |  unnest(generate_series(0, h - 1)) as y from px),
        |bb as (select doc_id, i, n_frames, w, h,
        |  (doc_id + i * 131 + x * 29 + y * 13) % 256 as b from pxy)
        |select doc_id, cast(i as bigint) as frame_idx, n_frames,
        | w as width, h as height,
        | cast((doc_id + i * 131) % 256 as bigint) as corner_b,
        | cast(sum(b + (b + 85) % 256 + (b + 170) % 256) as bigint) as px_sum
        |from bb group by doc_id, i, n_frames, w, h""".stripMargin.replace("\n", " "),
    // RLE8 prediction: same frame/dim grid as the DIB gate; pixel INDEX
    // p = (id + f·131 + (x div 4)·29 + y·13) % 256 (4-wide run blocks),
    // palette B = p, G = 7p % 256, R = 13p % 256 — the gate hashes the
    // DECOMPRESSED, palette-resolved pixels
    "multimodal_video_rle" ->
      """with f as (select doc_id,
        |  unnest(generate_series(0, cast(1 + doc_id % 6 as bigint), 2)) as i,
        |  cast(2 + doc_id % 6 as bigint) as n_frames,
        |  cast(1 + doc_id % 13 as bigint) as w,
        |  cast(1 + (doc_id * 3) % 11 as bigint) as h
        | from documents),
        |px as (select doc_id, i, n_frames, w, h,
        |  unnest(generate_series(0, w - 1)) as x from f),
        |pxy as (select doc_id, i, n_frames, w, h, x,
        |  unnest(generate_series(0, h - 1)) as y from px),
        |pp as (select doc_id, i, n_frames, w, h,
        |  (doc_id + i * 131 + (x // 4) * 29 + y * 13) % 256 as p from pxy)
        |select doc_id, cast(i as bigint) as frame_idx, n_frames,
        | w as width, h as height,
        | cast((doc_id + i * 131) % 256 as bigint) as corner_b,
        | cast(sum(p + (p * 7) % 256 + (p * 13) % 256) as bigint) as px_sum
        |from pp group by doc_id, i, n_frames, w, h""".stripMargin.replace("\n", " "),
    "text_repetition" ->
      s"select ${TextOps.repetitionSelects(DuckD).mkString(", ")} from documents",
    "sparse_retrieval" -> TextOps.sparseRetrievalSql(),
    "sparse_stored" -> TextOps.sparseRetrievalSql(),
    "sparse_append" -> TextOps.sparseRetrievalSql(),
    "sparse_delete" -> TextOps.sparseRetrievalSql(
      table = "(select * from documents where doc_id % 5 <> 3)"),
    "sparse_lifecycle" -> TextOps.sparseRetrievalSql(
      table = "(select * from documents where doc_id % 5 <> 3)"),
    "sparse_lifecycle_serve" -> TextOps.sparseRetrievalSql(
      table = "(select * from documents where doc_id % 5 <> 3)"),
    "sparse_serve_fixedq" -> TextOps.sparseRetrievalSql(
      table = "(select * from documents where doc_id % 5 <> 3)",
      maxQ = 500L),
    "bm25_retrieval" -> TextOps.bm25RetrievalSql(),
    "bm25_fixedq" -> TextOps.bm25RetrievalSql(maxQ = 500L),
    "bm25_stored" -> TextOps.bm25RetrievalSql(),
    "bm25_serve_fixedq" -> TextOps.bm25RetrievalSql(maxQ = 500L),
    "bm25_lifecycle_serve" -> TextOps.bm25RetrievalSql(
      table = "(select * from documents where doc_id % 5 <> 3)"),
    "phrase_search" -> TextOps.phraseSearchSql(),
    "allpairs_similarity" -> TextOps.allPairsSimilaritySql(),
    "allpairs_banded" -> TextOps.allPairsBandedSql(),
    "hybrid_rrf" ->
      s"""with dense as (select q_id, n_id as doc_id, rn as dense_rk
         |  from (${annCosineSql("")})),
         |sparse as (select q_id, doc_id, rk as sparse_rk
         |  from (${TextOps.sparseRetrievalSql()})),
         |f as (select coalesce(d.q_id, s.q_id) as q_id,
         |  coalesce(d.doc_id, s.doc_id) as doc_id, dense_rk, sparse_rk,
         |  coalesce(1e0 / (60 + dense_rk), 0e0)
         |    + coalesce(1e0 / (60 + sparse_rk), 0e0) as rrf
         | from dense d full outer join sparse s
         |   on d.q_id = s.q_id and d.doc_id = s.doc_id)
         |select q_id, doc_id, dense_rk, sparse_rk, rrf, rn from (
         | select q_id, doc_id, dense_rk, sparse_rk, rrf,
         |  cast(row_number() over (partition by q_id order by rrf desc, doc_id asc) as bigint) as rn
         | from f)
         |where rn <= 10""".stripMargin.replace("\n", " "),
    "knn_classify" ->
      s"""with nbrs as (select q_id, n_id from (${annCosineSql("")})),
         |votes as (select q_id, label, count(*) as votes
         |  from nbrs join embeddings on n_id = vec_id
         |  group by q_id, label),
         |win as (select q_id, label, votes,
         |  row_number() over (partition by q_id order by votes desc, label asc) as rk
         | from votes)
         |select w.q_id as q_id, cast(w.label as bigint) as pred_label, votes,
         |  cast(e.label as bigint) as true_label,
         |  (w.label = e.label) as is_correct
         |from win w join embeddings e on w.q_id = e.vec_id
         |where rk = 1""".stripMargin.replace("\n", " "),
    "tfidf_top" -> TextOps.tfIdfSql(),
    "decontaminate" -> decontamDuck(),
    "decontaminate_join" -> decontamDuck(),
    "decontaminate_fixed" -> decontamDuck(maxEvalId = 582L),
    "decontaminate_join_fixed" -> decontamDuck(maxEvalId = 582L),
    "decontaminate_winnow_fixed" ->
      Dedup.decontaminateWinnowSql(maxEvalId = 582L),
    "decontaminate_bloom" -> Dedup.decontaminateBloomSql(),
    "decontaminate_winnow" -> Dedup.decontaminateWinnowSql(),
    "text_pii" -> TextOps.piiSql(),
    "sample_stratified" -> Sampling.stratifiedSql(),
    "sample_temperature" -> Sampling.temperatureSql(),
    "sample_weighted" -> Sampling.weightedSql(),
    "text_pmi" -> TextOps.pmiTopSql(),
    "dedup_spans" -> Dedup.dupSpansSql(),
    "text_bm25" -> TextOps.bm25Sql(),
    "emb_quantize" -> Similarity.quantizeInt8Sql,
    "ann_sq" -> Similarity.sqAdcTopKSql(),
    "doc_rolling_hash" ->
      s"select doc_id, cast(${Parity.rollingHashDuck("trim(text)")} as bigint) as rh from documents",
    "doc_winnow" -> TextOps.winnowSql(),
    "dedup_winnow" -> TextOps.winnowOverlapSql(),
    "dedup_winnow_banded" -> TextOps.winnowOverlapBandedSql(),
    "dedup_minhash" -> minhashDuck,
    "dedup_groups" -> dedupGroupsDuck,
    "dedup_cc" -> dedupCcDuck,
    "dedup_eval" -> Dedup.lshEvalSql(),
    "dedup_canonical" ->
      s"""with labels as materialized ($dedupCcDuck),
         |q as (select doc_id, ${TextOps.qualityExpr} as quality from ($statsDuck)),
         |j as (select cluster_id, l.doc_id as doc_id, quality
         |  from labels l join q using (doc_id))
         |select cluster_id, doc_id, quality, (rk = 1) as is_canonical from (
         | select cluster_id, doc_id, quality,
         |  row_number() over (partition by cluster_id order by quality desc, doc_id asc) as rk
         | from j)""".stripMargin.replace("\n", " "),
    "dedup_simhash" -> simhashDuck,
    "emb_neardup" -> embNeardupDuck,
    "emb_neardup_probe" -> embNeardupProbeDuck,
    "dedup_exact" ->
      """select md5(text) as fingerprint, cast(count(*) as bigint) as cnt,
        | cast(min(doc_id) as bigint) as keeper_id
        |from documents group by md5(text)""".stripMargin.replace("\n", " "),
    "dedup_ngram" ->
      s"""with sh as (select doc_id, lang, n_chars // 50 as bucket, $shingleDuck as sh
         | from documents)
         |select doc_a, doc_b, jac from (
         | select a.doc_id as doc_a, b.doc_id as doc_b,
         |  cast(len(list_intersect(a.sh, b.sh)) as double)
         |   / cast(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) as double) as jac
         | from sh a join sh b on a.lang = b.lang and a.bucket = b.bucket
         |  and a.doc_id < b.doc_id)
         |where jac >= 0.4""".stripMargin.replace("\n", " "),
    "dedup_ngram_banded" -> Dedup.ngramJaccardBandedSql(shingleDuck),
    "dedup_decide" -> Dedup.keepFirstSql(shingleDuck),
    "lang_id" ->
      s"""select doc_id, lang, pred_lang, (pred_lang = lang) as is_correct from (
         |select doc_id, lang, ${TextOps.langPredExpr} as pred_lang from (
         |select ${TextOps.langIdSelects(DuckD).mkString(", ")} from documents))"""
        .stripMargin.replace("\n", " "),
    "text_stats" -> statsDuck,
    "text_hash_features" -> TextOps.hashFeaturesSql(),
    "text_entropy" -> TextOps.charEntropySql(),
    "lr_train" -> graft.operators.Classifier.lrTrainSql(),
    "mm_lr_infer" -> graft.operators.Classifier.lrInferSql(),
    "mlp_train" -> graft.operators.Mlp.mlpTrainSql(),
    "mm_mlp_infer" -> graft.operators.Mlp.mlpInferSql(),
    "mm_mlp_stored" -> graft.operators.Mlp.mlpInferSql(),
    "lr_score" -> graft.operators.Classifier.lrScoreSql(),
    "lr_calibration" -> graft.operators.Classifier.lrCalibrationSql(),
    "lr_auc" -> graft.operators.Classifier.lrAucSql(),
    "text_quality" ->
      s"""select doc_id, lang, n_tokens, ttr, stop_ratio,
         | ${TextOps.qualityExpr} as quality
         |from ($statsDuck)""".stripMargin.replace("\n", " "),
    "doc_fingerprint" ->
      """select doc_id, md5(trim(text)) as fingerprint,
        | cast(strlen(text) as bigint) as n_bytes
        |from documents""".stripMargin.replace("\n", " "),
    "emb_neardup_exact" -> embNeardupExactDuck,
    "semantic_dedup" -> semanticDedupDuck,
    // ann_ivf's oracle: the exact query-id set (same norm>0 universe and
    // %50 predicate as annCosineSql) with recall_ok asserted true — the
    // Spark side computes real per-query recall vs cosineTopK, so a
    // degenerate k-means index (recall floor breached) reds this row
    "ann_ivf" -> {
      val dotSelf = Parity.dot(DuckD, "embedding", "embedding", dim)
      s"""select vec_id as q_id, true as recall_ok from
         | (select vec_id, sqrt($dotSelf) as norm from embeddings)
         |where norm > 0e0 and vec_id % 50 = 0""".stripMargin.replace("\n", " ")
    },
    "ann_cosine" -> annCosineSql(""),
    "ann_filtered" -> annCosineSql(
      " and vec_id in (select doc_id from documents where lang = 'en')"),
    "text_normalize" ->
      """select doc_id,
        | lower(trim(regexp_replace(text, '  +', ' ', 'g'))) as norm_text,
        | md5(lower(trim(regexp_replace(text, '  +', ' ', 'g')))) as norm_fp,
        | cast(length(lower(trim(regexp_replace(text, '  +', ' ', 'g')))) as bigint) as norm_len
        |from documents""".stripMargin.replace("\n", " "),
    "text_bpe_tokens" -> TextOps.bpeSql(),
    "corpus_vocab" ->
      """select token, cast(count(*) as bigint) as freq,
        | cast(count(distinct doc_id) as bigint) as docfreq
        |from (select doc_id, unnest(string_split(trim(text), ' ')) as token
        |      from documents)
        |group by token order by freq desc, token asc limit 100"""
        .stripMargin.replace("\n", " "),
    "ann_ivf_label" ->
      s"""$ivfLabelCtes
         |select q_id, n_id, cos, rn from ranked where rn <= 10"""
        .stripMargin.replace("\n", " "),
    // IVF-routed contrastive pairs: the shared IVF CTEs cut at 15, the
    // same positive × hard-negative assembly as the brute train_pairs
    "train_pairs_ivf" ->
      s"""$ivfLabelCtes,
         |topk as (select q_id, n_id, cos, rn from ranked where rn <= 15)
         |select p.q_id, p.n_id as pos_id, p.cos as pos_cos,
         | n.n_id as neg_id, n.cos as neg_cos, n.rn - 10 as slot
         |from (select * from topk where rn = 1) p
         |join (select * from topk where rn between 11 and 15) n using (q_id)"""
        .stripMargin.replace("\n", " "),
    // IVF-routed kNN weak labeling: votes from the probed-cell top-10
    "knn_classify_ivf" ->
      s"""$ivfLabelCtes,
         |nbrs as (select q_id, n_id from ranked where rn <= 10),
         |votes as (select q_id, label, count(*) as votes
         |  from nbrs join embeddings on n_id = vec_id
         |  group by q_id, label),
         |win as (select q_id, label, votes,
         |  row_number() over (partition by q_id order by votes desc, label asc) as rk
         | from votes)
         |select w.q_id as q_id, cast(w.label as bigint) as pred_label, votes,
         |  cast(e.label as bigint) as true_label,
         |  (w.label = e.label) as is_correct
         |from win w join embeddings e on w.q_id = e.vec_id
         |where rk = 1""".stripMargin.replace("\n", " "),
    // margin mining over the same fixed-quantizer IVF CTEs + the shared
    // ratio-margin tail — the bounded-scale bitext miner, fully
    // hash-checked (the brute ann_margin is its exactness baseline)
    "ann_margin_ivf" ->
      s"""$ivfLabelCtes,
         |topk as (select q_id, n_id, cos from ranked where rn <= 10),
         |${Similarity.marginMineSqlTail()}""".stripMargin.replace("\n", " "),
    "emb_centroids" ->
      s"""select cast(label as bigint) as label, cast(i as bigint) as dim,
         | cast(count(*) as bigint) as n,
         | ${Parity.fpSum("cast(list_extract(embedding, i) as double)")} as vsum,
         | ${Parity.fpSum("cast(list_extract(embedding, i) as double)")}
         |   / cast(count(*) as double) as centroid
         |from embeddings, generate_series(1, $dim) t(i)
         |group by label, i""".stripMargin.replace("\n", " "),
    "multimodal_resize" ->
      // source dims are the doc_id-derived PNG dims (Multimodal.pngDims);
      // floor() is explicit: Scala's .toLong truncates (= floor for the
      // positive scaled dims) while DuckDB's cast ROUNDS
      """select doc_id,
        | case when scale >= 1e0 then w0
        |  else greatest(1, cast(floor(cast(w0 as double) * scale) as bigint)) end as width,
        | case when scale >= 1e0 then h0
        |  else greatest(1, cast(floor(cast(h0 as double) * scale) as bigint)) end as height,
        | cast(3 as bigint) as channels, 'png' as format
        |from (select doc_id, w0, h0,
        |  8e0 / cast(greatest(w0, h0) as double) as scale
        | from (select doc_id,
        |   cast(1 + doc_id % 13 as bigint) as w0,
        |   cast(1 + (doc_id * 3) % 11 as bigint) as h0
        |  from documents))""".stripMargin.replace("\n", " "),
    "multimodal_meta" ->
      """select doc_id,
        | cast(1 + doc_id % 13 as bigint) as width,
        | cast(1 + (doc_id * 3) % 11 as bigint) as height,
        | cast(3 as bigint) as channels, 'png' as format
        |from documents""".stripMargin.replace("\n", " "),
    // the decoded-pixel histogram: pngBytes sets pixel (x,y) of doc d to
    // (d + 31x + 17y) mod 0xffffff (Multimodal.pngBytes), PNG is
    // lossless, so the decoded channel values are pure arithmetic.
    // unnest-chained generate_series: DuckDB's table-function form
    // rejects lateral column arguments (the chunkSql precedent)
    "mm_audio" ->
      """with n as (select doc_id, cast(256 + doc_id % 257 as bigint) as ns
        | from documents),
        |sam as (select doc_id, ns, unnest(generate_series(0, ns - 1)) as i from n),
        |v as (select doc_id, ns, i,
        |  ((doc_id * 31 + i * 17) % 2003) - 1001 as s from sam),
        |lagged as (select doc_id, ns, s,
        |  lag(s) over (partition by doc_id order by i) as ps from v)
        |select doc_id, max(ns) as n_samples,
        | cast(sum(s * s) as bigint) as energy,
        | cast(sum(case when ps is not null and ps * s < 0 then 1 else 0 end) as bigint)
        |  as zero_cross
        |from lagged group by doc_id""".stripMargin.replace("\n", " "),
    "mm_quality" ->
      """with dims as (select doc_id,
        |  cast(1 + doc_id % 13 as bigint) as w,
        |  cast(1 + (doc_id * 3) % 11 as bigint) as h from documents),
        |xs as (select doc_id, h, unnest(generate_series(0, w - 1)) as x from dims),
        |px as (select doc_id, x, y,
        |  (doc_id + x * 31 + y * 17) % 16777215 as val from
        |  (select doc_id, x, unnest(generate_series(0, h - 1)) as y from xs)),
        |g as (select doc_id, x, y,
        |  ((val // 65536) + ((val // 256) % 256) + (val % 256)) // 3 as g from px),
        |e as (select doc_id, g,
        |  lag(g) over (partition by doc_id, y order by x) as pg from g)
        |select doc_id, cast(count(*) as bigint) as n_px,
        | cast(sum(g) as bigint) as gray_sum,
        | cast(coalesce(sum(abs(g - pg)), 0) as bigint) as edge_sum
        |from e group by doc_id""".stripMargin.replace("\n", " "),
    "multimodal_features" ->
      """with dims as (select doc_id,
        |  cast(1 + doc_id % 13 as bigint) as w,
        |  cast(1 + (doc_id * 3) % 11 as bigint) as h from documents),
        |xs as (select doc_id, h, unnest(generate_series(0, w - 1)) as x from dims),
        |px as (select doc_id,
        |  (doc_id + x * 31 + y * 17) % 16777215 as val from
        |  (select doc_id, x, unnest(generate_series(0, h - 1)) as y from xs)),
        |ch as (select doc_id, 0 as channel, val // 65536 as v from px
        | union all select doc_id, 1, (val // 256) % 256 from px
        | union all select doc_id, 2, val % 256 from px)
        |select doc_id, cast(channel as bigint) as channel,
        | cast(v // 32 as bigint) as bin, cast(count(*) as bigint) as cnt
        |from ch group by doc_id, channel, v // 32"""
        .stripMargin.replace("\n", " ")
  )

  /** Gates that share another gate's oracle VERBATIM because the Spark
    * relation is definitionally equal (a stored/served spelling of the
    * same computation): the stored decode sidecar must reproduce the
    * recompute bit for bit. */
  val oracles: Map[String, String] = oraclesBase ++ Map(
    "multimodal_features_stored" -> oraclesBase("multimodal_features"))
}
