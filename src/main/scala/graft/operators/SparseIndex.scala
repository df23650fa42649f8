package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sparse (inverted-index) retrieval as a STORED INDEX WITH A LIFECYCLE —
  * the text-retrieval twin of the IVF-PQ index verbs ([[Pq.writeIvfPqIndex]]
  * / append / delete / compact): write once, then fold daily shards in,
  * tombstone deletions, and compact, with serving bit-identical to a full
  * rebuild after every history.
  *
  * The trick that makes the algebra exact: the index does NOT store tfidf.
  * TF-IDF couples every posting to the whole corpus through df and N, so a
  * stored tfidf goes stale the moment one document arrives. Instead the
  * stored halves are the mergeable moments the score derives from:
  *
  *   `dir` table `…_postings` — raw term-frequency rows
  *                `(doc_id, token, c, n_tok)`: per-document values, so a
  *                shard's rows are computable from the shard alone and
  *                APPEND without touching indexed data (token-bucketed —
  *                the Lucene-segment layout; each append adds one segment
  *                of bucket files, compaction folds them);
  *   `dir` table `…_dfstats`  — `(token, dfq)` document-frequency moment
  *                DELTAS: BIGINT counts form an abelian group, so a
  *                shard's df rows APPEND as a new segment on append and
  *                a delete appends NEGATED rows — the same algebra that
  *                makes the ANN index's cell moments exact, laid out the
  *                same LSM way as the postings (readers fold segments
  *                with a bucket-local `sum`, compaction collapses them
  *                to one row per surviving token). Before round 12 every
  *                verb read the whole vocabulary-sized table back,
  *                merged and REWROTE it — a per-verb constant the
  *                streaming CRUD paid five times per history; now a verb
  *                writes only its own shard's rows;
  *   `dir/meta`       — the corpus document count `nn` (one row);
  *   `dir/tombstones` — deleted doc ids; serving anti-joins them so the
  *                postings stop answering without rewriting a file.
  *
  * Serving recomputes `tfidf = (c / n_tok) · idfQ9(dfq, nn)` from the
  * merged moments — identical arithmetic on identical integers to what a
  * from-scratch [[TextOps.sparseRetrieval]] computes, which is why the
  * lifecycle gates (`sparse_append`, `sparse_delete`, `sparse_lifecycle`)
  * share its DuckDB oracle bit for bit.
  *
  * Scale shape at 100 TB: ingest cost is shard-proportional (tokenize the
  * shard, one df-moment merge at vocabulary size — model-sized next to the
  * corpus); the posting table is bucketed by token on BOTH stored relations
  * so the serve-time df attach and the query⋈corpus token join inherit the
  * bucket distribution; a delete is an O(deleted) tombstone append plus the
  * df downdate. Nothing ever rescans the indexed corpus.
  *
  * Reference for the retrieval semantics: alexdaiii/dask-mwu has no text
  * retrieval — this extends the engine's training-data surface (the
  * `sparse_retrieval` family) with the index-maintenance verbs a daily
  * ingestion pipeline needs.
  */
object SparseIndex {

  /** Default posting-bucket count. A parameter, not a constant, because
    * the bucket count caps BOTH the serve join's parallelism and the
    * per-bucket file size: at 100 TB with 8 buckets each bucket file is
    * ~12 TB and only 8 tasks ever serve. Sizing rule: buckets ≈ cluster
    * cores × a small factor (2–4), rounded to a power of two so elastic
    * resize stays aligned — e.g. a 1000-executor × 4-core cluster wants
    * 8192–16384 buckets. Local tests keep 8 (32 threads, tiny files).
    * Append/delete/compact/serve never take the parameter: they read the
    * count back from the stored table's catalog bucket spec, so a
    * mismatched-count append is impossible by construction. */
  val DefaultBuckets = 8

  /** Catalog-safe table-name stem for an index directory — injective
    * ([[IndexFs.dirKey]]): neither a 32-bit hashCode (r8 advice) nor the
    * lossy plain sanitizer (r9 advice: `/a/b.c` and `/a/b_c` alias)
    * may map two index dirs onto one catalog entry. */
  private def stem(dir: String): String =
    "graft_sidx_" + IndexFs.dirKey(dir)

  /** The bucket count a stored index was built with, read back from its
    * posting table's catalog bucket spec — append segments and the
    * compaction rewrite MUST use the build's count or the bucket hash
    * contract (and the zero-exchange serve plan) silently breaks. */
  private def bucketCount(spark: SparkSession, dir: String): Int =
    spark.sessionState.catalog
      .getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(postingsTbl(dir)))
      .bucketSpec.map(_.numBuckets)
      // fail LOUD, never assume: a posting table that somehow lost its
      // bucket spec would otherwise get DefaultBuckets-hashed appends
      // silently corrupting the bucket contract (advice r10)
      .getOrElse(sys.error(s"stored sparse index '$dir': posting table " +
        s"${postingsTbl(dir)} has no catalog bucket spec — refusing to " +
        "append/compact with an assumed bucket count"))

  private def postingsTbl(dir: String) = stem(dir) + "_postings"
  private def dfTbl(dir: String) = stem(dir) + "_dfstats"

  /** Refresh this session's cached relations for the index's catalog
    * tables. Serving (and every lifecycle verb that reads the tables)
    * must be correct from ANY session: a catalog table's file listing is
    * cached per-session, so segments appended by ANOTHER session — a
    * streaming micro-batch's cloned session, another job sharing the
    * metastore — are invisible here until a refresh. Round 11 shipped
    * exactly that wrong answer (`stream_sparse_crud` served 0 rows from
    * a stale empty listing); the refresh costs one file listing, never
    * data. */
  private def refreshStored(spark: SparkSession, dir: String): Unit =
    Seq(postingsTbl(dir), dfTbl(dir)).foreach { t =>
      if (spark.catalog.tableExists(t)) spark.catalog.refreshTable(t)
    }

  /** The stored posting rows with tombstoned documents anti-joined out —
    * the live half every serve and every exact backfill derives from. */
  private def livePostings(spark: SparkSession, dir: String): DataFrame =
    IndexFs.liveOnly(spark.table(postingsTbl(dir)), dir, "doc_id")

  /** The df moments folded from the stored delta segments: bucket-local
    * `sum` per token (the scan's bucket hash already satisfies the
    * grouping — zero exchanges), emptied tokens (net 0 after deletes)
    * drop. Also reads pre-round-12 indexes unchanged: their absolute
    * rows are a one-segment fold. */
  private def dfStats(spark: SparkSession, dir: String): DataFrame =
    spark.table(dfTbl(dir)).groupBy("token").agg(sum("dfq").as("dfq"))
      .filter(col("dfq") > 0)

  /** The scalar meta moments `(nn, tot)`, with backward compat for
    * indexes written before `tot` existed (r11 advice: the ANN index's
    * codebook sidecar falls back explicitly; the meta sidecar must
    * too, or a pre-r11 index fails its first append/serve with an
    * unresolved column). The backfill recomputes `tot` once from the
    * LIVE postings — tombstone-aware, so it equals what the rebuild
    * algebra would have carried. */
  private def readMeta(spark: SparkSession, dir: String): DataFrame = {
    val m = spark.read.parquet(s"$dir/meta")
    if (m.columns.contains("tot")) m
    else m.crossJoin(livePostings(spark, dir)
      .agg(coalesce(sum("c"), lit(0L)).as("tot")))
  }

  /** Raw term-frequency relation of a document set — per-document values
    * only (tf count and doc length), so it is computable shard-locally:
    * the append path's whole write is this relation over the shard. */
  private def tfRelation(docs: DataFrame): DataFrame =
    // r15: n_tok = the closed-form gram count ([[TextOps.gram3Count]] —
    // split cost, computed row-locally; gram3 emits >= 1 token per doc
    // and explode drops nothing, so it equals the old sum-over-tf
    // window's integer exactly) — computing it BEFORE the explode
    // deletes a doc_id-keyed window exchange + sort from every index
    // verb (guide §2.4; n_tok is functionally dependent on doc_id, so
    // adding it to the grouping key changes no group)
    // two-step select: pins n_tok BELOW the Generate (see
    // TextOps.tfidfPostings — a one-projection spelling hoists the
    // split above the explode and runs it once per token row)
    docs.select(col("doc_id"),
        expr(s"cast((${TextOps.gram3Count}) as bigint)").as("n_tok"),
        col("text"))
      .select(col("doc_id"), col("n_tok"),
        explode(expr(TextOps.gram3Spark)).as("token"))
      .groupBy("doc_id", "token", "n_tok").agg(count(lit(1)).as("c"))
      .select("doc_id", "token", "c", "n_tok")

  private def writeBucketed(df: DataFrame, tbl: String, dir: String,
                            sub: String, mode: String, nBuckets: Int): Unit =
    df.write.format("parquet").mode(mode)
      .bucketBy(nBuckets, "token").sortBy("token")
      .option("path", s"$dir/$sub").saveAsTable(tbl)

  /** Is a servable stored index present at `dir` for THIS session —
    * catalog entry registered AND the posting files still on the
    * filesystem (a reaped tmp under a live catalog entry must read as
    * absent)? The cache-or-compute guard for serve-only gates. */
  def isIndexed(spark: SparkSession, dir: String): Boolean =
    spark.catalog.tableExists(postingsTbl(dir)) &&
      spark.catalog.tableExists(dfTbl(dir)) &&
      IndexFs.exists(spark, s"$dir/postings") &&
      IndexFs.exists(spark, s"$dir/meta")

  /** Build the stored index from scratch. `nBuckets` follows the sizing
    * rule documented at [[DefaultBuckets]]; every later verb reads the
    * count back from the catalog, so only the build chooses it. */
  def writeSparseIndex(docs: DataFrame, dir: String,
                       nBuckets: Int = DefaultBuckets): Unit = {
    val spark = docs.sparkSession
    spark.sql(s"drop table if exists ${postingsTbl(dir)}")
    spark.sql(s"drop table if exists ${dfTbl(dir)}")
    // a from-scratch build owns the dir: stale tombstones (e.g. a
    // previous lifecycle that died between delete and compact) would
    // silently suppress freshly indexed doc_ids at serve
    IndexFs.deleteRecursive(spark, s"$dir/tombstones")
    val tf = tfRelation(docs)
    writeBucketed(tf, postingsTbl(dir), dir, "postings",
      "overwrite", nBuckets)
    // df moments and the scalar meta moments derive from a read-back of
    // the posting files just written — one corpus tokenization total
    // (df used to re-tokenize). The df aggregate reads the CATALOG
    // table (r15): the bucket spec satisfies the groupBy(token)
    // distribution, so the corpus-sized posting relation is never
    // re-shuffled to compute df — the path-read spelling paid one full
    // exchange of every posting row per build. Session-staleness
    // safety (the round-11 `stream_sparse_crud` 0-row regression —
    // a relation cache primed here would hide segments appended by
    // ANOTHER session) is carried by [[refreshStored]], which every
    // verb and serve entry point has invoked since r11: the listing
    // cached at build time is invalidated before any later read. The
    // build itself just dropped/recreated the table, so this read's
    // listing is fresh by construction.
    // r16 (guide §1.2 compute-once): meta's `tot` used to come from a
    // SECOND corpus-sized path read of the posting files; the one df
    // aggregate now carries sum(c) per token alongside, materializes
    // once at vocabulary size, and `tot` folds from it —
    // Σ_token Σ c = Σ c exactly (BIGINT), so the build reads its
    // postings back once instead of twice.
    val dfPlus = spark.table(postingsTbl(dir))
      .groupBy("token").agg(count(lit(1)).as("dfq"), sum("c").as("ctok"))
      .localCheckpoint()
    writeBucketed(dfPlus.select("token", "dfq"),
      dfTbl(dir), dir, "dfstats", "overwrite", nBuckets)
    // meta holds BOTH scalar moments serving needs: the doc count `nn`
    // (TF-IDF idf and the df stop cut) and the total token count `tot`
    // (BM25's avglen = tot/nn). Every document emits >= 1 token (the
    // gram3 tokenizer pads short/empty text to one gram), so `nn`
    // doubles as BM25's distinct-doc count `nd`.
    docs.agg(count(lit(1)).as("nn"))
      .crossJoin(dfPlus.agg(coalesce(sum("ctok"), lit(0L)).as("tot")))
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Fold a NEW document shard into the stored index without rescanning
    * the indexed corpus: the shard's tf rows append as a new segment of
    * bucket files, its df moments ADD onto the stored ones, and the doc
    * count bumps. Append cost = tokenize the shard + a vocabulary-sized
    * moment merge. Same ordering constraint as the ANN index: an id
    * deleted earlier must compact before it can re-insert, or the
    * lingering tombstone would shadow the new rows while its df/nn
    * contributions re-enter — stats and serving would diverge from a
    * rebuild. The shard-sized gate makes that loud. */
  def appendSparseIndex(newDocs: DataFrame, dir: String): Unit = {
    val spark = newDocs.sparkSession
    refreshStored(spark, dir)
    IndexFs.requireNotTombstoned(newDocs, "doc_id", dir, "appendSparseIndex", "compactSparseIndex")
    // snapshot the meta moments BEFORE the segment writes: readMeta's
    // legacy-backfill path derives `tot` from the live postings, which
    // must be the PRE-append postings (lazily it would see the new
    // segment and double-count the shard)
    val meta = readMeta(spark, dir).localCheckpoint()
    // ONE tokenization of the shard feeds all three writes (postings
    // segment, df delta segment, meta bump) — shard-sized checkpoint
    val tf = tfRelation(newDocs).localCheckpoint()
    writeBucketed(tf, postingsTbl(dir), dir, "postings",
      "append", bucketCount(spark, dir))
    // df moments APPEND as a delta segment (readers fold segments, the
    // LSM discipline); only the shard's vocabulary is written — the
    // stored table is never read back, so the verb's cost is purely
    // shard-proportional instead of paying a corpus-vocabulary-sized
    // read-merge-rewrite per call
    writeBucketed(tf.groupBy("token").agg(count(lit(1)).as("dfq")),
      dfTbl(dir), dir, "dfstats", "append", bucketCount(spark, dir))
    // no checkpoint before the overwrite (r15): every input is already
    // materialized (`meta` checkpointed above, `tf` checkpointed), so
    // the write's plan never reads the path it replaces — the prior
    // spelling paid one extra job per append materializing a 1-row frame
    meta
      .unionByName(newDocs.agg(count(lit(1)).as("nn"))
        .crossJoin(tf.agg(coalesce(sum("c"), lit(0L)).as("tot"))))
      .agg(sum("nn").as("nn"), sum("tot").as("tot"))
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Delete documents from the stored index. Takes the deleted ROWS
    * (with text), not bare ids: df is derivable only from the documents'
    * tokens, the usual delete-feed shape (the ANN delete takes vectors
    * for the same reason). Tombstones stop the postings answering with
    * an O(deleted) write; the df moments SUBTRACT (append run backwards,
    * emptied tokens drop), and the doc count decrements. Idempotent
    * UNTIL THE NEXT COMPACTION: a re-delivered delete (within a batch
    * or across calls) is a no-op while the tombstone records the first
    * delivery, but compaction clears tombstones along with the rows, so
    * a delete re-delivered AFTER compacting reads as never-indexed and
    * fails the contract check below — loud, by design (the alternative
    * is a silent double-subtract of the df moments).
    *
    * Contract (enforced loud, advice r9): every surviving delete id must
    * actually be INDEXED — a delete for a doc_id the index never held
    * would subtract df moments that were never added and decrement nn,
    * permanently diverging serving from a rebuild, so it fails here
    * instead (same discipline as the append-side re-insert guard). The
    * check is an O(deleted)-result semi-join against the posting table's
    * column-pruned doc_id column. The row's TEXT must equal the indexed
    * text (df is derivable only from the tokens) — that half stays a
    * documented contract, as revalidating tokens would re-tokenize the
    * delete feed twice for a corruption only a buggy feed produces. */
  def deleteFromSparseIndex(deletedDocs: DataFrame, dir: String): Unit = {
    val spark = deletedDocs.sparkSession
    refreshStored(spark, dir)
    val tombPath = s"$dir/tombstones"
    val incoming = deletedDocs.dropDuplicates("doc_id")
    val eff = IndexFs.liveOnly(incoming, dir, "doc_id").localCheckpoint()
    Validation.requireEmpty(eff.select(col("doc_id").cast("long"))
      .join(spark.table(postingsTbl(dir)).select(col("doc_id").cast("long")),
        Seq("doc_id"), "left_anti"),
      "deleteFromSparseIndex: delete feed contains " +
        s"doc_id(s) never indexed in '$dir' — subtracting their df moments " +
        "would corrupt the sidecars; fix the feed", "doc_id")
    // snapshot meta BEFORE the tombstone write: the legacy-backfill
    // path derives `tot` from the live postings, which must still see
    // the docs this delete is about to tombstone (lazily it would
    // exclude them and the subtraction below would double-apply)
    val meta = readMeta(spark, dir).localCheckpoint()
    eff.select(col("doc_id").cast("long"))
      .write.mode("append").parquet(tombPath)
    // ONE tokenization of the delete feed for both the df delta and the
    // meta downdate; the df moments append NEGATED as a delta segment
    // (readers fold with `sum` and drop tokens netting to 0 — "a token
    // with no surviving docs leaves" now happens at read/compaction,
    // deleted-rows-proportional instead of vocabulary-sized per call)
    val tf = tfRelation(eff).localCheckpoint()
    writeBucketed(tf.groupBy("token").agg((-count(lit(1))).as("dfq")),
      dfTbl(dir), dir, "dfstats", "append", bucketCount(spark, dir))
    // same r15 no-checkpoint-before-overwrite argument as the append:
    // `meta` and `tf` (and `eff`) are materialized, nothing re-reads
    // the path being replaced
    meta
      .unionByName(eff.agg((-count(lit(1))).as("nn"))
        .crossJoin(tf.agg((-coalesce(sum("c"), lit(0L))).as("tot"))))
      .agg(sum("nn").as("nn"), sum("tot").as("tot"))
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Compact: physically apply the tombstones and fold each table's
    * accumulated append segments into ONE file per bucket (the LSM
    * merge) — posting rows drop their tombstoned docs, df delta rows
    * fold to one exact row per surviving token. Pure layout
    * maintenance: the folded moments are the ones every reader already
    * computes, so serving before and after is bit-identical and the
    * tombstone sidecar clears. */
  def compactSparseIndex(spark: SparkSession, dir: String): Unit = {
    refreshStored(spark, dir)
    val tombPath = s"$dir/tombstones"
    val nBuckets = bucketCount(spark, dir)
    // localCheckpoint materializes before overwriting the table being
    // read; the repartition on the bucket column comes AFTER it (the
    // checkpoint collapses upstream partitioning to the runtime's task
    // count), so the write sees exactly nBuckets partitions, each
    // holding one bucket's tokens (same murmur-pmod hash) — one file
    // per bucket.
    val compacted = livePostings(spark, dir)
      .localCheckpoint().repartition(nBuckets, col("token"))
    writeBucketed(compacted, postingsTbl(dir), dir, "postings", "overwrite",
      nBuckets)
    val dfFolded = dfStats(spark, dir)
      .localCheckpoint().repartition(nBuckets, col("token"))
    writeBucketed(dfFolded, dfTbl(dir), dir, "dfstats", "overwrite",
      nBuckets)
    IndexFs.deleteRecursive(spark, tombPath)
  }

  /** Serve TF-IDF retrieval from the stored index: recompute the score
    * inputs from the merged moments — `tfidf = (c / n_tok) · idf(dfq, nn)`
    * with the identical quantized-idf arithmetic ([[TextOps.idfQ9]]) and
    * the identical df stop cut a from-scratch build applies, on integers
    * that equal the rebuild's by the merge algebra. Both stored relations
    * are token-bucketed, so the df attach and the downstream query⋈corpus
    * join inherit the bucket distribution. Tombstoned docs are anti-joined
    * out (O(deleted) sidecar until a compaction clears it); a catalog
    * refresh first makes the serve correct from ANY session, not only
    * the one that last wrote ([[refreshStored]]). */
  def sparseRetrievalStored(spark: SparkSession, dir: String, k: Int = 10,
                            queryEvery: Int = 50,
                            maxQ: Long = Long.MaxValue): DataFrame = {
    refreshStored(spark, dir)
    val postings = livePostings(spark, dir)
      .join(dfStats(spark, dir), "token")
      .crossJoin(broadcast(readMeta(spark, dir)))
      .filter(col("dfq") * 10 <= col("nn"))
      .withColumn("tfidf",
        (col("c").cast("double") / col("n_tok").cast("double"))
          * expr(TextOps.idfQ9))
      .select("doc_id", "token", "tfidf")
    TextOps.sparseRetrievalFrom(postings, k, queryEvery, maxQ)
  }

  /** Serve query-by-example BM25 from the SAME stored index — the round-10
    * honest negative closed: `bm25_fixedq` proved the 6.2× scale row was
    * the in-query posting/df/length build, not the query set, so BM25 now
    * reads every score input from the standing relations instead of
    * rebuilding them per query. The stored postings already carry the two
    * per-document values BM25 adds over TF-IDF (`c` = saturating tf,
    * `n_tok` = the document length the normalization divides by); df comes
    * from the merged `dfstats` moments, and the two scalar moments ride
    * `meta`: `nn` (= BM25's distinct-doc count, exact because the gram3
    * tokenizer emits >= 1 token per document) and `tot` (total token
    * count, so avglen = tot/nn). All inputs are exact integers merged by
    * the append/delete algebra, so the fixed-point idf and the score sum
    * are bit-identical to a from-scratch [[TextOps.bm25Retrieval]] — the
    * `bm25_stored` / `bm25_lifecycle_serve` gates share its DuckDB oracle.
    * Same plan shape as [[sparseRetrievalStored]]: token-bucketed join on
    * both stored relations, broadcast 1-row meta, tombstone anti-join. */
  def bm25RetrievalStored(spark: SparkSession, dir: String, k: Int = 10,
                          queryEvery: Int = 50,
                          maxQ: Long = Long.MaxValue): DataFrame = {
    refreshStored(spark, dir)
    val postings = livePostings(spark, dir)
      .join(dfStats(spark, dir), "token")
      .crossJoin(broadcast(readMeta(spark, dir)))
      .filter(col("dfq") * 10 <= col("nn"))
      .withColumn("idf9", expr(TextOps.bm25Idf9("nn")))
      .withColumn("avglen", expr("cast(tot as double) / cast(nn as double)"))
      .select(col("doc_id"), col("token"), col("c").as("tf"),
        col("n_tok").as("len"), col("idf9"), col("avglen"))
    TextOps.bm25RetrievalFrom(postings, k, queryEvery, maxQ)
  }
}
