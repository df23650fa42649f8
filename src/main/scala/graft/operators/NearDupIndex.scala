package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate detection as a STORED INDEX WITH A LIFECYCLE — the
  * near-dup twin of [[SparseIndex]] (text retrieval) and
  * [[Pq.writeIvfPqIndex]] (ANN): build once over the historical corpus,
  * fold daily shards in, tombstone deletions, compact — and serve
  * per-document `kept / dup_history / dup_batch` verdicts for an
  * incoming shard without ever rescanning the indexed corpus. This is
  * the production "yesterday's index vs today's crawl" loop that
  * [[Dedup.incrementalWinnow]] models as a one-shot batch: here the
  * history side is a standing artifact, so a day's verdicts cost the
  * shard, not the corpus.
  *
  * What the index stores (all derived from winnow fingerprints,
  * [[TextOps.winnow]] — position-robust, so a single-insertion shifted
  * copy still matches):
  *
  *   `dir` table `…_bands` — `(doc_id, band, bv)`: the doc's LSH band
  *                values from a Carter-Wegman MinHash signature over its
  *                kept fingerprint set. Fixed width (`bands` rows/doc),
  *                bucketed by `bv`. Candidate generation is a join of an
  *                incoming shard's band rows against this table — work
  *                bounded by bucket co-occupancy, independent of index
  *                size, never an fp-co-occurrence join.
  *   `dir` table `…_sets`  — `(doc_id, fset, n_fp, bvs)`: the sorted
  *                kept-fp array (the exact-verify operand), its size
  *                (the containment denominator), and the band vector.
  *                Bucketed by `doc_id`, so the verify join against
  *                candidates inherits the bucket distribution.
  *   `dir/stopfps`    — the FROZEN df stop cut: fingerprints present in
  *                >10% of the BUILD corpus (boilerplate). Per-doc rows
  *                must be append-safe — a signature computed at append
  *                time must equal the one a rebuild would compute — so
  *                the cut is frozen at build time (the Lucene
  *                stopword-file discipline) rather than recomputed per
  *                shard: a moving cut would silently change the kept
  *                sets (and signatures) of already-indexed documents.
  *                A from-scratch rebuild refreshes it; compaction keeps
  *                it (documented, not recomputed — compaction must be
  *                serve-invisible).
  *   `dir/tombstones` — deleted doc ids; serving anti-joins them.
  *
  * Verify arithmetic is [[Dedup.incrementalWinnowBanded]]'s exact
  * integer containment (`n_shared·thrDen ≥ thrNum·n_fp` against the
  * INCOMING doc's kept-fp count, plus the `minShared` floor) — no
  * doubles, so the DuckDB oracle ([[serveSql]]) matches bit for bit.
  *
  * Scale shape at 100 TB: ingest is shard-proportional (winnow the
  * shard, two segment appends); a serve broadcasts the shard's band
  * rows (fixed width × shard size) into the bucketed stored table,
  * collapses collisions to distinct candidate pairs, and pays the exact
  * verify only per candidate; deletes are O(deleted) tombstone appends.
  * The indexed corpus is never rescanned and never reshuffled.
  *
  * Reference: alexdaiii/dask-mwu has no text operators — this extends
  * the engine's training-data surface (SURVEY.md §7.6 dedup family)
  * with the index-maintenance verbs an ingestion pipeline needs.
  */
object NearDupIndex {
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Same sizing rule as [[SparseIndex.DefaultBuckets]]. */
  val DefaultBuckets = 8

  /** 16 bands × 1 hash (r=1), matching
    * [[Dedup.incrementalWinnowBanded]]'s r13 default: the verdict is
    * CONTAINMENT but LSH collisions track Jaccard, and r=2 misses
    * half the containment-shaped dups on the natural corpus (measured
    * recall 0.51 → 0.99 for ~7% cost — see the banded operator's doc
    * and `ScaleStress nearduprecall`). The geometry is part of the
    * stored format: build stamps it into `dir/ndconf` and every
    * verb/serve refuses an index stamped with different constants —
    * a geometry mismatch would silently serve zero matches. */
  val NumHashes = 16
  val Bands = 16

  /** Hot-bucket cap (frozen at build, like the fp stop cut): band
    * values held by more than BvCutAbs docs of the BUILD corpus are
    * excluded from candidate generation — they carry collision MASS,
    * not signal (at r=1 a single corpus-common argmin puts thousands
    * of docs in one bucket; measured on the 10× word-soup corpus: 454
    * buckets of 400–3,196 docs holding 96% of a 6.6e8-row collision
    * mass, which regressed the standing serve 10→171 s). The cap is
    * ABSOLUTE, not relative: relative bucket sizes are scale-invariant
    * under corpus growth while pair mass grows quadratically, so any
    * percentage rule either starves recall at small N or admits
    * quadratic mass at large N (measured: a 1% rule cut recall on the
    * natural sf0.1 corpus 0.99→0.56; a 5% rule left 70% of the 10×
    * mass). An absolute cap bounds candidate work per probe at
    * cap × Bands rows regardless of index size — the standard
    * production-LSH skip-mega-buckets rule — and a pair whose ONLY
    * shared argmins are shared by 500+ other docs carries ~no
    * similarity evidence. Serve-time filter on BOTH the stored and
    * the shard band rows — stored segments keep every row, so append
    * stability and compaction invisibility are untouched and only a
    * rebuild moves the cut. Mirrored in [[serveSql]].
    *
    * Growth caveat (same discipline as the fp stop cut): the cap is
    * computed from BUILD-corpus occupancy, so buckets that cross
    * BvCutAbs only through later appends stay live and serve cost
    * creeps with them (measured: the CRUD gate, whose seed is 1/3 of
    * its final corpus, runs 2× slower at 10× than a fresh-build serve).
    * Rebuild when the live corpus outgrows the build corpus ~2× — the
    * [[NearDupDrift]] shardDocs log makes the growth observable. */
  val BvCutAbs = 512

  private def stem(dir: String): String =
    "graft_ndidx_" + IndexFs.dirKey(dir)
  private def bandsTbl(dir: String) = stem(dir) + "_bands"
  private def setsTbl(dir: String) = stem(dir) + "_sets"

  /** Cross-session coherence ([[SparseIndex.refreshStored]]): a serve
    * must see segments appended by ANY session, so refresh both catalog
    * relations first — one file listing, never data. */
  private def refreshStored(spark: SparkSession, dir: String): Unit =
    Seq(bandsTbl(dir), setsTbl(dir)).foreach { t =>
      if (spark.catalog.tableExists(t)) spark.catalog.refreshTable(t)
    }

  private def bucketCount(spark: SparkSession, dir: String): Int =
    spark.sessionState.catalog
      .getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(bandsTbl(dir)))
      .bucketSpec.map(_.numBuckets)
      .getOrElse(sys.error(s"stored near-dup index '$dir': band table " +
        s"${bandsTbl(dir)} has no catalog bucket spec — refusing to " +
        "append/compact with an assumed bucket count"))

  private def live(spark: SparkSession, dir: String, tbl: String): DataFrame = {
    val tombPath = s"$dir/tombstones"
    val t0 = spark.table(tbl)
    if (IndexFs.exists(spark, tombPath))
      t0.join(spark.read.schema("doc_id long").parquet(tombPath),
        Seq("doc_id"), "left_anti")
    else t0
  }

  /** Per-doc index rows for a document set under a GIVEN stop set:
    * `(doc_id, fset, n_fp, bvs)` — one map-side-combined aggregate over
    * the doc's kept winnow fps; computable shard-locally, which is what
    * makes append exact. */
  private def docRows(docs: DataFrame, stop: DataFrame): DataFrame =
    docRowsFromFps(
      TextOps.winnow(docs).select("doc_id", "fp").distinct(), stop)

  /** [[docRows]] over an already-tokenized `(doc_id, fp)` relation —
    * the build path reuses its stop-cut tokenization here, so a build
    * winnows the corpus ONCE (the [[SparseIndex.writeSparseIndex]]
    * single-tokenization discipline). */
  private def docRowsFromFps(fps: DataFrame, stop: DataFrame): DataFrame = {
    val r = NumHashes / Bands
    val kept = fps.join(broadcast(stop), Seq("fp"), "left_anti")
    val sigAggs = (0 until NumHashes).map(j =>
      min(expr(graft.oracle.Parity.cwMix(j, "fp"))).as(s"h$j"))
    val aggs = Seq(sort_array(collect_list(col("fp"))).as("fset"),
      count(lit(1)).as("n_fp")) ++ sigAggs
    val bvCols = (0 until Bands).map(b =>
      expr(Dedup.bandValueSql((b * r until (b + 1) * r).map(j => s"h$j"))))
    kept.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"), col("fset"), col("n_fp"),
        array(bvCols: _*).as("bvs"))
  }

  private def readStop(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema("fp long").parquet(s"$dir/stopfps")

  /** Loud stored-format guard: per-doc rows computed under one LSH
    * geometry are meaningless under another (shard band values would
    * never collide with stored ones — every serve answers `kept`), so
    * the geometry is stamped at build and re-checked by every verb and
    * serve. An index without the stamp predates the guard — rebuild. */
  /** The stamp, read defensively (advice r13): a crash mid stamp-write
    * can leave `dir/ndconf` present but EMPTY or with uncommitted
    * partial files. Incompleteness is detected by the committer's
    * `_SUCCESS` marker, not by swallowing exceptions (advice r14): a
    * blanket catch turned any transient IO failure into None, which
    * made `isIndexed` report a healthy index as absent and drove
    * cache-or-compute sites into a destructive rebuild (wiping driftlog
    * and tombstones). With the marker present, read errors PROPAGATE.
    * None = stamp dir missing, write never committed, or zero rows. */
  private def readConf(spark: SparkSession, dir: String): Option[(Int, Int)] = {
    val p = s"$dir/ndconf"
    if (!IndexFs.exists(spark, s"$p/_SUCCESS")) None
    else spark.read.schema("num_hashes int, bands int").parquet(p)
      .collect().headOption.map(r => (r.getInt(0), r.getInt(1)))
  }

  private def requireConf(spark: SparkSession, dir: String): Unit =
    readConf(spark, dir) match {
      case None =>
        sys.error(s"stored near-dup index '$dir' carries no readable " +
          "geometry stamp (pre-r13, partial, or interrupted build) — " +
          "rebuild with writeNearDupIndex")
      case Some((nh, b)) =>
        require(nh == NumHashes && b == Bands,
          s"stored near-dup index '$dir' was built with geometry " +
            s"($nh, $b) but the code is ($NumHashes, $Bands) — rebuild " +
            "with writeNearDupIndex")
    }

  private def writeSets(df: DataFrame, dir: String, mode: String,
                        nBuckets: Int): Unit =
    df.write.format("parquet").mode(mode)
      .bucketBy(nBuckets, "doc_id").sortBy("doc_id")
      .option("path", s"$dir/sets").saveAsTable(setsTbl(dir))

  /** Bucketed by BOTH (band, bv) — the candidate join's full key set.
    * A bv-only bucket spec is a subset of the join keys and Spark's
    * co-partitioning check (`requireAllClusterKeysForCoPartition`,
    * default true) rejects subset matches, so the backfill-regime
    * sort-merge candidate join would re-exchange the STORED table;
    * with the full key set the stored side inherits its layout and
    * only the shard band rows ever shuffle (PlanSpec pins it). */
  private def writeBands(df: DataFrame, dir: String, mode: String,
                         nBuckets: Int): Unit =
    df.write.format("parquet").mode(mode)
      .bucketBy(nBuckets, "band", "bv").sortBy("band", "bv")
      .option("path", s"$dir/bands").saveAsTable(bandsTbl(dir))

  /** Servable index present for THIS session? The cache-or-compute
    * guard ([[SparseIndex.isIndexed]]'s contract): BOTH catalog entries
    * and EVERY data path — a reaped tmp dir under a surviving catalog
    * entry must read as absent. The bands path matters as much as the
    * sets path: a reaped bands dir would make candidate generation see
    * an empty listing and silently serve every shard doc as kept
    * (advice r12). */
  def isIndexed(spark: SparkSession, dir: String): Boolean =
    spark.catalog.tableExists(bandsTbl(dir)) &&
      spark.catalog.tableExists(setsTbl(dir)) &&
      IndexFs.exists(spark, s"$dir/sets") &&
      IndexFs.exists(spark, s"$dir/bands") &&
      IndexFs.exists(spark, s"$dir/stopfps") &&
      IndexFs.exists(spark, s"$dir/stopbvs") &&
      // a cache built under an older LSH geometry — or one whose stamp
      // is empty/unreadable after an interrupted build — reads as
      // ABSENT so cache-or-compute sites rebuild instead of crashing
      // in requireConf (advice r13)
      readConf(spark, dir).contains((NumHashes, Bands))

  /** Build the stored index from scratch. Freezes the df stop cut from
    * THIS corpus (see the object doc — append-safety requires it). */
  def writeNearDupIndex(docs: DataFrame, dir: String,
                        nBuckets: Int = DefaultBuckets): Unit = {
    val spark = docs.sparkSession
    spark.sql(s"drop table if exists ${bandsTbl(dir)}")
    spark.sql(s"drop table if exists ${setsTbl(dir)}")
    IndexFs.deleteRecursive(spark, s"$dir/tombstones")
    // ONE corpus tokenization feeds the stop cut AND the index rows
    val fps = TextOps.winnow(docs).select("doc_id", "fp").distinct()
      .localCheckpoint()
    val nDocs = docs.select("doc_id").distinct().count()
    // the frozen stop set: boilerplate fps (>10% of the build corpus) —
    // the same cut [[Dedup.incrementalWinnowBanded]] applies, written
    // once as an index artifact so appends/serves reuse it verbatim.
    // The build-corpus df moments (fp, dfp, n_docs) ride along in a
    // stop-set-sized sidecar so [[appendNearDupIndex]]'s drift metric
    // (and a human reading the index) can compare the frozen cut's
    // provenance against what later shards look like.
    // localCheckpoint (stop-set-sized) so the corpus-wide df aggregate
    // runs ONCE for the two sidecar writes — each write used to re-run
    // the full groupBy over fps (r15: corpus-sized work per build
    // halved for a cut-sized materialization)
    val stopDf = fps.groupBy("fp").agg(count(lit(1)).as("dfp"))
      .filter(col("dfp") * 10 > lit(nDocs))
      .localCheckpoint()
    stopDf.withColumn("n_docs_build", lit(nDocs))
      .write.mode("overwrite").parquet(s"$dir/stopdf")
    stopDf.select("fp")
      .write.mode("overwrite").parquet(s"$dir/stopfps")
    IndexFs.deleteRecursive(spark, s"$dir/driftlog")
    val rows = docRowsFromFps(fps, readStop(spark, dir)).localCheckpoint()
    writeSets(rows, dir, "overwrite", nBuckets)
    val bandRows = rows.select(col("doc_id"), posexplode(col("bvs")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bv")
    writeBands(bandRows, dir, "overwrite", nBuckets)
    // frozen hot-bucket cap (see [[BvCutAbs]]): band values the BUILD
    // corpus crowds are excluded from candidate generation at serve
    bandRows.groupBy("band", "bv").agg(count(lit(1)).as("c"))
      .filter(col("c") > BvCutAbs)
      .select("band", "bv")
      .write.mode("overwrite").parquet(s"$dir/stopbvs")
    // geometry stamp LAST: its presence certifies a complete build
    spark.createDataFrame(Seq((NumHashes, Bands)))
      .toDF("num_hashes", "bands")
      .write.mode("overwrite").parquet(s"$dir/ndconf")
  }

  /** Per-append drift observation of the FROZEN stop cut (returned by
    * [[appendNearDupIndex]] and appended to `dir/driftlog`). The cut is
    * frozen at build for append-safety, so after heavy appends the LIVE
    * corpus' boilerplate can diverge from the build corpus' and recall
    * decays silently — these two ratios make the decay observable:
    *
    *   `newBoilerplateFrac` — the share of the shard's distinct
    *     (doc, fp) mass on fps that a shard-local 10% cut WOULD stop
    *     but the frozen cut does not. New boilerplate the cut misses
    *     inflates kept sets with corpus-common fps: spurious candidate
    *     mass AND spurious containment — the recall/precision risk.
    *   `staleStopFrac` — the share of the frozen stop set no longer
    *     hot in the shard (fps stopped for boilerplate that has gone
    *     away — over-stopping, shrinks signatures). Noisy on tiny
    *     shards (a 3-doc shard makes almost any fp "hot"); read it on
    *     shards of hundreds of docs or more.
    *
    * Rebuild trigger (documented contract, not enforced): rebuild when
    * `newBoilerplateFrac` exceeds ~0.05 on a representative shard —
    * at that point 1 in 20 kept-fp slots is boilerplate the frozen cut
    * no longer removes, and banded recall measured on planted corpora
    * starts to decay. The two stop-cut ratios cost two shard-sized
    * aggregates on the already-winnowed shard relation.
    *
    * `capGrownBuckets` (verdict r13 #4) makes the OTHER frozen cut's
    * decay observable: the count of live (band, bv) buckets whose
    * occupancy exceeds [[BvCutAbs]] AFTER this append but that are NOT
    * in the frozen `stopbvs` sidecar — buckets that crossed the cap
    * only through post-build growth, so serve still pays their full
    * collision mass (the documented "CRUD gate 2× at 10×" creep,
    * [[BvCutAbs]]'s growth caveat). Rebuild folds them into the frozen
    * cut and the count resets to ~0. Cost: ONE exchange-free pass over
    * the (band, bv)-bucketed band table (the group-by key IS the bucket
    * spec, so no shuffle — scan-proportional at `Bands` rows/doc) plus
    * the broadcast tombstone/stopbvs anti-joins. */
  final case class NearDupDrift(shardDocs: Long, shardFpMass: Long,
                                newBoilerplateFrac: Double,
                                staleStopFrac: Double,
                                capGrownBuckets: Long)

  /** Fold a new shard in: two segment appends, shard-proportional.
    * Same re-insert guard as the sparse index — an id deleted earlier
    * must compact before re-inserting (the tombstone would shadow the
    * new rows), and a LIVE id must not re-append either: duplicate
    * per-doc rows would survive delete/compact and an update-shaped
    * re-append would answer from both versions with no loud failure
    * (advice r12). The id-disjointness check is one column-pruned
    * semi-join against the doc_id-bucketed sets table — cheap next to
    * the shard winnow. Returns the stop-cut [[NearDupDrift]]
    * observation (also appended to `dir/driftlog`).
    *
    * `capGrownMetric` (advice r14): the `capGrownBuckets` drift metric
    * aggregates the FULL live band table (exchange-free — the group-by
    * key is the bucket spec — but still one whole-index scan per
    * append). That is the right default while the index is within ~10×
    * of its build size; for a very large index fed by small frequent
    * shards, pass `false` on most appends and `true` on a sampling
    * cadence — skipped appends log the sentinel −1 ("not computed"),
    * which [[Curation.indexHealthCard]]'s max-aggregate ignores
    * whenever any computed observation exists. */
  def appendNearDupIndex(newDocs: DataFrame, dir: String,
                         capGrownMetric: Boolean = true): NearDupDrift = {
    val spark = newDocs.sparkSession
    requireConf(spark, dir)
    refreshStored(spark, dir)
    val tombPath = s"$dir/tombstones"
    if (IndexFs.exists(spark, tombPath)) {
      val clash = newDocs.select(col("doc_id").cast("long"))
        .join(spark.read.schema("doc_id long").parquet(tombPath),
          Seq("doc_id"), "left_semi")
        .limit(1).count()
      require(clash == 0L, "appendNearDupIndex: incoming shard re-inserts " +
        s"tombstoned doc_id(s); run compactNearDupIndex('$dir') first")
    }
    val liveClash = newDocs.select(col("doc_id").cast("long"))
      .join(spark.table(setsTbl(dir)).select(col("doc_id").cast("long")),
        Seq("doc_id"), "left_semi")
      .limit(1).count()
    require(liveClash == 0L, "appendNearDupIndex: incoming shard re-inserts " +
      s"doc_id(s) already live in '$dir' — appends must be id-disjoint " +
      "(delete + compact first for update-shaped re-inserts)")
    // ONE shard winnow feeds the index rows AND the drift metric
    val fps = TextOps.winnow(newDocs).select("doc_id", "fp").distinct()
      .localCheckpoint()
    val stop = readStop(spark, dir)
    val rows = docRowsFromFps(fps, stop).localCheckpoint()
    val nBuckets = bucketCount(spark, dir)
    writeSets(rows, dir, "append", nBuckets)
    writeBands(rows.select(col("doc_id"), posexplode(col("bvs")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bv"),
      dir, "append", nBuckets)
    // drift: shard-local hot fps vs the frozen cut (see [[NearDupDrift]]).
    // r15 job-count surgery (profiled: lifecycle gates are many small
    // jobs whose driver-side constants — planning, codegen, commit —
    // rivalled their task time): the two shard moments fold into ONE
    // aggregate (fps rows are distinct (doc, fp), so
    // count_distinct(doc_id) IS the shard doc count), and the three
    // stop-cut comparisons fold into ONE full-outer aggregate over the
    // two cut-sized relations — 5 jobs → 2, identical integers out.
    val mom = fps.agg(count(lit(1)).as("mass"),
      count_distinct(col("doc_id")).as("docs")).head
    val totalMass = mom.getLong(0)
    val nShard = mom.getLong(1)
    val shardDf = fps.groupBy("fp").agg(count(lit(1)).as("dfp_s"))
    val hotShard = shardDf.filter(col("dfp_s") * 10 > lit(nShard))
    val cutStats = hotShard
      .join(stop.withColumn("stopped", lit(1L)), Seq("fp"), "full_outer")
      .agg(
        // shard-hot fps the frozen cut misses: their shard df mass
        coalesce(sum(when(col("stopped").isNull, col("dfp_s"))), lit(0L))
          .as("new_boiler"),
        // frozen-stop fps no longer hot in the shard
        coalesce(sum(when(col("stopped").isNotNull && col("dfp_s").isNull,
          lit(1L))), lit(0L)).as("stale"),
        coalesce(sum("stopped"), lit(0L)).as("n_stop"))
      .head
    val newBoilerMass = cutStats.getLong(0)
    val nStop = cutStats.getLong(2)
    val staleStop =
      if (nStop == 0L) 0.0
      else cutStats.getLong(1).toDouble / nStop
    // hot-bucket-cap growth (see [[NearDupDrift]]): live post-append
    // occupancy, grouped on the table's own bucket keys (exchange-free),
    // capped buckets not already frozen into stopbvs
    refreshStored(spark, dir)
    val capGrown =
      if (!capGrownMetric) -1L // sentinel: metric skipped this append
      else live(spark, dir, bandsTbl(dir))
        .groupBy("band", "bv").agg(count(lit(1)).as("c"))
        .filter(col("c") > BvCutAbs)
        .join(broadcast(spark.read.schema("band int, bv long")
          .parquet(s"$dir/stopbvs")), Seq("band", "bv"), "left_anti")
        .count()
    val drift = NearDupDrift(nShard, totalMass,
      if (totalMass == 0L) 0.0 else newBoilerMass.toDouble / totalMass,
      staleStop, capGrown)
    spark.createDataFrame(Seq(
        (drift.shardDocs, drift.shardFpMass, drift.newBoilerplateFrac,
          drift.staleStopFrac, drift.capGrownBuckets)))
      .toDF("shard_docs", "shard_fp_mass", "new_boilerplate_frac",
        "stale_stop_frac", "cap_grown_buckets")
      .write.mode("append").parquet(s"$dir/driftlog")
    drift
  }

  /** The ids the index currently holds rows for (pre-tombstone). A doc
    * whose every fp is stopped (or whose text is too short to winnow)
    * has no index rows — it is outside the index universe, and a delete
    * feed must not name it ([[deleteFromNearDupIndex]]'s contract). */
  def indexedIds(spark: SparkSession, dir: String): DataFrame = {
    refreshStored(spark, dir)
    spark.table(setsTbl(dir)).select(col("doc_id").cast("long"))
  }

  /** Tombstone deletions: O(deleted) sidecar append; serving anti-joins.
    * Takes bare ids (unlike the sparse/ANN deletes, nothing here derives
    * from the deleted CONTENT — the index rows just stop answering).
    * Loud contract: every surviving delete id must be indexed. */
  def deleteFromNearDupIndex(deletedIds: DataFrame, dir: String): Unit = {
    val spark = deletedIds.sparkSession
    requireConf(spark, dir)
    refreshStored(spark, dir)
    val tombPath = s"$dir/tombstones"
    val incoming = deletedIds.select(col("doc_id").cast("long"))
      .dropDuplicates("doc_id")
    val eff = (if (IndexFs.exists(spark, tombPath))
      incoming.join(spark.read.schema("doc_id long").parquet(tombPath),
        Seq("doc_id"), "left_anti")
    else incoming).localCheckpoint()
    val foreign = eff
      .join(spark.table(setsTbl(dir)).select(col("doc_id").cast("long")),
        Seq("doc_id"), "left_anti")
      .limit(1).count()
    require(foreign == 0L, "deleteFromNearDupIndex: delete feed contains " +
      s"doc_id(s) never indexed in '$dir' — fix the feed")
    eff.write.mode("append").parquet(tombPath)
  }

  /** Compact: apply tombstones physically, fold append segments to one
    * file per bucket. Serve-invisible; the frozen stop set stays (a
    * recompute would change already-indexed signatures — only a rebuild
    * refreshes it). */
  def compactNearDupIndex(spark: SparkSession, dir: String): Unit = {
    requireConf(spark, dir)
    refreshStored(spark, dir)
    val nBuckets = bucketCount(spark, dir)
    val sets = live(spark, dir, setsTbl(dir))
      .localCheckpoint().repartition(nBuckets, col("doc_id"))
    writeSets(sets, dir, "overwrite", nBuckets)
    val bands = live(spark, dir, bandsTbl(dir))
      .localCheckpoint().repartition(nBuckets, col("band"), col("bv"))
    writeBands(bands, dir, "overwrite", nBuckets)
    IndexFs.deleteRecursive(spark, s"$dir/tombstones")
  }

  /** One drift-trigger decision: the pre-decision health-card maxima
    * ([[Curation.indexHealthCard]] over `dir/driftlog`) and whether the
    * index was rebuilt. Threshold semantics are strict-greater: a
    * metric EXCEEDING its max trips. */
  final case class RebuildDecision(rebuilt: Boolean, nAppends: Long,
                                   newBoilerplateFracMax: Double,
                                   staleStopFracMax: Double,
                                   capGrownBucketsMax: Long)

  /** Close the lifecycle loop (verdict r14 #3): READ the rebuild
    * triggers the driftlog publishes and ACT on them. Both frozen cuts
    * (stop fps, stop band values) are append-safe precisely because
    * they never move after build — the price is that their decay under
    * growth is monotone: `newBoilerplateFrac` rises as live-corpus
    * boilerplate diverges from the build corpus', and
    * `capGrownBuckets` counts mega-buckets the frozen cut cannot see
    * (the measured 2.4×-slower seed-grown serve regime: 240 crowded
    * unfrozen buckets at 10×, 23.4 s vs a 9.6 s fresh build). This
    * verb is the consumer: when any health-card maximum exceeds its
    * threshold, rebuild from `liveDocs` — the caller's current live
    * corpus, the only faithful rebuild input since stopped fps never
    * enter the stored fsets — re-freezing both cuts at TODAY's corpus
    * and resetting the driftlog; otherwise a no-op. Cost: one
    * appends-sized driftlog scan to decide; the rebuild itself is the
    * build. Defaults encode the documented triggers (boilerplate >5%
    * per the [[NearDupDrift]] contract; any cap-grown bucket;
    * stale-stop off by default — noisy on small shards).
    *
    * After a rebuild the health card reads all-zeros (fresh driftlog)
    * and a recomputed `capGrownBuckets` is 0 by construction — every
    * build-corpus-crowded bucket is in the new frozen cut. */
  def rebuildNearDupIndexIfDrifted(liveDocs: DataFrame, dir: String,
                                   maxNewBoilerplate: Double = 0.05,
                                   maxStaleStop: Double = 1.0,
                                   maxCapGrown: Long = 0L): RebuildDecision = {
    val spark = liveDocs.sparkSession
    requireConf(spark, dir)
    val h = Curation.indexHealthCard(spark, dir).head()
    val d = RebuildDecision(rebuilt = false, h.getLong(0), h.getDouble(3),
      h.getDouble(4), h.getLong(5))
    val trip = d.newBoilerplateFracMax > maxNewBoilerplate ||
      d.staleStopFracMax > maxStaleStop ||
      d.capGrownBucketsMax > maxCapGrown
    if (trip) writeNearDupIndex(liveDocs, dir)
    d.copy(rebuilt = trip)
  }

  /** Per-doc verdicts for an incoming shard against the standing index:
    * `dup_history` when an indexed (live) doc covers enough of the
    * incoming doc's kept fps, `dup_batch` when an EARLIER incoming doc
    * does, else `kept`. Universe: shard docs with ≥1 kept fp.
    *
    * Plan shape, daily-shard regime: the shard's band rows BROADCAST
    * into the bucketed stored band table (shard-sized build side; the
    * index side never reshuffles), collisions collapse to distinct
    * candidate pairs before anything wide moves, and the exact verify
    * joins the doc_id-bucketed sets table once per candidate. The
    * within-shard half rides the [[Dedup.incrementalWinnowBanded]]
    * inline first-meet shape on the (small) shard relation.
    *
    * Backfill regime (SIZE-GATED, verdict r12): the broadcasts are
    * driver-mass — a backfill-sized shard (bands = `Bands` rows/doc,
    * fsets = its whole kept-fp mass) would OOM the driver, so when the
    * estimated shard relations exceed the session's
    * `autoBroadcastJoinThreshold` the serve falls back to sort-merge
    * joins in which the STORED side inherits its bucket distribution
    * (band table hash-partitioned by `bv` ⊆ the join keys; sets table
    * by `doc_id` = the verify key) — only shard-derived relations ever
    * shuffle, the index still never does. `broadcastShard` overrides
    * the estimate for tests/pins; production callers leave it `None`.
    * The tombstone anti-join broadcasts in BOTH regimes (deleted-rows-
    * sized, independent of the shard).
    *
    * Candidate generation applies BOTH hot-bucket cuts (r14): the
    * frozen BUILD-corpus cut (`dir/stopbvs`) and a serve-computed
    * SHARD-occupancy cut at the same [[BvCutAbs]] — a backfill shard
    * can crowd a bucket past the cap all by itself, invisible to the
    * frozen cut (measured: 155M collision pairs, one ~8k-doc bucket,
    * on the 4×-corpus leg whose 5k-doc build froze an EMPTY cut;
    * 165 s → ~20 s with 99.93% of replica near-copies still
    * recognized). Both cuts are deterministic and mirrored in
    * [[serveSql]]. */
  def serveNearDup(spark: SparkSession, dir: String, shard: DataFrame,
                   minShared: Int = 3, thrNum: Int = 1,
                   thrDen: Int = 2,
                   broadcastShard: Option[Boolean] = None): DataFrame = {
    requireConf(spark, dir)
    refreshStored(spark, dir)
    val rows = docRows(shard, readStop(spark, dir)).localCheckpoint()
    val useBroadcast = broadcastShard.getOrElse {
      val st = rows.agg(count(lit(1)).as("n"),
        coalesce(sum("n_fp"), lit(0L)).as("t")).head
      val (nDocs, totFps) = (st.getLong(0), st.getLong(1))
      // conservative wire-size estimate of the two broadcast relations:
      // band rows ≈ 48 B of longs+overhead each; the fset side is the
      // fp arrays (8 B/fp) plus per-row array+struct overhead
      val bandBytes = nDocs * Bands * 48L
      val fsetBytes = totFps * 8L + nDocs * 64L
      val thresh = spark.sessionState.conf.autoBroadcastJoinThreshold
      thresh > 0 && math.max(bandBytes, fsetBytes) <= thresh
    }
    // `hint("merge")` in the fallback pins the join strategy away from
    // a planner-chosen broadcast (stats on checkpointed shard relations
    // can look small even when the REAL shard is not): the stored scan
    // side satisfies the merge join's clustering from its bucket spec,
    // so only the hinted shard side exchanges
    def shardSide(df: DataFrame): DataFrame =
      if (useBroadcast) broadcast(df) else df.hint("merge")
    // the frozen hot-bucket cut filters BOTH band relations before any
    // join: build-corpus-crowded band values generate collision mass,
    // not signal (see [[BvCutAbs]]); the sidecar is cut-sized, always
    // broadcast
    val stopBv = spark.read.schema("band int, bv long")
      .parquet(s"$dir/stopbvs")
    def cutBv(df: DataFrame): DataFrame =
      df.join(broadcast(stopBv), Seq("band", "bv"), "left_anti")
    // SHARD-side hot-bucket cap (r14): the frozen cut sees only BUILD
    // occupancy, so a backfill-sized shard can crowd a bucket past
    // [[BvCutAbs]] all by itself — the 4×-corpus leg measured ONE
    // shard bucket of ~8k docs and 155M collision pairs behind a
    // frozen cut that (correctly) froze EMPTY over its 5k-doc build
    // corpus. Same signal argument as the frozen cut, applied to the
    // probe side (the production skip-mega-buckets rule is side-
    // agnostic): >BvCutAbs PROBE docs sharing one argmin is collision
    // mass, not evidence. Deterministic — occupancy of the shard's
    // post-frozen-cut band rows — so [[serveSql]] mirrors it exactly.
    // The relation is bounded by (shard band rows / BvCutAbs) keys:
    // the same growth class as the frozen sidecar, always broadcast.
    val bands0 = cutBv(
      rows.select(col("doc_id").as("i_id"), posexplode(col("bvs")))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bv"))
    val hotShardBv = bands0.groupBy("band", "bv")
      .agg(count(lit(1)).as("c")).filter(col("c") > BvCutAbs)
      .select("band", "bv").localCheckpoint()
    def cutShardBv(df: DataFrame): DataFrame =
      df.join(broadcast(hotShardBv), Seq("band", "bv"), "left_anti")
    val shardBands = cutShardBv(bands0)
    // per-serve visibility of the cap's recall price (advice r14): a
    // shard doc whose EVERY band value falls to the cuts generates no
    // candidates and serves as 'kept' even if it is a true near-dup.
    // Only computed when the shard-occupancy cap actually fired (a
    // cut-sized isEmpty probe gates two shard-sized aggregates), so
    // the common no-mega-bucket serve pays nothing.
    if (!hotShardBv.isEmpty) {
      val nShardDocs = rows.count()
      val withBands = shardBands.select(col("i_id")).distinct().count()
      if (withBands < nShardDocs)
        log.warn(s"serveNearDup('$dir'): ${nShardDocs - withBands} of " +
          s"$nShardDocs shard docs have ZERO band values surviving the " +
          "frozen + shard-occupancy hot-bucket cuts - they generate no " +
          "candidates and will serve as 'kept' even if true near-dups " +
          "(the documented recall price of bounding collision mass; " +
          "raise BvCutAbs via the batch operator's bvCutAbs escape " +
          "hatch or rebuild if this ratio matters for this corpus)")
    }
    val histCand = cutBv(live(spark, dir, bandsTbl(dir)))
      .join(shardSide(shardBands), Seq("band", "bv"))
      // a doc re-served while still indexed must not match ITSELF
      // (mirrored in [[serveSql]]'s hh candidate predicate)
      .filter(col("doc_id") =!= col("i_id"))
      .select(col("doc_id").as("h_id"), col("i_id")).distinct()
    val contain = col("n_shared") >= minShared &&
      col("n_shared") * lit(thrDen.toLong) >= lit(thrNum.toLong) * col("n_i")
    val histHit = (if (useBroadcast) histCand else histCand.hint("merge"))
      .join(live(spark, dir, setsTbl(dir))
        .select(col("doc_id").as("h_id"), col("fset").as("fh")), "h_id")
      .join(shardSide(rows.select(col("doc_id").as("i_id"),
        col("fset").as("fi"), col("n_fp").as("n_i"))), "i_id")
      .withColumn("n_shared", expr("sorted_intersect_count(fh, fi)"))
      .filter(contain)
      .select(col("i_id").as("doc_id")).distinct()
      .withColumn("hist_dup", lit(1L))
    // within-shard: CUT-AWARE FIRST-MEET inline verify — the fset
    // arrays ride the band self-join ([[Dedup.ngramJaccardBanded]]'s
    // minHashPairs trade: nothing pair-sized ever materializes or
    // shuffles; a slim distinct-pairs-then-join-arrays spelling paid
    // the pair relation × both arrays through two joins, 639 s on a
    // dense 20k-doc backfill where this shape streams one join stage),
    // and each colliding PAIR verifies exactly ONCE, at its first
    // agreeing band that survives the hot-bucket cut. The plain batch
    // first-meet chain ([[Dedup.firstMeetChainSql]]) cannot see the
    // cut — a pair whose first agreeing band is capped must still
    // verify in its first UNCUT one — so the chain runs over EFFECTIVE
    // band vectors: capped entries are replaced per doc with a
    // doc-unique negative sentinel (−(doc_id·Bands+j)−1; real bvs are
    // in [0, CwMod) and ids non-negative like everywhere in the id
    // algebra, so a sentinel equals nothing across a pair), making
    // "ebvs agree at j" ⇔ "uncut agreement at j" — exactly the join's
    // collision condition, so precisely one collision row per pair
    // passes the chain and verifies (verdict r13 #6). Measured on the
    // dense 20k-doc backfill leg: the probe found the DOMINANT cost was
    // collision MASS, not verify multiplicity — the shard-occupancy cap
    // above took the leg 165 s → ~20 s (8×), after which first-meet
    // and the wide shape tie within host noise (20.4/21.3 s vs
    // 18.5/23.2 s). Adopted anyway: it bounds verify work at O(1) per
    // pair instead of O(bands), which is the safe asymptote as fset
    // widths grow, and its output is bit-identical. The cut-band
    // marking is the same broadcast anti-join the relation already
    // paid, re-aggregated per doc (two shard-sized doc_id exchanges —
    // nothing index-sized, nothing pair-sized).
    // a band survives for first-meet purposes only if BOTH cuts keep
    // it — the frozen build cut and the shard-occupancy cut — so the
    // sentinel substitution sees exactly the joinable band set
    val uncutBands = cutShardBv(bands0)
      .groupBy("i_id").agg(collect_set(col("band")).as("okb"))
      .withColumnRenamed("i_id", "doc_id")
    val rowsE = rows
      .join(shardSide(uncutBands), Seq("doc_id"), "left")
      .withColumn("ebvs", expr(
        s"transform(bvs, (v, j) -> case when okb is not null and " +
          s"array_contains(okb, j) then v " +
          s"else -(doc_id * $Bands + cast(j as bigint)) - 1 end)"))
      .localCheckpoint()
    def side(s: String) = rowsE
      .select(col("doc_id").as(s"doc_$s"), col("fset").as(s"f$s"),
        col("n_fp").as(s"n_$s"), col("ebvs").as(s"bvs_$s"),
        posexplode(col("ebvs")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bv")
      .filter(col("bv") >= 0)
    val sideA = if (useBroadcast) side("a") else side("a").hint("merge")
    val batchHit = sideA.join(side("b"), Seq("band", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(expr(Dedup.firstMeetChainSql(Bands)))
      .withColumn("n_shared", expr("sorted_intersect_count(fa, fb)"))
      .withColumn("n_i", col("n_b"))
      .filter(contain)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("batch_dup", lit(1L))
    rows.select("doc_id", "n_fp")
      .join(histHit, Seq("doc_id"), "left")
      .join(batchHit, Seq("doc_id"), "left")
      .selectExpr("doc_id", "n_fp",
        "case when hist_dup is not null then 'dup_history' " +
          "when batch_dup is not null then 'dup_batch' else 'kept' end as status")
  }

  /** DuckDB mirror of [[graft.operators.Curation.indexHealthCard]] over
    * a lifecycle index built from `buildPred` docs with ONE appended
    * shard of `shardPred` docs (appended BEFORE any delete, so live
    * occupancy at append time is buildPred ∪ shardPred) — the health
    * card reads the stored `driftlog` artifact; this recomputes every
    * metric declaratively from the raw table (strictly stronger than
    * re-reading the file the Spark side wrote: the artifact's VALUES
    * are checked against an independent derivation, the serveSql
    * discipline). Every constant — the 10% df cut, the CW mix, the band
    * fold, [[BvCutAbs]] — interpolates from the same Scala source. */
  def healthSql(buildPred: String, shardPred: String,
                table: String = "documents"): String = {
    val r = NumHashes / Bands
    val sigCols = (0 until NumHashes)
      .map(j => s"min(${graft.oracle.Parity.cwMix(j, "fp")}) as h$j")
      .mkString(", ")
    val bandRows = (0 until Bands)
      .map(b => s"select doc_id, $b as band, " +
        s"${Dedup.bandValueSql((b * r until (b + 1) * r).map(j => s"h$j"))} as bv from sig")
      .mkString(" union all ")
    s"""with wn as materialized (${TextOps.winnowSql(table)}),
       |fps as materialized (select distinct doc_id, fp from wn),
       |nb as (select cast(count(distinct doc_id) as bigint) as n
       |  from $table where $buildPred),
       |stop as materialized (select fp from fps, nb
       |  where doc_id in (select doc_id from $table where $buildPred)
       |  group by fp, n
       |  having cast(count(*) as bigint) * 10 > n),
       |shard as materialized (select doc_id, fp from fps
       |  where doc_id in (select doc_id from $table where $shardPred)),
       |ns as (select cast(count(distinct doc_id) as bigint) as n,
       |  cast(count(*) as bigint) as m from shard),
       |hot as materialized (select fp, cast(count(*) as bigint) as dfp_s
       |  from shard, ns group by fp, ns.n
       |  having cast(count(*) as bigint) * 10 > ns.n),
       |nbm as (select cast(coalesce(sum(dfp_s), 0) as bigint) as v
       |  from hot where fp not in (select fp from stop)),
       |stale as (select
       |  (select cast(count(*) as bigint) from stop
       |    where fp not in (select fp from hot)) as miss,
       |  (select cast(count(*) as bigint) from stop) as tot),
       |kept as materialized (select doc_id, fp from fps
       |  where fp not in (select fp from stop)
       |    and ((doc_id in (select doc_id from $table where $buildPred))
       |      or (doc_id in (select doc_id from $table where $shardPred)))),
       |sig as (select doc_id, $sigCols from kept group by doc_id),
       |banded as materialized ($bandRows),
       |frozen as materialized (select band, bv from banded
       |  where doc_id in (select doc_id from $table where $buildPred)
       |  group by band, bv
       |  having cast(count(*) as bigint) > $BvCutAbs),
       |grown as (select cast(count(*) as bigint) as v from (
       |  select band, bv from banded group by band, bv
       |  having cast(count(*) as bigint) > $BvCutAbs) g
       |  where not exists (select 1 from frozen f
       |    where f.band = g.band and f.bv = g.bv))
       |select cast(1 as bigint) as n_appends,
       | ns.n as shard_docs_total,
       | ns.m as shard_fp_mass_total,
       | case when ns.m = 0 then 0e0
       |  else cast(nbm.v as double) / cast(ns.m as double) end
       |  as new_boilerplate_frac_max,
       | case when stale.tot = 0 then 0e0
       |  else cast(stale.miss as double) / cast(stale.tot as double) end
       |  as stale_stop_frac_max,
       | grown.v as cap_grown_buckets_max
       |from ns, nbm, stale, grown""".stripMargin.replace("\n", " ")
  }

  /** DuckDB mirror of a [[serveNearDup]] against an index whose build
    * corpus was `stopPred`, whose LIVE history rows are `histPred` (the
    * build ∪ appends minus deletes), serving the `incPred` shard — every
    * constant interpolated from the same Scala source. BOTH frozen cuts
    * come from the BUILD corpus only (the fp stop cut and the
    * hot-bucket band-value cut; later appends and deletes move
    * neither), which is exactly what the stored artifacts replay.
    * `kept` therefore spans stopPred ∪ histPred ∪ incPred docs — the
    * BUILD corpus rides along even where deletes removed it from the
    * live history, because the `stopbv` occupancy must be counted over
    * the FULL build corpus exactly as [[writeNearDupIndex]] froze it
    * (advice r13: a hist∪inc-restricted count un-caps any bucket that
    * straddles [[BvCutAbs]] once build docs are deleted, a spurious
    * parity mismatch). */
  def serveSql(stopPred: String, histPred: String, incPred: String,
               minShared: Int = 3, thrNum: Int = 1, thrDen: Int = 2,
               table: String = "documents"): String = {
    val r = NumHashes / Bands
    val sigCols = (0 until NumHashes)
      .map(j => s"min(${graft.oracle.Parity.cwMix(j, "fp")}) as h$j")
      .mkString(", ")
    val bandRows = (0 until Bands)
      .map(b => s"select doc_id, $b as band, " +
        s"${Dedup.bandValueSql((b * r until (b + 1) * r).map(j => s"h$j"))} as bv from sig")
      .mkString(" union all ")
    // n_shared is projected ONCE per candidate in an inner subquery and
    // the containment predicates filter on the alias — DuckDB does not
    // guarantee common-subexpression elimination across WHERE conjuncts,
    // and list_intersect is the most expensive scalar here (advice r12;
    // the vr-CTE pattern of [[Dedup.winnowOverlapBandedSql]])
    def hitCte(name: String, candPred: String): String =
      s"""$name as (select distinct doc_id from (
         | select c.doc_b as doc_id, sb.n_fp,
         |  cast(len(list_intersect(sa.fset, sb.fset)) as bigint) as n_shared
         | from (
         |  select distinct a.doc_id as doc_a, b.doc_id as doc_b
         |  from bandedd a join bandedd b on a.band = b.band and a.bv = b.bv
         |  where $candPred) c
         | join sets sa on c.doc_a = sa.doc_id
         | join sets sb on c.doc_b = sb.doc_id) v
         | where n_shared >= $minShared
         |  and n_shared * $thrDen >= $thrNum * n_fp)""".stripMargin
    s"""with wn as materialized (${TextOps.winnowSql(table)}),
       |fps as materialized (select distinct doc_id, fp from wn),
       |nd as (select cast(count(distinct doc_id) as bigint) as n_docs
       |  from $table where $stopPred),
       |stop as materialized (select fp from fps, nd
       |  where doc_id in (select doc_id from $table where $stopPred)
       |  group by fp, n_docs
       |  having cast(count(*) as bigint) * 10 > n_docs),
       |kept as materialized (select doc_id, fp from fps
       |  where fp not in (select fp from stop)
       |    and ((doc_id in (select doc_id from $table where $stopPred))
       |      or (doc_id in (select doc_id from $table where $histPred))
       |      or (doc_id in (select doc_id from $table where $incPred)))),
       |sig as (select doc_id, $sigCols from kept group by doc_id),
       |banded as materialized ($bandRows),
       |stopbv as materialized (select band, bv from (
       |  select band, bv, cast(count(*) as bigint) as c from banded
       |  where doc_id in (select doc_id from $table where $stopPred)
       |  group by band, bv)
       | where c > $BvCutAbs),
       |bandedc as materialized (select bd.doc_id, bd.band, bd.bv
       | from banded bd where not exists (select 1 from stopbv s
       |  where s.band = bd.band and s.bv = bd.bv)),
       |stopbvi as materialized (select band, bv from (
       |  select band, bv, cast(count(*) as bigint) as c from bandedc
       |  where doc_id in (select doc_id from $table where $incPred)
       |  group by band, bv)
       | where c > $BvCutAbs),
       |bandedd as materialized (select bd.doc_id, bd.band, bd.bv
       | from bandedc bd where not exists (select 1 from stopbvi s
       |  where s.band = bd.band and s.bv = bd.bv)),
       |sets as materialized (select doc_id, list_sort(list(fp)) as fset,
       |  cast(count(*) as bigint) as n_fp from kept group by doc_id),
       |${hitCte("hh", s"a.doc_id in (select doc_id from $table where $histPred) " +
        s"and b.doc_id in (select doc_id from $table where $incPred) " +
        "and a.doc_id <> b.doc_id")},
       |${hitCte("bh", s"a.doc_id in (select doc_id from $table where $incPred) " +
        s"and b.doc_id in (select doc_id from $table where $incPred) " +
        "and a.doc_id < b.doc_id")},
       |isz as (select doc_id, n_fp from sets
       |  where doc_id in (select doc_id from $table where $incPred))
       |select isz.doc_id, n_fp,
       | case when hh.doc_id is not null then 'dup_history'
       |  when bh.doc_id is not null then 'dup_batch' else 'kept' end as status
       |from isz left join hh on isz.doc_id = hh.doc_id
       | left join bh on isz.doc_id = bh.doc_id""".stripMargin.replace("\n", " ")
  }
}
