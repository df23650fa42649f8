package graft

import graft.operators._
import org.apache.spark.sql.functions._

/** Extension + support operators: masks, validation, top-k, dedup, text,
  * similarity, sessions, multimodal. */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("one-hot masks: sorted-distinct group order incl. string labels (test_get_masks.py:50-92)") {
    val obs = Seq((0L, "a"), (1L, "b"), (2L, "d"), (3L, "b"), (4L, "a"), (5L, "c"))
      .toDF("obs_id", "grp")
    assert(Masks.groups(obs) == Seq("a", "b", "c", "d"))
    val oh = Masks.oneHot(obs)
    assert(oh.columns.toSeq == Seq("obs_id", "grp", "mask_a", "mask_b", "mask_c", "mask_d"))
    val row = oh.filter($"obs_id" === 2L).select("mask_a", "mask_b", "mask_c", "mask_d")
      .collect().head
    assert(!row.getBoolean(0) && !row.getBoolean(1) && !row.getBoolean(2) && row.getBoolean(3))
    // column sums = group sizes
    val sums = oh.agg(sum($"mask_a".cast("long")), sum($"mask_b".cast("long"))).collect().head
    assert(sums.getLong(0) == 2L && sums.getLong(1) == 2L)
  }

  test("validation: obs in 0 or 2 groups rejected (reference _utils.py:47-51)") {
    val dup = Seq((0L, "a"), (0L, "b"), (1L, "a")).toDF("obs_id", "grp")
    intercept[Validation.ValidationException](Validation.requirePartition(dup))
    val nul = Seq((0L, "a"), (1L, null)).toDF("obs_id", "grp")
    intercept[Validation.ValidationException](Validation.requirePartition(nul))
    Validation.requirePartition(Seq((0L, "a"), (1L, "b")).toDF("obs_id", "grp"))
  }

  test("validation: ragged features and uncovered vars rejected (rank_gene_groups.py:118-133)") {
    val ragged = Seq(("f1", 1.0), ("f1", 2.0), ("f2", 1.0)).toDF("feature_id", "value")
    intercept[Validation.ValidationException](Validation.requireUniformFeatures(ragged))
    val cells = Seq(("f1", 1.0), ("f2", 2.0)).toDF("feature_id", "value")
    Validation.requireUniformFeatures(cells)
    val vars = Seq("f1").toDF("feature_id")
    intercept[Validation.ValidationException](Validation.requireVarsCover(cells, vars))
    intercept[Validation.ValidationException](Validation.requireTopN(Some(5), 2L))
    Validation.requireTopN(Some(2), 2L)
  }

  test("topK: per-group limit, deterministic tie-break, topN=None keeps all (create_df.py:109-134)") {
    val df = Seq(("g1", "a", 2.0), ("g1", "b", 2.0), ("g1", "c", 1.0), ("g2", "d", 5.0))
      .toDF("grp", "gene", "abs_lfc")
    val top2 = MarkerTable.topK(df, Some(2))
    assert(top2.filter($"grp" === "g1").orderBy("rk").select("gene")
      .collect().map(_.getString(0)).toSeq == Seq("a", "b")) // tie on 2.0 → gene asc
    assert(MarkerTable.topK(df, None).count() == 4)
    val asc = MarkerTable.topK(df, Some(1), ascending = true)
    assert(asc.filter($"grp" === "g1").select("gene").collect().head.getString(0) == "c")
  }

  test("exact dedup finds duplicate groups with min-id keeper") {
    val docs = Seq((1L, "hello world"), (2L, "hello world"), (3L, "unique"))
      .toDF("doc_id", "text")
    val d = Dedup.exact(docs).collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(d.length == 2)
    val dup = d.find(_._2 == 2L).get
    assert(dup._3 == 1L)
  }

  test("ngram jaccard: identical texts → 1.0, disjoint → filtered out") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "en", 43L),
      (2L, "the quick brown fox jumps over the lazy dog", "en", 43L),
      (3L, "zzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzz", "en", 43L))
      .toDF("doc_id", "text", "lang", "n_chars")
    val pairs = Dedup.ngramJaccard(docs, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("minhash LSH: duplicate and near-duplicate texts pair up, disjoint don't") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, base), (2L, base),
      (3L, base + " okay"),
      (4L, "completely different words about spark catalyst optimizer internals"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minHashPairs(docs, numHashes = 16, bands = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    val jac12 = Dedup.minHashPairs(docs).filter($"doc_a" === 1 && $"doc_b" === 2)
      .select("jac").collect().head.getDouble(0)
    assert(jac12 == 1.0)
  }

  test("minhash gather cap: join-fallback path yields identical pairs (degenerate bucket)") {
    // 12 byte-identical docs (no exact-dedup pre-pass) land in ONE bucket
    // per band — with gatherCap=2 every bucket takes the self-join path
    val docs = (1L to 12L).map(i => (i, "same boilerplate body for every document here"))
      .toDF("doc_id", "text")
    def run(cap: Int) = Dedup.minHashPairs(docs, gatherCap = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaJoin = run(2)
    val viaGather = run(100000)
    assert(viaJoin == viaGather, s"paths diverge: $viaJoin vs $viaGather")
    assert(viaJoin.size == 12 * 11 / 2 && viaJoin.forall(_._3 == 1.0))
  }

  test("sequence packing: bins equal brute-force contiguous fill per language") {
    val docs = (1L to 60L).map(i => (i, if (i % 3 == 0) "de" else "en",
      (1 to (i % 7 + 1).toInt).map(j => s"t$j").mkString(" "))).toDF("doc_id", "lang", "text")
    val got = TextOps.packBins(docs, budget = 8).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    got.groupBy(_._2).values.foreach { rows =>
      var cum = 0L
      rows.sortBy(r => (r._4, r._1)).foreach { case (id, _, n, _, bin) =>
        assert(bin == cum / 8, s"doc $id: bin $bin != ${cum / 8}")
        cum += n
      }
    }
  }

  test("cluster labels: transitive chains collapse to one component (A~B, B~C, no A~C)") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = Dedup.clusterLabels(pairs, iters = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L), got.toString)
  }

  test("lm_perplexity: in-domain text scores below gibberish; degenerate docs drop") {
    import graft.operators.Lm
    val docs = Seq(
      (0L, "the cat sat on the mat and the cat sat again", "en"), // ref slice (0 % 4 == 0)
      (1L, "the cat sat on the mat", "en"),                       // in-domain
      (2L, "zyx wvu tsr qpo nml kji", "en"),                      // all-OOV
      (3L, "single", "en"),                                       // no transitions -> drops
      (5L, "kein referenzkorpus hier", "de"))                     // lang w/o ref docs -> drops
      .toDF("doc_id", "text", "lang")
    val got = Lm.perplexity(docs).collect()
      .map(r => r.getLong(0) -> (r.getDouble(3), r.getString(4))).toMap
    assert(got.keySet == Set(0L, 1L, 2L), got.toString)
    assert(got(1L)._1 < got(2L)._1, s"in-domain ${got(1L)} not below gibberish ${got(2L)}")
    // three scored en docs -> one per tercile, ordered by nll
    val byBucket = got.toSeq.sortBy(_._2._1).map(_._2._2)
    assert(byBucket == Seq("head", "middle", "tail"), byBucket.toString)
  }

  test("emb_pca: projections recover the two planted variance directions") {
    import graft.operators.Pca
    val dim = graft.operators.Similarity.dim
    // balanced 7×5 factorial grid: axis-3 and axis-7 coordinates exactly
    // uncorrelated, variance 9:1 — true PCs are the planted axes
    val rows = (0 until 35).map { k =>
      val a = (k / 5 - 3) * 3.0f
      val b = (k % 5 - 2) * 1.0f
      val e = Array.fill(dim)(0.0f); e(2) = a; e(6) = b
      (k.toLong, e.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val got = Pca.project(df).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    def corr2(xs: Seq[Double], ys: Seq[Double]): Double = {
      val n = xs.length
      val (mx, my) = (xs.sum / n, ys.sum / n)
      val cov = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
      val vx = xs.map(x => (x - mx) * (x - mx)).sum
      val vy = ys.map(y => (y - my) * (y - my)).sum
      if (vx == 0 || vy == 0) 0.0 else cov * cov / (vx * vy)
    }
    val as = rows.map(r => r._2(2).toDouble)
    val bs = rows.map(r => r._2(6).toDouble)
    val p1 = rows.map(r => got(r._1)._1)
    val p2 = rows.map(r => got(r._1)._2)
    assert(corr2(as, p1) > 0.999, s"p1 misses the dominant axis: ${corr2(as, p1)}")
    assert(corr2(bs, p2) > 0.999, s"p2 misses the second axis: ${corr2(bs, p2)}")
  }

  test("emb_pca k=4: projections recover four planted variance directions; agg twin is bit-equal") {
    import graft.operators.Pca
    val dim = graft.operators.Similarity.dim
    // balanced 3^4 factorial grid on axes 2/6/11/17 with variances
    // 81:25:4:1 — exactly uncorrelated, so the true PCs are the axes
    val rows = (0 until 81).map { k =>
      val a = (k / 27 % 3 - 1) * 9.0f
      val b = (k / 9 % 3 - 1) * 5.0f
      val c = (k / 3 % 3 - 1) * 2.0f
      val d = (k % 3 - 1) * 1.0f
      val e = Array.fill(dim)(0.0f)
      e(2) = a; e(6) = b; e(11) = c; e(17) = d
      (k.toLong, e.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val got = Pca.project(df, k = 4).collect()
      .map(r => r.getLong(0) -> (1 to 4).map(i => r.getDouble(i))).toMap
    def corr2(xs: Seq[Double], ys: Seq[Double]): Double = {
      val n = xs.length
      val (mx, my) = (xs.sum / n, ys.sum / n)
      val cov = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
      val vx = xs.map(x => (x - mx) * (x - mx)).sum
      val vy = ys.map(y => (y - my) * (y - my)).sum
      if (vx == 0 || vy == 0) 0.0 else cov * cov / (vx * vy)
    }
    val axes = Seq(2, 6, 11, 17).map(ax => rows.map(_._2(ax).toDouble))
    axes.zipWithIndex.foreach { case (axis, i) =>
      val p = rows.map(r => got(r._1)(i))
      assert(corr2(axis, p) > 0.999, s"p${i + 1} misses planted axis: ${corr2(axis, p)}")
    }
    // the treeAggregate moment twin must land on the identical grid —
    // every projected double bit-equal to the dataflow spelling's
    val agg = Pca.projectAgg(df, k = 4).collect()
      .map(r => r.getLong(0) -> (1 to 4).map(i => r.getDouble(i))).toMap
    rows.foreach { r =>
      assert(got(r._1) == agg(r._1), s"agg twin diverges at vec ${r._1}")
    }
  }

  test("winnowing: a shared >= w+k-1 substring survives a position shift") {
    // the property fixed-stride fingerprints lack: doc 2's prefix
    // insertion shifts every k-gram position, yet the winnowed sets
    // must still intersect on the shared region
    val shared = "thequickbrownfoxjumpsoverthelazydog"
    val docs = Seq(
      (1L, "aaaa" + shared + "bbbb"),
      (2L, "zzzzzzzzzzz" + shared + "cccc")).toDF("doc_id", "text")
    val fps = TextOps.winnow(docs).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val f1 = fps.filter(_._1 == 1L).map(_._2).toSet
    val f2 = fps.filter(_._1 == 2L).map(_._2).toSet
    assert(f1.nonEmpty && f2.nonEmpty)
    assert((f1 intersect f2).nonEmpty,
      s"no shared fingerprint across the shift: ${f1.size}/${f2.size}")
  }

  test("winnow_sel expression selects bit-exactly the windowed dataflow set (chunked and unchunked)") {
    // r15: winnow() computes the selection in one codegen expression
    // (no per-character shuffle); the pre-r15 window spelling is kept
    // as the independent reference — expression output must equal it
    // at BOTH chunkings, on an outlier doc long enough to exercise the
    // chunk frame-fillers, a short doc, a sub-window doc, an empty doc,
    // and a multibyte (CJK + astral) doc exercising the codepoint walk
    val outlier = (0 until 40).map(i => s"sentence$i has words ${i * 13}").mkString(" ")
    val docs = Seq(
      (1L, outlier),
      (2L, "a short document"),
      (3L, outlier.substring(100, 280)),
      (4L, "tiny"),
      (5L, "   "),
      (6L, "斯坦福大学的计算机科学系与MOSS系统 😀😀 指纹选择")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaExpr = rows(TextOps.winnow(docs))
    assert(viaExpr == rows(TextOps.winnowWindowed(docs, 64)),
      "expression selection diverges from the chunked window spelling")
    assert(viaExpr == rows(TextOps.winnowWindowed(docs, 1 << 30)),
      "expression selection diverges from the unchunked window spelling")
    assert(outlier.length > 640, s"outlier too short to exercise chunks: ${outlier.length}")
    assert(viaExpr.nonEmpty)
    assert(viaExpr.exists(_._1 == 6L), "multibyte doc must select fingerprints")
    assert(!viaExpr.exists(t => t._1 == 4L || t._1 == 5L),
      "sub-window docs must be absent")
  }

  test("dedup_winnow: single-insertion shifted copy caught; word-gram spans are blind to it") {
    import graft.operators.Dedup
    // docs 1/2: identical long UNSEGMENTED text except one inserted char
    // at position 50 — every downstream char position shifts by one.
    // dupSpans tokenizes on spaces, sees < n tokens, and EXCLUDES both
    // docs; winnowed fingerprints re-sync right after the insertion.
    val base = "abcdefghijklmnopqrstuvwxyz0123456789" * 6
    val shifted = base.substring(0, 50) + "X" + base.substring(50)
    val filler = (0 until 20).map(i =>
      (10L + i, s"unrelated filler number $i carrying tokens ${i * 7} and ${i * 31}"))
    val docs = (Seq((1L, base), (2L, shifted)) ++ filler).toDF("doc_id", "text")
    val pairs = TextOps.winnowOverlap(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
    assert(pairs.contains((1L, 2L)), s"shifted copy not caught: ${pairs.keySet}")
    assert(pairs((1L, 2L)) >= 0.5, s"overlap too low: ${pairs((1L, 2L))}")
    val spanDocs = Dedup.dupSpans(docs).collect().map(_.getLong(0)).toSet
    assert(!spanDocs.contains(1L) && !spanDocs.contains(2L),
      "span hashing unexpectedly saw the unsegmented docs")
  }

  test("dedup_ngram_banded: subset of the full operator with identical scoring; near-dup recall 1.0") {
    // (1) structural contract: LSH candidates are verified with
    // ngramJaccard's exact (lang, length-band) gate + Jaccard arithmetic,
    // so every banded row must appear in the full output with an
    // IDENTICAL jac value
    val docs = graft.sources.Tables.read(spark, sf("sf0.001"), "documents")
    def jrows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val full = jrows(Dedup.ngramJaccard(docs))
    val banded = jrows(Dedup.ngramJaccardBanded(docs))
    assert(banded.nonEmpty, "banded variant found nothing on the corpus")
    banded.foreach { case (k, v) =>
      assert(full.get(k).contains(v),
        s"banded pair $k -> $v not identical in full output: ${full.get(k)}")
    }
    // bulk recall on the real corpus: banding must keep the vast
    // majority of the full operator's pairs (knee ~0.35 < report 0.4)
    assert(banded.size * 10 >= full.size * 9,
      s"recall ${banded.size}/${full.size} below 90% on sf0.001")
    // (2) planted near-dup regime: a single-insertion copy (jac >> the
    // 8x2 band knee) must be caught with the full operator's exact score
    val base = "abcdefghijklmnopqrstuvwxyz0123456789" * 6
    val shifted = base.substring(0, 50) + "X" + base.substring(50)
    val filler = (0 until 20).map(i =>
      (10L + i, s"unrelated filler number $i carrying tokens ${i * 7} and ${i * 31}"))
    val planted = (Seq((1L, base), (2L, shifted)) ++ filler)
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", char_length(col("text")).cast("long"))
    val caught = jrows(Dedup.ngramJaccardBanded(planted))
    assert(caught.contains((1L, 2L)), s"shifted copy missed by bands: ${caught.keySet}")
    // the planted high-jaccard regime loses NOTHING to banding
    val fullPlanted = jrows(Dedup.ngramJaccard(planted))
    assert(fullPlanted.keySet == caught.keySet,
      s"recall < 1.0 on planted corpus: full=${fullPlanted.keySet} banded=${caught.keySet}")
    assert(caught((1L, 2L)) == fullPlanted((1L, 2L)))
  }

  test("dedup_decide: keep-first verdicts agree with the pair relation; one row per doc") {
    val docs = graft.sources.Tables.read(spark, sf("sf0.001"), "documents")
    val decide = Dedup.keepFirst(docs).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getBoolean(2))).toMap
    assert(decide.size.toLong == docs.count(), "must emit exactly one verdict per doc")
    // ground truth from the pair relation the decision is defined over
    val pairs = Dedup.ngramJaccardBanded(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val minDup = pairs.groupBy(_._2).map { case (b, ps) => b -> ps.map(_._1).min }
    decide.foreach { case (id, (dupOf, keep)) =>
      assert(dupOf == minDup.get(id),
        s"doc $id: dup_of $dupOf != smallest smaller-id near-dup ${minDup.get(id)}")
      assert(keep == minDup.get(id).isEmpty, s"doc $id: keep flag inconsistent")
    }
    // the corpus must exercise both verdicts
    assert(decide.values.exists(_._2) && decide.values.exists(!_._2),
      "corpus exercises only one verdict")
  }

  test("dedup_winnow_banded: subset of the full operator with identical scoring; near-dup recall 1.0") {
    // (1) structural contract: candidates ⊆ all pairs and the verify
    // arithmetic is winnowOverlap's, so every banded row must appear in
    // the full output with IDENTICAL n_shared/n_a/n_b/score
    val docs = graft.sources.Tables.read(spark, sf("sf0.001"), "documents")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    val full = rows(TextOps.winnowOverlap(docs))
    val banded = rows(TextOps.winnowOverlapBanded(docs))
    assert(banded.nonEmpty, "banded variant found nothing on the corpus")
    banded.foreach { case (k, v) =>
      assert(full.get(k).contains(v),
        s"banded pair $k -> $v not identical in full output: ${full.get(k)}")
    }
    // (2) recall on the near-dup regime the bands target: the shifted
    // single-insertion copy (jac >> the 8x2 band curve's ~0.35 knee)
    // must be caught, same as the full operator
    val base = "abcdefghijklmnopqrstuvwxyz0123456789" * 6
    val shifted = base.substring(0, 50) + "X" + base.substring(50)
    val filler = (0 until 20).map(i =>
      (10L + i, s"unrelated filler number $i carrying tokens ${i * 7} and ${i * 31}"))
    val planted = (Seq((1L, base), (2L, shifted)) ++ filler).toDF("doc_id", "text")
    val caught = rows(TextOps.winnowOverlapBanded(planted))
    assert(caught.contains((1L, 2L)), s"shifted copy missed by bands: ${caught.keySet}")
    assert(caught((1L, 2L))._4 >= 0.5)
    // the planted high-jaccard regime loses NOTHING to banding
    val fullPlanted = rows(TextOps.winnowOverlap(planted))
    assert(fullPlanted.keySet == caught.keySet,
      s"recall < 1.0 on the planted near-dup corpus: full=${fullPlanted.keySet} banded=${caught.keySet}")
  }

  test("dedup_incremental_winnow_banded: planted hist/batch near-dups caught, unique kept; matches the full operator") {
    // ids arranged around the %5 split: 3 (history), 4/9/14/19 (increment)
    val base = "abcdefghijklmnopqrstuvwxyz0123456789" * 6
    val shifted = base.substring(0, 50) + "X" + base.substring(50)
    val base2 = "zyxwvutsrqponmlkjihgfedcba9876543210" * 6
    val shifted2 = base2.substring(0, 70) + "Q" + base2.substring(70)
    // fillers on multiples of 5 (history side); 30 of them so the
    // df stop cut (dfp*10 <= nDocs) keeps the planted pair fps (dfp=2)
    val filler = (0 until 30).map(i =>
      (100L + 5L * i, s"unrelated filler number $i carrying tokens ${i * 7} and ${i * 31}"))
    val docs = (Seq(
      (3L, base),      // history original
      (4L, shifted),   // increment near-copy of history -> dup_history
      (9L, base2),     // increment original (no hist match) -> kept
      (14L, shifted2), // increment near-copy of 9 -> dup_batch
      (19L, "a genuinely unique increment document with its own words entirely")
    ) ++ filler).toDF("doc_id", "text")
    def statuses(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val banded = statuses(Dedup.incrementalWinnowBanded(docs))
    assert(banded.get(4L).contains("dup_history"), s"shifted hist copy: $banded")
    assert(banded.get(9L).contains("kept"), s"batch original must survive: $banded")
    assert(banded.get(14L).contains("dup_batch"), s"batch near-copy: $banded")
    banded.get(19L).foreach(s => assert(s == "kept", s"unique doc flagged: $banded"))
    // the planted high-containment regime loses NOTHING to banding: the
    // full operator's verdicts agree on every doc both contracts cover
    val full = statuses(Dedup.incrementalWinnow(docs))
    banded.foreach { case (id, st) =>
      assert(full.get(id).contains(st),
        s"banded verdict for $id ($st) differs from full (${full.get(id)})")
    }
  }

  test("pipeline_curriculum: dense positions, contiguous bins, scored-docs universe") {
    import graft.operators.Lm
    val docs = graft.sources.Tables.read(spark, sf("sf0.001"), "documents")
    val got = Lm.curriculum(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.nonEmpty)
    // universe = exactly the scored docs
    assert(got.map(_._1).toSet == Lm.perplexity(docs).collect().map(_.getLong(0)).toSet)
    got.groupBy(t => (t._2, t._3)).foreach { case ((ph, sh), rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1L to rows.length).toSeq, s"pos not dense in ($ph,$sh)")
      // bins follow the contiguous-fill cumsum: non-decreasing in pos,
      // and each bin starts where the running token count says it must
      var cum = 0L
      sorted.foreach { case (_, _, _, _, nTok, bin) =>
        assert(bin == cum / 256, s"bin $bin != ${cum / 256} in ($ph,$sh)")
        cum += nTok
      }
    }
  }

  test("dsir_select: target-domain text outweighs off-domain text") {
    import graft.operators.Lm
    // target slice = lang 'en'; doc 10 (lang xx) shares the en bigrams,
    // doc 11 (lang xx) shares the de bigrams — DSIR must weight 10 > 11
    val docs = Seq(
      (0L, "alpha beta gamma alpha beta", "en"),
      (1L, "alpha beta gamma delta", "en"),
      (2L, "rot grün blau gelb rot grün", "de"),
      (3L, "blau gelb rot grün blau", "de"),
      (10L, "alpha beta gamma alpha", "xx"),
      (11L, "rot grün blau gelb", "xx"))
      .toDF("doc_id", "text", "lang")
    val got = Lm.dsirSelect(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got(10L) > got(11L),
      s"en-domain doc ${got(10L)} not above de-domain doc ${got(11L)}")
    assert(got(0L) > got(2L), "target-slice doc not above off-domain doc")
  }

  test("connectedComponents: converges on diameters far beyond clusterLabels' horizon") {
    // 0-1-2-...-63 path (diameter 63) + a triangle + an isolated pair.
    val chain = (0L until 63L).map(i => (i, i + 1))
    val pairs = (chain ++ Seq((200L, 201L), (201L, 202L), (200L, 202L), (300L, 301L)))
      .toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 63L).forall(got(_) == 0L), "chain not fully resolved: " + got.toString)
    assert((200L to 202L).forall(got(_) == 200L) && got(300L) == 300L && got(301L) == 300L)
    // the fixed-8 contract stops 8 hops from the minimum — the documented
    // limitation dedup_cc exists to remove
    val lp = Dedup.clusterLabels(pairs, iters = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lp(63L) != 0L, "8-round label prop unexpectedly resolved a 63-hop chain")
  }

  test("connectedComponents matches brute-force union-find on a random graph") {
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(120)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }
    val parent = scala.collection.mutable.Map((0L until 80L).map(i => i -> i): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(i => i -> find(i)).toMap
    val got = Dedup.connectedComponents(edges.toDF("doc_a", "doc_b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"diff: ${(got.toSet -- want.toSet)} / ${(want.toSet -- got.toSet)}")
  }

  test("decontaminate_join (inverted index) is bit-identical to the broadcast variant") {
    // doc 0 and 97·2 form the eval set; include a corpus doc with ZERO
    // overlap (hits the min-eval-id patch path) and graded-overlap docs
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (194L, "one two three four five six seven eight nine"),
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta other words entirely here"),
      (3L, "zz yy xx ww vv uu tt ss rr qq")).toDF("doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val bc = canon(Dedup.decontaminate(docs))
    val ij = canon(Dedup.decontaminateJoin(docs))
    assert(bc == ij, s"broadcast=$bc join=$ij")
    // the zero-overlap doc resolved to the min eval id with contam 0
    assert(ij.contains((3L, 0L, 0.0)))
  }

  test("data_card: global dup attributed to the slice carrying the copy; fpSum mean exact") {
    import spark.implicits._
    // doc 10 (web/fr) duplicates doc 1 (web/en): the keeper is doc 1,
    // so the DUP counts against (web, fr) — the slice that carries the
    // copy — not against the keeper's slice
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "en", "web"),
      (2L, "pack my box with five dozen liquor jugs", "en", "web"),
      (10L, "the quick brown fox jumps over the lazy dog", "fr", "web"),
      (11L, "sphinx of black quartz judge my vow", "fr", "books")
    ).toDF("doc_id", "text", "lang", "source")
    val r = graft.operators.Curation.dataCard(docs).collect()
      .map(x => (x.getString(0), x.getString(1)) -> x).toMap
    assert(r(("web", "en")).getLong(8) == 0L, "keeper slice must carry no dup")
    assert(r(("web", "fr")).getLong(8) == 1L &&
      r(("web", "fr")).getDouble(9) == 1.0, "copy slice must carry the dup")
    assert(r(("books", "fr")).getLong(8) == 0L)
    // single-doc slice: mean == min == max (the fpSum mean is exact on
    // one value up to the 2^-20 fixed-point grid)
    val b = r(("books", "fr"))
    assert(math.abs(b.getDouble(5) - b.getDouble(6)) < 1e-6 &&
      b.getDouble(6) == b.getDouble(7))
  }

  test("data_card: supplied near-dup verdict relation == self-computed card (and the fixture needs no n_chars)") {
    import spark.implicits._
    // the production shape (verdict r11 #9): the pipeline's keep-first
    // decision relation feeds the card instead of the card recomputing
    // the banded self-join — same rows bit for bit
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "en", "web"),
      (2L, "the quick brown fox jumps over the lazy dog extra", "en", "web"),
      (3L, "pack my box with five dozen liquor jugs", "en", "books"),
      (10L, "sphinx of black quartz judge my vow", "fr", "web")
    ).toDF("doc_id", "text", "lang", "source")
    val self = graft.operators.Curation.dataCard(docs).collect().toSet
    val verdict = graft.operators.Dedup.keepFirst(docs).localCheckpoint()
    val supplied = graft.operators.Curation.dataCard(docs, Some(verdict)).collect().toSet
    assert(self == supplied, "supplied-verdict card diverges from the self-computed card")
    // and the near-dup column actually fired (docs 1/2 are banded near-dups)
    assert(self.exists(r => r.getLong(r.fieldIndex("n_neardups")) > 0L),
      "fixture should exercise the near-dup column")
  }

  test("pipeline near-dup stage: no banded near-dup pair survives with both endpoints; stage-off leaves such pairs") {
    // the r11 stage composed into Curation.pipeline(nearDup = true):
    // stage 2b anti-joins keepFirst's drop set (every doc_b of a banded
    // pair), and later stages only remove docs — so among the FINAL
    // survivors no banded pair can have both endpoints alive. (Survivor
    // sets are NOT monotone in the flag: dropping a near-dup can turn a
    // repeated line unique in stage 3 and resurrect another doc's
    // tokens — so the pin is the pair property, not set inclusion.)
    val docs = graft.sources.Tables.read(spark, sf("sf0.001"), "documents")
    def survivorDocs(near: Boolean) = docs.join(
      graft.operators.Curation.pipeline(docs, nearDup = near).select("doc_id"),
      Seq("doc_id"), "left_semi")
    val pairsOn = graft.operators.Dedup
      .ngramJaccardBanded(survivorDocs(near = true)).count()
    assert(pairsOn == 0L,
      s"near-dup stage left $pairsOn banded pairs among survivors")
    val pairsOff = graft.operators.Dedup
      .ngramJaccardBanded(survivorDocs(near = false)).count()
    assert(pairsOff > 0L,
      "fixture should carry near-dup survivor pairs when the stage is off")
  }

  test("kmv set algebra: exact in the sub-k regime, within KMV error above it") {
    import spark.implicits._
    // sub-k regime: universes far below k=256 — the union sketch holds
    // every hash, so union_est == exact and inter_est == exact inter
    // (barring 1e-9-probability CW collisions on 60 values)
    def doc(lang: String, id: Long, words: Seq[String]) =
      (id, words.mkString(" "), lang)
    val w = (0 until 40).map(i => s"w$i")
    val small = (
      (0 until 10).map(i => doc("aa", i.toLong, w.slice(i, i + 3))) ++
      (0 until 10).map(i => doc("bb", 100L + i, w.slice(i + 5, i + 8)))
    ).toDF("doc_id", "text", "lang")
    val r = graft.operators.TextOps.kmvSetOps(small).collect()
    assert(r.length == 1)
    val row = r.head
    val (nU, nI) = (row.getLong(2), row.getLong(3))
    assert(row.getDouble(7) == nU.toDouble, s"sub-k union_est ${row.getDouble(7)} != $nU")
    assert(row.getDouble(8) == nI.toDouble, s"sub-k inter_est ${row.getDouble(8)} != $nI")
    assert(nI > 0, "planted overlap missing")
    // above-k regime on the real fixture: estimates within 25% of exact
    // (KMV k=256 std err ~6%; intersection inflates it by 1/rho)
    val big = graft.operators.TextOps
      .kmvSetOps(graft.sources.Tables.read(spark, sf("sf0.001"), "documents"))
      .collect()
    assert(big.nonEmpty)
    big.foreach { x =>
      val (exU, estU) = (x.getLong(2).toDouble, x.getDouble(7))
      assert(math.abs(estU - exU) / exU < 0.25,
        s"${x.getString(0)}/${x.getString(1)}: union est $estU vs exact $exU")
    }
  }

  test("decontaminate fixed-eval cap: membership pinned, over-cap eval ids become corpus") {
    import spark.implicits._
    // ids 0 and 97 are under the cap (eval); 194 is %97==0 but OVER the
    // 150-cap, so it must be scored as a CORPUS doc, not serve as eval
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (97L, "one two three four five six seven eight nine"),
      (194L, "alpha beta gamma delta epsilon zeta eta theta"),
      (5L, "one two three four five other words here now")).toDF("doc_id", "text")
    val r = Dedup.decontaminate(docs, maxEvalId = 150L).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2))).toMap
    assert(r.keySet == Set(194L, 5L), s"corpus rows: ${r.keySet}")
    // 194 duplicates eval doc 0 verbatim → containment 1.0 against it
    assert(r(194L)._1 == 0L && r(194L)._2 == 1.0, s"got ${r(194L)}")
    assert(r(5L)._1 == 97L, s"got ${r(5L)}")
    // winnow sibling under the same cap: the verbatim dup of eval 0 is
    // flagged against it; 194 appears as a corpus doc_id, never an eval_id
    val w = Dedup.decontaminateWinnow(docs, minShared = 1, maxEvalId = 150L)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(w.get(194L).contains(0L), s"winnow rows: $w")
    assert(!w.values.toSet.contains(194L))
  }

  test("chain_dot: strict length + null-element semantics (NULL, not a truncated dot)") {
    val df = Seq(
      (1L, Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (2L, Seq(1.0, 2.0), Seq(4.0, 5.0, 6.0))).toDF("id", "a", "b")
    val rows = df.selectExpr("id", "chain_dot(a, b) as d").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(rows(1L).contains(32.0))
    assert(rows(2L).isEmpty, "length mismatch must be NULL, not a partial dot")
    val withNull = spark.sql(
      "select chain_dot(array(1e0, cast(null as double)), array(2e0, 3e0)) as d").collect().head
    assert(withNull.isNullAt(0), "null element must propagate to NULL")
  }

  test("minhash signature agreement estimates true word-shingle Jaccard") {
    // doc pairs with graded overlap: shared prefix of w words out of 40
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    def doc(shared: Int, tag: String) =
      ((1 to shared).map(i => s"w$i") ++ (1 to (40 - shared)).map(i => s"$tag$i")).mkString(" ")
    val docs = Seq((1L, base), (2L, doc(30, "x")), (3L, doc(10, "y")))
      .toDF("doc_id", "text")
    val sh = docs.select($"doc_id", Dedup.wordShingles("text").as("sh"))
    val true12 = {
      val rows = sh.collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
      rows(1L).intersect(rows(2L)).size.toDouble / rows(1L).union(rows(2L)).size
    }
    // signature agreement with 64 hashes ~ Jaccard +- ~1/sqrt(64)
    val est = {
      val sig = sh.select($"doc_id", explode($"sh").as("s"))
        .groupBy("doc_id")
        .agg((0 until 64).map(j => min(xxhash64(lit(j), col("s"))).as(s"h$j")).head,
          (0 until 64).map(j => min(xxhash64(lit(j), col("s"))).as(s"h$j")).tail: _*)
        .collect().map(r => r.getLong(0) -> (0 until 64).map(j => r.getLong(j + 1))).toMap
      sig(1L).zip(sig(2L)).count { case (a, b) => a == b } / 64.0
    }
    assert(math.abs(est - true12) < 0.2, s"est=$est true=$true12")
  }

  test("simhash: identical texts → hamming 0; unrelated text excluded") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "totally unrelated vocabulary cluster nothing shared here at all"))
      .toDF("doc_id", "text")
    val fp = Dedup.simHash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))
    val pairs = Dedup.simHashPairs(docs, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0L)))
  }

  test("lang id: stopword-profile argmax with deterministic tie-break") {
    val docs = Seq(
      (1L, "der hund und die katze ist nicht da", "de", "s", 0L),
      (2L, "the cat and the dog in a house", "en", "s", 0L),
      (3L, "xyzzy plugh", "en", "s", 0L)) // no stopwords → tie → 'de' (alphabetical)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val m = graft.operators.TextOps.langId(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred_lang")).toMap
    assert(m(1L) == "de" && m(2L) == "en" && m(3L) == "de")
  }

  test("char_trigram_codes equals the SQL formula on ASCII (where spark ascii = codepoint)") {
    val texts = Seq("hello world", "ab", "x", "the quick brown fox")
    val df = texts.toDF("text").selectExpr(
      "char_trigram_codes(text) as fast",
      "array_sort(" + graft.operators.Dedup.charShingleCodesSql("text") + ") as ref")
    df.collect().foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), r.toString)
    }
  }

  test("char_trigram_codes on empty/1-char/2-char strings matches the SQL formula (no AIOOBE)") {
    val df = Seq("", "a", "ab").toDF("text").selectExpr(
      "char_trigram_codes(text) as fast",
      "array_sort(" + graft.operators.Dedup.charShingleCodesSql("text") + ") as ref")
    df.collect().foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), r.toString)
    }
    // '' → one all-zero term, exactly like the SQL formula's ascii('')=0
    val empty = Seq("").toDF("text")
      .selectExpr("char_trigram_codes(text) as c").collect().head.getSeq[Long](0)
    assert(empty == Seq(0L))
  }

  test("char_trigram_codes uses Unicode code points (DuckDB ascii semantics, not spark's first-byte)") {
    // 日本語テキスト code points
    val cps = Seq(26085L, 26412L, 35486L, 12486L, 12461L, 12473L, 12488L)
    val exp = (0 to 4).map(i =>
      cps(i) * 4398046511104L + cps(i + 1) * 2097152L + cps(i + 2)).sorted
    val got = Seq("日本語テキスト").toDF("text")
      .selectExpr("char_trigram_codes(text) as c").collect().head.getSeq[Long](0)
    assert(got == exp)
  }

  test("sorted_intersect_count equals size(array_intersect)") {
    val df = Seq((Seq(1L, 3L, 5L, 9L), Seq(2L, 3L, 9L, 11L))).toDF("a", "b")
      .selectExpr("sorted_intersect_count(a, b) as c",
        "cast(size(array_intersect(a, b)) as bigint) as r")
    val row = df.collect().head
    assert(row.getLong(0) == 2L && row.getLong(1) == 2L)
  }

  test("rolling_hash custom expression: deterministic, codegen path") {
    val df = Seq((1L, "abc"), (2L, "abc"), (3L, "abd")).toDF("doc_id", "text")
      .selectExpr("doc_id", "rolling_hash(text) as rh")
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exp = ((('a' * 263L + 'b') % 1000000007L) * 263L + 'c') % 1000000007L
    assert(m(1L) == exp && m(2L) == exp && m(3L) != exp)
  }

  test("text stats: exact token arithmetic") {
    val docs = Seq((1L, "the cat sat", "en", "s1")).toDF("doc_id", "text", "lang", "source")
    val r = TestOpsHelper.statsRow(docs)
    assert(r.getAs[Long]("n_tokens") == 3L)
    assert(r.getAs[Long]("n_distinct") == 3L)
    assert(r.getAs[Long]("sum_token_len") == 9L)
    assert(r.getAs[Double]("avg_token_len") == 3.0)
    assert(approx(r.getAs[Double]("stop_ratio"), 1.0 / 3.0))
  }

  test("cosine top-k: nearest vector first, deterministic tie-break") {
    val emb = Seq(
      (0L, Array.fill(64)(1.0f), 0),
      (1L, Array.fill(64)(1.0f), 0),
      (2L, Array.tabulate(64)(i => if (i < 32) 1.0f else -1.0f), 0),
      (50L, Array.fill(64)(0.5f), 0))
      .toDF("vec_id", "embedding", "label")
    val top = Similarity.cosineTopK(emb, k = 3, queryEvery = 50)
      .orderBy("q_id", "rn").collect()
    // queries: vec 0 and 50; nearest to 0 is 1 then 50 (cos 1.0), orthogonal 2 last
    val q0 = top.filter(_.getLong(0) == 0L).map(r => (r.getLong(1), r.getDouble(2)))
    assert(q0.head == ((1L, 1.0)))
    assert(q0(1)._1 == 50L && approx(q0(1)._2, 1.0))
    assert(q0(2)._1 == 2L && approx(q0(2)._2, 0.0))
  }

  test("IVF top-k: decent recall vs exact brute force on real embeddings") {
    val emb = graft.sources.Tables.read(spark, sf("sf0.001"), "embeddings")
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = asSet(Similarity.cosineTopK(emb, k = 10, queryEvery = 100))
    val ivf = asSet(Similarity.ivfTopK(emb, k = 10, queryEvery = 100, nlist = 8, nprobe = 3))
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(exact.nonEmpty)
    assert(recall >= 0.5, s"IVF recall@10 = $recall")
  }

  test("ivfRecall gate: one row per query id, all recall_ok at sf0.001") {
    val emb = graft.sources.Tables.read(spark, sf("sf0.001"), "embeddings")
    val rows = Similarity.ivfRecall(emb).collect()
    val nQ = Similarity.withNorm(emb)
      .filter(org.apache.spark.sql.functions.col("norm") > 0.0)
      .filter(org.apache.spark.sql.functions.col("vec_id") % 50 === 0).count()
    assert(rows.length == nQ)
    assert(rows.forall(_.getBoolean(1)), "a healthy index must clear the recall floor")
  }

  test("sessionize: 30-min gap starts a new session") {
    val h = 3600L * 1000000000L
    val ev = Seq((1L, 0L * h), (1L, h / 4), (1L, 2 * h), (2L, 0L))
      .toDF("user_id", "ts")
    val sess = EventOps.sessionize(ev, gapMinutes = 30)
      .orderBy("user_id", "session_id").collect()
    assert(sess.length == 3)
    assert(sess(0).getAs[Long]("n_events") == 2L) // user1 session1: 0 + 15min
    assert(sess(1).getAs[Long]("n_events") == 1L) // user1 session2: 2h
    assert(sess(2).getAs[Long]("n_events") == 1L) // user2
  }

  test("multimodal stub: deterministic metadata from bytes, partition-parallel") {
    val docs = Seq((7L, "abcd", "en", "s", 4L)).toDF("doc_id", "text", "lang", "source", "n_chars")
    val meta = Multimodal.decodeMeta(spark, Multimodal.assetsFromDocs(spark, docs)).collect().head
    assert(meta.getAs[Long]("n_bytes") == 4L)
    assert(meta.getAs[Long]("width") == 68L)
    assert(meta.getAs[Long]("height") == 92L)
    assert(meta.getAs[String]("format") == "fake")
  }

  test("multimodal plumbing: resize bounds, frame explosion, normalized features") {
    val text = "x" * 1000
    val docs = Seq((1L, text, "en", "s", 1000L)).toDF("doc_id", "text", "lang", "source", "n_chars")
    val assets = Multimodal.assetsFromDocs(spark, docs)
    val rz = Multimodal.resize(spark, assets, maxSide = 64L).collect().head
    assert(math.max(rz.width, rz.height) <= 64L && rz.blob.length == 1000)
    val frames = Multimodal.frameSample(spark, assets, stride = 256, maxFrames = 8).collect()
    assert(frames.length == 3 && frames.map(_.frame_idx).toSeq == Seq(0L, 1L, 2L))
    assert(frames.head.blob.length == 256)
    val feats = Multimodal.extractFeatures(spark, assets).collect().head
    assert(feats.embedding.length == 64)
    assert(math.abs(feats.embedding.map(x => x * x.toDouble).sum - 1.0) < 1e-6)
  }

  test("incremental bloom prescreen: verdicts identical to the exact join") {
    val docs = graft.sources.Tables.read(spark, sf("sf0.001"), "documents")
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val exact = asSet(graft.operators.Dedup.incremental(docs))
    val bloomed = asSet(graft.operators.Dedup.incrementalBloom(docs))
    assert(exact.nonEmpty)
    assert(bloomed == exact, "bloom prescreen must not change any verdict")
  }

  test("multimodal real codec: PNG encode → ImageIO decode round trip") {
    // pngBytes(7): dims from pngDims — w = 1+7%13 = 8, h = 1+21%11 = 11
    val a = Multimodal.Asset(7L, Multimodal.pngBytes(7L))
    assert(a.blob.take(4).map(_ & 0xff).toSeq == Seq(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt),
      "payload must be a genuine PNG container")
    val m = Multimodal.imageDecode(a)
    assert(m.width == 8L && m.height == 11L && m.channels == 3L && m.format == "png")
    // non-image payload falls back to the documented stub
    val f = Multimodal.imageDecode(Multimodal.Asset(1L, "not an image".getBytes("UTF-8")))
    assert(f.format == "fake")
  }

  test("multimodal real resize: rescaled blob re-decodes at the target dims") {
    val docs = Seq((7L, "x", "en", "s", 1L), (0L, "y", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val rz = Multimodal.imageResize(spark, Multimodal.pngAssets(spark, docs))
      .collect().sortBy(_.doc_id)
    // doc 0: 1×1 stays (scale >= 1); doc 7: 8×11 → floor(8·8/11)×8 = 5×8
    assert(rz(0).width == 1L && rz(0).height == 1L)
    assert(rz(1).width == 5L && rz(1).height == 8L)
    rz.foreach { r =>
      val m = Multimodal.imageDecode(Multimodal.Asset(r.doc_id, r.blob))
      assert(m.format == "png" && m.width == r.width && m.height == r.height,
        "re-encoded blob must decode at the claimed dimensions")
    }
  }

  test("multimodal real frames: animated GIF writes, enumerates and decodes per-frame") {
    // gifBytes(7): 8 frames (1 + 7 % 8) of 8×11 (pngDims); GIF magic
    val bytes = Multimodal.gifBytes(7L)
    assert(bytes.take(6).map(_.toChar).mkString.startsWith("GIF8"),
      "payload must be a genuine GIF container")
    val docs = Seq((7L, "x", "en", "s", 1L), (2L, "y", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val fs = Multimodal.gifFrameSample(spark, Multimodal.gifAssets(spark, docs))
      .collect().sortBy(f => (f.doc_id, f.frame_idx))
    // doc 2: 3 frames → sampled 0,2; doc 7: 8 frames → sampled 0,2,4,6
    assert(fs.filter(_.doc_id == 2L).map(_.frame_idx).toSeq == Seq(0L, 2L))
    assert(fs.filter(_.doc_id == 7L).map(_.frame_idx).toSeq == Seq(0L, 2L, 4L, 6L))
    fs.foreach { f =>
      val (w, h) = if (f.doc_id == 7L) (8L, 11L) else (3L, 7L)
      assert(f.width == w && f.height == h && f.n_frames == 1 + f.doc_id % 8, f.toString)
    }
    // unreadable payload falls back to the byte-window stub arithmetic
    import spark.implicits._
    val junk = Seq(Multimodal.Asset(1L, ("j" * 600).getBytes("UTF-8"))).toDS()
    val fb = Multimodal.gifFrameSample(spark, junk).collect()
    assert(fb.map(_.frame_idx).toSeq == Seq(0L) && fb.head.n_frames == 2L)
  }

  test("video frame sample: MJPEG demux + per-frame JPEG decode; stub only for unreadable") {
    import spark.implicits._
    // doc 7: 2 + 7%7 = 2 frames; doc 9: 2 + 9%7 = 4 frames
    val bytes = Multimodal.mjpegBytes(7L)
    // a genuine MJPEG stream: opens with SOI, closes with EOI, and holds
    // exactly n_frames SOI markers
    assert((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8)
    assert((bytes(bytes.length - 2) & 0xff) == 0xff
      && (bytes(bytes.length - 1) & 0xff) == 0xd9)
    val docs = Seq((7L, "x", "en", "s", 1L), (9L, "y", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val fs = Multimodal.videoFrameSample(spark, Multimodal.mjpegAssets(spark, docs))
      .collect().sortBy(f => (f.doc_id, f.frame_idx))
    assert(fs.filter(_.doc_id == 7L).map(_.frame_idx).toSeq == Seq(0L))
    assert(fs.filter(_.doc_id == 9L).map(_.frame_idx).toSeq == Seq(0L, 2L))
    fs.foreach { f =>
      val (w, h) = if (f.doc_id == 7L) (8L, 11L) else (10L, 6L)
      assert(f.width == w && f.height == h && f.n_frames == 2 + f.doc_id % 7, f.toString)
    }
    // the dims above can ONLY come from the decoded raster — the
    // byte-window stub would report fakeDecode's 64 + len % 193 dims
    assert(fs.forall(f => f.width < 64 && f.height < 64))
    // a corrupted stream (EOI bytes zeroed → demux finds no frame) is
    // pinned to the fallback: stub dims, byte-window frame count
    val corrupt = Multimodal.mjpegBytes(9L).clone()
    corrupt.indices.foreach { i =>
      if ((corrupt(i) & 0xff) == 0xff) corrupt(i + 1) match {
        case b if (b & 0xff) == 0xd9 => corrupt(i + 1) = 0x00
        case _ => ()
      }
    }
    val fb = Multimodal.videoFrameSample(spark,
      Seq(Multimodal.Asset(9L, corrupt)).toDS()).collect()
    assert(fb.forall(f => f.width >= 64L && f.height >= 64L),
      "corrupt container must ride the stub, not half-real metadata")
  }

  test("q_retention: planted cohorts yield the exact matrix; offset 0 always covers the cohort") {
    import graft.operators.EventOps
    val day = 86400000000000L
    // user 1: days 0,1,3; user 2: days 0,1; user 3: days 1,3 (cohort 1)
    val events = Seq(
      (1L, 0L * day + 5L), (1L, 1L * day + 9L), (1L, 3L * day),
      (2L, 0L * day), (2L, 1L * day + day - 1L), // end-of-day still day 1
      (3L, 1L * day), (3L, 3L * day + 7L))
      .toDF("user_id", "ts")
    val got = EventOps.retention(events).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    assert(got == Map(
      (0L, 0L) -> (2L, 2L, 1.0), (0L, 1L) -> (2L, 2L, 1.0),
      (0L, 3L) -> (1L, 2L, 0.5),
      (1L, 0L) -> (1L, 1L, 1.0), (1L, 2L) -> (1L, 1L, 1.0)), got.toString)
  }

  test("allpairs_banded: subset of the Bayardo operator with identical scores; near-dup recall 1.0") {
    val docs = graft.sources.Tables.read(spark, sf("sf0.001"), "documents")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val full = rows(TextOps.allPairsSimilarity(docs))
    val banded = rows(TextOps.allPairsBanded(docs))
    assert(banded.nonEmpty, "banded variant found nothing on the corpus")
    // exact verify + identical fp arithmetic → every banded row appears
    // in the full output with the same score
    banded.foreach { case (k, v) =>
      assert(full.get(k).contains(v),
        s"banded pair $k -> $v not identical in full output: ${full.get(k)}")
    }
    // planted near-dup regime (cosine ≈ 1 ⇒ band-catch prob ≈ 1):
    // token-level near-copies must all be caught
    val base = (0 until 30).map(i => s"alpha$i beta$i gamma$i").mkString(" ")
    val near = base + " extra tail token"
    val filler = (0 until 20).map(i =>
      (10L + i, s"unrelated filler number $i carrying tokens ${i * 7} and ${i * 31}"))
    val planted = (Seq((1L, base), (2L, near)) ++ filler).toDF("doc_id", "text")
    val fullP = rows(TextOps.allPairsSimilarity(planted))
    val bandP = rows(TextOps.allPairsBanded(planted))
    assert(fullP.contains((1L, 2L)), s"sanity: full operator missed the near-copy: ${fullP.keySet}")
    assert(fullP.keySet == bandP.keySet,
      s"recall < 1.0 on the planted near-dup corpus: full=${fullP.keySet} banded=${bandP.keySet}")
  }

  test("sorted_dot_fp: bit-equal to the fpSum aggregate over the explode join (r16 verify respelling)") {
    // the differential proof behind verifyPairsDot: for every candidate
    // pair of the real corpus, the sorted-array merge reproduces the old
    // candidate×token explode + fpSum aggregate EXACTLY (same fixed-point
    // longs, same one division) — compared pre-threshold so near-miss
    // scores are pinned too, not only survivors
    val docs = graft.sources.Tables.read(spark, sf("sf0.001"), "documents")
    // (a) operator-level differential on the real corpus at a LOW
    // threshold (more survivors, more near-threshold scores): the merge
    // verify must reproduce the explode+aggregate reference row for row
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ref = rows(TextOps.allPairsSimilarityJoinAgg(docs, 0.3))
    val got = rows(TextOps.allPairsSimilarity(docs, 0.3))
    assert(got.nonEmpty, "sanity: the corpus must produce pairs at 0.3")
    assert(got == ref, s"verify respelling diverged: " +
      s"missing=${(ref.keySet -- got.keySet).take(5)} " +
      s"extra=${(got.keySet -- ref.keySet).take(5)} " +
      s"scoreDiffs=${ref.collect { case (k, v) if got.get(k).exists(_ != v) => k }.take(5)}")
    // (b) expression-level parity against the literal fpSum spelling on
    // hand-built sorted arrays, including the no-shared-token zero and
    // the malformed-input NULL
    val r = spark.sql(
      """select
        | sorted_dot_fp(array('a','b','d'), array(0.25D, 0.5D, 0.125D),
        |               array('b','c','d'), array(0.5D, 1.0D, 0.25D)) as s,
        | sorted_dot_fp(array('a'), array(0.5D), array('b'), array(0.5D)) as z,
        | sorted_dot_fp(array('a','b'), array(0.5D), array('a'), array(0.5D)) as m
        |""".stripMargin).collect().head
    val exp = (Math.floor(0.5 * 0.5 * 1048576.0 + 0.5).toLong +
      Math.floor(0.125 * 0.25 * 1048576.0 + 0.5).toLong) / 1048576.0
    assert(r.getDouble(0) == exp, s"merge dot ${r.getDouble(0)} != $exp")
    assert(r.getDouble(1) == 0.0, "no shared tokens must score 0.0")
    assert(r.isNullAt(2), "mismatched token/weight lengths must be NULL")
  }

  test("repetition_stats: bit-equal to the higher-order-function projection (r16 one-pass respelling)") {
    // differential on the real corpus plus adversarial rows: multibyte
    // tokens, repeated-token runs, single-token and whitespace-only docs
    // (split edge shapes: leading/trailing empties are tokens)
    val docs = graft.sources.Tables.read(spark, sf("sf0.001"), "documents")
      .select("doc_id", "lang", "text")
      .unionByName(Seq(
        (100001L, "zz", "héllo héllo héllo wörld 界界 界界 héllo"),
        (100002L, "zz", "one"),
        (100003L, "zz", "  spaced   out  "),
        (100004L, "zz", "a b a b a b a b"),
        (100005L, "zz", "x y x y z x y x y z")).toDF("doc_id", "lang", "text"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toMap
    val ref = rows(TextOps.repetitionHof(docs))
    val got = rows(TextOps.repetition(docs))
    assert(got == ref, s"one-pass repetition diverged: " +
      s"${ref.collect { case (k, v) if got.get(k) != Some(v) => (k, v, got.get(k)) }.take(3)}")
  }

  test("avi frame sample: RIFF demux + DIB pixel decode; compressed fourcc and corruption ride the stub") {
    import spark.implicits._
    // doc 7: 2 + 7%6 = 3 frames of (8, 11); doc 9: 2 + 9%6 = 5 of (10, 6)
    val bytes = Multimodal.aviBytes(7L)
    assert(new String(bytes, 0, 4, "US-ASCII") == "RIFF"
      && new String(bytes, 8, 4, "US-ASCII") == "AVI ")
    val docs = Seq((7L, "x", "en", "s", 1L), (9L, "y", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val fs = Multimodal.aviFrameSample(spark, Multimodal.aviAssets(spark, docs))
      .collect().sortBy(f => (f.doc_id, f.frame_idx))
    assert(fs.filter(_.doc_id == 7L).map(_.frame_idx).toSeq == Seq(0L, 2L))
    assert(fs.filter(_.doc_id == 9L).map(_.frame_idx).toSeq == Seq(0L, 2L, 4L))
    fs.foreach { f =>
      val (w, h) = if (f.doc_id == 7L) (8L, 11L) else (10L, 6L)
      assert(f.width == w && f.height == h && f.n_frames == 2 + f.doc_id % 6, f.toString)
      // decoded-pixel checks: top-left blue byte and the full pixel sum
      // must match the encode arithmetic — only a correct bottom-up row
      // flip + stride walk produces them (pad bytes are 0xAB sentinels)
      assert(f.corner_b == (f.doc_id + f.frame_idx * 131L) % 256L, f.toString)
      val expSum = (for { y <- 0L until h; x <- 0L until w } yield {
        val b = (f.doc_id + f.frame_idx * 131L + x * 29L + y * 13L) % 256L
        b + (b + 85L) % 256L + (b + 170L) % 256L
      }).sum
      assert(f.px_sum == expSum, s"pixel sum off: $f vs $expSum")
    }
    // compressed-codec fourcc (MJPG biCompression) — the documented
    // boundary: same container shape, no JVM codec → byte-window stub
    val mjpg = Multimodal.aviBytes(9L, compression = 0x47504A4D)
    val fb = Multimodal.aviFrameSample(spark,
      Seq(Multimodal.Asset(9L, mjpg)).toDS()).collect()
    assert(fb.nonEmpty && fb.forall(f =>
      f.width >= 64L && f.corner_b == -1L && f.px_sum == -1L),
      "compressed-codec track must ride the stub, not half-real metadata")
    // a truncated container (chunk overruns) rejects whole-asset too
    val cut = Multimodal.aviBytes(9L).dropRight(40)
    val fc = Multimodal.aviFrameSample(spark,
      Seq(Multimodal.Asset(9L, cut)).toDS()).collect()
    assert(fc.forall(f => f.corner_b == -1L && f.px_sum == -1L),
      "truncated container must ride the stub")
  }

  test("rle8 video: runs decompress to the oracle pixels; absolute mode decodes; delta/corruption reject") {
    import spark.implicits._
    // the stream contains REAL multi-pixel runs (4-wide blocks): doc 7
    // is 8 px wide → 2 runs of 4 per row, not 8 singletons
    val bytes = Multimodal.aviRle8Bytes(7L)
    assert(new String(bytes, 0, 4, "US-ASCII") == "RIFF")
    val docs = Seq((7L, "x", "en", "s", 1L), (9L, "y", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val fs = Multimodal.aviFrameSample(spark, Multimodal.aviRle8Assets(spark, docs))
      .collect().sortBy(f => (f.doc_id, f.frame_idx))
    assert(fs.nonEmpty)
    fs.foreach { f =>
      val (w, h) = if (f.doc_id == 7L) (8L, 11L) else (10L, 6L)
      assert(f.width == w && f.height == h && f.n_frames == 2 + f.doc_id % 6, f.toString)
      // decompressed + palette-resolved pixels must match the encode
      // arithmetic exactly
      assert(f.corner_b == (f.doc_id + f.frame_idx * 131L) % 256L, f.toString)
      val expSum = (for { y <- 0L until h; x <- 0L until w } yield {
        val p = (f.doc_id + f.frame_idx * 131L + (x / 4) * 29L + y * 13L) % 256L
        p + (p * 7L) % 256L + (p * 13L) % 256L
      }).sum
      assert(f.px_sum == expSum, s"pixel sum off: $f vs $expSum")
    }
    // flipping a run packet into a DELTA escape (00 02) must reject the
    // whole asset: delta encodes undefined pixels
    val corrupt = Multimodal.aviRle8Bytes(7L).clone()
    // find the first frame chunk '00dc' and break its first packet
    val dcPos = corrupt.sliding(4).indexWhere(w =>
      new String(w.toArray, "US-ASCII") == "00dc")
    assert(dcPos > 0)
    corrupt(dcPos + 8) = 0; corrupt(dcPos + 9) = 2
    val fb = Multimodal.aviFrameSample(spark,
      Seq(Multimodal.Asset(7L, corrupt)).toDS()).collect()
    assert(fb.forall(f => f.corner_b == -1L && f.px_sum == -1L),
      "delta escape must reject the asset to the stub")
    // absolute-mode packet (00 n + literals) decodes: unit-test the
    // decoder through a hand-built single-frame stream
    val w9 = 6; val h9 = 1
    val abs = Array[Byte](0, 3, 5, 6, 7, 0 /* pad to word */, 3, 9, 0, 1)
    // row = [5, 6, 7, 9, 9, 9]; decoder is private — drive it through a
    // minimal container by splicing: simplest is reflection-free reuse
    // of the public path with a crafted frame via aviRle8Bytes' format.
    // Build: RIFF(AVI (hdrl(avih,strl(strh,strf+pal)) movi(00dc)))
    val pal = (0 until 256).flatMap(i =>
      Seq((i % 256).toByte, ((i * 7) % 256).toByte, ((i * 13) % 256).toByte, 0.toByte))
    def le(v: Int) = Seq((v & 255).toByte, ((v >> 8) & 255).toByte,
      ((v >> 16) & 255).toByte, ((v >> 24) & 255).toByte)
    def chunk(id: String, d: Seq[Byte]) =
      id.getBytes("US-ASCII").toSeq ++ le(d.length) ++ d ++
        (if (d.length % 2 == 1) Seq(0.toByte) else Nil)
    def list(t: String, d: Seq[Byte]) = chunk("LIST", t.getBytes("US-ASCII").toSeq ++ d)
    val avih = le(40000) ++ le(0) ++ le(0) ++ le(0x10) ++ le(1) ++ le(0) ++
      le(1) ++ le(16) ++ le(w9) ++ le(h9) ++ le(0) ++ le(0) ++ le(0) ++ le(0)
    val strh = "vids".getBytes("US-ASCII").toSeq ++ "MRLE".getBytes("US-ASCII").toSeq ++
      le(0) ++ Seq[Byte](0, 0, 0, 0) ++ le(1) ++ le(25) ++ le(0) ++ le(1) ++
      le(16) ++ le(-1) ++ le(0) ++ Seq[Byte](0, 0, 0, 0) ++
      Seq((w9 & 255).toByte, 0.toByte, (h9 & 255).toByte, 0.toByte)
    val strf = le(40) ++ le(w9) ++ le(h9) ++ Seq[Byte](1, 0, 8, 0) ++
      le(1) ++ le(0) ++ le(0) ++ le(0) ++ le(256) ++ le(0) ++ pal
    val crafted = chunk("RIFF", "AVI ".getBytes("US-ASCII").toSeq ++
      list("hdrl", chunk("avih", avih) ++
        list("strl", chunk("strh", strh) ++ chunk("strf", strf))) ++
      list("movi", chunk("00dc", abs.toSeq))).toArray
    val fa = Multimodal.aviFrameSample(spark,
      Seq(Multimodal.Asset(1L, crafted)).toDS(), stride = 1).collect()
    assert(fa.length == 1 && fa.head.width == w9 && fa.head.height == h9, fa.toSeq.toString)
    // pixels [5,6,7,9,9,9] under palette (p, 7p%256, 13p%256)
    val expPx = Seq(5, 6, 7, 9, 9, 9).map(p => p + (p * 7) % 256 + (p * 13) % 256).sum
    assert(fa.head.corner_b == 5L && fa.head.px_sum == expPx.toLong, fa.head.toString)
    // trailing garbage AFTER the EOB escape (advice r8): the chunk is
    // not fully consumed, so the decoder must reject the whole asset
    // (one word-pad slack byte is allowed; two extra bytes are not)
    val trailing = chunk("RIFF", "AVI ".getBytes("US-ASCII").toSeq ++
      list("hdrl", chunk("avih", avih) ++
        list("strl", chunk("strh", strh) ++ chunk("strf", strf))) ++
      list("movi", chunk("00dc", abs.toSeq ++ Seq[Byte](77, 78)))).toArray
    val ft = Multimodal.aviFrameSample(spark,
      Seq(Multimodal.Asset(1L, trailing)).toDS(), stride = 1).collect()
    assert(ft.forall(f => f.corner_b == -1L && f.px_sum == -1L),
      "bytes after EOB must reject the asset to the stub")
  }

  test("incremental winnow: shifted near-copy of an indexed doc is dup_history") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (0L, base, "en", "s", 64L),                    // history (0 % 5 < 4)
      (1L, "completely different content with many other words", "en", "s", 48L),
      (4L, "X " + base, "en", "s", 66L),             // incoming: shifted copy of doc 0
      (9L, "unrelated fresh text nothing shared with anything at all", "en", "s", 56L),
      (14L, "Y " + base + " tail", "en", "s", 70L))  // incoming: another near-copy
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = graft.operators.Dedup.incrementalWinnow(docs).collect()
      .map(x => (x.getLong(0), x.getString(2))).toMap
    // the single-character-shift near-copies hit the history index even
    // though their exact hashes differ (the case incremental() misses)
    assert(r(4L) == "dup_history" && r(14L) == "dup_history", r.toString)
    assert(r(9L) == "kept", r.toString)
    // exact-hash incremental keeps all three incoming docs — the winnow
    // upgrade is what catches the near-copies
    val exact = graft.operators.Dedup.incremental(docs).collect()
      .map(x => (x.getLong(0), x.getString(2))).toMap
    assert(Seq(4L, 9L, 14L).forall(exact(_) == "kept"), exact.toString)
    // the bloom prescreen has no false negatives: verdicts identical,
    // including at a tiny filter (64 bits) where false POSITIVES abound
    val bloomed = graft.operators.Dedup.incrementalWinnowBloom(docs, mBits = 64)
      .collect().map(x => (x.getLong(0), x.getString(2))).toMap
    assert(bloomed == r, s"bloom-prescreened verdicts diverged: $bloomed vs $r")
  }

  test("winnow overlap prefix filter: pairs identical to the join+aggregate reference") {
    // r16 differential pin for the smaller-side-prefix respelling of the
    // batch overlap — full row set (ids, counts, sizes, scores) equal on
    // the real corpus at the default and at a non-default threshold
    // exercising the floor(threshold·n_min) prefix bound
    val docs = graft.sources.Tables.read(spark, sf("sf0.001"), "documents")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSet
    for ((ms, thr) <- Seq((3, 0.5), (1, 0.2), (5, 0.9))) {
      val ref = rows(TextOps.winnowOverlapJoinAgg(docs, ms, thr))
      val got = rows(TextOps.winnowOverlap(docs, ms, thr))
      assert(got == ref, s"prefix overlap diverged at ($ms, $thr): " +
        s"missing=${(ref -- got).take(3)} extra=${(got -- ref).take(3)}")
    }
  }

  test("incremental winnow prefix filter: verdicts identical to the join+aggregate reference") {
    // r16 differential pin (the winnowWindowed discipline): the shipped
    // prefix-filtered candidate generation + sorted-intersect verify must
    // reproduce the pre-r16 full fp-join spelling row for row — on the
    // real sf0.001 corpus (template-heavy: hot fps, ties in the rarity
    // order) and at non-default thresholds where the prefix size formula
    // t = max(minShared, ceil(n_fp·thrNum/thrDen)) exercises both arms.
    val docs = graft.sources.Tables.read(spark, sf("sf0.001"), "documents")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    for ((ms, tn, td) <- Seq((3, 1, 2), (1, 1, 10), (5, 9, 10))) {
      val ref = rows(graft.operators.Dedup
        .incrementalWinnowJoinAgg(docs, minShared = ms, thrNum = tn, thrDen = td))
      val got = rows(graft.operators.Dedup
        .incrementalWinnow(docs, minShared = ms, thrNum = tn, thrDen = td))
      assert(got == ref, s"prefix spelling diverged at ($ms, $tn/$td): " +
        s"missing=${ref -- got} extra=${got -- ref}")
    }
  }

  test("hilbert index: exhaustive bijection + unit adjacency over the 256x256 grid") {
    // the defining Hilbert property, proven from the very SQL text the
    // sink and the oracle share: the unrolled levels map the grid
    // bijectively onto [0, 65536) and every consecutive pair of indices
    // is grid-ADJACENT (|dx| + |dy| = 1) — Morton codes fail adjacency
    // at every quadrant boundary
    var df = spark.range(65536).selectExpr(
      "id div 256 as bx", "id % 256 as by",
      "id div 256 as hx", "id % 256 as hy", "cast(0 as bigint) as hd")
    (0 until 8).foreach { i =>
      val s = 128 >> i
      val (nx, ny, nd) = graft.operators.Hilbert.level(s)
      df = df.selectExpr("bx", "by", s"$nx as hx__", s"$ny as hy__", s"$nd as hd__")
        .withColumnRenamed("hx__", "hx").withColumnRenamed("hy__", "hy")
        .withColumnRenamed("hd__", "hd")
    }
    val m = df.selectExpr("hd", "bx", "by").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(m.size == 65536 && m.keys.min == 0L && m.keys.max == 65535L,
      "hilbert map must be a bijection onto [0, 65536)")
    (1 until 65536).foreach { d =>
      val (x0, y0) = m(d - 1L)
      val (x1, y1) = m(d.toLong)
      assert(math.abs(x1 - x0) + math.abs(y1 - y0) == 1,
        s"d=$d jumps from ($x0,$y0) to ($x1,$y1)")
    }
  }

  test("mlp: hidden layer activates, weights move, and the model separates classes") {
    import spark.implicits._
    val docs = (0L until 40L).map { i =>
      if (i % 2 == 0) (i, "good clean prose text here", "en", "s", 20L)
      else (i, "zzq qqz zqz qzz zzz", "xx", "s", 20L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val w = graft.operators.Mlp.mlpTrain(docs, buckets = 64, hidden = 4, iters = 6)
      .collect().map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getDouble(3))).toMap
    // layer-2 weights moved off the dyadic init for >= 2 units (a frozen
    // ReLU network would leave them at j%3-1 / 4 exactly)
    val moved = (0 until 4).count { j =>
      math.abs(w((2L, j.toLong, 0L)) - ((j % 3 - 1) / 4.0)) > 1e-9
    }
    assert(moved >= 2, s"layer-2 weights stuck at init: $w")
    // the trained model separates the classes through the REAL serving path
    val (m1, m2) = graft.operators.Mlp.trainedArrays(docs, buckets = 64, hidden = 4, iters = 6)
    val scores = graft.operators.Multimodal.inferFeatures(spark,
        graft.operators.Multimodal.assetsFromDocs(spark, docs),
        new graft.operators.Multimodal.MlpTextModel(m1, m2)).collect()
      .map(f => (f.doc_id, f.embedding(0).toDouble)).toMap
    val en = (0L until 40L by 2).map(scores).sum / 20.0
    val xx = (1L until 40L by 2).map(scores).sum / 20.0
    assert(en > xx, s"trained MLP must rank 'en' docs above: en=$en xx=$xx")
  }

  test("mlp stored stack: 2-layer artifact bit-equals MlpTextModel; 3-layer stack serves") {
    import spark.implicits._
    val docs = (0L until 20L).map { i =>
      if (i % 2 == 0) (i, "good clean prose text here", "en", "s", 20L)
      else (i, "zzq qqz zqz qzz zzz", "xx", "s", 20L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    // dump → load round-trip must serve bit-equal to the in-memory arrays
    val art = graft.Scratch.dir("graft_mlp_spec_")
    graft.operators.Mlp.mlpTrain(docs, buckets = 64, hidden = 4, iters = 3)
      .write.mode("overwrite").parquet(art)
    val layers = graft.operators.Mlp.loadWeights(spark, art, buckets = 64)
    assert(layers.length == 2 && layers(0).length == 64 &&
      layers(0)(0).length == 4 && layers(1).length == 4 && layers(1)(0).length == 1)
    val (m1, m2) = graft.operators.Mlp.trainedArrays(docs, buckets = 64,
      hidden = 4, iters = 3)
    val assets = graft.operators.Multimodal.assetsFromDocs(spark, docs)
    def score(m: graft.operators.Multimodal.BatchModel): Map[Long, Seq[Float]] =
      graft.operators.Multimodal.inferFeatures(spark, assets, m).collect()
        .map(f => f.doc_id -> f.embedding.toSeq).toMap
    val viaStored = score(new graft.operators.Multimodal.MlpStackModel(layers))
    val viaArrays = score(new graft.operators.Multimodal.MlpTextModel(m1, m2))
    assert(viaStored == viaArrays, "stored-weight serving must be bit-equal")
    // ARBITRARY depth: a hand-built 3-layer artifact (4->3 hidden, 3->2
    // head) loads and serves; spot-check one doc against a scalar replay
    // of the fixed-point forward pass
    val w2h = Array.tabulate(4, 3)((i, j) => (i - j).toDouble / 8.0)
    val w3 = Array.tabulate(3, 2)((i, j) => (i + j - 1).toDouble / 4.0)
    val rows =
      (for (b <- 0 until 64; j <- 0 until 4) yield (1L, b.toLong, j.toLong, m1(b)(j))) ++
      (for (i <- 0 until 4; j <- 0 until 3) yield (2L, i.toLong, j.toLong, w2h(i)(j))) ++
      (for (i <- 0 until 3; j <- 0 until 2) yield (3L, i.toLong, j.toLong, w3(i)(j)))
    val art3 = graft.Scratch.dir("graft_mlp3_spec_")
    rows.toDF("layer", "i", "j", "w9").write.mode("overwrite").parquet(art3)
    val stack3 = graft.operators.Mlp.loadWeights(spark, art3, buckets = 64)
    assert(stack3.length == 3)
    val out3 = score(new graft.operators.Multimodal.MlpStackModel(stack3))
    assert(out3.values.forall(_.length == 2), "3-layer head emits 2 outputs")
    // scalar replay for doc 0: h1 from the 2-layer run's hidden layer is
    // not exposed, so recompute from viaArrays' layer-1 semantics via the
    // stack model with layers take(1): ReLU'd pre-activations
    val h1 = score(new graft.operators.Multimodal.MlpStackModel(
      Array(stack3(0))))(0L).map(_.toDouble).map(math.max(_, 0.0))
    def fpMatvec(h: Seq[Double], w: Array[Array[Double]], relu: Boolean): Seq[Double] =
      (0 until w(0).length).map { j =>
        val acc = h.indices.map(i =>
          math.floor(w(i)(j) * h(i) * 1048576.0 + 0.5).toLong).sum
        val z = acc.toDouble / 1048576.0
        if (relu) math.max(z, 0.0) else z
      }
    val want = fpMatvec(fpMatvec(h1, w2h, relu = true), w3, relu = false)
      .map(_.toFloat)
    assert(out3(0L) == want, s"3-layer forward mismatch: ${out3(0L)} vs $want")
  }

  test("model-inference contract: opens once per partition, batches amortize") {
    import spark.implicits._
    val opens = spark.sparkContext.longAccumulator("opens")
    val batches = spark.sparkContext.longAccumulator("batches")
    val assets = (1L to 100L).map(i => Multimodal.Asset(i, s"blob$i".getBytes("UTF-8")))
      .toDS().repartition(4)
    val out = Multimodal.inferFeatures(spark, assets,
      new Multimodal.StandInModel(64, Some(opens), Some(batches)), batchSize = 16)
      .collect()
    assert(out.length == 100 && out.forall(_.embedding.length == 64))
    assert(opens.value == 4L, s"model must load once per partition, loaded ${opens.value}")
    // 25 rows per partition at batch 16 → 2 micro-batches each
    assert(batches.value == 8L, s"micro-batches: ${batches.value}")
    // the stand-in through the batched runner IS extractFeatures
    val ref = Multimodal.extractFeatures(spark, assets).collect()
      .map(f => f.doc_id -> f.embedding.toSeq).toMap
    out.foreach(f => assert(ref(f.doc_id) == f.embedding.toSeq))
  }

  test("LrTextModel: trained-weights margins through inferFeatures are bit-equal to the relational spelling") {
    import graft.operators.Classifier
    val docs = graft.sources.Tables.read(spark, sf("sf0.001"), "documents")
    val wRows = Classifier.lrTrain(docs).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val weights = new Array[Double](256)
    wRows.foreach { case (b, w) => weights(b.toInt) = w }
    // REAL model path: blobs → partition-batched sessions → margins
    val got = Multimodal.inferFeatures(spark,
        Multimodal.assetsFromDocs(spark, docs),
        new Multimodal.LrTextModel(weights))
      .collect().map(f => f.doc_id -> f.embedding(0)).toMap
    // relational path: the identical weights scored through the SQL
    // featurize/join/fpSum chain, margin cast to float32 like Feature
    val wDf = wRows.toSeq.toDF("bucket", "w")
    val exp = TextOps.hashFeatures(docs)
      .join(broadcast(wDf), "bucket")
      .groupBy("doc_id")
      .agg(expr(graft.oracle.Parity.fpSum("w * cnt")).as("margin"))
      .selectExpr("doc_id", "cast(margin as float) as m")
      .collect().map(r => r.getLong(0) -> r.getFloat(1)).toMap
    assert(got.keySet == exp.keySet, s"${got.size} vs ${exp.size} docs")
    got.foreach { case (id, m) =>
      assert(java.lang.Float.floatToIntBits(m) ==
        java.lang.Float.floatToIntBits(exp(id)),
        s"doc $id: model margin $m != relational ${exp(id)}")
    }
  }

  test("multimodal histogram: decoded-pixel counts cover every pixel once per channel") {
    val docs = Seq((7L, "x", "en", "s", 1L)).toDF("doc_id", "text", "lang", "source", "n_chars")
    val h = Multimodal.imageHistogram(spark, Multimodal.pngAssets(spark, docs)).collect()
    // doc 7 decodes at 8×11 → each of the 3 channels histograms 88 pixels
    val perChannel = h.groupBy(_.getLong(1)).view.mapValues(_.map(_.getLong(3)).sum).toMap
    assert(perChannel.keySet == Set(0L, 1L, 2L))
    assert(perChannel.values.forall(_ == 88L), s"per-channel totals: $perChannel")
  }

  test("HLL sketch: two-regime estimate within 10% of exact per language") {
    val docs = graft.sources.Tables.read(spark, sf("sf0.001"), "documents")
    val rows = graft.operators.Hll.hllDistinct(docs).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getLong(1).toDouble
      val est = r.getDouble(3)
      assert(math.abs(est - exact) / math.max(exact, 1.0) <= 0.10,
        s"${r.getString(0)}: exact=$exact est=$est")
    }
  }

  test("CMS heavy hitters: top-k by exact count, estimate never undercounts") {
    val docs = Seq((1L, "a a a b b c"), (2L, "a b d e f g"), (3L, "a c c h i j"))
      .toDF("doc_id", "text")
    val r = TextOps.cmsHeavy(docs, depth = 4, width = 16, k = 5).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    assert(r.length == 5)
    // the CMS guarantee: min-over-rows estimate >= true count, always
    r.foreach { case (_, freq, est) => assert(est >= freq) }
    val byTok = r.map(t => t._1 -> t._2).toMap
    assert(byTok("a") == 5L && byTok("b") == 3L && byTok("c") == 3L)
    // singleton ties at the k boundary break alphabetically
    assert(r.map(_._1).sorted.toSeq == Seq("a", "b", "c", "d", "e"))
  }

  test("corpus line dedup: cross-doc repeated lines counted and removed") {
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // 4-token lines; doc 1 and doc 2 share their first line
    val docs = Seq(
      (1L, "w x y z a b c d"),
      (2L, "w x y z e f g h"),
      (3L, "p q r s t u v w")).toDF("doc_id", "text")
    val r = Dedup.lineDedup(docs, lineTokens = 4).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getString(3)))).toMap
    assert(r(1L) == ((2L, 1L, md5hex("a b c d")))) // dup line removed, 2nd kept
    assert(r(2L) == ((2L, 1L, md5hex("e f g h"))))
    assert(r(3L) == ((2L, 0L, md5hex("p q r s t u v w")))) // untouched
  }

  test("bloom decontamination screen: upper bound — no false negatives") {
    // doc 0 is the eval side (0 % 97 == 0); doc 1 shares its first two
    // word-3-gram shingles with eval, doc 2 shares none
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "alpha beta gamma delta unique1 unique2"),
      (2L, "totally different words here nothing shared"))
      .toDF("doc_id", "text")
    val r = Dedup.decontaminateBloom(docs).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    assert(r.keySet == Set(1L, 2L))
    // doc 1 has 4 shingles, of which "alpha beta gamma" and
    // "beta gamma delta" ARE in the eval universe — the bloom screen can
    // only over-report (deterministic false positives), never miss them
    assert(r(1L)._1 == 4L && r(1L)._2 >= 2L)
    r.values.foreach { case (n, hits, frac) =>
      assert(hits >= 0L && hits <= n && frac >= 0.0 && frac <= 1.0)
    }
  }

  test("pii scrub: every class detected, redaction is byte-exact") {
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Seq((100L, "plain body")).toDF("doc_id", "text")
    val r = TextOps.piiRedact(docs).collect()(0)
    // augmentation for doc 100: user100@mail2.example.org,
    // 555-100-0100, 10.100.188.20 (7·100%256=188, 13·100%256=20)
    assert(r.getLong(1) == 1L && r.getLong(2) == 1L && r.getLong(3) == 1L)
    val expected = md5hex(
      "plain body contact <EMAIL> call <PHONE> from <IP>")
    assert(r.getString(4) == expected,
      "redacted fingerprint must equal the hand-redacted text's md5")
  }

  test("pii scrub: pre-existing PII in the body is caught too") {
    val docs = Seq((1L, "mail a.b@x.io or 192.168.001.001 now")).toDF("doc_id", "text")
    val r = TextOps.piiRedact(docs).collect()(0)
    assert(r.getLong(1) == 2L, "body email + seeded email")
    assert(r.getLong(3) == 2L, "body ip + seeded ip")
  }

  test("stratified sample: k hash-smallest per language, partition-invariant") {
    val docs = (0L until 400L).map(i => (i, s"doc $i", if (i % 4 == 0) "en" else s"l${i % 3}"))
      .toDF("doc_id", "text", "lang")
    val k = 7
    val got = Sampling.stratified(docs, k).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.groupBy(_._2).forall(_._2.length == k), "k rows per stratum")
    // brute force: global sort by (h, doc_id) per lang
    val brute = Sampling.stratified(docs.repartition(13), k).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.sortBy(x => (x._2, x._4)).toSeq == brute.sortBy(x => (x._2, x._4)).toSeq,
      "member set must not depend on the input partitioning")
  }

  test("weighted sampling: heavy docs overrepresented, partition-invariant") {
    // 500 docs of weight ~1 and 50 of weight ~10000: the top-100 sample
    // should be dominated by the heavy docs (P(light in top-k) tiny)
    val docs = ((0L until 500L).map(i => (i, "en", 1L)) ++
      (500L until 550L).map(i => (i, "de", 10000L)))
      .toDF("doc_id", "lang", "n_chars")
    val r = Sampling.weighted(docs, k = 60).collect()
    assert(r.length == 60)
    val heavy = r.count(_.getLong(2) == 10001L)
    assert(heavy == 50, s"all 50 heavy docs must be drawn (got $heavy)")
    // ranks are 1..k and keys non-increasing
    assert(r.map(_.getLong(4)).sorted.toSeq == (1L to 60L).toSeq)
    val keys = r.sortBy(_.getLong(4)).map(_.getDouble(3)).toSeq
    assert(keys == keys.sorted.reverse, "keys must be non-increasing in rank")
    val rep = Sampling.weighted(docs.repartition(17), k = 60).collect()
      .map(x => (x.getLong(0), x.getLong(4))).sortBy(_._2).toSeq
    assert(rep == r.map(x => (x.getLong(0), x.getLong(4))).sortBy(_._2).toSeq,
      "sample must not depend on input partitioning")
  }

  test("fuzzy pairs: within-block near names match, cross-block never") {
    val parts = Seq("hot rod", "hot rodz", "red gear", "rex gear", "blue gear")
      .zipWithIndex.map { case (n, i) => (i.toLong, n) }.toDF("p_partkey", "p_name")
    val r = TextOps.fuzzyPairs(parts, "p_name").collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2))).toSet
    assert(r.contains(("red gear", "rex gear", 1L)))
    // lev("blue gear", "red gear") = 4 > maxDist — same block, filtered out
    assert(!r.exists(p => p._1 == "blue gear" && p._2 == "red gear"))
    // "hot rod" vs "hot rodz" differ by one insert; blocks differ
    // ("rod" vs "rodz") so the blocked join must NOT pair them
    assert(!r.exists(p => p._1 == "hot rod" && p._2 == "hot rodz"))
    // nothing pairs across gear/rod blocks
    assert(r.forall(p => p._1.split(" ").last == p._2.split(" ").last))
  }

  test("stats outputs are bit-identical across shuffle partitionings (fpSum contract)") {
    val li = graft.sources.Tables.read(spark, sf("sf0.001"), "lineitem")
    val runs = Seq(1, 4, 13).map { p =>
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", p.toString)
      try {
        val c = Stats.corr(li.repartition(p), "l_returnflag",
          "l_quantity", "(l_extendedprice / 1024e0)").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
        val t = Stats.welchT(li.repartition(p), "l_returnflag", "l_discount")
          .collect().map(r => (r.getString(0), r.getDouble(3), r.getDouble(5)))
          .sortBy(_._1).toSeq
        (c, t)
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    assert(runs.distinct.size == 1,
      "moment-sum statistics must not depend on partitioning")
  }

  test("pagerank: ring is uniform, star centre dominates, ranks sum to ~1") {
    // 4-cycle of co-purchases: a-b, b-c, c-d, d-a → perfectly symmetric,
    // every node deg 2 → uniform rank 1/4
    val ring = Seq((1L, 10L), (1L, 11L), (2L, 11L), (2L, 12L),
      (3L, 12L), (3L, 13L), (4L, 13L), (4L, 10L))
      .toDF("l_orderkey", "l_partkey")
    val rr = Graph.pageRank(ring, iters = 5, topK = 10).collect()
    assert(rr.length == 4 && rr.forall(x => math.abs(x.getDouble(2) - 0.25) < 1e-6))
    // star: centre 100 co-purchased with 6 leaves (leaves only know the
    // centre) → centre's rank strictly dominates
    val star = (0 until 6).flatMap(i =>
      Seq((i.toLong, 100L), (i.toLong, 200L + i)))
      .toDF("l_orderkey", "l_partkey")
    val rs = Graph.pageRank(star, iters = 5, topK = 10).collect()
    assert(rs.head.getLong(0) == 100L, "centre must rank first")
    assert(rs.head.getDouble(2) > 2 * rs(1).getDouble(2))
    val total = rs.map(_.getDouble(2)).sum
    assert(math.abs(total - 1.0) < 1e-3, s"ranks ≈ a distribution (got $total)")
  }

  test("temperature resampling: low-resource langs upweighted, rates sane") {
    val docs = ((0L until 900L).map(i => (i, "t", "big")) ++
      (900L until 1000L).map(i => (i, "t", "small")))
      .toDF("doc_id", "text", "lang")
    val r = Sampling.temperature(docs, frac = 0.5).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getDouble(2), x.getLong(3)))).toMap
    val (nBig, rateBig, keptBig) = r("big")
    val (nSmall, rateSmall, keptSmall) = r("small")
    assert(nBig == 900L && nSmall == 100L)
    assert(rateSmall > rateBig, "α=1/2 must upweight the small language")
    assert(rateBig > 0.0 && rateSmall <= 1.0)
    assert(keptBig <= nBig && keptSmall <= nSmall)
    // expected keeps ≈ rate·n: the hash threshold is uniform enough that
    // the realized count lands within ±30% of the target
    assert(math.abs(keptBig - rateBig * nBig) < 0.3 * rateBig * nBig)
  }

  test("histogram quantiles: estimates within one bin width of the truth") {
    val vals = (0 until 1000).map(i => Tuple1(i.toDouble)).toDF("v")
    val r = Quantiles.hist(vals, "v", bins = 64).collect()
      .map(x => x.getLong(0) -> x.getDouble(3)).toMap
    val width = 999.0 / 64
    for ((p, est) <- r) {
      val truth = p / 100.0 * 999.0
      assert(math.abs(est - truth) <= width + 1e-6,
        s"p=$p est=$est truth=$truth width=$width")
    }
    // constant column: no division by zero, bin 0, estimate = the value
    val const = Seq.fill(10)(Tuple1(42.0)).toDF("v")
    val c = Quantiles.hist(const, "v").collect()
    assert(c.forall(x => x.getLong(1) == 0L && x.getDouble(3) == 42.0))
  }

  test("stats: corr/ols recover a perfect linear relation") {
    val df = (1 to 100).map(i => ("g", i.toDouble, 3.0 * i + 7.0))
      .toDF("grp", "x", "y")
    val c = Stats.corr(df, "grp", "x", "y").collect()(0)
    assert(c.getLong(1) == 100L && math.abs(c.getDouble(2) - 1.0) < 1e-5)
    val o = Stats.ols(df, "grp", "x", "y").collect()(0)
    assert(math.abs(o.getDouble(2) - 3.0) < 1e-4, s"slope ${o.getDouble(2)}")
    assert(math.abs(o.getDouble(3) - 7.0) < 1e-2, s"icept ${o.getDouble(3)}")
    assert(math.abs(o.getDouble(4) - 1.0) < 1e-5, s"r2 ${o.getDouble(4)}")
    // constant x: guarded NULL, not IEEE noise
    val const = (1 to 10).map(i => ("g", 5.0, i.toDouble)).toDF("grp", "x", "y")
    assert(Stats.corr(const, "grp", "x", "y").collect()(0).isNullAt(2))
  }

  test("stats: welch t separates shifted groups, p near zero") {
    val df = ((1 to 900).map(i => ("big", 10.0 + i % 3)) ++
      (1 to 100).map(i => ("small", 20.0 + i % 3))).toDF("grp", "x")
    val r = Stats.welchT(df, "grp", "x").collect()
      .map(x => x.getString(0) -> x).toMap
    val tSmall = r("small").getDouble(3)
    assert(tSmall > 50.0, s"small group mean is 10 higher; t=$tSmall")
    assert(r("small").getDouble(5) == 0.0, "p underflows to exactly 0")
    assert(r("small").getLong(1) == 100L && r("small").getLong(2) == 900L)
  }

  test("stats: chi-square near-null for independent, huge for dependent") {
    val indep = (0 until 300).map(i => (s"a${i % 2}", s"b${i / 2 % 2}"))
      .toDF("u", "v")
    val ri = Stats.chisq(indep, "u", "v").collect()(0)
    assert(ri.getDouble(2) == 0.0 && ri.getDouble(4) > 0.9,
      s"balanced table: chi2=${ri.getDouble(2)} p=${ri.getDouble(4)}")
    val dep = (0 until 300).map(i => (s"a${i % 3}", s"b${i % 3}")).toDF("u", "v")
    val rd = Stats.chisq(dep, "u", "v").collect()(0)
    assert(rd.getDouble(2) > 100.0 && rd.getDouble(4) < 1e-6,
      s"diagonal table: chi2=${rd.getDouble(2)} p=${rd.getDouble(4)}")
  }

  test("l2 normalize: unit output norms, zero vectors excluded") {
    val emb = Seq(
      (0L, Array.tabulate(64)(i => (i + 1) * 0.25f), 0L),
      (1L, Array.fill(64)(0.0f), 0L)).toDF("vec_id", "embedding", "label")
    val r = Similarity.l2Normalize(emb)
    assert(r.filter($"vec_id" === 1L).count() == 0) // no direction to keep
    assert(r.filter($"vec_id" === 0L).count() == 64)
    val s = r.groupBy("vec_id").agg(sum($"nv" * $"nv").as("s")).collect()
    s.foreach(x => assert(math.abs(x.getDouble(1) - 1.0) < 1e-12))
  }

  test("scd2: runs collapse to versions, intervals abut, one current row per key") {
    // user 1: tiers 1,1,2,2,1 -> versions (1,t0)(2,t2)(3,t4); user 2: constant
    val ns = (i: Int) => i * 1000000000L
    val ev = Seq(
      (1L, ns(0), 10L, "purchase", 25.0), (1L, ns(1), 11L, "purchase", 30.0),
      (1L, ns(2), 12L, "purchase", 45.0), (1L, ns(3), 13L, "purchase", 55.0),
      (1L, ns(4), 14L, "purchase", 20.0), (2L, ns(0), 20L, "purchase", 5.0),
      (2L, ns(9), 21L, "purchase", 15.0), (1L, ns(5), 15L, "click", 99.0))
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    val r = EventOps.scd2(ev).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3),
        if (x.isNullAt(4)) -1L else x.getLong(4), x.getBoolean(5)))
    val u1 = r.filter(_._1 == 1L).sortBy(_._2)
    assert(u1.toSeq == Seq(
      (1L, 1L, 1L, ns(0), ns(2), false),
      (1L, 2L, 2L, ns(2), ns(4), false),
      (1L, 3L, 1L, ns(4), -1L, true)))
    val u2 = r.filter(_._1 == 2L)
    assert(u2.length == 1 && u2.head._6) // constant tier -> single open version
    assert(r.count(_._6) == 2) // exactly one current row per key
  }

  test("gapfill: holes interpolate linearly, observed hours pass through") {
    val h = 3600000000000L
    val ev = Seq(
      (1L, 0 * h, 1L, "click", 10.0), (1L, 3 * h, 2L, "click", 40.0),
      (1L, 4 * h, 3L, "click", 8.0), (2L, 0 * h, 4L, "click", 7.0))
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    val r = EventOps.gapfill(ev).collect()
      .map(x => ((x.getLong(0), x.getLong(1)), (x.getDouble(2), x.getString(3))))
      .toMap
    assert(r(1L -> 0L) == (10.0 -> "obs") && r(1L -> 3L) == (40.0 -> "obs"))
    assert(r(1L -> 1L) == (20.0 -> "interp")) // 10 + (40-10)*1/3
    assert(r(1L -> 2L) == (30.0 -> "interp"))
    assert(r(2L -> 0L) == (7.0 -> "obs") && r.size == 6)
  }

  test("gapfill: span cap bounds the densified output per key") {
    val h = 3600000000000L
    val ev = Seq((1L, 0 * h, 1L, "click", 1.0), (1L, 5000 * h, 2L, "click", 2.0))
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    // the only in-cap observation is hour 0, so the clamped axis is a
    // single bracketed row — NOT 240 rows of unbracketed NULL 'interp'
    val r = EventOps.gapfill(ev, capHours = 240).collect()
    assert(r.length == 1 && r.head.getLong(1) == 0L
      && r.head.getString(3) == "obs")
    // a cap window that DOES contain a later observation densifies up to
    // that observation, every row non-null
    val r2 = EventOps.gapfill(ev, capHours = 6000).collect()
    assert(r2.length == 5001 && r2.forall(!_.isNullAt(2)))
  }

  test("skew join: planted 90% hot key — salted result row-identical to plain join") {
    import spark.implicits._
    // 90 rows on key 7 (hot), 1-2 rows on keys 0..6 (cold); mean ≈ 9.6,
    // hotRatio=2 flags ONLY key 7
    val fact = ((0 until 90).map(i => (7L, i.toLong)) ++
      (0L until 7L).flatMap(k => Seq((k, 100 + k), (k, 200 + k))))
      .toDF("k", "payload")
    // dim has 2 rows for the hot key (fan-out through replication must
    // still be exact), 1 for colds, plus a key absent from fact
    val dim = (Seq((7L, "h1"), (7L, "h2"), (99L, "orphan")) ++
      (0L until 7L).map(k => (k, s"d$k"))).toDF("k", "tag")
    val got = graft.operators.SkewJoin.skewJoin(fact, dim, "k", nSalt = 5, hotRatio = 2)
      .select("k", "payload", "tag").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    val want = fact.join(dim, "k")
      .select("k", "payload", "tag").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    assert(got.length == 90 * 2 + 14 && got.toSeq == want.toSeq)
  }

  test("skew join: uniform keys flag nothing and still join exactly") {
    import spark.implicits._
    val fact = (0L until 40L).map(i => (i % 8, i)).toDF("k", "payload")
    val dim = (0L until 8L).map(k => (k, s"d$k")).toDF("k", "tag")
    val got = graft.operators.SkewJoin.skewJoin(fact, dim, "k", nSalt = 4, hotRatio = 3)
      .select("k", "payload", "tag").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    val want = fact.join(dim, "k").select("k", "payload", "tag").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    assert(got.length == 40 && got.toSeq == want.toSeq)
  }

  test("skew join: broadcast cap 0 forces the shuffle-flag fallback, rows identical") {
    import spark.implicits._
    val fact = ((0 until 90).map(i => (7L, i.toLong)) ++
      (0L until 7L).flatMap(k => Seq((k, 100 + k), (k, 200 + k))))
      .toDF("k", "payload")
    val dim = (Seq((7L, "h1"), (7L, "h2")) ++
      (0L until 7L).map(k => (k, s"d$k"))).toDF("k", "tag")
    // maxBroadcastKeys=0: n_keys/hotRatio (=4) exceeds it, so both flag
    // joins must plan WITHOUT the broadcast hint (adversarial-hot-set
    // degradation path) and still join exactly
    val df = graft.operators.SkewJoin.skewJoin(fact, dim, "k",
      nSalt = 5, hotRatio = 2, maxBroadcastKeys = 0L)
    val got = df.select("k", "payload", "tag").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    val want = fact.join(dim, "k").select("k", "payload", "tag").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    assert(got.toSeq == want.toSeq)
  }

  test("phrase search: corpus with no 3-token document returns empty, not an exception") {
    val docs = Seq(
      (0L, "alpha beta", "en", "s", 1L),
      (1L, "solo", "en", "s", 1L),
      (2L, "", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextOps.phraseSearch(docs)
    assert(r.columns.toSeq == Seq("doc_id", "n_hits", "first_pos"))
    assert(r.count() == 0L)
  }

  test("phrase search: finds the dominant trigram with positions, not substrings") {
    val docs = Seq(
      (0L, "alpha beta gamma x alpha beta gamma", "en", "s", 1L),
      (1L, "alpha beta gamma", "en", "s", 1L),
      (2L, "beta gamma alpha", "en", "s", 1L), // rotated - no phrase match
      (3L, "alphabeta gammax", "en", "s", 1L), // concatenation is not a phrase
      (4L, "zz alpha beta gamma zz", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextOps.phraseSearch(docs).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).sortBy(_._1)
    assert(r.toSeq == Seq((0L, 2L, 0L), (1L, 1L, 0L), (4L, 1L, 1L)))
  }

  test("skew profile: planted hot key reads exact max/p99/ratio") {
    // 99 keys x1 row, 1 key x101 rows: n_keys=100, n_rows=200, max=101,
    // p99 = smallest c with cum>=99 -> 1, mean=2, ratio=50.5
    val li = ((1 to 99).map(k => Seq(k.toLong)) :+ Seq.fill(101)(1000L))
      .flatten.zipWithIndex
      .map { case (k, i) => (i.toLong, k, 1L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
        java.sql.Timestamp.valueOf("1995-01-01 00:00:00")) }
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
    val tmp = graft.Scratch.dir("graft_skewspec_")
    li.write.mode("overwrite").parquet(tmp + "/lineitem.parquet")
    val r = SparkEntry.queries("q_skew_profile")(spark, tmp).head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getDouble(4), r.getDouble(5)) == ((100L, 200L, 101L, 1L, 2.0, 50.5)))
  }

  test("gini: equal masses read 0 exactly; one-user concentration approaches 1") {
    def ev(vals: Seq[Double]) = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong, i * 1000L, i.toLong, "click", v)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val eq = Stats.gini(ev(Seq.fill(10)(7.0))).head
    assert(eq.getDouble(2) == 0.0) // perfectly equal -> exactly 0
    val conc = Stats.gini(ev(Seq.fill(9)(0.0) :+ 900.0)).head
    // one user holds everything: G = (n-1)/n = 0.9 exactly
    assert(conc.getDouble(2) == 0.9, s"gini=${conc.getDouble(2)}")
  }

  test("mad: estimates sit within a bin width; outliers barely move it") {
    val base = (1 to 1000).map(_.toDouble)
    val clean = base.toDF("v")
    val r1 = Quantiles.mad(clean, "v").head
    // true median 500.5, true mad 250 — histogram error <= 1 bin width
    val bw = 1000.0 / 64
    assert(math.abs(r1.getDouble(0) - 500.5) <= bw, s"med=${r1.getDouble(0)}")
    assert(math.abs(r1.getDouble(1) - 250.0) <= 2 * bw, s"mad=${r1.getDouble(1)}")
    // a 5% outlier mass doubles the range (equi-width bins cap how far
    // the range may stretch — the documented histogram caveat) but
    // leaves MAD near the clean value where stddev would jump ~60%
    val dirty = (base ++ Seq.fill(50)(2000.0)).toDF("v")
    val r2 = Quantiles.mad(dirty, "v").head
    assert(math.abs(r2.getDouble(1) - 250.0) <= 4 * (2000.0 / 64),
      s"mad must stay robust: ${r2.getDouble(1)} vs ${r1.getDouble(1)}")
  }

  test("cumulative users: the running total ends at the distinct-user count") {
    val day = 86400000000000L
    val ev = Seq((1L, 0L), (2L, 0L), (1L, 1L), (3L, 1L), (3L, 2L))
      .zipWithIndex.map { case ((u, d), i) => (i.toLong, d * day, u, "click", 1.0) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val tmp = graft.Scratch.dir("graft_cuspec_")
    ev.write.mode("overwrite").parquet(tmp + "/events.parquet")
    val r = SparkEntry.queries("q_cumulative_users")(spark, tmp)
      .orderBy("d").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.toSeq == Seq((0L, 2L, 2L, 2L), (1L, 2L, 1L, 3L), (2L, 1L, 0L, 3L)))
  }

  test("rfm: quintile buckets partition users evenly on a uniform metric") {
    // q_rfm's grid-quantile rule: bucket = floor(5 * users_below / n) + 1
    // -> 20 users with distinct metrics land exactly 4 per quintile
    val ev = (1L to 20L).flatMap(u => (1L to u).map(i =>
        (u * 100 + i, u * 1000000L + i, u, "click", u.toDouble)))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val tmp = graft.Scratch.dir("graft_rfmspec_")
    ev.write.mode("overwrite").parquet(tmp + "/events.parquet")
    val r = SparkEntry.queries("q_rfm")(spark, tmp)
    // frequency is u (distinct per user) -> each q_f bucket holds 4 users
    val byF = r.groupBy("q_f").agg(sum("n_users").as("n")).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(byF == Map(1L -> 4L, 2L -> 4L, 3L -> 4L, 4L -> 4L, 5L -> 4L), s"$byF")
  }

  test("gaps and islands: consecutive active hours coalesce into maximal runs") {
    val h = 3600000000000L
    val ev = Seq(1L, 2L, 3L, 7L, 8L, 20L).zipWithIndex.map { case (hr, i) =>
      (i.toLong, hr * h, 9L, "click", 1.0)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = SparkEntry.queries("q_islands")(spark, sf("sf0.001"))
    // registered query runs on real data; assert the operator shape on
    // the planted frame through the same spelling
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("h")
    val islands = ev.select($"user_id", expr("ts div 3600000000000").as("h")).distinct()
      .withColumn("grpk", $"h" - dense_rank().over(w).cast("long"))
      .groupBy("user_id", "grpk")
      .agg(min("h").as("s"), max("h").as("e"), count(lit(1)).as("n"))
      .collect().map(x => (x.getLong(2), x.getLong(3), x.getLong(4))).toSet
    assert(islands == Set((1L, 3L, 3L), (7L, 8L, 2L), (20L, 20L, 1L)))
    assert(r.count() > 0)
  }

  test("vocab coverage: hand corpus ranks by freq desc then word asc, exact cumulative mass") {
    // freqs: aa x4, bb x3, cc x3, dd x1  (bb before cc within the tie)
    val docs = Seq((1L, "aa aa bb cc dd", "en", "s", 1L),
        (2L, "aa bb cc aa bb cc", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextOps.vocabCoverage(docs, ks = Seq(1, 2, 3, 100)).collect()
      .map(x => (x.getLong(0), (x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4)))).toMap
    assert(r(1L) == ((1L, 4L, 4L, 11L)))   // top-1 = aa: 4 of 11 tokens
    assert(r(2L) == ((2L, 4L, 7L, 11L)))   // + bb (tie broken before cc)
    assert(r(3L) == ((3L, 4L, 10L, 11L)))  // + cc
    assert(r(100L) == ((4L, 4L, 11L, 11L))) // k past vocab clamps to full
  }

  test("transitions: deterministic chain yields exact probabilities; rows sum to 1 per source") {
    // user 1 path: a b a b a  -> a->b x2, b->a x2; user 2: a a -> a->a x1
    val ev = Seq((1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "a"), (1L, 4L, "b"),
        (1L, 5L, "a"), (2L, 1L, "a"), (2L, 2L, "a"))
      .zipWithIndex.map { case ((u, t, ty), i) => (i.toLong, t * 1000L, u, ty, 0.0) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = EventOps.transitions(ev).collect()
      .map(x => ((x.getString(0), x.getString(1)), (x.getLong(2), x.getDouble(3)))).toMap
    assert(r(("a", "b")) == ((2L, 2.0 / 3.0)))
    assert(r(("a", "a")) == ((1L, 1.0 / 3.0)))
    assert(r(("b", "a")) == ((2L, 1.0)))
    val bySrc = r.toSeq.groupBy(_._1._1).view.mapValues(_.map(_._2._2).sum)
    bySrc.foreach { case (_, s) => assert(math.abs(s - 1.0) < 1e-12) }
  }

  test("langmix: a code-switching document reports its majority line language") {
    // profiles: langIdSelects scores against per-language stopword lists;
    // build lines from the en/de profile words so langid is decisive
    val en = "the and of to in is was for on with"
    val de = "der die und das ist von mit den des ein"
    val docs = Seq(
      (1L, s"$en $en $de", "en", "s", 1L), // 2 en lines, 1 de line
      (2L, s"$de $de $de", "de", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextOps.langMix(docs).collect()
      .map(x => (x.getLong(0), (x.getLong(2), x.getString(3), x.getLong(4),
        x.getBoolean(6)))).toMap
    assert(r(1L) == ((3L, "en", 2L, true)), s"got ${r(1L)}")
    assert(r(2L) == ((3L, "de", 3L, true)), s"got ${r(2L)}")
  }

  test("golden record: near-name cluster survives as one row with field-level rules") {
    // fuzzy blocking keys on the LAST token — variants differ mid-name
    val part = Seq(
      (10L, "azure steel widget", "B1", "T", 5, 100.0),
      (11L, "azuree steel widget", "B1", "T", 5, 150.0), // near-dup, pricier
      (12L, "azur steel widget", "B1", "T", 5, 120.0),   // near-dup, shorter
      (50L, "crimson brass gadget", "B2", "T", 7, 80.0)) // singleton
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
    val pairs = TextOps.fuzzyPairs(part, "p_name")
    assert(pairs.count() >= 2) // the three near names pair up within the block
    val ids = part.groupBy($"p_name".as("name")).agg(min("p_partkey").as("nid"))
    val e = pairs
      .join(ids.select($"name".as("name_a"), $"nid".as("doc_a")), "name_a")
      .join(ids.select($"name".as("name_b"), $"nid".as("doc_b")), "name_b")
      .select("doc_a", "doc_b")
    val clusters = Dedup.clusterLabels(e)
    val golden = part.join(ids, $"p_name" === $"name")
      .join(clusters, $"nid" === $"doc_id", "left")
      .withColumn("cluster", coalesce($"cluster_id", $"nid"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"), min("p_partkey").as("golden_key"),
        expr("max(struct(length(p_name) as l, p_name as nm)).nm").as("name"),
        max("p_retailprice").as("max_price"))
      .collect().map(x => (x.getLong(0),
        (x.getLong(1), x.getLong(2), x.getString(3), x.getDouble(4)))).toMap
    assert(golden(10L) == ((3L, 10L, "azuree steel widget", 150.0)))
    assert(golden(50L) == ((1L, 50L, "crimson brass gadget", 80.0)))
  }

  test("mutual info: independent columns read 0 exactly, determined columns read H(A)=ln 2") {
    def ev(dependent: Boolean) = (0L until 400L).map { i =>
      val t = if (i % 2 == 0) "a" else "b"
      // dependent: tier follows type; independent: tier alternates at a
      // coprime stride so the 2x2 cells are exactly balanced
      val v = if (dependent) (if (t == "a") 10.0 else 30.0)
              else (if ((i / 2) % 2 == 0) 10.0 else 30.0)
      (i, i * 1000L, 1L, t, v)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val ind = Stats.mutualInfo(ev(dependent = false)).head.getDouble(2)
    assert(ind == 0.0, s"independent mi=$ind") // ratio 1 -> ln units 0 exactly
    val dep = Stats.mutualInfo(ev(dependent = true)).head.getDouble(2)
    assert(math.abs(dep - math.log(2.0)) < 1e-6, s"dependent mi=$dep")
  }

  test("acf: a period-2 series reads -1/+1/-1 at lags 1/2/3 exactly") {
    val h = 3600000000000L
    val ev = (0L until 48L).map(t =>
        (t, t * h, 1L, "click", if (t % 2 == 0) 10.0 else 20.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Stats.acf(ev).collect()
      .map(x => (x.getLong(0), x.getDouble(2))).toMap
    assert(r == Map(1L -> -1.0, 2L -> 1.0, 3L -> -1.0), s"acf=$r")
  }

  test("ks: identical samples read d=0 p=1; disjoint supports read d=1 p~0") {
    def ev(shift: Double) = (1L to 200L).flatMap(i => Seq(
        (i, i * 1000L, 1L, "click", (i % 50) * 1.0),
        (500L + i, i * 1000L, 2L, "view", (i % 50) * 1.0 + shift)))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val same = Stats.ks(ev(0.0)).head
    assert(same.getLong(0) == 200L && same.getLong(1) == 200L)
    assert(same.getDouble(2) == 0.0 && same.getDouble(3) == 1.0)
    val far = Stats.ks(ev(1000.0)).head
    assert(far.getDouble(2) == 1.0 && far.getDouble(3) < 1e-9,
      s"d=${far.getDouble(2)} p=${far.getDouble(3)}")
  }

  test("multi-probe lsh: pair set is a superset of single-bucket pairs, hamming <= 1") {
    val emb = graft.sources.Tables.read(spark, sf("sf0.01"), "embeddings")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val single = pairs(Similarity.nearDupPairs(emb, threshold = 0.35))
    val probe = pairs(Similarity.nearDupPairsProbe(emb))
    assert(single.subsetOf(probe) && probe.nonEmpty,
      s"probe (${probe.size}) must contain single-bucket (${single.size})")
    // every recovered pair's signatures differ in at most one bit
    val bkt = Similarity.lshBuckets(emb).select("vec_id", "bucket")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    probe.foreach { case (a, b) =>
      assert(java.lang.Long.bitCount(bkt(a) ^ bkt(b)) <= 1)
    }
  }

  test("pca whitening: components come out unit-variance on full-rank data") {
    val w = Pca.whiten(graft.sources.Tables.read(spark, sf("sf0.001"), "embeddings"))
    val r = w.agg(var_pop($"w1").as("v1"), var_pop($"w2").as("v2")).head
    // population variance of the 1/sqrt(lambda)-scaled projection is 1
    // exactly up to power-iteration convergence
    assert(math.abs(r.getDouble(0) - 1.0) < 0.02, s"var(w1)=${r.getDouble(0)}")
    assert(math.abs(r.getDouble(1) - 1.0) < 0.02, s"var(w2)=${r.getDouble(1)}")
  }

  test("winnow decontamination: a verbatim quote inside a long doc is flagged; unrelated text is not") {
    val answer = "the secret benchmark answer is forty two exactly"
    def doc(id: Long, text: String) = (id, text, "en", "s", text.length.toLong)
    val docs = Seq(
      doc(0L, answer), // id % 97 == 0 -> the eval doc
      doc(1L, s"lots of surrounding prose first $answer and then much more prose after"),
      doc(2L, "completely different content that shares nothing with it"),
      // single-char edit of the quote: most winnow fps still match
      doc(3L, s"prefix ${answer.replace("forty", "fortx")} suffix"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Dedup.decontaminateWinnow(docs).collect()
      .map(x => (x.getLong(0), (x.getLong(1), x.getDouble(3)))).toMap
    assert(r.contains(1L) && r(1L)._1 == 0L && r(1L)._2 > 0.5,
      s"verbatim quote must contain most eval fps: $r")
    assert(!r.contains(2L), s"unrelated doc flagged: $r")
    assert(r.contains(3L) && r(3L)._1 == 0L,
      s"edited quote must still match on surviving fps: $r")
  }

  test("audio features: hand-built PCM reads exact energy and crossings") {
    // samples 100, -200, 300, 0, -50: energy = 10000+40000+90000+0+2500;
    // crossings at strict sign products: (100,-200),(−200,300),(300·0=0 no),
    // (0·−50=0 no) -> 2
    val bb = java.nio.ByteBuffer.allocate(10)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Seq(100, -200, 300, 0, -50).foreach(s => bb.putShort(s.toShort))
    val assets = spark.createDataset(Seq(Multimodal.Asset(7L, bb.array())))(
      org.apache.spark.sql.Encoders.product[Multimodal.Asset])
    val r = Multimodal.audioFeatures(spark, assets).head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((7L, 5L, 142500L, 2L)))
  }

  test("image quality: flat raster has zero edge energy, hard stripes max it") {
    def png(w: Int, h: Int, f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, f(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val flat = png(6, 4, (_, _) => 0x646464)       // gray 100 everywhere
    val stripe = png(6, 4, (x, _) => if (x % 2 == 0) 0x000000 else 0xffffff)
    val assets = spark.createDataset(Seq(
      Multimodal.Asset(1L, flat), Multimodal.Asset(2L, stripe)))(
      org.apache.spark.sql.Encoders.product[Multimodal.Asset])
    val r = Multimodal.imageQuality(spark, assets).collect()
      .map(x => (x.getLong(0), (x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r(1L) == ((24L, 2400L, 0L)))            // 6*4 px, gray 100, no edges
    // stripes: gray alternates 0/255 -> 5 transitions x 4 rows x 255
    assert(r(2L) == ((24L, 12L * 255L, 5L * 4L * 255L)))
  }

  test("hll merge identity: per-source sketches combine to the single-sketch result") {
    val docs = graft.sources.Tables.read(spark, sf("sf0.001"), "documents")
    val merged = Hll.hllMerged(docs).head
    val direct = Hll.hllMerged(docs.withColumn("source", lit("one"))).head
    assert(merged == direct) // max-of-maxes == max, estimate bit-equal
    val (n, est) = (merged.getLong(0), merged.getDouble(2))
    assert(math.abs(est - n) / n < 0.1, s"hll est $est vs exact $n")
  }

  test("skyline: hand-built Pareto front; two-phase pruning equals the direct pass") {
    import org.apache.spark.sql.expressions.Window
    val pts = Seq(("A", 1.0, 5.0), ("A", 2.0, 3.0), ("A", 3.0, 4.0),
        ("A", 2.0, 5.0), ("A", 4.0, 1.0), ("B", 7.0, 7.0))
      .toDF("flag", "price", "qty")
    def direct(df: org.apache.spark.sql.DataFrame) = {
      val w = Window.partitionBy("flag").orderBy($"price".asc, $"qty".asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      df.distinct().withColumn("pm", min("qty").over(w))
        .filter($"pm".isNull || $"pm" > $"qty").select("flag", "price", "qty")
    }
    val r = direct(pts).collect()
      .map(x => (x.getString(0), x.getDouble(1), x.getDouble(2))).toSet
    assert(r == Set(("A", 1.0, 5.0), ("A", 2.0, 3.0), ("A", 4.0, 1.0), ("B", 7.0, 7.0)))
    // the registered two-phase plan must equal the direct single pass
    val li = graft.sources.Tables.read(spark, sf("sf0.001"), "lineitem")
      .select($"l_returnflag".as("flag"), $"l_extendedprice".as("price"),
        $"l_quantity".as("qty"))
    val twoPhase = SparkEntry.queries("q_skyline")(spark, sf("sf0.001")).collect()
      .map(x => (x.getString(0), x.getDouble(1), x.getDouble(2))).toSet
    val single = direct(li).collect()
      .map(x => (x.getString(0), x.getDouble(1), x.getDouble(2))).toSet
    assert(twoPhase == single && twoPhase.nonEmpty)
  }

  test("bitmap conjunction equals the direct count across word boundaries") {
    // 130 locators span three 64-bit words; types/tiers interleave so
    // every word carries bits of several cells
    val ev = (0L until 130L).map(i => (i, i * 1000L, i % 5,
        if (i % 2 == 0) "a" else "b", (i % 3) * 30.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val direct = ev.selectExpr("event_type", "cast(floor(value/25e0) as bigint) as tier")
      .groupBy("event_type", "tier").count()
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    val bm = EventOps.bitmapConjunction(ev)
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    assert(bm == direct && bm.nonEmpty)
  }

  test("sq8 adc: high recall vs the exact dot ranking; zero vectors excluded") {
    import org.apache.spark.sql.expressions.Window
    val emb = graft.sources.Tables.read(spark, sf("sf0.001"), "embeddings")
    val sq = Similarity.sqAdcTopK(emb).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    // exact ranking on the raw floats through the identical plan shape
    val d = emb.select($"vec_id",
      expr("transform(embedding, v -> cast(v as double))").as("deq"))
      .filter(expr("array_max(transform(deq, x -> abs(x))) > 0e0"))
    val q = d.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("q_id"), $"deq".as("qd"))
    val c = d.select($"vec_id".as("n_id"), $"deq".as("cd"))
    val w = Window.partitionBy("q_id").orderBy($"score".desc, $"n_id".asc)
    val exact = q.join(c, $"q_id" =!= $"n_id")
      .withColumn("score", expr("chain_dot(qd, cd)"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 10)
      .select("q_id", "n_id")
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val recall = (sq & exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"sq8 recall vs exact = $recall")
    // the all-zero edge vector (if present) never appears on either side
    val zeroIds = emb.filter(expr("array_max(transform(embedding, x -> abs(cast(x as double)))) = 0e0"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(sq.forall { case (a, b) => !zeroIds(a) && !zeroIds(b) })
  }

  test("source boilerplate: a shared header strips in ITS source only") {
    val header = (1 to 10).map(i => s"h$i").mkString(" ")
    def body(d: Int) = (1 to 10).map(i => s"b${d}x$i").mkString(" ")
    val docs = ((1 to 4).map(d =>
      (d.toLong, s"$header ${body(d)}", "en", "siteA", 1L)) :+
      (5L, s"$header ${body(5)}", "en", "siteB", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Dedup.sourceBoilerplate(docs).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).sortBy(_._1)
    // siteA docs: header is template (4/4 docs); siteB sees it once -> kept
    assert(r.toSeq == Seq((1L, 2L, 1L), (2L, 2L, 1L), (3L, 2L, 1L),
      (4L, 2L, 1L), (5L, 2L, 0L)))
  }

  test("lr auc: separable corpus scores 1.0; an identical-text cross-class pair adds the tie half-credit") {
    def doc(id: Long, text: String, lang: String) = (id, text, lang, "s", 1L)
    val sep = ((0L until 10L).map(i => doc(i, "aaa aaa aaa", "en")) ++
      (10L until 20L).map(i => doc(i, "bbb bbb", "xx")))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r1 = Classifier.lrAuc(sep).head
    assert(r1.getLong(0) == 10L && r1.getLong(1) == 10L)
    assert(r1.getDouble(2) == 1.0)
    // add one en + one xx doc sharing the same text: their margins tie
    // exactly, worth 0.5 of a pair -> AUC = (10*11 + 10 + 0.5) / 121
    val tied = sep.unionByName(
      Seq(doc(20L, "ccc", "en"), doc(21L, "ccc", "xx"))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val r2 = Classifier.lrAuc(tied).head
    assert(approx(r2.getDouble(2), 120.5 / 121.0, 1e-9), s"auc=${r2.getDouble(2)}")
  }

  test("incremental hourly view equals the full recompute bit-for-bit") {
    val ev = (1L to 200L).map(i =>
      (i, i * 977L * 3600000000L, i % 7, if (i % 3 == 0) "click" else "view",
        i * 0.37))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val full = EventOps.hourly(ev).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val incr = EventOps.hourlyIncremental(ev).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(incr == full)
  }

  test("lpa: planted cliques each collapse to one community labeled by their min id") {
    val rows = (for { o <- 1 to 4; p <- Seq(1, 2, 3) } yield (o.toLong, p.toLong)) ++
      (for { o <- 5 to 8; p <- Seq(10, 11, 12) } yield (o.toLong, p.toLong))
    val li = rows.toDF("l_orderkey", "l_partkey")
    val r = Graph.labelCommunities(li).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(r == Set((1L, 3L), (10L, 3L)))
  }

  test("zorder: morton interleave is exact; z-sorted files cluster BOTH dims") {
    // 3 = 0b11 -> odd bits 0b1010; 5 = 0b101 -> even bits 0b10001; z = 27
    assert(spark.sql(s"select cast(${Zorder.morton("3", "5")} as bigint) as z")
      .head.getLong(0) == 27L)
    assert(spark.sql(s"select cast(${Zorder.morton("255", "255")} as bigint) as z")
      .head.getLong(0) == 65535L)
    val keyed = graft.sources.Tables.read(spark, sf("sf0.001"), "lineitem")
      .select("l_partkey", "l_suppkey")
      .crossJoin(broadcast(graft.sources.Tables.read(spark, sf("sf0.001"), "lineitem")
        .agg(max("l_partkey").as("pmax"), max("l_suppkey").as("smax"))))
      .withColumn("bx", expr(Zorder.bucket("l_partkey", "pmax")))
      .withColumn("by", expr(Zorder.bucket("l_suppkey", "smax")))
      .withColumn("z", expr(Zorder.morton("bx", "by")))
      .select("z", "bx", "by")
    def meanSpread(dir: String, c: String): Double = {
      val r = spark.read.parquet(dir)
        .groupBy(input_file_name()).agg((max(col(c)) - min(col(c))).as("s"))
        .agg(avg("s")).head.getDouble(0)
      r
    }
    val zDir = java.nio.file.Files.createTempDirectory("graft_zspec_").toString
    val xDir = java.nio.file.Files.createTempDirectory("graft_xspec_").toString
    keyed.repartitionByRange(8, $"z").sortWithinPartitions("z")
      .write.mode("overwrite").parquet(zDir)
    keyed.repartitionByRange(8, $"bx").sortWithinPartitions("bx")
      .write.mode("overwrite").parquet(xDir)
    // single-column sort leaves the second dim spanning its full range in
    // every file; the morton layout bounds both dims per file
    val (zBy, xBy) = (meanSpread(zDir, "by"), meanSpread(xDir, "by"))
    val (zBx, xBx) = (meanSpread(zDir, "bx"), meanSpread(xDir, "bx"))
    assert(zBy < 0.7 * xBy, s"z-layout by-spread $zBy !< 0.7 * $xBy")
    assert(zBx < 150, s"z-layout bx-spread $zBx not clustered") // 256 = unclustered
    assert(spark.read.parquet(zDir).count() == spark.read.parquet(xDir).count())
  }

  test("compaction collapses a fragmented table to the target file count, same rows") {
    val frag = java.nio.file.Files.createTempDirectory("graft_fragspec_").toString
    val compact = java.nio.file.Files.createTempDirectory("graft_compspec_").toString
    val src = graft.sources.Tables.read(spark, sf("sf0.001"), "lineitem")
      .select("l_orderkey", "l_quantity")
    src.repartition(32).write.mode("overwrite").parquet(frag)
    def parts(dir: String): Int =
      new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parts(frag) == 32)
    spark.read.parquet(frag).coalesce(4).write.mode("overwrite").parquet(compact)
    assert(parts(compact) == 4, s"expected 4 compacted files, got ${parts(compact)}")
    assert(spark.read.parquet(compact).count() == src.count())
  }

  test("winnow probe threshold: exact integer ceil where a double quotient rounds") {
    // 2^53 + 1 has no double: n / 2 read as a double rounds down to 2^52
    // and its ceil is one short of the exact 2^52 + 1
    val big = (1L << 53) + 1
    for ((num, den) <- Seq((1, 2), (3, 4), (2, 3)); n <- Seq(1L, 2L, 3L, 7L, 100L, big, big + 2)) {
      val exact = ((BigInt(n) * num + den - 1) / den).toLong
      val got = spark.range(1).selectExpr(s"cast($n as bigint) as n_fp")
        .selectExpr(Dedup.ceilFracSql("n_fp", num, den)).head().getLong(0)
      assert(got == exact, s"ceil($n * $num / $den): got $got, want $exact")
    }
  }

  test("repetition stats presize: 2n clamped to the HashMap range, never wrapped") {
    import graft.functions.RepetitionStats.capacityFor
    assert(capacityFor(0) == 16 && capacityFor(8) == 16 && capacityFor(1000) == 2000)
    assert(capacityFor(1 << 29) == (1 << 30))
    for (n <- Seq((1 << 30) - 1, 1 << 30, (1 << 30) + 1, Int.MaxValue))
      assert(capacityFor(n) == (1 << 30), s"n = $n")
  }
}

object TestOpsHelper {
  def statsRow(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.Row =
    graft.operators.TextOps.stats(docs).collect().head
}
