package graft

import graft.operators.{Dedup, Sampling, Similarity, TextOps}
import org.apache.spark.sql.functions._

/** Round-2 training-pipeline operators: repetition signals, TF-IDF,
  * decontamination, int8 quantization. */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  test("repetition: duplicated n-grams and top-token share are exact ratios") {
    val docs = Seq(
      (1L, "a b a b a b", "en"),       // 5 2-grams, 2 distinct; 'a' 3/6
      (2L, "u v w x y z", "en"))       // all distinct
      .toDF("doc_id", "text", "lang")
    val m = TextOps.repetition(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getAs[Double]("top_token_frac") == 0.5)
    assert(m(1L).getAs[Double]("dup_2gram_frac") == 1.0 - 2.0 / 5.0)
    assert(m(2L).getAs[Double]("dup_2gram_frac") == 0.0)
    assert(m(2L).getAs[Double]("dup_3gram_frac") == 0.0)
  }

  test("tf-idf: corpus-frequent token ranks below document-specific token") {
    val docs = Seq(
      (1L, "common rare rare"),
      (2L, "common other words"),
      (3L, "common more words")).toDF("doc_id", "text")
    val top = TextOps.tfIdfTop(docs, k = 1).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(top(1L) == "rare") // tf 2/3 and df 1 beats 'common' (df 3)
  }

  test("decontaminate: verbatim eval overlap → containment 1.0, disjoint → 0") {
    val evalText = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (0L, evalText),                       // eval member (0 % 97 == 0)
      (1L, s"prefix words $evalText suffix"), // contains the eval doc
      (2L, "completely unrelated content nothing shared here"))
      .toDF("doc_id", "text")
    val m = Dedup.decontaminate(docs, evalEvery = 97).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val byDoc = m.map(t => t._1 -> t).toMap
    assert(byDoc(1L)._2 == 0L && byDoc(1L)._3 == 1.0)
    assert(byDoc(2L)._3 == 0.0)
    assert(!byDoc.contains(0L)) // eval docs are not scored against themselves
  }

  test("int8 quantization: max|v| maps to ±127, zero vector to 0") {
    val emb = Seq(
      (1L, Array(0.5f, -1.0f) ++ Array.fill(62)(0.0f)),
      (2L, Array.fill(64)(0.0f)))
      .toDF("vec_id", "embedding")
    val rows = Similarity.quantizeInt8(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(rows((1L, 2L)) == -127L)                 // the max-magnitude dim
    assert(rows((1L, 1L)) == math.floor(0.5 * 127.0 + 0.5).toLong) // 64
    assert(rows((2L, 7L)) == 0L)                    // zero vector → scale 0
  }

  test("requireFinite rejects NaN/Inf measures, passes finite columns") {
    import graft.operators.Validation
    val bad = Seq((1L, 1.0), (2L, Double.NaN)).toDF("id", "v")
    intercept[Validation.ValidationException](Validation.requireFinite(bad, Seq("v")))
    val inf = Seq((1L, Double.PositiveInfinity)).toDF("id", "v")
    intercept[Validation.ValidationException](Validation.requireFinite(inf, Seq("v")))
    Validation.requireFinite(Seq((1L, 1.5), (2L, -2.5)).toDF("id", "v"), Seq("v"))
  }

  test("chunking: stride windows cover every token, last partial kept") {
    val docs = Seq((1L, (1 to 80).map(i => s"w$i").mkString(" ")),
      (2L, "a b"), (3L, "")).toDF("doc_id", "text")
    val rows = TextOps.chunk(docs, size = 32, stride = 24).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getString(2), r.getLong(3))).toMap
    // doc 1: 80 tokens → chunks at 0,24,48 (ceil((80-32)/24)=2) → idx 0..2
    assert(rows((1L, 0L))._1.startsWith("w1 ") && rows((1L, 0L))._2 == 32L)
    assert(rows((1L, 1L))._1.startsWith("w25 "))
    assert(rows((1L, 2L))._2 == 32L && rows((1L, 2L))._1.endsWith(" w80"))
    assert(!rows.contains((1L, 3L)))
    // short and empty docs: a single (partial) chunk
    assert(rows((2L, 0L)) == ("a b", 2L))
    assert(rows((3L, 0L)) == ("", 1L))
  }

  test("chain_dot is bit-equal to the explicit left-associated SQL chain") {
    val rnd = new scala.util.Random(7)
    val emb = Seq.tabulate(20)(i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2f - 1f),
        Array.fill(64)(rnd.nextFloat() * 2f - 1f)))
      .toDF("id", "a", "b")
    val chain = (1 to 64)
      .map(i => s"(cast(element_at(a, $i) as double) * cast(element_at(b, $i) as double))")
      .reduceLeft((x, y) => s"($x + $y)")
    val diffs = emb.selectExpr(s"chain_dot(a, b) as fast", s"$chain as slow")
      .collect().count(r => r.getDouble(0) != r.getDouble(1))
    assert(diffs == 0)
  }

  test("sparse retrieval: shared distinctive grams match; corpus-wide grams pruned") {
    // Every doc opens with the same 3 words, so the gram "zz qq ww" has
    // df = N and must be stop-pruned (df*10 > N); doc 1 additionally
    // shares the distinctive "alpha beta gamma" span with the query
    // doc 0 (doc_id % 50 == 0), the filler docs share nothing else.
    val docs = (Seq(
      (0L, "zz qq ww alpha beta gamma"),
      (1L, "zz qq ww alpha beta gamma tail1 tail2")) ++
      (2L to 21L).map(i => (i, s"zz qq ww u$i v$i w$i")))
      .toDF("doc_id", "text")
    val hits = TextOps.sparseRetrieval(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(hits.forall(_._1 == 0L))          // only doc 0 is a query
    assert(hits.map(_._2).toSeq == Seq(1L))  // stop-gram matches pruned away
    assert(hits.head._3 > 0.0)
  }

  test("hybrid RRF: a both-list doc out-fuses a dense-only top-1") {
    // Sparse side: doc 1 is the only sparse hit for query 0 (the
    // sparse-retrieval fixture). Dense side: doc 2 is the exact dense
    // top-1 (identical vector), doc 1 dense rank 2. RRF must put doc 1
    // first: 1/61 + 1/62 > 1/61.
    val docs = (Seq(
      (0L, "zz qq ww alpha beta gamma"),
      (1L, "zz qq ww alpha beta gamma tail1 tail2")) ++
      (2L to 21L).map(i => (i, s"zz qq ww u$i v$i w$i")))
      .toDF("doc_id", "text")
    def vec(main: Float, second: Float, axis: Int): Array[Float] = {
      val a = Array.fill(64)(0f); a(0) = main; a(axis) = second; a
    }
    val emb = (Seq(
      0L -> vec(1f, 0f, 1),      // query
      2L -> vec(1f, 0f, 1),      // dense cos 1.0
      1L -> vec(0.9f, 0.5f, 1)) ++ // dense cos ~0.87
      (3L to 21L).map(i => i -> vec(0f, 1f, (i % 60 + 2).toInt)))
      .toDF("vec_id", "embedding")
    val fused = Similarity.hybridRrf(docs, emb).collect()
      .filter(_.getLong(0) == 0L)
      .sortBy(_.getLong(5))
      .map(r => (r.getLong(1), r.get(2), r.get(3), r.getDouble(4)))
    assert(fused.head._1 == 1L)                    // both-list doc wins
    assert(fused.head._4 == 1.0 / 62 + 1.0 / 61)   // dense rank 2 + sparse rank 1
    assert(fused(1)._1 == 2L && fused(1)._3 == null) // dense-only runner-up
    assert(fused(1)._4 == 1.0 / 61)
  }

  test("canonical selection keeps the highest-quality cluster member, not min id") {
    // Three near-dups: identical trimmed text (identical shingles → one
    // cluster), but doc 11 carries trailing spaces — same tokens, larger
    // n_chars, so a strictly higher quality score than min-id doc 10.
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (10L, base, "en", "web"),
      (11L, base + " " * 60, "en", "web"),
      (12L, base, "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val rows = Dedup.canonical(docs).collect()
      .map(r => r.getLong(1) -> (r.getLong(0), r.getDouble(2), r.getBoolean(3))).toMap
    assert(rows.keySet == Set(10L, 11L, 12L))
    assert(rows.values.map(_._1).toSet.size == 1)   // one cluster
    assert(rows(11L)._2 > rows(10L)._2)             // padding → higher quality
    assert(rows(11L)._3 && !rows(10L)._3 && !rows(12L)._3)
  }

  test("knn classify: majority label wins, vote ties break to smallest label") {
    def vec(x: Float, y: Float): Array[Float] = {
      val a = Array.fill(64)(0f); a(0) = x; a(1) = y; a
    }
    // query 0 (label 1) + exactly 10 neighbors: 5 vote label 2, 5 vote
    // label 1 → 5-5 tie → pred 1 (smallest), is_correct
    val emb = ((0L, vec(1f, 0f), 1) +:
      (1L to 5L).map(i => (i, vec(1f, i * 0.01f), 2)) ++:
      (6L to 10L).map(i => (i, vec(1f, i * 0.01f), 1)).toSeq)
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.knnClassify(emb).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getLong(0) == 0L && row.getLong(1) == 1L)   // tie → min label
    assert(row.getLong(2) == 5L && row.getBoolean(4))
    // 6-vs-4 split: majority label 2 wins outright
    val emb2 = ((0L, vec(1f, 0f), 1) +:
      (1L to 6L).map(i => (i, vec(1f, i * 0.01f), 2)) ++:
      (7L to 10L).map(i => (i, vec(1f, i * 0.01f), 1)).toSeq)
      .toDF("vec_id", "embedding", "label")
    val row2 = Similarity.knnClassify(emb2).collect().head
    assert(row2.getLong(1) == 2L && row2.getLong(2) == 6L && !row2.getBoolean(4))
  }

  test("semantic dedup: similar-embedding cluster keeps min id, dissimilar stays out") {
    def vec(x: Float, y: Float): Array[Float] = {
      val a = Array.fill(64)(0f); a(0) = x; a(1) = y; a
    }
    val emb = Seq(
      (7L, vec(1f, 0.01f), 0),   // near-dup of 5 and 6
      (5L, vec(1f, 0f), 0),
      (6L, vec(1f, 0.02f), 0),
      (9L, vec(0f, 1f), 0))      // orthogonal: below threshold, unclustered
      .toDF("vec_id", "embedding", "label")
    val rows = Similarity.semanticDedup(emb).collect()
      .map(r => r.getLong(1) -> (r.getLong(0), r.getBoolean(2))).toMap
    assert(rows.keySet == Set(5L, 6L, 7L))
    assert(rows.values.map(_._1).toSet == Set(5L))  // one cluster, labeled by min id
    assert(rows(5L)._2 && !rows(6L)._2 && !rows(7L)._2)
  }

  test("bm25 retrieval: equal-tf match ranks the shorter document first") {
    // docs 1 and 2 both share exactly the gram "alpha beta gamma" with
    // query 0 at tf 1; doc 1 is 3 grams long, doc 2 is 10 — BM25's
    // length normalization must rank doc 1 first. The universal "zz qq
    // ww" opener (33 of 35 docs) is df-pruned.
    val docs = (Seq(
      (0L, "zz qq ww alpha beta gamma"),
      (1L, "alpha beta gamma s1 s2"),
      (2L, "alpha beta gamma t1 t2 t3 t4 t5 t6 t7 t8 t9")) ++
      (3L to 34L).map(i => (i, s"zz qq ww u$i v$i w$i")))
      .toDF("doc_id", "text")
    val hits = TextOps.bm25Retrieval(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(hits.forall(_._1 == 0L))
    assert(hits.map(_._2).toSeq == Seq(1L, 2L))   // shorter match first
    assert(hits.head._3 > hits(1)._3 && hits(1)._3 > 0.0)
  }

  test("corpus shuffle: per-shard positions are 1..n, order decorrelated from ids") {
    val docs = (0L to 199L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val rows = Sampling.corpusShuffle(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))  // (doc_id, shard, pos)
    assert(rows.length == 200 && rows.map(_._1).distinct.length == 200)
    rows.groupBy(_._2).foreach { case (_, members) =>
      // tie-free dense positions within each shard (the CW scramble is a
      // bijection mod p, so no two docs share an h)
      assert(members.map(_._3).sorted.toSeq == (1L to members.length).toSeq)
    }
    // the permutation must not be the identity order: within some shard,
    // position order differs from doc_id order
    val monotone = rows.groupBy(_._2).values.forall { m =>
      val byPos = m.sortBy(_._3).map(_._1).toSeq
      byPos == byPos.sorted
    }
    assert(!monotone, "shuffle must decorrelate training order from ingestion ids")
  }

  test("minhash CW signature: identical code sets give identical band values") {
    val docs = Seq(
      (1L, "one two three four five six seven"),
      (2L, "one two three four five six seven"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minHashPairs(docs, numHashes = 16, bands = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 1.0)))
  }
}
