package graft

import graft.api.MwuApi
import graft.operators.{NearDupIndex, Pipeline, Pq, SparseIndex, Validation}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Pre-flight checks: one aggregate per input, an error message that
  * names an offending example, and the `top_n` bounds of the reference's
  * create_df (create_df.py:60-64). */
class ValidationSpec extends SparkSpec {
  import spark.implicits._

  /** The jobs that `body` starts, under its own job group. Listener
    * events arrive asynchronously, so the bus is drained on both sides
    * (as `graft.Profile` does). */
  private def jobStarts(body: => Unit): Seq[SparkListenerJobStart] = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    val waitUntilEmpty = bus.getClass.getMethod("waitUntilEmpty")
    val group = "validation-spec"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.add(js)
    }
    waitUntilEmpty.invoke(bus)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "pre-flight checks")
    try body
    finally {
      sc.clearJobGroup()
      waitUntilEmpty.invoke(bus)
      sc.removeSparkListener(listener)
    }
    jobs.asScala.toSeq
  }

  private def jobsOf(body: => Unit): Int = jobStarts(body).size

  private def message(body: => Unit): String =
    intercept[Validation.ValidationException](body).getMessage

  private val obs = (0 until 40).map(i => (i.toLong, s"g${i % 3}")).toDF("obs_id", "grp")
  private val cells = (for (o <- 0 until 40; f <- 0 until 5)
    yield (o.toLong, s"f$f", ((o * 7 + f * 3) % 11).toDouble)).toDF("obs_id", "feature_id", "value")

  test("requirePartition + requireUniformFeatures on a valid split input run at most 4 jobs") {
    val n = jobsOf {
      Validation.requirePartition(obs)
      Validation.requireUniformFeatures(cells)
    }
    assert(n > 0 && n <= 4, s"pre-flight checks ran $n jobs")
  }

  test("the per-key merge of a grouped check keeps every shuffle partition") {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    val jobs = try jobStarts {
      Validation.requirePartition(obs)
      Validation.requireUniformFeatures(cells)
    } finally spark.conf.set(key, prev)
    // the last stage of each job that reads a shuffle: 4 tasks, as many as
    // spark.sql.shuffle.partitions, not one task merging every key
    val merges = jobs.map(_.stageInfos.maxBy(_.stageId)).filter(_.parentIds.nonEmpty)
    assert(merges.size == 2 && merges.forall(_.numTasks == 4), merges.map(_.numTasks))
  }

  test("partition rules: the first failing rule throws, naming an obs_id") {
    val both = Seq((0L, "a"), (0L, "b"), (1L, null), (2L, "a")).toDF("obs_id", "grp")
    assert(message(Validation.requirePartition(both)) ==
      "every observation must belong to a group (e.g. obs_id=1)")
    val dup = Seq((0L, "a"), (1L, "a"), (1L, "b")).toDF("obs_id", "grp")
    assert(message(Validation.requirePartition(dup)) ==
      "observations must belong to exactly one group (e.g. obs_id=1)")
  }

  test("ragged features and uncovered vars name the offending features") {
    val ragged = Seq(("f1", 1.0), ("f1", 2.0), ("f2", 1.0)).toDF("feature_id", "value")
    val m = message(Validation.requireUniformFeatures(ragged))
    assert(m.startsWith("all features must have the same number of observations"))
    assert(m.contains("feature_id=f2 has 1") && m.contains("feature_id=f1 has 2"), m)
    val two = Seq(("f1", 1.0), ("f2", 2.0)).toDF("feature_id", "value")
    assert(message(Validation.requireVarsCover(two, Seq("f1").toDF("feature_id"))) ==
      "vars table must name every feature (e.g. feature_id=f2)")
  }

  test("requireFinite checks every column in one pass and names the bad value") {
    val df = Seq((1L, 1.0, 2.0), (2L, 3.0, Double.NaN)).toDF("id", "a", "b")
    val m = message(Validation.requireFinite(df, Seq("a", "b")))
    assert(m.startsWith("measure column 'b' must be finite") && m.endsWith("(e.g. b=NaN)"), m)
    Validation.requireFinite(df, Seq("a"))
  }

  test("top_n below 1 is rejected at call time, with no job") {
    val inline = cellsOf("f", Seq(1.0, 2.0, 3.0, 4.0), Seq("a", "b", "a", "b"))
    for (k <- Seq(0, -1)) {
      val cfg = Pipeline.Config(topN = Some(k))
      assert(jobsOf(assert(message(MwuApi.rankGeneGroups(spark, inline, cfg))
        .startsWith(s"top_n must be in [1, n_features], got $k"))) == 0)
      assert(jobsOf(message(MwuApi.rankGeneGroupsFromObs(spark, cells, obs, cfg))) == 0)
    }
  }

  test("top_n above n_features is rejected by the aggregates that count features") {
    val m = message(MwuApi.rankGeneGroupsFromObs(spark, cells, obs, Pipeline.Config(topN = Some(6))))
    assert(m == "top_n must be in [1, n_features], got 6 (reference create_df.py:60-64) (e.g. 5 features)")
    MwuApi.rankGeneGroupsFromObs(spark, cells, obs, Pipeline.Config(topN = Some(5)))

    val inline = cellsOf("f0", Seq(1.0, 2.0, 3.0, 4.0), Seq("a", "b", "a", "b"))
      .unionAll(cellsOf("f1", Seq(4.0, 3.0, 2.0, 1.0), Seq("a", "b", "a", "b")))
    val stats = MwuApi.mannWhitneyU(
      MwuApi.computeInGroupRanksum(MwuApi.rankData(spark, inline)), MwuApi.computeTieTerm(inline))
    val lfc = MwuApi.computeLogfoldchange(inline)
    val vars = Seq(("f0", "A"), ("f1", "B")).toDF("feature_id", "gene_name")
    assert(message(MwuApi.createDf(stats, lfc, vars, topN = Some(3))).endsWith("(e.g. 2 features)"))
    message(MwuApi.createDf(stats, lfc, vars, topN = Some(0)))
    assert(MwuApi.createDf(stats, lfc, vars, topN = Some(2)).count() == 4)
  }

  test("index guards keep their messages and name an offending id") {
    def texts(ids: Seq[Long]) = ids.map(i =>
      (i, s"document number $i about topic ${i % 3} with words ${i * 7} ${i * 13} ${i * 29}"))
      .toDF("doc_id", "text")
    val docs = texts(0L until 12L)

    val nd = graft.Scratch.dir("validation_nd_")
    NearDupIndex.writeNearDupIndex(docs, nd)
    var m = intercept[IllegalArgumentException](
      NearDupIndex.deleteFromNearDupIndex(Seq(999L).toDF("doc_id"), nd)).getMessage
    assert(m.contains("never indexed") && m.contains("doc_id=999"), m)
    m = intercept[IllegalArgumentException](NearDupIndex.appendNearDupIndex(texts(Seq(3L)), nd)).getMessage
    assert(m.contains("already live") && m.contains("doc_id=3"), m)
    NearDupIndex.deleteFromNearDupIndex(Seq(4L).toDF("doc_id"), nd)
    m = intercept[IllegalArgumentException](NearDupIndex.appendNearDupIndex(texts(Seq(4L)), nd)).getMessage
    assert(m.contains("compactNearDupIndex") && m.contains("doc_id=4"), m)

    val sp = graft.Scratch.dir("validation_sp_")
    SparseIndex.writeSparseIndex(docs, sp)
    m = intercept[IllegalArgumentException](SparseIndex.deleteFromSparseIndex(texts(Seq(999L)), sp)).getMessage
    assert(m.contains("never indexed") && m.contains("doc_id=999"), m)
    SparseIndex.deleteFromSparseIndex(texts(Seq(5L)), sp)
    m = intercept[IllegalArgumentException](SparseIndex.appendSparseIndex(texts(Seq(5L)), sp)).getMessage
    assert(m.contains("compactSparseIndex") && m.contains("doc_id=5"), m)

    def vec(seed: Long) = (1 to Pq.dim).map(i => (((seed * 31 + i * 17) % 19) - 9).toFloat / 4.0f).toArray
    val vecs = (0 until 24).map(i => (i.toLong, vec(i.toLong), (i % 2).toLong))
      .toDF("vec_id", "embedding", "label")
    val pq = graft.Scratch.dir("validation_pq_")
    Pq.writeIvfPqIndex(vecs, pq)
    Pq.deleteFromIvfPqIndex(vecs.filter(col("vec_id") === 6L), pq)
    m = intercept[IllegalArgumentException](
      Pq.appendIvfPqIndex(vecs.filter(col("vec_id") === 6L), pq)).getMessage
    assert(m.contains("compactIvfPqIndex") && m.contains("vec_id=6"), m)
  }
}
