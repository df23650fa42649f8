package graft

/** Plan auditor: prints formatted physical plans for the headline
  * queries so shuffle/broadcast/pushdown regressions are visible.
  * `sbt "runMain graft.Explain [queryName ...]"`. */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("mwu_markers", "q_join_revenue", "dedup_minhash", "ann_cosine",
        "decontaminate", "tfidf_top", "sketch_distinct", "q_anti_join",
        "bpe_train", "ann_ivfpq", "lr_train", "dedup_within",
        "ann_rerank", "ann_margin", "dedup_incremental_bloom",
        "pipeline_curate", "ann_ivfpq_stored", "dedup_winnow_banded",
        "allpairs_banded", "q_retention_daily")
    names.foreach { n =>
      println(s"========== $n ==========")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
