package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  /** Host-speed calibration: a FROZEN, data-free, CPU-bound micro-run
    * timed once per pass and recorded in the artifact. The host's speed
    * drifts across days (r10: the identical sha measured ~13% slower on
    * every query a day later), so round-over-round slopes read from
    * artifacts alone conflate host drift with real regressions — this
    * leg lets `compare_bench.py --normalize` divide the drift out
    * without re-benching an old sha in a worktree. The workload is a
    * codegen'd 32-slice range aggregate: deterministic, no IO, no
    * shuffle, ~1 s — it measures the same JVM+CPU path the queries run
    * on. DO NOT change the workload, the range, or the slice count:
    * normalization depends on every round's artifact carrying the
    * IDENTICAL micro-run. */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    // overflow-free mix (max ~2e15 < 2^63) so the workload is identical
    // under ANSI and legacy arithmetic — a frozen workload must not
    // depend on overflow semantics
    spark.range(0L, 8000000000L, 1L, 32)
      .selectExpr(
        "sum(((id % 1000003) * 2654435761 + 2862933) % 1000) as s")
      .collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Evaluate a gate relation the way the correctness dump consumes it:
    * execute the FULL physical plan and iterate every output row
    * (InternalRows — no driver transfer, no external-Row conversion).
    * `df.count()` is NOT that statistic: Catalyst rewrites the count
    * aggregate and prunes whatever the count doesn't need — measured at
    * 10× data, `Dedup.keepFirst(docs).count()` ran in 7 s because the
    * decision left-join (and with it the whole banded candidate pass)
    * was ELIMINATED, vs 24 s for the relation the oracle checks; the
    * data-card aggregate pruned the same work (12×/3× under-measured at
    * sf0.1). Every timed row forces the plan the gate is graded on. */
  def evalRows(df: org.apache.spark.sql.DataFrame): Long =
    df.queryExecution.toRdd.count()

  /** Warm the session (codegen, file listing, parquet footers) and the
    * OS page cache for EVERY input table, so no measured query absorbs
    * one-time init or a cold first read (round-1 bench runs showed a
    * single cold documents scan inflating one query 8×). */
  def warmTables(spark: SparkSession, sfDir: String): Unit =
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
      "region", "events", "documents", "embeddings").foreach { t =>
      try graft.sources.Tables.read(spark, sfDir, t).foreach(_ => ())
      catch { case _: Throwable => }
    }

  /** Free what a query left behind, outside any timed window.
    * Iterative queries (pageRank, BPE, LR, label propagation) pin their
    * localCheckpoint RDD blocks in the block manager; left alone they
    * accumulate across the run and slow later queries (measured: pass-2
    * pageRank 20 s vs 11 s isolated). A real deploy's jobs exit their
    * JVMs; the shared-session bench must clean up between queries
    * instead — BLOCKING, so the eviction work lands outside the next
    * query's timed window. Then start the next query from a settled
    * heap: without the gc, a heavy predecessor's garbage lands in the
    * successor's timed window (same neighbor effect the sorted order
    * pins). */
  def settle(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** One pass's outcome: wall seconds and output rows of each query that
    * returned, and the exception of each query that threw. */
  final case class Pass(sec: Map[String, Double], rows: Map[String, Long],
                        failed: Map[String, Throwable])

  /** One timed pass over `selected`, in order, under [[evalRows]]. A
    * query that throws gets no time: it is printed as
    * `BENCH_FAIL <name>: <exception>` and returned in `failed`. */
  def timePass(spark: SparkSession, sfDir: String,
               selected: Seq[(String, (SparkSession, String) => DataFrame)]): Pass = {
    val sec = Map.newBuilder[String, Double]
    val rows = Map.newBuilder[String, Long]
    val failed = Map.newBuilder[String, Throwable]
    selected.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        rows += name -> evalRows(fn(spark, sfDir))
        sec += name -> (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        println(s"BENCH_FAIL $name: $e")
        failed += name -> e
      }
      settle(spark)
    }
    Pass(sec.result(), rows.result(), failed.result())
  }

  /** The sorted names of the queries that threw in ANY pass, and each
    * pass's time map without them: a failure must never read as a time,
    * so it stays out of every per-query map and every total. */
  def dropFailed(passes: Seq[Pass]): (Seq[String], Seq[Map[String, Double]]) = {
    val failed = passes.flatMap(_.failed.keys).distinct.sorted
    (failed, passes.map(_.sec -- failed))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = LocalSession.sfDir
    val cpus = LocalSession.cpus
    val spark = LocalSession()
    warmTables(spark, sfDir)
    // SPARK_GRAFT_ONLY=a,b,c restricts the run (local iteration only; the
    // harness never sets it, so driver rounds always measure everything)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // run in SORTED name order: HashMap iteration order reshuffles every
    // query's neighbors whenever a query is added, and neighbor effects
    // are real (r12: the multimodal family measured 2x slower in the
    // full run vs solo purely from new predecessors' heap pressure) —
    // sorted order pins each query's context across rounds, so per-query
    // round-over-round ratios compare like for like
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // three back-to-back passes: single-pass numbers mix first-execution
    // JIT / codegen-compile time into whichever queries run early, which
    // showed up as phantom 1.5-2× "regressions" between rounds, and the
    // round-8 two-pass totals still gapped 32% (349→265 s) — pass 1
    // absorbs warm-up, so the min needs two steady-state passes behind
    // it. The reported per-query time is the min over passes; all pass
    // totals and per-pass maps are kept so run-to-run variance is
    // visible in the artifact.
    val rounds = sys.env.getOrElse("SPARK_GRAFT_BENCH_ROUNDS", "3").toInt
    // one UNTIMED calibration first: the timed per-pass runs must
    // measure host speed, not the micro-run's own JIT/codegen warm-up
    // (measured: cold 0.95 s vs warm ~0.3 s on the same host)
    calibrate(spark)
    val calibrations = scala.collection.mutable.ArrayBuffer.empty[Double]
    val passes = (1 to rounds).map { _ =>
      calibrations += calibrate(spark)
      timePass(spark, sfDir, selected)
    }
    val (failed, perPassSec) = dropFailed(passes)
    val timed = selected.map(_._1).filterNot(failed.contains)
    // per-query OUTPUT row counts (evalRows computes them anyway):
    // recorded in the artifact so a future statistic or plan change
    // decomposes into rows×cost without re-running old shas (verdict r12)
    val rowCounts = timed.map(n => n -> passes.last.rows(n))
    val results = timed.map(n => n -> perPassSec.map(_(n)).min).toMap
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val passTotals = perPassSec.map(_.values.sum).mkString("[", ",", "]")
    val calib = calibrations.mkString("[", ",", "]")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"pass_totals":$passTotals,"calibration":$calib,"sf":"$sfDir"}"""
    println(line)
    // the driver's BENCH_r{N}.json preserves only a truncated log tail
    // (round 7 kept 26 of 242 per-query times) — persist the FULL
    // per-query map as a repo artifact so like-for-like regression
    // checks across rounds never starve. Per-pass maps included: the
    // min hides run-to-run variance the comparison needs to see.
    try {
      val perPass = perPassSec.zipWithIndex.map { case (p, i) =>
        "\"pass" + (i + 1) + "\":" + p.toSeq.sortBy(_._1)
          .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      }.mkString(",")
      val rowsJson = rowCounts
        .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      val full = s"""{"artifact":"full per-query bench (min over $rounds passes; per-pass maps for variance)","sf":"$sfDir","cpus":$cpus,"n_queries":${results.size},"total_sec":$total,"pass_totals":$passTotals,"calibration":$calib,"queries":$qs,"failed":$failedJson,"rows":$rowsJson,$perPass}"""
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_FULL.json"),
        full.getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"BENCH_FULL.json write skipped: $e")
    }
    spark.stop()
  }
}
