package perfbench

import graft.api.MwuApi
import graft.operators._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

import java.io.{File, PrintWriter}
import scala.collection.mutable

/** The JVM half of the marker-table benchmark. `run.py` generates the
  * inputs, starts this program, and checks every marker table it writes
  * against the single-threaded reference.
  *
  * Modes:
  *   - `e2e`:   cold op, untimed warm-up ops, then timed ops back to back
  *              (one caller, closed loop) until `seconds` of op time.
  *   - `trace`: cold op and warm-ups, three API ops split into construct /
  *              plan / execute, then rounds (at least two, until `seconds`
  *              have passed) in which each `graft.operators` layer runs on
  *              materialized inputs under its own job group.
  *
  * "COLD_DONE" is printed on stdout as soon as the cold op has returned,
  * so the caller can time set-up from process launch. Raw records (ops,
  * layer spans, spans, checks) are kept in memory and written as JSON
  * lines to `out` when the run ends. */
object MwuBench {

  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val mode = a("mode")
    val workload = a("workload")
    val in = a("inputs")
    val work = a("work")
    val cpus = a("cpus").toInt
    val seconds = a("seconds").toDouble
    val warmups = a("warmups").toInt
    val plantFault = a.get("plant_fault").contains("1")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("mwu-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.default.parallelism", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.eventLog.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val counters = new Counters(spark.sparkContext)
    val bench = new MwuBench(spark, counters, workload, in, work, plantFault)

    bench.op("cold")
    println("COLD_DONE")
    System.out.flush()
    mode match {
      case "e2e" =>
        (1 to warmups).foreach(_ => bench.op("warm"))
        var timed = 0.0
        while (timed < seconds) timed += bench.op("timed")
      case "trace" =>
        (1 to warmups).foreach(_ => bench.op("warm"))
        (1 to 3).foreach(_ => bench.op("api"))
        val t = System.nanoTime()
        var rounds = 0
        while (rounds < 2 || (System.nanoTime() - t) / 1e9 < seconds) {
          bench.traceRound()
          rounds += 1
        }
    }
    bench.write(a("out"))
    spark.stop()
  }
}

final class MwuBench(spark: SparkSession, counters: Counters, workload: String,
                     in: String, work: String, plantFault: Boolean) {

  private val t0 = System.nanoTime()
  private def now: Double = (System.nanoTime() - t0) / 1e9

  private val records = mutable.ArrayBuffer.empty[String]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  private val ckptDir = s"$work/ckpt"
  private val cfg = Pipeline.Config(topN = Some(10))

  private def cells = spark.read.parquet(s"$in/cells")
  private def obs = spark.read.parquet(s"$in/obs")

  /** The public entry point each workload calls. */
  private def markerTable(): DataFrame =
    if (workload == "wide_sparse") MwuApi.rankGeneGroupsFromObs(spark, cells, obs, cfg)
    else MwuApi.rankGeneGroups(spark, cells, cfg)

  /** One marker-table op; returns its wall seconds. Clean-up (GC, clearing
    * the checkpoint directory) runs after the timed window. */
  def op(kind: String): Double = {
    val id = nextId; nextId += 1
    val start = now
    try timedOp(kind, id, start)
    catch {
      case e: Exception =>
        records += Json.obj(Seq("type" -> Json.str("op"), "kind" -> Json.str(kind),
          "id" -> id.toString, "error" -> Json.str(e.toString.take(2000))))
        cleanUp()
        now - start
    }
  }

  private def timedOp(kind: String, id: Int, start: Double): Double = {
    val ((construct, plan, exec, df, rows), wall, c) = counters.measure(s"op-$id") {
      val a = System.nanoTime()
      val df = markerTable()
      val b = System.nanoTime()
      df.queryExecution.executedPlan
      val p = System.nanoTime()
      val rows = df.collect()
      val e = System.nanoTime()
      ((b - a) / 1e9, (p - b) / 1e9, (e - p) / 1e9, df, rows)
    }
    spans += Span("op", start, start + wall, "", id)
    // a planted fault makes the first row of every timed op wrong
    val fault = if (plantFault && kind == "timed") 1.0 else 0.0
    val out = rows.zipWithIndex.map { case (r, i) => markerRow(r, if (i == 0) fault else 0.0) }
    records += Json.obj(Seq(
      "type" -> Json.str("op"), "kind" -> Json.str(kind), "id" -> id.toString,
      "wall_s" -> Json.num(wall), "construct_s" -> Json.num(construct),
      "plan_s" -> Json.num(plan), "exec_s" -> Json.num(exec),
      "exchanges" -> exchanges(df.queryExecution.executedPlan).toString,
      "counters" -> Json.counters(c), "rows" -> Json.arr(out)))
    cleanUp()
    wall
  }

  private def cleanUp(): Unit = {
    deleteTree(new File(ckptDir))
    System.gc()
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def markerRow(r: Row, uError: Double = 0.0): String = Json.arr(Seq(
    Json.str(r.getAs[String]("grp")), r.getAs[Long]("gene").toString,
    Json.num(r.getAs[Double]("U") + uError), Json.num(r.getAs[Double]("p_value")),
    Json.num(r.getAs[Double]("p_adjusted")), Json.num(r.getAs[Double]("logfoldchange")),
    Json.num(r.getAs[Double]("abs_logfoldchange")), r.getAs[Long]("rk").toString))

  /** Exchange nodes of the executed (AQE-final) plan, subqueries included. */
  private def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case _ =>
      val own = p match { case _: Exchange => 1; case _ => 0 }
      own + (p.children ++ p.subqueries).map(exchanges).sum
  }

  private var round = 0

  /** One round of layer spans over materialized inputs. Each layer's output
    * is persisted and counted inside its span, then feeds the next layer. */
  def traceRound(): Unit = {
    round += 1
    val rid = s"round-$round"
    val rStart = now
    val persisted = mutable.ArrayBuffer.empty[DataFrame]
    def mat(df: DataFrame): DataFrame = { persisted += df; df.persist() }

    // Inputs, materialized outside any span: the grp-column cells the
    // pipeline ranks (after the obs join on the split-input workload).
    val cellsIn = mat(
      if (workload == "wide_sparse")
        cells.join(broadcast(obs), "obs_id").select(col("grp"), col("feature_id"), col("value"))
      else cells)
    cellsIn.count()

    def layer(name: String)(body: => DataFrame): DataFrame = {
      val start = now
      val ((out, n), wall, c) = counters.measure(s"$rid.$name") {
        val d = mat(body)
        (d, d.count())
      }
      record(name, rid, start, wall, c, n)
      out
    }

    val vStart = now
    val (nBad, vWall, vc) = counters.measure(s"$rid.validation") {
      // each check throws on an offending row; a valid input returns none
      Validation.requirePartition(obs)
      Validation.requireUniformFeatures(cellsIn)
      0L
    }
    record("validation", rid, vStart, vWall, vc, nBad)

    val ranked = layer("ranking")(Ranking.withRanks(cellsIn))
    val rs = layer("mwuagg.ranksum")(MwuAgg.rankSums(ranked))
    val rsAgg = layer("mwuagg.ranksum_agg")(MwuAgg.rankSumsAgg(cellsIn))
    val tie = layer("mwuagg.tie")(MwuAgg.tieTerm(cellsIn))
    val p = layer("mwustats.test")(MwuStats.withP(MwuStats.withZ(MwuStats.withU(rs), tie)))
    val bh = layer("mwustats.bh")(MwuStats.withBH(p))
    val lfc = layer("logfold")(LogFold.withLfc(LogFold.groupMeans(cellsIn), None)
      .select("feature_id", "grp", "lfc", "abs_lfc"))
    // the join + top-k step of Pipeline.markerStats, spelled the same way
    val top = layer("markertable") {
      val joined = bh.join(lfc, Seq("feature_id", "grp"))
        .select(col("grp"), col("feature_id").as("gene"), col("u1").as("U"),
          col("p").as("p_value"), col("p_adj").as("p_adjusted"),
          col("lfc").as("logfoldchange"), col("abs_lfc").as("abs_logfoldchange"))
      MarkerTable.topK(joined.withColumn("abs_lfc", col("abs_logfoldchange")), Some(10))
        .drop("abs_lfc")
    }

    val ck = Pipeline.Config(checkpointDir = Some(ckptDir), recomputeRanks = true)
    val wStart = now
    val (_, wWall, wc) = counters.measure(s"$rid.pipeline.ckpt_write") {
      Pipeline.rankedCells(spark, cellsIn, ck)
    }
    record("pipeline.ckpt_write", rid, wStart, wWall, wc, wc.outputRecords)
    layer("pipeline.ckpt_read")(Pipeline.rankedCells(spark, cellsIn, ck.copy(recomputeRanks = false)))

    // Outside the spans: the layer chain's marker table is checked like an
    // op's, and the two rank-sum spellings must agree exactly.
    records += Json.obj(Seq("type" -> Json.str("op"), "kind" -> Json.str("span"),
      "id" -> round.toString, "rows" -> Json.arr(top.collect().map(markerRow(_)))))
    def sums(df: DataFrame) = df.select("feature_id", "grp", "rank_sum", "n1", "n")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getDouble(2), r.getLong(3), r.getLong(4)))
      .toMap
    records += Json.obj(Seq("type" -> Json.str("check"), "name" -> Json.str("ranksum_agg_equals_ranksum"),
      "ok" -> (sums(rs) == sums(rsAgg)).toString))

    persisted.foreach(_.unpersist(blocking = true))
    spans += Span(rid, rStart, now, "", round)
    cleanUp()
  }

  private def record(name: String, rid: String, start: Double, wall: Double,
                     c: GroupCounters, rowsOut: Long): Unit = {
    spans += Span(name, start, start + wall, rid, round)
    records += Json.obj(Seq("type" -> Json.str("layer"), "name" -> Json.str(name),
      "round" -> round.toString, "wall_s" -> Json.num(wall),
      "rows_out" -> rowsOut.toString, "counters" -> Json.counters(c)))
  }

  def write(path: String): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try {
      records.foreach(w.println)
      spans.foreach { s =>
        w.println(Json.obj(Seq("type" -> Json.str("span"), "name" -> Json.str(s.name),
          "start" -> Json.num(s.start), "end" -> Json.num(s.end),
          "parent" -> Json.str(s.parent), "op_id" -> s.opId.toString)))
      }
    } finally w.close()
  }
}

/** Just enough JSON for the records above (values arrive pre-rendered). */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  // Python's json module reads NaN and Infinity
  def num(d: Double): String =
    if (d.isNaN) "NaN" else if (d.isInfinite) (if (d > 0) "Infinity" else "-Infinity")
    else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def counters(c: GroupCounters): String = obj(c.fields.map { case (k, v) => k -> num(v) })
}
