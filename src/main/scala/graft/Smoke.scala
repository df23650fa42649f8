package graft

import graft.operators.Pipeline
import org.apache.spark.sql.functions._

/** Dev smoke runner: drives the flagship `entry` and the checkpoint
  * reuse gate outside the driver harness. `sbt "runMain graft.Smoke"`. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()

    val e = SparkEntry.entry(spark)
    println("ENTRY_SCHEMA=" + e.schema.simpleString)
    e.show(20, truncate = false)
    println("ENTRY_ROWS=" + e.count())

    // checkpoint gate: first run writes, second run must reuse
    val ck = graft.Scratch.dir("graft_smoke_ck_") + "/ranks"
    val cells = QueriesMwu.liCells(spark, "/root/testdata/sf0.001")
    val cfg = Pipeline.Config(topN = Some(3), checkpointDir = Some(ck))
    val r1 = Pipeline.markerStats(spark, cells, cfg).orderBy("grp", "rk").collect()
    val mtime1 = new java.io.File(ck).lastModified()
    val r2 = Pipeline.markerStats(spark, cells, cfg).orderBy("grp", "rk").collect()
    val mtime2 = new java.io.File(ck).lastModified()
    println("CHECKPOINT_REUSED=" + (mtime1 == mtime2))
    println("CHECKPOINT_STABLE=" + r1.sameElements(r2))
    spark.stop()
  }
}
