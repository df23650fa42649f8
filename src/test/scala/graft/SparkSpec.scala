package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session; suites run in the
  * forked test JVM). Built with [[GraftExtensions]], like every
  * [[LocalSession]]. */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_test_wh_").toString)
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  def sf(name: String): String = s"/root/testdata/$name"

  /** cells frame from parallel literals: (grp, feature_id, value). */
  def cellsOf(feature: String, values: Seq[Double], groups: Seq[String]): DataFrame = {
    import spark.implicits._
    require(values.size == groups.size)
    groups.zip(values).map { case (g, v) => (g, feature, v) }
      .toDF("grp", "feature_id", "value")
  }

  def approx(a: Double, b: Double, tol: Double = 1e-12): Boolean =
    (a.isNaN && b.isNaN) || math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}
