package graft

import org.apache.spark.sql.SparkSession

/** The one session factory every main builds through (Bench, Verify,
  * Smoke, Explain, ScaleStress, Profile): local mode with one task slot
  * per CPU, shuffle partitions = slots, ANSI off, UTC, UI off.
  *
  * Slots come from `SPARK_GRAFT_CPUS`; unset, from the cores the JVM
  * sees, so no main assumes the host's size. */
object LocalSession {
  /** `SPARK_GRAFT_CPUS` if set (a positive integer), else the JVM's
    * available processors. */
  def cpus: Int = cpusFrom(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def cpusFrom(setting: Option[String]): Int = setting match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(s) =>
      val n = s.trim.toIntOption.getOrElse(0)
      require(n > 0, s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'")
      n
  }

  /** The input tables' directory: `SPARK_GRAFT_SF_DIR`, default sf0.1. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  def apply(): SparkSession = {
    val n = cpus
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
