package graft

import graft.api.MwuApi
import graft.functions.GraftFunctions
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry

/** The session contract: a session built with [[GraftExtensions]] holds
  * the custom function family from the start, and [[GraftFunctions.ensure]]
  * adds only what a session built without it lacks. */
class ExtensionsSpec extends SparkSpec {

  private val names = GraftFunctions.all.map(_._1)

  /** The messages the function registry logs while `body` runs. */
  private def registryLog(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val probe = new AbstractAppender("graft-registry-probe", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    probe.start()
    val logger = LogManager.getLogger(classOf[SimpleFunctionRegistry].getName)
      .asInstanceOf[CoreLogger]
    logger.addAppender(probe)
    try body finally { logger.removeAppender(probe); probe.stop() }
    seen.toArray.toSeq.map(_.toString)
  }

  test("custom function family resolves from SQL") {
    // TestSession is built with the extension, as every LocalSession is,
    // so the functions resolve here with no registration call
    val r = spark.sql(
      """select rolling_hash('abc') as rh,
        | sorted_intersect_count(array(1L, 3L, 5L), array(3L, 5L, 9L)) as ic,
        | size(char_trigram_codes('hello')) as tc""".stripMargin).collect().head
    val exp = ((('a' * 263L + 'b') % 1000000007L) * 263L + 'c') % 1000000007L
    assert(r.getLong(0) == exp)
    assert(r.getLong(1) == 2L)
    assert(r.getInt(2) == 3)
  }

  test("extensions inject the full function table") {
    val e = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(e) // must not throw; table is shared
    assert(graft.functions.GraftFunctions.all.map(_._1).toSet ==
      Set("rolling_hash", "sorted_intersect_count", "sorted_jaccard",
        "char_trigram_codes", "chain_dot", "cody_erfc", "winnow_sel",
        "sorted_dot_fp", "repetition_stats", "double_sort_bucket"))
  }

  test("the test session resolves every custom function from SQL with no registration call") {
    names.foreach { name =>
      val usage = spark.sql(s"describe function $name").collect().map(_.getString(0))
      assert(usage.exists(_.contains(name)), s"$name: ${usage.mkString(" | ")}")
    }
  }

  test("ensure leaves a session that holds every function untouched and logs nothing") {
    val s = spark.newSession() // shares the extension: all ten are there
    val registry = s.sessionState.functionRegistry
    def infos = names.map(n => registry.lookupFunction(FunctionIdentifier(n)).get)
    val before = infos
    val sizeBefore = registry.listFunction().size
    val log = registryLog(GraftFunctions.ensure(s))
    assert(!log.exists(_.contains("replaced a previously registered function")), log)
    assert(registry.listFunction().size == sizeBefore)
    infos.zip(before).foreach { case (a, b) => assert(a eq b, a.getName) }
    // the probe does see a replacement: it is not silent by construction
    val scratch = spark.newSession()
    val replaced = registryLog(scratch.sessionState.functionRegistry
      .createOrReplaceTempFunction("rolling_hash", GraftFunctions.all.head._3, "scala_udf"))
    assert(replaced.count(_.contains("replaced a previously registered function")) == 1, replaced)
  }

  test("MwuApi on a session without the functions matches the test session") {
    val other = spark.newSession()
    val registry = other.sessionState.functionRegistry
    names.foreach(n => registry.dropFunction(FunctionIdentifier(n)))
    assert(names.forall(n => !registry.functionExists(FunctionIdentifier(n))))

    val rnd = new scala.util.Random(11)
    val rows = for (f <- 0 until 3; i <- 0 until 40) yield
      Row(Seq("a", "b", "c")(i % 3), s"f$f",
        if (i % 7 == 0) 0.0 else math.floor(rnd.nextGaussian() * 4) / 2)
    val schema = cellsOf("f", Seq(1.0), Seq("a")).schema
    def markers(s: SparkSession): Seq[Row] = MwuApi.rankGeneGroups(s,
        s.createDataFrame(java.util.Arrays.asList(rows: _*), schema))
      .orderBy("grp", "rk").collect().toSeq

    val bare = markers(other)
    assert(bare.nonEmpty)
    assert(bare == markers(spark))
    // the rank and p-value operators put the functions back
    assert(names.forall(n => registry.functionExists(FunctionIdentifier(n))))
  }
}
