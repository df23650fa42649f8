package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The measurement harness: the bench pass loop, the session factory's
  * slot count and the ScaleStress leg table. No leg is run here. */
class HarnessSpec extends SparkSpec {

  test("bench pass: a throwing query is reported failed, never timed or totalled") {
    val selected: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "boom" -> ((_: SparkSession, _: String) => throw new IllegalStateException("planted")),
      "ok" -> ((s: SparkSession, _: String) => s.range(5).toDF()))
    val out = new java.io.ByteArrayOutputStream
    val passes = Console.withOut(out) {
      Seq(Bench.timePass(spark, "unused", selected), Bench.timePass(spark, "unused", selected))
    }
    assert(out.toString.linesIterator.count(_ == "BENCH_FAIL boom: " +
      "java.lang.IllegalStateException: planted") == 2)
    passes.foreach { p =>
      assert(p.sec.keySet == Set("ok"))
      assert(p.rows == Map("ok" -> 5L))
      assert(p.failed.keySet == Set("boom"))
    }
    val (failed, perPass) = Bench.dropFailed(passes)
    assert(failed == Seq("boom"))
    assert(perPass.forall(_.keySet == Set("ok")))
  }

  test("bench: a query failing in one pass only is still failed in every map") {
    val ok = Bench.Pass(Map("a" -> 1.0, "b" -> 2.0), Map("a" -> 1L, "b" -> 1L), Map.empty)
    val bad = Bench.Pass(Map("a" -> 1.5), Map("a" -> 1L), Map("b" -> new RuntimeException))
    val (failed, perPass) = Bench.dropFailed(Seq(ok, bad, ok))
    assert(failed == Seq("b"))
    assert(perPass == Seq(Map("a" -> 1.0), Map("a" -> 1.5), Map("a" -> 1.0)))
  }

  test("session factory: SPARK_GRAFT_CPUS wins, unset means every available core") {
    assert(LocalSession.cpusFrom(Some("3")) == 3)
    assert(LocalSession.cpusFrom(Some(" 12 ")) == 12)
    assert(LocalSession.cpusFrom(None) == Runtime.getRuntime.availableProcessors)
    Seq("0", "-2", "many", "").foreach { bad =>
      intercept[IllegalArgumentException](LocalSession.cpusFrom(Some(bad)))
    }
  }

  test("ScaleStress legs are exactly the ones that check a claim the sweep cannot") {
    assert(ScaleStress.legs.keySet == Set(
      "sf1full", "appendproof", "serveproof", "nearduprecall", "neardupserve",
      "rebuildproof", "dedupdegen", "lpa", "allpairs", "winnow", "skewjoin",
      "hilbert", "mwuskew"))
  }

  test("ScaleStress dispatch: numeric or no argument runs the feature-width leg, unknown is usage") {
    val Right((width, widthArgs)) = ScaleStress.resolve(Array("512"))
    assert(widthArgs.toSeq == Seq("512"))
    val Right((noArg, _)) = ScaleStress.resolve(Array.empty)
    assert(noArg eq width)
    assert(!ScaleStress.legs.values.exists(_ eq width))
    val Right((lpa, lpaArgs)) = ScaleStress.resolve(Array("lpa", "8"))
    assert((lpa eq ScaleStress.legs("lpa")) && lpaArgs.toSeq == Seq("8"))
    val Left(usage) = ScaleStress.resolve(Array("ranks"))
    assert(usage.contains("'ranks'"))
    ScaleStress.legs.keys.foreach(k => assert(usage.contains(k)))
  }
}
