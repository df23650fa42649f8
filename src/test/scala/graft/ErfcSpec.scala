package graft

import graft.oracle.Parity
import org.apache.spark.sql.functions._

/** The shared Cody-erfc SQL snippet vs commons-math3's reference erfc
  * (independent implementation of the same special function). */
class ErfcSpec extends SparkSpec {

  test("erfc snippet matches commons-math3 to 1e-13 relative over the full range") {
    import spark.implicits._
    val xs = (-600 to 600).map(_ / 25.0) ++ Seq(-26.5, -5.0, 0.46875, -0.46875, 4.0, 26.0)
    val got = xs.toDF("x").withColumn("e", expr(Parity.erfc("x")))
      .orderBy("x").collect().map(r => (r.getDouble(0), r.getDouble(1)))
    got.foreach { case (x, e) =>
      val ref = org.apache.commons.math3.special.Erf.erfc(x)
      // the exp(-x^2) scaling magnifies argument rounding by ~x^2 ulps in
      // the deep underflow tail — tolerance grows accordingly
      val rel = math.max(1e-13, x * x * 5e-16)
      val tol = math.max(1e-300, math.abs(ref) * rel)
      assert(math.abs(e - ref) <= tol, s"erfc($x): got $e want $ref")
    }
  }

  test("cody_erfc codegen expression is bit-equal to the SQL snippet") {
    import spark.implicits._
    val xs = (-600 to 600).map(_ / 25.0) ++
      Seq(-26.5, -5.0, 0.46875, -0.46875, 4.0, 4.0001, -4.0001, 26.0, 0.0, -0.0)
    val diffs = xs.toDF("x")
      .selectExpr("cody_erfc(x) as fast", s"${Parity.erfc("x")} as slow")
      .collect()
      .count(r => java.lang.Double.doubleToRawLongBits(r.getDouble(0)) !=
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    assert(diffs == 0)
  }

  test("p-from-z snippet: symmetric clip behavior") {
    import spark.implicits._
    val df = Seq(0.0, -3.0, 3.0, Double.NegativeInfinity, Double.PositiveInfinity)
      .toDF("z").withColumn("p", expr(Parity.pFromZ(Parity.SparkD, "z")))
    val p = df.orderBy("z").collect().map(_.getDouble(1))
    // z asc: -inf, -3, 0, 3, +inf
    assert(p(0) == 1.0)              // -inf → clipped
    assert(approx(p(1), 1.9973, 1e-3) || p(1) == 1.0) // erfc(-3/√2)≈1.9973 → clipped
    assert(p(2) == 1.0)              // z=0 → p=erfc(0)=1
    assert(approx(p(3), 0.0026997960632601866, 1e-10)) // two-sided p at z=3
    assert(p(4) == 0.0)
  }
}
