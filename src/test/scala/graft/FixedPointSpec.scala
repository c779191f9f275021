package graft

import org.apache.spark.sql.functions._

import graft.operators.FixedPoint

/** Property coverage for the consolidated fixed-point SQL fragments
  * (operators/FixedPoint.scala): the Spark-side fragment must equal
  * BigInteger reference semantics (truncate-toward-zero on magnitudes,
  * sign re-applied) for every sign/magnitude combination — the exact
  * contract the DuckDB oracle text relies on. */
class FixedPointSpec extends GraftSuite {
  import spark.implicits._

  private def refSdiv(num: Long, den: Long): Long = {
    // |num|*1e6 div |den|, sign of num*den re-applied — the sign-split
    // definition both engines implement identically
    val mag = (BigInt(num).abs * 1000000 / BigInt(den).abs).toLong
    if ((num >= 0) == (den >= 0)) mag else -mag
  }

  test("sdivPpm matches reference semantics for any numerator sign (den > 0)") {
    val grid = for {
      n <- Seq(-1000001L, -999999L, -7L, -1L, 0L, 1L, 7L, 999999L, 1000001L)
      d <- Seq(1L, 3L, 7L, 1000L, 999983L)
    } yield (n, d)
    val got = grid.toDF("n", "d")
      .withColumn("q", expr(FixedPoint.sdivPpm("n", "d", duck = false)))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    grid.foreach { case (n, d) =>
      assert(got((n, d)) == refSdiv(n, d),
        s"sdivPpm($n, $d) = ${got((n, d))}, want ${refSdiv(n, d)}")
    }
  }

  test("sdiv matches BigInteger truncating division under div and //") {
    val grid = for {
      n <- Seq(-1000001L, -999999L, -7L, -1L, 0L, 1L, 7L, 999999L, 1000001L)
      d <- Seq(1L, 3L, 7L, 1000L, 999983L)
    } yield (n, d)
    // DuckDB's `//` floors; evaluate the duck fragment with that
    // semantics by rewriting each `x // y` into a floorDiv call
    spark.udf.register("floor_div", (a: Long, b: Long) => Math.floorDiv(a, b))
    val duck = FixedPoint.sdiv("n", "d", duck = true)
      .replaceAll("""(\((?:-\(n\)|n)\)) // \(d\)""", "floor_div($1, d)")
    assert(!duck.contains("//") && "floor_div".r.findAllIn(duck).size == 2, duck)
    val got = grid.toDF("n", "d")
      .withColumn("q_div", expr(FixedPoint.sdiv("n", "d", duck = false)))
      .withColumn("q_duck", expr(duck))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    grid.foreach { case (n, d) =>
      val want = (BigInt(n) / BigInt(d)).toLong
      assert(got((n, d)) == ((want, want)), s"sdiv($n, $d) = ${got((n, d))}, want $want")
    }
  }

  test("sdivPpm2 matches reference semantics for any operand signs") {
    val grid = for {
      n <- Seq(-1000001L, -7L, -1L, 0L, 1L, 7L, 1000001L)
      d <- Seq(-999983L, -7L, -1L, 1L, 7L, 999983L)
    } yield (n, d)
    val got = grid.toDF("n", "d")
      .withColumn("q", expr(FixedPoint.sdivPpm2("n", "d", duck = false)))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    grid.foreach { case (n, d) =>
      assert(got((n, d)) == refSdiv(n, d),
        s"sdivPpm2($n, $d) = ${got((n, d))}, want ${refSdiv(n, d)}")
    }
  }

  test("duck=true emits DuckDB's // operator, duck=false Spark's div") {
    assert(FixedPoint.sdivPpm("a", "b", duck = true).contains("//"))
    assert(!FixedPoint.sdivPpm("a", "b", duck = false).contains("//"))
    assert(FixedPoint.sdivPpm("a", "b", duck = false).contains("div"))
    assert(FixedPoint.sdivPpm2("a", "b", duck = true).contains("//"))
    assert(!FixedPoint.sdivPpm2("a", "b", duck = false).contains("//"))
  }

  test("lnQ quantizes exactly-representable inputs to a stable BIGINT") {
    val xs = Seq(1L, 2L, 3L, 10L, 999983L, 1000000L, 123456789L)
    val got = xs.toDF("x")
      .withColumn("q", expr(FixedPoint.lnQ("x")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    xs.foreach { x =>
      val want = math.floor(math.log(x.toDouble) * 1e6).toLong
      assert(got(x) == want, s"lnQ($x) = ${got(x)}, want $want")
    }
    // custom scale
    val g9 = Seq(5L).toDF("x")
      .withColumn("q", expr(FixedPoint.lnQ("x", 1000000000L)))
      .collect().head.getLong(1)
    assert(g9 == math.floor(math.log(5.0) * 1e9).toLong)
  }
}
