package graft

import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import graft.ops.Llr

/** LLR invariants (SURVEY §5.3): it's a G-statistic, so >= 0 on valid
  * tables; symmetric under k12<->k21 swap (c1<->c2); NaN iff a guard trips.
  * Checked against an independent scalar reimplementation of
  * `LLR.java:16-47`.
  */
class LlrSpec extends SparkSpec {

  /** Scalar port of the reference formula (independent of the Column one). */
  private def refLlr(c1: Long, c2: Long, c12: Long, n: Long): Double = {
    val (k11, k12, k21, k22) = (c12, c1 - c12, c2 - c12, n - c1 - c2 + c12)
    if (k11 < 0 || k12 < 0 || k21 < 0 || k22 < 0) return Double.NaN
    if (n <= 0 || c1 <= 0 || c2 <= 0 || c12 <= 0) return Double.NaN
    val (row1, row2) = ((k11 + k12).toDouble, (k21 + k22).toDouble)
    val (col1, col2) = ((k11 + k21).toDouble, (k12 + k22).toDouble)
    val total = row1 + row2
    if (total <= 0) return Double.NaN
    def term(k: Double, e: Double) = if (k == 0 || e <= 0) 0.0 else k * math.log(k / e)
    2.0 * (term(k11, row1 * col1 / total) + term(k12, row1 * col2 / total) +
      term(k21, row2 * col1 / total) + term(k22, row2 * col2 / total))
  }

  private def sparkLlr(cases: Seq[(Long, Long, Long, Long)]): Seq[Double] = {
    import spark.implicits._
    cases.toDF("c1", "c2", "c12", "n")
      .select(Llr.llr(col("c1"), col("c2"), col("c12"), col("n")).as("llr"))
      .collect().map(_.getDouble(0)).toSeq
  }

  private val validGen: Gen[(Long, Long, Long, Long)] = for {
    c12 <- Gen.choose(1L, 1000L)
    e1  <- Gen.choose(0L, 1000L)
    e2  <- Gen.choose(0L, 1000L)
    pad <- Gen.choose(0L, 100000L)
  } yield (c12 + e1, c12 + e2, c12, c12 + e1 + e2 + pad)

  test("matches the scalar reference on 300 random valid tables") {
    val cases = Gen.listOfN(300, validGen).sample.get
    val got = sparkLlr(cases)
    cases.zip(got).foreach { case ((c1, c2, c12, n), g) =>
      val want = refLlr(c1, c2, c12, n)
      assert(g == want || math.abs(g - want) < 1e-9, s"($c1,$c2,$c12,$n)")
    }
  }

  test("LLR >= 0 on valid tables") {
    val cases = Gen.listOfN(300, validGen).sample.get
    sparkLlr(cases).zip(cases).foreach { case (g, c) =>
      assert(!g.isNaN && g >= -1e-9, s"$c -> $g")
    }
  }

  test("symmetric under c1<->c2 swap") {
    val cases = Gen.listOfN(100, validGen).sample.get
    val a = sparkLlr(cases)
    val b = sparkLlr(cases.map { case (c1, c2, c12, n) => (c2, c1, c12, n) })
    // swap permutes the floating-point evaluation order, so equality is
    // up to rounding, not bit-exact
    a.zip(b).foreach { case (x, y) =>
      assert(math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x)))
    }
  }

  test("guards produce NaN") {
    val bad = Seq(
      (0L, 5L, 1L, 100L),   // c1 <= 0 (also k12 < 0)
      (5L, 0L, 1L, 100L),   // c2 <= 0
      (5L, 5L, 0L, 100L),   // c12 <= 0
      (5L, 5L, 1L, 0L),     // n <= 0
      (5L, 5L, 6L, 100L),   // k12 < 0
      (3L, 4L, 2L, 4L))     // k22 < 0
    sparkLlr(bad).foreach(g => assert(g.isNaN))
  }

  test("valid holds exactly when llr is not NaN, and a valid table scores finite") {
    import spark.implicits._
    // random tables around the valid region: each cell may be pushed out
    // of it, so both sides of every guard are hit
    val anyGen: Gen[(Long, Long, Long, Long)] = validGen.flatMap { case (c1, c2, c12, n) =>
      for {
        d1  <- Gen.oneOf(0L, 0L, -c1, -c12 - 1, 1L)
        d2  <- Gen.oneOf(0L, 0L, -c2, -c12 - 1, 1L)
        d12 <- Gen.oneOf(0L, 0L, -c12, c1 + 1, -c12 - 5)
        dn  <- Gen.oneOf(0L, 0L, -n, -n - 3, c1 + c2)
      } yield (c1 + d1, c2 + d2, c12 + d12, n + dn)
    }
    val cases = Gen.listOfN(500, anyGen).sample.get ++ Gen.listOfN(100, validGen).sample.get
    val (c1, c2, c12, n) = (col("c1"), col("c2"), col("c12"), col("n"))
    val got = cases.toDF("c1", "c2", "c12", "n")
      .select(Llr.valid(c1, c2, c12, n), Llr.llr(c1, c2, c12, n)).collect()
    assert(got.exists(_.getBoolean(0)) && got.exists(!_.getBoolean(0)))
    cases.zip(got).foreach { case (c, r) =>
      val (ok, llr) = (r.getBoolean(0), r.getDouble(1))
      assert(ok == !llr.isNaN, s"$c -> valid=$ok llr=$llr")
      assert(ok == !(refLlr _).tupled(c).isNaN, s"$c: valid=$ok disagrees with the reference guards")
      assert(!ok || !llr.isInfinite, s"$c -> $llr")
    }
  }
}
