package graft.functions

import org.scalatest.funsuite.AnyFunSuite

object CellMeansSpec {
  def exactSum(xs: Seq[Double]): java.math.BigDecimal =
    xs.foldLeft(java.math.BigDecimal.ZERO)((a, x) => a.add(new java.math.BigDecimal(x)))

  /** True when `d` is the exact mean `sum / count` rounded once to the
    * nearest double (ties to even), judged in exact decimal arithmetic.
    */
  def roundedOnce(d: Double, sum: java.math.BigDecimal, count: Long): Boolean = {
    val c = java.math.BigDecimal.valueOf(count)
    def err(x: Double) = sum.subtract(new java.math.BigDecimal(x).multiply(c)).abs
    val (e, below, above) = (err(d), err(Math.nextDown(d)), err(Math.nextUp(d)))
    val tie = e.compareTo(below) == 0 || e.compareTo(above) == 0
    e.compareTo(below) <= 0 && e.compareTo(above) <= 0 &&
      (!tie || (java.lang.Double.doubleToRawLongBits(d) & 1L) == 0L)
  }
}

class CellMeansSpec extends AnyFunSuite {
  import CellMeansSpec._

  private def sumOf(xs: Seq[Double]): ExactSum = { val s = new ExactSum; xs.foreach(s.add); s }

  test("ExactSum's mean is the exact mean rounded once, for any split and merge order") {
    val rng = new java.util.SplittableRandom(5L)
    val cases = Seq(
      Seq(1e16, 1.0, -1e16),                         // cancellation a plain sum loses
      Seq(0.1, 0.2, 0.3, -0.6),
      Seq(Double.MinPositiveValue, Double.MinPositiveValue, 3 * Double.MinPositiveValue),
      Seq(java.lang.Double.MIN_NORMAL, -Double.MinPositiveValue),
      Seq(1.7e308, -1.7e308, 1.0),
      Seq.fill(200)((rng.nextDouble() - 0.5) * math.pow(10, rng.nextInt(30) - 15)),
      Seq.fill(7)(2.0 / 3))
    for (xs <- cases) {
      val want = sumOf(xs).mean(xs.length)
      assert(roundedOnce(want, exactSum(xs), xs.length), s"$xs")
      for (cut <- Seq(1, xs.length / 2, xs.length - 1) if cut > 0 && cut < xs.length) {
        val (a, b) = xs.splitAt(cut)
        val ab = sumOf(a); ab.merge(sumOf(b.reverse))
        val ba = sumOf(b); ba.merge(sumOf(a.reverse))
        assert(ab.mean(xs.length) === want && ba.mean(xs.length) === want, s"$xs split at $cut")
      }
    }
    assert(sumOf(Seq(-0.0, 0.0)).mean(2) === 0.0)
  }

  test("ExactSum: non-finite terms decide the mean as in a plain sum; finite overflow throws") {
    assert(sumOf(Seq(1.0, Double.PositiveInfinity)).mean(2) === Double.PositiveInfinity)
    assert(sumOf(Seq(Double.PositiveInfinity, 1.0, Double.NegativeInfinity)).mean(3).isNaN)
    assert(sumOf(Seq(Double.NaN, 1.0)).mean(2).isNaN)
    intercept[ArithmeticException](sumOf(Seq(Double.MaxValue, Double.MaxValue)))
  }
}
