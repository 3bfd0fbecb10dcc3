package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** An exact, order-independent sum of doubles: Shewchuk's non-overlapping
  * partials (the algorithm behind Python's `math.fsum`). Every `add` keeps
  * the partials' sum equal to the exact real sum of the terms, and `merge`
  * adds one sum's partials to another, so a sum split over any partitions
  * in any order holds the same exact value. [[mean]] rounds that value
  * divided by a count to the nearest double once.
  *
  * Non-finite terms bypass the partials: they are summed as plain doubles
  * into `nonFinite`, which is order-independent in outcome (any NaN, or
  * +Inf with -Inf, gives NaN) and is the mean whenever one occurred, as it
  * is for a plain double sum. A finite sum beyond the double range throws.
  */
final class ExactSum extends Serializable {
  private var parts = new Array[Double](2)
  private var n = 0
  private var nonFinite = 0.0

  def add(x0: Double): Unit =
    if (!java.lang.Double.isFinite(x0)) nonFinite += x0
    else {
      var x = x0
      var i = 0
      var j = 0
      while (j < n) {
        var y = parts(j)
        if (math.abs(x) < math.abs(y)) { val t = x; x = y; y = t }
        val hi = x + y
        val lo = y - (hi - x)
        if (lo != 0.0) { parts(i) = lo; i += 1 }
        x = hi
        j += 1
      }
      if (java.lang.Double.isInfinite(x))
        throw new ArithmeticException("ExactSum: the sum of finite terms exceeds the double range")
      if (x != 0.0) {
        if (i == parts.length) parts = java.util.Arrays.copyOf(parts, 2 * i)
        parts(i) = x
        i += 1
      }
      n = i
    }

  def merge(o: ExactSum): Unit = {
    var j = 0
    while (j < o.n) { add(o.parts(j)); j += 1 }
    nonFinite += o.nonFinite
  }

  /** The exact sum divided by `count`, rounded once to the nearest double
    * (ties to even).
    */
  def mean(count: Long): Double = {
    require(count > 0, s"ExactSum.mean: count must be positive, got $count")
    if (nonFinite != 0.0) nonFinite // NaN != 0.0 as well
    else if (n == 0) 0.0
    else {
      // the exact sum as num · 2^emin; a finite double is m · 2^e
      def mantissa(d: Double): Long = {
        val bits = java.lang.Double.doubleToRawLongBits(d)
        val exp = ((bits >>> 52) & 0x7ffL).toInt
        val m = (bits & 0xfffffffffffffL) | (if (exp == 0) 0L else 1L << 52)
        if (bits < 0) -m else m
      }
      def exponent(d: Double): Int = {
        val exp = ((java.lang.Double.doubleToRawLongBits(d) >>> 52) & 0x7ffL).toInt
        if (exp == 0) -1074 else exp - 1075
      }
      val emin = (0 until n).map(j => exponent(parts(j))).min
      val num = (0 until n).foldLeft(java.math.BigInteger.ZERO) { (acc, j) =>
        acc.add(java.math.BigInteger.valueOf(mantissa(parts(j))).shiftLeft(exponent(parts(j)) - emin))
      }
      val neg = num.signum < 0
      val c = java.math.BigInteger.valueOf(count)
      // quotient with at least 70 bits, plus a sticky bit for a nonzero
      // remainder: q · 2^e brackets num · 2^emin / count closely enough
      // that rounding q to 53 (or, subnormal, fewer) bits rounds the exact
      // quotient
      val t = math.max(0, 70 + c.bitLength - num.abs.bitLength)
      val qr = num.abs.shiftLeft(t).divideAndRemainder(c)
      val q = qr(0).shiftLeft(1).or(
        if (qr(1).signum != 0) java.math.BigInteger.ONE else java.math.BigInteger.ZERO)
      val e = emin - t - 1
      val shift = math.max(q.bitLength - 53, -1074 - e)
      val kept = q.shiftRight(shift).longValueExact()
      val low = q.subtract(java.math.BigInteger.valueOf(kept).shiftLeft(shift))
      val cmp = low.compareTo(java.math.BigInteger.ONE.shiftLeft(shift - 1))
      val rounded = if (cmp > 0 || (cmp == 0 && (kept & 1L) == 1L)) kept + 1 else kept
      val r = math.scalb(rounded.toDouble, shift + e)
      if (neg) -r else r
    }
  }
}

/** One Lloyd iteration's per-cell, per-position sums and non-null counts
  * over the vectors a partition assigned, indexed by the position of the
  * cell in its [[CentroidMatrix]]. Partitions merge exactly, so the next
  * centroids do not depend on how the corpus is partitioned.
  */
final class CellSums(k: Int) extends Serializable {
  private val sums = new Array[Array[ExactSum]](k)
  private val counts = new Array[Array[Long]](k)

  /** Adds a non-null vector's non-null elements to cell index `c`. */
  def add(c: Int, v: ArrayData, isFloat: Boolean): Unit = {
    val len = v.numElements()
    grow(c, len)
    val s = sums(c)
    val n = counts(c)
    var i = 0
    while (i < len) {
      if (!v.isNullAt(i)) {
        s(i).add(if (isFloat) v.getFloat(i).toDouble else v.getDouble(i))
        n(i) += 1
      }
      i += 1
    }
  }

  private def grow(c: Int, len: Int): Unit = {
    val old = if (sums(c) == null) 0 else sums(c).length
    if (len > old) {
      val s = new Array[ExactSum](len)
      val n = new Array[Long](len)
      if (old > 0) {
        System.arraycopy(sums(c), 0, s, 0, old)
        System.arraycopy(counts(c), 0, n, 0, old)
      }
      var i = old
      while (i < len) { s(i) = new ExactSum; i += 1 }
      sums(c) = s
      counts(c) = n
    }
  }

  def merge(o: CellSums): CellSums = {
    var c = 0
    while (c < k) {
      if (o.sums(c) != null) {
        grow(c, o.sums(c).length)
        var i = 0
        while (i < o.sums(c).length) {
          sums(c)(i).merge(o.sums(c)(i))
          counts(c)(i) += o.counts(c)(i)
          i += 1
        }
      }
      c += 1
    }
    this
  }

  /** The next centroids. A cell that received a vector with at least one
    * element becomes its per-position mean over the non-null elements,
    * as long as the longest such vector; a position with no non-null
    * element keeps `prev`'s value there (0.0 past its length). Any other
    * cell keeps its `prev` centroid, so k never shrinks.
    */
  def means(prev: CentroidMatrix): CentroidMatrix =
    new CentroidMatrix(prev.cids, Array.tabulate(k) { c =>
      val s = sums(c)
      if (s == null || s.isEmpty) prev.cents(c)
      else Array.tabulate(s.length) { i =>
        if (counts(c)(i) > 0) s(i).mean(counts(c)(i))
        else if (i < prev.cents(c).length) prev.cents(c)(i)
        else 0.0
      }
    })
}
