package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The distinct 64-bit hashes of a text's space-joined word `n`-grams, as
  * an ascending `array<bigint>` — the `ths` set a MinHash store segment
  * holds, computed in-row.
  *
  * Identity with the column program it replaces: each element is
  * `xxhash64(concat_ws(" ", toks[i], …, toks[i+n-1]))` over the tokens of
  * `split(text, " ")` (empty tokens included, as Java's `split(" ", -1)`
  * keeps them), and for `n = 1` the distinct tokens themselves. A text
  * with fewer than `n` tokens yields an empty array; a null text, null.
  * Because the tokens are exactly the spans between single spaces, each
  * n-gram string IS a byte span of the UTF-8 text, so the kernel hashes
  * the span in place (`XXH64`, seed 42, as `xxhash64` does) and builds no
  * token or shingle string. The hashes are sorted and deduplicated in a
  * primitive `long[]`; nothing is boxed. Text that is not valid UTF-8 is
  * first re-encoded the way `split` decodes it (invalid bytes become
  * U+FFFD), so the spans stay those of `split`'s tokens.
  *
  * Eval and codegen make the same single call into [[ShingleHashes.kernel]]
  * (the [[NearestCells]] pattern).
  */
case class ShingleHashes(text: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, s"shingle_hashes: n must be >= 1, got $n")

  override def child: Expression = text

  override def checkInputDataTypes(): TypeCheckResult = text.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes requires a string, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(s: Any): Any = ShingleHashes.kernel(s.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.ShingleHashes.kernel($s, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(text = newChild)

  override def prettyName: String = "shingle_hashes"
}

object ShingleHashes {

  /** Shared eval/codegen kernel. */
  def kernel(text: UTF8String, n: Int): ArrayData = {
    val s = if (text.isValid) text else UTF8String.fromString(text.toString)
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val len = s.numBytes
    var spaces = 0
    var i = 0
    while (i < len) {
      if (Platform.getByte(base, off + i) == ' ') spaces += 1
      i += 1
    }
    val tokens = spaces + 1
    if (tokens < n) return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    // starts(t) is token t's first byte; starts(tokens) = len + 1, so token
    // t ends (exclusive) at starts(t + 1) - 1 for every t
    val starts = new Array[Int](tokens + 1)
    var t = 1
    i = 0
    while (i < len) {
      if (Platform.getByte(base, off + i) == ' ') { starts(t) = i + 1; t += 1 }
      i += 1
    }
    starts(tokens) = len + 1
    val m = tokens - n + 1
    val hs = new Array[Long](m)
    i = 0
    while (i < m) {
      val from = starts(i)
      hs(i) = XXH64.hashUnsafeBytes(base, off + from, starts(i + n) - 1 - from, 42L)
      i += 1
    }
    java.util.Arrays.sort(hs)
    var k = if (m > 0) 1 else 0
    i = 1
    while (i < m) {
      if (hs(i) != hs(k - 1)) { hs(k) = hs(i); k += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(if (k == m) hs else java.util.Arrays.copyOf(hs, k))
  }
}

/** The `numBands` LSH band hashes of a shingle-hash set's MinHash
  * signature, as `array<bigint>` indexed by band — `posexplode` gives the
  * `(band, bh)` rows a MinHash store segment's `bands/` holds.
  *
  * Identity with the exploded plan it replaces (`min` of
  * `xxhash64(i, th)` per permutation, grouped by document, then
  * `xxhash64(b, h_{b·r}, …, h_{b·r+r-1})` per band): permutation `i` of
  * shingle hash `th` is `XXH64.hashLong(th, XXH64.hashInt(i, 42))`, the
  * signature keeps each permutation's signed minimum, and each band hash
  * chains `hashInt(b, 42)` through the band's `r` signature values with
  * `hashLong`, the way `xxhash64` chains its arguments. A null element
  * hashes as `xxhash64` hashes a null argument (it is skipped). An empty
  * set yields an empty array (no band rows); a null set, null.
  *
  * Eval and codegen make the same single call into [[MinHashBands.kernel]].
  */
case class MinHashBands(ths: Expression, numBands: Int, rowsPerBand: Int)
    extends UnaryExpression {

  require(numBands >= 1 && rowsPerBand >= 1,
    s"minhash_bands: numBands and rowsPerBand must be >= 1, got ($numBands, $rowsPerBand)")

  /** `XXH64.hashInt(i, 42)` per permutation `i`: the seed each permutation
    * hashes a shingle hash with.
    */
  private val seeds: Array[Long] =
    Array.tabulate(numBands * rowsPerBand)(i => XXH64.hashInt(i, 42L))

  override def child: Expression = ths

  override def checkInputDataTypes(): TypeCheckResult = ths.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_bands requires array<bigint>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(a: Any): Any =
    MinHashBands.kernel(a.asInstanceOf[ArrayData], seeds, numBands, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val seedsRef = ctx.addReferenceObj("minhashSeeds", seeds, "long[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.MinHashBands.kernel($a, $seedsRef, $numBands, $rowsPerBand);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(ths = newChild)

  override def prettyName: String = "minhash_bands"
}

object MinHashBands {

  /** Shared eval/codegen kernel; `seeds` holds one seed per permutation. */
  def kernel(ths: ArrayData, seeds: Array[Long], numBands: Int, rowsPerBand: Int): ArrayData = {
    val m = ths.numElements()
    if (m == 0) return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    val numHashes = seeds.length
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var j = 0
    while (j < m) {
      val isNull = ths.isNullAt(j)
      val th = if (isNull) 0L else ths.getLong(j)
      var i = 0
      while (i < numHashes) {
        val p = if (isNull) seeds(i) else XXH64.hashLong(th, seeds(i))
        if (p < sig(i)) sig(i) = p
        i += 1
      }
      j += 1
    }
    val out = new Array[Long](numBands)
    var b = 0
    while (b < numBands) {
      var h = XXH64.hashInt(b, 42L)
      var r = 0
      while (r < rowsPerBand) { h = XXH64.hashLong(sig(b * rowsPerBand + r), h); r += 1 }
      out(b) = h
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** The number of elements two strictly ascending `array<bigint>` sets have
  * in common — `size(array_intersect(a, b))` for the `ths` sets
  * [[ShingleHashes]] emits, counted by one merge of the two arrays with no
  * hash set and no boxing. Null when either side is null. An input that is
  * not strictly ascending, or holds a null element, fails naming
  * `intersect_count`: a merge over it would miscount silently.
  *
  * Eval and codegen make the same single call into [[IntersectCount.kernel]].
  */
case class IntersectCount(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"intersect_count requires two array<bigint>, got ${l.simpleString} and ${r.simpleString}")
  }

  override def dataType: DataType = IntegerType

  override def nullSafeEval(a: Any, b: Any): Any =
    IntersectCount.kernel(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.IntersectCount.kernel($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "intersect_count"
}

object IntersectCount {

  /** Shared eval/codegen kernel. */
  def kernel(a: ArrayData, b: ArrayData): Int = {
    requireAscending(a)
    requireAscending(b)
    val n = a.numElements()
    val m = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < n && j < m) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  private def requireAscending(s: ArrayData): Unit = {
    var k = 0
    while (k < s.numElements()) {
      if (s.isNullAt(k) || (k > 0 && s.getLong(k) <= s.getLong(k - 1)))
        throw new IllegalArgumentException(
          s"intersect_count requires strictly ascending, null-free array<bigint> sets " +
            s"(as shingle_hashes writes them); element $k of ${s.numElements()} breaks the order")
      k += 1
    }
  }
}
