package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** The IVF centroid table collected to the driver in cid order, plus the
  * precomputed norms — the reference object [[NearestCells]] scores against
  * in-row. Plain class (identity equals is fine — expression dedup just
  * won't fire) with a compact toString so plan dumps stay readable.
  *
  * `cns(c)` is `sqrt(vector_dot(cv, cv))` computed with the SAME
  * sequential-sum loop the codegen'd `vector_dot` emits, so every norm is
  * the exact double `norm(col("cv"))` produces in the retired
  * broadcast-join formulation.
  */
final class CentroidMatrix(val cids: Array[Long], val cents: Array[Array[Double]])
    extends Serializable {
  require(cids.length == cents.length, "cids/cents length mismatch")
  val cns: Array[Double] = cents.map { cv =>
    var s = 0.0; var i = 0
    while (i < cv.length) { s += cv(i) * cv(i); i += 1 }
    math.sqrt(s)
  }
  override def toString: String =
    s"CentroidMatrix(k=${cids.length}, dim=${if (cents.isEmpty) 0 else cents(0).length})"
}

object CentroidMatrix {
  /** Collect a `(cid, cv)` centroid frame (k rows, broadcast-sized by the
    * caller's tier check) into cid-ascending arrays. cid ascending is
    * load-bearing: [[NearestCells.kernel]] derives its tie-break (lowest
    * cid wins on equal cosine) from the iteration order.
    */
  def collect(centroids: DataFrame): CentroidMatrix = {
    val rows = centroids.select("cid", "cv").collect()
      .map { r =>
        (r.getAs[Number](0).longValue(),
          r.getSeq[Any](1).map(_.asInstanceOf[Number].doubleValue()).toArray)
      }
      .sortBy(_._1)
    new CentroidMatrix(rows.map(_._1), rows.map(_._2))
  }
}

/** Top-`nprobe` nearest centroids of a vector by cosine, computed IN-ROW
  * against a driver-collected centroid matrix: returns the kept cids as
  * `array<long>` ordered (cosine DESC, cid ASC).
  *
  * Why a custom expression (the repo's third, after vector_dot /
  * vector_srp_bucket): the formulation it replaces —
  * `crossJoin(broadcast(centroids))` + per-pair `cosinePre` + a bounded
  * top-k aggregate — is structurally sound (no shuffle of pair-shaped
  * data; the partial aggregate ships one buffer row per vector) but it
  * MATERIALIZES n x k joined rows through the join/project/partial-agg
  * pipeline, each carrying the full query vector. At deployment sizing
  * (autoCentroids: k = ceil(n/128)) that row fan-out is n^2/128-shaped and
  * measured as the dominant term of the IVF build (sf10: 9.4e8 rows per
  * assignment pass). In-row, the same n x k cosine kernels run as one
  * projection over n rows — zero join, zero aggregate, whole-stage codegen.
  *
  * Output identity with the retired forms (pinned in NearestCellsSpec /
  * SimilaritySpec): cosine is `vector_dot(v, cv) / (nn * cn)` with both
  * norms the same sqrt-of-sequential-dot doubles, and the comparator is
  * (pcos DESC, cid ASC) with NaN greatest and -0.0 == 0.0 — exactly
  * Spark's `SQLOrderingUtil.compareDoubles` struct-ordering semantics that
  * `max_by(struct(nv, cid), struct(ccos, -cid))` and
  * [[Aggregators.TopKAggD]] rank by.
  *
  * The codegen emits one call into [[NearestCells.kernel]] (the k x d loop
  * JIT-compiles; a generated-source inner loop would only duplicate it and
  * risk the JIT method limit at large k), so the interpreted eval and
  * codegen paths are the same machine code by construction.
  *
  * Zero-norm corner: a zero vector yields 0/0 = NaN cosines — the
  * non-ANSI `Divide` value (NaN-greatest keeps all cells in cid order).
  * Under ANSI (Spark 4's default) the join tier's `cosinePre` raises
  * DIVIDE_BY_ZERO on that input instead; no production corpus carries
  * zero-norm embeddings (the contract every IVF fixture upholds), and the
  * specs compare tiers under ansi=false where the corner is exercised.
  */
case class NearestCells(vec: Expression, mat: CentroidMatrix, nprobe: Int)
    extends UnaryExpression {

  require(nprobe >= 1, s"nearest_cells: nprobe must be >= 1, got $nprobe")
  require(mat.cids.nonEmpty, "nearest_cells: empty centroid matrix")

  override def child: Expression = vec

  override def checkInputDataTypes(): TypeCheckResult = vec.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_cells requires array<float|double>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def isFloat: Boolean =
    vec.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any): Any =
    NearestCells.kernel(a.asInstanceOf[ArrayData], isFloat, mat, nprobe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val matRef = ctx.addReferenceObj("centroidMatrix", mat, classOf[CentroidMatrix].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.NearestCells.kernel($a, $isFloat, $matRef, $nprobe);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(vec = newChild)

  override def prettyName: String = "nearest_cells"
}

object NearestCells {

  /** Tier ceiling for the in-row form: past this many centroids
    * `Similarity.assignCells` (over a centroid frame) and `ivfSelfTopK` keep
    * their broadcast-join formulation. The persisted-index append assigns
    * in-row at any k, with the matrix its open index version already holds;
    * the probes pick cells on the driver. 2^17 centroids x 64 dims x 8 B
    * = 64 MiB of matrix riding the stage's task binary (one broadcast per
    * stage) — comfortably inside executor memory, and under autoCentroids
    * (k = n/128) it covers corpora to ~16M vectors. Above it the join path
    * faces the same broadcast ceiling it always had; the tier just keeps
    * this expression from moving that wall lower.
    */
  val defaultMaxLocalCentroids: Int = 131072

  /** Shared eval/codegen kernel. Iterates centroids in cid-ascending order
    * with strict-improvement insertion, so equal cosines keep the earlier
    * (lower) cid — the (pcos DESC, cid ASC) order of the retired
    * formulations. `java.lang.Double.compare` over 0.0-normalized values =
    * SQLOrderingUtil.compareDoubles (NaN greatest, -0.0 == 0.0).
    */
  def kernel(v: ArrayData, vIsFloat: Boolean, mat: CentroidMatrix, nprobe: Int): ArrayData = {
    val n = v.numElements()
    val q = new Array[Double](n)
    var i = 0
    while (i < n) {
      q(i) = if (vIsFloat) v.getFloat(i).toDouble else v.getDouble(i)
      i += 1
    }
    var sq = 0.0
    i = 0
    while (i < n) { sq += q(i) * q(i); i += 1 }
    val nn = math.sqrt(sq)
    val k = mat.cids.length
    val keep = math.min(nprobe, k)
    val kp = new Array[Double](keep)
    val kc = new Array[Long](keep)
    var m = 0
    var c = 0
    while (c < k) {
      val cv = mat.cents(c)
      val d = math.min(n, cv.length)
      var s = 0.0
      i = 0
      while (i < d) { s += q(i) * cv(i); i += 1 }
      val p0 = s / (nn * mat.cns(c))
      val p = if (p0 == 0.0) 0.0 else p0 // -0.0 -> 0.0; NaN passes through
      if (m < keep || java.lang.Double.compare(p, kp(m - 1)) > 0) {
        // first kept slot this cosine strictly beats (ties never displace:
        // the kept entry has the lower cid)
        var pos = m
        var j = 0
        while (pos == m && j < m) {
          if (java.lang.Double.compare(p, kp(j)) > 0) pos = j
          j += 1
        }
        if (pos < keep) {
          var t = math.min(m, keep - 1)
          while (t > pos) { kp(t) = kp(t - 1); kc(t) = kc(t - 1); t -= 1 }
          kp(pos) = p
          kc(pos) = mat.cids(c)
          if (m < keep) m += 1
        }
      }
      c += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(kc, m))
  }
}
