package graft.functions

import graft.SparkSpec
import graft.operators.Similarity
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Pins the in-row [[NearestCells]] tier against the broadcast-join
  * formulations it replaces — the comparator corners (exact-duplicate ties,
  * NaN from a zero vector, float widening) at full-row resolution, plus
  * codegen participation and the interpreted (eval) path.
  */
class NearestCellsSpec extends SparkSpec {
  import spark.implicits._

  private def nearest(vecCol: Column, mat: CentroidMatrix, nprobe: Int): Column =
    ColumnBridge.column(NearestCells(ColumnBridge.expression(vecCol), mat, nprobe))

  // tie/NaN-heavy fixture: centroid 3 duplicates centroid 1 EXACTLY
  // (identical cosines -> the cid-ascending tiebreak is load-bearing for
  // every vector), plus a zero query vector (0/0 = NaN cosine against every
  // centroid -> NaN-greatest must keep ALL centroids in cid order)
  private val cents = Seq(
    (1L, Seq(1.0, 0.0, 0.0, 0.0)),
    (2L, Seq(0.0, 1.0, 0.0, 0.0)),
    (3L, Seq(1.0, 0.0, 0.0, 0.0)), // exact dup of cid 1
    (4L, Seq(0.0, 0.0, 1.0, 1.0)),
    (5L, Seq(-1.0, 0.0, 0.0, 0.0)))

  private def centDf: DataFrame = cents.toDF("cid", "cv")

  private def vecsF: DataFrame = {
    val rng = new java.util.SplittableRandom(19L)
    val rand = (0 until 40).map(i =>
      (100L + i, Seq.fill(4)((rng.nextDouble() * 2 - 1).toFloat)))
    val edge = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),   // exact tie between cid 1 and 3
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),   // zero vector: NaN cosines
      (3L, Seq(-0.5f, 0.0f, 0.0f, 0.0f)))  // negative direction
    (rand ++ edge).toDF("nid", "nv")
  }

  /** The retired per-pair reference: crossJoin x centroids + cosinePre +
    * row_number over (pcos DESC, cid ASC) — the ordering every production
    * tier must reproduce. Runs under ansi=false: the fixture's zero vector
    * exercises the NaN-cosine corner, where ANSI Divide would raise
    * DIVIDE_BY_ZERO instead of producing the 0/0 = NaN the kernel (and the
    * non-ANSI join tier) ranks greatest.
    */
  private def referenceTop(vecs: DataFrame, nprobe: Int): Map[Long, Seq[Long]] =
    withSQLConf("spark.sql.ansi.enabled" -> "false") {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("nid").orderBy(col("pcos").desc, col("cid"))
      vecs.select(col("nid"), col("nv"), Similarity.norm(col("nv")).as("nn"))
        .crossJoin(broadcast(centDf.withColumn("cn", Similarity.norm(col("cv")))))
        .withColumn("pcos", Similarity.cosinePre(col("nv"), col("cv"), col("nn"), col("cn")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= nprobe)
        .collect()
        .map(r => (r.getAs[Long]("nid"), r.getAs[Int]("rn"), r.getAs[Long]("cid")))
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    }

  test("nearest_cells matches the join+window reference, ties/NaN/order included") {
    GraftFunctions.register(spark)
    val mat = CentroidMatrix.collect(centDf)
    for (nprobe <- Seq(1, 3, 5, 9)) { // 9 > k drives the keep-all path
      val got = vecsF.select(col("nid"), nearest(col("nv"), mat, nprobe).as("cells"))
        .collect()
        .map(r => (r.getAs[Long]("nid"), r.getSeq[Long](1)))
        .toMap
      val want = referenceTop(vecsF, nprobe)
      assert(got.keySet === want.keySet)
      got.foreach { case (nid, cells) =>
        assert(cells === want(nid), s"nid=$nid nprobe=$nprobe: $cells != ${want(nid)}")
      }
      // the zero vector's NaN cosines rank greatest everywhere -> pure cid
      // ascending order survives
      assert(got(2L) === cents.map(_._1).take(nprobe))
      // the exact tie keeps the LOWER cid first
      assert(got(1L).head === 1L)
      if (nprobe >= 2) assert(got(1L)(1) === 3L)
    }
  }

  test("nearest_cells double-array input matches the float path's reference") {
    GraftFunctions.register(spark)
    val mat = CentroidMatrix.collect(centDf)
    val vecsD = vecsF.select(col("nid"),
      transform(col("nv"), x => x.cast("double")).as("nv"))
    val got = vecsD.select(col("nid"), nearest(col("nv"), mat, 3).as("cells"))
      .collect().map(r => (r.getAs[Long]("nid"), r.getSeq[Long](1))).toMap
    val want = referenceTop(vecsD, 3)
    got.foreach { case (nid, cells) => assert(cells === want(nid), s"nid=$nid") }
  }

  test("nearest_cells participates in whole-stage codegen and the interpreted path agrees") {
    GraftFunctions.register(spark)
    val mat = CentroidMatrix.collect(centDf)
    // derive vectors from range so ConvertToLocalRelation can't pre-evaluate
    // the projection on the driver (eval path) — the test must see the
    // expression inside a WholeStageCodegen stage
    val df = spark.range(30).select(col("id").as("nid"),
      array(col("id").cast("float"), lit(1.0f), (col("id") % 3).cast("float"),
        lit(-2.0f)).as("nv"))
    val q = df.select(col("nid"), nearest(col("nv"), mat, 2).as("cells"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") && plan.contains("nearest_cells"), plan)
    val codegen = q.collect().map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1)
    val interpreted = withSQLConf(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      q.collect().map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1)
    }
    assert(codegen.toSeq === interpreted.toSeq)
    // and against the reference on the same derived frame
    val want = referenceTop(df, 2)
    codegen.foreach { case (nid, cells) => assert(cells === want(nid), s"nid=$nid") }
  }
}
