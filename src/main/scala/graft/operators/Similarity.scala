package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType}

/** Vector similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *  - [[cosineTopK]] — exact brute force: broadcast the (small) query set,
  *    score every row, per-query top-k via window. O(n·q·dim) but one scan,
  *    no shuffle of the big side except the final top-k; the correctness
  *    baseline at any scale where q is small.
  *  - [[lshCosineTopK]] — sign-random-projection LSH: bucket vectors by the
  *    signs of dot products with deterministic pseudo-random hyperplanes,
  *    then score only same-bucket candidates. The 100 TB path: candidates
  *    per query ∝ bucket size, not n.
  *
  * Dot products and SRP bucket ids run through the native codegen
  * expressions `vector_dot` / `vector_srp_bucket`
  * (graft.functions.VectorDot) — tight primitive loops inside whole-stage
  * codegen, no UDFs, no interpreted higher-order functions in the inner
  * loops.
  */
object Similarity {

  /** OpUtils.spread plus defensive registration of the native vector
    * functions every operator below depends on.
    */
  private def spread(df: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    OpUtils.spread(df)
  }

  /** Double-precision dot product via the native codegen'd
    * [[graft.functions.VectorDot]] expression (the HOF formulation
    * `aggregate(zip_with(...))` is CodegenFallback — interpreted per
    * element). Requires `GraftFunctions.register` on the session; every
    * DataFrame-level operator here does so defensively.
    */
  def dot(a: Column, b: Column): Column = call_function("vector_dot", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** [[cosine]] with the norms precomputed per VECTOR (projected below the
    * pair join) instead of per PAIR: the pairwise kernel drops from 3
    * vector_dot evaluations to 1 — a ~3× cut on the dominant cost of every
    * scoring join here. Bit-identical to [[cosine]]: `na`/`nb` are the same
    * `sqrt(vector_dot(x,x))` doubles, and the `dot/(na*nb)` op order is
    * unchanged, so ranked/rounded outputs cannot drift.
    */
  def cosinePre(a: Column, b: Column, na: Column, nb: Column): Column =
    dot(a, b) / (na * nb)

  /** Centroid count that keeps IVF cell size — and with it the per-vector
    * candidate count of [[ivfSelfTopK]]/[[ivfTopK]] — CONSTANT as the corpus
    * grows: cells ≈ n / targetCellSize. This is the scale rule a deployment
    * must follow; a FIXED centroid count makes self-top-k work grow
    * quadratically with corpus size (cell population ∝ n and each vector
    * scores against nprobe whole cells — measured 19× cost at 10× corpus
    * with k=16 frozen, vs ~linear with this rule; PROFILE.md round 9).
    * Every declared IVF query (q_ext_sim3/sim4/sim5, q_ext_stream16)
    * sizes by this rule since round 11 — at the driver's 500/2000-row
    * bench corpora it resolves to the 16-cell floor, so the measured
    * recall bounds carry over unchanged.
    */
  def autoCentroids(corpusRows: Long, targetCellSize: Long = 128L): Int = {
    // division-based ceil: the additive form overflows near Long.MaxValue
    val cells = corpusRows / targetCellSize +
      (if (corpusRows % targetCellSize == 0L) 0L else 1L)
    math.max(16L, math.min(1L << 20, cells)).toInt
  }


  /** Exact top-k cosine neighbors for each query row.
    *
    * @param vectors  corpus (idCol, vecCol)
    * @param queries  query rows, same schema — must be small enough to
    *                 broadcast (it is hinted)
    */
  def cosineTopK(vectors: DataFrame, queries: DataFrame,
                 idCol: String, vecCol: String, k: Int): DataFrame =
    cosineTopKImpl(vectors, queries, idCol, vecCol, k, roundScale = None)

  /** [[cosineTopK]] variant ranking on `round(cos, scale)` with the id as
    * tie-break — for queries whose ORACLE must re-rank identically in
    * another engine: the two engines' cosine kernels provably agree on the
    * rounded grid, while a last-ulp divergence can flip a full-precision
    * rank (the q_ext_sim4 pattern, applied to the dense retrieval arm).
    */
  def cosineTopKRounded(vectors: DataFrame, queries: DataFrame,
                        idCol: String, vecCol: String, k: Int,
                        scale: Int = 4): DataFrame =
    cosineTopKImpl(vectors, queries, idCol, vecCol, k, roundScale = Some(scale))

  private def cosineTopKImpl(vectors: DataFrame, queries: DataFrame,
                             idCol: String, vecCol: String, k: Int,
                             roundScale: Option[Int]): DataFrame = {
    graft.functions.GraftFunctions.register(queries.sparkSession)
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn"))
    val v = spread(vectors).select(col(idCol).as("nid"), col(vecCol).as("nv"),
      norm(col(vecCol)).as("nn"))
    val rawCos = cosinePre(col("qv"), col("nv"), col("qn"), col("nn"))
    val scored = v.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("nid"))
      .withColumn("cos", roundScale.fold(rawCos)(s => round(rawCos, s)))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("nid"), col("rn"), col("cos"))
  }

  /** EXACT incremental top-k result maintenance (the interactive-session
    * pattern of "Incremental Framework for Efficient Top-K Similarity
    * Search", EDBT 2020): merge a PRIOR per-query top-k with the scores of
    * the same queries against an APPENDED batch, re-rank, keep k. Correct
    * by containment — every true top-k neighbor over corpus ∪ batch is in
    * (top-k over corpus) ∪ (top-k over batch) for its query — so the
    * merged result equals a full recompute EXACTLY, at O(|Q|·(k + |B|))
    * work instead of O(|Q|·n): at 100 TB the grown corpus is never
    * re-scored, only the ingest tick is. Both inputs must carry
    * [[cosineTopK]]'s (qid, nid, cos) columns ranked by the same
    * full-precision (cos desc, nid) order this merge re-applies.
    */
  def mergeTopK(prior: DataFrame, delta: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"Similarity.mergeTopK: k must be >= 1, got $k")
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    prior.select("qid", "nid", "cos")
      .unionByName(delta.select("qid", "nid", "cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("nid"), col("rn"), col("cos"))
  }

  /** Sign-random-projection bucket id: numPlanes sign bits packed into a
    * long, via the native codegen'd [[graft.functions.VectorSrpBucket]]
    * (bit-identical to the HOF formulation it replaced — VectorDotSpec —
    * but without interpreted lambda dispatch per plane × component, and
    * sized from the actual array instead of a caller-supplied dim).
    */
  def srpBucket(vec: Column, numPlanes: Int): Column =
    srpBucketOffset(vec, 0, numPlanes)

  /** One (table, bucket) struct per LSH table. Multi-table is the standard
    * recall lever: a neighbor is a candidate if it shares the bucket in ANY
    * table — P(candidate) = 1-(1-(1-θ/π)^planes)^tables, vs a single table's
    * (1-θ/π)^planes which decays fast.
    */
  private def srpTables(vec: Column, numTables: Int, planesPerTable: Int): Column =
    array((0 until numTables).map(t =>
      struct(lit(t).as("tbl"),
        srpBucketOffset(vec, t * planesPerTable, planesPerTable).as("bkt"))): _*)

  private def srpBucketOffset(vec: Column, planeOffset: Int, numPlanes: Int): Column =
    call_function("vector_srp_bucket", vec, lit(planeOffset), lit(numPlanes))

  /** Approximate top-k cosine via multi-table SRP-LSH: candidates = union of
    * same-bucket rows over `numTables` independent sign-projection tables,
    * then exact scoring of candidates only. Recall vs [[cosineTopK]] is
    * asserted in the test suite.
    */
  def lshCosineTopK(vectors: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, numTables: Int = 8,
                    planesPerTable: Int = 4): DataFrame = {
    val v = spread(vectors).select(col(idCol).as("nid"), col(vecCol).as("nv"),
        norm(col(vecCol)).as("nn"),
        explode(srpTables(col(vecCol), numTables, planesPerTable)).as("h"))
      .select(col("nid"), col("nv"), col("nn"), col("h.tbl").as("tbl"), col("h.bkt").as("bkt"))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
        norm(col(vecCol)).as("qn"),
        explode(srpTables(col(vecCol), numTables, planesPerTable)).as("h"))
      .select(col("qid"), col("qv"), col("qn"), col("h.tbl").as("qtbl"), col("h.bkt").as("qbkt"))
    val candidates = v.join(broadcast(q),
        col("tbl") === col("qtbl") && col("bkt") === col("qbkt") && col("qid") =!= col("nid"))
      .select(col("qid"), col("qv"), col("qn"), col("nid"), col("nv"), col("nn"))
      .dropDuplicates("qid", "nid")
    val scored = candidates.withColumn("cos",
      cosinePre(col("qv"), col("nv"), col("qn"), col("nn")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("nid"), col("rn"), col("cos"))
  }

  /** Deterministic k-means centroids for the IVF index, computed at
    * index-build time — the k-means‖ shape:
    *
    *  1. deterministic oversample: the `8·k` non-null corpus vectors with
    *     the smallest `xxhash64(id)` — a uniform pseudo-random sample, no
    *     RNG state, stable across runs and cluster layouts;
    *  2. k-means++ seeding + Lloyd on that bounded sample, locally (driver
    *     model fitting over ≤ 8·k rows — the same finishing step MLlib's
    *     k-means‖ uses; a plain k-of-k init collapses when two seeds land
    *     in one true cluster);
    *  3. distributed Lloyd refinement over the full corpus, one Spark job
    *     per iteration ([[refineCentroids]]): each vector is assigned
    *     in-row by [[graft.functions.NearestCells.kernel]] against the
    *     centroid matrix held on the driver, each partition sums its cells
    *     per position exactly ([[graft.functions.CellSums]], at most k
    *     cells per task), and the driver merges the partitions and divides.
    *     The mean per (cell, position) is over the non-null elements and
    *     rounded once from the exact sum, so the centroids are bit-identical
    *     for any partitioning and core count; empty cells keep their
    *     previous centroid so k never shrinks; null vectors contribute
    *     nothing. Means stay double (vector_dot accepts mixed float/double
    *     sides).
    *
    * The result is a local relation over the driver's matrix.
    */
  def kmeansCentroids(vectors: DataFrame, idCol: String, vecCol: String,
                      numCentroids: Int, iterations: Int = 2): DataFrame =
    centroidFrame(vectors.sparkSession,
      kmeansMatrix(vectors, idCol, vecCol, numCentroids, iterations))

  private def kmeansMatrix(vectors: DataFrame, idCol: String, vecCol: String,
                           numCentroids: Int, iterations: Int): graft.functions.CentroidMatrix = {
    val sample = vectors.filter(col(vecCol).isNotNull)
      .orderBy(xxhash64(col(idCol)), col(idCol)).limit(8 * numCentroids)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Any](0).map(_.asInstanceOf[Number].doubleValue).toArray)
    val seeds = localKMeans(sample, numCentroids)
    refineCentroids(vectors, vecCol,
      new graft.functions.CentroidMatrix(Array.tabulate(seeds.length)(i => (i + 1).toLong), seeds),
      iterations)
  }

  /** `iterations` Lloyd steps from `start` over the vectors in `vecCol`
    * (see [[kmeansCentroids]] step 3). The spread corpus is planned once,
    * so its shuffle runs in the first iteration's job and the later
    * iterations read its output.
    */
  private[graft] def refineCentroids(vectors: DataFrame, vecCol: String,
                                     start: graft.functions.CentroidMatrix,
                                     iterations: Int): graft.functions.CentroidMatrix =
    if (iterations <= 0) start
    else {
      val v = spread(vectors).select(col(vecCol))
      val isFloat = v.schema(0).dataType match {
        case ArrayType(FloatType, _) => true
        case ArrayType(DoubleType, _) => false
        case other => throw new IllegalArgumentException(
          s"kmeansCentroids: $vecCol must be array<float|double>, got ${other.simpleString}")
      }
      val rows = v.queryExecution.toRdd
      (1 to iterations).foldLeft(start) { (mat, _) =>
        val k = mat.cids.length
        rows.mapPartitions { it =>
          val acc = new graft.functions.CellSums(k)
          it.foreach { r =>
            if (!r.isNullAt(0)) {
              val vec = r.getArray(0)
              val cid = graft.functions.NearestCells.kernel(vec, isFloat, mat, 1).getLong(0)
              acc.add(java.util.Arrays.binarySearch(mat.cids, cid), vec, isFloat)
            }
          }
          Iterator.single(acc)
        }.reduce(_ merge _).means(mat)
      }
    }

  /** A centroid matrix as the `(cid, cv)` local relation the index stores,
    * in one partition so the `centroids` write leaves one file.
    */
  private def centroidFrame(spark: org.apache.spark.sql.SparkSession,
                            mat: graft.functions.CentroidMatrix): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(mat.cids.indices.map(c =>
        org.apache.spark.sql.Row(mat.cids(c), mat.cents(c).toSeq)): _*),
      new org.apache.spark.sql.types.StructType()
        .add("cid", LongType).add("cv", ArrayType(DoubleType)))
      .coalesce(1)

  /** k-means++ seeding + Lloyd over a bounded in-memory sample (cosine
    * distance), fixed seed — deterministic. Empty clusters keep their seed.
    *
    * Seeding keeps the CLASSIC incremental form: each point caches its
    * min distance to the chosen centers and only scores against the NEWEST
    * center per round — O(k·sample·d), bit-identical draws to the naive
    * recompute-all-centers form it replaced (same minima, same cumulative
    * selection), which was O(k²·sample·d) and took HOURS at the sf10
    * rehearsal's k = autoCentroids(200k) = 1563 (jstack-caught pinned in
    * this loop; PROFILE.md round 11).
    *
    * PARALLEL over points, BIT-IDENTICAL by construction (round 16): with
    * sample = 8k and k = ⌈n/128⌉ both growing with the corpus, the fitting
    * flops are O(iters·8k²·d) — n²-shaped — and this loop ran on ONE driver
    * thread while the 31 other cores idled (10.1 s of the sf10 build,
    * ~9× that at sf30 by the flop count — guide §5 "the driver is a
    * bottleneck").
    * Only the per-point kernels run on the fork-join pool: each point's
    * argmax / min-distance slot is an independent pure function of
    * (point, centers) with its sequential inner loop unchanged, so every
    * double it writes is the exact bit pattern the serial loop wrote. The
    * order-sensitive reductions — the k-means++ cumulative draw, and the
    * per-cell sums (float addition does not commute) — stay sequential in
    * point order: O(sample·d) adds per iteration, noise next to the
    * O(sample·k·d) kernels. `private[graft]` so SimilaritySpec can pin
    * it against the serial reference.
    */
  private[graft] def localKMeans(points: Array[Array[Double]], k: Int,
                          iters: Int = 10): Array[Array[Double]] = {
    require(points.nonEmpty, "kmeansCentroids: empty corpus")
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) { s += a(i) * b(i); i += 1 }
      s
    }
    def cos(a: Array[Double], b: Array[Double]): Double =
      dot(a, b) / math.max(math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)), 1e-300)
    val rng = new java.util.SplittableRandom(42L)
    val centers = scala.collection.mutable.ArrayBuffer(points(rng.nextInt(points.length)))
    // per-point min distance to the chosen set — updated incrementally with
    // each new center, identical values to a full recompute
    val minD = points.map(p => 1.0 - cos(p, centers(0)))
    while (centers.size < math.min(k, points.length)) {
      // k-means++: next seed drawn proportional to squared cosine distance
      val d2 = minD.map(m => m * m)
      val total = d2.sum
      val next =
        if (total <= 0) points(rng.nextInt(points.length))
        else {
          var r = rng.nextDouble() * total
          var idx = 0
          while (idx < d2.length - 1 && r > d2(idx)) { r -= d2(idx); idx += 1 }
          points(idx)
        }
      centers += next
      // distinct slots, no cross-point dependency; forEach joins before the
      // next round reads minD
      java.util.stream.IntStream.range(0, points.length).parallel().forEach { i =>
        val d = 1.0 - cos(points(i), next)
        if (d < minD(i)) minD(i) = d
      }
    }
    // degenerate k > |points|: cycle existing seeds so k never shrinks
    var cycle = 0
    while (centers.size < k) { centers += centers(cycle % points.length); cycle += 1 }
    val dim = points.head.length
    // norms cached per point (once) and per center (per iter): same doubles
    // in the same multiply order as the inline form — bit-identical argmax
    // — at a third of the flops (the pair kernel drops from 3 dots to 1)
    val pNorm = points.map(p => math.sqrt(dot(p, p)))
    val best = new Array[Int](points.length)
    for (_ <- 1 to iters) {
      val cNorm = centers.map(c => math.sqrt(dot(c, c))).toArray
      val cArr = centers.toArray // immutable snapshot published to the pool
      // the O(sample·k·d) argmax kernels — parallel, slot-independent,
      // inner center loop sequential so comparisons and rounding are the
      // serial loop's exactly
      java.util.stream.IntStream.range(0, points.length).parallel().forEach { pi =>
        val p = points(pi)
        var b = 0; var bestCos = -2.0
        var c = 0
        while (c < k) {
          val s = dot(p, cArr(c)) / math.max(pNorm(pi) * cNorm(c), 1e-300)
          if (s > bestCos) { bestCos = s; b = c }
          c += 1
        }
        best(pi) = b
      }
      // order-sensitive per-cell sums: sequential in point order (float
      // addition does not commute) — O(sample·d), noise next to the argmax
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      var pi = 0
      while (pi < points.length) {
        val p = points(pi)
        val b = best(pi)
        counts(b) += 1
        var i = 0
        while (i < dim) { sums(b)(i) += p(i); i += 1 }
        pi += 1
      }
      for (c <- 0 until k if counts(c) > 0)
        centers(c) = sums(c).map(_ / counts(c))
    }
    centers.toArray
  }

  /** Nearest-centroid cell per corpus vector (ties broken by lowest cid):
    * collects the centroid frame into a [[graft.functions.CentroidMatrix]]
    * and assigns in-row against it (the overload below).
    */
  def assignCells(vectors: DataFrame, idCol: String, vecCol: String,
                  centroids: DataFrame): DataFrame =
    assignCells(vectors, idCol, vecCol, graft.functions.CentroidMatrix.collect(centroids))

  /** Nearest-centroid cell per corpus vector against an already-collected
    * centroid matrix — the form an append uses with the matrix of the index
    * version it holds open, so no tick re-reads the centroids.
    *
    * The cosine argmax runs IN-ROW via the codegen'd
    * [[graft.functions.NearestCells]]: one projection over n rows, zero
    * join, zero aggregate. The retired broadcast join + `max_by` form
    * MATERIALIZED n × k joined rows, each carrying the full vector —
    * measured as the dominant term of the IVF build at sf10 (9.4e8 rows per
    * assignment pass, 3 passes, ~66 s warm build) and the build's n²/128
    * scaling term under the autoCentroids rule. The expression keeps that
    * form's `vector_dot / (nn·cn)` doubles and its (ccos DESC, cid ASC,
    * NaN-greatest, -0.0 = 0.0) comparator; SimilaritySpec pins it against
    * a copy of the retired form on a tie/NaN fixture.
    */
  def assignCells(vectors: DataFrame, idCol: String, vecCol: String,
                  mat: graft.functions.CentroidMatrix): DataFrame =
    vectors.select(col(idCol).as("nid"), col(vecCol).as("nv"),
      element_at(org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.NearestCells(
          org.apache.spark.sql.graft.ColumnBridge.expression(col(vecCol)), mat, 1)),
        1).as("cell"))

  /** IVF index artifacts: broadcastable centroids `(cid, cv)` and the
    * corpus with its assigned cell `(nid, nv, cell)`. Built once at write
    * time; [[ensureIvfIndex]] persists them with `assigned`
    * hive-partitioned by `cell`, so probes prune whole cell directories at
    * scan time ([[ivfTopKPersisted]]).
    */
  final case class IvfIndex(centroids: DataFrame, assigned: DataFrame)

  /** Append `(nid, nv, cell)` rows to the cell-partitioned store at `path`,
    * each cell's rows written by exactly one task.
    *
    * The rows are hash-partitioned on `cell` BEFORE the hive write: without
    * it every input task writes one file into every cell dir it sees —
    * tasks × k files (a ~50k-small-file creation storm at the sf10
    * rehearsal's k = 1563, caught grinding there). Clustered, each task
    * owns whole cells and each write leaves one file per cell dir. The
    * partition count is explicit (the session's cores) because AQE
    * coalesces the small partitions of a `repartition(col("cell"))` and
    * then one task wrote every cell file (all 63 of an `llm_corpus` index);
    * AQE never coalesces a repartition with a stated count.
    */
  private def writeAssigned(path: String, rows: DataFrame): Unit = {
    val spark = rows.sparkSession
    new graft.sources.ParquetDatabase(spark, path).create(
      rows.repartition(spark.sparkContext.defaultParallelism, col("cell")),
      partitionBy = Seq("cell"))
  }

  /** Build-and-persist the IVF index only if the persisted one is missing
    * or stale — the write-time idempotence contract (`Loader.run`'s
    * skip-if-exists, applied to the index): repeated probe workloads pay
    * the k-means build ONCE per corpus version, not per query session.
    *
    * Staleness is detected from a corpus identity fingerprint — row count +
    * order-independent `bit_xor(xxhash64(id))` + build params — computed
    * with one column-pruned scan of the id column. Like the loader's
    * skip-if-exists staging, identity is keyed on the id set, not a full
    * payload checksum: a corpus that mutates vectors IN PLACE under
    * unchanged ids must drop the index dir (or use content-derived ids,
    * as `ParquetDatabase.create(assignId)` does).
    *
    * The persisted layout is `centroids` as plain parquet (tiny, collected
    * at probe time), `assigned` hive-partitioned by `cell` — the layout
    * that turns "which cells to probe" into directory pruning before a
    * single footer is read — and the `_fingerprint`. A build is the index
    * commit [[rebalanceIvfIndex]] runs: a [[graft.sources.FileCommit.replace]]
    * of whichever of the three exist, checked against the `_fingerprint`
    * the staleness test read, so a peer commit in between aborts it with a
    * ConcurrentModificationException, a crash is rolled back by the
    * quiesced `FileCommit.recover`, and a probe racing the rebuild answers
    * at the version before or after it. Like every mutator, ensure aborts
    * on a commit manifest instead of recovering it.
    */
  def ensureIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                     vectors: DataFrame, idCol: String, vecCol: String,
                     numCentroids: Int, kmeansIterations: Int = 2): Unit =
    ensureIvfIndexSized(spark, dir, vectors, idCol, vecCol,
      _ => numCentroids, kmeansIterations)

  /** Sizing-rule form of [[ensureIvfIndex]]: `sizeRule` receives the corpus
    * row count — taken from the SAME aggregate that computes the identity
    * fingerprint, so deployment sizing (e.g. [[autoCentroids]]) costs no
    * extra corpus pass — and returns the centroid count. Returns
    * (corpusRows, centroids used).
    */
  def ensureIvfIndexSized(spark: org.apache.spark.sql.SparkSession, dir: String,
                          vectors: DataFrame, idCol: String, vecCol: String,
                          sizeRule: Long => Int,
                          kmeansIterations: Int = 2): (Long, Int) = {
    graft.functions.GraftFunctions.register(spark)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    graft.sources.FileCommit.requireNoCommit(fs, root)
    val expected = fingerprintIdentity(fs, new org.apache.hadoop.fs.Path(root, "_fingerprint"))
    val idRow = vectors.agg(
      count(lit(1)), bit_xor(xxhash64(col(idCol)))).collect()(0)
    val n = idRow.getLong(0)
    val numCentroids = sizeRule(n)
    val fp = s"ivf-v1|n=$n|xor=${idRow.get(1)}" +
      s"|k=$numCentroids|iters=$kmeansIterations"
    // the comparison strips a streaming-maintenance lastBatch field: a
    // batch-markered append updates (n, xor) compositionally, so an ensure
    // over the grown corpus must recognize the appended index as current
    // rather than rebuild it just because the ledger field is present
    val current = expected.dropWhile(_ != '|').drop(1)
      .split('|').filterNot(_.startsWith("lastBatch=")).mkString("|")
    if (current != fp)
      commitIndex(spark, fs, dir, expected, fp, vectors, idCol, vecCol,
        kmeansMatrix(vectors, idCol, vecCol, numCentroids, kmeansIterations))
    (n, numCentroids)
  }

  /** The one IVF index commit, a build's and a rebalance's: stage
    * `centroids` (the matrix `mat`), `assigned` (`vectors` assigned against
    * it) and the `_fingerprint` `fp`; replace whichever of the three exist,
    * checked against the `_fingerprint` identity `expected` ("" for none);
    * and hold the committed version open with `mat`, so the first probe
    * after it reads no centroids. Each directory moves with one rename, and
    * `_fingerprint` lands last.
    */
  private def commitIndex(spark: org.apache.spark.sql.SparkSession,
                          fs: org.apache.hadoop.fs.FileSystem, dir: String,
                          expected: String, fp: String, vectors: DataFrame,
                          idCol: String, vecCol: String,
                          mat: graft.functions.CentroidMatrix): Unit = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val replaced = Seq("centroids", "assigned", "_fingerprint")
      .filter(e => fs.exists(new org.apache.hadoop.fs.Path(root, e)))
    var mtime = 0L
    graft.sources.FileCommit.replace(fs, root, replaced, expected,
      () => fingerprintIdentity(fs, new org.apache.hadoop.fs.Path(root, "_fingerprint"))) { stage =>
      new graft.sources.ParquetDatabase(spark, s"$stage/centroids").create(centroidFrame(spark, mat))
      writeAssigned(s"$stage/assigned", assignCells(spread(vectors), idCol, vecCol, mat))
      mtime = writeFingerprint(fs, stage.toString, fp)
    }
    installVersion(spark, fs, dir, fp, mtime, mat)
  }

  /** Incrementally add vectors to a PERSISTED index — the per-ingest-tick
    * maintenance path (the IVF sibling of the MinHash store's
    * `appendToMinHashStore`): new vectors are assigned to the EXISTING
    * centroids (one in-row scan of the batch against the centroid matrix of
    * the index version the append holds open — see [[ivfTopKPersisted]] —
    * so a tick collects the centroids only when that version is not yet
    * open in the session) and appended
    * into the cell-partitioned `assigned` store, so a corpus that grows by
    * batches never re-runs k-means or rewrites the index. The classical
    * IVF trade rides along: cells stay anchored to the original centroid
    * geometry, so recall degrades only as the ingest distribution drifts —
    * at which point [[rebalanceIvfIndex]] re-anchors.
    *
    * The corpus identity fingerprint is updated COMPOSITIONALLY — the id
    * XOR is combinable, so the new fingerprint is (n + n_batch,
    * xor ^ xor_batch) without re-scanning the existing corpus — and a later
    * `ensureIvfIndex` over the grown corpus recognizes the appended index
    * as current instead of rebuilding. Returns the rows appended.
    *
    * The commit is a [[graft.sources.FileCommit.replace]]: the batch's new
    * `assigned` files plus a new `_fingerprint` replace the old
    * `_fingerprint`, checked against the `_fingerprint` (text and mtime)
    * the append composed over — every IVF commit replaces that file, so a
    * peer's append or rebalance in between aborts this one with a loud
    * ConcurrentModificationException, and a retry re-reads and converges.
    * The new fingerprint moves in after the new files, so a probe racing
    * the append answers at the version before it or after it. A crashed
    * append is rolled back by the quiesced `FileCommit.recover`, and the
    * stream re-delivers its batch.
    */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                       newVectors: DataFrame, idCol: String, vecCol: String,
                       batchMarker: Option[Long] = None): Long = {
    graft.functions.GraftFunctions.register(spark)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fpPath = new org.apache.hadoop.fs.Path(root, "_fingerprint")
    val fs = fpPath.getFileSystem(spark.sessionState.newHadoopConf())
    graft.sources.FileCommit.requireNoCommit(fs, root)
    // the version this append composes over, held open: its centroid
    // matrix assigns the batch without re-reading the centroids
    val version = graft.sources.FileCommit.conflictIfVanished(fs, root, "read")(
      openIvfIndex(spark, dir, "appendToIvfIndex"))
    val fields = version.fingerprint.split('|').toSeq
    val kv = fields.collect { case f if f.contains("=") =>
      val Array(k, v) = f.split("=", 2); k -> v
    }.toMap
    // exactly-once under foreachBatch re-delivery: the LAST applied batch
    // id lives INSIDE the fingerprint, so it commits in the same commit as
    // the append's files, and a crashed append rolls back with its ledger
    // (re-delivery re-applies). Structured Streaming only ever re-delivers
    // the most recent uncommitted batch, so one monotone id suffices as the
    // ledger — and a marker STRICTLY below it can only mean the stream's
    // checkpoint and this index are no longer a pair (reset/foreign
    // checkpoint restarting ids at 0): fail loudly, because silently
    // no-opping would drop genuinely new data batch after batch.
    val lastBatch = kv.get("lastBatch").map(_.toLong).getOrElse(-1L)
    if (batchMarker.exists(_ == lastBatch)) return 0L // clean no-op
    batchMarker.foreach { b =>
      if (b < lastBatch)
        throw new IllegalStateException(
          s"appendToIvfIndex: batch $b is older than the index's ledger " +
            s"(lastBatch=$lastBatch at $dir) — the streaming checkpoint and this " +
            "index are mismatched; re-pair them or rebuild the index")
    }
    val idRow = newVectors.agg(count(lit(1)), bit_xor(xxhash64(col(idCol)))).collect()(0)
    val nBatch = idRow.getLong(0)
    val xorBatch = if (idRow.isNullAt(1)) 0L else idRow.getLong(1)
    val bumped = fields.map {
      case f if f.startsWith("n=") => s"n=${kv("n").toLong + nBatch}"
      case f if f.startsWith("xor=") => s"xor=${kv("xor").toLong ^ xorBatch}"
      case f => f
    }
    val newFp = (batchMarker match {
      case None => bumped
      case Some(b) =>
        if (bumped.exists(_.startsWith("lastBatch=")))
          bumped.map { case f if f.startsWith("lastBatch=") => s"lastBatch=$b"; case f => f }
        else bumped :+ s"lastBatch=$b"
    }).mkString("|")
    var mtime = 0L
    graft.sources.FileCommit.replace(fs, root, Seq("_fingerprint"),
      s"${version.mtime}|${version.fingerprint}", () => fingerprintIdentity(fs, fpPath)) { stage =>
      writeAssigned(s"$stage/assigned", assignCells(spread(newVectors), idCol, vecCol, version.matrix))
      mtime = writeFingerprint(fs, stage.toString, newFp)
    }
    // the committed version keeps the matrix (appends never touch
    // `centroids`) and lists `assigned` afresh on its first probe
    installVersion(spark, fs, dir, newFp, mtime, version.matrix)
    nBatch
  }

  /** An IVF commit found no `_fingerprint`. While a peer's commit has it
    * moved aside, that is a retryable conflict; otherwise there is no index.
    */
  private def missingFingerprint(fs: org.apache.hadoop.fs.FileSystem,
                                 root: org.apache.hadoop.fs.Path, op: String): Nothing = {
    graft.sources.FileCommit.requireNoCommit(fs, root)
    if (fs.exists(new org.apache.hadoop.fs.Path(root, "_fingerprint")))
      throw new java.util.ConcurrentModificationException(
        s"$op: a commit on $root replaced _fingerprint while this one read it — retry")
    throw new IllegalArgumentException(
      s"$op: no fingerprinted index at $root — build with ensureIvfIndex first")
  }

  /** The committed index version as the IVF commits check it: the
    * `_fingerprint` file's mtime and text ("" while it is absent). Every
    * IVF commit replaces that file, so any commit changes this.
    */
  private def fingerprintIdentity(fs: org.apache.hadoop.fs.FileSystem,
                                  fpPath: org.apache.hadoop.fs.Path): String =
    try s"${fs.getFileStatus(fpPath).getModificationTime}|${graft.sources.HadoopText.read(fs, fpPath)}"
    catch { case _: java.io.FileNotFoundException => "" }

  /** Health report of a persisted (possibly streaming-maintained) index —
    * the audit [[appendToIvfIndex]]'s frozen-centroid trade requires:
    * appends assign to the ORIGINAL centroid geometry forever, so a
    * long-maintained index drifts two ways. (1) SIZING: the centroid count
    * goes stale against the rule as n grows — self-top-k candidate work
    * per vector is ∝ n/k, so a frozen k quietly re-grows the quadratic the
    * autoCentroids rule exists to prevent. (2) SKEW: ingest drift can
    * concentrate mass into few cells, and a hot cell's candidate set blows
    * up regardless of k (the maxBucket failure mode of the LSH joins).
    * Both are METADATA-priced here: n and k come from the fingerprint,
    * per-cell sizes from parquet footers (≤ k directory listings, zero
    * data read) — an audit a deployment can run on every maintenance tick.
    *
    * `sizingFresh` = sizeRule(n) ≤ sizingSlack × k (rebuild overdue when
    * false); `cellsBalanced` = max cell ≤ maxCellSlack × targetCellSize
    * (the loud-threshold skew signal). Either false → run
    * [[rebalanceIvfIndex]] in the next maintenance window.
    */
  final case class IvfAudit(n: Long, k: Int, kAuto: Int, maxCell: Long,
                            cellBound: Long, sizingFresh: Boolean,
                            cellsBalanced: Boolean) {
    def healthy: Boolean = sizingFresh && cellsBalanced
  }

  def auditIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                    targetCellSize: Long = 128L, sizingSlack: Double = 2.0,
                    maxCellSlack: Double = 8.0): IvfAudit = {
    val conf = spark.sessionState.newHadoopConf()
    val fpPath = new org.apache.hadoop.fs.Path(dir, "_fingerprint")
    val fs = fpPath.getFileSystem(conf)
    require(fs.exists(fpPath),
      s"auditIvfIndex: no fingerprinted index at $dir")
    val kv = graft.sources.HadoopText.read(fs, fpPath).split('|').collect {
      case f if f.contains("=") => val Array(k, v) = f.split("=", 2); k -> v
    }.toMap
    val n = kv("n").toLong
    val k = kv("k").toInt
    val kAuto = autoCentroids(n, targetCellSize)
    val assignedRoot = new org.apache.hadoop.fs.Path(s"$dir/assigned")
    val maxCell = fs.listStatus(assignedRoot).iterator
      .filter(_.getPath.getName.startsWith("cell="))
      .map(p => graft.sources.ParquetStats.totalRows(p.getPath.toString, conf))
      .foldLeft(0L)(math.max)
    val bound = (maxCellSlack * targetCellSize).toLong
    IvfAudit(n, k, kAuto, maxCell, bound,
      sizingFresh = kAuto <= (sizingSlack * k).toLong,
      cellsBalanced = maxCell <= bound)
  }

  /** [[auditIvfIndex]] with the loud threshold applied — the maintenance
    * gate a deployment wires before trusting a maintained index's probe
    * cost: throws (naming the fix) when the audit is unhealthy.
    */
  def requireBalancedIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                              targetCellSize: Long = 128L, sizingSlack: Double = 2.0,
                              maxCellSlack: Double = 8.0): IvfAudit = {
    val a = auditIvfIndex(spark, dir, targetCellSize, sizingSlack, maxCellSlack)
    if (!a.sizingFresh) throw new IllegalStateException(
      s"IVF index at $dir is sizing-stale: k=${a.k} but the rule wants ${a.kAuto} " +
        s"for n=${a.n} (slack ${sizingSlack}×) — run rebalanceIvfIndex in a " +
        "quiesced maintenance window")
    if (!a.cellsBalanced) throw new IllegalStateException(
      s"IVF index at $dir is skewed: max cell ${a.maxCell} rows exceeds the " +
        s"${a.cellBound}-row bound (${maxCellSlack}× targetCellSize) — run " +
        "rebalanceIvfIndex in a quiesced maintenance window")
    a
  }

  /** Rebuild a persisted index IN PLACE under the sizing rule, carrying
    * the streaming batch ledger forward — the maintenance op
    * [[auditIvfIndex]] points at, closing the frozen-centroid drift of
    * [[appendToIvfIndex]]. The corpus is re-read from the index's own
    * `assigned` store (no source-table dependency: maintenance runs where
    * the index lives; through the session's held version, with no new
    * listing, when that version is the one on disk), k-means re-runs at
    * sizeRule(n), and the new fingerprint keeps (n, xor, lastBatch) verbatim with only k/iters
    * updated — so a foreachBatch stream paired with this index resumes
    * exactly-once semantics across the rebuild.
    *
    * The commit is the index commit an [[ensureIvfIndex]] build runs, a
    * [[graft.sources.FileCommit.replace]] of every file: the staged
    * `centroids`, `assigned` and `_fingerprint` replace the live ones (each
    * directory moves with one rename), checked against the `_fingerprint`
    * the rebuild read. An append that commits while the
    * rebalance stages makes the rebalance abort at that check, so no
    * appended batch is ever dropped; an append that enters while the
    * rebalance holds the gate aborts. Probes must pause while the rebalance
    * moves the tree.
    *
    * @return Some(newK) when rebuilt; None when k already satisfies the
    *         rule and `force` is false (no-op — the compactSmallFiles
    *         convention).
    */
  def rebalanceIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                        sizeRule: Long => Int = autoCentroids(_),
                        kmeansIterations: Int = 2,
                        force: Boolean = false): Option[Int] = {
    graft.functions.GraftFunctions.register(spark)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fpPath = new org.apache.hadoop.fs.Path(root, "_fingerprint")
    val fs = fpPath.getFileSystem(spark.sessionState.newHadoopConf())
    graft.sources.FileCommit.requireNoCommit(fs, root)
    val expected = fingerprintIdentity(fs, fpPath)
    if (expected.isEmpty) missingFingerprint(fs, root, "rebalanceIvfIndex")
    val fpText = expected.dropWhile(_ != '|').drop(1)
    val kv = fpText.split('|').collect {
      case f if f.contains("=") => val Array(k, v) = f.split("=", 2); k -> v
    }.toMap
    val newK = sizeRule(kv("n").toLong)
    if (!force && newK == kv("k").toInt) return None
    // the held version, when it is the one on disk, has `assigned`
    // listed already: reusing it skips the listing and footer jobs
    val held = openVersions.get(versionKey(spark, fs, dir))
    val vectors = graft.sources.FileCommit.conflictIfVanished(fs, root, "read") {
      val assigned =
        if (held != null && s"${held.mtime}|${held.fingerprint}" == expected) held.assigned
        else spark.read.parquet(s"$dir/assigned")
      assigned.select(col("nid"), col("nv"))
    }
    val mat = graft.sources.FileCommit.conflictIfVanished(fs, root, "read")(
      kmeansMatrix(vectors, "nid", "nv", newK, kmeansIterations))
    val newFp = fpText.split('|').map {
      case f if f.startsWith("k=") => s"k=$newK"
      case f if f.startsWith("iters=") => s"iters=$kmeansIterations"
      case f => f
    }.mkString("|")
    commitIndex(spark, fs, dir, expected, newFp, vectors, "nid", "nv", mat)
    Some(newK)
  }

  /** Reopen a persisted index as plain relations (for [[ivfSelfTopK]] or
    * ad-hoc probing). Every call reads `centroids` and lists `assigned`
    * afresh, so the returned [[IvfIndex]] is a snapshot of the version on
    * disk at call time; it does not share the per-version handle the
    * probe and append paths hold open (see [[ivfTopKPersisted]]).
    * `assigned` keeps its cell-partitioned layout, so any filter on `cell`
    * prunes directories.
    */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String): IvfIndex =
    IvfIndex(
      spark.read.parquet(s"$dir/centroids"),
      spark.read.parquet(s"$dir/assigned"))

  /** Cell ids that actually have a `cell=` partition directory on disk.
    * Empty cells are legitimate (kmeansCentroids keeps them so k never
    * shrinks; assignCells breaks ties toward the smaller cid) and write NO
    * directory — a probed-vs-scanned partition-count comparison must
    * intersect with this set or it fails spuriously the first time a probe
    * ranks an empty cell. Metadata-sized: one directory listing,
    * ≤ numCentroids entries. */
  def existingCells(spark: org.apache.spark.sql.SparkSession, dir: String): Set[Long] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/assigned")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(p).iterator.map(_.getPath.getName)
      .filter(_.startsWith("cell="))
      .map(_.stripPrefix("cell=").toLong).toSet
  }

  /** One version of a persisted index, held open across the probes and
    * appends of a session: the collected centroid matrix, and the
    * `assigned` relation, listed on first use (an append needs only the
    * matrix). `fingerprint` and `mtime` are the `_fingerprint` text and
    * modification time the version was opened at.
    */
  private final class IvfVersion(val fingerprint: String, val mtime: Long,
                                 val matrix: graft.functions.CentroidMatrix,
                                 spark: org.apache.spark.sql.SparkSession, dir: String) {
    lazy val assigned: DataFrame = spark.read.parquet(s"$dir/assigned")
  }

  /** Open versions, one per (session, qualified index dir). */
  private val openVersions = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, String), IvfVersion]()

  /** Hold open the version a writer just committed: `fingerprint` and
    * `mtime` are the text and modification time of the `_fingerprint` it
    * wrote (a move keeps the mtime, so a commit stats its staged file, not
    * the live one a peer may already have replaced) and `matrix` the
    * centroids it holds.
    */
  private def installVersion(spark: org.apache.spark.sql.SparkSession,
                             fs: org.apache.hadoop.fs.FileSystem, dir: String,
                             fingerprint: String, mtime: Long,
                             matrix: graft.functions.CentroidMatrix): Unit =
    openVersions.put(versionKey(spark, fs, dir), new IvfVersion(fingerprint, mtime,
      matrix, spark, dir))

  /** Write `text` as the `_fingerprint` under `dir`; returns its mtime. */
  private def writeFingerprint(fs: org.apache.hadoop.fs.FileSystem, dir: String,
                               text: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir, "_fingerprint")
    graft.sources.HadoopText.write(fs, p, text)
    fs.getFileStatus(p).getModificationTime
  }

  private def versionKey(spark: org.apache.spark.sql.SparkSession,
                         fs: org.apache.hadoop.fs.FileSystem,
                         dir: String): (org.apache.spark.sql.SparkSession, String) =
    (spark, fs.makeQualified(new org.apache.hadoop.fs.Path(dir)).toString)

  /** The open version of the index at `dir`, reused while its
    * `_fingerprint` text and modification time are both unchanged: one
    * stat and one small read per call. Every writer replaces `_fingerprint`
    * last — ensureIvfIndex's rebuild, and the commits of appendToIvfIndex
    * and rebalanceIvfIndex (whose same-k rebuild keeps the text but not the
    * mtime), which `FileCommit.recover` rolls back to the committed file —
    * so a caller never reuses a version a writer has replaced. While a
    * commit has `_fingerprint` moved aside, the held version is still the
    * committed one and is reused. ensureIvfIndex's rebuild,
    * appendToIvfIndex and rebalanceIvfIndex also install the version they
    * commit, with the matrix they hold, so the first probe after them reads
    * no centroids; rebalanceIvfIndex reads `assigned` through the held
    * version when it is the one on disk. Every persisted index has a
    * `_fingerprint`: a dir without one (and no commit in flight) is not an
    * index, and `op` fails naming [[ensureIvfIndex]].
    */
  private def openIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                           op: String): IvfVersion = {
    val fpPath = new org.apache.hadoop.fs.Path(dir, "_fingerprint")
    val fs = fpPath.getFileSystem(spark.sessionState.newHadoopConf())
    val key = versionKey(spark, fs, dir)
    def open(fp: String, mtime: Long) = new IvfVersion(fp, mtime,
      graft.functions.CentroidMatrix.collect(spark.read.parquet(s"$dir/centroids")), spark, dir)
    val stat =
      try Some(fs.getFileStatus(fpPath))
      catch { case _: java.io.FileNotFoundException => None }
    val held = openVersions.get(key)
    stat match {
      case None if held != null && graft.sources.FileCommit.inFlight(fs, fpPath.getParent) => held
      case None =>
        openVersions.remove(key)
        missingFingerprint(fs, fpPath.getParent, op)
      case Some(st) =>
        val fp = graft.sources.HadoopText.read(fs, fpPath)
        if (held != null && held.fingerprint == fp && held.mtime == st.getModificationTime) held
        else {
          val v = open(fp, st.getModificationTime)
          openVersions.put(key, v)
          v
        }
    }
  }

  /** Probe a PERSISTED index with storage-level cell pruning.
    *
    * The index version is opened once and reused across calls (see
    * `openIvfIndex`): the handle is keyed by (SparkSession, qualified
    * `indexDir`) and checked on every call against the `_fingerprint`
    * text and modification time, so a probe at an unchanged version reads
    * neither the centroids nor the `assigned` listing again, and the first
    * probe after any writer's commit opens the new version. A dir without
    * `_fingerprint` is not an index: the probe fails naming
    * [[ensureIvfIndex]].
    *
    * The query rows `(qid, qv, qn)` are collected — `queries` must be small
    * enough to broadcast — and each query's `nprobe` nearest cells are
    * picked on the driver by [[graft.functions.NearestCells.kernel]]
    * against the version's centroid matrix, ranked (pcos DESC, cid ASC)
    * with NaN greatest and -0.0 = 0.0. The probes join the listed
    * `assigned` relation as a broadcast local relation, after a static
    * `cell` partition filter on exactly the probed cells, so the scan reads
    * only the probed `cell=` directories. Candidates rank by
    * (cos DESC, nid ASC). Probes must pause while [[rebalanceIvfIndex]]
    * moves the tree; appends may run concurrently,
    * and a probe then answers at the version before or after the append.
    */
  def ivfTopKPersisted(spark: org.apache.spark.sql.SparkSession, indexDir: String,
                       queries: DataFrame, idCol: String, vecCol: String,
                       k: Int, nprobe: Int): DataFrame =
    ivfTopKPersistedWithCells(spark, indexDir, queries, idCol, vecCol, k, nprobe)._1

  /** [[ivfTopKPersisted]] plus the distinct probed cell ids, known before
    * the returned frame runs — callers assert storage-level pruning by
    * comparing the scan's selected partition count against exactly this
    * set (the probe union of several queries can legitimately cover every
    * cell, so "fewer than total" is not a stable invariant; "exactly the
    * probed cells" is).
    */
  def ivfTopKPersistedWithCells(spark: org.apache.spark.sql.SparkSession, indexDir: String,
                       queries: DataFrame, idCol: String, vecCol: String,
                       k: Int, nprobe: Int): (DataFrame, Array[Long]) = {
    graft.functions.GraftFunctions.register(spark)
    val index = openIvfIndex(spark, indexDir, "ivfTopKPersisted")
    val (probes, cells) = probeCells(queries, idCol, vecCol, index.matrix, nprobe)
    (rankProbed(index.assigned.filter(col("cell").isin(cells: _*)), probes, k), cells)
  }

  /** Each query's top-`nprobe` cells, picked on the driver: the query rows
    * `(qid, qv, qn)` are collected and scored by
    * [[graft.functions.NearestCells.kernel]], the comparator
    * [[assignCells]] and [[ivfSelfTopK]] rank cells with. A null vector
    * scores null against every centroid and so probes the lowest cids.
    * Returns the probes `(qid, qv, qn, cell)` as a local relation and the
    * distinct probed cells.
    */
  private def probeCells(queries: DataFrame, idCol: String, vecCol: String,
                         mat: graft.functions.CentroidMatrix,
                         nprobe: Int): (DataFrame, Array[Long]) = {
    require(nprobe >= 1, s"IVF probe: nprobe must be >= 1, got $nprobe")
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn"))
    val isFloat = q.schema("qv").dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    val rows = q.collect().flatMap { r =>
      val cells =
        if (r.isNullAt(1)) mat.cids.take(nprobe)
        else graft.functions.NearestCells.kernel(
          new org.apache.spark.sql.catalyst.util.GenericArrayData(r.getSeq[Any](1).toArray),
          isFloat, mat, nprobe).toLongArray()
      cells.map(c => org.apache.spark.sql.Row(r.get(0), r.get(1), r.get(2), c))
    }
    val probes = q.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
      q.schema.add("cell", LongType, nullable = false))
    (probes, rows.map(_.getLong(3)).distinct)
  }

  /** Exact scoring of the probed cells' vectors against their probing
    * queries, top-`k` per query by (cos DESC, nid ASC).
    */
  private def rankProbed(assigned: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val scored = assigned.withColumn("nn", norm(col("nv")))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("cos", cosinePre(col("qv"), col("nv"), col("qn"), col("nn")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("nid"), col("rn"), col("cos"))
  }

  def buildIvfIndex(vectors: DataFrame, idCol: String, vecCol: String,
                    numCentroids: Int, kmeansIterations: Int = 2): IvfIndex = {
    val mat = kmeansMatrix(vectors, idCol, vecCol, numCentroids, kmeansIterations)
    IvfIndex(centroidFrame(vectors.sparkSession, mat), assignCells(spread(vectors), idCol, vecCol, mat))
  }

  /** IVF-style ANN over a prebuilt index: probe the `nprobe` cells nearest
    * each query, score only those cells. Candidates per query ≈
    * n·nprobe/numCentroids, the scale lever at 100 TB: the centroids are
    * collected once per call and the probe cells picked on the driver (as
    * in [[ivfTopKPersisted]]), the corpus was scanned once for assignment
    * (a write-time, amortizable step) and the query join touches only
    * probed cells. `queries` must be small enough to broadcast.
    */
  def ivfTopK(index: IvfIndex, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nprobe: Int): DataFrame = {
    graft.functions.GraftFunctions.register(queries.sparkSession)
    val (probes, _) = probeCells(queries, idCol, vecCol,
      graft.functions.CentroidMatrix.collect(index.centroids), nprobe)
    rankProbed(index.assigned, probes, k)
  }

  /** Convenience form: build the k-means index inline, then query it. */
  def ivfTopK(vectors: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, numCentroids: Int = 16,
              nprobe: Int = 4): DataFrame =
    ivfTopK(buildIvfIndex(vectors, idCol, vecCol, numCentroids),
      queries, idCol, vecCol, k, nprobe)

  /** Approximate k-NN graph: top-k cosine neighbors for EVERY corpus vector
    * (the batch form a training pipeline needs for semantic dedup
    * clustering, diversity sampling, or graph-based curation). Brute force
    * is n² and broadcast-based `ivfTopK` assumes a small query side; here
    * BOTH sides are the corpus, so the probe join is a plain shuffle join
    * keyed on the cell id — candidates per vector ≈ n·nprobe/numCentroids,
    * co-partitioned by cell, no broadcast of anything but the centroids.
    */
  /** @param maxCellFraction mega-cell guard: a cell holding more than this
    *  fraction of the corpus (a degenerate corpus — e.g. mass-duplicated
    *  embeddings — collapses into one cell) would make that cell's
    *  candidate set approach n². Hot cells are deterministically
    *  sub-divided by `xxhash64(id) % nsub` on BOTH sides, so each vector
    *  meets a bounded uniform sample (≈ maxCellFraction·n) of its hot
    *  cell instead of all of it. Exact for the balanced case (nsub=1 —
    *  every pair survives); for a genuine mega-cell the sampled candidates
    *  are near-interchangeable (that is what made the cell hot), so top-k
    *  quality degrades gracefully rather than the job blowing up.
    */
  def ivfSelfTopK(index: IvfIndex, k: Int, nprobe: Int,
                  maxCellFraction: Double = 0.25): DataFrame = {
    require(k >= 1, s"ivfSelfTopK: k must be >= 1, got $k")
    require(nprobe >= 1, s"ivfSelfTopK: nprobe must be >= 1, got $nprobe")
    graft.functions.GraftFunctions.register(index.assigned.sparkSession)
    // cell sizes: ≤ numCentroids rows — broadcast-sized by construction;
    // the corpus count is their sum, so one scan of `assigned` serves both
    val cellCounts = index.assigned.groupBy("cell").agg(count(lit(1)).as("m"))
      .localCheckpoint()
    val n = cellCounts.collect().map(_.getLong(1)).sum
    val maxCell = math.max(1L, (maxCellFraction * n).toLong)
    val subCounts = cellCounts.select(col("cell"),
      ceil(col("m").cast("double") / maxCell).cast("long").as("nsub"))
    // Probe selection (round 16, fourth form — measured at sf10 each time):
    //  - r14 window form: crossJoin × centroids + row_number — exchanged and
    //    sorted ALL n × numCentroids scored rows (41.7 s at sf10);
    //  - r15 packed form: all centroids collect_list'd into ONE broadcast
    //    row, scored in-row with transform + sort_array. Zero exchange, but
    //    transform/sort_array are CodegenFallback — the n × numCentroids
    //    cosine kernels ran INTERPRETED (the repo's own HOF cliff, cf.
    //    simHash scaladoc), measured 110-142 s at sf10 — slower than the
    //    window it replaced — and the packed row grew linearly with the
    //    corpus under autoCentroids (~41 MB at 10 M vectors);
    //  - r16 form, the one kept: the codegen'd
    //    [[graft.functions.NearestCells]] — the top-nprobe cells computed
    //    IN-ROW against the collected centroid matrix: one projection over
    //    n rows, zero join, zero aggregate, and the kernels JIT-compile (no
    //    HOF dispatch).
    // Ordering corners that must MATCH the retired window's sort for output
    // identity: the expression ranks (pcos DESC, cid ASC) with NaN greatest
    // and -0.0 == 0.0 — exactly Spark's SQLOrderingUtil ordering
    // (NearestCellsSpec pins it against a join + window reference);
    // SimilaritySpec pins this whole path against the retired window form
    // on a tie-heavy fixture.
    val mat = graft.functions.CentroidMatrix.collect(index.centroids)
    val probes = index.assigned
      .select(col("nid").as("qid"), col("nv").as("qv"), norm(col("nv")).as("qn"),
        explode(org.apache.spark.sql.graft.ColumnBridge.column(
          graft.functions.NearestCells(
            org.apache.spark.sql.graft.ColumnBridge.expression(col("nv")), mat, nprobe)))
          .as("cell"))
      .join(broadcast(subCounts), Seq("cell"))
      .withColumn("sub", pmod(xxhash64(col("qid")), col("nsub")))
    val corpus = index.assigned
      .withColumn("nn", norm(col("nv")))
      .join(broadcast(subCounts), Seq("cell"))
      .withColumn("sub", pmod(xxhash64(col("nid")), col("nsub")))
    val scored = corpus.join(probes.drop("nsub"), Seq("cell", "sub")) // shuffle join on (cell, sub)
      .filter(col("qid") =!= col("nid"))
      .withColumn("cos", cosinePre(col("qv"), col("nv"), col("qn"), col("nn")))
    // Final ranking via the bounded-buffer TopKAggD, NOT a row_number
    // window (the q_ext_sim4 exact-arm lesson, round 13): the window
    // exchanged and sorted every probed-cell candidate — ~nprobe·cellSize
    // rows PER VECTOR — where the aggregate's map-side partials ship at
    // most one k-bounded buffer per vector per input partition
    // (≤ nprobe buffers per vector: its candidates live in its probed
    // (cell,sub) partitions). TopKAggD's comparator mirrors the window's
    // (cos DESC, nid ASC) sort exactly, NaN/-0.0 corners included;
    // SimilaritySpec pins equality against the retired window form on a
    // tie-heavy fixture.
    val topK = udaf(new graft.functions.Aggregators.TopKAggD(k))
    scored.groupBy(col("qid"))
      .agg(topK(col("cos"), col("nid")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("qid"), col("t._2").as("nid"),
        (col("pos") + 1).cast("int").as("rn"), col("t._1").as("cos"))
  }

  /** SRP plane-count rule for [[cosineNearDupPairs]] — the LSH analogue of
    * [[autoCentroids]]: per-table candidate volume is Σ bucket², so buckets
    * must GROW with the corpus to hold per-bucket population (and with it
    * the banding join's fan-out) constant. planes = ceil(log2(n /
    * targetBucket)), floored at the historical 8 so small corpora keep the
    * round-11 geometry exactly. Recall stays effectively 1 for the
    * population the operator exists for: a true near-dup at tau >= 0.95 is
    * within ~18° (the driver corpora's planted dups are within ~1°), so a
    * plane "loses" a pair per table with probability θ/180 per plane, and
    * the numTables-way OR makes the total miss probability vanish — e.g. at
    * the sf10 rehearsal's cos ≈ 0.9998 replicas, 10 planes × 8 tables miss
    * ≈ 1.5e-10. The 100× finding behind the rule: at 200 k vectors the
    * frozen 8-plane geometry put ~780 vectors per bucket and the banding
    * join emitted ~6×10⁸ candidate slots.
    *
    * BOUNDARY-RECALL DECAY — the trade this rule makes, stated exactly: the
    * near-1 recall above is for pairs WELL ABOVE tau. A pair sitting AT the
    * boundary (cos ≈ tau = 0.95, θ ≈ 18°) collides per table with
    * probability (1 − θ/180)^planes ≈ 0.9^planes, so growing planes with
    * the corpus erodes boundary recall: at 2 M rows (13 planes × 8 tables)
    * an exactly-boundary pair is missed with probability
    * (1 − 0.9¹³)^8 ≈ 10%. An exact-equality gate over a corpus with
    * borderline pairs must therefore either pin `planesPerTable` or grow
    * `numTables` alongside planes (each ×2 tables squares the miss
    * probability) — the recall guarantee callers may rely on unmanaged is
    * for cos >> tau, the near-duplicate population the operator exists for.
    */
  def autoSrpPlanes(corpusRows: Long, targetBucket: Long = 256L, floor: Int = 8): Int = {
    val needed = math.ceil(
      math.log(math.max(1.0, corpusRows.toDouble / targetBucket)) / math.log(2.0)).toInt
    math.max(floor, needed)
  }

  /** Embedding-cosine near-duplicate pairs: all pairs with cosine >= tau,
    * multi-table LSH-bucketed so the pair join is per-bucket, not n². High
    * tau means tiny angle, so per-table collision probability is high and
    * recall is near-1 with a handful of tables.
    *
    * `planesPerTable = 0` (the default) sizes the bucket space by
    * [[autoSrpPlanes]] from one corpus count — the deployment rule; pass an
    * explicit value to pin a fixture geometry (see autoSrpPlanes's
    * boundary-recall note for when pinning matters). The sizing count is
    * `vectors.count()`, which executes the FULL upstream plan — one extra
    * evaluation that is cheap for the bare-scan inputs this is deployed on
    * but not in general; callers whose vectors come off an expensive
    * computed plan should pass `knownCount` (or cache the input) to skip
    * it. Candidates are SCORED AND
    * FILTERED inside the banding join's projection, BEFORE the pair
    * dedup shuffle (round 12, the simHashPairs r9 lesson writ large): the
    * old shape ran dropDuplicates over every candidate slot while each row
    * still carried BOTH 64-float vectors, so at 100× bench scale the dedup
    * shuffle wrote ~300 GB of spill and died on disk; scoring first means
    * only the tau-survivors (output-sized) ever shuffle, and duplicate
    * slots score identically so dedup-after-filter emits the same pairs.
    */
  def cosineNearDupPairs(vectors: DataFrame, idCol: String, vecCol: String,
                         tau: Double, numTables: Int = 8, planesPerTable: Int = 0,
                         knownCount: Long = -1L): DataFrame = {
    val planes =
      if (planesPerTable > 0) planesPerTable
      else autoSrpPlanes(if (knownCount >= 0L) knownCount else vectors.count())
    val v = spread(vectors).select(col(idCol).as("id"), col(vecCol).as("v"),
        norm(col(vecCol)).as("vn"),
        explode(srpTables(col(vecCol), numTables, planes)).as("h"))
      .select(col("id"), col("v"), col("vn"), col("h.tbl").as("tbl"), col("h.bkt").as("bkt"))
    v.as("a")
      .join(v.select(col("id").as("id2"), col("v").as("v2"), col("vn").as("vn2"),
        col("tbl").as("tbl2"), col("bkt").as("bkt2")).as("b"),
        col("tbl") === col("tbl2") && col("bkt") === col("bkt2") && col("a.id") < col("id2"))
      .withColumn("cos", cosinePre(col("v"), col("v2"), col("vn"), col("vn2")))
      .filter(col("cos") >= tau)
      .select(col("a.id").as("d1"), col("id2").as("d2"), col("cos"))
      .dropDuplicates("d1", "d2")
  }

  /** SemDeDup-style near-dup candidate pairs (Abbas et al. 2023,
    * arXiv:2303.09540): k-means CELLS are the blocking key — every vector
    * is scored exactly against its own cell's members, so total pair work
    * is Σ|cell|², which the [[autoCentroids]] rule pins at ~targetCellSize
    * per cell regardless of corpus size; the corpus² join never exists in
    * the plan. The alternative candidate generator to
    * [[cosineNearDupPairs]]'s SRP-LSH: one k-means pass instead of
    * multi-table hashing, and misses are exactly the pairs straddling a
    * cell boundary (recall is measured in-plan by the declared query's
    * guard rather than assumed).
    * Returns (d1, d2, cos) with d1 < d2 and exact cos >= threshold.
    */
  def cellNearDupPairs(vectors: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, numCentroids: Int,
                       kmeansIterations: Int = 2): DataFrame = {
    val idx = buildIvfIndex(vectors, idCol, vecCol, numCentroids, kmeansIterations)
    val a = idx.assigned.select(col("nid"), col("nv"), norm(col("nv")).as("nn"), col("cell"))
    a.select(col("nid").as("d1"), col("nv").as("v1"), col("nn").as("n1"), col("cell"))
      .join(a.select(col("nid").as("d2"), col("nv").as("v2"), col("nn").as("n2"), col("cell")),
        Seq("cell"))
      .filter(col("d1") < col("d2"))
      .withColumn("cos", cosinePre(col("v1"), col("v2"), col("n1"), col("n2")))
      .filter(col("cos") >= threshold)
      .select(col("d1"), col("d2"), col("cos"))
  }
}
