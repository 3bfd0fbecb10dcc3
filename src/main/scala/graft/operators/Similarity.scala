package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}

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
    *  1. deterministic oversample: the `8·k` corpus vectors with the
    *     smallest `xxhash64(id)` — a uniform pseudo-random sample, no RNG
    *     state, stable across runs and cluster layouts;
    *  2. k-means++ seeding + Lloyd on that bounded sample, locally (driver
    *     model fitting over ≤ 8·k rows — the same finishing step MLlib's
    *     k-means‖ uses; a plain k-of-k init collapses when two seeds land
    *     in one true cluster);
    *  3. distributed Lloyd refinement over the full corpus: cosine
    *     assignment against broadcast centroids, per-cell per-dimension
    *     mean (posexplode + avg — one shuffle keyed on (cell, dim), never a
    *     driver-side matrix), empty cells keep their previous centroid so k
    *     never shrinks. Each round's centroids are k tiny rows,
    *     localCheckpoint'd to truncate the iteration lineage; k·dim values
    *     stay broadcast-sized by construction. Means stay double
    *     (vector_dot accepts mixed float/double sides).
    */
  def kmeansCentroids(vectors: DataFrame, idCol: String, vecCol: String,
                      numCentroids: Int, iterations: Int = 2): DataFrame = {
    val spark = vectors.sparkSession
    val v = spread(vectors).select(col(idCol).as("nid"), col(vecCol).as("nv"))
    val initOrder = Seq(xxhash64(col("nid")), col("nid"))
    val sample = v.orderBy(initOrder: _*).limit(8 * numCentroids)
      .select(col("nv")).collect()
      .map(_.getSeq[Any](0).map(_.asInstanceOf[Number].doubleValue).toArray)
    val seeds = localKMeans(sample, numCentroids)
    import spark.implicits._
    var cent = seeds.zipWithIndex
      .map { case (c, i) => ((i + 1).toLong, c.toSeq) }.toSeq
      .toDF("cid", "cv")
      .localCheckpoint()
    for (_ <- 1 to iterations) {
      val assigned = assignCells(v.toDF("nid", "nv"), "nid", "nv", cent)
      val means = assigned
        .select(col("cell").as("cid"), posexplode(col("nv")))
        .groupBy("cid", "pos").agg(avg(col("col")).as("m"))
        .groupBy("cid").agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cid"), transform(col("pm"), p => p.getField("m")).as("cv"))
      cent = means
        .unionByName(cent.join(means.select("cid"), Seq("cid"), "left_anti")
          .select(col("cid"), transform(col("cv"), x => x.cast("double")).as("cv")))
        .localCheckpoint()
    }
    cent
  }

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
    * ~9× that at sf30 by the flop count; ProbeIvfBuild measures the A/B —
    * guide §5 "the driver is a bottleneck").
    * Only the per-point kernels run on the fork-join pool: each point's
    * argmax / min-distance slot is an independent pure function of
    * (point, centers) with its sequential inner loop unchanged, so every
    * double it writes is the exact bit pattern the serial loop wrote. The
    * order-sensitive reductions — the k-means++ cumulative draw, and the
    * per-cell sums (float addition does not commute) — stay sequential in
    * point order: O(sample·d) adds per iteration, noise next to the
    * O(sample·k·d) kernels. `visible-for-ProbeIvfBuild` (phase timing).
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

  /** Nearest-centroid cell per corpus vector (ties broken by lowest cid).
    *
    * Two output-identical tiers on the exact centroid count (round 16,
    * guide §1.2 "the distributed algorithm" / §4 codegen):
    *
    *  - k ≤ maxLocalCentroids (every measured scale; 2^17 × 64 dims × 8 B
    *    = 64 MiB, covers ~16M vectors under autoCentroids): the cosine
    *    argmax runs IN-ROW via the codegen'd [[graft.functions.NearestCells]]
    *    against the collected centroid matrix — one projection over n rows,
    *    zero join, zero aggregate. The retired form below is structurally
    *    shuffle-free too, but it MATERIALIZES n × k joined rows through the
    *    BroadcastNestedLoopJoin → project → partial-agg pipeline, each
    *    carrying the full vector — measured as the dominant term of the IVF
    *    build at sf10 (9.4e8 rows per assignment pass, 3 passes, ~66 s warm
    *    build) and the build's n²/128 scaling term under the autoCentroids
    *    rule.
    *  - above the tier: the broadcast join + bounded `max_by` (unchanged
    *    r15 form) — at that k the matrix should ride Spark's broadcast
    *    machinery, not the task binary.
    *
    * Identity across tiers (SimilaritySpec pins both on a tie/NaN fixture):
    * same `vector_dot / (nn·cn)` doubles, same (ccos DESC, cid ASC,
    * NaN-greatest, -0.0 = 0.0) comparator as `max_by(struct(ccos, -cid))`.
    */
  def assignCells(vectors: DataFrame, idCol: String, vecCol: String,
                  centroids: DataFrame,
                  maxLocalCentroids: Int =
                    graft.functions.NearestCells.defaultMaxLocalCentroids): DataFrame = {
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    if (centroids.count() <= maxLocalCentroids)
      assignCells(vectors, idCol, vecCol, graft.functions.CentroidMatrix.collect(centroids))
    else {
      vectors.select(col(idCol).as("nid"), col(vecCol).as("nv"),
          norm(col(vecCol)).as("nn"))
        .crossJoin(broadcast(centroids.withColumn("cn", norm(col("cv")))))
        .withColumn("ccos", cosinePre(col("nv"), col("cv"), col("nn"), col("cn")))
        .groupBy("nid")
        .agg(max_by(struct(col("nv"), col("cid")), struct(col("ccos"), -col("cid"))).as("best"))
        .select(col("nid"), col("best.nv").as("nv"), col("best.cid").as("cell"))
    }
  }

  /** The in-row tier of [[assignCells]] against an already-collected
    * centroid matrix — the form an append uses with the matrix of the
    * index version it holds open, so no tick re-reads the centroids.
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
    * time; [[persistIvfIndex]] stores `assigned` hive-partitioned by `cell`
    * so probes prune whole cell directories at scan time
    * ([[ivfTopKPersisted]]).
    */
  final case class IvfIndex(centroids: DataFrame, assigned: DataFrame)

  /** Persist the index for repeated probing: centroids as plain parquet
    * (tiny, broadcast at probe time), `assigned` hive-partitioned by `cell`
    * — the storage layout that turns "which cells to probe" into directory
    * pruning before a single footer is read. Overwrites `dir`.
    */
  def persistIvfIndex(index: IvfIndex, dir: String): Unit = {
    val spark = index.assigned.sparkSession
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    new graft.sources.ParquetDatabase(spark, s"$dir/centroids").create(index.centroids)
    // repartition on the partition column BEFORE the hive write: without
    // it every input task writes one file into every cell dir it sees —
    // tasks × k files (a ~50k-small-file creation storm at the sf10
    // rehearsal's k = 1563, caught grinding there). Clustered, each task
    // owns whole cells and the file count is O(k).
    new graft.sources.ParquetDatabase(spark, s"$dir/assigned")
      .create(index.assigned.repartition(col("cell")), partitionBy = Seq("cell"))
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
    // an interrupted append's pending marker resolves to a consistent
    // fingerprint first — without this, a crashed-but-landed append reads
    // as stale and triggers a full rebuild where a marker repair suffices.
    // ensure IS quiesced maintenance (a stale index is rebuilt in place,
    // which no protocol can reconcile with live appenders), so resolving
    // markers here cannot race a live writer.
    recoverIvfIndex(spark, dir)
    val idRow = vectors.agg(
      count(lit(1)), bit_xor(xxhash64(col(idCol)))).collect()(0)
    val n = idRow.getLong(0)
    val numCentroids = sizeRule(n)
    val fp = s"ivf-v1|n=$n|xor=${idRow.get(1)}" +
      s"|k=$numCentroids|iters=$kmeansIterations"
    val fpPath = new org.apache.hadoop.fs.Path(dir, "_fingerprint")
    val fs = fpPath.getFileSystem(vectors.sparkSession.sessionState.newHadoopConf())
    // the comparison strips a streaming-maintenance lastBatch field: a
    // batch-markered append updates (n, xor) compositionally, so an ensure
    // over the grown corpus must recognize the appended index as current
    // rather than rebuild it just because the ledger field is present
    val current =
      if (!fs.exists(fpPath)) None
      else Some(graft.sources.HadoopText.read(fs, fpPath)
        .split('|').filterNot(_.startsWith("lastBatch=")).mkString("|"))
    if (!current.contains(fp)) {
      persistIvfIndex(
        buildIvfIndex(vectors, idCol, vecCol, numCentroids, kmeansIterations), dir)
      graft.sources.HadoopText.write(fs, fpPath, fp)
    }
    (n, numCentroids)
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
    * at which point a rebuild (drop the dir, `ensureIvfIndex`) re-anchors.
    *
    * The corpus identity fingerprint is updated COMPOSITIONALLY — the id
    * XOR is combinable, so the new fingerprint is (n + n_batch,
    * xor ^ xor_batch) without re-scanning the existing corpus — and a later
    * `ensureIvfIndex` over the grown corpus recognizes the appended index
    * as current instead of rebuilding. Returns the rows appended.
    *
    * MULTI-WRITER (round 11): concurrent ingest ticks are CAS-gated by the
    * `_append_pending` marker, acquired create-no-overwrite BEFORE the
    * store state is read (acquisition-then-read, so a competitor's commit
    * can never be composed over). The loser aborts with a loud
    * ConcurrentModificationException and a retry re-reads and converges —
    * drilled by the two-writer stress in ConcurrentSketchWriterSpec. A
    * crashed holder's marker is resolved only by the QUIESCED
    * [[recoverIvfIndex]] (the streaming owner runs it at stream start);
    * a live append never resolves markers, because a marker it did not
    * create may belong to a live competitor mid-commit.
    */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                       newVectors: DataFrame, idCol: String, vecCol: String,
                       batchMarker: Option[Long] = None): Long = {
    graft.functions.GraftFunctions.register(spark)
    val fpPath = new org.apache.hadoop.fs.Path(dir, "_fingerprint")
    val fs = fpPath.getFileSystem(spark.sessionState.newHadoopConf())
    // A missing fingerprint beside `__rebalance_*` siblings is a RETRYABLE
    // CONFLICT, not a repair opportunity (round 13, closing the advisor's
    // window): a live rebalance is between its two renames for milliseconds
    // with exactly this signature (dir retired, complete stage waiting), and
    // that window is indistinguishable from a crashed swap. The round-12
    // posture ran recoverIvfRebalance here, which ROLLED THE LIVE SWAP
    // FORWARD — the swap committed, but the rebalancer's own promote rename
    // then failed and it reported a spurious "failed to promote"; concurrent
    // entry-recovers also raced each other's sibling sweeps. Now the append
    // aborts loudly and the retry rides through the window (the mutex-drill
    // pattern); a genuinely crashed swap is the operator's explicit quiesced
    // recoverIvfIndex, same as crashed append markers and healthy-tree
    // debris — a live append never resolves ANY state it did not create.
    if (!fs.exists(fpPath)) requireNoSwapInFlight(fs, dir, "appendToIvfIndex")
    require(fs.exists(fpPath),
      s"appendToIvfIndex: no fingerprinted index at $dir — build with ensureIvfIndex first")
    val pendingPath = new org.apache.hadoop.fs.Path(dir, "_append_pending")
    // ACQUIRE BEFORE READING STORE STATE: the marker is the store's commit
    // mutex (create-no-overwrite = the CAS primitive). Reading the
    // fingerprint first would let a competitor commit between the read and
    // the acquisition, and this append would compose its new identity over
    // a stale base — a lost update. Losers abort loudly and retry.
    if (!graft.sources.HadoopText.writeIfAbsent(fs, pendingPath, "acquiring"))
      throw new java.util.ConcurrentModificationException(
        s"appendToIvfIndex: another append (or a rebalance — it claims the " +
          s"same mutex) is in flight on $dir " +
          "(_append_pending exists) — retry after it completes, or run " +
          "recoverIvfIndex in a quiesced window if the holder crashed")
    // EVERYTHING between mutex acquisition and the identity-pair write runs
    // under a release-on-failure guard: the marker still holds only
    // "acquiring" (nothing staged), so deleting it on an abort is safe —
    // and NOT deleting it (a malformed fingerprint field, a failed batch
    // aggregate) would wedge every later appender at the gate until a
    // quiesced recoverIvfIndex, misreporting an IO/parse error as a
    // concurrency conflict.
    val staged: Option[(Long, String, IvfVersion)] =
      try {
        // the version this append composes over, held open: its centroid
        // matrix assigns the batch without re-reading the centroids
        val version = openIvfIndex(spark, dir)
        val fields = version.fingerprint.split('|').toSeq
        val kv = fields.collect { case f if f.contains("=") =>
          val Array(k, v) = f.split("=", 2); k -> v
        }.toMap
        // exactly-once under foreachBatch re-delivery: the LAST applied batch
        // id lives INSIDE the fingerprint, so it commits in the same atomic
        // write as the append's visibility and the crash protocol preserves
        // the right semantics in both directions — roll-forward restores the
        // marker (re-delivery no-ops), roll-back drops it (re-delivery
        // re-applies). Structured Streaming only ever re-delivers the most
        // recent uncommitted batch, so one monotone id suffices as the ledger
        // — and a marker STRICTLY below it can only mean the stream's
        // checkpoint and this index are no longer a pair (reset/foreign
        // checkpoint restarting ids at 0): fail loudly, because silently
        // no-opping would drop genuinely new data batch after batch.
        val lastBatch = kv.get("lastBatch").map(_.toLong).getOrElse(-1L)
        if (batchMarker.exists(_ == lastBatch)) None // clean no-op
        else {
          batchMarker.foreach { b =>
            if (b < lastBatch)
              throw new IllegalStateException(
                s"appendToIvfIndex: batch $b is older than the index's ledger " +
                  s"(lastBatch=$lastBatch at $dir) — the streaming checkpoint and this " +
                  "index are mismatched; re-pair them or rebuild the index")
          }
          // batch identity BEFORE any write: the pending marker must name
          // both the state being left and the state being entered, so a
          // crash at any point is resolvable by comparing the store's
          // ACTUAL ids to the two.
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
          // the owned marker now names the (old, new) identity pair — a
          // crash from here on is resolvable by comparing the store's
          // ACTUAL ids to the two (recoverIvfIndex)
          writeSmallText(fs, pendingPath, s"${fields.mkString("|")}\n$newFp")
          Some((nBatch, newFp, version))
        }
      } catch { case t: Throwable => fs.delete(pendingPath, false); throw t }
    if (staged.isEmpty) {
      fs.delete(pendingPath, false) // clean no-op: release the mutex
      return 0L
    }
    val (nBatch, newFp, version) = staged.get
    new graft.sources.ParquetDatabase(spark, s"$dir/assigned")
      .create(assignCells(spread(newVectors), idCol, vecCol, version.matrix)
          .repartition(col("cell")),
        partitionBy = Seq("cell"))
    writeSmallText(fs, fpPath, newFp)
    // still under the mutex, so the fingerprint just written is the newest
    // version: it keeps the matrix (appends never touch `centroids`) and
    // lists `assigned` afresh on its first probe
    openVersions.put(versionKey(spark, fs, dir), new IvfVersion(newFp,
      fs.getFileStatus(fpPath).getModificationTime, version.matrix, spark, dir))
    fs.delete(pendingPath, false)
    nBatch
  }

  /** Repair an interrupted [[appendToIvfIndex]] — the persisted-index
    * member of the shared store-recovery protocol (MinHash segments,
    * DistinctSketch retire-then-promote): the `_append_pending` marker
    * written before any data names the (n, xor) identity of both the
    * pre-append and post-append states, so recovery re-derives the
    * assigned store's ACTUAL identity with one column-pruned id scan and
    * rolls the fingerprint FORWARD (batch landed — the job committed its
    * files before the crash) or BACK (nothing landed — Spark's job commit
    * is the visibility point, an uncommitted write left only `_temporary`
    * debris that parquet readers ignore). Any other actual identity fails
    * loudly. Idempotent; no-op without a marker. Returns the action taken.
    */
  def recoverIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String): Option[String] = {
    // an interrupted REBALANCE swap leaves the index dir itself missing or
    // shadowed by staging siblings — resolve that first, so the append
    // repair below always operates on a present, consistent tree
    recoverIvfRebalance(spark, dir)
    val pendingPath = new org.apache.hadoop.fs.Path(dir, "_append_pending")
    val fs = pendingPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(pendingPath)) None
    else if (!readSmallText(fs, pendingPath).contains('\n')) {
      // crash between mutex acquisition and the identity-pair write:
      // nothing was staged, the marker is just a held lock — release it
      fs.delete(pendingPath, false)
      Some("released-unstarted-append")
    } else {
      val Array(oldFp, newFp) = readSmallText(fs, pendingPath).split('\n')
      def identity(fp: String): (Long, Long) = {
        val kv = fp.split('|').collect { case f if f.contains("=") =>
          val Array(k, v) = f.split("=", 2); k -> v
        }.toMap
        (kv("n").toLong, kv("xor").toLong)
      }
      val idRow = spark.read.parquet(s"$dir/assigned")
        .agg(count(lit(1)), bit_xor(xxhash64(col("nid")))).collect()(0)
      val actual = (idRow.getLong(0), if (idRow.isNullAt(1)) 0L else idRow.getLong(1))
      val fpPath = new org.apache.hadoop.fs.Path(dir, "_fingerprint")
      val action =
        if (actual == identity(newFp)) { writeSmallText(fs, fpPath, newFp); "rolled-forward" }
        else if (actual == identity(oldFp)) { writeSmallText(fs, fpPath, oldFp); "rolled-back" }
        else throw new IllegalStateException(
          s"recoverIvfIndex: assigned store at $dir matches neither the pre-append " +
            s"($oldFp) nor the post-append ($newFp) identity — actual (n, xor) = $actual; " +
            "rebuild the index (drop the dir, ensureIvfIndex)")
      fs.delete(pendingPath, false)
      Some(action)
    }
  }

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
    val kv = readSmallText(fs, fpPath).split('|').collect {
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
    * the index lives), k-means re-runs at sizeRule(n), and the new
    * fingerprint keeps (n, xor, lastBatch) verbatim with only k/iters
    * updated — so a foreachBatch stream paired with this index resumes
    * exactly-once semantics across the rebuild.
    *
    * Crash safety (the compactMinHashStore shape, whole-tree form): the
    * full new tree (centroids + assigned + `_fingerprint`, the fingerprint
    * written LAST as the stage's completeness sentinel) stages at the
    * invocation-unique sibling `<dir>__rebalance_tmp_<token>`; the swap is
    * dir → `<dir>__rebalance_old_<token>` then stage → dir; every crash
    * window resolves in [[recoverIvfRebalance]] (complete stage rolls
    * FORWARD, anything less rolls the old tree BACK — a crashed rebalance
    * never reported success, so rollback is always safe).
    *
    * QUIESCE CONTRACT (same as compactMinHashStore): a maintenance write —
    * no concurrent appends or probes while it runs. Since round 12 the
    * append half of the contract is ENFORCED, not assumed: the rebalance
    * claims the store's `_append_pending` mutex for its whole duration, so
    * a concurrent [[appendToIvfIndex]] aborts loudly at its own acquisition
    * instead of committing into the moved-aside tree during the staged swap
    * (where the promoted rebuild would silently drop its rows while the
    * ledger claimed the batch was applied). An append already holding the
    * mutex makes the REBALANCE abort loudly. Probes must still quiesce.
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
    val fpPath = new org.apache.hadoop.fs.Path(dir, "_fingerprint")
    val fs = fpPath.getFileSystem(spark.sessionState.newHadoopConf())
    // a missing fingerprint beside __rebalance_* siblings aborts as a
    // retryable conflict rather than resolving the swap (see the identical
    // guard in appendToIvfIndex): a competitor rebalance mid-swap has this
    // exact signature for milliseconds, and entry-resolving it would commit
    // the competitor's swap under it and make ITS promote fail spuriously.
    // Crashed swaps, crashed markers and healthy-tree debris are all the
    // caller's explicit quiesced recoverIvfIndex, as everywhere else.
    if (!fs.exists(fpPath)) requireNoSwapInFlight(fs, dir, "rebalanceIvfIndex")
    require(fs.exists(fpPath),
      s"rebalanceIvfIndex: no fingerprinted index at $dir — build with ensureIvfIndex first")
    // claim the append mutex for the whole rebalance (see the scaladoc's
    // quiesce contract): acquisition failure = an append is mid-commit
    val pendingPath = new org.apache.hadoop.fs.Path(dir, "_append_pending")
    if (!graft.sources.HadoopText.writeIfAbsent(fs, pendingPath, "rebalancing"))
      throw new java.util.ConcurrentModificationException(
        s"rebalanceIvfIndex: an append is in flight on $dir (_append_pending " +
          "exists) — retry after it completes, or run recoverIvfIndex in a " +
          "quiesced window if the holder crashed")
    // Release accounting across the swap: pre-retire, the marker lives at
    // dir/_append_pending and an abort deletes it there. The retire rename
    // carries it into the moved-aside OLD tree (still guarding the gap: an
    // append cannot acquire at dir while dir is absent — its entry guard
    // aborts it as a retryable conflict — and after the promote the NEW tree has no
    // marker, deliberately open for appends). Success deletes the old tree,
    // marker included; a promote failure leaves the marker in the old tree,
    // where recoverIvfRebalance's rollback restores it and the quiesced
    // recoverIvfIndex releases it as an unstarted append.
    var retired = false
    try {
      val fpText = readSmallText(fs, fpPath)
      val kv = fpText.split('|').collect {
        case f if f.contains("=") => val Array(k, v) = f.split("=", 2); k -> v
      }.toMap
      val newK = sizeRule(kv("n").toLong)
      if (!force && newK == kv("k").toInt) return None
      val token = java.util.UUID.randomUUID().toString.take(8)
      val tmp = s"${dir}__rebalance_tmp_$token"
      val vectors = spark.read.parquet(s"$dir/assigned").select(col("nid"), col("nv"))
      val cent = kmeansCentroids(vectors, "nid", "nv", newK, kmeansIterations)
      new graft.sources.ParquetDatabase(spark, s"$tmp/centroids").create(cent)
      new graft.sources.ParquetDatabase(spark, s"$tmp/assigned")
        .create(assignCells(spread(vectors), "nid", "nv", cent).repartition(col("cell")),
          partitionBy = Seq("cell"))
      val newFp = fpText.split('|').map {
        case f if f.startsWith("k=") => s"k=$newK"
        case f if f.startsWith("iters=") => s"iters=$kmeansIterations"
        case f => f
      }.mkString("|")
      // completeness sentinel: written only after both stores landed
      writeSmallText(fs, new org.apache.hadoop.fs.Path(tmp, "_fingerprint"), newFp)
      val old = s"${dir}__rebalance_old_$token"
      if (!fs.rename(new org.apache.hadoop.fs.Path(dir), new org.apache.hadoop.fs.Path(old)))
        throw new java.io.IOException(
          s"rebalanceIvfIndex: failed to move $dir aside — index untouched, staging at $tmp")
      retired = true
      if (!fs.rename(new org.apache.hadoop.fs.Path(tmp), new org.apache.hadoop.fs.Path(dir)))
        throw new java.io.IOException(
          s"rebalanceIvfIndex: failed to promote $tmp — run recoverIvfRebalance")
      fs.delete(new org.apache.hadoop.fs.Path(old), true)
      Some(newK)
    } finally {
      // pre-retire exits (no-op return, staging failure, retire failure):
      // the marker is still at dir/_append_pending — release it. Post-
      // retire, the marker traveled with the old tree (deleted on success,
      // recover-resolved on a promote failure) — nothing to do here.
      if (!retired) fs.delete(pendingPath, false)
    }
  }

  /** Repair an interrupted [[rebalanceIvfIndex]]. Healthy index dir →
    * staging/old siblings are debris, dropped. Missing index dir → a
    * COMPLETE stage (its `_fingerprint` sentinel present, written last)
    * rolls FORWARD; otherwise the moved-aside old tree rolls BACK (always
    * safe: a crashed rebalance never reported success). Ambiguity (several
    * complete stages, or several old trees with no complete stage) fails
    * loudly — under the op's quiesce contract it can only mean un-swept
    * foreign debris. Idempotent; returns the actions taken.
    */
  def recoverIvfRebalance(spark: org.apache.spark.sql.SparkSession, dir: String): Seq[String] = {
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    val parent = base.getParent
    if (parent == null || !fs.exists(parent)) return Nil
    val name = base.getName
    val sibs = fs.listStatus(parent).iterator.map(_.getPath)
      .filter(_.getName.startsWith(name + "__rebalance_")).toSeq.sortBy(_.toString)
    if (sibs.isEmpty) return Nil
    val tmps = sibs.filter(_.getName.startsWith(name + "__rebalance_tmp_"))
    val olds = sibs.filter(_.getName.startsWith(name + "__rebalance_old_"))
    val actions = Seq.newBuilder[String]
    if (fs.exists(base)) {
      for (p <- sibs) { fs.delete(p, true); actions += s"dropped leftover $p" }
    } else {
      val complete = tmps.filter(t => fs.exists(new org.apache.hadoop.fs.Path(t, "_fingerprint")))
      if (complete.size == 1) {
        if (!fs.rename(complete.head, base))
          throw new java.io.IOException(s"recoverIvfRebalance: failed to promote ${complete.head}")
        actions += s"completed interrupted rebalance: ${complete.head} -> $dir"
        for (p <- sibs if p != complete.head && fs.exists(p)) {
          fs.delete(p, true); actions += s"dropped $p"
        }
      } else if (complete.isEmpty && olds.size == 1) {
        if (!fs.rename(olds.head, base))
          throw new java.io.IOException(s"recoverIvfRebalance: failed to restore ${olds.head}")
        actions += s"rolled back interrupted rebalance: ${olds.head} -> $dir"
        for (p <- tmps if fs.exists(p)) { fs.delete(p, true); actions += s"dropped $p" }
      } else {
        throw new java.io.IOException(
          s"recoverIvfRebalance: $dir is missing with ${complete.size} complete stage(s) " +
            s"and ${olds.size} old tree(s) — ambiguous; resolve manually")
      }
    }
    actions.result()
  }

  /** Entry guard for the mutating store ops when the fingerprint is absent:
    * `__rebalance_*` siblings mean a swap is (or was, if the holder crashed)
    * in flight — a live swap's ms-wide retire-to-promote window has exactly
    * the crashed-swap signature, so the only safe response for a WRITER is
    * a loud retryable abort. Resolution belongs to the quiesced
    * [[recoverIvfIndex]] alone.
    */
  private def requireNoSwapInFlight(fs: org.apache.hadoop.fs.FileSystem,
                                    dir: String, op: String): Unit = {
    val base = new org.apache.hadoop.fs.Path(dir)
    val parent = base.getParent
    if (parent == null || !fs.exists(parent)) return
    val name = base.getName
    val sibs = fs.listStatus(parent).iterator.map(_.getPath.getName)
      .filter(_.startsWith(name + "__rebalance_")).toSeq.sorted
    if (sibs.nonEmpty)
      throw new java.util.ConcurrentModificationException(
        s"$op: $dir has no _fingerprint but rebalance siblings exist " +
          s"(${sibs.mkString(", ")}) — a rebalance swap may be mid-promote; " +
          "retry after it completes, or run recoverIvfIndex in a quiesced " +
          "window if the holder crashed")
  }

  private def readSmallText(fs: org.apache.hadoop.fs.FileSystem,
                            p: org.apache.hadoop.fs.Path): String =
    graft.sources.HadoopText.read(fs, p)

  private def writeSmallText(fs: org.apache.hadoop.fs.FileSystem,
                             p: org.apache.hadoop.fs.Path, text: String): Unit =
    graft.sources.HadoopText.write(fs, p, text)

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

  private def versionKey(spark: org.apache.spark.sql.SparkSession,
                         fs: org.apache.hadoop.fs.FileSystem,
                         dir: String): (org.apache.spark.sql.SparkSession, String) =
    (spark, fs.makeQualified(new org.apache.hadoop.fs.Path(dir)).toString)

  /** The open version of the index at `dir`, reused while its
    * `_fingerprint` text and modification time are both unchanged: one
    * stat and one small read per call. Every writer writes `_fingerprint`
    * last — ensureIvfIndex's rebuild, appendToIvfIndex, rebalanceIvfIndex
    * (whose same-k rebuild keeps the text but not the mtime) and
    * recoverIvfIndex — so a caller never reuses a version a writer has
    * replaced. A dir without `_fingerprint` (persistIvfIndex alone) is
    * opened afresh on every call and never cached.
    */
  private def openIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String): IvfVersion = {
    val fpPath = new org.apache.hadoop.fs.Path(dir, "_fingerprint")
    val fs = fpPath.getFileSystem(spark.sessionState.newHadoopConf())
    val key = versionKey(spark, fs, dir)
    def open(fp: String, mtime: Long) = new IvfVersion(fp, mtime,
      graft.functions.CentroidMatrix.collect(spark.read.parquet(s"$dir/centroids")), spark, dir)
    val stat =
      try Some(fs.getFileStatus(fpPath))
      catch { case _: java.io.FileNotFoundException => None }
    stat match {
      case None =>
        openVersions.remove(key)
        open("", 0L)
      case Some(st) =>
        val fp = readSmallText(fs, fpPath)
        val held = openVersions.get(key)
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
    * `_fingerprint` is opened afresh on every call.
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
    * swaps the tree (its quiesce contract); appends may run concurrently,
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
    val index = openIvfIndex(spark, indexDir)
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
    val cent = kmeansCentroids(vectors, idCol, vecCol, numCentroids, kmeansIterations)
    IvfIndex(cent, assignCells(spread(vectors), idCol, vecCol, cent))
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
                  maxCellFraction: Double = 0.25,
                  maxLocalCentroids: Int =
                    graft.functions.NearestCells.defaultMaxLocalCentroids): DataFrame = {
    graft.functions.GraftFunctions.register(index.assigned.sparkSession)
    // cell sizes: ≤ numCentroids rows — broadcast-sized by construction
    val n = index.assigned.count()
    val maxCell = math.max(1L, (maxCellFraction * n).toLong)
    val subCounts = index.assigned.groupBy("cell")
      .agg(ceil(count(lit(1)).cast("double") / maxCell).cast("long").as("nsub"))
      .localCheckpoint()
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
    //  - r16 form: the codegen'd [[graft.functions.NearestCells]] — the
    //    top-nprobe cells computed IN-ROW against the collected centroid
    //    matrix: one projection over n rows, zero join, zero aggregate, and
    //    the kernels JIT-compile (no HOF dispatch). Above maxLocalCentroids
    //    the broadcast join of centroid ROWS + the nprobe-bounded
    //    [[graft.functions.Aggregators.TopKAggD]] remains (its exchange is
    //    n buffer rows, never n × k) — the interim r16 form this round
    //    measured at 39 s / sf10 before the expression landed.
    // Ordering corners that must MATCH the retired window's sort for output
    // identity: both tiers rank (pcos DESC, cid ASC) with NaN greatest and
    // -0.0 == 0.0 — exactly Spark's SQLOrderingUtil ordering (AggregatorsSpec
    // pins TopKAggD against a live window; NearestCellsSpec pins the
    // expression against the join+aggregate tier); SimilaritySpec pins this
    // whole path against the retired window form on a tie-heavy fixture.
    val corpusQ = index.assigned.select(col("nid").as("qid"), col("nv").as("qv"),
      norm(col("nv")).as("qn"))
    val topCells =
      if (index.centroids.count() <= maxLocalCentroids) {
        val mat = graft.functions.CentroidMatrix.collect(index.centroids)
        corpusQ.select(col("qid"), col("qv"), col("qn"),
          explode(org.apache.spark.sql.graft.ColumnBridge.column(
            graft.functions.NearestCells(
              org.apache.spark.sql.graft.ColumnBridge.expression(col("qv")), mat, nprobe)))
            .as("cell"))
      } else {
        // qv/qn are functionally dependent on qid, so first() is
        // deterministic here
        val probeAgg = udaf(new graft.functions.Aggregators.TopKAggD(nprobe))
        corpusQ
          .crossJoin(broadcast(index.centroids.withColumn("cn", norm(col("cv")))))
          .withColumn("pcos", cosinePre(col("qv"), col("cv"), col("qn"), col("cn")))
          .groupBy(col("qid"))
          .agg(first(col("qv")).as("qv"), first(col("qn")).as("qn"),
            probeAgg(col("pcos"), col("cid")).as("topc"))
          .select(col("qid"), col("qv"), col("qn"), explode(col("topc")).as("t"))
          .select(col("qid"), col("qv"), col("qn"), col("t._2").as("cell"))
      }
    val probes = topCells
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
