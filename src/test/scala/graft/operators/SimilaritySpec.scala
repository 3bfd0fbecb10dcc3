package graft.operators

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic pseudo-random unit-ish vectors in `dim` dims, clustered:
    * vector i belongs to cluster i % clusters; cluster base + small
    * per-vector jitter, so same-cluster vectors have high cosine.
    */
  private def clustered(n: Int, dim: Int, clusters: Int, jitter: Double): Seq[(Long, Seq[Float])] = {
    val rng = new java.util.SplittableRandom(42L)
    val bases = Seq.fill(clusters)(Seq.fill(dim)(rng.nextDouble() * 2 - 1))
    (0 until n).map { i =>
      val base = bases(i % clusters)
      val v = base.map(x => (x + (rng.nextDouble() * 2 - 1) * jitter).toFloat)
      (i.toLong, v)
    }
  }

  test("autoCentroids holds cell size constant across corpus growth") {
    // the anti-superlinearity rule: 10× corpus → ~10× cells, never 10× cell
    // population (PROFILE.md round-9 rehearsal measured 19× self-top-k cost
    // at 10× data with a frozen centroid count)
    assert(Similarity.autoCentroids(2000) === 16)   // floor keeps tiny corpora sane
    assert(Similarity.autoCentroids(20000) === 157)
    val c1 = Similarity.autoCentroids(10L * 1000 * 1000)
    val c10 = Similarity.autoCentroids(100L * 1000 * 1000)
    assert(math.abs(c10.toDouble / c1 - 10.0) < 0.01)
    assert(Similarity.autoCentroids(Long.MaxValue) === (1 << 20)) // cap, no overflow
  }

  test("mergeTopK over a corpus/batch split equals the full-corpus exact top-k") {
    val vecs = clustered(60, 16, 4, jitter = 0.05)
    val full = vecs.toDF("vec_id", "embedding")
    val q = full.filter($"vec_id" < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rn", "nid").orderBy("qid", "rn")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    for (k <- Seq(3, 10, 25)) {
      // k=25 > batch size (12 rows at %5==0): the batch arm returns fewer
      // than k rows and the merge must still be exact
      val prior = Similarity.cosineTopK(
        full.filter($"vec_id" % 5 =!= 0), q, "vec_id", "embedding", k)
      val delta = Similarity.cosineTopK(
        full.filter($"vec_id" % 5 === 0), q, "vec_id", "embedding", k)
      val merged = Similarity.mergeTopK(prior, delta, k)
      val direct = Similarity.cosineTopK(full, q, "vec_id", "embedding", k)
      assert(rows(merged) === rows(direct), s"merge diverged from recompute at k=$k")
    }
    // an empty batch arm degenerates to the prior ranking unchanged
    val prior = Similarity.cosineTopK(
      full.filter($"vec_id" % 5 =!= 0), q, "vec_id", "embedding", 10)
    val none = Similarity.cosineTopK(
      full.filter($"vec_id" < 0), q, "vec_id", "embedding", 10)
    assert(rows(Similarity.mergeTopK(prior, none, 10)) === rows(prior))
  }

  test("cosineTopK ranks an identical vector first") {
    val vecs = clustered(40, 16, 4, jitter = 0.05)
    // vector 36 is in cluster 0 alongside 0, 4, 8...
    val df = vecs.toDF("vec_id", "embedding")
    val top = Similarity.cosineTopK(df, df.filter($"vec_id" === 0), "vec_id", "embedding", k = 5)
      .orderBy("rn").collect()
    assert(top.length === 5)
    // all top-5 neighbors of a cluster-0 member are cluster-0 members
    assert(top.forall(r => r.getAs[Long]("nid") % 4 === 0))
    assert(top.head.getAs[Double]("cos") > 0.99)
  }

  test("IVF append crash drill: a crashed append rolls back byte-exactly and its re-append converges") {
    import graft.sources.{CommitFixtures, FileCommit, HadoopText}
    val dir = s"target/tmp/ivf_spec_crash/${java.util.UUID.randomUUID}"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def readText(name: String): String = HadoopText.read(fs, new org.apache.hadoop.fs.Path(dir, name))
    val base = clustered(60, 16, 4, jitter = 0.05).toDF("vec_id", "embedding")
    Similarity.ensureIvfIndex(spark, dir, base, "vec_id", "embedding", numCentroids = 4)
    val committed = CommitFixtures.tree(fs, dir)
    val oldFp = readText("_fingerprint")
    val batch = clustered(10, 16, 4, jitter = 0.05)
      .map { case (i, v) => (i + 1000L, v) }.toDF("vec_id", "embedding")
    // the append's commit, crashed in two windows: mid-move, and after its
    // last move-in (the new fingerprint live) before the release
    for (token <- Seq("crash001", "crash002")) {
      CommitFixtures.midMove(fs, dir, Seq("_fingerprint"), token) { stage =>
        Similarity.assignCells(batch, "vec_id", "embedding", spark.read.parquet(s"$dir/centroids"))
          .write.partitionBy("cell").parquet(s"$stage/assigned")
        HadoopText.write(fs, new org.apache.hadoop.fs.Path(stage, "_fingerprint"),
          oldFp.replace("n=60", "n=70"))
      }
      if (token == "crash002") CommitFixtures.moveRest(fs, dir, Seq("_fingerprint"), token)
      intercept[java.util.ConcurrentModificationException](
        Similarity.appendToIvfIndex(spark, dir, batch, "vec_id", "embedding"))
      assert(FileCommit.recover(spark, dir).exists(_.startsWith("restored")))
      assert(CommitFixtures.tree(fs, dir) === committed, s"$token did not roll back exactly")
      assert(FileCommit.recover(spark, dir).isEmpty) // idempotent
    }
    // the rolled-back index is current for the base corpus, and the
    // re-append composes the same identity a clean append would
    val centMtime = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(s"$dir/centroids")).getModificationTime
    Similarity.ensureIvfIndex(spark, dir, base, "vec_id", "embedding", numCentroids = 4)
    assert(CommitFixtures.tree(fs, dir) === committed, "ensureIvfIndex rebuilt a rolled-back index")
    assert(Similarity.appendToIvfIndex(spark, dir, batch, "vec_id", "embedding") === 10L)
    assert(readText("_fingerprint").contains("n=70"))
    Similarity.ensureIvfIndex(spark, dir, base.unionByName(batch), "vec_id", "embedding",
      numCentroids = 4)
    assert(fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$dir/centroids"))
      .getModificationTime === centMtime, "ensureIvfIndex rebuilt a healthy appended index")
    val out = Similarity.ivfTopKPersisted(spark, dir, base.filter($"vec_id" === 0),
      "vec_id", "embedding", k = 3, nprobe = 4).collect()
    assert(out.length === 3)
  }

  test("auditIvfIndex flags sizing staleness and cell skew; rebalance repairs sizing and keeps the ledger") {
    import org.apache.spark.sql.functions._
    val dir = s"target/tmp/ivf_spec_audit/${java.util.UUID.randomUUID}"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // 200 vectors, k pinned far below the rule at targetCellSize=8
    // (kAuto=25): sizing-stale by construction
    val base = clustered(200, 16, 8, jitter = 0.05).toDF("vec_id", "embedding")
    Similarity.ensureIvfIndex(spark, dir, base, "vec_id", "embedding", numCentroids = 4)
    Similarity.appendToIvfIndex(spark, dir,
      clustered(20, 16, 8, jitter = 0.05).map { case (i, v) => (i + 5000L, v) }
        .toDF("vec_id", "embedding"),
      "vec_id", "embedding", batchMarker = Some(7L))
    val stale = Similarity.auditIvfIndex(spark, dir, targetCellSize = 8)
    assert(stale.n === 220L && stale.k === 4 && stale.kAuto === 28 && !stale.sizingFresh)
    val ex = intercept[IllegalStateException](
      Similarity.requireBalancedIvfIndex(spark, dir, targetCellSize = 8))
    assert(ex.getMessage.contains("sizing-stale"), ex.getMessage)
    // rebalance under the rule: k follows, identity (n) and the streaming
    // batch ledger survive, no vector is lost, probes still answer
    val rebuilt = Similarity.rebalanceIvfIndex(spark, dir,
      Similarity.autoCentroids(_, targetCellSize = 8))
    assert(rebuilt === Some(28))
    val post = Similarity.requireBalancedIvfIndex(spark, dir, targetCellSize = 8)
    assert(post.n === 220L && post.k === 28 && post.sizingFresh)
    val fp = graft.sources.HadoopText.read(fs, new org.apache.hadoop.fs.Path(dir, "_fingerprint"))
    assert(fp.contains("lastBatch=7") && fp.contains("k=28"), fp)
    assert(spark.read.parquet(s"$dir/assigned").count() === 220L)
    assert(Similarity.ivfTopKPersisted(spark, dir, base.filter($"vec_id" === 0),
      "vec_id", "embedding", k = 3, nprobe = 28).count() === 3L)
    // a satisfied rule is a no-op (the compactSmallFiles convention)
    assert(Similarity.rebalanceIvfIndex(spark, dir,
      Similarity.autoCentroids(_, targetCellSize = 8)) === None)
    // the ledgered append path composes onto the REBUILT index
    assert(Similarity.appendToIvfIndex(spark, dir,
      clustered(10, 16, 8, jitter = 0.05).map { case (i, v) => (i + 9000L, v) }
        .toDF("vec_id", "embedding"),
      "vec_id", "embedding", batchMarker = Some(8L)) === 10L)

    // SKEW signal: identical-direction vectors collapse into one cell —
    // sizing is fine, the loud threshold is the per-cell bound
    val dir2 = s"target/tmp/ivf_spec_audit/${java.util.UUID.randomUUID}"
    val dup = (0 until 200).map(i => (i.toLong, Seq.fill(16)(1.0f))).toDF("vec_id", "embedding")
    Similarity.ensureIvfIndex(spark, dir2, dup, "vec_id", "embedding", numCentroids = 16)
    val skew = Similarity.auditIvfIndex(spark, dir2, targetCellSize = 8)
    assert(skew.sizingFresh && !skew.cellsBalanced && skew.maxCell === 200L)
    val ex2 = intercept[IllegalStateException](
      Similarity.requireBalancedIvfIndex(spark, dir2, targetCellSize = 8))
    assert(ex2.getMessage.contains("skewed"), ex2.getMessage)
  }

  test("append and rebalance share the commit gate: a held gate aborts both; racing them loses no batch") {
    import org.apache.spark.sql.functions.col
    val dir = s"target/tmp/ivf_spec_mutex/${java.util.UUID.randomUUID}"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val gate = new org.apache.hadoop.fs.Path(dir + "__patch_old")
    val base = clustered(200, 16, 8, jitter = 0.05).toDF("vec_id", "embedding")
    Similarity.ensureIvfIndex(spark, dir, base, "vec_id", "embedding", numCentroids = 4)

    // a commit holds the gate (a peer mid-move): the rebalance and the
    // append both abort loudly instead of reading a tree it is moving
    fs.mkdirs(gate)
    graft.sources.HadoopText.write(fs, new org.apache.hadoop.fs.Path(gate, "_manifest"), "")
    val ex1 = intercept[java.util.ConcurrentModificationException] {
      Similarity.rebalanceIvfIndex(spark, dir,
        Similarity.autoCentroids(_, targetCellSize = 8))
    }
    assert(ex1.getMessage.contains("commit manifest"), ex1.getMessage)
    val ex2 = intercept[java.util.ConcurrentModificationException] {
      Similarity.appendToIvfIndex(spark, dir,
        clustered(10, 16, 8, jitter = 0.05).map { case (i, v) => (i + 7000L, v) }
          .toDF("vec_id", "embedding"), "vec_id", "embedding")
    }
    assert(ex2.getMessage.contains("commit manifest"), ex2.getMessage)
    fs.delete(gate, true)

    // release accounting: both the no-op path and a completed rebalance
    // leave the gate free — appends are open again after
    assert(Similarity.rebalanceIvfIndex(spark, dir,
      Similarity.autoCentroids(_, targetCellSize = 8)) === Some(25))
    assert(!fs.exists(gate), "completed rebalance must release the gate")
    assert(Similarity.rebalanceIvfIndex(spark, dir,
      Similarity.autoCentroids(_, targetCellSize = 8)) === None) // satisfied rule: no-op
    assert(!fs.exists(gate), "no-op rebalance must not hold the gate")
    assert(Similarity.appendToIvfIndex(spark, dir,
      clustered(10, 16, 8, jitter = 0.05).map { case (i, v) => (i + 8000L, v) }
        .toDF("vec_id", "embedding"), "vec_id", "embedding") === 10L)

    // two-thread drill: a looping appender and a forced rebalance race the
    // same store with retries on the loud aborts — no appended batch may be
    // dropped by a rebalance's commit, and the final identity must account for
    // every batch that reported success
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val appended = new java.util.concurrent.atomic.AtomicLong(0L)
    def retrying(tag: String)(body: => Unit): Unit = {
      var attempt = 0
      var done = false
      while (!done) {
        try { body; done = true }
        catch {
          // retryable aborts: the gate or fingerprint CME, a lost rename
          // race (IOException), and the ms-wide move window where a peer's
          // files are aside (the entry require -> IllegalArgumentException,
          // a parquet read -> AnalysisException PATH_NOT_FOUND)
          case e @ (_: java.util.ConcurrentModificationException | _: java.io.IOException
                    | _: IllegalArgumentException
                    | _: org.apache.spark.sql.AnalysisException) =>
            attempt += 1
            // generous: the appender may commit through a whole k-means +
            // staged-write rebalance several times over
            if (attempt > 100) throw new IllegalStateException(s"$tag: no convergence", e)
            Thread.sleep(25L * math.min(attempt, 20))
        }
      }
    }
    val appender = new Thread(() => {
      try (0 until 4).foreach { i =>
        retrying(s"append-$i") {
          Similarity.appendToIvfIndex(spark, dir,
            clustered(10, 16, 8, jitter = 0.05)
              .map { case (j, v) => (j + 10000L + i * 100L, v) }
              .toDF("vec_id", "embedding"), "vec_id", "embedding")
          appended.addAndGet(10L)
        }
      } catch { case t: Throwable => errors.add(t) }
    }, "mutex-appender")
    val rebalancer = new Thread(() => {
      try (0 until 2).foreach { i =>
        retrying(s"rebalance-$i") {
          Similarity.rebalanceIvfIndex(spark, dir,
            Similarity.autoCentroids(_, targetCellSize = 8), force = true)
        }
      } catch { case t: Throwable => errors.add(t) }
    }, "mutex-rebalancer")
    appender.start(); rebalancer.start()
    appender.join(300000); rebalancer.join(300000)
    assert(errors.isEmpty, s"thread errors: ${errors.toArray.mkString("; ")}")
    assert(appended.get === 40L)
    // every successful append's rows survived the rebalances
    // (200 base + 10 pre-thread append + the threads' 40)
    assert(spark.read.parquet(s"$dir/assigned").count() === 210L + appended.get)
    val fp = graft.sources.HadoopText.read(fs,
      new org.apache.hadoop.fs.Path(dir, "_fingerprint"))
    assert(fp.contains(s"n=${210L + appended.get}"), fp)
    assert(!fs.exists(gate))
  }

  test("IVF rebalance crash drill: a crashed rebalance rolls back byte-exactly; writers abort until recover") {
    import graft.sources.{CommitFixtures, FileCommit}
    val root = s"target/tmp/ivf_spec_rebal/${java.util.UUID.randomUUID}"
    val dir = s"$root/ivf"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def P(s: String) = new org.apache.hadoop.fs.Path(s)
    val base = clustered(100, 16, 4, jitter = 0.05).toDF("vec_id", "embedding")
    Similarity.ensureIvfIndex(spark, dir, base, "vec_id", "embedding", numCentroids = 4)
    val committed = CommitFixtures.tree(fs, dir)
    // the rebalance's commit replaces every file: the staged tree is a
    // complete 5-cell index, crashed mid-move and after its last move-in
    val touched = Seq("centroids", "assigned", "_fingerprint")
    for (token <- Seq("crash001", "crash002")) {
      CommitFixtures.midMove(fs, dir, touched, token) { stage =>
        Similarity.ensureIvfIndex(spark, stage.toString, base, "vec_id", "embedding",
          numCentroids = 5)
      }
      if (token == "crash002") CommitFixtures.moveRest(fs, dir, touched, token)
      val midMove = CommitFixtures.tree(fs, dir)
      val exApp = intercept[java.util.ConcurrentModificationException] {
        Similarity.appendToIvfIndex(spark, dir,
          clustered(5, 16, 4, jitter = 0.05).toDF("vec_id", "embedding"), "vec_id", "embedding")
      }
      assert(exApp.getMessage.contains("commit manifest"), exApp.getMessage)
      intercept[java.util.ConcurrentModificationException] {
        Similarity.rebalanceIvfIndex(spark, dir, Similarity.autoCentroids(_), force = true)
      }
      assert(CommitFixtures.tree(fs, dir) === midMove, s"$token: a writer touched the commit")
      val acts = FileCommit.recover(spark, dir)
      assert(acts.exists(_.startsWith("restored")), acts.mkString("; "))
      assert(CommitFixtures.tree(fs, dir) === committed, s"$token did not roll back exactly")
      assert(Similarity.loadIvfIndex(spark, dir).centroids.count() === 4L)
    }
    // idempotent no-op on a clean tree; a real rebalance then commits and
    // leaves no sibling behind
    assert(FileCommit.recover(spark, dir).isEmpty)
    assert(Similarity.rebalanceIvfIndex(spark, dir, _ => 5, force = true) === Some(5))
    assert(Similarity.loadIvfIndex(spark, dir).centroids.count() === 5L)
    assert(fs.listStatus(P(root)).map(_.getPath.getName).toSeq === Seq("ivf"))
  }

  test("auto-sized persisted index carries exactly autoCentroids(n) centroids above the floor") {
    // exercise the rule's SCALING branch (q_ext_sim5 at driver scales only
    // reaches the 16 floor): 2048 vectors at targetCellSize=64 → 32 cells
    val df = clustered(2048, 16, 8, jitter = 0.05).toDF("vec_id", "embedding")
    val k = Similarity.autoCentroids(2048, targetCellSize = 64)
    assert(k === 32)
    val dir = s"target/tmp/ivf_spec_auto/${java.util.UUID.randomUUID}"
    Similarity.ensureIvfIndex(spark, dir, df, "vec_id", "embedding", numCentroids = k)
    assert(Similarity.loadIvfIndex(spark, dir).centroids.count() === k.toLong)
  }

  test("cosineTopKRounded ranks on the 4-decimal grid with id tie-break") {
    val df = clustered(40, 16, 4, jitter = 0.05).toDF("vec_id", "embedding")
    val q = df.filter($"vec_id" === 0)
    val rounded = Similarity.cosineTopKRounded(df, q, "vec_id", "embedding", k = 5)
      .orderBy("rn").collect()
    assert(rounded.length === 5)
    // every emitted cos sits exactly on the rounded grid
    assert(rounded.forall(r => {
      val c = r.getAs[Double]("cos")
      math.abs(c - math.rint(c * 1e4) / 1e4) < 1e-12
    }))
    // ranking is non-increasing in rounded cos; equal-cos neighbors order by nid
    val pairs = rounded.map(r => (r.getAs[Double]("cos"), r.getAs[Long]("nid")))
    assert(pairs.sliding(2).forall { case Array((c1, n1), (c2, n2)) =>
      c1 > c2 || (c1 == c2 && n1 < n2)
    case _ => true })
  }

  test("lshCosineTopK recalls most exact top-k on clustered data") {
    val df = clustered(60, 16, 4, jitter = 0.05).toDF("vec_id", "embedding")
    val q = df.filter($"vec_id" < 3)
    val exact = Similarity.cosineTopK(df, q, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet
    val approx = Similarity.lshCosineTopK(df, q, "vec_id", "embedding", k = 5,
        numTables = 8, planesPerTable = 4)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"LSH recall $recall below 0.8")
  }

  test("ivfTopK achieves high recall when probing covers the query's cluster") {
    val df = clustered(80, 16, 4, jitter = 0.05).toDF("vec_id", "embedding")
    val q = df.filter($"vec_id" < 3)
    val exact = Similarity.cosineTopK(df, q, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet
    val ivf = Similarity.ivfTopK(df, q, "vec_id", "embedding", k = 5,
        numCentroids = 8, nprobe = 4)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.8, s"IVF recall $recall below 0.8")
  }

  /** Block-clustered fixture: ids 0..per-1 are cluster 0, the next block
    * cluster 1, ... — so "first k ids" centroid selection (the r2 stand-in)
    * picks every centroid from cluster 0.
    */
  private def blockClustered(clusters: Int, per: Int, dim: Int, jitter: Double): Seq[(Long, Seq[Float])] = {
    val rng = new java.util.SplittableRandom(11L)
    val bases = Seq.fill(clusters)(Seq.fill(dim)(rng.nextDouble() * 2 - 1))
    (0 until clusters * per).map { i =>
      val v = bases(i / per).map(x => (x + (rng.nextDouble() * 2 - 1) * jitter).toFloat)
      (i.toLong, v)
    }
  }

  test("k-means IVF centroids separate clusters and beat the first-k stand-in") {
    import org.apache.spark.sql.functions._
    val df = blockClustered(clusters = 4, per = 25, dim = 16, jitter = 0.05)
      .toDF("vec_id", "embedding")
    val km = Similarity.buildIvfIndex(df, "vec_id", "embedding", numCentroids = 4)
    // every cell holds exactly one cluster's 25 members — k-means found the
    // block structure from a same-cluster-only init sample's perspective
    val cellSizes = km.assigned.groupBy("cell").count().collect().map(_.getLong(1)).sorted
    assert(cellSizes.toSeq === Seq(25L, 25L, 25L, 25L),
      s"k-means cells unbalanced: ${cellSizes.mkString(",")}")
    // the r2 stand-in (first k ids = all cluster-0 vectors) cannot separate:
    // one cell swallows the three other clusters
    val naiveCent = df.orderBy("vec_id").limit(4)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val naive = Similarity.IvfIndex(naiveCent,
      Similarity.assignCells(df, "vec_id", "embedding", naiveCent))
    val naiveMax = naive.assigned.groupBy("cell").count().collect().map(_.getLong(1)).max
    // with all centroids inside cluster 0, some cell must swallow more than
    // one whole foreign cluster — unbalanced in a way k-means is not
    assert(naiveMax > 50L, s"fixture not pathological for the stand-in: max cell $naiveMax")
    // recall at nprobe=1: the balanced index must not be worse
    val q = df.filter($"vec_id".isin(0L, 30L, 60L, 90L))
    val exact = Similarity.cosineTopK(df, q, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet
    def recall(ix: Similarity.IvfIndex): Double = {
      val got = Similarity.ivfTopK(ix, q, "vec_id", "embedding", k = 5, nprobe = 1)
        .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet
      (exact & got).size.toDouble / exact.size
    }
    val (rk, rn) = (recall(km), recall(naive))
    assert(rk >= rn, s"k-means recall $rk below stand-in recall $rn")
    assert(rk >= 0.95, s"k-means recall $rk below 0.95 at nprobe=1 on separable clusters")
  }

  test("persisted IVF index: pruned probe matches the in-memory result, scans fewer cell dirs") {
    import org.apache.spark.sql.functions._
    val df = blockClustered(clusters = 4, per = 25, dim = 16, jitter = 0.05)
      .toDF("vec_id", "embedding")
    // ensure's deterministic k-means centroids are the in-memory build's
    val index = Similarity.buildIvfIndex(df, "vec_id", "embedding", numCentroids = 4)
    val dir = "target/tmp/ivf/spec"
    Similarity.ensureIvfIndex(spark, dir, df, "vec_id", "embedding", numCentroids = 4)
    val q = df.filter($"vec_id".isin(0L, 30L))
    val mem = Similarity.ivfTopK(index, q, "vec_id", "embedding", k = 5, nprobe = 1)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"), r.getAs[Int]("rn"))).toSet
    val persisted = Similarity.ivfTopKPersisted(spark, dir, q, "vec_id", "embedding",
      k = 5, nprobe = 1)
    val got = persisted.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"), r.getAs[Int]("rn"))).toSet
    assert(got === mem)
    // storage-level pruning: 2 probed cells of 4 on separable clusters
    val scan = graft.plans.PlanChecks
      .fileScanFor(persisted.queryExecution.executedPlan, "assigned").get
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "cell")))
    val totalCells = scan.relation.location.listFiles(Nil, Nil).size
    assert(scan.selectedPartitions.partitionCount < totalCells,
      s"scanned ${scan.selectedPartitions.partitionCount} of $totalCells cell dirs")
    // reopened index drives the self-join form too
    val reopened = Similarity.loadIvfIndex(spark, dir)
    assert(reopened.assigned.count() === 100L && reopened.centroids.count() === 4L)
  }

  /** An index tree written by hand in the persisted layout: `centroids`,
    * `assigned` partitioned by `cell`, and `fingerprint`, when given, as
    * its `_fingerprint`.
    */
  private def writeIndexTree(index: Similarity.IvfIndex, dir: String,
                             fingerprint: Option[String]): Unit = {
    index.centroids.write.parquet(s"$dir/centroids")
    index.assigned.write.partitionBy("cell").parquet(s"$dir/assigned")
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    fingerprint.foreach(graft.sources.HadoopText.write(fs,
      new org.apache.hadoop.fs.Path(dir, "_fingerprint"), _))
  }

  /** The retired probe-selection form, kept as the reference both probe
    * paths are pinned against: every (query, centroid) pair scored by a
    * crossJoin, the top-`nprobe` cells picked by a row_number window over
    * (pcos DESC, cid ASC), then the unchanged scoring join and
    * (cos DESC, nid ASC) rank. `cos` is compared as raw bits (NaN-safe).
    */
  private def retiredIvfTopK(centroids: org.apache.spark.sql.DataFrame,
                             assigned: org.apache.spark.sql.DataFrame,
                             queries: org.apache.spark.sql.DataFrame,
                             k: Int, nprobe: Int): Seq[(Long, Long, Int, Option[Long])] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"),
      Similarity.norm(col("embedding")).as("qn"))
    val probeW = Window.partitionBy("qid").orderBy(col("pcos").desc, col("cid"))
    val probes = q.crossJoin(broadcast(centroids.withColumn("cn", Similarity.norm(col("cv")))))
      .withColumn("pcos", Similarity.cosinePre(col("qv"), col("cv"), col("qn"), col("cn")))
      .withColumn("prn", row_number().over(probeW))
      .filter(col("prn") <= nprobe)
      .select(col("qid"), col("qv"), col("qn"), col("cid").as("cell"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    ivfRows(assigned.withColumn("nn", Similarity.norm(col("nv")))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("cos", Similarity.cosinePre(col("qv"), col("nv"), col("qn"), col("nn")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("nid"), col("rn"), col("cos")))
  }

  private def ivfRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Int, Option[Long])] =
    df.collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"), r.getAs[Int]("rn"),
      Option(r.getAs[java.lang.Double]("cos")).map(c => java.lang.Double.doubleToLongBits(c))))
      .toSeq.sorted

  private def withAnsiOff[A](body: => A): A = {
    val prevAnsi = spark.conf.getOption("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try body
    finally prevAnsi match {
      case Some(v) => spark.conf.set("spark.sql.ansi.enabled", v)
      case None => spark.conf.unset("spark.sql.ansi.enabled")
    }
  }

  test("ivfTopK and ivfTopKPersisted equal the retired crossJoin + row_number probe, ties and NaN included") {
    // centroid 3 duplicates centroid 1 EXACTLY (every probe ranks them
    // tied -> the cid tiebreak is load-bearing); the corpus carries groups
    // of exact duplicates (cos ties at the top-k boundary -> nid tiebreak),
    // a zero vector and a NaN vector; the queries include the exact
    // cid 1/3 tie, a zero vector (null cosines) and a NaN vector (NaN
    // cosines). ansi=false: the zero vectors' divisions by zero yield null
    // instead of raising DIVIDE_BY_ZERO.
    val cent = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0, 0.0)),
      (3L, Seq(1.0, 0.0, 0.0, 0.0)),
      (4L, Seq(0.0, 0.0, 1.0, 1.0)),
      (5L, Seq(-1.0, 0.0, 0.0, 0.0)),
      (6L, Seq(0.5, 0.5, -0.5, 0.0))).toDF("cid", "cv")
    val rng = new java.util.SplittableRandom(29L)
    val dups = (0 until 6).flatMap { g =>
      val v = Seq.fill(4)((rng.nextDouble() * 2 - 1).toFloat)
      (0 until 4).map(i => ((g * 4 + i).toLong, v))
    }
    val filler = (24 until 60).map(i => (i.toLong, Seq.fill(4)((rng.nextDouble() * 2 - 1).toFloat)))
    val edge = Seq((60L, Seq.fill(4)(0.0f)), (61L, Seq(Float.NaN, 1.0f, 0.0f, 0.0f)))
    val df = (dups ++ filler ++ edge).toDF("vec_id", "embedding")
    val q = (Seq((0L, dups.head._2), (30L, filler(6)._2)) ++ Seq(
      (1000L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (1001L, Seq.fill(4)(0.0f)),
      (1002L, Seq(0.0f, Float.NaN, 0.0f, 0.0f)))).toDF("vec_id", "embedding")
    withAnsiOff {
      val index = Similarity.IvfIndex(cent, Similarity.assignCells(df, "vec_id", "embedding", cent))
      // a hand-written index tree pins the hand-made centroid set
      val dir = s"target/tmp/ivf_spec_retired/${java.util.UUID.randomUUID}"
      writeIndexTree(index, dir, Some("ivf-v1|n=62|xor=0|k=6|iters=0"))
      val stored = spark.read.parquet(s"$dir/assigned")
      for ((k, nprobe) <- Seq((3, 1), (5, 2), (4, 3), (70, 6), (2, 9))) {
        val want = retiredIvfTopK(cent, index.assigned, q, k, nprobe)
        assert(want.exists(_._4.exists(c => java.lang.Double.isNaN(java.lang.Double.longBitsToDouble(c)))),
          "fixture lost its NaN corner")
        assert(want.exists(_._4.isEmpty), "fixture lost its null-cosine corner")
        assert(ivfRows(Similarity.ivfTopK(index, q, "vec_id", "embedding", k, nprobe)) === want,
          s"ivfTopK diverged at k=$k nprobe=$nprobe")
        val wantStored = retiredIvfTopK(cent, stored, q, k, nprobe)
        // twice: the opening probe and the probe on the held version
        for (pass <- 1 to 2)
          assert(ivfRows(Similarity.ivfTopKPersisted(spark, dir, q, "vec_id", "embedding", k, nprobe))
            === wantStored, s"ivfTopKPersisted diverged at k=$k nprobe=$nprobe pass=$pass")
      }
    }
  }

  test("persisted IVF handle: a warm probe opens nothing; every writer's commit renews it") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val dir = s"target/tmp/ivf_spec_handle/${java.util.UUID.randomUUID}"
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    def P(name: String) = new org.apache.hadoop.fs.Path(dir, name)
    val base = clustered(120, 16, 4, jitter = 0.05).toDF("vec_id", "embedding")
    Similarity.ensureIvfIndex(spark, dir, base, "vec_id", "embedding", numCentroids = 4)
    val q = base.filter($"vec_id" < 3L)
    // every cell probed and k past the corpus: a probe returns each query's
    // whole corpus, so it shows exactly which rows the version it used holds
    def probeDir(d: String) = ivfRows(Similarity.ivfTopKPersisted(spark, d, q,
      "vec_id", "embedding", k = 1000, nprobe = 64))
    def nids(rows: Seq[(Long, Long, Int, Option[Long])]): Set[Long] = rows.map(_._2).toSet
    // what a block runs: its jobs outside any SQL execution (the schema
    // inference, and any parallel listing, of `spark.read.parquet` — how a
    // probe opens `assigned` or `centroids`) and the file relations its SQL
    // executions read (the centroid matrix collect reads `centroids`)
    val nonSqlJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).forall(_.getProperty("spark.sql.execution.id") == null))
          nonSqlJobs.incrementAndGet()
    }
    val qeListener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit = qe.analyzed.foreach {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.foreach(p => reads.add(p.getName))
          case _ =>
        }
        case _ =>
      }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    final case class Ran(nonSqlJobs: Int, reads: Seq[String])
    def jobsOf[A](body: => A): (A, Ran) = {
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      nonSqlJobs.set(0)
      reads.clear()
      val a = body
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      (a, Ran(nonSqlJobs.get(), reads.asScala.toSeq))
    }
    def opens(r: Ran): Boolean = r.nonSqlJobs > 0
    def collectsMatrix(r: Ran): Boolean = r.reads.contains("centroids")
    // the first probe after a writer opens the new version; the next one
    // reuses it and returns the same rows
    def probeTwice(carriesMatrix: Boolean = false): Seq[(Long, Long, Int, Option[Long])] = {
      val (first, j1) = jobsOf(probeDir(dir))
      assert(opens(j1) && collectsMatrix(j1) == !carriesMatrix,
        s"the first probe at a new version did not open it: $j1")
      val (second, j2) = jobsOf(probeDir(dir))
      assert(!opens(j2) && !collectsMatrix(j2), s"a probe at an unchanged version opened it: $j2")
      assert(second === first)
      first
    }
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    try {
      // the build installs the version it wrote, matrix included
      assert(nids(probeTwice(carriesMatrix = true)) === (0L until 120L).toSet)

      // append: the held version's matrix assigns the batch (no centroid
      // collect), the new version keeps it and lists `assigned` afresh
      val batch = clustered(10, 16, 4, jitter = 0.05)
        .map { case (i, v) => (i + 500L, v) }.toDF("vec_id", "embedding")
      val (_, ja) = jobsOf(Similarity.appendToIvfIndex(spark, dir, batch, "vec_id", "embedding"))
      assert(!opens(ja) && !collectsMatrix(ja), s"the append re-read the centroids: $ja")
      val afterAppend = probeTwice(carriesMatrix = true)
      assert(nids(afterAppend) === (0L until 120L).toSet ++ (500L until 510L))

      // forced same-k rebalance: the fingerprint text is unchanged, its
      // mtime is not, and the old tree is gone (no FileNotFound from it).
      // The rebalance installs the version it promoted, matrix included,
      // and the held version answers as a fresh open of the tree does.
      val fpBefore = graft.sources.HadoopText.read(fs, P("_fingerprint"))
      assert(Similarity.rebalanceIvfIndex(spark, dir, _ => 4, force = true) === Some(4))
      assert(graft.sources.HadoopText.read(fs, P("_fingerprint")) === fpBefore)
      val afterRebalance = probeTwice(carriesMatrix = true)
      assert(nids(afterRebalance) === nids(afterAppend))
      assert(afterRebalance === ivfRows(Similarity.ivfTopK(Similarity.loadIvfIndex(spark, dir),
        q, "vec_id", "embedding", k = 1000, nprobe = 64)))

      // ensureIvfIndex rebuild over a changed corpus
      val shrunk = base.filter($"vec_id" =!= 7L)
      Similarity.ensureIvfIndex(spark, dir, shrunk, "vec_id", "embedding", numCentroids = 4)
      assert(nids(probeTwice(carriesMatrix = true)) === (0L until 120L).toSet - 7L)

      // a hand-written fingerprint renews the handle
      val fp0 = graft.sources.HadoopText.read(fs, P("_fingerprint"))
      Similarity.appendToIvfIndex(spark, dir, batch, "vec_id", "embedding")
      val grown = (0L until 120L).toSet - 7L ++ (500L until 510L)
      assert(nids(probeTwice(carriesMatrix = true)) === grown)
      graft.sources.HadoopText.write(fs, P("_fingerprint"), fp0)
      assert(nids(probeTwice()) === grown)
      // an append mid-move (`_fingerprint` aside, one new file in): a probe
      // reuses the held version, the one committed before the append
      val fp1 = graft.sources.HadoopText.read(fs, P("_fingerprint"))
      val crashed = clustered(5, 16, 4, jitter = 0.05)
        .map { case (i, v) => (i + 700L, v) }.toDF("vec_id", "embedding")
      def crashedAppend(token: String): Unit =
        graft.sources.CommitFixtures.midMove(fs, dir, Seq("_fingerprint"), token) { stage =>
          Similarity.assignCells(crashed, "vec_id", "embedding", spark.read.parquet(s"$dir/centroids"))
            .write.partitionBy("cell").parquet(s"$stage/assigned")
          graft.sources.HadoopText.write(fs, new org.apache.hadoop.fs.Path(stage, "_fingerprint"),
            fp1.replace("ivf-v1", "ivf-v1|crashed"))
        }
      crashedAppend("crash004")
      val (mid, jm) = jobsOf(probeDir(dir))
      assert(!opens(jm) && nids(mid) === grown, s"a probe mid-move left the held version: $jm")
      assert(graft.sources.FileCommit.recover(spark, dir).exists(_.startsWith("restored")))
      // crashed after its last move-in: probes open the version it moved
      // in, and the rollback of FileCommit.recover renews the handle to the
      // committed version
      crashedAppend("crash003")
      graft.sources.CommitFixtures.moveRest(fs, dir, Seq("_fingerprint"), "crash003")
      assert(nids(probeTwice()) === grown ++ (700L until 705L))
      assert(graft.sources.FileCommit.recover(spark, dir).exists(_.startsWith("restored")))
      assert(nids(probeTwice()) === grown)

      // no `_fingerprint`: not an index; the probe names the build
      val bare = s"target/tmp/ivf_spec_handle/${java.util.UUID.randomUUID}"
      writeIndexTree(Similarity.buildIvfIndex(base, "vec_id", "embedding", numCentroids = 4),
        bare, None)
      val e = intercept[IllegalArgumentException](probeDir(bare))
      assert(e.getMessage.contains("ensureIvfIndex"), e.getMessage)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  test("a forced rebalance right after a probe reads `assigned` through the held version: no listing job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val id = java.util.UUID.randomUUID.toString
    val dir = s"target/tmp/ivf_spec_rebalance_listing/$id"
    val base = clustered(120, 16, 4, jitter = 0.05).toDF("vec_id", "embedding")
    val q = base.filter($"vec_id" < 3L)
    // parallel listing jobs over this index's own `assigned` cell dirs (the
    // rebalance's staged tree is a sibling and does not match)
    val listings = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
            .exists(d => d.startsWith("Listing leaf files") && d.contains(s"$id/assigned/")))
          listings.incrementAndGet()
    }
    def listingJobs(body: => Any): Int = {
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      listings.set(0)
      body
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      listings.get()
    }
    // more cell dirs than the threshold are listed by a Spark job, as the
    // 63 cells of an llm_corpus index are at the default of 32
    withSQLConf("spark.sql.sources.parallelPartitionDiscovery.threshold" -> "2") {
      Similarity.ensureIvfIndex(spark, dir, base, "vec_id", "embedding", numCentroids = 4)
      spark.sparkContext.addSparkListener(listener)
      try {
        def probe() = ivfRows(Similarity.ivfTopKPersisted(spark, dir, q, "vec_id", "embedding",
          k = 1000, nprobe = 64))
        val before = probe()
        assert(listingJobs(probe()) === 0)
        assert(listingJobs(Similarity.rebalanceIvfIndex(spark, dir, _ => 4, force = true)) === 0,
          "the rebalance listed `assigned` again")
        // the promoted version's `assigned` is not listed until first use,
        // so a second rebalance with no probe between lists it once: the
        // fixture does reach the listing job
        assert(listingJobs(Similarity.rebalanceIvfIndex(spark, dir, _ => 4, force = true)) >= 1)
        assert(probe().map(_._2).toSet === before.map(_._2).toSet)
      } finally spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("ensureIvfIndex builds once, reuses on identical corpus, rebuilds on change") {
    val df = blockClustered(clusters = 4, per = 25, dim = 16, jitter = 0.05)
      .toDF("vec_id", "embedding")
    val dir = "target/tmp/ivf/ensure_spec"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    fs.delete(p, true)
    def centroidMtimes: Set[Long] =
      graft.sources.ParquetStats.listParquetFiles(s"$dir/centroids", spark.sessionState.newHadoopConf())
        .map(f => fs.getFileStatus(f).getModificationTime).toSet
    Similarity.ensureIvfIndex(spark, dir, df, "vec_id", "embedding", numCentroids = 4)
    val built = centroidMtimes
    assert(built.nonEmpty)
    // identical corpus: the index files must be left physically untouched
    Similarity.ensureIvfIndex(spark, dir, df, "vec_id", "embedding", numCentroids = 4)
    assert(centroidMtimes === built, "unchanged corpus must not rebuild the index")
    // changed corpus (one vector dropped): fingerprint mismatch -> rebuild
    Thread.sleep(5) // mtime granularity
    Similarity.ensureIvfIndex(spark, dir, df.filter($"vec_id" =!= 0L),
      "vec_id", "embedding", numCentroids = 4)
    assert(Similarity.loadIvfIndex(spark, dir).assigned.count() === 99L,
      "changed corpus must rebuild the persisted assignment")
  }

  test("appendToIvfIndex grows the index incrementally without a rebuild") {
    import org.apache.spark.sql.functions._
    val all = blockClustered(clusters = 4, per = 25, dim = 16, jitter = 0.05)
      .toDF("vec_id", "embedding")
    val base = all.filter($"vec_id" < 80L)
    val batch = all.filter($"vec_id" >= 80L)
    val dir = "target/tmp/ivf/append_spec"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(p, true)
    Similarity.ensureIvfIndex(spark, dir, base, "vec_id", "embedding", numCentroids = 4)
    def centroidMtimes: Set[Long] =
      graft.sources.ParquetStats.listParquetFiles(s"$dir/centroids", spark.sessionState.newHadoopConf())
        .map(f => fs.getFileStatus(f).getModificationTime).toSet
    val built = centroidMtimes
    assert(Similarity.appendToIvfIndex(spark, dir, batch, "vec_id", "embedding") === 20L)
    // centroids untouched; assignment grew by the batch, in cell= dirs
    assert(centroidMtimes === built, "append must not touch the centroids")
    val idx = Similarity.loadIvfIndex(spark, dir)
    assert(idx.assigned.count() === 100L)
    // appended rows equal a same-centroid assignment of the batch
    val want = Similarity.assignCells(batch, "vec_id", "embedding", idx.centroids)
      .orderBy("nid").collect().toSeq
    val got = idx.assigned.filter($"nid" >= 80L)
      .select("nid", "nv", "cell").orderBy("nid").collect().toSeq
    assert(got === want)
    // probing the appended index = probing an index with the SAME centroids
    // assigned over the full corpus (deterministic equality, not recall)
    val q = all.filter($"vec_id" % 10 === 0L)
    val probed = Similarity.ivfTopKPersisted(spark, dir, q, "vec_id", "embedding",
        k = 3, nprobe = 2)
      .orderBy("qid", "rn").collect().toSeq
    val reference = Similarity.ivfTopK(
        Similarity.IvfIndex(idx.centroids,
          Similarity.assignCells(all, "vec_id", "embedding", idx.centroids)),
        q, "vec_id", "embedding", k = 3, nprobe = 2)
      .orderBy("qid", "rn").collect().toSeq
    assert(probed === reference)
    // the compositional fingerprint makes ensureIvfIndex over the grown
    // corpus a no-op (no rebuild) — the whole point of the append path
    Thread.sleep(5)
    Similarity.ensureIvfIndex(spark, dir, all, "vec_id", "embedding", numCentroids = 4)
    assert(centroidMtimes === built, "grown corpus with updated fingerprint must not rebuild")
    // an index that was never fingerprinted refuses the append loudly
    intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(spark, "target/tmp/ivf/nonexistent", batch,
        "vec_id", "embedding")
    }
  }

  test("ivfSelfTopK approximates the exact k-NN graph on clustered data") {
    val df = blockClustered(clusters = 4, per = 20, dim = 16, jitter = 0.05)
      .toDF("vec_id", "embedding")
    val exact = Similarity.cosineTopK(df, df, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet
    val index = Similarity.buildIvfIndex(df, "vec_id", "embedding", numCentroids = 4)
    val graph = Similarity.ivfSelfTopK(index, k = 3, nprobe = 2)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet
    val recall = (exact & graph).size.toDouble / exact.size
    assert(recall >= 0.9, s"k-NN graph recall $recall below 0.9")
    // every vector gets neighbors
    assert(graph.map(_._1).size === 80)
  }

  test("ivfSelfTopK equals the retired row_number-window formulation, ties included") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // tie-HEAVY fixture: 10 groups of 6 exact-duplicate vectors (identical
    // doubles → identical cosines, so the top-k boundary lands ON ties and
    // the nid tiebreak is load-bearing) + diverse filler
    val rng = new java.util.SplittableRandom(11L)
    val dups = (0 until 10).flatMap { g =>
      val v = Seq.fill(8)((rng.nextDouble() * 2 - 1).toFloat)
      (0 until 6).map(i => ((g * 6 + i).toLong, v))
    }
    val filler = (60 until 90).map(i =>
      (i.toLong, Seq.fill(8)((rng.nextDouble() * 2 - 1).toFloat)))
    val df = (dups ++ filler).toDF("vec_id", "embedding")
    val index = Similarity.buildIvfIndex(df, "vec_id", "embedding", numCentroids = 6)
    for ((k, nprobe, frac) <- Seq((3, 2, 0.25), (5, 3, 0.25), (4, 2, 0.08))) {
      // the retired formulation, verbatim: probe cells by a row_number
      // window over all (vector, centroid) scores, rank candidates by a
      // row_number window over all probed-cell scores
      val n = index.assigned.count()
      val maxCell = math.max(1L, (frac * n).toLong)
      val subCounts = index.assigned.groupBy("cell")
        .agg(ceil(count(lit(1)).cast("double") / maxCell).cast("long").as("nsub"))
      val probeW = Window.partitionBy("qid").orderBy(col("pcos").desc, col("cid"))
      val probes = index.assigned.select(col("nid").as("qid"), col("nv").as("qv"),
          Similarity.norm(col("nv")).as("qn"))
        .crossJoin(broadcast(index.centroids.withColumn("cn", Similarity.norm(col("cv")))))
        .withColumn("pcos", Similarity.cosinePre(col("qv"), col("cv"), col("qn"), col("cn")))
        .withColumn("prn", row_number().over(probeW))
        .filter(col("prn") <= nprobe)
        .select(col("qid"), col("qv"), col("qn"), col("cid").as("cell"))
        .join(broadcast(subCounts), Seq("cell"))
        .withColumn("sub", pmod(xxhash64(col("qid")), col("nsub")))
      val corpus = index.assigned
        .withColumn("nn", Similarity.norm(col("nv")))
        .join(broadcast(subCounts), Seq("cell"))
        .withColumn("sub", pmod(xxhash64(col("nid")), col("nsub")))
      val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
      val reference = corpus.join(probes.drop("nsub"), Seq("cell", "sub"))
        .filter(col("qid") =!= col("nid"))
        .withColumn("cos", Similarity.cosinePre(col("qv"), col("nv"), col("qn"), col("nn")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .select(col("qid"), col("nid"), col("rn"), col("cos"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._3))
      val got = Similarity.ivfSelfTopK(index, k = k, nprobe = nprobe, maxCellFraction = frac)
        .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"),
          r.getAs[Int]("rn"), r.getAs[Double]("cos")))
        .sortBy(t => (t._1, t._3))
      assert(got.toSeq === reference.toSeq,
        s"(k=$k nprobe=$nprobe frac=$frac) diverged from the window formulation")
    }
  }

  test("ivfSelfTopK rejects k < 1 and nprobe < 1, naming the parameter") {
    val df = blockClustered(clusters = 2, per = 5, dim = 4, jitter = 0.05)
      .toDF("vec_id", "embedding")
    val index = Similarity.buildIvfIndex(df, "vec_id", "embedding", numCentroids = 2)
    // k = 0 used to reach TopKAggD.reduce, whose buf.last on the empty
    // buffer threw NoSuchElementException inside a task
    val badK = intercept[IllegalArgumentException] {
      Similarity.ivfSelfTopK(index, k = 0, nprobe = 1).collect()
    }
    assert(badK.getMessage.contains("k must be >= 1"), badK.getMessage)
    val badProbe = intercept[IllegalArgumentException] {
      Similarity.ivfSelfTopK(index, k = 1, nprobe = 0).collect()
    }
    assert(badProbe.getMessage.contains("nprobe must be >= 1"), badProbe.getMessage)
  }

  test("assignCells matches the retired broadcast-join max_by form, ties/NaN") {
    import org.apache.spark.sql.functions._
    // exact-duplicate vectors (identical cosines -> lowest-cid tiebreak is
    // load-bearing) + a zero vector (NaN cosine against every centroid ->
    // NaN-greatest keeps cid 1) + random filler
    val rng = new java.util.SplittableRandom(23L)
    val dup = Seq.fill(8)((rng.nextDouble() * 2 - 1).toFloat)
    val vecs = ((0 until 5).map(i => (i.toLong, dup)) :+
      (5L, Seq.fill(8)(0.0f))) ++
      (6 until 40).map(i => (i.toLong, Seq.fill(8)((rng.nextDouble() * 2 - 1).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    // ansi=false for the comparison: the zero vector's 0/0 cosine is NaN in
    // the kernel and the non-ANSI join form alike, where ANSI Divide would
    // raise DIVIDE_BY_ZERO (production embedding corpora carry no zero-norm
    // vectors — see the NearestCells scaladoc)
    val prevAnsi = spark.conf.getOption("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val cent = Similarity.kmeansCentroids(df, "vec_id", "embedding", numCentroids = 5)
      val inRow = Similarity.assignCells(df, "vec_id", "embedding", cent)
        .collect().map(r => (r.getAs[Long]("nid"), r.getSeq[Float](1), r.getAs[Long]("cell")))
        .sortBy(_._1)
      // the retired formulation, verbatim: every (vector, centroid) pair
      // scored through a broadcast cross join, argmax by max_by over
      // struct(ccos, -cid)
      val joined = df.select(col("vec_id").as("nid"), col("embedding").as("nv"),
          Similarity.norm(col("embedding")).as("nn"))
        .crossJoin(broadcast(cent.withColumn("cn", Similarity.norm(col("cv")))))
        .withColumn("ccos", Similarity.cosinePre(col("nv"), col("cv"), col("nn"), col("cn")))
        .groupBy("nid")
        .agg(max_by(struct(col("nv"), col("cid")), struct(col("ccos"), -col("cid"))).as("best"))
        .select(col("nid"), col("best.nv").as("nv"), col("best.cid").as("cell"))
        .collect().map(r => (r.getAs[Long]("nid"), r.getSeq[Float](1), r.getAs[Long]("cell")))
        .sortBy(_._1)
      assert(inRow.toSeq === joined.toSeq)
      assert(inRow.map(_._3).distinct.length > 1, "fixture collapsed into one cell")
    } finally prevAnsi match {
      case Some(v) => spark.conf.set("spark.sql.ansi.enabled", v)
      case None => spark.conf.unset("spark.sql.ansi.enabled")
    }
  }

  test("localKMeans parallel kernels are bit-identical to the serial reference") {
    // The r16 parallelization moved the per-point argmax / min-distance
    // kernels onto the fork-join pool, keeping every order-sensitive
    // reduction (k-means++ cumulative draw, per-cell float sums) sequential
    // in point order. This pins the claim AT RAW-BITS RESOLUTION against a
    // verbatim copy of the retired single-threaded loop.
    def serial(points: Array[Array[Double]], k: Int,
               iters: Int = 10): Array[Array[Double]] = {
      def dot(a: Array[Double], b: Array[Double]): Double = {
        var s = 0.0; var i = 0
        while (i < math.min(a.length, b.length)) { s += a(i) * b(i); i += 1 }
        s
      }
      def cos(a: Array[Double], b: Array[Double]): Double =
        dot(a, b) / math.max(math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)), 1e-300)
      val rng = new java.util.SplittableRandom(42L)
      val centers = scala.collection.mutable.ArrayBuffer(points(rng.nextInt(points.length)))
      val minD = points.map(p => 1.0 - cos(p, centers(0)))
      while (centers.size < math.min(k, points.length)) {
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
        var i = 0
        while (i < points.length) {
          val d = 1.0 - cos(points(i), next)
          if (d < minD(i)) minD(i) = d
          i += 1
        }
      }
      var cycle = 0
      while (centers.size < k) { centers += centers(cycle % points.length); cycle += 1 }
      val dim = points.head.length
      val pNorm = points.map(p => math.sqrt(dot(p, p)))
      for (_ <- 1 to iters) {
        val cNorm = centers.map(c => math.sqrt(dot(c, c))).toArray
        val sums = Array.fill(k)(new Array[Double](dim))
        val counts = new Array[Int](k)
        var pi = 0
        while (pi < points.length) {
          val p = points(pi)
          var best = 0; var bestCos = -2.0
          var c = 0
          while (c < k) {
            val s = dot(p, centers(c)) / math.max(pNorm(pi) * cNorm(c), 1e-300)
            if (s > bestCos) { bestCos = s; best = c }
            c += 1
          }
          counts(best) += 1
          var i = 0
          while (i < dim) { sums(best)(i) += p(i); i += 1 }
          pi += 1
        }
        for (c <- 0 until k if counts(c) > 0)
          centers(c) = sums(c).map(_ / counts(c))
      }
      centers.toArray
    }
    // tie-heavy fixture: groups of EXACT duplicate points (identical
    // cosines make the argmax tie-break load-bearing) + varied-magnitude
    // noise
    val rng = new java.util.SplittableRandom(7L)
    val pts = Array.tabulate(500) { i =>
      if (i % 5 != 4) {
        val g = i / 5
        Array.tabulate(16)(d => math.sin(g * 31 + d * 7).toFloat.toDouble)
      } else Array.fill(16)(rng.nextDouble() * 20 - 10)
    }
    for (k <- Seq(3, 17, 64, 600)) { // 600 > |points| drives the cycle path
      val got = Similarity.localKMeans(pts.map(_.clone), k)
      val want = serial(pts.map(_.clone), k)
      assert(got.length === want.length, s"k=$k center count")
      got.zip(want).zipWithIndex.foreach { case ((g, w), ci) =>
        assert(g.map(java.lang.Double.doubleToRawLongBits).toSeq ===
          w.map(java.lang.Double.doubleToRawLongBits).toSeq,
          s"centroid $ci diverged at raw-bits resolution (k=$k)")
      }
    }
  }

  private def rawBits(cent: org.apache.spark.sql.DataFrame): Seq[(Long, Seq[Long])] =
    cent.collect().map(r => (r.getLong(0),
      r.getSeq[Double](1).map(java.lang.Double.doubleToRawLongBits))).toSeq.sortBy(_._1)

  test("kmeansCentroids is bit-identical across input partitions and shuffle widths; each mean is the exact mean rounded once") {
    // double vectors with noise down to 1e-12 in every element, so the
    // low bits of a plain double sum of a cell depend on the order its
    // partitions arrive in
    val rng = new java.util.SplittableRandom(91L)
    val bases = Seq.fill(5)(Seq.fill(6)(rng.nextDouble() * 2 - 1))
    val vecs = (0 until 400).map { i =>
      (i.toLong, bases(i % 5).map(x => x + (rng.nextDouble() * 2 - 1) * 0.05 +
        (rng.nextDouble() - 0.5) * math.pow(10, -rng.nextInt(13))))
    }
    val df = vecs.toDF("vec_id", "embedding")
    // checkpointed, so the optimizer cannot fold the split into the
    // operator's own repartition
    def centroids(parts: Int, shuffle: Int, iterations: Int) =
      withSQLConf("spark.sql.shuffle.partitions" -> shuffle.toString) {
        Similarity.kmeansCentroids(df.repartition(parts).localCheckpoint(), "vec_id", "embedding",
          numCentroids = 5, iterations = iterations)
      }
    val want = rawBits(centroids(1, 1, 2))
    for (parts <- Seq(1, 3, 8); shuffle <- Seq(1, 4, 7))
      assert(rawBits(centroids(parts, shuffle, 2)) === want,
        s"centroids moved at $parts input partitions, shuffle width $shuffle")

    // one iteration from the seeds: each non-empty cell is the exact mean of
    // the vectors the seeds assign to it, rounded once; an empty cell keeps
    // its seed
    val seeds = centroids(1, 4, 0)
    val one = rawBits(centroids(8, 7, 1)).toMap
    val members = Similarity.assignCells(df, "vec_id", "embedding", seeds)
      .collect().groupBy(_.getAs[Long]("cell"))
      .map { case (c, rs) => c -> rs.map(_.getSeq[Double](1)) }
    var orderSensitive = false
    for ((cid, seedBits) <- rawBits(seeds)) members.get(cid) match {
      case None => assert(one(cid) === seedBits, s"empty cell $cid moved")
      case Some(vs) =>
        for (pos <- seedBits.indices) {
          val xs = vs.map(_(pos))
          val got = java.lang.Double.longBitsToDouble(one(cid)(pos))
          assert(graft.functions.CellMeansSpec.roundedOnce(got,
              graft.functions.CellMeansSpec.exactSum(xs), xs.length),
            s"cell $cid pos $pos: $got is not the exact mean of ${xs.length} values rounded once")
          orderSensitive ||= xs.sum != xs.reverse.sum
        }
    }
    assert(members.size > 1 && orderSensitive,
      "fixture lost its order-sensitive sums: a plain double sum would pass")
  }

  test("the Lloyd step equals the retired posexplode/avg/collect_list refinement") {
    import org.apache.spark.sql.functions._
    // The retired refinement, verbatim: assign, explode every (cell, pos)
    // element, average per (cell, pos), reassemble per cell, and keep the
    // previous centroid of every cell that received nothing.
    def retired(vectors: org.apache.spark.sql.DataFrame,
                cent: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val means = Similarity.assignCells(vectors, "vec_id", "embedding", cent)
        .select(col("cell").as("cid"), posexplode(col("nv")))
        .groupBy("cid", "pos").agg(avg(col("col")).as("m"))
        .groupBy("cid").agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cid"), transform(col("pm"), p => p.getField("m")).as("cv"))
      means.unionByName(cent.join(means.select("cid"), Seq("cid"), "left_anti")
        .select(col("cid"), transform(col("cv"), x => x.cast("double")).as("cv")))
    }
    def matrix(cent: org.apache.spark.sql.DataFrame) = graft.functions.CentroidMatrix.collect(cent)
    // 8 cells over 7 distinct non-null points: cid 4 duplicates cid 3 (the
    // lower cid wins every tie, so 4 starts empty) and cid 8 is far from
    // every point. The null element's vector shares its cell with vectors
    // that hold that position, as the retired form needs (it leaves a null
    // in a centroid whose cell has no value at a position).
    val start = Seq(
      (1L, Seq(1.0, 0.1, 0.0, 0.0)), (2L, Seq(0.0, 1.0, 0.1, 0.0)),
      (3L, Seq(0.0, 0.0, 1.0, 0.1)), (4L, Seq(0.0, 0.0, 1.0, 0.1)),
      (5L, Seq(0.1, 0.0, 0.0, 1.0)), (6L, Seq(-1.0, -0.2, 0.0, 0.0)),
      (7L, Seq(0.3, 0.3, 0.3, -0.9)), (8L, Seq(-0.5, -0.5, -0.5, -0.5)))
      .toDF("cid", "cv")
    val a = Seq(0.9f, 0.2f, 0.05f, 0.0f)
    val b = Seq(0.1f, 0.8f, 0.3f, 0.02f)
    val c = Seq(0.05f, 0.1f, 0.7f, 0.33f)
    val floats: Seq[(Long, Seq[java.lang.Float])] = Seq(
      (0L, a), (1L, a), (2L, a), (3L, b), (4L, b), (5L, c), // duplicates
      (6L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),                   // zero: lowest cid
      (7L, Seq(0.2f, 0.1f, 0.9f, 0.4f)),
      (8L, Seq(-0.7f, -0.1f, 0.05f, 0.0f)))
      .map { case (i, v) => (i, v.map(java.lang.Float.valueOf)) } ++
      Seq((9L, Seq[java.lang.Float](0.8f, null, 0.1f, 0.05f)),  // a null element
        (10L, null))                                            // a null vector
    val fdf = floats.toDF("vec_id", "embedding")
    for (df <- Seq(fdf, fdf.withColumn("embedding", col("embedding").cast("array<double>")))) {
      withAnsiOff {
        def cells(m: graft.functions.CentroidMatrix) =
          Similarity.assignCells(df, "vec_id", "embedding", m)
            .collect().map(r => (r.getAs[Long]("nid"), Option(r.getAs[java.lang.Long]("cell")))).toSeq.sortBy(_._1)
        val used = cells(matrix(start)).flatMap(_._2).toSet
        assert(!used.contains(4L) && !used.contains(8L) && used.size > 3,
          s"fixture lost its empty or its occupied cells: $used")
        var old = start
        var mat = matrix(start)
        for (iteration <- 1 to 2) {
          old = retired(df, old)
          mat = Similarity.refineCentroids(df, "embedding", mat, 1)
          val want = matrix(old)
          assert(mat.cids.toSeq === want.cids.toSeq)
          for (i <- want.cids.indices) {
            assert(mat.cents(i).length === want.cents(i).length)
            mat.cents(i).zip(want.cents(i)).foreach { case (g, w) =>
              assert(math.abs(g - w) <= 1e-12 * math.max(math.abs(w), 1e-300),
                s"cid ${want.cids(i)} iteration $iteration: $g vs $w")
            }
          }
          assert(cells(mat) === cells(want), s"cell assignments diverged at iteration $iteration")
        }
      }
    }
  }

  test("IVF build: each extra Lloyd iteration adds at most 2 jobs; every cell write runs in parallel with one file per cell dir") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    // tasks that wrote output rows, per stage
    val writers = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && e.taskMetrics.outputMetrics.recordsWritten > 0)
          writers.merge(e.stageId, 1, _ + _)
    }
    def run[A](body: => A): (Int, Int) = {
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      jobs.set(0)
      writers.clear()
      body
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      (jobs.get(), writers.values.asScala.foldLeft(0)(math.max))
    }
    val dir = s"target/tmp/ivf_spec_jobs/${java.util.UUID.randomUUID}"
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    def parquetFiles(p: org.apache.hadoop.fs.Path): Int =
      fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet"))
    def filesPerCell: Map[String, Int] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/assigned")).iterator
        .filter(_.getPath.getName.startsWith("cell="))
        .map(d => d.getPath.getName -> parquetFiles(d.getPath))
        .toMap
    def centroidFiles = parquetFiles(new org.apache.hadoop.fs.Path(s"$dir/centroids"))
    val df = clustered(400, 16, 8, jitter = 0.05).toDF("vec_id", "embedding")
    spark.sparkContext.addSparkListener(listener)
    try {
      val (j1, _) = run(Similarity.kmeansCentroids(df, "vec_id", "embedding", 8, iterations = 1))
      val (j3, _) = run(Similarity.kmeansCentroids(df, "vec_id", "embedding", 8, iterations = 3))
      assert(j3 - j1 <= 4, s"2 more iterations ran ${j3 - j1} more jobs ($j1 -> $j3)")

      val (_, buildWriters) = run(Similarity.ensureIvfIndex(spark, dir, df, "vec_id", "embedding", 8))
      assert(filesPerCell.size >= 8, s"fixture has fewer than 8 cells: $filesPerCell")
      assert(buildWriters > 1, "the cell write ran in one task")
      assert(filesPerCell.values.forall(_ == 1), s"a build left several files in a cell: $filesPerCell")
      assert(centroidFiles === 1)

      val (_, rebalanceWriters) = run(Similarity.rebalanceIvfIndex(spark, dir, _ => 8, force = true))
      assert(rebalanceWriters > 1, "the rebalance's cell write ran in one task")
      assert(filesPerCell.values.forall(_ == 1), s"a rebalance left several files in a cell: $filesPerCell")
      assert(centroidFiles === 1)

      val before = filesPerCell
      val batch = clustered(80, 16, 8, jitter = 0.05)
        .map { case (i, v) => (i + 5000L, v) }.toDF("vec_id", "embedding")
      val (_, appendWriters) = run(Similarity.appendToIvfIndex(spark, dir, batch, "vec_id", "embedding"))
      val after = filesPerCell
      assert(appendWriters > 1, "the append's cell write ran in one task")
      assert(after.forall { case (cell, n) => n - before.getOrElse(cell, 0) <= 1 },
        s"an append wrote several files into a cell: $before -> $after")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("ivfSelfTopK bounds candidates under a planted mega-cell") {
    import org.apache.spark.sql.functions._
    val rng = new java.util.SplittableRandom(3L)
    val base = Seq.fill(16)(rng.nextDouble() * 2 - 1)
    // 200 near-identical vectors (mass duplication) + 20 diverse ones:
    // k-means puts the 200 into one cell — the degenerate n² shape
    val hot = (0 until 200).map { i =>
      (i.toLong, base.map(x => (x + (rng.nextDouble() * 2 - 1) * 0.01).toFloat))
    }
    val diverse = (200 until 220).map { i =>
      (i.toLong, Seq.fill(16)((rng.nextDouble() * 2 - 1).toFloat))
    }
    val df = (hot ++ diverse).toDF("vec_id", "embedding")
    val index = Similarity.buildIvfIndex(df, "vec_id", "embedding", numCentroids = 4)
    val hotCellSize = index.assigned.groupBy("cell").count()
      .collect().map(_.getLong(1)).max
    assert(hotCellSize >= 150L, s"fixture not skewed: max cell $hotCellSize")
    // k larger than any cell → the result IS the candidate set. Unguarded,
    // the hot cell alone yields ~200² = 40k pairs; the guard caps each
    // vector's same-cell sample at ≈ maxCellFraction·n = 22.
    val candidates = Similarity.ivfSelfTopK(index, k = Int.MaxValue, nprobe = 1,
      maxCellFraction = 0.1).count()
    val bound = 220L * (2 * 22 + 1) // per-vector ≈ maxCell candidates, 2x hash-imbalance headroom
    assert(candidates <= bound, s"candidates $candidates exceed bound $bound — guard inactive")
    // quality degrades gracefully, not collapses: everyone still gets
    // neighbors, and hot-cell members still find near-identical ones
    val top = Similarity.ivfSelfTopK(index, k = 3, nprobe = 1, maxCellFraction = 0.1)
    assert(top.select("qid").distinct().count() === 220L)
    val hotTop1 = top.filter(col("qid") < 200 && col("rn") === 1)
      .agg(min("cos")).head().getDouble(0)
    assert(hotTop1 >= 0.99, s"hot-cell members lost their near-dups: min top-1 cos $hotTop1")
  }

  test("autoSrpPlanes holds bucket population constant; auto geometry still finds planted pairs") {
    // the rule: floor of 8 below ~64k rows (round-11 geometry unchanged),
    // then one extra plane per corpus doubling — per-bucket population,
    // and with it the banding join's Σ bucket² candidate volume, stays pinned
    assert(Similarity.autoSrpPlanes(2000L) === 8)
    assert(Similarity.autoSrpPlanes(20000L) === 8)
    assert(Similarity.autoSrpPlanes(200000L) === 10)
    assert(Similarity.autoSrpPlanes(2000000L) === 13)
    assert(Similarity.autoSrpPlanes(200000L, targetBucket = 128L) === 11)
    // the auto default (planesPerTable = 0) resolves to the floor at this
    // corpus size and emits exactly the planted pair — same result as the
    // pinned-8 fixture call below
    val rng = new java.util.SplittableRandom(7L)
    val base = Seq.fill(32)(rng.nextDouble() * 2 - 1)
    val dup1 = base.map(x => (x + 0.001).toFloat)
    val dup2 = base.map(x => (x - 0.001).toFloat)
    val others = (0 until 20).map(i => Seq.fill(32)((rng.nextDouble() * 2 - 1).toFloat))
    val df = ((100L, dup1) +: (101L, dup2) +: others.zipWithIndex.map { case (v, i) => (i.toLong, v) })
      .toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDupPairs(df, "vec_id", "embedding", tau = 0.99)
      .collect().map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
    assert(pairs === Set((100L, 101L)))
  }

  test("cosineNearDupPairs finds planted near-duplicates and no unrelated pairs") {
    val rng = new java.util.SplittableRandom(7L)
    val base = Seq.fill(32)(rng.nextDouble() * 2 - 1)
    val dup1 = base.map(x => (x + 0.001).toFloat)
    val dup2 = base.map(x => (x - 0.001).toFloat)
    val others = (0 until 20).map(i => Seq.fill(32)((rng.nextDouble() * 2 - 1).toFloat))
    val df = ((100L, dup1) +: (101L, dup2) +: others.zipWithIndex.map { case (v, i) => (i.toLong, v) })
      .toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDupPairs(df, "vec_id", "embedding", tau = 0.99,
        numTables = 8, planesPerTable = 8)
      .collect().map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
    assert(pairs === Set((100L, 101L)))
  }

  test("cellNearDupPairs finds planted near-duplicates via cell blocking, none unrelated") {
    // near-identical vectors land in the same k-means cell (the SemDeDup
    // assumption), so the cell-blocked pair join must emit the planted
    // pair and nothing else — cross-cell pairs never get scored
    val rng = new java.util.SplittableRandom(11L)
    val base = Seq.fill(32)(rng.nextDouble() * 2 - 1)
    val dup1 = base.map(x => (x + 0.001).toFloat)
    val dup2 = base.map(x => (x - 0.001).toFloat)
    val others = (0 until 40).map(_ => Seq.fill(32)((rng.nextDouble() * 2 - 1).toFloat))
    val df = ((100L, dup1) +: (101L, dup2) +: others.zipWithIndex.map { case (v, i) => (i.toLong, v) })
      .toDF("vec_id", "embedding")
    val pairs = Similarity.cellNearDupPairs(df, "vec_id", "embedding",
        threshold = 0.99, numCentroids = 4)
      .collect().map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
    assert(pairs === Set((100L, 101L)))
  }
}
