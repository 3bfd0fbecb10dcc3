package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, DistinctSketch, Similarity}
import graft.sources.ParquetDatabase

/** Cross-PROCESS multi-writer drill: forks a second JVM and races the real
  * mutation surfaces on shared store directories — the step up from the
  * in-JVM thread drills (ConcurrentWriterSpec, ConcurrentSketchWriterSpec,
  * SimilaritySpec's append-vs-rebalance race), which exercise the same
  * protocols but share one filesystem view, one Hadoop FileSystem cache and
  * one JIT'd `createNewFile`. Every store commits through one protocol,
  * `graft.sources.FileCommit`, whose gate reduces to
  * `HadoopText.writeIfAbsent` — POSIX O_CREAT|O_EXCL on the local FS — whose
  * atomicity claim is PER-KERNEL, not per-JVM, so only a two-process race
  * actually tests it.
  *
  * Three surfaces, each with the same invariant as its in-JVM drill:
  *  - ParquetDatabase: interleaved deleteWhere slices + an upsert + a
  *    compactSmallFiles across processes → surviving rows are EXACTLY the
  *    complement of the committed deletes plus the upserted batch; no
  *    committed mutation lost, none resurrected.
  *  - IVF index: appends vs forced rebalances → every append that reported
  *    success is in the final assigned store and the composed fingerprint
  *    identity matches.
  *  - bucketed HLL store: concurrent batch merges → estimates equal the
  *    same batches folded sequentially into a fresh store (HLL union is
  *    order-independent, so agreement is exact).
  *
  * Both processes retry on the protocols' loud aborts (CME from a CAS/gate,
  * IOException from a lost rename, Spark/Analysis exceptions from a peer's
  * ms-wide move window) — the protocol's promise is loud-and-convergent,
  * not collision-free.
  *
  * Run directly (`runjava.sh graft.tools.ConcurrencyDrill [root]`) or via
  * ConcurrencyDrillSpec in `sbt test`. The forked child runs this same
  * class with `child <root>`.
  */
object ConcurrencyDrill {

  // ---- the deterministic work split both processes agree on ----
  private val pqdbParentSlices = Seq((560L, 580L), (500L, 520L), (440L, 460L), (380L, 400L))
  private val pqdbChildSlices = Seq((580L, 600L), (520L, 540L), (460L, 480L), (400L, 420L))
  private val pqdbChildUpsert = (700L until 710L)
  private val ivfChildBatches = (0 until 4).map(k => (2000 + k * 10, 2010 + k * 10))
  private val ivfParentBatches = (0 until 2).map(k => (1000 + k * 10, 1010 + k * 10))
  private val hllChildBatches = Seq((100, 150), (150, 200), (200, 250))
  private val hllParentBatches = Seq((300, 350), (350, 400), (400, 450))

  private def vecs(spark: SparkSession, lo: Int, hi: Int) = {
    import spark.implicits._
    (lo until hi).map(i => (i.toLong, (0 until 8).map(j => math.sin(i * 31 + j).toFloat)))
      .toDF("vec_id", "embedding")
  }
  private def hllEvents(spark: SparkSession, lo: Int, hi: Int) = {
    import spark.implicits._
    (lo until hi).map(i => (s"g${i % 5}", s"user$i")).toDF("g", "u")
  }

  /** Patient retry on the protocols' loud aborts: the cross-process peer
    * legitimately commits between this side's read and gate, and its move windows
    * surface as IO/Analysis/Spark exceptions on this side.
    */
  private def retrying(tag: String, maxAttempts: Int = 600)(op: => Unit): Unit = {
    var attempt = 0
    var done = false
    while (!done) {
      try { op; done = true }
      catch {
        case e @ (_: java.util.ConcurrentModificationException | _: java.io.IOException
                  | _: IllegalArgumentException
                  | _: org.apache.spark.SparkException
                  | _: org.apache.spark.sql.AnalysisException) =>
          attempt += 1
          if (attempt >= maxAttempts)
            throw new IllegalStateException(s"$tag: no convergence after $maxAttempts retries", e)
          Thread.sleep(math.min(200L, 10L * attempt))
      }
    }
  }

  private def inThreads(work: Seq[(String, () => Unit)]): Unit = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = work.map { case (name, w) =>
      new Thread(() => {
        try w() catch { case t: Throwable =>
          errors.add(s"$name: ${t.getClass.getSimpleName}: ${t.getMessage}")
        }
      }, name)
    }
    threads.foreach(_.start()); threads.foreach(_.join(600000))
    require(errors.isEmpty, s"drill thread errors: ${errors.toArray.mkString("; ")}")
  }

  private def marker(root: String, name: String) = java.nio.file.Paths.get(root, name)
  private def touch(root: String, name: String): Unit =
    java.nio.file.Files.write(marker(root, name), Array.emptyByteArray)
  private def await(root: String, name: String, timeoutMs: Long): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (!java.nio.file.Files.exists(marker(root, name))) {
      require(System.nanoTime() < deadline, s"timed out waiting for $name in $root")
      Thread.sleep(100)
    }
  }

  // ---- the child process's half ----
  private def childHalf(spark: SparkSession, root: String): Unit = {
    inThreads(Seq(
      "child-pqdb" -> { () =>
        val db = new ParquetDatabase(spark, s"$root/pqdb")
        pqdbChildSlices.foreach { case (lo, hi) =>
          retrying(s"child delete [$lo,$hi)") {
            db.deleteWhere(col("id") >= lo && col("id") < hi)
          }
        }
        import spark.implicits._
        retrying("child upsert") {
          db.upsert(pqdbChildUpsert.map(i => (i, i % 3)).toDF("id", "g"), "id")
        }
      },
      "child-ivf" -> { () =>
        ivfChildBatches.foreach { case (lo, hi) =>
          retrying(s"child ivf append [$lo,$hi)") {
            Similarity.appendToIvfIndex(spark, s"$root/ivf",
              vecs(spark, lo, hi), "vec_id", "embedding")
          }
        }
      },
      "child-hll" -> { () =>
        hllChildBatches.foreach { case (lo, hi) =>
          retrying(s"child hll merge [$lo,$hi)") {
            DistinctSketch.mergeBatchIntoBucketedStore(spark,
              hllEvents(spark, lo, hi), Seq("g"), "u", s"$root/hll", nBuckets = 8)
          }
        }
      }))
  }

  // ---- the parent process's half ----
  private def parentHalf(spark: SparkSession, root: String): Unit = {
    inThreads(Seq(
      "parent-pqdb" -> { () =>
        val db = new ParquetDatabase(spark, s"$root/pqdb")
        pqdbParentSlices.zipWithIndex.foreach { case ((lo, hi), i) =>
          retrying(s"parent delete [$lo,$hi)") {
            db.deleteWhere(col("id") >= lo && col("id") < hi)
          }
          if (i == 1) retrying("parent compact") {
            db.compactSmallFiles(targetBytesPerFile = 4L * 1024 * 1024); ()
          }
        }
      },
      "parent-ivf" -> { () =>
        ivfParentBatches.foreach { case (lo, hi) =>
          retrying(s"parent ivf append [$lo,$hi)") {
            Similarity.appendToIvfIndex(spark, s"$root/ivf",
              vecs(spark, lo, hi), "vec_id", "embedding")
          }
          retrying("parent ivf rebalance") {
            Similarity.rebalanceIvfIndex(spark, s"$root/ivf",
              Similarity.autoCentroids(_, targetCellSize = 16), force = true)
            ()
          }
        }
      },
      "parent-hll" -> { () =>
        hllParentBatches.foreach { case (lo, hi) =>
          retrying(s"parent hll merge [$lo,$hi)") {
            DistinctSketch.mergeBatchIntoBucketedStore(spark,
              hllEvents(spark, lo, hi), Seq("g"), "u", s"$root/hll", nBuckets = 8)
          }
        }
      }))
  }

  /** Parent flow: build the stores, fork the child JVM, race it, verify.
    * Throws on any invariant breach; returns the per-surface summary.
    */
  def run(spark: SparkSession, root: String): Seq[String] = {
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(root))

    // base stores
    new ParquetDatabase(spark, s"$root/pqdb")
      .create(spark.range(600).select(col("id"), (col("id") % 3).as("g")),
        partitionBy = Seq("g"))
    Similarity.ensureIvfIndex(spark, s"$root/ivf", vecs(spark, 0, 64),
      "vec_id", "embedding", numCentroids = 4)
    DistinctSketch.buildBucketedStore(hllEvents(spark, 0, 100), Seq("g"), "u",
      s"$root/hll", nBuckets = 8)

    // fork the child JVM on this JVM's exact classpath; JDK17 module opens
    // mirror build.sbt (the child creates its own SparkSession)
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val javaBin = java.nio.file.Paths.get(
      System.getProperty("java.home"), "bin", "java").toString
    val cmd = (Seq(javaBin, "-Xmx4g", "-cp", System.getProperty("java.class.path")) ++
      addOpens ++ Seq(
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "graft.tools.ConcurrencyDrill", "child", root)).toArray
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    pb.redirectOutput(new java.io.File(root, "child.log"))
    val child = pb.start()

    try {
      // the child signals its session is up, THEN both halves race — the
      // overlap is real, not a head start for the cheap side
      await(root, "_child_ready", 180000)
      touch(root, "_go")
      parentHalf(spark, root)
      require(child.waitFor(300, java.util.concurrent.TimeUnit.SECONDS),
        "child JVM did not exit within 300 s")
      require(child.exitValue == 0 && java.nio.file.Files.exists(marker(root, "_child_ok")),
        s"child JVM failed (exit ${child.exitValue}) — see $root/child.log")
    } finally if (child.isAlive) child.destroyForcibly()

    val results = Seq.newBuilder[String]

    // PQDB invariant: survivors are EXACTLY base minus all committed slices
    // plus the upsert — cross-process, no loss, no resurrection
    val deleted = pqdbParentSlices ++ pqdbChildSlices
    val expected = ((0L until 600L)
      .filterNot(id => deleted.exists { case (lo, hi) => id >= lo && id < hi })
      ++ pqdbChildUpsert).sorted
    val db = new ParquetDatabase(spark, s"$root/pqdb")
    val got = db.read().select("id").collect().map(_.getLong(0)).sorted.toSeq
    require(got == expected,
      s"pqdb: surviving ids diverged (got ${got.size}, expected ${expected.size})")
    val acts = db.recover()
    require(!acts.exists(s => s.contains("restored") || s.contains("removed")),
      s"pqdb: recover found a stranded commit: ${acts.mkString("; ")}")
    results += s"pqdb: ${got.size} survivors == slice complement + upsert"

    // IVF invariant: every append that reported success is present after
    // the forced rebalances; the composed fingerprint matches
    val nExpected = 64L + 10L * (ivfChildBatches.size + ivfParentBatches.size)
    val assigned = spark.read.parquet(s"$root/ivf/assigned")
    require(assigned.count() == nExpected &&
      assigned.select("nid").distinct().count() == nExpected,
      s"ivf: assigned store lost or duplicated appends (n=${assigned.count()})")
    val fp = graft.sources.HadoopText.read(fs,
      new org.apache.hadoop.fs.Path(s"$root/ivf", "_fingerprint"))
    require(fp.contains(s"n=$nExpected"), s"ivf: fingerprint diverged: $fp")
    require(graft.sources.FileCommit.recover(spark, s"$root/ivf").isEmpty,
      "ivf: commit debris survived a clean finish")
    results += s"ivf: $nExpected vectors, fingerprint composed, no debris"

    // HLL invariant: racing mergers == the same batches folded sequentially
    val ref = s"$root/hll_ref"
    DistinctSketch.buildBucketedStore(hllEvents(spark, 0, 100), Seq("g"), "u", ref, nBuckets = 8)
    (hllChildBatches ++ hllParentBatches).foreach { case (lo, hi) =>
      DistinctSketch.mergeBatchIntoBucketedStore(spark,
        hllEvents(spark, lo, hi), Seq("g"), "u", ref, nBuckets = 8)
    }
    def est(d: String) = DistinctSketch.estimates(spark.read.parquet(d))
      .select("g", "distinct_est").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    require(est(s"$root/hll") == est(ref),
      s"hll: racing mergers diverged from the sequential fold")
    results += "hll: estimates == sequential fold"

    results.result()
  }

  private def childMain(root: String): Unit = {
    val spark = graft.GraftSession.build("local[8]", 8)
    spark.sparkContext.setLogLevel("WARN")
    try {
      touch(root, "_child_ready")
      await(root, "_go", 180000)
      childHalf(spark, root)
      touch(root, "_child_ok")
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("child")) childMain(args(1))
    else {
      val root = args.headOption.getOrElse(
        s"target/tmp/ccdrill/${java.util.UUID.randomUUID().toString.take(8)}")
      val spark = graft.GraftSession.build("local[8]", 8)
      spark.sparkContext.setLogLevel("WARN")
      try {
        val results = run(spark, root)
        results.foreach(r => println(s"[cc-drill] PASS $r"))
      } finally spark.stop()
    }
  }
}
