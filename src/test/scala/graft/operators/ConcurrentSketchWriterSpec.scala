package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Two-writer stress drills for the PERSISTED SKETCH STORES (r10 verdict
  * task 5): the table store got optimistic concurrency in round 10
  * (ConcurrentWriterSpec); these extend the same promise — every collision
  * is loud, the store stays readable, a retry converges with nothing
  * silently lost — to the MinHash signature store, the IVF index, and the
  * bucketed HLL store. Concurrent ingest ticks are the 100 TB norm.
  */
class ConcurrentSketchWriterSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(name: String): String = {
    val dir = s"target/tmp/sketch_ccw/$name"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    if (fs.exists(p.getParent))
      fs.listStatus(p.getParent).map(_.getPath)
        .filter(s => s.getName == name || s.getName.startsWith(name + "__"))
        .foreach(fs.delete(_, true))
    dir
  }

  private def retrying(maxAttempts: Int = 600)(op: => Unit): Unit = {
    // patient by design: the competing writer legitimately holds the store
    // mutex for whole multi-second Spark jobs, so the loser must out-wait
    // several full appends, not just a rename window
    var attempt = 0
    var done = false
    while (!done) {
      try { op; done = true }
      catch {
        case e @ (_: java.util.ConcurrentModificationException | _: java.io.IOException
                  | _: org.apache.spark.SparkException
                  | _: org.apache.spark.sql.AnalysisException) =>
          attempt += 1
          if (attempt >= maxAttempts) throw e
          Thread.sleep(math.min(200L, 10L * attempt))
      }
    }
  }

  private def inThreads(work: Seq[() => Unit]): Unit = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = work.map(w => new Thread(() => {
      try w() catch { case t: Throwable => errors.add(t) }
    }))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, errors.toArray.mkString("; "))
  }

  test("MinHash store: concurrent appends both commit; compaction is mutexed and recoverable") {
    val dir = fresh("mh2w")
    def doc(i: Int) = (i.toLong, s"unique document number $i with shared tail words $i")
    Dedup.buildMinHashStore((0 until 4).map(doc).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    // two genuinely concurrent appenders, disjoint batches: segments are
    // invocation-unique and visibility is one atomic rename, so BOTH land
    // with no coordination and no retry needed
    inThreads(Seq(
      () => Dedup.appendToMinHashStore((4 until 8).map(doc).toDF("doc_id", "text"),
        "doc_id", "text", dir, batchMarker = Some("a1")),
      () => Dedup.appendToMinHashStore((8 until 12).map(doc).toDF("doc_id", "text"),
        "doc_id", "text", dir, batchMarker = Some("b1"))))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val segs = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.startsWith("seg-"))
    assert(segs.length === 3, segs.mkString(", "))
    // the union is what probes see: all 12 docs' signatures present
    val ids = spark.read.parquet(segs.map(s => s"$dir/$s/toks"): _*)
      .select("id").distinct().count()
    assert(ids === 12L)
    // compaction vs compaction: a peer holding the gate makes the second LOUD
    val gate = new org.apache.hadoop.fs.Path(dir + "__patch_old")
    fs.mkdirs(gate)
    assert(graft.sources.HadoopText.writeIfAbsent(fs,
      new org.apache.hadoop.fs.Path(gate, "_manifest"), ""))
    intercept[java.util.ConcurrentModificationException](
      Dedup.compactMinHashStore(spark, dir))
    // a DIED compactor's gate is released by the quiesced recover
    val acts = graft.sources.FileCommit.recover(spark, dir)
    assert(acts.exists(_.contains("__patch_old")), acts.mkString("; "))
    assert(Dedup.compactMinHashStore(spark, dir) === 3)
    // exactly-once survives compaction: both batch markers carried forward
    Dedup.appendToMinHashStore((99 until 100).map(doc).toDF("doc_id", "text"),
      "doc_id", "text", dir, batchMarker = Some("a1"))
    val idsAfter = spark.read.parquet(
        fs.listStatus(new org.apache.hadoop.fs.Path(dir))
          .map(_.getPath.getName).filter(_.startsWith("seg-")).map(s => s"$dir/$s/toks"): _*)
      .select("id").distinct().count()
    assert(idsAfter === 12L, "re-delivered batch a1 was double-applied after compaction")
  }

  test("MinHash store: of two first appends to an empty store, both land or one aborts; neither loses the other's segment") {
    // the peer's first append (the store's build) is driven through the
    // counting filesystem's seams: it commits while this append lists the
    // empty store, or after this append decided to build, as it takes the
    // gate. A build whose replaced entries were listed after its decision
    // would silently replace the peer's `_params` and segment.
    import graft.sources.CountingLocalFs
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftcount.impl", classOf[CountingLocalFs].getName)
    def doc(i: Int) = (i.toLong, s"unique document number $i with shared tail words $i")
    def append(d: String, lo: Int, marker: String): Unit =
      Dedup.appendToMinHashStore((lo until lo + 4).map(doc).toDF("doc_id", "text"),
        "doc_id", "text", d, batchMarker = Some(marker))
    def ids(d: String): Set[Long] = {
      val root = new org.apache.hadoop.fs.Path(d)
      val segs = root.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(root)
        .map(_.getPath.getName).filter(_.startsWith("seg-"))
      spark.read.parquet(segs.map(s => s"$d/$s/toks"): _*).select("id").as[Long].collect().toSet
    }
    def store(name: String) = s"graftcount://${new java.io.File(fresh(name)).getAbsolutePath}"
    val listed = store("mhfirst_listed")
    CountingLocalFs.beforeListStatus = p => if (p.getName == "mhfirst_listed") {
      CountingLocalFs.beforeListStatus = _ => ()
      append(listed, 0, "a")
    }
    try append(listed, 4, "b") finally CountingLocalFs.beforeListStatus = _ => ()
    assert(ids(listed) === (0L until 8L).toSet)
    val gated = store("mhfirst_gated")
    CountingLocalFs.beforeMkdirs = p => if (p.getName.endsWith("__patch_old")) {
      CountingLocalFs.beforeMkdirs = _ => ()
      append(gated, 0, "a")
    }
    try {
      val ex = intercept[java.util.ConcurrentModificationException](append(gated, 4, "b"))
      assert(ex.getMessage.contains("changed between"), ex.getMessage)
    } finally CountingLocalFs.beforeMkdirs = _ => ()
    assert(ids(gated) === (0L until 4L).toSet)
    // the retry appends to the peer's build
    append(gated, 4, "b")
    assert(ids(gated) === (0L until 8L).toSet)
  }

  test("IVF index: concurrent appends are CAS-gated — loud conflict, retry converges, identity composes") {
    val dir = fresh("ivf2w")
    def vecs(lo: Int, hi: Int) = (lo until hi)
      .map(i => (i.toLong, (0 until 8).map(j => math.sin(i * 31 + j).toFloat)))
      .toDF("vec_id", "embedding")
    Similarity.ensureIvfIndex(spark, dir, vecs(0, 64), "vec_id", "embedding",
      numCentroids = 4)
    // 2 threads × 3 batches each, disjoint ids, retry on the pending-marker
    // conflict: every batch must land exactly once
    inThreads(Seq(
      () => (0 until 3).foreach(k => retrying() {
        Similarity.appendToIvfIndex(spark, dir, vecs(100 + k * 10, 110 + k * 10),
          "vec_id", "embedding")
      }),
      () => (0 until 3).foreach(k => retrying() {
        Similarity.appendToIvfIndex(spark, dir, vecs(200 + k * 10, 210 + k * 10),
          "vec_id", "embedding")
      })))
    assert(spark.read.parquet(s"$dir/assigned").count() === 124L)
    assert(spark.read.parquet(s"$dir/assigned").select("nid").distinct().count() === 124L)
    // the composed fingerprint identity matches the grown corpus: ensure
    // over it recognizes the index as current (no rebuild)
    val centMtime = new org.apache.hadoop.fs.Path(s"$dir/centroids")
      .getFileSystem(spark.sessionState.newHadoopConf())
      .getFileStatus(new org.apache.hadoop.fs.Path(s"$dir/centroids")).getModificationTime
    val grown = vecs(0, 64).unionByName(vecs(100, 110)).unionByName(vecs(110, 120))
      .unionByName(vecs(120, 130)).unionByName(vecs(200, 210))
      .unionByName(vecs(210, 220)).unionByName(vecs(220, 230))
    Similarity.ensureIvfIndex(spark, dir, grown, "vec_id", "embedding", numCentroids = 4)
    val after = new org.apache.hadoop.fs.Path(s"$dir/centroids")
      .getFileSystem(spark.sessionState.newHadoopConf())
      .getFileStatus(new org.apache.hadoop.fs.Path(s"$dir/centroids")).getModificationTime
    assert(after === centMtime,
      "ensureIvfIndex rebuilt an index whose concurrent appends composed correctly")
  }

  test("IVF index: probes racing appends each answer at the pre- or post-append version") {
    val dir = fresh("ivfprobe")
    val base = (0 until 64)
      .map(i => (i.toLong, (0 until 8).map(j => math.sin(i * 31 + j).toFloat)))
    val v0 = base.head._2
    // batch b: 5 near-copies of vector 0, nearer than every earlier batch's,
    // so each append changes the probe's answer; near-copies share one cell,
    // so each append commits one file and no listing can see half a batch
    val batches = (0 until 3).map(b => (0 until 5).map(j =>
      (1000L + 10L * b + j, v0.map(x => x + 1e-2f / (b + 2) * (j + 1)))))
    Similarity.ensureIvfIndex(spark, dir, base.toDF("vec_id", "embedding"),
      "vec_id", "embedding", numCentroids = 4)
    val q = base.take(1).toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Double)] =
      df.select("nid", "rn", "cos").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq.sortBy(_._2)
    // every cell probed: the answer at each version is the exact top-5
    val expected = (0 to batches.size).map(v => rows(Similarity.cosineTopK(
      (base ++ batches.take(v).flatten).toDF("vec_id", "embedding"), q,
      "vec_id", "embedding", k = 5)))
    assert(expected.distinct.size === expected.size, "fixture: versions share an answer")
    val appending = new java.util.concurrent.atomic.AtomicBoolean(true)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    def probe(): Unit = {
      val got = rows(Similarity.ivfTopKPersisted(spark, dir, q, "vec_id", "embedding",
        k = 5, nprobe = 4))
      val v = expected.indexOf(got)
      assert(v >= 0, s"probe answered at no version: $got")
      seen.add(v)
    }
    inThreads(Seq(
      () => try batches.foreach(b =>
        Similarity.appendToIvfIndex(spark, dir, b.toDF("vec_id", "embedding"),
          "vec_id", "embedding"))
      finally appending.set(false),
      () => while (appending.get()) probe()))
    probe()
    import scala.jdk.CollectionConverters._
    val versions = seen.asScala.toSeq
    assert(versions.size >= 2 && versions.last === batches.size, versions.mkString(","))
    assert(versions === versions.sorted, s"a probe went back a version: ${versions.mkString(",")}")
  }

  test("bucketed HLL store: concurrent mergers converge to the sequential fold; conflicts are loud; crash states repair") {
    val dir = fresh("hll2w")
    def events(lo: Int, hi: Int) = (lo until hi)
      .map(i => (s"g${i % 5}", s"user$i")).toDF("g", "u")
    DistinctSketch.buildBucketedStore(events(0, 100), Seq("g"), "u", dir, nBuckets = 8)
    // two genuinely concurrent mergers, overlapping key groups (every batch
    // touches all 5 groups): bucket contention is real, conflicts are
    // retried, HLL idempotence makes the replay converge
    inThreads(Seq(
      () => (0 until 3).foreach(k => retrying() {
        DistinctSketch.mergeBatchIntoBucketedStore(spark,
          events(100 + k * 50, 150 + k * 50), Seq("g"), "u", dir, nBuckets = 8)
      }),
      () => (0 until 3).foreach(k => retrying() {
        DistinctSketch.mergeBatchIntoBucketedStore(spark,
          events(300 + k * 50, 350 + k * 50), Seq("g"), "u", dir, nBuckets = 8)
      })))
    // reference: the same data folded sequentially into a fresh store —
    // HLL union is order-independent, so estimates must agree EXACTLY
    val ref = fresh("hll2w_ref")
    DistinctSketch.buildBucketedStore(events(0, 100), Seq("g"), "u", ref, nBuckets = 8)
    (0 until 3).foreach(k => DistinctSketch.mergeBatchIntoBucketedStore(spark,
      events(100 + k * 50, 150 + k * 50), Seq("g"), "u", ref, nBuckets = 8))
    (0 until 3).foreach(k => DistinctSketch.mergeBatchIntoBucketedStore(spark,
      events(300 + k * 50, 350 + k * 50), Seq("g"), "u", ref, nBuckets = 8))
    def est(d: String) = DistinctSketch.estimates(spark.read.parquet(d))
      .select("g", "distinct_est").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(est(dir) === est(ref))

    // a crashed merge, mid-move (a bucket's file aside, its replacement
    // in): merges abort LOUDLY instead of recovering — a live peer's move
    // window looks exactly the same — and the QUIESCED recover rolls it
    // back, after which the replayed merge folds with nothing lost
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val before = est(dir)
    val bucket = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.startsWith("bucket=")).min
    val rels = fs.listStatus(new org.apache.hadoop.fs.Path(dir, bucket))
      .map(st => s"$bucket/${st.getPath.getName}").toSeq.sorted
    graft.sources.CommitFixtures.midMove(fs, dir, rels, "crash001") { stage =>
      spark.read.parquet(dir).filter(col("bucket") === bucket.stripPrefix("bucket=").toLong)
        .write.partitionBy("bucket").parquet(stage.toString)
    }
    val ex = intercept[java.util.ConcurrentModificationException](
      DistinctSketch.mergeBatchIntoBucketedStore(spark, events(900, 910), Seq("g"), "u",
        dir, nBuckets = 8))
    assert(ex.getMessage.contains("recover()"), ex.getMessage)
    assert(graft.sources.FileCommit.recover(spark, dir).exists(_.startsWith("restored")))
    assert(est(dir) === before)
    DistinctSketch.mergeBatchIntoBucketedStore(spark, events(900, 910), Seq("g"), "u",
      dir, nBuckets = 8)
    val after = est(dir)
    // every group's estimate is >= its pre-crash value: nothing was lost
    // to the crash window (a lost bucket would crater its groups to the
    // new batch's tiny counts)
    before.foreach { case (g, v) => assert(after(g) >= v, s"group $g lost mass: $v -> ${after(g)}") }
  }

  test("bucketed HLL store: a peer's commit landing before the gate aborts the merge; no sketch mass stranded") {
    // a peer merge of the same bucket commits AFTER this merge listed and
    // read the bucket and BEFORE it takes the gate (driven through the
    // counting filesystem's mkdirs seam, which runs as this merge creates
    // the gate dir). The post-gate check must see the peer's files and
    // abort; promoting this merge's fold would drop the peer's sketch mass.
    import graft.sources.CountingLocalFs
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftcount.impl", classOf[CountingLocalFs].getName)
    val dir = s"graftcount://${new java.io.File(fresh("hllgap")).getAbsolutePath}"
    val data = (0 until 200).map(i => (s"k${i % 8}", i.toLong)).toDF("k", "v")
    def merge(rows: Seq[(String, Long)], d: String = dir): Unit =
      DistinctSketch.mergeBatchIntoBucketedStore(spark, rows.toDF("k", "v"), Seq("k"), "v",
        d, nBuckets = 4)
    DistinctSketch.buildBucketedStore(data, Seq("k"), "v", dir, nBuckets = 4)
    CountingLocalFs.beforeMkdirs = p => if (p.getName.endsWith("__patch_old")) {
      CountingLocalFs.beforeMkdirs = _ => ()
      merge(Seq(("k0", 8888L)))
    }
    try {
      val ex = intercept[java.util.ConcurrentModificationException](merge(Seq(("k0", 9999L))))
      assert(ex.getMessage.contains("changed between"), ex.getMessage)
    } finally CountingLocalFs.beforeMkdirs = _ => ()
    // the retry folds over the peer's commit: the store equals the
    // sequential fold of the same batches
    merge(Seq(("k0", 9999L)))
    val ref = fresh("hllgap_ref")
    DistinctSketch.buildBucketedStore(data, Seq("k"), "v", ref, nBuckets = 4)
    merge(Seq(("k0", 8888L)), ref)
    merge(Seq(("k0", 9999L)), ref)
    def est(d: String) = DistinctSketch.readEstimates(spark, d)
      .select("k", "distinct_est").collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(est(dir) === est(ref))
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val root = new org.apache.hadoop.fs.Path(dir)
    assert(fs.listStatus(root.getParent).map(_.getPath.getName)
      .filter(_.startsWith("hllgap__")).isEmpty, "a commit left a sibling")
  }
}
