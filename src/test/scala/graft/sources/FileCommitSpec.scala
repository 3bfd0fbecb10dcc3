package graft.sources

import graft.SparkSpec
import graft.operators.{Dedup, DistinctSketch, Similarity}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._

/** Hand-built commit states of the one store commit protocol. */
object CommitFixtures {

  private def files(fs: FileSystem, dir: Path): Seq[Path] = {
    val it = fs.listFiles(dir, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath).toSeq.sortBy(_.toString)
  }

  private def rel(fs: FileSystem, root: Path, p: Path): String =
    fs.makeQualified(p).toUri.getPath.stripPrefix(fs.makeQualified(root).toUri.getPath + "/")

  /** A commit of the store at `root` between its first aside-move and its
    * last move-in, as a live peer (or a crashed one) leaves it: the stage
    * `<root>__patch_tmp_<token>` that `stage` writes in the root's layout,
    * the gate's manifest naming every `touched` path and every staged file,
    * `touched.head` moved aside and the deepest staged file moved in that
    * no other touched path covers (a store's top-level marker moves last,
    * and nothing moves in under an original still in place).
    */
  def midMove(fs: FileSystem, root: String, touched: Seq[String], token: String)
             (stage: Path => Unit): Unit = {
    val tmp = new Path(s"${root}__patch_tmp_$token")
    stage(tmp)
    val staged = files(fs, tmp).filterNot(_.getName == "_SUCCESS")
    val gate = new Path(s"${root}__patch_old")
    fs.mkdirs(gate)
    HadoopText.write(fs, new Path(gate, "_manifest"), (touched.map(r => s"touched\t$root/$r") ++
      staged.map(f => s"new\t$root/${rel(fs, tmp, f)}")).mkString("\n"))
    val aside = new Path(gate, touched.head)
    fs.mkdirs(aside.getParent)
    require(fs.rename(new Path(root, touched.head), aside), s"move aside ${touched.head}")
    val first = staged.filterNot(f => touched.tail.exists { t =>
      val r = rel(fs, tmp, f); r == t || r.startsWith(t + "/") }).maxBy(_.depth)
    val in = new Path(root, rel(fs, tmp, first))
    fs.mkdirs(in.getParent)
    require(fs.rename(first, in), s"move in $first")
  }

  /** Finish the moves of the commit [[midMove]] built with `token`: every
    * touched path aside, every staged file in — the state a crash after
    * the last move-in and before the release leaves.
    */
  def moveRest(fs: FileSystem, root: String, touched: Seq[String], token: String): Unit = {
    val tmp = new Path(s"${root}__patch_tmp_$token")
    touched.map(t => new Path(root, t) -> new Path(s"${root}__patch_old/$t"))
      .filterNot(t => fs.exists(t._2)).foreach { case (p, aside) =>
        fs.mkdirs(aside.getParent)
        require(fs.rename(p, aside), s"move aside $p")
      }
    files(fs, tmp).filterNot(_.getName == "_SUCCESS").foreach { f =>
      val in = new Path(root, rel(fs, tmp, f))
      fs.mkdirs(in.getParent)
      require(fs.rename(f, in), s"move in $f")
    }
  }

  /** Every file under `root` and its `<name>__*` siblings: path -> md5. */
  def tree(fs: FileSystem, root: String): Map[String, String] = {
    val r = new Path(root)
    fs.listStatus(r.getParent).map(_.getPath)
      .filter(q => q.getName == r.getName || q.getName.startsWith(r.getName + "__"))
      .flatMap(files(fs, _)).map { f =>
        val in = fs.open(f)
        val bytes = try in.readAllBytes() finally in.close()
        f.toString -> java.security.MessageDigest.getInstance("MD5").digest(bytes)
          .map("%02x".format(_)).mkString
      }.toMap
  }
}

class FileCommitSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(name: String): String = {
    val dir = s"target/tmp/file_commit/$name"
    val p = new Path(dir)
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    if (fs.exists(p.getParent))
      fs.listStatus(p.getParent).map(_.getPath)
        .filter(q => q.getName == name || q.getName.startsWith(name + "__"))
        .foreach(fs.delete(_, true))
    dir
  }

  private def fsOf(dir: String) = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  private def vecs(lo: Int, hi: Int) = (lo until hi)
    .map(i => (i.toLong, (0 until 8).map(j => math.sin(i * 31 + j).toFloat)))
    .toDF("vec_id", "embedding")
  private def docs(lo: Int, hi: Int) = (lo until hi)
    .map(i => (i.toLong, s"document number $i with shared tail words $i")).toDF("doc_id", "text")
  private def events(lo: Int, hi: Int) = (lo until hi)
    .map(i => (s"g${i % 5}", s"user$i")).toDF("g", "u")

  /** One store: build it, hand-build a peer's mid-move mutation (a
    * "commit") and a peer's mid-move build, each staged under the token it
    * is given, name its mutators.
    */
  private final case class Store(build: String => Unit,
                                 commit: (FileSystem, String, String) => Unit,
                                 rebuild: (FileSystem, String, String) => Unit,
                                 mutators: Seq[(String, String => Unit)])

  /** A build of the store at `dir` mid-move: the root's top-level entries,
    * `first` (moved aside) leading, are replaced by what `stage` writes;
    * the old store is partly aside and the new one partly in.
    */
  private def midBuild(fs: FileSystem, dir: String, first: String, token: String)
                      (stage: Path => Unit): Unit = {
    val entries = fs.listStatus(new Path(dir)).map(_.getPath.getName).sorted
    CommitFixtures.midMove(fs, dir, first +: entries.filterNot(_ == first).toSeq, token)(stage)
  }

  private val stores: Seq[(String, Store)] = Seq(
    "ParquetDatabase" -> Store(
      dir => {
        val db = new ParquetDatabase(spark, dir)
        db.create(spark.range(50).toDF("id").repartition(1))
        db.create(spark.range(50, 60).toDF("id").repartition(1))
      },
      (fs, dir, token) => {
        // a normalize: every data file replaced by a flat stage
        val rels = ParquetStats.listParquetFiles(dir, spark.sessionState.newHadoopConf())
          .map(_.getName).sorted
        CommitFixtures.midMove(fs, dir, rels, token) { stage =>
          spark.range(1000, 1010).toDF("id").repartition(2).write.parquet(stage.toString)
        }
      },
      (fs, dir, token) => {
        val first = fs.listStatus(new Path(dir)).map(_.getPath.getName)
          .filter(_.endsWith(".parquet")).min
        midBuild(fs, dir, first, token) { stage =>
          spark.range(2000, 2010).toDF("id").repartition(2).write.parquet(stage.toString)
        }
      },
      Seq(
        "deleteWhere" -> (d => new ParquetDatabase(spark, d).deleteWhere(col("id") < 5)),
        "upsert" -> (d => new ParquetDatabase(spark, d).upsert(Seq(3L, 70L).toDF("id"), "id")),
        "normalize" -> (d => new ParquetDatabase(spark, d).normalize(maxRowsPerFile = 10)),
        "compactSmallFiles" -> (d =>
          new ParquetDatabase(spark, d).compactSmallFiles(targetBytesPerFile = 1L << 20)))),
    "IVF index" -> Store(
      dir => Similarity.ensureIvfIndex(spark, dir, vecs(0, 64), "vec_id", "embedding",
        numCentroids = 4),
      (fs, dir, token) => {
        // an append: a new `assigned` file and `_fingerprint` replace `_fingerprint`
        val fp = HadoopText.read(fs, new Path(dir, "_fingerprint"))
        CommitFixtures.midMove(fs, dir, Seq("_fingerprint"), token) { stage =>
          spark.read.parquet(s"$dir/assigned").limit(1)
            .withColumn("nid", lit(9999L)).repartition(1)
            .write.partitionBy("cell").parquet(s"$stage/assigned")
          HadoopText.write(fs, new Path(stage, "_fingerprint"), fp.replace("n=64", "n=65"))
        }
      },
      (fs, dir, token) => {
        // a rebuild over a grown corpus: `assigned` aside, one new cell file in
        val fp = HadoopText.read(fs, new Path(dir, "_fingerprint"))
        midBuild(fs, dir, "assigned", token) { stage =>
          val index = Similarity.buildIvfIndex(vecs(0, 80), "vec_id", "embedding", 4)
          index.centroids.write.parquet(s"$stage/centroids")
          index.assigned.write.partitionBy("cell").parquet(s"$stage/assigned")
          HadoopText.write(fs, new Path(stage, "_fingerprint"), fp.replace("n=64", "n=80"))
        }
      },
      Seq(
        "appendToIvfIndex" -> (d => Similarity.appendToIvfIndex(spark, d, vecs(100, 110),
          "vec_id", "embedding")),
        "rebalanceIvfIndex" -> (d => Similarity.rebalanceIvfIndex(spark, d, force = true)),
        // a changed corpus, so ensure would rebuild
        "ensureIvfIndex" -> (d => Similarity.ensureIvfIndex(spark, d, vecs(0, 70),
          "vec_id", "embedding", numCentroids = 4)))),
    "MinHash store" -> Store(
      dir => {
        Dedup.buildMinHashStore(docs(0, 4), "doc_id", "text", dir)
        Dedup.appendToMinHashStore(docs(4, 8), "doc_id", "text", dir, batchMarker = Some("1"))
      },
      (fs, dir, token) => {
        // a compaction: one staged segment replaces both segment dirs
        val segs = fs.listStatus(new Path(dir)).map(_.getPath.getName)
          .filter(_.startsWith("seg-")).toSeq.sorted
        CommitFixtures.midMove(fs, dir, segs, token) { stage =>
          spark.read.parquet(segs.map(s => s"$dir/$s/toks"): _*)
            .write.parquet(s"$stage/seg-peer/toks")
          spark.read.parquet(segs.map(s => s"$dir/$s/bands"): _*)
            .write.parquet(s"$stage/seg-peer/bands")
        }
      },
      (fs, dir, token) => {
        // a build: `_params` plus one segment replace every entry
        val first = fs.listStatus(new Path(dir)).map(_.getPath.getName)
          .filter(_.startsWith("seg-")).min
        midBuild(fs, dir, first, token) { stage =>
          HadoopText.write(fs, new Path(stage, "_params"), "16|2|3")
          docs(20, 30).select(col("doc_id").as("id"), lit(Array(1L, 2L)).as("ths"))
            .write.parquet(s"$stage/seg-build/toks")
          docs(20, 30).select(col("doc_id").as("id"), lit(0).as("band"), lit(7L).as("bh"))
            .write.parquet(s"$stage/seg-build/bands")
        }
      },
      Seq(
        "appendToMinHashStore" -> (d => Dedup.appendToMinHashStore(docs(8, 12), "doc_id", "text", d)),
        "compactMinHashStore" -> (d => Dedup.compactMinHashStore(spark, d)),
        "buildMinHashStore" -> (d => Dedup.buildMinHashStore(docs(0, 2), "doc_id", "text", d)))),
    "HLL store" -> Store(
      dir => DistinctSketch.buildBucketedStore(events(0, 100), Seq("g"), "u", dir, nBuckets = 4),
      (fs, dir, token) => {
        // a merge: the files of one touched bucket replaced
        val bucket = fs.listStatus(new Path(dir)).map(_.getPath.getName)
          .filter(_.startsWith("bucket=")).min
        val rels = fs.listStatus(new Path(dir, bucket)).map(s => s"$bucket/${s.getPath.getName}")
        CommitFixtures.midMove(fs, dir, rels.toSeq.sorted, token) { stage =>
          spark.read.parquet(dir).filter(col("bucket") === bucket.stripPrefix("bucket=").toLong)
            .write.partitionBy("bucket").parquet(stage.toString)
        }
      },
      (fs, dir, token) => {
        // a build: every bucket dir replaced
        val first = fs.listStatus(new Path(dir)).map(_.getPath.getName)
          .filter(_.startsWith("bucket=")).min
        midBuild(fs, dir, first, token) { stage =>
          spark.read.parquet(dir).withColumn("g", concat(col("g"), lit("x")))
            .write.partitionBy("bucket").parquet(stage.toString)
        }
      },
      Seq(
        "mergeBatchIntoBucketedStore" -> (d => DistinctSketch.mergeBatchIntoBucketedStore(spark,
          events(100, 150), Seq("g"), "u", d, nBuckets = 4)),
        "buildBucketedStore" -> (d => DistinctSketch.buildBucketedStore(events(0, 10),
          Seq("g"), "u", d, nBuckets = 4)))))

  // The `ensureIvfIndex` case fails where ensure recovers at entry: that
  // recover rolls the live peer's commit back.
  for ((name, store) <- stores; (kind, peer) <- Seq("commit" -> store.commit, "build" -> store.rebuild))
    test(s"a live peer's mid-move $kind makes every $name mutator abort, touching nothing") {
      val dir = fresh(s"livepeer_${kind}_${name.replace(' ', '_')}")
      val fs = fsOf(dir)
      store.build(dir)
      val committed = CommitFixtures.tree(fs, dir)
      val token = s"${kind}peer"
      peer(fs, dir, token)
      val midMove = CommitFixtures.tree(fs, dir)
      assert(midMove.keys.exists(_.contains(s"__patch_tmp_$token/")) &&
        midMove.keys.exists(_.endsWith("__patch_old/_manifest")), midMove.keys)
      store.mutators.foreach { case (m, run) =>
        val e = intercept[java.util.ConcurrentModificationException](run(dir))
        assert(e.getMessage.contains("recover()"), s"$m: ${e.getMessage}")
        assert(CommitFixtures.tree(fs, dir) === midMove, s"$m touched the peer's commit")
      }
      // once the peer is known dead, the quiesced recover restores the
      // store byte-exactly and leaves no sibling
      assert(FileCommit.recover(spark, dir).exists(_.startsWith("restored")))
      assert(CommitFixtures.tree(fs, dir) === committed)
      assert(FileCommit.recover(spark, dir).isEmpty)
    }

  test("a MinHash append makes its segment visible with exactly one rename") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftcount.impl", classOf[CountingLocalFs].getName)
    val local = fresh("mh_one_rename")
    val root = new java.io.File(local).getAbsolutePath
    val dir = s"graftcount://$root"
    Dedup.buildMinHashStore(docs(0, 4), "doc_id", "text", dir)
    CountingLocalFs.calls.clear()
    CountingLocalFs.renames.clear()
    Dedup.appendToMinHashStore(docs(4, 8), "doc_id", "text", dir, batchMarker = Some("1"))
    import scala.jdk.CollectionConverters._
    info(s"MinHash append: ${CountingLocalFs.calls.asScala.toSeq.sorted.mkString(", ")}")
    val intoRoot = CountingLocalFs.renames.asScala.toSeq.filter { case (_, dst) =>
      dst.startsWith(root + "/") || dst == root }
    assert(intoRoot.size === 1, intoRoot)
    assert(intoRoot.head._2.stripPrefix(root + "/").matches("seg-[^/]+"), intoRoot)
    val segs = fsOf(local).listStatus(new Path(local)).map(_.getPath.getName)
      .filter(_.startsWith("seg-"))
    assert(segs.length === 2)
    assert(spark.read.parquet(segs.map(s => s"$local/$s/toks"): _*)
      .select("id").distinct().count() === 8L)
    // the appended segment has the built one's shape: no job marker anywhere
    val markers = java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator.asScala
      .map(_.toString).filter(_.endsWith("/_SUCCESS")).toSeq
    assert(markers.isEmpty, markers)
  }
}
