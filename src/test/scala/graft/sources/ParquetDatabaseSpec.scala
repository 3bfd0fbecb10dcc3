package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.functions._

/** Local disk under the `graftcount` scheme, counting the metadata calls
  * callers make (a stat or a listing is one HEAD / LIST request on an
  * object store). Calls the filesystem makes on itself, such as the stat
  * per child inside a local `listStatus`, are not counted.
  */
class CountingLocalFs extends RawLocalFileSystem {
  override def getScheme: String = "graftcount"
  override def getUri: java.net.URI = java.net.URI.create("graftcount:///")
  override def getFileStatus(f: Path): FileStatus =
    CountingLocalFs.outer("getFileStatus")(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingLocalFs.beforeListStatus(f)
    CountingLocalFs.outer("listStatus")(super.listStatus(f))
  }
  override def exists(f: Path): Boolean =
    CountingLocalFs.outer("exists")(super.exists(f))
  override def rename(src: Path, dst: Path): Boolean = CountingLocalFs.outer("rename") {
    CountingLocalFs.renames.add(makeQualified(src).toUri.getPath -> makeQualified(dst).toUri.getPath)
    super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean =
    CountingLocalFs.outer("delete")(super.delete(f, recursive))
  override def mkdirs(f: Path): Boolean = {
    CountingLocalFs.beforeMkdirs(f)
    CountingLocalFs.outer("mkdirs")(super.mkdirs(f))
  }
  override def mkdirs(f: Path, permission: org.apache.hadoop.fs.permission.FsPermission): Boolean = {
    CountingLocalFs.beforeMkdirs(f)
    CountingLocalFs.outer("mkdirs")(super.mkdirs(f, permission))
  }
}

object CountingLocalFs {
  val calls = new java.util.concurrent.ConcurrentHashMap[String, Int]()
  /** (source, destination) of every counted rename, as local paths. */
  val renames = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
  private val depth = ThreadLocal.withInitial[Int](() => 0)
  def outer[T](name: String)(f: => T): T = {
    if (depth.get == 0) calls.merge(name, 1, (a: Int, b: Int) => a + b)
    depth.set(depth.get + 1)
    try f finally depth.set(depth.get - 1)
  }
  def total: Int = { import scala.jdk.CollectionConverters._; calls.values.asScala.sum }
  /** Runs before every mkdirs: the point a test interleaves a peer at. */
  @volatile var beforeMkdirs: Path => Unit = _ => ()
  /** Runs before every listStatus, the same kind of seam. */
  @volatile var beforeListStatus: Path => Unit = _ => ()
}

class ParquetDatabaseSpec extends SparkSpec {
  import spark.implicits._

  /** A fresh table: the dir and its snapshot/archive/commit siblings are
    * deleted — snapshot manifests persist OUTSIDE the table dir and would
    * collide across reruns.
    */
  private def freshDb(name: String): ParquetDatabase = {
    val dir = s"target/tmp/pqdb/$name"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    if (fs.exists(p.getParent))
      fs.listStatus(p.getParent).map(_.getPath)
        .filter(q => q.getName == name || q.getName.startsWith(name + "__"))
        .foreach(fs.delete(_, true))
    new ParquetDatabase(spark, dir)
  }

  test("create + read round-trips with schema evolution across batches") {
    val db = freshDb("evolve")
    db.create(Seq((1L, "a")).toDF("id", "x"))
    db.create(Seq((2L, 3.5)).toDF("id", "y"))
    val out = db.read().orderBy("id").collect()
    assert(db.nColumns === 3)
    assert(out(0).getAs[String]("x") === "a" && out(0).isNullAt(out(0).fieldIndex("y")))
    assert(out(1).isNullAt(out(1).fieldIndex("x")) && out(1).getAs[Double]("y") === 3.5)
  }

  test("normalize bounds rows per file and preserves data; old dir cleaned up") {
    val db = freshDb("norm")
    db.create(spark.range(10000).select(col("id"), (col("id") % 7).as("g")))
    db.normalize(maxRowsPerFile = 1000)
    val stats = db.fileStats
    assert(stats.map(_.numRows).sum === 10000L)
    assert(stats.forall(_.numRows <= 1000L))
    assert(stats.size >= 10)
    assert(stateSiblings(db).isEmpty, stateSiblings(db))
  }

  test("normalize(sortBy) lays out disjoint key ranges per file (data skipping)") {
    val db = freshDb("normsort")
    // write shuffled ids so the sort actually has to move data
    db.create(spark.range(10000)
      .select((col("id") * 2654435761L % 10000).as("id")))
    db.normalize(maxRowsPerFile = 2500, sortBy = Seq("id"))
    val files = ParquetStats.listParquetFiles(db.dir, spark.sessionState.newHadoopConf()).map(_.toString)
    assert(files.size >= 4)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(org.apache.spark.sql.functions.min("id"),
          org.apache.spark.sql.functions.max("id")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi <= lo2, s"overlapping ranges $ranges")
      case _ =>
    }
  }

  test("upsert replaces matching keys, appends new ones; deleteWhere filters in place") {
    val db = freshDb("upsert")
    db.create(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("id", "x", "v"))
    db.upsert(Seq((2L, "B", 99.0), (4L, "d", 40.0)).toDF("id", "x", "v"), "id")
    val rows = db.read().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(rows === Seq((1L, "a", 10.0), (2L, "B", 99.0), (3L, "c", 30.0), (4L, "d", 40.0)))
    db.deleteWhere(col("v") === 40.0)
    assert(db.read().orderBy("id").collect().map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    // crash-safe temp dirs cleaned up after both rewrites
    assert(stateSiblings(db).isEmpty, stateSiblings(db))
  }

  test("a type-divergent patch conforms to the table's schema instead of stranding mixed files") {
    // caught by the cross-process drill (round 13): the file-scoped patch
    // path appends the patch's rows as NEW files beside untouched ones, so a
    // patch whose column types differ from the table's (here INT columns
    // patched with BIGINT — the shape partition-dir inference produces)
    // would leave per-file schemas parquet cannot merge and every later
    // read() would fail, long after the upsert reported success
    val db = freshDb("typeconform")
    db.create(spark.range(100).select(col("id"),
      (col("id") % 7).cast("int").as("v")))
    db.normalize(maxRowsPerFile = 25, sortBy = Seq("id")) // ranged files -> patch path
    db.upsert(Seq((10L, -1L), (200L, -2L)).toDF("id", "v"), "id") // v is BIGINT here
    // the table stays readable with ONE schema, and the patch values landed
    assert(db.read().schema("v").dataType === org.apache.spark.sql.types.IntegerType)
    val got = db.read().filter(col("v") < 0).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got === Seq((10L, -1), (200L, -2)))
    assert(db.nRows === 101L)
  }

  test("upsert/deleteWhere on a range-sorted table leave out-of-range files untouched") {
    val db = freshDb("scoped")
    db.create(spark.range(10000).select(col("id"), (col("id") % 97).as("v")))
    db.normalize(maxRowsPerFile = 2500, sortBy = Seq("id"))
    def snapshot(): Map[String, Long] = {
      val fs = new org.apache.hadoop.fs.Path(db.dir)
        .getFileSystem(new org.apache.hadoop.conf.Configuration())
      ParquetStats.listParquetFiles(db.dir, spark.sessionState.newHadoopConf())
        .map(p => p.toString -> fs.getFileStatus(p).getModificationTime).toMap
    }
    val before = snapshot()
    assert(before.size >= 4)
    // patch keys all land in the first file's range [0, ~2500)
    db.upsert(Seq((10L, -1L), (20L, -2L), (10001L, -3L)).toDF("id", "v"), "id")
    val afterUpsert = snapshot()
    // every file whose range excludes {10, 20, 10001} survives byte-identical
    val preservedU = before.keySet.intersect(afterUpsert.keySet)
    assert(preservedU.size >= before.size - 2,
      s"upsert rewrote too many files: kept ${preservedU.size} of ${before.size}")
    preservedU.foreach(p => assert(before(p) === afterUpsert(p), s"mtime changed: $p"))
    val got = db.read().filter(col("v") < 0).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq((10L, -1L), (20L, -2L), (10001L, -3L)))
    assert(db.nRows === 10001L)
    // scoped delete: only the file(s) holding id=10/20 and the upsert file change
    val beforeDel = snapshot()
    db.deleteWhere(col("v") < 0)
    val afterDel = snapshot()
    val preservedD = beforeDel.keySet.intersect(afterDel.keySet)
    assert(preservedD.size >= beforeDel.size - 2,
      s"delete rewrote too many files: kept ${preservedD.size} of ${beforeDel.size}")
    preservedD.foreach(p => assert(beforeDel(p) === afterDel(p), s"mtime changed: $p"))
    assert(db.nRows === 9998L)
    assert(db.read().filter(col("v") < 0).count() === 0L)
    // a delete matching nothing touches nothing
    db.deleteWhere(col("v") === -999L)
    assert(snapshot() === afterDel)
  }

  test("compactSmallFiles packs only the small tail; healthy files untouched") {
    val db = freshDb("compact")
    def snapshot(): Map[String, Long] = {
      val fs = new org.apache.hadoop.fs.Path(db.dir)
        .getFileSystem(new org.apache.hadoop.conf.Configuration())
      ParquetStats.listParquetFiles(db.dir, spark.sessionState.newHadoopConf())
        .map(p => p.toString -> fs.getFileStatus(p).getModificationTime).toMap
    }
    // one healthy file + a tail of six tiny append files
    db.create(spark.range(20000).select(col("id"), (col("id") % 13).as("v")).repartition(1))
    (0 until 6).foreach { i =>
      db.create(spark.range(200)
        .select((col("id") + 100000L + i * 1000L).as("id"), lit(i.toLong).as("v"))
        .repartition(1))
    }
    val before = snapshot()
    assert(before.size === 7)
    val healthyBytes = db.fileStats.map(_.fileBytes).max
    val healthyPath = db.fileStats.maxBy(_.fileBytes).path
    val checksum = db.read().agg(sum("id"), sum("v"), count(lit(1))).head()

    val packed = db.compactSmallFiles(targetBytesPerFile = healthyBytes)
    assert(packed === 6)
    val after = snapshot()
    // the healthy file survives byte-identical; the tail collapsed
    assert(after.contains(healthyPath) && after(healthyPath) === before(healthyPath))
    assert(after.size < before.size, s"no file-count reduction: ${after.size}")
    assert(db.read().agg(sum("id"), sum("v"), count(lit(1))).head() === checksum)
    // second pass: the packed tail is a single small file — nothing to do
    assert(db.compactSmallFiles(targetBytesPerFile = healthyBytes) === 0)
    assert(snapshot() === after)
    // crash-safe temp dirs cleaned up
    val fs = new org.apache.hadoop.fs.Path(db.dir)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    for (suffix <- Seq("__patch_old", "__patch_tmp"))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(db.dir + suffix)), suffix)
  }

  test("compactSmallFiles packs partition-dir tails, preserving directory-encoded columns") {
    val db = freshDb("compact_part")
    def allFiles(): Map[String, (Long, Long)] = { // path -> (bytes, mtime)
      val root = new org.apache.hadoop.fs.Path(db.dir)
      val fs = root.getFileSystem(new org.apache.hadoop.conf.Configuration())
      val it = fs.listFiles(root, true)
      val buf = scala.collection.mutable.Map[String, (Long, Long)]()
      while (it.hasNext) {
        val s = it.next()
        if (s.getPath.getName.endsWith(".parquet"))
          buf(s.getPath.toString) = (s.getLen, s.getModificationTime)
      }
      buf.toMap
    }
    // two partition dirs, each one healthy file + a tail of six tiny appends
    db.create(spark.range(20000).select(col("id"),
      (col("id") % 2).cast("string").as("part"), (col("id") % 13).as("v"))
      .repartition(1), partitionBy = Seq("part"))
    (0 until 6).foreach { i =>
      db.create(spark.range(200)
        .select((col("id") + 100000L + i * 1000L).as("id"),
          (col("id") % 2).cast("string").as("part"), lit(i.toLong).as("v"))
        .repartition(1), partitionBy = Seq("part"))
    }
    val before = allFiles()
    assert(before.size === 14, s"fixture shape off: ${before.size} files")
    val healthyBytes = before.values.map(_._1).max
    val healthyPaths = before.filter(_._2._1 * 2 > healthyBytes).keySet
    assert(healthyPaths.size === 2)
    val checksum = db.read().agg(sum("id"), sum("v"), count(lit(1))).head()
    // partition-dir values read back type-inferred (int here) — compare as strings
    val perPart = db.read().groupBy(col("part").cast("string").as("part")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    val packed = db.compactSmallFiles(targetBytesPerFile = healthyBytes)
    assert(packed === 12, s"expected both partition tails packed, got $packed")
    val after = allFiles()
    // healthy files survive byte-identical in BOTH partition dirs
    healthyPaths.foreach { p =>
      assert(after.contains(p) && after(p) === before(p), s"healthy file touched: $p")
    }
    assert(after.size < before.size, s"no file-count reduction: ${after.size}")
    // data and the directory-encoded column both intact
    assert(db.read().agg(sum("id"), sum("v"), count(lit(1))).head() === checksum)
    assert(db.read().groupBy(col("part").cast("string").as("part")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap === perPart)
    // second pass: each dir's tail is already one file — nothing to do
    assert(db.compactSmallFiles(targetBytesPerFile = healthyBytes) === 0)
    assert(allFiles() === after)
    // temp siblings hang off the TABLE root (never inside it) and are gone
    val fs = new org.apache.hadoop.fs.Path(db.dir)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    for (suffix <- Seq("__patch_old", "__patch_tmp"))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(db.dir + suffix)), suffix)
  }

  test("recover() repairs interrupted swaps exactly") {
    val fs = new org.apache.hadoop.fs.Path("target/tmp")
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    def P(s: String) = new org.apache.hadoop.fs.Path(s)

    // patch ROLLBACK mid-move: one original moved aside, one replacement
    // moved in, manifest present -> byte-exact original table restored
    val db2 = freshDb("recover_patch")
    db2.create(spark.range(50).toDF("id").repartition(1))
    db2.create(spark.range(50, 60).toDF("id").repartition(1))
    val files = ParquetStats.listParquetFiles(db2.dir, spark.sessionState.newHadoopConf()).map(_.toString).sorted
    val checksum = db2.read().agg(sum("id")).head().getLong(0)
    spark.range(1000, 1010).toDF("id").write.parquet(db2.dir + "__patch_tmp")
    val newFiles = ParquetStats.listParquetFiles(db2.dir + "__patch_tmp", spark.sessionState.newHadoopConf())
    fs.mkdirs(P(db2.dir + "__patch_old"))
    val manifest = (files.map(p => s"touched\t$p") ++
      newFiles.map(f => s"new\t${db2.dir}/${f.getName}")).mkString("\n")
    val out = fs.create(P(db2.dir + "__patch_old/_manifest"), true)
    try out.write(manifest.getBytes("UTF-8")) finally out.close()
    assert(fs.rename(P(files.head), P(db2.dir + "__patch_old/" + P(files.head).getName)))
    assert(fs.rename(newFiles.head, P(db2.dir + "/" + newFiles.head.getName)))
    val acts3 = db2.recover()
    assert(acts3.exists(_.contains("restored")), acts3.mkString("; "))
    assert(db2.read().agg(sum("id")).head().getLong(0) === checksum)
    assert(!fs.exists(P(db2.dir + "__patch_old")) && !fs.exists(P(db2.dir + "__patch_tmp")))

    // healthy table: recover() is a no-op
    assert(db2.recover().isEmpty)
  }

  test("scoped upsert falls back correctly when footer ranges are unusable (string key)") {
    val db = freshDb("scoped_str")
    db.create(Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "v"))
    db.upsert(Seq(("b", 20L), ("d", 4L)).toDF("k", "v"), "k")
    val rows = db.read().orderBy("k").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows === Seq(("a", 1L), ("b", 20L), ("c", 3L), ("d", 4L)))
  }

  test("deleteWhere on a hive-partitioned table keeps partition columns (full-rewrite fallback)") {
    val db = freshDb("scoped_part")
    db.create(spark.range(100).select(col("id"), (col("id") % 4).as("p")),
      partitionBy = Seq("p"))
    db.deleteWhere(col("id") < 10)
    assert(db.nRows === 90L)
    assert(db.read().columns.toSet === Set("id", "p"))
    assert(db.read().filter(col("p").isNull).count() === 0L)
  }

  /** Every data file under `root`: table-relative path -> md5 of its bytes. */
  private def dataTree(root: String): Map[String, String] = {
    val r = new org.apache.hadoop.fs.Path(root)
    val fs = r.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val prefix = fs.makeQualified(r).toUri.getPath + "/"
    val it = fs.listFiles(r, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
      .filter(_.getName.endsWith(".parquet")).map { f =>
        val in = fs.open(f)
        val bytes = try in.readAllBytes() finally in.close()
        f.toUri.getPath.stripPrefix(prefix) -> java.security.MessageDigest.getInstance("MD5")
          .digest(bytes).map("%02x".format(_)).mkString
      }.toMap
  }

  test("a partitioned full rewrite commits by file moves: no partition dir or sibling left") {
    val db = freshDb("part_kernel")
    // one task writes both partitions, so both dirs hold the same basename
    db.create(spark.range(200).select(col("id"), (col("id") % 2).as("p")).repartition(1),
      partitionBy = Seq("p"))
    val before = dataTree(db.dir).keys.toSeq.sorted
    assert(before.size === 2 && before.map(_.split('/').last).distinct.size === 1,
      s"fixture premise: same-basename files in two partition dirs, got $before")
    db.deleteWhere(col("id") % 10 === 0)
    val rows = db.read().select("id", "p").as[(Long, Int)].collect().sortBy(_._1).toSeq
    assert(rows === (0L until 200L).filter(_ % 10 != 0).map(i => (i, (i % 2).toInt)))
    val fs = new org.apache.hadoop.fs.Path(db.dir)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    val dirsLeft = fs.listStatus(new org.apache.hadoop.fs.Path(db.dir)).filter(_.isDirectory)
    assert(dirsLeft.isEmpty, s"partition dirs left: ${dirsLeft.map(_.getPath.getName).toSeq}")
    assert(dataTree(db.dir).keys.forall(!_.contains('/')), "rows are written flat")
    assert(stateSiblings(db).isEmpty, stateSiblings(db))
  }

  test("recover() rolls a partitioned commit back byte-exactly from relative aside paths") {
    val fs = new org.apache.hadoop.fs.Path("target/tmp")
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    def P(s: String) = new org.apache.hadoop.fs.Path(s)
    val db = freshDb("part_recover")
    db.create(spark.range(300).select(col("id"), (col("id") % 3).as("p")).repartition(1),
      partitionBy = Seq("p"))
    val original = dataTree(db.dir)
    val rels = original.keys.toSeq.sorted // p=0/<name>, p=1/<name>, p=2/<name>
    assert(rels.size === 3 && rels.map(_.split('/').last).distinct.size === 1, rels)
    /** The gate a full rewrite holds: every original touched, a flat stage
      * as the replacements. Returns the stage's files.
      */
    def holdGate(stage: String): Seq[org.apache.hadoop.fs.Path] = {
      db.read().filter(col("id") >= 10).repartition(2).write.parquet(stage)
      val newFiles = ParquetStats.listParquetFiles(stage, spark.sessionState.newHadoopConf())
      fs.mkdirs(P(db.dir + "__patch_old"))
      HadoopText.write(fs, P(db.dir + "__patch_old/_manifest"),
        (rels.map(r => s"touched\t${db.dir}/$r") ++
          newFiles.map(f => s"new\t${db.dir}/${f.getName}")).mkString("\n"))
      newFiles
    }
    def moveAside(rel: String): Unit = {
      fs.mkdirs(P(db.dir + "__patch_old/" + rel).getParent)
      assert(fs.rename(P(s"${db.dir}/$rel"), P(db.dir + "__patch_old/" + rel)))
    }

    // mid-move: two same-basename originals aside, one replacement in
    val newFiles = holdGate(db.dir + "__patch_tmp_crash001")
    rels.take(2).foreach(moveAside)
    assert(fs.rename(newFiles.head, P(db.dir + "/" + newFiles.head.getName)))
    val acts = db.recover()
    assert(acts.count(_.startsWith("restored")) === 2, acts.mkString("; "))
    assert(acts.exists(_.startsWith("removed replacement")), acts.mkString("; "))
    assert(dataTree(db.dir) === original)
    assert(stateSiblings(db).isEmpty, stateSiblings(db))

    // after the last move-in and the empty-dir sweep, before the release:
    // the rollback recreates every partition dir
    val newFiles2 = holdGate(db.dir + "__patch_tmp_crash002")
    rels.foreach(moveAside)
    newFiles2.foreach(f => assert(fs.rename(f, P(db.dir + "/" + f.getName))))
    rels.map(_.split('/').head).foreach(d => assert(fs.delete(P(s"${db.dir}/$d"), false)))
    assert(db.recover().count(_.startsWith("restored")) === 3)
    assert(dataTree(db.dir) === original)
    assert(db.read().count() === 300L)
    assert(stateSiblings(db).isEmpty, stateSiblings(db))
  }

  test("a normalize commits by file renames and never renames the table root") {
    // the metadata calls of one normalize, flat and partitioned, counted
    // through the graftcount scheme (reported below as test info)
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftcount.impl", classOf[CountingLocalFs].getName)
    for ((name, partitioned) <- Seq("mc_flat" -> false, "mc_part" -> true)) {
      val local = freshDb(name)
      val root = new java.io.File(local.dir).getAbsolutePath
      val db = new ParquetDatabase(spark, s"graftcount://$root")
      val rows = spark.range(800).select(col("id"), (col("id") % 4).as("p"))
      if (partitioned) db.create(rows.repartition(1), partitionBy = Seq("p")) // 4 dirs
      else db.create(rows.repartition(8)) // 8 files
      CountingLocalFs.calls.clear()
      CountingLocalFs.renames.clear()
      db.normalize(maxRowsPerFile = 200)
      import scala.jdk.CollectionConverters._
      val renames = CountingLocalFs.renames.asScala.toSeq
      info(s"$name normalize: ${CountingLocalFs.calls.asScala.toSeq.sorted.mkString(", ")}")
      assert(!renames.exists { case (src, dst) => src == root || dst == root },
        s"$name: the table root was renamed: $renames")
      assert(db.read().count() === 800L)
      assert(stateSiblings(local).isEmpty, stateSiblings(local))
    }
  }

  test("per-read options reach the parquet source (P8 LoadConfig parity)") {
    val db = freshDb("readopts")
    db.create(Seq((1L, "a")).toDF("id", "x"))
    db.create(Seq((2L, 3.5)).toDF("id", "y"))
    // default read merges schemas across batches; a per-read override turns
    // it off and reads a single batch's schema
    assert(db.read().columns.toSet === Set("id", "x", "y"))
    val unmerged = db.read(options = Map("mergeSchema" -> "false"))
    assert(unmerged.columns.length < 3, s"mergeSchema override ignored: ${unmerged.columns.toSeq}")
  }

  test("exportTo replicates the table; replica reads identically") {
    val db = freshDb("exp")
    db.create(Seq((1L, "a"), (2L, "b")).toDF("id", "x"))
    val replica = db.exportTo("target/tmp/pqdb/exp_replica")
    assert(replica.read().orderBy("id").collect().toSeq ===
      db.read().orderBy("id").collect().toSeq)
    assert(replica.nRows === 2L)
  }

  /** Names of the table's state siblings (`<name>__…`) on disk. */
  private def stateSiblings(db: ParquetDatabase): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(db.dir)
    p.getFileSystem(new org.apache.hadoop.conf.Configuration()).listStatus(p.getParent)
      .map(_.getPath.getName).filter(_.startsWith(p.getName + "__")).toSeq.sorted
  }

  /** Reference fingerprint walk that stats every entry its parent listed;
    * [[ParquetDatabase.fingerprint]] must print the same from its listings.
    */
  private def statEveryEntryFingerprint(dir: String): String = {
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val rootPath = fs.makeQualified(new Path(dir)).toUri.getPath
    val sb = new StringBuilder
    def walk(p: Path): Unit =
      try {
        val st = fs.getFileStatus(p)
        if (st.isDirectory)
          fs.listStatus(p).sortBy(_.getPath.getName).foreach(s => walk(s.getPath))
        else sb.append(fs.makeQualified(p).toUri.getPath.stripPrefix(rootPath + "/"))
          .append('|').append(st.getLen).append('|').append(st.getModificationTime).append('\n')
      } catch { case _: java.io.FileNotFoundException => () }
    if (fs.exists(new Path(dir))) walk(new Path(dir))
    java.security.MessageDigest.getInstance("MD5")
      .digest(sb.result().getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }

  test("fingerprint equals the stat-every-entry walk with one stat plus one listing per dir") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftcount.impl", classOf[CountingLocalFs].getName)
    val flat = freshDb("fp_flat")
    (0 until 3).foreach(i => flat.create(spark.range(i * 100, i * 100 + 50)
      .select(col("id"), (col("id") % 3).as("v")).repartition(2)))
    val part = freshDb("fp_part")
    part.create(spark.range(60).select(col("id"), (col("id") % 3).as("p")),
      partitionBy = Seq("p"))
    part.create(spark.range(60, 80).select(col("id"), lit(7L).as("p")), partitionBy = Seq("p"))
    for ((db, dirs) <- Seq(flat -> 1, part -> 5)) { // part: the root + p=0,1,2,7
      assert(db.fingerprint() === statEveryEntryFingerprint(db.dir), db.dir)
      // the same tree seen through the counting scheme (which shows .crc
      // files the checksummed local scheme hides): same print, and the
      // metadata calls no longer grow with the file count
      val counted = s"graftcount://${new java.io.File(db.dir).getAbsolutePath}"
      CountingLocalFs.calls.clear()
      val fp = new ParquetDatabase(spark, counted).fingerprint()
      val calls = CountingLocalFs.total
      assert(CountingLocalFs.calls.get("listStatus") === dirs &&
        CountingLocalFs.calls.get("getFileStatus") === 1 && calls === dirs + 1,
        s"${db.dir}: ${CountingLocalFs.calls}")
      CountingLocalFs.calls.clear()
      assert(fp === statEveryEntryFingerprint(counted), counted)
      assert(CountingLocalFs.total > calls + 10, s"reference walk: ${CountingLocalFs.calls}")
    }
    assert(new ParquetDatabase(spark, "target/tmp/pqdb/fp_absent").fingerprint() ===
      statEveryEntryFingerprint("target/tmp/pqdb/fp_absent"))
  }

  /** The jobs a block runs: all of them, and those outside any SQL
    * execution — the footer-merge job of a read's schema inference.
    */
  private final case class Jobs(all: Int, inference: Int)

  private def jobsOf[A](body: => A): (A, Jobs) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val all = new java.util.concurrent.atomic.AtomicInteger(0)
    val inference = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        all.incrementAndGet()
        if (Option(e.properties).forall(_.getProperty("spark.sql.execution.id") == null))
          inference.incrementAndGet()
      }
    }
    org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val a = body
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      (a, Jobs(all.get, inference.get))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** The first read of a new version infers its schema; the next read
    * reuses it and runs one job. Both equal a raw merged-schema read.
    */
  private def openThenWarm(db: ParquetDatabase,
                           options: Map[String, String] = Map.empty): Seq[String] = {
    val (first, j1) = jobsOf(sortedRows(db.read(options = options)))
    assert(j1.inference >= 1, s"the first read of a new version did not infer: $j1")
    val (warm, j2) = jobsOf(sortedRows(db.read(options = options)))
    assert(j2 === Jobs(1, 0), s"a read of an open version ran more than its scan: $j2")
    assert(warm === first)
    val raw = spark.read.options(Map("mergeSchema" -> "true") ++ options).parquet(db.dir)
    assert(db.read(options = options).schema === raw.schema)
    assert(warm === sortedRows(raw))
    warm
  }

  test("read handle: a warm read runs one job; every commit makes the next read infer") {
    val db = freshDb("handle")
    db.create(spark.range(40).select(col("id"), concat(lit("x"), col("id")).as("x"))
      .repartition(3))
    assert(openThenWarm(db).size === 40)
    val (_, js) = jobsOf(db.schema)
    assert(js === Jobs(0, 0), s"schema of an open version ran a job: $js")

    // a create that adds a column: the old rows read null
    db.create(spark.range(40, 50).select(col("id"), (col("id") * 0.5).as("y")))
    openThenWarm(db)
    assert(db.read().columns.toSet === Set("id", "x", "y"))
    assert(db.read().filter(col("id") < 40 && col("y").isNotNull).count() === 0L)

    db.upsert(Seq((5L, "X5", 1.5), (100L, "new", 2.5)).toDF("id", "x", "y"), "id")
    assert(openThenWarm(db).size === 51)
    assert(db.read(Seq("x"), Some(col("id") === 5L)).head().getString(0) === "X5")

    db.deleteWhere(col("id") === 100L || col("id") === 6L)
    assert(openThenWarm(db).size === 49)

    db.normalize(maxRowsPerFile = 10, sortBy = Seq("id"))
    assert(db.fileStats.size > 2)
    openThenWarm(db)

    assert(db.compactSmallFiles(targetBytesPerFile = 1L << 20) > 1)
    assert(db.fileStats.size === 1)
    openThenWarm(db)

    // a writer outside the facade drops no handle: the digest sees its files
    spark.range(200, 203).select(col("id"), lit(9.5).as("y"), lit(true).as("z"))
      .write.mode("append").parquet(db.dir)
    assert(openThenWarm(db).size === 52)
    assert(db.read().columns.toSet === Set("id", "x", "y", "z"))
  }

  test("read handle on a hive-partitioned table keeps the directory-encoded columns") {
    val db = freshDb("handle_part")
    db.create(spark.range(60).select(col("id"), (col("id") % 3).as("p"),
      concat(lit("v"), col("id")).as("v")), partitionBy = Seq("p"))
    openThenWarm(db)
    assert(db.read().columns.toSet === Set("id", "v", "p"))
    val (pruned, j) = jobsOf(db.read(Seq("id", "p"), Some(col("p") === 2L)).collect())
    assert(j === Jobs(1, 0), s"$j")
    assert(pruned.length === 20 && pruned.forall(_.getInt(1) === 2)) // partition values infer as int
    db.create(spark.range(60, 70).select(col("id"), lit(7L).as("p"),
      concat(lit("v"), col("id")).as("v")), partitionBy = Seq("p"))
    assert(openThenWarm(db).size === 70)
    assert(db.read().filter(col("p") === 7L).count() === 10L)
  }

  test("read handle: a read with per-read options is held under its own key") {
    val db = freshDb("handle_opts")
    db.create(Seq((1L, "a")).toDF("id", "x"))
    db.create(Seq((2L, 3.5)).toDF("id", "y"))
    openThenWarm(db)
    val unmerged = Map("mergeSchema" -> "false")
    openThenWarm(db, unmerged)
    assert(db.read(options = unmerged).columns.length < 3)
    // both versions stay open side by side
    val (_, j) = jobsOf {
      db.read().collect()
      db.read(options = unmerged).collect()
    }
    assert(j === Jobs(2, 0), s"$j")
    assert(db.read().columns.toSet === Set("id", "x", "y"))
  }

  test("snapshot + upsert: time travel reads the pre-patch table exactly") {
    val db = freshDb("snap_upsert")
    val base = spark.range(1000).select(col("id"), (col("id") % 10).as("v"))
    db.create(base)
    db.normalize(maxRowsPerFile = 200, sortBy = Seq("id"))
    db.snapshot("pre")
    db.upsert(Seq((5L, 99L), (2000L, 1L)).toDF("id", "v"), "id")
    // current state sees the patch
    val cur = db.read().where(col("id") === 5L || col("id") === 2000L)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(cur === Seq((5L, 99L), (2000L, 1L)))
    // the snapshot does not
    val snap = db.readSnapshot("pre")
    assert(snap.count() === 1000L)
    assert(snap.where(col("id") === 5L).as[(Long, Long)].collect().toSeq === Seq((5L, 5L)))
    assert(snap.where(col("id") === 2000L).count() === 0L)
  }

  test("snapshot survives a full rewrite and a delete; vacuum respects pins") {
    val db = freshDb("snap_rewrite")
    db.create(spark.range(500).select(col("id"), (col("id") * 2).as("v")))
    db.snapshot("v1")
    db.deleteWhere(col("id") < 100) // scoped or full rewrite — either path archives
    db.normalize(maxRowsPerFile = 100) // full rewrite: whole previous tree archived
    assert(db.read().count() === 400L)
    assert(db.readSnapshot("v1").count() === 500L)
    // a second snapshot of the current state, then vacuum: v1's pins survive
    db.snapshot("v2")
    db.dropSnapshot("v2")
    db.vacuumSnapshots()
    assert(db.readSnapshot("v1").count() === 500L)
    // dropping the last pin reclaims the archive entirely
    db.dropSnapshot("v1")
    db.vacuumSnapshots()
    val fs = new org.apache.hadoop.fs.Path(db.dir)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    assert(!fs.exists(db.archiveRoot), "archive should be empty and removed after last drop")
    intercept[IllegalArgumentException](db.readSnapshot("v1"))
  }

  test("snapshot on a partitioned table keeps directory-encoded columns") {
    val db = freshDb("snap_part")
    db.create(spark.range(300).select(col("id"), (col("id") % 3).cast("string").as("part")),
      partitionBy = Seq("part"))
    db.snapshot("p1")
    db.deleteWhere(col("part") === "1") // partitioned → full-rewrite path
    assert(db.read().count() === 200L)
    val snap = db.readSnapshot("p1")
    assert(snap.count() === 300L)
    assert(snap.select("part").distinct().count() === 3L)
  }

  test("pruneSnapshots keeps the newest tags and reclaims unpinned bytes") {
    val db = freshDb("snap_prune")
    db.create(spark.range(200).select(col("id"), col("id").as("v")))
    db.snapshot("t1")
    db.deleteWhere(col("id") < 50)
    Thread.sleep(5) // manifest mtimes order the tags
    db.snapshot("t2")
    db.deleteWhere(col("id") < 100)
    Thread.sleep(5)
    db.snapshot("t3")
    val dropped = db.pruneSnapshots(keepLast = 2)
    assert(dropped === Seq("t1"))
    assert(db.snapshots === Seq("t2", "t3"))
    assert(db.readSnapshot("t2").count() === 150L)
    assert(db.readSnapshot("t3").count() === 100L)
    intercept[IllegalArgumentException](db.readSnapshot("t1"))
    // dropping everything reclaims the archive
    assert(db.pruneSnapshots(keepLast = 0).sorted === Seq("t2", "t3"))
    val fs = new org.apache.hadoop.fs.Path(db.dir)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    assert(!fs.exists(db.archiveRoot))
  }

  test("exportSnapshot replicates the as-of table into a fresh store") {
    val db = freshDb("snap_export")
    db.create(spark.range(100).select(col("id"), (col("id") * 3).as("v")))
    db.snapshot("gold")
    db.upsert(Seq((7L, -1L)).toDF("id", "v"), "id")
    val replica = db.exportSnapshot("gold", s"target/tmp/pqdb/snap_export_replica")
    assert(replica.read().orderBy("id").as[(Long, Long)].collect().toSeq ===
      (0L until 100L).map(i => (i, i * 3)))
  }

  test("recover() restores a crash-archived original exactly (no loss, no dup)") {
    val db = freshDb("snap_recover")
    db.create(spark.range(100).select(col("id"), col("id").as("v")))
    // one file, ranged: 128 packs to ceil(100/(128-128/32)) = 1 partition.
    // (100 packed to TWO files under packPartitions' 1/32 headroom, and the
    // `.head` picks below then depended on filesystem listing order — a
    // suite-order flake caught in round 16.)
    db.normalize(maxRowsPerFile = 128, sortBy = Seq("id"))
    db.snapshot("pin")
    db.upsert(Seq((5L, 50L)).toDF("id", "v"), "id") // original archived (pinned)
    val fs = new org.apache.hadoop.fs.Path(db.dir)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    // stage the crash recover() must untangle: the swap's manifest exists,
    // the replacement file is live, the original sits in the ARCHIVE (the
    // crash hit after archiving but before the patch-old cleanup finished)
    val live = ParquetStats.listParquetFiles(db.dir, spark.sessionState.newHadoopConf())
    val archivedAll = ParquetStats.listParquetFiles(db.archiveRoot.toString,
      spark.sessionState.newHadoopConf())
    assert(live.size == 1 && archivedAll.size == 1,
      s"fixture premise broken: ${live.size} live / ${archivedAll.size} archived files " +
        "— the staged manifest below names THE replacement and THE original")
    val liveFile = live.head
    val archived = archivedAll.head
    val pOld = new org.apache.hadoop.fs.Path(db.dir + "__patch_old")
    fs.mkdirs(pOld)
    val manifest = s"touched\t${db.dir}/${archived.getName}\nnew\t${db.dir}/${liveFile.getName}"
    val out = fs.create(new org.apache.hadoop.fs.Path(pOld, "_manifest"), true)
    out.write(manifest.getBytes("UTF-8")); out.close()
    val actions = db.recover()
    assert(actions.exists(_.contains("from archive")), actions.mkString("; "))
    // rolled back: the original content, exactly once
    val rows = db.read().orderBy("id").as[(Long, Long)].collect().toSeq
    assert(rows === (0L until 100L).map(i => (i, i)))
  }

  test("applyRetention edges: no snapshots, age-only, maxCount=0 wipes and vacuums") {
    val db = freshDb("retention_edges")
    db.create(spark.range(100).select(col("id"), (col("id") % 7).as("v")))
    // policy on a table with no snapshots is a no-op, not an error
    assert(db.applyRetention(maxCount = 3) === Nil)
    db.snapshot("a")
    db.upsert(spark.range(10).select(col("id"), (col("id") + 50).as("v")), "id")
    db.snapshot("b")
    // age-only policy with everything inside the horizon drops nothing
    assert(db.applyRetention(maxAgeMillis = Long.MaxValue / 2) === Nil)
    assert(db.snapshots === Seq("a", "b"))
    // maxCount=0 is "retain nothing": every tag dropped, archive vacuumed away
    val dropped = db.applyRetention(maxCount = 0)
    assert(dropped.toSet === Set("a", "b"))
    assert(db.snapshots === Nil)
    val fs = new org.apache.hadoop.fs.Path(db.dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(db.archiveRoot), "unpinned archive must be reclaimed")
    // the live table is untouched by snapshot lifecycle operations
    assert(db.read().count() === 100L)
    intercept[IllegalArgumentException] { db.applyRetention(maxCount = -1) }
    intercept[IllegalArgumentException] { db.applyRetention(maxAgeMillis = -1L) }
  }

  test("graft-snapshot read-option source time-travels without the Scala API") {
    val db = freshDb("v2source")
    db.create(spark.range(2000).select(col("id"), (col("id") % 5).as("v")))
    db.snapshot("pre")
    db.upsert(spark.range(500).select(col("id"), (col("id") + 100).as("v")), "id")
    db.deleteWhere(col("id") >= 1500)
    // the live table moved on; the tagged read must not have
    val asof = spark.read.format("graft-snapshot")
      .option("snapshot", "pre").load(db.dir)
    val want = (0L until 2000L).map(i => (i, i % 5))
    assert(asof.orderBy("id").as[(Long, Long)].collect().toSeq === want)
    assert(db.read().count() === 1500L)
    // scan exactly the pinned list: every scanned file is snapshot-pinned
    // (live or archive), and pushdown reaches the delegated parquet scan
    val pruned = asof.filter(col("id") <= 10).select("id")
    val scan = pruned.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.headOption.getOrElse(fail("no BatchScanExec in graft-snapshot plan"))
    val scanDesc = scan.scan.description()
    assert(scanDesc.contains("id") && scanDesc.toLowerCase.contains("pushedfilters"),
      s"filter not pushed into the delegated scan: $scanDesc")
    // pure SQL surface
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW v2source_asof USING `graft-snapshot` " +
      s"OPTIONS (path '${db.dir}', snapshot 'pre')")
    assert(spark.table("v2source_asof").count() === 2000L)
    assert(spark.sql("SELECT sum(v) FROM v2source_asof").head().getLong(0) ===
      want.map(_._2).sum)
    // matches the Scala API exactly
    assert(asof.orderBy("id").collect().toSeq ===
      db.readSnapshot("pre").orderBy("id").collect().toSeq)
    // loud errors: unknown tag, missing tag option
    intercept[Exception] {
      spark.read.format("graft-snapshot").option("snapshot", "nope").load(db.dir).schema
    }
    intercept[Exception] {
      spark.read.format("graft-snapshot").load(db.dir).schema
    }
  }

  test("graft-snapshot source keeps partition columns and errors on the mixed shape") {
    val db = freshDb("v2part")
    db.create(spark.range(300).select(col("id"), (col("id") % 3).as("p")),
      partitionBy = Seq("p"))
    db.snapshot("pre")
    // fully-live partitioned snapshot: basePath = table dir, partition
    // column recovered from the directory names
    val live = spark.read.format("graft-snapshot")
      .option("snapshot", "pre").load(db.dir)
    assert(live.columns.toSet === Set("id", "p"))
    // partition values come back via directory-name inference (int)
    assert(live.groupBy(col("p").cast("long").as("p")).count().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet === Set((0L, 100L), (1L, 100L), (2L, 100L)))
    // full rewrite parks EVERY pinned file in the archive -> single-root
    // (archive) scan still carries the partition column
    db.deleteWhere(col("id") >= 200)
    val arch = spark.read.format("graft-snapshot")
      .option("snapshot", "pre").load(db.dir)
    assert(arch.count() === 300L)
    assert(arch.columns.toSet === Set("id", "p"))
    assert(arch.orderBy("id").collect().toSeq ===
      db.readSnapshot("pre").orderBy("id").collect().toSeq)
    // mixed live+archive partitioned shape — per-leaf compaction rewrites
    // ONLY the partition with a packable tail, archiving its pinned file
    // while the other partitions' pinned files stay live: loud error
    // pointing at the API that can express it
    val db2 = freshDb("v2part_mixed")
    db2.create(spark.range(300).select(col("id"), (col("id") % 3).as("p"))
      .repartition(1), partitionBy = Seq("p"))
    db2.snapshot("mid")
    db2.create(spark.range(300L, 302L).select(col("id"), lit(1L).as("p"))
      .repartition(1), partitionBy = Seq("p"))
    val packed = db2.compactSmallFiles(targetBytesPerFile = 10L * 1024 * 1024)
    assert(packed >= 2, s"fixture: expected only the p=1 leaf to pack, packed=$packed")
    val mixedErr = intercept[IllegalArgumentException] {
      spark.read.format("graft-snapshot").option("snapshot", "mid").load(db2.dir).schema
    }
    assert(mixedErr.getMessage.contains("readSnapshot"), mixedErr.getMessage)
    // ...while the Scala API still reads it exactly
    assert(db2.readSnapshot("mid").count() === 300L)
  }

  test("normalizeToBytes converts a byte target into a row bound from footer stats") {
    val db = freshDb("normbytes")
    db.create(spark.range(20000).select(col("id"),
      concat(lit("payload-"), col("id")).as("s")))
    val before = db.fileStats
    val totalBytes = before.map(_.fileBytes).sum
    // target ≈ a quarter of the table → expect ≥ 4 files, all under target
    val target = math.max(1L, totalBytes / 4)
    db.normalizeToBytes(target)
    val after = db.fileStats
    assert(after.map(_.numRows).sum === 20000L)
    assert(after.size >= 4)
    assert(after.forall(_.fileBytes <= target * 2), // footer+dict overhead headroom
      s"files ${after.map(_.fileBytes)} vs target $target")
  }
}
