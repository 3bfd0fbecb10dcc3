package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Optimistic-concurrency drills: two interleaved writers on one table.
  * The `preSwapHook` seam fires after writer A has staged its replacement
  * data and immediately before it takes the commit gate and re-checks the
  * table — exactly the point a concurrent writer B's commit must be
  * detected at.
  */
class ConcurrentWriterSpec extends SparkSpec {
  import spark.implicits._

  private def freshDb(name: String): ParquetDatabase = {
    val dir = s"target/tmp/pqdb_ccw/$name"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    // sweep the table AND every state sibling (`__snapshots`, `__patch_old`,
    // invocation-unique `__patch_tmp_<token>` debris, …) by prefix —
    // fixed-name deletion leaks the unique-suffixed staging across reruns
    if (fs.exists(p.getParent))
      fs.listStatus(p.getParent).map(_.getPath)
        .filter(s => s.getName == name || s.getName.startsWith(name + "__"))
        .foreach(fs.delete(_, true))
    new ParquetDatabase(spark, dir)
  }

  private def P(s: String) = new org.apache.hadoop.fs.Path(s)
  private def fsOf(db: ParquetDatabase) =
    P(db.dir).getFileSystem(new org.apache.hadoop.conf.Configuration())

  /** Names of the table's state siblings (`<name>__…`) on disk. */
  private def siblings(db: ParquetDatabase): Seq[String] = {
    val p = P(db.dir)
    fsOf(db).listStatus(p.getParent).map(_.getPath.getName)
      .filter(_.startsWith(p.getName + "__")).toSeq.sorted
  }

  /** Every file under the table and its siblings: path -> md5 of its bytes. */
  private def tree(db: ParquetDatabase): Map[String, String] = {
    val fs = fsOf(db)
    val parent = P(db.dir).getParent
    val name = P(db.dir).getName
    fs.listStatus(parent).map(_.getPath)
      .filter(q => q.getName == name || q.getName.startsWith(name + "__"))
      .flatMap { root =>
        val it = fs.listFiles(root, true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath).map { f =>
          val in = fs.open(f)
          val bytes = try in.readAllBytes() finally in.close()
          f.toString -> java.security.MessageDigest.getInstance("MD5").digest(bytes)
            .map("%02x".format(_)).mkString
        }
      }.toMap
  }

  test("stress: two genuinely concurrent writers converge with every committed mutation applied") {
    // real threads, real races: each writer deletes its own disjoint id
    // slices through the partitioned full-rewrite arm (every data file
    // replaced), retrying on the protocol's loud aborts. The protocol's
    // promise is NOT that
    // interleavings never collide — it is that every collision is loud,
    // the table stays readable, and a retry converges with no committed
    // row silently lost or resurrected.
    val a = freshDb("stress2w")
    a.create(spark.range(600).select(col("id"), (col("id") % 3).as("g")),
      partitionBy = Seq("g"))
    val slices = Map(
      0 -> Seq((560L, 580L), (500L, 520L), (440L, 460L), (380L, 400L)),
      1 -> Seq((580L, 600L), (520L, 540L), (460L, 480L), (400L, 420L)))
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = slices.map { case (tid, ranges) =>
      new Thread(() => {
        val db = new ParquetDatabase(spark, a.dir)
        try ranges.foreach { case (lo, hi) =>
          var attempt = 0
          var done = false
          while (!done) {
            try { db.deleteWhere(col("id") >= lo && col("id") < hi); done = true }
            catch {
              // the protocol's retryable aborts: CAS/gate conflicts (CME,
              // incl. files vanishing mid-scan and a peer's manifest at
              // entry), a gate released under a claim (IOException), and a
              // listing that lands while a peer has every original aside
              // (AnalysisException: no file to infer a schema from)
              case e @ (_: java.util.ConcurrentModificationException | _: java.io.IOException
                        | _: org.apache.spark.sql.AnalysisException) =>
                attempt += 1
                if (attempt > 30) throw new IllegalStateException(
                  s"writer $tid failed to converge on [$lo,$hi) after 30 retries", e)
                Thread.sleep(20L * attempt)
            }
          }
        } catch { case t: Throwable => errors.add(t) }
      }, s"stress-writer-$tid")
    }.toSeq
    threads.foreach(_.start()); threads.foreach(_.join(300000))
    assert(errors.isEmpty, s"writer errors: ${errors.toArray.mkString("; ")}")
    // every slice applied exactly once: the surviving ids are EXACTLY the
    // complement of the union of all slices — no committed delete lost, no
    // deleted row resurrected by a stale stage landing late
    val deleted = slices.values.flatten.toSeq
    val expectedSurvivors = (0L until 600L)
      .filterNot(id => deleted.exists { case (lo, hi) => id >= lo && id < hi })
    assert(a.nRows === expectedSurvivors.size.toLong)
    val got = a.read().select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(got === expectedSurvivors, "surviving id set diverged from the slice complement")
    // the table is healthy; anything recover() finds is droppable staging
    // debris from aborted attempts, never a rollback
    val acts = a.recover()
    assert(!acts.exists(s => s.contains("restored") || s.contains("removed")),
      acts.mkString("; "))
  }

  test("HadoopText.writeIfAbsent never overwrites: the loser sees false, content survives") {
    // the commit gate replaceFiles and appendToIvfIndex serialize on
    val fs = new org.apache.hadoop.fs.Path("target/tmp")
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    val p = new org.apache.hadoop.fs.Path(
      s"target/tmp/pqdb_ccw/gate_${java.util.UUID.randomUUID().toString.take(8)}")
    assert(HadoopText.writeIfAbsent(fs, p, "winner"))
    assert(!HadoopText.writeIfAbsent(fs, p, "loser"))
    assert(HadoopText.read(fs, p) === "winner")
    fs.delete(p, false)
  }

  test("writeIfAbsent never resurrects a missing parent dir (a store renamed aside mid-swap)") {
    // claiming a marker inside a store whose dir a rebalance/swap just
    // renamed away must FAIL, not mkdirs the dir back: an empty resurrected
    // dir makes the swapper's promote rename NEST inside it
    val fs = new org.apache.hadoop.fs.Path("target/tmp")
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    val parent = new org.apache.hadoop.fs.Path(
      s"target/tmp/pqdb_ccw/absent_${java.util.UUID.randomUUID().toString.take(8)}")
    intercept[java.io.IOException](
      HadoopText.writeIfAbsent(fs, new org.apache.hadoop.fs.Path(parent, "_marker"), "x"))
    assert(!fs.exists(parent), "the failed claim must not recreate the store dir")
  }

  test("interleaved upserts: the second committer wins, the stale one aborts with nothing lost") {
    val a = freshDb("interleave")
    a.create(spark.range(100).select(col("id"), lit("base").as("v")))
    a.normalize(maxRowsPerFile = 25, sortBy = Seq("id")) // ranged files → scoped patch path
    val b = new ParquetDatabase(spark, a.dir)
    // writer B commits an upsert while writer A is between read and swap
    a.preSwapHook = () =>
      b.upsert(Seq((7L, "from-b")).toDF("id", "v"), "id")
    val e = intercept[java.util.ConcurrentModificationException] {
      a.upsert(Seq((3L, "from-a")).toDF("id", "v"), "id")
    }
    a.preSwapHook = () => ()
    assert(e.getMessage.contains("optimistic-concurrency conflict"))
    // B's committed write survives; A's aborted write left no trace
    val rows = a.read().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.size === 100)
    assert(rows(7L) === "from-b")
    assert(rows(3L) === "base")
    // no debris: the abort dropped the manifest and the stage
    assert(siblings(a).isEmpty, siblings(a))
    // the aborted writer retries against the fresh state and succeeds
    a.upsert(Seq((3L, "from-a")).toDF("id", "v"), "id")
    val after = a.read().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after(3L) === "from-a" && after(7L) === "from-b")
  }

  test("a concurrent append fails a full-table rewrite (normalize) instead of being dropped") {
    val a = freshDb("appendvsnorm")
    a.create(spark.range(1000).toDF("id"))
    val b = new ParquetDatabase(spark, a.dir)
    a.preSwapHook = () => b.create(spark.range(1000, 1010).toDF("id"))
    intercept[java.util.ConcurrentModificationException] {
      a.normalize(maxRowsPerFile = 100)
    }
    a.preSwapHook = () => ()
    // the appended batch is intact — a silent normalize would have dropped it
    assert(a.nRows === 1010L)
    a.normalize(maxRowsPerFile = 100) // retry on fresh state succeeds
    assert(a.nRows === 1010L)
  }

  test("a benign concurrent entry does not reclaim a live writer's staging") {
    // round-10 review finding: entry-point auto-recover treated a LIVE
    // writer's stage as crash debris — writer B entering any mutator while
    // A was staged (but pre-commit) deleted A's stage and stranded A's
    // commit. Mutators never recover, so a peer that commits nothing leaves
    // A's stage alone and A must complete.
    val a = freshDb("benignentry")
    a.create(spark.range(500).toDF("id"))
    val b = new ParquetDatabase(spark, a.dir)
    a.preSwapHook = () => {
      assert(siblings(a).exists(_.startsWith("benignentry__patch_tmp_")), siblings(a))
      b.deleteWhere(col("id") > 10000) // matches nothing, commits nothing
      assert(siblings(a).exists(_.startsWith("benignentry__patch_tmp_")), "A's stage reclaimed")
    }
    a.normalize(maxRowsPerFile = 100)
    a.preSwapHook = () => ()
    assert(a.nRows === 500L) // table present and intact — no stranded commit
    assert(siblings(a).isEmpty, siblings(a))
  }

  test("a crashed rewrite's stale staging never blocks the next writer; recover() sweeps it") {
    // a crashed writer's complete stage and a gate dir it left without a
    // manifest (a crash between mkdirs and the claim) must not stop the
    // next writer. The manifest-less __patch_old is the next winner's to
    // claim and release; the stage is IGNORED (each invocation stages
    // under its own unique name), never promoted, and waits for the
    // quiesced recover() — a writer cannot tell dead staging from a live
    // peer's, so it must not reclaim it inline
    val a = freshDb("staledebris")
    a.create(spark.range(100).toDF("id"))
    val fs = fsOf(a)
    spark.range(1000, 1999).toDF("id").write.parquet(a.dir + "__patch_tmp_dead1")
    fs.mkdirs(P(a.dir + "__patch_old"))
    a.normalize(maxRowsPerFile = 50)
    assert(a.nRows === 100L)
    assert(!fs.exists(P(a.dir + "__patch_old")), "stale gate dir not reclaimed")
    assert(fs.exists(P(a.dir + "__patch_tmp_dead1/_SUCCESS")),
      "stale staging must be left for the quiesced recover(), not reclaimed inline")
    val acts = a.recover()
    assert(acts.exists(_.contains("__patch_tmp_dead1")), acts.mkString("; "))
    assert(!acts.exists(_.contains("restored")), acts.mkString("; "))
    assert(siblings(a).isEmpty, siblings(a))
    assert(a.nRows === 100L)
  }

  test("concurrent stagers cannot clobber each other: a committer lands ITS bytes") {
    // with a SHARED staging name, writer B's overwrite-mode stage replaced
    // writer A's staged bytes while A sat pre-swap; A's conflict check then
    // passed (the live table never changed) and A committed B's content
    // while reporting its own mutation succeeded — a silent lost update
    // with a stage-duration-wide window. Staging is now invocation-unique.
    val a = freshDb("stageiso")
    a.create(spark.range(500).select(col("id"), (col("id") % 5).as("g")),
      partitionBy = Seq("g"))
    val b = new ParquetDatabase(spark, a.dir)
    b.preSwapHook = () => throw new RuntimeException("simulated crash pre-swap")
    a.preSwapHook = () => {
      // b stages a DIFFERENT rewrite (delete >= 400) and dies before its
      // swap, leaving b's staged bytes on disk while a is pre-swap
      intercept[RuntimeException] { b.deleteWhere(col("id") >= 400) }
      ()
    }
    a.deleteWhere(col("id") >= 450) // partitioned layout -> every file replaced
    a.preSwapHook = () => ()
    assert(a.nRows === 450L) // a's bytes, not b's 400-row stage
    // b's orphaned stage is debris for the quiesced recover()
    val acts = a.recover()
    assert(acts.exists(_.contains("__patch_tmp")), acts.mkString("; "))
    assert(a.nRows === 450L)
  }

  test("a commit landing before the gate is caught by the post-gate check, not dropped") {
    // writer B fully commits AFTER writer A staged and BEFORE A takes the
    // gate. A's check runs while A holds the gate, so it sees B's commit,
    // drops A's manifest and stage, and aborts — B's rows survive. (Once A
    // holds the gate, B cannot commit at all: see the live-peer drill.)
    val a = freshDb("gapcommit")
    a.create(spark.range(500).select(col("id"), (col("id") % 5).as("g")),
      partitionBy = Seq("g"))
    val b = new ParquetDatabase(spark, a.dir)
    a.preSwapHook = () => b.deleteWhere(col("id") >= 400) // full commit before A's gate
    val ex = intercept[java.util.ConcurrentModificationException] {
      a.deleteWhere(col("id") >= 450)
    }
    a.preSwapHook = () => ()
    assert(ex.getMessage.contains("changed between"), ex.getMessage)
    assert(a.nRows === 400L) // B's committed table survived; A's stage dropped
    assert(siblings(a).isEmpty, siblings(a))
  }

  test("a crash holding the gate rolls back; recover() never promotes the crashed writer's stage") {
    // writer A stages a complete rewrite and dies right after winning the
    // gate (manifest written, nothing renamed); B had committed in
    // between, so A's stage is stale. Every mutator then aborts on A's
    // manifest, and the quiesced recover() drops the manifest and A's
    // stage, keeping B's committed table: a stale stage is never promoted.
    val a = freshDb("gatecrash")
    a.create(spark.range(500).select(col("id"), (col("id") % 5).as("g")),
      partitionBy = Seq("g"))
    val b = new ParquetDatabase(spark, a.dir)
    a.preSwapHook = () => {
      b.deleteWhere(col("id") >= 400)
      throw new RuntimeException("simulated crash before the gate")
    }
    intercept[RuntimeException] { a.deleteWhere(col("id") >= 450) }
    a.preSwapHook = () => ()
    val fs = fsOf(a)
    val stage = siblings(a).filter(_.startsWith("gatecrash__patch_tmp_"))
    assert(stage.size === 1, siblings(a))
    val stageDir = P(a.dir).getParent.toString + "/" + stage.head
    assert(fs.exists(P(stageDir + "/_SUCCESS")), "A's stage should be complete")
    // the gate A won before dying: B's current files as originals, A's
    // staged files as replacements
    val live = { val it = fs.listFiles(P(a.dir), true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.toString)
        .filter(_.endsWith(".parquet")).toSeq }
    val staged = ParquetStats.listParquetFiles(stageDir, spark.sessionState.newHadoopConf())
    fs.mkdirs(P(a.dir + "__patch_old"))
    HadoopText.write(fs, P(a.dir + "__patch_old/_manifest"),
      (live.map(p => s"touched\t$p") ++ staged.map(f => s"new\t${a.dir}/${f.getName}"))
        .mkString("\n"))
    intercept[java.util.ConcurrentModificationException](a.normalize(maxRowsPerFile = 100))
    val acts = a.recover()
    assert(!acts.exists(s => s.contains("restored") || s.contains("removed")), acts.mkString("; "))
    assert(acts.exists(_.contains(stage.head)), acts.mkString("; "))
    assert(siblings(a).isEmpty, siblings(a))
    assert(a.nRows === 400L, "B's committed table must survive; A's 450-row stage must not land")
  }

  test("a foreign patch manifest aborts the patcher loudly; recover() clears it for retry") {
    // a manifest at __patch_old when a patcher reaches its commit step is
    // either crash debris or a LIVE patcher mid-rename — indistinguishable,
    // so the only safe move is a loud abort (the first round-10 cut ran the
    // manifest rollback here, which could restore a live patcher's
    // originals mid-rename and then delete files it was moving aside)
    val a = freshDb("patchgate")
    a.create(spark.range(100).toDF("id").repartition(2))
    val fs = new org.apache.hadoop.fs.Path(a.dir)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    val pOld = new org.apache.hadoop.fs.Path(a.dir + "__patch_old")
    fs.mkdirs(pOld)
    HadoopText.write(fs, new org.apache.hadoop.fs.Path(pOld, "_manifest"), "")
    val ex = intercept[java.util.ConcurrentModificationException] {
      a.deleteWhere(col("id") >= 50) // flat layout -> patch path
    }
    assert(ex.getMessage.contains("manifest"))
    assert(a.nRows === 100L) // nothing renamed
    a.recover() // quiesced: clears the (empty-manifest) debris
    a.deleteWhere(col("id") >= 50)
    assert(a.nRows === 50L)
  }

  test("deleteWhere detects a concurrent commit; unchanged tables fingerprint-stably mutate") {
    val a = freshDb("delconflict")
    a.create(spark.range(50).select(col("id"), (col("id") % 5).as("g")))
    val b = new ParquetDatabase(spark, a.dir)
    a.preSwapHook = () => b.upsert(Seq((60L, 1L)).toDF("id", "g"), "id")
    intercept[java.util.ConcurrentModificationException] {
      a.deleteWhere(col("g") === 2L)
    }
    a.preSwapHook = () => ()
    assert(a.nRows === 51L) // b's row landed, nothing deleted
    // without interference the same mutation goes through (no false positive)
    a.deleteWhere(col("g") === 2L)
    assert(a.read().filter(col("g") === 2L).count() === 0L)
  }

  test("vanished-file remap: files vanishing from a live table are a conflict, a missing table dir is raw") {
    // the classification gate behind every staged mutation: a read failing
    // because files vanished is a retryable conflict ONLY while the table
    // directory exists (no commit ever renames it). Driven through the seam:
    val a = freshDb("vanishcls")
    a.create(spark.range(10).toDF("id"))
    val vanish = new java.io.FileNotFoundException("part-00000 gone")
    // 1. table dir present -> conflict (the common peer-commit signature)
    intercept[java.util.ConcurrentModificationException] {
      a.conflictIfVanished("test read")(throw vanish)
    }
    // 2. table dir genuinely absent -> the raw error survives, so
    // retry-looping callers can't spin on a mistyped path
    val gone = new ParquetDatabase(spark, a.dir + "_nonexistent")
    val raw = intercept[java.io.FileNotFoundException] {
      gone.conflictIfVanished("test read")(throw vanish)
    }
    assert(raw eq vanish)
    // non-vanish failures always pass through untouched
    intercept[IllegalStateException] {
      a.conflictIfVanished("test read")(throw new IllegalStateException("boom"))
    }
  }

  test("a live peer's mid-move commit makes deleteWhere, upsert and normalize abort, touching nothing") {
    // the state of a peer between its first aside-rename and its last
    // move-in, built by hand: the manifest, one original aside, one
    // replacement in, and the peer's __patch_tmp_<token> stage. Mutators
    // used to run recover() here, restoring the peer's originals and
    // deleting its manifest and stage under it (the source of duplicated
    // rows in the stress drill); now each aborts and every byte stays put.
    val a = freshDb("livepeer")
    a.create(spark.range(50).toDF("id").repartition(1))
    a.create(spark.range(50, 60).toDF("id").repartition(1))
    val fs = fsOf(a)
    val files = ParquetStats.listParquetFiles(a.dir, spark.sessionState.newHadoopConf())
      .map(_.toString).sorted
    val stage = a.dir + "__patch_tmp_peer0001"
    spark.range(1000, 1010).toDF("id").repartition(2).write.parquet(stage)
    val newFiles = ParquetStats.listParquetFiles(stage, spark.sessionState.newHadoopConf())
    fs.mkdirs(P(a.dir + "__patch_old"))
    HadoopText.write(fs, P(a.dir + "__patch_old/_manifest"),
      (files.map(p => s"touched\t$p") ++ newFiles.map(f => s"new\t${a.dir}/${f.getName}"))
        .mkString("\n"))
    assert(fs.rename(P(files.head), P(a.dir + "__patch_old/" + P(files.head).getName)))
    assert(fs.rename(newFiles.head, P(a.dir + "/" + newFiles.head.getName)))
    val before = tree(a)
    assert(before.keys.exists(_.contains("__patch_tmp_peer0001/")) &&
      before.keys.exists(_.endsWith("__patch_old/_manifest")))
    val mutations: Seq[(String, () => Unit)] = Seq(
      "deleteWhere" -> (() => a.deleteWhere(col("id") < 5)),
      "upsert" -> (() => a.upsert(Seq(3L, 70L).toDF("id"), "id")),
      "normalize" -> (() => a.normalize(maxRowsPerFile = 10)))
    mutations.foreach { case (name, m) =>
      val e = intercept[java.util.ConcurrentModificationException](m())
      assert(e.getMessage.contains("recover()"), s"$name: ${e.getMessage}")
      assert(tree(a) === before, s"$name touched the peer's commit")
    }
    // once the peer is known dead, the quiesced recover() restores the
    // original table exactly
    assert(a.recover().exists(_.contains("restored")))
    assert(a.read().agg(sum("id")).head().getLong(0) === (0L until 60L).sum)
    assert(siblings(a).isEmpty, siblings(a))
  }
}
