package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one commit protocol of every persisted store: `ParquetDatabase`,
  * the IVF index, the MinHash signature store and the bucketed HLL store.
  * Every store write goes through it, builds included: a build is a
  * [[replace]] of the root's top-level entries (of none, into an absent
  * root). A commit moves files; no store directory is ever renamed,
  * deleted or rewritten in place.
  *
  * A commit runs over a store root, a stage written by the caller under
  * the invocation-unique sibling `<root>__patch_tmp_<token>` in the root's
  * own layout, the root-relative paths it replaces (files or directories),
  * and a caller-supplied fingerprint of the state it read:
  *  1. the caller writes the stage; the live store is unaffected;
  *  2. the commit wins the gate: it creates `<root>__patch_old/_manifest`
  *     (create-no-overwrite) naming every replaced path and every staged
  *     file;
  *  3. it re-computes the fingerprint while holding the gate; on a
  *     mismatch it drops the manifest and the stage and aborts;
  *  4. it moves each replaced path aside to `__patch_old/<relative path>`,
  *     deletes the directories that left empty, then moves the stage in:
  *     an entry whose destination does not exist moves with ONE rename (a
  *     new segment, cell or bucket directory), one whose destination
  *     directory exists is descended into. At each level directories move
  *     before files, so a store's top-level marker file lands last;
  *  5. it releases the gate.
  * A crash anywhere in 2–5 leaves the manifest; [[recover]] rolls the store
  * back byte-exactly. A commit that checks no fingerprint is an append
  * ([[append]]): it takes no gate and moves its stage in with fresh names.
  *
  * A mutator that finds a manifest aborts with nothing touched
  * ([[requireNoCommit]]): a live peer between its first and last move and
  * a crashed commit look alike, and only a quiesced [[recover]] may roll
  * the latter back.
  */
object FileCommit {

  /** The gate's directory: while a commit holds the gate it holds the
    * manifest and the paths that commit moved aside.
    */
  private def gate(root: Path) = new Path(s"${root}__patch_old")
  private def manifest(root: Path) = new Path(gate(root), "_manifest")

  /** Where a commit's `retire` step parks replaced files a snapshot pins
    * (see `ParquetDatabase.snapshot`); [[recover]] restores from it too.
    */
  private[sources] def archive(root: Path) = new Path(s"${root}__archive")

  /** The conflict a writer reports when a commit holds the gate. */
  private def gateHeld(root: Path): java.util.ConcurrentModificationException =
    new java.util.ConcurrentModificationException(
      s"optimistic-concurrency conflict on $root: a commit manifest is present at " +
        s"${manifest(root)}. Either another writer is mid-commit (re-read and retry once it " +
        "finishes) or a commit crashed (run recover() — FileCommit.recover(spark, dir) — " +
        "while no writer is live). Nothing was touched.")

  /** Whether a commit manifest is present: a commit is mid-move or crashed. */
  private[graft] def inFlight(fs: FileSystem, root: Path): Boolean = fs.exists(manifest(root))

  /** Mutator entry: abort, touching nothing, while a manifest is present. */
  private[graft] def requireNoCommit(fs: FileSystem, root: Path): Unit =
    if (inFlight(fs, root)) throw gateHeld(root)

  /** Re-map a failure whose cause chain says "store files vanished
    * underneath a read" to the retryable `ConcurrentModificationException`.
    * Both vanish signatures are matched: at OPEN Spark classifies it itself
    * (FAILED_READ_FILE.FILE_NOT_EXIST / FileNotFoundException); a file moved
    * away MID-READ surfaces as FAILED_READ_FILE.NO_HINT caused by a raw
    * java.nio.file.NoSuchFileException. It is a conflict only while the
    * root still exists: no commit moves a root, so a missing one is a
    * permanent error that no retry can fix (a probe that itself fails
    * cannot prove permanence, so it counts as a conflict).
    */
  private[graft] def conflictIfVanished[T](fs: FileSystem, root: Path, phase: String)(f: => T): T =
    try f catch {
      case t: Throwable =>
        val vanishedUnderneath = Iterator.iterate(t)(_.getCause)
          .takeWhile(_ != null).take(20)
          .exists(c => c.isInstanceOf[java.io.FileNotFoundException] ||
            c.isInstanceOf[java.nio.file.NoSuchFileException] ||
            String.valueOf(c.getMessage).contains("FILE_NOT_EXIST"))
        def rootPresent = try fs.exists(root) catch { case _: Throwable => true }
        if (vanishedUnderneath && rootPresent)
          throw new java.util.ConcurrentModificationException(
            s"optimistic-concurrency conflict on $root: files vanished underneath this " +
              s"mutation's $phase (another writer committed mid-scan). Store untouched — " +
              "re-read and retry.", t)
        else throw t
    }

  /** Write a fresh stage with `stage`; a failure drops it. */
  private def writeStage(fs: FileSystem, root: Path)(stage: Path => Unit): Path = {
    // an INVOCATION-UNIQUE sibling of the root, never a child: a shared name
    // would let a peer's overwrite-mode stage replace this one's bytes (a
    // lost update no fingerprint can see), and a child would parse as a
    // bogus partition for concurrent readers
    val tmp = new Path(s"${root}__patch_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
    try conflictIfVanished(fs, root, "staging read")(stage(tmp))
    catch { case t: Throwable => fs.delete(tmp, true); throw t }
    tmp
  }

  /** Commit `stage`'s entries into `root` without a gate: every staged
    * name must be fresh (a segment's UUID), so nothing is replaced and a
    * concurrent commit never conflicts with it. A crash leaves only the
    * stage, which [[recover]] drops.
    */
  private[graft] def append(fs: FileSystem, root: Path)(stage: Path => Unit): Unit = {
    val tmp = writeStage(fs, root)(stage)
    moveIn(fs, walk(fs, tmp), root)
    fs.delete(tmp, true)
  }

  /** Replace the root-relative paths `touched` (files or directories) with
    * the entries `stage` writes, if `fingerprint()` still equals `expected`
    * once this commit holds the gate (steps 1–5 of the protocol above).
    *
    * @param staged runs after the stage is written, before the gate: the
    *               deterministic interleaving point for a peer's commit
    * @param retire runs on the gate's directory after the last move-in and
    *               before the release, while the replaced paths sit aside
    */
  private[graft] def replace(fs: FileSystem, root: Path, touched: Seq[String], expected: String,
                             fingerprint: () => String, staged: () => Unit = () => (),
                             retire: Path => Unit = _ => ())(stage: Path => Unit): Unit = {
    val tmp = writeStage(fs, root)(stage)
    staged()
    val entries = walk(fs, tmp)
    val newFiles = files(entries)
    // the manifest is written BEFORE any move: recover() needs to know which
    // live paths are replacements (delete on rollback) and where each
    // moved-aside original belongs. create-no-overwrite makes it the gate.
    val won =
      try {
        fs.mkdirs(gate(root))
        HadoopText.writeIfAbsent(fs, manifest(root), (touched.map(r => s"touched\t${new Path(root, r)}") ++
          newFiles.map(f => s"new\t${new Path(root, relativize(fs, tmp, f))}")).mkString("\n"))
      } catch { case t: Throwable => fs.delete(tmp, true); throw t }
    if (!won) {
      fs.delete(tmp, true)
      throw gateHeld(root)
    }
    // the CAS runs while this writer holds the gate, so no peer can commit
    // between it and the first move
    if (fingerprint() != expected) {
      release(fs, root, tmp)
      throw new java.util.ConcurrentModificationException(
        s"optimistic-concurrency conflict on $root: the live store changed between " +
          "this mutation's read and its commit (another writer committed). Aborted " +
          "before any move — staged output dropped, store untouched; re-read and retry.")
    }
    val aside = touched.map(r => new Path(root, r) -> new Path(gate(root), r))
    aside.map(_._2.getParent).distinct.foreach(fs.mkdirs)
    aside.foreach { case (p, a) =>
      if (!fs.rename(p, a))
        throw new java.io.IOException(s"commit: failed to move $p aside to $a; run recover()")
    }
    dropEmptyDirs(fs, root, aside.map(_._1.getParent))
    moveIn(fs, entries, root)
    retire(gate(root))
    release(fs, root, tmp)
  }

  /** One entry of a written stage, with its children when a directory. */
  private final case class Staged(status: FileStatus, children: Seq[Staged])

  /** The entries of the stage dir `dir`, walked fully and sorted by name,
    * with Spark's `_SUCCESS` job markers deleted at every level: a stage
    * holds exactly what the commit moves in, so a gated commit's manifest
    * lists every file a rollback must remove, and an appended tree has the
    * shape a replaced one has.
    */
  private def walk(fs: FileSystem, dir: Path): Seq[Staged] =
    fs.listStatus(dir).toSeq.sortBy(_.getPath.getName).flatMap { st =>
      if (st.isFile && st.getPath.getName == "_SUCCESS") { fs.delete(st.getPath, false); None }
      else Some(Staged(st, if (st.isDirectory) walk(fs, st.getPath) else Nil))
    }

  private def files(entries: Seq[Staged]): Seq[Path] =
    entries.flatMap(e => if (e.status.isDirectory) files(e.children) else Seq(e.status.getPath))

  /** Move the staged `entries` into `to` (step 4 of the protocol), listing
    * only the destination directories it descends into; an absent root is
    * created (a build into a fresh store).
    */
  private def moveIn(fs: FileSystem, entries: Seq[Staged], to: Path): Unit = {
    val present =
      try fs.listStatus(to).map(_.getPath.getName).toSet
      catch { case _: java.io.FileNotFoundException => fs.mkdirs(to); Set.empty[String] }
    val (dirs, files) = entries.partition(_.status.isDirectory)
    (dirs ++ files).foreach { e =>
      val src = e.status.getPath
      val dest = new Path(to, src.getName)
      if (!present(dest.getName)) {
        if (!fs.rename(src, dest))
          throw new java.io.IOException(s"commit: failed to move $src to $dest; run recover()")
      } else if (e.status.isDirectory) moveIn(fs, e.children, dest)
      else throw new java.io.IOException(
        s"commit: $dest already exists and is not replaced by this commit; run recover()")
    }
  }

  /** Give up the gate: `__patch_old` (the manifest and whatever sits aside)
    * moves into this commit's own stage dir in ONE rename, and the stage is
    * dropped. A recursive delete of `__patch_old` would not be atomic, and
    * a peer winning the gate midway could lose its fresh manifest or aside
    * files to it; after the rename the next winner always starts from a
    * fresh `__patch_old`.
    */
  private def release(fs: FileSystem, root: Path, tmp: Path): Unit = {
    if (!fs.rename(gate(root), new Path(tmp, "_released")))
      throw new java.io.IOException(s"commit: failed to release the gate ${gate(root)}; run recover()")
    fs.delete(tmp, true)
  }

  /** Delete the directories under `root` that `dirs` (and then their
    * parents) leave empty. The root itself always stays.
    */
  private def dropEmptyDirs(fs: FileSystem, root: Path, dirs: Seq[Path]): Unit = {
    val r = fs.makeQualified(root).toUri.getPath
    def drop(d: Path): Unit =
      if (fs.makeQualified(d).toUri.getPath.startsWith(r + "/") &&
          (try fs.listStatus(d).isEmpty catch { case _: java.io.FileNotFoundException => false }) &&
          (try fs.delete(d, false) catch { case _: java.io.IOException => false }))
        drop(d.getParent)
    dirs.distinct.sortBy(-_.depth).foreach(drop)
  }

  private[sources] def relativize(fs: FileSystem, root: Path, p: Path): String = {
    // qualify both sides: a root may be a relative working-dir path while
    // filesystem listings come back as absolute URIs
    val r = fs.makeQualified(root).toUri.getPath
    val f = fs.makeQualified(p).toUri.getPath
    require(f.startsWith(r + "/"), s"$p is not under $root")
    f.stripPrefix(r + "/")
  }

  /** Roll back an interrupted commit of any store rooted at `dir` — the
    * repair the protocol's crash-safety contract promises. Idempotent; a
    * no-op on a healthy store. Returns the actions taken (empty = nothing
    * to repair).
    *
    * The manifest lists every staged file and every replaced path, so the
    * rollback is exact: replacements that reached the store are deleted
    * (with the directories that leaves empty), originals move back from
    * `__patch_old/<relative path>` (or from the snapshot archive, when the
    * crash hit while `retire` ran), and `__patch_old` and every
    * `__patch_tmp_*` stage are dropped. A crash after the last move-in is
    * rolled back too. Every byte is in the store, `__patch_old`, the
    * archive or a stage at all times.
    *
    * QUIESCE CONTRACT: run only while no writer is live on the store. A
    * crashed commit's manifest and stage look exactly like a live one's,
    * so recovery under a live writer would roll back its commit mid-move or
    * delete its stage. Mutators therefore never recover.
    */
  def recover(spark: SparkSession, dir: String): Seq[String] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val actions = scala.collection.mutable.ListBuffer[String]()
    val g = gate(root)
    if (fs.exists(g)) {
      if (fs.exists(manifest(root))) {
        val lines = HadoopText.read(fs, manifest(root)).linesIterator.filter(_.nonEmpty).toSeq
        def entries(kind: String) = lines.collect {
          case l if l.startsWith(s"$kind\t") => new Path(l.stripPrefix(s"$kind\t"))
        }
        // where each replaced path's original sits: aside, archived, or
        // still in place (never moved)
        val touched = entries("touched").map { t =>
          val rel = relativize(fs, root, t)
          (t, rel, Seq(new Path(g, rel) -> "", new Path(archive(root), rel) -> " from archive")
            .find(c => fs.exists(c._1)))
        }
        // a staged path can name a replaced one (an IVF `_fingerprint`); at
        // or under an original still in place it is that original
        val inPlace = touched.collect { case (_, rel, None) => rel }
        val added = entries("new").filter { p =>
          val rel = relativize(fs, root, p)
          !inPlace.exists(t => rel == t || rel.startsWith(t + "/")) && fs.exists(p)
        }
        added.foreach { p => fs.delete(p, false); actions += s"removed replacement $p" }
        dropEmptyDirs(fs, root, added.map(_.getParent))
        touched.foreach { case (orig, _, from) =>
          from.filterNot(_ => fs.exists(orig)).foreach { case (src, where) =>
            fs.mkdirs(orig.getParent)
            if (!fs.rename(src, orig))
              throw new java.io.IOException(s"recover: failed to restore $src -> $orig")
            actions += s"restored $orig$where"
          }
        }
      }
      fs.delete(g, true); actions += s"dropped $g"
    }
    for (t <- stages(fs, root)) { fs.delete(t, true); actions += s"dropped $t" }
    actions.toList
  }

  /** The root's `__patch_tmp_*` stage siblings: one parent listing. */
  private def stages(fs: FileSystem, root: Path): Seq[Path] = {
    val parent = root.getParent
    val prefix = root.getName + "__patch_tmp"
    if (parent == null || !fs.exists(parent)) Seq.empty
    else fs.listStatus(parent).iterator.map(_.getPath)
      .filter(_.getName.startsWith(prefix)).toSeq.sortBy(_.toString)
  }
}
