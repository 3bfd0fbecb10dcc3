package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import java.nio.charset.StandardCharsets.UTF_8

/** The one small-text read/write over a Hadoop `FileSystem` — used for every
  * sidecar file in the repo (commit and snapshot manifests, store `_params`,
  * index fingerprints). Whole-file semantics: `read` loads the
  * full file (these are metadata-sized by contract — bytes, not blocks),
  * `write` truncates/overwrites atomically per HDFS create(overwrite=true).
  */
object HadoopText {
  def read(fs: FileSystem, p: Path): String = {
    val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
    val in = fs.open(p)
    try in.readFully(buf) finally in.close()
    new String(buf, UTF_8)
  }

  def write(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  /** Create-no-overwrite write: returns false (writing nothing) if the file
    * already exists — the commit gate of [[FileCommit]] (its manifest).
    * `create(overwrite = false)` is atomic on HDFS (the namenode serializes
    * the create). On the LOCAL FS Hadoop's create(overwrite=false) is a
    * non-atomic exists-then-create, which two-writer drills caught losing
    * the race, so local paths go through `java.io.File.createNewFile` —
    * POSIX O_CREAT|O_EXCL, atomic per kernel; `graft.tools.ConcurrencyDrill`
    * (gated by ConcurrencyDrillSpec) races two JVMs through it.
    */
  def writeIfAbsent(fs: FileSystem, p: Path, text: String): Boolean = {
    // only "already exists" maps to false — any other failure is a genuine
    // IO error and must surface, not masquerade as a concurrency conflict.
    // RawLocalFileSystem signals the existing file with a plain IOException,
    // so the fallback re-probes existence before deciding.
    val isLocal = fs.getScheme == "file"
    val created =
      if (isLocal) {
        // The parent directory must already exist (the commit creates the
        // gate dir first). Deliberately NO mkdirs: a missing parent means a
        // peer released the gate in between, and the claim fails with the
        // raw missing-parent IOException, which retry loops treat as the
        // transient it is.
        val f = new java.io.File(fs.makeQualified(p).toUri.getPath)
        if (!f.createNewFile()) None // atomic claim lost — holder exists
        else {
          // we own the claim; open the write-through stream under its own
          // guard: a create failure HERE is an IO error on OUR claim, not a
          // lost race — falling through to the shared exists-means-lost
          // mapping would leave our own empty marker wedging every later
          // writer at the gate, misreported as a concurrency conflict.
          // Delete the just-created claim and surface the real error.
          try Some(fs.create(p, true))
          catch {
            case e: Throwable =>
              try fs.delete(p, false) catch { case _: Throwable => () }
              throw e
          }
        }
      } else {
        try Some(fs.create(p, false))
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => None
          case e: java.io.IOException => if (fs.exists(p)) None else throw e
        }
      }
    created match {
      case None => false
      case Some(out) =>
        // a failure after the create must not leave a truncated file behind
        // — a partial commit marker wedges every later writer at the gate
        // and can crash its crash-recovery parser
        try { out.write(text.getBytes(UTF_8)); out.close(); true }
        catch {
          case e: Throwable =>
            try out.close() catch { case _: Throwable => () }
            try fs.delete(p, false) catch { case _: Throwable => () }
            throw e
        }
    }
  }
}
