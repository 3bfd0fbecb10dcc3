package graft.sources

import graft.schema.SchemaOps
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Directory-rooted parquet table facade — the ParquetDB API surface the
  * reference delegates to (SURVEY.md §2.2 P1–P8; `ParquetDB(dir)`,
  * `create`, `read`, `normalize`, stats).
  *
  * Everything stays lazy/distributed: `create` is a conform+append write,
  * `read` is a pruned scan (Catalyst pushes column projection and filters to
  * the parquet footers), `normalize` is a repartition rewrite — never a
  * driver-side materialization (the reference needs ~64 GB RAM to build its
  * combined DB, README.md:120; this needs an executor's worth).
  *
  * Every mutation (`upsert`, `deleteWhere`, the `normalize` family,
  * `compactSmallFiles`) commits through [[replaceFiles]], this table's use
  * of the one store commit protocol, [[FileCommit]]: stage the new files,
  * win the `<dir>__patch_old/_manifest` gate, re-check the table's
  * [[fingerprint]], move the replaced files aside and the new files in,
  * release the gate. A full rewrite is the case where every data file is
  * replaced. The table directory itself is never renamed, so a raw reader
  * racing a commit (`spark.read.parquet(dir)`, DuckDB) can see a partial
  * file set; [[readSnapshot]] is the isolated read. A mutator that finds a
  * manifest aborts without touching anything; only a quiesced [[recover]]
  * rolls a crashed commit back.
  */
class ParquetDatabase(val spark: SparkSession, val dir: String) {

  // session Hadoop conf, not `new Configuration()`: session-configured
  // filesystem settings (credentials, endpoints) must reach every listing,
  // rename, and footer read this facade performs
  private def hconf: Configuration = spark.sessionState.newHadoopConf()
  private def fs = new Path(dir).getFileSystem(hconf)

  def exists: Boolean = fs.exists(new Path(dir))

  private def qualifiedDir: String = fs.makeQualified(new Path(dir)).toString

  /** Drop this table's open read versions: a commit just replaced them. */
  private def forgetReads(): Unit = ParquetDatabase.forgetReads(qualifiedDir)

  // ------------------------------------------------ optimistic concurrency

  /** Fingerprint of the live table state: every file's table-relative path,
    * length, and mtime under the table root, hashed. Mutation paths capture
    * it at entry and [[replaceFiles]] re-checks it AFTER the replacement
    * data is fully staged and the commit gate is won, immediately BEFORE the
    * first rename — the optimistic-concurrency CAS: a concurrent writer's
    * commit between this mutation's read and its own fails the mutation
    * loudly (`ConcurrentModificationException`, staged temp output dropped,
    * live table untouched) instead of silently overwriting the other
    * writer's rows (lost update). Cost is one metadata-only recursive
    * listing per check — the same order as the footer-stats pass the scoped
    * mutations already do.
    *
    * No residual window between the check and the first rename: the check
    * runs while this writer holds the create-no-overwrite manifest gate, and
    * every other mutator either aborts at entry on that manifest or loses
    * the gate. Appends (`create`) take no gate; one that lands after the
    * check is left in place, since a commit replaces only the files it
    * listed. A multi-writer fleet on an object store without atomic rename
    * or create-if-absent needs a conditional-put commit log; the gate is
    * what such a log slots under.
    */
  def fingerprint(): String = listTable().print

  /** The live table as one walk sees it: its [[fingerprint]] and the path
    * of every data file under the root, partition directories included.
    */
  private def listTable(): ParquetDatabase.Listing = {
    val sb = new StringBuilder
    val files = Seq.newBuilder[String]
    // one stat for the root, then one listing per directory: every entry's
    // length and mtime come from its parent's listing (each stat or listing
    // is one request on an object store)
    def walk(st: FileStatus): Unit =
      if (st.isDirectory)
        // a concurrent writer's commit can delete a directory between its
        // parent's listing and its own — skip it rather than crash the
        // mutation entry. The resulting print describes a state that no
        // longer exists, so any CAS against it simply conflicts (safe), and
        // the walk stays usable while peers mutate.
        try fs.listStatus(st.getPath).sortBy(_.getPath.getName).foreach(walk)
        catch { case _: java.io.FileNotFoundException => () }
      else {
        sb.append(relativize(dir, st.getPath)).append('|').append(st.getLen)
          .append('|').append(st.getModificationTime).append('\n')
        if (st.getPath.getName.endsWith(".parquet")) files += st.getPath.toString
      }
    try walk(fs.getFileStatus(new Path(dir)))
    catch { case _: java.io.FileNotFoundException => () }
    ParquetDatabase.Listing(ParquetDatabase.md5Hex(sb.result()), files.result())
  }

  /** Mutator entry: the table's [[listTable]], once no commit holds the
    * gate (see [[FileCommit.requireNoCommit]]).
    */
  private def entryListing(): ParquetDatabase.Listing = {
    FileCommit.requireNoCommit(fs, new Path(dir))
    listTable()
  }

  /** Test seam: runs after a commit's staging write completes and before
    * it takes the gate — the deterministic interleaving point the two-writer
    * spec drives a concurrent commit through.
    */
  private[sources] var preSwapHook: () => Unit = () => ()

  /** [[FileCommit.conflictIfVanished]] on this table. */
  private[sources] def conflictIfVanished[T](phase: String)(f: => T): T =
    FileCommit.conflictIfVanished(fs, new Path(dir), phase)(f)

  /** Append a batch (ParquetDB `create`, base.py:180-182).
    *
    * @param target  optional canonical schema to conform to (permissive
    *                unify + cast, SURVEY.md §1.4.1)
    * @param assignId add a deterministic content-derived id (xxhash64 over
    *                all columns) — reproducible across runs, unlike the
    *                reference's positional auto-increment (§1.4.5)
    */
  /** @param partitionBy optional hive-style partition columns. At 100 TB
    *  this is the primary scan lever: a filter on a partition column prunes
    *  whole directories before any footer is read. Choose low-cardinality
    *  columns (the canonical layout partitions by source_database /
    *  source_dataset).
    */
  def create(df: DataFrame, target: Option[StructType] = None, assignId: Boolean = false,
             partitionBy: Seq[String] = Nil): Unit = {
    val conformed = target.map(t => SchemaOps.conformToSchema(df, t)).getOrElse(df)
    val withId =
      if (assignId) conformed.withColumn("id", xxhash64(conformed.columns.map(c => col(s"`$c`")): _*))
      else conformed
    val writer = withId.write.mode("append")
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer).parquet(dir)
    forgetReads()
  }

  /** Projected / filtered read (ParquetDB `read`, base.py:188-193).
    * `mergeSchema` reproduces the permissive union across appended batches
    * with evolved schemas; nested structs need no rebuild (parquet native).
    *
    * Each table version is opened once: the first read of a version infers
    * the merged schema (Spark's footer-merge job over every file), and every
    * later read of it passes that schema to the reader, so a warm read runs
    * its scan and nothing else. The handle is keyed by (SparkSession,
    * qualified dir, effective options, the session's SQL conf) and checked
    * on every read against a digest of the (path, length, mtime) of each
    * leaf file the read's own file index listed. That set costs no extra
    * listing and is exactly what the scan reads, so a commit by any
    * writer, in this process or not, makes the next read infer again; this
    * facade's own commits also drop the dir's handles.
    *
    * @param options per-read tuning (the reference's per-call `LoadConfig`,
    *                base.py:224,239 — batch sizing etc.): Spark parquet
    *                source options, e.g. `vectorized reader batch size` via
    *                `spark.sql.parquet.columnarReaderBatchSize` is session
    *                level, but per-read knobs like `mergeSchema`,
    *                `datetimeRebaseMode`, `int96RebaseMode`,
    *                `modifiedAfter/Before`, `pathGlobFilter`,
    *                `recursiveFileLookup` apply here. Caller-supplied keys
    *                override the defaults (incl. mergeSchema).
    */
  def read(columns: Seq[String] = Nil, filter: Option[Column] = None,
           options: Map[String, String] = Map.empty): DataFrame = {
    val base = ParquetDatabase.openRead(spark, dir, qualifiedDir,
      Map("mergeSchema" -> "true") ++ options)
    val filtered = filter.map(base.filter).getOrElse(base)
    if (columns.isEmpty) filtered else filtered.select(columns.map(c => col(s"`$c`")): _*)
  }

  /** The merged schema of the live table version; a version [[read]] has
    * already opened answers without a Spark job.
    */
  def schema: StructType = read().schema
  def nRows: Long = read().count()
  def nColumns: Int = schema.fields.length

  /** Row count from parquet footers when the flat layout exposes them
    * (metadata-only — no data pages); falls back to a count job on
    * hive-partitioned layouts whose files live in subdirectories.
    */
  private def footerRowCount: Long = {
    val fromFooters = ParquetStats.totalRows(dir, hconf)
    if (fromFooters > 0) fromFooters else nRows
  }

  /** Partition count for a row-capped rewrite: target maxRows − maxRows/32
    * rows per partition, NOT maxRows exactly. Zero-headroom packing makes
    * the cap a cliff: `repartition(n)` is round-robin-even only to
    * ±O(√inputSplits) rows, so when ceil(rows/maxRows) partitions average
    * within a few rows of the cap, every partition the jitter pushes over
    * spills a tiny second file through maxRecordsPerFile (measured at 100×
    * bench scale: 60 M rows into 7 325 zero-headroom partitions landed
    * 1 950 of them at 8 193–8 195 rows → 1 950 three-row files, 9 275
    * total vs the intended 7 325). With 1/32 headroom the jitter never
    * crosses the cap at any realistic input-split count, the file count
    * stays the closed form ceil(rows / (maxRows − maxRows/32)) that the
    * q_norm1 oracle reproduces in SQL, and maxRecordsPerFile remains the
    * HARD bound either way — a pathological distribution degrades to a few
    * split files, never to an over-cap file.
    */
  private def packPartitions(maxRowsPerFile: Long): Int = {
    val effective = math.max(1L, maxRowsPerFile - maxRowsPerFile / 32)
    math.max(1, math.ceil(footerRowCount.toDouble / effective).toInt)
  }

  /** Rewrite the table into evenly-sized files (ParquetDB `normalize`,
    * base.py:184-186; the notebook's "6 GB file → ≤2 GB" goal). The commit
    * replaces every data file through [[replaceFiles]]: a crash at any point
    * leaves every original in the table, in `__patch_old` or in the archive,
    * and a quiesced [[recover]] rolls it back. A hive-partitioned table is
    * rewritten flat, its partition columns kept as data columns.
    *
    * @param sortBy optional layout key: range-partition + sort the rewrite
    *  by these columns, so parquet row-group min/max stats become tight,
    *  disjoint ranges — filters on the sort key then skip whole files/row
    *  groups at scan time (data skipping, the complement to hive
    *  partitioning for high-cardinality keys).
    */
  def normalize(maxRowsPerFile: Long, sortBy: Seq[String] = Nil): Unit =
    rewriteAll(maxRowsPerFile) { (df, n) =>
      if (sortBy.nonEmpty)
        df.repartitionByRange(n, sortBy.map(c => col(s"`$c`")): _*)
          .sortWithinPartitions(sortBy.map(c => col(s"`$c`")): _*)
      else df.repartition(n)
    }

  /** Rewrite the table clustered along a Z-order (Morton) curve over
    * `zCols` — multi-dimensional data skipping where `normalize(sortBy)` is
    * one-dimensional: each output file covers a small hyper-rectangle of
    * the (equi-depth-ranked) value space, so footer min/max stats prune
    * files for predicates on ANY subset of the z-columns, not just a
    * leading sort key. See [[ZOrder]] for the curve construction.
    */
  def normalizeZOrder(maxRowsPerFile: Long, zCols: Seq[String], bits: Int = 8): Unit =
    rewriteAll(maxRowsPerFile) { (df, n) =>
      val z = "__zorder"
      df.withColumn(z, ZOrder.zValue(df, zCols, bits))
        .repartitionByRange(n, col(z))
        .sortWithinPartitions(col(z))
        .drop(z)
    }

  /** The norm family's commit: lay every row out into `n` partitions of at
    * most `maxRowsPerFile` rows (the row count comes from the footers, not a
    * count() pass over the table being rewritten) and replace every data
    * file with the result.
    */
  private def rewriteAll(maxRowsPerFile: Long)(layout: (DataFrame, Int) => DataFrame): Unit = {
    val table = entryListing()
    val laidOut = conflictIfVanished("read")(layout(read(), packPartitions(maxRowsPerFile)))
    replaceFiles(table.files, laidOut, table.print,
      options = Map("maxRecordsPerFile" -> maxRowsPerFile.toString))
  }

  /** Upsert by key (the underlying ParquetDB API's `update` surface —
    * unexercised by the reference's loaders but part of the store's
    * contract, arXiv:2502.05311 §API): rows in `patch` whose key matches an
    * existing row replace it; unmatched patch rows are appended.
    *
    * Scale path: the rewrite is scoped to the FILES whose footer key range
    * intersects a patch key (copy-on-write at file granularity) — on a
    * range-laid-out table (`normalize(sortBy)`) a small patch rewrites a
    * handful of files, not the table. A file whose merged footer
    * [min, max] on `keyCol` misses every patch key provably contains no
    * row to replace, so leaving it physically untouched is exact, not a
    * heuristic. Files without usable integral stats are conservatively
    * rewritten; a layout where no per-file ranges are visible (hive
    * partition subdirs, empty dir) replaces every data file, written flat
    * with the partition columns as data columns.
    */
  def upsert(patch: DataFrame, keyCol: String): Unit = {
    val table = entryListing()
    val (touched, shaped) = conflictIfVanished("read") {
      val perFile = ParquetStats.fileKeyRanges(dir, keyCol, hconf)
      if (perFile.isEmpty) {
        // partitioned layout (files in subdirs) or empty table — full rewrite
        val kept = read().join(patch.select(col(s"`$keyCol`")), Seq(keyCol), "left_anti")
        (table.files, kept.unionByName(patch, allowMissingColumns = true))
      } else {
        val (statless, ranged) = perFile.partition(_._2.isEmpty)
        // conform the patch's OVERLAPPING columns to the table's types before
        // any file is staged (round 13, caught by the cross-process drill):
        // the file-scoped path appends the patch's rows as new files beside
        // untouched ones, so a patch whose column types differ — e.g. a
        // BIGINT key patched onto a table whose column landed as INT via
        // partition-dir inference — would leave the table with per-file
        // schemas parquet cannot merge: every later read() fails, long after
        // this write reported success. The full-rewrite branch widens via
        // unionByName and rewrites every row, so it cannot strand a mixed
        // layout.
        val tableTypes = read().schema.map(f => f.name -> f.dataType).toMap
        val conformed = patch.select(patch.columns.map(c =>
          tableTypes.get(c) match {
            case Some(t) => col(s"`$c`").cast(t).as(c)
            case None => col(s"`$c`")
          }): _*)
        // touched-by-range: stream the (large) patch key set against the
        // tiny broadcast range table — a BroadcastNestedLoopJoin whose output
        // is map-side-distinct file paths, so only paths are collected
        val rangeDf = spark.createDataFrame(
          ranged.map { case (p, Some((lo, hi))) => (p, lo, hi); case (p, None) => (p, 0L, 0L) })
          .toDF("path", "lo", "hi")
        val keys = conformed.select(col(s"`$keyCol`").cast("long").as("__k")).distinct()
        val hit =
          if (ranged.isEmpty) Array.empty[String]
          else keys.join(broadcast(rangeDf), col("__k").between(col("lo"), col("hi")))
            .select("path").distinct().collect().map(_.getString(0))
        val touched = (statless.map(_._1) ++ hit).distinct
        val touchedDf =
          if (touched.isEmpty) conformed.limit(0)
          else spark.read.option("mergeSchema", "true").parquet(touched: _*)
            .join(conformed.select(col(s"`$keyCol`")), Seq(keyCol), "left_anti")
        // re-range the replacement on the key so the rewritten files keep
        // tight disjoint footer ranges — future patches prune just as well
        val n = math.max(1, touched.size)
        (touched, touchedDf.unionByName(conformed, allowMissingColumns = true)
          .repartitionByRange(n, col(s"`$keyCol`"))
          .sortWithinPartitions(col(s"`$keyCol`")))
      }
    }
    replaceFiles(touched, shaped, table.print)
  }

  /** Delete rows matching the predicate (ParquetDB `delete` surface).
    *
    * Scale path: one column-pruned, pushdown-friendly scan finds the EXACT
    * set of files holding a matching row (`_metadata.file_path` — no footer
    * stats needed, works for arbitrary predicates); only those files are
    * rewritten, copy-on-write. The scan cost is unavoidable (matches must
    * be found); the rewrite — the expensive half at 100 TB — is scoped.
    * On partitioned layouts, where a rewritten file would lose its
    * directory-encoded columns, every data file is replaced and the kept
    * rows are written flat with the partition columns as data columns. The
    * hit scan goes through [[read]], so a version already open skips the
    * schema-merge job; the files it rewrites are read with their own merged
    * schema, which keeps the rewritten bytes what they were.
    */
  def deleteWhere(condition: Column): Unit = {
    val table = entryListing()
    // the reads are EAGER (schema inference, the hit scan), so a peer's
    // commit landing mid-scan surfaces here as the retryable conflict
    val plan = conflictIfVanished("read") {
      val base = read()
      val hitNames = base.filter(condition)
        .select(col("_metadata.file_path")).distinct()
        .collect().map(r => new Path(r.getString(0)).getName).toSet
      val touched = table.files.filter(p => hitNames.contains(new Path(p).getName) &&
        !relativize(dir, new Path(p)).contains('/'))
      if (hitNames.isEmpty) None // nothing matches — leave every file untouched
      else if (touched.size != hitNames.size) // partitioned subdir layout
        Some(table.files -> base.filter(!condition))
      else Some(touched -> spark.read.option("mergeSchema", "true").parquet(touched: _*)
        .filter(!condition))
    }
    plan.foreach { case (touched, kept) => replaceFiles(touched, kept, table.print) }
  }

  /** Replace exactly the `touched` data files with the files of `newData`
    * through [[FileCommit.replace]], leaving every other file physically
    * untouched (same path, same bytes, same mtime). The stage is written in
    * the table's layout, so the new files land in `targetDir` (part-file
    * names carry a fresh UUID, so they never collide); the originals move
    * aside by table-relative path (a `partitionBy` write names the files in
    * every `col=value` dir alike) and those a snapshot pins are archived
    * before the gate is released.
    */
  private def replaceFiles(touched: Seq[String], newData: DataFrame, expected: String,
                           targetDir: String = dir,
                           options: Map[String, String] = Map.empty): Unit = {
    FileCommit.replace(fs, new Path(dir), touched.map(p => relativize(dir, new Path(p))), expected,
      () => listTable().print, staged = () => preSwapHook(),
      retire = aside => archiveReferenced(aside, p => relativize(aside.toString, p))) { stage =>
      val into = if (targetDir == dir) stage else new Path(stage, relativize(dir, new Path(targetDir)))
      newData.write.mode("overwrite").options(options).parquet(into.toString)
    }
    forgetReads()
  }

  /** Roll back an interrupted commit ([[FileCommit.recover]]) and drop this
    * table's open read versions. Idempotent; a no-op on a healthy table.
    * Run it only while no writer is live on the table.
    */
  def recover(): Seq[String] = {
    val actions = FileCommit.recover(spark, dir)
    forgetReads()
    actions
  }

  /** Compact the small-file tail: bin-pack ONLY the files smaller than
    * `smallFraction · targetBytesPerFile` into ~target-sized replacements,
    * leaving every healthy-sized file physically untouched (same path, same
    * bytes, same mtime). Streaming merge sinks and repeated small appends
    * accrete a tail of tiny files; `normalize()` fixes that by rewriting
    * the WHOLE table — a 100 TB rewrite to repair a few GB of tail. This
    * scopes the rewrite so cost tracks the problem (bytes in small files),
    * not table size; the commit is the kernel every mutation uses
    * ([[replaceFiles]]), its touched set the small files of one directory.
    *
    * @param sortBy keep a range layout: pack small files range-partitioned
    *               and sorted so the replacements carry tight footer ranges
    *               like the rest of a `normalize(sortBy)` table
    * @return number of small files packed away (0 = nothing worth doing).
    *         Hive-partitioned layouts are packed PER PARTITION DIRECTORY:
    *         partition columns live in the directory names, not the files,
    *         so replacing files inside each partition dir (one commit per
    *         dir) preserves them — and streaming merge sinks +
    *         `create(partitionBy)` are exactly where small-file tails
    *         accrete.
    */
  def compactSmallFiles(targetBytesPerFile: Long, smallFraction: Double = 0.5,
                        sortBy: Seq[String] = Nil): Int = {
    require(smallFraction > 0 && smallFraction <= 1.0,
      s"smallFraction must be in (0, 1], got $smallFraction")
    if (!exists) 0
    else if (ParquetStats.listParquetFiles(dir, hconf).nonEmpty)
      compactDir(dir, targetBytesPerFile, smallFraction, sortBy)
    else
      // one sequential pass over partition leaves: each commit is scoped to
      // its own directory, so a crash mid-table leaves every other
      // partition fully intact (and the touched one recoverable, per
      // replaceFiles' contract)
      partitionLeafDirs(new Path(dir))
        .map(d => compactDir(d.toString, targetBytesPerFile, smallFraction, sortBy)).sum
  }

  /** Leaf `col=value` directories holding this table's data files. Only
    * hive-style names are descended into — temp siblings and metadata dirs
    * never match.
    */
  private def partitionLeafDirs(root: Path): Seq[Path] = {
    val subdirs = fs.listStatus(root).toIndexedSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
    if (subdirs.isEmpty) Seq.empty
    else subdirs.map(_.getPath).flatMap { d =>
      val deeper = partitionLeafDirs(d)
      if (deeper.isEmpty) Seq(d) else deeper
    }
  }

  /** The bin-packing kernel of [[compactSmallFiles]], scoped to one
    * directory of files (the table root, or a single partition leaf).
    */
  private def compactDir(d: String, targetBytesPerFile: Long, smallFraction: Double,
                         sortBy: Seq[String]): Int = {
    val expect = entryListing().print
    val plan = conflictIfVanished("read") {
      val small = ParquetStats.fileStats(d, hconf)
        .filter(_.fileBytes < (targetBytesPerFile * smallFraction).toLong)
      val bytes = small.map(_.fileBytes).sum
      // conservative 0.9 like normalizeToBytes: re-compression drift must
      // not overshoot the target
      val n = math.max(1, math.ceil(bytes.toDouble / (targetBytesPerFile * 0.9)).toInt)
      if (small.size <= n) None // packing would not reduce the file count
      else {
        val paths = small.map(_.path)
        val df = spark.read.option("mergeSchema", "true").parquet(paths: _*)
        Some(paths -> (
          if (sortBy.nonEmpty)
            df.repartitionByRange(n, sortBy.map(c => col(s"`$c`")): _*)
              .sortWithinPartitions(sortBy.map(c => col(s"`$c`")): _*)
          else df.repartition(n)))
      }
    }
    plan.foreach { case (paths, shaped) => replaceFiles(paths, shaped, expect, targetDir = d) }
    plan.fold(0)(_._1.size)
  }

  /** Normalize to a target FILE SIZE (the reference's actual goal — the
    * notebook's "6 GB file → ≤2 GB"): estimate bytes/row from the current
    * footers (compressed, i.e. as-stored) and convert to a row bound. The
    * estimate is conservative by `safety` so post-rewrite compression-ratio
    * drift doesn't overshoot the target.
    */
  /** @param zOrderBy mutually exclusive with sortBy: cluster the rewrite
    *  along a Z-order curve over these columns instead of a 1-D sort
    *  (multi-dimensional skipping, see [[normalizeZOrder]]).
    */
  def normalizeToBytes(targetBytesPerFile: Long, safety: Double = 0.9,
                       sortBy: Seq[String] = Nil, zOrderBy: Seq[String] = Nil): Unit = {
    require(sortBy.isEmpty || zOrderBy.isEmpty,
      "normalizeToBytes: pass sortBy OR zOrderBy, not both (one physical order per table)")
    val stats = fileStats
    val totalBytes = stats.map(_.fileBytes).sum
    val totalRows = stats.map(_.numRows).sum
    require(totalRows > 0, s"normalizeToBytes on empty table $dir")
    val bytesPerRow = math.max(1.0, totalBytes.toDouble / totalRows)
    val maxRows = math.max(1L, (targetBytesPerFile * safety / bytesPerRow).toLong)
    if (zOrderBy.nonEmpty) normalizeZOrder(maxRows, zOrderBy)
    else normalize(maxRows, sortBy)
  }

  /** Replication surface (reference R11: HuggingFace snapshot up/download,
    * `crystpqdb/download.py` — modeled as a parquet-dir copy, SURVEY §1.1):
    * export this table's files to another directory / open a table from a
    * replica. Distributed copy via a read+write (not a driver file loop),
    * so it scales with the cluster like any other job.
    */
  def exportTo(destDir: String): ParquetDatabase = {
    read().write.mode("overwrite").parquet(destDir)
    new ParquetDatabase(spark, destDir)
  }

  /** File-preserving replication with an integrity manifest — the
    * `snapshot_download` + threaded per-file upload shape of the
    * reference's remote replication (`crystpqdb/download.py:23-39`),
    * targeted at any Hadoop filesystem (local in this environment; the
    * same code paths run against a remote FS at scale).
    *
    * Unlike [[exportTo]] (a distributed read+write that rewrites the
    * physical layout), `pushTo` copies each parquet file BYTE-IDENTICALLY
    * with a bounded driver-side thread pool — layout, footers, and
    * row-group statistics survive, so a replica serves the same pruned
    * scans as the original. Each file is hashed (MD5) in-flight and the
    * (path, length, digest) triples land in `_graft_manifest` at the
    * destination; [[ParquetDatabase.pullFrom]] re-hashes on the way back
    * and fails loudly on any divergence — the transfer-integrity check the
    * reference gets from HF's etag validation.
    *
    * Scope: `pushTo` replicates the TABLE — the `*.parquet` data files
    * under the db dir (partition subdirs included). Sibling state dirs
    * (`__snapshots` manifests, `__archive` pinned files) are deliberately
    * not part of a replica: a replica is a readable table, not a clone of
    * the mutation history. Manifest lengths are additionally cross-checked
    * against the SOURCE FileStatus after each copy, so a short read (a
    * stream yielding EOF mid-file) cannot produce a truncated replica that
    * "verifies" against its own manifest.
    */
  def pushTo(destDir: String, parallelism: Int = 8): ParquetDatabase = {
    val destRoot = new Path(destDir)
    val dfs = destRoot.getFileSystem(hconf)
    if (dfs.exists(destRoot)) dfs.delete(destRoot, true)
    dfs.mkdirs(destRoot)
    val files = walkParquet(new Path(dir))
    val entries = ParquetDatabase.inThreadPool(parallelism, files) { p =>
      val rel = relativize(dir, p)
      val (len, md5) = ParquetDatabase.copyAndHash(fs, p, Some(dfs -> new Path(destRoot, rel)))
      val srcLen = fs.getFileStatus(p).getLen
      if (len != srcLen)
        throw new ParquetDatabase.ReplicaIntegrityException(
          s"pushTo copied $len bytes of $rel but the source holds $srcLen — " +
            "short read during copy")
      s"$rel\t$len\t$md5"
    }
    val out = dfs.create(new Path(destRoot, ParquetDatabase.ManifestName), true)
    try out.write((entries.mkString("\n") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    new ParquetDatabase(spark, destDir)
  }

  /** Physical layout stats (ParquetDB P7 introspection). */
  def fileStats: Seq[ParquetStats.FileStats] = ParquetStats.fileStats(dir, hconf)

  // ---- snapshots / time travel -----------------------------------------
  //
  // A snapshot is a MANIFEST (the table-relative parquet file list at tag
  // time), not a copy: parquet files are immutable once written, so a name
  // identifies its bytes forever (part-file names carry fresh UUIDs). The
  // mutation paths normally delete superseded files; while any snapshot
  // references them they are MOVED into `<dir>__archive` instead (same
  // relative layout), so a snapshot read resolves each manifest entry
  // against the live dir first and the archive second. Retention cost is
  // exactly the bytes a snapshot pins — nothing is copied, ever.

  private def snapshotsRoot = new Path(s"${dir}__snapshots")
  private[sources] def archiveRoot = FileCommit.archive(new Path(dir))

  private def relativize(root: String, p: Path): String =
    FileCommit.relativize(fs, new Path(root), p)

  /** Every parquet file under `root`, recursively (partition subdirs too). */
  private def walkParquet(root: Path): Seq[Path] =
    if (!fs.exists(root)) Seq.empty
    else {
      val st = fs.listStatus(root).toIndexedSeq
      st.filter(s => s.isFile && s.getPath.getName.endsWith(".parquet")).map(_.getPath) ++
        st.filter(_.isDirectory).flatMap(s => walkParquet(s.getPath))
    }

  /** Record the live table's file list under `tag`. O(listing) — no data
    * is read or copied; the files are pinned against deletion instead.
    */
  def snapshot(tag: String): Unit = {
    require(tag.nonEmpty && !tag.contains("/"), s"bad snapshot tag '$tag'")
    val m = new Path(snapshotsRoot, tag)
    require(!fs.exists(m), s"snapshot '$tag' already exists (snapshots are immutable)")
    val rels = walkParquet(new Path(dir)).map(p => relativize(dir, p))
    require(rels.nonEmpty, s"snapshot('$tag'): table $dir is empty")
    fs.mkdirs(snapshotsRoot)
    HadoopText.write(fs, m, rels.mkString("\n"))
  }

  def snapshots: Seq[String] =
    if (!fs.exists(snapshotsRoot)) Nil
    else fs.listStatus(snapshotsRoot).toIndexedSeq.map(_.getPath.getName).sorted

  private def snapshotRels(tag: String): Seq[String] = {
    val m = new Path(snapshotsRoot, tag)
    require(fs.exists(m), s"no snapshot '$tag' on $dir (have: ${snapshots.mkString(", ")})")
    HadoopText.read(fs, m).linesIterator.filter(_.nonEmpty).toSeq
  }

  /** Table-relative paths some snapshot still references. */
  private def referencedRels: Set[String] =
    snapshots.flatMap(snapshotRels).toSet

  /** Resolve `tag`'s pinned table-relative paths against the live dir then
    * the archive: (live rels, archived rels). Fails loudly on files neither
    * root holds. Shared by [[readSnapshot]] and the `graft-snapshot` V2
    * read-option source.
    */
  private[sources] def resolveSnapshot(tag: String): (Seq[String], Seq[String]) = {
    val rels = snapshotRels(tag)
    val (live, gone) = rels.partition(r => fs.exists(new Path(s"$dir/$r")))
    val (arch, missing) = gone.partition(r => fs.exists(new Path(archiveRoot, r)))
    require(missing.isEmpty,
      s"snapshot '$tag' is unreadable — ${missing.size} file(s) gone (vacuumed after " +
        s"dropSnapshot, or archive deleted?): ${missing.take(3).mkString(", ")}")
    (live, arch)
  }

  /** Time-travel read: the table exactly as of `snapshot(tag)`. Files are
    * resolved live-first then archive; both roots share the relative
    * layout, so directory-encoded partition columns survive via basePath.
    */
  def readSnapshot(tag: String): DataFrame = {
    val (live, arch) = resolveSnapshot(tag)
    def part(root: String, rs: Seq[String]) =
      spark.read.option("mergeSchema", "true").option("basePath", root)
        .parquet(rs.map(r => s"$root/$r"): _*)
    if (arch.isEmpty) part(dir, live)
    else if (live.isEmpty) part(archiveRoot.toString, arch)
    else part(dir, live).unionByName(part(archiveRoot.toString, arch),
      allowMissingColumns = true)
  }

  /** Forget `tag`. Pinned bytes are reclaimed by [[vacuumSnapshots]]. */
  def dropSnapshot(tag: String): Unit = {
    val m = new Path(snapshotsRoot, tag)
    require(fs.exists(m), s"no snapshot '$tag' on $dir")
    fs.delete(m, false)
  }

  /** Delete archived files no remaining snapshot references; returns the
    * number removed. Files a live snapshot still pins are kept.
    */
  def vacuumSnapshots(): Int = {
    val refs = referencedRels
    var removed = 0
    walkParquet(archiveRoot).foreach { p =>
      if (!refs.contains(relativize(archiveRoot.toString, p))) {
        fs.delete(p, false); removed += 1
      }
    }
    if (fs.exists(archiveRoot) && walkParquet(archiveRoot).isEmpty)
      fs.delete(archiveRoot, true)
    removed
  }

  /** Retention: keep the `keepLast` most recent snapshots (by manifest
    * creation time), drop the rest, and vacuum unpinned archive bytes in
    * one pass. Returns the dropped tags — the lifecycle hook a deployment
    * calls after each tag ("keep a week of dailies").
    */
  def pruneSnapshots(keepLast: Int): Seq[String] = {
    require(keepLast >= 0, s"pruneSnapshots: keepLast must be >= 0, got $keepLast")
    if (!fs.exists(snapshotsRoot)) return Nil
    val byAge = fs.listStatus(snapshotsRoot).toIndexedSeq
      .sortBy(s => (s.getModificationTime, s.getPath.getName))
    val drop = byAge.dropRight(keepLast).map(_.getPath.getName)
    drop.foreach(dropSnapshot)
    vacuumSnapshots()
    drop
  }

  /** Policy retention on top of [[pruneSnapshots]]: drop every snapshot
    * that is beyond the `maxCount` newest OR older than `maxAgeMillis`
    * (manifest creation time), then vacuum unpinned archive bytes — the
    * "keep 7 dailies, nothing older than a month" lifecycle rule a table
    * owner sets once instead of hand-dropping tags. Either bound defaults
    * to unbounded; `nowMillis` is injectable so policies are testable and
    * replayable. Returns the dropped tags. Snapshots the policy RETAINS
    * stay fully readable — vacuum honors their pins.
    */
  def applyRetention(maxCount: Int = Int.MaxValue,
      maxAgeMillis: Long = Long.MaxValue,
      nowMillis: Long = System.currentTimeMillis()): Seq[String] = {
    require(maxCount >= 0, s"applyRetention: maxCount must be >= 0, got $maxCount")
    require(maxAgeMillis >= 0, s"applyRetention: maxAgeMillis must be >= 0, got $maxAgeMillis")
    if (!fs.exists(snapshotsRoot)) return Nil
    val byAge = fs.listStatus(snapshotsRoot).toIndexedSeq
      .sortBy(s => (s.getModificationTime, s.getPath.getName))
    val overCount = byAge.dropRight(maxCount).map(_.getPath.getName).toSet
    val cutoff = nowMillis - maxAgeMillis
    val overAge = byAge.filter(_.getModificationTime < cutoff)
      .map(_.getPath.getName).toSet
    val drop = byAge.map(_.getPath.getName).filter(t => overCount(t) || overAge(t))
    drop.foreach(dropSnapshot)
    vacuumSnapshots()
    drop
  }

  /** Tag a snapshot and apply the retention policy in one call — the
    * auto-vacuum form: `db.snapshot(today, maxCount = 7)` keeps a rolling
    * week without a separate lifecycle job. Returns the dropped tags.
    */
  def snapshot(tag: String, maxCount: Int, maxAgeMillis: Long = Long.MaxValue): Seq[String] = {
    snapshot(tag)
    applyRetention(maxCount, maxAgeMillis)
  }

  /** Replicate the table AS OF `tag` into `destDir` (the time-travel form
    * of [[exportTo]]): a distributed read+write of the pinned file list —
    * the "reproduce last week's training corpus" hook.
    */
  def exportSnapshot(tag: String, destDir: String): ParquetDatabase = {
    readSnapshot(tag).write.mode("overwrite").parquet(destDir)
    new ParquetDatabase(spark, destDir)
  }

  /** Move every snapshot-referenced parquet file under `root` into the
    * archive before `root` is deleted; `relOf` maps each file to its
    * table-relative path. Files already present in the archive (same
    * immutable name) are simply dropped from `root`. Returns moved count.
    */
  private def archiveReferenced(root: Path, relOf: Path => String): Int = {
    val refs = referencedRels
    if (refs.isEmpty) return 0
    var moved = 0
    walkParquet(root).foreach { p =>
      val rel = relOf(p)
      if (refs.contains(rel)) {
        val dest = new Path(archiveRoot, rel)
        fs.mkdirs(dest.getParent)
        if (fs.exists(dest)) fs.delete(p, false)
        else if (!fs.rename(p, dest))
          throw new java.io.IOException(s"archive: failed to move $p -> $dest")
        moved += 1
      }
    }
    moved
  }
}

object ParquetDatabase {

  val ManifestName = "_graft_manifest"

  /** A table's fingerprint and its data files' paths, from one walk. */
  private final case class Listing(print: String, files: Seq[String])

  private def md5Hex(text: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** One table version as a read opened it: the digest of its leaf files
    * (see [[leafDigest]]) and the schema inferred from exactly those files.
    */
  private final case class ReadVersion(files: String, schema: StructType)

  private type ReadKey = (SparkSession, String, Map[String, String], Map[String, String])

  /** Open read versions, one per (session, qualified dir, effective read
    * options, the session's SQL conf). The conf is part of the key because
    * parquet settings such as `binaryAsString` change what inference yields.
    */
  private val readVersions = new java.util.concurrent.ConcurrentHashMap[ReadKey, ReadVersion]()

  /** `spark.read.options(options).parquet(dir)`, with the schema of the
    * version it lists taken from the open handle when there is one. The
    * relation is built with the held schema and kept only if its file
    * index listed the files that schema was inferred from; otherwise (no
    * handle, or a version it does not describe) the schema is inferred as
    * before and the handle renewed.
    */
  private def openRead(spark: SparkSession, dir: String, qualifiedDir: String,
                       options: Map[String, String]): DataFrame = {
    val key = (spark, qualifiedDir, options, spark.sessionState.conf.getAllConfs)
    val held = Option(readVersions.get(key))
    held.map(v => spark.read.options(options).schema(v.schema).parquet(dir))
      .filter(df => leafDigest(df) == held.map(_.files))
      .getOrElse {
        val df = spark.read.options(options).parquet(dir)
        leafDigest(df) match {
          case Some(files) => readVersions.put(key, ReadVersion(files, df.schema))
          case None => readVersions.remove(key)
        }
        df
      }
  }

  /** Digest of the (path, length, mtime) of every leaf file the file index
    * under `df` listed; None when `df` is not a scan of a listed index.
    */
  private def leafDigest(df: DataFrame): Option[String] =
    df.queryExecution.analyzed match {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location match {
          case idx: PartitioningAwareFileIndex => Some(md5Hex(idx.allFiles()
            .map(s => s"${s.getPath}|${s.getLen}|${s.getModificationTime}\n").sorted.mkString))
          case _ => None
        }
        case _ => None
      }
      case _ => None
    }

  /** Drop every open read version of `qualifiedDir`, in every session. */
  private def forgetReads(qualifiedDir: String): Unit =
    readVersions.keySet.removeIf(_._2 == qualifiedDir)

  /** Named failure for a replica whose bytes don't match its manifest. */
  final class ReplicaIntegrityException(msg: String)
    extends java.io.IOException(msg)

  /** Run `f` over `items` on a bounded thread pool, propagating the first
    * failure. Driver-side by design: replication I/O is per-FILE streaming
    * (no data interpretation), and a bounded pool saturates a filesystem
    * endpoint the way the reference's threaded uploader does — a Spark job
    * would serialize closures to move bytes no executor needs to see.
    */
  private[sources] def inThreadPool[A, B](parallelism: Int, items: Seq[A])(f: A => B): Seq[B] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(parallelism, items.size max 1)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.sequence(items.map(a => Future(f(a)))), Duration.Inf)
    finally pool.shutdown()
  }

  /** MD5-hash one file as its bytes stream through, copying them to `dst`
    * when given; returns (length, hex digest). 1 MiB buffer — large enough
    * to amortize FS round-trips, small enough for `parallelism` concurrent
    * streams.
    */
  private[sources] def copyAndHash(
      srcFs: org.apache.hadoop.fs.FileSystem, src: Path,
      dst: Option[(org.apache.hadoop.fs.FileSystem, Path)]): (Long, String) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    dst.foreach { case (dstFs, d) => dstFs.mkdirs(d.getParent) }
    val in = srcFs.open(src)
    val out = dst.map { case (dstFs, d) => dstFs.create(d, true) }
    var total = 0L
    try {
      val buf = new Array[Byte](1 << 20)
      var n = in.read(buf)
      while (n > 0) {
        md.update(buf, 0, n)
        out.foreach(_.write(buf, 0, n))
        total += n
        n = in.read(buf)
      }
    } finally { in.close(); out.foreach(_.close()) }
    (total, md.digest().map("%02x".format(_)).mkString)
  }

  /** A replica's `_graft_manifest` under `root`: its bytes and its
    * (relative path, length, md5) entries; None when it has none.
    */
  private def readManifest(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Option[(Array[Byte], Seq[(String, Long, String)])] = {
    val manifestPath = new Path(root, ManifestName)
    if (!fs.exists(manifestPath)) None
    else {
      val buf = new Array[Byte](fs.getFileStatus(manifestPath).getLen.toInt)
      val in = fs.open(manifestPath)
      try in.readFully(buf) finally in.close()
      Some(buf -> new String(buf, java.nio.charset.StandardCharsets.UTF_8)
        .split("\n").toIndexedSeq.filter(_.nonEmpty).map { line =>
          val Array(rel, lenS, md5) = line.split("\t")
          (rel, lenS.toLong, md5)
        })
    }
  }

  /** How a hashed file diverges from its manifest entry, if it does. */
  private def divergence(rel: String, want: (Long, String), got: (Long, String)): Option[String] =
    if (got._1 != want._1) Some(s"$rel: length ${got._1} != manifest ${want._1}")
    else if (got._2 != want._2) Some(s"$rel: md5 ${got._2} != manifest ${want._2}")
    else None

  /** Pull a pushed replica into `destDir`, verifying EVERY file against the
    * source's `_graft_manifest` while the bytes stream through. All
    * divergences (missing file, length mismatch, digest mismatch) are
    * collected and reported in ONE [[ReplicaIntegrityException]] — a
    * corrupted replica names every bad file, not just the first. Nothing is
    * half-applied on failure: the destination is written to a temp dir and
    * renamed into place only after the whole manifest verifies.
    *
    * Object-store posture (no atomic rename): the promote step may itself
    * be a per-file copy that dies midway. The protocol's guarantee there is
    * DETECTION, not atomicity — the manifest travels with the data (written
    * into the temp dir before promote), so a partial promote under the
    * final name always fails [[verifyReplica]] (absent manifest, or named
    * missing files) and recovery is a plain re-pull. The protocol never
    * LISTS the destination it wrote (files are addressed by manifest-
    * derived names), so list-after-write lag cannot corrupt it —
    * ObjectStoreReplicationSpec asserts both properties against a
    * rename-by-copy filesystem with injected mid-promote crashes.
    */
  def pullFrom(spark: SparkSession, srcDir: String, destDir: String,
      parallelism: Int = 8): ParquetDatabase = {
    val conf = spark.sessionState.newHadoopConf()
    val srcRoot = new Path(srcDir)
    val srcFs = srcRoot.getFileSystem(conf)
    val (manifestBytes, manifest) = readManifest(srcFs, srcRoot).getOrElse(
      throw new ReplicaIntegrityException(
        s"$srcDir has no $ManifestName — not a pushed replica (use pushTo to create one)"))
    val destRoot = new Path(destDir)
    val destFs = destRoot.getFileSystem(conf)
    val tmpRoot = new Path(destDir + "__pull_tmp")
    if (destFs.exists(tmpRoot)) destFs.delete(tmpRoot, true)
    destFs.mkdirs(tmpRoot)
    val problems = inThreadPool(parallelism, manifest) { case (rel, wantLen, wantMd5) =>
      val src = new Path(srcRoot, rel)
      if (!srcFs.exists(src)) Some(s"$rel: missing from replica")
      else divergence(rel, (wantLen, wantMd5),
        copyAndHash(srcFs, src, Some(destFs -> new Path(tmpRoot, rel))))
    }.flatten
    if (problems.nonEmpty) {
      destFs.delete(tmpRoot, true)
      throw new ReplicaIntegrityException(
        s"replica $srcDir failed integrity verification (${problems.size} file(s)):\n  " +
          problems.mkString("\n  "))
    }
    // land the manifest WITH the data: the pulled dir is itself a
    // re-auditable (and re-pushable) replica, and — critically for targets
    // without atomic rename, where the promote below is a per-file
    // copy+delete that can die midway — a partial promote under the final
    // name can never pass verifyReplica: either the manifest is absent or
    // it names every missing file. Parquet readers skip `_`-prefixed files,
    // so the table read is unaffected.
    val mOut = destFs.create(new Path(tmpRoot, ManifestName), true)
    try mOut.write(manifestBytes) finally mOut.close()
    if (destFs.exists(destRoot)) destFs.delete(destRoot, true)
    if (!destFs.rename(tmpRoot, destRoot))
      throw new java.io.IOException(s"pull: failed to move $tmpRoot -> $destRoot")
    new ParquetDatabase(spark, destDir)
  }

  /** Re-hash an existing replica in place against its own manifest —
    * the integrity audit without a copy. Returns the divergence list
    * (empty = verified).
    */
  def verifyReplica(spark: SparkSession, dir: String, parallelism: Int = 8): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    readManifest(fs, root) match {
      case None => Seq(s"$dir has no $ManifestName")
      case Some((_, manifest)) =>
        inThreadPool(parallelism, manifest) { case (rel, wantLen, wantMd5) =>
          val p = new Path(root, rel)
          if (!fs.exists(p)) Some(s"$rel: missing")
          else divergence(rel, (wantLen, wantMd5), copyAndHash(fs, p, None))
        }.flatten
    }
  }
}
