package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental distinct counting via Datasketches HLL — the streaming-
  * metrics pattern: recomputing `count(DISTINCT x)` over the full corpus
  * per batch is a full shuffle of history; a per-key HLL sketch store
  * merges each new batch in O(keys · sketch bytes) instead.
  *
  * Spark-first: the sketches are built/merged/read with the engine's own
  * codegen'd Datasketches aggregates (`hll_sketch_agg` / `hll_union_agg`
  * / `hll_sketch_estimate`) — no UDFs. Merging never widens the error
  * class: a union of same-lgK sketches carries the classical
  * ~1.04/sqrt(2^lgK) relative standard error vs exact, the same as a
  * single pass (estimates may differ in the last counts between the two
  * paths — Datasketches' sparse→dense promotion happens at different
  * points — but both stay inside the bound; spec-asserted).
  *
  * The persisted store is one parquet row per key, hash-partitioned into
  * `bucket=<b>` dirs — metadata-sized relative to the corpus. A build
  * replaces every bucket; a batch merge rewrites only the buckets its keys
  * hash into, and builds the store when it is absent. Both commit through
  * the one store commit protocol ([[graft.sources.FileCommit]]); a store
  * with `nBuckets = 1` is the flat form.
  *
  * CONCURRENCY CONTRACT: concurrent mergers of different batches either
  * both commit or one aborts with a loud ConcurrentModificationException —
  * on a touched bucket a peer rewrote, or on the shared commit gate — and
  * the retry converges because HLL union is idempotent on already-folded
  * buckets (two-writer stress drill in ConcurrentSketchWriterSpec). A
  * crashed merge is rolled back by the quiesced `FileCommit.recover`;
  * replaying the batch then folds it.
  */
object DistinctSketch {

  val DefaultLgK = 12 // ~1.6% rse, 2^12 registers ≈ 4 KB per key

  /** One HLL sketch per key group over `itemCol`. */
  def sketchByKey(df: DataFrame, keys: Seq[String], itemCol: String,
      lgK: Int = DefaultLgK): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(hll_sketch_agg(col(itemCol), lit(lgK)).as("sketch"))

  /** Merge two same-shape sketch tables key-wise (missing keys pass through). */
  def mergeSketchTables(a: DataFrame, b: DataFrame, keys: Seq[String]): DataFrame =
    a.unionByName(b)
      .groupBy(keys.map(col): _*)
      .agg(hll_union_agg(col("sketch"), lit(false)).as("sketch"))

  /** Per-key distinct estimates from a sketch table. */
  def estimates(sketches: DataFrame, out: String = "distinct_est"): DataFrame =
    sketches.withColumn(out, hll_sketch_estimate(col("sketch")))

  def readEstimates(spark: SparkSession, dir: String, out: String = "distinct_est"): DataFrame =
    estimates(spark.read.parquet(dir), out).drop("sketch")

  // ---- bucketed store: the growing-key-set compaction story --------------
  //
  // Rewriting every key's sketch per merge is O(all keys) per refresh,
  // which stops scaling once the key set itself is large (per-user
  // sketches over a 100 TB corpus: 10⁸ keys × 4 KB = a 400 GB rewrite to
  // fold in a 1-key batch). The bucketed layout hash-partitions keys into
  // `bucket=<b>` dirs (b = pmod(xxhash64(keys), nBuckets)); a batch merge
  //   1. sketches the batch (batch-sized scan, keys-sized result),
  //   2. reads ONLY the store buckets the batch's keys hash into
  //      (partition-pruned scan — untouched buckets are never opened),
  //   3. replaces only those bucket dirs in one commit.
  // Refresh cost is O(touched-bucket keys · sketch), not O(all keys).

  private def bucketCol(keys: Seq[String], nBuckets: Int) =
    pmod(xxhash64(keys.map(col): _*), lit(nBuckets.toLong))

  /** The store's sketches of `df`, one row per key with its `bucket`. */
  private def bucketedSketches(df: DataFrame, keys: Seq[String], itemCol: String,
      nBuckets: Int, lgK: Int): DataFrame =
    sketchByKey(df, keys, itemCol, lgK).withColumn("bucket", bucketCol(keys, nBuckets))

  /** The files of the `bucket=` dirs `buckets` as sorted (path, length,
    * mtime) lines: the fingerprint every commit of the store checks.
    */
  private def listing(fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path,
      buckets: Seq[String]): Seq[String] =
    buckets.sorted.flatMap { b =>
      try fs.listStatus(new org.apache.hadoop.fs.Path(root, b)).filter(_.isFile).toSeq
        .sortBy(_.getPath.getName)
        .map(st => s"$b/${st.getPath.getName}|${st.getLen}|${st.getModificationTime}")
      catch { case _: java.io.FileNotFoundException => Nil }
    }

  /** The store's `bucket=` dirs (none while `root` is absent). */
  private def bucketDirs(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[String] =
    try fs.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("bucket="))
    catch { case _: java.io.FileNotFoundException => Nil }

  /** Build the store at `dir` from `df`: a [[graft.sources.FileCommit.replace]]
    * of every `bucket=` dir (of none, into an absent root), checked against
    * the (name, length, mtime) listing of those dirs' files that
    * [[mergeBatchIntoBucketedStore]] checks, so a peer's build or merge
    * that commits first aborts this one with a retryable
    * ConcurrentModificationException.
    */
  def buildBucketedStore(df: DataFrame, keys: Seq[String], itemCol: String, dir: String,
      nBuckets: Int = 64, lgK: Int = DefaultLgK): Unit = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
    graft.sources.FileCommit.requireNoCommit(fs, root)
    val buckets = bucketDirs(fs, root)
    graft.sources.FileCommit.replace(fs, root, buckets, listing(fs, root, buckets).mkString("\n"),
      () => listing(fs, root, bucketDirs(fs, root)).mkString("\n")) { stage =>
      bucketedSketches(df, keys, itemCol, nBuckets, lgK).write.partitionBy("bucket").parquet(stage.toString)
    }
  }

  /** Fold one batch into the bucketed store, rewriting only touched
    * buckets. `nBuckets` must match the build (bucket ids are recomputed
    * from the same hash). A merge into an absent store builds it.
    *
    * The commit is a [[graft.sources.FileCommit.replace]] of the touched
    * `bucket=` dirs, checked against their files' (name, length, mtime)
    * listing taken before the store is read: a peer's commit on any
    * touched bucket aborts this merge. Each touched bucket moves aside and
    * in as one directory rename.
    */
  def mergeBatchIntoBucketedStore(spark: SparkSession, batch: DataFrame, keys: Seq[String],
      itemCol: String, dir: String, nBuckets: Int = 64, lgK: Int = DefaultLgK): Unit = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    graft.sources.FileCommit.requireNoCommit(fs, root)
    val batchSk = bucketedSketches(batch, keys, itemCol, nBuckets, lgK)
      .localCheckpoint() // keys-sized; feeds the touched-set and the merge
    // ≤ nBuckets values — metadata-sized by construction
    val touched = batchSk.select("bucket").distinct().collect()
      .map(_.getLong(0)).sorted
    val dirs = touched.toSeq.map(b => s"bucket=$b")
    // the touched buckets' files, listed BEFORE the read the merge is
    // based on: the commit's fingerprint
    val entry = listing(fs, root, dirs)
    // touched buckets holding no files are not read: an absent store is
    // never opened, and the batch's sketches fold alone
    val cols = (keys :+ "sketch" :+ "bucket").map(col)
    val folded = batchSk.select(cols: _*)
    val merged =
      (if (entry.isEmpty) folded
       else spark.read.parquet(dir).filter(col("bucket").isin(touched: _*))
         .select(cols: _*).unionByName(folded))
        .groupBy((keys :+ "bucket").map(col): _*)
        .agg(hll_union_agg(col("sketch"), lit(false)).as("sketch"))
    graft.sources.FileCommit.replace(fs, root, entry.map(_.takeWhile(_ != '/')).distinct,
      entry.mkString("\n"), () => listing(fs, root, dirs).mkString("\n")) { stage =>
      merged.write.partitionBy("bucket").parquet(stage.toString)
    }
  }
}
