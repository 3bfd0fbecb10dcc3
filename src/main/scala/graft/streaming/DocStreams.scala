package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** One LSH band row of a streamed document: which band-bucket the doc's
  * MinHash signature hashes into. Top-level for encoder codegen (the
  * SessionState rationale in EventStreams.scala).
  */
final case class DocBandRow(band: Int, bh: Long, doc_id: Long)

/** Per-band-bucket membership state for [[DocStreams.nearDupCandidateStream]]:
  * the doc ids seen in this bucket so far. Ids ONLY — no signatures, no
  * text — so state size is bounded by near-dup cluster sizes, not by
  * document size. Exactness is restored by the batch confirm pass.
  */
final case class BucketMembers(ids: Seq[Long])

/** An emitted candidate near-dup pair, oriented d1 < d2. */
final case class DocCandPair(d1: Long, d2: Long)

/** Structured Streaming operators over a DOCUMENT stream (doc_id, text) —
  * the ingest-time forms of the batch curation operators in
  * [[graft.operators.Dedup]]. Same harness contract as [[EventStreams]]:
  * `Trigger.AvailableNow` bounded replays whose results the batch oracle
  * can check; a deployment swaps trigger and sink only.
  */
object DocStreams {

  /** Streaming sources require an explicit schema. */
  val docsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** Online near-duplicate CANDIDATE discovery over a document stream:
    * MinHash + LSH banding evaluated per arriving document, with the only
    * stream state being the band-bucket membership map.
    *
    * Pipeline shape (and why it scales to an unbounded 100 TB ingest):
    *  - The MinHash signature is computed PER ROW by the native
    *    `shingle_hashes` / `minhash_bands` kernels, through the band rows
    *    every Dedup operator and the MinHash store use
    *    (`Dedup.setBandRows` of `Dedup.shingleHashSets`; th =
    *    xxhash64(shingle), p_i = xxhash64(i, th)) — no
    *    aggregation, no shuffle, no state, and no interpreted
    *    higher-order-function fallback; the signature work rides inside
    *    whole-stage codegen on the map side.
    *  - Each doc explodes to `numBands` (band, bandHash) rows; the ONE
    *    stateful operator is `flatMapGroupsWithState` keyed by band-bucket.
    *    State per bucket is the member id list — two docs land in the same
    *    bucket only when a full band of their signatures collides, so
    *    bucket sizes track true near-dup cluster sizes (the LSH
    *    argument of `Dedup.minHashPairs`), and `maxBucket`
    *    fails loudly if a degenerate corpus breaks that assumption.
    *  - A new member emits a candidate pair against each existing member
    *    of its bucket — candidate volume is LSH-bounded (∝ true near-dups
    *    plus the tunable false-positive rate), never corpus².
    *  - Candidates are APPENDED to a parquet sink; callers run the exact
    *    Jaccard confirm as a candidate-bounded batch pass
    *    ([[graft.operators.Dedup.exactJaccardForPairs]]), which removes
    *    every false positive — so downstream results match the exact-pair
    *    oracle up to the LSH miss probability ((1-s^r)^b < 1e-7 per true
    *    pair at s >= 0.8 with the default 16 bands x 2 rows).
    *
    * Pair semantics are ORDER-INSENSITIVE: pairs are oriented (min id,
    * max id) whichever side arrives first, so the result is a pure
    * function of the document SET — micro-batch boundaries and arrival
    * order cannot change it (the property the replay oracle needs).
    *
    * Docs with fewer than `shingleN` tokens have empty shingle sets and
    * are filtered out — they cannot be near-dup under set Jaccard (the
    * oracle's `inter` CTE never produces them either).
    *
    * Deployment notes: state here uses NoTimeout because the harness
    * replay is bounded; an unbounded recency-scoped deployment sets a
    * `GroupStateTimeout` so buckets idle past the dedup horizon are
    * evicted (the `dedupStream` watermark rationale). The parquet sink is
    * append-only and idempotent per batch (streaming file sink commit
    * protocol), so a crash mid-batch replays without duplicate files.
    *
    * @return number of micro-batches that carried input rows (callers
    *         assert >= 2 so the multi-batch state path was exercised).
    */
  def nearDupCandidateStream(spark: SparkSession, srcDir: String,
                             outDir: String, checkpointDir: String,
                             numBands: Int = 16, rowsPerBand: Int = 2,
                             shingleN: Int = 3, maxBucket: Int = 200,
                             maxFilesPerTrigger: Int = 1): Long = {
    import spark.implicits._
    val src = spark.readStream.schema(docsSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(srcDir)
    // a doc without shingles has no shingle-hash set and so no rows
    val bandRows = Dedup.setBandRows(Dedup.shingleHashSets(src, "doc_id", "text", shingleN),
        numBands, rowsPerBand)
      .select(col("band"), col("bh"), col("id").as("doc_id"))
      .as[DocBandRow]
    val pairs = bandRows
      .groupByKey(r => (r.band, r.bh))
      .flatMapGroupsWithState[BucketMembers, DocCandPair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { case (key, rows, state) =>
        val prior = if (state.exists) state.get.ids else Seq.empty[Long]
        // deterministic within-batch order (iterator order is not);
        // buckets are near-dup-cluster-sized so the sort is trivial
        val arriving = rows.map(_.doc_id).toArray.distinct.sorted
        var members = prior.toVector
        val out = Seq.newBuilder[DocCandPair]
        arriving.foreach { id =>
          if (!members.contains(id)) {
            members.foreach { m =>
              out += DocCandPair(math.min(m, id), math.max(m, id))
            }
            members = members :+ id
          }
        }
        if (members.size > maxBucket)
          throw new IllegalStateException(
            s"nearDupCandidateStream: band-bucket $key holds ${members.size} " +
              s"docs (> maxBucket=$maxBucket) — degenerate corpus for LSH " +
              "banding; raise bands/rows or pre-split the hot content")
        state.update(BucketMembers(members))
        out.result().iterator
      }
    // state stores allocate per shuffle partition — scope a small count to
    // the stream start (the runToMemory rationale); restored immediately
    val partKey = "spark.sql.shuffle.partitions"
    val oldParts = spark.conf.get(partKey)
    val q =
      try {
        spark.conf.set(partKey, "8")
        pairs.toDF().writeStream
          .format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", checkpointDir)
          .outputMode(OutputMode.Append)
          .trigger(Trigger.AvailableNow())
          .start()
      } finally spark.conf.set(partKey, oldParts)
    q.awaitTermination()
    q.recentProgress.count(_.numInputRows > 0).toLong
  }

  /** STREAMING maintenance of the persisted MinHash signature store — the
    * ingest tick that keeps [[graft.operators.Dedup.minHashPairsAgainstStore]]
    * serving dedup against an always-current corpus: each micro-batch of
    * documents appends one SEGMENT to the store (shingle + signature work
    * is paid once per document, history never re-read or re-tokenized).
    *
    * Exactly-once composes from the store's own protocol, not from this
    * wrapper: the batchId rides INSIDE the segment
    * (`appendToMinHashStore(batchMarker=...)`), and segment visibility is
    * a single directory rename (a `FileCommit.append`) — so a foreachBatch
    * re-delivery after a crash finds the committed marker and no-ops, and a
    * crash mid-append leaves only a stage sibling. The first batch, into an
    * absent store, is the store's build (a gated commit); a crash there
    * leaves a manifest, on which every later append aborts. So this
    * stream runs `graft.sources.FileCommit.recover` at start when a
    * manifest is present, rolling the build back so the re-delivered batch
    * re-applies. It must then start while no other writer of the store is
    * mid-commit: the recover rolls back a live compaction's manifest and
    * drops every stage, a live appender's too. Without a manifest it
    * recovers nothing, so it may start beside live appenders. No side
    * marker file to race with the data commit (contrast `BatchMarker`'s documented
    * one-batch exposure in [[EventStreams.mergeStreamToTable]] — additive
    * merges can't carry their marker inside the data, segment appends can).
    *
    * @return number of micro-batches that carried input rows.
    */
  def minHashStoreStream(spark: SparkSession, srcDir: String, storeDir: String,
                         checkpointDir: String, numBands: Int = 16,
                         rowsPerBand: Int = 2, shingleN: Int = 3,
                         maxFilesPerTrigger: Int = 1): Long = {
    // roll back a crashed prior run's build here — appends abort on its
    // manifest rather than recovering; with no manifest nothing needs
    // recovering, and a peer appender's live stage is left alone
    val root = new org.apache.hadoop.fs.Path(storeDir)
    if (graft.sources.FileCommit.inFlight(root.getFileSystem(spark.sessionState.newHadoopConf()), root))
      graft.sources.FileCommit.recover(spark, storeDir)
    val src = spark.readStream.schema(docsSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(srcDir)
    val partKey = "spark.sql.shuffle.partitions"
    val oldParts = spark.conf.get(partKey)
    val q =
      try {
        spark.conf.set(partKey, "8")
        src.writeStream
          .option("checkpointLocation", checkpointDir)
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            graft.operators.Dedup.appendToMinHashStore(batch, "doc_id", "text",
              storeDir, numBands, rowsPerBand, shingleN,
              batchMarker = Some(batchId.toString))
          }
          .trigger(Trigger.AvailableNow())
          .start()
      } finally spark.conf.set(partKey, oldParts)
    q.awaitTermination()
    q.recentProgress.count(_.numInputRows > 0).toLong
  }

  /** Streaming sources require an explicit schema (embedding streams). */
  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** STREAMING maintenance of a persisted IVF index — the vector-index
    * member of the store-maintenance triad ([[EventStreams
    * .distinctStoreStream]] for the HLL store, [[minHashStoreStream]] for
    * the MinHash store): each embedding micro-batch is assigned to the
    * index's EXISTING centroids and appended into the cell-partitioned
    * store via [[graft.operators.Similarity.appendToIvfIndex]], so the
    * index never re-runs k-means or rewrites history as the corpus grows.
    *
    * Exactly-once comes from the index's own commit: the batchId rides
    * INSIDE the `_fingerprint` that the append's `FileCommit.replace`
    * moves in with the batch's files, so a foreachBatch re-delivery of a
    * committed batch no-ops, and a crashed append is rolled back — its
    * ledger with it — by `graft.sources.FileCommit.recover`, which this
    * stream runs at start, so the re-delivered batch re-applies.
    *
    * The index must exist before the stream starts (`ensureIvfIndex` on
    * the initial corpus) — the classical IVF maintenance contract: cells
    * stay anchored to the original centroid geometry and a distribution
    * drift eventually warrants a rebuild (appendToIvfIndex scaladoc).
    *
    * @return number of micro-batches that carried input rows.
    */
  def ivfIndexStream(spark: SparkSession, srcDir: String, indexDir: String,
                     checkpointDir: String, idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     maxFilesPerTrigger: Int = 1): Long = {
    // the stream is THE single writer of its index (streaming contract), so
    // stream start is a quiesced point: roll back a crashed prior run's
    // commit here — appends abort on its manifest rather than recovering
    // (a live peer's commit looks exactly the same)
    graft.sources.FileCommit.recover(spark, indexDir)
    val src = spark.readStream.schema(embeddingsSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(srcDir)
    val partKey = "spark.sql.shuffle.partitions"
    val oldParts = spark.conf.get(partKey)
    val q =
      try {
        spark.conf.set(partKey, "8")
        src.writeStream
          .option("checkpointLocation", checkpointDir)
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            graft.operators.Similarity.appendToIvfIndex(spark, indexDir,
              batch, idCol, vecCol, batchMarker = Some(batchId))
            ()
          }
          .trigger(Trigger.AvailableNow())
          .start()
      } finally spark.conf.set(partKey, oldParts)
    q.awaitTermination()
    q.recentProgress.count(_.numInputRows > 0).toLong
  }
}
