package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact
  * (hash-groupBy), exact n-gram Jaccard (self- and cross-corpus),
  * MinHash+LSH banding, SimHash, connected components.
  *
  * One shingle path: every shingle-set operator hashes each doc's distinct
  * word n-grams with the native `shingle_hashes` kernel
  * ([[shingleHashSets]]) and bands them with `minhash_bands`
  * ([[setBandRows]]), the kernels the MinHash store persists. Every jac
  * any operator emits is exact over those 64-bit shingle-hash sets.
  *
  * Scale design: every variant is a constant number of shuffles, each keyed
  * on something with bounded fan-in, never a full cross-join. The
  * exact-Jaccard operators find their candidates by prefix filtering (see
  * [[jaccardPairs]]): a pair meets only on the rarest hashes of each set,
  * so a hot shingle joins only the docs made almost wholly of hot
  * shingles, whose pairs are output-sized. Every candidate route ends in
  * one verify, the `intersect_count` merge of the pair's two sets. The LSH
  * banding path additionally bounds candidates ∝ true near-dups and is the
  * preferred shape at 100 TB.
  */
object Dedup {

  private def spread(df: DataFrame): DataFrame = OpUtils.spread(df)

  /** Exact dedup with a deterministic keeper: one row per key group with the
    * minimal id (dropDuplicates keeps an arbitrary row — not reproducible).
    */
  def exact(df: DataFrame, keys: Seq[String], idCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** (id, ths) shingle-hash sets of `docs`, spread first: the one shingle
    * pass of every pair operator below.
    */
  private def spreadSets(docs: DataFrame, idCol: String, textCol: String, shingleN: Int) =
    shingleHashSets(spread(docs), idCol, textCol, shingleN)

  /** (id, sz, th): one row per shingle hash of each (id, ths) set. The set's
    * size rides each row, so the pair arithmetic never joins a size
    * relation against the pair frame, the operators' largest intermediate
    * (at ScaleGen sf30 two such joins spilled ~3 GiB).
    */
  private def hashRows(sets: DataFrame): DataFrame =
    sets.select(col("id"), size(col("ths")).cast("long").as("sz"), explode(col("ths")).as("th"))

  /** The self-join pair condition over a join's `id` and `id2` sides. */
  private def ordered: Column = col("id") < col("id2")

  /** Exact word-`shingleN`-gram Jaccard over the given (d1, d2) candidate
    * pairs, keeping pairs at or above `threshold`. jac is exact over the
    * 64-bit shingle-hash sets, the contract of [[jaccardPairs]]; a doc with
    * no shingle has no set, so a pair naming one has no row.
    * Candidate-bounded: only the documents that appear in a candidate pair
    * are shingled (semi-join first), so the cost driver is the pair list,
    * not the corpus — which is what makes externally-generated candidates
    * (e.g. [[graft.streaming.DocStreams.nearDupCandidateStream]]'s online
    * LSH discovery, or [[minHashPairs]]' banding) exact after the fact.
    * Verified by the same `intersect_count` merge as every other Jaccard
    * operator ([[verify]]).
    */
  def exactJaccardForPairs(candidates: DataFrame, docs: DataFrame,
                           idCol: String, textCol: String, shingleN: Int,
                           threshold: Double): DataFrame = {
    // candidates are small by construction (banding bounds them) and
    // referenced twice below — materialize once so the generator pipeline
    // doesn't run per reference
    val cand = candidates.localCheckpoint()
    val needed = cand.select(col("d1").as("needed_id"))
      .union(cand.select(col("d2")))
      .distinct()
    val sets = spreadSets(docs.join(needed, col(idCol) === col("needed_id"), "left_semi"),
      idCol, textCol, shingleN)
    verify(cand, sets, sets, threshold)
  }

  /** (d1, d2, jac) of the `candidates` pairs whose jac — the shared hashes
    * of d1's set in `l` and d2's set in `r` (both (id, ths) sets) over
    * their union — is at or above `threshold`. The one verify of every
    * exact-Jaccard operator: `intersect_count` merges the pair's two
    * ascending sets in-row, once per pair. A pair naming a doc with no set
    * has no row.
    */
  private def verify(candidates: DataFrame, l: DataFrame, r: DataFrame,
                     threshold: Double): DataFrame =
    candidates
      .join(l.select(col("id").as("d1"), col("ths").as("t1")), "d1")
      .join(r.select(col("id").as("d2"), col("ths").as("t2")), "d2")
      .withColumn("c", TextFunctions.intersectCount(col("t1"), col("t2")))
      // the nondeterministic `__fence` keeps the jac filter above this
      // projection (see simHashPairs): pushed into the join condition, the
      // filter inlined `c` twice and the merge ran three times per pair
      .withColumns(Map(
        "jac" -> col("c").cast("double") / (size(col("t1")) + size(col("t2")) - col("c")),
        "__fence" -> spark_partition_id()))
      .filter(col("jac") >= threshold && col("__fence") >= 0)
      .select(col("d1"), col("d2"), col("jac"))

  /** All pairs with exact Jaccard similarity >= threshold over word
    * (shingleN=1) or n-gram shingle sets.
    *
    * Candidates come from the exact set-similarity join by prefix filtering
    * (Bayardo et al., WWW 2007; in the token-order / candidates / verify
    * stages of Vernica, Carey & Li, SIGMOD 2010 — see [[prefixCandidates]]):
    * under one global order of the hashes, rarest first, each set keeps
    * its first |s| − ⌈t·|s|⌉ + 1 hashes, and two sets with jac >= t share
    * at least one hash of their prefixes. So the candidate join is exact by
    * construction at every corpus size, with no df cap: a hot shingle
    * sorts last and enters only the prefixes of docs made almost wholly of
    * hot shingles, whose pairs are output-sized. Each distinct candidate is
    * verified by [[verify]]; every emitted jac is exact. At threshold <= 0
    * a prefix is the whole set, and the output is every pair sharing a
    * hash.
    *
    * Construction is EAGER: the shingle-hash sets and the prefix rows are
    * `localCheckpoint()`ed (see the body), so building the returned
    * DataFrame already runs the tokenize+hash and the token-order jobs, and
    * the checkpointed blocks are not recomputable on executor loss — the
    * same materialize-once/rerun-the-operator tradeoff the persisted-store
    * operators document. Callers that only want the lazy plan shape (none
    * in this repo) should not build it speculatively.
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   threshold: Double, shingleN: Int = 1): DataFrame = {
    // 64-bit shingle hash, not the shingle string: the shuffle moves 8-byte
    // keys and the join compares longs. A cross-doc collision (P ≈ n²/2⁶⁴)
    // could only perturb a count by 1 — negligible at the 4-decimal compare.
    // Hashed ONCE and materialized: the token order, the prefix rows and
    // the verify all derive from the checkpointed sets and would otherwise
    // re-scan and re-shingle the raw corpus — measured at sf10 as SIX
    // full-text scans per run, each serialized on the input file's split
    // count rather than the cluster.
    val sets = spreadSets(docs, idCol, textCol, shingleN).localCheckpoint()
    verify(prefixCandidates(Seq(sets), threshold), sets, sets, threshold)
  }

  /** Float slack on ⌈t·|s|⌉ and on the length filter: `0.6 * 5` is
    * `3.0000000000000004` in double, and an unguarded ceil would shorten
    * that prefix by one hash and drop true pairs. The slack can only
    * lengthen a prefix or widen the length filter, never lose a pair.
    */
  private val Slack = 1e-6

  /** Distinct prefix-filter candidate pairs (d1, d2) of `sides`, one or two
    * (id, ths) set frames, at `threshold`: the pairs of one side with
    * `d1 < d2`, or every (left, right) pair.
    *
    * Token order: each hash's df over all sides combined (one window over
    * the (id, sz, th) rows), ascending, ties broken by the hash. Each doc
    * keeps its first p = |s| − ⌈t·|s|⌉ + 1 hashes in that order (all of
    * them at t <= 0, none above 1). Two docs are candidates when their
    * prefixes share a hash and their sizes pass the length filter
    * t·|s1| <= |s2| <= |s1|/t, which every pair at jac >= t passes. The
    * prefix rows are checkpointed: they feed both join sides and the
    * width bound, Σ (df − 1) over the left side's prefix rows (halved for
    * one side), an upper bound on the join's candidate rows.
    *
    * @param broadcastLeft the left side's prefix rows are broadcast into
    *        the candidate join, so the right side is not shuffled for it
    */
  private[graft] def prefixCandidates(sides: Seq[DataFrame], threshold: Double,
                                      broadcastLeft: Boolean = false): DataFrame = {
    val rows = sides.zipWithIndex
      .map { case (sets, i) => hashRows(sets).withColumn("side", lit(i)) }
      .reduce(_ unionByName _)
    val prefix = rows
      .withColumn("df", count(lit(1)).over(Window.partitionBy("th")))
      .withColumn("rk", row_number().over(Window.partitionBy("side", "id").orderBy("df", "th")))
      .filter(col("rk") <= col("sz") - ceil(lit(threshold) * col("sz") - lit(Slack)) + 1)
      .select("side", "id", "sz", "th", "df")
      .localCheckpoint()
    val left = prefix.filter(col("side") === 0)
    val bound = left.agg(coalesce(sum(col("df") - 1), lit(0L))).head().getLong(0)
    val width = pairWidth(rows, if (sides.size == 1) bound / 2 else bound)
    def keyed(df: DataFrame) = if (width > 0) df.repartition(width, col("th")) else df
    val right = prefix.filter(col("side") === sides.size - 1)
      .withColumnRenamed("id", "id2").withColumnRenamed("sz", "sz2")
    val lengths = col("sz2") >= lit(threshold) * col("sz") - lit(Slack) &&
      col("sz") >= lit(threshold) * col("sz2") - lit(Slack)
    val joined = (if (broadcastLeft) broadcast(left) else keyed(left)).as("a")
      .join(keyed(right).as("b"), col("a.th") === col("b.th") && lengths &&
        (if (sides.size == 1) ordered else lit(true)))
      .select(col("id").as("d1"), col("id2").as("d2"))
    (if (width > 0) joined.repartition(width, col("d1"), col("d2")) else joined).distinct()
  }

  /** Pair-stage width for `candPairs` candidate rows. The candidate join's
    * OUTPUT is a multiple of the token input that a static session shuffle
    * width (sized for input-scan parallelism) cannot anticipate. Measured
    * at ScaleGen sf30: 3.8e8 candidate rows over the session's 32
    * partitions spilled 16 GiB to disk (the agg stage alone 114 s); the
    * same plan at sf10 (1.27e8 rows, exactly 3× less — ScaleGen holds pair
    * density constant, so candidate volume is LINEAR in corpus size) ran
    * spill-free. 0 means "session default + AQE" (the explicit exchanges
    * pin their width, which would disable AQE coalescing where it is the
    * right tool — small corpora); a positive width targets ~4M pair rows
    * (~100 MB sort footprint) per partition so the pair stages never
    * outgrow executor memory, capped at 8192 (≈3e10 candidate rows —
    * beyond that, raise the session width with the cluster).
    */
  private def pairWidth(df: DataFrame, candPairs: Long): Int = {
    val idealWidth = math.min(8192L, candPairs / 4000000L + 1).toInt
    if (idealWidth > df.sparkSession.sessionState.conf.numShufflePartitions) idealWidth else 0
  }

  /** (id, ths): each doc's distinct 64-bit shingle hashes in ascending
    * order, the row a MinHash store segment's `toks/` holds. Docs with no
    * shingle get no row. One projection over the input
    * ([[graft.functions.ShingleHashes]]): no spread, no groupBy, so the
    * input's own splits are the parallelism.
    */
  private[graft] def shingleHashSets(docs: DataFrame, idCol: String, textCol: String,
                              shingleN: Int): DataFrame =
    docs.select(col(idCol).as("id"),
        TextFunctions.shingleHashes(col(textCol), math.max(1, shingleN)).as("ths"))
      .filter(size(col("ths")) > 0)

  /** (id, band, bh) band rows of (id, ths) shingle-hash sets — how a store
    * segment's `bands/` derives from its `toks/`. One projection
    * ([[graft.functions.MinHashBands]]) and a `posexplode`; no shuffle.
    */
  private[graft] def setBandRows(sets: DataFrame, numBands: Int, rowsPerBand: Int): DataFrame =
    sets.select(col("id"),
      posexplode(TextFunctions.minHashBands(col("ths"), numBands, rowsPerBand)).as(Seq("band", "bh")))

  /** Cross-corpus exact Jaccard pairs: every (left doc, right doc) pair
    * with similarity >= threshold — the incremental-ingest form of
    * [[jaccardPairs]] (dedup an incoming batch against an existing corpus;
    * decontaminate a training set against an eval set). The same exact
    * prefix-filter route and verify as [[jaccardPairs]], with the token
    * order's document frequency measured over BOTH corpora combined, so
    * both sides are shuffled once on token hash for it. Construction is
    * EAGER for both corpora (each side's shingle-hash sets and the prefix
    * rows are `localCheckpoint()`ed — see [[jaccardPairs]]'s contract note).
    *
    * @param broadcastLeft hint that `left` is query-sized (an anchor/batch
    *        set, NOT a corpus): its prefix rows are broadcast into the
    *        candidate join, so the corpus side's prefix rows are not
    *        shuffled for it. Caller-asserted; a corpus-sized left would OOM
    *        the broadcast, which is why this is opt-in and default-off.
    */
  def jaccardPairsBetween(left: DataFrame, right: DataFrame, idCol: String,
                          textCol: String, threshold: Double, shingleN: Int = 1,
                          broadcastLeft: Boolean = false): DataFrame = {
    // hash-early + materialize-once, same rationale as jaccardPairs
    val ls = spreadSets(left, idCol, textCol, shingleN).localCheckpoint()
    val rs = spreadSets(right, idCol, textCol, shingleN).localCheckpoint()
    verify(prefixCandidates(Seq(ls, rs), threshold, broadcastLeft), ls, rs, threshold)
  }

  /** ~`targetAnchors` deterministic anchor docs (`id % ceil(n/target) = 0`)
    * and their exact shingle-Jaccard ≥ `threshold` pairs against the WHOLE
    * corpus, normalized to `d1 < d2` (anchor×anchor pairs arrive in both
    * orientations with identical symmetric jac) — the O(target·n) exact arm
    * used by q_ext_dedup4's oracle AND by [[graft.tools.DedupRecallProbe]].
    * One definition so the probe measures the query's actual physical plan
    * (the anchors' prefix rows broadcast into the candidate join; the
    * corpus is shuffled once on token hash for the token order).
    * Pair-count-sized and localCheckpoint'd: callers reference it from both
    * an output and a recall guard, so the shingle join runs once.
    */
  def anchoredJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                           targetAnchors: Long = 500L, threshold: Double = 0.9,
                           shingleN: Int = 3): DataFrame = {
    val qDiv = docs.agg(
      greatest(lit(1L), floor(count(lit(1)) / targetAnchors.toDouble).cast("long")).as("qdiv"))
    val anchors = docs.crossJoin(broadcast(qDiv))
      .filter(col(idCol) % col("qdiv") === 0)
      .select(col(idCol), col(textCol))
    jaccardPairsBetween(anchors, docs, idCol, textCol, threshold, shingleN,
        broadcastLeft = true)
      .filter(col("d1") =!= col("d2"))
      .groupBy(least(col("d1"), col("d2")).as("d1"),
        greatest(col("d1"), col("d2")).as("d2"))
      .agg(max(col("jac")).as("jac"))
      .localCheckpoint()
  }

  /** MinHash + LSH banding near-dup pairs, verified with exact Jaccard.
    *
    * bands × rowsPerBand hashes per doc, banded in-row by the kernels the
    * MinHash store persists ([[setBandRows]] of [[shingleHashSets]]);
    * candidate pairs share at least one band hash, and
    * [[exactJaccardForPairs]] verifies them against the full shingle-hash
    * sets, so the output has no false positives — only the (tiny, tunable)
    * LSH miss probability (1-s^r)^b at similarity s.
    */
  def minHashPairs(docs: DataFrame, idCol: String, textCol: String,
                   threshold: Double, numBands: Int = 16, rowsPerBand: Int = 2,
                   shingleN: Int = 1): DataFrame = {
    val banded = setBandRows(spreadSets(docs, idCol, textCol, shingleN), numBands, rowsPerBand)
    val candidates = banded.as("x")
      .join(banded.withColumnRenamed("id", "id2").as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") && ordered)
      .select(col("id").as("d1"), col("id2").as("d2"))
      .distinct()
    exactJaccardForPairs(candidates, docs, idCol, textCol, shingleN, threshold)
  }

  /** Persisted MinHash signature store — the INCREMENTAL dedup shape: a
    * continuously-growing corpus pays shingling + signatures ONCE per
    * document at ingest, and each new batch dedups against the whole
    * corpus by joining the store's band rows, never re-reading (let alone
    * re-shingling) corpus text. At 100 TB the alternative — re-running
    * [[jaccardPairsBetween]] per batch — re-tokenizes the full corpus on
    * every ingest tick.
    *
    * Layout at `dir`:
    *  - `toks/`  (id, ths array<long>) — distinct shingle hashes per doc,
    *    in ascending order, the exact-verification side (jac on 64-bit
    *    shingle hashes, same negligible-collision contract as
    *    [[jaccardPairs]]'s hashed join); docs without a shingle have no row;
    *  - `bands/` (id, band, bh) — LSH band rows, the candidate-join side;
    *  - `_params` — banding/shingle params; probes validate against it so
    *    a store built with different banding fails loudly instead of
    *    silently missing candidates.
    *
    * Build runs the shingle pipeline once: `toks` is written first, and
    * `bands` derives from the STORED arrays (no second tokenization pass).
    * Neither step shuffles: `toks` is one in-row projection over the input
    * ([[graft.functions.ShingleHashes]]) and `bands` one over the staged
    * `toks` ([[graft.functions.MinHashBands]]), so each writes one file per
    * input split, the input's own splits are the parallelism, and the same
    * input writes the same bytes.
    *
    * The build is a [[graft.sources.FileCommit.replace]] of every
    * top-level entry of `dir` (of none, when it is absent): it stages
    * `_params` plus one segment, checked against the sorted entry names it
    * listed, as compaction is. A concurrent build or append that commits
    * first aborts it with a retryable ConcurrentModificationException; a
    * crash is rolled back by the quiesced `FileCommit.recover`.
    */
  def buildMinHashStore(docs: DataFrame, idCol: String, textCol: String, dir: String,
                        numBands: Int = 16, rowsPerBand: Int = 2,
                        shingleN: Int = 3): Unit = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(docs.sparkSession.sessionState.newHadoopConf())
    graft.sources.FileCommit.requireNoCommit(fs, root)
    commitBuild(fs, root, entries(fs, root), docs, idCol, textCol,
      (numBands, rowsPerBand, shingleN), None)
  }

  /** The sorted names of `root`'s top-level entries (none while absent). */
  private def entries(fs: org.apache.hadoop.fs.FileSystem,
                      root: org.apache.hadoop.fs.Path): Seq[String] =
    try fs.listStatus(root).toSeq.map(_.getPath.getName).sorted
    catch { case _: java.io.FileNotFoundException => Nil }

  /** The build commit: `_params` and one segment replace the top-level
    * entries `names` of `root`, checked against the sorted names listed
    * once this commit holds the gate. `names` is listed before the caller
    * decided to build, so any commit after that decision aborts this one.
    */
  private def commitBuild(fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path,
                          names: Seq[String], docs: DataFrame, idCol: String, textCol: String,
                          params: (Int, Int, Int), batchMarker: Option[String]): Unit = {
    graft.sources.FileCommit.replace(fs, root, names, names.mkString("\n"),
      () => entries(fs, root).mkString("\n")) { stage =>
      graft.sources.HadoopText.write(fs, new org.apache.hadoop.fs.Path(stage, "_params"),
        s"${params._1}|${params._2}|${params._3}")
      writeSegment(fs, docs, idCol, textCol, stage, params, batchMarker)
    }
  }

  /** Write `batch`'s signatures as one `seg-<uuid>` directory under
    * `stage`: `toks`, then `bands` derived from the staged `toks` (one
    * shingle pass total), then the batch marker, if any.
    */
  private def writeSegment(fs: org.apache.hadoop.fs.FileSystem, batch: DataFrame,
                           idCol: String, textCol: String, stage: org.apache.hadoop.fs.Path,
                           params: (Int, Int, Int), batchMarker: Option[String]): Unit = {
    val (numBands, rowsPerBand, shingleN) = params
    val seg = new org.apache.hadoop.fs.Path(stage, s"seg-${java.util.UUID.randomUUID}")
    shingleHashSets(batch, idCol, textCol, shingleN).write.parquet(s"$seg/toks")
    setBandRows(batch.sparkSession.read.parquet(s"$seg/toks"), numBands, rowsPerBand)
      .write.parquet(s"$seg/bands")
    batchMarker.foreach(m => fs.create(new org.apache.hadoop.fs.Path(seg, s"_batch-$m"), true).close())
  }

  /** Append a new batch's signatures to an existing store (after the caller
    * has dedup'd/kept them — the store should hold surviving docs). Params
    * are pinned by the store's `_params` marker; an append to a store with
    * no `_params` is its build ([[buildMinHashStore]]), replacing the
    * entries it listed before deciding so. Of two first appends to an
    * empty store, one builds it; the other appends to that build when it
    * lists the store after the build committed, and otherwise gets a
    * retryable ConcurrentModificationException. Neither loses the other's
    * segment.
    *
    * Each append is one SEGMENT — `toks` and `bands` staged together and
    * made visible as `seg-<uuid>` by a [[graft.sources.FileCommit.append]],
    * i.e. ONE directory rename, so readers never observe signatures without
    * their band rows. Appends take no gate, so concurrent appends all
    * commit; one aborts while a compaction holds the gate. A crash before
    * the rename leaves only a stage sibling, which the quiesced
    * `FileCommit.recover` drops; a crash after it is a completed append.
    * That recover must run while no writer of the store is live: it drops
    * every stage and rolls back any manifest, a live peer's too.
    * With `batchMarker` set, replaying the same batch is a NO-OP when a
    * committed segment already carries the marker (the marker file rides
    * inside the segment, so data and marker commit in the same rename —
    * re-delivery can't double-append).
    */
  def appendToMinHashStore(batch: DataFrame, idCol: String, textCol: String,
                           dir: String, numBands: Int = 16, rowsPerBand: Int = 2,
                           shingleN: Int = 3, batchMarker: Option[String] = None): Unit = {
    val conf = batch.sparkSession.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    val params = (numBands, rowsPerBand, shingleN)
    graft.sources.FileCommit.requireNoCommit(fs, root)
    // listed BEFORE the build-or-append decision: a build replaces exactly
    // these entries, so a peer's first append that commits after this
    // listing aborts the build instead of being replaced by it
    val names = entries(fs, root)
    // a store persisted by the pre-segment layout (root-level toks/ +
    // bands/) must be rebuilt, not appended to: segment readers only see
    // seg-* dirs, so a silent append here would make every later probe
    // dedup against the new batch alone and LOSE the legacy corpus
    require(!names.contains("toks"),
      s"MinHash store at $dir uses the legacy root-level toks/bands layout — " +
        "rebuild it with buildMinHashStore before appending")
    readParams(dir, conf) match {
      // a `_params` listed but read as absent is mid-move under a peer's
      // build: leaving it out of the expected names aborts this build too
      case None =>
        commitBuild(fs, root, names.filterNot(_ == "_params"), batch, idCol, textCol, params, batchMarker)
      case Some(stored) =>
        require(stored == params,
          s"store $dir was built with (bands,rows,shingleN)=$stored, " +
            s"got (${numBands},${rowsPerBand},${shingleN})")
        val alreadyCommitted = batchMarker.exists(m =>
          segmentDirs(fs, root).exists(seg =>
            fs.exists(new org.apache.hadoop.fs.Path(seg, s"_batch-$m"))))
        if (!alreadyCommitted)
          graft.sources.FileCommit.append(fs, root)(
            writeSegment(fs, batch, idCol, textCol, _, params, batchMarker))
    }
  }

  /** Compact all committed segments of a MinHash store into ONE — the
    * maintenance pass a streaming ingest needs:
    * [[graft.streaming.DocStreams.minHashStoreStream]] appends one segment
    * per micro-batch, so an unbounded ingest accumulates unbounded
    * small-parquet segment dirs and every probe unions them all. Compaction
    * rewrites the union as a single segment while preserving the store's
    * exactly-once contract: every replaced segment's `_batch-*` markers are
    * copied into the compacted segment, so a foreachBatch re-delivery of
    * ANY already-merged batch still no-ops afterwards (spec-asserted).
    *
    * The commit is a [[graft.sources.FileCommit.replace]] whose touched
    * paths are the segment dirs it read, checked against their names: a
    * peer compaction that replaced any of them aborts this one loudly, and
    * a segment appended meanwhile is left in place. A crash is rolled back
    * by the quiesced `FileCommit.recover`. Probes must pause while the
    * segments move.
    *
    * @return number of segments replaced (0 = already compact, no-op).
    */
  def compactMinHashStore(spark: org.apache.spark.sql.SparkSession,
                          dir: String): Int = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    graft.sources.FileCommit.requireNoCommit(fs, root)
    val segs = segmentDirs(fs, root)
    if (segs.size <= 1) return 0
    val names = segs.map(_.getName)
    graft.sources.FileCommit.replace(fs, root, names, names.mkString("\n"),
      () => segmentDirs(fs, root).map(_.getName).filter(names.contains).mkString("\n")) { stage =>
      val seg = new org.apache.hadoop.fs.Path(stage, s"seg-${java.util.UUID.randomUUID}")
      spark.read.parquet(segs.map(p => s"$p/toks"): _*).write.parquet(s"$seg/toks")
      spark.read.parquet(segs.map(p => s"$p/bands"): _*).write.parquet(s"$seg/bands")
      // carry every replaced segment's batch markers forward
      segs.foreach { s =>
        fs.listStatus(s).filter(_.getPath.getName.startsWith("_batch-"))
          .foreach(m => fs.create(new org.apache.hadoop.fs.Path(seg, m.getPath.getName), true).close())
      }
    }
    segs.size
  }

  private def segmentDirs(fs: org.apache.hadoop.fs.FileSystem,
                          root: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toIndexedSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("seg-"))
      .map(_.getPath).sortBy(_.getName)

  private def paramsPath(dir: String) = new org.apache.hadoop.fs.Path(dir, "_params")

  private def readParams(dir: String,
      conf: org.apache.hadoop.conf.Configuration): Option[(Int, Int, Int)] = {
    val p = paramsPath(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val text = graft.sources.HadoopText.read(fs, p)
      scala.util.Try(text.trim.split('|').map(_.toInt)).toOption match {
        case Some(Array(b, r, n)) => Some((b, r, n))
        case _ => throw new IllegalStateException(
          s"MinHash store params file $p is malformed: '$text' " +
            "(expected bands|rowsPerBand|shingleN)")
      }
    }
  }

  /** Broadcast bound on the probe's batch band rows: at or under it the
    * candidate join broadcasts the BATCH side, so the corpus-sized store
    * bands stream through their scan with no exchange. ~1M rows ≈ 24 MB of
    * key data, reached at a ~65k-doc batch with the default 16 bands.
    */
  private val ProbeBroadcastMaxBandRows: Long = 1L << 20

  /** Broadcast bound on the probe's candidate id set: at or under it the
    * exact-verify semi-join against the store toks broadcasts the ids
    * (4M longs ≈ 32 MB). Candidates are near-dup-density-bound; only mass
    * duplication crosses it.
    */
  private val ProbeBroadcastMaxCandidates: Long = 4L * 1000 * 1000

  /** Near-dup pairs (batch doc, stored doc) with exact Jaccard >= threshold,
    * candidates from the store's LSH bands — the per-batch incremental step.
    * Only the BATCH is tokenized, once, into the (id, ths) sets a store
    * segment holds (checkpointed — they feed the band join and the verify
    * join), by the same in-row kernels a store build runs, so the batch
    * side shuffles nothing before the joins; the corpus side comes
    * entirely from the store. Emitted jac is
    * exact over the hashed shingle sets; misses are the banding family's
    * (1-s^r)^b — < 1e-7 at s≥0.8 with the default 16×2.
    *
    * Returns (d1 = batch id, d2 = stored id, jac). Batch-internal pairs are
    * the caller's [[minHashPairs]] step; appending survivors is
    * [[appendToMinHashStore]].
    */
  def minHashPairsAgainstStore(batch: DataFrame, idCol: String, textCol: String,
                               dir: String, threshold: Double): DataFrame =
    minHashPairsAgainstStoreImpl(batch, idCol, textCol, dir, threshold,
      ProbeBroadcastMaxBandRows, ProbeBroadcastMaxCandidates)

  /** Test seam: the probe with its two broadcast bounds as arguments, so a
    * test can force either join hinted (Long.MaxValue) or un-hinted (-1).
    */
  private[graft] def minHashPairsAgainstStoreImpl(
      batch: DataFrame, idCol: String, textCol: String, dir: String,
      threshold: Double, broadcastMaxBandRows: Long,
      broadcastMaxCandidates: Long): DataFrame = {
    val spark = batch.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    val (numBands, rowsPerBand, shingleN) = readParams(dir, conf).getOrElse(
      throw new IllegalStateException(s"no MinHash store at $dir (missing _params)"))
    // one listing per probe: both sub-tables read the same segment set
    val root = new org.apache.hadoop.fs.Path(dir)
    val segs = segmentDirs(root.getFileSystem(conf), root)
    require(segs.nonEmpty, s"MinHash store at $dir has no committed segments")
    def readStore(sub: String) = spark.read.parquet(segs.map(p => s"$p/$sub"): _*)
    def hinted(df: DataFrame, bcast: Boolean) = if (bcast) broadcast(df) else df
    val batchSets = shingleHashSets(batch, idCol, textCol, shingleN).localCheckpoint()
    // The candidate join's batch side is bounded by the TICK, the store side
    // by the CORPUS. Left to its estimates the planner sort-merges once the
    // batch's band rows cross the auto-broadcast threshold — exchanging the
    // WHOLE corpus band table per probe (r16, measured at sf10). So the hint
    // is keyed on the exact batch size (one count over the checkpoint); the
    // un-hinted join is the plan for a batch too large to broadcast.
    val bcastBands = batchSets.count() * numBands <= broadcastMaxBandRows
    val candidates = readStore("bands").withColumnRenamed("id", "sid").as("y")
      .join(hinted(setBandRows(batchSets, numBands, rowsPerBand).as("x"), bcastBands),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.id") =!= col("sid"))
      .select(col("x.id").as("d1"), col("sid").as("d2"))
      .distinct()
      .localCheckpoint() // tiny by construction; feeds two joins below
    // A checkpoint carries the planner's estimate of its rows, not their
    // count; left to it the planner sort-merged the corpus toks against the
    // candidate ids — exchanging the WIDEST store column (the per-doc
    // shingle-hash arrays) to keep a candidate-bound sliver (r16,
    // plan-verified at sf10). Under the bound the semi streams the corpus
    // side with no exchange; mass-duplication corpora keep the shuffle
    // semi — correct at any size, just slower.
    val candIds = candidates.select(col("d2").as("id")).distinct()
    val storedSets = readStore("toks").join(
      hinted(candIds, candidates.count() <= broadcastMaxCandidates), Seq("id"), "left_semi")
    verify(candidates, batchSets, storedSets, threshold)
  }

  /** 64-bit SimHash over the token set: bit b is the sign of the vote
    * sum over tokens of ±1 by bit b of xxhash64(token).
    *
    * Shape: explode tokens → one hash per token → 64 codegen'd sum
    * aggregates (one per bit) → pack bits. A higher-order-function
    * formulation is more compact but `aggregate`/`transform` are
    * CodegenFallback (interpreted) — the exploded form stays inside
    * whole-stage codegen and is ~an order of magnitude faster.
    *
    * Docs whose token set is empty have no exploded rows and thus no
    * signature (they can't be near-duplicates of anything by this measure).
    */
  def simHash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = spread(docs).select(col(idCol).as("id"),
      explode(TextFunctions.distinctTokens(col(textCol))).as("tok"))
    val h = xxhash64(col("tok"))
    val votes = (0 until 64).map(b =>
      sum(when(shiftright(h, b).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)).as(s"v$b"))
    val packed = (0 until 64).map(b =>
      when(col(s"v$b") >= 0, shiftleft(lit(1L), b)).otherwise(0L)).reduce(_ bitwiseOR _)
    toks.groupBy("id").agg(votes.head, votes.tail: _*)
      .select(col("id"), packed.as("simhash"))
  }

  /** Connected components over near-duplicate pairs — the "keep one document
    * per duplicate cluster" step after any pair generator above.
    *
    * Min-label propagation: every vertex starts labelled with itself; each
    * round every vertex takes the min label among itself and its neighbors,
    * until fixpoint. Rounds needed = component diameter — near-dup clusters
    * are shallow (dups of dups), so this converges in a handful of rounds;
    * each round is one join + one aggregate, all shuffles keyed on vertex id.
    * Returns (id, rep) where rep = min id in the component.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // undirected edge list, both directions — materialized once
    // (localCheckpoint): the upstream pair generator may be an expensive
    // pipeline, and every propagation round re-reads the edges
    val edges = pairs.select(col("d1").as("src"), col("d2").as("dst"))
      .union(pairs.select(col("d2").as("src"), col("d1").as("dst")))
      .localCheckpoint()
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("rep"))
    var converged = false
    var iter = 0
    val superseded = scala.collection.mutable.ListBuffer[DataFrame]()
    while (!converged && iter < maxIter) {
      // candidate label per vertex: min over (own label, neighbors' labels)
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "dst").withColumnRenamed("rep", "nrep"), "dst")
        .select(col("src").as("id"), col("nrep").as("rep"))
      val next = labels.union(viaNeighbors)
        .groupBy("id").agg(min(col("rep")).as("rep"))
        .localCheckpoint() // truncate the growing iteration lineage
      // convergence probe every OTHER round (and on the last allowed one):
      // fixpoint rounds are idempotent, so a skipped check just trades one
      // cheap extra propagation for halving the per-round probe jobs
      if (iter % 2 == 1 || iter == maxIter - 1) {
        converged = next.join(labels.withColumnRenamed("rep", "old"), "id")
          .filter(col("rep") =!= col("old")).isEmpty
      }
      if (iter > 0) superseded += labels // iter 0's labels is un-checkpointed
      labels = next
      iter += 1
    }
    // silent truncation would return WRONG labels (far ends of a chain not
    // yet relabelled) — a component with diameter > maxIter must fail loudly
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          s"a component's diameter exceeds maxIter; raise maxIter")
    // release superseded per-round checkpoints (the session would otherwise
    // hold every round's blocks until it ends); the returned labels and the
    // edges stay cached only until callers are done — edges freed here
    superseded.foreach(df => df.rdd.unpersist(false))
    edges.rdd.unpersist(false)
    labels
  }

  /** Block-count rule for [[simHashPairs]] — the SimHash analogue of
    * `Similarity.autoSrpPlanes`: banded candidate volume per table is
    * Σ bucket² ≈ n²/2^keyBits for a well-mixed corpus, so the band KEY must
    * WIDEN as the corpus grows to hold per-bucket population (and with it
    * the banding join's fan-out) near `targetBucket`. With the combination
    * banding below, numBlocks B at distance d gives keys of
    * (B−d)·⌊64/B⌋ bits across C(B, B−d) tables, so the rule walks B up from
    * the completeness minimum d+1 until the key covers
    * ceil(log2(n/targetBucket)) bits, stopping when the table count would
    * pass `maxTables` (combinatorial growth — past the ceiling the
    * hot-bucket sub-split is the backstop). The 100× finding behind the
    * rule: at 500 k docs the frozen 8-block/8-bit geometry held ~2 000 docs
    * per bucket and the banding join's candidate volume grew ~n²/256 —
    * quadratic — while one extra block (B=9: 14-bit keys, 36 tables) cuts
    * the random collision mass 14×.
    */
  def autoSimHashBlocks(corpusRows: Long, maxDist: Int, targetBucket: Long = 256L,
                        maxTables: Int = 256): Int = {
    require(maxDist >= 1 && maxDist < 63, s"maxDist must be in [1, 62] (got $maxDist)")
    val neededBits = math.ceil(
      math.log(math.max(1.0, corpusRows.toDouble / targetBucket)) / math.log(2.0)).toInt
    def keyBits(b: Int) = (b - maxDist) * (64 / b)
    def tables(b: Int) =
      (1 to (b - maxDist)).foldLeft(1L)((acc, i) => acc * (maxDist + i) / i) // C(b, b-d)
    var b = maxDist + 1
    while (keyBits(b) < neededBits && b < 32 && 64 / (b + 1) >= 1 &&
      tables(b + 1) <= maxTables) b += 1
    b
  }

  /** Bucket-cap rule for [[simHashPairs]] — the cap analogue of
    * [[autoSimHashBlocks]]. A FIXED cap is as scale-wrong as a fixed block
    * count, in the opposite direction: the round-15 sf30 probe measured a
    * cap of 800 at 1.5 M docs putting 19% of all banded rows into over-cap
    * buckets, which drives the whole join down the hot-census sub-split
    * path (> 40 min, timed on its since-deleted min-band form) AND costs recall
    * (the sub-split's bounded-sample backstop drops split-apart pairs),
    * while a cap the census never reaches leaves the join on the complete
    * fast path — 11.8e9 raw candidates hamming-tested in ~35 s at the same
    * scale and geometry. Under auto geometry the expected bucket is near
    * `targetBucket` (256), so over-cap buckets are template artifacts whose
    * size grows with the corpus's clique structure, not with n — the cap
    * only needs to stay (a) above that artifact band so the backstop is
    * RARE, and (b) below any constant CORPUS FRACTION so a degenerate
    * mega-clique (the one genuine n² risk) is still sub-split. corpus/100
    * with a floor of 800 does both: the floor holds to 80 k rows — above
    * every driver-gate scale, and above the 65 536-row point where
    * [[autoSimHashBlocks]] first widens past 8 blocks — so small-scale
    * plans (and the measured hot-path coverage they exercise) are
    * byte-identical to the historical pinned-800 form.
    */
  def autoSimHashBucketCap(corpusRows: Long, floor: Long = 800L): Long =
    math.max(floor, corpusRows / 100L)

  /** SimHash near-dup pairs: hamming distance <= maxDist. The pair join is
    * banded COMBINATORIALLY on the `numBlocks` near-equal-width bit blocks
    * of the signature (the Manku–Jain–Sarma WWW'07 near-duplicate design):
    * a pair within distance d corrupts at most d blocks (pigeonhole), so it
    * agrees EXACTLY on at least numBlocks − d blocks — and therefore on at
    * least one specific (numBlocks − d)-subset. Banding on every such
    * subset (C(numBlocks, numBlocks−d) tables, keys the concatenation of
    * the subset's block values) is complete for d <= maxDist while the key
    * is (numBlocks−d)·⌊64/numBlocks⌋ bits wide — so EXTRA blocks widen the
    * keys and shrink random bucket collisions without giving up the
    * completeness bound (numBlocks = maxDist + 1 degenerates to the
    * classic one-block-per-band form, e.g. 4 blocks of 16 bits for d <= 3,
    * 8 blocks of 8 bits for d <= 7).
    *
    * `numBlocks = 0` (the default) sizes the geometry by
    * [[autoSimHashBlocks]] from the corpus count — the deployment rule;
    * pass an explicit value to pin a fixture geometry. `maxBucket = 0` (the
    * default) likewise sizes the hot-bucket cap by [[autoSimHashBucketCap]]
    * from the same count. The count runs on the already-checkpointed
    * signature frame, so it costs one metadata scan, not a corpus
    * re-tokenize.
    *
    * Hot-bucket guard: a template-heavy corpus concentrates signatures, so
    * one (band, key) bucket can hold a large corpus fraction and its
    * self-join approaches n² (measured: 5k synthetic docs put 69% of all
    * pairs into shared 8-bit buckets). Buckets larger than `maxBucket` are
    * deterministically sub-split by xxhash64(id) so each member meets a
    * bounded sample of its bucket; a true pair suppressed in one hot band
    * still surfaces through any of its other agreeing bands. The bucket
    * census broadcast holds only the > maxBucket rows — bounded by
    * C(numBlocks, numBlocks−maxDist) · n / maxBucket, output-sized by
    * construction, never a driver collect.
    *
    * Emission follows the census: with no hot bucket each pair is emitted
    * once, from its first agreeing band; with one, each pair is emitted
    * from every band where it met and one `distinct()` collapses the
    * copies — so a mega-clique corpus shuffles up to
    * C(numBlocks, numBlocks−maxDist) copies of each survivor.
    */
  def simHashPairs(docs: DataFrame, idCol: String, textCol: String, maxDist: Int = 3,
                   numBlocks: Int = 0, maxBucket: Long = 0L): DataFrame = {
    // materialize the signature pass once: the geometry count, the
    // hot-bucket census and BOTH sides of the banding self-join would
    // otherwise each re-tokenize and re-hash the whole corpus (measured: 3
    // extra signature passes ≈ half the operator's steady-state cost at
    // sf0.1). The checkpoint is 16 bytes × n — negligible next to the
    // corpus it summarizes.
    val sig = simHash(docs, idCol, textCol).localCheckpoint()
    // one metadata-cheap count over the checkpoint serves both the block
    // and the bucket-cap rule
    val sigRows = sig.count()
    val blocks =
      if (numBlocks > 0) numBlocks
      else autoSimHashBlocks(sigRows, maxDist)
    val bucketCap =
      if (maxBucket > 0) maxBucket
      else autoSimHashBucketCap(sigRows)
    require(blocks >= 2 && blocks <= 64,
      s"numBlocks must be in [2, 64] (got $blocks)")
    require(maxDist < blocks,
      s"block banding is complete only for maxDist < numBlocks (got $maxDist >= $blocks)")
    // near-equal block widths: the first (64 mod blocks) blocks get one
    // extra bit, offsets accumulate
    val widths = Array.tabulate(blocks)(i => 64 / blocks + (if (i < 64 % blocks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    def blockVal(i: Int) =
      shiftright(col("simhash"), offsets(i)).bitwiseAND(lit((1L << widths(i)) - 1))
    // every (blocks − maxDist)-subset of block indices is one band; the key
    // concatenates the subset's block values (fits a long: total width
    // <= 64 − min block width since the subset is proper)
    val subsets = (0 until blocks).combinations(blocks - maxDist).toSeq
    val bands = subsets.zipWithIndex.map { case (subset, si) =>
      val key = subset.tail.foldLeft(blockVal(subset.head)) { (acc, i) =>
        shiftleft(acc, widths(i)).bitwiseOR(blockVal(i))
      }
      struct(lit(si).as("ci"), key.as("cv"))
    }
    val blocked = sig.select(col("id"), col("simhash"),
      explode(array(bands: _*)).as("ch"))
      .select(col("id"), col("simhash"), col("ch.ci").as("ci"), col("ch.cv").as("cv"))
    // census first, materialized: it is metadata-sized by construction
    // (only the > maxBucket rows survive, bounded by #tables · n/maxBucket)
    // and it decides the plan SHAPE below — the empty/non-empty probe is a
    // metadata-sized driver decision, not a data collect.
    val hot = blocked.groupBy("ci", "cv").agg(count(lit(1)).as("m"))
      .filter(col("m") > bucketCap)
      .withColumn("nsub", ceil(col("m").cast("double") / bucketCap).cast("long"))
      .select("ci", "cv", "nsub")
      .localCheckpoint()

    if (hot.isEmpty) {
      // COLD CENSUS — single emission (the deployment norm:
      // autoSimHashBlocks holds bucket populations near targetBucket ≪
      // maxBucket). A clustered corpus meets every surviving pair in up to
      // C(blocks, blocks−maxDist) bands (measured: the sf10 rehearsal
      // corpus holds 13% of ALL doc pairs within distance 7, so emitting
      // every copy fed ~9e8 duplicated survivors to a distinct). With no
      // bucket sub-split a pair meets a band iff the band's blocks agree,
      // so each copy can compute the pair's FIRST agreeing band in-join and
      // only the copy produced by that band is kept: exactly one copy per
      // pair, and no duplicate-eliminating shuffle.
      //
      // Codegen shape: the per-band agreement test is a 2-op mask test of a
      // single 64-bit block-agreement bitmask column (computed once per
      // join row from <= 64 shift/mask terms, one per block — numBlocks is
      // capped at 64 above), NOT a (blocks−maxDist)-conjunct shift chain
      // per band — so the band-selection CaseWhen stays far under codegen
      // method-size limits even at the 256-table geometry ceiling.
      val xorSig = col("simhash").bitwiseXOR(col("simhash2"))
      val blockAgreeMask = (0 until blocks).map { i =>
        when(shiftright(xorSig, offsets(i))
          .bitwiseAND(lit((1L << widths(i)) - 1)) === 0L, lit(1L << i))
          .otherwise(lit(0L))
      }.reduce(_ + _)
      val minBand = subsets.zipWithIndex.foldRight(lit(-1)) { case ((subset, si), rest) =>
        val mask = lit(subset.map(1L << _).sum)
        when(col("am").bitwiseAND(mask) === mask, lit(si)).otherwise(rest)
      }
      // Evaluation-position fence (measured, round 14): without it Catalyst
      // pushes the band-selection CaseWhen INTO the SortMergeJoin condition
      // — inlining the agreement-mask sum once per band — and the condition
      // grows past the codegen method limit, so the WHOLE join predicate
      // (hamming test included) falls back to interpreted evaluation on
      // every raw bucket candidate: 19.7s vs 1.4s for the identical
      // join+hamming at sf0.1. The fence is the always-true
      // nondeterministic conjunct `spark_partition_id() >= 0` INSIDE the
      // selection filter: a nondeterministic predicate is never pushed
      // through the projection or into the join (and the column it
      // references can't be pruned away), so the join-time conjuncts stay
      // the equi-keys, id<id2 and the one-instruction hamming test — small
      // enough to stay codegen'd — and band selection runs once per
      // SURVIVOR, referencing `am` as a computed-once column.
      blocked.as("x")
        .join(blocked.select(col("id").as("id2"), col("simhash").as("simhash2"),
          col("ci").as("ci2"), col("cv").as("cv2")).as("y"),
          col("ci") === col("ci2") && col("cv") === col("cv2") &&
            col("x.id") < col("id2"))
        .withColumn("dist", bit_count(xorSig))
        .filter(col("dist") <= maxDist)
        .withColumns(Map("__fence" -> spark_partition_id(), "am" -> blockAgreeMask))
        .filter(col("ci") === minBand && col("__fence") >= 0)
        .select(col("x.id").as("d1"), col("id2").as("d2"), col("dist"))
    } else {
      // HOT CENSUS — emit-all + distinct(). Members of an over-cap bucket
      // are sub-split by xxhash64(id), so a pair is emitted from band si iff
      // si's blocks agree AND the sub-split keeps both endpoints together
      // there; a pair split apart in one agreeing band still meets in any
      // other, and distinct() collapses the per-band copies. Pairs split
      // apart in EVERY agreeing band never meet — the bounded-sample
      // backstop.
      val sub = blocked.join(broadcast(hot), Seq("ci", "cv"), "left")
        .withColumn("sub", pmod(xxhash64(col("id")), coalesce(col("nsub"), lit(1L))))
        .select(col("id"), col("simhash"), col("ci"), col("cv"), col("sub"))
      sub.as("x")
        .join(sub.select(col("id").as("id2"), col("simhash").as("simhash2"),
          col("ci").as("ci2"), col("cv").as("cv2"), col("sub").as("sub2")).as("y"),
          col("ci") === col("ci2") && col("cv") === col("cv2") &&
            col("sub") === col("sub2") && col("x.id") < col("id2"))
        .select(col("x.id").as("d1"), col("id2").as("d2"),
          bit_count(col("simhash").bitwiseXOR(col("simhash2"))).as("dist"))
        // filter BEFORE the dedup shuffle: only the hamming<=maxDist
        // survivors (output-sized) need the distinct
        .filter(col("dist") <= maxDist)
        .distinct()
    }
  }
}
