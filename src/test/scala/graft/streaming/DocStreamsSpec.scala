package graft.streaming

import graft.SparkSpec
import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The online near-dup discovery must equal the batch exact-pair answer on
  * a bounded replay, regardless of how the corpus splits into micro-batches
  * or which member of a pair arrives first.
  */
class DocStreamsSpec extends SparkSpec {

  private def fixture: DataFrame = {
    import spark.implicits._
    // 3 planted near-dup pairs + unrelated docs; texts long enough that a
    // one-word edit keeps jac >= 0.8 over word-3-grams
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    Seq(
      (1L, base),
      (2L, base.replace("theta", "THETA")), // near-dup of 1
      (3L, "one two three four five six seven eight nine ten eleven twelve " +
        "thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"),
      (4L, "one two three four five six seven eight nine ten eleven twelve " +
        "thirteen fourteen fifteen sixteen seventeen eighteen nineteen twentyX"), // near-dup of 3
      (5L, "the quick brown fox jumps over the lazy dog again and again today"),
      (6L, base), // exact dup of 1 (and near-dup of 2)
      (7L, "completely unrelated words nothing shared here at all mango papaya " +
        "guava lychee durian rambutan jackfruit tamarind persimmon quince"),
      (8L, "hi") // < 3 tokens: empty shingle set, must be ignored not crash
    ).toDF("doc_id", "text")
  }

  /** Run the stream over `docs` staged into `nFiles` files, confirm
    * candidates exactly, and return the confirmed pair set.
    */
  private def runStream(docs: DataFrame, name: String, nFiles: Int,
                        maxBucket: Int = 200): (Set[(Long, Long)], Long) = {
    val root = graft.Scratch.dir(s"spec_docstream_$name")
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    docs.repartition(nFiles).write.parquet(s"$root/src")
    val nBatches = DocStreams.nearDupCandidateStream(spark, s"$root/src",
      s"$root/cand", s"$root/ck", maxBucket = maxBucket)
    val cand = spark.read.parquet(s"$root/cand").select("d1", "d2").distinct()
    val confirmed = Dedup.exactJaccardForPairs(cand, docs, "doc_id", "text",
        shingleN = 3, threshold = 0.8)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (confirmed, nBatches)
  }

  private def exactPairs(docs: DataFrame): Set[(Long, Long)] = {
    val t = docs.select(col("doc_id").as("id"),
      explode(array_distinct(graft.functions.TextFunctions.shingles(col("text"), 3))).as("tok"))
    val sz = t.groupBy("id").agg(count(lit(1)).as("sz"))
    t.as("a").join(t.withColumnRenamed("id", "id2").as("b"),
        col("a.tok") === col("b.tok") && col("a.id") < col("id2"))
      .groupBy(col("a.id").as("d1"), col("id2").as("d2"))
      .agg(count(lit(1)).as("c"))
      .join(sz.select(col("id").as("d1"), col("sz").as("s1")), "d1")
      .join(sz.select(col("id").as("d2"), col("sz").as("s2")), "d2")
      .filter(col("c").cast("double") / (col("s1") + col("s2") - col("c")) >= 0.8)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("streamed candidates + exact confirm equal the batch exact pairs across a multi-batch replay") {
    val docs = fixture
    val expected = exactPairs(docs)
    assert(expected.nonEmpty, "fixture must contain planted near-dups")
    val (got, nBatches) = runStream(docs, "multi", nFiles = 4)
    assert(nBatches >= 2, s"replay collapsed into $nBatches batch(es)")
    assert(got === expected)
  }

  test("result is invariant to micro-batch layout (single-file replay gives the same pairs)") {
    val docs = fixture
    val (multi, _) = runStream(docs, "layout_a", nFiles = 4)
    val (single, _) = runStream(docs, "layout_b", nFiles = 1)
    assert(multi === single)
  }

  test("resumed stream over appended source files finds cross-increment pairs without re-emitting old ones") {
    import spark.implicits._
    val docs = fixture
    val old = docs.filter(col("doc_id") <= 4) // contains pairs (1,2) and (3,4)
    val neu = docs.filter(col("doc_id") > 4)  // doc 6 pairs with BOTH 1 and 2
    val root = graft.Scratch.dir("spec_docstream_resume")
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    old.repartition(2).write.parquet(s"$root/src")
    DocStreams.nearDupCandidateStream(spark, s"$root/src", s"$root/cand", s"$root/ck")
    val candBefore = spark.read.parquet(s"$root/cand").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(candBefore.toSet.contains((1L, 2L)) && candBefore.toSet.contains((3L, 4L)))
    // a later ingest tick appends files; the SAME checkpoint resumes and
    // must dedup the new docs against the persisted bucket state
    neu.repartition(1).write.mode("append").parquet(s"$root/src")
    DocStreams.nearDupCandidateStream(spark, s"$root/src", s"$root/cand", s"$root/ck")
    val candAfter = spark.read.parquet(s"$root/cand").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val confirmed = Dedup.exactJaccardForPairs(
        candAfter.distinct.toSeq.toDF("d1", "d2"),
        docs, "doc_id", "text", shingleN = 3, threshold = 0.8)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(confirmed === exactPairs(docs))
    // old-only pair emissions are NOT recomputed on resume: their candidate
    // multiplicity is unchanged
    def oldOnly(c: Seq[(Long, Long)]) = c.count { case (a, b) => a <= 4 && b <= 4 }
    assert(oldOnly(candAfter.toSeq) === oldOnly(candBefore.toSeq))
  }

  test("stream-built MinHash store probes identically to the one-shot build") {
    val docs = fixture.filter(col("doc_id") =!= 8) // keep shingle-bearing docs
    val corpus = docs.filter(col("doc_id") <= 5)
    val probe = docs.filter(col("doc_id") > 5) // doc 6 near-dups 1 and 2
    val root = graft.Scratch.dir("spec_docstream_store")
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    corpus.repartition(3).write.parquet(s"$root/src")
    val nBatches = DocStreams.minHashStoreStream(spark, s"$root/src",
      s"$root/streamed", s"$root/ck")
    assert(nBatches >= 2, s"replay collapsed into $nBatches batch(es)")
    Dedup.buildMinHashStore(corpus, "doc_id", "text", s"$root/oneshot")
    def probes(dir: String) =
      Dedup.minHashPairsAgainstStore(probe, "doc_id", "text", dir, threshold = 0.8)
        .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamed = probes(s"$root/streamed")
    assert(streamed === probes(s"$root/oneshot"))
    // doc 6 duplicates doc 1 exactly (jac 1.0); vs doc 2 the one-word edit
    // leaves jac 15/21 ~ 0.714, below the 0.8 threshold
    assert(streamed === Set((6L, 1L)))
  }

  test("stream-maintained IVF index applies each batch exactly once and stays ensure-fresh") {
    import spark.implicits._
    import graft.operators.Similarity
    val root = graft.Scratch.dir("spec_ivfstream")
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(p, true)
    def vec(i: Long): Array[Float] =
      Array.tabulate(8)(j => (((i * 7 + j * 3) % 13) + 1).toFloat)
    val emb = (0L until 40L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val base = emb.filter($"vec_id" % 4 =!= 0)
    emb.filter($"vec_id" % 4 === 0).repartition(3).write.parquet(s"$root/src")
    Similarity.ensureIvfIndex(spark, s"$root/ivf", base, "vec_id", "embedding",
      numCentroids = 4)
    val nBatches = DocStreams.ivfIndexStream(spark, s"$root/src", s"$root/ivf", s"$root/ck")
    assert(nBatches >= 2, s"replay collapsed into $nBatches batch(es)")
    def assignedCount = spark.read.parquet(s"$root/ivf/assigned").count()
    assert(assignedCount === 40L)
    val fpPath = new org.apache.hadoop.fs.Path(s"$root/ivf", "_fingerprint")
    val fp = graft.sources.HadoopText.read(fs, fpPath)
    assert(fp.contains("lastBatch="), s"fingerprint carries no batch ledger: $fp")
    val last = fp.split('|').find(_.startsWith("lastBatch=")).get.split("=")(1).toLong

    // foreachBatch re-delivery (the SAME marker) must no-op; a STRICTLY
    // older marker means a reset/foreign checkpoint is driving this index
    // — silent no-op would drop new data batch after batch, so it throws
    val dup = emb.filter($"vec_id" % 4 === 0).limit(3)
    assert(Similarity.appendToIvfIndex(spark, s"$root/ivf", dup, "vec_id", "embedding",
      batchMarker = Some(last)) === 0L)
    val mismatch = intercept[IllegalStateException] {
      Similarity.appendToIvfIndex(spark, s"$root/ivf", dup, "vec_id", "embedding",
        batchMarker = Some(last - 1))
    }
    assert(mismatch.getMessage.contains("mismatched"))
    assert(assignedCount === 40L)

    // the next batch id applies normally
    val extra = Seq((100L, vec(100)), (101L, vec(101))).toDF("vec_id", "embedding")
    assert(Similarity.appendToIvfIndex(spark, s"$root/ivf", extra, "vec_id", "embedding",
      batchMarker = Some(last + 1)) === 2L)
    assert(assignedCount === 42L)

    // ensure over the grown corpus with the same k recognizes the
    // maintained index as current — a rebuild would write a ledger-free
    // fingerprint, so the surviving lastBatch field is the no-rebuild proof
    Similarity.ensureIvfIndex(spark, s"$root/ivf", emb.unionByName(extra),
      "vec_id", "embedding", numCentroids = 4)
    val committed = graft.sources.HadoopText.read(fs, fpPath)
    assert(committed.contains(s"lastBatch=${last + 1}"),
      "ensureIvfIndex rebuilt a healthy stream-maintained index")

    // a crashed append (batch last+2, after its last move-in: its files and
    // its ledger are live, the gate is still held): the re-delivered batch
    // aborts instead of double-applying, FileCommit.recover — run by the
    // stream at start — rolls the batch and its ledger back byte-exactly,
    // and the re-delivery then applies it once
    val committedTree = graft.sources.CommitFixtures.tree(fs, s"$root/ivf")
    val retry = Seq((200L, vec(200)), (201L, vec(201))).toDF("vec_id", "embedding")
    val crashedFp = committed.split('|').map {
      case f if f.startsWith("n=") => s"n=${f.drop(2).toLong + 2}"
      case f if f.startsWith("lastBatch=") => s"lastBatch=${last + 2}"
      case f => f
    }.mkString("|")
    graft.sources.CommitFixtures.midMove(fs, s"$root/ivf", Seq("_fingerprint"), "crash001") { stage =>
      Similarity.assignCells(retry, "vec_id", "embedding", spark.read.parquet(s"$root/ivf/centroids"))
        .write.partitionBy("cell").parquet(s"$stage/assigned")
      graft.sources.HadoopText.write(fs, new org.apache.hadoop.fs.Path(stage, "_fingerprint"), crashedFp)
    }
    graft.sources.CommitFixtures.moveRest(fs, s"$root/ivf", Seq("_fingerprint"), "crash001")
    assert(assignedCount === 44L)
    intercept[java.util.ConcurrentModificationException](
      Similarity.appendToIvfIndex(spark, s"$root/ivf", retry, "vec_id", "embedding",
        batchMarker = Some(last + 2)))
    assert(graft.sources.FileCommit.recover(spark, s"$root/ivf").exists(_.startsWith("restored")))
    assert(graft.sources.CommitFixtures.tree(fs, s"$root/ivf") === committedTree)
    assert(graft.sources.HadoopText.read(fs, fpPath) === committed)
    assert(assignedCount === 42L)
    assert(Similarity.appendToIvfIndex(spark, s"$root/ivf", retry, "vec_id", "embedding",
      batchMarker = Some(last + 2)) === 2L)
    assert(assignedCount === 44L)
    // a committed batch's re-delivery still no-ops
    assert(Similarity.appendToIvfIndex(spark, s"$root/ivf", retry, "vec_id", "embedding",
      batchMarker = Some(last + 2)) === 0L)
    assert(assignedCount === 44L)
  }

  test("a degenerate hot bucket fails loudly at maxBucket") {
    import spark.implicits._
    val same = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = (1L to 6L).map(i => (i, same)).toDF("doc_id", "text")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runStream(docs, "hot", nFiles = 1, maxBucket = 3)
    }
    assert(e.getMessage.contains("maxBucket") ||
      Option(e.getCause).exists(_.getMessage.contains("maxBucket")))
  }
}
