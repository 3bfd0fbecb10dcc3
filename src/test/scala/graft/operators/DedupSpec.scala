package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog tonight again"),
    (2L, "the quick brown fox jumps over the lazy dog tonight today"),   // near-dup of 1
    (3L, "completely different words about spark engines and shuffles"),
    (4L, "the quick brown fox jumps over the lazy dog tonight again")    // exact dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup keeps deterministic min id per group") {
    val out = Dedup.exact(docs, Seq("text"), "doc_id")
    assert(out.count() === 3)
    val dupGroup = out.filter(col("n_dups") === 2).head()
    assert(dupGroup.getAs[Long]("keep_id") === 1L)
  }

  test("jaccardPairs finds near and exact dups above threshold, not unrelated docs") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.6, shingleN = 3)
      .orderBy("d1", "d2").collect()
    val keys = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keys.contains((1L, 4L)))            // exact dup, jac = 1.0
    assert(keys.contains((1L, 2L)))            // near dup
    assert(!keys.exists(p => p._1 == 3L || p._2 == 3L))
    val exact = pairs.find(r => r.getLong(0) == 1L && r.getLong(1) == 4L).get
    assert(exact.getAs[Double]("jac") === 1.0)
  }

  test("df token order keeps hot shingles out of every prefix") {
    // 20 docs sharing one hot sentence prefix; each tail is unique, so every
    // cross-doc shared shingle is hot (df = 20) and sorts after each doc's
    // 3 rare ones. At t = 0.6 a 6-shingle doc's prefix is 6 - 4 + 1 = 3
    // hashes: its rare tail alone, so no pair forms
    val hot = (10L to 29L).map(i =>
      (i, s"common shared shingle text here unique$i tail$i end$i")).toDF("doc_id", "text")
    val sets = Seq(Dedup.shingleHashSets(hot, "doc_id", "text", 3))
    assert(Dedup.prefixCandidates(sets, 0.6).count() === 0L)
    // at t = 0.3 the 5-hash prefixes reach the hot shingles: every doc pairs
    assert(Dedup.prefixCandidates(sets, 0.3).count() === 20L * 19 / 2)
  }

  test("mass-duplicated docs (every shingle hot) are still found by the capped path") {
    // 12 identical copies of one template: every one of their shingles is
    // hot (df=12), so each copy's one-hash prefix at 0.9 is a hot shingle —
    // the same one for every copy, and all 66 jac=1.0 pairs meet on it
    val template = (100L until 112L).map(i =>
      (i, "identical template body repeated verbatim across the whole batch"))
    val filler = (0L until 8L).map(i => (i, s"unrelated filler document number$i text$i body$i"))
    val corpus = (template ++ filler).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(corpus, "doc_id", "text", threshold = 0.9, shingleN = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val templatePairs = pairs.keySet.filter(p => p._1 >= 100L && p._2 >= 100L)
    assert(templatePairs.size === 12 * 11 / 2,
      s"expected all 66 template pairs, got ${templatePairs.size}")
    templatePairs.foreach(p => assert(pairs(p) === 1.0, s"pair $p jac ${pairs(p)} != 1.0"))
    assert(!pairs.keySet.exists(p => p._1 < 100L || p._2 < 100L), "filler docs paired")
  }

  test("cross-corpus mass duplication survives the cap (jaccardPairsBetween fallback)") {
    val leftDocs = (0L until 8L).map(i =>
      (i, "contaminated evaluation passage shared across train and test splits"))
      .toDF("doc_id", "text")
    val rightDocs = ((100L until 106L).map(i =>
      (i, "contaminated evaluation passage shared across train and test splits")) :+
      (200L, "a clean unrelated training document with its own words entirely"))
      .toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairsBetween(leftDocs, rightDocs, "doc_id", "text",
        threshold = 0.9, shingleN = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.size === 8 * 6, s"expected 48 cross pairs, got ${pairs.size}")
    pairs.foreach { case (p, j) => assert(j === 1.0, s"pair $p jac $j != 1.0") }
  }

  test("minHashPairs matches exact jaccardPairs at high threshold") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 0.6, shingleN = 3)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minHashPairs(docs, "doc_id", "text", 0.6, numBands = 16, rowsPerBand = 2, shingleN = 3)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === exact)
  }

  test("property: jaccardPairs and jaccardPairsBetween equal brute force") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import graft.functions.ShingleHashes
    val vocab = (0 until 200).map(i => s"w$i")
    val words = (lo: Int, hi: Int) => Gen.choose(lo, hi).flatMap(Gen.listOfN(_, Gen.oneOf(vocab)))
    // ≤ 41 docs: random base docs and a near-dup of every other one (one
    // word replaced or appended); an all-hot family, > 12 copies of a
    // template each with one word replaced (s ≈ 0.8, every shared shingle
    // hot); and nested pairs of unique words whose sets have 5 ⊃ 3 and
    // 10 ⊃ 9 hashes, jac exactly 0.6 and 0.9, where t·|s| is an integer and
    // the rarest hashes are the bigger set's own
    val corpusGen = for {
      base <- Gen.choose(8, 14).flatMap(Gen.listOfN(_, words(8, 18)))
      edits <- Gen.listOfN(base.size / 2, Gen.zip(Gen.choose(0, 17), Gen.oneOf(vocab), Gen.oneOf(true, false)))
      template <- Gen.pick(16, vocab)
      family <- Gen.choose(13, 16).flatMap(Gen.listOfN(_, Gen.zip(Gen.choose(0, 15), Gen.oneOf(vocab))))
      order <- Gen.long
    } yield (n: Int) => {
      val nearDups = edits.zipWithIndex.map { case ((at, w, replace), i) =>
        val ws = base(2 * i)
        if (replace) ws.updated(at % ws.size, w) else ws :+ w
      }
      val copies = family.map { case (at, w) => template.toList.updated(at, w) }
      val nested = Seq(5 -> 3, 10 -> 9).flatMap { case (big, small) =>
        val ws = (0 until big + n - 1).map(k => s"u${big}_$k").toList
        Seq(ws, ws.take(small + n - 1))
      }
      new scala.util.Random(order).shuffle((base ++ nearDups ++ copies ++ nested).map(_.mkString(" ")))
    }
    def rows(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    for (i <- 0 until 10) {
      val (n, t) = (Seq(1, 3)(i / 4 % 2), Seq(0.0, 0.6, 0.8, 0.9)(i % 4))
      val texts = corpusGen(Gen.Parameters.default, Seed(i.toLong)).get(n)
      val corpus = texts.zipWithIndex.map { case (text, id) => (id.toLong, text) }.toDF("doc_id", "text")
      // every pair of non-empty sets sharing a hash, at jac >= t
      val sets = texts.map(x => ShingleHashes.kernel(
        org.apache.spark.unsafe.types.UTF8String.fromString(x), n).toLongArray().toSet)
      val want = (for {
        d1 <- texts.indices; d2 <- d1 + 1 until texts.size
        c = (sets(d1) & sets(d2)).size if c > 0
        jac = c.toDouble / (sets(d1).size + sets(d2).size - c) if jac >= t
      } yield (d1.toLong, d2.toLong) -> jac).toMap
      val split = texts.size / 2
      val (left, right) = (corpus.filter(col("doc_id") < split), corpus.filter(col("doc_id") >= split))
      val ctx = s"case $i: ${texts.size} docs, shingleN=$n, threshold=$t, ${want.size} pairs"
      if (t == 0.6 || t == 0.9) assert(want.values.exists(_ == t), s"$ctx: no nested pair at jac = t")
      assert(rows(Dedup.jaccardPairs(corpus, "doc_id", "text", t, n)) === want, ctx)
      // every threshold runs the cross form both shuffled and broadcast
      val bcast = (i + i / 4) % 2 == 1
      assert(rows(Dedup.jaccardPairsBetween(left, right, "doc_id", "text", t, n, broadcastLeft = bcast)) ===
        want.filter { case ((d1, d2), _) => d1 < split && d2 >= split }, s"$ctx, between, broadcastLeft=$bcast")
      val lsh = rows(Dedup.minHashPairs(corpus, "doc_id", "text", t, shingleN = n))
      assert(lsh.nonEmpty && lsh.forall { case (p, j) => want.get(p).contains(j) }, ctx)
    }
  }

  test("every shingle-set operator hashes with shingle_hashes and builds no shingle string") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect, ConcatWs, Expression}
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import graft.functions.{IntersectCount, ShingleHashes}
    val template = "identical template body repeated verbatim across the whole batch"
    val corpus = ((0L until 4L).map(i => (i, template)) ++ docs.as[(Long, String)].collect()
      .map { case (id, text) => (id + 10L, text) }).toDF("doc_id", "text")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit = plans.add(qe.optimizedPlan)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    def holds(p: LogicalPlan)(f: Expression => Boolean): Boolean =
      p.find(_.expressions.exists(_.find(f).isDefined)).isDefined
    val ops: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "jaccardPairs" -> (() => Dedup.jaccardPairs(corpus, "doc_id", "text", 0.5, 3)),
      "jaccardPairsBetween" -> (() => Dedup.jaccardPairsBetween(
        corpus.filter(col("doc_id") < 2), corpus.filter(col("doc_id") >= 2), "doc_id", "text", 0.5, 3)),
      "minHashPairs" -> (() => Dedup.minHashPairs(corpus, "doc_id", "text", 0.5, shingleN = 3)),
      "exactJaccardForPairs" -> (() => Dedup.exactJaccardForPairs(
        Seq((0L, 1L), (11L, 12L)).toDF("d1", "d2"), corpus, "doc_id", "text", 3, 0.5)),
      "minHashPairsAgainstStore" -> { () =>
        val dir = "target/tmp/minhash_store/spec_verify_plan"
        Dedup.buildMinHashStore(corpus.filter(col("doc_id") >= 2), "doc_id", "text", dir)
        // repartitioned, so the batch's sets are not folded into a local relation
        Dedup.minHashPairsAgainstStore(corpus.filter(col("doc_id") < 2).repartition(2),
          "doc_id", "text", dir, 0.5)
      })
    import scala.jdk.CollectionConverters._
    val faults = ops.flatMap { case (name, op) =>
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      plans.clear()
      spark.listenerManager.register(listener)
      val out = try {
        val n = op().collect().length
        org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
        n
      } finally spark.listenerManager.unregister(listener)
      val seen = plans.asScala.toSeq
      Seq(s"$name: fixture drifted, no rows" -> (out == 0),
        s"$name: no shingle_hashes in its ${seen.size} plans" ->
          !seen.exists(holds(_)(_.isInstanceOf[ShingleHashes])),
        s"$name: concat_ws builds shingle strings" -> seen.exists(holds(_)(_.isInstanceOf[ConcatWs])),
        s"$name: verifies with array_intersect" -> seen.exists(holds(_)(_.isInstanceOf[ArrayIntersect])),
        s"$name: no intersect_count verify in its plans" ->
          !seen.exists(holds(_)(_.isInstanceOf[IntersectCount])))
        .collect { case (msg, true) => msg }
    }
    assert(faults.isEmpty, faults.mkString("\n"))
  }

  test("MinHash store: batch-vs-store pairs match jaccardPairsBetween; appends extend it") {
    val dir = "target/tmp/minhash_store/spec"
    // corpus with a planted near-dup target; batch contains a near-dup of it
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight again"),
      (11L, "completely different words about spark engines and shuffles"),
      (12L, "yet another unrelated document describing parquet footers")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (20L, "the quick brown fox jumps over the lazy dog tonight today"),
      (21L, "nothing like anything stored before in any way whatsoever")
    ).toDF("doc_id", "text")
    Dedup.buildMinHashStore(corpus, "doc_id", "text", dir)
    val got = Dedup.minHashPairsAgainstStore(batch, "doc_id", "text", dir, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = Dedup.jaccardPairsBetween(batch, corpus, "doc_id", "text",
        threshold = 0.6, shingleN = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === want)
    assert(got.exists { case (d1, d2, _) => d1 == 20L && d2 == 10L })
    // append the batch; a later near-dup of doc 20 must now hit the store
    Dedup.appendToMinHashStore(batch, "doc_id", "text", dir)
    val later = Seq((30L, "the quick brown fox jumps over the lazy dog tonight today"))
      .toDF("doc_id", "text")
    val hits = Dedup.minHashPairsAgainstStore(later, "doc_id", "text", dir, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits.contains((30L, 20L)), s"appended doc not found: $hits")
    assert(hits.contains((30L, 10L)))
    // exact dup of an appended doc verifies at jac = 1.0 over stored sets
    val exact = Dedup.minHashPairsAgainstStore(later, "doc_id", "text", dir, threshold = 0.6)
      .filter(col("d2") === 20L).head().getAs[Double]("jac")
    assert(exact === 1.0)
  }

  test("MinHash store probe: all four hint combinations emit identical rows") {
    // the probe broadcasts the batch bands and the candidate ids when they
    // are under their bounds, and runs the same joins un-hinted otherwise;
    // the seam forces each of the four combinations. Auto-broadcast is off
    // so an un-hinted join really shuffles.
    val dir = "target/tmp/minhash_store/spec_hints"
    val corpus = (0L until 40L).map(i =>
      (i, s"corpus document number $i with shared words plus token${i % 7} filler end"))
      .toDF("doc_id", "text")
    val batch = (100L until 120L).map(i =>
      (i, s"corpus document number ${i - 100} with shared words plus token${i % 7} filler end"))
      .toDF("doc_id", "text")
    Dedup.buildMinHashStore(corpus, "doc_id", "text", dir)
    def probe(bandRowsMax: Long, candMax: Long) =
      Dedup.minHashPairsAgainstStoreImpl(batch, "doc_id", "text", dir, threshold = 0.5,
          broadcastMaxBandRows = bandRowsMax, broadcastMaxCandidates = candMax)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val both = probe(Long.MaxValue, Long.MaxValue)
      assert(both.nonEmpty, "fixture found no pairs — hints untested")
      for ((bands, cands) <- Seq((-1L, Long.MaxValue), (Long.MaxValue, -1L), (-1L, -1L)))
        assert(probe(bands, cands) === both, s"bounds ($bands, $cands) diverged")
    }
  }

  test("MinHash store probe: a tick streams store bands and toks into broadcast joins") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    val dir = "target/tmp/minhash_store/spec_plan"
    def text(n: Long) = s"stored document $n about topic${n % 11} with some filler words w${n % 5}"
    val corpus = (0L until 200L).map(i => (i, text(i))).toDF("doc_id", "text")
    // five exact copies of stored docs: one pair each
    val tick = (0L until 5L).map(i => (1000L + i, text(i))).toDF("doc_id", "text")
    Dedup.buildMinHashStore(corpus, "doc_id", "text", dir)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkPlan)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit = plans.add((f, qe.executedPlan))
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    object H extends AdaptiveSparkPlanHelper
    def scans(sub: String)(p: SparkPlan): Boolean = p match {
      case s: FileSourceScanExec => s.relation.location.rootPaths.exists(_.getName == sub)
      case _ => false
    }
    // some broadcast hash join (semi or not) streams `sub`: the scan is on
    // its streamed side with no exchange between it and the join
    def streams(plan: SparkPlan, sub: String, semi: Boolean): Boolean =
      H.collect(plan) { case j: BroadcastHashJoinExec => j }.exists { j =>
        val streamed = if (j.buildSide == BuildRight) j.left else j.right
        (j.joinType == LeftSemi) == semi && H.find(streamed)(scans(sub)).isDefined &&
          H.collect(streamed) { case e: ShuffleExchangeExec => e }
            .forall(e => H.find(e)(scans(sub)).isEmpty)
      }
    org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    // auto-broadcast off: at this fixture's size the planner would
    // broadcast on its own estimates, so only the probe's hints may
    val rows = try withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val out = Dedup.minHashPairsAgainstStore(tick, "doc_id", "text", dir, threshold = 0.6)
        .collect()
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      out
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val seen = plans.asScala.toSeq
    assert(rows.length === 5, s"fixture drifted: ${rows.toSeq}")
    val candidateJoin = seen.filter { case (f, p) =>
      f == "localCheckpoint" && H.find(p)(scans("bands")).isDefined }
    assert(candidateJoin.size === 1, s"actions seen: ${seen.map(_._1)}")
    assert(streams(candidateJoin.head._2, "bands", semi = false),
      s"candidate join shuffles the store bands:\n${candidateJoin.head._2}")
    val verify = seen.filter { case (f, _) => f == "collect" }
    assert(verify.size === 1, s"actions seen: ${seen.map(_._1)}")
    assert(streams(verify.head._2, "toks", semi = true),
      s"verify semi-join shuffles the store toks:\n${verify.head._2}")
  }

  test("MinHash store: a malformed _params file fails naming its path and text") {
    val dir = "target/tmp/minhash_store/spec_bad_params"
    val d = Seq((1L, "a b c d e f g")).toDF("doc_id", "text")
    Dedup.buildMinHashStore(d, "doc_id", "text", dir)
    val p = new org.apache.hadoop.fs.Path(dir, "_params")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    for (text <- Seq("16|2", "")) {
      graft.sources.HadoopText.write(fs, p, text)
      val probe = intercept[IllegalStateException] {
        Dedup.minHashPairsAgainstStore(d, "doc_id", "text", dir, threshold = 0.5)
      }
      assert(probe.getMessage.contains(s"$dir/_params") &&
        probe.getMessage.contains(s"'$text'"), probe.getMessage)
      val append = intercept[IllegalStateException] {
        Dedup.appendToMinHashStore(d, "doc_id", "text", dir)
      }
      assert(append.getMessage.contains(s"$dir/_params"), append.getMessage)
    }
  }

  test("MinHash store rejects mismatched banding params and missing stores") {
    val dir = "target/tmp/minhash_store/spec_params"
    val d = Seq((1L, "a b c d e f g")).toDF("doc_id", "text")
    Dedup.buildMinHashStore(d, "doc_id", "text", dir, numBands = 16, rowsPerBand = 2)
    intercept[IllegalArgumentException] {
      Dedup.appendToMinHashStore(d, "doc_id", "text", dir, numBands = 8, rowsPerBand = 4)
    }
    intercept[IllegalStateException] {
      Dedup.minHashPairsAgainstStore(d, "doc_id", "text",
        "target/tmp/minhash_store/nowhere", threshold = 0.5)
    }
  }

  test("MinHash store crash drill: staged-but-uncommitted appends are invisible and recoverable; marker replay is a no-op") {
    val dir = "target/tmp/minhash_store/spec_crash"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    Dedup.buildMinHashStore(corpus, "doc_id", "text", dir)
    val probe = Seq((9L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    def pairs() = Dedup.minHashPairsAgainstStore(probe, "doc_id", "text", dir, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = pairs()
    assert(before === Set((9L, 1L)))
    // simulate a crash mid-append: a staged segment exists, never moved in
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"${dir}__patch_tmp_deadbeef/seg-x/toks"))
    assert(pairs() === before, "staging debris leaked into the read path")
    val acts = graft.sources.FileCommit.recover(spark, dir)
    assert(acts.size === 1 && acts.head.contains("__patch_tmp_deadbeef"), acts)
    assert(graft.sources.FileCommit.recover(spark, dir).isEmpty) // idempotent
    assert(pairs() === before)
    // marker-keyed replay: the same batch delivered twice appends ONCE —
    // a double-append would duplicate stored sets and emit duplicate pairs
    val batch = Seq((2L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    Dedup.appendToMinHashStore(batch, "doc_id", "text", dir, batchMarker = Some("b1"))
    Dedup.appendToMinHashStore(batch, "doc_id", "text", dir, batchMarker = Some("b1"))
    val rows = Dedup.minHashPairsAgainstStore(probe, "doc_id", "text", dir, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length === rows.distinct.length, s"replay duplicated pairs: ${rows.toSeq}")
    assert(rows.toSet === Set((9L, 1L), (9L, 2L)))
  }

  test("MinHash store compaction: one segment, identical probes, markers carried forward") {
    val dir = "target/tmp/minhash_store/spec_compact"
    val fsPath = new org.apache.hadoop.fs.Path(dir)
    val fs = fsPath.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(fsPath, true)
    val mk = (id: Long) => (id, s"alpha beta gamma delta epsilon zeta eta doc$id")
    val probe = Seq((99L, mk(1L)._2)).toDF("doc_id", "text")
    Dedup.appendToMinHashStore(Seq(mk(1)).toDF("doc_id", "text"),
      "doc_id", "text", dir, batchMarker = Some("0"))
    Dedup.appendToMinHashStore(Seq(mk(2)).toDF("doc_id", "text"),
      "doc_id", "text", dir, batchMarker = Some("1"))
    Dedup.appendToMinHashStore(Seq(mk(3)).toDF("doc_id", "text"),
      "doc_id", "text", dir, batchMarker = Some("2"))
    def pairs() = Dedup.minHashPairsAgainstStore(probe, "doc_id", "text", dir, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def segNames() = fs.listStatus(fsPath).map(_.getPath.getName)
      .filter(_.startsWith("seg-")).toSeq
    val before = pairs()
    // the one-word tail edit keeps jac = 5/7 ~ 0.714 >= 0.6 for every doc
    assert(before === Set((99L, 1L), (99L, 2L), (99L, 3L)), s"fixture drifted: $before")
    assert(segNames().size === 3)
    assert(Dedup.compactMinHashStore(spark, dir) === 3)
    assert(segNames().size === 1)
    assert(pairs() === before)
    assert(Dedup.compactMinHashStore(spark, dir) === 0) // already compact
    // a re-delivered pre-compaction batch still no-ops: its marker moved
    // into the compacted segment
    Dedup.appendToMinHashStore(Seq(mk(2)).toDF("doc_id", "text"),
      "doc_id", "text", dir, batchMarker = Some("1"))
    assert(segNames().size === 1, "re-delivered batch appended after compaction")
  }

  test("MinHash store compaction crash drill: every window repairs to an equivalent store") {
    val dirBase = "target/tmp/minhash_store/spec_compact_crash"
    val conf = spark.sessionState.newHadoopConf()
    def build(dir: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(conf).delete(p, true)
      (1L to 3L).foreach { i =>
        Dedup.appendToMinHashStore(
          Seq((i, s"alpha beta gamma delta epsilon zeta eta doc$i"))
            .toDF("doc_id", "text"),
          "doc_id", "text", dir, batchMarker = Some((i - 1).toString))
      }
    }
    val probe = Seq((99L, "alpha beta gamma delta epsilon zeta eta doc1"))
      .toDF("doc_id", "text")
    def pairs(dir: String) =
      Dedup.minHashPairsAgainstStore(probe, "doc_id", "text", dir, 0.6)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the compaction's commit: one staged segment replaces the three,
    // crashed mid-move and after its last move-in; both roll back to the
    // three committed segments, byte-exactly
    def segs(dir: String) = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
      .listStatus(new org.apache.hadoop.fs.Path(dir)).map(_.getPath.getName)
      .filter(_.startsWith("seg-")).toSeq.sorted
    for (window <- Seq("w1", "w2")) {
      val d = s"$dirBase/$window"
      build(d)
      val fs = new org.apache.hadoop.fs.Path(d).getFileSystem(conf)
      val want = pairs(d)
      val committed = graft.sources.CommitFixtures.tree(fs, d)
      val replaced = segs(d)
      graft.sources.CommitFixtures.midMove(fs, d, replaced, s"crash_$window") { stage =>
        spark.read.parquet(replaced.map(s => s"$d/$s/toks"): _*).write.parquet(s"$stage/seg-c/toks")
        spark.read.parquet(replaced.map(s => s"$d/$s/bands"): _*).write.parquet(s"$stage/seg-c/bands")
      }
      if (window == "w2") graft.sources.CommitFixtures.moveRest(fs, d, replaced, s"crash_$window")
      intercept[java.util.ConcurrentModificationException](Dedup.compactMinHashStore(spark, d))
      val acts = graft.sources.FileCommit.recover(spark, d)
      assert(acts.count(_.startsWith("restored")) === (if (window == "w1") 1 else 3), acts)
      assert(graft.sources.CommitFixtures.tree(fs, d) === committed)
      assert(segs(d) === replaced)
      assert(pairs(d) === want)
      // recovery is idempotent, and the compaction then commits
      assert(graft.sources.FileCommit.recover(spark, d).isEmpty)
      assert(Dedup.compactMinHashStore(spark, d) === 3)
      assert(segs(d).size === 1 && pairs(d) === want)
    }
  }

  test("connectedComponents labels every vertex with the min id of its component") {
    val pairs = Seq((1L, 2L), (2L, 5L), (7L, 8L), (3L, 9L), (9L, 4L), (4L, 3L))
      .toDF("d1", "d2")
    val comps = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps === Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 7L -> 7L, 8L -> 7L,
      3L -> 3L, 9L -> 3L, 4L -> 3L))
  }

  test("connectedComponents fails loudly when a chain outruns maxIter") {
    // path graph 1-2-3-4-5-6: min label needs 5 hops to reach the far end
    val chain = (1L to 5L).map(i => (i, i + 1)).toDF("d1", "d2")
    intercept[IllegalStateException](
      Dedup.connectedComponents(chain, maxIter = 2).collect())
    // and converges fine with enough rounds
    val ok = Dedup.connectedComponents(chain, maxIter = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ok.values.toSet === Set(1L))
  }

  test("simHash is identical for identical docs and differs across unrelated docs") {
    val sig = Dedup.simHash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(1L) === sig(4L))
    assert(sig(1L) !== sig(3L))
    val pairs = Dedup.simHashPairs(docs, "doc_id", "text", maxDist = 3)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)))
  }

  test("simHashPairs 8-block banding widens the guaranteed distance and rejects bad params") {
    val pairs8 = Dedup.simHashPairs(docs, "doc_id", "text", maxDist = 7, numBlocks = 8)
      .collect()
    val keys = pairs8.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keys.contains((1L, 4L)))
    // precision of the dist filter: nothing past maxDist leaks through
    assert(pairs8.forall(_.getAs[Int]("dist") <= 7))
    // banding completeness is only claimed for maxDist < numBlocks
    intercept[IllegalArgumentException] {
      Dedup.simHashPairs(docs, "doc_id", "text", maxDist = 8, numBlocks = 8)
    }
    // EXTRA blocks (numBlocks > maxDist + 1) widen the band keys via
    // combination banding without giving up completeness: same true pair,
    // unequal 12/13-bit blocks, C(5,2) = 10 bands
    val pairs5 = Dedup.simHashPairs(docs, "doc_id", "text", maxDist = 3, numBlocks = 5)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs5.contains((1L, 4L)))
  }

  test("simHashPairs hot path: single emission equals the met-band model on a census-active corpus") {
    // Template-heavy corpus: two near-identical 12-member clusters (their
    // signatures agree on most blocks, so cross-cluster buckets mix) plus
    // unrelated filler. maxBucket = 3 makes every cluster bucket hot
    // (census ACTIVE — the round-14 path under test), with band-varying
    // nsub where clusters share a bucket.
    val template = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val corpus = (
      (0L until 12L).map(i => (i, template + " clusterone")) ++
      (20L until 32L).map(i => (i, template + " clustertwo")) ++
      (100L until 105L).map(i => (i, s"totally unrelated words $i about engines " +
        s"and shuffles and partitions number$i item$i"))
    ).toDF("doc_id", "text")
    val maxBucket = 3L
    // emitAllBelowRows = 0 forces the single-emission min-band hot path —
    // the plan a >= crossover corpus takes (the default would route this
    // 29-doc fixture to the emit-all branch)
    val out = Dedup.simHashPairs(corpus, "doc_id", "text", maxDist = 7,
      numBlocks = 8, maxBucket = maxBucket, emitAllBelowRows = 0L).collect()
    // no duplicate-eliminating shuffle -> the operator itself must emit
    // each surviving pair exactly once
    val outKeys = out.map(r => (r.getLong(0), r.getLong(1)))
    assert(outKeys.length === outKeys.distinct.length)

    // executable model of the emit-all + distinct() semantics, computed
    // from the ACTUAL signatures/hashes (8 single-block bands at this
    // geometry): pair survives iff dist <= 7 and SOME band has equal block
    // values AND (bucket not hot OR both ids land in the same sub-bucket)
    val sig = Dedup.simHash(corpus, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val h = corpus.select(col("doc_id"), xxhash64(col("doc_id")).as("h")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def block(s: Long, b: Int): Long = (s >>> (8 * b)) & 0xffL
    val census = (for { id <- sig.keys.toSeq; b <- 0 until 8 }
      yield (b, block(sig(id), b))).groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(census.values.exists(_ > maxBucket), "fixture must activate the census")
    def metBands(a: Long, b: Long): Seq[Int] = (0 until 8).filter { bi =>
      block(sig(a), bi) == block(sig(b), bi) && {
        val m = census((bi, block(sig(a), bi)))
        m <= maxBucket ||
          java.lang.Math.floorMod(h(a), math.ceil(m.toDouble / maxBucket).toLong) ==
            java.lang.Math.floorMod(h(b), math.ceil(m.toDouble / maxBucket).toLong)
      }
    }
    val ids = sig.keys.toSeq.sorted
    val model = for {
      i <- ids; j <- ids if i < j
      if java.lang.Long.bitCount(sig(i) ^ sig(j)) <= 7
      if metBands(i, j).nonEmpty
    } yield (i, j)
    assert(outKeys.toSet === model.toSet)
    // the fixture must exercise the cross-band rescue the min-met rule has
    // to preserve: some surviving pair is sub-split apart in an AGREEING
    // band yet meets in a later one
    val rescued = model.exists { case (i, j) =>
      val agreeing = (0 until 8).filter(bi => block(sig(i), bi) == block(sig(j), bi))
      val met = metBands(i, j)
      agreeing.exists(bi => !met.contains(bi)) && met.nonEmpty
    }
    assert(rescued, "fixture must contain a pair split in one hot band but met in another")
    // precision: the dist column is the true hamming distance
    out.foreach { r =>
      assert(r.getAs[Int]("dist") ===
        java.lang.Long.bitCount(sig(r.getLong(0)) ^ sig(r.getLong(1))))
    }
    // size-switch equality (round 15): the emit-all + distinct branch —
    // what this sub-crossover corpus takes by default — must produce the
    // SAME pair set as the min-band plan proved against the model above
    val outEmitAll = Dedup.simHashPairs(corpus, "doc_id", "text", maxDist = 7,
        numBlocks = 8, maxBucket = maxBucket)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(outEmitAll.length === outEmitAll.distinct.length)
    assert(outEmitAll.toSet === outKeys.toSet)
  }

  test("autoSimHashBlocks holds the completeness floor and widens keys with the corpus") {
    // small corpora keep the classic d+1 geometry exactly
    assert(Dedup.autoSimHashBlocks(1000L, maxDist = 7) === 8)
    assert(Dedup.autoSimHashBlocks(50000L, maxDist = 7) === 8)
    // 100x bench scale: one extra block -> 14-bit keys across C(9,2)=36
    // tables instead of 8-bit keys across 8
    assert(Dedup.autoSimHashBlocks(500000L, maxDist = 7) === 9)
    assert(Dedup.autoSimHashBlocks(5000000L, maxDist = 7) === 10)
    // the table-count ceiling stops combinatorial growth: C(11,4)=330 > 256,
    // so a 500M corpus maxes out at B=10 and the maxBucket backstop takes over
    assert(Dedup.autoSimHashBlocks(500000000L, maxDist = 7) === 10)
    // 16-bit single-block keys already cover small corpora at d=3
    assert(Dedup.autoSimHashBlocks(500000L, maxDist = 3) === 4)
    assert(Dedup.autoSimHashBlocks(100000000L, maxDist = 3) === 5)
    // auto geometry (numBlocks = 0 default) still finds the planted pair
    val auto = Dedup.simHashPairs(docs, "doc_id", "text", maxDist = 7)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto.contains((1L, 4L)))
  }

  test("simHashPairs hot-bucket sub-split bounds fan-out and degrades gracefully") {
    // 40 identical docs: every (block, value) bucket holds all 40 signatures,
    // so with maxBucket = 10 each block splits into ceil(40/10) = 4 subs.
    // A pair survives if its two ids share a sub in ANY of the 8 blocks
    // (per-block subs are identical here since nsub is equal across blocks,
    // so survival = same xxhash64 residue); the point is the candidate join
    // is bounded per bucket while most identical pairs still surface.
    val mass = (100L to 139L).map(i => (i, "the very same template document body"))
      .toDF("doc_id", "text")
    val all = Dedup.simHashPairs(mass, "doc_id", "text", maxDist = 7, numBlocks = 8)
      .count()
    assert(all === 40L * 39 / 2) // un-split: every identical pair found
    val split = Dedup.simHashPairs(mass, "doc_id", "text", maxDist = 7,
      numBlocks = 8, maxBucket = 10L).count()
    assert(split < all, "sub-split must drop some hot-bucket pairs (bounded fan-out)")
    // identical signatures make every block split the same way, so survival
    // is one same-residue-of-4 test (~1/4 of pairs expected); assert a loose
    // floor, not the exact census
    assert(split >= all / 8, s"sub-split kept only $split of $all identical pairs")
  }
}
