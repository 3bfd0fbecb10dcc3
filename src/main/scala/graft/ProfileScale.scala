package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, DistinctSketch, Similarity}
import graft.sources.ParquetDatabase

/** Scale-rehearsal harness (dev tool): times the DEPLOYMENT paths of the
  * approximate operators — the LSH/IVF/sketch machinery alone, WITHOUT the
  * exact oracle-guard arms the declared q_ext_sim2/3/4, q_ext_dedup4 and
  * q_ext_hll1 queries bolt on — at a given sfDir. Run once at sf0.1 and once at a
  * ScaleGen-generated sf1 to get the sf0.1→sf1 scaling ratios PROFILE.md
  * records; the declared-query ratios for guard-free families (range joins,
  * streaming, joins/aggs) come from Bench with SPARK_GRAFT_BENCH_ONLY.
  *
  * `ProfileScale <sfDir> <tag>` → one JSON line `{"op":sec,...}` on stdout
  * and PROFILE_scale_<tag>.json in the working dir. Two timed reps per op
  * (min reported): rep 1 absorbs listing/codegen cold cost. The one-time
  * open of a persisted IVF index is its own row (`ivf_probe_topk_open`),
  * so the repeat-probe row does not hide it; likewise the first
  * `ParquetDatabase.read` of a table version (`pdb_read_open`) against the
  * repeat reads (`pdb_read`). `minhash_store_probe` times one MinHash store
  * probe alone (perfbench's `--trace 1` `minhash.probe.*` spans split a
  * probe into its jobs); `minhash_store_build` builds a fresh store of the
  * same 90% each rep. `ivf_rebalance` times a forced rebalance of an
  * index built untimed before each rep. Each row also carries the shuffle
  * bytes written and read by its fastest rep.
  */
object ProfileScale {

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val (sfDir, tag) = (args(0), args(1))
    // optional op filter (args 3+): lets the 100x rehearsal skip an arm
    // whose cost class is already established, instead of burning the
    // whole budget on it (the exact-Jaccard arm at sf10 — see PROFILE.md)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args.drop(2).toSet) else None
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    Tables.verifyContract(spark, sfDir)
    import spark.implicits._

    val docs = Tables.load(spark, sfDir, "documents")
    val emb = Tables.load(spark, sfDir, "embeddings")
    val events = Tables.load(spark, sfDir, "events")
    // constant-size query set across scales (ScaleGen replica 0 keeps ids)
    val q = emb.filter(col("vec_id") >= 5 && col("vec_id") < 10)

    val scratch = s"target/tmp/profile_scale_$tag"
    val fs = new org.apache.hadoop.fs.Path(scratch)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(scratch), true)

    var openDir = ""
    var rebalanceDir = ""
    // lineitem appended through the facade in batches, so the table has
    // many files whose footers a schema merge must read; built once, untimed
    val pdb = new ParquetDatabase(spark, s"$scratch/pdb_read")
    val lineitem = Tables.load(spark, sfDir, "lineitem")
    def ensurePdb(): Unit =
      if (!pdb.exists) {
        (0 until 8).foreach(b => pdb.create(lineitem.filter(col("l_orderkey") % 8 === b)))
        println(s"[profile-scale] pdb_read table: ${pdb.fileStats.size} files")
      }
    def pdbRead(): Unit =
      noop(pdb.read(Seq("l_orderkey", "l_linenumber", "l_quantity"), Some(col("l_orderkey") === 7L)))
    // its own store: minhash_store_tick appends to mh_store every rep
    val mhProbeDir = s"$scratch/mh_probe_store"
    // work an op needs before each rep, run outside its timing window
    val untimedSetup: Map[String, () => Unit] = Map(
      "ivf_probe_topk_open" -> { () =>
        openDir = s"$scratch/ivf_open_${System.nanoTime()}"
        Similarity.ensureIvfIndex(spark, openDir, emb, "vec_id", "embedding",
          numCentroids = Similarity.autoCentroids(emb.count()))
      },
      // a one-row append makes a new table version, so the timed read opens it
      "pdb_read_open" -> { () => ensurePdb(); pdb.create(lineitem.limit(1)) },
      // an untimed read opens the version, so every timed rep is a repeat
      "pdb_read" -> { () => ensurePdb(); pdbRead() },
      // a fresh auto-sized index each rep, so every timed rebalance
      // rebuilds the same corpus
      "ivf_rebalance" -> { () =>
        rebalanceDir = s"$scratch/ivf_rebalance_${System.nanoTime()}"
        Similarity.ensureIvfIndex(spark, rebalanceDir, emb, "vec_id", "embedding",
          numCentroids = Similarity.autoCentroids(emb.count()))
      },
      "minhash_store_probe" -> { () =>
        if (!fs.exists(new org.apache.hadoop.fs.Path(mhProbeDir)))
          Dedup.buildMinHashStore(docs.filter(col("doc_id") % 10 =!= 0),
            "doc_id", "text", mhProbeDir)
      })

    // each entry is (name, thunk); thunks re-run from cold plans each rep
    val ops: Seq[(String, () => Unit)] = Seq(
      "dedup_jaccard_pairs" -> (() =>
        noop(Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.9, shingleN = 3))),
      "dedup_minhash_lsh_pairs" -> (() =>
        noop(Dedup.minHashPairs(docs, "doc_id", "text", threshold = 0.7,
          numBands = 16, rowsPerBand = 2, shingleN = 3))),
      "dedup_simhash_sig" -> (() =>
        // the signature pass alone (tokenize + 64 bit-votes + pack): the
        // banding join's cost is dedup_simhash_pairs minus this row
        noop(Dedup.simHash(docs, "doc_id", "text"))),
      "dedup_simhash_pairs" -> (() =>
        // numBlocks unset = the autoSimHashBlocks deployment rule (8 blocks
        // through sf1, 9 at sf10 — combination banding widens the keys);
        // maxBucket stays as the template-corpus backstop
        noop(Dedup.simHashPairs(docs, "doc_id", "text", maxDist = 7,
          maxBucket = 20000L))),
      "sim_lsh_topk" -> (() =>
        noop(Similarity.lshCosineTopK(emb, q, "vec_id", "embedding",
          k = 10, numTables = 16, planesPerTable = 3))),
      "ivf_build" -> { () =>
        // fresh dir per rep: this row times the WRITE-TIME build (k-means‖ +
        // assignment write), the cost a deployment pays once per corpus.
        // Centroids follow the autoCentroids scale rule (constant cell
        // size), the deployment posture — NOT the declared queries' pinned
        // 16, which is an oracle-recall fixture choice.
        val d = s"$scratch/ivf_${System.nanoTime()}"
        Similarity.ensureIvfIndex(spark, d, emb, "vec_id", "embedding",
          numCentroids = Similarity.autoCentroids(emb.count()))
      },
      // the first probe after ensureIvfIndex, which lists the index
      // version's `assigned` and reads its schema (the build installs the
      // centroid matrix, so no centroid collect); the
      // index is built untimed in `untimedSetup`, fresh each rep, so every
      // rep is an open. ivf_probe_topk below times the repeat probes.
      "ivf_probe_topk_open" -> (() =>
        noop(Similarity.ivfTopKPersisted(spark, openDir, q, "vec_id", "embedding",
          k = 10, nprobe = 8))),
      "ivf_probe_topk" -> { () =>
        val d = s"$scratch/ivf_probe"
        Similarity.ensureIvfIndex(spark, d, emb, "vec_id", "embedding",
          numCentroids = Similarity.autoCentroids(emb.count()))
        noop(Similarity.ivfTopKPersisted(spark, d, q, "vec_id", "embedding", k = 10, nprobe = 8))
      },
      // the first projected, filtered read of a new table version, then
      // the repeat reads of an unchanged one (see untimedSetup)
      "pdb_read_open" -> (() => pdbRead()),
      "pdb_read" -> (() => pdbRead()),
      "ivf_self_topk" -> { () =>
        val d = s"$scratch/ivf_probe"
        Similarity.ensureIvfIndex(spark, d, emb, "vec_id", "embedding",
          numCentroids = Similarity.autoCentroids(emb.count()))
        noop(Similarity.ivfSelfTopK(Similarity.loadIvfIndex(spark, d), k = 5, nprobe = 8))
      },
      "hll_store_refresh" -> { () =>
        // bucketed store build + one 10%-of-corpus batch merge — the
        // metrics-refresh shape q_ext_hll1 deploys
        val d = s"$scratch/hll_${System.nanoTime()}"
        DistinctSketch.buildBucketedStore(events, Seq("event_type"), "user_id", d)
        val batch = events.filter(col("event_id") % 10 === 0)
        DistinctSketch.mergeBatchIntoBucketedStore(spark, batch, Seq("event_type"), "user_id", d)
      },
      // the write-time signature pass over 90% of the corpus: toks, then
      // bands from the staged toks, into a fresh dir each rep
      "minhash_store_build" -> (() =>
        Dedup.buildMinHashStore(docs.filter(col("doc_id") % 10 =!= 0),
          "doc_id", "text", s"$scratch/mh_build_${System.nanoTime()}")),
      "minhash_store_tick" -> { () =>
        // ONE ingest tick against a standing signature store (the
        // q_ext_stream15 maintenance shape): the store builds once from
        // 90% of the corpus (amortized across reps — build-if-absent),
        // the timed work is dominated by the 10% batch's append segment.
        // Tick cost must scale with the BATCH, not the store.
        val d = s"$scratch/mh_store"
        val fsD = new org.apache.hadoop.fs.Path(d)
        if (!fs.exists(fsD))
          Dedup.buildMinHashStore(docs.filter(col("doc_id") % 10 =!= 0),
            "doc_id", "text", d)
        Dedup.appendToMinHashStore(docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text", d)
      },
      // one probe of the 10% batch against a standing 90% store (built
      // once, untimed): the per-tick read of q_ext_dedup8/q_ext_stream15
      "minhash_store_probe" -> (() =>
        noop(Dedup.minHashPairsAgainstStore(docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text", mhProbeDir, threshold = 0.8))),
      // a forced same-k rebalance: the whole-index rebuild from the
      // `assigned` store and its whole-tree commit (the maintenance step of the
      // llm_corpus benchmark workload), over an index built untimed
      "ivf_rebalance" -> (() =>
        Similarity.rebalanceIvfIndex(spark, rebalanceDir, force = true)),
      "ivf_append_tick" -> { () =>
        // ONE embedding ingest tick against a standing auto-sized index
        // (the q_ext_stream16 maintenance shape): assign-scan of the batch
        // against broadcast centroids + one cell-partitioned append —
        // never a k-means re-run. Batch ids are shifted per rep so the
        // append is genuinely new data.
        val d = s"$scratch/ivf_tick"
        // build-if-absent OUTSIDE the ensure path: an append composes the
        // fingerprint forward, so a per-rep ensure over the 90% corpus
        // would read the appended index as stale and rebuild every rep
        if (!fs.exists(new org.apache.hadoop.fs.Path(d)))
          Similarity.ensureIvfIndex(spark, d, emb.filter(col("vec_id") % 10 =!= 0),
            "vec_id", "embedding",
            numCentroids = Similarity.autoCentroids(emb.count()))
        val shift = System.nanoTime() % 1000000L + 10000000L
        Similarity.appendToIvfIndex(spark, d,
          emb.filter(col("vec_id") % 10 === 0)
            .select((col("vec_id") + lit(shift)).as("vec_id"), col("embedding")),
          "vec_id", "embedding")
      })

    // the filter must not silently run zero ops: a typo'd or renamed op
    // name would produce an empty-but-plausible profile JSON that reads as
    // evidence. Every requested name must match a known op.
    only.foreach { names =>
      val known = ops.map(_._1).toSet
      val unknown = names.diff(known)
      require(unknown.isEmpty,
        s"ProfileScale: unknown op name(s) ${unknown.toSeq.sorted.mkString(", ")} — " +
          s"valid ops: ${ops.map(_._1).mkString(", ")}")
    }
    // memory evidence (round 13, the "no memory cliff" claim as a number):
    // VmHWM is the PROCESS-lifetime peak RSS from /proc/self/status — it
    // only ever rises, so the per-op reading is "peak so far" and the op
    // that bumps it is the cliff. GC time is the per-op delta across all
    // collector beans.
    def vmHwmGb: Double = {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:")) match {
        case Some(l) => math.rint(l.split("\\s+")(1).toDouble / 1048576 * 100) / 100 // kB -> GiB
        case None => -1.0
      } finally src.close()
    }
    def gcSec: Double = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum / 1e3
    }
    val shuffleWrite = new java.util.concurrent.atomic.AtomicLong(0L)
    val shuffleRead = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) {
          shuffleWrite.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
          shuffleRead.addAndGet(e.taskMetrics.shuffleReadMetrics.totalBytesRead)
        }
    })
    case class OpRow(sec: Double, vmhwmGb: Double, gcSec: Double,
                     shuffleWriteBytes: Long, shuffleReadBytes: Long)
    val out = scala.collection.mutable.LinkedHashMap[String, OpRow]()
    // warmup: session/codegen startup lands here, not on the first op
    noop(docs.limit(100))
    ops.filter(op => only.forall(_.contains(op._1))).foreach { case (name, fn) =>
      val gc0 = gcSec
      // SPARK_GRAFT_PSCALE_REPS trims the rep count (default 2, min-of-n):
      // a single rep is the honest budget for a >10-min super-linear write
      // path (sf30 ivf_build) where two reps would outlast the evidence
      // window — the emitted row says which statistic it is via "reps=".
      val nReps = sys.env.get("SPARK_GRAFT_PSCALE_REPS").map(_.toInt).getOrElse(2)
      val reps = (1 to nReps).map { _ =>
        untimedSetup.get(name).foreach(_())
        org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
        val (w0, r0) = (shuffleWrite.get, shuffleRead.get)
        val t0 = System.nanoTime()
        fn()
        val sec = (System.nanoTime() - t0) / 1e9
        org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
        val shuffled = (shuffleWrite.get - w0, shuffleRead.get - r0)
        // drop the rep's dead localCheckpoint/cache blocks OUTSIDE the
        // timing window — same lesson as Bench (e654d4f): accumulated
        // checkpoint debris from earlier reps/ops shows up as a
        // within-session slowdown that reads as regression
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        spark.sharedState.cacheManager.clearCache()
        (sec, shuffled)
      }
      val (fastest, (sw, sr)) = reps.minBy(_._1)
      out(name) = OpRow(math.rint(fastest * 1000) / 1000, vmHwmGb,
        math.rint((gcSec - gc0) * 100) / 100, sw, sr)
      println(s"[profile-scale] $name: min=${out(name).sec} " +
        s"reps=${reps.map(r => f"${r._1}%.2f").mkString(",")} " +
        s"vmhwm=${out(name).vmhwmGb}g gc=${out(name).gcSec}s shuffle_w=$sw shuffle_r=$sr")
    }
    fs.delete(new org.apache.hadoop.fs.Path(scratch), true)

    val json = out.map { case (k, v) =>
      s""""$k":{"sec":${v.sec},"vmhwm_gb":${v.vmhwmGb},"gc_sec":${v.gcSec},""" +
        s""""shuffle_write_bytes":${v.shuffleWriteBytes},"shuffle_read_bytes":${v.shuffleReadBytes}}"""
    }.mkString(s"""{"sf":"$sfDir","tag":"$tag",""", ",", "}")
    println(json)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"PROFILE_scale_$tag.json"),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
