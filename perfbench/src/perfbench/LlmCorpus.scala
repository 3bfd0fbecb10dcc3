package perfbench

import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.streaming.DocStreams
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.util.Random

/** LLM data-pipeline session at about 10x the sf0.1 corpus: build the
  * MinHash store and the IVF index, then a closed-loop mix of IVF top-k
  * probes, MinHash near-duplicate probes and one-micro-batch ingest ticks
  * through `DocStreams`, then a `TextAnalysis` repetition pass, MinHash
  * compaction and a forced IVF rebalance, and a last probe pass.
  *
  * Inputs: a document corpus with planted near-duplicate clusters and
  * clustered 64-d embeddings, enough of them that `autoCentroids` sizes the
  * index far above its 16-cell floor. Ingested tick vectors come from
  * clusters of their own, so they never enter a probe query's exact top-k
  * (checked at generation) and the top-k truth computed at set-up holds
  * for the whole run.
  */
object LlmCorpus extends Workload {
  val Docs = 8000
  val Vectors = 8000
  val Dim = 64
  val Clusters = 150
  val TickClusters = 20
  val TickRows = 200
  val Ticks = 4
  val ProbeQueries = 64
  val QueriesPerProbe = 8
  val K = 10
  val NProbe = 8
  val Threshold = 0.7
  val ProbeBatchDocs = 40
  val PlantedPerBatch = 8
  val Vocab = 20000
  val FinalProbes = 3
  /** Mixed-phase operations per second of `--seconds` (fixed work, about
    * that long on a 4-core host; see CrystalDb.OpsPerSecond).
    */
  val OpsPerSecond = 0.7

  private final case class Inputs(
      dir: String,
      docs: Map[Long, Array[String]],
      clusters: Map[Long, Seq[Long]],
      probeQueries: IndexedSeq[(Long, Array[Float])],
      truth: Map[Long, Set[Long]],
      probeBatches: IndexedSeq[(Seq[(Long, String)], Set[(Long, Long)])])

  private var in: Inputs = _

  // ------------------------------------------------------------- generation
  private def word(i: Int): String = {
    val sb = new StringBuilder("w")
    var x = i
    do { sb += ('a' + x % 26).toChar; x /= 26 } while (x > 0)
    sb.result()
  }

  private def randomDoc(rng: Random): Array[String] =
    Array.fill(40 + rng.nextInt(41))(word((Vocab * math.pow(rng.nextDouble(), 1.5)).toInt))

  /** A near-duplicate: 1-3 words replaced at random positions. */
  private def variant(rng: Random, d: Array[String]): Array[String] = {
    val v = d.clone()
    (0 until 1 + rng.nextInt(3)).foreach(_ => v(rng.nextInt(v.length)) = word(Vocab + rng.nextInt(Vocab)))
    v
  }

  private def shingles(d: Array[String]): Set[String] = d.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  private def jaccard(a: Set[String], b: Set[String]): Double = {
    val i = a.count(b.contains)
    i.toDouble / (a.size + b.size - i)
  }

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / math.sqrt(na * nb)
  }

  private def near(rng: Random, c: Array[Double]): Array[Float] =
    c.map(x => (x + rng.nextGaussian() * 0.3 / math.sqrt(Dim)).toFloat)

  private def generate(dir: String, seed: Long): Generated = {
    val rng = new Random(seed)

    // corpus: 5% of the docs seed a near-duplicate cluster of 2-4 members
    val docs = mutable.LinkedHashMap.empty[Long, Array[String]]
    val clusters = mutable.Map.empty[Long, Seq[Long]]
    var id = 0L
    while (id < Docs) {
      val d = randomDoc(rng)
      val members = if (rng.nextInt(20) == 0) 2 + rng.nextInt(3) else 1
      val ids = (0 until members).map(m => id + m).filter(_ < Docs)
      ids.foreach(i => docs(i) = if (i == id) d else variant(rng, d))
      ids.foreach(i => clusters(i) = ids)
      id += members
    }

    val centers = Array.fill(Clusters + TickClusters)(unit(Array.fill(Dim)(rng.nextGaussian())))
    val vecs = (0 until Vectors).map(i => (i.toLong, near(rng, centers(rng.nextInt(Clusters)))))
    val probeQueries = (0 until ProbeQueries).map(i =>
      (3000000L + i, near(rng, centers(rng.nextInt(Clusters)))))

    // tick inputs: docs are fresh random text, vectors come from tick clusters
    val tickDocs = (0 until Ticks).flatMap(t => (0 until TickRows).map(r =>
      (t, 1000000L + t * TickRows + r, randomDoc(rng).mkString(" "))))
    val tickVecs = (0 until Ticks).flatMap(t => (0 until TickRows).map(r =>
      (t, 1000000L + t * TickRows + r, near(rng, centers(Clusters + rng.nextInt(TickClusters))))))

    // probe batches: planted variants of stored cluster members plus fresh docs
    val shingled = mutable.Map.empty[Long, Set[String]]
    def sh(i: Long) = shingled.getOrElseUpdate(i, shingles(docs(i)))
    val keys = docs.keys.toIndexedSeq
    var next = 2000000L
    val probeBatches = (0 until 16).map { _ =>
      val planted = (0 until PlantedPerBatch).map { _ =>
        val src = keys(rng.nextInt(keys.size))
        next += 1
        (next, variant(rng, docs(src)), clusters(src))
      }
      val fresh = (0 until ProbeBatchDocs - PlantedPerBatch).map { _ => next += 1; (next, randomDoc(rng)) }
      val truth = planted.flatMap { case (pid, text, members) =>
        val s = shingles(text)
        members.filter(m => jaccard(s, sh(m)) >= Threshold).map(m => (pid, m))
      }.toSet
      (planted.map(p => (p._1, p._2.mkString(" "))) ++ fresh.map(f => (f._1, f._2.mkString(" "))), truth)
    }

    Generated(dir, docs.toMap, clusters.toMap, vecs, probeQueries, tickDocs, tickVecs, probeBatches)
  }

  /** The generated inputs, in memory. */
  private final case class Generated(
      dir: String, docs: Map[Long, Array[String]], clusters: Map[Long, Seq[Long]],
      vecs: Seq[(Long, Array[Float])], probeQueries: IndexedSeq[(Long, Array[Float])],
      tickDocs: Seq[(Int, Long, String)], tickVecs: Seq[(Int, Long, Array[Float])],
      probeBatches: IndexedSeq[(Seq[(Long, String)], Set[(Long, Long)])])

  /** Writes the inputs and computes the exact top-k truth of the probe queries. */
  private def writeInputs(spark: SparkSession, g: Generated): Inputs = {
    import spark.implicits._
    val dir = g.dir
    Files.rm(dir)
    g.docs.toSeq.map { case (i, d) => (i, d.mkString(" ")) }.toDF("doc_id", "text")
      .repartition(4).write.parquet(s"$dir/docs")
    g.vecs.toDF("vec_id", "embedding").repartition(4).write.parquet(s"$dir/vectors")
    g.tickDocs.toDF("tick", "doc_id", "text").repartition(col("tick"))
      .write.partitionBy("tick").parquet(s"$dir/pending_docs")
    g.tickVecs.toDF("tick", "vec_id", "embedding").repartition(col("tick"))
      .write.partitionBy("tick").parquet(s"$dir/pending_vecs")

    val truth = Similarity.cosineTopK(spark.read.parquet(s"$dir/vectors"),
      g.probeQueries.toDF("vec_id", "embedding"), "vec_id", "embedding", K)
      .select("qid", "nid", "cos").as[(Long, Long, Double)].collect()
    val truthMap = truth.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    // the tick vectors must stay out of every probe's exact top-k
    val kth = truth.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._3).min }
    val tickMax = g.probeQueries.map { case (q, v) => q -> g.tickVecs.map(t => cos(v, t._3)).max }.toMap
    require(g.probeQueries.forall { case (q, _) => tickMax(q) < kth(q) },
      "generator: a tick vector would enter a probe query's exact top-k")
    Inputs(dir, g.docs, g.clusters, g.probeQueries, truthMap, g.probeBatches)
  }

  /** Moves tick `t`'s staged file into the stream's source dir. */
  private def stageTick(dir: String, kind: String, t: Int): Unit = {
    val src = new java.io.File(s"$dir/pending_$kind/tick=$t")
    val dst = new java.io.File(s"$dir/stream_$kind")
    dst.mkdirs()
    src.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      java.nio.file.Files.move(f.toPath, new java.io.File(dst, s"tick$t-${f.getName}").toPath)
    }
  }

  // ----------------------------------------------------------- the session
  private final class Session(spark: SparkSession, i: Inputs, ops: Ops, seed: Long) {
    import spark.implicits._
    val store = s"${i.dir}/minhash"
    val ivf = s"${i.dir}/ivf"
    val rng = new Random(seed)
    var nextTick = Map("docs" -> 0, "vecs" -> 0)
    val recallHits = mutable.ArrayBuffer.empty[Double]
    var plantedFound = 0
    var plantedTotal = 0
    var pairsEmitted = 0L
    var k = 0

    def build(): Long = {
      val docs = spark.read.parquet(s"${i.dir}/docs")
      val vecs = spark.read.parquet(s"${i.dir}/vectors")
      ops.call("minhash.build")(Dedup.buildMinHashStore(docs, "doc_id", "text", store))
      ops.call("ivf.build")(Similarity.ensureIvfIndexSized(spark, ivf, vecs, "vec_id", "embedding",
        Similarity.autoCentroids(_))).foreach(r => k = r._2)
      i.docs.size + Vectors
    }

    def ivfProbe(into: Seq[Samples]): Unit = {
      val qs = Seq.fill(QueriesPerProbe)(i.probeQueries(rng.nextInt(i.probeQueries.size))).distinct
      val qdf = qs.toDF("vec_id", "embedding")
      ops.call("ivf.probe", into: _*)(Similarity.ivfTopKPersisted(spark, ivf, qdf, "vec_id",
        "embedding", K, NProbe).select("qid", "nid").as[(Long, Long)].collect()).foreach { rows =>
        val got = rows.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
        qs.foreach { case (q, _) =>
          recallHits += got.getOrElse(q, Set.empty).count(i.truth(q).contains).toDouble / i.truth(q).size
        }
        ops.check("ivf_probe_k")(got.values.forall(_.size <= K) && got.keySet.subsetOf(qs.map(_._1).toSet),
          s"probe returned ${got.map(_._2.size)} for ${qs.size} queries")
      }
    }

    def minhashProbe(into: Seq[Samples]): Unit = {
      val (batch, truth) = i.probeBatches(rng.nextInt(i.probeBatches.size))
      val bdf = batch.toDF("doc_id", "text")
      ops.call("minhash.probe", into: _*)(Dedup.minHashPairsAgainstStore(bdf, "doc_id", "text", store,
        Threshold).select("d1", "d2").as[(Long, Long)].collect()).foreach { rows =>
        val found = rows.toSet
        pairsEmitted += rows.length
        plantedFound += truth.count(found.contains)
        plantedTotal += truth.size
        val unexpected = found -- truth
        ops.check("minhash_pairs")(unexpected.isEmpty, s"pairs not planted: ${unexpected.take(3)}")
      }
    }

    def tick(kind: String): Boolean = {
      val t = nextTick(kind)
      if (t >= Ticks) false
      else {
        stageTick(i.dir, kind, t)
        nextTick += kind -> (t + 1)
        if (kind == "docs")
          ops.call("minhash.append", ops.writes)(DocStreams.minHashStoreStream(spark,
            s"${i.dir}/stream_docs", store, s"${i.dir}/ckpt_docs"))
        else
          ops.call("ivf.append", ops.writes)(DocStreams.ivfIndexStream(spark,
            s"${i.dir}/stream_vecs", ivf, s"${i.dir}/ckpt_vecs"))
        true
      }
    }

    /** The mix is a fixed cycle, so every run makes the same calls: 6 probe
      * requests (4 IVF, 2 MinHash) and 2 ingest ticks in 8.
      */
    private val cycle = Seq("ivf", "minhash", "ivf", "docs", "ivf", "minhash", "ivf", "vecs")
    private var pos = 0

    def step(): Unit = {
      cycle(pos % cycle.size) match {
        case "ivf" => ivfProbe(Seq(ops.reads))
        case "minhash" => minhashProbe(Seq(ops.reads))
        case kind => if (!tick(kind)) ivfProbe(Seq(ops.reads))
      }
      pos += 1
    }

    def curate(): Unit = {
      val docs = spark.read.parquet(s"${i.dir}/docs")
      ops.call("text.curate")(TextAnalysis.repetitionStats(docs, "doc_id", "text")
        .agg(count(lit(1)), sum(col("n_words"))).head()).foreach { r =>
        val (n, words) = (r.getLong(0), r.getLong(1))
        ops.check("curation")(n == i.docs.size && words == i.docs.values.map(_.length.toLong).sum,
          s"repetitionStats saw $n docs, $words words")
      }
    }

    def maintain(): Unit = {
      curate()
      ops.call("minhash.compact")(Dedup.compactMinHashStore(spark, store))
      ops.call("ivf.rebalance")(Similarity.rebalanceIvfIndex(spark, ivf, force = true))
    }
  }

  private var generated: Generated = _

  def prepare(spark: SparkSession, work: String, seed: Long): Unit =
    generated = generate(s"$work/llm/input", seed)

  override def stage(spark: SparkSession, work: String, seed: Long): Unit =
    in = writeInputs(spark, generated)

  def run(spark: SparkSession, work: String, seed: Long, seconds: Double,
          ops: Ops, tracer: Tracer): Outcome = {
    val s = new Session(spark, in, ops, seed)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val rows = s.build()
    val buildS = elapsed
    val n = math.max(8, math.round(seconds * OpsPerSecond).toInt)
    (0 until n).foreach(_ => s.step())
    val m0 = System.nanoTime()
    s.maintain()
    val maintS = (System.nanoTime() - m0) / 1e9
    (0 until FinalProbes).foreach(_ => s.ivfProbe(Seq(ops.reads, ops.readsAfterMaintenance)))
    val wallS = elapsed

    val ticks = s.nextTick.values.sum
    val inputBytes = Seq("docs", "vectors").map(d => Files.bytesUnder(s"${in.dir}/$d")).sum +
      Seq("docs", "vecs").map(d => Files.bytesUnder(s"${in.dir}/stream_$d")).sum
    val written = Seq("minhash", "ivf", "ckpt_docs", "ckpt_vecs").map(d => Files.bytesUnder(s"${in.dir}/$d")).sum
    Outcome(wallS,
      Map("ingest_rows_per_s" -> (rows / buildS, "rows/s"),
        "maintenance_s" -> (maintS, "s"),
        "space_amp" -> (written.toDouble / inputBytes, "ratio"),
        "topk_recall" -> (s.recallHits.sum / math.max(1, s.recallHits.size), "ratio"),
        "dedup_recall" -> (s.plantedFound.toDouble / math.max(1, s.plantedTotal), "ratio")),
      Map("ivf.k" -> s.k.toDouble, "ivf.probe.nprobe" -> NProbe.toDouble,
        "minhash.probe.pairs" -> s.pairsEmitted.toDouble),
      Map("corpus_docs" -> in.docs.size, "corpus_vectors" -> Vectors, "ivf_k" -> s.k,
        "ticks" -> ticks, "planted_pairs_probed" -> s.plantedTotal, "operations_in_mix" -> n,
        "input_bytes" -> inputBytes, "bytes_on_disk" -> written))
  }
}
