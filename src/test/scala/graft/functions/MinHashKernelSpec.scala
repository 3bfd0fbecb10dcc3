package graft.functions

import graft.SparkSpec
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Builds a MinHash store from a parquet corpus in a JVM of its own, so a
  * spec can compare stores written at different core counts:
  * `MinHashStoreBuild <master> <inputDir> <storeDir>`.
  */
object MinHashStoreBuild {
  def main(args: Array[String]): Unit = {
    val Array(master, input, dir) = args
    val spark = SparkSession.builder().master(master).appName("minhash-store-build")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    try Dedup.buildMinHashStore(spark.read.parquet(input), "doc_id", "text", dir)
    finally spark.stop()
  }
}

/** The in-row MinHash kernels (`shingle_hashes`, `minhash_bands`) against a
  * test-local copy of the explode / `collect_set` / `min` plan they
  * replace, on edge-case texts and a seeded corpus with repeated shingles.
  */
class MinHashKernelSpec extends SparkSpec {
  import spark.implicits._

  /** The retired `toks/` plan: spread, explode the distinct shingles,
    * hash each, `collect_set` per doc.
    */
  private def retiredSets(docs: DataFrame, shingleN: Int): DataFrame = {
    val sh = if (shingleN <= 1) TextFunctions.distinctTokens(col("text"))
      else array_distinct(TextFunctions.shingles(col("text"), shingleN))
    docs.repartition(4).select(col("doc_id").as("id"), explode(sh).as("tok"))
      .select(col("id"), xxhash64(col("tok")).as("th"))
      .groupBy("id").agg(collect_set(col("th")).as("ths"))
  }

  /** The retired `bands/` plan: explode the sets, permute each hash as a
    * projection, `min` per doc and permutation, one chained hash per band.
    */
  private def retiredBands(sets: DataFrame, numBands: Int, rowsPerBand: Int): DataFrame = {
    val numHashes = numBands * rowsPerBand
    val permuted = sets.select(col("id"), explode(col("ths")).as("th"))
      .select(col("id") +: (0 until numHashes).map(i => xxhash64(lit(i), col("th")).as(s"p$i")): _*)
    val mins = (0 until numHashes).map(i => min(col(s"p$i")).as(s"h$i"))
    val sig = permuted.groupBy("id").agg(mins.head, mins.tail: _*)
    val bandCols = (0 until numBands).map { b =>
      val hs = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), xxhash64(lit(b) +: hs: _*).as("bh"))
    }
    sig.select(col("id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  private val edgeTexts: Seq[(Long, String)] = Seq(
    1L -> null, 2L -> "", 3L -> " ", 4L -> "  ", 5L -> "one", 6L -> "one two",
    7L -> " leading space words here", 8L -> "trailing space words here ",
    9L -> "double  space  words  here", 10L -> "rep rep rep rep rep rep rep",
    11L -> "día über straße ü ü ü 日本語 テキスト 🙂 emoji",
    12L -> "tab\tseparated words stay\tone token", 13L -> "   ")

  private def fresh(name: String): String = {
    val d = graft.Scratch.dir(name)
    val p = new org.apache.hadoop.fs.Path(d)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    d
  }

  /** Edge texts, a text that is not valid UTF-8, and 300 seeded docs over a
    * 10-word vocabulary (repeated shingles, some double-spaced), read back
    * from 3 parquet files so no plan folds over a local relation.
    */
  private lazy val corpus: DataFrame = {
    val rng = new scala.util.Random(17)
    val vocab = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta", "über", "日本")
    val gen = (100L until 400L).map { i =>
      i -> Seq.fill(rng.nextInt(14))(vocab(rng.nextInt(vocab.size)))
        .mkString(if (i % 7 == 0) "  " else " ")
    }
    val path = fresh("spec_minhash_kernel_corpus")
    (edgeTexts ++ gen).toDF("doc_id", "text")
      .union(Seq(14L).toDF("doc_id")
        .select(col("doc_id"), unhex(lit("C328206120622063")).cast("string").as("text")))
      .repartition(3).write.parquet(path)
    spark.read.parquet(path)
  }

  /** The eval path (no codegen anywhere) and the codegen path. */
  private val modes = Seq(
    Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN", "spark.sql.codegen.wholeStage" -> "false"))

  private def setRows(df: DataFrame): Seq[(Long, Seq[Long])] =
    df.select("id", "ths").collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toSeq.sortBy(_._1)

  private def bandRowsOf(df: DataFrame): Seq[(Long, Int, Long)] =
    df.select("id", "band", "bh").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted

  test("shingle_hashes equals the retired collect_set sets, in ascending order, eval and codegen") {
    for (n <- Seq(1, 3)) {
      val want = setRows(retiredSets(corpus, n)).map { case (id, ths) => id -> ths.sorted }
      val ids = want.map(_._1).toSet
      // the fixture reaches both sides of every edge: null text never has a
      // row; "" and " " have one only as unigrams; "  " has a 3-gram
      assert(!ids.contains(1L) && ids.contains(4L) && ids.contains(14L))
      assert(ids.contains(2L) === (n == 1) && ids.contains(3L) === (n == 1) &&
        ids.contains(6L) === (n == 1), s"n=$n ids: ${ids.filter(_ < 100L)}")
      for (mode <- modes) withSQLConf(mode: _*) {
        val got = setRows(Dedup.shingleHashSets(corpus, "doc_id", "text", n))
        assert(got === want, s"n=$n mode=$mode")
        assert(got.forall { case (_, ths) => ths.zip(ths.drop(1)).forall { case (a, b) => a < b } })
      }
    }
  }

  test("minhash_bands equals the retired min / chained-hash band rows, eval and codegen") {
    for (n <- Seq(1, 3); (b, r) <- Seq((16, 2), (8, 3), (8, 2), (1, 1))) {
      val sets = retiredSets(corpus, n).localCheckpoint()
      val retired = retiredBands(sets, b, r)
      val want = bandRowsOf(retired)
      assert(want.size === setRows(sets).size * b)
      for (mode <- modes) withSQLConf(mode: _*) {
        val got = Dedup.setBandRows(sets, b, r)
        assert(bandRowsOf(got) === want, s"n=$n bands=($b,$r) mode=$mode")
        assert(got.exceptAll(retired).isEmpty && retired.exceptAll(got).isEmpty)
        // the whole new signature path, text to band rows
        assert(bandRowsOf(Dedup.setBandRows(
          Dedup.shingleHashSets(corpus, "doc_id", "text", n), b, r)) === want)
      }
    }
  }

  test("the kernels hash unigrams as xxhash64 does, and reject parameters below 1") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    def xxh(s: String): Long = Seq(s).toDF("s").select(xxhash64(col("s"))).head().getLong(0)
    val got = ShingleHashes.kernel(org.apache.spark.unsafe.types.UTF8String.fromString("b a b a"), 1)
    assert(got.toLongArray().toSeq === Seq(xxh("a"), xxh("b")).sorted)
    intercept[IllegalArgumentException](ShingleHashes(Literal("x"), 0))
    intercept[IllegalArgumentException](MinHashBands(Literal(null, ArrayType(LongType)), 0, 2))
    intercept[IllegalArgumentException](MinHashBands(Literal(null, ArrayType(LongType)), 2, 0))
  }

  /** Stored docs and a batch of their edited copies plus fresh docs. */
  private def storeFixture: (DataFrame, DataFrame) = {
    val stored = corpus.filter(col("doc_id") % 10 =!= 0)
    val batch = corpus.filter(col("doc_id") >= 100L && col("doc_id") % 9 === 0)
      .select((col("doc_id") + 1000L).as("doc_id"), concat(col("text"), lit(" eta")).as("text"))
      .union(corpus.filter(col("doc_id") % 10 === 0))
    (stored, batch)
  }

  test("a store written by the retired plan probes identically to one built by the kernels") {
    val (stored, batch) = storeFixture
    val conf = spark.sessionState.newHadoopConf()
    val old = fresh("spec_minhash_kernel_retired_store")
    val fs = new org.apache.hadoop.fs.Path(old).getFileSystem(conf)
    graft.sources.HadoopText.write(fs, new org.apache.hadoop.fs.Path(old, "_params"), "16|2|3")
    val seg = s"$old/seg-retired"
    retiredSets(stored, 3).write.parquet(s"$seg/toks")
    retiredBands(spark.read.parquet(s"$seg/toks"), 16, 2).write.parquet(s"$seg/bands")
    val built = fresh("spec_minhash_kernel_new_store")
    Dedup.buildMinHashStore(stored, "doc_id", "text", built)

    def rows(dir: String, sub: String) = spark.read.parquet(s"$dir/seg-*/$sub")
    assert(setRows(rows(built, "toks")) ===
      setRows(rows(old, "toks")).map { case (id, ths) => id -> ths.sorted })
    assert(bandRowsOf(rows(built, "bands")) === bandRowsOf(rows(old, "bands")))
    def probe(dir: String) = Dedup.minHashPairsAgainstStore(batch, "doc_id", "text", dir, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = probe(old)
    assert(got.exists(_._1 >= 1000L) && got.exists(_._1 < 1000L), s"fixture drifted: $got")
    assert(got === probe(built))
  }

  test("store build and append plans hold no shuffle exchange") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    object H extends AdaptiveSparkPlanHelper
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    def plansOf(body: => Unit): Seq[SparkPlan] = {
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      plans.clear()
      body
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      plans.asScala.toSeq
    }
    val (stored, batch) = storeFixture
    val dir = fresh("spec_minhash_kernel_plan_store")
    spark.listenerManager.register(listener)
    try {
      for ((what, run) <- Seq[(String, () => Unit)](
          "build" -> (() => Dedup.buildMinHashStore(stored, "doc_id", "text", dir)),
          "append" -> (() => Dedup.appendToMinHashStore(batch, "doc_id", "text", dir)))) {
        val seen = plansOf(run())
        assert(seen.size >= 2, s"$what: expected the toks and bands writes, saw ${seen.size} plans")
        seen.foreach { p =>
          assert(H.collect(p) { case e: ShuffleExchangeExec => e }.isEmpty,
            s"$what plan shuffles:\n$p")
        }
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("the store writes the same bytes each time, and the same rows at local[1] and local[4]") {
    val conf = spark.sessionState.newHadoopConf()
    /** The md5 of every parquet file under `<seg>/<sub>`, per sub, sorted. */
    def digests(dir: String): Map[String, Seq[String]] = {
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(conf)
      val segs = fs.listStatus(root).map(_.getPath).filter(_.getName.startsWith("seg-"))
      assert(segs.length === 1)
      Seq("toks", "bands").map { sub =>
        sub -> fs.listStatus(new org.apache.hadoop.fs.Path(segs.head, sub)).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).toSeq.map { p =>
            val in = fs.open(p)
            try org.apache.commons.codec.digest.DigestUtils.md5Hex(in) finally in.close()
          }.sorted
      }.toMap
    }
    val (stored, _) = storeFixture
    val input = fresh("spec_minhash_kernel_repro_input")
    stored.write.parquet(input)
    val first = fresh("spec_minhash_kernel_repro_a")
    Dedup.buildMinHashStore(spark.read.parquet(input), "doc_id", "text", first)
    // unrelated jobs between the builds: shuffles, a checkpoint, another store
    spark.range(5000).repartition(7).groupBy(col("id") % 3).count().collect()
    spark.range(100).localCheckpoint().count()
    Dedup.buildMinHashStore(corpus, "doc_id", "text", fresh("spec_minhash_kernel_repro_other"))
    val second = fresh("spec_minhash_kernel_repro_b")
    Dedup.buildMinHashStore(spark.read.parquet(input), "doc_id", "text", second)
    val d1 = digests(first)
    assert(d1("toks").nonEmpty && d1("bands").nonEmpty)
    assert(digests(second) === d1)

    // the same input built by a local[1] JVM (one SparkContext per JVM)
    val single = fresh("spec_minhash_kernel_repro_local1")
    val log = new java.io.File(s"$single.log")
    import scala.jdk.CollectionConverters._
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-agentlib") || a.startsWith("-javaagent"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx1g") ++ jvmArgs ++
      Seq("-cp", System.getProperty("java.class.path"),
        "graft.functions.MinHashStoreBuild", "local[1]", input, single)
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(log).start()
    val finished = proc.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
    if (!finished) proc.destroyForcibly()
    def logText = scala.io.Source.fromFile(log).getLines().toSeq.takeRight(30).mkString("\n")
    assert(finished && proc.exitValue() === 0, s"local[1] build failed:\n$logText")
    def rows(dir: String, sub: String) = spark.read.parquet(s"$dir/seg-*/$sub")
    assert(setRows(rows(single, "toks")) === setRows(rows(first, "toks")))
    assert(bandRowsOf(rows(single, "bands")) === bandRowsOf(rows(first, "bands")))
  }
}
