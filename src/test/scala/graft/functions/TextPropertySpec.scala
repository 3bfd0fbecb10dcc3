package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-style tests: ScalaCheck generators produce the corpus, one
  * Spark pass evaluates the expressions, properties are asserted per row
  * (forAll-per-row would launch a job per sample).
  */
class TextPropertySpec extends SparkSpec {
  import spark.implicits._

  private val word: Gen[String] = for {
    n <- Gen.choose(1, 8)
    cs <- Gen.listOfN(n, Gen.alphaLowerChar)
  } yield cs.mkString

  private val sentence: Gen[List[String]] = for {
    n <- Gen.choose(0, 30)
    ws <- Gen.listOfN(n, word)
  } yield ws

  private def samples[A](g: Gen[List[String]], n: Int): Seq[List[String]] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("shingles(k): count = max(0, n-k+1); every shingle has k tokens") {
    val rows = samples(sentence, 60).map(ws => (ws.size, ws.mkString(" ")))
    val df = rows.toDF("n", "text")
    for (k <- Seq(2, 3, 5)) {
      val out = df.select(col("n"), TextFunctions.shingles(col("text"), k).as("sh")).collect()
      out.foreach { r =>
        val n = r.getInt(0)
        val sh = r.getSeq[String](1)
        // "" splits to [""] — a zero-word sentence still tokenizes to 1 token
        val effN = math.max(n, 1)
        assert(sh.size === math.max(0, effN - k + 1), s"n=$n k=$k got ${sh.size}")
        sh.foreach(s => assert(s.split(" ", -1).length === k, s"shingle '$s' not $k tokens"))
      }
    }
  }

  test("chunkTokens: full coverage, overlap stitching, short tail, short doc") {
    val rows = samples(sentence, 60).map(ws => (ws.size.max(1), ws.mkString(" ")))
    val df = rows.toDF("n", "text")
    val out = df.select(col("n"), col("text"),
        TextFunctions.chunkTokens(col("text"), chunkSize = 5, overlap = 2).as("cs"))
      .collect()
    out.foreach { r =>
      val n = r.getInt(0)
      val text = r.getString(1)
      val chunks = r.getSeq[org.apache.spark.sql.Row](2)
      assert(chunks.nonEmpty, "every doc gets at least one chunk")
      // expected chunk count: ceil(max(n - overlap, 1) / step)
      assert(chunks.size === (math.max(n - 2, 1) + 2) / 3, s"n=$n got ${chunks.size}")
      // all but the last are full; the last covers through the final token
      chunks.init.foreach(c => assert(c.getInt(1) === 5))
      val words = text.split(" ", -1).toSeq
      // stitching: dropping each chunk's first `overlap` tokens (except the
      // first chunk) reconstructs the document exactly
      val stitched = chunks.head.getString(0).split(" ", -1).toSeq ++
        chunks.tail.flatMap(_.getString(0).split(" ", -1).toSeq.drop(2))
      assert(stitched === words, s"coverage broken for n=$n")
    }
    intercept[IllegalArgumentException] {
      TextFunctions.chunkTokens(col("text"), chunkSize = 3, overlap = 3)
    }
  }

  test("qualityScore stays within [0, 1]; ratios within [0, 1]") {
    val rows = samples(sentence, 60).map(_.mkString(" ")).filter(_.nonEmpty)
    val out = rows.toDF("text").select(
      TextFunctions.qualityScore(col("text")).as("q"),
      TextFunctions.punctRatio(col("text")).as("p"),
      TextFunctions.stopwordRatio(col("text")).as("s")).collect()
    out.foreach { r =>
      assert(r.getDouble(0) >= 0.0 && r.getDouble(0) <= 1.0)
      assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0)
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
    }
  }

  test("langId always returns a known code") {
    val rows = samples(sentence, 60).map(_.mkString(" ")).filter(_.nonEmpty)
    val out = rows.toDF("text")
      .select(TextFunctions.langId(col("text"))).collect().map(_.getString(0))
    val valid = Set("en", "es", "fr", "de", "und")
    out.foreach(l => assert(valid.contains(l), s"langId produced '$l'"))
  }

  test("repetitionStats matches a per-row Scala reference on generated corpora") {
    val rows = samples(sentence, 80).zipWithIndex
      .collect { case (ws, i) if ws.nonEmpty => (i.toLong, ws) }
    val df = rows.map { case (id, ws) => (id, ws.mkString(" ")) }.toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.repetitionStats(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    def r4d(x: Double) = math.rint(x * 10000) / 10000
    rows.foreach { case (id, ws) =>
      val counts = ws.groupBy(identity).view.mapValues(_.size)
      val (n, nd, top) = (ws.size.toLong, counts.size.toLong, counts.values.max.toLong)
      val (gn, gnd, gdup, gtop) = got(id)
      assert(gn === n && gnd === nd, s"doc $id counts")
      assert(math.abs(gdup - r4d(1.0 - nd.toDouble / n)) < 1e-9, s"doc $id dup_frac")
      assert(math.abs(gtop - r4d(top.toDouble / n)) < 1e-9, s"doc $id top_frac")
    }
    // a pure-repetition doc is maximally flagged
    val spam = Seq((0L, Seq.fill(50)("buy").mkString(" "))).toDF("doc_id", "text")
    val s0 = graft.operators.TextAnalysis.repetitionStats(spam, "doc_id", "text").head()
    assert(s0.getDouble(3) === 0.98 && s0.getDouble(4) === 1.0)
  }

  test("minHash signatures are deterministic across plan re-executions") {
    val rows = samples(sentence, 30).zipWithIndex
      .collect { case (ws, i) if ws.size >= 3 => (i.toLong, ws.mkString(" ")) }
    val df = rows.toDF("doc_id", "text")
    // 8 hashes as 4 bands of 2 rows, from the kernels every MinHash path runs
    def bands() = graft.operators.Dedup.setBandRows(
        graft.operators.Dedup.shingleHashSets(df, "doc_id", "text", 3), 4, 2)
      .orderBy("id", "band").collect().map(_.toSeq).toSeq
    val a = bands()
    assert(a.nonEmpty && a === bands())
  }

  test("approx_count_distinct tracks exact within the default 5% rsd") {
    val ev = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
    val r = ev.agg(
      countDistinct(col("user_id")).as("exact"),
      approx_count_distinct(col("user_id")).as("approx")).head()
    val (e, a) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    assert(math.abs(e - a) / e < 0.05, s"exact=$e approx=$a")
  }

  test("approx percentile tracks exact within sketch tolerance on lineitem") {
    val li = graft.Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    val both = li.agg(
      expr("percentile(l_extendedprice, 0.9)").as("exact"),
      expr("percentile_approx(l_extendedprice, 0.9, 10000)").as("approx")).head()
    val (e, a) = (both.getDouble(0), both.getDouble(1))
    assert(math.abs(e - a) / e < 0.01, s"exact=$e approx=$a")
  }
}
