package graft.tools
import graft._
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Dev tool: measure q_ext_dedup4's SimHash candidate recall + cost at several
  * maxBucket caps against the anchored exact pairs (runMain with an sfDir). */
object DedupRecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    val docs = Tables.load(spark, sfDir, "documents")
    // the query's OWN exact arm (same helper as q_ext_dedup4), so recall AND
    // cost are measured against the plan the query actually runs
    val exact = Dedup.anchoredJaccardPairs(docs, "doc_id", "text",
      targetAnchors = 500L, threshold = 0.9, shingleN = 3)
    val nExact = exact.count()
    // (blocks, cap) grid: 0 engages the auto rules (autoSimHashBlocks /
    // autoSimHashBucketCap — q_ext_dedup4's round-15 form); 8:800 is the
    // retired pinned geometry whose sub-split backstop collapsed at sf30
    // (recall 0.27). Override via
    // SPARK_GRAFT_RECALL_GRID="blocks:cap,blocks:cap,...".
    val grid = sys.env.get("SPARK_GRAFT_RECALL_GRID")
      .map(_.split(",").toSeq.map { s =>
        val Array(b, c) = s.split(":"); (b.toInt, c.toLong)
      })
      .getOrElse(Seq((0, 0L), (8, 800L), (8, 1500L), (8, 400L)))
    for ((blocks, cap) <- grid) {
      val t0 = System.nanoTime()
      val cand = Dedup.simHashPairs(docs, "doc_id", "text", maxDist = 7,
        numBlocks = blocks, maxBucket = cap).select("d1", "d2")
      val hit = exact.join(cand.dropDuplicates("d1", "d2"), Seq("d1", "d2"), "left_semi").count()
      println(f"[recall] blocks=$blocks%2d cap=$cap%5d recall=${hit.toDouble / nExact}%.3f ($hit/$nExact) in ${(System.nanoTime()-t0)/1e9}%6.2f s")
    }
    spark.stop()
  }
}
