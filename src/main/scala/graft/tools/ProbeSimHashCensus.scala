package graft.tools

import graft.{GraftSession, Tables}
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Dev probe (round 15): attribute the cost of simHashPairs' hot path at a
  * given geometry WITHOUT running the pair join — everything here is
  * census arithmetic over the banded frame, so it runs in signature-pass
  * time even where the join itself would take an hour. Prints, per
  * (numBlocks, maxBucket) grid point (0 = the simHashPairs auto rule):
  *   - bucket-count / membership mass of the over-cap (hot) census
  *   - the EXACT raw candidate volume the banding join must hamming-test:
  *     sub-split buckets contribute ~m*cap/2, cold buckets m(m-1)/2
  * plus, once per corpus, the duplicate-signature mass (dist-0 cliques).
  * Usage: runMain graft.tools.ProbeSimHashCensus <sfDir> [b:cap,b:cap,...]
  */
object ProbeSimHashCensus {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val grid = args.drop(1).headOption.getOrElse("0:0,0:20000")
      .split(",").toSeq.map { s => val Array(b, c) = s.split(":"); (b.toInt, c.toLong) }
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    val docs = Tables.load(spark, sfDir, "documents")
    val sig = Dedup.simHash(docs, "doc_id", "text").localCheckpoint()
    val n = sig.count()
    val dup = sig.groupBy("simhash").agg(count(lit(1)).as("m"))
      .agg(count(lit(1)).as("uniq"), sum(when(col("m") > 1, col("m")).otherwise(0L)).as("dupMass"),
        max(col("m")).as("maxClique"),
        sum((col("m") * (col("m") - 1) / 2).cast("long")).as("dist0Pairs"))
      .collect()(0)
    println(s"[census] n=$n uniqSigs=${dup.getLong(0)} dupMass=${dup.getLong(1)} " +
      s"maxClique=${dup.getLong(2)} dist0Pairs=${dup.getLong(3)}")
    for ((nb, c) <- grid) {
      val blocks = if (nb > 0) nb else Dedup.autoSimHashBlocks(n, 7)
      val cap = if (c > 0) c else Dedup.autoSimHashBucketCap(n)
      val widths = Array.tabulate(blocks)(i => 64 / blocks + (if (i < 64 % blocks) 1 else 0))
      val offsets = widths.scanLeft(0)(_ + _)
      def blockVal(i: Int) =
        shiftright(col("simhash"), offsets(i)).bitwiseAND(lit((1L << widths(i)) - 1))
      val subsets = (0 until blocks).combinations(blocks - 7).toSeq
      val bands = subsets.zipWithIndex.map { case (subset, si) =>
        val key = subset.tail.foldLeft(blockVal(subset.head)) { (acc, i) =>
          shiftleft(acc, widths(i)).bitwiseOR(blockVal(i))
        }
        struct(lit(si).as("ci"), key.as("cv"))
      }
      val buckets = sig.select(explode(array(bands: _*)).as("ch"))
        .groupBy(col("ch.ci").as("ci"), col("ch.cv").as("cv")).agg(count(lit(1)).as("m"))
      val stats = buckets.agg(
        count(lit(1)).as("nBuckets"),
        sum(when(col("m") > cap, lit(1L)).otherwise(0L)).as("hotBuckets"),
        sum(when(col("m") > cap, col("m")).otherwise(0L)).as("hotMass"),
        max(col("m")).as("maxBucket"),
        // raw candidates the join hamming-tests: cold buckets pair fully,
        // hot buckets pair within ceil(m/cap) uniform sub-buckets
        sum(when(col("m") > cap,
          (col("m") * col("m") / (lit(2) * ceil(col("m").cast("double") / cap))).cast("long"))
          .otherwise((col("m") * (col("m") - 1) / 2).cast("long"))).as("rawCand"))
        .collect()(0)
      println(f"[census] blocks=$blocks%2d cap=$cap%6d tables=${subsets.size}%3d " +
        f"buckets=${stats.getLong(0)}%,d hot=${stats.getLong(1)}%,d hotMass=${stats.getLong(2)}%,d " +
        f"maxBucket=${stats.getLong(3)}%,d rawCandidates=${stats.getLong(4)}%,d")
    }
    spark.stop()
  }
}
