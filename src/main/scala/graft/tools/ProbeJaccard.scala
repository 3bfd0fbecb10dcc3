package graft.tools

import graft.{GraftSession, Tables}
import graft.operators.Dedup
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._

/** Dev probe for the exact-Jaccard scale term (round 15): names what grows
  * super-linearly between sf10 and sf30 (49.8 s → 174.1 s = 3.5× at 3×
  * data). Two attributions, cheap first:
  *
  * - `counts`: the candidate-volume ledger, computed from the shingle df
  *   census WITHOUT running the pair join — the capped join's output is
  *   exactly Σ_{df<=cap} C(df,2), so comparing that sum across scales says
  *   whether the growth is inherent pair density (the join's input-side
  *   work) before paying for the join itself.
  * - `full`: one timed jaccardPairs run with a stage-completion listener
  *   that prints per-stage duration, shuffle read/write bytes and spill —
  *   separates "more candidate rows" from "same rows, spilling shuffle".
  *
  * Not part of the library surface.
  */
object ProbeJaccard {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val modes = args.drop(1).headOption.getOrElse("counts,full").split(",").toSeq
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    val docs = Tables.load(spark, sfDir, "documents")
    val cap = 10000

    // stage ledger: kept small (one tuple per stage), printed on demand
    val stages = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, Long, Long, Long, Long, Long, Int)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        val dur = (for {s <- si.submissionTime; c <- si.completionTime} yield c - s)
          .getOrElse(-1L)
        stages.synchronized {
          stages += ((si.stageId, si.name.takeWhile(_ != '\n').take(60), dur,
            m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
            m.memoryBytesSpilled, m.diskBytesSpilled, si.numTasks))
        }
      }
    })

    def time[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $tag%-34s ${(System.nanoTime() - t0) / 1e9}%8.1fs")
      r
    }

    modes.foreach {
      case "counts" =>
        // the operator's shingle pass: spread + the shingle-hash sets
        // jaccardPairs materializes, one row per (doc, shingle hash)
        val toks = time("shingle+hash pass")(
          Dedup.shingleHashSets(docs.repartition(spark.sparkContext.defaultParallelism),
              "doc_id", "text", 3)
            .select(col("id"), explode(col("ths")).as("th"))
            .localCheckpoint())
        val census = toks.groupBy("th").agg(count(lit(1)).as("df")).localCheckpoint()
        val ledger = census.agg(
          count(lit(1)).as("distinct_shingles"),
          sum(col("df")).as("tok_rows"),
          sum(when(col("df") > cap, 1L).otherwise(0L)).as("hot_shingles"),
          sum(when(col("df") > cap, col("df")).otherwise(0L)).as("hot_tok_rows"),
          // the capped pair join's EXACT output volume, no join run:
          // Σ_{df<=cap} df·(df−1)/2
          sum(when(col("df") <= cap, col("df") * (col("df") - 1) / 2)
            .otherwise(0L)).as("capped_candidate_pairs"),
          // fan-in concentration: the top decile of that volume
          max(when(col("df") <= cap, col("df"))).as("max_rare_df")
        ).collect()(0)
        println(s"[probe] docs=${docs.count()} ledger=$ledger")
        val inputFiles = docs.inputFiles.length
        println(s"[probe] input_files=$inputFiles " +
          s"tok_partitions=${toks.rdd.getNumPartitions}")
      case "full" =>
        stages.synchronized(stages.clear())
        val n = time("jaccardPairs full (0.9, n=3)")(
          Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.9,
            shingleN = 3).count())
        println(s"[probe] pairs=$n")
        val snap = stages.synchronized(stages.toList)
        val totSpillMem = snap.map(_._6).sum / (1L << 20)
        val totSpillDisk = snap.map(_._7).sum / (1L << 20)
        val totShufR = snap.map(_._4).sum / (1L << 20)
        val totShufW = snap.map(_._5).sum / (1L << 20)
        println(s"[probe] stages=${snap.size} shuffle_read=${totShufR}MiB " +
          s"shuffle_write=${totShufW}MiB spill_mem=${totSpillMem}MiB " +
          s"spill_disk=${totSpillDisk}MiB")
        snap.sortBy(-_._3).take(8).foreach { case (id, nm, dur, sr, sw, sm, sd, nt) =>
          println(f"[probe]   stage=$id%-5d ${dur / 1000.0}%7.1fs tasks=$nt%-4d " +
            f"shufR=${sr / (1L << 20)}%6dMiB shufW=${sw / (1L << 20)}%6dMiB " +
            f"spillD=${sd / (1L << 20)}%6dMiB  $nm")
        }
      case other => println(s"[probe] unknown mode $other")
    }
    spark.stop()
  }
}
