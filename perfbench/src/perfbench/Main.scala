package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** What a workload's timed phase reports back to [[Main]]. */
final case class Outcome(wallS: Double, metrics: Map[String, (Double, String)],
                         layers: Map[String, Double], extra: Map[String, Any] = Map.empty)

/** One benchmark workload. `prepare` generates the inputs of the timed
  * phase and is repeated; `stage` is the one-time rest of set-up (writing
  * the inputs through Spark, computing ground truth); `run` is the timed
  * phase followed by its output checks, which run outside every timed
  * window. There is no warm-up: each session is a script a user runs as a
  * fresh process, so the first call of each kind pays its cold cost, as
  * the user's does.
  */
trait Workload {
  def prepare(spark: SparkSession, work: String, seed: Long): Unit
  def stage(spark: SparkSession, work: String, seed: Long): Unit = ()
  def run(spark: SparkSession, work: String, seed: Long, seconds: Double,
          ops: Ops, tracer: Tracer): Outcome
}

/** Entry point: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --work DIR --out FILE [--spans FILE]`.
  *
  * Runs one workload in one process with a single closed-loop client
  * thread on `local[nproc]` Spark and writes the run's artifact (every
  * metric, samples counts, failures, host provenance) as JSON to `--out`.
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    val cores = Runtime.getRuntime.availableProcessors()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    val load0 = Host.loadAvg1m
    val jiffies0 = graft.Bench.cpuJiffies()

    val spark = graft.GraftSession.build(s"local[$cores]", cores)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    val workload: Workload = workloadName match {
      case "crystal_db" => CrystalDb
      case "llm_corpus" => LlmCorpus
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // input generation is repeated and its median reported, so set-up time
    // is steadier; the last repetition's inputs feed the timed phase
    def timeS(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    val repS = (0 until SetupReps).map(_ => timeS(workload.prepare(spark, work, seed)))
    val stageS = timeS(workload.stage(spark, work, seed))
    val setupS = sessionS + Samples.median(repS) + stageS

    val tracer = new Tracer(spark, traced)
    val ops = new Ops(tracer)
    val out = workload.run(spark, work, seed, seconds, ops, tracer)
    tracer.drain()

    val load1 = Host.loadAvg1m
    val (steal, busy) = graft.Bench.cpuDelta(jiffies0, graft.Bench.cpuJiffies())

    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "wall_s" -> (out.wallS, "s"))
    def timing(prefix: String, s: Samples): Unit = if (s.size > 0) {
      e2e(s"${prefix}_p50_ms") = (s.median, "ms")
      e2e(s"${prefix}_tail_ms") = (s.tail._1, "ms")
    }
    timing("read", ops.reads)
    timing("write", ops.writes)
    out.metrics.foreach { case (k, v) => e2e(k) = v }
    e2e("error_rate") = (ops.errorRate, "ratio")
    e2e("peak_rss_gb") = (Host.peakRssGb, "GB")

    val layers: Map[String, Double] =
      if (!traced) Map.empty
      else Layers.metrics(tracer, out, cores) + ("trace.wall_s" -> out.wallS)

    opts.get("spans").filter(_ => traced).foreach { f =>
      Files.write(f, tracer.spanLines(workloadName, s"$workloadName-$seed-${jvmStart.toLong}")
        .mkString("", "\n", "\n"))
    }

    def samplesInfo(s: Samples) = Map("n" -> s.size, "p50_ms" -> s.median, "tail_percentile" -> s.tail._2)
    val artifact = Map(
      "workload" -> workloadName, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "attempted" -> ops.attempted, "failed" -> (ops.failedOps + ops.failedChecks),
      "failed_ops" -> ops.failedOps, "failed_checks" -> ops.failedChecks,
      "failures" -> ops.failures.toSeq,
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> layers,
      "samples" -> Map("read" -> samplesInfo(ops.reads), "write" -> samplesInfo(ops.writes),
        "read_after_maintenance" -> samplesInfo(ops.readsAfterMaintenance)),
      "setup" -> Map("session_s" -> sessionS, "input_repetitions_s" -> repS, "stage_s" -> stageS),
      "host" -> Map("nproc" -> cores, "driver_heap_bytes" -> Runtime.getRuntime.maxMemory,
        "loadavg_1m_start" -> load0, "loadavg_1m_end" -> load1,
        "steal_pct" -> steal, "busy_pct" -> busy,
        "spark_master" -> spark.sparkContext.master),
      "extra" -> out.extra)
    Files.write(opts("out"), Json.render(artifact) + "\n")
    spark.stop()
  }
}
