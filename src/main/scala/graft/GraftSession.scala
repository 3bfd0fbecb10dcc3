package graft

import org.apache.spark.sql.SparkSession
import scala.util.chaining._

/** Canonical session factory for the engine — one place that encodes the
  * scale-relevant configuration so every entry point (Verify, Bench, user
  * code) runs with the same execution posture:
  *
  *  - AQE on, with partition coalescing and runtime skew-join splitting:
  *    the first line of defense against skew/mis-sized shuffles at 100 TB
  *  - shuffle partitions sized to the cluster (cores locally; on a real
  *    cluster pass ~2-3× total executor cores)
  *  - 128 MiB scan partitions (parquet row-group aligned)
  *  - UTC session timezone (oracle comparability and sane timestamps)
  */
object GraftSession {
  def build(master: String, shufflePartitions: Int): SparkSession =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      // the session's historical codec and split size; an A/B edits these
      // constants (r16 measurements: OPTIMIZATION_r16.md)
      .config("spark.io.compression.codec", "lz4")
      .config("spark.sql.files.maxPartitionBytes", 128L * 1024 * 1024)
      // write TIMESTAMP(MICROS), not the INT96 legacy default: INT96 has no
      // usable min/max stats (no row-group pruning on time predicates) and
      // isn't annotated, so footer-driven readers can't negotiate it
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
      .tap(graft.functions.GraftFunctions.register)

  /** Local session sized from SPARK_GRAFT_CPUS (driver harness contract). */
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    build(s"local[$cpus]", cpus.toInt)
  }
}
