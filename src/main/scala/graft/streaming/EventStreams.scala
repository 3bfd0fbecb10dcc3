package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Per-user session-fold state for EventStreams.sessionStatsStateful.
  * Top-level (not nested private) — Spark's encoder codegen needs public
  * accessors on the state/output classes.
  */
final case class SessionState(lastTsMicros: Long, nSessions: Long, nEvents: Long)
final case class UserSessions(user_id: Long, n_sessions: Long, n_events: Long)

/** Per-user funnel-fold state for EventStreams.funnelStateful: depth reached
  * plus per-step timestamps in epoch micros (Long.MinValue = unset).
  */
final case class FunnelState(depth: Int, ts: Seq[Long])
final case class UserFunnel(user_id: Long, depth: Int, ts: Seq[Long])

/** Per-user interval-coalescing state for EventStreams.mergeIntervalsStateful:
  * the number of islands already closed plus the one OPEN island (start/end
  * epoch micros, member count; startUs = Long.MinValue when none is open).
  * O(1) per key — closed islands leave state the moment they close.
  */
final case class IslandState(closed: Int, startUs: Long, endUs: Long, n: Long)
final case class UserIsland(user_id: Long, island: Int, start_us: Long,
    end_us: Long, n: Long)

/** Per-shard Space-Saving summary for EventStreams.heavyHittersStateful:
  * (item, count, err) triples, at most m per shard.
  */
final case class SSState(items: Seq[(Long, Long, Long)])
final case class SSItem(user_id: Long, n: Long)

/** Per-user SCD2 state for EventStreams.scd2Stateful: the compacted
  * change-point list (state value, epoch micros, tie-break id).
  */
final case class CdcState(points: Seq[(String, Long, Long)])
final case class CdcVersion(user_id: Long, version: Int, state: String,
    valid_from_us: Long, valid_to_us: Option[Long], is_current: Boolean)

/** Per-user attribution state for EventStreams.attributionStateful: the
  * first and most recent preceding non-purchase touch ("" = none yet) plus
  * per-(last,first)-pair conversion totals — bounded by the touch-type
  * alphabet squared, never by event volume.
  */
final case class AttrState(first: String, last: String,
    pairs: Seq[(String, String, Long, Double)])
final case class AttrConv(user_id: Long, last_touch: String,
    first_touch: String, n_conv: Long, revenue: Double)

/** Per-type histogram state for EventStreams.histogramStateful: (bin, count)
  * pairs — bounded by the value range / bin width, never by event volume.
  */
final case class HistState(bins: Seq[(Long, Long)])
final case class HistBin(event_type: String, bin: Long, n: Long)

/** Structured Streaming variants of the event operators (SURVEY.md §7 M5):
  * `readStream` over the parquet dir → watermark + windowed aggregation /
  * custom state → sink. The declared-query harness drives them with
  * `Trigger.AvailableNow` into a memory sink so the batch oracle can check
  * the streaming path's results; a production deployment swaps the trigger
  * (continuous micro-batches) and the sink (kafka/parquet/delta) without
  * touching the transform.
  */
object EventStreams {

  /** Raw schema of the events table — streaming sources require an explicit
    * schema (no inference at scale). The ts encoding is footer-negotiated
    * through `Tables.eventsUnit` exactly like the batch path (one shared
    * definition so batch and stream can never drift): TIMESTAMP(NANOS)
    * arrives as raw long and is truncated to µs; MICROS/MILLIS decode
    * natively.
    */
  val eventsRawSchema: StructType = graft.Tables.eventsRawSchema

  def readEventsStream(spark: SparkSession, dir: String): DataFrame = {
    // probe the concrete file (the glob below is for the source, which at
    // scale is a directory of files); footer says which decode branch
    val info = graft.Tables.eventsTsInfo(spark, s"$dir/events.parquet")
    if (graft.Tables.eventsNeedsNanosDecode(spark, s"$dir/events.parquet"))
      spark.readStream.schema(eventsRawSchema)
        // the file-stream source needs a directory or glob (a literal file
        // path is rejected); at scale this is a directory of files anyway
        .parquet(s"$dir/events*.parquet")
        .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    else
      spark.readStream.schema(graft.Tables.eventsDecodedSchema(info.adjustedToUTC))
        .parquet(s"$dir/events*.parquet")
        // NTZ → TimestampType is a no-op cast when already adjusted; for
        // NTZ files the UTC session makes the values numerically identical,
        // so downstream transforms see the type the batch path produces
        .withColumn("ts", col("ts").cast(TimestampType))
  }

  /** Tumbling hourly aggregate, streaming form of EventOps.tumblingHourly.
    * Complete output mode: every window is (re-)emitted, so a bounded replay
    * produces exactly the batch result. The watermark bounds state for the
    * unbounded/append deployment.
    */
  def tumblingHourly(events: DataFrame): DataFrame =
    // one definition of the aggregation (EventOps) — the streaming variant
    // is exactly batch + watermark, so batch/stream parity can't drift
    graft.operators.EventOps.tumblingHourly(events.withWatermark("ts", "1 hour"))

  /** Sessionization with custom state (flatMapGroupsWithState): per user,
    * count sessions separated by >= `gapMinutes` of inactivity, emitting the
    * running totals each micro-batch. Events within a batch are sorted by
    * (ts, event_id) before folding, so results are deterministic; with a
    * bounded AvailableNow replay of one file (= one micro-batch) the output
    * equals the batch sessionization exactly.
    */
  def sessionStatsStateful(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMicros = gapMinutes * 60L * 1000000L
    events
      .select(col("user_id"), col("ts"), col("event_id"))
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, UserSessions](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (userId, rows, state: GroupState[SessionState]) =>
          val sorted = rows.toSeq.sortBy(r => (r._2.getTime * 1000 + r._2.getNanos / 1000 % 1000, r._3))
          val init = state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0L))
          val folded = sorted.foldLeft(init) { case (st, (_, ts, _)) =>
            val tsMicros = ts.getTime * 1000 + ts.getNanos / 1000 % 1000
            val newSession = st.lastTsMicros == Long.MinValue || tsMicros - st.lastTsMicros >= gapMicros
            SessionState(tsMicros, st.nSessions + (if (newSession) 1 else 0), st.nEvents + 1)
          }
          state.update(folded)
          Iterator.single(UserSessions(userId, folded.nSessions, folded.nEvents))
      }
      .toDF("user_id", "n_sessions", "n_events")
  }

  /** Streaming ordered funnel with custom state: the streaming form of
    * EventOps.funnel — the same greedy strict-ts advance, folded per user
    * across micro-batches (state = depth + per-step timestamps). Events are
    * sorted by (ts, event_id) within each batch, so an in-order replay
    * reproduces the batch funnel exactly; each batch emits the user's
    * current funnel position (Update mode).
    */
  def funnelStateful(events: DataFrame, steps: Seq[String]): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val stepIdx = steps.zipWithIndex.map { case (s, i) => s -> (i + 1) }.toMap
    val k = steps.length
    def micros(ts: java.sql.Timestamp): Long =
      ts.getTime * 1000 + ts.getNanos / 1000 % 1000
    val folded = events
      .filter(col("event_type").isin(steps: _*))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .as[(Long, java.sql.Timestamp, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, UserFunnel](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (userId, rows, state: GroupState[FunnelState]) =>
          val sorted = rows.toSeq.sortBy(r => (micros(r._2), r._3))
          val init = state.getOption.getOrElse(FunnelState(0, Seq.fill(k)(Long.MinValue)))
          val out = sorted.foldLeft(init) { case (st, (_, ts, _, tpe)) =>
            val t = micros(ts)
            if (st.depth < k && stepIdx(tpe) == st.depth + 1 &&
                (st.depth == 0 || t > st.ts(st.depth - 1)))
              FunnelState(st.depth + 1, st.ts.updated(st.depth, t))
            else st
          }
          state.update(out)
          Iterator.single(UserFunnel(userId, out.depth, out.ts))
      }
      .toDF("user_id", "depth", "tsv")
    folded.select(col("user_id") +: col("depth") +:
      (0 until k).map(i =>
        when(col("tsv")(i) =!= Long.MinValue, col("tsv")(i)).as(s"t${i + 1}_us")): _*)
  }

  /** Streaming SCD2 dimension maintenance with custom state: the streaming
    * form of EventOps.scd2Compact. State is the compacted per-user
    * change-point list (bounded by the number of STATE CHANGES, not events
    * — the chatty-changelog bulk never enters state); each batch folds its
    * time-sorted events in and emits the user's full version list (Update
    * mode — a new change point retracts the previous version's open
    * valid_to, which append-only emission cannot express). An in-order
    * replay reproduces the batch SCD2 exactly.
    */
  def scd2Stateful(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    def micros(ts: java.sql.Timestamp): Long =
      ts.getTime * 1000 + ts.getNanos / 1000 % 1000
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .as[(Long, java.sql.Timestamp, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[CdcState, CdcVersion](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (userId, rows, state: GroupState[CdcState]) =>
          val sorted = rows.toSeq.sortBy(r => (micros(r._2), r._3))
          val init = state.getOption.getOrElse(CdcState(Seq.empty))
          val points = sorted.foldLeft(init.points) { case (ps, (_, ts, id, tpe)) =>
            if (ps.nonEmpty && ps.last._1 == tpe) ps
            else ps :+ ((tpe, micros(ts), id))
          }
          state.update(CdcState(points))
          points.zipWithIndex.iterator.map { case ((tpe, ts, _), i) =>
            val to = if (i + 1 < points.length) Some(points(i + 1)._2) else None
            CdcVersion(userId, i + 1, tpe, ts, to, to.isEmpty)
          }
      }
      .toDF("user_id", "version", "state", "valid_from_us", "valid_to_us", "is_current")
  }

  /** Streaming heavy hitters with SHARDED Space-Saving state — the
    * streaming form of [[graft.operators.HeavyHitters.exact]]: items hash
    * to `numShards` state keys, each shard folds its stream through a
    * bounded m-entry Space-Saving summary
    * ([[graft.operators.HeavyHitters.spaceSavingFold]]) and re-emits its
    * current top `k` each batch (Update mode — counts only grow, so a
    * keyed sink upserts). Sharding is what scales: state and per-batch
    * work hash-partition instead of funneling the stream through one
    * global summary task, and since an item's counts live wholly in its
    * shard, the global top-k is exactly the best k of the ≤ shards·k
    * emitted rows — a bounded sink-side re-rank.
    *
    * With m ≥ a shard's distinct items the summary is exact (the declared
    * query's configuration — full hash oracle); undersized m degrades
    * gracefully to the classical ≤ N/m overcount, spec-asserted on the
    * kernel.
    */
  def heavyHittersStateful(events: DataFrame, itemCol: String = "user_id",
      m: Int = 65536, k: Int = 10, numShards: Int = 8): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col(itemCol)).as[Long]
      .groupByKey(x => math.floorMod(java.lang.Long.hashCode(x), numShards))
      .flatMapGroupsWithState[SSState, SSItem](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (_, rows, state: GroupState[SSState]) =>
          val summary = graft.operators.HeavyHitters.spaceSavingFold(
            state.getOption.map(_.items).getOrElse(Seq.empty), rows, m)
          state.update(SSState(summary))
          summary.take(k).iterator.map { case (i, c, _) => SSItem(i, c) }
      }
      .toDF(itemCol, "n")
  }

  /** Streaming gaps-and-islands — the streaming form of
    * [[graft.operators.EventOps.mergeIntervals]]: each event opens a
    * `lengthMinutes` interval; per user, intervals that overlap (or sit
    * within `gapSeconds`) coalesce into maximal islands.
    *
    * State per key is O(1): the count of islands already closed plus the
    * single OPEN island. The within-batch greedy scan runs over
    * (lo, hi, tie)-sorted intervals — the same order as the batch window
    * formulation — closing an island (and emitting it, final) whenever the
    * next interval starts strictly past the open end plus the gap, exactly
    * the batch predicate. The open island is (re-)emitted at the end of
    * each batch: it is the one row a later batch may still widen, so a
    * keyed sink upserts it by (user_id, island) while closed islands never
    * change. On a bounded single-batch replay the emission set IS the batch
    * result; like the other stateful forms, cross-batch correctness assumes
    * per-key in-order delivery (a replayed log / time-ordered file feed).
    */
  def mergeIntervalsStateful(events: DataFrame, lengthMinutes: Int = 30,
                             gapSeconds: Long = 0L): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val lenUs = lengthMinutes * 60L * 1000000L
    val gapUs = gapSeconds * 1000000L
    def micros(ts: java.sql.Timestamp): Long =
      ts.getTime * 1000 + ts.getNanos / 1000 % 1000
    events
      .select(col("user_id"), col("ts"), col("event_id"))
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[IslandState, UserIsland](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (userId, rows, state: GroupState[IslandState]) =>
          val ivs = rows.map { case (_, ts, id) =>
            val lo = micros(ts); (lo, lo + lenUs, id)
          }.toSeq.sorted
          var st = state.getOption.getOrElse(IslandState(0, Long.MinValue, 0L, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[UserIsland]
          ivs.foreach { case (lo, hi, _) =>
            if (st.startUs == Long.MinValue)
              st = IslandState(st.closed, lo, hi, 1L)
            else if (lo > st.endUs + gapUs) {
              out += UserIsland(userId, st.closed, st.startUs, st.endUs, st.n)
              st = IslandState(st.closed + 1, lo, hi, 1L)
            } else
              st = IslandState(st.closed, st.startUs, math.max(st.endUs, hi), st.n + 1L)
          }
          state.update(st)
          if (st.startUs != Long.MinValue)
            out += UserIsland(userId, st.closed, st.startUs, st.endUs, st.n)
          out.iterator
      }
      .toDF("user_id", "island", "start_us", "end_us", "n")
  }

  /** Streaming conversion attribution — the streaming form of the
    * first/last-touch window attribution (q_ext_attr1). Per-user state is
    * O(|touch types|²): the first and most recent preceding non-purchase
    * touch plus per-(last,first)-pair running conversion totals; each batch
    * folds its time-sorted events in and re-emits the user's full pair list
    * (Update mode) for a keyed sink to upsert. A bounded in-order replay
    * reproduces the batch window attribution exactly — at 100 TB the state
    * never holds event history, only the pair matrix.
    */
  def attributionStateful(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    def micros(ts: java.sql.Timestamp): Long =
      ts.getTime * 1000 + ts.getNanos / 1000 % 1000
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"), col("value"))
      .as[(Long, java.sql.Timestamp, Long, String, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[AttrState, AttrConv](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (userId, rows, state: GroupState[AttrState]) =>
          val sorted = rows.toSeq.sortBy(r => (micros(r._2), r._3))
          var st = state.getOption.getOrElse(AttrState("", "", Nil))
          sorted.foreach { case (_, _, _, tpe, value) =>
            if (tpe != "purchase")
              st = AttrState(if (st.first.isEmpty) tpe else st.first, tpe, st.pairs)
            else if (st.last.nonEmpty) {
              val i = st.pairs.indexWhere(p => p._1 == st.last && p._2 == st.first)
              val pairs =
                if (i < 0) st.pairs :+ ((st.last, st.first, 1L, value))
                else st.pairs.updated(i, (st.last, st.first,
                  st.pairs(i)._3 + 1L, st.pairs(i)._4 + value))
              st = AttrState(st.first, st.last, pairs)
            }
          }
          state.update(st)
          st.pairs.iterator.map { case (l, f, n, rev) => AttrConv(userId, l, f, n, rev) }
      }
      .toDF("user_id", "last_touch", "first_touch", "n_conv", "revenue")
  }

  /** Streaming fixed-width value histogram per event type — the bounded
    * sketch behind streaming quantile estimates: state is the (bin, count)
    * map, sized by the value range over `binWidth` regardless of event
    * volume; each batch folds its values in and re-emits the type's full
    * histogram (Update mode) for a keyed sink to upsert. Downstream,
    * cumulative-sum windows over the bins give p50/p95 estimates with
    * integer-exact arithmetic — and the fold is exactly the batch
    * `floor(value/binWidth)` groupBy, so a full SQL oracle applies (not
    * just an error bound).
    */
  def histogramStateful(events: DataFrame, binWidth: Double): DataFrame = {
    require(binWidth > 0, "histogramStateful: binWidth must be positive")
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("event_type"), col("value"))
      .as[(String, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[HistState, HistBin](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (tpe, rows, state: GroupState[HistState]) =>
          val m = scala.collection.mutable.Map.empty[Long, Long]
          state.getOption.foreach(_.bins.foreach { case (b, n) => m(b) = n })
          rows.foreach { case (_, v) =>
            val b = math.floor(v / binWidth).toLong
            m(b) = m.getOrElse(b, 0L) + 1L
          }
          state.update(HistState(m.toSeq))
          m.iterator.map { case (b, n) => HistBin(tpe, b, n) }
      }
      .toDF("event_type", "bin", "n")
  }

  /** Durable-sink variant: run a (stateless or append-safe) streaming
    * transform to completion into a parquet directory with a checkpoint —
    * the production shape (exactly-once via checkpoint + file-sink manifest;
    * a restart resumes from the checkpoint instead of reprocessing).
    * Returns a batch DataFrame over the written output.
    */
  def runToParquet(spark: SparkSession, dir: String,
                   transform: DataFrame => DataFrame,
                   outDir: String, checkpointDir: String): DataFrame = {
    val q = transform(readEventsStream(spark, dir))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(outDir)
  }

  /** Streaming exact dedup with bounded state: first event per
    * (user_id, event_type) wins, duplicates arriving within the watermark
    * horizon are dropped, state for keys older than the watermark is
    * evicted (`dropDuplicatesWithinWatermark`, the unbounded-safe form of
    * streaming dropDuplicates).
    */
  def dedupStream(events: DataFrame, keys: Seq[String]): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-stream interval join: each purchase joined to the same user's
    * clicks within the preceding `windowMinutes`. Both sides carry
    * watermarks so the join state is bounded (clicks older than the window
    * past the watermark are evicted) — the canonical unbounded-join shape.
    * On a bounded AvailableNow replay the output equals the batch
    * equi+range join exactly (EventStreamsSpec).
    */
  def purchaseClickJoin(events: DataFrame, windowMinutes: Int = 60): DataFrame = {
    // watermarks must cover the join window, or state for clicks older than
    // the watermark is evicted while the condition still wants them —
    // derive from windowMinutes rather than hardcoding
    val wm = s"$windowMinutes minutes"
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_uid"), col("ts").as("p_ts"))
      .withWatermark("p_ts", wm)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_uid"), col("ts").as("c_ts"))
      .withWatermark("c_ts", wm)
    purchases.join(clicks,
      col("p_uid") === col("c_uid") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $windowMinutes MINUTES") &&
        col("c_ts") <= col("p_ts"))
      .select(col("p_id"), col("c_id"), col("p_uid").as("user_id"))
  }

  /** Stream-stream range join with NO equi-key — the streaming form of
    * [[graft.operators.RangeJoin.pointInInterval]]: every click (ANY user)
    * within the `lookbackMinutes` before each purchase.
    *
    * Spark's stream-stream join hash-partitions both sides' state on the
    * join's equality keys; without one the shape is not merely slow, it is
    * INEXPRESSIBLE (batch Catalyst at least falls back to a nested loop —
    * streaming refuses the plan). The bucket trick manufactures the key:
    * each purchase's `[ts - lookback, ts]` interval explodes to the time
    * buckets it spans (≤ 2 at the default width = the lookback), each click
    * maps to exactly one bucket, and the join runs as a standard
    * watermark-bounded stream-stream equi-join on the bucket id plus the
    * exact time-range predicate. A true pair co-occurs only in the click's
    * bucket, so output is exactly-once with no dedup. Both watermarks cover
    * the lookback, and the time-range condition lets expired click state be
    * evicted — state stays bounded on an unbounded stream.
    */
  def rangeJoinStream(events: DataFrame, lookbackMinutes: Int = 10,
                      bucketSeconds: Long = 0L): DataFrame = {
    val width = if (bucketSeconds > 0) bucketSeconds else lookbackMinutes * 60L
    val wm = s"$lookbackMinutes minutes"
    def bucketOf(c: org.apache.spark.sql.Column) = floor(unix_timestamp(c) / width)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", wm)
      .withColumn("p_bucket", explode(sequence(
        bucketOf(col("p_ts") - expr(s"INTERVAL $lookbackMinutes MINUTES")),
        bucketOf(col("p_ts")))))
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", wm)
      .withColumn("c_bucket", bucketOf(col("c_ts")))
    purchases.join(clicks,
        col("p_bucket") === col("c_bucket") &&
          col("c_ts") >= col("p_ts") - expr(s"INTERVAL $lookbackMinutes MINUTES") &&
          col("c_ts") <= col("p_ts"))
      .select(col("p_id"), col("c_id"))
  }

  /** Footer-negotiated streaming read of a staged events directory, same
    * contract as readEventsStream (staging writes decoded
    * TIMESTAMP(MICROS) now, but a raw-nanos staging from an older producer
    * still reads correctly).
    */
  private def stagedEventsStream(spark: SparkSession, sourceDir: String,
                                 maxFilesPerTrigger: Int): DataFrame = {
    val srcInfo = graft.Tables.eventsTsInfo(spark, sourceDir)
    if (graft.Tables.eventsNeedsNanosDecode(spark, sourceDir))
      spark.readStream.schema(eventsRawSchema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(sourceDir)
        .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    else
      spark.readStream.schema(graft.Tables.eventsDecodedSchema(srcInfo.adjustedToUTC))
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(sourceDir)
        .withColumn("ts", col("ts").cast(TimestampType))
  }

  /** BatchId high-water marker under a checkpoint dir: re-delivered batches
    * (foreachBatch's at-least-once) are detected and skipped.
    */
  private final class BatchMarker(spark: SparkSession, checkpointDir: String) {
    private val path = new org.apache.hadoop.fs.Path(checkpointDir, "_graft_last_merged")
    private val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    def lastMerged: Long =
      if (!fs.exists(path)) -1L
      else {
        val buf = new Array[Byte](fs.getFileStatus(path).getLen.toInt)
        val in = fs.open(path)
        try in.readFully(buf) finally in.close()
        new String(buf, java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      }
    def record(batchId: Long): Unit = {
      val out = fs.create(path, true)
      try out.write(batchId.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
  }

  /** Streaming incremental aggregation MERGED into a [[graft.sources.ParquetDatabase]]
    * — the streaming-materialized-view sink: each micro-batch's per-key
    * partial aggregate is added into the stored totals via the file-scoped
    * `upsert`, so the table converges to the full-history aggregate no
    * matter how the input splits into micro-batches (the partials must be
    * ADDITIVE — counts, sums — so batch order can't matter). This is what a
    * deployment runs instead of Complete-mode memory sinks: state lives in
    * the table, the stream holds none, and each tick rewrites only the
    * files holding touched keys.
    *
    * Exactly-once: foreachBatch can re-deliver a batch after a crash, and a
    * re-merged additive partial would DOUBLE-count — so the last merged
    * batchId is recorded in the checkpoint dir and replayed ids are
    * skipped. The marker shares the checkpoint's lifecycle (a fresh
    * checkpoint = a new pipeline = start from a fresh table). Honest limit:
    * the table commit and the marker write are two filesystem operations —
    * a crash BETWEEN them re-merges that one batch on restart. Closing that
    * window needs an atomic commit of data+watermark (a transactional table
    * format's single-manifest swap); on plain parquet the exposure is one
    * batch, detectable by comparing the marker to the checkpoint's offsets.
    *
    * @param partialAgg batch → (keyCol, additive numeric columns). The
    *   merge coalesces missing sides to zero, adds, and casts back to the
    *   partial's column types so the table schema cannot drift (decimal
    *   addition would otherwise widen precision every batch).
    */
  def mergeStreamToTable(spark: SparkSession, sourceDir: String,
                         partialAgg: DataFrame => DataFrame, keyCol: String,
                         tableDir: String, checkpointDir: String,
                         maxFilesPerTrigger: Int = 1): graft.sources.ParquetDatabase = {
    val db = new graft.sources.ParquetDatabase(spark, tableDir)
    val marker = new BatchMarker(spark, checkpointDir)
    def lastMerged: Long = marker.lastMerged
    val src = stagedEventsStream(spark, sourceDir, maxFilesPerTrigger)
    // scope a small shuffle-partition count to the WHOLE replay (not just
    // the stream start as in runToMemory): foreachBatch's inner
    // aggregate/merge/upsert jobs are BATCH plans created per micro-batch,
    // so they read the session conf at their own plan time — every one of
    // them re-shuffles a keys-sized table where the batch session's count
    // is pure overhead. Restored after termination; the engine's drivers
    // never plan unrelated queries concurrently with a bounded replay.
    val partKey = "spark.sql.shuffle.partitions"
    val oldParts = spark.conf.get(partKey)
    try {
      spark.conf.set(partKey, "8")
      val q = src.writeStream
        .option("checkpointLocation", checkpointDir)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (batchId > lastMerged) {
            val partial = partialAgg(batch)
            val valueCols = partial.columns.filterNot(_ == keyCol).toSeq
            if (!db.exists) db.create(partial)
            else {
              // touch only stored rows for keys in this batch: the semi-join
              // keeps the read (and the later upsert rewrite) ∝ batch keys
              val existing = db.read()
                .join(partial.select(col(s"`$keyCol`")), Seq(keyCol), "left_semi")
              val joined = existing.select(
                  col(s"`$keyCol`") +: valueCols.map(c => col(s"`$c`").as(s"__old_$c")): _*)
                .join(partial, Seq(keyCol), "full_outer")
              val merged = joined.select(
                col(s"`$keyCol`") +: valueCols.map { c =>
                  (coalesce(col(s"`__old_$c`"), lit(0)) + coalesce(col(s"`$c`"), lit(0)))
                    .cast(partial.schema(c).dataType).as(c)
                }: _*)
              db.upsert(merged, keyCol)
            }
            marker.record(batchId)
          }
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally spark.conf.set(partKey, oldParts)
    db
  }

  /** Streaming DISTINCT-COUNT maintenance — the stream form of the bucketed
    * HLL store refresh (q_ext_hll1's deployment shape): the staged source
    * replays one file per micro-batch, and each batch folds into the store
    * via [[graft.operators.DistinctSketch.mergeBatchIntoBucketedStore]] —
    * per batch the store pays O(touched buckets · keys), history is never
    * re-read, and the batchId marker skips re-delivered batches (HLL union
    * would also absorb an exact re-merge idempotently, but the marker keeps
    * the touched-bucket rewrites off the redelivery path entirely). Every
    * batch is a plain merge: the first one, into an absent store, builds
    * it. Returns the last merged batchId so callers can assert the replay
    * genuinely spanned batches.
    */
  def distinctStoreStream(spark: SparkSession, sourceDir: String,
                          keys: Seq[String], itemCol: String,
                          storeDir: String, checkpointDir: String,
                          nBuckets: Int = 16, maxFilesPerTrigger: Int = 1): Long = {
    val marker = new BatchMarker(spark, checkpointDir)
    val src = stagedEventsStream(spark, sourceDir, maxFilesPerTrigger)
    // the stream is THE single writer of its store (streaming contract), so
    // stream start is a quiesced point: roll back a crashed prior run's
    // commit here — merges abort loudly on its manifest rather than
    // recovering (a live peer's commit looks exactly the same)
    graft.sources.FileCommit.recover(spark, storeDir)
    val partKey = "spark.sql.shuffle.partitions"
    val oldParts = spark.conf.get(partKey)
    try {
      spark.conf.set(partKey, "8")
      val q = src.writeStream
        .option("checkpointLocation", checkpointDir)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (batchId > marker.lastMerged) {
            graft.operators.DistinctSketch.mergeBatchIntoBucketedStore(
              spark, batch, keys, itemCol, storeDir, nBuckets)
            marker.record(batchId)
          }
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally spark.conf.set(partKey, oldParts)
    marker.lastMerged
  }

  /** Run a streaming transform of the events table to completion with
    * Trigger.AvailableNow into an in-memory table, and return the final
    * result. This is the harness entry point — it proves the streaming
    * pipeline computes the same answer the batch oracle does on a bounded
    * replay. (The memory sink is test-scale only; production uses a durable
    * sink.)
    */
  def runToMemory(spark: SparkSession, dir: String,
                  transform: DataFrame => DataFrame,
                  mode: OutputMode, name: String): DataFrame = {
    spark.streams.active.filter(_.name == name).foreach(_.stop())
    // a streaming query pins shuffle partitions at start, and every stateful
    // operator allocates one state store PER partition (a stream-stream join
    // allocates four) — at the batch session's partition count that is pure
    // per-micro-batch overhead for bounded replays. Scope a smaller count to
    // the stream start; batch queries planned after this are unaffected
    // because the conf is restored immediately.
    val partKey = "spark.sql.shuffle.partitions"
    val oldParts = spark.conf.get(partKey)
    // RAM-backed checkpoint (graft.Scratch): a bounded replay's wall clock
    // otherwise tracks the host's disk load through checkpoint fsyncs —
    // measured time should reflect the plan, not a busy neighbor. Fresh per
    // start (a reused checkpoint would resume, not replay) and deleted
    // right after termination.
    val ck = graft.Scratch.fresh(s"ck_$name")
    val q =
      try {
        spark.conf.set(partKey, "8")
        transform(readEventsStream(spark, dir))
          .writeStream
          .format("memory")
          .queryName(name)
          .option("checkpointLocation", ck)
          .outputMode(mode)
          .trigger(Trigger.AvailableNow())
          .start()
      } finally spark.conf.set(partKey, oldParts)
    try q.awaitTermination()
    finally graft.Scratch.delete(ck)
    // Update-mode memory sinks APPEND each micro-batch's emissions: with
    // more than one batch the table would hold stale rows alongside final
    // ones. The single-batch assumption must fail loudly, not silently.
    if (mode == OutputMode.Update) {
      val batches = q.recentProgress.count(_.numInputRows > 0)
      require(batches <= 1,
        s"runToMemory($name): Update-mode replay spanned $batches micro-batches — " +
          "memory sink would contain stale per-batch rows; use a keyed sink or single-batch input")
    }
    spark.table(name)
  }
}
