package graft

object Bench {

  /** Serialize a Double without scientific notation, 3-decimal cap. */
  private def d3(v: Double): String = {
    val r = math.rint(v * 1000) / 1000
    if (r == r.toLong) r.toLong.toString else BigDecimal(r).bigDecimal.toPlainString
  }

  private def esc(s: String): String =
    s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString }

  /** Host 1/5/15-min load averages, or (-1,-1,-1) off-Linux. Captured at
    * bench start AND end into the emitted artifacts: the r14 consolidated
    * record was silently inflated 1.4× by self-inflicted box load, and a
    * record that can't prove it ran on a quiet host can't be told apart
    * from a plan regression. */
  def loadAvg(): (Double, Double, Double) =
    try {
      val parts = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).split("\\s+")
      (parts(0).toDouble, parts(1).toDouble, parts(2).toDouble)
    } catch { case _: Throwable => (-1.0, -1.0, -1.0) }

  /** An official (re-baselinable) record requires a quiet host at START:
    * 1-min load below this on the 32-core box (the bench itself drives the
    * END load, so only the start value is diagnostic). Records over the
    * threshold are emitted with "load_ok":false — BASELINE.md's rule is
    * that such a record must not re-baseline and must be re-taken idle. */
  val MaxStartLoad1m = 4.0

  /** Aggregate jiffies (user…steal) from /proc/stat line 1, or null
    * off-Linux. Loadavg only sees THIS guest's runnable queue; on a
    * co-tenant VM the hypervisor can still take 10–25% of the bench's
    * cycles as STEAL (measured on this box: 10.9% steal under a full
    * 32-core burn at an idle-by-loadavg moment), which inflates wall-clock
    * uniformly and is invisible to load_ok. The start→end delta of the
    * steal fraction is recorded per run so a slow record carries its own
    * exoneration (or indictment). */
  def cpuJiffies(): Array[Long] =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/stat"))).linesIterator.next()
      .trim.split("\\s+").drop(1).map(_.toLong)
    catch { case _: Throwable => null }

  /** steal% and busy% (non-idle, non-iowait) of the interval between two
    * jiffy snapshots; (-1,-1) when unavailable. */
  def cpuDelta(a: Array[Long], b: Array[Long]): (Double, Double) =
    if (a == null || b == null || a.length < 8 || b.length < 8) (-1.0, -1.0)
    else {
      val d = b.zip(a).map { case (y, x) => (y - x).toDouble }
      val tot = math.max(1.0, d.sum)
      val steal = 100.0 * d(7) / tot
      val busy = 100.0 * (tot - d(3) - d(4)) / tot // minus idle, iowait
      (math.rint(steal * 100) / 100, math.rint(busy * 100) / 100)
    }

  /** Seconds at regression-relevant width: 2 decimals under 10 s, 1 decimal
    * under 100 s, whole seconds above — a 10% delta stays visible at every
    * magnitude while the common sub-second entry costs 4 chars.
    */
  private def q2(v: Double): String = {
    val a = math.abs(v)
    val r = if (a < 10) math.rint(v * 100) / 100
    else if (a < 100) math.rint(v * 10) / 10
    else math.rint(v)
    if (r == r.toLong) r.toLong.toString else BigDecimal(r).bigDecimal.toPlainString
  }

  /** Driver's stdout retention, measured: BENCH_r* artifacts store exactly
    * the last 2000 chars, and anything the final JSON line loses off its
    * head loses the WHOLE line (BENCH_r05's 3.3k-char plain map parsed as
    * nothing, totals included). Budgeted a little under so a trailing
    * newline or runner suffix can't clip the head.
    */
  private[graft] val LineBudget = 1985

  /** The ONE JSON line the round driver parses from its stdout tail.
    *
    * Per-query timings ride a PLAIN `"queries":{name:sec}` map — the only
    * form the driver's per-query/scaling comparison consumes (the r6-r15
    * front-coded "qs" field kept full coverage inside the window but left
    * PERF.per_query dark for two rounds; its codec is deleted, and
    * tools/decode_bench.py alone reads those records). A COMPLETE plain
    * map cannot exist inside the 2000-char window at the current
    * inventory: the 193 names alone are 1727 chars and JSON
    * quoting/punctuation adds 4 per entry — 2.5k chars before the first
    * value is written. So the map carries the
    * SLOWEST K queries — every failed query first (negative seconds,
    * `v<0=failed`, so a failure can never be silently dropped off the
    * line), then descending median — with K maximized against the budget;
    * ~95-110 entries fit in practice, covering every query above the
    * sub-0.2 s scheduler-noise floor at sf0.1. "n_q"/"q_omitted" make the
    * truncation explicit, and the COMPLETE map (full precision, per-round
    * samples) is in BENCH_full_latest.json, committed per round as
    * BENCH_local_r<N>.json. Totals, n_failed, rounds, stat and the
    * load/steal provenance fields are unchanged from the r15 line.
    */
  def compactLine(medians: Seq[(String, Double)], total: Double, totalMin: Double,
                  nFailed: Int, rounds: Int, laStart: Double, laEnd: Double,
                  steal: Double, loadOk: Boolean, sfName: String,
                  budget: Int = LineBudget): String = {
    val (failed, ok) = medians.partition(_._2 < 0)
    val ranked = failed ++ ok.sortBy(-_._2)
    def line(k: Int): String = {
      val kept = ranked.take(k).map { case (n, v) => "\"" + esc(n) + "\":" + q2(v) }
      s"""{"metric":"total","value":${d3(total)},"unit":"sec","total_min":${d3(totalMin)},""" +
        s""""n_failed":$nFailed,"rounds":$rounds,"stat":"median","q_conv":"v<0=failed",""" +
        s""""la":[${d3(laStart)},${d3(laEnd)}],"steal":${d3(steal)},"load_ok":$loadOk,""" +
        s""""sf":"${esc(sfName)}","n_q":${medians.size},"q_omitted":${medians.size - math.min(k, ranked.size)},""" +
        s""""q_full":"BENCH_full_latest.json","queries":{${kept.mkString(",")}}}"""
    }
    // largest k that fits: line length is monotone in k, so walk down from
    // the full inventory (a 193-entry rebuild per step is microseconds)
    var k = ranked.size
    var out = line(k)
    while (out.length > budget && k > 0) { k -= 1; out = line(k) }
    out
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val laStart = loadAvg()
    val jfStart = cpuJiffies()
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    // Data-contract gate (round-7 lesson): a silent encoding drift in the
    // driver's parquet must fail the bench loudly at setup, not surface as
    // 5 mysterious blowups. Throws with a full schema diff.
    Tables.verifyContract(spark, sfDir)
    // untimed warmup: absorb session/scheduler/codegen startup so it isn't
    // attributed to whichever query happens to run first
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    def once(name: String, fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      // noop write materializes the full plan (projections, sorts, windows)
      // instead of letting count() prune it down to a row count.
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch {
          case e: Throwable =>
            errors.getOrElseUpdate(name,
              Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
            false
        }
      val sec = (System.nanoTime() - t0) / 1e9
      // Drop the query's persisted blocks (localCheckpoints, caches) OUTSIDE
      // its timing window. The operators checkpoint deliberately and a real
      // session releases those blocks when its DataFrames die; in the bench
      // loop 193 queries × 3 rounds stack ~579 dead checkpoint sets into an
      // 8 GiB heap faster than the reference-tracking ContextCleaner GCs
      // them, and the measured effect is a WITHIN-RUN slowdown (round totals
      // 325 → 376 → 397 s on an idle host) that reads as regression but is
      // storage-eviction + GC pressure from earlier queries' debris.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      spark.sharedState.cacheManager.clearCache()
      // failed queries report negative elapsed so they can't masquerade as
      // fast successes in the emitted JSON
      if (ok) sec else -sec
    }
    // Fixed name order × 3 interleaved rounds, per-query MEDIAN + MIN: a
    // single run carries ±20%+ scheduler/GC noise, and whichever queries run
    // while the session is still cold (file listing, JIT, codegen) absorb
    // seconds that aren't theirs. Interleaving whole rounds (not
    // back-to-back repeats) means cold costs land in round 1 only and the
    // median reflects the session-steady-state cost; the fixed order makes
    // rounds comparable across versions. The per-query MIN is emitted
    // alongside: one externally-loaded round can inflate a median-of-3, and
    // the min is the evidence that separates "the plan regressed" from "the
    // host was busy". A failure on ANY run keeps the negative marker — a
    // median over the surviving runs would smuggle a flaky query in as a
    // success.
    // Dev knobs for off-driver runs (the driver sets neither): ONLY narrows
    // to a comma-separated query subset, ROUNDS trims the interleaved round
    // count — the sf1 scale rehearsal runs the heavy families at rounds=2
    // without paying 3 full sweeps of a 10× dataset.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val rounds = sys.env.get("SPARK_GRAFT_BENCH_ROUNDS").map(_.toInt).getOrElse(3)
    val samples = (1 to rounds).map { _ =>
      ordered.map { case (name, fn) => name -> once(name, fn) }.toMap
    }
    def stat(name: String, pick: Seq[Double] => Double): Double = {
      val runs = samples.map(_(name))
      if (runs.exists(_ < 0)) runs.min // most-negative = failed marker
      else pick(runs)
    }
    val medians = ordered.map { case (n, _) => n -> stat(n, rs => rs.sorted.apply(rounds / 2)) }
    val mins = ordered.map { case (n, _) => n -> stat(n, _.min) }
    val total = medians.map(_._2).filter(_ >= 0).sum
    val totalMin = mins.map(_._2).filter(_ >= 0).sum
    val errJson = errors.map { case (k, v) => "\"" + k + "\":\"" + esc(v) + "\"" }
      .mkString("{", ",", "}")
    val laEnd = loadAvg()
    val (steal, busy) = cpuDelta(jfStart, cpuJiffies())
    val loadOk = laStart._1 < 0 || laStart._1 < MaxStartLoad1m
    def laJson(la: (Double, Double, Double)) =
      s"[${d3(la._1)},${d3(la._2)},${d3(la._3)}]"
    val loadJson =
      s""""loadavg_start":${laJson(laStart)},"loadavg_end":${laJson(laEnd)},""" +
        s""""steal_pct":${d3(steal)},"busy_pct":${d3(busy)},""" +
        s""""load_ok":$loadOk,"load_rule":"official record requires start 1-min load < $MaxStartLoad1m; steal_pct is the hypervisor tax over the whole run\""""
    if (!loadOk)
      Console.err.println(s"[bench] WARNING: start loadavg ${laStart._1} >= " +
        s"$MaxStartLoad1m — NOT an official record (load_ok=false); re-run idle")

    // FULL artifact (full names, full precision, median + min + raw rounds)
    // → a file, because the round driver retains only the last ~2000 chars
    // of stdout. This is what BENCH_local_r{N}.json is copied from.
    // A failed query is null in queries/queries_min (its detail lives in
    // "errors"; raw per-round elapsed — negative = that run failed — stays
    // in "samples" only), so no consumer mistakes a sentinel for a timing.
    def qmap(xs: Seq[(String, Double)]): String =
      xs.map { case (k, v) => "\"" + k + "\":" + (if (v < 0) "null" else v.toString) }
        .mkString("{", ",", "}")
    def qmapRaw(xs: Seq[(String, Double)]): String =
      xs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","total_min":$totalMin,""" +
        s""""queries":${qmap(medians)},"queries_min":${qmap(mins)},""" +
        s""""samples":[${samples.map(m => qmapRaw(ordered.map { case (n, _) => n -> m(n) })).mkString(",")}],""" +
        s""""failed_convention":"queries/queries_min: null = failed (see errors); samples: negative = that run failed",""" +
        s""""errors":$errJson,"n_failed":${errors.size},"rounds":$rounds,"stat":"median",$loadJson,"sf":"$sfDir"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_full_latest.json"),
      (fullJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))

    // COMPACT final line, sized for the driver's 2000-char stdout tail —
    // built by compactLine (plain "queries" map, slowest-first, budgeted).
    val line = compactLine(medians, total, totalMin, errors.size, rounds,
      laStart._1, laEnd._1, steal, loadOk, new java.io.File(sfDir).getName)
    if (errors.nonEmpty)
      Console.err.println(s"""[bench] errors: $errJson""")
    println(line)
    spark.stop()
  }
}
