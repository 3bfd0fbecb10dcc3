package perfbench

/** Per-layer metrics of a traced run, computed from the spans the
  * workloads record around each library call. `.s` of a per-operation
  * layer is the median seconds of one call; `.s` of a phase (load, build,
  * maintenance) is its total seconds in the run. A layer the workload does
  * not call reports 0. Keys the workload measures itself (result sizes,
  * file listings) come from [[Outcome.layers]].
  */
object Layers {
  private val perCall = Seq("pdb.read", "pdb.upsert", "pdb.delete", "ivf.probe",
    "minhash.probe", "ivf.append", "minhash.append")
  private val phases = Map(
    "loaders.run" -> Seq("loaders.run"), "schema.conform" -> Seq("schema.conform"),
    "pdb.create" -> Seq("pdb.create"), "pdb.maint" -> Seq("pdb.normalize", "pdb.compact"),
    "ivf.build" -> Seq("ivf.build"), "minhash.build" -> Seq("minhash.build"),
    "minhash.compact" -> Seq("minhash.compact"), "ivf.rebalance" -> Seq("ivf.rebalance"),
    "text.curate" -> Seq("text.curate"))

  /** Keys a workload fills in through [[Outcome.layers]] (0 elsewhere). */
  val workloadKeys: Seq[String] = Seq("pdb.read.rows_per_result", "pdb.write.files_rewritten",
    "pdb.files", "pdb.leftover_dirs", "ivf.k", "ivf.probe.nprobe")

  def metrics(t: Tracer, out: Outcome, cores: Int): Map[String, Double] = {
    def named(ns: String*) = t.spans.filter(s => ns.contains(s.name)).toSeq
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Samples.median(xs)
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    perCall.foreach(n => m(s"$n.s") = med(named(n).map(_.dur / 1e3)))
    phases.foreach { case (k, ns) => m(s"$k.s") = named(ns: _*).map(_.dur / 1e3).sum }
    workloadKeys.foreach(k => m(k) = out.layers.getOrElse(k, 0.0))

    m("pdb.create.bytes_written") = named("pdb.create").map(t.countsOf(_).outputBytes.toDouble).sum
    val reads = named("pdb.read")
    m("pdb.read.driver_s") = med(reads.map(t.driverMs(_) / 1e3))
    m("pdb.read.files_read") = med(reads.map(s => t.plansOf(s).map(_.filesRead.toDouble).sum))
    m("pdb.read.input_bytes") = med(reads.map(t.countsOf(_).inputBytes.toDouble))
    val writes = named("pdb.upsert", "pdb.delete")
    m("pdb.write.driver_s") = med(writes.map(t.driverMs(_) / 1e3))
    m("pdb.write.bytes_rewritten") = med(writes.map(t.countsOf(_).outputBytes.toDouble))
    m("pdb.maint.bytes_rewritten") =
      named("pdb.normalize", "pdb.compact").map(t.countsOf(_).outputBytes.toDouble).sum

    m("ivf.probe.vectors_scored") = med(named("ivf.probe").map(s =>
      t.plansOf(s).map(_.scanRows.getOrElse("assigned", 0L).toDouble).sum))
    val probes = named("minhash.probe")
    val candidates = probes.map(s => t.plansOf(s).map(_.candidates.toDouble).sum)
    m("minhash.probe.candidates") = med(candidates)
    m("minhash.probe.verify_ratio") =
      if (candidates.sum == 0) 0.0 else out.layers.getOrElse("minhash.probe.pairs", 0.0) / candidates.sum
    m("minhash.probe.shuffle_bytes") = med(probes.map(t.countsOf(_).shuffleWrite.toDouble))

    val batches = t.batches.toSeq
    m("stream.batch.s") = med(batches.map(_.triggerMs / 1e3))
    m("stream.batch.add_s") = med(batches.map(_.addBatchMs / 1e3))
    m("stream.batch.overhead_s") = med(batches.map(b => (b.triggerMs - b.addBatchMs) / 1e3))


    val c = t.total
    m("spark.tasks") = c.tasks.toDouble
    m("spark.task_s") = c.taskMs / 1e3
    m("spark.cpu_s") = c.cpuNs / 1e9
    m("spark.gc_s") = c.gcMs / 1e3
    m("spark.sched_wait_s") = c.schedWaitMs / 1e3
    m("spark.core_util") = if (out.wallS > 0) c.taskMs / 1e3 / (out.wallS * cores) else 0.0
    m("spark.shuffle_read_bytes") = c.shuffleRead.toDouble
    m("spark.shuffle_write_bytes") = c.shuffleWrite.toDouble
    m("spark.spill_bytes") = c.spill.toDouble
    m("spark.peak_exec_mem_bytes") = c.peakExecMem.toDouble
    m("spark.unattributed_jobs") = t.unattributedJobs.toDouble
    m.toMap
  }
}
