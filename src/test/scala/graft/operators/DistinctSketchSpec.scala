package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DistinctSketchSpec extends SparkSpec {
  import spark.implicits._

  private def fixture = (0L until 20000L)
    .map(i => (s"g${i % 4}", (i * 2654435761L) % 3000L)).toDF("g", "item")

  test("incremental union stays within the single-pass error class") {
    val df = fixture
    val exact = df.groupBy("g").agg(countDistinct(col("item")).as("exact"))
    val merged = DistinctSketch.estimates(
      DistinctSketch.mergeSketchTables(
        DistinctSketch.sketchByKey(df.filter(col("item") % 2 === 0), Seq("g"), "item"),
        DistinctSketch.sketchByKey(df.filter(col("item") % 2 =!= 0), Seq("g"), "item"),
        Seq("g")), "est")
      .join(exact, "g")
    // merging two half-corpus sketches must not widen the error class:
    // the union lands within the same 10% band a single pass does
    assert(merged.filter(abs(col("est") - col("exact")) > col("exact") * 0.10).count() === 0)
  }

  test("estimates land within the classical HLL error of exact") {
    val df = fixture
    val got = DistinctSketch.estimates(
      DistinctSketch.sketchByKey(df, Seq("g"), "item"), "est")
      .join(df.groupBy("g").agg(countDistinct(col("item")).as("exact")), "g")
    val bad = got.filter(abs(col("est") - col("exact")) > col("exact") * 0.10).count()
    assert(bad === 0, "an estimate strayed past 10% of exact")
  }

  test("store round-trip: build, merge a batch, estimates track exact") {
    val dir = "target/tmp/distinct_sketch/store"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    val df = fixture
    val (b0, b1) = (df.filter(col("item") < 1500), df.filter(col("item") >= 1500))
    // one bucket: the flat form of the bucketed store
    DistinctSketch.buildBucketedStore(b0, Seq("g"), "item", dir, nBuckets = 1)
    DistinctSketch.mergeBatchIntoBucketedStore(spark, b1, Seq("g"), "item", dir, nBuckets = 1)
    val est = DistinctSketch.readEstimates(spark, dir, "est")
      .join(df.groupBy("g").agg(countDistinct(col("item")).as("exact")), "g")
    assert(est.count() === 4)
    assert(est.filter(abs(col("est") - col("exact")) > col("exact") * 0.10).count() === 0)
    // determinism: re-reading the stored sketches re-yields identical
    // estimates (the parquet round-trip is byte-faithful)
    val once = DistinctSketch.readEstimates(spark, dir, "est")
      .select(col("g"), col("est")).orderBy("g").collect().toSeq
    val again = DistinctSketch.readEstimates(spark, dir, "est")
      .select(col("g"), col("est")).orderBy("g").collect().toSeq
    assert(once === again)
  }

  test("bucketed store: a batch merge rewrites ONLY the buckets its keys hash into") {
    val dir = "target/tmp/distinct_sketch/bucketed"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(p, true)
    val df = fixture
    DistinctSketch.buildBucketedStore(df.filter(col("item") < 1500), Seq("g"), "item",
      dir, nBuckets = 8)
    // census of every bucket file before the merge
    def census(): Map[String, (Long, Long)] =
      fs.listStatus(p).filter(_.isDirectory).flatMap(d =>
        fs.listStatus(d.getPath).filter(_.isFile).map(f =>
          f.getPath.toString -> (f.getLen, f.getModificationTime))).toMap
    val before = census()
    // a single-key batch touches exactly one bucket
    val batch = df.filter(col("g") === "g1" && col("item") >= 1500)
    DistinctSketch.mergeBatchIntoBucketedStore(spark, batch, Seq("g"), "item",
      dir, nBuckets = 8)
    val after = census()
    val changed = (before.keySet ++ after.keySet)
      .filter(k => before.get(k) != after.get(k))
    val touchedDirs = changed.map(_.replaceAll("/[^/]*$", "")).toSet
    assert(touchedDirs.size === 1,
      s"expected exactly one rewritten bucket dir, got: $touchedDirs")
    // untouched buckets byte-identical (same files, lengths, mtimes)
    assert(before.filter { case (k, _) => !changed.contains(k) } ==
      after.filter { case (k, _) => !changed.contains(k) })
    // estimates over the whole store still track exact for the folded data
    val est = DistinctSketch.readEstimates(spark, dir, "est")
      .join(df.filter(col("item") < 1500).unionByName(batch)
        .groupBy("g").agg(countDistinct(col("item")).as("exact")), "g")
    assert(est.count() === 4)
    assert(est.filter(abs(col("est") - col("exact")) > col("exact") * 0.10).count() === 0)
    // crash-recovery contract: replaying the SAME batch is a no-op for the
    // estimates (HLL union is idempotent on identical inputs), so a merge
    // interrupted between bucket promotions converges by re-running it
    val snap = DistinctSketch.readEstimates(spark, dir, "est")
      .select(col("g"), col("est")).orderBy("g").collect().toSeq
    DistinctSketch.mergeBatchIntoBucketedStore(spark, batch, Seq("g"), "item",
      dir, nBuckets = 8)
    val replay = DistinctSketch.readEstimates(spark, dir, "est")
      .select(col("g"), col("est")).orderBy("g").collect().toSeq
    assert(replay === snap, "batch replay changed estimates — merge is not idempotent")
  }
}
