package graft.schema

import graft.SparkSpec
import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, CaseWhen, LambdaFunction}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

class SchemaOpsSpec extends SparkSpec {
  import spark.implicits._

  test("conformToSchema null-fills missing fields recursively, incl. inside arrays of structs") {
    val df = spark.read.json(spark.createDataset(Seq(
      """{"source_id":"x","structure":{"sites":[{"label":"A","abc":[0.1]}]},"data":{"band_gap":1.5}}""")))
    val out = SchemaOps.conformToSchema(df, CrystalSchema.schema)
    assert(out.schema === CrystalSchema.schema)
    val row = out.select(
      col("source_id"),
      col("structure.sites")(0).getField("label"),
      col("structure.sites")(0).getField("properties").isNull,
      col("data.band_gap"), col("data.energy_total").isNull,
      col("symmetry").isNull).head()
    assert(row === Row("x", "A", true, 1.5, true, true))
  }

  /** The rebuild nodes in `df`'s optimized plan, by kind. */
  private def rebuilds(df: org.apache.spark.sql.DataFrame): Map[String, Int] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case _: ArrayTransform => "ArrayTransform"
      case _: LambdaFunction => "LambdaFunction"
      case _: CaseWhen => "CaseWhen"
    })).groupBy(identity).map { case (k, v) => k -> v.size }

  test("conformToSchema is idempotent") {
    val df = spark.read.json(spark.createDataset(Seq(
      """{"source_id":"x","species":["A","B"],"lattice":{"a":1.0,"volume":2.0},
        |"structure":{"sites":[{"label":"A","abc":[0.1],"species":[{"element":"A","occu":1}]}]},
        |"data":{"band_gap":1.5}}""".stripMargin.replace("\n", ""),
      """{"source_id":"y"}""")))
    val once = SchemaOps.conformToSchema(df, CrystalSchema.schema)
    val twice = SchemaOps.conformToSchema(once, CrystalSchema.schema)
    assert(once.schema === CrystalSchema.schema)
    assert(twice.schema === CrystalSchema.schema)
    assert(once.orderBy("source_id").collect() === twice.orderBy("source_id").collect())
    // the first conform rebuilds the JSON shapes; the second passes every
    // already-canonical column through and rebuilds nothing more
    assert(rebuilds(once).getOrElse("ArrayTransform", 0) > 0)
    assert(rebuilds(twice) === rebuilds(once))
  }

  test("conformToSchema still conforms subtrees that differ in nullability, field order or element type") {
    val lattice = struct(lit(90.0).as("gamma"), lit(2.0).as("a"), lit(8.0).as("volume"))
    val symmetry = struct(lit("cubic").as("crystal_system"), lit("Pm-3m").as("symbol"),
      lit(221).as("number"), lit("m3m").as("point_group"), lit(0.01).as("symprec"),
      lit(5.0).as("angle_tolerance"), lit("2").as("version"))
    val first = col("id") === 0
    val df = spark.range(2).select(
      lit("mp").as("source_database"), // non-nullable literal
      col("id").cast("string").as("source_id"),
      when(first, array(lit("A"), lit("B"))).as("species"), // array<string> without nulls
      when(first, array(array(lit(1L), lit(2L)))).as("frac_coords"), // long elements
      when(first, lattice).as("lattice"), // fields out of order, some missing
      when(first, symmetry).as("symmetry")) // non-nullable fields only
    val out = SchemaOps.conformToSchema(df, CrystalSchema.schema)
    assert(out.schema === CrystalSchema.schema)
    // the relaxed nullability survives optimization, so it reaches a writer
    assert(out.queryExecution.optimizedPlan.schema === CrystalSchema.schema)
    val rows = out.orderBy("source_id").select(col("source_database"), col("species"),
      col("frac_coords"), col("lattice.a"), col("lattice.gamma"), col("lattice.volume"),
      col("lattice.matrix").isNull, col("symmetry.number"), col("symmetry.version"),
      col("lattice").isNull, col("symmetry").isNull).collect()
    assert(rows(0) === Row("mp", Seq("A", "B"), Seq(Seq(1.0, 2.0)), 2.0, 90.0, 8.0, true, 221, "2",
      false, false))
    // null structs and null arrays stay null
    assert(rows(1) === Row("mp", null, null, null, null, null, true, null, null, true, true))
  }

  test("conformToSchema preserves null structs (no structs-of-nulls)") {
    val df = spark.read.json(spark.createDataset(Seq(
      """{"source_id":"a","symmetry":{"number":221}}""", """{"source_id":"b"}""")))
    val out = SchemaOps.conformToSchema(df, CrystalSchema.schema).orderBy("source_id")
    val rows = out.select(col("symmetry").isNull, col("symmetry.number")).collect()
    assert(rows(0) === Row(false, 221))
    assert(rows(1) === Row(true, null))
  }

  test("unflatten(flatten(df)) round-trips schema and data") {
    val df = Seq((1L, "s1", 2.0, 3L), (2L, "s2", 4.0, 5L))
      .toDF("k", "a", "b", "c")
      .select(col("k"), struct(col("a"), struct(col("b"), col("c")).as("inner")).as("nested"))
    val flat = SchemaOps.flatten(df)
    assert(flat.columns.toSeq === Seq("k", "nested.a", "nested.inner.b", "nested.inner.c"))
    val back = SchemaOps.unflatten(flat)
    assert(back.schema === df.schema)
    assert(back.orderBy("k").collect() === df.orderBy("k").collect())
  }

  test("flatten leaves arrays intact") {
    val df = Seq((1L, Seq(1.0, 2.0))).toDF("k", "xs")
      .select(col("k"), struct(col("xs")).as("s"))
    val flat = SchemaOps.flatten(df)
    assert(flat.columns.toSeq === Seq("k", "s.xs"))
    assert(flat.select(col("`s.xs`")).head().getSeq[Double](0) === Seq(1.0, 2.0))
  }
}
