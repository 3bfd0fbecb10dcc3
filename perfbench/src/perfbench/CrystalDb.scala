package perfbench

import graft.schema.{CrystalSchema, SchemaOps}
import graft.sources.{LoaderConfig, LoaderRegistry, ParquetDatabase}
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.util.Locale
import scala.collection.mutable
import scala.util.Random

/** The reference's session on nested crystal records: `Loader.run()` over
  * raw Alexandria-shaped JSON, MP-shaped JSON and MC3D-shaped CIF files,
  * batched `ParquetDatabase.create` against the canonical schema, a 4:1
  * mix of projected nested reads and small patches/deletes, then
  * `normalize` + `compactSmallFiles` and a second read pass.
  *
  * The benchmark keeps its own model of every row it inserted, patched or
  * deleted; each read's row count and the final table are checked against it.
  */
object CrystalDb extends Workload {
  /** (loader database, dataset, records). The second MP batch omits symmetry and
    * has_props entirely; Alexandria and MC3D never carry them.
    */
  val Batches: Seq[(String, String, Int)] = Seq(
    ("alexandria", "3d", 1000), ("mp", "summary", 800), ("mp", "summary", 500),
    ("materials_cloud", "mc3d", 100))
  /** Mixed-phase operations per second of `--seconds`: the phase has a
    * fixed amount of work (about that long on a 4-core host), so every run
    * moves the table through the same states.
    */
  val OpsPerSecond = 2.0
  val SecondPassReads = 16
  val MaxRowsPerFile = 1500L
  val Elements: IndexedSeq[String] = IndexedSeq("H", "Li", "Be", "B", "C", "N", "O", "F", "Na",
    "Mg", "Al", "Si", "P", "S", "Cl", "K", "Ca", "Ti", "V", "Cr", "Mn", "Fe", "Co", "Ni", "Cu",
    "Zn", "Ga", "Ge", "Se", "Sr", "Zr", "Mo", "Ag", "Sn", "Ba", "La", "W", "Pt", "Au", "Pb")
  val SpaceGroups: IndexedSeq[Int] = IndexedSeq(1, 2, 12, 14, 15, 62, 63, 139, 166, 191, 194, 221, 225, 227, 229)

  /** The benchmark's model of one stored row. */
  final case class Rec(db: String, id: String, nsites: Int, ef: Option[Double], sg: Option[Int]) {
    def canon: String = s"$db|$id|$nsites|${ef.map(fmt).getOrElse("null")}|${sg.getOrElse("null")}"
  }

  def fmt(d: Double): String = String.format(Locale.ROOT, "%.6f", Double.box(d))
  private def round6(d: Double): Double = fmt(d).toDouble

  // ------------------------------------------------------------- generation
  private def sites(rng: Random): Int =
    math.min(64, 1 + math.floor(math.exp(rng.nextGaussian() * 0.9 + 0.9)).toInt)

  private def structureJson(rng: Random, n: Int): (String, Seq[String], (Double, Double, Double)) = {
    val (a, b, c) = (3 + rng.nextDouble() * 5, 3 + rng.nextDouble() * 5, 3 + rng.nextDouble() * 5)
    val els = Seq.fill(n)(Elements(rng.nextInt(Elements.size)))
    val siteJs = els.map { e =>
      val f = Seq.fill(3)(rng.nextDouble())
      val x = Seq(f(0) * a, f(1) * b, f(2) * c)
      s"""{"species":[{"element":"$e","occu":1}],"abc":[${f.map(fmt).mkString(",")}],""" +
        s""""xyz":[${x.map(fmt).mkString(",")}],"label":"$e",""" +
        s""""properties":{"magmom":${fmt(rng.nextDouble())},"charge":0.0,"forces":[0.0,0.0,0.0]}}"""
    }
    val lat = s"""{"matrix":[[${fmt(a)},0.0,0.0],[0.0,${fmt(b)},0.0],[0.0,0.0,${fmt(c)}]],""" +
      s""""a":${fmt(a)},"b":${fmt(b)},"c":${fmt(c)},"alpha":90.0,"beta":90.0,"gamma":90.0,""" +
      s""""pbc":[true,true,true],"volume":${fmt(a * b * c)}}"""
    (s"""{"@module":"pymatgen.core.structure","@class":"Structure","charge":0.0,""" +
      s""""lattice":$lat,"sites":[${siteJs.mkString(",")}]}""", els, (a, b, c))
  }

  /** Writes one batch's raw files under the loader's raw dir; returns its model rows. */
  private def writeBatch(rng: Random, dataDir: String, db: String, ds: String, batch: Int,
                         n: Int): Seq[Rec] = {
    val raw = s"$dataDir/raw/$db/$ds"
    db match {
      case "alexandria" =>
        val recs = (0 until n).map { i =>
          val id = f"agm-$batch%d-$i%05d"
          val ns = sites(rng)
          val (st, _, _) = structureJson(rng, ns)
          val ef = round6(-3 + rng.nextDouble() * 3)
          val js = s"""{"structure":$st,"data":{"mat_id":"$id","energy_total":${fmt(-10 * rng.nextDouble())},""" +
            s""""energy_corrected":${fmt(-10 * rng.nextDouble())},"e_form":${fmt(ef)},""" +
            s""""e_above_hull":${fmt(rng.nextDouble())},"e_phase_separation":${fmt(rng.nextDouble())},""" +
            s""""band_gap_ind":${fmt(3 * rng.nextDouble())},"band_gap_dir":${fmt(3 * rng.nextDouble())},""" +
            s""""dos_ef":${fmt(rng.nextDouble())},"total_mag":${fmt(rng.nextDouble())}}}"""
          (Rec(db, id, ns, Some(ef), None), js)
        }
        recs.grouped(500).zipWithIndex.foreach { case (g, k) =>
          Files.write(f"$raw/alexandria_$k%03d.json", g.map(_._2).mkString("{\"entries\":[", ",\n", "]}"))
        }
        recs.map(_._1)
      case "mp" =>
        val withSym = batch == 1
        val recs = (0 until n).map { i =>
          val id = f"mp-$batch%d$i%05d"
          val ns = sites(rng)
          val (st, _, _) = structureJson(rng, ns)
          val ef = round6(-3 + rng.nextDouble() * 3)
          val sg = SpaceGroups(rng.nextInt(SpaceGroups.size))
          val sym = if (!withSym) "" else
            s""","symmetry":{"crystal_system":"cubic","symbol":"S$sg","number":$sg,""" +
              s""""point_group":"m","symprec":0.01,"angle_tolerance":5.0,"version":"2.0"},""" +
              s""""has_props":{"materials":true,"thermo":${rng.nextBoolean()}}"""
          val js = s"""{"material_id":"$id","band_gap":${fmt(3 * rng.nextDouble())},""" +
            s""""total_energy":${fmt(-10 * rng.nextDouble())},"uncorrected_energy":${fmt(-10 * rng.nextDouble())},""" +
            s""""formation_energy_per_atom":${fmt(ef)},"e_above_hull":${fmt(rng.nextDouble())},""" +
            s""""total_magnetization":${fmt(rng.nextDouble())},"magnetic_ordering":"NM",""" +
            s""""is_stable":${rng.nextBoolean()},"structure":$st$sym}"""
          (Rec(db, id, ns, Some(ef), if (withSym) Some(sg) else None), js)
        }
        recs.grouped(400).zipWithIndex.foreach { case (g, k) =>
          Files.write(f"$raw/summary_$k%03d.json", g.map(_._2).mkString("[", ",\n", "]"))
        }
        recs.map(_._1)
      case "materials_cloud" =>
        (0 until n).map { i =>
          val id = f"mc3d-$batch%d-$i%05d"
          val ns = sites(rng)
          val (a, b, c) = (3 + rng.nextDouble() * 5, 3 + rng.nextDouble() * 5, 3 + rng.nextDouble() * 5)
          val atoms = (0 until ns).map { _ =>
            s"${Elements(rng.nextInt(Elements.size))} ${fmt(rng.nextDouble())} " +
              s"${fmt(rng.nextDouble())} ${fmt(rng.nextDouble())}"
          }
          Files.write(s"$raw/$id.cif",
            s"data_$id\n_cell_length_a ${fmt(a)}\n_cell_length_b ${fmt(b)}\n_cell_length_c ${fmt(c)}\n" +
              "_cell_angle_alpha 90.0\n_cell_angle_beta 90.0\n_cell_angle_gamma 90.0\n" +
              "loop_\n_atom_site_type_symbol\n_atom_site_fract_x\n_atom_site_fract_y\n_atom_site_fract_z\n" +
              atoms.mkString("\n") + "\n")
          Rec(db, id, ns, None, None)
        }
    }
  }

  /** Inputs of one run: per batch, its data dir and model rows. */
  private def generate(root: String, seed: Long): Seq[(String, String, String, Seq[Rec])] = {
    Files.rm(root)
    val rng = new Random(seed)
    Batches.zipWithIndex.map { case ((db, ds, n), b) =>
      val dataDir = s"$root/batch$b"
      (db, ds, dataDir, writeBatch(rng, dataDir, db, ds, b, n))
    }
  }

  private var inputs: Seq[(String, String, String, Seq[Rec])] = Nil

  /** Contract check of the generated inputs: every batch staged its raw files. */
  private def checkInputs(in: Seq[(String, String, String, Seq[Rec])]): Unit =
    in.foreach { case (db, ds, dir, recs) =>
      require(Files.bytesUnder(s"$dir/raw/$db/$ds") > 0 && recs.nonEmpty, s"no raw input for $dir")
    }

  def prepare(spark: SparkSession, work: String, seed: Long): Unit = {
    inputs = generate(s"$work/crystal/input", seed)
    checkInputs(inputs)
  }

  private def cleanDb(dbDir: String): Unit = {
    val parent = new java.io.File(dbDir).getParentFile
    val base = new java.io.File(dbDir).getName
    Option(parent.listFiles()).toSeq.flatten.filter(_.getName.startsWith(base))
      .foreach(f => Files.rm(f.getPath))
  }

  // ----------------------------------------------------------- the session
  /** Bulk load: per batch `Loader.run()`, conform, `create`. Returns the model. */
  private def load(spark: SparkSession, in: Seq[(String, String, String, Seq[Rec])], dbDir: String,
                   ops: Ops): (mutable.LinkedHashMap[String, Rec], Long) = {
    val pdb = new ParquetDatabase(spark, dbDir)
    val model = mutable.LinkedHashMap.empty[String, Rec]
    var rows = 0L
    in.foreach { case (db, ds, dataDir, recs) =>
      val created = for {
        df <- ops.call("loaders.run")(LoaderRegistry.getLoader(db, ds, spark, LoaderConfig(dataDir)).run())
        conformed <- ops.call("schema.conform")(SchemaOps.conformToSchema(df, CrystalSchema.schema))
        _ <- ops.call("pdb.create")(pdb.create(conformed, target = Some(CrystalSchema.schema), assignId = true))
      } yield ()
      if (created.isDefined) {
        recs.foreach(r => model(r.id) = r)
        rows += recs.size
      }
    }
    (model, rows)
  }

  private val projections = Seq(
    Seq("source_id", "species", "lattice", "data"),
    Seq("source_id", "data"),
    Seq("source_id", "symmetry", "species"))

  /** One projected nested read of kind 0 (point), 1 (energy range) or 2
    * (space group); its row count is checked against the model.
    */
  private def read(pdb: ParquetDatabase, model: mutable.LinkedHashMap[String, Rec], rng: Random,
                   kind: Int, ops: Ops, into: Seq[Samples], counts: mutable.ArrayBuffer[Double] = null): Unit = {
    val (filter, expected): (Column, Int) = kind match {
      case 0 =>
        val id = if (rng.nextInt(10) == 0) s"absent-${rng.nextInt(1000)}"
          else model.keysIterator.drop(rng.nextInt(model.size)).next()
        (col("source_id") === id, if (model.contains(id)) 1 else 0)
      case 1 =>
        val lo = round6(-3 + rng.nextDouble() * 2.9)
        val hi = round6(lo + 0.06)
        (col("data.energy_formation").between(lo, hi),
          model.values.count(r => r.ef.exists(e => e >= lo && e <= hi)))
      case _ =>
        val sgs = Seq.fill(2)(SpaceGroups(rng.nextInt(SpaceGroups.size))).distinct
        (col("symmetry.number").isin(sgs: _*), model.values.count(r => r.sg.exists(sgs.contains)))
    }
    ops.call("pdb.read", into: _*)(pdb.read(projections(kind), Some(filter)).collect()).foreach { rows =>
      if (counts != null) counts += rows.length
      ops.check("read_count")(rows.length == expected, s"kind $kind: got ${rows.length}, model $expected")
    }
  }

  /** One small patch (read-modify-write of 1-3 rows' formation energy) or
    * one narrow delete of 1-2 rows; the model follows.
    */
  private def write(spark: SparkSession, pdb: ParquetDatabase, model: mutable.LinkedHashMap[String, Rec],
                    rng: Random, upsertNow: Boolean, ops: Ops): Unit = {
    val live = model.valuesIterator.filter(_.ef.isDefined).toIndexedSeq
    if (upsertNow) {
      val targets = Seq.fill(1 + rng.nextInt(3))(live(rng.nextInt(live.size))).distinct
      val newEf = targets.map(r => r.id -> round6(-3 + rng.nextDouble() * 3)).toMap
      val m = map(newEf.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
      ok(ops.call("pdb.upsert", ops.writes) {
        val cur = pdb.read(filter = Some(col("source_id").isin(targets.map(_.id): _*))).collect()
        val schema = pdb.read().schema
        val patch = spark.createDataFrame(java.util.Arrays.asList(cur: _*), schema)
          .withColumn("data", col("data").withField("energy_formation", element_at(m, col("source_id"))))
        pdb.upsert(patch, "id")
      }) { newEf.foreach { case (k, v) => model(k) = model(k).copy(ef = Some(v)) } }
    } else {
      val ids = Seq.fill(1 + rng.nextInt(2))(model.keysIterator.drop(rng.nextInt(model.size)).next()).distinct
      ok(ops.call("pdb.delete", ops.writes)(pdb.deleteWhere(col("source_id").isin(ids: _*)))) {
        ids.foreach(model.remove)
      }
    }
  }

  private def ok(r: Option[Unit])(onSuccess: => Unit): Unit = r.foreach(_ => onSuccess)

  private def maintain(pdb: ParquetDatabase, ops: Ops): Unit = {
    ops.call("pdb.normalize")(pdb.normalize(MaxRowsPerFile, sortBy = Seq("id")))
    ops.call("pdb.compact")(pdb.compactSmallFiles(4L << 20))
  }

  def run(spark: SparkSession, work: String, seed: Long, seconds: Double,
          ops: Ops, tracer: Tracer): Outcome = {
    val dbDir = s"$work/crystal/db"
    cleanDb(dbDir)
    inputs.foreach { case (_, _, dir, _) => Files.rm(s"$dir/interim") }
    val inputBytes = inputs.map { case (db, ds, dir, _) => Files.bytesUnder(s"$dir/raw/$db/$ds") }.sum
    val rng = new Random(seed * 31 + 7)
    val pdb = new ParquetDatabase(spark, dbDir)
    val resultRows = mutable.ArrayBuffer.empty[Double]
    val filesRewritten = mutable.ArrayBuffer.empty[Double]

    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val (model, loadedRows) = load(spark, inputs, dbDir, ops)
    val loadS = elapsed
    // a fixed cycle of 10: eight reads (point, range, space group in turn)
    // and two writes (three upserts to one delete over two cycles)
    val n = math.max(10, math.round(seconds * OpsPerSecond).toInt)
    (0 until n).foreach { i =>
      if (i % 5 != 4) read(pdb, model, rng, i % 3, ops, Seq(ops.reads), resultRows)
      else {
        val before = if (tracer.enabled) Files.parquetFiles(dbDir) else Set.empty[String]
        write(spark, pdb, model, rng, upsertNow = i % 20 != 19, ops)
        if (tracer.enabled) filesRewritten += (Files.parquetFiles(dbDir) -- before).size
      }
    }
    val m0 = System.nanoTime()
    maintain(pdb, ops)
    val maintS = (System.nanoTime() - m0) / 1e9
    (0 until SecondPassReads).foreach(i =>
      read(pdb, model, rng, i % 3, ops, Seq(ops.reads, ops.readsAfterMaintenance), resultRows))
    val wallS = elapsed

    tracer.span(Tracer.Check) {
      val stored = pdb.read(Seq("source_database", "source_id", "species", "data", "symmetry"))
        .select(col("source_database"), col("source_id"), size(col("species")),
          col("data.energy_formation"), col("symmetry.number")).collect()
        .map { r: Row =>
          Rec(r.getString(0), r.getString(1), r.getInt(2),
            if (r.isNullAt(3)) None else Some(r.getDouble(3)),
            if (r.isNullAt(4)) None else Some(r.getInt(4))).canon
        }.sorted.toSeq
      val expected = model.values.map(_.canon).toSeq.sorted
      ops.check("table_multiset")(stored == expected,
        s"stored ${stored.size} rows vs model ${expected.size}; first diff " +
          stored.diff(expected).take(2).mkString(";") + " / " + expected.diff(stored).take(2).mkString(";"))
    }

    val dataRoot = s"$work/crystal"
    val siblings = Option(new java.io.File(dataRoot).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("db__"))
    val written = Files.bytesUnder(dbDir) + siblings.map(f => Files.bytesUnder(f.getPath)).sum +
      inputs.map { case (_, _, dir, _) => Files.bytesUnder(s"$dir/interim") }.sum
    Outcome(wallS,
      Map("ingest_rows_per_s" -> (loadedRows / loadS, "rows/s"),
        "maintenance_s" -> (maintS, "s"),
        "space_amp" -> (written.toDouble / inputBytes, "ratio")),
      Map("pdb.read.rows_per_result" -> Samples.median(resultRows),
        "pdb.write.files_rewritten" -> (if (filesRewritten.isEmpty) 0.0 else Samples.median(filesRewritten)),
        "pdb.files" -> Files.parquetFiles(dbDir).size.toDouble,
        "pdb.leftover_dirs" -> siblings.size.toDouble),
      Map("rows_loaded" -> loadedRows, "rows_final" -> model.size, "load_s" -> loadS,
        "input_bytes" -> inputBytes, "bytes_on_disk" -> written, "operations_in_mix" -> n))
  }
}
