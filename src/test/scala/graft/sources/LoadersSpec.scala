package graft.sources

import graft.SparkSpec
import graft.schema.CrystalSchema
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{GroupType, Type}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** End-to-end Loader.run() pipeline tests: fixture raw files → staged
  * parquet → lazy canonical-schema DataFrame, mirroring the reference's
  * download→ingest→transform template (base.py:224-243) on local files.
  */
class LoadersSpec extends SparkSpec {

  /** A second `run()` reads the cached ingest stage and yields the same
    * rows, again in exactly the canonical schema.
    */
  private def assertRerunSame(loader: Loader, first: DataFrame): Unit = {
    val again = loader.run()
    assert(again.schema === CrystalSchema.schema)
    assert(first.exceptAll(again).isEmpty && again.exceptAll(first).isEmpty)
  }

  /** Every field path in the parquet footers under `dir` that is `required`. */
  private def requiredFields(dir: String): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val files = root.getFileSystem(conf).listStatus(root).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    def walk(t: Type, at: String): Seq[String] = {
      val here = if (t.getRepetition == Type.Repetition.REQUIRED) Seq(at) else Nil
      here ++ (if (t.isPrimitive) Nil
        else t.asInstanceOf[GroupType].getFields.asScala.toSeq.flatMap(f => walk(f, s"$at.${f.getName}")))
    }
    files.toSeq.flatMap { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try reader.getFooter.getFileMetaData.getSchema.getFields.asScala.toSeq.flatMap(t => walk(t, t.getName))
      finally reader.close()
    }.distinct
  }

  private def freshDataDir(name: String): String = {
    val dir = s"target/tmp/loaders/$name"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(new org.apache.hadoop.conf.Configuration()).delete(p, true)
    dir
  }

  private val alexEntry =
    """{"entries": [
      |  {"structure": {
      |     "@module": "pymatgen.core.structure", "@class": "Structure", "charge": 0.0,
      |     "lattice": {"matrix": [[2.0,0.0,0.0],[0.0,2.0,0.0],[0.0,0.0,2.0]],
      |                 "a": 2.0, "b": 2.0, "c": 2.0, "alpha": 90.0, "beta": 90.0,
      |                 "gamma": 90.0, "pbc": [true,true,true], "volume": 8.0},
      |     "sites": [
      |       {"species": [{"element": "Na", "occu": 1}], "abc": [0.0,0.0,0.0],
      |        "xyz": [0.0,0.0,0.0], "label": "Na",
      |        "properties": {"magmom": 0.0, "charge": 0.0, "forces": [0.0,0.0,0.0]}},
      |       {"species": [{"element": "Cl", "occu": 1}], "abc": [0.5,0.5,0.5],
      |        "xyz": [1.0,1.0,1.0], "label": "Cl",
      |        "properties": {"magmom": 0.0, "charge": 0.0, "forces": [0.0,0.0,0.0]}}
      |     ]},
      |   "data": {"mat_id": "agm-1", "energy_total": -3.5, "energy_corrected": -3.4,
      |            "e_form": -1.2, "e_above_hull": 0.0, "e_phase_separation": 0.1,
      |            "band_gap_ind": 2.2, "band_gap_dir": 2.4, "dos_ef": 0.3,
      |            "total_mag": 0.0}}
      |]}""".stripMargin

  test("AlexandriaLoader.run(): JSON entries -> canonical schema with null-filled symmetry") {
    val dataDir = freshDataDir("alex")
    val loader = AlexandriaLoader(spark, LoaderConfig(dataDir))
    Files.createDirectories(Paths.get(loader.rawDir))
    Files.writeString(Paths.get(s"${loader.rawDir}/alexandria_000.json"), alexEntry)

    val out = loader.run()
    assert(out.schema === CrystalSchema.schema)
    val row = out.orderBy("source_id").head()
    assert(row.getAs[String]("source_id") === "agm-1")
    assert(out.select(col("species")).head().getSeq[String](0) === Seq("Na", "Cl"))
    assert(out.select(col("data.energy_formation")).head().getDouble(0) === -1.2)
    // duplicate-source projection (R17): energy_total feeds energy_uncorrected
    assert(out.select(col("data.energy_uncorrected")).head().getDouble(0) === -3.5)
    // alexandria emits no symmetry/has_props -> permissive conform null-fills
    assert(out.select(col("symmetry")).head().isNullAt(0))
    // only the ingest stage is written; the transformed stage stays in
    // memory, as in the reference
    assert(Files.exists(Paths.get(loader.pqdbDir)))
    assert(!Files.exists(Paths.get(s"$dataDir/interim/transformed_pqdb")))
    assertRerunSame(loader, out)
  }

  test("a table created from run() has only optional parquet fields") {
    val dataDir = freshDataDir("alex_create")
    val loader = AlexandriaLoader(spark, LoaderConfig(dataDir))
    Files.createDirectories(Paths.get(loader.rawDir))
    Files.writeString(Paths.get(s"${loader.rawDir}/alexandria_000.json"), alexEntry)
    val dbDir = s"$dataDir/db"
    new ParquetDatabase(spark, dbDir).create(loader.run(), target = Some(CrystalSchema.schema), assignId = true)
    // source_database/source_dataset are literals: without the conform's
    // nullability they would be written `required`. Only the assigned id,
    // a hash that is never null, is.
    assert(requiredFields(dbDir) === Seq("id"))
    assert(spark.read.parquet(dbDir).select(col("source_database"), col("source_id")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq === Seq(("alexandria", "agm-1")))
  }

  test("AlexandriaLoader reads .json.bz2 natively (no decompress stage)") {
    val dataDir = freshDataDir("alexbz2")
    val loader = AlexandriaLoader(spark, LoaderConfig(dataDir))
    Files.createDirectories(Paths.get(loader.rawDir))
    val codec = new org.apache.hadoop.io.compress.BZip2Codec()
    codec.setConf(new org.apache.hadoop.conf.Configuration())
    val out = codec.createOutputStream(
      Files.newOutputStream(Paths.get(s"${loader.rawDir}/alexandria_000.json.bz2")))
    out.write(alexEntry.getBytes("UTF-8")); out.close()

    val result = loader.run()
    assert(result.count() === 1)
    assert(result.select(col("source_id")).head().getString(0) === "agm-1")
  }

  private val mpDoc =
    """[{"material_id": "mp-42", "band_gap": 1.5, "total_energy": -7.0,
      |  "uncorrected_energy": -6.9, "formation_energy_per_atom": -0.5,
      |  "e_above_hull": 0.0, "total_magnetization": 2.0,
      |  "magnetic_ordering": "FM", "is_stable": true,
      |  "structure": {
      |     "@module": "pymatgen.core.structure", "@class": "Structure", "charge": 0.0,
      |     "lattice": {"matrix": [[3.0,0.0,0.0],[0.0,3.0,0.0],[0.0,0.0,3.0]],
      |                 "a": 3.0, "b": 3.0, "c": 3.0, "alpha": 90.0, "beta": 90.0,
      |                 "gamma": 90.0, "pbc": [true,true,true], "volume": 27.0},
      |     "sites": [
      |       {"species": [{"element": "Fe", "occu": 1}], "abc": [0.0,0.0,0.0],
      |        "xyz": [0.0,0.0,0.0], "label": "Fe",
      |        "properties": {"magmom": 2.0, "charge": 0.0, "forces": [0.0,0.0,0.0]}}
      |     ]},
      |  "symmetry": {"crystal_system": "cubic", "symbol": "Im-3m", "number": 229,
      |               "point_group": "m3m", "symprec": 0.01, "angle_tolerance": 5.0,
      |               "version": "2.0"},
      |  "has_props": {"materials": true, "thermo": true}}]""".stripMargin

  test("MpLoader.run(): flat JSON docs -> canonical schema; absent source fields null-fill") {
    val dataDir = freshDataDir("mp")
    val loader = MpLoader(spark, LoaderConfig(dataDir))
    Files.createDirectories(Paths.get(loader.rawDir))
    // fixture deliberately omits the elasticity/dielectric fields
    // (piezoelectric_modulus, g_vrh, …) — they must come back as nulls
    Files.writeString(Paths.get(s"${loader.rawDir}/summary_000.json"), mpDoc)

    val out = loader.run()
    assert(out.schema === CrystalSchema.schema)
    val r = out.head()
    assert(r.getAs[String]("source_id") === "mp-42")
    assert(out.select(col("data.band_gap")).head().getDouble(0) === 1.5)
    // duplicate-source projection (R17): total_energy feeds energy_corrected
    assert(out.select(col("data.energy_corrected")).head().getDouble(0) === -7.0)
    assert(out.select(col("data.g_vrh")).head().isNullAt(0))
    assert(out.select(col("symmetry.number")).head().getInt(0) === 229)
    assert(out.select(col("has_props.thermo")).head().getBoolean(0) === true)
    assertRerunSame(loader, out)
  }

  test("MpLoader null-fills even when the whole structure field is absent") {
    val dataDir = freshDataDir("mp_nostruct")
    val loader = MpLoader(spark, LoaderConfig(dataDir))
    Files.createDirectories(Paths.get(loader.rawDir))
    Files.writeString(Paths.get(s"${loader.rawDir}/summary_000.json"),
      """[{"material_id": "mp-77", "band_gap": 0.1, "total_energy": -1.0}]""")
    val out = loader.run()
    assert(out.schema === CrystalSchema.schema)
    val r = out.head()
    assert(r.getAs[String]("source_id") === "mp-77")
    assert(out.select(col("structure")).head().isNullAt(0))
    assert(out.select(col("species")).head().isNullAt(0))
    assert(out.select(col("lattice")).head().isNullAt(0))
    assert(out.select(col("data.band_gap")).head().getDouble(0) === 0.1)
  }

  private val cif =
    """data_mc3d
      |_cell_length_a 2.0
      |_cell_length_b 2.0
      |_cell_length_c 2.0
      |_cell_angle_alpha 90.0
      |_cell_angle_beta 90.0
      |_cell_angle_gamma 90.0
      |loop_
      |_atom_site_type_symbol
      |_atom_site_fract_x
      |_atom_site_fract_y
      |_atom_site_fract_z
      |Na 0.0 0.0 0.0
      |Cl 0.5 0.5 0.5
      |""".stripMargin

  test("Mc3dLoader.run(): CIF -> canonical schema with populated structure struct") {
    val dataDir = freshDataDir("mc3d")
    val loader = Mc3dLoader(spark, LoaderConfig(dataDir))
    Files.createDirectories(Paths.get(loader.rawDir))
    Files.writeString(Paths.get(s"${loader.rawDir}/mc3d-1.cif"), cif)

    val out = loader.run()
    assert(out.schema === CrystalSchema.schema)
    assert(out.count() === 1)
    val r = out.head()
    assert(r.getAs[String]("source_id") === "mc3d-1")
    // structure is populated (ADVICE round 1), pymatgen-as_dict shaped
    assert(out.select(col("structure.`@class`")).head().getString(0) === "Structure")
    assert(out.select(size(col("structure.sites"))).head().getInt(0) === 2)
    assert(out.select(col("structure.sites")(0).getField("label")).head().getString(0) === "Na")
    assert(out.select(col("structure.sites")(1).getField("species")(0).getField("element"))
      .head().getString(0) === "Cl")
    assert(out.select(col("structure.lattice.volume")).head().getDouble(0) === 8.0)
    // cart = frac · matrix under the pymatgen lattice convention
    val xyz = out.select(col("structure.sites")(1).getField("xyz")).head().getSeq[Double](0)
    assert(xyz.zip(Seq(1.0, 1.0, 1.0)).forall { case (a, b) => math.abs(a - b) < 1e-9 })
    assertRerunSame(loader, out)
  }

  test("Mc3dLoader.run(): zipped CIF raw stage extracts in place and parses (R4)") {
    val dataDir = freshDataDir("mc3dzip")
    val loader = Mc3dLoader(spark, LoaderConfig(dataDir))
    Files.createDirectories(Paths.get(loader.rawDir))
    // zip nests the CIFs the way the reference's bundle does (MC3D-cifs/mc3d/)
    val zip = new java.util.zip.ZipOutputStream(
      Files.newOutputStream(Paths.get(s"${loader.rawDir}/mc3d_cifs.zip")))
    zip.putNextEntry(new java.util.zip.ZipEntry("MC3D-cifs/mc3d/mc3d-9.cif"))
    zip.write(cif.getBytes("UTF-8")); zip.closeEntry(); zip.close()

    val out = loader.run()
    assert(out.count() === 1)
    assert(out.select(col("source_id")).head().getString(0) === "mc3d-9")
    // archive consumed, extracted file staged
    assert(!Files.exists(Paths.get(s"${loader.rawDir}/mc3d_cifs.zip")))
    assert(Files.exists(Paths.get(s"${loader.rawDir}/MC3D-cifs/mc3d/mc3d-9.cif")))
  }

  test("download() drives the Fetcher over the fetch plan (file:// URLs, R1/R5)") {
    val dataDir = freshDataDir("fetch")
    val srcDir = Files.createDirectories(Paths.get("target/tmp/loaders/fetch-src"))
    val src = srcDir.resolve("alexandria_000.json")
    Files.writeString(src, alexEntry)
    val cfg = LoaderConfig(dataDir)
    val delegate = AlexandriaLoader(spark, cfg)
    val loader: Loader = new Loader {
      val spark = LoadersSpec.this.spark
      val config = cfg
      val sourceDatabase = "alexandria"
      val sourceDataset = "3d"
      override def fetchPlan =
        Seq((src.toUri.toString, s"$rawDir/alexandria_000.json"))
      def load() = delegate.load()
      def transform(df: org.apache.spark.sql.DataFrame) = delegate.transform(df)
    }
    val out = loader.run()
    assert(out.count() === 1)
    assert(out.select(col("source_id")).head().getString(0) === "agm-1")
    assert(Files.exists(Paths.get(s"${loader.rawDir}/alexandria_000.json")))
  }

  test("LoaderRegistry rejects unknown loaders with the available listing") {
    val e = intercept[IllegalArgumentException](
      LoaderRegistry.getLoader("jarvis", "dft_3d", spark, LoaderConfig("target/tmp/x")))
    assert(e.getMessage.contains("Available"))
    assert(e.getMessage.contains("alexandria"))
  }
}
