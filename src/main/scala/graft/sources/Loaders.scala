package graft.sources

import graft.schema.{CrystalSchema, SchemaOps}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loader pipeline layer (SURVEY.md §2.1 R22/R23, §3.1).
  *
  * Immutable config — the reference's factory mutates a shared default
  * config (`factory.py:52-53`), a bug we don't reproduce.
  */
final case class LoaderConfig(
    dataDir: String,
    numWorkers: Int = 8,
    timeoutSeconds: Int = 60,
    downloadFromScratch: Boolean = false,
    ingestFromScratch: Boolean = false)

/** Template-method pipeline (`crystpqdb/loaders/base.py:224-243`):
  * download → ingest (raw → staged parquet at `pqdbDir`, skip-if-exists)
  * → transform (source shape → canonical schema). As in the reference,
  * only the raw and ingested stages live on disk: the transformed stage is
  * the returned lazy DataFrame (the reference rmtree's `transformed_dir`
  * but never writes it, base.py:241-243), so the caller's
  * `ParquetDatabase.create` writes each batch's canonical rows once.
  *
  * Differences from the reference, deliberate:
  *  - zero-egress: `download()` is a no-op hook; loaders read local files
  *  - all stages are lazy DataFrames — nothing is collected to the driver
  */
trait Loader {
  def spark: SparkSession
  def config: LoaderConfig
  def sourceDatabase: String
  def sourceDataset: String

  def rawDir: String = s"${config.dataDir}/raw/$sourceDatabase/$sourceDataset"
  def pqdbDir: String = s"${config.dataDir}/interim/pqdb/$sourceDatabase/$sourceDataset"

  /** (url → destination) pairs to stage into `rawDir`. Loaders with remote
    * sources declare their file list here (for index-driven sources, via
    * `Fetcher.listIndex`); empty in the zero-egress build, where raw files
    * are placed locally. Exercised against `file://` URLs in LoadersSpec.
    */
  def fetchPlan: Seq[(String, String)] = Nil

  /** Network fetch (`base.py:140-151`, `alexandria.py:106-127`): stream the
    * fetch plan down over a worker pool with skip-if-exists caching. A no-op
    * when the plan is empty.
    */
  def download(): Unit =
    if (fetchPlan.nonEmpty)
      Fetcher.downloadAll(fetchPlan, config.numWorkers, config.timeoutSeconds)

  /** Read the raw staged files into a source-shaped DataFrame. */
  def load(): DataFrame

  /** Source shape → canonical column program (pure DataFrame => DataFrame). */
  def transform(df: DataFrame): DataFrame

  private def exists(dir: String): Boolean = {
    val p = new Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }
  private def rm(dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
  }

  /** Staged pipeline with a cached ingest stage; returns the lazy
    * canonical-schema DataFrame (exactly `CrystalSchema.schema`), computed
    * from the staged parquet by whichever action consumes it.
    */
  def run(): DataFrame = {
    if (config.downloadFromScratch) rm(rawDir) // base.py:225-226 parity
    download()
    // zipped raw stages (MC3D CIF bundle, JARVIS datasets) extract in place,
    // archive deleted afterwards (mc3d.py:79-85, jarvis.py:50-59)
    Fetcher.unzipAll(rawDir)
    if (config.ingestFromScratch) rm(pqdbDir)
    if (!exists(pqdbDir)) load().write.mode("overwrite").parquet(pqdbDir)
    SchemaOps.conformToSchema(transform(spark.read.parquet(pqdbDir)), CrystalSchema.schema)
  }
}

/** Shared pieces of the Alexandria/MP `_transform` columnar programs
  * (SURVEY.md §2.1 R12–R19): nested projections out of `structure`.
  */
object CrystalTransforms {
  /** Per-site coordinate lists: list<struct<site>> -> list<list<double>>. */
  def siteCoords(field: String) =
    transform(col("structure.sites"), s => s.getField(field))

  /** Flat per-row element list. The reference takes the *site* offsets over
    * a recursively flattened element array (`alexandria.py:155-158`) — only
    * correct when every site has exactly one species entry; this is the
    * order-preserving generalization (all elements of all sites, in order).
    */
  def speciesElements =
    flatten(transform(col("structure.sites"),
      s => transform(s.getField("species"), sp => sp.getField("element"))))
}

/** Alexandria loader: multiline JSON `{"entries": [...]}` files →
  * canonical schema. Field mapping from `alexandria.py:142-190`, including
  * the duplicate-source projection energy_total → {energy_total,
  * energy_uncorrected} (R17). Output omits symmetry/has_props — permissive
  * conform null-fills them (Q-ING2).
  */
final case class AlexandriaLoader(spark: SparkSession, config: LoaderConfig,
                                  sourceDataset: String = "3d") extends Loader {
  val sourceDatabase = "alexandria"

  def load(): DataFrame =
    // *.json* also matches the source's .json.bz2 downloads — Spark/Hadoop
    // decompress by extension, so the reference's explicit bz2-decompress
    // stage (alexandria.py:55-62) disappears entirely
    spark.read.option("multiLine", "true").json(s"$rawDir/*.json*")
      .select(explode(col("entries")).as("e"))
      .select(col("e.*"))

  def transform(df: DataFrame): DataFrame = {
    import CrystalTransforms._
    df.select(
      lit(sourceDatabase).as("source_database"),
      lit(sourceDataset).as("source_dataset"),
      col("data.mat_id").as("source_id"),
      speciesElements.as("species"),
      siteCoords("xyz").as("cart_coords"),
      siteCoords("abc").as("frac_coords"),
      col("structure.lattice").as("lattice"),
      col("structure").as("structure"),
      struct(
        col("data.band_gap_ind").as("band_gap_ind"),
        col("data.band_gap_dir").as("band_gap_dir"),
        col("data.dos_ef").as("dos_ef"),
        col("data.energy_total").as("energy_total"),
        col("data.energy_total").as("energy_uncorrected"),
        col("data.energy_corrected").as("energy_corrected"),
        col("data.e_form").as("energy_formation"),
        col("data.e_above_hull").as("energy_above_hull"),
        col("data.e_phase_separation").as("energy_phase_seperation"),
        col("data.total_mag").as("total_magnetization")).as("data"))
  }
}

/** Materials Project loader: flat JSON records (31 projected fields,
  * `mp.py:57-91`) → canonical schema. Mapping from `mp.py:106-179`,
  * including total_energy → {energy_total, energy_corrected} (R17) and
  * symmetry/has_props passthrough.
  */
final case class MpLoader(spark: SparkSession, config: LoaderConfig,
                          sourceDataset: String = "summary") extends Loader {
  val sourceDatabase = "mp"

  def load(): DataFrame =
    spark.read.option("multiLine", "true").json(s"$rawDir/*.json")

  def transform(df: DataFrame): DataFrame = {
    import CrystalTransforms._
    // permissive source-field access: MP API docs carry null for absent
    // properties, and a staged batch may omit whole fields — both become
    // null here (the reference gets the same effect from promote_options=
    // "permissive", base.py:210-216)
    def col(name: String): org.apache.spark.sql.Column =
      if (df.columns.contains(name.takeWhile(_ != '.'))) df.col(name) else lit(null)
    // the structure-DERIVED projections (species/coords/lattice) must also
    // null-fill when structure (or the needed subfield) is absent — the
    // helpers below reference structure.sites unshadowed and would fail
    // analysis otherwise
    def nestedExists(path: String): Boolean = {
      import org.apache.spark.sql.types.StructType
      path.split('.').foldLeft(Option(df.schema: org.apache.spark.sql.types.DataType)) {
        case (Some(st: StructType), seg) => st.fields.find(_.name == seg).map(_.dataType)
        case _ => None
      }.isDefined
    }
    def derived(path: String)(c: => org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      if (nestedExists(path)) c else lit(null)
    df.select(
      lit(sourceDatabase).as("source_database"),
      lit(sourceDataset).as("source_dataset"),
      col("material_id").as("source_id"),
      derived("structure.sites")(speciesElements).as("species"),
      derived("structure.sites")(siteCoords("xyz")).as("cart_coords"),
      derived("structure.sites")(siteCoords("abc")).as("frac_coords"),
      derived("structure.lattice")(df.col("structure.lattice")).as("lattice"),
      col("structure").as("structure"),
      struct(
        col("band_gap").as("band_gap"),
        col("total_energy").as("energy_total"),
        col("uncorrected_energy").as("energy_uncorrected"),
        col("total_energy").as("energy_corrected"),
        col("formation_energy_per_atom").as("energy_formation"),
        col("e_above_hull").as("energy_above_hull"),
        col("n").as("n"),
        col("piezoelectric_modulus").as("piezoelectric_modulus"),
        col("e_electronic").as("e_electronic"),
        col("e_ionic").as("e_ionic"),
        col("e_total").as("e_total"),
        col("g_reuss").as("g_reuss"),
        col("g_voigt").as("g_voigt"),
        col("g_vrh").as("g_vrh"),
        col("k_reuss").as("k_reuss"),
        col("k_voigt").as("k_voigt"),
        col("k_vrh").as("k_vrh"),
        col("poisson_ratio").as("poisson_ratio"),
        col("surface_energy_anisotropy").as("surface_energy_anisotropy"),
        col("weighted_work_function").as("weighted_work_function"),
        col("weighted_surface_energy").as("weighted_surface_energy"),
        col("total_magnetization").as("total_magnetization"),
        col("magnetic_ordering").as("magnetic_ordering"),
        col("is_stable").as("is_stable")).as("data"),
      col("symmetry").as("symmetry"),
      col("has_props").as("has_props"))
  }
}

/** MC3D loader: local `*.cif` files parsed with [[CifParser]] (the reference
  * uses pymatgen, `mc3d.py:98-123`). Parse runs distributed — one task per
  * file partition via binaryFile source.
  */
final case class Mc3dLoader(spark: SparkSession, config: LoaderConfig,
                            sourceDataset: String = "mc3d") extends Loader {
  val sourceDatabase = "materials_cloud"

  def load(): DataFrame = {
    import spark.implicits._
    // recursive lookup: the zipped CIF bundle extracts into a subdirectory
    // (MC3D-cifs/mc3d/*.cif in the reference, mc3d.py:90-92), so the raw
    // stage may hold CIFs at any depth under rawDir
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.cif")
      .option("recursiveFileLookup", "true")
      .load(rawDir)
      .select(col("path"), col("content").cast("string").as("text"))
      .as[(String, String)]
    val parsed = files.map { case (path, text) =>
      val stem = path.split('/').last.stripSuffix(".cif")
      CifParser.parse(stem, text)
    }
    // structure mirrors pymatgen Structure.as_dict() (what the reference
    // stores, mc3d.py:113-123): sites rebuilt from species/abc/xyz with
    // occu=1 (CIF subset has no partial occupancy or site properties).
    val sites = org.apache.spark.sql.functions.transform(
      sequence(lit(0), size(col("species")) - 1), i =>
      struct(
        array(struct(element_at(col("species"), i + 1).as("element"),
          lit(1L).as("occu"))).as("species"),
        element_at(col("frac_coords"), i + 1).as("abc"),
        element_at(col("cart_coords"), i + 1).as("xyz"),
        lit(null).cast("struct<magmom:double,charge:double,forces:array<double>>")
          .as("properties"),
        element_at(col("species"), i + 1).as("label")))
    parsed.toDF()
      .select(
        lit(sourceDatabase).as("source_database"),
        lit(sourceDataset).as("source_dataset"),
        col("source_id"), col("species"), col("frac_coords"), col("cart_coords"),
        col("lattice"),
        struct(
          lit("pymatgen.core.structure").as("@module"),
          lit("Structure").as("@class"),
          col("lattice").as("lattice"),
          sites.as("sites"),
          lit(0.0).as("charge")).as("structure"))
  }

  /** The reference's mc3d transform only drops the auto `id` (mc3d.py:125). */
  def transform(df: DataFrame): DataFrame =
    if (df.columns.contains("id")) df.drop("id") else df
}

/** (database, dataset) → loader factory (`factory.py:17-54`). JARVIS is
  * registered-but-unimplemented in the reference (45 NotImplementedError
  * stubs, jarvis.py:84-473; excluded from the factory at factory.py:13,24) —
  * we mirror that by rejecting it with the available-loaders listing.
  */
object LoaderRegistry {
  val available: Map[(String, String), (SparkSession, LoaderConfig) => Loader] = Map(
    ("alexandria", "3d") -> ((s, c) => AlexandriaLoader(s, c, "3d")),
    ("alexandria", "2d") -> ((s, c) => AlexandriaLoader(s, c, "2d")),
    ("alexandria", "1d") -> ((s, c) => AlexandriaLoader(s, c, "1d")),
    ("mp", "summary") -> ((s, c) => MpLoader(s, c)),
    ("materials_cloud", "mc3d") -> ((s, c) => Mc3dLoader(s, c)))

  def getLoader(database: String, dataset: String,
                spark: SparkSession, config: LoaderConfig): Loader =
    available.get((database, dataset)) match {
      case Some(mk) => mk(spark, config)
      case None =>
        throw new IllegalArgumentException(
          s"No loader for ($database, $dataset). Available: " +
            available.keys.toSeq.sorted.mkString(", "))
    }
}
