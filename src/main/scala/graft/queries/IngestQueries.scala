package graft.queries

import graft.Tables
import graft.schema.CrystalSchema
import graft.sources.ParquetDatabase
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import QHelpers._

/** Ingest / storage parity queries (SURVEY.md §2.3 Q-ING1, Q-ING2, Q-NORM1).
  *
  * These run the real pipeline — fixture JSON → conformToSchema(canonical) →
  * ParquetDatabase.create → re-read — and emit a deterministic summary, so
  * the oracle is a constant VALUES table: the hash matches iff the pipeline
  * produced exactly the expected nested data.
  */
object IngestQueries {

  /** Canonical crystal record fixture (FIXTURES.md §1, mirroring the
    * reference's tests/test_db.py:69-100) + a second record.
    */
  private val lattice =
    """{"matrix": [[1.0,0.0,0.0],[0.0,1.0,0.0],[0.0,0.0,1.0]],
       "a": 1.0, "b": 1.0, "c": 1.0, "alpha": 90.0, "beta": 90.0, "gamma": 90.0,
       "pbc": [true, true, true], "volume": 1.0}"""

  private def record(id: String, bandGap: Double): String =
    s"""{
      "source_database": "mp", "source_dataset": "1d", "source_id": "$id",
      "species": ["A", "B"],
      "frac_coords": [[0.0,0.0,0.0],[0.5,0.5,0.5]],
      "cart_coords": [[0.0,0.0,0.0],[0.5,0.5,0.5]],
      "lattice": $lattice,
      "structure": {
        "@module": "pymatgen.core.structure", "@class": "Structure", "charge": 0.0,
        "lattice": $lattice,
        "sites": [
          {"species": [{"element": "A", "occu": 1}], "abc": [0.0,0.0,0.0], "xyz": [0.0,0.0,0.0],
           "properties": {"magmom": 0.0, "charge": 0.0, "forces": [0.0,0.0,0.0]}, "label": "A"},
          {"species": [{"element": "B", "occu": 1}], "abc": [0.5,0.5,0.5], "xyz": [0.5,0.5,0.5],
           "properties": {"magmom": 0.0, "charge": 0.0, "forces": [0.0,0.0,0.0]}, "label": "B"}
        ]},
      "data": {"band_gap": $bandGap, "energy_total": 1.1, "magnetic_ordering": "FM", "is_stable": true},
      "symmetry": {"crystal_system": "cubic", "symbol": "Pm-3m", "number": 221,
                   "point_group": "m3m", "symprec": 0.01, "angle_tolerance": 5.0, "version": "2.0.0"},
      "has_props": {"materials": true, "thermo": true}
    }"""

  /** Alexandria-shaped record: no symmetry / has_props (FIXTURES.md §2). */
  private def alexRecord(id: String): String =
    s"""{
      "source_database": "alexandria", "source_dataset": "3d", "source_id": "$id",
      "species": ["C"],
      "frac_coords": [[0.1,0.1,0.1]], "cart_coords": [[0.1,0.1,0.1]],
      "lattice": $lattice,
      "data": {"band_gap_ind": 0.5, "energy_total": -2.5}
    }"""

  private def jsonDf(spark: SparkSession, docs: Seq[String]) = {
    import spark.implicits._
    spark.read.json(spark.createDataset(docs))
  }

  private def freshDb(spark: SparkSession, name: String): ParquetDatabase = {
    val dir = s"target/tmp/ingest/$name"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    new ParquetDatabase(spark, dir)
  }

  val all: Seq[DeclaredQuery] = Seq(
    // JSON ingest -> conform -> write parquet -> re-read -> projected checksum
    DeclaredQuery(
      "q_ing1",
      (s, _) => {
        val db = freshDb(s, "q_ing1")
        db.create(jsonDf(s, Seq(record("mp-1", 1.1), record("mp-2", 2.2))),
          target = Some(CrystalSchema.schema))
        db.read()
          .select(col("source_id"),
            size(col("species")).as("n_species"),
            col("data.band_gap").as("band_gap"),
            size(col("structure.sites")).as("n_sites"),
            col("lattice.volume").as("volume"),
            col("structure.sites")(0).getField("label").as("first_label"),
            col("symmetry.number").as("sg"))
          .orderBy("source_id")
      },
      Some(
        "SELECT * FROM (VALUES " +
          "('mp-1', 2, CAST(1.1 AS DOUBLE), 2, CAST(1.0 AS DOUBLE), 'A', 221), " +
          "('mp-2', 2, CAST(2.2 AS DOUBLE), 2, CAST(1.0 AS DOUBLE), 'A', 221)) " +
          "t(source_id, n_species, band_gap, n_sites, volume, first_label, sg) ORDER BY source_id")),

    // schema evolution: append a batch missing symmetry/has_props/structure,
    // read the unified schema back with nulls in the right places
    DeclaredQuery(
      "q_ing2",
      (s, _) => {
        val db = freshDb(s, "q_ing2")
        db.create(jsonDf(s, Seq(record("mp-1", 1.1))), target = Some(CrystalSchema.schema))
        db.create(jsonDf(s, Seq(alexRecord("alex-1"))), target = Some(CrystalSchema.schema))
        db.read()
          .select(col("source_id"),
            col("symmetry").isNull.as("sym_null"),
            col("structure").isNull.as("struct_null"),
            col("data.band_gap_ind").as("bgi"),
            col("data.energy_total").as("etot"),
            size(col("species")).as("n_species"))
          .orderBy("source_id")
      },
      Some(
        "SELECT * FROM (VALUES " +
          "('alex-1', true, true, CAST(0.5 AS DOUBLE), CAST(-2.5 AS DOUBLE), 1), " +
          "('mp-1', false, false, CAST(NULL AS DOUBLE), CAST(1.1 AS DOUBLE), 2)) " +
          "t(source_id, sym_null, struct_null, bgi, etot, n_species) ORDER BY source_id")),

    // delimited-text (CSV) ingestion round-trip: stage orders as CSV,
    // re-read with an explicit schema (no inference at scale), conform into
    // a ParquetDatabase, and aggregate the stored table. Spark's CSV writer
    // emits shortest-round-trip doubles, so the text round-trip is exact
    // and the oracle is the same aggregate over the source table directly.
    DeclaredQuery(
      "q_ing3",
      (s, d) => {
        val stage = graft.Scratch.dir("csv_ing")
        val sp = new org.apache.hadoop.fs.Path(stage)
        sp.getFileSystem(s.sessionState.newHadoopConf()).delete(sp, true)
        val src = Tables.load(s, d, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        src.write.option("header", "true").mode("overwrite").csv(stage)
        val db = freshDb(s, "q_ing3")
        db.create(s.read.option("header", "true").schema(src.schema).csv(stage))
        val back = db.read()
        back.agg(count(lit(1)).as("n"),
            countDistinct(col("o_orderkey")).as("n_keys"),
            dsum(col("o_totalprice")).as("total"),
            min(col("o_orderpriority")).as("first_prio"))
          .select("n", "n_keys", "total", "first_prio")
      },
      Some(
        "SELECT count(*) AS n, count(DISTINCT o_orderkey) AS n_keys, " +
          "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 4) AS total, " +
          "min(o_orderpriority) AS first_prio FROM orders")),

    // columnar-sibling (ORC) ingestion round-trip: stage part as ORC,
    // re-read, conform into a ParquetDatabase, aggregate the stored table.
    // ORC is lossless for these types, so the oracle is the same aggregate
    // over the source parquet directly — proving the engine can ingest the
    // other mainstream columnar format without a row of glue.
    DeclaredQuery(
      "q_ing4",
      (s, d) => {
        val stage = graft.Scratch.dir("orc_ing")
        val sp = new org.apache.hadoop.fs.Path(stage)
        sp.getFileSystem(s.sessionState.newHadoopConf()).delete(sp, true)
        val src = Tables.load(s, d, "part")
        src.write.mode("overwrite").orc(stage)
        val db = freshDb(s, "q_ing4")
        db.create(s.read.orc(stage))
        db.read()
          .agg(count(lit(1)).as("n"),
            countDistinct(col("p_partkey")).as("n_keys"),
            dsum(col("p_retailprice")).as("total"),
            min(col("p_name")).as("first_name"))
          .select("n", "n_keys", "total", "first_name")
      },
      Some(
        "SELECT count(*) AS n, count(DISTINCT p_partkey) AS n_keys, " +
          "round(CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE), 4) AS total, " +
          "min(p_name) AS first_name FROM part")),

    // CIF ingestion with symmetry expansion, end-to-end distributed: each
    // document id deterministically generates a cubic CIF (all values exact
    // binary fractions — k/4 cells, k/16 coordinates — so both engines'
    // doubles are bit-identical), and CifParser runs in executors over the
    // full round-9 surface: comments, a quoted _symmetry_equiv_pos_as_xyz
    // loop (identity + inversion), image wrapping into [0,1). The general-
    // position site always yields exactly 2 images, and the emitted
    // geometry (site count, cell volume, cartesian coords of the inversion
    // image) is checked against the closed form in DuckDB — the parser's
    // symmetry path as a declared oracle-gated query, not just a unit spec.
    DeclaredQuery(
      "q_ing5",
      (s, d) => {
        import s.implicits._
        val ids = Tables.load(s, d, "documents").select(col("doc_id")).as[Long]
        val parsed = ids.map { id =>
          val a = 2.0 + (id % 8) * 0.25
          val x0 = 0.0625 + (id % 4) * 0.125
          val text =
            s"""data_gen
               |# generated fixture for doc $id
               |_cell_length_a $a
               |_cell_length_b $a
               |_cell_length_c $a
               |_cell_angle_alpha 90.0
               |_cell_angle_beta 90.0
               |_cell_angle_gamma 90.0
               |loop_
               |_symmetry_equiv_pos_as_xyz
               |'x, y, z'
               |'-x, -y, -z'
               |loop_
               |_atom_site_type_symbol
               |_atom_site_fract_x
               |_atom_site_fract_y
               |_atom_site_fract_z
               |Na $x0 0.25 0.375
               |""".stripMargin
          (id, graft.sources.CifParser.parse(id.toString, text))
        }.toDF("doc_id", "rec")
        parsed.select(col("doc_id"),
            size(col("rec.species")).as("n_sites"),
            r4(col("rec.lattice.volume")).as("volume"),
            r4(element_at(element_at(col("rec.cart_coords"), 2), 1)).as("c2x"),
            r4(element_at(element_at(col("rec.cart_coords"), 2), 2)).as("c2y"),
            r4(element_at(element_at(col("rec.cart_coords"), 2), 3)).as("c2z"))
          .orderBy("doc_id")
      },
      Some(
        "WITH g AS (SELECT doc_id, CAST(2.0 + (doc_id % 8) * 0.25 AS DOUBLE) AS a, " +
          "CAST(0.0625 + (doc_id % 4) * 0.125 AS DOUBLE) AS x0 FROM documents) " +
          "SELECT doc_id, CAST(2 AS INTEGER) AS n_sites, round(a * a * a, 4) AS volume, " +
          "round((1 - x0) * a, 4) AS c2x, round(0.75 * a, 4) AS c2y, " +
          "round(0.625 * a, 4) AS c2z FROM g ORDER BY doc_id")),

    // CIF ingestion from a bare space-group symbol — the data-table path a
    // symop-loop-free CIF forces (pymatgen's space-group database route;
    // graft.sources.SpaceGroups generates the 230 settings from Hall
    // symbols). Each document id generates a loop-free CIF citing one of
    // four Hermann-Mauguin symbols spanning multiplicities 2/4/8/32 and
    // the symbol-normalization surface (short "P -1", FULL monoclinic
    // "P 1 21/c 1", compact "Pnma", spaced "I 4/m m m"). All four groups'
    // translations are halves and the site coordinates are exact binary
    // fractions, so image coordinates are engine-exact. Oracled against
    // the closed forms: orbit size, cell volume, the orbit coordinate sum
    // (= 1.5 x orbit size for a centrosymmetric group with a generic
    // site — every image pairs with its wrapped inversion partner), and
    // the minimum fractional z of the orbit.
    DeclaredQuery(
      "q_ing6",
      (s, d) => {
        import s.implicits._
        val ids = Tables.load(s, d, "documents").select(col("doc_id")).as[Long]
        val parsed = ids.map { id =>
          val a = 2.0 + (id % 8) * 0.25
          val hm = (id % 4) match {
            case 0 => "P -1"
            case 1 => "P 1 21/c 1"
            case 2 => "Pnma"
            case _ => "I 4/m m m"
          }
          val text =
            s"""data_gen
               |_symmetry_space_group_name_H-M '$hm'
               |_cell_length_a $a
               |_cell_length_b $a
               |_cell_length_c $a
               |_cell_angle_alpha 90.0
               |_cell_angle_beta 90.0
               |_cell_angle_gamma 90.0
               |loop_
               |_atom_site_type_symbol
               |_atom_site_fract_x
               |_atom_site_fract_y
               |_atom_site_fract_z
               |Na 0.0625 0.15625 0.28125
               |""".stripMargin
          (id, graft.sources.CifParser.parse(id.toString, text))
        }.toDF("doc_id", "rec")
        parsed.select(col("doc_id"),
            size(col("rec.species")).as("n_sites"),
            r4(col("rec.lattice.volume")).as("volume"),
            r4(aggregate(flatten(col("rec.frac_coords")), lit(0.0),
              (acc, v) => acc + v)).as("sum_frac"),
            r4(array_min(transform(col("rec.frac_coords"),
              f => element_at(f, 3)))).as("min_z"))
          .orderBy("doc_id")
      },
      Some(
        "WITH g AS (SELECT doc_id, CAST(2.0 + (doc_id % 8) * 0.25 AS DOUBLE) AS a, " +
          "doc_id % 4 AS grp FROM documents) " +
          "SELECT doc_id, " +
          "CAST(CASE grp WHEN 0 THEN 2 WHEN 1 THEN 4 WHEN 2 THEN 8 ELSE 32 END AS INTEGER) AS n_sites, " +
          "round(a * a * a, 4) AS volume, " +
          "round(CAST(CASE grp WHEN 0 THEN 3.0 WHEN 1 THEN 6.0 WHEN 2 THEN 12.0 ELSE 48.0 END AS DOUBLE), 4) AS sum_frac, " +
          "round(CAST(CASE grp WHEN 0 THEN 0.28125 ELSE 0.21875 END AS DOUBLE), 4) AS min_z " +
          "FROM g ORDER BY doc_id")),

    // partitioned table + partition pruning: write orders hive-partitioned
    // by year, read back with a partition filter. The plan must prune at
    // the directory level (asserted: the scan reads only the matching
    // partition's files) — the primary 100 TB scan lever.
    DeclaredQuery(
      "q_scan2",
      (s, d) => {
        val db = freshDb(s, "q_scan2")
        db.create(
          Tables.load(s, d, "orders").withColumn("o_year", year(col("o_orderdate"))),
          partitionBy = Seq("o_year"))
        val pruned = db.read().filter(col("o_year") === 1996)
        // partition pruning must reach the file source: the scan node must
        // carry the o_year partition filter (checking for absence of a
        // directory name would be vacuous — plans never print partition
        // dir names)
        val scan = pruned.queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }.headOption.getOrElse(throw new IllegalStateException("no FileSourceScan in q_scan2 plan"))
        require(scan.partitionFilters.exists(_.references.exists(_.name == "o_year")),
          s"partition pruning failed: no o_year partition filter on the scan " +
            s"(partitionFilters=${scan.partitionFilters})")
        pruned
          .groupBy(col("o_year"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .orderBy("o_year")
      },
      Some(
        "SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year, count(*) AS n, " +
          "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE),4) AS total " +
          "FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1 ORDER BY 1")),

    // normalize: rewrite into bounded files, verify row preservation + layout
    DeclaredQuery(
      "q_norm1",
      (s, d) => {
        import s.implicits._
        val db = freshDb(s, "q_norm1")
        db.create(Tables.load(s, d, "lineitem"))
        db.normalize(maxRowsPerFile = 8192)
        val stats = db.fileStats
        val rows = stats.map(_.numRows).sum
        val maxPerFile = stats.map(_.numRows).max
        Seq((rows, stats.size, maxPerFile <= 8192L))
          .toDF("n_rows", "n_files", "files_bounded")
          .select(col("n_rows"), col("n_files"), col("files_bounded"))
      },
      // n_files mirrors ParquetDatabase.packPartitions: ceil(rows / (8192 −
      // 8192/32)) = ceil(rows/7936.0) — the 1/32 headroom keeps round-robin
      // jitter under the maxRecordsPerFile cap so no partition spills a tiny
      // second file (zero-headroom packing produced 1 950 three-row files at
      // 100× bench scale; see packPartitions' scaladoc)
      Some(
        "SELECT count(*) AS n_rows, CAST(ceil(count(*)/7936.0) AS INTEGER) AS n_files, " +
          "true AS files_bounded FROM lineitem")),

    // byte-targeted normalize with a range-sorted layout: after
    // normalizeToBytes(sortBy=l_orderkey), the footer min/max ranges on the
    // sort key must be (near-)disjoint across row groups — the precondition
    // for row-group data skipping — and a sort-key predicate must reach the
    // scan as a pushed filter. The plan assertion runs at build time
    // (q_scan2 pattern); the oracle checks the row counts.
    DeclaredQuery(
      "q_norm2",
      (s, d) => {
        val db = freshDb(s, "q_norm2")
        db.create(Tables.load(s, d, "lineitem"))
        db.normalizeToBytes(targetBytesPerFile = 512 * 1024, sortBy = Seq("l_orderkey"))
        val ranges = graft.sources.ParquetStats.columnRanges(db.dir, "l_orderkey", s.sessionState.newHadoopConf())
        require(ranges.nonEmpty, "q_norm2: no l_orderkey footer stats after normalize")
        // sorted-by-min ranges may touch at a boundary key (maxRecordsPerFile
        // can split one key across files) but must never interleave
        val sortedR = ranges.sortBy(_._1)
        val disjoint = sortedR.zip(sortedR.drop(1)).forall { case ((_, hi), (lo2, _)) => lo2 >= hi }
        val pruned = db.read().filter(col("l_orderkey") <= 1000)
        val scan = pruned.queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }.headOption.getOrElse(throw new IllegalStateException("no FileSourceScan in q_norm2 plan"))
        require(scan.dataFilters.exists(_.references.exists(_.name == "l_orderkey")),
          s"q_norm2: l_orderkey filter not pushed to the scan (dataFilters=${scan.dataFilters})")
        pruned.agg(count(lit(1)).as("n_under"))
          .withColumn("n_total", lit(graft.sources.ParquetStats.totalRows(db.dir, s.sessionState.newHadoopConf())))
          .withColumn("ranges_disjoint", lit(disjoint))
          .select(col("n_total"), col("n_under"), col("ranges_disjoint"))
      },
      Some(
        "SELECT (SELECT count(*) FROM lineitem) AS n_total, count(*) AS n_under, " +
          "true AS ranges_disjoint FROM lineitem WHERE l_orderkey <= 1000")),

    // Z-order clustering: rewrite lineitem along a Morton curve over
    // (l_partkey, l_suppkey), then hit it with a predicate box on BOTH
    // columns. Each file covers a small hyper-rectangle of the value space,
    // so footer min/max stats prune files on either column — the
    // multi-dimensional complement to q_norm2's single-key sorted layout.
    // Asserted at build time: both filters reach the scan (pushdown) AND
    // the box intersects at most 60% of the files' footer rectangles (the
    // sharper comparative bound — z-order beats a 1-D sort on the trailing
    // column — is ZOrderSpec's job, at a fixed synthetic size).
    DeclaredQuery(
      "q_norm3",
      (s, d) => {
        val db = freshDb(s, "q_norm3")
        db.create(Tables.load(s, d, "lineitem"))
        db.normalizeZOrder(maxRowsPerFile = 8192, zCols = Seq("l_partkey", "l_suppkey"))
        val (pLo, pHi, sLo, sHi) = (100L, 300L, 10L, 30L)
        def hits(column: String, lo: Long, hi: Long): Set[String] =
          graft.sources.ParquetStats.fileKeyRanges(db.dir, column, s.sessionState.newHadoopConf()).collect {
            // a file without usable stats could hold matching rows — count
            // it as hit (conservative, same rule as the scoped upsert)
            case (p, None) => p
            case (p, Some((mn, mx))) if mx >= lo && mn <= hi => p
          }.toSet
        val nFiles = db.fileStats.size
        val boxHits = (hits("l_partkey", pLo, pHi) intersect hits("l_suppkey", sLo, sHi)).size
        require(boxHits <= math.ceil(nFiles * 0.6).toInt,
          s"q_norm3: z-order layout failed to localize the box — " +
            s"$boxHits of $nFiles files intersect a ~2% predicate box")
        val pruned = db.read().filter(
          col("l_partkey").between(pLo, pHi) && col("l_suppkey").between(sLo, sHi))
        val scan = pruned.queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }.headOption.getOrElse(throw new IllegalStateException("no FileSourceScan in q_norm3 plan"))
        for (c <- Seq("l_partkey", "l_suppkey"))
          require(scan.dataFilters.exists(_.references.exists(_.name == c)),
            s"q_norm3: $c filter not pushed to the scan (dataFilters=${scan.dataFilters})")
        pruned.agg(count(lit(1)).as("n_match"))
          .withColumn("n_total", lit(graft.sources.ParquetStats.totalRows(db.dir, s.sessionState.newHadoopConf())))
          .select(col("n_total"), col("n_match"))
      },
      Some(
        "SELECT (SELECT count(*) FROM lineitem) AS n_total, count(*) AS n_match " +
          "FROM lineitem WHERE l_partkey BETWEEN 100 AND 300 AND l_suppkey BETWEEN 10 AND 30")),

    // scoped small-file compaction: a range-laid-out table accretes a tail
    // of tiny append files (the streaming merge sink's natural debris);
    // compactSmallFiles bin-packs ONLY the tail, leaving every
    // healthy-sized file byte-identical — cost tracks the tail, not table
    // size (normalize() would rewrite all 100 TB to fix a few MB). Build
    // -time asserts: files at/above the size threshold keep their mtimes,
    // the tail actually packs, the file count drops. The oracle checks the
    // surviving data.
    DeclaredQuery(
      "q_norm4",
      (s, d) => {
        val db = freshDb(s, "q_norm4")
        db.create(Tables.load(s, d, "lineitem").select("l_orderkey", "l_extendedprice"))
        db.normalize(maxRowsPerFile = 8192, sortBy = Seq("l_orderkey"))
        // six tiny appends — deterministic orders slices conformed to the
        // store schema, one file each
        for (i <- 0 until 6)
          db.create(Tables.load(s, d, "orders")
            .filter(col("o_orderkey") % 6000 === i)
            .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice").as("l_extendedprice"))
            .repartition(1))
        def snapshot(): Map[String, Long] = {
          val hconf = s.sessionState.newHadoopConf()
          val fs = new org.apache.hadoop.fs.Path(db.dir).getFileSystem(hconf)
          graft.sources.ParquetStats.listParquetFiles(db.dir, hconf)
            .map(p => p.toString -> fs.getFileStatus(p).getModificationTime).toMap
        }
        val before = snapshot()
        val target = db.fileStats.map(_.fileBytes).max
        val mustSurvive = db.fileStats.filter(_.fileBytes >= (target * 0.5).toLong).map(_.path)
        val packed = db.compactSmallFiles(target, sortBy = Seq("l_orderkey"))
        val after = snapshot()
        require(mustSurvive.forall(p => after.get(p) == before.get(p)),
          "q_norm4: compaction touched a healthy-sized file")
        require(packed >= 6 && after.size < before.size,
          s"q_norm4: tail not packed (packed=$packed, files ${before.size}->${after.size})")
        db.read()
          .agg(count(lit(1)).as("n_rows"), dsum(col("l_extendedprice")).as("total"))
          .withColumn("healthy_untouched", lit(true))
          .withColumn("tail_packed", lit(true))
      },
      Some(
        "SELECT (SELECT count(*) FROM lineitem) + (SELECT count(*) FROM orders WHERE o_orderkey % 6000 < 6) AS n_rows, " +
          "round(CAST((SELECT sum(CAST(l_extendedprice AS DECIMAL(18,2))) FROM lineitem) + " +
          "(SELECT sum(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders WHERE o_orderkey % 6000 < 6) AS DOUBLE), 4) AS total, " +
          "true AS healthy_untouched, true AS tail_packed")),

    // scoped compaction on a HIVE-PARTITIONED store: streaming sinks and
    // create(partitionBy) accrete small-file tails inside partition dirs —
    // exactly where a whole-table normalize() is most wasteful. The
    // bin-packing runs per partition leaf with the crash-safe swap scoped
    // to that directory; partition columns live in the dir names and must
    // survive. Build-time asserts healthy-file mtime identity and that both
    // dirs' tails packed; the oracle checks surviving data INCLUDING the
    // directory-encoded column.
    DeclaredQuery(
      "q_norm5",
      (s, d) => {
        val db = freshDb(s, "q_norm5")
        db.create(Tables.load(s, d, "orders")
          .select(col("o_orderkey"), col("o_totalprice"),
            (col("o_orderkey") % 2).cast("string").as("bucket"))
          .repartition(2), partitionBy = Seq("bucket"))
        // four tiny appends landing in BOTH partition dirs (c_custkey % 100
        // fixes parity, so the bucket comes from the hundreds digit — each
        // append's rows alternate buckets and write one small file per dir)
        for (i <- 0 until 4)
          db.create(Tables.load(s, d, "customer")
            .filter(col("c_custkey") % 100 === i)
            .select((col("c_custkey") + 10000000L).as("o_orderkey"),
              col("c_acctbal").as("o_totalprice"),
              (floor(col("c_custkey") / 100) % 2).cast("string").as("bucket"))
            .repartition(1), partitionBy = Seq("bucket"))
        def snapshot(): Map[String, Long] = {
          val root = new org.apache.hadoop.fs.Path(db.dir)
          val fs = root.getFileSystem(s.sessionState.newHadoopConf())
          val it = fs.listFiles(root, true)
          val buf = scala.collection.mutable.Map[String, Long]()
          while (it.hasNext) {
            val st = it.next()
            if (st.getPath.getName.endsWith(".parquet"))
              buf(st.getPath.toString) = st.getModificationTime
          }
          buf.toMap
        }
        def sizes(): Map[String, Long] = {
          val root = new org.apache.hadoop.fs.Path(db.dir)
          val fs = root.getFileSystem(s.sessionState.newHadoopConf())
          val it = fs.listFiles(root, true)
          val buf = scala.collection.mutable.Map[String, Long]()
          while (it.hasNext) {
            val st = it.next()
            if (st.getPath.getName.endsWith(".parquet"))
              buf(st.getPath.toString) = st.getLen
          }
          buf.toMap
        }
        val before = snapshot()
        val bySize = sizes()
        val target = bySize.values.max
        val mustSurvive = bySize.filter(_._2 >= (target * 0.5).toLong).keys.toSeq
        val packed = db.compactSmallFiles(target)
        val after = snapshot()
        require(mustSurvive.forall(p => after.get(p) == before.get(p)),
          "q_norm5: compaction touched a healthy-sized file")
        // 4 appends × 2 dirs, except tiny scale factors where an append's
        // few rows may land single-bucket — so assert the per-DIR property
        // (every partition dir's tail packed) rather than a fixed count
        def filesPerDir(m: Map[String, Long]): Map[String, Int] =
          m.keys.groupBy(p => new org.apache.hadoop.fs.Path(p).getParent.getName)
            .map { case (dir, ps) => dir -> ps.size }
        val (fb, fa) = (filesPerDir(before), filesPerDir(after))
        require(packed >= 6 && fb.keys.forall(k => fa(k) < fb(k)),
          s"q_norm5: partition tails not packed in every dir (packed=$packed, $fb -> $fa)")
        db.read()
          .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("total"),
            countDistinct(col("bucket")).cast("int").as("n_buckets"))
          .withColumn("healthy_untouched", lit(true))
          .withColumn("tail_packed", lit(true))
      },
      Some(
        "SELECT (SELECT count(*) FROM orders) + (SELECT count(*) FROM customer WHERE c_custkey % 100 < 4) AS n_rows, " +
          "round(CAST((SELECT sum(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders) + " +
          "(SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer WHERE c_custkey % 100 < 4) AS DOUBLE), 4) AS total, " +
          "2 AS n_buckets, true AS healthy_untouched, true AS tail_packed")),

    // crash-recovery drill on the oracle gate: the two crash states of the
    // commit kernel — a MID-MOVE crash (manifest written, an original moved
    // aside, a replacement moved in) must roll back to the original, and a
    // complete stage that holds the gate but renamed nothing must be
    // dropped with the table untouched — then prove the surviving data is
    // exactly the source. recover() must also be idempotent (second call =
    // no-op).
    DeclaredQuery(
      "q_norm6",
      (s, d) => {
        val db = freshDb(s, "q_norm6")
        val src = Tables.load(s, d, "nation").select(col("n_nationkey"), col("n_name"))
        db.create(src)
        val conf = s.sessionState.newHadoopConf()
        val fs = new org.apache.hadoop.fs.Path(db.dir).getFileSystem(conf)
        def P(p: String) = new org.apache.hadoop.fs.Path(p)
        val originals = graft.sources.ParquetStats.listParquetFiles(db.dir, conf)
        // a complete stage holding the gate: every original touched, the
        // stage's files as replacements
        def holdGate(stage: String): Seq[org.apache.hadoop.fs.Path] = {
          src.limit(3).write.mode("overwrite").parquet(stage)
          val staged = graft.sources.ParquetStats.listParquetFiles(stage, conf)
          fs.mkdirs(P(db.dir + "__patch_old"))
          graft.sources.HadoopText.write(fs, P(db.dir + "__patch_old/_manifest"),
            (originals.map(p => s"touched\t$p") ++
              staged.map(f => s"new\t${db.dir}/${f.getName}")).mkString("\n"))
          staged
        }
        // drill 1: mid-move crash
        val staged = holdGate(db.dir + "__patch_tmp_q6a")
        require(fs.rename(originals.head, P(db.dir + "__patch_old/" + originals.head.getName)) &&
          fs.rename(staged.head, P(db.dir + "/" + staged.head.getName)), "q_norm6: fixture renames")
        require(db.recover().exists(_.startsWith("restored")),
          "q_norm6: mid-move crash was not rolled back")
        // drill 2: the gate held, nothing renamed
        holdGate(db.dir + "__patch_tmp_q6b")
        val acts = db.recover()
        require(acts.exists(_.contains("__patch_tmp_q6b")) &&
          !acts.exists(a => a.startsWith("restored") || a.startsWith("removed")),
          s"q_norm6: the gate-holding stage was not dropped cleanly: ${acts.mkString("; ")}")
        require(db.recover().isEmpty, "q_norm6: recover() not idempotent")
        db.read()
          .agg(count(lit(1)).as("n_rows"), sum(col("n_nationkey")).as("key_sum"))
          .withColumn("rolled_back", lit(true))
          .withColumn("stage_dropped", lit(true))
      },
      Some(
        "SELECT count(*) AS n_rows, CAST(sum(n_nationkey) AS BIGINT) AS key_sum, " +
          "true AS rolled_back, true AS stage_dropped FROM nation")),

    // snapshot / TIME TRAVEL on the store: tag the table, mutate it twice
    // (scoped upsert + predicate delete — both would normally delete the
    // superseded files), then read the table AS OF the tag. Snapshots are
    // manifests, not copies: pinned files move to an archive instead of
    // being deleted, so retention cost is exactly the pinned bytes. The
    // drill also proves vacuum honors pins: a second snapshot is dropped
    // and vacuumed, and the tagged read — the query's own output — must
    // still resolve every file. Oracle = the ORIGINAL table.
    DeclaredQuery(
      "q_norm7",
      (s, d) => {
        val db = freshDb(s, "q_norm7")
        val fs = new org.apache.hadoop.fs.Path(db.dir)
          .getFileSystem(s.sessionState.newHadoopConf())
        // snapshot manifests/archive live BESIDE the table dir and would
        // collide across runs — clear them with the fixture
        for (suffix <- Seq("__snapshots", "__archive"))
          fs.delete(new org.apache.hadoop.fs.Path(db.dir + suffix), true)
        val base = Tables.load(s, d, "orders")
          .select(col("o_orderkey"), money(col("o_totalprice")).as("price"),
            col("o_orderpriority").as("prio"))
        db.create(base)
        db.normalize(maxRowsPerFile = 25000, sortBy = Seq("o_orderkey"))
        db.snapshot("pre")
        // mutate: price bump on %7 keys (scoped file patch) + delete %13 keys
        db.upsert(base.where(col("o_orderkey") % 7 === 0)
          .withColumn("price", (col("price") + money(lit(5.0)))
            .cast(org.apache.spark.sql.types.DecimalType(18, 2))), "o_orderkey")
        db.deleteWhere(col("o_orderkey") % 13 === 0)
        require(db.read().count() < base.count(), "q_norm7: delete did not shrink the table")
        // vacuum drill: dropping an unrelated snapshot must not reclaim
        // files the 'pre' tag still pins (the returned read proves it)
        db.snapshot("tmp")
        db.dropSnapshot("tmp")
        db.vacuumSnapshots()
        db.readSnapshot("pre")
          .select(col("o_orderkey"), r4(col("price").cast("double")).as("price"), col("prio"))
          .orderBy("o_orderkey")
      },
      Some(
        "SELECT o_orderkey, round(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE), 4) AS price, " +
          "o_orderpriority AS prio FROM orders ORDER BY o_orderkey")),

    // "what changed since the tag": snapshot time travel composed with the
    // reconciliation diff — the incremental-audit primitive ("diff prod
    // against yesterday's tag") in one plan: readSnapshot(pre) vs the
    // current table through one full-outer key join
    DeclaredQuery(
      "q_norm8",
      (s, d) => {
        val db = freshDb(s, "q_norm8")
        val fs = new org.apache.hadoop.fs.Path(db.dir)
          .getFileSystem(s.sessionState.newHadoopConf())
        for (suffix <- Seq("__snapshots", "__archive"))
          fs.delete(new org.apache.hadoop.fs.Path(db.dir + suffix), true)
        val base = Tables.load(s, d, "orders")
          .select(col("o_orderkey"), money(col("o_totalprice")).as("price"),
            col("o_orderpriority").as("prio"))
        db.create(base)
        db.normalize(maxRowsPerFile = 25000, sortBy = Seq("o_orderkey"))
        db.snapshot("pre")
        db.upsert(base.where(col("o_orderkey") % 7 === 0)
          .withColumn("price", (col("price") + money(lit(5.0)))
            .cast(org.apache.spark.sql.types.DecimalType(18, 2))), "o_orderkey")
        db.deleteWhere(col("o_orderkey") % 13 === 0)
        graft.operators.SnapshotDiff.diff(db.readSnapshot("pre"), db.read(), Seq("o_orderkey"))
          .select(col("o_orderkey"), col("status"), col("changed_cols"),
            r4(col("old_price").cast("double")).as("old_price"),
            r4(col("new_price").cast("double")).as("new_price"))
          .orderBy("o_orderkey")
      },
      Some(
        "WITH o AS (SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) price, o_orderpriority prio, 1 AS in_old " +
          "FROM orders), " +
          "n AS (SELECT o_orderkey, CASE WHEN o_orderkey % 7 = 0 THEN CAST(o_totalprice AS DECIMAL(18,2)) + 5.00 " +
          "ELSE CAST(o_totalprice AS DECIMAL(18,2)) END price, o_orderpriority prio, 1 AS in_new " +
          "FROM orders WHERE o_orderkey % 13 <> 0) " +
          "SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey, " +
          "CASE WHEN o.in_old IS NULL THEN 'added' WHEN n.in_new IS NULL THEN 'removed' " +
          "WHEN NOT (o.price IS NOT DISTINCT FROM n.price AND o.prio IS NOT DISTINCT FROM n.prio) THEN 'changed' " +
          "ELSE 'unchanged' END AS status, " +
          "CASE WHEN o.in_old IS NOT NULL AND n.in_new IS NOT NULL " +
          "AND NOT (o.price IS NOT DISTINCT FROM n.price AND o.prio IS NOT DISTINCT FROM n.prio) " +
          "THEN array_to_string(list_filter([CASE WHEN NOT (o.price IS NOT DISTINCT FROM n.price) THEN 'price' END, " +
          "CASE WHEN NOT (o.prio IS NOT DISTINCT FROM n.prio) THEN 'prio' END], x -> x IS NOT NULL), ',') " +
          "ELSE '' END AS changed_cols, " +
          "round(CAST(o.price AS DOUBLE), 4) AS old_price, round(CAST(n.price AS DOUBLE), 4) AS new_price " +
          "FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey " +
          "WHERE NOT (o.in_old IS NOT NULL AND n.in_new IS NOT NULL " +
          "AND o.price IS NOT DISTINCT FROM n.price AND o.prio IS NOT DISTINCT FROM n.prio) " +
          "ORDER BY o_orderkey")),

    // snapshot RETENTION POLICY: max-age and max-count auto-vacuum on the
    // tag lifecycle. Four dailies accumulate across three mutations; an
    // age policy (cutoff injected from the real manifest mtimes, so the
    // property is run-relative, not wall-clock-dependent) reaps d1, then
    // the auto-vacuum snapshot overload enforces maxCount=2 and reaps d2.
    // The oracle reads d3 — a snapshot whose pinned files are PARTLY IN
    // ARCHIVE after the later mutation, i.e. exactly the bytes two policy
    // vacuums could have bitten — and must get the as-of table exactly.
    DeclaredQuery(
      "q_norm9",
      (s, d) => {
        val db = freshDb(s, "q_norm9")
        val hfs = new org.apache.hadoop.fs.Path(db.dir)
          .getFileSystem(s.sessionState.newHadoopConf())
        for (suffix <- Seq("__snapshots", "__archive"))
          hfs.delete(new org.apache.hadoop.fs.Path(db.dir + suffix), true)
        val base = Tables.load(s, d, "orders")
          .select(col("o_orderkey"), money(col("o_totalprice")).as("price"),
            col("o_orderpriority").as("prio"))
        db.create(base)
        db.normalize(maxRowsPerFile = 25000, sortBy = Seq("o_orderkey"))
        db.snapshot("d1")
        db.upsert(base.where(col("o_orderkey") % 7 === 0)
          .withColumn("price", (col("price") + money(lit(5.0)))
            .cast(org.apache.spark.sql.types.DecimalType(18, 2))), "o_orderkey")
        db.snapshot("d2")
        db.deleteWhere(col("o_orderkey") % 13 === 0)
        db.snapshot("d3")
        // a third mutation parks d3-pinned files in the archive
        db.upsert(db.read().where(col("o_orderkey") % 5 === 0)
          .withColumn("price", (col("price") + money(lit(1.0)))
            .cast(org.apache.spark.sql.types.DecimalType(18, 2))), "o_orderkey")
        def mtime(tag: String) = hfs.getFileStatus(
          new org.apache.hadoop.fs.Path(db.dir + "__snapshots", tag)).getModificationTime
        require(mtime("d2") > mtime("d1"),
          "q_norm9 fixture: d1/d2 manifest mtimes collided within one millisecond")
        // age policy: everything strictly older than d2 is over-age
        val aged = db.applyRetention(maxAgeMillis = 1000L,
          nowMillis = mtime("d1") + 1 + 1000L)
        require(aged == Seq("d1"), s"q_norm9: age policy dropped $aged, want [d1]")
        // count policy via the auto-vacuum snapshot overload
        val reaped = db.snapshot("d4", maxCount = 2)
        require(reaped == Seq("d2"), s"q_norm9: count policy dropped $reaped, want [d2]")
        require(db.snapshots == Seq("d3", "d4"),
          s"q_norm9: surviving tags ${db.snapshots}, want [d3, d4]")
        db.readSnapshot("d3")
          .select(col("o_orderkey"), r4(col("price").cast("double")).as("price"), col("prio"))
          .orderBy("o_orderkey")
      },
      Some(
        "SELECT o_orderkey, round(CAST(CAST(o_totalprice AS DECIMAL(18,2)) + " +
          "CASE WHEN o_orderkey % 7 = 0 THEN 5.00 ELSE 0.00 END AS DOUBLE), 4) AS price, " +
          "o_orderpriority AS prio FROM orders WHERE o_orderkey % 13 <> 0 ORDER BY o_orderkey")),

    // upsert + predicate delete (the underlying ParquetDB store's
    // update/delete surface): anti-join + union + crash-safe rewrite, then
    // a filtered rewrite; the oracle is the expected final table
    DeclaredQuery(
      "q_upd1",
      (s, _) => {
        import s.implicits._
        val db = freshDb(s, "q_upd1")
        db.create(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("id", "x", "v"))
        db.upsert(Seq((2L, "B", 99.0), (4L, "d", 40.0)).toDF("id", "x", "v"), "id")
        db.deleteWhere(col("v") === 40.0)
        db.read().select(col("id"), col("x"), r4(col("v")).as("v")).orderBy("id")
      },
      Some(
        "SELECT * FROM (VALUES (CAST(1 AS BIGINT), 'a', CAST(10.0 AS DOUBLE)), " +
          "(CAST(2 AS BIGINT), 'B', CAST(99.0 AS DOUBLE)), " +
          "(CAST(3 AS BIGINT), 'c', CAST(30.0 AS DOUBLE))) t(id, x, v) ORDER BY id")),

    // bucketed co-located join: both tables pre-shuffled once at write time
    // on the join key, then a fact-fact join + aggregation on that key runs
    // with ZERO hash exchange — asserted in-plan at build time (q_scan2
    // pattern). The one-time layout cost replacing every recurring shuffle
    // is the single biggest lever for repeated join workloads at 100 TB.
    DeclaredQuery(
      "q_ext_bucket1",
      (s, d) => {
        import graft.sources.Bucketing
        val li = Tables.load(s, d, "lineitem").select("l_orderkey", "l_quantity")
        val o = Tables.load(s, d, "orders")
          .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
        Bucketing.writeBucketed(li, "q_bucket1_li", "l_orderkey", buckets = 8)
        Bucketing.writeBucketed(o, "q_bucket1_o", "l_orderkey", buckets = 8)
        val out = Bucketing.read(s, "q_bucket1_li")
          .join(Bucketing.read(s, "q_bucket1_o"), "l_orderkey")
          .groupBy("l_orderkey")
          .agg(dsum(col("l_quantity")).as("qty"), count(lit(1)).as("n"),
            r4(max(col("o_totalprice"))).as("total"))
          .orderBy("l_orderkey")
        require(Bucketing.isShuffleFree(out),
          "q_ext_bucket1: bucketed join/agg plan contains a hash exchange:\n" +
            out.queryExecution.executedPlan.toString)
        out
      },
      Some(
        "SELECT l_orderkey, round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE),4) AS qty, " +
          "count(*) AS n, round(max(o_totalprice),4) AS total " +
          "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
          "GROUP BY 1 ORDER BY 1")))
}
