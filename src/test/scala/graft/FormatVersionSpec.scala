package graft

import org.scalatest.funsuite.AnyFunSuite

/** `format-version` fidelity (Iceberg spec per-version feature gates):
  * the stamped version must ADMIT the constructs the layout carries —
  * row lineage, deletion vectors, and VARIANT are v3-only. Tables
  * default to auto-raise (stamp 3 the moment a v3 construct lands); an
  * EXPLICIT format-version=2 pins the table to v2 semantics (no
  * lineage, v3 features refuse) until the one-way ALTER upgrade. */
class FormatVersionSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = SparkSpec.spark
    val wh = new java.io.File("target/tmp-fv-wh")
    org.apache.commons.io.FileUtils.deleteQuietly(wh)
    s.conf.set("spark.sql.catalog.fv",
      classOf[graft.sources.v2.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.fv.warehouse", wh.getAbsolutePath)
    s.sql("CREATE NAMESPACE IF NOT EXISTS fv.db")
    s
  }
  private def tdir(name: String) = s"target/tmp-fv-wh/db/$name"
  private def stamped(name: String): Int =
    graft.sources.LayoutMaintenance.tableFormatVersion(spark, tdir(name))
  private def metaDoc(name: String): com.fasterxml.jackson.databind.JsonNode = {
    val m = new java.io.File(tdir(name), "metadata")
    val hint = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(m, "version-hint.text").toPath), "UTF-8").trim
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(m, s"v$hint.metadata.json"))
  }

  test("default tables stamp 3: row lineage is a v3 construct") {
    spark.sql("CREATE TABLE fv.db.auto (k BIGINT, v BIGINT) " +
      "USING `graft-iceberg`")
    spark.sql("INSERT INTO fv.db.auto SELECT /*+ COALESCE(1) */ * FROM " +
      "VALUES (1L, 10L), (2L, 20L) AS t(k, v)")
    assert(stamped("auto") == 3, s"lineage-assigning layout: ${stamped("auto")}")
    assert(metaDoc("auto").has("next-row-id"), "v3 counter present")
    // and _row_id really serves
    val ids = spark.sql("SELECT _row_id FROM fv.db.auto ORDER BY _row_id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(0L, 1L), ids.toString)
  }

  test("explicit v2: no lineage, stamp stays 2 across commits") {
    spark.sql("CREATE TABLE fv.db.v2t (k BIGINT, v BIGINT) " +
      "USING `graft-iceberg` TBLPROPERTIES ('format-version' = '2')")
    spark.sql("INSERT INTO fv.db.v2t SELECT /*+ COALESCE(1) */ * FROM " +
      "VALUES (1L, 10L), (2L, 20L) AS t(k, v)")
    spark.sql("INSERT INTO fv.db.v2t SELECT /*+ COALESCE(1) */ * FROM " +
      "VALUES (3L, 30L) AS t(k, v)")
    assert(stamped("v2t") == 2, s"explicit v2: ${stamped("v2t")}")
    assert(!metaDoc("v2t").has("next-row-id"), "no v3 counter on a v2 table")
    // _row_id reads null (the v2 contract: lineage does not exist)
    val ids = spark.sql("SELECT _row_id FROM fv.db.v2t").collect()
    assert(ids.forall(_.isNullAt(0)), "v2 rows carry no lineage")
  }

  test("explicit v2 refuses VARIANT at CREATE and ADD COLUMN") {
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE fv.db.v2var (k BIGINT, doc VARIANT) " +
        "USING `graft-iceberg` TBLPROPERTIES ('format-version' = '2')")
    }
    assert(e.getMessage.contains("format-version"), e.getMessage)
    spark.sql("CREATE TABLE fv.db.v2add (k BIGINT) " +
      "USING `graft-iceberg` TBLPROPERTIES ('format-version' = '2')")
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE fv.db.v2add ADD COLUMN doc VARIANT")
    }
    assert(e2.getMessage.contains("format-version"), e2.getMessage)
  }

  /** An explicitly-v2 table refuses deletion vectors on every commit
    * shape that can land one — the SQL merge-on-read DELETE and a
    * programmatic append of a PUFFIN entry — on both sides of the
    * scan planner's driver-entry cap (`cap` =
    * spark.graft.maxDriverFileEntries, None = the default; a toy cap of
    * 1 plans the DELETE's scan per manifest instead of per file —
    * commits do not read the cap). The v2 -> v3 upgrade then unlocks
    * them (at the default cap: the scan planner reads tombstoned
    * snapshots only under it). */
  private def v2RefusesDv(name: String, cap: Option[Int]): Unit = {
    spark.sql(s"CREATE TABLE fv.db.$name (k BIGINT, v BIGINT) " +
      "USING `graft-iceberg` TBLPROPERTIES ('format-version' = '2', " +
      "'write.delete.mode' = 'merge-on-read', " +
      "'write.delete.format' = 'dv')")
    // two data files: one more than the toy cap, so the capped DELETE
    // really plans its scan per manifest
    spark.sql(s"INSERT INTO fv.db.$name SELECT /*+ COALESCE(1) */ * FROM " +
      "VALUES (1L, 10L), (2L, 20L) AS t(k, v)")
    spark.sql(s"INSERT INTO fv.db.$name SELECT /*+ COALESCE(1) */ * FROM " +
      "VALUES (3L, 30L) AS t(k, v)")
    def hint(): Long = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(tdir(name), "metadata/version-hint.text").toPath),
      "UTF-8").trim.toLong
    val hintBefore = hint()
    cap.foreach(c =>
      spark.conf.set("spark.graft.maxDriverFileEntries", c.toString))
    try {
      def refusesV3(e: Exception): Unit =
        assert(e.getMessage != null &&
          (e.getMessage.contains("format-version") ||
            Option(e.getCause).exists(_.getMessage.contains("format-version"))),
          s"dv on v2 must refuse: ${e.getMessage}")
      refusesV3(intercept[Exception] {
        spark.sql(s"DELETE FROM fv.db.$name WHERE k = 2")
      })
      // a fast append carrying a deletion vector: the same gate
      val dataFile = graft.sources.IcebergManifestSource
        .statsFromTableDir(spark, tdir(name), "t", Nil)
        .select("file_path").orderBy("file_path").head.getString(0)
      val dv = new java.io.File(tdir(name), s"data/dv-append-$name.puffin")
      graft.sources.DeletionVectors.write(dv, 0L, Seq((dataFile, Seq(1L))))
      refusesV3(intercept[Exception] {
        graft.sources.LayoutMaintenance.commitAppend(spark, tdir(name),
          Seq(graft.sources.IcebergLayoutWriter.ManifestEntrySpec(
            status = 1, content = 1, filePath = dv.getAbsolutePath,
            recordCount = 1L, sizeBytes = dv.length(),
            fileFormat = "PUFFIN")))
      })
    } finally spark.conf.unset("spark.graft.maxDriverFileEntries")
    assert(hint() == hintBefore, "a refused commit commits nothing")
    assert(stamped(name) == 2, "refusal leaves the v2 stamp")
    // the spec's v2 -> v3 upgrade: ONE metadata-only commit
    val snapsBefore = graft.sources.LayoutMaintenance
      .snapshotIds(spark, tdir(name)).size
    spark.sql(s"ALTER TABLE fv.db.$name SET TBLPROPERTIES " +
      "('format-version' = '3')")
    assert(stamped(name) == 3, "upgrade stamps 3 immediately")
    assert(hint() == hintBefore + 1, "exactly one metadata commit")
    assert(graft.sources.LayoutMaintenance
      .snapshotIds(spark, tdir(name)).size == snapsBefore,
      "metadata-only: no new snapshot")
    // and deletion vectors now work end-to-end
    spark.sql(s"DELETE FROM fv.db.$name WHERE k = 2")
    assert(spark.sql(s"SELECT k FROM fv.db.$name ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 3L))
    val delFmts = graft.sources.IcebergManifestSource
      .statsFromTableDir(spark, tdir(name), "t", Nil)
      .filter(org.apache.spark.sql.functions.col("content") === 1)
      .select("file_format").collect().map(_.getString(0)).toSet
    assert(delFmts == Set("PUFFIN"), delFmts.toString)
  }

  test("explicit v2 refuses deletion vectors; upgrade unlocks them") {
    v2RefusesDv("v2dv", cap = None)
  }

  test("explicit v2 refuses deletion vectors past the driver-entry cap too") {
    v2RefusesDv("v2dvcap", cap = Some(1))
  }

  test("downgrade 3 -> 2 refuses (the upgrade is one-way)") {
    spark.sql("CREATE TABLE fv.db.down (k BIGINT) USING `graft-iceberg`")
    spark.sql("INSERT INTO fv.db.down VALUES (1L)")
    assert(stamped("down") == 3)
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE fv.db.down SET TBLPROPERTIES " +
        "('format-version' = '2')")
    }
    assert(e.getMessage.contains("downgrade"), e.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE fv.db.down SET TBLPROPERTIES " +
        "('format-version' = '7')")
    }
    assert(e2.getMessage.contains("format-version"), e2.getMessage)
  }

  test("v3-declared tables default position deletes to deletion vectors") {
    def delFmts(name: String): Set[String] =
      graft.sources.IcebergManifestSource
        .statsFromTableDir(spark, tdir(name), "t", Nil)
        .filter(org.apache.spark.sql.functions.col("content") === 1)
        .select("file_format").collect().map(_.getString(0)).toSet
    // declared v3 + merge-on-read, NO delete-format property -> DVs
    spark.sql("CREATE TABLE fv.db.dv3 (k BIGINT, v BIGINT) " +
      "USING `graft-iceberg` TBLPROPERTIES ('format-version' = '3', " +
      "'write.delete.mode' = 'merge-on-read')")
    spark.sql("INSERT INTO fv.db.dv3 SELECT /*+ COALESCE(1) */ id, id * 10 " +
      "FROM range(0, 20)")
    spark.sql("INSERT INTO fv.db.dv3 SELECT /*+ COALESCE(1) */ id, id * 10 " +
      "FROM range(20, 40)")
    spark.sql("DELETE FROM fv.db.dv3 WHERE k % 10 = 3")
    assert(delFmts("dv3") == Set("PUFFIN"), delFmts("dv3").toString)
    assert(spark.sql("SELECT count(*) FROM fv.db.dv3").head.getLong(0)
      == 36L)
    // a second delete, then the fold: rewrite_position_deletes on a v3
    // table consolidates into ONE puffin (never a new tombstone FILE)
    spark.sql("DELETE FROM fv.db.dv3 WHERE k % 10 = 7")
    val (_, before, after, nPairs) = graft.sources.LayoutMaintenance
      .rewritePositionDeletes(spark, tdir("dv3"))
    // successive DELETEs already fold per-target (the one-DV-per-file
    // invariant), so `before` may be 1 — the fold must still emit DV
    assert(before >= 1 && after == 1 && nPairs == 8L,
      s"fold: $before -> $after, $nPairs pairs")
    assert(delFmts("dv3") == Set("PUFFIN"),
      s"the v3 fold must stay DV: ${delFmts("dv3")}")
    assert(spark.sql("SELECT count(*) FROM fv.db.dv3").head.getLong(0)
      == 32L)
    // an explicit tombstone FILE format wins over the v3 default
    spark.sql("CREATE TABLE fv.db.dv3f (k BIGINT) USING `graft-iceberg` " +
      "TBLPROPERTIES ('format-version' = '3', " +
      "'write.delete.mode' = 'merge-on-read', " +
      "'write.delete.format.default' = 'parquet')")
    spark.sql("INSERT INTO fv.db.dv3f SELECT /*+ COALESCE(1) */ id " +
      "FROM range(0, 10)")
    spark.sql("DELETE FROM fv.db.dv3f WHERE k % 2 = 1")
    assert(delFmts("dv3f") == Set("PARQUET"), delFmts("dv3f").toString)
    // version-unset tables keep the dialect's file-tombstone default
    spark.sql("CREATE TABLE fv.db.dvu (k BIGINT) USING `graft-iceberg` " +
      "TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')")
    spark.sql("INSERT INTO fv.db.dvu SELECT /*+ COALESCE(1) */ id " +
      "FROM range(0, 10)")
    spark.sql("DELETE FROM fv.db.dvu WHERE k % 2 = 1")
    assert(delFmts("dvu") == Set("PARQUET"), delFmts("dvu").toString)
  }

  test("pre-lineage fixture layouts stamp 2 until a commit assigns lineage") {
    import spark.implicits._
    import graft.sources.{IcebergLayoutWriter, LayoutMaintenance}
    val tbl = new java.io.File("target/tmp-fv-prelineage")
    org.apache.commons.io.FileUtils.deleteQuietly(tbl)
    val dataDir = new java.io.File(tbl, "data"); dataDir.mkdirs()
    val f = new java.io.File(dataDir, "f0.parquet")
    val n = IcebergLayoutWriter.writeSingleParquet(
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), f)
    IcebergLayoutWriter.writeTable(tbl,
      Seq(IcebergLayoutWriter.ManifestEntrySpec(status = 1, content = 0,
        filePath = f.getAbsolutePath, recordCount = n,
        sizeBytes = f.length())),
      assignRowIds = false)
    assert(LayoutMaintenance.tableFormatVersion(spark, tbl.getPath) == 2,
      "pre-lineage layout says 2")
    // an append on the UNPINNED table assigns lineage -> the stamp
    // raises to 3 with the construct (implicit upgrade)
    val f1 = new java.io.File(dataDir, "f1.parquet")
    val n1 = IcebergLayoutWriter.writeSingleParquet(
      Seq((3L, 30L)).toDF("k", "v"), f1)
    LayoutMaintenance.commitAppend(spark, tbl.getPath,
      Seq(IcebergLayoutWriter.ManifestEntrySpec(status = 1, content = 0,
        filePath = f1.getAbsolutePath, recordCount = n1,
        sizeBytes = f1.length())))
    assert(LayoutMaintenance.tableFormatVersion(spark, tbl.getPath) == 3,
      "lineage-assigning commit raises the stamp")
  }

  test("a truncated metadata or descriptor document fails loudly, naming the file") {
    import spark.implicits._
    import graft.sources.{IcebergLayoutWriter, IcebergManifestSource, LayoutMaintenance}
    val tbl = new java.io.File("target/tmp-fv-corrupt")
    org.apache.commons.io.FileUtils.deleteQuietly(tbl)
    val dataDir = new java.io.File(tbl, "data"); dataDir.mkdirs()
    val f = new java.io.File(dataDir, "f0.parquet")
    val n = IcebergLayoutWriter.writeSingleParquet(
      Seq((1L, 10L)).toDF("k", "v"), f)
    IcebergLayoutWriter.writeTable(tbl,
      Seq(IcebergLayoutWriter.ManifestEntrySpec(status = 1, content = 0,
        filePath = f.getAbsolutePath, recordCount = n,
        sizeBytes = f.length())))
    def truncate(doc: java.io.File): Unit = {
      val bytes = java.nio.file.Files.readAllBytes(doc.toPath)
      java.nio.file.Files.write(doc.toPath, bytes.take(bytes.length / 2))
    }
    def namesFile(doc: java.io.File, table: java.io.File = tbl)(
        body: => Any): Unit = {
      val e = intercept[Exception](body)
      assert(String.valueOf(e.getMessage).contains(doc.getName) &&
        String.valueOf(e.getMessage).contains(table.getName),
        s"error must name $doc: ${e.getMessage}")
    }
    // a torn descriptor is not "no properties"
    val desc = new java.io.File(tbl, "graft-table.json")
    java.nio.file.Files.write(desc.toPath,
      """{"properties": {"format-version": "2", "write.format.default": "orc"}}"""
        .getBytes("UTF-8"))
    assert(LayoutMaintenance.declaredFormatVersion(spark, tbl.getPath)
      .contains(2))
    truncate(desc)
    namesFile(desc)(LayoutMaintenance.descriptorProps(tbl.getPath))
    namesFile(desc)(LayoutMaintenance.declaredFormatVersion(spark, tbl.getPath))
    // a schema-ddl that does not parse is not "no declared schema"
    java.nio.file.Files.write(desc.toPath,
      """{"schema-ddl": "k BIGINT,,"}""".getBytes("UTF-8"))
    namesFile(desc)(graft.sources.MorRead.readTable(spark, tbl.getPath))
    // nor is a column-ids entry without an id "no declared leaf ids"
    java.nio.file.Files.write(desc.toPath,
      """{"column-ids": [{"name": "s", "id": 3, "fields": [{"name": "x"}]}]}"""
        .getBytes("UTF-8"))
    namesFile(desc)(graft.sources.MetadataTables.files(spark, tbl.getPath,
      dataSchema = Some(org.apache.spark.sql.types.StructType.fromDDL(
        "k BIGINT, v BIGINT"))))
    desc.delete()
    // a torn current metadata version is not "format v2"
    val cur = new java.io.File(tbl, "metadata/v1.metadata.json")
    assert(LayoutMaintenance.tableFormatVersion(spark, tbl.getPath) == 3)
    val intact = java.nio.file.Files.readAllBytes(cur.toPath)
    truncate(cur)
    namesFile(cur)(LayoutMaintenance.tableFormatVersion(spark, tbl.getPath))
    namesFile(cur)(LayoutMaintenance.tablePropsFor(spark, tbl.getPath))
    // nor is a torn or EMPTY one "a table without snapshots": every
    // reader of the current document refuses it, naming the file
    def readersRefuse(): Unit = {
      namesFile(cur)(IcebergManifestSource.fromTableDir(spark, tbl.getPath, "t"))
      namesFile(cur)(IcebergManifestSource.partitionSpecs(spark, tbl.getPath))
      namesFile(cur)(IcebergManifestSource.sortOrder(spark, tbl.getPath))
      namesFile(cur)(IcebergManifestSource.statisticsFiles(spark, tbl.getPath))
    }
    readersRefuse()
    java.nio.file.Files.write(cur.toPath, Array.emptyByteArray)
    readersRefuse()
    java.nio.file.Files.write(cur.toPath, intact)
    assert(IcebergManifestSource.fromTableDir(spark, tbl.getPath, "t")._2 == 1L)
    // an empty catalog descriptor fails the table load, naming the file
    spark.sql("CREATE TABLE fv.db.torn (k BIGINT) USING `graft-iceberg`")
    val tornDesc = new java.io.File(tdir("torn"), "graft-table.json")
    assert(tornDesc.length() > 0)
    java.nio.file.Files.write(tornDesc.toPath, Array.emptyByteArray)
    namesFile(tornDesc, tornDesc.getParentFile)(
      spark.table("fv.db.torn").schema)
  }
}
