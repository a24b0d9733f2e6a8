package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Iceberg v3 ROW LINEAGE (spec "Row Lineage"): every data file gets a
  * `first_row_id` at commit (assigned from the table metadata's
  * `next-row-id` counter), and the scan surfaces `_row_id` /
  * `_last_updated_sequence_number` metadata columns — first_row_id +
  * position / the file's own sequence number, unless the file
  * MATERIALIZES the column (lineage-preserving writers: the MOR UPDATE
  * delta), in which case non-null materialized values win. */
class RowLineageSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = SparkSpec.spark
    val wh = new java.io.File("target/tmp-lineage-wh")
    org.apache.commons.io.FileUtils.deleteQuietly(wh)
    s.conf.set("spark.sql.catalog.lin",
      classOf[graft.sources.v2.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.lin.warehouse", wh.getAbsolutePath)
    s.sql("CREATE NAMESPACE IF NOT EXISTS lin.db")
    s
  }

  test("appends assign dense, unique row ids across commits") {
    spark.sql("CREATE TABLE lin.db.base (k BIGINT, v STRING) " +
      "USING `graft-iceberg`")
    spark.sql("INSERT INTO lin.db.base SELECT /*+ COALESCE(1) */ * FROM " +
      "VALUES (1L, 'a'), (2L, 'b'), (3L, 'c') AS t(k, v)")
    spark.sql("INSERT INTO lin.db.base SELECT /*+ COALESCE(1) */ * FROM " +
      "VALUES (4L, 'd'), (5L, 'e') AS t(k, v)")
    val rows = spark.sql(
      "SELECT k, _row_id, _last_updated_sequence_number FROM lin.db.base " +
        "ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // first commit assigns 0..2 at seq 1; second 3..4 at seq 2
    assert(rows.toSeq == Seq((1L, 0L, 1L), (2L, 1L, 1L), (3L, 2L, 1L),
      (4L, 3L, 2L), (5L, 4L, 2L)), rows.mkString(", "))
    // the manifest entries carry first_row_id; metadata carries the
    // counter
    val fri = graft.sources.IcebergManifestSource
      .statsFromTableDir(spark, "target/tmp-lineage-wh/db/base", "t", Nil)
      .filter(col("content") === 0)
      .select("first_row_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(fri == Seq(0L, 3L), fri.toString)
    assert(graft.sources.LayoutMaintenance.nextRowId(
      spark, "target/tmp-lineage-wh/db/base") == 5L)
  }

  test("UPDATE keeps _row_id stable and moves only touched rows' seq") {
    spark.sql("CREATE TABLE lin.db.upd (k BIGINT, v BIGINT) " +
      "USING `graft-iceberg` TBLPROPERTIES (" +
      "'write.update.mode' = 'merge-on-read', " +
      "'write.delete.mode' = 'merge-on-read')")
    spark.sql("INSERT INTO lin.db.upd SELECT /*+ COALESCE(1) */ * FROM " +
      "VALUES (1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L) AS t(k, v)")
    val before = spark.sql(
      "SELECT k, _row_id, _last_updated_sequence_number FROM lin.db.upd")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    spark.sql("UPDATE lin.db.upd SET v = v + 1 WHERE k IN (2, 4)")
    val after = spark.sql(
      "SELECT k, v, _row_id, _last_updated_sequence_number FROM lin.db.upd")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // values moved for exactly the touched rows
    assert(after(2L)._1 == 21L && after(4L)._1 == 41L)
    assert(after(1L)._1 == 10L && after(3L)._1 == 30L)
    // _row_id STABLE for every row, touched or not
    (1L to 4L).foreach(k =>
      assert(after(k)._2 == before(k)._1, s"row id moved for k=$k"))
    // _last_updated moved for EXACTLY the touched rows
    assert(after(2L)._3 > before(2L)._2 && after(4L)._3 > before(4L)._2)
    assert(after(1L)._3 == before(1L)._2 && after(3L)._3 == before(3L)._2)
  }

  test("changelog pairs MOR UPDATE into update_before/update_after rows") {
    spark.sql("CREATE TABLE lin.db.cdcu (k BIGINT, v BIGINT) " +
      "USING `graft-iceberg` TBLPROPERTIES (" +
      "'write.update.mode' = 'merge-on-read', " +
      "'write.delete.mode' = 'merge-on-read')")
    spark.sql("INSERT INTO lin.db.cdcu SELECT /*+ COALESCE(1) */ * FROM " +
      "VALUES (1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L) AS t(k, v)")
    spark.sql("UPDATE lin.db.cdcu SET v = v + 1 WHERE k IN (2, 4)")
    val rows = spark.sql(
      "SELECT k, v, _change_type, _commit_snapshot_id " +
        "FROM lin.db.cdcu.changes ORDER BY _commit_snapshot_id, k, v")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSeq
    val inserts = rows.filter(_._4 == 1L)
    assert(inserts.map(r => (r._1, r._2, r._3)) ==
      Seq((1L, 10L, "insert"), (2L, 20L, "insert"),
        (3L, 30L, "insert"), (4L, 40L, "insert")), inserts.toString)
    // the UPDATE commit: one update_before/update_after PAIR per
    // touched row, no bare delete/insert rows
    val upd = rows.filter(_._4 == 2L)
    assert(upd == Seq(
      (2L, 20L, "update_before", 2L), (2L, 21L, "update_after", 2L),
      (4L, 40L, "update_before", 2L), (4L, 41L, "update_after", 2L)),
      upd.toString)
    // FOLD EQUALITY: replaying the changelog reproduces the table state
    // (update_before acts as delete, update_after as insert)
    val replayed = scala.collection.mutable.Map.empty[Long, Long]
    rows.foreach {
      case (k, v, "insert" | "update_after", _) => replayed(k) = v
      case (k, _, "delete" | "update_before", _) =>
        if (!rows.exists(r => r._1 == k && r._3 == "update_after"))
          replayed.remove(k)
      case _ => ()
    }
    val direct = spark.sql("SELECT k, v FROM lin.db.cdcu").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(replayed.toMap == direct, s"fold diverged: $replayed vs $direct")
  }

  test("changelog UPDATE pairing falls back to insert/delete without lineage") {
    // a layout whose data files carry NO first_row_id (hand-built via
    // the fixture writer) must classify the same commit shape as
    // delete+insert — null row ids never pair
    import spark.implicits._
    import graft.sources.IcebergLayoutWriter
    import graft.sources.IcebergLayoutWriter.ManifestEntrySpec
    val dir = new java.io.File("target/tmp-lineage-wh/db/nolineage")
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    val dataDir = new java.io.File(dir, "data"); dataDir.mkdirs()
    val base = new java.io.File(dataDir, "base.parquet")
    val nBase = IcebergLayoutWriter.writeSingleParquet(
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v").coalesce(1), base)
    IcebergLayoutWriter.writeTable(dir, Seq(ManifestEntrySpec(status = 1,
      content = 0, filePath = base.getAbsolutePath, recordCount = nBase,
      sizeBytes = base.length())))
    // one commit adding a data file AND a position tombstone (the MOR
    // UPDATE shape) — lineage-free
    val add = new java.io.File(dataDir, "upd-extra.parquet")
    val n = IcebergLayoutWriter.writeSingleParquet(
      Seq((2L, 21L)).toDF("k", "v").coalesce(1), add)
    val pd = new java.io.File(dataDir, "upd-posdel.parquet")
    IcebergLayoutWriter.writeSingleParquet(
      Seq((base.getAbsolutePath, 1L)).toDF("file_path", "pos").coalesce(1),
      pd)
    graft.sources.LayoutMaintenance.commitDeltaFiles(spark, dir.getPath,
      Seq(
        ManifestEntrySpec(status = 1, content = 0,
          filePath = add.getAbsolutePath, recordCount = n,
          sizeBytes = add.length()),
        ManifestEntrySpec(status = 1, content = 1,
          filePath = pd.getAbsolutePath, recordCount = 1L,
          sizeBytes = pd.length())))
    // the layout lives inside the lin catalog warehouse: the .changes
    // relation resolves it like any path table
    val commits = spark.sql(
      "SELECT k, v, _change_type, _commit_snapshot_id " +
        "FROM lin.db.nolineage.changes ORDER BY _commit_snapshot_id, k, v")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSeq
    val last = commits.filter(_._4 == commits.map(_._4).max)
      .map(r => (r._1, r._2, r._3)).sorted
    assert(last == Seq((2L, 20L, "delete"), (2L, 21L, "insert")),
      s"pre-lineage commits must classify, not pair: $last")
  }

  test("MERGE matched-update carries row ids; inserts get fresh ones") {
    spark.sql("CREATE TABLE lin.db.mrg (k BIGINT, v BIGINT) " +
      "USING `graft-iceberg` TBLPROPERTIES (" +
      "'write.merge.mode' = 'merge-on-read')")
    spark.sql("INSERT INTO lin.db.mrg SELECT /*+ COALESCE(1) */ * FROM " +
      "VALUES (1L, 10L), (2L, 20L) AS t(k, v)")
    val before = spark.sql("SELECT k, _row_id FROM lin.db.mrg").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.sql("""MERGE INTO lin.db.mrg t
      |USING (SELECT * FROM VALUES (2L, 99L), (3L, 30L) AS s(k, v)) s
      |ON t.k = s.k
      |WHEN MATCHED THEN UPDATE SET v = s.v
      |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val after = spark.sql("SELECT k, v, _row_id FROM lin.db.mrg ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(after.map(t => (t._1, t._2)).toSeq ==
      Seq((1L, 10L), (2L, 99L), (3L, 30L)), after.mkString(", "))
    val ids = after.map(t => t._1 -> t._3).toMap
    assert(ids(1L) == before(1L) && ids(2L) == before(2L),
      "matched rows must keep their ids")
    assert(ids(3L) >= 2L, s"the insert must get a FRESH id: ${ids(3L)}")
    assert(ids.values.toSeq.distinct.length == 3, "ids must stay unique")
  }

  test("rewrite_data_files preserves row ids AND last-updated sequences") {
    spark.sql("CREATE TABLE lin.db.rw (k BIGINT, v BIGINT) " +
      "USING `graft-iceberg` TBLPROPERTIES (" +
      "'write.update.mode' = 'merge-on-read', " +
      "'write.delete.mode' = 'merge-on-read')")
    spark.sql("INSERT INTO lin.db.rw SELECT /*+ COALESCE(1) */ * FROM " +
      "VALUES (1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L) AS t(k, v)")
    spark.sql("UPDATE lin.db.rw SET v = v + 5 WHERE k = 3")
    def snap(): Map[Long, (Long, Long, Long)] = spark.sql(
      "SELECT k, v, _row_id, _last_updated_sequence_number FROM lin.db.rw")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val before = snap()
    assert(before(3L)._3 > before(1L)._3, "the UPDATE moved k=3's seq")
    val filesBefore = spark.sql("SELECT DISTINCT _file FROM lin.db.rw")
      .collect().map(_.getString(0)).toSet
    spark.sql("CALL lin.system.rewrite_data_files('db.rw')")
    val filesAfter = spark.sql("SELECT DISTINCT _file FROM lin.db.rw")
      .collect().map(_.getString(0)).toSet
    assert(filesBefore.intersect(filesAfter).isEmpty,
      "the rewrite must replace every data file")
    // the COMPACTED file materializes both lineage columns: ids stable,
    // per-row last-updated sequences preserved (k=3 keeps the UPDATE's
    // seq, the others keep the insert's) even though the new file's own
    // sequence number is higher than both
    assert(snap() == before,
      s"lineage must survive the rewrite: ${snap()} vs $before")
  }

  test("COW DELETE keeps surviving rows' lineage verbatim") {
    spark.sql("CREATE TABLE lin.db.cow (k BIGINT, v BIGINT) " +
      "USING `graft-iceberg`") // copy-on-write delete (the default)
    spark.sql("INSERT INTO lin.db.cow SELECT /*+ COALESCE(1) */ * FROM " +
      "VALUES (1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L) AS t(k, v)")
    val before = spark.sql(
      "SELECT k, _row_id, _last_updated_sequence_number FROM lin.db.cow")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val filesBefore = spark.sql("SELECT DISTINCT _file FROM lin.db.cow")
      .collect().map(_.getString(0)).toSet
    spark.sql("DELETE FROM lin.db.cow WHERE k IN (2, 4)")
    val filesAfter = spark.sql("SELECT DISTINCT _file FROM lin.db.cow")
      .collect().map(_.getString(0)).toSet
    assert(filesBefore.intersect(filesAfter).isEmpty,
      "COW must have rewritten the data file")
    // no tombstones: the delete really was copy-on-write
    assert(graft.sources.IcebergManifestSource
      .statsFromTableDir(spark, "target/tmp-lineage-wh/db/cow", "t", Nil)
      .filter(col("content") =!= 0).count() == 0L)
    val after = spark.sql(
      "SELECT k, _row_id, _last_updated_sequence_number FROM lin.db.cow")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(after == before.filterNot(t => t._1 == 2L || t._1 == 4L),
      s"survivors must keep ids and sequences: $after vs $before")
  }

  test("rewrite_small_files (bin-pack) preserves lineage across groups") {
    spark.sql("CREATE TABLE lin.db.pack (k BIGINT, v BIGINT) " +
      "USING `graft-iceberg` TBLPROPERTIES (" +
      "'write.delete.mode' = 'merge-on-read')")
    // three tiny files — all bin-pack candidates
    (0 until 3).foreach { i =>
      spark.sql("INSERT INTO lin.db.pack SELECT /*+ COALESCE(1) */ * " +
        s"FROM VALUES (${i * 2 + 1}L, ${i * 10}L), " +
        s"(${i * 2 + 2}L, ${i * 10 + 1}L) AS t(k, v)")
    }
    val before = spark.sql(
      "SELECT k, _row_id, _last_updated_sequence_number FROM lin.db.pack")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(before.map(_._2) == (0L until 6L).toSet, before.toString)
    val (_, nIn, nOut) = graft.sources.LayoutMaintenance
      .rewriteSmallFiles(spark, "target/tmp-lineage-wh/db/pack")
    assert(nIn == 3 && nOut == 1, s"pack: $nIn -> $nOut")
    val after = spark.sql(
      "SELECT k, _row_id, _last_updated_sequence_number FROM lin.db.pack")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(after == before,
      s"bin-pack must keep per-row lineage: $after vs $before")
  }

  test("lineage reads agree across the literal-map / broadcast-join arms " +
    "and across the oversized manifest-granular planning path") {
    spark.sql("CREATE TABLE lin.db.arms (k BIGINT, v BIGINT) " +
      "USING `graft-iceberg` TBLPROPERTIES (" +
      "'write.update.mode' = 'merge-on-read')")
    (0 until 3).foreach { i =>
      spark.sql("INSERT INTO lin.db.arms SELECT /*+ COALESCE(1) */ * " +
        s"FROM VALUES (${i * 2 + 1}L, 0L), (${i * 2 + 2}L, 0L) AS t(k, v)")
    }
    spark.sql("UPDATE lin.db.arms SET v = 9 WHERE k = 3")
    def viaSql(): Set[(Long, Long, Long)] = spark.sql(
      "SELECT k, _row_id, _last_updated_sequence_number FROM lin.db.arms")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def viaMor(): Set[(Long, Long, Long)] = graft.sources.MorRead
      .readTableRowLineage(spark, "target/tmp-lineage-wh/db/arms")
      .select("k", "_row_id", "_last_updated_sequence_number")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val literal = viaMor()
    assert(literal == viaSql(), "SQL and fixture reads must agree")
    // force the broadcast-join arm
    spark.conf.set("spark.graft.seqLiteralCap", "1")
    try assert(viaMor() == literal, "join arm must equal the literal arm")
    finally spark.conf.unset("spark.graft.seqLiteralCap")
    // force the manifest-granular (oversized) planning path for the
    // connector scan — it admits append-only snapshots, so pin it on a
    // tombstone-free twin: derived lineage (first_row_id + pos, file
    // seq) must survive per-manifest task expansion
    spark.sql("CREATE TABLE lin.db.arms2 (k BIGINT) USING `graft-iceberg`")
    (0 until 3).foreach(i => spark.sql(
      s"INSERT INTO lin.db.arms2 VALUES (${i}L)"))
    def twin(): Set[(Long, Long, Long)] = spark.sql(
      "SELECT k, _row_id, _last_updated_sequence_number FROM lin.db.arms2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expected = twin()
    assert(expected == Set((0L, 0L, 1L), (1L, 1L, 2L), (2L, 2L, 3L)))
    spark.conf.set("spark.graft.maxDriverFileEntries", "1")
    try assert(twin() == expected,
      "oversized planning must serve the same lineage")
    finally spark.conf.unset("spark.graft.maxDriverFileEntries")
  }

  test("_spec_id and _partition metadata columns serve per-file facts") {
    spark.sql("CREATE TABLE lin.db.pm (k BIGINT, mon BIGINT, tag STRING) " +
      "USING `graft-iceberg` PARTITIONED BY (mon, tag)")
    spark.sql("INSERT INTO lin.db.pm SELECT /*+ COALESCE(1) */ * FROM " +
      "VALUES (1L, 3L, 'a'), (2L, 3L, 'a'), (3L, 5L, 'b') AS t(k, mon, tag)")
    val rows = spark.sql(
      "SELECT k, _spec_id, _partition.mon, _partition.tag FROM lin.db.pm " +
        "ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)))
    assert(rows.toSeq == Seq((1L, 0, 3L, "a"), (2L, 0, 3L, "a"),
      (3L, 0, 5L, "b")), rows.mkString(", "))
    // the struct prunes like any column: filter on a partition value
    assert(spark.sql("SELECT sum(k) FROM lin.db.pm " +
      "WHERE _partition.tag = 'a'").head.getLong(0) == 3L)
    // an unpartitioned table declares no _partition column at all
    val e = intercept[Exception] {
      spark.sql("SELECT _partition FROM lin.db.base").collect()
    }
    assert(e.getMessage.contains("_partition"), e.getMessage)
    // but _spec_id still serves (spec 0)
    assert(spark.sql("SELECT DISTINCT _spec_id FROM lin.db.base")
      .collect().map(_.getInt(0)).toSeq == Seq(0))
  }

  test("add_files imports assign row ids at commit; cursor works from there") {
    import spark.implicits._
    // imported data files are NEW entries of the import commit, so the
    // commit sink assigns their first_row_id like any append (spec v3:
    // added data files get ids at commit) — the adopted table is
    // cursor-ready immediately
    val src = new java.io.File("target/tmp-lineage-adopt-src")
    org.apache.commons.io.FileUtils.deleteQuietly(src)
    (0L until 50L).map(i => (i, i * 2)).toDF("k", "v").coalesce(2)
      .write.parquet(src.getAbsolutePath)
    spark.sql("CREATE TABLE lin.db.adopt (k BIGINT, v BIGINT) " +
      "USING `graft-iceberg`")
    spark.sql(s"CALL lin.system.add_files('db.adopt', " +
      s"'${src.getAbsolutePath}')")
    val ids = spark.sql("SELECT _row_id FROM lin.db.adopt").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(ids == (0L until 50L), s"dense ids expected at import: " +
      s"${ids.take(5)}..${ids.takeRight(5)}")
    val tdir = "target/tmp-lineage-wh/db/adopt"
    assert(graft.sources.LayoutMaintenance.nextRowId(spark, tdir) == 50L)
    val cursor = graft.sources.LayoutMaintenance.nextRowId(spark, tdir)
    spark.sql("INSERT INTO lin.db.adopt SELECT /*+ COALESCE(1) */ * " +
      "FROM VALUES (100L, 1L), (101L, 2L) AS t(k, v)")
    val slice = spark.sql(
      s"SELECT k FROM lin.db.adopt WHERE _row_id >= $cursor ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(slice == Seq(100L, 101L), slice.toString)
  }

  test("pre-lineage layouts gain row ids lazily on first rewrite") {
    import spark.implicits._
    import graft.sources.IcebergLayoutWriter
    import graft.sources.IcebergLayoutWriter.ManifestEntrySpec
    // a hand-built v2-era layout: metadata has NO next-row-id, entries
    // NO first_row_id — _row_id reads null (the spec's upgrade rule)
    val dir = new java.io.File("target/tmp-lineage-wh/db/upgraded")
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    val dataDir = new java.io.File(dir, "data"); dataDir.mkdirs()
    val f = new java.io.File(dataDir, "old.parquet")
    val n = IcebergLayoutWriter.writeSingleParquet(
      (0L until 30L).map(i => (i, i * 3)).toDF("k", "v").coalesce(1), f)
    IcebergLayoutWriter.writeTable(dir, Seq(ManifestEntrySpec(status = 1,
      content = 0, filePath = f.getAbsolutePath, recordCount = n,
      sizeBytes = f.length())), assignRowIds = false)
    assert(spark.sql(
      "SELECT count(*) FROM lin.db.upgraded WHERE _row_id IS NULL")
      .head.getLong(0) == 30L, "pre-lineage rows must read null _row_id")
    // the first rewrite ASSIGNS ids from the zero-started counter —
    // the spec's lazy assignment for upgraded tables
    spark.sql("CALL lin.system.rewrite_data_files('db.upgraded')")
    val ids = spark.sql("SELECT _row_id FROM lin.db.upgraded").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(ids == (0L until 30L), s"dense ids expected after rewrite: " +
      s"${ids.take(5)}..${ids.takeRight(5)}")
    assert(graft.sources.LayoutMaintenance.nextRowId(spark,
      dir.getPath) == 30L)
    // cursor from the assignment point
    val cursor = graft.sources.LayoutMaintenance.nextRowId(spark,
      dir.getPath)
    spark.sql("INSERT INTO lin.db.upgraded SELECT /*+ COALESCE(1) */ * " +
      "FROM VALUES (200L, 1L) AS t(k, v)")
    val slice = spark.sql(
      s"SELECT k FROM lin.db.upgraded WHERE _row_id >= $cursor")
      .collect().map(_.getLong(0)).toSeq
    assert(slice == Seq(200L), slice.toString)
  }

  test("past-the-ceiling commits still assign and carry first_row_id") {
    import graft.sources.{IcebergLayoutWriter, LayoutMaintenance,
      IcebergManifestSource}
    import graft.sources.IcebergLayoutWriter.ManifestEntrySpec
    import spark.implicits._
    val tbl = new java.io.File("target/tmp-lineage-scale")
    org.apache.commons.io.FileUtils.deleteQuietly(tbl)
    val dataDir = new java.io.File(tbl, "data"); dataDir.mkdirs()
    def fileOf(i: Int): (java.io.File, Long) = {
      val f = new java.io.File(dataDir, s"f$i.parquet")
      val n = IcebergLayoutWriter.writeSingleParquet(
        Seq.tabulate(3)(j => i * 10L + j).toDF("k").coalesce(1), f)
      (f, n)
    }
    val (f0, n0) = fileOf(0)
    IcebergLayoutWriter.writeTable(tbl, Seq(ManifestEntrySpec(
      status = 1, content = 0, filePath = f0.getAbsolutePath,
      recordCount = n0, sizeBytes = f0.length(), sequenceNumber = 1L)))
    // every append is a manifest-reuse commit
    (1 to 2).foreach { i =>
      val (f, n) = fileOf(i)
      LayoutMaintenance.commitAppend(spark, tbl.getPath, Seq(
        ManifestEntrySpec(status = 1, content = 0,
          filePath = f.getAbsolutePath, recordCount = n,
          sizeBytes = f.length())))
    }
    // ids are dense and unique across the reused-manifest history
    val fri = IcebergManifestSource
      .statsFromTableDir(spark, tbl.getPath, "t", Nil)
      .filter(col("content") === 0)
      .select("first_row_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(fri == Seq(0L, 3L, 6L), fri.toString)
    assert(LayoutMaintenance.nextRowId(spark, tbl.getPath) == 9L)
  }
}
