package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The graft TableCatalog: identifier-addressed SQL over layout tables —
  * CREATE/INSERT/SELECT/DROP/SHOW plus namespaces, with the table state
  * cross-checked through the path-addressed connector and the
  * maintenance surface (one table, two addressing modes). */
class GraftCatalogSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = SparkSpec.spark
    val wh = new java.io.File("target/tmp-catalog-wh")
    org.apache.commons.io.FileUtils.deleteQuietly(wh)
    s.conf.set("spark.sql.catalog.cattest",
      classOf[graft.sources.v2.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.cattest.warehouse", wh.getAbsolutePath)
    s
  }

  test("namespace + table DDL lifecycle: create, show, drop") {
    spark.sql("CREATE NAMESPACE cattest.db1")
    spark.sql("CREATE NAMESPACE cattest.db2")
    assert(spark.sql("SHOW NAMESPACES IN cattest").collect()
      .map(_.getString(0)).sorted.toSeq == Seq("db1", "db2"))
    spark.sql("CREATE TABLE cattest.db1.t1 (k BIGINT, v STRING) USING `graft-iceberg`")
    spark.sql("CREATE TABLE cattest.db1.t2 (k BIGINT) USING `graft-iceberg`")
    assert(spark.sql("SHOW TABLES IN cattest.db1").collect()
      .map(_.getString(1)).sorted.toSeq == Seq("t1", "t2"))
    // an empty created table scans as zero rows, not an error
    assert(spark.sql("SELECT * FROM cattest.db1.t2").count() == 0L)
    spark.sql("DROP TABLE cattest.db1.t2")
    assert(spark.sql("SHOW TABLES IN cattest.db1").collect()
      .map(_.getString(1)).toSeq == Seq("t1"))
    intercept[Exception] { spark.sql("SELECT * FROM cattest.db1.t2").collect() }
    spark.sql("DROP NAMESPACE cattest.db2")
    assert(spark.sql("SHOW NAMESPACES IN cattest").collect()
      .map(_.getString(0)).toSeq == Seq("db1"))
  }

  test("INSERT INTO then SELECT: snapshots commit per statement, both addressing modes agree") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cattest.ins")
    spark.sql("CREATE TABLE cattest.ins.t (k BIGINT, v STRING) USING `graft-iceberg`")
    spark.sql("INSERT INTO cattest.ins.t VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO cattest.ins.t VALUES (3, 'c')")
    val got = spark.sql("SELECT k, v FROM cattest.ins.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // same table through the path-addressed connector + maintenance API
    val dir = new java.io.File("target/tmp-catalog-wh/ins/t")
    assert(graft.sources.LayoutMaintenance
      .snapshotIds(spark, dir.getPath) == Seq(1L, 2L))
    assert(spark.read.format("graft-iceberg").load(dir.getPath).count() == 3L)
    // aggregation pushes through the catalog identifier like any table
    assert(spark.sql("SELECT count(*) FROM cattest.ins.t WHERE k >= 2")
      .head.getLong(0) == 2L)
  }

  test("pushdown.fields table property applies file skipping to identifier reads") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cattest.push")
    spark.sql("""CREATE TABLE cattest.push.t (k BIGINT, b BIGINT)
      USING `graft-iceberg` TBLPROPERTIES ('pushdown.fields'='k:1:long')""")
    // two commits = two files with disjoint k-ranges and real bounds
    val dir = new java.io.File("target/tmp-catalog-wh/push/t")
    import graft.sources.IcebergLayoutWriter
    import graft.sources.IcebergLayoutWriter.ManifestEntrySpec
    val dataDir = new java.io.File(dir, "data"); dataDir.mkdirs()
    val entries = Seq((0L, 99L), (100L, 199L)).zipWithIndex.map {
      case ((lo, hi), i) =>
        val f = new java.io.File(dataDir, s"r$i.parquet")
        val n = IcebergLayoutWriter.writeSingleParquet(
          (lo to hi).map(k => (k, k % 7)).toDF("k", "b"), f)
        ManifestEntrySpec(status = 1, content = 0,
          filePath = f.getAbsolutePath, recordCount = n,
          sizeBytes = f.length(), sequenceNumber = 1L,
          lower = Map(1 -> IcebergLayoutWriter.boundLong(lo)),
          upper = Map(1 -> IcebergLayoutWriter.boundLong(hi)))
    }
    IcebergLayoutWriter.writeTable(dir, entries)
    val pruned = spark.sql("SELECT k, b FROM cattest.push.t WHERE k >= 150")
    assert(pruned.rdd.getNumPartitions == 1,
      "pushdown.fields from TBLPROPERTIES did not prune by manifest bounds")
    assert(pruned.count() == 50L)
  }

  test("ALTER TABLE SET TBLPROPERTIES and RENAME keep the data") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cattest.alt")
    spark.sql("CREATE TABLE cattest.alt.t (k BIGINT) USING `graft-iceberg`")
    spark.sql("INSERT INTO cattest.alt.t VALUES (7)")
    spark.sql("ALTER TABLE cattest.alt.t SET TBLPROPERTIES ('note'='x')")
    spark.sql("ALTER TABLE cattest.alt.t RENAME TO cattest.alt.t2")
    assert(spark.sql("SELECT k FROM cattest.alt.t2").head.getLong(0) == 7L)
    assert(spark.sql("SHOW TABLES IN cattest.alt").collect()
      .map(_.getString(1)).toSeq == Seq("t2"))
  }

  test("RENAME refuses live position deletes even when the version hint is gone") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cattest.rnd")
    spark.sql("CREATE TABLE cattest.rnd.t (k BIGINT) USING `graft-iceberg`")
    spark.sql("INSERT INTO cattest.rnd.t VALUES (1), (2), (3)")
    val dir = new java.io.File("target/tmp-catalog-wh/rnd/t")
    graft.sources.LayoutMaintenance.commitDeleteWhere(spark, dir.getPath,
      col("k") === 2L)
    // a layout with vN.metadata.json and NO hint is still a table with
    // live tombstones: moving it would resurrect the deleted row
    assert(new java.io.File(dir, "metadata/version-hint.text").delete())
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE cattest.rnd.t RENAME TO cattest.rnd.t2")
    }
    assert(String.valueOf(e.getMessage).contains("live delete files"),
      e.getMessage)
    assert(dir.exists() &&
      !new java.io.File("target/tmp-catalog-wh/rnd/t2").exists())
    assert(graft.sources.MorRead.readTable(spark, dir.getPath, Nil)
      .count() == 2L, "the tombstone still applies at the old name")
  }

  test("SQL DELETE FROM: copy-on-write, untouched files carried, API path agrees") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cattest.del")
    spark.sql("CREATE TABLE cattest.del.t (k BIGINT, v STRING) USING `graft-iceberg`")
    spark.sql("INSERT INTO cattest.del.t VALUES (1, 'a'), (2, 'b')") // file 1
    spark.sql("INSERT INTO cattest.del.t VALUES (3, 'c'), (4, 'd')") // file 2
    val dir = new java.io.File("target/tmp-catalog-wh/del/t")
    val before = graft.sources.IcebergManifestSource
      .statsFromTableDir(spark, dir.getPath, "t", Nil)
      .select("file_path").collect().map(_.getString(0)).toSet
    assert(before.size >= 2) // VALUES inserts may split across tasks
    spark.sql("DELETE FROM cattest.del.t WHERE k >= 3 AND v != 'd'") // only row 3
    val got = spark.sql("SELECT k, v FROM cattest.del.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (2L, "b"), (4L, "d")))
    // the untouched file 1 is carried VERBATIM; no tombstones committed
    val after = graft.sources.IcebergManifestSource
      .statsFromTableDir(spark, dir.getPath, "t", Nil)
      .select("file_path", "content").collect()
    assert(after.forall(_.getInt(1) == 0), "COW delete must not commit tombstones")
    assert(after.map(_.getString(0)).toSet.intersect(before).size == before.size - 1,
      "all original files except the one containing the match should carry")
    // a no-match DELETE commits nothing
    val ids1 = graft.sources.LayoutMaintenance.snapshotIds(spark, dir.getPath)
    spark.sql("DELETE FROM cattest.del.t WHERE k > 100")
    assert(graft.sources.LayoutMaintenance
      .snapshotIds(spark, dir.getPath) == ids1, "no-match DELETE must not commit")
    // the API path over the same starting state lands the same rows
    val twin = new java.io.File("target/tmp-catalog-del-twin")
    org.apache.commons.io.FileUtils.deleteQuietly(twin)
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.format("graft-iceberg")
      .option("write.schema", "k LONG, v STRING").mode("append").save(twin.getPath)
    Seq((3L, "c"), (4L, "d")).toDF("k", "v").write.format("graft-iceberg")
      .mode("append").save(twin.getPath)
    graft.sources.LayoutMaintenance.commitDeleteWhereCow(spark, twin.getPath,
      col("k") >= 3 && col("v") =!= "d")
    val apiGot = spark.read.format("graft-iceberg").load(twin.getPath)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(apiGot == got)
  }

  test("externally-written layouts surface through the catalog without a descriptor") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cattest.ext")
    val dir = new java.io.File("target/tmp-catalog-wh/ext/plain")
    Seq((1L, "z")).toDF("k", "v").write.format("graft-iceberg")
      .option("write.schema", "k LONG, v STRING").mode("append")
      .save(dir.getPath)
    assert(spark.sql("SHOW TABLES IN cattest.ext").collect()
      .map(_.getString(1)).toSeq == Seq("plain"))
    assert(spark.sql("SELECT v FROM cattest.ext.plain").head.getString(0) == "z")
  }

  test("SQL time travel: VERSION AS OF and TIMESTAMP AS OF resolve snapshots") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cattest.tt")
    spark.sql("DROP TABLE IF EXISTS cattest.tt.t")
    spark.sql("CREATE TABLE cattest.tt.t (k BIGINT) USING `graft-iceberg`")
    spark.sql("INSERT INTO cattest.tt.t VALUES (1), (2)")
    Thread.sleep(20) // distinct commit timestamps for the AS OF boundary
    spark.sql("INSERT INTO cattest.tt.t VALUES (3)")
    assert(spark.sql("SELECT count(*) FROM cattest.tt.t").head.getLong(0) == 3L)
    assert(spark.sql("SELECT count(*) FROM cattest.tt.t VERSION AS OF 1")
      .head.getLong(0) == 2L)
    assert(spark.sql("SELECT count(*) FROM cattest.tt.t VERSION AS OF 2")
      .head.getLong(0) == 3L)
    // TIMESTAMP AS OF at snapshot 1's own commit instant sees snapshot 1
    val ts = graft.sources.LayoutMaintenance
      .snapshotTimestamps(spark, "target/tmp-catalog-wh/tt/t")
    assert(ts.map(_._1) == Seq(1L, 2L) && ts.forall(_._2.isDefined))
    val t1 = new java.sql.Timestamp(ts.head._2.get).toInstant
      .atZone(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    assert(spark.sql(
      s"SELECT count(*) FROM cattest.tt.t TIMESTAMP AS OF '$t1'")
      .head.getLong(0) == 2L)
    // before the first commit: clear error, not an empty table
    intercept[Exception] {
      spark.sql("SELECT * FROM cattest.tt.t TIMESTAMP AS OF '1999-01-01 00:00:00'")
        .collect()
    }
  }

  test("ALTER TABLE ADD COLUMNS: old files null-fill, new files carry the column") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cattest.evo")
    spark.sql("DROP TABLE IF EXISTS cattest.evo.t")
    spark.sql("CREATE TABLE cattest.evo.t (k BIGINT, v STRING) USING `graft-iceberg`")
    spark.sql("INSERT INTO cattest.evo.t VALUES (1, 'a'), (2, 'b')")
    spark.sql("ALTER TABLE cattest.evo.t ADD COLUMNS (w BIGINT)")
    spark.sql("INSERT INTO cattest.evo.t VALUES (3, 'c', 30)")
    val got = spark.sql("SELECT k, v, w FROM cattest.evo.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(got == Seq((1L, "a", -1L), (2L, "b", -1L), (3L, "c", 30L)))
    // aggregate over the evolved column treats old rows as null
    assert(spark.sql("SELECT count(w), sum(w) FROM cattest.evo.t")
      .collect().map(r => (r.getLong(0), r.getLong(1))).head == ((1L, 30L)))
    // and the evolved column participates in row-level SQL
    spark.sql("UPDATE cattest.evo.t SET w = 0 WHERE w IS NULL")
    assert(spark.sql("SELECT sum(w) FROM cattest.evo.t").head.getLong(0) == 30L)
  }

  test("ALTER TABLE ADD COLUMNS on a descriptor-less external layout keeps the inferred columns") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cattest.evo")
    // an externally-written layout: real metadata, NO graft-table.json —
    // the catalog surfaces it by layout detection alone
    val dir = new java.io.File("target/tmp-catalog-wh/evo/ext")
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.format("graft-iceberg")
      .option("write.schema", "k LONG, v STRING").mode("append")
      .save(dir.getPath)
    assert(!new java.io.File(dir, "graft-table.json").exists())
    // evolution must seed from the table's ACTUAL schema, not empty:
    // a one-column descriptor would outrank inference and sever k, v
    spark.sql("ALTER TABLE cattest.evo.ext ADD COLUMNS (w BIGINT)")
    assert(spark.sql("SELECT * FROM cattest.evo.ext").columns.toSeq ==
      Seq("k", "v", "w"))
    val got = spark.sql("SELECT k, v, w FROM cattest.evo.ext ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.isNullAt(2))).toSeq
    assert(got == Seq((1L, "a", true), (2L, "b", true)))
  }

  test("ALTER TABLE DROP COLUMN narrows the declared schema; RENAME still works after") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cattest.evo")
    spark.sql("DROP TABLE IF EXISTS cattest.evo.d")
    spark.sql("CREATE TABLE cattest.evo.d (k BIGINT, junk STRING) USING `graft-iceberg`")
    spark.sql("INSERT INTO cattest.evo.d VALUES (1, 'x')")
    spark.sql("ALTER TABLE cattest.evo.d DROP COLUMN junk")
    assert(spark.sql("SELECT * FROM cattest.evo.d").columns.toSeq == Seq("k"))
    assert(spark.sql("SELECT k FROM cattest.evo.d").head.getLong(0) == 1L)
    // rename after a drop: the surviving column keeps its field id, the
    // pre-rename file resolves through it
    spark.sql("ALTER TABLE cattest.evo.d RENAME COLUMN k TO kk")
    assert(spark.sql("SELECT kk FROM cattest.evo.d").head.getLong(0) == 1L)
  }

  test("INSERT OVERWRITE replaces the table contents in one snapshot") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cattest.ow")
    spark.sql("DROP TABLE IF EXISTS cattest.ow.t")
    spark.sql("CREATE TABLE cattest.ow.t (k BIGINT, v STRING) USING `graft-iceberg`")
    spark.sql("INSERT INTO cattest.ow.t VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO cattest.ow.t VALUES (3, 'c')")
    val snapsBefore = graft.sources.LayoutMaintenance
      .snapshotIds(spark, "target/tmp-catalog-wh/ow/t").size
    spark.sql("INSERT OVERWRITE cattest.ow.t VALUES (9, 'z')")
    assert(spark.sql("SELECT k, v FROM cattest.ow.t").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((9L, "z")))
    assert(graft.sources.LayoutMaintenance
      .snapshotIds(spark, "target/tmp-catalog-wh/ow/t").size == snapsBefore + 1)
    // old snapshots stay time-travelable past the overwrite
    assert(spark.sql("SELECT count(*) FROM cattest.ow.t VERSION AS OF 2")
      .head.getLong(0) == 3L)
  }

  test("TRUNCATE TABLE empties the table") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cattest.ow")
    spark.sql("DROP TABLE IF EXISTS cattest.ow.tr")
    spark.sql("CREATE TABLE cattest.ow.tr (k BIGINT) USING `graft-iceberg`")
    spark.sql("INSERT INTO cattest.ow.tr VALUES (1), (2), (3)")
    spark.sql("TRUNCATE TABLE cattest.ow.tr")
    assert(spark.sql("SELECT count(*) FROM cattest.ow.tr").head.getLong(0) == 0L)
    // and the table accepts inserts again
    spark.sql("INSERT INTO cattest.ow.tr VALUES (7)")
    assert(spark.sql("SELECT k FROM cattest.ow.tr").head.getLong(0) == 7L)
  }

  test("CTAS: CREATE TABLE AS SELECT lands schema and rows") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cattest.ow")
    spark.sql("DROP TABLE IF EXISTS cattest.ow.ctas")
    spark.sql("CREATE TABLE cattest.ow.ctas USING `graft-iceberg` AS " +
      "SELECT id AS k, CAST(id * 10 AS BIGINT) AS v FROM range(5)")
    assert(spark.sql("SELECT sum(k), sum(v) FROM cattest.ow.ctas")
      .collect().map(r => (r.getLong(0), r.getLong(1))).head == ((10L, 100L)))
  }

  test("metadata tables: cat.db.t.snapshots / files / partitions / refs / history") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cattest.meta")
    spark.sql("DROP TABLE IF EXISTS cattest.meta.t")
    spark.sql("CREATE TABLE cattest.meta.t (k BIGINT) USING `graft-iceberg`")
    spark.sql("INSERT INTO cattest.meta.t VALUES (1), (2)")
    spark.sql("INSERT INTO cattest.meta.t VALUES (3)")
    val snaps = spark.sql(
      "SELECT snapshot_id, is_current FROM cattest.meta.t.snapshots ORDER BY ordinal")
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq
    assert(snaps == Seq((1L, false), (2L, true)))
    assert(spark.sql("SELECT count(*) FROM cattest.meta.t.files")
      .head.getLong(0) >= 2L)
    assert(spark.sql("SELECT sum(record_count) FROM cattest.meta.t.partitions")
      .head.getLong(0) == 3L)
    assert(spark.sql("SELECT count(*) FROM cattest.meta.t.history")
      .head.getLong(0) == 2L)
    assert(spark.sql("SELECT count(*) FROM cattest.meta.t.refs")
      .head.getLong(0) >= 0L)
  }

  test("SQL writes record column bounds; identifier reads skip files on them") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cattest.sw")
    spark.sql("DROP TABLE IF EXISTS cattest.sw.b")
    spark.sql("CREATE TABLE cattest.sw.b (k BIGINT, price BIGINT) " +
      "USING `graft-iceberg` TBLPROPERTIES ('pushdown.fields'='price:2:long')")
    spark.sql("INSERT INTO cattest.sw.b SELECT id, id FROM range(0, 500)")
    spark.sql("INSERT INTO cattest.sw.b SELECT id, id FROM range(500, 1000)")
    val dir = "target/tmp-catalog-wh/sw/b"
    val stats = graft.sources.IcebergManifestSource
      .statsFromTableDir(spark, dir, "t",
        Seq((2, "price", org.apache.spark.sql.types.LongType)))
      .select("file_path", "lo_price", "hi_price").collect()
    assert(stats.nonEmpty && stats.forall(r => !r.isNullAt(1) && !r.isNullAt(2)),
      "SQL-written files must carry recorded price bounds")
    val total = stats.length
    // bounds-driven skipping on a table built ONLY from SQL statements
    val pruned = spark.sql("SELECT * FROM cattest.sw.b WHERE price < 100")
      .rdd.getNumPartitions
    assert(pruned < total,
      s"expected file skipping: $pruned partitions vs $total files")
    assert(spark.sql("SELECT count(*) FROM cattest.sw.b WHERE price < 100")
      .head.getLong(0) == 100L)
  }

  test("write.sort-order: inserted files are physically sorted on the column") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cattest.sw")
    spark.sql("DROP TABLE IF EXISTS cattest.sw.s")
    spark.sql("CREATE TABLE cattest.sw.s (k BIGINT, price BIGINT) " +
      "USING `graft-iceberg` TBLPROPERTIES ('write.sort-order'='price')")
    // a deliberately shuffled price ordering on the way in
    spark.sql("INSERT INTO cattest.sw.s " +
      "SELECT id, (id * 7919) % 1000 AS price FROM range(1000)")
    val dir = "target/tmp-catalog-wh/sw/s"
    val files = graft.sources.IcebergManifestSource
      .statsFromTableDir(spark, dir, "t", Nil)
      .select("file_path").collect().map(_.getString(0))
    assert(files.nonEmpty)
    files.foreach { f =>
      val prices = spark.read.parquet(f).select("price")
        .collect().map(_.getLong(0)).toSeq
      assert(prices == prices.sorted,
        s"file $f must be written sorted by price")
    }
    assert(spark.sql("SELECT count(*) FROM cattest.sw.s").head.getLong(0) == 1000L)
  }

  test("VERSION AS OF '<ref>' reads a staged branch; the head stays isolated (WAP via SQL)") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cattest.wap")
    spark.sql("DROP TABLE IF EXISTS cattest.wap.t")
    spark.sql("CREATE TABLE cattest.wap.t (k BIGINT, v STRING) USING `graft-iceberg`")
    spark.sql("INSERT INTO cattest.wap.t VALUES (1, 'a'), (2, 'b')")
    // stage an audit-branch append without publishing (WAP write half)
    val dir = "target/tmp-catalog-wh/wap/t"
    val f = new java.io.File(s"$dir/data/staged-audit.parquet")
    val n = graft.sources.IcebergLayoutWriter.writeSingleParquet(
      Seq((9L, "z")).toDF("k", "v"), f)
    graft.sources.LayoutMaintenance.stageAppend(spark, dir,
      Seq(graft.sources.IcebergLayoutWriter.ManifestEntrySpec(status = 1,
        content = 0, filePath = f.getAbsolutePath, recordCount = n,
        sizeBytes = f.length())), branch = "audit")
    // readers of the table see nothing; the branch name reads the stage
    assert(spark.sql("SELECT count(*) FROM cattest.wap.t").head.getLong(0) == 2L)
    assert(spark.sql("SELECT count(*) FROM cattest.wap.t VERSION AS OF 'audit'")
      .head.getLong(0) == 3L)
    intercept[Exception] {
      spark.sql("SELECT * FROM cattest.wap.t VERSION AS OF 'nope'").collect()
    }
  }

  test("streaming via catalog identifiers: readStream.table tails, writeStream.toTable commits") {
    import scala.jdk.CollectionConverters._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cattest.st")
    spark.sql("DROP TABLE IF EXISTS cattest.st.src")
    spark.sql("DROP TABLE IF EXISTS cattest.st.dst")
    spark.sql("CREATE TABLE cattest.st.src (k BIGINT) USING `graft-iceberg`")
    spark.sql("CREATE TABLE cattest.st.dst (k BIGINT) USING `graft-iceberg`")
    val ckpt = new java.io.File("target/tmp-catalog-stream-ckpt")
    org.apache.commons.io.FileUtils.deleteQuietly(ckpt)
    // identifier-addressed stream: src table -> transform -> dst table,
    // no path and no foreachBatch anywhere
    def pump(): Unit = {
      val q = spark.readStream.table("cattest.st.src")
        .selectExpr("k * 10 AS k")
        .writeStream
        .option("checkpointLocation", ckpt.getPath)
        .toTable("cattest.st.dst")
      try q.processAllAvailable() finally q.stop()
    }
    spark.sql("INSERT INTO cattest.st.src VALUES (1), (2)")
    pump()
    assert(spark.sql("SELECT k FROM cattest.st.dst ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(10L, 20L))
    spark.sql("INSERT INTO cattest.st.src VALUES (3)")
    pump() // restart from checkpoint: no replay of snapshot 1
    assert(spark.sql("SELECT k FROM cattest.st.dst ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(10L, 20L, 30L))
  }

  test("changelog metadata table: SELECT * FROM cat.db.t.changes replays the history") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cattest.cdc")
    spark.sql("CREATE TABLE cattest.cdc.t (k BIGINT, v BIGINT) USING `graft-iceberg`")
    spark.sql("INSERT INTO cattest.cdc.t VALUES (1, 10), (2, 20)")
    spark.sql("INSERT INTO cattest.cdc.t VALUES (3, 30)")
    val dir = new java.io.File("target/tmp-catalog-wh/cdc/t")
    import spark.implicits._
    graft.sources.LayoutMaintenance.commitUpsert(spark, dir.getPath,
      Seq((2L, 22L)).toDF("k", "v"), keyCols = Seq("k"))
    val got = spark.sql(
      "SELECT k, v, _change_type, _commit_snapshot_id FROM cattest.cdc.t.changes")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1), r.getString(2), r.getLong(3)))
      .sorted.toSeq
    assert(got == Seq(
      (1L, 10L, "insert", 1L), (2L, -1L, "delete", 3L),
      (2L, 20L, "insert", 1L), (2L, 22L, "insert", 3L),
      (3L, 30L, "insert", 2L)), s"changelog relation wrong: $got")
    // SQL over the changelog: net row count per commit
    val net = spark.sql("""SELECT _commit_snapshot_id AS sid,
        sum(CASE WHEN _change_type = 'insert' THEN 1 ELSE -1 END) AS delta
      FROM cattest.cdc.t.changes GROUP BY _commit_snapshot_id ORDER BY sid""")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(net == Seq((1L, 2L), (2L, 1L), (3L, 0L)), net.toString)
  }

  test("PARTITIONED BY (identity): writes cluster per value, manifests carry values, reads prune") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cattest.part")
    spark.sql("CREATE TABLE cattest.part.ti (mon BIGINT, v BIGINT) " +
      "USING `graft-iceberg` PARTITIONED BY (mon) " +
      "TBLPROPERTIES ('pushdown.fields'='mon:1:long')")
    spark.sql("INSERT INTO cattest.part.ti " +
      "SELECT id % 4 AS mon, id AS v FROM range(0, 1000)")
    // one snapshot; every file is homogeneous in mon with the value in
    // its manifest entry; the clustered write gives one file per value
    val dir = new java.io.File("target/tmp-catalog-wh/part/ti")
    val entries = graft.sources.IcebergManifestSource
      .statsFromTableDir(spark, dir.getPath, "t", Nil)
      .select("partitionKey").collect().map(_.getString(0)).toSeq
    assert(entries.size == 4, s"expected one file per mon value: $entries")
    assert(entries.sorted ==
      (0 until 4).map(m => s"""{"mon":$m}""").sorted, entries)
    // identifier read prunes on the partition value, no column stats
    val q = spark.sql("SELECT v FROM cattest.part.ti WHERE mon = 2")
    assert(q.rdd.getNumPartitions == 1,
      s"partition pruning broke: ${q.rdd.getNumPartitions} of 4 planned")
    assert(q.count() == 250L)
    assert(spark.sql("SELECT sum(v) FROM cattest.part.ti").head.getLong(0) ==
      (0L until 1000L).sum)
  }

  test("PARTITIONED BY (bucket(4, k)): transform computed at write, equality prunes") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cattest.part")
    spark.sql("CREATE TABLE cattest.part.tb (k BIGINT, v BIGINT) " +
      "USING `graft-iceberg` PARTITIONED BY (bucket(4, k)) " +
      "TBLPROPERTIES ('pushdown.fields'='k:1:long')")
    spark.sql("INSERT INTO cattest.part.tb " +
      "SELECT id AS k, id * 10 AS v FROM range(0, 400)")
    val dir = new java.io.File("target/tmp-catalog-wh/part/tb")
    val nFiles = spark.read.format("graft-iceberg").load(dir.getPath)
      .rdd.getNumPartitions
    assert(nFiles == 4, s"expected one file per bucket: $nFiles")
    // equality on the SOURCE column prunes to the one bucket file
    val q = spark.sql("SELECT v FROM cattest.part.tb WHERE k = 137")
    assert(q.rdd.getNumPartitions == 1,
      s"bucket pruning broke: ${q.rdd.getNumPartitions} of $nFiles planned")
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(1370L))
  }

  test("GROUP BY partition column pushes the whole aggregate to manifests") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cattest.part")
    spark.sql("CREATE TABLE cattest.part.tg (mon BIGINT, v BIGINT) " +
      "USING `graft-iceberg` PARTITIONED BY (mon) " +
      "TBLPROPERTIES ('pushdown.fields'='mon:1:long,v:2:long')")
    spark.sql("INSERT INTO cattest.part.tg " +
      "SELECT id % 3 AS mon, id AS v FROM range(0, 300)")
    // truth from a plain scan BEFORE tampering
    val want = spark.sql("SELECT mon, v FROM cattest.part.tg").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
      .groupBy(_._1).map { case (m, rs) =>
        (m, rs.size.toLong, rs.map(_._2).min, rs.map(_._2).max) }
      .toSeq.sorted
    // destroy the data files: per-group counts/extrema must still answer
    new java.io.File("target/tmp-catalog-wh/part/tg/data").listFiles()
      .filter(_.getName.endsWith(".parquet")).foreach { f =>
        val w = new java.io.FileOutputStream(f)
        w.write("junk".getBytes); w.close()
      }
    val q = spark.sql("""SELECT mon, count(*) AS n, min(v) AS lo,
      max(v) AS hi FROM cattest.part.tg GROUP BY mon""")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("aggPushed"), s"group-by aggregate not pushed:\n$plan")
    val got = q.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    assert(got == want, s"pushed group-by disagrees: $got vs $want")
    // a non-partition group key must NOT push (and must still answer
    // right on an intact table — use the sibling ti table)
    val q2 = spark.sql(
      "SELECT v, count(*) AS n FROM cattest.part.ti GROUP BY v LIMIT 1")
    assert(!q2.queryExecution.executedPlan.toString.contains("aggPushed"))
  }

  test("storage-partitioned join through pure SQL DDL tables: no shuffle below the join") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cattest.spj")
    Seq("fa" -> 7L, "fb" -> 3L).foreach { case (t, mult) =>
      spark.sql(s"CREATE TABLE cattest.spj.$t (grp BIGINT, v BIGINT) " +
        "USING `graft-iceberg` PARTITIONED BY (grp) " +
        "TBLPROPERTIES ('pushdown.fields'='grp:1:long')")
      spark.sql(s"INSERT INTO cattest.spj.$t " +
        s"SELECT id % 5 AS grp, id * $mult AS v FROM range(0, 100)")
    }
    val (bucketing, bcast) = ("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val prevB = spark.conf.getOption(bcast)
    spark.conf.set(bucketing, "true"); spark.conf.set(bcast, "-1")
    try {
      val j = spark.sql("""SELECT a.grp, count(*) AS n
        FROM cattest.spj.fa a JOIN cattest.spj.fb b ON a.grp = b.grp
        GROUP BY a.grp""")
      val got = j.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got == (0L until 5L).map(g => (g, 400L)).toSeq, got.toString)
      val below = graft.operators.PlanProbe.shufflesBelowJoins(
        j.queryExecution.executedPlan)
      assert(below.isEmpty,
        s"SQL-DDL storage-partitioned join shuffled:\n" +
          j.queryExecution.executedPlan)
    } finally {
      spark.conf.set(bucketing, "false")
      prevB match {
        case Some(v) => spark.conf.set(bcast, v)
        case None => spark.conf.unset(bcast)
      }
    }
  }

  test("RENAME COLUMN: metadata-only, old files resolve by id/alias, DML follows") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cattest.rn")
    spark.sql("CREATE TABLE cattest.rn.t (okey BIGINT, price BIGINT, " +
      "mon BIGINT) USING `graft-iceberg`")
    spark.sql("INSERT INTO cattest.rn.t " +
      "SELECT id, id * 10, id % 12 FROM range(100)")
    val dir = new java.io.File("target/tmp-catalog-wh/rn/t")
    def files(): Set[String] = graft.sources.IcebergManifestSource
      .statsFromTableDir(spark, dir.getPath, "t", Nil)
      .filter(col("content") === 0)
      .select("file_path").collect().map(_.getString(0)).toSet
    val before = files()
    spark.sql("ALTER TABLE cattest.rn.t RENAME COLUMN price TO total")
    // metadata-only: every pre-rename file carried VERBATIM
    assert(before.subsetOf(files()), "rename must not rewrite files")
    // the pre-rename file physically still says 'price' — the rename is
    // in the descriptor, not the data
    val oldFile = before.head.replaceFirst("^file:/+", "/")
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(oldFile),
      spark.sparkContext.hadoopConfiguration)
    val rr = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    val fs = try rr.getFooter.getFileMetaData.getSchema finally rr.close()
    assert(fs.containsField("price") && !fs.containsField("total"))
    // new-name reads cover BOTH generations
    spark.sql("INSERT INTO cattest.rn.t " +
      "SELECT id, id * 10, id % 12 FROM range(100, 150)")
    assert(spark.sql("SELECT count(*), sum(total) FROM cattest.rn.t")
      .head.let(r => (r.getLong(0), r.getLong(1))) ==
      (150L, (0L until 150L).map(_ * 10).sum))
    // filters on the renamed column reach pre-rename files too
    assert(spark.sql(
      "SELECT count(*) FROM cattest.rn.t WHERE total >= 500 AND total < 1010")
      .head.getLong(0) == 51L)
    // DML through the renamed name: DELETE takes the MOR path with the
    // alias fold; the post-delete state is consistent across generations
    spark.sql("DELETE FROM cattest.rn.t WHERE total >= 1400")
    assert(spark.sql("SELECT count(*), max(total) FROM cattest.rn.t")
      .head.let(r => (r.getLong(0), r.getLong(1))) == (140L, 1390L))
    // re-adding the FORMER name is refused: old files' physical 'price'
    // data belongs to 'total', a new 'price' column would capture it
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE cattest.rn.t ADD COLUMNS (price BIGINT)")
    }
    assert(e.getMessage.contains("former name"))
    // second rename stacks: total -> amount, both aliases recorded
    spark.sql("ALTER TABLE cattest.rn.t RENAME COLUMN total TO amount")
    assert(spark.sql("SELECT sum(amount) FROM cattest.rn.t")
      .head.getLong(0) == (0L until 140L).map(_ * 10).sum)
  }

  private implicit class LetOps[A](private val a: A) {
    def let[B](f: A => B): B = f(a)
  }

  test("ALTER COLUMN TYPE widening: old narrow files read at the new type") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cattest.wide")
    spark.sql("DROP TABLE IF EXISTS cattest.wide.t")
    spark.sql("CREATE TABLE cattest.wide.t (k INT, v FLOAT, s STRING) " +
      "USING `graft-iceberg`")
    spark.sql("INSERT INTO cattest.wide.t VALUES " +
      "(1, CAST(1.5 AS FLOAT), 'a'), (2, CAST(2.5 AS FLOAT), 'b')")
    val dir = new java.io.File("target/tmp-catalog-wh/wide/t")
    val before = graft.sources.IcebergManifestSource
      .statsFromTableDir(spark, dir.getPath, "t", Nil)
      .select("file_path").collect().map(_.getString(0)).toSet
    spark.sql("ALTER TABLE cattest.wide.t ALTER COLUMN k TYPE BIGINT")
    spark.sql("ALTER TABLE cattest.wide.t ALTER COLUMN v TYPE DOUBLE")
    // widening is metadata-only: pre-ALTER files carried verbatim
    assert(before.subsetOf(graft.sources.IcebergManifestSource
      .statsFromTableDir(spark, dir.getPath, "t", Nil)
      .select("file_path").collect().map(_.getString(0)).toSet))
    // post-ALTER inserts land wide; reads span both physical widths
    spark.sql("INSERT INTO cattest.wide.t VALUES " +
      "(3000000000, CAST(3.5 AS DOUBLE), 'c')") // > Int.MaxValue
    val got = spark.sql(
      "SELECT k, v, s FROM cattest.wide.t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
    assert(got == Seq((1L, 1.5, "a"), (2L, 2.5, "b"),
      (3000000000L, 3.5, "c")))
    // DML through the widened type takes the MOR path with the declared
    // schema (old int32 file widened per value)
    spark.sql("DELETE FROM cattest.wide.t WHERE k >= 2 AND k < 3")
    assert(spark.sql("SELECT sum(k) FROM cattest.wide.t").head.getLong(0) ==
      3000000001L)
    // narrowing is refused (Spark's analyzer or the catalog guard —
    // either way the statement fails and the schema stands)
    intercept[Exception] {
      spark.sql("ALTER TABLE cattest.wide.t ALTER COLUMN k TYPE INT")
    }
    assert(spark.sql("SELECT k FROM cattest.wide.t WHERE k > 5").head
      .getLong(0) == 3000000000L, "schema must stay BIGINT after refusal")
  }

  test("write.branch: INSERT stages onto a branch, head isolated until fast_forward") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cattest.wapsql")
    spark.sql("DROP TABLE IF EXISTS cattest.wapsql.t")
    spark.sql("CREATE TABLE cattest.wapsql.t (k BIGINT, v STRING) USING `graft-iceberg`")
    spark.sql("INSERT INTO cattest.wapsql.t VALUES (1, 'a'), (2, 'b')")
    spark.sql("ALTER TABLE cattest.wapsql.t " +
      "SET TBLPROPERTIES ('write.branch' = 'audit')")
    spark.sql("INSERT INTO cattest.wapsql.t VALUES (3, 'c'), (4, 'd')")
    // head isolation: readers of the TABLE see only the published state
    assert(spark.sql("SELECT count(*) FROM cattest.wapsql.t").head.getLong(0) == 2L)
    // the staged state is addressable through the branch ref
    assert(spark.sql("SELECT count(*) FROM cattest.wapsql.t VERSION AS OF 'audit'")
      .head.getLong(0) == 4L)
    // overwrite to a branch is refused (it would move the head)
    val e = intercept[Exception] {
      spark.sql("INSERT OVERWRITE cattest.wapsql.t VALUES (9, 'z')")
    }
    assert(e.getMessage.contains("write.branch") ||
      Option(e.getCause).exists(_.getMessage.contains("write.branch")))
    // a second staged INSERT stacks on the branch, head still isolated
    spark.sql("INSERT INTO cattest.wapsql.t VALUES (5, 'e')")
    assert(spark.sql("SELECT count(*) FROM cattest.wapsql.t").head.getLong(0) == 2L)
    assert(spark.sql("SELECT count(*) FROM cattest.wapsql.t VERSION AS OF 'audit'")
      .head.getLong(0) == 5L)
    // publish: fast-forward main onto the branch, then unset the target
    spark.sql("CALL cattest.system.fast_forward('wapsql.t', 'main', 'audit')")
    spark.sql("ALTER TABLE cattest.wapsql.t UNSET TBLPROPERTIES ('write.branch')")
    assert(spark.sql("SELECT k FROM cattest.wapsql.t ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    // post-publish INSERTs commit to the head again
    spark.sql("INSERT INTO cattest.wapsql.t VALUES (6, 'f')")
    assert(spark.sql("SELECT count(*) FROM cattest.wapsql.t").head.getLong(0) == 6L)
  }

  test("write.target-file-size-bytes as a TABLE property rolls INSERT files") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cattest.tgt")
    spark.sql("CREATE TABLE cattest.tgt.t (k BIGINT, v STRING) " +
      "USING `graft-iceberg` TBLPROPERTIES (" +
      "'write.target-file-size-bytes' = '2000')")
    import spark.implicits._
    (0L until 5000L).map(k => (k, s"value-$k")).toDF("k", "v")
      .coalesce(1).createOrReplaceTempView("tgt_src")
    spark.sql("INSERT INTO cattest.tgt.t SELECT /*+ COALESCE(1) */ * FROM tgt_src")
    // one writing task, tiny target: the property alone must roll files
    val files = spark.sql("SELECT DISTINCT _file FROM cattest.tgt.t").count()
    assert(files > 1, s"the table-property target must roll files, got $files")
    assert(spark.sql("SELECT count(*) FROM cattest.tgt.t").head.getLong(0)
      == 5000L)
  }

  test("TRUNCATE TABLE and SHOW TBLPROPERTIES complete the DDL surface") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cattest.ddl")
    spark.sql("CREATE TABLE cattest.ddl.t (k BIGINT) USING `graft-iceberg` " +
      "TBLPROPERTIES ('owner.team' = 'data')")
    spark.sql("INSERT INTO cattest.ddl.t VALUES (1), (2), (3)")
    val props = spark.sql("SHOW TBLPROPERTIES cattest.ddl.t").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(props.get("owner.team").contains("data"), props.toString)
    // TRUNCATE routes through deleteWhere(ALWAYS_TRUE): one replace
    // commit, history preserved
    val snaps = graft.sources.LayoutMaintenance
      .snapshotIds(spark, "target/tmp-catalog-wh/ddl/t")
    spark.sql("TRUNCATE TABLE cattest.ddl.t")
    assert(spark.sql("SELECT count(*) FROM cattest.ddl.t").head.getLong(0) == 0L)
    assert(graft.sources.LayoutMaintenance
      .snapshotIds(spark, "target/tmp-catalog-wh/ddl/t").size > snaps.size)
    // the table stays writable after the truncate
    spark.sql("INSERT INTO cattest.ddl.t VALUES (9)")
    assert(spark.sql("SELECT k FROM cattest.ddl.t").head.getLong(0) == 9L)
  }

  test("ALTER NAMESPACE SET/UNSET PROPERTIES round-trips; empty namespace still drops") {
    spark.sql("CREATE NAMESPACE cattest.nsp WITH DBPROPERTIES ('born' = 'yes')")
    spark.sql("ALTER NAMESPACE cattest.nsp SET DBPROPERTIES " +
      "('team' = 'data', 'tier' = 'gold')")
    def props(): Map[String, String] =
      spark.sql("DESCRIBE NAMESPACE EXTENDED cattest.nsp").collect()
        .map(r => (r.getString(0), r.getString(1))).toMap
    val p1 = props()
    assert(p1.get("Properties").exists(v =>
      v.contains("born") && v.contains("team") && v.contains("gold")), p1)
    spark.sql("ALTER NAMESPACE cattest.nsp UNSET DBPROPERTIES ('team')")
    val p2 = props()
    assert(p2.get("Properties").exists(v =>
      !v.contains("team") && v.contains("tier")), p2)
    // location is the directory — refusing to move it is the contract
    val e = intercept[Exception] {
      spark.sql("ALTER NAMESPACE cattest.nsp SET LOCATION '/tmp/elsewhere'")
    }
    assert(e.getMessage.contains("location") ||
      Option(e.getCause).exists(_.getMessage.contains("location")))
    // the property doc is METADATA: an otherwise-empty namespace drops
    // without CASCADE
    spark.sql("DROP NAMESPACE cattest.nsp")
    assert(spark.sql("SHOW NAMESPACES IN cattest").collect()
      .map(_.getString(0)).forall(_ != "nsp"))
  }

  test("DROP of the highest-id column then ADD never reuses the dead field id") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cattest.ids")
    spark.sql("CREATE TABLE cattest.ids.t (a BIGINT, b BIGINT) " +
      "USING `graft-iceberg`") // ids 1, 2
    spark.sql("INSERT INTO cattest.ids.t VALUES (1, 100)")
    spark.sql("ALTER TABLE cattest.ids.t DROP COLUMN b") // retires id 2
    spark.sql("ALTER TABLE cattest.ids.t ADD COLUMN c BIGINT")
    // behavioral truth: the old file embeds b under id 2 — if c had
    // reused id 2, the per-file id fallback would read b's 100 back as
    // c; the spec's never-reuse rule means c null-fills instead
    val row = spark.sql("SELECT a, c FROM cattest.ids.t").head
    assert(row.getLong(0) == 1L)
    assert(row.isNullAt(1),
      s"dropped column's data captured by the re-added column: $row")
    // the descriptor carries the monotonic allocator: c got id 3
    val doc = new String(java.nio.file.Files.readAllBytes(
      new java.io.File("target/tmp-catalog-wh/ids/t/graft-table.json").toPath))
    assert(doc.contains("\"last-column-id\" : 3") ||
      doc.contains("\"last-column-id\":3"), doc)
    assert(doc.contains("\"name\" : \"c\""), doc)
    assert(!doc.contains("\"id\" : 2"), s"dead id 2 reused:\n$doc")
  }

  test("nested schema evolution: RENAME/ADD/DROP on struct leaves, metadata-only") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cattest.nest")
    spark.sql("CREATE TABLE cattest.nest.t " +
      "(k BIGINT, m STRUCT<w: BIGINT, h: BIGINT>) USING `graft-iceberg`")
    spark.sql("INSERT INTO cattest.nest.t VALUES (1, named_struct('w', 2L, 'h', 3L))")
    val filesBefore = spark.sql("SELECT _file FROM cattest.nest.t")
      .collect().map(_.getString(0)).toSet
    // RENAME a leaf: metadata-only, old file reads through the alias
    spark.sql("ALTER TABLE cattest.nest.t RENAME COLUMN m.w TO width")
    val r1 = spark.sql("SELECT k, m.width, m.h FROM cattest.nest.t").head
    assert((r1.getLong(0), r1.getLong(1), r1.getLong(2)) == ((1L, 2L, 3L)))
    // a post-rename file embeds the leaf's id under the NEW name
    spark.sql("INSERT INTO cattest.nest.t VALUES (2, named_struct('width', 20L, 'h', 30L))")
    // ADD a leaf: old files null-fill
    spark.sql("ALTER TABLE cattest.nest.t ADD COLUMNS (m.depth BIGINT)")
    val rows = spark.sql(
      "SELECT k, m.width, m.depth FROM cattest.nest.t ORDER BY k").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
      == Seq((1L, 2L, -1L), (2L, 20L, -1L)))
    // a SECOND rename: the first file resolves through the alias chain,
    // the second by its EMBEDDED leaf id
    spark.sql("ALTER TABLE cattest.nest.t RENAME COLUMN m.width TO breadth")
    assert(spark.sql("SELECT sum(m.breadth) FROM cattest.nest.t")
      .head.getLong(0) == 22L)
    // DROP a leaf narrows the declared schema; files are never touched
    spark.sql("ALTER TABLE cattest.nest.t DROP COLUMN m.h")
    assert(!spark.sql("SELECT m FROM cattest.nest.t").schema
      .fields(0).dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.contains("h"))
    // metadata-only throughout: the original data file was never rewritten
    val filesAfter = spark.sql("SELECT _file FROM cattest.nest.t")
      .collect().map(_.getString(0)).toSet
    assert(filesBefore.subsetOf(filesAfter),
      "nested evolution must carry old files verbatim")
    // the leaf ids draw from the SAME monotonic allocator
    val doc = new String(java.nio.file.Files.readAllBytes(
      new java.io.File("target/tmp-catalog-wh/nest/t/graft-table.json").toPath))
    assert(doc.contains("\"fields\""), doc)
    assert(doc.contains("\"breadth\""), doc)
    assert(doc.contains("\"aliases\""), doc)
  }

  test("re-adding a DROPPED name is refused: name-first resolution would resurrect its data") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cattest.ret")
    spark.sql("CREATE TABLE cattest.ret.t " +
      "(a BIGINT, b BIGINT, m STRUCT<w: BIGINT, h: BIGINT>) " +
      "USING `graft-iceberg`")
    spark.sql("INSERT INTO cattest.ret.t VALUES (1, 100, named_struct('w', 2L, 'h', 3L))")
    spark.sql("ALTER TABLE cattest.ret.t DROP COLUMN b")
    spark.sql("ALTER TABLE cattest.ret.t DROP COLUMN m.w")
    def refused(sql: String): Unit = {
      val e = intercept[Exception] { spark.sql(sql) }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(m => m.contains("dropped")), msgs(e).toString)
    }
    // ADD of the dropped top-level / nested name: refused — old files
    // still carry the physical column and per-file resolution is
    // name-first, so the new column would read the dead data back
    refused("ALTER TABLE cattest.ret.t ADD COLUMN b BIGINT")
    refused("ALTER TABLE cattest.ret.t ADD COLUMNS (m.w BIGINT)")
    // RENAME onto a dropped name: same capture, same refusal
    refused("ALTER TABLE cattest.ret.t RENAME COLUMN a TO b")
    refused("ALTER TABLE cattest.ret.t RENAME COLUMN m.h TO w")
    // a FRESH name still works, and reads null-fill
    spark.sql("ALTER TABLE cattest.ret.t ADD COLUMN b2 BIGINT")
    val r = spark.sql("SELECT a, b2 FROM cattest.ret.t").head
    assert(r.getLong(0) == 1L && r.isNullAt(1))
  }

  test("RTAS continues the field-id counter across re-creation") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cattest.rtid")
    spark.sql("CREATE TABLE cattest.rtid.t (a BIGINT, b STRING) " +
      "USING `graft-iceberg`")
    spark.sql("INSERT INTO cattest.rtid.t VALUES (1, 'x')")
    spark.sql("REPLACE TABLE cattest.rtid.t USING `graft-iceberg` " +
      "AS SELECT 5L AS p, 6L AS q")
    assert(spark.sql("SELECT p, q FROM cattest.rtid.t").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((5L, 6L)))
    // pre-replace files (ids 1,2) stay time-travel reachable; the new
    // generation's columns must not wear those ids — counter continues
    val doc = new String(java.nio.file.Files.readAllBytes(
      new java.io.File("target/tmp-catalog-wh/rtid/t/graft-table.json").toPath))
    assert(doc.contains("\"last-column-id\" : 4") ||
      doc.contains("\"last-column-id\":4"), doc)
    assert(doc.contains("\"id\" : 3") && doc.contains("\"id\" : 4"), doc)
  }

  test("ALTER TABLE CREATE BRANCH/TAG: SQL ref DDL, VERSION AS OF reads, retention in metadata") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cattest.refs")
    spark.sql("CREATE TABLE cattest.refs.t (k BIGINT) USING `graft-iceberg`")
    spark.sql("INSERT INTO cattest.refs.t VALUES (1), (2)")
    spark.sql("INSERT INTO cattest.refs.t VALUES (3)")
    // branch at an older snapshot, with full retention clauses
    spark.sql("ALTER TABLE cattest.refs.t CREATE BRANCH audit " +
      "AS OF VERSION 1 RETAIN 7 DAYS WITH SNAPSHOT RETENTION 2 SNAPSHOTS 3 DAYS")
    // tag at the head, ref-age retention only
    spark.sql("ALTER TABLE cattest.refs.t CREATE TAG rel_1 RETAIN 30 DAYS")
    // refs resolve as time-travel points (same as procedure-born refs)
    assert(spark.sql(
      "SELECT count(*) FROM cattest.refs.t VERSION AS OF 'audit'")
      .head.getLong(0) == 2L)
    assert(spark.sql(
      "SELECT count(*) FROM cattest.refs.t VERSION AS OF 'rel_1'")
      .head.getLong(0) == 3L)
    // retention fields land in the metadata document (spec "Refs")
    val meta = new java.io.File("target/tmp-catalog-wh/refs/t/metadata")
    val hint = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(meta, "version-hint.text").toPath), "UTF-8").trim
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      new java.io.File(meta, s"v$hint.metadata.json"))
    val audit = root.get("refs").get("audit")
    assert(audit.get("type").asText() == "branch")
    assert(audit.get("max-ref-age-ms").asLong() == 7L * 24 * 3600 * 1000)
    assert(audit.get("min-snapshots-to-keep").asInt() == 2)
    assert(audit.get("max-snapshot-age-ms").asLong() == 3L * 24 * 3600 * 1000)
    val rel = root.get("refs").get("rel_1")
    assert(rel.get("type").asText() == "tag")
    assert(rel.get("max-ref-age-ms").asLong() == 30L * 24 * 3600 * 1000)
    // CREATE over an existing ref refuses; IF NOT EXISTS / REPLACE pass
    intercept[Exception] {
      spark.sql("ALTER TABLE cattest.refs.t CREATE BRANCH audit") }
    spark.sql(
      "ALTER TABLE cattest.refs.t CREATE BRANCH IF NOT EXISTS audit")
    spark.sql(
      "ALTER TABLE cattest.refs.t REPLACE BRANCH audit AS OF VERSION 2")
    assert(spark.sql(
      "SELECT count(*) FROM cattest.refs.t VERSION AS OF 'audit'")
      .head.getLong(0) == 3L)
    // kind confusion refuses: 'audit' is a branch, not a tag
    intercept[Exception] {
      spark.sql("ALTER TABLE cattest.refs.t DROP TAG audit") }
    // REPLACE of a missing ref refuses (CREATE is the birth path)
    intercept[Exception] {
      spark.sql("ALTER TABLE cattest.refs.t REPLACE TAG nope") }
    // DDL and procedures converge: drop via SQL, recreate via CALL,
    // drop via procedure — one refs surface
    spark.sql("ALTER TABLE cattest.refs.t DROP BRANCH audit")
    intercept[Exception] {
      spark.sql("ALTER TABLE cattest.refs.t DROP BRANCH audit") }
    spark.sql("ALTER TABLE cattest.refs.t DROP BRANCH IF EXISTS audit")
    spark.sql("CALL cattest.system.create_branch('refs.t', 'audit', 1)")
    assert(spark.sql(
      "SELECT count(*) FROM cattest.refs.t VERSION AS OF 'audit'")
      .head.getLong(0) == 2L)
    spark.sql("CALL cattest.system.drop_ref('refs.t', 'rel_1')")
    assert(root.get("refs").get("rel_1") != null) // old doc, by value
    // snapshot-retention clauses refuse on tags
    intercept[Exception] {
      spark.sql("ALTER TABLE cattest.refs.t CREATE TAG bad " +
        "WITH SNAPSHOT RETENTION 2 SNAPSHOTS") }
  }
}
