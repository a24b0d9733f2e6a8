package graft

import org.scalatest.funsuite.AnyFunSuite

/** SQL maintenance procedures (`CALL cat.system.<proc>(...)`) — the
  * ProcedureCatalog face of LayoutMaintenance. Each case drives the
  * procedure through pure SQL and cross-checks the resulting table state
  * through the path-addressed API (same discipline as GraftCatalogSpec:
  * one table, two addressing modes). */
class GraftProceduresSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = SparkSpec.spark
    val wh = new java.io.File("target/tmp-proc-wh")
    org.apache.commons.io.FileUtils.deleteQuietly(wh)
    s.conf.set("spark.sql.catalog.proctest",
      classOf[graft.sources.v2.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.proctest.warehouse", wh.getAbsolutePath)
    s.sql("CREATE NAMESPACE IF NOT EXISTS proctest.db")
    s
  }

  private def dirOf(name: String): String =
    new java.io.File(s"target/tmp-proc-wh/db/$name").getAbsolutePath

  test("SHOW PROCEDURES lists the system namespace; DESCRIBE shows one") {
    val shown = spark.sql("SHOW PROCEDURES IN proctest.system").collect()
      .map(_.toSeq.map(String.valueOf).mkString(",")).mkString("\n")
    assert(shown.contains("rollback_to_snapshot"))
    assert(shown.contains("expire_snapshots"))
    assert(shown.contains("remove_orphan_files"))
    val desc = spark.sql(
      "DESCRIBE PROCEDURE proctest.system.rewrite_data_files")
      .collect().map(_.toSeq.map(String.valueOf).mkString(",")).mkString("\n")
    assert(desc.contains("rewrite_data_files"))
  }

  test("rollback_to_snapshot and set_current_snapshot move the head by SQL") {
    spark.sql("CREATE TABLE proctest.db.rb (k BIGINT) USING `graft-iceberg`")
    spark.sql("INSERT INTO proctest.db.rb VALUES (1), (2)")
    spark.sql("INSERT INTO proctest.db.rb VALUES (3)")
    assert(spark.sql("SELECT count(*) FROM proctest.db.rb").head.getLong(0) == 3L)
    val r = spark.sql(
      "CALL proctest.system.rollback_to_snapshot(table => 'db.rb', snapshot_id => 1)")
      .collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 1L)
    assert(spark.sql("SELECT count(*) FROM proctest.db.rb").head.getLong(0) == 2L)
    // roll forward again via set_current_snapshot (same pointer move)
    spark.sql("CALL proctest.system.set_current_snapshot('db.rb', 2)")
    assert(spark.sql("SELECT count(*) FROM proctest.db.rb").head.getLong(0) == 3L)
    // procedure path == API path: the head is snapshot 2 again
    assert(spark.sql("CALL proctest.system.ancestors_of('db.rb')")
      .collect().filter(_.getBoolean(2)).map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("expire_snapshots honors retain_last and never drops the current head") {
    spark.sql("CREATE TABLE proctest.db.ex (k BIGINT) USING `graft-iceberg`")
    (1 to 4).foreach(i =>
      spark.sql(s"INSERT INTO proctest.db.ex VALUES ($i)"))
    assert(graft.sources.LayoutMaintenance
      .snapshotIds(spark, dirOf("ex")).size == 4)
    val r = spark.sql(
      "CALL proctest.system.expire_snapshots('db.ex', retain_last => 2)")
      .collect().head
    assert(r.getInt(0) == 2)
    assert(graft.sources.LayoutMaintenance
      .snapshotIds(spark, dirOf("ex")) == Seq(3L, 4L))
    // default retain_last = 1 keeps just the head
    spark.sql("CALL proctest.system.expire_snapshots('db.ex')")
    assert(graft.sources.LayoutMaintenance
      .snapshotIds(spark, dirOf("ex")) == Seq(4L))
    assert(spark.sql("SELECT count(*) FROM proctest.db.ex").head.getLong(0) == 4L)
  }

  test("rewrite_data_files keeps file skipping alive: bounds harvested from written files") {
    for (fmt <- Seq("parquet", "orc")) {
      val tbl = s"proctest.db.rwb_$fmt"
      spark.sql(s"CREATE TABLE $tbl (k BIGINT, s STRING) " +
        "USING `graft-iceberg` TBLPROPERTIES (" +
        s"'write.format.default' = '$fmt', " +
        "'pushdown.fields' = 'k:1:long,s:2:string', " +
        "'write.sort-order' = 'k')")
      spark.sql(s"INSERT INTO $tbl SELECT /*+ COALESCE(1) */ id, " +
        "concat('v', id) FROM range(0, 1000)")
      spark.sql(s"INSERT INTO $tbl SELECT /*+ COALESCE(1) */ id, " +
        "concat('v', id) FROM range(10000, 11000)")
      // a SORTED multi-part rewrite: disjoint per-file k ranges
      spark.sql(s"CALL proctest.system.rewrite_data_files(" +
        s"table => 'db.rwb_$fmt', sort_by => 'k', " +
        "target_file_size_bytes => 3000)")
      val tdir = dirOf(s"rwb_$fmt")
      val rows = graft.sources.IcebergManifestSource
        .statsFromTableDir(spark, tdir, "t",
          Seq((1, "k", org.apache.spark.sql.types.LongType),
            (2, "s", org.apache.spark.sql.types.StringType)))
        .filter(org.apache.spark.sql.functions.col("content") === 0)
        .select("lo_k", "hi_k", "lo_s")
        .collect()
      assert(rows.length > 1, s"$fmt: multi-part rewrite expected")
      assert(rows.forall(r => !r.isNullAt(0) && !r.isNullAt(1) &&
        !r.isNullAt(2)),
        s"$fmt: rewritten entries must carry harvested bounds: " +
          rows.mkString(", "))
      // and the scan actually SKIPS on them post-rewrite
      val q = spark.sql(s"SELECT k FROM $tbl WHERE k >= 10950")
      assert(q.rdd.getNumPartitions < rows.length,
        s"$fmt: post-rewrite skip expected " +
          s"(${q.rdd.getNumPartitions} of ${rows.length})")
      assert(q.count() == 50L)
    }
  }

  test("rewrite_data_files drops SQL-DELETE tombstones; reads unchanged") {
    spark.sql("CREATE TABLE proctest.db.rw (k BIGINT, v STRING) USING `graft-iceberg`")
    spark.sql("INSERT INTO proctest.db.rw SELECT id, concat('v', id) FROM range(100)")
    spark.sql("INSERT INTO proctest.db.rw SELECT id, concat('v', id) FROM range(100, 200)")
    spark.sql("DELETE FROM proctest.db.rw WHERE k % 10 = 0")
    val before = spark.sql("SELECT * FROM proctest.db.rw ORDER BY k")
      .collect().map(_.toSeq).toSeq
    assert(before.size == 180)
    val r = spark.sql("CALL proctest.system.rewrite_data_files('db.rw')")
      .collect().head
    assert(r.getLong(1) == 180L)    // rewritten_rows
    assert(r.getInt(3) <= r.getInt(2)) // files_after <= files_before
    val after = spark.sql("SELECT * FROM proctest.db.rw ORDER BY k")
      .collect().map(_.toSeq).toSeq
    assert(after == before)
    // tombstone-free now: no content != 0 entries at the head
    val stats = graft.sources.IcebergManifestSource
      .statsFromTableDir(spark, dirOf("rw"), "t", Nil)
    assert(stats.filter(org.apache.spark.sql.functions
      .col("content") =!= 0).count() == 0L)
  }

  test("rewrite_position_deletes consolidates pos-tombstones without rewriting data") {
    spark.sql("CREATE TABLE proctest.db.rp (k BIGINT) USING `graft-iceberg`")
    spark.sql("INSERT INTO proctest.db.rp SELECT id FROM range(50)")
    // two predicate deletes = two position-delete files
    graft.sources.LayoutMaintenance.commitDeleteWhere(spark, dirOf("rp"),
      org.apache.spark.sql.functions.expr("k = 3"), Nil)
    graft.sources.LayoutMaintenance.commitDeleteWhere(spark, dirOf("rp"),
      org.apache.spark.sql.functions.expr("k = 7"), Nil)
    val r = spark.sql("CALL proctest.system.rewrite_position_deletes('db.rp')")
      .collect().head
    assert(r.getInt(1) == 2 && r.getInt(2) == 1 && r.getLong(3) == 2L)
    assert(spark.sql("SELECT count(*) FROM proctest.db.rp").head.getLong(0) == 48L)
  }

  test("rewrite_manifests consolidates; ancestors_of reports history + head") {
    spark.sql("CREATE TABLE proctest.db.rm (k BIGINT) USING `graft-iceberg`")
    (1 to 3).foreach(i => spark.sql(s"INSERT INTO proctest.db.rm VALUES ($i)"))
    val rm = spark.sql("CALL proctest.system.rewrite_manifests('db.rm')")
      .collect().head
    // each INSERT fast-appends its own manifest: 3 fold into fewer
    assert(rm.getInt(0) > rm.getInt(1))
    val anc = spark.sql("CALL proctest.system.ancestors_of('db.rm')").collect()
    // manifest consolidation rewrites the CURRENT snapshot's manifest list
    // in place (no new snapshot); history survives, one current head
    assert(anc.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(anc.count(_.getBoolean(2)) == 1)
    assert(anc.filter(_.getBoolean(2)).head.getLong(0) == 3L)
  }

  test("WAP by SQL: stage, fast_forward publishes; cherrypick after head moved") {
    spark.sql("CREATE TABLE proctest.db.wap (k BIGINT) USING `graft-iceberg`")
    spark.sql("INSERT INTO proctest.db.wap VALUES (1)")
    // stage an append on a branch (API write half of WAP)
    val dir = dirOf("wap")
    val dataDir = new java.io.File(dir, "data")
    val f = new java.io.File(dataDir, "staged.parquet")
    import spark.implicits._
    val n = graft.sources.IcebergLayoutWriter.writeSingleParquet(
      Seq(100L, 101L).toDF("k"), f)
    val staged = graft.sources.LayoutMaintenance.stageAppend(spark, dir,
      Seq(graft.sources.IcebergLayoutWriter.ManifestEntrySpec(status = 1,
        content = 0, filePath = f.getAbsolutePath, recordCount = n,
        sizeBytes = f.length(), sequenceNumber = 0L)), branch = "audit")
    // unpublished: SQL readers still see 1 row
    assert(spark.sql("SELECT count(*) FROM proctest.db.wap").head.getLong(0) == 1L)
    val ff = spark.sql(
      "CALL proctest.system.fast_forward('db.wap', 'main', 'audit')")
      .collect().head
    assert(ff.getString(0) == "main" && ff.getLong(1) == staged)
    assert(spark.sql("SELECT count(*) FROM proctest.db.wap").head.getLong(0) == 3L)

    // now a second stage, head moves underneath, publish via cherrypick
    val f2 = new java.io.File(dataDir, "staged2.parquet")
    val n2 = graft.sources.IcebergLayoutWriter.writeSingleParquet(
      Seq(200L).toDF("k"), f2)
    val staged2 = graft.sources.LayoutMaintenance.stageAppend(spark, dir,
      Seq(graft.sources.IcebergLayoutWriter.ManifestEntrySpec(status = 1,
        content = 0, filePath = f2.getAbsolutePath, recordCount = n2,
        sizeBytes = f2.length(), sequenceNumber = 0L)), branch = "audit2")
    spark.sql("INSERT INTO proctest.db.wap VALUES (5)") // head advances
    val cp = spark.sql(
      s"CALL proctest.system.cherrypick_snapshot('db.wap', $staged2)")
      .collect().head
    assert(cp.getLong(0) == staged2)
    assert(spark.sql("SELECT count(*) FROM proctest.db.wap").head.getLong(0) == 5L)
  }

  test("remove_orphan_files: dry run lists, real run deletes, live data intact") {
    spark.sql("CREATE TABLE proctest.db.orf (k BIGINT) USING `graft-iceberg`")
    spark.sql("INSERT INTO proctest.db.orf SELECT id FROM range(10)")
    spark.sql("INSERT INTO proctest.db.orf SELECT id FROM range(10, 20)")
    // roll back so snapshot 2's file is HISTORIC but still referenced —
    // orphan removal must never reclaim time-travelable files
    spark.sql("CALL proctest.system.rollback_to_snapshot('db.orf', 1)")
    val dataDir = new java.io.File(dirOf("orf"), "data")
    val orphan = new java.io.File(dataDir, "leaked-task-attempt.parquet")
    java.nio.file.Files.write(orphan.toPath, Array[Byte](1, 2, 3))
    val dry = spark.sql("CALL proctest.system.remove_orphan_files('db.orf')")
      .collect()
    assert(dry.length == 1 && dry.head.getString(0).endsWith("leaked-task-attempt.parquet"))
    assert(!dry.head.getBoolean(1) && orphan.exists())
    val real = spark.sql(
      "CALL proctest.system.remove_orphan_files('db.orf', dry_run => false)")
      .collect()
    assert(real.length == 1 && real.head.getBoolean(1))
    assert(!orphan.exists())
    // live head AND the rolled-back-but-referenced snapshot both intact
    assert(spark.sql("SELECT count(*) FROM proctest.db.orf").head.getLong(0) == 10L)
    spark.sql("CALL proctest.system.set_current_snapshot('db.orf', 2)")
    assert(spark.sql("SELECT count(*) FROM proctest.db.orf").head.getLong(0) == 20L)
  }

  test("compute_table_stats: one pass, Puffin persisted, metadata-registered") {
    spark.sql("CREATE TABLE proctest.db.cts (k BIGINT, grp STRING, v DOUBLE) " +
      "USING `graft-iceberg`")
    // 40 distinct k, 4 distinct grp (one row's grp is NULL: NDV counts
    // non-null values only, countDistinct semantics)
    spark.sql("INSERT INTO proctest.db.cts SELECT id, " +
      "CASE WHEN id = 0 THEN NULL ELSE concat('g', id % 4) END, " +
      "id * 1.5 FROM range(40)")
    val r = spark.sql(
      "CALL proctest.system.compute_table_stats('db.cts', columns => 'k,grp')")
      .collect().sortBy(_.getString(1))
    assert(r.map(_.getString(1)).toSeq == Seq("grp", "k"))
    // domains are far below k=64, so the sketch IS the distinct set: exact
    assert(r.find(_.getString(1) == "k").get.getLong(3) == 40L)
    // ids 1..39 cover all residues mod 4 -> g0..g3; id=0's NULL is excluded
    assert(r.find(_.getString(1) == "grp").get.getLong(3) == 4L)
    // field ids are positional: k=1, grp=2
    assert(r.find(_.getString(1) == "k").get.getInt(2) == 1)
    assert(r.find(_.getString(1) == "grp").get.getInt(2) == 2)
    // registered against the current snapshot, container readable
    val reg = graft.sources.IcebergManifestSource
      .statisticsFiles(spark, dirOf("cts"))
    val head = spark.sql("CALL proctest.system.ancestors_of('db.cts')")
      .collect().filter(_.getBoolean(2)).head.getLong(0)
    assert(reg.size == 1 && reg.head._1 == head)
    val blobs = graft.sources.PuffinIO.read(new java.io.File(reg.head._2))
    assert(blobs.map(_.properties("column")).sorted == Seq("grp", "k"))
    assert(blobs.forall(_.blobType == "graft-kmv-sketch-v1"))
    // default columns = every primitive column; recompute replaces the entry
    val all = spark.sql("CALL proctest.system.compute_table_stats('db.cts')")
      .collect()
    assert(all.map(_.getString(1)).sorted.toSeq == Seq("grp", "k", "v"))
    assert(graft.sources.IcebergManifestSource
      .statisticsFiles(spark, dirOf("cts")).size == 1)
  }

  test("add_files imports parquet in place: one metadata commit, bounds recorded") {
    import spark.implicits._
    // an EXTERNAL multi-file parquet source (not under any table dir)
    val src = new java.io.File("target/tmp-proc-addfiles-src")
    org.apache.commons.io.FileUtils.deleteQuietly(src)
    // range-clustered so each file covers a DISJOINT price range — the
    // shape where footer bounds can actually skip files
    (0L until 400L).map(i => (i, i * 10)).toDF("k", "price")
      .repartitionByRange(4, org.apache.spark.sql.functions.col("price"))
      .write.parquet(src.getAbsolutePath)
    spark.sql("CREATE TABLE proctest.db.af (k BIGINT, price BIGINT) " +
      "USING `graft-iceberg` " +
      "TBLPROPERTIES ('pushdown.fields'='price:2:long')")
    val r = spark.sql("CALL proctest.system.add_files('db.af', " +
      s"'${src.getAbsolutePath}')").collect().head
    assert(r.getInt(0) == 4 && r.getLong(1) == 400L)
    // zero copy: the table's data dir holds NOTHING, rows come from src
    assert(!new java.io.File(dirOf("af"), "data").exists() ||
      new java.io.File(dirOf("af"), "data").listFiles().isEmpty)
    assert(spark.sql("SELECT count(*), sum(price) FROM proctest.db.af")
      .head.toSeq == Seq(400L, (0L until 400L).map(_ * 10).sum))
    // footer-derived bounds drive file skipping on the imported files
    val stats = graft.sources.IcebergManifestSource
      .statsFromTableDir(spark, dirOf("af"), "t",
        Seq((2, "price", org.apache.spark.sql.types.LongType)))
      .select("lo_price", "hi_price").collect()
    assert(stats.length == 4 && stats.forall(s => !s.isNullAt(0) && !s.isNullAt(1)))
    val pruned = spark.sql(
      "SELECT * FROM proctest.db.af WHERE price < 200").rdd.getNumPartitions
    assert(pruned < 4, s"expected bound-driven skipping, got $pruned of 4")
    // duplicate import refused; explicit opt-out forces a double-count
    val e = intercept[Exception] {
      spark.sql("CALL proctest.system.add_files('db.af', " +
        s"'${src.getAbsolutePath}')").collect()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("already referenced")))
    spark.sql("CALL proctest.system.add_files('db.af', " +
      s"'${src.getAbsolutePath}', check_duplicate_files => false)").collect()
    assert(spark.sql("SELECT count(*) FROM proctest.db.af")
      .head.getLong(0) == 800L)
  }

  test("add_files then compute_table_stats: onboarding closes into planning stats") {
    import spark.implicits._
    val src = new java.io.File("target/tmp-proc-addfiles-src2")
    org.apache.commons.io.FileUtils.deleteQuietly(src)
    (0L until 300L).map(i => (i, s"u${i % 7}")).toDF("k", "u")
      .repartition(3).write.parquet(src.getAbsolutePath)
    spark.sql("CREATE TABLE proctest.db.af2 (k BIGINT, u STRING) " +
      "USING `graft-iceberg`")
    spark.sql("CALL proctest.system.add_files('db.af2', " +
      s"'${src.getAbsolutePath}')").collect()
    val st = spark.sql(
      "CALL proctest.system.compute_table_stats('db.af2', columns => 'u')")
      .collect().head
    assert(st.getString(1) == "u" && st.getLong(3) == 7L)
  }

  test("snapshot: zero-copy clone preserves MOR state; histories diverge") {
    spark.sql("CREATE TABLE proctest.db.sn (k BIGINT, v STRING) " +
      "USING `graft-iceberg`")
    spark.sql("INSERT INTO proctest.db.sn SELECT id, concat('v', id) FROM range(100)")
    spark.sql("INSERT INTO proctest.db.sn SELECT id, concat('v', id) FROM range(100, 200)")
    // live tombstones in the source: the clone must replay them exactly
    spark.sql("DELETE FROM proctest.db.sn WHERE k % 10 = 7")
    val src = spark.sql("SELECT * FROM proctest.db.sn ORDER BY k")
      .collect().map(_.toSeq).toSeq
    assert(src.size == 180)
    val r = spark.sql(
      "CALL proctest.system.snapshot('db.sn', 'db.sn_clone')").collect().head
    assert(r.getString(0) == "db.sn_clone" && r.getInt(2) > 0)
    // clone reads bit-identical to the source, through the catalog
    val cloned = spark.sql("SELECT * FROM proctest.db.sn_clone ORDER BY k")
      .collect().map(_.toSeq).toSeq
    assert(cloned == src)
    // ZERO copy: the clone's data dir holds nothing
    val cloneData = new java.io.File(dirOf("sn_clone"), "data")
    assert(!cloneData.exists() ||
      Option(cloneData.listFiles()).forall(_.isEmpty))
    // histories diverge: a write to the clone leaves the source alone...
    spark.sql("INSERT INTO proctest.db.sn_clone VALUES (999, 'clone-only')")
    assert(spark.sql("SELECT count(*) FROM proctest.db.sn_clone")
      .head.getLong(0) == 181L)
    assert(spark.sql("SELECT count(*) FROM proctest.db.sn")
      .head.getLong(0) == 180L)
    // ...and a delete in the source leaves the clone alone
    spark.sql("DELETE FROM proctest.db.sn WHERE k < 50")
    assert(spark.sql("SELECT count(*) FROM proctest.db.sn")
      .head.getLong(0) == 135L)
    assert(spark.sql("SELECT count(*) FROM proctest.db.sn_clone")
      .head.getLong(0) == 181L)
    // cloning onto an existing table is refused
    val e = intercept[Exception] {
      spark.sql("CALL proctest.system.snapshot('db.sn', 'db.sn_clone')")
        .collect()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).toLowerCase
        .contains("already")))
  }

  test("add_partition_field: evolution keeps old files readable, new writes prune") {
    spark.sql("CREATE TABLE proctest.db.pe (k BIGINT, v BIGINT) " +
      "USING `graft-iceberg` TBLPROPERTIES ('pushdown.fields'='k:1:long')")
    spark.sql("INSERT INTO proctest.db.pe SELECT id, id * 2 FROM range(100)")
    val preFiles = spark.read.format("graft-iceberg")
      .load(dirOf("pe")).rdd.getNumPartitions
    val r = spark.sql(
      "CALL proctest.system.add_partition_field('db.pe', 'bucket(4, k)')")
      .collect().head
    assert(r.getInt(0) == 1 && r.getString(1) == "k_bucket" &&
      r.getString(2) == "bucket[4]")
    // metadata now records BOTH specs with the evolved one as default
    val (defId, specs) = graft.sources.IcebergManifestSource
      .partitionSpecs(spark, dirOf("pe"))
    assert(defId == 1 && specs.map(_._1).sorted == Seq(0, 1))
    assert(specs.find(_._1 == 1).get._2 ==
      Seq(("k_bucket", "bucket[4]", 1)))
    // a post-evolution INSERT clusters one file per bucket value
    spark.sql("INSERT INTO proctest.db.pe SELECT id, id * 2 FROM range(100, 500)")
    val total = spark.read.format("graft-iceberg")
      .load(dirOf("pe")).rdd.getNumPartitions
    assert(total == preFiles + 4,
      s"expected $preFiles old + 4 bucketed files, got $total")
    // every row of both eras reads back
    assert(spark.sql("SELECT count(*), sum(v) FROM proctest.db.pe")
      .head.toSeq == Seq(500L, (0L until 500L).map(_ * 2).sum))
    // equality on the source column: bucket-transform pruning keeps ONE
    // new-spec file, and the old files' recorded k bounds (max 99)
    // exclude them too -> exactly one file planned
    val q = spark.sql("SELECT v FROM proctest.db.pe WHERE k = 137")
    assert(q.rdd.getNumPartitions == 1,
      s"expected 1 planned file, got ${q.rdd.getNumPartitions} of $total")
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(274L))
    // manifest-list rows attribute each era to its own spec id
    val conf = spark.sparkContext.hadoopConfiguration
    def headList(): String = {
      val head = spark.sql("CALL proctest.system.ancestors_of('db.pe')")
        .collect().filter(_.getBoolean(2)).head.getLong(0)
      new java.io.File(new java.io.File(dirOf("pe"), "metadata"),
        s"snap-$head-manifest-list.avro").getAbsolutePath
    }
    val sids = graft.sources.IcebergManifestSource
      .manifestList(conf, headList()).map(_.specId).sorted
    assert(sids.contains(0) && sids.contains(1), s"spec ids on manifests: $sids")
    // a carry commit (DELETE) preserves the per-era attribution
    spark.sql("DELETE FROM proctest.db.pe WHERE k = 137")
    val sids2 = graft.sources.IcebergManifestSource
      .manifestList(conf, headList()).map(_.specId)
    assert(sids2.contains(0) && sids2.contains(1),
      s"carry lost spec attribution: $sids2")
    assert(spark.sql("SELECT count(*) FROM proctest.db.pe")
      .head.getLong(0) == 499L)
    // duplicate field name refused
    val e = intercept[Exception] {
      spark.sql("CALL proctest.system.add_partition_field('db.pe', 'bucket(8, k)')")
        .collect()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("already")))
    // the evolved table still snapshots (multi-spec clone)
    spark.sql("CALL proctest.system.snapshot('db.pe', 'db.pe_clone')").collect()
    assert(spark.sql("SELECT count(*) FROM proctest.db.pe_clone")
      .head.getLong(0) == 499L)
    // narrowing: dropping the last field evolves to the UNPARTITIONED
    // spec (fresh id); writes and reads keep working
    val d = spark.sql(
      "CALL proctest.system.drop_partition_field('db.pe', 'k_bucket')")
      .collect().head
    assert(d.getInt(0) == 2 && d.getString(1) == "k_bucket")
    val (defId3, specs3) = graft.sources.IcebergManifestSource
      .partitionSpecs(spark, dirOf("pe"))
    assert(defId3 == 2 && specs3.find(_._1 == 2).get._2.isEmpty)
    spark.sql("INSERT INTO proctest.db.pe VALUES (1000, 2000)")
    assert(spark.sql("SELECT count(*) FROM proctest.db.pe")
      .head.getLong(0) == 500L)
    assert(spark.sql("SELECT v FROM proctest.db.pe WHERE k = 1000")
      .head.getLong(0) == 2000L)
  }

  test("create_tag / create_branch / drop_ref: ref DDL by SQL") {
    spark.sql("CREATE TABLE proctest.db.rf (k BIGINT) USING `graft-iceberg`")
    spark.sql("INSERT INTO proctest.db.rf VALUES (1), (2)")
    spark.sql("INSERT INTO proctest.db.rf VALUES (3)")
    // tag the HISTORIC snapshot; branch defaults to the current head
    val tg = spark.sql(
      "CALL proctest.system.create_tag('db.rf', 'v1', snapshot_id => 1)")
      .collect().head
    assert(tg.getString(0) == "v1" && tg.getLong(1) == 1L)
    val br = spark.sql(
      "CALL proctest.system.create_branch('db.rf', 'dev')").collect().head
    assert(br.getLong(1) == 2L)
    // tags resolve in SQL time travel; the head is untouched
    assert(spark.sql(
      "SELECT count(*) FROM proctest.db.rf VERSION AS OF 'v1'")
      .head.getLong(0) == 2L)
    assert(spark.sql("SELECT count(*) FROM proctest.db.rf")
      .head.getLong(0) == 3L)
    // refs surface through the metadata table
    val refRows = spark.sql("SELECT name, type FROM proctest.db.rf.refs")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(refRows.get("v1").contains("tag") &&
      refRows.get("dev").contains("branch"))
    // drop works; main is refused; bad snapshot refused
    spark.sql("CALL proctest.system.drop_ref('db.rf', 'dev')").collect()
    assert(!spark.sql("SELECT name FROM proctest.db.rf.refs")
      .collect().map(_.getString(0)).contains("dev"))
    def refuses(stmt: String, needle: String): Unit = {
      val e = intercept[Exception] { spark.sql(stmt).collect() }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains(needle)),
        s"expected '$needle' from $stmt")
    }
    refuses("CALL proctest.system.create_tag('db.rf', 'main')", "main")
    refuses("CALL proctest.system.drop_ref('db.rf', 'main')", "main")
    refuses("CALL proctest.system.create_tag('db.rf', 'x', snapshot_id => 99)",
      "no snapshot")
  }

  test("retention guards: tags pin snapshots; age windows spare recent work") {
    spark.sql("CREATE TABLE proctest.db.rg (k BIGINT) USING `graft-iceberg`")
    (1 to 3).foreach(i => spark.sql(s"INSERT INTO proctest.db.rg VALUES ($i)"))
    spark.sql("CALL proctest.system.create_tag('db.rg', 'pin', snapshot_id => 1)")
    // older_than_ms at epoch 0: every snapshot is newer -> nothing expires
    spark.sql("CALL proctest.system.expire_snapshots('db.rg', " +
      "retain_last => 1, older_than_ms => 0)")
    assert(graft.sources.LayoutMaintenance
      .snapshotIds(spark, dirOf("rg")).size == 3)
    // the TAG pins snapshot 1 through an unbounded expire
    spark.sql("CALL proctest.system.expire_snapshots('db.rg', retain_last => 1)")
    assert(graft.sources.LayoutMaintenance
      .snapshotIds(spark, dirOf("rg")) == Seq(1L, 3L))
    assert(spark.sql(
      "SELECT count(*) FROM proctest.db.rg VERSION AS OF 'pin'")
      .head.getLong(0) == 1L)
    // releasing the tag releases the snapshot
    spark.sql("CALL proctest.system.drop_ref('db.rg', 'pin')")
    spark.sql("CALL proctest.system.expire_snapshots('db.rg', retain_last => 1)")
    assert(graft.sources.LayoutMaintenance
      .snapshotIds(spark, dirOf("rg")) == Seq(3L))
    // orphan min_age: a just-planted fake task file is spared by an age
    // window (in-flight writers look exactly like orphans) ...
    val orphan = new java.io.File(new java.io.File(dirOf("rg"), "data"),
      "inflight-task.parquet")
    java.nio.file.Files.write(orphan.toPath, Array[Byte](9))
    val spared = spark.sql("CALL proctest.system.remove_orphan_files(" +
      "'db.rg', dry_run => false, min_age_ms => 3600000)").collect()
    assert(spared.isEmpty && orphan.exists())
    // ... and reclaimed once old enough (simulated by mtime rewind)
    orphan.setLastModified(System.currentTimeMillis() - 7200000L)
    val gone = spark.sql("CALL proctest.system.remove_orphan_files(" +
      "'db.rg', dry_run => false, min_age_ms => 3600000)").collect()
    assert(gone.length == 1 && !orphan.exists())
    assert(spark.sql("SELECT count(*) FROM proctest.db.rg")
      .head.getLong(0) == 3L)
  }

  test("rollback_to_timestamp: head moves to the last snapshot at-or-before") {
    spark.sql("CREATE TABLE proctest.db.rt (k BIGINT) USING `graft-iceberg`")
    spark.sql("INSERT INTO proctest.db.rt VALUES (1)")
    val t1 = System.currentTimeMillis()
    Thread.sleep(5)
    spark.sql("INSERT INTO proctest.db.rt VALUES (2)")
    spark.sql("INSERT INTO proctest.db.rt VALUES (3)")
    assert(spark.sql("SELECT count(*) FROM proctest.db.rt").head.getLong(0) == 3L)
    val r = spark.sql(
      s"CALL proctest.system.rollback_to_timestamp('db.rt', $t1)")
      .collect().head
    assert(r.getLong(1) == 1L)
    assert(spark.sql("SELECT count(*) FROM proctest.db.rt").head.getLong(0) == 1L)
    // an instant before ANY commit refuses loudly
    val e = intercept[Exception] {
      spark.sql("CALL proctest.system.rollback_to_timestamp('db.rt', 1)")
        .collect()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("no snapshot")))
  }

  test("migrate: a bare parquet directory becomes a catalog table in place") {
    import spark.implicits._
    val src = new java.io.File("target/tmp-proc-migrate-src")
    org.apache.commons.io.FileUtils.deleteQuietly(src)
    (0L until 250L).map(i => (i, s"m$i")).toDF("k", "v")
      .repartition(3).write.parquet(src.getAbsolutePath)
    val r = spark.sql(s"CALL proctest.system.migrate(" +
      s"'${src.getAbsolutePath}', 'db.mig')").collect().head
    assert(r.getString(0) == "db.mig" && r.getInt(1) == 3 && r.getLong(2) == 250L)
    // declared schema came from the source; rows serve through SQL
    assert(spark.sql("SELECT count(*), sum(k) FROM proctest.db.mig")
      .head.toSeq == Seq(250L, (0L until 250L).sum))
    // zero copy: the table dir holds metadata only
    val dataDir = new java.io.File(dirOf("mig"), "data")
    assert(!dataDir.exists() || Option(dataDir.listFiles()).forall(_.isEmpty))
    // and it is a normal table from here on: DML works
    spark.sql("DELETE FROM proctest.db.mig WHERE k < 50")
    assert(spark.sql("SELECT count(*) FROM proctest.db.mig")
      .head.getLong(0) == 200L)
  }

  test("add_files refuses hive-partitioned sources and disjoint schemas") {
    import spark.implicits._
    def refuses(stmt: String, needle: String): Unit = {
      val e = intercept[Exception] { spark.sql(stmt).collect() }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains(needle)),
        s"expected '$needle' from $stmt")
    }
    // hive-partitioned source: partition values live in the dir names —
    // a verbatim import would silently null the day column
    val hive = new java.io.File("target/tmp-proc-hive-src")
    org.apache.commons.io.FileUtils.deleteQuietly(hive)
    (0L until 60L).map(i => (i, i % 3)).toDF("k", "day")
      .write.partitionBy("day").parquet(hive.getAbsolutePath)
    spark.sql("CREATE TABLE proctest.db.hv (k BIGINT, day BIGINT) " +
      "USING `graft-iceberg`")
    refuses(s"CALL proctest.system.add_files('db.hv', " +
      s"'${hive.getAbsolutePath}')", "hive-partitioned")
    // schema-disjoint source: importing would read as all-null rows
    val alien = new java.io.File("target/tmp-proc-alien-src")
    org.apache.commons.io.FileUtils.deleteQuietly(alien)
    (0L until 10L).map(i => (i, s"x$i")).toDF("zz_a", "zz_b")
      .coalesce(1).write.parquet(alien.getAbsolutePath)
    refuses(s"CALL proctest.system.add_files('db.hv', " +
      s"'${alien.getAbsolutePath}')", "no column")
    // the table is untouched by both refusals
    assert(spark.sql("SELECT count(*) FROM proctest.db.hv")
      .head.getLong(0) == 0L)
  }

  test("racing CALL expire_snapshots vs rewrite_data_files: both land, state exact") {
    spark.sql("CREATE TABLE proctest.db.race (k BIGINT) USING `graft-iceberg`")
    (1 to 4).foreach(i =>
      spark.sql(s"INSERT INTO proctest.db.race VALUES ($i), (${i + 100})"))
    spark.sql("DELETE FROM proctest.db.race WHERE k = 101")
    // two maintenance procedures CONCURRENTLY: expire (metadata-only
    // replace of history) vs rewrite_data_files (replace-shaped data
    // commit). Procedure-initiated commits run the SAME lock + CAS
    // protocol as every other commit, so the pair linearizes — both
    // succeed or the loser fails loudly; what must NEVER happen is a
    // silent overwrite (lost snapshot / resurrected row).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fExpire = Future(scala.util.Try(spark.sql(
      "CALL proctest.system.expire_snapshots('db.race', retain_last => 2)")
      .collect()))
    val fRewrite = Future(scala.util.Try(spark.sql(
      "CALL proctest.system.rewrite_data_files('db.race')").collect()))
    val (rE, rR) = (Await.result(fExpire, 120.seconds),
      Await.result(fRewrite, 120.seconds))
    // a loser may surface a loud conflict; silent corruption may not
    def okOrConflict(r: scala.util.Try[_]): Boolean = r match {
      case scala.util.Success(_) => true
      case scala.util.Failure(t) =>
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .exists(c => String.valueOf(c.getMessage).toLowerCase
            .contains("conflict") ||
            String.valueOf(c.getMessage).contains("races"))
    }
    assert(okOrConflict(rE), s"expire failed non-conflict: $rE")
    assert(okOrConflict(rR), s"rewrite failed non-conflict: $rR")
    // state is EXACT regardless of interleaving
    assert(spark.sql("SELECT k FROM proctest.db.race ORDER BY k").collect()
      .map(_.getLong(0)).toSeq ==
      Seq(1L, 2L, 3L, 4L, 102L, 103L, 104L))
    // the metadata version chain stayed linear: current resolves, and
    // snapshot history is readable end to end
    assert(graft.sources.LayoutMaintenance
      .snapshotIds(spark, dirOf("race")).nonEmpty)
  }

  test("procedure commits inherit the CAS: a planted cross-process winner fails a CALL loudly") {
    spark.sql("CREATE TABLE proctest.db.occ (k BIGINT) USING `graft-iceberg`")
    spark.sql("INSERT INTO proctest.db.occ VALUES (1), (2)")
    spark.sql("DELETE FROM proctest.db.occ WHERE k = 2")
    // simulate a cross-process winner this JVM has not observed: the
    // next metadata version exists on disk while our hint still names
    // the previous one — the exact window between a racing writer's
    // CREATE_NEW and our next read
    val meta = new java.io.File(dirOf("occ"), "metadata")
    val cur = new java.io.File(meta, "version-hint.text")
    val v = new String(java.nio.file.Files.readAllBytes(cur.toPath)).trim
      .replaceAll("[^0-9]", "").toInt
    java.nio.file.Files.copy(
      new java.io.File(meta, s"v$v.metadata.json").toPath,
      new java.io.File(meta, s"v${v + 1}.metadata.json").toPath)
    // replace-shaped procedure: fails LOUDLY (its removed-file decisions
    // died with the old base), table untouched
    val e = intercept[Exception] {
      spark.sql("CALL proctest.system.rewrite_data_files('db.occ')").collect()
    }
    val chain = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(c => String.valueOf(c.getMessage))
      .mkString(" | ")
    assert(chain.contains("conflict") || chain.contains("races"), chain)
    assert(spark.sql("SELECT k FROM proctest.db.occ").collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("unknown procedure and wrong namespace fail loudly") {
    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
    val e1 = intercept[Exception] {
      spark.sql("CALL proctest.system.no_such_proc('db.rb')").collect()
    }
    // the catalog raises Spark's ROUTINE_NOT_FOUND analysis error (there
    // is no dedicated no-such-procedure type in Spark 4) so the analyzer
    // reports a proper unresolved-routine failure
    assert(chain(e1).contains("ROUTINE_NOT_FOUND") ||
      chain(e1).toLowerCase.contains("cannot be found"),
      s"got: ${chain(e1)}")
    val e2 = intercept[Exception] {
      spark.sql("CALL proctest.other.rollback_to_snapshot('db.rb', 1)").collect()
    }
    assert(chain(e2).toLowerCase.contains("routine") ||
      chain(e2).toLowerCase.contains("system"))
  }
}
