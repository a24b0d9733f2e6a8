package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-10 batch: the multi-writer lakehouse surface —
  *
  *  - optimistic cross-process commit concurrency (q257): two appends
  *    racing the SAME metadata base both survive, the loser retrying on
  *    top of the winner via the metadata-version compare-and-swap
  *    (Iceberg's HadoopTableOperations commit protocol;
  *    reference behavior: iceberg-diag reads whatever version the
  *    metadata JSON names — `iceberg_diag/analyzer.py` trusts a
  *    single-writer table, so the concurrency discipline must live in
  *    the writer, where this engine executes it).
  *
  * Oracle-parity conventions as in [[Queries]]: identical aliases both
  * sides, integer aggregates, full ORDER BY tie-breaks. The commits in
  * these queries are REAL on-disk layout commits; the oracle recomputes
  * the expected end state from the source parquet tables alone, so a
  * commit that loses rows (round 9's silent-overwrite hole) breaks the
  * hash match, not just a spec assertion.
  */
object Queries14 {

  private def t(dir: String, name: String)(implicit s: SparkSession): DataFrame =
    Rel.t(dir, name)

  /** Distinct data-file paths the table's live position tombstones
    * target — driver-decoded under the tombstone byte cap (zero Spark
    * jobs for KB-sized objects), one batched Spark read past it. */
  private def tombstoneTargets(s: SparkSession, tableDir: String): Set[String] =
    graft.sources.MorRead.posTombstoneTargets(s, tableDir)

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- COMMIT OCC: three-way state assembled by two RACING appends
    // on one base. The interloper commits from inside the victim's
    // commit window (after its base read, before its version swap) — the
    // victim's CAS fails, it retries against the new base, and BOTH
    // commits' files survive with linear snapshot lineage (pinned
    // in-query: history ids 1,2,3 and the loser landing last). The final
    // aggregate covers all three slices, so the oracle (computed from
    // the source table alone) fails if either racer's rows vanished.
    "q257_commit_occ" -> { (s, dir) => implicit val sp = s
      import graft.sources.{IcebergLayoutWriter, LayoutMaintenance, MorRead}
      import graft.sources.IcebergLayoutWriter.ManifestEntrySpec
      val tbl = TmpFixture.dir("q257", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(tbl)
      val rows = t(dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"))
      rows.filter(col("k") % 3 === 0)
        .write.format("graft-iceberg").mode("append").save(tbl.getPath)
      def fileFor(name: String, mod: Int): ManifestEntrySpec = {
        val f = new java.io.File(new java.io.File(tbl, "data"), name)
        val n = IcebergLayoutWriter.writeSingleParquet(
          IcebergLayoutWriter.sortedSingle(
            rows.filter(col("k") % 3 === mod), col("k")), f)
        ManifestEntrySpec(status = 1, content = 0,
          filePath = f.getAbsolutePath, recordCount = n,
          sizeBytes = f.length())
      }
      // the two racers' slice writes are independent jobs — overlap
      // them (guide §2.6); the commit RACE below is unchanged
      val Seq(mine, theirs) = Overlap.all(s)(() => fileFor("mine.parquet", 1),
        () => fileFor("theirs.parquet", 2))
      val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
      var interloperId = -1L
      val myId = LayoutMaintenance.commitAppend(s, tbl.getPath, Seq(mine),
        afterPlan = () =>
          if (fired.compareAndSet(false, true))
            interloperId = LayoutMaintenance.commitAppend(
              s, tbl.getPath, Seq(theirs)))
      require(interloperId == 2L && myId == 3L,
        s"race must serialize as interloper=2, retried=3; " +
          s"got $interloperId, $myId")
      require(LayoutMaintenance.snapshotIds(s, tbl.getPath) ==
        Seq(1L, 2L, 3L), "retry must preserve linear snapshot lineage")
      // the winner's intermediate snapshot is still time-travelable and
      // holds exactly base + theirs
      require(MorRead.readTable(s, tbl.getPath).count() ==
        graft.sources.IcebergManifestSource
          .statsFromTableDir(s, tbl.getPath, "t", Nil)
          .filter(col("content") === 0)
          .agg(sum(col("record_count"))).collect()(0).getLong(0),
        "live record counts must reconcile with manifest metadata")
      s.read.format("graft-iceberg").load(tbl.getPath)
        .groupBy(col("prio"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_keys"))
        .orderBy(col("prio"))
    },

    // ---- RENAME COLUMN end to end (Iceberg "Schema Evolution": renames
    // are metadata-only — the field id survives, no file is rewritten):
    // 1995 orders land under `price`, the column is renamed to `total`,
    // 1996 lands under the new name, and a DELETE through the renamed
    // name prunes both generations via the alias-aware MOR read. Pinned
    // in-query: pre-rename files carried VERBATIM across the ALTER, and
    // the old file's parquet footer still physically says `price` (the
    // rename lives in the descriptor + field ids, not the data). The
    // final rollup spans both name generations + the delete — computed
    // by DuckDB from predicate algebra alone, so any generation lost or
    // double-read breaks the hash.
    "q254_sql_rename_column" -> { (s, dir) => implicit val sp = s
      val wh = TmpFixture.dir("q254wh", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(wh); wh.mkdirs()
      val cat = "graft_" + Integer.toHexString(wh.getAbsolutePath.hashCode)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.getAbsolutePath)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.rn")
      s.sql(s"DROP TABLE IF EXISTS $cat.rn.ord")
      s.sql(s"CREATE TABLE $cat.rn.ord " +
        "(okey BIGINT, price BIGINT, mon BIGINT) USING `graft-iceberg`")
      t(dir, "orders").createOrReplaceTempView("q254_src")
      s.sql(s"""INSERT INTO $cat.rn.ord
               |SELECT o_orderkey, CAST(FLOOR(o_totalprice) AS BIGINT),
               |       CAST(month(o_orderdate) AS BIGINT)
               |FROM q254_src WHERE year(o_orderdate) = 1995""".stripMargin)
      val tdir = s"${wh.getPath}/rn/ord"
      def files(): Set[String] = graft.sources.IcebergManifestSource
        .statsFromTableDir(s, tdir, "t", Nil)
        .filter(col("content") === 0)
        .select("file_path").collect().map(_.getString(0)).toSet
      val before = files()
      s.sql(s"ALTER TABLE $cat.rn.ord RENAME COLUMN price TO total")
      require(before.subsetOf(files()),
        "RENAME COLUMN must not rewrite pre-rename files")
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(
          before.head.replaceFirst("^file:/+", "/")),
        s.sparkContext.hadoopConfiguration)
      val rr = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      val pfs = try rr.getFooter.getFileMetaData.getSchema finally rr.close()
      require(pfs.containsField("price") && !pfs.containsField("total"),
        "pre-rename file must physically keep the OLD column name")
      s.sql(s"""INSERT INTO $cat.rn.ord
               |SELECT o_orderkey, CAST(FLOOR(o_totalprice) AS BIGINT),
               |       CAST(month(o_orderdate) AS BIGINT)
               |FROM q254_src WHERE year(o_orderdate) = 1996""".stripMargin)
      // DML through the renamed name: the COW delete's MOR read folds
      // the name generations, so the tombstone truth spans both
      s.sql(s"DELETE FROM $cat.rn.ord WHERE total >= 400000")
      s.sql(s"""SELECT mon, count(*) AS n_orders, sum(total) AS sum_total,
                |  min(okey) AS min_okey
                |FROM $cat.rn.ord GROUP BY mon ORDER BY mon""".stripMargin)
    },

    // ---- SQL BRANCH WRITES (write-audit-publish without leaving SQL):
    // `ALTER TABLE … SET TBLPROPERTIES('write.branch'='audit')` routes
    // INSERTs onto a staged branch ref — the snapshot lands in history,
    // the branch moves, and the TABLE HEAD stays put (pinned in-query:
    // head readers see only 1995 while the staged 1996 rows are
    // addressable solely via `VERSION AS OF 'audit'`). Two staged
    // INSERTs stack on the branch (the second carries the first —
    // Iceberg's branch-commit semantics). `CALL fast_forward` publishes;
    // the final profile spans the published whole, recomputed by DuckDB
    // from the source table — staged rows lost in the stack or leaked
    // into the head break the hash.
    "q256_sql_branch_write" -> { (s, dir) => implicit val sp = s
      val wh = TmpFixture.dir("q256wh", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(wh); wh.mkdirs()
      val cat = "graft_" + Integer.toHexString(wh.getAbsolutePath.hashCode)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.getAbsolutePath)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.wap")
      s.sql(s"DROP TABLE IF EXISTS $cat.wap.ord")
      s.sql(s"CREATE TABLE $cat.wap.ord " +
        "(okey BIGINT, price BIGINT, mon BIGINT) USING `graft-iceberg`")
      t(dir, "orders").createOrReplaceTempView("q256_src")
      s.sql(s"""INSERT INTO $cat.wap.ord
               |SELECT o_orderkey, CAST(FLOOR(o_totalprice) AS BIGINT),
               |       CAST(month(o_orderdate) AS BIGINT)
               |FROM q256_src WHERE year(o_orderdate) = 1995""".stripMargin)
      val n95 = s.sql(s"SELECT count(*) FROM $cat.wap.ord").head.getLong(0)
      s.sql(s"ALTER TABLE $cat.wap.ord " +
        "SET TBLPROPERTIES ('write.branch' = 'audit')")
      // two staged INSERTs: the second must STACK on the first
      s.sql(s"""INSERT INTO $cat.wap.ord
               |SELECT o_orderkey, CAST(FLOOR(o_totalprice) AS BIGINT),
               |       CAST(month(o_orderdate) AS BIGINT)
               |FROM q256_src WHERE year(o_orderdate) = 1996
               |  AND o_orderkey % 2 = 0""".stripMargin)
      s.sql(s"""INSERT INTO $cat.wap.ord
               |SELECT o_orderkey, CAST(FLOOR(o_totalprice) AS BIGINT),
               |       CAST(month(o_orderdate) AS BIGINT)
               |FROM q256_src WHERE year(o_orderdate) = 1996
               |  AND o_orderkey % 2 = 1""".stripMargin)
      val headN = s.sql(s"SELECT count(*) FROM $cat.wap.ord").head.getLong(0)
      require(headN == n95,
        s"staged INSERTs leaked into the head: $headN != $n95")
      val n96 = t(dir, "orders")
        .filter(year(col("o_orderdate")) === 1996).count()
      val stagedN = s.sql(
        s"SELECT count(*) FROM $cat.wap.ord VERSION AS OF 'audit'")
        .head.getLong(0)
      require(stagedN == n95 + n96,
        s"branch must hold base + BOTH staged inserts: $stagedN != ${n95 + n96}")
      s.sql(s"CALL $cat.system.fast_forward('wap.ord', 'main', 'audit')")
      s.sql(s"ALTER TABLE $cat.wap.ord UNSET TBLPROPERTIES ('write.branch')")
      s.sql(s"""SELECT mon, count(*) AS n_orders, sum(price) AS sum_price,
                |  min(okey) AS min_okey
                |FROM $cat.wap.ord GROUP BY mon ORDER BY mon""".stripMargin)
    },

    // ---- NESTED SCHEMAS through the connector: a STRUCT column (typed
    // document metadata riding next to the payload — the multimodal-
    // corpus shape) written through SQL, read back with NESTED-LEAF
    // pruning (pinned in-query: a query touching only meta.src hands
    // the scan a struct pruned to that one leaf, so the other leaves'
    // parquet pages are never decoded), and aggregated on nested
    // fields. The oracle recomputes the rollup from the FLAT source
    // columns — struct assembly, group encode/decode, or pruning bugs
    // all break the hash.
    "q255_nested_struct" -> { (s, dir) => implicit val sp = s
      val wh = TmpFixture.dir("q255wh", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(wh); wh.mkdirs()
      val cat = "graft_" + Integer.toHexString(wh.getAbsolutePath.hashCode)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.getAbsolutePath)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ns")
      s.sql(s"DROP TABLE IF EXISTS $cat.ns.docs")
      s.sql(s"CREATE TABLE $cat.ns.docs (doc_id BIGINT, " +
        "meta STRUCT<src: STRING, nwords: BIGINT>) USING `graft-iceberg`")
      t(dir, "documents").createOrReplaceTempView("q255_src")
      s.sql(s"""INSERT INTO $cat.ns.docs
               |SELECT doc_id, named_struct('src', source,
               |  'nwords', CAST(size(split(text, ' ')) AS BIGINT))
               |FROM q255_src WHERE text IS NOT NULL""".stripMargin)
      // nested pruning pin: only meta.src requested -> the scan's
      // required struct holds exactly that leaf
      val probe = s.sql(s"SELECT meta.src FROM $cat.ns.docs")
      val pruned = probe.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.readSchema()("meta").dataType
            .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq
      }
      require(pruned.nonEmpty && pruned.head == Seq("src"),
        s"nested pruning must reach the scan, got $pruned")
      s.sql(s"""SELECT meta.src AS source, count(*) AS n_docs,
                |  sum(meta.nwords) AS sum_words, min(doc_id) AS min_doc
                |FROM $cat.ns.docs
                |WHERE meta.nwords >= 5
                |GROUP BY meta.src ORDER BY source""".stripMargin)
    },

    // ---- ALTER COLUMN TYPE widening (Iceberg's safe promotions:
    // int->long, float->double — metadata-only, old files keep their
    // narrow physical types and readers widen per value): 1995 lands as
    // INT keys, the column widens to BIGINT, 1996 lands wide, and a
    // DELETE through the widened type spans both physical widths via
    // the declared-schema MOR read. Pinned in-query: pre-ALTER files
    // carried verbatim, and the old file's parquet footer still says
    // int32. The rollup is recomputed by DuckDB from predicate algebra
    // — a value lost or mis-widened in either generation breaks the
    // hash.
    "q258_sql_type_widening" -> { (s, dir) => implicit val sp = s
      val wh = TmpFixture.dir("q258wh", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(wh); wh.mkdirs()
      val cat = "graft_" + Integer.toHexString(wh.getAbsolutePath.hashCode)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.getAbsolutePath)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.wd")
      s.sql(s"DROP TABLE IF EXISTS $cat.wd.ord")
      s.sql(s"CREATE TABLE $cat.wd.ord " +
        "(okey INT, price INT, mon BIGINT) USING `graft-iceberg`")
      t(dir, "orders").createOrReplaceTempView("q258_src")
      s.sql(s"""INSERT INTO $cat.wd.ord
               |SELECT CAST(o_orderkey AS INT),
               |       CAST(FLOOR(o_totalprice) AS INT),
               |       CAST(month(o_orderdate) AS BIGINT)
               |FROM q258_src WHERE year(o_orderdate) = 1995""".stripMargin)
      val tdir = s"${wh.getPath}/wd/ord"
      def files(): Set[String] = graft.sources.IcebergManifestSource
        .statsFromTableDir(s, tdir, "t", Nil)
        .filter(col("content") === 0)
        .select("file_path").collect().map(_.getString(0)).toSet
      val before = files()
      s.sql(s"ALTER TABLE $cat.wd.ord ALTER COLUMN okey TYPE BIGINT")
      s.sql(s"ALTER TABLE $cat.wd.ord ALTER COLUMN price TYPE BIGINT")
      require(before.subsetOf(files()),
        "ALTER COLUMN TYPE must not rewrite pre-evolution files")
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(
          before.head.replaceFirst("^file:/+", "/")),
        s.sparkContext.hadoopConfiguration)
      val rr = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      val pfs = try rr.getFooter.getFileMetaData.getSchema finally rr.close()
      require(pfs.getFields.get(pfs.getFieldIndex("okey"))
        .asPrimitiveType().getPrimitiveTypeName.toString == "INT32",
        "pre-ALTER file must physically keep the NARROW type")
      s.sql(s"""INSERT INTO $cat.wd.ord
               |SELECT o_orderkey, CAST(FLOOR(o_totalprice) AS BIGINT),
               |       CAST(month(o_orderdate) AS BIGINT)
               |FROM q258_src WHERE year(o_orderdate) = 1996""".stripMargin)
      // DML through the widened type: both physical widths in one MOR
      s.sql(s"DELETE FROM $cat.wd.ord WHERE price >= 400000")
      s.sql(s"""SELECT mon, count(*) AS n_orders, sum(price) AS sum_price,
                |  min(okey) AS min_okey
                |FROM $cat.wd.ord GROUP BY mon ORDER BY mon""".stripMargin)
    },

    // ---- ORC POSITION DELETES (the last row-level gap on mixed-format
    // tables): Spark's ORC reader exposes no row-index metadata column,
    // so ORC ordinals come from the ORC reader's OWN row accounting
    // ([[graft.sources.OrcPosRead]], stripe-parallel — Iceberg's own ORC
    // readers derive `pos` the same way). One parquet slice + one ORC
    // slice; a predicate DELETE writes position tombstones spanning BOTH
    // formats, a second DELETE commits a deletion vector — and only the
    // ORC files the predicate matches pay the ordinal-carrying scan
    // (pinned in-query: the tombstone file really targets the .orc
    // file, so the query can't silently degrade to parquet-only). The
    // read-back applies both tombstone kinds across both formats; the
    // oracle recomputes survivors from predicate algebra alone.
    "q259_orc_position_delete" -> { (s, dir) => implicit val sp = s
      import graft.sources.{IcebergLayoutWriter, LayoutMaintenance, MorRead}
      import graft.sources.IcebergLayoutWriter.ManifestEntrySpec
      val li = t(dir, "lineitem").select(col("l_orderkey").as("k"),
        col("l_partkey").as("pk"),
        floor(col("l_quantity")).cast("long").as("qty"))
      val tbl = TmpFixture.dir("q259", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(tbl)
      val dataDir = new java.io.File(tbl, "data"); dataDir.mkdirs()
      val pf = new java.io.File(dataDir, "slice-a.parquet")
      val of = new java.io.File(dataDir, "slice-b.orc")
      // two independent slice-file jobs — overlap them; commits stay
      // sequential below
      val Seq(nP, nO) = Overlap.all(s)(
        () => IcebergLayoutWriter.writeSingleParquet(
          IcebergLayoutWriter.sortedSingle(li.filter(col("k") % 4 === 1),
            col("k"), col("pk"), col("qty")), pf),
        () => IcebergLayoutWriter.writeSingleOrc(
          IcebergLayoutWriter.sortedSingle(li.filter(col("k") % 4 === 2),
            col("k"), col("pk"), col("qty")), of))
      IcebergLayoutWriter.writeTable(tbl, Seq(ManifestEntrySpec(
        status = 1, content = 0, filePath = pf.getAbsolutePath,
        recordCount = nP, sizeBytes = pf.length(), sequenceNumber = 1L)))
      require(nO > 0, "ORC slice must be non-empty")
      LayoutMaintenance.commitAppend(s, tbl.getPath, Seq(ManifestEntrySpec(
        status = 1, content = 0, filePath = of.getAbsolutePath,
        recordCount = nO, sizeBytes = of.length(), fileFormat = "ORC")))
      // position-tombstone DELETE hitting rows in BOTH formats
      val (_, nDel1) = LayoutMaintenance.commitDeleteWhere(
        s, tbl.getPath, col("qty") < 10)
      require(nDel1 > 0, "predicate must match rows")
      // the tombstone file must really target the ORC file — otherwise
      // this query proves nothing about ORC ordinals
      val tombTargets = tombstoneTargets(s, tbl.getPath)
      require(tombTargets.exists(_.endsWith(".orc")),
        s"tombstones must target the ORC file, got $tombTargets")
      // second DELETE as a DELETION VECTOR (v3 shape), same MOR read path
      val (_, nDel2) = LayoutMaintenance.commitDeleteWhereDv(
        s, tbl.getPath, col("pk") % 9 === 0)
      require(nDel2 > 0, "DV predicate must match rows")
      MorRead.readTable(s, tbl.getPath)
        .groupBy((col("qty") % 7).as("band"))
        .agg(count(lit(1)).as("n_rows"), sum(col("pk")).as("sum_pk"),
          min(col("k")).as("min_k"))
        .orderBy(col("band"))
    },

    // ---- THREE-FORMAT TABLE (the full `file_format` domain the Iceberg
    // spec admits per manifest entry: PARQUET, ORC, AVRO): one slice per
    // format — avro has no Spark DataSource in this distribution, so its
    // scan is the hand-rolled sequential container reader
    // ([[graft.sources.AvroDataRead]], real ordinal per row for free) —
    // then BOTH tombstone kinds span all three formats in one MOR read:
    // a position DELETE (predicate matches rows in each slice, pinned
    // in-query) and an equality MERGE delete (key-matched, no ordinals).
    // The oracle recomputes survivors from predicate algebra alone, so a
    // slice lost, double-read, or mis-tombstoned in ANY format breaks
    // the hash.
    "q260_avro_three_format" -> { (s, dir) => implicit val sp = s
      import graft.sources.{IcebergLayoutWriter, LayoutMaintenance, MorRead}
      import graft.sources.IcebergLayoutWriter.ManifestEntrySpec
      val li = t(dir, "lineitem").select(col("l_orderkey").as("k"),
        col("l_partkey").as("pk"),
        floor(col("l_quantity")).cast("long").as("qty"))
      val tbl = TmpFixture.dir("q260", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(tbl)
      val dataDir = new java.io.File(tbl, "data"); dataDir.mkdirs()
      def slice(mod: Int) = IcebergLayoutWriter.sortedSingle(
        li.filter(col("k") % 3 === mod), col("k"), col("pk"), col("qty"))
      val pf = new java.io.File(dataDir, "slice-p.parquet")
      val of = new java.io.File(dataDir, "slice-o.orc")
      val af = new java.io.File(dataDir, "slice-a.avro")
      // the three slice files are independent Spark jobs — overlap them;
      // the snapshot COMMITS stay strictly sequential below
      val Seq(nP, nO, nA) = Overlap.all(s)(
        () => IcebergLayoutWriter.writeSingleParquet(slice(0), pf),
        () => IcebergLayoutWriter.writeSingleOrc(slice(1), of),
        () => IcebergLayoutWriter.writeSingleAvro(slice(2), af))
      require(nA > 0, "AVRO slice must be non-empty")
      IcebergLayoutWriter.writeTable(tbl, Seq(ManifestEntrySpec(
        status = 1, content = 0, filePath = pf.getAbsolutePath,
        recordCount = nP, sizeBytes = pf.length(), sequenceNumber = 1L)))
      LayoutMaintenance.commitAppend(s, tbl.getPath, Seq(ManifestEntrySpec(
        status = 1, content = 0, filePath = of.getAbsolutePath,
        recordCount = nO, sizeBytes = of.length(), fileFormat = "ORC")))
      LayoutMaintenance.commitAppend(s, tbl.getPath, Seq(ManifestEntrySpec(
        status = 1, content = 0, filePath = af.getAbsolutePath,
        recordCount = nA, sizeBytes = af.length(), fileFormat = "AVRO")))
      val formats = graft.sources.IcebergManifestSource
        .statsFromTableDir(s, tbl.getPath, "t", Nil)
        .filter(col("content") === 0)
        .select(col("file_format")).distinct().collect()
        .map(_.getString(0)).toSet
      require(formats == Set("PARQUET", "ORC", "AVRO"),
        s"three-format manifest broke: $formats")
      // position tombstones spanning ALL THREE formats
      val (_, nDel1) = LayoutMaintenance.commitDeleteWhere(
        s, tbl.getPath, col("qty") >= 45)
      require(nDel1 > 0, "position predicate must match rows")
      val tombTargets = tombstoneTargets(s, tbl.getPath)
      require(Seq(".parquet", ".orc", ".avro").forall(ext =>
        tombTargets.exists(_.endsWith(ext))),
        s"tombstones must span all three formats, got $tombTargets")
      // equality MERGE delete on top (key-matched, both tombstone kinds
      // live in the final snapshot)
      val dels = li.filter(col("k") % 11 === 5)
        .groupBy(col("k")).agg(min(col("pk")).as("pk"),
          min(col("qty")).as("qty"))
        .withColumn("op", lit("D"))
      val (_, _, nDel2) = LayoutMaintenance.commitMerge(
        s, tbl.getPath, dels, Seq("k"), "op")
      require(nDel2 > 0, "equality predicate must match rows")
      MorRead.readTable(s, tbl.getPath)
        .groupBy((col("pk") % 8).as("band"))
        .agg(count(lit(1)).as("n_rows"), sum(col("qty")).as("sum_qty"),
          min(col("k")).as("min_k"))
        .orderBy(col("band"))
    },

    // ---- SQL VIEWS over the lakehouse catalog (Iceberg-view shape: a
    // view is VERSIONED METADATA holding SQL — Spark 4's ViewCatalog SPI
    // carries no SQL routing of its own, so graft.GraftExtensions wires
    // CREATE/ALTER/DROP/SHOW VIEW at parse time and INLINES view reads
    // during resolution, the same mechanism Iceberg's Spark integration
    // uses). Exercised end to end: a base table, a filtering view with
    // USER COLUMN ALIASES, a second view STACKED on the first, an ALTER
    // VIEW AS redefinition (version history pinned in-query: three
    // versions retained, current pointer moved), and the final rollup
    // SELECTed through the stack. Pinned: the read plans a DSv2 scan of
    // the BASE table (views inline before optimization — a view costs
    // nothing at 100 TB), and SHOW VIEWS lists the pair. The oracle
    // recomputes through DuckDB's own views over the source parquet.
    "q261_sql_views" -> { (s, dir) => implicit val sp = s
      val wh = TmpFixture.dir("q261wh", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(wh); wh.mkdirs()
      val cat = "graft_" + Integer.toHexString(wh.getAbsolutePath.hashCode)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.getAbsolutePath)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.vw")
      s.sql(s"DROP TABLE IF EXISTS $cat.vw.ord")
      s.sql(s"CREATE TABLE $cat.vw.ord " +
        "(okey BIGINT, price BIGINT, mon BIGINT, prio STRING) " +
        "USING `graft-iceberg`")
      t(dir, "orders").createOrReplaceTempView("q261_src")
      s.sql(s"""INSERT INTO $cat.vw.ord
               |SELECT o_orderkey, CAST(FLOOR(o_totalprice) AS BIGINT),
               |       CAST(month(o_orderdate) AS BIGINT), o_orderpriority
               |FROM q261_src WHERE year(o_orderdate) = 1995""".stripMargin)
      // view 1: filter + user column aliases; starts WRONG (price
      // ceiling 100k), then ALTER VIEW AS fixes it — the final result
      // must reflect the LATEST definition, and the document must keep
      // the full version history
      s.sql(s"CREATE VIEW $cat.vw.cheap (key, cost, m) AS " +
        s"SELECT okey, price, mon FROM $cat.vw.ord WHERE price < 50000")
      s.sql(s"CREATE OR REPLACE VIEW $cat.vw.cheap (key, cost, m) AS " +
        s"SELECT okey, price, mon FROM $cat.vw.ord WHERE price < 100000")
      // ALTER VIEW AS replaces the WHOLE definition, user column list
      // included (Spark's own semantics) — the new query re-aliases
      s.sql(s"ALTER VIEW $cat.vw.cheap AS " +
        s"SELECT okey AS key, price AS cost, mon AS m " +
        s"FROM $cat.vw.ord WHERE price < 150000")
      val g = s.sessionState.catalogManager.catalog(cat)
        .asInstanceOf[graft.sources.v2.GraftCatalog]
      val doc = g.loadView(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("vw"), "cheap"))
        .asInstanceOf[graft.sources.v2.GraftCatalog.GraftView]
      require(doc.versions.map(_._1) == Seq(1, 2, 3) &&
        doc.currentVersion == 3,
        s"view versioning broke: ${doc.versions.map(_._1)} @${doc.currentVersion}")
      // view 2 STACKS on view 1
      s.sql(s"CREATE VIEW $cat.vw.cheap_by_month AS " +
        s"SELECT m, count(*) AS n_cheap, sum(cost) AS sum_cost, " +
        s"min(key) AS min_key FROM $cat.vw.cheap GROUP BY m")
      val shown = s.sql(s"SHOW VIEWS IN $cat.vw").collect()
        .map(_.getString(1)).toSet
      require(shown == Set("cheap", "cheap_by_month"),
        s"SHOW VIEWS must list the pair, got $shown")
      val out = s.sql(
        s"SELECT m, n_cheap, sum_cost, min_key FROM $cat.vw.cheap_by_month " +
          "ORDER BY m")
      // the stacked views must INLINE to one plan over the base table's
      // DSv2 scan — no materialization, no driver-side view execution
      // (logical plan: AQE wraps the physical tree)
      val scans = out.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => r
      }
      require(scans.size == 1,
        s"stacked views must inline to ONE base-table scan, got ${scans.size}")
      out
    },

    // ---- MERGE-ON-READ SQL DELETE (Iceberg's `write.delete.mode`
    // table property): with mode=merge-on-read a `DELETE FROM` commits
    // TOMBSTONES — O(matched rows) written, ZERO data files rewritten —
    // where the copy-on-write default rewrites every affected file.
    // First DELETE lands as a parquet position-delete file; the property
    // flips to `write.delete.format = dv` and the second DELETE commits
    // an Iceberg-v3 DELETION VECTOR. Pinned in-query: both data files
    // carried VERBATIM across both deletes (the O(matched) bill), one
    // content=1 parquet tombstone + one PUFFIN entry live, and the
    // connector's per-task MOR scan serves the post-delete truth to
    // plain SQL. Oracle recomputes survivors from predicate algebra.
    "q262_mor_sql_delete" -> { (s, dir) => implicit val sp = s
      val wh = TmpFixture.dir("q262wh", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(wh); wh.mkdirs()
      val cat = "graft_" + Integer.toHexString(wh.getAbsolutePath.hashCode)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.getAbsolutePath)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.mr")
      s.sql(s"DROP TABLE IF EXISTS $cat.mr.ord")
      s.sql(s"CREATE TABLE $cat.mr.ord " +
        "(okey BIGINT, price BIGINT, mon BIGINT) USING `graft-iceberg` " +
        "TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')")
      t(dir, "orders").createOrReplaceTempView("q262_src")
      s.sql(s"""INSERT INTO $cat.mr.ord
               |SELECT o_orderkey, CAST(FLOOR(o_totalprice) AS BIGINT),
               |       CAST(month(o_orderdate) AS BIGINT)
               |FROM q262_src WHERE year(o_orderdate) = 1995""".stripMargin)
      s.sql(s"""INSERT INTO $cat.mr.ord
               |SELECT o_orderkey, CAST(FLOOR(o_totalprice) AS BIGINT),
               |       CAST(month(o_orderdate) AS BIGINT)
               |FROM q262_src WHERE year(o_orderdate) = 1996""".stripMargin)
      val tdir = s"${wh.getPath}/mr/ord"
      def entries() = graft.sources.IcebergManifestSource
        .statsFromTableDir(s, tdir, "t", Nil)
        .select(col("file_path"), col("content"), col("file_format"))
        .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)))
      val dataBefore = entries().filter(_._2 == 0).map(_._1).toSet
      require(dataBefore.size == 2, s"two INSERT files, got $dataBefore")
      // MOR delete #1: parquet position tombstones, no rewrite
      s.sql(s"DELETE FROM $cat.mr.ord WHERE price >= 400000")
      // flip the tombstone dialect to deletion vectors for delete #2
      s.sql(s"ALTER TABLE $cat.mr.ord " +
        "SET TBLPROPERTIES ('write.delete.format' = 'dv')")
      s.sql(s"DELETE FROM $cat.mr.ord WHERE mon = 7")
      val after = entries()
      require(after.filter(_._2 == 0).map(_._1).toSet == dataBefore,
        "merge-on-read DELETEs must carry every data file VERBATIM")
      val tombFmts = after.filter(_._2 == 1).map(_._3).sorted.toSeq
      require(tombFmts == Seq("PARQUET", "PUFFIN"),
        s"one parquet tombstone + one deletion vector expected, got $tombFmts")
      s.sql(s"""SELECT mon, count(*) AS n_orders, sum(price) AS sum_price,
                |  min(okey) AS min_okey
                |FROM $cat.mr.ord GROUP BY mon ORDER BY mon""".stripMargin)
    },

    // ---- COLUMN DEFAULT VALUES (Iceberg v3 "Default values"): ADD
    // COLUMN … DEFAULT is METADATA-ONLY — rows in files that predate
    // the column read the INITIAL default (per-file fill in the
    // connector reader; pinned in-query: pre-ALTER files carried
    // verbatim, their rows never NULL), INSERTs that omit the column
    // fill the CURRENT default (Spark's analyzer via the catalog's
    // SUPPORT_COLUMN_DEFAULT_VALUE capability), and SET DEFAULT moves
    // only the current default — 1995 rows keep meaning 'standard'
    // forever while post-SET inserts land 'express'. A DELETE whose
    // predicate READS the defaulted column proves the row-level path
    // serves defaults too. Oracle recomputes the tier assignment from
    // year arithmetic alone.
    "q263_column_defaults" -> { (s, dir) => implicit val sp = s
      val wh = TmpFixture.dir("q263wh", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(wh); wh.mkdirs()
      val cat = "graft_" + Integer.toHexString(wh.getAbsolutePath.hashCode)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.getAbsolutePath)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.dv")
      s.sql(s"DROP TABLE IF EXISTS $cat.dv.ord")
      s.sql(s"CREATE TABLE $cat.dv.ord " +
        "(okey BIGINT, price BIGINT, mon BIGINT) USING `graft-iceberg`")
      t(dir, "orders").createOrReplaceTempView("q263_src")
      s.sql(s"""INSERT INTO $cat.dv.ord
               |SELECT o_orderkey, CAST(FLOOR(o_totalprice) AS BIGINT),
               |       CAST(month(o_orderdate) AS BIGINT)
               |FROM q263_src WHERE year(o_orderdate) = 1995""".stripMargin)
      val tdir = s"${wh.getPath}/dv/ord"
      def files(): Set[String] = graft.sources.IcebergManifestSource
        .statsFromTableDir(s, tdir, "t", Nil)
        .filter(col("content") === 0)
        .select("file_path").collect().map(_.getString(0)).toSet
      val before = files()
      s.sql(s"ALTER TABLE $cat.dv.ord ADD COLUMN tier STRING DEFAULT 'standard'")
      require(files() == before,
        "ADD COLUMN DEFAULT must not rewrite pre-evolution files")
      // 1996 lands while the current default is still 'standard' — the
      // INSERT omits the column, the analyzer fills it
      s.sql(s"""INSERT INTO $cat.dv.ord (okey, price, mon)
               |SELECT o_orderkey, CAST(FLOOR(o_totalprice) AS BIGINT),
               |       CAST(month(o_orderdate) AS BIGINT)
               |FROM q263_src WHERE year(o_orderdate) = 1996""".stripMargin)
      s.sql(s"ALTER TABLE $cat.dv.ord ALTER COLUMN tier SET DEFAULT 'express'")
      s.sql(s"""INSERT INTO $cat.dv.ord (okey, price, mon)
               |SELECT o_orderkey, CAST(FLOOR(o_totalprice) AS BIGINT),
               |       CAST(month(o_orderdate) AS BIGINT)
               |FROM q263_src WHERE year(o_orderdate) = 1997""".stripMargin)
      // the predicate READS the defaulted column over all three
      // generations: initial-default rows (per-file fill), analyzer-
      // filled rows, and post-SET rows
      s.sql(s"DELETE FROM $cat.dv.ord WHERE tier = 'standard' AND mon = 2")
      s.sql(s"""SELECT tier, count(*) AS n_orders, sum(price) AS sum_price,
                |  min(okey) AS min_okey
                |FROM $cat.dv.ord GROUP BY tier ORDER BY tier""".stripMargin)
    },

    // ---- MERGE-ON-READ UPDATE + MERGE (Iceberg's write.update.mode /
    // write.merge.mode = merge-on-read, planned through Spark's
    // SupportsDelta SPI): row identity is the (_file, _pos) metadata
    // pair, updates split into DELETE + INSERT, each task writes its
    // inserts through the ordinary partition-aware writer and its
    // deletes as ONE sorted position-delete parquet, and the commit
    // registers both in ONE snapshot. Pinned in-query: every
    // pre-existing data file carried VERBATIM across an UPDATE and a
    // MERGE (zero rewrites — the O(matched) MOR bill vs COW's
    // O(affected files)), live tombstones present at the end. The final
    // rollup reads through the connector's per-task MOR scan; DuckDB
    // recomputes it from update algebra alone.
    "q264_mor_update_merge" -> { (s, dir) => implicit val sp = s
      val wh = TmpFixture.dir("q264wh", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(wh); wh.mkdirs()
      val cat = "graft_" + Integer.toHexString(wh.getAbsolutePath.hashCode)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.getAbsolutePath)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.md")
      s.sql(s"DROP TABLE IF EXISTS $cat.md.ord")
      s.sql(s"CREATE TABLE $cat.md.ord " +
        "(okey BIGINT, price BIGINT, mon BIGINT) USING `graft-iceberg` " +
        "TBLPROPERTIES ('write.update.mode' = 'merge-on-read', " +
        "'write.merge.mode' = 'merge-on-read')")
      t(dir, "orders").createOrReplaceTempView("q264_src")
      s.sql(s"""INSERT INTO $cat.md.ord
               |SELECT o_orderkey, CAST(FLOOR(o_totalprice) AS BIGINT),
               |       CAST(month(o_orderdate) AS BIGINT)
               |FROM q264_src WHERE year(o_orderdate) = 1995""".stripMargin)
      val tdir = s"${wh.getPath}/md/ord"
      def entries() = graft.sources.IcebergManifestSource
        .statsFromTableDir(s, tdir, "t", Nil)
        .select(col("file_path"), col("content"))
        .collect().map(r => (r.getString(0), r.getInt(1)))
      val dataBefore = entries().filter(_._2 == 0).map(_._1).toSet
      // MOR UPDATE: rows move price bands without touching their files
      s.sql(s"UPDATE $cat.md.ord SET price = price + 1000 WHERE mon <= 3")
      val afterUpd = entries()
      require(dataBefore.subsetOf(
        afterUpd.filter(_._2 == 0).map(_._1).toSet),
        "MOR UPDATE must carry every pre-existing data file verbatim")
      require(afterUpd.exists(_._2 == 1),
        "MOR UPDATE must commit position tombstones")
      // MOR MERGE upsert source: June-1995 repricings (MATCHED rows —
      // TPC-H orderkeys are unique, so matches must come from the same
      // year) unioned with the whole of 1996 (NOT MATCHED inserts)
      s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW q264_delta AS
               |SELECT o_orderkey AS okey,
               |       CAST(FLOOR(o_totalprice) AS BIGINT) * 2 AS price,
               |       CAST(month(o_orderdate) AS BIGINT) AS mon
               |FROM q264_src WHERE year(o_orderdate) = 1995 AND
               |  month(o_orderdate) = 6
               |UNION ALL
               |SELECT o_orderkey AS okey,
               |       CAST(FLOOR(o_totalprice) AS BIGINT) AS price,
               |       CAST(month(o_orderdate) AS BIGINT) AS mon
               |FROM q264_src WHERE year(o_orderdate) = 1996""".stripMargin)
      val updFiles = afterUpd.filter(_._2 == 0).map(_._1).toSet
      s.sql(s"""MERGE INTO $cat.md.ord t USING q264_delta s
               |ON t.okey = s.okey
               |WHEN MATCHED THEN UPDATE SET t.price = s.price
               |WHEN NOT MATCHED THEN INSERT (okey, price, mon)
               |  VALUES (s.okey, s.price, s.mon)""".stripMargin)
      require(updFiles.subsetOf(
        entries().filter(_._2 == 0).map(_._1).toSet),
        "MOR MERGE must carry every pre-existing data file verbatim")
      s.sql(s"""SELECT mon, count(*) AS n_orders, sum(price) AS sum_price,
                |  min(okey) AS min_okey
                |FROM $cat.md.ord GROUP BY mon ORDER BY mon""".stripMargin)
    },

    // ---- TOMBSTONE AUDIT metadata tables (`$position_deletes`,
    // `$manifests`, `$all_files` — Iceberg's inspection surface): a
    // MOR-mode table takes one parquet-tombstone DELETE and one
    // deletion-vector DELETE; `cat.db.t.position_deletes` then serves
    // the tombstones' CONTENTS as rows (file_path, pos, delete file +
    // dialect), so the audit rollup — how many rows each tombstone
    // dialect killed — is pure SQL over metadata. Pinned in-query:
    // `manifests` lists real list rows with the head snapshot among
    // added_snapshot_ids, `all_files` ⊇ the current snapshot's files
    // (history reachability), and the position_deletes total equals the
    // DELETEs' reported sum. DuckDB recomputes the per-dialect counts
    // from predicate algebra alone.
    "q265_tombstone_audit" -> { (s, dir) => implicit val sp = s
      val wh = TmpFixture.dir("q265wh", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(wh); wh.mkdirs()
      val cat = "graft_" + Integer.toHexString(wh.getAbsolutePath.hashCode)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.getAbsolutePath)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ta")
      s.sql(s"DROP TABLE IF EXISTS $cat.ta.li")
      s.sql(s"CREATE TABLE $cat.ta.li " +
        "(k BIGINT, pk BIGINT, qty BIGINT) USING `graft-iceberg` " +
        "TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')")
      t(dir, "lineitem").createOrReplaceTempView("q265_src")
      s.sql(s"""INSERT INTO $cat.ta.li
               |SELECT l_orderkey, l_partkey,
               |       CAST(FLOOR(l_quantity) AS BIGINT)
               |FROM q265_src WHERE l_orderkey % 5 = 0""".stripMargin)
      // delete #1: parquet position tombstones
      s.sql(s"DELETE FROM $cat.ta.li WHERE qty < 5")
      // delete #2: deletion vector
      s.sql(s"ALTER TABLE $cat.ta.li " +
        "SET TBLPROPERTIES ('write.delete.format' = 'dv')")
      // a PUSHABLE predicate (range algebra): the metadata delete path
      // serves it and the dv format flag selects a deletion vector —
      // a non-translatable predicate would take the row-level delta
      // path, whose tombstones are parquet
      s.sql(s"DELETE FROM $cat.ta.li WHERE qty >= 5 AND pk < 1000")
      // manifests table: real list rows, head snapshot present
      val mans = s.sql(s"SELECT partition_spec_id, added_snapshot_id " +
        s"FROM $cat.ta.li.manifests").collect()
      require(mans.nonEmpty && mans.forall(_.getInt(0) >= 0),
        "manifests metadata table must list real manifest rows")
      val headId = s.sql(
        s"SELECT max(snapshot_id) FROM $cat.ta.li.snapshots").head.getLong(0)
      require(mans.exists(_.getLong(1) == headId),
        "the head commit's manifest must carry its snapshot id")
      // all_files reachability: every current file appears
      val curFiles = s.sql(s"SELECT file_path FROM $cat.ta.li.files")
        .collect().map(_.getString(0)).toSet
      val allF = s.sql(s"SELECT file_path FROM $cat.ta.li.all_files")
        .collect().map(_.getString(0)).toSet
      require(curFiles.subsetOf(allF),
        "all_files must cover the current snapshot")
      // the audit rollup: rows killed per tombstone dialect
      s.sql(s"""SELECT delete_file_format, count(*) AS n_deleted_rows
                |FROM $cat.ta.li.position_deletes
                |GROUP BY delete_file_format
                |ORDER BY delete_file_format""".stripMargin)
    },

    // ---- AUDIT-ID WAP (Iceberg's `spark.wap.id` flavor, the branchless
    // twin of q256's write.branch staging): with `write.wap.enabled` on
    // the table and an audit id in the SESSION, an INSERT stages — the
    // snapshot lands in history with `wap.id` in its summary and NO ref
    // moves (head isolation pinned in-query: readers see only 1995, the
    // staged snapshot is addressable via VERSION AS OF its id). `CALL
    // publish_changes(table, wap_id)` resolves the id from snapshot
    // summaries and cherry-picks the additions onto the head. The final
    // profile spans the published whole; a duplicate wap.id stage is
    // pinned REFUSED. DuckDB recomputes from the source table.
    "q266_wap_id_publish" -> { (s, dir) => implicit val sp = s
      val wh = TmpFixture.dir("q266wh", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(wh); wh.mkdirs()
      val cat = "graft_" + Integer.toHexString(wh.getAbsolutePath.hashCode)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.getAbsolutePath)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.wi")
      s.sql(s"DROP TABLE IF EXISTS $cat.wi.ord")
      s.sql(s"CREATE TABLE $cat.wi.ord " +
        "(okey BIGINT, price BIGINT, mon BIGINT) USING `graft-iceberg` " +
        "TBLPROPERTIES ('write.wap.enabled' = 'true')")
      t(dir, "orders").createOrReplaceTempView("q266_src")
      s.sql(s"""INSERT INTO $cat.wi.ord
               |SELECT o_orderkey, CAST(FLOOR(o_totalprice) AS BIGINT),
               |       CAST(month(o_orderdate) AS BIGINT)
               |FROM q266_src WHERE year(o_orderdate) = 1995""".stripMargin)
      val n95 = s.sql(s"SELECT count(*) FROM $cat.wi.ord").head.getLong(0)
      s.conf.set("spark.wap.id", "audit-1996")
      val stagedId =
        try {
          s.sql(s"""INSERT INTO $cat.wi.ord
                   |SELECT o_orderkey, CAST(FLOOR(o_totalprice) AS BIGINT),
                   |       CAST(month(o_orderdate) AS BIGINT)
                   |FROM q266_src WHERE year(o_orderdate) = 1996""".stripMargin)
          // head isolation: the staged rows are invisible to readers
          require(s.sql(s"SELECT count(*) FROM $cat.wi.ord")
            .head.getLong(0) == n95,
            "wap.id staging leaked into the head")
          // a second stage under the SAME id must refuse (publish
          // resolution would be ambiguous)
          val dup = try {
            s.sql(s"""INSERT INTO $cat.wi.ord
                     |SELECT 1L, 1L, 1L""".stripMargin); false
          } catch { case e: Exception =>
            e.getMessage != null || e.getCause != null }
          require(dup, "duplicate wap.id stage must refuse")
          val sid = s.sql(s"SELECT max(snapshot_id) FROM $cat.wi.ord.snapshots")
            .head.getLong(0)
          // the staged snapshot is addressable via time travel
          val n96 = t(dir, "orders")
            .filter(year(col("o_orderdate")) === 1996).count()
          require(s.sql(
            s"SELECT count(*) FROM $cat.wi.ord VERSION AS OF $sid")
            .head.getLong(0) == n95 + n96,
            "staged snapshot must hold base + staged rows")
          sid
        } finally s.conf.unset("spark.wap.id")
      val pub = s.sql(s"CALL $cat.system.publish_changes(" +
        "table => 'wi.ord', wap_id => 'audit-1996')").head
      require(pub.getLong(0) == stagedId,
        s"publish must resolve the staged snapshot, got $pub")
      s.sql(s"""SELECT mon, count(*) AS n_orders, sum(price) AS sum_price,
                |  min(okey) AS min_okey
                |FROM $cat.wi.ord GROUP BY mon ORDER BY mon""".stripMargin)
    },

    // ---- DYNAMIC PARTITION OVERWRITE (Iceberg's dynamic overwrite /
    // Spark's `partitionOverwriteMode=dynamic`, `SupportsDynamicOverwrite`):
    // INSERT OVERWRITE replaces exactly the partitions the incoming
    // rows LAND IN — 1995 fills all twelve months, then a 1996 slice
    // covering only March and April overwrites those two partitions in
    // ONE snapshot while the other ten months' files are pinned carried
    // VERBATIM (the O(touched-partitions) bill; static overwrite would
    // have replaced the table). The old March/April files are pinned
    // GONE. DuckDB stitches the expected months from year arithmetic.
    "q267_dynamic_overwrite" -> { (s, dir) => implicit val sp = s
      val wh = TmpFixture.dir("q267wh", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(wh); wh.mkdirs()
      val cat = "graft_" + Integer.toHexString(wh.getAbsolutePath.hashCode)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.getAbsolutePath)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.dp")
      s.sql(s"DROP TABLE IF EXISTS $cat.dp.ord")
      s.sql(s"CREATE TABLE $cat.dp.ord " +
        "(okey BIGINT, price BIGINT, mon BIGINT) USING `graft-iceberg` " +
        "PARTITIONED BY (mon)")
      t(dir, "orders").createOrReplaceTempView("q267_src")
      s.sql(s"""INSERT INTO $cat.dp.ord
               |SELECT o_orderkey, CAST(FLOOR(o_totalprice) AS BIGINT),
               |       CAST(month(o_orderdate) AS BIGINT)
               |FROM q267_src WHERE year(o_orderdate) = 1995""".stripMargin)
      val tdir = s"${wh.getPath}/dp/ord"
      def filesByPart(): Map[String, Set[String]] = graft.sources
        .IcebergManifestSource.statsFromTableDir(s, tdir, "t", Nil)
        .filter(col("content") === 0)
        .select(col("file_path"), col("partitionKey")).collect()
        .groupBy(_.getString(1)).map { case (k, rs) =>
          k -> rs.map(_.getString(0)).toSet }
      val before = filesByPart()
      require(before.size == 12, s"12 month partitions, got ${before.size}")
      val prevMode = s.conf.get("spark.sql.sources.partitionOverwriteMode")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try s.sql(s"""INSERT OVERWRITE $cat.dp.ord
               |SELECT o_orderkey, CAST(FLOOR(o_totalprice) AS BIGINT),
               |       CAST(month(o_orderdate) AS BIGINT)
               |FROM q267_src WHERE year(o_orderdate) = 1996
               |  AND month(o_orderdate) IN (3, 4)""".stripMargin)
      finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
      val after = filesByPart()
      // every partition is either carried VERBATIM or fully replaced
      // (no old file may survive next to new ones)
      before.foreach { case (part, files) =>
        if (after.get(part) == Some(files)) ()
        else require(!after.get(part).exists(_.intersect(files).nonEmpty),
          s"partition $part must be fully replaced or fully carried")
      }
      val carried = before.count { case (p, f) => after.get(p) == Some(f) }
      require(carried == 10,
        s"exactly ten untouched month partitions must carry, got $carried")
      s.sql(s"""SELECT mon, count(*) AS n_orders, sum(price) AS sum_price,
                |  min(okey) AS min_okey
                |FROM $cat.dp.ord GROUP BY mon ORDER BY mon""".stripMargin)
    },

    // ---- ATOMIC CTAS + RTAS (StagingTableCatalog): CREATE TABLE AS
    // SELECT writes into a STAGED table — nothing is visible until one
    // commit — and REPLACE TABLE AS SELECT swaps the whole content in
    // ONE group-replace snapshot while the table's SNAPSHOT HISTORY
    // survives (Iceberg's RTAS shape; pinned in-query: the pre-replace
    // state still reads via VERSION AS OF and equals the 1995 rollup).
    // 1995 lands via CTAS, the table is REPLACED with the 1996 profile,
    // and the final read is the post-replace truth — recomputed by
    // DuckDB from year arithmetic.
    "q268_atomic_rtas" -> { (s, dir) => implicit val sp = s
      val wh = TmpFixture.dir("q268wh", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(wh); wh.mkdirs()
      val cat = "graft_" + Integer.toHexString(wh.getAbsolutePath.hashCode)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.getAbsolutePath)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.rt")
      s.sql(s"DROP TABLE IF EXISTS $cat.rt.prof")
      t(dir, "orders").createOrReplaceTempView("q268_src")
      s.sql(s"""CREATE TABLE $cat.rt.prof USING `graft-iceberg` AS
               |SELECT o_orderkey AS okey,
               |       CAST(FLOOR(o_totalprice) AS BIGINT) AS price,
               |       CAST(month(o_orderdate) AS BIGINT) AS mon
               |FROM q268_src WHERE year(o_orderdate) = 1995""".stripMargin)
      val snap95 = s.sql(
        s"SELECT max(snapshot_id) FROM $cat.rt.prof.snapshots").head.getLong(0)
      val n95 = s.sql(s"SELECT count(*) FROM $cat.rt.prof").head.getLong(0)
      s.sql(s"""REPLACE TABLE $cat.rt.prof USING `graft-iceberg` AS
               |SELECT o_orderkey AS okey,
               |       CAST(FLOOR(o_totalprice) AS BIGINT) AS price,
               |       CAST(month(o_orderdate) AS BIGINT) AS mon
               |FROM q268_src WHERE year(o_orderdate) = 1996""".stripMargin)
      // history preserved: the pre-replace snapshot still time-travels
      require(s.sql(
        s"SELECT count(*) FROM $cat.rt.prof VERSION AS OF $snap95")
        .head.getLong(0) == n95,
        "RTAS must keep pre-replace history time-travelable")
      s.sql(s"""SELECT mon, count(*) AS n_orders, sum(price) AS sum_price,
                |  min(okey) AS min_okey
                |FROM $cat.rt.prof GROUP BY mon ORDER BY mon""".stripMargin)
    },

    // ---- EMBEDDING DECONTAMINATION (semantic benchmark-overlap gate —
    // the embedding-space counterpart of the n-gram decontamination
    // family q60/q67/q75): benchmark vectors are TINY, so they fold
    // into the plan as PRE-NORMALIZED LITERALS and the corpus sweep is
    // ONE zero-shuffle, zero-join projection — each row's max cosine
    // against every benchmark vector via a higher-order aggregate. The
    // fixture plants leaks (every 4th benchmark vector re-enters the
    // corpus SCALED — cosine is scale-invariant, so an n-gram gate
    // would never catch it, the point of the semantic method); pinned
    // in-query: every planted leak is flagged. Cosines are IEEE-exact
    // both engines (q29's determinism argument), so the status rollup
    // hash-gates against DuckDB's list-arithmetic recomputation.
    "q269_embedding_decontamination" -> { (s, dir) => implicit val sp = s
      val e = t(dir, "embeddings").select(col("vec_id"),
        expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("v"))
      // benchmark = first 20 vectors, pre-normalized DRIVER-side (20x64
      // doubles — metadata-sized by construction)
      val benchRows = e.filter(col("vec_id") < 20)
        .select(col("vec_id"), col("v")).collect()
        .map { r =>
          val b = r.getSeq[Double](1).toArray
          val nrm = math.sqrt(b.foldLeft(0.0)((a, x) => a + x * x))
          b.map(_ / nrm)
        }
      require(benchRows.length == 20, "benchmark fixture must hold 20")
      // corpus: the rest, plus planted SCALED leaks of every 4th
      // benchmark vector under fresh ids
      val planted = e.filter(col("vec_id") < 20 && col("vec_id") % 4 === 0)
        .select((col("vec_id") + 900000L).as("vec_id"),
          expr("transform(v, x -> x * 2.0D)").as("v"))
      val corpus = e.filter(col("vec_id") >= 20).unionByName(planted)
      // shared scorer (EmbeddingDecon): 20 vectors is far under the
      // literal-arm ceiling, so this stays the zero-shuffle projection —
      // past MaxLiteralBenchmark the same call rides a broadcast join
      // (arm equality pinned by EmbeddingDeconSpec)
      val scored = EmbeddingDecon
        .maxCosine(corpus, "vec_id", "v", benchRows.toSeq)
        .withColumn("status",
          when(col("maxcos") >= 0.999, lit("contaminated"))
            .otherwise(lit("clean")))
      // non-vacuous: every planted leak must be caught
      val caught = scored.filter(col("vec_id") >= 900000L)
        .agg(count(lit(1)), sum(when(col("status") === "contaminated", 1L)
          .otherwise(0L))).head
      require(caught.getLong(0) > 0 && caught.getLong(0) == caught.getLong(1),
        s"all planted leaks must flag contaminated, got $caught")
      scored.groupBy(col("status"))
        .agg(count(lit(1)).as("n_docs"), min(col("vec_id")).as("min_vec"),
          max(col("vec_id")).as("max_vec"))
        .orderBy(col("status"))
    })

  def oracles: Map[String, String] = Map(

    "q257_commit_occ" ->
      """SELECT o_orderpriority AS prio, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q254_sql_rename_column" ->
      """WITH src AS (
        |  SELECT o_orderkey AS okey,
        |         CAST(FLOOR(o_totalprice) AS BIGINT) AS total,
        |         CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS mon
        |  FROM orders
        |  WHERE year(CAST(o_orderdate AS DATE)) IN (1995, 1996))
        |SELECT mon, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(total) AS BIGINT) AS sum_total,
        |  CAST(min(okey) AS BIGINT) AS min_okey
        |FROM src WHERE total < 400000
        |GROUP BY mon ORDER BY mon""".stripMargin,

    "q256_sql_branch_write" ->
      """WITH src AS (
        |  SELECT o_orderkey AS okey,
        |         CAST(FLOOR(o_totalprice) AS BIGINT) AS price,
        |         CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS mon
        |  FROM orders
        |  WHERE year(CAST(o_orderdate AS DATE)) IN (1995, 1996))
        |SELECT mon, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(price) AS BIGINT) AS sum_price,
        |  CAST(min(okey) AS BIGINT) AS min_okey
        |FROM src GROUP BY mon ORDER BY mon""".stripMargin,

    "q255_nested_struct" ->
      """WITH src AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nwords
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nwords) AS BIGINT) AS sum_words,
        |  CAST(min(doc_id) AS BIGINT) AS min_doc
        |FROM src WHERE nwords >= 5
        |GROUP BY source ORDER BY source""".stripMargin,

    "q258_sql_type_widening" ->
      """WITH src AS (
        |  SELECT o_orderkey AS okey,
        |         CAST(FLOOR(o_totalprice) AS BIGINT) AS price,
        |         CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS mon
        |  FROM orders
        |  WHERE year(CAST(o_orderdate AS DATE)) IN (1995, 1996))
        |SELECT mon, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(price) AS BIGINT) AS sum_price,
        |  CAST(min(okey) AS BIGINT) AS min_okey
        |FROM src WHERE price < 400000
        |GROUP BY mon ORDER BY mon""".stripMargin,

    "q259_orc_position_delete" ->
      """WITH src AS (
        |  SELECT l_orderkey AS k, l_partkey AS pk,
        |    CAST(FLOOR(l_quantity) AS BIGINT) AS qty
        |  FROM lineitem WHERE l_orderkey % 4 IN (1, 2)),
        |live AS (SELECT * FROM src WHERE NOT (qty < 10) AND NOT (pk % 9 = 0))
        |SELECT qty % 7 AS band, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(pk) AS BIGINT) AS sum_pk, CAST(min(k) AS BIGINT) AS min_k
        |FROM live GROUP BY 1 ORDER BY 1""".stripMargin,

    "q260_avro_three_format" ->
      """WITH src AS (
        |  SELECT l_orderkey AS k, l_partkey AS pk,
        |    CAST(FLOOR(l_quantity) AS BIGINT) AS qty
        |  FROM lineitem),
        |live AS (SELECT * FROM src
        |  WHERE NOT (qty >= 45) AND NOT (k % 11 = 5))
        |SELECT pk % 8 AS band, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(qty) AS BIGINT) AS sum_qty, CAST(min(k) AS BIGINT) AS min_k
        |FROM live GROUP BY 1 ORDER BY 1""".stripMargin,

    "q261_sql_views" ->
      """WITH ord AS (
        |  SELECT o_orderkey AS okey,
        |         CAST(FLOOR(o_totalprice) AS BIGINT) AS price,
        |         CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS mon
        |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1995),
        |cheap AS (SELECT okey AS key, price AS cost, mon AS m
        |  FROM ord WHERE price < 150000)
        |SELECT m, CAST(count(*) AS BIGINT) AS n_cheap,
        |  CAST(sum(cost) AS BIGINT) AS sum_cost,
        |  CAST(min(key) AS BIGINT) AS min_key
        |FROM cheap GROUP BY m ORDER BY m""".stripMargin,

    "q262_mor_sql_delete" ->
      """WITH src AS (
        |  SELECT o_orderkey AS okey,
        |         CAST(FLOOR(o_totalprice) AS BIGINT) AS price,
        |         CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS mon
        |  FROM orders
        |  WHERE year(CAST(o_orderdate AS DATE)) IN (1995, 1996)),
        |live AS (SELECT * FROM src
        |  WHERE NOT (price >= 400000) AND NOT (mon = 7))
        |SELECT mon, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(price) AS BIGINT) AS sum_price,
        |  CAST(min(okey) AS BIGINT) AS min_okey
        |FROM live GROUP BY mon ORDER BY mon""".stripMargin,

    "q263_column_defaults" ->
      """WITH src AS (
        |  SELECT o_orderkey AS okey,
        |         CAST(FLOOR(o_totalprice) AS BIGINT) AS price,
        |         CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS mon,
        |         year(CAST(o_orderdate AS DATE)) AS yr
        |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) IN (1995, 1996, 1997)),
        |tiered AS (
        |  SELECT okey, price, mon,
        |    CASE WHEN yr IN (1995, 1996) THEN 'standard' ELSE 'express' END AS tier
        |  FROM src),
        |live AS (SELECT * FROM tiered
        |  WHERE NOT (tier = 'standard' AND mon = 2))
        |SELECT tier, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(price) AS BIGINT) AS sum_price,
        |  CAST(min(okey) AS BIGINT) AS min_okey
        |FROM live GROUP BY tier ORDER BY tier""".stripMargin,

    "q264_mor_update_merge" ->
      """WITH y95 AS (
        |  SELECT o_orderkey AS okey,
        |         CAST(FLOOR(o_totalprice) AS BIGINT) AS price0,
        |         CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS mon
        |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1995),
        |final95 AS (
        |  SELECT okey,
        |    CASE WHEN mon = 6 THEN price0 * 2
        |         WHEN mon <= 3 THEN price0 + 1000
        |         ELSE price0 END AS price, mon
        |  FROM y95),
        |y96 AS (
        |  SELECT o_orderkey AS okey,
        |         CAST(FLOOR(o_totalprice) AS BIGINT) AS price,
        |         CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS mon
        |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1996),
        |live AS (SELECT * FROM final95 UNION ALL SELECT * FROM y96)
        |SELECT mon, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(price) AS BIGINT) AS sum_price,
        |  CAST(min(okey) AS BIGINT) AS min_okey
        |FROM live GROUP BY mon ORDER BY mon""".stripMargin,

    "q265_tombstone_audit" ->
      """WITH src AS (
        |  SELECT l_orderkey AS k, l_partkey AS pk,
        |    CAST(FLOOR(l_quantity) AS BIGINT) AS qty
        |  FROM lineitem WHERE l_orderkey % 5 = 0),
        |kinds AS (
        |  SELECT 'PARQUET' AS delete_file_format,
        |    CAST(count(*) AS BIGINT) AS n_deleted_rows
        |  FROM src WHERE qty < 5
        |  UNION ALL
        |  SELECT 'PUFFIN', CAST(count(*) AS BIGINT)
        |  FROM src WHERE qty >= 5 AND pk < 1000)
        |SELECT delete_file_format, n_deleted_rows FROM kinds
        |ORDER BY delete_file_format""".stripMargin,

    "q266_wap_id_publish" ->
      """WITH src AS (
        |  SELECT o_orderkey AS okey,
        |         CAST(FLOOR(o_totalprice) AS BIGINT) AS price,
        |         CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS mon
        |  FROM orders
        |  WHERE year(CAST(o_orderdate AS DATE)) IN (1995, 1996))
        |SELECT mon, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(price) AS BIGINT) AS sum_price,
        |  CAST(min(okey) AS BIGINT) AS min_okey
        |FROM src GROUP BY mon ORDER BY mon""".stripMargin,

    "q267_dynamic_overwrite" ->
      """WITH src AS (
        |  SELECT o_orderkey AS okey,
        |         CAST(FLOOR(o_totalprice) AS BIGINT) AS price,
        |         CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS mon,
        |         year(CAST(o_orderdate AS DATE)) AS yr
        |  FROM orders),
        |live AS (
        |  SELECT okey, price, mon FROM src
        |  WHERE (yr = 1995 AND mon NOT IN (3, 4))
        |     OR (yr = 1996 AND mon IN (3, 4)))
        |SELECT mon, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(price) AS BIGINT) AS sum_price,
        |  CAST(min(okey) AS BIGINT) AS min_okey
        |FROM live GROUP BY mon ORDER BY mon""".stripMargin,

    "q268_atomic_rtas" ->
      """WITH src AS (
        |  SELECT o_orderkey AS okey,
        |         CAST(FLOOR(o_totalprice) AS BIGINT) AS price,
        |         CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS mon
        |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1996)
        |SELECT mon, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(price) AS BIGINT) AS sum_price,
        |  CAST(min(okey) AS BIGINT) AS min_okey
        |FROM src GROUP BY mon ORDER BY mon""".stripMargin,

    "q269_embedding_decontamination" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS v
        |  FROM embeddings),
        |bench AS (
        |  SELECT vec_id, v,
        |    sqrt(list_sum(list_apply(range(1, len(v) + 1),
        |      i -> v[i] * v[i]))) AS bnrm
        |  FROM e WHERE vec_id < 20),
        |bhat AS (
        |  SELECT vec_id, list_apply(range(1, len(v) + 1),
        |    i -> v[i] / bnrm) AS b
        |  FROM bench),
        |corpus AS (
        |  SELECT vec_id, v FROM e WHERE vec_id >= 20
        |  UNION ALL
        |  SELECT vec_id + 900000, list_transform(v, x -> x * 2.0)
        |  FROM e WHERE vec_id < 20 AND vec_id % 4 = 0),
        |scored AS (
        |  SELECT c.vec_id,
        |    round(max(
        |      list_sum(list_apply(range(1, len(c.v) + 1),
        |        i -> c.v[i] * b.b[i]))
        |      / sqrt(list_sum(list_apply(range(1, len(c.v) + 1),
        |        i -> c.v[i] * c.v[i])))), 4) AS maxcos
        |  FROM corpus c CROSS JOIN bhat b GROUP BY c.vec_id),
        |flagged AS (
        |  SELECT vec_id,
        |    CASE WHEN maxcos >= 0.999 THEN 'contaminated'
        |         ELSE 'clean' END AS status
        |  FROM scored)
        |SELECT status, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(vec_id) AS BIGINT) AS min_vec,
        |  CAST(max(vec_id) AS BIGINT) AS max_vec
        |FROM flagged GROUP BY status ORDER BY status""".stripMargin)
}
