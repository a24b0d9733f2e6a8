package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 batch 2: the v2 WRITE path end-to-end (MERGE upsert via
  * equality deletes, write-audit-publish branch staging), the Iceberg
  * metadata-tables inspection surface, parquet field-id schema
  * evolution, a char-entropy quality gate, and a bucketed
  * storage-co-located join whose plan is asserted shuffle-free.
  *
  * Oracle-parity conventions as in [[Queries]]: identical aliases both
  * sides, per-row FLOOR before integer sums (never a cross-engine
  * double sum), one final division for any double, full ORDER BY
  * tie-breaks.
  */
/** Portable Morton interleave as pure %-and-compare SQL — ONE term
  * generator feeds both the Spark `expr` and the DuckDB oracle, so the
  * z-order tiles in q191 are bit-identical cross-engine (the native
  * [[graft.sources.ZOrderLayout]] kernel is the scale path; this is its
  * oracle-visible arithmetic twin). */
private[operators] object MortonSql {
  /** Interleave two 6-bit coordinates: Σ bit_i(x)·4^i + bit_i(y)·2·4^i. */
  def interleave6(x: String, y: String): String =
    (0 until 6).flatMap { i =>
      val lo = 1L << i; val hi = 1L << (i + 1)
      Seq(
        s"(CASE WHEN $x % $hi >= $lo THEN ${1L << (2 * i)} ELSE 0 END)",
        s"(CASE WHEN $y % $hi >= $lo THEN ${2L << (2 * i)} ELSE 0 END)")
    }.mkString(" + ")
}

object Queries12 {

  private def t(dir: String, name: String)(implicit s: SparkSession): DataFrame =
    Rel.t(dir, name)

  /** 26 letters + space: the char-entropy alphabet (q187/q200).
    * Everything outside it is ignored on BOTH engines, so the gate is
    * total. */
  private val Alphabet: Seq[Char] = ('a' to 'z') :+ ' '

  /** Write `df` as an identity-partitioned layout table in ONE Spark
    * job: rows are clustered by `partCol` (hive-style dirs via a
    * shadow column, so the real column STAYS in the files — Iceberg's
    * identity layout), every file gets its partition value in the
    * manifest, and the table declares `identity(partCol)` as its spec.
    * Returns nothing; the table at `tbl` is ready for the connector's
    * KeyGroupedPartitioning reporting. */
  private def writeIdentityPartitioned(s: SparkSession, tbl: java.io.File,
      df: DataFrame, partCol: String, fieldId: Int, nParts: Int): Unit = {
    import graft.sources.IcebergLayoutWriter
    val dataDir = new java.io.File(tbl, "data"); dataDir.mkdirs()
    val tmp = new java.io.File(tbl, "staging")
    df.withColumn("__p", col(partCol))
      .repartition(nParts, col("__p"))
      .write.partitionBy("__p").parquet(tmp.getPath)
    val entries = tmp.listFiles().toSeq
      .filter(d => d.isDirectory && d.getName.startsWith("__p="))
      .sortBy(_.getName)
      .flatMap { d =>
        val v = d.getName.stripPrefix("__p=").toLong
        d.listFiles().toSeq
          .filter(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet")).sortBy(_.getName)
          .map { f =>
            val dest = new java.io.File(dataDir, s"p$v-${f.getName}")
            java.nio.file.Files.move(f.toPath, dest.toPath,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(dest.getAbsolutePath),
              s.sparkContext.hadoopConfiguration)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            val n = try r.getRecordCount finally r.close()
            IcebergLayoutWriter.ManifestEntrySpec(status = 1, content = 0,
              filePath = dest.getAbsolutePath, recordCount = n,
              sizeBytes = dest.length(), sequenceNumber = 1L,
              partition = Seq(partCol -> v))
          }
      }
    org.apache.commons.io.FileUtils.deleteQuietly(tmp)
    IcebergLayoutWriter.writeTable(tbl, entries,
      partitionSpec = Seq((partCol, "identity", fieldId)))
  }

  /** (n, h_mnats) columns of the q187 entropy score over `text` — ONE
    * definition feeds q187 and the q200 release gate. */
  private def entropyCols: (Column, Column) = {
    // ONE native codegen'd pass over the text computes the whole
    // 27-char histogram and both entropy ingredients (guide §4: native
    // kernel in the hot path) — the per-char length(regexp_replace)
    // histogram cost 27 regex passes per row and was the dominant cost
    // of q187 and q200's ingest scoring; values are bit-identical
    // (same floor∘log∘·1e6 per count, same Σ).
    val parts = graft.functions.TextHashExprs.charEntropyParts(col("text"))
    (parts.getItem(0), parts.getItem(1))
  }

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- MERGE-style upsert through the REAL v2 write path: base rows
    // land as a data file at sequence 1; LayoutMaintenance.commitUpsert
    // writes the update set as ONE new data file + ONE equality-delete
    // file on the key at sequence 2 (the spec's strict-< eq-delete
    // visibility makes that exactly MERGE: stale versions die, the new
    // file survives, unseen keys are pure inserts); MorRead.readTable
    // applies the tombstones and the per-nation rollup of the merged
    // state is hash-gated against DuckDB computing textbook MERGE
    // semantics (updates ∪ base-minus-updated). At 100 TB the commit
    // costs O(update set): the table's existing files are carried by
    // identity in metadata, no data rewrite — that is the entire point
    // of merge-on-read upserts.
    "q183_merge_upsert" -> { (s, dir) => implicit val sp = s
      import graft.sources.{IcebergLayoutWriter, LayoutMaintenance, MorRead}
      val base = t(dir, "customer").filter(col("c_custkey") % 3 =!= 0)
        .select(col("c_custkey"), col("c_nationkey"),
          floor(col("c_acctbal")).cast("long").as("bal"))
      val updates = t(dir, "orders")
        .filter(year(col("o_orderdate")) === 1995)
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg((sum(floor(col("o_totalprice")).cast("long")) / lit(100L))
          .cast("long").as("bal"))
        .join(t(dir, "customer").select(col("c_custkey"), col("c_nationkey")),
          Seq("c_custkey"))
        .select(col("c_custkey"), col("c_nationkey"), col("bal"))
      val tbl = TmpFixture.dir("q183", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(tbl)
      val dataDir = new java.io.File(tbl, "data"); dataDir.mkdirs()
      val bf = new java.io.File(dataDir, "base.parquet")
      val nBase = IcebergLayoutWriter.writeSingleParquet(
        IcebergLayoutWriter.sortedSingle(base, col("c_custkey")), bf)
      IcebergLayoutWriter.writeTable(tbl, Seq(
        IcebergLayoutWriter.ManifestEntrySpec(status = 1, content = 0,
          filePath = bf.getAbsolutePath, recordCount = nBase,
          sizeBytes = bf.length(), sequenceNumber = 1L)))
      val (snapId, nUp) = LayoutMaintenance.commitUpsert(
        s, tbl.getPath, updates, Seq("c_custkey"))
      require(snapId == 2L && nUp > 0, s"upsert commit broke: $snapId/$nUp")
      MorRead.readTable(s, tbl.getPath, Seq("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_customers"), sum(col("bal")).as("sum_bal"))
        .orderBy(col("c_nationkey"))
    },

    // ---- write-audit-publish (Iceberg's WAP / branch commits): the
    // 1996 delta is STAGED on branch `audit` (snapshot appended, head
    // unmoved — LayoutMaintenance.stageAppend), audited by reading the
    // branch ref, then PUBLISHED by fast-forwarding main. The output
    // pins the isolation property itself: the head's file set between
    // stage and publish ('staged_head') must equal 'base' — a reader
    // never sees unaudited data — and 'published' must equal the
    // audited branch. All four phases are metadata-only reads
    // (MetadataTables.files is the distributed manifest scan); nothing
    // below file grain ever moves, which is why WAP is free at 100 TB.
    "q184_wap_publish" -> { (s, dir) => implicit val sp = s
      import graft.sources.{IcebergLayoutWriter, IcebergManifestSource,
        LayoutMaintenance, MetadataTables}
      import graft.sources.IcebergLayoutWriter.ManifestEntrySpec
      def monthFiles(yr: Int) = t(dir, "orders")
        .filter(year(col("o_orderdate")) === yr)
        .groupBy(month(col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("rc"),
          sum((col("o_orderkey") % 997).cast("long")).as("w"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      def entries(yr: Int, seq: Long) = monthFiles(yr).toSeq.map { case (m, rc, w) =>
        ManifestEntrySpec(status = 1, content = 0,
          filePath = s"data/y$yr-m$m.parquet",
          partition = Seq("o_month" -> m), recordCount = rc,
          sizeBytes = (w + 50L * rc) * 1024L, sequenceNumber = seq)
      }
      val tbl = TmpFixture.dir("q184", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(tbl)
      IcebergLayoutWriter.writeTable(tbl, entries(1995, 1L),
        snapshotId = 1L)
      val staged = LayoutMaintenance.stageAppend(
        s, tbl.getPath, entries(1996, 2L), branch = "audit")
      val headDuringAudit = MetadataTables.files(s, tbl.getPath)
      val branchId = IcebergManifestSource.refSnapshotId(s, tbl.getPath, "audit")
        .getOrElse(sys.error("audit ref missing"))
      require(branchId == staged, s"audit ref points at $branchId, staged $staged")
      val branchView = MetadataTables.files(s, tbl.getPath, Some(branchId))
      // the audit gate: every staged file carries rows (a real pipeline
      // would run its quality battery here, against the branch ref)
      require(branchView.filter(col("record_count") <= 0).isEmpty,
        "audit failed: staged snapshot has an empty file")
      val published = LayoutMaintenance.fastForward(s, tbl.getPath, from = "audit")
      require(published == staged, s"publish moved to $published, staged $staged")
      def phase(name: String, df: DataFrame) = df
        .agg(count(lit(1)).as("n_files"), sum(col("record_count")).as("n_rows"))
        .select(lit(name).as("phase"), col("n_files"), col("n_rows"))
      phase("1_base", MetadataTables.files(s, tbl.getPath, Some(1L)))
        .unionAll(phase("2_staged_head", headDuringAudit))
        .unionAll(phase("3_audit_branch", branchView))
        .unionAll(phase("4_published", MetadataTables.files(s, tbl.getPath)))
        .orderBy(col("phase"))
    },

    // ---- the metadata-tables inspection surface (`$partitions` here,
    // `$snapshots`/`$refs`/`$history` pinned by requires + spec): a
    // two-snapshot month-partitioned layout with a position-delete file
    // in the second commit; the partitions rollup — file/record/size
    // sums plus delete-file counts per partition — is computed by
    // MetadataTables.partitions from the distributed manifest scan and
    // hash-gated against DuckDB re-deriving every cell from the fixture
    // arithmetic. Planning-time observability at 100 TB IS this table:
    // a skew hunt reads manifest-sized metadata, never the data.
    "q185_metadata_tables" -> { (s, dir) => implicit val sp = s
      import graft.sources.{IcebergLayoutWriter, MetadataTables}
      import graft.sources.IcebergLayoutWriter.ManifestEntrySpec
      val files = t(dir, "orders")
        .groupBy(month(col("o_orderdate")).as("m"),
          (col("o_orderkey") % 3).cast("int").as("sub"))
        .agg(count(lit(1)).as("rc"),
          sum((col("o_custkey") % 499).cast("long")).as("w"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .sortBy(x => (x._1, x._2))
      def entry(m: Int, sub: Int, rc: Long, w: Long, seq: Long) =
        ManifestEntrySpec(status = 1, content = 0,
          filePath = s"data/m$m-s$sub.parquet",
          partition = Seq("o_month" -> m), recordCount = rc,
          sizeBytes = (w + 25L * rc) * 512L, sequenceNumber = seq)
      val s1 = files.filter(_._2 < 2).map { case (m, sub, rc, w) =>
        entry(m, sub, rc, w, 1L) }
      val s2 = files.map { case (m, sub, rc, w) => entry(m, sub, rc, w, 2L) }
      val posDels = files.map(_._1).distinct.sorted.filter(_ % 2 == 0).map { m =>
        ManifestEntrySpec(status = 1, content = 1,
          filePath = s"data/posdel-m$m.parquet",
          partition = Seq("o_month" -> m), recordCount = 7L,
          sizeBytes = 4096L, sequenceNumber = 2L)
      }
      val tbl = TmpFixture.dir("q185", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(tbl)
      IcebergLayoutWriter.writeTableSnapshots(tbl,
        Seq(1L -> s1.toSeq, 2L -> (s2 ++ posDels).toSeq),
        refs = Map("main" -> (2L, "branch"), "v1" -> (1L, "tag")))
      // the sibling tables, pinned in-query (spec-grade invariants; the
      // hash-gated relation below is $partitions)
      val snaps = MetadataTables.snapshots(s, tbl.getPath)
        .orderBy(col("ordinal")).collect()
      require(snaps.length == 2 &&
        snaps(1).getAs[Boolean]("is_current") &&
        !snaps(0).getAs[Boolean]("is_current"),
        "snapshots table: wrong history or current flag")
      val refRows = MetadataTables.refs(s, tbl.getPath).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).sortBy(_._1)
      require(refRows.toSeq == Seq(("main", 2L, "branch"), ("v1", 1L, "tag")),
        s"refs table broke: ${refRows.toSeq}")
      require(MetadataTables.history(s, tbl.getPath)
        .filter(col("is_current_ancestor")).count() == 2L, "history table broke")
      MetadataTables.partitions(s, tbl.getPath)
        .withColumn("o_month",
          get_json_object(col("partition"), "$.o_month").cast("int"))
        .select(col("o_month"), col("file_count"), col("record_count"),
          col("total_size"), col("position_delete_file_count").as("n_posdel"),
          col("equality_delete_file_count").as("n_eqdel"))
        .orderBy(col("o_month"))
    },

    // ---- schema evolution resolved by parquet FIELD IDS (the Iceberg
    // column-resolution rule, riding Spark's native
    // spark.sql.parquet.fieldId.{write,read} support — no custom reader):
    // file A is written under schema v1 (pk:1, sz:2), file B under v2
    // where field 2 was RENAMED sz→psize and field 3 (brand) was added.
    // Reading both through the v2 schema with field-id matching maps
    // A.sz→psize by id 2 and null-fills brand — exactly how an engine
    // reads a table whose ALTERs never rewrote old files. The builder
    // proves the rename is real (reading A by NAME yields `sz`). The
    // rollup over the union is hash-gated against DuckDB reconstructing
    // both schema generations arithmetically. At 100 TB: resolution is
    // per-file reader wiring — zero data movement, the old files are
    // never rewritten.
    "q186_schema_evolution" -> { (s, dir) => implicit val sp = s
      import org.apache.spark.sql.types._
      def fid(id: Int) = new MetadataBuilder().putLong("parquet.field.id", id).build()
      val part = t(dir, "part")
      val tbl = TmpFixture.dir("q186", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(tbl); tbl.mkdirs()
      val fa = new java.io.File(tbl, "v1").getAbsolutePath
      val fb = new java.io.File(tbl, "v2").getAbsolutePath
      def withIds(df: DataFrame, ids: Seq[(String, Int)]): DataFrame = {
        val st = StructType(df.schema.zip(ids).map { case (f, (nm, id)) =>
          f.copy(name = nm, metadata = fid(id)) })
        s.createDataFrame(df.rdd, st)
      }
      withIds(part.filter(col("p_partkey") % 2 === 0)
          .select(col("p_partkey"), col("p_size").cast("int")),
        Seq("pk" -> 1, "sz" -> 2))
        .repartition(1).sortWithinPartitions(col("pk"))
        .write.mode("overwrite").parquet(fa)
      withIds(part.filter(col("p_partkey") % 2 === 1)
          .select(col("p_partkey"), (col("p_size") + 1000).cast("int"),
            col("p_brand")),
        Seq("pk" -> 1, "psize" -> 2, "brand" -> 3))
        .repartition(1).sortWithinPartitions(col("pk"))
        .write.mode("overwrite").parquet(fb)
      // the rename is real: by NAME, file A has no `psize`
      require(s.read.parquet(fa).columns.toSeq == Seq("pk", "sz"),
        "v1 file schema drifted")
      // field-id matching only engages when the REQUESTED schema carries
      // ids, so leaving it enabled never disturbs name-matched reads
      s.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
      val v2Schema = StructType(Seq(
        StructField("pk", LongType, nullable = true, fid(1)),
        StructField("psize", IntegerType, nullable = true, fid(2)),
        StructField("brand", StringType, nullable = true, fid(3))))
      s.read.schema(v2Schema).parquet(fa, fb)
        .groupBy(coalesce(col("brand"), lit("<pre-evolution>")).as("brand"))
        .agg(count(lit(1)).as("n_parts"), sum(col("psize")).as("sum_psize"),
          min(col("pk")).as("min_pk"), max(col("pk")).as("max_pk"))
        .orderBy(col("brand"))
    },

    // ---- char-entropy quality gate (the compression-proxy signal
    // pretraining filters use next to q25's ratio battery): per-doc
    // Shannon entropy over the 27-char alphabet in EXACT INTEGER
    // micro-nats — H = ln N − (Σ n_c·ln n_c)/N with every ln floored to
    // a long ONCE per (doc, char) term, so the score is
    // partitioning-proof (q182's discipline). The histogram is computed
    // ROW-LOCALLY via 27 length(replace(...)) terms — no per-char
    // explode, no shuffle: the whole query is one codegen'd map over
    // the corpus plus the final sort. Low-entropy docs (repeated-token
    // degenerate text) gate out; the threshold comparison is pure
    // integer.
    "q187_char_entropy" -> { (s, dir) => implicit val sp = s
      val (nTotal, s1) = entropyCols
      t(dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"), nTotal.as("n"), s1.as("s1"))
        .filter(col("n") > 0L)
        .select(col("doc_id"), col("source"), col("n"),
          (floor(log(col("n").cast("double")) * lit(1e6)).cast("long")
            - expr("s1 div n")).as("h_mnats"))
        .withColumn("keep", col("h_mnats") >= lit(2600000L))
        .orderBy(col("doc_id"))
    },

    // ---- full CRUD + EXECUTED rewrite_data_files: base commit, MERGE
    // upsert (q183's machinery), a DELETE-only commit (eq-tombstones
    // with no replacement rows — LayoutMaintenance.commitDelete), then
    // the data-moving compaction commitCompaction deliberately is not:
    // rewriteDataFiles reads the table merge-on-read, writes the
    // surviving rows fresh, and commits a snapshot with ZERO delete
    // files — read-before == read-after while every future read's plan
    // loses its tombstone anti joins. The requires pin the physical
    // shape (4 commits; exactly one data file and no tombstones after);
    // the DuckDB oracle recomputes UPDATE ∘ INSERT ∘ DELETE from the
    // part table, so the whole CRUD+compaction loop is hash-gated.
    "q192_rewrite_data_files" -> { (s, dir) => implicit val sp = s
      import graft.sources.{IcebergLayoutWriter, LayoutMaintenance, MorRead}
      val part = t(dir, "part")
      val base = part.filter(col("p_partkey") % 4 =!= 3)
        .select(col("p_partkey").as("k"), col("p_brand").as("b"),
          floor(col("p_retailprice")).cast("long").as("price"))
      val updates = part.filter(col("p_size") > 25)
        .select(col("p_partkey").as("k"), col("p_brand").as("b"),
          (floor(col("p_retailprice")).cast("long") + 10000L).as("price"))
      val tbl = TmpFixture.dir("q192", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(tbl)
      val dataDir = new java.io.File(tbl, "data"); dataDir.mkdirs()
      val bf = new java.io.File(dataDir, "base.parquet")
      val nBase = IcebergLayoutWriter.writeSingleParquet(
        IcebergLayoutWriter.sortedSingle(base, col("k")), bf)
      IcebergLayoutWriter.writeTable(tbl, Seq(
        IcebergLayoutWriter.ManifestEntrySpec(status = 1, content = 0,
          filePath = bf.getAbsolutePath, recordCount = nBase,
          sizeBytes = bf.length(), sequenceNumber = 1L)))
      LayoutMaintenance.commitUpsert(s, tbl.getPath, updates, Seq("k"))
      LayoutMaintenance.commitDelete(s, tbl.getPath,
        part.filter(col("p_partkey") % 10 === 0)
          .select(col("p_partkey").as("k")), Seq("k"))
      val (snap, _, before, after) =
        LayoutMaintenance.rewriteDataFiles(s, tbl.getPath, Seq("k"))
      require(snap == 4L && before == 2 && after == 1,
        s"rewrite shape broke: snap=$snap files $before->$after")
      val left = graft.sources.IcebergManifestSource
        .statsFromTableDir(s, tbl.getPath, "t", Nil)
        .groupBy(col("content")).count().collect()
        .map(r => (r.getInt(0), r.getLong(1))).toMap
      require(left == Map(0 -> 1L), s"tombstones survived the rewrite: $left")
      MorRead.readTable(s, tbl.getPath, Seq("k"))
        .groupBy(col("b").as("p_brand"))
        .agg(count(lit(1)).as("n_parts"), sum(col("price")).as("sum_price"))
        .orderBy(col("p_brand"))
    },

    // ---- predicate DELETE via POSITION tombstones (the other
    // row-level-delete write kind; q183/q192 exercise equality): a
    // two-file table takes `commitDeleteWhere(price < 50000 OR urgent)`
    // — the predicate runs over MorRead.readTableLineage, and exactly
    // the matching (file_path, pos) pairs land as ONE sorted
    // position-delete file (spec order: file, then position). The
    // read-back rollup is hash-gated against DuckDB's DELETE-WHERE
    // arithmetic; the requires pin the physical shape (one pos-delete
    // file, both data files still carried). At 100 TB the predicate
    // scan is an ordinary distributed read and only matched POSITIONS
    // move — a DELETE touching 0.1% of rows writes 0.1%-sized
    // tombstones, no data rewrite.
    "q193_delete_where" -> { (s, dir) => implicit val sp = s
      import graft.sources.{IcebergLayoutWriter, LayoutMaintenance, MorRead}
      val base = t(dir, "orders").filter(col("o_orderkey") % 50 < 3)
        .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
          floor(col("o_totalprice")).cast("long").as("price"),
          (col("o_orderkey") % 2).as("fid"))
      val tbl = TmpFixture.dir("q193", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(tbl)
      val dataDir = new java.io.File(tbl, "data"); dataDir.mkdirs()
      // the two slice writes are independent jobs — overlap them
      // (guide §2.6); entry order in the manifest is unchanged
      val entries = Overlap.all(s)(Seq(0, 1).map { f => () =>
        val df = new java.io.File(dataDir, s"f$f.parquet")
        val n = IcebergLayoutWriter.writeSingleParquet(IcebergLayoutWriter.sortedSingle(
          base.filter(col("fid") === f).drop("fid"), col("k")), df)
        IcebergLayoutWriter.ManifestEntrySpec(status = 1, content = 0,
          filePath = df.getAbsolutePath, recordCount = n,
          sizeBytes = df.length(), sequenceNumber = 1L)
      }: _*)
      IcebergLayoutWriter.writeTable(tbl, entries)
      val (snap, nDel) = LayoutMaintenance.commitDeleteWhere(s, tbl.getPath,
        col("price") < 50000L || col("prio") === "1-URGENT")
      require(snap == 2L && nDel > 0, s"delete-where broke: $snap/$nDel")
      val shape = graft.sources.IcebergManifestSource
        .statsFromTableDir(s, tbl.getPath, "t", Nil)
        .groupBy(col("content")).count().collect()
        .map(r => (r.getInt(0), r.getLong(1))).toMap
      require(shape == Map(0 -> 2L, 1 -> 1L),
        s"expected 2 data + 1 pos-delete file, got $shape")
      MorRead.readTable(s, tbl.getPath)
        .groupBy(col("prio"))
        .agg(count(lit(1)).as("n_orders"), sum(col("price")).as("sum_price"))
        .orderBy(col("prio"))
    },

    // ---- commit audit trail: per-snapshot added/removed file and row
    // deltas DERIVED from metadata alone (the `$snapshots` summary a
    // real engine would store, recomputed here so it can never lie):
    // over a 4-commit CRUD history (base append → MERGE upsert →
    // eq-DELETE → rewrite_data_files) the audit runs changesBetween on
    // each consecutive snapshot pair — N-1 manifest-sized diffs in one
    // DAG, zero data I/O — and the resulting trail (which commit added
    // what, which rewrote everything) is hash-gated against DuckDB
    // re-deriving every delta from the customer/orders arithmetic.
    "q194_commit_audit" -> { (s, dir) => implicit val sp = s
      import graft.sources.{IcebergLayoutWriter, IcebergManifestSource, LayoutMaintenance}
      val base = t(dir, "customer").filter(col("c_custkey") % 3 =!= 0)
        .select(col("c_custkey"), col("c_nationkey"),
          floor(col("c_acctbal")).cast("long").as("bal"))
      val updates = t(dir, "orders")
        .filter(year(col("o_orderdate")) === 1995)
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg((sum(floor(col("o_totalprice")).cast("long")) / lit(100L))
          .cast("long").as("bal"))
        .join(t(dir, "customer").select(col("c_custkey"), col("c_nationkey")),
          Seq("c_custkey"))
        .select(col("c_custkey"), col("c_nationkey"), col("bal"))
      val tbl = TmpFixture.dir("q194", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(tbl)
      val dataDir = new java.io.File(tbl, "data"); dataDir.mkdirs()
      val bf = new java.io.File(dataDir, "base.parquet")
      val nBase = IcebergLayoutWriter.writeSingleParquet(
        IcebergLayoutWriter.sortedSingle(base, col("c_custkey")), bf)
      IcebergLayoutWriter.writeTable(tbl, Seq(
        IcebergLayoutWriter.ManifestEntrySpec(status = 1, content = 0,
          filePath = bf.getAbsolutePath, recordCount = nBase,
          sizeBytes = bf.length(), sequenceNumber = 1L)))
      LayoutMaintenance.commitUpsert(s, tbl.getPath, updates, Seq("c_custkey"))
      LayoutMaintenance.commitDelete(s, tbl.getPath,
        t(dir, "customer").filter(col("c_custkey") % 7 === 0)
          .select(col("c_custkey")), Seq("c_custkey"))
      LayoutMaintenance.rewriteDataFiles(s, tbl.getPath, Seq("c_custkey"))
      val ids = LayoutMaintenance.snapshotIds(s, tbl.getPath)
      require(ids == Seq(1L, 2L, 3L, 4L), s"history broke: $ids")
      def delta(ord: Int, from: Long, to: Long) =
        IcebergManifestSource.changesBetween(s, tbl.getPath, "t", from, to)
          .agg(
            sum(when(col("change") === "added" && col("content") === 0, 1L)
              .otherwise(0L)).as("files_added"),
            sum(when(col("change") === "removed" && col("content") === 0, 1L)
              .otherwise(0L)).as("files_removed"),
            sum(when(col("change") === "added" && col("content") =!= 0, 1L)
              .otherwise(0L)).as("tombstones_added"),
            coalesce(sum(when(col("change") === "added" && col("content") === 0,
              col("record_count"))), lit(0L)).as("rows_added"),
            coalesce(sum(when(col("change") === "removed" && col("content") === 0,
              col("record_count"))), lit(0L)).as("rows_removed"))
          .select(lit(ord).as("ordinal"), col("files_added"),
            col("files_removed"), col("tombstones_added"),
            col("rows_added"), col("rows_removed"))
      val first = IcebergManifestSource
        .statsFromTableDir(s, tbl.getPath, "t", Nil, Some(1L))
        .agg(sum(when(col("content") === 0, 1L).otherwise(0L)).as("files_added"),
          lit(0L).as("files_removed"), lit(0L).as("tombstones_added"),
          coalesce(sum(when(col("content") === 0, col("record_count"))), lit(0L))
            .as("rows_added"), lit(0L).as("rows_removed"))
        .select(lit(1).as("ordinal"), col("files_added"), col("files_removed"),
          col("tombstones_added"), col("rows_added"), col("rows_removed"))
      ids.sliding(2).zipWithIndex.foldLeft(first) {
        case (acc, (Seq(from, to), i)) => acc.unionAll(delta(i + 2, from, to))
      }.orderBy(col("ordinal"))
    },

    // ---- the connector leg: a genuine DataSourceV2
    // (`format("graft-iceberg")`, [[graft.sources.v2.GraftIcebergSource]])
    // reads the written layout — snapshot resolution through the
    // manifest machinery, ONE input partition per data file,
    // manifest-bound FILE SKIPPING in `planInputPartitions` (the require
    // pins it: the filtered scan plans 3 of 8 files — pruning is a plan
    // fact here, not a hope), parquet-level column pruning, residual
    // row-level filters. The aggregate over the pruned scan is
    // hash-gated against DuckDB computing the same bucket arithmetic
    // from raw lineitem. This is how the engine plugs into ordinary
    // `spark.read` at 100 TB: Catalyst sees a Scan whose planning cost
    // is manifest-sized and whose skipped files cost zero I/O.
    "q201_dsv2_scan" -> { (s, dir) => implicit val sp = s
      import graft.sources.IcebergLayoutWriter
      import graft.sources.IcebergLayoutWriter.ManifestEntrySpec
      val base = t(dir, "lineitem")
        .select(col("l_orderkey").as("okey"),
          floor(col("l_extendedprice")).cast("long").as("price"),
          col("l_returnflag").as("flag"),
          least(floor(col("l_extendedprice") / 12000).cast("int"), lit(7))
            .as("b"))
      val tbl = TmpFixture.dir("q201", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(tbl)
      val dataDir = new java.io.File(tbl, "data")
      base.repartition(8, col("b")).sortWithinPartitions(col("b"), col("okey"))
        .write.partitionBy("b").mode("overwrite").parquet(dataDir.getPath)
      val entries = (0 until 8).map { b =>
        val part = new java.io.File(dataDir, s"b=$b").listFiles()
          .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
          .toSeq match {
            case Seq(one) => one
            case many => sys.error(s"expected 1 file for b=$b, got ${many.size}")
          }
        // bucket bounds are exact by construction: bucket b holds
        // prices [12000b, 12000(b+1)) (top bucket open-ended)
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(part.getAbsolutePath),
          s.sparkContext.hadoopConfiguration)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        val n = try r.getRecordCount finally r.close()
        ManifestEntrySpec(status = 1, content = 0,
          filePath = part.getAbsolutePath, recordCount = n,
          sizeBytes = part.length(), sequenceNumber = 1L,
          lower = Map(1 -> IcebergLayoutWriter.boundLong(12000L * b)),
          upper = Map(1 -> IcebergLayoutWriter.boundLong(
            if (b == 7) Long.MaxValue else 12000L * (b + 1) - 1)))
      }
      IcebergLayoutWriter.writeTable(tbl, entries)
      val scan = s.read.format("graft-iceberg")
        .option("pushdown.fields", "price:1:long")
        .load(tbl.getPath)
        .filter(col("price") >= 60000L && col("price") < 96000L)
      val planned = scan.rdd.getNumPartitions
      require(planned == 3, s"file skipping broke: planned $planned of 8 files")
      scan.groupBy(col("flag"))
        .agg(count(lit(1)).as("n_rows"), sum(col("price")).as("sum_price"),
          min(col("price")).as("min_price"), max(col("price")).as("max_price"))
        .orderBy(col("flag"))
    },

    // ---- the connector WRITE→READ loop, hash-gated: two DSv2 appends
    // (1995 orders, then 1996 — each commit is per-task parquet files +
    // one atomic snapshot append, creating the table on the first
    // write) and a DSv2 read back — plus a snapshot-1 time-travel read
    // whose row count must equal the first append (pinned via require;
    // the YEARLY rollup of the full table is the oracle-gated output).
    // What q201 proves for the read path this proves for the write
    // path: the connector's commits are real, ordered, time-travelable
    // metadata.
    "q202_dsv2_write_roundtrip" -> { (s, dir) => implicit val sp = s
      val tbl = TmpFixture.dir("q202", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(tbl)
      def yearDf(yr: Int) = t(dir, "orders")
        .filter(year(col("o_orderdate")) === yr)
        .select(col("o_orderkey").as("okey"),
          floor(col("o_totalprice")).cast("long").as("price"),
          lit(yr.toLong).as("yr"))
      yearDf(1995).write.format("graft-iceberg")
        .option("write.schema", "okey LONG, price LONG, yr LONG")
        .mode("append").save(tbl.getPath)
      yearDf(1996).write.format("graft-iceberg")
        .mode("append").save(tbl.getPath)
      val ids = graft.sources.LayoutMaintenance.snapshotIds(s, tbl.getPath)
      require(ids == Seq(1L, 2L), s"write commits broke: $ids")
      val atFirst = s.read.format("graft-iceberg").option("snapshot-id", "1")
        .load(tbl.getPath).count()
      val n95 = yearDf(1995).count()
      require(atFirst == n95,
        s"snapshot 1 must hold exactly the first append: $atFirst vs $n95")
      s.read.format("graft-iceberg").load(tbl.getPath)
        .groupBy(col("yr"))
        .agg(count(lit(1)).as("n_orders"), sum(col("price")).as("sum_price"))
        .orderBy(col("yr"))
    },

    // ---- the CATALOG entry flow, pure SQL end-to-end: the reference's
    // catalog → dotted-name → table handle chain (manager.py:39-49,
    // 150-152) as a registered Spark TableCatalog. CREATE NAMESPACE /
    // CREATE TABLE / two INSERT INTO statements (each its own snapshot
    // commit — pinned) / SELECT aggregate, all identifier-addressed
    // `<cat>.sales.orders_t`, no path in sight. The same table is then
    // cross-read through the path-addressed connector to prove the two
    // addressing modes share one on-disk truth. At 100 TB the catalog
    // adds zero data-path cost: loadTable reads one descriptor JSON and
    // every scan/commit is the connector's own metadata-sized planning.
    "q203_sql_catalog" -> { (s, dir) => implicit val sp = s
      val wh = TmpFixture.dir("q203wh", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(wh); wh.mkdirs()
      val cat = "graft_" + Integer.toHexString(wh.getAbsolutePath.hashCode)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.getAbsolutePath)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.sales")
      s.sql(s"DROP TABLE IF EXISTS $cat.sales.orders_t")
      s.sql(s"CREATE TABLE $cat.sales.orders_t " +
        "(okey BIGINT, price BIGINT, mon BIGINT) USING `graft-iceberg`")
      t(dir, "orders").createOrReplaceTempView("q203_orders_src")
      def insertYear(yr: Int): Unit = s.sql(
        s"""INSERT INTO $cat.sales.orders_t
           |SELECT o_orderkey, CAST(FLOOR(o_totalprice) AS BIGINT),
           |       CAST(month(o_orderdate) AS BIGINT)
           |FROM q203_orders_src WHERE year(o_orderdate) = $yr""".stripMargin)
      insertYear(1995); insertYear(1996)
      val tblDir = new java.io.File(new java.io.File(wh, "sales"), "orders_t")
      val ids = graft.sources.LayoutMaintenance.snapshotIds(s, tblDir.getPath)
      require(ids == Seq(1L, 2L), s"INSERT commits broke: $ids")
      val listed = s.sql(s"SHOW TABLES IN $cat.sales").collect()
        .map(_.getString(1)).toSeq
      require(listed == Seq("orders_t"), s"SHOW TABLES broke: $listed")
      // path-addressed read of the identifier-created table: one truth
      val viaPath = s.read.format("graft-iceberg").load(tblDir.getPath).count()
      val viaSql = s.sql(s"SELECT count(*) FROM $cat.sales.orders_t")
        .head.getLong(0)
      require(viaPath == viaSql, s"addressing modes disagree: $viaPath vs $viaSql")
      s.sql(s"""SELECT mon, count(*) AS n_orders,
                |  sum(price) AS sum_price, min(okey) AS min_okey
                |FROM $cat.sales.orders_t GROUP BY mon ORDER BY mon""".stripMargin)
    },

    // ---- row-level SQL: `DELETE FROM` through the catalog
    // (SupportsDelete → commitDeleteWhereCow, copy-on-write — the
    // committed snapshot carries NO tombstones, so the connector's
    // append-only scan reads the post-delete truth). The same starting
    // state is built on a twin path-addressed table and deleted through
    // the API; the two end states are pinned equal (except() both ways)
    // before the survivors' profile is hash-gated against DuckDB
    // applying the inverted predicate to raw lineitem. At 100 TB the
    // COW bill is O(affected files) — untouched files carry verbatim,
    // which the spec pins on the multi-file fixture.
    "q204_sql_delete" -> { (s, dir) => implicit val sp = s
      val wh = TmpFixture.dir("q204wh", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(wh); wh.mkdirs()
      val cat = "graft_" + Integer.toHexString(wh.getAbsolutePath.hashCode)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.getAbsolutePath)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.cur")
      s.sql(s"DROP TABLE IF EXISTS $cat.cur.li")
      s.sql(s"CREATE TABLE $cat.cur.li " +
        "(okey BIGINT, price BIGINT, flag STRING) USING `graft-iceberg`")
      val src = t(dir, "lineitem").filter(col("l_orderkey") % 7 === 0)
        .select(col("l_orderkey").as("okey"),
          floor(col("l_extendedprice")).cast("long").as("price"),
          col("l_returnflag").as("flag"))
      src.createOrReplaceTempView("q204_src")
      s.sql(s"INSERT INTO $cat.cur.li SELECT * FROM q204_src WHERE price < 50000")
      s.sql(s"INSERT INTO $cat.cur.li SELECT * FROM q204_src WHERE price >= 50000")
      s.sql(s"DELETE FROM $cat.cur.li WHERE price < 30000 OR flag = 'R'")
      val tblDir = new java.io.File(new java.io.File(wh, "cur"), "li")
      // COW invariant: the post-delete snapshot carries no delete files
      val entries = graft.sources.IcebergManifestSource
        .statsFromTableDir(s, tblDir.getPath, "t", Nil)
        .select("content").collect().map(_.getInt(0))
      require(entries.forall(_ == 0), "COW DELETE must not commit tombstones")
      // API twin from the same starting state ends bit-identical
      val twin = TmpFixture.dir("q204twin", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(twin)
      src.filter(col("price") < 50000).write.format("graft-iceberg")
        .option("write.schema", "okey LONG, price LONG, flag STRING")
        .mode("append").save(twin.getPath)
      src.filter(col("price") >= 50000).write.format("graft-iceberg")
        .mode("append").save(twin.getPath)
      graft.sources.LayoutMaintenance.commitDeleteWhereCow(s, twin.getPath,
        col("price") < 30000 || col("flag") === "R")
      val sqlState = s.sql(s"SELECT okey, price, flag FROM $cat.cur.li")
      val apiState = s.read.format("graft-iceberg").load(twin.getPath)
        .select("okey", "price", "flag")
      require(sqlState.exceptAll(apiState).isEmpty &&
        apiState.exceptAll(sqlState).isEmpty,
        "SQL DELETE and API delete must land the same table state")
      s.sql(s"""SELECT flag, count(*) AS n_rows, sum(price) AS sum_price,
                |  min(okey) AS min_okey, max(okey) AS max_okey
                |FROM $cat.cur.li GROUP BY flag ORDER BY flag""".stripMargin)
    },

    // ---- row-level SQL: `UPDATE … SET` through the catalog
    // (SupportsRowLevelOperations → group-based copy-on-write, the
    // rewrite shape Iceberg's COW mode plans). Catalyst rewrites the
    // statement into ReplaceData over the connector's COW scan; runtime
    // group filtering narrows the rewrite to files that contain matched
    // rows (a first metadata+match pass feeds `_file IN (…)` back into
    // scan planning); the commit swaps exactly the scanned files for the
    // rewritten ones in ONE snapshot. The requires pin the one-commit
    // shape and the tombstone-free invariant; the post-update profile is
    // hash-gated against DuckDB applying the same SET arithmetic. At
    // 100 TB the bill is matched-group I/O — an UPDATE touching one
    // file rewrites one file, not the table.
    "q205_sql_update" -> { (s, dir) => implicit val sp = s
      val wh = TmpFixture.dir("q205wh", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(wh); wh.mkdirs()
      val cat = "graft_" + Integer.toHexString(wh.getAbsolutePath.hashCode)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.getAbsolutePath)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.cur")
      s.sql(s"DROP TABLE IF EXISTS $cat.cur.li")
      s.sql(s"CREATE TABLE $cat.cur.li " +
        "(okey BIGINT, qty BIGINT, price BIGINT, flag STRING) USING `graft-iceberg`")
      t(dir, "lineitem").filter(col("l_orderkey") % 7 === 0)
        .select(col("l_orderkey").as("okey"),
          col("l_quantity").cast("long").as("qty"),
          floor(col("l_extendedprice")).cast("long").as("price"),
          col("l_returnflag").as("flag"))
        .createOrReplaceTempView("q205_src")
      s.sql(s"INSERT INTO $cat.cur.li SELECT * FROM q205_src WHERE price < 50000")
      s.sql(s"INSERT INTO $cat.cur.li SELECT * FROM q205_src WHERE price >= 50000")
      s.sql(s"UPDATE $cat.cur.li SET price = price + 1000, qty = qty * 2 " +
        "WHERE flag = 'R'")
      val tblDir = new java.io.File(new java.io.File(wh, "cur"), "li")
      val ids = graft.sources.LayoutMaintenance.snapshotIds(s, tblDir.getPath)
      require(ids == Seq(1L, 2L, 3L),
        s"UPDATE must land as exactly ONE replace snapshot: $ids")
      val entries = graft.sources.IcebergManifestSource
        .statsFromTableDir(s, tblDir.getPath, "t", Nil)
        .select("content").collect().map(_.getInt(0))
      require(entries.forall(_ == 0), "COW UPDATE must not commit tombstones")
      s.sql(s"""SELECT flag, count(*) AS n_rows, sum(price) AS sum_price,
                |  sum(qty) AS sum_qty, min(okey) AS min_okey
                |FROM $cat.cur.li GROUP BY flag ORDER BY flag""".stripMargin)
    },

    // ---- row-level SQL: `MERGE INTO` through the catalog — the
    // lakehouse upsert statement, group-based COW like q205: matched
    // target rows take the source balance, never-seen source keys insert,
    // untouched target rows carry; Catalyst plans the whole thing as one
    // ReplaceData (matched-group rewrite + insert union) and the commit
    // is ONE snapshot. q183 is the MERGE-ON-READ twin of this statement
    // (API commitUpsert → equality tombstones); this is the COPY-ON-WRITE
    // twin, reachable from plain SQL. The final per-nation profile is
    // hash-gated against DuckDB's FULL OUTER JOIN formulation of the
    // same merge.
    "q206_sql_merge" -> { (s, dir) => implicit val sp = s
      val wh = TmpFixture.dir("q206wh", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(wh); wh.mkdirs()
      val cat = "graft_" + Integer.toHexString(wh.getAbsolutePath.hashCode)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.getAbsolutePath)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.cur")
      s.sql(s"DROP TABLE IF EXISTS $cat.cur.cust")
      s.sql(s"CREATE TABLE $cat.cur.cust " +
        "(ckey BIGINT, nkey BIGINT, bal BIGINT) USING `graft-iceberg`")
      t(dir, "customer").filter(col("c_custkey") % 3 =!= 0)
        .select(col("c_custkey").as("ckey"),
          col("c_nationkey").cast("long").as("nkey"),
          floor(col("c_acctbal")).cast("long").as("bal"))
        .createOrReplaceTempView("q206_base")
      s.sql(s"INSERT INTO $cat.cur.cust SELECT * FROM q206_base WHERE ckey % 2 = 1")
      s.sql(s"INSERT INTO $cat.cur.cust SELECT * FROM q206_base WHERE ckey % 2 = 0")
      t(dir, "customer").filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey").as("ckey"),
          col("c_nationkey").cast("long").as("nkey"),
          (floor(col("c_acctbal")).cast("long") + 500L).as("bal"))
        .createOrReplaceTempView("q206_updates")
      val before = graft.sources.LayoutMaintenance
        .snapshotIds(s, s"${wh.getPath}/cur/cust").size
      s.sql(
        s"""MERGE INTO $cat.cur.cust t
           |USING q206_updates s
           |ON t.ckey = s.ckey
           |WHEN MATCHED THEN UPDATE SET t.bal = s.bal
           |WHEN NOT MATCHED THEN INSERT (ckey, nkey, bal)
           |  VALUES (s.ckey, s.nkey, s.bal)
           |""".stripMargin)
      val after = graft.sources.LayoutMaintenance
        .snapshotIds(s, s"${wh.getPath}/cur/cust").size
      require(after == before + 1, s"MERGE must land as ONE snapshot")
      s.sql(s"""SELECT nkey, count(*) AS n_cust, sum(bal) AS sum_bal,
                |  min(ckey) AS min_ckey, max(ckey) AS max_ckey
                |FROM $cat.cur.cust GROUP BY nkey ORDER BY nkey""".stripMargin)
    },

    // ---- SQL time travel: `VERSION AS OF` / `TIMESTAMP AS OF` through
    // the catalog (TableCatalog.loadTable(ident, version|timestamp) —
    // the read-side half of the snapshot history every commit path
    // maintains). Snapshot 1 holds 1995's orders, snapshot 2 adds
    // 1996's; the query reads BOTH versions in one statement and emits
    // the per-month before/after profile. TIMESTAMP AS OF is pinned
    // in-query against VERSION AS OF (same snapshot via the recorded
    // commit instant). Time travel costs what a current read costs —
    // the pinned snapshot's manifest walk; history depth never taxes
    // the scan.
    "q207_sql_time_travel" -> { (s, dir) => implicit val sp = s
      val wh = TmpFixture.dir("q207wh", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(wh); wh.mkdirs()
      val cat = "graft_" + Integer.toHexString(wh.getAbsolutePath.hashCode)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.getAbsolutePath)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.tt")
      s.sql(s"DROP TABLE IF EXISTS $cat.tt.ord")
      s.sql(s"CREATE TABLE $cat.tt.ord " +
        "(okey BIGINT, price BIGINT, mon BIGINT) USING `graft-iceberg`")
      t(dir, "orders").createOrReplaceTempView("q207_src")
      def insertYear(yr: Int): Unit = s.sql(
        s"""INSERT INTO $cat.tt.ord
           |SELECT o_orderkey, CAST(FLOOR(o_totalprice) AS BIGINT),
           |       CAST(month(o_orderdate) AS BIGINT)
           |FROM q207_src WHERE year(o_orderdate) = $yr""".stripMargin)
      insertYear(1995); insertYear(1996)
      val tblDir = s"${wh.getPath}/tt/ord"
      // TIMESTAMP AS OF at snapshot 1's commit instant == VERSION AS OF 1
      val ts = graft.sources.LayoutMaintenance.snapshotTimestamps(s, tblDir)
      require(ts.map(_._1) == Seq(1L, 2L) && ts.forall(_._2.isDefined),
        s"snapshot history broke: $ts")
      if (ts(1)._2.get > ts(0)._2.get) { // boundary only exists if ticks differ
        val t1 = java.time.Instant.ofEpochMilli(ts.head._2.get)
          .atZone(java.time.ZoneOffset.UTC)
          .format(java.time.format.DateTimeFormatter
            .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
        val viaTs = s.sql(
          s"SELECT count(*) FROM $cat.tt.ord TIMESTAMP AS OF '$t1'")
          .head.getLong(0)
        val viaV = s.sql(s"SELECT count(*) FROM $cat.tt.ord VERSION AS OF 1")
          .head.getLong(0)
        require(viaTs == viaV,
          s"TIMESTAMP AS OF must match VERSION AS OF 1: $viaTs vs $viaV")
      }
      s.sql(s"""SELECT cur.mon, v1.n_orders AS n_v1, cur.n_orders AS n_all,
                |  cur.sum_price - v1.sum_price AS price_added
                |FROM (SELECT mon, count(*) AS n_orders, sum(price) AS sum_price
                |      FROM $cat.tt.ord VERSION AS OF 1 GROUP BY mon) v1
                |JOIN (SELECT mon, count(*) AS n_orders, sum(price) AS sum_price
                |      FROM $cat.tt.ord GROUP BY mon) cur
                |  ON v1.mon = cur.mon
                |ORDER BY cur.mon""".stripMargin)
    },

    // ---- SQL schema evolution: `ALTER TABLE ADD COLUMNS` through the
    // catalog — the declared (descriptor) schema widens, files written
    // BEFORE the evolution stay untouched on disk and their reads
    // null-fill the new column (Iceberg "Schema Evolution": adds are
    // metadata-only, never a rewrite). Year-1995 orders land pre-ALTER
    // (no month column); 1996 lands post-ALTER with it; the profile
    // buckets the pre-evolution rows under mon = -1 via coalesce. The
    // q186 parquet-field-id evolution is the manifest-source twin of
    // this statement; this is the SQL-visible half. At 100 TB an ADD
    // COLUMN costs one descriptor write — zero data I/O.
    "q208_sql_add_column" -> { (s, dir) => implicit val sp = s
      val wh = TmpFixture.dir("q208wh", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(wh); wh.mkdirs()
      val cat = "graft_" + Integer.toHexString(wh.getAbsolutePath.hashCode)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.getAbsolutePath)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.evo")
      s.sql(s"DROP TABLE IF EXISTS $cat.evo.ord")
      s.sql(s"CREATE TABLE $cat.evo.ord " +
        "(okey BIGINT, price BIGINT) USING `graft-iceberg`")
      t(dir, "orders").createOrReplaceTempView("q208_src")
      s.sql(s"""INSERT INTO $cat.evo.ord
               |SELECT o_orderkey, CAST(FLOOR(o_totalprice) AS BIGINT)
               |FROM q208_src WHERE year(o_orderdate) = 1995""".stripMargin)
      val filesBefore = graft.sources.IcebergManifestSource
        .statsFromTableDir(s, s"${wh.getPath}/evo/ord", "t", Nil)
        .select("file_path").collect().map(_.getString(0)).toSet
      s.sql(s"ALTER TABLE $cat.evo.ord ADD COLUMNS (mon BIGINT)")
      s.sql(s"""INSERT INTO $cat.evo.ord
               |SELECT o_orderkey, CAST(FLOOR(o_totalprice) AS BIGINT),
               |       CAST(month(o_orderdate) AS BIGINT)
               |FROM q208_src WHERE year(o_orderdate) = 1996""".stripMargin)
      // evolution is metadata-only: every pre-ALTER file carried verbatim
      val filesAfter = graft.sources.IcebergManifestSource
        .statsFromTableDir(s, s"${wh.getPath}/evo/ord", "t", Nil)
        .select("file_path").collect().map(_.getString(0)).toSet
      require(filesBefore.subsetOf(filesAfter),
        "ADD COLUMN must not rewrite pre-evolution files")
      s.sql(s"""SELECT coalesce(mon, -1) AS mon, count(*) AS n_orders,
                |  sum(price) AS sum_price, min(okey) AS min_okey
                |FROM $cat.evo.ord GROUP BY coalesce(mon, -1)
                |ORDER BY mon""".stripMargin)
    },

    // ---- the remaining DML/DDL statements in one flow: CTAS (CREATE
    // TABLE AS SELECT — non-atomic createTable + first append, Spark's
    // plain-TableCatalog contract), INSERT OVERWRITE (full-table
    // replacement through SupportsOverwrite → the same group-replace
    // commit row-level SQL uses, old snapshots staying time-travelable),
    // and a METADATA TABLE read (`<tbl>.snapshots`, Iceberg's
    // dotted-name metadata relations served as a driver-local scan —
    // planning-cost-only, zero executor tasks). The requires pin the
    // 2-snapshot history and that VERSION AS OF 1 still sees the CTAS
    // state after the overwrite; the final profile is the overwritten
    // (1996) year, hash-gated. At 100 TB an overwrite's bill is the new
    // data + one metadata swap; history costs nothing until expired.
    "q209_sql_overwrite" -> { (s, dir) => implicit val sp = s
      val wh = TmpFixture.dir("q209wh", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(wh); wh.mkdirs()
      val cat = "graft_" + Integer.toHexString(wh.getAbsolutePath.hashCode)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.getAbsolutePath)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.cur")
      s.sql(s"DROP TABLE IF EXISTS $cat.cur.snap")
      t(dir, "orders").createOrReplaceTempView("q209_src")
      s.sql(s"""CREATE TABLE $cat.cur.snap USING `graft-iceberg` AS
               |SELECT o_orderkey AS okey,
               |       CAST(FLOOR(o_totalprice) AS BIGINT) AS price,
               |       CAST(month(o_orderdate) AS BIGINT) AS mon
               |FROM q209_src WHERE year(o_orderdate) = 1995""".stripMargin)
      val n95 = s.sql(s"SELECT count(*) FROM $cat.cur.snap").head.getLong(0)
      s.sql(s"""INSERT OVERWRITE $cat.cur.snap
               |SELECT o_orderkey, CAST(FLOOR(o_totalprice) AS BIGINT),
               |       CAST(month(o_orderdate) AS BIGINT)
               |FROM q209_src WHERE year(o_orderdate) = 1996""".stripMargin)
      // the metadata table pins the commit history: CTAS + overwrite
      val nSnaps = s.sql(s"SELECT count(*) FROM $cat.cur.snap.snapshots")
        .head.getLong(0)
      require(nSnaps == 2L, s"expected CTAS+overwrite history, got $nSnaps")
      // the pre-overwrite state stays time-travelable
      val atV1 = s.sql(s"SELECT count(*) FROM $cat.cur.snap VERSION AS OF 1")
        .head.getLong(0)
      require(atV1 == n95, s"VERSION AS OF 1 must see the CTAS state: $atV1 vs $n95")
      s.sql(s"""SELECT mon, count(*) AS n_orders, sum(price) AS sum_price,
                |  max(okey) AS max_okey
                |FROM $cat.cur.snap GROUP BY mon ORDER BY mon""".stripMargin)
    },

    // ---- the write-side statistics loop, pure SQL: files written by
    // INSERT statements now RECORD per-column bounds in their manifest
    // entries (the declared `pushdown.fields` contract, Appendix-D
    // encodings), `write.sort-order` asks the planner for a range
    // distribution + sort so those bounds come out TIGHT, and carries
    // preserve them commit over commit — so a later identifier read
    // skips files a real Iceberg reader would skip, on a table no API
    // call ever touched. The requires pin bounds-on-every-file, physical
    // sortedness, and actual file skipping (planned partitions < files);
    // the band profile is hash-gated. At 100 TB this is the virtuous
    // loop that makes scans cheap: write clustered, record bounds, prune
    // forever after.
    "q210_sql_sorted_write" -> { (s, dir) => implicit val sp = s
      val wh = TmpFixture.dir("q210wh", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(wh); wh.mkdirs()
      val cat = "graft_" + Integer.toHexString(wh.getAbsolutePath.hashCode)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.getAbsolutePath)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.cur")
      s.sql(s"DROP TABLE IF EXISTS $cat.cur.li")
      s.sql(s"CREATE TABLE $cat.cur.li (okey BIGINT, price BIGINT, qty BIGINT) " +
        "USING `graft-iceberg` TBLPROPERTIES " +
        "('pushdown.fields'='price:2:long', 'write.sort-order'='price')")
      t(dir, "lineitem").filter(col("l_orderkey") % 5 === 0)
        .select(col("l_orderkey").as("okey"),
          floor(col("l_extendedprice")).cast("long").as("price"),
          col("l_quantity").cast("long").as("qty"))
        .createOrReplaceTempView("q210_src")
      s.sql(s"INSERT INTO $cat.cur.li SELECT * FROM q210_src WHERE price < 50000")
      s.sql(s"INSERT INTO $cat.cur.li SELECT * FROM q210_src WHERE price >= 50000")
      val tblDir = s"${wh.getPath}/cur/li"
      val stats = graft.sources.IcebergManifestSource
        .statsFromTableDir(s, tblDir, "t",
          Seq((2, "price", org.apache.spark.sql.types.LongType)))
        .select("file_path", "lo_price", "hi_price").collect()
      require(stats.nonEmpty && stats.forall(r => !r.isNullAt(1) && !r.isNullAt(2)),
        "every SQL-written file must carry price bounds")
      // sorted writes: each file is physically ordered on price
      stats.map(_.getString(0)).foreach { f =>
        val p = s.read.parquet(f).select("price").collect().map(_.getLong(0)).toSeq
        require(p == p.sorted, s"file $f must be sorted by price")
      }
      // bounds-driven skipping, plan-asserted: a low-band predicate must
      // touch fewer files than the table holds
      val planned = s.sql(
        s"SELECT * FROM $cat.cur.li WHERE price < 20000").rdd.getNumPartitions
      require(planned < stats.length,
        s"file skipping must fire: $planned planned vs ${stats.length} files")
      s.sql(s"""SELECT price div 10000 AS band, count(*) AS n_rows,
                |  sum(qty) AS sum_qty, min(okey) AS min_okey
                |FROM $cat.cur.li WHERE price < 20000
                |GROUP BY price div 10000 ORDER BY band""".stripMargin)
    },

    // ---- INCREMENTAL dedup — the production shape of corpus dedup at
    // 100 TB: never re-scan the whole corpus, dedup only what a snapshot
    // ADDED against persisted fingerprint state. The corpus is a real
    // layout table built in two commits; the incremental step reads
    // exactly the files `changesBetween(1, 2)` names (metadata-only
    // planning), anti-joins the new fingerprints against the batch-1
    // winner state (first-seen-wins — arrival order, the true streaming
    // -dedup semantics, NOT global min), and dedups within the new batch.
    // The requires pin the integrity invariants: winner sets are
    // disjoint, and base ∪ incremental covers every distinct content
    // hash exactly once. Per-(lang, origin) winner profile hash-gated
    // against DuckDB's two-phase formulation. Incremental bill: new-file
    // I/O + a state-sized anti-join — O(delta), not O(corpus).
    "q211_incremental_dedup" -> { (s, dir) => implicit val sp = s
      import graft.sources.IcebergManifestSource
      val docs = t(dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), col("lang"), md5(col("text")).as("h"))
      val tbl = TmpFixture.dir("q211", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(tbl)
      docs.filter(col("doc_id") % 3 =!= 0).write.format("graft-iceberg")
        .option("write.schema", "doc_id LONG, lang STRING, h STRING")
        .mode("append").save(tbl.getPath)
      docs.filter(col("doc_id") % 3 === 0).write.format("graft-iceberg")
        .mode("append").save(tbl.getPath)
      // persisted state: batch-1 winners (min doc_id per content hash)
      val state = s.read.format("graft-iceberg").option("snapshot-id", "1")
        .load(tbl.getPath)
        .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
        .localCheckpoint() // the state table: read twice below
      // incremental step: ONLY the files snapshot 2 added
      val addedPaths = IcebergManifestSource
        .changesBetween(s, tbl.getPath, "t", 1L, 2L)
        .filter(col("change") === "added" && col("content") === 0)
        .select("file_path").collect().map(_.getString(0)).toSeq
      require(addedPaths.nonEmpty, "snapshot 2 must have added files")
      val newAccepted = s.read.parquet(addedPaths: _*)
        .join(broadcast(state.select(col("h"))), Seq("h"), "left_anti")
        .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
      val acc = state.withColumn("src", lit("base"))
        .unionByName(newAccepted.withColumn("src", lit("incr")))
        .localCheckpoint()
      // integrity: one winner per distinct content hash, no overlap
      val nAcc = acc.count()
      val nDistinct = docs.select(col("h")).distinct().count()
      require(nAcc == nDistinct,
        s"incremental dedup must cover every hash once: $nAcc vs $nDistinct")
      acc.join(docs, Seq("h", "doc_id"))
        .groupBy(col("lang"), col("src"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
        .orderBy(col("lang"), col("src"))
    },

    // ---- ANN index AS a lakehouse table — the similarity-search scale
    // path made durable: q49's sign-LSH cell assignments are PERSISTED
    // into a layout table written cell-sorted with recorded cell bounds
    // (two range-disjoint commits), so an index probe is a CONNECTOR
    // READ that skips index files by bounds before any I/O — pinned by a
    // planned-partitions require. The search itself is the persisted
    // index joined to broadcast probes, candidates re-joined to raw
    // embeddings for exact integer dots, top-3 per query — bit-identical
    // to q49's inline formulation (same oracle). At 100 TB the index is
    // built once, maintained by appends, and every query's bill is
    // matched-cell file I/O + candidate-sized dot products.
    "q212_ann_index_table" -> { (s, dir) => implicit val sp = s
      val cellExpr = AnnOps
        .signatureColumns("qe", bands = 1, planesPerBand = 4, dims = 64).head
      val e = t(dir, "embeddings")
        .select(col("vec_id"), AnnOps.quantize(col("embedding")).as("qe"))
        .withColumn("cell", cellExpr.cast("long"))
        .localCheckpoint() // probes + candidate vectors + index build
      val tbl = TmpFixture.dir("q212", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(tbl)
      def writeHalf(pred: org.apache.spark.sql.Column): Unit =
        e.filter(pred).select(col("vec_id"), col("cell"))
          .write.format("graft-iceberg")
          .option("write.schema", "vec_id LONG, cell LONG")
          .option("pushdown.fields", "cell:2:long")
          .option("write.sort-order", "cell")
          .mode("append").save(tbl.getPath)
      writeHalf(col("cell") < 8L); writeHalf(col("cell") >= 8L)
      def index = s.read.format("graft-iceberg")
        .option("pushdown.fields", "cell:2:long").load(tbl.getPath)
      val nFiles = index.rdd.getNumPartitions
      val c0 = e.filter(col("vec_id") === 0L).select("cell").head.getLong(0)
      val planned = index.filter(col("cell") === c0).rdd.getNumPartitions
      require(planned < nFiles,
        s"index probe must skip files: $planned planned vs $nFiles")
      val probes = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("qe").as("qa"), col("cell"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("dot").desc, col("neighbor_id"))
      index.join(broadcast(probes), Seq("cell"))
        .filter(col("vec_id") =!= col("query_id"))
        .join(e.select(col("vec_id"), col("qe").as("qb")), Seq("vec_id"))
        .withColumnRenamed("vec_id", "neighbor_id")
        .withColumn("dot", AnnOps.dotQ(col("qa"), col("qb")))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("neighbor_id"), col("dot"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },

    // ---- METADATA-ONLY aggregates: `SELECT count(*), min, max` over a
    // catalog table answered ENTIRELY from manifest statistics — the
    // connector's SupportsPushDownAggregates folds record_count and the
    // per-file bounds at plan time (complete pushdown: no Aggregate
    // node, one synthesized row, zero data-file partitions). The query
    // PROVES the zero-I/O claim the strong way: after the two INSERT
    // commits, every data file on disk is overwritten with junk bytes —
    // the aggregate must still answer, because at 100 TB this is the
    // difference between a free catalog lookup and a full table scan.
    // A row-reading twin on an intact path-addressed copy pins the
    // pushed answers against physically-scanned truth.
    "q213_metadata_only_agg" -> { (s, dir) => implicit val sp = s
      val wh = TmpFixture.dir("q213wh", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(wh); wh.mkdirs()
      val cat = "graft_" + Integer.toHexString(wh.getAbsolutePath.hashCode)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.getAbsolutePath)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.stats")
      s.sql(s"DROP TABLE IF EXISTS $cat.stats.ord")
      s.sql(s"CREATE TABLE $cat.stats.ord (okey BIGINT, price BIGINT) " +
        "USING `graft-iceberg` " +
        "TBLPROPERTIES ('pushdown.fields'='okey:1:long,price:2:long')")
      t(dir, "orders")
        .select(col("o_orderkey").as("okey"),
          floor(col("o_totalprice")).cast("long").as("price"))
        .createOrReplaceTempView("q213_src")
      s.sql(s"INSERT INTO $cat.stats.ord SELECT * FROM q213_src WHERE price < 150000")
      s.sql(s"INSERT INTO $cat.stats.ord SELECT * FROM q213_src WHERE price >= 150000")
      // row-reading twin FIRST (intact files): the ground truth
      val tblDir = new java.io.File(new java.io.File(wh, "stats"), "ord")
      val twin = s.read.format("graft-iceberg").load(tblDir.getPath)
        .agg(count(lit(1)), min(col("price")), max(col("price")),
          min(col("okey")), max(col("okey")))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).head
      // now DESTROY every data file: any answer must be metadata-only
      new java.io.File(tblDir, "data").listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          val w = new java.io.FileOutputStream(f)
          w.write("junk".getBytes); w.close()
        }
      val agg = s.sql(s"""SELECT count(*) AS n_rows,
        |  min(price) AS min_price, max(price) AS max_price,
        |  min(okey) AS min_okey, max(okey) AS max_okey
        |FROM $cat.stats.ord""".stripMargin)
      val plan = agg.queryExecution.executedPlan.toString
      require(plan.contains("aggPushed"),
        s"aggregate must push to manifest stats, got:\n$plan")
      val got = agg.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4))).head
      require(got == twin,
        s"pushed aggregate disagrees with scanned truth: $got vs $twin")
      agg
    },

    // ---- RUNTIME (dynamic) file pruning: a broadcast join's build
    // side finishes, its key values flow into the connector's
    // SupportsRuntimeFiltering, and the probe-side scan re-prunes files
    // against manifest bounds BEFORE reading — Spark's DPP flow on a
    // DSv2 source. The fixture is four okey-range commits; the dim
    // selects keys confined to one range, and the post-execution scan
    // metric pins that most of the table's rows were never read. At
    // 100 TB this is the star-schema bill-shrinker: the fact scan is
    // sized by the dimension's selectivity, not the fact's footprint.
    "q214_runtime_file_pruning" -> { (s, dir) => implicit val sp = s
      val tbl = TmpFixture.dir("q214", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(tbl)
      val li = t(dir, "lineitem")
        .select(col("l_orderkey").as("okey"),
          floor(col("l_extendedprice")).cast("long").as("price"))
      val hi = li.agg(max(col("okey"))).head.getLong(0)
      val step = hi / 4 + 1
      (0L until 4L).foreach { b =>
        li.filter(col("okey") >= b * step && col("okey") < (b + 1) * step)
          .write.format("graft-iceberg")
          .option("write.schema", "okey LONG, price LONG")
          .option("pushdown.fields", "okey:1:long")
          .mode("append").save(tbl.getPath)
      }
      def fact = s.read.format("graft-iceberg")
        .option("pushdown.fields", "okey:1:long").load(tbl.getPath)
      // dim: keys confined to the first okey quarter
      val dim = li.filter(col("okey") % 64 === 0 && col("okey") < step)
        .select(col("okey")).distinct()
      val joined = fact.join(broadcast(dim), Seq("okey"))
      val total = fact.count()
      val n = joined.collect().length // execute THIS plan: runtime
      require(n > 0, "fixture must produce matches") // filters delivered
      val scanned = PlanProbe.rowsReadByGraftScans(joined)
      require(scanned > 0 && scanned < total / 2,
        s"runtime pruning did not engage: scanned $scanned of $total rows")
      joined.agg(count(lit(1)).as("n_rows"), sum(col("price")).as("sum_price"),
        min(col("okey")).as("min_okey"), max(col("okey")).as("max_okey"))
    },

    // ---- STORAGE-PARTITIONED JOIN: two fact tables identity-
    // partitioned on the same key group join with NO shuffle on either
    // side — the connector reports KeyGroupedPartitioning from the
    // partition spec + per-file partition values, and Spark pairs
    // co-partitioned splits directly (each grp's files join each
    // other's). The require pins the claim structurally: zero shuffle
    // exchanges anywhere above a graft scan in the executed join. At
    // 100 TB this deletes the dominant cost of a fact-fact equi-join —
    // neither table moves; the only data motion left is the group-local
    // read itself.
    "q215_storage_partitioned_join" -> { (s, dir) => implicit val sp = s
      val (tblA, tblB) = (TmpFixture.dir("q215a", dir), TmpFixture.dir("q215b", dir))
      Seq(tblA, tblB).foreach(org.apache.commons.io.FileUtils.deleteQuietly)
      val a = t(dir, "orders")
        .select(col("o_orderkey").as("okey"),
          (col("o_orderkey") % 16).as("grp"),
          floor(col("o_totalprice")).cast("long").as("price"))
      val b = t(dir, "lineitem").filter(col("l_orderkey") % 4 === 0)
        .select(col("l_orderkey").as("okey"),
          (col("l_orderkey") % 16).as("grp"),
          col("l_quantity").cast("long").as("qty"))
      // the two table ingests are independent Spark jobs — overlap them
      // (guide §2.6); each is one repartition+partitionBy write plus its
      // driver-side manifest fold, and neither reads the other's table
      Overlap.all(s)(() => writeIdentityPartitioned(s, tblA, a, "grp", 2, 16),
        () => writeIdentityPartitioned(s, tblB, b, "grp", 2, 16))
      def rd(tbl: java.io.File) = s.read.format("graft-iceberg")
        .option("pushdown.fields", "grp:2:long").load(tbl.getPath)
      val (bucketing, bcast, allKeys) = ("spark.sql.sources.v2.bucketing.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.requireAllClusterKeysForCoPartition")
      val prevB = s.conf.getOption(bcast)
      s.conf.set(bucketing, "true"); s.conf.set(bcast, "-1")
      // join keys (grp, okey) ⊃ partition keys (grp): co-partition on a
      // key subset is safe (equal grp ⇒ same storage partition) and is
      // exactly the fact-fact shape — opt in to recognizing it
      s.conf.set(allKeys, "false")
      try {
        val j = rd(tblA).join(rd(tblB), Seq("grp", "okey"))
          .groupBy(col("grp"))
          .agg(count(lit(1)).as("n_rows"), sum(col("price")).as("sum_price"),
            sum(col("qty")).as("sum_qty"))
          .orderBy(col("grp"))
        val rows = j.collect()
        val shuffled = PlanProbe.shufflesBelowJoins(
          j.queryExecution.executedPlan)
        require(shuffled.isEmpty,
          s"storage-partitioned join must not shuffle a table side:\n" +
            j.queryExecution.executedPlan)
        import scala.jdk.CollectionConverters._
        s.createDataFrame(rows.toSeq.asJava, j.schema)
      } finally {
        s.conf.set(bucketing, "false"); s.conf.unset(allKeys)
        prevB match {
          case Some(v) => s.conf.set(bcast, v)
          case None => s.conf.unset(bcast)
        }
      }
    },

    // ---- PARTITIONED TABLES through pure SQL DDL: `CREATE TABLE …
    // PARTITIONED BY (mon)` declares the spec in the catalog
    // descriptor; the INSERT's write asks the planner for a
    // partition-source clustered distribution (one file per month, not
    // tasks × months), computes each row's partition value task-side,
    // and records it in the manifest; a month-predicate read then
    // prunes to exactly one file with NO column statistics — the
    // partition value IS the pruning fact. The requires pin the
    // one-file-per-month layout and the one-planned-partition probe.
    // At 100 TB this is the table layout the reference diagnoses
    // (manager.py's partitioned tables): ingest clusters once, every
    // time-sliced query reads its slice only.
    "q216_sql_partitioned_table" -> { (s, dir) => implicit val sp = s
      val wh = TmpFixture.dir("q216wh", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(wh); wh.mkdirs()
      val cat = "graft_" + Integer.toHexString(wh.getAbsolutePath.hashCode)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.getAbsolutePath)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.sales")
      s.sql(s"DROP TABLE IF EXISTS $cat.sales.bymon")
      s.sql(s"CREATE TABLE $cat.sales.bymon " +
        "(mon BIGINT, okey BIGINT, price BIGINT) USING `graft-iceberg` " +
        "PARTITIONED BY (mon) " +
        "TBLPROPERTIES ('pushdown.fields'='mon:1:long')")
      t(dir, "orders")
        .select(month(col("o_orderdate")).cast("long").as("mon"),
          col("o_orderkey").as("okey"),
          floor(col("o_totalprice")).cast("long").as("price"))
        .createOrReplaceTempView("q216_src")
      s.sql(s"INSERT INTO $cat.sales.bymon SELECT * FROM q216_src")
      val tblDir = new java.io.File(new java.io.File(wh, "sales"), "bymon")
      // clustered write: exactly one file per month, value in manifest
      val pkeys = graft.sources.IcebergManifestSource
        .statsFromTableDir(s, tblDir.getPath, "t", Nil)
        .select("partitionKey").collect().map(_.getString(0)).toSeq
      require(pkeys.size == 12 && pkeys.distinct.size == 12,
        s"expected one file per month: $pkeys")
      // month probe plans ONE file — partition-value pruning, no stats
      val probe = s.sql(s"SELECT okey FROM $cat.sales.bymon WHERE mon = 3")
      require(probe.rdd.getNumPartitions == 1,
        s"partition pruning broke: ${probe.rdd.getNumPartitions} of 12")
      s.sql(s"""SELECT mon, count(*) AS n_orders,
        |  sum(price) AS sum_price, min(okey) AS min_okey,
        |  max(okey) AS max_okey
        |FROM $cat.sales.bymon GROUP BY mon ORDER BY mon""".stripMargin)
    },

    // ---- MERGE-ON-READ through the CONNECTOR, keys from metadata:
    // q152's mixed-tombstone fixture (position deletes on every 7th row
    // of file A, equality deletes on a partkey slice, stacked sequence
    // numbers) — but the eq-delete manifest entry records spec
    // `equality_ids`, and the read is a plain
    // `spark.read.format("graft-iceberg")` with NO out-of-band key
    // list: the scan resolves the keys from metadata, applies position
    // tombstones by row ordinal and equality tombstones by key tuple
    // task-side, and the result hashes against the same DuckDB
    // reconstruction q152 uses. The in-query require pins connector ==
    // MorRead. At 100 TB each task pays its own file's tombstone I/O —
    // no global delete join, no driver state beyond planning.
    "q217_connector_mor_read" -> { (s, dir) => implicit val sp = s
      import graft.sources.MorRead
      // l_partkey is the 3rd data column
      val tbl = MorFixture.table("q217", dir, equalityIds = Seq(3))
      val viaConnector = s.read.format("graft-iceberg").load(tbl.getPath)
      val viaMor = MorRead.readTable(s, tbl.getPath) // also metadata keys
      // multiset equality in ONE action (r16: the two exceptAll arms
      // each re-planned both MOR reads): signed row counts over every
      // column cancel exactly iff both exceptAll directions are empty
      val cols = viaConnector.columns.map(col).toSeq
      require(viaConnector.withColumn("__side", lit(1L))
        .unionByName(viaMor.withColumn("__side", lit(-1L)))
        .groupBy(cols: _*).agg(sum(col("__side")).as("d"))
        .filter(col("d") =!= 0L).isEmpty,
        "connector MOR read must equal MorRead")
      viaConnector
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"), sum(col("qty")).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    },

    // ---- CDC STREAMING READ: `readStream.option("read-changes")` on
    // the connector emits change rows — inserts from added data files,
    // key-only deletes from equality tombstones, full-row deletes read
    // back from position tombstones — each stamped with its commit's
    // snapshot id. The query tails a table through an upsert commit and
    // a predicate-delete commit, FOLDS the captured change rows over
    // the stream-start state commit by commit, and requires the fold to
    // land exactly on the table's direct merge-on-read state — the
    // consumer-side proof that the changelog is complete and ordered.
    // The folded profile hashes against DuckDB replaying the same
    // mutations. At 100 TB each trigger's bill is the change set: one
    // metadata diff per commit, one task per changed file.
    "q218_cdc_stream_fold" -> { (s, dir) => implicit val sp = s
      import graft.sources.LayoutMaintenance
      val tbl = TmpFixture.dir("q218", dir)
      val ckpt = TmpFixture.dir("q218ckpt", dir)
      Seq(tbl, ckpt).foreach(org.apache.commons.io.FileUtils.deleteQuietly)
      val base = t(dir, "orders").filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey").as("okey"),
          floor(col("o_totalprice")).cast("long").as("price"),
          month(col("o_orderdate")).cast("long").as("mon"))
      base.coalesce(4).write.format("graft-iceberg")
        .option("write.schema", "okey LONG, price LONG, mon LONG")
        .mode("append").save(tbl.getPath)
      val startState = s.read.format("graft-iceberg").load(tbl.getPath)
        .localCheckpoint() // pin the stream-start state before mutating
      val rows = new java.util.concurrent.ConcurrentLinkedQueue[
        (java.lang.Long, java.lang.Long, java.lang.Long, String, Long)]()
      val q = s.readStream.format("graft-iceberg")
        .option("read-changes", "true").load(tbl.getPath)
        .writeStream.option("checkpointLocation", ckpt.getPath)
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.collect().foreach { r =>
            rows.add((if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0)),
              if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1)),
              if (r.isNullAt(2)) null else java.lang.Long.valueOf(r.getLong(2)),
              r.getString(3), r.getLong(4)))
          }; ()
        }
        .start()
      try {
        // barrier 1 pins the stream's initial offset at the pre-upsert
        // head (stream-from-latest) before any mutation lands
        q.processAllAvailable()
        // commit 2: upsert — every okey % 9 == 0 gets price + 1000
        LayoutMaintenance.commitUpsert(s, tbl.getPath,
          base.filter(col("okey") % 9 === 0)
            .select(col("okey"), (col("price") + 1000L).as("price"), col("mon")),
          keyCols = Seq("okey"))
        // commit 3: predicate delete. ONE drain covers both commits
        // (r17): the source plans per-commit steps inside any offset
        // range, so the change rows and their _commit_snapshot_id tags —
        // and therefore the sid-grouped fold below — are identical to
        // the two-barrier version; GraftSourceV2Spec pins the
        // multi-commit-range planning, and the per-commit incremental
        // delivery stays pinned by the CDC spec's own 3-cycle test.
        LayoutMaintenance.commitDeleteWhere(s, tbl.getPath,
          col("price") >= 400000L)
        q.processAllAvailable()
      } finally q.stop()
      import scala.jdk.CollectionConverters._
      val changes = rows.asScala.toSeq
      require(changes.nonEmpty, "CDC stream captured nothing")
      // fold commit by commit: deletes remove by key, inserts add
      val bySid = changes.groupBy(_._5).toSeq.sortBy(_._1)
      import s.implicits._
      var state = startState.select("okey", "price", "mon")
        .as[(Long, Long, Long)].collect().toSeq
      bySid.foreach { case (_, cs) =>
        val delKeys = cs.filter(_._4 == "delete").map(_._1.longValue).toSet
        val ins = cs.filter(_._4 == "insert")
          .map(c => (c._1.longValue, c._2.longValue, c._3.longValue))
        state = state.filterNot(r => delKeys(r._1)) ++ ins
      }
      val direct = s.read.format("graft-iceberg").load(tbl.getPath)
        .select("okey", "price", "mon").as[(Long, Long, Long)].collect().toSeq
      require(state.sorted == direct.sorted,
        s"CDC fold diverged from table state: ${state.size} vs ${direct.size}")
      state.toDF("okey", "price", "mon")
        .groupBy(col("mon"))
        .agg(count(lit(1)).as("n_rows"), sum(col("price")).as("sum_price"),
          min(col("okey")).as("min_okey"))
        .orderBy(col("mon"))
    },

    // ---- CHANGELOG AS A SQL RELATION: `cat.db.t.changes` — the whole
    // commit history replayed as change rows, queryable with plain SQL
    // (Iceberg's changelog-table idiom). Two INSERT commits, a MERGE
    // upsert (insert + key-only eq-delete rows), and a predicate DELETE
    // (full-row deletes read back from position tombstones) each
    // surface under their own `_commit_snapshot_id`; the query audits
    // the history per (commit, change type) and the oracle reconstructs
    // every group from the raw data. At 100 TB the relation plans one
    // metadata diff per commit and reads only changed files.
    "q219_sql_changelog" -> { (s, dir) => implicit val sp = s
      val wh = TmpFixture.dir("q219wh", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(wh); wh.mkdirs()
      val cat = "graft_" + Integer.toHexString(wh.getAbsolutePath.hashCode)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.getAbsolutePath)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.cdc")
      s.sql(s"DROP TABLE IF EXISTS $cat.cdc.ord")
      s.sql(s"CREATE TABLE $cat.cdc.ord (okey BIGINT, price BIGINT, mon BIGINT) " +
        "USING `graft-iceberg`")
      t(dir, "orders").filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey").as("okey"),
          floor(col("o_totalprice")).cast("long").as("price"),
          month(col("o_orderdate")).cast("long").as("mon"))
        .createOrReplaceTempView("q219_src")
      s.sql(s"INSERT INTO $cat.cdc.ord SELECT * FROM q219_src WHERE price < 200000")
      s.sql(s"INSERT INTO $cat.cdc.ord SELECT * FROM q219_src WHERE price >= 200000")
      val tblDir = new java.io.File(new java.io.File(wh, "cdc"), "ord")
      graft.sources.LayoutMaintenance.commitUpsert(s, tblDir.getPath,
        s.table("q219_src").filter(col("okey") % 25 === 0)
          .select(col("okey"), (col("price") + 7L).as("price"), col("mon")),
        keyCols = Seq("okey"))
      graft.sources.LayoutMaintenance.commitDeleteWhere(s, tblDir.getPath,
        col("mon") === 1L)
      s.sql(s"""SELECT _commit_snapshot_id AS sid, _change_type AS op,
        |  count(*) AS n_rows,
        |  sum(coalesce(price, 0)) AS sum_price, sum(okey) AS sum_okey
        |FROM $cat.cdc.ord.changes
        |GROUP BY _commit_snapshot_id, _change_type
        |ORDER BY sid, op""".stripMargin)
    },

    // ---- EPOCH-DETERMINISTIC TRAINING ORDER + batch assembly: the
    // "what order do examples hit the trainer" operator. Each epoch's
    // global shuffle is a PURE VALUE FUNCTION — order key = portable
    // hash of (epoch, doc_id) — so any worker on any partitioning
    // derives the identical order with zero coordination and zero
    // stored shuffle files; running token offsets come from the
    // bucketed rangeCumsum (no single-task global window), and a doc's
    // batch is its starting offset div the token budget (offset-based
    // sharding: batch boundaries are knowable without materializing
    // batches). Two epochs computed in ONE frame prove the reshuffle:
    // same docs, different deterministic orders. At 100 TB this is the
    // data-loader's manifest: each trainer rank filters its own batch
    // range off the same pure arithmetic.
    "q220_epoch_training_order" -> { (s, dir) => implicit val sp = s
      val budget = 4096L
      val docs = t(dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("tok"))
      val epochDf = { import s.implicits._; Seq(0L, 1L).toDF("epoch") }
      val epochs = docs.crossJoin(broadcast(epochDf))
        .withColumn("okey", TextOps.portableHash28(
          concat(lit("ep"), col("epoch"), lit(":"), col("doc_id"))))
      val ordered = StatOps.rangeCumsum(epochs, Seq("epoch"),
        Seq("okey", "doc_id"), Seq("cum" -> col("tok")),
        StatOps.octaveBucket16(col("okey")))
        .withColumn("batch", ((col("cum") - col("tok")) / budget).cast("long"))
      ordered.groupBy(col("epoch"), col("batch"))
        .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens"),
          min(col("okey")).as("first_key"))
        .filter(col("batch") < 6)
        .orderBy(col("epoch"), col("batch"))
    },

    // ---- CAPSTONE: the training-corpus release AS a lakehouse table —
    // the q57/q80 curation discipline executed through the v2 write
    // path instead of a one-shot DataFrame. Raw docs (with their q187
    // entropy PRECOMPUTED as a column at ingest — score once, gate
    // forever) land as snapshot 1; the LENGTH gate and the ENTROPY gate
    // each run as a predicate DELETE (commitDeleteWhere → position
    // tombstones, stacking); rewrite_data_files folds the survivors
    // into the clean release file and drops every tombstone. The
    // requires pin the 4-commit shape and the tombstone-free release;
    // the per-language release profile is hash-gated against DuckDB
    // re-deriving both gates from raw text. At 100 TB each gate costs
    // one predicate scan + tombstones the size of the rejects, and the
    // release rewrite is the only data movement.
    "q200_corpus_release_table" -> { (s, dir) => implicit val sp = s
      import graft.sources.{IcebergLayoutWriter, LayoutMaintenance, MorRead}
      val (nTotal, s1) = entropyCols
      val docs = t(dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          nTotal.as("n"), s1.as("s1"))
        .filter(col("n") > 0L)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          (floor(log(col("n").cast("double")) * lit(1e6)).cast("long")
            - expr("s1 div n")).as("h_mnats"))
      val tbl = TmpFixture.dir("q200", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(tbl)
      val dataDir = new java.io.File(tbl, "data"); dataDir.mkdirs()
      val bf = new java.io.File(dataDir, "raw.parquet")
      val nRaw = IcebergLayoutWriter.writeSingleParquet(
        IcebergLayoutWriter.sortedSingle(docs, col("doc_id")), bf)
      IcebergLayoutWriter.writeTable(tbl, Seq(
        IcebergLayoutWriter.ManifestEntrySpec(status = 1, content = 0,
          filePath = bf.getAbsolutePath, recordCount = nRaw,
          sizeBytes = bf.length(), sequenceNumber = 1L)))
      val (s2, nLen) = LayoutMaintenance.commitDeleteWhere(
        s, tbl.getPath, col("n_chars") < 150L)
      val (s3, nEnt) = LayoutMaintenance.commitDeleteWhere(
        s, tbl.getPath, col("h_mnats") < 2780000L)
      val (s4, nRel, _, _) = LayoutMaintenance.rewriteDataFiles(
        s, tbl.getPath, Nil, sortCols = Seq("doc_id"))
      require(s2 == 2L && s3 == 3L && s4 == 4L && nLen > 0 && nEnt > 0
        && nRel == nRaw - nLen - nEnt,
        s"release arithmetic broke: gates $nLen/$nEnt, release $nRel of $nRaw")
      val shape = graft.sources.IcebergManifestSource
        .statsFromTableDir(s, tbl.getPath, "t", Nil)
        .groupBy(col("content")).count().collect()
        .map(r => (r.getInt(0), r.getLong(1))).toMap
      require(shape == Map(0 -> 1L), s"release still carries tombstones: $shape")
      MorRead.readTable(s, tbl.getPath)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          min(col("h_mnats")).as("min_h_mnats"))
        .orderBy(col("lang"))
    },

    // ---- metadata-driven FILE SAMPLING for approximate row-level
    // stats (profile 100 TB by reading 1/k of it): a 16-file layout's
    // manifest picks every 4th file DETERMINISTICALLY (fid % 4 == 0, a
    // metadata-only decision), only those four parquet files are
    // actually read (spark.read over the sampled paths — the I/O prune
    // IS the operator), and the sampled average is compared to the
    // exact one. Everything integer (price cents via floor), the
    // sampled/exact gap in basis points is part of the hash-gated
    // output — the estimator's quality is oracle-visible, not claimed.
    "q199_file_sampling" -> { (s, dir) => implicit val sp = s
      import graft.sources.{IcebergLayoutWriter, IcebergManifestSource}
      val base = t(dir, "orders")
        .select(col("o_orderkey").as("k"),
          floor(col("o_totalprice")).cast("long").as("price"),
          (col("o_orderkey") % 16).cast("int").as("fid"))
      val tbl = TmpFixture.dir("q199", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(tbl)
      val dataDir = new java.io.File(tbl, "data")
      // ONE partitioned write for all 16 files (16 single-file writes =
      // 32 jobs; this is the write shape a real ingest uses anyway),
      // record counts from the footers driver-side
      base.repartition(16, col("fid")).sortWithinPartitions(col("fid"), col("k"))
        .write.partitionBy("fid").mode("overwrite").parquet(dataDir.getPath)
      val entries = (0 until 16).map { f =>
        val part = new java.io.File(dataDir, s"fid=$f").listFiles()
          .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
          .toSeq match {
            case Seq(one) => one
            case many => sys.error(s"expected 1 file for fid=$f, got ${many.size}")
          }
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(part.getAbsolutePath),
          s.sparkContext.hadoopConfiguration)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        val n = try r.getRecordCount finally r.close()
        IcebergLayoutWriter.ManifestEntrySpec(status = 1, content = 0,
          filePath = part.getAbsolutePath, partition = Seq("fid" -> f),
          recordCount = n, sizeBytes = part.length(), sequenceNumber = 1L)
      }
      IcebergLayoutWriter.writeTable(tbl, entries)
      val meta = IcebergManifestSource
        .statsFromTableDir(s, tbl.getPath, "t", Nil)
        .select(col("file_path"),
          get_json_object(col("partitionKey"), "$.fid").cast("int").as("fid"),
          col("record_count"))
        .collect()
      val rowsTotalMeta = meta.map(_.getLong(2)).sum // metadata-only exact count
      val sampledPaths = meta.filter(_.getInt(1) % 4 == 0).map(_.getString(0))
      require(sampledPaths.length == 4, s"sampling broke: ${sampledPaths.length}")
      val sampled = s.read.parquet(sampledPaths.toIndexedSeq: _*)
        .agg(count(lit(1)).as("rows_sampled"), sum(col("price")).as("sum_sampled"))
      val exact = base
        .agg(count(lit(1)).as("rows_exact"), sum(col("price")).as("sum_exact"))
      sampled.crossJoin(exact)
        .select(
          lit(16L).as("n_files"), lit(4L).as("n_sampled"),
          lit(rowsTotalMeta).as("rows_total_meta"),
          col("rows_sampled"),
          expr("(sum_sampled * 100) div rows_sampled").as("avg_c_sampled"),
          expr("(sum_exact * 100) div rows_exact").as("avg_c_exact"))
        .withColumn("err_bp",
          expr("abs(avg_c_sampled - avg_c_exact) * 10000 div avg_c_exact"))
    },

    // ---- PERSISTED Bloom runtime filter: q153's oracle-gated bloom
    // arithmetic (63-bit words, two portable-hash probes) written into
    // a real Puffin statistics container (the spec's
    // apache-datasketches-blob framing dialect, [[PuffinIO]]),
    // registered in table metadata, then READ BACK OFF DISK and applied
    // as the semi-join filter — the index shape real engines ship
    // (Iceberg puffin blobs / Delta bloom indexes): sketch once at
    // write, filter every subsequent scan from KBs of stats. The
    // require proves the disk round trip preserved the words bit-exactly;
    // the filter's pass/fp counts are hash-gated against DuckDB
    // recomputing the same bloom from raw data — so what's verified is
    // the FILE's content, not just the arithmetic.
    "q198_puffin_bloom_filter" -> { (s, dir) => implicit val sp = s
      import graft.sources.{IcebergLayoutWriter, IcebergManifestSource,
        LayoutMaintenance, PuffinIO}
      val build = t(dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT"
          && year(col("o_orderdate")) === 1996)
        .select(col("o_orderkey").as("k")).distinct()
      val words = build
        .select(TextOps.portableHash28(concat(lit("pbf:"), col("k").cast("string"))).as("h"))
        .select(explode(array(expr("h % 4096"), expr("(h div 4096) % 4096"))).as("p"))
        .groupBy(expr("p div 63").as("w"))
        .agg(expr("bit_or(shiftleft(1L, CAST(p % 63 AS INT)))").as("bits"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val tbl = TmpFixture.dir("q198", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(tbl)
      IcebergLayoutWriter.writeTable(tbl, Seq(
        IcebergLayoutWriter.ManifestEntrySpec(status = 1, content = 0,
          filePath = "data/facts.parquet", recordCount = 1L,
          sizeBytes = 1L << 20)))
      val pf = new java.io.File(new java.io.File(tbl, "metadata"), "bloom-1.puffin")
      PuffinIO.write(pf, Seq(PuffinIO.Blob("graft-bloom-v1", Seq(1), 1L, 1L,
        Map("hash" -> "portable-md5-28", "words" -> "63-bit"),
        PuffinIO.sketchBytes(words.flatMap { case (w, b) => Seq(w, b) }.toSeq))))
      LayoutMaintenance.attachStatistics(s, tbl.getPath, 1L, pf,
        Seq(("graft-bloom-v1", Seq(1), Map("column" -> "o_orderkey"))))
      val reg = IcebergManifestSource.statisticsFiles(s, tbl.getPath)
      val blob = PuffinIO.read(new java.io.File(reg.head._2))
        .find(_.blobType == "graft-bloom-v1")
        .getOrElse(sys.error("bloom blob missing from container"))
      val fromDisk = PuffinIO.sketchLongs(blob.data).grouped(2)
        .map { case Seq(w, b) => (w, b) }.toSeq
      require(fromDisk == words.toSeq, "bloom round trip diverged")
      import s.implicits._
      val bloom = fromDisk.toDF("w", "bits")
      val probes = t(dir, "lineitem")
        .select(col("l_orderkey").as("pk"))
        .withColumn("h",
          TextOps.portableHash28(concat(lit("pbf:"), col("pk").cast("string"))))
        .withColumn("p1", expr("h % 4096"))
        .withColumn("p2", expr("(h div 4096) % 4096"))
      probes
        .join(broadcast(bloom.select(col("w").as("w1"), col("bits").as("bits1"))),
          expr("p1 div 63") === col("w1"), "left")
        .join(broadcast(bloom.select(col("w").as("w2"), col("bits").as("bits2"))),
          expr("p2 div 63") === col("w2"), "left")
        .withColumn("pass",
          coalesce(expr("(shiftright(bits1, CAST(p1 % 63 AS INT)) & 1) = 1"), lit(false))
            && coalesce(expr("(shiftright(bits2, CAST(p2 % 63 AS INT)) & 1) = 1"), lit(false)))
        .join(broadcast(build.withColumn("ex", lit(1))), col("pk") === col("k"), "left")
        .agg(
          count(lit(1)).as("n_probes"),
          count(col("ex")).as("n_exact"),
          expr("CAST(count(CASE WHEN pass THEN 1 END) AS BIGINT)").as("n_pass"),
          expr("CAST(count(CASE WHEN pass AND ex IS NULL THEN 1 END) AS BIGINT)").as("n_false_pos"),
          expr("CAST(count(CASE WHEN NOT pass AND ex IS NOT NULL THEN 1 END) AS BIGINT)").as("n_false_neg"))
        .select(col("n_probes"), col("n_exact"), col("n_pass"),
          col("n_false_pos"), col("n_false_neg"),
          expr("CASE WHEN n_probes = n_exact THEN NULL " +
            "ELSE (n_false_pos * 10000) div (n_probes - n_exact) END").as("fp_bp"))
    },

    // ---- CDC MERGE commit: ONE commit applies a mixed change batch —
    // upserts AND deletes (op column, the compacted-CDC shape q76's
    // latestWins emits) — as one data file + one equality-delete file
    // (LayoutMaintenance.commitMerge). Tombstones cover every change
    // key; only upsert rows are re-added; strict-< visibility does the
    // rest. This is the batch sink a streaming CDC pipeline commits at
    // each trigger: cost is O(change batch) regardless of table size.
    // Read-back per-nation rollup hash-gated against textbook
    // UPDATE∘INSERT∘DELETE arithmetic.
    "q195_cdc_merge_commit" -> { (s, dir) => implicit val sp = s
      import graft.sources.{IcebergLayoutWriter, LayoutMaintenance, MorRead}
      val base = t(dir, "customer").filter(col("c_custkey") % 4 =!= 0)
        .select(col("c_custkey"), col("c_nationkey"),
          floor(col("c_acctbal")).cast("long").as("bal"))
      val changes = t(dir, "orders")
        .filter(year(col("o_orderdate")) === 1996)
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg((sum(floor(col("o_totalprice")).cast("long")) / lit(100L))
          .cast("long").as("bal"))
        .join(t(dir, "customer").select(col("c_custkey"), col("c_nationkey")),
          Seq("c_custkey"))
        .select(col("c_custkey"), col("c_nationkey"), col("bal"),
          when(col("c_custkey") % 5 === 0, lit("D")).otherwise(lit("U")).as("op"))
      val tbl = TmpFixture.dir("q195", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(tbl)
      val dataDir = new java.io.File(tbl, "data"); dataDir.mkdirs()
      val bf = new java.io.File(dataDir, "base.parquet")
      val nBase = IcebergLayoutWriter.writeSingleParquet(
        IcebergLayoutWriter.sortedSingle(base, col("c_custkey")), bf)
      IcebergLayoutWriter.writeTable(tbl, Seq(
        IcebergLayoutWriter.ManifestEntrySpec(status = 1, content = 0,
          filePath = bf.getAbsolutePath, recordCount = nBase,
          sizeBytes = bf.length(), sequenceNumber = 1L)))
      val (snap, nUp, nDel) = LayoutMaintenance.commitMerge(
        s, tbl.getPath, changes, Seq("c_custkey"), "op")
      require(snap == 2L && nUp > 0 && nDel > 0,
        s"merge commit broke: $snap up=$nUp del=$nDel")
      MorRead.readTable(s, tbl.getPath, Seq("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_customers"), sum(col("bal")).as("sum_bal"))
        .orderBy(col("c_nationkey"))
    },

    // ---- INTERSECT (the set-op family's third leg next to q12 UNION /
    // q13 EXCEPT): customers who ordered in BOTH calendar half-years —
    // distinct-intersect compiles to one shuffle-keyed join of two
    // pre-distinct sides, then a broadcast nation rollup.
    "q196_intersect" -> { (s, dir) => implicit val sp = s
      def buyers(h: Int) = t(dir, "orders")
        .filter(if (h == 1) month(col("o_orderdate")) <= 6
                else month(col("o_orderdate")) > 6)
        .select(col("o_custkey")).distinct()
      buyers(1).intersect(buyers(2))
        .join(broadcast(t(dir, "customer")
          .select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_repeat_buyers"))
        .orderBy(col("c_nationkey"))
    },

    // ---- UNPIVOT (melt): the wide→long reshape every feature table
    // needs before a metric-keyed join — `stack` is Spark's native
    // codegen'd unpivot (one projection, rows×3 out, no shuffle beyond
    // the source agg); the DuckDB oracle uses the portable UNION ALL
    // dual. Values share one BIGINT domain, the metric name is the key.
    "q197_unpivot" -> { (s, dir) => implicit val sp = s
      t(dir, "orders")
        .groupBy(col("o_custkey") % 100 as "ckey_band")
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice")).cast("long")).as("sum_rev"),
          countDistinct(col("o_custkey")).as("n_custs"))
        .selectExpr("ckey_band",
          "stack(3, 'n_orders', n_orders, 'n_custs', n_custs, 'sum_rev', sum_rev) AS (metric, value)")
        .orderBy(col("ckey_band"), col("metric"))
    },

    // ---- tokenizer fertility by language (the tokenization-cost audit
    // every multilingual pretraining mix needs): whitespace words vs
    // BPE-ish letter-run pre-tokens (q33's cross-engine regex classes),
    // fertility and chars-per-token in exact integer basis points. One
    // map-only scoring pass + a language-collapsed aggregate — nothing
    // here shuffles more than #langs rows.
    "q189_tokenizer_fertility" -> { (s, dir) => implicit val sp = s
      t(dir, "documents").filter(col("text").isNotNull)
        .select(col("lang"),
          size(split(col("text"), " ")).cast("long").as("ws"),
          size(expr("regexp_extract_all(text, '[a-z]+', 0)")).cast("long").as("re"),
          length(col("text")).cast("long").as("ch"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("ws")).as("ws_tokens"),
          sum(col("re")).as("re_tokens"), sum(col("ch")).as("n_chars"))
        .select(col("lang"), col("n_docs"), col("ws_tokens"), col("re_tokens"),
          expr("(re_tokens * 10000) div ws_tokens").as("fertility_bp"),
          expr("(n_chars * 10000) div re_tokens").as("chars_per_token_bp"))
        .orderBy(col("lang"))
    },

    // ---- robust scaling statistics (median + MAD, the outlier-immune
    // normalization feature pipelines prefer over mean/stddev): exact
    // integer median via the q121 crossing discipline — doc lengths
    // COLLAPSE to (source, len) counts first, the cumulative crossing
    // runs over that vocabulary-sized relation (window partitioned by
    // source, never global), and the MAD repeats the same trick on
    // |len − med|. The corpus is touched twice map-only; every shuffle
    // after the collapse is #distinct-lengths-sized. Outliers =
    // |len − med| > 3·MAD, a pure integer comparison.
    "q190_robust_scaling" -> { (s, dir) => implicit val sp = s
      import org.apache.spark.sql.expressions.Window
      val docs = t(dir, "documents").filter(col("text").isNotNull)
        .select(col("source"), col("n_chars").as("len"))
      def crossing(d: DataFrame, vCol: String, out: String): DataFrame = {
        val counts = d.groupBy(col("source"), col(vCol))
          .agg(count(lit(1)).as("c"))
        val w = Window.partitionBy(col("source")).orderBy(col(vCol))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        counts
          .withColumn("cum", sum(col("c")).over(w))
          .withColumn("n", sum(col("c"))
            .over(Window.partitionBy(col("source"))))
          .filter(col("cum") * 2 >= col("n") + 1)
          .groupBy(col("source")).agg(min(col(vCol)).as(out))
      }
      val med = crossing(docs, "len", "median_len")
      val dev = docs.join(broadcast(med), Seq("source"))
        .select(col("source"), abs(col("len") - col("median_len")).as("d"))
      val mad = crossing(dev, "d", "mad_len")
      docs.join(broadcast(med), Seq("source")).join(broadcast(mad), Seq("source"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          max(col("median_len")).as("median_len"), max(col("mad_len")).as("mad_len"),
          sum(when(abs(col("len") - col("median_len")) > lit(3) * col("mad_len"),
            1L).otherwise(0L)).as("n_outliers"))
        .orderBy(col("source"))
    },

    // ---- z-order skipping effectiveness, MEASURED: the part-supplier
    // incidence grid is laid out into 16 files two ways — linear (by
    // partkey ranges) and z-order (equal Morton-range tiles over a
    // 64x64 normalized grid; the same interleave [[MortonCode]]
    // implements, here as portable %-arithmetic so DuckDB re-derives it
    // bit-identically) — and a 2-D box predicate counts which files'
    // min/max bounds it must touch. File assignment, bounds, and
    // overlap are all map-only arithmetic + one 16-row rollup per
    // layout; the output IS the skipping ratio a 100 TB scan would see,
    // hash-gated, layout vs layout.
    "q191_zorder_skipping" -> { (s, dir) => implicit val sp = s
      val pairs = t(dir, "lineitem")
        .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk")).distinct()
      val dom = pairs.agg(max(col("pk")).as("pmax"), max(col("sk")).as("smax"))
      val g = pairs.crossJoin(broadcast(dom))
        .withColumn("px", expr("(pk * 64) div (pmax + 1)"))
        .withColumn("sx", expr("(sk * 64) div (smax + 1)"))
        .withColumn("mz", expr(MortonSql.interleave6("px", "sx")))
        .withColumn("fid_lin", expr("px div 4")) // 16 partkey-range files
        .withColumn("fid_z", expr("mz div 256")) // 16 Morton tiles
        // the probe box: middle quarter of both dimensions
        .withColumn("hit",
          expr("px >= 16 AND px < 32 AND sx >= 16 AND sx < 32"))
      def layout(name: String, fidCol: String) = g
        .groupBy(col(fidCol).as("fid"))
        .agg(min(col("px")).as("plo"), max(col("px")).as("phi"),
          min(col("sx")).as("slo"), max(col("sx")).as("shi"),
          count(lit(1)).as("n_pairs"), sum(when(col("hit"), 1L).otherwise(0L)).as("n_hit"))
        .withColumn("touched",
          col("phi") >= 16 && col("plo") < 32 && col("shi") >= 16 && col("slo") < 32)
        .agg(count(lit(1)).as("n_files"),
          sum(when(col("touched"), 1L).otherwise(0L)).as("files_touched"),
          sum(when(col("touched"), col("n_pairs")).otherwise(0L)).as("pairs_scanned"),
          sum(col("n_hit")).as("pairs_matching"))
        .select(lit(name).as("layout"), col("n_files"), col("files_touched"),
          col("pairs_scanned"), col("pairs_matching"))
      layout("1_linear", "fid_lin").unionAll(layout("2_zorder", "fid_z"))
        .orderBy(col("layout"))
    },

    // ---- storage-co-located join: both sides are written BUCKETED by
    // the join key (16 buckets, sorted within buckets — Spark's
    // CLUSTERED BY), so the sort-merge join consumes the layout's
    // hash-partitioning and the whole join+aggregate plan contains ZERO
    // shuffle exchanges — asserted mechanically on the executed plan,
    // not claimed. This is the bucketing discipline for 100 TB fact
    // tables: pay one shuffle at WRITE time, then every keyed join or
    // rollup against the table is exchange-free forever. The grouped
    // output also rides the bucket partitioning (custkey ⊆ grouping
    // key); only the final presentation sort ranges — and the result is
    // hash-gated against the ordinary join in DuckDB.
    "q188_bucketed_join" -> { (s, dir) => implicit val sp = s
      val wh = TmpFixture.dir("q188", dir)
      val ordT = "graft_q188_orders"; val custT = "graft_q188_cust"
      def ensure(name: String, df: DataFrame, key: String): Unit =
        if (!s.catalog.tableExists(name)) {
          df.write.bucketBy(16, key).sortBy(key)
            .option("path", new java.io.File(wh, name).getAbsolutePath)
            .mode("overwrite").saveAsTable(name)
        }
      ensure(ordT, t(dir, "orders").select(col("o_custkey"),
        floor(col("o_totalprice")).cast("long").as("tp")), "o_custkey")
      ensure(custT, t(dir, "customer").select(col("c_custkey"),
        col("c_mktsegment")), "c_custkey")
      val joined = s.table(ordT).filter(col("o_custkey") % 100 < 7)
        .hint("merge")
        .join(s.table(custT).filter(col("c_custkey") % 100 < 7),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_custkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), sum(col("tp")).as("sum_total"))
      val shuffles = "Exchange hashpartitioning".r
        .findAllIn(joined.queryExecution.executedPlan.toString).size
      require(shuffles == 0,
        s"bucketed join plan has $shuffles shuffle exchange(s) — co-location lost")
      joined.orderBy(col("o_custkey"), col("c_mktsegment"))
    })

  /** The 27-term SQL for q187, generated from the same alphabet the
    * Spark side uses — one source of truth for the gate arithmetic. */
  private def entropySql: String = {
    def term(c: Char) = {
      val lit = if (c == '\'') "''" else c.toString
      s"(length(text) - length(replace(text, '$lit', '')))"
    }
    val n = Alphabet.map(term).mkString(" + ")
    val s1 = Alphabet.map { c =>
      val t = term(c)
      s"CASE WHEN $t > 0 THEN CAST($t AS BIGINT) * CAST(FLOOR(ln($t) * 1e6) AS BIGINT) ELSE 0 END"
    }.mkString(" + ")
    s"""WITH d AS (
       |  SELECT doc_id, source, CAST($n AS BIGINT) AS n, $s1 AS s1
       |  FROM documents WHERE text IS NOT NULL),
       |h AS (
       |  SELECT doc_id, source, n,
       |    CAST(FLOOR(ln(n) * 1e6) AS BIGINT) - s1 // n AS h_mnats
       |  FROM d WHERE n > 0)
       |SELECT doc_id, source, n, h_mnats, h_mnats >= 2600000 AS keep
       |FROM h ORDER BY doc_id""".stripMargin
  }

  def oracles: Map[String, String] = Map(

    "q213_metadata_only_agg" ->
      """WITH src AS (
        |  SELECT o_orderkey AS okey,
        |         CAST(FLOOR(o_totalprice) AS BIGINT) AS price
        |  FROM orders)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(price) AS BIGINT) AS min_price,
        |  CAST(max(price) AS BIGINT) AS max_price,
        |  CAST(min(okey) AS BIGINT) AS min_okey,
        |  CAST(max(okey) AS BIGINT) AS max_okey
        |FROM src""".stripMargin,

    "q214_runtime_file_pruning" ->
      """WITH src AS (
        |  SELECT l_orderkey AS okey,
        |         CAST(FLOOR(l_extendedprice) AS BIGINT) AS price
        |  FROM lineitem),
        |bound AS (SELECT max(okey) // 4 + 1 AS step FROM src),
        |keys AS (
        |  SELECT DISTINCT okey FROM src, bound
        |  WHERE okey % 64 = 0 AND okey < step)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(s.price) AS BIGINT) AS sum_price,
        |  CAST(min(s.okey) AS BIGINT) AS min_okey,
        |  CAST(max(s.okey) AS BIGINT) AS max_okey
        |FROM src s JOIN keys k ON s.okey = k.okey""".stripMargin,

    "q215_storage_partitioned_join" ->
      """WITH a AS (
        |  SELECT o_orderkey AS okey, o_orderkey % 16 AS grp,
        |         CAST(FLOOR(o_totalprice) AS BIGINT) AS price
        |  FROM orders),
        |b AS (
        |  SELECT l_orderkey AS okey, l_orderkey % 16 AS grp,
        |         CAST(l_quantity AS BIGINT) AS qty
        |  FROM lineitem WHERE l_orderkey % 4 = 0)
        |SELECT a.grp, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(a.price) AS BIGINT) AS sum_price,
        |  CAST(sum(b.qty) AS BIGINT) AS sum_qty
        |FROM a JOIN b ON a.grp = b.grp AND a.okey = b.okey
        |GROUP BY a.grp ORDER BY a.grp""".stripMargin,

    "q220_epoch_training_order" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |e AS (
        |  SELECT d.*, CAST(ep.epoch AS BIGINT) AS epoch
        |  FROM d, (VALUES (0), (1)) AS ep(epoch)),
        |k AS (
        |  SELECT doc_id, tok, epoch,
        |    CAST('0x' || substring(md5('ep' || CAST(epoch AS VARCHAR) || ':'
        |      || CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) AS okey
        |  FROM e),
        |c AS (
        |  SELECT *, sum(tok) OVER (PARTITION BY epoch ORDER BY okey, doc_id
        |    ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM k),
        |b AS (SELECT *, (cum - tok) // 4096 AS batch FROM c)
        |SELECT epoch, CAST(batch AS BIGINT) AS batch,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(tok) AS BIGINT) AS n_tokens,
        |  CAST(min(okey) AS BIGINT) AS first_key
        |FROM b WHERE batch < 6
        |GROUP BY epoch, batch ORDER BY epoch, batch""".stripMargin,

    "q219_sql_changelog" ->
      """WITH src AS (
        |  SELECT o_orderkey AS okey,
        |         CAST(FLOOR(o_totalprice) AS BIGINT) AS price,
        |         CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS mon
        |  FROM orders WHERE o_orderkey % 5 = 0),
        |upserted AS (
        |  SELECT okey, price + 7 AS price, mon FROM src WHERE okey % 25 = 0),
        |post AS (
        |  SELECT okey,
        |         CASE WHEN okey % 25 = 0 THEN price + 7 ELSE price END AS price,
        |         mon
        |  FROM src),
        |groups AS (
        |  SELECT 1 AS sid, 'insert' AS op, count(*) AS n_rows,
        |    sum(price) AS sum_price, sum(okey) AS sum_okey
        |  FROM src WHERE price < 200000
        |  UNION ALL
        |  SELECT 2, 'insert', count(*), sum(price), sum(okey)
        |  FROM src WHERE price >= 200000
        |  UNION ALL
        |  SELECT 3, 'insert', count(*), sum(price), sum(okey) FROM upserted
        |  UNION ALL
        |  SELECT 3, 'delete', count(*), 0, sum(okey) FROM upserted
        |  UNION ALL
        |  SELECT 4, 'delete', count(*), sum(price), sum(okey)
        |  FROM post WHERE mon = 1)
        |SELECT CAST(sid AS BIGINT) AS sid, op,
        |  CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(sum_price AS BIGINT) AS sum_price,
        |  CAST(sum_okey AS BIGINT) AS sum_okey
        |FROM groups ORDER BY sid, op""".stripMargin,

    "q218_cdc_stream_fold" ->
      """WITH base AS (
        |  SELECT o_orderkey AS okey,
        |         CAST(FLOOR(o_totalprice) AS BIGINT) AS price,
        |         CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS mon
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |upserted AS (
        |  SELECT okey,
        |         CASE WHEN okey % 9 = 0 THEN price + 1000 ELSE price END AS price,
        |         mon
        |  FROM base),
        |final AS (SELECT * FROM upserted WHERE price < 400000)
        |SELECT mon, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price) AS BIGINT) AS sum_price,
        |  CAST(min(okey) AS BIGINT) AS min_okey
        |FROM final GROUP BY mon ORDER BY mon""".stripMargin,

    "q217_connector_mor_read" ->
      """WITH sub AS (
        |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_returnflag,
        |    CAST(FLOOR(l_quantity) AS BIGINT) AS qty,
        |    l_orderkey % 2 AS fid
        |  FROM lineitem WHERE l_orderkey % 100 < 4),
        |posd AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY fid
        |      ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey) - 1 AS pos,
        |    CASE WHEN fid = 0 THEN 1 ELSE 2 END AS seq
        |  FROM sub),
        |alive AS (
        |  SELECT * FROM posd d
        |  WHERE NOT (d.fid = 0 AND d.pos % 7 = 0)
        |    AND NOT (d.l_partkey % 131 = 0 AND d.seq < 2))
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(qty) AS BIGINT) AS sum_qty
        |FROM alive GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q216_sql_partitioned_table" ->
      """WITH src AS (
        |  SELECT CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS mon,
        |         o_orderkey AS okey,
        |         CAST(FLOOR(o_totalprice) AS BIGINT) AS price
        |  FROM orders)
        |SELECT mon, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(price) AS BIGINT) AS sum_price,
        |  CAST(min(okey) AS BIGINT) AS min_okey,
        |  CAST(max(okey) AS BIGINT) AS max_okey
        |FROM src GROUP BY mon ORDER BY mon""".stripMargin,

    "q203_sql_catalog" ->
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

    "q204_sql_delete" ->
      """WITH src AS (
        |  SELECT l_orderkey AS okey,
        |         CAST(FLOOR(l_extendedprice) AS BIGINT) AS price,
        |         l_returnflag AS flag
        |  FROM lineitem WHERE l_orderkey % 7 = 0),
        |kept AS (
        |  SELECT * FROM src WHERE NOT (price < 30000 OR flag = 'R'))
        |SELECT flag, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price) AS BIGINT) AS sum_price,
        |  CAST(min(okey) AS BIGINT) AS min_okey,
        |  CAST(max(okey) AS BIGINT) AS max_okey
        |FROM kept GROUP BY flag ORDER BY flag""".stripMargin,

    "q205_sql_update" ->
      """WITH src AS (
        |  SELECT l_orderkey AS okey,
        |         CAST(l_quantity AS BIGINT) AS qty,
        |         CAST(FLOOR(l_extendedprice) AS BIGINT) AS price,
        |         l_returnflag AS flag
        |  FROM lineitem WHERE l_orderkey % 7 = 0),
        |upd AS (
        |  SELECT okey,
        |         CASE WHEN flag = 'R' THEN qty * 2 ELSE qty END AS qty,
        |         CASE WHEN flag = 'R' THEN price + 1000 ELSE price END AS price,
        |         flag
        |  FROM src)
        |SELECT flag, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price) AS BIGINT) AS sum_price,
        |  CAST(sum(qty) AS BIGINT) AS sum_qty,
        |  CAST(min(okey) AS BIGINT) AS min_okey
        |FROM upd GROUP BY flag ORDER BY flag""".stripMargin,

    "q206_sql_merge" ->
      """WITH base AS (
        |  SELECT c_custkey AS ckey, CAST(c_nationkey AS BIGINT) AS nkey,
        |         CAST(FLOOR(c_acctbal) AS BIGINT) AS bal
        |  FROM customer WHERE c_custkey % 3 <> 0),
        |upd AS (
        |  SELECT c_custkey AS ckey, CAST(c_nationkey AS BIGINT) AS nkey,
        |         CAST(FLOOR(c_acctbal) AS BIGINT) + 500 AS bal
        |  FROM customer WHERE c_custkey % 2 = 0),
        |merged AS (
        |  SELECT COALESCE(b.ckey, u.ckey) AS ckey,
        |         COALESCE(b.nkey, u.nkey) AS nkey,
        |         COALESCE(u.bal, b.bal) AS bal
        |  FROM base b FULL OUTER JOIN upd u ON b.ckey = u.ckey)
        |SELECT nkey, CAST(count(*) AS BIGINT) AS n_cust,
        |  CAST(sum(bal) AS BIGINT) AS sum_bal,
        |  CAST(min(ckey) AS BIGINT) AS min_ckey,
        |  CAST(max(ckey) AS BIGINT) AS max_ckey
        |FROM merged GROUP BY nkey ORDER BY nkey""".stripMargin,

    "q207_sql_time_travel" ->
      """WITH src AS (
        |  SELECT o_orderkey AS okey,
        |         CAST(FLOOR(o_totalprice) AS BIGINT) AS price,
        |         CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS mon,
        |         year(CAST(o_orderdate AS DATE)) AS yr
        |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) IN (1995, 1996))
        |SELECT mon,
        |  CAST(count(CASE WHEN yr = 1995 THEN 1 END) AS BIGINT) AS n_v1,
        |  CAST(count(*) AS BIGINT) AS n_all,
        |  CAST(sum(CASE WHEN yr = 1996 THEN price ELSE 0 END) AS BIGINT)
        |    AS price_added
        |FROM src GROUP BY mon
        |HAVING count(CASE WHEN yr = 1995 THEN 1 END) > 0
        |ORDER BY mon""".stripMargin,

    "q208_sql_add_column" ->
      """WITH src AS (
        |  SELECT o_orderkey AS okey,
        |         CAST(FLOOR(o_totalprice) AS BIGINT) AS price,
        |         CASE WHEN year(CAST(o_orderdate AS DATE)) = 1996
        |              THEN CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT)
        |              ELSE -1 END AS mon
        |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) IN (1995, 1996))
        |SELECT mon, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(price) AS BIGINT) AS sum_price,
        |  CAST(min(okey) AS BIGINT) AS min_okey
        |FROM src GROUP BY mon ORDER BY mon""".stripMargin,

    "q209_sql_overwrite" ->
      """WITH src AS (
        |  SELECT o_orderkey AS okey,
        |         CAST(FLOOR(o_totalprice) AS BIGINT) AS price,
        |         CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS mon
        |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1996)
        |SELECT mon, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(price) AS BIGINT) AS sum_price,
        |  CAST(max(okey) AS BIGINT) AS max_okey
        |FROM src GROUP BY mon ORDER BY mon""".stripMargin,

    "q210_sql_sorted_write" ->
      """WITH src AS (
        |  SELECT l_orderkey AS okey,
        |         CAST(FLOOR(l_extendedprice) AS BIGINT) AS price,
        |         CAST(l_quantity AS BIGINT) AS qty
        |  FROM lineitem WHERE l_orderkey % 5 = 0)
        |SELECT price // 10000 AS band, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(qty) AS BIGINT) AS sum_qty,
        |  CAST(min(okey) AS BIGINT) AS min_okey
        |FROM src WHERE price < 20000
        |GROUP BY price // 10000 ORDER BY band""".stripMargin,

    "q211_incremental_dedup" ->
      """WITH docs AS (
        |  SELECT doc_id, lang, md5(text) AS h,
        |         CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 2 END AS b
        |  FROM documents WHERE text IS NOT NULL),
        |firstb AS (SELECT h, min(b) AS mb FROM docs GROUP BY h),
        |winners AS (
        |  SELECT d.h, min(d.doc_id) AS doc_id, min(d.b) AS b
        |  FROM docs d JOIN firstb f ON d.h = f.h AND d.b = f.mb
        |  GROUP BY d.h),
        |labeled AS (
        |  SELECT d.lang,
        |         CASE WHEN w.b = 1 THEN 'base' ELSE 'incr' END AS src,
        |         w.doc_id
        |  FROM winners w JOIN docs d ON d.h = w.h AND d.doc_id = w.doc_id)
        |SELECT lang, src, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(doc_id) AS BIGINT) AS min_id,
        |  CAST(max(doc_id) AS BIGINT) AS max_id
        |FROM labeled GROUP BY lang, src ORDER BY lang, src""".stripMargin,

    "q212_ann_index_table" -> {
      val planeValues = graft.operators.AnnOps.planeWeights(4, 64)
        .map { case (p, d, w) => s"($p,$d,$w)" }.mkString(", ")
      s"""WITH q AS (
         |  SELECT vec_id, list_transform(embedding,
         |    v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000) AS BIGINT)) AS qe
         |  FROM embeddings),
         |planes(p, d, w) AS (VALUES $planeValues),
         |dims AS (
         |  SELECT vec_id, CAST(i - 1 AS INT) AS d, qe[i] AS x
         |  FROM (SELECT vec_id, qe, unnest(range(1, len(qe) + 1)) AS i FROM q)),
         |proj AS (
         |  SELECT vec_id, p, sum(x * w) AS s
         |  FROM dims JOIN planes USING (d) GROUP BY vec_id, p),
         |cells AS (
         |  SELECT vec_id, sum(CASE WHEN s >= 0 THEN 1 << p ELSE 0 END) AS cell
         |  FROM proj GROUP BY vec_id),
         |pairs AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    CAST(list_sum(list_apply(range(1, len(qa.qe) + 1),
         |      i -> qa.qe[i] * qb.qe[i])) AS BIGINT) AS dot
         |  FROM cells a JOIN cells b ON a.cell = b.cell AND b.vec_id <> a.vec_id
         |  JOIN q qa ON qa.vec_id = a.vec_id
         |  JOIN q qb ON qb.vec_id = b.vec_id
         |  WHERE a.vec_id < 20),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY dot DESC, neighbor_id) AS rank FROM pairs)
         |SELECT query_id, neighbor_id, dot, CAST(rank AS BIGINT) AS rank
         |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
    },

    "q183_merge_upsert" ->
      """WITH base AS (
        |  SELECT c_custkey, c_nationkey, CAST(FLOOR(c_acctbal) AS BIGINT) AS bal
        |  FROM customer WHERE c_custkey % 3 <> 0),
        |upd AS (
        |  SELECT o_custkey AS c_custkey,
        |         CAST(sum(CAST(FLOOR(o_totalprice) AS BIGINT)) // 100 AS BIGINT) AS bal
        |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1995
        |  GROUP BY 1),
        |updn AS (
        |  SELECT u.c_custkey, c.c_nationkey, u.bal
        |  FROM upd u JOIN customer c ON u.c_custkey = c.c_custkey),
        |merged AS (
        |  SELECT * FROM updn
        |  UNION ALL
        |  SELECT * FROM base b
        |  WHERE NOT EXISTS (SELECT 1 FROM updn u WHERE u.c_custkey = b.c_custkey))
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_customers,
        |       CAST(sum(bal) AS BIGINT) AS sum_bal
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,

    "q184_wap_publish" ->
      """WITH y AS (
        |  SELECT year(CAST(o_orderdate AS DATE)) AS yr,
        |         month(CAST(o_orderdate AS DATE)) AS m, count(*) AS rc
        |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) IN (1995, 1996)
        |  GROUP BY 1, 2),
        |base AS (SELECT CAST(count(*) AS BIGINT) AS n_files,
        |                CAST(sum(rc) AS BIGINT) AS n_rows FROM y WHERE yr = 1995),
        |yall AS (SELECT CAST(count(*) AS BIGINT) AS n_files,
        |                CAST(sum(rc) AS BIGINT) AS n_rows FROM y)
        |SELECT '1_base' AS phase, n_files, n_rows FROM base
        |UNION ALL SELECT '2_staged_head', n_files, n_rows FROM base
        |UNION ALL SELECT '3_audit_branch', n_files, n_rows FROM yall
        |UNION ALL SELECT '4_published', n_files, n_rows FROM yall
        |ORDER BY phase""".stripMargin,

    "q185_metadata_tables" ->
      """WITH f AS (
        |  SELECT month(CAST(o_orderdate AS DATE)) AS m,
        |         CAST(o_orderkey % 3 AS INT) AS sub,
        |         CAST(count(*) AS BIGINT) AS rc,
        |         CAST(sum(o_custkey % 499) AS BIGINT) AS w
        |  FROM orders GROUP BY 1, 2)
        |SELECT CAST(m AS INT) AS o_month,
        |  CAST(count(*) AS BIGINT) AS file_count,
        |  CAST(sum(rc) AS BIGINT) AS record_count,
        |  CAST(sum((w + 25 * rc) * 512) AS BIGINT) AS total_size,
        |  CAST(CASE WHEN m % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_posdel,
        |  CAST(0 AS BIGINT) AS n_eqdel
        |FROM f GROUP BY m ORDER BY o_month""".stripMargin,

    "q186_schema_evolution" ->
      """WITH v1 AS (
        |  SELECT p_partkey AS pk, CAST(p_size AS INT) AS psize,
        |         CAST(NULL AS VARCHAR) AS brand
        |  FROM part WHERE p_partkey % 2 = 0),
        |v2 AS (
        |  SELECT p_partkey AS pk, CAST(p_size + 1000 AS INT) AS psize, p_brand AS brand
        |  FROM part WHERE p_partkey % 2 = 1),
        |u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
        |SELECT coalesce(brand, '<pre-evolution>') AS brand,
        |  CAST(count(*) AS BIGINT) AS n_parts,
        |  CAST(sum(psize) AS BIGINT) AS sum_psize,
        |  CAST(min(pk) AS BIGINT) AS min_pk, CAST(max(pk) AS BIGINT) AS max_pk
        |FROM u GROUP BY 1 ORDER BY brand""".stripMargin,

    "q187_char_entropy" -> entropySql,

    "q202_dsv2_write_roundtrip" ->
      """SELECT CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT) AS sum_price
        |FROM orders WHERE year(CAST(o_orderdate AS DATE)) IN (1995, 1996)
        |GROUP BY 1 ORDER BY yr""".stripMargin,

    "q201_dsv2_scan" ->
      """WITH l AS (
        |  SELECT l_returnflag AS flag,
        |         CAST(FLOOR(l_extendedprice) AS BIGINT) AS price
        |  FROM lineitem)
        |SELECT flag, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price) AS BIGINT) AS sum_price,
        |  CAST(min(price) AS BIGINT) AS min_price,
        |  CAST(max(price) AS BIGINT) AS max_price
        |FROM l WHERE price >= 60000 AND price < 96000
        |GROUP BY flag ORDER BY flag""".stripMargin,

    "q200_corpus_release_table" -> {
      def term(c: Char) = s"(length(text) - length(replace(text, '$c', '')))"
      val n = Alphabet.map(term).mkString(" + ")
      val s1 = Alphabet.map { c =>
        val tm = term(c)
        s"CASE WHEN $tm > 0 THEN CAST($tm AS BIGINT) * CAST(FLOOR(ln($tm) * 1e6) AS BIGINT) ELSE 0 END"
      }.mkString(" + ")
      s"""WITH d AS (
         |  SELECT doc_id, lang, n_chars, CAST($n AS BIGINT) AS n, $s1 AS s1
         |  FROM documents WHERE text IS NOT NULL),
         |h AS (
         |  SELECT doc_id, lang, n_chars,
         |    CAST(FLOOR(ln(n) * 1e6) AS BIGINT) - s1 // n AS h_mnats
         |  FROM d WHERE n > 0),
         |rel AS (SELECT * FROM h WHERE n_chars >= 150 AND h_mnats >= 2780000)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(min(h_mnats) AS BIGINT) AS min_h_mnats
         |FROM rel GROUP BY lang ORDER BY lang""".stripMargin
    },

    "q199_file_sampling" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k, CAST(FLOOR(o_totalprice) AS BIGINT) AS price,
        |         CAST(o_orderkey % 16 AS INT) AS fid
        |  FROM orders),
        |smp AS (
        |  SELECT CAST(count(*) AS BIGINT) AS rows_sampled,
        |         CAST(sum(price) AS BIGINT) AS sum_sampled
        |  FROM o WHERE fid % 4 = 0),
        |ex AS (
        |  SELECT CAST(count(*) AS BIGINT) AS rows_exact,
        |         CAST(sum(price) AS BIGINT) AS sum_exact
        |  FROM o)
        |SELECT CAST(16 AS BIGINT) AS n_files, CAST(4 AS BIGINT) AS n_sampled,
        |  rows_exact AS rows_total_meta, rows_sampled,
        |  (sum_sampled * 100) // rows_sampled AS avg_c_sampled,
        |  (sum_exact * 100) // rows_exact AS avg_c_exact,
        |  abs((sum_sampled * 100) // rows_sampled - (sum_exact * 100) // rows_exact)
        |    * 10000 // ((sum_exact * 100) // rows_exact) AS err_bp
        |FROM smp CROSS JOIN ex""".stripMargin,

    "q198_puffin_bloom_filter" ->
      """WITH build AS (
        |  SELECT DISTINCT o_orderkey AS k FROM orders
        |  WHERE o_orderpriority = '1-URGENT' AND year(o_orderdate) = 1996),
        |bh AS (
        |  SELECT CAST('0x' || substring(md5('pbf:' || CAST(k AS VARCHAR)), 1, 7) AS BIGINT) AS h
        |  FROM build),
        |bp AS (
        |  SELECT h % 4096 AS p FROM bh
        |  UNION ALL SELECT (h // 4096) % 4096 FROM bh),
        |bloom AS (
        |  SELECT p // 63 AS w, bit_or(CAST(1 AS BIGINT) << CAST(p % 63 AS INT)) AS bits
        |  FROM bp GROUP BY p // 63),
        |probes AS (
        |  SELECT l_orderkey AS pk,
        |    CAST('0x' || substring(md5('pbf:' || CAST(l_orderkey AS VARCHAR)), 1, 7) AS BIGINT) AS h
        |  FROM lineitem),
        |t AS (SELECT pk, h % 4096 AS p1, (h // 4096) % 4096 AS p2 FROM probes),
        |tested AS (
        |  SELECT pk,
        |    COALESCE((b1.bits >> CAST(p1 % 63 AS INT)) & 1 = 1, false)
        |      AND COALESCE((b2.bits >> CAST(p2 % 63 AS INT)) & 1 = 1, false) AS pass,
        |    pk IN (SELECT k FROM build) AS ex
        |  FROM t
        |  LEFT JOIN bloom b1 ON p1 // 63 = b1.w
        |  LEFT JOIN bloom b2 ON p2 // 63 = b2.w)
        |SELECT CAST(count(*) AS BIGINT) AS n_probes,
        |  CAST(count(CASE WHEN ex THEN 1 END) AS BIGINT) AS n_exact,
        |  CAST(count(CASE WHEN pass THEN 1 END) AS BIGINT) AS n_pass,
        |  CAST(count(CASE WHEN pass AND NOT ex THEN 1 END) AS BIGINT) AS n_false_pos,
        |  CAST(count(CASE WHEN NOT pass AND ex THEN 1 END) AS BIGINT) AS n_false_neg,
        |  CASE WHEN count(*) = count(CASE WHEN ex THEN 1 END) THEN NULL
        |    ELSE (count(CASE WHEN pass AND NOT ex THEN 1 END) * 10000)
        |      // (count(*) - count(CASE WHEN ex THEN 1 END)) END AS fp_bp
        |FROM tested""".stripMargin,

    "q195_cdc_merge_commit" ->
      """WITH base AS (
        |  SELECT c_custkey, c_nationkey, CAST(FLOOR(c_acctbal) AS BIGINT) AS bal
        |  FROM customer WHERE c_custkey % 4 <> 0),
        |chg AS (
        |  SELECT o_custkey AS c_custkey,
        |         CAST(sum(CAST(FLOOR(o_totalprice) AS BIGINT)) // 100 AS BIGINT) AS bal,
        |         CASE WHEN o_custkey % 5 = 0 THEN 'D' ELSE 'U' END AS op
        |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1996
        |  GROUP BY 1, 3),
        |chgn AS (
        |  SELECT g.c_custkey, c.c_nationkey, g.bal, g.op
        |  FROM chg g JOIN customer c ON g.c_custkey = c.c_custkey),
        |merged AS (
        |  SELECT c_custkey, c_nationkey, bal FROM chgn WHERE op <> 'D'
        |  UNION ALL
        |  SELECT * FROM base b
        |  WHERE NOT EXISTS (SELECT 1 FROM chgn g WHERE g.c_custkey = b.c_custkey))
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_customers,
        |       CAST(sum(bal) AS BIGINT) AS sum_bal
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,

    "q196_intersect" ->
      """WITH a AS (SELECT DISTINCT o_custkey FROM orders
        |           WHERE month(CAST(o_orderdate AS DATE)) <= 6),
        |b AS (SELECT DISTINCT o_custkey FROM orders
        |      WHERE month(CAST(o_orderdate AS DATE)) > 6),
        |i AS (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_repeat_buyers
        |FROM i JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY c_nationkey""".stripMargin,

    "q197_unpivot" ->
      """WITH w AS (
        |  SELECT o_custkey % 100 AS ckey_band,
        |    CAST(count(*) AS BIGINT) AS n_orders,
        |    CAST(sum(CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT) AS sum_rev,
        |    CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs
        |  FROM orders GROUP BY 1)
        |SELECT ckey_band, 'n_orders' AS metric, n_orders AS value FROM w
        |UNION ALL SELECT ckey_band, 'n_custs', n_custs FROM w
        |UNION ALL SELECT ckey_band, 'sum_rev', sum_rev FROM w
        |ORDER BY ckey_band, metric""".stripMargin,

    "q193_delete_where" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderpriority AS prio,
        |         CAST(FLOOR(o_totalprice) AS BIGINT) AS price
        |  FROM orders WHERE o_orderkey % 50 < 3)
        |SELECT prio, CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(price) AS BIGINT) AS sum_price
        |FROM base WHERE NOT (price < 50000 OR prio = '1-URGENT')
        |GROUP BY 1 ORDER BY prio""".stripMargin,

    "q194_commit_audit" ->
      """WITH base AS (
        |  SELECT c_custkey AS k FROM customer WHERE c_custkey % 3 <> 0),
        |upd AS (
        |  SELECT DISTINCT o_custkey AS k FROM orders
        |  WHERE year(CAST(o_orderdate AS DATE)) = 1995),
        |m AS (SELECT k FROM upd UNION SELECT k FROM base),
        |fin AS (SELECT k FROM m WHERE k % 7 <> 0),
        |c AS (SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM base) AS n_base,
        |  (SELECT CAST(count(*) AS BIGINT) FROM upd) AS n_upd,
        |  (SELECT CAST(count(*) AS BIGINT) FROM fin) AS n_fin)
        |SELECT CAST(1 AS INT) AS ordinal, CAST(1 AS BIGINT) AS files_added,
        |  CAST(0 AS BIGINT) AS files_removed, CAST(0 AS BIGINT) AS tombstones_added,
        |  n_base AS rows_added, CAST(0 AS BIGINT) AS rows_removed FROM c
        |UNION ALL SELECT 2, 1, 0, 1, n_upd, 0 FROM c
        |UNION ALL SELECT 3, 0, 0, 1, 0, 0 FROM c
        |UNION ALL SELECT 4, 1, 2, 0, n_fin, n_base + n_upd FROM c
        |ORDER BY ordinal""".stripMargin,

    "q192_rewrite_data_files" ->
      """WITH base AS (
        |  SELECT p_partkey AS k, p_brand AS b,
        |         CAST(FLOOR(p_retailprice) AS BIGINT) AS price
        |  FROM part WHERE p_partkey % 4 <> 3),
        |upd AS (
        |  SELECT p_partkey AS k, p_brand AS b,
        |         CAST(FLOOR(p_retailprice) AS BIGINT) + 10000 AS price
        |  FROM part WHERE p_size > 25),
        |m AS (
        |  SELECT * FROM upd
        |  UNION ALL
        |  SELECT * FROM base WHERE k NOT IN (SELECT k FROM upd)),
        |fin AS (SELECT * FROM m WHERE k % 10 <> 0)
        |SELECT b AS p_brand, CAST(count(*) AS BIGINT) AS n_parts,
        |       CAST(sum(price) AS BIGINT) AS sum_price
        |FROM fin GROUP BY 1 ORDER BY p_brand""".stripMargin,

    "q189_tokenizer_fertility" ->
      """WITH d AS (
        |  SELECT lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ws,
        |    CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS re,
        |    CAST(length(text) AS BIGINT) AS ch
        |  FROM documents WHERE text IS NOT NULL),
        |a AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(ws) AS BIGINT) AS ws_tokens,
        |    CAST(sum(re) AS BIGINT) AS re_tokens,
        |    CAST(sum(ch) AS BIGINT) AS n_chars
        |  FROM d GROUP BY lang)
        |SELECT lang, n_docs, ws_tokens, re_tokens,
        |  (re_tokens * 10000) // ws_tokens AS fertility_bp,
        |  (n_chars * 10000) // re_tokens AS chars_per_token_bp
        |FROM a ORDER BY lang""".stripMargin,

    "q190_robust_scaling" ->
      """WITH docs AS (
        |  SELECT source, n_chars AS len FROM documents WHERE text IS NOT NULL),
        |mc AS (SELECT source, len, count(*) AS c FROM docs GROUP BY 1, 2),
        |mcum AS (
        |  SELECT source, len,
        |    sum(c) OVER (PARTITION BY source ORDER BY len) AS cum,
        |    sum(c) OVER (PARTITION BY source) AS n
        |  FROM mc),
        |med AS (SELECT source, CAST(min(len) AS BIGINT) AS median_len
        |        FROM mcum WHERE cum * 2 >= n + 1 GROUP BY source),
        |dev AS (
        |  SELECT d.source, abs(d.len - m.median_len) AS dv
        |  FROM docs d JOIN med m ON d.source = m.source),
        |dc AS (SELECT source, dv, count(*) AS c FROM dev GROUP BY 1, 2),
        |dcum AS (
        |  SELECT source, dv,
        |    sum(c) OVER (PARTITION BY source ORDER BY dv) AS cum,
        |    sum(c) OVER (PARTITION BY source) AS n
        |  FROM dc),
        |mad AS (SELECT source, CAST(min(dv) AS BIGINT) AS mad_len
        |        FROM dcum WHERE cum * 2 >= n + 1 GROUP BY source)
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(max(m.median_len) AS BIGINT) AS median_len,
        |  CAST(max(a.mad_len) AS BIGINT) AS mad_len,
        |  CAST(sum(CASE WHEN abs(d.len - m.median_len) > 3 * a.mad_len
        |       THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM docs d JOIN med m ON d.source = m.source
        |            JOIN mad a ON d.source = a.source
        |GROUP BY d.source ORDER BY d.source""".stripMargin,

    "q191_zorder_skipping" -> {
      val mz = MortonSql.interleave6("px", "sx")
      s"""WITH pairs AS (
         |  SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
         |dom AS (SELECT max(pk) AS pmax, max(sk) AS smax FROM pairs),
         |g AS (
         |  SELECT (pk * 64) // (pmax + 1) AS px, (sk * 64) // (smax + 1) AS sx
         |  FROM pairs CROSS JOIN dom),
         |gm AS (
         |  SELECT px, sx, $mz AS mz,
         |    px // 4 AS fid_lin,
         |    ($mz) // 256 AS fid_z,
         |    (px >= 16 AND px < 32 AND sx >= 16 AND sx < 32) AS hit
         |  FROM g),
         |lin AS (
         |  SELECT fid_lin AS fid, min(px) AS plo, max(px) AS phi,
         |         min(sx) AS slo, max(sx) AS shi,
         |         count(*) AS n_pairs, sum(CASE WHEN hit THEN 1 ELSE 0 END) AS n_hit
         |  FROM gm GROUP BY 1),
         |zo AS (
         |  SELECT fid_z AS fid, min(px) AS plo, max(px) AS phi,
         |         min(sx) AS slo, max(sx) AS shi,
         |         count(*) AS n_pairs, sum(CASE WHEN hit THEN 1 ELSE 0 END) AS n_hit
         |  FROM gm GROUP BY 1),
         |roll AS (
         |  SELECT '1_linear' AS layout, CAST(count(*) AS BIGINT) AS n_files,
         |    CAST(sum(CASE WHEN phi >= 16 AND plo < 32 AND shi >= 16 AND slo < 32
         |         THEN 1 ELSE 0 END) AS BIGINT) AS files_touched,
         |    CAST(sum(CASE WHEN phi >= 16 AND plo < 32 AND shi >= 16 AND slo < 32
         |         THEN n_pairs ELSE 0 END) AS BIGINT) AS pairs_scanned,
         |    CAST(sum(n_hit) AS BIGINT) AS pairs_matching
         |  FROM lin
         |  UNION ALL
         |  SELECT '2_zorder', CAST(count(*) AS BIGINT),
         |    CAST(sum(CASE WHEN phi >= 16 AND plo < 32 AND shi >= 16 AND slo < 32
         |         THEN 1 ELSE 0 END) AS BIGINT),
         |    CAST(sum(CASE WHEN phi >= 16 AND plo < 32 AND shi >= 16 AND slo < 32
         |         THEN n_pairs ELSE 0 END) AS BIGINT),
         |    CAST(sum(n_hit) AS BIGINT)
         |  FROM zo)
         |SELECT layout, n_files, files_touched, pairs_scanned, pairs_matching
         |FROM roll ORDER BY layout""".stripMargin
    },

    "q188_bucketed_join" ->
      """SELECT o_custkey, c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT) AS sum_total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_custkey % 100 < 7 AND c_custkey % 100 < 7
        |GROUP BY 1, 2 ORDER BY o_custkey, c_mktsegment""".stripMargin)
}
