package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericRecord}
import org.apache.avro.mapred.FsInput
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.FileEntry

/** REAL Iceberg manifest (Avro) reading — S5 without an Iceberg runtime.
  *
  * The reference loads a snapshot's manifests and collects every live
  * entry's data_file with no partition/metrics filtering
  * (`/root/reference/icebergdiag/diagnostics/manager.py:154-186`, via
  * pyiceberg `_open_manifest` whose `fetch_manifest_entry(io,
  * discard_deleted=True)` drops only status=2 DELETED entries), and the
  * manifest count is the snapshot's manifest-list length. This mirror
  * reads the same two Avro surfaces with the core Avro library (on
  * Spark's classpath — no spark-avro module needed):
  *
  *   - the snapshot's MANIFEST LIST (one small Avro file, driver-side:
  *     it is a list of manifest paths, KBs);
  *   - each MANIFEST file DISTRIBUTED — one task per manifest via an RDD
  *     of paths, streamed lazily (the Avro reader hands out one entry at
  *     a time; per-task memory stays O(1) even on a pathological
  *     multi-GB manifest). Manifest reading is the one per-partition
  *     imperative step in this engine (Spark has no built-in reader for
  *     the format); at 100 TB a table has thousands of manifests and
  *     this scan parallelizes across executors exactly like Iceberg's
  *     own planning.
  *
  * Schema handling matches the spec duality: v2 manifests carry
  * `data_file.content` (0=data, 1=position deletes, 2=equality deletes);
  * v1 manifests have no `content` field — every file is a DataFile
  * (content 0). `partition` is a record whose canonical string form is
  * JSON in partition-spec field order with null fields omitted — the
  * same shape `IcebergFilesSource.fromMetadataTable` gets from
  * `to_json(partition)`.
  *
  * Beyond the 9-metric (content, partition, size) projection, the
  * data_file record carries the column statistics the reference's
  * `DataFile` exposes untouched (`manager.py:154-186`): `record_count`
  * and per-field-id `lower_bounds`/`upper_bounds` serialized per the
  * Iceberg spec's single-value binary form (little-endian for
  * int/long/float/double, UTF-8 for strings). [[statsFromManifests]]
  * surfaces those as a typed relation for min/max scan pruning (q151).
  */
object IcebergManifestSource {

  /** Full table-directory resolution (the reference's `load_table` →
    * `scan.snapshot()` chain, `manager.py:149-176`): find the current
    * metadata JSON under `<tableDir>/metadata/` (version-hint.text when
    * present, else the highest `*.metadata.json`), resolve
    * current-snapshot-id to its snapshot's manifest list, and read it.
    * A table with NO current snapshot returns (empty, 0) — the S6
    * empty-snapshot short-circuit on the real format, which the metrics
    * pipeline folds into the manifest-seeded all-zero row. The metadata
    * JSON is parsed on the driver by Jackson ([[readDocument]]): an
    * empty, truncated or non-object current document throws an error
    * naming the file instead of reading as a snapshot-less table. */
  def fromTableDir(spark: SparkSession, tableDir: String,
      table: String, snapshotId: Option[Long] = None): (Dataset[FileEntry], Long) = {
    import spark.implicits._
    resolveManifestList(spark, tableDir, snapshotId) match {
      case Some(p) => fromManifestList(spark, p, table)
      case None => (spark.emptyDataset[FileEntry], 0L)
    }
  }

  /** The stats twin of [[fromTableDir]]: same resolution chain, but the
    * manifests yield the typed per-file statistics relation. An empty or
    * snapshot-less table gives an empty relation with the full schema.
    * `snapshotId` pins a PAST snapshot (time travel / `VERSION AS OF`);
    * None reads the current one. */
  def statsFromTableDir(spark: SparkSession, tableDir: String, table: String,
      fields: Seq[(Int, String, DataType)],
      snapshotId: Option[Long] = None): DataFrame =
    resolveManifestList(spark, tableDir, snapshotId) match {
      case Some(p) =>
        // manifest-list rows carry each manifest's sequence number AND
        // its partition_spec_id — both ride onto every entry
        val rows = manifestList(spark.sparkContext.hadoopConfiguration, p)
          .map(r => (r.path, r.sequenceNumber, r.specId))
        statsFromManifestSpecSeqs(spark, rows, table, fields)
      case None =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], statsSchema(fields))
    }

  private def entriesSchema(
      fields: Seq[(Int, String, DataType)] = Nil): StructType =
    StructType(Seq(
      StructField("status", IntegerType), StructField("snapshot_id", LongType),
      StructField("sequence_number", LongType),
      StructField("content", IntegerType), StructField("file_path", StringType),
      StructField("file_format", StringType),
      StructField("record_count", LongType),
      StructField("file_size_in_bytes", LongType),
      StructField("partition", StringType)) ++
      fields.flatMap { case (_, nm, dt) =>
        Seq(StructField(s"lo_$nm", dt), StructField(s"hi_$nm", dt),
          StructField(s"vc_$nm", LongType), StructField(s"nc_$nm", LongType),
          StructField(s"xc_$nm", LongType), StructField(s"sz_$nm", LongType))
      })

  /** ALL entries (any status — 0 existing / 1 added / 2 deleted) of one
    * manifest, as `$entries` rows. Null entry snapshot_id inherits the
    * manifest's own added_snapshot_id; a null ADDED sequence_number
    * inherits the manifest's (spec "Sequence Number Inheritance"). The
    * status stays visible — unlike every query-path scan, this is the
    * DEBUGGING relation where deleted entries matter. */
  private[sources] def readEntryRows(path: String, conf: Configuration,
      inheritSeq: Long, inheritSnap: Long,
      fields: Seq[(Int, String, DataType)] = Nil): Iterator[Row] = {
    val tableDir =
      new java.io.File(path).getParentFile.getParentFile.getAbsolutePath
    readAvroIterator(conf, path) { e =>
      val df = e.get("data_file").asInstanceOf[GenericRecord]
      val status = e.get("status").asInstanceOf[Int]
      val snap =
        if (e.getSchema.getField("snapshot_id") == null) inheritSnap
        else Option(e.get("snapshot_id")).map(_.asInstanceOf[Long])
          .getOrElse(inheritSnap)
      val seq =
        if (e.getSchema.getField("sequence_number") == null) 0L
        else Option(e.get("sequence_number")).map(_.asInstanceOf[Long])
          .getOrElse(inheritSeq)
      val bounds: Seq[Any] =
        if (fields.isEmpty) Nil
        else {
          val lo = boundsMap(df, "lower_bounds")
          val hi = boundsMap(df, "upper_bounds")
          val vc = countsMap(df, "value_counts")
          val nc = countsMap(df, "null_value_counts")
          val xc = countsMap(df, "nan_value_counts")
          val sz = countsMap(df, "column_sizes")
          fields.flatMap { case (id, _, dt) =>
            Seq(lo.get(id).map(decodeBound(_, dt)).orNull,
              hi.get(id).map(decodeBound(_, dt)).orNull,
              vc.get(id).map(Long.box).orNull,
              nc.get(id).map(Long.box).orNull,
              xc.get(id).map(Long.box).orNull,
              sz.get(id).map(Long.box).orNull)
          }
        }
      Iterator.single(Row.fromSeq(Seq(status, snap, seq, fileContent(df),
        Relocate.data(tableDir,
          Option(df.get("file_path")).map(_.toString).getOrElse("")),
        if (df.getSchema.getField("file_format") == null) "PARQUET"
        else Option(df.get("file_format")).map(_.toString)
          .getOrElse("PARQUET"),
        if (df.getSchema.getField("record_count") == null) 0L
        else Option(df.get("record_count")).fold(0L)(_.asInstanceOf[Long]),
        df.get("file_size_in_bytes").asInstanceOf[Long],
        partitionKeyOf(df)) ++ bounds))
    }
  }

  /** The `$entries` relation of one snapshot: every manifest entry with
    * its status — the standard debugging table (which commit added or
    * logically deleted which file). Driver-side under the same
    * manifest-count cap as [[statsFromManifestSeqs]], one task per
    * manifest past it. */
  def entriesFromTableDir(spark: SparkSession, tableDir: String,
      snapshotId: Option[Long] = None,
      fields: Seq[(Int, String, DataType)] = Nil): DataFrame =
    resolveManifestList(spark, tableDir, snapshotId) match {
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], entriesSchema(fields))
      case Some(p) =>
        val manifests = manifestList(spark.sparkContext.hadoopConfiguration, p)
          .map(r => (r.path, r.sequenceNumber, r.addedSnapshotId))
        entriesFromManifests(spark, manifests, fields)
    }

  /** The `$entries` relation of an explicit (path, seq, added_snapshot)
    * manifest set — the unit [[entriesFromTableDir]] resolves per
    * snapshot, and what `$all_entries` feeds with the DISTINCT manifest
    * set of the whole history (each immutable manifest read once).
    * Driver-side under the manifest-count cap, one task per manifest
    * past it. */
  def entriesFromManifests(spark: SparkSession,
      manifests: Seq[(String, Long, Long)],
      fields: Seq[(Int, String, DataType)] = Nil,
      distinctRows: Boolean = false): DataFrame = {
    if (manifests.size <= driverManifestCap(spark)) {
      val hconf = spark.sparkContext.hadoopConfiguration
      val rows = manifests.flatMap { case (mp, seq, snap) =>
        readEntryRows(mp, hconf, seq, snap, fields) }
      // caller-requested distinct folds into the DRIVER pass: the
      // consumer then reads a LocalRelation with no dedupe exchange
      val out = if (distinctRows) rows.distinct else rows
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(out.asJava, entriesSchema(fields))
    } else {
      val conf = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      val n = math.max(1,
        math.min(manifests.size, spark.sparkContext.defaultParallelism))
      val fieldSpec = fields
      val rows = spark.sparkContext.parallelize(manifests, n)
        .flatMap { case (mp, seq, snap) =>
          readEntryRows(mp, conf.value, seq, snap, fieldSpec) }
      val df = spark.createDataFrame(rows, entriesSchema(fields))
      if (distinctRows) df.distinct() else df
    }
  }

  /** Incremental snapshot changelog: which files a snapshot range added
    * and removed, with their record-count/size deltas — straight from
    * manifest metadata, no data files touched (Iceberg's
    * changelog/incremental-read surface; the q52 snapshot-diff semantics
    * applied to a REAL layout). Each endpoint is the lazy distributed
    * manifest scan pinned to its snapshot; the diff is ONE full-outer
    * join on file_path over manifest-sized relations, so a 100k-file
    * table diffs in a single small shuffle with zero data I/O. Output:
    * (file_path, content, change ∈ added|removed, record_count,
    * size_bytes) — unchanged files drop out. Endpoints may be resolved
    * from named refs via [[refSnapshotId]]. */
  def changesBetween(spark: SparkSession, tableDir: String, table: String,
      fromSnapshotId: Long, toSnapshotId: Long): DataFrame = {
    def side(id: Long) =
      statsFromTableDir(spark, tableDir, table, Nil, Some(id))
        .select(col("file_path"), col("content"),
          col("record_count"), col("sizeBytes"))
    val before = side(fromSnapshotId)
      .withColumnRenamed("content", "c_b")
      .withColumnRenamed("record_count", "rc_b")
      .withColumnRenamed("sizeBytes", "sz_b")
    val after = side(toSnapshotId)
      .withColumnRenamed("content", "c_a")
      .withColumnRenamed("record_count", "rc_a")
      .withColumnRenamed("sizeBytes", "sz_a")
    before.join(after, Seq("file_path"), "full_outer")
      .filter(col("rc_b").isNull || col("rc_a").isNull)
      .select(col("file_path"),
        coalesce(col("c_a"), col("c_b")).as("content"),
        when(col("rc_b").isNull, lit("added")).otherwise(lit("removed")).as("change"),
        coalesce(col("rc_a"), col("rc_b")).as("record_count"),
        coalesce(col("sz_a"), col("sz_b")).as("size_bytes"))
  }

  /** Relocation tolerance: the layout stores absolute paths, so a moved
    * or renamed table dir (e.g. the catalog's `ALTER TABLE ... RENAME`)
    * leaves every stored path stale. All layout files live UNDER the
    * table dir by construction (manifest lists + manifests in
    * `metadata/`, data files in `data/…`), so a stale local path
    * re-roots onto the current dir by its suffix. Probes only fire for
    * scheme-less local paths that are not already under the new root —
    * an unmoved table (or an object-store layout) never stats. */
  private[sources] object Relocate {
    def meta(metaDirFile: java.io.File, p: String): String =
      if (!p.startsWith("/") || new java.io.File(p).exists()) p
      else new java.io.File(metaDirFile,
        new java.io.File(p).getName).getAbsolutePath
    def data(tableDir: String, p: String): String = {
      if (!p.startsWith("/") || p.startsWith(tableDir + "/") ||
          new java.io.File(p).exists()) p
      else {
        val i = p.lastIndexOf("/data/")
        if (i < 0) p else tableDir + p.substring(i)
      }
    }
  }

  /** Current metadata file → snapshot id (the given one, else
    * current-snapshot-id) → manifest-list path.
    * version-hint.text normally holds a bare version integer; some
    * writers store the full metadata FILENAME instead — if the hinted
    * `v<N>.metadata.json` does not exist, the hint content is tried as a
    * filename, and a dead hint falls back to the listing resolution
    * rather than failing with a FileNotFoundException. */
  private[sources] def resolveManifestList(spark: SparkSession,
      tableDir: String, snapshotId: Option[Long] = None): Option[String] = {
    val md = currentMetadata(spark, tableDir)
    // defensive: an empty `snapshots: []`, a snapshot-less table
    // omitting current-snapshot-id entirely, or -1 sentinel
    val curId: Option[Long] = snapshotId.orElse {
      Option(md.get("current-snapshot-id"))
        .filter(_.canConvertToLong).map(_.asLong()).filter(_ != -1L)
    }
    curId.flatMap { id =>
      Option(md.get("snapshots")).filter(_.isArray).flatMap { arr =>
        var found: Option[String] = None
        arr.forEach { n =>
          val sid = n.get("snapshot-id")
          val list = n.get("manifest-list")
          if (found.isEmpty && sid != null && sid.canConvertToLong
              && sid.asLong() == id && list != null && list.isTextual)
            found = Some(list.asText())
        }
        found.map(Relocate.meta(
          new java.io.File(tableDir, "metadata"), _))
      }
    }
  }

  /** Snapshot id of a named BRANCH or TAG from the metadata `refs` map
    * (Iceberg's named-reference surface — `spark.read ... AS OF 'name'`).
    * None when the table has no refs or the name is absent. */
  def refSnapshotId(spark: SparkSession, tableDir: String,
      ref: String): Option[Long] =
    Option(currentMetadata(spark, tableDir).get("refs"))
      .flatMap(rs => Option(rs.get(ref)))
      .flatMap(r => Option(r.get("snapshot-id")))
      .filter(_.canConvertToLong).map(_.asLong())

  /** The table's DEFAULT partition spec as (field-name, transform,
    * source-id) rows, from the metadata `partition-specs` array (spec
    * "Partition Specs") — how a reader learns that partition value
    * `ts_day=17486` means `day(ts)` and `id_bucket=3` means
    * `bucket[4](id)`. Empty for unpartitioned tables, v1-style metadata
    * without the field, or an unresolvable default-spec-id. Driver-side
    * Jackson over the one metadata document (KBs). */
  def partitionSpec(spark: SparkSession,
      tableDir: String): Seq[(String, String, Int)] = {
    val (defaultId, all) = partitionSpecs(spark, tableDir)
    all.find(_._1 == defaultId).map(_._2).getOrElse(Nil)
  }

  /** EVERY partition spec in the metadata as (spec-id, fields) plus the
    * default-spec-id — the full evolution history. A table whose spec
    * changed mid-life has manifests written under different spec-ids
    * (each manifest-list row names its spec, [[ManifestListRow]]`.specId`);
    * interpreting an old file's partition values needs its OWN spec, not
    * the current default. */
  def partitionSpecs(spark: SparkSession,
      tableDir: String): (Int, Seq[(Int, Seq[(String, String, Int)])]) = {
    val root = currentMetadata(spark, tableDir)
    val specs = root.get("partition-specs")
    val defaultId =
      Option(root.get("default-spec-id")).filter(_.canConvertToLong)
        .map(_.asInt()).getOrElse(0)
    if (specs == null || !specs.isArray) (defaultId, Nil)
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Seq[(String, String, Int)])]
      val it = specs.elements()
      while (it.hasNext) {
        val s = it.next()
        val specId = Option(s.get("spec-id")).map(_.asInt()).getOrElse(0)
        val fields = Option(s.get("fields")).filter(_.isArray).toSeq.flatMap { fieldsNode =>
          val fit = fieldsNode.elements()
          val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String, Int)]
          while (fit.hasNext) {
            val f = fit.next()
            val name = Option(f.get("name")).map(_.asText()).getOrElse("")
            val transform = Option(f.get("transform")).map(_.asText()).getOrElse("identity")
            val srcId = Option(f.get("source-id")).map(_.asInt()).getOrElse(-1)
            buf += ((name, transform, srcId))
          }
          buf.toSeq
        }
        out += ((specId, fields))
      }
      (defaultId, out.toSeq)
    }
  }

  /** The table's default sort order as (source-id, transform, direction,
    * null-order) rows from metadata `sort-orders` (spec "Sort Orders") —
    * how a reader learns the data files are write-clustered (a z-order
    * or sorted compaction registers itself here). Empty when unsorted
    * (no sort-orders field, or default-sort-order-id 0 / unresolvable). */
  def sortOrder(spark: SparkSession,
      tableDir: String): Seq[(Int, String, String, String)] = {
    val root = currentMetadata(spark, tableDir)
    val orders = root.get("sort-orders")
    val defaultId =
      Option(root.get("default-sort-order-id")).filter(_.canConvertToLong)
        .map(_.asInt()).getOrElse(0)
    if (orders == null || !orders.isArray || defaultId == 0) Nil
    else {
      val it = orders.elements()
      var out = Seq.empty[(Int, String, String, String)]
      while (it.hasNext) {
        val o = it.next()
        if (Option(o.get("order-id")).exists(_.asInt() == defaultId)) {
          val fit = Option(o.get("fields")).filter(_.isArray)
            .map(_.elements()).getOrElse(java.util.Collections.emptyIterator())
          val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String)]
          while (fit.hasNext) {
            val f = fit.next()
            buf += ((Option(f.get("source-id")).map(_.asInt()).getOrElse(-1),
              Option(f.get("transform")).map(_.asText()).getOrElse("identity"),
              Option(f.get("direction")).map(_.asText()).getOrElse("asc"),
              Option(f.get("null-order")).map(_.asText()).getOrElse("nulls-first")))
          }
          out = buf.toSeq
        }
      }
      out
    }
  }

  /** DATA-manifest paths whose summary for partition field `fieldIndex`
    * may overlap [lo, hi] — [[ManifestListRow.mayOverlap]] over the
    * decoded list. */
  def manifestsOverlapping(conf: Configuration, manifestListPath: String,
      fieldIndex: Int, lo: Long, hi: Long): Seq[String] =
    manifestList(conf, manifestListPath)
      .filter(_.mayOverlap(fieldIndex, lo, hi)).map(_.path)

  /** The manifest-list path of a snapshot (current when None) — public
    * so planners can compose manifest-level pruning with
    * [[fromManifests]]. */
  def manifestListPath(spark: SparkSession, tableDir: String,
      snapshotId: Option[Long] = None): Option[String] =
    resolveManifestList(spark, tableDir, snapshotId)

  /** Statistics files registered in the metadata `statistics` array
    * (spec "Table statistics"): (snapshot-id, statistics-path) rows — a
    * planner resolves its snapshot's entry and reads the Puffin blobs
    * ([[PuffinIO.read]]) instead of scanning data. Empty when the table
    * carries no statistics. */
  def statisticsFiles(spark: SparkSession,
      tableDir: String): Seq[(Long, String)] = {
    val arr = currentMetadata(spark, tableDir).get("statistics")
    if (arr == null || !arr.isArray) Nil
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      arr.forEach { n =>
        val sid = Option(n.get("snapshot-id")).filter(_.canConvertToLong)
        val path = Option(n.get("statistics-path")).map(_.asText())
        for (s <- sid; pp <- path) out += ((s.asLong(), pp))
      }
      out.toSeq
    }
  }

  private val VersionedMetadata = "^v(\\d+)\\.metadata\\.json$".r

  /** The version N of a `vN.metadata.json` file name; None for any
    * other name (metastore UUID styles, the hint, temp files). */
  private[sources] def metadataVersion(fileName: String): Option[Long] =
    VersionedMetadata.findFirstMatchIn(fileName).map(_.group(1).toLong)

  /** True when `tableDir` has table metadata: a version hint or any
    * `*.metadata.json` under `metadata/`. The one existence probe — a
    * descriptor-only (created, never written) table answers false. */
  private[sources] def hasMetadata(tableDir: String): Boolean = {
    val m = new java.io.File(tableDir, "metadata")
    new java.io.File(m, "version-hint.text").exists() ||
      Option(m.listFiles()).exists(_.exists(
        _.getName.endsWith(".metadata.json")))
  }

  /** Locate the CURRENT metadata JSON (version-hint integer,
    * hint-as-filename, or numeric-version listing fallback) — the ONE
    * resolver, shared with [[LayoutMaintenance]] so reader and
    * maintenance can never disagree about which file is current. */
  private[sources] def currentMetadataPath(spark: SparkSession,
      tableDir: String): Path = {
    val conf = spark.sparkContext.hadoopConfiguration
    val meta = new Path(tableDir, "metadata")
    val fs = meta.getFileSystem(conf)
    def byListing: Path = {
      val cands = fs.listStatus(meta).map(_.getPath)
        .filter(_.getName.endsWith(".metadata.json"))
      require(cands.nonEmpty, s"no *.metadata.json under $meta")
      // NUMERIC version order: lexicographic maxBy would rank v9 above
      // v10; non-vN names (metastore UUID styles) sort by name below any
      // parsed version
      cands.maxBy(p => (metadataVersion(p.getName).getOrElse(-1L), p.getName))
    }
    val hint = new Path(meta, "version-hint.text")
    if (fs.exists(hint)) {
      val in = fs.open(hint)
      val h = try scala.io.Source.fromInputStream(in).mkString.trim finally in.close()
      // an EMPTY hint is a hint mid-rewrite (a concurrent committer, or
      // a legacy non-atomic writer) — fall back to listing rather than
      // building a Path from "" (a live streaming poll raced exactly
      // this window before hint writes went atomic)
      if (h.isEmpty) byListing
      else {
        val numeric = if (h.forall(_.isDigit))
          Some(new Path(meta, s"v$h.metadata.json")) else None
        numeric.filter(fs.exists)
          .orElse(Some(new Path(meta, h)).filter(fs.exists)) // hint = filename
          .getOrElse(byListing)
      }
    } else byListing
  }

  /** The current metadata document of `tableDir` ([[currentMetadataPath]]
    * parsed by [[readDocument]]) — the one current-metadata read of the
    * reader, the commits and the metadata tables. DRIVER-SIDE Jackson
    * over one KB-sized file, exactly how a real Iceberg client reads it:
    * commits read it several times each, so no Spark job may sit here. */
  private[sources] def currentMetadata(spark: SparkSession,
      tableDir: String): ObjectNode =
    readDocument(spark.sparkContext.hadoopConfiguration,
      currentMetadataPath(spark, tableDir))

  private val documentMapper = new ObjectMapper()

  /** THE reader of every JSON document a table stores. It covers:
    *   - metadata versions `metadata/vN.metadata.json` — the current one
    *     via [[currentMetadata]], a pinned one (a commit's base, the
    *     `$metadata_log_entries` listing) by path;
    *   - the catalog descriptor `graft-table.json`;
    *   - the catalog's view documents and namespace `.namespace.json`;
    *   - the streaming sink's epoch ledger `metadata/streaming-epochs.json`.
    * Reads go through the Hadoop FileSystem of `p`. An unreadable, empty,
    * truncated or non-object document fails with an error that NAMES the
    * file: it must never read as "no snapshots" or "no properties".
    * (Partition-key JSON strings and Puffin footers are payloads inside
    * other files, parsed by their own readers.) */
  private[sources] def readDocument(conf: Configuration, p: Path): ObjectNode = {
    val node =
      try {
        val in = p.getFileSystem(conf).open(p)
        try documentMapper.readTree(in) finally in.close()
      } catch { case e: java.io.IOException =>
        throw new IllegalStateException(
          s"graft-iceberg: unreadable table document $p: ${e.getMessage}", e) }
    node match {
      case o: ObjectNode => o
      case other => throw new IllegalStateException(
        s"graft-iceberg: table document $p is not a JSON object " +
          s"(${Option(other).map(_.getNodeType).orNull})")
    }
  }

  /** [[readDocument]] of a local file. */
  private[sources] def readDocument(f: java.io.File): ObjectNode =
    readDocument(localConf, new Path(f.getAbsoluteFile.toURI))

  private lazy val localConf = new Configuration()

  /** An object node's fields as a string map (a document's `properties`,
    * a namespace document) — empty for a missing node. */
  private[sources] def stringMap(n: JsonNode): Map[String, String] = {
    val out = Map.newBuilder[String, String]
    if (n != null) n.fields().forEachRemaining(e =>
      out += (e.getKey -> e.getValue.asText()))
    out.result()
  }

  /** Entries of every manifest in `manifestListPath`'s list, plus the
    * manifest count — the exact pair the reference feeds
    * `compute_metrics(files, len(manifests))`. */
  def fromManifestList(spark: SparkSession, manifestListPath: String,
      table: String): (Dataset[FileEntry], Long) = {
    val paths = manifestPaths(spark.sparkContext.hadoopConfiguration, manifestListPath)
    (fromManifests(spark, paths, table), paths.size.toLong)
  }

  /** Manifest paths of a manifest list — [[manifestList]]'s paths. */
  def manifestPaths(conf: Configuration, manifestListPath: String): Seq[String] =
    manifestList(conf, manifestListPath).map(_.path)

  /** One partition field's summary on a manifest-list row (spec
    * `field_summary`): bounds in the serialized single-value form. */
  final case class FieldSummary(containsNull: Boolean,
      lower: Option[Array[Byte]], upper: Option[Array[Byte]])

  /** One manifest-list row (spec "Manifest Lists"). Fields a v1 list or a
    * foreign writer omits read as 0; `partitions` is None when the row
    * carries no summary. `content` is 0 for data, 1 for delete manifests;
    * `specId` names the spec the manifest's partition records were
    * written under. */
  final case class ManifestListRow(path: String, length: Long, specId: Int,
      content: Int, sequenceNumber: Long, addedSnapshotId: Long,
      partitions: Option[Seq[FieldSummary]]) {

    /** False only when this DATA manifest provably holds no partition
      * value of field `fieldIndex` in [lo, hi] (integral values: 4-byte
      * int or 8-byte long little-endian bounds) — the metadata a planner
      * prunes manifests with before reading any. Conservative: a delete
      * manifest, a row without summaries, a missing field, undecodable
      * bounds or a null-containing field all may overlap. */
    def mayOverlap(fieldIndex: Int, lo: Long, hi: Long): Boolean = {
      def asLong(b: Array[Byte]): Option[Long] = b.length match {
        case 4 => Some(ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).getInt.toLong)
        case 8 => Some(ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).getLong)
        case _ => None
      }
      content != 0 || partitions.forall(_.lift(fieldIndex).forall(f =>
        f.containsNull || ((f.lower.flatMap(asLong), f.upper.flatMap(asLong)) match {
          case (Some(mn), Some(mx)) => mx >= lo && mn <= hi
          case _ => true
        })))
    }
  }

  /** THE manifest-list decoder: every row of the list, driver-side (one
    * row per manifest, KBs). Paths are relocated ([[Relocate.meta]]), so
    * every projection survives a moved table directory. */
  def manifestList(conf: Configuration,
      manifestListPath: String): Seq[ManifestListRow] = {
    val listDir = new java.io.File(manifestListPath).getParentFile
    readAvroIterator(conf, manifestListPath) { rec =>
      def get(f: String): Any =
        if (rec.getSchema.getField(f) == null) null else rec.get(f)
      def lng(f: String): Long = Option(get(f)).fold(0L)(_.asInstanceOf[Long])
      def int(f: String): Int = Option(get(f)).fold(0)(_.asInstanceOf[Int])
      val partitions = Option(get("partitions")).map { arr =>
        import scala.jdk.CollectionConverters._
        arr.asInstanceOf[java.util.List[GenericRecord]].asScala.toSeq.map(fr =>
          FieldSummary(fr.get("contains_null").asInstanceOf[Boolean],
            Option(fr.get("lower_bound")).map(toBytes),
            Option(fr.get("upper_bound")).map(toBytes)))
      }
      Iterator.single(ManifestListRow(
        Relocate.meta(listDir, rec.get("manifest_path").toString),
        lng("manifest_length"), int("partition_spec_id"), int("content"),
        lng("sequence_number"), lng("added_snapshot_id"), partitions))
    }.toSeq
  }

  /** Distributed manifest scan: one task per manifest file. The SESSION's
    * Hadoop configuration ships to tasks as a SerializableConfiguration
    * (the OrphanFiles pattern) — a fresh executor-side Configuration
    * would drop every spark.hadoop.* setting (s3a credentials, endpoints)
    * and break exactly the remote filesystems manifests live on. */
  def fromManifests(spark: SparkSession, manifestPaths: Seq[String],
      table: String): Dataset[FileEntry] = {
    import spark.implicits._
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val n = math.max(1, math.min(manifestPaths.size, spark.sparkContext.defaultParallelism))
    spark.sparkContext.parallelize(manifestPaths, n)
      .flatMap(p => readManifestEntries(p, conf.value))
      .toDF("content", "partitionKey", "sizeBytes")
      .select(lit(table).as("table"), col("content"), col("partitionKey"),
        col("sizeBytes"))
      .as[FileEntry]
  }

  /** Typed per-file statistics relation from manifests: one row per live
    * data_file with `record_count` and, for each requested
    * `(fieldId, name, type)`, the decoded `lo_<name>`/`hi_<name>` bounds
    * (null when the manifest carries no bound for that field). Decoding
    * happens inside the manifest tasks — plain little-endian reads, no
    * UDF in any hot path; the relation is metadata-sized (files, not
    * rows), so downstream pruning math broadcasts trivially. */
  def statsFromManifests(spark: SparkSession, manifestPaths: Seq[String],
      table: String, fields: Seq[(Int, String, DataType)]): DataFrame =
    statsFromManifestSeqs(spark, manifestPaths.map(_ -> 0L), table, fields)

  /** [[statsFromManifests]] with each manifest's OWN manifest-list
    * sequence_number — the value a null ADDED-entry sequence number
    * inherits (v2 inheritance; [[statsFromTableDir]] always routes
    * through here so MOR delete visibility is correct on layouts whose
    * writers left ADDED sequence numbers null). */
  def statsFromManifestSeqs(spark: SparkSession, manifests: Seq[(String, Long)],
      table: String, fields: Seq[(Int, String, DataType)]): DataFrame =
    statsFromManifestSpecSeqs(spark, manifests.map(t => (t._1, t._2, 0)),
      table, fields)

  /** [[statsFromManifestSeqs]] with each manifest's `partition_spec_id`
    * from the manifest list — rides onto every entry as the relation's
    * `spec_id` column (the `_spec_id` metadata column's source). */
  def statsFromManifestSpecSeqs(spark: SparkSession,
      manifests: Seq[(String, Long, Int)],
      table: String, fields: Seq[(Int, String, DataType)],
      dedupeByFilePath: Boolean = false): DataFrame = {
    val fieldSpec = fields // stable serializable copy for the closure
    def rowOf(specId: Int)(s: ManifestStats): Row =
      Row.fromSeq(Seq(table, s.filePath, s.content, s.partitionKey, s.sizeBytes,
        s.recordCount, s.sequenceNumber) ++
        fieldSpec.flatMap { case (id, _, dt) =>
          Seq(s.lower.get(id).map(decodeBound(_, dt)).orNull,
            s.upper.get(id).map(decodeBound(_, dt)).orNull,
            s.valueCounts.get(id).map(Long.box).orNull,
            s.nullValueCounts.get(id).map(Long.box).orNull,
            s.nanValueCounts.get(id).map(Long.box).orNull,
            s.columnSizes.get(id).map(Long.box).orNull)
        } ++ Seq(s.equalityIds, s.fileFormat,
          s.sortOrderId.map(Int.box).orNull,
          s.firstRowId.map(Long.box).orNull,
          specId))
    // few manifests → DRIVER-side read into a LOCAL relation: planning
    // reads (the .collect()s all over the MOR/commit paths) then cost
    // ZERO Spark jobs, and a join against the result broadcasts
    // trivially. Manifests are KB-sized, so the threshold is a manifest
    // COUNT, the same ≤8 convention the ORC/AVRO planning tails use.
    // Past it, one task per manifest — the 100k-manifest shape.
    if (manifests.size <= driverManifestCap(spark)) {
      val hconf = spark.sparkContext.hadoopConfiguration
      val rows = manifests.flatMap { case (p, inheritSeq, specId) =>
        readManifestStats(p, hconf, inheritSeq).map(rowOf(specId)) }
      // caller-requested file_path dedupe folds into the DRIVER pass
      // (first occurrence wins — deterministic, unlike dropDuplicates):
      // the consumer's count/distinct then runs over a LocalRelation
      // with no dedupe exchange in the plan
      val out = if (!dedupeByFilePath) rows else {
        val seen = scala.collection.mutable.HashSet.empty[String]
        rows.filter(r => seen.add(r.getString(1)))
      }
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(out.asJava, statsSchema(fields))
    } else {
      val conf = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      val n = math.max(1,
        math.min(manifests.size, spark.sparkContext.defaultParallelism))
      val rows = spark.sparkContext.parallelize(manifests, n)
        .flatMap { case (p, inheritSeq, specId) =>
          readManifestStats(p, conf.value, inheritSeq).map(rowOf(specId)) }
      val df = spark.createDataFrame(rows, statsSchema(fields))
      if (dedupeByFilePath) df.dropDuplicates("file_path") else df
    }
  }

  /** Manifest-count ceiling for driver-side metadata materialization —
    * `spark.graft.driverManifestStats`, default 32. Manifests are
    * KB-sized, so a few dozen read driver-side cost no Spark job at
    * all; the distributed one-task-per-manifest arm covers the
    * 100k-manifest shape past the cap. */
  private[sources] def driverManifestCap(spark: SparkSession): Int =
    try spark.conf.get("spark.graft.driverManifestStats", "32").toInt
    catch { case _: NumberFormatException => 32 }

  private def statsSchema(fields: Seq[(Int, String, DataType)]): StructType =
    StructType(
      Seq(StructField("table", StringType), StructField("file_path", StringType),
        StructField("content", IntegerType), StructField("partitionKey", StringType),
        StructField("sizeBytes", LongType), StructField("record_count", LongType),
        StructField("sequence_number", LongType)) ++
        fields.flatMap { case (_, nm, dt) =>
          Seq(StructField(s"lo_$nm", dt), StructField(s"hi_$nm", dt),
            StructField(s"vc_$nm", LongType),
            StructField(s"nc_$nm", LongType),
            StructField(s"xc_$nm", LongType),
            StructField(s"sz_$nm", LongType))
        } ++ Seq(StructField("equality_ids", ArrayType(IntegerType)),
          StructField("file_format", StringType),
          StructField("sort_order_id", IntegerType),
          StructField("first_row_id", LongType),
          StructField("spec_id", IntegerType)))

  private[sources] case class ManifestStats(filePath: String, content: Int,
      partitionKey: String, sizeBytes: Long, recordCount: Long,
      sequenceNumber: Long,
      lower: Map[Int, Array[Byte]], upper: Map[Int, Array[Byte]],
      equalityIds: Seq[Int] = Nil,
      fileFormat: String = "PARQUET",
      sortOrderId: Option[Int] = None,
      firstRowId: Option[Long] = None,
      /** spec fields 109/110/137/108 (empty = not recorded). */
      valueCounts: Map[Int, Long] = Map.empty,
      nullValueCounts: Map[Int, Long] = Map.empty,
      nanValueCounts: Map[Int, Long] = Map.empty,
      columnSizes: Map[Int, Long] = Map.empty)

  /** Live entries of one manifest as (content, partitionJson, sizeBytes).
    * Runs inside tasks with the session conf shipped by the caller. */
  private[sources] def readManifestEntries(path: String,
      conf: Configuration): Iterator[(Int, String, Long)] =
    liveEntries(path, conf).map { case (_, df) =>
      (fileContent(df), partitionKeyOf(df), df.get("file_size_in_bytes").asInstanceOf[Long])
    }

  /** (live data files, their record total, live delete files) of one
    * manifest list — a count-only streaming pass on the driver: entries
    * are decoded one at a time and never held. Seeds the snapshot
    * summary's `total-*` values when the previous summary lacks them. */
  private[sources] def liveFileCounts(conf: Configuration,
      manifestListPath: String): (Long, Long, Long) = {
    var data = 0L; var records = 0L; var deletes = 0L
    manifestList(conf, manifestListPath).foreach { m =>
      liveEntries(m.path, conf).foreach { case (_, df) =>
        if (fileContent(df) != 0) deletes += 1
        else {
          data += 1
          if (df.getSchema.getField("record_count") != null)
            records += Option(df.get("record_count")).fold(0L)(_.asInstanceOf[Long])
        }
      }
    }
    (data, records, deletes)
  }

  /** Stats projection of one manifest's live entries (task-side).
    * sequence_number sits on the manifest ENTRY; a v1 manifest has no
    * such field (→ 0). A NULL v2 value is what real writers emit for
    * ADDED entries — it INHERITS `inheritSeq`, the manifest's own
    * sequence_number from the manifest list (spec "Sequence Number
    * Inheritance"); defaulting it to 0 would put every file below every
    * equality delete and break MOR visibility. A null on an EXISTING
    * entry has nothing to inherit (the entry was added by an OLDER
    * snapshot than this manifest) — that is a corrupt manifest, and
    * failing loudly beats silently misordering delete application. */
  private[sources] def readManifestStats(path: String, conf: Configuration,
      inheritSeq: Long = 0L): Iterator[ManifestStats] = {
    // tableDir = metadata dir's parent (layout construction)
    val tableDir =
      new java.io.File(path).getParentFile.getParentFile.getAbsolutePath
    liveEntries(path, conf).map { case (e, df) =>
      ManifestStats(
        filePath = Relocate.data(tableDir,
          Option(df.get("file_path")).map(_.toString).getOrElse("")),
        content = fileContent(df),
        partitionKey = partitionKeyOf(df),
        sizeBytes = df.get("file_size_in_bytes").asInstanceOf[Long],
        recordCount =
          if (df.getSchema.getField("record_count") == null) 0L
          else Option(df.get("record_count")).fold(0L)(_.asInstanceOf[Long]),
        sequenceNumber =
          if (e.getSchema.getField("sequence_number") == null) 0L
          else Option(e.get("sequence_number")).map(_.asInstanceOf[Long])
            .getOrElse {
              if (e.get("status").asInstanceOf[Int] == 1) inheritSeq
              else throw new IllegalStateException(
                s"manifest $path: null sequence_number on a non-ADDED " +
                  "entry (status != 1) has nothing to inherit")
            },
        lower = boundsMap(df, "lower_bounds"),
        upper = boundsMap(df, "upper_bounds"),
        valueCounts = countsMap(df, "value_counts"),
        nullValueCounts = countsMap(df, "null_value_counts"),
        nanValueCounts = countsMap(df, "nan_value_counts"),
        columnSizes = countsMap(df, "column_sizes"),
        equalityIds =
          if (df.getSchema.getField("equality_ids") == null) Nil
          else df.get("equality_ids") match {
            case null => Nil
            case l: java.util.List[_] =>
              scala.jdk.CollectionConverters.ListHasAsScala(l).asScala
                .toSeq.map {
                  case i: java.lang.Integer => i.intValue
                  case other => other.toString.toInt
                }
            case _ => Nil
          },
        fileFormat =
          if (df.getSchema.getField("file_format") == null) "PARQUET"
          else Option(df.get("file_format")).map(_.toString)
            .getOrElse("PARQUET"),
        sortOrderId =
          if (df.getSchema.getField("sort_order_id") == null) None
          else Option(df.get("sort_order_id")).map {
            case i: java.lang.Integer => i.intValue
            case other => other.toString.toInt
          },
        firstRowId =
          if (df.getSchema.getField("first_row_id") == null) None
          else Option(df.get("first_row_id")).map {
            case l: java.lang.Long => l.longValue
            case other => other.toString.toLong
          })
    }
  }

  private def fileContent(df: GenericRecord): Int =
    if (df.getSchema.getField("content") == null) 0 // v1: all DataFiles
    else Option(df.get("content")).fold(0)(_.asInstanceOf[Int])

  private def partitionKeyOf(df: GenericRecord): String =
    Option(df.get("partition"))
      .map(p => partitionJson(p.asInstanceOf[GenericRecord]))
      .getOrElse("{}")

  /** data_file status filter: status=2 DELETED entries are discarded
    * (pyiceberg `discard_deleted=True`), everything else streams through
    * as (entry, data_file) — the entry carries sequence_number. */
  private def liveEntries(path: String,
      conf: Configuration): Iterator[(GenericRecord, GenericRecord)] =
    readAvroIterator(conf, path) { entry =>
      if (entry.get("status").asInstanceOf[Int] == 2) Iterator.empty
      else Iterator.single((entry, entry.get("data_file").asInstanceOf[GenericRecord]))
    }

  /** Count maps (value_counts/null_value_counts) in either physical
    * shape — native avro map or the array<record<key,value>> logical
    * map (what Iceberg writers emit). */
  private def countsMap(df: GenericRecord, field: String): Map[Int, Long] = {
    if (df.getSchema.getField(field) == null) return Map.empty
    df.get(field) match {
      case null => Map.empty
      case m: java.util.Map[_, _] =>
        val b = Map.newBuilder[Int, Long]
        m.forEach((k, v) =>
          b += (k.toString.toInt -> v.toString.toLong))
        b.result()
      case l: java.util.List[_] =>
        val b = Map.newBuilder[Int, Long]
        l.forEach {
          case r: GenericRecord =>
            b += (r.get("key").asInstanceOf[Int] ->
              r.get("value").asInstanceOf[Long])
          case _ => ()
        }
        b.result()
      case _ => Map.empty
    }
  }

  /** Bounds maps in either physical shape the format allows: a native
    * Avro map (string keys) or the spec's array<record<key,value>>
    * "logical map" (what Iceberg writers actually emit — Avro maps
    * cannot have int keys). Values arrive as ByteBuffer/Fixed/byte[]. */
  private def boundsMap(df: GenericRecord, field: String): Map[Int, Array[Byte]] = {
    if (df.getSchema.getField(field) == null) return Map.empty
    df.get(field) match {
      case null => Map.empty
      case m: java.util.Map[_, _] =>
        val b = Map.newBuilder[Int, Array[Byte]]
        m.forEach((k, v) => b += (k.toString.toInt -> toBytes(v)))
        b.result()
      case l: java.util.List[_] =>
        val b = Map.newBuilder[Int, Array[Byte]]
        l.forEach {
          case r: GenericRecord =>
            b += (r.get("key").asInstanceOf[Int] -> toBytes(r.get("value")))
          case _ => ()
        }
        b.result()
      case _ => Map.empty
    }
  }

  private def toBytes(v: Any): Array[Byte] = v match {
    case b: ByteBuffer =>
      val d = new Array[Byte](b.remaining()); b.duplicate().get(d); d
    case f: GenericData.Fixed => f.bytes()
    case a: Array[Byte] => a
    case other => String.valueOf(other).getBytes("UTF-8")
  }

  /** Iceberg single-value serialization (spec Appendix D): little-endian
    * for fixed-width numerics, UTF-8 for strings. Null on a width
    * mismatch rather than throwing — a foreign writer's truncated bound
    * must not kill the scan. */
  private[sources] def decodeBound(bytes: Array[Byte], dt: DataType): Any = {
    def buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    dt match {
      case IntegerType if bytes.length == 4 => buf.getInt
      case LongType if bytes.length == 8 => buf.getLong
      case FloatType if bytes.length == 4 => buf.getFloat
      case DoubleType if bytes.length == 8 => buf.getDouble
      case StringType => new String(bytes, "UTF-8")
      case _ => null
    }
  }

  /** Canonical partition key: JSON in record-field order, null fields
    * omitted — `to_json(struct)` semantics, so manifest-read entries and
    * metadata-table entries group identically. Strings are escaped
    * minimally (backslash, quote — partition values are path-safe
    * scalars). */
  private[graft] def partitionJson(rec: GenericRecord): String = {
    val fields = rec.getSchema.getFields
    val sb = new StringBuilder("{")
    var first = true
    val it = fields.iterator()
    while (it.hasNext) {
      val f = it.next()
      val v = rec.get(f.name())
      if (v != null) {
        if (!first) sb.append(',')
        first = false
        sb.append('"').append(f.name()).append("\":")
        v match {
          case n: java.lang.Number => sb.append(n.toString)
          case b: java.lang.Boolean => sb.append(b.toString)
          case s =>
            sb.append('"')
              .append(s.toString.replace("\\", "\\\\").replace("\"", "\\\""))
              .append('"')
        }
      }
    }
    sb.append('}').toString
  }

  /** Stream every record of an Avro container file through `f` lazily —
    * one record in memory at a time. The reader closes on exhaustion;
    * inside a task a completion listener also closes it if the iterator
    * is abandoned early. */
  private def readAvroIterator[T](conf: Configuration, path: String)(
      f: GenericRecord => Iterator[T]): Iterator[T] = {
    val in = new FsInput(new Path(path), conf)
    val reader = DataFileReader.openReader(in, new GenericDatumReader[GenericRecord]())
    var closed = false
    def closeOnce(): Unit = if (!closed) { closed = true; reader.close() }
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => closeOnce()))
    val records = new Iterator[GenericRecord] {
      def hasNext: Boolean = {
        val h = !closed && reader.hasNext
        if (!h) closeOnce()
        h
      }
      def next(): GenericRecord = reader.next()
    }
    records.flatMap(f)
  }
}
