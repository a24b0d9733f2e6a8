package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Iceberg-style metadata tables over a written v2 layout — the
  * inspection surface real engines expose as `table$files`,
  * `table$partitions`, `table$snapshots`, `table$refs`, `table$history`
  * (Iceberg docs "Inspecting tables"; Spark reads them as ordinary
  * relations). Each is a DataFrame:
  *
  *   - [[files]] / [[partitions]] ride
  *     [[IcebergManifestSource.statsFromTableDir]]: read on the driver
  *     while the manifests hold at most 4 MiB, else one task per
  *     manifest, so a 100k-manifest table's files listing parallelizes
  *     like any other read and the partitions rollup is one
  *     map-side-combined aggregation of a manifest-sized relation;
  *   - [[snapshots]], [[refs]], [[history]] are metadata-document-sized
  *     (a JSON head read) and materialize driver-side like every other
  *     metadata access in [[LayoutMaintenance]].
  *
  * All accept an optional snapshot pin (time travel: `files` of an old
  * snapshot is the diff source for incremental reads).
  */
object MetadataTables {

  /** Per-file metadata rows: (content, file_path, partition JSON,
    * record_count, file_size_in_bytes, sequence_number). */
  def files(spark: SparkSession, tableDir: String,
      snapshotId: Option[Long] = None,
      dataSchema: Option[StructType] = None): DataFrame = {
    val fields = dataSchema
      .map(metricFields(_, declaredStatIds(tableDir),
        declaredLeafIds(tableDir))).getOrElse(Nil)
    val base = IcebergManifestSource
      .statsFromTableDir(spark, tableDir, "t", fields, snapshotId)
    val cols = Seq(col("content"), col("file_path"),
      col("partitionKey").as("partition"),
      col("record_count"),
      col("sizeBytes").as("file_size_in_bytes"),
      col("sequence_number")) ++
      (if (fields.isEmpty) Nil else Seq(readableMetrics(fields)))
    base.select(cols: _*)
  }

  /** Iceberg's `readable_metrics` column: one nested struct per data
    * column with its per-file bounds RENDERED AT THE COLUMN TYPE plus
    * the recorded column_size / value / null / NaN counts (spec fields
    * 108/109/110/137 — the connector's writers record them per
    * top-level column; column_size is parquet-only footer bytes, NaN
    * counts cover FLOAT/DOUBLE; files written without metrics serve
    * null, Iceberg's own convention for absent metrics). */
  private def readableMetrics(
      fields: Seq[(Int, String, org.apache.spark.sql.types.DataType)])
      : org.apache.spark.sql.Column =
    struct(fields.map { case (_, nm, _) =>
      // nested leaves render as `col.leaf` entries (backticked: the
      // physical stat columns carry the dot in their NAME)
      struct(
        col(s"`sz_$nm`").as("column_size"),
        col(s"`vc_$nm`").as("value_count"),
        col(s"`nc_$nm`").as("null_value_count"),
        col(s"`xc_$nm`").as("nan_value_count"),
        col(s"`lo_$nm`").as("lower_bound"),
        col(s"`hi_$nm`").as("upper_bound")).as(nm)
    }: _*).as("readable_metrics")

  /** The (field id, name, type) triples readable_metrics can serve:
    * top-level columns whose bound encoding
    * [[IcebergManifestSource.decodeBound]] understands. Ids are the
    * dialect's POSITIONAL convention, except that a column named in
    * the table's `pushdown.fields` declaration uses ITS declared id
    * (bounds are written under it); a column whose id would collide
    * with another column's is dropped rather than risk serving the
    * wrong column's bounds. */
  private def metricFields(schema: StructType,
      declared: Map[String, Int],
      leafIds: Map[String, Int] = Map.empty)
      : Seq[(Int, String, org.apache.spark.sql.types.DataType)] = {
    import org.apache.spark.sql.types._
    val scalar = Set[DataType](IntegerType, LongType, FloatType,
      DoubleType, StringType)
    val eligible = schema.fields.toSeq.zipWithIndex.collect {
      case (f, i) if scalar(f.dataType) =>
        (declared.getOrElse(f.name, i + 1), f.name, f.dataType)
    } ++
      // struct LEAVES with declared ids (descriptor column-ids fields):
      // the spec keys metrics by leaf field id, rendered as `col.leaf`
      schema.fields.toSeq.flatMap { f =>
        f.dataType match {
          case st: StructType => st.fields.toSeq.collect {
            case nf if scalar(nf.dataType) &&
                leafIds.contains(s"${f.name}.${nf.name}") =>
              (leafIds(s"${f.name}.${nf.name}"),
                s"${f.name}.${nf.name}", nf.dataType)
          }
          case _ => Nil
        }
      }
    val dupIds = eligible.groupBy(_._1).collect {
      case (id, fs) if fs.size > 1 => id }.toSet
    eligible.filterNot(t => dupIds(t._1))
  }

  /** The descriptor's NESTED column ids ("col.leaf" -> leaf field id)
    * — what keys struct member metrics, the spec's leaf-id
    * convention. Empty for descriptor-less layouts; an unreadable
    * descriptor, or a `column-ids` entry without a name or an integer
    * id, fails naming the file. */
  private def declaredLeafIds(tableDir: String): Map[String, Int] = {
    val d = new java.io.File(tableDir, "graft-table.json")
    if (!d.exists()) return Map.empty
    type Node = com.fasterxml.jackson.databind.JsonNode
    def field(n: Node, key: String, ok: Node => Boolean): Node =
      Option(n.get(key)).filter(ok).getOrElse(throw new IllegalStateException(
        s"graft-iceberg: table document $d has a column-ids entry " +
          s"without a valid \"$key\": $n"))
    def name(n: Node): String = field(n, "name", _.isTextual).asText()
    def id(n: Node): Int =
      field(n, "id", v => v.isIntegralNumber && v.canConvertToInt).asInt()
    val out = Map.newBuilder[String, Int]
    Option(IcebergManifestSource.readDocument(d).get("column-ids")).foreach(
      _.forEach { n =>
        val parent = name(n); id(n)
        Option(n.get("fields")).foreach(_.forEach(k =>
          out += (s"$parent.${name(k)}" -> id(k))))
      })
    out.result()
  }

  /** The table's declared `pushdown.fields` stat ids (name → id) from
    * the catalog descriptor — the ids bound encodings are written
    * under when they differ from the positional convention. */
  private def declaredStatIds(tableDir: String): Map[String, Int] =
    LayoutMaintenance.descriptorProps(tableDir).get("pushdown.fields")
      .toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
      .flatMap(_.split(':') match {
        case Array(nm, id, _) => id.toIntOption.map(nm -> _)
        case _ => None
      }).toMap

  /** Per-partition rollup of DATA files (the `$partitions` table):
    * (partition, file_count, record_count, total_size, position/equality
    * delete file counts). Served from the table's PARTITION STATISTICS
    * file when one is registered for the exact current snapshot
    * ([[LayoutMaintenance.computePartitionStats]] — a KB-sized parquet
    * read instead of a manifest scan, the shape a thousands-of-tables
    * report wants); a stale or absent stats file falls back to the
    * manifest aggregation. A snapshot-PINNED read serves from an entry
    * registered for exactly that snapshot (an entry describes its own
    * snapshot's file set, current or not), manifest arm otherwise. */
  def partitions(spark: SparkSession, tableDir: String,
      snapshotId: Option[Long] = None): DataFrame =
    LayoutMaintenance.freshPartitionStats(spark, tableDir,
      snapshotId) match {
      case Some(statsPath) =>
        spark.read.schema(
          "partition STRING, file_count BIGINT, record_count BIGINT, " +
            "total_size BIGINT, position_delete_file_count BIGINT, " +
            "equality_delete_file_count BIGINT, " +
            "last_updated_snapshot_id BIGINT")
          .parquet(statsPath)
          .drop("last_updated_snapshot_id")
      case None => partitionsFromManifests(spark, tableDir, snapshotId)
    }

  /** The manifest-scan arm of [[partitions]] — also what
    * [[LayoutMaintenance.computePartitionStats]] materializes, so the
    * two arms can never disagree on semantics. */
  def partitionsFromManifests(spark: SparkSession, tableDir: String,
      snapshotId: Option[Long] = None): DataFrame =
    rollupOf(files(spark, tableDir, snapshotId))

  /** The per-partition aggregation itself, over any files-shaped
    * relation (content, partition, record_count, file_size_in_bytes) —
    * shared by the full arm and the incremental stats delta so the two
    * can never disagree on semantics. */
  private[sources] def rollupOf(files: DataFrame): DataFrame =
    files
      .groupBy(col("partition"))
      .agg(
        sum(when(col("content") === 0, 1L).otherwise(0L)).as("file_count"),
        sum(when(col("content") === 0, col("record_count")).otherwise(0L))
          .as("record_count"),
        sum(when(col("content") === 0, col("file_size_in_bytes")).otherwise(0L))
          .as("total_size"),
        sum(when(col("content") === 1, 1L).otherwise(0L))
          .as("position_delete_file_count"),
        sum(when(col("content") === 2, 1L).otherwise(0L))
          .as("equality_delete_file_count"))

  /** The `$snapshots` table: (ordinal, snapshot_id, operation,
    * added_data_files, added_records, manifest_list, is_current) in
    * commit-history order. Operation + counts come from the spec
    * "Snapshots" summary each commit records; snapshots without one
    * (older layouts, other writers) read as empty/null. */
  def snapshots(spark: SparkSession, tableDir: String): DataFrame = {
    import spark.implicits._
    val cur = LayoutMaintenance.currentSnapshot(spark, tableDir)
    val sums = LayoutMaintenance.snapshotSummaries(spark, tableDir)
      .map(s => s._1 -> ((s._2, s._3))).toMap
    def cnt(id: Long, k: String): Option[Long] =
      sums.get(id).flatMap(_._2.get(k)).flatMap(_.toLongOption)
    LayoutMaintenance.snapshotList(spark, tableDir).zipWithIndex
      .map { case ((id, list), i) =>
        (i, id, sums.get(id).map(_._1).getOrElse(""),
          cnt(id, "added-data-files"), cnt(id, "added-records"),
          list, cur.contains(id))
      }
      .toDF("ordinal", "snapshot_id", "operation", "added_data_files",
        "added_records", "manifest_list", "is_current")
  }

  /** The `$manifests` table: one row per manifest file of the (pinned
    * or current) snapshot's manifest list — (path, length,
    * partition_spec_id, content, sequence_number, added_snapshot_id).
    * Manifest-list-sized: a head read, no manifest I/O at all. */
  def manifests(spark: SparkSession, tableDir: String,
      snapshotId: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    IcebergManifestSource.resolveManifestList(spark, tableDir, snapshotId)
      .toSeq.flatMap(IcebergManifestSource.manifestList(conf, _))
      .map(m => (m.path, m.length, m.specId, m.content, m.sequenceNumber,
        m.addedSnapshotId))
      .toDF("path", "length", "partition_spec_id", "content",
        "sequence_number", "added_snapshot_id")
  }

  /** The `$position_deletes` table: the CONTENTS of every live position
    * tombstone as rows — (file_path, pos, delete_file_path,
    * delete_file_format). Parquet tombstone files read DISTRIBUTED
    * (an ordinary scan); deletion-vector blobs decode driver-side
    * (reject-sized by the delete-commit contract, same as every DV
    * consumer). The audit face of the MOR read path: what exactly is
    * tombstoned, and by which file. */
  def positionDeletes(spark: SparkSession, tableDir: String,
      snapshotId: Option[Long] = None): DataFrame = {
    import spark.implicits._
    def norm(p: String): String = p.replaceFirst("^file:/+", "/")
    val posFiles = IcebergManifestSource
      .statsFromTableDir(spark, tableDir, "t", Nil, snapshotId)
      .filter(col("content") === 1)
      .select(col("file_path"), col("file_format"))
      .collect() // metadata-sized: one row per tombstone FILE
      .map(r => (norm(r.getString(0)), r.getString(1)))
    val (dv, fileTombs) = posFiles.partition(_._2 == "PUFFIN")
    def arm(fmt: String,
        read: Seq[String] => DataFrame): Option[DataFrame] = {
      val paths = fileTombs.filter(_._2 == fmt).map(_._1).toIndexedSeq
      if (paths.isEmpty) None
      else Some(read(paths)
        .select(col("file_path"), col("pos"),
          regexp_replace(col("_metadata.file_path"), "^file:/+", "/")
            .as("delete_file_path"),
          lit(fmt).as("delete_file_format")))
    }
    val parqDf = arm("PARQUET", ps => spark.read
      .schema("file_path STRING, pos BIGINT").parquet(ps: _*))
    val orcDf = arm("ORC", ps => spark.read
      .schema("file_path STRING, pos BIGINT").orc(ps: _*))
    // no avro datasource on this classpath: driver-read (tombstones are
    // reject-sized by the delete-commit contract)
    val avroDf = {
      val paths = fileTombs.filter(_._2 == "AVRO").map(_._1)
      if (paths.isEmpty) None
      else Some(paths.toSeq.flatMap(p =>
        AvroDataRead.readPosDeletes(p).map { case (t, pos) =>
          (t, pos, p, "AVRO") })
        .toDF("file_path", "pos", "delete_file_path", "delete_file_format"))
    }
    val dvDf =
      if (dv.isEmpty) None
      else Some(dv.toSeq.flatMap { case (p, _) =>
        DeletionVectors.read(new java.io.File(p)).flatMap {
          case (target, poss) => poss.map(pos =>
            (norm(target), pos, p, "PUFFIN"))
        }
      }.toDF("file_path", "pos", "delete_file_path", "delete_file_format"))
    Seq(parqDf, orcDf, avroDf, dvDf).flatten
      .reduceOption(_ unionByName _)
      .getOrElse(Seq.empty[(String, Long, String, String)]
        .toDF("file_path", "pos", "delete_file_path", "delete_file_format"))
  }

  /** The DISTINCT manifest rows reachable from ANY snapshot's manifest
    * list — (path, sequence_number, partition_spec_id,
    * added_snapshot_id). Manifests are immutable and a history's lists
    * share most of them, so the all_* relations read each one ONCE
    * instead of once per referencing snapshot: an S-snapshot history
    * costs O(distinct manifests) manifest I/O and ONE relation in the
    * plan, not S unioned scans (the r16 measurement: `all_files count`
    * 433→~150 ms on a 10-commit fixture; at 100 TB this is the
    * difference between reachability being linear in history length
    * and linear in the manifest set). */
  private def reachableManifests(spark: SparkSession,
      tableDir: String): Seq[IcebergManifestSource.ManifestListRow] = {
    val conf = spark.sparkContext.hadoopConfiguration
    LayoutMaintenance.snapshotIds(spark, tableDir)
      .flatMap(id => IcebergManifestSource
        .resolveManifestList(spark, tableDir, Some(id)))
      .distinct
      .flatMap(p => IcebergManifestSource.manifestList(conf, p))
      .distinctBy(_.path)
  }

  /** The `$all_files` table: every file referenced by ANY snapshot in
    * history (Iceberg's `all_files` / `all_data_files` surface, both
    * contents in one relation) — the reachability set snapshot expiry
    * and orphan cleanup reason over. One scan of the history's DISTINCT
    * manifest set ([[reachableManifests]]), deduplicated by file. */
  def allFiles(spark: SparkSession, tableDir: String): DataFrame = {
    val ms = reachableManifests(spark, tableDir)
    if (ms.isEmpty) files(spark, tableDir).limit(0)
    else IcebergManifestSource
      .statsFromManifestRows(spark, ms, "t", Nil, dedupeByFilePath = true)
      .select(col("content"), col("file_path"),
        col("partitionKey").as("partition"),
        col("record_count"),
        col("sizeBytes").as("file_size_in_bytes"),
        col("sequence_number"))
  }

  /** The `$entries` table: every manifest ENTRY of the current (or
    * pinned) snapshot WITH its status — 0 existing / 1 added / 2
    * deleted — plus the committing snapshot id. The standard debugging
    * relation: which commit added or logically deleted which file.
    * On the driver while the manifests hold at most 4 MiB, like
    * [[files]]; one task per manifest past that. */
  def entries(spark: SparkSession, tableDir: String,
      snapshotId: Option[Long] = None,
      dataSchema: Option[StructType] = None): DataFrame = {
    val fields = dataSchema
      .map(metricFields(_, declaredStatIds(tableDir),
        declaredLeafIds(tableDir))).getOrElse(Nil)
    val base = IcebergManifestSource
      .entriesFromTableDir(spark, tableDir, snapshotId, fields)
    if (fields.isEmpty) base
    else base.select(
      base.columns.filterNot(c =>
        c.startsWith("lo_") || c.startsWith("hi_") ||
          c.startsWith("vc_") || c.startsWith("nc_") ||
          c.startsWith("xc_") || c.startsWith("sz_")).map(col).toSeq :+
        readableMetrics(fields): _*)
  }

  /** The `$all_entries` table: the entry rows of EVERY snapshot in
    * history, deduplicated. Reads the history's DISTINCT manifest set
    * once ([[reachableManifests]]) — a manifest referenced by many
    * snapshots contributes its (identical) rows exactly once before
    * the distinct, instead of once per referencing snapshot. */
  def allEntries(spark: SparkSession, tableDir: String): DataFrame = {
    val ms = reachableManifests(spark, tableDir)
    if (ms.isEmpty) entries(spark, tableDir).limit(0)
    else IcebergManifestSource
      .entriesFromManifests(spark, ms, distinctRows = true)
  }

  /** The `$all_data_files` / `$all_delete_files` tables: the
    * role-filtered views of [[allFiles]] — together they partition it
    * exactly. */
  def allDataFiles(spark: SparkSession, tableDir: String): DataFrame =
    allFiles(spark, tableDir).filter(col("content") === 0)

  def allDeleteFiles(spark: SparkSession, tableDir: String): DataFrame =
    allFiles(spark, tableDir).filter(col("content") =!= 0)

  /** The `$all_partitions` table: the per-partition rollup over every
    * DATA file reachable from ANY snapshot — which partitions history
    * has ever touched, sized by their reachable bytes. */
  def allPartitions(spark: SparkSession, tableDir: String): DataFrame =
    rollupOf(allFiles(spark, tableDir))

  /** The `$data_files` / `$delete_files` tables: content-filtered views
    * of [[files]] (Iceberg's split of the file listing by role). */
  def dataFiles(spark: SparkSession, tableDir: String,
      snapshotId: Option[Long] = None,
      dataSchema: Option[StructType] = None): DataFrame =
    files(spark, tableDir, snapshotId, dataSchema)
      .filter(col("content") === 0)

  def deleteFiles(spark: SparkSession, tableDir: String,
      snapshotId: Option[Long] = None,
      dataSchema: Option[StructType] = None): DataFrame =
    files(spark, tableDir, snapshotId, dataSchema)
      .filter(col("content") =!= 0)

  /** The `$all_manifests` table: every manifest referenced by ANY
    * snapshot in history — the manifest-side reachability twin of
    * [[allFiles]]. Manifest-list-sized per snapshot, no manifest I/O. */
  def allManifests(spark: SparkSession, tableDir: String): DataFrame = {
    import spark.implicits._
    LayoutMaintenance.snapshotIds(spark, tableDir)
      .map { id =>
        manifests(spark, tableDir, Some(id))
          .withColumn("reference_snapshot_id", lit(id))
      }
      .reduceOption(_ unionByName _)
      .getOrElse(Seq.empty[(String, Long, Int, Int, Long, Long, Long)]
        .toDF("path", "length", "partition_spec_id", "content",
          "sequence_number", "added_snapshot_id", "reference_snapshot_id"))
  }

  /** The `$metadata_log_entries` table: the table's metadata VERSION
    * history — one row per `v*.metadata.json` on disk, with the
    * latest-snapshot pointer each version records (Iceberg's
    * metadata_log_entries surface). Driver-listed, KB-sized reads. */
  def metadataLogEntries(spark: SparkSession, tableDir: String): DataFrame = {
    import spark.implicits._
    val mdir = new java.io.File(tableDir, "metadata")
    Option(mdir.listFiles()).getOrElse(Array.empty)
      .flatMap(f => IcebergManifestSource.metadataVersion(f.getName)
        .map(v => (v, f)))
      .sortBy(_._1)
      .map { case (v, f) =>
        val root = IcebergManifestSource.readDocument(f)
        val snap = Option(root.get("current-snapshot-id"))
          .filter(_.canConvertToLong).map(_.asLong())
        (v, f.getAbsolutePath, f.lastModified(),
          snap.map(Long.box).orNull.asInstanceOf[java.lang.Long])
      }.toSeq
      .toDF("version", "file", "timestamp_ms", "latest_snapshot_id")
  }

  /** The `$refs` table: (name, snapshot_id, type). */
  def refs(spark: SparkSession, tableDir: String): DataFrame = {
    import spark.implicits._
    LayoutMaintenance.refList(spark, tableDir)
      .toDF("name", "snapshot_id", "type")
  }

  /** The `$history` table: commit order with reachability from the
    * current head — `is_current_ancestor` here means "at or before the
    * current snapshot in history order" (this layout's history is
    * linear; a rolled-back table's later snapshots are retained but no
    * longer ancestors, matching Iceberg's history semantics). */
  def history(spark: SparkSession, tableDir: String): DataFrame = {
    import spark.implicits._
    val cur = LayoutMaintenance.currentSnapshot(spark, tableDir)
    val snaps = LayoutMaintenance.snapshotList(spark, tableDir)
    val curOrd = snaps.indexWhere(s => cur.contains(s._1))
    snaps.zipWithIndex.map { case ((id, _), i) =>
      (i, id, curOrd >= 0 && i <= curOrd)
    }.toDF("ordinal", "snapshot_id", "is_current_ancestor")
  }
}
