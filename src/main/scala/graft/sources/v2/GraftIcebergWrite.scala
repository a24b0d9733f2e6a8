package graft.sources.v2

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

/** The WRITE half of the graft-iceberg connector:
  * `df.write.format("graft-iceberg").mode("append").save(tableDir)`.
  * Each task writes ONE parquet file under `data/` (parquet-hadoop
  * writer, flat primitive schemas — the layout dialect) and reports
  * (path, rows, bytes) in its commit message; the DRIVER commit turns
  * the task reports into one atomic snapshot append
  * ([[graft.sources.LayoutMaintenance.commitAppend]] — creates the
  * table metadata on first write). Task failure/retry is safe the
  * Iceberg way: files are written under unique names and only the
  * driver commit makes anything visible; `abort` deletes the orphans.
  * At 100 TB this is the standard two-phase object-store commit: data
  * moves in parallel, visibility is one metadata swap.
  */
private[v2] class GraftWriteBuilder(dir: String, info: LogicalWriteInfo,
    stats: Seq[GraftIcebergSource.StatField] = Nil,
    sortCols: Seq[String] = Nil,
    overwriteAll: Boolean = false,
    declaredPartSpec: Seq[(String, String, String)] = Nil,
    fieldIds: Map[String, Int] = Map.empty,
    tableBranch: Option[String] = None,
    wapEnabled: Boolean = false,
    overwriteDynamic: Boolean = false,
    writeFormat: String = "parquet",
    tableTargetBytes: Option[Long] = None,
    distributionMode: Option[String] = None,
    lakeTypes: Map[String, String] = Map.empty)
    extends WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsOverwrite
    with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {

  /** The partition spec this write observes: the catalog's declared
    * spec (pfName, transform, srcCol), or — for a path-addressed write
    * to an already-partitioned layout — the table's CURRENT spec from
    * its metadata, source field ids resolved positionally (the layout
    * dialect: field id N = Nth schema column). An unpartitioned table
    * yields Nil and the write behaves exactly as before. */
  private lazy val partSpec: Seq[(String, String, Int)] = {
    val schema = info.schema()
    val named =
      if (declaredPartSpec.nonEmpty) declaredPartSpec
      else {
        if (!graft.sources.IcebergManifestSource.hasMetadata(dir)) Nil
        else graft.sources.IcebergManifestSource
          .partitionSpec(org.apache.spark.sql.SparkSession.active, dir)
          .flatMap { case (pfName, transform, srcId) =>
            if (srcId >= 1 && srcId <= schema.length)
              Some((pfName, transform, schema.fields(srcId - 1).name))
            else None
          }
      }
    named.map { case (pfName, transform, srcCol) =>
      val i = schema.fieldNames.indexOf(srcCol)
      require(i >= 0,
        s"graft-iceberg write: partition source $srcCol not in write schema")
      (pfName, transform, i)
    }
  }

  /** (pfName, transform, 1-based source field id) for creating table
    * metadata on the first write. */
  private def specForCreate: Seq[(String, String, Int)] =
    partSpec.map { case (pf, tr, i) => (pf, tr, i + 1) }

  /** `INSERT OVERWRITE` / `df.write.mode("overwrite")` — full-table
    * replacement only (the unpartitioned static-overwrite shape): the
    * commit swaps every current data file for the written ones in ONE
    * snapshot via the same group-replace primitive row-level SQL uses.
    * Filtered overwrite shapes are refused in canOverwrite (fail the
    * statement, never half-replace). */
  override def canOverwrite(filters: Array[org.apache.spark.sql.sources.Filter])
      : Boolean =
    filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])

  override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter])
      : WriteBuilder = {
    require(canOverwrite(filters),
      s"graft-iceberg: only full-table overwrite is supported, got " +
        filters.mkString(", "))
    new GraftWriteBuilder(dir, info, stats, sortCols, overwriteAll = true,
      declaredPartSpec, fieldIds, tableBranch, writeFormat = writeFormat,
      tableTargetBytes = tableTargetBytes, lakeTypes = lakeTypes)
  }

  override def truncate(): WriteBuilder =
    new GraftWriteBuilder(dir, info, stats, sortCols, overwriteAll = true,
      declaredPartSpec, fieldIds, tableBranch, writeFormat = writeFormat,
      tableTargetBytes = tableTargetBytes, lakeTypes = lakeTypes)

  /** Iceberg's DYNAMIC overwrite (`partitionOverwriteMode=dynamic`,
    * `df.writeTo(t).overwritePartitions()`): replace exactly the
    * partitions the incoming rows land in — untouched partitions are
    * carried verbatim; on an unpartitioned table it degrades to the
    * full-table replacement, Iceberg's own convention. */
  override def overwriteDynamicPartitions(): WriteBuilder =
    new GraftWriteBuilder(dir, info, stats, sortCols, overwriteAll = false,
      declaredPartSpec, fieldIds, tableBranch, wapEnabled,
      overwriteDynamic = true, writeFormat = writeFormat,
      tableTargetBytes = tableTargetBytes, lakeTypes = lakeTypes)

  /** Iceberg's `write.target-file-size-bytes` — the write OPTION wins
    * over the TABLE property (`ALTER TABLE … SET TBLPROPERTIES`): tasks
    * ROLL their open data file when its buffered size crosses the
    * target, so file sizes track the target regardless of task skew. */
  private def targetBytes: Option[Long] =
    Option(info.options().get("write.target-file-size-bytes")).map(_.toLong)
      .orElse(tableTargetBytes)

  /** Branch-targeted writes (write-audit-publish from pure SQL): the
    * `write.branch` WRITE OPTION wins over the table's `write.branch`
    * property (`ALTER TABLE … SET TBLPROPERTIES('write.branch'='b')`).
    * When set, an INSERT stages onto that branch ref and the table head
    * stays put until `CALL fast_forward` publishes; reads of the staged
    * state go through `VERSION AS OF '<branch>'`. Append-only: an
    * overwrite or streaming write to a branch is refused (their commit
    * shapes move the head by construction). */
  private def branch: Option[String] =
    Option(info.options().get("write.branch")).filter(_.nonEmpty)
      .orElse(tableBranch.filter(_.nonEmpty))
      // Iceberg's session-scoped staging target: on a wap-enabled
      // table, `spark.wap.branch` routes appends onto that branch ref
      // exactly like the write option / table property
      .orElse {
        if (!wapStagingEnabled) None
        else org.apache.spark.sql.SparkSession.active.conf
          .getOption("spark.wap.branch").filter(_.nonEmpty)
      }

  private def wapStagingEnabled: Boolean = wapEnabled ||
    Option(info.options().get("write.wap.enabled")).contains("true")

  /** Iceberg's `spark.wap.id` staging: when the table opted in
    * (`write.wap.enabled` property or write option) and the SESSION
    * carries an audit id, appends stage in history with the id in their
    * summary and the head stays put until `CALL publish_changes`. */
  private def wapId: Option[String] =
    if (!wapStagingEnabled) None
    else org.apache.spark.sql.SparkSession.active.conf
      .getOption("spark.wap.id").filter(_.nonEmpty)

  /** The write schema with lake-type metadata re-annotated (the INSERT
    * plan strips table column metadata). */
  private def writeSchema: StructType =
    GraftFormatWriters.annotateLakeTypes(info.schema(), lakeTypes)

  private trait GraftWrite extends Write {
    override def toBatch: BatchWrite =
      if (overwriteDynamic) {
        require(branch.isEmpty && wapId.isEmpty,
          "graft-iceberg: dynamic partition overwrite cannot stage onto " +
            "a branch or wap.id (its commit replaces head partitions)")
        new GraftDynamicOverwriteBatchWrite(dir, writeSchema,
          info.queryId(), stats, partSpec, specForCreate, targetBytes,
          fieldIds, writeFormat)
      } else if (overwriteAll) {
        require(branch.isEmpty,
          "graft-iceberg: INSERT OVERWRITE cannot target a write.branch " +
            "(overwrite commits move the table head); publish or unset " +
            "the branch first")
        new GraftOverwriteBatchWrite(dir, writeSchema, info.queryId(), stats,
          partSpec, specForCreate, targetBytes, fieldIds, writeFormat)
      } else {
        require(branch.isEmpty || wapId.isEmpty,
          "graft-iceberg: write.branch and spark.wap.id are both set — " +
            "pick ONE staging mechanism")
        new GraftBatchWrite(dir, writeSchema, info.queryId(), stats,
          partSpec, specForCreate, sortCols, targetBytes, fieldIds, branch,
          wapId, writeFormat)
      }
    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      require(branch.isEmpty,
        "graft-iceberg: streaming writes cannot target a write.branch " +
          "(the exactly-once epoch ledger commits to the table head)")
      require(wapId.isEmpty,
        "graft-iceberg: streaming writes cannot stage under spark.wap.id " +
          "(epoch commits move the table head; unset the audit id)")
      new GraftStreamingWrite(dir, writeSchema, info.queryId(), stats,
        partSpec, specForCreate, targetBytes, fieldIds, writeFormat)
    }
  }

  /** `write.sort-order` asks the PLANNER for a range distribution plus a
    * per-partition sort on those columns (Iceberg's range write-
    * distribution mode): tasks then write globally range-clustered files
    * whose recorded bounds are DISJOINT — exactly what manifest-bound
    * file skipping wants. A PARTITIONED table without a sort order asks
    * for a hash distribution CLUSTERED on the partition sources
    * (Iceberg's hash write-distribution mode): each partition value
    * lands in one task, so the write emits one file per partition value
    * instead of tasks × values. Without either the write is
    * distribution-free, as before. (Batch path; a streaming sink with a
    * sort order fails Spark's own global-sort check — set it on batch
    * tables.) */
  override def build(): Write = {
    import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
    def sortsOf(cols: Seq[String]): Array[SortOrder] = cols.map(c =>
      Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)).toArray
    def withDist(dist: Distribution, ordering: Array[SortOrder]): Write =
      new GraftWrite with RequiresDistributionAndOrdering {
        override def requiredDistribution(): Distribution = dist
        override def requiredOrdering(): Array[SortOrder] = ordering
      }
    val partSrc = partSpec.map(p => info.schema().fieldNames(p._3)).distinct
    // Iceberg's write.distribution-mode, expressed through Spark's own
    // RequiresDistributionAndOrdering SPI (Spark plans the exchange):
    //   none  — no shuffle before the write; a declared sort order still
    //           sorts WITHIN each task (local sort only);
    //   hash  — cluster on the partition sources: each partition value
    //           lands in one task → one file per value;
    //   range — range-distribute on partition sources + sort order: the
    //           output carries DISJOINT ranges, the manifest-bound-
    //           skipping-friendly layout.
    // Unset keeps the established defaults: sorted tables get a global
    // ordered distribution, partitioned tables get hash clustering.
    distributionMode.map(_.toLowerCase) match {
      case Some("none") =>
        if (sortCols.isEmpty) new GraftWrite {}
        else withDist(Distributions.unspecified(), sortsOf(sortCols))
      case Some("hash") =>
        require(partSrc.nonEmpty,
          "graft-iceberg: write.distribution-mode=hash needs a " +
            "partitioned table")
        withDist(Distributions.clustered(partSrc.map(c =>
          Expressions.column(c)
            : org.apache.spark.sql.connector.expressions.Expression).toArray),
          sortsOf(sortCols))
      case Some("range") =>
        val cols = (partSrc ++ sortCols.filterNot(partSrc.contains)).distinct
        require(cols.nonEmpty,
          "graft-iceberg: write.distribution-mode=range needs a " +
            "partition spec or a write.sort-order")
        withDist(Distributions.ordered(sortsOf(cols)), sortsOf(cols))
      case Some(other) => sys.error(
        s"graft-iceberg: unsupported write.distribution-mode '$other' " +
          "(none | hash | range)")
      case None =>
        if (sortCols.nonEmpty)
          withDist(Distributions.ordered(sortsOf(sortCols)), sortsOf(sortCols))
        else if (partSrc.nonEmpty)
          withDist(Distributions.clustered(partSrc.map(c =>
            Expressions.column(c)
              : org.apache.spark.sql.connector.expressions.Expression).toArray),
            Array.empty)
        else new GraftWrite {}
    }
  }
}

/** Full-table overwrite: task-parallel unique-file writes, then one
  * snapshot that drops every pre-commit data file and adds the new set.
  * A table that was never written truncates to a plain first append. */
private[v2] object GraftIcebergWrite {
  /** Task commit messages → manifest entries (partition values and
    * bounds carried through). */
  private[v2] def entriesOf(messages: Array[WriterCommitMessage],
      sortOrderId: Integer = null)
      : Seq[graft.sources.IcebergLayoutWriter.ManifestEntrySpec] =
    messages.toSeq.collect { case m: GraftCommitMessage => m.files }
      .flatten.filter(_.rows > 0)
      .map(f => graft.sources.IcebergLayoutWriter.ManifestEntrySpec(status = 1,
        content = 0, filePath = f.path, recordCount = f.rows,
        sizeBytes = f.bytes, lower = f.lower, upper = f.upper,
        partition = f.partition, sortOrderId = sortOrderId,
        fileFormat = GraftFormatWriters.formatOf(f.path),
        valueCounts = f.valueCounts, nullValueCounts = f.nullValueCounts,
        nanValueCounts = f.nanValueCounts, columnSizes = f.columnSizes))

  /** The metadata `sort-orders` rows a `write.sort-order` declaration
    * registers on table creation: identity asc nulls-first per column,
    * source ids positional (the layout dialect). */
  private[v2] def sortOrderRows(sortCols: Seq[String],
      schema: StructType): Seq[(Int, String, String, String)] =
    sortCols.map { c =>
      val i = schema.fieldNames.indexOf(c)
      require(i >= 0, s"graft-iceberg: sort column $c not in write schema")
      (i + 1, "identity", "asc", "nulls-first")
    }

  private[v2] def deleteFiles(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case m: GraftCommitMessage => m.files.foreach(f =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(f.path)))
      case _ => ()
    }
}

/** DYNAMIC partition overwrite: the task-parallel write decides the
  * touched partition set; the commit swaps exactly the pre-existing
  * data files of those partitions for the written files in ONE
  * snapshot. Untouched partitions never move — the O(touched) bill.
  * Partition tuples match on their canonical string forms (the same
  * values the manifests record). */
private[v2] class GraftDynamicOverwriteBatchWrite(dir: String,
    schema: StructType, queryId: String,
    stats: Seq[GraftIcebergSource.StatField] = Nil,
    partCols: Seq[(String, String, Int)] = Nil,
    specForCreate: Seq[(String, String, Int)] = Nil,
    targetBytes: Option[Long] = None,
    fieldIds: Map[String, Int] = Map.empty,
    format: String = "parquet") extends BatchWrite {

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new GraftWriterFactory(dir, schema, queryId, stats, partCols, targetBytes,
      fieldIds, format)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val added = GraftIcebergWrite.entriesOf(messages)
    // Spark's dynamic-overwrite semantics: an empty source overwrites
    // NOTHING (no partitions are touched)
    if (added.isEmpty) return
    def canon(p: Iterable[(String, Any)]): Map[String, String] =
      p.map { case (n, v) => n -> String.valueOf(v) }.toMap
    val touched = added.map(e => canon(e.partition)).toSet
    val spark = org.apache.spark.sql.SparkSession.active
    val table = new GraftTable(dir, None, Nil)
    if (!table.hasMetadata) {
      // first write on a created-but-empty table: a plain append that
      // also births the partition spec, same as an INSERT
      graft.sources.LayoutMaintenance.commitAppend(spark, dir, added,
        partitionSpec = specForCreate)
      return
    }
    // partition-predicate replace: the removed set derives from the
    // COMMIT's own pinned base inside the table lock — a caller-side
    // listing here would let a concurrent insert's file silently survive
    // the partition swap (the lost-insert window RTAS closed the same
    // way). Both planning regimes route through it; the commit matches
    // partitions manifest by manifest on the driver.
    graft.sources.LayoutMaintenance.commitReplacePartitions(
      spark, dir, touched, added)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftIcebergWrite.deleteFiles(messages)
}

private[v2] class GraftOverwriteBatchWrite(dir: String, schema: StructType,
    queryId: String,
    stats: Seq[GraftIcebergSource.StatField] = Nil,
    partCols: Seq[(String, String, Int)] = Nil,
    specForCreate: Seq[(String, String, Int)] = Nil,
    targetBytes: Option[Long] = None,
    fieldIds: Map[String, Int] = Map.empty,
    format: String = "parquet") extends BatchWrite {

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new GraftWriterFactory(dir, schema, s"ow-$queryId", stats, partCols,
      targetBytes, fieldIds, format)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    val added = GraftIcebergWrite.entriesOf(messages)
    if (!graft.sources.IcebergManifestSource.hasMetadata(dir)) {
      // overwrite of a never-written table == its first append
      if (added.nonEmpty)
        graft.sources.LayoutMaintenance.commitAppend(spark, dir, added,
          partitionSpec = specForCreate)
    } else {
      // replace-ALL: the removed set derives from the commit's own
      // pinned base inside the lock — never a caller-side listing, and
      // never O(files) of driver state
      graft.sources.LayoutMaintenance.commitReplaceAll(spark, dir, added)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftIcebergWrite.deleteFiles(messages)
}

/** `writeStream.format("graft-iceberg")` without foreachBatch: each
  * epoch's task files commit as ONE snapshot append — the same two-phase
  * object-store shape as the batch write, once per trigger. Exactly-once
  * across restarts is the standard epoch-ledger discipline: the commit
  * is keyed by (queryId, epochId) in `metadata/streaming-epochs.json`;
  * a replayed epoch (post-crash re-run of a trigger whose commit already
  * landed) deletes its re-written files and commits nothing, so the
  * table never double-counts. The ledger is read-modify-written under
  * the same per-table lock (and CREATE_NEW version CAS) every other
  * commit path uses. At 100 TB the steady-state bill per trigger is the
  * append rate: task-parallel data files + one metadata swap. */
private[v2] class GraftStreamingWrite(dir: String, schema: StructType,
    queryId: String,
    stats: Seq[GraftIcebergSource.StatField] = Nil,
    partCols: Seq[(String, String, Int)] = Nil,
    specForCreate: Seq[(String, String, Int)] = Nil,
    targetBytes: Option[Long] = None,
    fieldIds: Map[String, Int] = Map.empty,
    format: String = "parquet")
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    new GraftStreamingWriterFactory(dir, schema, queryId, stats, partCols,
      targetBytes, fieldIds, format)

  private def ledgerFile =
    new java.io.File(new java.io.File(dir, "metadata"), "streaming-epochs.json")

  private def lastCommitted(): Long = {
    val f = ledgerFile
    if (!f.exists()) return -1L
    Option(graft.sources.IcebergManifestSource.readDocument(f).get(queryId))
      .filter(_.canConvertToLong).map(_.asLong()).getOrElse(-1L)
  }

  private def recordCommitted(epochId: Long): Unit = {
    val f = ledgerFile
    val root =
      if (f.exists()) graft.sources.IcebergManifestSource.readDocument(f)
      else com.fasterxml.jackson.databind.node.JsonNodeFactory.instance.objectNode()
    root.put(queryId, epochId)
    f.getParentFile.mkdirs()
    graft.sources.LayoutMaintenance.writeDocument(f, root)
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    graft.sources.LayoutMaintenance.commitLock(dir).synchronized {
      if (epochId <= lastCommitted()) {
        // replayed trigger: the snapshot already landed — drop the rerun's
        // files instead of double-committing them
        abort(epochId, messages)
      } else {
        val entries = GraftIcebergWrite.entriesOf(messages)
        if (entries.nonEmpty)
          graft.sources.LayoutMaintenance.commitAppend(
            org.apache.spark.sql.SparkSession.active, dir, entries,
            partitionSpec = specForCreate)
        // empty epochs advance the ledger too: their replay is also a no-op
        recordCommitted(epochId)
      }
    }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    GraftIcebergWrite.deleteFiles(messages)
}

private[v2] class GraftStreamingWriterFactory(dir: String, schema: StructType,
    queryId: String,
    stats: Seq[GraftIcebergSource.StatField] = Nil,
    partCols: Seq[(String, String, Int)] = Nil,
    targetBytes: Option[Long] = None,
    fieldIds: Map[String, Int] = Map.empty,
    format: String = "parquet")
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(dir, schema, s"$queryId-e$epochId", partitionId, taskId,
      stats, partCols, targetBytes, fieldIds, format)
}

/** One written data file's commit facts: path, rows, bytes, Appendix-D
  * bounds per stat field, per-column value/null counts (spec
  * value_counts/null_value_counts — recorded for EVERY top-level
  * column), and the file's partition values (empty for unpartitioned
  * writes). */
private[v2] case class GraftFileInfo(path: String, rows: Long,
    bytes: Long, lower: Map[Int, Array[Byte]] = Map.empty,
    upper: Map[Int, Array[Byte]] = Map.empty,
    partition: Seq[(String, Any)] = Nil,
    valueCounts: Map[Int, Long] = Map.empty,
    nullValueCounts: Map[Int, Long] = Map.empty,
    nanValueCounts: Map[Int, Long] = Map.empty,
    columnSizes: Map[Int, Long] = Map.empty)

private[v2] case class GraftCommitMessage(files: Seq[GraftFileInfo])
    extends WriterCommitMessage

private[v2] class GraftBatchWrite(dir: String, schema: StructType,
    queryId: String,
    stats: Seq[GraftIcebergSource.StatField] = Nil,
    partCols: Seq[(String, String, Int)] = Nil,
    specForCreate: Seq[(String, String, Int)] = Nil,
    sortCols: Seq[String] = Nil,
    targetBytes: Option[Long] = None,
    fieldIds: Map[String, Int] = Map.empty,
    branch: Option[String] = None,
    wapId: Option[String] = None,
    format: String = "parquet") extends BatchWrite {

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new GraftWriterFactory(dir, schema, queryId, stats, partCols, targetBytes,
      fieldIds, format)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // a write under write.sort-order arrives globally range-sorted
    // (RequiresDistributionAndOrdering), so every task file is sorted:
    // stamp sort_order_id so readers can report per-file ordering
    val entries = GraftIcebergWrite.entriesOf(messages,
      sortOrderId = if (sortCols.nonEmpty) Int.box(1) else null)
    // empty-task files were already deleted task-side; an all-empty
    // write still commits an (empty) snapshot? No: real engines skip it
    if (entries.nonEmpty) wapId match {
      case Some(id) =>
        // audit-id staging: snapshot in history, summary-tagged, NO ref
        // moves; CALL publish_changes(wap_id) cherry-picks it later
        graft.sources.LayoutMaintenance.stageAppendWap(
          org.apache.spark.sql.SparkSession.active, dir, entries, id)
      case None => branch match {
      // branch-targeted append (write-audit-publish from pure SQL):
      // the snapshot lands in history and the BRANCH ref moves; the
      // table head (and `main`) stay put until CALL fast_forward
      // publishes. Staging onto a table with no snapshots is refused
      // by stageAppend (there is no head to isolate).
      case Some(b) =>
        graft.sources.LayoutMaintenance.stageAppend(
          org.apache.spark.sql.SparkSession.active, dir, entries, b)
      case None =>
        graft.sources.LayoutMaintenance.commitAppend(
          org.apache.spark.sql.SparkSession.active, dir, entries,
          partitionSpec = specForCreate,
          sortOrder = GraftIcebergWrite.sortOrderRows(sortCols, schema))
    } }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftIcebergWrite.deleteFiles(messages)
}

private[v2] class GraftWriterFactory(dir: String, schema: StructType,
    queryId: String,
    stats: Seq[GraftIcebergSource.StatField] = Nil,
    partCols: Seq[(String, String, Int)] = Nil,
    targetBytes: Option[Long] = None,
    fieldIds: Map[String, Int] = Map.empty,
    format: String = "parquet") extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(dir, schema, queryId, partitionId, taskId, stats,
      partCols, targetBytes, fieldIds, format)
}

/** Task-side writer. Unpartitioned: one parquet file. Partitioned
  * (`partCols` = (partitionFieldName, transform, schemaIndex) per spec
  * field): one OPEN SINK PER PARTITION VALUE GROUP encountered — each
  * written file is homogeneous in its partition tuple, which is what
  * lets the manifest record exact partition values for pruning and
  * storage-partitioned joins. The planner already clusters rows by the
  * partition sources (RequiresDistributionAndOrdering), so a task sees
  * few distinct values; the map is a safety net, not the design. */
private[v2] class GraftDataWriter(dir: String, schema: StructType,
    queryId: String, partitionId: Int, taskId: Long,
    stats: Seq[GraftIcebergSource.StatField] = Nil,
    partCols: Seq[(String, String, Int)] = Nil,
    targetBytes: Option[Long] = None,
    fieldIds: Map[String, Int] = Map.empty,
    format: String = "parquet")
    extends DataWriter[InternalRow] {

  // Per-file column statistics for the declared stat fields (the same
  // name:fieldId:type contract the read path prunes on): min/max over
  // non-null values, encoded per Iceberg Appendix D at commit. A real
  // writer records these so ITS OWN files skip on later reads.
  private val statIdx: Array[(Int, GraftIcebergSource.StatField)] =
    stats.flatMap(f => schema.fieldNames.indexOf(f.name) match {
      case -1 => None
      case i => Some((i, f))
    }).toArray

  // stat field id per column INDEX: a declared stat field's id when the
  // column is declared (bounds encode under it), else the positional
  // convention — counts and column_sizes must key under the SAME id the
  // metadata-table reader resolves for the column, or declared-id
  // columns would serve null counts despite having recorded them
  private val statIdOf: Array[Int] = {
    val declared = statIdx.map { case (i, f) => i -> f.fieldId }.toMap
    schema.fields.indices.map(i => declared.getOrElse(i, i + 1)).toArray
  }

  /** The bound comparables' order (Long / Double / String). */
  private def ltAny(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Long, y: Long) => x < y
    case (x: Double, y: Double) => x < y
    case (x: String, y: String) => x < y
    case _ => false
  }

  /** NaN must never enter a recorded bound (Iceberg excludes NaN from
    * bounds — nan_value_counts carries it): a NaN min/max would stick
    * (ltAny is false both ways) and the scan's Double.compare-based
    * overlaps() sorts NaN above everything, so a NaN lower bound wrongly
    * prunes LessThan files. Mirrors GeoLake.BboxAcc's NaN skip. */
  private def isNaNValue(v: Any): Boolean = v match {
    case d: Double => java.lang.Double.isNaN(d)
    case _ => false
  }

  // Variant shred declarations (graft.variant-shred.<col> — read from
  // the table's own descriptor so EVERY GraftDataWriter construction
  // site honors them without plumbing): the parquet encoder writes the
  // v3 shredded shape and this writer records per-file bounds of each
  // shredded path under its synthetic stat id, with the SAME try-cast
  // semantics the _shred_* metadata columns serve.
  private val tableDescriptorProps: Map[String, String] =
    graft.sources.LayoutMaintenance.descriptorProps(dir)

  private val shredDecls: Array[(Int, VariantShred.Decl)] = {
    val props = tableDescriptorProps
    if (!props.keysIterator.exists(_.startsWith(VariantShred.PropPrefix)))
      Array.empty
    else VariantShred.declsOf(props, schema)
      .map(decl => (schema.fieldNames.indexOf(decl.col), decl))
      .filter(_._1 >= 0).toArray
  }
  private val shredsByCol: Map[String, Seq[(String, DataType)]] =
    shredDecls.toSeq.groupBy(_._2.col)
      .map { case (c, ds) => c -> ds.map(t => (t._2.field, t._2.dt)) }

  // GEOMETRY/GEOGRAPHY lake columns: (schema index, column, base stat id
  // of its 4 _geo_* virtual bbox-edge fields) — bounds recorded per file
  // for intersects pruning, plus the spec's WKB-point bounds under the
  // column's own stat id. `unknown` lake columns are null-only.
  private val lakeTypeOf: Array[String] =
    GraftFormatWriters.lakeTypeArr(schema)
  private val geoIdx: Array[(Int, String, Int)] = {
    // ids derive from the TABLE's lake-type declarations (descriptor
    // properties, the scan's source), NOT the write schema — a
    // declaration for a schema-absent column (e.g. a stale property
    // after DROP COLUMN) must not shift every other column's ids; the
    // write-schema lake metadata only covers path-addressed writes
    // without a descriptor
    val declared = GraftFormatWriters.lakeTypesOf(tableDescriptorProps)
    val lakeMap =
      if (declared.exists { case (_, lt) => GeoLake.isGeoType(lt) }) declared
      else schema.fields.indices.flatMap(i =>
        Option(lakeTypeOf(i)).map(schema.fields(i).name -> _)).toMap
    val base = GeoLake.geoStatFields(lakeMap)
      .grouped(4).map(_.head._2).toSeq
    GeoLake.geoColsOf(lakeMap).zip(base).map { case (c, b) =>
      (schema.fieldNames.indexOf(c), c, b)
    }.filter(_._1 >= 0).toArray
  }
  private val unknownCols: Array[Int] =
    schema.fields.indices.filter(i => lakeTypeOf(i) == "unknown").toArray

  // Struct LEAVES with declared field ids (the descriptor's nested
  // column-ids — born with the table since round 15): value/null counts
  // and bounds recorded under the LEAF id, the spec's convention, so
  // readable_metrics can render nested columns. (parentIdx, leafIdx,
  // leafFieldId, parentWidth, leafType).
  private val leafStats: Array[(Int, Int, Int, Int, DataType)] =
    schema.fields.zipWithIndex.flatMap { case (f, i) =>
      f.dataType match {
        case st: StructType => st.fields.toSeq.zipWithIndex.flatMap {
          case (nf, k) =>
            val eligible = nf.dataType == LongType ||
              nf.dataType == IntegerType || nf.dataType == DoubleType ||
              nf.dataType == FloatType || nf.dataType == StringType
            fieldIds.get(s"${f.name}.${nf.name}")
              .filter(_ => eligible)
              .map(id => (i, k, id, st.length, nf.dataType))
        }
        case _ => Seq.empty[(Int, Int, Int, Int, DataType)]
      }
    }.toArray

  /** One open output file plus its running stats. The physical encoder
    * is the table's `write.format.default` — parquet, ORC, or AVRO
    * ([[GraftFormatWriters]]); everything around it (partition fan-out,
    * bounds, rolling, the two-phase commit) is format-independent. */
  private class Sink(val file: java.io.File,
      val partition: Seq[(String, Any)]) {
    val writer: GraftPhysicalWriter =
      GraftFormatWriters.create(format, file, schema, fieldIds, shredsByCol)
    val statMin = new Array[Any](statIdx.length)
    val statMax = new Array[Any](statIdx.length)
    // per-file bounds of each declared variant shred path — STRICTLY
    // typed values only; one present-but-mistyped value SUPPRESSES the
    // file's bounds for that path (try-cast could still produce values
    // outside the strict range, so recording would prune wrongly, and a
    // strict variant_get error must never be masked by a skip)
    val shredMin = new Array[Any](shredDecls.length)
    val shredMax = new Array[Any](shredDecls.length)
    val shredSuppress = new Array[Boolean](shredDecls.length)
    // per-file min/max of each geo column's 4 bbox-edge virtual columns
    val geoLo = Array.fill(geoIdx.length * 4)(Double.NaN)
    val geoHi = Array.fill(geoIdx.length * 4)(Double.NaN)
    // struct leaves: value/null counts + bounds under LEAF field ids
    val leafValue = new Array[Long](leafStats.length)
    val leafNull = new Array[Long](leafStats.length)
    val leafMin = new Array[Any](leafStats.length)
    val leafMax = new Array[Any](leafStats.length)
    // spec value_counts/null_value_counts, EVERY top-level column —
    // one isNullAt per column per row, positional field ids
    val nullCount = new Array[Long](schema.length)
    // spec nan_value_counts (field 137): FLOAT/DOUBLE columns only —
    // the spec restricts NaN counts to floating-point types
    val nanCount = new Array[Long](schema.length)
    var rows = 0L
  }

  private val dataDir = { val d = new java.io.File(dir, "data"); d.mkdirs(); d }
  private val sinks =
    new scala.collection.mutable.LinkedHashMap[Seq[Any], Sink]()
  // files already rolled and closed by the target-size check; commit
  // emits them alongside the still-open sinks
  private val rolled = scala.collection.mutable.ArrayBuffer.empty[GraftFileInfo]
  private var rollSeq = 0

  private def newSink(key: Seq[Any], roll: Int = 0): Sink = {
    val suffix = (if (partCols.isEmpty) "" else s"-p${sinks.size}") +
      (if (roll == 0) "" else s"-r$roll")
    val ext = GraftFormatWriters.extensionOf(format)
    new Sink(new java.io.File(dataDir,
        s"append-$queryId-$partitionId-$taskId$suffix.$ext"),
      partCols.map(_._1).zip(key))
  }

  /** Close a sink and turn it into its commit-message file record (None
    * for a zero-row sink, whose file is removed). */
  /** spec column_sizes (field 108): per-top-level-column ON-DISK bytes —
    * parquet from the footer's column-chunk totals, ORC from stripe
    * stream lengths ([[orcColumnSizesOf]]); one KB-grain tail read per
    * committed file, paid in parallel at commit. AVRO records none
    * (row-major: bytes are not attributable per column; readable_metrics
    * serves null, the spec's absent-metrics convention). */
  /** ORC twin of the parquet arm: per-top-level-column ON-DISK bytes
    * from each stripe footer's stream lengths (data/present/length/
    * index streams of the column's ORC id subtree) — so mixed-format
    * `readable_metrics.column_size` is symmetric. One tail + stripe
    * footer read per committed file, KB-grain. */
  private def orcColumnSizesOf(file: java.io.File): Map[Int, Long] = {
    val reader = org.apache.orc.OrcFile.createReader(
      new org.apache.hadoop.fs.Path(file.getAbsolutePath),
      org.apache.orc.OrcFile.readerOptions(
        new org.apache.hadoop.conf.Configuration()))
    try {
      val td = reader.getSchema
      import scala.jdk.CollectionConverters._
      val kids = td.getChildren.asScala.toSeq
      val names = td.getFieldNames.asScala.toSeq
      // ORC id range per top-level column: [child id, child maximumId]
      // (a composite column's subtree shares its streams' bytes)
      val ranges = names.zip(kids.map(c => (c.getId, c.getMaximumId)))
      val byOrcId = scala.collection.mutable.HashMap.empty[Int, Long]
      val rr = reader.rows()
        .asInstanceOf[org.apache.orc.impl.RecordReaderImpl]
      try reader.getStripes.asScala.foreach { st =>
        rr.readStripeFooter(st).getStreamsList.asScala.foreach { s =>
          byOrcId(s.getColumn) = byOrcId.getOrElse(s.getColumn, 0L) +
            s.getLength
        }
      } finally rr.close()
      schema.fields.zipWithIndex.flatMap { case (f, i) =>
        ranges.collectFirst { case (n, (lo, hi)) if n == f.name =>
          val sum = (lo to hi).map(id => byOrcId.getOrElse(id, 0L)).sum
          statIdOf(i) -> sum
        }.filter(_._2 > 0L)
      }.toMap
    } finally reader.close()
  }

  private def columnSizesOf(file: java.io.File): Map[Int, Long] =
    if (format == "orc") orcColumnSizesOf(file)
    else if (format != "parquet") Map.empty
    else {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.getAbsolutePath),
        new org.apache.hadoop.conf.Configuration())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val byTop = scala.collection.mutable.HashMap.empty[String, Long]
        r.getFooter.getBlocks.forEach(b => b.getColumns.forEach { c =>
          val top = c.getPath.toArray()(0)
          byTop(top) = byTop.getOrElse(top, 0L) + c.getTotalSize
        })
        schema.fields.zipWithIndex.flatMap { case (f, i) =>
          byTop.get(f.name).map(statIdOf(i) -> _)
        }.toMap
      } finally r.close()
    }

  private def finalizeSink(sink: Sink): Option[GraftFileInfo] = {
    import graft.sources.IcebergLayoutWriter.{boundLong, boundDouble, boundString}
    def enc(v: Any): Array[Byte] = v match {
      case x: Long => boundLong(x)
      case x: Double => boundDouble(x)
      case x: String => boundString(x)
      case b: Array[Byte] => b // spec WKB-point geometry bounds
    }
    sink.writer.close()
    if (sink.rows == 0) {
      org.apache.commons.io.FileUtils.deleteQuietly(sink.file)
      None
    } else {
      // geo columns: the 4 virtual bbox-edge fields' min/max, plus the
      // spec's WKB-point lower/upper under the column's own stat id
      val geoLower = geoIdx.indices.flatMap { g =>
        val (ci, _, base) = geoIdx(g)
        if (sink.geoLo(g * 4).isNaN) Nil
        else (0 until 4).map(k => (base + k) -> enc(sink.geoLo(g * 4 + k))) :+
          (statIdOf(ci) -> enc(GeoLake.wkbPoint(
            sink.geoLo(g * 4), sink.geoLo(g * 4 + 1))))
      }
      val geoUpper = geoIdx.indices.flatMap { g =>
        val (ci, _, base) = geoIdx(g)
        if (sink.geoHi(g * 4).isNaN) Nil
        else (0 until 4).map(k => (base + k) -> enc(sink.geoHi(g * 4 + k))) :+
          (statIdOf(ci) -> enc(GeoLake.wkbPoint(
            sink.geoHi(g * 4 + 2), sink.geoHi(g * 4 + 3))))
      }
      val lower = (statIdx.indices.flatMap { j =>
        Option(sink.statMin(j)).map(v => statIdx(j)._2.fieldId -> enc(v)) } ++
        shredDecls.indices.flatMap { j => Option(sink.shredMin(j))
          .map(v => shredDecls(j)._2.statId -> enc(v)) } ++
        leafStats.indices.flatMap { j => Option(sink.leafMin(j))
          .map(v => leafStats(j)._3 -> enc(v)) } ++ geoLower).toMap
      val upper = (statIdx.indices.flatMap { j =>
        Option(sink.statMax(j)).map(v => statIdx(j)._2.fieldId -> enc(v)) } ++
        shredDecls.indices.flatMap { j => Option(sink.shredMax(j))
          .map(v => shredDecls(j)._2.statId -> enc(v)) } ++
        leafStats.indices.flatMap { j => Option(sink.leafMax(j))
          .map(v => leafStats(j)._3 -> enc(v)) } ++ geoUpper).toMap
      Some(GraftFileInfo(sink.file.getAbsolutePath, sink.rows,
        sink.file.length(), lower, upper, sink.partition,
        valueCounts =
          (schema.fields.indices.map(i => statIdOf(i) -> sink.rows) ++
            leafStats.indices.map(j =>
              leafStats(j)._3 -> sink.leafValue(j))).toMap,
        nullValueCounts =
          (schema.fields.indices.map(i => statIdOf(i) -> sink.nullCount(i)) ++
            leafStats.indices.map(j =>
              leafStats(j)._3 -> sink.leafNull(j))).toMap,
        nanValueCounts = schema.fields.indices.collect {
          case i if schema.fields(i).dataType == DoubleType ||
              schema.fields(i).dataType == FloatType =>
            statIdOf(i) -> sink.nanCount(i)
        }.toMap,
        // column_sizes pipelined from the writer's own in-memory footer
        // when the format exposes it (parquet) — byte-identical to the
        // commit-time re-read and zero extra I/O; formats without it
        // leave the map empty and [[withColumnSizes]] fills it at
        // commit as before
        columnSizes = sink.writer.closedColumnSizes match {
          case Some(byTop) => schema.fields.zipWithIndex.flatMap {
            case (f, i) => byTop.get(f.name).map(statIdOf(i) -> _) }.toMap
          case None => Map.empty
        }))
    }
  }

  /** Fill spec column_sizes (field 108) for every committed parquet
    * file: one KB-grain footer read per file, fanned across a small
    * pool — a task that rolled hundreds of near-target files (the
    * write.target-file-size shape) pays max(read) instead of
    * sum(read). */
  private def withColumnSizes(infos: Seq[GraftFileInfo]): Seq[GraftFileInfo] = {
    if (format == "avro" || infos.isEmpty) return infos // avro: row-major
    // files whose writer pipelined its footer already carry sizes —
    // only the rest (ORC today) pay the re-read
    val missing = infos.filter(_.columnSizes.isEmpty)
    if (missing.isEmpty) return infos
    if (missing.size == 1) {
      val m = missing.head
      val filled = m.copy(
        columnSizes = columnSizesOf(new java.io.File(m.path)))
      return infos.map(i => if (i.path == m.path) filled else i)
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(missing.size, 8))
    try {
      val futs = missing.map { i =>
        i.path -> pool.submit(
          new java.util.concurrent.Callable[Map[Int, Long]] {
            override def call(): Map[Int, Long] =
              columnSizesOf(new java.io.File(i.path))
          })
      }.toMap
      infos.map(i =>
        if (i.columnSizes.nonEmpty) i
        else i.copy(columnSizes = futs(i.path).get()))
    } finally pool.shutdown()
  }

  /** transform(source value) → the partition ordinal this row lands in.
    * Null sources refuse the write (the dialect records concrete
    * partition values; real Iceberg's null-partition handling is out of
    * scope and silently mis-bucketing would corrupt pruning). */
  private def partitionKeyOf(record: InternalRow): Seq[Any] =
    partCols.map { case (pfName, transform, i) =>
      require(!record.isNullAt(i),
        s"graft-iceberg write: null partition source for $pfName")
      import graft.sources.PartitionTransforms._
      def lng: Long = schema.fields(i).dataType match {
        case LongType => record.getLong(i)
        case IntegerType => record.getInt(i).toLong
        case TimestampType => record.getLong(i) // micros UTC
        case TimestampNTZType => record.getLong(i) // micros, tz-naive
        case DateType => record.getInt(i).toLong // epoch days
        case other => sys.error(
          s"graft-iceberg write: partition transform $transform needs an " +
            s"integral source, got $other")
      }
      // a DATE source carries epoch DAYS, not micros — the time
      // transforms derive from the calendar date directly (Iceberg's
      // date-typed transform results)
      def localDate = java.time.LocalDate.ofEpochDay(record.getInt(i).toLong)
      val isDate = schema.fields(i).dataType == DateType
      transform match {
        case "identity" => schema.fields(i).dataType match {
          case StringType => record.getUTF8String(i).toString
          case _ => lng
        }
        case "day" => if (isDate) lng else dayFromMicros(lng).toLong
        case "hour" =>
          require(!isDate, "graft-iceberg write: hour() of a DATE source")
          hourFromMicros(lng).toLong
        case "month" =>
          if (isDate) ((localDate.getYear - 1970) * 12 +
            localDate.getMonthValue - 1).toLong
          else monthFromMicros(lng).toLong
        case "year" =>
          if (isDate) (localDate.getYear - 1970).toLong
          else yearFromMicros(lng).toLong
        case t if t.startsWith("bucket[") =>
          val n = t.stripPrefix("bucket[").stripSuffix("]").toInt
          schema.fields(i).dataType match {
            case StringType =>
              // a uuid lake column buckets by the spec's 16-byte
              // big-endian hash, not the string's UTF-8 bytes
              val f = schema.fields(i)
              if (f.metadata.contains(GraftFormatWriters.LakeTypeKey) &&
                  f.metadata.getString(
                    GraftFormatWriters.LakeTypeKey) == "uuid")
                bucketUuid(record.getUTF8String(i).toString, n).toLong
              else bucketString(record.getUTF8String(i).toString, n).toLong
            case _ => bucketLong(lng, n).toLong
          }
        case t if t.startsWith("truncate[") =>
          truncateLong(lng, t.stripPrefix("truncate[").stripSuffix("]").toLong)
        case other => sys.error(
          s"graft-iceberg write: unsupported partition transform $other")
      }
    }

  override def write(record: InternalRow): Unit = {
    val key = partitionKeyOf(record)
    val sink = sinks.getOrElseUpdate(key, newSink(key))
    sink.writer.write(record)
    var j = 0
    while (j < statIdx.length) {
      val (i, _) = statIdx(j)
      if (!record.isNullAt(i)) {
        val v: Any = schema.fields(i).dataType match {
          case LongType => record.getLong(i)
          case IntegerType => record.getInt(i).toLong
          case DoubleType => record.getDouble(i)
          case FloatType => record.getFloat(i).toDouble
          case StringType => record.getUTF8String(i).toString
          case _ => null
        }
        if (v != null && !isNaNValue(v)) {
          if (sink.statMin(j) == null || ltAny(v, sink.statMin(j)))
            sink.statMin(j) = v
          if (sink.statMax(j) == null || ltAny(sink.statMax(j), v))
            sink.statMax(j) = v
        }
      }
      j += 1
    }
    var c = 0
    while (c < schema.length) {
      if (record.isNullAt(c)) sink.nullCount(c) += 1
      else schema.fields(c).dataType match {
        case DoubleType =>
          if (java.lang.Double.isNaN(record.getDouble(c)))
            sink.nanCount(c) += 1
        case FloatType =>
          if (java.lang.Float.isNaN(record.getFloat(c)))
            sink.nanCount(c) += 1
        case _ => ()
      }
      c += 1
    }
    var sj = 0
    while (sj < shredDecls.length) {
      val (ci, decl) = shredDecls(sj)
      if (!record.isNullAt(ci) && !sink.shredSuppress(sj)) {
        VariantShred.extractStrict(record.getVariant(ci),
          decl.field, decl.dt) match {
          case None => () // field absent: extract is null, no coverage needed
          case Some(null) => // present but mistyped: suppress this file
            sink.shredSuppress(sj) = true
            sink.shredMin(sj) = null
            sink.shredMax(sj) = null
          case Some(v0) =>
            val v: Any = v0
            if (!isNaNValue(v)) {
              if (sink.shredMin(sj) == null || ltAny(v, sink.shredMin(sj)))
                sink.shredMin(sj) = v
              if (sink.shredMax(sj) == null || ltAny(sink.shredMax(sj), v))
                sink.shredMax(sj) = v
            }
        }
      }
      sj += 1
    }
    var gj = 0
    while (gj < geoIdx.length) {
      val (ci, _, _) = geoIdx(gj)
      if (!record.isNullAt(ci)) {
        GeoLake.bbox(record.getBinary(ci)).foreach { case (x0, y0, x1, y1) =>
          val edges = Array(x0, y0, x1, y1)
          var k = 0
          while (k < 4) {
            val j = gj * 4 + k
            val v = edges(k)
            if (sink.geoLo(j).isNaN || v < sink.geoLo(j)) sink.geoLo(j) = v
            if (sink.geoHi(j).isNaN || v > sink.geoHi(j)) sink.geoHi(j) = v
            k += 1
          }
        }
      }
      gj += 1
    }
    var lj = 0
    while (lj < leafStats.length) {
      val (pi, ki, _, width, dt) = leafStats(lj)
      if (!record.isNullAt(pi)) {
        val sr = record.getStruct(pi, width)
        sink.leafValue(lj) += 1
        if (sr.isNullAt(ki)) sink.leafNull(lj) += 1
        else {
          val v: Any = dt match {
            case LongType => sr.getLong(ki)
            case IntegerType => sr.getInt(ki).toLong
            case DoubleType => sr.getDouble(ki)
            case FloatType => sr.getFloat(ki).toDouble
            case StringType => sr.getUTF8String(ki).toString
            case _ => null
          }
          if (v != null && !isNaNValue(v)) {
            if (sink.leafMin(lj) == null || ltAny(v, sink.leafMin(lj)))
              sink.leafMin(lj) = v
            if (sink.leafMax(lj) == null || ltAny(sink.leafMax(lj), v))
              sink.leafMax(lj) = v
          }
        }
      }
      lj += 1
    }
    var uj = 0
    while (uj < unknownCols.length) {
      require(record.isNullAt(unknownCols(uj)),
        s"graft-iceberg write: column " +
          s"${schema.fields(unknownCols(uj)).name} is the v3 `unknown` " +
          "type — null-only")
      uj += 1
    }
    sink.rows += 1
    // Iceberg's write.target-file-size-bytes, task-side: when the open
    // file's buffered size crosses the target, ROLL — close it into the
    // commit set and open a fresh file for the same partition key. The
    // check uses the parquet writer's own running estimate, so file
    // sizes land near the target without any extra pass or shuffle —
    // how a 100 TB ingest avoids both the 10k-tiny-files and the
    // one-10GB-file failure modes regardless of task skew.
    targetBytes.foreach { t =>
      if (sink.writer.dataSize >= t) {
        rolled ++= finalizeSink(sink)
        rollSeq += 1
        sinks.put(key, newSink(key, rollSeq))
      }
    }
  }

  override def commit(): WriterCommitMessage =
    // a zero-row task never opened a sink: commits nothing; bounds per
    // declared stat field, Iceberg Appendix-D encodings — all-null
    // columns carry no bound (the reader keeps such files)
    GraftCommitMessage(withColumnSizes(
      rolled.toSeq ++ sinks.values.toSeq.flatMap(finalizeSink)))

  override def abort(): Unit = {
    sinks.values.foreach { sink =>
      sink.writer.close()
      org.apache.commons.io.FileUtils.deleteQuietly(sink.file)
    }
    rolled.foreach(f =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(f.path)))
  }

  override def close(): Unit = ()
}
