package graft.sources.v2

import java.util

import org.apache.spark.sql.connector.catalog.{Identifier, StagedTable, SupportsWrite, TableCapability}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType

/** The staged table behind [[GraftCatalog]]'s atomic CTAS/RTAS: the
  * query's write lands real data files under the table dir but commits
  * NO metadata — task messages buffer here — and only
  * [[commitStagedChanges]] publishes: descriptor + first snapshot for a
  * CREATE, descriptor + ONE group-replace snapshot for a REPLACE (every
  * pre-replace file out, staged files in, tombstones dropped — history
  * stays time-travelable past the replace, Iceberg's RTAS shape).
  * [[abortStagedChanges]] deletes the staged files; a CREATE that
  * aborts also removes the table dir it opened.
  *
  * Schema note: this dialect keeps ONE declared schema (no per-snapshot
  * schema ids), so time travel to pre-replace snapshots reads through
  * the REPLACING schema — columns absent from old files null-fill,
  * exactly the ADD COLUMN evolution semantics. */
private[v2] class GraftStagedTable(ident: Identifier, dir: java.io.File,
    tableSchema: StructType, partSpec: Seq[(String, String, String)],
    props: Map[String, String], ids: Seq[GraftCatalog.ColumnId],
    existedBefore: Boolean, writeDesc: () => Unit)
    extends StagedTable with SupportsWrite {

  @volatile private var staged
      : Seq[graft.sources.IcebergLayoutWriter.ManifestEntrySpec] = Nil

  override def name(): String = ident.toString

  override def schema(): StructType = tableSchema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.BATCH_READ,
      TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsTruncate {
      // RTAS plans its write as truncate-then-append ON THE STAGED
      // TABLE — which holds nothing yet, so truncate is the identity
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new BatchWrite {
          private val writeSchema = GraftFormatWriters.annotateLakeTypes(
            info.schema(), GraftFormatWriters.lakeTypesOf(props))
          private val partCols: Seq[(String, String, Int)] =
            partSpec.flatMap { case (pf, tr, src) =>
              val i = writeSchema.fieldNames.indexOf(src)
              if (i >= 0) Some((pf, tr, i)) else None
            }
          override def createBatchWriterFactory(
              p: PhysicalWriteInfo): DataWriterFactory = {
            new java.io.File(dir, "data").mkdirs()
            new GraftWriterFactory(dir.getAbsolutePath, writeSchema,
              s"ctas-${info.queryId()}", Nil, partCols,
              fieldIds = ids.map(c => c.name -> c.id).toMap,
              format = GraftFormatWriters.normalize(
                props.get("write.format.default")))
          }
          // metadata untouched here: visibility belongs to
          // commitStagedChanges, the whole point of staging
          override def commit(messages: Array[WriterCommitMessage]): Unit =
            staged = GraftIcebergWrite.entriesOf(messages)
          override def abort(messages: Array[WriterCommitMessage]): Unit =
            GraftIcebergWrite.deleteFiles(messages)
        }
      }
    }

  override def commitStagedChanges(): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    dir.mkdirs()
    writeDesc()
    val specForCreate = partSpec.map { case (pf, tr, src) =>
      (pf, tr, tableSchema.fieldNames.indexOf(src) + 1) }
    if (existedBefore &&
        graft.sources.IcebergManifestSource.hasMetadata(dir.getPath)) {
      // RTAS: one group-replace snapshot — history preserved. The
      // replace set (every current data file) is computed INSIDE the
      // commit lock against the commit's own pinned base; a caller-side
      // listing here could miss a commit landing in between, retaining
      // its rows through the REPLACE.
      graft.sources.LayoutMaintenance.commitReplaceAll(
        spark, dir.getAbsolutePath, staged)
    } else if (staged.nonEmpty)
      graft.sources.LayoutMaintenance.commitAppend(
        spark, dir.getAbsolutePath, staged, partitionSpec = specForCreate)
  }

  override def abortStagedChanges(): Unit = {
    staged.foreach(e =>
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(e.filePath)))
    if (!existedBefore) org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }
}
