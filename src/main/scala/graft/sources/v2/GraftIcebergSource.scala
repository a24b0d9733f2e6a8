package graft.sources.v2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A real DataSourceV2 over the on-disk v2 layout:
  * `spark.read.format("graft-iceberg").load(tableDir)` resolves the
  * current (or `snapshot-id`-pinned) snapshot through
  * [[graft.sources.IcebergManifestSource]], plans ONE input partition
  * per surviving DATA file, and reads the parquet rows itself (flat
  * primitive schemas — the layout writer's dialect).
  *
  * The Spark-first part is what the connector hands Catalyst:
  *
  *   - **file skipping from manifest bounds**: pushed filters
  *     (`=[<,<=,>,>=]` on columns declared via
  *     `option("pushdown.fields", "name:fieldId:long|double|string,…")`)
  *     prune whole files against the manifests' decoded lower/upper
  *     bounds BEFORE any parquet footer is opened — `planInputPartitions`
  *     returns only overlapping files, so `df.rdd.getNumPartitions` IS
  *     the post-pruning file count (GraftSourceSpec asserts it);
  *   - **column pruning to the page level**: the required schema is
  *     re-expressed as a parquet projection (`parquet.read.schema`), so
  *     unselected columns' pages are never decoded;
  *   - filters are also re-applied row-level (bounds are file-coarse —
  *     the connector reports them as pushed-but-residual, Iceberg's own
  *     contract).
  *
  * Schemas carry the FULL Iceberg type surface: every primitive
  * (boolean..binary, date/time/timestamp/ntz, decimal to precision 38,
  * uuid, fixed[N], v3 variant) plus struct/list/map composites to any
  * depth; nested struct projections prune to the parquet page level
  * ([[GraftPartitionReader.pruneToRequired]]). At 100 TB the shape is right:
  * planning cost is manifest-sized, skipped files cost zero I/O, and
  * each file is an independent task.
  */
class GraftIcebergSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-iceberg"

  /** Accept a user-specified `.schema(...)` (a projection or a
    * bootstrap for an empty table) — without this Spark refuses the
    * schema before [[getTable]] ever sees it. */
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftIcebergSource.tableOf(options).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    GraftIcebergSource.tableOf(
      new CaseInsensitiveStringMap(properties),
      Option(schema).filter(_.nonEmpty))
}

object GraftIcebergSource {

  private[v2] case class StatField(name: String, fieldId: Int, dt: DataType)

  /** One data file's scan-planning facts: path, per-stat-field
    * lower/upper bounds, partition-key values, the manifest's exact
    * `record_count` (Iceberg spec: the number of rows in the file —
    * exact, not an estimate), and the entry's data sequence number
    * (what decides which delete files apply to it). */
  private[v2] case class FileStat(path: String,
      bounds: Map[String, (Any, Any)], pvals: Map[String, Any],
      records: Long, seq: Long = 0L, bytes: Long = 0L,
      sortOrderId: Option[Int] = None,
      fileFormat: String = "PARQUET",
      firstRowId: Option[Long] = None,
      specId: Int = 0)

  /** One delete file's planning facts: content 1 = position deletes
    * (apply to data files with data.seq <= delete.seq), content 2 =
    * equality deletes (strict: data.seq < delete.seq) matching on the
    * spec `equality_ids` columns. */
  private[v2] case class DeleteStat(path: String, content: Int, seq: Long,
      equalityIds: Seq[Int])

  private[v2] def tableOf(options: CaseInsensitiveStringMap,
      userSchema: Option[StructType] = None): GraftTable = {
    val dir = Option(options.get("path"))
      .getOrElse(sys.error("graft-iceberg: missing path"))
    val snapshot = Option(options.get("snapshot-id")).map(_.toLong)
    val fields = Option(options.get("pushdown.fields")).toSeq
      .flatMap(_.split(',')).filter(_.nonEmpty).map { s =>
        s.split(':') match {
          case Array(n, id, t) => StatField(n, id.toInt, t match {
            case "long" => LongType
            case "double" => DoubleType
            case "string" => StringType
            case other => sys.error(s"graft-iceberg: unsupported stats type $other")
          })
          case _ => sys.error(s"graft-iceberg: bad pushdown.fields entry '$s'")
        }
      }
    // `write.schema` (DDL) bootstraps the FIRST write to a fresh table —
    // an empty table has no files to infer from, and v2 AppendData
    // resolves by name against the table schema
    val bootstrap = Option(options.get("write.schema"))
      .map(StructType.fromDDL)
    val sortCols = Option(options.get("write.sort-order")).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    val readChanges = Option(options.get("read-changes")).exists(_.toBoolean)
    val maxFiles = Option(options.get("maxFilesPerTrigger")).map(_.toInt)
    new GraftTable(dir, snapshot, fields, bootstrap, userSchema, sortCols,
      readChanges = readChanges, maxFilesPerTrigger = maxFiles,
      writeFormatDefault = Option(options.get("write.format.default")),
      deleteGranularity = Option(options.get("write.delete.granularity")),
      identifierCols = Option(options.get("identifier.columns")).toSeq
        .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty))
  }

  /** V1 `Filter` → `Column`, total over the algebra Spark can hand a
    * DELETE condition as; None marks a shape we refuse in canDeleteWhere
    * (fail the statement, never mistranslate it). */
  private[v2] def filterToColumn(
      f: Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    f match {
      case EqualTo(a, v) => Some(col(a) === lit(v))
      case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case GreaterThan(a, v) => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v) => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case StringStartsWith(a, v) => Some(col(a).startsWith(v))
      case StringEndsWith(a, v) => Some(col(a).endsWith(v))
      case StringContains(a, v) => Some(col(a).contains(v))
      case And(l, r) =>
        for (x <- filterToColumn(l); y <- filterToColumn(r)) yield x && y
      case Or(l, r) =>
        for (x <- filterToColumn(l); y <- filterToColumn(r)) yield x || y
      case Not(c) => filterToColumn(c).map(!_)
      case AlwaysTrue() => Some(lit(true))
      case AlwaysFalse() => Some(lit(false))
      case _ => None
    }
  }

  /** `{"name":value,...}` partition-key JSON → name→value map (numbers
    * as Long, everything else as String). */
  private[v2] def parsePartitionKey(json: String): Map[String, Any] = {
    if (json == null || json.isEmpty || json == "{}") return Map.empty
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    val out = Map.newBuilder[String, Any]
    node.fields().forEachRemaining { e =>
      val v: Any = e.getValue match {
        case n if n.isIntegralNumber => n.asLong()
        case n if n.isFloatingPointNumber => n.asDouble()
        case other => other.asText()
      }
      out += (e.getKey -> v)
    }
    out.result()
  }

  /** Parquet schema of the first data file → StructType. Primitives
    * plus ONE level of group nesting (struct-of-primitives — the typed
    * multimodal-metadata shape the writer emits). */
  private[graft] def inferFrom(path: String): StructType = {
    // descriptor-less tables whose first file is ORC/AVRO infer through
    // that format's own header — same flat-scalar surface
    if (path.endsWith(".orc")) {
      val r = org.apache.orc.OrcFile.createReader(
        new org.apache.hadoop.fs.Path(path),
        org.apache.orc.OrcFile.readerOptions(new Configuration()))
      try {
        import scala.jdk.CollectionConverters._
        val td = r.getSchema
        return StructType(td.getFieldNames.asScala.toSeq
          .zip(td.getChildren.asScala.toSeq).map { case (n, t) =>
            StructField(n, graft.sources.OrcPosRead.sparkType(t),
              nullable = true) })
      } finally r.close()
    }
    if (path.endsWith(".avro")) {
      val r = new org.apache.avro.file.DataFileReader[
        org.apache.avro.generic.GenericRecord](new java.io.File(path),
        new org.apache.avro.generic.GenericDatumReader[
          org.apache.avro.generic.GenericRecord]())
      try {
        import scala.jdk.CollectionConverters._
        return StructType(r.getSchema.getFields.asScala.toSeq.map(f =>
          StructField(f.name, graft.sources.AvroDataRead.sparkType(f.schema()),
            nullable = true)))
      } finally r.close()
    }
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), new Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    val msg = try r.getFooter.getFileMetaData.getSchema finally r.close()
    def primDt(p: org.apache.parquet.schema.PrimitiveType): DataType = {
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
      import org.apache.parquet.schema.LogicalTypeAnnotation
      val logical = Option(p.getLogicalTypeAnnotation)
      p.getPrimitiveTypeName match {
        case INT64
          if logical.exists(_.isInstanceOf[
            LogicalTypeAnnotation.TimestampLogicalTypeAnnotation]) =>
          // UTC-adjusted = the spec's timestamptz; naive = timestamp
          if (logical.get.asInstanceOf[
              LogicalTypeAnnotation.TimestampLogicalTypeAnnotation]
              .isAdjustedToUTC) TimestampType
          else TimestampNTZType
        case INT64
          if logical.exists(_.isInstanceOf[
            LogicalTypeAnnotation.DecimalLogicalTypeAnnotation]) =>
          val dl = logical.get.asInstanceOf[
            LogicalTypeAnnotation.DecimalLogicalTypeAnnotation]
          DecimalType(dl.getPrecision, dl.getScale)
        case INT64
          if logical.exists(_.isInstanceOf[
            LogicalTypeAnnotation.TimeLogicalTypeAnnotation]) =>
          org.apache.spark.sql.types.TimeType(6)
        case INT64 => LongType
        case INT32 if logical.contains(LogicalTypeAnnotation.dateType()) =>
          DateType
        case INT32
          if logical.exists(_.isInstanceOf[
            LogicalTypeAnnotation.DecimalLogicalTypeAnnotation]) =>
          val dl = logical.get.asInstanceOf[
            LogicalTypeAnnotation.DecimalLogicalTypeAnnotation]
          DecimalType(dl.getPrecision, dl.getScale)
        case INT32 => IntegerType
        case DOUBLE => DoubleType
        case FLOAT => FloatType
        case BOOLEAN => BooleanType
        case BINARY if logical.contains(LogicalTypeAnnotation.stringType()) =>
          StringType
        // wide decimals (precision 19-38): fixed-length unscaled bytes
        // (spec Appendix A); Spark's own writer may also emit BINARY-
        // backed decimals, decoded the same way
        case FIXED_LEN_BYTE_ARRAY | BINARY
          if logical.exists(_.isInstanceOf[
            LogicalTypeAnnotation.DecimalLogicalTypeAnnotation]) =>
          val dl = logical.get.asInstanceOf[
            LogicalTypeAnnotation.DecimalLogicalTypeAnnotation]
          DecimalType(dl.getPrecision, dl.getScale)
        // uuid lake columns surface as STRING (the Spark-side type);
        // plain FIXED(L) as BINARY
        case FIXED_LEN_BYTE_ARRAY
          if logical.contains(LogicalTypeAnnotation.uuidType()) =>
          StringType
        case FIXED_LEN_BYTE_ARRAY => BinaryType
        case BINARY => BinaryType
        case other => sys.error(s"graft-iceberg: unsupported parquet type $other")
      }
    }
    // recursive: 3-level LIST groups -> ArrayType, MAP-annotated
    // key_value groups -> MapType, plain groups -> StructType, any depth
    def dtOf(t: org.apache.parquet.schema.Type): DataType =
      if (t.isPrimitive) primDt(t.asPrimitiveType())
      else {
        val g = t.asGroupType()
        val isList = Option(g.getLogicalTypeAnnotation).exists(
          _ == org.apache.parquet.schema.LogicalTypeAnnotation.listType())
        val isMap = Option(g.getLogicalTypeAnnotation).exists(
          _ == org.apache.parquet.schema.LogicalTypeAnnotation.mapType())
        if (isList) ArrayType(dtOf(g.getType(0).asGroupType().getType(0)))
        else if (isMap) {
          val kv = g.getType(0).asGroupType()
          MapType(dtOf(kv.getType(0)), dtOf(kv.getType(1)))
        }
        else StructType(g.getFields.asScala.toSeq.map(nf =>
          StructField(nf.getName, dtOf(nf), nullable = true)))
      }
    StructType(msg.getFields.asScala.toSeq.map(f =>
      StructField(f.getName, dtOf(f), nullable = true)))
  }
}

private[v2] object GraftTable {
  /** Name of the file-provenance metadata column (Iceberg's `_file`). */
  val FileMetadataColumn = "_file"
  /** Row ordinal within its file (Iceberg's `_pos`) — with `_file` it
    * is a row's IDENTITY: exactly what a position tombstone addresses,
    * and the delta rowId merge-on-read DML deletes through. */
  val PosMetadataColumn = "_pos"
  /** v3 row lineage: the row's TABLE-lifetime id — materialized column
    * when the file carries one (non-null value wins), else the file's
    * `first_row_id` + position, else null (pre-lineage files). */
  val RowIdMetadataColumn = "_row_id"
  /** v3 row lineage: the sequence number of the commit that last
    * created/updated the row — materialized column value when the file
    * carries a non-null one, else the file's own sequence number. */
  val LastUpdatedMetadataColumn = "_last_updated_sequence_number"
  /** The partition spec id the row's file was written under. */
  val SpecIdMetadataColumn = "_spec_id"
  /** The row's file's partition values as a struct (fields = the
    * table's partition field names; numeric transform results read as
    * LONG, string identities as STRING — the canonical-JSON value
    * domain the layout records). */
  val PartitionMetadataColumn = "_partition"
}

private[graft] class GraftTable(private[v2] val dir: String, snapshot: Option[Long],
    statFields: Seq[GraftIcebergSource.StatField],
    bootstrapSchema: Option[StructType] = None,
    userSchema: Option[StructType] = None,
    sortCols: Seq[String] = Nil,
    declaredPartSpec: Seq[(String, String, String)] = Nil,
    private[v2] val readChanges: Boolean = false,
    private[v2] val maxFilesPerTrigger: Option[Int] = None,
    writeBranch: Option[String] = None,
    deleteMode: Option[String] = None,
    deleteFormat: Option[String] = None,
    updateMode: Option[String] = None,
    mergeMode: Option[String] = None,
    wapEnabled: Boolean = false,
    writeFormatDefault: Option[String] = None,
    deleteGranularity: Option[String] = None,
    identifierCols: Seq[String] = Nil,
    tableProps: Map[String, String] = Map.empty)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  import graft.sources.IcebergManifestSource

  /** SQL `UPDATE`/`MERGE INTO` (and `DELETE FROM` whose condition the
    * metadata path can't translate): group-based copy-on-write — see
    * [[GraftRowLevelOperation]]. Pushable DELETEs still take the cheaper
    * [[deleteWhere]] path (Catalyst's OptimizeMetadataOnlyDeleteFromTable
    * swaps the rewrite back when [[canDeleteWhere]] accepts). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    new GraftRowLevelOperationBuilder(this, info)

  /** Do row-level position tombstones land as Iceberg-v3 DELETION
    * VECTORS instead of position-delete FILES?
    *
    *  - `write.delete.format=dv` opts in explicitly (any table).
    *  - a table DECLARING `format-version=3` defaults to DVs (the v3
    *    spec's rule: new position deletes are deletion vectors) unless
    *    it declares a tombstone FILE format explicitly
    *    (`write.delete.format.default`) — that names files, so files it
    *    gets.
    *  - v2 (and version-unset) tables keep file tombstones — the
    *    dialect's established default; auto-stamped-v3 tables are NOT
    *    flipped implicitly, only the declared property changes write
    *    behavior (conservative: a stamp records what the layout
    *    carries, the property records what the user chose). */
  private[v2] def dvTombstones: Boolean =
    deleteFormat.map(_.toLowerCase) match {
      case Some("dv") => true
      case Some(_) => false
      case None => tableProps.get("format-version").contains("3") &&
        !tableProps.contains("write.delete.format.default") &&
        // equality granularity names its own tombstone dialect — the
        // explicit choice wins over the v3 default
        !deleteGranularity.map(_.toLowerCase).contains("equality")
    }

  /** `write.delete.format.default`: the POSITION-tombstone FILE format
    * (parquet | orc | avro — Iceberg's delete-file format knob,
    * distinct from both the data files' write.format.default and the
    * dv dialect above, which wins when set). */
  private[v2] def deleteFileFormat: String =
    GraftFormatWriters.normalize(
      tableProps.get("write.delete.format.default"))

  /** (column → lake type) from `graft.lake-type.<column>` table
    * properties — uuid / fixed[N] columns whose physical lake encoding
    * is narrower than their Spark type (see
    * [[GraftFormatWriters.LakeTypeKey]]). */
  private[v2] def lakeTypes: Map[String, String] =
    GraftFormatWriters.lakeTypesOf(tableProps)

  /** `write.delete.granularity=equality`: the MOR delta path expresses
    * row deletion as EQUALITY tombstones on the table's declared
    * `identifier.columns` (the dialect's identifier-field-ids) instead
    * of (file, pos) — the Flink-style streaming-upsert dialect, where a
    * delete never needs to know which file holds the row. Returns the
    * identifier columns when the dialect is on, else Nil. */
  private[v2] def eqDeltaKeys: Seq[String] =
    if (!deleteGranularity.map(_.toLowerCase).contains("equality")) Nil
    else {
      require(identifierCols.nonEmpty,
        s"graft-iceberg($dir): write.delete.granularity=equality needs " +
          "'identifier.columns' (comma-separated row-identity columns)")
      require(!dvTombstones,
        s"graft-iceberg($dir): equality granularity and " +
          "write.delete.format=dv are mutually exclusive tombstone dialects")
      // identifier fields are REQUIRED fields (Iceberg's identifier-
      // field-ids rule; Spark's delta plan enforces non-null rowIds)
      identifierCols.foreach { c =>
        val f = schema.fields.find(_.name == c).getOrElse(sys.error(
          s"graft-iceberg($dir): identifier column $c is not a table column"))
        require(!f.nullable,
          s"graft-iceberg($dir): identifier column $c must be declared " +
            "NOT NULL (identifier fields are required fields)")
      }
      identifierCols
    }

  /** The configured write mode for a row-level command — Iceberg's
    * write.delete/update/merge.mode trio; copy-on-write when unset. */
  private[v2] def rowLevelMode(
      cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
      : String = {
    import org.apache.spark.sql.connector.write.RowLevelOperation.Command._
    (cmd match {
      case DELETE => deleteMode
      case UPDATE => updateMode
      case MERGE => mergeMode
    }).map(_.toLowerCase).getOrElse("copy-on-write")
  }

  /** The `_partition` metadata column's struct type, derived from the
    * table's CURRENT partition spec: identity transforms read at their
    * source column's value domain (string/double/long — the canonical-
    * JSON domain the layout records), derived transforms (day/month/
    * bucket/truncate) as LONG ordinals. None for unpartitioned tables
    * (the column is then not declared at all). */
  private[v2] lazy val partitionStructType: Option[StructType] =
    if (!hasMetadata) None
    else {
      val spec = IcebergManifestSource.partitionSpec(SparkSession.active, dir)
      if (spec.isEmpty) None
      else Some(StructType(spec.map { case (pf, transform, srcId) =>
        val dt: DataType =
          if (transform == "identity" && srcId >= 1 && srcId <= schema.length)
            schema.fields(srcId - 1).dataType match {
              case StringType => StringType
              case DoubleType | FloatType => DoubleType
              case _ => LongType
            }
          else LongType
        StructField(pf, dt, nullable = true)
      }))
    }

  /** `_file` — which data file a row came from (Iceberg exposes the
    * same): selectable by users and the group handle for runtime group
    * filtering in row-level operations. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    (partitionStructType.toArray.map(pst =>
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = GraftTable.PartitionMetadataColumn
        override def dataType(): DataType = pst
        override def isNullable: Boolean = true
      }: org.apache.spark.sql.connector.catalog.MetadataColumn)) ++
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = GraftTable.SpecIdMetadataColumn
      override def dataType(): DataType = IntegerType
      override def isNullable: Boolean = false
    }, new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = GraftTable.FileMetadataColumn
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
    }, new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = GraftTable.PosMetadataColumn
      override def dataType(): DataType = LongType
      override def isNullable: Boolean = false
    }, new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = GraftTable.RowIdMetadataColumn
      override def dataType(): DataType = LongType
      override def isNullable: Boolean = true
    }, new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = GraftTable.LastUpdatedMetadataColumn
      override def dataType(): DataType = LongType
      override def isNullable: Boolean = true
    }) ++
    // one typed column per declared variant shred path: its value is
    // variant_get(col, '$.field', type) with try-semantics — what the
    // VariantShredPrune rewrite compares and the recorded bounds cover
    variantShredDecls.toArray.map(d =>
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = d.metaName
        override def dataType(): DataType = d.dt
        override def isNullable: Boolean = true
      }: org.apache.spark.sql.connector.catalog.MetadataColumn) ++
    // geometry columns' bbox edges: _geo_<col>_{xmin,ymin,xmax,ymax} —
    // intersects queries write range conjuncts on these, which push and
    // prune on the recorded per-file bbox bounds
    GeoLake.geoStatFields(lakeTypes).toArray.map { case (n, _) =>
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = n
        override def dataType(): DataType = DoubleType
        override def isNullable: Boolean = true
      }: org.apache.spark.sql.connector.catalog.MetadataColumn
    }

  /** SQL `DELETE FROM` (v1-filter form — Spark's SupportsDelete default
    * converts V2 predicates down): copy-on-write via
    * [[graft.sources.LayoutMaintenance.commitDeleteWhereCow]], so the
    * committed snapshot carries no tombstones and this table's
    * append-only scan reads the post-delete truth directly. Conditions
    * that don't translate to a Column (none in the v1 filter algebra we
    * accept) reject in canDeleteWhere and surface as an analysis error
    * rather than a wrong answer. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    // initial column defaults are applied PER FILE by the connector
    // reader; this metadata path reads through MorRead, which binds one
    // declared schema across all files and would surface pre-evolution
    // rows with NULL where the default belongs — route such tables to
    // the row-level rewrite (group COW over the default-aware per-file
    // scan) instead. Correctness over the cheaper commit shape.
    schema.fields.forall(f => !f.metadata.contains("EXISTS_DEFAULT")) &&
      // TIME columns (top-level or nested): the ORC/AVRO dialects store
      // micros-as-LONG, which MorRead's native arms surface as BIGINT —
      // route time-typed tables to the row-level rewrite (the connector
      // scan decodes TIME in every format).
      schema.fields.forall { f =>
        def hasTime(dt: org.apache.spark.sql.types.DataType): Boolean =
          dt match {
            case _: org.apache.spark.sql.types.TimeType => true
            case s: org.apache.spark.sql.types.StructType =>
              s.fields.exists(nf => hasTime(nf.dataType))
            case a: org.apache.spark.sql.types.ArrayType =>
              hasTime(a.elementType)
            case m: org.apache.spark.sql.types.MapType =>
              hasTime(m.keyType) || hasTime(m.valueType)
            case _ => false
          }
        !hasTime(f.dataType)
      } &&
      filters.forall(f => GraftIcebergSource.filterToColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    if (!hasMetadata) return // created but never written: nothing to delete
    val spark = SparkSession.active
    // METADATA-ONLY fast path — the "drop a day" shape: when every file
    // is either provably all-matching (partition-transform projection,
    // [[GraftPrune.fullyCovers]]) or provably none-matching (the
    // pruning duals), the DELETE is one snapshot swap removing the
    // covered files — zero data I/O, zero tombstones, zero rewrites.
    // Any partially-covered file, live tombstones, or an oversized
    // per-file plan falls back to the copy-on-write rewrite. At 100 TB
    // this is the difference between dropping a retention window in
    // milliseconds and rewriting it.
    if (!oversizedPlanning && deleteFiles.isEmpty && dataFiles.nonEmpty) {
      val fs = filters.toSeq
      val (full, rest) = dataFiles.partition(f =>
        GraftPrune.fullyCovers(fs, partitionFields, f.pvals))
      val restUntouched = rest.forall(f =>
        !GraftPrune.overlaps(fs, f.bounds) ||
          !GraftPrune.partitionKeeps(fs, partitionFields, f.pvals))
      if (restUntouched) {
        if (full.nonEmpty)
          graft.sources.LayoutMaintenance.commitReplaceFiles(
            spark, dir, full.map(_.path), Nil)
        return // full.isEmpty: predicate matches no rows — no commit
      }
    }
    val pred = filters.toSeq.flatMap(GraftIcebergSource.filterToColumn)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    // declared schema: binds old files' narrow/renamed physical columns
    // to the current types (widening + alias folding). Field-id METADATA
    // is stripped: with spark.sql.parquet.fieldId.read enabled a
    // metadata-carrying requested schema would demand embedded ids from
    // every file, and add_files-imported foreign files have none — the
    // MOR bind here is by name, ids are the CONNECTOR reader's concern.
    val plain = org.apache.spark.sql.types.StructType(schema.fields.map(
      _.copy(metadata = org.apache.spark.sql.types.Metadata.empty)))
    // Iceberg's `write.delete.mode`: merge-on-read commits TOMBSTONES
    // (O(matched rows) written, zero files rewritten — the cheap shape
    // for wide tables with sparse deletes; this connector's scan applies
    // tombstones per task, so SQL reads stay exact), copy-on-write (the
    // default) rewrites affected files so the snapshot stays
    // tombstone-free. `write.delete.format = dv` selects an Iceberg-v3
    // deletion vector over a parquet position-delete file.
    deleteMode.map(_.toLowerCase).getOrElse("copy-on-write") match {
      case "merge-on-read" =>
        if (dvTombstones)
          graft.sources.LayoutMaintenance.commitDeleteWhereDv(spark, dir,
            pred, renames = GraftCatalog.aliasesOf(schema),
            dataSchema = Some(plain))
        else
          graft.sources.LayoutMaintenance.commitDeleteWhere(spark, dir,
            pred, renames = GraftCatalog.aliasesOf(schema),
            dataSchema = Some(plain))
      case "copy-on-write" =>
        graft.sources.LayoutMaintenance.commitDeleteWhereCow(spark, dir, pred,
          renames = GraftCatalog.aliasesOf(schema),
          dataSchema = Some(plain))
      case other => sys.error(
        s"graft-iceberg($dir): unsupported write.delete.mode '$other' " +
          "(copy-on-write | merge-on-read)")
    }
  }

  /** (path, lo/hi per stat field) for every data file in the snapshot —
    * metadata-sized, resolved once per scan. Driver heap is bounded by
    * [[graft.sources.LayoutMaintenance.MaxDriverFileEntries]] (~1 GB at
    * the 10M-file ceiling): the same client-side planning budget
    * Iceberg's own scan planning works in; past it a connector needs
    * distributed planning (manifest evaluation as a Spark job). */
  private[v2] lazy val dataFiles: Seq[GraftIcebergSource.FileStat] =
    scanState._1

  /** The snapshot's live DELETE files (position + equality) — applied
    * task-side during the read, so the connector's batch scan is a full
    * merge-on-read reader. */
  private[v2] lazy val deleteFiles: Seq[GraftIcebergSource.DeleteStat] =
    scanState._2

  /** Whether the bound snapshot carries any delete file (content != 0).
    * Aggregate pushdown must refuse such tables: manifest record counts
    * overcount rows that tombstones remove. */
  private[v2] lazy val hasDeletes: Boolean = deleteFiles.nonEmpty

  /** Above this many file entries the scan abandons driver-side
    * per-file planning for MANIFEST-GRANULAR distributed planning (one
    * input partition per manifest; see [[GraftScan.planInputPartitions]]).
    * Conf-overridable so the fallback is testable at toy scale. */
  private def planningCap: Int =
    org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.maxDriverFileEntries",
        graft.sources.LayoutMaintenance.MaxDriverFileEntries.toString).toInt

  /** True when the table's file count exceeds [[planningCap]] — per-file
    * driver planning (and everything built on it: SPJ grouping,
    * aggregate pushdown, per-file pruning) is abandoned for the
    * manifest-granular path. */
  private[v2] lazy val oversizedPlanning: Boolean = scanState._3

  private lazy val scanState
      : (Seq[GraftIcebergSource.FileStat], Seq[GraftIcebergSource.DeleteStat],
        Boolean) =
    if (!hasMetadata) (Seq.empty, Seq.empty, false) // created, never written
    else {
    val spark = SparkSession.active
    // shred stat fields ride along: their bounds (recorded under the
    // synthetic ids) decode like any declared column's and feed the
    // same per-file pruning
    val fields = (statFields ++ shredStatFields ++ geoStatFields)
      .map(f => (f.fieldId, f.name, f.dt))
    val cap = planningCap
    val rows = IcebergManifestSource
      .statsFromTableDir(spark, dir, "t", fields, snapshot)
      .limit(cap + 1).collect()
    if (rows.length > cap) (Seq.empty, Seq.empty, true)
    else {
    val files = rows.toSeq
      .filter(_.getAs[Int]("content") == 0)
      .map { r =>
        val bounds = (statFields ++ shredStatFields ++ geoStatFields).map { f =>
          f.name -> ((r.getAs[Any](s"lo_${f.name}"), r.getAs[Any](s"hi_${f.name}")))
        }.toMap
        GraftIcebergSource.FileStat(r.getAs[String]("file_path"), bounds,
          GraftIcebergSource.parsePartitionKey(r.getAs[String]("partitionKey")),
          r.getAs[Long]("record_count"), r.getAs[Long]("sequence_number"),
          r.getAs[Long]("sizeBytes"),
          Option(r.getAs[java.lang.Integer]("sort_order_id")).map(_.intValue),
          Option(r.getAs[String]("file_format")).getOrElse("PARQUET"),
          Option(r.getAs[java.lang.Long]("first_row_id")).map(_.longValue),
          r.getAs[Int]("spec_id"))
      }
    val deletes = rows.toSeq
      .filter(_.getAs[Int]("content") != 0)
      .map(r => GraftIcebergSource.DeleteStat(r.getAs[String]("file_path"),
        r.getAs[Int]("content"), r.getAs[Long]("sequence_number"),
        Option(r.getAs[scala.collection.Seq[Int]]("equality_ids"))
          .map(_.toSeq).getOrElse(Seq.empty)))
    (files, deletes, false)
    }
  }

  /** First data file of the bound snapshot WITHOUT materializing every
    * entry (oversized tables infer their schema from it): walk manifests
    * until one data entry appears. */
  private[v2] def anyDataFile: Option[String] = {
    val spark = SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    IcebergManifestSource.resolveManifestList(spark, dir, snapshot)
      .toSeq
      .flatMap(l => IcebergManifestSource.manifestList(conf, l))
      .iterator
      .flatMap { m =>
        IcebergManifestSource.readManifestStats(m.path, conf, m.sequenceNumber)
          .filter(_.content == 0).map(_.filePath).take(1)
      }
      .nextOption()
  }

  /** (partitionFieldName, transform, sourceColumnName) for each declared
    * partition transform whose SOURCE column is known to this scan
    * (source-id resolved through `pushdown.fields` — the same contract
    * that names stat fields names partition sources). Drives
    * transform-aware pruning in [[GraftScan]]. */
  private[v2] lazy val partitionFields: Seq[(String, String, String)] =
    if (!hasMetadata) Nil
    else {
      val byId = statFields.map(f => f.fieldId -> f.name).toMap
      IcebergManifestSource.partitionSpec(SparkSession.active, dir)
        .flatMap { case (pfName, transform, srcId) =>
          byId.get(srcId).map(srcName => (pfName, transform, srcName))
        }
    }

  private[v2] def statFieldNames: Seq[String] = statFields.map(_.name)

  /** The declared stat fields / partition spec, for write paths outside
    * [[newWriteBuilder]] (the row-level COW rewrite) — a rewrite that
    * dropped recorded bounds or partition values would silently erase
    * the table's skipping ability. */
  private[v2] def writeStatFields: Seq[GraftIcebergSource.StatField] = statFields
  private[v2] def writeDeclaredPartSpec: Seq[(String, String, String)] =
    declaredPartSpec

  /** The table's DECLARED sort columns, for reporting scan ordering:
    * the `write.sort-order` option / catalog property when given, else
    * the metadata's default sort order (`sort-orders` +
    * `default-sort-order-id`, source ids resolved positionally). Only
    * all-identity all-asc orders qualify — anything else reads as
    * unsorted (never claim an ordering the files might not have). */
  private[v2] lazy val declaredSortCols: Seq[String] =
    if (sortCols.nonEmpty) sortCols
    else if (!hasMetadata) Nil
    else {
      val rows = IcebergManifestSource.sortOrder(SparkSession.active, dir)
      val names = baseSchema.fieldNames
      if (rows.nonEmpty && rows.forall { case (sid, tr, d, _) =>
          tr == "identity" && d == "asc" && sid >= 1 && sid <= names.length })
        rows.map { case (sid, _, _, _) => names(sid - 1) }
      else Nil
    }

  /** Per-column NDV from the table's REGISTERED statistics files (the
    * Puffin containers [[graft.sources.LayoutMaintenance.attachStatistics]]
    * points the metadata at): every `graft-kmv-sketch-v1` blob yields a
    * (schema position → distinct count) — plan-time KBs of I/O. What the
    * q180/q181 write-side stats loop exists FOR: Spark's CBO reads these
    * through [[GraftScan.estimateStatistics]]'s columnStats. */
  private[v2] lazy val registeredNdv: Map[Int, Long] =
    if (!hasMetadata) Map.empty
    else try {
      val spark = SparkSession.active
      graft.sources.IcebergManifestSource.statisticsFiles(spark, dir)
        .flatMap { case (_, path) =>
          val f = new java.io.File(path)
          if (!f.exists()) Nil
          else graft.sources.PuffinIO.read(f)
            .filter(b => b.blobType == "graft-kmv-sketch-v1" &&
              b.fields.length == 1)
            .map { b =>
              val mins = graft.sources.PuffinIO.sketchLongs(b.data)
              val k = b.properties.get("k").map(_.toInt).getOrElse(mins.size)
              val ndv =
                if (mins.size < k) mins.size.toLong
                else (k - 1).toLong * 268435456L / mins(k - 1)
              b.fields.head -> ndv
            }
        }.toMap
    } catch { case _: Exception => Map.empty } // stats are advisory

  private[v2] def boundSnapshot: Option[Long] = snapshot

  private[v2] def statFieldSpecs: Seq[(Int, String, DataType)] =
    statFields.map(f => (f.fieldId, f.name, f.dt))

  /** The delete files applying to one data file, per the spec's
    * sequence-number rules: position deletes at delete.seq >= data.seq
    * (the reader matches `file_path` row-side), equality deletes
    * STRICTLY above the data file's sequence, key names resolved from
    * their `equality_ids` against the table schema (positional field-id
    * convention). An eq-delete without resolvable ids fails the scan
    * loudly — reading THROUGH tombstones would silently resurrect rows. */
  private[v2] def morPartitionFor(f: GraftIcebergSource.FileStat)
      : GraftFilePartition = {
    val pos = deleteFiles
      .filter(d => d.content == 1 && d.seq >= f.seq).map(_.path)
    val eqs = deleteFiles
      .filter(d => d.content == 2 && d.seq > f.seq)
      .map { d =>
        val names = d.equalityIds.flatMap { id =>
          if (id >= 1 && id <= schema.length)
            Some(schema.fields(id - 1).name)
          else None
        }
        require(names.nonEmpty && names.length == d.equalityIds.length,
          s"graft-iceberg($dir): equality-delete file ${d.path} carries " +
            s"no resolvable equality_ids (${d.equalityIds.mkString(",")}); " +
            "the scan cannot apply its tombstones. Rewrite the table " +
            "(rewrite_data_files) or read through MorRead with explicit keys.")
        (d.path, names)
      }
    val keyNames = eqs.flatMap(_._2).distinct
    GraftFilePartition(f.path, pos, eqs, f.fileFormat,
      keyAliases = GraftCatalog.aliasesOf(schema)
        .filter { case (k, _) => keyNames.contains(k) },
      dataSeq = f.seq,
      firstRowId = f.firstRowId.map(Long.box).orNull,
      specId = f.specId,
      pvals = f.pvals,
      shreds = variantShredDecls.map(d =>
        (d.metaName, d.col, d.field, d.dt.catalogString)),
      geoCols = GeoLake.geoColsOf(lakeTypes))
  }

  /** (partitionFieldName, sourceColumnName, sourceType) when — and only
    * when — the table's CURRENT partition spec is entirely identity
    * transforms whose sources this scan can name. This is the shape
    * that lets the scan report [[KeyGroupedPartitioning]] and unlock
    * storage-partitioned joins. */
  private[v2] lazy val identityPartitionCols: Seq[(String, String, DataType)] =
    if (!hasMetadata) Nil
    else {
      val spec = IcebergManifestSource.partitionSpec(SparkSession.active, dir)
      if (spec.nonEmpty && spec.forall(_._2 == "identity")) {
        val byId = statFields.map(f => f.fieldId -> f).toMap
        val resolved = spec.flatMap { case (pfName, _, srcId) =>
          byId.get(srcId).map(f => (pfName, f.name, f.dt)) }
        if (resolved.length == spec.length) resolved else Nil
      } else Nil
    }

  private[v2] def hasMetadata: Boolean =
    graft.sources.IcebergManifestSource.hasMetadata(dir)

  override def name(): String = s"graft_iceberg(`$dir`)"

  /** The table's declared properties (catalog descriptor) — what SHOW
    * TBLPROPERTIES and DESCRIBE EXTENDED render. */
  override def properties(): util.Map[String, String] = {
    val out = new util.LinkedHashMap[String, String]()
    tableProps.toSeq.sortBy(_._1).foreach { case (k, v) => out.put(k, v) }
    out
  }

  /** An explicit `.schema(...)` on read wins (the V2 contract — the
    * caller's declared projection, e.g. a prefix of the file schema);
    * otherwise infer from the first data file, then the `write.schema`
    * bootstrap for a fresh table. */
  /** The table's DATA schema, CDC columns excluded. (Spark round-trips
    * `inferSchema`'s answer back through `getTable` as the user schema,
    * so a read-changes table must strip its own CDC columns before
    * re-appending them — else every pass widens the schema.) */
  private[v2] lazy val baseSchema: StructType = {
    val raw = rawBaseSchema
    if (!readChanges) raw
    else StructType(raw.fields.filterNot(f =>
      f.name == GraftChangelogStream.ChangeTypeColumn ||
        f.name == GraftChangelogStream.CommitSnapshotColumn))
  }

  private lazy val rawBaseSchema: StructType = userSchema.getOrElse {
    // The DECLARED schema (catalog descriptor / write.schema bootstrap)
    // wins over first-file inference: after ALTER TABLE ADD COLUMN the
    // descriptor is wider than pre-evolution files, whose reads
    // null-fill the missing column (the reader's per-file projection
    // handles absent fields). File inference remains the contract for
    // descriptor-less external layouts.
    bootstrapSchema.filter(_.nonEmpty).getOrElse {
      if (hasMetadata)
        dataFiles.headOption.map(_.path)
          .orElse(if (oversizedPlanning) anyDataFile else None)
          .map(GraftIcebergSource.inferFrom)
          .getOrElse(new StructType())
      else new StructType()
    }
  }

  override lazy val schema: StructType =
    if (!readChanges) baseSchema
    else StructType(baseSchema.fields ++ Seq(
      StructField(GraftChangelogStream.ChangeTypeColumn, StringType,
        nullable = false),
      StructField(GraftChangelogStream.CommitSnapshotColumn, LongType,
        nullable = false)))

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE,
      TableCapability.OVERWRITE_BY_FILTER, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_DYNAMIC)

  /** The table's declared partition transforms (catalog descriptor
    * first, layout metadata otherwise) as Spark `Transform`s — what
    * `DESCRIBE TABLE` shows under `# Partitioning` and what planner
    * components consult. */
  override def partitioning(): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    val spec =
      if (declaredPartSpec.nonEmpty) declaredPartSpec
      else partitionFields.map { case (pf, tr, src) => (pf, tr, src) }
    spec.map { case (_, transform, src) =>
      transform match {
        case "identity" => Expressions.identity(src)
        case "day" => Expressions.days(src)
        case "hour" => Expressions.hours(src)
        case "month" => Expressions.months(src)
        case "year" => Expressions.years(src)
        case t if t.startsWith("bucket[") => Expressions.bucket(
          t.stripPrefix("bucket[").stripSuffix("]").toInt, src)
        case t if t.startsWith("truncate[") =>
          Expressions.apply("truncate",
            Expressions.literal(
              t.stripPrefix("truncate[").stripSuffix("]").toInt),
            Expressions.column(src))
        case other => sys.error(s"graft-iceberg: unknown transform $other")
      }
    }.toArray
  }

  /** Declared variant shred paths (`graft.variant-shred.<col>`) —
    * drives the v3 shredded parquet encoding on write, the synthetic
    * `_shred_<col>_<field>` metadata columns, and variant-predicate
    * file skipping ([[graft.plans.VariantShredPrune]]). */
  private[graft] lazy val variantShredDecls: Seq[VariantShred.Decl] =
    VariantShred.declsOf(tableProps, schema)

  /** The shred paths' synthetic stat fields: bounds recorded by the
    * writer under these ids, consumed by the scan's file pruning.
    * Schema-FREE on purpose ([[VariantShred.rawDecls]]): the scan state
    * computes these, and schema inference depends on the scan state. */
  private[v2] lazy val shredStatFields: Seq[GraftIcebergSource.StatField] =
    VariantShred.rawDecls(tableProps).map(d =>
      GraftIcebergSource.StatField(d.metaName, d.statId, d.dt))

  /** GEOMETRY/GEOGRAPHY columns' 4 bbox-edge virtual stat fields
    * ([[GeoLake]]) — schema-free like the shred fields. */
  private[v2] lazy val geoStatFields: Seq[GraftIcebergSource.StatField] =
    GeoLake.geoStatFields(lakeTypes).map { case (n, id) =>
      GraftIcebergSource.StatField(n, id, DoubleType) }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(this, schema,
      statFields ++ shredStatFields ++ geoStatFields)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new GraftWriteBuilder(dir, info, statFields, sortCols,
      declaredPartSpec = declaredPartSpec,
      // the TABLE schema's field ids (the write schema loses attribute
      // metadata through the INSERT plan) — the writer embeds them into
      // every new parquet file so renamed columns resolve by id forever
      fieldIds = GraftCatalog.fieldIdsOf(schema),
      lakeTypes = lakeTypes,
      tableBranch = writeBranch, wapEnabled = wapEnabled,
      writeFormat = GraftFormatWriters.normalize(writeFormatDefault),
      tableTargetBytes =
        tableProps.get("write.target-file-size-bytes").map(_.toLong),
      distributionMode = tableProps.get("write.distribution-mode"))

  /** The table's `write.format.default` (normalized), for write paths
    * outside [[newWriteBuilder]] — MOR delta inserts, CTAS staging. */
  private[v2] def writeFormat: String =
    GraftFormatWriters.normalize(writeFormatDefault)
}

private[v2] class GraftScanBuilder(table: GraftTable, fullSchema: StructType,
    statFields: Seq[GraftIcebergSource.StatField])
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownTableSample
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = fullSchema
  private var aggResult: Option[(StructType, Seq[Seq[Any]])] = None
  private var sample: Option[(Double, Double, Long)] = None

  /** `TABLESAMPLE (x PERCENT) REPEATABLE (seed)` pushed into the scan:
    * each reader keeps a row iff a pure hash of (seed, file path, row
    * ordinal) maps into [lo, hi) — deterministic across runs, retries,
    * and partitionings (the ordinal is the row's position in ITS file,
    * so a row's fate never depends on scheduling), and independent of
    * tombstones (a delete near a sampled row cannot flip it). Sampling
    * WITH replacement has no per-row formulation here and is refused —
    * Spark then runs its own Sample operator above the scan. */
  override def pushTableSample(lowerBound: Double, upperBound: Double,
      withReplacement: Boolean, seed: Long): Boolean = {
    if (withReplacement) return false
    sample = Some((lowerBound, upperBound, seed))
    true
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val statCols = statFields.map(_.name).toSet
    pushed = filters.filter {
      case EqualTo(a, _) => statCols(a)
      case GreaterThan(a, _) => statCols(a)
      case GreaterThanOrEqual(a, _) => statCols(a)
      case LessThan(a, _) => statCols(a)
      case LessThanOrEqual(a, _) => statCols(a)
      case _ => false
    }
    // bounds are file-coarse: every filter stays residual row-level too
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Metadata-only `COUNT(*)` / `MIN` / `MAX`: the aggregate a 100 TB
    * table answers without touching ONE data byte. Manifest entries
    * carry an exact `record_count` and, for declared stat fields, the
    * file's lower/upper bounds — so the global count is the sum of
    * record counts and a global min/max folds the per-file bounds,
    * all already on the driver from scan planning. Complete pushdown
    * (the plan keeps no Aggregate node; the scan's single row IS the
    * answer), accepted only when it cannot be wrong:
    *
    *   - no residual filters (ours are always file-coarse, so any
    *     WHERE leaves a post-scan Filter and Spark never offers the
    *     aggregate — the guard is belt-and-braces);
    *   - GROUP BY only on identity PARTITION source columns with a
    *     value recorded for every file — the groups then ARE the
    *     partition values, and per-group counts/bounds fold from
    *     manifests exactly like the global case (Iceberg's
    *     `partitions` metadata profile for free); any other grouping
    *     refuses;
    *   - no delete files in the snapshot (record_count would overcount
    *     tombstoned rows);
    *   - min/max only over NUMERIC stat fields with bounds present for
    *     EVERY file — the Iceberg spec lets writers truncate string
    *     bounds, which preserves pruning but not exact extrema, and a
    *     missing bound means that file's extrema are unknown;
    *   - count(col) is NOT pushed (null counts aren't in our stats
    *     projection, and record_count includes nulls).
    *
    * The empty table folds to (0, null, null) — SQL's own global-agg
    * semantics on empty input. */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = evalAggregation(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    aggResult = evalAggregation(agg)
    aggResult.isDefined
  }

  private def evalAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Seq[Any]])] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Min, Max}
    import org.apache.spark.sql.connector.expressions.NamedReference
    if (pushed.nonEmpty) return None
    if (sample.isDefined) return None // sampled counts must scan
    if (table.hasDeletes || table.oversizedPlanning) return None
    def nameOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case fr: NamedReference if fr.fieldNames.length == 1 =>
        Some(fr.fieldNames.head)
      case _ => None
    }
    // GROUP BY is pushable only onto identity PARTITION source columns
    // with a value recorded for every file: the groups then ARE the
    // partition values — per-group record counts and bounds fold from
    // manifests exactly like the global case (Iceberg's `partitions`
    // metadata profile, answered for free)
    val idCols = table.identityPartitionCols // (pfName, srcName, dt)
    val groupCols: Seq[(String, String, DataType)] =
      agg.groupByExpressions.toSeq.map(e => nameOf(e).flatMap(n =>
        idCols.find(_._2 == n)) match {
          case Some(c) => c
          case None => return None // non-partition group key: can't push
        })
    val files = table.dataFiles
    if (groupCols.nonEmpty &&
        !files.forall(f => groupCols.forall(c => f.pvals.contains(c._1))))
      return None
    def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[GraftIcebergSource.StatField] =
      nameOf(e).flatMap(n => statFields.find(_.name == n))
        .filter(f => f.dt == LongType || f.dt == DoubleType ||
          f.dt == IntegerType)
    def cmp(a: Any, b: Any): Int = (a, b) match {
      case (x: java.lang.Long, y: java.lang.Long) => java.lang.Long.compare(x, y)
      case (x: java.lang.Integer, y: java.lang.Integer) => Integer.compare(x, y)
      case (x: Number, y: Number) =>
        java.lang.Double.compare(x.doubleValue, y.doubleValue)
      case _ => 0
    }
    def fold(group: Seq[GraftIcebergSource.FileStat],
        f: GraftIcebergSource.StatField, lo: Boolean): Option[Any] = {
      val sides = group.map(_.bounds.get(f.name)
        .map(b => if (lo) b._1 else b._2).orNull)
      if (sides.exists(_ == null)) None // a file without bounds: refuse
      else if (sides.isEmpty) Some(null) // empty table: SQL null extremum
      else Some(sides.reduce((a, b) =>
        if ((cmp(a, b) <= 0) == lo) a else b))
    }
    // schema first (shape must be decidable even for an empty table),
    // groupBy columns leading — V2ScanRelationPushDown's output contract
    val groupFields = groupCols.map { case (_, src, dt) =>
      StructField(src, dt) }
    val aggFields = agg.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        Some(StructField("count_star", LongType, nullable = false))
      case m: Min => fieldOf(m.column).map(f =>
        StructField(s"min_${f.name}", f.dt))
      case m: Max => fieldOf(m.column).map(f =>
        StructField(s"max_${f.name}", f.dt))
      case _ => None
    }
    if (aggFields.exists(_.isEmpty)) return None
    val groups: Seq[(Seq[Any], Seq[GraftIcebergSource.FileStat])] =
      if (groupCols.isEmpty) Seq((Nil, files))
      else files.groupBy(f => groupCols.map(c => f.pvals(c._1)))
        .toSeq.sortBy(_._1.mkString(" "))
    val rows = groups.map { case (key, group) =>
      val aggVals = agg.aggregateExpressions.toSeq.map {
        case _: CountStar => Some(group.map(_.records).sum: Any)
        case m: Min => fieldOf(m.column).flatMap(f => fold(group, f, lo = true))
        case m: Max => fieldOf(m.column).flatMap(f => fold(group, f, lo = false))
        case _ => None
      }
      if (aggVals.exists(_.isEmpty)) return None
      key ++ aggVals.flatten
    }
    Some((StructType(groupFields ++ aggFields.flatten), rows))
  }

  override def build(): Scan = aggResult match {
    case Some((schema, rows)) => new GraftAggScan(schema, rows)
    case None => new GraftScan(table, fullSchema, required, pushed, sample)
  }
}

/** The completely-pushed-aggregate scan: one partition, one row per
  * group (one total row when ungrouped), zero data-file I/O — the
  * values were folded from manifest statistics at plan time. */
private[v2] class GraftAggScan(aggSchema: StructType, rows: Seq[Seq[Any]])
    extends Scan with Batch {

  override def readSchema(): StructType = aggSchema

  override def toBatch: Batch = this

  override def description(): String =
    s"GraftIcebergScan aggPushed=[${aggSchema.fieldNames.mkString(", ")}] " +
      "(metadata-only, no data files read)"

  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftAggPartition(rows.map(_.map {
      case null => null
      case s: String => s // internalized reader-side
      case l: java.lang.Long => l
      case i: java.lang.Integer => i
      case d: java.lang.Double => d
      case l: Long => java.lang.Long.valueOf(l)
      case other => other
    })))

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private val it = p.asInstanceOf[GraftAggPartition].rows.iterator
          private var cur: Seq[Any] = _
          override def next(): Boolean = {
            if (!it.hasNext) return false
            cur = it.next(); true
          }
          override def get(): InternalRow =
            new GenericInternalRow(cur.map {
              case s: String => UTF8String.fromString(s)
              case v => v
            }.toArray[Any])
          override def close(): Unit = ()
        }
    }
}

private[v2] case class GraftAggPartition(rows: Seq[Seq[Any]])
    extends InputPartition

private[v2] class GraftScan(table: GraftTable, fullSchema: StructType,
    required: StructType, pushed: Array[Filter],
    sample: Option[(Double, Double, Long)] = None) extends Scan with Batch
    with SupportsRuntimeFiltering with SupportsReportPartitioning
    with SupportsReportOrdering
    with SupportsReportStatistics {

  /** Per-partition ordering the scan can HONESTLY claim, which lets the
    * planner drop SortExec nodes (e.g. a storage-partitioned sort-merge
    * join over two sorted tables runs with neither shuffle NOR sort).
    * Claimed iff (a) the table declares an identity-asc sort order,
    * (b) EVERY live data file was written under it (its manifest entry
    * carries the matching `sort_order_id` — a file appended unsorted
    * voids the claim), (c) no live delete files (the MOR anti-joins
    * would not preserve order), (d) the sort columns survive the
    * projection, and (e) each input partition holds at most ONE file
    * (two concatenated sorted files are not sorted). Under SPJ grouping
    * the partition-value columns prefix the claimed order — constant
    * within a group, so any within-file order extends to them. */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    val sortCols = table.declaredSortCols
    val ok = sortCols.nonEmpty && !table.oversizedPlanning &&
      table.deleteFiles.isEmpty && table.dataFiles.nonEmpty &&
      table.dataFiles.forall(_.sortOrderId.contains(1)) &&
      sortCols.forall(required.fieldNames.contains) &&
      (!spjActive || groupedSurvivors.forall(_._2.size <= 1))
    if (!ok) Array.empty
    else {
      val cols =
        if (spjActive)
          (table.identityPartitionCols.map(_._2) ++ sortCols).distinct
        else sortCols
      if (spjActive && !cols.forall(required.fieldNames.contains)) Array.empty
      else cols.map(c => Expressions.sort(Expressions.column(c),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)
        : org.apache.spark.sql.connector.expressions.SortOrder).toArray
    }
  }

  /** Manifest-derived, PRUNING-AWARE statistics: size and row count
    * summed over the files that survive the pushed filters — what lets
    * Catalyst pick a broadcast join for a small (or small-after-
    * pruning) table with no hints. Oversized tables report unknown
    * (the per-file plan doesn't exist); Spark falls back to defaults. */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      private val known = !table.oversizedPlanning
      private lazy val surv = survivors
      override def sizeInBytes(): java.util.OptionalLong =
        if (known) java.util.OptionalLong.of(surv.map(_.bytes).sum)
        else java.util.OptionalLong.empty()
      override def numRows(): java.util.OptionalLong =
        if (known) java.util.OptionalLong.of(surv.map(_.records).sum)
        else java.util.OptionalLong.empty()
      // column NDVs from registered Puffin sketches (schema-positional
      // field ids) plus min/max folded from the surviving files'
      // manifest bounds — the CBO consumption path of the q180/q210
      // stats loops
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
        val out = new java.util.HashMap[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
        if (!known) return out
        def cmp(a: Any, b: Any): Int = (a, b) match {
          case (x: java.lang.Long, y: java.lang.Long) =>
            java.lang.Long.compare(x, y)
          case (x: Number, y: Number) =>
            java.lang.Double.compare(x.doubleValue, y.doubleValue)
          case _ => 0
        }
        def fold(name: String, lo: Boolean): Option[Any] = {
          val sides = surv.map(_.bounds.get(name)
            .map(b => if (lo) b._1 else b._2).orNull)
          if (sides.isEmpty || sides.exists(_ == null)) None
          else Some(sides.reduce((a, b) => if ((cmp(a, b) <= 0) == lo) a else b))
        }
        val ndvByName = table.registeredNdv.flatMap { case (id, ndv) =>
          if (id >= 1 && id <= fullSchema.length)
            Some(fullSchema.fields(id - 1).name -> ndv)
          else None
        }
        val names = (ndvByName.keySet ++
          table.statFieldNames.filter(n => fold(n, lo = true).isDefined)).toSeq
        names.foreach { name =>
          out.put(
            org.apache.spark.sql.connector.expressions.Expressions.column(name),
            new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def distinctCount(): java.util.OptionalLong =
                ndvByName.get(name)
                  .map(java.util.OptionalLong.of)
                  .getOrElse(java.util.OptionalLong.empty())
              override def min(): java.util.Optional[Object] =
                fold(name, lo = true) match {
                  case Some(v) => java.util.Optional.of(v.asInstanceOf[Object])
                  case None => java.util.Optional.empty()
                }
              override def max(): java.util.Optional[Object] =
                fold(name, lo = false) match {
                  case Some(v) => java.util.Optional.of(v.asInstanceOf[Object])
                  case None => java.util.Optional.empty()
                }
            })
        }
        out
      }
    }

  /** Runtime (dynamic) filters delivered after planning — Spark's DPP:
    * a broadcast-join build side finishes, its join-key values arrive
    * here as an `In`, and [[planInputPartitions]] re-prunes files
    * against manifest bounds and partition transforms before the probe
    * side reads a byte. At 100 TB this is the difference between
    * scanning a dimension-selected slice and scanning the table. Rows
    * are NOT re-filtered — the join itself applies the predicate;
    * pruning here is only ever subtractive and conservative. */
  @volatile private var runtime: Array[Filter] = Array.empty

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    (table.statFieldNames ++ table.partitionFields.map(_._3)).distinct
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray

  override def filter(filters: Array[Filter]): Unit =
    runtime = filters

  override def readSchema(): StructType = required

  override def toBatch: Batch = {
    require(!table.readChanges,
      "graft-iceberg: read-changes is a STREAMING read option " +
        "(spark.readStream); batch reads see table state, not changes")
    this
  }

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    if (table.readChanges)
      new GraftChangelogStream(table.dir, table.baseSchema)
    else new GraftMicroBatchStream(table.dir, required,
      table.maxFilesPerTrigger)

  override def description(): String =
    s"GraftIcebergScan pushed=[${pushed.mkString(", ")}] " +
      s"columns=[${required.fieldNames.mkString(", ")}]"

  private def overlaps(bounds: Map[String, (Any, Any)]): Boolean =
    GraftPrune.overlaps((pushed ++ runtime).toSeq, bounds)

  private def partitionKeeps(pvals: Map[String, Any]): Boolean =
    GraftPrune.partitionKeeps((pushed ++ runtime).toSeq,
      table.partitionFields, pvals)

  /** Storage-partitioned join readiness: when the table is identity-
    * partitioned, every file carries its partition values, and the user
    * opted in via `spark.sql.sources.v2.bucketing.enabled`, the scan
    * groups files by partition value and reports
    * [[org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning]]
    * — Spark then plans an equi-join of two tables co-partitioned on
    * the same keys with NO shuffle on either side (each partition-value
    * group joins its counterpart directly). At 100 TB this deletes the
    * single largest cost of a fact-fact join: neither table moves.
    * Conservative fallback everywhere: any file missing a value, a
    * non-identity spec, or the conf off → one partition per file and
    * unknown partitioning, exactly as before. */
  private def spjActive: Boolean =
    org.apache.spark.sql.internal.SQLConf.get.v2BucketingEnabled &&
      table.identityPartitionCols.nonEmpty && table.dataFiles.nonEmpty &&
      table.dataFiles.forall(f =>
        table.identityPartitionCols.forall(c => f.pvals.contains(c._1)))

  private def survivors: Seq[GraftIcebergSource.FileStat] =
    table.dataFiles.filter(f => overlaps(f.bounds) && partitionKeeps(f.pvals))

  private def groupedSurvivors
      : Seq[(Seq[Any], Seq[GraftIcebergSource.FileStat])] =
    survivors.groupBy(f =>
        table.identityPartitionCols.map(c => f.pvals(c._1)))
      .toSeq.sortBy(_._1.mkString("\u0000"))

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    import org.apache.spark.sql.connector.read.partitioning._
    import org.apache.spark.sql.connector.expressions.Expressions
    if (spjActive)
      new KeyGroupedPartitioning(
        table.identityPartitionCols.map(c => Expressions.identity(c._2))
          .toArray[org.apache.spark.sql.connector.expressions.Expression],
        groupedSurvivors.size)
    else new UnknownPartitioning(survivors.size)
  }

  private def partitionFor(f: GraftIcebergSource.FileStat)
      : GraftFilePartition = table.morPartitionFor(f)

  /** MANIFEST-GRANULAR distributed planning — the shape past the
    * driver ceiling (set `spark.graft.maxDriverFileEntries` to tune):
    * the driver materializes only the MANIFEST LIST (one row per
    * manifest — a 100M-file table has ~thousands), plans one input
    * partition per manifest, and each TASK expands its manifest's
    * entries, prunes them against the pushed + runtime filters with the
    * same [[GraftPrune]] math the driver uses, and chains the surviving
    * files' readers. File skipping still happens — it just happens
    * where the file list lives. Delete-carrying snapshots refuse (a
    * delete in manifest A applies to data in manifest B; cross-manifest
    * tombstone routing needs the per-file plan): rewrite to a
    * tombstone-free snapshot first. */
  private def manifestModePartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    val list = graft.sources.IcebergManifestSource
      .resolveManifestList(spark, table.dir, table.boundSnapshot)
      .getOrElse(return Array.empty)
    val manifests = graft.sources.IcebergManifestSource
      .manifestList(conf, list)
    require(!manifests.exists(_.content != 0),
      s"graft-iceberg(${table.dir}): manifest-granular planning (file " +
        "count above spark.graft.maxDriverFileEntries) supports append-" +
        "only snapshots; this one carries delete manifests. Rewrite to a " +
        "tombstone-free snapshot first.")
    val fields = table.statFieldSpecs
    val filters = (pushed ++ runtime).toSeq
    val pf = table.partitionFields
    manifests.map(m => GraftManifestPartition(m.path, m.sequenceNumber,
      fields, filters, pf): InputPartition).toArray
  }

  override def planInputPartitions(): Array[InputPartition] =
    if (table.oversizedPlanning) manifestModePartitions()
    else if (spjActive)
      groupedSurvivors.map { case (key, files) =>
        GraftGroupPartition(files.map(partitionFor),
          key.zip(table.identityPartitionCols).map {
            case (v, (_, _, dt)) => GraftGroupPartition.internalValue(v, dt)
          }): InputPartition
      }.toArray
    else
      survivors.map(f => partitionFor(f): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(required, sample)
}

private[v2] object GraftPrune {
  // Serializable, task-safe file pruning: manifest-bound overlap
  // checks and partition-transform projection. Shared by driver-side
  // scan planning and the MANIFEST-GRANULAR distributed planning path
  // (one task per manifest expands and prunes its own file entries).
  /** File survives unless a pushed filter's range excludes its bounds.
    * Null bounds (no stats for the column) keep the file — pruning is
    * only ever an optimization, never a correctness lever. Integral
    * bounds/values compare as Long (doubles lose precision above 2^53;
    * a rounded-down hi could wrongly prune a file that contains
    * qualifying rows); Double is the fallback only when either side is
    * genuinely floating. */
  def overlaps(filters: Seq[Filter],
      bounds: Map[String, (Any, Any)]): Boolean =
    filters.forall { f =>
      def bnds(col: String): Option[(Any, Any)] = bounds.get(col).filter {
        case (lo, hi) => lo != null && hi != null
      }
      def lng(x: Any): Option[Long] = x match {
        case n: java.lang.Long => Some(n)
        case n: java.lang.Integer => Some(n.longValue)
        case n: java.lang.Short => Some(n.longValue)
        case n: java.lang.Byte => Some(n.longValue)
        case _ => None
      }
      def cmp(a: Any, b: Any): Option[Int] = (lng(a), lng(b)) match {
        case (Some(x), Some(y)) => Some(java.lang.Long.compare(x, y))
        case _ => (a, b) match {
          case (x: Number, y: Number) =>
            Some(java.lang.Double.compare(x.doubleValue, y.doubleValue))
          case _ => None
        }
      }
      (f match {
        case EqualTo(c, v) => for { (lo, hi) <- bnds(c); a <- cmp(lo, v);
          b <- cmp(v, hi) } yield a <= 0 && b <= 0
        // In — the shape runtime DPP filters arrive as: the file
        // survives if ANY value lands inside its bounds
        case In(c, vs) => bnds(c).map { case (lo, hi) =>
          vs.exists(v => (for (a <- cmp(lo, v); b <- cmp(v, hi))
            yield a <= 0 && b <= 0).getOrElse(true))
        }
        case GreaterThan(c, v) =>
          for ((_, hi) <- bnds(c); a <- cmp(hi, v)) yield a > 0
        case GreaterThanOrEqual(c, v) =>
          for ((_, hi) <- bnds(c); a <- cmp(hi, v)) yield a >= 0
        case LessThan(c, v) =>
          for ((lo, _) <- bnds(c); a <- cmp(lo, v)) yield a < 0
        case LessThanOrEqual(c, v) =>
          for ((lo, _) <- bnds(c); a <- cmp(lo, v)) yield a <= 0
        case _ => None
      }).getOrElse(true)
    }

  /** The DUAL of pruning: does the predicate provably hold for EVERY
    * row of a file, proven from partition values alone? Powers
    * metadata-only DELETE (drop whole files from the snapshot — the
    * "delete a day costs one metadata swap" path). Soundness rests on
    * partition semantics, not column bounds: a file in partition p
    * contains ONLY rows whose transform image is p (a null source value
    * lands in the null partition, which reads as not-covered), so
    *  - identity: the predicate evaluates directly on p;
    *  - floor-monotone transforms (day/hour/month/year/truncate):
    *    ord(row) < ord(X) ⟹ row < X and ord(row) > ord(X) ⟹ row > X,
    *    so strict ordinal comparison proves coverage (never equality);
    *  - anything else (bucket, unprojectable shapes, non-integral
    *    values) is NOT covered — this is a correctness lever, so every
    *    unknown answers false. */
  def fullyCovers(filters: Seq[Filter],
      partitionFields: Seq[(String, String, String)],
      pvals: Map[String, Any]): Boolean =
    filters.nonEmpty && partitionFields.nonEmpty &&
      filters.forall(f => coversAll(f, partitionFields, pvals))

  private def coversAll(f: Filter,
      partitionFields: Seq[(String, String, String)],
      pvals: Map[String, Any]): Boolean = f match {
    case And(l, r) => coversAll(l, partitionFields, pvals) &&
      coversAll(r, partitionFields, pvals)
    case Or(l, r) => coversAll(l, partitionFields, pvals) ||
      coversAll(r, partitionFields, pvals)
    case _ => partitionFields.exists { case (pfName, transform, srcCol) =>
      coversByField(f, pfName, transform, srcCol, pvals)
    }
  }

  private def coversByField(f: Filter, pfName: String, transform: String,
      srcCol: String, pvals: Map[String, Any]): Boolean = {
    import graft.sources.PartitionTransforms._
    def longVal(v: Any): Option[Long] = v match {
      case n: java.lang.Long => Some(n)
      case n: java.lang.Integer => Some(n.longValue)
      case n: java.lang.Short => Some(n.longValue)
      case n: java.lang.Byte => Some(n.longValue)
      case _ => None
    }
    val pv: Option[Long] = pvals.get(pfName).flatMap(longVal)
    val identity = transform == "identity"
    def ord(v: Any): Option[Long] = transform match {
      case "identity" => longVal(v)
      case "day" => longVal(v).map(us => dayFromMicros(us).toLong)
      case "hour" => longVal(v).map(us => hourFromMicros(us).toLong)
      case "month" => longVal(v).map(us => monthFromMicros(us).toLong)
      case "year" => longVal(v).map(us => yearFromMicros(us).toLong)
      case t if t.startsWith("truncate[") =>
        val w = t.stripPrefix("truncate[").stripSuffix("]").toLong
        longVal(v).map(truncateLong(_, w))
      case _ => None
    }
    (f, pv) match {
      case (_, None) => false
      case (EqualTo(c, v), Some(p)) if c == srcCol && identity =>
        longVal(v).contains(p)
      case (In(c, vs), Some(p)) if c == srcCol && identity =>
        vs.exists(longVal(_).contains(p))
      case (LessThan(c, v), Some(p)) if c == srcCol =>
        if (identity) ord(v).exists(p < _) else ord(v).exists(p < _)
      case (LessThanOrEqual(c, v), Some(p)) if c == srcCol =>
        if (identity) ord(v).exists(p <= _) else ord(v).exists(p < _)
      case (GreaterThan(c, v), Some(p)) if c == srcCol =>
        ord(v).exists(p > _)
      case (GreaterThanOrEqual(c, v), Some(p)) if c == srcCol =>
        if (identity) ord(v).exists(p >= _) else ord(v).exists(p > _)
      // a non-null partition value implies every row's source is
      // non-null (nulls land in the null partition)
      case (IsNotNull(c), Some(_)) if c == srcCol => true
      case _ => false
    }
  }

  /** Iceberg "Partition transform projection": a pushed predicate on a
    * transform's SOURCE column projects to an INCLUSIVE predicate on the
    * stored partition value — `ts >= X` skips `day(ts)` partitions below
    * `day(X)` with no column stats at all; `id = K` skips every
    * `bucket[N](id)` partition except `bucket(K)`'s. Monotonic
    * transforms (identity/day/hour/month/year/truncate) project ranges;
    * bucket projects equality only. Everything here is conservative:
    * a missing partition value (older spec), an unprojectable shape, or
    * a type mismatch keeps the file — pruning is never a correctness
    * lever. */
  def partitionKeeps(filters: Seq[Filter],
      partitionFields: Seq[(String, String, String)],
      pvals: Map[String, Any]): Boolean =
    filters.forall { f =>
      partitionFields.forall { case (pfName, transform, srcCol) =>
        keepByTransform(f, pfName, transform, srcCol, pvals)
      }
    }

  private def keepByTransform(f: Filter, pfName: String, transform: String,
      srcCol: String, pvals: Map[String, Any]): Boolean = {
    import graft.sources.PartitionTransforms._
    val pvLong: Option[Long] = pvals.get(pfName).collect { case l: Long => l }
    def longVal(v: Any): Option[Long] = v match {
      case n: java.lang.Long => Some(n)
      case n: java.lang.Integer => Some(n.longValue)
      case n: java.lang.Short => Some(n.longValue)
      case n: java.lang.Byte => Some(n.longValue)
      case _ => None
    }
    // transform(source value) → the partition ordinal it lands in
    def ordinal(v: Any): Option[Long] = transform match {
      case "identity" => longVal(v)
      case "day" => longVal(v).map(us => dayFromMicros(us).toLong)
      case "hour" => longVal(v).map(us => hourFromMicros(us).toLong)
      case "month" => longVal(v).map(us => monthFromMicros(us).toLong)
      case "year" => longVal(v).map(us => yearFromMicros(us).toLong)
      case t if t.startsWith("truncate[") =>
        val w = t.stripPrefix("truncate[").stripSuffix("]").toLong
        longVal(v).map(truncateLong(_, w))
      case _ => None // bucket: equality-only, handled below
    }
    val bucketN: Option[Int] =
      if (transform.startsWith("bucket["))
        Some(transform.stripPrefix("bucket[").stripSuffix("]").toInt)
      else None
    // string-bucket pruning must stay SOUND for uuid lake columns: the
    // write side buckets uuids by the spec's 16-byte hash, and pruning
    // cannot see the lake type here — so a uuid-shaped literal keeps
    // the file if EITHER image matches (conservative: never wrongly
    // drops a file, keeps at most one extra bucket per probe value)
    def bucketStringKeep(s: String, n: Int, pv: Long): Boolean =
      bucketString(s, n).toLong == pv || (
        try bucketUuid(s, n).toLong == pv
        catch { case _: IllegalArgumentException => false })
    (f, pvLong) match {
      case (_, None) => true // no value for this field in this file: keep
      // In (runtime DPP shape): keep if ANY value's image under the
      // transform is this file's partition ordinal
      case (In(c, vs), Some(pv)) if c == srcCol =>
        vs.exists { v =>
          bucketN match {
            case Some(n) => longVal(v).map(x => bucketLong(x, n).toLong == pv)
              .orElse(v match {
                case s: String => Some(bucketStringKeep(s, n, pv))
                case _ => None
              }).getOrElse(true)
            case None => ordinal(v).forall(_ == pv)
          }
        }
      case (EqualTo(c, v), Some(pv)) if c == srcCol =>
        bucketN match {
          case Some(n) => longVal(v).map(x => bucketLong(x, n).toLong == pv)
            .orElse(v match {
              case s: String => Some(bucketStringKeep(s, n, pv))
              case _ => None
            }).getOrElse(true)
          case None => ordinal(v).forall(_ == pv)
        }
      // over integral values a strict bound shifts one unit before
      // projecting (`> v` ≡ `>= v+1`), so a `ts < day-start` predicate
      // prunes that whole day instead of keeping its boundary partition
      case (GreaterThan(c, v), Some(pv)) if c == srcCol =>
        longVal(v).map(x => ordinal(java.lang.Long.valueOf(
            if (x == Long.MaxValue) x else x + 1)).forall(pv >= _))
          .getOrElse(ordinal(v).forall(pv >= _))
      case (GreaterThanOrEqual(c, v), Some(pv)) if c == srcCol =>
        ordinal(v).forall(pv >= _)
      case (LessThan(c, v), Some(pv)) if c == srcCol =>
        longVal(v).map(x => ordinal(java.lang.Long.valueOf(
            if (x == Long.MinValue) x else x - 1)).forall(pv <= _))
          .getOrElse(ordinal(v).forall(pv <= _))
      case (LessThanOrEqual(c, v), Some(pv)) if c == srcCol =>
        ordinal(v).forall(pv <= _)
      case _ => true
    }
  }

}

/** One data file plus the delete files that apply to it: position
  * tombstone file paths (reader filters to this file's `file_path` and
  * skips those row ordinals) and equality tombstone files with their
  * resolved key column names (reader skips rows whose key tuple
  * appears). Both empty on tombstone-free tables — the common case
  * costs nothing. */
private[v2] case class GraftFilePartition(path: String,
    posDeletes: Seq[String] = Nil,
    eqDeletes: Seq[(String, Seq[String])] = Nil,
    fileFormat: String = "PARQUET",
    /** Rename aliases of the eq-delete KEY columns (table name →
      * former names): key columns must resolve in PRE-RENAME files even
      * when the projection does not select them. */
    keyAliases: Map[String, Seq[String]] = Map.empty,
    /** v3 row lineage: the file's manifest sequence number (what
      * `_last_updated_sequence_number` reads as when the file does not
      * materialize the column) and its `first_row_id` (null = no
      * lineage assigned: `_row_id` reads null unless materialized). */
    dataSeq: Long = 0L,
    firstRowId: java.lang.Long = null,
    /** the partition SPEC the file's partition values were written
      * under, and the values themselves (canonical-JSON-parsed) — the
      * `_spec_id` / `_partition` metadata columns' sources. */
    specId: Int = 0,
    pvals: Map[String, Any] = Map.empty,
    /** declared variant shreds as (metaColName, srcCol, field, typeDdl)
      * — the reader serves `_shred_*` metadata columns and reassembles
      * shredded variant groups from these. */
    shreds: Seq[(String, String, String, String)] = Nil,
    /** GEOMETRY/GEOGRAPHY lake columns — the reader serves their
      * `_geo_*` bbox-edge metadata columns. */
    geoCols: Seq[String] = Nil)
    extends InputPartition

/** One partition-value group of files (the SPJ unit): `partitionKey`
  * is the identity partition values as an InternalRow — Spark's
  * KeyGrouped machinery matches these rows across join sides to pair
  * co-partitioned splits without a shuffle. */
private[v2] case class GraftGroupPartition(parts: Seq[GraftFilePartition],
    keyValues: Seq[Any]) extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(keyValues.toArray)
}

private[v2] object GraftGroupPartition {
  /** Partition-JSON value → Spark internal value of the source type. */
  def internalValue(v: Any, dt: DataType): Any = (v, dt) match {
    case (l: Long, LongType) => l
    case (l: Long, IntegerType) => l.toInt
    case (s: String, StringType) => UTF8String.fromString(s)
    case (other, _) => other
  }
}

/** One MANIFEST as an input partition (the oversized-table planning
  * unit): the task expands the manifest's live data entries, prunes
  * them with the same bound/transform math the driver uses, and reads
  * the survivors. Carries everything pruning needs — stat field specs,
  * the pushed + runtime filters, the partition transform fields. */
private[v2] case class GraftManifestPartition(manifestPath: String,
    inheritSeq: Long, statFields: Seq[(Int, String, DataType)],
    filters: Seq[Filter],
    partitionFields: Seq[(String, String, String)]) extends InputPartition

private[v2] class GraftReaderFactory(required: StructType,
    sample: Option[(Double, Double, Long)] = None)
    extends PartitionReaderFactory {
  /** Per-file reader by the entry's declared `file_format`: parquet
    * keeps the footer-projected Group reader; ORC/AVRO route through
    * the row readers with identical MOR/metadata-column semantics. */
  private def fileReader(f: GraftFilePartition): PartitionReader[InternalRow] =
    if (f.fileFormat == "PARQUET")
      new GraftPartitionReader(f, required, sample)
    else new GraftRowPartitionReader(f, required, sample)

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case f: GraftFilePartition => fileReader(f)
      case m: GraftManifestPartition => new PartitionReader[InternalRow] {
        // task-side manifest expansion + pruning, then chained readers
        private val conf = new Configuration()
        private val files
            : Iterator[(String, String, Long, Option[Long], String)] =
          graft.sources.IcebergManifestSource
            .readManifestStats(m.manifestPath, conf, m.inheritSeq)
            .filter(_.content == 0)
            .filter { s =>
              val bounds = m.statFields.map { case (id, name, dt) =>
                name -> ((s.lower.get(id)
                    .map(graft.sources.IcebergManifestSource.decodeBound(_, dt))
                    .orNull,
                  s.upper.get(id)
                    .map(graft.sources.IcebergManifestSource.decodeBound(_, dt))
                    .orNull))
              }.toMap
              GraftPrune.overlaps(m.filters, bounds) &&
                GraftPrune.partitionKeeps(m.filters, m.partitionFields,
                  GraftIcebergSource.parsePartitionKey(s.partitionKey))
            }
            .map(s => (s.filePath, s.fileFormat, s.sequenceNumber,
              s.firstRowId, s.partitionKey))
        private var cur: PartitionReader[InternalRow] = _
        override def next(): Boolean = {
          while (true) {
            if (cur == null) {
              if (!files.hasNext) return false
              val (p, fmt, sq, fri, pk) = files.next()
              // lineage + partition metadata ride the manifest-granular
              // path too: the entry carries the file's sequence number,
              // first_row_id, and partition values
              cur = fileReader(GraftFilePartition(p, fileFormat = fmt,
                dataSeq = sq, firstRowId = fri.map(Long.box).orNull,
                pvals = GraftIcebergSource.parsePartitionKey(pk)))
            }
            if (cur.next()) return true
            cur.close(); cur = null
          }
          false
        }
        override def get(): InternalRow = cur.get()
        override def close(): Unit = if (cur != null) cur.close()
      }
      case g: GraftGroupPartition => new PartitionReader[InternalRow] {
        // chain the group's files through one reader sequence
        private val parts = g.parts.iterator
        private var cur: PartitionReader[InternalRow] = _
        override def next(): Boolean = {
          while (true) {
            if (cur == null) {
              if (!parts.hasNext) return false
              cur = fileReader(parts.next())
            }
            if (cur.next()) return true
            cur.close(); cur = null
          }
          false
        }
        override def get(): InternalRow = cur.get()
        override def close(): Unit = if (cur != null) cur.close()
      }
    }
}

private[v2] object GraftPartitionReader {
  private def norm(p: String): String = p.replaceFirst("^file:/+", "/")

  /** EXECUTOR-SIDE tombstone cache: a MOR scan opens each delete file
    * once per DATA-FILE task, so a snapshot with F data files and D
    * delete files pays F x D tombstone reads — at real file counts the
    * delete side dominates the scan. Delete-file CONTENTS are immutable
    * once committed (paths are never reused — the commit writers claim
    * fresh names), so caching decoded tombstones per (path, length,
    * mtime) is safe even across test fixtures that rebuild the same
    * path; the crude full-clear past the cap keeps the cache an
    * optimization, never a memory liability. */
  private val tombCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long, String), AnyRef]()
  private val TombCacheMax = 512

  private def cached[T <: AnyRef](path: String, tag: String)(load: => T): T = {
    val f = new java.io.File(norm(path))
    val key = (norm(path), f.length(), f.lastModified(), tag)
    if (tombCache.size > TombCacheMax) tombCache.clear()
    tombCache.computeIfAbsent(key, _ => load).asInstanceOf[T]
  }

  /** One parquet field of one Group as a plain JVM value (null when the
    * field is absent or unset) — the comparable form both sides of an
    * equality-delete match reduce to. */
  private[v2] def prim(g: Group, name: String): Any = {
    if (!g.getType.asGroupType().containsField(name)) return null
    if (g.getFieldRepetitionCount(name) == 0) return null
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val pt = g.getType.asGroupType().getType(name).asPrimitiveType()
    // decimal-annotated columns (any physical encoding: int32/int64
    // unscaled, fixed/binary two's-complement) normalize to a
    // trailing-zero-stripped BigDecimal — the representation-free
    // comparable an eq-delete match needs across file formats (ORC's
    // HiveDecimal strips trailing zeros; parquet encodings don't)
    Option(pt.getLogicalTypeAnnotation) match {
      case Some(dl: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation) =>
        val unscaled = pt.getPrimitiveTypeName match {
          case INT32 => java.math.BigInteger.valueOf(g.getInteger(name, 0).toLong)
          case INT64 => java.math.BigInteger.valueOf(g.getLong(name, 0))
          case _ => new java.math.BigInteger(g.getBinary(name, 0).getBytes)
        }
        normDecimal(new java.math.BigDecimal(unscaled, dl.getScale))
      case _ => pt.getPrimitiveTypeName match {
        case INT64 => g.getLong(name, 0)
        case INT32 => g.getInteger(name, 0)
        case DOUBLE => g.getDouble(name, 0)
        case FLOAT => g.getFloat(name, 0)
        case BOOLEAN => g.getBoolean(name, 0)
        // uuid lake columns compare as the canonical string; plain
        // FIXED as a ByteBuffer (content-equal, unlike Array[Byte])
        case FIXED_LEN_BYTE_ARRAY =>
          val bytes = g.getBinary(name, 0).getBytes
          if (pt.getLogicalTypeAnnotation ==
              LogicalTypeAnnotation.uuidType())
            GraftFormatWriters.uuidString(bytes)
          else java.nio.ByteBuffer.wrap(bytes)
        // BINARY: string-annotated columns compare as String; raw
        // binary as a ByteBuffer (content-equal, unlike Array[Byte]) —
        // the same comparable the ORC/AVRO eq arms normalize to, so
        // equality deletes on binary identifier columns match across
        // formats instead of falling to reference equality
        case BINARY
            if !pt.getLogicalTypeAnnotation
              .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
          java.nio.ByteBuffer.wrap(g.getBinary(name, 0).getBytes)
        case _ => g.getString(name, 0)
      }
    }
  }

  /** Scale-free decimal comparable: BigDecimal.equals is scale-sensitive
    * (2.50 != 2.5), so every eq-delete key path reduces decimals through
    * this before tuple matching. */
  private[v2] def normDecimal(d: java.math.BigDecimal): java.math.BigDecimal = {
    val s = d.stripTrailingZeros()
    if (s.scale() < 0) s.setScale(0) else s
  }

  /** Stream a delete file's rows projected to `cols` (present ones). */
  private[v2] def readRows(path: String, cols: Seq[String])
      : Iterator[Group] = {
    val conf = new Configuration()
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    val fileSchema = try r.getFooter.getFileMetaData.getSchema finally r.close()
    val fields = cols.filter(fileSchema.containsField)
      .map(c => fileSchema.getFields.get(fileSchema.getFieldIndex(c)))
    if (fields.nonEmpty)
      conf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
        new org.apache.parquet.schema.MessageType("projection",
          fields: _*).toString)
    val reader = ParquetReader.builder(new GroupReadSupport(),
      new org.apache.hadoop.fs.Path(path)).withConf(conf).build()
    new Iterator[Group] {
      private var nextG: Group = reader.read()
      override def hasNext: Boolean = {
        if (nextG == null) reader.close()
        nextG != null
      }
      override def next(): Group = {
        val g = nextG; nextG = reader.read(); g
      }
    }
  }

  /** One position-delete file decoded ONCE per executor: target data
    * file → its deleted ordinals (both tombstone dialects). Also used
    * at changelog PLANNING (driver) to learn an update-shaped commit's
    * tombstone targets — bounded by the commit's delete set. */
  private[v2] def posMapOf(p: String): Map[String, Array[Long]] =
    cached(p, "pos") {
      if (graft.sources.DeletionVectors.isDvPath(p))
        graft.sources.DeletionVectors.read(new java.io.File(p))
          .map { case (t, ps) => norm(t) -> ps.toArray }.toMap
      else if (p.endsWith(".orc") || p.endsWith(".avro")) {
        // write.delete.format.default=orc|avro tombstone files: read
        // through the connector's own format readers
        val rows = GraftFormatReaders.open(norm(p),
          if (p.endsWith(".orc")) "ORC" else "AVRO")
        try {
          val fi = rows.names.indexOf("file_path")
          val pi = rows.names.indexOf("pos")
          require(fi >= 0 && pi >= 0,
            s"graft-iceberg: tombstone file $p lacks (file_path, pos)")
          rows.iterator
            .map(a => (norm(String.valueOf(a(fi))),
              a(pi).asInstanceOf[Long]))
            .toSeq.groupBy(_._1).map { case (t, ps) =>
              t -> ps.map(_._2).toArray }
        } finally rows.close()
      }
      else readRows(p, Seq("file_path", "pos"))
        .map(g => (norm(String.valueOf(prim(g, "file_path"))),
          prim(g, "pos").asInstanceOf[Long]))
        .toSeq.groupBy(_._1).map { case (t, ps) =>
          t -> ps.map(_._2).toArray }
    }

  /** The row ordinals of `dataPath` deleted by the position-tombstone
    * files (spec: pos-delete rows are (file_path, pos)). */
  def positionsFor(dataPath: String, posDeletes: Seq[String]): Set[Long] = {
    val target = norm(dataPath)
    posDeletes.iterator
      .flatMap(p => posMapOf(p).getOrElse(target, Array.empty[Long]))
      .toSet
  }

  /** Each equality-delete file's key tuples, paired with its key
    * column names — decoded once per executor. Eq-delete FILES may be
    * any of the three spec formats (write.delete.format.default):
    * parquet through the projected Group read, ORC/AVRO through the
    * connector's row readers; decimals reduce to the scale-free
    * comparable either way. */
  def eqTuplesFor(eqDeletes: Seq[(String, Seq[String])])
      : Seq[(Seq[String], Set[Seq[Any]])] =
    eqDeletes.map { case (p, keys) =>
      (keys, cached(p, "eq:" + keys.mkString(",")) {
        if (p.endsWith(".orc") || p.endsWith(".avro")) {
          val rows = GraftFormatReaders.open(norm(p),
            if (p.endsWith(".orc")) "ORC" else "AVRO")
          try {
            val idx = keys.map { k =>
              val i = rows.names.indexOf(k)
              require(i >= 0,
                s"graft-iceberg: eq-delete file $p lacks key column $k")
              i
            }
            rows.iterator.map(a => idx.map(a(_) match {
              case d: java.math.BigDecimal => normDecimal(d)
              // ORC/AVRO binary + fixed(L) key values arrive as
              // Array[Byte] — wrap for content equality, matching the
              // parquet prim's ByteBuffer comparable on the data side
              case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
              case v => v
            })).toSet
          } finally rows.close()
        }
        else readRows(p, keys).map(g => keys.map(k => prim(g, k))).toSet
      })
    }

  /** One struct LEAF's per-file resolution — the nested twin of the
    * reader's top-level rule: by NAME (the fast path), else by the
    * leaf's EMBEDDED parquet field id against the table's leaf id
    * (files written after nested ids were bootstrapped carry them),
    * else by a recorded former name. A miss = a pre-evolution file for
    * an added leaf: null-fill. */
  private[v2] def resolveLeaf(fg: org.apache.parquet.schema.GroupType,
      nf: org.apache.spark.sql.types.StructField)
      : Option[org.apache.parquet.schema.Type] = {
    if (fg.containsField(nf.name)) return Some(fg.getType(nf.name))
    import scala.jdk.CollectionConverters._
    val byId =
      if (!nf.metadata.contains(graft.sources.v2.GraftCatalog.FieldIdKey)) None
      else {
        val id = nf.metadata
          .getLong(graft.sources.v2.GraftCatalog.FieldIdKey).toInt
        fg.getFields.asScala.find(t =>
          t.getId != null && t.getId.intValue == id)
      }
    byId.orElse {
      val aliases =
        if (!nf.metadata.contains(graft.sources.v2.GraftCatalog.AliasesKey)) Nil
        else nf.metadata.getString(graft.sources.v2.GraftCatalog.AliasesKey)
          .split(',').toSeq.filter(_.nonEmpty)
      aliases.collectFirst {
        case a if fg.containsField(a) => fg.getType(a)
      }
    }
  }

  /** Narrow a resolved FILE field to the leaves the query requires: for
    * a struct column, Spark's nested-schema pruning hands `required` a
    * struct of only the SELECTED leaves — projecting the matching pruned
    * group means unselected leaves' pages are never decoded (pinned in
    * GraftSourceV2Spec). Leaves resolve per file ([[resolveLeaf]] —
    * renamed leaves project under their PHYSICAL name); the second
    * return is the table-leaf-name → physical-name map the row decoder
    * reads through. Primitives pass through untouched. */
  private[v2] def pruneToRequired(
      fileField: org.apache.parquet.schema.Type,
      f: org.apache.spark.sql.types.StructField)
      : (org.apache.parquet.schema.Type, Map[String, String]) =
    f.dataType match {
      case st: org.apache.spark.sql.types.StructType
          if !fileField.isPrimitive =>
        import scala.jdk.CollectionConverters._
        val fg = fileField.asGroupType()
        val resolved = st.fields.toSeq.flatMap(nf =>
          resolveLeaf(fg, nf).map(t => nf.name -> t))
        val kept = resolved.map(_._2)
        val pruned =
          if (kept.isEmpty) fileField
          else new org.apache.parquet.schema.GroupType(
            fileField.getRepetition, fileField.getName, kept.asJava)
        (pruned, resolved.map { case (n, t) => n -> t.getName }.toMap)
      case _ => (fileField, Map.empty)
    }
}

/** Reads one parquet file through parquet-hadoop's Group API with the
  * projection pushed to the parquet reader (unselected columns' pages
  * are never decoded). Applies the partition's delete files inline:
  * position tombstones by row ordinal, equality tombstones by key
  * tuple — so the connector's batch read is a full merge-on-read
  * reader. Tombstone-free partitions (the common case) skip all of it. */
private[v2] class GraftPartitionReader(part: GraftFilePartition,
    required: StructType,
    sample: Option[(Double, Double, Long)] = None)
    extends PartitionReader[InternalRow] {
  private val path = part.path

  // Synthesized columns never projected against the parquet footer:
  // `_file` (the reader materializes the path) and columns ABSENT from
  // this file's schema (pre-evolution files after ALTER TABLE ADD
  // COLUMN — null-filled, Iceberg's schema-evolution read semantics).
  // `_shred_<col>_<field>` metadata columns: synthesized from the
  // SOURCE variant column (variant_get try-cast semantics) — never
  // footer-projected under their own name
  private val shredOf: Array[(String, String, org.apache.spark.sql.types.DataType)] =
    required.fields.map(f =>
      part.shreds.collectFirst { case (meta, col, field, ddl)
          if meta == f.name =>
        (col, field,
          org.apache.spark.sql.catalyst.parser.CatalystSqlParser
            .parseDataType(ddl))
      }.orNull)
  // `_geo_<col>_{xmin,ymin,xmax,ymax}` metadata columns: the row's
  // bbox edge, parsed from the WKB source column
  private val geoOf: Array[(String, Int)] =
    required.fields.map { f =>
      part.geoCols.iterator.flatMap { c =>
        GeoLake.Suffixes.zipWithIndex.collectFirst {
          case (sfx, k) if f.name == GeoLake.metaName(c, sfx) => (c, k)
        }
      }.nextOption().orNull
    }
  private val isMeta: Array[Boolean] =
    required.fields.zipWithIndex.map { case (f, i) =>
      f.name == GraftTable.FileMetadataColumn ||
      f.name == GraftTable.PosMetadataColumn ||
      f.name == GraftTable.SpecIdMetadataColumn ||
      f.name == GraftTable.PartitionMetadataColumn ||
      shredOf(i) != null || geoOf(i) != null
    }
  private val isPos: Array[Boolean] =
    required.fields.map(_.name == GraftTable.PosMetadataColumn)
  private val isSpecId: Array[Boolean] =
    required.fields.map(_.name == GraftTable.SpecIdMetadataColumn)
  private val isPartMeta: Array[Boolean] =
    required.fields.map(_.name == GraftTable.PartitionMetadataColumn)
  // the `_partition` struct, built once per reader from the file's
  // recorded partition values in the projected struct's field order
  private lazy val partitionMetaValue: Array[Any] =
    required.fields.zipWithIndex.collectFirst {
      case (f, i) if isPartMeta(i) =>
        f.dataType.asInstanceOf[StructType].fields.map { pf =>
          part.pvals.get(pf.name).map { v =>
            (v, pf.dataType) match {
              case (l: Long, LongType) => l
              case (l: Long, DoubleType) => l.toDouble
              case (d: Double, DoubleType) => d
              case (str: String, StringType) =>
                UTF8String.fromString(str): Any
              case (other, _) => other
            }
          }.orNull
        }: Array[Any]
    }.getOrElse(Array.empty)
  // v3 row lineage columns: NOT isMeta — when the FILE materializes the
  // physical column (lineage-preserving writers: MOR UPDATE deltas)
  // the projection reads it, and per-row nulls fall back to the
  // synthesized value (first_row_id + pos / the file's own seq)
  private val isRowId: Array[Boolean] =
    required.fields.map(_.name == GraftTable.RowIdMetadataColumn)
  private val isLastUpd: Array[Boolean] =
    required.fields.map(_.name == GraftTable.LastUpdatedMetadataColumn)
  private val isAbsent: Array[Boolean] = new Array[Boolean](required.length)
  // what an ABSENT column reads as: the column's INITIAL default when
  // one was declared at ADD COLUMN (Iceberg v3 "Default values" —
  // `EXISTS_DEFAULT` rides the field metadata from the descriptor),
  // else null. Evaluated once per reader: defaults are literal SQL.
  private lazy val absentValue: Array[Any] = required.fields.map { f =>
    if (!f.metadata.contains("EXISTS_DEFAULT")) null
    else {
      val expr = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(f.metadata.getString("EXISTS_DEFAULT"))
      org.apache.spark.sql.catalyst.expressions.Cast(
        expr, f.dataType, Some("UTC")).eval(null)
    }
  }
  // the column's PHYSICAL name in THIS file — differs from the table
  // name for files written before an ALTER TABLE RENAME COLUMN
  private val physName: Array[String] = required.fields.map(_.name)
  // the column's PHYSICAL primitive type in THIS file — narrower than
  // the table type for files written before an ALTER COLUMN TYPE
  // widening (int->bigint, float->double); get() widens per value
  private val physPrim: Array[org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName] =
    new Array(required.length)
  // a struct column's table-leaf-name -> PHYSICAL leaf name in THIS
  // file (renamed leaves read under their old name in old files);
  // a leaf absent from the map null-fills — nested schema evolution
  private val physLeaf: Array[Map[String, String]] =
    Array.fill(required.length)(Map.empty)

  /** Per-file column resolution, Iceberg's rule re-expressed for this
    * layout: match by NAME (the fast path — untouched columns and files
    * written after the rename); else by the footer's EMBEDDED parquet
    * field id against the table's field id (files this connector wrote
    * carry ids — see GraftDataWriter); else by a recorded former name
    * (files written before ids were embedded), most recent first. A
    * miss on all three = a pre-evolution file for an added column:
    * null-fill. */
  private def resolveField(
      fileSchema: org.apache.parquet.schema.MessageType,
      f: org.apache.spark.sql.types.StructField)
      : Option[org.apache.parquet.schema.Type] = {
    if (fileSchema.containsField(f.name))
      return Some(fileSchema.getFields.get(fileSchema.getFieldIndex(f.name)))
    import scala.jdk.CollectionConverters._
    val byId =
      if (!f.metadata.contains(graft.sources.v2.GraftCatalog.FieldIdKey)) None
      else {
        val id = f.metadata
          .getLong(graft.sources.v2.GraftCatalog.FieldIdKey).toInt
        fileSchema.getFields.asScala.find(t =>
          t.getId != null && t.getId.intValue == id)
      }
    byId.orElse {
      val aliases =
        if (!f.metadata.contains(graft.sources.v2.GraftCatalog.AliasesKey)) Nil
        else f.metadata.getString(graft.sources.v2.GraftCatalog.AliasesKey)
          .split(',').toSeq.filter(_.nonEmpty)
      aliases.collectFirst {
        case a if fileSchema.containsField(a) =>
          fileSchema.getFields.get(fileSchema.getFieldIndex(a))
      }
    }
  }

  // eq-delete key columns must be readable even when the projection
  // doesn't select them — appended to the parquet projection, excluded
  // from the output row
  private val extraKeyCols: Seq[String] =
    (part.eqDeletes.flatMap(_._2) ++
      // variant/geometry SOURCE columns a required _shred_/_geo_ column
      // extracts from: projected like eq keys (read, never output)
      shredOf.toSeq.filter(_ != null).map(_._1) ++
      geoOf.toSeq.filter(_ != null).map(_._1)).distinct
      .filterNot(required.fieldNames.contains)
  // the key's PHYSICAL name in THIS file (pre-rename files carry the
  // old one): table name, else a recorded former name
  private val eqKeyPhys =
    scala.collection.mutable.HashMap.empty[String, String]

  private val reader: ParquetReader[Group] = {
    val conf = new Configuration()
    val hasData = required.fields.zip(isMeta).exists(!_._2) ||
      extraKeyCols.nonEmpty
    if (hasData) {
      // project with the FILE's own field declarations: repetition
      // (required vs optional) and logical annotations must match the
      // footer or parquet's containment check rejects the projection —
      // fixture writers emit required columns for non-nullable frames
      // while the connector's own writer emits optional ones
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      val fileSchema = try r.getFooter.getFileMetaData.getSchema finally r.close()
      val fields = required.fields.zipWithIndex.flatMap { case (f, i) =>
        if (isMeta(i)) None
        else resolveField(fileSchema, f) match {
          case Some(t) =>
            physName(i) = t.getName
            if (t.isPrimitive)
              physPrim(i) = t.asPrimitiveType().getPrimitiveTypeName
            val (pruned, leaves) = GraftPartitionReader.pruneToRequired(t, f)
            physLeaf(i) = leaves
            Some(pruned)
          case None => isAbsent(i) = true; None
        }
      } ++ extraKeyCols.flatMap { c =>
        // resolve the key by table name, else its rename aliases — a
        // tombstone that stopped matching pre-rename files would
        // silently resurrect deleted rows
        val phys =
          if (fileSchema.containsField(c)) Some(c)
          else part.keyAliases.getOrElse(c, Nil)
            .find(fileSchema.containsField)
        phys.map { p =>
          eqKeyPhys(c) = p
          fileSchema.getFields.get(fileSchema.getFieldIndex(p))
        }
      }
      // projected keys read under their already-resolved physical name
      required.fields.zipWithIndex.foreach { case (f, i) =>
        if (part.eqDeletes.exists(_._2.contains(f.name)) && !isMeta(i) &&
            !isAbsent(i))
          eqKeyPhys(f.name) = physName(i)
      }
      if (fields.nonEmpty)
        conf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
          new org.apache.parquet.schema.MessageType("projection",
            fields: _*).toString)
    }
    ParquetReader.builder(new GroupReadSupport(),
      new org.apache.hadoop.fs.Path(path)).withConf(conf).build()
  }

  // each projected column's POSITION in the projected group — the
  // projection MessageType was built in required-field order over the
  // present (non-meta, non-absent) columns, so ranks line up; name-keyed
  // Group getters cost a linear field scan PER VALUE, positional ones
  // don't. Only consulted for columns the projection contains.
  private val projIdx: Array[Int] = {
    val out = Array.fill(required.length)(-1)
    var n = 0
    var i = 0
    while (i < required.length) {
      if (!isMeta(i) && !isAbsent(i)) { out(i) = n; n += 1 }
      i += 1
    }
    out
  }

  private lazy val deadPositions: Set[Long] =
    GraftPartitionReader.positionsFor(path, part.posDeletes)
  private lazy val eqSets: Seq[(Seq[String], Set[Seq[Any]])] =
    GraftPartitionReader.eqTuplesFor(part.eqDeletes)

  private var current: Group = _
  private var rowIdx: Long = -1L

  private def deleted(g: Group): Boolean = {
    if (part.posDeletes.nonEmpty && deadPositions.contains(rowIdx)) return true
    if (part.eqDeletes.isEmpty) return false
    eqSets.exists { case (keys, tuples) =>
      tuples.contains(keys.map(k =>
        GraftPartitionReader.prim(g, eqKeyPhys.getOrElse(k, k))))
    }
  }

  /** Pushed-TABLESAMPLE keep decision: pure hash of (seed, file path,
    * row ordinal) -> uniform in [0, 1) -> compare against the pushed
    * bounds. Ordinal-keyed, so it commutes with tombstone application
    * and never depends on scheduling. */
  private def sampleKeep(): Boolean = sample match {
    case None => true
    case Some((lo, hi, seed)) =>
      var x = scala.util.hashing.MurmurHash3
        .stringHash(path, seed.toInt).toLong * 0x9E3779B97F4A7C15L +
        rowIdx * 0xC2B2AE3D27D4EB4FL + seed
      x ^= (x >>> 33); x *= 0xFF51AFD7ED558CCDL; x ^= (x >>> 33)
      val u = (x >>> 11).toDouble / (1L << 53).toDouble
      lo <= u && u < hi
  }

  override def next(): Boolean = {
    current = reader.read()
    rowIdx += 1
    while (current != null && (deleted(current) || !sampleKeep())) {
      current = reader.read()
      rowIdx += 1
    }
    current != null
  }

  /** One non-null nested value read as field `pn` of `g` — recursive:
    * structs resolve each table leaf by name / embedded field id /
    * rename alias against the group's own type (absent = null-fill,
    * the nested schema-evolution rule), arrays read the standard
    * 3-level LIST, scalars dispatch on the group's physical type
    * (int→long / float→double widening, all four decimal encodings). */
  private def nestedValue(dt: DataType, g: Group, pn: String): Any = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    def phys = g.getType.asGroupType().getType(pn).asPrimitiveType()
      .getPrimitiveTypeName
    dt match {
      case st: StructType =>
        val ng = g.getGroup(pn, 0)
        val ngt = ng.getType.asGroupType()
        val out = new GenericInternalRow(st.length)
        var k = 0
        while (k < st.length) {
          val nf = st.fields(k)
          GraftPartitionReader.resolveLeaf(ngt, nf) match {
            case Some(ft) if ng.getFieldRepetitionCount(ft.getName) != 0 =>
              out.update(k, nestedValue(nf.dataType, ng, ft.getName))
            case _ => out.update(k, null)
          }
          k += 1
        }
        out
      case at: ArrayType => listValue(at, g.getGroup(pn, 0))
      case mt: MapType => mapValue(mt, g.getGroup(pn, 0))
      case _: VariantType => variantValue(g.getGroup(pn, 0))
      case LongType =>
        if (phys == INT32) g.getInteger(pn, 0).toLong else g.getLong(pn, 0)
      case IntegerType => g.getInteger(pn, 0)
      case DoubleType =>
        if (phys == FLOAT) g.getFloat(pn, 0).toDouble else g.getDouble(pn, 0)
      case FloatType => g.getFloat(pn, 0)
      case BooleanType => g.getBoolean(pn, 0)
      case StringType =>
        if (phys == FIXED_LEN_BYTE_ARRAY) // uuid lake column
          UTF8String.fromString(GraftFormatWriters.uuidString(
            g.getBinary(pn, 0).getBytes))
        else UTF8String.fromString(g.getString(pn, 0))
      case DateType => g.getInteger(pn, 0) // epoch days
      case TimestampType => g.getLong(pn, 0) // micros
      case TimestampNTZType => g.getLong(pn, 0) // naive micros
      case _: org.apache.spark.sql.types.TimeType =>
        g.getLong(pn, 0) * 1000L // µs → nanos
      case BinaryType => g.getBinary(pn, 0).getBytes
      case d: DecimalType => phys match {
        case INT32 => org.apache.spark.sql.types.Decimal.createUnsafe(
          g.getInteger(pn, 0).toLong, d.precision, d.scale)
        case INT64 => org.apache.spark.sql.types.Decimal.createUnsafe(
          g.getLong(pn, 0), d.precision, d.scale)
        case _ =>
          val dec = org.apache.spark.sql.types.Decimal(
            new java.math.BigDecimal(new java.math.BigInteger(
              g.getBinary(pn, 0).getBytes), d.scale))
          require(dec.changePrecision(d.precision, d.scale),
            s"graft-iceberg: decimal does not fit ${d.sql}")
          dec
      }
      case other => sys.error(s"graft-iceberg: unsupported nested type $other")
    }
  }

  /** A 3-level LIST group as GenericArrayData (null elements preserved
    * as element-less `list` groups), elements recursive. */
  private def listValue(at: ArrayType,
      lg: Group): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = lg.getFieldRepetitionCount("list")
    val out = new Array[Any](n)
    var k = 0
    while (k < n) {
      val eg = lg.getGroup("list", k)
      out(k) =
        if (eg.getFieldRepetitionCount("element") == 0) null
        else nestedValue(at.elementType, eg, "element")
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** The v3 VARIANT group as Spark's VariantVal. Unshredded files carry
    * the two-binary pair verbatim; SHREDDED files (a `typed_value`
    * group next to the pair — [[VariantShred]]) reassemble losslessly:
    * residual `value` fields merge with the typed subcolumns, all
    * referencing the verbatim metadata dictionary. */
  private def variantValue(vg: Group): org.apache.spark.unsafe.types.VariantVal = {
    val gt = vg.getType.asGroupType()
    val metadata = vg.getBinary("metadata", 0).getBytes
    if (!gt.containsField("typed_value"))
      return new org.apache.spark.unsafe.types.VariantVal(
        vg.getBinary("value", 0).getBytes, metadata)
    val residual =
      if (vg.getFieldRepetitionCount("value") == 0) None
      else Some(vg.getBinary("value", 0).getBytes)
    val typed: Seq[(String, Either[Array[Byte], (Any, org.apache.spark.sql.types.DataType)])] =
      if (vg.getFieldRepetitionCount("typed_value") == 0) Nil
      else {
        val tg = vg.getGroup("typed_value", 0)
        val tgt = tg.getType.asGroupType()
        import scala.jdk.CollectionConverters._
        tgt.getFields.asScala.toSeq.flatMap { ft =>
          val fname = ft.getName
          if (tg.getFieldRepetitionCount(fname) == 0) None
          else {
            val fg = tg.getGroup(fname, 0)
            if (fg.getFieldRepetitionCount("typed_value") != 0) {
              val v: (Any, org.apache.spark.sql.types.DataType) =
                fg.getType.asGroupType().getType("typed_value")
                  .asPrimitiveType().getPrimitiveTypeName match {
                  case org.apache.parquet.schema.PrimitiveType
                      .PrimitiveTypeName.INT64 =>
                    (fg.getLong("typed_value", 0),
                      org.apache.spark.sql.types.LongType)
                  case org.apache.parquet.schema.PrimitiveType
                      .PrimitiveTypeName.DOUBLE =>
                    (fg.getDouble("typed_value", 0),
                      org.apache.spark.sql.types.DoubleType)
                  case _ =>
                    (fg.getString("typed_value", 0),
                      org.apache.spark.sql.types.StringType)
                }
              Some(fname -> Right(v))
            } else if (fg.getFieldRepetitionCount("value") != 0)
              Some(fname -> Left(fg.getBinary("value", 0).getBytes))
            else None // field absent from this row's object
          }
        }
      }
    VariantShred.reassemble(metadata, residual, typed)
  }

  /** A MAP-annotated group (repeated key_value entries, required key,
    * optional value) as ArrayBasedMapData, key/value recursive. */
  private def mapValue(mt: MapType,
      mg: Group): org.apache.spark.sql.catalyst.util.ArrayBasedMapData = {
    val n = mg.getFieldRepetitionCount("key_value")
    val ks = new Array[Any](n)
    val vs = new Array[Any](n)
    var k = 0
    while (k < n) {
      val eg = mg.getGroup("key_value", k)
      ks(k) = nestedValue(mt.keyType, eg, "key")
      vs(k) =
        if (eg.getFieldRepetitionCount("value") == 0) null
        else nestedValue(mt.valueType, eg, "value")
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(ks),
      new org.apache.spark.sql.catalyst.util.GenericArrayData(vs))
  }

  override def get(): InternalRow = {
    val row = new GenericInternalRow(required.length)
    var i = 0
    while (i < required.length) {
      val f = required.fields(i)
      val pi = projIdx(i) // positional access: no per-value name scans
      if (isPos(i)) row.setLong(i, rowIdx) // physical ordinal in file
      else if (isSpecId(i)) row.setInt(i, part.specId)
      else if (isPartMeta(i)) row.update(i,
        new GenericInternalRow(partitionMetaValue.clone()))
      else if (shredOf(i) != null) {
        // variant_get(srcCol, '$.field', type) with try-semantics —
        // the source column rides the projection (selected or extra).
        // FAST PATH: on a shredded file whose typed_value.<field>
        // .typed_value is set, the value sits in its own subcolumn —
        // read it directly instead of reassembling the whole variant;
        // every other shape (unshredded file, value-slice fallback,
        // absent field) reassembles and extracts.
        val (srcCol, field, dt) = shredOf(i)
        val srcName = required.fieldNames.indexOf(srcCol) match {
          case -1 => eqKeyPhys.getOrElse(srcCol, srcCol)
          case j => physName(j)
        }
        val gt = current.getType.asGroupType()
        row.update(i,
          if (!gt.containsField(srcName) ||
              current.getFieldRepetitionCount(srcName) == 0) null
          else {
            val vg = current.getGroup(srcName, 0)
            val vgt = vg.getType.asGroupType()
            val typedDirect: Option[Any] =
              if (!vgt.containsField("typed_value") ||
                  vg.getFieldRepetitionCount("typed_value") == 0) None
              else {
                val tg = vg.getGroup("typed_value", 0)
                val tgt = tg.getType.asGroupType()
                if (!tgt.containsField(field) ||
                    tg.getFieldRepetitionCount(field) == 0) None
                else {
                  val fg = tg.getGroup(field, 0)
                  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
                  // a re-declared path type reads old files' typed
                  // columns at their OLD physical type: fall back
                  lazy val phys = fg.getType.asGroupType()
                    .getType("typed_value").asPrimitiveType()
                    .getPrimitiveTypeName
                  if (fg.getFieldRepetitionCount("typed_value") == 0) None
                  else dt match {
                    case LongType if phys == INT64 =>
                      Some(fg.getLong("typed_value", 0))
                    case DoubleType if phys == DOUBLE =>
                      Some(fg.getDouble("typed_value", 0))
                    case StringType if phys == BINARY =>
                      Some(UTF8String.fromString(
                        fg.getString("typed_value", 0)))
                    case _ => None
                  }
                }
              }
            typedDirect.getOrElse(
              VariantShred.extract(variantValue(vg), field, dt))
          })
      }
      else if (geoOf(i) != null) {
        val (srcCol, edge) = geoOf(i)
        val srcName = required.fieldNames.indexOf(srcCol) match {
          case -1 => eqKeyPhys.getOrElse(srcCol, srcCol)
          case j => physName(j)
        }
        val gt = current.getType.asGroupType()
        row.update(i,
          if (!gt.containsField(srcName) ||
              current.getFieldRepetitionCount(srcName) == 0) null
          else graft.functions.GeoExprs.bboxEdge(
            current.getBinary(srcName, 0).getBytes, edge))
      }
      else if (isMeta(i)) row.update(i, UTF8String.fromString(path))
      else if (isRowId(i)) {
        // materialized non-null value wins; null (or no materialized
        // column) inherits first_row_id + position (spec v3)
        val mat = !isAbsent(i) && current.getFieldRepetitionCount(pi) != 0
        row.update(i,
          if (mat) Long.box(current.getLong(pi, 0))
          else if (part.firstRowId != null)
            Long.box(part.firstRowId.longValue + rowIdx)
          else null)
      } else if (isLastUpd(i)) {
        val mat = !isAbsent(i) && current.getFieldRepetitionCount(pi) != 0
        row.update(i,
          if (mat) Long.box(current.getLong(pi, 0))
          else Long.box(part.dataSeq))
      }
      else if (isAbsent(i)) row.update(i, absentValue(i))
      else if (current.getFieldRepetitionCount(pi) == 0) row.update(i, null)
      else f.dataType match {
        case LongType =>
          // per-value widening for pre-ALTER files whose physical type
          // is still the narrow one (Iceberg's int->long promotion)
          if (physPrim(i) ==
              org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT32)
            row.setLong(i, current.getInteger(pi, 0).toLong)
          else row.setLong(i, current.getLong(pi, 0))
        case IntegerType => row.setInt(i, current.getInteger(pi, 0))
        case DoubleType =>
          if (physPrim(i) ==
              org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.FLOAT)
            row.setDouble(i, current.getFloat(pi, 0).toDouble)
          else row.setDouble(i, current.getDouble(pi, 0))
        case FloatType => row.setFloat(i, current.getFloat(pi, 0))
        case BooleanType => row.setBoolean(i, current.getBoolean(pi, 0))
        case StringType =>
          // uuid lake columns: FIXED_LEN_BYTE_ARRAY(16) decodes to the
          // canonical string (spec uuid encoding)
          if (physPrim(i) ==
              org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
                .FIXED_LEN_BYTE_ARRAY)
            row.update(i, UTF8String.fromString(
              GraftFormatWriters.uuidString(
                current.getBinary(pi, 0).getBytes)))
          else row.update(i, UTF8String.fromString(current.getString(pi, 0)))
        case DateType => row.setInt(i, current.getInteger(pi, 0)) // days
        case TimestampType => row.setLong(i, current.getLong(pi, 0)) // µs
        case TimestampNTZType => row.setLong(i, current.getLong(pi, 0))
        case _: org.apache.spark.sql.types.TimeType => // µs → nanos
          row.setLong(i, current.getLong(pi, 0) * 1000L)
        case BinaryType =>
          row.update(i, current.getBinary(pi, 0).getBytes)
        case d: DecimalType =>
          // physical dispatch: INT32/INT64 unscaled for narrow files,
          // FIXED/BINARY two's-complement bytes for wide (or
          // Spark-written) files — all normalize to the TABLE's
          // declared precision/scale
          import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
          physPrim(i) match {
            case INT32 => row.update(i,
              org.apache.spark.sql.types.Decimal.createUnsafe(
                current.getInteger(pi, 0).toLong, d.precision, d.scale))
            case INT64 => row.update(i,
              org.apache.spark.sql.types.Decimal.createUnsafe(
                current.getLong(pi, 0), d.precision, d.scale))
            case _ =>
              val bytes = current.getBinary(pi, 0).getBytes
              val dec = org.apache.spark.sql.types.Decimal(
                new java.math.BigDecimal(
                  new java.math.BigInteger(bytes), d.scale))
              require(dec.changePrecision(d.precision, d.scale),
                s"graft-iceberg: decimal does not fit ${d.sql}")
              row.update(i, dec)
          }
        case st: StructType =>
          // struct: LEVEL-1 leaves read through their PER-FILE physical
          // name (resolveLeaf once per file: name / embedded id / rename
          // alias — physLeaf); leaves pruned out of the projection,
          // renamed away, or absent from an old file null-fill. Deeper
          // levels recurse via nestedValue (name/id/alias resolved per
          // group).
          val ng = current.getGroup(pi, 0)
          val ngt = ng.getType.asGroupType()
          val leaves = physLeaf(i)
          val out = new GenericInternalRow(st.length)
          var k = 0
          while (k < st.length) {
            val nf = st.fields(k)
            val pn = leaves.getOrElse(nf.name, nf.name)
            if (!ngt.containsField(pn) ||
                ng.getFieldRepetitionCount(pn) == 0) out.update(k, null)
            else out.update(k, nestedValue(nf.dataType, ng, pn))
            k += 1
          }
          row.update(i, out)
        case at: ArrayType =>
          row.update(i, listValue(at, current.getGroup(pi, 0)))
        case mt: MapType =>
          row.update(i, mapValue(mt, current.getGroup(pi, 0)))
        case _: VariantType =>
          row.update(i, variantValue(current.getGroup(pi, 0)))
        case other => sys.error(s"graft-iceberg: unsupported type $other")
      }
      i += 1
    }
    row
  }

  override def close(): Unit = reader.close()
}
