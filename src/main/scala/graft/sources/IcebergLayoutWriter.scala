package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.hadoop.conf.Configuration

import org.apache.avro.{Schema, SchemaBuilder}
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

/** Minimal REAL Iceberg v2 table-layout writer: metadata JSON +
  * version-hint + snapshot manifest list + Avro manifests whose
  * data_file records carry the spec's statistics fields (record_count,
  * lower_bounds/upper_bounds as the array<record<key,value>> "logical
  * map" — Avro maps cannot key on int — with single-value little-endian
  * binary bounds, Iceberg spec Appendix D).
  *
  * This is the fixture-side dual of [[IcebergManifestSource]]: what it
  * writes, the source must read back bit-exactly — q151 runs the full
  * loop (stats → layout on disk → manifest scan → decoded bounds →
  * pruning estimate) against the DuckDB oracle, and the MOR fixture
  * composes it with real parquet data/delete files. Data entries and
  * delete entries are written to SEPARATE manifests (data vs delete
  * manifests, as the spec requires), each listed in the manifest list.
  */
object IcebergLayoutWriter {

  /** One manifest entry: `partition` is (name, value) pairs (Int/Long/
    * String/Boolean scalars), `lower`/`upper` are field-id → serialized
    * bound (see [[boundInt]]/[[boundLong]]/[[boundDouble]]/[[boundString]]).
    * `sequenceNumber` may be `null` on an ADDED entry — real v2 writers
    * emit null there and the READER inherits the manifest list's
    * sequence_number (spec "Sequence Number Inheritance"), which
    * [[IcebergManifestSource.readManifestStats]] implements. */
  case class ManifestEntrySpec(status: Int, content: Int, filePath: String,
      partition: Seq[(String, Any)] = Nil, recordCount: Long = 0L,
      sizeBytes: Long = 0L, sequenceNumber: java.lang.Long = 1L,
      lower: Map[Int, Array[Byte]] = Map.empty,
      upper: Map[Int, Array[Byte]] = Map.empty,
      specId: Int = -1, manifestGroup: Int = 0,
      equalityIds: Seq[Int] = Nil,
      fileFormat: String = "PARQUET",
      sortOrderId: Integer = null,
      /** spec fields 109/110/137: per-column value / null-value / NaN
        * counts (field-id keyed; empty = not recorded —
        * readable_metrics then serves null, Iceberg's own convention
        * for absent metrics; NaN counts cover FLOAT/DOUBLE only). */
      valueCounts: Map[Int, Long] = Map.empty,
      nullValueCounts: Map[Int, Long] = Map.empty,
      nanValueCounts: Map[Int, Long] = Map.empty,
      /** spec field 108: per-column on-disk bytes (parquet only). */
      columnSizes: Map[Int, Long] = Map.empty,
      /** v3 row lineage (spec field 142): the row id of this data
        * file's first row — null until the commit sink assigns it from
        * the table's `next-row-id` counter. */
      firstRowId: java.lang.Long = null)

  // ---- Iceberg single-value serialization (spec Appendix D) ----
  def boundInt(v: Int): Array[Byte] =
    ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(v).array()
  def boundLong(v: Long): Array[Byte] =
    ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(v).array()
  def boundDouble(v: Double): Array[Byte] =
    ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putDouble(v).array()
  def boundString(v: String): Array[Byte] = v.getBytes("UTF-8")

  private def partitionSchema(partition: Seq[(String, Any)]): Schema = {
    val b = partition.foldLeft(SchemaBuilder.record("r102").fields()) {
      case (f, (n, _: Int)) => f.requiredInt(n)
      case (f, (n, _: Long)) => f.requiredLong(n)
      case (f, (n, _: Boolean)) => f.requiredBoolean(n)
      case (f, (n, _)) => f.requiredString(n)
    }
    b.endRecord()
  }

  /** One spec "logical map" entry record (array<record<key,value>>):
    * the spec names each map's record after ITS key/value field ids
    * (k117_v118 for column_sizes .. k138_v139 for nan_value_counts) and
    * keys the entry fields with `field-id` properties — an external
    * Iceberg reader resolving the manifest by its canonical schema
    * binds each map by these, so sharing one record name across maps
    * (structurally legal in avro) would misbind them. */
  private def kvEntrySchema(keyId: Int, valueId: Int,
      bytesValue: Boolean): Schema = {
    val f = SchemaBuilder.record(s"k${keyId}_v$valueId").fields()
      .requiredInt("key")
    val s = (if (bytesValue) f.requiredBytes("value")
             else f.requiredLong("value")).endRecord()
    s.getField("key").addProp("field-id", keyId: Integer)
    s.getField("value").addProp("field-id", valueId: Integer)
    s
  }

  /** lower_bounds (125) entries: map<126: int, 127: binary>. */
  private def kvSchema: Schema = kvEntrySchema(126, 127, bytesValue = true)
  /** upper_bounds (128) entries: map<129: int, 130: binary>. */
  private def kvUpperSchema: Schema = kvEntrySchema(129, 130, bytesValue = true)
  /** column_sizes (108) entries: map<117: int, 118: long>. */
  private def kvColSizeSchema: Schema =
    kvEntrySchema(117, 118, bytesValue = false)
  /** value_counts (109) entries: map<119: int, 120: long>. */
  private def kvLongSchema: Schema = kvEntrySchema(119, 120, bytesValue = false)
  /** null_value_counts (110) entries: map<121: int, 122: long>. */
  private def kvNullCountSchema: Schema =
    kvEntrySchema(121, 122, bytesValue = false)
  /** nan_value_counts (137) entries: map<138: int, 139: long>. */
  private def kvNanCountSchema: Schema =
    kvEntrySchema(138, 139, bytesValue = false)

  private def dataFileSchema(pSchema: Schema): Schema =
    SchemaBuilder.record("data_file").fields()
      .requiredInt("content")
      .requiredString("file_path").requiredString("file_format")
      .name("partition").`type`(pSchema).noDefault()
      .requiredLong("record_count").requiredLong("file_size_in_bytes")
      // spec fields 109/110/137/108: per-column value / null-value /
      // NaN counts and on-disk sizes — each map under ITS canonical
      // record name ([[kvEntrySchema]])
      .name("value_counts").`type`().nullable().array()
      .items(kvLongSchema).noDefault()
      .name("null_value_counts").`type`().nullable().array()
      .items(kvNullCountSchema).noDefault()
      .name("nan_value_counts").`type`().nullable().array()
      .items(kvNanCountSchema).noDefault()
      .name("column_sizes").`type`().nullable().array()
      .items(kvColSizeSchema).noDefault()
      .name("lower_bounds").`type`().nullable().array().items(kvSchema).noDefault()
      .name("upper_bounds").`type`().nullable().array().items(kvUpperSchema)
      .noDefault()
      // spec field 135: the field ids an equality-delete file matches on
      // — what lets a reader apply eq-tombstones with NO out-of-band keys
      .name("equality_ids").`type`().nullable().array().items().intType()
      .noDefault()
      // spec field 140: the sort order the file was written under (null =
      // unsorted) — what lets a reader REPORT per-file ordering to the
      // planner and skip sorts downstream
      .name("sort_order_id").`type`().nullable().intType().noDefault()
      // spec field 142 (v3 row lineage): the first row id assigned to
      // this file's rows — _row_id of row at position p reads as
      // first_row_id + p unless the file materializes the column
      .name("first_row_id").`type`().nullable().longType().noDefault()
      .endRecord()

  private def entrySchema(pSchema: Schema): Schema =
    SchemaBuilder.record("manifest_entry").fields()
      .requiredInt("status")
      .name("sequence_number").`type`().nullable().longType().noDefault()
      .name("data_file").`type`(dataFileSchema(pSchema)).noDefault()
      .endRecord()

  private val fieldSummarySchema: Schema =
    SchemaBuilder.record("field_summary").fields()
      .requiredBoolean("contains_null")
      .name("lower_bound").`type`().nullable().bytesType().noDefault()
      .name("upper_bound").`type`().nullable().bytesType().noDefault()
      .endRecord()

  private val listSchema: Schema = SchemaBuilder.record("manifest_file").fields()
    .requiredString("manifest_path").requiredLong("manifest_length")
    .requiredInt("partition_spec_id")
    .requiredInt("content")
    .requiredLong("sequence_number")
    .requiredLong("added_snapshot_id")
    .name("partitions").`type`().nullable().array()
    .items(fieldSummarySchema).noDefault()
    .endRecord()

  private def kvList(schema: Schema, m: Map[Int, Array[Byte]]): java.util.List[GenericRecord] = {
    val out = new java.util.ArrayList[GenericRecord](m.size)
    m.toSeq.sortBy(_._1).foreach { case (k, v) =>
      val r = new GenericData.Record(schema)
      r.put("key", k); r.put("value", ByteBuffer.wrap(v)); out.add(r)
    }
    out
  }

  /** Count maps (value_counts/null_value_counts): null when unrecorded
    * so readers distinguish "no metrics" from "zero". */
  private def kvLongList(schema: Schema,
      m: Map[Int, Long]): java.util.List[GenericRecord] =
    if (m.isEmpty) null
    else {
      val out = new java.util.ArrayList[GenericRecord](m.size)
      m.toSeq.sortBy(_._1).foreach { case (k, v) =>
        val r = new GenericData.Record(schema)
        r.put("key", k); r.put("value", v); out.add(r)
      }
      out
    }

  /** Deterministic total order for a SINGLE-FILE write at one pass over
    * the input: the single-file writers collapse to one partition anyway,
    * so shuffle-to-1 + in-partition sort yields the same file bytes as a
    * global `sort` while skipping the range partitioner's separate
    * SAMPLING SCAN of the input (RangePartitioner.sketch reads the whole
    * frame once just to pick bounds — pure waste when there is exactly
    * one output partition). Callers must pass a key set that totally
    * orders distinct row VALUES (identical rows are interchangeable). */
  def sortedSingle(df: org.apache.spark.sql.DataFrame,
      cols: org.apache.spark.sql.Column*): org.apache.spark.sql.DataFrame =
    df.repartition(1).sortWithinPartitions(cols: _*)

  /** Write `df` as exactly ONE parquet file at `dest` (coalesce + rename
    * of the part file), preserving the frame's row order — the writer for
    * fixture DATA and DELETE files whose row positions must be knowable
    * (`_metadata.row_index` on read == row ordinal here). Returns the row
    * count (read back from the written footer, one metadata-only job). */
  def writeSingleParquet(df: org.apache.spark.sql.DataFrame,
      dest: java.io.File): Long = {
    // driver arm (guide §6: don't launch a job for a driver-sized write):
    // a LIMIT-bounded probe collects the rows in ONE action and the file
    // is encoded on the driver BYTE-IDENTICALLY to the single-task write
    // (same ParquetWriteSupport, same session conf — pinned by
    // SingleFileWriterSpec), skipping the write job's commit protocol,
    // the staging rename, and the footer re-read for the count. Past the
    // cap the cluster arm below is exactly what it was. A single target
    // file is bounded (~1 write task's worth) by this method's contract,
    // so the default cap is sizing discipline, not a semantics change.
    val drvCap =
      try df.sparkSession.conf.get("spark.graft.driverSingleFileRows",
        "4194304").toInt
      catch { case _: NumberFormatException => 4194304 }
    if (drvCap > 0) {
      val probed = org.apache.spark.sql.graftbridge.SingleFileWriter
        .collectUpTo(df, drvCap)
      if (probed.isDefined)
        return org.apache.spark.sql.graftbridge.SingleFileWriter
          .writeRowsParquet(df.sparkSession, df.schema, probed.get, dest)
    }
    val tmp = new java.io.File(dest.getParentFile, dest.getName + ".tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file written under $tmp"))
    java.nio.file.Files.move(part.toPath, dest.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteQuietly(tmp)
    // row count straight from the footer, driver-side — a Spark job per
    // fixture write adds up across the multi-commit queries
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(dest.getAbsolutePath),
      df.sparkSession.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** Driver-side position-tombstone writer: the (file_path, pos) pairs a
    * predicate DELETE commits are ALREADY on the driver (reject-sized by
    * the delete-commit contract — [[LayoutMaintenance.commitDeleteWhere]]
    * collects them to run the ordinal backstop), so routing them back
    * through a Spark job + single-partition shuffle just to emit one
    * KB-sized parquet file pays whole-job overhead per delete commit.
    * parquet-hadoop's Group API writes the spec's fixed tombstone schema
    * ("Position-based delete files": required file_path + pos) directly.
    * Rows land in the given order; returns the row count. */
  def writePosDeleteParquet(dest: java.io.File,
      pairs: Seq[(String, Long)],
      conf: Configuration): Long = {
    import org.apache.parquet.schema.MessageTypeParser
    import org.apache.parquet.example.data.simple.SimpleGroup
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
    val schema = MessageTypeParser.parseMessageType(
      "message pos_delete { required binary file_path (UTF8); required int64 pos; }")
    val c = new Configuration(conf)
    GroupWriteSupport.setSchema(schema, c)
    org.apache.commons.io.FileUtils.deleteQuietly(dest)
    val w = ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(dest.getAbsolutePath), c))
      .withConf(c)
      .withType(schema)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try pairs.foreach { case (p, pos) =>
      val g = new SimpleGroup(schema)
      g.add("file_path", p)
      g.add("pos", pos)
      w.write(g)
    } finally w.close()
    pairs.size.toLong
  }

  /** [[writePosDeleteParquet]]'s ORC twin — the spec's tombstone schema
    * written driver-side as one ORC file (`write.delete.format.default
    * = orc`). Rows land in the given order; returns the row count. */
  def writePosDeleteOrc(dest: java.io.File,
      pairs: Seq[(String, Long)],
      conf: Configuration): Long = {
    import org.apache.orc.{OrcFile, TypeDescription}
    import org.apache.hadoop.hive.ql.exec.vector.{BytesColumnVector, LongColumnVector}
    val td = TypeDescription.fromString("struct<file_path:string,pos:bigint>")
    org.apache.commons.io.FileUtils.deleteQuietly(dest)
    val w = OrcFile.createWriter(
      new org.apache.hadoop.fs.Path(dest.getAbsolutePath),
      OrcFile.writerOptions(conf).setSchema(td).overwrite(true))
    val batch = td.createRowBatch()
    try pairs.foreach { case (p, pos) =>
      val r = batch.size
      val b = p.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      batch.cols(0).asInstanceOf[BytesColumnVector].setVal(r, b, 0, b.length)
      batch.cols(1).asInstanceOf[LongColumnVector].vector(r) = pos
      batch.size += 1
      if (batch.size == batch.getMaxSize) { w.addRowBatch(batch); batch.reset() }
    } finally {
      if (batch.size > 0) w.addRowBatch(batch)
      w.close()
    }
    pairs.size.toLong
  }

  /** [[writePosDeleteParquet]]'s AVRO twin — one avro container of
    * (file_path, pos) records, driver-side (`write.delete.format.default
    * = avro`). Returns the row count. */
  def writePosDeleteAvro(dest: java.io.File,
      pairs: Seq[(String, Long)]): Long = {
    val schema = SchemaBuilder.record("pos_delete").fields()
      .requiredString("file_path").requiredLong("pos").endRecord()
    org.apache.commons.io.FileUtils.deleteQuietly(dest)
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, dest)
    try pairs.foreach { case (p, pos) =>
      val r = new GenericData.Record(schema)
      r.put("file_path", p); r.put("pos", pos)
      w.append(r)
    } finally w.close()
    pairs.size.toLong
  }

  /** [[writeSingleParquet]]'s ORC twin — one deterministic ORC data file
    * at `dest`, row count straight from the ORC tail (no Spark job).
    * Iceberg data files may be PARQUET, ORC, or AVRO per entry
    * (`file_format`); this is the second format the layout supports. */
  /** TIME columns rewritten as the ORC dialect's micros-from-midnight
    * LONG — Spark's native ORC writer rejects TimeType, and the
    * connector's readers rebuild TIME from the long dialect on read
    * (MorRead.timeDecode / the connector scan). */
  def orcWritable(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    def hasTime(dt: DataType): Boolean = dt match {
      case _: TimeType => true
      case s: StructType => s.fields.exists(f => hasTime(f.dataType))
      case a: ArrayType => hasTime(a.elementType)
      case m: MapType => hasTime(m.keyType) || hasTime(m.valueType)
      case _ => false
    }
    def micros(c: Column): Column =
      hour(c).cast("bigint") * lit(3600000000L) +
        minute(c).cast("bigint") * lit(60000000L) +
        (date_part(lit("SECOND"), c) * lit(1000000)).cast("bigint")
    // TIME rewrites to the long dialect at ANY nesting depth — Spark's
    // native ORC writer (the maintenance/compaction path) has no TIME
    // case, so a nested TIME must convert just like a top-level one
    def rewrite(c: Column, dt: DataType): Column = dt match {
      case _: TimeType => micros(c)
      case s: StructType =>
        when(c.isNull, lit(null)).otherwise(struct(s.fields.toSeq.map(f =>
          rewrite(c.getField(f.name), f.dataType).as(f.name)): _*))
      case a: ArrayType => transform(c, e => rewrite(e, a.elementType))
      case m: MapType => map_from_arrays(
        transform(map_keys(c), k => rewrite(k, m.keyType)),
        transform(map_values(c), v => rewrite(v, m.valueType)))
      case _ => c
    }
    df.schema.fields.filter(f => hasTime(f.dataType)).foldLeft(df)((d, f) =>
      d.withColumn(f.name, rewrite(d.col(s"`${f.name}`"), f.dataType)))
  }

  def writeSingleOrc(df: org.apache.spark.sql.DataFrame,
      dest: java.io.File): Long = {
    val writable = orcWritable(df)
    // driver arm (guide §6, the writeSingleParquet discipline): LIMIT-
    // probe collect + Spark's own OrcOutputWriter on the driver —
    // byte-identical to the single-task write (SingleFileWriterSpec),
    // no write job, no staging rename, no ORC-tail re-read for the count
    val drvCap =
      try df.sparkSession.conf.get("spark.graft.driverSingleFileRows",
        "4194304").toInt
      catch { case _: NumberFormatException => 4194304 }
    if (drvCap > 0) {
      val probed = org.apache.spark.sql.graftbridge.SingleFileWriter
        .collectUpTo(writable, drvCap)
      if (probed.isDefined)
        return org.apache.spark.sql.graftbridge.SingleFileWriter
          .writeRowsOrc(df.sparkSession, writable.schema, probed.get, dest)
    }
    val tmp = new java.io.File(dest.getParentFile, dest.getName + ".tmp")
    writable.coalesce(1).write.mode("overwrite").orc(tmp.getPath)
    val part = tmp.listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".orc"))
      .getOrElse(sys.error(s"no part file written under $tmp"))
    java.nio.file.Files.move(part.toPath, dest.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteQuietly(tmp)
    val r = org.apache.orc.OrcFile.createReader(
      new org.apache.hadoop.fs.Path(dest.getAbsolutePath),
      org.apache.orc.OrcFile.readerOptions(
        df.sparkSession.sparkContext.hadoopConfiguration))
    try r.getNumberOfRows finally r.close()
  }

  /** The third-format twin of [[writeSingleParquet]]/[[writeSingleOrc]]:
    * one deterministic AVRO container at `dest` (Iceberg data files may
    * be PARQUET, ORC, or AVRO per entry). Row order is preserved — an
    * avro container is strictly sequential, so the write order IS the
    * row ordinal [[AvroDataRead]] reports. Fixture-shaped like its
    * twins (they coalesce(1) too): rows stream through the driver via
    * `toLocalIterator`, constant memory, one container out. Returns the
    * row count. */
  def writeSingleAvro(df: org.apache.spark.sql.DataFrame,
      dest: java.io.File): Long =
    // coalesce(1) first: toLocalIterator alone runs ONE SEQUENTIAL JOB
    // PER PARTITION (32 round-trips after a shuffle); one partition =
    // one job, order preserved (coalesce concatenates in order)
    writeRowsAvro(dest, df.schema, df.coalesce(1).toLocalIterator())

  /** Stream external `Row`s into ONE avro container at `dest` —
    * the task-side body shared by [[writeSingleAvro]] (driver-fed,
    * fixture grain) and [[writeAvroParts]] (one call per task, the
    * distributed-rewrite grain). Row order is preserved: an avro
    * container is strictly sequential, so write order IS the ordinal
    * [[AvroDataRead]] reports. Returns the row count. */
  private[sources] def writeRowsAvro(dest: java.io.File,
      sparkSchema: org.apache.spark.sql.types.StructType,
      rows: java.util.Iterator[org.apache.spark.sql.Row]): Long = {
    import org.apache.spark.sql.types._
    def avroType(dt: DataType): Schema = dt match {
      case LongType => Schema.create(Schema.Type.LONG)
      case IntegerType => Schema.create(Schema.Type.INT)
      case DoubleType => Schema.create(Schema.Type.DOUBLE)
      case FloatType => Schema.create(Schema.Type.FLOAT)
      case BooleanType => Schema.create(Schema.Type.BOOLEAN)
      case StringType => Schema.create(Schema.Type.STRING)
      case BinaryType => Schema.create(Schema.Type.BYTES)
      case DateType =>
        org.apache.avro.LogicalTypes.date()
          .addToSchema(Schema.create(Schema.Type.INT))
      case TimestampType =>
        org.apache.avro.LogicalTypes.timestampMicros()
          .addToSchema(Schema.create(Schema.Type.LONG))
      // spec `time`: avro time-micros (same dialect as the connector's
      // writer — maintenance rewrites of TIME tables stay spec-encoded)
      case _: TimeType =>
        org.apache.avro.LogicalTypes.timeMicros()
          .addToSchema(Schema.create(Schema.Type.LONG))
      // decimals: bytes-backed to precision 18, the spec's `fixed` of
      // minimum width past it — same dialect as the connector's writer
      case d: DecimalType if d.precision <= 18 =>
        org.apache.avro.LogicalTypes.decimal(d.precision, d.scale)
          .addToSchema(Schema.create(Schema.Type.BYTES))
      case d: DecimalType =>
        org.apache.avro.LogicalTypes.decimal(d.precision, d.scale)
          .addToSchema(Schema.createFixed(
            s"dec_${d.precision}_${d.scale}", null, "graft.data",
            graft.sources.v2.GraftFormatWriters.decimalFixedBytes(d.precision)))
      case other => sys.error(
        s"writeSingleAvro: unsupported column type $other")
    }
    def fieldOf(name: String, dt: DataType): Schema.Field =
      new Schema.Field(name, Schema.createUnion(
        Schema.create(Schema.Type.NULL), dt match {
          // one-level record-in-record (maintenance rewrites of struct
          // tables under write.format.default=avro)
          case st: StructType =>
            Schema.createRecord(s"${name}_r", null, "graft.data", false,
              java.util.Arrays.asList(st.fields.map(nf =>
                fieldOf(nf.name, nf.dataType)): _*))
          case other => avroType(other)
        }), null, Schema.Field.NULL_DEFAULT_VALUE)
    val fields = sparkSchema.fields.map(f => fieldOf(f.name, f.dataType))
    val schema = Schema.createRecord("row", null, "graft.data", false,
      java.util.Arrays.asList(fields: _*))
    org.apache.commons.io.FileUtils.deleteQuietly(dest)
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, dest)
    var n = 0L
    try {
      val sparkFields = sparkSchema.fields
      def branchOf(f: Schema.Field): Schema = {
        val ts = f.schema().getTypes
        (0 until ts.size).map(ts.get)
          .filterNot(_.getType == Schema.Type.NULL).head
      }
      def valueOf(dt: DataType, row: org.apache.spark.sql.Row, i: Int,
          nested: => Schema): AnyRef =
        if (row.isNullAt(i)) null
        else dt match {
          case StringType => row.getString(i)
          case BinaryType =>
            ByteBuffer.wrap(row.getAs[Array[Byte]](i))
          case DateType =>
            Int.box(row.getDate(i).toLocalDate.toEpochDay.toInt)
          case TimestampType =>
            val ts = row.getTimestamp(i)
            Long.box(Math.multiplyExact(ts.getTime / 1000L, 1000000L) +
              ts.getNanos / 1000L)
          case _: TimeType => // external LocalTime → micros of day
            Long.box(
              row.getAs[java.time.LocalTime](i).toNanoOfDay / 1000L)
          case d: DecimalType =>
            val bd = row.getDecimal(i).setScale(d.scale)
            if (d.precision <= 18)
              ByteBuffer.wrap(bd.unscaledValue().toByteArray)
            else new GenericData.Fixed(nested,
              graft.sources.v2.GraftFormatWriters.signExtend(
                bd.unscaledValue(),
                graft.sources.v2.GraftFormatWriters
                  .decimalFixedBytes(d.precision)))
          case st: StructType =>
            val ns = nested
            val sr = row.getStruct(i)
            val out = new GenericData.Record(ns)
            var k = 0
            while (k < st.length) {
              out.put(k, valueOf(st.fields(k).dataType, sr, k,
                branchOf(ns.getFields.get(k))))
              k += 1
            }
            out
          case _ => row.get(i).asInstanceOf[AnyRef]
        }
      rows.forEachRemaining { row =>
        val rec = new GenericData.Record(schema)
        var i = 0
        while (i < sparkFields.length) {
          rec.put(i, valueOf(sparkFields(i).dataType, row, i,
            branchOf(schema.getFields.get(i))))
          i += 1
        }
        w.append(rec)
        n += 1
      }
    } finally w.close()
    n
  }

  /** Format-dispatched single-file data writer: ONE data file at `dest`
    * in the table's normalized `write.format.default` — the writer the
    * maintenance commits (upsert/merge/COW/rewrites) route through so a
    * rewrite of an ORC- or AVRO-default table emits that format instead
    * of silently normalizing to parquet. `dest`'s extension must match
    * (the maintenance caller derives both from the same property).
    * Returns the row count. */
  def writeSingleData(df: org.apache.spark.sql.DataFrame,
      dest: java.io.File, format: String): Long = format match {
    case "orc" => writeSingleOrc(df, dest)
    case "avro" => writeSingleAvro(df, dest)
    case _ => writeSingleParquet(df, dest)
  }

  /** Distributed AVRO part writer — the AVRO arm of the task-parallel
    * rewrite (`rewrite_data_files` with a target size): each input
    * partition writes ONE avro container under `destDir` from its own
    * task (there is no spark-avro datasource on the unmanaged
    * classpath, so the fan-out is explicit), preserving within-file row
    * order. Returns (absolute path, rowCount) per non-empty part,
    * name-sorted — the same contract the parquet part walk yields. */
  def writeAvroParts(df: org.apache.spark.sql.DataFrame,
      destDir: java.io.File): Seq[(String, Long)] = {
    destDir.mkdirs()
    val dir = destDir.getAbsolutePath
    // schema rides the closure as DDL text (StructType is serializable,
    // but the DDL round-trip pins the exact external-type contract
    // writeRowsAvro expects)
    val ddl = df.schema.toDDL
    df.rdd.mapPartitionsWithIndex { (i, rows) =>
      if (!rows.hasNext) Iterator.empty
      else {
        val schema = org.apache.spark.sql.types.StructType.fromDDL(ddl)
        val f = new java.io.File(dir, f"part-$i%05d.avro")
        import scala.jdk.CollectionConverters._
        val n = writeRowsAvro(f, schema, rows.asJava)
        Iterator.single((f.getAbsolutePath, n))
      }
    }.collect().toSeq.sortBy(_._1)
  }

  private def writeAvro(file: java.io.File, schema: Schema,
      records: Seq[GenericRecord]): Unit = {
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, file)
    try records.foreach(w.append) finally w.close()
  }

  /** Carry-commit manifest list: rows of `srcList` whose (relocated)
    * path is in `dropPaths` are retired, every other row is copied
    * VERBATIM (the previous snapshot's manifests are REUSED, never
    * rewritten — with an empty `dropPaths` this is Iceberg's own
    * fast-append shape), and one row per new manifest is appended. The
    * output is written in the SOURCE list's own schema so foreign extra
    * fields survive; the rows this writer adds set the fields this
    * dialect uses. This is the list shape behind every snapshot commit
    * — untouched manifests are referenced by reference, only touched
    * ones get fresh files, and the driver handles a KB-sized list either
    * way. Returns the max sequence_number across the COPIED rows. */
  def filterManifestList(dest: java.io.File, srcList: java.io.File,
      dropPaths: Set[String],
      newManifests: Seq[(java.io.File, Int, Int)], snapshotId: Long): Long = {
    import org.apache.avro.file.DataFileReader
    import org.apache.avro.generic.GenericDatumReader
    val listDir = srcList.getParentFile
    val reader = new DataFileReader[GenericRecord](srcList,
      new GenericDatumReader[GenericRecord]())
    try {
      val schema = reader.getSchema
      Seq("manifest_path", "manifest_length", "partition_spec_id",
        "content", "sequence_number", "added_snapshot_id").foreach(f =>
        require(schema.getField(f) != null,
          s"filterManifestList: $srcList lacks list field '$f'"))
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](schema))
      w.create(schema, dest)
      var maxSeq = 0L
      try {
        while (reader.hasNext) {
          val r = reader.next()
          if (dropPaths.isEmpty || !dropPaths(
              graft.sources.IcebergManifestSource.Relocate
                .meta(listDir, r.get("manifest_path").toString))) {
            r.get("sequence_number") match {
              case l: java.lang.Long => maxSeq = math.max(maxSeq, l)
              case _ => ()
            }
            w.append(r)
          }
        }
        newManifests.foreach { case (f, mContent, specId) =>
          val r = new GenericData.Record(schema)
          r.put("manifest_path", f.getAbsolutePath)
          r.put("manifest_length", f.length())
          r.put("partition_spec_id", specId)
          r.put("content", mContent)
          r.put("sequence_number", snapshotId)
          r.put("added_snapshot_id", snapshotId)
          w.append(r)
        }
      } finally w.close()
      maxSeq
    } finally reader.close()
  }

  /** Copy a manifest list VERBATIM except that every `manifest_path` is
    * made ABSOLUTE (resolved against the source list's own directory) —
    * the list shape a zero-copy BY-REFERENCE clone writes: the clone's
    * snapshot points at the SOURCE's manifest files in place, so
    * relative data paths inside those manifests keep resolving against
    * the source root. Rows (sequence numbers, lengths, summaries)
    * survive untouched — seq-number inheritance replays identically. */
  def copyManifestListAbsolute(dest: java.io.File,
      srcList: java.io.File): Unit = {
    import org.apache.avro.file.DataFileReader
    import org.apache.avro.generic.GenericDatumReader
    val listDir = srcList.getParentFile
    val reader = new DataFileReader[GenericRecord](srcList,
      new GenericDatumReader[GenericRecord]())
    try {
      val schema = reader.getSchema
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](schema))
      w.create(schema, dest)
      try while (reader.hasNext) {
        val r = reader.next()
        r.put("manifest_path", graft.sources.IcebergManifestSource.Relocate
          .meta(listDir, r.get("manifest_path").toString))
        w.append(r)
      } finally w.close()
    } finally reader.close()
  }

  /** One-snapshot table layout whose manifest list is a VERBATIM COPY of
    * `srcList` (paths absolutized) — the by-reference clone's metadata:
    * no manifest is read or written, cost = one KB-sized list copy.
    * `lastSequenceNumber` and `nextRowId` are the SOURCE's counters: the
    * referenced entries may carry sequences above `snapshotId` and row
    * ids up to the source's counter, so the clone's next commit must
    * allocate above both. */
  def writeTableFromList(tableDir: java.io.File, snapshotId: Long,
      srcList: java.io.File,
      partitionSpecs: Seq[Seq[(String, String, Int)]] = Nil,
      sortOrder: Seq[(Int, String, String, String)] = Nil,
      /** stamped `format-version` — a clone passes its SOURCE's version
        * so the referenced layout's feature level carries over. */
      formatVersion: Int = 2,
      lastSequenceNumber: Option[Long] = None,
      nextRowId: Option[Long] = None): Unit = {
    val metaDir = new java.io.File(tableDir, "metadata")
    org.apache.commons.io.FileUtils.deleteQuietly(metaDir)
    require(metaDir.mkdirs(), s"cannot create $metaDir")
    val list = new java.io.File(metaDir, s"snap-$snapshotId-manifest-list.avro")
    copyManifestListAbsolute(list, srcList)
    val lastSeq = (lastSequenceNumber.toSeq :+ snapshotId).max
    val rowIdJson = nextRowId.fold("")(n => s"""  "next-row-id": $n,\n""")
    val specJson =
      if (partitionSpecs.isEmpty) ""
      else {
        var fieldId = 999
        val specObjs = partitionSpecs.zipWithIndex.map { case (fields, specId) =>
          val fs = fields.map { case (name, transform, srcId) =>
            fieldId += 1
            s"""      {"name": "$name", "transform": "$transform", """ +
              s""""source-id": $srcId, "field-id": $fieldId}"""
          }.mkString(",\n")
          s"""    {"spec-id": $specId, "fields": [\n$fs\n    ]}"""
        }.mkString(",\n")
        s""",\n  "default-spec-id": ${partitionSpecs.size - 1},\n  "partition-specs": [\n$specObjs\n  ]"""
      }
    val sortJson =
      if (sortOrder.isEmpty) ""
      else {
        val fs = sortOrder.map { case (srcId, transform, dir, nullOrder) =>
          s"""      {"transform": "$transform", "source-id": $srcId, """ +
            s""""direction": "$dir", "null-order": "$nullOrder"}"""
        }.mkString(",\n")
        s""",\n  "default-sort-order-id": 1,\n  "sort-orders": [\n""" +
          s"""    {"order-id": 1, "fields": [\n$fs\n    ]}\n  ]"""
      }
    val json =
      s"""{
         |  "format-version": $formatVersion,
         |  "current-snapshot-id": $snapshotId,
         |  "last-sequence-number": $lastSeq,
         |$rowIdJson  "snapshots": [
         |    {"snapshot-id": $snapshotId, "timestamp-ms": ${System.currentTimeMillis()}, "manifest-list": "${list.getAbsolutePath}"}
         |  ]$specJson$sortJson
         |}""".stripMargin
    java.nio.file.Files.write(
      new java.io.File(metaDir, "v1.metadata.json").toPath,
      json.getBytes("UTF-8"))
    LayoutMaintenance.writeHintAtomic(metaDir, 1L)
  }

  private def manifestRecords(entries: Seq[ManifestEntrySpec]): (Schema, Seq[GenericRecord]) = {
    val pSchema = partitionSchema(entries.headOption.map(_.partition).getOrElse(Nil))
    val eSchema = entrySchema(pSchema)
    val dfSchema = eSchema.getField("data_file").schema()
    val kv = kvSchema
    val kvU = kvUpperSchema
    val kvl = kvLongSchema
    val kvNull = kvNullCountSchema
    val kvNan = kvNanCountSchema
    val kvSz = kvColSizeSchema
    val recs = entries.map { e =>
      val p = new GenericData.Record(pSchema)
      e.partition.foreach { case (n, v) => p.put(n, v) }
      val df = new GenericData.Record(dfSchema)
      df.put("content", e.content)
      df.put("file_path", e.filePath)
      df.put("file_format", e.fileFormat)
      df.put("partition", p)
      df.put("record_count", e.recordCount)
      df.put("file_size_in_bytes", e.sizeBytes)
      df.put("value_counts", kvLongList(kvl, e.valueCounts))
      df.put("null_value_counts", kvLongList(kvNull, e.nullValueCounts))
      df.put("nan_value_counts", kvLongList(kvNan, e.nanValueCounts))
      df.put("column_sizes", kvLongList(kvSz, e.columnSizes))
      df.put("lower_bounds", kvList(kv, e.lower))
      df.put("upper_bounds", kvList(kvU, e.upper))
      df.put("equality_ids",
        if (e.equalityIds.isEmpty) null
        else {
          val l = new java.util.ArrayList[Integer](e.equalityIds.size)
          e.equalityIds.foreach(i => l.add(Integer.valueOf(i)))
          l
        })
      df.put("sort_order_id", e.sortOrderId)
      df.put("first_row_id", e.firstRowId)
      val r = new GenericData.Record(eSchema)
      r.put("status", e.status)
      r.put("sequence_number", e.sequenceNumber)
      r.put("data_file", df)
      r
    }
    (eSchema, recs)
  }

  /** Write one manifest file from entry specs (all one partition shape). */
  def writeManifest(dest: java.io.File, entries: Seq[ManifestEntrySpec]): Unit = {
    val (schema, recs) = manifestRecords(entries)
    writeAvro(dest, schema, recs)
  }

  /** Write a manifest list referencing `manifests` ((file, content) pairs)
    * for `snapshotId` — shared by the full-layout writers and
    * [[LayoutMaintenance.rewriteManifests]]. The list rows carry the v2
    * `sequence_number` field; in this fixture dialect the snapshot id
    * doubles as the snapshot's sequence number (both are the 1-based
    * commit ordinal), which is what null ADDED-entry sequence numbers
    * inherit on read. Each row also carries `partition_spec_id` (spec
    * "Manifest Lists") — the spec the manifest's partition records were
    * written under, which is how mixed-spec tables (partition evolution)
    * stay interpretable; the 2-tuple overload writes spec 0. */
  def writeManifestList(dest: java.io.File,
      manifests: Seq[(java.io.File, Int)], snapshotId: Long): Unit =
    writeManifestListSpecs(dest, manifests.map { case (f, c) => (f, c, 0) },
      snapshotId)

  def writeManifestListSpecs(dest: java.io.File,
      manifests: Seq[(java.io.File, Int, Int)], snapshotId: Long): Unit =
    writeManifestListFull(dest,
      manifests.map { case (f, c, s) => (f, c, s, None) }, snapshotId)

  /** Appendix-D single-value serialization of a partition value —
    * the byte form `field_summary` bounds carry. */
  private[sources] def serializePartitionValue(v: Any): Array[Byte] = v match {
    case i: Int => ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(i).array()
    case l: Long => boundLong(l)
    case b: Boolean => Array[Byte](if (b) 1 else 0)
    case s => s.toString.getBytes("UTF-8")
  }

  /** Per-field (contains_null, lower, upper) over a manifest's entries —
    * the manifest-list partition summary a planner prunes on (spec
    * "Manifest Lists": field_summary). Field order = the entries'
    * partition record order; null partition values are not modeled by
    * the fixture writer, so contains_null is always false. */
  private def summarize(entries: Seq[ManifestEntrySpec]): Option[Seq[(Boolean, Array[Byte], Array[Byte])]] =
    entries.headOption.filter(_.partition.nonEmpty).map { head =>
      head.partition.indices.map { i =>
        val vs = entries.map(_.partition(i)._2)
        val (lo, hi) = vs.head match {
          case _: Int =>
            val xs = vs.map(_.asInstanceOf[Int]); (xs.min: Any, xs.max: Any)
          case _: Long =>
            val xs = vs.map(_.asInstanceOf[Long]); (xs.min: Any, xs.max: Any)
          case _: Boolean =>
            val xs = vs.map(_.asInstanceOf[Boolean]); (xs.min: Any, xs.max: Any)
          case _ =>
            val xs = vs.map(_.toString); (xs.min: Any, xs.max: Any)
        }
        (false, serializePartitionValue(lo), serializePartitionValue(hi))
      }
    }

  private def writeManifestListFull(dest: java.io.File,
      manifests: Seq[(java.io.File, Int, Int, Option[Seq[(Boolean, Array[Byte], Array[Byte])]])],
      snapshotId: Long): Unit =
    writeAvro(dest, listSchema, manifests.map { case (f, mContent, specId, sums) =>
      val r = new GenericData.Record(listSchema)
      r.put("manifest_path", f.getAbsolutePath)
      r.put("manifest_length", f.length())
      r.put("partition_spec_id", specId)
      r.put("content", mContent)
      r.put("sequence_number", snapshotId)
      r.put("added_snapshot_id", snapshotId)
      r.put("partitions", sums.map { ss =>
        val out = new java.util.ArrayList[GenericRecord](ss.size)
        ss.foreach { case (cn, lo, hi) =>
          val fr = new GenericData.Record(fieldSummarySchema)
          fr.put("contains_null", cn)
          fr.put("lower_bound", ByteBuffer.wrap(lo))
          fr.put("upper_bound", ByteBuffer.wrap(hi))
          out.add(fr)
        }
        out
      }.orNull)
      r
    })

  /** Write a complete one-snapshot table layout under `tableDir`:
    * `metadata/v1.metadata.json`, `metadata/version-hint.text`, the
    * manifest list, and one manifest per (data, deletes) entry group.
    * Re-runnable: the METADATA directory is wiped first (data files
    * referenced by the entries may live under the same table dir and
    * must survive the rewrite). */
  def writeTable(tableDir: java.io.File, entries: Seq[ManifestEntrySpec],
      snapshotId: Long = 1L,
      partitionSpec: Seq[(String, String, Int)] = Nil,
      sortOrder: Seq[(Int, String, String, String)] = Nil,
      assignRowIds: Boolean = true,
      formatVersion: Int = 2): Unit =
    writeTableSnapshots(tableDir, Seq(snapshotId -> entries),
      partitionSpec = partitionSpec, sortOrder = sortOrder,
      assignRowIds = assignRowIds, formatVersion = formatVersion)

  /** Multi-snapshot layout (the time-travel surface): every snapshot's
    * manifest list + manifests are written, the metadata JSON lists them
    * all, and `current-snapshot-id` is the LAST one — reading any older
    * snapshot id resolves its own manifest list, exactly like Iceberg's
    * `VERSION AS OF`. `refs` adds named branches/tags
    * (name → (snapshotId, "branch"|"tag")) in the spec's `refs` map —
    * resolvable via [[IcebergManifestSource.refSnapshotId]]. */
  /** `partitionSpec` declares the table's partition transforms as
    * (field-name, transform, source-id) — e.g. ("ts_day", "day", 2) or
    * ("id_bucket", "bucket[4]", 1) — written to the metadata JSON's
    * `partition-specs` (spec-id 0, field-ids from 1000) exactly as the
    * Iceberg spec lays them out, so [[IcebergManifestSource.partitionSpec]]
    * (and any real reader) can interpret the manifest partition values.
    * The VALUES in each entry's `partition` must already be transformed
    * ([[PartitionTransforms]]); manifests store results, not sources. */
  /** `sortOrder` declares the table's write order as (source-id,
    * transform, direction, null-order) rows — metadata `sort-orders`
    * (order-id 1), the spec's "Sort Orders" section. Readers use it to
    * know data files are clustered (e.g. a z-order write registers
    * itself here); empty means unsorted (order-id 0 by convention). */
  def writeTableSnapshots(tableDir: java.io.File,
      snapshots: Seq[(Long, Seq[ManifestEntrySpec])],
      refs: Map[String, (Long, String)] = Map.empty,
      partitionSpec: Seq[(String, String, Int)] = Nil,
      partitionSpecs: Seq[Seq[(String, String, Int)]] = Nil,
      sortOrder: Seq[(Int, String, String, String)] = Nil,
      /** false = simulate a PRE-LINEAGE (v2-era) layout: no
        * first_row_id on entries, no next-row-id in the metadata —
        * `_row_id` then reads null until a lineage-assigning commit
        * touches the rows (the spec's upgrade rule, pinned by
        * RowLineageSpec). */
      assignRowIds: Boolean = true,
      /** declared `format-version` floor — raised to 3 automatically
        * when the layout carries v3 constructs (row lineage here). */
      formatVersion: Int = 2): Unit = {
    require(snapshots.nonEmpty, "at least one snapshot")
    // one spec (the common case) or a full evolution history: specs is
    // indexed by spec-id; entries choose theirs via ManifestEntrySpec.specId
    val specs: Seq[Seq[(String, String, Int)]] =
      if (partitionSpecs.nonEmpty) partitionSpecs
      else if (partitionSpec.nonEmpty) Seq(partitionSpec) else Nil
    val metaDir = new java.io.File(tableDir, "metadata")
    org.apache.commons.io.FileUtils.deleteQuietly(metaDir)
    require(metaDir.mkdirs(), s"cannot create $metaDir")
    // v3 row lineage: assign first_row_id to every unstamped data entry
    // across the history, in snapshot order — the same counter the
    // maintenance commits continue from (`next-row-id` below)
    var rowIdCounter = 0L
    val lineageSnapshots =
      if (!assignRowIds) snapshots
      else snapshots.map { case (snapshotId, entries) =>
        snapshotId -> entries.map { e =>
          if (e.content == 0 && e.firstRowId == null) {
            val s = e.copy(firstRowId = Long.box(rowIdCounter))
            rowIdCounter += e.recordCount
            s
          } else e
        }
      }
    val lists = lineageSnapshots.map { case (snapshotId, entries) =>
      // a manifest holds files of ONE content class written under ONE
      // spec (spec: manifests are homogeneous in partition shape);
      // manifestGroup further splits data manifests the way real append
      // streams do (one manifest per commit), giving the manifest-list
      // partition summaries something to prune
      // specId < 0 is the UNSET sentinel (distinct from a genuine spec
      // 0, so spec-aware carries are never mis-stamped); at WRITE time
      // unset means the table's one-and-only spec 0
      val groups = entries
        .groupBy(e =>
          (if (e.content == 0) 0 else 1, math.max(e.specId, 0),
            e.manifestGroup))
        .toSeq.sortBy(_._1)
      val manifestFiles = groups.map { case ((mContent, specId, grp), group) =>
        val f = new java.io.File(metaDir,
          s"manifest-$snapshotId-$mContent-s$specId-g$grp.avro")
        val (schema, recs) = manifestRecords(group)
        writeAvro(f, schema, recs)
        (f, mContent, specId, summarize(group))
      }
      val list = new java.io.File(metaDir, s"snap-$snapshotId-manifest-list.avro")
      writeManifestListFull(list, manifestFiles, snapshotId)
      (snapshotId, list)
    }
    // timestamp-ms per snapshot (spec "Snapshots"): commit wall-clock,
    // strictly increasing across the batch so TIMESTAMP AS OF resolves
    // deterministically even when several snapshots land in one tick
    val t0 = System.currentTimeMillis()
    val snapJson = lists.zipWithIndex.map { case ((id, list), i) =>
      s"""    {"snapshot-id": $id, "timestamp-ms": ${t0 + i}, """ +
        s""""manifest-list": "${list.getAbsolutePath}"}"""
    }.mkString(",\n")
    val refsJson =
      if (refs.isEmpty) ""
      else refs.toSeq.sortBy(_._1).map { case (name, (id, kind)) =>
        s"""    "$name": {"snapshot-id": $id, "type": "$kind"}"""
      }.mkString(",\n  \"refs\": {\n", ",\n", "\n  }")
    val specJson =
      if (specs.isEmpty) ""
      else {
        // field-ids are assigned once across the whole history (1000 +
        // running index) — evolution never reuses a field-id (spec rule)
        var fieldId = 999
        val specObjs = specs.zipWithIndex.map { case (fields, specId) =>
          val fs = fields.map { case (name, transform, srcId) =>
            fieldId += 1
            s"""      {"name": "$name", "transform": "$transform", """ +
              s""""source-id": $srcId, "field-id": $fieldId}"""
          }.mkString(",\n")
          s"""    {"spec-id": $specId, "fields": [\n$fs\n    ]}"""
        }.mkString(",\n")
        s""",\n  "default-spec-id": ${specs.size - 1},\n  "partition-specs": [\n$specObjs\n  ]"""
      }
    val sortJson =
      if (sortOrder.isEmpty) ""
      else {
        val fs = sortOrder.map { case (srcId, transform, dir, nullOrder) =>
          s"""      {"transform": "$transform", "source-id": $srcId, """ +
            s""""direction": "$dir", "null-order": "$nullOrder"}"""
        }.mkString(",\n")
        s""",\n  "default-sort-order-id": 1,\n  "sort-orders": [\n""" +
          s"""    {"order-id": 1, "fields": [\n$fs\n    ]}\n  ]"""
      }
    val rowIdJson =
      if (assignRowIds) s"""  "next-row-id": $rowIdCounter,\n""" else ""
    // spec `last-sequence-number`: entries may carry an explicit sequence
    // above their snapshot's id (a MOR fixture's seq-2 tombstones under
    // snapshot 1); commits allocate above it without walking entries
    val lastSeq = snapshots.flatMap { case (id, es) =>
      id +: es.flatMap(e => Option(e.sequenceNumber).map(_.longValue)) }.max
    // format-version fidelity: row lineage (first_row_id entries +
    // the next-row-id counter) is a v3-only construct — a layout that
    // assigns it must say 3; pre-lineage layouts honor the declared
    // version (2 unless the caller raised it)
    val effectiveFormatVersion =
      if (assignRowIds) math.max(formatVersion, 3) else formatVersion
    val json =
      s"""{
         |  "format-version": $effectiveFormatVersion,
         |  "current-snapshot-id": ${snapshots.last._1},
         |  "last-sequence-number": $lastSeq,
         |$rowIdJson  "snapshots": [
         |$snapJson
         |  ]$refsJson$specJson$sortJson
         |}""".stripMargin
    java.nio.file.Files.write(new java.io.File(metaDir, "v1.metadata.json").toPath,
      json.getBytes("UTF-8"))
    LayoutMaintenance.writeHintAtomic(metaDir, 1L)
  }
}
