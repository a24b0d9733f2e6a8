package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Merge-on-read delete application — the Iceberg v2 read-path semantics
  * (public spec, "Row-level deletes"): a data row survives a snapshot iff
  * no delete file visible to it marks it deleted, where visibility is
  * sequence-number-based and DIFFERS by delete kind:
  *
  *   - POSITION deletes target a concrete (file_path, pos) and apply to
  *     data sequence numbers <= the delete's sequence number (a position
  *     delete written in the same commit as the data file CAN delete
  *     from it);
  *   - EQUALITY deletes target a key tuple and apply STRICTLY BELOW the
  *     delete's sequence number (an equality delete never deletes rows
  *     committed with it — that asymmetry is the spec's, not ours).
  *
  * Both applications are LEFT ANTI joins with the sequence predicate in
  * the join condition. Delete relations are USUALLY tiny relative to
  * data (they are the tombstones, not the corpus), so the hint gates on
  * the optimizer's size estimate rather than forcing a broadcast: a
  * delete set that outgrows the broadcast budget would OOM the driver if
  * hinted unconditionally, and an unhinted join still lets AQE convert
  * to broadcast at runtime from exact sizes. MorReadSpec pins the two
  * boundary asymmetries (seq ==) on a hand-built fixture; the same spec
  * drives [[readTable]] over a REAL on-disk v2 layout.
  */
object MorRead {

  /** File count under which driver-known per-file maps (sequence
    * numbers, first_row_ids) attach as plan literals instead of
    * broadcast joins — `spark.graft.seqLiteralCap`, default 64. A value
    * that is not an integer fails, naming the key. */
  private def literalCap(spark: SparkSession): Int = {
    val v = spark.conf.get("spark.graft.seqLiteralCap", "64")
    v.trim.toIntOption.getOrElse(throw new IllegalArgumentException(
      s"spark.graft.seqLiteralCap must be an integer file count, got '$v'"))
  }

  /** Driver-side decode of one parquet position-tombstone file (the
    * Group-API twin of [[IcebergLayoutWriter.writePosDeleteParquet]]):
    * (file_path, pos) rows in file order. */
  private[sources] def readPosDeleteParquetLocal(path: String,
      conf: org.apache.hadoop.conf.Configuration): Seq[(String, Long)] = {
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    val out = Seq.newBuilder[(String, Long)]
    val r = ParquetReader
      .builder(new GroupReadSupport(),
        new org.apache.hadoop.fs.Path(path))
      .withConf(conf).build()
    try {
      var g = r.read()
      while (g != null) {
        out += ((g.getString("file_path", 0), g.getLong("pos", 0)))
        g = r.read()
      }
    } finally r.close()
    out.result()
  }

  /** Driver-side decode of one ORC position-tombstone file (the twin of
    * [[IcebergLayoutWriter.writePosDeleteOrc]]). */
  private[sources] def readPosDeleteOrcLocal(path: String,
      conf: org.apache.hadoop.conf.Configuration): Seq[(String, Long)] = {
    import org.apache.hadoop.hive.ql.exec.vector.{BytesColumnVector, LongColumnVector}
    val r = org.apache.orc.OrcFile.createReader(
      new org.apache.hadoop.fs.Path(path),
      org.apache.orc.OrcFile.readerOptions(conf))
    val out = Seq.newBuilder[(String, Long)]
    val rows = r.rows()
    try {
      val names = {
        import scala.jdk.CollectionConverters._
        r.getSchema.getFieldNames.asScala.toIndexedSeq
      }
      val fpIdx = names.indexOf("file_path")
      val posIdx = names.indexOf("pos")
      require(fpIdx >= 0 && posIdx >= 0,
        s"$path is not a position-tombstone ORC file (fields: $names)")
      val batch = r.getSchema.createRowBatch()
      while (rows.nextBatch(batch)) {
        val fp = batch.cols(fpIdx).asInstanceOf[BytesColumnVector]
        val pos = batch.cols(posIdx).asInstanceOf[LongColumnVector]
        var i = 0
        while (i < batch.size) {
          val fi = if (fp.isRepeating) 0 else i
          val pi = if (pos.isRepeating) 0 else i
          out += ((fp.toString(fi), pos.vector(pi)))
          i += 1
        }
      }
    } finally rows.close()
    out.result()
  }

  /** The (target, pos, seq) pairs of a set of position-tombstone FILES
    * decoded on the driver — `Some` only when every file is a local
    * file and their total size fits the manifest readers' byte bound
    * (`IcebergManifestSource.DriverManifestBytes`, 4 MiB); `None` sends
    * the caller down the distributed scan arms. Tombstone files are
    * reject-sized by the delete-commit contract, so on the driver the
    * common MOR read pays no scan job, distinct job or broadcast exchange
    * for KB-sized objects. Target paths are normalized like the
    * distributed arms normalize them. */
  private[sources] def fileTombPairsLocal(spark: SparkSession,
      files: Seq[(String, Long, String)]): Option[Seq[(String, Long, Long)]] = {
    if (files.isEmpty) return Some(Nil)
    val local = files.map { case (p, _, _) => new java.io.File(p) }
    if (!local.forall(_.isFile) ||
        local.map(_.length).sum > IcebergManifestSource.DriverManifestBytes) return None
    val conf = spark.sparkContext.hadoopConfiguration
    Some(files.flatMap { case (p, seq, fmt) =>
      // a tombstone file that cannot be read fails the read, naming the
      // file — a silent fallback would hide corruption behind a slower arm
      val pairs = try fmt match {
        case "PARQUET" => readPosDeleteParquetLocal(p, conf)
        case "ORC" => readPosDeleteOrcLocal(p, conf)
        case "AVRO" => AvroDataRead.readPosDeletes(p)
        case other => sys.error(s"unknown tombstone file format $other")
      } catch {
        case scala.util.control.NonFatal(e) => throw new IllegalStateException(
          s"position-delete file $p ($fmt) could not be read: ${e.getMessage}", e)
      }
      pairs.map { case (t, pos) =>
        (t.replaceFirst("^file:/+", "/"), pos, seq) }
    })
  }

  /** Broadcast only when the optimizer's size estimate fits the session's
    * autoBroadcastJoinThreshold (disabled threshold = never hint). */
  private def maybeBroadcast(df: DataFrame): DataFrame = {
    val thr = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (thr > 0 &&
        df.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(thr)) broadcast(df)
    else df
  }

  /** Position-delete anti join: kills (file_path, pos) rows whose
    * data_seq <= the tombstone's seq. */
  def applyPosDeletes(data: DataFrame, posDeletes: DataFrame): DataFrame =
    data.join(
      maybeBroadcast(posDeletes.select(col("file_path").as("pd_file"),
        col("pos").as("pd_pos"), col("seq").as("pd_seq"))),
      col("file_path") === col("pd_file") && col("pos") === col("pd_pos")
        && col("data_seq") <= col("pd_seq"),
      "left_anti")

  /** Equality-delete anti join: kills rows matching the key tuple with
    * data_seq STRICTLY below the tombstone's seq. Null-SAFE equality:
    * Iceberg equality-delete matching treats null as equal to null (a
    * NULL-keyed tombstone deletes NULL rows). */
  def applyEqDeletes(data: DataFrame, eqDeletes: DataFrame,
      eqKeys: Seq[String]): DataFrame = {
    val ed = eqDeletes.select(
      (col("seq").as("ed_seq") +: eqKeys.map(k => col(k).as(s"ed_$k"))): _*)
    data.join(
      maybeBroadcast(ed),
      eqKeys.map(k => col(k) <=> col(s"ed_$k"))
        .reduce(_ && _) && col("data_seq") < col("ed_seq"),
      "left_anti")
  }

  /** @param data      data rows carrying `file_path`, `pos`, `data_seq`,
    *                   plus payload columns
    * @param posDeletes (file_path, pos, seq) tombstones
    * @param eqDeletes  (seq + the key columns named in `eqKeys`)
    * @return surviving data rows, original schema */
  def applyDeletes(
      data: DataFrame,
      posDeletes: DataFrame,
      eqDeletes: DataFrame,
      eqKeys: Seq[String]): DataFrame = {
    val afterPos = applyPosDeletes(data, posDeletes)
    if (eqKeys.isEmpty) afterPos // no equality-delete key spec: pos-only read
    else applyEqDeletes(afterPos, eqDeletes, eqKeys)
  }

  /** END-TO-END merge-on-read over a real v2 table directory: resolve
    * the current snapshot through [[IcebergManifestSource]], split the
    * manifest entries by content (0=data, 1=position deletes, 2=equality
    * deletes) with their sequence numbers, read the parquet data AND
    * delete files themselves, and apply both delete kinds. One call:
    * `readTable(spark, dir, eqKeys)` → surviving payload rows.
    *
    * Positions come from the parquet reader's own `_metadata.row_index`
    * (the row's ordinal within its file — exactly the spec's `pos`) and
    * file identity from `_metadata.file_path`, normalized against the
    * manifest/tombstone paths (`file:` scheme variants collapse to a
    * bare absolute path). Per-file sequence numbers attach via a
    * broadcast join against the metadata-sized (path, seq) relation —
    * the fact scan itself never shuffles.
    */
  def readTable(spark: SparkSession, tableDir: String,
      eqKeys: Seq[String] = Nil,
      renames: Map[String, Seq[String]] = Map.empty,
      dataSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame =
    readTableLineage(spark, tableDir, eqKeys, renames, dataSchema)
      .drop("file_path", "pos", "data_seq")

  /** [[readTable]] plus the RESOLVED v3 row-lineage values as trailing
    * `_row_id` / `_last_updated_sequence_number` columns: a file's
    * materialized non-null value wins, else `first_row_id + pos` / the
    * file's own sequence number (null row ids for pre-lineage files) —
    * exactly the values the connector's metadata columns serve. The
    * input a lineage-PRESERVING rewrite writes back verbatim, so ids
    * are stable across compaction (spec v3 "Row Lineage"). */
  def readTableRowLineage(spark: SparkSession, tableDir: String,
      eqKeys: Seq[String] = Nil,
      renames: Map[String, Seq[String]] = Map.empty,
      dataSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame =
    resolveRowLineage(spark, tableDir,
      readTableLineage(spark, tableDir, eqKeys, renames, dataSchema,
        withLineage = true))
      .drop("file_path", "pos", "data_seq")

  /** Resolve the v3 lineage VALUES onto a [[readTableLineage]] relation
    * read with `withLineage = true`: `_row_id` / `_last_updated_
    * sequence_number` become the resolved values (materialized non-null
    * wins, else first_row_id + pos / the file's sequence number). The
    * lineage bookkeeping columns (`file_path`/`pos`/`data_seq`) stay —
    * COW rewrites still need them to pick affected files. */
  def resolveRowLineage(spark: SparkSession, tableDir: String,
      lin: DataFrame): DataFrame = {
    def norm(p: String): String = p.replaceFirst("^file:/+", "/")
    // (path → first_row_id) is file-count-sized and driver-known
    val friPairs = IcebergManifestSource
      .statsFromTableDir(spark, tableDir, "t", Nil)
      .filter(col("content") === 0)
      .select(col("file_path"), col("first_row_id"))
      .collect()
      .flatMap(r => Option(r.getAs[java.lang.Long](1))
        .map(v => norm(r.getString(0)) -> v.longValue))
      .toMap
    // same literal-map-below-a-cap / broadcast-join-past-it split as
    // the sequence-number attach (a 100k-entry literal bloats the plan)
    val withFri =
      if (friPairs.isEmpty)
        lin.withColumn("__fri", lit(null).cast("long"))
      else if (friPairs.size <= literalCap(spark))
        lin.withColumn("__fri",
          element_at(typedLit(friPairs), col("file_path")))
      else {
        import spark.implicits._
        lin.join(broadcast(friPairs.toSeq.toDF("__fp", "__fri")),
          col("file_path") === col("__fp"), "left").drop("__fp")
      }
    withFri
      .withColumn(RowIdCol, coalesce(col(RowIdCol), col("__fri") + col("pos")))
      .withColumn(LastUpdCol, coalesce(col(LastUpdCol), col("data_seq")))
      .drop("__fri")
  }

  /** [[readTable]] keeping the row lineage columns (`file_path`, `pos`,
    * `data_seq`) — the input a position-delete WRITER needs: a predicate
    * over this relation yields exactly the (file, pos) tombstones that
    * delete those rows ([[LayoutMaintenance.commitDeleteWhere]]). */
  /** @param renames (current column name -> its FORMER names, most
    *   recent first) for tables that went through ALTER TABLE RENAME
    *   COLUMN: data files written before the rename carry the old
    *   physical name, so the scan reads with schema merging and folds
    *   each name generation into the current column (a file holds
    *   exactly one generation, so the fold is a coalesce). Empty map =
    *   the untouched fast path. */
  /** @param dataSchema the table's DECLARED data schema (no lineage /
    *   metadata columns) when known — catalog tables pass it. With a
    *   declared schema the parquet read binds by name against it and
    *   Spark's reader WIDENS narrow physical types per value (the
    *   int->long / float->double ALTER COLUMN promotions), and rename
    *   aliases read as extra typed columns instead of a schema-merge
    *   pass. Without it, inference (+ mergeSchema when renames exist)
    *   as before. */
  /** @param orcPosPaths normalized paths of ORC data files that must
    *   read WITH row ordinals via [[OrcPosRead]] (a slower scan with no
    *   pushdown) — position-delete WRITERS pass the files whose rows
    *   match their predicate. ORC files that live position tombstones /
    *   deletion vectors target are added automatically: their rows need
    *   real positions for the tombstones to apply. Every other ORC file
    *   keeps Spark's native scan with pos = NULL (a null pos never
    *   equi-matches a tombstone, so the fast path stays sound). */
  /** @param applyEq false skips EQUALITY-tombstone application (position
    *   tombstones still apply) — the input the eq→pos CONVERTER needs:
    *   the rows an eq tombstone currently suppresses, with their
    *   lineage, so it can re-express exactly that suppression as
    *   (file, pos) pairs ([[LayoutMaintenance.convertEqualityDeletes]]).
    *   Readers never pass this. */
  /** The v3 row-lineage metadata column names a lineage-PRESERVING
    * rewrite materializes into its output files. */
  private[sources] val RowIdCol = "_row_id"
  private[sources] val LastUpdCol = "_last_updated_sequence_number"

  /** @param withLineage true surfaces the MATERIALIZED `_row_id` /
    *   `_last_updated_sequence_number` physical columns where files
    *   carry them (null-filled elsewhere) — the input a
    *   lineage-preserving rewrite needs. False (every normal read)
    *   DROPS them from the data relation: they are file-internal
    *   bookkeeping, not table columns. */
  def readTableLineage(spark: SparkSession, tableDir: String,
      eqKeys: Seq[String] = Nil,
      renames: Map[String, Seq[String]] = Map.empty,
      dataSchema: Option[org.apache.spark.sql.types.StructType] = None,
      orcPosPaths: Set[String] = Set.empty,
      applyEq: Boolean = true,
      withLineage: Boolean = false)
      : DataFrame = {
    import spark.implicits._
    def norm(p: String): String = p.replaceFirst("^file:/+", "/")
    // uuid lake columns (graft.lake-type.<col> = uuid): parquet stores
    // the spec's 16 fixed bytes, which Spark's native scan can read
    // only as BINARY — declare them binary and decode post-scan. The
    // decode is VALUE-dispatched: 16 bytes = the fixed encoding (hex
    // into the canonical form); anything else = the UTF-8 bytes of the
    // canonical string (files a maintenance rewrite wrote back as
    // plain strings — readers accept both encodings, so a rewritten
    // uuid table keeps reading right). ORC stores canonical strings,
    // AVRO decodes in its reader, so both no-op here.
    val lakeUuid: Set[String] =
      LayoutMaintenance.tableLakeTypes(spark, tableDir)
        .collect { case (c, "uuid") => c }.toSet
    def uuidDecode(df: DataFrame): DataFrame =
      lakeUuid.foldLeft(df) { (d, c) =>
        if (!d.columns.contains(c) ||
            d.schema(c).dataType != org.apache.spark.sql.types.BinaryType) d
        else {
          val h = lower(hex(col(c)))
          d.withColumn(c, when(col(c).isNull, lit(null))
            .when(length(col(c)) === 16,
              concat(substring(h, 1, 8), lit("-"),
                substring(h, 9, 4), lit("-"), substring(h, 13, 4), lit("-"),
                substring(h, 17, 4), lit("-"), substring(h, 21, 12)))
            .otherwise(col(c).cast("string")))
        }
      }
    // a schema-less read of a uuid- or time-typed table cannot fall
    // back to per-arm native inference (Spark's parquet inference has
    // no FLBA-UUID case; the ORC/AVRO dialects surface time as LONG) —
    // adopt the DECLARED schema: the catalog descriptor's schema-ddl
    // first (authoritative, format-independent), else the connector's
    // own inference off one live data file. Plain tables keep the
    // previous schema-less behavior.
    def hasTimeType(dt: org.apache.spark.sql.types.DataType): Boolean =
      dt match {
        case _: org.apache.spark.sql.types.TimeType => true
        case s: org.apache.spark.sql.types.StructType =>
          s.fields.exists(f => hasTimeType(f.dataType))
        case a: org.apache.spark.sql.types.ArrayType =>
          hasTimeType(a.elementType)
        case m: org.apache.spark.sql.types.MapType =>
          hasTimeType(m.keyType) || hasTimeType(m.valueType)
        case _ => false
      }
    def stripLineage(s: org.apache.spark.sql.types.StructType) =
      org.apache.spark.sql.types.StructType(s.fields.filterNot(f =>
        f.name == RowIdCol || f.name == LastUpdCol))
    // an unreadable descriptor or a schema-ddl that does not parse fails
    // naming the file — never "no declared schema"
    val descriptorSchema: Option[org.apache.spark.sql.types.StructType] = {
      val d = new java.io.File(tableDir, "graft-table.json")
      if (!d.exists()) None
      else Option(IcebergManifestSource.readDocument(d).get("schema-ddl"))
        .map(_.asText()).filter(_.nonEmpty).map { ddl =>
          try org.apache.spark.sql.types.StructType.fromDDL(ddl)
          catch { case scala.util.control.NonFatal(e) =>
            throw new IllegalStateException(
              s"graft-iceberg: table document $d has an unparseable " +
                s"schema-ddl '$ddl': ${e.getMessage}", e) }
        }
    }
    val effectiveDataSchema: Option[org.apache.spark.sql.types.StructType] =
      dataSchema.orElse {
        val declared = descriptorSchema
          .filter(s => lakeUuid.nonEmpty ||
            s.fields.exists(f => hasTimeType(f.dataType)))
        declared.orElse {
          if (lakeUuid.isEmpty) None
          else LayoutMaintenance.currentSnapshot(spark, tableDir)
            .flatMap(id =>
              LayoutMaintenance.firstDataFilePath(spark, tableDir, id))
            .map(p => stripLineage(
              graft.sources.v2.GraftIcebergSource.inferFrom(norm(p))))
        }
      }
    // TIME columns: the ORC/AVRO dialects store micros-from-midnight as
    // LONG — at ANY nesting depth; rebuild the TIME value so every arm
    // unions at the declared type (make_time is exact on whole micros)
    val timeDeclared: Map[String, org.apache.spark.sql.types.DataType] =
      effectiveDataSchema.toSeq.flatMap(_.fields)
        .filter(f => hasTimeType(f.dataType))
        .map(f => f.name -> f.dataType).toMap
    def timeDecode(df: DataFrame): DataFrame = {
      import org.apache.spark.sql.Column
      import org.apache.spark.sql.types._
      def micros(c: Column): Column =
        call_function("make_time",
          (c / lit(3600000000L)).cast(IntegerType),
          ((c / lit(60000000L)).cast(LongType) % lit(60L)).cast(IntegerType),
          (c % lit(60000000L)).cast(DecimalType(14, 0)) / lit(1000000))
      // declared-vs-arrived recursion: a LONG where TIME is declared
      // rebuilds; composites rebuild member-wise (the declared and
      // arrived shapes agree except at TIME leaves)
      def decode(c: Column, dec: DataType, act: DataType): Column =
        (dec, act) match {
          case (_: TimeType, LongType) => micros(c)
          case (ds: StructType, as: StructType) =>
            when(c.isNull, lit(null)).otherwise(struct(
              ds.fields.toSeq.map { nf =>
                val av = as.fields.find(_.name == nf.name)
                  .map(_.dataType).getOrElse(nf.dataType)
                decode(c.getField(nf.name), nf.dataType, av).as(nf.name)
              }: _*))
          case (da: ArrayType, aa: ArrayType) =>
            transform(c, e => decode(e, da.elementType, aa.elementType))
          case (dm: MapType, am: MapType) => map_from_arrays(
            transform(map_keys(c), k => decode(k, dm.keyType, am.keyType)),
            transform(map_values(c),
              v => decode(v, dm.valueType, am.valueType)))
          case _ => c
        }
      timeDeclared.foldLeft(df) { case (d, (c, dec)) =>
        if (!d.columns.contains(c)) d
        else {
          val act = d.schema(c).dataType
          if (act == dec) d
          else d.withColumn(c, decode(d.col(s"`$c`"), dec, act))
        }
      }
    }
    // declared-schema read: current columns at their DECLARED (possibly
    // widened) types, plus one column per recorded FORMER name typed
    // like its current column — a file binds whichever generation it
    // physically has, the others null-fill, and foldAliases collapses
    val readSchema: Option[org.apache.spark.sql.types.StructType] =
      effectiveDataSchema.map { s0 =>
        val s = org.apache.spark.sql.types.StructType(s0.fields.map(f =>
          if (lakeUuid(f.name) &&
              f.dataType == org.apache.spark.sql.types.StringType)
            f.copy(dataType = org.apache.spark.sql.types.BinaryType)
          else f))
        val aliasCols = renames.toSeq.flatMap { case (cur, olds) =>
          s.fields.find(_.name == cur).toSeq.flatMap(f =>
            olds.filterNot(s.fieldNames.contains)
              .map(a => f.copy(name = a)))
        }
        // lineage-preserving rewrites also bind the materialized
        // lineage columns by name — files without them null-fill
        val lineageCols =
          if (!withLineage) Nil
          else Seq(RowIdCol, LastUpdCol).map(n =>
            org.apache.spark.sql.types.StructField(n,
              org.apache.spark.sql.types.LongType))
        org.apache.spark.sql.types.StructType(
          s.fields ++ aliasCols ++ lineageCols)
      }
    def foldAliases(df: DataFrame): DataFrame =
      renames.foldLeft(df) { case (d, (cur, olds)) =>
        val have = d.columns.toSet
        val gens = (cur +: olds).filter(have)
        val away = olds.filter(have)
        if (gens.isEmpty || (gens == Seq(cur))) d
        else d.withColumn(cur,
            if (gens.size == 1) col(gens.head)
            else coalesce(gens.map(col): _*))
          .drop(away.filterNot(_ == cur): _*)
      }
    val normCol = (c: org.apache.spark.sql.Column) =>
      regexp_replace(c, "^file:/+", "/")
    val entries = IcebergManifestSource
      .statsFromTableDir(spark, tableDir, "t", Nil)
      .select(col("file_path"), col("content"), col("sequence_number"),
        col("file_format"))
      .collect() // metadata-sized: one row per FILE
      .map(r => (norm(r.getString(0)), r.getInt(1), r.getLong(2), r.getString(3)))
    val dataFiles = entries.filter(_._2 == 0)
    if (dataFiles.isEmpty) return spark.emptyDataFrame
    val posFiles = entries.filter(_._2 == 1)
    val eqFiles = entries.filter(_._2 == 2)
    val orcPaths = dataFiles.filter(_._4 == "ORC").map(_._1).toSet
    val avroPaths = dataFiles.filter(_._4 == "AVRO").map(_._1).toSet
    // eq keys from METADATA when the caller names none (spec
    // `equality_ids` resolved against the data schema); legacy layouts
    // without ids keep the out-of-band contract: empty keys skip eq
    // application, as before
    val resolvedEqKeys: Seq[String] =
      if (!applyEq || eqKeys.nonEmpty || eqFiles.isEmpty) eqKeys
      else metadataEqKeys(spark, tableDir)

    // (path → seq) is driver-known and file-count-sized. Below the cap it
    // attaches as a LITERAL-MAP lookup — zero joins, zero broadcast
    // exchanges, and (under AQE) several fewer stage re-optimizations per
    // MOR read, which dominates wall time on multi-commit fixtures. Past
    // the cap (the 100k-file shape) a literal map would bloat the plan,
    // so the broadcast join stays. Conf-overridable so the join arm is
    // testable at toy scale (arm parity pinned by MorReadSpec).
    val seqLiteralCap = MorRead.literalCap(spark)
    def attachSeq(df: DataFrame, paths: Array[(String, Int, Long, String)],
        seqName: String, pathOf: org.apache.spark.sql.Column): DataFrame =
      if (paths.length <= seqLiteralCap) {
        val m = paths.map { case (p, _, s, _) => p -> s }.toMap
        df.withColumn(seqName, element_at(typedLit(m), pathOf))
      } else {
        val seqDf = paths.map { case (p, _, s, _) => (p, s) }
          .toSeq.toDF("__fp", seqName)
        df.withColumn("__own", pathOf)
          .join(broadcast(seqDf), col("__own") === col("__fp"))
          .drop("__own", "__fp")
      }
    // materialized lineage columns are FILE-INTERNAL: every normal read
    // drops them (they are not table columns, and schema inference over
    // mixed generations must not surface them nondeterministically); a
    // lineage-preserving rewrite instead normalizes them to present
    def lineageCols(df: DataFrame): DataFrame =
      if (!withLineage) df.drop(RowIdCol, LastUpdCol)
      else Seq(RowIdCol, LastUpdCol).foldLeft(df)((d, n) =>
        if (d.columns.contains(n)) d
        else d.withColumn(n, lit(null).cast("long")))
    def withSeq(paths: Array[(String, Int, Long, String)], seqName: String,
        orc: Boolean = false, declared: Boolean = false): DataFrame = {
      val raw =
        if (orc) spark.read.orc(paths.map(_._1).toIndexedSeq: _*)
        else readSchema match {
          case Some(s) if declared => spark.read.schema(s)
            .parquet(paths.map(_._1).toIndexedSeq: _*)
          case _ if renames.isEmpty && !withLineage =>
            spark.read.parquet(paths.map(_._1).toIndexedSeq: _*)
          // renamed tables (or lineage-carrying rewrites) without a
          // declared schema: merge the name generations into one schema
          // so per-file materialized columns bind deterministically
          case _ => spark.read.option("mergeSchema", "true")
            .parquet(paths.map(_._1).toIndexedSeq: _*)
        }
      attachSeq(lineageCols(foldAliases(timeDecode(uuidDecode(raw)))),
        paths, seqName, normCol(col("_metadata.file_path")))
    }

    // DELETION VECTORS (fileFormat=PUFFIN content=1 entries) decode
    // driver-side into the same (file_path, pos, seq) tombstone relation
    // as parquet pos-delete files — one blob per target, reject-sized by
    // the delete-commit contract — and apply identically downstream.
    // Tombstones resolve BEFORE the data arms: the set of ORC files they
    // target decides which ORC files must read with real row ordinals.
    val (dvFiles, filePosFiles) = posFiles.partition(_._4 == "PUFFIN")
    // position-tombstone FILES may be any of the three spec formats
    // (write.delete.format.default) — each reads with the spec's fixed
    // tombstone schema; puffin entries are deletion vectors
    val parqPosFiles = filePosFiles.filter(_._4 == "PARQUET")
    val orcPosTomb = filePosFiles.filter(_._4 == "ORC")
    val avroPosTomb = filePosFiles.filter(_._4 == "AVRO")
    val dvPairs: Seq[(String, Long, Long)] = dvFiles.toSeq.flatMap {
      case (p, _, seq, _) =>
        DeletionVectors.read(new java.io.File(p)).flatMap {
          case (target, poss) => poss.map(pos => (norm(target), pos, seq))
        }
    }
    val dvTomb: Option[DataFrame] =
      if (dvFiles.isEmpty) None
      else Some(spark.createDataFrame(dvPairs)
        .toDF("file_path", "pos", "seq"))
    // driver tombstone arm: under the byte cap the (target, pos, seq)
    // pairs decode on the driver — the tombstone scan job, the targeted-
    // ORC distinct job, and the broadcast exchange all disappear (the
    // relation below is a LocalRelation). None = distributed arms.
    val localFileTomb: Option[Seq[(String, Long, Long)]] =
      fileTombPairsLocal(spark,
        filePosFiles.toSeq.map(e => (e._1, e._3, e._4)))
    def fileTomb(files: Array[(String, Int, Long, String)],
        read: Seq[String] => DataFrame): Option[DataFrame] =
      if (files.isEmpty) None
      else Some(attachSeq(read(files.map(_._1).toIndexedSeq),
        files, "seq", normCol(col("_metadata.file_path")))
        .select(normCol(col("file_path")).as("file_path"),
          col("pos"), col("seq")))
    // declaring the fixed schema (spec "Position-based delete files")
    // skips the footer-inference pass a schemaless read pays
    lazy val parqTomb = fileTomb(parqPosFiles, ps =>
      spark.read.schema("file_path STRING, pos BIGINT").parquet(ps: _*))
    lazy val orcTomb = fileTomb(orcPosTomb, ps =>
      spark.read.schema("file_path STRING, pos BIGINT").orc(ps: _*))
    lazy val avroTomb: Option[DataFrame] =
      if (avroPosTomb.isEmpty) None
      else { // no avro datasource: one task per tombstone container
        val seqOf = avroPosTomb.map { case (p, _, sq, _) => p -> sq }.toMap
        val n = math.max(1, math.min(avroPosTomb.length,
          spark.sparkContext.defaultParallelism))
        val rows = spark.sparkContext
          .parallelize(avroPosTomb.map(_._1).toIndexedSeq, n)
          .flatMap { p =>
            val sq = seqOf(p)
            AvroDataRead.readPosDeletes(p).map { case (t, pos) =>
              org.apache.spark.sql.Row(
                t.replaceFirst("^file:/+", "/"), pos, sq) }
          }
        Some(spark.createDataFrame(rows, org.apache.spark.sql.types
          .StructType(Seq(
            org.apache.spark.sql.types.StructField("file_path",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("pos",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("seq",
              org.apache.spark.sql.types.LongType)))))
      }
    val tomb: Option[DataFrame] = localFileTomb match {
      case Some(pairs) =>
        val all = dvPairs ++ pairs
        if (all.isEmpty) None
        else Some(spark.createDataFrame(all)
          .toDF("file_path", "pos", "seq"))
      case None =>
        Seq(parqTomb, orcTomb, avroTomb, dvTomb).flatten
          .reduceOption(_ unionByName _)
    }

    // Mixed-format data: parquet files carry their row ordinal natively
    // (`_metadata.row_index` — the spec's `pos`); Spark's ORC reader has
    // no row-index metadata column, so ORC files split two ways:
    //   - files a tombstone targets, or the caller names in
    //     `orcPosPaths` (a delete writer's predicate matches), read via
    //     [[OrcPosRead]] — the ORC reader's own row accounting supplies
    //     the ordinal, stripe-parallel;
    //   - every other ORC file keeps the native codegen'd scan with a
    //     NULL pos (never equi-matches a tombstone — sound and fast).
    val (orcData, nonOrc) = dataFiles.partition(e => orcPaths.contains(e._1))
    // AVRO data files (the spec's third format) always read through
    // [[AvroDataRead]] — strictly sequential container, so every row
    // carries a REAL ordinal for free and tombstones need no routing
    val (avroData, parqData) = nonOrc.partition(e => avroPaths.contains(e._1))
    // DV targets (and driver-decoded file tombstones) are already on the
    // driver — only over-cap file-based tombstones need a (file-count-
    // sized) distinct job, and only when ORC data files exist to route
    val targetedOrc: Set[String] =
      if (orcData.isEmpty) Set.empty
      else {
        val fileTargets: Set[String] = localFileTomb match {
          case Some(pairs) => pairs.iterator.map(_._1).toSet
          case None =>
            Seq(parqTomb, orcTomb, avroTomb).flatten
              .reduceOption(_ unionByName _) match {
              case None => Set.empty[String]
              case Some(tdf) =>
                tdf.select(col("file_path")).distinct()
                  .collect().map(_.getString(0)).toSet
            }
        }
        (dvPairs.iterator.map(_._1).toSet ++ fileTargets).intersect(orcPaths)
      }
    val needPos = (orcPosPaths.map(norm) ++ targetedOrc).intersect(orcPaths)
    val (orcPosData, orcFastData) = orcData.partition(e => needPos(e._1))
    val parq =
      if (parqData.isEmpty) None
      else Some(withSeq(parqData, "data_seq", declared = true)
        .withColumn("file_path", normCol(col("_metadata.file_path")))
        .withColumn("pos", col("_metadata.row_index")))
    val orcFast =
      if (orcFastData.isEmpty) None
      else Some(withSeq(orcFastData, "data_seq", orc = true)
        .withColumn("file_path", normCol(col("_metadata.file_path")))
        .withColumn("pos", lit(null).cast("long")))
    def posArm(files: Array[(String, Int, Long, String)],
        read: Seq[String] => DataFrame): Option[DataFrame] =
      if (files.isEmpty) None
      else Some(attachSeq(
        lineageCols(foldAliases(timeDecode(read(files.map(_._1).toSeq)))),
        files, "data_seq", col("file_path")))
    val orcPos = posArm(orcPosData, OrcPosRead.readWithPos(spark, _))
    val avro = posArm(avroData, AvroDataRead.readWithPos(spark, _))
    val data = Seq(parq, orcFast, orcPos, avro).flatten
      .reduceOption(_ unionByName _)
      .getOrElse(return spark.emptyDataFrame)
    val afterPos = tomb match {
      case None => data
      case Some(t) => applyPosDeletes(data, t)
    }
    if (!applyEq || eqFiles.isEmpty || resolvedEqKeys.isEmpty) afterPos
    else {
      // equality-delete FILES may be any of the three spec formats
      // (write.delete.format.default covers ALL delete files): parquet
      // and ORC ride the native scans, AVRO the container reader
      val parqEq = eqFiles.filter(_._4 == "PARQUET")
      val orcEq = eqFiles.filter(_._4 == "ORC")
      val avroEq = eqFiles.filterNot(e =>
        e._4 == "PARQUET" || e._4 == "ORC")
      val eqRows = Seq(
        if (parqEq.isEmpty) None else Some(withSeq(parqEq, "seq")),
        if (orcEq.isEmpty) None
        else Some(withSeq(orcEq, "seq", orc = true)),
        if (avroEq.isEmpty) None
        // timeDecode/uuidDecode: AVRO surfaces TIME keys as BIGINT
        // micros (and uuid lake keys as binary) — decode to the
        // declared types like the parquet/ORC withSeq arms, or the
        // tombstones never equi-match the decoded data side
        else Some(attachSeq(
          lineageCols(foldAliases(timeDecode(uuidDecode(
            AvroDataRead.readWithPos(spark,
              avroEq.map(_._1).toIndexedSeq).drop("pos"))))),
          avroEq, "seq", col("file_path")).drop("file_path")))
        .flatten.reduce(_ unionByName _)
      applyEqDeletes(afterPos, eqRows, resolvedEqKeys)
    }
  }

  /** Distinct data-file paths the table's live position tombstones —
    * tombstone FILES of any spec format AND deletion vectors — target.
    * Driver-decoded under [[fileTombPairsLocal]]'s byte bound (zero
    * Spark jobs for KB-sized objects); a batched Spark read past it.
    * Paths come back normalized (`file:` scheme stripped). */
  def posTombstoneTargets(spark: SparkSession, tableDir: String): Set[String] = {
    def norm(p: String): String = p.replaceFirst("^file:/+", "/")
    val entries = IcebergManifestSource
      .statsFromTableDir(spark, tableDir, "t", Nil)
      .filter(col("content") === 1)
      .select(col("file_path"), col("sequence_number"), col("file_format"))
      .collect()
      .map(r => (norm(r.getString(0)), r.getLong(1), r.getString(2)))
      .toIndexedSeq
    val (dv, files) = entries.partition(_._3 == "PUFFIN")
    val dvTargets = dv.iterator.flatMap { case (p, _, _) =>
      DeletionVectors.read(new java.io.File(p)).map(t => norm(t._1))
    }.toSet
    val fileTargets: Set[String] = fileTombPairsLocal(spark, files) match {
      case Some(pairs) => pairs.iterator.map(_._1).toSet
      case None =>
        if (files.isEmpty) Set.empty[String]
        else spark.read.schema("file_path STRING, pos BIGINT")
          .parquet(files.map(_._1): _*)
          .select(col("file_path")).distinct()
          .collect().map(r => norm(r.getString(0))).toSet
    }
    dvTargets ++ fileTargets
  }

  /** ORC data files in the current snapshot whose rows MATCH
    * `predicate` — the file set a position-delete writer passes as
    * [[readTableLineage]]'s `orcPosPaths` so exactly those files (and no
    * others) pay the ordinal-carrying scan. Evaluating the predicate
    * over the raw (un-tombstoned) ORC rows is a SUPERSET of matches in
    * the MOR state — tombstones only remove rows — so the set can
    * over-select a file but never miss one. Spark's native ORC scan
    * runs it, so filter pushdown applies and the cost is a filtered
    * pass over the ORC slice only. A predicate that doesn't resolve
    * against the physical ORC schema (renamed/widened columns the fold
    * normally bridges) falls back to ALL ORC files — correct, just not
    * minimal. */
  def orcFilesMatching(spark: SparkSession, tableDir: String,
      predicate: org.apache.spark.sql.Column): Set[String] = {
    def norm(p: String): String = p.replaceFirst("^file:/+", "/")
    val orcPaths = IcebergManifestSource
      .statsFromTableDir(spark, tableDir, "t", Nil)
      .select(col("file_path"), col("content"), col("file_format"))
      .collect() // metadata-sized: one row per FILE
      .filter(r => r.getInt(1) == 0 && r.getString(2) == "ORC")
      .map(r => norm(r.getString(0)))
    if (orcPaths.isEmpty) Set.empty
    else try {
      spark.read.orc(orcPaths.toIndexedSeq: _*)
        .filter(predicate)
        .select(regexp_replace(col("_metadata.file_path"), "^file:/+", "/")
          .as("fp"))
        .distinct().collect().map(_.getString(0)).toSet
    } catch {
      case _: org.apache.spark.sql.AnalysisException => orcPaths.toSet
    }
  }

  /** The equality-delete KEY COLUMN NAMES a table's metadata declares:
    * every live eq-delete entry's spec `equality_ids` (all entries must
    * agree — per-file key sets would need per-file application, refused
    * as Nil), resolved positionally against a live data file's footer
    * schema (the dialect's field-id convention: field id N = Nth
    * column). Nil when the table carries no eq deletes, no ids (legacy
    * out-of-band layouts), or disagreeing id sets. */
  def metadataEqKeys(spark: SparkSession, tableDir: String): Seq[String] = {
    val raw = IcebergManifestSource
      .statsFromTableDir(spark, tableDir, "t", Nil)
      .select(col("file_path"), col("content"), col("equality_ids"),
        col("file_format"))
      .collect()
    val idSets = raw.filter(_.getInt(1) == 2)
      .map(r => Option(r.getAs[scala.collection.Seq[Int]](2))
        .map(_.toSeq).getOrElse(Seq.empty))
      .filter(_.nonEmpty).map(_.toSeq).distinct
    // field names resolve positionally against a live data file's own
    // schema (the dialect's id convention: field id N = Nth column) —
    // any format serves, each read at footer/header grain
    val dataFile = raw.filter(_.getInt(1) == 0)
      .map(r => (r.getString(0).replaceFirst("^file:/+", "/"),
        r.getString(3)))
      .sortBy { case (_, fmt) => if (fmt == "PARQUET") 0 else 1 }
      .headOption
    (idSets, dataFile) match {
      case (Array(ids), Some((p, fmt))) =>
        val names: Seq[String] = fmt match {
          case "PARQUET" =>
            val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(p),
              spark.sparkContext.hadoopConfiguration)
            val rr = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            val fs = try rr.getFooter.getFileMetaData.getSchema
              finally rr.close()
            (0 until fs.getFieldCount).map(fs.getFields.get(_).getName)
          case "ORC" =>
            val r = org.apache.orc.OrcFile.createReader(
              new org.apache.hadoop.fs.Path(p),
              org.apache.orc.OrcFile.readerOptions(
                spark.sparkContext.hadoopConfiguration))
            try {
              import scala.jdk.CollectionConverters._
              r.getSchema.getFieldNames.asScala.toSeq
            } finally r.close()
          case "AVRO" =>
            val r = new org.apache.avro.file.DataFileReader(
              new java.io.File(p),
              new org.apache.avro.generic.GenericDatumReader[
                org.apache.avro.generic.GenericRecord]())
            try {
              import scala.jdk.CollectionConverters._
              r.getSchema.getFields.asScala.toSeq.map(_.name)
            } finally r.close()
          case other => sys.error(
            s"metadataEqKeys($tableDir): unknown data file format $other")
        }
        ids.flatMap { id =>
          if (id >= 1 && id <= names.length) Some(names(id - 1)) else None
        }
      case _ => Nil
    }
  }
}
