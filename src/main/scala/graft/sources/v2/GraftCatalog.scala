package graft.sources.v2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.IcebergManifestSource

/** A DataSourceV2 `TableCatalog` over a warehouse directory of graft
  * layout tables — the reference's actual entry flow (catalog → dotted
  * name → table handle, `/root/reference/icebergdiag/diagnostics/
  * manager.py:39-49,150-152`) expressed the Spark-native way:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft",
  *     "graft.sources.v2.GraftCatalog")
  *   spark.conf.set("spark.sql.catalog.graft.warehouse", "/data/wh")
  *   spark.sql("CREATE NAMESPACE graft.db")
  *   spark.sql("CREATE TABLE graft.db.t (k BIGINT, v STRING) USING graft-iceberg")
  *   spark.sql("INSERT INTO graft.db.t SELECT ...")
  *   spark.sql("SELECT v, count(*) FROM graft.db.t GROUP BY v")
  * }}}
  *
  * Layout on disk mirrors the identifiers: namespace `a.b` is
  * `warehouse/a/b/`, table `a.b.t` is the layout dir `warehouse/a/b/t/`
  * (`metadata/` + `data/`, the [[graft.sources.IcebergLayoutWriter]]
  * dialect). A `CREATE TABLE` writes only a small `graft-table.json`
  * descriptor (schema DDL + properties — the analog of a catalog
  * entry); the table's real metadata is born at the first INSERT
  * ([[graft.sources.LayoutMaintenance.commitAppend]] creates snapshot
  * 1), so an empty created table scans as zero partitions, not an
  * error. `option`-style table properties (e.g. `pushdown.fields` for
  * manifest-bound file skipping) persist in the descriptor and apply
  * to every identifier-addressed read.
  *
  * At 100 TB nothing here is data-sized: list/create/drop/rename are
  * directory operations, loadTable reads one small JSON, and all data
  * I/O flows through the same [[GraftTable]] scan/write paths the
  * path-addressed `format("graft-iceberg")` API uses.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog with ViewCatalog with StagingTableCatalog {

  private var catalogName: String = _
  private var warehouse: java.io.File = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val wh = Option(options.get("warehouse")).getOrElse(sys.error(
      s"graft catalog '$name': set spark.sql.catalog.$name.warehouse"))
    warehouse = new java.io.File(wh)
    warehouse.mkdirs()
  }

  override def name(): String = catalogName

  /** DEFAULT clauses accepted in DDL (Iceberg v3 "Default values"):
    * Spark fills the CURRENT default into INSERTs that omit the column;
    * the INITIAL default (fixed at ADD COLUMN, never changed) is what
    * pre-evolution files' rows read as — applied per file by the
    * connector reader, metadata-only like every other evolution here. */
  override def capabilities(): java.util.Set[TableCatalogCapability] =
    java.util.EnumSet.of(TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  // ---- path mapping ----

  private def nsDir(ns: Array[String]): java.io.File =
    ns.foldLeft(warehouse)((d, p) => new java.io.File(d, p))

  private def tableDir(ident: Identifier): java.io.File =
    new java.io.File(nsDir(ident.namespace), ident.name)

  private def descriptor(dir: java.io.File): java.io.File =
    new java.io.File(dir, "graft-table.json")

  /** Absolute dir of an EXISTING table — the resolution the ref-DDL
    * commands share with the procedures' `resolve`. */
  private[v2] def existingTableDir(ident: Identifier): String = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    dir.getAbsolutePath
  }

  /** A dir is a table iff it has the catalog descriptor OR real layout
    * metadata (so externally-written layouts surface too). */
  private def isTable(dir: java.io.File): Boolean =
    descriptor(dir).exists() ||
      graft.sources.IcebergManifestSource.hasMetadata(dir.getPath)

  private def isNamespace(dir: java.io.File): Boolean =
    dir.isDirectory && !isTable(dir)

  // ---- TableCatalog ----

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val d = nsDir(namespace)
    if (!isNamespace(d)) throw new NoSuchNamespaceException(
      catalogName +: namespace.toSeq)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(isTable).map(_.getName).sorted
      .map(n => Identifier.of(namespace, n))
  }

  override def loadTable(ident: Identifier): Table = {
    // metadata tables, Iceberg-style: `cat.db.t.snapshots` parses as
    // Identifier(namespace=[db, t], name="snapshots") — when [db, t]
    // names a real table and the trailing name is a metadata-table
    // kind, serve that table's metadata relation instead of failing
    if (!isTable(tableDir(ident)) && ident.namespace.nonEmpty &&
        GraftMetaTable.Kinds(ident.name)) {
      val parent = Identifier.of(
        ident.namespace.dropRight(1), ident.namespace.last)
      val pdir = tableDir(parent)
      if (isTable(pdir))
        return new GraftMetaTable(pdir.getAbsolutePath, ident.name)
    }
    loadTableAt(ident, snapshot = None)
  }

  /** SQL time travel `VERSION AS OF <snapshot-id | 'ref-name'>` — a
    * numeric version pins the snapshot directly (the same resolution as
    * the path-addressed `option("snapshot-id", …)` read); a non-numeric
    * one resolves through the table's named refs (branch/tag reads,
    * Iceberg's `VERSION AS OF 'audit-branch'` idiom). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val snapId =
      try version.toLong
      catch {
        case _: NumberFormatException =>
          val dir = tableDir(ident)
          if (!isTable(dir)) throw new NoSuchTableException(ident)
          val spark = org.apache.spark.sql.SparkSession.active
          graft.sources.LayoutMaintenance
            .refList(spark, dir.getAbsolutePath)
            .collectFirst { case (name, id, _) if name == version => id }
            .getOrElse(sys.error(
              s"graft catalog: VERSION AS OF '$version' names neither a " +
                s"snapshot id nor a ref of $ident"))
      }
    loadTableAt(ident, snapshot = Some(snapId))
  }

  /** SQL time travel `TIMESTAMP AS OF <ts>` — Spark hands the instant in
    * MICROseconds; resolve to the last snapshot committed at or before
    * it (`timestamp-ms` in the metadata, Iceberg's own resolution). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val spark = org.apache.spark.sql.SparkSession.active
    val tsMs = timestamp / 1000L
    val snapId = graft.sources.LayoutMaintenance
      .snapshotIdAsOf(spark, dir.getAbsolutePath, tsMs)
      .getOrElse(sys.error(
        s"graft catalog: no snapshot of $ident at or before " +
          s"timestamp ${tsMs}ms"))
    loadTableAt(ident, snapshot = Some(snapId))
  }

  private def loadTableAt(ident: Identifier,
      snapshot: Option[Long]): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val (bootstrapRaw, props, partSpec, columnIds, _, _) = readDescriptor(dir)
    // field ids + rename aliases ride the schema's field METADATA into
    // every consumer: the scan (per-file name/id/alias resolution), the
    // writer (ids embedded into new parquet files), and the row-level
    // paths (alias-aware MOR reads)
    val bootstrap = bootstrapRaw.map(GraftCatalog.annotate(_, columnIds))
    val statFields = props.get("pushdown.fields").toSeq
      .flatMap(_.split(',')).filter(_.nonEmpty).map { s =>
        s.split(':') match {
          case Array(n, id, t) => GraftIcebergSource.StatField(n, id.toInt,
            t match {
              case "long" => org.apache.spark.sql.types.LongType
              case "double" => org.apache.spark.sql.types.DoubleType
              case "string" => org.apache.spark.sql.types.StringType
              case other => sys.error(s"graft catalog: unsupported stats type $other")
            })
          case _ => sys.error(s"graft catalog: bad pushdown.fields entry '$s'")
        }
      }
    val sortCols = props.get("write.sort-order").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    new GraftTable(dir.getAbsolutePath, snapshot, statFields,
      bootstrapSchema = bootstrap, sortCols = sortCols,
      declaredPartSpec = partSpec,
      writeBranch = props.get("write.branch"),
      deleteMode = props.get("write.delete.mode"),
      deleteFormat = props.get("write.delete.format"),
      updateMode = props.get("write.update.mode"),
      mergeMode = props.get("write.merge.mode"),
      wapEnabled = props.get("write.wap.enabled").contains("true"),
      writeFormatDefault = props.get("write.format.default"),
      deleteGranularity = props.get("write.delete.granularity"),
      identifierCols = props.get("identifier.columns").toSeq
        .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty),
      tableProps = props)
  }

  /** `PARTITIONED BY (col | bucket(n, col) | days(col) | …)` — each
    * transform becomes a layout partition-spec field whose source id is
    * the column's 1-based schema position (the dialect's field-id
    * convention, same as `pushdown.fields`). The spec lands in the
    * descriptor at CREATE and in the table metadata at first INSERT;
    * the write path clusters rows by the sources and records partition
    * values per file, so transform pruning and storage-partitioned
    * joins work on the result with no extra setup. */
  private def toSpecEntry(t: Transform,
      schema: StructType): (String, String, String) = {
    import org.apache.spark.sql.connector.expressions.{Literal, NamedReference}
    val srcs = t.references().flatMap(_.fieldNames())
    require(srcs.length == 1,
      s"graft catalog: partition transform $t must have one source column")
    val src = srcs.head
    require(schema.fieldNames.contains(src),
      s"graft catalog: partition source $src is not a table column")
    def intArg: Int = t.arguments().collectFirst {
      case l: Literal[_] => l.value() match {
        case i: java.lang.Integer => i.intValue
        case l2: java.lang.Long => l2.intValue
        case other => sys.error(s"graft catalog: bad transform argument $other")
      }
    }.getOrElse(sys.error(s"graft catalog: $t needs a numeric argument"))
    t.name() match {
      case "identity" => (src, "identity", src)
      case "days" | "day" => (s"${src}_day", "day", src)
      case "hours" | "hour" => (s"${src}_hour", "hour", src)
      case "months" | "month" => (s"${src}_month", "month", src)
      case "years" | "year" => (s"${src}_year", "year", src)
      case "bucket" => (s"${src}_bucket", s"bucket[$intArg]", src)
      case "truncate" => (s"${src}_trunc", s"truncate[$intArg]", src)
      case other => sys.error(
        s"graft catalog: unsupported partition transform $other")
    }
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val dir = tableDir(ident)
    if (isTable(dir)) throw new TableAlreadyExistsException(ident)
    // a VIEW of this name would shadow the table (view substitution
    // resolves first) — refuse instead of creating an unreachable table
    require(!viewExists(ident),
      s"graft catalog: a VIEW named $ident already exists")
    if (!isNamespace(nsDir(ident.namespace)))
      throw new NoSuchNamespaceException(catalogName +: ident.namespace.toSeq)
    // format-version is a REAL property (Iceberg's per-version feature
    // gates): only 2 or 3, and an explicitly-v2 table refuses v3-only
    // constructs from birth — VARIANT columns here; row lineage and
    // deletion vectors refuse at their commit sites
    Option(properties.get("format-version")).foreach { v =>
      require(v == "2" || v == "3",
        s"graft catalog: format-version must be 2 or 3, got '$v'")
      if (v == "2")
        schema.fields.foreach(f => require(
          !GraftCatalog.hasVariant(f.dataType),
          s"graft catalog: column ${f.name} is VARIANT, a format-version-3 " +
            "type — declare format-version 3 (or omit the property)"))
    }
    dir.mkdirs()
    writeDescriptor(dir, schema,
      properties.asScala.toMap.filter { case (k, _) =>
        !Set(TableCatalog.PROP_LOCATION, TableCatalog.PROP_OWNER)(k)
      },
      partitions.map(t => toSpecEntry(t, schema)).toSeq,
      // field ids are born with the table: 1-based schema position (the
      // layout's positional convention), fixed for the column's lifetime;
      // DEFAULT clauses arrive as Spark's CURRENT_DEFAULT/EXISTS_DEFAULT
      // field-metadata keys on this (schema-shaped) createTable path.
      // STRUCT leaves get ids at birth too (allocated after the
      // top-level block, field order) — what lets files embed leaf ids
      // and nested readable_metrics key by leaf id from the first write.
      {
        var next = schema.length
        schema.fields.zipWithIndex.map { case (f, i) =>
          val kids = f.dataType match {
            case st: StructType => st.fields.toSeq.map { nf =>
              next += 1; GraftCatalog.ColumnId(nf.name, next)
            }
            case _ => Nil
          }
          GraftCatalog.ColumnId(f.name, i + 1,
            currentDefault = GraftCatalog.metaStr(f, "CURRENT_DEFAULT"),
            initialDefault = GraftCatalog.metaStr(f, "EXISTS_DEFAULT"),
            fields = kids)
        }.toSeq
      })
    loadTable(ident)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val (bootstrap, props, partSpecRead, idsRead, lastIdRead,
      retiredRead) = readDescriptor(dir)
    // Descriptor-less external layouts evolve from their ACTUAL current
    // schema (file inference), not from empty — else the first ADD
    // COLUMN would write a one-column descriptor that, being non-empty,
    // outranks inference and severs every pre-existing column.
    var schema = bootstrap.getOrElse(
      new GraftTable(dir.getAbsolutePath, None, Nil).schema)
    // tables predating column-ids bootstrap them positionally from the
    // CURRENT schema on first ALTER — the dialect's id convention
    var ids: Seq[GraftCatalog.ColumnId] =
      if (idsRead.nonEmpty) idsRead
      else schema.fields.zipWithIndex.map { case (f, i) =>
        GraftCatalog.ColumnId(f.name, i + 1) }.toSeq
    // monotonic field-id allocator (Iceberg's last-column-id): never
    // hands out a retired id, even after DROP of the highest column;
    // nested leaf ids draw from the same space
    var lastId = math.max(lastIdRead,
      (ids.map(_.id) ++ ids.flatMap(_.fields).map(_.id))
        .maxOption.getOrElse(0))
    var retired = retiredRead
    var partSpec = partSpecRead
    // ---- nested (one level) evolution helpers: the dialect's struct
    // depth is one, so a two-part field name addresses a struct leaf
    def structOf(parent: String): StructType =
      schema.fields.find(_.name == parent) match {
        case Some(f) => f.dataType match {
          case st: StructType => st
          case other => sys.error(
            s"graft catalog: $parent is ${other.sql}, not a struct — " +
              "nested ALTER addresses struct leaves")
        }
        case None => sys.error(s"graft catalog: no column $parent")
      }
    def updateStruct(parent: String)(fn: StructType => StructType): Unit =
      schema = StructType(schema.fields.map(f =>
        if (f.name == parent)
          f.copy(dataType = fn(f.dataType.asInstanceOf[StructType]))
        else f))
    // first nested evolution on a struct BOOTSTRAPS its leaf identities:
    // existing leaves get fresh never-used ids in field order (old files
    // carry no embedded leaf ids — they resolve by name/alias; files
    // written from here on embed the ids)
    def withKids(parent: String)(
        fn: Seq[GraftCatalog.ColumnId] => Seq[GraftCatalog.ColumnId]): Unit =
      ids = ids.map { cid =>
        if (cid.name != parent) cid
        else {
          val kids0 =
            if (cid.fields.nonEmpty) cid.fields
            else structOf(parent).fields.toSeq.map { nf =>
              lastId += 1; GraftCatalog.ColumnId(nf.name, lastId) }
          cid.copy(fields = fn(kids0))
        }
      }
    val newProps = changes.foldLeft(props) {
      // format-version: validated, and the UPGRADE (2 -> 3) is
      // irreversible per the spec — a downgrade on a table whose
      // metadata is stamped 3 (or that declared 3) refuses
      case (p, c: TableChange.SetProperty)
          if c.property() == "format-version" =>
        val v = c.value()
        require(v == "2" || v == "3",
          s"graft catalog: format-version must be 2 or 3, got '$v'")
        if (v == "2") {
          val stamped = graft.sources.LayoutMaintenance.tableFormatVersion(
            org.apache.spark.sql.SparkSession.active, dir.getAbsolutePath)
          require(stamped < 3 && !p.get("format-version").contains("3"),
            "graft catalog: format-version downgrade 3 -> 2 is not " +
              "allowed (the spec's upgrade is one-way)")
          schema.fields.foreach(f => require(
            !GraftCatalog.hasVariant(f.dataType),
            s"graft catalog: column ${f.name} is VARIANT, a " +
              "format-version-3 type — the table cannot declare 2"))
        }
        p + (c.property() -> v)
      case (p, c: TableChange.SetProperty) => p + (c.property() -> c.value())
      case (p, c: TableChange.RemoveProperty) => p - c.property()
      // Schema evolution, Iceberg-style: ADD appends a nullable column
      // with a FRESH field id (never reused — spec "Schema Evolution");
      // DROP narrows the declared schema (old files keep the physical
      // column, reads just stop projecting it); RENAME is metadata-only:
      // the field id survives, the old name becomes an alias, and reads
      // resolve old files by embedded id or recorded alias — no file is
      // ever rewritten.
      case (p, c: TableChange.AddColumn) if c.fieldNames().length == 2 =>
        // ADD a struct leaf: metadata-only — old files null-fill the
        // new leaf through the per-file nested projection
        val Array(parent, leaf) = c.fieldNames()
        val st = structOf(parent)
        require(!st.fieldNames.contains(leaf),
          s"graft catalog: $parent.$leaf already exists")
        require(!c.dataType().isInstanceOf[StructType],
          "graft catalog: struct nesting is one level")
        require(c.defaultValue() == null,
          "graft catalog: DEFAULT on nested fields is not supported")
        require(!retired.contains(s"$parent.$leaf"),
          s"graft catalog: '$parent.$leaf' was dropped; re-adding it " +
            "would read the dropped leaf's data back. " +
            "rewrite_data_files first.")
        withKids(parent) { kids =>
          val shadowed = kids.filter(_.aliases.contains(leaf)).map(_.name)
          require(shadowed.isEmpty,
            s"graft catalog: '$leaf' is a former name of " +
              s"$parent.${shadowed.mkString(", ")}; re-adding it would " +
              "capture pre-rename files' data. rewrite_data_files first.")
          lastId += 1
          kids :+ GraftCatalog.ColumnId(leaf, lastId)
        }
        updateStruct(parent)(s => StructType(s.fields :+
          org.apache.spark.sql.types.StructField(leaf, c.dataType(),
            nullable = true)))
        p
      case (p, c: TableChange.AddColumn) =>
        require(c.fieldNames().length == 1,
          "graft catalog: ADD COLUMN supports one nesting level " +
            "(column or struct.leaf)")
        val name = c.fieldNames()(0)
        require(!schema.fieldNames.contains(name),
          s"graft catalog: column $name already exists")
        // a FORMER name of a renamed column still binds old files' data
        // to that column; a new column wearing it would capture their
        // rows by name — refuse (Iceberg re-adds under a new id; this
        // dialect's alias reads cannot distinguish the generations)
        val shadowed = ids.filter(_.aliases.contains(name)).map(_.name)
        require(shadowed.isEmpty,
          s"graft catalog: '$name' is a former name of column " +
            s"${shadowed.mkString(", ")}; re-adding it would capture " +
            "pre-rename files' data. rewrite_data_files first.")
        // a DROPPED name binds old files' data the same way (per-file
        // resolution is name-first; the never-reused id only protects
        // the embedded-id path) — refuse re-adding it too
        require(!retired.contains(name),
          s"graft catalog: '$name' was dropped; re-adding it would read " +
            "the dropped column's data back. rewrite_data_files first.")
        // VARIANT is a v3-only type: an explicitly-v2 table refuses it
        require(!(GraftCatalog.hasVariant(c.dataType()) &&
            p.get("format-version").contains("2")),
          s"graft catalog: $name is VARIANT, a format-version-3 type — " +
            "upgrade with ALTER TABLE ... SET TBLPROPERTIES " +
            "('format-version' = '3') first")
        schema = schema.add(org.apache.spark.sql.types.StructField(
          name, c.dataType(), nullable = true))
        // DEFAULT on ADD COLUMN (Iceberg v3): the INITIAL default is
        // fixed here forever — rows in files that predate the column
        // read it back (per-file fill, zero rewrites); the CURRENT
        // default seeds from it and may move later via SET DEFAULT
        val dflt = Option(c.defaultValue()).map(_.getSql)
        lastId += 1
        ids = ids :+ GraftCatalog.ColumnId(name, lastId,
          currentDefault = dflt, initialDefault = dflt)
        p
      case (p, c: TableChange.DeleteColumn) if c.fieldNames().length == 2 =>
        // DROP a struct leaf: the declared schema narrows; old files
        // keep the physical leaf, reads just stop projecting it
        val Array(parent, leaf) = c.fieldNames()
        require(structOf(parent).fieldNames.contains(leaf),
          s"graft catalog: no field $parent.$leaf to drop")
        ids.find(_.name == parent).foreach(cid =>
          cid.fields.find(_.name == leaf).foreach(k =>
            retired = (retired :+ s"$parent.$leaf") ++
              k.aliases.map(a => s"$parent.$a")))
        retired = (retired :+ s"$parent.$leaf").distinct
        withKids(parent)(_.filterNot(_.name == leaf))
        updateStruct(parent)(s =>
          StructType(s.fields.filterNot(_.name == leaf)))
        p
      case (p, c: TableChange.DeleteColumn) =>
        require(c.fieldNames().length == 1,
          "graft catalog: DROP COLUMN supports one nesting level " +
            "(column or struct.leaf)")
        require(schema.fieldNames.contains(c.fieldNames()(0)),
          s"graft catalog: no column ${c.fieldNames()(0)} to drop")
        schema = StructType(schema.fields.filterNot(
          _.name == c.fieldNames()(0)))
        // retire the name AND its aliases: any of them still binds old
        // files' data by name
        ids.find(_.name == c.fieldNames()(0)).foreach(cid =>
          retired = (retired :+ cid.name) ++ cid.aliases)
        ids = ids.filterNot(_.name == c.fieldNames()(0))
        p
      case (p, c: TableChange.UpdateColumnType) =>
        require(c.fieldNames().length == 1,
          "graft catalog: ALTER COLUMN TYPE supports top-level columns only")
        val name = c.fieldNames()(0)
        val cur = schema.fields.find(_.name == name).getOrElse(sys.error(
          s"graft catalog: no column $name to alter"))
        // Iceberg's safe type promotions ONLY (spec "Schema Evolution"):
        // int -> long, float -> double. Old files keep their narrow
        // physical type; readers widen per value — never a rewrite.
        val ok = (cur.dataType, c.newDataType()) match {
          case (org.apache.spark.sql.types.IntegerType,
            org.apache.spark.sql.types.LongType) => true
          case (org.apache.spark.sql.types.FloatType,
            org.apache.spark.sql.types.DoubleType) => true
          case (a, b) => a == b
        }
        require(ok,
          s"graft catalog: cannot alter $name from ${cur.dataType.sql} to " +
            s"${c.newDataType().sql} — only widening promotions " +
            "(INT->BIGINT, FLOAT->DOUBLE) are metadata-only safe")
        schema = StructType(schema.fields.map(f =>
          if (f.name == name) f.copy(dataType = c.newDataType()) else f))
        p
      case (p, c: TableChange.RenameColumn) if c.fieldNames().length == 2 =>
        // RENAME a struct leaf: the leaf id survives, the old name
        // becomes an alias — reads resolve old files' leaves by embedded
        // id or recorded alias, no file is rewritten
        val Array(parent, from) = c.fieldNames(); val to = c.newName()
        val st = structOf(parent)
        require(st.fieldNames.contains(from),
          s"graft catalog: no field $parent.$from to rename")
        require(!st.fieldNames.contains(to),
          s"graft catalog: field $parent.$to already exists")
        require(!retired.contains(s"$parent.$to"),
          s"graft catalog: '$parent.$to' was dropped; renaming onto it " +
            "would read the dropped leaf's data back")
        withKids(parent)(_.map(k =>
          if (k.name == from) k.copy(name = to, aliases = from +: k.aliases)
          else k))
        updateStruct(parent)(s => StructType(s.fields.map(nf =>
          if (nf.name == from) nf.copy(name = to) else nf)))
        p
      case (p, c: TableChange.RenameColumn) =>
        require(c.fieldNames().length == 1,
          "graft catalog: RENAME COLUMN supports one nesting level " +
            "(column or struct.leaf)")
        val from = c.fieldNames()(0); val to = c.newName()
        require(schema.fieldNames.contains(from),
          s"graft catalog: no column $from to rename")
        require(!schema.fieldNames.contains(to),
          s"graft catalog: column $to already exists")
        require(!retired.contains(to),
          s"graft catalog: '$to' was dropped; renaming onto it would " +
            "read the dropped column's data back")
        schema = StructType(schema.fields.map(f =>
          if (f.name == from) f.copy(name = to) else f))
        ids = ids.map(cid =>
          if (cid.name == from)
            cid.copy(name = to, aliases = from +: cid.aliases)
          else cid)
        // a partition spec sourcing the renamed column follows it
        partSpec = partSpec.map { case (pf, tr, src) =>
          (pf, tr, if (src == from) to else src) }
        p
      case (p, c: TableChange.UpdateColumnDefaultValue) =>
        require(c.fieldNames().length == 1,
          "graft catalog: SET DEFAULT supports top-level columns only")
        val name = c.fieldNames()(0)
        require(schema.fieldNames.contains(name),
          s"graft catalog: no column $name to alter")
        // WRITE default only — the initial default is immutable (it
        // defines what already-written files mean; moving it would
        // rewrite history without rewriting a byte)
        val nd = Option(c.newCurrentDefault()).map(_.getSql)
        ids = ids.map(cid =>
          if (cid.name == name) cid.copy(currentDefault = nd) else cid)
        p
      case (_, other) => sys.error(
        s"graft catalog: unsupported ALTER TABLE change $other " +
          "(SET/UNSET TBLPROPERTIES, ADD/DROP/RENAME COLUMN)")
    }
    writeDescriptor(dir, schema, newProps, partSpec, ids, lastId,
      retired.distinct)
    // the UPGRADE takes effect NOW as one metadata-only commit (spec
    // v2 -> v3 upgrade), not lazily at the next data commit
    if (newProps.get("format-version").contains("3") &&
        !props.get("format-version").contains("3"))
      graft.sources.LayoutMaintenance.upgradeFormatVersion(
        org.apache.spark.sql.SparkSession.active, dir.getAbsolutePath, 3)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (!isTable(dir)) false
    else org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  override def renameTable(old: Identifier, toRaw: Identifier): Unit = {
    // Spark hands RENAME TO's target verbatim, catalog prefix included
    // (`RENAME TO cat.ns.t2` arrives with namespace [cat, ns]) — strip it
    val to =
      if (toRaw.namespace.headOption.contains(catalogName))
        Identifier.of(toRaw.namespace.drop(1), toRaw.name)
      else toRaw
    val from = tableDir(old)
    if (!isTable(from)) throw new NoSuchTableException(old)
    val dest = tableDir(to)
    if (isTable(dest)) throw new TableAlreadyExistsException(to)
    // The layout's metadata paths re-root after a move (Relocate in
    // IcebergManifestSource), but POSITION-delete files reference data
    // files by absolute path in their CONTENTS — a moved table with live
    // tombstones would silently resurrect deleted rows. Refuse, like
    // Iceberg's own moved-table caveat; rewrite_data_files first.
    if (graft.sources.IcebergManifestSource.hasMetadata(from.getPath)) {
      val spark = org.apache.spark.sql.SparkSession.active
      val hasDeletes = graft.sources.IcebergManifestSource
        .statsFromTableDir(spark, from.getPath, "t", Nil)
        .filter(org.apache.spark.sql.functions.col("content") =!= 0)
        .limit(1).count() > 0
      require(!hasDeletes,
        s"graft catalog: $old carries live delete files whose contents " +
          "reference absolute paths; run rewrite_data_files before RENAME")
    }
    require(from.renameTo(dest),
      s"graft catalog: rename $old -> $to failed on disk")
  }

  // ---- ProcedureCatalog ----

  /** Maintenance procedures live in the reserved `system` namespace,
    * Iceberg's own convention: `CALL <cat>.system.<proc>(table => 'db.t',
    * ...)`. The `table` argument is a catalog-relative dotted identifier
    * resolved against this catalog's warehouse (same mapping as
    * loadTable); procedures delegate to the executed
    * [[graft.sources.LayoutMaintenance]] commits. */
  private lazy val procedures
      : Map[String, org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure] =
    GraftProcedures.all(
      resolve = { tableName =>
        val parts = tableName.split('.').toSeq.filter(_.nonEmpty)
        require(parts.nonEmpty,
          s"graft catalog: empty table identifier in procedure call")
        val ident = Identifier.of(parts.init.toArray, parts.last)
        val dir = tableDir(ident)
        if (!isTable(dir)) throw new NoSuchTableException(ident)
        dir.getAbsolutePath
      },
      resolveNew = { tableName =>
        val parts = tableName.split('.').toSeq.filter(_.nonEmpty)
        require(parts.nonEmpty,
          s"graft catalog: empty table identifier in procedure call")
        val ident = Identifier.of(parts.init.toArray, parts.last)
        require(isNamespace(nsDir(ident.namespace)),
          s"graft catalog: namespace ${ident.namespace.mkString(".")} " +
            "does not exist")
        val dir = tableDir(ident)
        if (isTable(dir)) throw new TableAlreadyExistsException(ident)
        dir.mkdirs()
        dir.getAbsolutePath
      })

  /** Unknown procedure / wrong namespace surface as ROUTINE_NOT_FOUND
    * AnalysisExceptions (Spark 4 has no dedicated no-such-procedure
    * type) — the analyzer reports an unresolved-routine error instead of
    * an opaque IllegalArgument/RuntimeException, and a multi-catalog
    * resolution fallback can treat it as a clean miss. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    def notFound(): Nothing =
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "ROUTINE_NOT_FOUND",
        messageParameters = Map("routineName" ->
          (s"`$catalogName`." + (ident.namespace :+ ident.name)
            .map(p => s"`$p`").mkString("."))))
    if (!ident.namespace.sameElements(Array("system"))) notFound()
    procedures.getOrElse(ident.name, notFound())
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (!namespace.sameElements(Array("system"))) Array.empty
    else procedures.keys.toSeq.sorted
      .map(n => Identifier.of(Array("system"), n)).toArray

  // ---- StagingTableCatalog: atomic CTAS / RTAS ----
  //
  // Spark routes CREATE TABLE AS SELECT and (CREATE OR) REPLACE TABLE
  // AS SELECT through here when the catalog stages: the query writes
  // into the staged table FIRST, and only commitStagedChanges makes
  // anything visible — a failed query leaves no half-created table and
  // no half-replaced one. REPLACE is Iceberg's: the table's SNAPSHOT
  // HISTORY survives — the commit is one group-replace snapshot (every
  // pre-replace file out, the staged files in, tombstones dropped), so
  // `VERSION AS OF` still reaches pre-replace states.

  override def stageCreate(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo): StagedTable =
    stage(ident, info, replaceAllowed = false, createAllowed = true)

  override def stageReplace(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo): StagedTable =
    stage(ident, info, replaceAllowed = true, createAllowed = false)

  override def stageCreateOrReplace(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo): StagedTable =
    stage(ident, info, replaceAllowed = true, createAllowed = true)

  private def stage(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo,
      replaceAllowed: Boolean, createAllowed: Boolean): StagedTable = {
    val dir = tableDir(ident)
    val exists = isTable(dir)
    if (exists && !replaceAllowed) throw new TableAlreadyExistsException(ident)
    if (!exists && !createAllowed) throw new NoSuchTableException(ident)
    require(!viewExists(ident),
      s"graft catalog: a VIEW named $ident already exists")
    if (!isNamespace(nsDir(ident.namespace)))
      throw new NoSuchNamespaceException(catalogName +: ident.namespace.toSeq)
    val schema = info.schema()
    val partSpec = info.partitions().map(t => toSpecEntry(t, schema)).toSeq
    val props = info.properties().asScala.toMap.filter { case (k, _) =>
      !Set(TableCatalog.PROP_LOCATION, TableCatalog.PROP_OWNER)(k) }
    // the same format-version gates the plain createTable applies
    props.get("format-version").foreach { v =>
      require(v == "2" || v == "3",
        s"graft catalog: format-version must be 2 or 3, got '$v'")
      if (v == "2")
        schema.fields.foreach(f => require(
          !GraftCatalog.hasVariant(f.dataType),
          s"graft catalog: column ${f.name} is VARIANT, a format-version-3 " +
            "type — declare format-version 3 (or omit the property)"))
    }
    // RTAS re-creation continues the prior generation's field-id
    // counter: the replaced files stay reachable via time travel, and a
    // reused id would let a pre-replace file's column read back as an
    // unrelated post-replace column through the per-file id fallback.
    // Fresh ids (priorLast+1..) can never collide with any embedded id.
    val priorLast = if (exists) readDescriptor(dir)._5 else 0
    // struct leaves get ids at birth, same as plain createTable
    var next = priorLast + schema.length
    val ids = schema.fields.zipWithIndex.map { case (f, i) =>
      val kids = f.dataType match {
        case st: StructType => st.fields.toSeq.map { nf =>
          next += 1; GraftCatalog.ColumnId(nf.name, next)
        }
        case _ => Nil
      }
      GraftCatalog.ColumnId(f.name, priorLast + i + 1,
        currentDefault = GraftCatalog.metaStr(f, "CURRENT_DEFAULT"),
        initialDefault = GraftCatalog.metaStr(f, "EXISTS_DEFAULT"),
        fields = kids) }.toSeq
    new GraftStagedTable(ident, dir, schema, partSpec, props, ids,
      existedBefore = exists, writeDesc =
        () => writeDescriptor(dir, schema, props, partSpec, ids,
          lastColumnId = next))
  }

  // ---- ViewCatalog ----
  //
  // SQL views over the warehouse, Iceberg-view shaped (public view spec:
  // a view is VERSIONED METADATA holding SQL representations — no data):
  // one `<name>.view.json` per view next to the table dirs, carrying the
  // full VERSION HISTORY ({version-id, timestamp-ms, sql}, the current id),
  // the schema recorded at definition time, column aliases/comments, and
  // properties. Spark 4's ViewCatalog SPI has no built-in SQL wiring —
  // [[GraftViewRules]] (injected via [[graft.GraftExtensions]]) routes
  // CREATE/DROP/SHOW/ALTER VIEW and substitutes view reads with the
  // parsed stored SQL, so the optimizer sees straight through a view to
  // the underlying table scans (pushdown, pruning, SPJ all apply).
  // Nothing here is data-sized: every operation is one small JSON.

  private def viewFile(ident: Identifier): java.io.File =
    new java.io.File(nsDir(ident.namespace), ident.name + ".view.json")

  override def viewExists(ident: Identifier): Boolean =
    viewFile(ident).exists()

  override def listViews(namespace: String*): Array[Identifier] = {
    val ns = namespace.toArray
    val d = nsDir(ns)
    if (!isNamespace(d)) throw new NoSuchNamespaceException(
      catalogName +: ns.toSeq)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".view.json"))
      .map(_.getName.stripSuffix(".view.json")).sorted
      .map(n => Identifier.of(ns, n))
  }

  override def loadView(ident: Identifier): View = {
    val f = viewFile(ident)
    if (!f.exists()) throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchViewException(ident)
    GraftCatalog.readViewDoc(f, ident)
  }

  override def createView(info: org.apache.spark.sql.connector.catalog
      .ViewInfo): View = {
    val ident = info.ident
    if (!isNamespace(nsDir(ident.namespace)))
      throw new NoSuchNamespaceException(catalogName +: ident.namespace.toSeq)
    if (viewExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(ident)
    require(!isTable(tableDir(ident)),
      s"graft catalog: a TABLE named $ident already exists")
    GraftCatalog.writeViewDoc(viewFile(ident), info,
      versions = Seq((1, System.currentTimeMillis(), info.sql)),
      currentVersion = 1)
    loadView(ident)
  }

  /** CREATE OR REPLACE / ALTER VIEW AS: the new SQL lands as a FRESH
    * version appended to the history with the current-version pointer
    * moved — the Iceberg-view versioning shape (old definitions stay
    * auditable in the document). */
  override def replaceView(info: org.apache.spark.sql.connector.catalog
      .ViewInfo, orCreate: Boolean): View = {
    val ident = info.ident
    val f = viewFile(ident)
    if (!f.exists()) {
      if (!orCreate) throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(ident)
      return createView(info)
    }
    val prior = GraftCatalog.readViewVersions(f)
    val nextId = prior.map(_._1).max + 1
    GraftCatalog.writeViewDoc(f, info,
      versions = prior :+ ((nextId, System.currentTimeMillis(), info.sql)),
      currentVersion = nextId)
    loadView(ident)
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    val f = viewFile(ident)
    if (!f.exists()) throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchViewException(ident)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = IcebergManifestSource.readDocument(f)
    var props = IcebergManifestSource.stringMap(root.get("properties"))
    changes.foreach {
      case s: ViewChange.SetProperty => props += (s.property() -> s.value())
      case r: ViewChange.RemoveProperty => props -= r.property()
      case other => sys.error(s"graft catalog: unsupported view change $other")
    }
    val p = root.putObject("properties")
    props.toSeq.sortBy(_._1).foreach { case (k, v) => p.put(k, v) }
    java.nio.file.Files.write(f.toPath,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean = {
    val f = viewFile(ident)
    f.exists() && f.delete()
  }

  override def renameView(old: Identifier, to: Identifier): Unit = {
    val from = viewFile(old)
    if (!from.exists()) throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchViewException(old)
    val toStripped =
      if (to.namespace.headOption.contains(catalogName))
        Identifier.of(to.namespace.drop(1), to.name)
      else to
    val dest = viewFile(toStripped)
    if (dest.exists()) throw new org.apache.spark.sql.catalyst.analysis
      .ViewAlreadyExistsException(toStripped)
    require(from.renameTo(dest),
      s"graft catalog: rename view $old -> $toStripped failed on disk")
  }

  // ---- SupportsNamespaces ----

  override def listNamespaces(): Array[Array[String]] =
    Option(warehouse.listFiles()).getOrElse(Array.empty)
      .filter(isNamespace).map(_.getName).sorted.map(Array(_))

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val d = nsDir(namespace)
    if (!isNamespace(d)) throw new NoSuchNamespaceException(
      catalogName +: namespace.toSeq)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(isNamespace).map(_.getName).sorted
      .map(n => namespace :+ n)
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || isNamespace(nsDir(namespace))

  /** Namespace properties live in one small JSON doc inside the
    * namespace dir (`.namespace.json` — dot-prefixed so the table/child
    * listing never mistakes it for content). */
  private def nsPropsFile(namespace: Array[String]): java.io.File =
    new java.io.File(nsDir(namespace), ".namespace.json")

  private def readNsProps(namespace: Array[String]): Map[String, String] = {
    val f = nsPropsFile(namespace)
    if (!f.exists()) Map.empty
    else IcebergManifestSource.stringMap(IcebergManifestSource.readDocument(f))
  }

  private def writeNsProps(namespace: Array[String],
      props: Map[String, String]): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    props.toSeq.sortBy(_._1).foreach { case (k, v) => root.put(k, v) }
    java.nio.file.Files.write(nsPropsFile(namespace).toPath,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
  }

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(
      catalogName +: namespace.toSeq)
    val out = new util.LinkedHashMap[String, String]()
    readNsProps(namespace).foreach { case (k, v) => out.put(k, v) }
    out.put(SupportsNamespaces.PROP_LOCATION,
      nsDir(namespace).getAbsolutePath)
    out
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    val d = nsDir(namespace)
    if (isNamespace(d)) throw new NamespaceAlreadyExistsException(
      (catalogName +: namespace.toSeq).toArray)
    require(d.mkdirs(), s"graft catalog: cannot create namespace dir $d")
    val props = metadata.asScala.toMap
      .filter { case (k, _) => k != SupportsNamespaces.PROP_LOCATION &&
        k != SupportsNamespaces.PROP_OWNER }
    if (props.nonEmpty) writeNsProps(namespace, props)
  }

  /** ALTER NAMESPACE … SET/UNSET PROPERTIES — reserved keys (location,
    * owner) refuse: a namespace IS its directory in this catalog. */
  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit = {
    if (!namespaceExists(namespace) || namespace.isEmpty)
      throw new NoSuchNamespaceException(catalogName +: namespace.toSeq)
    val updated = changes.foldLeft(readNsProps(namespace)) {
      case (p, s: NamespaceChange.SetProperty) =>
        require(s.property() != SupportsNamespaces.PROP_LOCATION,
          "graft catalog: a namespace's location is its directory and " +
            "cannot be altered")
        p + (s.property() -> s.value())
      case (p, r: NamespaceChange.RemoveProperty) => p - r.property()
      case (_, other) => sys.error(
        s"graft catalog: unsupported namespace change $other")
    }
    writeNsProps(namespace, updated)
  }

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val d = nsDir(namespace)
    if (!isNamespace(d)) false
    else {
      // the namespace's own property doc is metadata, not content
      val nonEmpty = Option(d.listFiles()).exists(
        _.exists(_.getName != ".namespace.json"))
      if (nonEmpty && !cascade)
        throw new org.apache.spark.sql.catalyst.analysis
          .NonEmptyNamespaceException((catalogName +: namespace.toSeq).toArray)
      org.apache.commons.io.FileUtils.deleteQuietly(d)
    }
  }

  // ---- descriptor I/O (one small JSON per table — catalog-entry sized) ----


  private[v2] def writeDescriptor(dir: java.io.File, schema: StructType,
      props: Map[String, String],
      partSpec: Seq[(String, String, String)] = Nil,
      columnIds: Seq[GraftCatalog.ColumnId] = Nil,
      lastColumnId: Int = 0,
      retired: Seq[String] = Nil): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    // schema-ddl stores names+types only: toDDL would render a DEFAULT
    // clause from CURRENT_DEFAULT metadata that fromDDL cannot parse
    // back — defaults persist in column-ids and re-annotate on load
    val plain = StructType(schema.fields.map { f =>
      val b = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
      b.remove("CURRENT_DEFAULT"); b.remove("EXISTS_DEFAULT")
      f.copy(metadata = b.build())
    })
    root.put("schema-ddl", plain.toDDL)
    val p = root.putObject("properties")
    props.toSeq.sortBy(_._1).foreach { case (k, v) => p.put(k, v) }
    if (partSpec.nonEmpty) {
      val arr = root.putArray("partition-spec")
      partSpec.foreach { case (name, transform, src) =>
        val n = arr.addObject()
        n.put("name", name); n.put("transform", transform)
        n.put("source", src)
      }
    }
    // Iceberg's last-column-id: a MONOTONIC high-water mark for field-id
    // allocation (nested leaf ids share the space). max(live ids) is NOT
    // a substitute — DROP of the highest-id column would let the next
    // ADD reuse the dead id, and per-file id resolution would then read
    // the dropped column's bytes back as the new column. The counter
    // only ever moves up, and it survives RTAS re-creation (the replace
    // passes the prior value in).
    val hwm = math.max(lastColumnId,
      (columnIds.map(_.id) ++ columnIds.flatMap(_.fields).map(_.id))
        .maxOption.getOrElse(0))
    if (hwm > 0) root.put("last-column-id", hwm)
    // names (column or parent.leaf) retired by DROP: per-file resolution
    // is NAME-FIRST, so a re-added column wearing a retired name would
    // read the dropped column's bytes back — ADD/RENAME refuse them
    if (retired.nonEmpty) {
      val arr = root.putArray("retired-columns")
      retired.foreach(arr.add)
    }
    if (columnIds.nonEmpty) {
      val arr = root.putArray("column-ids")
      def emit(c: GraftCatalog.ColumnId,
          n: com.fasterxml.jackson.databind.node.ObjectNode): Unit = {
        n.put("name", c.name); n.put("id", c.id)
        if (c.aliases.nonEmpty) {
          val as = n.putArray("aliases"); c.aliases.foreach(as.add)
        }
        c.currentDefault.foreach(n.put("current-default", _))
        c.initialDefault.foreach(n.put("initial-default", _))
        if (c.fields.nonEmpty) {
          val kids = n.putArray("fields")
          c.fields.foreach(k => emit(k, kids.addObject()))
        }
      }
      columnIds.foreach(c => emit(c, arr.addObject()))
    }
    java.nio.file.Files.write(descriptor(dir).toPath,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
  }

  private def readDescriptor(dir: java.io.File)
      : (Option[StructType], Map[String, String],
        Seq[(String, String, String)], Seq[GraftCatalog.ColumnId], Int,
        Seq[String]) = {
    val f = descriptor(dir)
    if (!f.exists()) return (None, Map.empty, Nil, Nil, 0, Nil)
    val root = IcebergManifestSource.readDocument(f)
    val ddl = Option(root.get("schema-ddl")).map(_.asText()).filter(_.nonEmpty)
    val props = IcebergManifestSource.stringMap(root.get("properties"))
    val spec = Option(root.get("partition-spec")).toSeq.flatMap { arr =>
      val out = Seq.newBuilder[(String, String, String)]
      arr.forEach(n => out += ((n.get("name").asText(),
        n.get("transform").asText(), n.get("source").asText())))
      out.result()
    }
    val ids = Option(root.get("column-ids")).toSeq.flatMap { arr =>
      def decode(n: com.fasterxml.jackson.databind.JsonNode)
          : GraftCatalog.ColumnId = {
        val aliases = Option(n.get("aliases")).toSeq.flatMap { as =>
          val b = Seq.newBuilder[String]; as.forEach(a => b += a.asText())
          b.result()
        }
        val kids = Option(n.get("fields")).toSeq.flatMap { fs =>
          val b = Seq.newBuilder[GraftCatalog.ColumnId]
          fs.forEach(k => b += decode(k))
          b.result()
        }
        GraftCatalog.ColumnId(n.get("name").asText(),
          n.get("id").asInt(), aliases,
          currentDefault = Option(n.get("current-default")).map(_.asText()),
          initialDefault = Option(n.get("initial-default")).map(_.asText()),
          fields = kids)
      }
      val out = Seq.newBuilder[GraftCatalog.ColumnId]
      arr.forEach(n => out += decode(n))
      out.result()
    }
    // descriptors predating the counter bootstrap it from max(live ids)
    // — correct for them, since no column had ever been dropped when
    // the counter was introduced alongside DROP's id retirement
    val lastId = Option(root.get("last-column-id")).map(_.asInt())
      .getOrElse((ids.map(_.id) ++ ids.flatMap(_.fields).map(_.id))
        .maxOption.getOrElse(0))
    val retired = Option(root.get("retired-columns")).toSeq.flatMap { arr =>
      val b = Seq.newBuilder[String]; arr.forEach(n => b += n.asText())
      b.result()
    }
    (ddl.map(StructType.fromDDL), props, spec, ids, lastId, retired)
  }
}

object GraftCatalog {
  /** One column's stable identity in the descriptor: `id` is the
    * Iceberg-style field id (assigned at CREATE / ADD, NEVER reused or
    * renumbered — the layout's positional convention at birth), and
    * `aliases` are the column's FORMER names, most recent first. A
    * RENAME is a metadata-only descriptor update: the id is kept, the
    * old name becomes an alias, and no data file is touched — readers
    * resolve old files by embedded parquet field id, or by alias for
    * files written before ids were embedded. */
  final case class ColumnId(name: String, id: Int,
      aliases: Seq[String] = Nil,
      currentDefault: Option[String] = None,
      initialDefault: Option[String] = None,
      /** Child identities for a STRUCT column's leaves (one nesting
        * level, the dialect's depth): same never-reused id space as the
        * top level — the monotonic last-column-id allocator hands out
        * every id. Empty for scalar columns AND for struct columns that
        * predate nested evolution (their leaves resolve by name, the
        * original convention); the first nested ALTER bootstraps them. */
      fields: Seq[ColumnId] = Nil)

  /** StructField metadata keys carrying the identity into the scan:
    * `parquet.field.id` is Spark's own field-id key (the writer embeds
    * it into new parquet files; q186 shows Spark-native readers resolve
    * by it), `graft.aliases` the comma-joined former names. */
  val FieldIdKey = "parquet.field.id"
  val AliasesKey = "graft.aliases"

  /** Annotate `schema` with id + alias metadata from the descriptor —
    * descending one level into struct columns whose descriptor entry
    * records child identities, so renamed/added NESTED fields resolve
    * per file exactly like top-level ones. */
  private[v2] def annotate(schema: StructType,
      ids: Seq[ColumnId]): StructType =
    if (ids.isEmpty) schema
    else {
      val byName = ids.map(c => c.name -> c).toMap
      def decorate(f: org.apache.spark.sql.types.StructField,
          c: ColumnId): org.apache.spark.sql.types.StructField = {
        val b = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putLong(FieldIdKey, c.id.toLong)
        if (c.aliases.nonEmpty) b.putString(AliasesKey, c.aliases.mkString(","))
        // Spark's own default-value keys: CURRENT_DEFAULT feeds the
        // analyzer's INSERT fill, EXISTS_DEFAULT is what the per-file
        // reader serves for files that predate the column
        c.currentDefault.foreach(b.putString("CURRENT_DEFAULT", _))
        c.initialDefault.foreach(b.putString("EXISTS_DEFAULT", _))
        val dt = (f.dataType, c.fields) match {
          case (st: StructType, kids) if kids.nonEmpty =>
            val kByName = kids.map(k => k.name -> k).toMap
            StructType(st.fields.map(nf =>
              kByName.get(nf.name).fold(nf)(k => decorate(nf, k))))
          case (dt, _) => dt
        }
        f.copy(dataType = dt, metadata = b.build())
      }
      StructType(schema.fields.map { f =>
        byName.get(f.name).fold(f)(c => decorate(f, c))
      })
    }

  /** Does `dt` contain VARIANT anywhere (a v3-only type — the
    * format-version feature gates consult this)? */
  private[v2] def hasVariant(
      dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: VariantType => true
      case s: StructType => s.fields.exists(f => hasVariant(f.dataType))
      case a: ArrayType => hasVariant(a.elementType)
      case m: MapType => hasVariant(m.keyType) || hasVariant(m.valueType)
      case _ => false
    }
  }

  private[v2] def metaStr(f: org.apache.spark.sql.types.StructField,
      key: String): Option[String] =
    if (f.metadata.contains(key)) Some(f.metadata.getString(key)) else None

  /** (current name -> former names) recorded in a schema's metadata. */
  private[v2] def aliasesOf(schema: StructType): Map[String, Seq[String]] =
    schema.fields.flatMap { f =>
      if (f.metadata.contains(AliasesKey))
        Some(f.name -> f.metadata.getString(AliasesKey).split(',').toSeq
          .filter(_.nonEmpty))
      else None
    }.toMap

  /** (name -> field id) recorded in a schema's metadata; struct leaves
    * appear under dotted keys (`parent.leaf`) — the writer's key shape. */
  private[v2] def fieldIdsOf(schema: StructType): Map[String, Int] =
    schema.fields.flatMap { f =>
      val top =
        if (f.metadata.contains(FieldIdKey))
          Seq(f.name -> f.metadata.getLong(FieldIdKey).toInt)
        else Nil
      val nested = f.dataType match {
        case st: StructType => st.fields.toSeq.flatMap(nf =>
          if (nf.metadata.contains(FieldIdKey))
            Some(s"${f.name}.${nf.name}" ->
              nf.metadata.getLong(FieldIdKey).toInt)
          else None)
        case _ => Nil
      }
      top ++ nested
    }.toMap

  // ---- view document I/O ----

  /** A loaded view: the SPI's [[View]] plus this dialect's version
    * history ((version-id, timestamp-ms, sql), Iceberg-view shaped). */
  final case class GraftView(ident: Identifier, sql: String,
      viewCatalog: String, viewNamespace: Array[String],
      viewSchema: StructType, qCols: Array[String],
      aliases: Array[String], comments: Array[String],
      props: Map[String, String],
      versions: Seq[(Int, Long, String)], currentVersion: Int)
      extends org.apache.spark.sql.connector.catalog.View {
    override def name(): String = ident.toString
    override def query(): String = sql
    override def currentCatalog(): String = viewCatalog
    override def currentNamespace(): Array[String] = viewNamespace
    override def schema(): StructType = viewSchema
    override def queryColumnNames(): Array[String] = qCols
    override def columnAliases(): Array[String] = aliases
    override def columnComments(): Array[String] = comments
    override def properties(): java.util.Map[String, String] = {
      val m = new java.util.LinkedHashMap[String, String]()
      props.foreach { case (k, v) => m.put(k, v) }
      m
    }
  }

  private[v2] def writeViewDoc(f: java.io.File,
      info: org.apache.spark.sql.connector.catalog.ViewInfo,
      versions: Seq[(Int, Long, String)], currentVersion: Int): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("current-version-id", currentVersion)
    val vs = root.putArray("versions")
    versions.foreach { case (id, ts, sql) =>
      val n = vs.addObject()
      n.put("version-id", id); n.put("timestamp-ms", ts); n.put("sql", sql)
    }
    root.put("schema-ddl", info.schema.toDDL)
    root.put("current-catalog", info.currentCatalog)
    val ns = root.putArray("current-namespace")
    info.currentNamespace.foreach(ns.add)
    val qc = root.putArray("query-column-names")
    info.queryColumnNames.foreach(qc.add)
    val al = root.putArray("column-aliases")
    info.columnAliases.foreach(al.add)
    val cm = root.putArray("column-comments")
    Option(info.columnComments).getOrElse(Array.empty[String])
      .foreach(c => cm.add(Option(c).getOrElse("")))
    val p = root.putObject("properties")
    import scala.jdk.CollectionConverters._
    info.properties.asScala.toSeq.sortBy(_._1)
      .foreach { case (k, v) => p.put(k, v) }
    java.nio.file.Files.write(f.toPath,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
  }

  private[v2] def readViewVersions(f: java.io.File): Seq[(Int, Long, String)] =
    viewVersions(IcebergManifestSource.readDocument(f))

  private def viewVersions(
      root: com.fasterxml.jackson.databind.JsonNode): Seq[(Int, Long, String)] = {
    val out = Seq.newBuilder[(Int, Long, String)]
    Option(root.get("versions")).foreach(_.forEach(n =>
      out += ((n.get("version-id").asInt(), n.get("timestamp-ms").asLong(),
        n.get("sql").asText()))))
    out.result()
  }

  private[v2] def readViewDoc(f: java.io.File, ident: Identifier): GraftView = {
    val root = IcebergManifestSource.readDocument(f)
    def strArray(key: String): Array[String] = {
      val b = Array.newBuilder[String]
      Option(root.get(key)).foreach(_.forEach(n => b += n.asText()))
      b.result()
    }
    val versions = viewVersions(root)
    val cur = Option(root.get("current-version-id")).map(_.asInt())
      .getOrElse(versions.map(_._1).max)
    val sql = versions.find(_._1 == cur).map(_._3).getOrElse(sys.error(
      s"graft catalog: view document $f names current version $cur " +
        "but carries no such version"))
    val props = IcebergManifestSource.stringMap(root.get("properties"))
    GraftView(ident, sql,
      Option(root.get("current-catalog")).map(_.asText()).getOrElse(""),
      strArray("current-namespace"),
      StructType.fromDDL(root.get("schema-ddl").asText()),
      strArray("query-column-names"), strArray("column-aliases"),
      strArray("column-comments"), props, versions, cur)
  }
}

private[v2] object GraftMetaTable {
  /** Metadata-table kinds addressable as `cat.db.t.<kind>` (Iceberg's
    * own metadata-table names). `changes` is the CHANGELOG relation:
    * batch = the whole history as change rows, streaming
    * (`readStream.table("cat.db.t.changes")`) = the CDC tail. */
  val Kinds: Set[String] =
    Set("snapshots", "files", "partitions", "refs", "history", "changes",
      "manifests", "position_deletes", "all_files", "data_files",
      "delete_files", "all_manifests", "metadata_log_entries",
      "entries", "all_entries", "all_data_files", "all_delete_files",
      "all_partitions")
}

/** A table's metadata relation served as a read-only DSv2 table — the
  * SQL face of [[graft.sources.MetadataTables]]. Rows are metadata-sized
  * (files/snapshots/refs of ONE table), so they serve as a driver-local
  * scan (`LocalScan`): planning cost is one manifest walk, no executor
  * tasks at all — the same shape as `Cli meta`, now reachable from
  * `SELECT * FROM cat.db.t.snapshots`. */
private[v2] class GraftMetaTable(dir: String, kind: String)
    extends Table
    with org.apache.spark.sql.connector.catalog.SupportsRead {
  import org.apache.spark.sql.connector.read._

  private def isChanges = kind == "changes"

  private def df = {
    val spark = org.apache.spark.sql.SparkSession.active
    kind match {
      case "snapshots" => graft.sources.MetadataTables.snapshots(spark, dir)
      case "files" => graft.sources.MetadataTables.files(spark, dir,
        dataSchema = Some(parentSchema))
      case "partitions" => graft.sources.MetadataTables.partitions(spark, dir)
      case "refs" => graft.sources.MetadataTables.refs(spark, dir)
      case "history" => graft.sources.MetadataTables.history(spark, dir)
      case "manifests" => graft.sources.MetadataTables.manifests(spark, dir)
      case "position_deletes" =>
        graft.sources.MetadataTables.positionDeletes(spark, dir)
      case "all_files" => graft.sources.MetadataTables.allFiles(spark, dir)
      case "data_files" => graft.sources.MetadataTables.dataFiles(spark, dir,
        dataSchema = Some(parentSchema))
      case "delete_files" =>
        graft.sources.MetadataTables.deleteFiles(spark, dir,
          dataSchema = Some(parentSchema))
      case "all_manifests" =>
        graft.sources.MetadataTables.allManifests(spark, dir)
      case "metadata_log_entries" =>
        graft.sources.MetadataTables.metadataLogEntries(spark, dir)
      case "entries" => graft.sources.MetadataTables.entries(spark, dir,
        dataSchema = Some(parentSchema))
      case "all_entries" =>
        graft.sources.MetadataTables.allEntries(spark, dir)
      case "all_data_files" =>
        graft.sources.MetadataTables.allDataFiles(spark, dir)
      case "all_delete_files" =>
        graft.sources.MetadataTables.allDeleteFiles(spark, dir)
      case "all_partitions" =>
        graft.sources.MetadataTables.allPartitions(spark, dir)
    }
  }

  /** The parent table's data schema (the changelog relation's base). */
  private lazy val parentSchema: StructType =
    new GraftTable(dir, None, Nil).schema

  override def name(): String = s"graft_meta(`$dir`#$kind)"

  override lazy val schema: StructType =
    if (isChanges) GraftChangelogStream.cdcSchema(parentSchema)
    else df.schema

  override def capabilities(): util.Set[TableCapability] =
    if (isChanges)
      util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.MICRO_BATCH_READ)
    else util.Collections.singleton(TableCapability.BATCH_READ)

  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan =
        if (isChanges) new GraftChangelogBatchScan(dir, parentSchema)
        else new LocalScan {
          override def readSchema(): StructType = schema
          override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
            df.queryExecution.executedPlan.executeCollect()
          override def description(): String = name()
        }
    }
}
