package graft.sources.v2

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{IcebergLayoutWriter, IcebergManifestSource, LayoutMaintenance, MetadataTables, OrphanFiles}

/** SQL maintenance procedures — Spark 4's `ProcedureCatalog` surface over
  * the executed [[graft.sources.LayoutMaintenance]] operations, mirroring
  * Iceberg's own `CALL catalog.system.<proc>(...)` names:
  *
  * {{{
  *   CALL graft.system.rollback_to_snapshot(table => 'db.t', snapshot_id => 3)
  *   CALL graft.system.expire_snapshots('db.t', retain_last => 2)
  *   CALL graft.system.rewrite_data_files('db.t')
  *   CALL graft.system.fast_forward('db.t', 'main', 'audit-branch')
  *   CALL graft.system.remove_orphan_files('db.t', dry_run => false)
  * }}}
  *
  * The reference exposes compaction only as a SIMULATION inside its metric
  * report (`/root/reference/icebergdiag/metrics/table_metrics.py:128-155`);
  * the Spark-native expression of "act on the diagnosis" is the engine's
  * executed maintenance commits made identifier-addressable through the
  * same catalog that serves the tables. Each procedure returns one
  * driver-local summary relation ([[LocalScan]] — Spark's `InvokeProcedures`
  * converts only local scans, and maintenance summaries are commit-sized,
  * so no executor tasks are spent on the result). The underlying ops do
  * their data movement through the same distributed read/write paths as the
  * connector: nothing here adds a driver-side data path.
  *
  * Argument binding (names, defaults, coercion) is Spark's: parameters are
  * declared with [[ProcedureParameter]] and the analyzer reorders named
  * args and fills declared defaults before `call` sees one [[InternalRow]].
  */
object GraftProcedures {

  /** Procedure-call results are metadata-sized; serve them driver-local. */
  private final class ResultScan(schema0: StructType, data: Seq[Seq[Any]],
      describe: String) extends LocalScan {
    override def readSchema(): StructType = schema0
    override def rows(): Array[InternalRow] =
      data.map(vs => InternalRow.fromSeq(vs.map {
        case s: String => UTF8String.fromString(s)
        case other => other
      })).toArray
    override def description(): String = describe
  }

  private abstract class Proc(
      procName: String,
      val params: Array[ProcedureParameter],
      val resultSchema: StructType,
      describe: String) extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = describe
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params
    override def isDeterministic: Boolean = false
    final override def call(input: InternalRow): util.Iterator[Scan] =
      util.Collections.singletonList[Scan](new ResultScan(resultSchema,
        run(SparkSession.active, input), s"graft_procedure($procName)"))
        .iterator()
    def run(spark: SparkSession, input: InternalRow): Seq[Seq[Any]]
  }

  private def p(name: String, t: DataType): ProcedureParameter =
    ProcedureParameter.in(name, t).build()
  private def pd(name: String, t: DataType, default: String): ProcedureParameter =
    ProcedureParameter.in(name, t).defaultValue(default).build()

  /** The add_files engine, shared by the `add_files` and `migrate`
    * procedures: import existing parquet files into `dir` as one
    * metadata-only append commit. Returns (files, rows, snapshotId). */
  private def addFilesInto(spark: SparkSession, dir: String,
      source: String, checkDup: Boolean): (Int, Long, Long) = {
        val conf = spark.sparkContext.hadoopConfiguration
        val srcPath = new org.apache.hadoop.fs.Path(source)
        val fs = srcPath.getFileSystem(conf)
        // files to import: a glob, a single file, or a directory walked
        // recursively — all through the Hadoop FS API (object-store-ready)
        val statuses = Option(fs.globStatus(srcPath)).toSeq.flatten.flatMap {
          st =>
            if (!st.isDirectory) Seq(st)
            else {
              val it = fs.listFiles(st.getPath, true)
              val out = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
              while (it.hasNext) out += it.next()
              out.result()
            }
        }.filter(st => st.getPath.getName.endsWith(".parquet") &&
          !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
        require(statuses.nonEmpty,
          s"add_files($dir): no parquet files match '$source'")
        // hive-partitioned layouts keep partition VALUES in directory
        // names, not in the files — importing such files verbatim would
        // silently drop those columns (readers null-fill). Refuse loudly;
        // rewrite through a real INSERT to materialize the columns.
        val hivePartitioned = statuses
          .map(_.getPath.getParent.toUri.getPath)
          .filter(_ != null)
          .filter(p => p.split('/').exists(seg =>
            seg.contains('=') && !seg.startsWith("=")))
        require(hivePartitioned.isEmpty,
          s"add_files($dir): source contains hive-partitioned paths " +
            s"(e.g. ${hivePartitioned.head}) whose partition values live " +
            "in directory names, not in the files — a verbatim import " +
            "would silently null those columns. INSERT the data instead.")
        // keep the FULL path string — stripping to toUri.getPath would
        // drop a remote scheme+authority (s3://bucket/key → /key, which
        // resolves nowhere); only the local file: scheme is normalized
        // to a bare path, matching the rest of the layout's path dialect
        val files = statuses.map { st =>
          val p = st.getPath.toString
          (if (p.startsWith("file:")) p.replaceFirst("^file:/+", "/") else p,
            st.getLen)
        }.sortBy(_._1)
        if (checkDup && IcebergManifestSource.hasMetadata(dir)) {
          val existing = IcebergManifestSource
            .statsFromTableDir(spark, dir, "t", Nil)
            .select("file_path").collect()
            .map(_.getString(0).replaceFirst("^file:/+", "/")).toSet
          val dup = files.map(_._1).filter(existing.contains)
          require(dup.isEmpty,
            s"add_files($dir): already referenced by the current " +
              s"snapshot: ${dup.take(3).mkString(", ")} " +
              "(pass check_duplicate_files => false to force)")
        }
        // the catalog descriptor's pushdown.fields names the stat columns
        // (name:fieldId:type): bound extraction keys off the DECLARED ids
        // so imported files skip exactly like connector-written ones
        val (statFields: Seq[(String, Int, String)],
             declaredCols: Seq[String]) = {
          val desc = new java.io.File(dir, "graft-table.json")
          if (!desc.exists()) (Nil, Nil)
          else {
            val root = IcebergManifestSource.readDocument(desc)
            val sf = Option(root.get("properties"))
              .flatMap(p => Option(p.get("pushdown.fields")))
              .map(_.asText()).toSeq
              .flatMap(_.split(',')).filter(_.nonEmpty).map(_.split(':'))
              .collect { case Array(n, id, t) => (n, id.toInt, t) }
            val cols = Option(root.get("schema-ddl")).map(_.asText())
              .filter(_.nonEmpty)
              .map(d => org.apache.spark.sql.types.StructType.fromDDL(d)
                .fieldNames.toSeq)
              .getOrElse(Nil)
            (sf, cols)
          }
        }
        // schema sanity: an import whose files share NO column with the
        // declared schema would read as an all-null relation — refuse
        if (declaredCols.nonEmpty) {
          val firstFooter = {
            val c = new org.apache.hadoop.conf.Configuration()
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                new org.apache.hadoop.fs.Path(files.head._1), c))
            try r.getFooter.getFileMetaData.getSchema.getFields
            finally r.close()
          }
          val fileCols = {
            val out = Seq.newBuilder[String]
            firstFooter.forEach(f => out += f.getName)
            out.result().toSet
          }
          require(declaredCols.exists(fileCols.contains),
            s"add_files($dir): the source files share no column with the " +
              s"declared schema (${declaredCols.mkString(", ")} vs file " +
              s"columns ${fileCols.mkString(", ")}) — importing them " +
              "would read as all-null rows")
        }
        // distributed footer pass: one task per file reads row counts and
        // min/max for the declared stat columns — never the data pages
        val metas = spark.sparkContext
          .parallelize(files, math.max(1, math.min(files.size, 32)))
          .map { case (path, _) =>
            val c = new org.apache.hadoop.conf.Configuration()
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                new org.apache.hadoop.fs.Path(path), c))
            try {
              var rows = 0L
              val mins = scala.collection.mutable.Map.empty[String, Any]
              val maxs = scala.collection.mutable.Map.empty[String, Any]
              val wanted = statFields.map(_._1).toSet
              r.getFooter.getBlocks.forEach { b =>
                rows += b.getRowCount
                b.getColumns.forEach { cc =>
                  val name = cc.getPath.toDotString
                  val st = cc.getStatistics
                  if (wanted(name) && st != null && !st.isEmpty &&
                      st.hasNonNullValue) {
                    def toV(x: Any): Any = x match {
                      case i: java.lang.Integer => i.longValue
                      case l: java.lang.Long => l.longValue
                      case d: java.lang.Double => d.doubleValue
                      case f: java.lang.Float => f.doubleValue
                      case b2: org.apache.parquet.io.api.Binary =>
                        b2.toStringUsingUTF8
                      case other => other
                    }
                    def lt(a: Any, b2: Any): Boolean = (a, b2) match {
                      case (x: Long, y: Long) => x < y
                      case (x: Double, y: Double) => x < y
                      case (x: String, y: String) => x < y
                      case _ => false
                    }
                    val (lo, hi) = (toV(st.genericGetMin), toV(st.genericGetMax))
                    mins(name) = mins.get(name).filter(lt(_, lo)).getOrElse(lo)
                    maxs(name) = maxs.get(name).filter(m => lt(hi, m)).getOrElse(hi)
                  }
                }
              }
              (path, rows, mins.toMap, maxs.toMap)
            } finally r.close()
          }.collect() // one small row per FILE: metadata-sized
        def enc(v: Any): Array[Byte] = v match {
          case x: Long => IcebergLayoutWriter.boundLong(x)
          case x: Double => IcebergLayoutWriter.boundDouble(x)
          case x: String => IcebergLayoutWriter.boundString(x)
          case other => sys.error(s"add_files: unencodable bound $other")
        }
        val sizeOf = files.toMap
        val entries = metas.toSeq.sortBy(_._1).map { case (path, rows, mins, maxs) =>
          IcebergLayoutWriter.ManifestEntrySpec(status = 1, content = 0,
            filePath = path, recordCount = rows, sizeBytes = sizeOf(path),
            lower = statFields.flatMap { case (n, id, _) =>
              mins.get(n).map(v => id -> enc(v)) }.toMap,
            upper = statFields.flatMap { case (n, id, _) =>
              maxs.get(n).map(v => id -> enc(v)) }.toMap)
        }
        val snap = LayoutMaintenance.commitAppend(spark, dir, entries)
        (entries.size, entries.map(_.recordCount).sum, snap)
  }

  /** All procedures, keyed by name. `resolve` maps a `table` argument
    * (a catalog-relative `db.t` identifier string) to the layout dir of
    * an EXISTING table; `resolveNew` maps an identifier to the dir a NEW
    * table would live in (namespace must exist, table must not). */
  def all(resolve: String => String,
      resolveNew: String => String): Map[String, UnboundProcedure] = Seq(

    new Proc("rollback_to_snapshot",
      Array(p("table", StringType), p("snapshot_id", LongType)),
      StructType(Seq(
        StructField("previous_snapshot_id", LongType),
        StructField("current_snapshot_id", LongType, nullable = false))),
      "Move the table head (and main) back to a historic snapshot") {
      def run(spark: SparkSession, in: InternalRow): Seq[Seq[Any]] = {
        val dir = resolve(in.getUTF8String(0).toString)
        val target = in.getLong(1)
        val prev = LayoutMaintenance.rollback(spark, dir, target)
        Seq(Seq(prev.map(Long.box).orNull, target))
      }
    },

    new Proc("set_current_snapshot",
      Array(p("table", StringType), p("snapshot_id", LongType)),
      StructType(Seq(
        StructField("previous_snapshot_id", LongType),
        StructField("current_snapshot_id", LongType, nullable = false))),
      "Set the current snapshot pointer to any snapshot in history " +
        "(Iceberg's set_current_snapshot; same pointer move as rollback)") {
      def run(spark: SparkSession, in: InternalRow): Seq[Seq[Any]] = {
        val dir = resolve(in.getUTF8String(0).toString)
        val target = in.getLong(1)
        val prev = LayoutMaintenance.rollback(spark, dir, target)
        Seq(Seq(prev.map(Long.box).orNull, target))
      }
    },

    new Proc("expire_snapshots",
      Array(p("table", StringType), pd("retain_last", IntegerType, "1"),
        pd("older_than_ms", LongType, "-1")),
      StructType(Seq(
        StructField("kept_snapshots_count", IntegerType, nullable = false),
        StructField("deleted_metadata_files_count", IntegerType, nullable = false))),
      "Expire history older than the newest retain_last snapshots. The " +
        "current snapshot, every ref target (tags PIN their snapshot " +
        "until drop_ref), and — when older_than_ms is given — every " +
        "snapshot committed at or after that epoch cutoff are never " +
        "expired; production runs pass older_than_ms = now - retention " +
        "so racing readers' recent history survives") {
      def run(spark: SparkSession, in: InternalRow): Seq[Seq[Any]] = {
        val dir = resolve(in.getUTF8String(0).toString)
        val (kept, deleted) = LayoutMaintenance.expireSnapshots(spark, dir,
          in.getInt(1), in.getLong(2))
        Seq(Seq(kept.size, deleted))
      }
    },

    new Proc("rewrite_data_files",
      Array(p("table", StringType), pd("sort_by", StringType, "''"),
        pd("target_file_size_bytes", LongType, "0")),
      StructType(Seq(
        StructField("new_snapshot_id", LongType, nullable = false),
        StructField("rewritten_rows", LongType, nullable = false),
        StructField("files_before", IntegerType, nullable = false),
        StructField("files_after", IntegerType, nullable = false))),
      "Rewrite the MOR state fresh: tombstones applied and dropped, data " +
        "re-laid-out (optionally sorted by the comma-separated sort_by cols; " +
        "target_file_size_bytes > 0 writes task-parallel files of ~that " +
        "size — range-distributed when sorted); equality keys resolve " +
        "from manifest equality_ids") {
      def run(spark: SparkSession, in: InternalRow): Seq[Seq[Any]] = {
        val dir = resolve(in.getUTF8String(0).toString)
        val sortCols = in.getUTF8String(1).toString
          .split(',').map(_.trim).filter(_.nonEmpty).toSeq
        val (snap, rows, before, after) =
          LayoutMaintenance.rewriteDataFiles(spark, dir, Nil, sortCols,
            targetFileSizeBytes = Some(in.getLong(2)).filter(_ > 0))
        // Seq[Any] with explicit boxing — a plain Seq(long, int, …) would
        // numeric-widen the ints to Long and break the declared Int schema
        Seq(Seq[Any](Long.box(snap), Long.box(rows),
          Int.box(before), Int.box(after)))
      }
    },

    new Proc("rewrite_small_files",
      Array(p("table", StringType),
        pd("target_group_bytes", LongType,
          graft.model.EngineConfig.default.maxGroupBytes.toString),
        pd("small_file_bytes", LongType,
          (graft.model.EngineConfig.default.maxGroupBytes / 2).toString)),
      StructType(Seq(
        StructField("snapshot_id", LongType, nullable = false),
        StructField("files_compacted", IntegerType, nullable = false),
        StructField("groups_written", IntegerType, nullable = false))),
      "Selective bin-pack compaction: files under small_file_bytes fold " +
        "into overshoot groups (the diagnosis report's packer, executed); " +
        "large files are carried verbatim") {
      def run(spark: SparkSession, in: InternalRow): Seq[Seq[Any]] = {
        val dir = resolve(in.getUTF8String(0).toString)
        val (snap, files, groups) = LayoutMaintenance.rewriteSmallFiles(
          spark, dir, in.getLong(1), in.getLong(2))
        Seq(Seq[Any](Long.box(snap), Int.box(files), Int.box(groups)))
      }
    },

    new Proc("rewrite_position_deletes",
      Array(p("table", StringType)),
      StructType(Seq(
        StructField("new_snapshot_id", LongType, nullable = false),
        StructField("delete_files_before", IntegerType, nullable = false),
        StructField("delete_files_after", IntegerType, nullable = false),
        StructField("live_pairs", LongType, nullable = false))),
      "Consolidate position-delete files: dead pairs dropped, live pairs " +
        "re-committed as one file") {
      def run(spark: SparkSession, in: InternalRow): Seq[Seq[Any]] = {
        val dir = resolve(in.getUTF8String(0).toString)
        val (snap, before, after, pairs) =
          LayoutMaintenance.rewritePositionDeletes(spark, dir)
        Seq(Seq[Any](Long.box(snap), Int.box(before), Int.box(after),
          Long.box(pairs.toLong)))
      }
    },

    new Proc("convert_equality_deletes",
      Array(p("table", StringType)),
      StructType(Seq(
        StructField("new_snapshot_id", LongType, nullable = false),
        StructField("eq_files_before", IntegerType, nullable = false),
        StructField("pos_pairs_written", LongType, nullable = false))),
      "Resolve live equality tombstones against the current data files " +
        "into one consolidated position-delete file and drop the eq " +
        "entries — the streaming-upsert dialect's steady-state cleanup, " +
        "with NO data rewrite; keys resolve from manifest equality_ids") {
      def run(spark: SparkSession, in: InternalRow): Seq[Seq[Any]] = {
        val dir = resolve(in.getUTF8String(0).toString)
        val (snap, before, pairs) =
          LayoutMaintenance.convertEqualityDeletes(spark, dir)
        Seq(Seq[Any](Long.box(snap), Int.box(before), Long.box(pairs)))
      }
    },

    new Proc("rewrite_manifests",
      Array(p("table", StringType)),
      StructType(Seq(
        StructField("manifests_before", IntegerType, nullable = false),
        StructField("manifests_after", IntegerType, nullable = false))),
      "Consolidate the current snapshot's manifests into one") {
      def run(spark: SparkSession, in: InternalRow): Seq[Seq[Any]] = {
        val dir = resolve(in.getUTF8String(0).toString)
        val (before, after) = LayoutMaintenance.rewriteManifests(spark, dir)
        Seq(Seq(before, after))
      }
    },

    new Proc("cherrypick_snapshot",
      Array(p("table", StringType), p("snapshot_id", LongType)),
      StructType(Seq(
        StructField("source_snapshot_id", LongType, nullable = false),
        StructField("current_snapshot_id", LongType, nullable = false))),
      "Re-commit a staged append snapshot's additions onto the current " +
        "head (the WAP publish path when the base has advanced)") {
      def run(spark: SparkSession, in: InternalRow): Seq[Seq[Any]] = {
        val dir = resolve(in.getUTF8String(0).toString)
        val picked = in.getLong(1)
        val newHead = LayoutMaintenance.cherryPick(spark, dir, picked)
        Seq(Seq(picked, newHead))
      }
    },

    new Proc("publish_changes",
      Array(p("table", StringType), p("wap_id", StringType)),
      StructType(Seq(
        StructField("source_snapshot_id", LongType, nullable = false),
        StructField("current_snapshot_id", LongType, nullable = false))),
      "Publish the snapshot staged under spark.wap.id = <wap_id> " +
        "(summary-tagged, head untouched) by cherry-picking its " +
        "additions onto the current head — Iceberg's audit-id WAP " +
        "publish") {
      def run(spark: SparkSession, in: InternalRow): Seq[Seq[Any]] = {
        val dir = resolve(in.getUTF8String(0).toString)
        val (staged, newHead) = LayoutMaintenance.publishChanges(
          spark, dir, in.getUTF8String(1).toString)
        Seq(Seq(staged, newHead))
      }
    },

    new Proc("fast_forward",
      Array(p("table", StringType), p("branch", StringType), p("to", StringType)),
      StructType(Seq(
        StructField("branch_updated", StringType, nullable = false),
        StructField("current_snapshot_id", LongType, nullable = false))),
      "Fast-forward `branch` to the head of ref `to` (publishes a staged " +
        "WAP branch when branch = 'main')") {
      def run(spark: SparkSession, in: InternalRow): Seq[Seq[Any]] = {
        val dir = resolve(in.getUTF8String(0).toString)
        val branch = in.getUTF8String(1).toString
        val source = in.getUTF8String(2).toString
        val snap = LayoutMaintenance.fastForward(spark, dir, from = source,
          to = branch)
        Seq(Seq(branch, snap))
      }
    },

    new Proc("remove_orphan_files",
      Array(p("table", StringType), pd("dry_run", BooleanType, "true"),
        pd("min_age_ms", LongType, "0")),
      StructType(Seq(
        StructField("orphan_file_location", StringType, nullable = false),
        StructField("deleted", BooleanType, nullable = false))),
      "List (dry_run, the default) or delete files under the table's data " +
        "dir referenced by NO snapshot in history. min_age_ms spares " +
        "files modified within that window — an IN-FLIGHT writer's " +
        "uncommitted task files look exactly like orphans, so production " +
        "runs pass a retention age (Iceberg defaults to 3 days)") {
      def run(spark: SparkSession, in: InternalRow): Seq[Seq[Any]] = {
        import org.apache.spark.sql.functions.col
        import spark.implicits._
        val dir = resolve(in.getUTF8String(0).toString)
        val dryRun = in.getBoolean(1)
        val minAgeMs = in.getLong(2)
        val dataDir = new java.io.File(dir, "data")
        if (!dataDir.isDirectory) return Nil
        // every snapshot's entries stay referenced — orphan removal must
        // never break time travel, so the live set is the UNION over history
        val snapIds = MetadataTables.snapshots(spark, dir)
          .select("snapshot_id").collect().map(_.getLong(0)).toSeq
        val referenced = snapIds
          .map(id => IcebergManifestSource
            .statsFromTableDir(spark, dir, "t", Nil, snapshotId = Some(id))
            .select(col("file_path")).as[String])
          .reduceOption(_ union _)
          .getOrElse(spark.emptyDataset[String])
          .distinct()
        val cutoff = System.currentTimeMillis() - minAgeMs
        val orphans = OrphanFiles
          .find(spark, dataDir.getAbsolutePath, referenced)
          .collect().sorted.toSeq
          .filter(p => minAgeMs <= 0L ||
            new java.io.File(p).lastModified() <= cutoff)
        if (!dryRun) orphans.foreach(p => new java.io.File(p).delete())
        orphans.map(p => Seq(p, !dryRun))
      }
    },

    new Proc("ancestors_of",
      Array(p("table", StringType)),
      StructType(Seq(
        StructField("snapshot_id", LongType, nullable = false),
        StructField("committed_at_ms", LongType),
        StructField("is_current", BooleanType, nullable = false))),
      "Snapshot history oldest-first, with the current head marked") {
      def run(spark: SparkSession, in: InternalRow): Seq[Seq[Any]] = {
        val dir = resolve(in.getUTF8String(0).toString)
        val cur = LayoutMaintenance.currentSnapshot(spark, dir)
        LayoutMaintenance.snapshotTimestamps(spark, dir)
          .map { case (id, ts) =>
            Seq(id, ts.map(Long.box).orNull, cur.contains(id)) }
      }
    },

    new Proc("compute_partition_stats",
      Array(p("table", StringType), pd("mode", StringType, "'auto'")),
      StructType(Seq(
        StructField("statistics_path", StringType, nullable = false),
        StructField("snapshot_id", LongType, nullable = false),
        StructField("partitions", LongType, nullable = false),
        StructField("arm", StringType, nullable = false))),
      "Materialize the per-partition rollup as the spec's partition-" +
        "statistics file and register it in metadata; $partitions and " +
        "per-partition reports serve from it while fresh (KB read, no " +
        "manifest scan) and fall back the moment a commit advances the " +
        "table. mode=auto updates INCREMENTALLY from a prior stats " +
        "file via the manifest-set diff (manifest reuse shares " +
        "unchanged manifests by path) — O(changed manifests); " +
        "mode=full forces the full manifest scan") {
      def run(spark: SparkSession, in: InternalRow): Seq[Seq[Any]] = {
        val dir = resolve(in.getUTF8String(0).toString)
        val (path, snap, n, arm) = LayoutMaintenance
          .computePartitionStatsMode(spark, dir,
            in.getUTF8String(1).toString)
        Seq(Seq[Any](path, Long.box(snap), Long.box(n), arm))
      }
    },

    new Proc("compute_table_stats",
      Array(p("table", StringType), pd("columns", StringType, "''"),
        pd("k", IntegerType, "64")),
      StructType(Seq(
        StructField("statistics_path", StringType, nullable = false),
        StructField("column", StringType, nullable = false),
        StructField("field_id", IntegerType, nullable = false),
        StructField("ndv", LongType, nullable = false))),
      "Compute per-column NDV sketches over the current MOR state in ONE " +
        "distributed pass, persist them as a Puffin statistics file, and " +
        "register it in table metadata (Iceberg's compute_table_stats)") {
      def run(spark: SparkSession, in: InternalRow): Seq[Seq[Any]] = {
        import org.apache.spark.sql.functions._
        val dir = resolve(in.getUTF8String(0).toString)
        val asked = in.getUTF8String(1).toString
          .split(',').map(_.trim).filter(_.nonEmpty).toSeq
        val k = in.getInt(2)
        require(k > 0, s"compute_table_stats: k must be positive, got $k")
        val snap = LayoutMaintenance.currentSnapshot(spark, dir)
          .getOrElse(sys.error(
            s"compute_table_stats($dir): table has no snapshots yet"))
        val df = graft.sources.MorRead.readTable(spark, dir)
        if (df.schema.isEmpty) return Nil // empty table: nothing to sketch
        import org.apache.spark.sql.types._
        val primitive = df.schema.fields.filter(_.dataType match {
          case LongType | IntegerType | ShortType | ByteType | DoubleType |
               FloatType | BooleanType | StringType | DateType |
               TimestampType | _: DecimalType => true
          case _ => false
        }).map(_.name).toSeq
        val cols = if (asked.isEmpty) primitive else asked
        cols.foreach(c => require(df.schema.fieldNames.contains(c),
          s"compute_table_stats($dir): no column '$c' " +
            s"(have: ${df.schema.fieldNames.mkString(", ")})"))
        // field ids are positional against the data schema, the same
        // convention MorRead.metadataEqKeys resolves equality_ids by
        val fieldId = df.schema.fieldNames.zipWithIndex
          .map { case (n, i) => n -> (i + 1) }.toMap
        val minK = udaf(new graft.functions.MinKDistinct.MinK(k),
          org.apache.spark.sql.Encoders.scalaLong)
        // ONE aggregation job regardless of column count: each column
        // contributes a KMV sketch of a salted 28-bit hash; NULLs map to
        // the Long.MaxValue sentinel (above every 2^28 hash, so it never
        // displaces a real minimum) and are stripped after collection
        val aggs = cols.map { c =>
          minK(coalesce(graft.operators.TextOps.portableHash28(
            concat(lit(s"ndv:$c:"), col(c).cast("string"))),
            lit(Long.MaxValue))).as(s"__sk_$c") }
        val row = df.agg(aggs.head, aggs.tail: _*).head()
        def est(mins: Seq[Long]): Long =
          if (mins.size < k) mins.size.toLong
          else (k - 1).toLong * 268435456L / mins(k - 1)
        val sketches = cols.zipWithIndex.map { case (c, i) =>
          c -> row.getSeq[Long](i).filter(_ != Long.MaxValue) }
        val pf = new java.io.File(new java.io.File(dir, "metadata"),
          s"stats-$snap.puffin")
        org.apache.commons.io.FileUtils.deleteQuietly(pf) // recompute wins
        graft.sources.PuffinIO.write(pf, sketches.map { case (c, mins) =>
          graft.sources.PuffinIO.Blob("graft-kmv-sketch-v1",
            Seq(fieldId(c)), snap, snap,
            Map("k" -> k.toString, "column" -> c,
              "ndv" -> est(mins).toString),
            graft.sources.PuffinIO.sketchBytes(mins)) })
        LayoutMaintenance.attachStatistics(spark, dir, snap, pf,
          sketches.map { case (c, mins) =>
            ("graft-kmv-sketch-v1", Seq(fieldId(c)),
              Map("column" -> c, "ndv" -> est(mins).toString)) })
        sketches.map { case (c, mins) =>
          Seq[Any](pf.getAbsolutePath, c, Int.box(fieldId(c)),
            Long.box(est(mins))) }
      }
    },

    new Proc("add_files",
      Array(p("table", StringType), p("source", StringType),
        pd("check_duplicate_files", BooleanType, "true")),
      StructType(Seq(
        StructField("added_files_count", IntegerType, nullable = false),
        StructField("added_rows_count", LongType, nullable = false),
        StructField("new_snapshot_id", LongType, nullable = false))),
      "Import existing parquet files into the table as ONE metadata-only " +
        "append commit — zero data movement (Iceberg's add_files): row " +
        "counts and declared-column bounds come from a distributed parquet-" +
        "footer pass, so imported files participate in file skipping") {
      def run(spark: SparkSession, in: InternalRow): Seq[Seq[Any]] = {
        val (files, rows, snap) = addFilesInto(spark,
          resolve(in.getUTF8String(0).toString),
          in.getUTF8String(1).toString, in.getBoolean(2))
        Seq(Seq[Any](Int.box(files), Long.box(rows), Long.box(snap)))
      }
    },

    new Proc("add_partition_field",
      Array(p("table", StringType), p("field", StringType)),
      StructType(Seq(
        StructField("spec_id", IntegerType, nullable = false),
        StructField("partition_field", StringType, nullable = false),
        StructField("transform", StringType, nullable = false))),
      "PARTITION SPEC EVOLUTION (Iceberg's ALTER TABLE ... ADD PARTITION " +
        "FIELD): extend the table's partition spec with `field` — a " +
        "column name, bucket(N, col), truncate(W, col), or " +
        "days/hours/months/years(col) — as a new default spec. Metadata-" +
        "only: existing files stay under their original spec (readers " +
        "interpret each file's partition values with the spec it was " +
        "written under); future writes cluster and prune on the new one") {
      def run(spark: SparkSession, in: InternalRow): Seq[Seq[Any]] = {
        import com.fasterxml.jackson.databind.ObjectMapper
        import com.fasterxml.jackson.databind.node.ArrayNode
        val dir = resolve(in.getUTF8String(0).toString)
        val fieldStr = in.getUTF8String(1).toString.trim
        // same transform dialect (and derived field names) as CREATE
        // TABLE ... PARTITIONED BY in GraftCatalog.toSpecEntry
        val argRx = """^(bucket|truncate)\s*\(\s*(\d+)\s*,\s*(\w+)\s*\)$""".r
        val timeRx = """^(days?|hours?|months?|years?)\s*\(\s*(\w+)\s*\)$""".r
        val identRx = """^(\w+)$""".r
        val (pfName, transform, src) = fieldStr match {
          case argRx("bucket", n, c) => (s"${c}_bucket", s"bucket[$n]", c)
          case argRx("truncate", w, c) => (s"${c}_trunc", s"truncate[$w]", c)
          case timeRx(t, c) =>
            val base = t.stripSuffix("s")
            (s"${c}_$base", base, c)
          case identRx(c) => (c, "identity", c)
          case other => sys.error(
            s"add_partition_field: cannot parse transform '$other' " +
              "(use col, bucket(N, col), truncate(W, col), or " +
              "days/hours/months/years(col))")
        }
        val desc = new java.io.File(dir, "graft-table.json")
        require(desc.exists(),
          s"add_partition_field($dir): needs a catalog-created table — " +
            "the write path takes its partition spec from the catalog " +
            "descriptor, which this table does not have")
        val mapper = new ObjectMapper()
        val root = IcebergManifestSource.readDocument(desc)
        val schema = org.apache.spark.sql.types.StructType.fromDDL(
          Option(root.get("schema-ddl")).map(_.asText()).filter(_.nonEmpty)
            .getOrElse(sys.error(
              s"add_partition_field($dir): descriptor has no schema")))
        require(schema.fieldNames.contains(src),
          s"add_partition_field($dir): partition source '$src' is not a " +
            s"table column (have: ${schema.fieldNames.mkString(", ")})")
        val cur = Option(root.get("partition-spec")).filter(_.isArray).toSeq
          .flatMap { arr =>
            val out = Seq.newBuilder[(String, String, String)]
            arr.forEach(n => out += ((n.get("name").asText(),
              n.get("transform").asText(), n.get("source").asText())))
            out.result()
          }
        require(!cur.exists(_._1 == pfName),
          s"add_partition_field($dir): '$pfName' is already a partition field")
        val evolved = cur :+ ((pfName, transform, src))
        // metadata spec evolution only once the table HAS metadata; a
        // descriptor-only table is simply born with the wider spec
        val specId =
          if (!IcebergManifestSource.hasMetadata(dir)) 0
          else LayoutMaintenance.evolvePartitionSpec(spark, dir,
            evolved.map { case (n, t, s2) =>
              (n, t, schema.fieldNames.indexOf(s2) + 1) })
        val arr = mapper.createArrayNode()
        evolved.foreach { case (n, t, s2) =>
          val o = mapper.createObjectNode()
          o.put("name", n); o.put("transform", t); o.put("source", s2)
          arr.add(o)
        }
        root.set[ArrayNode]("partition-spec", arr)
        java.nio.file.Files.write(desc.toPath,
          mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
        Seq(Seq[Any](Int.box(specId), pfName, transform))
      }
    },

    new Proc("rollback_to_timestamp",
      Array(p("table", StringType), p("timestamp_ms", LongType)),
      StructType(Seq(
        StructField("previous_snapshot_id", LongType),
        StructField("current_snapshot_id", LongType, nullable = false))),
      "Move the table head to the LAST snapshot committed at or before " +
        "the given epoch instant (Iceberg's rollback_to_timestamp) — " +
        "the procedure twin of TIMESTAMP AS OF, made permanent") {
      def run(spark: SparkSession, in: InternalRow): Seq[Seq[Any]] = {
        val dir = resolve(in.getUTF8String(0).toString)
        val cutoff = in.getLong(1)
        val at = LayoutMaintenance.snapshotTimestamps(spark, dir)
          .filter { case (_, ts) => ts.forall(_ <= cutoff) }
          .lastOption.map(_._1)
          .getOrElse(sys.error(
            s"rollback_to_timestamp($dir): no snapshot at or before " +
              s"$cutoff"))
        val prev = LayoutMaintenance.rollback(spark, dir, at)
        Seq(Seq(prev.map(Long.box).orNull, at))
      }
    },

    new Proc("migrate",
      Array(p("source", StringType), p("target_table", StringType)),
      StructType(Seq(
        StructField("target_table", StringType, nullable = false),
        StructField("migrated_files_count", IntegerType, nullable = false),
        StructField("migrated_rows_count", LongType, nullable = false))),
      "Convert an existing parquet directory into a governed catalog " +
        "table IN PLACE (Iceberg's migrate, expressed as create + " +
        "add_files): schema inferred from the files, one metadata-only " +
        "commit referencing them where they lie — zero data movement") {
      def run(spark: SparkSession, in: InternalRow): Seq[Seq[Any]] = {
        val source = in.getUTF8String(0).toString
        val dstName = in.getUTF8String(1).toString
        val dstDir = resolveNew(dstName)
        // descriptor from the source's own schema, so the catalog serves
        // the migrated table with declared (not inferred) columns
        val schema = spark.read.parquet(source).schema
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val root = mapper.createObjectNode()
        root.put("schema-ddl", schema.toDDL)
        root.putObject("properties")
        java.nio.file.Files.write(
          new java.io.File(dstDir, "graft-table.json").toPath,
          mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
        val (files, rows, _) = addFilesInto(spark, dstDir, source,
          checkDup = true)
        Seq(Seq[Any](dstName, Int.box(files), Long.box(rows)))
      }
    },

    new Proc("create_tag",
      Array(p("table", StringType), p("tag", StringType),
        pd("snapshot_id", LongType, "-1")),
      StructType(Seq(
        StructField("tag", StringType, nullable = false),
        StructField("snapshot_id", LongType, nullable = false))),
      "Create (or move) a named TAG at a snapshot — the current head " +
        "when snapshot_id is omitted. Tags pin time-travel points " +
        "(VERSION AS OF '<tag>') and hold their snapshot against " +
        "nothing; expire still honors history rules") {
      def run(spark: SparkSession, in: InternalRow): Seq[Seq[Any]] = {
        val dir = resolve(in.getUTF8String(0).toString)
        val name = in.getUTF8String(1).toString
        val sid = in.getLong(2)
        val at = LayoutMaintenance.setRef(spark, dir, name, "tag",
          if (sid < 0) None else Some(sid))
        Seq(Seq[Any](name, Long.box(at)))
      }
    },

    new Proc("create_branch",
      Array(p("table", StringType), p("branch", StringType),
        pd("snapshot_id", LongType, "-1")),
      StructType(Seq(
        StructField("branch", StringType, nullable = false),
        StructField("snapshot_id", LongType, nullable = false))),
      "Create (or move) a named BRANCH at a snapshot — the current head " +
        "when snapshot_id is omitted. Branches are the WAP staging " +
        "surface: stageAppend writes onto them, fast_forward publishes") {
      def run(spark: SparkSession, in: InternalRow): Seq[Seq[Any]] = {
        val dir = resolve(in.getUTF8String(0).toString)
        val name = in.getUTF8String(1).toString
        val sid = in.getLong(2)
        val at = LayoutMaintenance.setRef(spark, dir, name, "branch",
          if (sid < 0) None else Some(sid))
        Seq(Seq[Any](name, Long.box(at)))
      }
    },

    new Proc("drop_ref",
      Array(p("table", StringType), p("name", StringType)),
      StructType(Seq(
        StructField("dropped", StringType, nullable = false))),
      "Drop a named branch or tag ('main' refused); the snapshot it " +
        "pointed at stays in history until expire reclaims it") {
      def run(spark: SparkSession, in: InternalRow): Seq[Seq[Any]] = {
        val dir = resolve(in.getUTF8String(0).toString)
        val name = in.getUTF8String(1).toString
        LayoutMaintenance.dropRef(spark, dir, name)
        Seq(Seq[Any](name))
      }
    },

    new Proc("drop_partition_field",
      Array(p("table", StringType), p("field", StringType)),
      StructType(Seq(
        StructField("spec_id", IntegerType, nullable = false),
        StructField("dropped_field", StringType, nullable = false))),
      "PARTITION SPEC EVOLUTION, narrowing: remove a partition field by " +
        "its field name (e.g. 'k_bucket') as a new default spec. " +
        "Metadata-only; existing files keep their spec; future writes " +
        "stop clustering on the dropped field") {
      def run(spark: SparkSession, in: InternalRow): Seq[Seq[Any]] = {
        import com.fasterxml.jackson.databind.ObjectMapper
        import com.fasterxml.jackson.databind.node.ArrayNode
        val dir = resolve(in.getUTF8String(0).toString)
        val pfName = in.getUTF8String(1).toString.trim
        val desc = new java.io.File(dir, "graft-table.json")
        require(desc.exists(),
          s"drop_partition_field($dir): needs a catalog-created table")
        val mapper = new ObjectMapper()
        val root = IcebergManifestSource.readDocument(desc)
        val schema = org.apache.spark.sql.types.StructType.fromDDL(
          Option(root.get("schema-ddl")).map(_.asText()).filter(_.nonEmpty)
            .getOrElse(sys.error(
              s"drop_partition_field($dir): descriptor has no schema")))
        val cur = Option(root.get("partition-spec")).filter(_.isArray).toSeq
          .flatMap { arr =>
            val out = Seq.newBuilder[(String, String, String)]
            arr.forEach(n => out += ((n.get("name").asText(),
              n.get("transform").asText(), n.get("source").asText())))
            out.result()
          }
        require(cur.exists(_._1 == pfName),
          s"drop_partition_field($dir): no partition field '$pfName' " +
            s"(have: ${cur.map(_._1).mkString(", ")})")
        val evolved = cur.filterNot(_._1 == pfName)
        val specId =
          if (!IcebergManifestSource.hasMetadata(dir)) 0
          // dropping the LAST field evolves to the empty (unpartitioned)
          // spec — still a fresh spec id, per the Iceberg spec
          else LayoutMaintenance.evolvePartitionSpec(spark, dir,
            evolved.map { case (n, t, s2) =>
              (n, t, schema.fieldNames.indexOf(s2) + 1) })
        val arr = mapper.createArrayNode()
        evolved.foreach { case (n, t, s2) =>
          val o = mapper.createObjectNode()
          o.put("name", n); o.put("transform", t); o.put("source", s2)
          arr.add(o)
        }
        root.set[ArrayNode]("partition-spec", arr)
        java.nio.file.Files.write(desc.toPath,
          mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
        Seq(Seq[Any](Int.box(specId), pfName))
      }
    },

    new Proc("snapshot",
      Array(p("source_table", StringType), p("target_table", StringType)),
      StructType(Seq(
        StructField("target_table", StringType, nullable = false),
        StructField("current_snapshot_id", LongType, nullable = false),
        StructField("imported_files_count", IntegerType, nullable = false))),
      "Zero-copy CLONE: create target_table referencing source_table's " +
        "current live files in place (Iceberg's snapshot procedure) — " +
        "one metadata commit, no data movement, histories diverge freely " +
        "from there; never run remove_orphan_files against a snapshotted " +
        "source") {
      def run(spark: SparkSession, in: InternalRow): Seq[Seq[Any]] = {
        val srcName = in.getUTF8String(0).toString
        val dstName = in.getUTF8String(1).toString
        val srcDir = resolve(srcName)
        val dstDir = resolveNew(dstName)
        val (snap, files) =
          LayoutMaintenance.snapshotTable(spark, srcDir, dstDir)
        // the catalog descriptor (declared schema, pushdown.fields,
        // partition spec for writes) rides along so the clone serves
        // through the catalog exactly like its source
        val srcDesc = new java.io.File(srcDir, "graft-table.json")
        if (srcDesc.exists())
          java.nio.file.Files.copy(srcDesc.toPath,
            new java.io.File(dstDir, "graft-table.json").toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        Seq(Seq[Any](dstName, Long.box(snap), Int.box(files)))
      }
    }

  ).map(proc => proc.name() -> (proc: UnboundProcedure)).toMap
}
