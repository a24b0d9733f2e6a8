package graft.metrics

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import graft.model._
import graft.functions.Pure

/** Distributed re-expression of the reference's metrics pipeline
  * (`/root/reference/icebergdiag/metrics/table_metrics.py:46-155`).
  *
  * Scale design (the part that must survive 100 TB / 1000 executors):
  *   - ONE wide shuffle: `groupByKey((table, partitionKey))`. Everything the
  *     reference computes per partition — counts, sums, overheads, and the
  *     sequential bin-packing simulation — is produced in a single pass over
  *     each group (`mapGroups`), holding only the data-file sizes (8 B each)
  *     per group in memory, exactly the reference's own bound.
  *   - The per-table rollup then runs over `Dataset[PartitionStats]`, whose
  *     cardinality is #partitions (tiny vs #files), with declarative
  *     aggregates (codegen'd) and deterministic `max_by` tie-breaks.
  *   - Thousands of tables fan in as ONE union-all plan with `table` as a
  *     grouping column — no driver-side loop over tables.
  *
  * The bin-packer is a sequential scan-with-carry whose groups overshoot the
  * cap (see [[Pure.buildPartitionGroups]]); a closed-form window cumsum is
  * deliberately NOT used because `floor(cumsum/cap)` changes group shapes.
  *
  * Driver arm: when both inputs of [[computeMetricsWide]] are already on the
  * driver (their optimized plans are a `LocalRelation`, as
  * `IcebergManifestSource.fromManifests` returns below its byte bound),
  * the same stats and rollup are folded in plain Scala
  * ([[localPartitionStats]], [[localTableMetrics]]) and no Spark job runs:
  * a metadata-sized table does not pay distributed-job latency. Any other
  * input takes the Spark plan above.
  */
object MetricsCalculator {

  /** Stage 1: per-(table, partition) stats + compaction simulation.
    *
    * O(1) MEMORY PER GROUP: instead of materializing each partition's size
    * array (as the driver fold [[localPartitionStats]] does), the
    * shuffle itself delivers rows SORTED by (table, partitionKey, sizeBytes)
    * via `repartition` + `sortWithinPartitions`; a boundary-detecting
    * `mapPartitions` then folds every aggregate AND the sequential bin-pack
    * carry in one streaming pass. A pathological partition with 100M files
    * costs this path nothing — the buffered path would hold an 800 MB array.
    *
    * Input needs only (table, content, partitionKey, sizeBytes) — project
    * before calling so the shuffle carries 4 narrow columns. */
  def partitionStats(files: Dataset[FileEntry], cfg: EngineConfig = EngineConfig.default): Dataset[PartitionStats] = {
    val spark = files.sparkSession
    import spark.implicits._
    files
      .repartition(col("table"), col("partitionKey"))
      .sortWithinPartitions(col("table"), col("partitionKey"), col("sizeBytes"))
      .as[FileEntry]
      .mapPartitions { it =>
        new Iterator[PartitionStats] {
          private var pending: Option[FileEntry] = None
          private def nextEntry(): Option[FileEntry] = {
            val e = pending.orElse(if (it.hasNext) Some(it.next()) else None)
            pending = None
            e
          }
          private var lookahead: Option[FileEntry] = None
          def hasNext: Boolean = {
            if (lookahead.isEmpty) lookahead = nextEntry()
            lookahead.isDefined
          }
          def next(): PartitionStats = {
            if (!hasNext) throw new NoSuchElementException
            val first = lookahead.get; lookahead = None
            val table = first.table; val pk = first.partitionKey
            var fileCount = 0L; var totalSize = 0L; var scanOverhead = 0L
            var dataCount = 0L; var dataSize = 0L
            // streaming bin-pack carry (sizes arrive ascending for the group)
            var groups = 0L; var costSum = 0L; var curSize = 0L; var open = false
            var cur: Option[FileEntry] = Some(first)
            while (cur.isDefined && cur.get.table == table && cur.get.partitionKey == pk) {
              val f = cur.get
              fileCount += 1
              totalSize += f.sizeBytes
              scanOverhead += Pure.readFileCost(f.sizeBytes, cfg.fetchSize) * cfg.msPerScan
              if (f.content == FileContent.Data) {
                dataCount += 1; dataSize += f.sizeBytes
                if (curSize > cfg.maxGroupBytes) {
                  groups += 1; costSum += Pure.readFileCost(curSize, cfg.fetchSize)
                  curSize = 0L; open = false
                }
                curSize += f.sizeBytes; open = true
              }
              cur = nextEntry()
            }
            pending = cur // first entry of the NEXT group (or None)
            if (open) { groups += 1; costSum += Pure.readFileCost(curSize, cfg.fetchSize) }
            PartitionStats(table, pk, fileCount, totalSize, scanOverhead, dataCount, dataSize,
              groups, costSum * cfg.msPerScan)
          }
        }
      }
  }

  /** Stage 2: per-table rollup over partition stats (A6-A12 of SURVEY §2.4).
    *
    * `manifestCounts` seeds FULL_SCAN_OVERHEAD's *before* value with
    * `manifest_count * msPerScan` (reference `table_metrics.py:50`); the
    * *after* value intentionally does NOT re-add it (`:116-121`).
    *
    * Argmax tie-breaks: the reference keeps the FIRST partition seen with the
    * strictly-max reduction (dict order — nondeterministic for us), so we
    * impose a deterministic total order: (reduction, partitionKey) both
    * ascending under `max_by`, i.e. ties go to the lexicographically largest
    * key. Reductions must be strictly positive, else 0/0.
    */
  def tableMetrics(
      parts: Dataset[PartitionStats],
      manifestCounts: Dataset[(String, Long)],
      cfg: EngineConfig = EngineConfig.default): Dataset[TableMetricsWide] = {
    val spark = parts.sparkSession
    import spark.implicits._

    val fcReduction = col("fileCount") - col("afterGroupCount")
    val soReduction = col("scanOverhead") - col("afterOverhead")

    val agg = parts
      .groupBy(col("table"))
      .agg(
        sum("scanOverhead").as("scanOverheadSum"),
        sum("afterOverhead").as("fullScanOverheadAfter"),
        sum("fileCount").as("fileCountBefore"),
        sum("afterGroupCount").as("fileCountAfter"),
        sum("dataFileSize").as("dataSize"),
        sum("dataFileCount").as("dataCount"),
        // WORST_AVG_FILE_SIZE is avg over ALL files incl. deletes — the
        // reference's intentional asymmetry vs the global data-only average
        // (table_metrics.py:103-105). Groups are never empty post-groupBy.
        min(col("totalSize").cast("double") / col("fileCount").cast("double")).as("worstAvgFileSize"),
        max("totalSize").as("largestPartitionSize"),
        sum("totalSize").as("totalTableSize"),
        count(lit(1)).as("totalPartitions"),
        max(struct(fcReduction.as("red"), col("partitionKey"))).as("bestFc"),
        max_by(struct(col("fileCount").as("b"), col("afterGroupCount").as("a")),
          struct(fcReduction, col("partitionKey"))).as("worstFc"),
        max(struct(soReduction.as("red"), col("partitionKey"))).as("bestSo"),
        max_by(struct(col("scanOverhead").as("b"), col("afterOverhead").as("a")),
          struct(soReduction, col("partitionKey"))).as("worstSo"))

    // FULL outer: manifestCounts is the authoritative table list, so a
    // table with an empty snapshot (no file entries at all) still reports a
    // full metrics row — FULL_SCAN_OVERHEAD seeded by its manifest count,
    // everything else 0 — matching the reference's empty-iterator behavior
    // (compute_metrics([], n) returns all 9 metrics).
    val withManifests = agg
      .join(manifestCounts.toDF("table", "manifestCount"), Seq("table"), "full_outer")
      .na.fill(0L, Seq("manifestCount", "scanOverheadSum", "fullScanOverheadAfter",
        "fileCountBefore", "fileCountAfter", "dataSize", "dataCount",
        "largestPartitionSize", "totalTableSize", "totalPartitions"))
      .na.fill(0.0, Seq("worstAvgFileSize"))

    withManifests
      .select(
        col("table"),
        (col("scanOverheadSum") + col("manifestCount") * lit(cfg.msPerScan)).as("fullScanOverheadBefore"),
        col("fullScanOverheadAfter"),
        when(col("bestSo.red") > 0, col("worstSo.b")).otherwise(0L).as("worstScanOverheadBefore"),
        when(col("bestSo.red") > 0, col("worstSo.a")).otherwise(0L).as("worstScanOverheadAfter"),
        col("fileCountBefore"),
        col("fileCountAfter"),
        when(col("bestFc.red") > 0, col("worstFc.b")).otherwise(0L).as("worstFileCountBefore"),
        when(col("bestFc.red") > 0, col("worstFc.a")).otherwise(0L).as("worstFileCountAfter"),
        when(col("dataCount") === 0, lit(0.0))
          .otherwise(col("dataSize").cast("double") / col("dataCount").cast("double")).as("avgFileSize"),
        col("worstAvgFileSize"),
        col("totalTableSize"),
        col("largestPartitionSize"),
        col("totalPartitions"))
      .as[TableMetricsWide]
  }

  /** End-to-end, multi-table: `Dataset[FileEntry]` (+ per-table manifest
    * counts) -> one wide metrics row per table. */
  def computeMetricsWide(
      files: Dataset[FileEntry],
      manifestCounts: Dataset[(String, Long)],
      cfg: EngineConfig = EngineConfig.default): Dataset[TableMetricsWide] =
    if (isLocal(files) && isLocal(manifestCounts)) {
      val spark = files.sparkSession
      import spark.implicits._
      // LocalTableScanExec.executeCollect: both collects run no job
      spark.createDataset(localTableMetrics(
        localPartitionStats(files.collect().toSeq, cfg),
        manifestCounts.collect().toSeq, cfg))
    } else tableMetrics(partitionStats(files, cfg), manifestCounts, cfg)

  /** True when `ds` is rows held on the driver: its optimized plan is a
    * `LocalRelation`, so collecting it launches no Spark job. */
  private def isLocal(ds: Dataset[_]): Boolean =
    !ds.isStreaming && ds.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** Driver fold of [[partitionStats]]: one row per (table, partitionKey),
    * every count over all files, the bin-pack over the partition's
    * data-file sizes sorted ascending ([[Pure.packStats]]). The same
    * arithmetic as the streaming fold, so the two agree field by field. */
  private[graft] def localPartitionStats(files: Seq[FileEntry],
      cfg: EngineConfig = EngineConfig.default): Seq[PartitionStats] =
    files.groupBy(f => (f.table, f.partitionKey)).iterator.map {
      case ((table, pk), group) =>
        var totalSize = 0L; var scanOverhead = 0L; var dataSize = 0L
        val dataSizes = Array.newBuilder[Long]
        group.foreach { f =>
          totalSize += f.sizeBytes
          scanOverhead += Pure.readFileCost(f.sizeBytes, cfg.fetchSize) * cfg.msPerScan
          if (f.content == FileContent.Data) { dataSize += f.sizeBytes; dataSizes += f.sizeBytes }
        }
        val sorted = dataSizes.result()
        java.util.Arrays.sort(sorted)
        val (groups, afterOverhead) = Pure.packStats(sorted.iterator, cfg)
        PartitionStats(table, pk, group.size.toLong, totalSize, scanOverhead,
          sorted.length.toLong, dataSize, groups, afterOverhead)
    }.toSeq

  /** Driver fold of [[tableMetrics]] with the Spark plan's semantics:
    *   - a full outer join on table, so a manifest-count row without
    *     files gives the manifest-seeded zero row and a table without a
    *     manifest count gets count 0;
    *   - the worst partition is the max of (reduction, partitionKey),
    *     keys compared as UTF-8 bytes like Spark's `max(struct)` and
    *     `max_by`, and counts only when its reduction is positive;
    *   - `Long` sums fail on overflow like ANSI `sum`. */
  private[graft] def localTableMetrics(parts: Seq[PartitionStats],
      manifestCounts: Seq[(String, Long)],
      cfg: EngineConfig = EngineConfig.default): Seq[TableMetricsWide] = {
    def sum(ps: Seq[PartitionStats])(f: PartitionStats => Long): Long =
      ps.foldLeft(0L)((acc, p) => Math.addExact(acc, f(p)))
    def worst(ps: Seq[PartitionStats])(before: PartitionStats => Long,
        after: PartitionStats => Long): (Long, Long) = {
      val keyed = ps.map(p => (Math.subtractExact(before(p), after(p)),
        p.partitionKey.getBytes(java.nio.charset.StandardCharsets.UTF_8), p))
      val (red, _, top) = keyed.reduce { (a, b) =>
        val c = java.lang.Long.compare(a._1, b._1)
        if (c > 0 || (c == 0 && java.util.Arrays.compareUnsigned(a._2, b._2) >= 0)) a else b
      }
      if (red > 0) (before(top), after(top)) else (0L, 0L)
    }
    val byTable = parts.groupBy(_.table).map { case (table, ps) =>
      val (worstSoB, worstSoA) = worst(ps)(_.scanOverhead, _.afterOverhead)
      val (worstFcB, worstFcA) = worst(ps)(_.fileCount, _.afterGroupCount)
      val dataSize = sum(ps)(_.dataFileSize); val dataCount = sum(ps)(_.dataFileCount)
      table -> TableMetricsWide(table,
        fullScanOverheadBefore = sum(ps)(_.scanOverhead),
        fullScanOverheadAfter = sum(ps)(_.afterOverhead),
        worstScanOverheadBefore = worstSoB, worstScanOverheadAfter = worstSoA,
        fileCountBefore = sum(ps)(_.fileCount),
        fileCountAfter = sum(ps)(_.afterGroupCount),
        worstFileCountBefore = worstFcB, worstFileCountAfter = worstFcA,
        avgFileSize = if (dataCount == 0) 0.0 else dataSize.toDouble / dataCount.toDouble,
        worstAvgFileSize = ps.map(p => p.totalSize.toDouble / p.fileCount.toDouble).min,
        totalTableSize = sum(ps)(_.totalSize),
        largestPartitionSize = ps.map(_.totalSize).max,
        totalPartitions = ps.size.toLong)
    }
    def seeded(w: TableMetricsWide, manifests: Long): TableMetricsWide =
      w.copy(fullScanOverheadBefore = Math.addExact(w.fullScanOverheadBefore,
        Math.multiplyExact(manifests, cfg.msPerScan)))
    val counted = manifestCounts.map(_._1).toSet
    manifestCounts.map { case (table, n) =>
      seeded(byTable.getOrElse(table,
        TableMetricsWide(table, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0.0, 0.0, 0L, 0L, 0L)), n)
    } ++ byTable.valuesIterator.filterNot(w => counted(w.table)).map(seeded(_, 0L))
  }

  /** The SIZE-FAMILY metrics (SURVEY §2.4 A5–A9: avg data-file size,
    * worst per-partition average, total table size, largest partition,
    * total partitions) served from a table's FRESH partition-statistics
    * file — ONE KB-sized parquet read, zero manifest I/O. The per-file
    * arm (scan overheads + the bin-packing simulation) still needs file
    * sizes, so the full 9-metric pipeline keeps its manifest scan; this
    * is the short-circuit a thousands-of-tables SIZE report wants.
    *
    * Sound only when the snapshot carries NO delete files: the stats
    * rollup records data bytes, while the reference's totals include
    * tombstone bytes (`table_metrics.py:103-105` averages over ALL
    * files) — delete-carrying tables return None and take the manifest
    * arm. None likewise when no fresh stats file is registered.
    * Output column names match [[tableMetrics]]'s exactly. */
  def sizeMetricsFromStats(spark: SparkSession, tableDir: String,
      table: String): Option[org.apache.spark.sql.DataFrame] =
    graft.sources.LayoutMaintenance
      .freshPartitionStats(spark, tableDir, None).flatMap { statsPath =>
      val stats = spark.read.schema(
        "partition STRING, file_count BIGINT, record_count BIGINT, " +
          "total_size BIGINT, position_delete_file_count BIGINT, " +
          "equality_delete_file_count BIGINT, " +
          "last_updated_snapshot_id BIGINT")
        .parquet(statsPath)
      val agg = stats.agg(
        sum(col("position_delete_file_count") +
          col("equality_delete_file_count")).as("nDel"),
        sum(col("total_size")).as("totalTableSize"),
        sum(col("file_count")).as("dataCount"),
        min(col("total_size").cast("double") /
          col("file_count").cast("double")).as("worstAvgFileSize"),
        max(col("total_size")).as("largestPartitionSize"),
        count(lit(1)).as("totalPartitions")).head()
      if (agg.getLong(0) != 0L) None // tombstones: sizes not in stats
      else Some(spark.range(1).select(
        lit(table).as("table"),
        when(lit(agg.getLong(2)) === 0L, lit(0.0))
          .otherwise(lit(agg.getLong(1).toDouble / agg.getLong(2)))
          .as("avgFileSize"),
        lit(agg.getDouble(3)).as("worstAvgFileSize"),
        lit(agg.getLong(1)).as("totalTableSize"),
        lit(agg.getLong(4)).as("largestPartitionSize"),
        lit(agg.getLong(5)).as("totalPartitions")))
    }

  /** Single-table convenience mirroring the reference's
    * `compute_metrics(files, manifest_files_count)`; returns the 9 metrics
    * in the reference's enum order. */
  def computeMetrics(
      files: Dataset[FileEntry],
      manifestCount: Long,
      cfg: EngineConfig = EngineConfig.default): Seq[MetricRow] = {
    val spark = files.sparkSession
    import spark.implicits._
    val mc = files.select("table").distinct().as[String].map(t => (t, manifestCount))
    computeMetricsWide(files, mc, cfg).collect().toSeq.flatMap(_.toRows)
  }
}
