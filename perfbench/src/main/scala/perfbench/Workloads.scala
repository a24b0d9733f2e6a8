package perfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{IcebergLayoutWriter, LayoutMaintenance, MorRead}
import graft.sources.IcebergLayoutWriter.ManifestEntrySpec

/** What a workload's timed window did: the primary op kind (the one
  * `op_ms.p50` reports), the work items it completed and the window's
  * length. */
final case class Window(primary: String, items: Double, itemUnit: String,
    seconds: Double)

/** A workload: seeded set-up (layout generation), a fixed warm-up, then a
  * closed loop of checked ops for the requested seconds. Each warm-up
  * length is sized from a per-op latency trace (see README.md). */
trait Workload {
  def name: String
  def params: Seq[(String, Any)]
  def generate(run: Run): Unit
  def warmup(run: Run): Unit
  def loop(run: Run, deadline: Long): Window
  /** Checked ops after the window (not timed). */
  def finish(run: Run): Unit = ()
}

object Workload {
  def apply(name: String, seed: Long): Workload = name match {
    case "catalog_diag" => new CatalogDiag(seed)
    case "deep_table_diag" => new DeepTableDiag(seed)
    case "append_mix" => new AppendMix(seed)
    case "mor_read" => new MorReadLoop(seed)
    case other => sys.error(s"unknown workload: $other")
  }
  def now: Long = System.nanoTime()
}

/** A few hundred small tables, each diagnosed once per pass. */
final class CatalogDiag(seed: Long) extends Workload {
  val name = "catalog_diag"
  // more tables than warm-up and window reach, so no op sees a table twice
  val tables = 96
  val warmupOps = 12
  val params = Seq("tables" -> tables, "manifests_per_table" -> 4,
    "entries_per_table" -> "40-160", "partitions_per_table" -> 8,
    "equality_delete_share" -> 0.05, "warmup_diagnoses" -> warmupOps)
  private var layout: IndexedSeq[(File, Expected)] = IndexedSeq.empty
  private var next = 0

  def generate(run: Run): Unit = {
    val r = new java.util.SplittableRandom(seed)
    val root = run.work("catalog")
    layout = (0 until tables).map { i =>
      val dir = new File(root, f"t$i%04d")
      (dir, Layouts.catalogTable(dir, r))
    }
  }

  private def diag(run: Run): Unit = {
    val (dir, e) = layout(next % tables)
    next += 1
    run.diagnoseOp(dir, dir.getName)((w, n) => run.checkDiag(w, n, e))
  }

  def warmup(run: Run): Unit = (0 until warmupOps).foreach(_ => diag(run))

  def loop(run: Run, deadline: Long): Window = {
    val t0 = Workload.now
    val first = next
    while (Workload.now < deadline) diag(run)
    Window("diagnose", (next - first).toDouble, "tables", (Workload.now - t0) / 1e9)
  }

  override def finish(run: Run): Unit = run.chainCheck(layout.head._1, layout.head._1.getName)
}

/** One deep table diagnosed over and over. */
final class DeepTableDiag(seed: Long) extends Workload {
  val name = "deep_table_diag"
  val entries = 200000
  val manifests = 128
  val partitions = 1024
  val warmupOps = 5
  val params = Seq("entries" -> entries, "manifests" -> manifests,
    "partitions" -> partitions, "partition_skew" -> "zipf s=1",
    "equality_delete_share" -> 0.02, "warmup_diagnoses" -> warmupOps)
  private var dir: File = _
  private var expected: Expected = _

  def generate(run: Run): Unit = {
    dir = run.work("deep")
    expected = Layouts.deepTable(dir, new java.util.SplittableRandom(seed),
      entries, manifests, partitions)
  }

  private def diag(run: Run): Unit =
    run.diagnoseOp(dir, "deep") { (w, n) =>
      run.checkDiag(w, n, expected).orElse(
        if (w.worstFileCountAfter > 1) None
        else Some("no partition exceeds the bin-pack cap"))
    }

  def warmup(run: Run): Unit = (0 until warmupOps).foreach(_ => diag(run))

  override def finish(run: Run): Unit = run.chainCheck(dir, "deep")

  def loop(run: Run, deadline: Long): Window = {
    val t0 = Workload.now
    var n = 0
    while (Workload.now < deadline) { diag(run); n += 1 }
    Window("diagnose", n.toDouble * entries, "entries", (Workload.now - t0) / 1e9)
  }
}

/** 10-file appends onto a ~20k-entry table, a diagnosis after every k-th
  * commit, one compaction at the end. */
final class AppendMix(seed: Long) extends Workload {
  val name = "append_mix"
  val baseEntries = 20000
  val filesPerCommit = 10
  val diagEvery = 4
  val warmupCommits = 8
  val params = Seq("base_entries" -> baseEntries, "partitions" -> 64,
    "files_per_commit" -> filesPerCommit, "diagnose_every" -> diagEvery,
    "compaction_cap_bytes" -> graft.model.EngineConfig.default.maxGroupBytes,
    "warmup_commits" -> warmupCommits)
  private var dir: File = _
  private val r = new java.util.SplittableRandom(seed)
  private var expected: Expected = _
  private var parts: Set[Int] = Set.empty
  private var commits = 0
  private var sinceCheck = 0
  private var lastDiag: Option[graft.model.TableMetricsWide] = None

  def generate(run: Run): Unit = {
    dir = run.work("append")
    val (e, p) = Layouts.appendBase(dir, r, baseEntries)
    expected = e; parts = p
  }

  private def commit(run: Run): Unit = {
    val added = Layouts.appendBatch(r, commits, filesPerCommit)
    commits += 1
    val meta = new File(dir, "metadata")
    val before = if (run.opts.trace) listing(meta) else Map.empty[String, Long]
    run.op("commit")(LayoutMaintenance.commitAppend(run.spark, dir.getAbsolutePath, added,
      partitionSpec = Layouts.IdentitySpec)) { _ => None }
    if (run.lastTraced) {
      val fresh = listing(meta) -- before.keys
      run.layer("commit.files_written") += fresh.size
      run.layer("commit.meta_bytes_written") += fresh.values.sum
      run.layer("commit.entries_written") += fresh.keys
        .filter(n => n.startsWith("manifest-") && n.endsWith(".avro"))
        .map(n => avroRecords(new File(meta, n))).sum
      run.layer("commit.entries_added") += added.size
      run.layer("commit.traced") += 1
    }
    parts ++= added.map(_.partition.head._2.asInstanceOf[Int])
    expected = expected.plus(added, parts.size.toLong)
    sinceCheck += 1
  }

  private def listing(meta: File): Map[String, Long] =
    Option(meta.listFiles()).getOrElse(Array.empty[File]).map(f => f.getName -> f.length()).toMap

  private def avroRecords(f: File): Long = {
    val rd = new org.apache.avro.file.DataFileReader[Object](f,
      new org.apache.avro.generic.GenericDatumReader[Object]())
    try { var n = 0L; while (rd.hasNext) { rd.next(); n += 1 }; n } finally rd.close()
  }

  /** The next diagnosis checks every commit since the last one: it must
    * see exactly the added files. A mismatch fails those commits too. */
  private def diag(run: Run): Unit = {
    val pending = sinceCheck
    sinceCheck = 0
    lastDiag = run.diagnoseOp(dir, "append")((w, n) => run.checkDiag(w, n, expected))
    if (lastDiag.isEmpty) run.failed += pending
  }

  private def step(run: Run): Unit = {
    commit(run)
    if (sinceCheck == diagEvery) diag(run)
  }

  def warmup(run: Run): Unit = (0 until warmupCommits).foreach(_ => step(run))

  def loop(run: Run, deadline: Long): Window = {
    val t0 = Workload.now
    val c0 = commits
    while (Workload.now < deadline) step(run)
    Window("commit", ((commits - c0) * filesPerCommit).toDouble, "files committed",
      (Workload.now - t0) / 1e9)
  }

  /** Close the window with a diagnosis of the final state, then execute
    * the compaction that diagnosis simulated: the executed data-file count
    * must equal the simulation's FILE_COUNT after. */
  override def finish(run: Run): Unit = {
    if (sinceCheck > 0 || lastDiag.isEmpty) diag(run)
    run.chainCheck(dir, "append")
    val cap = graft.model.EngineConfig.default.maxGroupBytes
    lastDiag.foreach { sim =>
      val t0 = Workload.now
      run.op("compaction")(
        LayoutMaintenance.commitCompaction(run.spark, dir.getAbsolutePath, cap)) {
        case (_, before, after) =>
          if (before != expected.fileCount)
            Some(s"compaction saw $before data files, expected ${expected.fileCount}")
          else if (after != sim.fileCountAfter)
            Some(s"compaction left $after data files, the simulation said ${sim.fileCountAfter}")
          else None
      }
      run.layer("maintenance.compaction_ms") = (Workload.now - t0) / 1e6
    }
  }
}

/** Merge-on-read scans of a lineitem-shaped table carrying position and
  * equality deletes. */
final class MorReadLoop(seed: Long) extends Workload {
  val name = "mor_read"
  val rows = 200000L
  val files = 4
  val warmupReads = 6
  val params = Seq("rows" -> rows, "data_files" -> files,
    "position_deletes" -> "l_quantity <= 2 (~4% of rows)",
    "equality_deletes" -> "~3% of l_orderkey values", "warmup_reads" -> warmupReads)
  private var dir: File = _
  private var expected: (Long, Long) = _

  /** lineitem-shaped rows, a pure function of (row id, seed). */
  private def source(run: Run): DataFrame = {
    def h(salt: Long, mod: Long) = pmod(xxhash64(col("id"), lit(seed + salt)), lit(mod))
    run.spark.range(0, rows).select(col("id"),
      (col("id") / 4 + 1).cast("long").as("l_orderkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (h(1, 200000L) + 1).as("l_partkey"),
      (h(2, 10000L) + 1).as("l_suppkey"),
      (h(3, 50L) + 1).cast("double").as("l_quantity"),
      (h(4, 10000000L) / 100.0).as("l_extendedprice"),
      (h(5, 11L) / 100.0).as("l_discount"),
      element_at(array(lit("A"), lit("N"), lit("R")), (h(6, 3L) + 1).cast("int")).as("l_returnflag"),
      date_add(lit("1992-01-02").cast("date"), h(7, 2526L).cast("int")).as("l_shipdate"))
  }
  private val posDelete = col("l_quantity") <= 2.0
  private def eqKeys(src: DataFrame): DataFrame =
    src.select("l_orderkey").distinct()
      .where(pmod(xxhash64(col("l_orderkey"), lit(seed + 9)), lit(33L)) === 0)

  def generate(run: Run): Unit = {
    val spark = run.spark
    dir = run.work("mor")
    val data = new File(dir, "data"); data.mkdirs()
    val src = source(run)
    val per = rows / files
    val entries = run.tr.span("setup.data_files")((0 until files).map { i =>
      val f = new File(data, s"lineitem-$i.parquet")
      val n = IcebergLayoutWriter.writeSingleParquet(
        src.where(col("id") >= i * per && col("id") < (i + 1) * per).drop("id"), f)
      ManifestEntrySpec(status = 1, content = 0, filePath = f.getAbsolutePath,
        recordCount = n, sizeBytes = f.length())
    })
    val path = dir.getAbsolutePath
    run.tr.span("setup.commit_append")(LayoutMaintenance.commitAppend(spark, path, entries))
    val (_, posDeleted) = run.tr.span("setup.commit_delete_where")(
      LayoutMaintenance.commitDeleteWhere(spark, path, posDelete))
    val (_, keysDeleted) = run.tr.span("setup.commit_delete")(
      LayoutMaintenance.commitDelete(spark, path, eqKeys(src), Seq("l_orderkey")))
    require(posDeleted > 0 && keysDeleted > 0, "the table must carry both delete kinds")
    // the plain-Spark answer over the generated rows
    val e = run.tr.span("setup.expected")(
      src.where(!posDelete).join(eqKeys(src), Seq("l_orderkey"), "left_anti")
        .agg(count(lit(1)), sum(col("l_partkey"))).head())
    expected = (e.getLong(0), e.getLong(1))
  }

  private def read(run: Run): Unit =
    run.op("read") {
      val df = run.tr.span("mor.plan")(MorRead.readTable(run.spark, dir.getAbsolutePath,
        Seq("l_orderkey")))
      run.tr.span("mor.exec") {
        val r = df.agg(count(lit(1)), sum(col("l_partkey"))).head()
        (r.getLong(0), r.getLong(1))
      }
    } { got => if (got == expected) None else Some(s"survivors (count, sum) = $got, expected $expected") }

  def warmup(run: Run): Unit = (0 until warmupReads).foreach(_ => read(run))

  def loop(run: Run, deadline: Long): Window = {
    val t0 = Workload.now
    var n = 0
    while (Workload.now < deadline) { read(run); n += 1 }
    Window("read", n.toDouble * rows, "rows scanned", (Workload.now - t0) / 1e9)
  }
}
