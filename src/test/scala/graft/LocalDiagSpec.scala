package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.metrics.MetricsCalculator
import graft.model.{FileEntry, PartitionStats, TableMetricsWide}
import graft.sources.{IcebergLayoutWriter, IcebergManifestSource}
import graft.sources.IcebergLayoutWriter.ManifestEntrySpec

/** The diagnosis of a metadata-sized table runs on the driver: below the
  * manifest byte bound `fromTableDir` reads the manifests into a local relation
  * and `computeMetricsWide` folds it in plain Scala, with no Spark job.
  * Each seeded layout is diagnosed by both arms — the driver fold, and
  * the distributed manifest read plus the Spark plan — and the two
  * `TableMetricsWide` rows must agree in every field. */
class LocalDiagSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val MiB = 1024L * 1024
  private val root = new java.io.File(TestTmp.dir("graft-localdiag"))

  private def layout(name: String, entries: Seq[ManifestEntrySpec]): java.io.File = {
    val dir = new java.io.File(root, name)
    IcebergLayoutWriter.writeTable(dir, entries, partitionSpec = Seq(("p", "identity", 1)))
    dir
  }

  private def entry(i: Int, p: Any, size: Long, content: Int = 0,
      group: Int = 0, status: Int = 1): ManifestEntrySpec =
    ManifestEntrySpec(status = status, content = content,
      filePath = s"data/f-$i.parquet", partition = Seq("p" -> p), recordCount = 1L,
      sizeBytes = size, equalityIds = if (content == 2) Seq(1) else Nil,
      manifestGroup = group)

  /** `diff` of two rows: the names of the fields that differ. */
  private def diff(a: TableMetricsWide, b: TableMetricsWide): Seq[String] =
    a.productElementNames.zip(a.productIterator.zip(b.productIterator))
      .collect { case (n, (x, y)) if x != y => s"$n: $x vs $y" }.toSeq

  private def assertSame(local: Seq[TableMetricsWide], dist: Seq[TableMetricsWide]): Unit = {
    assert(local.map(_.table).sorted == dist.map(_.table).sorted)
    val byTable = dist.map(w => w.table -> w).toMap
    local.foreach { w =>
      val d = diff(w, byTable(w.table))
      assert(d.isEmpty, s"${w.table}: driver and Spark arms differ in ${d.mkString(", ")}")
    }
  }

  /** Diagnoses `dir` through both arms; the driver arm must run no job
    * and the Spark arm at least one. Returns the driver arm's row. */
  private def bothArms(dir: java.io.File, table: String): TableMetricsWide = {
    import spark.implicits._
    var local: Seq[TableMetricsWide] = Nil
    val localJobs = SparkSpec.jobsDuring(spark) {
      val (files, n) = IcebergManifestSource.fromTableDir(spark, dir.getPath, table)
      local = MetricsCalculator.computeMetricsWide(files, Seq((table, n)).toDS()).collect().toSeq
    }
    assert(localJobs == 0, s"$table: the driver arm launched $localJobs Spark jobs")
    var dist: Seq[TableMetricsWide] = Nil
    val distJobs = SparkSpec.jobsDuring(spark) {
      // manifests listed past the byte bound take the cluster arm
      val manifests = IcebergManifestSource.manifestListPath(spark, dir.getPath).toSeq
        .flatMap(IcebergManifestSource.manifestList(spark.sparkContext.hadoopConfiguration, _))
        .map(_.copy(length = IcebergManifestSource.DriverManifestBytes + 1))
      val files = IcebergManifestSource.entriesOf(spark, manifests, table)
      dist = MetricsCalculator.tableMetrics(MetricsCalculator.partitionStats(files),
        Seq((table, manifests.size.toLong)).toDS()).collect().toSeq
    }
    assert(distJobs >= 1, s"$table: the Spark arm ran no job")
    assertSame(local, dist)
    assert(local.size == 1)
    local.head
  }

  test("driver and Spark arms agree field by field on seeded layouts") {
    (1 to 6).foreach { seed =>
      val r = new scala.util.Random(seed)
      val entries = (0 until 40 + r.nextInt(120)).map { i =>
        val content = if (r.nextInt(20) == 0) 1 + r.nextInt(2) else 0
        // sizes up to 2 GiB: some files alone overshoot the 750 MiB cap
        entry(i, r.nextInt(8), 1L + (r.nextDouble() * r.nextDouble() * 2048 * MiB).toLong,
          content, group = if (content == 0) i % 3 else 0)
      }
      bothArms(layout(s"seeded-$seed", entries), s"seeded_$seed")
    }
  }

  test("an empty snapshot gives the manifest-seeded row on both arms") {
    // every entry DELETED: the manifests are counted, no file is live
    val dir = layout("empty", (0 until 4).map(i => entry(i, i, MiB, group = i, status = 2)))
    val w = bothArms(dir, "empty")
    assert(w == TableMetricsWide("empty", 4L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0.0, 0.0, 0L, 0L, 0L))
  }

  test("delete-only partitions, oversize files and argmax ties agree on both arms") {
    val entries = Seq(
      // p=0: deletes only — no data groups, reduction = file count
      entry(0, 0, 5 * MiB, content = 2), entry(1, 0, 7 * MiB, content = 1),
      // p=1: (3 files, 1 group), reduction 2
      entry(2, 1, MiB), entry(3, 1, MiB), entry(4, 1, MiB, group = 1),
      // p=2: (4 files, 2 groups) — the 1 GiB files overshoot the cap —
      // reduction 2 as well; the larger key wins the tie
      entry(5, 2, MiB), entry(6, 2, MiB), entry(7, 2, 1024 * MiB, group = 1),
      entry(8, 2, 1024 * MiB, group = 2),
      // p=3: one 3 GiB file, reduction 0
      entry(9, 3, 3072 * MiB))
    val w = bothArms(layout("ties", entries), "ties")
    assert((w.worstFileCountBefore, w.worstFileCountAfter) == (4L, 2L))
    assert(w.fileCountBefore == 10L && w.totalPartitions == 4L)
  }

  test("a non-ASCII partition key tie goes to the larger UTF-8 key on both arms") {
    // U+FF01 sorts above U+1F600 as UTF-16 code units but below it as
    // UTF-8 bytes, the order Spark's max(struct) and max_by use
    val entries = Seq(
      entry(0, "！", MiB), entry(1, "！", MiB), entry(2, "！", MiB),
      entry(3, "😀", MiB), entry(4, "😀", MiB),
      entry(5, "😀", 1024 * MiB), entry(6, "😀", 1024 * MiB, group = 1))
    val w = bothArms(layout("utf8", entries), "utf8")
    assert((w.worstFileCountBefore, w.worstFileCountAfter) == (4L, 2L))
  }

  test("a two-table local input with an empty-snapshot table agrees with the Spark plan") {
    import spark.implicits._
    val a = (0 until 30).map(i => FileEntry("a", if (i % 7 == 0) 2 else 0, s"p${i % 4}", (i + 1) * 37 * MiB))
    val b = (0 until 20).map(i => FileEntry("b", 0, s"q${i % 3}", (i + 1) * 90 * MiB))
    val files = spark.createDataset(a ++ b)
    val mc = Seq(("a", 3L), ("b", 2L), ("none", 5L)).toDS()
    var local: Seq[TableMetricsWide] = Nil
    assert(SparkSpec.jobsDuring(spark) {
      local = MetricsCalculator.computeMetricsWide(files, mc).collect().toSeq
    } == 0)
    val dist = MetricsCalculator.tableMetrics(MetricsCalculator.partitionStats(files), mc)
      .collect().toSeq
    assertSame(local, dist)
    assert(local.map(_.table).toSet == Set("a", "b", "none"))
  }

  test("rollup sums fail on overflow on both arms") {
    import spark.implicits._
    val parts = Seq(
      PartitionStats("t", "p1", 1L, Long.MaxValue, 1L, 1L, Long.MaxValue, 1L, 1L),
      PartitionStats("t", "p2", 1L, Long.MaxValue, 1L, 1L, Long.MaxValue, 1L, 1L))
    intercept[ArithmeticException](MetricsCalculator.localTableMetrics(parts, Seq(("t", 1L))))
    val e = intercept[Exception](MetricsCalculator.tableMetrics(
      spark.createDataset(parts), Seq(("t", 1L)).toDS()).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ArithmeticException]), e)
  }

  test("metadata-sized tables are diagnosed with 0 Spark jobs, a table past both caps with some") {
    import spark.implicits._
    def diagnoseJobs(dir: java.io.File): Int = SparkSpec.jobsDuring(spark) {
      val (files, n) = IcebergManifestSource.fromTableDir(spark, dir.getPath, "t")
      MetricsCalculator.computeMetricsWide(files, Seq(("t", n)).toDS()).collect()
    }
    def manifests(dir: java.io.File) = IcebergManifestSource.manifestList(
      spark.sparkContext.hadoopConfiguration,
      IcebergManifestSource.manifestListPath(spark, dir.getPath).get)
    val four = layout("four", (0 until 80).map(i =>
      if (i < 4) entry(i, i % 8, MiB, content = 2) else entry(i, i % 8, (i + 1) * MiB, group = i % 3)))
    assert(manifests(four).size == 4)
    assert(diagnoseJobs(four) == 0)
    // past the count cap but under the byte bound: still on the driver
    val many = layout("many", (0 until 400).map(i => entry(i, i % 8, (i + 1) * MiB, group = i % 40)))
    assert(manifests(many).size == 40)
    assert(diagnoseJobs(many) == 0)
    assert(SparkSpec.jobsDuring(spark)(IcebergManifestSource.fromManifests(
      spark, manifests(many).map(_.path), "t").collect()) == 0)
    val deep = layout("deep", (0 until 100000).map(i => entry(i, i % 8, (i % 500 + 1) * MiB, group = i % 40)))
    assert(manifests(deep).size == 40 &&
      manifests(deep).map(_.length).sum > IcebergManifestSource.DriverManifestBytes)
    assert(diagnoseJobs(deep) >= 1)
  }

  test("the driver fold reproduces the BASELINE golden canary") {
    import spark.implicits._
    val parts = Array("partition1", "partition2", "partition3")
    val entries = (1 to 300).flatMap { i =>
      val p = parts(i % 3)
      val deletes = (i % 3) match {
        case 0 => Seq(10L, 5L)
        case 1 => Seq(20L)
        case _ => Seq(5L, 5L, 10L)
      }
      entry(i * 4, p, (12 + i % 13) * MiB, group = i % 5) +:
        deletes.zipWithIndex.map { case (s, j) => entry(i * 4 + j + 1, p, s * MiB, content = 2, group = i % 5) }
    }
    val w = bothArms(layout("golden", entries), "golden")
    assert((w.fileCountBefore, w.fileCountAfter, w.worstFileCountBefore, w.worstFileCountAfter,
      w.fullScanOverheadBefore, w.fullScanOverheadAfter) == (900L, 9L, 400L, 3L, 1810L, 180L))
  }
}
