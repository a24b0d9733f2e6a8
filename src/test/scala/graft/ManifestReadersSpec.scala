package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

import graft.sources.{IcebergLayoutWriter, IcebergManifestSource, LayoutMaintenance, MetadataTables}
import graft.sources.IcebergLayoutWriter.ManifestEntrySpec
import graft.sources.IcebergManifestSource.ManifestListRow

/** The manifest readers share one driver-or-cluster fork, decided by the
  * manifests' summed `manifest_length`. Each seeded layout is read by
  * both arms — the manifest-list rows as written (driver), and the same
  * rows listed past the byte bound (one task per manifest) — and the
  * stats, `$entries` and diagnosis relations must hold the same rows. */
class ManifestReadersSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val root = new java.io.File(TestTmp.dir("graft-manifest-readers"))
  private val Snapshot = 7L // the fixture dialect's list sequence number too
  private val fields = Seq[(Int, String, DataType)]((1, "x", LongType), (2, "y", DoubleType))

  /** A layout with two partition specs, null ADDED sequence numbers,
    * DELETED entries, both delete contents, column bounds, and one file
    * listed in three data manifests: ADDED in one, EXISTING in two. */
  private def seeded(seed: Int): java.io.File = {
    val r = new scala.util.Random(seed)
    val entries = (0 until 60 + r.nextInt(60)).map { i =>
      val spec = r.nextInt(2)
      val status = Seq(0, 1, 1, 2)(r.nextInt(4))
      val content = if (r.nextInt(8) == 0) 1 + r.nextInt(2) else 0
      val x = r.nextInt(1000).toLong
      ManifestEntrySpec(status = status, content = content, filePath = s"data/f-$i.parquet",
        partition = ("p" -> r.nextInt(4)) +: (if (spec == 1) Seq("q" -> s"v${r.nextInt(3)}") else Nil),
        recordCount = 1L + r.nextInt(100), sizeBytes = 1L + r.nextInt(1 << 20),
        sequenceNumber = if (status == 1) null else Long.box(1L + r.nextInt(Snapshot.toInt)),
        lower = Map(1 -> IcebergLayoutWriter.boundLong(x), 2 -> IcebergLayoutWriter.boundDouble(x / 3.0)),
        upper = Map(1 -> IcebergLayoutWriter.boundLong(x + 9)),
        valueCounts = Map(1 -> 10L), specId = spec, manifestGroup = r.nextInt(3),
        equalityIds = if (content == 2) Seq(1) else Nil, firstRowId = Long.box(i * 100L))
    }
    def dup(status: Int, group: Int) = ManifestEntrySpec(status = status, content = 0,
      filePath = "data/dup.parquet", partition = Seq("p" -> 0), recordCount = 5L, sizeBytes = 500L,
      sequenceNumber = if (status == 1) null else Long.box(Snapshot), specId = 0,
      manifestGroup = group, firstRowId = Long.box(-1L))
    val dir = new java.io.File(root, s"seeded-$seed")
    IcebergLayoutWriter.writeTableSnapshots(dir,
      Seq(Snapshot -> (entries ++ Seq(dup(1, 0), dup(0, 1), dup(0, 2)))),
      partitionSpecs = Seq(Seq(("p", "identity", 1)), Seq(("p", "identity", 1), ("q", "identity", 2))),
      assignRowIds = false)
    dir
  }

  private def manifests(dir: java.io.File): Seq[ManifestListRow] =
    IcebergManifestSource.manifestList(spark.sparkContext.hadoopConfiguration,
      IcebergManifestSource.manifestListPath(spark, dir.getPath).get)

  private def sorted(rows: Seq[Row]): Seq[String] = rows.map(_.toSeq.mkString("|")).sorted

  /** Collects `read` over the rows as written and over the same rows past
    * the byte bound: the first must run no Spark job, the second at least
    * one, and both must give the same rows. Returns the driver arm's. */
  private def bothArms(ms: Seq[ManifestListRow])(read: Seq[ManifestListRow] => DataFrame): Seq[Row] = {
    assert(ms.map(_.length).sum <= IcebergManifestSource.DriverManifestBytes)
    var local = Seq.empty[Row]
    val localJobs = SparkSpec.jobsDuring(spark) { local = read(ms).collect().toSeq }
    assert(localJobs == 0, s"the driver arm launched $localJobs Spark jobs")
    var dist = Seq.empty[Row]
    val distJobs = SparkSpec.jobsDuring(spark) {
      dist = read(ms.map(_.copy(length = IcebergManifestSource.DriverManifestBytes + 1))).collect().toSeq
    }
    assert(distJobs >= 1, "the cluster arm ran no job")
    assert(sorted(local) == sorted(dist))
    local
  }

  test("stats, $entries and diagnosis readers give the same rows on both arms") {
    (1 to 4).foreach { seed =>
      val ms = manifests(seeded(seed))
      assert(ms.map(_.specId).toSet == Set(0, 1))
      def stats(dedupe: Boolean) = bothArms(ms)(IcebergManifestSource
        .statsFromManifestRows(spark, _, "t", fields, dedupeByFilePath = dedupe))
      val all = stats(dedupe = false)
      val dups = all.filter(_.getAs[String]("file_path").endsWith("/dup.parquet"))
      // the ADDED entry's null sequence number inherits the list's
      assert(dups.size == 3 && dups.forall(_.getAs[Long]("sequence_number") == Snapshot))
      val deduped = stats(dedupe = true)
      assert(deduped.size == all.size - 2)
      assert(deduped.map(_.getAs[String]("file_path")).distinct.size == deduped.size)

      def entries(distinct: Boolean) = bothArms(ms)(IcebergManifestSource
        .entriesFromManifests(spark, _, fields, distinctRows = distinct))
      val rows = entries(distinct = false)
      assert(rows.map(_.getAs[Int]("status")).toSet == Set(0, 1, 2))
      // the two EXISTING rows of dup.parquet are one distinct row
      assert(entries(distinct = true).size == rows.size - 1)

      bothArms(ms)(IcebergManifestSource.entriesOf(spark, _, "t").toDF())
    }
  }

  test("a 40-manifest table of ~1 MB is read on the driver by the stats and $entries readers") {
    val entries = (0 until 18000).map(i => ManifestEntrySpec(status = 1, content = 0,
      filePath = s"data/f-$i.parquet", partition = Seq("p" -> i % 8), recordCount = 1L,
      sizeBytes = 1L + i, manifestGroup = i % 40))
    val dir = new java.io.File(root, "forty")
    IcebergLayoutWriter.writeTable(dir, entries, partitionSpec = Seq(("p", "identity", 1)))
    val ms = manifests(dir)
    val bytes = ms.map(_.length).sum
    assert(ms.size == 40 && bytes > (512L << 10) && bytes <= IcebergManifestSource.DriverManifestBytes,
      s"${ms.size} manifests, $bytes bytes")
    var n = 0L
    assert(SparkSpec.jobsDuring(spark) {
      n = IcebergManifestSource.statsFromTableDir(spark, dir.getPath, "t", Nil).collect().length
    } == 0)
    assert(n == entries.size)
    assert(SparkSpec.jobsDuring(spark) {
      n = MetadataTables.entries(spark, dir.getPath).collect().length
    } == 0)
    assert(n == entries.size)
  }

  test("resolving one live data file closes every manifest reader it opens") {
    val fd = new java.io.File("/proc/self/fd")
    assume(fd.isDirectory, "no /proc/self/fd on this platform")
    val dir = new java.io.File(root, "first-file")
    IcebergLayoutWriter.writeTable(dir, (0 until 50).map(i => ManifestEntrySpec(status = 1,
      content = 0, filePath = s"data/f-$i.parquet", recordCount = 1L, sizeBytes = 10L,
      manifestGroup = i % 2)))
    def first() = LayoutMaintenance.firstDataFilePath(spark, dir.getPath, 1L)
    // descriptors open on the table's own files: other threads' files
    // do not count, and the collector may close a leaked one at any time
    def openOnTable(): Int = fd.listFiles().count(f =>
      scala.util.Try(java.nio.file.Files.readSymbolicLink(f.toPath).toString).toOption
        .exists(_.startsWith(dir.getCanonicalPath + "/")))
    assert(first().exists(_.endsWith("/f-0.parquet")))
    val before = openOnTable()
    (1 to 300).foreach(_ => first())
    val after = openOnTable()
    assert(after <= before, s"300 lookups left ${after - before} more descriptors open on the table")
  }
}
