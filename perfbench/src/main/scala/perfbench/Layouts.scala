package perfbench

import java.io.File

import graft.sources.IcebergLayoutWriter
import graft.sources.IcebergLayoutWriter.ManifestEntrySpec

/** What a diagnosis of a generated layout must report, computed from the
  * generator's own entry list with plain arithmetic (the reference's cost
  * model: `size / 32 MiB + 2` read ops per file, 1 ms per op and per
  * manifest) — never through the engine under test. `manifests` is None
  * once commits have re-shaped the manifest set. */
final case class Expected(fileCount: Long, totalSize: Long, partitions: Long,
    readOps: Long, manifests: Option[Long]) {

  /** The state after `added` data files are committed. */
  def plus(added: Seq[ManifestEntrySpec], partitionsNow: Long): Expected =
    Expected(fileCount + added.size, totalSize + added.map(_.sizeBytes).sum,
      partitionsNow, readOps + added.map(e => Layouts.readOps(e.sizeBytes)).sum, None)
}

object Expected {
  def of(entries: Seq[ManifestEntrySpec], manifests: Long): Expected =
    Expected(entries.size.toLong, entries.map(_.sizeBytes).sum,
      entries.map(_.partition).distinct.size.toLong,
      entries.map(e => Layouts.readOps(e.sizeBytes)).sum, Some(manifests))
}

/** Seeded layout generators. Every table is a real Iceberg layout on disk
  * (metadata JSON, version hint, manifest list, Avro manifests) written
  * through [[IcebergLayoutWriter]]; data-file paths in metadata-only
  * layouts name files that are never read. */
object Layouts {
  val MiB: Long = 1024L * 1024
  val FetchSize: Long = 32 * MiB

  def readOps(size: Long): Long = size / FetchSize + 2

  /** Log-uniform size in [lo, hi). */
  def logSize(r: java.util.SplittableRandom, lo: Long, hi: Long): Long =
    math.exp(math.log(lo.toDouble) +
      r.nextDouble() * (math.log(hi.toDouble) - math.log(lo.toDouble))).toLong

  private val partitionCache = scala.collection.mutable.HashMap.empty[Int, Seq[(String, Any)]]
  def part(p: Int): Seq[(String, Any)] =
    partitionCache.getOrElseUpdate(p, Seq("p" -> p))

  val IdentitySpec: Seq[(String, String, Int)] = Seq(("p", "identity", 1))

  /** catalog_diag: one small table. 40–160 entries over 8 partitions,
    * ~5% equality deletes; 3 data manifests + 1 delete manifest. */
  def catalogTable(dir: File, r: java.util.SplittableRandom): Expected = {
    val n = 40 + r.nextInt(121)
    val nDel = math.max(1, math.round(n * 0.05).toInt)
    val entries = (0 until n).map { i =>
      if (i < nDel)
        ManifestEntrySpec(status = 1, content = 2, filePath = s"data/eq-$i.parquet",
          partition = part(r.nextInt(8)), recordCount = 10L,
          sizeBytes = logSize(r, 4L * 1024, 8 * MiB), equalityIds = Seq(1))
      else
        ManifestEntrySpec(status = 1, content = 0, filePath = s"data/f-$i.parquet",
          partition = part(r.nextInt(8)), recordCount = 1000L,
          sizeBytes = logSize(r, MiB, 512 * MiB), manifestGroup = i % 3)
    }
    IcebergLayoutWriter.writeTable(dir, entries, partitionSpec = IdentitySpec)
    Expected.of(entries, 4)
  }

  /** deep_table_diag: `entries` entries in `manifests` manifests over
    * `partitions` partitions. Partition choice is Zipf-skewed (s = 1), so
    * the head partitions pack many 750 MiB groups while the tail stays
    * under one; 2% of entries are equality deletes in 4 delete manifests. */
  def deepTable(dir: File, r: java.util.SplittableRandom, entries: Int,
      manifests: Int, partitions: Int): Expected = {
    val cdf = {
      val w = (1 to partitions).map(k => 1.0 / k)
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def zipf(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, partitions - 1)
    }
    val dataManifests = manifests - 4
    val specs = (0 until entries).map { i =>
      if (r.nextInt(50) == 0)
        ManifestEntrySpec(status = 1, content = 2, filePath = s"data/eq-$i.parquet",
          partition = part(zipf()), recordCount = 10L,
          sizeBytes = logSize(r, 4L * 1024, 4 * MiB), equalityIds = Seq(1),
          manifestGroup = i % 4)
      else
        ManifestEntrySpec(status = 1, content = 0, filePath = s"data/f-$i.parquet",
          partition = part(zipf()), recordCount = 1000L,
          sizeBytes = logSize(r, 64L * 1024, 16 * MiB),
          manifestGroup = i % dataManifests)
    }
    IcebergLayoutWriter.writeTable(dir, specs, partitionSpec = IdentitySpec)
    Expected.of(specs, manifests.toLong)
  }

  /** append_mix base table: data files only (so an executed compaction
    * may pack every file, as the simulation does), 64 partitions. */
  def appendBase(dir: File, r: java.util.SplittableRandom, entries: Int)
      : (Expected, Set[Int]) = {
    val specs = (0 until entries).map { i =>
      ManifestEntrySpec(status = 1, content = 0, filePath = s"data/f-$i.parquet",
        partition = part(r.nextInt(64)), recordCount = 1000L,
        sizeBytes = logSize(r, 256L * 1024, 64 * MiB), manifestGroup = i % 8)
    }
    IcebergLayoutWriter.writeTable(dir, specs, partitionSpec = IdentitySpec)
    (Expected.of(specs, 8), specs.map(_.partition.head._2.asInstanceOf[Int]).toSet)
  }

  /** The data files of one append_mix commit. */
  def appendBatch(r: java.util.SplittableRandom, commit: Int, files: Int): Seq[ManifestEntrySpec] =
    (0 until files).map { i =>
      ManifestEntrySpec(status = 1, content = 0,
        filePath = s"data/add-$commit-$i.parquet",
        partition = part(r.nextInt(64)), recordCount = 1000L,
        sizeBytes = logSize(r, 256L * 1024, 64 * MiB))
    }

  /** BASELINE.md's calculator fixture as a real layout: 300 data + 600
    * equality-delete files over 3 partitions (300/200/400 files) in 10
    * manifests (5 data + 5 delete). */
  def goldenTable(dir: File): Unit = {
    val parts = Array("partition1", "partition2", "partition3")
    val entries = (1 to 300).flatMap { i =>
      val p = Seq("p" -> parts(i % 3))
      val g = i % 5
      val data = ManifestEntrySpec(status = 1, content = 0, filePath = s"data/d-$i.parquet",
        partition = p, recordCount = 1L, sizeBytes = (12 + i % 13) * MiB, manifestGroup = g)
      val deletes = (i % 3) match {
        case 0 => Seq(10L * MiB, 5L * MiB)
        case 1 => Seq(20L * MiB)
        case _ => Seq(5L * MiB, 5L * MiB, 10L * MiB)
      }
      data +: deletes.zipWithIndex.map { case (s, j) =>
        ManifestEntrySpec(status = 1, content = 2, filePath = s"data/e-$i-$j.parquet",
          partition = p, recordCount = 1L, sizeBytes = s, equalityIds = Seq(1),
          manifestGroup = g)
      }
    }
    IcebergLayoutWriter.writeTable(dir, entries, partitionSpec = IdentitySpec)
  }
}
