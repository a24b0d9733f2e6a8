package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One reader per Iceberg metadata file, pinned at the source level.
  * Under `src/main/scala/graft/sources`:
  *   - a JSON tree parse (`readTree(`) happens only in
  *     `IcebergManifestSource.readDocument`, the reader of every stored
  *     table document, or in one of the allowlisted parsers of JSON
  *     strings that are not stored documents (partition keys, the Puffin
  *     footer payload);
  *   - a manifest list is opened only by the one decoder,
  *     `IcebergManifestSource.manifestList`, and by the two writers that
  *     copy raw list records so foreign list schemas survive;
  *   - a stored file is rewritten only by `LayoutMaintenance.writeAtomic`
  *     (temp file, then atomic move): a `Files.write(` elsewhere is
  *     allowed only for a file's first write;
  *   - the manifest readers choose driver or cluster at one site,
  *     `IcebergManifestSource.manifestRows`, by a byte bound that no
  *     session key overrides.
  * A new site fails here, named by file and enclosing member. */
class MetadataReaderGuardSpec extends AnyFunSuite {
  private val root = new java.io.File("src/main/scala/graft/sources")

  /** A member of an object or class body (two-space indent). */
  private val Member =
    """^  (?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|lazy\s+|implicit\s+|case\s+)*(?:def|val|var|class|object|trait)\s+(\w+)""".r

  /** `File.member` of every code line under `root` for which
    * `hit(line, nextLine)` holds. */
  private def sites(hit: (String, String) => Boolean): Set[String] =
    siteLines(hit).toSet

  /** [[sites]] with one element per hit line. */
  private def siteLines(hit: (String, String) => Boolean): Seq[String] = {
    val files = org.apache.commons.io.FileUtils
      .listFiles(root, Array("scala"), true).asScala.toSeq
    assert(files.nonEmpty, s"no sources under ${root.getAbsolutePath}")
    files.flatMap { f =>
      val lines = java.nio.file.Files.readAllLines(f.toPath).asScala.toIndexedSeq
      var member = "<top>"
      lines.indices.flatMap { i =>
        Member.findFirstMatchIn(lines(i)).foreach(m => member = m.group(1))
        val code = lines(i).trim
        val comment = code.startsWith("*") || code.startsWith("/*") ||
          code.startsWith("//") || code.startsWith("import ")
        if (!comment && hit(lines(i), lines.lift(i + 1).getOrElse("")))
          Some(s"${f.getName.stripSuffix(".scala")}.$member")
        else None
      }
    }
  }

  test("JSON trees are parsed only by readDocument and the allowlisted string parsers") {
    val allowed = Set(
      "IcebergManifestSource.readDocument",
      // partition-key JSON strings carried on manifest entries
      "GraftIcebergSource.parsePartitionKey",
      "LayoutMaintenance.partitionPairsOf",
      // the JSON payload inside a Puffin file's footer
      "PuffinIO.read")
    assert(sites((l, _) => l.contains("readTree(")) == allowed)
  }

  test("manifest lists are decoded only by manifestList and copied only by the two list writers") {
    val opens = Seq("DataFileReader[", "DataFileReader(",
      "DataFileReader.openReader(", "readAvroIterator(")
    val found = sites { (l, next) =>
      l.contains("get(\"manifest_path\")") ||
        opens.exists(o => l.contains(o) &&
          (l.substring(l.indexOf(o)) + next).toLowerCase.contains("list"))
    }
    assert(found == Set(
      "IcebergManifestSource.manifestList",
      "IcebergLayoutWriter.filterManifestList",
      "IcebergLayoutWriter.copyManifestListAbsolute"))
  }

  test("stored files are rewritten only through writeAtomic") {
    val found = sites((l, _) =>
      Seq("Files.write(", "Files.writeString(").exists(l.contains))
    assert(found == Set(
      "LayoutMaintenance.writeAtomic",
      // first writes: CREATE_NEW of the next metadata version, and the
      // v1 metadata of a freshly written layout
      "LayoutMaintenance.commitMetadata",
      "IcebergLayoutWriter.writeTableFromList",
      "IcebergLayoutWriter.writeTableSnapshots"))
  }

  test("manifest readers fork driver-or-cluster at one site, under no session key") {
    assert(siteLines((l, _) => l.contains("parallelize("))
      .filter(_.startsWith("IcebergManifestSource.")) == Seq("IcebergManifestSource.manifestRows"))
    val deletedKeys = Seq("spark.graft.driverManifestStats", "spark.graft.driverTombstoneBytes")
    val naming = org.apache.commons.io.FileUtils
      .listFiles(new java.io.File("src/main"), null, true).asScala.toSeq
      .filter(f => deletedKeys.exists(
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").contains(_)))
    assert(naming.isEmpty, s"a deleted session key is named in ${naming.mkString(", ")}")
  }
}
