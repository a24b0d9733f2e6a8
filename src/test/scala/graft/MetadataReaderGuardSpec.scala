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
  *     copy raw list records so foreign list schemas survive.
  * A new site fails here, named by file and enclosing member. */
class MetadataReaderGuardSpec extends AnyFunSuite {
  private val root = new java.io.File("src/main/scala/graft/sources")

  /** A member of an object or class body (two-space indent). */
  private val Member =
    """^  (?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|lazy\s+|implicit\s+|case\s+)*(?:def|val|var|class|object|trait)\s+(\w+)""".r

  /** `File.member` of every code line under `root` for which
    * `hit(line, nextLine)` holds. */
  private def sites(hit: (String, String) => Boolean): Set[String] = {
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
    }.toSet
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
}
