package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.avro.{Schema, SchemaBuilder}
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.functions._
import graft.model.{FileContent, FileEntry}
import graft.metrics.MetricsCalculator
import graft.sources.{FileEntrySource, IcebergManifestSource}

/** S5 ground truth: a REAL Iceberg manifest fixture — a manifest list
  * referencing one v2 manifest (data + delete files + one DELETED-status
  * entry that must be discarded) and one v1 manifest (no `content`
  * field) — read back via the Avro manifest source must yield the same
  * FileEntry relation, and the same 9-metric output, as the synthetic
  * `fromDataFrame` path on identical entries. */
class IcebergManifestSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private val dir = {
    val d = new java.io.File("target/tmp-manifests")
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    d.mkdirs(); d
  }

  // ---- Avro schemas: the minimal manifest_entry/manifest_file shapes the
  // reader touches (real manifests carry more columns; GenericRecord
  // access by name ignores extras, so the subset is the honest contract)
  private val partSchema: Schema = SchemaBuilder.record("r102").fields()
    .requiredInt("day").requiredString("region").endRecord()

  private def dataFileSchema(v2: Boolean): Schema = {
    val b = SchemaBuilder.record("data_file").fields()
    val withContent = if (v2) b.requiredInt("content") else b
    withContent
      .requiredString("file_path").requiredString("file_format")
      .name("partition").`type`(partSchema).noDefault()
      .requiredLong("record_count").requiredLong("file_size_in_bytes")
      .endRecord()
  }

  private def entrySchema(v2: Boolean): Schema = SchemaBuilder.record("manifest_entry").fields()
    .requiredInt("status")
    .name("data_file").`type`(dataFileSchema(v2)).noDefault()
    .endRecord()

  private val listSchema: Schema = SchemaBuilder.record("manifest_file").fields()
    .requiredString("manifest_path").requiredLong("manifest_length")
    .requiredLong("added_snapshot_id").endRecord()

  private def part(day: Int, region: String): GenericRecord = {
    val r = new GenericData.Record(partSchema)
    r.put("day", day); r.put("region", region); r
  }

  private def entry(v2: Boolean, status: Int, content: Int, p: GenericRecord,
      size: Long, idx: Int): GenericRecord = {
    val dfs = dataFileSchema(v2)
    val df = new GenericData.Record(dfs)
    if (v2) df.put("content", content)
    df.put("file_path", s"s3://bucket/tbl/data/f$idx.parquet")
    df.put("file_format", "PARQUET")
    df.put("partition", p)
    df.put("record_count", 100L)
    df.put("file_size_in_bytes", size)
    val e = new GenericData.Record(entrySchema(v2))
    e.put("status", status); e.put("data_file", df); e
  }

  private def writeAvro(file: java.io.File, schema: Schema,
      records: Seq[GenericRecord]): Unit = {
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, file)
    try records.foreach(w.append) finally w.close()
  }

  // fixture: manifest A (v2) — two data files + one delete file in day=1/eu,
  // one data file in day=2/us, one DELETED-status entry (must vanish);
  // manifest B (v1, no content field) — two data files in day=2/us
  private def writeFixture(): String = {
    val mA = new java.io.File(dir, "manifest-a.avro")
    writeAvro(mA, entrySchema(v2 = true), Seq(
      entry(v2 = true, status = 1, content = 0, part(1, "eu"), 100L, 1),
      entry(v2 = true, status = 0, content = 0, part(1, "eu"), 300L, 2),
      entry(v2 = true, status = 1, content = 1, part(1, "eu"), 40L, 3),
      entry(v2 = true, status = 1, content = 0, part(2, "us"), 900L, 4),
      entry(v2 = true, status = 2, content = 0, part(2, "us"), 555L, 5)))
    val mB = new java.io.File(dir, "manifest-b.avro")
    writeAvro(mB, entrySchema(v2 = false), Seq(
      entry(v2 = false, status = 1, content = 0, part(2, "us"), 700L, 6),
      entry(v2 = false, status = 0, content = 0, part(2, "us"), 1100L, 7)))
    val list = new java.io.File(dir, "snap-1-manifest-list.avro")
    val rows = Seq(mA, mB).map { f =>
      val r = new GenericData.Record(listSchema)
      r.put("manifest_path", f.getAbsolutePath)
      r.put("manifest_length", f.length())
      r.put("added_snapshot_id", 1L); r
    }
    writeAvro(list, listSchema, rows)
    list.getAbsolutePath
  }

  private def expected: Seq[FileEntry] = Seq(
    FileEntry("tbl", FileContent.Data, """{"day":1,"region":"eu"}""", 100L),
    FileEntry("tbl", FileContent.Data, """{"day":1,"region":"eu"}""", 300L),
    FileEntry("tbl", FileContent.PositionDeletes, """{"day":1,"region":"eu"}""", 40L),
    FileEntry("tbl", FileContent.Data, """{"day":2,"region":"us"}""", 900L),
    FileEntry("tbl", FileContent.Data, """{"day":2,"region":"us"}""", 700L),
    FileEntry("tbl", FileContent.Data, """{"day":2,"region":"us"}""", 1100L))

  test("partitionJson matches Spark to_json on awkward values") {
    import spark.implicits._
    val s: Schema = SchemaBuilder.record("p").fields()
      .requiredLong("n").requiredString("s").requiredBoolean("b").endRecord()
    val r = new GenericData.Record(s)
    r.put("n", 42L); r.put("s", """pa"th\x y"""); r.put("b", true)
    val mine = IcebergManifestSource.partitionJson(r)
    val sparkJson = Seq((42L, """pa"th\x y""", true)).toDF("n", "s", "b")
      .select(to_json(struct(col("n"), col("s"), col("b"))))
      .head.getString(0)
    assert(mine == sparkJson, s"$mine != $sparkJson")
  }

  test("manifest list + manifests round-trip to the exact FileEntry relation") {
    val listPath = writeFixture()
    val (files, nManifests) =
      IcebergManifestSource.fromManifestList(spark, listPath, "tbl")
    assert(nManifests == 2L)
    val got = files.collect().toSeq
      .sortBy(e => (e.partitionKey, e.content, e.sizeBytes))
    val want = expected.sortBy(e => (e.partitionKey, e.content, e.sizeBytes))
    assert(got == want)
  }

  test("fromTableDir resolves metadata.json -> current snapshot -> manifest list") {
    val listPath = writeFixture()
    val tblDir = new java.io.File(dir, "tbl_layout"); tblDir.mkdirs()
    val metaDir = new java.io.File(tblDir, "metadata"); metaDir.mkdirs()
    val json =
      s"""{
         |  "format-version": 2,
         |  "current-snapshot-id": 77,
         |  "snapshots": [
         |    {"snapshot-id": 11, "manifest-list": "/old/snap.avro"},
         |    {"snapshot-id": 77, "manifest-list": "$listPath"}
         |  ]
         |}""".stripMargin
    java.nio.file.Files.write(new java.io.File(metaDir, "v2.metadata.json").toPath,
      json.getBytes("UTF-8"))
    java.nio.file.Files.write(new java.io.File(metaDir, "version-hint.text").toPath,
      "2".getBytes("UTF-8"))
    val (files, n) = IcebergManifestSource.fromTableDir(spark, tblDir.getPath, "tbl")
    assert(n == 2L)
    assert(files.collect().toSeq.sortBy(e => (e.partitionKey, e.content, e.sizeBytes))
      == expected.sortBy(e => (e.partitionKey, e.content, e.sizeBytes)))
  }

  test("fromTableDir without version-hint picks v10 over v9 (numeric order)") {
    val listPath = writeFixture()
    val tblDir = new java.io.File(dir, "tbl_v10"); tblDir.mkdirs()
    val metaDir = new java.io.File(tblDir, "metadata"); metaDir.mkdirs()
    // v9 points at a DEAD path; only numeric ordering finds the live v10
    java.nio.file.Files.write(new java.io.File(metaDir, "v9.metadata.json").toPath,
      """{"current-snapshot-id": 1, "snapshots": [{"snapshot-id": 1, "manifest-list": "/dead/snap.avro"}]}"""
        .getBytes("UTF-8"))
    java.nio.file.Files.write(new java.io.File(metaDir, "v10.metadata.json").toPath,
      s"""{"current-snapshot-id": 2, "snapshots": [{"snapshot-id": 2, "manifest-list": "$listPath"}]}"""
        .getBytes("UTF-8"))
    val (files, n) = IcebergManifestSource.fromTableDir(spark, tblDir.getPath, "tbl")
    assert(n == 2L)
    assert(files.count() == expected.size.toLong)
  }

  test("fromTableDir: no current snapshot -> empty relation, 0 manifests") {
    val tblDir = new java.io.File(dir, "tbl_empty"); tblDir.mkdirs()
    val metaDir = new java.io.File(tblDir, "metadata"); metaDir.mkdirs()
    val json =
      """{"format-version": 2, "current-snapshot-id": -1, "snapshots": []}"""
    java.nio.file.Files.write(new java.io.File(metaDir, "v1.metadata.json").toPath,
      json.getBytes("UTF-8"))
    val (files, n) = IcebergManifestSource.fromTableDir(spark, tblDir.getPath, "tbl")
    assert(n == 0L)
    assert(files.count() == 0L)
    // the S6 fold: an empty relation + the table's manifest row still
    // yields one full all-zero metrics row (q98 gates the values)
    import spark.implicits._
    val wide = MetricsCalculator
      .computeMetricsWide(files, Seq(("tbl", n)).toDS()).collect()
    assert(wide.length == 1)
    assert(wide.head.fileCountBefore == 0L && wide.head.totalPartitions == 0L)
  }

  test("fromTableDir: version-hint holding a full metadata FILENAME still resolves") {
    // some writers store '00002-<uuid>.metadata.json' in version-hint.text
    // instead of a bare version integer — the source must not die on a
    // missing v<hint>.metadata.json
    val listPath = writeFixture()
    val tblDir = new java.io.File(dir, "tbl_hintname"); tblDir.mkdirs()
    val metaDir = new java.io.File(tblDir, "metadata"); metaDir.mkdirs()
    val name = "00002-deadbeef.metadata.json"
    java.nio.file.Files.write(new java.io.File(metaDir, name).toPath,
      s"""{"current-snapshot-id": 5, "snapshots": [{"snapshot-id": 5, "manifest-list": "$listPath"}]}"""
        .getBytes("UTF-8"))
    java.nio.file.Files.write(new java.io.File(metaDir, "version-hint.text").toPath,
      name.getBytes("UTF-8"))
    val (files, n) = IcebergManifestSource.fromTableDir(spark, tblDir.getPath, "tbl")
    assert(n == 2L)
    assert(files.count() == expected.size.toLong)
  }

  test("fromTableDir: DEAD numeric version-hint falls back to the listing") {
    val listPath = writeFixture()
    val tblDir = new java.io.File(dir, "tbl_deadhint"); tblDir.mkdirs()
    val metaDir = new java.io.File(tblDir, "metadata"); metaDir.mkdirs()
    // hint says 99 but only v3.metadata.json exists
    java.nio.file.Files.write(new java.io.File(metaDir, "v3.metadata.json").toPath,
      s"""{"current-snapshot-id": 5, "snapshots": [{"snapshot-id": 5, "manifest-list": "$listPath"}]}"""
        .getBytes("UTF-8"))
    java.nio.file.Files.write(new java.io.File(metaDir, "version-hint.text").toPath,
      "99".getBytes("UTF-8"))
    val (files, n) = IcebergManifestSource.fromTableDir(spark, tblDir.getPath, "tbl")
    assert(n == 2L)
    assert(files.count() == expected.size.toLong)
  }

  test("layout writer -> stats reader: record_count and bounds round-trip bit-exactly") {
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
    import graft.sources.IcebergLayoutWriter
    import graft.sources.IcebergLayoutWriter.ManifestEntrySpec
    val tblDir = new java.io.File(dir, "tbl_stats")
    IcebergLayoutWriter.writeTable(tblDir, Seq(
      ManifestEntrySpec(status = 1, content = 0, filePath = "a.parquet",
        recordCount = 42L, sizeBytes = 1000L,
        lower = Map(1 -> IcebergLayoutWriter.boundDouble(-3.75),
          2 -> IcebergLayoutWriter.boundLong(Long.MinValue + 1),
          3 -> IcebergLayoutWriter.boundString("aardvark")),
        upper = Map(1 -> IcebergLayoutWriter.boundDouble(9.5e12),
          2 -> IcebergLayoutWriter.boundLong(Long.MaxValue),
          3 -> IcebergLayoutWriter.boundString("zebra"))),
      // a file with NO bounds at all — lo/hi must surface as nulls
      ManifestEntrySpec(status = 0, content = 0, filePath = "b.parquet",
        recordCount = 7L, sizeBytes = 500L),
      // a delete file (content 1) — present in the stats relation too
      ManifestEntrySpec(status = 1, content = 1, filePath = "d.parquet",
        recordCount = 3L, sizeBytes = 60L)))
    val got = IcebergManifestSource.statsFromTableDir(spark, tblDir.getPath, "tbl",
        Seq((1, "x", DoubleType), (2, "y", LongType), (3, "s", StringType)))
      .collect().map { r =>
        def at(n: String) = Option(r.get(r.fieldIndex(n)))
        (r.getString(1), r.getInt(2), r.getLong(5),
          at("lo_x"), at("hi_x"), at("lo_y"), at("hi_y"),
          at("lo_s"), at("hi_s"))
      }
      .sortBy(_._1).toSeq
    assert(got == Seq(
      ("a.parquet", 0, 42L, Some(-3.75), Some(9.5e12),
        Some(Long.MinValue + 1), Some(Long.MaxValue),
        Some("aardvark"), Some("zebra")),
      ("b.parquet", 0, 7L, None, None, None, None, None, None),
      ("d.parquet", 1, 3L, None, None, None, None, None, None)))
  }

  test("stats reader on the MINIMAL fixture (no stats fields): zeros and nulls") {
    // the hand-written fixture manifests carry record_count but no bounds
    val listPath = writeFixture()
    import org.apache.spark.sql.types.LongType
    val paths = IcebergManifestSource.manifestPaths(
      spark.sparkContext.hadoopConfiguration, listPath)
    val got = IcebergManifestSource.statsFromManifests(spark, paths, "tbl",
      Seq((1, "k", LongType))).collect()
    assert(got.length == expected.size)
    assert(got.forall(_.getLong(5) == 100L)) // record_count from the fixture
    assert(got.forall(_.getLong(6) == 0L)) // no sequence_number field -> 0
    assert(got.forall(r => r.isNullAt(7) && r.isNullAt(8)))
  }

  test("null ADDED-entry sequence_number inherits from the manifest list (v2 inheritance)") {
    import graft.sources.IcebergLayoutWriter
    import graft.sources.IcebergLayoutWriter.ManifestEntrySpec
    val tblDir = new java.io.File(dir, "tbl_inherit")
    // snapshot id 7 doubles as the list sequence_number (writer dialect);
    // the ADDED entry leaves its own sequence_number NULL like real v2
    // writers do, the EXISTING one pins an explicit older value
    IcebergLayoutWriter.writeTable(tblDir, Seq(
      ManifestEntrySpec(status = 1, content = 0, filePath = "new.parquet",
        recordCount = 4L, sizeBytes = 400L, sequenceNumber = null),
      ManifestEntrySpec(status = 0, content = 0, filePath = "old.parquet",
        recordCount = 9L, sizeBytes = 900L, sequenceNumber = 3L)),
      snapshotId = 7L)
    val got = IcebergManifestSource.statsFromTableDir(spark, tblDir.getPath, "tbl", Nil)
      .collect().map(r => (r.getString(1), r.getLong(6))).sortBy(_._1).toSeq
    assert(got == Seq(("new.parquet", 7L), ("old.parquet", 3L)),
      "ADDED inherits the list sequence_number; explicit values win")
  }

  test("null sequence_number on a non-ADDED entry fails loudly, not seq=0") {
    import graft.sources.IcebergLayoutWriter
    import graft.sources.IcebergLayoutWriter.ManifestEntrySpec
    val tblDir = new java.io.File(dir, "tbl_badseq")
    IcebergLayoutWriter.writeTable(tblDir, Seq(
      ManifestEntrySpec(status = 0, content = 0, filePath = "orphan.parquet",
        recordCount = 1L, sizeBytes = 10L, sequenceNumber = null)))
    // small tables read their manifests DRIVER-side (LocalRelation arm),
    // so the loud failure surfaces directly; past the driver cap it
    // arrives wrapped in a SparkException — both carry the message
    val e = intercept[Exception] {
      IcebergManifestSource.statsFromTableDir(spark, tblDir.getPath, "tbl", Nil).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("sequence_number")), msgs(e).toString)
  }

  test("multi-snapshot layout: snapshot-pinned reads time-travel, unpinned reads current") {
    import graft.sources.IcebergLayoutWriter
    import graft.sources.IcebergLayoutWriter.ManifestEntrySpec
    val tblDir = new java.io.File(dir, "tbl_history")
    IcebergLayoutWriter.writeTableSnapshots(tblDir, Seq(
      10L -> Seq(
        ManifestEntrySpec(status = 1, content = 0, filePath = "a.parquet",
          recordCount = 5L, sizeBytes = 500L),
        ManifestEntrySpec(status = 1, content = 0, filePath = "b.parquet",
          recordCount = 7L, sizeBytes = 700L)),
      20L -> Seq(
        ManifestEntrySpec(status = 1, content = 0, filePath = "compacted.parquet",
          recordCount = 12L, sizeBytes = 1200L))))
    def files(snap: Option[Long]): Seq[(String, Long)] =
      IcebergManifestSource.statsFromTableDir(spark, tblDir.getPath, "tbl", Nil, snap)
        .collect().map(r => (r.getString(1), r.getLong(5))).sortBy(_._1).toSeq
    assert(files(Some(10L)) == Seq(("a.parquet", 5L), ("b.parquet", 7L)))
    assert(files(Some(20L)) == Seq(("compacted.parquet", 12L)))
    assert(files(None) == files(Some(20L)), "unpinned read must be the current snapshot")
    // a snapshot id that never existed resolves to nothing, not a crash
    assert(files(Some(99L)).isEmpty)
  }

  test("named refs: branch/tag resolve to their snapshot, absent ref -> None") {
    import graft.sources.IcebergLayoutWriter
    import graft.sources.IcebergLayoutWriter.ManifestEntrySpec
    val tblDir = new java.io.File(dir, "tbl_refs")
    IcebergLayoutWriter.writeTableSnapshots(tblDir,
      Seq(
        1L -> Seq(ManifestEntrySpec(status = 1, content = 0,
          filePath = "a.parquet", recordCount = 5L, sizeBytes = 500L)),
        2L -> Seq(ManifestEntrySpec(status = 1, content = 0,
          filePath = "b.parquet", recordCount = 9L, sizeBytes = 900L))),
      refs = Map("main" -> (2L, "branch"), "v1.0" -> (1L, "tag")))
    assert(IcebergManifestSource.refSnapshotId(spark, tblDir.getPath, "main") == Some(2L))
    assert(IcebergManifestSource.refSnapshotId(spark, tblDir.getPath, "v1.0") == Some(1L))
    assert(IcebergManifestSource.refSnapshotId(spark, tblDir.getPath, "nope").isEmpty)
    // the resolved tag id feeds the ordinary pinned read path
    val tagId = IcebergManifestSource.refSnapshotId(spark, tblDir.getPath, "v1.0")
    val got = IcebergManifestSource.statsFromTableDir(
      spark, tblDir.getPath, "tbl", Nil, tagId).collect()
    assert(got.map(_.getString(1)).toSeq == Seq("a.parquet"))
    // a refs-less table resolves no names (schema-defensive)
    val plain = new java.io.File(dir, "tbl_norefs")
    IcebergLayoutWriter.writeTable(plain, Seq(ManifestEntrySpec(status = 1,
      content = 0, filePath = "x.parquet", recordCount = 1L, sizeBytes = 10L)))
    assert(IcebergManifestSource.refSnapshotId(spark, plain.getPath, "main").isEmpty)
  }

  test("9-metric output identical to the fromDataFrame path on the same entries") {
    import spark.implicits._
    val listPath = writeFixture()
    val (files, nManifests) =
      IcebergManifestSource.fromManifestList(spark, listPath, "tbl")
    val viaManifest = MetricsCalculator.computeMetrics(files, nManifests)

    val synthetic = FileEntrySource.fromDataFrame(
      expected.toDF(), "tbl", col("partitionKey"), col("sizeBytes"), col("content"))
    val viaDataFrame = MetricsCalculator.computeMetrics(synthetic, 2L)

    assert(viaManifest.nonEmpty)
    assert(viaManifest == viaDataFrame)
  }

  test("changesBetween: ref-resolved endpoints equal id-pinned endpoints") {
    import graft.sources.IcebergLayoutWriter
    import graft.sources.IcebergLayoutWriter.ManifestEntrySpec
    val tblDir = new java.io.File(dir, "tbl_changelog")
    def f(p: String, rc: Long) = ManifestEntrySpec(status = 1, content = 0,
      filePath = p, recordCount = rc, sizeBytes = rc * 10L)
    IcebergLayoutWriter.writeTableSnapshots(tblDir,
      Seq(1L -> Seq(f("a.parquet", 5L), f("b.parquet", 7L)),
        2L -> Seq(f("a.parquet", 5L), f("c.parquet", 12L))),
      refs = Map("v1" -> (1L, "tag"), "main" -> (2L, "branch")))
    val fromRef = IcebergManifestSource.refSnapshotId(spark, tblDir.getPath, "v1").get
    val toRef = IcebergManifestSource.refSnapshotId(spark, tblDir.getPath, "main").get
    val viaRefs = IcebergManifestSource
      .changesBetween(spark, tblDir.getPath, "t", fromRef, toRef)
      .orderBy("change", "file_path").collect().map(_.toSeq).toSeq
    val viaIds = IcebergManifestSource
      .changesBetween(spark, tblDir.getPath, "t", 1L, 2L)
      .orderBy("change", "file_path").collect().map(_.toSeq).toSeq
    assert(viaRefs == viaIds)
    // a.parquet is in BOTH snapshots -> must drop out of the diff
    assert(viaIds == Seq(
      Seq("c.parquet", 0, "added", 12L, 120L),
      Seq("b.parquet", 0, "removed", 7L, 70L)))
  }

  test("transform-partitioned layout: spec + transformed partition values round-trip") {
    import graft.sources.{IcebergLayoutWriter, PartitionTransforms => PT}
    import graft.sources.IcebergLayoutWriter.ManifestEntrySpec
    val tblDir = new java.io.File(dir, "tbl_transforms")
    // partition values are what a spec-compliant writer derives: one
    // entry per (day(ts), bucket[4](id), truncate[3](name)) — values
    // computed by the SCALAR transforms the Column forms are spec-pinned
    // against in PartitionTransformsSpec
    val srcRows = Seq(
      (1510871468000000L, 34L, "iceberg"),
      (1510871468000000L, 149L, "icicle"),
      (0L, 34L, "ax"))
    IcebergLayoutWriter.writeTable(tblDir, srcRows.zipWithIndex.map {
      case ((us, id, name), i) =>
        ManifestEntrySpec(status = 1, content = 0, filePath = s"f$i.parquet",
          partition = Seq(
            "ts_day" -> PT.dayFromMicros(us),
            "id_bucket" -> PT.bucketLong(id, 4),
            "name_tr" -> PT.truncateString(name, 3)),
          recordCount = 1L, sizeBytes = 100L)
    }, partitionSpec = Seq(("ts_day", "day", 1), ("id_bucket", "bucket[4]", 2),
      ("name_tr", "truncate[3]", 3)))
    // 1. the declared spec round-trips through the metadata document
    assert(IcebergManifestSource.partitionSpec(spark, tblDir.getPath) == Seq(
      ("ts_day", "day", 1), ("id_bucket", "bucket[4]", 2), ("name_tr", "truncate[3]", 3)))
    // 2. the manifest partition records canonicalize to the transformed keys
    val (files, _) = IcebergManifestSource.fromTableDir(spark, tblDir.getPath, "tbl")
    val keys = files.collect().map(_.partitionKey).sorted.toSeq
    val b34 = PT.bucketLong(34L, 4); val b149 = PT.bucketLong(149L, 4)
    assert(keys == Seq(
      s"""{"ts_day":0,"id_bucket":$b34,"name_tr":"ax"}""",
      s"""{"ts_day":17486,"id_bucket":$b149,"name_tr":"ici"}""",
      s"""{"ts_day":17486,"id_bucket":$b34,"name_tr":"ice"}""").sorted)
    // 3. an unpartitioned table reports an EMPTY spec (schema-defensive)
    val plain = new java.io.File(dir, "tbl_nospec")
    IcebergLayoutWriter.writeTable(plain, Seq(ManifestEntrySpec(status = 1,
      content = 0, filePath = "x.parquet", recordCount = 1L, sizeBytes = 10L)))
    assert(IcebergManifestSource.partitionSpec(spark, plain.getPath).isEmpty)
  }

  test("partition-spec evolution: mixed-spec snapshot reads, spec ids carried") {
    import graft.sources.IcebergLayoutWriter
    import graft.sources.IcebergLayoutWriter.ManifestEntrySpec
    val tblDir = new java.io.File(dir, "tbl_evolved")
    val old = Seq(
      ManifestEntrySpec(status = 1, content = 0, filePath = "y25.parquet",
        partition = Seq("o_year" -> 25), recordCount = 10L, sizeBytes = 100L,
        specId = 0),
      ManifestEntrySpec(status = 1, content = 0, filePath = "y26.parquet",
        partition = Seq("o_year" -> 26), recordCount = 20L, sizeBytes = 200L,
        specId = 0))
    val added = Seq(
      ManifestEntrySpec(status = 1, content = 0, filePath = "m300.parquet",
        partition = Seq("o_month" -> 300), recordCount = 5L, sizeBytes = 50L,
        specId = 1))
    IcebergLayoutWriter.writeTableSnapshots(tblDir,
      Seq(1L -> old, 2L -> (old ++ added)),
      partitionSpecs = Seq(Seq(("o_year", "year", 5)), Seq(("o_month", "month", 5))))
    // the full evolution history round-trips; the default is the NEW spec
    val (defId, specs) = IcebergManifestSource.partitionSpecs(spark, tblDir.getPath)
    assert(defId == 1)
    assert(specs == Seq(0 -> Seq(("o_year", "year", 5)),
      1 -> Seq(("o_month", "month", 5))))
    // partitionSpec (the default-spec view) resolves through the history
    assert(IcebergManifestSource.partitionSpec(spark, tblDir.getPath) ==
      Seq(("o_month", "month", 5)))
    // each manifest-list row names its manifest's spec
    val conf = spark.sparkContext.hadoopConfiguration
    val list2 = new java.io.File(tblDir, "metadata/snap-2-manifest-list.avro")
    val specIds = IcebergManifestSource.manifestList(conf, list2.getPath)
    assert(specIds.map(_.specId).sorted == Seq(0, 1))
    // the current snapshot reads BOTH partition dialects
    val (files, nManifests) =
      IcebergManifestSource.fromTableDir(spark, tblDir.getPath, "tbl")
    assert(nManifests == 2L)
    assert(files.collect().map(_.partitionKey).sorted.toSeq == Seq(
      """{"o_month":300}""", """{"o_year":25}""", """{"o_year":26}"""))
    // back-compat: a manifest list WITHOUT partition_spec_id reads as spec 0
    val legacyList = writeFixture()
    assert(IcebergManifestSource.manifestList(conf, legacyList)
      .map(_.specId).forall(_ == 0))
  }

  test("a moved table's pruned manifests resolve under its new directory") {
    import graft.sources.IcebergLayoutWriter
    import graft.sources.IcebergLayoutWriter.ManifestEntrySpec
    // one manifest per partition day, so the list's partition summaries
    // prune two of the four
    val src = new java.io.File(dir, "tbl_before_move")
    val moved = new java.io.File(dir, "tbl_after_move")
    org.apache.commons.io.FileUtils.deleteQuietly(moved)
    IcebergLayoutWriter.writeTable(src, (0 until 4).map(d =>
      ManifestEntrySpec(status = 1, content = 0, filePath = s"f$d.parquet",
        partition = Seq("d" -> d), recordCount = 1L, sizeBytes = 100L + d,
        manifestGroup = d)), partitionSpec = Seq(("d", "identity", 1)))
    assert(src.renameTo(moved))
    val conf = spark.sparkContext.hadoopConfiguration
    val list = IcebergManifestSource.manifestListPath(spark, moved.getPath)
      .getOrElse(fail("no current manifest list"))
    val all = IcebergManifestSource.manifestPaths(conf, list)
    val pruned = IcebergManifestSource.manifestsOverlapping(conf, list, 0, 1L, 2L)
    assert(all.size == 4 && pruned.size == 2, s"kept $pruned of $all")
    assert(pruned.toSet.subsetOf(all.toSet),
      s"pruned paths must be the relocated ones: $pruned vs $all")
    assert(IcebergManifestSource.fromManifests(spark, pruned, "t").collect()
      .map(_.sizeBytes).sorted.toSeq == Seq(101L, 102L))
  }

  test("sort-order metadata round-trips; absent or order-id 0 reads empty") {
    import graft.sources.IcebergLayoutWriter
    import graft.sources.IcebergLayoutWriter.ManifestEntrySpec
    val tblDir = new java.io.File(dir, "tbl_sorted")
    val entry = ManifestEntrySpec(status = 1, content = 0,
      filePath = "x.parquet", recordCount = 1L, sizeBytes = 10L)
    IcebergLayoutWriter.writeTableSnapshots(tblDir, Seq(1L -> Seq(entry)),
      sortOrder = Seq((4, "identity", "asc", "nulls-first"),
        (2, "bucket[16]", "desc", "nulls-last")))
    assert(IcebergManifestSource.sortOrder(spark, tblDir.getPath) == Seq(
      (4, "identity", "asc", "nulls-first"),
      (2, "bucket[16]", "desc", "nulls-last")))
    // a table written without a sort order reads as unsorted
    val plain = new java.io.File(dir, "tbl_unsorted")
    IcebergLayoutWriter.writeTableSnapshots(plain, Seq(1L -> Seq(entry)))
    assert(IcebergManifestSource.sortOrder(spark, plain.getPath).isEmpty)
  }

  test("manifest logical maps carry the spec's per-field record names + ids") {
    // the Iceberg manifest schema names each array<record<key,value>>
    // map after ITS key/value field ids (column_sizes k117_v118 ..
    // nan_value_counts k138_v139) and keys the entry fields with
    // field-id properties — an external reader resolving the manifest
    // by its canonical schema binds each map by these
    import graft.sources.IcebergLayoutWriter
    import graft.sources.IcebergLayoutWriter.ManifestEntrySpec
    val tblDir = new java.io.File(dir, "tbl_mapnames")
    val entry = ManifestEntrySpec(status = 1, content = 0,
      filePath = "x.parquet", recordCount = 2L, sizeBytes = 10L,
      valueCounts = Map(1 -> 2L), nullValueCounts = Map(1 -> 0L),
      nanValueCounts = Map(1 -> 0L), columnSizes = Map(1 -> 5L),
      lower = Map(1 -> Array[Byte](1)), upper = Map(1 -> Array[Byte](2)))
    IcebergLayoutWriter.writeTableSnapshots(tblDir, Seq(1L -> Seq(entry)))
    val mDir = new java.io.File(tblDir, "metadata")
    val manifest = mDir.listFiles()
      .filter(f => f.getName.endsWith(".avro") &&
        !f.getName.contains("snap-")).head
    val r = new org.apache.avro.file.DataFileReader(manifest,
      new org.apache.avro.generic.GenericDatumReader[AnyRef]())
    val dfSchema = try r.getSchema.getField("data_file").schema()
      finally r.close()
    def itemName(field: String): (String, Any, Any) = {
      import scala.jdk.CollectionConverters._
      val t = dfSchema.getField(field).schema()
      val arr = (if (t.getType == org.apache.avro.Schema.Type.UNION)
        t.getTypes.asScala.find(
          _.getType == org.apache.avro.Schema.Type.ARRAY).get
      else t).getElementType
      (arr.getName, arr.getField("key").getObjectProp("field-id"),
        arr.getField("value").getObjectProp("field-id"))
    }
    assert(itemName("column_sizes") == ("k117_v118", 117, 118))
    assert(itemName("value_counts") == ("k119_v120", 119, 120))
    assert(itemName("null_value_counts") == ("k121_v122", 121, 122))
    assert(itemName("nan_value_counts") == ("k138_v139", 138, 139))
    assert(itemName("lower_bounds") == ("k126_v127", 126, 127))
    assert(itemName("upper_bounds") == ("k129_v130", 129, 130))
  }
}
