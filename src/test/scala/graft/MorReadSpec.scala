package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.MorRead

/** Iceberg v2 merge-on-read visibility rules, pinned at the boundaries:
  * position deletes apply at data_seq <= delete_seq (same-commit deletion
  * WORKS), equality deletes apply at data_seq < delete_seq (same-commit
  * rows SURVIVE). */
class MorReadSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private def fixture() = {
    import spark.implicits._
    // (file_path, pos, data_seq, id, v)
    val data = Seq(
      ("f1", 0L, 1L, 10L, "a"),
      ("f1", 1L, 1L, 11L, "b"),
      ("f2", 0L, 2L, 12L, "c"),
      ("f2", 1L, 2L, 10L, "a2"), // same key as id=10, newer commit
      ("f3", 0L, 3L, 13L, "d")
    ).toDF("file_path", "pos", "data_seq", "id", "v")
    // position tombstones: one exact hit at EQUAL seq (must delete),
    // one at OLDER delete seq than the data (must NOT delete)
    val posDel = Seq(
      ("f1", 0L, 1L), // seq == data_seq -> deletes (f1,0)
      ("f3", 0L, 2L)  // delete seq 2 < data_seq 3 -> survives
    ).toDF("file_path", "pos", "seq")
    // equality tombstones on id: seq 2 deletes id=10 rows with seq < 2
    // (the seq-1 original dies, the seq-2 rewrite SURVIVES — the spec's
    // same-commit asymmetry), and seq 3 deletes id=11 (seq 1)
    val eqDel = Seq((10L, 2L), (11L, 3L)).toDF("id", "seq")
    (data, posDel, eqDel)
  }

  test("position deletes apply at <=, equality deletes at <; survivors exact") {
    val (data, posDel, eqDel) = fixture()
    val out = MorRead.applyDeletes(data, posDel, eqDel, Seq("id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.getString(4)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(out == Seq(
      ("f2", 0L, 12L, "c"),   // untouched
      ("f2", 1L, 10L, "a2"),  // eq-delete seq 2 does NOT kill seq-2 row
      ("f3", 0L, 13L, "d")))  // pos delete with older seq does not apply
    // and the casualties are exactly (f1,0) [pos, seq ==] and (f1,1) [eq 11]
  }

  test("NULL-keyed equality tombstone deletes NULL-keyed rows (null-safe match)") {
    import spark.implicits._
    val data = Seq(
      ("f1", 0L, 1L, Option(7L), "x"),
      ("f1", 1L, 1L, Option.empty[Long], "nullkey")
    ).toDF("file_path", "pos", "data_seq", "id", "v")
    val noPos = Seq.empty[(String, Long, Long)].toDF("file_path", "pos", "seq")
    val eqDel = Seq((Option.empty[Long], 2L)).toDF("id", "seq")
    val out = MorRead.applyDeletes(data, noPos, eqDel, Seq("id"))
      .collect().map(_.getString(4)).toSeq
    assert(out == Seq("x"), "the NULL-keyed row must be deleted, the 7-keyed kept")
  }

  test("empty eqKeys -> position-only read, no crash") {
    import spark.implicits._
    val (data, posDel, _) = fixture()
    val emptyEq = Seq.empty[(Long, Long)].toDF("id", "seq")
    val out = MorRead.applyDeletes(data, posDel, emptyEq, Seq.empty)
    assert(out.count() == 4L) // only the (f1,0) position casualty
  }

  test("no deletes -> identity (empty tombstones fold to a plain scan)") {
    import spark.implicits._
    val (data, _, _) = fixture()
    val emptyPos = Seq.empty[(String, Long, Long)].toDF("file_path", "pos", "seq")
    val emptyEq = Seq.empty[(Long, Long)].toDF("id", "seq")
    val out = MorRead.applyDeletes(data, emptyPos, emptyEq, Seq("id"))
    assert(out.count() == 5L)
    // PropagateEmptyRelation elides both anti joins entirely — the
    // no-tombstone read costs exactly a scan
    assert(!out.queryExecution.executedPlan.toString.contains("Join"))
  }

  test("with tombstones: both applications are broadcast anti joins, no shuffle") {
    val (data, posDel, eqDel) = fixture()
    val plan = MorRead.applyDeletes(data, posDel, eqDel, Seq("id"))
      .queryExecution.executedPlan.toString
    assert("LeftAnti".r.findAllIn(plan).size == 2, s"expected 2 anti joins:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"delete application must broadcast:\n$plan")
  }

  test("broadcast hint is GATED on the size estimate, not forced") {
    // with the auto-broadcast threshold disabled, the hint must not fire —
    // a huge delete set forced into a broadcast would OOM at scale
    val (data, posDel, eqDel) = fixture()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plan = MorRead.applyDeletes(data, posDel, eqDel, Seq("id"))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"hint must respect a disabled broadcast threshold:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  // ---- END-TO-END: a real on-disk v2 layout -----------------------------

  private def writeParquetFile(df: org.apache.spark.sql.DataFrame,
      dest: java.io.File): Unit = {
    val tmp = new java.io.File(dest.getParentFile, dest.getName + ".tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, dest.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  /** One snapshot (id 1) holding data at seq 1 and seq 2 plus position
    * and equality tombstones at seq 2 — entry sequence numbers ABOVE
    * their snapshot's id. Returns the data files (a, b). */
  private def writeMorFixture(tbl: java.io.File): (java.io.File, java.io.File) = {
    import spark.implicits._
    import graft.sources.IcebergLayoutWriter
    import graft.sources.IcebergLayoutWriter.ManifestEntrySpec
    org.apache.commons.io.FileUtils.deleteQuietly(tbl)
    val dataDir = new java.io.File(tbl, "data"); dataDir.mkdirs()
    val a = new java.io.File(dataDir, "a.parquet")   // commit seq 1
    val b = new java.io.File(dataDir, "b.parquet")   // commit seq 2
    val pd = new java.io.File(dataDir, "pd.parquet") // pos deletes, seq 2
    val ed = new java.io.File(dataDir, "ed.parquet") // eq deletes, seq 2
    writeParquetFile(Seq((1L, "a1"), (2L, "a2"), (3L, "a3"), (4L, "a4"), (5L, "a5"))
      .toDF("id", "v"), a)
    writeParquetFile(Seq((10L, "b0"), (11L, "b1"), (12L, "b2"), (13L, "b3"))
      .toDF("id", "v"), b)
    // pos tombstones: a@0 (seq 2 >= data seq 1), b@1 (seq 2 == data seq 2
    // -> the <= boundary DELETES)
    writeParquetFile(Seq((a.getAbsolutePath, 0L), (b.getAbsolutePath, 1L))
      .toDF("file_path", "pos"), pd)
    // eq tombstones @seq 2: id=3 (in a, seq 1 < 2 -> dies), id=12 (in b,
    // seq 2 < 2 is FALSE -> the < boundary KEEPS it)
    writeParquetFile(Seq(Tuple1(3L), Tuple1(12L)).toDF("id"), ed)
    IcebergLayoutWriter.writeTable(tbl, Seq(
      ManifestEntrySpec(status = 1, content = 0, filePath = a.getAbsolutePath,
        recordCount = 5L, sizeBytes = a.length(), sequenceNumber = 1L),
      ManifestEntrySpec(status = 1, content = 0, filePath = b.getAbsolutePath,
        recordCount = 4L, sizeBytes = b.length(), sequenceNumber = 2L),
      ManifestEntrySpec(status = 1, content = 1, filePath = pd.getAbsolutePath,
        recordCount = 2L, sizeBytes = pd.length(), sequenceNumber = 2L),
      ManifestEntrySpec(status = 1, content = 2, filePath = ed.getAbsolutePath,
        recordCount = 2L, sizeBytes = ed.length(), sequenceNumber = 2L)))
    (a, b)
  }

  /** readTable survivors as (id, v), sorted by id. */
  private def survivors(tbl: java.io.File): Seq[(Long, String)] =
    MorRead.readTable(spark, tbl.getPath, Seq("id"))
      .collect()
      .map(r => (r.getLong(r.fieldIndex("id")), r.getString(r.fieldIndex("v"))))
      .sortBy(_._1).toSeq

  private val fixtureSurvivors = Seq((2L, "a2"), (4L, "a4"), (5L, "a5"),
    (10L, "b0"), (12L, "b2"), (13L, "b3"))

  test("readTable: real v2 layout (data + pos + eq delete FILES) == NOT-EXISTS oracle") {
    import spark.implicits._
    val tbl = new java.io.File("target/tmp-mor-table")
    val (a, b) = writeMorFixture(tbl)
    val got = survivors(tbl)

    // independent NOT-EXISTS oracle over hand-enumerated plumbing rows
    Seq((a.getAbsolutePath, 0L, 1L, 1L, "a1"), (a.getAbsolutePath, 1L, 1L, 2L, "a2"),
      (a.getAbsolutePath, 2L, 1L, 3L, "a3"), (a.getAbsolutePath, 3L, 1L, 4L, "a4"),
      (a.getAbsolutePath, 4L, 1L, 5L, "a5"),
      (b.getAbsolutePath, 0L, 2L, 10L, "b0"), (b.getAbsolutePath, 1L, 2L, 11L, "b1"),
      (b.getAbsolutePath, 2L, 2L, 12L, "b2"), (b.getAbsolutePath, 3L, 2L, 13L, "b3"))
      .toDF("file_path", "pos", "data_seq", "id", "v").createOrReplaceTempView("mor_d")
    Seq((a.getAbsolutePath, 0L, 2L), (b.getAbsolutePath, 1L, 2L))
      .toDF("file_path", "pos", "seq").createOrReplaceTempView("mor_p")
    Seq((3L, 2L), (12L, 2L)).toDF("id", "seq").createOrReplaceTempView("mor_e")
    val oracle = spark.sql(
      """SELECT id, v FROM mor_d d
        |WHERE NOT EXISTS (SELECT 1 FROM mor_p p
        |  WHERE p.file_path = d.file_path AND p.pos = d.pos AND d.data_seq <= p.seq)
        |AND NOT EXISTS (SELECT 1 FROM mor_e e
        |  WHERE e.id <=> d.id AND d.data_seq < e.seq)""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq

    assert(oracle == fixtureSurvivors)
    assert(got == oracle, s"readTable survivors diverge from the NOT-EXISTS oracle")
  }

  test("append onto seq-2 entries under snapshot 1 allocates seq 3; MOR read holds") {
    import spark.implicits._
    import graft.sources.LayoutMaintenance
    import graft.sources.IcebergLayoutWriter.ManifestEntrySpec
    val tbl = new java.io.File("target/tmp-mor-append")
    writeMorFixture(tbl)
    // ids 3 and 12 are equality-deleted at seq 2: a re-insert at seq 3
    // is newer than those tombstones and survives
    val c = new java.io.File(new java.io.File(tbl, "data"), "c.parquet")
    writeParquetFile(Seq((3L, "c3"), (12L, "c12")).toDF("id", "v"), c)
    val newId = LayoutMaintenance.commitAppend(spark, tbl.getPath, Seq(
      ManifestEntrySpec(status = 1, content = 0, filePath = c.getAbsolutePath,
        recordCount = 2L, sizeBytes = c.length())))
    assert(newId == 3L)
    assert(LayoutMaintenance.snapshotIds(spark, tbl.getPath) == Seq(1L, 3L))
    assert(survivors(tbl) ==
      (fixtureSurvivors ++ Seq((3L, "c3"), (12L, "c12"))).sortBy(_._1))
    org.apache.commons.io.FileUtils.deleteQuietly(tbl)
  }

  test("a clone carries its source's counters: appends allocate above every carried sequence and row id") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.sources.{IcebergManifestSource, LayoutMaintenance}
    import graft.sources.IcebergLayoutWriter.ManifestEntrySpec
    /** Append one fresh file to `clone`; return its snapshot id. */
    def appendTo(clone: java.io.File, name: String): Long = {
      val f = new java.io.File(new java.io.File(clone, "data"), name)
      f.getParentFile.mkdirs()
      writeParquetFile(Seq((3L, "c3"), (12L, "c12")).toDF("id", "v"), f)
      LayoutMaintenance.commitAppend(spark, clone.getPath, Seq(
        ManifestEntrySpec(status = 1, content = 0,
          filePath = f.getAbsolutePath, recordCount = 2L,
          sizeBytes = f.length())))
    }
    /** (sequence_number, first_row_id, record_count) of live data files. */
    def dataEntries(t: java.io.File): Seq[(Long, Option[Long], Long)] =
      IcebergManifestSource.statsFromTableDir(spark, t.getPath, "t", Nil)
        .filter(col("content") === 0)
        .select("sequence_number", "first_row_id", "record_count")
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getLong(2)))
        .toSeq
    // the MOR fixture: entries at seq 2 under snapshot 1
    val src = new java.io.File("target/tmp-mor-clone-src")
    writeMorFixture(src)
    val dst = new java.io.File("target/tmp-mor-clone-dst")
    org.apache.commons.io.FileUtils.deleteQuietly(dst)
    LayoutMaintenance.snapshotTable(spark, src.getPath, dst.getPath)
    val carriedSeqs = IcebergManifestSource
      .statsFromTableDir(spark, dst.getPath, "t", Nil)
      .select("sequence_number").collect().map(_.getLong(0))
    assert(carriedSeqs.max == 2L)
    val newId = appendTo(dst, "c.parquet")
    assert(newId > carriedSeqs.max, s"clone append got seq $newId")
    // the seq-2 tombstones do not reach the clone's newer rows
    assert(survivors(dst) ==
      (fixtureSurvivors ++ Seq((3L, "c3"), (12L, "c12"))).sortBy(_._1))
    // a lineage-carrying v3 table: the clone's new rows get fresh ids
    val v3 = new java.io.File("target/tmp-mor-clone-v3")
    org.apache.commons.io.FileUtils.deleteQuietly(v3)
    appendTo(v3, "a.parquet"); appendTo(v3, "b.parquet")
    val v3Clone = new java.io.File("target/tmp-mor-clone-v3dst")
    org.apache.commons.io.FileUtils.deleteQuietly(v3Clone)
    LayoutMaintenance.snapshotTable(spark, v3.getPath, v3Clone.getPath)
    val carried = dataEntries(v3Clone)
    assert(carried.size == 2 && carried.forall(_._2.nonEmpty), carried.toString)
    val cloneId = appendTo(v3Clone, "c.parquet")
    val added = dataEntries(v3Clone).filter(_._1 == cloneId)
    assert(added.size == 1 && added.head._2.nonEmpty, added.toString)
    val carriedIds = carried.flatMap(e => e._2.get until e._2.get + e._3)
    val addedIds = added.flatMap(e => e._2.get until e._2.get + e._3)
    assert(carriedIds.intersect(addedIds).isEmpty,
      s"clone _row_id ranges overlap: carried $carriedIds, added $addedIds")
    Seq(src, dst, v3, v3Clone).foreach(org.apache.commons.io.FileUtils.deleteQuietly)
  }
}
