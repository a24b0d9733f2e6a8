package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.{IcebergLayoutWriter, IcebergManifestSource,
  LayoutMaintenance, MorRead}
import graft.sources.IcebergLayoutWriter.ManifestEntrySpec

/** eq→pos tombstone conversion (`convert_equality_deletes`): live
  * equality tombstones re-express as ONE consolidated position-delete
  * file with NO data rewrite. Equivalence is the whole contract —
  * the MOR row set must be bit-identical before and after, data files
  * carried verbatim, and rows appended AFTER the conversion must be
  * exactly as (un)affected as they would have been under the eq
  * tombstones (strict data_seq < seq both ways). */
class ConvertEqDeletesSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private def build(tag: String, appends: Int = 3): java.io.File = {
    import spark.implicits._
    val tbl = new java.io.File(s"target/tmp-eqconv-$tag")
    org.apache.commons.io.FileUtils.deleteQuietly(tbl)
    val dataDir = new java.io.File(tbl, "data"); dataDir.mkdirs()
    (0 until appends).foreach { i =>
      val f = new java.io.File(dataDir, s"f$i.parquet")
      val lo = i * 100L
      val n = IcebergLayoutWriter.writeSingleParquet(
        (lo until lo + 100L).map(k => (k, k % 7)).toDF("k", "b")
          .sort(col("k")), f)
      LayoutMaintenance.commitAppend(spark, tbl.getPath, Seq(
        ManifestEntrySpec(status = 1, content = 0,
          filePath = f.getAbsolutePath, recordCount = n,
          sizeBytes = f.length())))
    }
    tbl
  }

  private def entries(tbl: java.io.File,
      snapshotId: Option[Long] = None): Seq[(String, Int, Long)] =
    IcebergManifestSource.statsFromTableDir(spark, tbl.getPath, "t", Nil,
      snapshotId)
      .select("file_path", "content", "sequence_number")
      .collect().map(r => (r.getString(0).split('/').last, r.getInt(1),
        r.getLong(2))).sortBy(_._1).toSeq

  private def stateOf(tbl: java.io.File,
      eqKeys: Seq[String] = Nil): Set[(Long, Long)] =
    MorRead.readTable(spark, tbl.getPath, eqKeys)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("conversion preserves the MOR state exactly; data files carried verbatim") {
    import spark.implicits._
    val tbl = build("basic")
    LayoutMaintenance.commitUpsert(spark, tbl.getPath,
      Seq((7L, 70L), (150L, 51L)).toDF("k", "b"), Seq("k"))
    LayoutMaintenance.commitDelete(spark, tbl.getPath,
      Seq(Tuple1(250L)).toDF("k"), Seq("k"))
    val pre = stateOf(tbl)
    assert(pre.contains((7L, 70L)) && !pre.contains((250L, 5L)))
    val dataBefore = entries(tbl).filter(_._2 == 0)
    assert(entries(tbl).count(_._2 == 2) == 2, "two eq files expected")

    val (snap, eqBefore, pairs) =
      LayoutMaintenance.convertEqualityDeletes(spark, tbl.getPath)
    assert(eqBefore == 2 && pairs == 3L,
      s"k=7, k=150, k=250 → 3 pairs, got $pairs")
    val post = entries(tbl)
    assert(post.count(_._2 == 2) == 0, "eq entries must be gone")
    assert(post.count(_._2 == 1) == 1, "one consolidated pos-delete file")
    assert(post.filter(_._2 == 0) == dataBefore,
      "data files must be carried verbatim (same entries, same seqs)")
    // the read no longer needs eq keys at all — and matches exactly
    assert(stateOf(tbl) == pre, "MOR state must be bit-identical")
    // idempotent: no eq files left → no-op, same snapshot
    val (snap2, eq2, p2) =
      LayoutMaintenance.convertEqualityDeletes(spark, tbl.getPath)
    assert(snap2 == snap && eq2 == 0 && p2 == 0L)
  }

  test("rows appended after conversion are untouched (the strict-< contract)") {
    import spark.implicits._
    val tbl = build("after")
    LayoutMaintenance.commitDelete(spark, tbl.getPath,
      Seq(Tuple1(42L)).toDF("k"), Seq("k"))
    assert(!stateOf(tbl, Seq("k")).exists(_._1 == 42L))
    LayoutMaintenance.convertEqualityDeletes(spark, tbl.getPath)
    // re-insert the deleted key AFTER the conversion: under eq
    // tombstones the new row would live (data_seq >= seq); under the
    // converted pos pairs it must live too (path never matches)
    val f = new java.io.File(new java.io.File(tbl, "data"), "again.parquet")
    val n = IcebergLayoutWriter.writeSingleParquet(
      Seq((42L, 999L)).toDF("k", "b"), f)
    LayoutMaintenance.commitAppend(spark, tbl.getPath, Seq(
      ManifestEntrySpec(status = 1, content = 0,
        filePath = f.getAbsolutePath, recordCount = n,
        sizeBytes = f.length())))
    val post = stateOf(tbl)
    assert(post.contains((42L, 999L)), "the re-inserted row must live")
    assert(!post.contains((42L, 0L)), "the originally-deleted row stays dead")
  }

  test("ORC data files convert through real ordinals") {
    import spark.implicits._
    val tbl = new java.io.File("target/tmp-eqconv-orc")
    org.apache.commons.io.FileUtils.deleteQuietly(tbl)
    val dataDir = new java.io.File(tbl, "data"); dataDir.mkdirs()
    val f = new java.io.File(dataDir, "f0.orc")
    val n = IcebergLayoutWriter.writeSingleOrc(
      (0L until 100L).map(k => (k, k % 7)).toDF("k", "b").sort(col("k")), f)
    LayoutMaintenance.commitAppend(spark, tbl.getPath, Seq(
      ManifestEntrySpec(status = 1, content = 0,
        filePath = f.getAbsolutePath, recordCount = n,
        sizeBytes = f.length(), fileFormat = "ORC")))
    LayoutMaintenance.commitDelete(spark, tbl.getPath,
      Seq(13L, 57L).toDF("k"), Seq("k"))
    val pre = stateOf(tbl)
    assert(pre.size == 98)
    val (_, eqBefore, pairs) =
      LayoutMaintenance.convertEqualityDeletes(spark, tbl.getPath)
    assert(eqBefore == 1 && pairs == 2L)
    assert(entries(tbl).count(_._2 == 2) == 0)
    assert(stateOf(tbl) == pre,
      "ORC rows must die by their real ordinals after conversion")
  }

  test("dangling eq tombstones convert to zero pairs and still drop") {
    import spark.implicits._
    val tbl = build("dangling", appends = 1)
    LayoutMaintenance.commitDelete(spark, tbl.getPath,
      Seq(Tuple1(99999L)).toDF("k"), Seq("k"))
    val pre = stateOf(tbl)
    val (_, eqBefore, pairs) =
      LayoutMaintenance.convertEqualityDeletes(spark, tbl.getPath)
    assert(eqBefore == 1 && pairs == 0L)
    val post = entries(tbl)
    assert(post.count(_._2 == 2) == 0 && post.count(_._2 == 1) == 0,
      "no pos file for a fully-dangling conversion")
    assert(stateOf(tbl) == pre)
  }

  test("existing position tombstones are carried, not re-derived") {
    import spark.implicits._
    val tbl = build("mixed", appends = 2)
    LayoutMaintenance.commitDeleteWhere(spark, tbl.getPath, col("k") < 5L)
    LayoutMaintenance.commitDelete(spark, tbl.getPath,
      Seq(Tuple1(100L)).toDF("k"), Seq("k"))
    val pre = stateOf(tbl)
    assert(pre.size == 194)
    val posBefore = entries(tbl).filter(_._2 == 1)
    assert(posBefore.size == 1)
    val (_, _, pairs) =
      LayoutMaintenance.convertEqualityDeletes(spark, tbl.getPath)
    assert(pairs == 1L)
    val post = entries(tbl)
    assert(post.filter(_._2 == 1).size == 2,
      "original pos file carried + one converted file added")
    assert(post.filter(_._2 == 1).map(_._1).toSet
      .contains(posBefore.head._1), "the original pos file must survive")
    assert(stateOf(tbl) == pre)
  }

  test("data manifests ride verbatim; entries and state match the reference") {
    import spark.implicits._
    val tbl = build("cap")
    val (prevId, _) = LayoutMaintenance.commitDelete(spark, tbl.getPath,
      Seq(10L, 110L, 210L).toDF("k"), Seq("k"))
    val before = entries(tbl, Some(prevId))
    val eqFile = before.filter(_._2 == 2).map(_._1)
    assert(eqFile.size == 1)
    val conf = spark.sparkContext.hadoopConfiguration
    def manifests(id: Long): Seq[(String, Int)] =
      IcebergManifestSource.manifestList(conf,
        new java.io.File(new java.io.File(tbl, "metadata"),
          s"snap-$id-manifest-list.avro").getAbsolutePath)
        .map(m => (m.path, m.content))
    val (newId, eqFiles, pairs) =
      LayoutMaintenance.convertEqualityDeletes(spark, tbl.getPath)
    assert((eqFiles, pairs) == ((1, 3L)))
    // independent reference: the previous entries minus the eq file, plus
    // one position-delete file at the new sequence
    val after = entries(tbl)
    val mine = after.filter(_._3 == newId)
    assert(mine.map(_._2) == Seq(1), mine.toString)
    assert(after == (before.filterNot(e => eqFile.contains(e._1)) ++ mine)
      .sortBy(_._1))
    val dataManifests = manifests(prevId).filter(_._2 == 0)
    assert(dataManifests.size == 3 &&
      dataManifests.toSet.subsetOf(manifests(newId).toSet),
      "data manifests must be listed verbatim")
    assert(stateOf(tbl) == (0L until 300L).filterNot(Set(10L, 110L, 210L))
      .map(k => (k, k % 7)).toSet)
  }
}
