package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.{CommitConflictException, IcebergLayoutWriter,
  IcebergManifestSource, LayoutMaintenance, MorRead}
import graft.sources.IcebergLayoutWriter.ManifestEntrySpec

/** Cross-process commit atomicity: every commit is a compare-and-swap on
  * the metadata version (the document is built from a PINNED base file
  * and v(base+1) is created atomically). A writer that loses the race
  * gets [[CommitConflictException]]; append-shaped commits retry against
  * the fresh base, replace-shaped commits fail loudly. The JVM-local
  * commitLock is now an optimization (it avoids retry churn), not the
  * correctness mechanism — these tests drive the interleavings the lock
  * cannot see (reference: Iceberg's HadoopTableOperations commit, which
  * renames to v(N+1) and fails if it exists). */
class CommitOccSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private def freshTable(tag: String,
      rows: Seq[(Long, String, Long)]): java.io.File = {
    import spark.implicits._
    val tbl = new java.io.File(s"target/tmp-occ-$tag")
    org.apache.commons.io.FileUtils.deleteQuietly(tbl)
    val dataDir = new java.io.File(tbl, "data"); dataDir.mkdirs()
    val bf = new java.io.File(dataDir, "base.parquet")
    val n = IcebergLayoutWriter.writeSingleParquet(
      rows.toDF("k", "name", "v").sort(col("k")), bf)
    IcebergLayoutWriter.writeTable(tbl, Seq(ManifestEntrySpec(status = 1,
      content = 0, filePath = bf.getAbsolutePath, recordCount = n,
      sizeBytes = bf.length(), sequenceNumber = 1L)))
    tbl
  }

  private def dataFile(tbl: java.io.File, name: String,
      rows: Seq[(Long, String, Long)]): ManifestEntrySpec = {
    import spark.implicits._
    val f = new java.io.File(new java.io.File(tbl, "data"), name)
    val n = IcebergLayoutWriter.writeSingleParquet(
      rows.toDF("k", "name", "v").sort(col("k")), f)
    ManifestEntrySpec(status = 1, content = 0,
      filePath = f.getAbsolutePath, recordCount = n, sizeBytes = f.length())
  }

  private def liveFiles(tbl: java.io.File): Set[String] =
    IcebergManifestSource.statsFromTableDir(spark, tbl.getPath, "t", Nil)
      .filter(col("content") === 0).select("file_path")
      .collect().map(_.getString(0).split('/').last).toSet

  test("two interleaved appends from separate metadata reads BOTH survive (retry path)") {
    val tbl = freshTable("interleave", Seq((1L, "a", 10L)))
    val mine = dataFile(tbl, "mine.parquet", Seq((2L, "b", 20L)))
    val theirs = dataFile(tbl, "theirs.parquet", Seq((3L, "c", 30L)))
    // the hook fires AFTER my commit has read its base + planned its
    // entries, and commits the interloper from that window — exactly two
    // processes racing the same base version. One-shot: the retry's
    // second attempt sees a quiet table.
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    var interloperId = -1L
    val myId = LayoutMaintenance.commitAppend(spark, tbl.getPath,
      Seq(mine), afterPlan = () =>
        if (fired.compareAndSet(false, true))
          interloperId = LayoutMaintenance.commitAppend(
            spark, tbl.getPath, Seq(theirs)))
    assert(interloperId == 2L, "interloper commits first on the shared base")
    assert(myId == 3L, "loser retries and lands ON TOP of the interloper")
    // the round-9 failure mode was exactly here: the loser's swap built
    // on the winner's base but with a stale snapshots array, silently
    // vanishing theirs.parquet
    assert(liveFiles(tbl) == Set("base.parquet", "mine.parquet", "theirs.parquet"))
    // lineage preserved: history is base -> interloper -> retried commit
    assert(LayoutMaintenance.snapshotIds(spark, tbl.getPath) == Seq(1L, 2L, 3L))
    assert(MorRead.readTable(spark, tbl.getPath, Nil).count() == 3L)
  }

  test("replace-shaped commit losing its race fails LOUDLY, table untouched") {
    val tbl = freshTable("replace", Seq((1L, "a", 10L), (2L, "b", 20L)))
    // simulate a cross-process winner this JVM has not observed yet: the
    // next version file exists on disk (the winner's CAS) while our
    // version-hint still names v1 — the exact window between a racing
    // writer's create and our next read
    val meta = new java.io.File(tbl, "metadata")
    java.nio.file.Files.copy(
      new java.io.File(meta, "v1.metadata.json").toPath,
      new java.io.File(meta, "v2.metadata.json").toPath)
    val e = intercept[CommitConflictException] {
      LayoutMaintenance.rewriteDataFiles(spark, tbl.getPath, Nil)
    }
    assert(e.getMessage.contains("conflict"))
    // nothing moved: same files, same history
    assert(liveFiles(tbl) == Set("base.parquet"))
    assert(LayoutMaintenance.snapshotIds(spark, tbl.getPath) == Seq(1L))
  }

  test("append retry NEVER silently overwrites a torn winner: exhausts loudly") {
    val tbl = freshTable("torn", Seq((1L, "a", 10L)))
    val mine = dataFile(tbl, "mine.parquet", Seq((2L, "b", 20L)))
    // a winner that created v2 but died before advancing the hint is a
    // dead-end base: every retry re-reads v1 and re-conflicts. The old
    // behavior would have grafted over it; the CAS surfaces it.
    val meta = new java.io.File(tbl, "metadata")
    java.nio.file.Files.copy(
      new java.io.File(meta, "v1.metadata.json").toPath,
      new java.io.File(meta, "v2.metadata.json").toPath)
    val e = intercept[CommitConflictException] {
      LayoutMaintenance.commitAppend(spark, tbl.getPath, Seq(mine))
    }
    assert(e.getMessage.contains("races"))
  }

  test("metadata-only ops (setRef) CAS too: racing ref writes both survive via retry") {
    val tbl = freshTable("refs", Seq((1L, "a", 10L)))
    LayoutMaintenance.commitAppend(spark, tbl.getPath,
      Seq(dataFile(tbl, "f2.parquet", Seq((2L, "b", 20L)))))
    LayoutMaintenance.setRef(spark, tbl.getPath, "audit", "tag", Some(1L))
    LayoutMaintenance.setRef(spark, tbl.getPath, "head2", "branch", Some(2L))
    val rl = graft.sources.MetadataTables.refs(spark, tbl.getPath)
      .select("name").collect().map(_.getString(0)).toSet
    assert(rl.contains("audit") && rl.contains("head2"))
  }

  test("metadata-only commits CAS: a planted unhinted next version refuses every op") {
    import spark.implicits._
    // (op name, commit) — each is a metadata-only read-modify-write of
    // the current document, so each must lose to a v(N+1) it did not write
    val ops: Seq[(String, String => Unit)] = Seq(
      "upgradeFormatVersion" -> (d =>
        LayoutMaintenance.upgradeFormatVersion(spark, d, 3)),
      "evolvePartitionSpec" -> (d =>
        LayoutMaintenance.evolvePartitionSpec(spark, d, Nil)),
      "computePartitionStats" -> (d =>
        LayoutMaintenance.computePartitionStats(spark, d)),
      "attachStatistics" -> { d =>
        val stats = new java.io.File(d, "metadata/stats-1.puffin")
        java.nio.file.Files.write(stats.toPath, Array[Byte](1, 2, 3))
        LayoutMaintenance.attachStatistics(spark, d, 1L, stats, Nil)
      },
      "setRef" -> (d =>
        LayoutMaintenance.setRef(spark, d, "audit", "tag", Some(1L))))
    ops.foreach { case (name, op) =>
      val tbl = new java.io.File(s"target/tmp-occ-meta-$name")
      org.apache.commons.io.FileUtils.deleteQuietly(tbl)
      val bf = new java.io.File(new java.io.File(tbl, "data"), "base.parquet")
      bf.getParentFile.mkdirs()
      val n = IcebergLayoutWriter.writeSingleParquet(
        Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "name", "v"), bf)
      // pre-lineage fixture: stamped 2, so the upgrade has work to do
      IcebergLayoutWriter.writeTable(tbl, Seq(ManifestEntrySpec(status = 1,
        content = 0, filePath = bf.getAbsolutePath, recordCount = n,
        sizeBytes = bf.length(), sequenceNumber = 1L)),
        assignRowIds = false)
      val meta = new java.io.File(tbl, "metadata")
      val hint = new java.io.File(meta, "version-hint.text")
      val planted = new java.io.File(meta, "v2.metadata.json")
      val plantedBytes = (new String(java.nio.file.Files.readAllBytes(
        new java.io.File(meta, "v1.metadata.json").toPath), "UTF-8")
        .trim.stripSuffix("}") + ", \"planted-by\": \"racer\"}")
        .getBytes("UTF-8")
      java.nio.file.Files.write(planted.toPath, plantedBytes)
      val hintBytes = java.nio.file.Files.readAllBytes(hint.toPath)
      intercept[CommitConflictException](op(tbl.getPath))
      assert(java.nio.file.Files.readAllBytes(planted.toPath)
        .sameElements(plantedBytes), s"$name overwrote the planted version")
      assert(java.nio.file.Files.readAllBytes(hint.toPath)
        .sameElements(hintBytes), s"$name moved the hint")
      assert(LayoutMaintenance.snapshotIds(spark, tbl.getPath) == Seq(1L),
        s"$name: history unchanged")
      assert(MorRead.readTable(spark, tbl.getPath, Nil).count() == 2L,
        s"$name: table readable")
    }
  }

  test("cherry-pick of a genuine spec-0 snapshot onto a spec-evolved table keeps spec 0") {
    val tbl = freshTable("cherryspec", Seq((1L, "a", 10L)))
    // stage an append under spec 0 (the table's only spec today)
    val staged = LayoutMaintenance.stageAppend(spark, tbl.getPath,
      Seq(dataFile(tbl, "staged.parquet", Seq((2L, "b", 20L)))), "wap")
    assert(staged == 2L)
    // evolve to a NEW default spec (id 1; empty field list = evolved
    // unpartitioned spec) WITHOUT touching any file
    val newSpec = LayoutMaintenance.evolvePartitionSpec(
      spark, tbl.getPath, Nil)
    assert(newSpec == 1)
    // publish the stage by cherry-pick: its entries were WRITTEN under
    // spec 0 and must stay filed under spec 0 — specId 0 is a real id,
    // not the unset sentinel (round-9 code re-stamped it to the evolved
    // default, misfiling partition values for spec-aware readers)
    val head = LayoutMaintenance.cherryPick(spark, tbl.getPath, staged)
    val list = new java.io.File(new java.io.File(tbl, "metadata"),
      s"snap-$head-manifest-list.avro").getAbsolutePath
    val sids = IcebergManifestSource.manifestList(
      spark.sparkContext.hadoopConfiguration, list).map(_.specId).toSet
    assert(sids == Set(0),
      s"cherry-picked spec-0 entries must keep spec 0, got $sids")
    assert(liveFiles(tbl) == Set("base.parquet", "staged.parquet"))
  }

  test("delta commit validates tombstone targets still live (validateDataFilesExist)") {
    import spark.implicits._
    val tbl = freshTable("deltaval", Seq((1L, "a", 10L), (2L, "b", 20L)))
    val basePath = new java.io.File(new java.io.File(tbl, "data"),
      "base.parquet").getAbsolutePath
    def posdel(name: String): ManifestEntrySpec = {
      val f = new java.io.File(new java.io.File(tbl, "data"), name)
      val n = IcebergLayoutWriter.writeSingleParquet(
        Seq((basePath, 0L)).toDF("file_path", "pos"), f)
      ManifestEntrySpec(status = 1, content = 1,
        filePath = f.getAbsolutePath, recordCount = n, sizeBytes = f.length())
    }
    // live target: the delta lands
    LayoutMaintenance.commitDeltaFiles(spark, tbl.getPath,
      Seq(posdel("pd1.parquet")), referencedDataFiles = Seq(basePath))
    assert(MorRead.readTable(spark, tbl.getPath, Nil).count() == 1L)
    // a concurrent-shaped rewrite replaces base.parquet; a delta whose
    // scan predates it must FAIL the statement (its DELETE half would
    // dangle while its inserts land — silent duplicates), and fail
    // IMMEDIATELY: retrying against newer bases cannot resurrect the file
    LayoutMaintenance.rewriteDataFiles(spark, tbl.getPath, Nil)
    val t0 = System.nanoTime()
    val e = intercept[CommitConflictException] {
      LayoutMaintenance.commitDeltaFiles(spark, tbl.getPath,
        Seq(posdel("pd2.parquet")), referencedDataFiles = Seq(basePath))
    }
    assert(e.getMessage.contains("no longer live"), e.getMessage)
    assert(!e.retryable)
    assert(!e.getMessage.contains("races"), "must not burn the retry loop")
    val _ = t0
  }

  test("commitReplaceAll derives the replace set from the commit's own pinned base") {
    val tbl = freshTable("replall", Seq((1L, "a", 10L)))
    // a commit the caller never observed (the RTAS race window)
    LayoutMaintenance.commitAppend(spark, tbl.getPath,
      Seq(dataFile(tbl, "late.parquet", Seq((2L, "b", 20L)))))
    LayoutMaintenance.commitReplaceAll(spark, tbl.getPath,
      Seq(dataFile(tbl, "repl.parquet", Seq((9L, "z", 90L)))))
    // EVERY pre-replace file is out — including the unobserved one
    assert(liveFiles(tbl) == Set("repl.parquet"))
    // history preserved: the replace is a snapshot, not a reset
    assert(LayoutMaintenance.snapshotIds(spark, tbl.getPath).size == 3)
  }
}
