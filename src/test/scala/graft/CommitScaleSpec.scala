package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.sources.{IcebergLayoutWriter, IcebergManifestSource,
  LayoutMaintenance, MorRead}
import graft.sources.IcebergLayoutWriter.ManifestEntrySpec

/** Manifest-REUSE commits at every table size: a commit references the
  * previous snapshot's manifest files verbatim in the new list, writes
  * its added files into fresh manifests and touches only the KB-sized
  * manifest list instead of materializing per-file entries. A commit
  * that removes data files (replace, COW delete, rewrite_data_files)
  * rewrites only the manifests holding a removed file; the delete-file
  * folds re-file only the delete side. No commit reads
  * `spark.graft.maxDriverFileEntries` — "past the cap" in older test
  * names is the shape every commit now takes. Each commit is pinned
  * against an independent reference: the previous snapshot's entry
  * relation (`statsFromTableDir` at the previous id) minus the removed
  * files plus the commit's own entries at the new id, and the expected
  * merge-on-read rows. */
class CommitScaleSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  /** Build a table at `tag` and run `appends` commits of one file each,
    * with recorded k-bounds; file contents/names identical across twins
    * so entry relations are comparable. */
  private def build(tag: String, appends: Int): java.io.File = {
    import spark.implicits._
    val tbl = new java.io.File(s"target/tmp-scale-$tag")
    org.apache.commons.io.FileUtils.deleteQuietly(tbl)
    val dataDir = new java.io.File(tbl, "data"); dataDir.mkdirs()
    (0 until appends).foreach { i =>
      val f = new java.io.File(dataDir, s"f$i.parquet")
      val lo = i * 100L; val hi = lo + 99L
      val n = IcebergLayoutWriter.writeSingleParquet(
        (lo to hi).map(k => (k, k % 7)).toDF("k", "b").sort(col("k")), f)
      LayoutMaintenance.commitAppend(spark, tbl.getPath, Seq(
        ManifestEntrySpec(status = 1, content = 0,
          filePath = f.getAbsolutePath, recordCount = n,
          sizeBytes = f.length(),
          lower = Map(1 -> IcebergLayoutWriter.boundLong(lo)),
          upper = Map(1 -> IcebergLayoutWriter.boundLong(hi)))))
    }
    tbl
  }

  private def entryRelation(tbl: java.io.File, snapshotId: Option[Long] = None)
      : Seq[(String, Int, Long, Long, Long, Long)] =
    IcebergManifestSource
      .statsFromTableDir(spark, tbl.getPath, "t", Seq((1, "k", LongType)),
        snapshotId)
      .select(col("file_path"), col("content"), col("record_count"),
        col("sequence_number"), col("lo_k"), col("hi_k"))
      .collect()
      .map(r => (r.getString(0).split('/').last, r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
      .sortBy(_._1).toSeq

  test("append reuses manifests; entries = previous snapshot's + the added file") {
    import spark.implicits._
    val tbl = build("fast", 3)
    val headBefore = LayoutMaintenance.snapshotIds(spark, tbl.getPath).last
    val oldList = new java.io.File(new java.io.File(tbl, "metadata"),
      s"snap-$headBefore-manifest-list.avro")
    val oldManifests = IcebergManifestSource.manifestPaths(
      spark.sparkContext.hadoopConfiguration,
      oldList.getAbsolutePath).toSet
    assert(oldManifests.nonEmpty)
    val before = entryRelation(tbl, Some(headBefore))

    val f = new java.io.File(new java.io.File(tbl, "data"), "f3.parquet")
    val n = IcebergLayoutWriter.writeSingleParquet(
      (300L to 399L).map(k => (k, k % 7)).toDF("k", "b").sort(col("k")), f)
    val headAfter = LayoutMaintenance.commitAppend(spark, tbl.getPath, Seq(
      ManifestEntrySpec(status = 1, content = 0,
        filePath = f.getAbsolutePath, recordCount = n,
        sizeBytes = f.length(),
        lower = Map(1 -> IcebergLayoutWriter.boundLong(300L)),
        upper = Map(1 -> IcebergLayoutWriter.boundLong(399L)))))

    // independent reference: the previous snapshot's decoded entries
    // (paths, seqs, counts, BOUNDS) untouched, plus the added file at the
    // new snapshot's sequence number
    assert(entryRelation(tbl) ==
      (before :+ (("f3.parquet", 0, 100L, headAfter, 300L, 399L))).sortBy(_._1))
    // manifest REUSE pinned: every pre-commit manifest file is
    // referenced VERBATIM by the new head's list
    val newList = new java.io.File(new java.io.File(tbl, "metadata"),
      s"snap-$headAfter-manifest-list.avro")
    val newManifests = IcebergManifestSource.manifestPaths(
      spark.sparkContext.hadoopConfiguration,
      newList.getAbsolutePath).toSet
    assert(oldManifests.subsetOf(newManifests),
      "fast append must reference the previous manifests verbatim")
    assert(newManifests.size == oldManifests.size + 1)
    // lineage + readability
    assert(LayoutMaintenance.snapshotIds(spark, tbl.getPath) ==
      Seq(1L, 2L, 3L, 4L))
    assert(MorRead.readTable(spark, tbl.getPath).count() == 400L)
    // summary totals extended from the previous snapshot's summary
    val sums = LayoutMaintenance.snapshotSummaries(spark, tbl.getPath)
      .find(_._1 == headAfter).map(_._3).getOrElse(Map.empty)
    assert(sums.get("total-data-files").contains("4"))
    assert(sums.get("total-records").contains("400"))
  }

  test("a later ordinary commit stacks cleanly on a reuse-committed snapshot") {
    import spark.implicits._
    val tbl = build("stack", 3)
    val f = new java.io.File(new java.io.File(tbl, "data"), "f3.parquet")
    val n = IcebergLayoutWriter.writeSingleParquet(
      (300L to 349L).map(k => (k, k % 7)).toDF("k", "b"), f)
    LayoutMaintenance.commitAppend(spark, tbl.getPath, Seq(
      ManifestEntrySpec(status = 1, content = 0,
        filePath = f.getAbsolutePath, recordCount = n,
        sizeBytes = f.length())))
    // the next commit (a position DELETE, itself a fast append) must
    // read the reuse-written list without loss
    val (_, nDel) = LayoutMaintenance.commitDeleteWhere(spark, tbl.getPath,
      col("k") >= 340L)
    assert(nDel == 10L)
    assert(MorRead.readTable(spark, tbl.getPath).count() == 340L)
  }

  /** Entry relation tolerant of bound-less entries (merge/delete files). */
  private def fullRelation(tbl: java.io.File,
      snapshotId: Option[Long] = None)
      : Seq[(String, Int, Long, Long, Option[Long], Option[Long])] =
    IcebergManifestSource
      .statsFromTableDir(spark, tbl.getPath, "t", Seq((1, "k", LongType)),
        snapshotId)
      .select(col("file_path"), col("content"), col("record_count"),
        col("sequence_number"), col("lo_k"), col("hi_k"))
      .collect()
      .map(r => (r.getString(0).split('/').last, r.getInt(1), r.getLong(2),
        r.getLong(3), if (r.isNullAt(4)) None else Some(r.getLong(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5))))
      .sortBy(_._1).toSeq

  private def stateOf(tbl: java.io.File, eqKeys: Seq[String] = Nil): Set[(Long, Long)] =
    MorRead.readTable(spark, tbl.getPath, eqKeys)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** (manifest path, content) rows of one snapshot's manifest list. */
  private def manifestsOf(tbl: java.io.File, id: Long): Seq[(String, Int)] =
    IcebergManifestSource.manifestList(
      spark.sparkContext.hadoopConfiguration,
      new java.io.File(new java.io.File(tbl, "metadata"),
        s"snap-$id-manifest-list.avro").getAbsolutePath)
      .map(m => (m.path, m.content))

  /** File names one manifest lists (a Spark read of that manifest). */
  private def filesIn(manifest: String): Set[String] =
    IcebergManifestSource.statsFromManifests(spark, Seq(manifest), "t", Nil)
      .select("file_path").collect()
      .map(_.getString(0).split('/').last).toSet

  /** Pin one commit from `prevId` to `newId` against the independent
    * reference: the new entry relation is the previous one minus the
    * `removed` file names plus this commit's own entries (sequence =
    * `newId`), whose (content, record_count) are `added`; every previous
    * manifest of `verbatimContent` that lists no removed file is
    * referenced verbatim, and every manifest that lists one is gone.
    * Returns the number of manifest files the commit wrote. */
  private def assertCommit(tbl: java.io.File, prevId: Long, newId: Long,
      before: Seq[(String, Int, Long, Long, Option[Long], Option[Long])],
      removed: Set[String], added: Seq[(Int, Long)],
      verbatimContent: Set[Int] = Set(0, 1)): Int = {
    assert(newId > before.map(_._4).max)
    val after = fullRelation(tbl, Some(newId))
    val mine = after.filter(_._4 == newId)
    assert(after ==
      (before.filterNot(e => removed(e._1)) ++ mine).sortBy(_._1))
    assert(mine.map(e => (e._2, e._3)).sorted == added.sorted, mine.toString)
    val prev = manifestsOf(tbl, prevId)
    val next = manifestsOf(tbl, newId).toSet
    val (touched, untouched) = prev.partition(m => filesIn(m._1).exists(removed))
    assert(untouched.filter(m => verbatimContent(m._2)).toSet.subsetOf(next),
      "manifests holding no removed file must be listed verbatim")
    assert(!touched.exists(next.contains),
      "a manifest holding a removed file must leave the list")
    (next -- prev).size
  }

  test("seven no-removal commit shapes fast-append at the default cap") {
    import spark.implicits._
    val rows = (0L to 299L).map(k => (k, k % 7)).toSet
    /** One commit shape on a fresh three-manifest table: `prep` runs
      * first, `commit` returns the new snapshot id, `added` is this
      * commit's own entries as (content, record_count), `state` the
      * head's expected rows after it. */
    case class Shape(tag: String, commit: java.io.File => Long,
        added: Seq[(Int, Long)], state: Set[(Long, Long)],
        prep: java.io.File => Unit = _ => (), supersedesDv: Boolean = false)
    val shapes = Seq(
      Shape("upsert", t => LayoutMaintenance.commitUpsert(spark, t.getPath,
          Seq((5L, 99L), (1000L, 1L)).toDF("k", "b"), Seq("k"))._1,
        Seq((0, 2L), (2, 2L)), rows - ((5L, 5L)) + ((5L, 99L)) + ((1000L, 1L))),
      Shape("merge", t => LayoutMaintenance.commitMerge(spark, t.getPath,
          Seq((5L, 99L, "U"), (150L, 0L, "D")).toDF("k", "b", "op"),
          Seq("k"), "op")._1,
        Seq((0, 1L), (2, 2L)), rows - ((5L, 5L)) - ((150L, 3L)) + ((5L, 99L))),
      Shape("eqdel", t => LayoutMaintenance.commitDelete(spark, t.getPath,
          Seq(7L, 8L).toDF("k"), Seq("k"))._1,
        Seq((2, 2L)), rows - ((7L, 0L)) - ((8L, 1L))),
      Shape("posdel", t => LayoutMaintenance.commitDeleteWhere(spark,
          t.getPath, col("k") >= 290L)._1,
        Seq((1, 10L)), rows.filter(_._1 < 290L)),
      // a live vector on the same data file is superseded by the merged one
      Shape("dv", t => LayoutMaintenance.commitDeleteWhereDv(spark,
          t.getPath, col("k") === 5L)._1,
        Seq((1, 2L)), rows - ((3L, 3L)) - ((5L, 5L)),
        prep = t => LayoutMaintenance.commitDeleteWhereDv(spark, t.getPath,
          col("k") === 3L),
        supersedesDv = true),
      // staged: the head keeps its rows
      Shape("stage", t => LayoutMaintenance.stageAppend(spark, t.getPath,
          Seq(dataFile(t, "staged.parquet", 3)), branch = "audit"),
        Seq((0, 100L)), rows),
      Shape("wap", t => LayoutMaintenance.stageAppendWap(spark, t.getPath,
          Seq(dataFile(t, "staged.parquet", 4)), wapId = "aud-7"),
        Seq((0, 100L)), rows))
    shapes.foreach { s =>
      val tbl = build(s"seven-${s.tag}", 3)
      s.prep(tbl)
      val prevId = LayoutMaintenance.snapshotIds(spark, tbl.getPath).last
      val prevManifests = manifestsOf(tbl, prevId)
      val before = fullRelation(tbl, Some(prevId))
      val newId = s.commit(tbl)
      assert(newId > before.map(_._4).max, s.tag)
      // the previous data manifests are listed verbatim (a DV delete
      // re-files only the delete side; every other shape keeps all)
      val verbatim =
        if (s.supersedesDv) prevManifests.filter(_._2 == 0) else prevManifests
      assert(verbatim.nonEmpty &&
        verbatim.toSet.subsetOf(manifestsOf(tbl, newId).toSet),
        s"${s.tag}: previous manifests must be listed verbatim")
      // entries = the previous snapshot's, untouched (paths, seqs, counts,
      // bounds), minus a superseded DV, plus this commit's at newId
      val after = fullRelation(tbl, Some(newId))
      val mine = after.filter(_._4 == newId)
      val carried =
        if (s.supersedesDv) before.filterNot(_._1.startsWith("dv-")) else before
      assert(after == (carried ++ mine).sortBy(_._1), s.tag)
      assert(mine.map(e => (e._2, e._3)).sorted == s.added.sorted,
        s"${s.tag}: $mine")
      assert(stateOf(tbl, Seq("k")) == s.state, s.tag)
    }
  }

  test("rewrite_data_files past the cap: no entry walk, tombstones folded, state preserved") {
    val tbl = build("rwcap", 3)
    val (prevId, nd) = LayoutMaintenance.commitDeleteWhere(spark,
      tbl.getPath, col("k") % 100L === 7L)
    assert(nd == 3L)
    val before = fullRelation(tbl, Some(prevId))
    val (newId, rows, filesBefore, filesAfter) =
      LayoutMaintenance.rewriteDataFiles(spark, tbl.getPath, Nil)
    assert((rows, filesBefore, filesAfter) == ((297L, 3, 1)))
    // every data file and the tombstone file retire; one file lands
    assertCommit(tbl, prevId, newId, before, removed = before.map(_._1).toSet,
      added = Seq((0, 297L)))
    assert(manifestsOf(tbl, newId).size == 1)
    assert(stateOf(tbl) ==
      (0L to 299L).filter(_ % 100L != 7L).map(k => (k, k % 7)).toSet)
    val sums = LayoutMaintenance.snapshotSummaries(spark, tbl.getPath)
      .find(_._1 == newId).map(_._3).getOrElse(Map.empty)
    assert(sums.get("total-data-files").contains("1") &&
      sums.get("total-records").contains("297") &&
      sums.get("total-delete-files").contains("0"), sums.toString)
  }

  test("targeted COW delete: untouched manifests ride verbatim, the touched one is filtered") {
    // f0 + f1 share the first manifest, f2 has its own: deleting rows of
    // f1 rewrites the first manifest down to f0 and keeps the second
    val tbl = new java.io.File("target/tmp-scale-cowcap")
    org.apache.commons.io.FileUtils.deleteQuietly(tbl)
    new java.io.File(tbl, "data").mkdirs()
    LayoutMaintenance.commitAppend(spark, tbl.getPath,
      Seq(dataFile(tbl, "f0.parquet", 0), dataFile(tbl, "f1.parquet", 1)))
    LayoutMaintenance.commitAppend(spark, tbl.getPath,
      Seq(dataFile(tbl, "f2.parquet", 2)))
    val prevId = LayoutMaintenance.snapshotIds(spark, tbl.getPath).last
    val before = fullRelation(tbl, Some(prevId))
    val (newId, deleted) = LayoutMaintenance.commitDeleteWhereCow(spark,
      tbl.getPath, col("k").between(100L, 105L))
    assert(deleted == 6L)
    // f0 keeps its sequence and bounds in the rewritten manifest; f1 is
    // replaced by the survivors file
    val written = assertCommit(tbl, prevId, newId, before,
      removed = Set("f1.parquet"), added = Seq((0, 94L)))
    assert(written == 2, "the filtered first manifest + the survivors' one")
    assert(stateOf(tbl) ==
      (0L to 299L).filterNot(k => k >= 100L && k <= 105L)
        .map(k => (k, k % 7)).toSet)
  }

  test("MOR delta commit past the cap: posdel lands via reuse; dead reference still conflicts") {
    import spark.implicits._
    val tbl = build("dcap", 3)
    def posdel(tbl: java.io.File, name: String, target: String,
        pos: Long): ManifestEntrySpec = {
      val f = new java.io.File(new java.io.File(tbl, "data"), name)
      val t = new java.io.File(new java.io.File(tbl, "data"), target)
        .getAbsolutePath
      val n = IcebergLayoutWriter.writeSingleParquet(
        Seq((t, pos)).toDF("file_path", "pos"), f)
      ManifestEntrySpec(status = 1, content = 1,
        filePath = f.getAbsolutePath, recordCount = n, sizeBytes = f.length())
    }
    def target(tbl: java.io.File): String = new java.io.File(
      new java.io.File(tbl, "data"), "f0.parquet").getAbsolutePath
    val prevId = LayoutMaintenance.snapshotIds(spark, tbl.getPath).last
    val before = fullRelation(tbl, Some(prevId))
    val newId = LayoutMaintenance.commitDeltaFiles(spark, tbl.getPath,
      Seq(posdel(tbl, "pd.parquet", "f0.parquet", 0L)),
      referencedDataFiles = Seq(target(tbl)))
    assert(assertCommit(tbl, prevId, newId, before, removed = Set.empty,
      added = Seq((1, 1L))) == 1)
    assert(stateOf(tbl) == (1L to 299L).map(k => (k, k % 7)).toSet)
    // the liveness check fires on a dead reference, committing nothing
    val e = intercept[graft.sources.CommitConflictException] {
      LayoutMaintenance.commitDeltaFiles(spark, tbl.getPath,
        Seq(posdel(tbl, "pd2.parquet", "f0.parquet", 1L)),
        referencedDataFiles =
          Seq(target(tbl).replace("f0.parquet", "gone.parquet")))
    }
    assert(e.getMessage.contains("no longer live"))
    assert(LayoutMaintenance.snapshotIds(spark, tbl.getPath).last == newId)
  }

  test("DV supersede holds past the cap: two DV deletes leave one live vector per file") {
    val tbl = build("dvcap", 3)
    LayoutMaintenance.commitDeleteWhereDv(spark, tbl.getPath, col("k") === 3L)
    LayoutMaintenance.commitDeleteWhereDv(spark, tbl.getPath, col("k") === 5L)
    val dvs = IcebergManifestSource
      .statsFromTableDir(spark, tbl.getPath, "t", Nil)
      .filter(col("content") === 1).select("file_path", "file_format")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(dvs.forall(_._2 == "PUFFIN"))
    val perTarget = dvs.flatMap(p =>
      graft.sources.DeletionVectors.read(new java.io.File(p._1)))
      .groupBy(_._1).view.mapValues(_.flatMap(_._2).toSet).toMap
    assert(perTarget.values.map(_.size).sum == 2)
    assert(perTarget.forall(_._2.subsetOf(Set(3L, 5L))))
    assert(dvs.size == 1, s"one superseding DV expected, got $dvs")
    assert(MorRead.readTable(spark, tbl.getPath).count() == 298L)
  }

  test("WAP staging past the cap: branch + wap.id appends reuse manifests, head isolated") {
    val tbl = build("wapcap", 3)
    // branch staging
    LayoutMaintenance.stageAppend(spark, tbl.getPath,
      Seq(dataFile(tbl, "staged.parquet", 3)), branch = "audit")
    // head untouched, branch sees the staged file
    assert(MorRead.readTable(spark, tbl.getPath).count() == 300L)
    val branchId = IcebergManifestSource
      .refSnapshotId(spark, tbl.getPath, "audit").get
    assert(LayoutMaintenance.snapshotIds(spark, tbl.getPath).last == branchId)
    assert(fullRelation(tbl).map(_._1).toSet == // head relation unchanged
      Set("f0.parquet", "f1.parquet", "f2.parquet"))
    // wap.id staging on a second table
    val tbl2 = build("wapidcap", 3)
    spark.conf.set("spark.wap.id", "ignored") // not read by the API path
    try LayoutMaintenance.stageAppendWap(spark, tbl2.getPath,
      Seq(dataFile(tbl2, "staged2.parquet", 4)), wapId = "aud-1")
    finally spark.conf.unset("spark.wap.id")
    assert(MorRead.readTable(spark, tbl2.getPath).count() == 300L)
    val staged = LayoutMaintenance.snapshotSummaries(spark, tbl2.getPath)
      .collectFirst { case (id, _, kv) if kv.get("wap.id").contains("aud-1")
        => id }
    assert(staged.nonEmpty, "wap.id summary tag must survive the reuse path")
    // publish via cherry-pick: the staged rows land on the head through
    // the reuse-shaped publish
    LayoutMaintenance.publishChanges(spark, tbl2.getPath, "aud-1")
    assert(MorRead.readTable(spark, tbl2.getPath).count() == 400L)
    assert(stateOf(tbl2).size == 400)
  }

  test("rewrite_position_deletes past the cap: data manifests ride verbatim, one posdel survives") {
    val tbl = build("rpdcap", 3)
    LayoutMaintenance.commitDeleteWhere(spark, tbl.getPath, col("k") === 5L)
    val (prevId, _) = LayoutMaintenance.commitDeleteWhere(spark,
      tbl.getPath, col("k") === 105L)
    val before = fullRelation(tbl, Some(prevId))
    val posFiles = before.filter(_._2 == 1).map(_._1).toSet
    assert(posFiles.size == 2)
    val (newId, filesBefore, filesAfter, pairs) =
      LayoutMaintenance.rewritePositionDeletes(spark, tbl.getPath)
    assert((filesBefore, filesAfter, pairs) == ((2, 1, 2L)))
    // the two tombstone files fold into one; data manifests are verbatim
    assertCommit(tbl, prevId, newId, before, removed = posFiles,
      added = Seq((1, 2L)), verbatimContent = Set(0))
    assert(stateOf(tbl) == (0L to 299L).filterNot(Set(5L, 105L))
      .map(k => (k, k % 7)).toSet)
  }

  test("clone past the cap is BY REFERENCE: list copy, shared bytes, expiry never reaches the source") {
    val src = build("clsrc", 3)
    val dst = new java.io.File("target/tmp-scale-cldst")
    org.apache.commons.io.FileUtils.deleteQuietly(dst)
    val (cloneId, nFiles) =
      LayoutMaintenance.snapshotTable(spark, src.getPath, dst.getPath)
    assert(nFiles == 3)
    assert(stateOf(dst) == stateOf(src))
    assert(fullRelation(dst) == fullRelation(src)) // seqs/bounds verbatim
    // the clone's list references the SOURCE's manifest files in place
    val cloneManifests = IcebergManifestSource.manifestPaths(
      spark.sparkContext.hadoopConfiguration,
      new java.io.File(new java.io.File(dst, "metadata"),
        s"snap-$cloneId-manifest-list.avro").getAbsolutePath)
    assert(cloneManifests.nonEmpty &&
      cloneManifests.forall(_.contains("tmp-scale-clsrc")),
      s"by-reference clone must point at the source's manifests: $cloneManifests")
    // clone diverges with its own commit, then expires its history —
    // the source's referenced manifests MUST survive (ownership guard)
    LayoutMaintenance.commitAppend(spark, dst.getPath,
      Seq(dataFile(dst, "mine.parquet", 9)))
    LayoutMaintenance.expireSnapshots(spark, dst.getPath, keepLast = 1)
    assert(cloneManifests.forall(p => new java.io.File(p).exists()),
      "expiring clone history must never delete the source's files")
    assert(stateOf(src).size == 300) // source untouched end to end
    assert(MorRead.readTable(spark, dst.getPath).count() == 400L)
  }

  test("rewrite_data_files with a target size: task-parallel multi-file output, state exact") {
    val tbl = build("rwtgt", 3)
    LayoutMaintenance.commitDeleteWhere(spark, tbl.getPath, col("k") === 7L)
    val pre = stateOf(tbl)
    assert(pre.size == 299)
    // target ≈ a third of the data: the rewrite must emit SEVERAL files
    val totalBytes = fullRelation(tbl).filter(_._2 == 0)
      .map(r => new java.io.File(new java.io.File(tbl, "data"), r._1).length())
      .sum
    val (_, rows, before, after) = LayoutMaintenance.rewriteDataFiles(
      spark, tbl.getPath, Nil, sortCols = Seq("k"),
      targetFileSizeBytes = Some(totalBytes / 3))
    assert(rows == 299L && before == 3)
    assert(after > 1, s"expected a multi-file rewrite, got $after")
    assert(stateOf(tbl) == pre)
    assert(fullRelation(tbl).count(_._2 != 0) == 0, "tombstones folded")
    // range-distributed + sorted: the output files' k ranges are DISJOINT
    val ranges = fullRelation(tbl).map { r =>
      val f = new java.io.File(new java.io.File(tbl, "data"), r._1)
      val ks = spark.read.parquet(f.getAbsolutePath).select("k")
        .collect().map(_.getLong(0))
      (ks.min, ks.max)
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi < lo2, s"output ranges must be disjoint: $ranges")
      case _ => ()
    }
  }

  test("rewriteSmallFiles: overshoot groups fold, large files ride verbatim (executed bin-pack)") {
    import spark.implicits._
    val tbl = new java.io.File("target/tmp-scale-binpack")
    org.apache.commons.io.FileUtils.deleteQuietly(tbl)
    val dataDir = new java.io.File(tbl, "data"); dataDir.mkdirs()
    // 6 small files (~3-4 KB each) + 1 large file, committed one by one
    val sizes = scala.collection.mutable.Map.empty[String, Long]
    (0 until 6).foreach { i =>
      val f = new java.io.File(dataDir, s"s$i.parquet")
      val lo = i * 10L
      val n = IcebergLayoutWriter.writeSingleParquet(
        (lo until lo + 10L).map(k => (k, s"v$k")).toDF("k", "v"), f)
      sizes(f.getName) = f.length()
      LayoutMaintenance.commitAppend(spark, tbl.getPath, Seq(
        ManifestEntrySpec(status = 1, content = 0,
          filePath = f.getAbsolutePath, recordCount = n,
          sizeBytes = f.length())))
    }
    val big = new java.io.File(dataDir, "big.parquet")
    val nBig = IcebergLayoutWriter.writeSingleParquet(
      (1000L until 6000L).map(k => (k, s"v$k")).toDF("k", "v"), big)
    LayoutMaintenance.commitAppend(spark, tbl.getPath, Seq(
      ManifestEntrySpec(status = 1, content = 0,
        filePath = big.getAbsolutePath, recordCount = nBig,
        sizeBytes = big.length())))
    val before = MorRead.readTable(spark, tbl.getPath)
      .collect().map(_.toSeq).toSet
    // threshold between small and big; group cap = ~3 small files
    val smallCap = big.length() // strict <: big excluded
    val groupCap = sizes.values.toSeq.sorted.take(3).sum
    val (snap, compacted, groups) = LayoutMaintenance.rewriteSmallFiles(
      spark, tbl.getPath, maxGroupBytes = groupCap,
      smallFileBytes = smallCap)
    assert(compacted == 6)
    // the EXACT overshoot prediction: same loop the metric report runs
    val expectedGroups = {
      var g = 0; var cur = 0L; var nonEmpty = false
      sizes.values.toSeq.sorted.foreach { s =>
        if (cur > groupCap) { g += 1; cur = 0L; nonEmpty = false }
        cur += s; nonEmpty = true
      }
      if (nonEmpty) g + 1 else g
    }
    assert(groups == expectedGroups,
      s"executed packer must match the simulated one: $groups vs $expectedGroups")
    // big file carried VERBATIM; small files replaced by the groups
    val live = fullRelation(tbl).map(_._1).toSet
    assert(live.contains("big.parquet"))
    assert(!live.exists(_.startsWith("s")), live.toString)
    assert(live.size == 1 + groups)
    // state exact, snapshot appended (history preserved)
    assert(MorRead.readTable(spark, tbl.getPath)
      .collect().map(_.toSeq).toSet == before)
    assert(LayoutMaintenance.snapshotIds(spark, tbl.getPath).last == snap)
    // idempotence at the same thresholds: consolidated files are now
    // either large or single-group — nothing left to fold
    val smallAfter = fullRelation(tbl).count(r =>
      r._1 != "big.parquet")
    val (snap2, c2, g2) = LayoutMaintenance.rewriteSmallFiles(
      spark, tbl.getPath, maxGroupBytes = groupCap,
      smallFileBytes = smallCap)
    assert(if (smallAfter >= 2) c2 >= 0 else c2 == 0)
    val _ = (snap2, g2)
  }

  test("rewriteSmallFiles on a PARTITIONED table: groups never span partitions, values kept") {
    import spark.implicits._
    val tbl = new java.io.File("target/tmp-scale-binpart")
    org.apache.commons.io.FileUtils.deleteQuietly(tbl)
    val dataDir = new java.io.File(tbl, "data"); dataDir.mkdirs()
    // two partitions, three small files each
    (0 until 6).foreach { i =>
      val part = (i % 2).toLong
      val f = new java.io.File(dataDir, s"p$i.parquet")
      val n = IcebergLayoutWriter.writeSingleParquet(
        (0 until 10).map(j => (i * 10L + j, part)).toDF("k", "pt"), f)
      LayoutMaintenance.commitAppend(spark, tbl.getPath, Seq(
        ManifestEntrySpec(status = 1, content = 0,
          filePath = f.getAbsolutePath, recordCount = n,
          sizeBytes = f.length(), partition = Seq(("pt", part)))),
        partitionSpec = Seq(("pt", "identity", 2)))
    }
    val pre = MorRead.readTable(spark, tbl.getPath).collect().map(_.toSeq).toSet
    val (_, compacted, groups) = LayoutMaintenance.rewriteSmallFiles(
      spark, tbl.getPath, maxGroupBytes = Long.MaxValue / 4,
      smallFileBytes = Long.MaxValue / 4)
    assert(compacted == 6)
    assert(groups == 2, s"one group per partition expected, got $groups")
    // every consolidated file kept its partition values
    val parts = IcebergManifestSource
      .statsFromTableDir(spark, tbl.getPath, "t", Nil)
      .filter(col("content") === 0)
      .select("partitionKey").collect().map(_.getString(0)).sorted.toSeq
    assert(parts == Seq("""{"pt":0}""", """{"pt":1}"""), parts.toString)
    assert(MorRead.readTable(spark, tbl.getPath)
      .collect().map(_.toSeq).toSet == pre)
  }

  test("replace-all past the cap carries nothing: RTAS shape at scale") {
    val tbl = build("racap", 3)
    val prevId = LayoutMaintenance.snapshotIds(spark, tbl.getPath).last
    val before = fullRelation(tbl, Some(prevId))
    val f = dataFile(tbl, "fresh.parquet", 3)
    val newId = LayoutMaintenance.commitReplaceAll(spark, tbl.getPath, Seq(f))
    assertCommit(tbl, prevId, newId, before,
      removed = before.map(_._1).toSet, added = Seq((0, 100L)))
    assert(fullRelation(tbl).map(_._1) == Seq("fresh.parquet"))
    assert(stateOf(tbl) == (300L to 399L).map(k => (k, k % 7)).toSet)
    // history preserved
    assert(LayoutMaintenance.snapshotIds(spark, tbl.getPath).size == 4)
  }

  test("a one-file replace lists the two untouched manifests verbatim and writes one manifest") {
    val tbl = build("onefile", 3)
    val prevId = LayoutMaintenance.snapshotIds(spark, tbl.getPath).last
    assert(manifestsOf(tbl, prevId).size == 3)
    val before = fullRelation(tbl, Some(prevId))
    val fresh = dataFile(tbl, "fresh.parquet", 1)
    val newId = LayoutMaintenance.commitReplaceFiles(spark, tbl.getPath,
      Seq(new java.io.File(new java.io.File(tbl, "data"), "f1.parquet")
        .getAbsolutePath), Seq(fresh))
    assert(assertCommit(tbl, prevId, newId, before,
      removed = Set("f1.parquet"), added = Seq((0, 100L))) == 1)
    assert(manifestsOf(tbl, newId).size == 3)
    assert(stateOf(tbl) == (0L to 299L).map(k => (k, k % 7)).toSet)
  }

  test("small-table commits run no Spark job: replace, cherry-pick, MOR delta, clone") {
    import spark.implicits._
    import SparkSpec.jobsDuring
    // the helper does see a job
    assert(jobsDuring(spark)(spark.range(3).count()) >= 1)
    val tbl = build("nojob", 3)
    val fresh = dataFile(tbl, "fresh.parquet", 1)
    assert(jobsDuring(spark) {
      LayoutMaintenance.commitReplaceFiles(spark, tbl.getPath,
        Seq(new java.io.File(new java.io.File(tbl, "data"), "f1.parquet")
          .getAbsolutePath), Seq(fresh))
    } == 0)
    val staged = LayoutMaintenance.stageAppend(spark, tbl.getPath,
      Seq(dataFile(tbl, "staged.parquet", 4)), branch = "audit")
    LayoutMaintenance.commitAppend(spark, tbl.getPath,
      Seq(dataFile(tbl, "moved.parquet", 5)))
    assert(jobsDuring(spark) {
      LayoutMaintenance.cherryPick(spark, tbl.getPath, staged)
    } == 0)
    val target = new java.io.File(new java.io.File(tbl, "data"), "f0.parquet")
      .getAbsolutePath
    val pd = new java.io.File(new java.io.File(tbl, "data"), "pd.parquet")
    val n = IcebergLayoutWriter.writeSingleParquet(
      Seq((target, 0L)).toDF("file_path", "pos"), pd)
    assert(jobsDuring(spark) {
      LayoutMaintenance.commitDeltaFiles(spark, tbl.getPath,
        Seq(ManifestEntrySpec(status = 1, content = 1,
          filePath = pd.getAbsolutePath, recordCount = n,
          sizeBytes = pd.length())),
        referencedDataFiles = Seq(target))
    } == 0)
    val dst = new java.io.File("target/tmp-scale-nojob-clone")
    org.apache.commons.io.FileUtils.deleteQuietly(dst)
    assert(jobsDuring(spark) {
      LayoutMaintenance.snapshotTable(spark, tbl.getPath, dst.getPath)
    } == 0)
    assert(stateOf(dst) == stateOf(tbl))
  }

  private def dataFile(tbl: java.io.File, name: String,
      i: Int): ManifestEntrySpec = {
    import spark.implicits._
    val f = new java.io.File(new java.io.File(tbl, "data"), name)
    val lo = i * 100L; val hi = lo + 99L
    val n = IcebergLayoutWriter.writeSingleParquet(
      (lo to hi).map(k => (k, k % 7)).toDF("k", "b").sort(col("k")), f)
    ManifestEntrySpec(status = 1, content = 0,
      filePath = f.getAbsolutePath, recordCount = n, sizeBytes = f.length(),
      lower = Map(1 -> IcebergLayoutWriter.boundLong(lo)),
      upper = Map(1 -> IcebergLayoutWriter.boundLong(hi)))
  }
}
