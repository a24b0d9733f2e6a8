package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** A commit lost its optimistic-concurrency race: the metadata version it
  * was computed against is no longer current (another writer — possibly in
  * a DIFFERENT process — committed first). Append-shaped commits catch
  * this and retry against the new base; replace-shaped commits let it
  * propagate, because their write decisions (which files to drop) were
  * made against state that no longer exists. Mirrors Iceberg's
  * CommitFailedException contract. */
final class CommitConflictException(msg: String,
    cause: Throwable = null,
    /** false = retrying cannot help (the conflict invalidates the
      * commit's own inputs, not just its base version — e.g. a data file
      * its tombstones reference was removed); the retry loop rethrows
      * immediately and the STATEMENT fails, Iceberg's
      * validateDataFilesExist behavior. */
    val retryable: Boolean = true) extends RuntimeException(msg, cause)

/** EXECUTED metadata maintenance over real on-disk v2 layouts — the
  * operational side of q127's expire_snapshots dry run, on the same
  * format [[IcebergLayoutWriter]] writes and [[IcebergManifestSource]]
  * reads. Two operations Iceberg tables need continuously:
  *
  *   - [[expireSnapshots]]: drop history older than the last N
  *     snapshots, rewrite the metadata JSON, and DELETE the
  *     now-unreferenced manifest lists + manifests (data files
  *     referenced by surviving snapshots are never touched — reachability
  *     is computed from the survivors, not assumed);
  *   - [[rewriteManifests]]: merge a snapshot's many small manifests
  *     into one consolidated manifest per content kind (the metadata
  *     twin of data-file compaction: planning cost is proportional to
  *     manifest count, and a streaming writer leaves thousands).
  *
  * Both run driver-side over metadata-sized inputs (manifest lists are
  * KBs; entry rewrite streams through the lazy Avro iterator) — at
  * 100 TB the DATA never moves, which is exactly why metadata-only
  * maintenance is the cheap lever. LakeLayoutMaintenanceSpec drives both
  * against written fixture layouts and proves reachability is preserved
  * bit-exactly (pre/post FileEntry relations match per surviving
  * snapshot).
  */
object LayoutMaintenance {
  import IcebergManifestSource.{currentMetadata, readDocument, stringMap}

  private def metaDir(tableDir: String) = new java.io.File(tableDir, "metadata")

  /** The metadata document a commit is based on, pinned by FILE (not by
    * "whatever is current when we get around to writing"): every read the
    * commit makes should derive from this file, and the commit's version
    * swap is a compare-and-swap against `version` — see
    * [[commitMetadata]]. */
  final case class MetaBase(file: java.io.File, version: Long)

  /** Pin the current metadata version as a commit base. Captured FIRST in
    * every commit path, before any state reads — a concurrent commit
    * landing after the capture makes the final swap fail (conflict)
    * instead of silently building on mixed state. */
  def metaBase(spark: SparkSession, tableDir: String): MetaBase = {
    val f = currentMetadataFile(spark, tableDir)
    MetaBase(f, IcebergManifestSource.metadataVersion(f.getName).getOrElse(0L))
  }

  /** THE metadata commit — Iceberg's file-system-table rule
    * (https://iceberg.apache.org/spec/#file-system-tables): read the
    * pinned `base` document, apply `edit`, create v(base+1) only if it
    * does not exist, then move the hint. CREATE_NEW is the
    * compare-and-swap: the document derives ENTIRELY from v(base), so
    * atomically creating v(base+1) succeeds iff no other writer — same
    * JVM or a different PROCESS — committed since the base was pinned.
    * A loser gets [[CommitConflictException]]: append-shaped callers
    * retry via [[withCommitRetry]], replace-shaped callers fail loudly.
    * Building from the pinned file (never "whatever is current now") is
    * what keeps a racing loser from grafting its stale snapshots array
    * onto the winner's document. Returns the new version. */
  def commitMetadata(spark: SparkSession, tableDir: String, base: MetaBase)(
      edit: com.fasterxml.jackson.databind.node.ObjectNode => Unit): Long = {
    val root = readDocument(base.file)
    edit(root)
    val next = new java.io.File(metaDir(tableDir),
      s"v${base.version + 1}.metadata.json")
    try java.nio.file.Files.write(next.toPath,
      new com.fasterxml.jackson.databind.ObjectMapper()
        .writerWithDefaultPrettyPrinter().writeValueAsBytes(root),
      java.nio.file.StandardOpenOption.CREATE_NEW,
      java.nio.file.StandardOpenOption.WRITE)
    catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        throw new CommitConflictException(
          s"metadata version conflict on $tableDir: base v${base.version} " +
            s"is no longer current ($next already exists — a concurrent " +
            "writer committed first)", e)
    }
    writeHintAtomic(metaDir(tableDir), base.version + 1)
    base.version + 1
  }

  /** Optimistic-commit retry loop for APPEND-shaped commits (new files on
    * top of whatever is current — recomputing against a newer base is
    * always valid): run `body`, and on [[CommitConflictException]] re-run
    * it from scratch (it re-captures [[metaBase]] and re-reads state) up
    * to `maxAttempts` times. Replace-shaped commits must NOT use this —
    * their removed-file decisions die with the old base. Iceberg's own
    * commit protocol: CAS, and retry only what composes. */
  def withCommitRetry[T](tableDir: String, maxAttempts: Int = 5)(
      body: => T): T = {
    var attempt = 0
    var last: CommitConflictException = null
    while (attempt < maxAttempts) {
      attempt += 1
      try return body
      catch {
        case e: CommitConflictException if e.retryable =>
          last = e
          // brief deterministic backoff: losers of a same-ms race should
          // not immediately collide again on the next version
          Thread.sleep(5L * attempt)
      }
    }
    throw new CommitConflictException(
      s"commit on $tableDir lost $maxAttempts consecutive version races",
      last)
  }

  /** The SAME resolver the reader uses ([[IcebergManifestSource]]) —
    * maintenance and reads can never disagree about which metadata file
    * is current (incl. hint-as-filename and dead-hint listing fallback). */
  private def currentMetadataFile(spark: SparkSession,
      tableDir: String): java.io.File =
    new java.io.File(
      IcebergManifestSource.currentMetadataPath(spark, tableDir).toUri.getPath)

  /** The catalog descriptor's `properties` map (graft-table.json) —
    * empty for descriptor-less layouts; an unreadable descriptor fails
    * naming the file. One small-file read; the ONLY
    * descriptor-properties parser (the write/commit paths all route
    * through here). */
  private[graft] def descriptorProps(tableDir: String): Map[String, String] = {
    val d = new java.io.File(tableDir, "graft-table.json")
    if (d.exists()) stringMap(readDocument(d).get("properties")) else Map.empty
  }

  /** The metadata document's `properties` map (external layouts) —
    * empty when the table has no metadata yet. */
  private def metadataProps(spark: SparkSession,
      tableDir: String): Map[String, String] =
    if (!IcebergManifestSource.hasMetadata(tableDir)) Map.empty
    else stringMap(currentMetadata(spark, tableDir).get("properties"))

  /** Layered table properties for per-key settings: the catalog
    * descriptor (where SQL DDL lands CREATE/ALTER ... TBLPROPERTIES)
    * wins over the Iceberg metadata document's `properties`, which
    * cover external layouts and programmatic tables. */
  private def layeredProps(spark: SparkSession,
      tableDir: String): Map[String, String] =
    metadataProps(spark, tableDir) ++ descriptorProps(tableDir)

  /** The table's normalized `write.format.default` ("parquet" when the
    * property is unset) — the SAME property the connector's SQL writes
    * honor, so maintenance rewrites (upsert/merge/COW/rewrite_data_files/
    * rewrite_small_files) emit the format the table declares instead of
    * silently flipping an ORC- or AVRO-default table to parquet on every
    * compaction. DELETE files (position/equality tombstones) are keyed
    * off the separate `write.delete.format.default` knob — see
    * [[tableDeleteFormat]]. */
  private def tableWriteFormat(spark: SparkSession,
      tableDir: String): String =
    graft.sources.v2.GraftFormatWriters.normalize(
      layeredProps(spark, tableDir).get("write.format.default"))

  /** The table's `write.delete.format.default` (Iceberg's own knob for
    * DELETE FILE format, distinct from the data files'
    * write.format.default) — parquet when unset; same resolution as
    * [[tableWriteFormat]]. */
  private[sources] def tableDeleteFormat(spark: SparkSession,
      tableDir: String): String =
    graft.sources.v2.GraftFormatWriters.normalize(
      layeredProps(spark, tableDir).get("write.delete.format.default"))

  /** EFFECTIVE table properties for version/dialect decisions: the
    * descriptor when one exists (SQL DDL lands properties there; one
    * small-file read — this runs per commit), else the metadata
    * document's (descriptor-less external layouts). */
  private[graft] def tablePropsFor(spark: SparkSession,
      tableDir: String): Map[String, String] =
    if (new java.io.File(tableDir, "graft-table.json").exists())
      descriptorProps(tableDir)
    else metadataProps(spark, tableDir)

  /** The table's DECLARED `format-version` property (same resolution as
    * [[tablePropsFor]]). None = unset: the dialect then auto-raises the
    * stamped version when a commit first lands a v3 construct. Some(2) =
    * the user pinned v2 — v3 features (row lineage, deletion vectors,
    * VARIANT columns) REFUSE, the spec's per-version feature gates. */
  private[graft] def declaredFormatVersion(spark: SparkSession,
      tableDir: String): Option[Int] =
    tablePropsFor(spark, tableDir).get("format-version")
      .flatMap(_.toIntOption)

  private def stampedFormatVersion(
      doc: com.fasterxml.jackson.databind.JsonNode): Int =
    Option(doc.get("format-version"))
      .filter(_.canConvertToInt).map(_.asInt()).getOrElse(2)

  /** The `format-version` the CURRENT metadata document is stamped
    * with (2 when the field is absent or the table has no metadata
    * yet — the pre-v3 dialect default; an unreadable document fails
    * naming the file). */
  def tableFormatVersion(spark: SparkSession, tableDir: String): Int =
    if (!IcebergManifestSource.hasMetadata(tableDir)) 2
    else stampedFormatVersion(currentMetadata(spark, tableDir))

  /** Refuse a v3-only construct on an explicitly format-version-2
    * table. Unset tables never refuse — their stamp auto-raises with
    * the construct instead (spec upgrade semantics). */
  private[graft] def requireV3(spark: SparkSession, tableDir: String,
      feature: String): Unit =
    if (declaredFormatVersion(spark, tableDir).contains(2))
      sys.error(s"graft-iceberg: $feature requires format-version 3, " +
        s"but $tableDir declares format-version 2 — upgrade with " +
        "ALTER TABLE ... SET TBLPROPERTIES ('format-version' = '3') " +
        "(one metadata-only commit, irreversible)")

  /** The spec's v2→v3 UPGRADE: one metadata-only commit re-stamping
    * the current document at `v` (irreversible — downgrades refuse at
    * the property layer). No-op when the table has no metadata yet
    * (the first commit then stamps the declared version) or is already
    * at `v` or above. */
  def upgradeFormatVersion(spark: SparkSession, tableDir: String,
      v: Int): Unit = commitLock(tableDir).synchronized {
    if (!IcebergManifestSource.hasMetadata(tableDir)) return
    val base = metaBase(spark, tableDir)
    if (stampedFormatVersion(readDocument(base.file)) >= v) return
    commitMetadata(spark, tableDir, base)(_.put("format-version", v))
  }

  /** The table's `graft.lake-type.<column>` declarations (uuid /
    * fixed[N] columns) — same resolution as [[tableWriteFormat]].
    * MorRead consults this so Spark-native parquet scans can read uuid
    * columns (fixed 16-byte physical) as BINARY and decode post-scan. */
  private[sources] def tableLakeTypes(spark: SparkSession,
      tableDir: String): Map[String, String] =
    graft.sources.v2.GraftFormatWriters.lakeTypesOf(
      layeredProps(spark, tableDir))

  /** Snapshot ids listed in the current metadata JSON, history order. */
  def snapshotIds(spark: SparkSession, tableDir: String): Seq[Long] =
    snapshots(spark, tableDir).map(_.id)

  /** (snapshotId, timestampMs) in history order; None for snapshots
    * written before timestamps existed in this layout. */
  def snapshotTimestamps(spark: SparkSession,
      tableDir: String): Seq[(Long, Option[Long])] = {
    val arr = currentMetadata(spark, tableDir).get("snapshots")
    if (arr == null || !arr.isArray) return Nil
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[Long])]
    arr.forEach { n =>
      val sid = n.get("snapshot-id")
      if (sid != null && sid.canConvertToLong)
        out += ((sid.asLong(), Option(n.get("timestamp-ms"))
          .filter(_.canConvertToLong).map(_.asLong())))
    }
    out.toSeq
  }

  /** The snapshot current AS OF `tsMs` — the LAST history entry whose
    * commit timestamp is <= tsMs (Iceberg's time-travel resolution).
    * Snapshots without timestamps are unresolvable and skipped. */
  def snapshotIdAsOf(spark: SparkSession, tableDir: String,
      tsMs: Long): Option[Long] =
    snapshotTimestamps(spark, tableDir)
      .collect { case (id, Some(t)) if t <= tsMs => id }.lastOption

  private case class Snap(id: Long, listPath: String,
      summary: Option[Seq[(String, String)]] = None)

  /** Snapshots in METADATA ARRAY ORDER — the commit history order, NOT
    * sorted by id (ids may be random longs on real tables). */
  private def snapshots(spark: SparkSession, tableDir: String): Seq[Snap] =
    snapshotsOf(currentMetadata(spark, tableDir), tableDir)

  /** Same, parsed from a PINNED metadata document (a commit's
    * [[MetaBase]]) — the read a commit must use for its keep-list, so the
    * written history derives from the exact base the CAS will verify. */
  private def snapshotsFromBase(base: MetaBase, tableDir: String): Seq[Snap] =
    snapshotsOf(readDocument(base.file), tableDir)

  private def snapshotsOf(meta: com.fasterxml.jackson.databind.JsonNode,
      tableDir: String): Seq[Snap] = {
    val arr = meta.get("snapshots")
    if (arr == null || !arr.isArray) Nil
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[Snap]
      arr.forEach { n =>
        val sid = n.get("snapshot-id"); val list = n.get("manifest-list")
        if (sid != null && sid.canConvertToLong && list != null && list.isTextual) {
          val summary = Option(n.get("summary")).filter(_.isObject).map { sn =>
            val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
            sn.fields().forEachRemaining(e => buf += (e.getKey -> e.getValue.asText()))
            buf.toSeq
          }
          out += Snap(sid.asLong(), IcebergManifestSource.Relocate.meta(
            metaDir(tableDir), list.asText()), // survives a table-dir move
            summary)
        }
      }
      out.toSeq
    }
  }

  private def currentSnapshotId(spark: SparkSession, tableDir: String): Option[Long] =
    Option(currentMetadata(spark, tableDir).get("current-snapshot-id"))
      .filter(_.canConvertToLong).map(_.asLong()).filter(_ != -1L)

  /** Named refs from the current metadata (name, snapshotId, type),
    * sorted by name — driver-side walk of the one refs object. */
  private def refs(spark: SparkSession, tableDir: String): Seq[(String, Long, String)] = {
    val rs = currentMetadata(spark, tableDir).get("refs")
    if (rs == null || !rs.isObject) Nil
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, String)]
      rs.fields().forEachRemaining { e =>
        val sid = e.getValue.get("snapshot-id")
        if (sid != null && sid.canConvertToLong) {
          val t = e.getValue.get("type")
          val kind = if (t != null && t.isTextual) t.asText() else "branch"
          out += ((e.getKey, sid.asLong(), kind))
        }
      }
      out.sortBy(_._1).toSeq
    }
  }

  /** Atomically swap version-hint.text ([[writeAtomic]]) — a live
    * streaming poll races commits on exactly this window. */
  private[sources] def writeHintAtomic(metaDir: java.io.File,
      version: Long): Unit =
    writeAtomic(new java.io.File(metaDir, "version-hint.text"),
      version.toString.getBytes("UTF-8"))

  /** THE rewrite of a stored file: write a uniquely named temp sibling,
    * then ATOMIC_MOVE it over `f`. A concurrent reader sees the old
    * content or the new one, and a crash mid-write leaves the old file
    * whole (plus a dot-named temp), never a truncated or empty one. */
  private[sources] def writeAtomic(f: java.io.File, bytes: Array[Byte]): Unit = {
    val tmp = new java.io.File(f.getAbsoluteFile.getParentFile,
      s".${f.getName}.${java.util.UUID.randomUUID()}.tmp")
    java.nio.file.Files.write(tmp.toPath, bytes)
    try java.nio.file.Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    finally java.nio.file.Files.deleteIfExists(tmp.toPath)
  }

  /** [[writeAtomic]] of a JSON document (the catalog descriptor, view and
    * namespace documents, the streaming epoch ledger), pretty-printed. */
  private[sources] def writeDocument(f: java.io.File,
      root: com.fasterxml.jackson.databind.JsonNode): Unit =
    writeAtomic(f, documentWriter.writeValueAsBytes(root))

  private lazy val documentWriter =
    new com.fasterxml.jackson.databind.ObjectMapper().writerWithDefaultPrettyPrinter()

  /** Bump the metadata version: READ-MODIFY-WRITE the base metadata
    * document — only `current-snapshot-id`, the `snapshots` array
    * membership (each kept snapshot's ORIGINAL node survives, with its
    * timestamps/summary/whatever a real writer put there; only
    * `manifest-list` is updated when maintenance moved it), and `refs`
    * are touched. Every other field — table-uuid, schemas,
    * partition-specs, sort-orders, properties, fields this code has
    * never heard of — passes through byte-for-semantics, so a table
    * written by a real engine stays readable by that engine after
    * maintenance here. Commits through [[commitMetadata]] and returns
    * the new version number. */
  private def writeMetadataVersion(spark: SparkSession, tableDir: String,
      keep: Seq[Snap], currentId: Long,
      keepRefs: Seq[(String, Long, String)],
      base: MetaBase,
      refRetention: Map[String, Seq[(String, Long)]] = Map.empty,
      /** v3 row lineage: `next-row-id` AFTER this commit (None = keep
        * the base document's counter untouched). */
      nextRowIdAfter: Option[Long] = None,
      /** (snapshotId → first-row-id) to stamp on the NEW snapshot's
        * node — the spec's per-snapshot assignment record. */
      snapshotFirstRowId: Option[(Long, Long)] = None,
      /** true when this commit lands a v3-only construct the lineage
        * params don't already witness (deletion-vector PUFFIN entries)
        * — forces the format-version stamp to 3. */
      v3Construct: Boolean = false): Long =
      commitMetadata(spark, tableDir, base) { root =>
    import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
    root.put("current-snapshot-id", currentId)
    // snapshots: filter/patch the ORIGINAL nodes, in `keep` order
    val keptById = new java.util.LinkedHashMap[Long, ObjectNode]()
    val orig = root.get("snapshots")
    if (orig != null && orig.isArray) orig.forEach { n =>
      val sid = n.get("snapshot-id")
      if (sid != null && sid.canConvertToLong)
        keptById.put(sid.asLong(), n.asInstanceOf[ObjectNode])
    }
    val snapArr = root.arrayNode()
    keep.foreach { s =>
      val node = Option(keptById.get(s.id)).getOrElse(
        // a NEW snapshot: stamp its commit wall-clock (spec "Snapshots")
        // so TIMESTAMP AS OF can resolve it; existing nodes keep theirs
        root.objectNode().put("snapshot-id", s.id)
          .put("timestamp-ms", System.currentTimeMillis()))
      node.put("manifest-list", s.listPath)
      snapshotFirstRowId.foreach { case (sid, fri) =>
        if (sid == s.id) node.put("first-row-id", fri) }
      // operation + change counts for a NEW snapshot; existing nodes
      // keep whatever summary their writer recorded (pass-through rule)
      s.summary.foreach { kv =>
        if (node.get("summary") == null) {
          val sn = root.objectNode()
          kv.foreach { case (k, v) => sn.put(k, v) }
          node.set[ObjectNode]("summary", sn)
        }
      }
      snapArr.add(node)
    }
    root.set[ArrayNode]("snapshots", snapArr)
    // spec `last-sequence-number`: a NEW snapshot's id is its sequence
    // number in this layout; never lowered (expiry keeps the floor)
    (lastSequenceNumber(root).toSeq ++
      keep.map(_.id).filterNot(id => keptById.containsKey(id)))
      .maxOption.foreach(v => root.put("last-sequence-number", v))
    nextRowIdAfter.foreach(v => root.put("next-row-id", v))
    // format-version fidelity: the stamp must admit the constructs the
    // document carries — 3 whenever the table records row lineage (the
    // counter or a per-snapshot assignment), the commit lands a DV, or
    // the table DECLARES 3. Never lowered: the spec's upgrade is
    // irreversible.
    if (stampedFormatVersion(root) < 3 && (v3Construct ||
        nextRowIdAfter.nonEmpty || snapshotFirstRowId.nonEmpty ||
        root.has("next-row-id") ||
        declaredFormatVersion(spark, tableDir).contains(3)))
      root.put("format-version", 3)
    // refs: original node per surviving name (extra fields like
    // min-snapshots-to-keep survive), target id patched when moved
    if (keepRefs.isEmpty) root.remove("refs")
    else {
      val origRefs = root.get("refs")
      val refObj = root.objectNode()
      keepRefs.foreach { case (name, id, kind) =>
        val node = Option(origRefs).map(_.get(name)).filter(_ != null)
          .collect { case o: ObjectNode => o }
          .getOrElse(root.objectNode().put("type", kind))
        node.put("snapshot-id", id)
        // retention fields declared by THIS commit (spec "Refs":
        // max-ref-age-ms, min-snapshots-to-keep, max-snapshot-age-ms);
        // refs not named here keep whatever their writer recorded
        refRetention.getOrElse(name, Nil).foreach {
          case (k, v) => node.put(k, v) }
        refObj.set[ObjectNode](name, node)
      }
      root.set[ObjectNode]("refs", refObj)
    }
  }

  /** The metadata's `last-sequence-number` (spec "Table Metadata"), if
    * recorded — the highest sequence number the table has assigned. */
  private def lastSequenceNumber(
      meta: com.fasterxml.jackson.databind.JsonNode): Option[Long] =
    Option(meta.get("last-sequence-number"))
      .filter(_.canConvertToLong).map(_.asLong())

  /** Branch refs pointing at the old head `from` move to the new
    * snapshot `to` (a commit advances its lineage, like `main`); tags
    * and branches elsewhere stay. */
  private def moveBranches(refs: Seq[(String, Long, String)], from: Long,
      to: Long): Seq[(String, Long, String)] =
    refs.map {
      case (name, id, "branch") if id == from => (name, to, "branch")
      case other => other
    }

  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** One lock object per table path: metadata commits from the same JVM
    * (e.g. streaming epochs racing a maintenance call in local mode)
    * serialize here, and [[commitAppend]] re-reads the base metadata
    * under the lock, so each commit stacks on the previous one instead
    * of overwriting it. Cross-JVM racers are caught by the CREATE_NEW
    * swap in [[commitMetadata]]. */
  private[sources] def commitLock(tableDir: String): Object =
    commitLocks.computeIfAbsent(
      new java.io.File(tableDir).getAbsolutePath, _ => new Object)

  /** Collision-safe target for a commit-written file: the deterministic
    * name when free (the overwhelmingly common case — names are keyed by
    * a fresh snapshot id), else the first free `-rK` sibling. Why: a
    * commit attempt writes its manifests / data files BEFORE its version
    * CAS, and two processes racing the same base compute the SAME new
    * snapshot id — without this, the loser's doomed attempt would
    * overwrite the WINNER's already-committed files and the CAS failure
    * would not undo that. (Real Iceberg gets this property from UUIDs in
    * file names; deterministic-name-else-suffix keeps this layout's
    * names stable for tooling.) */
  private def freshFile(dir: java.io.File, name: String): java.io.File = {
    // createNewFile is the CLAIM, not just a probe — exists()-then-use
    // would let two processes racing the same base both observe the name
    // free and the CAS loser overwrite the winner's committed file in
    // the window between check and write. The atomic create closes it:
    // exactly one process wins each name; losers advance to -rK. The
    // claimed empty file is the claimant's to overwrite (every commit
    // writer replaces its target).
    dir.mkdirs() // a missing parent would make every create throw
    val dot = name.lastIndexOf('.')
    val (stem, ext) = name.splitAt(if (dot < 0) name.length else dot)
    (Iterator(new java.io.File(dir, name)) ++
      Iterator.from(1).map(k => new java.io.File(dir, s"$stem-r$k$ext")))
      .find(f => f.exists() match {
        case true => false
        case false => try f.createNewFile() catch {
          case _: java.io.IOException => false
        }
      }).get
  }

  /** Manifest paths referenced by a snapshot's manifest list. */
  private def manifestsOf(spark: SparkSession, s: Snap): Seq[String] =
    IcebergManifestSource.manifestPaths(
      spark.sparkContext.hadoopConfiguration, s.listPath)

  /** Expire all but the last `keepLast` snapshots (HISTORY order — the
    * metadata array, not id order): metadata version bump + physical
    * deletion of unreferenced manifest lists and manifests. Returns
    * (kept ids, deleted file count). Reachability-safe: a manifest
    * referenced by ANY surviving snapshot survives, even if an expired
    * snapshot also referenced it. The existing current-snapshot-id is
    * preserved (the CURRENT snapshot is never expired, whatever its
    * history position — a rolled-back table keeps both its pointer and
    * the snapshot it names, like Iceberg's expire_snapshots). Snapshots
    * REFERENCED BY A NAMED REF are protected too — a tag pins its
    * snapshot against expiry until the ref is dropped (Iceberg's
    * branch/tag retention contract; dropRef is the release valve).
    * `olderThanMs` (when >= 0) additionally spares any snapshot whose
    * `timestamp-ms` is at or after the cutoff — the production shape is
    * expire_snapshots(older_than => now - 7d, retain_last => 1), which
    * can never reclaim in-flight readers' recent history. */
  def expireSnapshots(spark: SparkSession, tableDir: String,
      keepLast: Int, olderThanMs: Long = -1L): (Seq[Long], Int) =
      commitLock(tableDir).synchronized {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val base = metaBase(spark, tableDir)
    val all = snapshots(spark, tableDir)
    val curId = currentSnapshotId(spark, tableDir)
    val tsOf = snapshotTimestamps(spark, tableDir).toMap
    val nowMs = System.currentTimeMillis()
    val retention = refRetention(spark, tableDir)
    // ref retention, Iceberg's expire semantics: a ref whose snapshot's
    // commit time is older than its max-ref-age-ms is DROPPED here
    // ('main' never expires); surviving BRANCHES protect their history
    // per min-snapshots-to-keep / max-snapshot-age-ms — the knobs the
    // ref DDL's RETAIN / WITH SNAPSHOT RETENTION clauses persist. Refs
    // without fields keep Iceberg's defaults: live forever, head only.
    val liveRefs = refs(spark, tableDir).filter { case (name, target, _) =>
      name == "main" || {
        val maxAge = retention.get(name).flatMap(_._1)
        // an un-timestamped target (older layouts) is conservatively
        // treated as never aging out
        maxAge.forall(a => tsOf.get(target).flatten.forall(nowMs - _ <= a))
      }
    }
    val refTargets = liveRefs.map(_._2).toSet
    val ids = all.map(_.id)
    val branchKeep: Set[Long] = liveRefs.flatMap {
      case (name, target, "branch") =>
        val (_, minKeep, maxSnapAge) =
          retention.getOrElse(name, (None, None, None))
        if (minKeep.isEmpty && maxSnapAge.isEmpty) Seq(target)
        else {
          // the branch's ancestry in this linear-history layout: every
          // snapshot up to and including its target, history order
          val upTo = ids.take(ids.indexOf(target) + 1)
          val byMin = upTo.takeRight(math.max(1, minKeep.getOrElse(1)))
          val byAge = maxSnapAge.map(a => upTo.filter(id =>
            tsOf.get(id).flatten.exists(nowMs - _ <= a))).getOrElse(Nil)
          byMin ++ byAge
        }
      case _ => Nil
    }.toSet
    val tail = all.takeRight(keepLast).map(_.id).toSet
    def protectedSnap(id: Long): Boolean =
      tail.contains(id) || curId.contains(id) || refTargets.contains(id) ||
        branchKeep.contains(id) ||
        (olderThanMs >= 0L &&
          tsOf.get(id).flatten.forall(_ >= olderThanMs))
    val keep = all.filter(s => protectedSnap(s.id))
    val expire = all.filterNot(s => protectedSnap(s.id))
    val droppedRefs = refs(spark, tableDir).size - liveRefs.size
    if (expire.isEmpty && droppedRefs == 0) return (keep.map(_.id), 0)
    val reachable = keep.flatMap(manifestsOf(spark, _)).toSet
    val doomedManifests = expire.flatMap(manifestsOf(spark, _)).toSet -- reachable
    val keepIds = keep.map(_.id).toSet
    val currentId = curId.filter(keepIds.contains).getOrElse(keep.last.id)
    val keepRefs = liveRefs.filter(r => keepIds.contains(r._2))
    val newV = writeMetadataVersion(spark, tableDir, keep, currentId,
      keepRefs, base)
    // superseded metadata versions still REFERENCE the lists/manifests
    // deleted below — a reader resolving one (stale version-hint, racing
    // listing) would hit FileNotFoundException instead of a clean miss,
    // so the old v*.metadata.json go with the files they reference.
    // (Single-writer assumption, like Iceberg's own expire: a reader
    // that resolved an old version BEFORE this runs still races the
    // file deletion — expiry is never safe under a concurrent reader
    // pinned to expired history.)
    val doomedMeta = Option(metaDir(tableDir).listFiles()).getOrElse(Array.empty)
      .filter(f => IcebergManifestSource.metadataVersion(f.getName)
        .exists(_ != newV))
      .map(_.getPath)
    // only files THIS table owns are ever deleted: a zero-copy clone's
    // snapshot may reference the SOURCE's manifests by absolute path,
    // and expiring clone history must never reach into the source
    val doomed = (expire.map(_.listPath) ++ doomedManifests ++ doomedMeta)
      .filter(ownedByTable(tableDir, _))
    var deleted = 0
    doomed.foreach { p =>
      if (new java.io.File(p).delete()) deleted += 1
    }
    (keep.map(_.id), deleted)
  }

  /** True when `p` sits inside `tableDir` — the ownership test expiry
    * uses before deleting a referenced file (by-reference clones point
    * at files the table does NOT own). */
  private def ownedByTable(tableDir: String, p: String): Boolean = {
    val root = new java.io.File(tableDir).getAbsolutePath + java.io.File.separator
    new java.io.File(normPath(p)).getAbsolutePath
      .startsWith(root)
  }

  /** Reachability GC — the expire flavor a FAILED write-audit-publish
    * needs: drop every snapshot that is neither the current one nor
    * named by any ref, WHEREVER it sits in history ([[expireSnapshots]]
    * keeps history suffixes, so an abandoned staged snapshot — always
    * the newest — would survive keep-last forever). Same physical
    * cleanup discipline: lists/manifests referenced only by the dropped
    * snapshots are deleted, shared ones survive, superseded metadata
    * versions go with the files they reference. Returns
    * (kept ids, deleted file count). */
  def expireUnreferenced(spark: SparkSession,
      tableDir: String): (Seq[Long], Int) =
      commitLock(tableDir).synchronized {
    val base = metaBase(spark, tableDir)
    val all = snapshots(spark, tableDir)
    val curId = currentSnapshotId(spark, tableDir)
    val named = refs(spark, tableDir).map(_._2).toSet
    val keep = all.filter(s => curId.contains(s.id) || named.contains(s.id))
    require(keep.nonEmpty, s"nothing reachable under $tableDir")
    val expire = all.filterNot(s => curId.contains(s.id) || named.contains(s.id))
    if (expire.isEmpty) return (keep.map(_.id), 0)
    val reachable = keep.flatMap(manifestsOf(spark, _)).toSet
    val doomedManifests = expire.flatMap(manifestsOf(spark, _)).toSet -- reachable
    val currentId = curId.getOrElse(keep.last.id)
    val newV = writeMetadataVersion(spark, tableDir, keep, currentId,
      refs(spark, tableDir), base)
    val doomedMeta = Option(metaDir(tableDir).listFiles()).getOrElse(Array.empty)
      .filter(f => IcebergManifestSource.metadataVersion(f.getName)
        .exists(_ != newV))
      .map(_.getPath)
    val doomed = (expire.map(_.listPath) ++ doomedManifests ++ doomedMeta)
      .filter(ownedByTable(tableDir, _)) // never reach into a clone source
    var deleted = 0
    doomed.foreach { p =>
      if (new java.io.File(p).delete()) deleted += 1
    }
    (keep.map(_.id), deleted)
  }

  /** Roll the table back to `snapshotId`: write a new metadata version
    * whose current-snapshot-id names that snapshot, keeping the FULL
    * snapshot history and every ref intact (newer snapshots stay until
    * [[expireSnapshots]] removes them — rollback moves the pointer, it
    * never deletes, so it is instantly reversible). A "main" branch ref,
    * if present, follows the pointer — Iceberg's rollback semantics,
    * where main IS the current lineage. Returns the previous current
    * snapshot id. */
  def rollback(spark: SparkSession, tableDir: String,
      snapshotId: Long): Option[Long] = commitLock(tableDir).synchronized {
    withCommitRetry(tableDir) {
      val base = metaBase(spark, tableDir)
      val all = snapshots(spark, tableDir)
      require(all.exists(_.id == snapshotId),
        s"snapshot $snapshotId not in ${tableDir}'s history (${all.map(_.id)})")
      val prev = currentSnapshotId(spark, tableDir)
      val movedRefs = refs(spark, tableDir).map {
        case ("main", _, kind) => ("main", snapshotId, kind)
        case r => r
      }
      writeMetadataVersion(spark, tableDir, all, snapshotId, movedRefs, base)
      prev
    }
  }

  /** Consolidate the CURRENT snapshot's manifests into one manifest per
    * content kind (data / deletes), writing a new manifest list and a
    * new metadata version; the old small manifests of that snapshot are
    * deleted unless an older snapshot still references them. Entries are
    * copied as RAW Avro records — partitions, record_count, bounds, and
    * sequence numbers survive byte-equivalently (only status=2 DELETED
    * entries are dropped, which the reader discards anyway), so the
    * reader sees the SAME relation from fewer files. All source
    * manifests must share one entry schema (single-writer tables do).
    * Returns (manifests before, after). */
  def rewriteManifests(spark: SparkSession, tableDir: String): (Int, Int) =
      commitLock(tableDir).synchronized {
    import org.apache.avro.file.{DataFileReader, DataFileWriter}
    import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericRecord}
    import org.apache.avro.mapred.FsInput
    val base = metaBase(spark, tableDir)
    val all = snapshots(spark, tableDir)
    require(all.nonEmpty, s"no snapshots under $tableDir")
    // the snapshot the CURRENT pointer names, not the array tail — a
    // rolled-back table rewrites what readers actually see
    val curId = currentSnapshotId(spark, tableDir).getOrElse(all.last.id)
    val cur = all.find(_.id == curId).getOrElse(all.last)
    val conf = spark.sparkContext.hadoopConfiguration
    val before = manifestsOf(spark, cur)
    if (before.size <= 2) return (before.size, before.size)
    val m = metaDir(tableDir)
    // lazily-created writer per content kind, schema from the first record
    val outs = scala.collection.mutable.Map.empty[Int, (java.io.File, DataFileWriter[GenericRecord])]
    def writerFor(content: Int, schema: org.apache.avro.Schema) =
      outs.getOrElseUpdate(content, {
        val f = new java.io.File(m, s"manifest-${cur.id}-rw$content.avro")
        f.delete()
        val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
        w.create(schema, f)
        (f, w)
      })
    try {
      before.foreach { p =>
        val reader = DataFileReader.openReader(
          new FsInput(new org.apache.hadoop.fs.Path(p), conf),
          new GenericDatumReader[GenericRecord]())
        try {
          val schema = reader.getSchema
          while (reader.hasNext) {
            val e = reader.next()
            if (e.get("status").asInstanceOf[Int] != 2) {
              val df = e.get("data_file").asInstanceOf[GenericRecord]
              val content =
                if (df.getSchema.getField("content") == null) 0
                else Option(df.get("content")).fold(0)(_.asInstanceOf[Int])
              val (_, w) = writerFor(if (content == 0) 0 else 1, schema)
              w.append(e)
            }
          }
        } finally reader.close()
      }
    } finally outs.values.foreach(_._2.close())
    val newList = new java.io.File(m, s"snap-${cur.id}-rw-manifest-list.avro")
    IcebergLayoutWriter.writeManifestList(newList,
      outs.toSeq.sortBy(_._1).map { case (c, (f, _)) => (f, c) }, cur.id)
    val others = all.filterNot(_.id == cur.id)
    val stillReferenced = others.flatMap(manifestsOf(spark, _)).toSet
    val rewritten = all.map(s =>
      if (s.id == cur.id) Snap(cur.id, newList.getAbsolutePath) else s)
    writeMetadataVersion(spark, tableDir, rewritten, curId,
      refs(spark, tableDir), base)
    new java.io.File(cur.listPath).delete()
    (before.toSet -- stillReferenced).foreach(p => new java.io.File(p).delete())
    val after = manifestsOf(spark, Snap(cur.id, newList.getAbsolutePath))
    (before.size, after.size)
  }

  /** EXECUTE the compaction the metrics pipeline previews: bin-pack each
    * partition's data files with the EXACT `Pure.buildPartitionGroups`
    * semantics (ascending size, close-on-overshoot), and commit the
    * result as a NEW snapshot appended to the metadata document — old
    * snapshots stay time-travelable, delete files are carried with
    * their original sequence numbers, multi-file groups become one
    * compacted entry at the new snapshot's sequence, singleton groups
    * keep their original file untouched. Because the packer is shared,
    * the executed data-file count EQUALS the simulation's
    * `fileCountAfter` for the same `maxGroupBytes` — the
    * preview-equals-execution identity, pinned in LayoutMaintenanceSpec.
    *
    * Driver state is the per-file stats relation (~100 B/file — a
    * 100k-file table is ~10 MB; the group ASSIGNMENT is inherently a
    * planning decision, same as Iceberg's own rewrite_data_files
    * planning). Single-spec tables only (the commit writes spec-0
    * partition records). Returns (newSnapshotId, dataFilesBefore,
    * dataFilesAfter). */
  def commitCompaction(spark: SparkSession, tableDir: String,
      maxGroupBytes: Long): (Long, Int, Int) =
      commitLock(tableDir).synchronized {
    import IcebergLayoutWriter.ManifestEntrySpec
    val base = metaBase(spark, tableDir)
    val all = snapshots(spark, tableDir)
    require(all.nonEmpty, s"no snapshots under $tableDir")
    val curId = currentSnapshotId(spark, tableDir).getOrElse(all.last.id)
    val stats = IcebergManifestSource
      .statsFromTableDir(spark, tableDir, "t", Nil, Some(curId))
      .select("file_path", "content", "partitionKey", "sizeBytes",
        "record_count", "sequence_number")
      .collect()
    require(stats.nonEmpty, s"current snapshot $curId has no files")
    // the new snapshot's id doubles as its sequence (fixture dialect) —
    // it must exceed every EXISTING entry sequence too, or a compacted
    // file could land below a pinned file's sequence in delete-visibility
    // order
    val newId = (all.map(_.id) ++
      stats.map(_.getLong(5))).max + 1
    case class F(path: String, content: Int, pk: String, size: Long,
        rc: Long, seq: Long)
    val files = stats.map(r => F(r.getString(0), r.getInt(1), r.getString(2),
      r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    val (data, deletes) = files.partition(_.content == 0)
    // MOR safety: a data file some delete file may still apply to must
    // keep its IDENTITY — a position delete references the old path
    // (which would dangle after packing) and an equality delete applies
    // only to files with a strictly LOWER sequence (a compacted file's
    // new sequence would escape it). This metadata-level commit never
    // rewrites rows, so it conservatively pins every data file with
    // seq <= the newest delete file's seq and packs only newer ones —
    // visibility before == after, which the spec asserts. (A full
    // rewrite_data_files applies the deletes during the data rewrite;
    // that is `Compactor`'s territory, not this commit's.)
    val maxDeleteSeq = if (deletes.isEmpty) Long.MinValue else deletes.map(_.seq).max
    val (packable, pinned) = data.partition(_.seq > maxDeleteSeq)
    // the Pure.buildPartitionGroups loop, carried over file identities:
    // ascending (size, path), close the group BEFORE adding once its
    // running sum exceeds the cap — group COUNT therefore equals the
    // size-multiset packing the simulation computed
    def pack(fs: Seq[F]): Vector[Vector[F]] = {
      val sorted = fs.sortBy(f => (f.size, f.path))
      val result = Vector.newBuilder[Vector[F]]
      var group = Vector.newBuilder[F]
      var nonEmpty = false
      var cur = 0L
      for (f <- sorted) {
        if (cur > maxGroupBytes) {
          result += group.result(); group = Vector.newBuilder[F]
          nonEmpty = false; cur = 0L
        }
        group += f; nonEmpty = true; cur += f.size
      }
      if (nonEmpty) result += group.result()
      result.result()
    }
    def keepEntry(f: F) =
      ManifestEntrySpec(status = 1, content = 0, filePath = f.path,
        partition = partitionPairsOf(f.pk), recordCount = f.rc,
        sizeBytes = f.size, sequenceNumber = f.seq)
    var ci = 0
    val dataEntries = pinned.sortBy(_.path).map(keepEntry) ++
      packable.groupBy(_.pk).toSeq.sortBy(_._1).flatMap { case (pk, fs) =>
        val pairs = partitionPairsOf(pk)
        pack(fs).map { g =>
          if (g.size == 1) keepEntry(g.head)
          else {
            ci += 1
            ManifestEntrySpec(status = 1, content = 0,
              filePath = s"data/compact-$newId-$ci.parquet",
              partition = pairs, recordCount = g.map(_.rc).sum,
              sizeBytes = g.map(_.size).sum, sequenceNumber = newId)
          }
        }
      }
    // no-op guard: if every group is a singleton the table is already
    // packed for this cap — committing would churn a new snapshot whose
    // file set is identical (Iceberg's rewrite_data_files skips too)
    if (dataEntries.size == data.size)
      return (curId, data.size, data.size)
    val deleteEntries = deletes.map(f =>
      ManifestEntrySpec(status = 1, content = f.content, filePath = f.path,
        partition = partitionPairsOf(f.pk), recordCount = f.rc,
        sizeBytes = f.size, sequenceNumber = f.seq))
    val m = metaDir(tableDir)
    val manifests = Seq(0 -> dataEntries, 1 -> deleteEntries)
      .filter(_._2.nonEmpty)
      .map { case (c, es) =>
        val f = new java.io.File(m, s"manifest-$newId-$c.avro")
        IcebergLayoutWriter.writeManifest(f, es)
        (f, c)
      }
    val newList = new java.io.File(m, s"snap-$newId-manifest-list.avro")
    IcebergLayoutWriter.writeManifestList(newList, manifests, newId)
    writeMetadataVersion(spark, tableDir,
      all :+ Snap(newId, newList.getAbsolutePath), newId,
      refs(spark, tableDir), base)
    (newId, data.size, dataEntries.size)
  }

  // ---- read accessors for [[MetadataTables]] (metadata-sized) ----

  /** (snapshotId, manifestListPath) in commit-history order. */
  private[sources] def snapshotList(spark: SparkSession,
      tableDir: String): Seq[(Long, String)] =
    snapshots(spark, tableDir).map(s => (s.id, s.listPath))

  /** (snapshotId, operation, summary key-values) per snapshot in history
    * order — the spec "Snapshots" summary each commit records (empty for
    * snapshots written before summaries existed, or by other writers). */
  def snapshotSummaries(spark: SparkSession,
      tableDir: String): Seq[(Long, String, Map[String, String])] =
    snapshots(spark, tableDir).map { s =>
      val kv = s.summary.getOrElse(Nil).toMap
      (s.id, kv.getOrElse("operation", ""), kv)
    }

  /** The current snapshot id, if the table points at one. */
  private[sources] def currentSnapshot(spark: SparkSession,
      tableDir: String): Option[Long] =
    currentSnapshotId(spark, tableDir)
      .orElse(snapshots(spark, tableDir).lastOption.map(_.id))

  /** (name, snapshotId, type) for every named ref. */
  private[sources] def refList(spark: SparkSession,
      tableDir: String): Seq[(String, Long, String)] =
    refs(spark, tableDir)

  // ---- commit primitives: the v2 WRITE path (append / upsert / WAP) ----

  private val partitionKeyMapper =
    new com.fasterxml.jackson.databind.ObjectMapper()

  /** An entry's partition JSON (`partitionKey`) as typed (name, value)
    * pairs, the writer's partition-record input. */
  private def partitionPairsOf(pk: String): Seq[(String, Any)] =
    if (pk == null || pk.isEmpty || pk == "{}") Nil
    else {
      val node = partitionKeyMapper.readTree(pk)
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Any)]
      node.fields().forEachRemaining { e =>
        val v: Any = e.getValue match {
          case n if n.isInt => n.asInt()
          case n if n.isLong => n.asLong()
          case n if n.isBoolean => n.asBoolean()
          case n => n.asText()
        }
        out += ((e.getKey, v))
      }
      out.toSeq
    }

  /** Hard ceiling on driver-side file-entry state in
    * [[graft.sources.v2.GraftIcebergSource]]'s scan planning, its only
    * reader (session override: `spark.graft.maxDriverFileEntries`): at
    * ~100 B per entry, 10M files ≈ 1 GB of driver heap; past it the scan
    * plans per manifest instead of per file. Commits never read it —
    * they stream manifests one at a time ([[commitCarryReuse]],
    * [[commitFiltered]]) and hold no per-file state for the table. */
  private[sources] val MaxDriverFileEntries: Int = 10 * 1000 * 1000

  /** One manifest entry's identity-carry spec — the shared mapping every
    * carry path (the removal filter, the delete-side refile, cherry-pick)
    * uses, so no path can disagree about what survives a commit. `specId`
    * is the spec the entry's manifest-list row records (spec "Partition
    * Evolution"): a commit that re-files an entry keeps its ORIGINAL spec. */
  private def specFromStats(s: IcebergManifestSource.ManifestStats,
      specId: Int): IcebergLayoutWriter.ManifestEntrySpec =
    IcebergLayoutWriter.ManifestEntrySpec(status = 1,
      content = s.content, filePath = s.filePath,
      partition = partitionPairsOf(s.partitionKey),
      recordCount = s.recordCount, sizeBytes = s.sizeBytes,
      sequenceNumber = s.sequenceNumber,
      lower = s.lower, upper = s.upper,
      valueCounts = s.valueCounts, nullValueCounts = s.nullValueCounts,
      nanValueCounts = s.nanValueCounts, columnSizes = s.columnSizes,
      equalityIds = s.equalityIds,
      fileFormat = s.fileFormat,
      sortOrderId = s.sortOrderId.map(Int.box).orNull,
      specId = specId,
      firstRowId = s.firstRowId.map(Long.box).orNull)

  /** Carried entries of the snapshot's DELETE manifests only (manifest
    * list `content == 1`) — the SMALL side of any real table: delete
    * files are commit-count shaped, not data-file shaped, so walking
    * them driver-side stays metadata-sized at any data-side size. The
    * DV delete, the MOR delta and the delete-file folds use this to keep
    * tombstone semantics (DV supersede, eq-delete carry) while never
    * materializing a data-file entry. */
  private def deleteCarriedEntries(spark: SparkSession, tableDir: String,
      snapshotId: Long): Seq[IcebergLayoutWriter.ManifestEntrySpec] = {
    val conf = spark.sparkContext.hadoopConfiguration
    IcebergManifestSource
      .resolveManifestList(spark, tableDir, Some(snapshotId)) match {
      case None => Nil
      case Some(list) =>
        IcebergManifestSource.manifestList(conf, list)
          .filter(_.content == 1)
          .flatMap { m =>
            IcebergManifestSource.readManifestStats(m.path, conf, m.sequenceNumber)
              .map(specFromStats(_, m.specId)).toSeq }
    }
  }

  /** Paths of the snapshot's DELETE manifests (list rows, KB-sized). */
  private def deleteManifestPaths(spark: SparkSession, tableDir: String,
      snapshotId: Long): Set[String] =
    IcebergManifestSource
      .resolveManifestList(spark, tableDir, Some(snapshotId)).toSeq
      .flatMap(list => IcebergManifestSource.manifestList(
        spark.sparkContext.hadoopConfiguration, list)
        .filter(_.content == 1).map(_.path)).toSet

  /** Every live entry of the snapshot's DATA manifests, streamed on the
    * driver one manifest at a time — no Spark job, and no entry is held
    * past the consumer. The commit-side lookups read it: "which of these
    * paths are live" (MOR delta liveness, cherry-pick clash, tombstone
    * targets) and the table's data-file facts (rewrite sizing, ORC
    * paths). */
  private def liveDataEntries(spark: SparkSession, tableDir: String,
      snapshotId: Long): Iterator[IcebergManifestSource.ManifestStats] = {
    val conf = spark.sparkContext.hadoopConfiguration
    dataManifests(spark, tableDir, snapshotId).flatMap(m =>
      IcebergManifestSource.readManifestStats(m.path, conf, m.sequenceNumber))
  }

  private def dataManifests(spark: SparkSession, tableDir: String,
      snapshotId: Long): Iterator[IcebergManifestSource.ManifestListRow] =
    IcebergManifestSource
      .resolveManifestList(spark, tableDir, Some(snapshotId)).iterator
      .flatMap(list => IcebergManifestSource.manifestList(
        spark.sparkContext.hadoopConfiguration, list))
      .filter(_.content == 0)

  /** The live data files of the snapshot among `wanted` (normalized
    * paths), each with its data sequence number — one streaming pass,
    * memory bounded by `wanted`. */
  private def liveAmong(spark: SparkSession, tableDir: String,
      snapshotId: Long, wanted: Set[String]): Map[String, Long] =
    if (wanted.isEmpty) Map.empty
    else liveDataEntries(spark, tableDir, snapshotId)
      .map(e => normPath(e.filePath) -> e.sequenceNumber)
      .filter(t => wanted(t._1)).toMap

  /** A path with its `file:` scheme stripped — the one form manifest
    * paths and scan-reported `file_path`s are compared in. */
  private def normPath(p: String): String = p.replaceFirst("^file:/+", "/")

  /** ONE live data-file path, resolved by reading the head of the
    * first data manifest with a live entry — the substitute for "any
    * carried data file" lookups (equality-id resolution), O(1) instead of
    * O(files). Every manifest reader it opens is closed on return. */
  private[graft] def firstDataFilePath(spark: SparkSession,
      tableDir: String, snapshotId: Long): Option[String] =
    dataManifests(spark, tableDir, snapshotId).flatMap(m =>
      IcebergManifestSource.firstLiveFilePath(m.path,
        spark.sparkContext.hadoopConfiguration)).nextOption()

  /** The table's v3 `next-row-id` counter (0 when the metadata predates
    * row lineage — existing files then read `_row_id` as null until a
    * lineage-assigning commit touches them, the spec's upgrade rule). */
  def nextRowId(spark: SparkSession, tableDir: String): Long =
    Option(currentMetadata(spark, tableDir).get("next-row-id"))
      .filter(_.canConvertToLong).map(_.asLong()).getOrElse(0L)

  /** v3 row lineage assignment: stamp `first_row_id` on this commit's
    * NEW data entries (status-stamped with the commit's sequence
    * number, not already stamped by a lineage-preserving writer) from
    * the table's `next-row-id` counter, sequentially by record count.
    * Returns (stamped entries, snapshot first-row-id, next-row-id
    * after) — the Nones when the commit adds no data rows. */
  private def assignRowIds(spark: SparkSession, tableDir: String,
      entries: Seq[IcebergLayoutWriter.ManifestEntrySpec], newId: Long)
      : (Seq[IcebergLayoutWriter.ManifestEntrySpec], Option[Long], Option[Long]) = {
    // row lineage is a v3-only construct: an explicitly-v2 table never
    // assigns it (_row_id reads null — the v2 contract), and its
    // metadata stays stamped 2
    if (declaredFormatVersion(spark, tableDir).contains(2))
      return (entries, None, None)
    val start = nextRowId(spark, tableDir)
    var cur = start
    val stamped = entries.map { e =>
      if (e.content == 0 && e.firstRowId == null &&
          e.sequenceNumber.longValue == newId) {
        val s = e.copy(firstRowId = Long.box(cur)); cur += e.recordCount; s
      } else e
    }
    if (cur == start) (entries, None, None)
    else (stamped, Some(start), Some(cur))
  }

  /** Write `entries` as this commit's fresh manifests, one per (content,
    * spec id, partition shape) group: a manifest is homogeneous in
    * partition SHAPE (the writer derives the Avro partition record from
    * its first entry) AND in spec id (the manifest-list row carries ONE
    * partition_spec_id) — a commit whose new unpartitioned file lands
    * next to partitioned entries, or whose entries span an evolved spec
    * history, splits accordingly. Returns (file, content, spec id) per
    * manifest, the manifest-list writers' input. */
  private def writeGroupedManifests(m: java.io.File, newId: Long,
      entries: Seq[IcebergLayoutWriter.ManifestEntrySpec])
      : Seq[(java.io.File, Int, Int)] =
    entries
      .groupBy(e =>
        (if (e.content == 0) 0 else 1, e.specId, e.partition.map(_._1)))
      .toSeq.sortBy { case ((c, sid, names), _) => (c, sid, names.mkString(",")) }
      .zipWithIndex.map { case (((c, sid, _), es), i) =>
        val f = freshFile(m, s"manifest-$newId-$c-s$sid-g$i.avro")
        IcebergLayoutWriter.writeManifest(f, es)
        (f, c, sid)
      }

  /** 1-based field ids of `keyCols` in the table's data schema,
    * resolved from one data file's header (the dialect's positional
    * field-id convention). Nil when there is no data file to resolve
    * against. Written into eq-delete manifest entries as the spec's
    * `equality_ids`, so readers apply the tombstones with no out-of-band
    * key list. */
  private def keyFieldIds(dataPath: Option[String],
      keyCols: Seq[String]): Seq[Int] =
    dataPath.toSeq.flatMap { p =>
      val names = dataFileFieldNames(p)
      keyCols.map { k =>
        val i = names.indexOf(k)
        require(i >= 0,
          s"keyFieldIds: column $k not in data file $p (${names.mkString(",")})")
        i + 1
      }
    }

  /** Top-level column names of one data file, resolved from ITS OWN
    * header — any of the three spec formats (`write.format.default`
    * writes all of them from SQL, so a resolution probe cannot assume
    * parquet). */
  private def dataFileFieldNames(p: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    if (p.endsWith(".orc")) {
      val r = org.apache.orc.OrcFile.createReader(
        new org.apache.hadoop.fs.Path(p),
        org.apache.orc.OrcFile.readerOptions(
          new org.apache.hadoop.conf.Configuration()))
      try r.getSchema.getFieldNames.asScala.toSeq finally r.close()
    } else if (p.endsWith(".avro")) {
      val r = new org.apache.avro.file.DataFileReader[
        org.apache.avro.generic.GenericRecord](new java.io.File(p),
        new org.apache.avro.generic.GenericDatumReader[
          org.apache.avro.generic.GenericRecord]())
      try r.getSchema.getFields.asScala.toSeq.map(_.name) finally r.close()
    } else {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p),
        new org.apache.hadoop.conf.Configuration())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      val schema = try r.getFooter.getFileMetaData.getSchema finally r.close()
      schema.getFields.asScala.toSeq.map(_.getName)
    }
  }

  /** MERGE-style upsert commit — the Iceberg v2 merge-on-read WRITE path
    * (spec "Row-level deletes"; the write twin of [[MorRead.readTable]]):
    * ONE new data file holding the upserted rows (sorted by `keyCols`, so
    * positions are deterministic) plus ONE equality-delete file listing
    * the distinct update keys, both at a sequence number above every
    * existing entry. The spec's strict-< equality-delete visibility makes
    * this exactly MERGE: old versions of updated keys (strictly lower
    * sequence) die, the new file (same sequence as the tombstones)
    * survives, and never-seen keys are pure inserts whose tombstones
    * match nothing. Branch refs pointing at the old head fast-forward,
    * exactly like a real commit moves `main`. Data the size of the
    * UPDATE SET moves; the commit is a fast append (it removes no file,
    * so the previous manifests are listed verbatim and only the two new
    * files are written) — at 100 TB an upsert costs O(updates), not
    * O(table). Returns (newSnapshotId, upsertedRowCount). */
  def commitUpsert(spark: SparkSession, tableDir: String,
      updates: org.apache.spark.sql.DataFrame,
      keyCols: Seq[String]): (Long, Long) =
      commitLock(tableDir).synchronized { withCommitRetry(tableDir) {
    require(keyCols.nonEmpty, "commitUpsert needs at least one key column")
    val base = metaBase(spark, tableDir)
    val all = snapshots(spark, tableDir)
    require(all.nonEmpty, s"no snapshots under $tableDir")
    val curId = currentSnapshotId(spark, tableDir).getOrElse(all.last.id)
    val newId = reuseNewId(spark, tableDir, all, curId)
    val dataDir = new java.io.File(tableDir, "data"); dataDir.mkdirs()
    // data lands in the table's declared write.format.default; the
    // eq-tombstone file honors write.delete.format.default (Iceberg
    // keys ALL delete-file formats off that property)
    val fmt = tableWriteFormat(spark, tableDir)
    val delFmt = tableDeleteFormat(spark, tableDir)
    val up = freshFile(dataDir,
      s"upsert-$newId.${graft.sources.v2.GraftFormatWriters.extensionOf(fmt)}")
    val ed = freshFile(dataDir,
      s"eqdel-$newId.${graft.sources.v2.GraftFormatWriters.extensionOf(delFmt)}")
    val n = IcebergLayoutWriter.writeSingleData(
      updates.sort(keyCols.map(col): _*), up, fmt)
    val nk = IcebergLayoutWriter.writeSingleData(
      updates.select(keyCols.map(col): _*).distinct()
        .sort(keyCols.map(col): _*), ed, delFmt)
    val added = withHarvestedBounds(Seq(
      IcebergLayoutWriter.ManifestEntrySpec(status = 1, content = 0,
        filePath = up.getAbsolutePath, recordCount = n,
        sizeBytes = up.length(), sequenceNumber = newId,
        fileFormat = fmt.toUpperCase)),
      fmt, declaredStatFieldsFor(spark, tableDir)) ++ Seq(
      IcebergLayoutWriter.ManifestEntrySpec(status = 1, content = 2,
        filePath = ed.getAbsolutePath, recordCount = nk,
        sizeBytes = ed.length(), sequenceNumber = newId,
        fileFormat = delFmt.toUpperCase,
        equalityIds = keyFieldIds(Some(up.getAbsolutePath), keyCols)))
    commitCarryReuse(spark, tableDir, added, Nil, Set.empty,
      curId, base, newId, operation = "overwrite")
    (newId, n)
  } }

  /** APPEND commit: add already-written data files as a new snapshot on
    * top of the current one (the connector write path's commit step —
    * [[graft.sources.v2.GraftIcebergSource]]'s BatchWrite calls this
    * from its driver-side commit()). If the table has no metadata yet,
    * the commit CREATES it (snapshot 1); otherwise it is a fast append
    * through [[commitCarryReuse]], whatever the table's size — no entry
    * of the existing table is read. Entries' sequence numbers are
    * stamped here. Returns the new snapshot id. */
  def commitAppend(spark: SparkSession, tableDir: String,
      added: Seq[IcebergLayoutWriter.ManifestEntrySpec],
      partitionSpec: Seq[(String, String, Int)] = Nil,
      sortOrder: Seq[(Int, String, String, String)] = Nil,
      afterPlan: () => Unit = () => ()): Long =
      commitLock(tableDir).synchronized { withCommitRetry(tableDir) {
    if (!IcebergManifestSource.hasMetadata(tableDir)) {
      // first write creates the table; a declared partition spec (from
      // the catalog descriptor or the write path) is born with it and
      // carried verbatim by every later metadata version — likewise the
      // declared sort order ("sort-orders" + default-sort-order-id).
      // format-version honors the declared property: an explicitly-v2
      // table is born WITHOUT row lineage (a v3 construct) and stamped
      // 2; otherwise lineage assigns and the stamp says 3.
      val declaredFv = declaredFormatVersion(spark, tableDir)
      IcebergLayoutWriter.writeTable(new java.io.File(tableDir),
        added.map(_.copy(sequenceNumber = 1L)),
        partitionSpec = partitionSpec,
        sortOrder = sortOrder,
        assignRowIds = !declaredFv.contains(2),
        formatVersion = declaredFv.getOrElse(2))
      1L
    } else {
      val base = metaBase(spark, tableDir)
      val all = snapshots(spark, tableDir)
      require(all.nonEmpty, s"metadata exists but no snapshots under $tableDir")
      val curId = currentSnapshotId(spark, tableDir).getOrElse(all.last.id)
      // OCC test seam: fires between this commit's state reads and its
      // version swap — a hook that itself commits forces the exact
      // cross-process interleaving the CAS+retry protocol exists for
      // (same-thread reentry through the JVM lock keeps it deterministic)
      afterPlan()
      // FAST APPEND at every table size — Iceberg's own append shape: the
      // previous snapshot's manifest FILES are referenced verbatim in the
      // new list (zero entry materialization) and only the added files
      // land in a fresh manifest, so a commit costs O(added + manifest
      // count), not O(files)
      val newId = reuseNewId(spark, tableDir, all, curId)
      commitCarryReuse(spark, tableDir,
        added.map(_.copy(sequenceNumber = newId)), Nil, Set.empty,
        curId, base, newId, operation = "append")
    }
  } }

  /** The one commit tail — Iceberg's fast append, row delta and manifest
    * filter share it. Untouched manifests are referenced VERBATIM in the
    * new manifest list ([[IcebergLayoutWriter.filterManifestList]] — the
    * driver touches only the KB-sized list), `dropManifests` rows are
    * retired and `rewritten` manifests (a removal's filtered copies, see
    * [[commitFiltered]]) are listed in their place. `refiledCarry`
    * entries (the retired delete manifests' surviving delete files,
    * original sequence numbers preserved) land in fresh manifests next to
    * `stampedAddedIn` (this commit's new files, sequence = `newId`).
    * Every snapshot-adding commit onto an existing table takes it —
    * the no-removal shapes (append, upsert, MERGE, DELETE, position/DV
    * delete, WAP staging, the MOR delta, cherry-pick), the delete-file
    * folds, and every data-file removal through [[commitFiltered]] —
    * except [[commitCompaction]]'s metadata-only repack.
    *
    * Totals extend the previous snapshot's summary by the added files,
    * minus `removedDataFiles`/`removedRecords`, plus the refiled minus
    * the `retiredDeleteFiles` delete entries the dropped manifests held.
    * A previous summary WITHOUT a total (a `writeTable` layout, or a
    * foreign writer's) is seeded once by a count-only streaming pass over
    * that snapshot's manifests; every later commit extends the seeded
    * value, so a table pays the pass once in its lifetime. At 100 TB a
    * commit costs O(changed + touched manifests + delete side), never
    * O(data files). */
  private def commitCarryReuse(spark: SparkSession, tableDir: String,
      stampedAddedIn: Seq[IcebergLayoutWriter.ManifestEntrySpec],
      refiledCarry: Seq[IcebergLayoutWriter.ManifestEntrySpec],
      dropManifests: Set[String],
      curId: Long, base: MetaBase, newId: Long,
      operation: String,
      retiredDeleteFiles: Long = 0L,
      rewritten: Seq[(java.io.File, Int, Int)] = Nil,
      removedDataFiles: Long = 0L,
      removedRecords: Long = 0L,
      currentAfter: Long = -1L,
      refsAfterOpt: Option[Seq[(String, Long, String)]] = None,
      extraSummary: Seq[(String, String)] = Nil): Long = {
    // row lineage: only the ADDED entries are materialized here (carried
    // manifests ride verbatim, their first_row_id already in the files)
    val (stampedAdded, firstRowId, nextRowIdAfter) =
      assignRowIds(spark, tableDir, stampedAddedIn, newId)
    // deletion vectors are v3-only: refuse on an explicitly-v2 table,
    // stamp 3 otherwise (DV-only commits add no data rows, so the
    // lineage params alone would not witness the construct)
    val addsDv = stampedAddedIn.exists(_.fileFormat == "PUFFIN")
    if (addsDv) requireV3(spark, tableDir, "deletion vectors")
    // added entries that declare no spec id (specId < 0, the UNSET
    // sentinel — distinct from a genuine spec 0) are filed under the
    // table's current DEFAULT spec; refiled entries keep theirs
    val defaultSpecId = IcebergManifestSource.partitionSpecs(
      spark, tableDir)._1
    val entries = stampedAdded.map(e =>
      e.copy(specId = if (e.specId < 0) defaultSpecId else e.specId)) ++
      refiledCarry
    val m = metaDir(tableDir)
    val manifests = writeGroupedManifests(m, newId, entries)
    val oldList = IcebergManifestSource
      .resolveManifestList(spark, tableDir, Some(curId))
      .getOrElse(sys.error(
        s"commitCarryReuse($tableDir): snapshot $curId has no manifest list"))
    val newList = freshFile(m, s"snap-$newId-manifest-list.avro")
    IcebergLayoutWriter.filterManifestList(newList, new java.io.File(oldList),
      dropManifests, rewritten ++ manifests, newId)
    // spec "Snapshots": every snapshot records its operation plus change
    // counts — what `snapshots` metadata-table consumers and commit
    // auditors read without touching manifests
    val dataAdded = stampedAdded.filter(_.content == 0)
    val addedDeletes = stampedAdded.count(_.content != 0).toLong
    val addedRecords = dataAdded.map(_.recordCount).sum
    val prevTotals = snapshotSummaries(spark, tableDir)
      .find(_._1 == curId).map(_._3).getOrElse(Map.empty)
    lazy val (seedData, seedRecords, seedDeletes) =
      IcebergManifestSource.liveFileCounts(
        spark.sparkContext.hadoopConfiguration, oldList)
    def tot(key: String, seed: => Long, delta: Long): (String, String) =
      key -> (prevTotals.get(key).flatMap(_.toLongOption)
        .getOrElse(seed) + delta).toString
    val summary: Seq[(String, String)] = Seq(
      "operation" -> operation,
      "added-data-files" -> dataAdded.size.toString,
      "added-records" -> addedRecords.toString,
      "added-delete-files" -> addedDeletes.toString,
      tot("total-data-files", seedData, dataAdded.size - removedDataFiles),
      tot("total-records", seedRecords, addedRecords - removedRecords),
      tot("total-delete-files", seedDeletes,
        addedDeletes + refiledCarry.size - retiredDeleteFiles)) ++
      extraSummary
    val refsAfter = refsAfterOpt.getOrElse(
      moveBranches(refs(spark, tableDir), curId, newId))
    writeMetadataVersion(spark, tableDir,
      snapshotsFromBase(base, tableDir) :+
        Snap(newId, newList.getAbsolutePath, Some(summary)),
      if (currentAfter < 0) newId else currentAfter, refsAfter, base,
      nextRowIdAfter = nextRowIdAfter,
      snapshotFirstRowId = firstRowId.map(newId -> _),
      v3Construct = addsDv)
    newId
  }

  /** The data-file removal commit — Iceberg's `ManifestFilterManager`
    * shape, run on the driver with no Spark job. Each DATA manifest of
    * the current list is streamed once: one with no `hit` entry is
    * listed verbatim; one with hits is rewritten without them (every kept
    * entry keeps its sequence number, bounds and spec id through
    * [[specFromStats]]), or retired when nothing survives. Memory is one
    * manifest plus `mustFind`; totals move through [[commitCarryReuse]].
    *
    * `mustFind` (normalized paths) is the OCC contract: every file the
    * operation scanned must be a live hit in this base, or the statement
    * fails. `dropDeletes` is a full replace — the delete manifests retire
    * with the files their tombstones reference; any other removal refuses
    * a snapshot that carries delete files, since a carried tombstone
    * could target a removed file. Returns the number of data files
    * removed. */
  private def commitFiltered(spark: SparkSession, tableDir: String,
      stamped: Seq[IcebergLayoutWriter.ManifestEntrySpec],
      curId: Long, base: MetaBase, newId: Long, operation: String,
      dropDeletes: Boolean, mustFind: Set[String] = Set.empty)(
      hit: IcebergManifestSource.ManifestStats => Boolean): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val list = IcebergManifestSource
      .resolveManifestList(spark, tableDir, Some(curId))
      .getOrElse(sys.error(
        s"commitFiltered($tableDir): snapshot $curId has no manifest list"))
    val (dataRows, deleteRows) = IcebergManifestSource
      .manifestList(conf, list).partition(_.content == 0)
    require(dropDeletes || deleteRows.isEmpty,
      s"commitReplaceFiles($tableDir): current snapshot carries delete " +
        "files; a group-replace commit cannot preserve their visibility. " +
        "Run rewrite_data_files first.")
    val found = scala.collection.mutable.HashSet.empty[String]
    val dropped = Set.newBuilder[String]
    val rewritten = Seq.newBuilder[(java.io.File, Int, Int)]
    var removedFiles = 0L
    var removedRecords = 0L
    dataRows.zipWithIndex.foreach { case (m, i) =>
      val (hits, kept) = IcebergManifestSource
        .readManifestStats(m.path, conf, m.sequenceNumber).toSeq.partition(hit)
      if (hits.nonEmpty) {
        dropped += m.path
        removedFiles += hits.size
        removedRecords += hits.map(_.recordCount).sum
        if (mustFind.nonEmpty)
          found ++= hits.map(s => normPath(s.filePath)).filter(mustFind)
        if (kept.nonEmpty) {
          val f = freshFile(metaDir(tableDir), s"manifest-$newId-rw-$i.avro")
          IcebergLayoutWriter.writeManifest(f,
            kept.map(specFromStats(_, m.specId)))
          rewritten += ((f, 0, m.specId))
        }
      }
    }
    // OCC validation (Iceberg's commit-conflict semantics): a concurrent
    // commit that already replaced a scanned file would make this swap
    // resurrect or duplicate rows — fail the statement instead; the
    // caller re-runs against the new snapshot
    val gone = mustFind -- found
    require(gone.isEmpty,
      s"commitReplaceFiles($tableDir): concurrent commit conflict — " +
        s"scanned files no longer in snapshot $curId: " +
        s"${gone.take(3).mkString(", ")}")
    val retired =
      if (dropDeletes && deleteRows.nonEmpty)
        deleteCarriedEntries(spark, tableDir, curId).size.toLong
      else 0L
    commitCarryReuse(spark, tableDir, stamped, Nil,
      dropped.result() ++ (if (dropDeletes) deleteRows.map(_.path) else Nil),
      curId, base, newId, operation,
      retiredDeleteFiles = retired, rewritten = rewritten.result(),
      removedDataFiles = removedFiles, removedRecords = removedRecords)
    removedFiles
  }

  /** Allocation floor for a manifest-reuse commit: above every history
    * id, every manifest-list row sequence number and the metadata's
    * `last-sequence-number` (which covers entries written with an
    * explicit sequence above their snapshot's) — without walking a
    * single entry. */
  private def reuseNewId(spark: SparkSession, tableDir: String,
      all: Seq[Snap], curId: Long): Long = {
    val oldList = IcebergManifestSource
      .resolveManifestList(spark, tableDir, Some(curId))
      .getOrElse(sys.error(
        s"reuseNewId($tableDir): snapshot $curId has no manifest list"))
    (all.map(_.id) ++ IcebergManifestSource.manifestList(
      spark.sparkContext.hadoopConfiguration, oldList).map(_.sequenceNumber) :+
      lastSequenceNumber(currentMetadata(spark, tableDir)).getOrElse(0L))
      .max + 1
  }

  /** Zero-copy table CLONE (Iceberg's `snapshot` procedure): the target
    * is born with ONE snapshot whose manifest list is a verbatim
    * (path-absolutized) COPY of the source's current list — no data
    * movement and no entry materialized; the clone costs one KB-sized
    * list copy plus a count-only pass for the returned file count. The
    * source's manifests resolve their relative data paths against the
    * SOURCE root (manifest location drives resolution), so source and
    * clone share data and manifest files but nothing else — commits
    * diverge freely from here, and expiry on the clone never deletes
    * files it does not own (ownedByTable guards both expire paths).
    * Per-entry sequence numbers and spec ids ride in the shared
    * manifests and list rows, so merge-on-read visibility replays
    * identically; the source's `last-sequence-number` and `next-row-id`
    * carry over, so a later clone commit allocates a sequence above every
    * referenced entry and row ids above every referenced row. A
    * spec-evolved source must have contiguous spec ids with the latest
    * as default (the clone re-declares them by position). CAVEAT (same as
    * real Iceberg snapshot tables): remove_orphan_files on the SOURCE
    * cannot see the clone's references — never point GC at a snapshotted
    * source's files. Returns (cloneSnapshotId, carriedFileCount). */
  def snapshotTable(spark: SparkSession, srcDir: String,
      dstDir: String): (Long, Int) = commitLock(dstDir).synchronized {
    require(!IcebergManifestSource.hasMetadata(dstDir),
      s"snapshotTable: target $dstDir already has table metadata")
    val cur = currentSnapshot(spark, srcDir).getOrElse(sys.error(
      s"snapshotTable($srcDir): source has no snapshots"))
    val (defId, allSpecs) = IcebergManifestSource.partitionSpecs(spark, srcDir)
    val maxSpecId = allSpecs.map(_._1).maxOption.getOrElse(-1)
    require(maxSpecId < 0 ||
      (allSpecs.map(_._1).sorted == (0 to maxSpecId) && defId == maxSpecId),
      s"snapshotTable($srcDir): spec-evolved source has non-contiguous " +
        s"spec ids or a non-latest default (ids ${allSpecs.map(_._1)}, " +
        s"default $defId) — rewrite_data_files it first")
    val specsForClone =
      if (maxSpecId < 0) Nil
      else (0 to maxSpecId).map(id =>
        allSpecs.find(_._1 == id).map(_._2).getOrElse(Nil))
    val list = IcebergManifestSource
      .resolveManifestList(spark, srcDir, Some(cur))
      .getOrElse(sys.error(
        s"snapshotTable($srcDir): snapshot $cur has no manifest list"))
    IcebergLayoutWriter.writeTableFromList(new java.io.File(dstDir),
      cur, new java.io.File(list),
      partitionSpecs = specsForClone,
      sortOrder = IcebergManifestSource.sortOrder(spark, srcDir),
      // the clone references the source's manifests verbatim — its
      // feature level (row lineage, DVs) and counters carry over with them
      formatVersion = tableFormatVersion(spark, srcDir),
      lastSequenceNumber = lastSequenceNumber(currentMetadata(spark, srcDir)),
      nextRowId = Some(nextRowId(spark, srcDir)).filter(_ > 0))
    val (dataFiles, _, deleteFiles) = IcebergManifestSource.liveFileCounts(
      spark.sparkContext.hadoopConfiguration, list)
    (cur, (dataFiles + deleteFiles).toInt)
  }

  /** CDC MERGE commit — one commit applying a mixed change set (the
    * batch twin of a streaming CDC sink): every change key gets an
    * equality tombstone (killing its prior version, strict-<), and only
    * non-delete rows land in the new data file. `opCol` marks deletes
    * with value "D"; all other rows are upserts. ONE data file + ONE
    * delete file regardless of the mix, committed as a fast append
    * (previous manifests listed verbatim) — the commit costs O(change
    * set + manifest list). Assumes one change row per key (a compacted CDC batch —
    * [[graft.operators.CdcOps.latestWins]] produces exactly that).
    * Returns (newSnapshotId, nUpserts, nDeletes = keys − upserts). */
  def commitMerge(spark: SparkSession, tableDir: String,
      changes: org.apache.spark.sql.DataFrame, keyCols: Seq[String],
      opCol: String): (Long, Long, Long) =
      commitLock(tableDir).synchronized { withCommitRetry(tableDir) {
    require(keyCols.nonEmpty, "commitMerge needs at least one key column")
    val base = metaBase(spark, tableDir)
    val all = snapshots(spark, tableDir)
    require(all.nonEmpty, s"no snapshots under $tableDir")
    val curId = currentSnapshotId(spark, tableDir).getOrElse(all.last.id)
    val newId = reuseNewId(spark, tableDir, all, curId)
    val dataDir = new java.io.File(tableDir, "data"); dataDir.mkdirs()
    // data honors write.format.default; tombstones honor
    // write.delete.format.default
    val fmt = tableWriteFormat(spark, tableDir)
    val delFmt = tableDeleteFormat(spark, tableDir)
    val up = freshFile(dataDir,
      s"merge-$newId.${graft.sources.v2.GraftFormatWriters.extensionOf(fmt)}")
    val ed = freshFile(dataDir,
      s"eqdel-$newId.${graft.sources.v2.GraftFormatWriters.extensionOf(delFmt)}")
    val n = IcebergLayoutWriter.writeSingleData(
      changes.filter(col(opCol) =!= "D").drop(opCol)
        .sort(keyCols.map(col): _*), up, fmt)
    val nk = IcebergLayoutWriter.writeSingleData(
      changes.select(keyCols.map(col): _*).distinct()
        .sort(keyCols.map(col): _*), ed, delFmt)
    val added = withHarvestedBounds(Seq(
      IcebergLayoutWriter.ManifestEntrySpec(status = 1, content = 0,
        filePath = up.getAbsolutePath, recordCount = n,
        sizeBytes = up.length(), sequenceNumber = newId,
        fileFormat = fmt.toUpperCase)),
      fmt, declaredStatFieldsFor(spark, tableDir)) ++ Seq(
      IcebergLayoutWriter.ManifestEntrySpec(status = 1, content = 2,
        filePath = ed.getAbsolutePath, recordCount = nk,
        sizeBytes = ed.length(), sequenceNumber = newId,
        fileFormat = delFmt.toUpperCase,
        equalityIds = keyFieldIds(Some(up.getAbsolutePath), keyCols)))
    commitCarryReuse(spark, tableDir, added, Nil, Set.empty,
      curId, base, newId, operation = "overwrite")
    (newId, n, nk - n)
  } }

  /** DELETE commit: an equality-delete file on `keyCols` with NO
    * replacement rows — together with [[commitUpsert]] this closes CRUD
    * over the layout. Same sequence discipline (tombstones land strictly
    * above every live file) and the same fast-append commit. Returns
    * (newSnapshotId, nDeleteKeys). */
  def commitDelete(spark: SparkSession, tableDir: String,
      deleteKeys: org.apache.spark.sql.DataFrame,
      keyCols: Seq[String]): (Long, Long) =
      commitLock(tableDir).synchronized { withCommitRetry(tableDir) {
    require(keyCols.nonEmpty, "commitDelete needs at least one key column")
    val base = metaBase(spark, tableDir)
    val all = snapshots(spark, tableDir)
    require(all.nonEmpty, s"no snapshots under $tableDir")
    val curId = currentSnapshotId(spark, tableDir).getOrElse(all.last.id)
    val newId = reuseNewId(spark, tableDir, all, curId)
    val dataDir = new java.io.File(tableDir, "data"); dataDir.mkdirs()
    val delFmt = tableDeleteFormat(spark, tableDir)
    val ed = freshFile(dataDir,
      s"eqdel-$newId.${graft.sources.v2.GraftFormatWriters.extensionOf(delFmt)}")
    val nk = IcebergLayoutWriter.writeSingleData(
      deleteKeys.select(keyCols.map(col): _*).distinct()
        .sort(keyCols.map(col): _*), ed, delFmt)
    // equality-id resolution needs ONE live data file: a
    // head-of-first-manifest stream, never an entry walk
    val added = Seq(IcebergLayoutWriter.ManifestEntrySpec(status = 1,
      content = 2, filePath = ed.getAbsolutePath, recordCount = nk,
      sizeBytes = ed.length(), sequenceNumber = newId,
      fileFormat = delFmt.toUpperCase,
      equalityIds = keyFieldIds(
        firstDataFilePath(spark, tableDir, curId), keyCols)))
    commitCarryReuse(spark, tableDir, added, Nil, Set.empty,
      curId, base, newId, operation = "delete")
    (newId, nk)
  } }

  /** Position-style deletes require a row ordinal. ORC files whose rows
    * match the predicate read with real ordinals via
    * [[MorRead.orcFilesMatching]] + [[OrcPosRead]], so this guard is
    * normally unreachable — it stays as the BACKSTOP: a tombstone/DV
    * write that let a NULL position through would COMMIT, and later MOR
    * reads would silently keep the row the user deleted. Shared by the
    * parquet-tombstone and deletion-vector delete paths: refuse at the
    * WRITE. */
  private def requireOrdinals(hitRows: Array[org.apache.spark.sql.Row],
      op: String, tableDir: String): Unit = {
    val ordinalless = hitRows.filter(_.isNullAt(1)).map(_.getString(0))
    require(ordinalless.isEmpty,
      s"$op($tableDir): matched rows in " +
        s"${ordinalless.distinct.take(3).mkString(", ")} have no row " +
        "ordinal (ORC data files) — position-style deletes cannot apply; " +
        "use equality deletes or rewrite the files to parquet")
  }

  /** One MERGE-ON-READ delta commit: task-written data files (content=0)
    * and position-delete files (content=1) land together in ONE snapshot
    * at a fresh sequence number — the commit behind
    * [[graft.sources.v2.GraftDeltaBatchWrite]] (SQL UPDATE/MERGE/DELETE
    * under write.<command>.mode = merge-on-read). Position visibility
    * (data_seq <= delete_seq) lets the tombstones hit the pre-existing
    * files they address; the new data files share the sequence but no
    * tombstone references their paths. Append-shaped (nothing removed),
    * so the DATA manifests ride verbatim and a lost CAS race retries;
    * when the delta carries deletion vectors the DELETE side (commit-count
    * shaped, the small side) re-files through the DV-supersede fold.
    * Returns the new snapshot id. */
  def commitDeltaFiles(spark: SparkSession, tableDir: String,
      added: Seq[IcebergLayoutWriter.ManifestEntrySpec],
      referencedDataFiles: Seq[String] = Nil): Long =
      commitLock(tableDir).synchronized { withCommitRetry(tableDir) {
    val base = metaBase(spark, tableDir)
    val all = snapshots(spark, tableDir)
    require(all.nonEmpty, s"no snapshots under $tableDir")
    val curId = currentSnapshotId(spark, tableDir).getOrElse(all.last.id)
    // Iceberg's validateDataFilesExist: the (file, pos) tombstones were
    // computed by a scan of an EARLIER snapshot; if a concurrent
    // rewrite/compaction/COW commit removed any referenced data file,
    // landing them would silently drop the DELETE half of the
    // UPDATE/MERGE (dangling tombstones) while the inserts still land —
    // duplicated rows. Not retryable: a newer base can only confirm the
    // files are gone; the STATEMENT must re-run its scan. One driver
    // pass over the data manifests; the referenced list is commit-sized.
    val wanted = referencedDataFiles.map(normPath).distinct
    val live = liveAmong(spark, tableDir, curId, wanted.toSet)
    val gone = wanted.filterNot(live.contains)
    if (gone.nonEmpty) throw new CommitConflictException(
      s"commitDeltaFiles($tableDir): data files referenced by this " +
        s"delta's position deletes are no longer live in snapshot " +
        s"$curId (a concurrent commit replaced them): " +
        s"${gone.take(3).mkString(", ")} — re-run the statement",
      retryable = false)
    val newId = reuseNewId(spark, tableDir, all, curId)
    val stamped = added.map(_.copy(sequenceNumber = newId))
    val (stampedDv, stampedKept) =
      stamped.partition(e => e.content == 1 && e.fileFormat == "PUFFIN")
    // v3 invariant: AT MOST ONE deletion vector per data file. Task DVs
    // and previously-committed DVs sharing a target fold into one fresh
    // puffin; superseded carried entries leave the snapshot (their files
    // stay — history references them). A DV-less delta reuses EVERY
    // manifest.
    val (delKept, mergedDv, dropped, retired) =
      if (stampedDv.isEmpty) (Nil, Nil, Set.empty[String], 0L)
      else {
        val delCarried = deleteCarriedEntries(spark, tableDir, curId)
        val (kept, merged) =
          mergeDeletionVectors(tableDir, delCarried, stampedDv, newId)
        (kept, merged, deleteManifestPaths(spark, tableDir, curId),
          delCarried.size.toLong)
      }
    commitCarryReuse(spark, tableDir, stampedKept ++ mergedDv,
      refiledCarry = delKept,
      dropManifests = dropped,
      curId, base, newId, operation = "overwrite",
      retiredDeleteFiles = retired)
    deleteSupersededTaskFiles(stampedDv, mergedDv)
    newId
  } }

  /** Fold task-written / freshly-computed DV entries (`addedDv`, all
    * content=1 fileFormat=PUFFIN, files not yet committed) together with
    * any live carried DVs sharing a target file into ONE puffin holding
    * one blob per target — the v3 spec's at-most-one-DV-per-data-file
    * invariant, which a conforming external reader depends on (it loads
    * ONE vector per file; a second would silently drop deletes). Carried
    * puffins that share no target are kept verbatim; a superseded
    * puffin's non-overlapping blobs are carried into the merged file so
    * no delete is lost. Re-stamping carried positions at the new (higher)
    * sequence targets the same rows — paths are never reused in this
    * layout, the same argument as [[rewritePositionDeletes]]. Returns
    * (carried entries kept, merged DV entries to add). */
  private def mergeDeletionVectors(tableDir: String,
      carried: Seq[IcebergLayoutWriter.ManifestEntrySpec],
      addedDv: Seq[IcebergLayoutWriter.ManifestEntrySpec],
      newId: Long)
      : (Seq[IcebergLayoutWriter.ManifestEntrySpec],
         Seq[IcebergLayoutWriter.ManifestEntrySpec]) = {
    if (addedDv.isEmpty) return (carried, Nil)
    // commit-sized by the MOR contract: DV payloads are matched-row
    // ordinals, read driver-side
    val addedBlobs = addedDv.flatMap(e =>
      DeletionVectors.read(new java.io.File(e.filePath)))
    val newTargets = addedBlobs.map(b => normPath(b._1)).toSet
    val carriedDv = carried.filter(e =>
      e.content == 1 && e.fileFormat == "PUFFIN")
    val carriedRead = carriedDv.map(e =>
      e -> DeletionVectors.read(new java.io.File(e.filePath)))
    val (superseded, untouched) = carriedRead.partition {
      case (_, blobs) => blobs.exists(b => newTargets(normPath(b._1))) }
    val allBlobs = addedBlobs ++ superseded.flatMap(_._2)
    val perTarget = allBlobs.groupBy(b => normPath(b._1))
      .toSeq.sortBy(_._1)
      .map { case (_, bs) => (bs.head._1, bs.flatMap(_._2).distinct) }
    val dataDir = new java.io.File(tableDir, "data")
    val dv = freshFile(dataDir, s"dv-$newId.puffin")
    DeletionVectors.write(dv, newId, perTarget)
    // the task puffins were never committed, but they are the RETRY's
    // input too: a commit body re-run after a lost CAS race re-reads
    // them — deletion belongs to the caller AFTER its commit succeeds
    // ([[deleteSupersededTaskFiles]]), never inside the merge
    val merged = IcebergLayoutWriter.ManifestEntrySpec(status = 1,
      content = 1, filePath = dv.getAbsolutePath,
      recordCount = perTarget.map(_._2.size.toLong).sum,
      sizeBytes = dv.length(), sequenceNumber = newId,
      fileFormat = "PUFFIN")
    (carried.filterNot(superseded.map(_._1).toSet), Seq(merged))
  }

  /** Remove the task-written DV puffins a successful commit superseded —
    * called AFTER the metadata CAS landed (a retryable conflict re-runs
    * the commit body, which must still find its inputs on disk). */
  private def deleteSupersededTaskFiles(
      addedDv: Seq[IcebergLayoutWriter.ManifestEntrySpec],
      merged: Seq[IcebergLayoutWriter.ManifestEntrySpec]): Unit = {
    val kept = merged.map(_.filePath).toSet
    addedDv.filterNot(e => kept(e.filePath)).foreach(e =>
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(e.filePath)))
  }

  /** Predicate DELETE via POSITION tombstones — the other half of the
    * row-level delete write path ([[commitDelete]] writes equality
    * tombstones): read the current state WITH row lineage
    * ([[MorRead.readTableLineage]]), evaluate the predicate, and commit
    * the matching (file_path, pos) pairs as a position-delete file
    * (sorted by file then position, the spec's required order). Position
    * visibility is `data_seq <= delete_seq`, and this commit adds no
    * data, so the tombstones hit exactly the matched rows. At 100 TB
    * the predicate scan is an ordinary distributed read; only the
    * matched positions move. Same eqKeys hazard as [[rewriteDataFiles]]:
    * if the current snapshot carries equality-delete files and eqKeys is
    * empty, the predicate is evaluated over un-tombstoned state — rows
    * already equality-deleted can be re-matched (wasted tombstones) and
    * the deleted-row count over-reports. Pass the equality keys whenever
    * content==2 files are live. Returns (newSnapshotId, rowsDeleted). */
  def commitDeleteWhere(spark: SparkSession, tableDir: String,
      predicate: org.apache.spark.sql.Column,
      eqKeys: Seq[String] = Nil,
      renames: Map[String, Seq[String]] = Map.empty,
      dataSchema: Option[org.apache.spark.sql.types.StructType] = None): (Long, Long) = {
    // a DECLARED-v3 table defaults position tombstones to deletion
    // vectors (the v3 spec prohibits new position-delete FILES) —
    // EXACTLY GraftTable.dvTombstones' rule, so the fixture/Cli path
    // and the connector's SQL DELETE can never pick different dialects
    // for the same table: an explicit tombstone FILE format opts out,
    // equality granularity keeps its own dialect, and descriptor-less
    // external layouts resolve from the metadata document's properties
    val p = tablePropsFor(spark, tableDir)
    if (p.get("format-version").contains("3") &&
        !p.contains("write.delete.format.default") &&
        !p.get("write.delete.granularity").map(_.toLowerCase)
          .contains("equality") &&
        p.get("write.delete.format").forall(_.toLowerCase == "dv"))
      return commitDeleteWhereDv(spark, tableDir, predicate, eqKeys,
        renames, dataSchema)
    commitDeleteWhereFiles(spark, tableDir, predicate, eqKeys, renames,
      dataSchema)
  }

  private def commitDeleteWhereFiles(spark: SparkSession, tableDir: String,
      predicate: org.apache.spark.sql.Column,
      eqKeys: Seq[String] = Nil,
      renames: Map[String, Seq[String]] = Map.empty,
      dataSchema: Option[org.apache.spark.sql.types.StructType] = None): (Long, Long) =
      commitLock(tableDir).synchronized { withCommitRetry(tableDir) {
    import spark.implicits._
    val base = metaBase(spark, tableDir)
    val all = snapshots(spark, tableDir)
    require(all.nonEmpty, s"no snapshots under $tableDir")
    val curId = currentSnapshotId(spark, tableDir).getOrElse(all.last.id)
    val newId = reuseNewId(spark, tableDir, all, curId)
    // reject-sized by contract (same as the DV twin): collect once so the
    // ordinal-less backstop fires BEFORE any tombstone byte is written.
    // ORC files with predicate matches are prefiltered so exactly they
    // read with real row ordinals ([[OrcPosRead]]) — position deletes
    // apply to both data formats.
    val hitRows = MorRead
      .readTableLineage(spark, tableDir, eqKeys, renames, dataSchema,
        orcPosPaths = MorRead.orcFilesMatching(spark, tableDir, predicate))
      .filter(predicate)
      .select(col("file_path"), col("pos"))
      .collect()
    requireOrdinals(hitRows, "commitDeleteWhere", tableDir)
    val hits = hitRows.map(r => (r.getString(0), r.getLong(1)))
      .sortBy(identity).toSeq
    val dataDir = new java.io.File(tableDir, "data"); dataDir.mkdirs()
    // the tombstone FILE honors write.delete.format.default (Iceberg's
    // delete-file format knob); pairs are already driver-local — write
    // directly, no Spark job for a KB-sized file
    val delFmt = tableDeleteFormat(spark, tableDir)
    val pd = freshFile(dataDir, s"posdel-$newId." +
      graft.sources.v2.GraftFormatWriters.extensionOf(delFmt))
    val n = delFmt match {
      case "orc" => IcebergLayoutWriter.writePosDeleteOrc(pd, hits,
        spark.sparkContext.hadoopConfiguration)
      case "avro" => IcebergLayoutWriter.writePosDeleteAvro(pd, hits)
      case _ => IcebergLayoutWriter.writePosDeleteParquet(pd, hits,
        spark.sparkContext.hadoopConfiguration)
    }
    val added = Seq(IcebergLayoutWriter.ManifestEntrySpec(status = 1,
      content = 1, filePath = pd.getAbsolutePath, recordCount = n,
      sizeBytes = pd.length(), sequenceNumber = newId,
      fileFormat = delFmt.toUpperCase))
    // tombstone-append shape: every manifest rides verbatim
    commitCarryReuse(spark, tableDir, added, Nil, Set.empty,
      curId, base, newId, operation = "delete")
    (newId, n)
  } }

  /** Predicate DELETE committing a DELETION VECTOR (Iceberg v3 shape)
    * instead of a parquet tombstone file: matched (file, pos) pairs fold
    * into ONE Puffin container with one blob per affected data file
    * ([[DeletionVectors]]), committed as a content=1 entry with
    * fileFormat=PUFFIN. Matched pairs are reject-sized by assumption
    * (the same contract as [[commitDeleteWhere]]'s single tombstone
    * file); the grouping is a driver fold over them. Readers apply DVs
    * exactly like position tombstones — same (file, pos, seq)
    * visibility — so the two delete commits are interchangeable. The
    * data manifests are listed verbatim; only the delete side is
    * re-filed, so a live vector sharing a target is superseded (one DV
    * per data file). Returns (newSnapshotId, deletedRowCount). */
  def commitDeleteWhereDv(spark: SparkSession, tableDir: String,
      predicate: org.apache.spark.sql.Column,
      eqKeys: Seq[String] = Nil,
      renames: Map[String, Seq[String]] = Map.empty,
      dataSchema: Option[org.apache.spark.sql.types.StructType] = None): (Long, Long) =
      commitLock(tableDir).synchronized { withCommitRetry(tableDir) {
    val base = metaBase(spark, tableDir)
    val all = snapshots(spark, tableDir)
    require(all.nonEmpty, s"no snapshots under $tableDir")
    val curId = currentSnapshotId(spark, tableDir).getOrElse(all.last.id)
    val newId = reuseNewId(spark, tableDir, all, curId)
    val hitRows = MorRead
      .readTableLineage(spark, tableDir, eqKeys, renames, dataSchema,
        orcPosPaths = MorRead.orcFilesMatching(spark, tableDir, predicate))
      .filter(predicate)
      .select(col("file_path"), col("pos"))
      .collect() // reject-sized, same contract as commitDeleteWhere
    requireOrdinals(hitRows, "commitDeleteWhereDv", tableDir)
    val hits = hitRows.map(r => (r.getString(0), r.getLong(1)))
    if (hits.isEmpty) return (curId, 0L)
    val dataDir = new java.io.File(tableDir, "data"); dataDir.mkdirs()
    // staging name: mergeDeletionVectors folds this commit's vector
    // together with any live DV sharing a target (v3's one-DV-per-file
    // invariant — successive DELETEs must supersede, not accumulate)
    // and owns the final dv-<id>.puffin name
    val dvStage = freshFile(dataDir, s"dv-stage-$newId.puffin")
    DeletionVectors.write(dvStage, newId,
      hits.groupBy(_._1).toSeq.map { case (f, ps) => (f, ps.map(_._2).toSeq) })
    val staged = IcebergLayoutWriter.ManifestEntrySpec(status = 1,
      content = 1, filePath = dvStage.getAbsolutePath,
      recordCount = hits.length, sizeBytes = dvStage.length(),
      sequenceNumber = newId, fileFormat = "PUFFIN")
    // DATA manifests ride verbatim; the delete side re-files through
    // the DV-supersede fold (small side, same as commitDeltaFiles)
    val delCarried = deleteCarriedEntries(spark, tableDir, curId)
    val (delKept, merged) =
      mergeDeletionVectors(tableDir, delCarried, Seq(staged), newId)
    commitCarryReuse(spark, tableDir, merged, refiledCarry = delKept,
      dropManifests = deleteManifestPaths(spark, tableDir, curId),
      curId, base, newId, operation = "delete",
      retiredDeleteFiles = delCarried.size.toLong)
    deleteSupersededTaskFiles(Seq(staged), merged)
    (newId, hits.length.toLong)
  } }

  /** Predicate DELETE, COPY-ON-WRITE mode (Iceberg's
    * `write.delete.mode=copy-on-write`; the SQL `DELETE FROM` behind
    * [[graft.sources.v2.GraftTable]]'s SupportsDelete): files containing
    * matches are rewritten without the matched rows, untouched files are
    * carried verbatim, and the committed snapshot holds NO delete files
    * — so the connector's append-only scan (which does not apply
    * tombstones) reads the post-delete truth with zero reader changes.
    * When the current snapshot already carries tombstones (a MOR table),
    * the whole state is rewritten instead (tombstone contents reference
    * files by path, so partial carry would need reading every delete
    * file to prove safety). Both shapes commit through [[commitFiltered]]:
    * only the manifests holding an affected file are rewritten, so at
    * 100 TB the common path costs O(affected files + their manifests) —
    * the same bill Iceberg's own COW delete pays — and a predicate that
    * matches nothing commits nothing. Returns (snapshotId after,
    * rowsDeleted). */
  // NOTE: the consolidated replacement file records no column bounds or
  // partition values (survivors of MANY files fold into one); on tables
  // that lean on file skipping, a rewrite_data_files with a sort order
  // restores it. The row-level SQL path (GraftCowBatchWrite) does NOT
  // share this limit — it rewrites per group with bounds + partitions.
  def commitDeleteWhereCow(spark: SparkSession, tableDir: String,
      predicate: org.apache.spark.sql.Column,
      eqKeys: Seq[String] = Nil,
      renames: Map[String, Seq[String]] = Map.empty,
      dataSchema: Option[org.apache.spark.sql.types.StructType] = None): (Long, Long) =
      commitLock(tableDir).synchronized {
    // replace-shaped: which files get rewritten is decided against THIS
    // base — a version conflict fails loudly (no retry), Iceberg's own
    // COW-conflict behavior
    val base = metaBase(spark, tableDir)
    val all = snapshots(spark, tableDir)
    require(all.nonEmpty, s"no snapshots under $tableDir")
    val curId = currentSnapshotId(spark, tableDir).getOrElse(all.last.id)
    val hasTombstones = deleteManifestPaths(spark, tableDir, curId).nonEmpty
    // the survivors file honors write.format.default; a lineage-assigned
    // parquet table also MATERIALIZES row lineage into it (spec v3: a
    // COW delete must keep the surviving rows' ids and last-updated
    // sequences — only the dying rows disappear)
    val cowFmt = tableWriteFormat(spark, tableDir)
    val lineageOn = cowFmt == "parquet" && nextRowId(spark, tableDir) > 0
    val lineage0 = MorRead.readTableLineage(spark, tableDir, eqKeys,
      renames, dataSchema, withLineage = lineageOn)
    val lineage =
      if (lineageOn) MorRead.resolveRowLineage(spark, tableDir, lineage0)
      else lineage0
    // DELETE removes rows where the predicate is TRUE; null keeps
    val keep = not(coalesce(predicate, lit(false)))
    // tombstoned tables rewrite the WHOLE state (tombstone contents
    // reference files by path, partial carry cannot prove safety) —
    // modeled as affected = None so no all-files set ever materializes.
    // ONE action serves the affected-file set AND the deleted count
    // (r16: the set, the count, and a separate isEmpty probe were three
    // scans; an empty table or no-match predicate still short-circuits
    // through the empty map / zero count below).
    val affectedCounts: Option[Map[String, Long]] =
      if (hasTombstones) None
      else Some(lineage.filter(predicate).groupBy(col("file_path"))
        .count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
    if (affectedCounts.exists(_.isEmpty)) return (curId, 0L) // nothing matched
    val normAffected = affectedCounts.map(_.keySet.map(normPath))
    val inScopeRaw = normAffected
      .fold(lineage)(a => lineage.filter(col("file_path")
        .isin(a.toSeq: _*)))
    // checkpoint only when a count action AND the write both read it
    // (the tombstoned whole-state arm); the affected-files arm has one
    // consumer — the survivor write — so materializing first is waste
    val inScope =
      if (affectedCounts.isDefined) inScopeRaw
      else inScopeRaw.localCheckpoint()
    val deleted = affectedCounts.map(_.valuesIterator.sum)
      .getOrElse(inScope.filter(predicate).count())
    if (deleted == 0L) return (curId, 0L)
    val survivors = inScope.filter(keep).drop("file_path", "pos", "data_seq")
    val newId = reuseNewId(spark, tableDir, all, curId)
    val dataDir = new java.io.File(tableDir, "data"); dataDir.mkdirs()
    // the survivors file honors write.format.default — a COW delete on
    // an ORC/AVRO-default table must not flip it to parquet
    val fmt = cowFmt
    val rw = freshFile(dataDir,
      s"cowdel-$newId.${graft.sources.v2.GraftFormatWriters.extensionOf(fmt)}")
    val n = IcebergLayoutWriter.writeSingleData(survivors, rw, fmt)
    val added =
      if (n == 0L) { // every in-scope row died: no empty file in the commit
        org.apache.commons.io.FileUtils.deleteQuietly(rw); Nil
      } else withHarvestedBounds(
        Seq(IcebergLayoutWriter.ManifestEntrySpec(status = 1,
          content = 0, filePath = rw.getAbsolutePath, recordCount = n,
          sizeBytes = rw.length(), sequenceNumber = newId,
          fileFormat = fmt.toUpperCase)),
        fmt, declaredStatFieldsFor(spark, tableDir))
    normAffected match {
      case None => // whole-state rewrite: every file and tombstone retires
        commitFiltered(spark, tableDir, added, curId, base, newId,
          "delete", dropDeletes = true)(_ => true)
      case Some(affected) =>
        commitFiltered(spark, tableDir, added, curId, base, newId,
          "delete", dropDeletes = false, mustFind = affected)(s =>
          affected(normPath(s.filePath)))
    }
    (newId, deleted)
  }

  /** Group-replace commit — the copy-on-write primitive behind SQL
    * row-level operations (`UPDATE`/`MERGE INTO` through the connector's
    * `SupportsRowLevelOperations`): one snapshot that drops exactly the
    * data files the operation's scan read (`removedPaths` — the replaced
    * "groups") and adds the files the operation wrote in their place.
    * The group contract makes this correct at any filter granularity:
    * every surviving row of a removed file is in the added set, so
    * read-before minus matched-rows-delta equals read-after. Tombstones
    * are refused (a carried delete file could reference a replaced data
    * file, and the group write has already applied row-level truth), the
    * same fail-fast as streaming's initial load; SQL-born tables never
    * carry them. Commit cost is O(change set) metadata + the rewritten
    * groups' data — with runtime group filtering the groups are only the
    * matched files, the same bill Iceberg's own COW pays at 100 TB. */
  def commitReplaceFiles(spark: SparkSession, tableDir: String,
      removedPaths: Seq[String],
      added: Seq[IcebergLayoutWriter.ManifestEntrySpec],
      dropDeletes: Boolean = false): Long =
      commitLock(tableDir).synchronized {
    replaceFilesLocked(spark, tableDir, Some(removedPaths), added,
      dropDeletes)
  }

  /** Replace EVERY current data file with `added` — RTAS's commit shape.
    * The replace set is derived from the SAME pinned base the commit's
    * CAS verifies, inside the lock: a caller-side "list current files,
    * then replace them" (the old GraftStagedTable shape) left a window
    * where a concurrent insert's files were read into neither the
    * replace set nor the conflict check, silently surviving the REPLACE.
    * Tombstones drop with the files they reference (full overwrite). */
  def commitReplaceAll(spark: SparkSession, tableDir: String,
      added: Seq[IcebergLayoutWriter.ManifestEntrySpec]): Long =
      commitLock(tableDir).synchronized {
    replaceFilesLocked(spark, tableDir, None, added, dropDeletes = true)
  }

  /** Canonical string form of an entry's partition values — the match
    * key partition-scoped replaces compare on (same canon the dynamic
    * overwrite's touched set uses). */
  private[sources] def canonPartition(
      p: Iterable[(String, Any)]): Map[String, String] =
    p.map { case (n, v) => n -> String.valueOf(v) }.toMap

  /** Replace every data file whose partition values are in `touched` —
    * dynamic partition overwrite's commit. The removed set derives from
    * the commit's OWN pinned base inside the lock (never a caller-side
    * listing, which would let a concurrent insert's file survive the
    * partition swap), and the CAS fails the statement loudly when a
    * commit lands in between. */
  def commitReplacePartitions(spark: SparkSession, tableDir: String,
      touched: Set[Map[String, String]],
      added: Seq[IcebergLayoutWriter.ManifestEntrySpec]): Long =
      commitLock(tableDir).synchronized {
    replaceFilesLocked(spark, tableDir, None, added, dropDeletes = false,
      partitionFilter = Some(touched))
  }

  /** The replace family's commit: the removed set is decided from THIS
    * pinned base inside the lock — an explicit path list (every path must
    * be live: the OCC check), a partition predicate, or neither = every
    * current data file — and lands through [[commitFiltered]]. */
  private def replaceFilesLocked(spark: SparkSession, tableDir: String,
      removedPathsOpt: Option[Seq[String]],
      added: Seq[IcebergLayoutWriter.ManifestEntrySpec],
      dropDeletes: Boolean,
      partitionFilter: Option[Set[Map[String, String]]] = None): Long = {
    val base = metaBase(spark, tableDir) // replace-shaped: conflict = loud
    val all = snapshots(spark, tableDir)
    require(all.nonEmpty, s"no snapshots under $tableDir")
    val curId = currentSnapshotId(spark, tableDir).getOrElse(all.last.id)
    val newId = reuseNewId(spark, tableDir, all, curId)
    def commit(mustFind: Set[String])(
        hit: IcebergManifestSource.ManifestStats => Boolean): Long =
      commitFiltered(spark, tableDir,
        added.map(_.copy(sequenceNumber = newId)), curId, base, newId,
        "replace", dropDeletes, mustFind)(hit)
    (removedPathsOpt, partitionFilter) match {
      case (_, Some(touched)) => commit(Set.empty) { s =>
        // a data file WITHOUT recorded partition values can never match
        // the predicate, yet may hold touched partitions' rows — silently
        // retaining it would corrupt the overwrite, silently dropping it
        // would lose its OTHER partitions' rows. Refuse loudly.
        val pairs = partitionPairsOf(s.partitionKey)
        require(pairs.nonEmpty,
          s"commitReplacePartitions($tableDir): data file ${s.filePath} " +
            "has no recorded partition values and cannot be " +
            "partition-matched; rewrite it with a partition-preserving " +
            "compaction first")
        touched(canonPartition(pairs))
      }
      case (Some(paths), None) =>
        val removed = paths.map(normPath).toSet
        commit(removed)(s => removed(normPath(s.filePath)))
      case (None, None) => commit(Set.empty)(_ => true)
    }
    newId
  }

  /** EXECUTED rewrite_data_files — the data-moving compaction that
    * [[commitCompaction]]'s metadata-only commit deliberately is not:
    * read the current snapshot MERGE-ON-READ (every position/equality
    * tombstone applied), rewrite the surviving rows as fresh data files,
    * and commit a snapshot that carries NO old data files and NO delete
    * files. Read-before == read-after is the invariant (asserted by
    * CommitWriteSpec and pinned in q192's oracle); what changes is the
    * physical shape: tombstone anti joins disappear from every future
    * read's plan. The rewrite here lands as one sorted file (fixture
    * grain — `writeSingleParquet`); at 100 TB the same commit writes
    * one file per partition from the distributed MOR relation and the
    * metadata arithmetic is unchanged. The commit is a
    * [[commitFiltered]] where every data file is a hit: every data and
    * delete manifest retires, and the entries are counted one manifest
    * at a time. Returns
    * (newSnapshotId, rowsRewritten, filesBefore, filesAfter). */
  def rewriteDataFiles(spark: SparkSession, tableDir: String,
      eqKeys: Seq[String], sortCols: Seq[String] = Nil,
      renames: Map[String, Seq[String]] = Map.empty,
      dataSchema: Option[org.apache.spark.sql.types.StructType] = None,
      targetFileSizeBytes: Option[Long] = None)
      : (Long, Long, Int, Int) = commitLock(tableDir).synchronized {
    val base = metaBase(spark, tableDir) // replace-shaped: conflict = loud
    val all = snapshots(spark, tableDir)
    require(all.nonEmpty, s"no snapshots under $tableDir")
    val curId = currentSnapshotId(spark, tableDir).getOrElse(all.last.id)
    // the commit replaces EVERYTHING, so no data-file entry is carried:
    // eq-tombstone detection walks the DELETE side only (the small side)
    val hasEqDeletes =
      deleteCarriedEntries(spark, tableDir, curId).exists(_.content == 2)
    // Equality tombstones need the equality keys: the caller's, or —
    // since eq-delete commits record spec `equality_ids` in their
    // manifest entries — resolved from METADATA (the real-Iceberg
    // contract). Only when neither names them (a legacy layout written
    // before ids existed) does the rewrite fail fast: eqKeys=Nil would
    // skip eq-tombstone application in MorRead yet drop the delete
    // files from the commit — silently resurrecting deleted rows.
    val effKeys =
      if (eqKeys.nonEmpty) eqKeys
      else if (hasEqDeletes) MorRead.metadataEqKeys(spark, tableDir)
      else Nil
    require(effKeys.nonEmpty || !hasEqDeletes,
      s"rewriteDataFiles($tableDir): current snapshot carries equality-" +
        "delete files with no equality_ids in their metadata and no " +
        "eqKeys given; the rewrite would drop the tombstones without " +
        "applying them. Pass the equality keys.")
    val newId = reuseNewId(spark, tableDir, all, curId)
    // rewritten data lands in the table's declared write.format.default
    // (both arms) — a full rewrite is the LAST place a format flip may
    // hide, since it touches every byte of the table
    val fmt = tableWriteFormat(spark, tableDir)
    // v3 row lineage: a rewrite of a lineage-assigned PARQUET table
    // MATERIALIZES _row_id / _last_updated_sequence_number into the
    // compacted files (spec "Row Lineage": rewrites must preserve row
    // ids — the id is stable, the untouched rows keep their original
    // last-updated sequence even though the file's own sequence moves).
    // ORC/AVRO-default tables skip materialization (ids reassign — the
    // spec's permitted fallback for engines without the encoding).
    val lineageOn = fmt == "parquet" && nextRowId(spark, tableDir) > 0
    val state =
      if (lineageOn) MorRead.readTableRowLineage(spark, tableDir, effKeys,
        renames, dataSchema)
      else MorRead.readTable(spark, tableDir, effKeys, renames, dataSchema)
    val order = if (sortCols.nonEmpty) sortCols else effKeys
    val dataDir = new java.io.File(tableDir, "data"); dataDir.mkdirs()
    val ext = graft.sources.v2.GraftFormatWriters.extensionOf(fmt)
    val added = targetFileSizeBytes match {
      case None =>
        // single consolidated file — deterministic row positions, the
        // fixture grain every position-sensitive test leans on
        val rw = freshFile(dataDir, s"rewrite-$newId.$ext")
        val n = IcebergLayoutWriter.writeSingleData(
          if (order.nonEmpty) state.sort(order.map(col): _*) else state,
          rw, fmt)
        Seq(IcebergLayoutWriter.ManifestEntrySpec(status = 1,
          content = 0, filePath = rw.getAbsolutePath, recordCount = n,
          sizeBytes = rw.length(), sequenceNumber = newId,
          fileFormat = fmt.toUpperCase))
      case Some(target) =>
        // DISTRIBUTED output sized to write.target-file-size-bytes: the
        // file count derives from the pre-rewrite data volume (manifest
        // sizes — an upper bound, tombstoned rows shrink it), the write
        // is task-parallel, and a sort order becomes a RANGE
        // distribution + within-partition sort so output files carry
        // DISJOINT ranges — exactly what manifest-bound skipping wants.
        // This is the 100 TB arm: one file per ~target, never one
        // driver-fed file for the whole table.
        require(target > 0, "rewriteDataFiles: target size must be > 0")
        val totalBytes =
          liveDataEntries(spark, tableDir, curId).map(_.sizeBytes).sum
        val nFiles = math.max(1L,
          (totalBytes + target - 1) / target).toInt
        val shaped =
          if (order.nonEmpty)
            state.repartitionByRange(nFiles, order.map(col): _*)
              .sortWithinPartitions(order.map(col): _*)
          else state.repartition(nFiles)
        val tmp = new java.io.File(dataDir, s"rewrite-$newId-tmp")
        // task-parallel part write in the table format: parquet and ORC
        // through Spark's native writers (row counts from their own
        // footers/tails), AVRO through the explicit per-task container
        // fan-out (no spark-avro datasource on the classpath)
        val partRows: Seq[(java.io.File, Long)] = fmt match {
          case "avro" =>
            IcebergLayoutWriter.writeAvroParts(shaped, tmp)
              .map { case (p, n) => (new java.io.File(p), n) }
          case _ =>
            if (fmt == "orc") IcebergLayoutWriter.orcWritable(shaped)
              .write.mode("overwrite").orc(tmp.getPath)
            else shaped.write.mode("overwrite").parquet(tmp.getPath)
            val conf = spark.sparkContext.hadoopConfiguration
            Option(tmp.listFiles()).getOrElse(Array.empty)
              .filter(f => f.getName.startsWith("part-") &&
                f.getName.endsWith(s".$ext")).sortBy(_.getName)
              .map { part =>
                val rows =
                  if (fmt == "orc") {
                    val r = org.apache.orc.OrcFile.createReader(
                      new org.apache.hadoop.fs.Path(part.getAbsolutePath),
                      org.apache.orc.OrcFile.readerOptions(conf))
                    try r.getNumberOfRows finally r.close()
                  } else {
                    val in = org.apache.parquet.hadoop.util.HadoopInputFile
                      .fromPath(new org.apache.hadoop.fs.Path(
                        part.getAbsolutePath), conf)
                    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
                    import scala.jdk.CollectionConverters._
                    try r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
                    finally r.close()
                  }
                (part, rows)
              }.toSeq
        }
        val out = partRows.zipWithIndex.flatMap { case ((part, rows), i) =>
          // empty partitions (heavy tombstoning) never leave tmp: moving
          // them first would orphan unreferenced files in data/
          if (rows == 0) None
          else {
            val dest = freshFile(dataDir, s"rewrite-$newId-p$i.$ext")
            java.nio.file.Files.move(part.toPath, dest.toPath,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            Some(IcebergLayoutWriter.ManifestEntrySpec(status = 1,
              content = 0, filePath = dest.getAbsolutePath,
              recordCount = rows, sizeBytes = dest.length(),
              sequenceNumber = newId, fileFormat = fmt.toUpperCase))
          }
        }
        org.apache.commons.io.FileUtils.deleteQuietly(tmp)
        out
    }
    val n = added.map(_.recordCount).sum
    // rewritten entries carry REAL bounds for the declared stat fields,
    // harvested from the written files' own parquet/ORC statistics —
    // a compaction (or a write.sort-order rewrite) must never erase the
    // table's file skipping on those fields. KNOWN LIMIT: variant-shred
    // and geometry bbox bounds (synthetic 5000+/6000+ stat ids) cannot
    // be harvested from natively-written files (no typed subcolumns),
    // so those re-establish on subsequent connector writes; until then
    // the rewritten files are conservatively never skipped.
    val bounded = withHarvestedBounds(added, fmt,
      declaredStatFieldsFor(spark, tableDir))
    val filesBefore = commitFiltered(spark, tableDir, bounded, curId, base,
      newId, "replace", dropDeletes = true)(_ => true)
    (newId, n, filesBefore.toInt, added.size)
  }

  /** The table's declared `pushdown.fields` stat fields as
    * (fieldId, name, type-letter) — descriptor wins over metadata
    * properties, same resolution as [[tableWriteFormat]]. */
  private def declaredStatFieldsFor(spark: SparkSession,
      tableDir: String): Seq[(Int, String, String)] =
    layeredProps(spark, tableDir).get("pushdown.fields").toSeq
      .flatMap(_.split(',')).filter(_.nonEmpty).flatMap { s =>
        s.split(':') match {
          case Array(n, id, t) if Set("long", "double", "string")(t) =>
            id.toIntOption.map(i => (i, n, t))
          case _ => None
        }
      }

  /** Per-file lower/upper bounds for the declared stat fields,
    * HARVESTED from the written file's own native statistics — parquet
    * column-chunk stats folded across row groups, ORC file column
    * statistics; AVRO records none. This is how maintenance REWRITES
    * keep manifest-bound file skipping alive: the rewritten files'
    * entries used to carry no bounds at all, so one compaction erased
    * the table's skipping (and made `write.sort-order` rewrites
    * pointless for pruning). Parquet string maxima may be truncated
    * UPWARD by the writer — still a sound containment bound. */
  private[sources] def harvestFileBounds(path: String, fmt: String,
      fields: Seq[(Int, String, String)])
      : (Map[Int, Array[Byte]], Map[Int, Array[Byte]]) = {
    import IcebergLayoutWriter.{boundDouble, boundLong, boundString}
    def enc(t: String, v: Any): Option[Array[Byte]] = (t, v) match {
      case (_, null) => None
      case ("long", n: Number) => Some(boundLong(n.longValue))
      // NaN never enters a recorded bound (the Iceberg convention —
      // nan_value_counts exists for it): pruning compares bounds with
      // Double.compare where NaN sorts above everything, so a NaN bound
      // from an all-NaN parquet/ORC stat would wrongly skip files
      case ("double", n: Number) if java.lang.Double.isNaN(n.doubleValue) =>
        None
      case ("double", n: Number) => Some(boundDouble(n.doubleValue))
      case ("string", s: String) => Some(boundString(s))
      case _ => None
    }
    fmt match {
      case "parquet" =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(path),
          new org.apache.hadoop.conf.Configuration())
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          import scala.jdk.CollectionConverters._
          val lo = Map.newBuilder[Int, Array[Byte]]
          val hi = Map.newBuilder[Int, Array[Byte]]
          fields.foreach { case (id, name, t) =>
            val chunks = r.getFooter.getBlocks.asScala.flatMap(
              _.getColumns.asScala.filter { c =>
                val p = c.getPath.toArray
                p.length == 1 && p(0) == name
              })
            val stats = chunks.map(_.getStatistics)
              .filter(s => s != null && !s.isEmpty && s.hasNonNullValue)
            def statNaN(v: Any): Boolean = v match {
              case n: java.lang.Double => n.isNaN
              case n: java.lang.Float => n.isNaN
              case _ => false
            }
            // one NaN row-group stat suppresses the FIELD's bounds: the
            // `<` fold is unordered under NaN, so the reduced value could
            // be a non-NaN that undercovers the file (mirrors the shred
            // harvester's mistyped-value suppression discipline)
            val anyNaN = stats.exists(s =>
              statNaN(s.genericGetMin()) || statNaN(s.genericGetMax()))
            if (stats.nonEmpty && !anyNaN) {
              def jv(b: org.apache.parquet.column.statistics.Statistics[_],
                  min: Boolean): Any =
                (if (min) b.genericGetMin() else b.genericGetMax()) match {
                  case bin: org.apache.parquet.io.api.Binary =>
                    bin.toStringUsingUTF8
                  case other => other
                }
              def fold(min: Boolean): Any =
                stats.map(jv(_, min)).reduce { (a, b) =>
                  val keepA = (a, b) match {
                    case (x: Number, y: Number) =>
                      (x.doubleValue < y.doubleValue) == min
                    case (x: String, y: String) => (x < y) == min
                    case _ => true
                  }
                  if (keepA) a else b
                }
              enc(t, fold(min = true)).foreach(lo += id -> _)
              enc(t, fold(min = false)).foreach(hi += id -> _)
            }
          }
          (lo.result(), hi.result())
        } finally r.close()
      case "orc" =>
        val reader = org.apache.orc.OrcFile.createReader(
          new org.apache.hadoop.fs.Path(path),
          org.apache.orc.OrcFile.readerOptions(
            new org.apache.hadoop.conf.Configuration()))
        try {
          import scala.jdk.CollectionConverters._
          val td = reader.getSchema
          val names = td.getFieldNames.asScala.toSeq
          val kids = td.getChildren.asScala.toSeq
          val all = reader.getStatistics
          val lo = Map.newBuilder[Int, Array[Byte]]
          val hi = Map.newBuilder[Int, Array[Byte]]
          fields.foreach { case (id, name, t) =>
            names.indexOf(name) match {
              case -1 => ()
              case k =>
                val cid = kids(k).getId
                if (cid < all.length && all(cid).getNumberOfValues > 0)
                  all(cid) match {
                    case s: org.apache.orc.IntegerColumnStatistics =>
                      enc(t, Long.box(s.getMinimum)).foreach(lo += id -> _)
                      enc(t, Long.box(s.getMaximum)).foreach(hi += id -> _)
                    case s: org.apache.orc.DoubleColumnStatistics =>
                      enc(t, Double.box(s.getMinimum)).foreach(lo += id -> _)
                      enc(t, Double.box(s.getMaximum)).foreach(hi += id -> _)
                    case s: org.apache.orc.StringColumnStatistics =>
                      enc(t, s.getMinimum).foreach(lo += id -> _)
                      enc(t, s.getMaximum).foreach(hi += id -> _)
                    case _ => ()
                  }
            }
          }
          (lo.result(), hi.result())
        } finally reader.close()
      case _ => (Map.empty, Map.empty)
    }
  }

  /** Attach harvested bounds to freshly-rewritten data entries, fanned
    * over a small pool (one KB-grain tail read per file — max(read),
    * not sum, when a rewrite emits hundreds of parts). */
  private def withHarvestedBounds(
      entries: Seq[IcebergLayoutWriter.ManifestEntrySpec], fmt: String,
      fields: Seq[(Int, String, String)])
      : Seq[IcebergLayoutWriter.ManifestEntrySpec] = {
    if (fields.isEmpty || fmt == "avro" || entries.isEmpty) return entries
    if (entries.size == 1) {
      val (lo, hi) = harvestFileBounds(entries.head.filePath, fmt, fields)
      return Seq(entries.head.copy(lower = lo, upper = hi))
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(entries.size, 8))
    try {
      val futs = entries.map { e =>
        pool.submit(new java.util.concurrent.Callable[
            (Map[Int, Array[Byte]], Map[Int, Array[Byte]])] {
          override def call() = harvestFileBounds(e.filePath, fmt, fields)
        })
      }
      entries.zip(futs).map { case (e, f) =>
        val (lo, hi) = f.get()
        e.copy(lower = lo, upper = hi)
      }
    } finally pool.shutdown()
  }

  /** Greedy overshoot grouping — the EXECUTABLE form of the reference's
    * bin-packer ([[graft.functions.Pure.packStats]] simulates exactly
    * this loop; reference `table_metrics.py:178-197`): ascending-size
    * files fold into a group until its size EXCEEDS `maxGroupBytes`,
    * then the group closes BEFORE the next append (overshoot semantics
    * — a group may exceed the cap by one file, never undershoot-split).
    * Shared here so the simulation (metrics A10) and the executed
    * compaction can never disagree about the group count. */
  private[sources] def packGroups(sortedBySize: Seq[(String, Long)],
      maxGroupBytes: Long): Seq[Seq[(String, Long)]] = {
    val groups = Seq.newBuilder[Seq[(String, Long)]]
    var cur = Seq.newBuilder[(String, Long)]
    var curSize = 0L
    var nonEmpty = false
    sortedBySize.foreach { case (p, s) =>
      if (curSize > maxGroupBytes) {
        groups += cur.result(); cur = Seq.newBuilder
        curSize = 0L; nonEmpty = false
      }
      cur += ((p, s)); curSize += s; nonEmpty = true
    }
    if (nonEmpty) groups += cur.result()
    groups.result()
  }

  /** SELECTIVE small-file compaction — the executed form of the
    * reference's bin-pack diagnosis (the 9-metric report simulates
    * exactly this fold; this commits it): data files SMALLER than
    * `smallFileBytes` group under the overshoot packer ([[packGroups]] —
    * same semantics as the simulation's `Pure.packStats`, golden-pinned
    * 900→9) and each multi-file group rewrites as ONE file; files at or
    * above the threshold are CARRIED VERBATIM — zero data movement for
    * them, which is the whole point against [[rewriteDataFiles]]' full
    * rewrite. One group-replace snapshot commits the swap (only the
    * manifests holding a replaced file are rewritten), so at 100 TB the
    * bill is O(small files + their manifests), not O(table).
    * Tombstoned tables are refused by the group-replace commit (a
    * carried tombstone could reference a rewritten file); fold
    * tombstones first with [[rewriteDataFiles]] /
    * [[rewritePositionDeletes]]. Consolidated files record no bounds
    * (survivors of many files fold into one) — a sorted full rewrite
    * restores skipping, same caveat as the COW delete's note. Returns
    * (snapshotId after, filesCompacted, groupsWritten) — a no-op (fewer
    * than 2 small files, or no multi-file group) returns the current
    * snapshot with zero counts and commits nothing. */
  def rewriteSmallFiles(spark: SparkSession, tableDir: String,
      maxGroupBytes: Long = graft.model.EngineConfig.default.maxGroupBytes,
      smallFileBytes: Long =
        graft.model.EngineConfig.default.maxGroupBytes / 2)
      : (Long, Int, Int) = commitLock(tableDir).synchronized {
    val all = snapshots(spark, tableDir)
    require(all.nonEmpty, s"no snapshots under $tableDir")
    val curId = currentSnapshotId(spark, tableDir).getOrElse(all.last.id)
    // candidate listing is DISTRIBUTED; only small files' (path, size,
    // format, partition) land on the driver — the operation's own size
    val smallRows = IcebergManifestSource
      .statsFromTableDir(spark, tableDir, "t", Nil)
      .filter(col("content") === 0 && col("sizeBytes") < smallFileBytes)
      .select("file_path", "sizeBytes", "file_format", "partitionKey",
        "sequence_number", "first_row_id")
      .collect()
    val small = smallRows.map(r => (r.getString(0), r.getLong(1),
      r.getString(2), r.getString(3))).toSeq
    // v3 row lineage across the pack (parquet groups only): per-file
    // sequence numbers and first_row_ids, driver-known, group-sized
    val seqOf: Map[String, Long] = smallRows
      .map(r => normPath(r.getString(0)) -> r.getLong(4)).toMap
    val friOf: Map[String, Long] = smallRows
      .flatMap(r => Option(r.getAs[java.lang.Long](5))
        .map(v => normPath(r.getString(0)) -> v.longValue)).toMap
    // groups never mix physical formats (one read per group) and never
    // span PARTITIONS — a consolidated file keeps its group's partition
    // values, so partition pruning, SPJ, and partition-predicate
    // replaces (dynamic overwrite) keep seeing compacted files. The
    // consolidated output honors write.format.default (compaction
    // doubles as normalization toward the table's DECLARED format, not
    // unconditionally toward parquet).
    val groups = small.groupBy(f => (f._3, f._4)).toSeq.sortBy(_._1)
      .flatMap { case ((fmt, pk), files) =>
        packGroups(files.sortBy(_._2).map(f => (f._1, f._2)), maxGroupBytes)
          .filter(_.length >= 2).map(g => (fmt, pk, g))
      }
    if (groups.isEmpty) return (curId, 0, 0)
    val dataDir = new java.io.File(tableDir, "data"); dataDir.mkdirs()
    val outFmt = tableWriteFormat(spark, tableDir)
    val outExt = graft.sources.v2.GraftFormatWriters.extensionOf(outFmt)
    // a lineage-assigned parquet→parquet pack MATERIALIZES row lineage
    // into the group file (spec v3: compaction preserves row ids) —
    // same rule as rewrite_data_files; other format pairs reassign
    val packLineage = outFmt == "parquet" && nextRowId(spark, tableDir) > 0
    val added = groups.zipWithIndex.map { case ((fmt, pk, g), i) =>
      val paths = g.map(_._1)
      val df = fmt match {
        case "ORC" => spark.read.orc(paths: _*)
        case "AVRO" =>
          AvroDataRead.readWithPos(spark, paths).drop("file_path", "pos")
        case _ if !packLineage => spark.read.parquet(paths: _*)
        case _ =>
          // a group file that already materializes lineage (a prior
          // COW/rewrite output) binds its columns via mergeSchema;
          // groups of plain files — the common case — skip the
          // schema-merge pass entirely (driver footer sniff: these are
          // SMALL files by definition)
          val conf = spark.sparkContext.hadoopConfiguration
          val anyMaterialized = paths.exists { p =>
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(new org.apache.hadoop.fs.Path(p), conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try r.getFooter.getFileMetaData.getSchema
              .containsField("_row_id")
            finally r.close()
          }
          val base =
            if (anyMaterialized) spark.read.option("mergeSchema", "true")
              .parquet(paths: _*)
            else spark.read.parquet(paths: _*)
          val own = regexp_replace(col("_metadata.file_path"),
            "^file:/+", "/")
          val matRid =
            if (base.columns.contains("_row_id")) col("_row_id")
            else lit(null).cast("long")
          val matSeq =
            if (base.columns.contains("_last_updated_sequence_number"))
              col("_last_updated_sequence_number")
            else lit(null).cast("long")
          val fri =
            if (friOf.isEmpty) lit(null).cast("long")
            else element_at(typedLit(friOf), own)
          base
            .withColumn("_row_id",
              coalesce(matRid, fri + col("_metadata.row_index")))
            .withColumn("_last_updated_sequence_number",
              coalesce(matSeq, element_at(typedLit(seqOf), own)))
      }
      val f = freshFile(dataDir, s"binpack-$curId-g$i.$outExt")
      val n = IcebergLayoutWriter.writeSingleData(df, f, outFmt)
      IcebergLayoutWriter.ManifestEntrySpec(status = 1, content = 0,
        filePath = f.getAbsolutePath, recordCount = n,
        sizeBytes = f.length(), partition = partitionPairsOf(pk),
        fileFormat = outFmt.toUpperCase)
    }
    val removed = groups.flatMap(_._3.map(_._1))
    val bounded = withHarvestedBounds(added, outFmt,
      declaredStatFieldsFor(spark, tableDir))
    val snap = commitReplaceFiles(spark, tableDir, removed, bounded)
    (snap, removed.size, groups.size)
  }

  /** `rewrite_position_deletes` — Iceberg's delete-file compaction: the
    * snapshot's position-tombstone files consolidate into ONE, and
    * tombstones that no longer target a live data file (dangling after
    * a data rewrite) are dropped. Table state is UNCHANGED: each kept
    * (file_path, pos) pair targeted a data file with data_seq <= its
    * old tombstone's seq, so re-stamping at the new (higher) sequence
    * applies to exactly the same rows — paths are never reused in this
    * layout, so a higher seq cannot capture a newer file under an old
    * path. Why it matters at 100 TB: a steady DELETE stream accretes
    * one tombstone file per commit, and every MOR read pays a per-file
    * open for each — this fold is how the read bill stays O(1) delete
    * files instead of O(delete commits). Returns (newSnapshotId,
    * posFilesBefore, posFilesAfter, pairsKept). */
  def rewritePositionDeletes(spark: SparkSession, tableDir: String)
      : (Long, Int, Int, Long) = commitLock(tableDir).synchronized {
    import spark.implicits._
    val base = metaBase(spark, tableDir) // replace-shaped: conflict = loud
    val all = snapshots(spark, tableDir)
    require(all.nonEmpty, s"no snapshots under $tableDir")
    val curId = currentSnapshotId(spark, tableDir).getOrElse(all.last.id)
    // the DELETE side (the thing being rewritten — commit-count shaped)
    // walks driver-side; the data manifests ride verbatim into the commit
    // and are read only for the tombstone targets' liveness below
    val delSide = deleteCarriedEntries(spark, tableDir, curId)
    val posFiles = delSide.filter(_.content == 1)
    if (posFiles.isEmpty) return (curId, 0, 0, 0L)
    val newId = reuseNewId(spark, tableDir, all, curId)
    // tombstone rows with their owning file's sequence number attached;
    // deletion-vector entries (fileFormat=PUFFIN) decode driver-side and
    // fold into the SAME consolidated parquet output — a rewrite is how
    // a DV-carrying table converts back to the v2 tombstone shape
    val (dvPos, fileTombEntries) = posFiles.partition(_.fileFormat == "PUFFIN")
    val dvTombRows = dvPos.flatMap { e =>
      DeletionVectors.read(new java.io.File(e.filePath)).flatMap {
        case (target, poss) =>
          poss.map(p => (normPath(target), p, e.sequenceNumber.longValue)) }
    }
    // tombstone FILES may be any of the three spec formats
    // (write.delete.format.default); the fold always consolidates to
    // the table's CURRENT delete format below
    def fileTombArm(fmt: String,
        read: Seq[String] => org.apache.spark.sql.DataFrame)
        : Option[org.apache.spark.sql.DataFrame] = {
      val fs = fileTombEntries.filter(_.fileFormat == fmt)
      if (fs.isEmpty) None
      else {
        val seqDf = fs.map(e => (normPath(e.filePath),
          e.sequenceNumber.longValue)).toDF("__fp", "seq")
        Some(read(fs.map(_.filePath).toIndexedSeq)
          .withColumn("__own", regexp_replace(
            col("_metadata.file_path"), "^file:/+", "/"))
          .join(broadcast(seqDf), col("__own") === col("__fp"))
          .select(regexp_replace(col("file_path"), "^file:/+", "/")
            .as("file_path"), col("pos"), col("seq")))
      }
    }
    // fixed tombstone schema: no footer-inference job
    val avroTombRows = fileTombEntries.filter(_.fileFormat == "AVRO")
      .flatMap(e => AvroDataRead.readPosDeletes(e.filePath)
        .map { case (t, p) => (normPath(t), p, e.sequenceNumber.longValue) })
    // data-file liveness (the dangling-pair filter) reads the live data
    // sequence of exactly the tombstone TARGETS ([[liveAmong]]) — memory
    // bounded by the (small) target set. DRIVER fold when every
    // ingredient is already driver-side (DV and avro tombstones decode on
    // the driver): the liveness join, distinct and sort are a map lookup
    // + in-memory sort over reject-sized pairs, skipping the multi-stage Spark job the DataFrame shape
    // cost per fold (r16: q253's fold was ~0.9 s of job overhead for
    // ~17k pairs). Parquet/ORC tombstone FILES keep the distributed
    // scan arm — their rows were never driver-materialized.
    val hasFileScanTombs = fileTombEntries.exists(e =>
      e.fileFormat == "PARQUET" || e.fileFormat == "ORC")
    val keptDriver: Option[Seq[(String, Long)]] =
      if (hasFileScanTombs) None
      else {
        if (dvTombRows.isEmpty && avroTombRows.isEmpty)
          return (curId, 0, 0, 0L) // no tombstone rows at all
        val tombRows = dvTombRows ++ avroTombRows
        val liveSeqMap =
          liveAmong(spark, tableDir, curId, tombRows.map(_._1).toSet)
        Some(tombRows
          .filter(t => liveSeqMap.get(t._1).exists(_ <= t._3))
          .map(t => (t._1, t._2)).distinct.sorted)
      }
    lazy val keptDf = {
      val parqTomb = fileTombArm("PARQUET", ps => spark.read
        .schema("file_path STRING, pos BIGINT").parquet(ps: _*))
      val orcTomb = fileTombArm("ORC", ps => spark.read
        .schema("file_path STRING, pos BIGINT").orc(ps: _*))
      val avroTomb =
        if (avroTombRows.isEmpty) None
        else Some(avroTombRows.toDF("file_path", "pos", "seq"))
      val dvTomb =
        if (dvTombRows.isEmpty) None
        else Some(dvTombRows.toDF("file_path", "pos", "seq"))
      Seq(parqTomb, orcTomb, avroTomb, dvTomb).flatten
        .reduceOption(_ unionByName _).map { tomb =>
          // the targets are the tombstone side's distinct paths (the
          // small side); their liveness is the same driver lookup
          val targets = tomb.select("file_path").distinct().collect()
            .map(_.getString(0)).toSet
          val liveSeq = broadcast(liveAmong(spark, tableDir, curId, targets)
            .toSeq.toDF("file_path", "data_seq"))
          tomb.join(liveSeq, Seq("file_path"))
            .filter(col("data_seq") <= col("seq")) // the pair applies
            .select(col("file_path"), col("pos")).distinct()
            .sort(col("file_path"), col("pos"))
        }
    }
    if (keptDriver.isEmpty && keptDf.isEmpty) return (curId, 0, 0, 0L)
    // sorted distinct (file_path, pos) pairs, streamed: driver fold →
    // plain iterator; DataFrame fold → toLocalIterator over the sorted
    // frame (driver memory bounded by one group either way)
    def pairIter(): Iterator[(String, Long)] = keptDriver match {
      case Some(pairs) => pairs.iterator
      case None =>
        val it = keptDf.get.toLocalIterator()
        new Iterator[(String, Long)] {
          override def hasNext: Boolean = it.hasNext
          override def next(): (String, Long) = {
            val r = it.next(); (r.getString(0), r.getLong(1))
          }
        }
    }
    val dataDir = new java.io.File(tableDir, "data"); dataDir.mkdirs()
    // the consolidated output honors the table's DECLARED version: a
    // format-version-3 table folds into ONE puffin of deletion vectors
    // (the v3 spec prohibits new position-delete FILES); v2/unset
    // tables keep the parquet tombstone shape
    val newEntry =
      if (declaredFormatVersion(spark, tableDir).contains(3)) {
        val it = pairIter()
        if (!it.hasNext) Nil
        else {
          val f = freshFile(dataDir, s"posdel-rw-$newId.puffin")
          var pending: (String, Long) = it.next()
          val grouped = new Iterator[(String, Seq[Long])] {
            override def hasNext: Boolean = pending != null
            override def next(): (String, Seq[Long]) = {
              val target = pending._1
              val poss = scala.collection.mutable.ArrayBuffer(pending._2)
              pending = null
              while (it.hasNext && pending == null) {
                val r = it.next()
                if (r._1 == target) poss += r._2
                else pending = r
              }
              (target, poss.toSeq)
            }
          }
          val nPairs = DeletionVectors.writeStreamed(f, newId, grouped)
          Seq(IcebergLayoutWriter.ManifestEntrySpec(status = 1,
            content = 1, filePath = f.getAbsolutePath,
            recordCount = nPairs, sizeBytes = f.length(),
            sequenceNumber = newId, fileFormat = "PUFFIN"))
        }
      } else keptDriver match {
        case Some(pairs) =>
          if (pairs.isEmpty) Nil // every tombstone was dangling
          else {
            val pd = freshFile(dataDir, s"posdel-rw-$newId.parquet")
            val n = IcebergLayoutWriter.writePosDeleteParquet(pd, pairs,
              spark.sparkContext.hadoopConfiguration)
            Seq(IcebergLayoutWriter.ManifestEntrySpec(status = 1,
              content = 1, filePath = pd.getAbsolutePath, recordCount = n,
              sizeBytes = pd.length(), sequenceNumber = newId))
          }
        case None =>
          val pd = freshFile(dataDir, s"posdel-rw-$newId.parquet")
          val n = IcebergLayoutWriter.writeSingleParquet(keptDf.get, pd)
          if (n == 0) { // every tombstone was dangling: none to carry
            org.apache.commons.io.FileUtils.deleteQuietly(pd)
            Nil
          }
          else Seq(IcebergLayoutWriter.ManifestEntrySpec(status = 1,
            content = 1, filePath = pd.getAbsolutePath, recordCount = n,
            sizeBytes = pd.length(), sequenceNumber = newId))
      }
    val nPairs = newEntry.headOption.map(_.recordCount).getOrElse(0L)
    // data manifests ride verbatim; the delete side re-files:
    // eq-tombstones carried, position files consolidated to one
    commitCarryReuse(spark, tableDir, newEntry,
      refiledCarry = delSide.filter(_.content == 2),
      dropManifests = deleteManifestPaths(spark, tableDir, curId),
      curId, base, newId, operation = "replace",
      retiredDeleteFiles = delSide.size.toLong)
    (newId, posFiles.size, if (nPairs == 0) 0 else 1, nPairs)
  }

  /** `convert_equality_deletes` — eq→pos tombstone maintenance: resolve
    * every live EQUALITY tombstone against the current data files into
    * one consolidated POSITION-delete file, and drop the eq entries.
    * The streaming-upsert dialect (write.delete.granularity=equality)
    * accretes an eq-delete file per MERGE, and every MOR read replays
    * each one as a key anti-join; until now the only way to clear them
    * was `rewriteDataFiles` — a FULL data rewrite. This is the
    * Iceberg-ecosystem compactor's small-side job instead: data files
    * are never rewritten (their manifests are listed verbatim), only the
    * tombstone representation changes.
    *
    * Equivalence: a key row of an eq file at sequence S kills rows in
    * data files with data_seq < S (strict — MorRead.applyEqDeletes'
    * join). The converter materializes exactly those (file, pos) pairs
    * from the pos-applied, eq-UNAPPLIED lineage (a row an existing pos
    * tombstone already kills needs no new pair) and stamps them at the
    * new snapshot's sequence, which every current data file is <= of —
    * so the suppressed row set is bit-identical before and after. Data
    * files appended LATER get higher sequences, which neither the old
    * eq tombstones (data_seq < S fails) nor the new pos pairs (path
    * never matches a new file) touch. ORC data files read through
    * [[OrcPosRead]] for real ordinals; AVRO/parquet carry them natively.
    * Keys resolve from the manifests' spec `equality_ids` — the same
    * metadata contract the reader uses. Returns (newSnapshotId,
    * eqFilesBefore, posPairsWritten); a table with no live eq
    * tombstones returns the current snapshot and commits nothing.
    *
    * Output grain: ONE consolidated position-delete file — the same
    * contract as [[rewritePositionDeletes]] (the point of both is
    * collapsing the per-commit tombstone accretion back to O(1) read
    * opens). Pair volume is bounded by the rows the eq tombstones
    * actually suppress; a table whose suppressed set outgrows a single
    * file wants the full [[rewriteDataFiles]] instead — the suppressed
    * rows are then a material fraction of the data and the rewrite
    * amortizes. */
  def convertEqualityDeletes(spark: SparkSession, tableDir: String,
      renames: Map[String, Seq[String]] = Map.empty,
      dataSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : (Long, Int, Long) = commitLock(tableDir).synchronized {
    import spark.implicits._
    val base = metaBase(spark, tableDir) // replace-shaped: conflict = loud
    val all = snapshots(spark, tableDir)
    require(all.nonEmpty, s"no snapshots under $tableDir")
    val curId = currentSnapshotId(spark, tableDir).getOrElse(all.last.id)
    // the delete side is commit-count-sized and walks driver-side; the
    // data manifests ride verbatim into the commit
    val delSide = deleteCarriedEntries(spark, tableDir, curId)
    val eqFiles = delSide.filter(_.content == 2)
    if (eqFiles.isEmpty) return (curId, 0, 0L)
    val eqKeys = MorRead.metadataEqKeys(spark, tableDir)
    require(eqKeys.nonEmpty,
      s"convertEqualityDeletes($tableDir): live equality-delete files " +
        "carry no (or disagreeing) equality_ids; converting without the " +
        "keys would drop the tombstones unapplied. Rewrite the table " +
        "instead (rewriteDataFiles with explicit eqKeys).")
    val newId = reuseNewId(spark, tableDir, all, curId)
    // every ORC data file needs real ordinals: an eq key may match rows
    // anywhere, and a NULL-pos row cannot become a (file, pos) pair —
    // one driver pass over the data manifests answers both questions
    val (hasData, orcPaths) = liveDataEntries(spark, tableDir, curId)
      .foldLeft((false, Set.empty[String])) { case ((_, orc), e) =>
        (true, if (e.fileFormat == "ORC") orc + normPath(e.filePath) else orc)
      }
    val dataDir = new java.io.File(tableDir, "data"); dataDir.mkdirs()
    val pd = freshFile(dataDir, s"posdel-conv-$newId.parquet")
    // a data-less table converts to ZERO pairs (every eq tombstone is
    // dangling) and the commit below still drops the eq entries
    val n = if (!hasData) 0L else {
      val lineage = MorRead.readTableLineage(spark, tableDir, Nil, renames,
        dataSchema, orcPosPaths = orcPaths, applyEq = false)
      // eq tombstone rows with their owning file's sequence attached —
      // eq files may be any spec format (write.delete.format.default),
      // so each dialect reads through its own scan and the arms union
      val eqSeqDf = eqFiles.map(e => (normPath(e.filePath),
        e.sequenceNumber.longValue)).toDF("__fp", "ed_seq")
      def seqJoin(df: org.apache.spark.sql.DataFrame,
          pathCol: org.apache.spark.sql.Column)
          : org.apache.spark.sql.DataFrame =
        df.withColumn("__own", regexp_replace(pathCol, "^file:/+", "/"))
          .join(broadcast(eqSeqDf), col("__own") === col("__fp"))
          .select(
            eqKeys.map(k => col(k).as(s"ed_$k")) :+ col("ed_seq"): _*)
      val parqEq = eqFiles.filter(_.fileFormat == "PARQUET")
      val orcEq = eqFiles.filter(_.fileFormat == "ORC")
      val avroEq = eqFiles.filterNot(e =>
        e.fileFormat == "PARQUET" || e.fileFormat == "ORC")
      val eqRows = Seq(
        if (parqEq.isEmpty) None
        else Some(seqJoin(
          spark.read.parquet(parqEq.map(_.filePath).toIndexedSeq: _*),
          col("_metadata.file_path"))),
        if (orcEq.isEmpty) None
        else Some(seqJoin(
          spark.read.orc(orcEq.map(_.filePath).toIndexedSeq: _*),
          col("_metadata.file_path"))),
        if (avroEq.isEmpty) None
        else Some(seqJoin(
          AvroDataRead.readWithPos(spark,
            avroEq.map(e => normPath(e.filePath)).toIndexedSeq).drop("pos"),
          col("file_path")))).flatten.reduce(_ unionByName _)
      // the EXACT suppression predicate the reader applies: null-safe
      // key equality + strict data_seq < ed_seq; the join is data⋈keys
      // with no forced broadcast — the eq side's size is known to the
      // planner
      val cond = eqKeys.map(k => col(k) <=> col(s"ed_$k")).reduce(_ && _) &&
        col("data_seq") < col("ed_seq")
      val pairs = lineage.join(eqRows, cond, "inner")
        .select(col("file_path"), col("pos")).distinct()
        .sort(col("file_path"), col("pos"))
      IcebergLayoutWriter.writeSingleParquet(pairs, pd)
    }
    val newEntry =
      if (n == 0) { // every eq tombstone was dangling: none to convert
        org.apache.commons.io.FileUtils.deleteQuietly(pd); Nil
      } else Seq(IcebergLayoutWriter.ManifestEntrySpec(status = 1,
        content = 1, filePath = pd.getAbsolutePath, recordCount = n,
        sizeBytes = pd.length(), sequenceNumber = newId))
    // data manifests ride verbatim; the delete side re-files with the eq
    // entries gone and existing pos/DV entries carried
    commitCarryReuse(spark, tableDir, newEntry,
      refiledCarry = delSide.filter(_.content == 1),
      dropManifests = deleteManifestPaths(spark, tableDir, curId),
      curId, base, newId, operation = "replace",
      retiredDeleteFiles = delSide.size.toLong)
    (newId, eqFiles.size, n)
  }

  /** Cherry-pick an append snapshot onto the CURRENT head — Iceberg's
    * `cherrypick_snapshot`, the publish path for a WAP stage whose base
    * has since advanced ([[fastForward]] only publishes when the head
    * never moved). The picked snapshot's own additions — the entries of
    * its OWN manifests (list rows carrying its sequence number) stamped
    * with its sequence number, the layout's commit discipline —
    * re-commit on top of today's head as a NEW snapshot; the staged
    * snapshot itself stays in history for audit. Only pure appends
    * qualify (a picked delete file could target rows the head already
    * rewrote), and a path collision with the head refuses — both are
    * Iceberg's own restrictions. The publish is append-shaped: the head's
    * manifests ride verbatim. Returns the new head snapshot id. */
  def cherryPick(spark: SparkSession, tableDir: String,
      snapshotId: Long): Long = commitLock(tableDir).synchronized {
      withCommitRetry(tableDir) {
    val base = metaBase(spark, tableDir)
    val all = snapshots(spark, tableDir)
    require(all.exists(_.id == snapshotId),
      s"cherryPick($tableDir): snapshot $snapshotId not in history")
    val curId = currentSnapshotId(spark, tableDir).getOrElse(all.last.id)
    val conf = spark.sparkContext.hadoopConfiguration
    val list = IcebergManifestSource
      .resolveManifestList(spark, tableDir, Some(snapshotId))
      .getOrElse(sys.error(
        s"cherryPick($tableDir): snapshot $snapshotId has no list"))
    val picked = IcebergManifestSource.manifestList(conf, list)
      .filter(_.sequenceNumber == snapshotId) // the commit's OWN manifests
      .flatMap { m =>
        IcebergManifestSource.readManifestStats(m.path, conf, m.sequenceNumber)
          .filter(_.sequenceNumber == snapshotId)
          .map(specFromStats(_, m.specId)).toSeq }
    require(picked.nonEmpty,
      s"cherryPick($tableDir): snapshot $snapshotId added no files")
    require(picked.forall(_.content == 0),
      s"cherryPick($tableDir): snapshot $snapshotId carries delete " +
        "files; only append snapshots can be cherry-picked")
    val clash = liveAmong(spark, tableDir, curId,
      picked.map(e => normPath(e.filePath)).toSet).keySet
    require(clash.isEmpty,
      s"cherryPick($tableDir): head already contains ${clash.take(3)}")
    val newId = reuseNewId(spark, tableDir, all, curId)
    commitCarryReuse(spark, tableDir,
      picked.map(_.copy(sequenceNumber = newId)), Nil, Set.empty,
      curId, base, newId, operation = "append")
  } }

  /** Stage an append WITHOUT moving the table head — the write half of
    * write-audit-publish (Iceberg's WAP / branch commits): the new
    * snapshot lands in history and `branch` points at it, but
    * `current-snapshot-id` (and `main`) stay put, so readers of the
    * table see nothing until [[fastForward]] publishes. A fast append
    * onto the branch head: its manifests are listed verbatim, so WAP
    * staging on a 100 TB table costs O(added). Returns the staged
    * snapshot id. */
  def stageAppend(spark: SparkSession, tableDir: String,
      added: Seq[IcebergLayoutWriter.ManifestEntrySpec],
      branch: String): Long =
      commitLock(tableDir).synchronized { withCommitRetry(tableDir) {
    val base = metaBase(spark, tableDir)
    val all = snapshots(spark, tableDir)
    require(all.nonEmpty, s"no snapshots under $tableDir")
    val curId = currentSnapshotId(spark, tableDir).getOrElse(all.last.id)
    // staged commits STACK: when the branch already exists, the append
    // carries from the BRANCH head (Iceberg's branch-commit semantics —
    // a second staged write must not silently drop the first), else
    // from the table head it forks from
    val stageBase = refs(spark, tableDir)
      .collectFirst { case (`branch`, id, "branch") => id }
      .getOrElse(curId)
    val newId = reuseNewId(spark, tableDir, all, stageBase)
    val refsAfter = refs(spark, tableDir).filterNot(_._1 == branch) :+
      ((branch, newId, "branch"))
    commitCarryReuse(spark, tableDir,
      added.map(_.copy(sequenceNumber = newId)), Nil, Set.empty,
      stageBase, base, newId, operation = "append",
      currentAfter = curId, refsAfterOpt = Some(refsAfter.sortBy(_._1)))
  } }

  /** WAP staging by AUDIT ID (Iceberg's `spark.wap.id` flavor — the
    * branchless twin of [[stageAppend]]): the snapshot lands in history
    * with `wap.id` recorded in its summary and NO ref moves — the head
    * stays put until [[publishChanges]] cherry-picks it. A fast append
    * onto the head, like [[stageAppend]]. One snapshot per wap id
    * (Iceberg's publish-by-id resolution requires it). */
  def stageAppendWap(spark: SparkSession, tableDir: String,
      added: Seq[IcebergLayoutWriter.ManifestEntrySpec],
      wapId: String): Long =
      commitLock(tableDir).synchronized { withCommitRetry(tableDir) {
    val base = metaBase(spark, tableDir)
    val all = snapshots(spark, tableDir)
    require(all.nonEmpty, s"no snapshots under $tableDir (stage the " +
      "first commit normally; there is no head to isolate)")
    val dup = snapshotSummaries(spark, tableDir)
      .collectFirst { case (id, _, kv) if kv.get("wap.id")
        .contains(wapId) => id }
    require(dup.isEmpty,
      s"stageAppendWap($tableDir): wap.id '$wapId' already staged as " +
        s"snapshot ${dup.get}; publish or expire it first")
    val curId = currentSnapshotId(spark, tableDir).getOrElse(all.last.id)
    val newId = reuseNewId(spark, tableDir, all, curId)
    commitCarryReuse(spark, tableDir,
      added.map(_.copy(sequenceNumber = newId)), Nil, Set.empty,
      curId, base, newId, operation = "append",
      currentAfter = curId, refsAfterOpt = Some(refs(spark, tableDir)),
      extraSummary = Seq("wap.id" -> wapId))
  } }

  /** Iceberg's `publish_changes`: resolve the staged snapshot whose
    * summary carries `wap.id = <id>` and cherry-pick its additions onto
    * the current head. Returns (stagedSnapshotId, newHeadId). */
  def publishChanges(spark: SparkSession, tableDir: String,
      wapId: String): (Long, Long) = {
    val staged = snapshotSummaries(spark, tableDir)
      .collectFirst { case (id, _, kv) if kv.get("wap.id")
        .contains(wapId) => id }
      .getOrElse(sys.error(
        s"publishChanges($tableDir): no staged snapshot carries " +
          s"wap.id '$wapId'"))
    (staged, cherryPick(spark, tableDir, staged))
  }

  /** Create or move a named ref (Iceberg's create_tag / create_branch /
    * replace_tag): point `name` at a snapshot in history — the current
    * head when none is given. Metadata-only; `main` is refused (it is
    * the published head, moved by commits / rollback / fastForward, not
    * by ref DDL). Returns the snapshot the ref points at.
    *
    * @param maxRefAgeMs spec `max-ref-age-ms` — how long the REF itself
    *   lives (branches and tags)
    * @param minSnapshotsToKeep / @param maxSnapshotAgeMs branch-only
    *   snapshot-retention knobs (spec `min-snapshots-to-keep`,
    *   `max-snapshot-age-ms`); refused on tags, as in Iceberg's DDL. */
  def setRef(spark: SparkSession, tableDir: String, name: String,
      kind: String, snapshotId: Option[Long] = None,
      maxRefAgeMs: Option[Long] = None,
      minSnapshotsToKeep: Option[Int] = None,
      maxSnapshotAgeMs: Option[Long] = None): Long =
      commitLock(tableDir).synchronized { withCommitRetry(tableDir) {
    require(kind == "tag" || kind == "branch",
      s"setRef: kind must be 'tag' or 'branch', got '$kind'")
    require(name != "main",
      "refusing to redefine 'main' (commits and rollback own it)")
    require(kind == "branch" ||
      (minSnapshotsToKeep.isEmpty && maxSnapshotAgeMs.isEmpty),
      "setRef: snapshot-retention fields apply to BRANCHES only")
    val base = metaBase(spark, tableDir)
    val snaps = snapshots(spark, tableDir)
    require(snaps.nonEmpty, s"setRef($tableDir): table has no snapshots")
    val cur = currentSnapshotId(spark, tableDir).getOrElse(snaps.last.id)
    val target = snapshotId.getOrElse(cur)
    require(snaps.exists(_.id == target),
      s"setRef($tableDir): no snapshot $target in history " +
        s"(have: ${snaps.map(_.id).mkString(", ")})")
    val rs = refs(spark, tableDir)
    val retention: Seq[(String, Long)] =
      maxRefAgeMs.map("max-ref-age-ms" -> _).toSeq ++
        minSnapshotsToKeep.map(v => "min-snapshots-to-keep" -> v.toLong) ++
        maxSnapshotAgeMs.map("max-snapshot-age-ms" -> _)
    writeMetadataVersion(spark, tableDir, snaps, cur,
      (rs.filterNot(_._1 == name) :+ ((name, target, kind))).sortBy(_._1),
      base,
      refRetention =
        if (retention.isEmpty) Map.empty else Map(name -> retention))
    target
  } }

  /** The KIND ("branch" | "tag") of a named ref, None when absent — the
    * existence probe the ref DDL commands branch on. */
  def refKind(spark: SparkSession, tableDir: String,
      name: String): Option[String] =
    refs(spark, tableDir).collectFirst { case (n, _, k) if n == name => k }

  /** Per-ref retention fields from the metadata document (spec "Refs"):
    * name → (max-ref-age-ms, min-snapshots-to-keep, max-snapshot-age-ms).
    * Refs without the fields map to (None, None, None) — the defaults
    * expire applies are Iceberg's (refs live forever, branches keep
    * their head only). */
  def refRetention(spark: SparkSession, tableDir: String)
      : Map[String, (Option[Long], Option[Int], Option[Long])] = {
    val node = currentMetadata(spark, tableDir).get("refs")
    if (node == null || !node.isObject) return Map.empty
    val out = Map.newBuilder[String, (Option[Long], Option[Int], Option[Long])]
    node.fields().forEachRemaining { e =>
      def l(k: String): Option[Long] = Option(e.getValue.get(k))
        .filter(_.canConvertToLong).map(_.asLong())
      out += e.getKey -> ((l("max-ref-age-ms"),
        l("min-snapshots-to-keep").map(_.toInt), l("max-snapshot-age-ms")))
    }
    out.result()
  }

  /** Drop a named ref (the DROP BRANCH/TAG of a failed audit): the
    * snapshot it pointed at stays in history — expireSnapshots reclaims
    * it later — only the NAME goes. `main` is refused, like Iceberg's
    * drop_branch; the current-snapshot-id pointer is independent of
    * refs and never moves here. */
  def dropRef(spark: SparkSession, tableDir: String, name: String): Unit =
      commitLock(tableDir).synchronized { withCommitRetry(tableDir) {
    require(name != "main", "refusing to drop 'main' (roll back instead)")
    val base = metaBase(spark, tableDir)
    val rs = refs(spark, tableDir)
    require(rs.exists(_._1 == name), s"no ref named '$name' in $tableDir")
    writeMetadataVersion(spark, tableDir, snapshots(spark, tableDir),
      currentSnapshotId(spark, tableDir)
        .getOrElse(snapshots(spark, tableDir).last.id),
      rs.filterNot(_._1 == name), base)
  } }

  /** Publish a staged branch: fast-forward `to` (default the table head
    * + `main`) onto `from`'s snapshot — metadata-only, nothing moves on
    * disk. The audit step between [[stageAppend]] and this call reads
    * the staged snapshot via its ref
    * ([[IcebergManifestSource.refSnapshotId]]) without ever exposing it
    * to table readers. Returns the published snapshot id. */
  def fastForward(spark: SparkSession, tableDir: String,
      from: String, to: String = "main"): Long =
      commitLock(tableDir).synchronized { withCommitRetry(tableDir) {
    val base = metaBase(spark, tableDir)
    val rs = refs(spark, tableDir)
    val target = rs.collectFirst { case (`from`, id, _) => id }
      .getOrElse(sys.error(s"no ref named '$from' in $tableDir"))
    val refsAfter = (rs.filterNot(_._1 == to) :+ ((to, target, "branch")))
      .sortBy(_._1)
    writeMetadataVersion(spark, tableDir, snapshots(spark, tableDir),
      target, refsAfter, base)
    target
  } }

  /** PARTITION SPEC EVOLUTION (spec "Partition Evolution"): append
    * `fields` — the COMPLETE field list of the evolved spec, as
    * (field-name, transform, source-id) — as a new spec with id
    * max+1 and make it the table default. Metadata-only: no file is
    * touched; existing manifests keep the spec ids their manifest-list
    * rows record, [[commitCarryReuse]] files future adds under the new
    * default, and [[commitFiltered]] re-files the survivors of a
    * rewritten manifest under that manifest's original spec — so readers
    * interpret every file's partition values with the spec it was
    * written under. Field-ids continue above the highest already
    * assigned (evolution never reuses one, spec rule). Returns the new
    * spec id. */
  def evolvePartitionSpec(spark: SparkSession, tableDir: String,
      fields: Seq[(String, String, Int)]): Int =
      commitLock(tableDir).synchronized { withCommitRetry(tableDir) {
    import com.fasterxml.jackson.databind.node.ArrayNode
    // an EMPTY field list is legal: dropping the last partition field
    // evolves to the unpartitioned spec (still a fresh spec id)
    var newId = -1
    commitMetadata(spark, tableDir, metaBase(spark, tableDir)) { root =>
      val arr = root.arrayNode()
      var maxSpec = -1
      var maxField = 999
      val orig = root.get("partition-specs")
      if (orig != null && orig.isArray) orig.forEach { n =>
        arr.add(n)
        maxSpec = math.max(maxSpec,
          Option(n.get("spec-id")).map(_.asInt()).getOrElse(0))
        val fs = n.get("fields")
        if (fs != null && fs.isArray) fs.forEach { f =>
          maxField = math.max(maxField,
            Option(f.get("field-id")).map(_.asInt()).getOrElse(999)) }
      }
      if (maxSpec < 0) {
        // no specs recorded yet: materialize spec 0 (the unpartitioned
        // original) so old manifests' implicit spec-id 0 stays resolvable
        val s0 = root.objectNode()
        s0.put("spec-id", 0)
        s0.set[ArrayNode]("fields", root.arrayNode())
        arr.add(s0)
        maxSpec = 0
      }
      newId = maxSpec + 1
      val entry = root.objectNode()
      entry.put("spec-id", newId)
      val fArr = root.arrayNode()
      fields.foreach { case (name, transform, srcId) =>
        maxField += 1
        val f = root.objectNode()
        f.put("name", name); f.put("transform", transform)
        f.put("source-id", srcId); f.put("field-id", maxField)
        fArr.add(f)
      }
      entry.set[ArrayNode]("fields", fArr)
      arr.add(entry)
      root.set[ArrayNode]("partition-specs", arr)
      root.put("default-spec-id", newId)
    }
    newId
  } }

  /** Compute and persist the PARTITION STATISTICS file for the current
    * snapshot (Iceberg spec "Partition statistics"): the per-partition
    * rollup every `$partitions` read and per-partition diagnosis
    * recomputes from a manifest scan, materialized ONCE as a KB-sized
    * parquet file under `metadata/` and registered in the metadata
    * document's `partition-statistics` array ({snapshot-id,
    * statistics-path, file-size-in-bytes} — entries for other snapshots
    * survive, a same-snapshot entry is replaced). At 100 TB the
    * 9-metric report over thousands of tables wants this file, not a
    * per-run manifest re-scan: [[MetadataTables.partitions]] serves
    * from it while it is FRESH (registered for the exact current
    * snapshot) and falls back to the manifest scan the moment a commit
    * advances the table. Returns (statsPath, snapshotId, nPartitions). */
  def computePartitionStats(spark: SparkSession,
      tableDir: String): (String, Long, Long) =
    computePartitionStatsMode(spark, tableDir, "auto") match {
      case (p, s, n, _) => (p, s, n)
    }

  /** @param mode "full" recomputes from the current snapshot's manifest
    *   scan; "auto" goes INCREMENTAL when a prior stats file exists for
    *   an ancestor snapshot: manifest REUSE means unchanged manifests
    *   are shared BY PATH across snapshots, so the stats delta is
    *   exactly the entries of the manifests in the two lists' symmetric
    *   difference — added manifests add, dropped manifests subtract,
    *   and the update costs O(changed manifests), not O(table). The
    *   spec pins incremental == full bit-for-bit. Returns
    *   (statsPath, snapshotId, nPartitions, armUsed). */
  def computePartitionStatsMode(spark: SparkSession,
      tableDir: String, mode: String): (String, Long, Long, String) =
      commitLock(tableDir).synchronized { withCommitRetry(tableDir) {
    require(mode == "auto" || mode == "full",
      s"computePartitionStats: mode must be auto|full, got '$mode'")
    val all = snapshots(spark, tableDir)
    require(all.nonEmpty,
      s"computePartitionStats($tableDir): table has no snapshots")
    val cur = currentSnapshotId(spark, tableDir).getOrElse(all.last.id)
    val statsSchema = "partition STRING, file_count BIGINT, " +
      "record_count BIGINT, total_size BIGINT, " +
      "position_delete_file_count BIGINT, " +
      "equality_delete_file_count BIGINT, last_updated_snapshot_id BIGINT"
    // prior stats usable for the incremental arm: registered for an
    // ANCESTOR snapshot that is still in history, file still on disk
    val prior: Option[(Long, String)] =
      if (mode != "auto") None
      else {
        val arr = currentMetadata(spark, tableDir).get("partition-statistics")
        if (arr == null || !arr.isArray) None
        else {
          val ids = all.map(_.id)
          var best: Option[(Long, String)] = None
          arr.forEach { nd =>
            val sid = Option(nd.get("snapshot-id"))
              .filter(_.canConvertToLong).map(_.asLong())
            val p = Option(nd.get("statistics-path")).map(_.asText())
            (sid, p) match {
              case (Some(id), Some(path))
                if id != cur && ids.contains(id) &&
                  new java.io.File(path).exists() &&
                  best.forall(b => ids.indexOf(id) > ids.indexOf(b._1)) =>
                best = Some((id, path))
              case _ => ()
            }
          }
          best
        }
      }
    def manifestsOfSnap(id: Long): Seq[IcebergManifestSource.ManifestListRow] =
      IcebergManifestSource.resolveManifestList(spark, tableDir, Some(id))
        .map(p => IcebergManifestSource.manifestList(
          spark.sparkContext.hadoopConfiguration, p))
        .getOrElse(Nil)
    val (rollup0, arm) = prior match {
      case Some((baseId, basePath)) =>
        val before = manifestsOfSnap(baseId)
        val after = manifestsOfSnap(cur)
        val beforeSet = before.map(_.path).toSet
        val afterSet = after.map(_.path).toSet
        val added = after.filterNot(m => beforeSet.contains(m.path))
        val removed = before.filterNot(m => afterSet.contains(m.path))
        def signedRollup(ms: Seq[IcebergManifestSource.ManifestListRow], sign: Long) =
          MetadataTables.rollupOf(
            IcebergManifestSource.statsFromManifestRows(spark, ms, "t", Nil)
              .select(col("content"),
                col("partitionKey").as("partition"),
                col("record_count"),
                col("sizeBytes").as("file_size_in_bytes")))
            .select(col("partition"),
              (col("file_count") * sign).as("file_count"),
              (col("record_count") * sign).as("record_count"),
              (col("total_size") * sign).as("total_size"),
              (col("position_delete_file_count") * sign)
                .as("position_delete_file_count"),
              (col("equality_delete_file_count") * sign)
                .as("equality_delete_file_count"))
        val old = spark.read.schema(statsSchema).parquet(basePath)
          .drop("last_updated_snapshot_id")
        val parts = Seq(Some(old),
          if (added.isEmpty) None else Some(signedRollup(added, 1L)),
          if (removed.isEmpty) None else Some(signedRollup(removed, -1L)))
          .flatten
        val merged = parts.reduce(_ unionByName _)
          .groupBy(col("partition"))
          .agg(sum(col("file_count")).as("file_count"),
            sum(col("record_count")).as("record_count"),
            sum(col("total_size")).as("total_size"),
            sum(col("position_delete_file_count"))
              .as("position_delete_file_count"),
            sum(col("equality_delete_file_count"))
              .as("equality_delete_file_count"))
          // a partition whose every file left the table drops, exactly
          // as a full recompute would never emit it
          .filter(col("file_count") + col("position_delete_file_count") +
            col("equality_delete_file_count") > 0)
        (merged, "incremental")
      case None =>
        (MetadataTables.partitionsFromManifests(spark, tableDir), "full")
    }
    val rollup = rollup0
      .withColumn("last_updated_snapshot_id", lit(cur))
      .sort(col("partition"))
    val m = metaDir(tableDir)
    val f = freshFile(m, s"partition-stats-$cur.parquet")
    val n = IcebergLayoutWriter.writeSingleParquet(rollup, f)
    // register under `partition-statistics` (entries for other
    // snapshots survive, a same-snapshot entry is replaced)
    commitMetadata(spark, tableDir, metaBase(spark, tableDir)) { root =>
      val arr = root.arrayNode()
      val orig = root.get("partition-statistics")
      if (orig != null && orig.isArray) orig.forEach { nd =>
        val sid = nd.get("snapshot-id")
        if (sid == null || !sid.canConvertToLong || sid.asLong() != cur)
          arr.add(nd)
      }
      arr.addObject()
        .put("snapshot-id", cur)
        .put("statistics-path", f.getAbsolutePath)
        .put("file-size-in-bytes", f.length())
      root.set[com.fasterxml.jackson.databind.node.ArrayNode](
        "partition-statistics", arr)
    }
    (f.getAbsolutePath, cur, n, arm)
  } }

  /** The registered partition-statistics file for `snapshotId` (the
    * CURRENT snapshot when None) — None when absent, STALE (registered
    * for a different snapshot than the one being read), or deleted.
    * The exact-snapshot rule is what makes serving from it safe: an
    * entry describes exactly its snapshot's file set, so a pinned
    * time-travel read may serve from a matching entry too. */
  def freshPartitionStats(spark: SparkSession, tableDir: String,
      snapshotId: Option[Long] = None): Option[String] = {
    val root = currentMetadata(spark, tableDir)
    val target = snapshotId.orElse(
      Option(root.get("current-snapshot-id"))
        .filter(_.canConvertToLong).map(_.asLong()))
      .getOrElse(return None)
    val arr = root.get("partition-statistics")
    if (arr == null || !arr.isArray) return None
    var out: Option[String] = None
    arr.forEach { nd =>
      val sid = nd.get("snapshot-id")
      val p = nd.get("statistics-path")
      if (sid != null && sid.canConvertToLong && sid.asLong() == target &&
          p != null && new java.io.File(p.asText()).exists())
        out = Some(p.asText())
    }
    out
  }

  /** Register a statistics file (e.g. a [[PuffinIO]] container) for a
    * snapshot in the metadata `statistics` array (spec "Table
    * statistics"): read-modify-write the current document — existing
    * statistics entries for OTHER snapshots survive, an entry for the
    * same snapshot is replaced — and bump the version. Returns the new
    * metadata version. */
  def attachStatistics(spark: SparkSession, tableDir: String,
      snapshotId: Long, statsFile: java.io.File,
      blobMeta: Seq[(String, Seq[Int], Map[String, String])]): Long =
      commitLock(tableDir).synchronized { withCommitRetry(tableDir) {
    commitMetadata(spark, tableDir, metaBase(spark, tableDir)) { root =>
      val arr = root.arrayNode()
      val orig = root.get("statistics")
      if (orig != null && orig.isArray) orig.forEach { n =>
        val sid = n.get("snapshot-id")
        if (sid == null || !sid.canConvertToLong || sid.asLong() != snapshotId)
          arr.add(n)
      }
      val entry = arr.addObject()
      entry.put("snapshot-id", snapshotId)
      entry.put("statistics-path", statsFile.getAbsolutePath)
      entry.put("file-size-in-bytes", statsFile.length())
      val blobs = entry.putArray("blob-metadata")
      blobMeta.foreach { case (tpe, fields, props) =>
        val b = blobs.addObject()
        b.put("type", tpe)
        val fs = b.putArray("fields"); fields.foreach(fs.add)
        b.put("snapshot-id", snapshotId)
        val p = b.putObject("properties")
        props.toSeq.sortBy(_._1).foreach { case (k, v) => p.put(k, v) }
      }
      root.set[com.fasterxml.jackson.databind.node.ArrayNode]("statistics", arr)
    }
  } }
}
