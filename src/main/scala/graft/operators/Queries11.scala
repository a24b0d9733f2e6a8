package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.metrics.MetricsCalculator
import graft.model.EngineConfig

/** Round-8 batch: the Iceberg partition-transform surface end-to-end.
  *
  * q168 closes VERDICT r7 missing #3: the reference's diagnostics read
  * partition values that a spec-compliant writer derived with the
  * public Iceberg partition transforms (`day`, `bucket[N]`,
  * `truncate[W]` — spec "Partition Transforms" / Appendix B), its table
  * library applying them transparently (`manager.py:154-186`). Here the
  * transforms are first-class ([[graft.sources.PartitionTransforms]]):
  * the bucket hash is the spec's murmur3_x86_32 UNROLLED as pure Column
  * arithmetic (two mix blocks for an 8-byte key — stays in whole-stage
  * codegen, no UDF), and the DuckDB oracle re-derives the identical
  * hash from the same 32-bit modular arithmetic, so the transform
  * values themselves are hash-gated cross-engine, not just spec-pinned.
  *
  * Oracle-parity conventions as in [[Queries]]: identical aliases both
  * sides, CAST integer sums to BIGINT, one final division for any
  * double, full ORDER BY tie-breaks.
  */
object Queries11 {

  private def t(dir: String, name: String)(implicit s: SparkSession): DataFrame =
    Rel.t(dir, name)

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- the 9-metric diagnostics pipeline over a REAL written layout
    // whose partition spec uses all three value transforms: partition =
    // (day(ts), bucket[8](user_id), truncate[2](event_type)), file grain
    // = partition x (event_id % 4), content cycling 0/1/2 per file so
    // the data/delete asymmetry rides the real manifest split (data +
    // delete manifests -> manifest count 2 seeds A3). The writer stores
    // TRANSFORMED values in the manifests and declares the spec in
    // metadata `partition-specs`; the reader canonicalizes the partition
    // record to the JSON pk the metrics group on. Every pk string is a
    // transform output, so the whole metric row hash-gates day/bucket/
    // truncate at once. The grouped collect is the bounded fixture state
    // (<= days x 8 x 5 x 4 rows, metadata-sized); the distributed read
    // path is what's under test. At 100 TB the transform derivation is
    // row-level codegen arithmetic (no UDF, no shuffle added) and the
    // manifest scan stays one-task-per-manifest.
    "q168_transform_partitioned_metrics" -> { (s, dir) => implicit val sp = s
      import graft.sources.{IcebergLayoutWriter, IcebergManifestSource, PartitionTransforms => PT}
      val fileRows = Rel.events(dir)
        .select(
          PT.dayCol(col("tsx")).as("d"),
          PT.bucketLongCol(col("user_id"), 8).as("b"),
          PT.truncateStringCol(col("event_type"), 2).as("tr"),
          (col("event_id") % 4).cast("int").as("sub"),
          (col("event_id") % 997).as("m"))
        .groupBy(col("d"), col("b"), col("tr"), col("sub"))
        .agg(count(lit(1)).as("rc"), sum(col("m")).as("ssum"))
        .collect()
        .sortBy(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getInt(3)))
      val tbl = TmpFixture.dir("q168", dir)
      IcebergLayoutWriter.writeTable(tbl, fileRows.map { r =>
        val (d, b, tr, sub) = (r.getInt(0), r.getInt(1), r.getString(2), r.getInt(3))
        IcebergLayoutWriter.ManifestEntrySpec(
          status = 1, content = sub % 3,
          filePath = s"data/f-$d-$b-$tr-$sub.parquet",
          partition = Seq("ts_day" -> d, "uid_bucket" -> b, "etype_tr" -> tr),
          recordCount = r.getLong(4),
          sizeBytes = (r.getLong(5) + 100L * r.getLong(4)) * 65536L)
      }.toSeq, partitionSpec = Seq(
        ("ts_day", "day", 2), ("uid_bucket", "bucket[8]", 3),
        ("etype_tr", "truncate[2]", 4)))
      // the reader must interpret the written layout's declared spec —
      // fail loudly (Verify errs the row) if the metadata round trip drops it
      val spec = IcebergManifestSource.partitionSpec(s, tbl.getPath)
      require(spec == Seq(("ts_day", "day", 2), ("uid_bucket", "bucket[8]", 3),
        ("etype_tr", "truncate[2]", 4)), s"partition spec round trip broke: $spec")
      val (files, nManifests) = IcebergManifestSource.fromTableDir(s, tbl.getPath, "t")
      val manifests = s.createDataset(Seq(("t", nManifests)))(
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.scalaLong))
      MetricsCalculator.computeMetricsWide(files, manifests, EngineConfig.default)
        .toDF()
        .select(
          col("fullScanOverheadBefore").as("full_scan_before"),
          col("fullScanOverheadAfter").as("full_scan_after"),
          col("worstScanOverheadBefore").as("worst_scan_before"),
          col("worstScanOverheadAfter").as("worst_scan_after"),
          col("fileCountBefore").as("file_count_before"),
          col("fileCountAfter").as("file_count_after"),
          col("worstFileCountBefore").as("worst_fc_before"),
          col("worstFileCountAfter").as("worst_fc_after"),
          round(col("avgFileSize"), 4).as("avg_data_size"),
          round(col("worstAvgFileSize"), 4).as("worst_avg_size"),
          col("totalTableSize").as("total_size"),
          col("largestPartitionSize").as("largest_partition"),
          col("totalPartitions").as("n_partitions"))
    },

    // ---- incremental snapshot changelog over a REAL multi-snapshot
    // layout (Iceberg's incremental-read surface; q52's snapshot-diff
    // semantics lifted onto written metadata): snapshot 1 is eight files
    // f0..f7; snapshot 2 compacts f0..f3 into c0/c1, KEEPS f4..f7
    // byte-identical (they must drop out of the diff — file immutability
    // makes path identity sufficient), and adds a position-delete file.
    // changesBetween reads both endpoints as pinned lazy manifest scans
    // and diffs on ONE full-outer join of manifest-sized relations — no
    // data I/O, which is the whole point of metadata-driven changelogs
    // at 100 TB. Every row (path, content, change, rc, bytes) is
    // hash-gated against DuckDB recomputing the fixture arithmetic.
    "q169_snapshot_changelog" -> { (s, dir) => implicit val sp = s
      import graft.sources.{IcebergLayoutWriter, IcebergManifestSource}
      import graft.sources.IcebergLayoutWriter.ManifestEntrySpec
      val stats = t(dir, "lineitem")
        .groupBy(least(floor(col("l_extendedprice") / 12000).cast("long"), lit(7L))
          .as("fid"))
        .agg(count(lit(1)).as("rc"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val nDel = t(dir, "lineitem").filter(col("l_orderkey") % 13 === 0).count()
      def dataFile(path: String, rc: Long, seq: Long) =
        ManifestEntrySpec(status = 1, content = 0, filePath = path,
          recordCount = rc, sizeBytes = rc * 100L, sequenceNumber = seq)
      val snap1 = stats.map { case (fid, rc) => dataFile(s"f$fid.parquet", rc, 1L) }
      val compacted = stats.filter(_._1 < 4).groupBy(_._1 / 2).toSeq.sortBy(_._1)
        .map { case (fid2, grp) => dataFile(s"c$fid2.parquet", grp.map(_._2).sum, 2L) }
      val kept = stats.filter(_._1 >= 4).map { case (fid, rc) =>
        dataFile(s"f$fid.parquet", rc, 1L)
      }
      val snap2 = compacted ++ kept :+ ManifestEntrySpec(status = 1, content = 1,
        filePath = "del0.parquet", recordCount = nDel, sizeBytes = nDel * 20L + 40L,
        sequenceNumber = 2L)
      val tbl = TmpFixture.dir("q169", dir)
      IcebergLayoutWriter.writeTableSnapshots(tbl,
        Seq(1L -> snap1.toSeq, 2L -> snap2.toSeq))
      IcebergManifestSource.changesBetween(s, tbl.getPath, "t", 1L, 2L)
        .orderBy(col("change"), col("file_path"))
    },

    // ---- partition-spec EVOLUTION over a real written layout: snapshot
    // 1 is year(o_orderdate)-partitioned (spec 0); snapshot 2 keeps
    // those files and ADDS month-partitioned ones under spec 1 — the
    // Iceberg evolution contract: old files are never rewritten, each
    // manifest-list row names the spec its manifests were written under
    // (`partition_spec_id`), and the current snapshot legitimately
    // mixes partition shapes. The reader decodes each manifest's
    // partition record generically, so the per-partition profile over
    // the CURRENT snapshot carries both {"o_year":N} and {"o_month":M}
    // keys; every key value is a year/month transform ordinal, so both
    // new transforms are hash-gated cross-engine here. The grouped
    // collect is bounded fixture state (≤ years×2 + months×2 rows); the
    // manifest scan is the distributed path under test.
    "q173_spec_evolution" -> { (s, dir) => implicit val sp = s
      import graft.sources.{IcebergLayoutWriter, IcebergManifestSource, PartitionTransforms => PT}
      import graft.sources.IcebergLayoutWriter.ManifestEntrySpec
      val o = t(dir, "orders").select(
        (col("o_orderkey") % 3).as("grp"),
        PT.yearCol(col("o_orderdate")).as("y"),
        PT.monthCol(col("o_orderdate")).as("m"),
        (col("o_custkey") % 2).cast("int").as("sub"),
        (col("o_orderkey") % 997).as("w"))
      val f1 = o.filter(col("grp") < 2).groupBy(col("y"), col("sub"))
        .agg(count(lit(1)).as("rc"), sum(col("w")).as("msum"))
        .collect().sortBy(r => (r.getInt(0), r.getInt(1)))
        .map { r =>
          ManifestEntrySpec(status = 1, content = 0,
            filePath = s"data/y${r.getInt(0)}-${r.getInt(1)}.parquet",
            partition = Seq("o_year" -> r.getInt(0)),
            recordCount = r.getLong(2),
            sizeBytes = (r.getLong(3) + 50L * r.getLong(2)) * 4096L, specId = 0)
        }.toSeq
      val f2 = o.filter(col("grp") === 2).groupBy(col("m"), col("sub"))
        .agg(count(lit(1)).as("rc"), sum(col("w")).as("msum"))
        .collect().sortBy(r => (r.getInt(0), r.getInt(1)))
        .map { r =>
          ManifestEntrySpec(status = 1, content = 0,
            filePath = s"data/m${r.getInt(0)}-${r.getInt(1)}.parquet",
            partition = Seq("o_month" -> r.getInt(0)),
            recordCount = r.getLong(2),
            sizeBytes = (r.getLong(3) + 50L * r.getLong(2)) * 4096L, specId = 1)
        }.toSeq
      val tbl = TmpFixture.dir("q173", dir)
      IcebergLayoutWriter.writeTableSnapshots(tbl,
        Seq(1L -> f1, 2L -> (f1 ++ f2)),
        partitionSpecs = Seq(Seq(("o_year", "year", 5)), Seq(("o_month", "month", 5))))
      // the metadata round trip must surface the FULL evolution history,
      // current default being the evolved spec — fail loudly otherwise
      val (defId, specs) = IcebergManifestSource.partitionSpecs(s, tbl.getPath)
      require(defId == 1 && specs == Seq(
        0 -> Seq(("o_year", "year", 5)), 1 -> Seq(("o_month", "month", 5))),
        s"evolution history broke: default=$defId specs=$specs")
      val (files, _) = IcebergManifestSource.fromTableDir(s, tbl.getPath, "t")
      files.toDF()
        .groupBy(col("partitionKey").as("pk"))
        .agg(count(lit(1)).as("n_files"), sum(col("sizeBytes")).as("total_bytes"))
        .orderBy(col("pk"))
    },

    // ---- the time-transform ordinal profile: every Iceberg time
    // transform (year/month/day/hour) derived over the events table and
    // hash-gated against DuckDB's date arithmetic — the cross-engine
    // value gate for the transform family (q168/q173 gate day/bucket/
    // truncate/year/month through written layouts; this pins hour and
    // the ordinals directly). Map-only derivation + one ~days-sized agg.
    "q174_transform_ordinals" -> { (s, dir) => implicit val sp = s
      import graft.sources.{PartitionTransforms => PT}
      Rel.events(dir)
        .select(PT.yearCol(col("tsx")).as("y"), PT.monthCol(col("tsx")).as("m"),
          PT.dayCol(col("tsx")).as("d"), PT.hourCol(col("tsx")).as("h"))
        .groupBy(col("y"), col("m"), col("d"))
        .agg(count(lit(1)).as("n_events"), min(col("h")).as("h_min"),
          max(col("h")).as("h_max"), countDistinct(col("h")).as("n_hours"))
        .orderBy(col("d"))
    },

    // ---- manifest SKIPPING from manifest-list partition summaries: the
    // layout writer emits per-manifest field_summary bounds (spec
    // "Manifest Lists"), and the planner prunes whole MANIFESTS against
    // a day-range predicate before reading any of them — Iceberg's
    // planning-scale feature: at 100k manifests the planning read drops
    // from every manifest to the few whose ranges overlap. Fixture: one
    // data manifest per month (the real append-stream grain), day(ts)
    // partition values; the query proves pruning actually skipped
    // manifests (require), applies the residual day filter (summaries
    // are coarse), and hash-gates the surviving per-day profile.
    "q176_manifest_skipping" -> { (s, dir) => implicit val sp = s
      import graft.sources.{IcebergLayoutWriter, IcebergManifestSource, PartitionTransforms => PT}
      import graft.sources.IcebergLayoutWriter.ManifestEntrySpec
      val o = t(dir, "orders").select(
        PT.dayCol(col("o_orderdate")).as("d"),
        PT.monthCol(col("o_orderdate")).as("m"),
        (col("o_custkey") % 2).cast("int").as("sub"),
        (col("o_orderkey") % 997).as("w"))
      val entries = o.groupBy(col("d"), col("m"), col("sub"))
        .agg(count(lit(1)).as("rc"), sum(col("w")).as("msum"))
        .collect().sortBy(r => (r.getInt(0), r.getInt(2)))
        .map { r =>
          ManifestEntrySpec(status = 1, content = 0,
            filePath = s"data/d${r.getInt(0)}-${r.getInt(2)}.parquet",
            partition = Seq("o_day" -> r.getInt(0)),
            recordCount = r.getLong(3),
            sizeBytes = (r.getLong(4) + 50L * r.getLong(3)) * 4096L,
            manifestGroup = r.getInt(1))
        }.toSeq
      val tbl = TmpFixture.dir("q176", dir)
      IcebergLayoutWriter.writeTable(tbl, entries,
        partitionSpec = Seq(("o_day", "day", 5)))
      val conf = s.sparkContext.hadoopConfiguration
      val list = IcebergManifestSource.manifestListPath(s, tbl.getPath)
        .getOrElse(sys.error("no current manifest list"))
      val manifests = IcebergManifestSource.manifestList(conf, list)
      val lo = java.time.LocalDate.of(1996, 2, 1).toEpochDay
      val hi = java.time.LocalDate.of(1996, 4, 30).toEpochDay
      val pruned = manifests.filter(_.mayOverlap(0, lo, hi))
      require(pruned.nonEmpty && pruned.size < manifests.size,
        s"manifest skipping failed: kept ${pruned.size} of ${manifests.size}")
      IcebergManifestSource.entriesOf(s, pruned, "t").toDF()
        // residual row-level predicate — summaries are manifest-coarse
        .withColumn("d", get_json_object(col("partitionKey"), "$.o_day").cast("int"))
        .filter(col("d") >= lo && col("d") <= hi)
        .groupBy(col("d"))
        .agg(count(lit(1)).as("n_files"), sum(col("sizeBytes")).as("total_bytes"))
        .orderBy(col("d"))
    },

    // ---- LM perplexity filtering (the KenLM-style quality gate every
    // pretraining pipeline runs): an add-one-smoothed bigram model over
    // the train split scores each eval doc's mean log-prob. Scoring is
    // in exact integer MICRO-NATS — each bigram's ln() is floored to a
    // long once, per occurrence, and everything after is integer sums —
    // so the per-doc score is partitioning-proof (a naive sum-of-ln
    // scorer drifts in the last ulp with shuffle order). The LM tables
    // are vocabulary-collapsed broadcasts; the eval side is one
    // row-local expansion + equi-joins. ln cross-engine per the q41
    // precedent; the keep decision is a pure integer comparison.
    "q182_perplexity_filter" -> { (s, dir) => implicit val sp = s
      val docs = t(dir, "documents").filter(col("text").isNotNull)
      val bigramsOf = (d: DataFrame, cols: Seq[org.apache.spark.sql.Column]) => d
        .select(cols :+ split(col("text"), " ").as("toks"): _*)
        .filter(size(col("toks")) >= 2)
        .select(cols :+ explode(expr(
          "transform(sequence(1, size(toks) - 1), " +
            "i -> struct(element_at(toks, i) AS w1, element_at(toks, i + 1) AS w2))"))
          .as("p"): _*)
        .select(cols ++ Seq(col("p.w1").as("w1"), col("p.w2").as("w2")): _*)
      val train = docs.filter(col("doc_id") % 10 =!= 0)
      val tb = bigramsOf(train, Nil)
      val c12 = tb.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      val c1 = tb.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      val vocab = train.select(explode(split(col("text"), " ")).as("w"))
        .agg(countDistinct(col("w")).as("v"))
      val eb = bigramsOf(docs.filter(col("doc_id") % 10 === 0), Seq(col("doc_id")))
      eb.join(broadcast(c12), Seq("w1", "w2"), "left")
        .join(broadcast(c1), Seq("w1"), "left")
        .crossJoin(broadcast(vocab))
        .withColumn("mnats", floor(log(
          (coalesce(col("c12"), lit(0L)) + lit(1L)).cast("double")
            / (coalesce(col("c1"), lit(0L)) + col("v"))) * lit(1e6)).cast("long"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("mnats")).as("total_mnats"))
        .select(col("doc_id"), col("n_bigrams"), col("total_mnats"),
          (col("total_mnats").cast("double") / col("n_bigrams")).as("avg_mnats"),
          (col("total_mnats") > lit(-9000000L) * col("n_bigrams")).as("keep"))
        .orderBy(col("doc_id"))
    },

    // ---- NDV statistics through a REAL Puffin container: per-column
    // KMV min-k sketches built distributed (the q90 machinery), written
    // into a spec-shaped Puffin file (magic/blobs/footer framing,
    // [[graft.sources.PuffinIO]]), registered in the metadata
    // `statistics` array (spec "Table statistics"), then READ BACK
    // through metadata → container → blob and used for the NDV
    // estimates — the require proves the disk round trip preserved the
    // sketches bit-exactly, and the DuckDB oracle recomputes the same
    // estimates from raw data, so the whole statistics subsystem is
    // hash-gated through the file. At 100 TB this is how a planner gets
    // NDV without scanning: sketch once at write time, read KBs at plan
    // time.
    "q180_ndv_stats_file" -> { (s, dir) => implicit val sp = s
      import graft.sources.{IcebergLayoutWriter, IcebergManifestSource, LayoutMaintenance, PuffinIO}
      import graft.sources.IcebergLayoutWriter.ManifestEntrySpec
      val k = 64
      val minK = udaf(new graft.functions.MinKDistinct.MinK(k),
        org.apache.spark.sql.Encoders.scalaLong)
      val li = t(dir, "lineitem")
      // DISTINCT first, sketch after (guide §2.3 "aggregate before you
      // shuffle", §4 "expressions in the hot path"): MinK is a
      // distinct-min-k, so it is dedup-invariant, and countDistinct(key)
      // is count(*) of the distinct relation — pushing the codegen'd
      // distinct below the non-codegen UDAF runs the per-row sketch
      // object path over ~200k distinct keys instead of 6M lineitem
      // rows (r16: the monolithic UDAF+countDistinct agg was 3.1 s at
      // sf0.1, the whole query's cost). Values are bit-identical.
      // count(col) not count(lit(1)): countDistinct excluded NULL keys,
      // and count over a column keeps that NULL-exclusion semantics
      // identical (inert on TPC-H's non-null keys, honest elsewhere)
      def colSketch(c: String, prefix: String) =
        li.select(col(c).cast("string").as("ks")).distinct()
          .agg(minK(TextOps.portableHash28(
            concat(lit(prefix), col("ks")))).as("m"),
            count(col("ks")).as("d")).head()
      val (pa, sa) = (colSketch("l_partkey", "ndv:p:"),
        colSketch("l_suppkey", "ndv:s:"))
      val (pm, sm) = (pa.getSeq[Long](0), sa.getSeq[Long](0))
      val (pd, sd) = (pa.getLong(1), sa.getLong(1))
      val tbl = TmpFixture.dir("q180", dir)
      IcebergLayoutWriter.writeTable(tbl, Seq(ManifestEntrySpec(status = 1,
        content = 0, filePath = "data/all.parquet", recordCount = 1L,
        sizeBytes = 1L << 20)))
      val pf = new java.io.File(new java.io.File(tbl, "metadata"), "stats-1.puffin")
      PuffinIO.write(pf, Seq(
        PuffinIO.Blob("graft-kmv-sketch-v1", Seq(2), 1L, 1L,
          Map("k" -> k.toString, "column" -> "l_partkey"), PuffinIO.sketchBytes(pm)),
        PuffinIO.Blob("graft-kmv-sketch-v1", Seq(3), 1L, 1L,
          Map("k" -> k.toString, "column" -> "l_suppkey"), PuffinIO.sketchBytes(sm))))
      LayoutMaintenance.attachStatistics(s, tbl.getPath, 1L, pf, Seq(
        ("graft-kmv-sketch-v1", Seq(2), Map("column" -> "l_partkey")),
        ("graft-kmv-sketch-v1", Seq(3), Map("column" -> "l_suppkey"))))
      // read back through metadata registration + container framing
      val reg = IcebergManifestSource.statisticsFiles(s, tbl.getPath)
      require(reg.map(_._1) == Seq(1L), s"statistics not registered: $reg")
      val blobs = PuffinIO.read(new java.io.File(reg.head._2))
      require(blobs.size == 2 && blobs.forall(_.blobType == "graft-kmv-sketch-v1"),
        s"unexpected blobs: ${blobs.map(_.blobType)}")
      val byCol = blobs.map(b =>
        b.properties("column") -> PuffinIO.sketchLongs(b.data)).toMap
      require(byCol("l_partkey") == pm && byCol("l_suppkey") == sm,
        "sketch round trip diverged")
      // q90's estimator over the FILE's sketches (unsaturated → the
      // sketch IS the distinct-hash set)
      def est(mins: Seq[Long]): Long =
        if (mins.size < k) mins.size.toLong
        else (k - 1).toLong * 268435456L / mins(k - 1)
      import s.implicits._
      Seq(("l_partkey", pd, est(byCol("l_partkey"))),
        ("l_suppkey", sd, est(byCol("l_suppkey"))))
        .toDF("column", "exact_distinct", "ndv_est")
        .withColumn("rel_err",
          round(abs(col("ndv_est") - col("exact_distinct")).cast("double")
            / col("exact_distinct"), 4))
        .orderBy(col("column"))
    },

    // ---- the stats CONSUMED: textbook join-cardinality estimation
    // |L|·|R| / max(ndv_L, ndv_R) where both NDVs come from the q180
    // Puffin sketches read back off disk — what a cost-based planner
    // actually does with registered statistics at plan time. Sides are
    // the even/odd orderkey halves of lineitem joined on suppkey; the
    // estimate is exact integer arithmetic off the file's sketches, the
    // actual is the distributed join count, and DuckDB re-derives both
    // from raw data — so the stats write → register → read → estimate
    // chain is hash-gated end to end.
    "q181_stats_join_estimate" -> { (s, dir) => implicit val sp = s
      import graft.sources.{IcebergLayoutWriter, IcebergManifestSource, LayoutMaintenance, PuffinIO}
      import graft.sources.IcebergLayoutWriter.ManifestEntrySpec
      val k = 64
      val minK = udaf(new graft.functions.MinKDistinct.MinK(k),
        org.apache.spark.sql.Encoders.scalaLong)
      val li = t(dir, "lineitem")
      def side(even: Boolean) =
        li.filter((col("l_orderkey") % 2 === 0) === lit(even))
      // two-level aggregation (guide §2.3): the codegen'd per-key count
      // collapses 6M rows to ~2x10k (even, suppkey) groups BEFORE the
      // non-codegen MinK UDAF sees them — n recovers as sum(c), and
      // MinK is distinct-min-k so per-key dedup cannot change it
      val agg = li
        .withColumn("even", col("l_orderkey") % 2 === 0)
        .groupBy(col("even"), col("l_suppkey"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("even"))
        .agg(sum(col("c")).as("n"),
          minK(TextOps.portableHash28(
            concat(lit("jk:"), col("l_suppkey").cast("string")))).as("mins"))
        .collect().map(r => r.getBoolean(0) -> (r.getLong(1), r.getSeq[Long](2)))
        .toMap
      val tbl = TmpFixture.dir("q181", dir)
      IcebergLayoutWriter.writeTable(tbl, Seq(ManifestEntrySpec(status = 1,
        content = 0, filePath = "data/all.parquet", recordCount = 1L,
        sizeBytes = 1L << 20)))
      val pf = new java.io.File(new java.io.File(tbl, "metadata"), "stats-1.puffin")
      PuffinIO.write(pf, Seq(
        PuffinIO.Blob("graft-kmv-sketch-v1", Seq(3), 1L, 1L,
          Map("k" -> k.toString, "side" -> "even", "n" -> agg(true)._1.toString),
          PuffinIO.sketchBytes(agg(true)._2)),
        PuffinIO.Blob("graft-kmv-sketch-v1", Seq(3), 1L, 1L,
          Map("k" -> k.toString, "side" -> "odd", "n" -> agg(false)._1.toString),
          PuffinIO.sketchBytes(agg(false)._2))))
      LayoutMaintenance.attachStatistics(s, tbl.getPath, 1L, pf, Seq(
        ("graft-kmv-sketch-v1", Seq(3), Map("side" -> "even")),
        ("graft-kmv-sketch-v1", Seq(3), Map("side" -> "odd"))))
      // plan-time: metadata → container → sketches → estimate
      val reg = IcebergManifestSource.statisticsFiles(s, tbl.getPath)
      val blobs = PuffinIO.read(new java.io.File(reg.head._2))
        .map(b => b.properties("side") ->
          (b.properties("n").toLong, PuffinIO.sketchLongs(b.data))).toMap
      def ndv(mins: Seq[Long]): Long =
        if (mins.size < k) mins.size.toLong
        else (k - 1).toLong * 268435456L / mins(k - 1)
      val (nE, ndvE) = (blobs("even")._1, ndv(blobs("even")._2))
      val (nO, ndvO) = (blobs("odd")._1, ndv(blobs("odd")._2))
      require(blobs("even")._2 == agg(true)._2 && blobs("odd")._2 == agg(false)._2,
        "sketch round trip diverged")
      val estRows = nE * nO / math.max(ndvE, ndvO)
      // actual join rows = Σ_key cE·cO — per-key counts first, so the
      // "actual" never materializes the joined rows (at sf0.1 the raw
      // join is ~9e7 rows; the count-product is a key-vocabulary join)
      val actual = side(even = true).groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("ce"))
        .join(side(even = false).groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("co")), "l_suppkey")
        .agg(sum(col("ce") * col("co")))
        .head().getLong(0)
      import s.implicits._
      Seq((nE, nO, ndvE, ndvO, estRows, actual))
        .toDF("n_even", "n_odd", "ndv_even", "ndv_odd", "est_rows", "actual_rows")
        .withColumn("rel_err",
          round(abs(col("est_rows") - col("actual_rows")).cast("double")
            / col("actual_rows"), 4))
    },

    // ---- the two-level PLANNING FUNNEL, composed end-to-end: manifest
    // skipping (q176's manifest-list field_summary bounds) followed by
    // per-file column-stat pruning (q151's lower/upper bounds) — the
    // full Iceberg planning path a 100 TB scan survives on: 100k
    // manifests → the few whose partition ranges overlap → their files
    // → the few whose column bounds can match. Both levels are proved
    // to skip in-query (requires), and the surviving per-day scan-set
    // profile is hash-gated. Planning I/O is manifest-list-sized, then
    // surviving-manifest-sized — never table-sized.
    "q179_planning_funnel" -> { (s, dir) => implicit val sp = s
      import graft.sources.{IcebergLayoutWriter, IcebergManifestSource, PartitionTransforms => PT}
      import graft.sources.IcebergLayoutWriter.ManifestEntrySpec
      // file grain day x (orderkey % 16): fine enough that per-file price
      // maxima stay varied at ANY sf — a coarser grain (2 files/day) made
      // every file's max exceed the threshold at sf0.1, so level 2 had
      // nothing provable to skip and the gate below (correctly) fired
      val o = t(dir, "orders").select(
        PT.dayCol(col("o_orderdate")).as("d"),
        PT.monthCol(col("o_orderdate")).as("m"),
        (col("o_orderkey") % 16).cast("int").as("sub"),
        col("o_totalprice").as("p"))
      val entries = o.groupBy(col("d"), col("m"), col("sub"))
        .agg(count(lit(1)).as("rc"), min(col("p")).as("lo"), max(col("p")).as("hi"))
        .collect().sortBy(r => (r.getInt(0), r.getInt(2)))
        .map { r =>
          ManifestEntrySpec(status = 1, content = 0,
            filePath = s"data/d${r.getInt(0)}-${r.getInt(2)}.parquet",
            partition = Seq("o_day" -> r.getInt(0)),
            recordCount = r.getLong(3), sizeBytes = r.getLong(3) * 4096L,
            lower = Map(4 -> IcebergLayoutWriter.boundDouble(r.getDouble(4))),
            upper = Map(4 -> IcebergLayoutWriter.boundDouble(r.getDouble(5))),
            manifestGroup = r.getInt(1))
        }.toSeq
      val tbl = TmpFixture.dir("q179", dir)
      IcebergLayoutWriter.writeTable(tbl, entries,
        partitionSpec = Seq(("o_day", "day", 5)))
      val conf = s.sparkContext.hadoopConfiguration
      val list = IcebergManifestSource.manifestListPath(s, tbl.getPath)
        .getOrElse(sys.error("no current manifest list"))
      val lo = java.time.LocalDate.of(1997, 6, 1).toEpochDay
      val hi = java.time.LocalDate.of(1997, 8, 31).toEpochDay
      // level 1: whole manifests, by partition summary
      val manifests = IcebergManifestSource.manifestList(conf, list)
      val kept = manifests.filter(_.mayOverlap(0, lo, hi))
      require(kept.nonEmpty && kept.size < manifests.size,
        s"level-1 skipped nothing: ${kept.size} of ${manifests.size}")
      // level 2: per-file column bounds inside the survivors
      val thresh = 300000.0
      val funnel = IcebergManifestSource.statsFromManifestRows(s, kept, "t", Seq(
          (4, "price", org.apache.spark.sql.types.DoubleType)))
        .withColumn("d", get_json_object(col("partitionKey"), "$.o_day").cast("int"))
        .filter(col("d") >= lo && col("d") <= hi) // residual partition filter
        .withColumn("skip", when(col("hi_price") < thresh, 1L).otherwise(0L))
        .groupBy(col("d"))
        .agg(count(lit(1)).as("files_after_l1"),
          sum(col("skip")).as("files_skipped_l2"),
          sum(lit(1L) - col("skip")).as("files_scanned"),
          sum(when(col("skip") === 0L, col("sizeBytes")).otherwise(0L))
            .as("bytes_scanned"))
        .orderBy(col("d"))
      require(funnel.agg(sum(col("files_skipped_l2"))).head.getLong(0) > 0L,
        "level-2 skipped nothing")
      funnel
    },

    // ---- changelog-driven incremental maintenance: per-content file/
    // row/byte totals maintained from snapshot 1 + the q169 changelog
    // deltas, proved IN-QUERY equal to a direct snapshot-2 recompute
    // (the require), then hash-gated against DuckDB deriving snapshot
    // 2's truth from the raw tables. This is what the changelog is FOR
    // at 100 TB: a consumer keeps a materialized rollup current by
    // folding metadata-sized deltas instead of rescanning the table —
    // both sides here are manifest-sized relations, zero data I/O.
    "q178_incremental_maintenance" -> { (s, dir) => implicit val sp = s
      import graft.sources.{IcebergLayoutWriter, IcebergManifestSource}
      import graft.sources.IcebergLayoutWriter.ManifestEntrySpec
      // the q169 two-snapshot fixture: 8 files, then compact f0..f3 into
      // c0/c1, keep f4..f7, add one position-delete file
      val stats = t(dir, "lineitem")
        .groupBy(least(floor(col("l_extendedprice") / 12000).cast("long"), lit(7L))
          .as("fid"))
        .agg(count(lit(1)).as("rc"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val nDel = t(dir, "lineitem").filter(col("l_orderkey") % 13 === 0).count()
      def dataFile(path: String, rc: Long, seq: Long) =
        ManifestEntrySpec(status = 1, content = 0, filePath = path,
          recordCount = rc, sizeBytes = rc * 100L, sequenceNumber = seq)
      val snap1 = stats.map { case (fid, rc) => dataFile(s"f$fid.parquet", rc, 1L) }
      val compacted = stats.filter(_._1 < 4).groupBy(_._1 / 2).toSeq.sortBy(_._1)
        .map { case (fid2, grp) => dataFile(s"c$fid2.parquet", grp.map(_._2).sum, 2L) }
      val kept = stats.filter(_._1 >= 4).map { case (fid, rc) =>
        dataFile(s"f$fid.parquet", rc, 1L)
      }
      val snap2 = compacted ++ kept :+ ManifestEntrySpec(status = 1, content = 1,
        filePath = "del0.parquet", recordCount = nDel, sizeBytes = nDel * 20L + 40L,
        sequenceNumber = 2L)
      val tbl = TmpFixture.dir("q178", dir)
      IcebergLayoutWriter.writeTableSnapshots(tbl,
        Seq(1L -> snap1.toSeq, 2L -> snap2.toSeq))
      // maintained = snapshot-1 base + signed changelog deltas
      val base = IcebergManifestSource
        .statsFromTableDir(s, tbl.getPath, "t", Nil, Some(1L))
        .select(col("content"), lit(1L).as("df"),
          col("record_count").as("dr"), col("sizeBytes").as("db"))
      val deltas = IcebergManifestSource
        .changesBetween(s, tbl.getPath, "t", 1L, 2L)
        .withColumn("sign", when(col("change") === "added", 1L).otherwise(-1L))
        .select(col("content"), col("sign").as("df"),
          (col("sign") * col("record_count")).as("dr"),
          (col("sign") * col("size_bytes")).as("db"))
      val maintained = base.unionByName(deltas)
        .groupBy(col("content"))
        .agg(sum(col("df")).as("n_files"), sum(col("dr")).as("total_rows"),
          sum(col("db")).as("total_bytes"))
      // the maintenance identity, proved against a direct recompute
      val direct = IcebergManifestSource
        .statsFromTableDir(s, tbl.getPath, "t", Nil, Some(2L))
        .groupBy(col("content"))
        .agg(count(lit(1)).as("n_files"), sum(col("record_count")).as("total_rows"),
          sum(col("sizeBytes")).as("total_bytes"))
      val (m, d0) = (maintained.collect().sortBy(_.getInt(0)).toSeq,
        direct.collect().sortBy(_.getInt(0)).toSeq)
      require(m == d0, s"incremental maintenance diverged: $m vs $d0")
      maintained.orderBy(col("content"))
    },

    // ---- matryoshka truncation audit: how much of each embedding's
    // energy (and per-vector cosine vs the full vector) survives
    // truncating to the first 8/16/32 dims — the operational question
    // behind MRL-style nested embeddings ("which dim budget can serving
    // afford?"). A truncated vector is the prefix zero-padded, so
    // cos(full, trunc) = sqrt(prefix energy / full energy) — everything
    // derives from exact integer squared sums of quantized dims
    // (cross-engine sqrt/divide on exact longs, q146/q172 discipline),
    // so min/max/threshold counts are bit-deterministic. Row-local
    // expansion, one agg per budget tier over a 3x-vecs relation.
    "q177_matryoshka_audit" -> { (s, dir) => implicit val sp = s
      val qd = t(dir, "embeddings")
        .filter(col("embedding").isNotNull && size(col("embedding")) >= 64)
        .select(expr(
          "transform(slice(embedding, 1, 64), x -> CAST(FLOOR(CAST(x AS DOUBLE) * 64) AS BIGINT))")
          .as("q"))
        .withColumn("s8", expr("aggregate(slice(q, 1, 8), 0L, (acc, x) -> acc + x * x)"))
        .withColumn("s16", expr("aggregate(slice(q, 1, 16), 0L, (acc, x) -> acc + x * x)"))
        .withColumn("s32", expr("aggregate(slice(q, 1, 32), 0L, (acc, x) -> acc + x * x)"))
        .withColumn("s64", expr("aggregate(q, 0L, (acc, x) -> acc + x * x)"))
        .filter(col("s64") > 0L)
      val tiers = Seq(8 -> "s8", 16 -> "s16", 32 -> "s32").map { case (b, c) =>
        qd.select(lit(b).as("budget"), col(c).as("sb"), col("s64"))
      }.reduce(_ unionByName _)
      tiers
        .withColumn("cos", sqrt(col("sb").cast("double")) / sqrt(col("s64").cast("double")))
        .groupBy(col("budget"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("sb")).as("energy_b"), sum(col("s64")).as("energy_full"),
          min(col("cos")).as("min_cos"), max(col("cos")).as("max_cos"),
          sum(when(col("cos") >= 0.95, 1L).otherwise(0L)).as("n_hi"))
        .withColumn("energy_kept",
          col("energy_b").cast("double") / col("energy_full"))
        .select(col("budget"), col("n_vecs"), col("energy_b"), col("energy_full"),
          col("energy_kept"), col("min_cos"), col("max_cos"), col("n_hi"))
        .orderBy(col("budget"))
    },

    // ---- privacy-budgeted statistics release: per-(lang, source)
    // document counts with Laplace-mechanism noise (sensitivity 1,
    // b = 1/eps = 1) — the standard differentially-private histogram
    // release a curated-corpus publisher runs before sharing counts.
    // Real DP draws fresh randomness; the testable analogue here feeds
    // the inverse-CDF with a DETERMINISTIC per-group uniform (integer
    // modular arithmetic over the group's doc_id sum — exact on both
    // engines), so the mechanism's whole dataflow is hash-gated while
    // the sampling step stays swappable. One map-side-combined agg; the
    // noise arithmetic is per-group scalar work on a vocabulary-sized
    // relation. ln() + round(6) per the q41 precedent.
    "q175_dp_release" -> { (s, dir) => implicit val sp = s
      val groups = t(dir, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("true_n"), sum(col("doc_id")).as("sd"))
      groups
        .withColumn("u",
          ((col("sd") * 2654435761L) % 1000003L).cast("double") / 1000003.0)
        .withColumn("noise", round(
          -signum(col("u") - 0.5) * log(lit(1.0) - lit(2.0) * abs(col("u") - 0.5)), 6))
        .select(col("lang"), col("source"), col("true_n"), col("noise"),
          (col("true_n") + col("noise")).as("noisy_n"))
        .orderBy(col("lang"), col("source"))
    },

    // ---- BM25 relevance scoring (Robertson/Sparck-Jones; the classic
    // probabilistic ranker TF-IDF callers graduate to). Corpus stats
    // (df, avgdl) aggregate map-side over the whole documents table;
    // the per-doc score touches only docs containing a query term — an
    // equi-join on term, never a corpus scan per query. At 100 TB the
    // shape is: one df/avgdl pass (amortized across queries), then a
    // query-term-sized broadcast join. q41-precedent determinism: all
    // inputs integer counts, one ln + divisions per term, round(6).
    "q170_bm25" -> { (s, dir) => implicit val sp = s
      val qTerms = Seq("scan", "window", "part")
      val docs = t(dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), split(col("text"), lit(" ")).as("toks"))
        .withColumn("dl", size(col("toks")).cast("long"))
      val n = docs.agg(count(lit(1)).as("n"), sum(col("dl")).as("sdl"))
      val terms = docs.select(col("doc_id"), col("dl"),
          explode(col("toks")).as("term"))
        .filter(col("term").isin(qTerms: _*))
      val tf = terms.groupBy(col("doc_id"), col("dl"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val k1 = 1.2; val b = 0.75
      val scored = tf.join(broadcast(df), "term").crossJoin(broadcast(n))
        // avgdl enters ONLY via dl/avgdl = dl*n/sdl — one double divide
        .withColumn("part", log(
          (col("n").cast("double") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) +
            lit(b) * (col("dl") * col("n")).cast("double") / col("sdl"))))
      // per-term columns summed in FIXED term order — a float sum over an
      // unordered group would be partitioning-dependent in the last ulp
      val termAggs = qTerms.map(tm =>
        sum(when(col("term") === tm, col("part"))).as(s"p_$tm"))
      val perTerm = scored.groupBy(col("doc_id"), col("dl"))
        .agg(termAggs.head, termAggs.tail: _*)
        .na.fill(0.0, qTerms.map(tm => s"p_$tm"))
      perTerm
        .withColumn("score", round(qTerms.map(tm => col(s"p_$tm"))
          .reduce(_ + _), 6))
        .withColumn("n_terms_hit", qTerms.map(tm =>
          when(col(s"p_$tm") =!= 0.0, 1L).otherwise(0L)).reduce(_ + _))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)
        .select(col("doc_id"), col("dl"), col("n_terms_hit"), col("score"))
    },

    // ---- k-anonymity audit (privacy): equivalence classes over the
    // quasi-identifier (nation, segment, acctbal-kilobucket), reported
    // as the class-size histogram with each size's share of the
    // population — the standard re-identification-risk profile (rows in
    // classes of size < k are risky). Two map-side-combined aggregates;
    // the histogram is vocabulary-collapsed (≤ distinct sizes rows), so
    // the shape is flat at any scale. No global window: the share comes
    // from a broadcast of the 1-row total.
    "q171_k_anonymity" -> { (s, dir) => implicit val sp = s
      val qi = t(dir, "customer").select(
        col("c_nationkey").cast("long").as("nat"),
        col("c_mktsegment").as("seg"),
        floor(col("c_acctbal") / 1000).cast("long").as("balk"))
      val classes = qi.groupBy(col("nat"), col("seg"), col("balk"))
        .agg(count(lit(1)).as("class_size"))
      val total = qi.agg(count(lit(1)).as("total"))
      classes.groupBy(col("class_size"))
        .agg(count(lit(1)).as("n_classes"))
        .withColumn("n_rows", col("class_size") * col("n_classes"))
        .crossJoin(broadcast(total))
        .select(col("class_size"), col("n_classes"), col("n_rows"),
          (col("n_rows").cast("double") / col("total")).as("pct_rows"))
        .orderBy(col("class_size"))
    },

    // ---- top principal direction by power iteration (spectral): the
    // Gram matrix of integer-quantized embeddings (dims 1..16, vecs
    // < 2000 — the overflow budget: |q|<=64 so G <= 64*64*2000 = 8.2e6,
    // v1 <= 16*G, v2 <= 16*G*max(v1) ~ 1.7e16 < 2^63), then TWO exact
    // integer matrix-vector products from v0 = 1. Everything before the
    // final two divides is int64, so the result is bit-identical at any
    // partitioning and cross-engine (q146 precedent). Per-dim output:
    // the iterate values, the per-dim Rayleigh-style ratio v2/v1 (→ the
    // dominant eigenvalue as iterates align), and the normalized
    // direction v2/max|v2|. At 100 TB the expansion is row-local
    // (transform x transform), the Gram reduce is one map-side-combined
    // 256-key agg, and everything after is matrix-sized.
    "q172_power_iteration" -> { (s, dir) => implicit val sp = s
      val dims = 16
      val qd = t(dir, "embeddings")
        .filter(col("embedding").isNotNull && size(col("embedding")) >= dims &&
          col("vec_id") < 2000)
        .select(expr(
          s"transform(slice(embedding, 1, $dims), x -> CAST(FLOOR(CAST(x AS DOUBLE) * 64) AS BIGINT))")
          .as("q"))
      val gram = qd.select(explode(expr(
          s"""flatten(transform(q, (x, i) ->
             |  transform(q, (y, j) -> struct(i + 1 AS di, j + 1 AS dj, x * y AS xy))))"""
            .stripMargin)).as("p"))
        .select(col("p.di").cast("long").as("di"), col("p.dj").cast("long").as("dj"), col("p.xy"))
        .groupBy(col("di"), col("dj")).agg(sum(col("xy")).as("g"))
      val v1 = gram.groupBy(col("di")).agg(sum(col("g")).as("v1"))
      val v2 = gram.join(broadcast(v1.select(col("di").as("dj"), col("v1"))), "dj")
        .groupBy(col("di")).agg(sum(col("g") * col("v1")).as("v2"))
      val m = v2.agg(max(abs(col("v2"))).as("m2"))
      v1.join(v2, "di").crossJoin(broadcast(m))
        .select(col("di").as("dim"), col("v1"), col("v2"),
          when(col("v1") === 0L, lit(null))
            .otherwise(col("v2").cast("double") / col("v1")).as("eig_ratio"),
          when(col("m2") === 0L, lit(null))
            .otherwise(col("v2").cast("double") / col("m2")).as("direction"))
        .orderBy(col("dim"))
    })

  /** The spec murmur3_x86_32 of a BIGINT's 8-byte little-endian form,
    * unrolled as sequential CTE steps over a relation `uids(u)` (two mix
    * blocks + finalization; HUGEINT only bridges the 32x32-bit
    * multiplies). Ends with `mmh(u, h)` where h is the UNSIGNED 32-bit
    * hash — bucket masks bit 31 (`h & 2147483647`), so unsigned vs
    * signed never matters downstream. */
  private val murmurSql =
    """mm0 AS (SELECT u, u & 4294967295 AS kk1, (u >> 32) & 4294967295 AS kk2 FROM uids),
      |mm1 AS (SELECT u, kk2, CAST(CAST(kk1 AS HUGEINT) * 3432918353 % 4294967296 AS BIGINT) AS k FROM mm0),
      |mm2 AS (SELECT u, kk2, ((k << 15) % 4294967296) | (k >> 17) AS k FROM mm1),
      |mm3 AS (SELECT u, kk2, CAST(CAST(k AS HUGEINT) * 461845907 % 4294967296 AS BIGINT) AS k FROM mm2),
      |mm4 AS (SELECT u, kk2, ((k << 13) % 4294967296) | (k >> 19) AS h FROM mm3),
      |mm5 AS (SELECT u, kk2, CAST((CAST(h AS HUGEINT) * 5 + 3864292196) % 4294967296 AS BIGINT) AS h FROM mm4),
      |nn1 AS (SELECT u, h, CAST(CAST(kk2 AS HUGEINT) * 3432918353 % 4294967296 AS BIGINT) AS k FROM mm5),
      |nn2 AS (SELECT u, h, ((k << 15) % 4294967296) | (k >> 17) AS k FROM nn1),
      |nn3 AS (SELECT u, h, CAST(CAST(k AS HUGEINT) * 461845907 % 4294967296 AS BIGINT) AS k FROM nn2),
      |nn4 AS (SELECT u, xor(h, k) AS h FROM nn3),
      |nn5 AS (SELECT u, ((h << 13) % 4294967296) | (h >> 19) AS h FROM nn4),
      |nn6 AS (SELECT u, CAST((CAST(h AS HUGEINT) * 5 + 3864292196) % 4294967296 AS BIGINT) AS h FROM nn5),
      |ff1 AS (SELECT u, xor(h, 8) AS h FROM nn6),
      |ff2 AS (SELECT u, xor(h, h >> 16) AS h FROM ff1),
      |ff3 AS (SELECT u, CAST(CAST(h AS HUGEINT) * 2246822507 % 4294967296 AS BIGINT) AS h FROM ff2),
      |ff4 AS (SELECT u, xor(h, h >> 13) AS h FROM ff3),
      |ff5 AS (SELECT u, CAST(CAST(h AS HUGEINT) * 3266489909 % 4294967296 AS BIGINT) AS h FROM ff4),
      |mmh AS (SELECT u, xor(h, h >> 16) AS h FROM ff5)""".stripMargin

  def oracles: Map[String, String] = Map(

    "q168_transform_partitioned_metrics" -> {
      val cap = EngineConfig.default.maxGroupBytes
      val fetch = EngineConfig.default.fetchSize
      val ms = EngineConfig.default.msPerScan
      s"""WITH RECURSIVE uids AS (SELECT DISTINCT user_id AS u FROM events),
         |$murmurSql,
         |files AS (
         |  SELECT '{"ts_day":' || d || ',"uid_bucket":' || b || ',"etype_tr":"' || tr || '"}' AS pk,
         |         sub, CAST(sub % 3 AS INT) AS content,
         |         CAST((ssum + 100 * rc) * 65536 AS BIGINT) AS size
         |  FROM (SELECT date_diff('day', DATE '1970-01-01', CAST(e.ts AS DATE)) AS d,
         |               CAST((m.h & 2147483647) % 8 AS INT) AS b,
         |               substring(e.event_type, 1, 2) AS tr,
         |               CAST(e.event_id % 4 AS INT) AS sub,
         |               count(*) AS rc, sum(e.event_id % 997) AS ssum
         |        FROM events e JOIN mmh m ON e.user_id = m.u
         |        GROUP BY 1, 2, 3, 4)),
         |datafiles AS (
         |  SELECT pk, size, row_number() OVER (PARTITION BY pk ORDER BY size, sub) AS rn
         |  FROM files WHERE content = 0),
         |rec AS (
         |  SELECT pk, rn, size AS cur_sum, 1 AS group_id FROM datafiles WHERE rn = 1
         |  UNION ALL
         |  SELECT d.pk, d.rn,
         |    CASE WHEN rec.cur_sum > $cap THEN d.size ELSE rec.cur_sum + d.size END,
         |    CASE WHEN rec.cur_sum > $cap THEN rec.group_id + 1 ELSE rec.group_id END
         |  FROM rec JOIN datafiles d ON d.pk = rec.pk AND d.rn = rec.rn + 1),
         |groups_ AS (
         |  SELECT pk, group_id, max(cur_sum) AS gsum FROM rec GROUP BY pk, group_id),
         |after_pk AS (
         |  SELECT pk, max(group_id) AS n_groups,
         |         sum(gsum // $fetch + 2) AS after_overhead
         |  FROM groups_ GROUP BY pk),
         |before_pk AS (
         |  SELECT pk, count(*) AS fc, sum(size) AS tsz,
         |         sum(size // $fetch + 2) AS ovh,
         |         count(CASE WHEN content = 0 THEN 1 END) AS dc,
         |         sum(CASE WHEN content = 0 THEN size END) AS dsz
         |  FROM files GROUP BY pk),
         |per_pk AS (
         |  SELECT b.*, coalesce(a.n_groups, 0) AS n_groups,
         |         coalesce(a.after_overhead, 0) AS after_overhead
         |  FROM before_pk b LEFT JOIN after_pk a USING (pk)),
         |worst_fc AS (
         |  SELECT fc, n_groups, fc - n_groups AS red FROM per_pk
         |  ORDER BY red DESC, pk DESC LIMIT 1),
         |worst_so AS (
         |  SELECT ovh, after_overhead, ovh - after_overhead AS red FROM per_pk
         |  ORDER BY red DESC, pk DESC LIMIT 1)
         |SELECT
         |  (SELECT CAST(sum(ovh) + 2 * $ms AS BIGINT) FROM per_pk) AS full_scan_before,
         |  (SELECT CAST(sum(after_overhead) AS BIGINT) FROM per_pk) AS full_scan_after,
         |  (SELECT CAST(CASE WHEN red > 0 THEN ovh ELSE 0 END AS BIGINT) FROM worst_so) AS worst_scan_before,
         |  (SELECT CAST(CASE WHEN red > 0 THEN after_overhead ELSE 0 END AS BIGINT) FROM worst_so) AS worst_scan_after,
         |  (SELECT CAST(sum(fc) AS BIGINT) FROM per_pk) AS file_count_before,
         |  (SELECT CAST(sum(n_groups) AS BIGINT) FROM per_pk) AS file_count_after,
         |  (SELECT CAST(CASE WHEN red > 0 THEN fc ELSE 0 END AS BIGINT) FROM worst_fc) AS worst_fc_before,
         |  (SELECT CAST(CASE WHEN red > 0 THEN n_groups ELSE 0 END AS BIGINT) FROM worst_fc) AS worst_fc_after,
         |  (SELECT round(CAST(sum(dsz) AS DOUBLE) / sum(dc), 4) FROM per_pk) AS avg_data_size,
         |  (SELECT round(min(CAST(tsz AS DOUBLE) / fc), 4) FROM per_pk) AS worst_avg_size,
         |  (SELECT CAST(sum(tsz) AS BIGINT) FROM per_pk) AS total_size,
         |  (SELECT CAST(max(tsz) AS BIGINT) FROM per_pk) AS largest_partition,
         |  (SELECT count(*) FROM per_pk) AS n_partitions""".stripMargin
    },

    "q173_spec_evolution" ->
      """WITH o AS (
        |  SELECT o_orderkey % 3 AS grp,
        |         CAST(year(o_orderdate) - 1970 AS INT) AS y,
        |         CAST((year(o_orderdate) - 1970) * 12 + month(o_orderdate) - 1 AS INT) AS m,
        |         o_custkey % 2 AS sub, o_orderkey % 997 AS w
        |  FROM orders),
        |f1 AS (SELECT y, sub, count(*) AS rc, sum(w) AS msum
        |       FROM o WHERE grp < 2 GROUP BY 1, 2),
        |f2 AS (SELECT m, sub, count(*) AS rc, sum(w) AS msum
        |       FROM o WHERE grp = 2 GROUP BY 1, 2),
        |files AS (
        |  SELECT '{"o_year":' || y || '}' AS pk,
        |         CAST((msum + 50 * rc) * 4096 AS BIGINT) AS size FROM f1
        |  UNION ALL
        |  SELECT '{"o_month":' || m || '}',
        |         CAST((msum + 50 * rc) * 4096 AS BIGINT) FROM f2)
        |SELECT pk, CAST(count(*) AS BIGINT) AS n_files,
        |       CAST(sum(size) AS BIGINT) AS total_bytes
        |FROM files GROUP BY pk ORDER BY pk""".stripMargin,

    "q174_transform_ordinals" ->
      """SELECT CAST(year(CAST(ts AS DATE)) - 1970 AS INT) AS y,
        |  CAST((year(CAST(ts AS DATE)) - 1970) * 12 + month(CAST(ts AS DATE)) - 1 AS INT) AS m,
        |  CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS INT) AS d,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(min(epoch_us(ts) // 3600000000) AS INT) AS h_min,
        |  CAST(max(epoch_us(ts) // 3600000000) AS INT) AS h_max,
        |  CAST(count(DISTINCT epoch_us(ts) // 3600000000) AS BIGINT) AS n_hours
        |FROM events GROUP BY 1, 2, 3 ORDER BY d""".stripMargin,

    "q176_manifest_skipping" ->
      """WITH o AS (
        |  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS INT) AS d,
        |         o_custkey % 2 AS sub, o_orderkey % 997 AS w
        |  FROM orders),
        |f AS (SELECT d, sub, count(*) AS rc, sum(w) AS msum FROM o GROUP BY 1, 2)
        |SELECT d, CAST(count(*) AS BIGINT) AS n_files,
        |       CAST(sum((msum + 50 * rc) * 4096) AS BIGINT) AS total_bytes
        |FROM f
        |WHERE d BETWEEN date_diff('day', DATE '1970-01-01', DATE '1996-02-01')
        |            AND date_diff('day', DATE '1970-01-01', DATE '1996-04-30')
        |GROUP BY d ORDER BY d""".stripMargin,

    "q182_perplexity_filter" ->
      """WITH docs AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
        |ttoks AS (SELECT string_split(text, ' ') AS t FROM docs WHERE doc_id % 10 <> 0),
        |tidx AS (SELECT t, unnest(range(1, len(t))) AS i FROM ttoks),
        |tb AS (SELECT t[i] AS w1, t[i + 1] AS w2 FROM tidx),
        |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM tb GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM tb GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM
        |       (SELECT unnest(string_split(text, ' ')) AS w FROM docs WHERE doc_id % 10 <> 0)),
        |etoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM docs WHERE doc_id % 10 = 0),
        |eidx AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM etoks WHERE len(t) >= 2),
        |eb AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM eidx),
        |sc AS (
        |  SELECT doc_id, CAST(FLOOR(ln(
        |    CAST(coalesce(c12.c12, 0) + 1 AS DOUBLE) / (coalesce(c1.c1, 0) + v.v)) * 1e6) AS BIGINT) AS mnats
        |  FROM eb LEFT JOIN c12 USING (w1, w2) LEFT JOIN c1 USING (w1) CROSS JOIN v),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |        CAST(sum(mnats) AS BIGINT) AS total_mnats FROM sc GROUP BY 1)
        |SELECT doc_id, n_bigrams, total_mnats,
        |  CAST(total_mnats AS DOUBLE) / n_bigrams AS avg_mnats,
        |  (total_mnats > -9000000 * n_bigrams) AS keep
        |FROM agg ORDER BY doc_id""".stripMargin,

    "q181_stats_join_estimate" ->
      """WITH sides AS (
        |  SELECT (l_orderkey % 2 = 0) AS even, l_suppkey,
        |    CAST('0x' || substring(md5('jk:' || CAST(l_suppkey AS VARCHAR)), 1, 7) AS BIGINT) AS h
        |  FROM lineitem),
        |n AS (SELECT even, CAST(count(*) AS BIGINT) AS n FROM sides GROUP BY 1),
        |hh AS (SELECT DISTINCT even, h FROM sides),
        |r AS (SELECT even, h, row_number() OVER (PARTITION BY even ORDER BY h) AS rn FROM hh),
        |ndv AS (
        |  SELECT even,
        |    CAST(CASE WHEN max(CASE WHEN rn = 64 THEN h END) IS NULL
        |         THEN count(*)
        |         ELSE (63 * CAST(268435456 AS BIGINT)) // max(CASE WHEN rn = 64 THEN h END)
        |         END AS BIGINT) AS ndv
        |  FROM r GROUP BY even),
        |j AS (
        |  SELECT CAST(count(*) AS BIGINT) AS actual
        |  FROM (SELECT l_suppkey FROM sides WHERE even) a
        |  JOIN (SELECT l_suppkey FROM sides WHERE NOT even) b USING (l_suppkey)),
        |flat AS (
        |  SELECT
        |    (SELECT n FROM n WHERE even) AS n_even,
        |    (SELECT n FROM n WHERE NOT even) AS n_odd,
        |    (SELECT ndv FROM ndv WHERE even) AS ndv_even,
        |    (SELECT ndv FROM ndv WHERE NOT even) AS ndv_odd,
        |    (SELECT actual FROM j) AS actual_rows)
        |SELECT n_even, n_odd, ndv_even, ndv_odd,
        |  n_even * n_odd // GREATEST(ndv_even, ndv_odd) AS est_rows, actual_rows,
        |  round(CAST(abs(n_even * n_odd // GREATEST(ndv_even, ndv_odd) - actual_rows) AS DOUBLE)
        |    / actual_rows, 4) AS rel_err
        |FROM flat""".stripMargin,

    "q180_ndv_stats_file" ->
      """WITH hp AS (
        |  SELECT DISTINCT CAST('0x' || substring(md5('ndv:p:' || CAST(l_partkey AS VARCHAR)), 1, 7) AS BIGINT) AS h
        |  FROM lineitem),
        |hs AS (
        |  SELECT DISTINCT CAST('0x' || substring(md5('ndv:s:' || CAST(l_suppkey AS VARCHAR)), 1, 7) AS BIGINT) AS h
        |  FROM lineitem),
        |rp AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM hp),
        |rs AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM hs),
        |b AS (
        |  SELECT 'l_partkey' AS "column",
        |    (SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) FROM lineitem) AS exact_distinct,
        |    (SELECT CAST(count(*) AS BIGINT) FROM hp) AS nh,
        |    (SELECT h FROM rp WHERE rn = 64) AS hk
        |  UNION ALL
        |  SELECT 'l_suppkey',
        |    (SELECT CAST(count(DISTINCT l_suppkey) AS BIGINT) FROM lineitem),
        |    (SELECT CAST(count(*) AS BIGINT) FROM hs),
        |    (SELECT h FROM rs WHERE rn = 64))
        |SELECT "column", exact_distinct,
        |  CAST(CASE WHEN hk IS NULL THEN nh
        |       ELSE (63 * CAST(268435456 AS BIGINT)) // hk END AS BIGINT) AS ndv_est,
        |  round(CAST(abs((CASE WHEN hk IS NULL THEN nh
        |       ELSE (63 * CAST(268435456 AS BIGINT)) // hk END) - exact_distinct) AS DOUBLE)
        |    / exact_distinct, 4) AS rel_err
        |FROM b ORDER BY "column"""".stripMargin,

    "q179_planning_funnel" ->
      """WITH o AS (
        |  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS INT) AS d,
        |         o_orderkey % 16 AS sub, o_totalprice AS p
        |  FROM orders),
        |f AS (SELECT d, sub, CAST(count(*) AS BIGINT) AS rc, max(p) AS hi
        |      FROM o GROUP BY 1, 2)
        |SELECT d, CAST(count(*) AS BIGINT) AS files_after_l1,
        |  CAST(sum(CASE WHEN hi < 300000.0 THEN 1 ELSE 0 END) AS BIGINT) AS files_skipped_l2,
        |  CAST(sum(CASE WHEN hi < 300000.0 THEN 0 ELSE 1 END) AS BIGINT) AS files_scanned,
        |  CAST(sum(CASE WHEN hi < 300000.0 THEN 0 ELSE rc * 4096 END) AS BIGINT) AS bytes_scanned
        |FROM f
        |WHERE d BETWEEN date_diff('day', DATE '1970-01-01', DATE '1997-06-01')
        |            AND date_diff('day', DATE '1970-01-01', DATE '1997-08-31')
        |GROUP BY d ORDER BY d""".stripMargin,

    "q178_incremental_maintenance" ->
      """WITH b AS (
        |  SELECT LEAST(CAST(FLOOR(l_extendedprice / 12000) AS BIGINT), 7) AS fid
        |  FROM lineitem),
        |s1 AS (SELECT fid, CAST(count(*) AS BIGINT) AS rc FROM b GROUP BY fid),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem
        |       WHERE l_orderkey % 13 = 0)
        |SELECT CAST(0 AS INT) AS content,
        |  (SELECT CAST(count(DISTINCT fid // 2) AS BIGINT) FROM s1 WHERE fid < 4)
        |    + (SELECT CAST(count(*) AS BIGINT) FROM s1 WHERE fid >= 4) AS n_files,
        |  (SELECT CAST(sum(rc) AS BIGINT) FROM s1) AS total_rows,
        |  (SELECT CAST(sum(rc) * 100 AS BIGINT) FROM s1) AS total_bytes
        |UNION ALL
        |SELECT 1, 1, n, n * 20 + 40 FROM nd
        |ORDER BY content""".stripMargin,

    "q177_matryoshka_audit" ->
      """WITH pe AS (
        |  SELECT vec_id, unnest(range(1, 65)) AS pos, embedding
        |  FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) >= 64),
        |q AS (SELECT vec_id, CAST(pos AS BIGINT) AS pos,
        |        CAST(FLOOR(CAST(embedding[pos] AS DOUBLE) * 64) AS BIGINT) AS qv
        |      FROM pe),
        |s AS (SELECT vec_id,
        |        CAST(sum(CASE WHEN pos <= 8 THEN qv * qv ELSE 0 END) AS BIGINT) AS s8,
        |        CAST(sum(CASE WHEN pos <= 16 THEN qv * qv ELSE 0 END) AS BIGINT) AS s16,
        |        CAST(sum(CASE WHEN pos <= 32 THEN qv * qv ELSE 0 END) AS BIGINT) AS s32,
        |        CAST(sum(qv * qv) AS BIGINT) AS s64
        |      FROM q GROUP BY 1),
        |b AS (
        |  SELECT CAST(8 AS INT) AS budget, s8 AS sb, s64 FROM s WHERE s64 > 0
        |  UNION ALL SELECT 16, s16, s64 FROM s WHERE s64 > 0
        |  UNION ALL SELECT 32, s32, s64 FROM s WHERE s64 > 0),
        |c AS (SELECT budget, sb, s64,
        |        sqrt(CAST(sb AS DOUBLE)) / sqrt(CAST(s64 AS DOUBLE)) AS cos FROM b)
        |SELECT budget, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(sb) AS BIGINT) AS energy_b,
        |  CAST(sum(s64) AS BIGINT) AS energy_full,
        |  CAST(CAST(sum(sb) AS BIGINT) AS DOUBLE) / CAST(sum(s64) AS BIGINT) AS energy_kept,
        |  min(cos) AS min_cos, max(cos) AS max_cos,
        |  CAST(sum(CASE WHEN cos >= 0.95 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi
        |FROM c GROUP BY budget ORDER BY budget""".stripMargin,

    "q175_dp_release" ->
      """WITH g AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS true_n,
        |         CAST(sum(doc_id) AS BIGINT) AS sd
        |  FROM documents GROUP BY 1, 2),
        |u AS (SELECT *, CAST((sd * 2654435761) % 1000003 AS DOUBLE) / 1000003.0 AS u FROM g),
        |nz AS (SELECT *, round(-sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS noise FROM u)
        |SELECT lang, source, true_n, noise, true_n + noise AS noisy_n
        |FROM nz ORDER BY lang, source""".stripMargin,

    "q170_bm25" ->
      """WITH dl AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
        |         string_split(text, ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS sdl FROM dl),
        |terms AS (SELECT doc_id, dl, unnest(toks) AS term FROM dl),
        |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf FROM terms
        |       WHERE term IN ('scan', 'window', 'part') GROUP BY 1, 2, 3),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT doc_id, dl, term,
        |    ln((CAST(n.n AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0) *
        |    (tf * (1.2 + 1.0)) /
        |    (tf + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl * n.n AS DOUBLE) / n.sdl)) AS part
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |pt AS (
        |  SELECT doc_id, dl,
        |    coalesce(sum(CASE WHEN term = 'scan' THEN part END), 0.0) AS p_scan,
        |    coalesce(sum(CASE WHEN term = 'window' THEN part END), 0.0) AS p_window,
        |    coalesce(sum(CASE WHEN term = 'part' THEN part END), 0.0) AS p_part
        |  FROM scored GROUP BY 1, 2)
        |SELECT doc_id, dl,
        |  CAST((CASE WHEN p_scan <> 0.0 THEN 1 ELSE 0 END) +
        |       (CASE WHEN p_window <> 0.0 THEN 1 ELSE 0 END) +
        |       (CASE WHEN p_part <> 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_terms_hit,
        |  round(p_scan + p_window + p_part, 6) AS score
        |FROM pt ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "q171_k_anonymity" ->
      """WITH qi AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nat, c_mktsegment AS seg,
        |         CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS balk
        |  FROM customer),
        |classes AS (
        |  SELECT nat, seg, balk, CAST(count(*) AS BIGINT) AS class_size
        |  FROM qi GROUP BY 1, 2, 3),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM qi),
        |h AS (SELECT class_size, CAST(count(*) AS BIGINT) AS n_classes
        |      FROM classes GROUP BY 1)
        |SELECT class_size, n_classes, class_size * n_classes AS n_rows,
        |  CAST(class_size * n_classes AS DOUBLE) / total AS pct_rows
        |FROM h CROSS JOIN tot ORDER BY class_size""".stripMargin,

    "q172_power_iteration" ->
      """WITH pe AS (
        |  SELECT vec_id, unnest(range(1, 17)) AS pos, embedding
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND len(embedding) >= 16 AND vec_id < 2000),
        |q AS (SELECT vec_id, CAST(pos AS BIGINT) AS pos,
        |        CAST(FLOOR(CAST(embedding[pos] AS DOUBLE) * 64) AS BIGINT) AS qv
        |      FROM pe),
        |g AS (SELECT a.pos AS di, b.pos AS dj, CAST(sum(a.qv * b.qv) AS BIGINT) AS g
        |      FROM q a JOIN q b ON a.vec_id = b.vec_id GROUP BY 1, 2),
        |v1 AS (SELECT di, CAST(sum(g) AS BIGINT) AS v1 FROM g GROUP BY 1),
        |v2 AS (SELECT g.di, CAST(sum(g.g * v1.v1) AS BIGINT) AS v2
        |       FROM g JOIN v1 ON g.dj = v1.di GROUP BY 1),
        |m AS (SELECT CAST(max(abs(v2)) AS BIGINT) AS m2 FROM v2)
        |SELECT v1.di AS dim, v1.v1 AS v1, v2.v2 AS v2,
        |  CASE WHEN v1.v1 = 0 THEN NULL
        |       ELSE CAST(v2.v2 AS DOUBLE) / v1.v1 END AS eig_ratio,
        |  CASE WHEN m2 = 0 THEN NULL
        |       ELSE CAST(v2.v2 AS DOUBLE) / m2 END AS direction
        |FROM v1 JOIN v2 USING (di) CROSS JOIN m ORDER BY dim""".stripMargin,

    "q169_snapshot_changelog" ->
      """WITH b AS (
        |  SELECT LEAST(CAST(FLOOR(l_extendedprice / 12000) AS BIGINT), 7) AS fid
        |  FROM lineitem),
        |s1 AS (SELECT fid, CAST(count(*) AS BIGINT) AS rc FROM b GROUP BY fid),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem
        |       WHERE l_orderkey % 13 = 0),
        |removed AS (
        |  SELECT 'f' || fid || '.parquet' AS file_path, CAST(0 AS INT) AS content,
        |         'removed' AS change, rc AS record_count,
        |         CAST(rc * 100 AS BIGINT) AS size_bytes
        |  FROM s1 WHERE fid < 4),
        |added_data AS (
        |  SELECT 'c' || (fid // 2) || '.parquet' AS file_path, CAST(0 AS INT),
        |         'added', CAST(sum(rc) AS BIGINT),
        |         CAST(sum(rc) * 100 AS BIGINT)
        |  FROM s1 WHERE fid < 4 GROUP BY fid // 2),
        |added_del AS (
        |  SELECT 'del0.parquet', CAST(1 AS INT), 'added', n,
        |         CAST(n * 20 + 40 AS BIGINT) FROM nd)
        |SELECT * FROM removed UNION ALL SELECT * FROM added_data
        |UNION ALL SELECT * FROM added_del
        |ORDER BY change, file_path""".stripMargin)
}
