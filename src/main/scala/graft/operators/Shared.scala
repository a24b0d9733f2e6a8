package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Relations shared by the query files — one definition each, because
  * oracle parity across queries (q21/q22 vs q42, q10 vs q44/q45) depends on
  * these staying bit-identical. */
private[graft] object Rel {

  def t(dir: String, name: String)(implicit s: SparkSession): DataFrame = {
    // sessions not built via GraftExtensions still get the hash28 peephole
    graft.plans.PortableHash28Rewrite.ensure(s)
    s.read.parquet(s"$dir/$name.parquet")
  }

  /** The canonical events derivation: `ts_us` (bigint epoch micros) and
    * `tsx` (session-tz timestamp) from whatever physical type the
    * generator gave `ts`. Earlier corpora shipped INT64 TIMESTAMP(NANOS)
    * (read nanos-as-long, divide); current ones ship timestamp[us]
    * (TIMESTAMP_NTZ — epoch micros via a tz-independent timestampdiff,
    * matching the DuckDB oracles' `epoch_us(ts)` exactly). Sniffing the
    * schema instead of pinning one dialect keeps every query and oracle
    * byte-stable across corpus regenerations. */
  def events(dir: String)(implicit s: SparkSession): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Read timestamp[us] columns as session-tz TIMESTAMP, not NTZ: the
    // parquet micros then surface verbatim through `unix_micros(ts)` — a
    // no-op projection of the internal long — where the NTZ dialect pays
    // a per-row timestampdiff (measured ~60% extra scan cost on the r8
    // corpus, the whole q131/q133 round-over-round regression). Session
    // tz is UTC everywhere here, so the derived micros are bit-identical
    // (SqlEnvSpec pins the parity).
    s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val raw = t(dir, "events")
    raw.withColumn("ts_us", expr(tsUsSql(raw.schema("ts").dataType)))
      .withColumn("tsx", timestamp_micros(col("ts_us")))
  }

  /** SQL expression deriving epoch-micros from an events `ts` column of
    * the given physical type (shared with the CLI's streaming reads,
    * whose schema comes from the same parquet). */
  def tsUsSql(tsType: org.apache.spark.sql.types.DataType): String = tsType match {
    case org.apache.spark.sql.types.LongType => "ts div 1000" // nanos-as-long
    case _: org.apache.spark.sql.types.TimestampNTZType =>
      "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
    case _: org.apache.spark.sql.types.TimestampType =>
      "unix_micros(ts)" // UTC session: the internal long, no arithmetic
    case _ => "unix_micros(cast(ts as timestamp))"
  }
}

/** Tmpdir table-layout fixtures for the lake-ops queries (q151/q152/
  * q154/q168/q169 build REAL Iceberg layouts inside the query body).
  * One JVM-exit hook per distinct dir deletes the tree recursively, so
  * repeated runs against different corpus paths don't accumulate orphan
  * `graft-q*` trees on bench hosts. */
private[graft] object PlanProbe {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

  /** Every graft-iceberg BatchScan in an EXECUTED plan, descending
    * through AQE wrappers (QueryStageExec nodes are leaves — their
    * materialized plan hangs off `plan`, not `children`). */
  def graftScans(p: SparkPlan): Seq[BatchScanExec] =
    p.collectWithSubqueries {
      case b: BatchScanExec
          if b.scan.description().contains("GraftIcebergScan") => Seq(b)
      case q: QueryStageExec => graftScans(q.plan)
      case a: AdaptiveSparkPlanExec => graftScans(a.executedPlan)
    }.flatten

  /** Sum of `numOutputRows` across the executed plan's graft scans —
    * call AFTER an action on the same Dataset's queryExecution. */
  def rowsReadByGraftScans(df: org.apache.spark.sql.DataFrame): Long =
    graftScans(df.queryExecution.executedPlan)
      .map(_.metrics("numOutputRows").value).sum

  /** Every shuffle exchange in an executed plan (AQE-aware). */
  def shuffles(p: SparkPlan): Seq[SparkPlan] =
    p.collectWithSubqueries {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
        Seq(e: SparkPlan)
      case q: QueryStageExec => shuffles(q.plan)
      case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
    }.flatten

  /** Every join operator in an executed plan (AQE-aware). */
  def joins(p: SparkPlan): Seq[SparkPlan] =
    p.collectWithSubqueries {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
        Seq(j: SparkPlan)
      case q: QueryStageExec => joins(q.plan)
      case a: AdaptiveSparkPlanExec => joins(a.executedPlan)
    }.flatten

  /** Shuffles feeding any join's input — empty means every join in the
    * plan ran co-partitioned (storage-partitioned or co-located). */
  def shufflesBelowJoins(p: SparkPlan): Seq[SparkPlan] =
    joins(p).flatMap(_.children.flatMap(shuffles))
}

private[graft] object TmpFixture {
  private val registered = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** `<tmpdir>/graft-<tag>-<corpus-hash>`, cleaned on JVM exit. */
  def dir(tag: String, corpusDir: String): java.io.File = {
    val f = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-$tag-${Integer.toHexString(corpusDir.hashCode)}")
    if (registered.putIfAbsent(f.getAbsolutePath, java.lang.Boolean.TRUE) == null)
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        org.apache.commons.io.FileUtils.deleteQuietly(f)))
    f
  }
}

/** Independent Spark jobs run side by side, each on its own thread. One
  * call is one pool with a thread per branch, shut down when the call
  * returns. Each branch runs under `SQLExecution.withThreadLocalCaptured`,
  * so it carries the caller's local properties (job group, job tags,
  * scheduler pool) and active session. Its jobs are also tagged with a
  * per-call tag. When a branch fails, the jobs its siblings are running
  * are cancelled by that tag. The call returns once every branch has
  * settled, and then rethrows the first failure. */
private[graft] object Overlap {
  import java.util.concurrent.Executors
  import java.util.concurrent.atomic.AtomicReference
  import org.apache.spark.sql.execution.SQLExecution

  /** The branches' results, in branch order. */
  def all[T](spark: SparkSession)(branches: (() => T)*): Seq[T] = {
    val session = spark match { case c: org.apache.spark.sql.classic.SparkSession => c }
    val sc = spark.sparkContext
    val tag = s"graft-overlap-${java.util.UUID.randomUUID()}"
    val first = new AtomicReference[Throwable]()
    val pool = Executors.newFixedThreadPool(branches.size max 1)
    try {
      val futures = branches.map { b =>
        SQLExecution.withThreadLocalCaptured(session, pool) {
          sc.addJobTag(tag)
          try b() catch {
            case e: Throwable =>
              if (first.compareAndSet(null, e))
                sc.cancelJobsWithTag(tag, s"a sibling branch failed: $e")
              throw e
          }
        }
      }
      // settle every branch before returning: no job of this call
      // outlives it
      futures.foreach(f => scala.util.Try(f.join()))
      Option(first.get).foreach(e => throw e)
      futures.map(_.join())
    } finally pool.shutdownNow()
  }
}

/** The merge-on-read table q152 and q217 read: lineitem's
  * `l_orderkey % 100 < 4` rows in two data files (sequence numbers 1 and
  * 2, split on orderkey parity), a position-delete file killing every 7th
  * row of the first, and an equality-delete file on the partkeys
  * divisible by 131 (both sequence 2). Each data file is sorted on
  * (orderkey, linenumber, partkey, suppkey); (orderkey, linenumber) alone
  * is not unique in this corpus, and the full key makes a row's position
  * its rank on both engines. The file writes overlap; the position
  * deletes wait only on the first file's row count. */
private[graft] object MorFixture {
  import graft.sources.IcebergLayoutWriter.{ManifestEntrySpec, sortedSingle,
    writeSingleParquet, writeTable}

  /** Writes the table under `TmpFixture.dir(name, dir)`; `equalityIds`
    * goes on the equality-delete entry. */
  def table(name: String, dir: String, equalityIds: Seq[Int])(
      implicit s: SparkSession): java.io.File = {
    import s.implicits._
    val base = Rel.t(dir, "lineitem").filter(col("l_orderkey") % 100 < 4)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"),
        col("l_returnflag"), floor(col("l_quantity")).cast("long").as("qty"),
        (col("l_orderkey") % 2).as("fid"))
    val tbl = TmpFixture.dir(name, dir)
    org.apache.commons.io.FileUtils.deleteQuietly(tbl)
    val dataDir = new java.io.File(tbl, "data"); dataDir.mkdirs()
    val Seq(fa, fb, pd, ed) = Seq("seq1", "seq2", "posdel", "eqdel")
      .map(n => new java.io.File(dataDir, s"$n.parquet"))
    def slice(fid: Int, dest: java.io.File): Long =
      writeSingleParquet(sortedSingle(base.filter(col("fid") === fid).drop("fid"),
        col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey")), dest)
    val Seq(nA, nB, _) = Overlap.all(s)(
      () => {
        val n = slice(0, fa)
        writeSingleParquet(
          (0L until n by 7).map(p => (fa.getAbsolutePath, p)).toDF("file_path", "pos"), pd)
        n
      },
      () => slice(1, fb),
      () => writeSingleParquet(sortedSingle(
        base.filter(col("l_partkey") % 131 === 0).select(col("l_partkey"))
          .distinct(), col("l_partkey")), ed))
    writeTable(tbl, Seq(
      ManifestEntrySpec(status = 1, content = 0, filePath = fa.getAbsolutePath,
        recordCount = nA, sizeBytes = fa.length(), sequenceNumber = 1L),
      ManifestEntrySpec(status = 1, content = 0, filePath = fb.getAbsolutePath,
        recordCount = nB, sizeBytes = fb.length(), sequenceNumber = 2L),
      ManifestEntrySpec(status = 1, content = 1, filePath = pd.getAbsolutePath,
        sizeBytes = pd.length(), sequenceNumber = 2L),
      ManifestEntrySpec(status = 1, content = 2, filePath = ed.getAbsolutePath,
        sizeBytes = ed.length(), sequenceNumber = 2L, equalityIds = equalityIds)))
    tbl
  }
}

/** The decontamination fixture + 8-gram shingle machinery shared by
  * q60/q67 (Queries3) and q74/q75/q80 (Queries5): every 97th doc is the
  * eval set; each eval doc has a contaminated train twin at id+500000
  * carrying its text minus the first token. ONE definition (the [[Rel]]
  * rule): oracle parity across rounds depends on these staying
  * bit-identical. */
private[graft] object DecontFixture {

  val NGram = 8
  val OverlapMin = 3

  def evalDocs(dir: String)(implicit s: SparkSession): DataFrame =
    Rel.t(dir, "documents").filter(col("doc_id") % 97 === 0)
      .select(col("doc_id"), col("lang"), col("text"))

  def trainDocs(dir: String)(implicit s: SparkSession): DataFrame = {
    val docs = Rel.t(dir, "documents").select(col("doc_id"), col("lang"), col("text"))
    docs.filter(col("doc_id") % 97 =!= 0)
      .union(evalDocs(dir).select((col("doc_id") + 500000).as("doc_id"), col("lang"),
        expr("substring(text, instr(text, ' ') + 1)").as("text")))
  }

  val evalSql: String =
    "SELECT doc_id, lang, text FROM documents WHERE doc_id % 97 = 0"

  val trainSql: String =
    s"""SELECT doc_id, lang, text FROM documents WHERE doc_id % 97 <> 0
       |  UNION ALL
       |  SELECT doc_id + 500000 AS doc_id, lang,
       |         substring(text, position(' ' IN text) + 1) AS text
       |  FROM documents WHERE doc_id % 97 = 0""".stripMargin

  /** Distinct 8-gram shingle hashes of a (doc_id, …, text) relation — the
    * native [[graft.functions.ShingleHashes]] kernel (one streamed MD5 pass
    * per row, no per-shingle string allocation); value-identical to the
    * relational explode→hash shape the oracle uses. */
  def shingleHashes(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
      explode(graft.functions.TextHashExprs.shingleHashes(
        split(col("text"), lit(" ")), NGram)).as("h"))

  /** DuckDB twin of [[shingleHashes]] over a named relation. */
  def shingleHashesSql(rel: String): String =
    s"""SELECT doc_id, CAST('0x' || substring(md5(sh), 1, 7) AS BIGINT) AS h
       |  FROM (SELECT doc_id, unnest(list_distinct(list_transform(
       |          range(1, greatest(len(string_split(text, ' ')) - ${NGram - 2}, 1)),
       |          i -> ${(0 until NGram).map(j => s"string_split(text, ' ')[i+$j]")
                        .mkString(" || ' ' || ")}))) AS sh
       |        FROM $rel)""".stripMargin
}

/** The dedup test corpus and its minhash machinery: originals + synthesized
  * near-dup twins (first token dropped), the engine's standard permutation
  * constants, and the DuckDB SQL fragments that recompute them verbatim. */
private[graft] object DedupCorpus {

  val P = 2147483647L
  val A = Seq(1000003L, 1999993L, 999331L, 1112111L, 1300021L, 1500007L, 1700021L, 1900037L)
  val B = Seq(12345L, 54321L, 7777L, 424242L, 98765L, 13579L, 24680L, 111111L)

  /** Originals + drop-first-token twins (doc_id + 100000). */
  def corpus(dir: String)(implicit s: SparkSession): DataFrame = {
    val docs = Rel.t(dir, "documents").select(col("doc_id"), col("text"))
    docs.union(docs.select((col("doc_id") + 100000).as("doc_id"),
      expr("substring(text, instr(text, ' ') + 1)").as("text")))
  }

  val corpusSql: String =
    """SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id,
      |         substring(text, position(' ' IN text) + 1) AS text
      |  FROM documents""".stripMargin

  // NOTE: continuation lines must not begin with "||" — stripMargin would
  // eat the first pipe and turn concat into bitwise-or.
  val shingleHashesSql: String =
    s"""SELECT doc_id, CAST('0x' || substring(md5(sh), 1, 7) AS BIGINT) AS h
       |  FROM (SELECT doc_id, unnest(list_distinct(list_transform(
       |          range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
       |          i -> string_split(text, ' ')[i] || ' ' ||
       |            string_split(text, ' ')[i+1] || ' ' ||
       |            string_split(text, ' ')[i+2]))) AS sh
       |        FROM corpus)""".stripMargin

  def minhashAggsSql: String = A.indices.map(j =>
    s"min((h * ${A(j)} + ${B(j)}) % $P) AS mh$j").mkString(", ")
}

/** The CDC change-log fixture shared by q76 (latest-wins MERGE, Queries5)
  * and q87 (SCD Type-2 history, Queries6): base snapshot at version 0, a
  * v1 update wave (+100 on every 10th key), v2 deletes (every 50th key —
  * which also took the v1 update, so ordering matters) and v2 inserts in
  * the strictly-negative key space (-(k+1); orderkeys start at 0, so a
  * synthesized insert can never collide with a real base key). ONE
  * definition (the [[Rel]] rule): q76/q87 oracle parity depends on the two
  * queries seeing a bit-identical log. */
private[graft] object CdcFixture {

  def log(dir: String)(implicit s: SparkSession): DataFrame = {
    val orders = Rel.t(dir, "orders")
    val base = orders.select(col("o_orderkey").as("k"),
      lit(0L).as("version"), lit("U").as("op"),
      col("o_totalprice").as("price"), col("o_orderpriority").as("prio"))
    val v1 = orders.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey").as("k"), lit(1L).as("version"), lit("U").as("op"),
        (col("o_totalprice") + 100.0).as("price"), col("o_orderpriority").as("prio"))
    val v2d = orders.filter(col("o_orderkey") % 50 === 0)
      .select(col("o_orderkey").as("k"), lit(2L).as("version"), lit("D").as("op"),
        lit(0.0).as("price"), col("o_orderpriority").as("prio"))
    val v2i = orders.filter(col("o_orderkey") % 100 === 0)
      .select((-(col("o_orderkey") + 1)).as("k"), lit(2L).as("version"),
        lit("U").as("op"), (col("o_totalprice") * 2).as("price"),
        col("o_orderpriority").as("prio"))
    base.union(v1).union(v2d).union(v2i)
  }

  val logSql: String =
    """SELECT o_orderkey AS k, CAST(0 AS BIGINT) AS version, 'U' AS op,
      |         o_totalprice AS price, o_orderpriority AS prio FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, 1, 'U', o_totalprice + 100.0, o_orderpriority
      |  FROM orders WHERE o_orderkey % 10 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 2, 'D', 0.0, o_orderpriority
      |  FROM orders WHERE o_orderkey % 50 = 0
      |  UNION ALL
      |  SELECT -(o_orderkey + 1), 2, 'U', o_totalprice * 2, o_orderpriority
      |  FROM orders WHERE o_orderkey % 100 = 0""".stripMargin
}
