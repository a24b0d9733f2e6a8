package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SqlEnv

/** The pure-SQL surface: after SqlEnv.register, a user drives the engine
  * with spark.sql alone — tables, events derivations, and the custom
  * function family all resolve. */
class SqlEnvSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val dir = "/root/testdata/sf0.001"

  test("register exposes all tables and the engine functions to SQL") {
    val views = SqlEnv.register(spark, dir)
    assert(views.contains("lineitem") && views.contains("events") && views.contains("documents"))
    // cross-table SQL join
    val n = spark.sql(
      """SELECT count(*) FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_nationkey < 5""".stripMargin).head().getLong(0)
    assert(n > 0)
    // events derived columns present
    val ev = spark.sql("SELECT min(ts_us), min(unix_micros(tsx)) FROM events").head()
    assert(ev.getLong(0) == ev.getLong(1))
    // a full dedup pipeline in ONE SQL statement via the native kernels
    val dups = spark.sql(
      """WITH sigs AS (
        |  SELECT doc_id, minhash_sig(split(text, ' ')) AS mh FROM documents
        |  WHERE doc_id < 200 AND minhash_sig(split(text, ' ')) IS NOT NULL),
        |bands AS (
        |  SELECT doc_id,
        |    concat_ws('_', '0', mh[0], mh[1], mh[2], mh[3]) AS bkey FROM sigs
        |  UNION ALL
        |  SELECT doc_id,
        |    concat_ws('_', '1', mh[4], mh[5], mh[6], mh[7]) AS bkey FROM sigs)
        |SELECT count(*) FROM bands a JOIN bands b
        |  ON a.bkey = b.bkey AND a.doc_id < b.doc_id""".stripMargin).head().getLong(0)
    // documents corpus has no exact twins -> few/no candidate collisions,
    // but the statement must plan and run through the native expressions
    assert(dups >= 0)
    // fingerprints + formatters
    val fmt = spark.sql(
      "SELECT poly_hash('abc'), format_size(1234.0), simhash_sig(split('a b c', ' '))").head()
    assert(fmt.getString(1) == "1.21 KB")
  }

  test("events micros: the NTZ and the session-tz readings of a timestamp[us] ts agree") {
    // Rel.events reads ts with inferTimestampNTZ off (unix_micros, no
    // arithmetic); the NTZ dialect is the oracle-matching derivation
    def micros(inferNtz: Boolean): (org.apache.spark.sql.types.DataType, Seq[Long]) = {
      val sess = spark.newSession()
      sess.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", inferNtz.toString)
      val raw = sess.read.parquet(s"$dir/events.parquet")
      val tsType = raw.schema("ts").dataType
      (tsType, raw.selectExpr(graft.operators.Rel.tsUsSql(tsType))
        .collect().map(_.getLong(0)).toSeq)
    }
    val (ntzType, ntz) = micros(inferNtz = true)
    val (ltzType, ltz) = micros(inferNtz = false)
    assert(ntzType == org.apache.spark.sql.types.TimestampNTZType)
    assert(ltzType == org.apache.spark.sql.types.TimestampType)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(ntz.nonEmpty && ntz == ltz)
  }
}
