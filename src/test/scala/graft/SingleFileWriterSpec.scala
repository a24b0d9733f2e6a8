package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Pins the driver-arm contract of [[graft.sources.IcebergLayoutWriter.
  * writeSingleParquet]]: the driver-encoded file is BYTE-IDENTICAL to the
  * cluster-arm (coalesce(1) write job) file for the same frame, so every
  * downstream fact — manifest `sizeBytes` from `file.length()`, footer
  * stats, `_metadata.row_index` ordinals — is independent of which arm
  * ran. Also pins the cap fallback: past `spark.graft.
  * driverSingleFileRows` the cluster arm produces the same file. */
class SingleFileWriterSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val dir = "/root/testdata/sf0.001"

  private def bytes(f: java.io.File): Array[Byte] =
    java.nio.file.Files.readAllBytes(f.toPath)

  private def fixture = {
    import graft.sources.IcebergLayoutWriter
    // mixed types: longs, a string, a date-derived int, a double, nulls
    IcebergLayoutWriter.sortedSingle(
      spark.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey").as("k"),
          col("o_orderpriority").as("prio"),
          month(col("o_orderdate")).as("mon"),
          col("o_totalprice").as("price"),
          when(col("o_orderkey") % 7 === 0, lit(null).cast("string"))
            .otherwise(col("o_orderstatus")).as("status")),
      col("k"))
  }

  test("driver arm writes byte-identically to the cluster write arm") {
    val base = TestTmp.dir("graft_sfw")
    try {
      val capKey = "spark.graft.driverSingleFileRows"
      val df = fixture
      val drv = new java.io.File(base, "driver.parquet")
      val clu = new java.io.File(base, "cluster.parquet")
      val nDrv = graft.sources.IcebergLayoutWriter.writeSingleParquet(df, drv)
      spark.conf.set(capKey, "0") // force the cluster arm
      val nClu =
        try graft.sources.IcebergLayoutWriter.writeSingleParquet(df, clu)
        finally spark.conf.unset(capKey)
      assert(nDrv == nClu && nDrv > 0, s"row counts differ: $nDrv vs $nClu")
      assert(java.util.Arrays.equals(bytes(drv), bytes(clu)),
        s"driver and cluster arms must write identical bytes " +
          s"(${drv.length()} vs ${clu.length()} bytes on disk)")
      // read-back sanity: ordinals and values round-trip
      val back = spark.read.parquet(drv.getPath)
      assert(back.count() == nDrv)
      assert(back.agg(sum(col("k"))).head.getLong(0) ==
        fixture.agg(sum(col("k"))).head.getLong(0))
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(new java.io.File(base))
    }
  }

  test("a malformed driverSingleFileRows value fails, naming the key and the value") {
    val base = TestTmp.dir("graft_sfw_badcap")
    val capKey = "spark.graft.driverSingleFileRows"
    spark.conf.set(capKey, "lots")
    try Seq("parquet", "orc").foreach { fmt =>
      val dest = new java.io.File(base, s"out.$fmt")
      val e = intercept[IllegalArgumentException](
        if (fmt == "orc") graft.sources.IcebergLayoutWriter.writeSingleOrc(spark.range(3).toDF(), dest)
        else graft.sources.IcebergLayoutWriter.writeSingleParquet(spark.range(3).toDF(), dest))
      assert(e.getMessage.contains(capKey) && e.getMessage.contains("lots"), e.getMessage)
    } finally spark.conf.unset(capKey)
  }

  test("ORC driver arm writes byte-identically to the cluster write arm") {
    val base = TestTmp.dir("graft_sfw_orc")
    try {
      val capKey = "spark.graft.driverSingleFileRows"
      val df = fixture
      val drv = new java.io.File(base, "driver.orc")
      val clu = new java.io.File(base, "cluster.orc")
      val nDrv = graft.sources.IcebergLayoutWriter.writeSingleOrc(df, drv)
      spark.conf.set(capKey, "0") // force the cluster arm
      val nClu =
        try graft.sources.IcebergLayoutWriter.writeSingleOrc(df, clu)
        finally spark.conf.unset(capKey)
      assert(nDrv == nClu && nDrv > 0, s"row counts differ: $nDrv vs $nClu")
      assert(java.util.Arrays.equals(bytes(drv), bytes(clu)),
        s"ORC driver and cluster arms must write identical bytes " +
          s"(${drv.length()} vs ${clu.length()} bytes on disk)")
      val back = spark.read.orc(drv.getPath)
      assert(back.count() == nDrv)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(new java.io.File(base))
    }
  }

  test("past the row cap the probe falls back to the cluster arm") {
    val base = TestTmp.dir("graft_sfw_cap")
    try {
      val capKey = "spark.graft.driverSingleFileRows"
      spark.conf.set(capKey, "10") // orders at sf0.001 is ~1500 rows
      val f = new java.io.File(base, "capped.parquet")
      val n =
        try graft.sources.IcebergLayoutWriter.writeSingleParquet(fixture, f)
        finally spark.conf.unset(capKey)
      assert(n > 10, s"cluster arm must have written the full frame: $n")
      assert(spark.read.parquet(f.getPath).count() == n)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(new java.io.File(base))
    }
  }
}
