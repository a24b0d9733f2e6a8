package graft

import org.apache.spark.sql.SparkSession

/** Temp directories for suites, deleted recursively on JVM exit — a
  * bench/test host must not accumulate graft_* trees across runs. */
object TestTmp {
  def dir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)))
    p.toString
  }
}

/** One shared local session for all suites (cheap startup, no UI). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** How many Spark jobs `body` launched from this thread (and threads it
    * starts): the body runs under a unique job group, read back through
    * the status tracker. The tracker is fed asynchronously, so a marker
    * job in its own group acts as a barrier — once the tracker lists the
    * marker, every earlier job event has been applied. */
  def jobsDuring(spark: SparkSession)(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-during-${java.util.UUID.randomUUID()}"
    def inGroup(g: String)(f: => Any): Unit = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }
    inGroup(group)(body)
    val marker = s"$group-marker"
    inGroup(marker)(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(marker).isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(10)
    require(sc.statusTracker.getJobIdsForGroup(marker).nonEmpty,
      "jobsDuring: the status tracker never saw the marker job")
    sc.statusTracker.getJobIdsForGroup(group).length
  }
}
