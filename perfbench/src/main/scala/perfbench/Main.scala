package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --cores <n> --work-dir <dir> [--trace-out <file>]`.
  *
  * One SparkSession at local[cores]; one client thread in a closed loop.
  * The last stdout line is `PERFBENCH_RESULT {json}`; `run.py` turns it
  * into the benchmark's result line. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val wl = Workload(opts.workload, opts.seed)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${opts.cores}]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", opts.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(opts.workDir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(opts.workDir, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = (System.nanoTime() - t0) / 1e6
    try {
      val listener = if (opts.trace) Some(new LayerListener) else None
      listener.foreach(spark.sparkContext.addSparkListener)
      val tr = new Tracer(spark.sparkContext, opts.trace)
      val run = new Run(spark, tr, opts)
      val (_, layoutMs) = tr.setup("layout_write")(wl.generate(run))
      val (_, warmupMs) = tr.setup("warmup")(wl.warmup(run))
      run.calibrate()
      run.timedSamples = true
      val window = wl.loop(run, System.nanoTime() + (opts.seconds * 1e9).toLong)
      run.timedSamples = false
      run.calibrate()
      wl.finish(run)
      run.goldenCanary()
      org.apache.spark.perfbench.BusDrain(spark.sparkContext)
      val report = new Report(wl, run, window, Setup(sessionMs, layoutMs, warmupMs), listener)
      opts.traceOut.foreach(tr.write)
      report.print()
      run.probe.close()
    } finally spark.stop()
  }
}

final case class Setup(sessionMs: Double, layoutMs: Double, warmupMs: Double) {
  def seconds: Double = (sessionMs + layoutMs + warmupMs) / 1000
}
