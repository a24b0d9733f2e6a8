package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.metrics.MetricsCalculator
import graft.model.TableMetricsWide
import graft.render.Renderer
import graft.sources.IcebergManifestSource

/** Command-line options of one benchmark run. */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, cores: Int, workDir: File, traceOut: Option[File])

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", req("cores").toInt, new File(req("work-dir")),
      m.get("trace-out").map(new File(_)))
  }
}

/** One timed operation: wall-clock latency and the CPU time the whole
  * process spent meanwhile (all threads: driver, tasks, JIT, GC). */
final case class Sample(kind: String, ms: Double, cpuMs: Double, traced: Boolean)

/** Host speed probe: a fixed integer-mixing kernel run at once on as many
  * threads as Spark has cores. On a shared host the machine speeds up and
  * slows down by tens of percent from minute to minute; dividing timings by
  * this probe's median removes most of that drift. It runs only while the
  * program is quiescent, just before and just after the timed window (see
  * [[Run.calibrate]]). It calls no program code and touches no memory
  * beyond its registers. */
final class Calibration(threads: Int) {
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(
    math.max(1, threads - 1), { r: Runnable =>
      val t = new Thread(r, "perfbench-probe"); t.setDaemon(true); t
    })

  def ms(): Double = {
    val t0 = System.nanoTime()
    val others = (1 until threads).map(k =>
      pool.submit(new java.util.concurrent.Callable[Long] { def call() = Calibration.kernel(k) }))
    Calibration.sink = Calibration.kernel(0)
    others.foreach(f => Calibration.sink += f.get())
    (System.nanoTime() - t0) / 1e6
  }

  def close(): Unit = pool.shutdownNow()
}

object Calibration {
  /** The probe's median on the reference host (4 vCPU VM, JDK 17) when it
    * is quiet. */
  val ReferenceMs = 6.2
  @volatile var sink = 0L

  def kernel(salt: Int): Long = {
    var x = 88172645463325252L + salt
    var acc = 0L
    var i = 0
    while (i < 2000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x >>> 60
      i += 1
    }
    acc
  }
}

object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def ms: Double = os.getProcessCpuTime / 1e6
}

/** State shared by a run's workload: the session, the tracer, the op
  * counters and the latency samples. */
final class Run(val spark: SparkSession, val tr: Tracer, val opts: Opts) {
  var attempted = 0L
  var failed = 0L
  val samples = mutable.ArrayBuffer.empty[Sample]
  /** Probe times, from just before and just after the window. */
  val calibration = mutable.ArrayBuffer.empty[Double]
  val probe = new Calibration(opts.cores)
  /** (kind, ms) of the passing ops outside the timed window, in order. */
  val warmup = mutable.ArrayBuffer.empty[(String, Double)]
  private val seen = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  val notes = mutable.ArrayBuffer.empty[String]
  /** Per-layer numbers a workload measures itself (name → value). */
  val layer = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  var timedSamples = false
  /** Whether the most recent op was traced. */
  var lastTraced = false

  /** In a traced run every other op of a kind inside the timed window is
    * traced; the untraced ones give the same run's tracing-off baseline. */
  private def nextTraced(kind: String): Boolean =
    opts.trace && timedSamples && {
      seen(kind) += 1
      seen(kind) % 2 == 0
    }

  /** Run one checked operation. A throw or a failed check counts as a
    * failed op; only passing ops inside the timed window give samples. */
  def op[T](kind: String)(body: => T)(check: T => Option[String]): Option[T] = {
    attempted += 1
    val traced = nextTraced(kind)
    lastTraced = traced
    try {
      val cpu0 = Cpu.ms
      val (v, ms) = tr.op(kind, traced)(body)
      val cpuMs = Cpu.ms - cpu0
      check(v) match {
        case None =>
          if (timedSamples) samples += Sample(kind, ms, cpuMs, traced)
          else warmup += ((kind, ms))
          Some(v)
        case Some(why) =>
          failed += 1
          notes += s"FAILED $kind: $why"
          None
      }
    } catch {
      case NonFatal(e) =>
        failed += 1
        notes += s"FAILED $kind: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
  }

  def work(sub: String): File = {
    val f = new File(opts.workDir, sub); f.mkdirs(); f
  }

  /** Waits until the program is quiescent: every queued listener event
    * delivered, a full collection, and no JIT compilation finished for
    * 100 ms (waiting at most 2 s), so neither the timed window nor the
    * probe shares the machine with work the program left behind. */
  def quiesce(): Unit = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    System.gc()
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 2000000000L
    var last = -1L
    while (jit.getTotalCompilationTime != last && System.nanoTime() < deadline) {
      last = jit.getTotalCompilationTime
      Thread.sleep(100)
    }
  }

  /** Quiesces, then runs the host speed probe [[Run.ProbesPerBlock]] times,
    * after three untimed runs that get the kernel compiled. */
  def calibrate(): Unit = {
    quiesce()
    (0 until 3).foreach(_ => probe.ms())
    (0 until Run.ProbesPerBlock).foreach(_ => calibration += probe.ms())
  }

  /** The diagnosis chain `graft.Cli manifest` runs, the same in traced and
    * untraced ops: `IcebergManifestSource.fromTableDir`, the 9 metrics,
    * collect, render. */
  def diagnose(dir: File, table: String): (TableMetricsWide, Long) = {
    import spark.implicits._
    val (files, n) = tr.span("scan.plan")(
      IcebergManifestSource.fromTableDir(spark, dir.getAbsolutePath, table))
    val wide = tr.span("metrics.run")(MetricsCalculator
      .computeMetricsWide(files, Seq((table, n)).toDS()).collect())
    require(wide.length == 1, s"expected one metrics row, got ${wide.length}")
    val text = tr.span("render.table")(
      Renderer.renderTable(table, wide.toSeq.flatMap(_.toRows), Renderer.LocalMode))
    require(text.startsWith(s"Table: $table"), s"unexpected report:\n$text")
    if (tr.recording) {
      layer("diag.manifests") += n
      layer("diag.partitions") += wide.head.totalPartitions
    }
    (wide.head, n)
  }

  /** One checked diagnosis op. After a traced one, and outside its timing,
    * the metadata steps `fromTableDir` is made of are called again one by
    * one, each under its own span of the same op: `manifestListPath` and
    * `manifestPaths`. They must find as many manifests as the diagnosis
    * read, or the op counts as failed. */
  def diagnoseOp(dir: File, table: String)(
      check: (TableMetricsWide, Long) => Option[String]): Option[TableMetricsWide] = {
    val res = op("diagnose")(diagnose(dir, table)) { case (w, n) => check(w, n) }
    if (lastTraced) res.foreach { case (_, n) =>
      val listed = tr.again {
        val path = dir.getAbsolutePath
        val list = tr.span("meta.resolve")(IcebergManifestSource.manifestListPath(spark, path))
        list.fold(0L)(l => tr.span("meta.list")(IcebergManifestSource
          .manifestPaths(spark.sparkContext.hadoopConfiguration, l)).size.toLong)
      }
      if (listed != n) {
        failed += 1
        notes += s"FAILED diagnose: $table lists $listed manifests, the diagnosis read $n"
      }
    }
    res.map(_._1)
  }

  /** Once per traced run: the three public steps `fromTableDir` is made of
    * (`manifestListPath`, `manifestPaths`, `fromManifests`) must give the
    * same entries as `fromTableDir`, so the per-layer `meta.*` figures
    * describe the chain the timed ops run. */
  def chainCheck(dir: File, table: String): Unit =
    if (opts.trace) op("chain_check") {
      val path = dir.getAbsolutePath
      val (whole, _) = IcebergManifestSource.fromTableDir(spark, path, table)
      IcebergManifestSource.manifestListPath(spark, path).fold((0L, 0L)) { l =>
        val paths = IcebergManifestSource.manifestPaths(spark.sparkContext.hadoopConfiguration, l)
        val parts = IcebergManifestSource.fromManifests(spark, paths, table)
        (whole.exceptAll(parts).count(), parts.exceptAll(whole).count())
      }
    } { d => if (d == (0L, 0L)) None else Some(s"$table: fromTableDir and its steps differ by $d entries") }

  /** Mismatches between a diagnosis (`n` = manifests it read) and the
    * generator's expectation. */
  def checkDiag(w: TableMetricsWide, n: Long, e: Expected): Option[String] =
    Seq(
      ("manifests", n, e.manifests.getOrElse(n)),
      ("FILE_COUNT", w.fileCountBefore, e.fileCount),
      ("TOTAL_TABLE_SIZE", w.totalTableSize, e.totalSize),
      ("TOTAL_PARTITIONS", w.totalPartitions, e.partitions),
      ("FULL_SCAN_OVERHEAD", w.fullScanOverheadBefore, e.readOps + n))
      .collectFirst { case (name, got, want) if got != want =>
        s"${w.table}: $name before = $got, expected $want" }

  /** BASELINE.md's calculator fixture, written as a real layout and
    * diagnosed once per run. */
  def goldenCanary(): Unit = {
    val dir = work("golden")
    Layouts.goldenTable(dir)
    op("canary")(diagnose(dir, "golden")) { case (w, n) =>
      val got = (n, w.fileCountBefore, w.fileCountAfter, w.worstFileCountBefore,
        w.worstFileCountAfter, w.fullScanOverheadBefore, w.fullScanOverheadAfter)
      val want = (10L, 900L, 9L, 400L, 3L, 1810L, 180L)
      if (got == want) None else Some(s"golden canary: got $got, expected $want")
    }
  }
}

object Run {
  val ProbesPerBlock = 15
}
