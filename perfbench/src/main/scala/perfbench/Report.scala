package perfbench

/** Turns a finished run into the human-readable report and the result
  * line. End-to-end metrics come from the untraced ops; per-layer metrics
  * from the traced ones, the spans and the listener. */
final class Report(wl: Workload, run: Run, window: Window, setup: Setup,
    listener: Option[LayerListener]) {

  private def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  private def latencies(kind: String, traced: Boolean): Seq[Double] =
    run.samples.filter(s => s.kind == kind && s.traced == traced).map(_.ms).toSeq

  private val primary = latencies(window.primary, traced = false)
  private val primaryCpu = run.samples
    .filter(s => s.kind == window.primary && !s.traced).map(_.cpuMs).toSeq

  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  /** The lower of the two probe blocks' medians: work left running can only
    * slow a probe, so the faster block is the better reading of the host. */
  private val (probeBefore, probeAfter) = run.calibration.toSeq.splitAt(run.calibration.size / 2)
  private val calibMs = math.min(quantile(probeBefore, 0.5), quantile(probeAfter, 0.5))
  /** Multiplies a time measured now into reference-host time. */
  private val toReference = Calibration.ReferenceMs / calibMs

  /** name → (value, unit); every workload reports every one. Timings are
    * scaled to the reference host's speed by the calibration probe. */
  def endToEnd: Seq[(String, Double, String)] = Seq(
    ("setup_s", setup.seconds * toReference, "s"),
    ("op_ref_ms.p50", quantile(primary, 0.5) * toReference, "ms"),
    ("work_per_ref_s", window.items / window.seconds / toReference, "1/s"),
    ("peak_rss_mb", peakRssMb, "MB"))

  def perLayer: Seq[(String, Double, String)] = {
    val tr = run.tr
    val spans = tr.all
    val stages = listener.fold(Seq.empty[StageRec])(_.stageRecs)
    val jobs = listener.fold(Seq.empty[JobRec])(_.jobRecs)
    def opsOf(kind: String): Set[Long] = tr.opKinds.collect { case (id, `kind`) => id }.toSet
    def per(total: Double, n: Int): Double = if (n == 0) 0.0 else total / n
    def spanMs(name: String, ops: Set[Long]): Double =
      spans.filter(s => s.name == name && ops(s.op)).map(_.ms).sum
    def stagesIn(ops: Set[Long]) = stages.filter(s => ops(s.op))
    def jobsIn(ops: Set[Long]) = jobs.filter(j => ops(j.op))

    val diag = opsOf("diagnose"); val d = diag.size
    val prim = opsOf(window.primary); val p = prim.size
    val commits = opsOf("commit")
    val reads = opsOf("read"); val r = reads.size
    val dStages = stagesIn(diag)
    val pJobMs = jobsIn(prim).map(j => (j.endMs - j.startMs).toDouble).sum
    val committed = run.layer("commit.traced").toInt
    val traced = latencies(window.primary, traced = true)
    val overhead =
      if (traced.isEmpty || primary.isEmpty) 0.0
      else (quantile(traced, 0.5) / quantile(primary, 0.5) - 1) * 100
    val (early, late) = primary.splitAt(primary.size / 2)
    val drift = math.abs(quantile(late, 0.5) / quantile(early, 0.5) - 1) * 100
    Seq(
      ("meta.resolve_ms", per(spanMs("meta.resolve", diag), d), "ms"),
      ("meta.list_ms", per(spanMs("meta.list", diag), d), "ms"),
      ("meta.manifests_per_op", per(run.layer("diag.manifests"), d), "count"),
      ("scan.task_ms", per(dStages.filter(_.layer == "scan").map(_.runMs.toDouble).sum, d), "ms"),
      ("scan.entries_per_op", per(dStages.filter(_.layer == "scan")
        .map(_.shuffleWriteRecords.toDouble).sum, d), "count"),
      ("metrics.task_ms", per(dStages.filter(_.layer == "metrics").map(_.runMs.toDouble).sum, d), "ms"),
      ("metrics.shuffle_write_bytes", per(dStages.map(_.shuffleWrite.toDouble).sum, d), "bytes"),
      ("metrics.shuffle_read_bytes", per(dStages.map(_.shuffleRead.toDouble).sum, d), "bytes"),
      ("metrics.partitions_per_op", per(run.layer("diag.partitions"), d), "count"),
      ("spark.jobs_per_op", per(jobsIn(prim).size, p), "count"),
      ("spark.stages_per_op", per(stagesIn(prim).size, p), "count"),
      ("spark.tasks_per_op", per(stagesIn(prim).map(_.tasks.toDouble).sum, p), "count"),
      ("spark.job_ms", per(pJobMs, p), "ms"),
      ("driver.ms", per(math.max(0.0, spanMs(s"op.${window.primary}", prim) - pJobMs), p), "ms"),
      ("render.ms", per(spanMs("render.table", diag), d), "ms"),
      ("commit.jobs_per_commit", per(jobsIn(commits).size, commits.size), "count"),
      ("commit.files_written", per(run.layer("commit.files_written"), committed), "count"),
      ("commit.meta_bytes_written", per(run.layer("commit.meta_bytes_written"), committed), "bytes"),
      ("commit.entries_written_per_added",
        if (run.layer("commit.entries_added") == 0) 0.0
        else run.layer("commit.entries_written") / run.layer("commit.entries_added"), "count"),
      ("maintenance.compaction_ms", run.layer("maintenance.compaction_ms"), "ms"),
      ("mor.jobs_per_read", per(jobsIn(reads).size, r), "count"),
      ("mor.task_ms", per(stagesIn(reads).map(_.runMs.toDouble).sum, r), "ms"),
      ("mor.input_bytes", per(stagesIn(reads).map(_.inputBytes.toDouble).sum, r), "bytes"),
      ("mor.input_rows", per(stagesIn(reads).map(_.inputRecords.toDouble).sum, r), "count"),
      ("mor.shuffle_bytes", per(stagesIn(reads).map(_.shuffleWrite.toDouble).sum, r), "bytes"),
      ("mor.plan_ms", per(spanMs("mor.plan", reads), r), "ms"),
      ("process.cpu_ms_per_op", quantile(primaryCpu, 0.5), "ms"),
      ("raw.op_ms.p50", quantile(primary, 0.5), "ms"),
      ("raw.setup_s", setup.seconds, "s"),
      ("host.calib_ms", calibMs, "ms"),
      ("window.drift_abs_pct", drift, "%"),
      ("setup.session_ms", setup.sessionMs, "ms"),
      ("setup.warmup_ms", setup.warmupMs, "ms"),
      ("setup.layout_write_ms", setup.layoutMs, "ms"),
      ("trace.overhead_pct", overhead, "%"),
      ("failed_op_ratio", run.failed.toDouble / math.max(1L, run.attempted), "ratio"))
  }

  private def fmt(v: Double): String = f"$v%.3f"

  /** Raw latency per op kind (diag_ms, commit_ms, read_ms), with p90 only
    * where at least ten samples lie beyond it. */
  private def latencyLines: Seq[String] = {
    val byKind = run.samples.filterNot(_.traced).groupBy(_.kind)
    byKind.toSeq.sortBy(_._1).map { case (kind, ss) =>
      val xs = ss.map(_.ms).toSeq
      val name = kind match { case "diagnose" => "diag_ms"; case other => s"${other}_ms" }
      val p90 = if (xs.size >= 100) s", $name.p90 = ${fmt(quantile(xs, 0.9))} ms" else ""
      s"  $name.p50 = ${fmt(quantile(xs, 0.5))} ms$p90 (n = ${xs.size})"
    }
  }

  def print(): Unit = {
    val out = Seq.newBuilder[String]
    out += s"workload ${wl.name} seed ${run.opts.seed} local[${run.opts.cores}] " +
      s"closed loop, 1 client, ${run.opts.seconds} s, trace ${if (run.opts.trace) 1 else 0}"
    out += "  params: " + wl.params.map { case (k, v) => s"$k=$v" }.mkString(", ")
    out ++= latencyLines
    out += s"  ${window.primary} latency trace (ms), warm-up: " +
      run.warmup.collect { case (window.primary, ms) => f"$ms%.0f" }.mkString(" ")
    out += s"  ${window.primary} latency trace (ms), window: " +
      run.samples.collect { case s if s.kind == window.primary && !s.traced => f"${s.ms}%.0f" }
        .mkString(" ")
    out += s"  throughput = ${fmt(window.items / window.seconds)} ${window.itemUnit}/s " +
      s"(${window.items.toLong} in ${fmt(window.seconds)} s)"
    out += s"  host calibration probe = ${fmt(calibMs)} ms " +
      s"(medians before the window ${fmt(quantile(probeBefore, 0.5))}, " +
      s"after ${fmt(quantile(probeAfter, 0.5))}; " +
      s"reference ${Calibration.ReferenceMs} ms); " +
      s"raw set-up ${fmt(setup.seconds)} s"
    out += s"  ops attempted = ${run.attempted}, failed = ${run.failed}"
    run.notes.take(20).foreach(n => out += s"  $n")
    if (run.opts.trace) {
      out += "  span self time (traced ops; per span):"
      run.tr.selfTimes.foreach { case (name, n, total, self) =>
        out += f"    $name%-24s n=$n%5d total=${total / n}%10.3f ms self=${self / n}%10.3f ms"
      }
      out += "  spark stages by layer (traced ops):"
      listener.toSeq.flatMap(_.stageRecs).groupBy(_.layer).toSeq.sortBy(_._1)
        .foreach { case (layer, ss) =>
          out += f"    $layer%-10s stages=${ss.size}%5d tasks=${ss.map(_.tasks).sum}%6d " +
            f"task_ms=${ss.map(_.runMs).sum}%8d shuffle_w=${ss.map(_.shuffleWrite).sum}%12d"
        }
    }
    val metrics = if (run.opts.trace) perLayer else endToEnd
    out += "  metrics:"
    metrics.foreach { case (n, v, u) => out += s"    $n = $v $u" }
    val finite = metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
    val correct = finite && run.failed == 0 && run.attempted > 0
    val json = metrics.map { case (n, v, u) =>
      val value = if (v.isNaN || v.isInfinite) "0" else v.toString
      s""""$n": {"value": $value, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    out.result().foreach(println)
    println(s"""PERFBENCH_RESULT {"correct": $correct, "attempted": ${run.attempted}, """ +
      s""""failed": ${run.failed}, "metrics": $json}""")
  }
}
