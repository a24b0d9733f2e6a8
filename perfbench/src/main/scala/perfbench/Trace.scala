package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded interval. `op` groups the spans of one timed operation
  * (0 = set-up); `parent` is the enclosing span's id (0 = none). */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Span recorder for the single client thread. Spans are kept in memory
  * and written out once, at the end of the run. While a traced operation
  * runs, its id and the innermost span's layer ride on the SparkContext's
  * local properties, so every job it launches is attributable. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Long, String)] = Nil
  private var nextSpan = 0L
  private var nextOp = 0L
  private var currentOp = -1L
  private var lastOp = -1L
  val opKinds = mutable.HashMap.empty[Long, String]

  def recording: Boolean = currentOp >= 0

  /** Times `body` as one operation of `kind`; records it when `traced`. */
  def op[T](kind: String, traced: Boolean)(body: => T): (T, Double) =
    if (!(enabled && traced)) {
      val outer = currentOp
      currentOp = -1L
      val t0 = System.nanoTime()
      try {
        val v = body
        (v, (System.nanoTime() - t0) / 1e6)
      } finally currentOp = outer
    } else {
      nextOp += 1
      opKinds(nextOp) = kind
      sc.setLocalProperty(Tracer.OpKey, nextOp.toString)
      currentOp = nextOp
      lastOp = nextOp
      val t0 = System.nanoTime()
      try {
        val v = span(s"op.$kind")(body)
        (v, (System.nanoTime() - t0) / 1e6)
      } finally {
        currentOp = -1L
        sc.setLocalProperty(Tracer.OpKey, null)
        sc.setLocalProperty(Tracer.LayerKey, null)
      }
    }

  /** Runs `body` untimed, its spans and jobs recorded under the last
    * traced op. */
  def again[T](body: => T): T = {
    currentOp = lastOp
    sc.setLocalProperty(Tracer.OpKey, lastOp.toString)
    try body
    finally {
      currentOp = -1L
      sc.setLocalProperty(Tracer.OpKey, null)
      sc.setLocalProperty(Tracer.LayerKey, null)
    }
  }

  /** A set-up phase: always timed, recorded as op 0 when tracing. */
  def setup[T](name: String)(body: => T): (T, Double) = {
    currentOp = if (enabled) 0L else -1L
    val t0 = System.nanoTime()
    try {
      val v = span(s"setup.$name")(body)
      (v, (System.nanoTime() - t0) / 1e6)
    } finally currentOp = -1L
  }

  def span[T](name: String)(body: => T): T =
    if (!recording) body
    else {
      nextSpan += 1
      val id = nextSpan
      val parent = stack.headOption.fold(0L)(_._1)
      stack = (id, name) :: stack
      sc.setLocalProperty(Tracer.LayerKey, Tracer.layerOf(name))
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, currentOp, name, t0, System.nanoTime())
        stack = stack.tail
        sc.setLocalProperty(Tracer.LayerKey,
          stack.headOption.map(s => Tracer.layerOf(s._2)).orNull)
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Per span name: (count, total ms, self ms) — self time is the span's
    * duration minus the time its direct children cover. */
  def selfTimes: Seq[(String, Int, Double, Double)] = {
    val childMs = mutable.HashMap.empty[Long, Double].withDefaultValue(0.0)
    spans.foreach(s => if (s.parent != 0) childMs(s.parent) += s.ms)
    spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      (name, ss.size, ss.map(_.ms).sum, ss.map(s => s.ms - childMs(s.id)).sum)
    }
  }

  def write(f: java.io.File): Unit = {
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""kind":"${opKinds.getOrElse(s.op, "setup")}","name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

object Tracer {
  val OpKey = "perfbench.op"
  val LayerKey = "perfbench.layer"
  /** Span "meta.resolve" belongs to layer "meta"; an op's own span to
    * "driver". */
  def layerOf(spanName: String): String =
    if (spanName.startsWith("op.")) "driver" else spanName.takeWhile(_ != '.')
}

/** Totals of one completed stage, attributed to an op and a layer. */
final case class StageRec(op: Long, layer: String, tasks: Int, runMs: Long,
    shuffleWrite: Long, shuffleWriteRecords: Long, shuffleRead: Long,
    inputBytes: Long, inputRecords: Long)

final case class JobRec(op: Long, stages: Int, startMs: Long, endMs: Long)

/** Spark-side per-layer accounting. A stage belongs to the layer of the
  * graft source file in its call site (the creation sites of its RDDs,
  * then the stage's own long call site); a stage whose call site names no
  * graft module falls back to the layer of the span that launched it. */
final class LayerListener extends SparkListener {
  private val stageOwner = new ConcurrentHashMap[Int, (Long, String)]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, Int, Long)]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()

  def stageRecs: Seq[StageRec] = stages.asScala.toSeq
  def jobRecs: Seq[JobRec] = jobs.asScala.toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.OpKey)))
      .foreach { op =>
        val layer = Option(e.properties.getProperty(Tracer.LayerKey)).getOrElse("driver")
        jobStart.put(e.jobId, (op.toLong, e.stageIds.size, e.time))
        e.stageIds.foreach(s => stageOwner.put(s, (op.toLong, layer)))
      }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (op, n, t0) =>
      jobs.add(JobRec(op, n, t0, e.time))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageOwner.get(info.stageId)).foreach { case (op, spanLayer) =>
      val m = info.taskMetrics
      val layer = LayerListener.callSiteLayer(info).getOrElse(spanLayer)
      if (m == null) stages.add(StageRec(op, layer, info.numTasks, 0, 0, 0, 0, 0, 0))
      else stages.add(StageRec(op, layer, info.numTasks, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
        m.shuffleReadMetrics.totalBytesRead, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead))
    }
  }
}

object LayerListener {
  /** graft module → layer name. */
  val Modules: Seq[(String, String)] = Seq(
    "IcebergManifestSource" -> "scan",
    "MetricsCalculator" -> "metrics",
    "LayoutMaintenance" -> "commit",
    "MorRead" -> "mor",
    "IcebergLayoutWriter" -> "setup")

  private val Pattern = ("\\b(" + Modules.map(_._1).mkString("|") + ")\\.scala").r

  def callSiteLayer(info: StageInfo): Option[String] = {
    val sites = info.rddInfos.sortBy(_.id).map(_.callSite) :+ info.details
    sites.iterator.flatMap(s => Pattern.findFirstMatchIn(s))
      .map(m => Modules.find(_._1 == m.group(1)).get._2)
      .nextOption()
  }
}
