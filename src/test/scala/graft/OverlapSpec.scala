package graft

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import org.apache.spark.{JobExecutionStatus, TaskContext}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Overlap

/** `Overlap.all`, the one way the engine runs independent Spark jobs side
  * by side: branch jobs keep the caller's job group, results come back in
  * branch order, and a failing branch cancels its siblings' running jobs
  * before the call rethrows. A source scan pins that no other overlap
  * idiom (a global-pool `Future` awaited without bound) comes back. */
class OverlapSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private def oneJob(): Long = spark.sparkContext.parallelize(1 to 8, 2).count()

  test("branch jobs carry the caller's job group on successive calls") {
    // jobsDuring runs each body under a fresh job group; a branch thread
    // that kept a stale group would leave its job uncounted
    (1 to 2).foreach { _ =>
      assert(SparkSpec.jobsDuring(spark)(
        Overlap.all(spark)(() => oneJob(), () => oneJob(), () => oneJob())) == 3)
    }
  }

  test("results come back in branch order, not completion order") {
    val got = Overlap.all(spark)((0 until 4).map { i => () =>
      Thread.sleep((4 - i) * 40L)
      oneJob() + i
    }: _*)
    assert(got == Seq(8L, 9L, 10L, 11L))
  }

  test("a failing branch cancels a sibling's running job, and the call rethrows the failure") {
    val sc = spark.sparkContext
    val group = s"overlap-fail-${java.util.UUID.randomUUID()}"
    val siblingError = new AtomicReference[Throwable]()
    OverlapSpec.taskStarted = new CountDownLatch(1)
    val t0 = System.nanoTime()
    sc.setJobGroup(group, group)
    val thrown = try intercept[IllegalStateException] {
      Overlap.all(spark)(
        () => {
          OverlapSpec.taskStarted.await(30, java.util.concurrent.TimeUnit.SECONDS)
          throw new IllegalStateException("first branch failed")
        },
        () => try sc.parallelize(Seq(1), 1).map(OverlapSpec.blockUntilKilled).count()
          catch { case e: Throwable => siblingError.set(e); throw e })
    } finally sc.clearJobGroup()
    val waitedS = (System.nanoTime() - t0) / 1e9
    assert(thrown.getMessage == "first branch failed")
    assert(waitedS < OverlapSpec.BlockS / 2, s"the call waited $waitedS s")
    assert(siblingError.get != null, "the blocked sibling finished")
    assert(siblingError.get.getMessage.contains("cancelled"), siblingError.get.getMessage)
    // the status tracker is fed asynchronously: wait for the job's end
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    def statuses = sc.statusTracker.getJobIdsForGroup(group).toSeq
      .flatMap(id => sc.statusTracker.getJobInfo(id).map(_.status()))
    while (statuses.exists(_ == JobExecutionStatus.RUNNING) &&
        System.nanoTime() < deadline) Thread.sleep(10)
    assert(statuses == Seq(JobExecutionStatus.FAILED))
  }

  test("no global-pool Future or unbounded Await under src/main") {
    val banned = Seq("ExecutionContext.Implicits.global", "Duration.Inf", "Await.result")
    val files = org.apache.commons.io.FileUtils
      .listFiles(new java.io.File("src/main"), Array("scala", "java"), true).asScala.toSeq
    assert(files.nonEmpty, "no sources under src/main")
    val hits = for {
      f <- files
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
      b <- banned if line.contains(b)
    } yield s"${f.getPath}:${i + 1}: $b"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}

object OverlapSpec {
  /** How long the blocked task waits to be killed before it finishes. */
  val BlockS = 60

  @volatile var taskStarted = new CountDownLatch(1)

  /** A task body that signals it is running, then blocks until its task
    * is killed (or `BlockS` passes). Local mode: the latch is shared. */
  def blockUntilKilled(x: Int): Int = {
    taskStarted.countDown()
    val deadline = System.nanoTime() + BlockS * 1000L * 1000 * 1000
    while (!TaskContext.get().isInterrupted() && System.nanoTime() < deadline)
      Thread.sleep(10)
    x
  }
}
