package graft

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.{JobExecutionStatus, SparkContext, SparkException, TaskContext}
import org.apache.spark.graft.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.GraftBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Staging

/** [[Staging.fork]]'s contract: a fork's jobs carry the caller's job
  * group and local properties, a job-group cancel reaches them, a failed
  * scope settles its forks before freeing their checkpoints, a fork's
  * checkpoints free with the caller's scope, and a fork's failure
  * surfaces unwrapped at the join. Suites share one session, so every
  * case identifies its jobs by its own job group. */
class OverlapSpec extends AnyFunSuite {
  import TestSpark.spark
  private def sc: SparkContext = spark.sparkContext

  private def rddId(cp: DataFrame): Int = GraftBridge.plan(cp) match {
    case lr: LogicalRDD => lr.rdd.id
    case p => fail(s"not a checkpoint: $p")
  }

  /** A two-task job that runs until it is killed (at most a minute). */
  private def longJob(): Long =
    sc.parallelize(1 to 2, 2).map { x =>
      val until = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!TaskContext.get().isInterrupted() && System.nanoTime() < until)
        Thread.sleep(20)
      x
    }.count()

  private def groupJobs(g: String, status: JobExecutionStatus): Seq[Int] = {
    TestBus.drain(sc)
    sc.statusTracker.getJobIdsForGroup(g).toSeq
      .filter(id => sc.statusTracker.getJobInfo(id).exists(_.status == status))
  }

  private def await(what: String)(cond: => Boolean): Unit = {
    val until = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!cond) {
      assert(System.nanoTime() < until, s"timed out waiting for $what")
      Thread.sleep(20)
    }
  }

  private def awaitRunning(g: String): Unit =
    await(s"a running job in group $g")(groupJobs(g, JobExecutionStatus.RUNNING).nonEmpty)

  private def inGroup[T](g: String, interrupt: Boolean = false)(body: => T): T = {
    sc.setJobGroup(g, g, interruptOnCancel = interrupt)
    try body finally sc.clearJobGroup()
  }

  test("a fork's job carries the caller's job group and local properties") {
    val seen = new ConcurrentLinkedQueue[Properties]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.stageInfos.exists(_.rddInfos.exists(_.name == "overlap-props")))
          seen.add(e.properties)
    }
    sc.addSparkListener(l)
    try inGroup("overlap-props") {
      sc.setLocalProperty("overlap.probe", "carried")
      try {
        val n = Staging.fork(spark)(sc.parallelize(1 to 8, 2).setName("overlap-props").count())
        assert(n() == 8)
      } finally sc.setLocalProperty("overlap.probe", null)
    } finally { TestBus.drain(sc); sc.removeSparkListener(l) }
    assert(seen.size == 1, "the fork ran one job")
    val p = seen.peek()
    assert(p.getProperty("spark.jobGroup.id") == "overlap-props")
    assert(p.getProperty("overlap.probe") == "carried")
  }

  test("a job-group cancel from another thread cancels a fork's running job") {
    val joined = inGroup("overlap-cancel", interrupt = true) {
      val f = Staging.fork(spark)(longJob())
      Future(f())
    }
    awaitRunning("overlap-cancel")
    Future(sc.cancelJobGroup("overlap-cancel"))
    intercept[SparkException](Await.result(joined, 30.seconds))
    // the join wakes before the scheduler posts the job's end
    await("the cancelled job's end")(
      groupJobs("overlap-cancel", JobExecutionStatus.RUNNING).isEmpty)
  }

  test("a failing scope settles its running fork, then frees the fork's checkpoints") {
    val cp = new AtomicInteger(-1)
    val t0 = System.nanoTime()
    inGroup("overlap-settle") {
      Staging.beginTransient()
      try intercept[IllegalStateException] {
        Staging.fork(spark) {
          cp.set(rddId(Staging.trackCp(spark.range(10).toDF("id"))))
          longJob()
        }
        await("the fork's checkpoint")(cp.get >= 0)
        awaitRunning("overlap-settle")
        throw new IllegalStateException("the query body fails")
      } finally Staging.releaseTransient()
    }
    assert((System.nanoTime() - t0) / 1e9 < 30, "releaseTransient must not wait out the job")
    assert(groupJobs("overlap-settle", JobExecutionStatus.RUNNING).isEmpty)
    assert(!sc.getPersistentRDDs.contains(cp.get))
  }

  test("a fork's trackCp is freed with the caller's scope") {
    Staging.beginTransient()
    val id = try {
      val cpF = Staging.fork(spark)(Staging.trackCp(spark.range(100).toDF("id")))
      val cp = cpF()
      assert(cp.count() == 100)
      assert(sc.getPersistentRDDs.contains(rddId(cp)))
      rddId(cp)
    } finally Staging.releaseTransient()
    assert(!sc.getPersistentRDDs.contains(id))
  }

  test("a fork's exception is rethrown at the join, unwrapped") {
    val boom = new IllegalStateException("boom")
    val f = Staging.fork[Int](spark)(throw boom)
    assert(intercept[IllegalStateException](f()) eq boom)
  }
}
