package graft

import org.apache.spark.{JobExecutionStatus, TaskContext}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.ConcurrentPasses

object ConcurrentPassesSpec {
  /** Sleeps until `ms` have passed or the task is killed. */
  def idle(ms: Long): Long = {
    val end = System.currentTimeMillis() + ms
    while (System.currentTimeMillis() < end &&
           !TaskContext.get().isInterrupted()) Thread.sleep(20)
    ms
  }
  def failAfter(ms: Long): Long = {
    Thread.sleep(ms)
    throw new IllegalStateException("planted pass failure")
  }
}

class ConcurrentPassesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import ConcurrentPassesSpec._

  /** A one-row, one-task pass evaluating `f` on a single value. */
  private def pass(f: Long => Long, arg: Long): DataFrame = {
    val g = udf(f).asNondeterministic()
    spark.range(0, 1, 1, 1).select(g(col("id") + arg).as("v"))
  }

  /** Runs `body` (expected to throw) under a fresh job group; returns
    * the exception, the seconds it took, and whether any of the
    * group's jobs still ran 5 s after it threw.
    */
  private def failingCall(body: => Any): (Throwable, Double, Boolean) = {
    val sc = spark.sparkContext
    val group = s"concurrent-passes-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, group)
    val t0 = System.nanoTime()
    val err = try intercept[Throwable](body) finally sc.clearJobGroup()
    val took = (System.nanoTime() - t0) / 1e9
    def running = sc.statusTracker.getJobIdsForGroup(group).exists(id =>
      sc.statusTracker.getJobInfo(id)
        .exists(_.status == JobExecutionStatus.RUNNING))
    val until = System.nanoTime() + 5000000000L
    while (running && System.nanoTime() < until) Thread.sleep(50)
    (err, took, running)
  }

  test("a failing pass cancels its slow siblings before the call throws") {
    val slow = (1 to 3).map(i => pass(_ => idle(60000), i))
    val (err, took, running) = failingCall(ConcurrentPasses.collectRow(
      spark, slow :+ pass(_ => failAfter(1500), 0)))
    assert(Iterator.iterate(err)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("planted pass failure")), err)
    assert(took < 30, s"the call waited ${took}s for its slow passes")
    assert(!running, "a sibling job of the failed call is still running")
  }

  test("a timed-out call cancels its passes before it throws") {
    spark.conf.set("spark.graft.passTimeoutSec", "2")
    val (err, took, running) =
      try failingCall(ConcurrentPasses.collectRow(
        spark, (1 to 2).map(i => pass(_ => idle(60000), i))))
      finally spark.conf.unset("spark.graft.passTimeoutSec")
    assert(err.isInstanceOf[java.util.concurrent.TimeoutException], err)
    assert(took < 30, s"the call took ${took}s")
    assert(!running, "a job of the timed-out call is still running")
  }
}
