package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide SparkSession). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = Sessions.build(cpus = "4", logLevel = "ERROR")
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  /** Spark jobs `body` starts on this thread, counted by the status
    * tracker under a fresh job group. The listener bus records jobs in
    * order, so once a later sentinel job (its own group) is visible,
    * every job `body` started is too. */
  protected def jobsStartedBy(body: => Any): Int = {
    val sc = spark.sparkContext
    val tag = s"jobs-${java.util.UUID.randomUUID}"
    sc.setJobGroup(tag, "counted body", interruptOnCancel = false)
    try body finally sc.clearJobGroup()
    sc.setJobGroup(s"$tag-sentinel", "listener barrier", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (sc.statusTracker.getJobIdsForGroup(s"$tag-sentinel").isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(s"$tag-sentinel").nonEmpty,
      "the sentinel job never reached the status tracker")
    sc.statusTracker.getJobIdsForGroup(tag).length
  }
}
