package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — Spark
  * session startup dominates test time otherwise).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Spark jobs started while `body` runs, counted through a job group. */
  def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-started-by-${System.nanoTime()}"
    sc.setJobGroup(group, "counted block")
    try body finally sc.clearJobGroup()
    // the status tracker lags the listener bus: once a later job is
    // visible, every job submitted before it is too
    val sentinel = s"$group-sentinel"
    sc.setJobGroup(sentinel, "listener-bus fence")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (sc.statusTracker.getJobIdsForGroup(sentinel).isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(sentinel).nonEmpty)
    sc.statusTracker.getJobIdsForGroup(group).length
  }
}

object SparkSpec {
  /** Root of the sf0.001 / sf0.01 / sf0.1 fixture dirs (TESTDATA.md). */
  val testdata = "/root/testdata"

  lazy val session: SparkSession = {
    val s = Sessions.local("graft-test", "4")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
