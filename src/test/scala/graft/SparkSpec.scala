package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — Spark
  * session startup dominates test time otherwise).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Runs `body` with the given session confs, restoring the old values. */
  def withConf[T](kv: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val saved = kv.map { case (k, _) => k -> conf.getOption(k) }
    kv.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

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

  /** Root plan node names of the SQL executions started while `body`
    * runs (commands, writes and actions alike), counted through a job
    * group.
    */
  def sqlExecutionsStartedBy(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val group = s"sql-started-by-${System.nanoTime()}"
    val sentinel = s"$group-sentinel"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          s.jobGroupId.foreach(g => seen.add((g, s.sparkPlanInfo.nodeName)))
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted block")
      try body finally sc.clearJobGroup()
      // the listener bus delivers in order: once the sentinel's start is
      // seen, every execution started before it has been seen too
      sc.setJobGroup(sentinel, "listener-bus fence")
      try spark.sql("SELECT 1").collect() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      def fenced = seen.asScala.exists(_._1 == sentinel)
      while (!fenced && System.nanoTime() < deadline) Thread.sleep(10)
      assert(fenced)
    } finally sc.removeSparkListener(listener)
    seen.asScala.toSeq.collect { case (g, d) if g == group => d }
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
