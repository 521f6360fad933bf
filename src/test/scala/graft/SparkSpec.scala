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
  def sqlExecutionsStartedBy(body: => Unit): Seq[String] = startedBy(body) {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
        if s.jobGroupId.isDefined => (s.jobGroupId.get, s.sparkPlanInfo.nodeName)
  }

  /** The Spark jobs started while `body` runs, in start order, each as
    * the id of the SQL execution it ran under (`None` for a job outside
    * any, such as a schema merge), counted through a job group the way
    * [[sqlExecutionsStartedBy]] counts executions.
    */
  def jobExecutionsStartedBy(body: => Unit): Seq[Option[Long]] = startedBy(body) {
    case j: org.apache.spark.scheduler.SparkListenerJobStart
        if j.properties != null && j.properties.getProperty("spark.jobGroup.id") != null =>
      (j.properties.getProperty("spark.jobGroup.id"),
        Option(j.properties.getProperty("spark.sql.execution.id")).map(_.toLong))
  }

  /** What `pick` takes, as (job group, value), from the listener events
    * that `body` causes, in delivery order. `body` runs in a fresh job
    * group; a fence (a SQL execution and a job in a second group) runs
    * after it, and the listener bus delivers in order, so once a fence
    * event is seen every event of `body` has been seen too.
    */
  private def startedBy[A](body: => Unit)(
      pick: PartialFunction[org.apache.spark.scheduler.SparkListenerEvent, (String, A)]): Seq[A] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val group = s"started-by-${System.nanoTime()}"
    val sentinel = s"$group-sentinel"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, A)]()
    val listener = new SparkListener {
      private def offer(e: SparkListenerEvent): Unit = pick.lift(e).foreach(seen.add)
      override def onOtherEvent(e: SparkListenerEvent): Unit = offer(e)
      override def onJobStart(e: SparkListenerJobStart): Unit = offer(e)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted block")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "listener-bus fence")
      try {
        spark.sql("SELECT 1").collect()
        sc.parallelize(Seq(1), 1).count()
      } finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      def fenced = seen.asScala.exists(_._1 == sentinel)
      while (!fenced && System.nanoTime() < deadline) Thread.sleep(10)
      assert(fenced)
    } finally sc.removeSparkListener(listener)
    seen.asScala.toSeq.collect { case (g, a) if g == group => a }
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
