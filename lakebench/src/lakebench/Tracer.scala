package lakebench

import scala.collection.mutable

import org.apache.spark.LakebenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** What the engine did inside one traced span: Catalyst phase times and
  * executed-plan fingerprints from a QueryExecutionListener, job/stage/
  * task counts and metrics from a SparkListener. Filled on the listener
  * threads, read after [[Tracer.end]] has drained the bus.
  */
final class LayerAcc {
  var analysisMs, optimizeMs, planMs = 0L
  var queries, jobs, stages, tasks = 0L
  var taskMs, cpuNs, gcMs = 0L
  var inputBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  var outputBytes = 0L
  var peakMemBytes = 0L
  val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  val taskDurations = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  val fingerprints = mutable.ArrayBuffer.empty[String]

  /** Wall time covered by at least one stage (stage intervals unioned). */
  def stageBusyMs: Long = {
    var busy = 0L
    var reach = Long.MinValue
    stageSpans.sortBy(_._1).foreach { case (s, e) =>
      val from = math.max(s, reach)
      if (e > from) busy += e - from
      reach = math.max(reach, e)
    }
    busy
  }

  /** Per stage with ≥ 2 tasks: longest task over median task. */
  def stageSkews: Seq[Double] = taskDurations.values.toSeq.filter(_.size >= 2).map { ds =>
    val sorted = ds.sorted
    sorted.last.toDouble / math.max(1L, sorted(sorted.size / 2))
  }

  def fingerprint: String = fingerprints.mkString("|")
}

/** Layer tracer built from listeners registered by the benchmark. One
  * client, one operation at a time: [[begin]] and [[end]] drain the
  * listener bus, so every event delivered in between belongs to the
  * span they bracket. Nothing is registered unless tracing is on.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  @volatile private var acc = new LayerAcc

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def remove(): Unit = {
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  def begin(): Unit = {
    LakebenchBus.drain(spark.sparkContext)
    acc = new LayerAcc
  }

  def end(): LayerAcc = {
    LakebenchBus.drain(spark.sparkContext)
    val done = acc
    acc = new LayerAcc
    done
  }

  private def phaseMs(qe: QueryExecution, phase: String): Long =
    qe.tracker.phases.get(phase).map(_.durationMs).getOrElse(0L)

  private def record(qe: QueryExecution): Unit = {
    val fp = Tracer.fingerprint(qe.executedPlan)
    val a = acc
    a.synchronized {
      a.queries += 1
      a.analysisMs += phaseMs(qe, "analysis")
      a.optimizeMs += phaseMs(qe, "optimization")
      a.planMs += phaseMs(qe, "planning")
      a.fingerprints += fp
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val a = acc
    a.synchronized { a.jobs += 1 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val a = acc
    a.synchronized {
      a.stages += 1
      for (s <- info.submissionTime; c <- info.completionTime) a.stageSpans += ((s, c))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc
    a.synchronized {
      a.tasks += 1
      a.taskDurations.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        a.taskMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled
        a.outputBytes += m.outputMetrics.bytesWritten
        a.peakMemBytes = math.max(a.peakMemBytes, m.peakExecutionMemory)
      }
    }
  }
}

object Tracer {

  /** Shape of the executed plan — operator names in tree order, with
    * adaptive wrappers and query stages looked through and codegen stage
    * ids and table version suffixes dropped — so ids, paths and versions
    * never make two runs of the same plan look different.
    */
  def fingerprint(plan: SparkPlan): String = {
    def walk(p: SparkPlan): String = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case r: ReusedExchangeExec => "Reused(" + walk(r.child) + ")"
      case other =>
        val name = other.nodeName.replaceAll(" \\(\\d+\\)$", "").replaceAll("__v\\d+", "")
        val kids = other.children.map(walk)
        if (kids.isEmpty) name else kids.mkString(name + "(", ",", ")")
    }
    val shape = walk(plan)
    f"${shape.hashCode}%08x"
  }
}
