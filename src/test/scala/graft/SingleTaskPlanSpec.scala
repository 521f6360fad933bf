package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Repartition, Sort}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.functions.col
import graft.tables.Tables

/** [[graft.expressions.SingleTaskPlan]]: a query whose every scan is one
  * split runs as one job of one task, with no exchange and no broadcast;
  * anywhere else the plan is left as it was, and the answers never
  * change.
  */
class SingleTaskPlanSpec extends SparkSpec {

  private val small = s"${SparkSpec.testdata}/sf0.001"

  /** Headline queries whose estimated join-over-join sizes exceed
    * `spark.sql.maxSinglePartitionBytes`: they keep their broadcasts.
    */
  private val broadcastKept = Set("q32_tpch_q3_shape", "q33_tpch_q5_shape")
  private val firing = SparkEntry.headlines.sorted.filterNot(broadcastKept)

  /** Every file of the sf0.001 fixtures spans several splits. */
  private def multiSplit[T](body: => T): T =
    withConf("spark.sql.files.maxPartitionBytes" -> "1k")(body)

  /** The plan `df` ran with: the final AQE plan once it has executed. */
  private def finalPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  /** Names of the exchanges in a plan, inside AQE query stages too (a
    * stage's plan is not a child of the stage node).
    */
  private def exchanges(plan: SparkPlan): Seq[String] =
    plan.collectWithSubqueries { case p => p }.flatMap {
      case s: QueryStageExec => exchanges(s.plan)
      case e: Exchange => Seq(e.nodeName)
      case r: ReusedExchangeExec => Seq(r.nodeName)
      case _ => Nil
    }

  private def coalesces(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case r: Repartition => r }.size

  test("the firing headline queries run as one job with no exchange and no broadcast") {
    assert(firing.size === 8)
    firing.foreach { n =>
      SparkEntry.run(spark, n, small) { df =>
        val jobs = jobsStartedBy(df.collect(): Unit)
        val plan = finalPlan(df)
        assert(exchanges(plan).isEmpty, s"$n plans exchanges:\n$plan")
        assert(jobs === 1, s"$n ran $jobs jobs:\n$plan")
      }
    }
  }

  test("q32 and q33 keep their broadcast plans") {
    broadcastKept.foreach { n =>
      SparkEntry.run(spark, n, small) { df =>
        df.collect()
        assert(coalesces(df) === 0, n)
        assert(exchanges(finalPlan(df)).exists(_.startsWith("Broadcast")),
          s"$n lost its broadcast:\n${finalPlan(df)}")
      }
    }
  }

  test("the rule leaves a local relation, a multi-split scan and an explicit repartition alone") {
    import spark.implicits._
    val local = Seq((1, "a"), (2, "b"), (1, "c")).toDF("k", "v").groupBy("k").count()
    assert(coalesces(local) === 0)

    val agg = (d: String) => Tables.orders(spark, d).groupBy("o_custkey").count()
    assert(coalesces(agg(small)) > 0, "the one-split read is the rule's case")
    multiSplit {
      val df = agg(small)
      df.collect()
      assert(coalesces(df) === 0)
      assert(exchanges(finalPlan(df)).nonEmpty)
    }

    val repartitioned = Tables.orders(spark, small)
      .repartition(3, col("o_custkey")).groupBy("o_custkey").count()
    assert(coalesces(repartitioned) === 0)
  }

  test("headline answers are the same whether each scan is one split or several") {
    SparkEntry.headlines.sorted.foreach { n =>
      def rows(): (Seq[Row], Boolean, Int) = SparkEntry.run(spark, n, small) { df =>
        val ordered = df.queryExecution.analyzed.exists {
          case s: Sort => s.global
          case _ => false
        }
        (df.collect().toSeq, ordered, coalesces(df))
      }
      val (one, ordered, _) = rows()
      val (several, _, coalesced) = multiSplit(rows())
      assert(one.nonEmpty, n)
      assert(coalesced === 0, s"$n: the multi-split read is not the rule's case")
      if (ordered) assert(one === several, n)
      else assert(one.map(_.toString).sorted === several.map(_.toString).sorted, n)
    }
  }
}
