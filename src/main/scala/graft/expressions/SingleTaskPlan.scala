package graft.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf

/** Runs a query whose every scan is one split as one task: no exchange,
  * no broadcast.
  *
  * A scan that Spark reads as one split yields one partition, but the
  * planner does not know it, so every aggregate, window, sort and join
  * above it still plans an exchange or a broadcast, each a job or a
  * stage of its own. When every leaf is such a scan, this rule puts a
  * no-shuffle `coalesce(1)` above each Project/Filter chain over a
  * relation (so pushdown and pruning still reach the scan) and above
  * every Join, Union and Expand (a shuffled join reports a
  * `PartitioningCollection`, which `EnsureRequirements` does not take
  * for `SinglePartition`), and hints every join shuffled-hash. The
  * planner then sees `SinglePartition` everywhere and the query runs as
  * one job of one task. A no-shuffle coalesce changes only which task
  * reads a partition, never a row, so the answer is the one the
  * parallel plan gives.
  *
  * The rule leaves the plan untouched unless all of these hold:
  *  - every leaf is a non-streaming `LogicalRelation` over a
  *    `HadoopFsRelation` with no partition columns, backed by one file
  *    no longer than `FilePartition.maxSplitBytes` — Spark's own split
  *    size, so "one split" means exactly what the scan would do;
  *  - the plan holds no repartition of its own and no subquery (an
  *    IN/EXISTS subquery becomes a join after this rule has run);
  *  - every join has equi-join keys and inputs no larger, by estimate,
  *    than `spark.sql.maxSinglePartitionBytes`: `EnsureRequirements`
  *    keeps a join on one partition only under that same bound, and a
  *    half-converted plan (shuffled-hash joins with exchanges) is slower
  *    than the broadcast plan it replaces.
  *
  * Injected before cost-based optimization, which runs once, after
  * predicates and projections have been pushed down.
  */
case class SingleTaskPlan(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (fits(plan)) place(plan) else plan

  private val shuffleHash = JoinHint(
    Some(HintInfo(Some(SHUFFLE_HASH))), Some(HintInfo(Some(SHUFFLE_HASH))))

  // cheapest checks first; files are listed only when everything else holds
  private def fits(plan: LogicalPlan): Boolean = {
    val relations = plan.collectLeaves().map(unpartitionedFiles)
    relations.nonEmpty && relations.forall(_.isDefined) &&
      !plan.exists {
        case _: RepartitionOperation | _: RebalancePartitions => true
        case p => p.expressions.exists(SubqueryExpression.hasSubquery)
      } &&
      plan.collect { case j: Join => j }.forall(joinFits) &&
      relations.flatten.forall(oneSplit)
  }

  private def unpartitionedFiles(leaf: LogicalPlan): Option[HadoopFsRelation] = leaf match {
    case l: LogicalRelation if !l.isStreaming => l.relation match {
      case fs: HadoopFsRelation if fs.partitionSchema.isEmpty => Some(fs)
      case _ => None
    }
    case _ => None
  }

  private def joinFits(j: Join): Boolean = {
    val bound = conf.getConf(SQLConf.MAX_SINGLE_PARTITION_BYTES)
    ExtractEquiJoinKeys.unapply(j).isDefined &&
      j.children.forall(_.stats.sizeInBytes <= bound)
  }

  private def oneSplit(fs: HadoopFsRelation): Boolean = {
    val dirs = fs.location.listFiles(Nil, Nil)
    dirs.flatMap(_.files) match {
      case Seq(f) => f.getLen <= FilePartition.maxSplitBytes(spark, dirs)
      case _ => false
    }
  }

  private def scanChain(p: LogicalPlan): Boolean = p match {
    case Project(_, c) => scanChain(c)
    case Filter(_, c) => scanChain(c)
    case _: LogicalRelation => true
    case _ => false
  }

  private def coalesced(p: LogicalPlan): LogicalPlan =
    Repartition(1, shuffle = false, p)

  private def place(p: LogicalPlan): LogicalPlan = p match {
    case _ if scanChain(p) => coalesced(p)
    case j: Join =>
      coalesced(j.copy(left = place(j.left), right = place(j.right), hint = shuffleHash))
    case _: Union | _: Expand => coalesced(p.mapChildren(place))
    case _ => p.mapChildren(place)
  }
}
