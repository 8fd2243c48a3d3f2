package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SortExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, Exchange, ShuffleExchangeExec}

/** Graft's session extension: its native expressions, and one
  * query-stage preparation rule, [[SinglePartitionShuffle]].
  *
  * Two paths:
  *  - `.withExtensions(new GraftExtensions)` at session build
  *    (`spark.sql.extensions=graft.functions.GraftExtensions` works too),
  *    as [[graft.GraftSession.create]] does: functions and rule;
  *  - `GraftExtensions.register(spark)` on an existing session
  *    (idempotent), used by the driver-contract queries which receive the
  *    session from outside: functions only. Such a session plans as
  *    Spark does; the rule never changes a result, only the number of
  *    jobs and exchanges.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.entries.foreach(ext.injectFunction)
    ext.injectQueryStagePrepRule(_ => SinglePartitionShuffle)
  }
}

object GraftExtensions {
  private val entries: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarityExpr].getName, "graft_cosine"),
      (args: Seq[Expression]) => CosineSimilarityExpr(args(0), args(1))),
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProductExpr].getName, "graft_dot"),
      (args: Seq[Expression]) => DotProductExpr(args(0), args(1))),
    (FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashExpr].getName, "graft_minhash"),
      (args: Seq[Expression]) => MinHashExpr(args(0))))

  def register(spark: SparkSession): Unit =
    entries.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}

/** Drops a shuffle that `EnsureRequirements` added over a child of
  * exactly one partition, where nothing but single-child operators read
  * what it feeds.
  *
  * `EnsureRequirements` accepts a one-partition child only when it
  * reports a partitioning that satisfies the requirement: `SinglePartition`
  * does, but `UnknownPartitioning(1)` (say, a full outer sort-merge join
  * of two one-partition inputs) does not, so the aggregate above it gets
  * a shuffle, and with it a stage, a job and an adaptive re-plan, that
  * moves one partition's rows into hash partitions. One partition already
  * holds every row of every key, so it satisfies any clustered, ordered
  * or all-tuples distribution: the consumer computes the same rows from
  * it, in one task.
  *
  * The safety condition is about who else sees the partitioning. The
  * shuffle is dropped only when
  *  - its origin is `ENSURE_REQUIREMENTS` (a user's `repartition` stays);
  *  - its consumer is a single-child operator that requires a
  *    distribution, read directly or through a local (non-global)
  *    `SortExec`, and that distribution asks for no partition count
  *    other than 1 (stateful operators ask for their state partitions);
  *  - every operator between that consumer and the next exchange above
  *    it (or the plan's root) has one child too.
  * Then the one-partition output flows only into single-child operators,
  * which read it whole, until an exchange repartitions it. A join or
  * union above would instead have been planned against the dropped
  * shuffle's partition count, its other side shuffled to match, so such
  * a shuffle stays (a sort-merge join with one one-partition side keeps
  * both exchanges).
  *
  * Registered as a query-stage preparation rule, so it runs on the plan
  * adaptive execution prepares, after `EnsureRequirements`, and again on
  * every re-plan. */
object SinglePartitionShuffle extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = elide(plan, chainAbove = true)

  /** `chainAbove`: every operator between `p` and the next exchange above
    * it, or the root, has one child. */
  private def elide(p: SparkPlan, chainAbove: Boolean): SparkPlan = p match {
    case e: Exchange => e.withNewChildren(e.children.map(elide(_, chainAbove = true)))
    case u: UnaryExecNode if chainAbove && requiresDistribution(u) =>
      val child = u.child match {
        case OnePartitionShuffle(c) => c
        case s: SortExec if !s.global => s.child match {
          case OnePartitionShuffle(c) => s.withNewChildren(Seq(c))
          case _ => s
        }
        case c => c
      }
      u.withNewChildren(Seq(elide(child, chainAbove = true)))
    case _ => p.withNewChildren(p.children.map(elide(_, chainAbove && p.children.size == 1)))
  }

  private def requiresDistribution(u: UnaryExecNode): Boolean =
    u.requiredChildDistribution match {
      case Seq(d) => d != UnspecifiedDistribution && d.requiredNumPartitions.forall(_ == 1)
      case _ => false
    }

  /** An `ENSURE_REQUIREMENTS` shuffle over one partition: its child. */
  private object OnePartitionShuffle {
    def unapply(p: SparkPlan): Option[SparkPlan] = p match {
      case e: ShuffleExchangeExec if e.shuffleOrigin == ENSURE_REQUIREMENTS &&
          e.child.outputPartitioning.numPartitions == 1 => Some(e.child)
      case _ => None
    }
  }
}
