package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, GraftDatasets, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** A prepared catalog query: a query builder whose plans are kept, per
  * session and data state, so a repeated call neither builds, analyzes,
  * optimizes nor physically plans it again.
  *
  * Contract:
  *  - The first call runs `build` as an unprepared call would and
  *    returns its `DataFrame`. Its analyzed, optimized and physical
  *    (before preparation) plans are kept with the state they were
  *    derived from: the session, the dir (the [[Memo]] frame holds
  *    them), the session's SQL conf, and the file inventory of every
  *    path `Tables` or [[Artifacts]] resolved during the build.
  *  - A later call whose session, dir, conf and inventories all match
  *    returns a new `Dataset` over its own `QueryExecution`, which
  *    starts from the kept plans: it records no analysis or optimization
  *    phase. Its planning phase prepares a copy of the kept physical
  *    plan; adaptive execution, codegen, execution and SQL metrics run
  *    fresh, as on a first call. The call's analyzed plan is its own
  *    root over the kept one, which gives each output column a new
  *    attribute id, as a fresh build does: two calls' results join as
  *    two builds' do, and a Dataset id (the ambiguous self-join tag) is
  *    set on that root, never on the kept plan.
  *  - A call whose state moved (a table rewritten or appended, a conf
  *    set, another session) runs `build` again and keeps its plans in
  *    place of the old ones. A dir switch or a context switch drops the
  *    memo frame, and with it every kept plan.
  *  - Never kept: a build that read a memo (its plan reads a memo's
  *    checkpoint, and invalidating the memo must force a new build), and
  *    a plan that holds an RDD or a cached relation (`LogicalRDD`,
  *    `InMemoryRelation`), whose blocks can be released under it. Such
  *    an entry runs `build` on every call, as an unprepared call does.
  *    So a kept plan holds no memo frame and no checkpoint.
  */
final class Prepared(build: (SparkSession, String) => DataFrame)
    extends ((SparkSession, String) => DataFrame) {
  import Prepared._

  private val tag = new Memo.Tag[Slot]

  def apply(s: SparkSession, dir: String): DataFrame = {
    val slot = Memo(s, dir, tag)(new Slot)
    slot.plans.filter(_.holdFor(s)) match {
      case Some(p) => p.dataset(s)
      case None =>
        val conf = s.conf.getAll
        val (df, reads) = recording(build(s, dir))
        slot.plans = keep(s, conf, reads, df)
        df
    }
  }

  /** The analyzed plan kept for (`s`'s context, `dir`), if any. */
  private[graft] def kept(s: SparkSession, dir: String): Option[LogicalPlan] =
    Memo(s, dir, tag)(new Slot).plans.map(_.analyzed)
}

object Prepared {

  /** What a build read: each resolved path with its inventory
    * fingerprint, and whether it read a memo. */
  private final class Reads {
    val inventories = mutable.LinkedHashSet.empty[(String, String)]
    var memo = false
  }

  private val current = new ThreadLocal[Reads]

  /** Runs `body`, noting what it reads on this thread. */
  private def recording[T](body: => T): (T, Reads) = {
    val outer = current.get
    val reads = new Reads
    current.set(reads)
    try (body, reads) finally current.set(outer)
  }

  /** `path` resolved to the inventory `fingerprint`. */
  private[graft] def resolved(path: String, fingerprint: String): Unit =
    Option(current.get).foreach(_.inventories += path -> fingerprint)

  /** A memo was read. */
  private[graft] def readMemo(): Unit = Option(current.get).foreach(_.memo = true)

  /** An entry's kept plans, or none. */
  private final class Slot { @volatile var plans: Option[Plans] = None }

  /** Kept plans and the state they were derived from. */
  private final class Plans(session: SparkSession, conf: Map[String, String],
      inventories: Seq[(String, String)], val analyzed: LogicalPlan, optimized: LogicalPlan,
      physical: SparkPlan) {

    def holdFor(s: SparkSession): Boolean =
      (session eq s) && s.conf.getAll == conf &&
        inventories.forall { case (path, fp) => Artifacts.fingerprint(s, path) == fp }

    /** A new `Dataset` over the kept plans. Its analyzed plan is a new
      * root over the kept one, naming each output column under a new
      * attribute id, as a fresh build's are; the optimized and physical
      * plans are the kept ones, whose output matches it by position. */
    def dataset(s: SparkSession): DataFrame = {
      val root = Project(analyzed.output.map(a => Alias(a, a.name)()), analyzed)
      GraftDatasets.ofRows(
        new PreparedExecution(s.asInstanceOf[classic.SparkSession], root, optimized, physical))
    }
  }

  /** A `QueryExecution` that starts from kept analyzed, optimized and
    * physical plans. `executedPlan` prepares a copy of the physical plan
    * (adaptive execution, exchanges, codegen stages), so every phase from
    * there on runs as in Spark's own. */
  private final class PreparedExecution(s: classic.SparkSession, plan: LogicalPlan,
      optimized: LogicalPlan, physical: SparkPlan) extends QueryExecution(s, plan) {
    override def analyzed: LogicalPlan = plan
    override def optimizedPlan: LogicalPlan = optimized
    override def sparkPlan: SparkPlan = physical
  }

  private def keep(s: SparkSession, conf: Map[String, String], reads: Reads,
      df: DataFrame): Option[Plans] = {
    val qe = df.queryExecution
    def holdsBlocks = qe.analyzed.collectWithSubqueries { case r: LogicalRDD => r }.nonEmpty ||
      qe.optimizedPlan.collectWithSubqueries {
        case r: LogicalRDD => r
        case r: InMemoryRelation => r
      }.nonEmpty
    Option.when(!reads.memo && !holdsBlocks) {
      val analyzed = qe.analyzed.clone()
      analyzed.unsetTagValue(GraftDatasets.DatasetIdTag)
      new Plans(s, conf, reads.inventories.toSeq, analyzed, qe.optimizedPlan, qe.sparkPlan)
    }
  }
}
