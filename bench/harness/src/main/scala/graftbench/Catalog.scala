package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

import graft.{GraftSession, SparkEntry}

/** The catalog workloads: `SparkEntry.queries` entries run one at a time
  * by a single closed-loop client, each fully materialized with
  * `queryExecution.toRdd.count()`. A cold pass in the fresh process is
  * followed by warm passes; output digests are checked after the timed
  * passes. */
object Catalog {

  /** One query's measurement. */
  case class Sample(name: String, pass: Int, ms: Double, error: Option[String])

  /** Label-phase queries recompute on every run, never serve a memo left
    * by an earlier pass (the same invalidations `graft.Bench` makes). */
  def invalidate(name: String): Unit = name match {
    case "d8_dedup_clusters" => graft.ops.Dedup.invalidateLabels()
    case "s10_semantic_dedup" => graft.ops.Similarity.invalidateSemanticLabels()
    case "c10_prep_full" =>
      graft.ops.Composites.invalidateSurvivors()
      graft.ops.TextAnalysis.invalidateStatsMemos()
    case _ => ()
  }

  /** Set-up: a fresh `GraftSession.local`, the session contract every
    * catalog query runs under. First-use costs (footers, codegen) fall
    * into the cold pass, which is what a one-shot job pays. */
  def setUp(cores: Int): SparkSession = GraftSession.local(cores)

  /** Physical plan nodes of a finished query, looking through AQE. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: other.children.flatMap(planNodes)
  }

  def planCounts(p: SparkPlan): Map[String, Double] = {
    val nodes = planNodes(p)
    def isScan(n: SparkPlan) = n.isInstanceOf[org.apache.spark.sql.execution.DataSourceScanExec] ||
      n.isInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec]
    Map("plan.nodes" -> nodes.size.toDouble,
      "plan.exchanges" -> nodes.count(n => n.isInstanceOf[Exchange] ||
        n.isInstanceOf[ReusedExchangeExec]).toDouble,
      "plan.scans" -> nodes.count(isScan).toDouble)
  }

  /** Runs `name` once: build, plan, execute. Spans go to `tracer` when it
    * is on; plan phases and counts are added to `layers` when given. The
    * sample times build through execution; the `query` span is the
    * client's whole turn for the query (invalidation and accounting
    * included), the outer clock its three child spans are measured
    * against. */
  def runOne(spark: SparkSession, name: String, fn: (SparkSession, String) => DataFrame,
      dir: String, pass: Int, tracer: Tracer,
      layers: Option[mutable.Map[String, Double]]): Sample = {
    val attrs = Map("query" -> name, "pass" -> pass.toString)
    val turn = Clock.nowMs
    invalidate(name)
    val t0 = Clock.nowMs
    val sample = try {
      val qe = tracer.span("ops.build", attrs)(fn(spark, dir)).queryExecution
      tracer.span("plan", attrs)(qe.executedPlan)
      tracer.span("exec.run", attrs)(qe.toRdd.count())
      val t1 = Clock.nowMs
      layers.foreach { m =>
        qe.tracker.phases.foreach { case (phase, s) =>
          m(s"plan.${phase}_ms") = m.getOrElse(s"plan.${phase}_ms", 0.0) + s.durationMs
        }
        planCounts(qe.executedPlan).foreach { case (k, v) => m(k) = m.getOrElse(k, 0.0) + v }
      }
      Sample(name, pass, t1 - t0, None)
    } catch {
      case e: Throwable =>
        Sample(name, pass, Clock.nowMs - t0, Some(e.getClass.getSimpleName + ": " +
          String.valueOf(e.getMessage).take(300)))
    }
    tracer.add(Span("query", turn, Clock.nowMs, attrs))
    sample
  }

  /** Order-independent digest of a query's full output, computed on the
    * executors: columns in name order, one 64-bit hash per row. */
  def outputDigest(df: DataFrame): String = {
    val order = df.schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val (n, sum) = df.rdd.mapPartitions { it =>
      var n = 0L
      var s = 0L
      it.foreach { r => n += 1; s += Stats.rowHash(order.toSeq.map(i => r.get(i))) }
      Iterator((n, s))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    Stats.digest(n, sum)
  }

  def digestOf(spark: SparkSession, name: String, dir: String): Either[String, String] = {
    invalidate(name)
    try Right(outputDigest(SparkEntry.queries(name)(spark, dir)))
    catch { case e: Throwable => Left(e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(300)) }
  }
}
