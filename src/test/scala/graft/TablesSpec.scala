package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions.{col, lit}

/** `Tables` resolves each table once, fans out only a table with enough
  * rows, and a warm query neither infers a schema, reads a footer, nor
  * compiles a class it compiled before. */
class TablesSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val loaders: Seq[(SparkSession, String) => DataFrame] = Seq(
    Tables.region _, Tables.nation _, Tables.customer _, Tables.supplier _,
    Tables.part _, Tables.orders _, Tables.lineitem _, Tables.events _,
    Tables.documents _, Tables.embeddings _)

  /** One query from each family: the benchmark's catalog-floor set. */
  private val floor = Seq("o1_map_values", "s2_latest_per_key", "a6_custom_agg",
    "j6_windowed_outer", "d3_minhash_sig", "s4_native_cosine", "t26_pii_scrub",
    "c6_prep_chunked")

  private def buildFloor(): Seq[DataFrame] = floor.map(n => SparkEntry.queries(n)(spark, sf001))

  /** Bytes the calling thread reads through Hadoop filesystems in `body`:
    * a Parquet footer read is one. */
  private def bytesReadBy(body: => Unit): Long = {
    def read() = FileSystem.getAllStatistics.asScala.map(_.getThreadStatistics.getBytesRead).sum
    val before = read()
    body
    read() - before
  }

  /** The key-hash exchanges `Tables` adds to a load's plan. */
  private def fanOuts(df: DataFrame): Seq[ShuffleExchangeExec] =
    collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM => e
    }

  test("a resolved table loads, and the floor queries build, without a Spark job") {
    loaders.foreach(_(spark, sf001))
    buildFloor()
    val jobs = jobsRunBy {
      loaders.foreach(_(spark, sf001))
      buildFloor()
    }
    assert(jobs === 0, s"$jobs job(s) for 10 loads and 8 query builds")
  }

  test("a resolved table loads, and the floor queries build, without reading a footer") {
    loaders.foreach(_(spark, sf001))
    buildFloor()
    val read = bytesReadBy {
      loaders.foreach(_(spark, sf001))
      buildFloor()
    }
    assert(read === 0, s"$read byte(s) read for 10 loads and 8 query builds")
  }

  test("a table fans out from FanOutMinRows rows, and a rewrite across it is decided again") {
    val corpus = java.nio.file.Files.createTempDirectory("graft-fanout").toString
    val path = s"$corpus/documents.parquet"
    def write(rows: Long): Unit =
      spark.range(rows).select(col("id").as("doc_id"), lit("a b").as("text"))
        .coalesce(1).write.mode("overwrite").parquet(path)
    val below = Tables.FanOutMinRows - 1

    write(below)
    assert(bytesReadBy(Tables.documents(spark, corpus)) > 0, "the first load reads the footer")
    val small = Tables.documents(spark, corpus)
    assert(fanOuts(small).isEmpty, s"$below rows fanned out")
    assert(small.count() === below)

    write(Tables.FanOutMinRows)
    val large = Tables.documents(spark, corpus)
    val exchanges = fanOuts(large)
    assert(exchanges.size === 1, s"${Tables.FanOutMinRows} rows: ${exchanges.size} fan-out exchanges")
    exchanges.head.outputPartitioning match {
      case HashPartitioning(Seq(a: AttributeReference), n) =>
        assert(a.name === "doc_id")
        assert(n === spark.sparkContext.defaultParallelism)
      case p => fail(s"fan-out partitioned as $p, not by the hash of doc_id")
    }
    assert(large.count() === Tables.FanOutMinRows)

    write(below)
    assert(fanOuts(Tables.documents(spark, corpus)).isEmpty, "a shrunk table still fans out")
  }

  test("a rewritten or appended table is resolved again") {
    val corpus = java.nio.file.Files.createTempDirectory("graft-tables").toString
    val path = s"$corpus/documents.parquet"
    val source = spark.read.parquet(s"$sf001/documents.parquet")
    val n = source.count()
    source.write.parquet(path)
    assert(Tables.documents(spark, corpus).count() === n)
    assert(!Tables.documents(spark, corpus).columns.contains("extra"))

    source.withColumn("extra", lit(1)).write.mode("overwrite").parquet(path)
    val rewritten = Tables.documents(spark, corpus)
    assert(rewritten.columns.contains("extra"), "a rewritten table keeps its old schema")
    assert(rewritten.count() === n)

    source.limit(5).withColumn("extra", lit(2)).write.mode("append").parquet(path)
    val appended = Tables.documents(spark, corpus)
    assert(appended.columns.contains("extra"))
    assert(appended.count() === n + 5)
    assert(appended.where(col("extra") === 2).count() === 5)
  }

  test("two loads of one table join on a shared column without ambiguity") {
    val a = Tables.events(spark, sf001)
    val b = Tables.events(spark, sf001)
    val joined = a.join(b, a("event_id") === b("event_id")).select(a("event_id"), b("ts"))
    assert(joined.count() === a.count())
  }

  test("a warm pass of the floor queries compiles no class") {
    def pass(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      buildFloor().foreach(_.queryExecution.toRdd.count())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    pass()
    val warm = pass()
    assert(warm === 0, s"the warm pass compiled $warm class(es) again")
  }
}
