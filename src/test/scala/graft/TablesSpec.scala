package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, SinglePartition}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.{Exchange, REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions.{col, lit}

/** `Tables` resolves each table once, reads a small table as one
  * partition and fans out only a table with enough rows, and a warm
  * query neither infers a schema, reads a footer, lists a file, nor
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

  test("a resolved table loads, and the floor queries build, without listing a file") {
    def listed(body: => Unit): Long = {
      val before = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
      body
      HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - before
    }
    val corpus = java.nio.file.Files.createTempDirectory("graft-listing").toString
    spark.range(10).select(col("id").as("doc_id"), lit("a b").as("text"))
      .write.parquet(s"$corpus/documents.parquet")
    assert(listed(Tables.documents(spark, corpus)) > 0, "a first load lists the table's files")
    loaders.foreach(_(spark, sf001))
    buildFloor()
    val n = listed {
      loaders.foreach(_(spark, sf001))
      buildFloor()
    }
    assert(n === 0, s"$n file(s) listed for 10 loads and 8 query builds")
  }

  /** The final plan, out of its adaptive wrapper. */
  private def finalPlan(df: DataFrame) = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  test("a table of fewer than FanOutMinRows rows reads as one partition, and a groupBy over it shuffles nothing") {
    val corpus = java.nio.file.Files.createTempDirectory("graft-single").toString
    // two files, so the scan alone would read two splits
    spark.range(Tables.FanOutMinRows - 1)
      .select(col("id").as("doc_id"), (col("id") % 7).cast("string").as("text"))
      .repartition(2).write.parquet(s"$corpus/documents.parquet")
    val docs = Tables.documents(spark, corpus)
    assert(finalPlan(docs).outputPartitioning === SinglePartition)
    assert(docs.rdd.getNumPartitions === 1)
    val grouped = docs.groupBy(col("text")).count()
    assert(grouped.collect().map(_.getLong(1)).sum === Tables.FanOutMinRows - 1)
    val exchanges = collect(grouped.queryExecution.executedPlan) { case e: Exchange => e }
    assert(exchanges.isEmpty, s"a groupBy over one partition shuffled:\n$exchanges")
  }

  test("j6 runs as one job") {
    val j6 = SparkEntry.queries("j6_windowed_outer")
    j6(spark, sf001).queryExecution.toRdd.count()
    val jobs = jobsRunBy(j6(spark, sf001).queryExecution.toRdd.count())
    assert(jobs === 1, s"j6 ran $jobs jobs")
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
