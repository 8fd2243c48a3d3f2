package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** `Tables` resolves each table once, and a warm query neither infers a
  * schema nor compiles a class it compiled before. */
class TablesSpec extends SparkSpec {

  private val loaders: Seq[(SparkSession, String) => DataFrame] = Seq(
    Tables.region _, Tables.nation _, Tables.customer _, Tables.supplier _,
    Tables.part _, Tables.orders _, Tables.lineitem _, Tables.events _,
    Tables.documents _, Tables.embeddings _)

  /** One query from each family: the benchmark's catalog-floor set. */
  private val floor = Seq("o1_map_values", "s2_latest_per_key", "a6_custom_agg",
    "j6_windowed_outer", "d3_minhash_sig", "s4_native_cosine", "t26_pii_scrub",
    "c6_prep_chunked")

  private def buildFloor(): Seq[DataFrame] = floor.map(n => SparkEntry.queries(n)(spark, sf001))

  test("a resolved table loads, and the floor queries build, without a Spark job") {
    loaders.foreach(_(spark, sf001))
    buildFloor()
    val jobs = jobsRunBy {
      loaders.foreach(_(spark, sf001))
      buildFloor()
    }
    assert(jobs === 0, s"$jobs job(s) for 10 loads and 8 query builds")
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
