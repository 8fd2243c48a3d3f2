package graft

import org.apache.spark.sql.{DataFrame, GraftDatasets, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.col

import graft.ops.{Dedup, Prepared}

/** The prepared-query contract of `SparkEntry.queries`: a repeated call
  * neither builds, analyzes nor optimizes its query again while the
  * session, dir, conf and table inventories stay the same; any of them
  * moving builds it again; a build that read a memo or checkpoints is
  * never kept; and a prepared call's output is the first call's. */
class PreparedSpec extends SparkSpec {

  private val floor = Seq("o1_map_values", "s2_latest_per_key", "a6_custom_agg",
    "j6_windowed_outer", "d3_minhash_sig", "s4_native_cosine", "t26_pii_scrub",
    "c6_prep_chunked")

  private def query(name: String) = SparkEntry.queries(name)

  private def kept(name: String, dir: String = sf001): Option[LogicalPlan] =
    query(name) match { case p: Prepared => p.kept(spark, dir) }

  /** The planning phases a call's `QueryExecution` records once it runs. */
  private def phases(df: DataFrame): Set[String] = {
    df.queryExecution.toRdd.count()
    df.queryExecution.tracker.phases.keySet
  }

  private def analyzed(df: DataFrame): Boolean =
    phases(df).contains(QueryPlanningTracker.ANALYSIS)

  /** The harness's label invalidations: a label phase runs on every call. */
  private def invalidate(name: String): Unit = name match {
    case "d8_dedup_clusters" => Dedup.invalidateLabels()
    case "s10_semantic_dedup" => graft.ops.Similarity.invalidateSemanticLabels()
    case "c10_prep_full" =>
      graft.ops.Composites.invalidateSurvivors()
      graft.ops.TextAnalysis.invalidateStatsMemos()
    case _ => ()
  }

  /** A frame's rows, collected through its own `QueryExecution` (so a
    * prepared call runs its kept plans), rendered and sorted. */
  private def rows(df: DataFrame): Seq[String] = {
    def render(v: Any): String = v match {
      case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
      case r: org.apache.spark.sql.Row => r.toSeq.map(render).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.map { case (k, x) => render(k) + "->" + render(x) }.toSeq.sorted.mkString("{", ",", "}")
      case xs: scala.collection.Seq[_] => xs.map(render).mkString("(", ",", ")")
      case x => String.valueOf(x)
    }
    df.collect().map(render).toSeq.sorted
  }

  /** A temporary corpus holding a copy of sf0.001's documents. */
  private def corpusWithDocuments(): (String, DataFrame) = {
    val corpus = java.nio.file.Files.createTempDirectory("graft-prepared").toString
    val source = spark.read.parquet(s"$sf001/documents.parquet")
    source.write.parquet(s"$corpus/documents.parquet")
    (corpus, source)
  }

  test("a second call of each floor query is neither analyzed nor optimized, and builds without a job") {
    floor.foreach(n => query(n)(spark, sf001).queryExecution.toRdd.count())
    floor.foreach { n =>
      assert(kept(n).nonEmpty, s"$n was not kept")
      var df: DataFrame = null
      val jobs = jobsRunBy { df = query(n)(spark, sf001) }
      assert(jobs === 0, s"$n ran $jobs job(s) while it was built")
      val ps = phases(df)
      assert(!ps.contains(QueryPlanningTracker.ANALYSIS), s"$n analyzed again: $ps")
      assert(!ps.contains(QueryPlanningTracker.OPTIMIZATION), s"$n optimized again: $ps")
      assert(ps.contains(QueryPlanningTracker.PLANNING), s"$n was not planned: $ps")
    }
  }

  test("a rewritten or appended table builds the plan again") {
    val (corpus, source) = corpusWithDocuments()
    val path = s"$corpus/documents.parquet"
    val t26 = query("t26_pii_scrub")
    val n = t26(spark, corpus).count()
    assert(!analyzed(t26(spark, corpus)), "the second call was built again")

    source.union(source.limit(3).withColumn("doc_id", col("doc_id") + 1000000))
      .write.mode("overwrite").parquet(path)
    val rewritten = t26(spark, corpus)
    assert(analyzed(rewritten), "a rewritten table kept the old plan")
    val m = rewritten.count()
    assert(m > n, s"$m rows after adding 3 PII documents, $n before")
    assert(!analyzed(t26(spark, corpus)))

    source.limit(3).withColumn("doc_id", col("doc_id") + 2000000)
      .write.mode("append").parquet(path)
    val appended = t26(spark, corpus)
    assert(analyzed(appended), "an appended table kept the old plan")
    assert(appended.count() > m)
  }

  test("a changed SQL conf builds the plan again") {
    val o1 = query("o1_map_values")
    o1(spark, sf001)
    assert(!analyzed(o1(spark, sf001)))
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", (!ansi.toBoolean).toString)
    try {
      assert(analyzed(o1(spark, sf001)), "a changed conf kept the old plan")
      assert(!analyzed(o1(spark, sf001)))
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert(analyzed(o1(spark, sf001)), "a restored conf kept the changed conf's plan")
  }

  test("a dir switch and a new session each build the plan again") {
    val (corpus, _) = corpusWithDocuments()
    val t26 = query("t26_pii_scrub")
    t26(spark, sf001)
    assert(!analyzed(t26(spark, sf001)))
    assert(analyzed(t26(spark, corpus)), "another dir read the old dir's plan")
    assert(analyzed(t26(spark, sf001)), "a dir switch kept the plan")

    val other = spark.newSession()
    val first = t26(other, sf001)
    assert(analyzed(first), "a new session read another session's plan")
    assert(first.sparkSession eq other)
    val second = t26(other, sf001)
    assert(!analyzed(second))
    assert(second.sparkSession eq other)
    assert(analyzed(t26(spark, sf001)), "the first session read the new session's plan")
  }

  test("invalidateLabels still makes d8 run its label phase") {
    val d8 = query("d8_dedup_clusters")
    d8(spark, sf001).queryExecution.toRdd.count()
    assert(kept("d8_dedup_clusters").isEmpty, "d8 reads the label memo and was kept")
    Dedup.invalidateLabels()
    val jobs = jobsRunBy(d8(spark, sf001))
    assert(jobs > 0, "d8's build ran no label phase after invalidateLabels")
  }

  test("a query whose build checkpoints is never kept") {
    // t21 checkpoints each merge round and reads no memo
    Seq("t21_bpe_merges", "d8_dedup_clusters").foreach { n =>
      val df = query(n)(spark, sf001)
      assert(df.queryExecution.analyzed.collectFirst {
        case r: org.apache.spark.sql.execution.LogicalRDD => r
      }.nonEmpty, s"$n holds no checkpoint")
      df.queryExecution.toRdd.count()
      assert(kept(n).isEmpty, s"$n was kept")
      assert(analyzed(query(n)(spark, sf001)), s"$n's second call was not built again")
    }
  }

  test("two prepared calls join on a shared column as two fresh builds do") {
    val s2 = query("s2_latest_per_key")
    s2(spark, sf001)
    assert(kept("s2_latest_per_key").nonEmpty)
    def joined(a: DataFrame, b: DataFrame) =
      a.join(b, a("user_id") === b("user_id"))
        .select(a("user_id"), a("value").as("va"), b("event_type").as("tb"))
    val prepared = joined(s2(spark, sf001), s2(spark, sf001))
    val fresh = joined(graft.ops.Stateless.latestPerKey(spark, sf001),
      graft.ops.Stateless.latestPerKey(spark, sf001))
    val n = fresh.count()
    assert(n === graft.ops.Stateless.latestPerKey(spark, sf001).count())
    assert(prepared.collect().map(_.toString).sorted.toSeq ===
      fresh.collect().map(_.toString).sorted.toSeq)
  }

  test("after 50 calls the kept plan carries no per-call state") {
    val o1 = query("o1_map_values")
    o1(spark, sf001)
    val plan = kept("o1_map_values").get
    def idTags(p: LogicalPlan) = p.collect { case n => n.getTagValue(GraftDatasets.DatasetIdTag) }
    val before = idTags(plan).map(_.map(_.toSet))
    assert(plan.getTagValue(GraftDatasets.DatasetIdTag).isEmpty, "the kept root carries a Dataset id")
    val calls = (1 to 50).map(_ => o1(spark, sf001))
    assert(kept("o1_map_values").exists(_ eq plan), "the plan was kept again")
    assert(idTags(plan).map(_.map(_.toSet)) === before, "a call left a Dataset id on the kept plan")
    calls.foreach(df => assert(df.queryExecution.analyzed.getTagValue(GraftDatasets.DatasetIdTag)
      .exists(_.size == 1), "a call's root carries another call's Dataset id"))
    assert(calls.map(_.queryExecution.id).distinct.size === 50)
  }

  test("every entry's second (prepared) call gives its first call's output") {
    assert(SparkEntry.queries.size === 147)
    val differ = SparkEntry.queries.keys.toSeq.flatMap { n =>
      def call(): DataFrame = { invalidate(n); query(n)(spark, sf001) }
      val first = rows(call())
      val prepared = kept(n).nonEmpty
      val again = call()
      val second = rows(again)
      if (prepared)
        assert(!again.queryExecution.tracker.phases.contains(QueryPlanningTracker.ANALYSIS),
          s"$n's second call was analyzed again")
      Option.when(first != second)(s"$n: ${first.size} rows, then ${second.size} rows that differ")
    }
    assert(differ.isEmpty, differ.mkString("\n"))
    val unkept = SparkEntry.queries.keys.filter(n => kept(n).isEmpty)
    info(s"${unkept.size} entries are not kept: ${unkept.mkString(", ")}")
  }
}
