package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Grouping & aggregation operators — SURVEY.md §2.3 (A1–A12).
  *
  * Double-typed sums are accumulated as decimals and cast back to double so
  * the result is bit-identical regardless of partial-aggregation order — a
  * requirement both for the DuckDB oracle compare and for deterministic
  * results on a real cluster where partition merge order is arbitrary.
  *
  * Reference sites:
  *  - groupByKey/count: WordCountLambdaExample.java:202-204
  *  - reduce: SumLambdaExample.java:146, ReduceTest.java:114 (ordered concat)
  *  - aggregate: AggregateTest.java:113-117, ValidateStateWithInteractiveQueriesLambdaIntegrationTest.java:96-100
  *  - table groupBy (latest-per-key re-group): UserRegionLambdaExample.java:131
  *  - top-N per group: TopArticlesLambdaExample.java:238-250, KafkaMusicExample.java:455-498
  *  - session aggregate: microservices/FraudService.java:93-98
  *  - running per-record count: StateStoresInTheDSLIntegrationTest.java:65-106
  *  - stock reservation: microservices/InventoryService.java:132-169
  */
object Aggregations {

  /** Exact decimal accumulation of a double column, emitted as double. */
  private def dsum(c: String): org.apache.spark.sql.Column =
    sum(col(c).cast(DecimalType(18, 2))).cast(DoubleType)

  /** A1/A5 `groupByKey` + reduce(sum): total spend per user. */
  def sumByKey(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(dsum("value").as("total"), count(lit(1)).as("n"))

  /** A2/A4 flagship word count: tokenize → re-key by word → count.
    * The shuffle keys on `word`; partial counts combine map-side. */
  def wordCount(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(TextAnalysis.tokens).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** TPC-H Q1-style pricing summary (reduce + aggregate over lineitem). */
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum("l_quantity").as("sum_qty"),
        dsum("l_extendedprice").as("sum_base_price"),
        count(lit(1)).as("count_order"))
      .withColumn("avg_qty", col("sum_qty") / col("count_order"))

  /** A3 table-groupBy: latest-per-key view re-grouped.
    * Latest event per user (ts desc, event_id desc as tie-break), then count
    * users by the event_type of their latest event. Batch recomputation from
    * the latest view makes the reference's retraction stream implicit. */
  def latestPerKeyRegroup(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      // max_by aggregate (no sort-window): partial_max_by combines map-side
      // so the shuffle carries one row per user — the changelog scale shape.
      .groupBy(col("user_id"))
      .agg(max_by(col("event_type"), struct(col("ts"), col("event_id"))).as("event_type"))
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_users"))

  /** A5 ordered-concat reduce: per-user event-type sequence in event order. */
  def orderedConcat(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))).as("evs"))
      .select(col("user_id"),
        concat_ws(" ", transform(col("evs"), e => e.getField("event_type"))).as("seq"))

  /** A6 custom aggregate (init + adder): sum-of-lengths and max per group. */
  def customAggregate(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("lang"))
      .agg(sum(length(col("text"))).as("total_len"), max(col("n_chars")).as("max_chars"))

  /** A7 table-groupBy aggregate with subtractor, batch form: the KTable
    * (latest event per user) re-grouped by event_type, keeping the top-3
    * users by latest value. The reference maintains this incrementally
    * with add/subtract callbacks (TopArticlesLambdaExample.java:218-235);
    * batch recomputation from the latest view makes retractions implicit. */
  def topNLatest(s: SparkSession, dir: String): DataFrame = {
    val rank = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("user_id").asc)
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"), col("value"))
      // Stage 1 latest-per-key as a max_by aggregate (map-side combined, no
      // sort-window); only the tiny latest view reaches the rank window.
      .groupBy(col("user_id"))
      .agg(max_by(struct(col("event_type"), col("value")),
        struct(col("ts"), col("event_id"))).as("l"))
      .select(col("user_id"), col("l.event_type").as("event_type"),
        col("l.value").as("value"))
      .withColumn("pos", row_number().over(rank))
      .filter(col("pos") <= 3)
      .select(col("event_type"), col("pos"), col("user_id"), col("value"))
  }

  /** A8 top-N per group: 5 priciest parts per brand via rank window.
    * Deterministic tie-break on p_partkey. */
  def topNPerGroup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
    Tables.part(s, dir)
      .select(col("p_brand"), col("p_partkey"), col("p_retailprice"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
  }

  /** A9/W3 session-window aggregate (FraudService-style session spend):
    * 30-minute inactivity gap per user; emits per-session totals.
    * Spark's native `session_window` merges overlapping sessions at the
    * state-store level — the same gap semantics the reference implements
    * with its session merger. */
  def sessionSpend(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), dsum("value").as("spend"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("n_events"), col("spend"))

  /** A10 min/max over stream (per event_type). */
  def minMax(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(min(col("value")).as("min_val"), max(col("value")).as("max_val"),
        min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))

  /** A11 running per-record count (Processor + KV store in the reference):
    * per-key sequence number in event order. */
  def runningCount(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
      .withColumn("seq", row_number().over(w))
      .select(col("event_id"), col("user_id"), col("seq"))
  }

  /** A12 stock reservation: running reserved quantity per part compared to a
    * deterministic stock level; order-dependent PASS/FAIL per line.
    * Quantities are small integers, so the double running sum is exact. */
  def reservation(s: SparkSession, dir: String): DataFrame = {
    val stock = Tables.part(s, dir)
      .select(col("p_partkey"), (col("p_size") * 100).cast(DoubleType).as("stock"))
    val w = Window.partitionBy(col("l_partkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_quantity"), col("l_shipdate"))
      .withColumn("reserved", sum(col("l_quantity")).over(w))
      .join(broadcast(stock), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        when(col("reserved") <= col("stock"), "PASS").otherwise("FAIL").as("result"))
  }
}
