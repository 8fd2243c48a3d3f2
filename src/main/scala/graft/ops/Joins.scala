package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Join operators — SURVEY.md §2.5 (J1–J8).
  *
  * Dimension sides are explicitly `broadcast()` (the GlobalKTable pattern);
  * fact-fact joins shuffle on their equi-keys and carry the time bound as a
  * residual condition so Spark still plans a sort-merge join, not a
  * cartesian product.
  *
  * Reference sites:
  *  - stream⋈table inner: microservices/InventoryService.java:120-121
  *  - stream⟕table left + default: PageViewRegionLambdaExample.java:172-179
  *  - stream⋈globalTable FK chain: GlobalKTablesExample.java:183-196
  *  - windowed stream-stream inner: microservices/EmailService.java:100-102
  *  - windowed stream-stream outer: StreamToStreamJoinIntegrationTest.java:96-110
  *  - table⋈table: TableToTableJoinIntegrationTest.java:105-113
  *  - custom as-of stream-table join: CustomStreamTableJoinIntegrationTest.java:227-237
  */
object Joins {

  private def dsum(c: String) =
    sum(col(c).cast(DecimalType(18, 2))).cast(DoubleType)

  /** J1 stream⋈table inner join: orders enriched with customer segment. */
  def streamTableInner(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(dsum("o_totalprice").as("revenue"), count(lit(1)).as("n_orders"))

  /** J2 stream⟕table left join with UNKNOWN default for missing table side. */
  def streamTableLeft(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"), "left")
      .select(coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"))
      .groupBy(col("segment")).agg(count(lit(1)).as("n_orders"))

  /** J3 stream⋈GlobalKTable chained FK joins: lineitem → part → supplier →
    * nation, every dimension broadcast (no shuffle of the fact table). */
  def broadcastFkChain(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
      .join(broadcast(Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("p_brand"), col("n_name"))
      .agg(count(lit(1)).as("n_lines"),
        // price and discount are exact 2-decimal values: multiply as decimals
        // so the sum is exact and engine-order-independent
        sum(col("l_extendedprice").cast(DecimalType(18, 2))
          * (lit(1).cast(DecimalType(4, 2)) - col("l_discount").cast(DecimalType(4, 2))))
          .cast(DoubleType).as("revenue"))

  /** J5 windowed stream-stream inner join: purchases ⋈ clicks of the same
    * user within ±10 minutes; pair counts per user. */
  def windowedInner(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    p.join(c, col("p_user") === col("c_user")
        && col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES")
        && col("c_ts") <= col("p_ts") + expr("INTERVAL 10 MINUTES"))
      .groupBy(col("p_user").as("user_id"))
      .agg(count(lit(1)).as("pairs"))
  }

  /** J6 windowed stream-stream FULL OUTER join: views ⟗ purchases of the same
    * user with the purchase within 5 minutes after the view — unmatched
    * sides appear null-padded ("shown/not-clicked-yet"). */
  def windowedOuter(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val v = e.filter(col("event_type") === "view")
      .select(col("event_id").as("v_id"), col("user_id").as("v_user"), col("ts").as("v_ts"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
    v.join(p, col("v_user") === col("p_user")
        && col("p_ts") >= col("v_ts")
        && col("p_ts") <= col("v_ts") + expr("INTERVAL 5 MINUTES"), "full_outer")
      .select(when(col("v_id").isNull, "purchase-only")
        .when(col("p_id").isNull, "view-only")
        .otherwise("matched").as("status"))
      .groupBy(col("status")).agg(count(lit(1)).as("cnt"))
  }

  /** J7 table⋈table join: latest purchase vs latest click per user (two
    * latest-per-key changelog views joined on key). */
  def tableTable(s: SparkSession, dir: String): DataFrame = {
    // Latest-per-key as a hash aggregate, not a sort-window: the selected
    // column IS the ordering column, so max(ts) suffices — map-side
    // combine, no sort, one row per user into the join.
    def latest(eventType: String, alias: String): DataFrame =
      Tables.events(s, dir)
        .filter(col("event_type") === eventType)
        .groupBy(col("user_id"))
        .agg(max(col("ts")).as(alias))
    latest("purchase", "last_purchase")
      .join(latest("click", "last_click"), Seq("user_id"))
  }

  /** Skew-resilient salted join: when one join key dominates (hot user,
    * boilerplate doc), a plain shuffle join puts the whole key in one task.
    * Salting splits the fact side S ways with a DETERMINISTIC salt (hash of
    * the row id — reproducible across engines and retries) and replicates
    * the dimension row per salt, so the hot key spreads over S tasks.
    * Results are identical to the unsalted join — the DuckDB oracle runs
    * the plain join. Spark's AQE skew handling covers sort-merge spills;
    * explicit salting is the pattern for the hash-partitioned stateful
    * stages AQE can't rewrite. */
  val SaltBuckets = 8

  def saltedJoin(s: SparkSession, dir: String): DataFrame = {
    val fact = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("value"),
        pmod(hash(col("event_id")), lit(SaltBuckets)).as("salt"))
    val dim = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"),
        explode(sequence(lit(0), lit(SaltBuckets - 1))).as("salt"))
    fact.join(dim, col("user_id") === col("c_custkey") && fact("salt") === dim("salt"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("total"))
  }

  /** J8 custom as-of stream-table join: each purchase picks up the most
    * recent click at-or-before it for the same user.
    *
    * Scalable pattern: union both sides, sort within user partitions, and
    * propagate the last click with `last(..., ignoreNulls)` — one shuffle on
    * user_id, no per-row lookup, no skew-prone range join. Clicks order
    * before purchases at equal ts (kind 0 < 1) making the match inclusive.
    * The DuckDB oracle uses its native ASOF JOIN. */
  def asOfJoin(s: SparkSession, dir: String): DataFrame =
    asOfJoinFrame(Tables.events(s, dir))

  /** Frame-level form of [[asOfJoin]]: any frame with (event_id, ts,
    * user_id, event_type) columns — lets specs drive the real operator
    * with in-memory data. */
  def asOfJoinFrame(e: DataFrame): DataFrame = {
    // ONE scan for both sides: Catalyst does not share scans across
    // union branches, so the click and purchase views are one tagged
    // pass. Clicks group to one row per (user, ts) — max event_id wins,
    // so the as-of result is unique and deterministic. Purchases group
    // on their own event_id too; `n` counts the rows of a group, so
    // identical purchase rows (or NULL-id purchases at one (user, ts))
    // come back out one row each after the window, as the oracle emits
    // them — a Generate over the filtered rows, no extra scan or shuffle.
    val kind = when(col("event_type") === "click", 0).otherwise(1)
    val tagged = e.filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("ts"), kind.as("kind"),
        col("event_id"),
        when(kind === 1, col("event_id")).cast(LongType).as("pe"))
      .groupBy(col("user_id"), col("ts"), col("kind"), col("pe"))
      .agg(max(when(col("kind") === 0, col("event_id"))).as("click_id"),
        count(lit(1)).cast(IntegerType).as("n"))
      .select(col("user_id"), col("ts"), col("kind"), col("click_id"),
        col("pe").as("purchase_id"), col("n"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("asof_click_id", last(col("click_id"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(explode(array_repeat(col("purchase_id"), col("n"))).as("purchase_id"),
        col("user_id"), col("asof_click_id"))
  }
}
