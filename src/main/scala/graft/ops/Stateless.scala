package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Stateless row operators — SURVEY.md §2.2 (O1–O16).
  *
  * Each method is the batch DataFrame form of one reference operator, expressed
  * as pure column expressions so the whole chain stays inside whole-stage
  * codegen and filters/projections push down to the parquet scan.
  *
  * Reference sites (see SURVEY.md for full citations):
  *  - mapValues:  MapFunctionLambdaExample.java:123
  *  - map:        MapFunctionLambdaExample.java:132
  *  - selectKey:  SumLambdaExample.java:142
  *  - flatMap (poison pills): HandlingCorruptedInputRecordsIntegrationTest.java:79-98
  *  - flatMapValues (tokenize): WordCountLambdaExample.java:197
  *  - filter:     SumLambdaExample.java:136, KafkaMusicExample.java:312
  *  - table filter (HAVING): AnomalyDetectionLambdaExample.java:140
  *  - branch:     microservices/FraudService.java:107-110
  *  - fan-out:    FanoutLambdaIntegrationTest.java:80-84
  *  - pass-through: PassThroughIntegrationTest.java:64
  *  - JSON→typed: JsonToAvroExample.java:113-126
  *  - validation: microservices/OrderDetailsService.java:175-183
  *  - string ops: MixAndMatchLambdaIntegrationTest.java:60-89
  *  - math ops:   SumLambdaExample.java:136,146
  */
object Stateless {

  /** O1 `mapValues`: 1:1 value transform, key untouched. */
  def mapValuesUpper(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"), upper(col("event_type")).as("value_upper"))

  /** O2 `map`: transform key and value together (re-key + doubling). */
  def mapRekeyDouble(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      concat(col("event_type"), lit("#"), col("user_id").cast(StringType)).as("new_key"),
      (col("value") * 2).as("doubled"))

  /** O3 `selectKey`: re-key only; the payload is untouched. */
  def selectKey(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id").as("key"), col("event_id"), col("value"))

  /** O4 `flatMap` poison-pill skipping: permissive parse, drop unparseable. */
  def flatMapCorrupt(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"),
        from_json(col("props"), StructType(Seq(StructField("k", IntegerType)))).as("p"))
      .select(col("event_id"), col("p.k").as("k"))
      .filter(col("k").isNotNull)
      .select(col("event_id"), (col("k") * 2).as("k2"))

  /** O5 `flatMapValues`: tokenize a line into words (1:N). Subset keeps output small. */
  def flatMapWords(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), explode(TextAnalysis.tokens).as("word"))

  /** O6 `filter` on a stream: predicate on key+value. */
  def filterStream(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("event_type") === "purchase" && col("value") > 100)
      .select(col("event_id"), col("user_id"), col("value"))

  /** O7 `filter` on a table = HAVING over the aggregated view. */
  def filterTableHaving(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 3)

  /** O9 `split().branch()`: two filters over one scan, tagged and unioned.
    * Catalyst reuses the scan; the union is the batch view of both branches. */
  def branch(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("event_id"), col("value"))
    val above = e.filter(col("value") >= 100).withColumn("branch", lit("limit-above"))
    val below = e.filter(col("value") < 100).withColumn("branch", lit("limit-below"))
    above.unionByName(below)
  }

  /** O10 fan-out: one source feeding two independent aggregations. */
  def fanout(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val counts = e.groupBy(col("event_type"))
      .agg(count(lit(1)).cast(DoubleType).as("val"))
      .withColumn("metric", lit("count"))
    val sums = e.groupBy(col("event_type"))
      .agg(sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("val"))
      .withColumn("metric", lit("sum"))
    counts.unionByName(sums)
  }

  /** S2 `builder.table(topic)`: the changelog materialized as a table —
    * latest value per key (ts desc, event_id desc tie-break).
    *
    * `max_by(payload, struct(ts, event_id))` instead of a rn=1 sort-window:
    * the aggregate combines map-side (`partial_max_by` below the exchange),
    * so on a 100 TB changelog the shuffle carries one row per key per
    * mapper — the window form shuffles every record and only then sorts.
    * (Spark plans SortAggregate here, not HashAggregate, because the
    * struct buffer isn't hash-mutable; the mapper-local sort keys only
    * user_id and is the price of the collapsed shuffle.) The struct
    * ordering key reproduces the (ts, event_id) tie-break exactly. */
  def latestPerKey(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"), col("value"))
      .groupBy(col("user_id"))
      .agg(max_by(struct(col("event_type"), col("value")),
        struct(col("ts"), col("event_id"))).as("latest"))
      .select(col("user_id"), col("latest.event_type").as("event_type"),
        col("latest.value").as("value"))

  /** S6 dynamic topic routing (`TopicNameExtractor`): the sink topic is a
    * per-record column; batch form counts records per routed topic (the
    * write itself is `partitionBy(topic)` / Kafka's per-row `topic`). */
  def dynamicRouting(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("topic", concat(lit("events-"), col("event_type")))
      .groupBy(col("topic")).agg(count(lit(1)).as("n_records"))

  /** O8 tombstone filter: a changelog with null values (deletes) keeps only
    * live records. Tombstones are synthesized deterministically (value < 5
    * → null payload), then dropped — `filter($"v".isNotNull)`. */
  def tombstoneFilter(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"),
        when(col("value") >= 5, col("value")).otherwise(lit(null)).as("v"))
      .filter(col("v").isNotNull)

  /** O11 peek (`KStream.peek`, WordCountLambdaExample's
    * `.peek((k, v) -> ...)` debugging taps): observe side-channel metrics
    * on the flowing data WITHOUT altering it — `Dataset.observe` attaches
    * named aggregates evaluated as rows stream past (no extra pass, no
    * fork of the plan), surfaced via `Observation`/QueryExecutionListener.
    * The relation itself is the identity, which is exactly what the
    * oracle checks. */
  def peek(s: SparkSession, dir: String): DataFrame =
    Tables.nation(s, dir)
      .select(col("n_nationkey"), col("n_name"))
      .observe("o11_peek", count(lit(1)).as("n_rows"),
        max(col("n_nationkey")).as("max_key"))

  /** SumLambdaExample.java:96-110: filter to odd numbers, re-key to a
    * constant, reduce-sum into one running total — the smallest stateful
    * topology in the reference. The constant re-key that Kafka Streams
    * needs to co-locate the reduction is exactly what a global aggregate
    * already is in Spark (partial sums per partition, one merged row). */
  def sumOdd(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("event_id") % 2 === 1)
      .agg(sum(col("event_id")).as("sum_odd"))

  /** O12 pass-through / pipe: identity copy. */
  def passThrough(s: SparkSession, dir: String): DataFrame =
    Tables.region(s, dir).select(col("r_regionkey"), col("r_name"))

  /** O13 JSON→typed record conversion, dropping unparseable rows. */
  def jsonToTyped(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast(IntegerType).as("k"))
      .filter(col("k").isNotNull)

  /** O18 Avro wire-format round-trip (JsonToAvroExample.java:113-126,
    * Schemas.java:77-83): project events into Avro binary records, decode
    * them back, and aggregate the DECODED columns — the oracle checks the
    * aggregate against the raw table, so any en/decode corruption fails
    * the hash compare. Encode and decode are narrow mapPartitions stages
    * (no shuffle added by the serde). */
  def avroRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.AvroCodec
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    val decoded = AvroCodec.decode(
      AvroCodec.encode(ev, AvroCodec.eventSchemaJson), AvroCodec.eventSchemaJson)
    decoded.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("event_id")).as("id_sum"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("total"))
  }

  /** O20 Schema-Registry wire-format round-trip over a MIXED-VERSION
    * topic (the scenario registry-backed serdes exist for —
    * SessionWindowsExample.java:158-160): odd events are written under
    * schema v1 (id 7), even events under v2 (id 8 — v1 plus a `src`
    * field), the two framed byte streams union into one "topic", and the
    * consumer decodes EVERY record against the v1 reader schema by
    * resolving each record's writer schema from its framed id (v2's
    * extra field is skipped by Avro schema resolution). The oracle
    * aggregates the raw table, so framing or resolution corruption on
    * either version fails the hash compare. */
  def wireRegistryRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.AvroCodec
    val v1 = AvroCodec.eventSchemaJson
    val v2 =
      """{"type":"record","name":"Event","namespace":"graft.avro","fields":[
        |{"name":"event_id","type":"long"},
        |{"name":"event_type","type":"string"},
        |{"name":"value","type":"double"},
        |{"name":"src","type":"string"}]}""".stripMargin
    val registry = Map(7 -> v1, 8 -> v2)
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    val oldProducer = AvroCodec.encodeWire(
      ev.filter(col("event_id") % 2 === 1), 7, v1)
    val newProducer = AvroCodec.encodeWire(
      ev.filter(col("event_id") % 2 === 0).withColumn("src", lit("v2")), 8, v2)
    val decoded = AvroCodec.decodeWire(
      oldProducer.unionByName(newProducer), registry, readerSchemaJson = v1)
    decoded.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("event_id")).as("id_sum"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("total"))
  }

  /** O14 record validation: field-range predicate → PASS/FAIL counts. */
  def validation(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(when(col("l_quantity") >= 0 && col("l_extendedprice") >= 0
          && col("l_returnflag").isNotNull, "PASS").otherwise("FAIL").as("result"))
      .groupBy(col("result")).agg(count(lit(1)).as("cnt"))

  /** O15 string ops: case-mapping, concat, regex anonymization. */
  def stringOps(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      concat(col("lang"), lit(":"), upper(col("source"))).as("tag"),
      regexp_replace(substring(col("text"), 1, 50), "[aeiou]", "*").as("anon"))

  /** §2.6 serving-path sort+limit (MusicPlaysRestService top-five read):
    * global ORDER BY ... LIMIT — Spark plans TakeOrderedAndProject
    * (per-partition top-k + merge), never a full sort. */
  def orderLimit(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)

  /** O16 math ops: per-row arithmetic (revenue expr, mod, greatest). */
  def mathOps(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_orderkey") % 100 === 0)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        (col("l_quantity") * 2).as("qty2"),
        greatest(col("l_tax"), col("l_discount")).as("max_rate"))
}
