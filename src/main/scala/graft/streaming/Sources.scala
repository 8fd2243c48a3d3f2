package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.Row

import scala.jdk.CollectionConverters._

/** Source/sink wiring (SURVEY.md §2.1, S1–S10).
  *
  * The Kafka connector jar isn't present in this environment, so the
  * Kafka paths are thin, untested-here wrappers over the standard
  * `format("kafka")` options; everything downstream of the source is
  * source-agnostic (see StreamOps) and is tested via MemoryStream.
  */
object Sources {

  /** Security config pass-through (SecureKafkaStreamsExample.java:166-171
    * parity): the reference sets SSL/SASL client properties on its
    * StreamsConfig; Spark's Kafka connector takes the SAME client
    * property names prefixed with `kafka.`. This helper builds that
    * option map; thread it through `extraOptions` on any reader/writer
    * below. Untestable without a broker (the connector jar and a secured
    * listener are absent here); the spec pins the exact key names so the
    * mapping can't drift. */
  def secureOptions(protocol: String = "SSL",
      truststoreLocation: String = "", truststorePassword: String = "",
      keystoreLocation: String = "", keystorePassword: String = "",
      keyPassword: String = "", saslJaasConfig: String = "",
      saslMechanism: String = ""): Map[String, String] =
    (Map("kafka.security.protocol" -> protocol,
      "kafka.ssl.truststore.location" -> truststoreLocation,
      "kafka.ssl.truststore.password" -> truststorePassword,
      "kafka.ssl.keystore.location" -> keystoreLocation,
      "kafka.ssl.keystore.password" -> keystorePassword,
      "kafka.ssl.key.password" -> keyPassword,
      "kafka.sasl.jaas.config" -> saslJaasConfig,
      "kafka.sasl.mechanism" -> saslMechanism)
      .filter { case (_, v) => v.nonEmpty })

  /** S1 `builder.stream(topic)`: topic → streaming DataFrame with string
    * key/value columns (the shape every reference topology starts from).
    * `extraOptions`: additional `kafka.`-prefixed client properties —
    * [[secureOptions]] for SSL/SASL, or any other consumer override. */
  def readTopic(spark: SparkSession, brokers: String, topic: String,
      fromBeginning: Boolean = false,
      extraOptions: Map[String, String] = Map.empty): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topic)
      .option("startingOffsets", if (fromBeginning) "earliest" else "latest")
      .options(extraOptions)
      .load()
      .select(col("key").cast("string").as("key"),
        col("value").cast("string").as("value"),
        col("timestamp").as("ts"))

  /** S5 `stream.to(topic)`: fixed-topic sink. */
  def writeTopic(df: DataFrame, brokers: String, topic: String,
      checkpoint: String,
      extraOptions: Map[String, String] = Map.empty): DataStreamWriter[Row] =
    df.selectExpr("CAST(key AS STRING) AS key", "CAST(value AS STRING) AS value")
      .writeStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)
      .options(extraOptions)

  /** S6 dynamic routing (`TopicNameExtractor`, EmailService.java:114-116):
    * the Kafka sink honors a per-row `topic` column — no fixed topic
    * option. Batch analog: `df.write.partitionBy(topicCol)`. */
  def writeRouted(df: DataFrame, brokers: String, topicCol: String,
      checkpoint: String,
      extraOptions: Map[String, String] = Map.empty): DataStreamWriter[Row] =
    df.withColumn("topic", col(topicCol))
      .writeStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("checkpointLocation", checkpoint)
      .options(extraOptions)

  /** S1 over the offline log: same shape as [[readTopic]] but against the
    * `graftlog` DSv2 source (graft.sources.GraftLog) — partitioned,
    * offset-resumable, provable without a broker. Swapping in
    * `format("kafka")` is the only change on a real cluster. */
  def readLog(spark: SparkSession, topicDir: String,
      fromBeginning: Boolean = true): DataFrame =
    spark.readStream.format("graftlog")
      .option("startingOffsets", if (fromBeginning) "earliest" else "latest")
      .load(topicDir)
      // the log carries BYTES (Kafka parity); the string cast here is the
      // exact readTopic/Kafka idiom — binary serdes read `value` raw
      .select(col("key").cast("string").as("key"),
        col("value").cast("string").as("value"), col("ts"))

  /** S1 raw: the log's native (key, value, ts) with key/value as BYTES —
    * for typed serdes (AvroCodec wire framing) that decode downstream;
    * [[readLog]] is the string-cast convenience over the same scan. */
  def readLogBytes(spark: SparkSession, topicDir: String,
      fromBeginning: Boolean = true): DataFrame =
    spark.readStream.format("graftlog")
      .option("startingOffsets", if (fromBeginning) "earliest" else "latest")
      .load(topicDir)
      .select(col("key"), col("value"), col("ts"))

  /** S5 over the offline log: exactly-once append via epoch-idempotent
    * commits (see GraftLogWrite.toStreaming). */
  def writeLog(df: DataFrame, topicDir: String, checkpoint: String,
      partitions: Int = 4): DataStreamWriter[Row] =
    df.writeStream.format("graftlog")
      .option("path", topicDir)
      .option("partitions", partitions.toString)
      .option("checkpointLocation", checkpoint)

  /** S6 over the offline log: per-row `topic` column routes each record to
    * `<brokerDir>/<topic>` — the TopicNameExtractor analog, live. */
  def writeLogRouted(df: DataFrame, brokerDir: String, topicCol: String,
      checkpoint: String): DataStreamWriter[Row] =
    df.withColumn("topic", col(topicCol))
      .writeStream.format("graftlog")
      .option("path", brokerDir)
      .option("routed", "true")
      .option("checkpointLocation", checkpoint)

  /** S8 console sink (`stream.print()`). */
  def printStream(df: DataFrame): DataStreamWriter[Row] =
    df.writeStream.format("console").outputMode("append")

  /** S7 table→stream + interactive-query serving (§2.10): materialize a
    * changelog into an in-memory table queryable by name from a second
    * session — the Spark analog of interactive queries over a store. */
  def serveAsTable(df: DataFrame, name: String,
      mode: String = "complete"): DataStreamWriter[Row] =
    df.writeStream.format("memory").queryName(name).outputMode(mode)

  /** §2.10 LIVE state-store materialization of an UPDATE-mode changelog,
    * served as the global temp view `name` (read it from any session as
    * `global_temp.<name>`). This is the KTable/state-store upsert the
    * memory sink cannot do (its update mode appends, so stale rows would
    * accumulate), and how KafkaMusic's `MusicPlaysRestService` reads a
    * live chart.
    *
    * Contract:
    *  - The view holds, for every key (the values of `keyCols`), the rows
    *    of that key's latest emission: a batch that emits a key replaces
    *    all of its rows as a unit, so a multi-row key (a group's whole
    *    chart) never mixes two emissions. Keys the batch does not emit
    *    keep their rows.
    *  - A NULL key is one key: its latest emission replaces its old rows
    *    like any other key's.
    *  - `isTombstone`: a row for which it is true (or NULL) counts as an
    *    emission of its key but is not served, so a key whose emission is
    *    only markers leaves the view (e.g. [[StreamOps.incrementalTopN]]
    *    with emitEmpty=true, `pos = 0`). A marker for a key that is not
    *    served changes nothing.
    *  - A batch that emits no row leaves the view as it is; the first
    *    batch of a query publishes the view even when it is empty.
    *
    * Mechanism: the driver holds the served rows as an immutable
    * snapshot, key → rows. Each batch runs one job, a `collect` of its
    * own rows with the tombstone flag, folds them into the snapshot and
    * republishes the view as a local relation over it. Nothing is cached
    * or checkpointed, so a batch costs its rows plus one republish of
    * the snapshot, and the snapshot is bounded by state size (keys ×
    * rows per key), never by stream length. A read never sees a half-
    * applied batch: the view is swapped whole.
    *
    * Restart: the snapshot is derived state. A writer's first batch seeds
    * it from an existing `global_temp.<name>` view, so a query restarted
    * in the same process continues from what was served, and a recovered
    * key is updated by its next emission. In a new process the view
    * starts empty and a key reappears with its next emission — a Kafka
    * Streams app rebuilding its serving layer. */
  def serveUpserted(df: DataFrame, name: String, keyCols: Seq[String],
      isTombstone: Option[org.apache.spark.sql.Column] = None): DataStreamWriter[Row] = {
    val tombstone = "__graft_tombstone"
    var served: Option[Map[Row, Vector[Row]]] = None
    df.writeStream.outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // foreachBatch executes on the stream's CLONED session, whose temp
        // views the serving session cannot see — a GLOBAL temp view is the
        // cross-session handle
        val s = batch.sparkSession
        val schema = batch.schema
        val keyAt = keyCols.map(schema.fieldIndex)
        // binary values compare by content, as the key columns do in SQL
        def keyOf(r: Row): Row = Row.fromSeq(keyAt.map(i => r.get(i) match {
          case b: Array[Byte] => b.toSeq
          case v => v
        }))
        val first = served.isEmpty
        val before = served.getOrElse {
          val gname = "global_temp." + name
          if (!s.catalog.tableExists(gname)) Map.empty[Row, Vector[Row]]
          else {
            val old = s.table(gname)
            val at = schema.fieldNames.map(old.schema.fieldIndex)
            old.collect().toVector.map(r => Row.fromSeq(at.map(r.get))).groupBy(keyOf)
          }
        }
        val rows = batch.withColumn(tombstone,
          isTombstone.fold(lit(false))(t => coalesce(t, lit(true)))).collect()
        val next = rows.toVector.groupBy(keyOf).foldLeft(before) { case (m, (k, rs)) =>
          val live = rs.filterNot(_.getBoolean(schema.length)).map(r => Row.fromSeq(r.toSeq.init))
          if (live.isEmpty) m - k else m.updated(k, live)
        }
        served = Some(next)
        if (first || rows.nonEmpty)
          s.createDataFrame(next.valuesIterator.flatten.toSeq.asJava, schema)
            .createOrReplaceGlobalTempView(name)
      }
  }
}
