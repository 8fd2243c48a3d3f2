package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Partition-aware interactive-query routing — the Spark-native analog of
  * the reference's MetadataService + scatter-gather REST layer
  * (microservices/util/MetadataService.java:1-93: `metadataForStoreAndKey`
  * routes a key lookup to the app instance hosting that store partition;
  * MusicPlaysRestService fans a "top five" read across all instances and
  * merges).
  *
  * The Spark mapping: keyed state and shuffled data land in partition
  * `pmod(murmur3(key, seed=42), n)` — `HashPartitioning`'s
  * partitionIdExpression, which is exactly `functions.hash`. So:
  *  - [[statePartition]] / [[partitionOf]] compute the hosting partition
  *    of a key, column-side and driver-side, PROVABLY identical to where
  *    Spark physically places the row (ServingSpec asserts equality with
  *    `spark_partition_id()` after a real repartition);
  *  - a store written `partitionBy(p)` serves a key lookup by reading ONE
  *    partition directory (PartitionFilters prune the rest) — the
  *    "route to the hosting instance" hop;
  *  - [[hostFor]] maps partition → host exactly like the reference's
  *    round-robin task assignment, and a scatter-gather read unions the
  *    per-host partition subsets and merges — ServingSpec shows it equals
  *    the global answer.
  */
object Serving {

  /** Hosting partition of a key, as a column — Spark's HashPartitioning
    * rule (murmur3 seed 42, positive mod). */
  def statePartition(key: Column, numPartitions: Int): Column =
    pmod(hash(key), lit(numPartitions))

  /** Hosting partition of a key, driver-side — same murmur3/pmod as
    * [[statePartition]], evaluated through the identical Catalyst
    * expression so the two can never drift. NOTE murmur3 hashes Int and
    * Long differently: the key's runtime type must match the stored
    * column type ([[lookup]] casts for you via the store schema; pass
    * `keyType` here when routing without one). */
  def partitionOf(key: Any, numPartitions: Int,
      keyType: org.apache.spark.sql.types.DataType = null): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, Murmur3Hash}
    val lit = if (keyType == null) Literal(key)
      else Literal.create(Cast(Literal(key), keyType, Some("UTC")).eval(null), keyType)
    val h = Murmur3Hash(Seq(lit), 42).eval(null).asInstanceOf[Int]
    ((h % numPartitions) + numPartitions) % numPartitions
  }

  /** Partition → host assignment (the reference assigns store partitions
    * to instances round-robin; `StreamsMetadata.hostInfo`). */
  def hostFor(partition: Int, hosts: Seq[String]): String =
    hosts(partition % hosts.size)

  /** The partitions [[hostFor]] assigns to `host`, ascending. */
  def ownedBy(host: String, numPartitions: Int, hosts: Seq[String]): Seq[Int] =
    (0 until numPartitions).filter(p => hostFor(p, hosts) == host)

  /** The name a single serving instance, which owns every partition,
    * reports for itself. */
  val LocalHost = "local"

  /** Materialize a keyed store laid out by hosting partition: one
    * directory per state partition, so a key lookup reads exactly one
    * directory. This is the serving-layer copy of a KTable/state store —
    * on a cluster each "host" mounts its partition subset. */
  def writePartitionedStore(df: DataFrame, keyCol: String, numPartitions: Int,
      path: String): Unit =
    df.withColumn("p", statePartition(col(keyCol), numPartitions))
      .write.partitionBy("p").mode("overwrite").parquet(path)

  /** Key lookup routed to the hosting partition: the `p = partitionOf(key)`
    * predicate is a PartitionFilter — only that directory's files are
    * read, however many partitions the store has. The key is hashed AS
    * the stored column's type (murmur3 of an Int and a Long differ, and
    * the equality predicate would silently coerce while the route did
    * not — a wrong-directory empty result). */
  def lookup(s: SparkSession, path: String, keyCol: String, key: Any,
      numPartitions: Int): DataFrame = {
    val df = s.read.parquet(path)
    val p = partitionOf(key, numPartitions, df.schema(keyCol).dataType)
    df.where(col("p") === p && col(keyCol) === key)
  }

  /** Key-SET lookup routed to the union of hosting partitions — the
    * batched "range"/all-keys read of the reference's REST layer
    * (WordCountInteractiveQueriesRestService's range endpoint hits each
    * hosting instance once, not once per key). Every key is hashed as
    * the stored column's type, the distinct hosting partitions become
    * ONE `p IN (…)` PartitionFilter, and the key equality prunes rows
    * within those directories — k keys read at most min(k, n) partition
    * directories in a single scan, never k scans. */
  def lookupAll(s: SparkSession, path: String, keyCol: String,
      keys: Seq[Any], numPartitions: Int): DataFrame = {
    val df = s.read.parquet(path)
    val kt = df.schema(keyCol).dataType
    val ps = keys.map(k => partitionOf(k, numPartitions, kt)).distinct
    df.where(col("p").isin(ps: _*) && col(keyCol).isin(keys: _*))
  }

  /** Key-RANGE scan (the reference's `rangeForKeyValueStore`,
    * WordCountInteractiveQueriesRestService.java:135-143). The store is
    * HASH-partitioned — that is exactly what routes point lookups to one
    * directory — so a contiguous key range hashes into EVERY partition:
    * no directory pruning is possible and the read is a full-store scan
    * with the range bounds as pushed data filters (parquet row-group
    * min/max pruning still applies within each file). A range-partitioned
    * store would prune directories here but lose O(1) point routing; the
    * reference makes the same trade (RocksDB range iterates the whole
    * local shard). `store` is the store's read, or the subset of its
    * partitions an instance owns. Bounds are inclusive, cast as the stored
    * column type; an absent bound means unbounded on that side. */
  def range(store: DataFrame, keyCol: String,
      from: Option[String], to: Option[String]): DataFrame = {
    val kt = store.schema(keyCol).dataType
    val lower = from.map(f => col(keyCol) >= boundLit(f, kt))
    val upper = to.map(t => col(keyCol) <= boundLit(t, kt))
    (lower ++ upper).reduceOption(_ && _)
      .map(store.where).getOrElse(store)
      .orderBy(col(keyCol))
  }

  /** A textual range bound parsed as the stored key type, DRIVER-side —
    * an unparseable bound throws [[ClientError]] immediately (the REST
    * layer maps exactly that type to 400, matching the reference's
    * client-error contract — review r18 pass 2: a bare IAE would let
    * Spark-internal requires mid-scan misreport as the caller's 400)
    * instead of either throwing mid-query under ANSI cast semantics
    * (a 500) or null-filtering everything to `[]` with ANSI off — both
    * of which misreport a malformed REQUEST. */
  private[streaming] def boundLit(v: String, kt: DataType): Column = {
    def bad(cause: Throwable) = throw new ClientError(
      s"range bound '$v' is not a valid ${kt.simpleString}", cause)
    kt match {
      case ByteType | ShortType | IntegerType | LongType =>
        val p = try v.trim.toLong catch { case e: NumberFormatException => bad(e) }
        kt match {
          case ByteType if p.isValidByte   => lit(p.toByte)
          case ShortType if p.isValidShort => lit(p.toShort)
          case IntegerType if p.isValidInt => lit(p.toInt)
          case LongType                    => lit(p)
          case _ => bad(new ArithmeticException(s"$p out of ${kt.simpleString} range"))
        }
      case FloatType | DoubleType =>
        val p = try v.trim.toDouble catch { case e: NumberFormatException => bad(e) }
        if (kt == FloatType) lit(p.toFloat) else lit(p)
      case _: DecimalType =>
        val p = try new java.math.BigDecimal(v.trim) catch {
          case e: NumberFormatException => bad(e) }
        lit(p).cast(kt)
      case StringType => lit(v) // any text is a valid string bound
      case _ => lit(v).cast(kt) // exotic key types keep cast semantics
    }
  }

  /** Scatter-gather read (MusicPlaysRestService top-five): each host
    * serves only its own partitions; the coordinator unions the per-host
    * partial top-k and re-ranks. `keyCol` breaks value ties so the
    * merged chart is deterministic regardless of host order. Returns the
    * merged global top-k. */
  def scatterGatherTopK(s: SparkSession, path: String, hosts: Seq[String],
      numPartitions: Int, valueCol: String, keyCol: String, k: Int): DataFrame = {
    val rank = Seq(col(valueCol).desc, col(keyCol).asc)
    val perHost = hosts.map { h =>
      s.read.parquet(path)
        .where(col("p").isin(ownedBy(h, numPartitions, hosts): _*)) // the host's partitions
        .orderBy(rank: _*).limit(k)               // local top-k on that host
    }
    perHost.reduce(_ unionByName _)               // gather
      .orderBy(rank: _*).limit(k)                 // merge/re-rank
  }
}
