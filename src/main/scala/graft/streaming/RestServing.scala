package graft.streaming

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}
import java.net.InetSocketAddress
import java.net.http.HttpResponse
import java.nio.charset.StandardCharsets
import HttpJsonServer.{NoHeaders, Reply, clientError, clientInt, clientLong, enc,
  intParam, json, required, stamp}

/** What every serving family shares: which partitions this instance
  * owns, where the others live, and how the served state is loaded,
  * stamped and reloaded — the reference's `MetadataService`
  * (MetadataService.java:1-93) shape, where a single instance is the case
  * whose answer is always "me".
  *
  * Keys map to partitions by [[Serving.partitionOf]] (murmur3, Spark's
  * HashPartitioning rule) and partitions to hosts by [[Serving.hostFor]].
  * A single instance and a fleet member differ only in `owned` and
  * `peerUrls`:
  *  - a key this instance owns is answered from its own shard;
  *  - a single-owner read of another instance's key is a 307 to the
  *    owner's same endpoint, or a 502 when the owner has no URL;
  *  - a read that spans owners (top-k, multi-term search, ANN probes,
  *    near-duplicate buckets) is the local partial plus every peer's
  *    partial, fetched concurrently and merged by the same rank rule.
  *    Over zero peers it is the local partial.
  *
  * Generation rule: the served state is one immutable holder behind one
  * volatile, loaded under [[HttpJsonServer.generationConsistent]] and
  * stamped with the source's [[graft.ops.Artifacts.fingerprint]]. Every
  * answer read from it carries the stamp in `X-Graft-Generation`; a merge
  * whose partials came from more than one generation adds
  * `X-Graft-Mixed-Generation: true`. Error replies (a 400 or 500) carry no
  * stamp: [[HttpJsonServer]]'s one error writer produces them.
  * `{prefix}/reload` rebuilds this
  * instance (concurrent calls share one rebuild); `{prefix}/reload/all`
  * rebuilds it, then every peer, and answers each host's generation — or
  * a 502 naming the hosts that failed.
  *
  * `peerUrls` (host → base URL) is set once every member has bound its
  * port: the analog of instances discovering each other through the
  * streams metadata. */
private[streaming] abstract class ShardedServing(spark: SparkSession,
    sourcePath: String, numPartitions: Int, hosts: Seq[String],
    selfHost: String, owned: Seq[Int]) extends HttpJsonServer {

  @volatile var peerUrls: Map[String, String] = Map.empty

  private val ownedSet = owned.toSet

  /** The host serving partition `p`. */
  protected def ownerOf(p: Int): String =
    if (ownedSet(p)) selfHost else Serving.hostFor(p, hosts)

  /** The ownership predicate as a column — the same murmur3 expression
    * [[ownerOf]] routes with, applied cluster-side before any collect, so
    * load and route cannot disagree and memory is ∝ owned keys. */
  protected def ownedKeys(key: Column): Column =
    Serving.statePartition(key, numPartitions).isin(owned: _*)

  /** The served state's generation — the source fingerprint at load. */
  def generation: String

  /** Build the served state from the current source and swap it in. */
  protected def load(): Unit

  private def fresh =
    generation == graft.ops.Artifacts.fingerprint(spark, sourcePath)

  /** Rebuild the served state from the CURRENT source on a running
    * instance: the socket stays up and in-flight requests read the old
    * holder or the new one, never a mix. */
  def reload(): Unit = reloadSerial(fresh)(load())

  /** `{prefix}/reload` answering `ack`, and `{prefix}/reload/all`. */
  protected def reloadEndpoints(prefix: String)(
      ack: () => Reply): Unit = {
    endpointFuture(s"$prefix/reload")(_ => reloadAsync(fresh)(load()).thenApply(_ => ack()))
    // the peer fan-out blocks, so it continues on the ops pool
    endpointFuture(s"$prefix/reload/all")(_ => reloadAsync(fresh)(load())
      .thenApplyAsync(_ => fleetReload(s"$prefix/reload"), HttpJsonServer.scatterPool))
  }

  /** The fleet-reload ACK (this instance has reloaded): every peer's
    * reload fetched concurrently; a non-200 or unreachable peer makes
    * the whole answer a 502 naming the failed hosts, so a partial
    * rollout never reads as done. */
  private def fleetReload(reloadPath: String): Reply = {
    val selfGen = generation
    val peers = (peerUrls - selfHost).toSeq.sortBy(_._1)
    val resps = HttpJsonServer.reloadFetch(peers.map(_._2 + reloadPath))
    val failed = peers.map(_._1).zip(resps).flatMap {
      case (h, Left(e)) => Some(s"""{"host":"$h","error":"${
        HttpJsonServer.quoteSafe(String.valueOf(e.getMessage).take(80))}"}""")
      case (h, Right(r)) if r.statusCode() != 200 =>
        Some(s"""{"host":"$h","status":${r.statusCode()}}""")
      case _ => None
    }
    if (failed.nonEmpty)
      (502, s"""{"reloaded":false,"failed":${failed.mkString("[", ",", "]")}}""",
        stamp(selfGen))
    else {
      val all = ((selfHost, selfGen) +: peers.map(_._1).zip(
        resps.map(r => HttpJsonServer.generationOf(r.toOption.get)))).sortBy(_._1)
      (200, s"""{"reloaded":true,"uniform":${all.map(_._2).distinct.size == 1
        },"instances":${all.map { case (h, g) => s"""{"host":"$h","generation":"$g"}""" }
          .mkString("[", ",", "]")}}""", stamp(selfGen))
    }
  }

  /** 307 to `host`'s `target` (path and query), or 502 without its URL. */
  protected def redirect(host: String, target: String): Reply =
    peerUrls.get(host) match {
      case Some(base) => (307, base + target, NoHeaders)
      case None => (502, s"""{"error":"no url for host $host"}""", NoHeaders)
    }

  /** GET every url concurrently; a non-200 answer is this request's 500
    * (a peer fault, never the caller's 400). */
  protected def fetchPeers(urls: Seq[String]): Seq[HttpResponse[String]] = {
    val resps = HttpJsonServer.fetchAll(urls)
    resps.foreach(r => if (r.statusCode() != 200)
      throw new IllegalStateException(s"peer ${r.uri()}: ${r.statusCode()}"))
    resps
  }

  /** The same partial endpoint (`target`: path and query) of every peer. */
  protected def gather(target: String): Seq[HttpResponse[String]] =
    fetchPeers((peerUrls - selfHost).values.toSeq.map(_ + target))

  /** `r` stamped `gen`, keeping its other headers. */
  protected def stamped(gen: String)(r: Reply): Reply = (r._1, r._2, stamp(gen) ++ r._3)

  /** The mixed-generation flag for a merge of `gen` with `partials`. */
  protected def mixedFlag(gen: String, partials: Seq[HttpResponse[String]])
      : Map[String, String] =
    if ((gen +: partials.map(HttpJsonServer.generationOf)).filter(_.nonEmpty)
        .distinct.size > 1) Map(HttpJsonServer.MixedHeader -> "true")
    else Map.empty
}

/** KEY-VALUE interactive queries over a store written by
  * [[Serving.writePartitionedStore]] (one directory per state
  * partition): the reference's WordCountInteractiveQueriesRestService
  * (59-205) and MusicPlaysRestService (77-115) on [[ShardedServing]]'s
  * ownership rule. Zero new dependencies: the JDK's
  * `com.sun.net.httpserver` serves, Spark's `toJSON` renders rows.
  *
  *  - `new RestServing(spark, store, keyCol, n, hosts)` — a single
  *    instance: owns every partition and advertises `hosts` as the
  *    partition → host assignment on `/state/instance*`;
  *  - `new RestServing(spark, store, keyCol, n, hosts, selfHost)` — one
  *    fleet member: owns the partitions `Serving.hostFor` gives
  *    `selfHost`, and reads only those directories.
  *
  * The HOT tier is the owned rows, loaded at `start()` by one store read
  * into a [[HotKv.Shard]] (point map plus sortable rows): zero Spark work
  * per request, stamped `X-Graft-Generation`, refreshed by reload. The
  * COLD tier re-reads the store per request (partition-pruned Spark
  * reads), so it never needs a reload.
  *
  * Endpoints (GET, JSON):
  *  - `/state/keyvalue/hot/{key}`, `/state/keyvalue/{key}` — the key's
  *    rows; 404 when absent; 307 to the owner's same endpoint when
  *    another instance owns the key
  *  - `/state/keyvalues?keys=k1,k2,…` — the rows of the listed keys this
  *    instance owns, one scan over their partitions ([[Serving.lookupAll]])
  *  - `/state/keyvalues/all` — every owned row, key-ordered
  *  - `/state/keyvalues/range?from=..&to=..` — owned rows in the
  *    inclusive key range, key-ordered; either bound may be absent
  *  - `/state/instance/{key}` — `{"partition":p,"host":h}`, the key hashed
  *    as the store's key type
  *  - `/state/instances` — every host with the partitions assigned to it
  *  - `/state/topk/hot/local`, `/state/topk/local` — `?value=<col>&k=<n>`:
  *    this instance's partial top-k (hot: in-process; cold: a Spark read
  *    of the owned shard, stamped with the fingerprint read with it)
  *  - `/state/topk/hot`, `/state/topk` — the local partial merged with
  *    every peer's, ranked (value desc, key asc)
  *  - `/state/reload`, `/state/reload/all` — see [[ShardedServing]]
  *
  * A key or range bound that does not parse as the key type is a 400. */
class RestServing private (spark: SparkSession, storePath: String,
    keyCol: String, numPartitions: Int, hosts: Seq[String], selfHost: String,
    owned: Seq[Int])
    extends ShardedServing(spark, storePath, numPartitions, hosts, selfHost, owned) {

  def this(spark: SparkSession, storePath: String, keyCol: String,
      numPartitions: Int, hosts: Seq[String], selfHost: String) =
    this(spark, storePath, keyCol, numPartitions, hosts, selfHost,
      Serving.ownedBy(selfHost, numPartitions, hosts))

  def this(spark: SparkSession, storePath: String, keyCol: String,
      numPartitions: Int, hosts: Seq[String]) =
    this(spark, storePath, keyCol, numPartitions, hosts, Serving.LocalHost,
      0 until numPartitions)

  /** The owned partition directories (a PartitionFilter prunes the rest). */
  private def shard = spark.read.parquet(storePath).where(col("p").isin(owned: _*))

  private def localTopK(valueCol: String, k: Int) =
    shard.orderBy(col(valueCol).desc, col(keyCol).asc).limit(k).drop("p")

  @volatile private var hot: (String, HotKv.Shard) = _

  /** Owned-shard key count — memory ∝ owned partitions. */
  def hotSize: Int = hot._2.keyCount

  def generation: String = hot._1

  protected def load(): Unit =
    hot = HttpJsonServer.generationConsistent(
        () => graft.ops.Artifacts.fingerprint(spark, storePath)) {
      HotKv.load(shard, keyCol)
    }

  private def keyType: DataType = hot._2.typeOf(keyCol)

  /** A request key's partition, hashed as the stored key type `dt`; a key
    * that does not parse as that type is the caller's 400. */
  private def partitionOf(key: String, dt: DataType): Int =
    try Serving.partitionOf(key, numPartitions, dt)
    catch { case e: RuntimeException =>
      throw new ClientError(s"key '$key' is not a valid ${dt.simpleString}", e) }

  private def topkParams(q: Map[String, String]): (String, Int) =
    (q.getOrElse("value", "value"), intParam(q, "k", 5))

  def start(bindPort: Int = 0): Int = {
    load()
    serve(bindPort) {
      reloadEndpoints("/state") { () =>
        val (gen, sh) = hot // one read: count and stamp from one generation
        (200, s"""{"reloaded":true,"keys":${sh.keyCount},"generation":"$gen"}""",
          stamp(gen))
      }
      endpointUnder("/state/keyvalue/hot/") { (key, _) =>
        val (gen, sh) = hot
        // a hit is owned by construction; only a miss needs routing
        sh.lookup(key) match {
          case Some(j) => (200, j, stamp(gen))
          case None =>
            val host = ownerOf(partitionOf(key, sh.typeOf(keyCol)))
            if (host == selfHost)
              (404, """{"error":"key not found"}""", stamp(gen))
            else redirect(host, s"/state/keyvalue/hot/${enc(key)}")
        }
      }
      endpointUnder("/state/keyvalue/") { (key, _) =>
        val host = ownerOf(partitionOf(key, keyType))
        if (host != selfHost) redirect(host, s"/state/keyvalue/${enc(key)}")
        else {
          val rows = json(
            Serving.lookup(spark, storePath, keyCol, key, numPartitions).drop("p"))
          if (rows == "[]") (404, """{"error":"key not found"}""", NoHeaders)
          else (200, rows, NoHeaders)
        }
      }
      endpoint("/state/keyvalues") { q =>
        val kt = keyType
        val keys = q.getOrElse("keys", "").split(",").filter(_.nonEmpty).toSeq
          .filter(k => ownerOf(partitionOf(k, kt)) == selfHost)
        (200, json(Serving.lookupAll(spark, storePath, keyCol, keys,
          numPartitions).drop("p")), NoHeaders)
      }
      endpoint("/state/keyvalues/all") { _ =>
        (200, json(shard.orderBy(col(keyCol)).drop("p")), NoHeaders)
      }
      // a hash-partitioned store cannot prune directories by key range:
      // the bounds are pushed data filters over the owned shard
      endpoint("/state/keyvalues/range") { q =>
        (200, json(Serving.range(shard, keyCol, q.get("from"),
          q.get("to")).drop("p")), NoHeaders)
      }
      endpointUnder("/state/instance/") { (key, _) =>
        val p = partitionOf(key, keyType)
        (200, s"""{"partition":$p,"host":"${Serving.hostFor(p, hosts)}"}""", NoHeaders)
      }
      endpoint("/state/instances") { _ =>
        (200, hosts.map(h => s"""{"host":"$h","partitions":[${
          Serving.ownedBy(h, numPartitions, hosts).mkString(",")}]}""")
          .mkString("[", ",", "]"), NoHeaders)
      }
      endpoint("/state/topk/hot/local") { q =>
        val (gen, sh) = hot
        val (valueCol, k) = topkParams(q)
        (200, HotKv.render(HotKv.topK(sh, valueCol, keyCol, k), k), stamp(gen))
      }
      // per-owner partials ARE mergeable here (unlike /search/hot): a
      // row's rank key is complete within its owner's shard
      endpointAsync("/state/topk/hot") { q =>
        val (gen, sh) = hot
        val (valueCol, k) = topkParams(q)
        val local = HotKv.topK(sh, valueCol, keyCol, k) // 400s before any fetch
        val resps = gather(
          s"/state/topk/hot/local?value=${enc(valueCol)}&k=$k")
        (200, HotKv.render(local ++ resps.flatMap(r =>
          HotKv.parsePartial(r.body(), sh, valueCol, keyCol)), k),
          stamp(gen) ++ mixedFlag(gen, resps))
      }
      endpoint("/state/topk/local") { q =>
        val gen = graft.ops.Artifacts.fingerprint(spark, storePath)
        val (valueCol, k) = topkParams(q)
        (200, json(localTopK(valueCol, k)), stamp(gen))
      }
      endpointAsync("/state/topk") { q =>
        val (valueCol, k) = topkParams(q)
        val gen = graft.ops.Artifacts.fingerprint(spark, storePath)
        val resps = gather(
          s"/state/topk/local?value=${enc(valueCol)}&k=$k")
        // the peers' rows, sliced as the hot tier slices them, parsed
        // with the STORE's schema so merge types cannot drift
        val peerRows = resps.flatMap(r => HotKv.rowSlices(r.body()))
        import spark.implicits._
        val gathered =
          if (peerRows.isEmpty) localTopK(valueCol, k)
          else localTopK(valueCol, k).unionByName(spark.read
            .schema(StructType(shard.drop("p").schema)).json(peerRows.toDS()))
        (200, json(
          gathered.orderBy(col(valueCol).desc, col(keyCol).asc).limit(k)),
          stamp(gen) ++ mixedFlag(gen, resps))
      }
    }
  }
}

/** LIVE interactive queries over a RUNNING streaming query's state — the
  * reference's actual IQ mode (the REST services read the topology's
  * state stores while it runs). Spark mapping: the streaming aggregation
  * writes a memory sink ([[Sources.serveAsTable]]) and this serves the
  * named table, so an HTTP read between micro-batches sees the current
  * state and re-reads after the next batch see updates — the
  * WordCountInteractiveQueriesExample lifecycle end-to-end. The memory
  * sink is instance-local exactly like a Kafka Streams state store: this
  * class serves one instance's state and does no routing. A keyed state
  * that must route across instances is written out with
  * [[Serving.writePartitionedStore]] and served by [[RestServing]], whose
  * ownership rule answers, redirects or gathers.
  *
  * Scan note (why these endpoints filter/sort the WHOLE served table per
  * request, unlike [[RestServing]]'s partition-pruned store reads): the
  * served table here is STATE, not corpus — a memory-sink or
  * [[Sources.serveUpserted]] table holds the current aggregate rows
  * (counts per key, top-k per group), bounded by key cardinality and
  * independent of how much data streamed through. That is exactly what
  * the reference's REST layer scans too (a local RocksDB store iterator).
  * A filter over it cannot "push down" anywhere useful: the table is a
  * materialized in-memory relation (LocalTableScan / ExistingRDD), so
  * the `where` is already evaluated directly against state rows with no
  * I/O to prune. If a served table ever grew corpus-sized, the fix is
  * the partitioned-store [[RestServing]] path, not this one. */
class LiveRestServing(spark: SparkSession, tableName: String, keyCol: String)
    extends HttpJsonServer {

  def start(bindPort: Int = 0): Int = serve(bindPort) {
    endpointUnder("/state/keyvalue/") { (key, _) =>
      val rows = json(spark.table(tableName).where(col(keyCol) === key))
      if (rows == "[]") (404, """{"error":"key not found"}""", NoHeaders)
      else (200, rows, NoHeaders)
    }
    endpoint("/state/topk") { q =>
      val valueCol = q.getOrElse("value", "value")
      val k = intParam(q, "k", 5)
      (200, json(spark.table(tableName)
        .orderBy(col(valueCol).desc, col(keyCol).asc).limit(k)), NoHeaders)
    }
    // all-entries scan of the LIVE store, key-ordered (the reference's
    // allForStore runs against the running topology's store the same way;
    // the served table is aggregate-sized state — see the class scan note)
    endpoint("/state/all") { _ =>
      (200, json(spark.table(tableName).orderBy(col(keyCol))), NoHeaders)
    }
    // chart fetch (MusicPlaysRestService.java:77-115 `genreCharts` /
    // `topFiveSongs`): the group's CURRENT top-k in rank order, read live
    // from a chart-shaped served table (StreamOps.ChartRow: group, pos,
    // id, value — served via Sources.serveUpserted so each group's rows
    // are the latest emission only). 404 on an uncharted group, like the
    // reference's unknown-genre path.
    endpointUnder("/state/chart/") { (group, q) =>
      val k = intParam(q, "k", 5)
      val rows = json(spark.table(tableName)
        .where(col(keyCol) === group).orderBy(col("pos")).limit(k))
      if (rows == "[]") (404, """{"error":"group not found"}""", NoHeaders)
      else (200, rows, NoHeaders)
    }
    // windowedByKey (WordCountInteractiveQueriesRestService.java:156-176):
    // the key's windowed aggregates whose window START falls in
    // [from, to] epoch-millis — the reference's fetch(key, from, to)
    // over a windowed store. Expects the served table to carry a
    // `window` struct column (Spark's window() aggregation shape).
    endpointUnder("/state/windowed/") { (key, q) =>
      val from = clientLong(q.getOrElse("from", Long.MinValue.toString), "from")
      val to = clientLong(q.getOrElse("to", Long.MaxValue.toString), "to")
      (200, json(spark.table(tableName)
        .where(col(keyCol) === key &&
          unix_millis(col("window.start")) >= from &&
          unix_millis(col("window.start")) <= to)
        .orderBy(col("window.start"))
        .withColumn("window_start", unix_millis(col("window.start")))
        .drop("window")), NoHeaders)
    }
  }
}

/** ANN SERVING over an embeddings corpus `(vec_id, embedding[, label])`:
  * the vector-search read path next to the interactive-query endpoints
  * (the serving analog of s8/s13/s18).
  *
  *  - `new VectorRestServing(spark, path)` — a single instance (owns every
  *    cell);
  *  - `new VectorRestServing(spark, path, numPartitions, hosts, selfHost)`
  *    — one fleet member: owns the cells whose partition (murmur3 of the
  *    cell id, [[ShardedServing]]) `Serving.hostFor` gives `selfHost`.
  *
  * `start(port, stride, lloydIters)` builds the IVF index once
  * ([[graft.ops.Similarity.ivfIndexArtifact]], √n stride by default) and,
  * when the dimension splits into `Similarity.PqM` subspaces, its PQ codes
  * (artifact-first: a fleet learns the codebook once and every other
  * member reads it). Every instance holds the replicated coarse metadata
  * (centroids, PQ codebook) and, in memory, the members and codes of its
  * OWNED cells only. The Spark-side tiers run on checkpoints of the whole
  * corpus on every instance: they are cluster work, and the audit path
  * the hot scatter is checked against.
  *
  * Endpoints (GET, JSON; every answer stamped with the generation):
  *  - `/ann/topk?vec=v1,v2,…&k=5&nprobe=4[&label=L]` — the query's
  *    nprobe nearest cells (scored in-process against the centroids),
  *    then exact cosine over those cells in Spark; `label` filters the
  *    scan before the top-k, never after
  *  - `/ann/topk/hot…` — the same contract from the in-process cells: the
  *    owned cells' partial (`/ann/topk/hot/local`) merged with every
  *    peer's by (sim desc, vec_id asc); byte-identical to `/ann/topk`
  *  - `/ann/topk/pq`, `/ann/topk/pq/hot[/local]` — IVF-PQ: asymmetric
  *    distance over the probed cells' codes, (adist asc, vec_id asc);
  *    400 when the corpus is not PQ-compatible
  *  - `/ann/topk/exact?vec=…&k=5` — brute force over the corpus
  *  - `/ann/plan?target=<recall in (0,1]>` — nprobe and rerank depth for
  *    the target, from the clusteredness measured at build
  *  - `/ann/instance/{cell}` — the cell's host
  *  - `/ann/reload`, `/ann/reload/all` — see [[ShardedServing]]
  *
  * A zero-norm query is a 400 on every tier, as is `label` on a corpus
  * without labels; zero-norm corpus vectors are never ranked. */
class VectorRestServing(spark: SparkSession, embeddingsPath: String,
    numPartitions: Int, hosts: Seq[String], selfHost: String)
    extends ShardedServing(spark, embeddingsPath, numPartitions, hosts, selfHost,
      Serving.ownedBy(selfHost, numPartitions, hosts)) {
  import graft.ops.{Artifacts, Memo, Similarity => Sim}

  def this(spark: SparkSession, embeddingsPath: String) =
    this(spark, embeddingsPath, 1, Seq(Serving.LocalHost), Serving.LocalHost)

  /** One generation of served state. `emb`/`cells`/`codedCells` are the
    * Spark-side checkpoints (whole corpus; `codedCells` is empty when the
    * dimension does not split into PqM subspaces); `cents`/`codebook`
    * the collected coarse metadata; `hotCells` (cell → id, embedding,
    * norm, label) and `hotCodes` (cell → id, PQ codes) the owned cells,
    * members sorted by id. */
  private final case class AnnIndex(
      emb: DataFrame, cells: DataFrame, codedCells: Option[DataFrame],
      cents: Array[(Long, Array[Double], Double)],
      codebook: Array[(Int, Int, Array[Double])], pqSd: Int, hasLabel: Boolean,
      hotCells: java.util.HashMap[Long, Array[(Long, Array[Double], Double, Int)]],
      hotCodes: java.util.HashMap[Long, Array[(Long, Array[Int])]],
      clusteredness: Double, generation: String)

  @volatile private var idx: AnnIndex = _

  def generation: String = idx.generation

  private def memberCount(ix: AnnIndex): Int = {
    var n = 0
    ix.hotCells.values.forEach(a => n += a.length)
    n
  }

  /** Owned-cell member count — memory ∝ owned cells. */
  def hotSize: Int = memberCount(idx)

  /** The cell's host. The cell id is hashed, not taken modulo: seeded
    * centroid ids are multiples of the stride. */
  def cellOwner(cell: Long): String = ownerOf(Serving.partitionOf(cell, numPartitions, LongType))

  /** Where the last load's PQ tables came from: `"artifact"` (read from
    * the persisted store), `"built"` (learned and persisted here),
    * `"inline"` (artifact store disabled) or `"none"` (not
    * PQ-compatible). Two instances starting together on an empty store
    * may both report `"built"`: the label records what this instance
    * attempted, not who won the persist race. */
  @volatile var lastPqSource: String = ""

  /** The same for the coarse index (cells and centroids). */
  @volatile var lastIvfSource: String = ""

  private var savedStride: Int = 0
  private var savedIters: Int = 1

  protected def load(): Unit = {
    graft.functions.GraftExtensions.register(spark) // idempotent: graft_dot
    val (gen, built) = HttpJsonServer.generationConsistent(
        () => Artifacts.fingerprint(spark, embeddingsPath)) {
    val raw = spark.read.parquet(embeddingsPath)
    val hasLabel = raw.columns.contains("label")
    val emb = raw
      .select(col("vec_id"), col("embedding"), Sim.l2norm(col("embedding")).as("norm"))
      .localCheckpoint()
    val n = emb.count()
    val st = if (savedStride > 0) savedStride else math.max(1, math.sqrt(n.toDouble).toInt)
    val (cellsAssign, centsDf, ivfSource) =
      Sim.ivfIndexArtifact(spark, embeddingsPath, emb, st, savedIters)
    lastIvfSource = ivfSource
    val cellsDf = cellsAssign.join(emb, Seq("vec_id"))
    // the label rides the index once, so a label predicate prunes the
    // scan rather than a top-k
    val cells = if (hasLabel)
      cellsDf.join(raw.select(col("vec_id"), col("label")), Seq("vec_id")).localCheckpoint()
    else cellsDf
    val cents = centsDf
      .select(col("cent_id"), col("c_emb").cast("array<double>"), col("c_norm"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    val hotCells = new java.util.HashMap[Long, Array[(Long, Array[Double], Double, Int)]]()
    (if (hasLabel) cells else cells.withColumn("label", lit(0)))
      .where(ownedKeys(col("cell")))
      .select(col("cell"), col("vec_id"),
        col("embedding").cast("array<double>"), col("norm"), col("label"))
      .collect()
      .groupBy(_.getLong(0))
      .foreach { case (cell, rows) =>
        hotCells.put(cell, rows.map(r => (r.getLong(1),
          r.getSeq[Double](2).toArray, r.getDouble(3), r.getInt(4))).sortBy(_._1))
      }
    // PQ needs the dimension to split evenly into PqM subspaces (integer
    // division would silently drop the trailing dimensions); otherwise
    // the float tiers serve and the PQ endpoints answer 400
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    val pqSd = if (dim % Sim.PqM == 0) dim / Sim.PqM else 0
    val (codedCells, codebook) =
      if (pqSd == 0) {
        lastPqSource = "none"
        (None, Array.empty[(Int, Int, Array[Double])])
      } else {
        val hadArtifacts = Artifacts.enabled(spark) &&
          Artifacts.exists(spark, embeddingsPath, Sim.VectorArtifacts.PqCodes) &&
          Artifacts.exists(spark, embeddingsPath, Sim.VectorArtifacts.PqCodebook)
        // at most one learn per load even when BOTH artifacts miss
        lazy val pq = Sim.pqBuildFrame(
          emb.select(col("vec_id"), col("embedding")), Sim.PqM, pqSd, Sim.PqK)
        val codesDf = Artifacts.readOrBuild(
          spark, embeddingsPath, Sim.VectorArtifacts.PqCodes)(
          pq.codes.select(col("vec_id") +: (0 until Sim.PqM).map(k => col(s"c$k")): _*))
        val cbDf = Artifacts.readOrBuild(
          spark, embeddingsPath, Sim.VectorArtifacts.PqCodebook)(
          pq.codebook.select(col("m"), col("cent"), col("cv")))
        lastPqSource =
          if (!Artifacts.enabled(spark)) "inline"
          else if (hadArtifacts) "artifact" else "built"
        (Some(codesDf.join(cells.select(col("vec_id"), col("cell")), Seq("vec_id"))
          .localCheckpoint()),
          cbDf.select(col("m"), col("cent"), col("cv").cast("array<double>"))
            .collect()
            .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray)))
      }
    // the owned cells' codes only: M ints per vector, never a float
    val hotCodes = new java.util.HashMap[Long, Array[(Long, Array[Int])]]()
    codedCells.foreach(_.where(ownedKeys(col("cell")))
      .select(col("cell"), col("vec_id"),
        array((0 until Sim.PqM).map(k => col(s"c$k")): _*).as("codes"))
      .collect()
      .groupBy(_.getLong(0))
      .foreach { case (cell, rows) =>
        hotCodes.put(cell, rows.map(r =>
          (r.getLong(1), r.getSeq[Int](2).toArray)).sortBy(_._1))
      })
    // clusteredness — the /ann/plan regime signal — is measured with the
    // calibration convention (√n stride, Sim.LloydIters) whatever the
    // serving knobs, since the plan curves were calibrated that way; the
    // served index is reused when it already follows it
    val calibStride = math.max(1, math.sqrt(n.toDouble).toInt)
    val reuse = st == calibStride && savedIters == Sim.LloydIters
    val (mCells, mCents) =
      if (reuse) (cellsDf, centsDf) else Sim.ivfIndex(emb, calibStride, Sim.LloydIters)
    val clust = mCells
      .join(broadcast(mCents), col("cell") === col("cent_id"))
      .select(when(col("norm") * col("c_norm") > 0,
        Sim.dot(col("embedding"), col("c_emb")) /
          (col("norm") * col("c_norm"))).as("csim"))
      .agg(avg(col("csim"))).head.getDouble(0)
    if (!reuse) Memo.release(mCells, mCents)
    AnnIndex(emb, cells, codedCells, cents, codebook, pqSd, hasLabel,
      hotCells, hotCodes, clust, "")
    }
    idx = built.copy(generation = gen)
  }

  private def parseVec(q: Map[String, String]): Array[Double] = {
    val qv = q.getOrElse("vec", clientError("vec=v1,v2,... is required"))
      .split(",").filter(_.nonEmpty).map(c => c.toDoubleOption
        .getOrElse(clientError("vec components must be numbers")))
    // a non-finite query would 200 on the Spark tiers (NaN sorts) and
    // 500 on the in-process ones: a client error on every tier
    if (!qv.forall(java.lang.Double.isFinite))
      clientError("vec components must be finite numbers")
    qv
  }

  /** The nprobe nearest cells: C dot products against the collected
    * centroids, in-process. */
  private def probeCells(ix: AnnIndex, qv: Array[Double], nprobe: Int): Array[Long] = {
    val qn = math.sqrt(qv.map(x => x * x).sum)
    ix.cents.map { case (id, ce, cn) =>
      val d = qv.zip(ce).map { case (a, b) => a * b }.sum
      (if (cn > 0 && qn > 0) d / (cn * qn) else Double.NegativeInfinity, id)
    }.sortBy { case (s, id) => (-s, id) }.take(nprobe).map(_._2)
  }

  /** Exact cosine top-k over `df` in Spark, zero-norm rows excluded (the
    * hot tiers skip them too); 6-dp HALF_UP, (sim desc, vec_id asc). */
  private def cosineTopK(df: DataFrame, qv: Array[Double], k: Int): String = {
    val qn = math.sqrt(qv.map(x => x * x).sum)
    if (qn == 0.0) clientError("zero-norm query vector")
    val sim = Sim.dot(col("embedding"), typedlit(qv.toSeq)) / (col("norm") * qn)
    json(df.filter(col("norm") > 0)
      .select(col("vec_id"), round(sim, 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc).limit(k))
  }

  /** The float tiers' contract, checked in this order: k, nprobe, vec,
    * label; then a zero-norm query or a label on an unlabeled corpus. */
  private def validated(q: Map[String, String])(
      f: (AnnIndex, Array[Double], Double, Option[Int], Int, Int) => Reply): Reply = {
    val ix = idx // one read: probe, score and stamp from one generation
    val k = intParam(q, "k", 5)
    val nprobe = intParam(q, "nprobe", 4)
    val qv = parseVec(q)
    val qn = math.sqrt(qv.map(x => x * x).sum)
    val label = q.get("label").map(v => clientInt(v, "label"))
    if (qn == 0.0) clientError("zero-norm query vector")
    if (label.isDefined && !ix.hasLabel) clientError("corpus has no label attribute")
    stamped(ix.generation)(f(ix, qv, qn, label, k, nprobe))
  }

  /** The PQ tiers' contract: the float tiers' minus label (the PQ tiers
    * ignore it), plus PQ availability. */
  private def validatedPq(q: Map[String, String])(
      f: (AnnIndex, Array[Double], Int, Int) => Reply): Reply = {
    val ix = idx
    val k = intParam(q, "k", 5)
    val nprobe = intParam(q, "nprobe", 4)
    val qv = parseVec(q)
    if (ix.codedCells.isEmpty) clientError("corpus dimension is not PQ-compatible")
    if (qv.forall(_ == 0.0)) clientError("zero-norm query vector")
    stamped(ix.generation)(f(ix, qv, k, nprobe))
  }

  /** The owned probed cells' hot partial ([[HotAnn]]: one scorer for
    * every tier, byte parity with the Spark tier). */
  private def localAnn(ix: AnnIndex, qv: Array[Double], qn: Double,
      probed: Array[Long], label: Option[Int], k: Int): Array[(Double, Long)] =
    HotAnn.score(probed.iterator.flatMap(c => Option(ix.hotCells.get(c)).iterator.flatten),
      qv, qn, label, k)

  /** The owned probed cells' ADC partial ([[HotAdc]]); every instance
    * derives the same distance tables from the replicated codebook. */
  private def localPq(ix: AnnIndex, qv: Array[Double], probed: Array[Long],
      k: Int): Array[(Double, Long)] =
    HotAdc.score(probed.iterator.flatMap(c => Option(ix.hotCodes.get(c)).iterator.flatten),
      HotAdc.dtabFor(qv, ix.codebook, ix.pqSd, Sim.PqM), k)

  private val SimRow = """\{"vec_id":(\d+),"sim":([^}]+)\}""".r
  private val AdistRow = """\{"vec_id":(\d+),"adist":([^}]+)\}""".r

  def start(bindPort: Int = 0, stride: Int = 0, lloydIters: Int = 1): Int = {
    savedStride = stride
    savedIters = lloydIters
    load()
    serve(bindPort) {
      reloadEndpoints("/ann") { () =>
        val ix = idx
        (200, s"""{"reloaded":true,"cells":${ix.cents.length},"vectors":${
          memberCount(ix)},"generation":"${ix.generation}"}""",
          stamp(ix.generation))
      }
      endpoint("/ann/topk/exact") { q =>
        val ix = idx
        val k = intParam(q, "k", 5)
        (200, cosineTopK(ix.emb, parseVec(q), k), stamp(ix.generation))
      }
      endpoint("/ann/topk") { q =>
        validated(q) { (ix, qv, _, label, k, nprobe) =>
          val probed = ix.cells.filter(col("cell").isin(probeCells(ix, qv, nprobe): _*))
          (200, cosineTopK(label.fold(probed)(l => probed.filter(col("label") === l)), qv, k),
            NoHeaders)
        }
      }
      endpoint("/ann/topk/hot/local") { q =>
        validated(q) { (ix, qv, qn, label, k, nprobe) =>
          (200, HotAnn.render(localAnn(ix, qv, qn, probeCells(ix, qv, nprobe), label, k)),
            NoHeaders)
        }
      }
      endpointAsync("/ann/topk/hot") { q =>
        validated(q) { (ix, qv, qn, label, k, nprobe) =>
          val local = localAnn(ix, qv, qn, probeCells(ix, qv, nprobe), label, k)
          val resps = gather(s"/ann/topk/hot/local?vec=${qv.mkString(",")}&k=$k" +
            s"&nprobe=$nprobe" + label.fold("")(l => s"&label=$l"))
          val peers = resps.flatMap(r => SimRow.findAllMatchIn(r.body())
            .map(m => (m.group(2).toDouble, m.group(1).toLong)))
          (200, HotAnn.render((local ++ peers).sortBy { case (s, id) => (-s, id) }.take(k)),
            mixedFlag(ix.generation, resps))
        }
      }
      endpoint("/ann/topk/pq") { q =>
        validatedPq(q) { (ix, qv, k, nprobe) =>
          // the query's distance tables in-process (the HotAdc loop, so
          // the Spark and hot ADC tiers cannot drift arithmetically)
          val dtab = HotAdc.dtabFor(qv, ix.codebook, ix.pqSd, Sim.PqM)
          val adist = (0 until Sim.PqM)
            .map(mm => element_at(typedlit(dtab(mm)), col(s"c$mm"))).reduce(_ + _)
          (200, json(ix.codedCells.get
            .filter(col("cell").isin(probeCells(ix, qv, nprobe): _*))
            .select(col("vec_id"), round(adist, 6).as("adist"))
            .orderBy(col("adist").asc, col("vec_id").asc).limit(k)), NoHeaders)
        }
      }
      endpoint("/ann/topk/pq/hot/local") { q =>
        validatedPq(q) { (ix, qv, k, nprobe) =>
          (200, HotAdc.render(localPq(ix, qv, probeCells(ix, qv, nprobe), k)), NoHeaders)
        }
      }
      endpointAsync("/ann/topk/pq/hot") { q =>
        validatedPq(q) { (ix, qv, k, nprobe) =>
          val local = localPq(ix, qv, probeCells(ix, qv, nprobe), k)
          val resps = gather(
            s"/ann/topk/pq/hot/local?vec=${qv.mkString(",")}&k=$k&nprobe=$nprobe")
          val peers = resps.flatMap(r => AdistRow.findAllMatchIn(r.body())
            .map(m => (m.group(2).toDouble, m.group(1).toLong)))
          (200, HotAdc.render((local ++ peers).sortBy { case (d, id) => (d, id) }.take(k)),
            mixedFlag(ix.generation, resps))
        }
      }
      endpoint("/ann/plan") { q =>
        val ix = idx
        val t = q.get("target").flatMap(_.toDoubleOption).filter(t => t > 0.0 && t <= 1.0)
          .getOrElse(clientError("target=<recall in (0,1]> is required"))
        val p = Sim.annPlanFor(ix.clusteredness, t)
        (200, f"""{"clusteredness":${p.clusteredness}%.3f,"regime":"${
          p.regime}","nprobe":${p.nprobe},"rerank_depth":${p.rerankDepth
          },"expected_recall":${p.expectedRecall}%.2f,"target":$t%.2f}""",
          stamp(ix.generation))
      }
      endpointUnder("/ann/instance/") { (c, _) =>
        val cell = clientLong(c, "cell")
        (200, s"""{"cell":$cell,"host":"${cellOwner(cell)}"}""", NoHeaders)
      }
    }
  }
}

/** TEXT SEARCH SERVING over the t19 inverted index of a documents corpus
  * `(doc_id, text)`.
  *
  *  - `new SearchRestServing(spark, path)` — a single instance (owns every
  *    term);
  *  - `new SearchRestServing(spark, path, numPartitions, hosts, selfHost)`
  *    — one fleet member: owns the terms whose partition (murmur3 of the
  *    term, [[ShardedServing]]) `Serving.hostFor` gives `selfHost`.
  *
  * `start()` builds the postings (term, doc_id, tf, first_pos), the term
  * stats and the doc lengths once, as Spark checkpoints of the whole
  * corpus, and collects the OWNED terms' stats and
  * [[SearchRestServing.MaxTermK]]-capped posting heads (one tf-ordered and
  * one BM25-impact-ordered champion list per term, [[HotSearch]]) — state
  * of vocabulary grain, never corpus grain.
  *
  * Endpoints (GET, JSON; every answer stamped with the generation):
  *  - `/search/term?t={term}&k=10` — the term's stats and posting head
  *    (tf desc, doc_id asc); 404 for an absent term; k ≤ MaxTermK
  *  - `/search/term/hot?t=…&k=…` — the same body from memory; 307 to the
  *    term's owner
  *  - `/search/instance/{term}` — the term's partition and host
  *  - `/search?q=t1+t2+…&k=10[&rank=bm25]` — docs matching any term, Σ
  *    tf·idf with t10's smoothed idf (ln((N+1)/(df+1))+1), or BM25 (t25's
  *    k1, b and positive idf); rows `{"doc_id","score","n_terms"}`
  *  - `/search/hot?…` — the same scoring over the champion lists: the
  *    owned terms' lists plus each owner's `/search/hot/local?terms=…`,
  *    scored centrally (a doc's score needs every term). Exact — and
  *    `X-Graft-Exact: true` — when every query term's df ≤ MaxTermK; a
  *    lower bound (`false`) otherwise, with `/search` as the audit tier
  *  - `/search/reload`, `/search/reload/all` — see [[ShardedServing]] */
class SearchRestServing(spark: SparkSession, documentsPath: String,
    numPartitions: Int, hosts: Seq[String], selfHost: String)
    extends ShardedServing(spark, documentsPath, numPartitions, hosts, selfHost,
      Serving.ownedBy(selfHost, numPartitions, hosts)) {

  def this(spark: SparkSession, documentsPath: String) =
    this(spark, documentsPath, 1, Seq(Serving.LocalHost), Serving.LocalHost)

  /** One generation: the Spark-side checkpoints and corpus constants, and
    * the owned terms' stats JSON, head JSON rows and champion lists. */
  private final case class SearchIndex(
      postings: DataFrame, stats: DataFrame, dlens: DataFrame,
      nDocs: Long, totalLen: Long,
      hotStats: java.util.HashMap[String, String],
      hotHeads: java.util.HashMap[String, Array[String]],
      hotTerm: java.util.HashMap[String, HotSearch.TermHead],
      hotTermBm25: java.util.HashMap[String, HotSearch.TermHead],
      generation: String)

  @volatile private var idx: SearchIndex = _

  def generation: String = idx.generation

  /** Owned-term count — memory ∝ owned terms. */
  def hotSize: Int = idx.hotStats.size

  def termOwner(t: String): String =
    ownerOf(Serving.partitionOf(t, numPartitions, StringType))

  protected def load(): Unit = {
    val (gen, built) = HttpJsonServer.generationConsistent(
        () => graft.ops.Artifacts.fingerprint(spark, documentsPath)) {
    // the SHARED t19 definition: serving reads the index batch writes
    val postings = graft.ops.TextAnalysis
      .postingsFrame(spark.read.parquet(documentsPath)).localCheckpoint()
    val stats = postings.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).cast("long").as("corpus_tf"))
      .localCheckpoint()
    // doc lengths: the per-doc postings rollup (no second tokenize)
    val dlens = postings.groupBy(col("doc_id"))
      .agg(sum(col("tf")).cast("long").as("dl")).localCheckpoint()
    val nDocs = dlens.count()
    val totalLen = dlens.agg(sum(col("dl")).cast("long")).head.getLong(0)
    val own = ownedKeys(col("term"))
    val (hs, hh, ht, hb) = HotSearch.buildTermShard(stats.where(own),
      postings.where(own), dlens, SearchRestServing.MaxTermK, nDocs, totalLen)
    SearchIndex(postings, stats, dlens, nDocs, totalLen, hs, hh, ht, hb, "")
    }
    idx = built.copy(generation = gen)
  }

  /** Highest-df terms in the built index — guaranteed-present probes for a
    * measurement harness. */
  def topTerms(n: Int): Seq[String] =
    idx.stats.orderBy(col("df").desc, col("term").asc).select("term")
      .limit(n).collect().map(_.getString(0)).toSeq

  private def termParams(q: Map[String, String]): (String, Int) = {
    val t = required(q, "t", "t=<term> is required")
    (t, intParam(q, "k", 10, max = SearchRestServing.MaxTermK))
  }

  private def searchParams(q: Map[String, String]): (Seq[String], Int) = {
    val terms = q.getOrElse("q", clientError("q=t1+t2+... is required"))
      .split("[ +]+").filter(_.nonEmpty).distinct.toSeq
    if (terms.isEmpty) clientError("empty query")
    (terms, intParam(q, "k", 10))
  }

  def start(bindPort: Int = 0): Int = {
    load()
    serve(bindPort) {
      reloadEndpoints("/search") { () =>
        val ix = idx
        (200, s"""{"reloaded":true,"terms":${ix.hotStats.size},"generation":"${
          ix.generation}"}""", stamp(ix.generation))
      }
      endpoint("/search/term") { q =>
        val ix = idx
        val (t, k) = termParams(q)
        val st = ix.stats.filter(col("term") === t).toJSON.collect()
        if (st.isEmpty) (404, """{"error":"term not found"}""", stamp(ix.generation))
        else (200, s"""{"stats":${st.head},"postings":${json(
          ix.postings.filter(col("term") === t)
            .orderBy(col("tf").desc, col("doc_id").asc).limit(k)
            .select(col("doc_id"), col("tf"), col("first_pos")))}}""", stamp(ix.generation))
      }
      // a term has ONE owner: route, never gather
      endpoint("/search/term/hot") { q =>
        val ix = idx // stats and heads from one generation
        val (t, k) = termParams(q)
        val host = termOwner(t)
        stamped(ix.generation)(
          if (host != selfHost)
            redirect(host, s"/search/term/hot?t=${enc(t)}&k=$k")
          else Option(ix.hotStats.get(t)) match {
            case None => (404, """{"error":"term not found"}""", NoHeaders)
            case Some(st) => (200, s"""{"stats":$st,"postings":${
              ix.hotHeads.get(t).take(k).mkString("[", ",", "]")}}""", NoHeaders)
          })
      }
      endpointUnder("/search/instance/") { (t, _) =>
        val p = Serving.partitionOf(t, numPartitions, StringType)
        (200, s"""{"partition":$p,"host":"${Serving.hostFor(p, hosts)}"}""", NoHeaders)
      }
      endpoint("/search") { q =>
        val ix = idx
        val (terms, k) = searchParams(q)
        val cand = ix.postings.filter(col("term").isin(terms: _*))
        val df = ix.stats.filter(col("term").isin(terms: _*))
        val perTerm = q.get("rank") match {
          case Some("bm25") =>
            import graft.ops.TextAnalysis.{Bm25K1, Bm25B}
            // t25's scoring: same constants, idf and evaluation order
            val idf = df.select(col("term"), log(lit(1.0)
              + (lit(ix.nDocs) - col("df") + 0.5) / (col("df") + 0.5)).as("idf"))
            cand.join(broadcast(idf), Seq("term"))
              .join(ix.dlens, Seq("doc_id"))
              .withColumn("s", col("idf") * (col("tf") * lit(Bm25K1 + 1))
                / (col("tf") + lit(Bm25K1) * (lit(1.0 - Bm25B)
                  + lit(Bm25B) * col("dl").cast("double") * lit(ix.nDocs)
                    / lit(ix.totalLen))))
          case _ =>
            val idf = df.select(col("term"),
              (log((lit(ix.nDocs) + 1.0) / (col("df") + 1.0)) + 1.0).as("idf"))
            cand.join(broadcast(idf), Seq("term")).withColumn("s", col("tf") * col("idf"))
        }
        (200, json(perTerm.groupBy(col("doc_id"))
          .agg(round(sum(col("s")), 6).as("score"), count(lit(1)).as("n_terms"))
          .orderBy(col("score").desc, col("doc_id").asc).limit(k)), stamp(ix.generation))
      }
      // the owned subset of the requested terms' champion lists, in
      // HotSearch's wire form; other terms are absent
      endpoint("/search/hot/local") { q =>
        val ix = idx
        val ts = required(q, "terms", "terms=t1,t2,... is required")
        val lists = if (q.get("rank").contains("bm25")) ix.hotTermBm25 else ix.hotTerm
        (200, HotSearch.renderHeads(ts.split(",").toSeq.filter(_.nonEmpty).distinct
          .flatMap(t => Option(lists.get(t)))), stamp(ix.generation))
      }
      endpointAsync("/search/hot") { q =>
        val ix = idx
        val (terms, k) = searchParams(q)
        stamped(ix.generation) {
          // only tokenizer-alphabet terms exist in the index, so dropping
          // the rest keeps parity with /search and the wire format
          // unambiguous
          val byOwner = terms.filter(_.matches("[a-z0-9]+")).groupBy(termOwner)
          val urls = peerUrls // one read of the peer map per request
          // an owner without a URL is a visible 502, never a 200 scored
          // from a subset of the query's terms
          val unreachable = (byOwner - selfHost).keys.filterNot(urls.contains).toSeq.sorted
          if (unreachable.nonEmpty)
            (502, s"""{"error":"no url for host ${unreachable.head}"}""", NoHeaders)
          else {
            val bm25 = q.get("rank").contains("bm25")
            val lists = if (bm25) ix.hotTermBm25 else ix.hotTerm
            val resps = fetchPeers((byOwner - selfHost).toSeq.map { case (h, ts) =>
              s"${urls(h)}/search/hot/local?terms=${ts.mkString(",")}" +
                (if (bm25) "&rank=bm25" else "") })
            val heads = byOwner.getOrElse(selfHost, Nil).flatMap(t => Option(lists.get(t))) ++
              resps.flatMap(r => HotSearch.parseHeads(r.body()))
            (200, HotSearch.render(HotSearch.score(heads, ix.nDocs, ix.totalLen, bm25, k)),
              Map(HttpJsonServer.ExactHeader ->
                HotSearch.exact(heads, SearchRestServing.MaxTermK).toString) ++
                mixedFlag(ix.generation, resps))
          }
        }
      }
    }
  }
}

object SearchRestServing {
  /** The largest posting head either term tier serves (and the hot
    * tier's per-term memory bound): a k above this is a 400 in BOTH
    * tiers, so the cap can never make hot and cold answers diverge. */
  val MaxTermK = 100
}

/** DEDUP-CHECK SERVING — "is this text already in the corpus?" as a point
  * query, the ingest-time membership check in front of a training
  * corpus (the request/response twin of
  * [[graft.streaming.StreamOps.deltaDedupStream]], same verdicts).
  *
  *  - `new DedupRestServing(spark, path)` — a single instance (owns every
  *    key);
  *  - `new DedupRestServing(spark, path, numPartitions, hosts, selfHost)`
  *    — one fleet member: owns the content hashes and `band:bucket` keys
  *    whose partition (murmur3, [[ShardedServing]]) `Serving.hostFor`
  *    gives `selfHost`.
  *
  * `start()` builds the corpus's content-hash and banded-signature tables
  * from the SHARED batch definitions ([[graft.ops.Dedup.minhashSigFrameOf]],
  * `bandBuckets` — exactly the tables d16 builds) and collects the owned
  * keys into in-process maps: md5 → smallest doc_id, and
  * band:bucket → [(doc_id, signature)]. A query text's signature comes
  * from the same Catalyst expressions, compiled once ([[DedupSignature]]):
  * no Spark job runs in the request path. Verdicts follow d16: exact
  * beats near, near needs an estimated Jaccard ≥ 0.5, ties go to the
  * smallest doc_id.
  *
  * Endpoints (GET, JSON; stamped with the generation):
  *  - `/dedup/check?text=…` →
  *    `{"verdict":"exact|near|new","partner":id,"est_jaccard":e}`: the
  *    exact probe goes to the hash's one owner; the near probe scatters
  *    the query's ≤ Bands bucket keys to their owners and merges each
  *    owner's best by (est desc, id asc)
  *  - `/dedup/probe/exact?ch=…` — the owned exact probe (404: no match)
  *  - `/dedup/probe/near?keys=k1,k2&sig=s0,s1,…` — the best owned
  *    candidate for the signature, `{"partner":null}` when none
  *  - `/dedup/reload`, `/dedup/reload/all` — see [[ShardedServing]] */
class DedupRestServing(spark: SparkSession, documentsPath: String,
    numPartitions: Int, hosts: Seq[String], selfHost: String)
    extends ShardedServing(spark, documentsPath, numPartitions, hosts, selfHost,
      Serving.ownedBy(selfHost, numPartitions, hosts)) {
  import graft.ops.Dedup

  def this(spark: SparkSession, documentsPath: String) =
    this(spark, documentsPath, 1, Seq(Serving.LocalHost), Serving.LocalHost)

  /** One generation: (fingerprint, hash map, band map), swapped as one.
    * A check that spans a reload may consult adjacent generations
    * between its exact and near probes; each probe reads one complete
    * snapshot. */
  @volatile private var shard:
    (String, java.util.HashMap[String, java.lang.Long],
      java.util.HashMap[String, Array[(Long, Array[Long])]]) = _
  private var querySig: DedupSignature = _

  /** Owned (hash, bucket) key counts — memory ∝ owned keys. */
  def hotSize: (Int, Int) = { val (_, h, b) = shard; (h.size, b.size) }

  def generation: String = shard._1

  def keyOwner(key: String): String =
    ownerOf(Serving.partitionOf(key, numPartitions, StringType))

  protected def load(): Unit = {
    val (gen, built) = HttpJsonServer.generationConsistent(
        () => graft.ops.Artifacts.fingerprint(spark, documentsPath)) {
    val docs = spark.read.parquet(documentsPath).select(col("doc_id"), col("text"))
    val sig = Dedup.minhashSigFrameOf(docs)
      .select(col("doc_id").as("c_id"),
        array((0 until Dedup.NumPerms).map(i => col(s"mh$i")): _*).as("c_sig"))
      .localCheckpoint()
    val hashes = new java.util.HashMap[String, java.lang.Long]()
    docs.groupBy(md5(col("text")).as("ch"))
      .agg(min(col("doc_id")).as("exact_partner"))
      .where(ownedKeys(col("ch")))
      .collect().foreach(r => hashes.put(r.getString(0), r.getLong(1)))
    val bands = new java.util.HashMap[String, Array[(Long, Array[Long])]]()
    sig
      .select(col("c_id"), col("c_sig"), explode(Dedup.bandBuckets(col("c_sig"))).as("bb"))
      .select(concat_ws(":", col("bb.band"), col("bb.bucket")).as("key"),
        col("c_id"), col("c_sig"))
      .where(ownedKeys(col("key")))
      .collect()
      .groupBy(_.getString(0))
      .foreach { case (key, rows) =>
        bands.put(key, rows.map(r => (r.getLong(1), r.getSeq[Long](2).toArray)))
      }
    (hashes, bands)
    }
    shard = (gen, built._1, built._2)
  }

  /** The best candidate in `bands` for the signature among `keys`'
    * buckets: estimated Jaccard ≥ 0.5, ties to the smallest doc_id. */
  private def bestNear(bands: java.util.HashMap[String, Array[(Long, Array[Long])]],
      keys: Seq[String], qsig: Array[Long]): Option[(Double, Long)] =
    keys.iterator
      .flatMap(k => Option(bands.get(k)).iterator.flatten)
      .toArray.distinctBy(_._1)
      .map { case (cid, cs) =>
        var agree = 0; var i = 0
        while (i < qsig.length) { if (qsig(i) == cs(i)) agree += 1; i += 1 }
        (agree.toDouble / Dedup.NumPerms, cid)
      }
      .filter(_._1 >= 0.5)
      .sortBy { case (e, id) => (-e, id) }.headOption

  private val PartnerRe = "\"partner\":(\\d+)".r
  private val EstRe = "\"est\":([0-9.E-]+)".r

  def start(bindPort: Int = 0): Int = {
    querySig = new DedupSignature(spark)
    load()
    serve(bindPort) {
      reloadEndpoints("/dedup") { () =>
        val (gen, h, b) = shard
        (200, s"""{"reloaded":true,"hashes":${h.size},"buckets":${b.size
          },"generation":"$gen"}""", stamp(gen))
      }
      endpoint("/dedup/probe/exact") { q =>
        val (gen, hashes, _) = shard
        val ch = required(q, "ch", "ch=... is required")
        Option(hashes.get(ch)) match {
          case Some(p) => (200, s"""{"partner":$p}""", stamp(gen))
          case None => (404, """{"error":"no exact match"}""", stamp(gen))
        }
      }
      endpoint("/dedup/probe/near") { q =>
        val (gen, _, bands) = shard
        val usage = "keys=... and sig=... are required"
        val ks = required(q, "keys", usage)
        val qsig = required(q, "sig", usage).split(",").map(v => clientLong(v, "sig"))
        (200, bestNear(bands, ks.split(",").toSeq, qsig).fold("""{"partner":null}""") {
          case (e, id) => s"""{"partner":$id,"est":$e}""" }, stamp(gen))
      }
      endpointAsync("/dedup/check") { q =>
      val text = required(q, "text", "text=... is required")
        val (gen, hashes, bands) = shard // local probes from one generation
        val (ch, qsig, keys) = querySig.of(text)
        // exact tier: the hash's one owner, in-process or one peer hop
        val exactOwner = keyOwner(ch)
        val exactResp = if (exactOwner == selfHost) Nil
          else peerUrls.get(exactOwner).toSeq.map(base =>
            HttpJsonServer.fetchAll(Seq(s"$base/dedup/probe/exact?ch=$ch")).head)
        val exact: Option[Long] =
          if (exactOwner == selfHost) Option(hashes.get(ch)).map(_.toLong)
          else exactResp.filter(_.statusCode() == 200).flatMap(r =>
            PartnerRe.findFirstMatchIn(r.body()).map(_.group(1).toLong)).headOption
        val (body, nearResps) = exact match {
          case Some(p) =>
            (s"""{"verdict":"exact","partner":$p,"est_jaccard":1.0}""", Nil)
          case None =>
            // near tier: each owner's best for its buckets, merged
            val byOwner = keys.groupBy(keyOwner)
            val resps = fetchPeers((byOwner - selfHost).toSeq.flatMap { case (h, ks) =>
              peerUrls.get(h).map(base =>
                s"$base/dedup/probe/near?keys=${ks.mkString(",")}&sig=${qsig.mkString(",")}")
            })
            val peerBests = resps.flatMap(r => for {
              id <- PartnerRe.findFirstMatchIn(r.body())
              e <- EstRe.findFirstMatchIn(r.body())
            } yield (e.group(1).toDouble, id.group(1).toLong))
            val best = (byOwner.get(selfHost).flatMap(ks => bestNear(bands, ks, qsig)).toSeq ++
              peerBests).sortBy { case (e, id) => (-e, id) }.headOption
            (best.fold("""{"verdict":"new","partner":null,"est_jaccard":null}""") {
              case (e, id) => s"""{"verdict":"near","partner":$id,"est_jaccard":$e}"""
            }, resps)
        }
        (200, body, stamp(gen) ++ mixedFlag(gen, exactResp ++ nearResps))
      }
    }
  }
}

/** The query-text signature pipeline, COMPILED ONCE at construction:
  * the SAME Catalyst expressions the corpus tables were built with,
  * analyzed against a template one-row frame, then turned into layered
  * [[org.apache.spark.sql.catalyst.expressions.UnsafeProjection]]s (the
  * engine's own codegen evaluation path). Per request the projections
  * evaluate over an InternalRow — zero Spark jobs (ServingSpec pins
  * this with a job listener) AND zero per-request planning: the earlier
  * per-request `Seq(text).toDF.select(...).head()` form also ran no
  * jobs (ConvertToLocalRelation folded it) but paid analyzer+optimizer
  * time on every call, a measured ~130 ms p50 floor (SERVBENCH_r15
  * first capture) against the 200 ms job floor it had removed.
  * Engine-exact by construction either way: same expression tree, same
  * evaluation code — only compiled once. */
private[streaming] final class DedupSignature(spark: SparkSession) {
  import graft.ops.Dedup
  import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
  import org.apache.spark.sql.catalyst.plans.logical.Project

  private val layers: Seq[UnsafeProjection] = {
    import spark.implicits._
    graft.functions.GraftExtensions.register(spark) // graft_minhash
    val template = Seq("").toDF("text")
      .select(md5(col("text")).as("ch"), graft.ops.TextAnalysis.tokens.as("t"))
      .select(col("ch"), Dedup.minhashSigArray(col("t")).as("sig"))
      .select(col("ch"), col("sig"), Dedup.bandBuckets(col("sig")).as("bbs"))
    val analyzed = template.queryExecution.analyzed
    val leafOut = analyzed.collectLeaves().head.output
    // innermost projection first; each layer binds to the previous
    // layer's output attributes (toDF's rename layer included)
    val projects = analyzed.collect { case p: Project => p }.reverse
    var input = leafOut
    projects.map { p =>
      val up = UnsafeProjection.create(p.projectList, input)
      input = p.projectList.map(_.toAttribute)
      up
    }
  }

  /** (content hash, minhash signature, band:bucket keys) of a text. */
  def of(text: String): (String, Array[Long], Seq[String]) =
    synchronized { // UnsafeProjections reuse their result buffer
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.unsafe.types.UTF8String
      var row: InternalRow = InternalRow(UTF8String.fromString(text))
      layers.foreach(p => row = p(row))
      val ch = row.getUTF8String(0).toString
      val sig = row.getArray(1).toLongArray()
      val bbs = row.getArray(2)
      val keys = (0 until bbs.numElements()).map { i =>
        val st = bbs.getStruct(i, 2)
        st.getInt(0) + ":" + st.getUTF8String(1).toString
      }
      (ch, sig, keys)
    }
}

/** The hot CHAMPION-LIST multi-term search scorer behind
  * [[SearchRestServing]]'s `/search/hot`, ARITHMETICALLY IDENTICAL to the
  * cold `/search` tier: same smoothed tf-idf (ln((N+1)/(df+1))+1) and
  * BM25 (t25's k1/b, Lucene-style positive idf) expressions in the same
  * evaluation order, 6-dp HALF_UP on the per-doc sum (the rule Spark's
  * round() applies), (score desc, doc_id asc) order, and the cold
  * tier's exact toJSON field shape.
  *
  * Champion-list semantics (Brown/impact-ordered pruning): candidates
  * come from the MaxTermK-capped per-term posting heads the hot tier
  * already holds — vocabulary-grain memory, zero Spark work per
  * request. One documented caveat on "byte-identical": this scorer
  * sums a doc's per-term contributions in term order while Spark's
  * sum() order is partition-nondeterministic, so a multi-term score
  * sitting within 1 ulp of a 6th-decimal rounding boundary could
  * round differently between the tiers — a ~1-in-10¹⁰ knife-edge per
  * value that the 6-dp round otherwise absorbs; the cold audit tier
  * is authoritative when it matters. The approximation contract,
  * pinned in ServingSpec:
  *  - a doc's hot score NEVER exceeds its cold score (heads only ever
  *    omit contributions),
  *  - when every query term's df ≤ MaxTermK the heads ARE the postings,
  *    so hot and cold answers are byte-identical — the cold exact
  *    `/search` stays the audit tier for queries over heavier terms, and
  *  - each ranker's champion list is selected by ITS OWN per-term
  *    impact (tf-desc is already impact order for tf-idf; BM25 gets a
  *    length-normalized impact head), so a SINGLE-term query's top-k is
  *    exact for k ≤ MaxTermK under either ranker even when df > MaxTermK
  *    — the classic champion-list guarantee; multi-term recall vs the
  *    cap is the measured [[SearchSweep]] curve in BASELINE.md. */
private[streaming] object HotSearch {
  /** One query term's champion list: df (for idf) + capped head rows
    * (doc_id, tf, doc length — the BM25 normalizer). */
  final case class TermHead(term: String, df: Long, rows: Array[(Long, Long, Long)])

  /** Score the union of the heads' docs; returns (score, doc_id,
    * n_terms) rows, top-k. Heads are processed in term order so the
    * per-doc double sum is deterministic regardless of which owner
    * shipped which term. */
  def score(heads: Seq[TermHead], nDocs: Long, totalLen: Long,
      bm25: Boolean, k: Int): Array[(Double, Long, Int)] = {
    import graft.ops.TextAnalysis.{Bm25K1, Bm25B}
    val byDoc = scala.collection.mutable.HashMap[Long, (Double, Int)]()
    heads.sortBy(_.term).foreach { h =>
      val idf =
        if (bm25) math.log(1.0 + (nDocs - h.df + 0.5) / (h.df + 0.5))
        else math.log((nDocs + 1.0) / (h.df + 1.0)) + 1.0
      h.rows.foreach { case (doc, tf, dl) =>
        val s =
          if (bm25) idf * (tf * (Bm25K1 + 1)) /
            (tf + Bm25K1 * ((1.0 - Bm25B) + Bm25B * dl.toDouble * nDocs / totalLen))
          else tf * idf
        val (acc, n) = byDoc.getOrElse(doc, (0.0, 0))
        byDoc.put(doc, (acc + s, n + 1))
      }
    }
    byDoc.iterator.map { case (doc, (s, n)) =>
      (BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, doc, n)
    }.toArray.sortBy { case (s, doc, _) => (-s, doc) }.take(k)
  }

  /** The hot answer's EXACTNESS predicate: TRUE
    * when every gathered head is COMPLETE — a term whose df ≤ cap has
    * its ENTIRE postings list in the champion head, so the scored union
    * is the full candidate set and the hot answer byte-equals the cold
    * tier's for any k; one over-cap term makes the answer a documented
    * LOWER BOUND instead. Terms absent from the index (no head) score
    * zero on both tiers and cannot break exactness. Computed from the
    * per-term dfs the shard already holds — and on the federated path
    * from the gathered heads themselves, so the coordinator needs no
    * extra owner round-trip. */
  def exact(heads: Seq[TermHead], cap: Int): Boolean =
    heads.forall(_.df <= cap)

  /** The cold tier's exact row shape: {"doc_id":…,"score":…,"n_terms":…}. */
  def render(top: Array[(Double, Long, Int)]): String =
    top.map { case (s, d, n) => s"""{"doc_id":$d,"score":$s,"n_terms":$n}""" }
      .mkString("[", ",", "]")

  /** Wire form for the federated fan-out: the owned terms' heads as
    * compact JSON (terms are [a-z0-9]+ tokens — no escaping needed). */
  def renderHeads(heads: Seq[TermHead]): String =
    heads.map(h => s"""{"term":"${h.term}","df":${h.df},"rows":${
      h.rows.map { case (d, tf, dl) => s"[$d,$tf,$dl]" }.mkString("[", ",", "]")}}""")
      .mkString("[", ",", "]")

  private val HeadRe =
    """\{"term":"([a-z0-9]+)","df":(\d+),"rows":\[((?:\[\d+,\d+,\d+\],?)*)\]\}""".r
  private val RowRe = """\[(\d+),(\d+),(\d+)\]""".r

  def parseHeads(body: String): Seq[TermHead] =
    HeadRe.findAllMatchIn(body).map { m =>
      TermHead(m.group(1), m.group(2).toLong,
        RowRe.findAllMatchIn(m.group(3)).map(r =>
          (r.group(1).toLong, r.group(2).toLong, r.group(3).toLong)).toArray)
    }.toSeq

  /** Build the hot term structures — stats JSON, head JSON arrays, and
    * TWO champion lists per term — from (already ownership-scoped)
    * stats/postings frames.
    *
    * Champion selection is IMPACT-ORDERED per ranker (Strohman/Turtle):
    * for tf-idf the within-term idf is constant, so the tf-desc head IS
    * the impact head; for BM25 the length normalization reorders docs —
    * a raw-tf head measured recall@10 0.158 at cap 100 on adversarial
    * heavy-term queries (SearchSweep) because short high-impact docs
    * fall outside it, so the BM25 list selects its cap by the per-term
    * BM25 impact (tf·(k1+1)/(tf+k1·(1−b+b·dl·N/L)) — idf dropped, it is
    * constant within a term). Memory stays vocab·cap·2; the tf list's
    * dl join runs AFTER the cap, the impact list needs dl BEFORE its
    * window (cluster-side join, never collected at corpus grain). */
  private[streaming] def buildTermShard(
      stats: org.apache.spark.sql.DataFrame,
      postings: org.apache.spark.sql.DataFrame,
      dlens: org.apache.spark.sql.DataFrame, maxTermK: Int,
      nDocs: Long, totalLen: Long)
      : (java.util.HashMap[String, String],
         java.util.HashMap[String, Array[String]],
         java.util.HashMap[String, TermHead],
         java.util.HashMap[String, TermHead]) =
    // literal rank bound on the UNJOINED postings: Spark plans the
    // rank-filter as WindowGroupLimit (the bounded collect the per-term
    // memory bound rides on) — a column-valued cap
    // cannot use that optimization, so the production path keeps its
    // own plan instead of routing through the general form
    buildTermShardImpl(stats, postings, dlens,
      col("rn") <= maxTermK, nDocs, totalLen)

  /** The general form: `cap` is a per-TERM head-depth column and may
    * reference `df` (evaluated over a broadcast join of the vocab-grain
    * stats) — the df-PROPORTIONAL champion depth SearchSweep's lever
    * arm measures. Same builder core as the
    * production overload, so a knob the sweep validates is one literal
    * swap away from serving. */
  private[streaming] def buildTermShardCap(
      stats: org.apache.spark.sql.DataFrame,
      postings0: org.apache.spark.sql.DataFrame,
      dlens: org.apache.spark.sql.DataFrame,
      cap: org.apache.spark.sql.Column,
      nDocs: Long, totalLen: Long)
      : (java.util.HashMap[String, String],
         java.util.HashMap[String, Array[String]],
         java.util.HashMap[String, TermHead],
         java.util.HashMap[String, TermHead]) =
    buildTermShardImpl(stats,
      // df rides on every posting row (broadcast vocab join) so the
      // df-referencing cap can filter the ranked window per term
      postings0.join(broadcast(stats.select(col("term"), col("df"))),
          Seq("term"))
        .withColumn("__cap", cap),
      dlens, col("rn") <= col("__cap"), nDocs, totalLen)

  private def buildTermShardImpl(
      stats: org.apache.spark.sql.DataFrame,
      postings: org.apache.spark.sql.DataFrame,
      dlens: org.apache.spark.sql.DataFrame,
      rankKeep: org.apache.spark.sql.Column,
      nDocs: Long, totalLen: Long)
      : (java.util.HashMap[String, String],
         java.util.HashMap[String, Array[String]],
         java.util.HashMap[String, TermHead],
         java.util.HashMap[String, TermHead]) = {
    import graft.ops.TextAnalysis.{Bm25K1, Bm25B}
    val freshStats = new java.util.HashMap[String, String]()
    val dfOf = new java.util.HashMap[String, java.lang.Long]()
    stats
      .select(col("term"), col("df"),
        to_json(struct(col("term"), col("df"), col("corpus_tf"))).as("j"))
      .collect().foreach { r =>
        freshStats.put(r.getString(0), r.getString(2))
        dfOf.put(r.getString(0), r.getLong(1))
      }
    val freshHeads = new java.util.HashMap[String, Array[String]]()
    val freshTerm = new java.util.HashMap[String, TermHead]()
    val headRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term")).orderBy(col("tf").desc, col("doc_id").asc)
    postings
      .withColumn("rn", row_number().over(headRank))
      .filter(rankKeep)
      .join(dlens, Seq("doc_id"))
      .select(col("term"), col("rn"), col("doc_id"), col("tf"), col("dl"),
        to_json(struct(col("doc_id"), col("tf"), col("first_pos"))).as("j"))
      .collect()
      .groupBy(_.getString(0))
      .foreach { case (t, rows) =>
        val sorted = rows.sortBy(_.getInt(1))
        freshHeads.put(t, sorted.map(_.getString(5)))
        freshTerm.put(t, TermHead(t, dfOf.get(t),
          sorted.map(r => (r.getLong(2), r.getLong(3), r.getLong(4)))))
      }
    val freshBm25 = new java.util.HashMap[String, TermHead]()
    val impact = (col("tf") * lit(Bm25K1 + 1)) /
      (col("tf") + lit(Bm25K1) * (lit(1.0 - Bm25B)
        + lit(Bm25B) * col("dl").cast("double") * lit(nDocs) / lit(totalLen)))
    val impactRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term")).orderBy(col("imp").desc, col("doc_id").asc)
    postings
      .join(dlens, Seq("doc_id"))
      .withColumn("imp", impact)
      .withColumn("rn", row_number().over(impactRank))
      .filter(rankKeep)
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))
      .collect()
      .groupBy(_.getString(0))
      .foreach { case (t, rows) =>
        freshBm25.put(t, TermHead(t, dfOf.get(t),
          rows.map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
            .sortBy(_._1)))
      }
    (freshStats, freshHeads, freshTerm, freshBm25)
  }
}

/** The hot KV STORE structures behind [[RestServing]]'s hot tier — the
  * point-read map, PLUS the per-row sortable form behind the hot TOP-K.
  *
  * Unlike the term-sharded `/search/hot` — where a doc's score needs
  * contributions from EVERY query term and only a central
  * gather-then-score is correct — KV top-k IS per-owner mergeable: a
  * row's rank key is complete within its owner's shard, so each owner
  * ranks its in-process rows and ships k of them; the coordinator
  * re-ranks the union. That is exactly the reference's chart scatter
  * over local state stores (MusicPlaysRestService.java:77-115 — each
  * instance's `topFive` from its own store, merged by the caller), with
  * zero Spark work anywhere on the path.
  *
  * Byte parity by construction: each row's rendering is the SAME
  * `to_json(struct(...))` string the point map holds (pinned byte-equal
  * to the cold tier's `toJSON` rows), ranked by the SAME
  * (value desc NULLS LAST, key asc NULLS FIRST) rule as the cold
  * `orderBy(col(v).desc, col(k).asc)`. */
private[streaming] object HotKv {
  import org.apache.spark.sql.types._

  /** One loaded store shard: each row's rendered JSON held once, the
    * point map holding key → row indices (the array-framed body is
    * assembled per lookup, a few µs of concat), and `vals` the canonical
    * sort values per orderable column for the top-k. */
  final case class Shard(
      keyRows: java.util.HashMap[String, Array[Int]],
      names: Array[String],
      types: Array[DataType],
      vals: Array[Array[Any]],
      jsons: Array[String]) {
    /** The point-read body for a key: its rows as a JSON array. */
    def lookup(key: String): Option[String] =
      Option(keyRows.get(key)).map(ix => ix.map(jsons(_)).mkString("[", ",", "]"))
    def keyCount: Int = keyRows.size
    def typeOf(column: String): DataType = types(names.indexOf(column))
  }

  /** Hot-tier-orderable column types: the canonical in-process sort
    * forms cover scalar comparables (integral → Long, fractional →
    * Double, decimal → BigDecimal, string, boolean). Timestamps,
    * arrays, structs and binary stay the cold `/state/topk`'s business
    * — Spark can sort anything, an in-process comparator should not
    * half-reimplement that. (String order note: java.lang.String
    * compares UTF-16 code units where Spark's UTF8String compares
    * bytes — they agree on all of ISO-8859-1 and diverge only past
    * the BMP, the same caveat the key routing already documents.) */
  def orderable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | StringType | BooleanType | _: DecimalType => true
    case _ => false
  }

  private def canon(v: Any): Any = v match {
    case null => null
    case b: java.lang.Byte => java.lang.Long.valueOf(b.longValue)
    case s: java.lang.Short => java.lang.Long.valueOf(s.longValue)
    case i: java.lang.Integer => java.lang.Long.valueOf(i.longValue)
    case l: java.lang.Long => l
    case f: java.lang.Float => java.lang.Double.valueOf(f.doubleValue)
    case d: java.lang.Double => d
    case d: java.math.BigDecimal => d
    case d: scala.math.BigDecimal => d.bigDecimal
    case s: String => s
    case b: java.lang.Boolean => b
    case _ => null
  }

  /** Load a shard in ONE collect: the grouped point map and the per-row
    * sortable form come from the same pass over the same rows (the
    * store — or the ownership-pruned subset the caller passes — is read
    * once, never once per structure). */
  def load(store: org.apache.spark.sql.DataFrame, keyCol: String): Shard = {
    val dataCols = store.columns.filter(_ != "p").toSeq
    val types = dataCols.map(c => store.schema(c).dataType).toArray
    val collected = store
      .select(col(keyCol).cast("string").as("__k") +:
        to_json(struct(dataCols.map(col): _*)).as("__j") +:
        dataCols.map(col): _*)
      .collect()
    val grouped =
      new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[Int]]()
    collected.zipWithIndex.foreach { case (r, i) =>
      grouped.computeIfAbsent(r.getString(0),
        _ => scala.collection.mutable.ArrayBuffer.empty[Int]) += i
    }
    val keyRows = new java.util.HashMap[String, Array[Int]]()
    grouped.forEach((k, ix) => keyRows.put(k, ix.toArray))
    val vals = collected.map { r =>
      Array.tabulate[Any](dataCols.size)(i =>
        if (orderable(types(i))) canon(r.get(i + 2)) else null)
    }
    Shard(keyRows, dataCols.toArray, types, vals, collected.map(_.getString(1)))
  }

  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: java.lang.Long, y: java.lang.Long) => x.compareTo(y)
    case (x: java.lang.Double, y: java.lang.Double) => x.compareTo(y)
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y)
    case (x: String, y: String) => x.compareTo(y)
    case (x: java.lang.Boolean, y: java.lang.Boolean) => x.compareTo(y)
    case _ => 0
  }

  /** (value desc NULLS LAST, key asc NULLS FIRST) — exactly the cold
    * tier's `orderBy(col(value).desc, col(key).asc)` defaults. */
  val rankOrdering: Ordering[(Any, Any)] = new Ordering[(Any, Any)] {
    def compare(x: (Any, Any), y: (Any, Any)): Int = {
      val c = (x._1, y._1) match {
        case (null, null) => 0
        case (null, _) => 1
        case (_, null) => -1
        case (a, b) => -cmp(a, b)
      }
      if (c != 0) c
      else (x._2, y._2) match {
        case (null, null) => 0
        case (null, _) => -1
        case (_, null) => 1
        case (a, b) => cmp(a, b)
      }
    }
  }

  /** This shard's partial top-k as (value, key, rowJson) triples — the
    * fan-out unit a coordinator merges. [[graft.streaming.ClientError]]
    * (a 400, never a 500) on an unknown or hot-unorderable value column
    * — the error names the cold tier as the path that CAN serve it.
    *
    * BOUNDED-HEAP selection, not a full sort: a state store holds up to
    * millions of rows per shard, and O(n log n) of boxed comparisons per
    * request would push the hot tier back toward the cold tier's cost —
    * a k-sized heap (worst-kept at the head, evicted on better rows) is
    * O(n log k) with one early-out compare per non-qualifying row. */
  def topK(sh: Shard, valueCol: String, keyCol: String, k: Int)
      : Seq[(Any, Any, String)] = {
    val vi = sh.names.indexOf(valueCol)
    val ki = sh.names.indexOf(keyCol)
    if (vi < 0) clientError(s"unknown column $valueCol")
    if (!orderable(sh.types(vi)))
      clientError(s"column $valueCol (${sh.types(vi).simpleString}) " +
        "is not hot-tier orderable; use /state/topk")
    // the key column too: a timestamp/date key would canon to null and
    // silently lose the asc tie-break, so it is a 400 like the value
    if (!orderable(sh.types(ki)))
      clientError(s"key column $keyCol (${sh.types(ki).simpleString}) " +
        "is not hot-tier orderable; use /state/topk")
    // heap head = the WORST kept row (reverse rank order), so poll()
    // evicts it when a better row arrives
    val reversed: java.util.Comparator[(Any, Any, String)] =
      (a, b) => rankOrdering.compare((b._1, b._2), (a._1, a._2))
    val heap = new java.util.PriorityQueue[(Any, Any, String)](k + 1, reversed)
    var i = 0
    while (i < sh.vals.length) {
      val v = sh.vals(i)(vi)
      val key = sh.vals(i)(ki)
      if (heap.size < k) heap.offer((v, key, sh.jsons(i)))
      else {
        val worst = heap.peek()
        if (rankOrdering.compare((v, key), (worst._1, worst._2)) < 0) {
          heap.poll()
          heap.offer((v, key, sh.jsons(i)))
        }
      }
      i += 1
    }
    val out = new Array[(Any, Any, String)](heap.size)
    var j = out.length - 1
    while (j >= 0) { out(j) = heap.poll(); j -= 1 } // drain worst-first
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }

  /** Merge partials and render the final chart: re-rank by the same
    * rule, emit the rows' ORIGINAL JSON strings. */
  def render(partials: Seq[(Any, Any, String)], k: Int): String =
    partials.sortBy(t => (t._1, t._2))(rankOrdering).take(k)
      .map(_._3).mkString("[", ",", "]")

  /** BigDecimal parse for JSON decimals: the default DoubleNode would
    * round a decimal(22,2) beyond 2^53 and mis-rank the merge. */
  private lazy val jackson = com.fasterxml.jackson.databind.json.JsonMapper
    .builder()
    .enable(com.fasterxml.jackson.databind.DeserializationFeature
      .USE_BIG_DECIMAL_FOR_FLOATS)
    .build()

  /** One streaming pass over a peer partial (a JSON array of row
    * objects), yielding each element as (parsed node, exact source
    * slice). The slice is cut at the parser's token offsets, so it is the
    * owner's original text: re-rendering a node would normalize numbers
    * ("1.20" → 1.2), and splitting the text on `},{` would cut string
    * values that contain it. */
  private def parsedElements(body: String)
      : Seq[(com.fasterxml.jackson.databind.JsonNode, String)] = {
    import com.fasterxml.jackson.core.JsonToken
    val p = jackson.getFactory.createParser(body)
    p.setCodec(jackson)
    try {
      if (p.nextToken() != JsonToken.START_ARRAY)
        throw new IllegalStateException("peer partial is not a JSON array")
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(com.fasterxml.jackson.databind.JsonNode, String)]
      var done = false
      while (!done) {
        val tok = p.nextToken()
        if (tok == null)
          throw new IllegalStateException("truncated peer partial")
        else if (tok == JsonToken.END_ARRAY) done = true
        else if (tok == JsonToken.START_OBJECT) {
          val start = p.currentTokenLocation().getCharOffset
          val node = p.readValueAsTree[com.fasterxml.jackson.databind.JsonNode]()
          // after readValueAsTree the current token is the matching
          // END_OBJECT — its offset closes the slice
          out += ((node, body.substring(start.toInt,
            p.currentTokenLocation().getCharOffset.toInt + 1)))
        } else throw new IllegalStateException(
          s"unexpected $tok in peer partial")
      }
      out.toSeq
    } finally p.close()
  }

  /** Each row of a peer partial as its exact source text: the cold
    * `/state/topk` merge reads peer rows through the same slicer as the
    * hot merge. */
  def rowSlices(body: String): Seq[String] = parsedElements(body).map(_._2)

  /** Parse a peer's partial — a JSON array of row objects — back into
    * sort triples, typed by THIS instance's store schema (every
    * instance reads the same store, so the schemas agree by
    * construction). Jackson is Spark's own JSON library, so the sort
    * values round-trip exactly; the rendered row is the owner's
    * original byte slice, never a re-render — ServingSpec pins the
    * end-to-end parity against the cold scatter. */
  def parsePartial(body: String, sh: Shard, valueCol: String, keyCol: String)
      : Seq[(Any, Any, String)] = {
    val vi = sh.names.indexOf(valueCol)
    val ki = sh.names.indexOf(keyCol)
    parsedElements(body).map { case (nd, s) =>
      (nodeCanon(nd.get(valueCol), sh.types(vi)),
        nodeCanon(nd.get(keyCol), sh.types(ki)), s)
    }
  }

  private def nodeCanon(n: com.fasterxml.jackson.databind.JsonNode,
      dt: DataType): Any =
    if (n == null || n.isNull) null // toJSON omits null fields
    else dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        java.lang.Long.valueOf(n.longValue)
      // float parses as a float, then widens: the local rows' canon.
      // Parsing "0.3" straight to double would read 0.29999999999999998
      // against the local widened 0.30000001192092896, and equal values
      // would compare unequal
      case FloatType => java.lang.Double.valueOf(n.floatValue.toDouble)
      case DoubleType => java.lang.Double.valueOf(n.doubleValue)
      case _: DecimalType => n.decimalValue()
      case StringType => n.asText()
      case BooleanType => java.lang.Boolean.valueOf(n.booleanValue)
      case _ => null
    }
}

/** The hot-ANN member scorer behind [[VectorRestServing]]'s hot tiers,
  * matching its Spark tier: same sequential double dot fold, same
  * zero-norm exclusion, same 6-dp HALF_UP round, same (sim desc, vec_id
  * asc) order. */
private[streaming] object HotAnn {
  def score(members: Iterator[(Long, Array[Double], Double, Int)],
      qv: Array[Double], qn: Double, labelOpt: Option[Int],
      k: Int): Array[(Double, Long)] =
    members
      .filter(m => m._3 > 0 && labelOpt.forall(_ == m._4))
      .map { case (id, e, n, _) =>
        var d = 0.0; var i = 0
        while (i < e.length) { d += qv(i) * e(i); i += 1 }
        (BigDecimal(d / (n * qn))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, id)
      }
      .toArray.sortBy { case (s, id) => (-s, id) }.take(k)

  def render(top: Array[(Double, Long)]): String =
    top.map { case (s, id) => s"""{"vec_id":$id,"sim":$s}""" }
      .mkString("[", ",", "]")
}

/** The hot ADC (IVF-PQ) scorer behind [[VectorRestServing]]'s
  * `/ann/topk/pq/hot`, ARITHMETICALLY IDENTICAL to the cold `/ann/topk/pq`
  * tier: the distance tables come from the same sequential double loop
  * the cold tier computes in-process, the per-member distance is the same
  * fixed ascending-subspace sum (qd0+qd1+…) the cold tier's column
  * expression evaluates, and the 6-dp round is the HALF_UP rule
  * Spark's round() applies. ServingSpec pins byte-identical bodies. */
private[streaming] object HotAdc {
  /** The query's per-subspace ADC distance tables from the collected
    * codebook — K·M doubles, one Map per subspace keyed by centroid id
    * (codebook cent ids can be sparse after an empty-cluster drop, so
    * a map, not an array). */
  def dtabFor(qv: Array[Double], codebook: Array[(Int, Int, Array[Double])],
      pqSd: Int, pqM: Int): Array[Map[Int, Double]] =
    (0 until pqM).map { mm =>
      val qs = qv.slice(mm * pqSd, (mm + 1) * pqSd)
      codebook.collect { case (m, cent, cv) if m == mm =>
        var acc = 0.0
        var i = 0
        while (i < pqSd) { val d = qs(i) - cv(i); acc += d * d; i += 1 }
        cent -> acc
      }.toMap
    }.toArray

  /** Score coded members against the tables: 4 map lookups + the fixed
    * ascending-m sum per member (a few ns — the 100-TB hot path reads
    * ints, never floats), 6-dp HALF_UP, (adist asc, vec_id asc). */
  def score(members: Iterator[(Long, Array[Int])],
      dtab: Array[Map[Int, Double]], k: Int): Array[(Double, Long)] =
    members.map { case (id, codes) =>
      var d = 0.0
      var m = 0
      while (m < codes.length) { d += dtab(m)(codes(m)); m += 1 }
      (BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, id)
    }.toArray.sortBy { case (s, id) => (s, id) }.take(k)

  def render(top: Array[(Double, Long)]): String =
    top.map { case (d, id) => s"""{"vec_id":$id,"adist":$d}""" }
      .mkString("[", ",", "]")
}

/** A client-fault request error: a missing, junk or out-of-range
  * parameter. It is the only exception the serving tiers answer with a
  * 400; every other `Exception` is a server fault and answers 500, even
  * an `IllegalArgumentException` (a Spark `require`, a rebuild's
  * precondition). Extends `IllegalArgumentException` for callers that
  * catch bad input by that type. The cause-chaining form keeps a caught
  * parse exception on the chain while the 400 body stays `msg`. */
private[streaming] final class ClientError(msg: String)
    extends IllegalArgumentException(msg) {
  def this(msg: String, cause: Throwable) = { this(msg); initCause(cause) }
}

/** Shared serving plumbing: the reply type, client-input parsing, the
  * response headers, the ops pool and the peer client. */
private[streaming] object HttpJsonServer {

  /** A reply: status, body, extra response headers. */
  type Reply = (Int, String, Map[String, String])

  /** Raise a [[ClientError]]: the caller's fault, answered 400. */
  def clientError(msg: String): Nothing = throw new ClientError(msg)

  /** Parse helpers that raise a [[ClientError]] on junk client input. */
  def clientInt(v: String, what: String): Int =
    v.toIntOption.getOrElse(clientError(s"$what must be an integer"))
  def clientLong(v: String, what: String): Long =
    v.toLongOption.getOrElse(clientError(s"$what must be an integer"))

  /** Query parameter `name`, positive and at most `max`; `default` when
    * absent. The one validator for k, nprobe and the like, so every hot
    * and cold tier rejects the same inputs with the same message. */
  def intParam(q: Map[String, String], name: String, default: Int,
      max: Int = Int.MaxValue): Int =
    q.get(name) match {
      case None => default
      case Some(v) =>
        val i = v.toIntOption.filter(_ > 0)
          .getOrElse(clientError(s"$name must be a positive integer"))
        if (i > max) clientError(s"$name must be at most $max") else i
    }

  /** Non-empty query parameter `name`; a [[ClientError]] saying `usage`
    * when it is absent or empty. */
  def required(q: Map[String, String], name: String, usage: String): String =
    q.get(name).filter(_.nonEmpty).getOrElse(clientError(usage))

  val NoHeaders: Map[String, String] = Map.empty

  /** The generation stamp header for `gen`. */
  def stamp(gen: String): Map[String, String] = Map(GenerationHeader -> gen)

  /** A frame's rows as a JSON array (Spark's `toJSON`). */
  def json(df: org.apache.spark.sql.DataFrame): String =
    df.toJSON.collect().mkString("[", ",", "]")

  /** URL-encode a path or query component. */
  def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")

  /** Blank the characters that would break a JSON string literal. */
  def quoteSafe(s: String): String =
    s.map(c => if (c == '"' || c == '\\' || c < ' ') ' ' else c)

  /** The ops pool, shared by every instance in the JVM: unbounded, daemon
    * threads. It runs the bodies that block (an [[HttpJsonServer]]
    * `endpointAsync` body waiting on peers, a rebuild started by
    * `reloadAsync`) and writes the replies of futures that finish later.
    * The fixed request pool therefore only runs local reads, and a hot
    * read is dispatchable however many scatters or reloads are in flight
    * on any instance of a fleet. */
  private[streaming] val scatterPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-serving-ops")
      t.setDaemon(true)
      t
    })

  /** Build hot state under a generation-consistent stamp: fingerprint,
    * build, fingerprint again, and retry the build while the two differ
    * (a rewrite landed mid-read). After `attempts` moving reads it warns
    * and stamps the last pre-read fingerprint, a generation no newer than
    * any row served, so a rollout check reads "stale", never a false
    * "fresh". */
  def generationConsistent[A](fp: () => String, attempts: Int = 3)
      (build: => A): (String, A) = {
    var before = fp()
    var built = build
    var after = fp()
    var tries = 1
    while (after != before && tries < attempts) {
      before = after
      built = build
      after = fp()
      tries += 1
    }
    if (after != before)
      System.err.println(s"[graft] WARNING: store fingerprint moved during " +
        s"$tries consecutive hot loads ($before -> $after): stamping the " +
        "pre-read generation; reload again once the rewrite settles")
    (before, built)
  }

  /** The source fingerprint ([[graft.ops.Artifacts.fingerprint]]) the
    * answering state was loaded from. A header, not a body field, so hot
    * and cold bodies stay byte-identical. */
  val GenerationHeader = "X-Graft-Generation"

  /** `true` on a merge whose partials came from more than one generation
    * (mid-rollout). */
  val MixedHeader = "X-Graft-Mixed-Generation"

  /** The hot search tier's exactness: `"true"` when the champion-list
    * answer provably equals the cold tier's (every query term's df ≤
    * MaxTermK), `"false"` when it is a lower bound. */
  val ExactHeader = "X-Graft-Exact"

  /** One peer client for every scatter and fleet path; the connect
    * timeout makes a dead peer fail fast. */
  private lazy val peerClient: java.net.http.HttpClient =
    java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(5)).build()

  /** Ceiling on a read-path peer fetch: a hung peer costs the request a
    * 500, never a thread forever. */
  private val PeerTimeout = java.time.Duration.ofSeconds(30)

  /** Ceiling on a peer reload, which is a full index rebuild. */
  private val ReloadTimeout = java.time.Duration.ofMinutes(15)

  /** GET every url concurrently, then join; a failed or timed-out peer
    * throws the join's `CompletionException` (a 500). */
  def fetchAll(urls: Seq[String]): Seq[java.net.http.HttpResponse[String]] =
    fetchAllSafe(urls, PeerTimeout).map(_.fold(e => throw e, identity))

  /** [[fetchAll]] with one result per url, a failed peer as `Left`, so a
    * fleet reload can name each host's outcome. */
  def fetchAllSafe(urls: Seq[String], timeout: java.time.Duration)
      : Seq[Either[Throwable, java.net.http.HttpResponse[String]]] = {
    val futs = urls.map { u =>
      peerClient.sendAsync(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(u))
          .timeout(timeout).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
    }
    futs.map(f => try Right(f.join()) catch { case e: Throwable => Left(e) })
  }

  private[streaming] def reloadFetch(urls: Seq[String])
      : Seq[Either[Throwable, java.net.http.HttpResponse[String]]] =
    fetchAllSafe(urls, ReloadTimeout)

  /** The generation a response was stamped with ("" when unstamped). */
  def generationOf(resp: java.net.http.HttpResponse[String]): String =
    resp.headers().firstValue(GenerationHeader).orElse("")

  /** TCP_NODELAY for every JDK HttpServer in this JVM: without it the
    * server's two writes per response (headers, then body) meet Nagle and
    * delayed ACK, a flat ~45 ms per localhost request. The JDK reads the
    * property once, at `sun.net.httpserver.ServerConfig`'s class init, so
    * this sets it, forces that init, and warns when an earlier init
    * already latched `false` (the read-back needs build.sbt's add-opens;
    * without it the check is skipped). */
  val ensureNoDelay: Unit = {
    System.setProperty("sun.net.httpserver.nodelay", "true")
    try {
      val sc = Class.forName("sun.net.httpserver.ServerConfig")
      val m = sc.getDeclaredMethod("noDelay")
      m.setAccessible(true)
      if (!m.invoke(null).asInstanceOf[Boolean])
        System.err.println("[graft] WARNING: sun.net.httpserver.nodelay " +
          "was latched FALSE before the serving tiers initialized — every " +
          "localhost request will pay the ~45 ms Nagle/delayed-ACK floor. " +
          "Set -Dsun.net.httpserver.nodelay=true at JVM start.")
    } catch { case _: Throwable => () }
  }
}

/** A JSON-over-HTTP server on the JDK's `com.sun.net.httpserver`, with
  * one request path for every endpoint.
  *
  * Contract:
  *  - Pools: [[serve]] runs requests on a fixed 8-thread request pool.
  *    [[endpoint]] and [[endpointUnder]] bodies run on it; an
  *    [[endpointAsync]] body, which blocks on peers, runs on
  *    [[HttpJsonServer.scatterPool]]; an [[endpointFuture]] body runs on
  *    the request thread and returns a future.
  *  - Writes: a finished reply is written on the thread that produced it,
  *    so a hot read never changes threads; only a future that is still
  *    running when its body returns has its reply written from the ops
  *    pool.
  *  - Paths: a registered path is served exactly (a longer path is a
  *    404); [[endpointUnder]] serves every path below its prefix.
  *  - Errors: a [[ClientError]] answers 400 and any other `Exception` 500,
  *    each with its message as `{"error":…}`; an `Error` is logged and
  *    answers 500 `{"error":"internal error"}`. Error replies carry no
  *    headers, so no `X-Graft-Generation`; a body stamps only the replies
  *    it returns.
  *  - A 307's body is the redirect target, sent as `Location`. */
private[streaming] trait HttpJsonServer {
  import HttpJsonServer.{NoHeaders, Reply, scatterPool}
  import java.util.concurrent.{CompletableFuture, CompletionException}
  HttpJsonServer.ensureNoDelay
  private var server: HttpServer = _
  private var pool: java.util.concurrent.ExecutorService = _

  /** One rebuild at a time per instance, and no thread parked per waiter.
    * The rebuild runs on the ops pool as one `CompletableFuture`; a call
    * while it runs composes on it and, when it lands, finishes at once if
    * it succeeded and `alreadyFresh` holds, or runs its own rebuild
    * otherwise. A call with no rebuild in flight always rebuilds, so a
    * forced reload of an unchanged source still works. HTTP reloads
    * answer from the future ([[endpointFuture]]) and hold no thread. */
  private val reloadLock = new Object
  private var reloadInFlight: CompletableFuture[Void] = _

  protected def reloadAsync(alreadyFresh: => Boolean)(f: => Unit)
      : CompletableFuture[Void] =
    reloadLock.synchronized {
      val inFlight = reloadInFlight
      if (inFlight != null)
        inFlight.handle[java.lang.Boolean]((_, err) => err == null)
          .thenCompose[Void](ok =>
            if (ok.booleanValue && alreadyFresh) CompletableFuture.completedFuture(null)
            else reloadAsync(alreadyFresh)(f))
      else {
        val fut = new CompletableFuture[Void]()
        reloadInFlight = fut
        scatterPool.execute { () =>
          // clear before completing: a continuation that re-enters
          // reloadAsync must find the slot free
          try { f; clearInFlight(fut); fut.complete(null) }
          catch { case t: Throwable =>
            clearInFlight(fut); fut.completeExceptionally(t) }
        }
        fut
      }
    }

  private def clearInFlight(fut: CompletableFuture[Void]): Unit =
    reloadLock.synchronized {
      if (reloadInFlight eq fut) reloadInFlight = null
    }

  /** Blocking form for in-process callers: joins, rethrowing the original
    * failure rather than its `CompletionException`. */
  protected def reloadSerial(alreadyFresh: => Boolean)(f: => Unit): Unit =
    try reloadAsync(alreadyFresh)(f).join()
    catch {
      case e: CompletionException if e.getCause != null => throw e.getCause
    }

  /** Bind 127.0.0.1:`bindPort` (0 for an ephemeral port), register
    * `endpoints`, and start on the request pool; returns the port.
    * Handlers run concurrently, so each reads its generation's state
    * through one volatile holder per request. */
  protected def serve(bindPort: Int)(endpoints: => Unit): Int = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", bindPort), 0)
    endpoints
    pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    server.setExecutor(pool)
    server.start()
    port
  }

  /** Bound port after `start` (pass port 0 for an ephemeral one). */
  def port: Int = server.getAddress.getPort

  def stop(): Unit = {
    if (server != null) server.stop(0)
    if (pool != null) pool.shutdown()
  }

  /** Serve exactly `path`, on the request pool. */
  protected def endpoint(path: String)(f: Map[String, String] => Reply): Unit =
    register(path, exact = true, onOps = false)((_, q) => CompletableFuture.completedFuture(f(q)))

  /** [[endpoint]] whose body runs on the ops pool: for bodies that block. */
  protected def endpointAsync(path: String)(f: Map[String, String] => Reply): Unit =
    register(path, exact = true, onOps = true)((_, q) => CompletableFuture.completedFuture(f(q)))

  /** [[endpoint]] answered by a future. */
  protected def endpointFuture(path: String)(
      f: Map[String, String] => CompletableFuture[Reply]): Unit =
    register(path, exact = true, onOps = false)((_, q) => f(q))

  /** Serve every path under `prefix`; `f` gets the rest of the path. */
  protected def endpointUnder(prefix: String)(
      f: (String, Map[String, String]) => Reply): Unit =
    register(prefix, exact = false, onOps = false)((rest, q) =>
      CompletableFuture.completedFuture(f(rest, q)))

  private val NotFound: Reply = (404, """{"error":"not found"}""", NoHeaders)

  private val onThisThread: java.util.concurrent.Executor = _.run()

  /** The one registration: path guard, query parsing and dispatch. A
    * throw from the body is answered as is; a failed future is answered
    * by its cause. */
  private def register(path: String, exact: Boolean, onOps: Boolean)(
      f: (String, Map[String, String]) => CompletableFuture[Reply]): Unit =
    server.createContext(path, (exchange: HttpExchange) => {
      val run: Runnable = () =>
        try {
          val p = exchange.getRequestURI.getPath
          val q = parsedQuery(exchange)
          val fut =
            if (exact && p != path) CompletableFuture.completedFuture(NotFound)
            else f(p.stripPrefix(path), q)
          fut.whenCompleteAsync((r: Reply, err: Throwable) => reply(exchange, r, err match {
            case e: CompletionException if e.getCause != null => e.getCause
            case e => e
          }), if (fut.isDone) onThisThread else scatterPool)
        } catch { case t: Throwable => reply(exchange, null, t) }
      if (onOps) scatterPool.execute(run) else run.run()
    })

  private def parsedQuery(exchange: HttpExchange): Map[String, String] =
    Option(exchange.getRequestURI.getRawQuery).getOrElse("")
      .split("&").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        // a malformed %-escape is the caller's fault
        k -> (try java.net.URLDecoder.decode(v, "UTF-8")
          catch { case e: IllegalArgumentException =>
            throw new ClientError("malformed percent-encoding in " +
              s"query parameter $k", e) })
      }.toMap

  /** The one response writer: `r`, or the reply `err` maps to (see the
    * trait's error rule). A failed write is logged and the exchange
    * closed. */
  private def reply(exchange: HttpExchange, r: Reply, err: Throwable): Unit =
    try {
      val (status, body, headers) = if (err == null) r else failure(err)
      headers.foreach { case (k, v) => exchange.getResponseHeaders.set(k, v) }
      if (status == 307) {
        exchange.getResponseHeaders.set("Location", body)
        exchange.sendResponseHeaders(307, -1)
        exchange.close()
      } else {
        val bytes = body.getBytes(StandardCharsets.UTF_8)
        exchange.getResponseHeaders.set("Content-Type", "application/json")
        exchange.sendResponseHeaders(status, bytes.length)
        val os = exchange.getResponseBody
        os.write(bytes); os.close()
      }
    } catch { case t: Throwable =>
      System.err.println(s"[graft] response write failure: $t")
      try exchange.close() catch { case _: Throwable => () }
    }

  private def failure(t: Throwable): Reply = t match {
    case e: Exception =>
      (if (e.isInstanceOf[ClientError]) 400 else 500, s"""{"error":"${
        HttpJsonServer.quoteSafe(String.valueOf(e.getMessage).take(100))}"}""", NoHeaders)
    case _ =>
      System.err.println(s"[graft] request failure: $t")
      (500, """{"error":"internal error"}""", NoHeaders)
  }
}
