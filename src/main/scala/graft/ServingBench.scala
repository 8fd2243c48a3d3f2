package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.streaming.{RestServing, Serving}

/** Interactive-query serving latency benchmark — the measured counterpart
  * of ServingSpec's correctness goldens, and the last subsystem whose
  * claims ("a key lookup reads ONLY the hosting partition") were
  * plan-proven but not timed.
  *
  * Store under test: the KTable shape — one row per key (events rolled up
  * per user at SPARK_GRAFT_SF_DIR), written via
  * [[Serving.writePartitionedStore]] (one directory per hosting
  * partition). Measured, per mode, over N point keys:
  *  - `routed`: [[Serving.lookup]] — the `p = partitionOf(key)`
  *    PartitionFilter route (what `/state/keyvalue/{key}` serves)
  *  - `unrouted`: the same key equality WITHOUT the partition route — the
  *    full-store scan a layer without the routing math would pay; the
  *    routed/unrouted ratio is the measured value of the routing layer
  *  - `batched`: [[Serving.lookupAll]] — all N keys in ONE `p IN (…)`
  *    scan, vs N routed round-trips
  *  - `http`: GET `/state/keyvalue/{key}` against a live [[RestServing]]
  *    on the JDK HTTP server — end-to-end including JSON + HTTP overhead
  *  - `topk`: the scatter-gather `/state/topk` merge across 3 mock hosts
  *
  * Output: ONE JSON line with per-mode p50/p95/max/mean milliseconds.
  * Knobs: SPARK_GRAFT_SERV_LOOKUPS (default 50), SPARK_GRAFT_SF_DIR,
  * SPARK_GRAFT_CPUS. Like Bench: `load_warning` when load1_start > 4
  * OR load1_end > 12 — the end threshold is self-load-aware here too
  * (the closing probe reads this bench's own 8-instance fleet phase:
  * committed r17/r18/r19 captures read load1_end 11.1/7.6/6.9-8.2 on
  * demonstrably calib-clean runs, and the decade run 13.1 at calib-end
  * 0.68). The calib probe pair stays the primary contamination gate
  * for the ~ms rows (BASELINE calib↔hot-latency relation).
  */
object ServingBench {

  private def load1: Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  private def p50(ms: Seq[Double]): Double = {
    val s = ms.sorted; s((0.5 * (s.size - 1)).round.toInt)
  }

  private def stats(ms: Seq[Double]): String = {
    val s = ms.sorted
    def pct(p: Double) = s((p * (s.size - 1)).round.toInt)
    f"""{"n":${s.size},"p50_ms":${pct(0.5)}%.1f,"p95_ms":${pct(0.95)}%.1f,"max_ms":${s.last}%.1f,"mean_ms":${s.sum / s.size}%.1f}"""
  }

  private def timeMs[A](f: => A): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val n = sys.env.getOrElse("SPARK_GRAFT_SERV_LOOKUPS", "50").toInt
    val parts = 32
    val spark = GraftSession.local(cpus)
    val loadStart = load1
    val calibStart = Calib.runRounded(spark)

    // the stored KTable: per-order rollup of lineitem — 150k keys at
    // sf0.1, 1.5M at sf1-synth, so the scan-cost difference between a
    // routed (one directory) and unrouted (full store) read is visible
    // over the fixed per-query planning cost
    val keyCol = "l_orderkey"
    val path = Files.createTempDirectory("graft-servbench").toString + "/store"
    Serving.writePartitionedStore(
      spark.read.parquet(s"$sfDir/lineitem.parquet").groupBy(col(keyCol))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_extendedprice")).as("total_value"),
          // realistic store VALUE: the per-order line detail (state-store
          // values are fat — this is what makes scan volume, and
          // therefore the routing win, measurable)
          sort_array(collect_list(struct(col("l_linenumber"), col("l_partkey"),
            col("l_suppkey"), col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax"), col("l_returnflag"),
            col("l_linestatus"), col("l_shipdate")))).as("lines")),
      keyCol, parts, path)
    val nRows = spark.read.parquet(path).count()
    // deterministic existing keys, spread across the id space
    val keys: Seq[Long] = spark.read.parquet(path)
      .select(col(keyCol)).orderBy(col(keyCol)).collect()
      .map(_.getLong(0)).grouped(math.max(1, (nRows / n).toInt))
      .map(_.head).take(n).toSeq

    // warm the codegen/scan paths once so measured lookups are steady-state
    Serving.lookup(spark, path, keyCol, keys.head, parts).collect()
    spark.read.parquet(path).where(col(keyCol) === keys.head).collect()

    val routed = keys.map(k =>
      timeMs(Serving.lookup(spark, path, keyCol, k, parts).collect()))
    val unrouted = keys.map(k =>
      timeMs(spark.read.parquet(path).where(col(keyCol) === k).collect()))
    val batched = timeMs(
      Serving.lookupAll(spark, path, keyCol, keys, parts).collect())

    val hosts = Seq("h0:1", "h1:1", "h2:1")
    val topk = timeMs(Serving.scatterGatherTopK(
      spark, path, hosts, parts, "total_value", keyCol, 5).collect())

    val rest = new RestServing(spark, path, keyCol, parts, hosts)
    val port = rest.start()
    val client = java.net.http.HttpClient.newHttpClient()
    def get(p: Int, k: Long): Int = client.send(
      java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://127.0.0.1:$p/state/keyvalue/$k")).build(),
      java.net.http.HttpResponse.BodyHandlers.ofString()).statusCode()
    get(port, keys.head) // warm
    val http = keys.map(k => timeMs(assert(get(port, k) == 200)))
    // the HOT tier: the same point reads served from the instance's
    // in-process local store (the reference's actual store.get(key)
    // mechanics) — zero Spark work per request
    def getHot(k: Long): Int = client.send(
      java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://127.0.0.1:$port/state/keyvalue/hot/$k")).build(),
      java.net.http.HttpResponse.BodyHandlers.ofString()).statusCode()
    getHot(keys.head) // warm
    val hotHttp = keys.map(k => timeMs(assert(getHot(k) == 200)))
    // the HOT top-k chart (round 19): ranked from the in-process shard
    // (bounded-heap selection over the same rows the point map holds) —
    // measured beside scatter_topk_ms, the cold Spark-side scatter it
    // replaces on the hot path
    def getHotTopk(): Int = client.send(
      java.net.http.HttpRequest.newBuilder(java.net.URI.create(
        s"http://127.0.0.1:$port/state/topk/hot?value=total_value&k=5")).build(),
      java.net.http.HttpResponse.BodyHandlers.ofString()).statusCode()
    getHotTopk() // warm
    val hotTopkHttp = keys.map(_ => timeMs(assert(getHotTopk() == 200)))
    // CONCURRENT hot throughput (round 17, pooled executor): the same
    // point reads from 1 vs 8 parallel clients — requests/s should scale
    // with client count now that handlers run on a fixed pool instead of
    // the serial default dispatcher (which would hold c8 ≈ c1)
    val hotRpsFailures = new java.util.concurrent.atomic.AtomicInteger(0)
    def hotRps(clients: Int, each: Int): Double = {
      // SUCCESSES are counted, and per-request failures are CAUGHT
      // inside the worker loop (ADVICE r17 #5: an uncaught transient
      // failure killed the thread, the success-count require threw, and
      // the bench died before emitting its JSON line). A failure counts
      // toward hot_rps_failures and the rate is computed over successes
      // only — a degraded number with a visible warning field, never an
      // inflated one and never a fail-before-JSON abort.
      val successes = new java.util.concurrent.atomic.AtomicInteger(0)
      val t0 = System.nanoTime()
      val threads = (0 until clients).map { _ =>
        val c = java.net.http.HttpClient.newHttpClient()
        new Thread(() => (0 until each).foreach { i =>
          val k = keys(i % keys.size)
          try {
            if (c.send(java.net.http.HttpRequest.newBuilder(
                java.net.URI.create(s"http://127.0.0.1:$port/state/keyvalue/hot/$k")).build(),
                java.net.http.HttpResponse.BodyHandlers.ofString()).statusCode() == 200)
              successes.incrementAndGet()
            else hotRpsFailures.incrementAndGet()
          } catch { case _: Exception => hotRpsFailures.incrementAndGet() }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      if (successes.get() < clients * each)
        System.err.println(s"[graft] WARNING hotRps(c=$clients): only ${
          successes.get()} of ${clients * each} requests succeeded")
      successes.get() / ((System.nanoTime() - t0) / 1e9)
    }
    hotRps(1, 20) // warm the per-client connections
    hotRpsFailures.set(0) // warm-up failures must not taint the measured field
    val hotRpsC1 = hotRps(1, 200)
    val hotRpsC8 = hotRps(8, 200)
    rest.stop()

    // the LIVE tier: point reads over a RUNNING stream's memory-sink
    // state (LiveRestServing) — aggregate-sized LocalTableScan, no file
    // I/O; this is the low-latency serving mode the batch store is not
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Long]
    val liveQ = graft.streaming.Sources.serveAsTable(
      in.toDF().toDF("k").groupBy(col("k")).agg(count(lit(1)).as("cnt")),
      "servbench_live").start()
    in.addData(0L until 1000L: _*)
    liveQ.processAllAvailable()
    val live = new graft.streaming.LiveRestServing(spark, "servbench_live", "k")
    val lport = live.start()
    get(lport, 0L) // warm
    val liveHttp = (0 until keys.size).map(i => timeMs(assert(get(lport, i % 1000L) == 200)))
    live.stop(); liveQ.stop()

    // the VECTOR tier: IVF-probed ANN top-k over HTTP (round-12
    // addition) — per-request in-process centroid probe + pruned
    // candidate scan; and the exact brute tier as its audit ceiling
    val vrest = new graft.streaming.VectorRestServing(spark, s"$sfDir/embeddings.parquet")
    val vport = vrest.start()
    def getPath(p: Int, path: String): Int = client.send(
      java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://127.0.0.1:$p$path")).build(),
      java.net.http.HttpResponse.BodyHandlers.ofString()).statusCode()
    val qvec = (0 until 64).map(i => math.sin(i * 0.7)).mkString(",")
    getPath(vport, s"/ann/topk?vec=$qvec&k=5") // warm
    val annHttp = (0 until keys.size).map(_ =>
      timeMs(assert(getPath(vport, s"/ann/topk?vec=$qvec&k=5&nprobe=4") == 200)))
    getPath(vport, s"/ann/topk/hot?vec=$qvec&k=5") // warm
    val annHotHttp = (0 until keys.size).map(_ =>
      timeMs(assert(getPath(vport, s"/ann/topk/hot?vec=$qvec&k=5&nprobe=4") == 200)))
    // the hot ADC tier (round 17): same probe, code-shard scoring —
    // the replica-memory-optimal hot path (M ints per vector)
    getPath(vport, s"/ann/topk/pq/hot?vec=$qvec&k=5") // warm
    val annPqHotHttp = (0 until keys.size).map(_ =>
      timeMs(assert(getPath(vport, s"/ann/topk/pq/hot?vec=$qvec&k=5&nprobe=4") == 200)))
    val annExact = (0 until math.max(5, keys.size / 10)).map(_ =>
      timeMs(assert(getPath(vport, s"/ann/topk/exact?vec=$qvec&k=5") == 200)))
    vrest.stop()

    // PQ-reload cost, learn vs artifact (round 18): with the artifact
    // store enabled the first /ann/reload learns + persists pq_codes/
    // pq_codebook and the second reads them back — the measured delta is
    // what a fleet rollout saves per instance (one build, H readers)
    val astore = Files.createTempDirectory("graft-servbench-art").toString
    spark.conf.set("spark.graft.artifacts.dir", astore)
    spark.conf.set("spark.graft.artifacts.enabled", "true")
    val vrestA = new graft.streaming.VectorRestServing(spark, s"$sfDir/embeddings.parquet")
    val vportA = vrestA.start()
    graft.ops.Artifacts.invalidate(spark, s"$sfDir/embeddings.parquet",
      graft.ops.Similarity.VectorArtifacts.PqCodes,
      graft.ops.Similarity.VectorArtifacts.PqCodebook)
    // the coarse index too (round 19): its knob-versioned artifacts are
    // swept by prefix, so the BUILD reload below pays the full k-means +
    // codebook learn and the ARTIFACT reload reads both families back —
    // the measured delta is now the whole per-instance rebuild
    graft.ops.Artifacts.invalidateByPrefix(spark, s"$sfDir/embeddings.parquet",
      graft.ops.Similarity.VectorArtifacts.IvfCellsPrefix, "")
    graft.ops.Artifacts.invalidateByPrefix(spark, s"$sfDir/embeddings.parquet",
      graft.ops.Similarity.VectorArtifacts.IvfCentsPrefix, "")
    val annReloadBuildMs = timeMs(assert(getPath(vportA, "/ann/reload") == 200))
    val annReloadArtifactMs = timeMs(assert(getPath(vportA, "/ann/reload") == 200))
    vrestA.stop()
    spark.conf.set("spark.graft.artifacts.enabled", "false")

    // the SEARCH tier: term lookup + multi-term tf-idf over the t19
    // postings (round-12 addition)
    val srest = new graft.streaming.SearchRestServing(spark, s"$sfDir/documents.parquet")
    val sport = srest.start()
    // probe with the corpus's own highest-df terms (ADVICE r12: a
    // hardcoded literal crashes the bench on corpora not containing it)
    val probeTerms = srest.topTerms(3)
    val probe1 = probeTerms.head
    val probeQ = probeTerms.mkString("+")
    getPath(sport, s"/search/term?t=$probe1&k=10") // warm
    val termHttp = (0 until keys.size).map(_ =>
      timeMs(assert(getPath(sport, s"/search/term?t=$probe1&k=10") == 200)))
    getPath(sport, s"/search/term/hot?t=$probe1&k=10") // warm
    val termHotHttp = (0 until keys.size).map(_ =>
      timeMs(assert(getPath(sport, s"/search/term/hot?t=$probe1&k=10") == 200)))
    val searchHttp = (0 until keys.size).map(_ =>
      timeMs(assert(getPath(sport, s"/search?q=$probeQ&k=10") == 200)))
    // the HOT champion-list multi-term tier (round 18): the same query
    // scored over the in-process capped posting heads — zero Spark work
    // per request; measured beside the cold Spark-side /search it audits
    getPath(sport, s"/search/hot?q=$probeQ&k=10") // warm
    val searchHotHttp = (0 until keys.size).map(_ =>
      timeMs(assert(getPath(sport, s"/search/hot?q=$probeQ&k=10") == 200)))
    val searchHotBm25 = (0 until keys.size).map(_ =>
      timeMs(assert(getPath(sport, s"/search/hot?q=$probeQ&k=10&rank=bm25") == 200)))
    srest.stop()

    // the DEDUP tier: ingest-time membership checks against the corpus's
    // prepared signature/hash tables (round-13 addition); probe with a
    // real corpus text (exact path) and a novel one (near/new path —
    // signature job + bucket probe, the expensive branch)
    val drest = new graft.streaming.DedupRestServing(
      spark, s"$sfDir/documents.parquet")
    val dport = drest.start()
    val corpusText = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("text")).head.getString(0)
    def enc(t: String) = java.net.URLEncoder.encode(t, "UTF-8")
    getPath(dport, s"/dedup/check?text=${enc(corpusText)}") // warm
    val dedupExact = (0 until keys.size).map(_ => timeMs(
      assert(getPath(dport, s"/dedup/check?text=${enc(corpusText)}") == 200)))
    val dedupNovel = (0 until keys.size).map(i => timeMs(
      assert(getPath(dport,
        s"/dedup/check?text=${enc(s"wholly novel probe text number $i zxqv")}") == 200)))
    drest.stop()

    // FLEET SCATTER FLATNESS (VERDICT r16 wrong #2; r17 next #4 widens
    // the sweep to 8 instances and two more families): scatter latency
    // at 2 / 4 / 8 instances for the hot-ANN top-k, plus 2 / 8 points
    // for the KV top-k gather and the dedup near-probe scatter. The
    // coordinator fires all peer fetches concurrently
    // (HttpJsonServer.fetchAll) — p50 must stay ~flat in fleet size
    // where a sequential loop would grow linearly. Small synthetic
    // stores on purpose: per-request work is in-process microseconds
    // (ANN/dedup) or one pruned shard read (KV), so the numbers isolate
    // exactly the HTTP fan-out being claimed.
    import spark.implicits._
    val fleetTimes: Seq[(Int, Seq[Double])] = Seq(2, 4, 8).map { nInst =>
      val fpath = Files.createTempDirectory("graft-servbench-fleet").toString +
        "/emb.parquet"
      (0L until 2000L).map(i =>
        (i, (0 until 64).map(d => math.sin(i * 0.31 + d).toFloat)))
        .toDF("vec_id", "embedding").write.parquet(fpath)
      val fhosts = (0 until nInst).map(i => s"i$i")
      val insts = fhosts.map(h => new graft.streaming.VectorRestServing(
        if (h == fhosts.head) spark else spark.newSession(), fpath, 16, fhosts, h))
      val urls = fhosts.zip(insts).map { case (h, inst) =>
        h -> s"http://127.0.0.1:${inst.start(0, stride = 45, lloydIters = 1)}" }.toMap
      insts.foreach(_.peerUrls = urls)
      val fport = urls(fhosts.head).split(":").last.toInt
      def hotScatter(): Int =
        getPath(fport, s"/ann/topk/hot?vec=$qvec&k=5&nprobe=8")
      hotScatter() // warm
      val times = (0 until keys.size).map(_ => timeMs(assert(hotScatter() == 200)))
      insts.foreach(_.stop())
      nInst -> times
    }
    val fleetJson = fleetTimes.map { case (nI, t) =>
      s""""fleet_hot_scatter_${nI}":${stats(t)}""" }.mkString(",")
    val fleetByN = fleetTimes.toMap
    val fleetFlatness =
      p50(fleetByN(4)) / math.max(p50(fleetByN(2)), 0.001)
    val fleetFlatness8 =
      p50(fleetByN(8)) / math.max(p50(fleetByN(2)), 0.001)

    // KV top-k gather at 2 vs 8: each partial is the owner's pruned
    // shard read (cold tier, per-request fingerprint + scan), the
    // coordinator merges over HTTP
    val kvStore = Files.createTempDirectory("graft-servbench-kvfleet")
      .toString + "/store"
    Serving.writePartitionedStore(
      (0L until 20000L).map(k => (k, k * 3 % 7919)).toDF("k", "v"),
      "k", 16, kvStore)
    val kvFleet: Seq[(Int, Seq[Double], Seq[Double])] = Seq(2, 8).map { nInst =>
      val fhosts = (0 until nInst).map(i => s"k$i")
      val insts = fhosts.map(h => new graft.streaming.RestServing(
        if (h == fhosts.head) spark else spark.newSession(),
        kvStore, "k", 16, fhosts, h))
      val urls = fhosts.zip(insts).map { case (h, inst) =>
        h -> s"http://127.0.0.1:${inst.start()}" }.toMap
      insts.foreach(_.peerUrls = urls)
      val fport = urls(fhosts.head).split(":").last.toInt
      def gather(): Int = getPath(fport, "/state/topk?value=v&k=5")
      gather() // warm
      val times = (0 until keys.size).map(_ => timeMs(assert(gather() == 200)))
      // the HOT gather (VERDICT r18 next #1): per-owner in-process
      // partial top-k merged by the coordinator — the same chart from
      // the hot shard maps, no per-request Spark reads anywhere
      def gatherHot(): Int = getPath(fport, "/state/topk/hot?value=v&k=5")
      gatherHot() // warm
      val hotTimes = (0 until keys.size).map(_ =>
        timeMs(assert(gatherHot() == 200)))
      insts.foreach(_.stop())
      (nInst, times, hotTimes)
    }
    val kvFleetJson = kvFleet.map { case (nI, t, ht) =>
      s""""fleet_kv_topk_${nI}":${stats(t)},"fleet_kv_topk_hot_${nI}":${stats(ht)}"""
    }.mkString(",")
    val kvFlatness8 =
      p50(kvFleet.last._2) / math.max(p50(kvFleet.head._2), 0.001)
    val kvHotFlatness8 =
      p50(kvFleet.last._3) / math.max(p50(kvFleet.head._3), 0.001)

    // dedup near-probe scatter at 2 vs 8: a novel text's band keys fan
    // out to their owners, each answers from its in-process bucket shard
    val dedupCorpus = Files.createTempDirectory("graft-servbench-ddfleet")
      .toString + "/docs.parquet"
    (0L until 2000L).map(i =>
      (i, s"synthetic corpus document number $i with shared filler words " +
        s"alpha beta gamma delta ${i % 97}"))
      .toDF("doc_id", "text").write.parquet(dedupCorpus)
    val dedupFleet: Seq[(Int, Seq[Double])] = Seq(2, 8).map { nInst =>
      val fhosts = (0 until nInst).map(i => s"d$i")
      val insts = fhosts.map(h => new graft.streaming.DedupRestServing(
        if (h == fhosts.head) spark else spark.newSession(),
        dedupCorpus, 16, fhosts, h))
      val urls = fhosts.zip(insts).map { case (h, inst) =>
        h -> s"http://127.0.0.1:${inst.start()}" }.toMap
      insts.foreach(_.peerUrls = urls)
      val fport = urls(fhosts.head).split(":").last.toInt
      def nearProbe(i: Int): Int = getPath(fport,
        s"/dedup/check?text=${enc(s"wholly novel fleet probe text number $i zxqv")}")
      nearProbe(-1) // warm
      val times = (0 until keys.size).map(i => timeMs(assert(nearProbe(i) == 200)))
      insts.foreach(_.stop())
      nInst -> times
    }
    val dedupFleetJson = dedupFleet.map { case (nI, t) =>
      s""""fleet_dedup_near_${nI}":${stats(t)}""" }.mkString(",")
    val dedupFlatness8 =
      p50(dedupFleet.last._2) / math.max(p50(dedupFleet.head._2), 0.001)

    // close the calibration window (Bench's calib_sec_end discipline):
    // the ~ms hot-path numbers are maximally exposed to co-tenancy
    // bursts DURING the capture, which a start-only probe misses — a
    // clean calib_sec with a poisoned calib_sec_end (or vice versa)
    // flags the run as burst-contaminated
    val calibEnd = Calib.runRounded(spark)
    val loadEnd = load1
    println(
      f"""{"metric":"serving_latency","unit":"ms","store_rows":$nRows,"partitions":$parts,"routed":${stats(routed)},"unrouted":${stats(unrouted)},"http":${stats(http)},"hot_http":${stats(hotHttp)},"hot_topk_http":${stats(hotTopkHttp)},"hot_rps_c1":$hotRpsC1%.0f,"hot_rps_c8":$hotRpsC8%.0f,"hot_rps_failures":${hotRpsFailures.get()},"live_http":${stats(liveHttp)},"ann_http":${stats(annHttp)},"ann_hot_http":${stats(annHotHttp)},"ann_pq_hot_http":${stats(annPqHotHttp)},"ann_exact_http":${stats(annExact)},"ann_reload_build_ms":$annReloadBuildMs%.1f,"ann_reload_artifact_ms":$annReloadArtifactMs%.1f,"search_term_http":${stats(termHttp)},"search_term_hot_http":${stats(termHotHttp)},"search_tfidf_http":${stats(searchHttp)},"search_hot_http":${stats(searchHotHttp)},"search_hot_bm25_http":${stats(searchHotBm25)},"dedup_exact_http":${stats(dedupExact)},"dedup_novel_http":${stats(dedupNovel)},$fleetJson,$kvFleetJson,$dedupFleetJson,"fleet_p50_ratio_4v2":$fleetFlatness%.2f,"fleet_p50_ratio_8v2":$fleetFlatness8%.2f,"fleet_kv_p50_ratio_8v2":$kvFlatness8%.2f,"fleet_kv_hot_p50_ratio_8v2":$kvHotFlatness8%.2f,"fleet_dedup_p50_ratio_8v2":$dedupFlatness8%.2f,"batched_all_${keys.size}_ms":$batched%.1f,"scatter_topk_ms":$topk%.1f,"routing_speedup_p50":${p50(unrouted) / math.max(p50(routed), 0.001)}%.2f,"calib_sec":$calibStart,"calib_sec_end":$calibEnd,"calib_warning":${Calib.warning(calibStart) || Calib.warning(calibEnd)},"load1_start":$loadStart%.2f,"load1_end":$loadEnd%.2f,"load_warning":${loadStart > 4 || loadEnd > 12}}""")
    spark.stop()
    // BOTH probes gate the exit (ADVICE r18 #1): calib_sec_end already
    // rode in the JSON, but the exit path only enforced the start probe —
    // a run whose closing window was poisoned exited 0, weaker than the
    // stated capture-honesty contract. enforce is max-of-all.
    Calib.enforce(calibStart, calibEnd)
  }
}
