package graftbench

import java.io.{BufferedOutputStream, DataOutputStream, FileOutputStream}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.GraftSession
import graft.sources.{GraftLog, GraftLogCommitMessage, GraftLogCommitter, GraftLogOffset}
import graft.streaming.{LiveRestServing, RestServing, Serving, Sources, StreamOps}

/** Interactive queries over a live stream. A generator thread appends
  * events to a graftlog topic through graftlog's own commit path;
  * `Sources.readLog` → `StreamOps.latestPerKey` → `Sources.serveUpserted`
  * keeps `global_temp.iq_latest` current and `LiveRestServing` reads it,
  * while a `RestServing` hot tier serves a per-order lineitem rollup
  * beside it. Reads arrive open loop and are timed from when they were
  * due. A preloaded backlog is replayed first (catch-up); at the end the
  * stream is drained and the served view is compared with a batch
  * latest-per-key over the whole topic. */
object IqLive {
  val Partitions = 4
  val Users = 10000
  val ZipfS = 1.0
  val BacklogEvents = 400000
  val AppendsPerS = 10
  val EventsPerAppend = 200
  val HotPerS = 120.0
  val LivePerS = 2.0
  val HotThreads = 2
  val LiveThreads = 2
  val StorePartitions = 32
  val Bursts = 5
  val BurstEvents = 20000
  val View = "iq_latest"

  /** Zipf(s) over ranks 0 until n, sampled by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def sample(r: scala.util.Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** An append: its due time, when it was committed, and the offset
    * range it got on each partition. */
  final case class Append(dueMs: Double, startMs: Double, endMs: Double,
      ranges: Seq[(Int, Long, Long)])

  /** Appends events through graftlog's commit path: one staged file per
    * partition, committed with `GraftLogCommitter.commit`. This is the
    * only writer, so it tracks the offsets the commit assigns. */
  final class Generator(topic: Path, seed: Long) {
    private val rnd = new scala.util.Random(seed * 31 + 7)
    private val zipf = new Zipf(Users, ZipfS)
    private val next = Array.fill(Partitions)(0L)
    private var eventId = 0L
    val backlogUsers = mutable.HashSet.empty[Long]
    val types = Array("play", "skip", "like")

    def append(n: Int, dueMs: Double, trackUsers: Boolean): Append = {
      val start = Clock.nowMs
      val tsMicros = (start * 1000).toLong
      val staged = Files.createDirectories(topic.resolve("_staging"))
      val outs = mutable.LinkedHashMap.empty[Int, (Path, DataOutputStream, Array[Long])]
      (0 until n).foreach { _ =>
        val user = zipf.sample(rnd).toLong
        if (trackUsers) backlogUsers += user
        val key = user.toString.getBytes("UTF-8")
        val value = s"$eventId,${types(rnd.nextInt(3))},${rnd.nextInt(10000) / 10.0}".getBytes("UTF-8")
        eventId += 1
        val p = Math.floorMod(user.toString.hashCode, Partitions)
        val (_, out, cnt) = outs.getOrElseUpdate(p, {
          val f = staged.resolve(java.util.UUID.randomUUID().toString)
          (f, new DataOutputStream(new BufferedOutputStream(new FileOutputStream(f.toFile), 1 << 16)),
            Array(0L))
        })
        GraftLog.writeRecord(out, tsMicros, key, value)
        cnt(0) += 1
      }
      outs.values.foreach(_._2.close())
      val entries = outs.toSeq.map { case (p, (f, _, c)) => (topic.toString, p, f.toString, c(0)) }
      GraftLogCommitter.commit(Array(GraftLogCommitMessage(entries)), None)
      val ranges = outs.toSeq.map { case (p, (_, _, c)) =>
        val s = next(p); next(p) += c(0); (p, s, next(p))
      }
      Append(dueMs, start, Clock.nowMs, ranges)
    }

    def ends: Map[Int, Long] = next.zipWithIndex.map { case (o, p) => p -> o }.toMap
    def total: Long = next.sum
  }

  /** One open-loop request: when it was due, sent and answered. */
  final case class Req(kind: String, key: Long, dueMs: Double, var sentMs: Double = Double.NaN,
      var endMs: Double = Double.NaN, var status: Int = 0, var ok: Boolean = false)

  /** Open-loop arrivals at `perS` over `[t0, t0 + seconds)`: one in each
    * slot of `1 / perS`, at a uniform random point of its slot, so every
    * run sends the same number of requests. */
  def schedule(r: scala.util.Random, t0: Double, seconds: Int, perS: Double)(mk: Double => Req): IndexedSeq[Req] =
    (0 until math.round(seconds * perS).toInt).map(i => mk(t0 + (i + r.nextDouble()) * 1000 / perS))

  def sleepUntil(ms: Double): Unit = {
    var d = ms - Clock.nowMs
    while (d > 1) { Thread.sleep(math.min(d.toLong, 50L)); d = ms - Clock.nowMs }
    while (Clock.nowMs < ms) Thread.onSpinWait()
  }

  /** Runs `reqs` on `threads` senders, each taking the next due request. */
  def sendAll(reqs: IndexedSeq[Req], threads: Int, name: String)(send: Req => Unit): Seq[Thread] = {
    val nextI = new AtomicInteger(0)
    (0 until threads).map { i =>
      val t = new Thread(() => {
        var j = nextI.getAndIncrement()
        while (j < reqs.size) {
          val q = reqs(j)
          sleepUntil(q.dueMs)
          q.sentMs = Clock.nowMs
          try send(q) catch { case _: Throwable => q.ok = false }
          q.endMs = Clock.nowMs
          j = nextI.getAndIncrement()
        }
      }, s"$name-$i")
      t.setDaemon(true); t.start(); t
    }
  }

  def hotStore(spark: SparkSession, sf: String, path: String): Unit =
    Serving.writePartitionedStore(
      spark.read.parquet(s"$sf/lineitem.parquet").groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_lines"), sum(col("l_extendedprice")).as("total_value"),
          sort_array(collect_list(struct(col("l_linenumber"), col("l_partkey"),
            col("l_suppkey"), col("l_quantity"), col("l_extendedprice"), col("l_discount"),
            col("l_tax"), col("l_returnflag"), col("l_linestatus"), col("l_shipdate")))).as("lines")),
      "l_orderkey", StorePartitions, path)

  /** The topic's events in `StreamOps.Event` shape, streaming or batch. */
  def events(raw: DataFrame): DataFrame = {
    val f = split(col("value").cast("string"), ",")
    raw.select(f(0).cast("long").as("event_id"), col("ts"),
      col("key").cast("string").cast("long").as("user_id"),
      f(1).as("event_type"), f(2).cast("double").as("value"))
  }

  def apply(a: Main.Args): Report = {
    val r = new Report
    val tmp = Files.createTempDirectory(a.out, "iq-live-")
    val topic = tmp.resolve("topic")
    try run(a, r, tmp, topic, a.hotStore)
    finally deleteTree(tmp)
    r
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(f => Files.deleteIfExists(f))

  private def run(a: Main.Args, r: Report, tmp: Path, topic: Path, store: String): Unit = {
    val rnd = new scala.util.Random(a.seed)
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var phaseStart = Clock.nowMs
    def phase(name: String): Unit = {
      val now = Clock.nowMs; phases(name) = now - phaseStart; phaseStart = now
    }
    val spark = GraftSession.localStreaming(a.cores)
    val sessionMs = Report.sinceJvmStartMs()
    val sessionCpuMs = AppCpu.totalMs()
    phase("session")

    // preparation, excluded from set-up: the hot store's keys, the backlog
    val hotKeys = new scala.util.Random(a.seed)
      .shuffle(Files.readAllLines(Paths.get(a.hotKeys)).asScala.map(_.toLong).toIndexedSeq)
    phase("keys")
    Files.createDirectories(topic)
    val gen = new Generator(topic, a.seed)
    (0 until BacklogEvents / 50000).foreach(_ => gen.append(50000, Clock.nowMs, trackUsers = true))
    val backlog = gen.total
    phase("backlog")

    // set-up: process start to a ready session, plus both servers started
    val serversCpu0 = AppCpu.snapshot()
    val hot = new RestServing(spark, store, "l_orderkey", StorePartitions, Seq("127.0.0.1:0"))
    hot.start()
    val live = new LiveRestServing(spark, s"global_temp.$View", "user_id")
    live.start()
    phase("servers")
    val setupMs = sessionMs + phases("servers")
    val setupCpuMs = sessionCpuMs + AppCpu.sinceMs(serversCpu0)

    // catch-up: the query starts over the preloaded backlog
    val progress = new ProgressListener
    spark.streams.addListener(progress)
    val sched = new SchedListener
    if (a.trace) spark.sparkContext.addSparkListener(sched)
    val session = spark
    import session.implicits._
    val catchStart = Clock.nowMs
    // this thread only polls; the CPU measured is the stream's
    val self = Set(Thread.currentThread().getId)
    val catchCpu0 = AppCpu.snapshot()
    val q: StreamingQuery = Sources.serveUpserted(
        StreamOps.latestPerKey(events(Sources.readLog(spark, topic.toString))
          .as[StreamOps.Event]).toDF(), View, Seq("user_id"))
      .option("checkpointLocation", tmp.resolve("ck").toString)
      .start()
    def batches: IndexedSeq[(Long, Stats.BatchEnd, org.apache.spark.sql.streaming.StreamingQueryProgress)] =
      progress.all.filter(_.sources.nonEmpty).map { p =>
        val end = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble +
          p.durationMs.getOrDefault("triggerExecution", 0L).toDouble
        (p.batchId, Stats.BatchEnd(GraftLogOffset.fromJson(p.sources(0).endOffset).offsets, end), p)
      }.sortBy(_._1).toIndexedSeq
    def caughtUp(target: Map[Int, Long]) = batches.exists(b =>
      target.forall { case (p, o) => b._2.endOffsets.getOrElse(p, 0L) >= o })
    val deadline = Clock.nowMs + 90000
    while (!caughtUp(gen.ends) && q.isActive && Clock.nowMs < deadline) Thread.sleep(5)
    if (!caughtUp(gen.ends)) throw new IllegalStateException(
      s"catch-up did not finish: ${q.exception.map(_.getMessage).getOrElse("timed out")}")
    val catchEnd = batches.find(b => gen.ends.forall { case (p, o) =>
      b._2.endOffsets.getOrElse(p, 0L) >= o }).get._2.endMs
    val catchupS = (catchEnd - catchStart) / 1000
    val catchCpuMs = AppCpu.sinceMs(catchCpu0, self)
    phase("catchup")

    // live phase: generator, hot reads and live reads, all open loop
    val qel = new PlanPhases
    if (a.trace) spark.listenerManager.register(qel)
    val t0 = Clock.nowMs + 200
    val liveStart = t0
    val hotZipf = new Zipf(hotKeys.size, ZipfS)
    val userZipf = new Zipf(Users, ZipfS)
    val hotReqs = schedule(rnd, t0, a.seconds, HotPerS) { due =>
      if (rnd.nextInt(8) == 0) Req("topk", -1, due) else Req("hot", hotKeys(hotZipf.sample(rnd)), due)
    }
    val liveReqs = schedule(rnd, t0, a.seconds, LivePerS)(due => Req("live", userZipf.sample(rnd).toLong, due))
    val appendDue = (0 until a.seconds * AppendsPerS).map(i =>
      t0 + i * 1000.0 / AppendsPerS + rnd.nextDouble() * 20)
    val appends = mutable.ArrayBuffer.empty[Append]
    val genThread = new Thread(() => appendDue.foreach { due =>
      sleepUntil(due); appends += gen.append(EventsPerAppend, due, trackUsers = false)
    }, "iq-generator")
    genThread.setDaemon(true)

    val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
      .connectTimeout(java.time.Duration.ofSeconds(2)).build()
    def get(port: Int, path: String): HttpResponse[String] = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .timeout(java.time.Duration.ofSeconds(5)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    val hotPort = hot.port
    val livePort = live.port
    genThread.start()
    val senders = sendAll(hotReqs, HotThreads, "iq-hot") { q =>
      val resp = get(hotPort,
        if (q.kind == "topk") "/state/topk/hot?value=total_value&k=10" else s"/state/keyvalue/hot/${q.key}")
      q.status = resp.statusCode()
      q.ok = q.status == 200 && (if (q.kind == "topk") resp.body.startsWith("[")
        else resp.body.contains(s""""l_orderkey":${q.key}"""))
    } ++ sendAll(liveReqs, LiveThreads, "iq-live") { q =>
      val resp = get(livePort, s"/state/keyvalue/${q.key}")
      q.status = resp.statusCode()
      // a user first seen in the live phase may not be served yet
      q.ok = (q.status == 200 && resp.body.contains(s""""user_id":${q.key}""")) ||
        (q.status == 404 && !gen.backlogUsers.contains(q.key))
    }
    senders.foreach(_.join())
    genThread.join()
    val liveEnd = Clock.nowMs
    val liveEvents = gen.total - backlog
    phase("live")

    // warm bursts: with the readers and the generator stopped, each burst
    // is one append, measured until a finished batch covers it. The stream
    // may see an append's partitions in one batch or split over two, and a
    // batch's cost is mostly its fixed floor, so a burst counts per batch.
    def awaitCovered(what: String): Unit = {
      val until = Clock.nowMs + 60000
      while (!caughtUp(gen.ends) && q.isActive && Clock.nowMs < until) Thread.sleep(5)
      if (!caughtUp(gen.ends)) throw new IllegalStateException(
        s"$what did not finish: ${q.exception.map(_.getMessage).getOrElse("timed out")}")
    }
    awaitCovered("live phase")
    val bursts = (1 to Bursts).map { _ =>
      val last = batches.lastOption.fold(-1L)(_._1)
      val cpu0 = AppCpu.snapshot()
      val start = Clock.nowMs
      gen.append(BurstEvents, start, trackUsers = false)
      awaitCovered("burst")
      val cpuMs = AppCpu.sinceMs(cpu0, self)
      (cpuMs, Clock.nowMs - start, batches.count(b => b._1 > last && b._3.numInputRows > 0))
    }
    phase("bursts")

    // drain, then check the served view against a batch recomputation
    val drained = batches
    val expected = events(spark.read.format("graftlog").load(topic.toString))
      .groupBy(col("user_id"))
      .agg(max_by(struct(col("ts"), col("event_id"), col("event_type"), col("value")),
        struct(col("ts"), col("event_id"))).as("m"))
      .select(col("user_id"), col("m.ts").as("ts"), col("m.event_id").as("event_id"),
        col("m.event_type").as("event_type"), col("m.value").as("value"))
    val served = spark.table(s"global_temp.$View")
      .select("user_id", "ts", "event_id", "event_type", "value")
    // both sides are one row per user: compare them on the driver
    val want = expected.collect().map(_.toSeq).toSet
    val got = served.collect().map(_.toSeq)
    val missing = (want -- got).size
    val extra = got.count(r => !want.contains(r)) + (got.size - got.toSet.size)
    val streamFailed = q.exception.isDefined || progress.terminatedWith.exists(_.nonEmpty)
    q.stop()
    hot.stop(); live.stop()
    phase("drain_and_check")
    r.notes("phases_ms") = phases.map { case (k, v) => f"$k=$v%.0f" }.mkString(" ")
    if (a.trace) {
      spark.sparkContext.removeSparkListener(sched)
      spark.listenerManager.unregister(qel)
    }

    // ---- accounting ---------------------------------------------------
    val reqs = hotReqs ++ liveReqs
    val liveBatches = drained.filter(b => b._3.numInputRows > 0)
    r.attempted = reqs.size + appends.size + liveBatches.size + 1
    reqs.filterNot(_.ok).foreach(q => r.fail(s"${q.kind} ${q.key}: status ${q.status}"))
    if (streamFailed) r.fail(s"stream query failed: ${q.exception.map(_.getMessage).getOrElse("")}")
    if (missing + extra > 0) r.fail(s"served view differs from batch latest-per-key: $missing missing, $extra extra")
    if (gen.ends != GraftLog.endOffsets(topic)) r.fail(s"topic end offsets ${GraftLog.endOffsets(topic)} != appended ${gen.ends}")

    val batchEnds = drained.map(_._2)
    val fresh = appends.toSeq.map(ap => Stats.freshness(batchEnds, ap.ranges, ap.dueMs))
    val freshMs = fresh.flatMap(_._1)
    if (fresh.map(_._2).sum > 0) r.fail(s"${fresh.map(_._2).sum} events never served")
    def lat(k: String) = reqs.filter(q => q.kind == k && q.ok).map(q => q.endMs - q.dueMs)
    val hotMs = lat("hot") ++ lat("topk")
    val liveMs = lat("live")
    val late = Stats.lateness(reqs.map(_.dueMs), reqs.map(_.sentMs))

    r.metrics("setup_s") = setupCpuMs / 1000
    r.notes("setup_wall_s") = setupMs / 1000
    r.metrics("cold_cpu_s") = catchCpuMs / 1000
    r.metrics("warm_cpu_s") = Stats.median(bursts.map(b => b._1 / math.max(1, b._3))) / 1000
    r.notes("catchup_s") = catchupS
    r.notes("bursts_cpu_wall_ms_batches") =
      bursts.map { case (c, w, n) => f"$c%.0f/$w%.0f/$n" }.mkString(" ")
    r.notes("rss_peak_mb") = Report.rssPeakMb()

    val details = mutable.LinkedHashMap[String, Double](
      "stream.catchup_rows_per_s" -> backlog / catchupS,
      "stream.freshness_p95_ms" -> Stats.quantile(freshMs, 0.95).getOrElse(Double.NaN),
      "serve.hot_read_p50_ms" -> Stats.quantile(hotMs, 0.5).getOrElse(Double.NaN),
      "serve.hot_read_p99_ms" -> Stats.quantile(hotMs, 0.99).getOrElse(Double.NaN),
      "serve.live_read_p50_ms" -> Stats.quantile(liveMs, 0.5).getOrElse(Double.NaN),
      "serve.requests" -> reqs.size.toDouble,
      "serve.errors" -> reqs.count(!_.ok).toDouble,
      "serve.sender_late_ms" -> Stats.quantile(late, 0.99).getOrElse(Double.NaN))
    details.foreach { case (k, v) => r.notes(k) = v }
    r.notes("backlog_events") = backlog
    r.notes("live_events") = liveEvents
    r.notes("hot_reads") = hotMs.size
    r.notes("live_reads") = liveMs.size
    r.notes("freshness_p50_ms") = Stats.quantile(freshMs, 0.5).getOrElse(Double.NaN)
    r.notes("freshness_mean_ms") = freshMs.sum / math.max(1, freshMs.size)
    r.notes("live_batch_mean_ms") = {
      val bs = drained.filter(b => b._2.endMs >= liveStart && b._2.endMs <= liveEnd && b._3.numInputRows > 0)
        .map(_._3.durationMs.getOrDefault("triggerExecution", 0L).toDouble)
      bs.sum / math.max(1, bs.size)
    }

    if (a.trace) {
      Layers.all.foreach(k => r.metrics(k) = 0.0)
      details.foreach { case (k, v) => r.metrics(k) = v }
      val inLive = drained.filter(b => b._2.endMs >= liveStart && b._2.endMs <= liveEnd && b._3.numInputRows > 0)
      def mean(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double) =
        if (inLive.isEmpty) 0.0 else inLive.map(b => f(b._3)).sum / inLive.size
      def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
        p.durationMs.getOrDefault(k, 0L).toDouble
      r.metrics("stream.batches") = inLive.size
      r.metrics("stream.batch_ms") = mean(dur(_, "triggerExecution"))
      r.metrics("stream.addbatch_ms") = mean(dur(_, "addBatch"))
      r.metrics("stream.planning_ms") = mean(dur(_, "queryPlanning"))
      r.metrics("stream.walcommit_ms") = mean(dur(_, "walCommit"))
      r.metrics("stream.commitoffsets_ms") = mean(dur(_, "commitOffsets"))
      r.metrics("stream.rows_per_batch") = mean(_.numInputRows.toDouble)
      r.metrics("stream.state_commit_ms") = mean(p => p.stateOperators.map(_.commitTimeMs).sum.toDouble)
      inLive.lastOption.foreach { b =>
        r.metrics("stream.state_rows") = b._3.stateOperators.map(_.numRowsTotal).sum.toDouble
        r.metrics("stream.state_bytes") = b._3.stateOperators.map(_.memoryUsedBytes).sum.toDouble
      }
      r.metrics("graftlog.getbatch_ms") = mean(p => dur(p, "getBatch") + dur(p, "latestOffset"))
      r.metrics("graftlog.append_ms") =
        if (appends.isEmpty) 0.0 else appends.map(ap => ap.endMs - ap.startMs).sum / appends.size
      // rows appended but not yet in a finished batch, seen at each batch end
      r.metrics("graftlog.lag_rows_max") = inLive.map { b =>
        val appended = appends.filter(_.endMs <= b._2.endMs).flatMap(_.ranges)
          .groupBy(_._1).map { case (p, rs) => p -> rs.map(_._3).max }
        appended.map { case (p, o) => math.max(0L, o - b._2.endOffsets.getOrElse(p, 0L)) }.sum.toDouble
      }.maxOption.getOrElse(0.0)
      awaitListener(sched)
      SchedTotals(sched, liveStart, liveEnd, a.cores).foreach { case (k, v) => r.metrics(k) = v }
      val servingJobs = SchedTotals(sched, liveStart, liveEnd, a.cores, _.streamingQuery.isEmpty)("sched.jobs")
      r.metrics("serve.jobs_per_live_read") = if (liveReqs.isEmpty) 0.0 else servingJobs / liveReqs.size
      qel.totals.foreach { case (k, v) => r.metrics(k) = v }
      val batchSpans = drained.map { case (id, b, p) =>
        Span("batch", b.endMs - p.durationMs.getOrDefault("triggerExecution", 0L), b.endMs,
          Map("batch" -> id.toString, "rows" -> p.numInputRows.toString))
      }
      r.detail("spans.json", Layers.spansJson(batchSpans ++ Layers.schedSpans(sched)))
    }
    r.detail("requests.csv", ("kind,key,due_ms,sent_ms,end_ms,status,ok" +: reqs.map(q =>
      f"${q.kind},${q.key},${q.dueMs}%.3f,${q.sentMs}%.3f,${q.endMs}%.3f,${q.status},${q.ok}"))
      .mkString("\n") + "\n")
    r.detail("batches.csv", ("batch,end_ms,rows,trigger_ms" +: drained.map(b =>
      f"${b._1},${b._2.endMs}%.0f,${b._3.numInputRows},${b._3.durationMs.getOrDefault("triggerExecution", 0L)}"))
      .mkString("\n") + "\n")
  }

  def awaitListener(l: SchedListener): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (System.nanoTime() < deadline && l.snapshot._1.exists(_.end.isNaN)) Thread.sleep(5)
  }
}

/** Plan phases of the serving session's own queries (the live reads),
  * from Spark's public query execution listener. Registered after the
  * stream starts, so the stream's cloned session does not inherit it. */
final class PlanPhases extends org.apache.spark.sql.util.QueryExecutionListener {
  private val sums = mutable.LinkedHashMap.empty[String, Double]
  override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
      durationNs: Long): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, s) =>
      sums(s"plan.${phase}_ms") = sums.getOrElse(s"plan.${phase}_ms", 0.0) + s.durationMs
    }
    Catalog.planCounts(qe.executedPlan).foreach { case (k, v) => sums(k) = sums.getOrElse(k, 0.0) + v }
  }
  override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
      exception: Exception): Unit = ()
  def totals: Map[String, Double] = synchronized(sums.toMap)
}
