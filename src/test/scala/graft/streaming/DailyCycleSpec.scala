package graft.streaming

import graft.{SparkSpec, Tables}
import graft.ops.{Artifacts, Composites, Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.nio.file.Files
import java.sql.Timestamp

/** THE DAILY-CYCLE CAPSTONE (VERDICT r16 missing #2 / next #1) — the
  * repo's `EndToEndTest.java:184-193` analog for the ingest/serving
  * lifecycle: every link of the round-13→16 chain has its own golden,
  * but until this spec nothing proved they compose AS ONE RUNNING
  * SYSTEM. One test, one storyline:
  *
  *   day 0  — standing corpus serves: trainer shards persisted, a
  *            2-instance federated serving fleet (dedup-check + hot
  *            ANN) answers from it, and FOUR streaming ingest
  *            pipelines (delta-dedup gate, LM quality gate, mixture
  *            gate, index cell assignment) run against its frozen
  *            artifacts;
  *   day 1  — a delta batch arrives THROUGH the running streams, the
  *            corpus absorbs it (the daily merge), the incremental
  *            shard refresh (c20) packs only the delta — standing
  *            shard files byte-unchanged — and the drift decision
  *            trips on the shifted embedding batch; the mixture gate
  *            admits/drops every delta doc by the FROZEN day-0 rates
  *            (an unseen source drops by default), and the rates
  *            rebuilt at the refresh flip that source to admitted;
  *   rollout— instances reload one at a time: the mid-rollout scatter
  *            is DETECTABLY mixed-generation (the r16 stamp), the
  *            fleet endpoints complete it to one uniform generation,
  *            serving answers flip from stale to fresh byte-identically
  *            on both instances, every request during the rollout is
  *            answered (zero dropped), and the streams never stop.
  *
  * In-process multi-instance (two SparkSessions + real HTTP), the
  * ServingSpec convention — the cross-process form of the ORDER
  * pipeline lives in CrossProcessChoreographySpec; this capstone's
  * value is the lifecycle composition, bounded to one suite-friendly
  * test. */
class DailyCycleSpec extends SparkSpec {

  private def ts(ms: Long) = new Timestamp(ms)

  test("DAILY CYCLE: streaming ingest + batch delta refresh + drift retrain + " +
      "generation-stamped fleet reload compose as one running system — " +
      "stale→fresh serving flips, standing shards byte-unchanged, zero " +
      "dropped requests, streams never stop") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    val client = HttpClient.newHttpClient()
    // every HTTP exchange in the test goes through here: the zero-
    // dropped-requests ledger (a rollout must never refuse an answer)
    var requests = 0
    var unanswered = 0
    def getR(url: String): HttpResponse[String] = {
      requests += 1
      val r = client.send(HttpRequest.newBuilder(java.net.URI.create(url))
        .GET().build(), HttpResponse.BodyHandlers.ofString())
      if (r.statusCode() >= 500 || r.statusCode() == 0) unanswered += 1
      r
    }
    def gen(r: HttpResponse[String]): String =
      r.headers().firstValue("X-Graft-Generation").orElse("")
    def mixedFlag(r: HttpResponse[String]): String =
      r.headers().firstValue("X-Graft-Mixed-Generation").orElse("")

    // ---- the corpus this system serves: a tmp dir rewritten mid-test
    val day = Files.createTempDirectory("graft-daily").toString
    val docPath = s"$day/documents.parquet"
    val embPath = s"$day/embeddings.parquet"
    val allDocs = Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val cut = math.floor(allDocs.length * 0.9).toLong
    val standing = allDocs.filter(_._1 < cut)
    // full document schema (the funnel reads lang etc.), standing rows only
    Tables.documents(spark, sf001).filter(col("doc_id") < cut)
      .write.parquet(docPath)
    // embeddings: the drift spec's planted geometry — a two-cluster
    // standing body; the delta batch is near-orthogonal to both, so the
    // drift decision MUST trip after absorb (ArtifactsSpec pins the
    // decision itself; here it drives the lifecycle)
    val rnd = new scala.util.Random(7)
    def clusterVec(i: Long): Seq[Float] = {
      val c = if (i % 2 == 0) 1.0f else -1.0f
      Seq.fill(64)(c + rnd.nextGaussian().toFloat * 0.05f)
    }
    val body = (0L until 180L).map(i => (i, clusterVec(i)))
    def tailVec(i: Long): Seq[Float] = (0 until 64).map(d =>
      (if (d % 2 == 0) 1.0f else -1.0f) * (1.0f + (i % 7) * 0.01f))
    val driftTail = (180L until 200L).map(i => (i, tailVec(i)))
    body.toDF("vec_id", "embedding").write.parquet(embPath)

    // expected delta verdicts, from the INDEPENDENT batch d16 over the
    // identical standing convention (sf0.001's dense 90% cut)
    val batchVerdicts = Dedup.deltaDedup(spark, sf001).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val novel = allDocs.filter { case (id, _) =>
      id >= cut && batchVerdicts.get(id).contains("new") }.head
    val dupDoc = allDocs.filter { case (id, _) =>
      id >= cut && !batchVerdicts.get(id).contains("new") }.headOption

    val tmpStore = Files.createTempDirectory("graft-daily-store").toString
    spark.conf.set("spark.graft.artifacts.dir", tmpStore)
    spark.conf.set("spark.graft.artifacts.enabled", "true")

    val hosts = Seq("instance-a", "instance-b")
    val sparkB = spark.newSession()
    sparkB.conf.set("spark.graft.artifacts.dir", tmpStore)
    sparkB.conf.set("spark.graft.artifacts.enabled", "true")
    val dedupA = new DedupRestServing(spark, docPath, 4, hosts, "instance-a")
    val dedupB = new DedupRestServing(sparkB, docPath, 4, hosts, "instance-b")
    val vecA = new VectorRestServing(spark, embPath, 8, hosts, "instance-a")
    val vecB = new VectorRestServing(sparkB, embPath, 8, hosts, "instance-b")
    var queries = Seq.empty[org.apache.spark.sql.streaming.StreamingQuery]
    try {
      // ================= DAY 0 =================
      // standing trainer shards persisted ONCE (the c18 artifact a
      // loader mounts); snapshot every shard byte for the
      // refresh-must-not-touch-them proof
      val standingReport = Composites.trainerShards(spark, day).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      assert(standingReport.nonEmpty)
      val standingMaxBin = standingReport.map(_._1).max
      val shardRoot = new java.io.File(Artifacts.path(spark, day, "trainer_shards"))
      def shardSnapshot: Map[String, String] = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
        walk(shardRoot).map { f =>
          f.getPath -> java.security.MessageDigest.getInstance("MD5")
            .digest(java.nio.file.Files.readAllBytes(f.toPath))
            .map("%02x".format(_)).mkString
        }.toMap
      }
      val day0Shards = shardSnapshot
      assert(day0Shards.nonEmpty)

      // the serving fleet comes up on the standing corpus
      val dUrls = Map(
        "instance-a" -> s"http://127.0.0.1:${dedupA.start()}",
        "instance-b" -> s"http://127.0.0.1:${dedupB.start()}")
      dedupA.peerUrls = dUrls; dedupB.peerUrls = dUrls
      val vUrls = Map(
        "instance-a" -> s"http://127.0.0.1:${vecA.start(0, stride = 14, lloydIters = 1)}",
        "instance-b" -> s"http://127.0.0.1:${vecB.start(0, stride = 14, lloydIters = 1)}")
      vecA.peerUrls = vUrls; vecB.peerUrls = vUrls
      def dedupCheck(via: String, text: String): HttpResponse[String] =
        getR(s"${dUrls(via)}/dedup/check?text=" +
          java.net.URLEncoder.encode(text, "UTF-8"))
      val queryVec = (0 until 64).map(d => if (d % 2 == 0) 1.0 else -1.0)
      def annTop(via: String): HttpResponse[String] =
        getR(s"${vUrls(via)}/ann/topk/hot?vec=${queryVec.mkString(",")}&k=3&nprobe=4")
      def idsOf(r: HttpResponse[String]): Seq[Long] =
        "\"vec_id\":(\\d+)".r.findAllMatchIn(r.body()).map(_.group(1).toLong).toSeq

      // day-0 truth: the novel batch doc is NOT in the corpus, the delta
      // embeddings are NOT in the index, generations are uniform
      val g0dedup = gen(dedupCheck("instance-a", novel._2))
      hosts.foreach { via =>
        val r = dedupCheck(via, novel._2)
        assert(r.body().contains("\"verdict\":\"new\""), s"day-0 $via: ${r.body()}")
      }
      val day0Ann = annTop("instance-a")
      assert(idsOf(day0Ann).forall(_ < 180L),
        s"day-0 top-k must predate the delta: ${day0Ann.body()}")
      assert(mixedFlag(day0Ann) === "", "uniform day-0 fleet")

      // the three streaming ingest pipelines, running for the whole test
      // against the standing corpus's FROZEN artifacts
      val corpusDocsDf = standing.toSeq.toDF("doc_id", "text")
      val sig = Dedup.minhashSigFrameOf(corpusDocsDf)
        .select(col("doc_id").as("c_id"),
          array((0 until Dedup.NumPerms).map(i => col(s"mh$i")): _*).as("c_sig"))
        .localCheckpoint()
      val banded = sig
        .select(col("c_id"), col("c_sig"),
          explode(Dedup.bandBuckets(col("c_sig"))).as("bb"))
        .select(col("bb.band").as("band"), col("bb.bucket").as("bucket"),
          col("c_id"), col("c_sig"))
        .localCheckpoint()
      val hashes = corpusDocsDf
        .groupBy(md5(col("text")).as("ch"))
        .agg(min(col("doc_id")).as("exact_partner"))
        .localCheckpoint()
      val lm = TextAnalysis.lmModel(corpusDocsDf)
      // the FROZEN day-0 mixture rates (t30's totals-grain artifact):
      // rebuilt only at the refresh — until then every ingest decision
      // is against THIS table
      val rates0 = TextAnalysis.alphaRatesFrame(
        spark.read.parquet(docPath).select(col("source"), col("text")),
        TextAnalysis.MixtureAlpha).localCheckpoint()
      val ratePpm0 = rates0.collect()
        .map(r => r.getString(0) -> r.getLong(2)).toMap
      val standingEmb = body.toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding"),
          Similarity.l2norm(col("embedding")).as("norm"))
      val (_, cents) = Similarity.ivfIndex(standingEmb, 14, 1)
      val centsCk = cents.localCheckpoint()

      val inDocs = MemoryStream[StreamOps.DocStreamEvent]
      val inLm = MemoryStream[StreamOps.DocStreamEvent]
      val inVecs = MemoryStream[StreamOps.VecEvent]
      val inMix = MemoryStream[StreamOps.SourcedDocEvent]
      val qDelta = StreamOps.deltaDedupStream(inDocs.toDS(), banded, hashes)
        .writeStream.format("memory").queryName("cycle_delta")
        .outputMode(OutputMode.Update()).start()
      val qLm = StreamOps.lmQualityStream(inLm.toDS(), lm)
        .writeStream.format("memory").queryName("cycle_lm")
        .outputMode(OutputMode.Update()).start()
      val qCells = StreamOps.cellAssignStream(inVecs.toDS(), centsCk)
        .writeStream.format("memory").queryName("cycle_cells")
        .outputMode(OutputMode.Update()).start()
      // the FOURTH ingest gate (VERDICT r17 next #3): t30's sampling
      // decision at ingest, against the frozen day-0 rates
      val qMix = StreamOps.mixtureGateStream(inMix.toDS(), rates0)
        .writeStream.format("memory").queryName("cycle_mix")
        .outputMode(OutputMode.Append()).start()
      queries = Seq(qDelta, qLm, qCells, qMix)

      // ================= DAY 1: the delta arrives THROUGH the streams =====
      val delta = allDocs.filter(_._1 >= cut)
      val deltaSrc = Tables.documents(spark, sf001).filter(col("doc_id") >= cut)
        .select(col("doc_id"), col("source"), col("text")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      inDocs.addData(delta.map { case (id, t) =>
        StreamOps.DocStreamEvent(id, ts(id * 10), t) }.toIndexedSeq: _*)
      inLm.addData(delta.map { case (id, t) =>
        StreamOps.DocStreamEvent(id, ts(id * 10), t) }.toIndexedSeq: _*)
      inVecs.addData(driftTail.map { case (id, e) =>
        StreamOps.VecEvent(id, ts(id * 10), e.map(_.toDouble)) }.toIndexedSeq: _*)
      inMix.addData(deltaSrc.map { case (id, src, t) =>
        StreamOps.SourcedDocEvent(id, ts(id * 10), src, t) }.toIndexedSeq: _*)
      // a source the frozen day-0 rates have never budgeted: the gate's
      // ingest-safe default is DROP — until the refresh rebuilds rates
      inMix.addData(StreamOps.SourcedDocEvent(910001L, ts(9100010L),
        "crawl-zz", "zz wholly novel crawl feed document"))
      queries.foreach(_.processAllAvailable())
      // the ingest gate's verdicts EQUAL the batch d16's (the parity the
      // StreamOps golden pins per-query; here it holds inside the cycle)
      val streamVerdicts = spark.table("cycle_delta").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(streamVerdicts === batchVerdicts,
        "streaming gate must agree with batch d16 on the whole delta")
      assert(spark.table("cycle_lm").count() === delta.length.toLong)
      assert(spark.table("cycle_cells").count() === driftTail.length.toLong)
      // the mixture gate decided every delta doc by the FROZEN rates —
      // per-doc parity with the t30 md5-bucket rule, recomputed
      // independently here — and dropped the unbudgeted source
      val mixGot = spark.table("cycle_mix").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSeq
      assert(mixGot.length === deltaSrc.length + 1,
        "every mixture event decided exactly once")
      val textOf = deltaSrc.map(r => r._1 -> r._3).toMap
      mixGot.filter(_._1 != 910001L).foreach { case (id, src, keep) =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(textOf(id).getBytes("UTF-8")).take(2)
          .map("%02x".format(_)).mkString
        val bucket = java.lang.Long.parseLong(hex, 16)
        val expected = ratePpm0.get(src)
          .exists(r => bucket * 1000000L < r * 65536L)
        assert(keep === expected, s"mixture gate doc $id ($src)")
      }
      assert(mixGot.find(_._1 == 910001L).exists(_._3 === false),
        "an unbudgeted source must drop against the frozen rates")

      // the corpus ABSORBS the delta (the daily merge): docs + embeddings
      // rewritten in place; session memos for the mutated dir dropped
      // (artifact staleness is fingerprint-automatic, memos are not)
      Tables.documents(spark, sf001)
        .write.mode("overwrite").parquet(docPath)
      (body ++ driftTail).toDF("vec_id", "embedding")
        .write.mode("overwrite").parquet(embPath)
      Composites.invalidateSurvivors()
      TextAnalysis.invalidateStatsMemos()
      TextAnalysis.invalidateBpeMerges()
      TextAnalysis.invalidateBpeEncoded()
      TextAnalysis.invalidateBpeRendered()
      TextAnalysis.invalidateTokenIdArrays()
      Dedup.invalidateLabels()
      Dedup.invalidateSimhashPairs()
      Dedup.invalidateLshPairs()
      Dedup.invalidateDeltaVerdicts()
      Dedup.invalidateSpans()

      // ================= REFRESH: c20 + drift =================
      // the incremental shard refresh packs ONLY the delta, strictly
      // after the standing pack — and not one standing shard byte moves
      val deltaReport = Composites.deltaShards(spark, day).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      assert(deltaReport.nonEmpty, "the delta must ship new shards")
      assert(shardSnapshot === day0Shards,
        "the refresh must never rewrite a standing shard file")
      // the append boundary, computed the c20 way (the standing pack
      // under the ABSORBED corpus's gates — corpus-relative quantile
      // thresholds shift slightly when the delta joins the stats base,
      // which is why the boundary is v2's standing max, not day 0's)
      val encDf = TextAnalysis.bpeEncodedMemo(spark, day)
        .select(col("doc_id"), col("bpe_tokens").cast("long").as("n"))
      val standingMaxV2 = TextAnalysis.packedBins(
          Composites.prepSurvivorsMemo(spark, day).select("doc_id")
            .join(encDf, Seq("doc_id"))
            .filter(col("doc_id") < cut).select(col("doc_id"), col("n")))
        .agg(max(col("bin"))).head.getLong(0)
      assert(deltaReport.map(_._1).min === standingMaxV2 + 1,
        "delta bins must land strictly after the standing pack")
      assert(standingMaxV2 === standingMaxBin ||
        (standingMaxV2 - standingMaxBin).abs <= 1,
        "the standing pack boundary must stay at the day-0 scale")
      // the drift decision TRIPS on the shifted embedding batch — the
      // signal that makes the rollout necessary rather than ornamental
      assert(Similarity.retrainOnDrift(spark, day),
        "the near-orthogonal delta must trip the retrain decision")

      // ================= ROLLOUT: one instance at a time =================
      // serving is STALE but answering (the hot tiers still serve day 0)
      assert(dedupCheck("instance-a", novel._2).body()
        .contains("\"verdict\":\"new\""), "stale-before-reload is real")
      // instance-a reloads first: the mid-rollout window — a scatter now
      // merges two generations and SAYS SO (the r16 silent gap, closed)
      assert(getR(s"${vUrls("instance-a")}/ann/reload").statusCode() === 200)
      val mid = annTop("instance-a")
      assert(mid.statusCode() === 200, "mid-rollout requests must be answered")
      assert(mixedFlag(mid) === "true",
        "a mid-rollout scatter must be detectably mixed")
      // live traffic INSIDE the rollout window: every request on every
      // instance keeps being answered (the zero-dropped contract is
      // about exactly this interval)
      (1 to 3).foreach { _ =>
        hosts.foreach { via =>
          assert(annTop(via).statusCode() === 200)
          assert(dedupCheck(via, novel._2).statusCode() === 200)
        }
      }
      // the fleet endpoints complete the rollout (vector: b + a already
      // done; dedup: both) and report ONE uniform generation per family
      val vAll = getR(s"${vUrls("instance-b")}/ann/reload/all")
      assert(vAll.statusCode() === 200 && vAll.body().contains("\"uniform\":true"),
        vAll.body())
      val dAll = getR(s"${dUrls("instance-a")}/dedup/reload/all")
      assert(dAll.statusCode() === 200 && dAll.body().contains("\"uniform\":true"),
        dAll.body())
      // ================= FRESH: both instances, byte-identically =========
      val gDoc2 = Artifacts.fingerprint(spark, docPath)
      val gEmb2 = Artifacts.fingerprint(spark, embPath)
      assert(gDoc2 !== g0dedup, "the absorb must have changed the generation")
      val fresh = hosts.map { via =>
        val r = dedupCheck(via, novel._2)
        assert(r.body().contains("\"verdict\":\"exact\"") &&
          r.body().contains(s""""partner":${novel._1}"""),
          s"absorbed doc must verdict exact with itself via $via: ${r.body()}")
        assert(gen(r) === gDoc2, s"fresh stamp via $via")
        r.body()
      }
      assert(fresh.distinct.size === 1, "byte-identical across instances")
      dupDoc.foreach { case (id, text) =>
        val v = batchVerdicts(id)
        hosts.foreach { via =>
          val r = dedupCheck(via, text)
          // a day-1 dup keeps its batch-tier verdict class after absorb
          // (exact stays exact; a near dup may ALSO be exact now that its
          // own row is in the corpus — d16 semantics: exact wins)
          if (v == "exact")
            assert(r.body().contains("\"verdict\":\"exact\""), r.body())
          else assert(!r.body().contains("\"verdict\":\"new\""), r.body())
        }
      }
      hosts.foreach { via =>
        val r = annTop(via)
        assert(idsOf(r).forall(_ >= 180L),
          s"post-rollout top-k must surface the delta vectors via $via: ${r.body()}")
        assert(mixedFlag(r) === "", "completed rollout must be uniform")
        assert(gen(r) === gEmb2)
      }
      // the hot ADC tier rolled out with the same generation: the code
      // shards answer identically through either coordinator and carry
      // the uniform post-rollout stamp (rank content is the PQ tier's
      // own approximation — parity and generation are the contract here)
      val pqBodies = hosts.map { via =>
        val r = getR(s"${vUrls(via)}/ann/topk/pq/hot?vec=${
          queryVec.mkString(",")}&k=3&nprobe=4")
        assert(r.statusCode() === 200, r.body())
        assert(mixedFlag(r) === "" && gen(r) === gEmb2, s"ADC stamp via $via")
        r.body()
      }
      assert(pqBodies.distinct.size === 1,
        "ADC scatter must be byte-identical across coordinators")

      // ================= DAY 2: the streams never stopped ================
      assert(queries.forall(_.isActive), "ingest must run through the rollout")
      inDocs.addData(StreamOps.DocStreamEvent(900001L, ts(9000010L), novel._2))
      inLm.addData(StreamOps.DocStreamEvent(900001L, ts(9000010L), "day two text"))
      inVecs.addData(StreamOps.VecEvent(900001L, ts(9000010L),
        queryVec.map(identity)))
      queries.foreach(_.processAllAvailable())
      // the day-2 doc is an exact copy of the novel doc — but the stream
      // gate still checks against its FROZEN day-0 artifacts (verdict
      // 'new'), which is exactly the staleness the reload closed on the
      // SERVING side: the serving tier answers 'exact' for the same text
      assert(spark.table("cycle_delta").collect()
        .exists(r => r.getLong(0) == 900001L), "day-2 doc flowed through")
      assert(spark.table("cycle_lm").collect()
        .exists(r => r.getLong(0) == 900001L))
      assert(spark.table("cycle_cells").collect()
        .exists(r => r.getLong(0) == 900001L))

      // ================= RATES REFRESH: the drop-to-admit flip ==========
      // the crawl-zz feed is absorbed into the corpus (full schema —
      // template rows re-sourced, unique gibberish text) and the mixture
      // rates are REBUILT; the refreshed gate admits the source the
      // frozen day-0 rates dropped. As the corpus's smallest source its
      // rate is exactly 1 (rate = (T_min/T_s)^(1-α) with T_s = T_min),
      // so the flip is deterministic, not a bucket coincidence.
      Tables.documents(spark, sf001).filter(col("doc_id") < 3)
        .withColumn("doc_id", col("doc_id") + lit(920000L))
        .withColumn("source", lit("crawl-zz"))
        .withColumn("text",
          concat(lit("zz novel crawl feed entry "), col("doc_id")))
        .write.mode("append").parquet(docPath)
      val rates1 = TextAnalysis.alphaRatesFrame(
        spark.read.parquet(docPath).select(col("source"), col("text")),
        TextAnalysis.MixtureAlpha).localCheckpoint()
      assert(rates1.filter(col("source") === "crawl-zz").count() === 1L,
        "the rebuilt rates must budget the absorbed source")
      val inMix2 = MemoryStream[StreamOps.SourcedDocEvent]
      val qMix2 = StreamOps.mixtureGateStream(inMix2.toDS(), rates1)
        .writeStream.format("memory").queryName("cycle_mix2")
        .outputMode(OutputMode.Append()).start()
      queries = queries :+ qMix2
      inMix2.addData(StreamOps.SourcedDocEvent(910002L, ts(9100020L),
        "crawl-zz", "zz wholly novel crawl feed document"))
      qMix2.processAllAvailable()
      assert(spark.table("cycle_mix2").collect()
        .find(_.getLong(0) == 910002L).exists(_.getBoolean(2)),
        "the refreshed rates must flip the absorbed source to admitted")

      // ================= the ledger =================
      assert(requests > 20, s"the capstone must exercise real traffic: $requests")
      assert(unanswered === 0,
        s"zero dropped requests across the rollout: $unanswered/$requests failed")
    } finally {
      queries.foreach(quiesceAndStop)
      dedupA.stop(); dedupB.stop(); vecA.stop(); vecB.stop()
      spark.conf.set("spark.graft.artifacts.enabled", "false")
      sparkB.conf.set("spark.graft.artifacts.enabled", "false")
      Composites.invalidateSurvivors()
      TextAnalysis.invalidateStatsMemos()
      TextAnalysis.invalidateBpeMerges()
      TextAnalysis.invalidateBpeEncoded()
      TextAnalysis.invalidateBpeRendered()
      TextAnalysis.invalidateTokenIdArrays()
      Dedup.invalidateLabels()
      Dedup.invalidateSimhashPairs()
      Dedup.invalidateLshPairs()
      Dedup.invalidateDeltaVerdicts()
      Dedup.invalidateSpans()
      Similarity.invalidatePqIndex()
      Similarity.invalidateIvfPqIndex()
      Similarity.invalidateResIvfPqIndex()
    }
  }
}
