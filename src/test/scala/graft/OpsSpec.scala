package graft

import graft.ops._
import org.apache.spark.sql.functions._

/** Batch operator specs: a smoke sweep over the full driver contract plus
  * unit goldens for the semantics most likely to regress (session-gap
  * boundary, as-of tie-break, cosine, minhash determinism). The DuckDB
  * oracle harness (tools/check_oracle.py) is the exhaustive value check;
  * these run without it. */
class OpsSpec extends SparkSpec {

  test("every SparkEntry query runs at sf0.001 and returns rows") {
    val empty = SparkEntry.queries.flatMap { case (name, fn) =>
      val n = fn(spark, sf001).count()
      if (n == 0) Some(name) else None
    }
    assert(empty.isEmpty, s"queries with 0 rows: $empty")
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has oracle SQL with it") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle: $missing")
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle without query: $orphans")
  }

  test("sessionSpend: events exactly gap-width apart merge into one session") {
    import spark.implicits._
    // Spark session_window closes a session at [start, last+gap] INCLUSIVE:
    // a follow-up at exactly start + gap still merges; only a strictly
    // larger silence starts a new session. The a9 oracle mirrors this with
    // `diff > gap` (OracleSql.scala).
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:30:00"), 1.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 01:00:01"), 1.0)
    ).toDF("user_id", "ts", "value")
    val sessions = df
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .count().orderBy(col("count").desc).collect()
    assert(sessions.length === 2, "exact-boundary merges; >gap splits")
    assert(sessions.head.getLong(2) === 2L)
  }

  test("asOfJoin picks the latest click at-or-before each purchase") {
    import spark.implicits._
    val events = Seq(
      (1L, 10L, 100L, "click", 0.0),
      (2L, 20L, 100L, "click", 0.0),
      (3L, 20L, 100L, "purchase", 5.0), // tie ts with click 2 -> matches it
      (4L, 30L, 100L, "purchase", 5.0), // after click 2 -> matches 2
      (5L, 5L, 200L, "purchase", 5.0)   // user 200 has no click -> null
    ).map { case (id, t, u, ty, v) => (id, new java.sql.Timestamp(t), u, ty, v) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Joins.asOfJoinFrame(events)
      .select("purchase_id", "asof_click_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(got === Map(3L -> 2L, 4L -> 2L, 5L -> -1L))
  }

  test("asOfJoin: purchases sharing (user, ts) each keep their own row; " +
      "only clicks collapse (round-20 single-scan form)") {
    import spark.implicits._
    // the tagged single-pass groups by (user, ts, kind, purchase event_id):
    // clicks at one (user, ts) collapse to max event_id, purchases never
    // collapse — two same-timestamp purchases must BOTH come out, matched
    // to the same as-of click; so must two IDENTICAL purchase rows, and
    // two NULL-id purchases at one (user, ts) (one oracle row per raw row)
    val events = Seq(
      (Some(1L), 10L, 100L, "click", 0.0),
      (Some(2L), 10L, 100L, "click", 0.0),   // same (user, ts) click — collapses with 1
      (Some(3L), 20L, 100L, "purchase", 5.0),
      (Some(4L), 20L, 100L, "purchase", 6.0), // same (user, ts) purchase — must survive
      (Some(5L), 15L, 100L, "view", 0.0),     // other event types are ignored
      (Some(6L), 10L, 200L, "click", 0.0),
      (Some(7L), 20L, 200L, "purchase", 5.0), // duplicated row: both copies out
      (Some(7L), 20L, 200L, "purchase", 5.0),
      (Some(8L), 10L, 300L, "click", 0.0),
      (None, 20L, 300L, "purchase", 5.0),     // NULL ids at one (user, ts): both out
      (None, 20L, 300L, "purchase", 6.0)
    ).map { case (id, t, u, ty, v) => (id, new java.sql.Timestamp(t), u, ty, v) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Joins.asOfJoinFrame(events)
      .select("purchase_id", "asof_click_id").collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getLong(1))).toSeq
    assert(got.sortBy(_.toString) === Seq(Some(3L) -> 2L, Some(4L) -> 2L,
      Some(7L) -> 6L, Some(7L) -> 6L, None -> 8L, None -> 8L).sortBy(_.toString),
      "every purchase row out once, matched to the collapsed (max id) click")
  }

  test("dailyWindowStart handles the Paris DST transition (CustomWindowTest golden)") {
    import spark.implicits._
    // reference: window/CustomWindowTest.java:192-235 — events at Paris
    // local 01:39/02:00/02:10 on 2019-03-30 (CET, UTC+1) and 2019-03-31
    // (DST switch night) must land in the 18:00-Paris daily windows of
    // Mar 29 and Mar 30 respectively, each summing 1+2+7=10.
    val instants = Seq(
      ("2019-03-30T00:39:00Z", 1), ("2019-03-30T01:00:00Z", 2),
      ("2019-03-30T01:10:00Z", 7), // = Paris 01:39/02:00/02:10 CET
      ("2019-03-31T00:39:00Z", 1), ("2019-03-31T01:00:00Z", 2),
      ("2019-03-31T01:10:00Z", 7)  // Paris 01:39/02:00/02:10 around switch
    ).map { case (s, v) =>
      (java.sql.Timestamp.from(java.time.Instant.parse(s)), v)
    }.toDF("ts", "v")
    val got = instants
      .groupBy(ops.Windows.dailyWindowStart(col("ts"), "Europe/Paris", 18).as("ws"))
      .agg(sum(col("v")).as("total"))
      .collect().map(r => (r.getTimestamp(0).toInstant.toString, r.getLong(1))).toMap
    assert(got === Map(
      "2019-03-29T17:00:00Z" -> 10L, // 18:00 CET
      "2019-03-30T17:00:00Z" -> 10L))
  }

  test("corrupt JSON records are dropped, valid ones survive (poison pills)") {
    // semantics of HandlingCorruptedInputRecordsIntegrationTest.java:79-98
    import spark.implicits._
    import org.apache.spark.sql.types._
    val df = Seq(
      (1L, """{"k": 3}"""), (2L, "not json at all"), (3L, """{"k": null}"""),
      (4L, """{"wrong": 1}"""), (5L, """{"k": 7}""")
    ).toDF("event_id", "props")
    val parsed = df
      .select(col("event_id"),
        from_json(col("props"), StructType(Seq(StructField("k", IntegerType)))).as("p"))
      .select(col("event_id"), col("p.k").as("k"))
      .filter(col("k").isNotNull)
      .select(col("event_id"), (col("k") * 2).as("k2"))
    val got = parsed.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(1L -> 6, 5L -> 14))
  }

  test("cosine: identical vectors 1.0, orthogonal 0.0") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f), Array(0.0f, 1.0f)))
      .toDF("a", "b", "c")
    val r = df.select(
      Similarity.cosine(col("a"), col("b")).as("same"),
      Similarity.cosine(col("a"), col("c")).as("orth")).head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
  }

  test("native graft_cosine matches the higher-order-function cosine bit-for-bit") {
    graft.functions.GraftExtensions.register(spark)
    val emb = Tables.embeddings(spark, sf001).limit(50)
    val a = emb.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val b = emb.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    val diff = a.join(b, col("a_id") < col("b_id"))
      .select(
        Similarity.cosine(col("a_emb"), col("b_emb")).as("hof"),
        call_function("graft_cosine", col("a_emb"), col("b_emb")).as("native"))
      .filter(col("hof") =!= col("native")).count()
    assert(diff === 0L)
  }

  test("native graft_cosine agrees with the HOF on null elements and length mismatch (both null)") {
    graft.functions.GraftExtensions.register(spark)
    import spark.implicits._
    val df = Seq(
      (Array[java.lang.Float](1.0f, null), Array[java.lang.Float](1.0f, 2.0f)),
      (Array[java.lang.Float](1.0f, 2.0f), Array[java.lang.Float](1.0f, 2.0f)))
      .toDF("a", "b")
      .union(Seq((Array[java.lang.Float](1.0f), Array[java.lang.Float](1.0f, 2.0f)))
        .toDF("a", "b"))
    val got = df.select(
      Similarity.cosine(col("a"), col("b")).as("hof"),
      call_function("graft_cosine", col("a"), col("b")).as("native")).collect()
    got.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1), s"null disagreement: $r")
      if (!r.isNullAt(0)) assert(r.getDouble(0) === r.getDouble(1))
    }
    // the null-element and mismatch rows are null, the clean row is not
    assert(got.count(_.isNullAt(1)) === 2)
  }

  test("native graft_dot matches the HOF dot bit-for-bit (float×float and float×double)") {
    val emb = Tables.embeddings(spark, sf001).limit(50)
    val a = emb.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val b = emb.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    // float × float, every pair
    val ff = a.join(b, col("a_id") < col("b_id"))
      .select(
        Similarity.hofDot(col("a_emb"), col("b_emb")).as("hof"),
        Similarity.dot(col("a_emb"), col("b_emb")).as("native"))
      .filter(col("hof") =!= col("native")).count()
    assert(ff === 0L)
    // float × double literal (the srpBucket hyperplane shape)
    val plane = array(Similarity.planes(0).toIndexedSeq.map(lit): _*)
    val fd = emb
      .select(
        Similarity.hofDot(col("embedding"), plane).as("hof"),
        Similarity.dot(col("embedding"), plane).as("native"))
      .filter(col("hof") =!= col("native")).count()
    assert(fd === 0L)
  }

  test("native graft_dot null semantics match the HOF (null element, length mismatch)") {
    import spark.implicits._
    val df = Seq(
      (Array[java.lang.Float](1.0f, null), Array[java.lang.Float](1.0f, 2.0f)),
      (Array[java.lang.Float](1.0f, 2.0f), Array[java.lang.Float](1.0f, 2.0f)))
      .toDF("a", "b")
      .union(Seq((Array[java.lang.Float](1.0f), Array[java.lang.Float](1.0f, 2.0f)))
        .toDF("a", "b"))
    val got = df.select(
      Similarity.hofDot(col("a"), col("b")).as("hof"),
      Similarity.dot(col("a"), col("b")).as("native")).collect()
    got.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1), s"null disagreement: $r")
      if (!r.isNullAt(0)) assert(r.getDouble(0) === r.getDouble(1))
    }
    assert(got.count(_.isNullAt(1)) === 2)
  }

  test("peek observes side-channel metrics without altering the relation (O11)") {
    // identity relation, checked against the raw table
    val n = Tables.nation(spark, sf001).count()
    assert(Stateless.peek(spark, sf001).count() === n)
    // the observe side channel actually delivers: same shape, Observation handle
    val obs = new org.apache.spark.sql.Observation()
    val df = Tables.nation(spark, sf001)
      .observe(obs, count(lit(1)).as("n_rows"), max(col("n_nationkey")).as("max_key"))
    df.collect()
    assert(obs.get("n_rows") === n)
    assert(obs.get("max_key") === 24L)
  }

  test("order+limit plans TakeOrderedAndProject, not a global sort") {
    val plan = Stateless.orderLimit(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(400))
  }

  test("connectedComponents converges on a chain of diameter 12 (one cluster)") {
    import spark.implicits._
    // A path graph 0-1-2-...-12: plain min-label propagation moves the 0
    // label one hop per round (12 rounds to the far end); pointer jumping
    // roughly doubles label distance per round, so the fixed point —
    // including its final no-change detection round — must land in ≤ 4
    // rounds. Any fixed round count < diameter would mis-cluster the far
    // end without the fixed-point loop.
    val chain = (0L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labelsDf, rounds) =
      Dedup.connectedComponentsWithRounds(chain, "doc_id", "cluster_id")
    val labels = labelsDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size === 13)
    assert(labels.values.forall(_ == 0L), s"non-zero labels: $labels")
    assert(rounds <= 4, s"pointer jumping should converge in ≤4 rounds, took $rounds")
    // two disjoint chains stay separate
    val two = ((0L until 9L).map(i => (i, i + 1)) ++
      (100L until 109L).map(i => (i, i + 1))).toDF("a", "b")
    val got = Dedup.connectedComponents(two, "id", "cid")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.filter(_._1 < 100).values.toSet === Set(0L))
    assert(got.filter(_._1 >= 100).values.toSet === Set(100L))
  }

  test("dedupApplyFrom drops exactly the non-canonical cluster members") {
    import spark.implicits._
    // labels: {1,2,3} cluster to 1; {10} is its own cluster; docs 2 and 3
    // are the losers — the survivors' per-lang rollup must count 1 and 10
    // only, with whitespace-split token totals.
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L))
      .toDF("doc_id", "cluster_id")
    val docs = Seq(
      (1L, "en", "one two three"),
      (2L, "en", "one two three"),
      (3L, "en", "one  two"),
      (10L, "fr", "un deux"))
      .toDF("doc_id", "lang", "text")
    val got = Dedup.dedupApplyFrom(labels, docs)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === Map("en" -> (1L, 3L), "fr" -> (1L, 2L)))
  }

  test("clusterLabels memoizes per (context, dir): d10 reuses d8's labels") {
    Dedup.invalidateLabels()
    val first = Dedup.clusterLabels(spark, sf001)
    val second = Dedup.clusterLabels(spark, sf001)
    assert(first eq second,
      "second call must return the memoized (checkpointed) labels table")
    Dedup.invalidateLabels()
  }

  test("minhash signatures are deterministic across runs") {
    val a = Dedup.minhashSignatures(spark, sf001).orderBy("doc_id").head()
    val b = Dedup.minhashSignatures(spark, sf001).orderBy("doc_id").head()
    assert(a === b)
  }

  test("simhashPairsScaled emits exactly the brute-force hamming<=3 pairs of its fingerprints") {
    // the banded candidate generation must be LOSSLESS (a pair within
    // hamming 3 of a 4-band fingerprint shares >= 1 exact band by
    // pigeonhole) and the first-matching-band rule must emit each pair
    // exactly once — verified against a driver-side all-pairs scan of the
    // same fingerprints at the widened 48-bit setting the BASELINE.md
    // scale table measures.
    val bits = 48
    val fps = Dedup.simhashScaled(spark, sf001, bits)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val expected = (for {
      (ida, fa) <- fps.iterator
      (idb, fb) <- fps.iterator
      if ida < idb && java.lang.Long.bitCount(fa ^ fb) <= 3
    } yield (ida, idb)).toSet
    val got = Dedup.simhashPairsScaled(spark, sf001, bits)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === got.distinct.length,
      "first-matching-band rule must emit each pair exactly once")
    assert(got.toSet === expected,
      s"banding lost or invented pairs: got ${got.length}, expected ${expected.size}")
  }

  test("topNPerGroup returns at most 5 per brand with dense positions") {
    val rows = Aggregations.topNPerGroup(spark, sf001)
      .groupBy("p_brand").agg(count(lit(1)).as("n"), max("rank").as("mx"))
      .collect()
    assert(rows.forall(r => r.getLong(1) <= 5 && r.getInt(2) <= 5))
  }

  test("approx_count_distinct (HLL++) stays inside its error bound vs the exact form") {
    // the 100 TB scale path for t9: a one-pass mergeable sketch whose
    // rsd=0.05 must hold against the exact COUNT(DISTINCT)
    val exact = TextAnalysis.distinctUsers(spark, sf001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = Tables.events(spark, sf001)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.05).as("n_users"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, e) =>
      val a = approx(k)
      assert(math.abs(a - e).toDouble / e <= 0.15,
        s"$k: approx $a vs exact $e exceeds 3x rsd")
    }
  }

  test("langId confusion matrix covers every document") {
    val total = TextAnalysis.langId(spark, sf001)
      .agg(sum("cnt")).head().getLong(0)
    val docs = Tables.documents(spark, sf001).count()
    assert(total === docs)
  }

  test("branch partitions every event exactly once") {
    val e = Tables.events(spark, sf001).count()
    val b = Stateless.branch(spark, sf001).count()
    assert(e === b)
  }

  test("chunking: 50-token windows at stride 40, 10-token overlap, exact boundaries") {
    import spark.implicits._
    // 130 tokens -> ceil((130-10)/40) = 3 chunks: [1..50], [41..90], [81..130]
    val words = (1 to 130).map(i => s"w$i")
    val docs = Seq((1L, words.mkString(" ")), (2L, "one two")) // 2-token doc: 1 chunk
      .toDF("doc_id", "text")
    val got = TextAnalysis.chunkFrame(docs)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getString(3)))
      .toMap
    def h(s: Seq[String]) = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s.mkString(" ").getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    assert(got.keySet === Set((1L, 0), (1L, 1), (1L, 2), (2L, 0)))
    assert(got((1L, 0)) === ((50L, h(words.slice(0, 50)))))
    assert(got((1L, 1)) === ((50L, h(words.slice(40, 90)))))   // 10-token overlap
    assert(got((1L, 2)) === ((50L, h(words.slice(80, 130))))) // tail exactly covered
    assert(got((2L, 0)) === ((2L, h(Seq("one", "two")))))
  }

  test("packedBins: exclusive-prefix bin assignment, sparse ids, zero-token docs, straddling") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // capacity 512; doc_id order with GAPS (the c11 survivor shape).
    // prefix:        0,   500,  520,  520, 1030
    // bin = pre/512: 0,     0,    1,    1,    2
    // doc 20 STARTS at 500 < 512 so it belongs to bin 0 even though it
    // overflows the capacity (contiguous first-fit semantics); the
    // zero-token doc 25 lands in whichever bin its prefix names.
    val d = Seq((10L, 500L), (20L, 20L), (21L, 0L), (25L, 510L), (9000L, 40L))
      .toDF("doc_id", "n")
    val got = graft.ops.TextAnalysis.packedBins(d)
      .select(col("doc_id"), col("bin")).as[(Long, Long)].collect().toMap
    assert(got === Map(10L -> 0L, 20L -> 0L, 21L -> 1L, 25L -> 1L, 9000L -> 2L))
    // token totals are preserved exactly through the scan
    val tot = graft.ops.TextAnalysis.packedBins(d)
      .agg(org.apache.spark.sql.functions.sum(col("n"))).head.getLong(0)
    assert(tot === 1070L)
  }

  test("leakageSplit: a dedup cluster never straddles splits; buckets match md5 math") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // cluster {1,2,3} labeled to 1; docs 10, 11, 9000 unclustered
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("doc_id", "cluster_id")
    val docs = Seq((1L, "en", 10), (2L, "en", 20), (3L, "de", 30),
      (10L, "en", 5), (11L, "fr", 7), (9000L, "en", 11))
      .toDF("doc_id", "lang", "n_tokens")
    def splitOf(gid: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(gid.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(4)
      val b = java.lang.Long.parseLong(hex, 16)
      if (b < graft.ops.Composites.SplitTrainCut) "train"
      else if (b < graft.ops.Composites.SplitValCut) "val" else "test"
    }
    // expected rollup: group ids are 1 (cluster), 10, 11, 9000
    val byGid = Map(1L -> Seq(10, 20, 30), 10L -> Seq(5), 11L -> Seq(7),
      9000L -> Seq(11))
    val expected = byGid.groupBy { case (gid, _) => splitOf(gid) }
      .map { case (s, gs) =>
        s -> ((gs.values.map(_.size).sum.toLong, gs.size.toLong,
          gs.values.flatten.sum.toLong))
      }
    val got = graft.ops.Composites.leakageSplitFrom(labels, docs)
      .select(col("split"), col("n_docs"), col("n_groups"), col("total_tokens"))
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got === expected)
    // the leakage property directly: every doc of the cluster got the
    // cluster's split — whatever it is, there is exactly one
    assert(Set(splitOf(1L)).size === 1)
  }

  test("substringDup: anchor runs merge into maximal spans; span = run + N - 1") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // N = 8. A and B share ONE 12-token span (w5..w16) => 5 consecutive
    // anchors on one diagonal => 1 span of 12. C is an exact copy of A
    // (20 tokens => 13 anchors, 1 span of 20). D shares TWO disjoint
    // 8-token spans with A (one anchor each) => 2 spans, 16 dup tokens.
    val w = (1 to 20).map(i => s"w$i")
    val docs = Seq(
      1L -> w.mkString(" "),
      2L -> (Seq("x1", "x2") ++ w.slice(4, 16) ++ Seq("y1", "y2")).mkString(" "),
      3L -> w.mkString(" "),
      4L -> (Seq("p1", "p2") ++ w.slice(0, 8) ++ Seq("q1", "q2", "q3") ++
        w.slice(12, 20) ++ Seq("r1")).mkString(" ")
    ).toDF("doc_id", "text")
    val got = graft.ops.Dedup.substringDupFrame(docs)
      .select(col("doc_a"), col("doc_b"), col("n_spans"),
        col("max_span_tokens"), col("dup_tokens"))
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(got((1L, 2L)) === ((1L, 12L, 12L)))
    assert(got((1L, 3L)) === ((1L, 20L, 20L)))
    assert(got((2L, 3L)) === ((1L, 12L, 12L)))
    assert(got((1L, 4L)) === ((2L, 8L, 16L)))
    assert(got((3L, 4L)) === ((2L, 8L, 16L)))
    // B and D overlap only at w5..w8 / w13..w16 (4 < N) => no pair row
    assert(!got.contains((2L, 4L)))
  }

  test("substringScrub: later docs lose exactly the shared spans; first occurrences keep them") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the d14 golden corpus: doc 1 owns w1..w20; 2 embeds w5..w16; 3 is a
    // full copy; 4 embeds w1..w8 and w13..w20 around its own tokens
    val w = (1 to 20).map(i => s"w$i")
    val docs = Seq(
      1L -> w.mkString(" "),
      2L -> (Seq("x1", "x2") ++ w.slice(4, 16) ++ Seq("y1", "y2")).mkString(" "),
      3L -> w.mkString(" "),
      4L -> (Seq("p1", "p2") ++ w.slice(0, 8) ++ Seq("q1", "q2", "q3") ++
        w.slice(12, 20) ++ Seq("r1")).mkString(" ")
    ).toDF("doc_id", "text")
    def h(ts: Seq[String]): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(ts.mkString(" ").getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val got = graft.ops.Dedup.substringScrubFrame(docs)
      .select(col("doc_id"), col("n_tokens"), col("n_removed"), col("clean_hash"))
      .as[(Long, Int, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // doc 1 is the first occurrence of every span: untouched
    assert(got(1L) === ((20, 0L, h(w))))
    // doc 2 loses w5..w16 (12 tokens), keeps its frame
    assert(got(2L) === ((16, 12L, h(Seq("x1", "x2", "y1", "y2")))))
    // doc 3 is a verbatim copy: fully scrubbed to the empty document
    assert(got(3L) === ((20, 20L, h(Seq.empty))))
    // doc 4 loses both 8-token spans, keeps p/q/r tokens in order
    assert(got(4L) === ((22, 16L, h(Seq("p1", "p2", "q1", "q2", "q3", "r1")))))
  }

  test("invertedIndex: postings head, 1-based first positions, tf-desc/doc-asc tie-break") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "cat dog cat"),        // cat tf=2 first=1; dog tf=1 first=2
      (2L, "dog cat"),            // ties with doc 3 on cat tf=1 -> doc_id asc
      (3L, "cat fish fish fish"),
      (4L, "")                    // zero tokens: contributes nothing
    ).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.invertedIndexFrame(docs)
      .select(col("term"), col("df"), col("corpus_tf"), col("rk"),
        col("doc_id"), col("tf"), col("first_pos"))
      .as[(String, Long, Long, Int, Long, Long, Long)].collect()
      .map(r => (r._1, r._4) -> ((r._2, r._3, r._5, r._6, r._7))).toMap
    // cat: df=3, corpus_tf=4; head ordered tf desc then doc_id asc
    assert(got(("cat", 1)) === ((3L, 4L, 1L, 2L, 1L)))
    assert(got(("cat", 2)) === ((3L, 4L, 2L, 1L, 2L)))
    assert(got(("cat", 3)) === ((3L, 4L, 3L, 1L, 1L)))
    // fish: single doc, tf=3, first occurrence at position 2 (1-based)
    assert(got(("fish", 1)) === ((1L, 3L, 3L, 3L, 2L)))
    // dog: two docs with tf=1 each -> doc_id asc
    assert(got(("dog", 1)) === ((2L, 2L, 1L, 1L, 2L)))
    assert(got(("dog", 2)) === ((2L, 2L, 2L, 1L, 1L)))
    // head cap: no term emits more than IndexTopDocs rows
    assert(!got.keySet.exists(_._2 > graft.ops.TextAnalysis.IndexTopDocs))
  }

  test("pmiPairs: perfect collocation outranks independent pair; ln value exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // "aa bb" always adjacent (perfect collocation); "cc dd" adjacent in
    // only 5 of cc's 10 / dd's 10 occurrences. Both pairs clear the
    // min-count 5; the filler unigrams keep totals easy to hand-compute.
    val docs = (
      (1 to 5).map(i => (i.toLong, "aa bb cc dd")) ++
      (6 to 10).map(i => (i.toLong, "cc xx dd yy"))
    ).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.pmiPairsFrame(docs)
      .select(col("bigram"), col("c_xy"), col("c_x"), col("c_y"), col("pmi"))
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // totals: 40 unigrams, 30 bigram occurrences
    val nUni = 40.0; val nBig = 30.0
    def pmi(cxy: Long, cx: Long, cy: Long): Double =
      BigDecimal(math.log(cxy * nUni * nUni / (nBig * cx * cy)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got("aa bb") === ((5L, 5L, 5L, pmi(5, 5, 5))))
    assert(got("cc dd") === ((5L, 10L, 10L, pmi(5, 10, 10))))
    // the perfect collocation scores strictly higher
    assert(got("aa bb")._4 > got("cc dd")._4)
    // sub-threshold bigrams ("bb cc", seen 5x? no — 5x) are included only
    // if they clear PmiMinCount; "xx dd" (5x) must be present too
    assert(got.contains("xx dd"))
    // nothing below the min count leaks in
    assert(got.values.forall(_._1 >= graft.ops.TextAnalysis.PmiMinCount))
  }

  test("releaseManifest: per-lang totals equal the survivor set; every cell lands in a real split") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, sum => fsum}
    val man = Composites.releaseManifest(spark, sf001).collect()
    assert(man.map(_.getString(0)).toSet.subsetOf(Set("train", "val", "test")))
    // summing the manifest over splits recovers the survivor corpus
    // exactly (docs and kept-token budget per language)
    val got = man.groupBy(_.getString(1)).view.mapValues(rs =>
      (rs.map(_.getLong(2)).sum, rs.map(_.getLong(4)).sum)).toMap
    val surv = Composites.prepSurvivorsMemo(spark, sf001)
      .groupBy(col("lang"))
      .agg(fsum(org.apache.spark.sql.functions.lit(1L)).as("n"),
        fsum(col("n_kept")).as("k"))
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got === surv)
  }

  test("vocabGrowth: new terms land in their first slice; running totals conserve") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // docs 0..99: doc i says "x w<i/10>" — the shared term x is new only
    // in slice 0, each slice introduces exactly one w-term; slice
    // boundaries are the value-range interpolation (lo 0, hi 99)
    val docs = (0 until 100).map(i => (i.toLong, s"x w${i / 10}"))
      .toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.vocabGrowthFrame(docs)
      .orderBy(col("slice"))
      .as[(Int, Long, Long, Long, Long)].collect()
    assert(got.map(_._1).toSeq === (0 until 10))
    assert(got.forall(_._2 === 20L)) // 10 docs × 2 tokens per slice
    assert(got.map(_._3).toSeq === Seq(2L) ++ Seq.fill(9)(1L))
    assert(got.last._4 === 200L && got.last._5 === 11L)
    // running totals are exact prefix sums
    assert(got.map(_._4).toSeq === got.map(_._2).scanLeft(0L)(_ + _).tail)
    assert(got.map(_._5).toSeq === got.map(_._3).scanLeft(0L)(_ + _).tail)
  }

  test("bpeMerges: greedy left-to-right, consecutive occurrences, ties, merged-token reuse") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // Corpus tuned so the merge sequence is hand-checkable:
    //  doc 1: "a b a b a b"   -> pair "a b" x3 (consecutive occurrences)
    //  doc 2: "c c c"         -> pair "c c" x2 OVERLAPPING (greedy -> 1 merge)
    //  doc 3: "a b c c"       -> "a b" x1, "c c" x1
    // Round 1 counts: "a b"=4, "b a"=2, "c c"=3, "b c"=1 -> merge "a b".
    // Round 2 corpus: [a_b a_b a_b], [c c c], [a_b c c]:
    //   "a_b a_b"=2, "c c"=3 (2 overlapping + 1) -> merge "c c" (greedy:
    //   doc 2 [c,c,c] -> [c_c, c]).
    // Round 3 corpus: [a_b a_b a_b], [c_c c], [a_b c_c]:
    //   "a_b a_b"=2 (greedy: doc 1 -> [a_b_a_b, a_b]), others 1 -> merge it.
    val docs = Seq((1L, "a b a b a b"), (2L, "c c c"), (3L, "a b c c"))
      .toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.bpeMergesFrame(docs)
      .select(col("round"), col("pair"), col("merged"), col("cnt"),
        col("vocab_size"), col("corpus_tokens"))
      .as[(Int, String, String, Long, Long, Long)].collect()
      .sortBy(_._1)
    // after r1: [a_b,a_b,a_b],[c,c,c],[a_b,c,c] = 9 tokens, vocab {a_b,c}
    assert(got(0) === ((1, "a b", "a_b", 4L, 2L, 9L)))
    assert(got(1)._1 === 2 && got(1)._2 === "c c" && got(1)._3 === "c_c")
    // cnt counts PAIR OCCURRENCES: [c,c,c] contributes 2, doc 3 adds 1
    assert(got(1)._4 === 3L)
    assert(got(1)._5 === 3L) // vocab after r2: {a_b, c_c, c}
    assert(got(2)._1 === 3 && got(2)._2 === "a_b a_b" && got(2)._4 === 2L)
    // greedy application: after r2, doc 2 is [c_c, c] (NOT [c_c, c_c]);
    // corpus tokens after r2 = 3 (doc1) + 2 (doc2) + 2 (doc3) = 7
    assert(got(1)._6 === 7L)
    // after r3, doc 1 is [a_b_a_b, a_b] -> corpus = 2 + 2 + 2 = 6
    assert(got(2)._6 === 6L)
  }

  test("t24 encode golden: merges apply greedily in rank order; sampled mod=1 is the full form") {
    import spark.implicits._
    // same corpus as the t21 golden; rounds 4-6 continue (cnt-1 ties
    // break pair-asc): r4 "a_b c_c" (doc3), r5 "a_b_a_b a_b" (doc1),
    // r6 "c_c c" (doc2) — every doc ends fully merged to ONE token
    val docs = Seq((1L, "a b a b a b"), (2L, "c c c"), (3L, "a b c c"))
      .toDF("doc_id", "text")
    val merges = graft.ops.TextAnalysis.bpeMergesFrame(docs)
    val enc = graft.ops.TextAnalysis.bpeEncodeFrame(docs, merges)
      .select(col("doc_id"), col("ws_tokens"), col("bpe_tokens"),
        col("compression"))
      .as[(Long, Int, Int, Double)].collect().sortBy(_._1)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(enc(0) === ((1L, 6, 1, r6(1.0 / 6))))
    assert(enc(1) === ((2L, 3, 1, r6(1.0 / 3))))
    assert(enc(2) === ((3L, 4, 1, r6(1.0 / 4))))
    // the sampled induction knob at mod=1 IS the full form
    val full = merges.select("round", "pair", "cnt").collect().toSeq
    val samp = graft.ops.TextAnalysis.bpeMergesSampled(docs, 1)
      .select("round", "pair", "cnt").collect().toSeq
    assert(samp === full)
  }

  test("bpeMergesSampled: a skewed pair distribution survives sampling") {
    // Real (Zipfian) text separates its top pairs from the noise floor
    // by far more than sampling variance, so a 1/mod sample learns the
    // same merges. The uniform-31-word synthetic corpora have NO such
    // gap — their top-1 pair is coin-flip noise and no sample can track
    // it (BpeProbe records that negative result in BASELINE.md). This
    // golden pins the positive case: plant a dominant phrase on half
    // the docs and the sampled induction recovers the same leading
    // merges as the full corpus.
    val docs = graft.Tables.documents(spark, sf001)
      .withColumn("text", when(col("doc_id") % 2 === 0,
        concat(col("text"), lit(" zq yw zq yw zq yw"))).otherwise(col("text")))
    def lead(df: org.apache.spark.sql.DataFrame, k: Int): Seq[String] =
      df.orderBy(col("round")).select(col("pair")).collect()
        .map(_.getString(0)).toSeq.take(k)
    val full = lead(graft.ops.TextAnalysis.bpeMergesFrame(docs), 2)
    val sampled = lead(graft.ops.TextAnalysis.bpeMergesSampled(docs, 3), 2)
    assert(full.head === "zq yw", s"planted pair must dominate: $full")
    assert(sampled === full,
      s"sampled induction must recover the dominant merges: $sampled vs $full")
  }

  test("piiScrub: hand-computed counts, boundary edge cases, exact redacted-text hash") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val docs = Seq(
      (0L, "hello mail a.b@x.io and 10.1.2.3 plus 555-123-4567 card 1234567890123456"),
      (1L, "no pii here"),
      (2L, "two mails a@b.co c@d.org"),
      (3L, "almost card 123456789012345 fifteen digits"),
      (4L, "ip-ish 1.2.3.4.5"),
      (5L, "phone inside text555-123-4567x no boundary")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.piiScrubFrame(docs).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getString(5)))).toMap
    // doc 1 (nothing), doc 3 (15 digits != 16) and doc 5 (no word
    // boundary before the digits) must not report at all
    assert(got.keySet === Set(0L, 2L, 4L))
    assert(got(0L)._1 === 1 && got(0L)._2 === 1 && got(0L)._3 === 1 && got(0L)._4 === 1)
    assert(got(0L)._5 === md5hex(
      "hello mail <EMAIL> and <IP> plus <PHONE> card <CARD>"))
    assert(got(2L)._1 === 2, "both emails counted")
    assert(got(2L)._5 === md5hex("two mails <EMAIL> <EMAIL>"))
    // leftmost-first: 1.2.3.4 matches (the trailing .5 is a non-word
    // char, so \b holds), leaving '.5' behind
    assert(got(4L)._3 === 1)
    assert(got(4L)._5 === md5hex("ip-ish <IP>.5"))
  }

  test("lmQuality: ppl matches an in-memory add-k bigram LM reference exactly") {
    import spark.implicits._
    val docs = Seq(
      (0L, "the cat sat on the mat"),
      (1L, "the cat sat"),
      (2L, "zz qq zz qq zz"), // repetitive but self-consistent bigrams
      (3L, "single"),         // one token: no bigram evidence, drops out
      (4L, "the dog sat on the mat"),
      (5L, "")                // zero tokens, drops out
    ).toDF("doc_id", "text")
    // independent reference: plain Scala collections, same formula
    val toks = Map(
      0L -> "the cat sat on the mat", 1L -> "the cat sat",
      2L -> "zz qq zz qq zz", 4L -> "the dog sat on the mat"
    ).map { case (id, t) => id -> t.split(" ").toSeq }
    val bgs = toks.map { case (id, ts) => id -> ts.zip(ts.tail) }
    val corpus = bgs.values.flatten.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val ctx = corpus.groupBy(_._1._1).map { case (w1, m) => w1 -> m.values.sum }
    val v = corpus.keys.map(_._2).toSet.size.toDouble
    val a = graft.ops.TextAnalysis.LmAlpha
    val expect = bgs.map { case (id, bs) =>
      val lpmSum = bs.map { b =>
        math.round(math.log((corpus(b) + a) / (ctx(b._1) + a * v)) * 1e6)
      }.sum
      val ppl = BigDecimal(math.exp(-lpmSum.toDouble / 1e6 / bs.size))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      id -> ((bs.size.toLong, ppl))
    }
    val got = graft.ops.TextAnalysis.lmQualityFrame(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getInt(3)))).toMap
    assert(got.keySet === expect.keySet, "only docs with >= 2 tokens report")
    expect.foreach { case (id, (nb, ppl)) =>
      assert(got(id)._1 === nb, s"doc $id n_bigrams")
      assert(got(id)._2 === ppl, s"doc $id ppl")
      assert(got(id)._3 === (if (ppl <= graft.ops.TextAnalysis.LmKeepPpl) 1 else 0),
        s"doc $id keep flag")
    }
    // the self-consistent repetitive doc is far more predictable than the
    // mixed-English ones — the gate orders documents sensibly
    assert(got(2L)._2 < got(0L)._2, "repetitive doc must score lower ppl")
  }

  test("dsirWeights: log-ratio matches an in-memory two-LM reference; " +
      "target-like docs score positive, off-target negative") {
    import spark.implicits._
    val rows = Seq(
      (0L, "the cat sat on the mat", "en"),
      (1L, "the dog sat on the mat", "en"),
      (2L, "le chat le chien le chat", "fr"),
      (3L, "the cat sat on the mat", "fr"), // en-looking text, fr label
      (4L, "le chien sat le chat on", "de"))
    val docs = rows.toDF("doc_id", "text", "lang")
    // independent reference: two add-k bigram LMs over plain collections
    val toks = rows.map { case (id, t, l) => (id, t.split(" ").toSeq, l) }
    val bgsAll = toks.map { case (id, ts, l) => (id, ts.zip(ts.tail), l) }
    def lm(sel: Seq[((String, String), Long)]) = {
      val cnt = sel.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
      val ctx = cnt.groupBy(_._1._1).map { case (w, m) => w -> m.values.sum }
      val v = cnt.keys.map(_._2).toSet.size.toDouble
      (cnt, ctx, v)
    }
    def counted(sel: Seq[(Long, Seq[(String, String)], String)]) =
      sel.flatMap(_._2).groupBy(identity).toSeq.map { case (k, v) => k -> v.size.toLong }
    val (cntR, ctxR, vR) = lm(counted(bgsAll))
    val (cntT, ctxT, vT) = lm(counted(bgsAll.filter(_._3 == "en")))
    val a = graft.ops.TextAnalysis.LmAlpha
    def lpm(c: Long, x: Long, v: Double): Long =
      math.round(math.log((c + a) / (x + v * a)) * 1e6)
    val expect = bgsAll.map { case (id, bs, _) =>
      val s = bs.map { b =>
        lpm(cntT.getOrElse(b, 0L), ctxT.getOrElse(b._1, 0L), vT) -
          lpm(cntR(b), ctxR(b._1), vR)
      }.sum
      id -> ((bs.size.toLong, s))
    }.toMap
    val got = graft.ops.TextAnalysis
      .dsirWeightsFrame(docs, col("lang") === "en").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
    assert(got.keySet === expect.keySet)
    expect.foreach { case (id, (nb, s)) =>
      assert(got(id)._1 === nb, s"doc $id n_bigrams")
      assert(got(id)._2 === s, s"doc $id lr_micro")
      assert(got(id)._3 ===
        (if (s >= graft.ops.TextAnalysis.DsirTauMicro) 1 else 0))
    }
    // selection behaves like DSIR: English text selected REGARDLESS of
    // its label (doc 3), French text rejected
    assert(got(0L)._3 === 1 && got(1L)._3 === 1 && got(3L)._3 === 1)
    assert(got(2L)._3 === 0, "off-target doc must not be selected")
  }

  test("datasetDiff: every churn row matches the version-construction rules; unchanged docs absent") {
    val dir = "/root/testdata/sf0.001"
    val n = graft.Tables.documents(spark, dir).count()
    val got = graft.ops.Composites.datasetDiff(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1),
        if (r.isNullAt(2)) null else r.getString(2),
        if (r.isNullAt(3)) null else r.getString(3)))).toMap
    (0L until n).foreach { id =>
      val inV1 = id % 10 != 7
      val inV2 = id % 17 != 3
      val revised = id % 13 == 0
      val expected =
        if (inV1 && !inV2) Some("removed")
        else if (!inV1 && inV2) Some("added")
        else if (inV1 && inV2 && revised) Some("changed")
        else None // both unchanged, or in neither
      expected match {
        case None => assert(!got.contains(id), s"doc $id must not appear")
        case Some(st) =>
          assert(got(id)._1 === st, s"doc $id status")
          if (st != "added") assert(got(id)._2 != null, s"doc $id old_hash")
          if (st != "removed") assert(got(id)._3 != null, s"doc $id new_hash")
          if (st == "changed") assert(got(id)._2 !== got(id)._3)
      }
    }
  }

  test("curriculumShards: the two-level ppl-grid scan equals a global-order reference") {
    val dir = "/root/testdata/sf0.001"
    val q = graft.ops.TextAnalysis.lmQuality(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1) + 1, r.getDouble(2)))
    // independent reference: one straight global sort + running sum
    val ordered = q.sortBy { case (id, _, ppl) => (ppl, id) }
    var running = 0L
    val assigned = ordered.map { case (id, n, ppl) =>
      val shard = running / graft.ops.Composites.CurricShardTokens
      running += n
      (shard, id, n, ppl)
    }
    val expect = assigned.groupBy(_._1).map { case (s, ds) =>
      s -> ((ds.length.toLong, ds.map(_._3).sum,
        ds.map(_._4).min, ds.map(_._4).max))
    }
    val got = graft.ops.Composites.curriculumShards(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    assert(got.keySet === expect.keySet, "shard ids")
    expect.foreach { case (s, v) => assert(got(s) === v, s"shard $s summary") }
    // curriculum property: shards are ppl-monotone — every shard's max
    // is at most the next shard's min (easiest text first)
    val byShard = expect.toSeq.sortBy(_._1)
    byShard.sliding(2).foreach {
      case Seq((_, a), (_, b)) =>
        assert(a._4 <= b._3, s"shard ppl ranges must not interleave: $a $b")
      case _ =>
    }
    assert(byShard.size > 2, "non-vacuous: multiple shards")
  }

  test("deltaDedup: verdicts agree with the exact md5 tier and the d4 pair graph") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val cut = math.floor(docs.size * 0.9).toLong
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val corpusByHash = docs.filter(_._1 < cut).toSeq
      .groupBy { case (_, t) => md5hex(t) }
      .map { case (h, ds) => h -> ds.map(_._1).min }
    // independent near tier: d4's oracle-verified pair graph, batch ids
    // are the largest so the corpus side of a cross pair is always doc_a
    val lshBest = graft.ops.Dedup.minhashLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => a < cut && b >= cut }
      .groupBy(_._2)
      .map { case (b, ps) =>
        val best = ps.minBy { case (c, _, e) => (-e, c) }
        b -> ((best._1, best._3))
      }
    val got = graft.ops.Dedup.deltaDedup(spark, dir).collect()
      .map { r => r.getLong(0) -> ((r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3))) }.toMap
    assert(got.keySet === docs.keySet.filter(_ >= cut), "one verdict per batch doc")
    got.foreach { case (b, (verdict, partner, est)) =>
      corpusByHash.get(md5hex(docs(b))) match {
        case Some(p) =>
          assert(verdict === "exact" && partner === p && est === 1.0, s"doc $b exact tier")
        case None => lshBest.get(b) match {
          case Some((p, e)) =>
            assert(verdict === "near" && partner === p && est === e, s"doc $b near tier")
          case None =>
            assert(verdict === "new" && partner === -1L && est === -1.0, s"doc $b new")
        }
      }
    }
  }

  test("piiScrub on the synthetic corpus: every count matches the doc_id plant formula") {
    val got = TextAnalysis.piiScrub(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))).toMap
    val n = graft.Tables.documents(spark, "/root/testdata/sf0.001").count()
    (0L until n).foreach { id =>
      val exp = ((if (id % 3 == 0) 1 else 0) + (if (id % 6 == 0) 1 else 0),
        if (id % 5 == 0) 1 else 0, if (id % 7 == 0) 1 else 0,
        if (id % 11 == 0) 1 else 0)
      if (exp == ((0, 0, 0, 0)))
        assert(!got.contains(id), s"doc $id has no planted PII but reported")
      else assert(got(id) === exp, s"doc $id counts")
    }
  }

  test("t31/c24: the reusable gopherKeep predicate equals the reported keep column " +
      "doc-for-doc; the corpus profile keeps a real subset") {
    import org.apache.spark.sql.functions.col
    // published profile: predicate ≡ t31's keep column (both empty on the
    // synthetic corpus — its vocabulary lacks the English lexicon, which
    // is exactly what the report should show)
    val reported = TextAnalysis.gopherRules(spark, sf001)
      .filter(col("keep") === 1).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val filtered = graft.Tables.documents(spark, sf001)
      .filter(TextAnalysis.gopherKeep).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(reported === filtered)
    // corpus profile (what c24 runs): keeps a nonempty PROPER subset
    val n = graft.Tables.documents(spark, sf001).count()
    val corpusKept = graft.Tables.documents(spark, sf001)
      .filter(TextAnalysis.gopherKeepWith(
        TextAnalysis.GopherCorpusMinWords, TextAnalysis.GopherCorpusLexicon))
      .count()
    assert(corpusKept > 0 && corpusKept < n,
      s"corpus profile kept $corpusKept of $n")
  }

  test("d17: crossSourcePairs canonicalizes source cells and conserves the pair count") {
    import spark.implicits._
    // synthetic graph: (a,b) arrives in both orientations and must land in
    // ONE cell; a within-source pair lands on the diagonal
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val sources = Seq((1L, "webA"), (2L, "wiki"), (3L, "webA"), (4L, "wiki"), (5L, "wiki"))
      .toDF("doc_id", "source")
    val cells = Dedup.crossSourcePairsFrame(pairs, sources)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(cells === Map(("webA", "wiki") -> 2L, ("wiki", "wiki") -> 1L))
    // real corpus: the rollup conserves the SimHash pair count exactly and
    // every cell is canonically ordered
    val full = Dedup.crossSourcePairs(spark, sf001).collect()
    val nPairs = Dedup.simhashPairs(spark, sf001).count()
    assert(full.map(_.getLong(2)).sum === nPairs, "pair count conserved")
    full.foreach(r => assert(r.getString(0) <= r.getString(1), "cell order"))
  }
}
