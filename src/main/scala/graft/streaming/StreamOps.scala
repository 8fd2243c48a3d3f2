package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming forms of the reference's streaming-only semantics
  * (SURVEY.md §2.4/§2.8/A11/A12/S2). Every transform takes a DataFrame and
  * works identically on a batch or streaming input — Spark's unified
  * Dataset API is what replaces the KStream/KTable split.
  *
  * Reference sites are cited per method; the MemoryStream specs in
  * src/test/scala/graft/streaming assert the reference tests' golden
  * outputs.
  */
object StreamOps {

  /** WordCount topology (WordCountLambdaExample.java:185-208): tokenize →
    * re-key by word → count. Streaming: update/complete-mode changelog of
    * per-word counts — the exact KTable<word,count> semantics. `(?U)`
    * matches the reference's Pattern.UNICODE_CHARACTER_CLASS (`:191`). */
  def wordCount(lines: DataFrame, textCol: String = "value"): DataFrame =
    lines
      .select(explode(split(lower(col(textCol)), "(?U)\\W+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).count()

  /** Event dedup with TTL (EventDeduplicationLambdaIntegrationTest.java:
    * 84-158): first occurrence of an id forwards, duplicates within the
    * window drop; the watermark bounds state exactly like the reference's
    * WindowStore retention. */
  def dedupWithTTL(events: DataFrame, idCol: String, tsCol: String,
      ttl: String): DataFrame =
    events.withWatermark(tsCol, ttl).dropDuplicatesWithinWatermark(idCol)

  /** Tumbling-window counts with grace (AnomalyDetectionLambdaExample.java:
    * 131-141; grace = watermark delay, W5). Append mode emits only closed
    * windows — the reference's suppress(untilWindowCloses) (W6) is the
    * default here, not an extra operator. */
  def tumblingCounts(df: DataFrame, tsCol: String, keyCol: String,
      size: String, grace: String): DataFrame =
    df.withWatermark(tsCol, grace)
      .groupBy(window(col(tsCol), size).as("w"), col(keyCol))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("window_start"), col(keyCol), col("cnt"))

  /** Hopping-window counts (PageViewRegionLambdaExample.java:183). */
  def hoppingCounts(df: DataFrame, tsCol: String, keyCol: String,
      size: String, slide: String, grace: String): DataFrame =
    df.withWatermark(tsCol, grace)
      .groupBy(window(col(tsCol), size, slide).as("w"), col(keyCol))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("window_start"), col(keyCol), col("cnt"))

  /** Session-window aggregate (SessionWindowsExample.java:157-172,
    * FraudService.java:91-99): inactivity-gap sessions, merged by the
    * state store exactly like the reference's session merger; grace via
    * watermark. */
  def sessionCounts(df: DataFrame, tsCol: String, keyCol: String,
      gap: String, grace: String): DataFrame =
    df.withWatermark(tsCol, grace)
      .groupBy(session_window(col(tsCol), gap).as("sw"), col(keyCol))
      .agg(count(lit(1)).as("cnt"))
      .select(col(keyCol), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("cnt"))

  /** Windowed stream-stream join (J5/J6, StreamToStreamJoinIntegrationTest
    * .java:96-110): both sides buffered within the time bound; joinType
    * "inner" | "left_outer" | "full_outer" — outer rows emit null-padded
    * after the watermark closes the window, matching the reference's
    * "shown/not-clicked-yet" behavior. */
  def windowedJoin(left: DataFrame, right: DataFrame, keyCol: String,
      bound: String, joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark("ts", bound)
      .select(col(keyCol).as("l_key"), col("ts").as("l_ts"),
        col("value").as("l_value"))
    val r = right.withWatermark("ts", bound)
      .select(col(keyCol).as("r_key"), col("ts").as("r_ts"),
        col("value").as("r_value"))
    l.join(r,
      col("l_key") === col("r_key") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $bound") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $bound"),
      joinType)
  }

  /** Stream⋈static join (J1/J3, GlobalKTablesExample.java:183-196): the
    * static side is broadcast — the GlobalKTable. */
  def streamStaticJoin(stream: DataFrame, dim: DataFrame,
      streamKey: String, dimKey: String): DataFrame =
    stream.join(broadcast(dim), col(streamKey) === col(dimKey))

  // ---- typed stateful ops (Processor API analogs) --------------------

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class Counted(event_id: Long, user_id: Long, seq: Long)
  case class Latest(user_id: Long, ts: Timestamp, event_id: Long,
      event_type: String, value: Double)
  case class OrderLine(order_id: Long, product: Long, quantity: Double,
      ts: Timestamp)
  case class Reservation(order_id: Long, product: Long, result: String)

  /** A11 running per-record count (StateStoresInTheDSLIntegrationTest
    * .java:65-106): ever-incrementing count per key, one output row per
    * input record. Keyed state = the KV store; rows within a batch are
    * ordered by (ts, event_id) for determinism.
    *
    * The per-group sort materializes one key's worth of ONE micro-batch
    * (not all state) — bounded by trigger sizing. A zero-copy fold would
    * need the rows pre-sorted by (key, ts), which GroupState's
    * no-update-after-return contract can't consume incrementally; if a
    * single hot key's per-batch volume ever exceeds executor memory,
    * shrink the trigger interval. */
  def runningCount(events: Dataset[Event]): Dataset[Counted] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, Counted](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: Long, it: Iterator[Event], state: GroupState[Long]) =>
          var n = state.getOption.getOrElse(0L)
          val out = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
            n += 1
            Counted(e.event_id, key, n)
          }
          state.update(n)
          out.iterator
      }
  }

  /** A11 running count on the transformWithState API — Spark 4's typed
    * replacement for the Processor API and the closest structural analog
    * of the reference's `Processor` + KV store
    * (StateStoresInTheDSLIntegrationTest.java:65-106): named state
    * variables (ValueState/ListState/MapState, optional TTL) on a
    * RocksDB-backed store, explicit init/handleInputRows lifecycle.
    * Semantics identical to [[runningCount]]; requires
    * `spark.sql.streaming.stateStore.providerClass` =
    * RocksDBStateStoreProvider. */
  class RunningCountProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, Counted] {
    import org.apache.spark.sql.streaming.{TimerValues, TimeMode, ValueState, TTLConfig}
    import org.apache.spark.sql.Encoders
    @transient private var countState: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      countState = getHandle.getValueState[Long]("count", Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[Counted] = {
      var n = if (countState.exists()) countState.get() else 0L
      val out = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
        n += 1
        Counted(e.event_id, key, n)
      }
      countState.update(n)
      out.iterator
    }
  }

  def runningCountTws(events: Dataset[Event]): Dataset[Counted] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events.groupByKey(_.user_id)
      .transformWithState(new RunningCountProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  case class IdEvent(event_id: Long, ts: Timestamp, payload: Long)

  /** W9 event dedup on the transformWithState API — the TWS port of the
    * reference's FLAGSHIP Processor example
    * (EventDeduplicationLambdaIntegrationTest.java:84-158: an
    * `eventIdStore` WindowStore remembers seen ids; first occurrence
    * forwards, duplicates in the retention window drop). State here is a
    * named ValueState PER EVENT ID with NATIVE state TTL — `TTLConfig` is
    * the TWS analog of the reference's `maintainDurationPerEventInMs`
    * retention: an id's "seen" marker expires after `ttl` and the next
    * occurrence forwards again, with expiry owned by the store (RocksDB
    * compaction-filter style), not by operator code. Semantic note vs
    * [[dedupWithTTL]]: TTLConfig ages state by PROCESSING time while
    * dropDuplicatesWithinWatermark bounds it by the EVENT-time watermark —
    * the reference's WindowStore is event-time-stamped but its punctuator
    * purges on stream time, so both mappings are faithful to half of that
    * contract; pick by whether replays must re-dedup (watermark form) or
    * wall-clock retention rules (TTL form). */
  class DedupTtlProcessor(ttl: java.time.Duration)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, IdEvent, IdEvent] {
    import org.apache.spark.sql.streaming.{TimerValues, TimeMode, ValueState, TTLConfig}
    import org.apache.spark.sql.Encoders
    @transient private var seen: ValueState[Boolean] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Boolean]("seen", Encoders.scalaBoolean,
        if (ttl == null) TTLConfig.NONE else TTLConfig(ttl))
    override def handleInputRows(key: Long, rows: Iterator[IdEvent],
        timers: TimerValues): Iterator[IdEvent] =
      if (seen.exists()) Iterator.empty // a live marker: every row is a dup
      else {
        seen.update(true)
        // first occurrence in this batch forwards; its in-batch duplicates
        // drop with it (deterministic: earliest (ts, payload) wins)
        Iterator.single(rows.minBy(e => (e.ts.getTime, e.payload)))
      }
  }

  /** [[dedupWithTTL]] on transformWithState (requires the RocksDB state
    * provider); `ttl = null` disables expiry.
    *
    * Operational note: TTLConfig forces TimeMode.ProcessingTime, under
    * which TransformWithStateExec reports shouldRunAnotherBatch=true on
    * EVERY batch (processing-time expiry can fire at any wall-clock
    * instant), so an untriggered query busy-loops empty micro-batches —
    * each a full state-store commit. Run it with a processing-time
    * trigger sized to the acceptable expiry lag, and don't wait on
    * `processAllAvailable()` (the no-new-data state is never reached —
    * poll the sink instead, as the spec does). */
  def dedupWithTTLTws(events: Dataset[IdEvent],
      ttl: java.time.Duration): Dataset[IdEvent] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events.groupByKey(_.event_id)
      .transformWithState(new DedupTtlProcessor(ttl),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  case class OpenSession(start: Long, end: Long, cnt: Long)
  case class SessionOut(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, cnt: Long)

  /** A9/W3 session windows on the transformWithState API — TWS port #5,
    * and the first to exercise TIMERS: the reference's session MERGER
    * (SessionWindowsExample.java:157-172,
    * `SessionWindows.ofInactivityGapAndGrace`) implemented the way Kafka
    * Streams' session store does it. Per-key state is the OPEN-session
    * list; each arriving record merges every session within the
    * inactivity gap (plus itself) into one; emission happens when the
    * EVENT-TIME timer at the session's close (end + gap) fires — i.e.
    * when the watermark passes the close. That is exactly the
    * suppressed-until-close behavior (W6) the native
    * `session_window`+watermark form gets for free; here it is explicit
    * timer lifecycle: `registerTimer` on every (re)extension,
    * `handleExpiredTimer` partitions closed-vs-open. A merge leaves the
    * absorbed session's stale timer registered; it fires, finds nothing
    * closable (the merged session ends later), and is a no-op — so no
    * timer bookkeeping beyond registration is needed, the same
    * tombstone-free trick the reference's merger uses with its window
    * store retention. */
  class SessionWindowProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, SessionOut] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.Encoders
    @transient private var sessions: ListState[OpenSession] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sessions = getHandle.getListState[OpenSession]("sessions",
        Encoders.product[OpenSession], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[SessionOut] = {
      var ss = sessions.get().toList
      rows.toSeq.sortBy(_.ts.getTime).foreach { e =>
        val t = e.ts.getTime
        val (overlap, rest) = ss.partition(s => t >= s.start - gapMs && t <= s.end + gapMs)
        val merged = OpenSession(
          (t +: overlap.map(_.start)).min,
          (t +: overlap.map(_.end)).max,
          overlap.map(_.cnt).sum + 1)
        ss = merged :: rest
      }
      sessions.clear()
      ss.foreach { s =>
        sessions.appendValue(s)
        getHandle.registerTimer(s.end + gapMs)
      }
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[SessionOut] = {
      val fire = expired.getExpiryTimeInMs
      val (closed, open) = sessions.get().toList.partition(s => s.end + gapMs <= fire)
      sessions.clear()
      open.foreach(sessions.appendValue)
      closed.sortBy(_.start).map(s =>
        SessionOut(key, new Timestamp(s.start), new Timestamp(s.end), s.cnt)).iterator
    }
  }

  /** [[sessionCounts]] on transformWithState with event-time timers
    * (RocksDB provider + a watermark on `ts` required). Append mode:
    * each session emits exactly ONCE, at close — the merged final the
    * reference's suppressed session windows ship. */
  def sessionCountsTws(events: Dataset[Event], gapMs: Long,
      grace: String): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events.withWatermark("ts", grace)
      .groupByKey(_.user_id)
      .transformWithState(new SessionWindowProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** S2 KTable: latest value per key as an update-mode changelog
    * (UserRegionLambdaExample.java:125). Emits the new latest row for a
    * key whenever it changes. */
  def latestPerKey(events: Dataset[Event]): Dataset[Latest] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[Latest, Latest](
        GroupStateTimeout.NoTimeout()) {
        (key: Long, it: Iterator[Event], state: GroupState[Latest]) =>
          val candidates = state.getOption.toSeq ++ it.map(e =>
            Latest(key, e.ts, e.event_id, e.event_type, e.value))
          val best = candidates.maxBy(l => (l.ts.getTime, l.event_id))
          state.update(best)
          best
      }
  }

  /** A12 stock reservation (InventoryService.java:132-169): per-product
    * running reserved quantity checked against a fixed stock level;
    * order-dependent PASS/FAIL per order line. `stock` is the inventory
    * table collected to a map — the reference reads it from a KTable
    * store; at scale this is a broadcast lookup. */
  def reservation(orders: Dataset[OrderLine],
      stock: Map[Long, Double]): Dataset[Reservation] = {
    import orders.sparkSession.implicits._
    val stockB = orders.sparkSession.sparkContext.broadcast(stock)
    orders.groupByKey(_.product)
      .flatMapGroupsWithState[Double, Reservation](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (product: Long, it: Iterator[OrderLine], state: GroupState[Double]) =>
          var reserved = state.getOption.getOrElse(0.0)
          val limit = stockB.value.getOrElse(product, 0.0)
          val out = it.toSeq.sortBy(o => (o.ts.getTime, o.order_id)).map { o =>
            if (reserved + o.quantity <= limit) {
              reserved += o.quantity
              Reservation(o.order_id, product, "PASS")
            } else Reservation(o.order_id, product, "FAIL")
          }
          state.update(reserved)
          out.iterator
      }
  }

  case class VecEvent(vec_id: Long, ts: Timestamp, embedding: Seq[Double])
  case class VecBucketed(vec_id: Long, ts: Timestamp, embedding: Seq[Double],
      bucket: Long)
  case class VecKept(vec_id: Long, bucket: Long, n_checked: Int)

  /** Streaming SEMANTIC near-duplicate dedup — W9's exact-id dedup
    * generalized to the training-data case (the stream-side s5/s10): an
    * incoming embedding is a duplicate if an EARLIER-KEPT vector in its
    * SRP bucket is cosine-similar at ≥ `simThreshold`; first occurrence
    * wins and is emitted (the survivor stream), later near-dups drop —
    * including across micro-batches, which is the point of the keyed
    * state. The bucket is computed column-side with the SAME seeded
    * planes as the batch path ([[graft.ops.Similarity.srpBucket]]), so
    * stream and batch agree on candidate generation, and the state key IS
    * the bucket: a new vector compares only against its bucket's kept
    * list, never the corpus — the same never-all-pairs scale shape as s5.
    * Per-bucket state is capped at `maxPerBucket` kept vectors (oldest
    * evicted — the size-bound analog of W9's watermark TTL; SRP buckets
    * are occupancy-tuned small, see the BASELINE.md knob rules). Rows
    * process in (ts, vec_id) order within a batch for determinism. */
  def nearDupDropStream(vecs: Dataset[VecEvent], simThreshold: Double,
      maxPerBucket: Int = 64, numPlanes: Int = graft.ops.Similarity.NumPlanes)
      : Dataset[VecKept] = {
    import vecs.sparkSession.implicits._
    def dot(a: Seq[Double], b: Seq[Double]): Double =
      a.iterator.zip(b.iterator).map { case (x, y) => x * y }.sum
    vecs.toDF()
      .withColumn("bucket",
        graft.ops.Similarity.srpBucket(col("embedding"), numPlanes))
      .as[VecBucketed]
      .groupByKey(_.bucket)
      .flatMapGroupsWithState[List[(Long, Seq[Double], Double)], VecKept](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (bucket: Long, it: Iterator[VecBucketed],
            state: GroupState[List[(Long, Seq[Double], Double)]]) =>
          var kept = state.getOption.getOrElse(Nil) // newest first
          val out = it.toSeq.sortBy(e => (e.ts.getTime, e.vec_id)).flatMap { e =>
            val norm = math.sqrt(dot(e.embedding, e.embedding))
            val dup = norm > 0 && kept.exists { case (_, kEmb, kNorm) =>
              kNorm > 0 && dot(e.embedding, kEmb) / (norm * kNorm) >= simThreshold
            }
            if (dup) None
            else {
              val checked = kept.size
              kept = ((e.vec_id, e.embedding, norm) :: kept).take(maxPerBucket)
              Some(VecKept(e.vec_id, bucket, checked))
            }
          }
          state.update(kept)
          out.iterator
      }
  }

  case class KeptEntry(vec_id: Long, embedding: Seq[Double], norm: Double)

  /** [[nearDupDropStream]] on the transformWithState API — TWS port #4,
    * and the one where the DOMINANT PATH stops writing state entirely: the
    * per-bucket kept-vector list is a `ListState`, stored oldest-first, so
    * a survivor under the cap is ONE `appendValue` (point append, no blob
    * rewrite) and a DROPPED duplicate writes NOTHING — at dedup saturation
    * (the steady state of a crawl stream, and exactly the StreamBench
    * workload) the fMGWS form still re-serializes every touched bucket's
    * whole list every batch while this form is read-only. Only a
    * cap-eviction (bounded, once per survivor beyond the cap) rewrites the
    * list. Semantics identical to [[nearDupDropStream]], asserted by the
    * same plane-orthogonal golden. */
  class NearDupDropProcessor(simThreshold: Double, maxPerBucket: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, VecBucketed, VecKept] {
    import org.apache.spark.sql.streaming.{ListState, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.Encoders
    @transient private var kept: ListState[KeptEntry] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      kept = getHandle.getListState[KeptEntry]("kept",
        Encoders.product[KeptEntry], TTLConfig.NONE)
    private def dot(a: Seq[Double], b: Seq[Double]): Double =
      a.iterator.zip(b.iterator).map { case (x, y) => x * y }.sum
    override def handleInputRows(bucket: Long, rows: Iterator[VecBucketed],
        timers: TimerValues): Iterator[VecKept] = {
      var list = if (kept.exists()) kept.get().toList else Nil // oldest-first
      val out = rows.toSeq.sortBy(e => (e.ts.getTime, e.vec_id)).flatMap { e =>
        val norm = math.sqrt(dot(e.embedding, e.embedding))
        val dup = norm > 0 && list.exists { k =>
          k.norm > 0 && dot(e.embedding, k.embedding) / (norm * k.norm) >= simThreshold
        }
        if (dup) None // the saturation path: zero state writes
        else {
          val checked = list.size
          val entry = KeptEntry(e.vec_id, e.embedding, norm)
          if (list.size < maxPerBucket) { list = list :+ entry; kept.appendValue(entry) }
          else { list = (list :+ entry).takeRight(maxPerBucket); kept.put(list.toArray) }
          Some(VecKept(e.vec_id, bucket, checked))
        }
      }
      out.iterator
    }
  }

  def nearDupDropStreamTws(vecs: Dataset[VecEvent], simThreshold: Double,
      maxPerBucket: Int = 64, numPlanes: Int = graft.ops.Similarity.NumPlanes)
      : Dataset[VecKept] = {
    import vecs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    vecs.toDF()
      .withColumn("bucket",
        graft.ops.Similarity.srpBucket(col("embedding"), numPlanes))
      .as[VecBucketed]
      .groupByKey(_.bucket)
      .transformWithState(new NearDupDropProcessor(simThreshold, maxPerBucket),
        TimeMode.None(), OutputMode.Update())
  }

  case class DocStreamEvent(doc_id: Long, ts: Timestamp, text: String)
  case class AnchorHit(g: String, doc_id: Long, pos: Int, ts: Timestamp)
  case class AnchorMatch(doc_id: Long, pos: Int, owner_doc: Long, owner_pos: Int)
  case class AnchorOwnerState(owner: Long, ownerPos: Int, hits: Int)

  /** TWS port #6 — the STREAMING form of d14's anchor phase
    * (`Dedup.substringDup`): per-anchor-gram ownership in keyed
    * ValueState, FIRST writer wins (the crawl-stream rule: the earliest
    * document owns the span; later documents carrying the same verbatim
    * ≥[[graft.ops.Dedup.AnchorTokens]]-token span attribute to it). Each
    * later occurrence emits one (doc, pos, owner, owner_pos) match — the
    * downstream diagonal/island grouping is d14's batch rollup, applied
    * to the match stream at any cadence. A per-gram emission cap is the
    * streaming analog of d14's df cap: once a gram has attributed
    * `maxHits` times it is a saturated stop-phrase and goes silent
    * (state stops being written too — the read-only-at-saturation
    * discipline of [[NearDupDropProcessor]]). State per gram is O(1)
    * (owner + counter), not a member list. */
  class AnchorOwnerProcessor(maxHits: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, AnchorHit, AnchorMatch] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var st: ValueState[AnchorOwnerState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[AnchorOwnerState]("owner",
        Encoders.product[AnchorOwnerState], TTLConfig.NONE)
    override def handleInputRows(g: String, rows: Iterator[AnchorHit],
        timers: TimerValues): Iterator[AnchorMatch] = {
      var s = if (st.exists()) st.get() else null
      val out = rows.toSeq.sortBy(h => (h.ts.getTime, h.doc_id, h.pos)).flatMap { h =>
        if (s == null) {
          s = AnchorOwnerState(h.doc_id, h.pos, 0); st.update(s); None
        } else if (h.doc_id == s.owner) None // self-repetition is t8's business
        else if (s.hits < maxHits) {
          s = s.copy(hits = s.hits + 1); st.update(s)
          Some(AnchorMatch(h.doc_id, h.pos, s.owner, s.ownerPos))
        } else None // saturated stop-phrase: silent, zero state writes
      }
      out.iterator
    }
  }

  /** Document stream → anchor-match stream (see [[AnchorOwnerProcessor]]).
    * The anchor expansion is the SAME column pipeline as batch d14
    * ([[graft.ops.Dedup.anchorGramsOf]]), so stream and batch agree on
    * what an anchor is by construction. */
  def substringAttribStream(docs: Dataset[DocStreamEvent], maxHits: Int = 50)
      : Dataset[AnchorMatch] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    docs.toDF()
      .select(col("doc_id"), col("ts"), graft.ops.TextAnalysis.tokens.as("t"))
      .select(col("doc_id"), col("ts"), posexplode(graft.ops.Dedup.anchorGramsOf(col("t"))))
      .select(col("col").as("g"), col("doc_id"), col("pos").cast("int").as("pos"),
        col("ts"))
      .as[AnchorHit]
      .groupByKey(_.g)
      .transformWithState(new AnchorOwnerProcessor(maxHits),
        TimeMode.None(), OutputMode.Update())
  }

  /** STREAMING DELTA DEDUP — d16's ingest form: documents stream in and
    * each gets an exact/near/new verdict against a STATIC standing
    * corpus (its content-hash table and banded MinHash signature table,
    * prepared batch-side — in production the [[graft.ops.Artifacts]]
    * store). The arriving document is one row, so its signature is the
    * per-row ARRAY expression ([[graft.ops.Dedup.minhashSigArray]] — no
    * explode+groupBy, the scrub stage stays stateless until the final
    * per-doc reduction); both corpus probes are stream-static LEFT
    * equality joins (band-bucket for near, md5 for exact — stateless,
    * the static side is a prepared materialization), and the only
    * streaming state is the per-doc best-candidate reduction (Update
    * mode), keyed on (event-time window, doc_id) so the 10-second
    * watermark genuinely bounds it: state for closed windows is
    * evicted, not accumulated forever.
    *
    * `corpusBanded` = (band, bucket, c_id, c_sig); `corpusHashes` =
    * (ch, exact_partner). Output matches the batch d16 row shape. */
  def deltaDedupStream(docs: Dataset[DocStreamEvent],
      corpusBanded: DataFrame, corpusHashes: DataFrame): DataFrame = {
    val nPerms = graft.ops.Dedup.NumPerms
    graft.functions.GraftExtensions.register(docs.sparkSession) // graft_minhash
    val cand = docs.toDF()
      .withWatermark("ts", "10 seconds")
      .withColumn("ch", md5(col("text")))
      .withColumn("t", graft.ops.TextAnalysis.tokens)
      .withColumn("sig", graft.ops.Dedup.minhashSigArray(col("t")))
      .join(corpusHashes, Seq("ch"), "left")
      .select(col("doc_id"), col("ts"), col("sig"), col("exact_partner"),
        explode(graft.ops.Dedup.bandBuckets(col("sig"))).as("bb"))
      .select(col("doc_id"), col("ts"), col("sig"), col("exact_partner"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      .join(corpusBanded, Seq("band", "bucket"), "left")
      .withColumn("est", when(col("c_id").isNotNull,
        size(filter(zip_with(col("sig"), col("c_sig"), (a, b) => a === b),
          v => v)).cast("double") / nPerms))
    // the per-doc reduction is keyed on (event-time window, doc_id) so
    // the declared watermark REALLY evicts: state for a window older
    // than watermark − 10 s is dropped (ADVICE r13 #3 — previously the
    // group had no event-time column and the watermark was dead code).
    // All of a doc's candidate rows carry the doc's single ingest ts,
    // so the window key never splits a doc; the output shape (batch
    // d16's) is unchanged.
    cand.groupBy(window(col("ts"), "10 seconds"), col("doc_id"))
      .agg(max(col("exact_partner")).as("exact_partner"),
        max(when(col("est") >= 0.5,
          struct(col("est").as("e"), (-col("c_id")).as("nc")))).as("best"))
      .select(col("doc_id"),
        when(col("exact_partner").isNotNull, "exact")
          .when(col("best").isNotNull, "near")
          .otherwise("new").as("verdict"),
        coalesce(col("exact_partner"), -col("best.nc")).as("partner"),
        when(col("exact_partner").isNotNull, 1.0)
          .otherwise(col("best.e")).as("est_jaccard"))
  }

  /** STREAMING INDEX ASSIGNMENT — s20's ingest form, completing the
    * ingest-discipline family on the EMBEDDING side (near-dup drop
    * [[nearDupDropStream]] → ASSIGNMENT): arriving vectors are assigned
    * to their nearest cell of the FROZEN coarse index (`cents` =
    * (cent_id, c_emb, c_norm), prepared batch-side — the s20/r15
    * incremental-maintenance discipline: assign between retrains, let
    * [[graft.ops.Similarity.retrainOnDrift]] decide when the index
    * itself must move). Output (vec_id, cell, sim) matches batch s20's
    * assignment columns exactly (StreamOpsSpec pins per-vector
    * equality); occupancy is a corpus-side statistic joined downstream.
    *
    * Scale shape: the centroid table broadcasts (C = √n rows — the
    * committed stride rule keeps it broadcast-sized at any corpus), the
    * batch×C scoring is stateless column work, and the only streaming
    * state is the per-vector argmax keyed on (event-time window,
    * vec_id) — watermark-evicted, the deltaDedupStream discipline. */
  def cellAssignStream(vecs: Dataset[VecEvent], cents: DataFrame): DataFrame = {
    import graft.ops.Similarity
    vecs.toDF()
      .withWatermark("ts", "10 seconds")
      .withColumn("norm", Similarity.l2norm(col("embedding")))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("ts"), col("cent_id"),
        (Similarity.dot(col("embedding"), col("c_emb")) /
          (col("norm") * col("c_norm"))).as("csim"))
      .groupBy(window(col("ts"), "10 seconds"), col("vec_id"))
      .agg(max_by(struct(col("cent_id").as("cell"), col("csim")),
        struct(coalesce(col("csim"), lit(Double.NegativeInfinity)),
          (-col("cent_id")).as("tb"))).as("m"))
      .select(col("vec_id"), col("m.cell").as("cell"),
        round(col("m.csim"), 6).as("sim"))
  }

  /** STREAMING LM-QUALITY GATE — t27's ingest form, completing the
    * ingest-discipline family (dedup [[deltaDedupStream]] → QUALITY →
    * index [[invertedIndexStream]]): arriving documents are scored
    * against the FROZEN corpus bigram LM
    * ([[graft.ops.TextAnalysis.lmModel]], prepared batch-side — in
    * production the Artifacts store, refreshed on the drift cadence)
    * and each gets (n_bigrams, ppl, keep) — the same integer-micro-nat
    * arithmetic as batch t27, so in-corpus documents score IDENTICALLY
    * to the batch gate (StreamOpsSpec pins equality per doc).
    *
    * OOV handling is the t28 back-off: a bigram (or context word)
    * unseen in the frozen model coalesces to cnt=0 / ctx_cnt=0, so its
    * smoothed probability is α/(α·V) = 1/V — novel text gets a finite,
    * honestly-bad perplexity instead of a drop or a crash.
    *
    * Scale shape: the doc explodes to bigram grain STATELESSLY, both
    * model probes are stream-static LEFT equality joins against
    * vocabulary-bounded tables (V folds in as a one-row broadcast), and
    * the only streaming state is the per-doc reduction keyed on
    * (event-time window, doc_id) — the deltaDedupStream discipline, so
    * the 10-second watermark genuinely evicts closed windows. */
  def lmQualityStream(docs: Dataset[DocStreamEvent],
      lm: graft.ops.TextAnalysis.LmModel,
      keepPpl: Double = graft.ops.TextAnalysis.LmKeepPpl): DataFrame = {
    val a = graft.ops.TextAnalysis.LmAlpha
    docs.toDF()
      .withWatermark("ts", "10 seconds")
      .select(col("doc_id"), col("ts"), graft.ops.TextAnalysis.tokens.as("t"))
      .select(col("doc_id"), col("ts"),
        explode(graft.ops.TextAnalysis.bigramPairs(col("t"))).as("bg"))
      .select(col("doc_id"), col("ts"),
        col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .join(lm.counts, Seq("w1", "w2"), "left")
      .join(lm.ctx, Seq("w1"), "left")
      .crossJoin(broadcast(lm.v))
      .withColumn("lpm", round(log(
          (coalesce(col("cnt"), lit(0L)).cast("double") + a) /
            (coalesce(col("ctx_cnt"), lit(0L)).cast("double") + col("v") * a))
          * 1e6, 0).cast("long"))
      .groupBy(window(col("ts"), "10 seconds"), col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lpm")).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        round(exp(-col("s").cast("double") / 1e6 / col("n_bigrams")), 6)
          .as("ppl"))
      .withColumn("keep", when(col("ppl") <= keepPpl, 1).otherwise(0))
  }

  case class SourcedDocEvent(doc_id: Long, ts: Timestamp, source: String,
      text: String)

  /** STREAMING MIXTURE GATE — t30's α-temperature sampling decision at
    * ingest time, completing the ingest-gate family (dedup gate → LM
    * quality gate → mixture gate → index assignment): each arriving
    * document is kept or dropped by the SAME deterministic rule the
    * batch sampler applies — md5 bucket of the text vs the source's
    * frozen `rate_ppm` — so a document admitted by the stream is
    * exactly a document the batch pass would have kept (StreamOpsSpec
    * pins per-source count AND per-doc parity). The rates table is
    * [[graft.ops.TextAnalysis.alphaRatesFrame]]'s TOTALS-GRAIN output
    * (in production: the persisted artifact of the last corpus build)
    * — one row per budgeted source, INCLUDING a source whose sampled
    * keep-set happened to be empty; joining t30's kept-rollup instead
    * would silently drop every future document of such a source (the
    * review-caught contract break). A source the frozen table has
    * never seen gets `keep = false` (ingest-safe: admit nothing
    * un-budgeted until the next rates rebuild — the same
    * drop-by-default posture as the dedup gate's 'exact' verdict).
    *
    * Scale shape: STATELESS — one in-row md5 projection plus a
    * stream-static broadcast join against the source-grain rates table
    * (bounded by source count at any corpus size); no watermark, no
    * state store, append semantics. */
  def mixtureGateStream(docs: Dataset[SourcedDocEvent],
      rates: DataFrame): DataFrame =
    docs.toDF()
      .withColumn("bucket",
        conv(substring(md5(col("text")), 1, 4), 16, 10).cast("long"))
      .join(broadcast(rates.select(col("source"), col("rate_ppm"))),
        Seq("source"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("bucket") * 1000000L < col("rate_ppm") * 65536L,
          lit(false)).as("keep"))

  case class TermPosting(term: String, doc_id: Long, tf: Long)
  case class IndexHead(term: String, df: Long, corpus_tf: Long, rk: Int,
      doc_id: Long, tf: Long)

  /** STREAMING INVERTED-INDEX MAINTENANCE — TWS port #7, the live
    * counterpart of the batch t19 build: a crawl stream of documents
    * continuously maintains, per term, the document frequency, corpus
    * term frequency, and the top-`topDocs` posting head — the index a
    * retrieval tier reads while ingest never stops.
    *
    * Input semantics are each-doc-once (a crawl ingest: every doc_id
    * arrives exactly once — recrawls are new doc_ids), so df increments
    * UNCONDITIONALLY per posting and needs no seen-docs set; the only
    * state per term is two O(1) counters (ValueState) plus the head map
    * capped at topDocs + margin (MapState — each posting is an individual
    * store key, so a one-doc update is a RocksDB point put, the
    * incremental-top-N discipline, not a blob rewrite). Eviction keeps
    * (tf desc, doc_id asc): a capped head can momentarily under-rank a
    * future heavy doc that was never evicted — the same bounded-state
    * approximation incrementalTopN documents; widen `margin` to make it
    * arbitrarily rare. The per-doc (term, tf) pairs are built INSIDE the
    * row (array_distinct × in-doc count — O(distinct·len) per doc,
    * bounded by upstream chunking), so the only shuffle is the term
    * grouping itself. */
  def invertedIndexStream(docs: Dataset[DocStreamEvent], topDocs: Int = 3,
      margin: Int = 8): Dataset[IndexHead] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    val toks = col("toks")
    docs.toDF()
      .select(col("doc_id"), graft.ops.TextAnalysis.tokens.as("toks"))
      .select(col("doc_id"), explode(transform(array_distinct(toks),
        t => struct(t.as("term"),
          size(filter(toks, x => x === t)).cast("long").as("tf")))).as("p"))
      .select(col("p.term").as("term"), col("doc_id"), col("p.tf").as("tf"))
      .as[TermPosting]
      .groupByKey(_.term)
      .transformWithState(new InvertedIndexProcessor(topDocs, margin),
        TimeMode.None(), OutputMode.Update())
  }

  case class TermCounters(df: Long, tf: Long)

  /** See [[invertedIndexStream]]. Emits the refreshed head for every
    * term touched in the batch. */
  class InvertedIndexProcessor(n: Int, margin: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, TermPosting, IndexHead] {
    import org.apache.spark.sql.streaming.{MapState, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var counters: ValueState[TermCounters] = _
    @transient private var head: MapState[Long, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      counters = getHandle.getValueState[TermCounters]("counters",
        Encoders.product[TermCounters], TTLConfig.NONE)
      head = getHandle.getMapState[Long, Long]("head",
        Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(term: String, rows: Iterator[TermPosting],
        timers: TimerValues): Iterator[IndexHead] = {
      var c = if (counters.exists()) counters.get() else TermCounters(0L, 0L)
      rows.foreach { p =>
        c = TermCounters(c.df + 1, c.tf + p.tf)
        head.updateValue(p.doc_id, p.tf)
      }
      counters.update(c)
      val ranked = head.iterator().map { case (d, t) => (d, t) }.toSeq
        .sortBy { case (d, t) => (-t, d) }
      ranked.drop(n + margin).foreach { case (d, _) => head.removeKey(d) }
      ranked.take(n).zipWithIndex.map { case ((d, t), i) =>
        IndexHead(term, c.df, c.tf, i + 1, d, t)
      }.iterator
    }
  }

  case class ChangelogEntry(group: String, id: Long, value: Option[Double])
  case class ChartRow(group: String, pos: Int, id: Long, value: Double)

  /** A7 TRUE incremental re-grouped-table top-N (TopArticlesLambdaExample
    * .java:218-235, KafkaMusicExample.java:342-375): the per-group state is
    * the live member→value map; each changelog update ADDS the new value
    * and implicitly SUBTRACTS the old one (the reference's adder/subtractor
    * pair), a `None` value is the KTable tombstone and removes the member.
    * Emits the refreshed chart for every touched group — the continuous
    * top-N changelog.
    *
    * State is CAPPED at the top n + `margin` members per group, so a group
    * with huge member cardinality (every song ever played) keeps bounded
    * state. The changelog carries ABSOLUTE aggregate values (KTable
    * semantics), so an evicted member re-enters correctly the moment any
    * new value arrives for it — eviction never corrupts a later value.
    * The one approximated case is passive re-entry: if a charted member is
    * tombstoned and an already-evicted member should fill the freed slot
    * WITHOUT receiving a new update, its value is gone — the cost of
    * bounded state; widen `margin` to make it arbitrarily rare.
    *
    * `emitEmpty`: when a group's LAST member is tombstoned its chart has
    * no rows to emit, so a downstream upsert store would keep serving the
    * stale chart forever. With emitEmpty=true the group emits ONE
    * deletion marker instead — `pos = 0` (real chart rows are 1-based),
    * id = -1, value = 0 — the explicit per-key "empty chart" record
    * that, flagged by [[Sources.serveUpserted]]'s `isTombstone`, removes
    * the group from the served view.
    * The group's state entry is removed either way (no leak). */
  def incrementalTopN(updates: Dataset[ChangelogEntry], n: Int,
      margin: Int = 8, emitEmpty: Boolean = false): Dataset[ChartRow] = {
    import updates.sparkSession.implicits._
    updates.groupByKey(_.group)
      .flatMapGroupsWithState[Map[Long, Double], ChartRow](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (group: String, it: Iterator[ChangelogEntry], state: GroupState[Map[Long, Double]]) =>
          val updated = it.foldLeft(state.getOption.getOrElse(Map.empty[Long, Double])) {
            (m, e) => e.value match {
              case Some(v) => m.updated(e.id, v) // add (replaces = subtract old)
              case None    => m - e.id           // tombstone
            }
          }
          val members = if (updated.size <= n + margin) updated
            else updated.toSeq.sortBy { case (id, v) => (-v, id) }
              .take(n + margin).toMap
          if (members.isEmpty) {
            state.remove() // a member-less group holds no state
            if (emitEmpty) Iterator.single(ChartRow(group, 0, -1L, 0.0))
            else Iterator.empty
          } else {
            state.update(members)
            members.toSeq
              .sortBy { case (id, v) => (-v, id) } // value desc, id asc
              .take(n).zipWithIndex
              .map { case ((id, v), i) => ChartRow(group, i + 1, id, v) }
              .iterator
          }
      }
  }

  /** [[incrementalTopN]] on the transformWithState API — TWS port #3, and
    * the one where the state SHAPE changes, not just the API: fMGWS holds
    * each group's membership as ONE state blob (the whole Map re-serialized
    * every batch), while TWS `MapState` keys each member individually in
    * the store, so a 1-member update is a point get/put against RocksDB
    * instead of an O(cap) blob rewrite — at a 1000-group × 100k-member
    * scale that is the difference between per-batch I/O proportional to
    * TOUCHED members vs to TOTAL capped membership. Eviction and emission
    * still scan the group's entries (bounded by n + margin, tiny); the
    * capped-state / absolute-value / emitEmpty semantics are identical to
    * [[incrementalTopN]] and asserted by the shared golden. */
  class IncrementalTopNProcessor(n: Int, margin: Int, emitEmpty: Boolean)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, ChangelogEntry, ChartRow] {
    import org.apache.spark.sql.streaming.{MapState, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.Encoders
    @transient private var members: MapState[Long, Double] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      members = getHandle.getMapState[Long, Double]("members",
        Encoders.scalaLong, Encoders.scalaDouble, TTLConfig.NONE)
    override def handleInputRows(group: String, rows: Iterator[ChangelogEntry],
        timers: TimerValues): Iterator[ChartRow] = {
      rows.foreach { e =>
        e.value match {
          case Some(v) => members.updateValue(e.id, v)
          case None    => members.removeKey(e.id)
        }
      }
      val all = members.iterator().map { case (id, v) => (id, v) }.toSeq
      if (all.isEmpty) {
        members.clear()
        if (emitEmpty) Iterator.single(ChartRow(group, 0, -1L, 0.0))
        else Iterator.empty
      } else {
        val ranked = all.sortBy { case (id, v) => (-v, id) }
        ranked.drop(n + margin).foreach { case (id, _) => members.removeKey(id) }
        ranked.take(n).zipWithIndex
          .map { case ((id, v), i) => ChartRow(group, i + 1, id, v) }
          .iterator
      }
    }
  }

  def incrementalTopNTws(updates: Dataset[ChangelogEntry], n: Int,
      margin: Int = 8, emitEmpty: Boolean = false): Dataset[ChartRow] = {
    import updates.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    updates.groupByKey(_.group)
      .transformWithState(new IncrementalTopNProcessor(n, margin, emitEmpty),
        TimeMode.None(), OutputMode.Update())
  }

  case class SessionEvent(user: String, ts: Timestamp)
  /** One update-mode changelog record: `cnt = None` is the tombstone for a
    * session window that was merged away; `seq` is a per-key monotonic
    * emission number so tests can assert the exact sequence without
    * depending on sink row order. */
  case class SessionChange(user: String, start: Long, end: Long,
      cnt: Option[Long], seq: Long)
  case class SessionListState(sessions: List[(Long, Long, Long)], seq: Long)

  /** Session-window MERGE CHANGELOG (SessionWindowsExample.java:157-172,
    * golden sequence SessionWindowsExampleTest.java:125-137): the exact
    * update-mode emission semantics of a Kafka Streams session aggregation
    * with caching disabled. Per incoming event: every existing session
    * overlapping [ts−gap, ts+gap] is merged; each merged-away window whose
    * bounds changed gets a TOMBSTONE (cnt=None, in session-start order),
    * then the merged window emits its new count. A lone event emits just
    * its 1-count session. State is the per-key list of open sessions —
    * the session store; native `session_window` aggregation (sessionCounts)
    * emits merged FINALS only, this operator emits the reference's full
    * changelog. Like the reference's session store, state is bounded by
    * RETENTION (SessionWindows grace/retention): sessions whose end falls
    * behind the key's max seen time by more than `retentionMs` are
    * evicted, so a key's state holds only its recent sessions — a late
    * event beyond retention starts a fresh session instead of merging. */
  def sessionChangelog(events: Dataset[SessionEvent], gapMs: Long,
      retentionMs: Long = Long.MaxValue): Dataset[SessionChange] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user)
      .flatMapGroupsWithState[SessionListState, SessionChange](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: String, it: Iterator[SessionEvent], state: GroupState[SessionListState]) =>
          var st = state.getOption.getOrElse(SessionListState(Nil, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[SessionChange]
          var maxTs = st.sessions.map(_._2).foldLeft(Long.MinValue)(_ max _)
          it.toSeq.sortBy(_.ts.getTime).foreach { e =>
            val t = e.ts.getTime
            maxTs = maxTs max t
            if (retentionMs != Long.MaxValue)
              st = st.copy(sessions = st.sessions.filter(_._2 >= maxTs - retentionMs))
            val (overlap, rest) = st.sessions.partition { case (s, en, _) =>
              t >= s - gapMs && t <= en + gapMs }
            val ns = (t :: overlap.map(_._1)).min
            val ne = (t :: overlap.map(_._2)).max
            val cnt = overlap.map(_._3).sum + 1
            var seq = st.seq
            overlap.sortBy(_._1).foreach { case (s, en, _) =>
              if ((s, en) != (ns, ne)) {
                out += SessionChange(user, s, en, None, seq); seq += 1
              }
            }
            out += SessionChange(user, ns, ne, Some(cnt), seq); seq += 1
            st = SessionListState(((ns, ne, cnt) :: rest).sortBy(_._1), seq)
          }
          state.update(st)
          out.iterator
      }
  }

  /** One user→region changelog record; `region = None` is the KTable
    * tombstone, `ord` the arrival order (topic-offset analog). */
  case class UserRegion(user: String, region: Option[String], ord: Long)
  /** The re-key repartition record: the reference's adder (+1) or
    * subtractor (−1) for one region. */
  case class RegionDelta(region: String, delta: Int, ord: Long)
  /** Downstream count changelog row: `count = None` is the tombstone the
    * `count >= minCount` HAVING filter emits when a region drops below
    * the threshold; `ord` is the triggering update's offset. */
  case class RegionCount(region: String, count: Option[Long], ord: Long)

  /** A3 stage 1 — the KTable groupBy re-key (UserRegionLambdaExample
    * .java:131): keyed latest region per user; a region CHANGE emits the
    * subtractor for the old region and the adder for the new one, a user
    * tombstone emits just the subtractor. The delta stream is the
    * reference's repartition topic — at scale it shuffles user-grain
    * deltas, never recomputes region counts from scratch. A re-register
    * of the unchanged region is coalesced (no-op), like the reference
    * with record caching on. */
  def regroupDeltas(updates: Dataset[UserRegion]): Dataset[RegionDelta] = {
    import updates.sparkSession.implicits._
    updates.groupByKey(_.user)
      .flatMapGroupsWithState[Option[String], RegionDelta](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: String, it: Iterator[UserRegion], state: GroupState[Option[String]]) =>
          var cur = state.getOption.flatten
          val out = scala.collection.mutable.ArrayBuffer.empty[RegionDelta]
          it.toSeq.sortBy(_.ord).foreach { u =>
            if (u.region != cur) {
              cur.foreach(r => out += RegionDelta(r, -1, u.ord))
              u.region.foreach(r => out += RegionDelta(r, 1, u.ord))
              cur = u.region
            }
          }
          state.update(cur)
          out.iterator
      }
  }

  /** A3 stage 2 — incremental per-region count with the HAVING filter's
    * tombstone (UserRegionLambdaExample.java:132-135): state is one Long
    * per region, each delta adjusts it in place (the add/subtract pair of
    * a region move lands as two deltas), and the changelog emits the new
    * count while ≥ `minCount`, or a tombstone when the region falls back
    * below the threshold — exactly the filtered-KTable view a downstream
    * materialization observes. Chain after [[regroupDeltas]] through a
    * sink (the repartition topic): Spark does not allow two update-mode
    * stateful operators in one query. */
  def regroupCountChangelog(deltas: Dataset[RegionDelta],
      minCount: Long = 2): Dataset[RegionCount] = {
    import deltas.sparkSession.implicits._
    deltas.groupByKey(_.region)
      .flatMapGroupsWithState[(Long, Boolean), RegionCount](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (region: String, it: Iterator[RegionDelta], state: GroupState[(Long, Boolean)]) =>
          var (count, visible) = state.getOption.getOrElse((0L, false))
          val out = scala.collection.mutable.ArrayBuffer.empty[RegionCount]
          it.toSeq.sortBy(_.ord).foreach { d =>
            count += d.delta
            val nowVisible = count >= minCount
            if (nowVisible) out += RegionCount(region, Some(count), d.ord)
            else if (visible) out += RegionCount(region, None, d.ord)
            visible = nowVisible
          }
          state.update((count, visible))
          out.iterator
      }
  }

  /** One side's changelog record for the incremental table⋈table join:
    * `side` is "L" or "R", `value = None` is the KTable tombstone, `ord`
    * is the arrival order within a batch (the topic-offset analog). */
  case class TableUpdate(key: String, side: String, value: Option[String], ord: Long)
  case class TableJoined(key: String, value: Option[String], seq: Long)
  case class TableJoinState(left: Option[String], right: Option[String],
      last: Option[String], seq: Long)

  /** J7 STREAMING form — incremental KTable⋈KTable inner join
    * (TableToTableJoinIntegrationTest.java:105-113): both sides'
    * changelogs union into one keyed stream; state holds the latest value
    * per side. An update from EITHER side re-emits the joined row
    * `left + "/" + right` when both sides are present; a tombstone (or an
    * update that removes one side) emits a join tombstone only if the
    * previous emission was non-null — exactly Kafka Streams' inner-join
    * emission rule. Batch `Joins.tableTable` is the recompute form of the
    * same result. */
  def tableTableJoinChangelog(updates: Dataset[TableUpdate]): Dataset[TableJoined] = {
    import updates.sparkSession.implicits._
    updates.groupByKey(_.key)
      .flatMapGroupsWithState[TableJoinState, TableJoined](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: String, it: Iterator[TableUpdate], state: GroupState[TableJoinState]) =>
          var st = state.getOption.getOrElse(TableJoinState(None, None, None, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[TableJoined]
          it.toSeq.sortBy(_.ord).foreach { u =>
            st = if (u.side == "L") st.copy(left = u.value)
                 else st.copy(right = u.value)
            val joined = for { l <- st.left; r <- st.right } yield s"$l/$r"
            if (joined.isDefined || st.last.isDefined) {
              out += TableJoined(key, joined, st.seq)
              st = st.copy(last = joined, seq = st.seq + 1)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** A7/A3 re-grouped-table aggregation, streaming form: recompute the
    * top-N from the latest-per-key view inside foreachBatch — the batch
    * recomputation makes the reference's add/subtract retraction logic
    * implicit (SURVEY.md §7.4). Call as:
    * `latestChangelog.writeStream.foreachBatch(topNForeachBatch(n, sink))`. */
  def topN(latest: DataFrame, groupCol: String, valueCol: String,
      keyCol: String, n: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(valueCol).desc, col(keyCol).asc)
    latest.withColumn("pos", row_number().over(w)).filter(col("pos") <= n)
  }
}
