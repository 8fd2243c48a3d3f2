package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Composite topologies — whole reference examples as single declarative
  * plans, built from the same pieces the operator inventory exercises.
  *
  * Reference sites:
  *  - PageViewRegionLambdaExample.java:150-194: views ⟕ user-region table,
  *    hopping window, count by region
  *  - TopArticlesLambdaExample.java:178-250: hourly windows, top articles
  *    per industry by view count
  *  - AnomalyDetectionLambdaExample.java:124-143: 1-minute windows, users
  *    with ≥3 events flagged
  */
object Composites {

  /** PageViewRegion: view events ⟕ broadcast user→region lookup (customer ⋈
    * nation stands in for the UserRegions table), counted in 1h/15min
    * hopping windows per region; missing users → UNKNOWN. */
  def pageViewRegion(s: SparkSession, dir: String): DataFrame = {
    val userRegion = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("region"))
    Tables.events(s, dir)
      .filter(col("event_type") === "view")
      .join(broadcast(userRegion), col("user_id") === col("c_custkey"), "left")
      .select(col("ts"), coalesce(col("region"), lit("UNKNOWN")).as("region"))
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("region"))
      .agg(count(lit(1)).as("view_count"))
      .select(col("w.start").as("window_start"), col("region"), col("view_count"))
  }

  /** TopArticles: hourly tumbling windows; per (window, event_type) the
    * top-3 users by event count — plays-desc, user-asc like the reference's
    * comparator chain. */
  def topArticles(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("user_id"), col("cnt"))
    val rank = Window.partitionBy(col("window_start"), col("event_type"))
      .orderBy(col("cnt").desc, col("user_id").asc)
    counts.withColumn("pos", row_number().over(rank)).filter(col("pos") <= 3)
  }

  /** Training-data prep funnel: quality-filter → exact-dedup → token count
    * per language — the canonical corpus-preparation chain, fused into one
    * plan (filters push into the scan; one shuffle for the dedup groupBy,
    * one for the final per-language rollup). */
  def prepFunnel(s: SparkSession, dir: String): DataFrame = {
    val toks = size(split(trim(col("text")), TextAnalysis.Ws + "+"))
    val docs = Tables.documents(s, dir)
      .withColumn("n_words", toks)
      .filter(col("n_words") >= 20 && col("n_words") <= 2000)
    val deduped = docs
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"),
        // same text => same n_words; min(lang) makes the rare same-text/
        // different-label case deterministic
        min(col("lang")).as("lang"), min(col("n_words")).as("n_words"))
    deduped.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).cast("long").as("total_tokens"))
  }

  /** The prep funnel extended to the chunked training set: quality filter
    * → exact dedup (keeper = min-doc_id row, its lang rides along via
    * min_by) → per-language chunk/token rollup in the chunker's CLOSED
    * FORM — nc = ⌈(n−overlap)/stride⌉ (min 1), Σtokens = n +
    * overlap·(nc−1) — the arithmetic the DuckDB oracle has always used
    * for this query, which is exactly equivalent to expanding t11's
    * chunk rows and rolling them up (every chunk holds ChunkSize tokens
    * except the tail, and each interior boundary double-counts `overlap`
    * tokens). Round 19: the rollup previously ran the full chunk
    * EXPANSION (posexplode of every token into 1-2 owning chunks, a
    * (doc, chunk)-grain shuffle of token-grain rows) only to count the
    * rows again — the funnel needs the counts, not the chunk hashes, so
    * it pays for two corpus-wide explodes it immediately collapses. The
    * expansion itself (owners routing, chunk_hash) stays measured and
    * oracle-proven in t11_chunking. Shuffle bytes drop too: the dedup
    * group carries (md5 key, doc_id, lang, n_toks) — never the text
    * bytes (n_toks is constant within a same-text group, so computing it
    * pre-group and taking min_by is exact). */
  def prepChunkedFunnel(s: SparkSession, dir: String): DataFrame = {
    val nWords = size(split(trim(col("text")), TextAnalysis.Ws + "+"))
    val stride = TextAnalysis.ChunkSize - TextAnalysis.ChunkOverlap
    val overlap = TextAnalysis.ChunkOverlap
    val deduped = Tables.documents(s, dir)
      .withColumn("n_words", nWords)
      .filter(col("n_words") >= 20 && col("n_words") <= 2000)
      .select(md5(col("text")).as("h"), col("doc_id"), col("lang"),
        size(TextAnalysis.tokens).cast(LongType).as("n"))
      .groupBy(col("h"))
      .agg(min_by(struct(col("doc_id"), col("lang"), col("n")), col("doc_id")).as("d"))
      .select(col("d.lang").as("lang"), col("d.n").as("n"))
    // zero-token documents emit no chunks (posexplode of an empty array),
    // so the expansion dropped them; the closed form must too
    deduped.filter(col("n") >= 1)
      // integer ceil: (n − overlap + stride − 1) div stride, floored at 1
      // (n ≥ 1 keeps the dividend positive, so div == floor == ceil form)
      .withColumn("nc", greatest(
        expr(s"(n - $overlap + ${stride - 1}) div $stride"), lit(1L)))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nc")).as("n_chunks"),
        sum(col("n") + (col("nc") - 1) * overlap).as("total_chunk_tokens"))
  }

  /** WikiFeed schema (WikipediaFeedAvroExample; src/main/resources/avro/
    * io/confluent/examples/streams/wikifeed.avsc) — incl. the idiomatic
    * nullable union for `content`. */
  val wikiFeedSchemaJson: String =
    """{"type":"record","name":"WikiFeed","namespace":"graft.avro","fields":[
      |{"name":"username","type":"string"},
      |{"name":"is_new","type":"boolean"},
      |{"name":"content","type":["string","null"]}]}""".stripMargin

  /** WikipediaFeedAvro (WikipediaFeedAvroLambdaExample.java:130-136): the
    * reference's Avro-typed flagship — WikiFeed records arrive on the
    * wire, old feeds are filtered out, and new-user feeds are counted per
    * user. Here the records genuinely round-trip through Avro binary
    * (AvroCodec) before the filter+count, so the oracle (which aggregates
    * the raw table) fails if the wire format corrupts anything —
    * including null `content` union branches. */
  def wikipediaFeed(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.AvroCodec
    val feed = Tables.events(s, dir).select(
      col("user_id").cast("string").as("username"),
      (col("event_type") === "signup").as("is_new"),
      // nullable content exercises the union branch
      when(col("event_id") % 10 =!= 0, col("props")).as("content"))
    val decoded = AvroCodec.decode(
      AvroCodec.encode(feed, wikiFeedSchemaJson), wikiFeedSchemaJson)
    decoded.filter(col("is_new"))
      .groupBy(col("username"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** KafkaMusic flagship chart (interactivequeries/kafkamusic/
    * KafkaMusicExample.java:296-377): play events with a chartable
    * duration (≥ 30, `:312`, MIN_CHARTABLE_DURATION `:169`) re-key to
    * their song (`:314`), join the song table (`:318-320`), count per
    * song (`:323-327`), and the top-5 per genre plus the top-5 overall
    * (`:342-377`, TOP_FIVE_KEY = "all" `:176`) are the two rank
    * branches — ties break plays-desc / songId-asc exactly like the
    * TopFiveSongs comparator (`:457-468`).
    *
    * Testdata mapping: events.value is the play duration, `part` is the
    * song table (lower(p_brand) = genre, `:341`'s toLowerCase), and the
    * play→song key is event_id mod 200 + 1 (every SF has ≥ 200 parts).
    * Scale shape: the song dim broadcasts, the count is one shuffle at
    * song grain, and both rank branches read the tiny checkpointed
    * counts table (song-grain, ≪ plays) — the rank+filter pair plans as
    * WindowGroupLimit, so even the global chart does a partial top-5
    * per partition before the single-partition merge. */
  def musicChart(s: SparkSession, dir: String): DataFrame = {
    val songs = Tables.part(s, dir).select(
      col("p_partkey").as("song_id"), col("p_name").as("song_name"),
      lower(col("p_brand")).as("genre"))
    // song-grain counts feed both chart branches; checkpointed because
    // Catalyst does not reuse exchanges across union subtrees
    val counts = Tables.events(s, dir)
      .filter(col("value") >= 30)
      .select((pmod(col("event_id"), lit(200)) + 1).as("song_id"))
      .join(broadcast(songs), Seq("song_id"))
      .groupBy(col("song_id"), col("song_name"), col("genre"))
      .agg(count(lit(1)).as("plays"))
      .localCheckpoint()
    val perGenre = Window.partitionBy(col("genre"))
      .orderBy(col("plays").desc, col("song_id").asc)
    val overall = Window.partitionBy()
      .orderBy(col("plays").desc, col("song_id").asc)
    val byGenre = counts
      .withColumn("pos", row_number().over(perGenre))
      .filter(col("pos") <= 5)
      .withColumn("chart", col("genre"))
    val allChart = counts
      .withColumn("pos", row_number().over(overall))
      .filter(col("pos") <= 5)
      .withColumn("chart", lit("all"))
    byGenre.unionByName(allChart)
      .select(col("chart"), col("pos"), col("song_id"),
        col("song_name"), col("plays"))
  }

  /** The microservices order-validation dataflow end-to-end
    * (microservices/EndToEndTest.java:184-193) as one batch plan:
    * orders synthesized deterministically from lineitem fan out to the
    * three validators (OrderDetails / Fraud / Inventory), verdicts
    * aggregate per order, and the final states roll up to counts.
    *
    * Testdata mapping: one order per lineitem row — order_id =
    * "orderkey-linenumber", customer = l_suppkey (100 customers with
    * multi-order 1h-gap sessions on day-granular shipdates), product =
    * l_partkey, price = l_extendedprice/5000 (sessions straddle the
    * 2000 fraud limit), quantity negated on ~1% of rows (pmod 97) so
    * the details check fails occasionally; warehouse stock = p_size·20
    * (most products exhaust mid-sequence, exercising the non-reserving
    * FAIL walk). All three verdicts exist for every order in batch, so
    * the final state is VALIDATED or FAILED — CREATED only appears in
    * the streaming form where verdicts straddle micro-batches. */
  def microservicesValidation(s: SparkSession, dir: String): DataFrame = {
    import graft.pipelines.OrderPipeline
    // The synthesized orders feed FOUR subtrees (three validators + the
    // final rejoin) and Catalyst does not reuse scans across union/join
    // subtrees — checkpointed, this is the reference's own shape: the
    // orders topic is materialized once and every service consumes it,
    // rather than each service re-deriving it from the source table.
    val orders = Tables.lineitem(s, dir).select(
      concat_ws("-", col("l_orderkey"), col("l_linenumber")).as("order_id"),
      col("l_suppkey").as("customer_id"),
      col("l_partkey").as("product"),
      when(pmod(col("l_orderkey") + col("l_linenumber"), lit(97)) === 0,
        -col("l_quantity")).otherwise(col("l_quantity")).as("quantity"),
      (col("l_extendedprice") / 5000.0).as("price"),
      // shipdate parquet-decodes as TIMESTAMP_NTZ; the UTC session makes
      // this cast read the naive value as UTC, exactly DuckDB's epoch()
      col("l_shipdate").cast("timestamp").as("ts"))
      .localCheckpoint()
    val warehouse = Tables.part(s, dir).select(
      col("p_partkey").as("product"),
      (col("p_size") * 20).cast("double").as("stock"))
    // round-19: the state rollup reads validationStates — the verdict
    // union carries the order's quantity on the (order-grain, narrow)
    // details branch, so the per-order state needs NO rejoin of the full
    // orders table (one shuffle of 3 skinny verdict rows per order
    // replaces that shuffle PLUS a second orders-side exchange + sort-
    // merge join). OrderPipelineSpec pins state-equality between the two
    // forms; validateOrders stays the per-order API for spec/streaming.
    // n_orders counts orders ROWS (duplicate order_ids fan their pooled
    // state back out, exactly the rejoin's semantics — n_rows carries
    // the multiplicity); quantities are integral doubles, so the sum is
    // order-exact
    OrderPipeline.validationStates(orders, warehouse)
      .groupBy(col("state"))
      .agg(sum(col("n_rows")).as("n_orders"),
        sum(col("total_qty")).as("total_qty"))
  }

  /** EmailService enrichment end-to-end (microservices/EmailService
    * .java:100-116): orders ⋈ payments within ±1 minute (the KStream
    * windowed join), then a broadcast GlobalKTable join to customers, and
    * the customer level becomes the per-record routing `topic` (S6).
    *
    * Testdata mapping: orders synthesized from lineitem as in c8;
    * payments exist for l_orderkey%3==0 rows with ts offset by
    * (l_partkey%300 − 150) seconds from the order — ~40% of candidates
    * land inside the inclusive ±60 s window, so the time bound genuinely
    * filters; customers = c_custkey with lower(c_mktsegment) as level. */
  def emailRouted(s: SparkSession, dir: String): DataFrame = {
    import graft.pipelines.OrderPipeline
    val li = Tables.lineitem(s, dir)
    val price = col("l_extendedprice").cast("double") / 5000.0
    val orders = li.select(
      concat_ws("-", col("l_orderkey"), col("l_linenumber")).as("order_id"),
      col("l_suppkey").as("customer_id"),
      col("l_quantity").cast("double").as("quantity"),
      price.as("price"),
      col("l_shipdate").cast("timestamp").as("ts"))
    val payments = li.filter(col("l_orderkey") % 3 === 0).select(
      concat_ws("-", col("l_orderkey"), col("l_linenumber")).as("order_id"),
      // cents rounding as pure IEEE ops (floor(x·100 + 0.5)/100), NOT
      // round(x, 2): decimal-string HALF_UP rounding of a double differs
      // between engines exactly on .xx5 half-edges (Spark rounds the
      // shortest decimal repr, DuckDB the binary value) — a latent
      // mismatch the sf1-synth corpus actually hit (19.365 → 19.37 vs
      // 19.36). The floor form is the same double arithmetic everywhere.
      floor(col("l_quantity").cast("double") * price * 100.0 + 0.5)
        .divide(100.0).as("amount"),
      expr("timestampadd(SECOND, l_partkey % 300 - 150, CAST(l_shipdate AS TIMESTAMP))")
        .as("ts"))
    val customers = Tables.customer(s, dir).select(
      col("c_custkey").as("customer_id"), lower(col("c_mktsegment")).as("level"))
    OrderPipeline.emailEnrichment(orders, payments, customers)
  }

  /** Fraction of the corpus the [[prepFullFunnel]] boilerplate gate
    * keeps: the cleanest `BoilerKeepFrac` of documents by t14 ratio.
    * Corpus-RELATIVE on purpose (VERDICT r10 task 4): a fixed absolute
    * cutoff saturates — the t14 ratio distribution shifts up as the
    * n-gram document frequencies saturate with corpus growth, and the
    * round-10 constant 0.3 left the funnel agreed-EMPTY at sf0.1 and
    * sf1-synth, so the tail stages ran on nothing there. A quantile of
    * the corpus's own distribution keeps the gate meaningful at every
    * decade. */
  val BoilerKeepFrac = 0.7

  /** The round-10 FULL training-data prep funnel — the c4/c6 lineage
    * extended with this round's operators, in the order a production
    * pipeline runs them: corpus statistics first (t14's corpus-wide
    * n-gram document frequencies — stats precede filtering), then per-doc
    * gates: exact-text dedup (min-doc_id canonical), benchmark
    * DECONTAMINATION via d12's attribution pairs (any flagged pair drops
    * the training doc), boilerplate gate (keep the cleanest
    * [[BoilerKeepFrac]] of the corpus by t14 ratio — the threshold is the
    * exact quantile of the corpus's own ratio distribution), stutter
    * cleanup (t13) on the survivors, and a per-language rollup of the
    * surviving corpus.
    *
    * Scale shape: each stage is one of the already-audited shapes — the
    * d12 drop list broadcasts (bounded by real contamination, not corpus
    * size), t14's stats pipeline is its checkpointed form, and the final
    * rollup is a map-side-combined aggregate. The exact-dup keeper set is
    * one row per distinct text — corpus-sized, so it is deliberately
    * UN-hinted: AQE broadcasts it when it fits and falls back to a
    * shuffled join when it doesn't (a forced broadcast here is exactly
    * the id-list OOM a 100 TB corpus with a high dup fraction hits).
    * Nothing here shuffles the corpus more than the component queries
    * already do. */
  def prepFullFunnel(s: SparkSession, dir: String): DataFrame =
    prepSurvivors(s, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_kept")).cast(LongType).as("total_kept_tokens"),
        round(avg(col("boiler_ratio")), 6).as("avg_boiler"))

  /** The funnel's PER-DOCUMENT survivor set — every c10 gate applied
    * (exact dedup, decontamination, quantile boilerplate gate, stutter
    * cleanup) but before the language rollup, so downstream composites
    * (c11's packing) consume the cleaned documents themselves. */
  def prepSurvivors(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .filter(col("doc_id") >= 10) // the training side; < 10 is the bench set
      .select(col("doc_id"), col("text"), col("lang"))
    val exactKeep = docs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
    // Round 20 (VERDICT r19 #3): the gates share ONE tokenize+3-gram
    // corpus pass — the tagged t14 materialization serves both the
    // boilerplate ratios and the decontamination drop list (before, the
    // t14 occ pass and d12's shingle pass each tokenized+exploded the
    // whole corpus). The drop-list derivation is decontamAttribution's
    // pair filter verbatim (Dedup.decontamIdsFrom — equivalence argued
    // there); d12's own query keeps its direct pipeline.
    val contaminated = Dedup.decontamIdsFrom(
      TextAnalysis.boilerTaggedOccMemo(s, dir)
        .select(col("doc_id"), col("g").as("sh")))
    val ratios = TextAnalysis.boilerStatsMemo(s, dir)
      .select(col("doc_id"), col("boiler_ratio"))
    // Exact keep-fraction quantile of the ratio distribution: thr =
    // smallest ratio whose cumulative doc count reaches
    // ceil(keepFrac · total); `<= thr` keeps ≥ keepFrac of the corpus
    // (ties keep slightly more, deterministically). Histogram-grain and
    // one-row by construction — see TextAnalysis.quantileThreshold.
    val thr = TextAnalysis.quantileThreshold(
      ratios, "boiler_ratio", BoilerKeepFrac, "boiler_thr")
    docs
      .join(exactKeep, Seq("doc_id"))
      .join(broadcast(contaminated), Seq("doc_id"), "left_anti")
      .join(ratios, Seq("doc_id"))
      .withColumn("jk", col("doc_id") * 0)
      .join(broadcast(thr), Seq("jk"))
      .filter(col("boiler_ratio") <= col("boiler_thr"))
      // t13's kept count INLINE on the rows already here (round 20): the
      // stutter collapse is pure per-row array math and t13 emits one row
      // per doc unconditionally, so the old corpus re-scan + inner join
      // added a pass and a join for what one projection computes — and
      // only survivors pay it now. collapsedTokens keeps the expression
      // shared with t13, so the two cannot drift.
      .withColumn("t", TextAnalysis.tokens)
      .withColumn("n_kept", size(TextAnalysis.collapsedTokens(col("t"))))
      .select(col("doc_id"), col("lang"), col("boiler_ratio"), col("n_kept"))
  }

  /** The funnel's survivor set. Read by the packing, mixing and export
    * composites (c11 onward); c10 runs [[prepSurvivors]] directly. */
  def prepSurvivorsMemo(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, SurvivorsMemo)(prepSurvivors(s, dir).localCheckpoint())

  private val SurvivorsMemo = new Memo.Tag[DataFrame]

  def invalidateSurvivors(): Unit = Memo.invalidate(SurvivorsMemo)

  /** c11: the funnel's END PRODUCT — the cleaned survivor corpus packed
    * into [[TextAnalysis.PackCapacity]]-token training sequences (by the
    * KEPT token counts, t13's post-cleanup measure), reported per bin.
    * This is what actually ships to a trainer: gates (c10) then batches
    * (t17), composed — reading the MATERIALIZED survivor set
    * ([[prepSurvivorsMemo]]), so the measured cost is the packing stage,
    * exactly the d10-over-d8-labels coupling. The survivor doc_ids are
    * sparse, which the packing core handles by construction (bucket
    * windows just carry fewer rows); langs-per-bin is the mixing
    * diagnostic a curriculum check reads. */
  def prepPackedFunnel(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.packedBins(
      prepSurvivorsMemo(s, dir).select(col("doc_id"), col("lang"),
        col("n_kept").cast(LongType).as("n")))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).cast(LongType).as("total_kept_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))

  /** c17: PACKED SHARDS IN REAL TOKENIZER TOKENS — c11's fixed-budget
    * bin packing with the budget measured in t24 BPE tokens instead of
    * whitespace counts: what the loader actually streams to a trainer
    * is id sequences (t29), so the shard capacity that matters is
    * tokenizer tokens (VERDICT r13 #4's packed-shard variant). Pure
    * composition over two memoized materializations — the c10 survivor
    * set and the t24 encode table, joined on the primary key — then the
    * c11 two-level prefix scan; nothing here re-derives gates or
    * re-encodes. */
  def prepPackedIds(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.packedBins(
      prepSurvivorsMemo(s, dir).select(col("doc_id"), col("lang"))
        .join(TextAnalysis.bpeEncodedMemo(s, dir)
          .select(col("doc_id"), col("bpe_tokens").cast(LongType).as("n")),
          Seq("doc_id")))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).cast(LongType).as("total_bpe_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))

  /** c18: TRAINER SHARD EMISSION — the last meter of the pipeline
    * (VERDICT r14 "missing #4"): c17 packs budgets in real BPE tokens
    * and t29 proves exact id sequences, but a loader streams FILES of
    * packed id arrays. The per-doc shard table joins t29's id arrays to
    * c17's bin assignment ((bin, doc_id, ids)) and — with the artifact
    * store on — persists PARTITIONED BY BIN through
    * [[graft.ops.Artifacts]] (name `trainer_shards`): each bin
    * directory is one shard file a loader opens directly, the
    * materialized-view discipline of the reference's
    * MusicPlaysRestService.java:1-197 (the consumer reads a prepared
    * table, never a recomputation).
    *
    * Scale shape: pure composition over memoized materializations (c10
    * survivors, t24 encode, t29 ids) joined on the primary key; per-bin
    * doc lists are bounded by construction (a bin holds ≤ PackCapacity
    * tokens), so the rollup's ordered concat is the a5 bounded-group
    * shape, never corpus-grain. */
  def trainerShardTable(s: SparkSession, dir: String): DataFrame = {
    // def, not val: the build (survivor gates, BPE encode, id lookup —
    // eager localCheckpoints inside) must not run when the store hit
    // serves the read; readOrBuild's by-name argument keeps it lazy
    def perDoc = TextAnalysis.packedBins(
        prepSurvivorsMemo(s, dir).select(col("doc_id"), col("lang"))
          .join(TextAnalysis.bpeEncodedMemo(s, dir)
            .select(col("doc_id"), col("bpe_tokens").cast(LongType).as("n")),
            Seq("doc_id")))
      .select(col("doc_id"), col("bin"))
      .join(TextAnalysis.tokenIdArraysMemo(s, dir), Seq("doc_id"))
      .select(col("bin"), col("doc_id"), col("ids"))
    if (!Artifacts.enabled(s)) perDoc
    else Artifacts.readOrBuild(s, dir, "trainer_shards", Seq("bin"))(perDoc)
      // partition-column read-back: bin comes last and type-infers as
      // int — restore the computed frame's order and LongType
      .select(col("bin").cast(LongType).as("bin"), col("doc_id"), col("ids"))
  }

  /** The c18 REPORT the oracle bit-compares: per shard, the doc count,
    * the token total and `shard_hash` — md5 over the doc_id-ordered
    * concatenation of each doc's comma-joined decimal ids, i.e. the
    * exact packed bytes of the shard, not just its size. */
  def trainerShards(s: SparkSession, dir: String): DataFrame =
    trainerShardTable(s, dir)
      .select(col("bin"), col("doc_id"),
        size(col("ids")).cast(LongType).as("n"),
        concat_ws(",", transform(col("ids"), i => i.cast("string"))).as("idstr"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("total_ids"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("idstr")))),
          x => x.getField("idstr")), "|")).as("shard_hash"))

  /** Seed constant for c19's deterministic shuffle keys — versioned so
    * a reshuffle is an explicit seed bump, never an accident. */
  val ShuffleSeed = "graft-shuffle-v1"

  /** c19: THE PACK MANIFEST — the loader-facing metadata that turns
    * c18's shard files into training batches: per document its shard
    * (`bin`), its real-token length (`n_tokens`), its starting OFFSET (`start_offset`)
    * inside the shard's continuous token stream (what attention-mask /
    * document-boundary construction needs for packed sequences), and
    * two SEEDED SHUFFLE KEYS — `shard_key` = md5(seed:bin) orders
    * shards, `doc_key` = md5(seed:doc_id) orders docs within a shard —
    * so a trainer reads a reproducible pseudo-random order at every
    * scale WITHOUT any global sort: the keys are plain columns, the
    * loader sorts its own shard's bounded doc list and the shard list
    * (metadata grain). Offsets fall out of the c11 two-level prefix
    * scan (`prefix − bin·PackCapacity` — the packing discipline is one
    * continuous token stream chopped at capacity boundaries); no new
    * shuffle beyond the packing pass itself. */
  def packManifest(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.packedBinsWithPrefix(
      prepSurvivorsMemo(s, dir).select(col("doc_id"), col("lang"))
        .join(TextAnalysis.bpeEncodedMemo(s, dir)
          .select(col("doc_id"), col("bpe_tokens").cast(LongType).as("n")),
          Seq("doc_id")))
      .select(col("bin"), col("doc_id"),
        col("n").as("n_tokens"),
        (col("prefix") - col("bin") * TextAnalysis.PackCapacity).as("start_offset"),
        md5(concat(lit(ShuffleSeed + ":b"), col("bin").cast("string")))
          .as("shard_key"),
        md5(concat(lit(ShuffleSeed + ":d"), col("doc_id").cast("string")))
          .as("doc_key"))

  /** THE SHARD CONSUMER — the reader half of the trainer-facing layer
    * (VERDICT r15 #4: the reference's materialized-view discipline
    * always has both sides — writer KafkaMusicExample.java:296-377,
    * reader MusicPlaysRestService.java:77-115 — and c18/c19 only had
    * the writer). One frame per packed document joining c18's shard
    * table (the bin directories a loader opens — the persisted artifact
    * when the store is on) to c19's manifest on the (bin, doc_id)
    * primary key: the id array beside its declared length, within-shard
    * offset and the two seeded order keys. A loader consumes shards in
    * `shard_key` order and docs within a shard in `doc_key` order; the
    * offsets reconstruct the continuous token stream. ArtifactsSpec's
    * golden proves the round trip — ids hash-equal to t29's encode
    * table, offsets+lengths tile every shard exactly, the seeded order
    * is a reproducible permutation — including a second-session read
    * where the shard side is a plain FileScan of the artifact.
    *
    * Scale shape: one join on the primary key of two prepared tables
    * (both partitioned/derivable by bin — co-partitioned at 100 TB);
    * nothing here re-derives gates, merges or offsets. */
  def shardReader(s: SparkSession, dir: String): DataFrame =
    trainerShardTable(s, dir)
      .join(packManifest(s, dir), Seq("bin", "doc_id"))

  /** c22: THE LOADER ITERATION ORDER — the consumer-facing contract
    * (VERDICT r16 next #6) as a first-class table instead of prose: a
    * trainer reads SHARDS in `shard_key` order and DOCS within each
    * shard in `doc_key` order (c19's seeded keys), and this emits that
    * exact traversal as positions — `seq` (global training position),
    * `shard_pos` (the shard's place in the rollout) and `doc_pos` (the
    * doc's place inside its shard) — beside the packed id arrays, so
    * "the reproducible training order" is an oracle-checkable query,
    * not a loader convention.
    *
    * Scale shape — NO global data-grain sort: the within-shard
    * position is a Window PARTITIONED by bin (groups bounded by
    * construction — a bin holds ≤ PackCapacity tokens), and the
    * cross-shard order runs at SHARD grain only (one row per bin
    * through the single-partition window — the c11/c15 two-level
    * discipline: metadata grain, corpus-size-independent), whose
    * running doc-count prefix turns per-shard positions into the
    * global `seq` by one broadcast join back. */
  def loaderOrder(s: SparkSession, dir: String): DataFrame = {
    val reader = shardReader(s, dir)
    // within-shard traversal: bounded per-shard groups, seeded doc_key
    // order with the doc_id tiebreak (md5 keys are unique per doc here,
    // but the tiebreak keeps the order total under any key collision)
    val wDoc = Window.partitionBy(col("bin"))
      .orderBy(col("doc_key"), col("doc_id"))
    val withDoc = reader
      .withColumn("doc_pos", row_number().over(wDoc).cast(LongType))
    // shard traversal + global seq bases: SHARD-grain rows only pass
    // through the ordered window (metadata grain)
    val wShard = Window.orderBy(col("shard_key"), col("bin"))
    val shardMeta = reader.groupBy(col("bin"), col("shard_key"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("shard_pos", row_number().over(wShard).cast(LongType))
      .withColumn("seq_base", coalesce(sum(col("n_docs")).over(
        wShard.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bin"), col("shard_pos"), col("seq_base"))
    withDoc.join(broadcast(shardMeta), Seq("bin"))
      .select((col("seq_base") + col("doc_pos")).as("seq"),
        col("shard_pos"), col("doc_pos"), col("bin"), col("doc_id"),
        col("ids"), col("n_tokens"), col("start_offset"))
  }

  /** The c22 REPORT the oracle compares — [[loaderOrder]] without the
    * id arrays (c18's shard_hash already bit-proves those); every
    * position and offset column at the traversal's own grain. */
  def loaderOrderReport(s: SparkSession, dir: String): DataFrame =
    loaderOrder(s, dir).drop("ids")

  /** c20: INCREMENTAL SHARD REFRESH — the daily pipeline's last meter
    * (VERDICT r15 #5): the delta family (d16) decides which of today's
    * batch documents are NEW against the standing corpus, and this
    * composes that decision with the trainer layer — new survivors are
    * encoded (t24/t29, against the FROZEN full-corpus tokenizer
    * artifact) and packed into bins APPENDED after the standing
    * corpus's last bin, WITHOUT re-packing a single standing shard.
    * The standing corpus is the d16 convention (the first 90% by dense
    * doc_id; [[graft.ops.Dedup.denseCutDf]] is the shared guard), its
    * shards are c18's pack restricted to standing survivors, and the
    * delta docs are the batch's d16-'new' verdicts that also pass the
    * c10 gates — the full ingest discipline: dedup against the corpus,
    * then quality-gate, then encode, then append.
    *
    * Output = the c18 shard report (bin, n_docs, total_ids,
    * shard_hash) for the NEW bins only — what the refresh job ships;
    * OpsSpec's golden proves the standing report is byte-unchanged and
    * every new doc lands strictly after the standing max bin.
    *
    * Scale shape: pure composition over memoized materializations (c10
    * survivors, t24 encode, t29 ids, d16's signature artifact); the
    * standing side contributes ONE scalar (its max bin — a one-row
    * broadcast off the same two-level prefix scan c11 runs), and the
    * delta pack's prefix scan runs over the batch alone (~10% of the
    * corpus), so a daily refresh never re-shuffles the standing corpus
    * at any scale. */
  def deltaShards(s: SparkSession, dir: String): DataFrame = {
    val cutDf = Dedup.denseCutDf(Tables.documents(s, dir))
    val enc = TextAnalysis.bpeEncodedMemo(s, dir)
      .select(col("doc_id"), col("bpe_tokens").cast(LongType).as("n"))
    val surv = prepSurvivorsMemo(s, dir).select(col("doc_id"))
      .join(enc, Seq("doc_id"))
      .crossJoin(broadcast(cutDf))
    // the standing corpus's last bin — one row off the c11 prefix scan
    val maxBin = TextAnalysis.packedBins(
        surv.filter(col("doc_id") < col("cut")).select(col("doc_id"), col("n")))
      .agg(coalesce(max(col("bin")), lit(-1L)).as("maxbin"))
    val newIds = Dedup.deltaDedupMemo(s, dir)
      .filter(col("verdict") === "new").select(col("doc_id"))
    val delta = surv.filter(col("doc_id") >= col("cut"))
      .join(newIds, Seq("doc_id")).select(col("doc_id"), col("n"))
    TextAnalysis.packedBins(delta)
      .crossJoin(broadcast(maxBin))
      .select((col("maxbin") + 1 + col("bin")).as("bin"), col("doc_id"))
      .join(TextAnalysis.tokenIdArraysMemo(s, dir), Seq("doc_id"))
      .select(col("bin"), col("doc_id"),
        size(col("ids")).cast(LongType).as("n"),
        concat_ws(",", transform(col("ids"), i => i.cast("string"))).as("idstr"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("total_ids"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("idstr")))),
          x => x.getField("idstr")), "|")).as("shard_hash"))
  }

  /** c12 gate constants: minimum token count, maximum within-doc
    * repetition ratio, and the support quantile below which a document
    * is "atypical" (the LM-filter tail drop). */
  val MinReportTokens = 5
  val MaxRepRatio = 0.2
  val SupportDropFrac = 0.1

  /** c12: the per-document DROP-REASON report — the filter cascade with
    * ATTRIBUTION every production pipeline ships (knowing WHY each
    * document was dropped, not just how many): each doc gets the FIRST
    * failing gate in priority order
    *
    *   short (< [[MinReportTokens]] tokens) → repetitive (t8 ratio >
    *   [[MaxRepRatio]]) → boilerplate (t14 ratio above the corpus
    *   keep-quantile) → atypical (t16 LM support below the
    *   [[SupportDropFrac]] quantile) → kept
    *
    * rolled up per (lang, verdict) with token mass, so the report reads
    * as "what fraction of each language's tokens each gate costs". Both
    * thresholds are corpus-relative quantiles (the c10 lesson: absolute
    * cutoffs saturate across decades). The short gate also guarantees
    * every surviving doc HAS t14/t16 rows (they need ≥3/≥2 tokens), so
    * the left joins below never invent a verdict from a missing row.
    *
    * Scale shape: the t14/t16 stats tables come from the per-session
    * MEMOS ([[TextAnalysis.boilerStatsMemo]]/[[TextAnalysis.lmSupportMemo]]
    * — production computes corpus stats once; the funnel and this report
    * read one materialization), joined on doc_id; both quantile scalars
    * run [[TextAnalysis.quantileThreshold]]'s two-level grid scan (no
    * un-partitioned window ever sees an unbounded-cardinality histogram)
    * and fold in as one-row broadcasts; one map-side-combined rollup. */
  def qualityReport(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), TextAnalysis.tokens.as("t"))
      .select(col("doc_id"), col("lang"), size(col("t")).as("n_tokens"),
        round(lit(1.0) - size(array_distinct(col("t"))).cast("double") /
          greatest(size(col("t")), lit(1)), 6).as("rep_ratio"))
    val ratios = TextAnalysis.boilerStatsMemo(s, dir)
      .select(col("doc_id"), col("boiler_ratio"))
    val bthr = TextAnalysis.quantileThreshold(
      ratios, "boiler_ratio", BoilerKeepFrac, "boiler_thr")
    val support = TextAnalysis.lmSupportMemo(s, dir)
      .select(col("doc_id"), col("support"))
    val sthr = TextAnalysis.quantileThreshold(
      support, "support", SupportDropFrac, "support_thr")
    base
      .join(ratios, Seq("doc_id"), "left")
      .join(support, Seq("doc_id"), "left")
      .withColumn("jk", col("doc_id") * 0)
      .join(broadcast(bthr), Seq("jk"))
      .join(broadcast(sthr.withColumnRenamed("jk", "jk2")),
        col("jk") === col("jk2"))
      .withColumn("verdict",
        when(col("n_tokens") < MinReportTokens, "short")
          .when(col("rep_ratio") > MaxRepRatio, "repetitive")
          .when(col("boiler_ratio") > col("boiler_thr"), "boilerplate")
          .when(col("support") < col("support_thr"), "atypical")
          .otherwise("kept"))
      .groupBy(col("lang"), col("verdict"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast(LongType).as("total_tokens"))
  }

  /** Integer split cuts on the 16-bit md5 bucket: 52429 = round(0.8·65536)
    * (0.8·65536 = 52428.8, rounded up) and 58982 = floor(0.9·65536) —
    * ~80/10/10 with no float boundary drift between engines (t18's
    * integer-predicate rule). The exact constants are the contract; the
    * derivation is only how they were first chosen. */
  val SplitTrainCut = 52429L
  val SplitValCut = 58982L

  /** c13: LEAKAGE-SAFE train/val/test split — the assignment pass every
    * training pipeline needs after dedup: splitting at DOCUMENT grain
    * leaks near-duplicates across train and test (the classic eval
    * contamination), so the split unit is the DEDUP CLUSTER: every doc's
    * group id is its d8 cluster label (its own id when unclustered), and
    * the group's md5 bucket — not the doc's — picks train/val/test.
    * By construction no group straddles splits; the deterministic
    * content-independent bucket (t6's idiom) keeps the assignment stable
    * across engines, runs and cluster sizes.
    *
    * Scale shape: reads the MEMOIZED d8 labels (the label/apply
    * discipline — the labeling pipeline runs once, in d8, not here),
    * LEFT-joins them to one corpus scan, and rolls up map-side. The
    * exact per-split distinct-group count is the oracle-checkable form;
    * at 100 TB it becomes approx_count_distinct (t9's HLL++ path). */
  def leakageSplit(s: SparkSession, dir: String): DataFrame =
    leakageSplitFrom(Dedup.clusterLabels(s, dir),
      Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        size(TextAnalysis.tokens).as("n_tokens")))

  /** The leakage-safety rule itself, in ONE place (shared by c13 and
    * c14): gid = the doc's dedup-cluster label (its own id when
    * unclustered), and the GROUP's md5 bucket — never the doc's — picks
    * train/val/test via the integer cuts, so a cluster can never
    * straddle splits. Input: any frame with `doc_id` and a nullable
    * `cluster_id`; adds `gid` and `split`. */
  private[graft] def withSplit(df: DataFrame): DataFrame =
    df.withColumn("gid", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("bucket",
        conv(substring(md5(col("gid").cast("string")), 1, 4), 16, 10).cast(LongType))
      .withColumn("split",
        when(col("bucket") < SplitTrainCut, "train")
          .when(col("bucket") < SplitValCut, "val")
          .otherwise("test"))

  /** Frame-level form: `labels` = (doc_id, cluster_id), `docs` =
    * (doc_id, lang, n_tokens). */
  def leakageSplitFrom(labels: DataFrame, docs: DataFrame): DataFrame =
    withSplit(docs
      .join(labels.select(col("doc_id"), col("cluster_id")), Seq("doc_id"), "left"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("gid")).as("n_groups"),
        sum(col("n_tokens")).cast(LongType).as("total_tokens"))

  /** c14: the RELEASE MANIFEST — the summary table every training-data
    * release ships: the funnel's cleaned survivor corpus (c10's gates,
    * read from the MATERIALIZED survivor set) assigned to leakage-safe
    * train/val/test splits at DEDUP-CLUSTER grain (c13's rule: a group's
    * md5 bucket — not the doc's — picks the split, so near-duplicates
    * never straddle eval boundaries), rolled up per (split, lang) with
    * document counts, distinct group counts and the KEPT token budget
    * (t13's post-cleanup measure — what the trainer actually sees).
    *
    * Pure composition, zero recomputation: reads [[prepSurvivorsMemo]]
    * and [[graft.ops.Dedup.clusterLabels]] (both memoized
    * materializations — production persists them once), one LEFT join,
    * integer split cuts (no float boundary drift), map-side rollup. The
    * exact per-cell distinct-group count is the oracle-checkable form;
    * at 100 TB it becomes approx_count_distinct (t9's HLL++ path). */
  def releaseManifest(s: SparkSession, dir: String): DataFrame = {
    val surv = prepSurvivorsMemo(s, dir)
      .select(col("doc_id"), col("lang"), col("n_kept"))
    val labels = Dedup.clusterLabels(s, dir)
      .select(col("doc_id"), col("cluster_id"))
    // the REAL token budget (VERDICT r12 #3): t24's per-doc BPE token
    // counts over the surviving docs, read from the memoized encode
    // table — whitespace counts (kept_tokens) stay dual-reported, the
    // trainer's budget is tokenizer tokens
    val enc = graft.ops.TextAnalysis.bpeEncodedMemo(s, dir)
      .select(col("doc_id"), col("bpe_tokens"))
    withSplit(surv.join(labels, Seq("doc_id"), "left").join(enc, Seq("doc_id")))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("gid")).as("n_groups"),
        sum(col("n_kept")).cast(LongType).as("kept_tokens"),
        sum(col("bpe_tokens")).cast(LongType).as("bpe_tokens"))
  }

  /** AnomalyDetection: users generating ≥2 events within a 1-minute window
    * (the reference's KTable filter on windowed counts, O7 over W1; the
    * reference flags ≥3/min — the testdata's event rate is lower, so the
    * threshold is 2 to keep the query non-degenerate at every SF). */
  def anomalyDetection(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 minute").as("w"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .select(col("w.start").as("window_start"), col("user_id"), col("cnt"))

  // ---- curriculum sharding (c15) -------------------------------------

  /** Tokens per curriculum shard, and the ppl-grid granularity of the
    * prefix scan's bucketing (cells = floor(ppl·grid) — VALUE-bounded,
    * not corpus-bounded: the cell count depends on the perplexity range,
    * never on the document count). */
  val CurricShardTokens = 2048L
  val CurricPplGrid = 16

  /** CURRICULUM SHARDING (c15) — order the corpus easiest-first by t27
    * LM perplexity and pack it into fixed-token-budget shards: the
    * "curriculum learning" data layout (predictable text first, hard
    * text last) a trainer consumes shard-by-shard. Composes two
    * established pieces: the t27 quality model supplies (ppl, and
    * n_tokens = n_bigrams + 1 — no second tokenize), and the global
    * ORDER-BY-ppl prefix sum reuses the two-level scan discipline
    * (w5/t17/c11): the row-grain running sum is a Window PARTITIONED by
    * the ppl grid cell (floor(ppl·16) — monotone in the sort key, so
    * cross-cell order is free), and only the cell-grain summary passes
    * through the single-partition window before broadcasting back. The
    * cell count is bounded by the VALUE RANGE of perplexity, so the
    * global window's input does not grow with the corpus at all —
    * stronger than the corpus/4096 bound the doc-id packing uses.
    * Sub-2-token documents have no LM evidence and are excluded
    * (t27's contract). Emits the shard manifest a loader consumes. */
  /** DATASET VERSION DIFF (c16) — the release-versioning step: given two
    * corpus versions, emit the churn manifest (added / removed / changed
    * documents with their content hashes) a data-governance pipeline
    * records per release; unchanged documents are excluded, so the
    * OUTPUT is bounded by real churn, never corpus size. The two
    * versions are CONSTRUCTED deterministically from doc_id (the
    * piiSynth discipline — both engines derive identical versions, the
    * diff machinery is what's under test): v1 drops doc_id%10==7, v2
    * drops doc_id%17==3 and revises the text of doc_id%13==0.
    *
    * Scale: two narrow hashed projections of one corpus scan and a
    * single full-outer hash join on the primary key — at 100 TB both
    * sides are bucketed by doc_id and this is a co-partitioned join;
    * the md5s are map-side, nothing is collected. */
  def datasetDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val v1 = docs.filter(col("doc_id") % 10 =!= 7)
      .select(col("doc_id"), md5(col("text")).as("old_hash"))
    val v2 = docs.filter(col("doc_id") % 17 =!= 3)
      .select(col("doc_id"), md5(when(col("doc_id") % 13 === 0,
        concat(col("text"), lit(" rev2"))).otherwise(col("text")))
        .as("new_hash"))
    v1.join(v2, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("old_hash").isNull, "added")
          .when(col("new_hash").isNull, "removed")
          .when(col("old_hash") =!= col("new_hash"), "changed"))
      .filter(col("status").isNotNull)
      .select(col("doc_id"), col("status"), col("old_hash"), col("new_hash"))
  }

  def curriculumShards(s: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val d = TextAnalysis.lmQualityMemo(s, dir) // round 19: the persisted t27 stats, not a re-run
      .select(col("doc_id"), (col("n_bigrams") + 1).as("n"), col("ppl"))
      .withColumn("b", floor(col("ppl") * CurricPplGrid).cast("long"))
    val prior = d.groupBy(col("b")).agg(sum(col("n")).as("bsum"))
      .withColumn("prev_sum", coalesce(sum(col("bsum")).over(
        W.orderBy(col("b")).rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
      .select(col("b"), col("prev_sum"))
    val inCell = W.partitionBy(col("b")).orderBy(col("ppl"), col("doc_id"))
      .rowsBetween(W.unboundedPreceding, -1)
    d.withColumn("local_prev", coalesce(sum(col("n")).over(inCell), lit(0L)))
      .join(prior, Seq("b"))
      .withColumn("shard",
        expr(s"(prev_sum + local_prev) div $CurricShardTokens"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("tokens"),
        min(col("ppl")).as("ppl_min"), max(col("ppl")).as("ppl_max"))
  }

  /** c21: CURRICULUM-ORDERED TRAINER SHARDS — c15's easy-first layout
    * applied to the REAL trainer artifact: the c10 survivors, ordered
    * globally by (t27 perplexity, doc_id), packed into
    * [[graft.ops.TextAnalysis.PackCapacity]]-token bins by their real
    * BPE lengths, each bin bit-proved by the c18 `shard_hash`
    * discipline (md5 over the curriculum-ordered concatenation of the
    * docs' exact id sequences). c15 proved the ordering machinery on a
    * summary; c18 proved the packed bytes in doc_id order; this is the
    * layout a curriculum-training run actually loads — predictable text
    * in the early shards, hard text in the late ones, ppl_min/ppl_max
    * per shard documenting the difficulty band.
    *
    * Scale shape: the global ORDER-BY-ppl prefix sum is the c15
    * two-level scan — the row-grain running sum is a Window PARTITIONED
    * by the VALUE-bounded ppl grid cell, only the cell summary crosses
    * a single partition, and there is NO global sort of the corpus at
    * any scale (the PLANS.md check forbids Exchange rangepartitioning).
    * Everything else is memoized composition: survivors, ppl, BPE
    * lengths and id arrays each materialized once, joined on the
    * primary key; per-bin rollups are bounded by PackCapacity. */
  def curriculumTrainerShards(s: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val d = prepSurvivorsMemo(s, dir).select(col("doc_id"))
      .join(TextAnalysis.lmQualityMemo(s, dir) // inner: sub-2-token docs have no LM evidence (t27/c15 contract); round 19: memoized stats
        .select(col("doc_id"), col("ppl")), Seq("doc_id"))
      .join(TextAnalysis.bpeEncodedMemo(s, dir)
        .select(col("doc_id"), col("bpe_tokens").cast(LongType).as("n")),
        Seq("doc_id"))
      .withColumn("b", floor(col("ppl") * CurricPplGrid).cast("long"))
    val prior = d.groupBy(col("b")).agg(sum(col("n")).as("bsum"))
      .withColumn("prev_sum", coalesce(sum(col("bsum")).over(
        W.orderBy(col("b")).rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
      .select(col("b"), col("prev_sum"))
    val inCell = W.partitionBy(col("b")).orderBy(col("ppl"), col("doc_id"))
      .rowsBetween(W.unboundedPreceding, -1)
    d.withColumn("local_prev", coalesce(sum(col("n")).over(inCell), lit(0L)))
      .join(prior, Seq("b"))
      .withColumn("bin",
        expr(s"(prev_sum + local_prev) div ${TextAnalysis.PackCapacity}"))
      .join(TextAnalysis.tokenIdArraysMemo(s, dir), Seq("doc_id"))
      .select(col("bin"), col("doc_id"), col("ppl"),
        size(col("ids")).cast(LongType).as("n_ids"),
        concat_ws(",", transform(col("ids"), i => i.cast("string"))).as("idstr"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_ids")).as("total_ids"),
        min(col("ppl")).as("ppl_min"), max(col("ppl")).as("ppl_max"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("ppl"), col("doc_id"), col("idstr")))),
          x => x.getField("idstr")), "|")).as("shard_hash"))
  }

  // ---- training-mix epoch planner (c23) ------------------------------

  /** Epoch planner knobs: the token budget is `EpochBudgetX ×` the
    * corpus's own token count (a 2-epoch-average run), and no source may
    * repeat more than `MaxEpochsPpm/1e6` = 4 epochs — the published
    * repeat-tolerance ceiling (Muennighoff et al. 2023, "Scaling
    * Data-Constrained Language Models": ~4 epochs of repetition is close
    * to free, beyond that returns decay rapidly). */
  val EpochBudgetX = 2L
  val MaxEpochsPpm = 4000000L

  /** Training-mix epoch planner (c23): given the corpus's per-source
    * token counts and a total token budget, decide how many EPOCHS of
    * each source to run — the data-recipe step between corpus prep and
    * shard packing (the LLaMA-style "sampling proportions" table).
    * Source weights follow the sqrt rule (p_s ∝ √T_s — the α=0.5
    * temperature point: upsamples small high-value sources without
    * letting the largest crawl dominate), each source's allocation is
    * capped at [[MaxEpochsPpm]], and `capped=1` marks sources whose
    * uncapped share exceeded it (their surplus is visible as
    * `target_tokens − alloc_tokens`; re-running the planner after
    * dropping capped sources redistributes it — deliberately NOT done
    * inside one query, matching how recipe iteration actually works).
    *
    * Determinism discipline: weights are INTEGER square roots
    * (`floor(sqrt(T_s))` — exact for any count below 2^52) and every
    * downstream quantity is 64-bit integer arithmetic (`div`, ppm
    * units) — the t18 rule: no float sum-order or pow() drift between
    * engine and oracle, ever.
    *
    * Scale shape: one map-side-combined aggregate to source grain
    * (tiny), one one-row broadcast carrying the two corpus scalars, and
    * all planning arithmetic at source grain — the corpus is read ONCE
    * regardless of size. */
  def epochPlan(s: SparkSession, dir: String): DataFrame =
    epochPlanFrame(Tables.documents(s, dir))

  /** Frame-level form of [[epochPlan]] — any (source, text). */
  def epochPlanFrame(documents: DataFrame): DataFrame = {
    val nTok = size(split(trim(col("text")), TextAnalysis.Ws + "+")).cast(LongType)
    val perSource = documents
      .select(col("source"), nTok.as("n"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("tokens"))
      .withColumn("w_s", floor(sqrt(col("tokens").cast("double"))).cast(LongType))
      // source grain — tiny at any corpus size; checkpointed so the corpus
      // totals derivation below reads it instead of re-scanning the corpus
      .localCheckpoint()
    val tot = perSource.agg(
        sum(col("w_s")).as("w_tot"),
        (sum(col("tokens")) * lit(EpochBudgetX)).as("budget"))
      // non-foldable zero key → BroadcastHashJoin, the t18 scalar-fold shape
      .withColumn("jk", (col("w_tot") * 0).cast(LongType))
    perSource.withColumn("jk", col("tokens") * 0)
      .join(broadcast(tot), Seq("jk"))
      .withColumn("weight_ppm", expr("w_s * 1000000 div greatest(w_tot, 1)"))
      .withColumn("target_tokens", expr("budget * w_s div greatest(w_tot, 1)"))
      .withColumn("epochs_raw_ppm",
        expr("target_tokens * 1000000 div greatest(tokens, 1)"))
      .select(
        col("source"), col("n_docs"), col("tokens"), col("weight_ppm"),
        col("target_tokens"),
        least(lit(MaxEpochsPpm), col("epochs_raw_ppm")).as("epochs_ppm"),
        least(col("tokens") * lit(MaxEpochsPpm / 1000000L), col("target_tokens"))
          .as("alloc_tokens"),
        when(col("epochs_raw_ppm") >= MaxEpochsPpm, 1).otherwise(0).as("capped"))
  }

  /** Quality-filtered epoch plan (c24): the filter→mix composite a real
    * data recipe runs — [[epochPlan]] over only the documents the Gopher
    * rule family keeps, at the CORPUS-calibrated profile
    * ([[TextAnalysis.gopherKeepWith]] with
    * [[TextAnalysis.GopherCorpusMinWords]]/[[TextAnalysis.GopherCorpusLexicon]]
    * — the published English lexicon keeps zero synthetic documents,
    * which t31's report shows; the profile knob is exactly what a real
    * deployment re-tunes per corpus). The integer-exact predicate rides
    * the corpus scan as a plain filter; token mass and therefore
    * weights, budget, and epoch caps all shift relative to c23 exactly
    * as the filter moves each source's surviving tokens. */
  def filteredEpochPlan(s: SparkSession, dir: String): DataFrame =
    epochPlanFrame(Tables.documents(s, dir).filter(TextAnalysis.gopherKeepWith(
      TextAnalysis.GopherCorpusMinWords, TextAnalysis.GopherCorpusLexicon)))
}
