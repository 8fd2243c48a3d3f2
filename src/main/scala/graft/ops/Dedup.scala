package graft.ops

import graft.Tables
import graft.functions.{GraftExtensions, MinHashExpr}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for large-scale training-data pipelines —
  * exact, MinHash+LSH, SimHash, and n-gram Jaccard (the embedding-cosine
  * near-dup variant lives in Similarity).
  *
  * Scale design: every variant avoids the O(n²) all-pairs comparison —
  * exact dedup is a hash groupBy; MinHash/SimHash bucket candidates with
  * LSH bands so the join key is (band, bucket) and only same-bucket pairs
  * are compared. All hashes derive from md5, so the DuckDB oracle can
  * reproduce them bit-for-bit (no engine-private hash functions).
  *
  * The reference's streaming event-id dedup (SURVEY.md §2.8,
  * EventDeduplicationLambdaIntegrationTest.java:84-158) maps to
  * dropDuplicates + watermark; its batch form is `exactById`.
  */
object Dedup {
  import TextAnalysis.tokens

  /** §2.8 event-id dedup, batch form: first occurrence per id wins. */
  def exactById(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(col("event_id")).as("first_event"), count(lit(1)).as("n_dups"))

  /** Exact content dedup: hash-groupBy on the full text; keep the lowest
    * doc_id of each duplicate class. */
  def exactText(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  // ---- MinHash + LSH -------------------------------------------------

  val NumPerms: Int = MinHashExpr.NumPerms
  val Bands = 4 // 4 bands × 4 rows

  /** n-word shingles of the token array `t`, built by zipping n
    * staggered slices of it. `t` is a projected column, so the tokenizer
    * runs once per row whatever reads the shingles. (A
    * transform+slice-per-index form re-evaluates its input per shingle:
    * O(len²) per document.) */
  private def shingleCol(n: Int, t: Column): Column = {
    val m = size(t) - (n - 1)
    val shingles = (1 to n).map(k => slice(t, lit(k), m))
      .reduce((acc, s) => zip_with(acc, s, (a, b) => concat(a, lit(" "), b)))
    when(size(t) >= n, array_distinct(shingles))
      .otherwise(array(array_join(t, " ")))
  }

  /** (doc_id, sh): one row per distinct 3-word shingle of each
    * document, from the projected tokens. */
  private def shingled(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), tokens.as("t"))
      .select(col("doc_id"), explode(shingleCol(3, col("t"))).as("sh"))

  /** MinHash signatures per document, one column `mh0`…`mh15` per
    * permutation: [[minhashSigArray]] of each row, min-combined per
    * `doc_id` (the minimum over the union of a doc's rows' shingles). */
  def minhashSignatures(s: SparkSession, dir: String): DataFrame =
    minhashSigFrameOf(Tables.documents(s, dir))

  /** Frame-level form of [[minhashSignatures]] — any (doc_id, text). */
  def minhashSigFrameOf(documents: DataFrame): DataFrame = {
    GraftExtensions.register(documents.sparkSession)
    documents.select(col("doc_id"), minhashSigArray(tokens).as("sig"))
      .groupBy(col("doc_id"))
      .agg(min(col("sig").getItem(0)).as("mh0"),
        (1 until NumPerms).map(i => min(col("sig").getItem(i)).as(s"mh$i")): _*)
  }

  /** The signature of the token array `t` as one per-row array: the
    * code-generated [[MinHashExpr]] kernel (one MD5 per 3-word shingle,
    * its first 60 bits mod p, [[NumPerms]] affine minimums). The one
    * definition of the signature for the batch, streaming and serving
    * forms. It resolves as SQL function `graft_minhash`: the session
    * needs graft's functions ([[GraftExtensions]]). */
  private[graft] def minhashSigArray(t: Column): Column = call_function("graft_minhash", t)

  /** The [[Bands]] (band, bucket) structs of a signature array column —
    * shared by the batch banding and the streaming ingest join key. */
  private[graft] def bandBuckets(sig: Column): Column = {
    val rows = NumPerms / Bands
    array((0 until Bands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws("|", (b * rows until (b + 1) * rows)
          .map(i => sig.getItem(i)): _*)).as("bucket"))
    }: _*)
  }

  /** MinHash+LSH near-dup pairs: band signatures into buckets, join within
    * buckets only, then score candidates by signature agreement.
    * Emits pairs (a < b) whose estimated Jaccard ≥ 0.5.
    *
    * Scale design: the signature travels as ONE array column through the
    * band explode, so the expensive tokenize→shingle→16×md5 pipeline runs
    * once per side — and because both self-join sides are identical
    * subtrees shuffled on the same (band, bucket) key, Catalyst plans a
    * ReusedExchange and the pipeline physically runs once. Agreement is
    * computed inline from the two carried arrays (no extra joins back to
    * the signature table), and duplicate candidates from multi-band
    * collisions collapse in the final groupBy. */
  def minhashLsh(s: SparkSession, dir: String): DataFrame = {
    val rows = NumPerms / Bands
    val sig = minhashSignatures(s, dir)
      .select(col("doc_id"), array((0 until NumPerms).map(i => col(s"mh$i")): _*).as("sig"))
    val banded = sig.select(col("doc_id"), col("sig"),
        explode(array((0 until Bands).map { b =>
          struct(lit(b).as("band"),
            md5(concat_ws("|", (b * rows until (b + 1) * rows)
              .map(i => col("sig").getItem(i)): _*)).as("bucket"))
        }: _*)).as("bb"))
      .select(col("doc_id"), col("sig"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    // Pair generation is bucket-local: collect each (band, bucket) group and
    // emit its i<j pairs with an indexed transform. One signature
    // computation, one shuffle, no self-join (a self-join would re-run the
    // whole minhash pipeline per side — Catalyst does not reuse the
    // exchange across the two subtrees). LSH bucket sizes are tiny by
    // design (bands exist precisely to keep them small); a degenerate
    // mega-bucket of near-identical docs would concentrate in one task —
    // at that point the pair OUTPUT is quadratic anyway and the fix is
    // more bands, not a different join shape.
    def did(x: Column) = x.getField("doc_id")
    val pairs = banded
      .groupBy(col("band"), col("bucket"))
      .agg(collect_list(struct(col("doc_id"), col("sig"))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(explode(flatten(transform(col("ds"), (x, i) =>
        transform(slice(col("ds"), i + lit(2), size(col("ds"))), y =>
          struct(
            least(did(x), did(y)).as("doc_a"),
            greatest(did(x), did(y)).as("doc_b"),
            (size(filter(zip_with(x.getField("sig"), y.getField("sig"),
              (a, b) => a === b), v => v)).cast(DoubleType) / NumPerms)
              .as("est_jaccard")))))).as("p"))
    pairs
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("p.est_jaccard").as("est_jaccard"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("est_jaccard")).as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)
  }

  /** Near-duplicate clusters: connected components over the MinHash-LSH
    * pair graph — the step that turns pairwise matches into "keep one doc
    * per cluster". Iterative min-label propagation (the simplified
    * star-contraction loop used at web scale); each iteration is one
    * shuffle-bounded join, converging in O(log n) rounds for real dedup
    * graphs (component diameter is tiny). Deterministic: the cluster id is
    * the minimum doc_id of the component. The DuckDB oracle walks the same
    * graph with a recursive CTE. */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    clusterLabels(s, dir)

  /** The LABEL phase of label/apply dedup: minhash → LSH → connected
    * components. Read by d10's apply phase and the leakage/shard
    * composites. */
  def clusterLabels(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, LabelsMemo)(Artifacts.readOrBuild(s, dir, "d8_labels") {
      val pairs = minhashLsh(s, dir).select(col("doc_a"), col("doc_b"))
      connectedComponents(pairs, "doc_id", "cluster_id")
    })

  private val LabelsMemo = new Memo.Tag[DataFrame]

  def invalidateLabels(): Unit = Memo.invalidate(LabelsMemo)

  /** Connected components over an undirected pair list (two columns:
    * endpoint a, endpoint b) by min-label propagation WITH pointer
    * jumping, iterated TO A FIXED POINT: each round every node takes the
    * min label among itself and its neighbors, then chases one pointer —
    * label := min(label, label_of(label)) — so label distances roughly
    * double per round and the loop converges in O(log diameter) rounds
    * (the standard web-scale CC accelerator) instead of O(diameter).
    * The loop stops when no label changed. Labels decrease monotonically,
    * so "no change" is exactly "sum(label) unchanged" — one cheap
    * aggregate per round instead of an old-vs-new join. A safety cap
    * bounds the worst case. Labels are checkpointed every round so the
    * logical plan stays constant-size (a lazily accumulated loop makes
    * Catalyst planning time explode with rounds) and the edge list is
    * persisted once (the upstream pipeline must not re-run per round). */
  def connectedComponents(pairs: DataFrame, idCol: String, labelCol: String,
      maxRounds: Int = 64): DataFrame =
    connectedComponentsWithRounds(pairs, idCol, labelCol, maxRounds)._1

  /** [[connectedComponents]] exposing the round count the fixed point
    * took (including the final no-change round) — OpsSpec asserts the
    * pointer-jumping bound: a diameter-12 chain in ≤ 4 rounds. */
  def connectedComponentsWithRounds(pairs: DataFrame, idCol: String,
      labelCol: String, maxRounds: Int = 64): (DataFrame, Int) = {
    val cols = pairs.columns
    val spark = pairs.sparkSession
    val edges0 = pairs.unionByName(
        pairs.select(col(cols(1)).as(cols(0)), col(cols(0)).as(cols(1))))
      .toDF("src", "dst").persist()
    val nEdges = edges0.count()
    // Size the iteration's partitioning to the graph, not the session
    // default: each round is a join+groupBy over the LABELS (≈ nodes ≤
    // edges), and on a small graph 32-partition shuffles and checkpoints
    // are pure scheduling overhead (~1 s/round at sf0.1). ~100k edges per
    // partition, capped at the cluster parallelism — a 100 TB pair graph
    // still gets full width.
    val parts = math.max(1, math.min(spark.sparkContext.defaultParallelism,
      (nEdges / 100000L).toInt + 1))
    val edges = edges0.repartition(parts, col("src")).persist()
    edges.count()
    edges0.unpersist()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint()
    var labelSum = labels.agg(coalesce(sum(col("label")), lit(0L))).head.getLong(0)
    var converged = false
    var r = 0
    while (!converged && r < maxRounds) {
      r += 1
      // step 1: neighbor propagation (min label over self ∪ neighbors)
      val msgs = edges.join(labels, col("src") === col("id"))
        .select(col("dst").as("id"), col("label"))
      val prop = labels.unionByName(msgs)
        .groupBy(col("id")).agg(min(col("label")).as("label"))
      // step 2: pointer jump on the propagated labels — every label value
      // is itself a node id (labels start as ids and only ever take other
      // nodes' ids), so the inner lookup join keeps all rows. plabel ≤
      // label by the label(x) ≤ x invariant; least() is belt-and-braces.
      val lut = prop.select(col("id").as("pid"), col("label").as("plabel"))
      labels = prop.join(lut, col("label") === col("pid"))
        .select(col("id"), least(col("label"), col("plabel")).as("label"))
        .localCheckpoint()
      val next = labels.agg(coalesce(sum(col("label")), lit(0L))).head.getLong(0)
      converged = next == labelSum
      labelSum = next
    }
    edges.unpersist()
    require(converged, s"connectedComponents did not converge in $maxRounds rounds")
    (labels.select(col("id").as(idCol), col("label").as(labelCol)), r)
  }

  /** Benchmark-contamination check: share of each training document's
    * distinct 3-shingles that appear in a held-out benchmark set (here:
    * doc_id < 10) — the decontamination pass every training pipeline needs.
    * The benchmark shingle set is small by construction → broadcast join;
    * the per-doc ratio is one groupBy. Emits docs with ≥ 30% overlap. */
  def contamination(s: SparkSession, dir: String): DataFrame = {
    val sh = shingled(Tables.documents(s, dir))
    val bench = sh.filter(col("doc_id") < 10)
      .select(col("sh")).distinct()
      .withColumn("hit", lit(1))
    sh.filter(col("doc_id") >= 10)
      .join(broadcast(bench), Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0))).cast(LongType).as("n_hits"))
      .withColumn("overlap",
        round(col("n_hits").cast(DoubleType) / col("n_shingles"), 6))
      .filter(col("overlap") >= 0.3)
  }

  /** Near-dup pair DIRECTIONALITY — the refinement a dedup pipeline runs
    * between labeling and apply when it must decide WHICH member of a
    * near-dup pair to keep: for every d4 LSH candidate pair, the EXACT
    * distinct-shingle containment in both directions (Broder
    * containment |A∩B|/|A| and |A∩B|/|B|), which distinguishes
    * quote-INCLUSION (one side nearly contained — keep the superset
    * document) from mutual-overlap edits (either survives). The
    * subset_side column names the smaller-shingle-set member — the
    * subset candidate — purely from integer counts (for equal
    * intersections, the higher containment is exactly the smaller set,
    * so no float comparison decides anything).
    *
    * Scale shape: candidates come from the banded LSH (bounded by
    * design, never all-pairs); the (doc, distinct-shingle) table is
    * materialized ONCE (`localCheckpoint`) and re-read for sizes and
    * both intersection sides, so the tokenize→shingle pipeline runs
    * once; the intersection join's work is linear in candidates ×
    * shingles/doc — the d9/d12 containment shape applied pairwise. */
  def containmentPairs(s: SparkSession, dir: String): DataFrame = {
    // round 19: the persisted d4 candidate list, not a re-run of the
    // signature pipeline (the d17-over-d6 discipline at the MinHash grain)
    val pairs = lshPairsMemo(s, dir).select(col("doc_a"), col("doc_b"))
    val sh = shingled(Tables.documents(s, dir)).localCheckpoint()
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val a = sh.select(col("doc_id").as("doc_a"), col("sh"))
    val b = sh.select(col("doc_id").as("doc_b"), col("sh"))
    val inter = pairs.join(a, Seq("doc_a")).join(b, Seq("doc_b", "sh"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_inter"))
    pairs
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_a"), col("n_b"),
        round(col("n_inter").cast(DoubleType) / col("n_a"), 6).as("cont_a"),
        round(col("n_inter").cast(DoubleType) / col("n_b"), 6).as("cont_b"),
        when(col("n_a") < col("n_b"), "a").when(col("n_b") < col("n_a"), "b")
          .otherwise("tie").as("subset_side"))
  }

  /** Pairs must share at least this many distinct shingles to be reported
    * by [[decontamAttribution]] (absolute floor, not ratio — a short bench
    * item leaking verbatim matters however small the ratio to a long
    * training doc). */
  val AttribMinOverlap = 2L

  /** Benchmark-decontamination ATTRIBUTION — d9 answers "is this training
    * doc contaminated?"; this answers "by WHICH benchmark item, and how
    * completely is that item contained?" (the report a decontamination
    * audit actually ships): for every (training doc, bench doc) pair
    * sharing ≥ [[AttribMinOverlap]] distinct 3-shingles, emit the overlap
    * count and the CONTAINMENT of the bench item (overlap / bench item's
    * shingle count — the Broder containment direction, since the leak
    * severity is how much of the benchmark is reproduced, not how much of
    * the training doc it occupies).
    *
    * Scale shape: the bench side is tiny relative to the corpus
    * (benchmarks are fixed; the corpus is 100 TB) so BOTH joins broadcast
    * — the corpus is scanned once, shingled map-side, and the only
    * shuffle keys on (train, bench) pairs, whose cardinality is bounded
    * by real contamination, not corpus size. */
  def decontamAttribution(s: SparkSession, dir: String): DataFrame = {
    val sh = shingled(Tables.documents(s, dir))
    val bench = sh.filter(col("doc_id") < 10)
      .withColumnRenamed("doc_id", "bench_id")
    val bsize = bench.groupBy(col("bench_id")).agg(count(lit(1)).as("n_bench"))
    sh.filter(col("doc_id") >= 10)
      .join(broadcast(bench), Seq("sh"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("overlap"))
      .filter(col("overlap") >= AttribMinOverlap)
      .join(broadcast(bsize), Seq("bench_id"))
      .withColumn("containment",
        round(col("overlap").cast(DoubleType) / col("n_bench"), 6))
      .select(col("doc_id"), col("bench_id"), col("overlap"), col("containment"))
  }

  /** The funnel's decontamination DROP LIST derived from a prepared
    * (doc_id, sh) distinct-shingle table (TextAnalysis' tagged t14 pass —
    * round 20): the training doc_ids sharing ≥ [[AttribMinOverlap]]
    * distinct 3-shingles with any bench doc. This is EXACTLY
    * [[decontamAttribution]]'s pair filter projected to the training id —
    * both sides hold one row per (doc, distinct shingle), so the
    * count(*) per (doc, bench) pair is the distinct-overlap count, and
    * the bench-size/containment columns the full report adds never
    * affect which ids appear. d12's own bench query keeps the direct
    * shingle pipeline. */
  private[graft] def decontamIdsFrom(shingles: DataFrame): DataFrame = {
    val bench = shingles.filter(col("doc_id") < 10)
      .select(col("sh"), col("doc_id").as("bench_id"))
    shingles.filter(col("doc_id") >= 10)
      .join(broadcast(bench), Seq("sh"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("overlap"))
      .filter(col("overlap") >= AttribMinOverlap)
      .select(col("doc_id")).distinct()
  }

  /** §2.8 the APPLY stage of near-dup dedup — the step a training-data
    * pipeline ships AFTER d8's cluster labeling: drop every cluster
    * member except its canonical min-doc_id representative (cluster_id
    * IS the min label, so losers are members with doc_id ≠ cluster_id)
    * and report the surviving corpus per language. The drop list is the
    * near-dup fraction of the corpus — often small, but web-scale LLM
    * corpora routinely lose 30-80% of documents to near-dup removal, so
    * the anti-join is deliberately UN-hinted: AQE broadcasts the losers
    * when the runtime size fits and falls back to a shuffled LeftAnti
    * when it doesn't. Forcing broadcast here would OOM the driver the
    * first time the dup fraction is corpus-proportional. */
  def dedupApply(s: SparkSession, dir: String): DataFrame =
    dedupApplyFrom(clusterLabels(s, dir), Tables.documents(s, dir))

  /** The APPLY phase against an already-computed labels table (the
    * [[connectedComponents]] / [[clusterLabels]] output) — a production
    * pipeline persists labels once and runs this against each corpus
    * partition; it never re-derives them. */
  def dedupApplyFrom(labels: DataFrame, docs: DataFrame): DataFrame = {
    val losers = labels
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    docs
      .join(losers, Seq("doc_id"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(trim(col("text")), TextAnalysis.Ws + "+")))
          .cast(LongType).as("total_tokens"))
  }

  // ---- SimHash -------------------------------------------------------

  val SimHashBits = 32

  /** SimHash per document: each distinct word votes ±1 on 32 bits drawn
    * from its md5; bit j of the fingerprint is 1 iff the vote sum > 0.
    * Word-hash = first 8 hex chars of md5 → 32-bit int (via conv). */
  def simhash(s: SparkSession, dir: String): DataFrame = {
    val words = array_distinct(tokens)
    val wordHash = conv(substring(md5(col("w")), 1, 8), 16, 10).cast(LongType)
    val exploded = Tables.documents(s, dir)
      .select(col("doc_id"), explode(words).as("w"))
      .select(col("doc_id"), wordHash.as("h"))
    val bitVotes = (0 until SimHashBits).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$j")
    }
    val fp = (0 until SimHashBits).map { j =>
      when(col(s"v$j") > 0, 1L << j).otherwise(0L)
    }.reduce(_ + _)
    exploded.groupBy(col("doc_id")).agg(bitVotes.head, bitVotes.tail: _*)
      .select(col("doc_id"), fp.as("simhash"))
  }

  /** SimHash near-dup pairs: LSH on 4 bands of 8 bits each (a pair within
    * Hamming distance 3 shares at least one band); exact Hamming distance
    * computed on candidates only; emits pairs with distance ≤ 3.
    *
    * Scale design (fixes the round-1 self-join recompute): the fingerprint
    * table — one long per doc, the smallest artifact in the pipeline — is
    * materialized ONCE via localCheckpoint, so the (band, bucket)
    * self-join's two subtrees both read the materialized fingerprints
    * instead of each re-running the simhash aggregation (Catalyst does not
    * reuse the exchange across self-join subtrees). On a cluster the same
    * role is played by persisting/checkpointing the fingerprint table.
    *
    * The join output needs NO distinct: a pair is emitted only from its
    * first matching band (the lowest band whose 8-bit slice of `xor` is
    * zero — computed inline from the two joined fingerprints), so
    * multi-band collisions never produce duplicates and nothing shuffles
    * after the join. Measured at sf0.1: 4.4 s → 1.5 s warm. */
  def simhashPairs(s: SparkSession, dir: String): DataFrame = {
    val fps = simhash(s, dir).localCheckpoint()
    val banded = fps.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map { b =>
          struct(lit(b).as("band"),
            shiftright(col("simhash"), b * 8).bitwiseAND(0xFF).as("bucket"))
        }: _*)).as("bb"))
      .select(col("doc_id"), col("simhash"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    // first matching band of a fingerprint pair: lowest zero byte of xor
    def firstBand(xor: Column): Column =
      when(xor.bitwiseAND(0xFFL) === 0, 0)
        .when(xor.bitwiseAND(0xFF00L) === 0, 1)
        .when(xor.bitwiseAND(0xFF0000L) === 0, 2)
        .otherwise(3)
    val l = banded.as("l")
    val r = banded.as("r")
    val xorCol = col("l.simhash").bitwiseXOR(col("r.simhash"))
    l.join(r, col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket")
        && col("l.doc_id") < col("r.doc_id"))
      .filter(bit_count(xorCol) <= 3 && firstBand(xorCol) === col("l.band"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        bit_count(xorCol).as("hamming"))
  }

  /** d4's MinHash-LSH candidate pairs. Read by d13's containment audit;
    * d4 and d8 call [[minhashLsh]] directly. */
  def lshPairsMemo(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, LshPairsMemo)(minhashLsh(s, dir).localCheckpoint())

  /** d6's near-dup pairs. Read by d17's attribution rollup; d6 calls
    * [[simhashPairs]] directly. */
  def simhashPairsMemo(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, SimhashPairsMemo)(simhashPairs(s, dir).localCheckpoint())

  private val LshPairsMemo = new Memo.Tag[DataFrame]
  private val SimhashPairsMemo = new Memo.Tag[DataFrame]

  def invalidateSimhashPairs(): Unit = Memo.invalidate(SimhashPairsMemo)
  def invalidateLshPairs(): Unit = Memo.invalidate(LshPairsMemo)

  /** Fingerprint width of the oracle-checked production form
    * (`d11_simhash_scaled`): 4 bands of 12 bits → 4096 buckets per band,
    * the occupancy restored for a ~10×-sf0.1 corpus per the knob rule in
    * [[simhashPairsScaled]]. Interpolated into OracleSql so engine and
    * oracle can never drift. */
  val ScaledBits = 48

  /** [[simhash]] at an arbitrary fingerprint width — the SimHash scale
    * knob. Word hashes draw 60 bits from md5 hex chars 1-15 and mask to
    * `bits`, so this deliberately does NOT reproduce the 32-bit d5 form
    * (which draws chars 1-8): d5/d6 stay bit-stable oracle queries while
    * this variant widens with the corpus. */
  def simhashScaled(s: SparkSession, dir: String, bits: Int): DataFrame = {
    require(bits % 4 == 0 && bits >= 8 && bits <= 60, s"bits=$bits")
    val words = array_distinct(tokens)
    val wordHash = conv(substring(md5(col("w")), 1, 15), 16, 10).cast(LongType)
      .bitwiseAND((1L << bits) - 1)
    val exploded = Tables.documents(s, dir)
      .select(col("doc_id"), explode(words).as("w"))
      .select(col("doc_id"), wordHash.as("h"))
    val bitVotes = (0 until bits).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$j")
    }
    val fp = (0 until bits).map { j =>
      when(col(s"v$j") > 0, 1L << j).otherwise(0L)
    }.reduce(_ + _)
    exploded.groupBy(col("doc_id")).agg(bitVotes.head, bitVotes.tail: _*)
      .select(col("doc_id"), fp.as("simhash"))
  }

  /** [[simhashPairs]] generalized to `bits`-wide fingerprints in 4 bands
    * of bits/4 — the occupancy knob of the SimHash banding path. Buckets
    * per band = 2^(bits/4); holding bits fixed while the corpus grows g×
    * multiplies expected bucket size by g and bucket-local pair work by
    * g² — widening bits by 4·log2(g) restores linear total work (the
    * same occupancy rule as [[graft.ops.Similarity.bucketedNearDupWith]]).
    * Hamming ≤ 3 over 4 bands still pigeonholes into ≥ 1 exact band
    * match, so candidate recall is preserved at any width. BASELINE.md's
    * scaling table measures 32-bit vs widened at sf1-synth. */
  def simhashPairsScaled(s: SparkSession, dir: String, bits: Int): DataFrame = {
    val w = bits / 4
    val bandMask = (1L << w) - 1
    val fps = simhashScaled(s, dir, bits).localCheckpoint()
    val banded = fps.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map { b =>
          struct(lit(b).as("band"),
            shiftright(col("simhash"), b * w).bitwiseAND(bandMask).as("bucket"))
        }: _*)).as("bb"))
      .select(col("doc_id"), col("simhash"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    def firstBand(xor: Column): Column =
      (0 until 3).foldRight(lit(3): Column) { (b, rest) =>
        when(xor.bitwiseAND(lit(bandMask << (b * w))) === 0, b).otherwise(rest)
      }
    val l = banded.as("l")
    val r = banded.as("r")
    val xorCol = col("l.simhash").bitwiseXOR(col("r.simhash"))
    l.join(r, col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket")
        && col("l.doc_id") < col("r.doc_id"))
      .filter(bit_count(xorCol) <= 3 && firstBand(xorCol) === col("l.band"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        bit_count(xorCol).as("hamming"))
  }

  // ---- exact n-gram Jaccard (oracle-friendly ground truth) -----------

  /** Cap of the exact-Jaccard audit sample: like Similarity.AuditCap, a
    * %-decimation alone grows linearly with the corpus and the audit's
    * pair output quadratically — the doc_id cut fixes the sample at
    * ≤ JaccardAuditCap/20 documents at ANY corpus size. */
  val JaccardAuditCap = 10000

  /** Exact word-set Jaccard over a FIXED-SIZE deterministic document
    * subset (doc_id % 20 == 0 and doc_id < JaccardAuditCap): pairs with
    * similarity ≥ 0.3. The bounded subset keeps the all-pairs comparison
    * corpus-size-independent; at full scale minhashLsh is the scalable
    * path and this is its audit query. */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .filter(col("doc_id") % 20 === 0 && col("doc_id") < JaccardAuditCap)
      .select(col("doc_id"), explode(array_distinct(tokens)).as("w"))
    val sizes = docs.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val shared = docs.toDF("a_id", "w")
      .join(docs.toDF("b_id", "w"), Seq("w"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.toDF("a_id", "na"), Seq("a_id"))
      .join(sizes.toDF("b_id", "nb"), Seq("b_id"))
      .select(col("a_id").as("doc_a"), col("b_id").as("doc_b"),
        (col("shared").cast(DoubleType) / (col("na") + col("nb") - col("shared")))
          .as("jaccard"))
      .filter(col("jaccard") >= 0.3)
  }

  // ---- exact substring duplication (suffix-array family) -------------

  /** Anchor length of the exact-substring dedup: a shared substring is
    * reported iff it spans at least this many tokens (the
    * deduplicate-text-datasets threshold, scaled to this corpus's short
    * documents — web-scale pipelines use 50). */
  val AnchorTokens = 8

  /** Document-frequency cap on anchors: an [[AnchorTokens]]-gram present
    * in more documents than this is SATURATED boilerplate (its pair
    * fan-out is df², corpus-quadratic for stop-phrases) and is excluded
    * from anchoring — the standard suffix-dedup guard; t14's boilerplate
    * gate is the operator that handles such spans. The oracle applies
    * the identical cap, so the gate compares the same definition. */
  val MaxAnchorDocs = 50

  /** d14: cross-document EXACT substring duplication at ≥
    * [[AnchorTokens]] tokens — the deduplicate-text-datasets modality
    * (verbatim spans copied between documents, a different grain from
    * d1/d2's whole-document and d3-d6's near-dup shingle families). For
    * every document pair sharing at least one maximal duplicated span,
    * reports the span count, the longest span, and the total duplicated
    * token mass.
    *
    * Method (the Spark-shaped equivalent of the suffix-array scan):
    * every position's [[AnchorTokens]]-gram is an ANCHOR; a duplicated
    * span of length L contains exactly L−N+1 consecutive anchor matches
    * at one (doc_a, doc_b, pa−pb) DIAGONAL, so matches group into
    * maximal spans by the islands idiom (pa − row_number per diagonal)
    * and span length = run + N − 1. Never all-pairs: only grams shared
    * by 2..[[MaxAnchorDocs]] documents anchor, so candidate generation
    * is a keyed equality join bounded by real duplication (the LSH-
    * candidates discipline applied to the exact-substring grain).
    *
    * Scale shape: ONE tokenize into the positional gram table,
    * materialized once (`localCheckpoint`) and re-read by the anchor-df
    * filter and both join sides (zero corpus re-scans — t14's shape);
    * the islands Window is PARTITIONED by (pair, diagonal); rollups are
    * map-side combined. At 100 TB the gram string becomes
    * `xxhash64(gram)` (8-byte join keys); the oracle-checked form keeps
    * raw grams so the DuckDB comparison is collision-free by
    * construction. */
  def substringDup(s: SparkSession, dir: String): DataFrame =
    substringDupFrame(Tables.documents(s, dir))

  /** Positional [[AnchorTokens]]-gram array of a token-array column —
    * staggered-slice zip (shingleCol's idiom): the token pipeline is
    * evaluated a constant number of times per row, positions fall out of
    * posexplode — no per-index slice re-evaluation. Shared by the batch
    * d14 and the streaming attribution port. */
  private[graft] def anchorGramsOf(t: Column): Column = {
    val n = AnchorTokens
    val m = size(t) - (n - 1)
    val grams = (1 to n).map(k => slice(t, lit(k), m))
      .reduce((acc, sl) => zip_with(acc, sl, (a, b) => concat(a, lit(" "), b)))
    when(size(t) >= n, grams).otherwise(array().cast("array<string>"))
  }

  /** The maximal-duplicated-span table of a corpus — one row per
    * (doc_a, doc_b, diag, island) with the island's start `b0` (min pb)
    * and length `run` — the shared kernel of d14's rollup and d15's
    * scrub (round 20): checkpointed positional gram table re-read by the
    * df-capped anchor filter and both match sides, islands Window per
    * (pair, diagonal). */
  private[graft] def substringSpansOf(documents: DataFrame): DataFrame = {
    val occ = documents
      .select(col("doc_id"), tokens.as("t"))
      .select(col("doc_id"), posexplode(anchorGramsOf(col("t"))))
      .withColumnRenamed("col", "g")
      .localCheckpoint()
    val anchors = occ.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("dfd"))
      .filter(col("dfd").between(2, MaxAnchorDocs))
      .select(col("g"))
    val hit = occ.join(anchors, Seq("g"))
    val matches = hit.select(col("g"), col("doc_id").as("doc_a"), col("pos").as("pa"))
      .join(hit.select(col("g"), col("doc_id").as("doc_b"), col("pos").as("pb")),
        Seq("g"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("pa"), col("pb"))
    val diagWin = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_a"), col("doc_b"), col("diag")).orderBy(col("pa"))
    matches.withColumn("diag", col("pa") - col("pb"))
      .withColumn("island", col("pa") - row_number().over(diagWin))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("island"))
      .agg(min(col("pb")).as("b0"), count(lit(1)).as("run"))
  }

  /** d14's span table. Read by d15's scrub; d14 calls
    * [[substringSpansOf]] directly. */
  private[graft] def substringSpansMemo(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, SpansMemo)(substringSpansOf(Tables.documents(s, dir)).localCheckpoint())

  private val SpansMemo = new Memo.Tag[DataFrame]

  def invalidateSpans(): Unit = Memo.invalidate(SpansMemo)

  /** Frame-level form of [[substringDup]] — any (doc_id, text). */
  def substringDupFrame(documents: DataFrame): DataFrame = {
    val n = AnchorTokens
    substringSpansOf(documents).groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_spans"),
        (max(col("run")) + (n - 1)).cast(LongType).as("max_span_tokens"),
        (sum(col("run")) + lit(n - 1) * count(lit(1))).cast(LongType).as("dup_tokens"))
  }

  /** d15: SPAN SCRUB — the APPLY for the d14 modality, and what
    * deduplicate-text-datasets actually does to the corpus: it does not
    * drop documents, it CUTS the duplicated bytes. Every maximal
    * duplicated span keeps its FIRST occurrence (doc_a < doc_b — the
    * d10/s11 keeper rule at span grain) and the covered token positions
    * are removed from every later document; per document the op reports
    * the token count, the removed-token count, and the md5 of the
    * scrubbed text (t13's clean_hash idiom — the hash IS the
    * reconstructed document, so the oracle proves the cut positions
    * exactly).
    *
    * Scale shape (round 20, VERDICT r19 #5): the scrub is the APPLY of
    * d14's span modality, so the declared query reads the span table
    * from the session materialization ([[substringSpansMemo]] — in
    * production, the persisted span artifact of the d14 label pass) and
    * never re-anchors the corpus; then the covered-position expansion —
    * bounded by the real duplicated token mass times the df cap, never
    * by corpus size — a (doc, pos) distinct (spans from different
    * sources overlap), and one anti-style left join back to a single
    * corpus scan. Docs with at least one token each emit exactly one
    * row. */
  def substringScrub(s: SparkSession, dir: String): DataFrame =
    substringScrubFrom(substringSpansMemo(s, dir), Tables.documents(s, dir))

  /** Frame-level form of [[substringScrub]] — any (doc_id, text); specs
    * drive it directly, so it anchors its own spans. */
  def substringScrubFrame(documents: DataFrame): DataFrame =
    substringScrubFrom(substringSpansOf(documents), documents)

  /** The scrub tail over a prepared span table. */
  private def substringScrubFrom(spans: DataFrame,
      documents: DataFrame): DataFrame = {
    val n = AnchorTokens
    // covered 1-based positions in the LATER doc, from any source doc,
    // rolled to DOC grain: one small array per scrubbed document,
    // bounded by the real duplicated token mass times the df cap.
    // Round 19: the scrub itself is now PER-ROW column work — the
    // previous tail posexploded every corpus token (with its string)
    // into a (doc, pos) join + per-doc collect_list rebuild, i.e. the
    // whole corpus re-shuffled at token grain to delete a few
    // positions. Only the removed-position arrays move now (AQE
    // broadcasts them); the kept sequence is an indexed filter of the
    // token array already on the row — identical order, identical hash.
    // Bound (ADVICE r19 #3): the kept-sequence filter is
    // O(n_tokens × |rm|) per document. |rm| is capped by the duplicated
    // token mass under the MaxAnchorDocs df cap, so the common case is
    // |rm| ≪ n_tokens; a corpus where most documents are mostly
    // duplicated text approaches quadratic single-task work per doc and
    // would want a sorted-rm mask walked once instead.
    val rmPerDoc = spans
      .select(col("doc_b").as("doc_id"),
        explode(sequence(col("b0") + 1, col("b0") + col("run") + lit(n - 1)))
          .as("p"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("p")).as("rm"))
    documents.select(col("doc_id"), tokens.as("t"))
      // zero-token docs emitted nothing from the old posexplode tail
      .filter(size(col("t")) >= 1)
      .join(rmPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("t")).as("n_tokens"),
        when(col("rm").isNull, lit(0L))
          .otherwise(size(col("rm")).cast(LongType)).as("n_removed"),
        md5(array_join(
          when(col("rm").isNull, col("t")).otherwise(
            filter(col("t"), (tok, i) =>
              not(array_contains(col("rm"), i + 1)))),
          " ")).as("clean_hash"))
  }

  // ---- incremental (delta) dedup (d16) -------------------------------

  /** INCREMENTAL dedup verdicts (d16) — the production "today's crawl
    * against the standing corpus" path: a daily pipeline never re-dedups
    * the whole corpus, it dedups the NEW batch against what already
    * exists. Batch = the newest 10% of doc_ids (the cut folds in as a
    * one-row broadcast — no driver-side count); corpus = the rest. Each
    * batch document gets a verdict:
    *  - `exact` — its md5(text) already exists in the corpus (partner =
    *    the smallest such corpus doc, est_jaccard = 1.0);
    *  - `near`  — a corpus doc shares a MinHash band bucket with
    *    estimated Jaccard ≥ 0.5 (partner = the best-scoring corpus doc,
    *    ties to the smallest id);
    *  - `new`   — neither (partner/est_jaccard NULL): it enters the
    *    corpus.
    *
    * Scale design: ONE signature pass over all documents (checkpointed;
    * in production the corpus side is the persisted signature artifact —
    * the [[graft.ops.Artifacts]] store — and only the batch hashes
    * fresh), banding read twice from the materialization; candidates are
    * a (band, bucket) EQUALITY join whose batch side is ~10% of the
    * corpus, never all-pairs; exact matching is a hash join on md5(text)
    * with a map-side-combined min per hash. Within-batch duplicates are
    * deliberately out of scope here — that is d3/d8's job run on the
    * batch alone. */
  /** The delta family's ONE-ROW batch cut: floor(n·0.9), guarded
    * (ADVICE r13 #4) — "newest 10%" equals a 10%-by-count batch only
    * for DENSE 0..n−1 ids (the testdata contract and the ingest
    * contract of a monotonically-assigned crawl id), so density is
    * verified in the SAME one-row aggregate that computes the cut
    * (zero extra jobs) and sparse/offset ids fail loudly instead of
    * silently cutting the wrong batch. Shared by d16 and c20 so the
    * dedup verdicts and the shard refresh agree on what "the batch"
    * is by construction. */
  private[graft] def denseCutDf(docs: DataFrame): DataFrame =
    docs.agg(
      when(min(col("doc_id")) === 0 &&
          max(col("doc_id")) === count(lit(1)) - 1,
        floor(count(lit(1)) * 0.9))
        .otherwise(raise_error(concat(
          lit("deltaDedup: doc_id must be dense 0..n-1 (got min="),
          min(col("doc_id")).cast("string"), lit(", max="),
          max(col("doc_id")).cast("string"), lit(", n="),
          count(lit(1)).cast("string"),
          lit(") — use an order-statistic cut for sparse ids"))))
        .as("cut"))

  /** d16's batch verdicts. Read by c20's shard refresh; d16 calls
    * [[deltaDedup]] directly. */
  def deltaDedupMemo(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, DeltaVerdictsMemo)(deltaDedup(s, dir).localCheckpoint())

  private val DeltaVerdictsMemo = new Memo.Tag[DataFrame]

  def invalidateDeltaVerdicts(): Unit = Memo.invalidate(DeltaVerdictsMemo)

  def deltaDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val cut = denseCutDf(docs)
    // exact tier: corpus content-hash set, min-doc partner per hash
    val hashed = docs.select(col("doc_id"), md5(col("text")).as("ch"))
      .crossJoin(broadcast(cut))
    val exact = hashed.filter(col("doc_id") >= col("cut"))
      .select(col("doc_id"), col("ch"))
      .join(hashed.filter(col("doc_id") < col("cut"))
        .groupBy(col("ch")).agg(min(col("doc_id")).as("exact_partner")),
        Seq("ch"))
      .select(col("doc_id"), col("exact_partner"))
    // near tier: d4's banded LSH, batch side vs corpus side; the
    // signature table goes through the Artifacts store — with artifacts
    // enabled a second session (or the streaming ingest path,
    // deltaDedupStream's corpus side) reads the persisted signatures
    // instead of re-hashing the corpus
    val sig = Artifacts.readOrBuild(s, dir, "minhash_sig")(
        minhashSignatures(s, dir)
          .select(col("doc_id"),
            array((0 until NumPerms).map(i => col(s"mh$i")): _*).as("sig")))
      .localCheckpoint()
    val banded = sig.select(col("doc_id"), col("sig"),
        explode(bandBuckets(col("sig"))).as("bb"))
      .select(col("doc_id"), col("sig"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      .crossJoin(broadcast(cut))
    val near = banded.filter(col("doc_id") >= col("cut"))
      .select(col("band"), col("bucket"), col("doc_id"), col("sig"))
      .join(banded.filter(col("doc_id") < col("cut"))
          .select(col("band"), col("bucket"),
            col("doc_id").as("c_id"), col("sig").as("c_sig")),
        Seq("band", "bucket"))
      .select(col("doc_id"), col("c_id"),
        (size(filter(zip_with(col("sig"), col("c_sig"), (a, b) => a === b),
          v => v)).cast(DoubleType) / NumPerms).as("est"))
      .filter(col("est") >= 0.5)
      .groupBy(col("doc_id"))
      .agg(max(struct(col("est").as("e"), (-col("c_id")).as("nc"))).as("best"))
      .select(col("doc_id"), (-col("best.nc")).as("near_partner"),
        col("best.e").as("near_est"))
    docs.select(col("doc_id")).crossJoin(broadcast(cut))
      .filter(col("doc_id") >= col("cut")).select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_partner").isNotNull, "exact")
          .when(col("near_partner").isNotNull, "near")
          .otherwise("new").as("verdict"),
        coalesce(col("exact_partner"), col("near_partner")).as("partner"),
        when(col("exact_partner").isNotNull, 1.0)
          .otherwise(col("near_est")).as("est_jaccard"))
  }

  // ---- cross-source duplicate attribution (d17) ----------------------

  /** Cross-source near-duplicate attribution (d17): which source pairs
    * overlap, and by how much — the crawl-audit rollup a corpus curator
    * reads before deciding which feed to drop (two crawls of the same
    * site show up as one heavy off-diagonal cell; within-source
    * boilerplate shows up on the diagonal). Pairs come from the SimHash
    * banding path ([[simhashPairs]] — hamming ≤ 3, bucketed candidate
    * generation, never all-pairs); each endpoint is attributed to its
    * source and the pair canonicalized (`least/greatest`) so (A,B) and
    * (B,A) are one cell.
    *
    * Scale shape: the pair list is orders of magnitude smaller than the
    * corpus (it exists precisely because duplicates are the minority),
    * so the two doc_id→source attribution joins run at PAIR grain — AQE
    * picks broadcast vs shuffled-hash by the actual pair count — and the
    * final rollup is source-pair grain (tiny at any corpus size). */
  def crossSourcePairs(s: SparkSession, dir: String): DataFrame =
    crossSourcePairsFrame(
      simhashPairsMemo(s, dir), // round 19: the persisted pair list, not a re-run
      Tables.documents(s, dir).select(col("doc_id"), col("source")))

  /** Frame-level form of [[crossSourcePairs]]: `pairs` (doc_a, doc_b),
    * `sources` (doc_id, source). */
  def crossSourcePairsFrame(pairs: DataFrame, sources: DataFrame): DataFrame =
    pairs.select(col("doc_a"), col("doc_b"))
      .join(sources.select(col("doc_id").as("doc_a"), col("source").as("sa")),
        Seq("doc_a"))
      .join(sources.select(col("doc_id").as("doc_b"), col("source").as("sb")),
        Seq("doc_b"))
      .groupBy(
        least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
}
