package graft


/** Emits PLANS.md: physical-plan evidence for the scale-design claims —
  * broadcasts where dims are small, pushdown reaching the scan, SMJ (not
  * cartesian) on time-bound joins, single-subtree LSH pipelines.
  *
  * The same checks run as assertions inside `sbt test` (PlanSpec), so a
  * plan regression — a broadcast falling back to SMJ after a threshold
  * change, a filter no longer reaching the scan — fails the suite instead
  * of shipping silently until someone regenerates PLANS.md. */
object PlanAudit {

  /** (query name, claim, must-contain fragments, must-not-contain). */
  val checks: Seq[(String, String, Seq[String], Seq[String])] = Seq(
      ("j3_fk_chain", "every dimension join is a BroadcastHashJoin; no shuffle of the fact side before the final aggregation",
        Seq("BroadcastHashJoin"), Seq("CartesianProduct")),
      ("o6_filter_stream", "predicates reach the parquet scan (DataFilters/PushedFilters)",
        Seq("PushedFilters: [IsNotNull(event_type)"), Seq()),
      ("j5_windowed_inner", "equi-key + time-bound residual plans a hash/merge join, not a cartesian product",
        Seq(), Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      ("j6_windowed_outer", "full outer with residual stays a sort-merge join",
        Seq("SortMergeJoin"), Seq("CartesianProduct")),
      ("d4_minhash_lsh", "single signature subtree (no self-join recompute): exactly one scan of documents",
        Seq(), Seq()),
      ("d6_simhash_pairs", "one simhash subtree: fingerprints are checkpointed, the self-join reads the materialized RDD (zero parquet re-scans) and emits pairs with no post-join distinct",
        Seq("ExistingRDD"), Seq("FileScan parquet")),
      ("s5_bucketed_neardup", "SRP-bucket equality join generates candidates — no all-pairs",
        Seq(), Seq("BroadcastNestedLoopJoin", "CartesianProduct")),
      ("s10_semantic_dedup", "the cluster rollup reads the converged CC labels as a materialized RDD (the bucketed pair generation and the label loop ran inside the checkpoint) — the final plan is one partial/final aggregate over labels, no pair re-generation, no all-pairs anywhere",
        Seq("ExistingRDD", "partial_count"),
        Seq("BroadcastNestedLoopJoin", "CartesianProduct", "FileScan parquet")),
      ("s11_semantic_apply", "the embedding-side APPLY reads the memoized semantic labels (ExistingRDD — the label phase ran once, in s10, not again here) and anti-joins the UN-hinted drop list against the single embeddings scan — AQE owns the strategy (broadcast at this scale, shuffled fallback at a high dup fraction), exactly the d10 shape",
        Seq("ExistingRDD", "LeftAnti"),
        Seq("BroadcastNestedLoopJoin", "CartesianProduct")),
      ("d11_simhash_scaled", "the production-width SimHash form keeps d6's shape: fingerprints checkpointed once (ExistingRDD), the banded self-join reads the materialized RDD (zero parquet re-scans), first-matching-band emission needs no post-join distinct",
        Seq("ExistingRDD"), Seq("FileScan parquet")),
      ("s12_neardup_scaled", "the production-plane SRP form keeps s5's shape: bucket equality join over the checkpointed bucketed table — no all-pairs",
        Seq("ExistingRDD"), Seq("BroadcastNestedLoopJoin", "CartesianProduct")),
      ("s13_ivf_scaled", "the √n-stride production IVF keeps s8's shape: EQUALITY join on cell id over the checkpointed index (ExistingRDD), broadcast query side — the n×C build (now n√n) is confined inside the checkpoint",
        Seq("ExistingRDD", "BroadcastHashJoin"), Seq("CartesianProduct")),
      ("s7_multiprobe_topk", "multi-probe fan-out stays on the broadcast query side; candidates via BroadcastHashJoin, never all-pairs; the per-query top-k plans WindowGroupLimit (partial top-k per partition before any q_id shuffle)",
        Seq("BroadcastHashJoin", "WindowGroupLimit"), Seq("BroadcastNestedLoopJoin", "CartesianProduct")),
      ("s1_brute_topk", "the exact baseline scans the corpus once against broadcast queries and its per-query top-k plans WindowGroupLimit — even the brute-force path never shuffles all n×q scored rows to the rank step",
        Seq("WindowGroupLimit"), Seq("SortMergeJoin")),
      ("o18_avro_roundtrip", "the Avro encode/decode stages are narrow (mapPartitions): the only exchange is the final aggregation's",
        Seq("MapPartitions"), Seq()),
      ("a2_wordcount", "partial aggregation (map-side combine) before any word shuffle (a corpus read as one partition, as at sf0.01, needs none)",
        Seq("HashAggregate"), Seq()),
      ("o17_order_limit", "global sort+limit plans TakeOrderedAndProject (per-partition top-k), not a full sort",
        Seq("TakeOrderedAndProject"), Seq()),
      ("s2_latest_per_key", "latest-per-key is a max_by aggregate with map-side partial combine (no Window): the shuffle carries one row per key per mapper",
        Seq("partial_max_by"), Seq("Window")),
      ("j7_table_table", "both latest-per-key sides are pure HashAggregates (max of a primitive) feeding a broadcast join — no Window, no SortAggregate",
        Seq("HashAggregate"), Seq("Window", "SortAggregate")),
      ("t4_fingerprint", "rolling-hash fingerprint is one narrow projection pipeline: char codes built once, 5 staggered slices zipped — no md5-per-position, no shuffle",
        Seq("zip_with"), Seq("), ENSURE_REQUIREMENTS", "Window")),
      ("t10_tfidf_top", "tf is checkpointed (ExistingRDD) and N folds in as a one-row broadcast — a single job, no separate driver-side count action",
        Seq("ExistingRDD"), Seq()),
      ("s8_ivf_topk", "IVF search is an EQUALITY join on cell id over the checkpointed index (ExistingRDD) — the n×C scoring is confined to the index build, whose per-vector top-1 cell is a map-side-combining max_by aggregate (asserted by SimilaritySpec, invisible here because the checkpoint consumes the build plan)",
        Seq("ExistingRDD", "BroadcastHashJoin"), Seq("CartesianProduct")),
      ("t12_lang_balanced", "the per-language cap plans WindowGroupLimit: partial top-K per partition before any shuffle, never a full corpus sort",
        Seq("WindowGroupLimit"), Seq()),
      ("w5_late_data", "the batch watermark is a two-level prefix scan: the row-grain running max is a Window PARTITIONED by bucket, the bucket summary (rows/4096, map-side partial_max) broadcasts back — the only global-order window runs at bucket grain",
        Seq("Window", "partial_max", "BroadcastHashJoin"), Seq()),
      ("c7_music_chart", "both chart branches read the checkpointed song-grain counts (ExistingRDD — the broadcast song join ran once inside the checkpoint) and the rank+filter pair plans WindowGroupLimit: partial top-5 before any single-partition merge",
        Seq("ExistingRDD", "WindowGroupLimit"), Seq("CartesianProduct", "FileScan parquet")),
      ("c8_microservices", "the synthesized orders topic is materialized ONCE (ExistingRDD) and consumed by all three validators — no per-service re-scan of lineitem; the warehouse dim broadcasts; the fraud session windows share ONE hashpartitioning(customer_id) exchange (cascaded specs re-sort, never re-shuffle); verdicts aggregate map-side before the order_id shuffle, and (round 19) the order's quantity rides the narrow details branch of that union, so the per-order state needs NO second exchange + sort-merge rejoin of the orders table",
        Seq("ExistingRDD", "BroadcastHashJoin", "partial_sum"),
        Seq("CartesianProduct", "BroadcastNestedLoopJoin", "lineitem",
          "SortMergeJoin")),
      ("d10_dedup_apply", "the APPLY phase reads the memoized label table (ExistingRDD — the LSH+CC labeling pipeline ran once, in d8's label phase, not again here) and anti-joins the UN-hinted drop list against the single corpus scan — AQE picks broadcast LeftAnti at this scale (visible below) and is free to fall back to a shuffled LeftAnti when the dup fraction is corpus-proportional; either way one documents pass before the language rollup",
        Seq("ExistingRDD", "LeftAnti"),
        Seq("Generate explode")),
      ("s3_embedding_neardup", "the exact-cosine audit joins a FIXED-SIZE sample: the corpus-size-independent vec_id cap is pushed down to the parquet scan, so the quadratic pair count cannot grow with the corpus",
        Seq(s"LessThan(vec_id,${graft.ops.Similarity.AuditCap})"), Seq()),
      ("c6_prep_chunked", "the chunk rollup is the chunker's CLOSED FORM (round 19): one corpus scan into the md5-keyed dedup aggregate — keyed on (hash, doc_id, lang, n_toks), so a shuffle of it carries those, never the text bytes — then per-doc ceil arithmetic and the lang rollup; the chunk EXPANSION (posexplode into owning chunks, collect_list hashing) no longer appears because the funnel needs counts, not chunk rows (t11 keeps the expansion under oracle proof) — at most two keyed exchanges (none over a corpus read as one partition, as at sf0.01), no explode, no re-scan",
        Seq(), Seq("PosExplode", "collect_list", "Generate")),
      ("d7_ngram_jaccard", "the exact-Jaccard audit reads a FIXED-SIZE sample: the corpus-size-independent doc_id cap is pushed to the parquet scan, so the audit's pair output cannot grow with the corpus",
        Seq(s"LessThan(doc_id,${graft.ops.Dedup.JaccardAuditCap})"), Seq()),
      ("c9_email_routed", "orders⋈payments is an equi-key join with a time-bound residual (hash/merge, never cartesian) and the customer level table broadcasts — the EmailService dataflow keeps the fact side un-replicated",
        Seq("BroadcastHashJoin"), Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      // The a_id<b_id pair join is BNLJ (inequality-only), which never joins
      // whole-stage codegen; the native expression is in the join condition
      // (evaluated via its compiled eval), with no Python/UDF anywhere.
      ("s4_native_cosine", "native graft_cosine in the join condition over the same FIXED-SIZE pushed-down audit sample; no UDF/Python evaluation",
        Seq("graft_cosine", s"LessThan(vec_id,${graft.ops.Similarity.AuditCap})"),
        Seq("BatchEvalPython")),
      ("c10_prep_full", "the full prep funnel keeps its components' shapes: the boilerplate ratios and the decontamination drop list BOTH derive from the ONE checkpointed tagged 3-gram pass (ExistingRDD — round 20: before, t14's occ pass and d12's shingle pass each tokenized+exploded the corpus), the bounded drop list broadcasts (LeftAnti), the corpus-sized exact-dup keeper set joins UN-hinted (AQE strategy), t13's kept count is INLINE per-row work on the survivor rows (no second corpus scan + join for it), and nothing goes all-pairs",
        Seq("ExistingRDD", "BroadcastHashJoin", "LeftAnti"),
        Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      ("d12_decontam_attrib", "both the bench-shingle join and the bench-size join BROADCAST (the bench side is fixed-size; the 100-TB corpus is never shuffled on shingles) and the bench subtree's doc_id cap pushes to its scan",
        Seq("BroadcastHashJoin", "LessThan(doc_id,10)"),
        Seq("SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin")),
      ("t13_collapse_repeats", "stutter collapse is one narrow projection pipeline — the token array zipped against its own shifted slice, no keyed shuffle, no window, no UDF",
        Seq("zip_with"), Seq("), ENSURE_REQUIREMENTS", "Window", "BatchEvalPython")),
      ("t14_boilerplate_ngrams", "the df table derives FROM the checkpointed (doc,ngram) occurrence counts (ExistingRDD — the tokenize+explode ran once), so the boilerplate join re-reads the materialization, never the corpus; no all-pairs anywhere",
        Seq("ExistingRDD"),
        Seq("FileScan parquet", "CartesianProduct", "BroadcastNestedLoopJoin")),
      ("t15_scrub_numeric", "field scrubbing is pure codegen'd column work — regexp_replace/extract projections with no shuffle beyond the loader's key-hash fan-out of a single-file table, no aggregation, no UDF",
        Seq("regexp_replace"),
        Seq("), ENSURE_REQUIREMENTS", "HashAggregate", "BatchEvalPython")),
      ("t16_lm_support", "the corpus-LM support score keeps t14's stats shape: ONE tokenize+explode into the checkpointed occurrence table (ExistingRDD), both count tables derive FROM the materialization (zero parquet re-scans), joins stay keyed — no all-pairs",
        Seq("ExistingRDD"),
        Seq("FileScan parquet", "CartesianProduct", "BroadcastNestedLoopJoin")),
      ("t17_sequence_pack", "sequence packing's global prefix sum is the w5 two-level scan: the row-grain running sum is a Window PARTITIONED by doc-id bucket, only the bucket summary (map-side partial_sum) crosses the single-partition window, and it broadcasts back — no corpus-grain global sort",
        Seq("Window", "partial_sum", "BroadcastHashJoin"),
        Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      ("d13_containment_pairs", "pair directionality reads the (doc, distinct-shingle) table from ONE materialization (ExistingRDD — sizes and both intersection sides re-read it, the tokenize+shingle pipeline ran once), the candidate pairs are the session d4 pairs memo (round 19 — the signature pipeline ran once, in d4's phase), and every join is keyed — candidates bound the work, never all-pairs",
        Seq("ExistingRDD"),
        Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      ("c13_leakage_split", "the split reads the MEMOIZED d8 cluster labels (ExistingRDD — the labeling pipeline ran once, in d8's label phase, not here), LEFT-joins them to ONE corpus scan, and rolls up map-side (partial_count) — no pair generation, no all-pairs",
        Seq("ExistingRDD", "partial_count"),
        Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      ("m4_phash_pairs", "perceptual-hash pairing keeps d6/d11's banded shape: the 4×16-bit fingerprint table is checkpointed once (ExistingRDD — round 19: the integer DCT/median/band signature is computed inside the SAME decode closure that parses the BMP, so 32 bytes per image reach the checkpoint instead of ~3k pixel-join rows) and the candidate join is a (band,bucket) EQUALITY join with first-matching-band emission — never all-pairs over images",
        Seq("ExistingRDD"),
        Seq("CartesianProduct", "BroadcastNestedLoopJoin", "FileScan parquet")),
      ("d14_substring_dup", "exact-substring anchoring reads the positional gram table from ONE materialization (ExistingRDD — the anchor-df filter and both match-join sides re-read it, the tokenize+gram pipeline ran once); the df-capped anchor join is a keyed equality join and the islands Window is partitioned by (pair, diagonal) — candidates bound the work, never all-pairs",
        Seq("ExistingRDD"),
        Seq("CartesianProduct", "BroadcastNestedLoopJoin", "FileScan parquet")),
      ("c12_quality_report", "the drop-reason report joins the MEMOIZED t14/t16 stats tables on doc_id (ExistingRDD — one materialization shared with the funnel), folds both quantile thresholds in as one-row BroadcastHashJoins on the zero key (each threshold is the two-level grid scan — see the global-window audit), and rolls up map-side — no all-pairs, no corpus re-scan for the thresholds",
        Seq("ExistingRDD", "BroadcastHashJoin", "partial_count"),
        Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      ("t18_domain_balance", "domain reweighting is one aggregation for source totals (map-side partial_sum), a one-row broadcast minimum on the non-foldable zero key (BroadcastHashJoin, never a nested-loop), and one corpus pass for the integer keep predicate — no all-pairs",
        Seq("partial_sum", "BroadcastHashJoin"),
        Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      ("t28_dsir_weights", "DSIR trains BOTH LMs from the one checkpointed doc-grain bigram table (ExistingRDD — target flag rode the single tokenize), and both models' count tables ride ONE rollup each of it (round 20: raw and target counts are two conditional-sum columns of the same vocabulary-bounded aggregate, so the per-bigram attach is 2 keyed joins, not 4, and one checkpoint, not two); V and V_t fold in as a single one-row broadcast on the non-foldable zero key (BroadcastHashJoin, never a nested loop); per-doc reduction a map-side-combined integer sum — no Window, no second corpus scan, zero parquet scans in the final plan",
        Seq("ExistingRDD", "BroadcastHashJoin", "HashAggregate"),
        Seq("FileScan parquet", "CartesianProduct", "BroadcastNestedLoopJoin",
          "Window", "SortAggregate")),
      ("j8_asof", "the as-of join reads the events table ONCE (clicks and purchases are a tagged single pass — the click collapse is a conditional max whose group key carries each purchase's own event id, and a per-group row count re-expands identical or NULL-id purchases after the window as a Generate, so every purchase row comes out once), and the as-of lookup is the running last-non-null Window — no self-join, no second scan",
        Seq("Window", "HashAggregate"),
        Seq("SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin")),
      ("t30_alpha_mixture", "the α-temperature sampler keeps t18's plan shape exactly: one map-side-combined totals aggregate, ONE one-row broadcast carrying BOTH scalars (min and the Σ T^α normalizer) on the zero key, and one corpus pass for the ppm-integer keep predicate — the temperature knob adds per-source column arithmetic, never a new shuffle or pairing",
        Seq("partial_sum", "BroadcastHashJoin"),
        Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      ("t31_gopher_rules", "the Gopher rule signals are ONE narrow projection over a single corpus scan — token and line arrays built once per row, every signal sliced off them, integer keep predicate — no shuffle, no window, no join anywhere in the plan",
        Seq("FileScan parquet"),
        Seq("), ENSURE_REQUIREMENTS", "Window", "Join")),
      ("c23_epoch_plan", "the epoch planner reads the corpus ONCE into a checkpointed source-grain aggregate (ExistingRDD — map-side partial_sum inside the checkpoint); the budget scalars fold in as a one-row broadcast on the non-foldable zero key (BroadcastHashJoin) and all planning arithmetic runs at source grain — zero parquet scans in the final plan, no re-scan at any corpus size",
        Seq("ExistingRDD", "BroadcastHashJoin"),
        Seq("FileScan parquet", "CartesianProduct", "BroadcastNestedLoopJoin")),
      ("c24_filtered_epochs", "the filtered planner keeps c23's shape exactly — the Gopher keep predicate rides the corpus pass INSIDE the checkpoint (one filtered scan), the final plan is source-grain arithmetic over ExistingRDD plus the zero-key scalar broadcast",
        Seq("ExistingRDD", "BroadcastHashJoin"),
        Seq("FileScan parquet", "CartesianProduct", "BroadcastNestedLoopJoin")),
      ("t32_repetition_rules", "repetition signals are per-row array expressions on one corpus scan; only the modal-bigram count may shuffle (not over a corpus read as one partition), keyed at (doc_id, bigram) grain with map-side combine (partial_count) then a doc-grain partial_max — no corpus-grain sort, no window, no all-pairs",
        Seq("partial_count", "partial_max"),
        Seq("CartesianProduct", "BroadcastNestedLoopJoin", "Window")),
      ("d17_crosssource_dup", "cross-source attribution runs at PAIR grain over the MATERIALIZED near-dup pair list (ExistingRDD — the session pairs memo, round 19: the banding pipeline ran once, in d6's phase, not again here), the two doc_id→source joins see only the pair list (AQE picks broadcast vs shuffled-hash), and the rollup is a source-pair-grain hash aggregate — no all-pairs, no corpus-grain shuffle",
        Seq("ExistingRDD", "HashAggregate"),
        Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      ("c11_prep_packed", "the packing phase reads the MATERIALIZED survivor set (ExistingRDD — the funnel's gates ran once, in c10/the memo, not again here; production persists the cleaned corpus) and applies t17's two-level prefix scan: bucket-partitioned Window, map-side partial_sum, UN-hinted bucket-offset join keyed on the bucket the rows are already partitioned by (AQE owns broadcast-vs-shuffle) — no gate re-execution, no corpus-grain global sort",
        Seq("ExistingRDD", "Window", "partial_sum"),
        Seq("CartesianProduct", "BroadcastNestedLoopJoin", "LeftAnti")),
      ("t19_inverted_index", "the index build keeps t10's discipline: ONE tokenize+posexplode into the checkpointed (term,doc) postings table (ExistingRDD), term-grain stats derive FROM the materialization (zero parquet re-scans), and the posting-list head plans WindowGroupLimit — partial top-3 per partition before the term shuffle, never a full postings sort",
        Seq("ExistingRDD", "WindowGroupLimit"),
        Seq("FileScan parquet", "CartesianProduct", "BroadcastNestedLoopJoin")),
      ("t20_pmi_pairs", "unigram AND bigram counts come from ONE tagged explode into the checkpointed count table (ExistingRDD, zero parquet re-scans); corpus totals fold in as a one-row broadcast, the vocabulary-side joins stay keyed and UN-hinted, and the collocation head plans TakeOrderedAndProject — per-partition top-50, never a global sort",
        Seq("ExistingRDD", "TakeOrderedAndProject"),
        Seq("FileScan parquet", "CartesianProduct", "BroadcastNestedLoopJoin")),
      ("t21_bpe_merges", "nothing round-trips through the driver: every merge round's winning pair and vocab stats are limit(1)/one-row aggregates over that round's CHECKPOINTED tagged count table (round 19: one fused pair+token pass per corpus version — ExistingRDD), folded back on a non-foldable zero key (BroadcastHashJoin, never a nested loop), each round's corpus is checkpointed so round k never re-executes rounds 1..k-1, and the result union reads ONLY materializations — zero parquet re-scans in the final plan",
        Seq("ExistingRDD", "BroadcastHashJoin"),
        Seq("FileScan parquet", "CartesianProduct", "BroadcastNestedLoopJoin")),
      ("s15_kmeans_cells", "the cluster summary reads the CHECKPOINTED ivfIndex assignment and centroid tables (ExistingRDD — the n×C Lloyd build ran inside the checkpoints, exactly s8's shape), joins them KEYED on cell id (un-hinted — AQE owns broadcast-vs-shuffle as C grows), and rolls up map-side — no all-pairs, no corpus re-scan",
        Seq("ExistingRDD", "partial_count"),
        Seq("FileScan parquet", "CartesianProduct", "BroadcastNestedLoopJoin")),
      ("c14_release_manifest", "the manifest is PURE COMPOSITION over memoized materializations: the survivor set and the d8 cluster labels are both ExistingRDD (the funnel gates and the LSH+CC labeling each ran once, in their own phases), one LEFT join on doc_id, integer split cuts, map-side rollup — zero parquet scans, zero gate or label re-execution",
        Seq("ExistingRDD", "partial_count"),
        Seq("FileScan parquet", "CartesianProduct", "BroadcastNestedLoopJoin", "Generate explode")),
      ("t22_winnowing", "winnowing is ONE narrow projection pipeline like t4: the gram-hash array built once (staggered-slice zip), the w windows four more zipped slices with a rightmost-min fold, packed-integer distinct — per-row array math, no shuffle, no window, no UDF",
        Seq("zip_with"),
        Seq("), ENSURE_REQUIREMENTS", "Window", "BatchEvalPython")),
      ("m5_audio_stats", "the sample-grain WAV walk is a NARROW batched mapPartitions (one iterator per partition, the mapInPandas shape) with no exchange anywhere — per-doc rows in, per-doc stats out, linear in corpus bytes",
        Seq("MapPartitions"),
        Seq("), ENSURE_REQUIREMENTS", "Window", "BatchEvalPython")),
      ("t23_vocab_growth", "cumulative distinct without re-scanning: each term contributes its FIRST slice (map-side-combined min at vocabulary grain), slice bounds fold in as a one-row broadcast on the zero key, and the only un-partitioned Window runs over the TEN slice rows — no rank, no corpus-grain global sort, no all-pairs",
        Seq("partial_min", "BroadcastHashJoin"),
        Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      ("s16_pq_codes", "PQ assignment is a map-side min_by over the checkpointed subvector table (ExistingRDD) joined to the K·M-row broadcast codebook (BroadcastHashJoin on the subspace key) — never a Window over the n×K scored rows, no all-pairs, zero parquet re-scans",
        Seq("ExistingRDD", "BroadcastHashJoin", "partial_min_by"),
        Seq("FileScan parquet", "CartesianProduct", "BroadcastNestedLoopJoin")),
      ("s17_pq_adc", "ADC search is ONE pass over the checkpointed 16-bit code table (ExistingRDD) with four broadcast hash-join lookups into the bounded query-side distance tables — the floats never leave the index build, the per-query top-5 plans WindowGroupLimit, no all-pairs",
        Seq("ExistingRDD", "BroadcastHashJoin", "WindowGroupLimit"),
        Seq("FileScan parquet", "CartesianProduct", "BroadcastNestedLoopJoin")),
      ("s18_ivfpq", "IVF-PQ composed search: the probed-cell EQUALITY join (broadcast query cells — NProbe·√n candidate codes per query, never the full code table) prunes BEFORE the four broadcast ADC lookup joins, all over the checkpointed coded-cells index (ExistingRDD — the √n-stride IVF build and the PQ code build ran once, inside the memo); per-query top-5 plans WindowGroupLimit; zero parquet scans (queries re-assembled from the index materialization). The one nested-loop is the s8/s13-sanctioned BOUNDED probe: ≤PqQueries query rows scored against the broadcast C-row centroid table",
        Seq("ExistingRDD", "BroadcastHashJoin", "WindowGroupLimit"),
        Seq("FileScan parquet", "CartesianProduct")),
      ("t24_bpe_encode", "the tokenizer APPLY reads the memoized 6-row merge table (ExistingRDD — induction ran once, in t21's phase) collapsed to ONE broadcast row on the zero key and folds the merges over each document in a single narrow corpus pass — one BroadcastHashJoin, no shuffle of the corpus, no driver round-trip",
        Seq("ExistingRDD", "BroadcastHashJoin"),
        Seq("), ENSURE_REQUIREMENTS", "CartesianProduct", "BroadcastNestedLoopJoin")),
      ("t25_bm25_topk", "BM25 derives everything from ONE postings checkpoint (ExistingRDD): df, doclen and the corpus totals are rollups of the materialization (zero parquet re-scans), the query-term and totals sides broadcast, and the per-term top-k plans WindowGroupLimit — candidates are the query terms' postings only, never a corpus scan",
        Seq("ExistingRDD", "BroadcastHashJoin", "WindowGroupLimit"),
        Seq("FileScan parquet", "CartesianProduct", "BroadcastNestedLoopJoin")),
      ("d15_substring_scrub", "the span-scrub APPLY reads the MATERIALIZED span table (ExistingRDD — round 20: the anchoring pipeline ran once, in d14's label phase/the session memo, not again here; the islands Window and the gram posexplode live inside that build); the removal sets roll to DOC grain (one small position array per scrubbed doc, bounded by real duplicated mass) and join back to ONE corpus scan whose kept sequence is an indexed per-row array filter — no re-anchoring, no corpus re-shuffle at token grain, no all-pairs",
        Seq("ExistingRDD"),
        Seq("CartesianProduct", "BroadcastNestedLoopJoin", "Window",
          "posexplode")),
      ("s19_filtered_ann", "filtered ANN pre-filters INSIDE the index scan: the label predicate is part of the candidate EQUALITY join key (cell AND label — BroadcastHashJoin over the checkpointed s13 index), so the filter prunes candidates instead of post-filtering a top-k; the n√n build is confined inside the checkpoint, per-query top-5 over the pre-filtered survivors",
        Seq("ExistingRDD", "BroadcastHashJoin"), Seq("CartesianProduct")),
      ("s22_ivfpq_residual", "residual IVF-PQ (IVFADC proper) preserves the prune-before-ADC shape: the probed-cell EQUALITY join (broadcast per-cell query residuals) bounds the scored codes to NProbe·√n per query BEFORE the four ADC lookups, whose key now carries the cell ((q_id, cell, code) — the residual differs per probed cell); the coarse index, residual code table and residual codebook are prepared materializations (ExistingRDD), per-query top-5 plans WindowGroupLimit, and the query slice is a prepared materialization too (the vec_id filter was pushed to the parquet scan INSIDE the localCheckpoint's build plan, so the executed search plan shows only ExistingRDD scans — same audit stance as s18). The one nested-loop is the s8/s13-sanctioned BOUNDED probe of the broadcast centroid table",
        Seq("ExistingRDD", "BroadcastHashJoin", "WindowGroupLimit"),
        Seq("FileScan parquet", "CartesianProduct")),
      ("s23_filtered_ivfpq", "filtered IVF-PQ composes s19's pre-filter with s18's code-only scan: the label is part of the candidate EQUALITY join key ((cell, label) — BroadcastHashJoin, pre-filter semantics, never a post-filtered top-k) and the scored side is the checkpointed PQ code table (ExistingRDD) — no floats at scan time; the four ADC lookups and the query-label attach are bounded broadcasts, per-query top-5 plans WindowGroupLimit",
        Seq("ExistingRDD", "BroadcastHashJoin", "WindowGroupLimit"),
        Seq("CartesianProduct")),
      ("s24_ivfpq_rerank", "IVFADC-R exact rerank: the short-list stage is s18's pruned code-only plan unchanged (ExistingRDD index, probed-cell equality join, WindowGroupLimit at rank ≤ RerankDepth), and the refinement adds exactly the BOUNDED R·Q-row full-vector fetch — a primary-key hash join of the candidate ids against the embeddings table (co-partitionable by vec_id bucketing at 100 TB; the R·queries float reads ARE the refinement's entire I/O) plus the broadcast ≤PqQueries query side — then an exact-cosine WindowGroupLimit top-5; no cartesian anywhere, floats touched only for the short-list",
        Seq("ExistingRDD", "BroadcastHashJoin", "WindowGroupLimit"),
        Seq("CartesianProduct")),
      ("s25_ivfpq_rerank_deep", "the deep-short-list rerank (R=100, the clustered-regime knob from BASELINE's measured curve) must plan IDENTICALLY to s24 — only the WindowGroupLimit bound changes: same pruned code-only short-list stage, same bounded R·Q full-vector primary-key fetch, same exact-cosine top-5; deepening R may never change the plan's shape, only its candidate row count",
        Seq("ExistingRDD", "BroadcastHashJoin", "WindowGroupLimit"),
        Seq("CartesianProduct")),
      ("t26_pii_scrub", "PII scrub is one narrow codegen'd pipeline over the corpus scan — each doc's text is built once, the per-doc report is one match of the four patterns as an alternation (an explode that yields a matching doc's text once), then four regexp counts and the nested redaction chain per reported row, zero shuffles, zero joins, no UDFs",
        Seq("FileScan parquet"),
        Seq("), ENSURE_REQUIREMENTS", "Window", "CartesianProduct",
          "BroadcastNestedLoopJoin")),
      ("t27_lm_quality", "the bigram-LM gate keeps the t10 discipline: ONE tokenize+explode into the checkpointed doc-grain bigram table (ExistingRDD), corpus counts / contexts / V all derive FROM materializations (zero second tokenize), V folds in as a one-row broadcast, and the per-doc reduction is a map-side-combined integer sum — no Window, no corpus sort",
        Seq("ExistingRDD", "HashAggregate"),
        Seq("CartesianProduct", "Window", "SortAggregate")),
      ("d16_delta_dedup", "incremental dedup joins the BATCH side (~10% of docs) against the corpus on EQUALITY keys only — md5(text) for the exact tier, (band, bucket) over the checkpointed signature table (ExistingRDD, hashed once) for the near tier; the 90% cut is a one-row broadcast predicate, partner selection a map-side-combined max_by — never all-pairs, no re-hash per side",
        Seq("ExistingRDD"), Seq("CartesianProduct")),
      ("s20_delta_assign", "incremental assignment trains the IVF index on the CORPUS side only (the build confined to the checkpoint — ExistingRDD) and scores batch×C through the map-side-combined max_by (partial_max_by, no Window on the corpus-sized side); occupancy is a rollup of the checkpointed corpus assignment",
        Seq("ExistingRDD", "partial_max_by"),
        Seq("CartesianProduct", "Window")),
      ("s21_sq8", "scalar quantization is stats-then-scan: one posexplode into a 64-group map-side-combined min/max aggregate (partial_min), the grid folds back as ONE broadcast row, and the code+error pass is a single narrow projection — no Window, no shuffle of the corpus after the stats",
        Seq("partial_min", "HashAggregate"),
        Seq("CartesianProduct", "Window", "Exchange rangepartitioning")),
      ("c15_curriculum", "the curriculum's global ORDER-BY-ppl prefix sum is the two-level scan: the row-grain running sum is a Window PARTITIONED by the ppl grid cell, and only the VALUE-bounded cell summary (never corpus-proportional) passes through the single-partition window — no corpus-grain global sort; the ppl table is the session t27 stats memo (ExistingRDD, round 19), not a re-run of the bigram LM",
        Seq("Window", "ExistingRDD"),
        Seq("CartesianProduct", "Exchange rangepartitioning")),
      ("c16_dataset_diff", "the version diff is two narrow hashed projections and ONE full-outer join on the primary key (co-partitionable at 100 TB via doc_id bucketing); md5s are map-side, output bounded by churn — no Window, no global sort, no second corpus scan per side",
        Seq("FullOuter"),
        Seq("CartesianProduct", "Window", "BroadcastNestedLoopJoin",
          "Exchange rangepartitioning")),
      ("c18_trainer_shards", "shard emission is PURE COMPOSITION over prepared materializations: the survivor set, the encode table and the encoded rendering are all ExistingRDD (gates, merges and the encode each ran once, in their memo phases), the id arrays are the session ids memo (round 19: the vocab build + corpus-wide id transform materialize once per session, not once per consumer), the bin assignment is c11's two-level prefix scan, and the per-shard rollup groups at bin grain (bounded by PackCapacity) — zero parquet scans, zero re-derivation, no all-pairs anywhere",
        Seq("ExistingRDD", "BroadcastHashJoin"),
        Seq("FileScan parquet", "CartesianProduct", "BroadcastNestedLoopJoin")),
      ("c19_pack_manifest", "the loader manifest adds ONLY per-row column work to the packing pass: offsets fall out of the c11 two-level prefix scan (row-grain Window partitioned by the doc-id bucket; the single-partition window sees bucket summaries only) and the seeded shuffle keys are md5 projections — no global sort, no new shuffle beyond the packing aggregation, inputs are the survivor/encode memos (ExistingRDD)",
        Seq("ExistingRDD", "Window"),
        Seq("FileScan parquet", "CartesianProduct", "BroadcastNestedLoopJoin",
          "Exchange rangepartitioning")),
      ("c20_delta_shards", "the incremental refresh never re-shuffles the standing corpus: the standing side collapses to ONE broadcast scalar (its max bin, off the same two-level prefix scan c11 runs over the survivor/encode memos — ExistingRDD inputs), the delta pack's prefix scan runs over the ~10% batch alone, d16's verdicts come from the banded signature join (equality keys, never all-pairs), the id arrays are the session ids memo (ExistingRDD — round 19), and the only nested-loops are the sanctioned one-row cut/max-bin broadcasts — no cartesian, no global sort",
        Seq("ExistingRDD", "Window"),
        Seq("CartesianProduct", "Exchange rangepartitioning")),
      ("c21_curriculum_shards", "curriculum-ordered packing sorts the corpus by perplexity WITHOUT a global sort: the ORDER-BY-(ppl, doc_id) prefix sum is the c15 two-level scan — the row-grain running sum is a Window PARTITIONED by the VALUE-bounded ppl grid cell, only cell summaries cross the single partition — and every input (survivors, ppl, BPE lengths, id arrays — the round-19 session ids memo) is a memoized materialization (ExistingRDD) joined on the primary key; per-bin rollups are bounded by PackCapacity — no Exchange rangepartitioning anywhere, no cartesian, no corpus re-scan",
        Seq("ExistingRDD", "Window"),
        Seq("CartesianProduct", "Exchange rangepartitioning")),
      ("c22_loader_order", "the loader traversal adds NO data-grain global sort to the pack: the within-shard position is a Window PARTITIONED by bin (groups bounded by PackCapacity), the cross-shard order and seq bases run at SHARD grain only (one row per bin through the single-partition window — metadata grain, corpus-size-independent), and both inputs are the c18/c19 memoized materializations (ExistingRDD) joined on the primary key — zero parquet scans, no Exchange rangepartitioning, no cartesian",
        Seq("ExistingRDD", "Window"),
        Seq("FileScan parquet", "CartesianProduct",
          "Exchange rangepartitioning"))
    )

  /** Queries whose ANALYZED plans must not carry a forced broadcast hint
    * on an unbounded id-list (VERDICT r10 task 1). A `ResolvedHint` node
    * exists only when the CODE forced `broadcast(...)` — AQE's runtime
    * broadcast decisions leave no hint in the logical plan — so the
    * assertion is purely structural: every surviving hint subtree must be
    * benchmark-bounded (carries the `doc_id < 10` bench filter, a
    * fixed-size side at any corpus scale). Corpus-proportional keeper /
    * loser lists must reach the optimizer un-hinted so AQE can fall back
    * to a shuffled anti-join instead of OOMing the driver at a web-scale
    * dup fraction. */
  val hintChecks: Seq[(String, String)] = Seq(
    ("d10_dedup_apply",
      "zero forced broadcasts — the losers anti-join strategy belongs to AQE"),
    ("s11_semantic_apply",
      "zero forced broadcasts — the losers anti-join strategy belongs to AQE"),
    ("c10_prep_full",
      "only bench-bounded sides (d12's bench shingles/sizes, the contamination drop list) and the one-row quantile threshold are hinted; the corpus-sized exact-dup keeper set is un-hinted"),
    ("c11_prep_packed",
      "same funnel, same rule: bench-bounded and one-row-scalar hints only — the packing stage adds a broadcast of bucket offsets, which is a bucket-grain aggregate, not an id-list"))

  // trailing (?!\d) anchors the literal: without it the pattern would
  // prefix-match any larger constant (`vec_id < 100`, `< 1000`) and a
  // broadcast bounded only by a bigger filter would wrongly pass as
  // bench-bounded (ADVICE r11)
  private val BenchBound = "< (cast\\(10 as bigint\\)|10(?!\\d))".r

  /** True iff a hinted subtree carries the fixed-size bench bound. */
  def benchBounded(subtree: String): Boolean =
    BenchBound.findFirstIn(subtree).isDefined

  /** Queries whose EXECUTED plans must keep every UN-partitioned Window
    * at bucket/cell grain (the two-level-scan rule, VERDICT r11 task 1):
    * a Window with an empty partition spec moves its whole input to ONE
    * task, so the only columns allowed to order one are the bounded
    * bucket summaries of the two-level scans — `b` (w5/t17's doc-id
    * bucket, rows/4096) and `qcell` (the quantile grid, ≤ 4096 rows by
    * construction). An un-partitioned Window over a corpus-proportional
    * column (doc_id, a raw value histogram) is the single-partition sort
    * this audit exists to prevent. */
  // c18/c20 are NOT here: their plans legitimately carry bpeVocabFrame's
  // vocabulary-grain id-assignment window (ordered by cnt/token — the
  // documented t19/t23 bound, input grows with vocabulary, never with
  // document count), which this bucket-grain-only audit would flag. Their
  // two-level prefix scans are pinned through c11/c19, which share the
  // exact packedBins code path.
  val globalWindowChecks: Seq[String] = Seq(
    "w5_late_data", "t17_sequence_pack", "c10_prep_full",
    "c11_prep_packed", "c12_quality_report", "c19_pack_manifest")

  private val BucketGrainCols = Set("b", "qcell")

  /** All WindowExec nodes reachable in a (possibly adaptive) physical
    * plan — SparkPlan.collect stops at AdaptiveSparkPlanExec/QueryStage
    * leaves, so the traversal descends into their materialized plans. */
  def collectWindows(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.window.WindowExec] = {
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    val here = p match {
      case w: org.apache.spark.sql.execution.window.WindowExec => Seq(w)
      case _ => Seq.empty
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children
    }
    here ++ kids.flatMap(collectWindows)
  }

  /** Un-partitioned WindowExec nodes in `name`'s post-execution plan
    * whose ordering touches any non-bucket-grain column. Empty = the
    * two-level-scan rule holds. */
  def unboundedGlobalWindows(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, name: String): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.toRdd.count()
    collectWindows(df.queryExecution.executedPlan)
      .filter(_.partitionSpec.isEmpty)
      .map(w => w.orderSpec.map(_.child).collect { case a: Attribute => a.name })
      .filterNot(cols => cols.nonEmpty && cols.forall(BucketGrainCols))
      .map(cols => s"un-partitioned Window ordered by ${cols.mkString(",")}")
  }

  /** Forced broadcast hints in `name`'s analyzed plan whose subtree is
    * neither benchmark-bounded nor a one-row scalar (a global aggregate
    * with no grouping — e.g. c10's quantile threshold — is one row by
    * construction at any corpus size). Empty = the check holds. */
  def unboundedHints(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      name: String): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, BROADCAST, LogicalPlan, Project, ResolvedHint, SubqueryAlias}
    val df = SparkEntry.queries(name)(spark, sfDir)
    @annotation.tailrec
    def oneRowScalar(p: LogicalPlan): Boolean = p match {
      case Project(_, c) => oneRowScalar(c)
      case SubqueryAlias(_, c) => oneRowScalar(c)
      case a: Aggregate => a.groupingExpressions.isEmpty
      case _ => false
    }
    df.queryExecution.analyzed.collect {
      case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) => h
    }.filterNot(h => oneRowScalar(h.child) || benchBounded(h.child.toString))
      .map(_.child.toString.linesIterator.next().take(160))
  }

  /** Materialize one checked query (so AQE's FINAL plan — including
    * codegen spans — is what gets read) and evaluate its fragments.
    * Returns (physical plan, missing musts, present must-nots): both
    * lists empty = the check holds. Shared by main (PLANS.md) and
    * PlanSpec (sbt test assertions). */
  def evaluate(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      name: String, must: Seq[String], mustNot: Seq[String])
      : (String, Seq[String], Seq[String]) = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    (plan, must.filter(m => !plan.contains(m)), mustNot.filter(m => plan.contains(m)))
  }

  /** A plan line without the numbers that change whenever any plan
    * before it in the session gains or loses a node: expression ids
    * (`name#123`, `name#123L`) and exchange `plan_id`s. */
  private def stable(line: String): String =
    line.replaceAll("(?<=\\w)#\\d+L?\\b", "").replaceAll(", \\[plan_id=\\d+\\]", "")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit (generated by graft.PlanAudit)\n\n")
    sb.append(s"Scale-design evidence at `$sfDir`. Regenerate: `sbt \"runMain graft.PlanAudit\"`. ")
    sb.append("The same checks run as PlanSpec assertions in `sbt test`.\n")
    checks.foreach { case (name, claim, must, mustNot) =>
      val (plan, okMust, okNot) = evaluate(spark, sfDir, name, must, mustNot)
      val scans = "FileScan parquet".r.findAllIn(plan).size
      val verdict = if (okMust.isEmpty && okNot.isEmpty) "OK" else
        s"VIOLATION missing=$okMust present=$okNot"
      sb.append(s"\n## $name — $verdict\n\n")
      sb.append(s"Claim: $claim. Parquet scans in plan: $scans.\n\n")
      val interesting = plan.linesIterator.filter(l =>
        l.contains("Join") || l.contains("Exchange") || l.contains("FileScan") ||
        l.contains("HashAggregate") || l.contains("Window"))
        .map(l => stable(l.trim).take(160)).take(12)
      sb.append("```\n").append(interesting.mkString("\n")).append("\n```\n")
    }
    sb.append("\n# Forced-broadcast hint audit (analyzed plans)\n")
    hintChecks.foreach { case (name, claim) =>
      val bad = unboundedHints(spark, sfDir, name)
      val verdict = if (bad.isEmpty) "OK" else s"VIOLATION unbounded-hints=$bad"
      sb.append(s"\n## $name — $verdict\n\nClaim: $claim.\n")
    }
    sb.append("\n# Global-window audit (executed plans)\n\n")
    sb.append("Every UN-partitioned Window must run at bucket/cell grain ")
    sb.append("(`b`, `qcell` — the bounded summaries of the two-level scans); ")
    sb.append("an un-partitioned Window over a corpus-proportional column is ")
    sb.append("a single-partition sort.\n")
    globalWindowChecks.foreach { name =>
      val bad = unboundedGlobalWindows(spark, sfDir, name)
      val verdict = if (bad.isEmpty) "OK" else s"VIOLATION $bad"
      sb.append(s"\n## $name — $verdict\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
