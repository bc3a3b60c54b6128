package graft

import graft.queries.{Events, Pipeline, Relational, TextVec}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §2 (operator inventory) and §2.3 (oracle
  * texts). Every Spark implementation aliases its output columns identically
  * to the oracle SQL, and all order-dependent double aggregates go through
  * exact decimal sums (Relational.dsum) so results hash-match DuckDB at any
  * parallelism.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0.
    * Q1 (pricing summary): scan → pushed filter → partial+final hash agg.
    * Deliberately avoids the events table: the driver's own SparkSession
    * lacks the nanosAsLong conf that Tables.events sets lazily.
    */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_agg"      -> (Relational.q1 _),
    "q2_join_broadcast"   -> (Relational.q2 _),
    "q3_range_join"       -> (Relational.q3 _),
    "q4_semi_anti"        -> (Relational.q4 _),
    "q5_rank_window"      -> (Relational.q5 _),
    "q6_topk"             -> (Relational.q6 _),
    "q7_rollup"           -> (Relational.q7 _),
    "q8_grouping_sets"    -> (Relational.q8 _),
    "q9a_distinct"        -> (Events.q9a _),
    "q9b_approx_distinct" -> (Events.q9b _),
    "q10_json"            -> (Events.q10 _),
    "q11_tumbling"        -> (Events.q11 _),
    "q12_session"         -> (Events.q12 _),
    "q12s_session_window" -> (Events.q12s _),
    "q13_lag"             -> (Events.q13 _),
    "q14_exact_dedup"     -> (TextVec.q14 _),
    "q15_near_dup"        -> (TextVec.q15 _),
    "q16_cosine_topk"     -> (TextVec.q16 _),
    "q17_tokens"          -> (TextVec.q17 _),
    "q18_scalar_suite"    -> (Relational.q18 _),
    "q19_set_ops"         -> (Relational.q19 _),
    "q20_embedding_stats" -> (TextVec.q20 _),
    "q21_asof_join"       -> (Events.q21 _),
    "q22_running_sum"     -> (Relational.q22 _),
    "q23_textstats"       -> (Pipeline.q23 _),
    "q24_fingerprint"     -> (Pipeline.q24 _),
    "q25_lang_profile"    -> (Pipeline.q25 _),
    "q26_quality"         -> (Pipeline.q26 _),
    "q27_simhash_pairs"   -> (Pipeline.q27 _),
    "q28_bigrams"         -> (Pipeline.q28 _),
    "q29_ann_lsh"         -> (Pipeline.q29 _),
    "q30_multimodal"      -> (Pipeline.q30 _),
    "q31_mm_decode"       -> (Pipeline.mmDecodeStub _),
    "q32_full_outer"      -> (Relational.q32 _),
    "q33_cube"            -> (Relational.q33 _),
    "q34_from_json"       -> (Events.q34 _),
    "q35_dup_groups"      -> (Pipeline.q35 _),
    "q36_cosine_dedup"    -> (Pipeline.q36 _),
    "q37_stats"           -> (Relational.q37 _),
    "q38_ann_ivf"         -> (Pipeline.q38 _),
    "q39_dedup_corpus"    -> (Pipeline.q39 _),
    "q40_stable_split"    -> (Pipeline.q40 _),
    "q41_variant_json"    -> (Events.q41 _),
    "q42_tfidf"           -> (Pipeline.q42 _),
    "q43_bm25"            -> ((s, d) => Pipeline.q43(s, d)),
    "q44_doc_chunks"      -> ((s, d) => Pipeline.q44(s, d)),
    "q45_pii_redact"      -> (Pipeline.q45 _),
    "q46_stratified"      -> ((s, d) => Pipeline.q46(s, d)),
    "q47_heavy_hitters"   -> ((s, d) => Pipeline.q47(s, d)),
    "q48_incremental_neardup" -> (Pipeline.q48 _),
    "q49_pivot"           -> (Relational.q49 _),
    "q50_unpivot"         -> (Relational.q50 _),
    "q51_funnel"          -> (Events.q51 _),
    "q52_window_suite"    -> (Relational.q52 _),
    "q53_group_percentiles" -> (Relational.q53 _),
    "q54_correlated_avg"  -> (Relational.q54 _),
    "q55_activity_gaps"   -> (Events.q55 _),
    "q56_fuzzy_names"     -> (Relational.q56 _),
    "q57_arg_extremes"    -> (Events.q57 _),
    "q58_repetition"      -> (Pipeline.q58 _),
    "q59_seq_packing"     -> ((s, d) => Pipeline.q59(s, d)),
    "q60_exact_moments"   -> (Relational.q60 _),
    "q61_histogram"       -> (Events.q61 _),
    "q62_decontamination" -> ((s, d) => Pipeline.q62(s, d)),
    "q63_canonical_docs"  -> (Pipeline.q63 _),
    "q64_inverted_index"  -> (Pipeline.q64 _),
    "q65_familiarity"     -> (Pipeline.q65 _),
    "q66_source_mixture"  -> (Pipeline.q66 _),
    "q67_winnow_census"   -> (Pipeline.q67 _),
    "q68_ngram_jaccard"   -> (Pipeline.q68 _),
    "q69_filter_funnel"   -> (Pipeline.q69 _),
    "q70_retention"       -> (Events.q70 _),
    "q71_transitions"     -> (Events.q71 _),
    "q72_length_deciles"  -> ((s, d) => Pipeline.q72(s, d)),
    "q73_source_cap"      -> ((s, d) => Pipeline.q73(s, d)),
    "q74_kmeans_assign"   -> ((s, d) => Pipeline.q74(s, d)),
    "q75_quant_error"     -> ((s, d) => Pipeline.q75(s, d)),
    "q76_approx_pctile"   -> ((s, d) => Relational.q76(s, d)),
    "q77_rarity_score"    -> (Pipeline.q77 _),
    "q78_dup_spans"       -> (Pipeline.q78 _),
    "q79_source_overlap"  -> (Pipeline.q79 _),
    "q80_budget_select"   -> (Pipeline.q80 _),
    "q81_curation_funnel" -> (Pipeline.q81 _),
    "q82_bigram_surprisal" -> (Pipeline.q82 _),
    "q83_codec_roundtrip" -> (Pipeline.q83 _),
    "q84_repetition"      -> (Pipeline.q84 _),
    "q85_source_drift"    -> (Pipeline.q85 _),
    "q86_ann_pq"          -> (Pipeline.q86 _),
    "q87_semdedup"        -> (Pipeline.q87 _),
    "q88_ann_ivfadc"      -> (Pipeline.q88 _),
    "q89_temp_mixture"    -> (Pipeline.q89 _),
    "q90_lr_quality"      -> (Pipeline.q90 _),
    "q91_snapshot_diff"   -> (Pipeline.q91 _),
    // q92–q97: the events family's single-pass sorted-layout kernels
    // (Events.*FromSortedKernel) run against the pay-once bucketed layout
    // (Layouts.eventsByUserCached — staged once per session+dir, shared by
    // all six). Same oracles as their declarative twins q12/q13/q21/q51/
    // q70/q71: the kernels must HASH-MATCH them, making the layout path
    // driver-gated, not just spec-gated. Timed runs measure the
    // post-staging steady state; the stage-once cost is recorded
    // separately (tools/bench_bucketed_latest.json@ec375fe, amortization
    // counts).
    "q92_kernel_session"  -> ((s, d) => Events.q12FromSortedKernel(Layouts.eventsByUserCached(s, d))),
    "q93_kernel_lag"      -> ((s, d) => Events.q13FromSortedKernel(Layouts.eventsByUserCached(s, d))),
    "q94_kernel_asof"     -> ((s, d) => Events.q21FromSortedKernel(Layouts.eventsByUserCached(s, d))),
    "q95_kernel_funnel"   -> ((s, d) => Events.q51FromSortedKernel(Layouts.eventsByUserCached(s, d))),
    "q96_kernel_retention" -> ((s, d) => Events.q70FromSortedKernel(Layouts.eventsByUserCached(s, d))),
    "q97_kernel_transitions" -> ((s, d) => Events.q71FromSortedKernel(Layouts.eventsByUserCached(s, d))),
    // q98/q99: the remaining two pay-once layouts, driver-gated the q92+
    // way (same oracles as their plain twins q2/q5, so the layout path
    // must hash-match). q98 runs q2's fact join over orderkey-bucketed
    // lineitem+orders — the zero-exchange co-located SortMergeJoin that
    // survives 100 TB where no fact side broadcasts; q99 runs q5's heap
    // top-k over o_custkey-bucketed orders — one exchange-free stage.
    // Deliberately NOT frame-memoized: re-collecting one Dataset object
    // lets AQE reuse its materialized shuffle stages, so a "timed run"
    // would replay only the final tiny agg stage (measured: 0.04 s vs the
    // ~0.6 s honest probe) — fresh frames per call keep every timed run a
    // full recomputation. Only the SCANS (Tables.load) and the staging
    // (factsByOrderkeyCached) are memoized.
    "q98_layout_factjoin" -> ((s, d) => {
      val (li, o) = Layouts.factsByOrderkeyCached(s, d)
      Relational.q2FromFacts(li, o, s, d)
    }),
    "q99_layout_topk"     -> ((s, d) => Relational.q5From(Layouts.ordersByCustkeyCached(s, d))),
    // q100: the columnar-batch kernel seam (operators/ColumnarScan) — q11
    // recomputed directly from the parquet scan's ColumnarBatches, no
    // ColumnarToRow boundary. Shares q11's oracle: the kernel must
    // hash-match the declarative form bit-for-bit.
    "q100_columnar_tumbling" -> (Events.q11ColumnarKernel _),
    // q101: the lineitem-family columnar kernel — q1 recomputed from raw
    // scan vectors (pushed filter re-applied per row, dictionary-id group
    // keys, fixed-point sums, bounded driver finale). Shares q1's oracle.
    "q101_columnar_pricing" -> (Relational.q1ColumnarKernel _),
    // q102/q103: the sorted-layout kernels (q93/q92) on the columnar seam —
    // the same single forward pass consuming the bucketed scan's own
    // ColumnarBatches. Share q13's/q12's oracles like their row twins.
    "q102_columnar_lag"     -> ((s, d) => Events.q13FromColumnarSortedKernel(Layouts.eventsByUserCached(s, d))),
    "q103_columnar_session" -> ((s, d) => Events.q12FromColumnarSortedKernel(Layouts.eventsByUserCached(s, d))),
    // q104-q107: the rest of the weak list on the columnar seam — global
    // top-k (q6), the broadcast range join (q3), the 4-way fact join (q2)
    // and the per-customer top-3 heap (q5), each sharing its declarative
    // twin's oracle. The join kernels collect the SAME reduced build
    // frames their twins broadcast (the stats-gated broadcast-regime
    // boundedness); the declarative forms remain the beyond-threshold path.
    "q104_columnar_topk"      -> (Relational.q6ColumnarKernel _),
    "q105_columnar_rangejoin" -> (Relational.q3ColumnarKernel _),
    "q106_columnar_factjoin"  -> (Relational.q2ColumnarKernel _),
    "q107_columnar_custtopk"  -> (Relational.q5ColumnarKernel _),
    "q108_columnar_rollup"    -> (Relational.q7ColumnarKernel _),
    "q109_columnar_semianti"  -> (Relational.q4ColumnarKernel _),
    "q110_columnar_json"      -> (Events.q10ColumnarKernel _),
    // q111: the seam's first ARRAY-column kernel — q16's cosine top-5 with
    // the embedding vectors read straight from the nested column vectors.
    "q111_columnar_cosine"    -> (TextVec.q16ColumnarKernel _),
    // q112: token top-20 without the explode — the byte-level space split
    // replaces the ~120x row inflation; vocab partials merge bounded.
    "q112_columnar_tokens"    -> (TextVec.q17ColumnarKernel _),
    // q113: exact-dedup census as one single-stage pass (the declarative
    // two-stage distinct is ~2 dispatch floors on a 5k-row corpus).
    "q113_columnar_dedup"     -> (TextVec.q14ColumnarKernel _),
    // q114: q9a's exact distinct-user census on the columnar seam — the
    // q113 digest-set pattern on a long column (single-stage scan,
    // executor-side tree-merge, distributed distinct().count() fallback
    // past the broadcast regime). Shares q9a's oracle.
    "q114_columnar_distinct"  -> (Events.q9aColumnarKernel _),
    // q115–q131: the Exec dispatch surface (one entry per logical query
    // with multiple physical forms) — each routes through graft.Exec.run,
    // which picks kernel vs staged-layout vs declarative by validity
    // bound and falls back loudly-logged, never loudly-failed. Each
    // shares its target's oracle, so WHATEVER form the dispatcher picks
    // on the driver's session must hash-match DuckDB.
    "q115_dispatch_pricing"   -> ((s, d) => Exec.run(s, d, "q1")),
    "q116_dispatch_factjoin"  -> ((s, d) => Exec.run(s, d, "q2")),
    "q117_dispatch_rangejoin" -> ((s, d) => Exec.run(s, d, "q3")),
    "q118_dispatch_semianti"  -> ((s, d) => Exec.run(s, d, "q4")),
    "q119_dispatch_custtopk"  -> ((s, d) => Exec.run(s, d, "q5")),
    "q120_dispatch_topk"      -> ((s, d) => Exec.run(s, d, "q6")),
    "q121_dispatch_rollup"    -> ((s, d) => Exec.run(s, d, "q7")),
    "q122_dispatch_distinct"  -> ((s, d) => Exec.run(s, d, "q9a")),
    "q123_dispatch_json"      -> ((s, d) => Exec.run(s, d, "q10")),
    "q124_dispatch_tumbling"  -> ((s, d) => Exec.run(s, d, "q11")),
    "q125_dispatch_session"   -> ((s, d) => Exec.run(s, d, "q12")),
    "q126_dispatch_lag"       -> ((s, d) => Exec.run(s, d, "q13")),
    "q127_dispatch_dedup"     -> ((s, d) => Exec.run(s, d, "q14")),
    "q128_dispatch_cosine"    -> ((s, d) => Exec.run(s, d, "q16")),
    "q129_dispatch_tokens"    -> ((s, d) => Exec.run(s, d, "q17")),
    "q130_dispatch_asof"      -> ((s, d) => Exec.run(s, d, "q21")),
    "q131_dispatch_funnel"    -> ((s, d) => Exec.run(s, d, "q51")),
    "q132_dispatch_retention" -> ((s, d) => Exec.run(s, d, "q70")),
    "q133_dispatch_transitions" -> ((s, d) => Exec.run(s, d, "q71")),
    // q134/q135: the training-order half of the pipeline — deterministic
    // corpus shuffle + sharding, and length-bucketed batch assignment
    // with the padding-waste census.
    "q134_shuffle_shard"   -> ((s, d) => Pipeline.q134(s, d)),
    "q135_length_batching" -> ((s, d) => Pipeline.q135(s, d)),
    // q136: the staged IVFADC deployment path at its exactness-pinned
    // operating point (probe all cells, re-rank everything == exact q16) —
    // hash-pins the cell-partitioned codes layout + staged probe against
    // q16's oracle. Staging is memoized per session (the Layouts
    // discipline), so a caller timing repeated runs pays it once.
    "q136_layout_ann" -> ((s, d) => Pipeline.q136(s, d)),
    // q137: q135's hot-bucket form — distributed two-pass rank instead of
    // one per-bucket window, identical output by construction (shares
    // q135's oracle; the skew bound itself is asserted in PipelineSpec).
    "q137_length_batching_salted" -> ((s, d) => Pipeline.q137(s, d)),
    // q138: right-outer join census — COVERAGE row 8's third leg gated
    // (left: q21, full: q32, right: this).
    "q138_right_outer" -> (Relational.q138 _),
    // q139: the sliding-window operator's BATCH twin, DuckDB-gated (the
    // stream≡batch identity is StreamsSpec's; this pins the batch side to
    // an independent engine — r14 verdict item 7). Same Streams.sliding
    // code path the stream runs.
    "q139_sliding_batch" -> ((s, d) =>
      graft.streaming.Streams.sliding(Tables.events(s, d))
        .orderBy("ws", "event_type")),
    // q140: materialized shard corpus read-back census (write → read →
    // q134's census over the stored columns), sharing q134's oracle.
    "q140_shard_readback" -> ((s, d) => Pipeline.q140(s, d)),
    // q141/q142: distributed BPE tokenizer training. q141 is the
    // hash-gated pair census (one training round's ranking relation);
    // q142 iterates it into the learned merge table (rows-only: iterated
    // data-dependent argmax is not one SQL query — spec-gated against a
    // reference implementation instead, see oracleSql scaladoc).
    "q141_bpe_pairs"  -> ((s, d) => Pipeline.q141(s, d)),
    "q142_bpe_merges" -> ((s, d) => Pipeline.q142(s, d)),
    // q143: per-dimension embedding moment census (exact fixed-point
    // integers — the whitening/anisotropy health check before ANN).
    "q143_embedding_moments" -> ((s, d) => Pipeline.q143(s, d)),
    // q144: the tokenizer loop closed — q142's learned merge table applied
    // back to the corpus (row-local BpeEncode expression), per-source
    // compression census. Rows-only for q142's reason; the encoder is
    // spec-gated against an independent reference apply.
    "q144_bpe_encode" -> ((s, d) => Pipeline.q144(s, d)),
    // q145: the incremental pair-delta BPE trainer at a REAL vocabulary
    // depth (merges=256) — q142's exact merge table (same argmax, same
    // tie-break; spec-pinned) at the cost shape a 30k-merge tokenizer
    // needs: the pair census is maintained by per-merge deltas and each
    // round touches only the words containing the merged pair, instead
    // of q142's full vocab-grain recompute per round. Rows-only for
    // q142's reason; gated by PipelineSpec equality to the independent
    // reference trainer at merges=256 and by the spec_checks prefix
    // check against q142's reference-gated table.
    "q145_bpe_train256" -> ((s, d) => Pipeline.bpeTrain(s, d, merges = 256)),
    // q146: the DISTRIBUTED delta trainer as a first-class measured entry
    // (r16 verdict item 4): maxDriverVocab=0 forces the past-the-bound
    // path — vocab stays a DataFrame, one affected-only job per round —
    // so the 100 TB trainer's per-round cost has a bench curve (this
    // entry + its slope points), not a prose claim. merges=24 keeps one
    // bench slot ~2 s while still spanning enough rounds for a
    // meaningful per-round figure (total/24). Rows-only for q142's
    // reason; gated by the PipelineSpec forced-distributed parity AND a
    // spec_checks equality to the driver-path table at the same depth.
    "q146_bpe_distributed" ->
      ((s, d) => Pipeline.bpeTrain(s, d, merges = 24, maxDriverVocab = 0L)),
    // q147/q148 (r17): the multimodal quartet completed — RESIZE
    // (nearest-neighbor over the real-codec-decoded raster) and
    // FRAME-SAMPLE (length-prefixed container parse + strided per-frame
    // decode). Both hash-checked: PNG gray is lossless and the sampling
    // math is integer, so the oracle recomputes the sums from doc_id and
    // text (q83's argument, extended).
    "q147_mm_resize" -> (Pipeline.q147 _),
    "q148_mm_frame_sample" -> ((s, d) => Pipeline.q148(s, d)),
    // q149 (r18): AUDIO joins the quartet — per-doc deterministic RIFF/
    // PCM16 WAV parsed by the real javax.sound stack, strided waveform
    // resample + census. PCM16 is lossless and the index math integer, so
    // the oracle recomputes Σ|v| and max v from doc_id and text directly.
    "q149_mm_audio" -> ((s, d) => Pipeline.q149(s, d)),
    // q150 (r18): sequence packing — docs concatenated into fixed-512-
    // token training sequences in the q134 shuffle order, greedy
    // first-fit-in-order per shard, overflow starts the next sequence,
    // over-long docs truncate. Lengths-grain shuffle + one linear fold
    // per shard; the oracle replays the fold as a recursive CTE.
    "q150_sequence_packing" -> ((s, d) => Pipeline.q150(s, d)),
    // q151 (r18): the packing ASSIGNMENT — q150's fold at doc grain
    // (shard, sequence, token offset, surviving tokens per doc), what a
    // training loader actually consumes. Same fold, same order; q150 is
    // exactly this relation aggregated (spec-pinned).
    "q151_sequence_assignment" -> ((s, d) => Pipeline.q151(s, d)),
    // q152 (r18): the packed streams themselves — fragments (each doc's
    // first eff tokens) reassembled per (shard, seq) in offset order,
    // gated by md5 CONTENT digest, so assignment → bytes is hash-checked
    // end to end.
    "q152_sequence_digest" -> ((s, d) => Pipeline.q152(s, d)),
    // q153 (r18): the packed corpus WRITTEN to its on-disk layout and
    // READ BACK — same digests (and token counts recomputed from the
    // STORED streams) after the round trip, sharing q152's oracle, so a
    // writer/reader bug hash-mismatches instead of only failing a spec.
    "q153_packed_readback" -> ((s, d) => Pipeline.q153(s, d)),
    // q154 (r19): ONE shard SERVED from the committed packed corpus — the
    // training loader's per-rank read, directory-pruned to that shard's
    // files (plan-gated) and hash-checked against q152's oracle
    // restricted to the shard.
    "q154_packed_shard_serve" -> ((s, d) => Pipeline.q154(s, d)),
    // q155 (r19): the EPOCH-LAYERED packed corpus — incremental ingest
    // (new docs pack as their own epoch, committed epochs immutable)
    // served through the adopt→append→union-read path; on the static
    // gate corpus this is q153 at epoch 0, which hash-gates the
    // plumbing, and PackedEpochSpec pins the growth semantics.
    "q155_packed_epochs" -> ((s, d) => Pipeline.q155(s, d)),
    // q156 (r19): best-fit-decreasing packing census — the padding-
    // minimizing variant of q150 for order-free corpora. Declared
    // no-oracle (bin state is not SQL-expressible); SpecChecks carries
    // the machine verdict (totals invariant vs q150, waste strictly
    // improved on the fixture corpus).
    "q156_bestfit_packing" -> ((s, d) => Pipeline.q156(s, d)),
  )

  // Shared oracle fragments ------------------------------------------------

  /** Exact decimal sum rendered back as double — the DuckDB mirror of
    * Relational.dsum. `%s` is the addend expression.
    */
  private def fsum(expr: String): String =
    s"CAST(sum(CAST(round(($expr)*10000) AS BIGINT)) AS DOUBLE)/10000.0"

  private def dsum(expr: String, scale: Int): String =
    s"round(${fsum(expr)}, $scale)"

  /** Exact shingle-Jaccard near-dup pairs over the full corpus — shared by
    * q15 (batch LSH) and q48 (incremental ingest), which must agree with
    * it AND each other.
    */
  private val NearDupOracle =
    """WITH sh AS (
      |  SELECT doc_id, list_distinct([substr(lower(text), i, 8) FOR i IN range(1, len(text)-6)]) AS sg
      |  FROM documents)
      |SELECT a.doc_id AS ida, b.doc_id AS idb,
      |  round(CAST(len(list_intersect(a.sg,b.sg)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.sg,b.sg))) AS DOUBLE), 4) AS j
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.sg,b.sg)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.sg,b.sg))) AS DOUBLE) >= 0.6
      |ORDER BY 1, 2""".stripMargin

  /** events with ts truncated to microseconds — mirrors Tables.events
    * (Spark cannot read parquet TIMESTAMP(NANOS); it truncates to µs, so the
    * oracle must compare the same µs instants).
    */
  private val evMicros =
    "SELECT event_id, make_timestamp(epoch_us(ts)) AS ts, user_id, event_type, value, props FROM events"

  /** For each key in queries, equivalent SQL runnable by DuckDB on the same
    * parquet tables. Omitted on purpose:
    *  - q9b (HLL sketches legitimately differ across engines — rows-only)
    *  - q12s (session_window gap-boundary semantics are engine-specific;
    *    cross-checked against q12 in the test suite instead)
    *  - q27/q29/q38/q86/q88 (our hash/quantizer families; cross-checked in
    *    the test suite against exact Jaccard / exact cosine top-k
    *    respectively — q38's full-probe mode, q86's full-rerank mode and
    *    q88's full-probe+full-rerank mode are each asserted EQUAL to exact
    *    q16)
    *  - q87 (cluster ids come from the trained quantizer, so no SQL oracle;
    *    the drop set is asserted EXACTLY equal to the one derived from
    *    q36's brute-force pairs restricted to same-cell, keep-lowest-id)
    *  - q90 (iteratively trained LR classifier — not SQL-expressible; the
    *    spec proves separable-corpus accuracy 1.0, monotone loss decrease
    *    and layout-determinism, and spec_checks records both on the corpus)
    *  - q76 (G-K sketch merges are partitioning-dependent; spec pins each
    *    approx percentile inside the exact ±0.01-quantile envelope)
    *  - q142 (iterated BPE merges: each round's pair census depends on the
    *    previous round's data-dependent argmax — not one SQL query. Round
    *    1's census IS the hash-checked q141; the full merge table is
    *    asserted equal to an independent reference BPE trainer in
    *    PipelineSpec at two scales)
    *  - q144 (applies q142's data-dependent merge table, so the same
    *    reason; the encoder itself is spec-gated against an independent
    *    reference apply at two SFs, and its zero-merge degenerate case
    *    equals the oracle-checkable char count)
    *  - q145 (the incremental trainer's 256-merge table: q142's reason at
    *    depth. PipelineSpec asserts it equal to the independent reference
    *    trainer at merges=256 and to q142 at merges=12; spec_checks
    *    records the prefix check per run)
    */
  def oracleSql: Map[String, String] = {
    val base = baseOracleSql
    // the sorted-layout kernels (q92–q97) must hash-match their
    // declarative twins, so they share the twins' oracles verbatim
    base ++ Map(
      "q92_kernel_session"     -> base("q12_session"),
      "q93_kernel_lag"         -> base("q13_lag"),
      "q94_kernel_asof"        -> base("q21_asof_join"),
      "q95_kernel_funnel"      -> base("q51_funnel"),
      "q96_kernel_retention"   -> base("q70_retention"),
      "q97_kernel_transitions" -> base("q71_transitions"),
      // the staged-layout twins likewise share their plain forms' oracles
      "q98_layout_factjoin"    -> base("q2_join_broadcast"),
      "q99_layout_topk"        -> base("q5_rank_window"),
      // the columnar kernels likewise hash-match their declarative twins
      "q100_columnar_tumbling" -> base("q11_tumbling"),
      "q101_columnar_pricing"  -> base("q1_pricing_agg"),
      "q102_columnar_lag"      -> base("q13_lag"),
      "q103_columnar_session"  -> base("q12_session"),
      "q104_columnar_topk"      -> base("q6_topk"),
      "q105_columnar_rangejoin" -> base("q3_range_join"),
      "q106_columnar_factjoin"  -> base("q2_join_broadcast"),
      "q107_columnar_custtopk"  -> base("q5_rank_window"),
      "q108_columnar_rollup"    -> base("q7_rollup"),
      "q109_columnar_semianti"  -> base("q4_semi_anti"),
      "q110_columnar_json"      -> base("q10_json"),
      "q111_columnar_cosine"    -> base("q16_cosine_topk"),
      "q112_columnar_tokens"    -> base("q17_tokens"),
      "q113_columnar_dedup"     -> base("q14_exact_dedup"),
      "q114_columnar_distinct"  -> base("q9a_distinct"),
      // the dispatch surface shares its targets' oracles verbatim
      "q115_dispatch_pricing"   -> base("q1_pricing_agg"),
      "q116_dispatch_factjoin"  -> base("q2_join_broadcast"),
      "q117_dispatch_rangejoin" -> base("q3_range_join"),
      "q118_dispatch_semianti"  -> base("q4_semi_anti"),
      "q119_dispatch_custtopk"  -> base("q5_rank_window"),
      "q120_dispatch_topk"      -> base("q6_topk"),
      "q121_dispatch_rollup"    -> base("q7_rollup"),
      "q122_dispatch_distinct"  -> base("q9a_distinct"),
      "q123_dispatch_json"      -> base("q10_json"),
      "q124_dispatch_tumbling"  -> base("q11_tumbling"),
      "q125_dispatch_session"   -> base("q12_session"),
      "q126_dispatch_lag"       -> base("q13_lag"),
      "q127_dispatch_dedup"     -> base("q14_exact_dedup"),
      "q128_dispatch_cosine"    -> base("q16_cosine_topk"),
      "q129_dispatch_tokens"    -> base("q17_tokens"),
      "q130_dispatch_asof"      -> base("q21_asof_join"),
      "q131_dispatch_funnel"    -> base("q51_funnel"),
      "q132_dispatch_retention" -> base("q70_retention"),
      "q133_dispatch_transitions" -> base("q71_transitions"),
      // the staged-ANN exactness pin and the salted batching form share
      // their targets' oracles verbatim (see the queries entries)
      "q136_layout_ann"             -> base("q16_cosine_topk"),
      "q137_length_batching_salted" -> base("q135_length_batching"),
      // q140 is q134's census re-derived from the materialized shard
      // corpus (write → read-back), so it shares q134's oracle verbatim
      "q140_shard_readback" -> base("q134_shuffle_shard"))
  }

  private def baseOracleSql: Map[String, String] = Map(
    "q1_pricing_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dsum("l_quantity", 2)} AS sum_qty,
         |  ${dsum("l_extendedprice", 2)} AS sum_base,
         |  ${dsum("l_extendedprice*(1-l_discount)", 2)} AS sum_disc,
         |  round(${fsum("l_quantity")}/count(*), 6) AS avg_qty,
         |  count(*) AS cnt
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    "q2_join_broadcast" ->
      s"""SELECT n_name, ${dsum("l_extendedprice*(1-l_discount)", 2)} AS rev
         |FROM lineitem JOIN orders ON l_orderkey=o_orderkey
         |JOIN customer ON o_custkey=c_custkey
         |JOIN nation ON c_nationkey=n_nationkey
         |JOIN region ON n_regionkey=r_regionkey
         |WHERE r_name='ASIA' GROUP BY 1 ORDER BY rev DESC, n_name""".stripMargin,

    "q3_range_join" ->
      s"""SELECT count(*) AS c,
         |  round(${fsum("l_extendedprice")}/count(*), 2) AS ap
         |FROM lineitem JOIN orders ON l_orderkey=o_orderkey
         |WHERE l_shipdate BETWEEN o_orderdate AND o_orderdate + INTERVAL 90 DAY""".stripMargin,

    "q4_semi_anti" ->
      """SELECT
        |  (SELECT count(*) FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)) AS has_orders,
        |  (SELECT count(*) FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)) AS no_orders""".stripMargin,

    "q5_rank_window" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn<=3 ORDER BY o_custkey, rn LIMIT 100""".stripMargin,

    "q6_topk" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10""".stripMargin,

    "q7_rollup" ->
      s"""SELECT l_returnflag, l_linestatus, count(*) AS c, ${dsum("l_extendedprice", 2)} AS s
         |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin,

    "q8_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS c
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag),(l_linestatus),())
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin,

    "q9a_distinct" ->
      "SELECT count(DISTINCT user_id) AS du FROM events",

    "q10_json" ->
      """SELECT event_type, CAST(sum(CAST(json_extract_string(props,'$.k') AS INT)) AS BIGINT) AS sk
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q11_tumbling" ->
      s"""SELECT CAST(date_trunc('day', ts) AS DATE) AS d, event_type,
         |  count(*) AS c, ${dsum("value", 2)} AS s
         |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    // session count == count of session STARTS: one lag pass + one agg on
    // BOTH sides (the engine applies the same rewrite — q12's scaladoc)
    "q12_session" ->
      s"""WITH ev AS ($evMicros),
         |g AS (SELECT user_id, ts, event_id,
         |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         |         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL 30 MINUTE
         |       THEN 1 ELSE 0 END AS ns FROM ev)
         |SELECT CAST(sum(ns) AS BIGINT) AS n_sessions FROM g""".stripMargin,

    "q13_lag" ->
      s"""WITH ev AS (SELECT event_type, user_id, epoch_us(ts) AS tus, event_id FROM events),
         |l AS (SELECT event_type,
         |  tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS gap_us FROM ev)
         |SELECT event_type, round(sum(gap_us)/1000000.0/count(*), 4) AS avg_gap_s
         |FROM l WHERE gap_us IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin,

    "q14_exact_dedup" ->
      "SELECT count(*) AS n FROM (SELECT DISTINCT lower(trim(text)) FROM documents)",

    "q15_near_dup" -> NearDupOracle,

    // q48: the incremental/streaming ingest must converge to exactly the
    // batch near-dup answer, so it is checked against the SAME oracle.
    "q48_incremental_neardup" -> NearDupOracle,

    "q16_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |s AS (SELECT qid, vec_id,
        |  round(list_aggregate([CAST(x[1] AS DOUBLE)*x[2] FOR x IN list_zip(qv, embedding)], 'sum')
        |    / (sqrt(list_aggregate([CAST(x AS DOUBLE)*x FOR x IN qv], 'sum'))
        |       * sqrt(list_aggregate([CAST(x AS DOUBLE)*x FOR x IN embedding], 'sum'))), 6) AS sim
        |  FROM q, embeddings WHERE vec_id != qid)
        |SELECT qid, vec_id, sim FROM (
        |  SELECT qid, vec_id, sim,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn FROM s)
        |WHERE rn <= 5 ORDER BY qid, sim DESC, vec_id""".stripMargin,

    "q17_tokens" ->
      """SELECT tok, count(*) AS c FROM (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |WHERE tok <> '' GROUP BY 1 ORDER BY c DESC, tok LIMIT 20""".stripMargin,

    "q18_scalar_suite" ->
      """SELECT p_partkey, upper(substr(p_name,1,8)) AS u, CAST(length(p_name) AS BIGINT) AS l,
        |  round(p_retailprice*1.1, 2) AS pr, CAST(year(CAST('1995-01-02' AS DATE)) AS BIGINT) AS y
        |FROM part WHERE p_name LIKE '%a%' ORDER BY p_partkey LIMIT 50""".stripMargin,

    "q19_set_ops" ->
      """SELECT 'union' AS op, count(*) AS n FROM (
        |  SELECT c_custkey FROM customer WHERE c_acctbal > 0
        |  UNION SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
        |UNION ALL
        |SELECT 'intersect' AS op, count(*) AS n FROM (
        |  SELECT c_custkey FROM customer WHERE c_acctbal > 0
        |  INTERSECT SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
        |UNION ALL
        |SELECT 'except' AS op, count(*) AS n FROM (
        |  SELECT c_custkey FROM customer WHERE c_acctbal > 0
        |  EXCEPT SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
        |ORDER BY 1""".stripMargin,

    "q20_embedding_stats" ->
      """SELECT label, count(*) AS c,
        |  round(avg(len(embedding)), 1) AS dim,
        |  round(CAST(sum(CAST(round(sqrt(list_aggregate([CAST(x AS DOUBLE)*x FOR x IN embedding],'sum'))*100000000) AS BIGINT)) AS DOUBLE)/100000000.0/count(*), 4) AS avg_l2
        |FROM embeddings GROUP BY 1 ORDER BY 1""".stripMargin,

    // Deliberately NOT DuckDB's ASOF JOIN: on tied (user_id, ts) purchases
    // ASOF's pick is unspecified, while the engine breaks ties by max
    // event_id. This window formulation pins the same tiebreak, so the
    // oracle is deterministic even if the generator ever emits ties.
    "q21_asof_join" ->
      s"""WITH ev AS ($evMicros),
         |e AS (SELECT event_id, user_id, ts FROM ev WHERE event_type='error'),
         |p AS (SELECT event_id AS p_event_id, user_id AS p_user_id, ts AS p_ts
         |      FROM ev WHERE event_type='purchase')
         |SELECT event_id, prior_purchase FROM (
         |  SELECT e.event_id, p.p_event_id AS prior_purchase,
         |    row_number() OVER (PARTITION BY e.event_id
         |                       ORDER BY p.p_ts DESC, p.p_event_id DESC) AS rn
         |  FROM e LEFT JOIN p ON e.user_id = p.p_user_id AND e.ts > p.p_ts)
         |WHERE rn = 1 ORDER BY event_id""".stripMargin,

    "q22_running_sum" ->
      """SELECT o_custkey, o_orderkey,
        |  round(CAST(sum(CAST(round(o_totalprice*10000) AS BIGINT)) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)/10000.0, 2) AS cum
        |FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey LIMIT 200""".stripMargin,

    "q23_textstats" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS BIGINT) AS n_tok,
        |  CAST(len(regexp_extract_all(text, '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+')) AS BIGINT) AS n_tok_re,
        |  CAST(length(text) AS BIGINT) AS n_char,
        |  CAST(len(list_filter(string_split(lower(text),' '),
        |        x -> list_contains(STOPWORDS, x))) AS BIGINT) AS sw_hits
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q24_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    [CAST(ascii(c) AS BIGINT) FOR c IN string_split(text,'')]),
        |    (a,b) -> (a*31+b) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q25_lang_profile" ->
      """SELECT lang, count(*) AS c,
        |  round(CAST(sum(CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS BIGINT)) AS DOUBLE)/count(*), 4) AS avg_tok,
        |  round(CAST(sum(CASE WHEN len(list_filter(string_split(lower(text),' '),
        |        x -> list_contains(STOPWORDS, x))) >= 2 THEN 1 ELSE 0 END) AS DOUBLE)/count(*), 4) AS en_rate
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "q26_quality" ->
      """WITH f AS (
        |  SELECT source,
        |    CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS DOUBLE) AS nt,
        |    CAST(length(text) AS DOUBLE) AS nc,
        |    CAST(length(regexp_replace(text, '[a-zA-Z ]', '', 'g')) AS DOUBLE) AS nonalpha,
        |    CAST(len(list_filter(string_split(lower(text),' '),
        |          x -> list_contains(STOPWORDS, x))) AS DOUBLE) AS sw
        |  FROM documents),
        |s AS (
        |  SELECT source, round((
        |      (CASE WHEN (CASE WHEN nt > 0 THEN nc/nt ELSE 0 END) BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END)
        |      + (CASE WHEN nc > 0 THEN (nc - nonalpha)/nc ELSE 0 END)
        |      + (CASE WHEN (CASE WHEN nt > 0 THEN sw/nt ELSE 0 END) > 0.02 THEN 1.0 ELSE 0.5 END)
        |    ) / 3.0, 4) AS q
        |  FROM f)
        |SELECT source, count(*) AS c,
        |  round(CAST(sum(CAST(round(q*10000) AS BIGINT)) AS DOUBLE)/10000.0/count(*), 4) AS avg_q
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,

    "q36_cosine_dedup" ->
      """WITH n AS (SELECT vec_id, embedding,
        |    sqrt(list_aggregate([CAST(x AS DOUBLE)*x FOR x IN embedding],'sum')) AS nrm
        |  FROM embeddings)
        |SELECT a.vec_id AS ida, b.vec_id AS idb,
        |  round(list_aggregate([CAST(x[1] AS DOUBLE)*x[2] FOR x IN list_zip(a.embedding, b.embedding)],'sum')
        |    / (a.nrm * b.nrm), 6) AS sim
        |FROM n a JOIN n b ON a.vec_id < b.vec_id
        |WHERE round(list_aggregate([CAST(x[1] AS DOUBLE)*x[2] FOR x IN list_zip(a.embedding, b.embedding)],'sum')
        |    / (a.nrm * b.nrm), 6) >= 0.35
        |ORDER BY 1, 2""".stripMargin,

    "q37_stats" ->
      """SELECT round(quantile_cont(l_quantity, 0.5), 4) AS p50,
        |  round(quantile_cont(l_quantity, 0.95), 4) AS p95,
        |  round(stddev_samp(l_extendedprice), 4) AS sd,
        |  round(corr(l_quantity, l_extendedprice), 6) AS r
        |FROM lineitem""".stripMargin,

    "q28_bigrams" ->
      """WITH t AS (SELECT list_filter(string_split(text,' '), x -> x <> '') AS tk FROM documents),
        |b AS (SELECT unnest([tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))]) AS bg FROM t)
        |SELECT bg, count(*) AS c FROM b GROUP BY 1 ORDER BY c DESC, bg LIMIT 10""".stripMargin,

    "q30_multimodal" ->
      """SELECT source, count(*) AS c,
        |  CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        |  CAST(max(octet_length(encode(text))) AS BIGINT) AS max_bytes
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // q31: the stub decode derives fake dims from the payload's md5 —
    // chosen over crc32 precisely because DuckDB has md5() too, making the
    // whole decode pipeline (binary cast → digest → dims) oracle-checkable.
    "q31_mm_decode" ->
      """SELECT doc_id,
        |  octet_length(encode(text)) AS n_bytes,
        |  CAST(CAST(concat('0x', substr(md5(text), 1, 6)) AS BIGINT) % 1920 + 1 AS INTEGER) AS width,
        |  CAST(CAST(concat('0x', substr(md5(text), 7, 6)) AS BIGINT) % 1080 + 1 AS INTEGER) AS height,
        |  'stub-rgb8' AS pixfmt
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q32_full_outer" ->
      """SELECT
        |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS only_c,
        |  CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS only_o,
        |  CAST(sum(CASE WHEN c_custkey IS NOT NULL AND o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS both
        |FROM customer FULL OUTER JOIN (SELECT DISTINCT o_custkey FROM orders) o
        |  ON c_custkey = o_custkey""".stripMargin,

    "q33_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS c
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin,

    "q34_from_json" ->
      """SELECT event_type, CAST(sum(CAST(json_extract_string(props,'$.k') AS INT)) AS BIGINT) AS sk
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // q41: VariantType JSON access — same aggregate as q10, so the same
    // oracle text applies (sum of $.k as int per event_type).
    "q41_variant_json" ->
      """SELECT event_type, CAST(sum(CAST(json_extract_string(props,'$.k') AS INT)) AS BIGINT) AS sk
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // q40: stable 80/20 split from the content fingerprint (q24's fold),
    // engine-independent because the fingerprint itself is oracle-matched.
    "q40_stable_split" ->
      """WITH f AS (
        |  SELECT source,
        |    CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        [CAST(ascii(c) AS BIGINT) FOR c IN string_split(text,'')]),
        |        (a,b) -> (a*31+b) % 1000000007) % 100 < 80
        |      THEN 'train' ELSE 'val' END AS split
        |  FROM documents)
        |SELECT source, split, count(*) AS c FROM f
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q39: the deduplicated corpus — documents minus non-representative
    // dup-cluster members, via the same recursive reachability as q35.
    "q39_dedup_corpus" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct([substr(lower(text), i, 8) FOR i IN range(1, len(text)-6)]) AS sg
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS ida, b.doc_id AS idb
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.sg,b.sg)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.sg,b.sg))) AS DOUBLE) >= 0.6),
        |edges AS (SELECT ida AS a, idb AS b FROM pairs UNION SELECT idb, ida FROM pairs),
        |reach(node, r) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a),
        |grp AS (SELECT node, min(r) AS g FROM reach GROUP BY node)
        |SELECT d.doc_id, d.source, d.lang, CAST(length(d.text) AS BIGINT) AS n_char
        |FROM documents d
        |WHERE d.doc_id NOT IN (SELECT node FROM grp WHERE g <> node)
        |ORDER BY d.doc_id""".stripMargin,

    // Transitive closure of the q15 near-dup pairs as a recursive
    // reachability fixpoint: `reach` accumulates every (node, reachable id)
    // pair over the undirected edge set; min(reachable) = the component's
    // smallest doc_id, exactly dupGroups' label. Clusters are tiny cliques,
    // so the closure stays small.
    "q35_dup_groups" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct([substr(lower(text), i, 8) FOR i IN range(1, len(text)-6)]) AS sg
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS ida, b.doc_id AS idb
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.sg,b.sg)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.sg,b.sg))) AS DOUBLE) >= 0.6),
        |edges AS (SELECT ida AS a, idb AS b FROM pairs UNION SELECT idb, ida FROM pairs),
        |reach(node, r) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a)
        |SELECT node AS doc_id, min(r) AS group_id FROM reach
        |GROUP BY node ORDER BY group_id, doc_id""".stripMargin,

    "q42_tfidf" ->
      """WITH t AS (SELECT doc_id, unnest(list_filter(string_split(text,' '), x -> x <> '')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT doc_id, term, round(tf * ln(CAST(n AS DOUBLE)/df), 6) AS score
        |FROM tf JOIN df USING (term) CROSS JOIN n
        |ORDER BY score DESC, doc_id, term LIMIT 20""".stripMargin,

    // q43: constants are written as the SAME runtime arithmetic on both
    // sides ((1.2 + 1.0), not 2.2) so each engine folds them identically in
    // IEEE doubles; operation order mirrors the Column expression exactly.
    "q43_bm25" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS tk FROM documents),
        |dl AS (SELECT doc_id, len(tk) AS dl FROM t),
        |tfc AS (
        |  SELECT doc_id, term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(tk) AS term FROM t)
        |  WHERE term IN ('vector', 'join', 'stream') GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tfc GROUP BY 1),
        |s AS (SELECT (SELECT count(*) FROM documents) AS n,
        |             (SELECT avg(dl) FROM dl) AS avgdl)
        |SELECT doc_id,
        |  CAST(sum(CAST(round(ln((n - df + 0.5)/(df + 0.5) + 1.0)
        |    * (tf * (1.2 + 1.0))
        |    / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) * 1000000) AS BIGINT)) AS DOUBLE)/1000000.0 AS bm25
        |FROM tfc JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN s
        |GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin,

    "q44_doc_chunks" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS tk FROM documents),
        |s AS (SELECT doc_id, tk, unnest(range(0, len(tk), 8)) AS start FROM t)
        |SELECT doc_id, CAST(start // 8 AS INTEGER) AS chunk_id,
        |  len(list_slice(tk, start + 1, start + 16)) AS n_tokens,
        |  array_to_string(list_slice(tk, start + 1, start + 16), ' ') AS chunk_text
        |FROM s ORDER BY doc_id, chunk_id""".stripMargin,

    // q45: DuckDB regexp_replace needs the 'g' flag to replace ALL
    // occurrences (Spark always replaces all).
    "q45_pii_redact" ->
      """WITH e AS (
        |  SELECT event_type, props,
        |    regexp_replace(props,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS deEmailed
        |  FROM events),
        |r AS (
        |  SELECT event_type,
        |    len(regexp_extract_all(props, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |      + len(regexp_extract_all(deEmailed, '[0-9]+')) AS hits,
        |    regexp_replace(deEmailed, '[0-9]+', '<NUM>', 'g') AS redacted
        |  FROM e)
        |SELECT event_type,
        |  CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS rows_redacted,
        |  CAST(sum(hits) AS BIGINT) AS total_redactions,
        |  count(DISTINCT redacted) AS distinct_shapes
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    "q49_pivot" ->
      s"""SELECT l_returnflag,
         |  ${dsum("CASE WHEN l_linestatus = 'F' THEN l_extendedprice * (1.0 - l_discount) END", 2)} AS F,
         |  ${dsum("CASE WHEN l_linestatus = 'O' THEN l_extendedprice * (1.0 - l_discount) END", 2)} AS O
         |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q50_unpivot" ->
      s"""WITH a AS (
         |  SELECT l_returnflag, ${dsum("l_quantity", 2)} AS sum_qty,
         |    ${dsum("l_extendedprice", 2)} AS sum_price
         |  FROM lineitem GROUP BY 1)
         |SELECT l_returnflag, 'sum_price' AS measure, sum_price AS value FROM a
         |UNION ALL
         |SELECT l_returnflag, 'sum_qty', sum_qty FROM a
         |ORDER BY l_returnflag, measure""".stripMargin,

    // q47: the engine side uses a Misra-Gries sketch for candidates, but
    // its output is provably the EXACT heavy-hitter set (sketch superset
    // guarantee + exact second pass), so a plain exact-count oracle applies.
    // 30 = k+1 for the default k=29.
    "q47_heavy_hitters" ->
      """WITH t AS (SELECT unnest(list_filter(string_split(text,' '), x -> x <> '')) AS term FROM documents)
        |SELECT term, count(*) AS c FROM t GROUP BY term
        |HAVING count(*) * 30 > (SELECT count(*) FROM t)
        |ORDER BY c DESC, term""".stripMargin,

    // q51: min-ts chain funnel. The engine computes it with windows over one
    // shuffle; the oracle states the same chain as three joined CTEs (first
    // view, first click strictly after it, first purchase strictly after
    // that). Strict `>` on µs-truncated instants on both sides.
    "q51_funnel" ->
      s"""WITH ev AS ($evMicros),
         |v AS (SELECT user_id, min(ts) AS vts FROM ev WHERE event_type='view' GROUP BY 1),
         |c AS (SELECT e.user_id, min(e.ts) AS cts FROM ev e JOIN v ON e.user_id = v.user_id
         |      WHERE e.event_type='click' AND e.ts > v.vts GROUP BY 1),
         |p AS (SELECT e.user_id, min(e.ts) AS pts FROM ev e JOIN c ON e.user_id = c.user_id
         |      WHERE e.event_type='purchase' AND e.ts > c.cts GROUP BY 1)
         |SELECT (SELECT count(*) FROM v) AS n_view,
         |       (SELECT count(*) FROM c) AS n_view_click,
         |       (SELECT count(*) FROM p) AS n_funnel""".stripMargin,

    "q46_stratified" ->
      """SELECT lang, count(*) AS n_total,
        |  CAST(sum(CASE WHEN CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), ':graft-sample')), 1, 6)) AS BIGINT) % 100 < 10
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q52_window_suite" ->
      """SELECT o_custkey, o_orderkey, ntile(4) OVER w AS nt,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  round(cume_dist() OVER w, 6) AS cd,
        |  first_value(o_orderkey) OVER w AS fv
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_custkey, o_orderkey LIMIT 200""".stripMargin,

    "q53_group_percentiles" ->
      """SELECT l_returnflag, round(quantile_cont(l_quantity, 0.5), 4) AS p50,
        |  round(quantile_cont(l_quantity, 0.9), 4) AS p90
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    // q54: the ENGINE decorrelates this into a window aggregate; the oracle
    // keeps the same integer-exact threshold (2·pk·wc > 3·ws ⟺ price >
    // 1.5·avg) so boundary rows agree bit-for-bit.
    "q54_correlated_avg" ->
      """WITH t AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(round(o_totalprice*10000) AS BIGINT) AS pk,
        |    sum(CAST(round(o_totalprice*10000) AS BIGINT)) OVER (PARTITION BY o_custkey) AS ws,
        |    count(*) OVER (PARTITION BY o_custkey) AS wc
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(ws // wc AS DOUBLE)/10000.0 AS cust_avg
        |FROM t WHERE pk*2*wc > ws*3
        |ORDER BY o_custkey, o_orderkey LIMIT 100""".stripMargin,

    "q55_activity_gaps" ->
      """WITH d AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d FROM events),
        |b AS (SELECT user_id, min(d) AS d0, max(d) AS d1 FROM d GROUP BY 1),
        |s AS (SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS sd FROM b)
        |SELECT sd, count(*) AS n_gapped
        |FROM s WHERE NOT EXISTS (
        |  SELECT 1 FROM d WHERE d.user_id = s.user_id AND d.d = s.sd)
        |GROUP BY sd ORDER BY sd""".stripMargin,

    "q56_fuzzy_names" ->
      """WITH p AS (SELECT p_partkey, p_name, substr(p_name, 1, 4) AS blk FROM part),
        |j AS (SELECT levenshtein(a.p_name, b.p_name) AS d
        |      FROM p a JOIN p b ON a.blk = b.blk AND a.p_partkey < b.p_partkey)
        |SELECT d, count(*) AS c FROM j WHERE d <= 4 GROUP BY d ORDER BY d""".stripMargin,

    // Tiebreak key mirrors the engine's lexicographic STRUCT (vk, ±id):
    // DuckDB's arg_max can't take a struct key, so the pair is packed into
    // a HUGEINT as vk*2^64 ± id — collision-free for EVERY bigint id (the
    // retired vk*10^10 ± id integer key silently collided for ids >= 10^10,
    // diverging from the engine's struct ordering on large id spaces).
    "q57_arg_extremes" ->
      """SELECT event_type,
        |  arg_max(event_id, CAST(round(value*100) AS HUGEINT)*18446744073709551616 + event_id) AS emax,
        |  arg_min(event_id, CAST(round(value*100) AS HUGEINT)*18446744073709551616 - event_id) AS emin,
        |  round(max(value), 2) AS vmax
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // q58: per-(doc,word) counts via unnest; the engine computes the same
    // three per-doc numbers in one TokenStats pass. The per-doc distinct
    // ratio is fixed-pointed (×1e6) before the cross-doc sum in BOTH
    // engines, so the average is order-independent.
    "q58_repetition" ->
      """WITH w AS (
        |  SELECT doc_id, source,
        |    unnest(list_filter(string_split(text,' '), x -> x <> '')) AS word
        |  FROM documents),
        |pc AS (SELECT doc_id, source, word, count(*) AS c FROM w GROUP BY 1,2,3),
        |d AS (SELECT doc_id, source, CAST(sum(c) AS BIGINT) AS n_tok,
        |        count(*) AS n_distinct, max(c) AS top_c
        |      FROM pc GROUP BY 1,2)
        |SELECT source, count(*) AS n_docs,
        |  round(CAST(sum(CAST(round(CAST(n_distinct AS DOUBLE)/CAST(n_tok AS DOUBLE)*1000000) AS BIGINT)) AS DOUBLE)
        |        /1000000.0/count(*), 4) AS avg_distinct_ratio,
        |  CAST(sum(CASE WHEN CAST(top_c AS DOUBLE) > CAST(n_tok AS DOUBLE)*0.2
        |       THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitious
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,

    // q59: the oracle computes the token prefix sum with one global window
    // (fine at oracle scale); the engine reproduces the identical offsets
    // with the two-pass bucket prefix sum. Window boundaries are exact:
    // offsets < 2^53 so floor(off/2048.0) is exact double math both sides.
    "q59_seq_packing" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tok,
        |    COALESCE(sum(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM t),
        |b AS (
        |  SELECT CAST(floor(off/2048.0) AS BIGINT) AS bin,
        |    greatest(CAST(floor(off/2048.0) AS BIGINT),
        |             CAST(floor((off+n_tok-1)/2048.0) AS BIGINT)) AS bin_last,
        |    n_tok
        |  FROM c)
        |SELECT bin, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS bin_tok,
        |  CAST(sum(CASE WHEN bin_last > bin THEN 1 ELSE 0 END) AS BIGINT) AS n_crossing
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    // q60: moments from integer-exact cent sums (HUGEINT here, decimal(38,0)
    // in the engine); the closed forms are evaluated in double with the
    // same expression shape on both sides, so the IEEE ops are identical.
    "q60_exact_moments" ->
      """WITH s AS (
        |  SELECT l_returnflag,
        |    count(*) AS n,
        |    sum(CAST(round(l_quantity*100) AS HUGEINT)) AS q,
        |    sum(CAST(round(l_extendedprice*100) AS HUGEINT)) AS e,
        |    sum(CAST(round(l_quantity*100) AS HUGEINT)*CAST(round(l_quantity*100) AS HUGEINT)) AS qq,
        |    sum(CAST(round(l_extendedprice*100) AS HUGEINT)*CAST(round(l_extendedprice*100) AS HUGEINT)) AS ee,
        |    sum(CAST(round(l_quantity*100) AS HUGEINT)*CAST(round(l_extendedprice*100) AS HUGEINT)) AS qe
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, n,
        |  round((CAST(n AS DOUBLE)*CAST(qe AS DOUBLE) - CAST(q AS DOUBLE)*CAST(e AS DOUBLE)) /
        |        (sqrt(CAST(n AS DOUBLE)*CAST(qq AS DOUBLE) - CAST(q AS DOUBLE)*CAST(q AS DOUBLE)) *
        |         sqrt(CAST(n AS DOUBLE)*CAST(ee AS DOUBLE) - CAST(e AS DOUBLE)*CAST(e AS DOUBLE))), 6)
        |    AS corr_qty_price,
        |  round((CAST(n AS DOUBLE)*CAST(qe AS DOUBLE) - CAST(q AS DOUBLE)*CAST(e AS DOUBLE)) /
        |        (CAST(n AS DOUBLE)*CAST(n AS DOUBLE)) / 10000.0, 6) AS covar_pop_qty_price,
        |  round(sqrt(CAST(n AS DOUBLE)*CAST(qq AS DOUBLE) - CAST(q AS DOUBLE)*CAST(q AS DOUBLE)) /
        |        CAST(n AS DOUBLE) / 100.0, 6) AS stddev_pop_qty
        |FROM s ORDER BY 1""".stripMargin,

    "q61_histogram" ->
      """SELECT event_type, CAST(floor(value/50.0) AS BIGINT) AS bucket,
        |  count(*) AS n,
        |  round(CAST(sum(CAST(round(value*10000) AS BIGINT)) AS DOUBLE)/10000.0, 4) AS sum_value
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    // q62: q40's fingerprint fold defines the split; a val doc is
    // contaminated if any 32-char shingle of lower(text) appears in any
    // train doc. Same shingle construction as the q15 oracle, length 32.
    "q62_decontamination" ->
      """WITH f AS (
        |  SELECT doc_id, source, lower(text) AS lt,
        |    CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        [CAST(ascii(c) AS BIGINT) FOR c IN string_split(text,'')]),
        |        (a,b) -> (a*31+b) % 1000000007) % 100 < 80
        |      THEN 'train' ELSE 'val' END AS split
        |  FROM documents),
        |tr AS (SELECT DISTINCT unnest([substr(lt, i, 32) FOR i IN range(1, len(lt)-30)]) AS sg
        |       FROM f WHERE split='train' AND len(lt) >= 32),
        |vs AS (SELECT doc_id, unnest(list_distinct([substr(lt, i, 32) FOR i IN range(1, len(lt)-30)])) AS sg
        |       FROM f WHERE split='val' AND len(lt) >= 32),
        |hit AS (SELECT DISTINCT vs.doc_id FROM vs JOIN tr USING (sg))
        |SELECT source, count(*) AS n_val,
        |  CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM hit) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_contaminated
        |FROM f WHERE split='val' GROUP BY 1 ORDER BY 1""".stripMargin,

    // q63: q35's recursive reachability labels + q26's per-row quality
    // score; the kept doc is the quality argmax (doc_id tiebreak) per
    // cluster, expressed as a window rank.
    "q63_canonical_docs" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct([substr(lower(text), i, 8) FOR i IN range(1, len(text)-6)]) AS sg
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS ida, b.doc_id AS idb
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.sg,b.sg)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.sg,b.sg))) AS DOUBLE) >= 0.6),
        |edges AS (SELECT ida AS a, idb AS b FROM pairs UNION SELECT idb, ida FROM pairs),
        |reach(node, r) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a),
        |labels AS (SELECT node AS doc_id, min(r) AS group_id FROM reach GROUP BY node),
        |f AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS DOUBLE) AS nt,
        |    CAST(length(text) AS DOUBLE) AS nc,
        |    CAST(length(regexp_replace(text, '[a-zA-Z ]', '', 'g')) AS DOUBLE) AS nonalpha,
        |    CAST(len(list_filter(string_split(lower(text),' '),
        |          x -> list_contains(STOPWORDS, x))) AS DOUBLE) AS sw
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, round((
        |      (CASE WHEN (CASE WHEN nt > 0 THEN nc/nt ELSE 0 END) BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END)
        |      + (CASE WHEN nc > 0 THEN (nc - nonalpha)/nc ELSE 0 END)
        |      + (CASE WHEN (CASE WHEN nt > 0 THEN sw/nt ELSE 0 END) > 0.02 THEN 1.0 ELSE 0.5 END)
        |    ) / 3.0, 4) AS q
        |  FROM f),
        |j AS (SELECT l.group_id, l.doc_id, s.q FROM labels l JOIN s USING (doc_id)),
        |r AS (SELECT group_id, doc_id, q,
        |      row_number() OVER (PARTITION BY group_id ORDER BY q DESC, doc_id) AS rn,
        |      count(*) OVER (PARTITION BY group_id) AS n_members FROM j)
        |SELECT group_id, doc_id, CAST(n_members AS BIGINT) AS n_members, q
        |FROM r WHERE rn = 1 ORDER BY group_id""".stripMargin,

    "q64_inverted_index" ->
      """WITH t AS (SELECT doc_id, unnest(list_filter(string_split(text,' '), x -> x <> '')) AS tok FROM documents),
        |tf AS (SELECT tok, doc_id, count(*) AS tf FROM t GROUP BY 1, 2),
        |r AS (SELECT tok, doc_id, tf,
        |      row_number() OVER (PARTITION BY tok ORDER BY tf DESC, doc_id) AS rn,
        |      count(*) OVER (PARTITION BY tok) AS df,
        |      sum(tf) OVER (PARTITION BY tok) AS cf FROM tf)
        |SELECT tok, df, CAST(cf AS BIGINT) AS cf, doc_id AS top_doc, tf AS top_tf
        |FROM r WHERE rn = 1 AND df >= 5 ORDER BY df DESC, tok LIMIT 100""".stripMargin,

    // q65: trigram strings here mirror the 64-bit trigram hashes the engine
    // joins on (same construction as q62's shingle census).
    "q65_familiarity" ->
      """WITH g AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        [CAST(ascii(c) AS BIGINT) FOR c IN string_split(text,'')]),
        |        (a,b) -> (a*31+b) % 1000000007) % 100 < 80 THEN 1 ELSE 0 END AS is_train,
        |    list_distinct([substr(lower(text), i, 3) FOR i IN range(1, len(text)-1)]) AS sgs
        |  FROM documents WHERE length(text) >= 3),
        |tr AS (SELECT sg, count(*) AS df
        |       FROM (SELECT unnest(sgs) AS sg FROM g WHERE is_train = 1) GROUP BY 1),
        |e AS (SELECT doc_id, lang, len(sgs) AS n_sg, unnest(sgs) AS sg FROM g),
        |s AS (SELECT e.doc_id, e.lang, e.n_sg, sum(least(coalesce(tr.df, 0), 100)) AS fs
        |      FROM e LEFT JOIN tr USING (sg) GROUP BY 1, 2, 3)
        |SELECT doc_id, lang, round(CAST(fs AS DOUBLE)/n_sg, 4) AS fam
        |FROM s ORDER BY fam, doc_id LIMIT 20""".stripMargin,

    "q66_source_mixture" ->
      """WITH f AS (
        |  SELECT source,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      [CAST(ascii(c) AS BIGINT) FOR c IN string_split(text,'')]),
        |      (a,b) -> (a*31+b) % 1000000007) % 10000 AS b
        |  FROM documents),
        |c AS (SELECT source, count(*) AS n_docs FROM f GROUP BY 1),
        |t AS (SELECT source, n_docs,
        |      CAST((10000 * (SELECT min(n_docs) FROM c)) // n_docs AS BIGINT) AS threshold FROM c)
        |SELECT source, t.n_docs, t.threshold,
        |  CAST(sum(CASE WHEN f.b < t.threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM f JOIN t USING (source) GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,

    // q89: q66's fingerprint keep-rule with the alpha=0.5 temperature
    // threshold 10^4*floor(sqrt(min_n*n)) // n (see the Spark scaladoc for
    // the exact-integer argument).
    "q89_temp_mixture" ->
      """WITH f AS (
        |  SELECT source,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      [CAST(ascii(c) AS BIGINT) FOR c IN string_split(text,'')]),
        |      (a,b) -> (a*31+b) % 1000000007) % 10000 AS b
        |  FROM documents),
        |c AS (SELECT source, count(*) AS n_docs FROM f GROUP BY 1),
        |t AS (SELECT source, n_docs,
        |      CAST((10000 * CAST(floor(sqrt(CAST((SELECT min(n_docs) FROM c) * n_docs AS DOUBLE))) AS BIGINT)) // n_docs AS BIGINT) AS threshold FROM c)
        |SELECT source, t.n_docs, t.threshold,
        |  CAST(sum(CASE WHEN f.b < t.threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM f JOIN t USING (source) GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,

    // q91: snapshot B derived from the corpus exactly as the engine does
    // (drop %7, rewrite %11, add %13 under -(id+1) ids — sign-disjoint
    // from real ids at any scale); md5 hex matches.
    "q91_snapshot_diff" ->
      """WITH a AS (SELECT doc_id, source, md5(text) AS h FROM documents),
        |b0 AS (SELECT doc_id, source,
        |         CASE WHEN doc_id % 11 = 0 THEN md5(text || ' rev2') ELSE md5(text) END AS h
        |       FROM documents WHERE doc_id % 7 <> 0),
        |badd AS (SELECT -(doc_id + 1) AS doc_id, source, md5(text || ' new') AS h
        |         FROM documents WHERE doc_id % 13 = 0),
        |b AS (SELECT * FROM b0 UNION ALL SELECT * FROM badd),
        |j AS (SELECT coalesce(a.source, b.source) AS source, a.h AS ha, b.h AS hb
        |      FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
        |SELECT source,
        |  CAST(sum(CASE WHEN hb IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  CAST(sum(CASE WHEN ha IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
        |  CAST(sum(CASE WHEN ha IS NOT NULL AND hb IS NOT NULL AND ha <> hb THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |  CAST(sum(CASE WHEN ha = hb THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    // q134: 48-bit md5 shuffle keys (the q46 hex-prefix convention, 12
    // chars); first/last-in-shuffle-order via the q57 HUGEINT-packed
    // (skey, doc_id) tie-break so both engines order identically. The pack
    // multiplier is 2^64 so the packed order equals the engine's
    // struct(skey, doc_id) lexicographic order for the FULL non-negative
    // 64-bit doc_id space (48-bit skey × 2^64 + doc_id ≤ 2^112 fits
    // HUGEINT; a 2^32 multiplier would collide fields for doc_id ≥ 2^32 —
    // r13 advice). Remaining assumption, matching the corpus contract:
    // doc_id ≥ 0 (a negative id would pack below its skey block while the
    // struct order ranks it within it).
    "q134_shuffle_shard" ->
      """WITH k AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS BIGINT) AS n_tok,
        |    CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), ':graft-shuffle')), 1, 12)) AS BIGINT) AS skey
        |  FROM documents)
        |SELECT skey % 8 AS shard, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tok,
        |  arg_min(doc_id, CAST(skey AS HUGEINT) * 18446744073709551616 + doc_id) AS first_doc,
        |  arg_max(doc_id, CAST(skey AS HUGEINT) * 18446744073709551616 + doc_id) AS last_doc
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,

    // q135: identical bucket/batch arithmetic (ceil on an exact small-int
    // double; row_number over (bucket, doc_id) is total so batch bounds
    // agree bit-for-bit).
    "q135_length_batching" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents),
        |b AS (SELECT doc_id, n_tok,
        |        CAST(ceil(CAST(n_tok AS DOUBLE)/16) AS BIGINT) AS bucket FROM t),
        |r AS (SELECT *, (row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1) // 32 AS batch FROM b),
        |m AS (SELECT *, max(n_tok) OVER (PARTITION BY bucket, batch) AS bmax FROM r)
        |SELECT bucket, count(*) AS n_docs, count(DISTINCT batch) AS n_batches,
        |  CAST(sum(bmax - n_tok) AS BIGINT) AS pad_waste
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,

    // q138: right-outer semantics — which side null-extends is the whole
    // point of the gate, so the SQL spells RIGHT OUTER explicitly.
    "q138_right_outer" ->
      """SELECT c_nationkey, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orderless
        |FROM (SELECT o_custkey FROM orders) o
        |  RIGHT OUTER JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q139: sliding windows as an unnest of the ceil(size/slide)=4 window
    // starts each event belongs to — window [s, s+1h), s epoch-aligned to
    // the 15-minute slide, exactly Spark's window(ts, '1 hour', '15
    // minutes') membership rule. ts normalized to micros like every other
    // events oracle (evMicros).
    "q139_sliding_batch" ->
      s"""WITH ev AS ($evMicros),
         |w AS (
         |  SELECT event_type,
         |    time_bucket(INTERVAL 15 MINUTE, ts) - to_minutes(15 * k) AS ws
         |  FROM ev CROSS JOIN (SELECT unnest(range(4)) AS k))
         |SELECT ws, event_type, count(*) AS c
         |FROM w GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    // q141: BPE first-round pair census — word counts (the one
    // corpus-grain agg), then adjacent char pairs weighted by word count.
    // Exact integer counts; (cnt DESC, pair) makes the top-20 total.
    "q141_bpe_pairs" ->
      """WITH w AS (SELECT unnest(list_filter(string_split(text,' '), x -> x <> '')) AS word
        |           FROM documents),
        |wc AS (SELECT word, count(*) AS c FROM w GROUP BY 1),
        |p AS (SELECT substr(word, CAST(i AS INT), 2) AS pair, c
        |      FROM wc, unnest(range(1, length(word))) AS t(i))
        |SELECT pair, CAST(sum(c) AS BIGINT) AS cnt FROM p
        |GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 20""".stripMargin,

    // q143: per-dimension embedding moments. Elements are fixed-pointed
    // (×1e6, round) BEFORE summing in both engines, so every output cell
    // is exact integer arithmetic; the sum of squares accumulates in
    // HUGEINT/decimal(38) and is emitted as BIGINT (fits at any tested
    // SF). dim is 0-based to match posexplode.
    "q143_embedding_moments" ->
      """WITH e AS (
        |  SELECT CAST(i AS BIGINT) - 1 AS dim,
        |    CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE)*1000000) AS BIGINT) AS fp
        |  FROM embeddings, unnest(range(1, len(embedding)+1)) AS t(i))
        |SELECT dim, count(*) AS n, CAST(sum(fp) AS BIGINT) AS sum_fp,
        |  CAST(sum(CAST(fp AS HUGEINT)*fp) AS BIGINT) AS ssq_fp
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,

    // q67: same rolling k-gram hash as the engine's WinnowFingerprints
    // (fold (a*31+b) mod 1e9+7 over char codes, init 0 — identical to the
    // engine's rolling form), window minima via a 4-row frame, full windows
    // only except the single clipped window for docs with < w k-grams.
    "q67_winnow_census" ->
      """WITH pos AS (
        |  SELECT doc_id, text, CAST(unnest(range(1, len(text)-6)) AS BIGINT) AS i
        |  FROM documents WHERE len(text) >= 8),
        |hh AS (
        |  SELECT doc_id, i,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      [CAST(ascii(c) AS BIGINT) FOR c IN string_split(substr(text, CAST(i AS INT), 8), '')]),
        |      (a,b) -> (a*31+b) % 1000000007) AS hv
        |  FROM pos),
        |np AS (SELECT doc_id, count(*) AS p FROM hh GROUP BY 1),
        |w AS (
        |  SELECT hh.doc_id, i, p,
        |    min(hv) OVER (PARTITION BY hh.doc_id ORDER BY i
        |                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh
        |  FROM hh JOIN np USING (doc_id)),
        |fp AS (SELECT DISTINCT doc_id, mh FROM w WHERE i <= greatest(p - 3, 1)),
        |c AS (SELECT mh, CAST(count(*) AS BIGINT) AS docs FROM fp GROUP BY 1)
        |SELECT docs AS docs_sharing, CAST(count(*) AS BIGINT) AS n_fps
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    "q68_ngram_jaccard" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ws
        |  FROM documents),
        |g0 AS (
        |  SELECT doc_id, ws[CAST(i AS INT)] || ' ' || ws[CAST(i+1 AS INT)] || ' ' || ws[CAST(i+2 AS INT)] AS g
        |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws)-1)) AS i FROM t WHERE len(ws) >= 3)),
        |g AS (SELECT DISTINCT doc_id, g FROM g0),
        |s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY 1),
        |pr AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, CAST(count(*) AS BIGINT) AS inter
        |  FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT da, db, inter,
        |  round(CAST(inter AS DOUBLE)/(sa.n + sb.n - inter), 4) AS jacc
        |FROM pr JOIN s sa ON sa.doc_id = pr.da JOIN s sb ON sb.doc_id = pr.db
        |WHERE 3*inter >= sa.n + sb.n
        |ORDER BY da, db""".stripMargin,

    "q69_filter_funnel" ->
      """WITH pc AS (
        |  SELECT doc_id, word, count(*) AS c FROM (
        |    SELECT doc_id, unnest(list_filter(string_split(text,' '), x -> x <> '')) AS word
        |    FROM documents) GROUP BY 1, 2),
        |d AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS ntok, CAST(count(*) AS BIGINT) AS ndis
        |      FROM pc GROUP BY 1),
        |f AS (
        |  SELECT doc.source,
        |    CASE WHEN length(doc.text) < 100 THEN 1 ELSE 0 END AS f_short,
        |    CASE WHEN 10*coalesce(d.ndis,0) < 3*coalesce(d.ntok,0) THEN 1 ELSE 0 END AS f_rep,
        |    CASE WHEN len(list_filter(string_split(lower(doc.text),' '),
        |         x -> list_contains(STOPWORDS, x))) < 2 THEN 1 ELSE 0 END AS f_lang,
        |    CASE WHEN length(replace(doc.text,' ','')) < 3*coalesce(d.ntok,0)
        |           OR length(replace(doc.text,' ','')) > 12*coalesce(d.ntok,0)
        |         THEN 1 ELSE 0 END AS f_wlen
        |  FROM documents doc LEFT JOIN d ON d.doc_id = doc.doc_id)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(f_short) AS BIGINT) AS n_short, CAST(sum(f_rep) AS BIGINT) AS n_rep,
        |  CAST(sum(f_lang) AS BIGINT) AS n_lang, CAST(sum(f_wlen) AS BIGINT) AS n_wlen,
        |  CAST(sum(CASE WHEN f_short+f_rep+f_lang+f_wlen = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,

    "q71_transitions" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS tus, event_id, event_type FROM events),
        |l AS (SELECT event_type AS nxt,
        |        lag(event_type) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS prv
        |      FROM ev),
        |c AS (SELECT prv, nxt, count(*) AS c FROM l WHERE prv IS NOT NULL GROUP BY 1, 2)
        |SELECT prv, nxt, c,
        |  round(CAST(c AS DOUBLE)/sum(c) OVER (PARTITION BY prv), 4) AS share
        |FROM c ORDER BY 1, 2""".stripMargin,

    "q70_retention" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
        |f AS (SELECT user_id, wk, min(wk) OVER (PARTITION BY user_id) AS cohort FROM uw)
        |SELECT cohort, CAST(date_diff('day', cohort, wk) // 7 AS BIGINT) AS week_offset,
        |  count(*) AS n_users
        |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q72_length_deciles" ->
      """WITH b AS (SELECT source, n_chars,
        |  ntile(10) OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS decile
        |  FROM documents)
        |SELECT source, CAST(decile AS BIGINT) AS decile, count(*) AS n_docs,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q73: same md5 sampling-key convention as q46; cap = 15
    "q73_source_cap" ->
      """WITH r AS (SELECT source, n_chars,
        |  row_number() OVER (PARTITION BY source ORDER BY
        |    CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), ':graft-cap')), 1, 6)) AS BIGINT),
        |    doc_id) AS rn
        |  FROM documents)
        |SELECT source, count(*) AS n_total,
        |  CAST(sum(CASE WHEN rn <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN rn <= 15 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    // q74: same per-element double casts + left-to-right list_aggregate
    // fold as q16's oracle; distances rounded to 6dp BEFORE the argmin on
    // both sides, ties by lower centroid id via the row_number tiebreak
    "q74_kmeans_assign" ->
      """WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
        |s AS (SELECT e.vec_id, e.label, c.cid,
        |  round(list_aggregate([(CAST(x[1] AS DOUBLE)-CAST(x[2] AS DOUBLE))^2
        |    FOR x IN list_zip(e.embedding, c.cv)], 'sum'), 6) AS d
        |  FROM embeddings e, c),
        |a AS (SELECT vec_id, label, cid AS cluster, d,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM s)
        |SELECT cluster, count(*) AS n,
        |  round(sum(CAST(round(d*1000000) AS BIGINT))/1000000.0/count(*), 4) AS avg_sqdist,
        |  min(label) AS min_label, max(label) AS max_label
        |FROM a WHERE rn = 1 GROUP BY 1 ORDER BY 1""".stripMargin,

    // q75: every step mirrors the engine's HOF pipeline 1:1 — identical
    // double arithmetic (away-from-zero round ties, left-to-right
    // error-square fold), per-vector MSE fixed-pointed before the group sum
    "q75_quant_error" ->
      """WITH m AS (SELECT label, embedding,
        |    list_max([abs(CAST(x AS DOUBLE)) FOR x IN embedding]) AS ma FROM embeddings),
        |e AS (SELECT label,
        |    CASE WHEN ma = 0 THEN [CAST(0.0 AS DOUBLE) FOR x IN embedding]
        |         ELSE [CAST(x AS DOUBLE)
        |               - round(CAST(x AS DOUBLE)*(127.0/ma))/(127.0/ma) FOR x IN embedding]
        |    END AS errs FROM m),
        |v AS (SELECT label,
        |    list_aggregate([y*y FOR y IN errs], 'sum') / len(errs) AS mse,
        |    list_max([abs(y) FOR y IN errs]) AS me FROM e)
        |SELECT label, count(*) AS n,
        |  round(sum(CAST(round(mse*1000000000) AS BIGINT))/1000000000.0/count(*), 6) AS avg_mse,
        |  round(max(me), 6) AS max_err
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,

    // q77: integer digit-gap surprisal (no ln) — the per-doc sum is exact
    // on both engines; the only float op is one division, rounded 4dp.
    "q77_rarity_score" ->
      """WITH t AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tt AS (SELECT * FROM t WHERE tok <> ''),
        |cf AS (SELECT tok, count(*) AS cf FROM tt GROUP BY 1),
        |tot AS (SELECT length(CAST(sum(cf) AS VARCHAR)) AS td FROM cf),
        |s AS (SELECT tt.doc_id, any_value(tt.source) AS source, count(*) AS n_tok,
        |        sum(td - length(CAST(cf.cf AS VARCHAR))) AS sur
        |      FROM tt JOIN cf USING (tok) CROSS JOIN tot GROUP BY tt.doc_id)
        |SELECT doc_id, source, n_tok, round(CAST(sur AS DOUBLE)/n_tok, 4) AS rarity
        |FROM s ORDER BY rarity DESC, doc_id LIMIT 20""".stripMargin,

    // q78/q79: string 40-char shingles mirror the engine's 64-bit hashed
    // shingles (q62's construction) — counts equal modulo 2⁻⁶⁴ collisions.
    "q78_dup_spans" ->
      """WITH g AS (SELECT doc_id, source,
        |    list_distinct([substr(lower(text), i, 40) FOR i IN range(1, len(text)-38)]) AS sgs
        |  FROM documents WHERE len(text) >= 40),
        |e AS (SELECT doc_id, source, unnest(sgs) AS sg FROM g),
        |d AS (SELECT sg FROM e GROUP BY sg HAVING count(*) > 1),
        |hit AS (SELECT DISTINCT doc_id FROM e JOIN d USING (sg)),
        |spans AS (SELECT source, count(DISTINCT sg) AS n_dup_spans
        |          FROM e JOIN d USING (sg) GROUP BY 1)
        |SELECT dd.source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN dd.doc_id IN (SELECT doc_id FROM hit) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_docs,
        |  coalesce(any_value(spans.n_dup_spans), 0) AS n_dup_spans
        |FROM documents dd LEFT JOIN spans ON dd.source = spans.source
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q79_source_overlap" ->
      """WITH g AS (SELECT doc_id, source,
        |    list_distinct([substr(lower(text), i, 40) FOR i IN range(1, len(text)-38)]) AS sgs
        |  FROM documents WHERE len(text) >= 40),
        |ss AS (SELECT DISTINCT source, sg FROM (SELECT source, unnest(sgs) AS sg FROM g)),
        |sz AS (SELECT source, count(*) AS n FROM ss GROUP BY 1),
        |cm AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
        |       FROM ss a JOIN ss b ON a.sg = b.sg AND a.source < b.source GROUP BY 1, 2)
        |SELECT src_a, src_b, n_common,
        |  round(CAST(n_common AS DOUBLE)/(za.n + zb.n - n_common), 6) AS jaccard
        |FROM cm JOIN sz za ON za.source = cm.src_a JOIN sz zb ON zb.source = cm.src_b
        |ORDER BY 1, 2""".stripMargin,

    // q80: q26's quality expression, one running-sum window over the
    // (q DESC, doc_id) total order, integer-div budget — all exact.
    "q80_budget_select" ->
      """WITH f AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS BIGINT) AS nt,
        |    CAST(length(text) AS DOUBLE) AS nc,
        |    CAST(length(regexp_replace(text, '[a-zA-Z ]', '', 'g')) AS DOUBLE) AS nonalpha,
        |    CAST(len(list_filter(string_split(lower(text),' '),
        |          x -> list_contains(STOPWORDS, x))) AS DOUBLE) AS sw
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, source, nt, round((
        |      (CASE WHEN (CASE WHEN nt > 0 THEN nc/nt ELSE 0 END) BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END)
        |      + (CASE WHEN nc > 0 THEN (nc - nonalpha)/nc ELSE 0 END)
        |      + (CASE WHEN (CASE WHEN nt > 0 THEN sw/nt ELSE 0 END) > 0.02 THEN 1.0 ELSE 0.5 END)
        |    ) / 3.0, 4) AS q
        |  FROM f),
        |b AS (SELECT sum(nt) // 2 AS bud FROM s),
        |r AS (SELECT doc_id, source, nt,
        |        sum(nt) OVER (ORDER BY q DESC, doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM s)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN cum <= bud THEN 1 ELSE 0 END) AS BIGINT) AS n_sel,
        |  CAST(sum(CASE WHEN cum <= bud THEN nt ELSE 0 END) AS BIGINT) AS tok_sel
        |FROM r CROSS JOIN b GROUP BY 1 ORDER BY 1""".stripMargin,

    // q81: q14's normalization (200-char prefix key), q69's rules, q26's
    // quality expression and q80's greedy selection composed end to end —
    // each fragment mirrors its standalone oracle 1:1.
    "q81_curation_funnel" ->
      """WITH f AS (
        |  SELECT doc_id, source, text,
        |    CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS BIGINT) AS nt,
        |    CAST(len(list_distinct(list_filter(string_split(text,' '), x -> x <> ''))) AS BIGINT) AS ndis,
        |    CAST(length(text) AS BIGINT) AS nc,
        |    CAST(length(replace(text,' ','')) AS BIGINT) AS nsc,
        |    CAST(len(list_filter(string_split(lower(text),' '),
        |          x -> list_contains(STOPWORDS, x))) AS BIGINT) AS sw
        |  FROM documents),
        |s AS (SELECT *, round((
        |      (CASE WHEN (CASE WHEN nt > 0 THEN CAST(nc AS DOUBLE)/nt ELSE 0 END) BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END)
        |      + (CASE WHEN nc > 0 THEN (CAST(nc AS DOUBLE) - length(regexp_replace(text, '[a-zA-Z ]', '', 'g')))/nc ELSE 0 END)
        |      + (CASE WHEN (CASE WHEN nt > 0 THEN CAST(sw AS DOUBLE)/nt ELSE 0 END) > 0.02 THEN 1.0 ELSE 0.5 END)
        |    ) / 3.0, 4) AS q,
        |    (row_number() OVER (PARTITION BY substr(lower(trim(text)), 1, 200) ORDER BY doc_id) = 1) AS keep1
        |  FROM f),
        |k AS (SELECT *, keep1 AND nc >= 100 AND NOT (10*ndis < 3*nt) AND sw >= 2
        |        AND NOT (nsc < 3*nt OR nsc > 12*nt) AS keep2 FROM s),
        |b AS (SELECT sum(CASE WHEN keep2 THEN nt ELSE 0 END) // 2 AS bud FROM k),
        |r AS (SELECT doc_id, source, nt,
        |        sum(nt) OVER (ORDER BY q DESC, doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM k WHERE keep2),
        |sel AS (SELECT r.source, count(*) AS n_selected, CAST(sum(r.nt) AS BIGINT) AS tok_selected
        |        FROM r CROSS JOIN b WHERE cum <= bud GROUP BY 1)
        |SELECT k.source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN keep1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup,
        |  CAST(sum(CASE WHEN keep2 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
        |  coalesce(any_value(sel.n_selected), 0) AS n_selected,
        |  coalesce(any_value(sel.tok_selected), 0) AS tok_selected
        |FROM k LEFT JOIN sel ON k.source = sel.source
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q82: q28's bigram construction + q77's digit-gap surprisal, lifted
    // to the conditional count pair (left-context, bigram).
    "q82_bigram_surprisal" ->
      """WITH t AS (SELECT doc_id, source, list_filter(string_split(text,' '), x -> x <> '') AS tk FROM documents),
        |e AS (SELECT doc_id, source, unnest([tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))]) AS bg FROM t),
        |p AS (SELECT doc_id, source, string_split(bg, ' ')[1] AS l, bg FROM e),
        |c1 AS (SELECT l, count(*) AS c FROM p GROUP BY 1),
        |c2 AS (SELECT bg, count(*) AS c FROM p GROUP BY 1),
        |d AS (SELECT p.doc_id, any_value(p.source) AS source, count(*) AS n_bg,
        |        sum(length(CAST(c1.c AS VARCHAR)) - length(CAST(c2.c AS VARCHAR))) AS sur
        |      FROM p JOIN c1 USING (l) JOIN c2 USING (bg) GROUP BY 1)
        |SELECT doc_id, source, n_bg, round(CAST(sur AS DOUBLE)/n_bg, 4) AS surp
        |FROM d ORDER BY surp DESC, doc_id LIMIT 20""".stripMargin,

    // q83: the engine PNG-encodes a deterministic per-doc grayscale image
    // from the text bytes and DECODES it back through real javax.imageio;
    // the oracle reproduces the decoded width/height/pixel-sum from first
    // principles (PNG gray is lossless), making the real-codec path
    // hash-checkable without DuckDB ever touching an image.
    // PRECONDITION: ASCII corpus (engine indexes bytes, this SQL indexes
    // chars — equal only when bytes == chars; see Pipeline.q83 scaladoc).
    // Empty text yields all-zero pixels on both sides.
    "q83_codec_roundtrip" ->
      """SELECT doc_id,
        |  CAST(4 + doc_id % 13 AS INTEGER) AS width,
        |  CAST(4 + doc_id % 11 AS INTEGER) AS height,
        |  CAST(list_sum([CASE WHEN len(text) = 0 THEN 0
        |                 ELSE ord(substr(text, CAST(i % len(text) AS INT) + 1, 1)) % 128 END
        |                 FOR i IN range(0, (4 + doc_id % 13) * (4 + doc_id % 11))]) AS BIGINT) AS px_sum
        |FROM documents ORDER BY doc_id""".stripMargin,

    // q147: nearest-neighbor 8x8 resample of q83's image AFTER the codec
    // roundtrip — src pixel index = (ti*h//8)*w + (tj*w//8), flattened as
    // i = ti*8 + tj; same byte==char assumption as q83.
    "q147_mm_resize" ->
      """SELECT doc_id,
        |  CAST(4 + doc_id % 13 AS INTEGER) AS src_w,
        |  CAST(4 + doc_id % 11 AS INTEGER) AS src_h,
        |  CAST(list_sum([CASE WHEN len(text) = 0 THEN 0
        |    ELSE ord(substr(text, CAST((((i // 8) * (4 + doc_id % 11) // 8) * (4 + doc_id % 13)
        |      + ((i % 8) * (4 + doc_id % 13) // 8)) % len(text) AS INT) + 1, 1)) % 128 END
        |    FOR i IN range(0, 64)]) AS BIGINT) AS r_px_sum
        |FROM documents ORDER BY doc_id""".stripMargin,

    // q148: strided frame sampling over the deterministic container —
    // nf = 2+id%5 frames of w*h pixels; flattened index i has
    // f = i // (w*h), pos = i % (w*h); frame f's pixel =
    // (byte % 128 + f) % 128; stride 2 keeps even f.
    "q148_mm_frame_sample" ->
      """SELECT doc_id,
        |  CAST(2 + doc_id % 5 AS INTEGER) AS n_frames,
        |  CAST((2 + doc_id % 5 + 1) // 2 AS INTEGER) AS n_sampled,
        |  CAST(list_sum([CASE WHEN (i // ((4 + doc_id % 13) * (4 + doc_id % 11))) % 2 = 0 THEN
        |      (CASE WHEN len(text) = 0 THEN 0
        |        ELSE ord(substr(text, CAST((i % ((4 + doc_id % 13) * (4 + doc_id % 11))) % len(text) AS INT) + 1, 1)) % 128 END
        |       + i // ((4 + doc_id % 13) * (4 + doc_id % 11))) % 128
        |    ELSE 0 END
        |    FOR i IN range(0, (2 + doc_id % 5) * (4 + doc_id % 13) * (4 + doc_id % 11))]) AS BIGINT) AS s_px_sum
        |FROM documents ORDER BY doc_id""".stripMargin,

    // q149: strided PCM16 waveform census — n = 256 + id%7*32 samples,
    // s_i = char%128 - 64, every 3rd kept; abs-sum and max recomputed
    // from first principles (PCM16 lossless, integer index math). Same
    // ASCII byte==char precondition as q83.
    "q149_mm_audio" ->
      """SELECT doc_id,
        |  CAST(256 + (doc_id % 7) * 32 AS BIGINT) AS n_samples,
        |  CAST((256 + (doc_id % 7) * 32 + 2) // 3 AS BIGINT) AS n_resampled,
        |  CAST(list_sum([abs(CASE WHEN len(text) = 0 THEN 0
        |    ELSE ord(substr(text, CAST(i % len(text) AS INT) + 1, 1)) % 128 - 64 END)
        |    FOR i IN range(0, CAST(256 + (doc_id % 7) * 32 AS BIGINT), 3)]) AS BIGINT) AS rs_abs_sum,
        |  CAST(list_max([CASE WHEN len(text) = 0 THEN 0
        |    ELSE ord(substr(text, CAST(i % len(text) AS INT) + 1, 1)) % 128 - 64 END
        |    FOR i IN range(0, CAST(256 + (doc_id % 7) * 32 AS BIGINT), 3)]) AS BIGINT) AS rs_max
        |FROM documents ORDER BY doc_id""".stripMargin,

    // q150: the greedy per-shard packing fold replayed as a recursive CTE
    // (rn-ordered self-join carries (nseq, run) forward); shard/skey and
    // tokenization reuse q134's expressions verbatim so the order can
    // never drift between census and packer.
    "q150_sequence_packing" ->
      """WITH RECURSIVE k AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS BIGINT) AS n_tok,
        |    CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), ':graft-shuffle')), 1, 12)) AS BIGINT) AS skey
        |  FROM documents),
        |o AS (
        |  SELECT skey % 8 AS shard, least(n_tok, 512) AS eff,
        |    CASE WHEN n_tok > 512 THEN 1 ELSE 0 END AS tr,
        |    row_number() OVER (PARTITION BY skey % 8 ORDER BY skey, doc_id) AS rn
        |  FROM k),
        |p AS (
        |  SELECT shard, rn, eff, tr, CAST(1 AS BIGINT) AS nseq, eff AS run
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.shard, o.rn, o.eff, o.tr,
        |    CASE WHEN p.run + o.eff > 512 THEN p.nseq + 1 ELSE p.nseq END,
        |    CASE WHEN p.run + o.eff > 512 THEN o.eff ELSE p.run + o.eff END
        |  FROM p JOIN o ON o.shard = p.shard AND o.rn = p.rn + 1)
        |SELECT shard, count(*) AS n_docs,
        |  CAST(max(nseq) AS BIGINT) AS n_seqs,
        |  CAST(sum(eff) AS BIGINT) AS tok_eff,
        |  CAST(max(nseq) * 512 - sum(eff) AS BIGINT) AS pad_waste,
        |  CAST(sum(tr) AS BIGINT) AS n_trunc
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,

    // q151: q150's recursive fold, emitted per document — seq is the
    // carried nseq, off is the run BEFORE this doc (run - eff).
    "q151_sequence_assignment" ->
      """WITH RECURSIVE k AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS BIGINT) AS n_tok,
        |    CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), ':graft-shuffle')), 1, 12)) AS BIGINT) AS skey
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, skey % 8 AS shard, least(n_tok, 512) AS eff,
        |    row_number() OVER (PARTITION BY skey % 8 ORDER BY skey, doc_id) AS rn
        |  FROM k),
        |p AS (
        |  SELECT doc_id, shard, rn, eff, CAST(1 AS BIGINT) AS nseq, eff AS run
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.doc_id, o.shard, o.rn, o.eff,
        |    CASE WHEN p.run + o.eff > 512 THEN p.nseq + 1 ELSE p.nseq END,
        |    CASE WHEN p.run + o.eff > 512 THEN o.eff ELSE p.run + o.eff END
        |  FROM p JOIN o ON o.shard = p.shard AND o.rn = p.rn + 1)
        |SELECT doc_id, shard, nseq AS seq,
        |  CAST(run - eff AS BIGINT) AS off, CAST(eff AS BIGINT) AS eff
        |FROM p ORDER BY doc_id""".stripMargin,

    // q152: q151's fold joined back to text — per (shard, seq) the md5 of
    // the offset-ordered, truncation-applied, space-joined token stream.
    "q152_sequence_digest" ->
      """WITH RECURSIVE k AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS BIGINT) AS n_tok,
        |    CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), ':graft-shuffle')), 1, 12)) AS BIGINT) AS skey
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, skey % 8 AS shard, least(n_tok, 512) AS eff,
        |    row_number() OVER (PARTITION BY skey % 8 ORDER BY skey, doc_id) AS rn
        |  FROM k),
        |p AS (
        |  SELECT doc_id, shard, rn, eff, CAST(1 AS BIGINT) AS nseq, eff AS run
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.doc_id, o.shard, o.rn, o.eff,
        |    CASE WHEN p.run + o.eff > 512 THEN p.nseq + 1 ELSE p.nseq END,
        |    CASE WHEN p.run + o.eff > 512 THEN o.eff ELSE p.run + o.eff END
        |  FROM p JOIN o ON o.shard = p.shard AND o.rn = p.rn + 1),
        |f AS (
        |  SELECT p.shard, p.nseq AS seq, p.run - p.eff AS off, p.eff,
        |    array_to_string(list_slice(list_filter(string_split(d.text,' '), x -> x <> ''), 1, CAST(p.eff AS INT)), ' ') AS frag
        |  FROM p JOIN documents d USING (doc_id))
        |SELECT shard, seq, count(*) AS n_docs, CAST(sum(eff) AS BIGINT) AS n_tok,
        |  md5(string_agg(frag, ' ' ORDER BY off)) AS digest
        |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q153: the write→read-back form answers q152's question verbatim —
    // the stored streams must carry the same digests and token counts.
    "q153_packed_readback" ->
      """WITH RECURSIVE k AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS BIGINT) AS n_tok,
        |    CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), ':graft-shuffle')), 1, 12)) AS BIGINT) AS skey
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, skey % 8 AS shard, least(n_tok, 512) AS eff,
        |    row_number() OVER (PARTITION BY skey % 8 ORDER BY skey, doc_id) AS rn
        |  FROM k),
        |p AS (
        |  SELECT doc_id, shard, rn, eff, CAST(1 AS BIGINT) AS nseq, eff AS run
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.doc_id, o.shard, o.rn, o.eff,
        |    CASE WHEN p.run + o.eff > 512 THEN p.nseq + 1 ELSE p.nseq END,
        |    CASE WHEN p.run + o.eff > 512 THEN o.eff ELSE p.run + o.eff END
        |  FROM p JOIN o ON o.shard = p.shard AND o.rn = p.rn + 1),
        |f AS (
        |  SELECT p.shard, p.nseq AS seq, p.run - p.eff AS off, p.eff,
        |    array_to_string(list_slice(list_filter(string_split(d.text,' '), x -> x <> ''), 1, CAST(p.eff AS INT)), ' ') AS frag
        |  FROM p JOIN documents d USING (doc_id))
        |SELECT shard, seq, count(*) AS n_docs, CAST(sum(eff) AS BIGINT) AS n_tok,
        |  md5(string_agg(frag, ' ' ORDER BY off)) AS digest
        |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q154: q152's oracle restricted to the served shard — the stored
    // shard's streams must carry exactly the digests the assembly
    // implies for that shard, nothing more or less.
    "q154_packed_shard_serve" ->
      """WITH RECURSIVE k AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS BIGINT) AS n_tok,
        |    CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), ':graft-shuffle')), 1, 12)) AS BIGINT) AS skey
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, skey % 8 AS shard, least(n_tok, 512) AS eff,
        |    row_number() OVER (PARTITION BY skey % 8 ORDER BY skey, doc_id) AS rn
        |  FROM k),
        |p AS (
        |  SELECT doc_id, shard, rn, eff, CAST(1 AS BIGINT) AS nseq, eff AS run
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.doc_id, o.shard, o.rn, o.eff,
        |    CASE WHEN p.run + o.eff > 512 THEN p.nseq + 1 ELSE p.nseq END,
        |    CASE WHEN p.run + o.eff > 512 THEN o.eff ELSE p.run + o.eff END
        |  FROM p JOIN o ON o.shard = p.shard AND o.rn = p.rn + 1),
        |f AS (
        |  SELECT p.shard, p.nseq AS seq, p.run - p.eff AS off, p.eff,
        |    array_to_string(list_slice(list_filter(string_split(d.text,' '), x -> x <> ''), 1, CAST(p.eff AS INT)), ' ') AS frag
        |  FROM p JOIN documents d USING (doc_id))
        |SELECT shard, seq, count(*) AS n_docs, CAST(sum(eff) AS BIGINT) AS n_tok,
        |  md5(string_agg(frag, ' ' ORDER BY off)) AS digest
        |FROM f WHERE shard = 3 GROUP BY 1, 2 ORDER BY 2""".stripMargin,

    // q155: on the static gate corpus the epoch layout is exactly one
    // epoch (0) holding q152/q153's packing — same digests and token
    // counts, with the epoch column pinned to 0.
    "q155_packed_epochs" ->
      """WITH RECURSIVE k AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS BIGINT) AS n_tok,
        |    CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), ':graft-shuffle')), 1, 12)) AS BIGINT) AS skey
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, skey % 8 AS shard, least(n_tok, 512) AS eff,
        |    row_number() OVER (PARTITION BY skey % 8 ORDER BY skey, doc_id) AS rn
        |  FROM k),
        |p AS (
        |  SELECT doc_id, shard, rn, eff, CAST(1 AS BIGINT) AS nseq, eff AS run
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.doc_id, o.shard, o.rn, o.eff,
        |    CASE WHEN p.run + o.eff > 512 THEN p.nseq + 1 ELSE p.nseq END,
        |    CASE WHEN p.run + o.eff > 512 THEN o.eff ELSE p.run + o.eff END
        |  FROM p JOIN o ON o.shard = p.shard AND o.rn = p.rn + 1),
        |f AS (
        |  SELECT p.shard, p.nseq AS seq, p.run - p.eff AS off, p.eff,
        |    array_to_string(list_slice(list_filter(string_split(d.text,' '), x -> x <> ''), 1, CAST(p.eff AS INT)), ' ') AS frag
        |  FROM p JOIN documents d USING (doc_id))
        |SELECT shard, seq, CAST(0 AS BIGINT) AS epoch, count(*) AS n_docs,
        |  CAST(sum(eff) AS BIGINT) AS n_tok,
        |  md5(string_agg(frag, ' ' ORDER BY off)) AS digest
        |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q84: row-local repeated-trigram fraction in integer basis points;
    // the oracle builds the same trigrams with a list comprehension.
    "q84_repetition" ->
      """WITH w AS (SELECT doc_id, source, list_filter(string_split(text,' '), x -> x <> '') AS tk FROM documents),
        |t AS (SELECT doc_id, source,
        |        CASE WHEN len(tk) >= 3
        |          THEN [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] FOR i IN range(1, len(tk)-1)]
        |          ELSE [] END AS tgs
        |      FROM w),
        |d AS (SELECT doc_id, source, len(tgs) AS n_tg, len(list_distinct(tgs)) AS n_uq FROM t),
        |s AS (SELECT doc_id, source,
        |        CASE WHEN n_tg > 0 THEN (n_tg - n_uq) * 10000 // n_tg ELSE 0 END AS rep_bp
        |      FROM d)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN rep_bp >= 2000 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |  round(CAST(sum(rep_bp) AS DOUBLE)/count(*), 4) AS rep_avg
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,

    // q85: per-source total-variation drift vs the corpus distribution,
    // exact integer basis-point shares (DIV == // on non-negative counts).
    "q85_source_drift" ->
      """WITH tok AS (SELECT source, unnest(list_filter(string_split(text,' '), x -> x <> '')) AS w FROM documents),
        |sc AS (SELECT source, w, count(*) AS c FROM tok GROUP BY 1,2),
        |st AS (SELECT source, sum(c) AS t FROM sc GROUP BY 1),
        |cc AS (SELECT w, sum(c) AS cw FROM sc GROUP BY 1),
        |ct AS (SELECT sum(cw) AS tc FROM cc),
        |grid AS (SELECT st.source, st.t, cc.w, cc.cw FROM st CROSS JOIN cc),
        |j AS (SELECT g.source, g.t, g.cw, coalesce(sc.c, 0) AS c
        |      FROM grid g LEFT JOIN sc ON sc.source = g.source AND sc.w = g.w)
        |SELECT j.source, CAST(any_value(j.t) AS BIGINT) AS n_tok,
        |  CAST(sum(abs(c*10000 // t - cw*10000 // ct.tc)) AS BIGINT) AS tv_bp
        |FROM j CROSS JOIN ct GROUP BY 1 ORDER BY 1""".stripMargin,

  ).map { case (k, v) => k -> v.replace("STOPWORDS",
    "['the','a','an','and','of','to','in','is','on','for']") }

}
