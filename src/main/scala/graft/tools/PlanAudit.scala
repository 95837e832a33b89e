package graft.tools

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.Lanes
import graft.streaming.StreamingQueries

/** Prints the EXECUTED-plan audit for EVERY registered query: scan
  * pushdown, join strategies, exchange counts, codegen coverage.
  *
  * Batch queries are executed through their own QueryExecution
  * (`executedPlan.executeCollect()`), so the audited string is the
  * FINAL adaptive plan — after AQE re-planning, exchange reuse, and
  * codegen — not the pre-execution guess (round-2 audits printed
  * initial plans, which double-counted shared window subtrees and
  * showed wholeStage=0). The `== Initial Plan ==` section AQE appends
  * is stripped before counting.
  *
  * Streaming queries ([[graft.Lanes.streaming]]) return a drained
  * memory-sink table whose own plan is a local scan — auditing that
  * would say nothing. For those, the audit reads the stopped query the
  * lane drained, `StreamingQueries.lastDrained`, and counts nodes in its last
  * MICRO-BATCH physical plan (`StreamingQuery.explain()`) instead
  * (`final=stream` rows).
  *
  * A small assertion table pins the scale-critical shapes (e.g.
  * `pipeline_chunk` is shuffle-free, `q70_scd2` reuses ONE exchange for
  * both window passes, the funnel/anomaly small sides broadcast, the
  * custom-node lowerings of q49/q64 keep their one-shuffle / group-limit
  * shapes); every row is additionally checked for cart=0 and bnlj=0,
  * and every batch row for no cached (InMemoryTableScan) scan.
  * Any violation prints `ASSERT-FAIL` and the run exits nonzero, so a
  * plan regression cannot produce a quietly-wrong PLANS.md. Every lane
  * runs through [[graft.Lanes.run]]: a lane that throws is recorded as
  * `LANE-FAIL` and the audit goes on to the next lane; a lane whose
  * external input is absent prints `SKIP` with the reason and counts as
  * skipped, not audited.
  *
  * Run: sbt "runMain graft.tools.PlanAudit [sfDir] [--full]"
  * (`--full` prints each lane's final plan; `SPARK_GRAFT_ONLY` selects a
  * subset, as in Verify and Bench, and one that selects no lane throws).
  */
object PlanAudit {

  /** The last micro-batch's physical plan of a drained query, or "" when
    * no micro-batch ran. `StreamingQuery.explain()` prints it to
    * Console.out, so it is redirected into a string.
    */
  private def microBatchPlan(q: org.apache.spark.sql.streaming.StreamingQuery): String = {
    val bos = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(bos, true, "UTF-8"))(q.explain())
    val plan = bos.toString("UTF-8")
    if (plan.startsWith("No physical plan")) "" else plan
  }

  def main(args: Array[String]): Unit = {
    val dir = graft.Tables.dataDir(args.filterNot(_.startsWith("--")).headOption
      .getOrElse("/root/testdata/sf0.01"))
    val lanes = Lanes.selected().sortBy(_.name)
    // 4 cores whatever SPARK_GRAFT_CPUS says: shuffle partitions = cores,
    // and the rows (aqeRead, exchange reuse) depend on the partition
    // count, so an audit on any machine compares byte for byte with
    // PLANS.md
    val spark = graft.GraftSession(cpus = 4)

    // shape assertions: name -> (label, metrics => ok). `ex` = exchanges
    // excluding broadcast+reused (true shuffles), split into `hx` (hash —
    // real data movement for joins/aggs/windows) and `rx` (range — the
    // deterministic output orderBy every oracle-compared query carries;
    // a production writer would drop it or sortWithinPartitions).
    val asserts: Map[String, Seq[(String, Map[String, Int] => Boolean)]] = Map(
      // chunking is pure posexplode over the scan — zero HASH shuffles;
      // the single range exchange is the harness-determinism output sort
      "pipeline_chunk" -> Seq(("no-hash-shuffle", m => m("hx") == 0)),
      // both window passes partition by o_custkey: ONE hash exchange
      // feeds BOTH Window operators (the second reuses the first's
      // sort/partitioning); +1 range exchange for the output sort
      "q70_scd2" -> Seq(("one-hash-exchange", m => m("hx") == 1)),
      // moments/signup sides are tiny aggregates: broadcast, never SMJ,
      // so the big events table is not shuffled for the join
      "q71_funnel" -> Seq(("broadcast-not-smj", m => m("bhj") >= 1 && m("smj") == 0)),
      "q72_anomaly" -> Seq(("broadcast-not-smj", m => m("bhj") >= 1 && m("smj") == 0)),
      // custom-node lowerings: the analyzer rules cannot be skipped
      // (the nodes never resolve without them) — these pin the lowered
      // SHAPE: as-of = union + ONE hash shuffle, no join; top-k = the
      // WindowGroupLimit physical pushdown actually firing
      "q49_asof_custom_op" -> Seq(
        ("one-hash-shuffle-no-join", m => m("hx") == 1 && m("smj") == 0 && m("bhj") == 0)),
      "q18_asof_join" -> Seq(
        ("one-hash-shuffle-no-join", m => m("hx") == 1 && m("smj") == 0 && m("bhj") == 0)),
      "q64_topk_custom_op" -> Seq(("window-group-limit", m => m("wgl") >= 1)),
      // static dim broadcast: the stream side is never shuffled
      "stream_static_join" -> Seq(
        ("broadcast-static-side", m => m("bex") >= 1 && m("ex") == 0)),
      // append-mode windowed agg: real stateful operator in the
      // micro-batch plan (StateStoreSave), no join machinery
      "stream_append_windows" -> Seq(
        ("stateful-agg", m => m("stateOps") >= 1 && m("smj") == 0)),
      // r15 restructure: count/min/max in one plain scan + the exact
      // distincts in one Expand-free explode-distinct scan (never one
      // pass per column), joined back by broadcast — the multi-distinct
      // Expand×6 → Sort → SortAggregate shape this replaced was the
      // suite's most expensive batch lane (7.6 s → 2.1 s at sf0.1)
      "q74_dq_profile" -> Seq(
        ("no-expand-two-scan-broadcast",
          m => m("expand") == 0 && m("scans") == 2 &&
            m("bhj") >= 1 && m("smj") == 0)),
      // the approx twin's PRODUCTION scan has NO Expand (HLL sketches,
      // not multi-distinct); the second scan is the exact-bracket
      // verification pass, joined back by broadcast — never SMJ
      "q74b_dq_profile_approx" -> Seq(
        ("no-expand-broadcast-bracket",
          m => m("expand") == 0 && m("scans") == 2 &&
            m("bhj") >= 1 && m("smj") == 0)),
      // r9 rewrite: the per-stratum median is a two-pass histogram rank
      // — NO row_number window over whole strata, NO single-partition
      // exchange anywhere in the plan
      "q118_dataset_card" -> Seq(
        ("two-pass-median-no-stratum-sort",
          m => m("rownum") == 0 && m("spx") == 0)),
      // r9 rewrite: decile assignment is the distributed range-bucket
      // prefix-sum rank (row_number partitioned by bucket) — the global
      // ntile is GONE. The only single-partition exchanges left feed
      // BOUNDED mini-frames: the ≤33-row bucket-offset prefix window
      // and the 10-row post-aggregation share/cum stage — never the
      // |users|-scale frame (that one rides the bkt-partitioned rank)
      "q120_decile_lift" -> Seq(
        ("distributed-rank-not-global-ntile",
          m => m("ntile") == 0 && m("rownum") >= 1 && m("spx") <= 2)),
      // FK rules are anti-joins against broadcast key sets; the fact
      // tables are never SMJ-shuffled for the checks
      "q75_dq_checks" -> Seq(
        ("broadcast-fk-antijoins", m => m("bhj") >= 2 && m("smj") == 0)),
      // triangle counting via adjacency intersection: the per-edge
      // array_intersect joins must broadcast the |V|-row adjacency
      // sides — the edge table is never reshuffled after its build, and
      // the ~100M-row wedge intermediate of the naive e1⋈e2⋈e3 form
      // never exists (that form measured 58 s at sf0.1; this one ~5 s).
      // The edge build (r15: group-by-order + within-group pair
      // explode, no self-join — guide §2.4) must stay IN the audited
      // plan and be REUSED across its four consumers, not hidden behind
      // a checkpoint where cart=0/bnlj=0 couldn't see it; the only
      // joins left are the two adjacency broadcasts
      "q77_triangle_count" -> Seq(
        ("adjacency-broadcast", m => m("bhj") >= 2 && m("cart") == 0),
        ("edge-build-grouped-and-reused",
          m => m("smj") == 0 && m("reused") >= 1)),
      // z-order layout: the main scan plus the 2-column max-stats pass
      // (its one-row result scalar-attaches via broadcast); the Morton
      // projection stays inside whole-stage codegen — never a real join
      "q88_zorder_layout" -> Seq(
        ("two-scans-no-join", m => m("scans") == 2 && m("smj") == 0)),
      // heavy hitters verify scan: it must read the CHECKPOINTED token
      // frame (scans=0 — re-tokenizing parquet would show a scan) and
      // aggregate the IN-filtered candidates with one hash shuffle
      "sketch_heavy_hitters" -> Seq(
        ("verify-on-checkpoint", m => m("scans") == 0 && m("hx") == 1)),
      // stream-stream LEFT OUTER join: real symmetric-hash join state
      // in the micro-batch plan
      "stream_outer_join" -> Seq(
        ("symmetric-hash-state", m => m("stateOps") >= 1)),
      // gap-fill: one aggregate exchange + one window exchange (the
      // keys differ: (cust, month) vs cust), never a join — the series
      // repair is pure window + explode
      "q95_gapfill" -> Seq(
        ("two-hash-no-join", m => m("hx") == 2 && m("smj") == 0 && m("bhj") == 0)),
      // MAD cascade: the 5-row median intermediates broadcast back to
      // the event scan; the event table is never shuffle-joined
      "q96_mad_outliers" -> Seq(
        ("broadcast-medians", m => m("bhj") >= 2 && m("smj") == 0)),
      // batch retrieval: the needle batch is a literal explode (no join
      // operator of any kind); the bounded-heap aggregator's partial/
      // final split leaves exactly ONE hash exchange
      "sim_topk_batch" -> Seq(
        ("explode-not-join-one-shuffle",
          m => m("hx") == 1 && m("smj") == 0 && m("bhj") == 0)),
      // two-level sliding median: one exchange for the (priority, day)
      // pre-aggregate, one for the window over daily lists — never a
      // join, and never a row-level frame collect
      "q97_rolling_median" -> Seq(
        ("two-hash-no-join",
          m => m("hx") == 2 && m("smj") == 0 && m("bhj") == 0)),
      // the sketch flip keeps the identical two-level shape — per-day
      // partial (sketch instead of list) then one window pass; the
      // bracket verification rides the SAME window, adding no shuffle
      "q97b_rolling_median_kll" -> Seq(
        ("two-hash-no-join",
          m => m("hx") == 2 && m("smj") == 0 && m("bhj") == 0)),
      // dynamic-gap session windows: real session-window state operator
      "stream_session_dynamic" -> Seq(
        ("session-state", m => m("stateOps") >= 1)),
      // weighted priority sample: global top-k stays a 0-shuffle
      // TakeOrderedAndProject over the codegen priority projection
      "pipeline_sample_weighted" -> Seq(
        ("take-ordered-0-shuffle", m => m("takeOrdered") >= 1 && m("ex") == 0)),
      // global top-k must stay a 0-shuffle TakeOrderedAndProject
      "q21_global_topk" -> Seq(
        ("take-ordered-0-shuffle", m => m("takeOrdered") >= 1 && m("ex") == 0)),
      // skip-gram pairs are a pure per-row expansion: the ONLY hash
      // shuffle is the final count groupBy (partial agg before it)
      "text_skipgram" -> Seq(("single-hash-shuffle", m => m("hx") == 1)),
      // cell-blocked radius join: the neighborhood probe must be an
      // EQUI-join on the cell id (any join operator but never a
      // nested-loop/cartesian pair scan — that would be the O(N²)
      // all-pairs form the blocking exists to avoid)
      "q113_geo_cell_join" -> Seq(
        ("cell-equi-join",
          m => m("bhj") + m("smj") + m("shj") >= 1 && m("bnlj") == 0)),
      // bitemporal snapshot: rn=1 lowers to WindowGroupLimit
      // (partial+final), and the tx-horizon attach is the whitelisted
      // one-row broadcast BNLJ
      "q116_point_in_time" -> Seq(
        ("group-limit-lowered", m => m("wgl") >= 1)),
      // DP contribution bound: the rn<=K cap lowers to WindowGroupLimit
      // — the full per-user history is never sorted past the cap
      "q117_dp_contribution" -> Seq(
        ("group-limit-lowered", m => m("wgl") >= 1)),
      // attribution is one window pass on user_id + the tiny post-filter
      // groupBy — the event table is hash-shuffled exactly once, and
      // there is no self-join (smj=bhj=0)
      "q84_attribution" -> Seq(
        ("window-pass-no-join", m => m("hx") == 2 && m("smj") == 0 && m("bhj") == 0)),
      // skew profile: per-key counts reused (checkpointed) for both the
      // top-10 (TakeOrderedAndProject) and the one-row totals; the only
      // BNLJ is the single-row broadcast scalar-attach
      "q86_skew_profile" -> Seq(
        ("take-ordered-scalar-attach", m => m("takeOrdered") >= 1 && m("cart") == 0)),
      // TWAP: daily agg, lead() window, and final agg all partition by
      // l_suppkey — two hash exchanges total (agg + window share one),
      // never a join
      "q87_twap" -> Seq(
        ("supplier-partitioned-no-join", m => m("hx") == 2 && m("smj") == 0 && m("bhj") == 0)),
      // the DSv2 connector query reads NO parquet — its BatchScan is the
      // synthetic source with the id-range absorbed (spec-pinned in
      // SyntheticSourceSpec); no post-scan re-filter of pushed ranges
      "q83_custom_source" -> Seq(("v2-source-not-parquet", m => m("scans") == 0)),
      // merge = ONE full-outer join on the merge key, no extra shuffle
      // of either side beyond the join's own partitioning
      "q80_merge_upsert" -> Seq(("single-join", m => m("smj") + m("bhj") + m("shj") == 1)),
      // row-pattern CEP: one hash shuffle on the key feeding the sorted
      // constant-memory matcher pass — never a join, never a global sort
      // beyond the harness output rx
      "q101_row_pattern" -> Seq(
        ("one-hash-shuffle-no-join",
          m => m("hx") == 1 && m("smj") == 0 && m("bhj") == 0)),
      "q105_click_burst" -> Seq(
        ("one-hash-shuffle-no-join",
          m => m("hx") == 1 && m("smj") == 0 && m("bhj") == 0)),
      // SKIP TO NEXT ROW mode: the overlap bookkeeping lives inside the
      // matcher (run-start buffer), so the PLAN is identical to q101/q105
      "q106_click_trails" -> Seq(
        ("one-hash-shuffle-no-join",
          m => m("hx") == 1 && m("smj") == 0 && m("bhj") == 0)),
      // streaming CEP: real TransformWithState operator in the
      // micro-batch plan, no join machinery
      "stream_row_pattern" -> Seq(
        ("transform-with-state", m => m("stateOps") >= 1 && m("smj") == 0)),
      // PSI drift: one bucket shuffle into a ≤12-row aggregate; totals
      // ride a window over those rows, never a scalar-attach join
      "emb_drift_psi" -> Seq(
        ("one-hash-no-join", m => m("hx") == 1 && m("smj") == 0 && m("bhj") == 0)),
      // sketch set-ops: per-user flags (1 hash) + global agg — no join
      "q102_hll_setops" -> Seq(
        ("one-hash-no-join", m => m("hx") == 1 && m("smj") == 0 && m("bhj") == 0)),
      // range-split planning: one scan, one sort-agg, never a join
      "q104_range_split" -> Seq(
        ("single-scan-no-join", m => m("scans") == 1 && m("smj") == 0 && m("bhj") == 0)),
      // exact AUC (r9): the heavy passes are the user aggregate and the
      // score-histogram aggregate — exactly two hash shuffles, never a
      // join, and NO per-row global rank (rownum=0/ntile=0 is the whole
      // point of the histogram rank-sum form); the single-partition
      // exchanges feed only histogram rows + the final 1-row fold
      "q122_auc" -> Seq(
        ("histogram-rank-sum",
          m => m("hx") == 2 && m("smj") == 0 && m("bhj") == 0 &&
            m("rownum") == 0 && m("ntile") == 0)),
      // calibration: user aggregate + ≤20-bin aggregate — two hash
      // shuffles; the ECE windows ride the bin rows only, never a join
      "q123_calibration" -> Seq(
        ("two-aggs-bin-windows",
          m => m("hx") == 2 && m("smj") == 0 && m("bhj") == 0 &&
            m("rownum") == 0 && m("ntile") == 0)),
      // Kaplan–Meier: user aggregate + duration-histogram aggregate —
      // two hash shuffles; risk-set window + KM fold touch histogram
      // rows only (distinct minutes), never a join or per-user rank
      "q124_survival_km" -> Seq(
        ("two-aggs-histogram-fold",
          m => m("hx") == 2 && m("smj") == 0 && m("bhj") == 0 &&
            m("rownum") == 0 && m("ntile") == 0)),
      // mixture weights: ONE corpus aggregate on the stratum key; the
      // share windows move only stratum rows (dozens) — no join
      "pipeline_mixture_weights" -> Seq(
        ("one-agg-stratum-windows",
          m => m("hx") == 1 && m("smj") == 0 && m("bhj") == 0)),
      // upsample: the dozens-row mixture table BROADCASTS onto the doc
      // scan (never an SMJ of the corpus) and the copy explosion is
      // narrow — no hash shuffle beyond the shared stratum aggregate
      "pipeline_upsample_repeat" -> Seq(
        ("broadcast-mixture-narrow-explode",
          m => m("hx") == 1 && m("bhj") >= 1 && m("smj") == 0)),
      // URL canonicalization dedup (r10): one narrow codegen pass over
      // the scan, then the two-exchange distinct-count aggregate on the
      // canonical key — never a join; the rx is the oracle order
      "dedup_url" -> Seq(
        ("narrow-canonicalize-one-agg",
          m => m("scans") == 1 && m("hx") == 2 &&
            m("smj") == 0 && m("bhj") == 0)),
      // cross-doc line dedup (r10): single-scan form — the exploded line
      // stream is checkpointed (scans=0: both consumers read the
      // checkpoint, the parquet scan happens once at checkpoint build),
      // hot lines broadcast back as a flag (bhj, never an smj of the
      // corpus), totals + kept text fold in one doc aggregate
      "pipeline_line_dedup" -> Seq(
        ("checkpoint-broadcast-hot-one-fold",
          m => m("scans") == 0 && m("bhj") >= 1 && m("smj") == 0 &&
            m("hx") <= 3)),
      // IVF-PQ ANN (r10): the whole index path is ONE corpus scan of
      // narrow kernel work (fused coarse-assign + residual-encode, LUT
      // scoring) — zero exchanges of any kind; shortlist and exact
      // re-rank are TakeOrderedAndProject (bounded driver results)
      "sim_ann_ivfpq" -> Seq(
        ("one-scan-zero-shuffle-topk",
          m => m("scans") == 1 && m("ex") == 0 && m("hx") == 0 &&
            m("smj") == 0 && m("bhj") == 0 && m("takeOrdered") >= 2)),
      // fuzzy eval decontamination (r10): the eval side is benchmark-
      // sized, so candidate generation AND both verify attaches are
      // broadcast joins — the corpus band stream is never SMJ-shuffled
      "pipeline_contamination_fuzzy" -> Seq(
        ("eval-side-broadcast-no-smj",
          m => m("bhj") >= 3 && m("smj") == 0)),
      // per-domain cap (r10): top-k-per-group with the row_number≤k
      // filter compiled to WindowGroupLimit BOTH map-side (partial) and
      // post-shuffle (final) — a hot domain ships k rows per input
      // partition, never its full page count; one domain-keyed shuffle
      "pipeline_domain_cap" -> Seq(
        ("window-group-limit-one-shuffle",
          m => m("wgl") >= 2 && m("hx") == 1 && m("smj") == 0 &&
            m("bhj") == 0)),
      // HTML extraction (r10): pure narrow regexp/string codegen over
      // the scan — zero hash shuffles; the rx is the oracle order
      "text_html_extract" -> Seq(
        ("narrow-extract-no-shuffle",
          m => m("scans") == 1 && m("hx") == 0 && m("smj") == 0 &&
            m("bhj") == 0)),
      // JPEG decode (r10): same narrow mapPartitions shape as mm_decode
      // — one scan, no joins, no hash shuffle (rx is the oracle order)
      "mm_decode_jpeg" -> Seq(
        ("narrow-decode-no-shuffle",
          m => m("scans") == 1 && m("hx") == 0 && m("smj") == 0 &&
            m("bhj") == 0)),
      // round-12 content re-bases + the entropy-coded tier: every
      // decode lane keeps the narrow per-partition shape — content
      // bytes never shuffle, only the small feature rows (rx = the
      // oracle's deterministic output sort)
      "mm_jpeg_pixels" -> Seq(
        ("narrow-decode-no-shuffle",
          m => m("scans") == 1 && m("hx") == 0 && m("smj") == 0 &&
            m("bhj") == 0)),
      "mm_png_pixels" -> Seq(
        ("narrow-decode-no-shuffle",
          m => m("scans") == 1 && m("hx") == 0 && m("smj") == 0 &&
            m("bhj") == 0)),
      // link-graph construction: one scan, extract+explode narrow, then
      // only the edge-keyed aggregate shuffles (count-distinct adds its
      // partial stage) — never a join, page bytes never move twice
      "pipeline_link_graph" -> Seq(
        ("one-scan-agg-no-join",
          m => m("scans") == 1 && m("smj") == 0 && m("bhj") == 0 &&
            m("hx") <= 3)),
      // LM filter tier: the model/count joins are all broadcast — the
      // corpus-side bigram stream is never sort-merge shuffled for a
      // join (the 100 TB flip past broadcastability is a term-keyed
      // shuffle join, documented, not this plan)
      "text_lm_train" -> Seq(
        ("broadcast-model-no-smj", m => m("smj") == 0 && m("bhj") >= 1),
        // c_ab, c_a and V all come from ONE aggregate over ONE corpus
        // scan (the per-`a` branch reuses its exchange); a second scan
        // means Catalyst split the shared aggregate
        ("one-corpus-scan", m => m("scans") == 1)),
      "text_lm_perplexity" -> Seq(
        ("broadcast-model-no-smj", m => m("smj") == 0 && m("bhj") >= 2),
        // one scan trains the model (as in text_lm_train), one scores
        ("train-scan-plus-score-scan", m => m("scans") == 2)),
      "mm_scene_cuts" -> Seq(
        ("narrow-decode-no-shuffle",
          m => m("scans") == 1 && m("hx") == 0 && m("smj") == 0 &&
            m("bhj") == 0)),
      "mm_audio_features" -> Seq(
        ("narrow-decode-no-shuffle",
          m => m("scans") == 1 && m("hx") == 0 && m("smj") == 0 &&
            m("bhj") == 0)),
      // video tier (r12): container walk + sampled-frame JPEG decode is
      // the same narrow per-partition shape — AVI bytes never shuffle,
      // only the per-sampled-frame feature rows reach the final sort
      "mm_video_frames" -> Seq(
        ("narrow-decode-no-shuffle",
          m => m("scans") == 1 && m("hx") == 0 && m("smj") == 0 &&
            m("bhj") == 0)),
      // tokenizer apply (r12): the distinct-word path — ONE corpus-sized
      // shuffle (the word count), then the segmenter runs narrow on the
      // vocabulary-sized frame into the token aggregate; never a join
      "text_wordpiece" -> Seq(
        ("distinct-word-two-aggs-no-join",
          m => m("scans") == 1 && m("hx") == 2 && m("smj") == 0 &&
            m("bhj") == 0)),
      // unigram-LM Viterbi audit (r12): the DP runs once per DISTINCT
      // word — one corpus-sized word aggregate, then narrow UDFs over
      // the vocabulary-sized frame; no joins
      "text_unigram_lm" -> Seq(
        ("distinct-word-one-agg-no-join",
          m => m("scans") == 1 && m("hx") == 1 && m("smj") == 0 &&
            m("bhj") == 0)),
      // tokenizer fertility (r12): the vocabulary-sized segmentation
      // frame BROADCASTS back onto the per-source word counts — the
      // corpus-sized stream is never sort-merge shuffled for the join
      "text_tokenizer_fertility" -> Seq(
        ("broadcast-seg-no-smj",
          m => m("bhj") >= 1 && m("smj") == 0)),
      // Bloom decontamination (r12): the broadcast exact-verify join is
      // the only join; the might_contain prefilter lives INSIDE the
      // scan stage (no exchange of its own — spec-pinned via plan text).
      // The eval shingles are checkpointed for the Bloom build, so the
      // broadcast side reads them (scans=1: only the corpus side reads
      // parquet; a second scan would be the eval side recomputed)
      "pipeline_contamination_bloom" -> Seq(
        ("broadcast-verify-no-smj",
          m => m("bhj") >= 1 && m("smj") == 0),
        ("single-eval-scan", m => m("scans") == 1 && m("bex") == 1)),
      // snapshot diff (r12): the ONE lane where a sort-merge join is
      // the honest plan and asserted PRESENT — both sides corpus-sized
      // on the primary key, broadcast impossible by definition
      "pipeline_snapshot_diff" -> Seq(
        ("smj-is-the-honest-diff-plan",
          m => m("smj") >= 1 && m("bhj") == 0)),
      // ZIP sampled decode (r12): same one-shuffle narrow shape; the
      // random-access sampling lives inside the decode stage
      "pipeline_zip_sampled" -> Seq(
        ("one-shard-shuffle-narrow-decode",
          m => m("scans") == 1 && m("hx") == 1 && m("smj") == 0 &&
            m("bhj") == 0)),
      // WebDataset ingestion (r12): same posture as the WARC lane —
      // one scan, the fixture's shard-grouping shuffle, narrow
      // sequential decode, no joins
      "pipeline_webdataset" -> Seq(
        ("one-shard-shuffle-narrow-decode",
          m => m("scans") == 1 && m("hx") == 1 && m("smj") == 0 &&
            m("bhj") == 0)),
      // robots politeness (r12): the host-granular parsed-rule frame
      // broadcasts; the page corpus joins map-side and never shuffles
      // for the decision
      "pipeline_robots_filter" -> Seq(
        ("broadcast-rules-no-smj",
          m => m("bhj") >= 1 && m("smj") == 0)),
      // WARC ingestion (r12): one corpus scan; the ONLY hash exchange
      // is the fixture's shard-grouping shuffle (at production the
      // storage layout) — decode is a narrow mapPartitions, no joins
      "pipeline_warc_ingest" -> Seq(
        ("one-shard-shuffle-narrow-decode",
          m => m("scans") == 1 && m("hx") == 1 && m("smj") == 0 &&
            m("bhj") == 0)),
      // EXIF (r12): two-container composition keeps the family's
      // narrow shape — marker walk + independently-endian TIFF parse
      "mm_exif_meta" -> Seq(
        ("narrow-decode-no-shuffle",
          m => m("scans") == 1 && m("hx") == 0 && m("smj") == 0 &&
            m("bhj") == 0)),
      // TIFF header walk (r12): the self-declared-byte-order container
      // keeps the family's narrow shape
      "mm_decode_tiff" -> Seq(
        ("narrow-decode-no-shuffle",
          m => m("scans") == 1 && m("hx") == 0 && m("smj") == 0 &&
            m("bhj") == 0)),
      // audio transform (r12): boxcar-decimate over decoded PCM keeps
      // the family's narrow shape — one feature row per doc
      "mm_audio_resample" -> Seq(
        ("narrow-decode-no-shuffle",
          m => m("scans") == 1 && m("hx") == 0 && m("smj") == 0 &&
            m("bhj") == 0)),
      // governance tier: the delete flag is a function of each row's
      // own doc_id, so the accounting is one corpus pass with no join;
      // the only hash exchange is the 8-row shard aggregate
      "pipeline_forget" -> Seq(
        ("single-corpus-scan",
          m => m("scans") == 1 && m("bhj") == 0 && m("smj") == 0)),
      // crawl frontier (r12): the crawled-host set broadcasts into the
      // anti-join and the final budget cut is a TakeOrdered — page
      // rows shuffle only for the host-granular aggregate
      "pipeline_crawl_frontier" -> Seq(
        ("frontier-anti-broadcast-topk",
          m => m("bhj") >= 1 && m("smj") == 0 && m("takeOrdered") >= 1)),
      // MRL diagnostics (r10): one corpus scan, the 4-way ladder
      // explode, ONE m-keyed aggregate — no joins, no per-vector output
      "emb_matryoshka" -> Seq(
        ("one-scan-one-agg-no-join",
          m => m("scans") == 1 && m("hx") == 1 && m("smj") == 0 &&
            m("bhj") == 0)),
      // BM25 (r10): the query side, df table, and corpus scalars all
      // BROADCAST (the inverted-index probe never SMJ-shuffles the tf
      // table), and BOTH row_number<=k filters (query-term cut, final
      // top-k) lower to WindowGroupLimit map-side + post-shuffle
      "text_bm25" -> Seq(
        ("broadcast-probe-group-limits",
          m => m("bhj") >= 3 && m("smj") == 0 && m("wgl") >= 4 &&
            m("bnlj") <= 1))
    )

    // BroadcastNestedLoopJoin is allowed ONLY where one side is provably
    // tiny and the cross is the point: the cross-join surface query
    // itself, the one-row scalar attaches (corpus N / total counts), and
    // the two documented bounded ground-truth slices that verify the
    // approximate dedup tiers (VERDICT r4 anti-pattern audit). Each may
    // carry at most one bounded BNLJ; everything else must have none,
    // and CartesianProduct is banned everywhere.
    val boundedBnlj = Set("q26_cross_join", "text_tfidf", "pipeline_lm_score",
      "pipeline_vocab", "q71_funnel", "dedup_embedding_cosine",
      "dedup_ngram_jaccard", "dedup_containment", "text_pmi",
      "q86_skew_profile", "q88_zorder_layout",
      // the lateral table-UDF applies a 3-row VALUES bucket frame via a
      // non-equi (range) condition — a 3-row broadcast BNLJ by design
      "q91_sql_table_udf",
      // the KLL rank-verification pass broadcast-attaches the 5-row
      // estimate frame to the value column — a bounded scalar attach
      "sketch_kll_quantiles",
      // the bitemporal snapshot attaches the one-row max(event_id)
      // transaction horizon via broadcast — a bounded scalar attach
      "q116_point_in_time",
      // KMV joins its two 1-row aggregates (min-k fold × exact count)
      // — a 1×1 scalar attach
      "sketch_kmv_distinct",
      // BM25 attaches its one-row (N, Σdl) corpus-scalar frame via
      // broadcast — a bounded scalar attach
      "text_bm25")

    val failures = scala.collection.mutable.ListBuffer.empty[String]
    val laneFails = scala.collection.mutable.ListBuffer.empty[String]
    var skipped = 0

    lanes.foreach { lane =>
      val name = lane.name
      val streaming = Lanes.streaming(name)
      // the runner clears lastDrained before a streaming lane, so the
      // audit can never read a STALE query from the previous lane
      Lanes.run(spark, lane, dir) { df =>
        val (plan, finalTag) = if (streaming) {
          // the query already ran (drained to its sink); audit its last
          // micro-batch plan, not the sink table's local scan
          val plan = StreamingQueries.lastDrained.fold("")(microBatchPlan)
          if (plan.isEmpty) failures += s"$name:no-microbatch-plan-captured"
          (plan, "stream")
        } else {
          val qe = df.queryExecution
          // execute through THIS QueryExecution so AQE finalizes in place;
          // df.write would build a separate QueryExecution and leave this
          // one at its initial plan
          qe.executedPlan.executeCollect()
          val isFinal = qe.executedPlan match {
            case a: AdaptiveSparkPlanExec => a.isFinalPlan
            case _ => true // non-adaptive plans are what they are
          }
          (qe.executedPlan.toString.split("== Initial Plan ==")(0), isFinal.toString)
        }
        // A ReusedExchange node prints its reused child INLINE
        // ("ReusedExchange [...], Exchange hashpartitioning(...)"), so
        // counting raw plan text would tally the same physical exchange
        // twice (probe-verified: a self-joined aggregate with ONE real
        // shuffle counts hx=2). Truncate those lines to the bare node name
        // before counting: `reused` still counts them, hx/ex/rx/bex only
        // count exchanges that actually move data.
        val counted = plan.replaceAll("ReusedExchange \\[[^\\]]*\\][^\\n]*", "ReusedExchange")
        def count(s: String) = s.r.findAllIn(counted).length
        // codegen spans print as "*(n)" operator prefixes in toString
        // (the literal WholeStageCodegen node only appears in formatted
        // explain); distinct span ids = number of fused pipelines
        val codegenSpans = """\*\((\d+)\)""".r.findAllMatchIn(plan)
          .map(_.group(1)).toSet.size
        val m = Map(
          "scans" -> count("Scan parquet"),
          "cached" -> count("InMemoryTableScan"),
          "bhj" -> count("BroadcastHashJoin"),
          "smj" -> count("SortMergeJoin"),
          "shj" -> count("ShuffledHashJoin"),
          "bnlj" -> count("BroadcastNestedLoopJoin"),
          "cart" -> count("CartesianProduct"),
          // total Exchange nodes minus reused (historical metric), plus the
          // broadcast/true-shuffle split the assertions need
          "shuffles" -> count("(?<!Reused)Exchange"),
          "bex" -> count("BroadcastExchange"),
          "ex" -> count("(?<!Broadcast)(?<!Reused)Exchange"),
          "hx" -> count("Exchange hashpartitioning"),
          "rx" -> count("Exchange rangepartitioning"),
          "reused" -> count("ReusedExchange"),
          "aqeRead" -> count("AQEShuffleRead"),
          "wholeStage" -> codegenSpans,
          "takeOrdered" -> count("TakeOrderedAndProject"),
          "wgl" -> count("WindowGroupLimit"),
          // single-partition exchanges (a global Window funnels ALL rows
          // through one task) and the window functions whose global forms
          // the r9 rewrites removed — the q118/q120 assertions pin them
          "spx" -> count("Exchange SinglePartition"),
          // multi-distinct row multiplication — the q74/q74b cost split
          "expand" -> count("\\bExpand\\b"),
          "ntile" -> count("ntile\\("),
          "rownum" -> count("row_number\\("),
          "stateOps" -> count("StateStore|SessionWindowStateStore|StreamingDeduplicate|TransformWithState|FlatMapGroupsWithState|StreamingSymmetricHashJoin"))
        println(s"== $name")
        println(s"   final=$finalTag scans=${m("scans")} " +
          s"pushedFilters=${plan.contains("PushedFilters: [") && !plan.contains("PushedFilters: []")} " +
          s"bhj=${m("bhj")} smj=${m("smj")} " +
          s"bnlj=${m("bnlj")} cart=${m("cart")} " +
          s"shuffles=${m("shuffles")} ex=${m("ex")} hx=${m("hx")} rx=${m("rx")} bex=${m("bex")} reused=${m("reused")} " +
          s"aqeRead=${m("aqeRead")} wholeStage=${m("wholeStage")} " +
          s"takeOrdered=${m("takeOrdered")} wgl=${m("wgl")}" +
          (if (streaming) s" stateOps=${m("stateOps")}" else ""))
        val bnljCheck: (String, Map[String, Int] => Boolean) =
          if (boundedBnlj.contains(name))
            ("bounded-bnlj", mm => mm("cart") == 0 && mm("bnlj") <= 1)
          else ("no-cartesian", mm => mm("cart") == 0 && mm("bnlj") == 0)
        // the cache rule (operators.LoopCache): a lane frees what it
        // cached before it returns, so its final plan never reads an
        // in-memory relation — one would be a frame another lane left
        val cacheCheck: Seq[(String, Map[String, Int] => Boolean)] =
          if (streaming) Nil else Seq(("no-cached-scan", mm => mm("cached") == 0))
        val checks = asserts.getOrElse(name, Nil) ++ cacheCheck :+ bnljCheck
        checks.foreach { case (label, ok) =>
          if (!ok(m)) {
            println(s"   ASSERT-FAIL $label")
            failures += s"$name:$label"
          } else if (asserts.contains(name)) println(s"   assert-ok $label")
        }
        if (args.contains("--full")) println(plan)
      } match {
        case Lanes.Ran => ()
        case Lanes.Skipped(reason) =>
          println(s"SKIP $name ($reason)")
          skipped += 1
        case Lanes.Failed(e) =>
          // one throwing lane must not hide the rows and asserts after it
          val msg = Option(e.getMessage).flatMap(_.linesIterator.nextOption())
            .getOrElse(e.getClass.getSimpleName)
          println(s"LANE-FAIL $name: $msg")
          laneFails += s"$name: $msg"
      }
    }
    if (failures.nonEmpty) println(s"ASSERT-FAILURES: ${failures.mkString(", ")}")
    if (laneFails.nonEmpty) println(s"LANE-FAILURES: ${laneFails.mkString("; ")}")
    if (failures.isEmpty && laneFails.isEmpty) println(
      s"ASSERT: all plan assertions passed (${lanes.length - skipped} queries" +
        (if (skipped > 0) s", $skipped skipped)" else ")"))
    spark.stop()
    if (failures.nonEmpty || laneFails.nonEmpty) sys.exit(1)
  }
}
