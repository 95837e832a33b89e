package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap
import graft.{Bench, EnvKnob, GraftSession, Json, Lanes, SparkEntry, Tables}

/** One-off scale validation: replicate the sf0.1 tables N× (default 10)
  * and time the repo's five most expensive plans at both volumes, so the
  * "this design holds at 100 TB" claims rest on a MEASURED growth ratio,
  * not only on plan-shape assertions. Results go to stdout as JSON lines
  * and are transcribed into SCALE.md.
  *
  * Replication, not regeneration: the probe scales the REAL testdata by
  * key-shifted copies, which preserves every per-replica distribution
  * the plans are sensitive to (bucket sizes, degree distribution, state
  * keys per watermark window). A synthetic generator at 10× rows would
  * change those distributions and measure the wrong thing. Per table:
  *   - `events`: event_id and user_id shifted per replica (10× state
  *     keys, same per-user timeline shape; ts untouched so watermark
  *     geometry is identical);
  *   - `documents`: doc_id shifted; every TOKEN renamed with a replica
  *     suffix, so shingle/minhash spaces of different replicas are
  *     disjoint — near-dup structure is 10 independent copies of the
  *     original (a naive text copy would make every doc a cross-replica
  *     near-dup of its twins and quadratically distort the pair count);
  *   - `lineitem`: l_orderkey and l_partkey shifted — the co-purchase
  *     graph becomes 10 disjoint copies of the original (triangles ×10,
  *     node count ×10, degree distribution unchanged).
  *
  * Methodology per (query, volume): one untimed cold pass (absorbs
  * codegen, file listing, and the streaming replay-fixture build — all
  * one-time costs), then [[WarmPasses]] timed warm passes; the reported
  * number is their median. The scaled tables are built once and cached
  * under a `_READY` marker. Each result is one JSON line written through
  * [[graft.Json]], seconds and ratios rounded to 3 decimals.
  *
  * Run: sbt "runMain graft.tools.ScaleProbe [uniform|skew|semantic|stream|q97]"
  * (default `uniform`; an unknown sweep throws).
  */
object ScaleProbe {

  /** One micro-batch's progress snapshot for the stream sweep: the
    * 100×-cliff shape of the streaming tier is STATE-STORE growth, not
    * wall time, so the probe reads rows/bytes per batch, not just the
    * lane total. `phaseMs` is the batch's time split
    * (`StreamingQueryProgress.durationMs`: queryPlanning, getBatch,
    * addBatch, walCommit, commitOffsets, triggerExecution, ...), which
    * says where inside a batch the time went.
    */
  final case class BatchProgress(batchId: Long, durationMs: Long,
      rowsProcessed: Long, stateRows: Long, stateBytes: Long,
      phaseMs: Map[String, Long])

  object BatchProgress {
    def apply(p: org.apache.spark.sql.streaming.StreamingQueryProgress): BatchProgress = {
      import scala.jdk.CollectionConverters._
      val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
      val bytes = ops.map { so =>
        // HDFS-backed stores report memoryUsedBytes; RocksDB reports its
        // footprint via a custom metric instead
        val rocks = Option(so.customMetrics)
          .flatMap(m => Option(m.get("rocksdbTotalMemoryUsage")))
          .map(_.longValue).getOrElse(0L)
        so.memoryUsedBytes + rocks
      }.sum
      val phaseMs = Option(p.durationMs).map(_.asScala.toMap).getOrElse(Map.empty)
        .map { case (k, v) => k -> v.longValue }
      BatchProgress(p.batchId, p.batchDuration, p.numInputRows,
        ops.map(_.numRowsTotal).sum, bytes, phaseMs)
    }
  }

  private val Queries = Seq("dedup_minhash_lsh", "q77_triangle_count",
    "q78_pagerank", "q74_dq_profile", "stream_outer_join",
    // round-7 additions: the KLL sketch scan, the iterative ER composite
    // (blocked fuzzy pairs + label propagation), and the per-batch-MG
    // streaming sketch
    "sketch_kll_quantiles", "q111_entity_resolution", "stream_heavy_hitters",
    // round-7 batch 2: the token-positional text transforms (scan/
    // window-bound) and the cell-blocked radius join (output grows
    // QUADRATICALLY with density by semantics — the probe documents
    // that the engine's work tracks Σ|cell|² ≈ output size, not N²)
    "text_rake", "pipeline_span_corruption", "q113_geo_cell_join",
    // round-8 additions: the cluster-keyed split (LSH substrate + closure
    // + label join), the payload-hash banded ranking, the Gram-aggregate
    // PCA pass, tokenizer OOV (count + broadcast membership), and the
    // two KMV min-k folds (batch TakeOrdered / per-micro-batch partials)
    "pipeline_leakage_split", "mm_phash_dedup", "emb_pca_power",
    "pipeline_tokenizer_coverage", "sketch_kmv_distinct",
    "stream_kmv_distinct",
    // round-9 addition: the exact prefix-filtered similarity join —
    // replica shingle spaces are disjoint, so df-ordered prefixes,
    // candidates, and verification all stay per-replica and the probe
    // measures the true corpus-growth path. (dedup_semantic is NOT
    // probed: replicating identical vectors makes every replica an
    // exact within-cluster dup — the probe fixture would measure the
    // k-too-small pathology the operator's k knob exists to prevent.)
    "dedup_prefix_jaccard",
    // round-10 addition: the IVF ANN probe (replicated embeddings grow
    // the bucketed corpus scan while centroids/codebooks stay
    // driver-bounded) — part of the two-decade 1×/10×/100× sweep over
    // the headline dedup/ANN tiers
    "sim_ann_ivf",
    // round-10 batch 2: BM25 retrieval — replica-suffixed tokens keep
    // each replica's vocabulary disjoint, so the query count, the tf
    // table, AND the per-query posting lists all grow ×factor while
    // cross-replica matches stay impossible: the probe measures the
    // true inverted-index growth path (broadcast side grows too — the
    // ratio watches whether the term-keyed probe stays join-bound)
    "text_bm25",
    // round-11 addition: connected components — the second iterative
    // graph lane (min-label propagation; q78 covers checkpointed
    // message passing with fixed rounds, this one adds the
    // convergence-detection probe per round). Replicated lineitem =
    // N disjoint graph copies: |E| and component count grow ×N while
    // round count stays the original's, so the probe isolates the
    // per-round shuffle volume — the classic 100×-cliff shape the
    // graph tier had not yet measured
    "q109_components",
    // round-11 batch 3: the remaining two iterative graph lanes, now on
    // the reworked partition-pinned cached-edge substrate — SSSP's
    // relaxation loop (per-round min-dist aggregate) and k-hop frontier
    // expansion (visited-set anti-join per hop)
    "q108_shortest_path", "q85_khop_reach",
    // round-11 batch 2: fuzzy decontamination — replica-suffixed tokens
    // grow corpus AND eval set ×factor with cross-replica collisions
    // impossible, so candidates scale ×factor (per-replica structure)
    // while the broadcast eval band/shingle tables grow with it: the
    // probe watches whether the broadcast-side growth path stays
    // join-bound (the documented flip past broadcastability is a
    // term-keyed shuffle join, same as BM25's)
    "pipeline_contamination_fuzzy",
    // round-12 addition: the two-level rolling median — the suite's one
    // unpriced per-row memory shape: the 30-day RANGE frame flattens
    // ≤31 daily value lists into one array per output row, and
    // rows-per-day grows ×factor under the replica fixture (orderdate
    // and priority are verbatim), so the probe prices exactly the
    // frame-materialization growth the q97b sketch twin would replace
    "q97_rolling_median",
    // round-12 batch 2: the content-decode tier's CPU-heaviest member
    // (entropy decode + integer IDCT per payload) as the family's
    // scale representative — embarrassingly parallel narrow map, so
    // the expected law is scan-bound linear; the probe documents it
    "mm_jpeg_pixels",
    // round-12 batch 4: the video tier — container walk + SAMPLED-frame
    // JPEG decode; half the payload (the unsampled frames) must never
    // pay the IDCT at any volume, so the expected law is the same
    // scan-bound linear as the rest of the decode family despite each
    // payload being a multi-frame container
    "mm_video_frames",
    // round-12 batch 5 (governance + tokenizer): pipeline_forget's
    // broadcast-requests side grows ×factor with the corpus (1/37 of
    // docs) — the probe watches whether the request attach stays
    // join-bound; crawl_frontier's host universe is FIXED while pages
    // grow, so the host-granular aggregate should approach flat;
    // text_wordpiece under the replica fixture is the distinct-word
    // path's BEST case (the ~k suffixes strip to the base word, so
    // the vocabulary stays 1× while counts grow ×factor) — the probe
    // prices exactly the claim the lane makes: corpus growth costs
    // only the word-count shuffle, the segmenter's work is constant
    "pipeline_forget", "pipeline_crawl_frontier", "text_wordpiece",
    // round-12 batch 3: the LM filter — replica-suffixed tokens grow
    // the VOCABULARY ×factor (disjoint per replica), so the bigram
    // model table grows ×factor while per-replica structure is
    // preserved: the probe watches the broadcast-model-side growth
    // path (the documented flip past broadcastability is a term-keyed
    // shuffle join, the BM25 discipline)
    "text_lm_perplexity",
    // round-12 batch 6: WARC ingestion — docs grow ×factor while the
    // fixture's shard COUNT stays fixed, so per-shard archives grow
    // ×factor: the probe prices both the gzip+WARC decode throughput
    // (expected scan-bound linear, the decode-family law) and the
    // per-shard memory growth the fixed-count fixture implies (at
    // production shard size is bounded by the writer, not the corpus)
    "pipeline_warc_ingest",
    // unigram Viterbi — same replica fixture behavior as wordpiece
    // (the ~k suffixes strip to the base word): the vocabulary-sized
    // DP frame stays 1× while counts grow ×factor, pricing the
    // distinct-word claim for the DP path too
    "text_unigram_lm",
    // Bloom decontamination — corpus and eval shingles both grow
    // ×factor while the filter SIZE stays fixed (BloomItems/BloomBits
    // are knobs): past the sizing point fpp degrades and the verify
    // join absorbs more false positives — the probe watches exactly
    // that overflow shape (correctness never moves; volume does)
    "pipeline_contamination_bloom",
    // WebDataset tar shards — same fixed-shard-count fixture caveat as
    // the WARC lane; prices the tar walk + contiguous-sample
    // reassembly (expected scan-bound linear, no entropy coding here)
    "pipeline_webdataset",
    // ZIP sampled decode — the random-access claim priced: the
    // directory walk is per-entry cheap and unsampled payloads are
    // never read, so growth should track the SAMPLE (half the
    // entries), not the archive bytes
    "pipeline_zip_sampled",
    // snapshot diff — the suite's one asserted sort-merge join: both
    // sides grow ×factor, so the probe prices the sorted-merge law
    // (expected ~linear in rows; the output stays churn-proportional)
    "pipeline_snapshot_diff",
    // robots politeness — the page corpus grows ×factor while the
    // host universe (and so the parsed-rule broadcast) stays FIXED:
    // the probe prices the pure map-side decision path
    "pipeline_robots_filter")

  /** The queries the skew sweep times — those whose worst case is a
    * single hot near-dup cluster (one giant LSH bucket / one
    * boilerplate window key / one ubiquitous-shingle prefix group).
    * dedup_prefix_jaccard joined in round 10: unlike the capped
    * approximate tiers, its OUTPUT on the hot cluster is itself
    * quadratic (every hot pair is a genuine J≈0.97 match the exact
    * contract must emit), so the ratio to watch is wasted-candidate
    * growth vs output growth, which the sweep prints alongside wall
    * time (see prefixJaccardWaste).
    */
  private val SkewQueries = Seq("dedup_minhash_lsh", "dedup_substring",
    "dedup_prefix_jaccard")

  /** Timed warm passes per (query, volume); the median is reported. */
  private val WarmPasses = 2

  /** The sweeps, selected by the one argument; `uniform` is the default. */
  private val Sweeps = Seq("uniform", "skew", "semantic", "stream", "q97")

  def main(args: Array[String]): Unit = {
    val baseDir = Tables.dataDir(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val factor = EnvKnob.positive("SPARK_GRAFT_SCALE_FACTOR", 10, Int.MaxValue).toInt
    val outDir = Tables.dataDir(sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
      s"/tmp/graft_scale_probe_${factor}x"))
    val sweep = args.headOption.getOrElse("uniform")
    require(args.length <= 1 && Sweeps.contains(sweep), s"unknown sweep " +
      s"'${args.mkString(" ")}': use ScaleProbe [${Sweeps.mkString("|")}]")
    // SPARK_GRAFT_ONLY re-measures a subset of the uniform sweep without
    // paying for all of it; selected before the session, so a spec that
    // selects no probed lane fails at once
    val uniform =
      if (sweep != "uniform") Nil
      else Lanes.selected(Queries.map(SparkEntry.registry.map(q => q.name -> q).toMap))
    val cpus = GraftSession.envCpus
    val spark = GraftSession(cpus)
    // SPARK_GRAFT_SHUFFLE_PARTITIONS (default: one per core, as on the
    // base volume) applies ONLY to the SCALED volume: a deployment sizes
    // shuffle partitions to data (at 100× a 32-partition hash aggregate
    // OOMs — each task holds 1/32 of a 100×-volume build), while the base
    // lane keeps the bench's one-per-core setting. The probed builders
    // read numShufflePartitions at plan time, so the per-volume conf
    // switch reaches their repartition calls too.
    val scaledParts =
      EnvKnob.positive("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus, Int.MaxValue)
    // ONE conf for every lane on a volume (timed or instrumented), set
    // with GraftSession.withConf: the round-12 review found the
    // set/restore copy-pasted into three timers while the streaming
    // capture runs missed it entirely — metrics measured under a
    // different conf than the wall times they sit beside are
    // attribution poison
    def volumeConf(dir: String) = "spark.sql.shuffle.partitions" ->
      (if (dir == baseDir) cpus.toLong else scaledParts).toString
    // every timed frame, registered lane or not, runs under the same
    // volume conf: a SPARK_GRAFT_SHUFFLE_PARTITIONS override that reached
    // one timer and not another would make their ratios incomparable
    def timeAt(dir: String)(df: => DataFrame): Double =
      GraftSession.withConf(spark, volumeConf(dir)) {
        Lanes.force(df) // untimed cold: codegen + fixture builds
        Bench.median((1 to WarmPasses).map { _ =>
          val t0 = System.nanoTime()
          Lanes.force(df)
          (System.nanoTime() - t0) / 1e9
        })
      }
    def time(name: String, dir: String): Double = {
      val fn = SparkEntry.queries(name)
      timeAt(dir)(fn(spark, dir))
    }

    if (sweep == "skew") {
      // SKEW SWEEP: one global hot near-dup cluster (5% of docs share a
      // template) at 1× and N× — the uniform replicas above never
      // exercise the bucket-cap/anchor-star path at bench scale because
      // each replica's buckets stay original-sized. Here the hot
      // cluster is NOT replica-suffixed, so it grows with the factor:
      // 250 docs in one cluster at 1× (sf0.1), 2 500 at 10× — far past
      // MaxLshBucket=32 (star linking) and MaxSpanDocs=32 (boilerplate
      // window drop). Linear-ish ratio = the caps hold under skew.
      val skew1 = s"${outDir}_skew1x"
      val skewN = s"${outDir}_skew${factor}x"
      buildSkewedDocs(spark, baseDir, skew1, 1)
      buildSkewedDocs(spark, baseDir, skewN, factor)
      SkewQueries.foreach { q =>
        val b = time(q, skew1)
        val s = time(q, skewN)
        println(Json.write(ListMap("q" -> q, "skew" -> true,
          "base_warm" -> Json.round(b), "scaled_warm" -> Json.round(s),
          "ratio" -> Json.round(s / b), "factor" -> factor)))
      }
      // prefix-join waste accounting: on a hot cluster the exact tier's
      // OUTPUT is quadratic by contract (every hot pair is a genuine
      // match), so wall-time ratio alone can't distinguish "inherent
      // output cost" from "filter stack stopped pruning". Count
      // candidates vs verified pairs at both volumes: waste =
      // cand/output staying ~flat means the prefix+size+positional
      // filters remain selectivity-optimal under the adversarial shape.
      Seq(skew1 -> "1x", skewN -> s"${factor}x").foreach { case (d, tag) =>
        val (_, cand) = graft.operators.Dedup.prefixJaccardStage(spark, d)
        val nCand = cand.count()
        val nOut = SparkEntry.queries("dedup_prefix_jaccard")(spark, d).count()
        println(Json.write(ListMap("q" -> "dedup_prefix_jaccard", "skew" -> true,
          "vol" -> tag, "candidates" -> nCand, "verified" -> nOut,
          "waste" -> Json.round(nCand.toDouble / math.max(1L, nOut)))))
      }
    } else if (sweep == "semantic") {
      // SEMANTIC SWEEP: dedup_semantic needs its own fixture — verbatim
      // replica vectors would make every replica an exact within-cluster
      // dup (cos = 1 ≥ τ) and measure only the k-too-small pathology.
      // Here replica k>0 vectors are deterministic PERTURBATIONS
      // (v' = 0.35·v + noise, cos(v,v') ≈ 0.35 < τ = 0.4): ×factor
      // genuinely distinct vectors that still populate the same regions,
      // so cluster SIZES grow ×factor — the operator's real exposure,
      // because its pairwise step is Σ|c|². Two measurements: the
      // registered fixed-k=16 form (cluster size ∝ N ⇒ quadratic by
      // contract) and the production knob k = 16·factor (cluster size
      // pinned ⇒ the linear path the docstring prescribes). Cluster
      // second moments print alongside for attribution.
      val semN = s"${outDir}_sem${factor}x"
      buildSemanticScaled(spark, baseDir, semN, factor)
      val b = time("dedup_semantic", baseDir)
      val s = time("dedup_semantic", semN)
      println(Json.write(ListMap("q" -> "dedup_semantic", "semantic" -> true,
        "k" -> 16, "base_warm" -> Json.round(b), "scaled_warm" -> Json.round(s),
        "ratio" -> Json.round(s / b), "factor" -> factor)))
      val sk = timeAt(semN)(
        graft.operators.Similarity.dedupSemanticK(spark, semN, 16 * factor))
      println(Json.write(ListMap("q" -> "dedup_semantic", "semantic" -> true,
        "k" -> 16 * factor, "scaled_warm" -> Json.round(sk),
        "ratio_vs_base" -> Json.round(sk / b), "factor" -> factor)))
      // attribution: cluster count / max size / Σ|c|² and the drop rate
      Seq((baseDir, 16, "1x"), (semN, 16, s"${factor}x"),
        (semN, 16 * factor, s"${factor}x")).foreach { case (d, k, tag) =>
        val out = graft.operators.Similarity.dedupSemanticK(spark, d, k)
          .localCheckpoint()
        val cs = out.groupBy(col("cluster")).count()
          .agg(count(lit(1)), max(col("count")),
            sum(col("count") * col("count"))).head()
        val dropped = out.filter(!col("kept")).count()
        println(Json.write(ListMap("q" -> "dedup_semantic", "semantic" -> true,
          "vol" -> tag, "k" -> k, "n_clusters" -> cs.getLong(0),
          "max_cluster" -> cs.getLong(1), "sum_sq" -> cs.getLong(2),
          "n_dropped" -> dropped)))
      }
    } else if (sweep == "stream") {
      // STREAMING SWEEP: the tier's 100×-cliff shape is STATE-STORE
      // growth (per-key state in RocksDB for TWS/row-pattern, symmetric
      // join buffers bounded only by the watermark for the outer join),
      // so beside wall time the probe reads every micro-batch's
      // duration, its phase split (summed over batches) and state
      // rows/bytes from the progress of the stopped query the lane
      // drained ([[graft.streaming.StreamingQueries.lastDrained]]). The
      // scaled events table grows keys AND events ×factor (key-shifted
      // replicas), which is the state-growth path — more keys, not
      // hotter keys.
      buildScaled(spark, baseDir, outDir, factor)
      val streamQs = Seq("stream_row_pattern", "stream_tws",
        "stream_outer_join",
        // the statestore-read-back shape (r12 verdict stretch): its
        // scale posture is the watermark-withheld TAIL (state rows =
        // open windows, not corpus size) plus the batch read of the
        // final checkpoint — the one streaming shape whose decade rows
        // previously came only from ad-hoc probe runs
        "stream_state_inspect")
      streamQs.foreach { q =>
        val b = time(q, baseDir)
        val s = time(q, outDir)
        println(Json.write(ListMap("q" -> q, "stream" -> true,
          "base_warm" -> Json.round(b), "scaled_warm" -> Json.round(s),
          "ratio" -> Json.round(s / b), "factor" -> factor)))
        Seq(baseDir -> "1x", outDir -> s"${factor}x").foreach { case (d, tag) =>
          GraftSession.withConf(spark, volumeConf(d)) {
            graft.streaming.StreamingQueries.lastDrained = None
            Lanes.force(SparkEntry.queries(q)(spark, d))
            val ps = graft.streaming.StreamingQueries.lastDrained.toSeq
              .flatMap(_.recentProgress.toSeq).map(BatchProgress(_))
            if (ps.nonEmpty) {
              val durs = ps.map(_.durationMs.toDouble)
              val phaseMs = ps.flatMap(_.phaseMs).groupMapReduce(_._1)(_._2)(_ + _)
              println(Json.write(ListMap("q" -> q, "stream" -> true, "vol" -> tag,
                "n_batches" -> ps.length,
                "batch_ms_median" -> Json.round(Bench.median(durs), 1),
                "batch_ms_max" -> Json.round(durs.max, 1),
                "phase_ms" -> ListMap.from(phaseMs.toSeq.sorted),
                "rows_in" -> ps.map(_.rowsProcessed).sum,
                "state_rows_max" -> ps.map(_.stateRows).max,
                "state_bytes_max" -> ps.map(_.stateBytes).max)))
            }
          }
        }
      }
    } else if (sweep == "q97") {
      // EXACT-vs-SKETCH head-to-head for the rolling median: q97's
      // per-row frame array grows with rows-per-day while the lean
      // sketch form's window state is O(31·K·log) regardless — this
      // times exactly what the q97b flip buys (the registered q97b
      // carries the gate's exact-verification substrate on top, so it
      // cannot show the advantage itself).
      buildScaled(spark, baseDir, outDir, factor)
      Seq(baseDir -> "1x", outDir -> s"${factor}x").foreach { case (d, tag) =>
        val ex = time("q97_rolling_median", d)
        val lean = timeAt(d)(graft.operators.Analytics3.rollingMedianKllLean(spark, d))
        println(Json.write(ListMap("q" -> "q97_exact_vs_sketch", "vol" -> tag,
          "exact_warm" -> Json.round(ex), "sketch_warm" -> Json.round(lean),
          "sketch_over_exact" -> Json.round(lean / ex), "factor" -> factor)))
      }
    } else {
      buildScaled(spark, baseDir, outDir, factor)
      uniform.map(_.name).foreach { q =>
        val b = time(q, baseDir)
        val s = time(q, outDir)
        println(Json.write(ListMap("q" -> q, "base_warm" -> Json.round(b),
          "scaled_warm" -> Json.round(s), "ratio" -> Json.round(s / b),
          "factor" -> factor)))
      }
    }
    spark.stop()
  }

  /** Skewed-documents fixture: every doc with (original) doc_id % 20 == 0
    * — 5% of the corpus — has its text replaced by ONE 60-word template
    * plus a per-doc unique tail token, making the 5% one global near-dup
    * cluster (shared shingles ⇒ shared minhash bands; shared 8-token
    * windows ⇒ one boilerplate window key). The remaining 95% follow the
    * uniform-replica discipline (token-suffixed per replica, disjoint
    * shingle spaces) so the background load still scales with the
    * factor. Crucially the template is NOT replica-suffixed: the hot
    * cluster is global and grows ×factor — the adversarial shape the
    * anchor-star cap exists for. Only documents.parquet is written (the
    * two skew-swept queries read nothing else).
    */
  private def buildSkewedDocs(spark: SparkSession, baseDir: String,
      outDir: String, factor: Int): Unit = {
    val marker = new java.io.File(outDir, "_READY")
    val stamp = s"skew;factor=$factor;v=$FixtureVersion"
    if (marker.exists() &&
      new String(java.nio.file.Files.readAllBytes(marker.toPath),
        "UTF-8") == stamp) return
    new java.io.File(outDir).mkdirs()
    val reps = broadcast(spark.range(factor).select(col("id").as("k")))
    val template = (1 to 60).map(i => s"hotw$i").mkString(" ")
    val docs = graft.Tables.documents(spark, baseDir)
    val docSpan = docs.agg(max(col("doc_id"))).head.getLong(0) + 1
    docs.crossJoin(reps)
      .select(
        (col("doc_id") + col("k") * docSpan).as("doc_id"),
        col("doc_id").as("orig_id"), col("k"),
        col("text"), col("lang"), col("source"))
      .withColumn("text",
        when(col("orig_id") % 20 === 0,
          // hot: global template + unique tail (a near-dup, not an
          // exact dup — exact-digest tiers would collapse it for free)
          concat(lit(template), lit(" uid"), col("doc_id")))
          .otherwise(when(col("k") === 0, col("text")).otherwise(
            array_join(transform(split(col("text"), " ", -1),
              t => when(
                t.isin(graft.operators.TextAnalysis3.StopWords: _*), t)
                .otherwise(concat(t, lit("~"), col("k")))), " "))))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    java.nio.file.Files.write(marker.toPath, stamp.getBytes("UTF-8"))
    ()
  }

  /** Semantic-sweep fixture: embeddings ×factor where replica k>0 is a
    * deterministic PERTURBATION of the original, not a copy — built so
    * that cos(v, v') = 0.35 EXACTLY for every replica, not just in
    * expectation: with w = v/‖v‖ and deterministic hash noise
    * u_j = (xxhash64(vec_id,k,j) mod 2001 − 1000)/1000 ∈ [−1,1], the
    * replica is v' = 0.35·w + √(1−0.35²)·û⊥ where û⊥ is u
    * orthogonalized against w and normalized — a unit vector at a
    * fixed 0.35-cosine angle to the original. (The earlier
    * 0.35·v + 0.2·u form only held ON AVERAGE: dot(v,u) has σ ≈ 0.58,
    * so ≈⅓ of replicas crossed τ = 0.4 and were dropped as near-dups
    * of their original, skewing the sweep's n_dropped attribution.)
    * Cross-replica twins of the same original sit at
    * 0.1225 + 0.8775·(û⊥ₖ₁·û⊥ₖ₂) ≈ 0.12 ± 0.11 — a ≲1% tail of
    * cross-pairs can still cross τ, which only perturbs n_dropped by
    * that margin and is noted here rather than hidden. The fixture
    * grows the corpus with genuinely distinct vectors that still fill
    * the same regions, which is what makes cluster SIZES (the Σ|c|²
    * driver) grow ×factor instead of manufacturing degenerate exact
    * dups.
    */
  private def buildSemanticScaled(spark: SparkSession, baseDir: String,
      outDir: String, factor: Int): Unit = {
    val marker = new java.io.File(outDir, "_READY")
    // "sem2": the round-12 exact-cosine construction — invalidates any
    // cached fixture built by the tail-prone 0.35v+0.2u form without
    // touching the (expensive) buildScaled volume markers
    val stamp = s"sem2;factor=$factor;v=$FixtureVersion"
    if (marker.exists() &&
      new String(java.nio.file.Files.readAllBytes(marker.toPath),
        "UTF-8") == stamp) return
    new java.io.File(outDir).mkdirs()
    val reps = broadcast(spark.range(factor).select(col("id").as("k")))
    val em = spark.read.parquet(s"$baseDir/embeddings.parquet")
    val emSpan = em.agg(max(col("vec_id"))).head.getLong(0) + 1
    val beta = math.sqrt(1.0 - 0.35 * 0.35)
    em.crossJoin(reps)
      .withColumn("vd", transform(col("embedding"), x => x.cast("double")))
      .withColumn("nv",
        sqrt(aggregate(col("vd"), lit(0.0), (a, x) => a + x * x)))
      .withColumn("w", transform(col("vd"), x => x / col("nv")))
      .withColumn("u", transform(col("vd"), (_, j) =>
        (pmod(xxhash64(col("vec_id"), col("k"), j), lit(2001L))
          .cast("double") - 1000.0) / 1000.0))
      .withColumn("d",
        aggregate(zip_with(col("w"), col("u"), (a, b) => a * b),
          lit(0.0), (a, x) => a + x))
      .withColumn("up",
        zip_with(col("u"), col("w"), (uj, wj) => uj - col("d") * wj))
      .withColumn("nup",
        sqrt(aggregate(col("up"), lit(0.0), (a, x) => a + x * x)))
      .withColumn("embedding",
        when(col("k") === 0 || col("nv") === 0.0 || col("nup") === 0.0,
          col("embedding")).otherwise(
          zip_with(col("w"), col("up"), (wj, pj) =>
            (wj * 0.35 + pj * beta / col("nup")).cast("float"))))
      .select((col("vec_id") + col("k") * emSpan).as("vec_id"),
        col("embedding"), col("label"))
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    java.nio.file.Files.write(marker.toPath, stamp.getBytes("UTF-8"))
    ()
  }

  /** Fixture-layout version — bump when buildScaled changes so a cached
    * older layout (e.g. without the `part` table) is rebuilt.
    */
  private val FixtureVersion = 6

  /** Build the key-shifted N× tables once (marker-cached per factor +
    * layout version).
    */
  private def buildScaled(spark: SparkSession, baseDir: String,
      outDir: String, factor: Int): Unit = {
    val marker = new java.io.File(outDir, "_READY")
    val stamp = s"factor=$factor;v=$FixtureVersion"
    if (marker.exists() &&
      new String(java.nio.file.Files.readAllBytes(marker.toPath),
        "UTF-8") == stamp) return
    new java.io.File(outDir).mkdirs()
    val reps = broadcast(spark.range(factor).select(col("id").as("k")))

    val ev = graft.Tables.events(spark, baseDir)
    val evSpan = ev.agg(max(col("event_id"))).head.getLong(0) + 1
    val userSpan = ev.agg(max(col("user_id"))).head.getLong(0) + 1
    ev.crossJoin(reps)
      .select(
        (col("event_id") + col("k") * evSpan).as("event_id"),
        col("ts"),
        (col("user_id") + col("k") * userSpan).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")

    val docs = graft.Tables.documents(spark, baseDir)
    val docSpan = docs.agg(max(col("doc_id"))).head.getLong(0) + 1
    docs.crossJoin(reps)
      .select(
        (col("doc_id") + col("k") * docSpan).as("doc_id"),
        // replica-suffix every CONTENT token: shingle spaces of
        // different replicas are disjoint (a shingle collides across
        // replicas only if ALL its tokens are stopwords — impossible at
        // shingle width 8 over a 2-word stopword set), near-dup
        // structure is per-replica. STOPWORDS keep their identity:
        // suffixing them would strip every replica of its function
        // words and collapse text_rake's phrase structure to 1× (the
        // round-7 review catch — the probe must preserve the stopword
        // distribution the RAKE plan is sensitive to)
        when(col("k") === 0, col("text")).otherwise(
          array_join(transform(split(col("text"), " ", -1),
            t => when(
              t.isin(graft.operators.TextAnalysis3.StopWords: _*), t)
              .otherwise(concat(t, lit("~"), col("k")))), " ")).as("text"),
        col("lang"), col("source"))
      // n_chars must describe the SUFFIXED text, not the original
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val li = graft.Tables.lineitem(spark, baseDir)
    val okSpan = li.agg(max(col("l_orderkey"))).head.getLong(0) + 1
    val pkSpan = li.agg(max(col("l_partkey"))).head.getLong(0) + 1
    val shifted = li.crossJoin(reps)
      .withColumn("l_orderkey", col("l_orderkey") + col("k") * okSpan)
      .withColumn("l_partkey", col("l_partkey") + col("k") * pkSpan)
      .drop("k")
    shifted.write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")

    // part: key shift + replica-suffix every name token (same discipline
    // as documents) — first-word blocks of different replicas are
    // disjoint, so the fuzzy-match graph is N independent copies of the
    // original (names ×N, per-block pair counts unchanged)
    val pt = spark.read.parquet(s"$baseDir/part.parquet")
    val ptSpan = pt.agg(max(col("p_partkey"))).head.getLong(0) + 1
    pt.crossJoin(reps)
      .withColumn("p_partkey", col("p_partkey") + col("k") * ptSpan)
      .withColumn("p_name",
        when(col("k") === 0, col("p_name")).otherwise(
          array_join(transform(split(col("p_name"), " ", -1),
            t => concat(t, lit("~"), col("k"))), " ")))
      .drop("k")
      .write.mode("overwrite").parquet(s"$outDir/part.parquet")

    // customer: key shift only — the q113 lattice coordinates derive
    // from c_custkey, so replicas land on NEW grid points and the point
    // DENSITY grows N× in the fixed 40000² space (the radius join's
    // output is then quadratic in N by geometry, which is the behavior
    // the probe is meant to exhibit, not hide)
    val cu = spark.read.parquet(s"$baseDir/customer.parquet")
    val cuSpan = cu.agg(max(col("c_custkey"))).head.getLong(0) + 1
    cu.crossJoin(reps)
      .withColumn("c_custkey", col("c_custkey") + col("k") * cuSpan)
      .drop("k")
      .write.mode("overwrite").parquet(s"$outDir/customer.parquet")

    // orders: key shift on both keys — distinct customers grow N×, so
    // the KMV probe sees a genuinely larger cardinality, not N copies
    // of the same key set. o_custkey shifts by CUSTOMER's span (cuSpan,
    // the same shift the customer replicas got), not by orders' own
    // max(o_custkey): the spans differ whenever some customers have no
    // orders, and a mismatched shift would point replica-k orders at
    // custkeys no customer replica owns — invisible until a future
    // probe joins the two tables and silently loses every k>0 match
    val or = spark.read.parquet(s"$baseDir/orders.parquet")
    val orSpan = or.agg(max(col("o_orderkey"))).head.getLong(0) + 1
    or.crossJoin(reps)
      .withColumn("o_orderkey", col("o_orderkey") + col("k") * orSpan)
      .withColumn("o_custkey", col("o_custkey") + col("k") * cuSpan)
      .drop("k")
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")

    // embeddings: id shift, vectors verbatim — replicating rows
    // multiplies the Gram matrix by exactly N (same eigenvector), so
    // the PCA probe isolates the aggregation pass's scaling
    val em = spark.read.parquet(s"$baseDir/embeddings.parquet")
    val emSpan = em.agg(max(col("vec_id"))).head.getLong(0) + 1
    em.crossJoin(reps)
      .withColumn("vec_id", col("vec_id") + col("k") * emSpan)
      .drop("k")
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    java.nio.file.Files.write(marker.toPath, stamp.getBytes("UTF-8"))
    ()
  }
}
