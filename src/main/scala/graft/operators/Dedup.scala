package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.{CaseFold, VectorExpressions}

/** Deduplication family over `documents` — the training-data-pipeline
  * core. Four tiers:
  *
  *   - exact: hash-groupBy on a normalized-text digest. ONE shuffle on
  *     the digest; survivors = min(doc_id) per group.
  *   - MinHash + LSH: shingle → 32 minhashes → 8 bands; candidate pairs
  *     only within equal band buckets (bucket-keyed shuffle, never
  *     all-pairs), then exact Jaccard verification on candidates.
  *   - SimHash: 64-bit signature via the custom codegen expression;
  *     banded blocking (4 × 16 bits) + Hamming-distance verification.
  *   - exact n-gram Jaccard: the ground-truth verifier, bounded to a
  *     small slice here so DuckDB can oracle it; at scale it runs only
  *     on LSH candidates.
  *
  * All hashing is engine-independent (hand-rolled FNV-1a feeding fixed
  * universal-hash parameters) so results are stable across runs,
  * partitionings, and cluster sizes — and replayable by DuckDB, which
  * is what lets both the SimHash AND MinHash tiers carry full oracles.
  */
object Dedup {

  /** Word 3-gram shingle set of the lowercased text. Guarded for <3
    * tokens: ANSI mode (Spark 4 default) makes out-of-bounds element_at
    * an error, and sequence(1, 0) would DESCEND, not return empty.
    */
  private[graft] def shingles(text: Column): Column =
    VectorExpressions.wordShingles3(CaseFold.tokens(text))

  private def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** Exact dedup: survivors + multiplicity per normalized-text digest. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(CaseFold.lower(trim(col("text")))).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))

  /** doc_id, band_idx (0..7), band_hash — the LSH blocking key stream.
    * The 32-wide minhash signature comes from the custom codegen
    * expression (one pass over the shingle array; the equivalent
    * 32 × array_min(transform(…)) built-in formulation measures 13 s on
    * 5 000 docs because higher-order lambdas are interpreted); a band
    * key is the raw ':'-joined tuple of its 4 consecutive minhashes
    * (replayable — see the dedup_minhash_lsh oracle).
    */
  private[graft] def bandedMinhash(docs: DataFrame): DataFrame = {
    val sig = docs
      .withColumn("sh", shingles(col("text")))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"),
        VectorExpressions.minhashSignature(col("sh")).as("sig"))
    val bands = (0 until 8).map { b =>
      // band key = the raw 4-minhash tuple (':'-joined), NOT a hash of
      // it: equality semantics are identical (a hash could only MERGE
      // distinct tuples), and the raw form is what lets the DuckDB
      // oracle replay the ENTIRE pipeline — see the dedup_minhash_lsh
      // oracle, which rebuilds these keys with string_agg over the
      // replayed signatures
      struct(lit(b).as("band_idx"),
        concat_ws(":", element_at(col("sig"), 4 * b + 1), element_at(col("sig"), 4 * b + 2),
          element_at(col("sig"), 4 * b + 3), element_at(col("sig"), 4 * b + 4))
          .as("band_hash"))
    }
    sig.select(col("doc_id"), explode(array(bands: _*)).as("band"))
      .select(col("doc_id"), col("band.band_idx"), col("band.band_hash"))
  }

  /** Bucket-size cap for LSH candidate generation. A degenerate bucket
    * (boilerplate band shared by millions of docs at 100 TB) makes the
    * pairwise self-join quadratic on one shuffle key — the classic LSH
    * skew bomb. Buckets above the cap switch from all-pairs to a
    * k-anchor STAR: every member links to the bucket's [[StarAnchors]]
    * smallest doc_ids (anchors pair among themselves too). Members of
    * an oversized bucket are near-certain duplicates of each other, so
    * the star keeps them reachable (one verified hop to an anchor — and
    * connected components recovers the full cluster) at O(k·n) pairs
    * instead of O(n²).
    *
    * RECALL BOUND (documented, spec-pinned): an oversized band bucket
    * can contain FALSE-POSITIVE members. Two docs that are mutually
    * near-dup but dissimilar to every anchor keep a candidate pair only
    * if at least one of them is an anchor, or they co-occur in another
    * ≤cap bucket (8 independent bands make that the common case). A
    * non-anchor/non-anchor similar pair inside a single oversized bucket
    * of otherwise-dissimilar docs is lost — the price of the O(k·n) cap.
    * k=4 anchors instead of round 2's single minimum shrinks that window
    * 4× for the same asymptotics.
    */
  private[graft] val MaxLshBucket = 32

  /** Anchors sampled per oversized bucket (the k in the k-anchor star). */
  private[graft] val StarAnchors = 4

  /** Candidate (id_a < id_b) pairs from a banded blocking-key stream,
    * pairwise within small buckets, k-anchor-star within oversized ones.
    * `payload` columns (e.g. a simhash signature) ride along as
    * `<name>_a` / `<name>_b`. The window partitioning on
    * (band_idx, bucket_key) matches the self-join keys, so the shuffle
    * is shared across both branches.
    */
  private[graft] def cappedBucketPairs(banded: DataFrame, bucketKey: String,
      payload: Seq[String]): DataFrame = {
    val w = Window.partitionBy(col("band_idx"), col(bucketKey))
    val sized = banded.withColumn("bsz", count(lit(1)).over(w))
    val small = sized.filter(col("bsz") <= MaxLshBucket)
    def side(t: String) =
      col(s"$t.doc_id").as(s"id_$t") +: payload.map(p => col(s"$t.$p").as(s"${p}_$t"))
    def bucketJoin(a: DataFrame, b: DataFrame) = a.as("a")
      .join(b.as("b"),
        col("a.band_idx") === col("b.band_idx")
          && col(s"a.$bucketKey") === col(s"b.$bucketKey")
          && col("a.doc_id") < col("b.doc_id"))
      .select(side("a") ++ side("b"): _*)
    val pairwise = bucketJoin(small, small)
    // oversized buckets: the k smallest doc_ids become anchors; each
    // member pairs with every anchor below it (so anchors also pair
    // among themselves) — O(k·n) pairs per bucket, never O(n²)
    val big = sized.filter(col("bsz") > MaxLshBucket)
    val anchors = big
      .withColumn("rn", row_number().over(w.orderBy(col("doc_id"))))
      .filter(col("rn") <= StarAnchors)
      .drop("rn")
    val star = bucketJoin(anchors, big)
    pairwise.unionByName(star).distinct()
  }

  /** MinHash-LSH verified pair stream from a documents frame — the
    * shared substrate of `dedup_minhash_lsh` / `dedup_clusters` /
    * `dedup_survivors` / `dedup_tier_recall`: each lane builds it
    * exactly ONCE and passes DataFrames down, never (spark, dir) pairs
    * that would silently rebuild the pipeline.
    */
  private[graft] def verifiedPairs(docs: DataFrame): DataFrame = {
    // materialize the signature stream once: it feeds BOTH sides of the
    // candidate self-join, and uncheckpointed lineage recomputes the
    // shingle+minhash scan per side (measured 2 extra scans; the table
    // is O(docs × 8 rows), tiny next to the corpus)
    val banded = bandedMinhash(docs).localCheckpoint()
    val candidates = cappedBucketPairs(banded, "band_hash", Seq.empty)
    // exact verification only touches candidate docs: semi-join first so
    // shingles are NOT recomputed for the whole corpus (at scale the
    // candidate id set is tiny and broadcasts)
    val candIds = candidates
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id")).distinct()
    val sh = docs.join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), shingles(col("text")).as("sh"))
    candidates
      .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jac", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jac") >= 0.2)
      .select(col("id_a"), col("id_b"), round(col("jac"), 4).as("jaccard"))
  }

  /** MinHash-LSH near-dup pairs, exact-Jaccard-verified (≥ 0.2). */
  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    verifiedPairs(Tables.documents(spark, dir))
      .orderBy(col("id_a"), col("id_b"))

  /** SimHash near-dup pairs: banded blocking (capped buckets) + Hamming ≤ 6.
    *
    * FULLY oracled (not rows-only): SimHash is deliberately built from
    * FNV-1a64 — pure byte arithmetic with no engine-private hashing — so
    * DuckDB can replay the ENTIRE pipeline: per-token FNV over UTF-8
    * bytes (HUGEINT modular multiply), the 64-bit majority vote, the
    * 4×16-bit banding, the capped-bucket pair generation including the
    * k-anchor star, and the Hamming gate. The one semantic to keep in
    * lockstep: Spark hashes EVERY non-null token including empty strings
    * (FNV of "" = the offset basis), and a bit is set only on a STRICT
    * majority — both replayed verbatim in the oracle SQL.
    */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    val sigs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        VectorExpressions.simhash64(CaseFold.tokens(col("text"))).as("sig"))
    val banded = sigs.select(col("doc_id"), col("sig"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band_idx"),
          shiftrightunsigned(col("sig"), 16 * b).bitwiseAND(lit(0xffffL))
            .as("band_key"))): _*)).as("band"))
      .select(col("doc_id"), col("sig"), col("band.band_idx"), col("band.band_key"))
    // cappedBucketPairs already distincts (id, sig) pairs; hamming is a
    // function of the sigs so no second distinct is needed
    cappedBucketPairs(banded, "band_key", Seq("sig"))
      .select(col("id_a"), col("id_b"),
        call_function("bit_count", col("sig_a").bitwiseXOR(col("sig_b")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= 6)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Window length (tokens) for exact substring dedup: long enough that
    * a shared window means a copied span, not a common phrase.
    */
  private[graft] val SpanTokens = 8

  /** A window shared by more docs than this is boilerplate (headers,
    * licenses, templates), not copying between a specific pair — and at
    * 100 TB it is also the hot key that would make the window self-join
    * quadratic. Dropped BEFORE pair generation, same discipline as
    * [[MaxLshBucket]]; the oracle applies the identical HAVING gate so
    * the cap itself is hash-verified.
    */
  private[graft] val MaxSpanDocs = 32

  /** Exact repeated-SPAN detection — the substring-level dedup tier
    * between exact-document and near-dup: pairs of docs sharing ≥1
    * identical [[SpanTokens]]-token window, with the shared-window
    * count. The training-data failure mode this catches is partial
    * copying (quoted paragraphs, boilerplate plus fresh text) that
    * document-level digests miss and shingle-Jaccard dilutes.
    *
    * Shape: tokenize → distinct 8-token windows per doc (one codegen
    * pass) → explode to an inverted index → drop boilerplate windows
    * (window-frequency cap) → self-join on the window (bucket-keyed
    * shuffle, never all-pairs across docs) → count windows per pair.
    * No slice bound needed: unlike the all-pairs Jaccard ground truth,
    * the window-keyed join is replayable by DuckDB at full table size.
    */
  def dedupSubstring(spark: SparkSession, dir: String): DataFrame = {
    val wins = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(
        VectorExpressions.wordNgrams(CaseFold.tokens(col("text")),
          SpanTokens)).as("w"))
    // windows are distinct per doc, so a per-window row count IS its
    // document frequency; the window shuffle is reused by the join
    val kept = wins
      .withColumn("ndocs", count(lit(1)).over(Window.partitionBy(col("w"))))
      .filter(col("ndocs") <= MaxSpanDocs)
    kept.as("a")
      .join(kept.as("b"),
        col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Exact word-3-gram Jaccard on a bounded slice (doc_id < 60) — DuckDB-
    * verifiable ground truth for the approximate tiers above.
    */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).filter(col("doc_id") < 60)
      .select(col("doc_id"), shingles(col("text")).as("sh"))
    d.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      .join(d.select(col("doc_id").as("id_b"), col("sh").as("sh_b")),
        col("id_a") < col("id_b"))
      .withColumn("jac", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jac") > 0)
      .select(col("id_a"), col("id_b"), round(col("jac"), 4).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Asymmetric shingle CONTAINMENT C(a→b) = |S(a)∩S(b)| / |S(a)| on the
    * same bounded ground-truth slice as [[dedupNgramJaccard]]. Jaccard
    * under-scores doc-inside-doc duplication (a short doc fully quoted
    * inside a long one has J ≈ |a|/|b| but C(a→b) = 1), so containment is
    * the standard second axis for quote/boilerplate-wrapper detection.
    * Directed: (id_a, id_b) means a is ≥50% contained in b, so both
    * orientations of an asymmetric pair can appear. At corpus scale the
    * computation rides the SAME banded-LSH candidate substrate as the
    * verified-pair tiers (containment is one more per-candidate-pair
    * measure); this slice is its DuckDB-verifiable ground truth.
    */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).filter(col("doc_id") < 200)
      .select(col("doc_id"), shingles(col("text")).as("sh"))
    d.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      .join(d.select(col("doc_id").as("id_b"), col("sh").as("sh_b")),
        col("id_a") =!= col("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .filter(col("inter") > 0)
      // membership decided on EXACT integer arithmetic (2·inter ≥ |S(a)|
      // ⇔ ratio ≥ 0.5): filtering on a round()-ed double would sit on
      // the half-up knife edge where Spark's shortest-repr BigDecimal
      // rounding and DuckDB's multiply-shift can disagree; round() below
      // is display-only, same as dedup_ngram_jaccard
      .filter(col("inter") * 2 >= size(col("sh_a")))
      .withColumn("containment",
        round(col("inter").cast("double") / size(col("sh_a")), 4))
      .select(col("id_a"), col("id_b"), col("containment"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Near-dup CLUSTERS from the pairwise candidates: connected
    * components by iterated min-label propagation (each doc takes the
    * smallest doc_id reachable through candidate edges). The iteration
    * is join + groupBy-min until fixpoint — the standard Spark
    * connected-components shape; diameter of near-dup clusters is tiny,
    * so few iterations suffice (capped, with a convergence check).
    * Output: (doc_id, cluster_rep) for every doc in some pair.
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    clustersOf(verifiedPairs(Tables.documents(spark, dir)))
      .orderBy(col("doc_id"))

  private def clustersOf(pairs0: DataFrame): DataFrame = {
    val pairs = pairs0.select(col("id_a"), col("id_b"))
    // undirected edges both ways, CHECKPOINTED: the propagation loop
    // joins edges every round, and without truncation each round would
    // re-execute the entire LSH candidate pipeline (shingle → minhash →
    // band → join → verify) from the scan up. One materialization
    // instead of an iteration-count multiplier on the most expensive
    // subplan here.
    val edges = pairs
      .union(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .distinct()
      .localCheckpoint()
    // no candidate pairs leaves these labels empty: the first round's
    // probe then counts 0 moved labels and the loop stops there
    val labels0 = edges.select(col("id_a").as("node")).distinct()
      .withColumn("label", col("node"))
    val (labels, _) = Rounds.iterate(labels0, 10, Some(Rounds.LabelsSettled)) {
      labels => Rounds.minLabelRound(labels,
        edges.join(labels, edges("id_b") === labels("node"))
          .select(edges("id_a").as("node"), col("label")))
    }
    labels.select(col("node").as("doc_id"), col("label").as("cluster_rep"))
  }

  /** The end product of the dedup family: the corpus with BOTH exact
    * duplicates and near-dup cluster non-representatives removed —
    * what actually ships to tokenization. Exact tier first (cheap
    * digest groupBy), then the near-dup clusters from the LSH tier;
    * a doc survives iff it is its exact-group minimum AND (not in any
    * near-dup cluster, or that cluster's representative). Anti-join
    * against the (tiny) removal set broadcasts at any corpus size.
    */
  def dedupSurvivors(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val exactKeep = dedupExact(spark, dir).select(col("keep_id").as("doc_id"))
    // the cluster labels over this lane's own LSH pair stream; survivors
    // adds two broadcastable joins on top
    val nearDupLosers = clustersOf(verifiedPairs(docs))
      .filter(col("doc_id") =!= col("cluster_rep"))
      .select(col("doc_id"))
    docs.join(exactKeep, Seq("doc_id"), "left_semi")
      .join(nearDupLosers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** Jaccard threshold for the EXACT prefix-filtered similarity join. */
  private[graft] val PrefixJaccardT = 0.5

  /** EXACT set-similarity self-join via PREFIX FILTERING (the
    * AllPairs/PPJoin family) — the exact-guarantee complement to the
    * MinHash-LSH tier: every pair with shingle-Jaccard ≥
    * [[PrefixJaccardT]] is returned, no probabilistic misses, no
    * banding parameters to tune.
    *
    * The principle: order every doc's shingle set by a GLOBAL canonical
    * order (ascending document frequency, ties by shingle — rarest
    * first), and keep each doc's PREFIX of length
    * |S| − ⌈t·|S|⌉ + 1. For J(A,B) ≥ t the required overlap is
    * α ≥ ⌈t/(1+t)·(|A|+|B|)⌉ ≥ ⌈t·|A|⌉ (via the size filter
    * |B| ≥ t·|A|), and a pair whose prefixes are disjoint can overlap
    * in at most ⌈t·|S|⌉ − 1 < α elements — so candidates = pairs
    * sharing ≥1 PREFIX shingle are a guaranteed superset, further
    * pruned by the size and POSITIONAL filters (PPJoin) inside the
    * join — each drops only pairs provably below t. Verification is
    * RELATIONAL: the exact overlap count via id-keyed joins, never
    * per-pair array intersections. The ORACLE deliberately verifies
    * from the UNPRUNED prefix-candidate set with a literal
    * list_intersect Jaccard — hash equality doubles as an independent
    * proof that the size/positional filters dropped nothing.
    *
    * 100 TB shape: the df aggregate and the prefix self-join both key
    * on the shingle (scales); per-doc ranking windows partition by
    * doc_id (bounded by document length, never corpus-sized). The join
    * touches only PREFIX shingles — by construction each doc's RAREST
    * ones, so bucket sizes stay small without any cap, and unlike the
    * LSH star-cap, exactness is preserved. Residual skew (a corpus of
    * docs made entirely of ubiquitous shingles) degrades toward
    * all-pairs — inherent to any exact join, and the reason the
    * approximate tier exists beside this one. Completeness vs LSH is
    * spec-pinned; the oracle replays df-order, prefix, join, and
    * verification verbatim.
    */
  /** α/(sum-of-sizes) coefficient: J ≥ t requires overlap ≥
    * ⌈t/(1+t)·(|A|+|B|)⌉. The double constant is interpolated into the
    * oracle verbatim so both engines compute the identical bound; its
    * sub-ulp under-rounding can only WEAKEN the filter (a smaller α
    * prunes less), never break the superset guarantee.
    */
  private val PrefixAlpha = PrefixJaccardT / (1 + PrefixJaccardT)

  /** The shingle-rows + candidate stage of [[dedupPrefixJaccard]],
    * exposed so the skew probe can measure wasted-candidate growth
    * (candidates that fail verification) separately from the quadratic
    * OUTPUT a hot near-dup cluster forces by semantics. Returns
    * (checkpointed shingle rows, distinct candidate pairs).
    */
  private[graft] def prefixJaccardStage(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val docs = Tables.documents(spark, dir)
    // per-doc shingle rows (wordShingles3 is already distinct per doc);
    // checkpointed: feeds the df aggregate, the ranked prefix side, AND
    // both sides of the overlap-count verification.
    // r16 (guide §1.2 — don't compute what you already know): the doc's
    // shingle-set size rides along from size(array) AT THE EXPLODE — the
    // array is distinct per doc, so size(g) IS the old
    // count(*) OVER (PARTITION BY doc_id), and the ranked pass below
    // keeps only the row_number window (one sort) instead of two window
    // functions (probe: the two-window pass was 1.10 s of the lane's
    // 3.13 s). Same values, oracle unchanged (hash-verified).
    val shRows = docs
      .select(col("doc_id"), shingles(col("text")).as("g"))
      .select(col("doc_id"), size(col("g")).cast("long").as("sz"),
        explode(col("g")).as("s"))
      .localCheckpoint()
    val dfreq = shRows.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy(col("doc_id"))
    val ranked = shRows.join(dfreq, Seq("s"))
      .withColumn("rn", row_number().over(
        wDoc.orderBy(col("df"), col("s"))))
    val prefix = ranked
      .filter(col("rn") <=
        col("sz") - ceil(col("sz") * PrefixJaccardT).cast("long") + 1)
      .select(col("doc_id"), col("s"), col("rn"), col("sz"))
    // candidate join with the PPJoin pruning stack applied IN the join:
    //   size filter  — J ≥ t needs |B| ≥ ⌈t·|A|⌉ (and symmetrically);
    //   positional   — a shared prefix shingle at positions (rn_a, rn_b)
    //                  caps the achievable overlap at
    //                  min(sz_a−rn_a, sz_b−rn_b)+1, which must reach α.
    // Both are restrictions of the candidate SET, not the guarantee: a
    // pair they drop provably cannot reach J ≥ t.
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          col("b.sz") >= ceil(col("a.sz") * PrefixJaccardT).cast("long") &&
          col("a.sz") >= ceil(col("b.sz") * PrefixJaccardT).cast("long") &&
          least(col("a.sz") - col("a.rn"), col("b.sz") - col("b.rn")) + 1 >=
            ceil((col("a.sz") + col("b.sz")) * PrefixAlpha).cast("long"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .distinct()
    (shRows, cand)
  }

  def dedupPrefixJaccard(spark: SparkSession, dir: String): DataFrame = {
    val (shRows, cand) = prefixJaccardStage(spark, dir)
    // exact verification RELATIONALLY: overlap = count of shared
    // shingles via two id-keyed joins over the checkpointed shingle
    // rows — no per-pair array intersections (the string-array
    // merge was the measured hot spot), no width skew; then
    // J = ov / (|A| + |B| − ov) from the exact integer counts.
    val shared = cand
      .join(shRows.select(col("doc_id").as("id_a"), col("s")), Seq("id_a"))
      .join(shRows.select(col("doc_id").as("id_b"), col("s")),
        Seq("id_b", "s"))
    shared.groupBy(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("ov"))
      .withColumn("jac", col("ov").cast("double") /
        (col("sz_a") + col("sz_b") - col("ov")).cast("double"))
      .filter(col("jac") >= PrefixJaccardT)
      .select(col("id_a"), col("id_b"), round(col("jac"), 4).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  private[graft] val PrefixJaccardOracle: String =
    s"""WITH t AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(
      |    list_transform(generate_series(1, len(t) - 2),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
      |  FROM t),
      |shx AS (SELECT doc_id, unnest(g) AS s FROM sh WHERE len(g) > 0),
      |dfreq AS (SELECT s, count(*) AS df FROM shx GROUP BY s),
      |rk AS (
      |  SELECT shx.doc_id, shx.s,
      |    row_number() OVER (PARTITION BY shx.doc_id
      |      ORDER BY dfreq.df, shx.s) AS rn,
      |    count(*) OVER (PARTITION BY shx.doc_id) AS sz
      |  FROM shx JOIN dfreq USING (s)),
      |pre AS (SELECT doc_id, s FROM rk
      |  WHERE rn <= sz - ceil(sz * $PrefixJaccardT) + 1),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM pre a JOIN pre b ON a.s = b.s AND a.doc_id < b.doc_id),
      |j AS (
      |  SELECT c.id_a, c.id_b,
      |    cast(len(list_intersect(sa.g, sb.g)) AS DOUBLE) /
      |    len(list_distinct(list_concat(sa.g, sb.g))) AS jac
      |  FROM cand c JOIN sh sa ON sa.doc_id = c.id_a
      |  JOIN sh sb ON sb.doc_id = c.id_b)
      |SELECT id_a, id_b, round(jac, 4) AS jaccard FROM j
      |WHERE jac >= $PrefixJaccardT ORDER BY id_a, id_b""".stripMargin

  /** The MinHash-LSH pipeline as shared oracle CTEs, ending in
    * `vp(id_a, id_b, jaccard)` — the verified near-dup pairs. Used by
    * the dedup_minhash_lsh / dedup_clusters / dedup_survivors oracles
    * (the latter two add a recursive reachability closure on top).
    * Universal-hash parameters are INTERPOLATED from [[MinHashUtil]] so
    * the oracle can never drift from the kernel.
    */
  private[graft] val MinhashPipelineCtes: String = {
    val abRows = (0 until graft.functions.MinHashUtil.NumHashes)
      .map(i => s"(${i}, ${graft.functions.MinHashUtil.A(i)}, " +
        s"${graft.functions.MinHashUtil.B(i)})").mkString(", ")
    s"""t AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(
      |    list_transform(generate_series(1, len(t) - 2),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
      |  FROM t),
      |shx AS (SELECT doc_id, unnest(g) AS s FROM sh WHERE len(g) > 0),
      |fnv AS (
      |  SELECT doc_id,
      |    CAST(list_reduce(
      |      list_prepend(CAST(14695981039346656037 AS UBIGINT),
      |        list_transform(range(1, octet_length(encode(s)) + 1),
      |          i -> CAST('0x' || substring(hex(encode(s)), 2*i-1, 2)
      |                    AS UBIGINT))),
      |      (h, b) -> CAST((CAST(xor(h, b) AS HUGEINT) * 1099511628211)
      |                     % 18446744073709551616 AS UBIGINT))
      |      & 4294967295 AS BIGINT) AS x
      |  FROM shx),
      |ab(i, av, bv) AS (VALUES $abRows),
      |sig AS (
      |  SELECT doc_id, ab.i, min((ab.av * fnv.x + ab.bv)
      |    % ${graft.functions.MinHashUtil.P}) AS m
      |  FROM fnv, ab GROUP BY doc_id, ab.i),
      |banded AS (
      |  SELECT doc_id, i // 4 AS band_idx,
      |    string_agg(CAST(m AS VARCHAR), ':' ORDER BY i) AS band_hash
      |  FROM sig GROUP BY doc_id, i // 4),
      |sized AS (
      |  SELECT *, count(*) OVER (PARTITION BY band_idx, band_hash) AS bsz
      |  FROM banded),
      |small_pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sized a JOIN sized b
      |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
      |    AND a.doc_id < b.doc_id
      |  WHERE a.bsz <= $MaxLshBucket AND b.bsz <= $MaxLshBucket),
      |anchors AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY band_idx, band_hash
      |      ORDER BY doc_id) AS rn
      |    FROM sized WHERE bsz > $MaxLshBucket)
      |  WHERE rn <= $StarAnchors),
      |star_pairs AS (
      |  SELECT a.doc_id AS id_a, m.doc_id AS id_b
      |  FROM anchors a JOIN sized m
      |    ON a.band_idx = m.band_idx AND a.band_hash = m.band_hash
      |    AND a.doc_id < m.doc_id
      |  WHERE m.bsz > $MaxLshBucket),
      |cand AS (
      |  SELECT DISTINCT id_a, id_b
      |  FROM (SELECT * FROM small_pairs UNION ALL SELECT * FROM star_pairs)),
      |vp AS (
      |  SELECT c.id_a, c.id_b,
      |    round(cast(len(list_intersect(a.g, b.g)) AS DOUBLE)
      |      / len(list_distinct(list_concat(a.g, b.g))), 4) AS jaccard
      |  FROM cand c JOIN sh a ON a.doc_id = c.id_a
      |  JOIN sh b ON b.doc_id = c.id_b
      |  WHERE cast(len(list_intersect(a.g, b.g)) AS DOUBLE)
      |      / len(list_distinct(list_concat(a.g, b.g))) >= 0.2)""".stripMargin
  }

  /** Tier calibration: MinHash-LSH recall against the EXACT prefix-join
    * ground truth, by similarity band — the audit a dedup pipeline runs
    * on a sample before trusting the approximate tier on the full
    * corpus. Ground truth = every pair with J ≥ [[PrefixJaccardT]]
    * (the exact tier is COMPLETE above t, so it is a true reference,
    * not another estimate); a pair counts as found if the LSH tier's
    * verified-pair stream contains it (id-keyed join — no float
    * compare can flip membership). Output: per 0.1-wide Jaccard bucket
    * (J=1.0 folds into bucket 9), ground-truth pairs, found pairs, and
    * recall in integer basis points. Expected shape: recall rises with
    * J (banding theory: P(≥1 of 8 bands collides) = 1−(1−J⁴)⁸), which
    * is exactly the curve an operator reads off this table. (At the
    * gate SF the fixture's near-dups all sit in the 0.9 bucket with
    * recall 10000 — the curve gets its lower bands on corpora with
    * mid-similarity pairs; the spec recomputes whatever bands exist.)
    *
    * Scale: runs both substrates ONCE each (the composite price is the
    * sum, not a product — the join between them is pair-keyed and
    * tiny), and at 100 TB this is the query you run on a SAMPLE: both
    * parents scale independently, the calibration join never exceeds
    * the ground-truth pair count. Bucketing multiplies the ROUNDED r4
    * jaccard (bit-identical both engines) by 10 and floors — exact by
    * the shared-double argument, no knife edge.
    */
  def dedupTierRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = dedupPrefixJaccard(spark, dir)
    val lsh = verifiedPairs(Tables.documents(spark, dir))
      .select(col("id_a"), col("id_b"), lit(1L).as("found"))
    exact.join(lsh, Seq("id_a", "id_b"), "left")
      .withColumn("bucket",
        least(floor(col("jaccard") * 10).cast("long"), lit(9L)))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("found"), lit(0L))).as("n_lsh_found"))
      .withColumn("recall_bps", expr("n_lsh_found * 10000 div n_exact"))
      .orderBy(col("bucket"))
  }

  /** Oracle for [[dedupTierRecall]]: the MinHash stack (→ vp) and the
    * prefix stack share their t/sh/shx head; the prefix tail is
    * inlined with renamed CTEs (pcand/exact) to avoid the `cand`
    * collision between the two published stacks.
    */
  private val TierRecallOracle: String =
    s"""WITH $MinhashPipelineCtes,
      |dfreq AS (SELECT s, count(*) AS df FROM shx GROUP BY s),
      |rk AS (
      |  SELECT shx.doc_id, shx.s,
      |    row_number() OVER (PARTITION BY shx.doc_id
      |      ORDER BY dfreq.df, shx.s) AS rn,
      |    count(*) OVER (PARTITION BY shx.doc_id) AS sz
      |  FROM shx JOIN dfreq USING (s)),
      |pre AS (SELECT doc_id, s FROM rk
      |  WHERE rn <= sz - ceil(sz * $PrefixJaccardT) + 1),
      |pcand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM pre a JOIN pre b ON a.s = b.s AND a.doc_id < b.doc_id),
      |exact AS (
      |  SELECT c.id_a, c.id_b,
      |    round(cast(len(list_intersect(sa.g, sb.g)) AS DOUBLE) /
      |      len(list_distinct(list_concat(sa.g, sb.g))), 4) AS jaccard
      |  FROM pcand c JOIN sh sa ON sa.doc_id = c.id_a
      |  JOIN sh sb ON sb.doc_id = c.id_b
      |  WHERE cast(len(list_intersect(sa.g, sb.g)) AS DOUBLE) /
      |    len(list_distinct(list_concat(sa.g, sb.g))) >= $PrefixJaccardT),
      |mrk AS (
      |  SELECT e.jaccard,
      |    CASE WHEN vp.id_a IS NOT NULL THEN 1 ELSE 0 END AS found
      |  FROM exact e LEFT JOIN vp
      |    ON vp.id_a = e.id_a AND vp.id_b = e.id_b)
      |SELECT least(cast(floor(jaccard * 10) AS BIGINT), 9) AS bucket,
      |  cast(count(*) AS BIGINT) AS n_exact,
      |  cast(sum(found) AS BIGINT) AS n_lsh_found,
      |  cast(sum(found) * 10000 // count(*) AS BIGINT) AS recall_bps
      |FROM mrk GROUP BY 1 ORDER BY bucket""".stripMargin

  val registry: Seq[QueryDef] = Seq(
    QueryDef("dedup_tier_recall", dedupTierRecall _, TierRecallOracle),
    QueryDef("dedup_prefix_jaccard", dedupPrefixJaccard _,
      PrefixJaccardOracle),
    // components over the (now SQL-expressible) verified pairs: the
    // recursive closure is the oracle's approach, label propagation the
    // scale path — same split as q109_components
    QueryDef("dedup_clusters", dedupClusters _,
      s"""WITH RECURSIVE $MinhashPipelineCtes,
        |e AS (SELECT id_a, id_b FROM vp
        |      UNION ALL SELECT id_b, id_a FROM vp),
        |reach(src, node) AS (
        |  SELECT id_a, id_a FROM e
        |  UNION
        |  SELECT r.src, e.id_b FROM reach r JOIN e ON e.id_a = r.node)
        |SELECT src AS doc_id, min(node) AS cluster_rep
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin),
    // exact-tier keepers minus near-dup losers, all replayed: the
    // shipped corpus is now END-TO-END oracle-verified
    QueryDef("dedup_survivors", dedupSurvivors _,
      s"""WITH RECURSIVE $MinhashPipelineCtes,
        |e AS (SELECT id_a, id_b FROM vp
        |      UNION ALL SELECT id_b, id_a FROM vp),
        |reach(src, node) AS (
        |  SELECT id_a, id_a FROM e
        |  UNION
        |  SELECT r.src, e.id_b FROM reach r JOIN e ON e.id_a = r.node),
        |clusters AS (
        |  SELECT src AS doc_id, min(node) AS rep FROM reach GROUP BY src),
        |losers AS (SELECT doc_id FROM clusters WHERE doc_id <> rep),
        |keepers AS (
        |  SELECT min(doc_id) AS doc_id FROM documents
        |  GROUP BY md5(lower(trim(text))))
        |SELECT d.doc_id, d.lang, d.source
        |FROM documents d JOIN keepers k ON d.doc_id = k.doc_id
        |WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = d.doc_id)
        |ORDER BY d.doc_id""".stripMargin),
    QueryDef("dedup_exact", dedupExact _,
      """SELECT md5(lower(trim(text))) AS h, min(doc_id) AS keep_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin),
    // FULL replay of the MinHash-LSH pipeline (rows-only until round 7):
    // 3-gram shingles, per-shingle FNV-1a64 low-32, the 32 universal
    // hashes (a·x+b mod P, parameters INTERPOLATED from MinHashUtil so
    // the oracle can never drift from the kernel), min per hash, 8×4
    // banding on the raw ':'-joined tuples, capped buckets + 4-anchor
    // star, and exact-Jaccard verification ≥ 0.2
    QueryDef("dedup_minhash_lsh", dedupMinhashLsh _,
      s"""WITH $MinhashPipelineCtes
        |SELECT id_a, id_b, jaccard FROM vp
        |ORDER BY id_a, id_b""".stripMargin),
    QueryDef("dedup_simhash", dedupSimhash _,
      // full replay of the SimHash pipeline: FNV-1a64 per token (HUGEINT
      // modular multiply = Spark's wrapping long multiply), strict-
      // majority bit vote, 4×16-bit bands, capped-bucket pairs with the
      // 4-anchor star, Hamming ≤ 6
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        |hashes AS (
        |  SELECT doc_id,
        |    list_transform(t, tok ->
        |      list_reduce(
        |        list_prepend(CAST(14695981039346656037 AS UBIGINT),
        |          list_transform(range(1, octet_length(encode(tok)) + 1),
        |            i -> CAST('0x' || substring(hex(encode(tok)), 2*i-1, 2)
        |                      AS UBIGINT))),
        |        (h, b) -> CAST((CAST(xor(h, b) AS HUGEINT) * 1099511628211)
        |                       % 18446744073709551616 AS UBIGINT))) AS hs
        |  FROM toks),
        |sigs AS (
        |  SELECT doc_id,
        |    CAST((SELECT sum(CASE
        |            WHEN 2 * len(list_filter(hs, h -> (h >> j) & 1 = 1)) > len(hs)
        |            THEN CAST(1::UBIGINT << j AS HUGEINT) ELSE 0 END)
        |          FROM generate_series(0, 63) AS g(j)) AS UBIGINT) AS sig
        |  FROM hashes),
        |banded AS (
        |  SELECT doc_id, sig, b.b AS band_idx,
        |    (sig >> (16 * b.b)) & 65535 AS band_key
        |  FROM sigs, generate_series(0, 3) AS b(b)),
        |sized AS (
        |  SELECT *, count(*) OVER (PARTITION BY band_idx, band_key) AS bsz
        |  FROM banded),
        |small_pairs AS (
        |  SELECT a.doc_id AS id_a, a.sig AS sig_a, b.doc_id AS id_b, b.sig AS sig_b
        |  FROM sized a JOIN sized b
        |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
        |    AND a.doc_id < b.doc_id
        |  WHERE a.bsz <= 32 AND b.bsz <= 32),
        |anchors AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY band_idx, band_key
        |      ORDER BY doc_id) AS rn
        |    FROM sized WHERE bsz > 32)
        |  WHERE rn <= 4),
        |star_pairs AS (
        |  SELECT a.doc_id AS id_a, a.sig AS sig_a, m.doc_id AS id_b, m.sig AS sig_b
        |  FROM anchors a JOIN sized m
        |    ON a.band_idx = m.band_idx AND a.band_key = m.band_key
        |    AND a.doc_id < m.doc_id
        |  WHERE m.bsz > 32),
        |cand AS (
        |  SELECT DISTINCT id_a, id_b, sig_a, sig_b
        |  FROM (SELECT * FROM small_pairs UNION ALL SELECT * FROM star_pairs))
        |SELECT id_a, id_b, CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 6
        |ORDER BY id_a, id_b""".stripMargin),
    QueryDef("dedup_substring", dedupSubstring _,
      """WITH t AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, list_distinct(
        |    list_transform(generate_series(1, len(t) - 7),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
        |        || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' '
        |        || t[i+7])) AS g
        |  FROM t),
        |wx AS (SELECT doc_id, unnest(g) AS w FROM g),
        |keep AS (SELECT w FROM wx GROUP BY w HAVING count(*) <= 32),
        |wk AS (SELECT wx.doc_id, wx.w FROM wx JOIN keep USING (w))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        |FROM wk a JOIN wk b ON a.w = b.w AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 ORDER BY id_a, id_b""".stripMargin),
    QueryDef("dedup_ngram_jaccard", dedupNgramJaccard _,
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(
        |    list_transform(generate_series(1, len(t) - 2),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
        |  WHERE doc_id < 60)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(cast(len(list_intersect(a.g, b.g)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.g, b.g))), 4) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.g, b.g)) > 0
        |ORDER BY id_a, id_b""".stripMargin),
    QueryDef("dedup_containment", dedupContainment _,
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(
        |    list_transform(generate_series(1, len(t) - 2),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
        |  WHERE doc_id < 200)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(cast(len(list_intersect(a.g, b.g)) AS DOUBLE) / len(a.g), 4)
        |    AS containment
        |FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
        |WHERE len(list_intersect(a.g, b.g)) > 0
        |  AND 2 * len(list_intersect(a.g, b.g)) >= len(a.g)
        |ORDER BY id_a, id_b""".stripMargin)
  )
}
