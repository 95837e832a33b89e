package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.CaseFold

/** Third training-pipeline batch: the corpus-assembly primitives that
  * sit between "cleaned documents" and "training shards" — deterministic
  * global shuffling into shards, temperature-based domain reweighting,
  * incremental dedup of a new batch against an existing corpus, and a
  * token-entropy quality signal. Everything is hash-deterministic (md5,
  * never rand()) so the same corpus builds bit-identically on any
  * cluster, any partitioning — the property that makes 100 TB corpus
  * builds auditable and resumable.
  */
object Pipeline3 {

  /** First 8 md5 hex digits of a salted doc id as a long — the shared
    * deterministic-hash idiom (pipeline_train_split uses the 1-byte
    * form). 32 bits is plenty for per-document decisions and stays
    * exactly representable on both engines' integer paths.
    */
  private def h32(salt: String): Column =
    Tables.saltedHash(salt, col("doc_id"), 8)

  val NumShards = 8

  /** Deterministic global shuffle into training shards: shard by hash,
    * order within shard by the same hash. Replaces the usual
    * `orderBy(rand())` anti-pattern — reproducible AND scalable: the
    * shard/pos COMPUTATION is one hash projection, one shuffle on
    * shard, and an in-shard sort — never a global sort. At 100 TB each
    * shard sorts independently (32-bit key), and re-running the build
    * yields byte-identical shard files. The trailing
    * `orderBy(shard, pos)` here is harness determinism only (the
    * oracle comparator needs a total order); a production shard writer
    * drops it — `partitionBy(shard)` + `sortWithinPartitions(pos)` —
    * so no global sort ever runs at scale.
    */
  def pipelineShuffle(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), h32("shuf:").as("h"))
      .withColumn("shard", pmod(col("h"), lit(NumShards)).cast("long"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))
  }

  /** Temperature-based domain reweighting (the data-mixing primitive):
    * downsample each source toward size^α with α = 1/2 — keep
    * probability sqrt(n_min/n_s), so the smallest source keeps
    * everything and large sources shrink toward the α-tempered share.
    * The keep decision is integer basis points against a salted hash,
    * and sqrt/division are IEEE correctly-rounded single ops, so the
    * sampled set is bit-identical across engines and runs — unlike
    * rand()-based sampling, this is replayable for corpus audits.
    * Plan: tiny per-source rate frame broadcast back onto the scan; no
    * extra shuffle beyond the two accounting aggregates.
    */
  def pipelineMixture(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_orig"))
    val rates = counts
      .withColumn("n_min", min(col("n_orig")).over(Window.partitionBy()))
      .withColumn("keep_bps",
        floor(sqrt(col("n_min").cast("double") / col("n_orig").cast("double"))
          * 10000).cast("long"))
      .select(col("source"), col("n_orig"), col("keep_bps"))
    val kept = docs
      .select(col("source"), pmod(h32("mix:"), lit(10000)).as("hb"))
      .join(broadcast(rates), Seq("source"))
      .filter(col("hb") < col("keep_bps"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
    rates.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_orig"), col("keep_bps"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy(col("source"))
  }

  /** Incremental dedup — the production ingestion pattern: a new batch
    * (doc_id ≡ 0 mod 5 here) is deduplicated within itself (min doc_id
    * per digest) and against the EXISTING corpus's digest index, without
    * ever reshuffling the existing documents. At 100 TB the index is a
    * digest-only column scan (pruned to one column) and the anti-join
    * ships batch-sized state, not corpus-sized. The oracle uses NOT
    * EXISTS, not NOT IN: only the former matches left_anti's per-row
    * NULL-key semantics (one NULL digest in a NOT IN subquery empties
    * the whole result under three-valued logic).
    */
  def pipelineDedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(CaseFold.lower(trim(col("text")))).as("h"))
    val index = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      .select(col("h")).distinct()
    docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
      .join(index, Seq("h"), "left_anti")
      .select(col("doc_id"), col("h"))
      .orderBy(col("doc_id"))
  }

  /** Per-doc token statistics — ONE explode + two map-side-combinable
    * hash aggs, the shared substrate for [[textEntropy]] and
    * [[pipelineQualityGate]] (Catalyst prunes the columns a caller
    * doesn't use). Docs with zero non-empty tokens have NO row here;
    * callers that promise per-doc coverage must left-join documents.
    */
  private def tokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(CaseFold.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_toks"), max(col("c")).as("max_c"),
        sum(col("c") * col("c")).as("sum_c2"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("clnc"))

  /** H = log2 n − (Σ c·ln c)/(n·ln 2) over [[tokenStats]] columns. */
  private def shannonBits: Column =
    Tables.r4((log(col("n_toks").cast("double"))
      - col("clnc") / col("n_toks").cast("double")) / log(lit(2.0)))

  /** The matching DuckDB CTEs for [[tokenStats]] — single source shared
    * by the text_entropy and pipeline_quality_gate oracles so the two
    * entropy definitions cannot drift apart.
    */
  private val TokenStatsSql =
    """tc AS (
      |  SELECT doc_id, w, count(*) AS c FROM (
      |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
      |    FROM documents) WHERE w <> '' GROUP BY doc_id, w),
      |agg AS (
      |  SELECT doc_id, cast(sum(c) AS BIGINT) AS n_toks,
      |    cast(max(c) AS BIGINT) AS max_c,
      |    cast(sum(c * c) AS BIGINT) AS sum_c2,
      |    sum(c::DOUBLE * ln(c::DOUBLE)) AS clnc
      |  FROM tc GROUP BY doc_id)""".stripMargin

  /** Token Shannon entropy (bits) per document — the repetition-aware
    * quality signal: low entropy = keyboard-mash or template spam even
    * when TTR looks fine.
    */
  def textEntropy(spark: SparkSession, dir: String): DataFrame =
    tokenStats(spark, dir)
      .select(col("doc_id"), col("n_toks"), shannonBits.as("entropy"))
      .orderBy(col("doc_id"))

  /** Filter-cascade quality gate (the FineWeb-style shape): EVERY doc
    * gets a verdict — zero-token docs included via a left join from the
    * corpus (an unauditable silent drop is the failure mode a cascade
    * exists to prevent) — with the FIRST failing rule as the reason
    * code: too_short (< 10 tokens), low_entropy, top_heavy (most
    * frequent token > 25% of mass). The drop rules compare EXACT
    * integers only, so a verdict can never flip on cross-engine float
    * drift: low_entropy is the Rényi-2 collision form Σc²·4 > n²
    * (⇔ H₂ < 2 bits), top_heavy is max_c·4 > n. The reported Shannon
    * `entropy` column keeps text_entropy's documented r4 drift budget;
    * the verdict does not depend on it.
    */
  def pipelineQualityGate(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(tokenStats(spark, dir), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        coalesce(col("max_c"), lit(0L)).as("max_c"),
        coalesce(col("sum_c2"), lit(0L)).as("sum_c2"),
        coalesce(shannonBits, lit(0.0)).as("entropy"))
      .select(col("doc_id"), col("n_toks"), col("entropy"),
        when(col("n_toks") < 10, "too_short")
          .when(col("sum_c2") * 4 > col("n_toks") * col("n_toks"), "low_entropy")
          .when(col("max_c") * 4 > col("n_toks"), "top_heavy")
          .otherwise("keep").as("verdict"))
      .orderBy(col("doc_id"))

  val VocabSize = 256

  /** Tokenizer vocabulary build: corpus token counts → top-N by
    * (count desc, token asc) → rank + cumulative coverage. The heavy
    * stage is one map-side-combinable token count; the top-N is
    * TakeOrderedAndProject (each partition ships ≤ N rows, no global
    * sort), and the rank/coverage window runs over the N surviving rows
    * only. Coverage is integer basis points via long `div` — exact at
    * any corpus size, where `floor(double)` would lose precision once
    * cum·10⁴ crosses 2⁵³ (~10¹³ tokens, i.e. exactly the 100 TB regime).
    * The one-row totals frame rides a broadcast cross join — the scalar
    * attach pattern, not a data-sized cartesian.
    */
  def pipelineVocab(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(explode(CaseFold.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val total = counts.agg(sum(col("c")).as("total"))
    val order = Window.orderBy(col("c").desc, col("w"))
    counts.orderBy(col("c").desc, col("w")).limit(VocabSize)
      .crossJoin(broadcast(total))
      .withColumn("rnk", row_number().over(order).cast("long"))
      .withColumn("cum", sum(col("c"))
        .over(order.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("rnk"), col("w"), col("c"),
        expr("cum * 10000 div total").as("cov_bps"))
      .orderBy(col("rnk"))
  }

  /** Add-one-smoothed bigram language-model scoring — the KenLM-style
    * fluency proxy: score(doc) = mean over its bigrams of
    * ln((c(w1,w2)+1)/(c(w1)+V)), with V the context-vocabulary size.
    * Bigrams are built with multiplicity from `arrays_zip(slice, slice)`
    * (plain codegen expressions — no interpreted lambda in the hot
    * path, rule 7) and every count is an exact integer on both engines;
    * only the final ln/avg carries the documented r4 drift budget
    * (NOTES rule 14, same as text_entropy's clnc). Counts and probe all
    * hash-partition on token keys (map-side combine everywhere); the
    * scalar V rides a one-row broadcast cross join. A production build
    * would persist the tokenized frame once instead of re-deriving it
    * per aggregate — at bench scale Catalyst's triple scan is cheaper
    * than a materialization. Docs with fewer than two tokens have no
    * bigrams and no row, mirroring text_entropy's contract.
    */
  def pipelineLmScore(spark: SparkSession, dir: String): DataFrame = {
    val bi = Tables.documents(spark, dir)
      .select(col("doc_id"), CaseFold.tokens(col("text")).as("t"))
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("t"), lit(1), size(col("t")) - 1).as("w1"),
        slice(col("t"), lit(2), size(col("t")) - 1).as("w2"))).as("z"))
      .select(col("doc_id"), col("z.w1").as("w1"), col("z.w2").as("w2"))
    val bc = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val cc = bi.groupBy(col("w1")).agg(count(lit(1)).as("cctx"))
    val v = cc.agg(count(lit(1)).as("v"))
    bi.join(bc, Seq("w1", "w2"))
      .join(cc, Seq("w1"))
      .crossJoin(broadcast(v))
      .select(col("doc_id"),
        log((col("cb") + 1).cast("double")
          / (col("cctx") + col("v")).cast("double")).as("lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), Tables.r4(avg(col("lp"))).as("lm_score"))
      .orderBy(col("doc_id"))
  }

  val registry: Seq[QueryDef] = Seq(
    QueryDef("pipeline_shuffle", pipelineShuffle _,
      """WITH h AS (
        |  SELECT doc_id,
        |    ('0x' || substring(md5('shuf:' || cast(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
        |  FROM documents)
        |SELECT doc_id, h % 8 AS shard,
        |  cast(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS BIGINT) AS pos
        |FROM h ORDER BY shard, pos""".stripMargin),
    QueryDef("pipeline_mixture", pipelineMixture _,
      """WITH c AS (SELECT source, count(*) AS n_orig FROM documents GROUP BY source),
        |r AS (SELECT source, n_orig,
        |  cast(floor(sqrt((SELECT min(n_orig) FROM c)::DOUBLE / n_orig::DOUBLE)
        |    * 10000) AS BIGINT) AS keep_bps FROM c),
        |k AS (SELECT d.source, count(*) AS n_kept
        |  FROM documents d JOIN r USING (source)
        |  WHERE ('0x' || substring(md5('mix:' || cast(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |    % 10000 < keep_bps
        |  GROUP BY d.source)
        |SELECT r.source, n_orig, keep_bps, coalesce(n_kept, 0) AS n_kept
        |FROM r LEFT JOIN k USING (source) ORDER BY source""".stripMargin),
    QueryDef("pipeline_dedup_incremental", pipelineDedupIncremental _,
      """WITH d AS (SELECT doc_id, md5(lower(trim(text))) AS h FROM documents),
        |idx AS (SELECT DISTINCT h FROM d WHERE doc_id % 5 <> 0),
        |batch AS (SELECT h, min(doc_id) AS doc_id FROM d
        |  WHERE doc_id % 5 = 0 GROUP BY h)
        |SELECT doc_id, h FROM batch b
        |WHERE NOT EXISTS (SELECT 1 FROM idx i WHERE i.h = b.h)
        |ORDER BY doc_id""".stripMargin),
    QueryDef("pipeline_quality_gate", pipelineQualityGate _,
      s"""WITH $TokenStatsSql,
        |scored AS (
        |  SELECT d.doc_id, coalesce(a.n_toks, 0) AS n_toks,
        |    coalesce(a.max_c, 0) AS max_c,
        |    coalesce(a.sum_c2, 0) AS sum_c2,
        |    coalesce(floor((ln(a.n_toks::DOUBLE) - a.clnc / a.n_toks::DOUBLE)
        |      / ln(2.0) * 10000 + 0.5) / 10000, 0.0) AS entropy
        |  FROM documents d LEFT JOIN agg a USING (doc_id))
        |SELECT doc_id, n_toks, entropy,
        |  CASE WHEN n_toks < 10 THEN 'too_short'
        |       WHEN sum_c2 * 4 > n_toks * n_toks THEN 'low_entropy'
        |       WHEN max_c * 4 > n_toks THEN 'top_heavy'
        |       ELSE 'keep' END AS verdict
        |FROM scored ORDER BY doc_id""".stripMargin),
    QueryDef("pipeline_vocab", pipelineVocab _,
      """WITH tok AS (
        |  SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents),
        |c AS (SELECT w, count(*) AS c FROM tok WHERE w <> '' GROUP BY w),
        |top AS (SELECT w, c FROM c ORDER BY c DESC, w LIMIT 256)
        |SELECT cast(row_number() OVER (ORDER BY c DESC, w) AS BIGINT) AS rnk,
        |  w, cast(c AS BIGINT) AS c,
        |  cast(sum(c) OVER (ORDER BY c DESC, w ROWS UNBOUNDED PRECEDING)
        |    * 10000 // (SELECT sum(c) FROM c) AS BIGINT) AS cov_bps
        |FROM top ORDER BY rnk""".stripMargin),
    QueryDef("pipeline_lm_score", pipelineLmScore _,
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS t
        |  FROM documents),
        |bg AS (SELECT doc_id,
        |  unnest(list_transform(generate_series(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1])) AS bg FROM t),
        |b AS (SELECT doc_id, split_part(bg, ' ', 1) AS w1,
        |  split_part(bg, ' ', 2) AS w2 FROM bg),
        |bc AS (SELECT w1, w2, count(*) AS cb FROM b GROUP BY w1, w2),
        |cc AS (SELECT w1, count(*) AS cctx FROM b GROUP BY w1),
        |v AS (SELECT count(*) AS v FROM cc),
        |s AS (SELECT b.doc_id,
        |  ln((cb + 1)::DOUBLE / (cctx + v.v)::DOUBLE) AS lp
        |  FROM b JOIN bc USING (w1, w2) JOIN cc USING (w1) CROSS JOIN v)
        |SELECT doc_id, cast(count(*) AS BIGINT) AS n_bigrams,
        |  floor(avg(lp) * 10000 + 0.5) / 10000 AS lm_score
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    QueryDef("text_entropy", textEntropy _,
      s"""WITH $TokenStatsSql
        |SELECT doc_id, n_toks,
        |  floor((ln(n_toks::DOUBLE) - clnc / n_toks::DOUBLE) / ln(2.0)
        |    * 10000 + 0.5) / 10000 AS entropy
        |FROM agg ORDER BY doc_id""".stripMargin)
  )
}
