package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.CaseFold

/** Second wave of training-data pipeline operators (round 2): sequence
  * packing, benchmark decontamination, PII-style redaction, and
  * repetition/diversity quality signals. Like Pipeline, each is ONE
  * oracle-verified declarative query — the shapes a corpus build runs
  * between dedup and tokenization.
  */
object Pipeline2 {

  /** Tokens per training bin (≈ a shard of packed sequences). */
  val PackBudget = 2048

  /** Sequence packing: assign documents (deterministic doc_id order,
    * per language) to fixed-token-budget bins by exclusive running sum —
    * the operator that turns a deduped corpus into training shards.
    *
    * Implemented as a DISTRIBUTED PREFIX SUM, not one window per
    * language: a `Window.partitionBy(lang)` would serialize each
    * language's entire corpus through a single task (5 languages ⇒ 5
    * tasks at 100 TB — the straggler that kills the naive plan). Here:
    *   1. docs land in order-preserving doc_id range buckets;
    *   2. per-(lang, bucket) token totals — a tiny frame — get
    *      exclusive per-lang offsets (window over langs × buckets rows);
    *   3. the in-bucket running sum (parallelism = langs × buckets)
    *      plus the broadcast offset is the global cumsum.
    * Same output as the single-window formulation (the oracle computes
    * exactly that), linear parallelism in the bucket count.
    */
  def pipelinePackSequences(spark: SparkSession, dir: String): DataFrame = {
    val nToks = size(filter(CaseFold.tokens(col("text")), s => s =!= "")).cast("long")
    packByBudget(Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), nToks.as("n_toks")))
  }

  /** The distributed-prefix-sum packer over a prepared (doc_id, lang,
    * n_toks) frame — shared by the standalone query and the end-to-end
    * corpus build.
    */
  private[graft] def packByBudget(prepared: DataFrame): DataFrame = {
    // checkpoint the tokenized narrow frame: it feeds both the offsets
    // aggregation and the join side, and uncheckpointed lineage would
    // re-tokenize the full corpus per side (same idiom as the minhash
    // signature stream)
    val docs = prepared.localCheckpoint()
    // order-preserving bucketing needs doc_id ranges, not hashes; the
    // 2-value bounds agg is the same legitimate driver-side footprint
    // as IVF's centroid state
    val bounds = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    if (bounds.isNullAt(0)) {
      // empty corpus: null min/max — return the empty frame with the
      // output schema instead of NPEing on getLong
      return docs.select(col("doc_id"), col("lang"), col("n_toks"),
        col("n_toks").as("cum_toks"), col("n_toks").as("bin"))
    }
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val nBuckets = 32L
    val width = math.max(1L, (hi - lo) / nBuckets + 1L)
    val bucketed = docs.withColumn("bkt", ((col("doc_id") - lo) / width).cast("long"))
    val wOff = Window.partitionBy(col("lang")).orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    val offsets = bucketed.groupBy(col("lang"), col("bkt"))
      .agg(sum(col("n_toks")).as("bkt_toks"))
      .withColumn("offset", coalesce(sum(col("bkt_toks")).over(wOff), lit(0L)))
      .select(col("lang"), col("bkt"), col("offset"))
    val wIn = Window.partitionBy(col("lang"), col("bkt")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed
      .join(broadcast(offsets), Seq("lang", "bkt"))
      .withColumn("cum_toks", sum(col("n_toks")).over(wIn) + col("offset"))
      .withColumn("bin", expr(s"(cum_toks - n_toks) div $PackBudget"))
      .select(col("doc_id"), col("lang"), col("n_toks"), col("cum_toks"), col("bin"))
      .orderBy(col("lang"), col("doc_id"))
  }

  /** The end-to-end corpus build as ONE declarative query — the
    * north-star composite: language allowlist → quality gate (length +
    * stopword floor) → exact-dedup survivors → token-budget packing
    * into training bins. Every stage is the operator proven separately;
    * composing them costs two broadcastable joins and the packer's one
    * bucket-window shuffle.
    */
  def pipelineCorpusBuild(spark: SparkSession, dir: String): DataFrame = {
    val t = filter(CaseFold.tokens(col("text")), s => s =!= "")
    val nToks = size(t).cast("long")
    val stopHits = size(filter(t, s => s.isInCollection(
      Seq("the", "a", "of", "and", "to", "in", "is", "it", "for", "on"))))
    val base = Tables.documents(spark, dir)
      .filter(col("lang").isin("en", "de", "fr"))
      .select(col("doc_id"), col("lang"), col("text"),
        nToks.as("n_toks"), stopHits.as("stop_hits"))
      .filter(col("n_toks") >= 20 && col("stop_hits") >= 1)
    val survivors = base
      .groupBy(md5(CaseFold.lower(trim(col("text")))).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    packByBudget(base.join(survivors, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("lang"), col("n_toks")))
  }

  /** Benchmark decontamination: flag training documents sharing any
    * word-3-gram shingle with the held-out eval slice (doc_id % 50 = 0
    * stands in for the benchmark set). The eval shingle set is tiny
    * relative to the corpus, so it BROADCASTS — the train-side shingle
    * explosion never shuffles; this is the textbook contamination-check
    * plan at 100 TB.
    */
  def pipelineContamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val evalShingles = docs.filter(col("doc_id") % 50 === 0)
      .select(explode(Dedup.shingles(col("text"))).as("sh"))
      .distinct()
    docs.filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), explode(Dedup.shingles(col("text"))).as("sh"))
      .join(broadcast(evalShingles), Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("sh")).as("n_shared"))
      .orderBy(col("doc_id"))
  }

  /** Bloom-filter bits for the prefilter lane: sized for a
    * benchmark-scale eval shingle set at a small false-positive rate —
    * the filter is ~50 KB regardless of corpus size (bounded driver
    * state, the centroid-table discipline).
    */
  val BloomItems = 50000L
  val BloomBits = 400000L

  /** The 100 TB PREFILTER flip of [[pipelineContamination]]: build a
    * Bloom filter over the eval shingles (8 bits/item vs the full
    * shingle strings), drop corpus shingles that cannot match via a
    * codegen'd `might_contain` against the LITERAL filter bytes — no
    * join, no shuffle for the prefilter — then exact-verify only the
    * survivors through the same broadcast join. Bloom filters admit
    * false POSITIVES only, so prefilter + exact-verify ≡ the exact
    * join: this lane shares the exact lane's oracle verbatim (the
    * q74/q74b analysis-vs-decision discipline). At 100 TB the win is
    * volume INTO the join: ~(1 − fpp) of the exploded corpus shingle
    * stream dies at the scan-side filter.
    *
    * Vs [[Sketches2.bloomJoin]] (sketch_bloom_join): same
    * no-false-negatives prefilter ALGEBRA, deliberately different
    * everything else — that lane is the relational runtime-filter
    * idiom over a hand-written bit-set Aggregator on integer keys;
    * this one is the LLM-pipeline decontamination application driving
    * Spark's OWN BloomFilterAggregate/BloomFilterMightContain
    * expressions (public classes the default registry does not
    * expose), registered through [[graft.GraftExtensions]] as
    * `graft_bloom_agg` / `graft_bloom_might_contain` — the engine's
    * native sketch surfaced as a first-class SQL function.
    */
  def pipelineContaminationBloom(spark: SparkSession,
      dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // the SAME frame feeds the driver-side Bloom build AND the broadcast
    // verify side: checkpointed, so its scan+explode+distinct runs once
    // (an eager job) and both consumers read the stored rows
    val evalShingles = docs.filter(col("doc_id") % 50 === 0)
      .select(explode(Dedup.shingles(col("text"))).as("sh"))
      .distinct()
      .localCheckpoint()
    // bounded driver state: the filter bytes themselves (BloomBits/8).
    // NOTE this is an EAGER Spark job at DataFrame-construction time —
    // bench timings for this lane include the build, as a production
    // decontamination pass would. An EMPTY eval set aggregates to a
    // null filter (no rows reached the aggregate); the prefilter is
    // then skipped rather than passed as a NullType literal that fails
    // graft_bloom_might_contain's analysis — the exact verify join
    // against the empty eval side yields the same (empty) answer.
    val bloom = Option(evalShingles
      .agg(call_function("graft_bloom_agg", xxhash64(col("sh")),
        lit(BloomItems), lit(BloomBits)).as("bf"))
      .head().getAs[Array[Byte]]("bf"))
    val corpusShingles = docs.filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"),
        explode(Dedup.shingles(col("text"))).as("sh"))
    bloom.fold(corpusShingles)(bf =>
        corpusShingles.filter(call_function("graft_bloom_might_contain",
          lit(bf), xxhash64(col("sh")))))
      .join(broadcast(evalShingles), Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("sh")).as("n_shared"))
      .orderBy(col("doc_id"))
  }

  /** Redaction battery: emails and digit runs replaced with placeholder
    * tokens in `events.props`, redaction counts alongside (the audit
    * trail a PII pass must emit). Pure codegen'd regexp work — scales
    * as a narrow map over the corpus, no shuffle until the ORDER BY.
    */
  private val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  private val DigitsRe = "[0-9]+"

  /** The redaction transform itself — exposed for the idempotency spec
    * (placeholders contain no digits or addresses, so a second pass is
    * the identity).
    */
  private[graft] def scrub(c: Column): Column =
    regexp_replace(regexp_replace(c, EmailRe, "<EMAIL>"), DigitsRe, "<NUM>")

  def pipelineRedact(spark: SparkSession, dir: String): DataFrame = {
    // n_nums counts against the email-scrubbed INTERMEDIATE, so digits
    // inside an address (already replaced as part of <EMAIL>) are not
    // double-counted — the audit numbers match the replacements made
    val emailScrubbed = regexp_replace(col("props"), EmailRe, "<EMAIL>")
    Tables.events(spark, dir)
      .select(col("event_id"),
        scrub(col("props")).as("scrubbed"),
        regexp_count(col("props"), lit(EmailRe)).cast("long").as("n_emails"),
        regexp_count(emailScrubbed, lit(DigitsRe)).cast("long").as("n_nums"))
      .orderBy(col("event_id"))
  }

  /** Repetition/diversity quality signals (Gopher-rule flavor):
    * type-token ratio and the share of the single most-repeated token.
    * Explode → two aggregations, both partitioned by doc_id — the
    * distributed shape; per-row higher-order lambdas would be
    * interpreted and single-threaded per row.
    */
  def textRepetition(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(filter(CaseFold.tokens(col("text")), s => s =!= "")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_freq"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        Tables.r4(col("n_distinct").cast("double") / col("n_tokens").cast("double")).as("ttr"),
        Tables.r4(col("top_freq").cast("double") / col("n_tokens").cast("double")).as("top_token_ratio"))
      .orderBy(col("doc_id"))

  /** Shared by the exact lane and its Bloom-prefiltered flip. */
  private val ContaminationOracle: String =
    """WITH sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    list_transform(generate_series(1, len(t) - 2),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS sh
      |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)),
      |ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 50 = 0)
      |SELECT s.doc_id, count(DISTINCT s.sh) AS n_shared
      |FROM sh s JOIN ev ON s.sh = ev.sh
      |WHERE s.doc_id % 50 <> 0
      |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin

  val registry: Seq[QueryDef] = Seq(
    QueryDef("pipeline_corpus_build", pipelineCorpusBuild _,
      s"""WITH base AS (
         |  SELECT doc_id, lang, text,
         |    cast(len(list_filter(string_split(lower(text), ' '),
         |      s -> s <> '')) AS BIGINT) AS n_toks,
         |    len(list_filter(list_filter(string_split(lower(text), ' '),
         |      s -> s <> ''), s -> s IN
         |      ('the','a','of','and','to','in','is','it','for','on'))) AS stop_hits
         |  FROM documents WHERE lang IN ('en','de','fr')),
         |gated AS (
         |  SELECT * FROM base WHERE n_toks >= 20 AND stop_hits >= 1),
         |survivors AS (
         |  SELECT min(doc_id) AS doc_id FROM gated
         |  GROUP BY md5(lower(trim(text))))
         |SELECT doc_id, lang, n_toks,
         |  cast(cum_toks AS BIGINT) AS cum_toks,
         |  cast((cum_toks - n_toks) // $PackBudget AS BIGINT) AS bin
         |FROM (
         |  SELECT doc_id, lang, n_toks,
         |    sum(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_toks
         |  FROM gated WHERE doc_id IN (SELECT doc_id FROM survivors))
         |ORDER BY lang, doc_id""".stripMargin),
    QueryDef("pipeline_pack_sequences", pipelinePackSequences _,
      s"""SELECT doc_id, lang, n_toks,
         |  cast(cum_toks AS BIGINT) AS cum_toks,
         |  cast((cum_toks - n_toks) // $PackBudget AS BIGINT) AS bin
         |FROM (
         |  SELECT doc_id, lang, n_toks,
         |    sum(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_toks
         |  FROM (SELECT doc_id, lang,
         |      cast(len(list_filter(string_split(lower(text), ' '),
         |        s -> s <> '')) AS BIGINT) AS n_toks
         |    FROM documents))
         |ORDER BY lang, doc_id""".stripMargin),
    QueryDef("pipeline_contamination", pipelineContamination _,
      ContaminationOracle),
    // shares the exact lane's oracle VERBATIM: Bloom filters admit
    // false positives only, and the exact-verify join scrubs those, so
    // prefilter + verify equals the exact join by construction — the
    // lanes differ in PLAN (scan-side might_contain kills ~(1-fpp) of
    // the shingle stream before the join), not in answer
    QueryDef("pipeline_contamination_bloom", pipelineContaminationBloom _,
      ContaminationOracle),
    QueryDef("pipeline_redact", pipelineRedact _,
      """SELECT event_id,
        |  regexp_replace(regexp_replace(props,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]+', '<NUM>', 'g') AS scrubbed,
        |  len(regexp_extract_all(props,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(regexp_replace(props,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]+')) AS n_nums
        |FROM events ORDER BY event_id""".stripMargin),
    QueryDef("text_repetition", textRepetition _,
      """SELECT doc_id,
        |  cast(sum(c) AS BIGINT) AS n_tokens,
        |  count(*) AS n_distinct,
        |  floor(cast(count(*) AS DOUBLE) / sum(c) * 10000 + 0.5) / 10000 AS ttr,
        |  floor(cast(max(c) AS DOUBLE) / sum(c) * 10000 + 0.5) / 10000 AS top_token_ratio
        |FROM (
        |  SELECT doc_id, tok, count(*) AS c FROM (
        |    SELECT doc_id, unnest(list_filter(
        |      string_split(lower(text), ' '), s -> s <> '')) AS tok
        |    FROM documents)
        |  GROUP BY doc_id, tok)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  )
}
