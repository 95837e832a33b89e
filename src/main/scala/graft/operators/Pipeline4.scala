package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.CaseFold

/** Fourth training-pipeline batch: context-window chunking and corpus
  * term weighting — the two steps between "clean documents" and "model
  * inputs" that the earlier pipeline batches didn't cover.
  *
  * Both are narrow-map + hash-agg shapes: chunking is a pure per-row
  * explode (no shuffle at all before the harness sort), TF-IDF is two
  * token-keyed aggregates and a broadcast scalar — the same partition
  * discipline as pipeline_vocab / pipeline_lm_score, so the plans scale
  * to a 1000-executor corpus build without a new shuffle pattern.
  */
object Pipeline4 {

  /** Chunk window (tokens) and stride. W > S ⇒ consecutive chunks
    * overlap by W − S tokens, the standard long-document treatment so a
    * span near a chunk boundary appears whole in at least one chunk.
    */
  val ChunkW = 64
  val ChunkS = 48

  /** Fixed-size overlapping chunking of each document's token stream —
    * the LM-context-window splitter. Chunk k covers tokens
    * [k·S, k·S + W) (0-based, clamped at the end), with starts
    * 0, S, 2S, … < n, so every token lands in ≥ 1 chunk and the final
    * chunk may be short. Each chunk is pinned by an md5 of its
    * space-joined tokens, so the oracle verifies CONTENTS, not just
    * counts, without shipping token arrays through the comparator.
    *
    * Scale: one projection + posexplode per document — no hash shuffle,
    * no window, embarrassingly parallel (plan-pinned in PLANS.md:
    * hx=0). The trailing orderBy adds one range exchange for
    * harness-determinism only; a production chunk writer would drop it
    * (or sortWithinPartitions) and keep the single codegen span over
    * the scan.
    */
  def pipelineChunk(spark: SparkSession, dir: String): DataFrame = {
    val t = CaseFold.tokens(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), t.as("t"))
      .select(col("doc_id"),
        posexplode(sequence(lit(0), size(col("t")) - 1, lit(ChunkS)))
          .as(Seq("chunk_id", "start")),
        col("t"))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        slice(col("t"), col("start") + 1, lit(ChunkW)).as("chunk"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("chunk")).cast("long").as("n_tokens"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** Corpus TF-IDF term weighting: for every (doc, term) with tf ≥ 3,
    * emit tf, document frequency, and tf·ln(N/df). The tf ≥ 3 floor
    * bounds output to genuinely recurrent terms (and keeps the result a
    * weighting table, not a corpus re-print). tf and df are exact
    * integers on both engines; only the final ln product carries the
    * documented r4 drift budget (NOTES rule 14) — and the result is
    * VALUE-pinned per (doc_id, w), never rank-ordered by the float, so
    * there is no tie-flip hazard.
    *
    * Scale: tf is one (doc, term)-keyed count with map-side combine; df
    * re-aggregates the (already distinct) tf pairs by term — no second
    * corpus scan and no distinct shuffle; N rides a one-row broadcast
    * cross join (the scalar-attach pattern). The tf–df join is
    * term-keyed and AQE-broadcastable once the tf ≥ 3 filter shrinks it.
    */
  def textTfidf(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(CaseFold.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val total = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    tf.filter(col("tf") >= 3)
      .join(df, Seq("w"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("w"), col("tf"), col("df"),
        Tables.r4(col("tf").cast("double")
          * log(col("n_docs").cast("double") / col("df").cast("double")))
          .as("tfidf"))
      .orderBy(col("doc_id"), col("w"))
  }

  /** Sample size for [[sampleWeighted]]. */
  private val WK = 64

  /** Weighted sampling without replacement via PRIORITY SAMPLING
    * (Duffield–Lund–Thorup): each doc gets priority w/u where w is its
    * weight (char length — the "how much training signal" proxy) and u
    * a deterministic salted-md5 uniform in [1, 2²⁸]; the sample is the
    * top-K priorities. Inclusion probability is ∝ w (large docs
    * overrepresented by design — weighted corpus subsampling), yet the
    * whole draw is a PURE FUNCTION of the rows: reproducible on any
    * cluster layout, any day, exactly like the stratified sampler's
    * integer-bps rule. Plan: scan → codegen projection →
    * TakeOrderedAndProject (0 shuffles). Float discipline: priority is
    * ONE division of two exact-int-valued doubles — correctly rounded,
    * bit-identical on both engines — and doc_id breaks any residual
    * tie deterministically.
    */
  def sampleWeighted(spark: SparkSession, dir: String): DataFrame =
    weightedKeep(Tables.documents(spark, dir))

  /** The priority rule alone, over any frame with (doc_id, text) —
    * split out so the spec can prove the draw is a pure function of the
    * rows (identical under any input partitioning).
    */
  private[graft] def weightedKeep(docs: DataFrame): DataFrame = {
    val w = greatest(length(col("text")), lit(1)).cast("long")
    val u = conv(substring(
      md5(concat(lit("wps:"), col("doc_id").cast("string"))), 1, 7), 16, 10)
      .cast("long") + 1
    docs
      .select(col("doc_id"), w.as("w"),
        (w.cast("double") / u.cast("double")).as("priority"))
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(WK)
  }

  val registry: Seq[QueryDef] = Seq(
    QueryDef("pipeline_sample_weighted", sampleWeighted _,
      s"""SELECT doc_id, w, w * 1.0 / u AS priority FROM (
         |  SELECT doc_id, greatest(length(text), 1) AS w,
         |    ('0x' || substring(md5('wps:' || cast(doc_id AS VARCHAR)), 1, 7))::BIGINT
         |      + 1 AS u
         |  FROM documents)
         |ORDER BY priority DESC, doc_id LIMIT $WK""".stripMargin),
    QueryDef("pipeline_chunk", pipelineChunk _,
      // range(0, n, S) = Spark's sequence(0, n-1, S) for n ≥ 1 (both are
      // the starts < n); list_slice's inclusive end = start + W matches
      // Spark's slice(start+1, W), both clamping at the array end
      s"""WITH t AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        |s AS (
        |  SELECT doc_id, t, unnest(range(0, len(t), $ChunkS)) AS start
        |  FROM t),
        |c AS (
        |  SELECT doc_id, start // $ChunkS AS chunk_id,
        |    list_slice(t, start + 1, start + $ChunkW) AS chunk
        |  FROM s)
        |SELECT doc_id, cast(chunk_id AS BIGINT) AS chunk_id,
        |  cast(len(chunk) AS BIGINT) AS n_tokens,
        |  md5(array_to_string(chunk, ' ')) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin),
    QueryDef("text_tfidf", textTfidf _,
      """WITH tf AS (
        |  SELECT doc_id, w, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        |    FROM documents) WHERE w <> '' GROUP BY doc_id, w),
        |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT doc_id, w, tf, df,
        |  floor(tf::DOUBLE * ln(n_docs::DOUBLE / df::DOUBLE) * 10000 + 0.5)
        |    / 10000 AS tfidf
        |FROM tf JOIN df USING (w) CROSS JOIN n
        |WHERE tf >= 3
        |ORDER BY doc_id, w""".stripMargin)
  )
}
