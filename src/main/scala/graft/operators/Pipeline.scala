package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.CaseFold

/** Composite training-data pipelines — the north-star use case, each as
  * ONE oracle-verified query chaining the operator families end to end.
  * These are what a user of the engine actually runs: filter → score →
  * dedup → select → account.
  */
object Pipeline {

  /** Quality-filter pipeline: score every document (token count,
    * stopword ratio), rank within source, keep the top 10 per source.
    * Plan: one scan → scoring projection (codegen) → one window shuffle
    * on source → filter. No joins; at 100 TB the window partitions by
    * source and only top-k survive per partition.
    */
  def pipelineQualityFilter(spark: SparkSession, dir: String): DataFrame = {
    val t = CaseFold.tokens(col("text"))
    val nToks = size(t)
    val stopRatio = size(filter(t, s => s.isInCollection(
      Seq("the", "a", "of", "and", "to", "in", "is", "it", "for", "on"))))
      .cast("double") / nToks.cast("double")
    val score = least(nToks.cast("double") / 100.0, lit(1.0)) * 0.5 +
      least(stopRatio * 5.0, lit(1.0)) * 0.5
    val w = Window.partitionBy(col("source"))
      .orderBy(col("q").desc, col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"), Tables.r4(score).as("q"))
      .withColumn("rank_in_source", row_number().over(w).cast("long"))
      .filter(col("rank_in_source") <= 10)
      .orderBy(col("source"), col("rank_in_source"))
  }

  /** Pretraining-corpus pipeline: language allowlist → exact dedup
    * survivors (min doc_id per normalized-text digest) → per-(lang,
    * source) accounting of documents and token budget. The shape of a
    * real corpus build: every stage is one declarative step, the only
    * shuffles are the dedup groupBy and the final accounting groupBy.
    */
  def pipelinePretrainCorpus(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .filter(col("lang").isin("en", "de", "fr"))
    val survivors = docs
      .groupBy(md5(CaseFold.lower(trim(col("text")))).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    docs.join(survivors, Seq("doc_id"), "left_semi")
      .select(col("lang"), col("source"),
        size(filter(CaseFold.tokens(col("text")), s => s =!= "")).cast("long").as("n_toks"),
        col("n_chars"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("token_budget"),
        sum(col("n_chars")).as("char_budget"))
      .orderBy(col("lang"), col("source"))
  }

  /** Deterministic train/validation split — hash-based, NOT random:
    * the same document lands in the same split on any cluster, any
    * partitioning, any day (reproducible corpus builds). First md5
    * byte of the doc id < 230/256 ⇒ train (~90%).
    */
  def pipelineTrainSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
          .cast("int").as("h"))
      .withColumn("split", when(col("h") < 230, "train").otherwise("valid"))
      .select(col("doc_id"), col("split"))
      .orderBy(col("doc_id"))

  /** Per-language keep thresholds for the stratified sampler, in
    * 65536ths (integer, floor) — shared between the Spark rule and the
    * DuckDB oracle so the two can never round differently.
    */
  private[graft] val StratRates: Seq[(String, Long)] =
    Seq("en" -> 0.5, "de" -> 0.3, "fr" -> 0.3, "es" -> 0.1, "zh" -> 0.1)
      .map { case (l, r) => l -> (r * 65536).toLong }

  /** Stratified sampling per language — the corpus-rebalancing
    * primitive, as a deterministic salted-hash keep rule rather than an
    * RNG: keep a document iff the first 4 hex digits of
    * md5("strat:" ++ doc_id) fall below the stratum's threshold in
    * 65536ths. `stat.sampleBy` draws per-partition XORShift, so its
    * sampled set silently changes with cluster layout; this rule keeps
    * or drops the same document on any partitioning, any day — which is
    * what makes a rebalanced 100 TB corpus reproducible — and, being
    * plain SQL, it is oracle-verified instead of rows-only.
    */
  def pipelineSampleStratified(spark: SparkSession, dir: String): DataFrame =
    stratKeep(Tables.documents(spark, dir))

  /** The keep rule alone, over any frame with (doc_id, lang) — split out
    * so the spec can prove the sampled set is a pure function of the
    * rows (identical under any input partitioning).
    */
  private[graft] def stratKeep(docs: DataFrame): DataFrame = {
    val h = conv(substring(
      md5(concat(lit("strat:"), col("doc_id").cast("string"))), 1, 4), 16, 10)
      .cast("long")
    val thr = StratRates.foldLeft(lit(0L)) { case (acc, (lang, t)) =>
      when(col("lang") === lang, lit(t)).otherwise(acc)
    }
    docs.filter(h < thr)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  val registry: Seq[QueryDef] = Seq(
    QueryDef("pipeline_train_split", pipelineTrainSplit _,
      """SELECT doc_id,
        |  CASE WHEN ('0x' || substring(md5(cast(doc_id AS VARCHAR)), 1, 2))::int < 230
        |    THEN 'train' ELSE 'valid' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin),
    QueryDef("pipeline_sample_stratified", pipelineSampleStratified _,
      // thresholds interpolated from StratRates so the scaladoc's
      // "shared constants" claim is structurally true, not a convention
      s"""SELECT doc_id, lang FROM documents
        |WHERE ('0x' || substring(md5('strat:' || cast(doc_id AS VARCHAR)), 1, 4))::int
        |  < CASE lang ${StratRates.map { case (l, t) => s"WHEN '$l' THEN $t" }.mkString(" ")}
        |      ELSE 0 END
        |ORDER BY doc_id""".stripMargin),
    QueryDef("pipeline_quality_filter", pipelineQualityFilter _,
      """WITH scored AS (
        |  SELECT doc_id, source, lang,
        |    floor((least(cast(len(t) AS DOUBLE) / 100.0, 1.0) * 0.5
        |      + least(cast(len(list_filter(t, s -> s IN
        |          ('the','a','of','and','to','in','is','it','for','on'))) AS DOUBLE)
        |        / len(t) * 5.0, 1.0) * 0.5) * 10000 + 0.5) / 10000 AS q
        |  FROM (SELECT doc_id, source, lang,
        |      string_split(lower(text), ' ') AS t FROM documents))
        |SELECT doc_id, source, lang, q,
        |  cast(rn AS BIGINT) AS rank_in_source FROM (
        |  SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY q DESC, doc_id) AS rn FROM scored)
        |WHERE rn <= 10 ORDER BY source, rank_in_source""".stripMargin),
    QueryDef("pipeline_pretrain_corpus", pipelinePretrainCorpus _,
      """WITH docs AS (
        |  SELECT * FROM documents WHERE lang IN ('en','de','fr')),
        |survivors AS (
        |  SELECT min(doc_id) AS doc_id FROM docs
        |  GROUP BY md5(lower(trim(text))))
        |SELECT lang, source, count(*) AS n_docs,
        |  cast(sum(len(list_filter(string_split(lower(text), ' '),
        |    s -> s <> ''))) AS BIGINT) AS token_budget,
        |  cast(sum(n_chars) AS BIGINT) AS char_budget
        |FROM docs WHERE doc_id IN (SELECT doc_id FROM survivors)
        |GROUP BY lang, source ORDER BY lang, source""".stripMargin)
  )
}
