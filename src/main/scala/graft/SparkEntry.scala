package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Analytics, Analytics2, Analytics3, Analytics4, Analytics5, Analytics6, Analytics7, Analytics8, Dedup, Dedup2, Embeddings, Layout, Multimodal, Multimodal2, Pipeline, Pipeline2, Pipeline3, Pipeline4, Pipeline5, Pipeline6, Pipeline7, Pipeline8, Pipeline9, Pipeline10, Quality, Relational, Relational2, Relational3, Relational4, Relational5, Relational6, RowPattern, Similarity, Sketches, Sketches2, Sketches3, TextAnalysis, TextAnalysis2, TextAnalysis3, TextAnalysis4, TextAnalysis5, TextAnalysis6, WordCount}
import graft.sources.SyntheticEvents
import graft.streaming.StreamingQueries

/** Driver contract — see SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator has a `queries` entry; every SQL-expressible
  * one has a DuckDB `oracleSql` twin with IDENTICAL column names and a
  * deterministic ORDER BY. Aggregates over non-integer doubles are
  * `round(_, 2)` on both sides: float summation order differs between
  * engines, and rounding the (≤1e-7 absolute) error away keeps the
  * value-hash comparison stable.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Pricing-summary aggregate (TPC-H Q1 shape) — scan → filter →
    * partial+final hash agg, the canonical "did the engine wire up" probe.
    */
  def entry(spark: SparkSession): DataFrame =
    Queries.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** Reference corpus (read-only): 13 lorem-ipsum text files — the
    * reference's only dataset (reference: `worker-fs/map-task-input/`,
    * task table `master/data/MapTask.scala:19-87`).
    */
  val ReferenceCorpusDir = "/root/reference/worker-fs/map-task-input"

  private val core: Seq[QueryDef] = Seq(
    QueryDef("q1_agg", Queries.q1PricingSummary _,
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  cast(sum(cast(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        |  cast(sum(cast(l_extendedprice AS DECIMAL(12,2))
        |    * (1 - cast(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        |  cast(sum(cast(l_extendedprice AS DECIMAL(12,2))
        |    * (1 - cast(l_discount AS DECIMAL(4,2)))
        |    * (1 + cast(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
        |  round(avg(l_quantity), 2) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    QueryDef("wordcount_documents",
      (s, d) => WordCount.wordCount(Tables.documents(s, d), "text"),
      """SELECT word, count(*) AS cnt FROM (
        |  SELECT regexp_replace(lower(unnest(string_split(text, ' '))), '[^\w]', '', 'g') AS word
        |  FROM documents
        |) WHERE word <> '' GROUP BY word ORDER BY word""".stripMargin),
    // the reference corpus job itself is oracle-verified: DuckDB re-reads
    // the 13 text files and replays the exact tokenization semantics.
    // The corpus lies outside this repository (FIXTURES.md §1), so the
    // lane names it as its external input and is skipped where it is absent
    QueryDef("wordcount_reference",
      (s, _) => WordCount.referenceJob(s, ReferenceCorpusDir),
      s"""SELECT word, count(*) AS cnt, upper(substring(word, 1, 1)) AS pkey
         |FROM (
         |  SELECT regexp_replace(lower(unnest(string_split(content, ' '))), '[^\\w]', '', 'g') AS word
         |  FROM read_text('$ReferenceCorpusDir/*.txt')
         |) WHERE word <> '' GROUP BY word ORDER BY word""".stripMargin)
      .copy(external = Some(ReferenceCorpusDir))
  )

  /** Full registry: reference parity + relational/scalar surface (+ the
    * streaming and LLM-pipeline modules as they land).
    */
  val registry: Seq[QueryDef] =
    core ++ Relational.registry ++ Relational2.registry ++
      Relational3.registry ++ Relational4.registry ++ Relational5.registry ++
      Similarity.registry ++ Dedup.registry ++ TextAnalysis.registry ++
      Multimodal.registry ++ StreamingQueries.registry ++ Pipeline.registry ++
      Pipeline2.registry ++ Pipeline3.registry ++ Pipeline4.registry ++
      Embeddings.registry ++ Quality.registry ++ Analytics.registry ++
      Analytics2.registry ++ TextAnalysis2.registry ++
      SyntheticEvents.registry ++ Layout.registry ++ Relational6.registry ++
      Pipeline5.registry ++ Analytics3.registry ++
      Sketches.registry ++ Analytics4.registry ++ Sketches2.registry ++
      RowPattern.registry ++ Analytics5.registry ++ Sketches3.registry ++
      Analytics6.registry ++ TextAnalysis3.registry ++ Pipeline6.registry ++
      Analytics7.registry ++ Analytics8.registry ++ Pipeline7.registry ++
      Dedup2.registry ++ TextAnalysis4.registry ++ TextAnalysis5.registry ++
      Multimodal2.registry ++ Pipeline8.registry ++ TextAnalysis6.registry ++
      Pipeline9.registry ++ Pipeline10.registry

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables.
    */
  def oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap

  /** In-memory group cap for ObjectHashAggregate before it falls back
    * to SORT-BASED aggregation
    * (`spark.sql.objectHashAggregate.sortBased.fallbackThreshold`,
    * engine default 128 — r16, guide §1.2 step 3). Every
    * collect_set/collect_list/typed-UDAF lane here aggregates into far
    * more than 128 per-task groups (q97b's per-(priority, day) sketch
    * partials: ~375 groups/task at sf0.1; q81's per-order baskets:
    * ~4,700/task), so at the default the object-agg abandoned hashing
    * and paid a full sort + buffer serialization on EVERY such lane —
    * measured 0.85 → 0.50 s on the q97b daily stage alone, with the
    * same mode flip in q81/q77/q31. The cap bounds per-task memory at
    * (groups × buffer object); 65536 modest for the list/sketch buffers
    * here and scale-INDEPENDENT in nature (it is per task, not per
    * dataset — a 100 TB deployment sizes it to executor memory ÷ buffer
    * size, and past it the conservative sort fallback is exactly the
    * right behavior). Env-overridable so probes can restore the engine
    * default. [[GraftSession]] sets it on every session, so Bench,
    * Verify, the tools and the tests price the same execution mode.
    * Output-hash neutral: the only order-sensitive consumers of these
    * aggregates are sort_array / explode / count shaped (audited), and
    * the KLL estimate's insertion-order dependence never reaches an
    * oracle (NOTES #17).
    */
  val ObjAggFallbackThreshold: String =
    EnvKnob.positive("SPARK_GRAFT_OBJ_AGG_FALLBACK", 65536, Int.MaxValue).toString
}

/** Flagship query, kept separate so `entry` stays a one-liner. */
object Queries {

  /** TPC-H Q1-shaped pricing summary: filter → 2-key hash aggregate.
    * Plan at scale: parquet scan with `l_shipdate` predicate pushed down +
    * only 7 of 11 columns read; partial HashAggregate before the single
    * shuffle, final HashAggregate after. No join; no sort until the tiny
    * post-agg result.
    */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    import Tables.{money, rate}
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        Tables.sumMoney(col("l_extendedprice")).as("sum_base_price"),
        sum(money(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        sum(money(col("l_extendedprice")) * (lit(1) - rate(col("l_discount")))
          * (lit(1) + rate(col("l_tax")))).cast("double").as("sum_charge"),
        round(avg(col("l_quantity")), 2).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }
}
