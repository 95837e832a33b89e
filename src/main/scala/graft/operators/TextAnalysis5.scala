package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.CaseFold

/** Fifth text batch: STATISTICAL-LM QUALITY FILTERING as a PRODUCTION
  * GATE — the registered-twin complement of `pipeline_lm_score`
  * (Pipeline3), deliberately NOT a duplicate: that lane is the
  * ANALYSIS form (per-doc mean-ln fluency score, r4-rounded float, no
  * decision, model never materialized), while a CCNet-style pipeline
  * needs the FILTER form — a trained model that exists as a verified
  * artifact (reused across corpus versions, shipped to the scoring
  * fleet) and a per-document KEEP/DROP decision that is exactly
  * reproducible. Floats can't carry a filtering decision (a score a
  * hair from the threshold flips across engines/runs — the
  * SemDedupTau lesson), so this tier pins the model once and decides
  * in integers. The production model is a 5-gram KenLM; the
  * Spark-native re-expression is a Laplace-smoothed BIGRAM model —
  * the same shuffle/broadcast skeleton at any n, with the model table
  * growing V^(n-1)-fold while the corpus-side plan is unchanged.
  *
  * FLOAT DISCIPLINE (the reason this is two queries): the only
  * non-exact arithmetic is one `ln` per model row. Cross-engine `ln`
  * is not bit-pinned (unlike sqrt/div — NOTES #14), so each model
  * row's nll is pinned ONCE, in Spark, to an integer micro-nat grain,
  * and every downstream consumer — including the per-doc score — is
  * pure integer arithmetic over that pinned table. The oracles split
  * accordingly: `text_lm_train`'s oracle replays every COUNT exactly
  * from the corpus (c_ab, c_a, V) and takes only the micro-nat column
  * from the dump (the documented float-kernel seam, same class as the
  * LSH projections); `text_lm_perplexity`'s oracle re-derives every
  * document's bigrams from raw text, joins the DUMPED model table, and
  * replays the whole aggregation + flag — so a wrong join, a missed
  * bigram, or a wrong sum hash-fails even though `ln` itself is never
  * recomputed in SQL.
  *
  * At 100 TB: training is one pass — one corpus scan and one
  * bigram-keyed shuffle whose aggregate yields c_ab, c_a and V together
  * (the one-pass aggregates of "MapReduce Algorithms for Big Data
  * Analysis", VLDB 2012) — producing a model ≪ corpus. The per-word
  * (c_a, V) frame is vocabulary-sized: V's window count funnels it
  * through one task, and it is broadcast to the bigram rows. Scoring
  * joins the model back —
  * broadcast at this vocabulary, a term-keyed shuffle join past
  * broadcastability (the BM25 discipline). Per-doc state never exceeds
  * the token array already in the row.
  *
  * The model is not cached across lanes: each lane that needs it trains
  * it inside its own plan, so a lane's price is its own declared work,
  * and no job runs while a lane's frame is being built.
  */
object TextAnalysis5 {

  /** High-perplexity flag threshold, micro-nats per bigram: mean nll
    * above 3.43 nats (≈ perplexity 31) marks the tail. Chosen off the
    * fixture's measured per-doc distribution (sf0.01: median 3.387,
    * p90 3.425, max 3.611; sf0.001 shifts ~+0.03) so BOTH classes
    * occur at every gate SF (spec-pinned); a production run calibrates
    * it per corpus, exactly like CCNet's per-language percentile cut.
    */
  private[graft] val FlagMicroNats = 3430000L

  /** Successor stream: one row per token, `a`, with the next token of
    * the same document, `b` — null after a document's last token. Tokens
    * are [[graft.functions.CaseFold.tokens]] minus the empties: the fold
    * never reaches Spark's `lower` or its one-time title-case table. A
    * document without tokens keeps one all-null row (posexplode_outer),
    * so the scoring lane still gives it a verdict. Adjacent pairs come
    * from the array already in the row: no self-join, no shuffle.
    */
  private def successors(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), filter(CaseFold.tokens(col("text")), w => w =!= "").as("t"))
      .select(col("doc_id"), col("t"), posexplode_outer(col("t")).as(Seq("i", "a")))
      .select(col("doc_id"), col("a"), get(col("t"), col("i") + 1).as("b"))

  /** The trained model as a DataFrame: one row per observed bigram with
    * its exact counts and the pinned micro-nat cost. Laplace smoothing
    * p(b|a) = (c_ab + 1) / (c_a + V); nll = −ln p pinned via the
    * engine-stable floor(x·1e6 + 0.5) (NOTES #21) — every downstream
    * read is integer-only.
    *
    * ONE corpus scan and one `(a, b)` shuffle feed all three counts.
    * Grouping the successor stream by `(a, b)` with `count(b)` gives
    * c_ab, and 0 for the `(a, null)` group of a document's last token.
    * Every token is some row's `a` (the null `a` of a token-less doc is
    * dropped first), so the `a` groups of that same aggregate are the
    * vocabulary: c_a = Σ c_ab per `a`, and V = the number of `a` groups,
    * a window count over the per-`a` frame. Both branches read the same
    * aggregate, so the plan reuses its exchange. The bigram rows are
    * selected by `c_ab > 0`, not `b IS NOT NULL`: Catalyst pushes a
    * filter on a grouping key below the aggregate, the branches stop
    * matching, and a second scan comes back. PlanAudit pins
    * `scans == 1`.
    */
  private def model(spark: SparkSession, dir: String): DataFrame = {
    val pairs = successors(spark, dir).filter(col("a").isNotNull)
      .groupBy(col("a"), col("b")).agg(count(col("b")).as("c_ab"))
    val perA = pairs.groupBy(col("a")).agg(sum(col("c_ab")).as("c_a"))
      .withColumn("v", count(lit(1)).over())
    pairs.filter(col("c_ab") > 0)
      .join(broadcast(perA), Seq("a"))
      .withColumn("nll_micro_nats",
        floor(-log((col("c_ab") + 1).cast("double") /
          (col("c_a") + col("v")).cast("double")) * 1e6 + 0.5).cast("long"))
  }

  /** Registered training query: the model table itself. */
  def textLmTrain(spark: SparkSession, dir: String): DataFrame =
    model(spark, dir)
      .select(col("a"), col("b"), col("c_ab"), col("c_a"), col("v"),
        col("nll_micro_nats"))
      .orderBy(col("a"), col("b"))

  /** Registered scoring query: per-document NLL + the tail flag. Every
    * observed document bigram exists in the model by construction
    * (counts come from this same corpus), so `count(nll)` counts
    * exactly the document's bigrams; the left join keeps the
    * last-token rows (null `b`, no model row) and the all-null row of a
    * token-less doc, so degenerate docs get a zero score instead of
    * being dropped (the quality-gate lesson — a missing verdict is a
    * silent pass). The lane trains its own model: one scan for
    * training, one for scoring. The join keys compare null-safe: a
    * plain `=` on `b` makes Catalyst infer `b IS NOT NULL` on the model
    * side and push it below the shared aggregate, which splits it into
    * a second training scan. The model holds no null key, so `<=>`
    * matches exactly the rows `=` would.
    */
  def textLmPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val m = model(spark, dir)
      .select(col("a").as("m_a"), col("b").as("m_b"), col("nll_micro_nats"))
    successors(spark, dir)
      .join(broadcast(m), col("a") <=> col("m_a") && col("b") <=> col("m_b"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("nll_micro_nats")).as("n_bigrams"),
        coalesce(sum(col("nll_micro_nats")), lit(0L)).as("nll_micro_nats"))
      .withColumn("flagged",
        col("nll_micro_nats") > col("n_bigrams") * FlagMicroNats)
      .orderBy(col("doc_id"))
  }

  /** Shared oracle CTE stack: tokens and bigrams from raw text. */
  private val BigramCtes: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split(lower(text), ' '), w -> w <> '') AS t
      |  FROM documents),
      |big AS (
      |  SELECT doc_id, t[s.i] AS a, t[s.i + 1] AS b
      |  FROM toks, LATERAL unnest(generate_series(1, len(t) - 1)) AS s(i)
      |  WHERE len(t) >= 2)""".stripMargin

  private val LmTrainOracle: String =
    s"""$BigramCtes,
      |cab AS (SELECT a, b, count(*) AS c_ab FROM big GROUP BY 1, 2),
      |ca AS (SELECT a, count(*) AS c_a FROM big GROUP BY 1),
      |v AS (SELECT count(DISTINCT w) AS v
      |  FROM (SELECT unnest(t) AS w FROM toks)),
      |d AS (SELECT a, b, nll_micro_nats
      |  FROM read_parquet('__DUMP__/text_lm_train/*.parquet'))
      |SELECT cab.a, cab.b, CAST(cab.c_ab AS BIGINT) AS c_ab,
      |  CAST(ca.c_a AS BIGINT) AS c_a, CAST(v.v AS BIGINT) AS v,
      |  d.nll_micro_nats
      |FROM cab JOIN ca USING (a) CROSS JOIN v
      |  JOIN d ON d.a = cab.a AND d.b = cab.b
      |ORDER BY cab.a, cab.b""".stripMargin

  private val LmPerplexityOracle: String =
    s"""$BigramCtes,
      |m AS (SELECT a, b, nll_micro_nats
      |  FROM read_parquet('__DUMP__/text_lm_train/*.parquet')),
      |per AS (
      |  SELECT big.doc_id, count(*) AS nb, sum(m.nll_micro_nats) AS s
      |  FROM big JOIN m USING (a, b) GROUP BY big.doc_id)
      |SELECT d.doc_id,
      |  CAST(coalesce(per.nb, 0) AS BIGINT) AS n_bigrams,
      |  CAST(coalesce(per.s, 0) AS BIGINT) AS nll_micro_nats,
      |  coalesce(per.s, 0) > coalesce(per.nb, 0) * $FlagMicroNats AS flagged
      |FROM (SELECT doc_id FROM documents) d
      |  LEFT JOIN per ON per.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  val registry: Seq[QueryDef] = Seq(
    // counts replayed exactly from the corpus; the micro-nat column is
    // the one documented float-kernel seam (read from the dump)
    QueryDef("text_lm_train", textLmTrain _, LmTrainOracle),
    // the aggregation + flag fully replayed from raw text + the dumped
    // model — a wrong join/sum/flag hash-fails without recomputing ln
    QueryDef("text_lm_perplexity", textLmPerplexity _, LmPerplexityOracle)
  )
}
