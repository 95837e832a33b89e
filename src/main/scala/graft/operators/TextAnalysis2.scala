package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.CaseFold

/** Second text-analysis batch: co-occurrence statistics for embedding /
  * language-model feature pipelines — skip-gram context pairs (the
  * word2vec training-pair generator) and PMI-scored adjacent bigrams
  * (collocation mining). Both run on the documents table's first
  * [[TextAnalysis2.MaxToks]] normalized tokens per document, so the
  * per-document work is bounded by construction — the property that
  * makes the pair fan-out safe at 100 TB (fan-out ≤ W·window per doc,
  * never O(doc_len²)).
  */
object TextAnalysis2 {

  /** Per-document token cap. Keeps pair generation bounded AND lets the
    * DuckDB oracle enumerate positions with a CONSTANT-bound
    * generate_series (NOTES.md #8: lateral series over a column bound is
    * not available there).
    */
  val MaxToks = 64

  /** First MaxToks raw space-split tokens, normalized (lower + strip
    * `[^\w]`), empties dropped AFTER slicing — the same order the oracle
    * applies, so positions line up exactly.
    */
  private def toks(c: Column): Column =
    filter(
      transform(slice(CaseFold.tokens(c), 1, MaxToks),
        t => regexp_replace(t, "[^\\w]", "")),
      t => t =!= "")

  /** Skip-gram context pairs (forward window = 2): for token w at
    * position i, emit (w, lst[i+1]) and (w, lst[i+2]) — the word2vec /
    * GloVe training-pair generator. Pure per-row array expansion
    * (transform + slice + one explode), zero joins; the ONLY shuffle is
    * the final count groupBy. Forward-only pairs avoid double-counting
    * the symmetric window. `cnt >= 3` bounds the output to repeated
    * pairs (the training signal); the full stream would be written to a
    * shard sink unaggregated at scale.
    */
  def skipgram(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(toks(col("text")).as("lst"))
      .select(explode(expr(
        "flatten(transform(lst, (w, i) -> transform(slice(lst, i + 2, 2)," +
          " w2 -> named_struct('w1', w, 'w2', w2))))")).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 3)
      .orderBy(col("w1"), col("w2"))
  }

  /** Shared token-list CTE for both oracles — slice, normalize, filter,
    * in the SAME order as [[toks]].
    */
  private val ToksCte: String =
    s"""toks AS (
       |  SELECT doc_id, list_filter(list_transform(
       |      (string_split(lower(text), ' '))[1:$MaxToks],
       |      t -> regexp_replace(t, '[^\\w]', '', 'g')),
       |    t -> t <> '') AS lst
       |  FROM documents)""".stripMargin

  private val SkipgramOracle: String =
    s"""WITH $ToksCte,
       |pos AS (
       |  SELECT doc_id, lst, i
       |  FROM toks, generate_series(1, $MaxToks) AS g(i)
       |  WHERE i <= len(lst)),
       |pairs AS (
       |  SELECT list_extract(lst, i) AS w1, list_extract(lst, i + d) AS w2
       |  FROM pos, (VALUES (1), (2)) AS o(d)
       |  WHERE i + d <= len(lst))
       |SELECT w1, w2, count(*) AS cnt
       |FROM pairs GROUP BY w1, w2 HAVING count(*) >= 3
       |ORDER BY w1, w2""".stripMargin

  /** PMI-scored adjacent bigrams (collocation mining):
    * pmi = ln((c_uv/B) / ((c_u/T)·(c_v/T))) for bigrams seen ≥ 5 times.
    * One corpus scan builds the token lists; unigram and bigram counts
    * are two aggregates over per-row expansions of that scan; T and B
    * ride along as a broadcast one-row frame (the textTfidf
    * scalar-attach idiom). Float discipline: the ratio is built from
    * exact-int-valued doubles with a FIXED multiply/divide order →
    * bit-identical across engines; only `ln` may differ by 1 ulp
    * (different libm), so the result is floor-scaled to 4 decimals,
    * which that drift cannot cross.
    */
  def pmiBigrams(spark: SparkSession, dir: String): DataFrame = {
    val lists = Tables.documents(spark, dir)
      .select(toks(col("text")).as("lst"))
      .localCheckpoint() // reused 3×: unigrams, bigrams, totals
    val uni = lists.select(explode(col("lst")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c_w"))
    val totals = lists.agg(
      sum(size(col("lst"))).as("t_toks"),
      sum(greatest(size(col("lst")) - 1, lit(0))).as("t_bi"))
    val bi = lists.filter(size(col("lst")) >= 2)
      .select(explode(expr(
        "transform(slice(lst, 1, size(lst) - 1)," +
          " (w, i) -> named_struct('w1', w, 'w2', element_at(lst, i + 2)))"))
        .as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("c_uv"))
      .filter(col("c_uv") >= 5)
    bi
      .join(uni.select(col("w").as("w1"), col("c_w").as("c_u")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c_w").as("c_v")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("c_uv"),
        (floor(log(
          col("c_uv").cast("double") * col("t_toks").cast("double")
            * col("t_toks").cast("double")
            / (col("t_bi").cast("double") * col("c_u").cast("double")
              * col("c_v").cast("double"))) * 1e4 + 0.5) / 1e4).as("pmi_r4"))
      .orderBy(col("w1"), col("w2"))
  }

  private val PmiOracle: String =
    s"""WITH $ToksCte,
       |uni AS (
       |  SELECT w, count(*) AS c_w
       |  FROM (SELECT unnest(lst) AS w FROM toks) GROUP BY w),
       |totals AS (
       |  SELECT sum(len(lst)) AS t_toks,
       |    sum(greatest(len(lst) - 1, 0)) AS t_bi FROM toks),
       |pos AS (
       |  SELECT lst, i FROM toks, generate_series(1, $MaxToks) AS g(i)
       |  WHERE i + 1 <= len(lst)),
       |bi AS (
       |  SELECT list_extract(lst, i) AS w1, list_extract(lst, i + 1) AS w2,
       |    count(*) AS c_uv
       |  FROM pos GROUP BY 1, 2 HAVING count(*) >= 5)
       |SELECT bi.w1, bi.w2, bi.c_uv,
       |  floor(ln(
       |    cast(bi.c_uv AS DOUBLE) * cast(t.t_toks AS DOUBLE)
       |      * cast(t.t_toks AS DOUBLE)
       |      / (cast(t.t_bi AS DOUBLE) * cast(cu.c_w AS DOUBLE)
       |        * cast(cv.c_w AS DOUBLE))) * 1e4 + 0.5) / 1e4 AS pmi_r4
       |FROM bi JOIN uni cu ON cu.w = bi.w1
       |        JOIN uni cv ON cv.w = bi.w2
       |        CROSS JOIN totals t
       |ORDER BY w1, w2""".stripMargin

  /** Flesch reading-ease readability scoring — the classic quality
    * signal for curriculum/difficulty staging, computed with the
    * standard dependency-free syllable heuristic: a word's syllable
    * count is its number of vowel-group runs (`[aeiouy]+`, min 1).
    * Sentence count = punctuation-run count (`[.!?]+`, min 1). All
    * three counts are exported as exact integers; the Flesch score
    * `206.835 − 1.015·(W/S) − 84.6·(Syl/W)` is two correctly-rounded
    * divisions and a left-associated linear combination — the identical
    * IEEE op sequence in both engines — exported floor-scaled ×100
    * (NOTES.md #14). One scan, no shuffle (the sort is the oracle
    * contract artifact).
    */
  def readability(spark: SparkSession, dir: String): DataFrame = {
    val words = filter(CaseFold.tokens(col("text")), w => w =!= "")
    val nw = size(words)
    val ns = greatest(lit(1), regexp_count(col("text"), lit("[.!?]+")))
    val syl = aggregate(
      transform(words, w => greatest(lit(1), regexp_count(w, lit("[aeiouy]+")))),
      lit(0), (a, x) => a + x)
    Tables.documents(spark, dir)
      .select(col("doc_id"), nw.as("nw"), ns.as("ns"), syl.as("syl"))
      .select(col("doc_id"),
        col("nw").cast("long").as("n_words"),
        col("ns").cast("long").as("n_sentences"),
        col("syl").cast("long").as("n_syllables"),
        floor((lit(206.835)
          - lit(1.015) * (col("nw").cast("double")
            / greatest(lit(1), col("ns")).cast("double"))
          - lit(84.6) * (col("syl").cast("double")
            / greatest(lit(1), col("nw")).cast("double"))) * 100)
          .cast("long").as("flesch_c"))
      .orderBy(col("doc_id"))
  }

  private val ReadabilityOracle: String =
    """WITH c AS (
      |  SELECT doc_id,
      |    len(list_filter(string_split(lower(text), ' '), w -> w <> '')) AS nw,
      |    greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS ns,
      |    coalesce(list_sum(list_transform(
      |      list_filter(string_split(lower(text), ' '), w -> w <> ''),
      |      w -> greatest(1, len(regexp_extract_all(w, '[aeiouy]+'))))), 0) AS syl
      |  FROM documents)
      |SELECT doc_id,
      |  cast(nw AS BIGINT) AS n_words,
      |  cast(ns AS BIGINT) AS n_sentences,
      |  cast(syl AS BIGINT) AS n_syllables,
      |  cast(floor((206.835
      |    - 1.015 * (cast(nw AS DOUBLE) / greatest(1, ns))
      |    - 84.6 * (cast(syl AS DOUBLE) / greatest(1, nw))) * 100) AS BIGINT) AS flesch_c
      |FROM c ORDER BY doc_id""".stripMargin

  val registry: Seq[QueryDef] = Seq(
    QueryDef("text_skipgram", skipgram _, SkipgramOracle),
    QueryDef("text_pmi", pmiBigrams _, PmiOracle),
    QueryDef("text_readability", readability _, ReadabilityOracle)
  )
}
