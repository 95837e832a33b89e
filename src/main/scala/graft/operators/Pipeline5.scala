package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.CaseFold

/** Fifth training-pipeline batch: BPE tokenizer TRAINING — learning the
  * merge table itself, the one tokenizer artifact earlier batches only
  * consumed (pipeline_vocab counts whole words; text_token_count applies
  * a fixed rule). Byte-pair encoding (Sennrich et al., ACL 2016) is the
  * standard subword algorithm: start from characters, repeatedly merge
  * the most frequent adjacent symbol pair, emit the merge list in order.
  *
  * Distribution shape: BPE trains on the WORD-FREQUENCY DICT, not the
  * raw corpus — one corpus scan builds (word, n), and every iteration
  * after that is a pair-count aggregate over the dict (vocab-sized, ~10⁴
  * rows per 10⁸ corpus tokens — shrinks, not grows, with corpus scale
  * because the dict is capped by the lexicon). Each iteration is one
  * map-side-combined hash aggregate plus a 1-row argmax; the only
  * driver state is the merge table being trained (K rows — the model,
  * same bounded-state contract as the Lloyd centroids in
  * [[Similarity]]). The dict is localCheckpoint'ed once so the K
  * iterations re-read cached partitions instead of re-scanning the
  * corpus.
  */
object Pipeline5 {

  /** Number of merge iterations (a real tokenizer runs 10⁴–10⁵; the
    * algorithm is identical per iteration, so K pins the semantics).
    */
  val BpeMerges = 6

  /** Words longer than this are dropped from the dict — the standard
    * guard against unbounded symbol strings from URLs/hashes.
    */
  val MaxWordLen = 12

  /** One merge step on a space-separated symbol string, as the SAME
    * string rewrite both engines run: double every space (so adjacent
    * pair occurrences never share a delimiter and one non-overlapping
    * left-to-right replace pass is exactly the greedy BPE merge — with
    * single spaces, `a b a b` would consume the shared space and miss
    * the second merge), replace the doubled-space pair with the merged
    * symbol, then collapse spaces back.
    */
  private[graft] def mergeStep(sym: org.apache.spark.sql.Column, pair: String) = {
    val search = " " + pair.replace(" ", "  ") + " "
    val target = " " + pair.replace(" ", "") + " "
    trim(regexp_replace(
      replace(
        replace(concat(lit(" "), sym, lit(" ")), lit(" "), lit("  ")),
        lit(search), lit(target)),
      " +", " "))
  }

  /** The shared training loop: returns the final merged symbol dict AND
    * the ordered merge list — [[pipelineBpeMerges]] emits the merges
    * (the tokenizer model), [[pipelineBpeApply]] the encoded vocabulary.
    */
  /** One corpus scan → word-frequency dict → per-word symbol string —
    * factored out so [[pipelineBpeApply]] can rebuild it without
    * re-running the training argmax loop.
    */
  private def dictOf(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(CaseFold.tokens(col("text"))).as("word"))
      .filter(col("word").rlike("^[a-z]+$") && length(col("word")) <= MaxWordLen)
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .select(trim(regexp_replace(col("word"), "(.)", "$1 ")).as("sym"), col("n"))
      .localCheckpoint(true)

  private def train(dict: DataFrame): (DataFrame, Seq[(Int, String, Long)]) = {
    var syms = dict
    val merges = Seq.newBuilder[(Int, String, Long)]
    for (it <- 1 to BpeMerges) {
      // adjacent-pair count weighted by word frequency; 1-row argmax
      val best = syms
        .select(col("n"), split(col("sym"), " ", -1).as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("n"), explode(expr(
          "transform(sequence(1, size(t)-1), i -> t[i-1] || ' ' || t[i])")).as("pair"))
        .groupBy(col("pair")).agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(1).collect()(0)
      val pair = best.getString(0)
      merges += ((it, pair, best.getLong(1)))
      syms = syms.select(mergeStep(col("sym"), pair).as("sym"), col("n"))
    }
    (syms, merges.result())
  }

  /** Train [[BpeMerges]] BPE merges over the document corpus; result is
    * the ordered merge table (it, pair, cnt) — cnt the weighted count of
    * the chosen pair at the time it was merged. Ties break
    * lexicographically on the pair so the argmax is deterministic.
    */
  def pipelineBpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    train(dictOf(spark, dir))._2.toDF("it", "pair", "cnt").orderBy(col("it"))
  }

  /** Vocabulary size emitted by [[pipelineBpeApply]]. */
  val BpeVocabTop = 32

  /** The ENCODE step: apply the trained merges to the dict and emit the
    * top-[[BpeVocabTop]] subword tokens by corpus-weighted frequency —
    * the learned vocabulary. In production the merge table broadcasts
    * and encoding is a per-row map over the corpus (the dict here IS the
    * compressed corpus: frequencies carry the weights); multi-char
    * entries prove the merges composed (e.g. a 3-char token requires a
    * merge whose side was itself a merge output).
    */
  def pipelineBpeApply(spark: SparkSession, dir: String): DataFrame = {
    // ENCODE = the training loop's merged dict: dict folded through
    // mergeStep(pair_1)…(pair_k), one narrow pass per trained merge
    val syms = train(dictOf(spark, dir))._1
    syms
      .select(explode(split(col("sym"), " ", -1)).as("token"), col("n"))
      .groupBy(col("token")).agg(sum(col("n")).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(BpeVocabTop)
  }

  /** The identical algorithm as unrolled DuckDB SQL: stage i recomputes
    * pair counts over the (i−1)-times-merged dict, picks the argmax with
    * the same (cnt DESC, pair) tie-break, and applies the same
    * doubled-space rewrite. `sum(n)` is cast BIGINT (DuckDB HUGEINT →
    * float64 bridge artifact otherwise — NOTES rule).
    */
  /** Curriculum staging: order training docs easy → hard by LEXICAL
    * DIVERSITY — the type–token ratio per mille, distinct words × 1000
    * div tokens — and bin into 4 stages (repetitive text first, the
    * competence-based curriculum heuristic). The score is exact integer
    * arithmetic — two counts and one integer division — so staging is
    * bit-stable across engines and cluster layouts (no float-rank tie
    * hazard, NOTES rule 14). Shape: one (doc, word) hash agg with
    * map-side combine, re-aggregated per doc — Zipf-hot stopwords
    * contribute ONE row per (doc, word) to the second agg, never per
    * occurrence, and both aggs key on doc_id-prefixed keys so there is
    * no hot single key at any corpus size. (A rare-word-density proxy
    * was considered and rejected: this corpus's generator vocabulary
    * has no df ≤ 3 tail, so it cannot discriminate here.)
    */
  def pipelineCurriculum(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(CaseFold.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("tok_cnt"), count(lit(1)).as("n_types"))
      .select(col("doc_id"), col("tok_cnt"), col("n_types"),
        expr("n_types * 1000 div tok_cnt").as("ttr"))
      .withColumn("stage",
        when(col("ttr") < 400, 1)
          .when(col("ttr") < 550, 2)
          .when(col("ttr") < 700, 3)
          .otherwise(4))
      .orderBy(col("doc_id"))
  }

  private val CurriculumOracle: String =
    """WITH tf AS (
      |  SELECT doc_id, w, cast(count(*) AS BIGINT) AS tf FROM (
      |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
      |    FROM documents) WHERE w <> '' GROUP BY doc_id, w),
      |sc AS (
      |  SELECT doc_id, cast(sum(tf) AS BIGINT) AS tok_cnt,
      |    cast(count(*) AS BIGINT) AS n_types
      |  FROM tf GROUP BY doc_id)
      |SELECT doc_id, tok_cnt, n_types,
      |  cast(n_types * 1000 // tok_cnt AS BIGINT) AS ttr,
      |  CASE WHEN n_types * 1000 // tok_cnt < 400 THEN 1
      |       WHEN n_types * 1000 // tok_cnt < 550 THEN 2
      |       WHEN n_types * 1000 // tok_cnt < 700 THEN 3
      |       ELSE 4 END AS stage
      |FROM sc ORDER BY doc_id""".stripMargin

  private def bpeOracle: String = bpeChain {
    val union = (1 to BpeMerges).map(i => s"SELECT * FROM b$i").mkString(" UNION ALL ")
    s"SELECT it, pair, cnt FROM ($union) ORDER BY it"
  }

  private def bpeApplyOracle: String = bpeChain(
    s"""SELECT token, cast(sum(n) AS BIGINT) AS cnt FROM (
       |  SELECT unnest(string_split(sym, ' ')) AS token, n FROM w$BpeMerges)
       |GROUP BY token ORDER BY cnt DESC, token LIMIT $BpeVocabTop""".stripMargin)

  /** The shared [[train]] loop as unrolled DuckDB CTEs; `finalSelect`
    * reads the merge argmaxes (b1…bK) or the final dict (wK).
    */
  private def bpeChain(finalSelect: String): String = {
    val base =
      s"""w0 AS (
         |  SELECT trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS sym, n FROM (
         |    SELECT word, cast(count(*) AS BIGINT) AS n FROM (
         |      SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
         |    WHERE regexp_matches(word, '^[a-z]+$$') AND length(word) <= $MaxWordLen
         |    GROUP BY word))""".stripMargin
    val stages = (1 to BpeMerges).map { i =>
      val p = i - 1
      s"""p$i AS (
         |  SELECT pair, cast(sum(n) AS BIGINT) AS cnt FROM (
         |    SELECT n, unnest(list_transform(generate_series(1, len(t) - 1),
         |      i -> t[i] || ' ' || t[i+1])) AS pair
         |    FROM (SELECT string_split(sym, ' ') AS t, n FROM w$p))
         |  GROUP BY pair),
         |b$i AS (SELECT $i AS it, pair, cnt FROM p$i ORDER BY cnt DESC, pair LIMIT 1),
         |w$i AS (
         |  SELECT trim(regexp_replace(
         |    replace(replace(' ' || sym || ' ', ' ', '  '),
         |      ' ' || replace(b.pair, ' ', '  ') || ' ',
         |      ' ' || replace(b.pair, ' ', '') || ' '),
         |    ' +', ' ', 'g')) AS sym, n
         |  FROM w$p CROSS JOIN b$i b)""".stripMargin
    }
    s"WITH ${(base +: stages).mkString(",\n")}\n$finalSelect"
  }

  val registry: Seq[QueryDef] = Seq(
    QueryDef("pipeline_bpe_merges", pipelineBpeMerges _, bpeOracle),
    QueryDef("pipeline_bpe_apply", pipelineBpeApply _, bpeApplyOracle),
    QueryDef("pipeline_curriculum", pipelineCurriculum _, CurriculumOracle)
  )
}
