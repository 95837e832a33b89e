package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.CaseFold

/** Text tier 6: subword TOKENIZER APPLY — the greedy longest-match
  * (WordPiece-style) segmenter, the family member BPE train/apply
  * (Pipeline5) does not cover: BPE applies a learned MERGE LIST
  * bottom-up; WordPiece walks the word left-to-right taking the
  * longest vocabulary prefix at each position. The production trick
  * this lane exists to demonstrate at 100 TB: tokenization is
  * word-local, so segment each DISTINCT word exactly once and re-weight
  * by word frequency — the segmenter runs on the vocabulary-sized
  * frame, never on the corpus-sized token stream.
  */
object TextAnalysis6 {

  /** The fixed subword vocabulary: every lowercase letter (so every
    * word segments — the single-char fallback) plus latin fragments
    * chosen for the corpus's lorem-ipsum register. Deterministic and
    * embedded in BOTH engines (interpolated into the oracle as VALUES),
    * so the only thing under test is the greedy walk itself.
    */
  val Vocab: Seq[String] =
    ('a' to 'z').map(_.toString) ++ Seq(
      "qu", "th", "er", "re", "it", "is", "or", "us", "um", "am", "em",
      "et", "ut", "ur", "un", "in", "ad", "at", "an", "il", "ip", "lo",
      "do", "co", "ex", "ne", "ob", "con", "per", "sed", "que", "pro",
      "tem", "por", "lab", "mag", "ali", "ent", "men", "tion",
      "lorem", "ipsum", "dolor", "amet", "magna")

  private val VocabSet: Set[String] = Vocab.toSet
  private val MaxTokLen: Int = Vocab.map(_.length).max

  require(Vocab.size == VocabSet.size, "duplicate vocab token")

  /** Greedy longest-match segmentation: at each position take the
    * longest vocabulary token that prefixes the remainder. Total by
    * construction (all 26 single letters are in the vocabulary and
    * input is pre-stripped to [a-z]), deterministic (at most one match
    * per length). Word-local — the distinct-word frame is the only
    * thing this ever runs on.
    */
  def segment(w: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var pos = 0
    while (pos < w.length) {
      var len = math.min(MaxTokLen, w.length - pos)
      while (len > 1 && !VocabSet.contains(w.substring(pos, pos + len)))
        len -= 1
      out += w.substring(pos, pos + len)
      pos += len
    }
    out.result()
  }

  private val segmentUdf = udf { (w: String) => segment(w) }

  /** Corpus subword statistics through the distinct-word path: strip
    * words to [a-z], count each distinct word ONCE, segment the
    * distinct-word frame, then re-weight — n_occ is frequency-weighted
    * occurrences, n_words the distinct words containing the token.
    * Plan: scan → explode → word-keyed aggregate (the only
    * corpus-sized shuffle) → narrow segment+explode over the
    * vocabulary-sized frame → token-keyed aggregate. No joins.
    */
  def textWordpiece(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(explode(CaseFold.tokens(col("text"))).as("w0"))
      .select(regexp_replace(col("w0"), "[^a-z]", "").as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    words
      .select(col("w"), col("cnt"), explode(segmentUdf(col("w"))).as("tok"))
      .groupBy(col("tok"))
      .agg(sum(col("cnt")).as("n_occ"),
        countDistinct(col("w")).as("n_words"))
      .select(col("tok").as("token"), col("n_occ"), col("n_words"))
      .orderBy(col("token"))
  }

  /** The oracle states the greedy walk as a recursive CTE: the next
    * token at position p is the vocabulary match with NO longer match
    * (the argmax by NOT EXISTS — unique because two same-length
    * matches would be equal strings). The single-letter rows guarantee
    * progress, so the recursion terminates at every word's end.
    */
  private val WordpieceOracle: String = {
    val vocabRows = Vocab.map(t => s"('$t')").mkString(",")
    s"""WITH RECURSIVE words AS (
      |  SELECT w, count(*) AS cnt FROM (
      |    SELECT regexp_replace(unnest(string_split(lower(text), ' ')),
      |      '[^a-z]', '', 'g') AS w
      |    FROM documents)
      |  WHERE w <> '' GROUP BY w),
      |vl AS (
      |  SELECT tok, length(tok) AS len
      |  FROM (VALUES $vocabRows) AS t(tok)),
      |seg(w, pos, tok) AS (
      |  SELECT w.w, v.len, v.tok
      |  FROM words w JOIN vl v ON substr(w.w, 1, v.len) = v.tok
      |  WHERE NOT EXISTS (SELECT 1 FROM vl v2
      |    WHERE v2.len > v.len AND substr(w.w, 1, v2.len) = v2.tok)
      |  UNION ALL
      |  SELECT s.w, s.pos + v.len, v.tok
      |  FROM seg s JOIN vl v ON substr(s.w, s.pos + 1, v.len) = v.tok
      |  WHERE s.pos < length(s.w)
      |    AND NOT EXISTS (SELECT 1 FROM vl v2
      |      WHERE v2.len > v.len AND substr(s.w, s.pos + 1, v2.len) = v2.tok)),
      |occ AS (SELECT w, tok, count(*) AS k FROM seg GROUP BY w, tok)
      |SELECT tok AS token,
      |  cast(sum(k * cnt) AS BIGINT) AS n_occ,
      |  cast(count(DISTINCT occ.w) AS BIGINT) AS n_words
      |FROM occ JOIN words USING (w)
      |GROUP BY tok ORDER BY token""".stripMargin
  }

  /** Tokenizer FERTILITY evaluation — the metric that picks a
    * tokenizer for a corpus: subword tokens per word and characters
    * per token, per source, in exact integer basis points (truncating
    * division, identical on both engines). Same distinct-word
    * discipline: the segmenter runs once per distinct word; per-source
    * frequencies re-weight the result through a broadcast join against
    * the vocabulary-sized segmentation frame (the broadcast-model
    * posture — the documented flip past broadcastability is a
    * word-keyed shuffle join, the BM25/LM discipline).
    */
  def textTokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(col("source"),
        explode(CaseFold.tokens(col("text"))).as("w0"))
      .select(col("source"), regexp_replace(col("w0"), "[^a-z]", "").as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("cnt"))
    val seg = words.select(col("w")).distinct()
      .select(col("w"), size(segmentUdf(col("w"))).cast("long").as("n_tok"),
        length(col("w")).cast("long").as("n_chr"))
    words.join(broadcast(seg), Seq("w"))
      .groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_words"),
        sum(col("cnt") * col("n_tok")).as("n_tokens"),
        sum(col("cnt") * col("n_chr")).as("n_chars"))
      .select(col("source"), col("n_words"), col("n_tokens"), col("n_chars"),
        // `div` is exact integer division (Spark's `/` returns double);
        // operands are positive so trunc == floor on both engines
        expr("(n_tokens * 10000) div n_words").as("fertility_bps"),
        expr("(n_chars * 10000) div n_tokens").as("chars_per_token_bps"))
      .orderBy(col("source"))
  }

  private val FertilityOracle: String = {
    val vocabRows = Vocab.map(t => s"('$t')").mkString(",")
    s"""WITH RECURSIVE words AS (
      |  SELECT source, w, count(*) AS cnt FROM (
      |    SELECT source,
      |      regexp_replace(unnest(string_split(lower(text), ' ')),
      |        '[^a-z]', '', 'g') AS w
      |    FROM documents)
      |  WHERE w <> '' GROUP BY source, w),
      |dw AS (SELECT DISTINCT w FROM words),
      |vl AS (
      |  SELECT tok, length(tok) AS len
      |  FROM (VALUES $vocabRows) AS t(tok)),
      |seg(w, pos, tok) AS (
      |  SELECT d.w, v.len, v.tok
      |  FROM dw d JOIN vl v ON substr(d.w, 1, v.len) = v.tok
      |  WHERE NOT EXISTS (SELECT 1 FROM vl v2
      |    WHERE v2.len > v.len AND substr(d.w, 1, v2.len) = v2.tok)
      |  UNION ALL
      |  SELECT s.w, s.pos + v.len, v.tok
      |  FROM seg s JOIN vl v ON substr(s.w, s.pos + 1, v.len) = v.tok
      |  WHERE s.pos < length(s.w)
      |    AND NOT EXISTS (SELECT 1 FROM vl v2
      |      WHERE v2.len > v.len AND substr(s.w, s.pos + 1, v2.len) = v2.tok)),
      |wtok AS (SELECT w, count(*) AS n_tok FROM seg GROUP BY w)
      |SELECT source,
      |  cast(sum(cnt) AS BIGINT) AS n_words,
      |  cast(sum(cnt * n_tok) AS BIGINT) AS n_tokens,
      |  cast(sum(cnt * length(w)) AS BIGINT) AS n_chars,
      |  cast(sum(cnt * n_tok) * 10000 // sum(cnt) AS BIGINT) AS fertility_bps,
      |  cast(sum(cnt * length(w)) * 10000 // sum(cnt * n_tok) AS BIGINT)
      |    AS chars_per_token_bps
      |FROM words JOIN wtok USING (w)
      |GROUP BY source ORDER BY source""".stripMargin
  }

  // ------------------------------------------------------- unigram LM

  /** Integer piece costs for the unigram lane (the -log p surrogate):
    * the single-char fallback is expensive (95); a multi-char piece
    * costs 40 + (ascii sum % 30), i.e. 40..69 — deterministic, embedded
    * in BOTH engines (interpolated into the oracle as VALUES), all
    * exact integers so the optimum can never flip on float drift.
    */
  val PieceCost: Map[String, Int] = Vocab.map { t =>
    t -> (if (t.length == 1) 95 else 40 + t.map(_.toInt).sum % 30)
  }.toMap

  /** Lexicographic (total cost, then token count) Viterbi over one
    * word — the unigram-LM segmenter: unlike the greedy walk, the DP
    * optimizes over ALL segmentations. Correctness of the two-key DP:
    * costs are additive and non-negative, so every global min-cost
    * path decomposes into per-position min-cost prefixes, and among
    * those the counts add — the per-position (minCost, minCount) pair
    * is a sufficient state.
    */
  def viterbi(w: String): (Long, Long) = {
    val n = w.length
    val Inf = Long.MaxValue / 4
    val best = Array.fill(n + 1)(Inf)
    val toks = Array.fill(n + 1)(Inf)
    best(0) = 0L
    toks(0) = 0L
    var i = 0
    while (i < n) {
      if (best(i) < Inf) {
        var len = 1
        val maxLen = math.min(MaxTokLen, n - i)
        while (len <= maxLen) {
          PieceCost.get(w.substring(i, i + len)).foreach { c =>
            val nc = best(i) + c
            val nt = toks(i) + 1
            if (nc < best(i + len) ||
              (nc == best(i + len) && nt < toks(i + len))) {
              best(i + len) = nc
              toks(i + len) = nt
            }
          }
          len += 1
        }
      }
      i += 1
    }
    (best(n), toks(n))
  }

  private val viterbiUdf = udf { (w: String) => viterbi(w) }
  private val greedyCostUdf = udf { (w: String) =>
    val seg = segment(w)
    (seg.map(t => PieceCost(t).toLong).sum, seg.length.toLong)
  }

  /** Unigram-LM (SentencePiece-style) segmentation audit: per distinct
    * word, the OPTIMAL segmentation cost/count under the piece-cost
    * table beside the greedy walk's — `saved = greedy - optimal ≥ 0`
    * is the corpus-level answer to "is longest-match good enough for
    * this vocabulary". Same 100 TB discipline as the whole tokenizer
    * family: the DP runs once per DISTINCT word on the
    * vocabulary-sized frame; the corpus-sized stream contributes only
    * the word-count aggregate.
    */
  def textUnigramLm(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(explode(CaseFold.tokens(col("text"))).as("w0"))
      .select(regexp_replace(col("w0"), "[^a-z]", "").as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    words
      .withColumn("v", viterbiUdf(col("w")))
      .withColumn("g", greedyCostUdf(col("w")))
      .select(col("w").as("word"), col("cnt").as("n_occ"),
        col("v._1").as("min_cost"), col("v._2").as("n_tok_min"),
        col("g._1").as("greedy_cost"), col("g._2").as("n_tok_greedy"),
        (col("g._1") - col("v._1")).as("saved"))
      .orderBy(col("word"))
  }

  /** The oracle states the DP as reachable-state enumeration: the
    * recursive term extends every (pos, cost, steps) state by every
    * matching piece, and UNION (dedup) bounds the state space to the
    * distinct triples — positions and costs are small integers, so the
    * set stays tiny per word. The optimum is then min(cost) at
    * pos = len(w), with min(steps) among min-cost rows; the greedy
    * baseline reuses the wordpiece walk (argmax-by-NOT-EXISTS longest
    * prefix) joined to the same cost table.
    */
  private val UnigramOracle: String = {
    val vocabRows = Vocab.map(t => s"('$t', ${PieceCost(t)})").mkString(",")
    s"""WITH RECURSIVE words AS (
      |  SELECT w, count(*) AS cnt FROM (
      |    SELECT regexp_replace(unnest(string_split(lower(text), ' ')),
      |      '[^a-z]', '', 'g') AS w
      |    FROM documents)
      |  WHERE w <> '' GROUP BY w),
      |vl AS (
      |  SELECT tok, length(tok) AS len, cost
      |  FROM (VALUES $vocabRows) AS t(tok, cost)),
      |reach(w, pos, cost, steps) AS (
      |  SELECT w, 0, 0, 0 FROM words
      |  UNION
      |  SELECT r.w, r.pos + v.len, r.cost + v.cost, r.steps + 1
      |  FROM reach r JOIN vl v ON substr(r.w, r.pos + 1, v.len) = v.tok
      |  WHERE r.pos < length(r.w)),
      |best AS (
      |  SELECT w, min(cost) AS min_cost FROM reach
      |  WHERE pos = length(w) GROUP BY w),
      |bestk AS (
      |  SELECT r.w, b.min_cost, min(r.steps) AS n_tok_min
      |  FROM reach r JOIN best b ON r.w = b.w AND r.cost = b.min_cost
      |  WHERE r.pos = length(r.w) GROUP BY r.w, b.min_cost),
      |seg(w, pos, tok) AS (
      |  SELECT w.w, v.len, v.tok
      |  FROM words w JOIN vl v ON substr(w.w, 1, v.len) = v.tok
      |  WHERE NOT EXISTS (SELECT 1 FROM vl v2
      |    WHERE v2.len > v.len AND substr(w.w, 1, v2.len) = v2.tok)
      |  UNION ALL
      |  SELECT s.w, s.pos + v.len, v.tok
      |  FROM seg s JOIN vl v ON substr(s.w, s.pos + 1, v.len) = v.tok
      |  WHERE s.pos < length(s.w)
      |    AND NOT EXISTS (SELECT 1 FROM vl v2
      |      WHERE v2.len > v.len AND substr(s.w, s.pos + 1, v2.len) = v2.tok)),
      |greedy AS (
      |  SELECT s.w, sum(v.cost) AS greedy_cost, count(*) AS n_tok_greedy
      |  FROM seg s JOIN vl v ON v.tok = s.tok GROUP BY s.w)
      |SELECT w AS word, cast(cnt AS BIGINT) AS n_occ,
      |  cast(min_cost AS BIGINT) AS min_cost,
      |  cast(n_tok_min AS BIGINT) AS n_tok_min,
      |  cast(greedy_cost AS BIGINT) AS greedy_cost,
      |  cast(n_tok_greedy AS BIGINT) AS n_tok_greedy,
      |  cast(greedy_cost - min_cost AS BIGINT) AS saved
      |FROM words JOIN bestk USING (w) JOIN greedy USING (w)
      |ORDER BY word""".stripMargin
  }

  val registry: Seq[QueryDef] = Seq(
    QueryDef("text_wordpiece", textWordpiece _, WordpieceOracle),
    QueryDef("text_tokenizer_fertility", textTokenizerFertility _,
      FertilityOracle),
    QueryDef("text_unigram_lm", textUnigramLm _, UnigramOracle))
}
