package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.CaseFold

/** Text-analysis operators over `documents` — quality scoring, token
  * counting, fingerprinting, language ID. Everything except language ID
  * is pure `functions._` composition (codegen'd, no UDF); language ID
  * deliberately exercises the `udf()` registration surface (the one
  * place a closure is the clearest tool — a per-language lookup-table
  * argmax), with determinism pinned by test.
  */
object TextAnalysis {

  private val Stopwords =
    Seq("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")

  /** Quality stats: token count, mean token length, punctuation ratio,
    * stopword ratio, and a composite quality score.
    */
  def textStats(spark: SparkSession, dir: String): DataFrame = {
    val t = CaseFold.tokens(col("text"))
    val nToks = size(t)
    val meanLen = aggregate(transform(t, s => length(s)), lit(0),
      (acc, x) => acc + x).cast("double") / nToks.cast("double")
    // regexp_replace deletes [a-z0-9 ], so what REMAINS is punctuation —
    // its length IS the punct count (review caught the inverted form)
    val punct = length(regexp_replace(col("text"), "[a-z0-9 ]", ""))
    val punctRatio = punct.cast("double") / length(col("text")).cast("double")
    val stopRatio = size(filter(t, s => s.isInCollection(Stopwords)))
      .cast("double") / nToks.cast("double")
    Tables.documents(spark, dir).select(
      col("doc_id"),
      nToks.cast("long").as("n_tokens"),
      Tables.r4(meanLen).as("mean_token_len"),
      Tables.r4(punctRatio).as("punct_ratio"),
      Tables.r4(stopRatio).as("stopword_ratio"),
      Tables.r4(least(nToks.cast("double") / 100.0, lit(1.0)) * 0.3
        + (lit(1.0) - punctRatio) * 0.4
        + least(stopRatio * 5.0, lit(1.0)) * 0.3).as("quality_score"))
      .orderBy(col("doc_id"))
  }

  /** Token counting two ways: whitespace split + a BPE-ish regex
    * (letter runs | digit runs | single non-space symbol).
    */
  def textTokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      size(split(col("text"), "\\s+", -1)).as("ws_tokens"),
      regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]")).as("bpe_tokens"),
      length(col("text")).as("n_chars"))
      .orderBy(col("doc_id"))

  /** Rolling polynomial fingerprint over characters:
    * h ← (h·131 + ascii(c)) mod 1e9+7 — pure int64 arithmetic, exact in
    * any engine; Java split("", -1) yields a trailing "" that must be
    * filtered to mirror DuckDB's string_split.
    */
  def textFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      aggregate(
        filter(split(col("text"), "", -1), c => c =!= ""),
        lit(0L),
        (h, c) => (h * 131L + ascii(c)) % 1000000007L).as("fingerprint"))
      .orderBy(col("doc_id"))

  /** Language-ID heuristic: argmax of per-language stopword hit ratios
    * (n-gram-table style), via the udf() surface. Ties → "und".
    */
  private val langStopwords: Map[String, Set[String]] = Map(
    "en" -> Set("the", "and", "of", "to", "in", "is", "it", "for"),
    "de" -> Set("der", "die", "das", "und", "ist", "nicht", "mit"),
    "fr" -> Set("le", "la", "les", "et", "est", "pas", "pour"),
    "es" -> Set("el", "la", "los", "las", "es", "y", "por"),
    "zh" -> Set("的", "是", "了", "在", "我", "有"))

  private val langidUdf = udf { text: String =>
    if (text == null || text.isEmpty) "und"
    else {
      // the engine's root-locale fold, as in every tokenizer lane (the
      // SQL oracle replays this udf); a default-locale fold turns 'I'
      // into dotless 'ı' on a tr JVM and breaks stopword hits
      val ts = CaseFold.lower(text).split(" ", -1).filter(_.nonEmpty)
      if (ts.isEmpty) "und"
      else {
        val scores = langStopwords.view.mapValues(sw => ts.count(sw)).toMap
        val best = scores.maxBy { case (l, s) => (s, l) }
        if (best._2 == 0) "und" else best._1
      }
    }
  }

  /** Character-trigram frequency profile per language — the n-gram
    * table a profile-based language identifier trains on: top-3 char
    * trigrams of each labeled language by corpus frequency.
    */
  def textNgramProfile(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tris = Tables.documents(spark, dir)
      .select(col("lang"), CaseFold.lower(col("text")).as("lt"), length(col("text")).as("n"))
      .filter(col("n") >= 3)
      .select(col("lang"), explode(sequence(lit(1), col("n") - 2)).as("i"), col("lt"))
      .select(col("lang"), col("lt").substr(col("i"), lit(3)).as("tri"))
    val w = Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("tri"))
    tris.groupBy(col("lang"), col("tri")).agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("lang"), col("rn"), col("tri"), col("cnt"))
      .orderBy(col("lang"), col("rn"))
  }

  /** Predicted language + agreement with the labeled `lang` column. */
  def textLangid(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        langidUdf(col("text")).as("predicted"))
      .withColumn("agree", (col("lang") === col("predicted")).cast("int"))
      .orderBy(col("doc_id"))

  val registry: Seq[QueryDef] = Seq(
    QueryDef("text_stats", textStats _,
      """WITH base AS (
        |  SELECT doc_id,
        |    cast(len(t) AS BIGINT) AS n_tokens,
        |    cast(list_sum(list_transform(t, s -> len(s))) AS DOUBLE)
        |      / len(t) AS mean_raw,
        |    cast(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
        |      / length(text) AS punct_raw,
        |    cast(len(list_filter(t, s -> s IN
        |        ('the','a','of','and','to','in','is','it','for','on'))) AS DOUBLE)
        |      / len(t) AS stop_raw
        |  FROM (SELECT doc_id, text, string_split(lower(text), ' ') AS t
        |    FROM documents))
        |SELECT doc_id, n_tokens,
        |  floor(mean_raw * 10000 + 0.5) / 10000 AS mean_token_len,
        |  floor(punct_raw * 10000 + 0.5) / 10000 AS punct_ratio,
        |  floor(stop_raw * 10000 + 0.5) / 10000 AS stopword_ratio,
        |  floor((least(cast(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.3
        |    + (1.0 - punct_raw) * 0.4
        |    + least(stop_raw * 5.0, 1.0) * 0.3) * 10000 + 0.5) / 10000 AS quality_score
        |FROM base ORDER BY doc_id""".stripMargin),
    QueryDef("text_token_count", textTokenCount _,
      """SELECT doc_id,
        |  len(string_split_regex(text, '\s+')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS bpe_tokens,
        |  length(text) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin),
    QueryDef("text_fingerprint", textFingerprint _,
      """SELECT doc_id,
        |  list_reduce(list_prepend(cast(0 AS BIGINT),
        |    list_transform(string_split(text, ''), c -> cast(ascii(c) AS BIGINT))),
        |    (h, c) -> (h * 131 + c) % 1000000007) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin),
    QueryDef("text_ngram_profile", textNgramProfile _,
      """WITH tris AS (
        |  SELECT lang, substring(lower(text), i, 3) AS tri
        |  FROM documents, generate_series(1, 16386) AS t(i)
        |  WHERE i <= length(text) - 2),
        |counted AS (
        |  SELECT lang, tri, count(*) AS cnt FROM tris GROUP BY lang, tri)
        |SELECT lang, cast(rn AS BIGINT) AS rn, tri, cnt FROM (
        |  SELECT lang, tri, cnt, row_number() OVER (PARTITION BY lang
        |    ORDER BY cnt DESC, tri) AS rn FROM counted)
        |WHERE rn <= 3 ORDER BY lang, rn""".stripMargin),
    // the udf() is oracle-verified too: DuckDB replays the stopword-
    // table argmax (score DESC, lang DESC ties — mirroring maxBy)
    QueryDef("text_langid", textLangid _,
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |  FROM documents),
        |s AS (SELECT doc_id, lang,
        |  len(list_filter(toks, x -> x IN ('the','and','of','to','in','is','it','for'))) AS s_en,
        |  len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','mit'))) AS s_de,
        |  len(list_filter(toks, x -> x IN ('le','la','les','et','est','pas','pour'))) AS s_fr,
        |  len(list_filter(toks, x -> x IN ('el','la','los','las','es','y','por'))) AS s_es,
        |  len(list_filter(toks, x -> x IN ('的','是','了','在','我','有'))) AS s_zh
        |  FROM t),
        |r AS (SELECT doc_id, lang, unnest([
        |    {'sc': s_en, 'l': 'en'}, {'sc': s_de, 'l': 'de'},
        |    {'sc': s_fr, 'l': 'fr'}, {'sc': s_es, 'l': 'es'},
        |    {'sc': s_zh, 'l': 'zh'}]) AS rec FROM s),
        |best AS (SELECT doc_id, lang, rec.sc AS sc, rec.l AS l,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY rec.sc DESC, rec.l DESC) AS rn FROM r)
        |SELECT doc_id, lang,
        |  CASE WHEN sc = 0 THEN 'und' ELSE l END AS predicted,
        |  cast(lang = (CASE WHEN sc = 0 THEN 'und' ELSE l END) AS INT) AS agree
        |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin)
  )
}
