package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference-exact word count — the single job the reference ships
  * (reference: `user/UserDefinedFunctions.scala:5-30` driven by
  * `worker/services/WorkerServiceImpl.scala:58-154`).
  *
  * Semantics replicated deliberately (SURVEY.md §4):
  *   - whole-file read, then split on a SINGLE SPACE `" "` — not a
  *     whitespace regex. Newlines/tabs stay inside tokens, so words
  *     adjacent across a line break merge after normalization (118 such
  *     merged tokens in the reference corpus).
  *   - normalize = `toLowerCase`, THEN delete `[^\w]` (keeps
  *     `[A-Za-z0-9_]`). The order matters on exactly two code points:
  *     U+0130 'İ' lowercases to `i` + U+0307 and KELVIN SIGN U+212A to
  *     `k`, so the reference keeps them as `i` and `k`; a strip-first
  *     normalizer would drop them.
  *   - empty tokens are dropped (the reference would CRASH on `"".head` in
  *     `partitionBy`; we guard instead — quirk 5).
  *   - partition key = first character of the word, uppercased.
  *
  * The map normalizes each DOCUMENT once ([[words]]): one `translate`
  * folds case, one regex pass strips, then the single-space split. Only
  * `[A-Za-z0-9_]` survives the strip, and the only code points whose
  * lowercase leaves one of those behind are `A–Z`, U+0130 and U+212A, so
  * folding exactly those before the strip equals the reference's
  * lower-then-strip; the space is kept by the strip and is the only
  * separator, so splitting after it yields the reference's tokens. No
  * per-token regex and no full case fold: the other lanes fold through
  * [[graft.functions.CaseFold]], and this map needs only the three folds
  * above (NOTES.md, 2026-10-19).
  *
  * Scale: one narrow tokenize stage (whole-stage codegen: Project +
  * Generate(explode)) feeding one hash-aggregate shuffle keyed on `word`.
  * Map-side partial aggregation replaces the reference's combiner-less
  * shuffle of raw `(word,"1")` pairs — shuffle volume is
  * O(distinct words × partitions), not O(tokens). At 100 TB the same plan
  * holds; only `spark.sql.shuffle.partitions` changes.
  */
object WordCount {

  private val AsciiUpper = ('A' to 'Z').mkString
  private val AsciiLower = ('a' to 'z').mkString

  /** Case fold applied before the strip: `A–Z`, U+0130 and U+212A to
    * their reference lowercase (see the object doc).
    */
  private val FoldFrom = AsciiUpper + "\u0130\u212A"
  private val FoldTo = AsciiLower + "ik"

  /** ops #2–#3 — a document's normalized tokens, empties included: fold,
    * strip every non-word character but the space, split on `" "`.
    */
  def words(doc: Column): Column =
    split(regexp_replace(translate(doc, FoldFrom, FoldTo), "[^\\w ]", ""),
      " ", -1)

  /** op #4 — reference `partitionBy`: first char, uppercased. The word
    * is already `[a-z0-9_]`, so an ASCII fold is the whole rule.
    */
  def partitionKey(word: Column): Column =
    translate(substring(word, 1, 1), AsciiLower, AsciiUpper)

  /** Core pipeline over any corpus exposed as a one-string-per-document
    * column. Returns `(word, cnt)` sorted by word for deterministic output.
    */
  def wordCount(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(words(col(textCol))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("word")

  /** Word count with the reference's partition label as a column; the
    * reference materialized one output file per key — expressed here as
    * `.write.partitionBy("pkey")` at the sink (see [[writePartitioned]]).
    */
  def wordCountPartitioned(docs: DataFrame, textCol: String): DataFrame =
    wordCount(docs, textCol)
      .withColumn("pkey", partitionKey(col("word")))
      .orderBy("word")

  /** op #1 — whole-file text scan of a directory (one row per file), the
    * reference's input contract (1 file = 1 map split).
    */
  def readCorpus(spark: SparkSession, inputDir: String): DataFrame =
    spark.read.option("wholetext", "true").text(inputDir)

  /** End-to-end reference-parity job: corpus dir → `(word, cnt, pkey)`. */
  def referenceJob(spark: SparkSession, inputDir: String): DataFrame =
    wordCountPartitioned(readCorpus(spark, inputDir), "value")

  /** op #8 — partitioned sink, the reference's one-file-per-partition-key
    * output layout (without its leading-newline quirk).
    */
  def writePartitioned(result: DataFrame, outDir: String): Unit =
    result.write.mode("overwrite").partitionBy("pkey").csv(outDir)
}
