package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextAnalysis5

/** Driver-side recompute of the LM quality tier: the bigram model
  * (counts + the micro-nat pinning, same JVM op sequence) and every
  * per-doc score brute-forced from raw text; class balance pinned so
  * the threshold genuinely splits the corpus.
  */
class TextLmSpec extends AnyFunSuite with SparkTestBase {

  private def tokensOf(text: String): Array[String] =
    Option(text).fold(Array.empty[String])(
      _.toLowerCase(java.util.Locale.ROOT).split(" ", -1).filter(_.nonEmpty))

  /** The model and scores recomputed in plain Scala from raw text. */
  private final class BruteForce(dir: String) {
    val docs: Array[(Long, Array[String])] = Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> tokensOf(r.getString(1)))
    def bigramsOf(t: Array[String]): Array[(String, String)] = t.dropRight(1).zip(t.drop(1))
    private val bigrams = docs.flatMap(d => bigramsOf(d._2))
    val cab: Map[(String, String), Long] =
      bigrams.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val ca: Map[String, Long] =
      bigrams.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val v: Long = docs.flatMap(_._2).distinct.length.toLong
    def nll(key: (String, String)): Long = math.floor(
      -math.log((cab(key) + 1).toDouble / (ca(key._1) + v)) * 1e6 + 0.5).toLong
  }

  private def checkTrain(dir: String): Unit = {
    val bf = new BruteForce(dir)
    val got = TextAnalysis5.textLmTrain(spark, dir).collect()
    assert(got.length === bf.cab.size)
    got.foreach { r =>
      val key = (r.getString(0), r.getString(1))
      assert(r.getLong(2) === bf.cab(key), s"c_ab of $key")
      assert(r.getLong(3) === bf.ca(key._1), s"c_a of ${key._1}")
      assert(r.getLong(4) === bf.v)
      assert(r.getLong(5) === bf.nll(key), s"nll of $key")
    }
  }

  private def checkPerplexity(dir: String): Array[Row] = {
    val bf = new BruteForce(dir)
    val got = TextAnalysis5.textLmPerplexity(spark, dir).collect()
    assert(got.length === bf.docs.length, "every document gets a verdict")
    val byId = bf.docs.toMap
    got.foreach { r =>
      val id = r.getLong(0)
      val bg = bf.bigramsOf(byId(id))
      val sum = bg.map(bf.nll).sum
      assert(r.getLong(1) === bg.length.toLong, s"n_bigrams of $id")
      assert(r.getLong(2) === sum, s"nll sum of $id")
      assert(r.getBoolean(3) ===
        (sum > bg.length * TextAnalysis5.FlagMicroNats), s"flag of $id")
    }
    got
  }

  test("text_lm_train equals the brute-force model at sf0.001") {
    checkTrain(sf0001)
  }

  test("text_lm_perplexity equals the brute-force scores; both classes occur") {
    val got = checkPerplexity(sf0001)
    val flagged = got.count(_.getBoolean(3))
    assert(flagged > 0 && flagged < got.length,
      s"degenerate threshold: $flagged of ${got.length} flagged")
  }

  test("edge documents: null successors count toward V, never toward c_a") {
    // "mat" and "end" occur only as a document's last token, so they
    // are in V but have no model row; "solo" is a one-token document;
    // the all-space, empty and null texts have no tokens at all
    val dir = java.nio.file.Files.createTempDirectory("text_lm_fixture").toString
    import spark.implicits._
    try {
      Seq[(Long, String)](
        (1L, "solo"), (2L, "   "), (3L, "the cat sat on the mat"),
        (4L, "a a a"), (5L, "The  Cat ran to the end "), (6L, ""),
        (7L, null), (8L, "a cat"))
        .toDF("doc_id", "text")
        .coalesce(1).write.parquet(s"$dir/documents.parquet")
      checkTrain(dir)
      val got = checkPerplexity(dir).map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === Map(1L -> 0L, 2L -> 0L, 3L -> 5L, 4L -> 2L, 5L -> 5L,
        6L -> 0L, 7L -> 0L, 8L -> 1L))
      val v = TextAnalysis5.textLmTrain(spark, dir).select("v").distinct().collect()
      assert(v.map(_.getLong(0)).toSeq === Seq(10L),
        "V = solo the cat sat on mat a ran to end")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
