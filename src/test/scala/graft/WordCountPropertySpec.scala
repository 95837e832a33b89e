package graft

import java.util.Locale
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import graft.operators.WordCount

/** The word-count map against the reference's own per-token normalizer
  * (single-space split, `toLowerCase`, then delete `[^\w]`), on text that
  * mixes the characters where a fold-then-strip kernel could drift from
  * it: the two code points whose lowercase is ASCII (U+0130, U+212A),
  * non-ASCII letters (ß, Σ), a supplementary letter with a case mapping
  * (U+10400), control whitespace and doubled spaces. Each sample runs one
  * Spark job over an RDD-backed frame, so the kernel goes through
  * codegen, not the local-relation folding of the optimizer.
  */
object WordCountPropertySpec extends Properties("wordcount") {

  private def reference(doc: String): Seq[String] =
    doc.split(" ", -1).toSeq
      .map(_.toLowerCase(Locale.ROOT).replaceAll("[^\\w]", ""))
      .filter(_.nonEmpty)

  private val piece: Gen[String] = Gen.frequency(
    10 -> Gen.alphaNumChar.map(_.toString),
    1 -> Gen.const("_"),
    3 -> Gen.const(" "),
    1 -> Gen.const("  "),
    2 -> Gen.oneOf(".", ",", "!", "'", "-", "(", ")"),
    1 -> Gen.oneOf("\n", "\t", "\r"),
    1 -> Gen.oneOf("\u0130", "\u212A", "\u00DF", "\u03A3", "\uD801\uDC00"))

  private val doc: Gen[String] = Gen.listOf(piece).map(_.mkString)

  property("words = the reference's per-token lower-then-strip") =
    forAll(Gen.nonEmptyListOf(doc)) { docs =>
      val spark = SparkTestBase.session
      val got = spark
        .createDataset(spark.sparkContext.parallelize(docs, 2))(Encoders.STRING)
        .select(WordCount.words(col("value")))
        .collect().map(_.getSeq[String](0).filter(_.nonEmpty)).toSeq
      got == docs.map(reference)
    }
}
