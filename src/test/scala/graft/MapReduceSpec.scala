package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.MapReduce

/** The reference's UDF triple, verbatim semantics, in a serializable
  * object so Spark closures don't capture the (non-serializable) suite.
  */
object ReferenceUdfs extends Serializable {
  import scala.util.Try
  def mapF(value: String): List[(String, String)] =
    value.split(" ", -1).toList
      .map(w => (w.toLowerCase(java.util.Locale.ROOT).replaceAll("""[^\w]""", ""), "1"))
      .filter(_._1.nonEmpty)
  def reduceF(key: String, values: Iterator[String]): String =
    values.map(v => Try(v.toInt).getOrElse(0)).sum.toString
  def seqOp(b: Long, v: String): Long = b + Try(v.toInt).getOrElse(0)
  def combOp(a: Long, b: Long): Long = a + b
  def finishF(b: Long): Long = b
}

/** The generic typed facade reproduces the reference's map/reduce contract
  * (reference: `user/UserDefinedFunctions.scala:5-30`), including the
  * "non-numeric value counts as 0" quirk (SURVEY.md §4 quirk 6).
  */
class MapReduceSpec extends AnyFunSuite with SparkTestBase {

  test("mapReduce word count matches golden corpus facts") {
    assumeReferenceCorpus()
    import spark.implicits._
    val docs = spark.read.option("wholetext", "true")
      .text(SparkEntry.ReferenceCorpusDir).as[String]
    val mr = MapReduce.mapReduce(docs)(ReferenceUdfs.mapF, ReferenceUdfs.reduceF)
      .collect().toMap
    assert(mr.size === 286)
    assert(mr.values.map(_.toLong).sum === 10404L)
    assert(mr("sed") === "203")
  }

  test("mapReduceAgg (combiner form) agrees with the no-combiner form") {
    assumeReferenceCorpus()
    import spark.implicits._
    val docs = spark.read.option("wholetext", "true")
      .text(SparkEntry.ReferenceCorpusDir).as[String]
    val agg = MapReduce.mapReduceAgg(docs)(
      ReferenceUdfs.mapF, 0L, ReferenceUdfs.seqOp, ReferenceUdfs.combOp,
      ReferenceUdfs.finishF).collect().toMap
    assert(agg.size === 286)
    assert(agg("sed") === 203L && agg("in") === 197L)
  }

  test("facade generality: inverted index (non-associative reduce)") {
    import spark.implicits._
    // a different user job through the same pluggable triple: word →
    // sorted distinct doc ids ("concatenate" reduce — no combiner form)
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").as[(Long, String)]
    val inverted = MapReduce.mapReduce(docs)(
      { case (id, text) => ReferenceUdfs.mapF(text).map { case (w, _) => (w, id) } },
      (_: String, ids: Iterator[Long]) => ids.toSeq.distinct.sorted.mkString(","))
      .collect().toMap
    // cross-check one word against a direct computation
    val probe = inverted.keys.head
    val expected = docs.collect()
      .filter { case (_, t) => ReferenceUdfs.mapF(t).exists(_._1 == probe) }
      .map(_._1).distinct.sorted.mkString(",")
    assert(inverted(probe) === expected)
    assert(inverted.nonEmpty)
  }

  test("non-numeric reduce values count as 0 (reference quirk 6)") {
    import spark.implicits._
    val kv = Seq("a x", "a 3").toDS() // tokens: a,x,a,3 → x→1, 3→1, a→2
    val mr = MapReduce.mapReduce(kv)(ReferenceUdfs.mapF, ReferenceUdfs.reduceF)
      .collect().toMap
    assert(mr("a") === "2")
  }
}
