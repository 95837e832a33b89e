package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.WordCount

/** Golden-fixture parity with the reference corpus (FIXTURES.md §1):
  * exact reference tokenization semantics over
  * /root/reference/worker-fs/map-task-input.
  */
class WordCountSpec extends AnyFunSuite with SparkTestBase
    with BeforeAndAfterAll {

  private var cached: Option[DataFrame] = None

  // every test reads the corpus through `result`, so the guard sits in
  // its initializer: each test cancels where the corpus is absent
  lazy val result = {
    assumeReferenceCorpus()
    val df = WordCount.referenceJob(spark, SparkEntry.ReferenceCorpusDir).cache()
    cached = Some(df)
    df
  }

  // the session is shared by every suite: free the cache, so a later
  // suite starts with an empty cache manager
  override def afterAll(): Unit =
    try cached.foreach(_.unpersist()) finally super.afterAll()

  test("286 distinct words (golden)") {
    assert(result.count() === 286L)
  }

  test("10,404 total tokens (golden)") {
    val total = result.agg(sum(col("cnt"))).head().getLong(0)
    assert(total === 10404L)
  }

  test("21 partitions, exactly A-V minus K (golden)") {
    val keys = result.select("pkey").distinct().collect().map(_.getString(0)).sorted
    assert(keys.length === 21)
    assert(keys.mkString === "ABCDEFGHIJLMNOPQRSTUV")
  }

  test("top word counts (golden; 5th place is a tie at 146)") {
    val counts = result.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("sed") === 203L && counts("in") === 197L &&
      counts("et") === 156L && counts("ut") === 156L && counts("sit") === 146L)
    val fifth = counts.values.toSeq.sorted(Ordering[Long].reverse)(4)
    assert(fifth === 146L)
  }

  test("per-partition token counts sum to total (invariant)") {
    val perPart = result.groupBy("pkey").agg(sum("cnt").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perPart.values.sum === 10404L)
    assert(perPart("A") === 1097L && perPart("E") === 1125L && perPart("V") === 760L)
  }

  test("every output key is non-empty lowercase [a-z0-9_]+ (invariant)") {
    val bad = result.filter(!col("word").rlike("^[a-z0-9_]+$")).count()
    assert(bad === 0L)
  }

  test("partitioned CSV sink writes one directory per partition key (op #8)") {
    val out = java.nio.file.Files.createTempDirectory("wc_sink").toString
    try {
      graft.operators.WordCount.writePartitioned(result, out)
      val dirs = new java.io.File(out).listFiles()
        .filter(_.isDirectory).map(_.getName).filter(_.startsWith("pkey=")).sorted
      assert(dirs.length === 21)
      assert(dirs.map(_.stripPrefix("pkey=")).mkString === "ABCDEFGHIJLMNOPQRSTUV")
      // round-trip: reading the sink back reproduces the counts
      val back = spark.read.csv(out).count()
      assert(back === 286L)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }

  // the two tests below read no corpus, so they run everywhere

  test("the map normalizes once per document: no Lower/Upper, one strip under the Generate") {
    import org.apache.spark.sql.catalyst.expressions.{Lower, RegExpReplace, Upper}
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    val plan = WordCount.wordCountPartitioned(
      Tables.documents(spark, sf0001), "text").queryExecution.optimizedPlan
    val exprs = plan.flatMap(_.expressions)
    assert(!exprs.exists(_.exists {
      case _: Lower | _: Upper => true
      case _ => false
    }), s"case mapping left in the plan:\n$plan")
    val gens = plan.collect { case g: Generate => g }
    assert(gens.length === 1, s"one explode expected:\n$plan")
    // the plan's only regex runs inside the generator's input: once per
    // document, not once per token
    assert(gens.head.generator.exists(_.isInstanceOf[RegExpReplace]))
    assert(exprs.map(_.collect { case r: RegExpReplace => r }.length).sum === 1,
      s"a regex outside the generator:\n$plan")
  }

  test("partitionKey upper-folds a letter and keeps a digit and '_'") {
    import spark.implicits._
    val keys = Seq("9lives", "_under", "apple", "zebra").toDF("word")
      .select(WordCount.partitionKey(col("word"))).collect().map(_.getString(0))
    assert(keys.toSeq === Seq("9", "_", "A", "Z"))
  }
}
