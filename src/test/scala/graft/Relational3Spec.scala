package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Pipeline2, Relational3}

class Relational3Spec extends AnyFunSuite with SparkTestBase {

  test("salted join takes the sort-merge path and matches the unsalted result") {
    val salted = Relational3.q47SaltedJoin(spark, sf001)
    val rows = salted.collect()
    // the merge hint must hold through AQE: salting a broadcast join
    // would be meaningless (broadcasts don't skew)
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ in:\n$plan")
    val plain = Tables.events(spark, sf001)
      .groupBy(upper(substring(col("event_type"), 1, 3)).as("type_tag"))
      .agg(count(lit(1)).as("n"),
        sum(Tables.money(col("value"))).cast("double").as("sum_value"))
      .orderBy(col("type_tag"))
      .collect()
    assert(rows.toSeq === plain.toSeq)
  }

  test("supplier star join broadcasts every dimension") {
    val df = Relational3.q44SupplierRevenue(spark, sf001)
    df.collect()
    // AQE plan strings repeat the tree under "== Initial Plan ==";
    // count joins in the final section only
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    def count(s: String) = s.r.findAllIn(plan).length
    assert(count("BroadcastHashJoin") === 3, s"plan:\n$plan")
    assert(!plan.contains("SortMergeJoin"))
  }

  test("pack sequences: exclusive-cumsum bins, contiguous from 0 per lang") {
    val rows = Relational3Support.collectPack(spark, sf0001)
    rows.groupBy(_._2).foreach { case (_, docs) =>
      val sorted = docs.sortBy(_._1)
      var cum = 0L
      sorted.foreach { case (_, _, nToks, cumToks, bin) =>
        cum += nToks
        assert(cumToks === cum)
        assert(bin === (cum - nToks) / Pipeline2.PackBudget)
      }
      val bins = sorted.map(_._5)
      assert(bins.head === 0L)
      bins.zip(bins.tail).foreach { case (a, b) => assert(b >= a) }
    }
  }

  test("low-cardinality top-k windows get WindowGroupLimit (partial limit pre-shuffle)") {
    // quality filter ranks within ~20 sources; without Spark 4's
    // WindowGroupLimit the rank window would serialize each source
    // through one task at 100 TB. The rn<=10 filter must trigger the
    // partial per-partition limit so only k rows per source ship.
    val df = operators.Pipeline.pipelineQualityFilter(spark, sf001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"no partial limit in:\n$plan")
  }

  test("HLL sketches: merged daily estimates within 5% of exact, union == direct") {
    val rows = Relational3.q61Frame(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (est, exact) = (r.getLong(1), r.getLong(2))
      assert(math.abs(est - exact).toDouble / exact <= 0.05,
        s"${r.getString(0)}: est=$est exact=$exact")
    }
    // mergeability: unioning daily sketches tracks sketching directly.
    // NOT exact equality as a law — past the coupon→HLL promotion
    // (~512 distincts at lgK=12) a union uses the composite estimator
    // while an unmerged sketch uses HIP, so estimates may differ
    // slightly; bound the divergence instead
    val direct = Tables.events(spark, sf001)
      .groupBy(col("event_type"))
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id))").as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val (merged, one) = (r.getLong(1), direct(r.getString(0)))
      assert(math.abs(merged - one).toDouble / one <= 0.02,
        s"${r.getString(0)}: merged=$merged direct=$one")
    }
  }

  test("pack sequences on an empty corpus returns an empty frame, not an NPE") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-emptypack").toString
    Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang")
      .write.parquet(s"$tmp/documents.parquet")
    val out = Pipeline2.pipelinePackSequences(spark, tmp)
    assert(out.columns.toSeq === Seq("doc_id", "lang", "n_toks", "cum_toks", "bin"))
    assert(out.collect().isEmpty)
  }

  test("redaction is idempotent: a second scrub pass is the identity") {
    import spark.implicits._
    val samples = Seq(
      "reach me at jane.doe+spam@mail.example.org or call 555-0199",
      "no pii here at all",
      "ids 123 456 and a@b.co plus trailing 7",
      "<EMAIL> already scrubbed <NUM> stays put",
      "")
    val df = samples.toDF("s")
    val once = df.select(Pipeline2.scrub(col("s")).as("v")).collect().map(_.getString(0))
    val twice = df.select(Pipeline2.scrub(Pipeline2.scrub(col("s"))).as("v"))
      .collect().map(_.getString(0))
    assert(once.toSeq === twice.toSeq)
    assert(once(0) === "reach me at <EMAIL> or call <NUM>-<NUM>")
  }

  test("contamination: flagged docs are outside the eval slice and truly overlap") {
    val flagged = Pipeline2.pipelineContamination(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(flagged.nonEmpty)
    flagged.foreach { case (id, n) =>
      assert(id % 50 != 0L)
      assert(n >= 1L)
    }
    // driver-side ground truth on the small corpus
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), operators.Dedup.shingles(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    val evalSh = docs.filter(_._1 % 50 == 0).flatMap(_._2).toSet
    val expected = docs.filter(_._1 % 50 != 0)
      .map { case (id, sh) => id -> sh.count(evalSh.contains).toLong }
      .filter(_._2 >= 1).toMap
    assert(flagged.toMap === expected)
  }
}

/** Collect helper kept outside the suite so Spark closures never capture
  * the ScalaTest instance (TaskNotSerializable).
  */
object Relational3Support {
  def collectPack(spark: org.apache.spark.sql.SparkSession, dir: String)
      : Seq[(Long, String, Long, Long, Long)] =
    Pipeline2.pipelinePackSequences(spark, dir).collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
}
