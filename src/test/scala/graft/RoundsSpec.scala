package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.operators.Rounds

/** Pins the round driver every iterative lane runs through: a probed
  * round is ONE SQL execution (the checkpoint's, with the probe observed
  * on it), the exact fallback agrees with the observed metric, and an
  * empty start converges instead of failing.
  */
class RoundsSpec extends AnyFunSuite with SparkTestBase with Eventually {
  import RoundsSpec._

  /** The undirected path 0 - 1 - ... - (n-1), both directions. */
  private def path(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n - 1).flatMap(i => Seq((i.toLong, i + 1L), (i + 1L, i.toLong)))
      .toDF("u", "v")
  }

  private def propagate(edges: DataFrame, maxRounds: Int): (DataFrame, Int) = {
    val labels0 = edges.select(col("u").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint()
    Rounds.iterate(labels0, maxRounds, Some(Rounds.LabelsSettled)) { labels =>
      Rounds.minLabelRound(labels,
        labels.join(edges, labels("node") === edges("u"))
          .select(edges("v").as("node"), col("label")))
    }
  }

  test("min-label propagation on a path settles in n rounds with every label 0") {
    val n = 6
    val (labels, rounds) = propagate(path(n), 2 * n)
    // node n-1 takes label 0 in round n-1; round n moves nothing
    assert(rounds === n)
    val got = labels.select("node", "label").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (0 until n).map(i => i.toLong -> 0L).toMap)
  }

  test("a fixed-count loop runs exactly its rounds") {
    import spark.implicits._
    val (out, rounds) = Rounds.iterate(Seq(1L).toDF("x"), 4)(_.select((col("x") * 2).as("x")))
    assert(rounds === 4)
    assert(out.head().getLong(0) === 16L)
  }

  test("each probed round runs exactly one SQL execution") {
    val edges = path(5).localCheckpoint()
    val labels0 = edges.select(col("u").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint()
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new Recorder(seen)
    spark.listenerManager.register(listener)
    try {
      val (_, rounds) = Rounds.iterate(labels0, 20, Some(Rounds.LabelsSettled)) { labels =>
        Rounds.minLabelRound(labels,
          labels.join(edges, labels("node") === edges("u"))
            .select(edges("v").as("node"), col("label")))
      }
      assert(rounds === 5)
      // listener events arrive in order: once the marker's execution is
      // seen, every round's execution has been seen too
      val marker = Observation("rounds_spec_marker")
      spark.range(1).observe(marker, count(lit(1)).as("n")).collect()
      eventually(timeout(Span(60, Seconds))) {
        assert(seen.asScala.exists(_.contains("rounds_spec_marker")))
      }
      val before = seen.asScala.takeWhile(!_.contains("rounds_spec_marker")).toSeq
      assert(before === Seq.fill(rounds)("localCheckpoint"))
    } finally spark.listenerManager.unregister(listener)
  }

  test("the exact fallback returns the value the observed metric gave") {
    import spark.implicits._
    // dyadic values sum exactly in any order, so the two jobs' different
    // partition summation orders cannot tell the values apart
    val df = (1 to 200).map(i => (i.toLong, i * 0.375, i * 0.5)).toDF("node", "rank", "prev")
    val l1 = Rounds.Probe(sum(abs(col("rank") - col("prev"))), _ < 1e-9)
    val (cp, observed) = Rounds.round(df, l1)
    assert(Rounds.exact(cp, l1) === observed)
    assert(observed > 0)
    val moved = Rounds.fixpoint(col("rank") < col("prev"))
    val (cp2, count) = Rounds.round(df, moved)
    assert(Rounds.exact(cp2, moved) === count)
    assert(count === 200.0)
  }

  test("an empty initial frame converges after one round") {
    val t0 = System.nanoTime()
    val (labels, rounds) = propagate(path(2).filter(lit(false)), 10)
    assert(rounds === 1)
    assert(labels.count() === 0L)
    // the observed metric arrived: the fallback would have waited first
    assert((System.nanoTime() - t0) / 1e9 < Rounds.ObserveWait.toSeconds)
  }
}

object RoundsSpec {
  /** Records each SQL execution's action name, with the names of the
    * observations it carried. Top-level, so it captures no suite.
    */
  final class Recorder(seen: ConcurrentLinkedQueue[String]) extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val names = qe.observedMetrics.keys.filter(_ == "rounds_spec_marker")
      seen.add((funcName +: names.toSeq).mkString(" ")); ()
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = {
      seen.add(s"$funcName failed"); ()
    }
  }
}
