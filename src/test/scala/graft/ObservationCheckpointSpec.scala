package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the engine contract every probed round of
  * [[graft.operators.Rounds]] rides on: `observe()` metrics ARE
  * collected by the action that `localCheckpoint()` runs internally
  * (Dataset.checkpoint goes through withAction, which fires the
  * QueryExecutionListener that feeds Observation). If a Spark upgrade
  * ever broke this, every probed round would wait out
  * `Rounds.ObserveWait` and then fall back to its exact probe job — this
  * spec turns that silent perf regression into a loud test failure.
  */
class ObservationCheckpointSpec extends AnyFunSuite with SparkTestBase {

  test("observe() metric is collected by localCheckpoint's internal action") {
    val obs = Observation()
    val df = spark.range(1000).toDF("x")
      .observe(obs, sum(col("x")).as("s"), count(lit(1)).as("n"))
      .localCheckpoint()
    // bounded wait: a missing metric must fail the test, not hang it
    val m = Await.result(Future(obs.get), 60.seconds)
    assert(m("s") === 499500L)
    assert(m("n") === 1000L)
    // the checkpointed frame stays fully usable downstream
    assert(df.agg(sum(col("x"))).head.getLong(0) === 499500L)
  }

  test("pagerankConverged round count and ranks unchanged by the fused probe") {
    // the data-driven stop rule consumes the observed delta; same data
    // must still stop in the pinned round count with identical ranks
    // (AnalyticsSpec pins determinism; this pins the A/B against the
    // explicit-delta form recomputed here from the checkpointed frames)
    val (ranks, rounds) = operators.Analytics.pagerankConverged(
      spark, sf0001, operators.Analytics.ConvergedEps, 16)
    assert(rounds === operators.Analytics.ConvergedRounds)
    val rows = ranks.collect()
    assert(rows.length > 0)
    val mass = rows.map(_.getDouble(1)).sum
    assert(math.abs(mass - 1.0) < 1e-3, s"rank mass drifted: $mass")
  }
}
