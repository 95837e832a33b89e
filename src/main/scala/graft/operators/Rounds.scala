package graft.operators

import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._

/** The one round driver of every iterative lane. An iterative algorithm
  * costs rounds × cost per round ("MapReduce Algorithms for Big Data
  * Analysis", VLDB 2012), so the cost of a round lives here only.
  *
  * A round is `step(prev)`, truncated by `localCheckpoint()` so lineage
  * stays one round deep. A stop test ([[Probe]]) rides the checkpoint's
  * own action as an `observe()` metric (ObservationCheckpointSpec pins
  * that this action feeds `Observation`), so a probed round is still ONE
  * action. A loop that reads a fixed frame every round keeps its
  * [[LoopCache.withCached]] around the call.
  */
private[graft] object Rounds {

  /** `metric` aggregates a round's output; the loop stops after the
    * first round whose value `done` accepts. Null (no rows) reads as 0.
    */
  final case class Probe(metric: Column, done: Double => Boolean)

  /** Stops after a round in which no output row satisfies `changed`. A
    * count stays right if a retried task double-counts the accumulator:
    * 0 stays 0, and n > 0 stays above 0.
    */
  def fixpoint(changed: Column): Probe = Probe(count_if(changed), _ == 0)

  /** Runs up to `maxRounds` rounds from `init` (exactly `maxRounds`
    * without a probe) and returns the last frame and the rounds run.
    */
  def iterate(init: DataFrame, maxRounds: Int, probe: Option[Probe] = None)(
      step: DataFrame => DataFrame): (DataFrame, Int) = {
    var (cur, rounds, done) = (init, 0, false)
    while (!done && rounds < maxRounds) {
      probe match {
        case None => cur = step(cur).localCheckpoint()
        case Some(p) =>
          val (next, value) = round(step(cur), p)
          cur = next
          done = p.done(value)
      }
      rounds += 1
    }
    (cur, rounds)
  }

  /** Checkpoints `next` with `p` observed on the checkpoint's action. If
    * the metric does not arrive, [[exact]] recomputes it.
    */
  def round(next: DataFrame, p: Probe): (DataFrame, Double) = {
    val obs = Observation()
    val cp = next.observe(obs, p.metric.as("probe")).localCheckpoint()
    val value = try valueOf(awaitObserved(obs))
      catch { case _: ObservationTimeout => exact(cp, p) }
    (cp, value)
  }

  /** The probe recomputed from a checkpointed round by its own job. */
  def exact(cp: DataFrame, p: Probe): Double =
    valueOf(cp.agg(p.metric.as("probe")).head())

  private def valueOf(r: Row): Double =
    Option(r.get(0)).fold(0.0)(_.asInstanceOf[Number].doubleValue)

  /** The wait for a metric after its (synchronous) action returned: only
    * the listener's delivery is awaited.
    */
  val ObserveWait: FiniteDuration = 120.seconds

  final class ObservationTimeout(name: String) extends RuntimeException(
    s"observe() metrics '$name' were not delivered within $ObserveWait")

  /** The observed row, or [[ObservationTimeout]]: an unbounded
    * `Observation.get` hangs forever if the listener never fires, and a
    * bench watchdog can only cancel jobs.
    *
    * A timeout leaves no listener behind: Spark 4.1 registers one
    * `ObservationManager` listener per session, not one per
    * `Observation`. It does leave the observation's entry in the
    * manager's `observations` map. A round waits once, so the rounds
    * per [[iterate]] call bound those entries.
    */
  def awaitObserved(obs: Observation): Row =
    try Await.result(obs.future, ObserveWait)
    catch { case _: TimeoutException => throw new ObservationTimeout(obs.name) }

  /** One round of min-label propagation: each node of `labels` (`node`,
    * `label`, `carry`…) takes the least of its label and the labels
    * `msgs` (`node`, `label`) sends it; every target must be a node. The
    * old label rides into the same aggregate as the self-row's `prev`
    * (null on messages), so [[LabelsSettled]] needs no second job.
    */
  def minLabelRound(labels: DataFrame, msgs: DataFrame, carry: String*): DataFrame = {
    def nullOf(c: String) = lit(null).cast(labels.schema(c).dataType)
    val self = labels.select(Seq(col("node"), col("label"), col("label").as("prev")) ++
      carry.map(col): _*)
    val sent = msgs.select(Seq(col("node"), col("label"), nullOf("label").as("prev")) ++
      carry.map(c => nullOf(c).as(c)): _*)
    self.union(sent).groupBy(col("node")).agg(min(col("label")).as("label"),
      (max(col("prev")).as("prev") +: carry.map(c => max(col(c)).as(c))): _*)
  }

  /** Labels only decrease, so a label that moved is below its `prev`. */
  val LabelsSettled: Probe = fixpoint(col("label") < col("prev"))
}
