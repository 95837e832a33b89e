package graft

import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.streaming.StreamingQueries

/** The one lane runner over the task table, [[SparkEntry.registry]]. It
  * alone decides which lanes a run covers, which lane this machine
  * skips, which lanes stream, and how a lane is forced; each program
  * that runs lanes keeps only what is its own.
  */
object Lanes {

  sealed trait Outcome
  case object Ran extends Outcome
  final case class Skipped(reason: String) extends Outcome
  final case class Failed(error: Throwable) extends Outcome

  /** A subset spec: comma-separated names, trailing '*' = prefix match. */
  def onlyFilter(spec: Option[String]): String => Boolean = spec match {
    case Some(s) =>
      val pats = s.split(",").map(_.trim).filter(_.nonEmpty)
      name => pats.exists(p =>
        if (p.endsWith("*")) name.startsWith(p.dropRight(1)) else name == p)
    case None => _ => true
  }

  /** The lanes a run covers: `lanes` narrowed by the `SPARK_GRAFT_ONLY`
    * spec (unset = all). A spec that selects none throws and names
    * itself, so a typo cannot pass as an empty, green run.
    */
  def selected(lanes: Seq[QueryDef] = SparkEntry.registry,
      spec: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")): Seq[QueryDef] = {
    val picked = lanes.filter(q => onlyFilter(spec)(q.name))
    spec.foreach(s => require(picked.nonEmpty,
      s"SPARK_GRAFT_ONLY='$s' selects none of the ${lanes.size} lanes this run covers"))
    picked
  }

  /** A streaming lane drains a stream inside its `fn`. */
  def streaming(name: String): Boolean = name.startsWith("stream_")

  /** Why this machine cannot run `lane`: its external input is absent. */
  def skipReason(lane: QueryDef): Option[String] =
    lane.external.filterNot(p => Files.exists(Paths.get(p)))
      .map(p => s"external input absent: $p")

  /** Builds `lane` on `dir` and hands the frame to `action`. A skipped
    * lane's `fn` is never called. A streaming lane starts with
    * [[StreamingQueries.lastDrained]] cleared, so afterwards it holds
    * this lane's query or nothing, never an earlier lane's.
    */
  def run(spark: SparkSession, lane: QueryDef, dir: String)
      (action: DataFrame => Unit): Outcome = skipReason(lane) match {
    case Some(reason) => Skipped(reason)
    case None =>
      if (streaming(lane.name)) StreamingQueries.lastDrained = None
      try { action(lane.fn(spark, dir)); Ran }
      catch { case NonFatal(e) => Failed(e) }
  }

  /** Evaluates every output row and column; `count()` would let
    * Catalyst prune a projection-only query down to a row count.
    */
  def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
