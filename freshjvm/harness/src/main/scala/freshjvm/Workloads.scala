package freshjvm

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.operators.{MapReduce, WordCount}

/** One timed operation of a round: build the frame (the operator call),
  * then plan it, then execute it.
  */
final case class Op(id: String, build: SparkSession => DataFrame,
    execute: DataFrame => Unit)

/** The reference job's map/reduce pair for [[MapReduce.mapReduce]]: a
  * single-space split of the whole file, `toLowerCase` plus deletion of
  * `[^\w]`, one `(word, 1)` per non-empty token; the reduce counts them.
  * No combiner, as in the reference.
  */
object WordCountTriple {
  def map(doc: String): Iterator[(String, Long)] =
    doc.split(" ", -1).iterator
      .map(_.toLowerCase(java.util.Locale.ROOT).replaceAll("[^\\w]", ""))
      .filter(_.nonEmpty).map(w => (w, 1L))

  def reduce(word: String, ones: Iterator[Long]): Long = ones.sum
}

/** The benchmark's workloads, each a fixed, ordered list of ops. */
object Workloads {

  /** Registered `SparkEntry.queries` lanes, run in this order on the
    * round's session. A fresh JVM's first op also pays the warm-up of
    * its first Spark jobs, so a round holds few ops:
    *  - `text_lm_train`, one of the LLM-pipeline lanes that read a
    *    cross-lane cached frame (ROADMAP item 1): its operator build
    *    trains the bigram model and `IterCache` persists and
    *    materializes it with eager jobs; in a fresh JVM the lookup
    *    always misses.
    *  - `stream_dedup`, a bounded `AvailableNow` stream with
    *    watermarked dedup state: micro-batches, checkpoint, WAL and
    *    state store.
    */
  val registeredLanes: Seq[String] = Seq("text_lm_train", "stream_dedup")

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def lanes(names: Seq[String], tables: String): Seq[Op] = {
    val registry = SparkEntry.queries
    names.map { n =>
      val fn = registry.getOrElse(n, sys.error(s"unregistered lane $n"))
      Op(n, s => fn(s, tables), noop)
    }
  }

  def mapReduceWordCount(spark: SparkSession, corpus: String): DataFrame = {
    import spark.implicits._
    val docs = WordCount.readCorpus(spark, corpus).as[String]
    MapReduce.mapReduce(docs)(WordCountTriple.map, WordCountTriple.reduce)
      .toDF("word", "cnt")
  }

  /** The ops of `workload` over `input`, the corpus directory or the
    * tables directory; `outDir` receives what the ops write.
    */
  def ops(workload: String, input: String, outDir: String): Seq[Op] =
    workload match {
      case "mapreduce_wordcount" => Seq(
        Op("WordCount.referenceJob", WordCount.referenceJob(_, input), noop),
        Op("WordCount.writePartitioned", WordCount.referenceJob(_, input),
          WordCount.writePartitioned(_, s"$outDir/partitioned")),
        Op("MapReduce.mapReduce", mapReduceWordCount(_, input), noop))
      case "registered_lanes" => lanes(registeredLanes, input)
      case other => sys.error(s"unknown workload $other")
    }
}
