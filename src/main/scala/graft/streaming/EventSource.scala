package graft.streaming

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source abstraction for the streaming surface. Every source yields the
  * SAME typed events schema (event_id, ts[µs], user_id, event_type,
  * value, props), so every downstream plan in [[StreamingQueries]] is
  * source-agnostic: swap the file replay for a Kafka topic and the
  * watermarks, windows, state stores, and sinks are untouched. The
  * reference has no streaming at all (SURVEY.md §2b), so this whole
  * surface is net-new; the abstraction is what makes it portable.
  */
trait EventSource {
  /** A STREAMING DataFrame in the canonical events schema. */
  def stream(spark: SparkSession): DataFrame
}

/** File-backed replay of `events.parquet` — the in-container stand-in
  * for a broker (none is installed). Whatever `ts` encoding the testdata
  * generator last wrote (µs timestamp or legacy raw nanos),
  * [[graft.Tables.adaptEventsTs]] normalizes the stream to the canonical
  * µs TimestampType exactly as the batch loader does.
  *
  * `maxFilesPerTrigger` throttles replay into multiple micro-batches —
  * how the specs prove the stateful queries are batching-independent
  * (a broker would never deliver everything in one batch).
  */
final case class FileEventSource(dir: String,
    maxFilesPerTrigger: Option[Int] = None) extends EventSource {
  def stream(spark: SparkSession): DataFrame = {
    val schema = graft.Tables.eventsRaw(spark, s"$dir/events.parquet").schema
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n.toString))
    graft.Tables.adaptEventsTs(
      reader
        // FileStreamSource wants a directory; a glob keeps the parent as
        // basePath while matching the single parquet file
        .parquet(s"$dir/events*.parquet"))
  }
}

/** A sliced replay fixture: the rows of one table split once into
  * parquet files, one per slice id, under `base`, and streamed with
  * `maxFilesPerTrigger=1`, so every trigger processes exactly one slice.
  * `sliceOf` is the slicing rule, a column that evaluates to a slice id
  * in `ids`. Each slice file gets a fixed modification time that grows
  * with its id; oldest-first is the FileStreamSource default
  * (latestFirst=false), so slices replay in id order. The build is
  * one-time setup cost, NOT part of any measured plan: a `_READY`
  * marker records the (length, mtime) fingerprint of the `source`
  * file, so a testdata REGEN (same path, new bytes) rebuilds the slices
  * instead of silently replaying stale data — that exact staleness bit
  * 35 queries in round 5. Slices are written from `rows`, so a table
  * loader that normalizes (µs TimestampType `ts` via
  * [[graft.Tables.events]]) leaves the stream needing no adapter.
  */
private final class Replay(base: String, source: String,
    rows: SparkSession => DataFrame, sliceOf: Column, ids: Seq[Int],
    fileName: Int => String) {

  def stream(spark: SparkSession): DataFrame = {
    val dir = prepare(spark)
    val schema = spark.read.parquet(s"$dir/${fileName(ids.head)}").schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/slice-*.parquet")
  }

  /** Build the slices unless the marker records the current source,
    * and return the fixture's path.
    */
  def prepare(spark: SparkSession): String = Replay.lock.synchronized {
    val dir = new java.io.File(base)
    val marker = new java.io.File(dir, "_READY")
    val src = new java.io.File(source)
    val fp = s"${src.length}:${src.lastModified}"
    val fresh = marker.exists() &&
      new String(java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8") == fp
    if (!fresh) {
      FileUtils.deleteDirectory(dir)
      dir.mkdirs()
      val sliced = rows(spark).withColumn("_slice", sliceOf).cache()
      try ids.foreach { i =>
        val tmp = new java.io.File(dir, s"_tmp-$i")
        sliced.filter(col("_slice") === i).drop("_slice")
          .coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
        val part = tmp.listFiles()
          .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
          .getOrElse(sys.error(s"no parquet part written for slice $i of $base"))
        val dest = new java.io.File(dir, fileName(i))
        java.nio.file.Files.move(part.toPath, dest.toPath)
        // fixed, strictly increasing mtimes pin the replay order
        dest.setLastModified(1000000000000L + i * 60000L)
        FileUtils.deleteDirectory(tmp)
      } finally { sliced.unpersist(); () }
      java.nio.file.Files.write(marker.toPath, fp.getBytes("UTF-8"))
    }
    dir.getPath
  }
}

private object Replay {
  private val lock = new Object

  /** `dir` made safe to use as a directory-name component. */
  def safe(dir: String): String = dir.replaceAll("[^A-Za-z0-9._-]", "_")

  /** `slice-01.parquet`, `slice-02.parquet`, … */
  def twoDigit(i: Int): String = f"slice-$i%02d.parquet"
}

/** Rate-limited multi-batch replay: `events.parquet` split once into
  * `slices` contiguous event-time slices under `target/stream_replay`,
  * one per trigger, arriving in event-time order like a drained broker
  * backlog. This is what makes watermark advancement REAL across a
  * replay: the single-file replay is one micro-batch whose watermark
  * never moves while data flows, so append-mode windowed aggregation
  * emits nothing and the micro-batch floor is invisible to the bench.
  * The slicing is ntile over (ts, event_id) — a global sort, but a
  * one-time fixture build; at broker scale the "slices" are what the
  * broker already provides as time-ordered log segments.
  */
final case class MultiBatchFileSource(dir: String, slices: Int = 4)
    extends EventSource {
  def stream(spark: SparkSession): DataFrame =
    MultiBatchFileSource.replay(dir, slices).stream(spark)
}

object MultiBatchFileSource {
  private def replay(dir: String, n: Int): Replay =
    new Replay(s"target/stream_replay/${Replay.safe(dir)}-$n",
      s"$dir/events.parquet", graft.Tables.events(_, dir),
      ntile(n).over(Window.orderBy(col("ts"), col("event_id"))),
      1 to n, Replay.twoDigit)

  /** Build (once per (dir, slices, source fingerprint)) the sliced
    * replay directory and return its path.
    */
  private[graft] def prepare(spark: SparkSession, dir: String, n: Int): String =
    replay(dir, n).prepare(spark)
}

/** OUT-OF-ORDER three-batch replay: slice k = event_ids ≡ k (mod 3),
  * each spanning the FULL time range, so later batches deliver rows far
  * behind the watermark established by earlier ones. Three slices, not
  * two, because Spark filters late records with the watermark the
  * PREVIOUS batch ran with while evicting with the current one (the
  * two-watermark model of SPARK-40925, pinned by WatermarkRuleSpec):
  * batch 1's late-filter watermark is still the initial 0, so a 2-batch
  * replay can never drop anything — only batch 2, whose late-filter
  * watermark is max(ts of slice 0 ONLY) − delay (the value established
  * during batch 1), exhibits real late-data
  * dropping. Which rows are late is a pure function of the data, not of
  * scheduling. ([[MultiBatchFileSource]] slices in event-time order, so
  * nothing is ever late there.) Same one-time fixture build.
  */
final case class OutOfOrderFileSource(dir: String) extends EventSource {
  def stream(spark: SparkSession): DataFrame =
    new Replay(s"target/stream_replay_ooo/${Replay.safe(dir)}",
      s"$dir/events.parquet", graft.Tables.events(_, dir),
      pmod(col("event_id"), lit(3)), Seq(0, 1, 2),
      i => s"slice-$i.parquet").stream(spark)
}

/** The Kafka wire shape and its codec. A Kafka record is
  * (key binary, value binary, topic, partition, offset, timestamp, …);
  * the payload here is one JSON event per record. `decode` is a pure
  * DataFrame→DataFrame transform, so the SAME code path serves batch
  * backfills, the memory-stream tests, and a real broker — which is the
  * point: the source only determines where bytes come from.
  */
object KafkaShaped {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** µs-precision timestamp format: Spark's to_json default truncates to
    * millis, which would silently corrupt event times on round-trip.
    */
  private val TsFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
  private val jsonOpts = Map("timestampFormat" -> TsFormat)

  /** Kafka-wire records (binary `value` payload) → typed event rows.
    * Corrupt payloads become all-null rows rather than failing the
    * stream (PERMISSIVE from_json) — poison-pill tolerance a 100 TB
    * ingest needs.
    */
  def decode(records: DataFrame): DataFrame =
    records
      .select(from_json(col("value").cast("string"), eventSchema, jsonOpts).as("e"))
      .select(col("e.*"))

  /** Typed event rows → Kafka-wire records (used by tests and by any
    * writeStream back to a topic; key = user_id so a topic partition
    * preserves per-user order, which the session/stateful queries rely
    * on brokers for).
    */
  def encode(events: DataFrame): DataFrame =
    events.select(
      col("user_id").cast("string").cast("binary").as("key"),
      to_json(
        struct(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"), col("props")),
        jsonOpts).cast("binary").as("value"))
}

/** A directory of parquet files whose rows are Kafka-WIRE records
  * (key/value binary) — a broker stand-in that exercises the exact
  * decode path a real topic would, end to end, with no broker installed.
  */
final case class KafkaShapedFileSource(dir: String) extends EventSource {
  private val wireSchema = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType)))
  def stream(spark: SparkSession): DataFrame =
    KafkaShaped.decode(spark.readStream.schema(wireSchema).parquet(dir))
}

/** A real broker source: same decode, same downstream plans. Not
  * runnable in this container (no broker, no kafka connector jar) but
  * the complete wiring a deployment needs — the options are the standard
  * spark-sql-kafka ones.
  */
final case class KafkaEventSource(bootstrapServers: String, topic: String)
    extends EventSource {
  def stream(spark: SparkSession): DataFrame =
    KafkaShaped.decode(
      spark.readStream
        .format("kafka")
        .option("kafka.bootstrap.servers", bootstrapServers)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load())
}

/** Rate-limited multi-batch replay of the DOCUMENTS table — the corpus
  * twin of [[MultiBatchFileSource]] for streaming text/sketch pipelines:
  * `documents.parquet` split once into `slices` contiguous doc_id
  * ranges (ntile over doc_id), one corpus shard per trigger — the shape
  * of a backfill draining a document store. Same one-time fixture build.
  */
final case class DocumentsFileSource(dir: String, slices: Int = 4) {
  def stream(spark: SparkSession): DataFrame =
    new Replay(s"target/stream_replay/docs-${Replay.safe(dir)}-$slices",
      s"$dir/documents.parquet", graft.Tables.documents(_, dir),
      ntile(slices).over(Window.orderBy(col("doc_id"))),
      1 to slices, Replay.twoDigit).stream(spark)
}
