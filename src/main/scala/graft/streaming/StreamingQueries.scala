package graft.streaming

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import graft.QueryDef
import graft.GraftSession.withConf

/** Structured Streaming surface over the `events` table, replayed as a
  * file-source stream (the reference is strictly batch with a hard
  * map→reduce barrier — SURVEY.md §2b — so this whole module is net-new
  * capability).
  *
  * Each query runs a real `readStream → transform → writeStream` pipeline
  * into a memory sink (or a foreachBatch sink), drains it through
  * [[StreamingQueries.drain]], and returns the sink table — so the driver's batch-shaped contract
  * (`(SparkSession, dir) ⇒ DataFrame`) still holds. Aggregations use
  * COMPLETE output mode: with a single replay batch, append mode would
  * emit nothing until the watermark advances past a next batch that
  * never comes. The watermark is still declared — at scale it bounds
  * state; DuckDB oracles express the same computation as batch SQL.
  *
  * Scale notes: windowed aggregation state is keyed by (window × group);
  * session windows merge per user — state size is O(active keys), and
  * the watermark is what lets Spark evict; these queries are the shape
  * you'd run against Kafka with minute-level watermarks.
  */
object StreamingQueries {

  /** events as a streaming source, via the [[EventSource]] abstraction
    * (file replay here; a broker in production — same downstream plan).
    */
  private def eventsStream(spark: SparkSession, dir: String): DataFrame =
    FileEventSource(dir).stream(spark)

  /** The query the last [[drain]] ran, stopped, whether or not its drain
    * threw. A stopped query still answers `explain()` with its last
    * micro-batch's physical plan and `recentProgress` with its batches,
    * so PlanAudit reads the STREAMING execution here (the memory sink
    * table's own plan is a local scan) and ScaleProbe reads per-batch
    * time and state size. Holding it costs the drain nothing: only a
    * reader formats the plan.
    */
  @volatile private[graft] var lastDrained: Option[StreamingQuery] = None

  /** The one way a stream runs here: start `writer` with an AvailableNow
    * trigger, process everything available, stop the query and record it
    * in [[lastDrained]].
    */
  private[graft] def drain(writer: DataStreamWriter[Row]): StreamingQuery = {
    val q = writer.trigger(Trigger.AvailableNow()).start()
    try q.processAllAvailable()
    finally { q.stop(); lastDrained = Some(q) }
    q
  }

  /** Run a streaming DF to a memory sink, drain, return the table.
    * `checkpoint`, when set, pins an explicit checkpointLocation (so
    * the caller can read the state store back post-run); the default
    * temp checkpoint is discarded with the query.
    */
  private[graft] def runToMemory(spark: SparkSession, streamed: DataFrame,
      name: String, mode: String, checkpoint: Option[String] = None)
      : DataFrame = withConf(spark,
        "spark.sql.shuffle.partitions" -> StreamStatePartitions.toString) {
    val w = streamed.writeStream.format("memory").queryName(name).outputMode(mode)
    drain(checkpoint.fold(w)(c => w.option("checkpointLocation", c)))
    spark.table(name)
  }

  /** Drain `stream` through a foreachBatch sink that computes each
    * batch's partial with `perBatch` and returns the partials in batchId
    * order. The in-JVM map stands in for an external store KEYED BY
    * batchId, so a re-delivered batch overwrites its own earlier write
    * instead of counting twice.
    */
  private def batchPartials[V](stream: DataFrame)(perBatch: DataFrame => V): Seq[V] = {
    val store = new java.util.concurrent.ConcurrentHashMap[Long, V]()
    drain(stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      store.put(batchId, perBatch(batch)); ()
    })
    import scala.jdk.CollectionConverters._
    store.asScala.toSeq.sortBy(_._1).map(_._2)
  }

  /** A state-store read `read(checkpoint)` over a query `run(checkpoint)`
    * drained to a fresh checkpoint dir, materialized with
    * `localCheckpoint()` so the returned frame no longer reads the dir,
    * which is deleted before the lane returns.
    */
  private def readStateAfter(prefix: String)(run: String => Unit)(
      read: String => DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try { run(dir.getPath); read(dir.getPath).localCheckpoint() }
    finally FileUtils.deleteQuietly(dir)
  }

  /** LATE-DATA accounting under an OUT-OF-ORDER replay
    * ([[OutOfOrderFileSource]]: batch k = event_ids ≡ k mod 3, each
    * spanning the full time range). Spark's semantics, MEASURED here
    * (numRowsDroppedByWatermark) and pinned by the oracle, follow the
    * two-watermark model (SPARK-40925): batch k drops a row iff its
    * window end ≤ the watermark batch k−1 RAN WITH (derived from data
    * through batch k−2), while evicting and emitting with the current
    * W(k). So slices 0 and 1 are never dropped (their late-filter
    * watermarks are the initial 0), and a slice-2 row survives iff its
    * window was still open under W1 = max(ts of slice 0 ONLY) − 10 min
    * — NOT max(slices 0,1): [[WatermarkRuleSpec]] pins this with a
    * fixture where the two rules disagree. Emission (append mode): a
    * window appears iff the final watermark W2 = max(all ts) − 10 min
    * passed its end. The emitted counts are therefore the all-data
    * aggregate MINUS the dropped slice-2 contributions — the oracle
    * states drop rule and emission rule explicitly, making this query
    * the executable spec of watermark semantics. (In
    * [[MultiBatchFileSource]] replays, slices arrive in event-time
    * order and nothing is ever late; this is the adversarial
    * complement.)
    */
  def streamLateData(spark: SparkSession, dir: String): DataFrame = {
    val agg = OutOfOrderFileSource(dir).stream(spark)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val out = runToMemory(spark, agg, "stream_late_data", "append")
    out.select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"))
      .orderBy(col("window_start"), col("event_type"))
  }

  /** The foreachBatch sink — the escape hatch for targets Spark has no
    * connector for (JDBC upserts, REST endpoints, multi-table fan-out
    * writes). Replays events as MULTIPLE micro-batches
    * ([[MultiBatchFileSource]], maxFilesPerTrigger=1) and runs the
    * standard exactly-once-over-at-least-once recipe: each batch
    * computes its per-event-type partial aggregate — a ≤|event-types|-row
    * payload, exactly what a JDBC MERGE would ship — and upserts it into
    * the external store KEYED BY batchId, so a re-delivered batch after
    * a failure OVERWRITES its own previous write instead of
    * double-counting. The returned frame re-aggregates the per-batch
    * partials; count and sum are mergeable, so the result must equal the
    * one-shot batch aggregate — which is exactly what the oracle checks.
    * The store here is an in-JVM map standing in for the external
    * system; the bounded collect is the sink payload, not a compute
    * step (the aggregation itself is distributed per batch).
    */
  def streamForeachBatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val partials = batchPartials(MultiBatchFileSource(dir).stream(spark)) { batch =>
      batch
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(graft.Tables.money(col("value"))).as("sv"))
        .collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), BigDecimal(r.getDecimal(2))))
    }
    partials.flatten
      .toDF("event_type", "n", "sv")
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("n"), sum(col("sv")).cast("double").as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** Tumbling 1-hour windows per event_type (count + exact-decimal sum). */
  def streamTumbling(spark: SparkSession, dir: String): DataFrame =
    streamTumblingFrom(spark, FileEventSource(dir), "stream_tumbling")

  /** The same tumbling plan over ANY [[EventSource]] — the spec runs it
    * against a Kafka-shaped memory stream to prove source-agnosticism.
    */
  private[graft] def streamTumblingFrom(spark: SparkSession, src: EventSource,
      name: String): DataFrame = {
    val agg = src.stream(spark)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(graft.Tables.money(col("value"))).cast("double").as("sum_value"))
    val out = runToMemory(spark, agg, name, "complete")
    out.select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("window_start"), col("event_type"))
  }

  /** Sliding 30-minute windows every 10 minutes, per event_type. */
  def streamSliding(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "30 minutes", "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val out = runToMemory(spark, agg, "stream_sliding", "complete")
    out.select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"))
      .orderBy(col("window_start"), col("event_type"))
  }

  /** Session windows: 30-minute inactivity gap per user. */
  def streamSession(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    val out = runToMemory(spark, agg, "stream_session", "complete")
    out.select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Session windows with a DYNAMIC, per-event inactivity gap —
    * purchases hold a session open for 60 minutes, everything else 30
    * (the "checkout grace period" shape). `session_window(ts, gapCol)`
    * merges the per-event intervals [ts, ts+gap); the batch-SQL oracle
    * states the same merge rule directly: an event opens a NEW session
    * iff its ts is ≥ the running max of all previous events' interval
    * ends (a constant gap degenerates to the lag() rule stream_session
    * uses — with variable gaps the running max is required, since a
    * long-gap event can outlive several short-gap successors). State
    * and eviction story identical to stream_session: O(active
    * sessions), watermark-driven.
    */
  def streamSessionDynamic(spark: SparkSession, dir: String): DataFrame = {
    val gap = when(col("event_type") === "purchase", lit("60 minutes"))
      .otherwise(lit("30 minutes"))
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    val out = runToMemory(spark, agg, "stream_session_dynamic", "complete")
    out.select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_start"))
  }

  private[graft] val SessionDynamicOracleSql: String =
    """WITH ends AS (
      |  SELECT user_id, ts,
      |    ts + CASE WHEN event_type = 'purchase' THEN INTERVAL 60 MINUTE
      |         ELSE INTERVAL 30 MINUTE END AS iv_end
      |  FROM events),
      |marked AS (
      |  SELECT user_id, ts,
      |    CASE WHEN max(iv_end) OVER (PARTITION BY user_id ORDER BY ts
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      |      OR ts >= max(iv_end) OVER (PARTITION BY user_id ORDER BY ts
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |    THEN 1 ELSE 0 END AS is_new
      |  FROM ends),
      |sessions AS (
      |  SELECT user_id, ts,
      |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM marked)
      |SELECT user_id,
      |  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
      |  count(*) AS n_events
      |FROM sessions GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** Streaming dedup on (user_id, event_type) within the watermark;
    * output reduced to the distinct key set so the result is independent
    * of which physical row survived.
    */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    val deduped = eventsStream(spark, dir)
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
    val out = runToMemory(spark, deduped, "stream_dedup", "append")
    out.distinct().orderBy(col("user_id"), col("event_type"))
  }

  /** Custom stateful operator via flatMapGroupsWithState: per-user
    * accumulator (count, first ts, last ts). Order-free aggregation ⇒
    * deterministic under any arrival order. Append mode emits one
    * CUMULATIVE row per user per micro-batch that touches the user, so
    * the sink table is collapsed to the FINAL emission per user
    * (max_by on n_events, which strictly increases across a user's
    * emissions) — the result is replay-batching-independent: one batch,
    * maxFilesPerTrigger=1, or AvailableNow splits all agree. At scale:
    * state is 3 longs per user, evictable via a timeout — the shape of
    * sessionization/feature-extraction state machines the built-in
    * windows can't express.
    */
  def streamStateful(spark: SparkSession, dir: String): DataFrame =
    streamStatefulFrom(spark, FileEventSource(dir), "stream_stateful")

  private[graft] def streamStatefulFrom(spark: SparkSession, src: EventSource,
      name: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    val ds = src.stream(spark)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long)]
    val updated = ds.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), (Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, Long)], state: GroupState[(Long, Long, Long)]) =>
          var (n, f, l) = state.getOption.getOrElse((0L, Long.MaxValue, Long.MinValue))
          it.foreach { case (_, ts) =>
            n += 1; if (ts < f) f = ts; if (ts > l) l = ts
          }
          state.update((n, f, l))
          Iterator((uid, n, f, l))
      }
    val out = runToMemory(spark, updated.toDF("user_id", "n_events", "f_us", "l_us"),
      name, "append")
    // collapse to the final (highest-count) emission per user — see scaladoc
    out.groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"),
        max_by(col("f_us"), col("n_events")).as("f_us"),
        max_by(col("l_us"), col("n_events")).as("l_us"))
      .select(col("user_id"), col("n_events"),
        date_format(timestamp_micros(col("f_us")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("first_ts"),
        date_format(timestamp_micros(col("l_us")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("last_ts"))
      .orderBy(col("user_id"))
  }

  /** The same per-user accumulator through Spark 4's transformWithState
    * — the successor API to flatMapGroupsWithState: named state
    * variables with per-variable TTL on a handle, timers, and
    * RocksDB-only state (enforced by Spark — the scale backend is not
    * optional here). State is one (n, cents, last_ts) triple per user;
    * the spend sum is exact integer cents, so the oracle comparison has
    * no float-summation hazard. Scale: identical eviction story to
    * [[streamStateful]], plus TTLConfig is where per-user state expiry
    * lives in production.
    */
  /** The RocksDB state store provider, which transformWithState
    * requires; set with [[GraftSession.withConf]] around the query.
    */
  private[graft] val RocksDB = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def streamTransformWithState(spark: SparkSession, dir: String): DataFrame =
    streamTransformWithStateFrom(spark, FileEventSource(dir), "stream_tws")

  private[graft] def streamTransformWithStateFrom(spark: SparkSession,
      src: EventSource, name: String): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import org.apache.spark.sql.types.DecimalType
    import spark.implicits._
    withConf(spark, RocksDB) {
      val ds = src.stream(spark)
        .select(col("user_id"),
          col("value").cast(DecimalType(12, 2)).*(100).cast("long").as("cents"),
          unix_micros(col("ts")).as("ts_us"))
        .as[(Long, Long, Long)]
      val updated = ds.groupByKey(_._1)
        .transformWithState(new UserSpendProcessor,
          TimeMode.None(), OutputMode.Append())
      val out = runToMemory(spark,
        updated.toDF("user_id", "n_events", "cents", "l_us"),
        name, "append")
      // like streamStateful: emissions are cumulative, one per touching
      // micro-batch — keep only the final one per user so the result is
      // independent of how the replay was batched
      out.groupBy(col("user_id"))
        .agg(max(col("n_events")).as("n_events"),
          max_by(col("cents"), col("n_events")).as("cents"),
          max_by(col("l_us"), col("n_events")).as("l_us"))
        .select(col("user_id"), col("n_events"), col("cents"),
          date_format(timestamp_micros(col("l_us")),
            "yyyy-MM-dd HH:mm:ss.SSSSSS").as("last_ts"))
        .orderBy(col("user_id"))
    }
  }

  /** State introspection for CUSTOM state — the transformWithState
    * variant of [[streamStateInspect]]: run [[streamTransformWithState]]'s
    * exact plan (RocksDB provider, named ValueState "acc") to an
    * explicit checkpoint, then read that named state variable back as a
    * batch DataFrame via the `statestore` source's `stateVarName`
    * option. Because the per-user accumulator never evicts
    * (TTLConfig.NONE), the store's final content IS the complete
    * aggregate — so unlike the windowed inspect (whose state is the
    * watermark-withheld tail), this oracle is the full batch aggregate
    * itself, identical to stream_tws's. Proves the ops surface extends
    * beyond built-in operators to user-defined state: audit a custom
    * processor's store without replaying the stream.
    */
  def streamTwsStateInspect(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import org.apache.spark.sql.types.DecimalType
    import spark.implicits._
    withConf(spark, RocksDB) {
      readStateAfter("graft_tws_state") { ckpt =>
        val ds = FileEventSource(dir).stream(spark)
          .select(col("user_id"),
            col("value").cast(DecimalType(12, 2)).*(100).cast("long").as("cents"),
            unix_micros(col("ts")).as("ts_us"))
          .as[(Long, Long, Long)]
        val updated = ds.groupByKey(_._1)
          .transformWithState(new UserSpendProcessor,
            TimeMode.None(), OutputMode.Append())
        runToMemory(spark, updated.toDF("user_id", "n_events", "cents", "l_us"),
          "stream_tws_state_inspect_sink", "append", Some(ckpt))
      } { ckpt =>
        val st = spark.read.format("statestore")
          .option("path", ckpt)
          .option("stateVarName", "acc")
          .load()
        // resolve the value struct's field names from the ACTUAL schema
        // the statestore source reports instead of hard-coding the tuple
        // encoder's _1/_2/_3 — field ORDER is the processor's contract
        // (count, cents, last-ts), the names are an encoder detail
        val vf = st.schema("value").dataType
          .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames
        st.select(col("key.value").as("user_id"),
          col(s"value.${vf(0)}").as("n_events"),
          col(s"value.${vf(1)}").as("cents"),
          date_format(timestamp_micros(col(s"value.${vf(2)}")),
            "yyyy-MM-dd HH:mm:ss.SSSSSS").as("last_ts"))
      }.orderBy(col("user_id"))
    }
  }

  /** STREAMING row-pattern matching (CEP): the batch
    * [[graft.operators.RowPattern]] matcher run as per-user
    * `transformWithState` over the rate-limited time-ordered replay —
    * the signup → (view|click)* → purchase funnel detected live. The
    * matcher is O(1) state by construction (its single-pass
    * restrictions), so the state store holds one 5-field attempt record
    * per user — the CEP shape that scales to 1e9 keys. A match is
    * emitted exactly ONCE, in the micro-batch whose row completed it
    * (append semantics, no cumulative-emission collapse needed), so the
    * result set equals the batch operator's and shares its oracle.
    *
    * Ordering contract: rows are sorted by event time WITHIN each
    * micro-batch (bounded by batch size — same cost class as session
    * windows); ACROSS batches correctness relies on per-key time-ordered
    * delivery, which the sliced replay provides and a user-keyed broker
    * topic provides in production. Out-of-order tolerance would need a
    * watermark-delayed buffer in front of the matcher — out of scope
    * here, as for any CEP engine's in-order mode.
    */
  def streamRowPattern(spark: SparkSession, dir: String): DataFrame =
    streamRowPatternFrom(spark, MultiBatchFileSource(dir), "stream_row_pattern")

  /** Streaming twin of q121: the RELUCTANT pattern (successor-priority
    * star whose class contains the terminator) run live through the
    * same TWS processor. Reluctance is a pure compile-time matcher mode
    * — it adds ZERO state fields (the successor-priority decision is a
    * per-row token lookahead), so the 5-field snapshot/restore contract
    * and the per-user O(1) state story carry over unchanged; only
    * SkipToNextRow remains batch-only. Shares q121's oracle: matches
    * are emitted exactly once, when completed, regardless of
    * micro-batch boundaries.
    */
  def streamReluctantFunnel(spark: SparkSession, dir: String): DataFrame =
    streamRowPatternFrom(spark, MultiBatchFileSource(dir),
      "stream_reluctant_funnel",
      "signup (view|click|error|purchase)*? purchase")

  private[graft] def streamRowPatternFrom(spark: SparkSession,
      src: EventSource, name: String,
      pattern: String = "signup (view|click)* purchase"): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import spark.implicits._
    withConf(spark, RocksDB) {
      val ds = src.stream(spark)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type"))
        .as[(Long, Long, Long, String)]
      val matched = ds.groupByKey(_._1)
        .transformWithState(
          new RowPatternProcessor(pattern),
          TimeMode.None(), OutputMode.Append())
      val out = runToMemory(spark,
        matched.toDF("user_id", "start_us", "end_us", "n_rows"),
        name, "append")
      out.select(col("user_id"),
          date_format(timestamp_micros(col("start_us")),
            "yyyy-MM-dd HH:mm:ss.SSSSSS").as("start_ts"),
          date_format(timestamp_micros(col("end_us")),
            "yyyy-MM-dd HH:mm:ss.SSSSSS").as("end_ts"),
          col("n_rows").cast("long").as("n_rows"))
        .orderBy(col("user_id"), col("start_ts"))
    }
  }

  /** Stream-static join: the live event feed enriched against a STATIC
    * dimension table — the other join class a streaming engine needs
    * besides stream-stream (q.v.). The static side is a batch DataFrame
    * re-resolved per micro-batch; broadcast keeps it a map-side hash
    * join, so the stream is never shuffled and needs no watermark (no
    * join state to evict — the dimension is not a stream).
    *
    * Runs over the RATE-LIMITED multi-batch replay
    * ([[MultiBatchFileSource]], maxFilesPerTrigger=1): four triggers,
    * each joining one time slice — so the bench times a real micro-batch
    * cadence (per-trigger planning + broadcast re-resolve), not a
    * single-batch degenerate run. The row-level append output is
    * batching-independent by construction, so the oracle is the plain
    * batch join either way.
    */
  def streamStaticJoin(spark: SparkSession, dir: String): DataFrame = {
    val dim = graft.Tables.customer(spark, dir)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    val joined = MultiBatchFileSource(dir).stream(spark)
      .filter(col("event_type") === "purchase")
      .join(broadcast(dim), Seq("user_id"))
      .select(col("event_id"), col("user_id"), col("c_mktsegment"))
    val out = runToMemory(spark, joined, "stream_static_join", "append")
    out.orderBy(col("event_id"))
  }

  /** Append-mode windowed aggregation — the emission semantics COMPLETE
    * mode sidesteps (see the module scaladoc). Under the multi-batch
    * replay the watermark genuinely advances between triggers, so
    * windows are emitted exactly when the watermark passes their end,
    * and the final watermark (max event time − 10 min) withholds the
    * tail windows — which is correct streaming behavior, not data loss:
    * they are awaiting potential late data. The oracle states that
    * emission rule in batch SQL: tumbling counts for windows whose end
    * is ≤ the final watermark. At scale this is THE production shape —
    * complete mode re-emits the whole result every trigger and cannot
    * bound its sink; append emits each window once, immutably.
    */
  def streamAppendWindows(spark: SparkSession, dir: String): DataFrame = {
    val agg = MultiBatchFileSource(dir).stream(spark)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val out = runToMemory(spark, agg, "stream_append_windows", "append")
    out.select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"))
      .orderBy(col("window_start"), col("event_type"))
  }

  /** Post-mortem STATE-STORE introspection — Spark 4's `statestore`
    * batch data source read over a finished streaming checkpoint, the
    * ops tool for "what is this stateful query holding right now".
    * The stream is [[streamAppendWindows]]' exact plan run to an
    * explicit checkpoint; after it drains, the checkpoint is read back
    * as a BATCH DataFrame. In append mode the state after the final
    * (watermark-advancing) no-data batch is precisely the WITHHELD
    * tail: windows whose end the final watermark has not passed — the
    * set-complement of what append emitted, so state ∪ emitted
    * partitions the batch result (spec-pinned), and the oracle is the
    * append oracle with the inequality flipped. At 100 TB this read
    * scales like any parquet-ish scan of the store (one task per state
    * partition) and is the basis for state audits/repairs without
    * replaying the stream.
    */
  def streamStateInspect(spark: SparkSession, dir: String): DataFrame =
    readStateAfter("graft_state_ins") { ckpt =>
      val agg = MultiBatchFileSource(dir).stream(spark)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      runToMemory(spark, agg, "stream_state_inspect_sink", "append", Some(ckpt))
    } { ckpt =>
      val store = spark.read.format("statestore").option("path", ckpt).load()
      // the value struct carries the AGG BUFFER's internal field names
      // (`count` for a lone count today) — an internal Spark schema
      // detail that can shift across versions, so resolve the single
      // numeric buffer field FROM the schema instead of hardcoding it
      store.select(
        date_format(col("key.window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("key.event_type").as("event_type"),
        col(s"value.${singleNumericField(store, "value")}").as("n"))
    }.orderBy(col("window_start"), col("event_type"))

  /** Name of the single numeric field inside struct column `name` —
    * fails with an explicit message if the struct is missing or holds
    * zero/multiple numeric fields (a silent pick would read the wrong
    * agg buffer slot after a Spark upgrade).
    */
  private[graft] def singleNumericField(
      df: DataFrame, name: String): String = {
    import org.apache.spark.sql.types.{NumericType, StructType}
    val struct = df.schema.fields.find(_.name == name).map(_.dataType)
      .getOrElse(sys.error(
        s"statestore schema has no `$name` column: ${df.schema.treeString}"))
    struct match {
      case st: StructType =>
        st.fields.filter(_.dataType.isInstanceOf[NumericType]) match {
          case Array(f) => f.name
          case fs => sys.error(
            s"expected exactly one numeric field in `$name` " +
              s"(agg buffer), found ${fs.map(_.name).mkString("[", ",", "]")} " +
              s"in ${st.treeString} — Spark's internal streaming-agg " +
              "buffer layout changed; update streamStateInspect")
        }
      case other => sys.error(
        s"statestore `$name` column is $other, not a struct")
    }
  }

  /** State partitions for EVERY streaming lane (r15 — generalized from
    * the r14 join-only knob): the per-trigger cost floor of a stateful
    * query is state-store COMMITS × partitions, paid whether or not a
    * partition saw data, so the partition count is a deployment choice
    * sized to key cardinality and throughput — never inherited from the
    * batch shuffle default. At the gate SFs every lane holds ≤~50k
    * watermark-bounded keys; 8 partitions keeps all cores busy at that
    * scale while quartering the per-trigger commit count vs the 32-way
    * default (measured ~0.2–0.3 s/lane at sf0.1). At 100 TB with ~1e9
    * keys this number goes UP (hundreds): a deployment at that scale
    * changes this constant. Applied centrally in [[runToMemory]] as
    * `spark.sql.shuffle.partitions` (state layout pins from this conf at
    * first checkpoint, and these replays use fresh checkpoints, so it
    * takes effect every run), so every lane prices the same deliberate
    * sizing.
    */
  private[graft] val StreamStatePartitions = 8

  /** Stream-stream inner join with event-time bounds: purchases within
    * 5 minutes after a signup by the same user — the streaming twin of
    * the batch range join (q17), sharing its oracle shape. Watermarks on
    * BOTH sides + the time-bound condition let Spark evict join state;
    * without them stream-stream state grows forever.
    */
  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    // ONE source stream split into both join sides by filtering — a
    // second eventsStream() call would register an independent file
    // source and scan the events files twice per micro-batch
    val ev = eventsStream(spark, dir)
    val signups = ev
      .filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id"), col("ts").as("s_ts"))
      .withWatermark("s_ts", "10 minutes")
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    val joined = signups.join(purchases,
      col("user_id") === col("p_user")
        && col("p_ts") > col("s_ts")
        && col("p_ts") <= col("s_ts") + expr("INTERVAL 5 MINUTES"))
      .select(col("signup_id"),
        date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("purchase_at"))
    val out = runToMemory(spark, joined, "stream_stream_join", "append")
    out.orderBy(col("signup_id"), col("purchase_at"))
  }

  /** Stream-stream LEFT OUTER join — the semantics layer above the
    * inner join (q.v.): signups emit their within-5-minute purchases as
    * they match, and a signup with NO match emits ONE null-extended row
    * — but only when the global watermark passes its eviction point
    * (s_ts + 5 min), because until then a matching purchase could still
    * arrive. Over the multi-batch replay the watermark genuinely
    * advances (plus the trailing no-data micro-batch flushes evictions
    * due at the FINAL watermark), so the null rows are emitted by
    * event-time progress exactly as a broker deployment would see —
    * and the tail signups (eviction point past the final watermark)
    * are correctly withheld, awaiting late data. The oracle states that
    * emission rule in batch SQL: matched pairs unconditionally, plus
    * unmatched signups with `s_ts + 5 min < final watermark`, where the
    * final watermark is `least(max signup ts, max purchase ts) − 10
    * min` (Spark's global watermark is the MIN across both sides'
    * watermark nodes). Batching-independence: the matched set is
    * append-only and the null set depends only on the final watermark —
    * monotone in replay progress, so any slicing agrees. At scale the
    * same watermark bounds the join state on both sides; without it a
    * left-outer stream join can never emit a null row at all (and its
    * state never shrinks).
    */
  def streamOuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = MultiBatchFileSource(dir).stream(spark)
    val signups = ev
      .filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id"), col("ts").as("s_ts"))
      .withWatermark("s_ts", "10 minutes")
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    val joined = signups.join(purchases,
        col("user_id") === col("p_user")
          && col("p_ts") > col("s_ts")
          && col("p_ts") <= col("s_ts") + expr("INTERVAL 5 MINUTES"),
        "leftOuter")
      .select(col("signup_id"),
        date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("purchase_at"))
    val out = runToMemory(spark, joined, "stream_outer_join", "append")
    out.orderBy(col("signup_id"), col("purchase_at"))
  }

  /** The sessionization oracle, shared verbatim with the batch twin
    * (`Relational3.q59SessionizeBatch`) — ONE definition so the
    * batch/stream parity guarantee can't silently drift.
    */
  private[graft] val SessionOracleSql: String =
      """WITH marked AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |      OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |         >= INTERVAL '30 minutes'
        |    THEN 1 ELSE 0 END AS is_new
        |  FROM events),
        |sessions AS (
        |  SELECT user_id, ts,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked)
        |SELECT user_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        |  count(*) AS n_events
        |FROM sessions GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin

  /** Streaming MULTIMODAL DECODE — the decode family composed with
    * Structured Streaming, i.e. the continuous-ingest shape a media
    * pipeline actually runs (new objects land, a decode fleet
    * extracts metadata as they arrive): each micro-batch is one corpus
    * shard ([[DocumentsFileSource]], 4 slices replayed at
    * maxFilesPerTrigger=1) pushed through THE SAME
    * [[graft.operators.Multimodal.mixedDecodeStage]] the batch query
    * runs — per-micro-batch work IS the batch operator, not a
    * reimplementation. The stage is stateless (a narrow per-partition
    * map), so append output is batching-independent: the union of all
    * micro-batches equals the batch result row-for-row, which is why
    * this lane shares `mm_decode_mixed`'s oracle verbatim. No
    * watermark, no state store — the honest claim is exactly that a
    * stateless decode needs neither.
    */
  def streamMmDecode(spark: SparkSession, dir: String): DataFrame = {
    val src = DocumentsFileSource(dir).stream(spark)
    val decoded = graft.operators.Multimodal.mixedDecodeStage(spark, src)
    runToMemory(spark, decoded, "stream_mm_decode", "append")
      .orderBy(col("doc_id"))
  }

  /** Streaming WEB-ARCHIVE INGESTION — the `.warc.gz` decode stack
    * composed with Structured Streaming (the continuous-crawl shape:
    * archive shards land, an ingest fleet parses pages as they
    * arrive). Each micro-batch's documents wrap into partition-local
    * multi-member archives (fixture side) and decode through THE SAME
    * [[graft.operators.Pipeline9.decodeArchive]] walk as the batch
    * lane. The stage is stateless, so append output is
    * batching-independent for every PER-PAGE field; the two
    * archive-LAYOUT fields (shard_id, member_index) are by definition
    * functions of the batching and are excluded — the oracle is the
    * batch lane's with the layout columns dropped.
    */
  def streamWarcIngest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val src = DocumentsFileSource(dir).stream(spark)
    val wrapped = src
      .select(col("doc_id"),
        graft.operators.TextAnalysis4.htmlOf(col("doc_id"), col("text"))
          .as("html"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val recs = it.toVector.sortBy(_._1)
        if (recs.isEmpty) Iterator.empty
        else Iterator.single((0L, graft.functions.WarcCodec.gzipWrap(
          recs.map { case (id, h) =>
            graft.operators.Pipeline9.warcRecordBytes(id, h)
          })))
      }
    val decoded = wrapped
      .mapPartitions(_.flatMap { case (sid, p) =>
        graft.operators.Pipeline9.decodeArchive(sid, p)
      })
      .toDF(graft.operators.Pipeline9.DecodedCols: _*)
    val pages = graft.operators.Pipeline9.pageFields(decoded)
      .drop("shard_id", "member_index")
    runToMemory(spark, pages, "stream_warc_ingest", "append")
      .orderBy(col("doc_id"))
  }

  /** Streaming deletion propagation — the governance tier's streaming
    * twin: delete requests take effect as the corpus replays, the way a
    * compliance pipeline actually consumes them. Each micro-batch (one
    * corpus shard via [[DocumentsFileSource]]) runs THE SAME per-shard
    * accounting stage as the batch lane
    * ([[graft.operators.Pipeline8.forgetAccounting]] — every measure a
    * SUM, so slice partials re-aggregate exactly); the ≤8-row partial
    * lands in the external store keyed by batchId (idempotent under
    * redelivery, the `stream_foreach_batch` recipe), and the integer
    * rewrite rule is applied ONLY after the replay drains — the
    * decision must see whole-shard totals, and applying it per batch
    * would be wrong by construction. Output therefore EQUALS
    * `pipeline_forget` and shares its oracle verbatim. Driver state is
    * bounded: one ≤8-row partial per micro-batch.
    */
  def streamForget(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val partials = batchPartials(DocumentsFileSource(dir, 4).stream(spark)) { batch =>
      graft.operators.Pipeline8.forgetAccounting(batch)
        .collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6)))
    }
    val merged = partials.flatten
      .toDF("shard", "n_docs", "n_docs_purged", "n_chunks",
        "n_chunks_purged", "n_tokens", "n_tokens_purged")
      .groupBy(col("shard"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_docs_purged")).as("n_docs_purged"),
        sum(col("n_chunks")).as("n_chunks"),
        sum(col("n_chunks_purged")).as("n_chunks_purged"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_tokens_purged")).as("n_tokens_purged"))
    graft.operators.Pipeline8.withForgetAction(merged).orderBy(col("shard"))
  }

  /** Streaming heavy hitters — the Misra–Gries sketch deployed the way
    * a production stream aggregator ships it: each micro-batch (one
    * corpus shard via [[DocumentsFileSource]]) folds its tokens into a
    * DISTRIBUTED per-batch MG summary (`MisraGriesMapAgg` through
    * ordinary two-phase aggregation), the ≤K-entry partial lands in the
    * external store keyed by batchId (idempotent under redelivery, the
    * `stream_foreach_batch` recipe), and the cross-batch combine is the
    * REAL mergeable-summaries law (`mgMerge`, batchId order — counts
    * intact, never a key union). After the replay drains, the merged
    * candidates get the same exact-recount verification as the batch
    * twin, so by the MG superset guarantee (K=512 > ThetaDen=256) the
    * output EQUALS `sketch_heavy_hitters` and shares its oracle.
    * Driver state is bounded: one ≤K-entry map per micro-batch.
    */
  def streamHeavyHitters(spark: SparkSession, dir: String): DataFrame =
    streamHeavyHittersImpl(spark, dir, 4)

  private[graft] def streamHeavyHittersImpl(spark: SparkSession, dir: String,
      slices: Int): DataFrame = {
    import graft.operators.{Sketches, WordCount}
    import org.apache.spark.sql.Encoders
    val partials = batchPartials(DocumentsFileSource(dir, slices).stream(spark)) { batch =>
      batch
        .select(explode(WordCount.words(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
        .as[String](Encoders.STRING)
        .select(new Sketches.MisraGriesMapAgg().toColumn.name("m"))
        .head().toMap
    }
    val merged = partials.reduceLeft(Sketches.mgMerge)
    val candidates = merged.keys.toSeq.sorted
    val toks = Sketches.tokens(spark, dir).localCheckpoint()
    val n = toks.count()
    toks.filter(col("tok").isin(candidates: _*))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * Sketches.ThetaDen > n)
      .orderBy(col("cnt").desc, col("tok"))
  }

  /** Bracket half-width (percentage points) shared with the oracle. */
  private val KllBracketPct = 5

  /** Streaming quantiles — the KLL sketch shipped per micro-batch, the
    * quantile twin of [[streamHeavyHitters]]: each events micro-batch
    * folds its purchase-value cents into a DISTRIBUTED per-batch KLL
    * partial (`KllBufAgg` — finish returns the SKETCH, not estimates),
    * the partial lands batchId-keyed (idempotent), and after the replay
    * the partials combine through the real KLL merge cascade in batchId
    * order. Estimates then get the same exact-rank bracket verification
    * as `sketch_kll_quantiles` (exact-bracket idiom: the merge-order-
    * dependent estimate never reaches the output; DuckDB replays the
    * bracket arithmetic and a literal TRUE). Driver state: one
    * K·log₂(n/K)-long sketch per micro-batch.
    */
  def streamKllQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.KllSketch
    import org.apache.spark.sql.Encoders
    val merged = batchPartials(MultiBatchFileSource(dir).stream(spark)) { batch =>
      batch
        .select(col("value").cast("decimal(12,2)").*(100).cast("long").as("v"))
        .as[Long](Encoders.scalaLong)
        .select(new KllSketch.KllBufAgg().toColumn.name("b"))
        .head()
    }.reduceLeft(KllSketch.merge)
    val est = KllSketch.quantiles(merged, KllSketch.Ps)
    val ps = KllSketch.Ps.map(p => (p * 100).toInt)
    val estRows = ps.zip(est).toSeq
    val cents = graft.Tables.events(spark, dir)
      .select(col("value").cast("decimal(12,2)").*(100).cast("long").as("v"))
    import spark.implicits._
    cents.crossJoin(broadcast(estRows.toDF("p", "est")))
      .groupBy(col("p"), col("est"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("v") <= col("est"), 1L).otherwise(0L)).as("est_rank"))
      .select(col("p"), col("n").as("n_rows"),
        expr(s"(p - $KllBracketPct) * n div 100").as("lo_rank"),
        expr(s"((p + $KllBracketPct) * n + 99) div 100").as("hi_rank"),
        (col("est_rank") >= expr(s"(p - $KllBracketPct) * n div 100") &&
          col("est_rank") <= expr(s"((p + $KllBracketPct) * n + 99) div 100"))
          .as("in_bracket"))
      .orderBy(col("p"))
  }

  private val StreamKllOracle: String =
    s"""WITH t AS (SELECT count(*) AS n FROM events)
      |SELECT p, n AS n_rows,
      |  (p - $KllBracketPct) * n // 100 AS lo_rank,
      |  ((p + $KllBracketPct) * n + 99) // 100 AS hi_rank,
      |  TRUE AS in_bracket
      |FROM t, (VALUES (25), (50), (75), (90), (99)) v(p)
      |ORDER BY p""".stripMargin

  /** Streaming KMV cardinality — the distinct-count member of the
    * per-batch-partial sketch family ([[streamHeavyHitters]],
    * [[streamKllQuantiles]]): each events micro-batch folds into its
    * own min-k hash set (≤256 longs, batchId-keyed so replays are
    * idempotent), and the merged synopsis is the min-k of the union.
    * KMV's merge law is the strongest of the family: the sketch is a
    * pure function of the observed SET, so the streamed, arbitrarily
    * batched estimate EQUALS the batch [[graft.operators.Sketches3]]
    * sketch over the same rows — no bracket hedge, the oracle is the
    * full batch-KMV replay over `events.user_id` (distinct users).
    * Driver state: one sorted ≤k-long vector per micro-batch.
    */
  def streamKmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches3.{KmvDomain, KmvK}
    val partials = batchPartials(MultiBatchFileSource(dir).stream(spark)) { batch =>
      batch
        .select(graft.Tables.saltedHash("kmv:", col("user_id"), 13).as("h"))
        .distinct().orderBy(col("h")).limit(KmvK)
        .collect().map(_.getLong(0)).toVector
    }
    val merged = partials.flatten.distinct.sorted.take(KmvK)
    require(merged.nonEmpty, "stream_kmv_distinct: no events streamed")
    val nUsed = merged.length.toLong
    val kth = merged.last
    val est =
      if (nUsed < KmvK) nUsed else (KmvK - 1).toLong * KmvDomain / kth
    // verification pass: the exact distinct count over the same table
    graft.Tables.events(spark, dir)
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
      .select(lit(KmvK).as("k"), lit(nUsed).as("n_used"),
        lit(kth).as("kth_hash"), lit(est).as("est_distinct"),
        col("exact_distinct"),
        (abs(lit(est) - col("exact_distinct")) * 16 <=
          col("exact_distinct") * 3).as("in_bracket"))
  }

  private val StreamKmvOracle: String = {
    import graft.operators.Sketches3.{KmvDomain, KmvK}
    s"""WITH h AS (
      |  SELECT DISTINCT ('0x' || substring(md5('kmv:' || cast(user_id AS VARCHAR)), 1, 13))::bigint AS h
      |  FROM events),
      |agg AS (
      |  SELECT count(*) AS n_used, max(h) AS kth_hash
      |  FROM (SELECT h FROM h ORDER BY h LIMIT $KmvK)),
      |ex AS (SELECT count(DISTINCT user_id) AS exact_distinct FROM events),
      |est AS (
      |  SELECT *, CASE WHEN n_used < $KmvK THEN n_used
      |    ELSE ${KmvK - 1} * $KmvDomain // kth_hash END AS est_distinct
      |  FROM agg, ex)
      |SELECT $KmvK AS k, n_used, kth_hash, est_distinct, exact_distinct,
      |  abs(est_distinct - exact_distinct) * 16 <= exact_distinct * 3
      |    AS in_bracket
      |FROM est""".stripMargin
  }

  val registry: Seq[QueryDef] = Seq(
    // shares the batch twin's oracle verbatim: a stateless decode's
    // append output is batching-independent by construction
    QueryDef("stream_mm_decode", streamMmDecode _,
      graft.operators.Multimodal.MixedDecodeOracle),
    // the batch twin's oracle minus the two archive-LAYOUT columns
    // (shard_id/member_index are functions of the batching); every
    // per-page field is batching-independent because the decode stage
    // is stateless
    QueryDef("stream_warc_ingest", streamWarcIngest _,
      graft.operators.Pipeline9.warcOracle(false)),
    // shares the batch twin's oracle verbatim: every measure is a sum,
    // so per-shard partials over corpus slices re-aggregate exactly and
    // the post-drain decision sees the same whole-shard totals
    QueryDef("stream_forget", streamForget _,
      graft.operators.Pipeline8.ForgetOracle),
    QueryDef("stream_kmv_distinct", streamKmvDistinct _, StreamKmvOracle),
    QueryDef("stream_kll_quantiles", streamKllQuantiles _, StreamKllOracle),
    QueryDef("stream_heavy_hitters", streamHeavyHitters _,
      graft.operators.Sketches.HeavyHittersOracle),
    QueryDef("stream_stream_join", streamStreamJoin _,
      """SELECT s.event_id AS signup_id,
        |  strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_at
        |FROM events s JOIN events p ON s.user_id = p.user_id
        |  AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL 5 MINUTE
        |WHERE s.event_type = 'signup' AND p.event_type = 'purchase'
        |ORDER BY signup_id, purchase_at""".stripMargin),
    QueryDef("stream_outer_join", streamOuterJoin _,
      // emission rule in batch SQL: every matched pair, plus each
      // unmatched signup whose eviction point (s_ts + 5 min) the final
      // watermark — least(max s_ts, max p_ts) − 10 min — has passed
      """WITH s AS (
        |  SELECT event_id AS signup_id, user_id, ts AS s_ts
        |  FROM events WHERE event_type = 'signup'),
        |p AS (
        |  SELECT user_id, ts AS p_ts
        |  FROM events WHERE event_type = 'purchase'),
        |wm AS (
        |  SELECT least((SELECT max(s_ts) FROM s), (SELECT max(p_ts) FROM p))
        |    - INTERVAL 10 MINUTE AS w)
        |SELECT s.signup_id,
        |  strftime(p.p_ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_at
        |FROM s JOIN p ON s.user_id = p.user_id
        |  AND p.p_ts > s.s_ts AND p.p_ts <= s.s_ts + INTERVAL 5 MINUTE
        |UNION ALL
        |SELECT s.signup_id, CAST(NULL AS VARCHAR) AS purchase_at
        |FROM s, wm
        |WHERE NOT EXISTS (
        |    SELECT 1 FROM p WHERE p.user_id = s.user_id
        |      AND p.p_ts > s.s_ts AND p.p_ts <= s.s_ts + INTERVAL 5 MINUTE)
        |  AND s.s_ts + INTERVAL 5 MINUTE < wm.w
        |ORDER BY signup_id, purchase_at""".stripMargin),
    QueryDef("stream_stateful", streamStateful _,
      """SELECT user_id, count(*) AS n_events,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS first_ts,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_ts
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    QueryDef("stream_row_pattern", streamRowPattern _,
      graft.operators.RowPattern.RowPatternOracle),
    QueryDef("stream_reluctant_funnel", streamReluctantFunnel _,
      graft.operators.RowPattern.ReluctantFunnelOracle),
    QueryDef("stream_tws", streamTransformWithState _,
      """SELECT user_id, count(*) AS n_events,
        |  cast(sum(cast(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS cents,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_ts
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    QueryDef("stream_tws_state_inspect", streamTwsStateInspect _,
      // the un-evicting per-user ValueState read back from the RocksDB
      // checkpoint IS the complete aggregate — same oracle as stream_tws
      """SELECT user_id, count(*) AS n_events,
        |  cast(sum(cast(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS cents,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_ts
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    QueryDef("stream_tumbling", streamTumbling _,
      """SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |  event_type, count(*) AS n,
        |  cast(sum(cast(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin),
    QueryDef("stream_sliding", streamSliding _,
      """SELECT strftime(time_bucket(INTERVAL '10 minutes', ts)
        |    - (k * INTERVAL '10 minutes'), '%Y-%m-%d %H:%M:%S') AS window_start,
        |  event_type, count(*) AS n
        |FROM events, unnest([0, 1, 2]) AS t(k)
        |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin),
    QueryDef("stream_static_join", streamStaticJoin _,
      """SELECT e.event_id, e.user_id, c.c_mktsegment
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |WHERE e.event_type = 'purchase'
        |ORDER BY event_id""".stripMargin),
    QueryDef("stream_append_windows", streamAppendWindows _,
      // the append-mode emission rule in batch SQL: a window is emitted
      // iff the final watermark (max event time − 10 min) passed its end
      """WITH wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events)
        |SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |  event_type, count(*) AS n
        |FROM events, wm
        |WHERE time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' <= wm.w
        |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin),
    QueryDef("stream_state_inspect", streamStateInspect _,
      // the state after the final batch is the withheld tail: windows
      // the final watermark (max event time − 10 min) has NOT passed —
      // the exact complement of the append-mode emission rule above
      """WITH wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events)
        |SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |  event_type, count(*) AS n
        |FROM events, wm
        |WHERE time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' > wm.w
        |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin),
    QueryDef("stream_session", streamSession _, SessionOracleSql),
    QueryDef("stream_session_dynamic", streamSessionDynamic _, SessionDynamicOracleSql),
    QueryDef("stream_dedup", streamDedup _,
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin),
    QueryDef("stream_late_data", streamLateData _,
      // the executable watermark spec (two-watermark model): slice-2
      // rows are kept iff their window was still open under the
      // late-filter watermark batch 2 runs with — the value ESTABLISHED
      // DURING batch 1, i.e. derived from slice-0 data only (pinned by
      // WatermarkRuleSpec's discriminating fixture); a window is
      // emitted iff the final watermark W2 passed its end
      """WITH w1 AS (
        |  SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events
        |  WHERE event_id % 3 = 0),
        |w2 AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events),
        |kept AS (
        |  SELECT time_bucket(INTERVAL '1 hour', ts) AS wstart, event_type
        |  FROM events, w1
        |  WHERE event_id % 3 <= 1
        |     OR time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' > w1.w)
        |SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
        |  event_type, count(*) AS n
        |FROM kept, w2
        |WHERE wstart + INTERVAL '1 hour' <= w2.w
        |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin),
    QueryDef("stream_foreach_batch", streamForeachBatch _,
      // merging the per-batch partials must reproduce the one-shot
      // batch aggregate — the mergeability contract of count/sum
      """SELECT event_type, cast(count(*) AS BIGINT) AS n,
        |  cast(sum(cast(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
  )

}

/** Event-time-timer session closer: the transformWithState feature the
  * older flatMapGroupsWithState timeouts only approximated. One live
  * timer per user at last_event + gap (previous deadline deleted on
  * every update); when the WATERMARK passes the deadline,
  * handleExpiredTimer emits the closed session and clears state. At
  * scale this is how per-key state is bounded by inactivity, not by
  * table size — eviction driven by event time, robust to replay.
  * Spec-pinned in StreamingSpec over a two-batch replay.
  */
class SessionTimerProcessor(gapMs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long), (Long, Long, Long)] {
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.{Encoder, Encoders}

  @transient private var sess: ValueState[(Long, Long)] = _ // (n, last_ms)

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    implicit val enc: Encoder[(Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    sess = getHandle.getValueState[(Long, Long)]("sess", enc, TTLConfig.NONE)
  }

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
      timers: TimerValues): Iterator[(Long, Long, Long)] = {
    var (n, last) = Option(sess.get()).getOrElse((0L, Long.MinValue))
    rows.foreach { case (_, ts) => n += 1; if (ts > last) last = ts }
    getHandle.listTimers().foreach(t => getHandle.deleteTimer(t))
    getHandle.registerTimer(last + gapMs)
    sess.update((n, last))
    Iterator.empty
  }

  override def handleExpiredTimer(key: Long, timers: TimerValues,
      expired: ExpiredTimerInfo): Iterator[(Long, Long, Long)] = {
    val out = Option(sess.get()) match {
      case Some((n, _)) => Iterator((key, n, expired.getExpiryTimeInMs()))
      case None => Iterator.empty
    }
    sess.clear()
    out
  }
}

/** Per-user spend accumulator for [[StreamingQueries.streamTransformWithState]]:
  * ValueState[(n, cents, last_ts_us)] keyed by user. Top-level class (not a
  * closure) so the checkpointed processor never captures a test suite or
  * session. Order-free merges ⇒ deterministic under any arrival order.
  */
/** Per-user CEP matcher for [[StreamingQueries.streamRowPattern]]:
  * ValueState holds one [[graft.operators.RowPattern.Matcher]] snapshot
  * (ti, startUs, endUs, n, plusSatisfied) per user; each micro-batch's
  * rows are time-sorted, fed through the matcher, and completed matches
  * emitted exactly once. Top-level class so the checkpointed processor
  * never captures a suite or session; the pattern string (not the
  * compiled tokens) is the serialized field.
  */
class RowPatternProcessor(pattern: String)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, Long, String), (Long, Long, Long, Int)] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.{Encoder, Encoders}
  import graft.operators.RowPattern

  // Streams never end, so this processor can never run the end-of-input
  // flush() the batch operator uses — a pattern whose tail is satisfiable
  // without consuming another row ('a b*', 'a b?', or 'a b+' once one b
  // is seen) would silently drop exactly the matches flush() emits, and
  // the "result set equals the batch operator's" contract would break on
  // a pattern swap. Reject those at construction (driver-side, before
  // the query starts): the last token must be un-quantified, so every
  // match is completed by a consuming row inside some micro-batch.
  require(RowPattern.compile(pattern).last.quant == RowPattern.One,
    s"streaming row pattern '$pattern' must end in an un-quantified " +
      "token: a flush-completable tail (?, *, +) would drop " +
      "end-of-stream matches the batch operator emits")

  @transient private lazy val toks = RowPattern.compile(pattern)
  @transient private var st: ValueState[(Int, Long, Long, Int, Boolean)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    implicit val enc: Encoder[(Int, Long, Long, Int, Boolean)] =
      Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong,
        Encoders.scalaLong, Encoders.scalaInt, Encoders.scalaBoolean)
    st = getHandle.getValueState[(Int, Long, Long, Int, Boolean)](
      "attempt", enc, TTLConfig.NONE)
  }

  override def handleInputRows(key: Long,
      rows: Iterator[(Long, Long, Long, String)],
      timers: TimerValues): Iterator[(Long, Long, Long, Int)] = {
    val m = new RowPattern.Matcher(toks)
    Option(st.get()).foreach(m.restore)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Int)]
    // event-time order within the batch; (ts, event_id) matches the
    // batch operator's sort so both see identical sequences
    rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, us, _, tp) =>
      m.feed(tp, us).foreach(mm => out += ((key, mm.startUs, mm.endUs, mm.nRows)))
    }
    st.update(m.snapshot)
    out.iterator
  }
}

class UserSpendProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, Long), (Long, Long, Long, Long)] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.{Encoder, Encoders}

  @transient private var acc: ValueState[(Long, Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    implicit val enc: Encoder[(Long, Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    acc = getHandle.getValueState[(Long, Long, Long)]("acc", enc, TTLConfig.NONE)
  }

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long)],
      timers: TimerValues): Iterator[(Long, Long, Long, Long)] = {
    var (n, cents, last) = Option(acc.get()).getOrElse((0L, 0L, Long.MinValue))
    rows.foreach { case (_, c, ts) =>
      n += 1; cents += c; if (ts > last) last = ts
    }
    acc.update((n, cents, last))
    Iterator((key, n, cents, last))
  }
}
