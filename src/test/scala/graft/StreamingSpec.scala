package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{KafkaShaped, KafkaShapedFileSource, StreamingQueries}

/** Streaming results must equal their batch-equivalent computations
  * (beyond the DuckDB oracle, which already pins them at sf0.01).
  */
class StreamingSpec extends AnyFunSuite with SparkTestBase {

  test("stream_tumbling equals batch tumbling aggregation") {
    val streamed = StreamingQueries.streamTumbling(spark, sf0001).collect()
    val batch = Tables.events(spark, sf0001)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(Tables.money(col("value"))).cast("double").as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("window_start"), col("event_type"))
      .collect()
    assert(streamed.toSeq === batch.toSeq)
  }

  test("durable parquet streaming sink with checkpoint") {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("stream_sink").toString
    try {
      val schema = Tables.eventsRaw(spark, s"$sf0001/events.parquet").schema
      val agg = Tables.adaptEventsTs(
          spark.readStream.schema(schema).parquet(s"$sf0001/events*.parquet"))
        .select(col("event_id"), col("event_type"))
      val q = agg.writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      try q.processAllAvailable() finally q.stop()
      val written = spark.read.parquet(s"$base/out")
      assert(written.count() === Tables.events(spark, sf0001).count())
      // checkpoint exists → restart would resume, not reprocess
      assert(new java.io.File(s"$base/ckpt/offsets").exists())
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
  }

  test("stream_dedup equals batch distinct") {
    val streamed = StreamingQueries.streamDedup(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val batch = Tables.events(spark, sf0001)
      .select("user_id", "event_type").distinct()
      .orderBy("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(streamed.toSeq === batch.toSeq)
  }

  test("watermark drops late data in append mode (two-batch replay)") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("late_data").toString
    try {
      // batch 1 = newest 80% (advances the watermark), batch 2 = oldest 20%
      // (arrives "late"); write sequentially so mtime orders discovery
      val ev = Tables.events(spark, sf0001)
        .select(col("event_id"), col("ts"), col("event_type"))
      val cutoff = ev.selectExpr("percentile(cast(ts AS DOUBLE), 0.2)").head().getDouble(0)
      val late = ev.filter(col("ts").cast("double") <= cutoff)
      val onTime = ev.filter(col("ts").cast("double") > cutoff)
      onTime.coalesce(1).write.parquet(s"$dir/in/b1")
      Thread.sleep(1100)
      late.coalesce(1).write.parquet(s"$dir/in/b2")
      val total = ev.count()
      val lateN = late.count()

      val stream = spark.readStream
        .schema(onTime.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$dir/in/*/")
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
      val q = stream.writeStream.format("memory").queryName("late_demo")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      try q.processAllAvailable() finally q.stop()

      val emitted = spark.table("late_demo")
        .select(col("window.start").as("ws"), col("n")).collect()
      val emittedTotal = emitted.map(_.getLong(1)).sum
      // late rows are dropped; in-flight windows never finalize either —
      // so append emits strictly less than the batch total, and every
      // window at most once
      assert(emittedTotal > 0 && emittedTotal < total,
        s"emitted=$emittedTotal total=$total late=$lateN")
      val windows = emitted.map(_.get(0).toString)
      assert(windows.distinct.length === windows.length, "window emitted twice")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("checkpoint restart resumes exactly-once: no reprocessing, no loss") {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("restart").toString
    try {
      val ev = Tables.events(spark, sf0001).select(col("event_id"))
      val half = ev.count() / 2
      val firstBatch = ev.filter(col("event_id") <= half)
      val n1 = firstBatch.count()
      firstBatch.write.parquet(s"$base/in/b1")
      val schema = spark.read.parquet(s"$base/in/b1").schema

      def runOnce(): Unit = {
        val q = spark.readStream.schema(schema).parquet(s"$base/in/*")
          .writeStream.format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ckpt")
          .trigger(Trigger.AvailableNow()).start()
        try q.processAllAvailable() finally q.stop()
      }
      // run 1 processes batch 1, then the query STOPS (a crash/redeploy)
      runOnce()
      assert(spark.read.parquet(s"$base/out").count() === n1)
      // new data arrives while the query is down
      ev.filter(col("event_id") > half).write.parquet(s"$base/in/b2")
      // run 2 resumes from the checkpoint: only the new files process
      runOnce()
      val out = spark.read.parquet(s"$base/out")
      assert(out.count() === ev.count(), "loss or reprocessing after restart")
      assert(out.select("event_id").distinct().count() === ev.count(),
        "duplicate rows after restart")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
  }

  test("foreachBatch sink: every micro-batch lands exactly once") {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("feb_sink").toString
    try {
      val schema = Tables.eventsRaw(spark, s"$sf0001/events.parquet").schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$sf0001/events*.parquet")
        .select(col("event_id"), col("event_type"))
      val q = stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          // arbitrary batch-side code — the escape hatch for sinks Spark
          // has no connector for (upserts, RPCs, multi-table writes)
          batch.write.mode("append").parquet(s"$base/out")
        }
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      try q.processAllAvailable() finally q.stop()
      val written = spark.read.parquet(s"$base/out")
      assert(written.count() === Tables.events(spark, sf0001).count())
      assert(written.select("event_id").distinct().count() === written.count())
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
  }

  test("kafka-shaped codec round-trips events at microsecond precision") {
    val ev = Tables.events(spark, sf0001)
    val back = KafkaShaped.decode(KafkaShaped.encode(ev))
    val a = ev.orderBy("event_id").collect().map(_.toSeq)
    val b = back.orderBy("event_id").collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq)
  }

  test("tumbling plan is source-agnostic: kafka-shaped replay matches file replay") {
    val dir = java.nio.file.Files.createTempDirectory("kafka_shaped").toString
    try {
      KafkaShaped.encode(Tables.events(spark, sf0001))
        .coalesce(1).write.parquet(s"$dir/topic")
      val viaKafkaShape = StreamingQueries.streamTumblingFrom(
        spark, KafkaShapedFileSource(s"$dir/topic"), "tumbling_kafka_shaped")
        .collect()
      val viaFile = StreamingQueries.streamTumbling(spark, sf0001).collect()
      assert(viaKafkaShape.toSeq === viaFile.toSeq)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("RocksDB state store backend produces identical windowed results") {
    // HDFSBackedStateStore keeps all state on-heap — fine for tests,
    // not for 100 TB streaming state. RocksDB is the scale backend;
    // results must be byte-identical under it.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rocks = StreamingQueries.streamTumbling(spark, sf0001).collect()
      spark.conf.unset(key)
      val heap = StreamingQueries.streamTumbling(spark, sf0001).collect()
      assert(rocks.toSeq === heap.toSeq)
    } finally {
      old match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("stream_tws: transformWithState matches the batch aggregate, conf restored") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(key)
    val rows = StreamingQueries.streamTransformWithState(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(spark.conf.getOption(key) === before,
      "RocksDB provider override must not leak into the session")
    val batch = Tables.events(spark, sf0001)
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.col("value")
            .cast(org.apache.spark.sql.types.DecimalType(12, 2)).*(100))
          .cast("long").as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows.toSet === batch, "stateful accumulator must equal batch aggregate")
    assert(rows.map(_._1).distinct.length === rows.length, "one row per user")
  }

  test("event-time timers close sessions when the watermark passes the deadline") {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("timers").toString
    try GraftSession.withConf(spark, StreamingQueries.RocksDB) {
      // batch 1 = oldest half, batch 2 = newest half: batch 2's watermark
      // sweeps past batch-1 session deadlines and fires their timers
      val ev = Tables.events(spark, sf0001).select(col("user_id"), col("ts"))
      val cut = ev.selectExpr("percentile(cast(ts AS DOUBLE), 0.5)").head().getDouble(0)
      ev.filter(col("ts").cast("double") <= cut).coalesce(1).write.parquet(s"$dir/in/b1")
      Thread.sleep(1100)
      ev.filter(col("ts").cast("double") > cut).coalesce(1).write.parquet(s"$dir/in/b2")

      val perUser = ev.groupBy("user_id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val stream = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/in/*/")
        .withWatermark("ts", "10 minutes")
        .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"))
        .as[(Long, Long)]
      val closed = stream.groupByKey(_._1)
        .transformWithState(
          new graft.streaming.SessionTimerProcessor(30L * 60 * 1000),
          TimeMode.EventTime(), OutputMode.Append())
        .toDF("user_id", "n_events", "closed_at_ms")
      val q = closed.writeStream.format("memory").queryName("timer_sessions")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      try q.processAllAvailable() finally q.stop()

      val rows = spark.table("timer_sessions").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rows.nonEmpty, "batch-2 watermark must fire batch-1 timers")
      rows.foreach { case (uid, n, _) =>
        assert(n > 0 && n <= perUser(uid),
          s"user $uid closed with $n events, has ${perUser(uid)} total")
      }
      // one live timer per key ⇒ at most one close per user per sweep
      val closesPerUser = rows.groupBy(_._1).values.map(_.length)
      assert(closesPerUser.max <= 2, "timer replacement must bound closes")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("stateful queries are replay-batching-independent (multi-batch, maxFilesPerTrigger=1)") {
    // append-mode flatMapGroupsWithState/transformWithState emit one
    // CUMULATIVE row per user per touching micro-batch; the queries
    // collapse to the final emission, so a 2-file replay at one file per
    // trigger must equal the single-batch replay exactly
    import graft.streaming.FileEventSource
    val dir = java.nio.file.Files.createTempDirectory("multi_batch").toString

    // split the raw events (whatever ts encoding the generator wrote —
    // the halves must round-trip bit-identically through FileEventSource's
    // own normalize) into two plain parquet FILES matching the source's
    // events*.parquet glob
    def writeOneFile(df: org.apache.spark.sql.DataFrame, target: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("one_file").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(target))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
    try {
      val raw = Tables.eventsRaw(spark, s"$sf0001/events.parquet")
      // split on event_id parity so (almost) every USER has rows in BOTH
      // micro-batches — i.e. two cumulative emissions that the queries
      // must collapse; a user_id split would sidestep the hazard
      writeOneFile(raw.filter(pmod(col("event_id"), lit(2)) === 0), s"$dir/events.parquet")
      writeOneFile(raw.filter(pmod(col("event_id"), lit(2)) =!= 0), s"$dir/events_b.parquet")

      val multiStateful = StreamingQueries.streamStatefulFrom(
        spark, FileEventSource(dir, maxFilesPerTrigger = Some(1)), "stateful_mb").collect()
      val oneStateful = StreamingQueries.streamStateful(spark, sf0001).collect()
      assert(multiStateful.toSeq === oneStateful.toSeq,
        "stream_stateful must not depend on replay batching")

      val multiTws = StreamingQueries.streamTransformWithStateFrom(
        spark, FileEventSource(dir, maxFilesPerTrigger = Some(1)), "tws_mb").collect()
      val oneTws = StreamingQueries.streamTransformWithState(spark, sf0001).collect()
      assert(multiTws.toSeq === oneTws.toSeq,
        "stream_tws must not depend on replay batching")

      // the equality above is vacuous unless the replay REALLY split into
      // multiple micro-batches: the raw memory sink keeps one cumulative
      // emission per (user, touching batch), so with maxFilesPerTrigger=1
      // over two files some user must have emitted twice
      Seq("stateful_mb", "tws_mb").foreach { sink =>
        val multiEmitters = spark.table(sink)
          .groupBy(col("user_id")).count().filter(col("count") > 1).count()
        assert(multiEmitters > 0,
          s"$sink: replay ran as ONE micro-batch — batching independence untested")
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("stream_static_join equals the batch join and broadcasts the dim") {
    val streamed = StreamingQueries.streamStaticJoin(spark, sf0001)
    val got = streamed.collect().map(_.toSeq)
    val batch = Tables.events(spark, sf0001)
      .filter(col("event_type") === "purchase")
      .join(Tables.customer(spark, sf0001)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment")), Seq("user_id"))
      .select(col("event_id"), col("user_id"), col("c_mktsegment"))
      .orderBy(col("event_id")).collect().map(_.toSeq)
    assert(got.toSeq === batch.toSeq)
  }

  test("stream_session_dynamic: running-max merge rule recomputes; " +
      "long purchase gaps merge sessions the constant gap splits") {
    val got = StreamingQueries.streamSessionDynamic(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))

    // driver-side replay: per user, an event opens a new session iff
    // its ts >= running max of previous interval ends
    val ev = Tables.events(spark, sf0001)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss.SSS")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    val expect = ev.groupBy(_._1).flatMap { case (uid, rows) =>
      val sorted = rows.sortBy(_._2)
      var maxEnd = Long.MinValue
      val sessions = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      sorted.foreach { case (_, us, typ) =>
        val gapUs = (if (typ == "purchase") 60L else 30L) * 60 * 1000000
        if (us >= maxEnd) sessions += ((us, 1L))
        else sessions(sessions.length - 1) =
          (sessions.last._1, sessions.last._2 + 1)
        maxEnd = math.max(maxEnd, us + gapUs)
      }
      sessions.map { case (startUs, n) =>
        val base = fmt.format(new java.util.Date(startUs / 1000))
        (uid, base + "%03d".format(startUs % 1000), n)
      }
    }.toSeq.sortBy(s => (s._1, s._2))
    assert(got.toSeq === expect)

    // the dynamic gap must actually merge somewhere: strictly fewer
    // sessions than the constant-30-minute session query
    val constant = StreamingQueries.streamSession(spark, sf0001).count()
    assert(got.length < constant,
      "a 60-minute purchase hold must merge at least one session pair")
  }

  test("stream_outer_join: matches = batch inner join; null rows follow " +
      "the watermark eviction rule; tail withheld") {
    val got = StreamingQueries.streamOuterJoin(spark, sf0001).collect()
      .map(r => (r.getLong(0), Option(r.getString(1))))
    val (matched, nulls) = got.partition(_._2.isDefined)

    val ev = Tables.events(spark, sf0001)
    val s = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id"), col("ts").as("s_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    val inner = s.join(p, col("user_id") === col("p_user")
        && col("p_ts") > col("s_ts")
        && col("p_ts") <= col("s_ts") + expr("INTERVAL 5 MINUTES"))
      .select(col("signup_id"),
        date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("purchase_at"))
      .collect().map(r => (r.getLong(0), Option(r.getString(1))))
    assert(matched.sorted.toSeq === inner.sorted.toSeq,
      "matched pairs must equal the batch inner join")

    // final watermark = least(max signup ts, max purchase ts) - 10 min;
    // an unmatched signup emits a null row iff s_ts + 5 min < watermark
    val wmUs = math.min(
      s.agg(max(unix_micros(col("s_ts")))).head().getLong(0),
      p.agg(max(unix_micros(col("p_ts")))).head().getLong(0)) - 10L * 60 * 1000000
    val matchedIds = inner.map(_._1).toSet
    val expectNulls = s.select(col("signup_id"), unix_micros(col("s_ts")).as("us"))
      .collect()
      .filter(r => !matchedIds.contains(r.getLong(0))
        && r.getLong(1) + 5L * 60 * 1000000 < wmUs)
      .map(_.getLong(0)).sorted
    assert(nulls.map(_._1).sorted.toSeq === expectNulls.toSeq,
      "null-extended rows must be exactly the evicted unmatched signups")
    // the emission rule genuinely bites: some unmatched signups are
    // withheld (their eviction point is past the final watermark)
    val allUnmatched = s.collect().map(_.getLong(0)).count(!matchedIds.contains(_))
    assert(expectNulls.length < allUnmatched,
      "fixture must leave a withheld tail, or the rule is vacuous")
  }

  test("multi-batch replay: time-ordered slices conserve events; append " +
      "windows follow the watermark emission rule") {
    import graft.streaming.MultiBatchFileSource
    val replay = MultiBatchFileSource.prepare(spark, sf0001, 4)
    val files = new java.io.File(replay).listFiles()
      .filter(_.getName.startsWith("slice-")).sortBy(_.getName)
    assert(files.length === 4)
    assert(files.map(_.lastModified).toSeq ===
      files.map(_.lastModified).sorted.toSeq,
      "slice mtimes must increase so FileStreamSource replays in order")
    val raw = Tables.events(spark, sf0001)
    val union = spark.read.parquet(files.map(_.getPath).toIndexedSeq: _*)
    assert(union.count() === raw.count(), "slices must conserve every event")
    // contiguous event-time slices: no slice overlaps the next (slices
    // are written pre-normalized, so ts is a µs timestamp here)
    val bounds = files.map { f =>
      val r = spark.read.parquet(f.getPath)
        .agg(unix_micros(min(col("ts"))), unix_micros(max(col("ts")))).head
      (r.getLong(0), r.getLong(1))
    }
    bounds.toSeq.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => assert(hi <= lo, "slices must be time-ordered")
      case _ => ()
    }

    // append-mode emission: exactly the windows whose end the FINAL
    // watermark (max event time − 10 min) passed; the tail is withheld
    val got = StreamingQueries.streamAppendWindows(spark, sf0001)
      .collect().map(_.toSeq)
    val ev = Tables.events(spark, sf0001)
    val maxTs = ev.agg(max(col("ts"))).head.getTimestamp(0)
    val expect = ev
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .filter(col("window.end") <= lit(maxTs) - expr("INTERVAL 10 MINUTES"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"))
      .orderBy(col("window_start"), col("event_type"))
      .collect().map(_.toSeq)
    assert(got.toSeq === expect.toSeq)
    val full = ev.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .count().count()
    assert(got.length < full,
      "final watermark must withhold the tail windows (append ≠ complete)")
  }

  test("stream_late_data: out-of-order replay drops late slice-2 rows per the two-watermark rule") {
    val got = StreamingQueries.streamLateData(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.nonEmpty)
    val ev = Tables.events(spark, sf0001)
    // emission boundary: all-data aggregate restricted to windows the
    // final watermark passed
    val w2 = ev.agg(max(col("ts"))).collect()(0).getTimestamp(0).toInstant
      .minusSeconds(600)
    val emittedFull = ev
      .filter(col("ts").cast("long") - pmod(col("ts").cast("long"), lit(3600L))
        + 3600L <= lit(w2.getEpochSecond))
      .count()
    val keptTotal = got.map(_._3).sum
    // late drops are real: fewer contributing rows than the no-drop world
    assert(keptTotal < emittedFull,
      s"expected late drops: kept $keptTotal of $emittedFull")
    // but slices 0/1 are never dropped: at least 2/3 of rows survive
    assert(keptTotal * 3 >= emittedFull * 2,
      s"slices 0,1 must be fully retained: kept $keptTotal of $emittedFull")
    // determinism: replay again, same result
    val again = StreamingQueries.streamLateData(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq === again.toSeq)
  }

  test("stream_state_inspect: state ∪ emitted partitions the batch result") {
    val state = StreamingQueries.streamStateInspect(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
    val emitted = StreamingQueries.streamAppendWindows(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
    assert(state.nonEmpty, "final watermark must leave a withheld tail in state")
    // disjoint: a window is either emitted or still held, never both
    assert(state.map(_._1).toSet.intersect(emitted.map(_._1).toSet).isEmpty)
    // together they are EXACTLY the batch tumbling aggregate
    val batch = Tables.events(spark, sf0001)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
        col("event_type"), col("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
    assert((state ++ emitted).toMap === batch.toMap)
    assert(state.length + emitted.length === batch.length)
  }

  test("stream_tws_state_inspect: the named ValueState read back equals " +
      "the processor's own final emissions") {
    val state = StreamingQueries.streamTwsStateInspect(spark, sf0001)
      .collect().map(_.toSeq)
    val emitted = StreamingQueries.streamTransformWithState(spark, sf0001)
      .collect().map(_.toSeq)
    // TTL-free custom state: the store holds the complete aggregate, so
    // the two reads — live emissions vs post-mortem store scan — agree
    assert(state.nonEmpty)
    assert(state.toSeq === emitted.toSeq)
  }

  test("state-inspect lanes delete their checkpoint dirs before they return") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def ckpts(): Set[String] = Option(tmp.list()).toSeq.flatten
      .filter(n => n.startsWith("graft_tws_state") || n.startsWith("graft_state_ins"))
      .toSet
    val before = ckpts()
    val tws = StreamingQueries.streamTwsStateInspect(spark, sf0001)
    val windows = StreamingQueries.streamStateInspect(spark, sf0001)
    assert((ckpts() -- before).isEmpty, "a state-inspect checkpoint dir outlived its lane")
    // the returned frames no longer read the deleted checkpoint
    Seq(tws, windows).foreach { df =>
      val first = df.collect().map(_.toSeq).toSeq
      assert(first.nonEmpty)
      assert(df.collect().map(_.toSeq).toSeq === first)
    }
  }

  test("stream_session: session count and event conservation") {
    val sessions = StreamingQueries.streamSession(spark, sf0001).collect()
    val totalEvents = sessions.map(_.getLong(2)).sum
    assert(totalEvents === Tables.events(spark, sf0001).count())
    // session starts are unique per user
    val keys = sessions.map(r => (r.getLong(0), r.getString(1)))
    assert(keys.distinct.length === keys.length)
  }
}
