package freshjvm

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed region around one call into a layer. `parent` is the index of
  * the enclosing span in the same trace, -1 for the root.
  */
final case class Span(name: String, op: String, parent: Int,
    startNs: Long, endNs: Long)

/** Span recording for a round. The untraced run uses [[Spans.Off]], which
  * only runs the body.
  */
trait Spans {
  def apply[T](name: String, op: String)(body: => T): T
}

object Spans {
  object Off extends Spans {
    def apply[T](name: String, op: String)(body: => T): T = body
  }

  /** Keeps every span in memory; the caller writes them out at exit. */
  final class On extends Spans {
    val spans = mutable.ArrayBuffer.empty[Span]
    private var open: List[Int] = Nil

    def apply[T](name: String, op: String)(body: => T): T = {
      val idx = spans.length
      spans += Span(name, op, open.headOption.getOrElse(-1), System.nanoTime(), 0L)
      open = idx :: open
      try body
      finally {
        open = open.tail
        spans(idx) = spans(idx).copy(endNs = System.nanoTime())
      }
    }
  }
}

/** Per-(op, phase) Spark work counters, filled by [[ExecListener]]. */
final class Counters {
  var jobs, stages, tasks = 0L
  var cpuNs, waitMs, gcMs, shuffleWrite, shuffleRead, fetchWaitMs = 0L
  var spill, inputBytes = 0L
}

object ExecListener {
  /** Local property naming the op and phase that submitted a job. It is
    * inherited by threads started inside the op, such as a streaming
    * query's execution thread.
    */
  val PhaseKey = "freshjvm.phase"
  def key(op: String, phase: String): String = s"$op\u0000$phase"
}

/** Counts jobs, stages and tasks and sums task metrics, keyed by the
  * submitting op and phase.
  */
final class ExecListener extends SparkListener {
  val byKey = mutable.Map.empty[String, Counters]
  private val stageKey = mutable.Map.empty[Int, String]
  private val stageSubmitMs = mutable.Map.empty[(Int, Int), Long]
  private val Other = ExecListener.key("other", "other")

  private def c(k: String) = byKey.getOrElseUpdate(k, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val k = Option(e.properties).flatMap(p => Option(p.getProperty(ExecListener.PhaseKey)))
      .getOrElse(Other)
    c(k).jobs += 1
    e.stageIds.foreach(stageKey(_) = k)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stageSubmitMs((i.stageId, i.attemptNumber())) =
      i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c(stageKey.getOrElse(e.stageInfo.stageId, Other)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val cc = c(stageKey.getOrElse(e.stageId, Other))
    cc.tasks += 1
    stageSubmitMs.get((e.stageId, e.stageAttemptId))
      .foreach(s => cc.waitMs += math.max(0L, e.taskInfo.launchTime - s))
    val m = e.taskMetrics
    if (m != null) {
      cc.cpuNs += m.executorCpuTime
      cc.gcMs += m.jvmGCTime
      cc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      cc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      cc.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      cc.spill += m.diskBytesSpilled
      cc.inputBytes += m.inputMetrics.bytesRead
    }
  }
}

/** Micro-batch progress of every streaming query on the session. */
final class StreamListener extends StreamingQueryListener {
  var batches = 0L
  var planMs, getBatchMs, addBatchMs, commitMs = 0L
  private val stateRows = mutable.Map.empty[java.util.UUID, Long]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      val p = e.progress
      def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      batches += 1
      planMs += ms("queryPlanning")
      getBatchMs += ms("getBatch")
      addBatchMs += ms("addBatch")
      commitMs += ms("walCommit") + ms("commitOffsets")
      // the peak state size per query: the last batch of a bounded run
      // may already have evicted every row behind the watermark
      val rows = p.stateOperators.map(_.numRowsTotal).sum
      stateRows(p.id) = math.max(rows, stateRows.getOrElse(p.id, 0L))
    }

  def totalStateRows: Long = synchronized(stateRows.values.sum)
}

/** Listed size (the `filesSize` scan metric) and output rows of the
  * files scanned by every executed query. The size is that of the files
  * listed, not the bytes read after column pruning: the task input
  * metrics cannot give those, because the parquet reader's vectored reads
  * run on other threads and escape the task's counters.
  */
final class ScanListener extends QueryExecutionListener {
  var bytes, rows = 0L

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      PlanStats.nodes(qe.executedPlan).foreach {
        case s: FileSourceScanExec =>
          bytes += s.metrics.get("filesSize").map(_.value).getOrElse(0L)
          rows += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        case _ =>
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object PlanStats {
  /** Every physical node of `plan`, descending into adaptive plans,
    * query stages and subqueries, but not into the plans of cached
    * relations.
    */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case p => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  /** (shuffle exchanges, range-partitioned exchanges, cached scans). */
  def shape(plan: SparkPlan): (Int, Int, Int) = {
    val ns = nodes(plan)
    val ex = ns.collect { case e: ShuffleExchangeExec => e }
    (ex.size, ex.count(_.outputPartitioning.isInstanceOf[RangePartitioning]),
      ns.count(_.isInstanceOf[InMemoryTableScanExec]))
  }
}

/** Direct timings of three engine kernels on seeded inputs, in ns per
  * call: the median of five batches after one warm-up batch.
  */
object KernelTimings {
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.unsafe.types.UTF8String
  import graft.functions.{JaroWinklerUtil, MediaHeaders, MinHashUtil}

  private def perCall(n: Int)(body: Int => Unit): Double = {
    def batch(): Double = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { body(i); i += 1 }
      (System.nanoTime() - t0).toDouble / n
    }
    batch()
    val xs = Seq.fill(5)(batch()).sorted
    xs(2)
  }

  private def le(v: Int, bytes: Int): Array[Byte] =
    Array.tabulate(bytes)(i => ((v >>> (8 * i)) & 0xff).toByte)

  /** A 54-byte BMP header for a w×h 24-bit image. */
  private def bmp(w: Int, h: Int): Array[Byte] =
    "BM".getBytes("US-ASCII") ++ le(54 + w * h * 3, 4) ++ le(0, 4) ++ le(54, 4) ++
      le(40, 4) ++ le(w, 4) ++ le(h, 4) ++ le(1, 2) ++ le(24, 2) ++ le(0, 4) ++
      le(w * h * 3, 4) ++ le(0, 16)

  /** A 44-byte PCM WAV header declaring n frames. */
  private def wav(rate: Int, ch: Int, n: Int): Array[Byte] =
    "RIFF".getBytes("US-ASCII") ++ le(36 + n * ch * 2, 4) ++
      "WAVEfmt ".getBytes("US-ASCII") ++ le(16, 4) ++ le(1, 2) ++ le(ch, 2) ++
      le(rate, 4) ++ le(rate * ch * 2, 4) ++ le(ch * 2, 2) ++ le(16, 2) ++
      "data".getBytes("US-ASCII") ++ le(n * ch * 2, 4)

  def apply(seed: Long): Map[String, Double] = {
    val rnd = new scala.util.Random(seed)
    val words = Array.tabulate(500)(i => s"w$i")
    val docs = Array.fill(256)(new GenericArrayData(
      Array.fill(20 + rnd.nextInt(40))(
        UTF8String.fromString(words(rnd.nextInt(words.length)))): Array[Any]))
    val names = Array.fill(512)(UTF8String.fromString(
      f"Customer#${rnd.nextInt(1000000)}%09d"))
    val payloads = Array.tabulate(64)(i =>
      if (i % 2 == 0) bmp(1 + rnd.nextInt(4096), 1 + rnd.nextInt(4096))
      else wav(Seq(8000, 22050, 44100)(rnd.nextInt(3)), 1 + rnd.nextInt(2),
        rnd.nextInt(1 << 20)))
    Map(
      "functions.minhash_ns" -> perCall(20000) { i =>
        sink += MinHashUtil.signature(docs(i & 255))(0) },
      "functions.jaro_winkler_ns" -> perCall(200000) { i =>
        sink += JaroWinklerUtil.similarity(names(i & 511), names((i * 7 + 1) & 511)) },
      "functions.media_probe_ns" -> perCall(200000) { i =>
        sink += MediaHeaders.probe(payloads(i & 63)).hashCode })
  }

  // every result is added here, so the timed calls cannot be optimised away
  @volatile private var sink = 0.0
}

/** All tracing state of one traced round: spans, the Spark and streaming
  * listeners, and per-op plan figures.
  */
final class Tracer(spark: SparkSession) {
  val spans = new Spans.On
  val exec = new ExecListener
  val stream = new StreamListener
  val scans = new ScanListener
  spark.sparkContext.addSparkListener(exec)
  spark.streams.addListener(stream)
  spark.listenerManager.register(scans)

  var analysisMs, optimizeMs, physicalMs = 0L
  var exchanges, rangeExchanges, cachedScans = 0L
  var persistedBytes = 0L

  /** Planning figures of one op's frame, read after it was planned. */
  def recordPlan(df: org.apache.spark.sql.DataFrame): Unit = {
    val qe = df.queryExecution
    val ph = qe.tracker.phases
    def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
    analysisMs += ms("analysis")
    optimizeMs += ms("optimization")
    physicalMs += ms("planning")
    val (e, r, c) = PlanStats.shape(qe.executedPlan)
    exchanges += e; rangeExchanges += r; cachedScans += c
  }

  /** Bytes the block manager holds for persisted frames, read once at
    * the end of the round.
    */
  def recordPersisted(): Unit =
    persistedBytes = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum

  def drain(): Unit = org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)

  def spanSeconds(name: String, op: String => Boolean = _ => true): Double =
    spans.spans.filter(s => s.name == name && op(s.op))
      .map(s => (s.endNs - s.startNs) / 1e9).sum

  def counters(pred: String => Boolean): Counters = {
    val t = new Counters
    exec.synchronized {
      exec.byKey.foreach { case (k, c) if pred(k) =>
        t.jobs += c.jobs; t.stages += c.stages; t.tasks += c.tasks
        t.cpuNs += c.cpuNs; t.waitMs += c.waitMs; t.gcMs += c.gcMs
        t.shuffleWrite += c.shuffleWrite; t.shuffleRead += c.shuffleRead
        t.fetchWaitMs += c.fetchWaitMs; t.spill += c.spill
        t.inputBytes += c.inputBytes
      case _ => }
    }
    t
  }
}
