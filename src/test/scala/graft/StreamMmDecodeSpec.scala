package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingQueries
import graft.operators.{Multimodal, Pipeline8}

/** The documents-replay streaming twins' contracts: the replay is
  * genuinely multi-batch, and each lane's drained output equals its
  * batch twin row-for-row (stream_mm_decode by statelessness;
  * stream_forget because its measures are sums and the decision rule
  * runs only on merged whole-shard totals).
  */
class StreamMmDecodeSpec extends AnyFunSuite with SparkTestBase {

  test("stream_mm_decode: multi-batch replay, output equals the batch twin") {
    val streamed = StreamingQueries.streamMmDecode(spark, sf0001).collect()
    val batches = StreamingQueries.lastDrained.get.recentProgress
    assert(batches.count(_.numInputRows > 0) === 4,
      s"expected 4 data micro-batches, saw ${batches.map(_.numInputRows).toSeq}")
    val batch = Multimodal.mmDecodeMixed(spark, sf0001).collect()
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s === b) }
  }

  test("stream_warc_ingest: multi-batch replay equals the batch twin's page fields") {
    val streamed = StreamingQueries.streamWarcIngest(spark, sf0001).collect()
    val batches = StreamingQueries.lastDrained.get.recentProgress
    assert(batches.count(_.numInputRows > 0) === 4,
      s"expected 4 data micro-batches, saw ${batches.map(_.numInputRows).toSeq}")
    // the batch twin minus the two archive-layout columns (functions
    // of the batching, excluded from the streaming contract)
    val batch = graft.operators.Pipeline9.pipelineWarcIngest(spark, sf0001)
      .drop("shard_id", "member_index").collect()
    assert(streamed.length === batch.length)
    assert(streamed.length > 0, "empty ingest — fixture broke")
    streamed.zip(batch).foreach { case (s, b) => assert(s === b) }
  }

  test("stream_forget: partials from a genuinely multi-batch replay merge to the batch answer") {
    val streamed = StreamingQueries.streamForget(spark, sf0001).collect()
    val nBatches = StreamingQueries.lastDrained.get.recentProgress.count(_.numInputRows > 0)
    assert(nBatches >= 2,
      s"replay degenerated to $nBatches micro-batch(es) — partial merge untested")
    val batch = Pipeline8.pipelineForget(spark, sf0001).collect()
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s === b) }
    // the per-batch partials CANNOT carry the decision: a batch-local
    // rewrite flag would disagree with the merged totals whenever a
    // shard's purge share differs across slices — pin that the final
    // column came from merged totals by recomputing it
    streamed.foreach { r =>
      val rewrite = r.getLong(6) * Pipeline8.RewriteDenom >= r.getLong(5) &&
        r.getLong(2) > 0
      assert(r.getString(7) === (if (rewrite) "rewrite" else "tombstone"))
    }
  }

  test("lastDrained holds the query of the lane that drained last, foreachBatch lanes included") {
    StreamingQueries.streamMmDecode(spark, sf0001).collect()
    val decodeId = StreamingQueries.lastDrained.get.id
    StreamingQueries.streamForget(spark, sf0001)
    val q = StreamingQueries.lastDrained.get
    assert(q.id !== decodeId, "lastDrained still holds stream_mm_decode's query")
    assert(!q.isActive, "a drained query must be stopped")
    val ps = q.recentProgress
    // forgetAccounting reads each batch once: the delete flag is a
    // function of the row's own doc_id, so no request scan joins back
    assert(ps.map(_.numInputRows).sum === 1 * Tables.documents(spark, sf0001).count())
    assert(ps.count(_.numInputRows > 0) === 4, "one data micro-batch per slice")
    assert(ps.last.sink.description.contains("ForeachBatchSink"),
      s"not the forget lane's sink: ${ps.last.sink.description}")
  }
}
