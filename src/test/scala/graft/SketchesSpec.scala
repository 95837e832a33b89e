package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Sketches
import graft.streaming.StreamingQueries

/** Misra–Gries sketch laws (error bound, heavy-hitter superset, merge
  * associativity under random splits) + exact recompute of the
  * verified heavy-hitters query at sf0.001.
  */
class SketchesSpec extends AnyFunSuite with SparkTestBase {

  /** Zipf-ish synthetic stream with known exact counts. */
  private def stream(seed: Int, n: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { _ =>
      val r = rnd.nextDouble()
      if (r < 0.3) "the"
      else if (r < 0.45) "of"
      else if (r < 0.55) "and"
      else s"w${rnd.nextInt(5000)}"
    }
  }

  test("MG bounds: est <= true and true - est <= n/k, any merge split") {
    val xs = stream(11, 60000)
    val exact = xs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val rnd = new scala.util.Random(13)
    // fold in random-sized chunks, merging pairwise in shuffled order —
    // the distributed partial-aggregation shape
    val chunks = xs.grouped(1 + rnd.nextInt(7000)).toSeq
    val partials = chunks.map(_.foldLeft(Map.empty[String, Long])(Sketches.mgAdd))
    val sketch = rnd.shuffle(partials).reduce(Sketches.mgMerge)
    assert(sketch.size <= Sketches.K)
    val bound = xs.size.toLong / Sketches.K
    sketch.foreach { case (t, est) =>
      val tru = exact.getOrElse(t, 0L)
      assert(est <= tru, s"$t overestimated: $est > $tru")
      assert(tru - est <= bound, s"$t error past n/k: $tru - $est > $bound")
    }
    // superset guarantee: anything with true count > n/k survives
    exact.filter(_._2 > bound).keys.foreach { t =>
      assert(sketch.contains(t), s"true heavy hitter $t evicted")
    }
  }

  test("heavy_hitters query equals the exact HAVING recompute") {
    val got = Sketches.heavyHitters(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val toks = Tables.documents(spark, sf0001)
      .select(explode(split(lower(col("text")), " ", -1)).as("raw"))
      .select(regexp_replace(col("raw"), "[^\\w]", "").as("tok"))
      .filter(col("tok") =!= "")
      .collect().map(_.getString(0))
    val n = toks.length.toLong
    val expect = toks.groupBy(identity).view.mapValues(_.size.toLong)
      .filter { case (_, c) => c * Sketches.ThetaDen > n }
      .toSeq.sortBy { case (t, c) => (-c, t) }
    assert(got.toSeq === expect)
    assert(expect.nonEmpty, "fixture must actually have heavy hitters")
  }

  test("approx_top_k agrees with exact counts within sketch error") {
    val est = Sketches.approxTopK(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.size === 20)
    val toks = Tables.documents(spark, sf0001)
      .select(explode(split(lower(col("text")), " ", -1)).as("raw"))
      .select(regexp_replace(col("raw"), "[^\\w]", "").as("tok"))
      .filter(col("tok") =!= "")
      .collect().map(_.getString(0))
    val exact = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // with 4096 tracked items over a corpus with fewer distinct tokens
    // than that, counts are exact and the top-20 is the true top-20
    if (exact.size <= 4096) {
      val trueTop = exact.toSeq.sortBy { case (t, c) => (-c, t) }.take(20)
      trueTop.foreach { case (t, c) =>
        assert(est.contains(t), s"true top token $t missing")
        assert(est(t) === c, s"count drift for $t: ${est(t)} vs $c")
      }
    } else {
      // oversubscribed sketch: estimates may overcount, never undercount
      est.foreach { case (t, c) => assert(c >= exact.getOrElse(t, 0L)) }
    }
  }

  test("stream_heavy_hitters: multi-batch replay equals the batch query") {
    val streamDf = StreamingQueries.streamHeavyHittersImpl(spark, sf0001, 3)
    val nBatches = StreamingQueries.lastDrained.get.recentProgress.count(_.numInputRows > 0)
    assert(nBatches >= 2, "replay must genuinely run multi-batch")
    val streamRows = streamDf.collect().map(r => (r.getString(0), r.getLong(1)))
    val batchRows = graft.operators.Sketches.heavyHitters(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(streamRows.nonEmpty)
    assert(streamRows.toSeq === batchRows.toSeq)
  }

  test("stream_kmv_distinct: min-k of per-batch min-ks equals the batch sketch") {
    val streamDf = StreamingQueries.streamKmvDistinct(spark, sf0001)
    val nBatches = StreamingQueries.lastDrained.get.recentProgress.count(_.numInputRows > 0)
    assert(nBatches >= 2, "replay must genuinely run multi-batch")
    val r = streamDf.collect().head
    // driver recompute of the BATCH sketch over the same table: KMV is
    // a pure function of the distinct-key set, so arbitrary batching
    // must not change a single field
    import org.apache.spark.sql.functions._
    val hashes = Tables.events(spark, sf0001)
      .select(conv(substring(md5(concat(lit("kmv:"),
        col("user_id").cast("string"))), 1, 13), 16, 10)
        .cast("long").as("h"))
      .distinct().collect().map(_.getLong(0)).sorted
    val k = graft.operators.Sketches3.KmvK
    val mink = hashes.take(k)
    val exact = hashes.length.toLong // 52-bit md5 prefixes: no collisions
    val est = if (mink.length < k) mink.length.toLong
      else (k - 1).toLong * graft.operators.Sketches3.KmvDomain / mink.last
    assert(r.getInt(0) === k)
    assert(r.getLong(1) === mink.length.toLong)
    assert(r.getLong(2) === mink.last)
    assert(r.getLong(3) === est)
    assert(r.getLong(4) === exact)
    assert(r.getBoolean(5))
  }
}
