package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.KllSketch

/** Pins the KLL quantile sketch's laws: rank-error bound on a known
  * distribution, merge-order robustness (the property the exact-bracket
  * oracle relies on), determinism for a fixed stream order, and the
  * end-to-end error bound through Spark aggregation under different
  * partitionings.
  */
class KllSketchSpec extends AnyFunSuite with SparkTestBase {

  private def rankErr(est: Long, sorted: Array[Long], p: Double): Double = {
    val rank = sorted.count(_ <= est).toDouble / sorted.length
    math.abs(rank - p)
  }

  private val ps = KllSketch.Ps

  test("rank error <= 1% on a shuffled uniform stream") {
    val rnd = new scala.util.Random(42)
    val vals = rnd.shuffle((0L until 100000L).toVector).toArray
    val b = KllSketch.empty
    vals.foreach(KllSketch.add(b, _))
    val est = KllSketch.quantiles(b, ps)
    val sorted = vals.sorted
    ps.zip(est).foreach { case (p, e) =>
      assert(rankErr(e, sorted, p) <= 0.01, s"p=$p est=$e")
    }
  }

  test("merge-order robustness: random partition merges stay in bound") {
    val rnd = new scala.util.Random(7)
    val vals = Array.fill(60000)(rnd.nextLong(1000000))
    val sorted = vals.sorted
    for (trial <- 1 to 3) {
      val r2 = new scala.util.Random(trial)
      val parts = vals.grouped(vals.length / 32 + 1).map { chunk =>
        val b = KllSketch.empty
        chunk.foreach(KllSketch.add(b, _))
        b
      }.toBuffer
      while (parts.length > 1) {
        val a = parts.remove(r2.nextInt(parts.length))
        val i = r2.nextInt(parts.length)
        parts(i) = KllSketch.merge(parts(i), a)
      }
      val est = KllSketch.quantiles(parts.head, ps)
      ps.zip(est).foreach { case (p, e) =>
        assert(rankErr(e, sorted, p) <= 0.02, s"trial=$trial p=$p")
      }
    }
  }

  test("deterministic for a fixed stream order") {
    def run(): Seq[Long] = {
      val b = KllSketch.empty
      (0 until 50000).foreach(i => KllSketch.add(b, (i * 2654435761L) % 99991))
      KllSketch.quantiles(b, ps).toSeq
    }
    assert(run() === run())
  }

  test("estimates are always retained input values") {
    val vals = (1 to 30000).map(i => i.toLong * 10).toArray
    val b = KllSketch.empty
    vals.foreach(KllSketch.add(b, _))
    KllSketch.quantiles(b, ps).foreach(e => assert(e % 10 === 0 &&
      e >= 10 && e <= 300000))
  }

  test("through Spark aggregation: in-bound under different partitionings") {
    import spark.implicits._
    val cents = Tables.lineitem(spark, sf001)
      .select((col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("long").as("v"))
    val sorted = cents.as[Long].collect().sorted
    for (nPart <- Seq(3, 17)) {
      val est = cents.repartition(nPart).as[Long]
        .select(new KllSketch.KllAgg().toColumn.name("est"))
        .head()
      ps.zip(est).foreach { case (p, e) =>
        assert(rankErr(e, sorted, p) <= 0.02, s"parts=$nPart p=$p")
      }
    }
  }

  test("sketch_kll_quantiles query: brackets all true, ranks exact") {
    val rows = graft.operators.Sketches3.kllQuantiles(spark, sf0001).collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("in_bracket"))
      assert(r.getAs[Long]("lo_rank") < r.getAs[Long]("hi_rank"))
    }
  }

  test("stream_kll_quantiles: merged per-batch partials stay in bracket") {
    val rows = graft.streaming.StreamingQueries
      .streamKllQuantiles(spark, sf0001).collect()
    assert(rows.length === 5)
    rows.foreach(r => assert(r.getAs[Boolean]("in_bracket"),
      s"p=${r.get(0)} out of bracket"))
  }

  test("toLongs/fromLongs: flat encoding round-trips across compaction regimes") {
    val rnd = new scala.util.Random(7)
    Seq(10, KllSketch.K - 1, KllSketch.K * 3, 50000).foreach { n =>
      val b = KllSketch.empty
      (0 until n).foreach(_ => KllSketch.add(b, rnd.nextLong() % 100000))
      val back = KllSketch.fromLongs(KllSketch.toLongs(b))
      assert(KllSketch.quantiles(back, ps).toSeq ===
        KllSketch.quantiles(b, ps).toSeq, s"n=$n")
      // and the decoded sketch keeps WORKING (capacity invariants held):
      // adding enough items to force a compaction must not corrupt it
      (0 until KllSketch.K * 2).foreach(i => KllSketch.add(back, i.toLong))
      assert(KllSketch.quantiles(back, Array(0.5))(0) >= Long.MinValue)
    }
  }

  test("q97b window-merge path: merged daily sketches stay in rank bracket past K") {
    // frames LARGER than K so compaction genuinely runs (at the gate SF
    // frames are sub-K and the sketch is exact — this is the scale
    // regime the registered bracket exists for)
    val rnd = new scala.util.Random(11)
    val days = (0 until 31).map { d =>
      Array.fill(200)(rnd.nextLong().abs % 1000000)
    }
    val sks = days.map { vs =>
      val b = KllSketch.empty
      vs.foreach(KllSketch.add(b, _))
      KllSketch.toLongs(b)
    }
    val merged = sks.map(KllSketch.fromLongs)
      .reduce(KllSketch.merge)
    val est = KllSketch.quantiles(merged, Array(0.5))(0)
    val all = days.flatten.sorted.toArray
    val rank = all.count(_ <= est)
    val n = all.length // 6200 > K=512 → real compactions
    assert(rank >= n * 45 / 100 && rank <= (n * 55 + 99) / 100,
      s"median est rank $rank outside [${n * 45 / 100}, ${(n * 55 + 99) / 100}] of $n")
  }

  test("q97b query: every frame in bracket, n_frame equals the exact recount") {
    val out = graft.operators.Analytics3.rollingMedianKll(spark, sf0001).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getBoolean(5)), "an in_bracket=false row at gate SF " +
      "(frames are sub-K there, the sketch is exact — this must not happen)")
    // recount frames from the raw table
    val orders = Tables.orders(spark, sf0001)
      .selectExpr("o_orderpriority", "date_format(o_orderdate, 'yyyy-MM-dd') AS d")
      .collect().map(r => (r.getString(0), r.getString(1)))
    val fmt = java.time.format.DateTimeFormatter.ISO_LOCAL_DATE
    val byPriority = orders.groupBy(_._1)
    out.foreach { r =>
      val (pri, d, nFrame) = (r.getString(0), r.getString(1), r.getLong(2))
      val day = java.time.LocalDate.parse(d, fmt)
      val expect = byPriority(pri).count { case (_, od) =>
        val o = java.time.LocalDate.parse(od, fmt)
        !o.isAfter(day) && !o.isBefore(day.minusDays(30))
      }
      assert(nFrame === expect.toLong, s"($pri, $d)")
    }
  }
}
