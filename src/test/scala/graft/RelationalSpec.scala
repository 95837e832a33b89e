package graft

import org.apache.spark.sql.catalyst.expressions.{Lower, Upper}
import org.apache.spark.sql.catalyst.util.CollationFactory
import org.apache.spark.sql.types.{DataType, StringType}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Relational

/** Sanity + semantics checks for the relational surface at sf0.001.
  * (Exact value parity vs DuckDB is enforced by tools/local_verify.py and
  * the driver's correctness gate; these tests pin semantics that the
  * oracle can't see, e.g. plan shape and internal consistency.)
  */
class RelationalSpec extends AnyFunSuite with SparkTestBase {

  test("entry() returns rows (driver smoke-check contract)") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.contains("sum_qty"))
  }

  private def utf8Binary(t: DataType): Boolean = t match {
    case st: StringType => st.collationId == CollationFactory.UTF8_BINARY_COLLATION_ID
    case _ => false
  }

  test("every registered query executes and is non-degenerate at sf0.001") {
    def check(q: QueryDef)(df: org.apache.spark.sql.DataFrame): Unit = {
      val n = df.count()
      assert(n >= 0, s"${q.name} failed")
      assert(df.columns.nonEmpty, s"${q.name} has no columns")
      withClue(s"${q.name}: ") { assert(df.columns.distinct.length === df.columns.length) }
      // a UTF8_BINARY string folds through graft.functions.CaseFold: the
      // first Spark Lower/Upper in a JVM builds ICU's title-case table
      // (a collated string keeps Spark's fold: it needs the collation)
      val sparkFolds = df.queryExecution.optimizedPlan
        .collectWithSubqueries { case p => p.expressions }.flatten
        .flatMap(_.collect {
          case f @ (_: Lower | _: Upper) if utf8Binary(f.children.head.dataType) => f
        })
      assert(sparkFolds.isEmpty,
        s"${q.name} folds a UTF8_BINARY string with Spark's $sparkFolds")
    }
    // batch lanes run CONCURRENTLY on the shared session (a SparkSession
    // schedules concurrent jobs safely, and no batch lane writes the
    // session conf) — this test is a mini
    // verify over all 262 lanes and was the suite's single biggest wall
    // chunk when sequential. Streaming lanes stay SEQUENTIAL: they pin
    // memory-sink queryNames and toggle shuffle.partitions around their
    // runs, both process-global.
    val lanes = SparkEntry.registry
    val (streamQs, batchQs) = lanes.partition(q => Lanes.streaming(q.name))
    def run(q: QueryDef): (String, Lanes.Outcome) =
      q.name -> Lanes.run(spark, q, sf0001)(check(q))
    // every lane runs to the end so one failure cannot hide another
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val batchResults = try {
      val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val futures = batchQs.map(q => scala.concurrent.Future(run(q))(ec))
      import scala.concurrent.duration._
      futures.map(f => scala.concurrent.Await.result(f, 20.minutes))
    } finally pool.shutdown()
    val results = batchResults ++ streamQs.map(run)
    // a lane whose external input is absent here (wordcount_reference
    // without the reference corpus, FIXTURES.md §1) is reported, not run
    results.collect { case (name, Lanes.Skipped(reason)) =>
      info(s"$name not run: $reason") }
    val failures = results.collect {
      case (name, Lanes.Failed(e)) => name -> e
    }
    if (failures.nonEmpty) {
      val lines = failures.map { case (name, e) =>
        val msg = Option(e.getMessage).flatMap(_.linesIterator.nextOption())
        s"  $name: ${e.getClass.getSimpleName}: ${msg.getOrElse("")}"
      }
      fail(s"${failures.length} of ${lanes.length} lanes failed:\n" +
        lines.mkString("\n"), failures.head._2)
    }
    // the cache rule (operators.LoopCache): a lane frees what it cached
    // before it returns, so no lane's result outlives it in the session
    assert(spark.sharedState.cacheManager.isEmpty,
      "a lane left a cached frame in the session's cache manager")
  }

  test("q6 top-k per group: rn within group is 1..3 and prices non-increasing") {
    val rows = Relational.q6TopkPerGroup(spark, sf0001)
      .collect().groupBy(_.getLong(0))
    rows.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq === (1L to sorted.length.toLong))
      val prices = sorted.map(_.getDouble(3))
      assert(prices.zip(prices.tail).forall { case (a, b) => a >= b })
    }
  }

  test("q11 set ops agree with a direct computation") {
    val o = Tables.orders(spark, sf0001)
      .select("o_custkey", "o_orderstatus", "o_totalprice").collect()
    val open = o.filter(_.getString(1) == "O").map(_.getLong(0)).toSet
    val pend = o.filter(_.getString(1) == "P").map(_.getLong(0)).toSet
    val big = o.filter(_.getDouble(2) > 300000).map(_.getLong(0)).toSet
    val fin = o.filter(_.getString(1) == "F").map(_.getLong(0)).toSet
    val expected = ((open ++ pend) & big) -- fin
    val got = Relational.q11SetOps(spark, sf0001).collect().map(_.getLong(0)).toSet
    assert(got === expected)
  }

  test("q3 star join broadcasts the dimension tables") {
    val plan = Relational.q3StarJoin(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "dims should broadcast")
  }

  test("q2 filter is pushed down to the parquet scan") {
    val plan = Relational.q2FilterProject(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["), "expected pushed filters in scan")
    assert(plan.contains("l_shipdate"), "shipdate predicate should reach the scan")
  }

  test("q21 global top-k plans as TakeOrderedAndProject (no full sort)") {
    val plan = Relational.q21GlobalTopk(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("q18 as-of join matches a naive per-row computation") {
    val e = Tables.events(spark, sf0001)
      .select("event_id", "user_id", "ts", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getString(3)))
    val signups = e.filter(_._4 == "signup")
    val expected = e.filter(_._4 == "purchase").map { case (id, u, ts, _) =>
      val prior = signups.filter(s => s._2 == u && !s._3.after(ts))
      id -> (if (prior.isEmpty) null else prior.map(_._3).max)
    }.toMap
    val got = Relational.q18AsofJoin(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size === expected.size)
    expected.foreach { case (id, ts) =>
      val want = if (ts == null) null
      else {
        // SimpleDateFormat SSSSSS prints millis zero-padded, so format the
        // micros manually from the Timestamp's nanos field
        val base = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss").format(ts)
        f"$base.${ts.getNanos / 1000}%06d"
      }
      assert(got(id) === want, s"purchase $id")
    }
  }
}
