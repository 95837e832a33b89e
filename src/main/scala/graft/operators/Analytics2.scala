package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{QueryDef, Tables}

/** Second analytics batch: marketing attribution, multi-hop graph
  * reachability, join-key skew diagnostics, and time-weighted averaging
  * — all exact-arithmetic (integer counts, decimal money, single
  * correctly-rounded divisions), so every query is oracle-verified.
  */
object Analytics2 {

  /** Last-touch attribution: each purchase's value (exact integer
    * cents, the q72 idiom) is credited to the user's most recent PRIOR
    * non-purchase event type. One window pass partitioned by user
    * (`last_value IGNORE NULLS` over the preceding frame — no
    * self-join, no per-purchase subquery), then a tiny groupBy. The
    * event table is shuffled exactly once, on user_id; at 100 TB the
    * log arrives bucketed by user and the exchange disappears.
    */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        col("value").cast(DecimalType(12, 2)).*(100).cast("long").as("cents"))
      .withColumn("touch",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("touch"), lit("none")).as("touch_type"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("cents")).as("attributed_cents"))
      .orderBy(col("touch_type"))
  }

  private val AttributionOracle: String =
    """SELECT coalesce(touch, 'none') AS touch_type,
      |  count(*) AS n_purchases,
      |  cast(sum(cents) AS BIGINT) AS attributed_cents
      |FROM (
      |  SELECT event_type,
      |    cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
      |    last_value(CASE WHEN event_type <> 'purchase'
      |        THEN event_type END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
      |  FROM events)
      |WHERE event_type = 'purchase'
      |GROUP BY touch_type ORDER BY touch_type""".stripMargin

  /** Seed predicate for [[kHopReach]] — shared with the oracle text. */
  private val SeedMod = 97

  /** K-hop reachability (BFS, 3 hops) from a deterministic seed set
    * over the part co-purchase graph: every node labeled with its
    * minimum hop distance ≤ 3. Each [[Rounds]] round holds every node
    * reached so far, `fresh` marking the frontier, and is one join
    * frontier⋈edges + one anti-join against the reached set. The probe
    * counts fresh rows: an empty frontier makes every later one empty,
    * so stopping there changes nothing (the oracle's full unroll agrees
    * by the same argument), and at sparse-seed scale it stops BFS
    * paying for hops past exhaustion. Nothing is collected. The oracle
    * unrolls the same three frontiers as CTEs with EXCEPT (never NOT IN
    * — NOTES.md #12).
    */
  def kHopReach(spark: SparkSession, dir: String): DataFrame =
    LoopCache.withCached(Analytics.coPurchaseEdges(spark, dir)) { edges =>
      val seed = edges.select(col("u").as("node")).distinct()
        .filter(col("node") % SeedMod === 0)
        .select(col("node"), lit(0).as("hops"), lit(true).as("fresh"))
        .localCheckpoint()
      val (reached, _) = Rounds.iterate(seed, 3, Some(Rounds.fixpoint(col("fresh")))) {
        reached =>
          val frontier = reached.filter(col("fresh"))
            .select(col("node").as("u"), col("hops"))
          val next = edges.join(frontier, Seq("u"))
            .select(col("v").as("node"), (col("hops") + 1).as("hops")).distinct()
            .join(reached, Seq("node"), "left_anti")
          reached.select(col("node"), col("hops"), lit(false).as("fresh"))
            .union(next.withColumn("fresh", lit(true)))
      }
      reached.select(col("node"), col("hops")).orderBy(col("node"))
    }

  private val KHopOracle: String =
    s"""WITH ${Analytics.CoPurchaseEdgesCte},
       |h0 AS (SELECT DISTINCT u AS node FROM edges WHERE u % $SeedMod = 0),
       |h1 AS (
       |  SELECT DISTINCT e.v AS node FROM edges e JOIN h0 ON h0.node = e.u
       |  EXCEPT SELECT node FROM h0),
       |h2 AS (
       |  SELECT DISTINCT e.v AS node FROM edges e JOIN h1 ON h1.node = e.u
       |  EXCEPT (SELECT node FROM h0 UNION ALL SELECT node FROM h1)),
       |h3 AS (
       |  SELECT DISTINCT e.v AS node FROM edges e JOIN h2 ON h2.node = e.u
       |  EXCEPT (SELECT node FROM h0 UNION ALL SELECT node FROM h1
       |          UNION ALL SELECT node FROM h2))
       |SELECT node, 0 AS hops FROM h0
       |UNION ALL SELECT node, 1 FROM h1
       |UNION ALL SELECT node, 2 FROM h2
       |UNION ALL SELECT node, 3 FROM h3
       |ORDER BY node""".stripMargin

  /** Join-key skew diagnostics over `lineitem.l_partkey`: the top-10
    * heaviest keys with their share of the table and skew ratio
    * (key count ÷ mean key count) plus the global key stats on every
    * row. This is the profile you run BEFORE choosing a salting factor
    * or enabling AQE skew handling (the idioms q23/q47 pin). One
    * groupBy for per-key counts; top-10 is TakeOrderedAndProject
    * (0-shuffle); the one-row global stats ride a broadcast
    * scalar-attach (the textTfidf idiom). Share and skew are single
    * divisions of exact int64 products — identical on both engines.
    */
  def skewProfile(spark: SparkSession, dir: String): DataFrame = {
    val cnt = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // reused: totals + top-10
    val totals = cnt.agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("total"),
      max(col("cnt")).as("max_cnt"))
    cnt.orderBy(col("cnt").desc, col("l_partkey")).limit(10)
      .crossJoin(broadcast(totals))
      .select(col("l_partkey"), col("cnt"), col("n_keys"), col("max_cnt"),
        (col("cnt").cast("double") / col("total").cast("double")).as("share"),
        ((col("cnt") * col("n_keys")).cast("double")
          / col("total").cast("double")).as("skew_ratio"))
      .orderBy(col("cnt").desc, col("l_partkey"))
  }

  private val SkewOracle: String =
    """WITH cnt AS (
      |  SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY l_partkey),
      |totals AS (
      |  SELECT count(*) AS n_keys, sum(cnt) AS total, max(cnt) AS max_cnt
      |  FROM cnt),
      |top AS (
      |  SELECT l_partkey, cnt FROM cnt
      |  ORDER BY cnt DESC, l_partkey LIMIT 10)
      |SELECT t.l_partkey, t.cnt, g.n_keys, g.max_cnt,
      |  cast(t.cnt AS DOUBLE) / cast(g.total AS DOUBLE) AS share,
      |  cast(t.cnt * g.n_keys AS DOUBLE) / cast(g.total AS DOUBLE) AS skew_ratio
      |FROM top t CROSS JOIN totals g
      |ORDER BY cnt DESC, l_partkey""".stripMargin

  /** Time-weighted average daily revenue per supplier: each active day's
    * revenue (EXACT decimal money sum, the Tables.money idiom) is
    * weighted by how long it "held" — days until the supplier's next
    * active day (`lead`), 1 for the last. The shape is daily-aggregate →
    * one window pass → final aggregate, all partitioned by supplier:
    * one hash shuffle total. Decimal·int sums stay exact; the final
    * value is ONE double division of two exactly-represented operands,
    * so no rounding idiom is needed.
    */
  def twapRevenue(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.lineitem(spark, dir)
      .groupBy(col("l_suppkey"), to_date(col("l_shipdate")).as("d"))
      .agg(sum(Tables.money(col("l_extendedprice"))).as("day_value"))
    val w = Window.partitionBy(col("l_suppkey")).orderBy(col("d"))
    daily
      .withColumn("wt",
        coalesce(datediff(lead(col("d"), 1).over(w), col("d")), lit(1)))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_days"),
        (sum(col("day_value") * col("wt")).cast("double")
          / sum(col("wt")).cast("double")).as("twap"))
      .orderBy(col("l_suppkey"))
  }

  private val TwapOracle: String =
    """WITH daily AS (
      |  SELECT l_suppkey, cast(l_shipdate AS DATE) AS d,
      |    sum(cast(l_extendedprice AS DECIMAL(12,2))) AS day_value
      |  FROM lineitem GROUP BY l_suppkey, cast(l_shipdate AS DATE)),
      |wtd AS (
      |  SELECT l_suppkey, day_value,
      |    coalesce(date_diff('day', d,
      |      lead(d) OVER (PARTITION BY l_suppkey ORDER BY d)), 1) AS wt
      |  FROM daily)
      |SELECT l_suppkey, count(*) AS n_days,
      |  cast(sum(day_value * wt) AS DOUBLE) / cast(sum(wt) AS DOUBLE) AS twap
      |FROM wtd GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin

  val registry: Seq[QueryDef] = Seq(
    QueryDef("q84_attribution", attribution _, AttributionOracle),
    QueryDef("q85_khop_reach", kHopReach _, KHopOracle),
    QueryDef("q86_skew_profile", skewProfile _, SkewOracle),
    QueryDef("q87_twap", twapRevenue _, TwapOracle)
  )
}
