package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.CaseFold

/** Relational operator surface over the star schema (FIXTURES.md §2).
  *
  * The reference has NO declarative relational operators (SURVEY.md §2b);
  * this module is the capability superset mandated by the north star:
  * projection/filter, the join family (broadcast/shuffle, semi/anti,
  * range), the aggregation family (multi-agg, distinct, rollup/cube,
  * pivot), windows (ranking, running frames), sorts/top-k, and set ops.
  *
  * Scale design notes common to all queries:
  *   - Dimensions (`region`/`nation`/`customer`/`supplier`/`part`) are
  *     broadcast explicitly — at 100 TB the fact tables shuffle, the
  *     dims never should.
  *   - Every query ends in a deterministic total ORDER BY (verification
  *     contract); on a cluster that is one final range-partitioned sort
  *     of an already-reduced result, not a bottleneck.
  *   - Filters appear before joins/aggregates so Catalyst pushes them
  *     into the parquet scan (`PushedFilters` in `.explain`).
  */
object Relational {

  private val ts = (s: String) => lit(java.sql.Timestamp.valueOf(s))

  /** σ+π pushdown probe: predicate + 4-column projection reach the scan. */
  def q2FilterProject(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate").between(ts("1996-01-01 00:00:00"), ts("1996-12-31 00:00:00"))
        && col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .select(col("l_orderkey"), col("l_linenumber"),
        // true product of two 2-decimal values has exactly 4 decimals;
        // round(…,4) never sits on a rounding knife-edge, round(…,2) does
        round(col("l_extendedprice") * col("l_discount"), 4).as("disc_revenue"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** 4-way star join, dims broadcast: revenue by region × order-year.
    * Plan: lineitem⋈orders is the only shuffle join (both big, keyed on
    * orderkey); customer/nation/region ride along as BroadcastHashJoin.
    */
  def q3StarJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), year(col("o_orderdate")).cast("long").as("order_year"))
      .agg(sum(Tables.money(col("l_extendedprice")) * (lit(1) - Tables.rate(col("l_discount"))))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("order_year"))

  /** Left-semi join (EXISTS): customers having ≥1 open order. */
  def q4SemiJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir).filter(col("o_orderstatus") === "O"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  /** Left-anti join (NOT EXISTS): customers with no orders at all. */
  def q5AntiJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), round(col("c_acctbal"), 2).as("acctbal"))
      .orderBy(col("c_custkey"))

  /** Top-k per group: 3 most expensive orders per customer (ranking
    * window + filter — the scalable top-k idiom: partial per-partition
    * state, no global sort of the fact table).
    */
  def q6TopkPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("rn").cast("long").as("rn"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("totalprice"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** Running-frame analytic window: cumulative supplier revenue in
    * ship-date order (unique total order ⇒ bit-deterministic running sum).
    */
  def q7RunningWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") < ts("1995-04-01 00:00:00"))
      .withColumn("running_rev",
        sum(Tables.money(col("l_extendedprice")) * (lit(1) - Tables.rate(col("l_discount"))))
          .over(w).cast("double"))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("running_rev"))
      .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
  }

  /** ROLLUP subtotals over returnflag×linestatus. */
  def q8Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** CUBE over order status×priority. */
  def q9Cube(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), Tables.sumMoney(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  /** Exact multi-distinct aggregation (expand + two-phase agg in Spark). */
  def q10DistinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  /** Set operators in one expression:
    * (open ∪ pending custkeys) ∩ big-spender custkeys ∖ finished custkeys.
    */
  def q11SetOps(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    def keys(pred: org.apache.spark.sql.Column) =
      o.filter(pred).select(col("o_custkey").as("custkey"))
    keys(col("o_orderstatus") === "O")
      .union(keys(col("o_orderstatus") === "P")).distinct()
      .intersect(keys(col("o_totalprice") > 300000))
      .except(keys(col("o_orderstatus") === "F"))
      .orderBy(col("custkey"))
  }

  /** String function battery over part. */
  def q12StringFns(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(col("p_partkey"),
        CaseFold.upper(col("p_name")).as("uname"),
        substring(col("p_type"), 1, 6).as("type6"),
        length(col("p_name")).cast("long").as("name_len"),
        concat_ws("#", col("p_brand"), col("p_type")).as("brand_type"),
        col("p_type").like("%BRASS%").as("is_brass"),
        regexp_extract(col("p_name"), "([a-z]+)", 1).as("first_word"),
        lpad(col("p_brand"), 12, "_").as("padded"),
        replace(col("p_name"), lit(" "), lit("-")).as("dashed"))
      .orderBy(col("p_partkey"))

  /** Date/time function battery over orders. */
  def q13DateFns(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("order_month"))
      .agg(count(lit(1)).as("n_orders"),
        Tables.sumMoney(col("o_totalprice")).as("month_price"),
        min(dayofmonth(col("o_orderdate"))).cast("long").as("min_dom"),
        max(quarter(col("o_orderdate"))).cast("long").as("max_q"))
      .orderBy(col("order_month"))

  /** Math function battery (round(…,4) guards last-ulp libm drift). */
  def q14MathFns(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") <= 100)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(sqrt(col("l_extendedprice")), 4).as("sqrt_price"),
        round(log(col("l_extendedprice")), 4).as("ln_price"),
        round(pow(col("l_discount"), 2), 6).as("disc_sq"),
        ceil(col("l_extendedprice")).as("ceil_price"),
        floor(col("l_extendedprice")).as("floor_price"),
        round(abs(col("l_discount") - 0.05), 4).as("abs_disc"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** Array/lambda function battery over embeddings (higher-order
    * `transform`/`aggregate` stay inside codegen — no UDF).
    */
  def q15ArrayFns(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        size(col("embedding")).cast("long").as("dim"),
        round(aggregate(transform(col("embedding"), x => x.cast("double")),
          lit(0.0), (acc, x) => acc + x * x).as("ss"), 4).as("sum_sq"),
        round(element_at(col("embedding"), 1).cast("double"), 6).as("first_elem"))
      .orderBy(col("vec_id"))

  /** JSON extraction from events.props — from_json with an explicit
    * schema (single parse, codegen-friendly) rather than per-field
    * get_json_object re-parsing.
    */
  def q16JsonFns(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"),
        from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.IntegerType)))).getField("k").as("k_val"))
      .filter(col("k_val") > 50)
      .orderBy(col("event_id"))

  /** Range (interval) join: purchases within 5 minutes after a signup by
    * the same user. Equi-key on user_id carries the shuffle; the time
    * band is a post-join predicate — at 100 TB this is a user_id-
    * partitioned sort-merge join, never a cartesian.
    */
  def q17RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val s = e.filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id"), col("ts").as("s_ts"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    s.join(p, col("user_id") === col("p_user")
        && col("p_ts") > col("s_ts")
        && col("p_ts") <= col("s_ts") + expr("INTERVAL 5 MINUTES"))
      .groupBy(col("signup_id")).agg(count(lit(1)).as("n_purchases"))
      .orderBy(col("signup_id"))
  }

  /** As-of join, scale-correct formulation: most recent signup at-or-
    * before each purchase (same user). Instead of a join + argmax
    * (shuffles candidates, skew-prone), union both streams and take a
    * running `max(signup ts)` window per user — ONE shuffle, no blowup;
    * the standard streaming-friendly as-of idiom.
    */
  def q18AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("event_type").isin("signup", "purchase"))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
    // at equal ts a signup must sort BEFORE the purchase so the running
    // max includes it — matching the oracle's `s.ts <= p.ts` (review
    // caught the (ts, event_id) ordering missing same-instant signups)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"),
        when(col("event_type") === "signup", 0).otherwise(1),
        col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("last_signup_ts",
        max(when(col("event_type") === "signup", col("ts"))).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"),
        date_format(col("last_signup_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("signup_at"))
      .orderBy(col("event_id"))
  }

  /** spark.sql surface parity: TPC-H Q3-shaped shipping-priority query
    * through the SQL parser over temp views.
    */
  def q19SqlSurface(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("v_customer")
    Tables.orders(spark, dir).createOrReplaceTempView("v_orders")
    Tables.lineitem(spark, dir).createOrReplaceTempView("v_lineitem")
    spark.sql(
      """SELECT o_orderkey,
        |  cast(sum(cast(l_extendedprice AS DECIMAL(12,2))
        |    * (1 - cast(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM v_customer JOIN v_orders ON c_custkey = o_custkey
        |  JOIN v_lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
        |GROUP BY o_orderkey
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin)
  }

  /** Conditional aggregation: CASE WHEN / NULL-aware avg / count_if. */
  def q20Conditional(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_finished"),
        // NULL-aware avg, computed as exact-decimal sum / non-null count so
        // both engines divide identical doubles
        round(sum(when(col("o_totalprice") > 200000, Tables.money(col("o_totalprice"))))
          .cast("double") / nullif(count(when(col("o_totalprice") > 200000, lit(1))), lit(0)),
          4).as("avg_big"),
        Tables.sumMoney(coalesce(nullif(col("o_totalprice"), lit(0.0)), lit(0.0))).as("sum_price"))
      .orderBy(col("o_orderpriority"))

  /** Global top-k: TakeOrderedAndProject, not a full sort at scale. */
  def q21GlobalTopk(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(5)
      .select(col("o_orderkey"), col("o_custkey"), round(col("o_totalprice"), 2).as("totalprice"))

  /** Pivot (groupBy.pivot with pinned values → static schema). */
  def q22Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(round(sum(col("l_quantity")), 2))
      .orderBy(col("l_returnflag"))

  // ---------------------------------------------------------------- oracles

  val registry: Seq[QueryDef] = Seq(
    QueryDef("q2_filter_project", q2FilterProject _,
      """SELECT l_orderkey, l_linenumber,
        |  round(l_extendedprice * l_discount, 4) AS disc_revenue
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1996-12-31 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    QueryDef("q3_star_join", q3StarJoin _,
      """SELECT r_name, year(o_orderdate) AS order_year,
        |  cast(sum(cast(l_extendedprice AS DECIMAL(12,2))
        |    * (1 - cast(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, year(o_orderdate)
        |ORDER BY r_name, order_year""".stripMargin),
    QueryDef("q4_semi_join", q4SemiJoin _,
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin),
    QueryDef("q5_anti_join", q5AntiJoin _,
      """SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin),
    QueryDef("q6_topk_per_group", q6TopkPerGroup _,
      """SELECT o_custkey, rn, o_orderkey, totalprice FROM (
        |  SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin),
    QueryDef("q7_running_window", q7RunningWindow _,
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  cast(sum(cast(l_extendedprice AS DECIMAL(12,2))
        |    * (1 - cast(l_discount AS DECIMAL(4,2)))) OVER (
        |    PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_rev
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1995-04-01 00:00:00'
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin),
    QueryDef("q8_rollup", q8Rollup _,
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
    QueryDef("q9_cube", q9Cube _,
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  cast(sum(cast(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin),
    QueryDef("q10_distinct_agg", q10DistinctAgg _,
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    QueryDef("q11_setops", q11SetOps _,
      """SELECT custkey FROM (
        |  (SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
        |   UNION
        |   SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 300000
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |ORDER BY custkey""".stripMargin),
    QueryDef("q12_string_fns", q12StringFns _,
      """SELECT p_partkey, upper(p_name) AS uname,
        |  substring(p_type, 1, 6) AS type6, length(p_name) AS name_len,
        |  concat_ws('#', p_brand, p_type) AS brand_type,
        |  p_type LIKE '%BRASS%' AS is_brass,
        |  regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
        |  lpad(p_brand, 12, '_') AS padded,
        |  replace(p_name, ' ', '-') AS dashed
        |FROM part ORDER BY p_partkey""".stripMargin),
    QueryDef("q13_date_fns", q13DateFns _,
      """SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
        |  count(*) AS n_orders,
        |  cast(sum(cast(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS month_price,
        |  min(dayofmonth(o_orderdate)) AS min_dom,
        |  max(quarter(o_orderdate)) AS max_q
        |FROM orders GROUP BY 1 ORDER BY order_month""".stripMargin),
    QueryDef("q14_math_fns", q14MathFns _,
      """SELECT l_orderkey, l_linenumber,
        |  round(sqrt(l_extendedprice), 4) AS sqrt_price,
        |  round(ln(l_extendedprice), 4) AS ln_price,
        |  round(pow(l_discount, 2), 6) AS disc_sq,
        |  cast(ceil(l_extendedprice) AS BIGINT) AS ceil_price,
        |  cast(floor(l_extendedprice) AS BIGINT) AS floor_price,
        |  round(abs(l_discount - 0.05), 4) AS abs_disc
        |FROM lineitem WHERE l_orderkey <= 100
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    QueryDef("q15_array_fns", q15ArrayFns _,
      """SELECT vec_id, label, len(embedding) AS dim,
        |  round(list_sum(list_transform(embedding,
        |    x -> cast(x AS DOUBLE) * cast(x AS DOUBLE))), 4) AS sum_sq,
        |  round(cast(embedding[1] AS DOUBLE), 6) AS first_elem
        |FROM embeddings ORDER BY vec_id""".stripMargin),
    QueryDef("q16_json_fns", q16JsonFns _,
      """SELECT event_id, cast(json_extract_string(props, '$.k') AS INT) AS k_val
        |FROM events WHERE cast(json_extract_string(props, '$.k') AS INT) > 50
        |ORDER BY event_id""".stripMargin),
    QueryDef("q17_range_join", q17RangeJoin _,
      """SELECT s.event_id AS signup_id, count(*) AS n_purchases
        |FROM events s JOIN events p ON s.user_id = p.user_id
        |  AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL 5 MINUTE
        |WHERE s.event_type = 'signup' AND p.event_type = 'purchase'
        |GROUP BY s.event_id ORDER BY signup_id""".stripMargin),
    QueryDef("q18_asof_join", q18AsofJoin _,
      """SELECT p.event_id,
        |  strftime((SELECT max(s.ts) FROM events s
        |    WHERE s.user_id = p.user_id AND s.event_type = 'signup'
        |      AND s.ts <= p.ts), '%Y-%m-%d %H:%M:%S.%f') AS signup_at
        |FROM events p WHERE p.event_type = 'purchase'
        |ORDER BY p.event_id""".stripMargin),
    QueryDef("q19_sql_surface", q19SqlSurface _,
      """SELECT o_orderkey,
        |  cast(sum(cast(l_extendedprice AS DECIMAL(12,2))
        |    * (1 - cast(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
        |GROUP BY o_orderkey
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin),
    QueryDef("q20_conditional", q20Conditional _,
      """SELECT o_orderpriority,
        |  cast(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
        |  round(cast(sum(CASE WHEN o_totalprice > 200000
        |      THEN cast(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE)
        |    / nullif(count(CASE WHEN o_totalprice > 200000 THEN 1 END), 0), 4) AS avg_big,
        |  cast(sum(cast(coalesce(nullif(o_totalprice, 0.0), 0.0) AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    QueryDef("q21_global_topk", q21GlobalTopk _,
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 5""".stripMargin),
    QueryDef("q22_pivot", q22Pivot _,
      """SELECT l_returnflag,
        |  round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS F,
        |  round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS O
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  )
}
