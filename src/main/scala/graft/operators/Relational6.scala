package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Spark 4 SQL-defined functions (`CREATE FUNCTION … RETURN expr`) —
  * the declarative UDF tier: the body is SQL, so Catalyst INLINES it
  * into the calling plan (constant-folds, pushes predicates through,
  * keeps whole-stage codegen) — nothing the JVM-closure `udf()` tier
  * can offer. This is the extension surface a SQL-only user gets
  * without any Scala; the reference's only extension point is the
  * compiled-in map/reduce triple (reference:
  * `user/UserDefinedFunctions.scala:5-30`).
  */
object Relational6 {

  /** Revenue per order priority computed through TWO SQL UDFs: a scalar
    * `graft_disc_price(price, disc)` (exact decimal money math — the
    * q1 idiom as a reusable function) and a predicate
    * `graft_in_window(date, lo_year, n_years)`. Both are declared with
    * CREATE OR REPLACE TEMPORARY FUNCTION and called from ordinary SQL;
    * the executed plan is identical to writing the expressions inline
    * (the oracle does exactly that), proving the inlining: filters
    * still push to the scan, the aggregate still runs partial+final.
    */
  def sqlUdf(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem_v")
    Tables.orders(spark, dir).createOrReplaceTempView("orders_v")
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_disc_price(
        |  price DOUBLE, disc DOUBLE) RETURNS DECIMAL(18,4)
        |RETURN cast(price AS DECIMAL(12,2)) * (1 - cast(disc AS DECIMAL(4,2)))
        |""".stripMargin)
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_in_window(
        |  d TIMESTAMP, lo_year INT, n_years INT) RETURNS BOOLEAN
        |RETURN year(d) >= lo_year AND year(d) < lo_year + n_years
        |""".stripMargin)
    spark.sql(
      """SELECT o.o_orderpriority,
        |  count(*) AS n_items,
        |  cast(sum(graft_disc_price(l.l_extendedprice, l.l_discount))
        |    AS DOUBLE) AS revenue
        |FROM lineitem_v l JOIN orders_v o ON l.l_orderkey = o.o_orderkey
        |WHERE graft_in_window(l.l_shipdate, 1994, 2)
        |GROUP BY o.o_orderpriority
        |ORDER BY o.o_orderpriority""".stripMargin)
  }

  private val SqlUdfOracle: String =
    """SELECT o.o_orderpriority,
      |  count(*) AS n_items,
      |  cast(sum(cast(l.l_extendedprice AS DECIMAL(12,2))
      |    * (1 - cast(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |WHERE year(l.l_shipdate) >= 1994 AND year(l.l_shipdate) < 1996
      |GROUP BY o.o_orderpriority
      |ORDER BY o.o_orderpriority""".stripMargin

  /** The TABLE half of the SQL-function surface: a parameterized SQL
    * table function (`RETURNS TABLE`) applied via LATERAL to a row of
    * price buckets — the declarative UDTF. Catalyst inlines the body as
    * a correlated lateral subquery (no closure, no serialization), so
    * the rewritten plan is an ordinary aggregate under a lateral join —
    * the oracle states the same computation with the function inlined
    * as a CTE joined on the bucket bounds.
    */
  def sqlTableUdf(spark: SparkSession, dir: String): DataFrame = {
    // unique per-lane view name: lanes run concurrently on the shared
    // test session, and two lanes racing createOrReplaceTempView on one
    // name is only safe while the definitions happen to be identical —
    // TempViewNamesSpec enforces one registration site per name
    Tables.orders(spark, dir).createOrReplaceTempView("orders_tvf_v")
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION order_bucket_stats(
        |  lo DOUBLE, hi DOUBLE)
        |RETURNS TABLE(o_orderpriority STRING, n BIGINT, total DOUBLE)
        |RETURN SELECT o_orderpriority, count(*) AS n,
        |  cast(sum(cast(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders_tvf_v
        |WHERE o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY o_orderpriority
        |""".stripMargin)
    spark.sql(
      """SELECT b.lo, s.o_orderpriority, s.n, s.total
        |FROM VALUES (0.0D, 100000.0D), (100000.0D, 200000.0D),
        |  (200000.0D, 600000.0D) AS b(lo, hi),
        |  LATERAL order_bucket_stats(b.lo, b.hi) AS s
        |ORDER BY b.lo, s.o_orderpriority""".stripMargin)
  }

  private val SqlTableUdfOracle: String =
    """WITH buckets(lo, hi) AS (VALUES (0.0, 100000.0), (100000.0, 200000.0),
      |  (200000.0, 600000.0))
      |SELECT cast(b.lo AS DOUBLE) AS lo, o.o_orderpriority, count(*) AS n,
      |  cast(sum(cast(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM buckets b JOIN orders o
      |  ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
      |GROUP BY cast(b.lo AS DOUBLE), o.o_orderpriority
      |ORDER BY lo, o_orderpriority""".stripMargin

  /** SQL SCRIPTING (Spark 4's procedural compound statements): a
    * BEGIN…END block with DECLAREd variables and a WHILE loop, each
    * iteration folding a scalar-subquery aggregate into an accumulator —
    * the migration surface for stored-procedure workloads, where the
    * loop body is still a full Catalyst-planned query (the procedural
    * layer only sequences statements; nothing becomes row-at-a-time).
    * The accumulator is DOUBLE and each step adds one exact-decimal
    * per-linenumber sum in a FIXED order (ln = 1…4), so the float result
    * is a deterministic left-fold — and the oracle states the same
    * nested addition explicitly instead of a single unordered sum().
    */
  def sqlScripting(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem_scr")
    spark.sql(
      """BEGIN
        |  DECLARE ln INT DEFAULT 1;
        |  DECLARE acc DOUBLE DEFAULT 0.0;
        |  WHILE ln <= 4 DO
        |    SET acc = acc + (
        |      SELECT cast(sum(cast(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
        |      FROM lineitem_scr WHERE l_linenumber = ln);
        |    SET ln = ln + 1;
        |  END WHILE;
        |  SELECT 4 AS n_lines, acc AS total_price;
        |END""".stripMargin)
  }

  private val SqlScriptingOracle: String =
    """WITH s AS (
      |  SELECT l_linenumber AS ln,
      |    cast(sum(cast(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS s
      |  FROM lineitem WHERE l_linenumber <= 4 GROUP BY 1)
      |SELECT 4 AS n_lines,
      |  ((((0.0 + (SELECT s FROM s WHERE ln = 1))
      |    + (SELECT s FROM s WHERE ln = 2))
      |    + (SELECT s FROM s WHERE ln = 3))
      |    + (SELECT s FROM s WHERE ln = 4)) AS total_price""".stripMargin

  /** INTERVAL-OVERLAP self-join — "which order lines of the same
    * supplier had overlapping fulfillment windows [o_orderdate,
    * l_shipdate]" — via WEEK-BUCKET candidate generation: each interval
    * explodes to its covered weeks, candidates join on (suppkey, week)
    * — an ordinary HASH join — then the exact overlap predicate
    * re-checks and `distinct` collapses multi-week matches. Any
    * overlapping pair shares the week of max(start, start), so recall is
    * exact. The naive formulation is a non-equi self-join that Spark
    * can only run as a per-key nested loop — quadratic in lines per
    * supplier, the classic temporal-join scale bomb; bucketing makes the
    * candidate set linear in total interval-weeks. (A production
    * variant adds a coarser second band for outlier-long intervals to
    * bound the explode; the principle is unchanged.)
    */
  def intervalOverlap(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).as("l")
      .join(Tables.orders(spark, dir).as("o"),
        col("l.l_orderkey") === col("o.o_orderkey"))
      .join(Tables.supplier(spark, dir).filter(col("s_nationkey") === 3).as("s"),
        col("l.l_suppkey") === col("s.s_suppkey"))
      .filter(year(col("l.l_shipdate")) === 1995)
      // the synthetic tables have no order→ship causality: keep only
      // well-formed windows (orderdate ≤ shipdate) on BOTH engines
      .filter(to_date(col("o.o_orderdate")) <= to_date(col("l.l_shipdate")))
      .select(col("l.l_suppkey").as("s_suppkey"),
        (col("l.l_orderkey") * 10 + col("l.l_linenumber")).as("lid"),
        to_date(col("o.o_orderdate")).as("a"),
        to_date(col("l.l_shipdate")).as("b"))
    val bucketed = li.select(col("s_suppkey"), col("lid"), col("a"), col("b"),
      explode(sequence(
        date_trunc("week", col("a")).cast("date"),
        date_trunc("week", col("b")).cast("date"),
        expr("interval 7 days"))).as("wk"))
    bucketed.as("x").join(bucketed.as("y"),
        col("x.s_suppkey") === col("y.s_suppkey") && col("x.wk") === col("y.wk")
          && col("x.lid") < col("y.lid")
          && col("x.a") <= col("y.b") && col("y.a") <= col("x.b"))
      .select(col("x.s_suppkey").as("s_suppkey"),
        col("x.lid").as("lid_a"), col("y.lid").as("lid_b"),
        (datediff(least(col("x.b"), col("y.b")),
          greatest(col("x.a"), col("y.a"))) + 1).cast("long").as("overlap_days"))
      .distinct()
      .orderBy(col("s_suppkey"), col("lid_a"), col("lid_b"))
  }

  private val IntervalOverlapOracle: String =
    """WITH li AS (
      |  SELECT l.l_suppkey AS s_suppkey,
      |    l.l_orderkey * 10 + l.l_linenumber AS lid,
      |    o.o_orderdate::DATE AS a, l.l_shipdate::DATE AS b
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  WHERE s.s_nationkey = 3 AND year(l.l_shipdate) = 1995
      |    AND o.o_orderdate::DATE <= l.l_shipdate::DATE)
      |SELECT x.s_suppkey, x.lid AS lid_a, y.lid AS lid_b,
      |  cast(date_diff('day', greatest(x.a, y.a), least(x.b, y.b)) + 1
      |    AS BIGINT) AS overlap_days
      |FROM li x JOIN li y
      |  ON x.s_suppkey = y.s_suppkey AND x.lid < y.lid
      |  AND x.a <= y.b AND y.a <= x.b
      |ORDER BY x.s_suppkey, lid_a, lid_b""".stripMargin

  /** The OBSERVATION API: pipeline health metrics (row count, exact
    * money total, latest ship date) collected as accumulator-style
    * side-channel metrics ON the running job — no second scan, no extra
    * shuffle, which is the whole point at 100 TB: data-quality
    * dashboards ride the ETL job instead of re-reading the input. The
    * observed values arrive on the driver when the action completes
    * (here a noop-sink write standing in for the real output write);
    * the returned 1-row frame is those metrics, and the oracle is the
    * same aggregate as an ordinary query — proving observe() loses
    * nothing.
    */
  def observeMetrics(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val obs = org.apache.spark.sql.Observation("graft_stats")
    Tables.lineitem(spark, dir)
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(Tables.money(col("l_extendedprice"))).cast("double").as("sum_price"),
        date_format(max(col("l_shipdate")), "yyyy-MM-dd").as("max_ship"))
      .write.format("noop").mode("overwrite").save()
    // a bounded wait that throws Rounds.ObservationTimeout: no fallback
    // value, since this lane exists to show observe() loses nothing
    val m = Rounds.awaitObserved(obs)
    Seq((m.getAs[Long]("n_rows"), m.getAs[Double]("sum_price"),
        m.getAs[String]("max_ship")))
      .toDF("n_rows", "sum_price", "max_ship")
  }

  private val ObserveOracle: String =
    """SELECT cast(count(*) AS BIGINT) AS n_rows,
      |  cast(sum(cast(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
      |  strftime(max(l_shipdate), '%Y-%m-%d') AS max_ship
      |FROM lineitem""".stripMargin

  /** Spark 4 string COLLATIONS: grouping, equality, and prefix tests
    * under `UTF8_LCASE` — the engine's collation machinery does the
    * case folding, not an explicit lower() (if Spark grouped the
    * collated column case-sensitively, every group would split 4 ways
    * and the counts could not match the oracle). The fixture derives a
    * mixed-case name per document (4 case variants × 7 suffixes = 28
    * true groups); output keys are normalized with lower() ONLY for
    * deterministic display — the grouping itself runs on the collated
    * column. The oracle replays the semantics with lower(), which is
    * exactly what UTF8_LCASE means for ASCII.
    */
  def collation(spark: SparkSession, dir: String): DataFrame = {
    val forms = array(lit("Alpha"), lit("ALPHA"), lit("alpha"), lit("aLpHa"))
    val name = concat(
      element_at(forms, (col("doc_id") % 4 + 1).cast("int")),
      lit("-"), (col("doc_id") % 7).cast("string"))
    val k = collate(name, "UTF8_LCASE")
    Tables.documents(spark, dir)
      .select(col("doc_id"), name.as("raw"), k.as("k"))
      .groupBy(col("k"))
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("raw")).as("n_case_variants"),
        sum(when(col("k") === lit("ALPHA-3"), 1L).otherwise(0L))
          .as("n_eq_probe"),
        sum(when(startswith(col("k"), lit("ALPH")), 1L).otherwise(0L))
          .as("n_prefix_probe"))
      .select(lower(col("k")).as("key_norm"), col("n_rows"),
        col("n_case_variants"), col("n_eq_probe"), col("n_prefix_probe"))
      .orderBy(col("key_norm"))
  }

  private val CollationOracle: String =
    """WITH named AS (
      |  SELECT doc_id,
      |    (CASE doc_id % 4 WHEN 0 THEN 'Alpha' WHEN 1 THEN 'ALPHA'
      |      WHEN 2 THEN 'alpha' ELSE 'aLpHa' END)
      |      || '-' || cast(doc_id % 7 AS VARCHAR) AS raw
      |  FROM documents)
      |SELECT lower(raw) AS key_norm,
      |  cast(count(*) AS BIGINT) AS n_rows,
      |  cast(count(DISTINCT raw) AS BIGINT) AS n_case_variants,
      |  cast(sum(CASE WHEN lower(raw) = 'alpha-3' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_eq_probe,
      |  cast(sum(CASE WHEN starts_with(lower(raw), 'alph') THEN 1 ELSE 0
      |    END) AS BIGINT) AS n_prefix_probe
      |FROM named GROUP BY lower(raw) ORDER BY key_norm""".stripMargin

  val registry: Seq[QueryDef] = Seq(
    QueryDef("q89_sql_udf", sqlUdf _, SqlUdfOracle),
    QueryDef("q91_sql_table_udf", sqlTableUdf _, SqlTableUdfOracle),
    QueryDef("q92_sql_scripting", sqlScripting _, SqlScriptingOracle),
    QueryDef("q93_interval_overlap", intervalOverlap _, IntervalOverlapOracle),
    QueryDef("q94_observe", observeMetrics _, ObserveOracle),
    QueryDef("q124_collation", collation _, CollationOracle)
  )
}
