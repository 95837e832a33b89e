package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{QueryDef, Tables}
import graft.functions.KllSketch

/** Third sketch batch: the hand-built KLL mergeable quantile sketch
  * (functions/KllSketch) run as a first-class query with the
  * exact-bracket oracle idiom.
  */
object Sketches3 {

  /** Bracket half-width in percentage points: the estimate for
    * percentile p must have exact rank within [p−5, p+5] % of n.
    * Measured sketch error is ≤0.6 % (KllSketch scaladoc) — ~9× margin.
    */
  private val BracketPct = 5

  /** Distribution profile of lineitem prices via the KLL sketch:
    * percentiles 25/50/75/90/99 of `l_extendedprice` in cents.
    *
    * Two bounded passes over the column (the same shape as
    * `sketch_heavy_hitters`): pass 1 folds the whole column into ONE
    * K·log(n/K)-sized sketch through ordinary two-phase aggregation
    * (map-side partials, one reduce); pass 2 broadcast-attaches the 5
    * estimates back and computes each estimate's EXACT rank with a
    * conditional count — so the emitted row is exact integers plus the
    * in-bracket boolean, never the merge-order-dependent estimate
    * itself (exact-bracket idiom; DuckDB replays the bracket arithmetic
    * and a literal TRUE). At 100 TB the sketch pass is the point: a
    * true percentile needs a global sort; the sketch needs one
    * aggregation and 512·log₂(n/512) longs of state.
    */
  def kllQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val cents = Tables.lineitem(spark, dir)
      .select(col("l_extendedprice").cast(DecimalType(12, 2)).*(100)
        .cast("long").as("v"))
      .localCheckpoint() // scanned twice: sketch pass + exact-rank pass
    val est = cents.as[Long](Encoders.scalaLong)
      .select(new KllSketch.KllAgg().toColumn.name("est"))
    val ps = KllSketch.Ps.map(p => (p * 100).toInt)
    val estRows = est
      .select(posexplode(col("est")).as(Seq("idx", "est")))
      .select(element_at(typedlit(ps), col("idx") + 1).as("p"), col("est"))
    cents.crossJoin(broadcast(estRows)) // 5-row broadcast scalar attach
      .groupBy(col("p"), col("est"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("v") <= col("est"), 1L).otherwise(0L)).as("est_rank"))
      .select(col("p"), col("n").as("n_rows"),
        expr(s"(p - $BracketPct) * n div 100").as("lo_rank"),
        expr(s"((p + $BracketPct) * n + 99) div 100").as("hi_rank"),
        (col("est_rank") >= expr(s"(p - $BracketPct) * n div 100") &&
          col("est_rank") <= expr(s"((p + $BracketPct) * n + 99) div 100"))
          .as("in_bracket"))
      .orderBy(col("p"))
  }

  private val KllOracle: String =
    s"""WITH t AS (SELECT count(*) AS n FROM lineitem)
      |SELECT p, n AS n_rows,
      |  (p - $BracketPct) * n // 100 AS lo_rank,
      |  ((p + $BracketPct) * n + 99) // 100 AS hi_rank,
      |  TRUE AS in_bracket
      |FROM t, (VALUES (25), (50), (75), (90), (99)) v(p)
      |ORDER BY p""".stripMargin

  /** KMV size: estimate rel-error ~1/√(k−2) ≈ 6.3 %. */
  private[graft] val KmvK = 256

  /** 2^52 — the hash domain size (13 md5 hex digits); (k−1)·2^52 fits
    * a long (≈1.15e18 < 2^63).
    */
  private[graft] val KmvDomain = 4503599627370496L

  /** KMV (k-minimum-values) distinct-count sketch over order customers
    * — the DETERMINISTIC mergeable cardinality sketch beside the HLL
    * tier (`sketch_hll_distinct`): keep the k smallest values of a
    * uniform hash; with H_k the k-th smallest over a 2^52 domain, the
    * unbiased estimate is (k−1)·2^52 div H_k (exact integer
    * arithmetic), or the observed count when fewer than k distinct
    * hashes exist. Three properties HLL lacks: the estimate is an
    * exact deterministic function of the input SET (no merge-order
    * dependence — so unlike KLL/MG there is NO bracket hedge: DuckDB
    * replays the md5 ranking and the division and the oracle matches
    * the estimate ITSELF), the same min-k synopsis supports set
    * algebra (union = min-k of unions; intersection via
    * inclusion–exclusion on matched hashes), and the synopsis doubles
    * as a uniform sample of the distinct keys. Scale shape: the min-k
    * fold is TakeOrderedAndProject — each partition ships only its k
    * smallest hashes, the same mergeable-partial discipline as every
    * sketch here; at 100 TB state is k longs regardless of
    * cardinality. `in_bracket` pins the estimate within 3σ ≈ 18.75 %
    * of the exact count via integer cross-multiply, computed honestly
    * in BOTH engines (not a literal TRUE).
    */
  def kmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val hashed = orders.select(
      Tables.saltedHash("kmv:", col("o_custkey"), 13).as("h")).distinct()
    val topk = hashed.orderBy(col("h")).limit(KmvK)
      .agg(count(lit(1)).as("n_used"), max(col("h")).as("kth_hash"))
    val exact = orders.agg(
      countDistinct(col("o_custkey")).as("exact_distinct"))
    topk.crossJoin(exact) // 1-row × 1-row scalar attach
      .withColumn("est_distinct",
        when(col("n_used") < KmvK, col("n_used"))
          .otherwise(expr(s"${KmvK - 1}L * ${KmvDomain}L div kth_hash")))
      .select(lit(KmvK).as("k"), col("n_used"), col("kth_hash"),
        col("est_distinct"), col("exact_distinct"),
        (abs(col("est_distinct") - col("exact_distinct")) * 16 <=
          col("exact_distinct") * 3).as("in_bracket"))
  }

  private val KmvOracle: String =
    s"""WITH h AS (
      |  SELECT DISTINCT ('0x' || substring(md5('kmv:' || cast(o_custkey AS VARCHAR)), 1, 13))::bigint AS h
      |  FROM orders),
      |agg AS (
      |  SELECT count(*) AS n_used, max(h) AS kth_hash
      |  FROM (SELECT h FROM h ORDER BY h LIMIT $KmvK)),
      |ex AS (SELECT count(DISTINCT o_custkey) AS exact_distinct FROM orders),
      |est AS (
      |  SELECT *, CASE WHEN n_used < $KmvK THEN n_used
      |    ELSE ${KmvK - 1} * $KmvDomain // kth_hash END AS est_distinct
      |  FROM agg, ex)
      |SELECT $KmvK AS k, n_used, kth_hash, est_distinct, exact_distinct,
      |  abs(est_distinct - exact_distinct) * 16 <= exact_distinct * 3
      |    AS in_bracket
      |FROM est""".stripMargin

  val registry: Seq[QueryDef] = Seq(
    QueryDef("sketch_kll_quantiles", kllQuantiles _, KllOracle),
    QueryDef("sketch_kmv_distinct", kmvDistinct _, KmvOracle)
  )
}
