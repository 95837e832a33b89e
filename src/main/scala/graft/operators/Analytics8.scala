package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{QueryDef, Tables}

/** Round-9 analytics batch: the model-evaluation family — exact AUC by
  * tie-corrected rank-sum, a calibration/ECE reliability table, and a
  * Kaplan–Meier survival curve. All three keep the heavy passes as
  * per-user hash aggregates (scales on user_id) and confine windows/
  * folds to HISTOGRAM rows (distinct score values / distinct minute
  * durations — bounded by value range, not corpus size), so nothing
  * funnels the corpus through a single task.
  *
  * The running example "model": score = engagement (view+click count),
  * label = high spender (total purchase cents > [[HiSpenderCents]]).
  * The point is the evaluation MACHINERY in exact arithmetic, not the
  * model — swap the two input columns for real scores/labels.
  */
object Analytics8 {

  /** Positive-label threshold: total purchase cents above this marks a
    * user as a high spender (~the fixture's per-user median, so both
    * classes are populated at every SF).
    */
  private val HiSpenderCents = 60000L

  /** Per-user (score, pos) base shared by aucRoc and calibration: one
    * hash aggregate over events.
    */
  private def scoredUsers(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type").isin("view", "click"), 1L).otherwise(0L))
          .as("score"),
        sum(when(col("event_type") === "purchase",
          col("value").cast(DecimalType(12, 2)).*(100).cast("long"))
          .otherwise(0L)).as("cents"))
      .select(col("score"),
        when(col("cents") > HiSpenderCents, 1L).otherwise(0L).as("pos"))

  /** EXACT AUC — the Mann–Whitney rank-sum with the standard tie
    * correction (ties get average ranks), computed WITHOUT a global
    * per-row rank: group users into a score HISTOGRAM (distinct scores
    * only), take cumulative counts over the histogram, and use that a
    * tied group occupying ranks [cum_before+1, cum_before+cnt] has
    * average rank cum_before + (cnt+1)/2 — so twice the positive rank
    * sum is Σ np·(2·cum_before + cnt + 1), an integer. Then
    * AUC = (R − P(P+1)/2) / (P·N) via the doubled form
    * (2·ΣR_pos − P(P+1)) / (2·P·N), all in exact long arithmetic,
    * reported in basis points (Gini = 2·AUC − 1 likewise). Shape: one
    * user aggregate (shuffles on user_id), one histogram aggregate
    * (shuffles on score), one window over DISTINCT scores (dozens of
    * rows — bounded by the score range, never the user count), one
    * global fold to a single row. Overflow: the doubled rank-sum and
    * both divisions run in DECIMAL(38,0) — same integer semantics
    * (every operand has scale 0 and `div` is integral divide either
    * way), but the n²·10⁴-magnitude intermediates fit to n ~ 10¹⁷
    * users instead of a long's ~10⁷ ceiling, matching the 1e9-user
    * posture. Per-term widening happens INSIDE the sum (np and the
    * rank term cast before the multiply): a long product np·2n would
    * already have overflowed at ~2·10⁹ users before any outer cast.
    * AucDecimalSpec exercises synthetic counts past 2³¹.
    */
  def aucRoc(spark: SparkSession, dir: String): DataFrame =
    aucFromHistogram(scoredUsers(spark, dir)
      .groupBy(col("score"))
      .agg(count(lit(1)).as("cnt"), sum(col("pos")).as("np")))

  /** The histogram→AUC fold, split out so the decimal container can be
    * exercised directly with synthetic counts past 2³¹ (see aucRoc's
    * overflow note). `hist`: one row per distinct score with `cnt`
    * users and `np` positives (longs).
    */
  private[graft] def aucFromHistogram(hist: DataFrame): DataFrame = {
    val d38 = DecimalType(38, 0)
    val wBefore = Window.orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    hist
      .withColumn("cum_before", coalesce(sum(col("cnt")).over(wBefore),
        lit(0L)))
      .agg(
        sum(col("np").cast(d38) *
          (col("cum_before").cast(d38) * 2 + col("cnt") + 1)).as("r2"),
        sum(col("np")).as("p"), sum(col("cnt")).as("n"))
      .select(col("p").as("n_pos"), (col("n") - col("p")).as("n_neg"),
        when(col("p") > 0 && col("n") > col("p"),
          expr("(r2 - cast(p AS DECIMAL(38,0)) * (p + 1)) * 10000" +
            " div (2 * cast(p AS DECIMAL(38,0)) * (n - p))"))
          .as("auc_bps"),
        when(col("p") > 0 && col("n") > col("p"),
          expr("(r2 - cast(p AS DECIMAL(38,0)) * (p + 1)) * 10000" +
            " div (cast(p AS DECIMAL(38,0)) * (n - p)) - 10000"))
          .as("gini_bps"))
  }

  private val AucOracle: String =
    s"""WITH u AS (
      |  SELECT user_id,
      |    sum(CASE WHEN event_type IN ('view', 'click') THEN 1 ELSE 0 END)
      |      AS score,
      |    CASE WHEN sum(CASE WHEN event_type = 'purchase'
      |        THEN cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT)
      |        ELSE 0 END) > $HiSpenderCents THEN 1 ELSE 0 END AS pos
      |  FROM events GROUP BY user_id),
      |h AS (SELECT score, count(*) AS cnt, sum(pos) AS np
      |  FROM u GROUP BY score),
      |c AS (SELECT cnt, np, coalesce(sum(cnt) OVER (ORDER BY score
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    AS cum_before FROM h),
      |s AS (SELECT
      |    cast(sum(np * (cum_before * 2 + cnt + 1)) AS BIGINT) AS r2,
      |    cast(sum(np) AS BIGINT) AS p, cast(sum(cnt) AS BIGINT) AS n
      |  FROM c)
      |SELECT p AS n_pos, n - p AS n_neg,
      |  CASE WHEN p > 0 AND n > p THEN
      |    cast((r2 - p * (p + 1)) * 10000 // (2 * p * (n - p)) AS BIGINT)
      |  END AS auc_bps,
      |  CASE WHEN p > 0 AND n > p THEN
      |    cast((r2 - p * (p + 1)) * 10000 // (p * (n - p)) - 10000
      |      AS BIGINT)
      |  END AS gini_bps
      |FROM s""".stripMargin

  /** CALIBRATION / ECE reliability table — is the "model"'s confidence
    * honest? Users carry a deterministic predicted probability
    * (capped-engagement·500 bps — a stand-in with real spread), are
    * bucketed into 1000-bp-wide confidence bins, and each bin reports
    * mean confidence vs observed positive rate plus the |gap|; the
    * expected calibration error Σ n·|gap| / N rides every row as a
    * constant column. All integer basis points (long `div`), so the
    * oracle replays it verbatim. Shape: user aggregate → bin aggregate
    * (≤ 20 bins) → two windows over the bin rows only.
    */
  def calibration(spark: SparkSession, dir: String): DataFrame = {
    val binned = scoredUsers(spark, dir)
      .select((least(col("score"), lit(19L)) * 500).as("pred_bps"),
        col("pos"))
      .groupBy(expr("pred_bps div 1000").as("bin"))
      .agg(count(lit(1)).as("n_users"), sum(col("pred_bps")).as("sum_pred"),
        sum(col("pos")).as("np"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    binned
      .select(col("bin"), col("n_users"),
        expr("sum_pred div n_users").as("conf_bps"),
        expr("np * 10000 div n_users").as("obs_bps"))
      .withColumn("gap_bps", abs(col("conf_bps") - col("obs_bps")))
      .withColumn("wg", sum(col("n_users") * col("gap_bps")).over(wAll))
      .withColumn("wn", sum(col("n_users")).over(wAll))
      .select(col("bin"), col("n_users"), col("conf_bps"), col("obs_bps"),
        col("gap_bps"), expr("wg div wn").as("ece_bps"))
      .orderBy(col("bin"))
  }

  private val CalibrationOracle: String =
    s"""WITH u AS (
      |  SELECT user_id,
      |    sum(CASE WHEN event_type IN ('view', 'click') THEN 1 ELSE 0 END)
      |      AS score,
      |    CASE WHEN sum(CASE WHEN event_type = 'purchase'
      |        THEN cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT)
      |        ELSE 0 END) > $HiSpenderCents THEN 1 ELSE 0 END AS pos
      |  FROM events GROUP BY user_id),
      |b AS (
      |  SELECT least(score, 19) * 500 AS pred_bps, pos FROM u),
      |g AS (
      |  SELECT pred_bps // 1000 AS bin, count(*) AS n_users,
      |    sum(pred_bps) AS sum_pred, sum(pos) AS np
      |  FROM b GROUP BY 1),
      |r AS (
      |  SELECT cast(bin AS BIGINT) AS bin, n_users,
      |    cast(sum_pred // n_users AS BIGINT) AS conf_bps,
      |    cast(np * 10000 // n_users AS BIGINT) AS obs_bps
      |  FROM g)
      |SELECT bin, n_users, conf_bps, obs_bps,
      |  abs(conf_bps - obs_bps) AS gap_bps,
      |  cast(sum(n_users * abs(conf_bps - obs_bps)) OVER ()
      |    // sum(n_users) OVER () AS BIGINT) AS ece_bps
      |FROM r ORDER BY bin""".stripMargin

  /** KAPLAN–MEIER survival — time from signup to first subsequent
    * purchase, right-censored at the user's last observed event. The
    * estimator S(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ) over the DISTINCT event
    * durations (minutes), with the standard convention that a user
    * censored at an event time is still at risk at that time. Exact
    * cross-engine parity WITHOUT rounding (the q82 EWMA discipline):
    * every factor 1 − d/n has exact-integer operands (correctly-rounded
    * division, bit-identical both engines), and the prefix products are
    * evaluated in the identical left-fold order on both sides — Spark
    * folds `slice(factors, 1, k)` seeded with 1.0 (1.0·x ≡ x in IEEE),
    * DuckDB replays the same chain as a recursive CTE over the ordered
    * steps. Shape: per-user aggregate (one shuffle; the purchase list
    * per user is bounded), duration histogram (shuffles on the minute
    * value), risk-set window + the fold over HISTOGRAM rows only —
    * distinct minutes, bounded by the observation span (~10³–10⁴ rows),
    * never the user count; the single-task fold is O(k²) multiplies on
    * k bounded rows. At 100 TB the user aggregate dominates and
    * partitions cleanly; the curve itself is small by construction.
    */
  def survivalKm(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "signup", unix_micros(col("ts"))))
          .as("t0"),
        sort_array(collect_list(when(col("event_type") === "purchase",
          unix_micros(col("ts"))))).as("purchases"),
        max(unix_micros(col("ts"))).as("tl"))
      .filter(col("t0").isNotNull)
      .withColumn("tp",
        array_min(filter(col("purchases"), x => x >= col("t0"))))
      .select(
        when(col("tp").isNotNull, expr("(tp - t0) div 60000000"))
          .otherwise(expr("(tl - t0) div 60000000")).as("dur"),
        when(col("tp").isNotNull, 1L).otherwise(0L).as("evt"))
    val hist = per.groupBy(col("dur"))
      .agg(sum(col("evt")).as("d"), count(lit(1)).as("c_all"))
    val wBefore = Window.orderBy(col("dur"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val steps = hist
      .withColumn("n_risk", sum(col("c_all")).over(wAll)
        - coalesce(sum(col("c_all")).over(wBefore), lit(0L)))
      .filter(col("d") > 0)
    steps
      .agg(sort_array(collect_list(struct(col("dur"), col("n_risk"),
        col("d")))).as("st"))
      .withColumn("f", expr(
        "transform(st, s -> 1.0D - cast(s.d AS double)" +
          " / cast(s.n_risk AS double))"))
      .withColumn("surv", expr(
        "transform(f, (x, i) -> aggregate(slice(f, 1, i + 1)," +
          " cast(1.0 AS double), (acc, y) -> acc * y))"))
      .select(posexplode(arrays_zip(col("st"), col("surv"))))
      .select(col("col.st.dur").as("t_min"),
        col("col.st.n_risk").as("n_risk"),
        col("col.st.d").as("n_events"), col("col.surv").as("surv"))
      .orderBy(col("t_min"))
  }

  private val SurvivalOracle: String =
    """WITH RECURSIVE per AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS t0,
      |    list(epoch_us(ts)) FILTER (WHERE event_type = 'purchase')
      |      AS purchases,
      |    max(epoch_us(ts)) AS tl
      |  FROM events GROUP BY user_id),
      |d0 AS (
      |  SELECT t0, list_min(list_filter(purchases, x -> x >= t0)) AS tp, tl
      |  FROM per WHERE t0 IS NOT NULL),
      |durs AS (
      |  SELECT CASE WHEN tp IS NOT NULL THEN (tp - t0) // 60000000
      |              ELSE (tl - t0) // 60000000 END AS dur,
      |         CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS evt
      |  FROM d0),
      |h AS (SELECT dur, cast(sum(evt) AS BIGINT) AS d, count(*) AS c_all
      |  FROM durs GROUP BY dur),
      |r AS (
      |  SELECT dur, d,
      |    cast((SELECT sum(c_all) FROM h) - coalesce(sum(c_all)
      |      OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
      |        AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
      |  FROM h),
      |st AS (SELECT dur, d, n_risk, row_number() OVER (ORDER BY dur) AS rk
      |  FROM r WHERE d > 0),
      |km AS (
      |  SELECT rk, dur, n_risk, d,
      |    cast(1.0 AS DOUBLE) * (cast(1.0 AS DOUBLE)
      |      - cast(d AS DOUBLE) / cast(n_risk AS DOUBLE)) AS surv
      |  FROM st WHERE rk = 1
      |  UNION ALL
      |  SELECT s.rk, s.dur, s.n_risk, s.d,
      |    km.surv * (cast(1.0 AS DOUBLE)
      |      - cast(s.d AS DOUBLE) / cast(s.n_risk AS DOUBLE))
      |  FROM st s JOIN km ON s.rk = km.rk + 1)
      |SELECT cast(dur AS BIGINT) AS t_min, n_risk, d AS n_events, surv
      |FROM km ORDER BY t_min""".stripMargin

  val registry: Seq[QueryDef] = Seq(
    QueryDef("q122_auc", aucRoc _, AucOracle),
    QueryDef("q123_calibration", calibration _, CalibrationOracle),
    QueryDef("q124_survival_km", survivalKm _, SurvivalOracle)
  )
}
