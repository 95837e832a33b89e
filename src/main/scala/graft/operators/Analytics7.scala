package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{QueryDef, Tables}
import graft.functions.CaseFold

/** Round-8 analytics batch: the dataset datasheet and multi-touch
  * attribution.
  */
object Analytics7 {

  /** Token-count floor below which a doc counts as too-short in the
    * datasheet (the quality gate's `too_short` rule).
    */
  private val MinToks = 10

  /** DATASET CARD — the one-query "datasheet for datasets": per
    * (lang, source) stratum, the numbers a training team publishes
    * before anyone trains on the corpus: volume (docs/tokens/chars),
    * exact-duplicate rate, the lower-median document length, and the
    * too-short share. Everything is exact integer arithmetic (rates in
    * basis points via long div; the median is the ordinal rank-
    * ⌈n/2⌉ element, never an interpolated float), so the oracle
    * replays it verbatim. Plan: one tokenize pass feeds a per-doc
    * aggregate, the global exact-dup digests ride digest-partitioned
    * windows (the key scales), and the stratum rollup is one hash
    * aggregate. The median is a TWO-PASS RANK, not a per-stratum
    * row_number window: a `row_number() OVER (PARTITION BY lang,
    * source ORDER BY n_toks)` sorts each WHOLE stratum in one task —
    * stratum cardinality is tiny (~dozens) while stratum size is the
    * corpus, so at 100 TB one (lang, source) is billions of rows
    * through a single sort. Instead: (1) histogram — count per
    * (stratum, n_toks), a hash aggregate that scales on its 3-part
    * key; (2) cumulative count over the HISTOGRAM rows (distinct
    * token-length values per stratum — bounded by document length, not
    * corpus size); the ⌈n/2⌉-th element's value is the smallest
    * n_toks whose cumulative count reaches ⌈n/2⌉ (equivalently
    * 2·cum ≥ n over integers). Identical output to the rank window,
    * no stratum-sized sort task anywhere.
    */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val perDoc = docs.select(col("doc_id"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"),
        size(filter(CaseFold.tokens(col("text")), w => w =!= ""))
          .cast("long").as("n_toks"),
        md5(CaseFold.lower(trim(col("text")))).as("digest"))
    val dupDocs = perDoc
      .withColumn("grp", count(lit(1))
        .over(Window.partitionBy(col("digest"))))
      .withColumn("keeper", min(col("doc_id"))
        .over(Window.partitionBy(col("digest"))))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("n_toks"),
        (col("grp") > 1 && col("doc_id") =!= col("keeper")).as("is_dup"))
      // feeds both the stratum rollup and the median histogram; without
      // the checkpoint each side re-tokenizes + re-windows the corpus
      .localCheckpoint()
    val rolled = dupDocs
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dups"),
        sum(when(col("n_toks") < MinToks, 1L).otherwise(0L)).as("n_short"))
    // two-pass ordinal lower median: histogram, then a window over the
    // histogram (rows = distinct n_toks per stratum, NOT docs)
    val hist = dupDocs
      .groupBy(col("lang"), col("source"), col("n_toks"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("lang"), col("source"))
      .orderBy(col("n_toks"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wN = Window.partitionBy(col("lang"), col("source"))
    val medians = hist
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n_in", sum(col("cnt")).over(wN))
      // cum ≥ ⌈n/2⌉  ⇔  2·cum ≥ n (integers); min such n_toks is the
      // value at ordinal rank ⌈n/2⌉ of the (n_toks, doc_id) order
      .filter(col("cum") * 2 >= col("n_in"))
      .groupBy(col("lang"), col("source"))
      .agg(min(col("n_toks")).as("p50_toks"))
    rolled.join(broadcast(medians), Seq("lang", "source"))
      .select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
        col("n_chars"),
        expr("n_dups * 10000 div n_docs").as("dup_bps"),
        col("p50_toks"),
        expr("n_short * 10000 div n_docs").as("short_bps"))
      .orderBy(col("lang"), col("source"))
  }

  private val DatasetCardOracle: String =
    s"""WITH per AS (
      |  SELECT doc_id, lang, source,
      |    cast(length(text) AS BIGINT) AS n_chars,
      |    cast(len(list_filter(string_split(lower(text), ' '),
      |      w -> w <> '')) AS BIGINT) AS n_toks,
      |    md5(lower(trim(text))) AS digest
      |  FROM documents),
      |d AS (
      |  SELECT *, count(*) OVER (PARTITION BY digest) AS grp,
      |    min(doc_id) OVER (PARTITION BY digest) AS keeper
      |  FROM per),
      |r AS (
      |  SELECT *, (grp > 1 AND doc_id <> keeper) AS is_dup,
      |    row_number() OVER (PARTITION BY lang, source
      |      ORDER BY n_toks, doc_id) AS rk,
      |    count(*) OVER (PARTITION BY lang, source) AS n_in
      |  FROM d)
      |SELECT lang, source,
      |  count(*) AS n_docs,
      |  cast(sum(n_toks) AS BIGINT) AS n_tokens,
      |  cast(sum(n_chars) AS BIGINT) AS n_chars,
      |  cast(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) * 10000
      |    // count(*) AS BIGINT) AS dup_bps,
      |  max(CASE WHEN rk * 2 = n_in OR rk * 2 = n_in + 1
      |    THEN n_toks END) AS p50_toks,
      |  cast(sum(CASE WHEN n_toks < $MinToks THEN 1 ELSE 0 END) * 10000
      |    // count(*) AS BIGINT) AS short_bps
      |FROM r GROUP BY lang, source ORDER BY lang, source""".stripMargin

  /** Attribution lookback window (minutes). */
  private val LookbackMin = 30

  /** MULTI-TOUCH ATTRIBUTION — credit each purchase's revenue to the
    * engagement touches (view/click) the same user made in the
    * preceding [[LookbackMin]] minutes, LINEARLY, in EXACT integer
    * cents: each of the k touches gets cents div k and the remainder
    * goes to the most recent touch (a deterministic tie-break instead
    * of the float split whose pennies never re-add). Purchases with no
    * prior touch in the window credit a 'direct' bucket. NONNEGATIVE
    * VALUES ONLY: the integer split relies on Spark `div`/`%` and
    * DuckDB `//`/`%` agreeing, which holds for cents ≥ 0 but diverges
    * on negatives (truncate-toward-zero vs floor semantics) and would
    * break the remainder-conservation invariant — so refund/chargeback
    * rows are filtered out explicitly (in BOTH the query and the
    * oracle; a real pipeline would attribute refunds in a separate
    * signed pass). Output:
    * credited revenue and touch count per channel (touch event_type /
    * direct). Shape: the purchase→touch candidate join is user-keyed
    * equi-join + time-range predicate (q17's range-join discipline —
    * at 100 TB both sides hash-partition on user_id; no time-bucket
    * blowup because the window rides the join filter), then one
    * per-purchase window to rank touches and one final rollup.
    */
  def attributionLinear(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts").as("p_ts"),
        col("value").cast(DecimalType(12, 2)).*(100).cast("long")
          .as("cents"))
      .filter(col("cents") >= 0)
    val touches = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("ts").as("t_ts"),
        col("event_type").as("channel"), col("event_id").as("t_id"))
    // the time predicate must live in the JOIN condition: filtering
    // after a left join would drop a purchase whose touches all fall
    // outside the window instead of routing it to 'direct'
    val joined = purchases.as("p").join(touches.as("t"),
      col("t.user_id") === col("p.user_id") &&
        col("t.t_ts") < col("p.p_ts") &&
        col("t.t_ts") >= col("p.p_ts") -
          expr(s"INTERVAL $LookbackMin MINUTES"),
      "left")
    val w = Window.partitionBy(col("p_id"))
    val credited = joined
      .withColumn("k", count(col("t_id")).over(w))
      .withColumn("rn", row_number().over(
        w.orderBy(col("t_ts").desc_nulls_last, col("t_id").desc)))
      .select(
        coalesce(when(col("k") > 0, col("channel")), lit("direct"))
          .as("channel"),
        when(col("k") === 0, col("cents"))
          .otherwise(expr("cents div k") +
            when(col("rn") === 1, expr("cents % k")).otherwise(0L))
          .as("credit"))
    credited.groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"),
        sum(col("credit")).as("credited_cents"))
      .orderBy(col("channel"))
  }

  private val AttributionOracle: String =
    s"""WITH p AS (
      |  SELECT event_id AS p_id, user_id, ts AS p_ts,
      |    cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'
      |    AND cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT) >= 0),
      |t AS (
      |  SELECT user_id, ts AS t_ts, event_type AS channel,
      |    event_id AS t_id
      |  FROM events WHERE event_type IN ('view', 'click')),
      |j AS (
      |  SELECT p.p_id, p.cents, t.channel, t.t_ts, t.t_id
      |  FROM p LEFT JOIN t ON t.user_id = p.user_id
      |    AND t.t_ts < p.p_ts
      |    AND t.t_ts >= p.p_ts - INTERVAL $LookbackMin MINUTE),
      |k AS (
      |  SELECT *, count(t_id) OVER (PARTITION BY p_id) AS k,
      |    row_number() OVER (PARTITION BY p_id
      |      ORDER BY t_ts DESC NULLS LAST, t_id DESC) AS rn
      |  FROM j),
      |c AS (
      |  SELECT CASE WHEN k > 0 THEN channel ELSE 'direct' END AS channel,
      |    CASE WHEN k = 0 THEN cents
      |      ELSE cents // k + CASE WHEN rn = 1 THEN cents % k ELSE 0 END
      |    END AS credit
      |  FROM k)
      |SELECT channel, count(*) AS n_touches,
      |  cast(sum(credit) AS BIGINT) AS credited_cents
      |FROM c GROUP BY channel ORDER BY channel""".stripMargin

  /** DECILE LIFT — the model-evaluation table for any ranked-targeting
    * question ("how concentrated is revenue in the top decile?"): users
    * ranked by total purchase cents, cut into 10 equal-population tiles
    * (ntile over the deterministic (cents desc, user_id) total order —
    * tie-stable by construction), then per decile: population, revenue,
    * revenue share and CUMULATIVE share in exact integer basis points.
    * Lift(d) = cum share at d vs d/10 of population is read straight
    * off the table. Shape: one user aggregate (hash, scales on
    * user_id), then the decile assignment via the DISTRIBUTED
    * global-rank idiom (the pipeline_pack_sequences prefix-sum
    * pattern): an unpartitioned `ntile(10) OVER (ORDER BY ...)` would
    * funnel ALL |users| rows through one window task — fatal at 1e9
    * users. Instead: order-preserving range buckets on cents (desc),
    * per-bucket counts → tiny exclusive-offset window (≤33 rows),
    * within-bucket row_number + broadcast offset = exact global rank,
    * and the decile is ntile's EXACT bucket arithmetic on (rank, n)
    * — the first n mod 10 tiles take ⌊n/10⌋+1 rows, the rest ⌊n/10⌋ —
    * so the output is bit-identical to the ntile formulation the
    * oracle replays, at bucket-count parallelism. Rollup to 10 rows;
    * the final share/cum windows run over those 10 rows only. All
    * integer arithmetic — share divisions are long `div` on
    * cents×10000, replayed verbatim.
    */
  def decileLift(spark: SparkSession, dir: String): DataFrame = {
    // checkpoint: the aggregated frame feeds both the bucket-offset agg
    // and the ranked join side (same idiom as packByBudget)
    val perUser = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum(col("value").cast(DecimalType(12, 2)).*(100).cast("long"))
        .as("cents"))
      .localCheckpoint()
    // order-preserving bucketing for the (cents DESC, user_id) total
    // order: equal-width value ranges on cents, descending — every row
    // of a bucket precedes every row of the next, and ties (same cents)
    // land in the same bucket, so within-bucket (cents desc, user_id)
    // ordering composes to the global order. Bounded driver state: one
    // 2-value min/max row (the packByBudget contract).
    val bounds = perUser.agg(min(col("cents")), max(col("cents"))).head()
    val tiled = if (bounds.isNullAt(0)) {
      perUser.withColumn("decile", lit(0L)) // empty corpus: keep schema
    } else {
      val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
      val nBuckets = 32L
      val width = math.max(1L, (hi - lo) / nBuckets + 1L)
      // exact integer bucket id: `div` on longs, never double
      // true-division (FP rounding above ~2^53 cents spread could shift
      // a boundary; integer arithmetic is exact by construction)
      val bucketed = perUser
        .withColumn("bkt", expr(s"(${hi}L - cents) div ${width}L"))
      val wOff = Window.orderBy(col("bkt"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
      val offsets = bucketed.groupBy(col("bkt"))
        .agg(count(lit(1)).as("bkt_n"))
        .withColumn("offset", coalesce(sum(col("bkt_n")).over(wOff), lit(0L)))
        .withColumn("n", sum(col("bkt_n")).over(
          Window.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
        .select(col("bkt"), col("offset"), col("n"))
      val wIn = Window.partitionBy(col("bkt"))
        .orderBy(col("cents").desc, col("user_id"))
      // ntile(10)'s exact assignment from the 1-based global rank rk:
      // q = n div 10, m = n mod 10; ranks 1..m·(q+1) fall in the first
      // m (larger) tiles, the rest in size-q tiles.
      bucketed.join(broadcast(offsets), Seq("bkt"))
        .withColumn("rk", row_number().over(wIn).cast("long") + col("offset"))
        .withColumn("q", expr("n div 10"))
        .withColumn("m", col("n") % 10)
        .withColumn("decile",
          when(col("rk") <= col("m") * (col("q") + 1),
            expr("(rk - 1) div (q + 1)") + 1)
            // greatest(q,1): the branch is reachable only when
            // rk > m·(q+1), impossible for q=0 (then m=n ≥ every rk) —
            // but ansi mode would evaluate the division anyway, so the
            // divisor must be non-zero by construction
            .otherwise(col("m") + expr("(rk - m * (q + 1) - 1) div greatest(q, 1)") + 1))
    }
    val deciles = tiled.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_users"), sum(col("cents")).as("cents"))
    val w = Window.partitionBy() // 10 post-agg rows
    deciles
      .withColumn("total", sum(col("cents")).over(w))
      .withColumn("cum", sum(col("cents")).over(
        Window.orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("decile"), col("n_users"), col("cents"),
        expr("cents * 10000 div total").as("share_bps"),
        expr("cum * 10000 div total").as("cum_bps"))
      .orderBy(col("decile"))
  }

  private val DecileLiftOracle: String =
    """WITH u AS (
      |  SELECT user_id,
      |    cast(sum(cast(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      |t AS (
      |  SELECT cents,
      |    cast(ntile(10) OVER (ORDER BY cents DESC, user_id) AS BIGINT)
      |      AS decile
      |  FROM u),
      |d AS (
      |  SELECT decile, count(*) AS n_users,
      |    cast(sum(cents) AS BIGINT) AS cents
      |  FROM t GROUP BY decile)
      |SELECT decile, n_users, cents,
      |  cast(cents * 10000 // (SELECT sum(cents) FROM d) AS BIGINT)
      |    AS share_bps,
      |  cast(sum(cents) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
      |    * 10000 // (SELECT sum(cents) FROM d) AS BIGINT) AS cum_bps
      |FROM d ORDER BY decile""".stripMargin

  val registry: Seq[QueryDef] = Seq(
    QueryDef("q118_dataset_card", datasetCard _, DatasetCardOracle),
    QueryDef("q119_attribution_linear", attributionLinear _,
      AttributionOracle),
    QueryDef("q120_decile_lift", decileLift _, DecileLiftOracle)
  )
}
