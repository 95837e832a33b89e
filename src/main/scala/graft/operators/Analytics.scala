package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Graph and advanced-analytics operators: iterative PageRank,
  * gaps-and-islands streaks, batch MERGE/upsert, market-basket
  * association mining, and sequential EWMA smoothing. Everything is
  * either exact integer/string arithmetic or uses the repo's
  * engine-stable float idioms (floor-scaling, single correctly-rounded
  * divisions of exact integers), so every query is oracle-verified.
  */
object Analytics {

  /** Damping factor and iteration count for [[pagerank]] — small fixed
    * unroll so the oracle can state the same three iterations as CTEs.
    */
  private val Damping = 0.85
  private val Iters = 3

  /** PageRank over the part co-purchase graph (parts are nodes, an edge
    * joins parts sharing an order), 3 synchronous iterations at
    * d = 0.85. The directed edge list is the undirected co-purchase
    * set materialized BOTH ways once (partitioned, sorted, cached), so
    * each iteration is one hash join rank⋈edges + one groupBy — the
    * standard message-passing shape that scales linearly in |E|, with
    * the edge side's exchange and sort paid once at the cache, not per
    * round.
    * Per NOTES.md #10 each iteration's output is checkpointed: the
    * lineage stays one-join deep instead of growing per round. The
    * only driver-side state is `n` (one long — the node count) used to
    * fold the teleport term into a literal. Ranks are floor-scaled to
    * 8 decimals on both engines: the per-term `rank/deg` divisions are
    * correctly rounded (identical), and only the summation order
    * differs, whose ~1e-17 drift cannot reach a 0.5e-8 boundary.
    */
  /** Undirected co-purchase edge set (parts sharing an order), BOTH
    * directions, partitioned and sorted on `u` for the loop that caches
    * it — ONE definition
    * shared by [[pagerank]] and [[Analytics2.kHopReach]] so a tuning
    * change (degree cap, checkpoint policy) cannot silently diverge
    * between them. The matching oracle text is [[CoPurchaseEdgesCte]].
    */
  /** Duplicate-laden u<v co-purchase pair stream from the (ok, pk)
    * fact slice — ONE groupBy(order) whose collect_set dedups
    * (ok, pk) in-aggregate, then the in-basket pair explode: the
    * exploded pairs ARE the `SELECT DISTINCT (ok, u, v)` set of the
    * fact self-join form (orders are ≤7 items, bounding the fan-out),
    * with no join and no standalone distinct exchange (r15 q77
    * discipline). ONE definition shared by [[coPurchaseEdges]],
    * [[Analytics5]]'s weighted edges and [[Quality]]'s triangle
    * adjacency so a tuning change cannot silently diverge them from
    * each other or from the oracles' self-join CTEs (review r16).
    */
  private[operators] def orderPairs(li: DataFrame): DataFrame =
    li.groupBy(col("ok")).agg(collect_set(col("pk")).as("pks"))
      .select(explode(col("pks")).as("u"), col("pks"))
      .select(col("u"), explode(col("pks")).as("v"))
      .filter(col("u") < col("v"))

  private[operators] def coPurchaseEdges(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    // r16 (guide §2.4 — share one exchange): pairs stay DUPLICATE-LADEN
    // here; the dedup happens AFTER the both-direction explode, as a
    // groupBy(u, v) that rides the repartition(u) exchange below —
    // HashPartitioning(u) satisfies ClusteredDistribution(u, v) (equal
    // (u, v) rows share u, hence a partition), so the old standalone
    // `distinct()` exchange is gone: ONE exchange builds the substrate
    // instead of two (plan-asserted in PLANS.md, hx 2 → 1 on this
    // subtree).
    val und = orderPairs(li)
    // Partition AND sort by the join key: the caller caches this frame
    // for its loop ([[LoopCache.withCached]]), and the InMemoryTableScan
    // reports the cached plan's outputPartitioning and outputOrdering,
    // so every iteration's rank⋈edges join reuses them — per round only
    // the small rank frame shuffles and sorts, never |E|. localCheckpoint
    // CANNOT do this: in Spark 4 the LogicalRDD it leaves behind reports
    // UnknownPartitioning (measured, SCALE.md round 11), so the edge set
    // re-shuffled and re-sorted EVERY round — at the 100× probe volume
    // ~240M avoidable exchange rows per round. The partition count is
    // pinned explicitly (REPARTITION_BY_NUM) so AQE cannot coalesce the
    // cached layout away from what the per-round join requires. Lineage
    // stays flat: the cache IS the truncation for this build-once frame
    // (the per-round rank/label frames still localCheckpoint — those
    // genuinely accumulate lineage).
    val n = spark.sessionState.conf.numShufflePartitions
    // both directions in one pass (explode, not self-union — the
    // union form executes the distinct branch twice)
    und.select(explode(array(
        struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .repartition(n, col("u"))
      .dropDuplicates("u", "v")
      .sortWithinPartitions(col("u"))
  }

  /** Runs `body` over the cached [[coPurchaseEdges]] and their cached
    * degree frame. Read from the cached edges, the degrees inherit
    * their hash(u) partitioning, so the per-round deg join side needs no
    * exchange. The degrees are freed before the edges, both before this
    * returns.
    */
  private def withEdgesAndDeg[T](spark: SparkSession, dir: String)(
      body: (DataFrame, DataFrame) => T): T =
    LoopCache.withCached(coPurchaseEdges(spark, dir)) { edges =>
      LoopCache.withCached(edges.groupBy(col("u")).agg(count(lit(1)).as("deg"))) {
        deg => body(edges, deg)
      }
    }

  /** The co-purchase edge set as oracle CTEs (`und`, `edges`) — the SQL
    * twin of [[coPurchaseEdges]], shared by both oracles.
    */
  private[operators] val CoPurchaseEdgesCte: String =
    """und AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      |    AND a.l_partkey < b.l_partkey),
      |edges AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und)""".stripMargin

  def pagerank(spark: SparkSession, dir: String): DataFrame =
    withEdgesAndDeg(spark, dir) { (edges, deg) =>
      val n = deg.count() // bounded driver state: one long (node count)
      val rank0 = deg.select(col("u").as("node"), lit(1.0 / n).as("rank"))
      val (rank, _) = Rounds.iterate(rank0, Iters) { rank =>
        edges
          .join(rank.withColumnRenamed("node", "u"), Seq("u"))
          .join(deg, Seq("u"))
          .groupBy(col("v"))
          .agg((lit(0.15 / n) + lit(Damping) * sum(col("rank") / col("deg")))
            .as("rank"))
          .select(col("v").as("node"), col("rank"))
      }
      rank
        .select(col("node"), (floor(col("rank") * 1e8 + 0.5) / 1e8).as("rank_r8"))
        .orderBy(col("node"))
    }

  /** PageRank iterated to CONVERGENCE — the production entry, where the
    * round count follows the data instead of a constant: stop when the
    * L1 rank delta of a round underruns `eps`, with determinism kept by
    * a pinned `maxIters` ceiling (the loop is a pure function of
    * (edges, eps, maxIters): same data ⇒ same round count ⇒ same
    * ranks). The REGISTERED q78 stays the fixed-[[Iters]]-round form
    * because its DuckDB oracle unrolls exactly those rounds — an
    * ε-stopped run is only boundedly close to it, and the hash gate
    * needs bit-equality. Both loops run through [[Rounds]]: here the L1
    * delta is observed on each round's checkpoint, so a round is ONE
    * action, and bounded driver state (one double per round). No thread
    * of this loop waits on the metric: [[Rounds]] waits a bounded time
    * and, if the metric never arrives, recomputes the same sum exactly
    * from the checkpointed round. Measured round count (pinned
    * deterministic by AnalyticsSpec "pagerank converges"): sf0.001
    * reaches eps=1e-9 in 10 rounds, comfortably under the 20-round
    * ceiling.
    */
  private[graft] def pagerankConverged(spark: SparkSession, dir: String,
      eps: Double = 1e-9, maxIters: Int = 20): (DataFrame, Int) =
    withEdgesAndDeg(spark, dir) { (edges, deg) =>
      val n = deg.count()
      val rank0 = deg.select(col("u").as("node"), lit(1.0 / n).as("rank"))
        .localCheckpoint()
      val l1 = Rounds.Probe(sum(abs(col("rank") - col("prev"))), _ < eps)
      val (last, rounds) = Rounds.iterate(rank0, maxIters, Some(l1)) { prev =>
        val rank = prev.select(col("node"), col("rank"))
        // the previous rank rides INTO the round aggregate as a
        // null-padded SELF-MESSAGE per node (contrib NULL so sum()
        // ignores it — the rank sum sees the identical message multiset;
        // prev via max() over the one self row, no float addition). Node
        // set unchanged: every rank node has out-edges (rank0 = deg keys;
        // the graph is materialized both directions), so each appears as
        // a target too.
        val msgs = edges
          .join(rank.withColumnRenamed("node", "u"), Seq("u"))
          .join(deg, Seq("u"))
          .select(col("v"), (col("rank") / col("deg")).as("contrib"),
            lit(null).cast("double").as("prev"))
        val self = rank.select(col("node").as("v"),
          lit(null).cast("double").as("contrib"), col("rank").as("prev"))
        msgs.union(self)
          .groupBy(col("v"))
          .agg((lit(0.15 / n) + lit(Damping) * sum(col("contrib"))).as("rank"),
            max(col("prev")).as("prev"))
          .select(col("v").as("node"), col("rank"), col("prev"))
      }
      (last
        .select(col("node"), (floor(col("rank") * 1e8 + 0.5) / 1e8).as("rank_r8"))
        .orderBy(col("node")), rounds)
    }

  /** Convergence parameters of the REGISTERED converged entry
    * ([[pagerankConvergedQuery]]): eps = 1e-6 stops in exactly
    * [[ConvergedRounds]] rounds at sf0.001, sf0.01 AND sf0.1 (measured;
    * the L1 delta contracts ~8×/round and the rank vector's L1 scale is
    * n-independent, so the round count is stable across SFs). The pin
    * is enforced LOUDLY: the query emits the data-driven round count as
    * an output column and the oracle replays it as a literal — one
    * extra round and the hash gate fails on every row, even though the
    * rank drift itself (≤ eps spread over all nodes) sits below the
    * r8 rounding grain. Boundary exposure: the stopping rule compares a
    * float L1 sum to eps, and partition summation order can drift the
    * sum ~1e-17 — nine orders under the smallest observed
    * delta-to-boundary gap, the same non-exposure class as
    * SemDedupTau's (measured there; documented here).
    *
    * RE-MEASUREMENT REQUIREMENT: the 7-round pin is only measured at
    * the three shipped SFs. Pointing the registry at any OTHER corpus
    * or SF requires re-measuring the eps=1e-6 stopping round first
    * (run [[pagerankConverged]] once and read the round count) and
    * updating this constant — otherwise the oracle's CTE depth
    * disagrees with the data-driven run and the gate fails wholesale
    * (loud by design, but the failure reads as a hash mismatch, not as
    * "the pin is stale"; this note is the diagnosis pointer).
    */
  private[graft] val ConvergedEps = 1e-6
  private[graft] val ConvergedRounds = 7

  /** The PRODUCTION pagerank entry — rounds follow the DATA (stop when
    * the L1 delta underruns [[ConvergedEps]]), not a constant: the form
    * a deployment actually runs, now gate-verified rather than only
    * spec-verified. Same per-round plan as [[pagerank]] (one hash join
    * + one aggregate, per-round localCheckpoint, bounded driver state:
    * one float per round for the delta); the oracle is the [[Iters]]=3
    * unroll generalized to a generated [[ConvergedRounds]]-deep CTE
    * chain.
    */
  def pagerankConvergedQuery(spark: SparkSession, dir: String): DataFrame = {
    val (df, rounds) = pagerankConverged(spark, dir, ConvergedEps, 16)
    df.withColumn("rounds", lit(rounds.toLong))
  }

  private val PagerankConvergedOracle: String = {
    val chain = (1 to ConvergedRounds).map { i =>
      s"""r$i AS (SELECT e.v AS node,
         |    0.15 / (SELECT n FROM nn) + 0.85 * sum(r.rank / d.deg) AS rank
         |  FROM edges e JOIN r${i - 1} r ON r.node = e.u JOIN deg d ON d.u = e.u
         |  GROUP BY e.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH $CoPurchaseEdgesCte,
       |deg AS (SELECT u, count(*) AS deg FROM edges GROUP BY u),
       |nn AS (SELECT count(*) AS n FROM deg),
       |r0 AS (SELECT u AS node, 1.0 / (SELECT n FROM nn) AS rank FROM deg),
       |$chain
       |SELECT node, floor(rank * 1e8 + 0.5) / 1e8 AS rank_r8,
       |  cast($ConvergedRounds AS BIGINT) AS rounds
       |FROM r$ConvergedRounds ORDER BY node""".stripMargin
  }

  private val PagerankOracle: String =
    s"""WITH $CoPurchaseEdgesCte,
      |deg AS (SELECT u, count(*) AS deg FROM edges GROUP BY u),
      |nn AS (SELECT count(*) AS n FROM deg),
      |r0 AS (SELECT u AS node, 1.0 / (SELECT n FROM nn) AS rank FROM deg),
      |r1 AS (SELECT e.v AS node,
      |    0.15 / (SELECT n FROM nn) + 0.85 * sum(r.rank / d.deg) AS rank
      |  FROM edges e JOIN r0 r ON r.node = e.u JOIN deg d ON d.u = e.u
      |  GROUP BY e.v),
      |r2 AS (SELECT e.v AS node,
      |    0.15 / (SELECT n FROM nn) + 0.85 * sum(r.rank / d.deg) AS rank
      |  FROM edges e JOIN r1 r ON r.node = e.u JOIN deg d ON d.u = e.u
      |  GROUP BY e.v),
      |r3 AS (SELECT e.v AS node,
      |    0.15 / (SELECT n FROM nn) + 0.85 * sum(r.rank / d.deg) AS rank
      |  FROM edges e JOIN r2 r ON r.node = e.u JOIN deg d ON d.u = e.u
      |  GROUP BY e.v)
      |SELECT node, floor(rank * 1e8 + 0.5) / 1e8 AS rank_r8
      |FROM r3 ORDER BY node""".stripMargin

  /** Gaps-and-islands: each user's streaks of CONSECUTIVE active days
    * (calendar dates with ≥1 event). The classic trick — group key =
    * day − row_number() days, constant exactly while days are
    * consecutive — needs one window pass and one aggregate, both
    * partitioned by user: two stages on the same key, no self-join
    * (the naive LAG-then-conditional-sum variant needs the same two
    * passes; a correlated-subquery formulation would be quadratic).
    * All integer/date arithmetic — exact on both engines.
    */
  def activityIslands(spark: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    days
      .withColumn("grp", date_sub(col("day"), row_number().over(w)))
      .groupBy(col("user_id"), col("grp"))
      .agg(min(col("day")).cast("string").as("streak_start"),
        max(col("day")).cast("string").as("streak_end"),
        count(lit(1)).as("n_days"))
      .select(col("user_id"), col("streak_start"), col("streak_end"),
        col("n_days"))
      .orderBy(col("user_id"), col("streak_start"))
  }

  private val IslandsOracle: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id, cast(ts AS DATE) AS day FROM events),
      |grps AS (
      |  SELECT user_id, day,
      |    day - row_number() OVER (
      |      PARTITION BY user_id ORDER BY day) * INTERVAL 1 DAY AS grp
      |  FROM days)
      |SELECT user_id,
      |  cast(min(day) AS VARCHAR) AS streak_start,
      |  cast(max(day) AS VARCHAR) AS streak_end,
      |  count(*) AS n_days
      |FROM grps GROUP BY user_id, grp
      |ORDER BY user_id, streak_start""".stripMargin

  /** Batch MERGE (upsert): a deterministic delta batch — every 5th
    * customer gets a balance adjustment (update branch), every 7th
    * spawns a negated-key new account (insert branch) — merged into the
    * customer snapshot with WHEN MATCHED / NOT MATCHED / NOT MATCHED BY
    * SOURCE semantics, each row labeled with the action taken. One
    * full-outer hash join on the merge key; at 100 TB both sides
    * arrive bucketed by key and the join is exchange-free (the layout
    * SourcesSinksSpec pins). The balance update `+ 100.0` is a single
    * IEEE add of the same operands on both engines — exact, no
    * rounding idiom needed.
    */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val target = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        col("c_acctbal"))
    val updates = target.filter(col("c_custkey") % 5 === 0)
      .select(col("c_custkey").as("key"),
        (col("c_acctbal") + lit(100.0)).as("s_bal"),
        col("c_name").as("s_name"), col("c_mktsegment").as("s_seg"))
    // insert keys are −(key+1): customer keys are non-negative at every
    // scale factor (the generator ships key 0), so the strictly-negative
    // synthetic namespace can never collide with a real key (an additive
    // offset would collide once the table outgrows it, silently turning
    // inserts into updates; bare negation would collide on key 0)
    val inserts = target.filter(col("c_custkey") % 7 === 0)
      .select((-(col("c_custkey") + 1)).as("key"),
        lit(0.0).as("s_bal"),
        concat(lit("NEW_"), col("c_custkey").cast("string")).as("s_name"),
        lit("NEW").as("s_seg"))
    val source = updates.union(inserts)
    target.join(source, col("c_custkey") === col("key"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("key")).as("c_custkey"),
        coalesce(col("c_name"), col("s_name")).as("c_name"),
        coalesce(col("c_mktsegment"), col("s_seg")).as("c_mktsegment"),
        when(col("c_custkey").isNull, col("s_bal"))
          .when(col("key").isNull, col("c_acctbal"))
          .otherwise(col("s_bal")).as("acctbal"),
        when(col("c_custkey").isNull, "insert")
          .when(col("key").isNull, "keep")
          .otherwise("update").as("action"))
      .orderBy(col("c_custkey"))
  }

  private val MergeOracle: String =
    """WITH target AS (
      |  SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer),
      |source AS (
      |  SELECT c_custkey AS key, c_acctbal + 100.0 AS s_bal,
      |    c_name AS s_name, c_mktsegment AS s_seg
      |  FROM target WHERE c_custkey % 5 = 0
      |  UNION ALL
      |  SELECT -(c_custkey + 1) AS key, 0.0 AS s_bal,
      |    'NEW_' || cast(c_custkey AS VARCHAR) AS s_name, 'NEW' AS s_seg
      |  FROM target WHERE c_custkey % 7 = 0)
      |SELECT
      |  coalesce(t.c_custkey, s.key) AS c_custkey,
      |  coalesce(t.c_name, s.s_name) AS c_name,
      |  coalesce(t.c_mktsegment, s.s_seg) AS c_mktsegment,
      |  CASE WHEN t.c_custkey IS NULL THEN s.s_bal
      |       WHEN s.key IS NULL THEN t.c_acctbal
      |       ELSE s.s_bal END AS acctbal,
      |  CASE WHEN t.c_custkey IS NULL THEN 'insert'
      |       WHEN s.key IS NULL THEN 'keep'
      |       ELSE 'update' END AS action
      |FROM target t FULL OUTER JOIN source s ON t.c_custkey = s.key
      |ORDER BY c_custkey""".stripMargin

  /** Market-basket association mining: part pairs co-purchased in ≥2
    * orders, with exact support counts and lift. Pair generation uses
    * the `u < v` orientation off the DISTINCT (order, part) slice, so
    * the fan-out is bounded by basket size — never all-pairs over the
    * catalog. Lift = (n_baskets · co) / (cnt_u · cnt_v) is computed as
    * ONE division of two exact int64 products (each ≪ 2⁵³), which IEEE
    * rounds identically on both engines — no float-rounding idiom
    * needed. `n_baskets` is a bounded driver scalar (one long),
    * folded in as a literal.
    */
  def marketBasket(spark: SparkSession, dir: String): DataFrame = {
    // r16 (guide §2.4 — the q77/co-purchase discipline): baskets are
    // built by ONE groupBy(order) with collect_set (the set dedups the
    // (order, part) slice inside the aggregate), replacing the old
    // distinct + localCheckpoint + lp⋈lp self-join — which paid a
    // distinct exchange of the fact slice AND two checkpoint-scan sort
    // passes per pair build (probe: self-join co 1.28 s vs group-and-
    // pair 1.03 s, and the 0.54 s distinct pass folds into the basket
    // build). Everything derives from the checkpointed basket frame
    // (~|orders| rows, ≤7-element int arrays): co-counts by in-basket
    // pair explode, per-part counts by single explode, n_baskets =
    // count(). Identical multiset of pairs and counts, oracle
    // unchanged (hash-verified).
    val baskets = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy(col("ok")).agg(collect_set(col("pk")).as("pks"))
      .localCheckpoint() // reused 3× (pairs, counts, n_baskets)
    val nBaskets = baskets.count()
    val co = baskets
      .select(explode(col("pks")).as("u"), col("pks"))
      .select(col("u"), explode(col("pks")).as("v"))
      .filter(col("u") < col("v"))
      .groupBy(col("u").as("part_u"), col("v").as("part_v"))
      .agg(count(lit(1)).as("co"))
      .filter(col("co") >= 2)
    val cnt = baskets.select(explode(col("pks")).as("pk"))
      .groupBy(col("pk")).agg(count(lit(1)).as("cnt"))
    co
      .join(cnt.select(col("pk").as("part_u"), col("cnt").as("cnt_u")), Seq("part_u"))
      .join(cnt.select(col("pk").as("part_v"), col("cnt").as("cnt_v")), Seq("part_v"))
      .select(col("part_u"), col("part_v"), col("co"),
        ((col("co") * lit(nBaskets)).cast("double")
          / (col("cnt_u") * col("cnt_v")).cast("double")).as("lift"))
      .orderBy(col("part_u"), col("part_v"))
  }

  private val BasketOracle: String =
    """WITH lp AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |nb AS (SELECT count(DISTINCT ok) AS n FROM lp),
      |co AS (
      |  SELECT a.pk AS part_u, b.pk AS part_v, count(*) AS co
      |  FROM lp a JOIN lp b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY a.pk, b.pk HAVING count(*) >= 2),
      |cnt AS (SELECT pk, count(*) AS cnt FROM lp GROUP BY pk)
      |SELECT co.part_u, co.part_v, co.co,
      |  cast(co.co * (SELECT n FROM nb) AS DOUBLE)
      |    / cast(cu.cnt * cv.cnt AS DOUBLE) AS lift
      |FROM co JOIN cnt cu ON cu.pk = co.part_u
      |        JOIN cnt cv ON cv.pk = co.part_v
      |ORDER BY part_u, part_v""".stripMargin

  /** Per-user EWMA (α = 0.3) over event values in strict (ts, event_id)
    * order — the time-series smoothing primitive. A sequential fold
    * cannot be a window function without quadratic re-evaluation, so
    * each user's series is collected into ONE ordered array and folded
    * with `aggregate` — state per user is a single double, and groups
    * are bounded by per-user event counts (at 100 TB you'd
    * re-partition by user and feed a bounded time range, same shape).
    * Bit-stable across engines WITHOUT rounding: the fold applies the
    * identical IEEE op sequence (0.3·x + 0.7·s, seeded with the first
    * element) in the identical total order on both sides — there is no
    * reordered summation anywhere. DuckDB's 2-arg list_reduce seeds
    * with the first element; Spark mirrors via aggregate(slice(.., 2,
    * n−1), first, ..) (NOTES.md #8: no 3-arg list_reduce in DuckDB).
    */
  def ewma(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sort_array(collect_list(struct(col("ts"), col("event_id"),
          col("value")))).as("series"))
      .withColumn("vals", expr("transform(series, s -> s.value)"))
      .withColumn("ewma", expr(
        "aggregate(slice(vals, 2, size(vals) - 1), vals[0]," +
          " (s, x) -> 0.3 * x + 0.7 * s)"))
      .select(col("user_id"), col("n_events"), col("ewma"))
      .orderBy(col("user_id"))
  }

  private val EwmaOracle: String =
    """SELECT user_id, count(*) AS n_events,
      |  list_reduce(list(value ORDER BY ts, event_id),
      |    (s, x) -> 0.3 * x + 0.7 * s) AS ewma
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  val registry: Seq[QueryDef] = Seq(
    QueryDef("q78_pagerank", pagerank _, PagerankOracle),
    QueryDef("q78b_pagerank_converged", pagerankConvergedQuery _,
      PagerankConvergedOracle),
    QueryDef("q79_islands", activityIslands _, IslandsOracle),
    QueryDef("q80_merge_upsert", mergeUpsert _, MergeOracle),
    QueryDef("q81_market_basket", marketBasket _, BasketOracle),
    QueryDef("q82_ewma", ewma _, EwmaOracle)
  )
}
