package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Frequent-items (heavy hitters) via a Misra–Gries sketch with exact
  * verification — the streaming-algorithms classic, as a two-scan
  * distributed pipeline:
  *
  *   1. SKETCH: one pass folds every token into a k-counter Misra–Gries
  *      summary per partition; partial summaries MERGE (sum counters,
  *      subtract the (k+1)-th largest, drop ≤0 — Agarwal et al.,
  *      "Mergeability of Summaries", PODS'12), so the whole pass is an
  *      ordinary partial+final typed Aggregator with O(k) state — no
  *      full-width groupBy over the token stream.
  *   2. VERIFY: the ≤k candidates broadcast back over the corpus for
  *      EXACT counts, keeping only true count > n/256.
  *
  * The MG guarantee (est ≥ true − n/k, and only items seen survive)
  * means with k = 512 > 256 every TRUE θ-heavy hitter (count > n/256 ≥
  * n/k) is still in the sketch regardless of merge order — so the
  * final exact-filtered output is deterministic and ORACLE-VERIFIED by
  * a plain HAVING query, even though intermediate sketch contents are
  * merge-order-dependent. Same sketch-then-verify shape as the LSH
  * dedup tiers (`Dedup.scala`). At 100 TB: scan 1 moves k counters per
  * partition; scan 2 aggregates only rows whose token is among ≤k
  * broadcast candidates — both shuffles are O(k · partitions), not
  * O(distinct tokens).
  */
object Sketches {

  /** Sketch capacity (error n/k) — must exceed 1/θ for the superset
    * guarantee; 512 > 256.
    */
  val K = 512

  /** Heavy-hitter threshold denominator: keep tokens with count > n/256. */
  val ThetaDen = 256L

  /** Misra–Gries summary: token → counter, at most k entries. */
  type MG = Map[String, Long]

  private[graft] def mgAdd(m: MG, tok: String): MG =
    m.get(tok) match {
      case Some(c) => m.updated(tok, c + 1)
      case None if m.size < K => m.updated(tok, 1L)
      case None => // decrement-all round: the classic k-counter step
        m.flatMap { case (t, c) => if (c > 1) Some(t -> (c - 1)) else None }
    }

  /** Mergeable-summaries merge: pointwise sum, then subtract the
    * (k+1)-th largest count and drop non-positives (keeps the combined
    * error bound additive).
    */
  private[graft] def mgMerge(a: MG, b: MG): MG = {
    val sum = b.foldLeft(a) { case (m, (t, c)) =>
      m.updated(t, m.getOrElse(t, 0L) + c)
    }
    if (sum.size <= K) sum
    else {
      val cut = sum.values.toSeq.sorted(Ordering[Long].reverse)(K)
      sum.flatMap { case (t, c) =>
        if (c - cut > 0) Some(t -> (c - cut)) else None
      }
    }
  }

  /** The sketch pass as a typed Aggregator (partial + final merge run
    * through Spark's ordinary two-phase aggregation).
    */
  class MisraGriesAgg extends Aggregator[String, MG, String] {
    override def zero: MG = Map.empty
    override def reduce(m: MG, tok: String): MG = mgAdd(m, tok)
    override def merge(a: MG, b: MG): MG = mgMerge(a, b)
    // candidates as one space-joined string (tokens are space-free by
    // construction) — keeps the output encoder a plain STRING
    override def finish(m: MG): String = m.keys.toSeq.sorted.mkString(" ")
    override def bufferEncoder: Encoder[MG] = Encoders.kryo[MG]
    override def outputEncoder: Encoder[String] = Encoders.STRING
  }

  /** Documents tokenized the corpus-standard way — the reference's own
    * per-document kernel ([[WordCount.words]]: fold, strip, split), so a
    * change to the corpus tokenization propagates here instead of
    * silently diverging.
    */
  private[graft] def tokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(WordCount.words(col("text"))).as("tok"))
      .filter(col("tok") =!= "")

  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(spark, dir).localCheckpoint() // scanned twice
    // scan 1: the sketch AND the total count, one pass (the count rides
    // the same aggregate — no extra action for n)
    val firstPass = toks.as[String](Encoders.STRING)
      .select(new MisraGriesAgg().toColumn.name("cands"),
        count(lit(1)).as[Long](Encoders.scalaLong).name("n"))
      .head()
    val candidates = firstPass._1.split(" ").toSeq
    val n = firstPass._2
    // scan 2: exact verification of the ≤k candidates
    toks.filter(col("tok").isin(candidates: _*))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * ThetaDen > n)
      .orderBy(col("cnt").desc, col("tok"))
  }

  /** The MG summary as a map-valued Aggregator — the partial a
    * STREAMING deployment ships per micro-batch (counts intact, so the
    * cross-batch combine is the real [[mgMerge]] law, not a key union).
    * Batch twin keeps the string form; `stream_heavy_hitters` uses this.
    */
  class MisraGriesMapAgg extends Aggregator[String, MG, Map[String, Long]] {
    override def zero: MG = Map.empty
    override def reduce(m: MG, tok: String): MG = mgAdd(m, tok)
    override def merge(a: MG, b: MG): MG = mgMerge(a, b)
    override def finish(m: MG): Map[String, Long] = m
    override def bufferEncoder: Encoder[MG] = Encoders.kryo[MG]
    override def outputEncoder: Encoder[Map[String, Long]] =
      ExpressionEncoder[Map[String, Long]]()
  }

  /** Shared with the streaming twin (`stream_heavy_hitters`), whose
    * result must equal the batch query's by the MG superset law. Like
    * the approx-top-k oracle below, it replays the reference normalizer
    * in the reference's own order — lowercase, then strip `[^\w]` —
    * which [[WordCount.words]] matches exactly.
    */
  private[graft] val HeavyHittersOracle: String =
    s"""WITH toks AS (
       |  SELECT regexp_replace(lower(unnest(string_split(text, ' '))),
       |    '[^\\w]', '', 'g') AS tok
       |  FROM documents),
       |clean AS (SELECT tok FROM toks WHERE tok <> ''),
       |total AS (SELECT count(*) AS n FROM clean)
       |SELECT tok, count(*) AS cnt
       |FROM clean, total
       |GROUP BY tok, total.n
       |HAVING count(*) * $ThetaDen > total.n
       |ORDER BY cnt DESC, tok""".stripMargin

  /** Spark 4's built-in `approx_top_k` (DataSketches frequent-items)
    * over the same token stream — the engine-native twin of the
    * hand-built Misra–Gries pipeline above, kept beside it the way
    * `q37_approx_percentile` sits beside its exact percentiles. The
    * sketch's counts are estimates IN GENERAL, but on this corpus the
    * 31-token vocabulary never oversubscribes the 4096-slot sketch, so
    * every count is EXACT regardless of merge order (SketchesSpec pins
    * that law) — which makes the plain exact-top-20 SQL a true oracle.
    * The k=20 cut is tie-free at the gate SF (rank 20 = 888 vs rank
    * 21 = 886 at sf0.01); a regen that ties the boundary would turn
    * this red, correctly flagging that the oracle needs a tie audit.
    */
  def approxTopK(spark: SparkSession, dir: String): DataFrame = {
    tokens(spark, dir).createOrReplaceTempView("hh_toks")
    spark.sql(
      """SELECT t.item AS tok, t.count AS est
        |FROM (SELECT explode(approx_top_k(tok, 20, 4096)) AS t FROM hh_toks)
        |ORDER BY est DESC, tok""".stripMargin)
  }

  private val ApproxTopKOracle: String =
    """WITH toks AS (
      |  SELECT regexp_replace(lower(unnest(string_split(text, ' '))),
      |    '[^\w]', '', 'g') AS tok
      |  FROM documents),
      |clean AS (SELECT tok FROM toks WHERE tok <> '')
      |SELECT tok, count(*) AS est
      |FROM clean GROUP BY tok
      |ORDER BY est DESC, tok LIMIT 20""".stripMargin

  val registry: Seq[QueryDef] = Seq(
    QueryDef("sketch_heavy_hitters", heavyHitters _, HeavyHittersOracle),
    QueryDef("sketch_approx_topk", approxTopK _, ApproxTopKOracle)
  )
}
