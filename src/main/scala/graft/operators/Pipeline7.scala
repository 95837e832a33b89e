package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.CaseFold

/** Round-9 corpus-mixing operators: temperature-scaled mixture weights
  * and the deterministic repeat-factor upsampler that materializes
  * them. Together they are the "data mixing" stage of an LLM corpus
  * pipeline — decide how much each (lang, source) stratum should
  * contribute, then emit each document the right number of times —
  * kept fully deterministic (the repo's no-RNG discipline, cf.
  * [[Pipeline6]]): integer arithmetic end-to-end plus the house salted
  * md5 hash for the fractional copy, so the exact output replays on
  * any cluster and both queries carry full DuckDB hash oracles.
  */
object Pipeline7 {

  /** Sampling temperature is fixed at α = 1/2: target mass ∝
    * n_toks^α, the standard low-resource boost used by multilingual
    * LM sampling. α = 1/2 keeps the whole computation on an exact
    * cross-engine grid: floor(sqrt(n)) is a single correctly-rounded
    * IEEE op both engines evaluate identically (and floor can't
    * mis-round below n ~ 2^52), after which everything is integer
    * `div` arithmetic.
    */
  private def isqrt(c: Column): Column =
    floor(sqrt(c.cast("double"))).cast("long")

  /** Per-(lang, source) token mass shared by both queries: one hash
    * aggregate over the corpus (shuffles on the 2-part stratum key).
    */
  private def stratumToks(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), col("source"),
        size(filter(CaseFold.tokens(col("text")), w => w =!= ""))
          .cast("long").as("n_toks"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_toks"))

  /** TEMPERATURE-SCALED MIXTURE — for each stratum: its natural token
    * share, its α=1/2 target share, and the repeat factor (×1000,
    * "millicopies") that moves it from the former to the latter.
    * All basis points / millis via long `div`, so the oracle replays
    * the arithmetic bit-for-bit. Shape: one corpus aggregate, then
    * windows over STRATUM rows only (bounded by |lang|·|source| —
    * dozens — never the doc count; the single-partition window
    * exchange moves only those rows).
    */
  def mixtureWeights(spark: SparkSession, dir: String): DataFrame = {
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    stratumToks(spark, dir)
      .withColumn("isq", isqrt(col("n_toks")))
      .withColumn("tot_toks", sum(col("n_toks")).over(wAll))
      .withColumn("tot_isq", sum(col("isq")).over(wAll))
      .select(col("lang"), col("source"), col("n_docs"), col("n_toks"),
        greatest(expr("n_toks * 10000 div tot_toks"), lit(1L))
          .as("natural_bps"),
        expr("isq * 10000 div tot_isq").as("target_bps"))
      .withColumn("boost_milli",
        expr("target_bps * 1000 div natural_bps"))
      .orderBy(col("lang"), col("source"))
  }

  private val MixtureOracle: String =
    """WITH t AS (
      |  SELECT lang, source,
      |    cast(len(list_filter(string_split(lower(text), ' '),
      |      w -> w <> '')) AS BIGINT) AS n_toks
      |  FROM documents),
      |s AS (
      |  SELECT lang, source, count(*) AS n_docs,
      |    cast(sum(n_toks) AS BIGINT) AS n_toks
      |  FROM t GROUP BY 1, 2),
      |m AS (
      |  SELECT lang, source, n_docs, n_toks,
      |    cast(floor(sqrt(cast(n_toks AS DOUBLE))) AS BIGINT) AS isq,
      |    cast(sum(n_toks) OVER () AS BIGINT) AS tot_toks,
      |    cast(sum(cast(floor(sqrt(cast(n_toks AS DOUBLE))) AS BIGINT))
      |      OVER () AS BIGINT) AS tot_isq
      |  FROM s),
      |r AS (
      |  SELECT lang, source, n_docs, n_toks,
      |    greatest(cast(n_toks * 10000 // tot_toks AS BIGINT), 1)
      |      AS natural_bps,
      |    cast(isq * 10000 // tot_isq AS BIGINT) AS target_bps
      |  FROM m)
      |SELECT lang, source, n_docs, n_toks, natural_bps, target_bps,
      |  cast(target_bps * 1000 // natural_bps AS BIGINT) AS boost_milli
      |FROM r ORDER BY lang, source""".stripMargin

  /** DETERMINISTIC REPEAT-FACTOR UPSAMPLING — materialize the mixture:
    * every document is emitted ⌊boost/1000⌋ times, plus one more copy
    * iff its salted hash lands under the fractional part (hash mod
    * 1000 < boost mod 1000) — so a stratum with boost 2300 emits every
    * doc twice and a deterministic ~30% of docs a third time, and a
    * downsampled stratum (boost < 1000) keeps exactly the hash-chosen
    * fraction. No RNG: reruns and repartitions emit the identical
    * corpus, which is what makes downstream dedup/splits reproducible.
    * Shape: the mixture table is dozens of rows → broadcast join; the
    * copy explosion is a narrow per-row `sequence`, so the whole
    * operator adds zero data shuffles beyond the stratum aggregate it
    * shares with [[mixtureWeights]]. At 100 TB the explode multiplies
    * output bytes by the mixture's mean boost — the write cost every
    * upsampled corpus pays by definition — never the shuffle.
    */
  def upsampleRepeat(spark: SparkSession, dir: String): DataFrame = {
    val boosts = mixtureWeights(spark, dir)
      .select(col("lang"), col("source"), col("boost_milli"))
    val frac = Tables.saltedHash("ups:", col("doc_id"), 3) % 1000
    Tables.documents(spark, dir)
      .join(broadcast(boosts), Seq("lang", "source"))
      .withColumn("n_copies",
        expr("boost_milli div 1000") +
          when(frac < col("boost_milli") % 1000, 1L).otherwise(0L))
      .filter(col("n_copies") >= 1)
      .select(col("doc_id"), col("lang"), col("source"),
        explode(sequence(lit(1L), col("n_copies"))).as("copy"))
      .orderBy(col("doc_id"), col("copy"))
  }

  private val UpsampleOracle: String =
    """WITH t AS (
      |  SELECT lang, source,
      |    cast(len(list_filter(string_split(lower(text), ' '),
      |      w -> w <> '')) AS BIGINT) AS n_toks
      |  FROM documents),
      |s AS (
      |  SELECT lang, source, cast(sum(n_toks) AS BIGINT) AS n_toks
      |  FROM t GROUP BY 1, 2),
      |m AS (
      |  SELECT lang, source, n_toks,
      |    cast(floor(sqrt(cast(n_toks AS DOUBLE))) AS BIGINT) AS isq,
      |    cast(sum(n_toks) OVER () AS BIGINT) AS tot_toks,
      |    cast(sum(cast(floor(sqrt(cast(n_toks AS DOUBLE))) AS BIGINT))
      |      OVER () AS BIGINT) AS tot_isq
      |  FROM s),
      |b AS (
      |  SELECT lang, source,
      |    cast(cast(isq * 10000 // tot_isq AS BIGINT) * 1000
      |      // greatest(cast(n_toks * 10000 // tot_toks AS BIGINT), 1)
      |      AS BIGINT) AS boost_milli
      |  FROM m),
      |c AS (
      |  SELECT d.doc_id, d.lang, d.source,
      |    cast(b.boost_milli // 1000 AS BIGINT)
      |      + CASE WHEN ('0x' || substring(md5('ups:'
      |          || cast(d.doc_id AS VARCHAR)), 1, 3))::BIGINT % 1000
      |          < b.boost_milli % 1000 THEN 1 ELSE 0 END AS n_copies
      |  FROM documents d JOIN b USING (lang, source))
      |SELECT doc_id, lang, source,
      |  unnest(generate_series(1, n_copies)) AS copy
      |FROM c WHERE n_copies >= 1
      |ORDER BY doc_id, copy""".stripMargin

  /** Contrastive preference-pair mining — the training-data step for a
    * quality classifier (or DPO-style preference tuning): within each
    * verified near-dup cluster, the best-quality member is `chosen` and
    * every other member becomes a `rejected` twin. Near-dup clusters
    * are the one place a corpus yields CONTENT-CONTROLLED pairs — the
    * two sides say the same thing, so the quality delta is the only
    * signal, which is exactly what a pairwise quality model should
    * train on. Composition of two already-verified tiers: the
    * LSH-verified cluster substrate ([[Dedup.dedupClusters]]) and the
    * [[Pipeline.pipelineQualityFilter]] score, glued by ONE window pass
    * (partition by cluster, order by quality desc / doc_id; first_value
    * = chosen) — no join, and at 100 TB the window partitions are
    * near-dup clusters whose size the LSH bucket caps already bound.
    * Deterministic: scores are the r4-pinned doubles both engines
    * replay; ties break on doc_id.
    */
  def preferencePairs(spark: SparkSession, dir: String): DataFrame = {
    val t = CaseFold.tokens(col("text"))
    val nToks = size(t)
    val stopRatio = size(filter(t, s => s.isInCollection(
      Seq("the", "a", "of", "and", "to", "in", "is", "it", "for", "on"))))
      .cast("double") / nToks.cast("double")
    val score = least(nToks.cast("double") / 100.0, lit(1.0)) * 0.5 +
      least(stopRatio * 5.0, lit(1.0)) * 0.5
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), Tables.r4(score).as("q"))
    val members = Dedup.dedupClusters(spark, dir)
      .withColumnRenamed("cluster_rep", "cluster")
      .join(scored, Seq("doc_id"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("q").desc, col("doc_id"))
    members
      .withColumn("chosen_id", first(col("doc_id")).over(w))
      .withColumn("chosen_q", first(col("q")).over(w))
      .filter(col("doc_id") =!= col("chosen_id"))
      .select(col("cluster"), col("chosen_id"), col("chosen_q"),
        col("doc_id").as("rejected_id"), col("q").as("rejected_q"),
        Tables.r4(col("chosen_q") - col("q")).as("margin"))
      .orderBy(col("cluster"), col("rejected_id"))
  }

  private val PreferencePairsOracle: String =
    s"""WITH RECURSIVE ${graft.operators.Dedup.MinhashPipelineCtes},
      |e AS (SELECT id_a, id_b FROM vp
      |      UNION ALL SELECT id_b, id_a FROM vp),
      |reach(src, node) AS (
      |  SELECT id_a, id_a FROM e
      |  UNION
      |  SELECT r.src, e.id_b FROM reach r JOIN e ON e.id_a = r.node),
      |cl AS (SELECT src AS doc_id, min(node) AS cluster
      |       FROM reach GROUP BY src),
      |q AS (
      |  SELECT doc_id,
      |    floor((least(cast(len(t) AS DOUBLE) / 100.0, 1.0) * 0.5
      |      + least(cast(len(list_filter(t, s -> s IN
      |          ('the','a','of','and','to','in','is','it','for','on'))) AS DOUBLE)
      |        / len(t) * 5.0, 1.0) * 0.5) * 10000 + 0.5) / 10000 AS q
      |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t
      |        FROM documents)),
      |m AS (SELECT cl.doc_id, cl.cluster, q.q FROM cl JOIN q USING (doc_id)),
      |r AS (
      |  SELECT *,
      |    first_value(doc_id) OVER (PARTITION BY cluster
      |      ORDER BY q DESC, doc_id) AS chosen_id,
      |    first_value(q) OVER (PARTITION BY cluster
      |      ORDER BY q DESC, doc_id) AS chosen_q
      |  FROM m)
      |SELECT cluster, chosen_id, chosen_q, doc_id AS rejected_id,
      |  q AS rejected_q,
      |  floor((chosen_q - q) * 10000 + 0.5) / 10000 AS margin
      |FROM r WHERE doc_id <> chosen_id
      |ORDER BY cluster, rejected_id""".stripMargin

  val registry: Seq[QueryDef] = Seq(
    QueryDef("pipeline_mixture_weights", mixtureWeights _, MixtureOracle),
    QueryDef("pipeline_upsample_repeat", upsampleRepeat _, UpsampleOracle),
    QueryDef("pipeline_preference_pairs", preferencePairs _,
      PreferencePairsOracle)
  )
}
