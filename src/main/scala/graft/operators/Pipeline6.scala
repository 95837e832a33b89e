package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.CaseFold

/** Round-8 training-corpus operators: leakage-safe splitting and
  * deterministic exact-k sampling.
  *
  * Both extend the repo's deterministic-hash discipline (see
  * [[Pipeline.pipelineTrainSplit]]): no RNG anywhere, so the same
  * document lands in the same split/sample on any cluster, any
  * partitioning, any rerun — and both are therefore fully
  * DuckDB-oracled instead of rows-only.
  */
object Pipeline6 {

  /** Split thresholds over the first md5 byte of the GROUP key:
    * < 205 train (~80%), < 230 valid (~10%), else test (~10%).
    * Shared with the oracle via interpolation.
    */
  private[graft] val TrainThr = 205
  private[graft] val ValidThr = 230

  /** LEAKAGE-SAFE train/valid/test split — the eval-integrity version
    * of [[Pipeline.pipelineTrainSplit]]: near-duplicate documents must
    * never straddle a split boundary (a test doc whose near-copy sits
    * in train silently inflates eval scores — the classic benchmark-
    * contamination failure). The unit of assignment is therefore the
    * near-dup CLUSTER, not the document: every doc adopts its cluster
    * representative (from the verified MinHash-LSH substrate,
    * [[Dedup.dedupClusters]]) as its `group_key` — singletons use their
    * own id — and the split is a pure hash of that key, so an entire
    * cluster moves together by construction.
    *
    * Scale shape: the cluster labels are the banded-LSH pipeline the
    * dedup tier already runs (no new quadratic term); this operator
    * adds ONE left join against those labels (broadcast at realistic
    * cluster-member counts — near-dup clusters are a small fraction of
    * a deduped corpus) plus a stateless hash per row. Fully replayed by
    * the oracle: the recursive-CTE closure over the same verified pairs
    * plus the identical md5-byte rule.
    */
  def pipelineLeakageSplit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val clusters = Dedup.dedupClusters(spark, dir)
    val h = Tables.saltedHash("leak:", col("group_key"), 2)
    docs.select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("group_key", coalesce(col("cluster_rep"), col("doc_id")))
      .withColumn("split",
        when(h < TrainThr, "train")
          .when(h < ValidThr, "valid")
          .otherwise("test"))
      .select(col("doc_id"), col("group_key"), col("split"))
      .orderBy(col("doc_id"))
  }

  private val LeakageSplitOracle: String =
    s"""WITH RECURSIVE ${Dedup.MinhashPipelineCtes},
      |e AS (SELECT id_a, id_b FROM vp
      |      UNION ALL SELECT id_b, id_a FROM vp),
      |reach(src, node) AS (
      |  SELECT id_a, id_a FROM e
      |  UNION
      |  SELECT r.src, e.id_b FROM reach r JOIN e ON e.id_a = r.node),
      |clusters AS (
      |  SELECT src AS doc_id, min(node) AS rep FROM reach GROUP BY src),
      |keyed AS (
      |  SELECT d.doc_id, coalesce(c.rep, d.doc_id) AS group_key
      |  FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id)
      |SELECT doc_id, group_key,
      |  CASE
      |    WHEN ('0x' || substring(md5('leak:' || cast(group_key AS VARCHAR)), 1, 2))::int < $TrainThr THEN 'train'
      |    WHEN ('0x' || substring(md5('leak:' || cast(group_key AS VARCHAR)), 1, 2))::int < $ValidThr THEN 'valid'
      |    ELSE 'test' END AS split
      |FROM keyed ORDER BY doc_id""".stripMargin

  /** Sample size for [[pipelineReservoirSample]]. */
  private[graft] val ReservoirK = 200

  /** Deterministic exact-k uniform sample — the distributed answer to
    * reservoir sampling. A sequential reservoir (Vitter's algorithm R)
    * is a single-pass RNG loop that CANNOT parallelize (its state is
    * order-dependent) and resamples differently every run; the
    * equivalent distributed primitive ranks every row by a salted hash
    * and keeps the k smallest. Same guarantee (every row equally
    * likely under the hash's uniformity), plus three properties the
    * RNG form lacks at 100 TB: partition-mergeable (each partition
    * ships only its k best through TakeOrderedAndProject — k rows per
    * partition, never a global sort), rerun-stable (audit two corpus
    * builds and the sample is identical), and incrementally mergeable
    * (the k smallest of a union = k smallest of the per-shard k
    * smallest — the same min-k algebra as the KMV sketch). Re-salt the
    * hash to draw an independent sample.
    */
  def pipelineReservoirSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        Tables.saltedHash("res:", col("doc_id"), 8).as("rk"))
      .orderBy(col("rk"), col("doc_id"))
      .limit(ReservoirK)

  private val ReservoirOracle: String =
    s"""SELECT doc_id, lang, source,
      |  ('0x' || substring(md5('res:' || cast(doc_id AS VARCHAR)), 1, 8))::bigint AS rk
      |FROM documents
      |ORDER BY rk, doc_id LIMIT $ReservoirK""".stripMargin

  /** Coverage-vocabulary size: the fixture corpus has only 31 word
    * types, so the production-sized [[Pipeline3.VocabSize]] would cover
    * it trivially (every n_oov = 0 — a degenerate query); 16 leaves a
    * real ~45% tail to measure. Production swaps in its 32k–256k vocab
    * and nothing else changes.
    */
  private[graft] val CoverageVocabN = 16

  /** Tokenizer-coverage QA: per document, how much of it falls OUTSIDE
    * the vocabulary a [[Pipeline3.pipelineVocab]]-style build would
    * ship (the top-[[CoverageVocabN]] tokens by count) — the question
    * a training pipeline asks before committing to a tokenizer,
    * because out-of-vocabulary mass is what fragments into
    * byte-fallback tokens and blows up sequence lengths. Output: token
    * and OOV counts plus exact-integer OOV basis points per doc. Plan:
    * one corpus count + TakeOrderedAndProject builds the ≤N-row vocab
    * (exactly the vocab query's shape), which then BROADCASTS to a
    * per-token membership check — the corpus shuffles once on doc_id,
    * the vocab never shuffles anything.
    */
  def pipelineTokenizerCoverage(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val toks = docs
      .select(col("doc_id"),
        explode(CaseFold.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
    val vocab = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(CoverageVocabN)
      .select(col("w"), lit(1).as("in_vocab"))
    val perDoc = toks
      .join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"))
      .withColumn("oov_bps",
        when(col("n_toks") === 0, 0L)
          .otherwise(expr("n_oov * 10000 div n_toks")))
      .orderBy(col("doc_id"))
  }

  private val TokenizerCoverageOracle: String =
    s"""WITH tok AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
      |  FROM documents),
      |t AS (SELECT doc_id, w FROM tok WHERE w <> ''),
      |c AS (SELECT w, count(*) AS c FROM t GROUP BY w),
      |vocab AS (SELECT w FROM c ORDER BY c DESC, w LIMIT $CoverageVocabN),
      |per AS (
      |  SELECT t.doc_id, count(*) AS n_toks,
      |    sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS n_oov
      |  FROM t LEFT JOIN vocab v ON v.w = t.w GROUP BY t.doc_id)
      |SELECT d.doc_id,
      |  cast(coalesce(per.n_toks, 0) AS BIGINT) AS n_toks,
      |  cast(coalesce(per.n_oov, 0) AS BIGINT) AS n_oov,
      |  cast(CASE WHEN coalesce(per.n_toks, 0) = 0 THEN 0
      |    ELSE coalesce(per.n_oov, 0) * 10000 // per.n_toks END AS BIGINT)
      |    AS oov_bps
      |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin



  /** SHARD MANIFEST — the integrity artifact a reproducible corpus
    * export publishes beside its shards: for each of
    * [[Pipeline3.NumShards]] training shards (the SAME salted-hash
    * assignment [[Pipeline3.pipelineShuffle]] writes, so the manifest
    * describes those shards, not a parallel universe), the doc count,
    * total bytes, and an ORDER-INSENSITIVE content fingerprint — the
    * bit-XOR of each member's 52-bit salted doc-id hash. XOR-of-hashes
    * is the scale-correct fingerprint: it is a pure function of the
    * shard's SET, commutative and mergeable (per-partition partials
    * XOR together), so no sort, no collect_list, no order coupling —
    * where an md5-of-concatenation would need the whole shard
    * serialized in one task. Downstream, two exports are
    * byte-identical iff all fingerprints match; a single lost or
    * duplicated doc flips one. Everything replays in DuckDB verbatim.
    */
  def pipelineShardManifest(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        Tables.saltedHash("shuf:", col("doc_id"), 8).as("h"),
        Tables.saltedHash("fp:", col("doc_id"), 13).as("fp"))
      .withColumn("shard", pmod(col("h"), lit(Pipeline3.NumShards))
        .cast("long"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"),
        expr("bit_xor(fp)").as("fingerprint"))
      .orderBy(col("shard"))

  private val ShardManifestOracle: String =
    s"""WITH d AS (
      |  SELECT doc_id, cast(length(text) AS BIGINT) AS n_chars,
      |    ('0x' || substring(md5('shuf:' || cast(doc_id AS VARCHAR)), 1, 8))::bigint
      |      % ${Pipeline3.NumShards} AS shard,
      |    ('0x' || substring(md5('fp:' || cast(doc_id AS VARCHAR)), 1, 13))::bigint
      |      AS fp
      |  FROM documents)
      |SELECT shard, count(*) AS n_docs,
      |  cast(sum(n_chars) AS BIGINT) AS n_chars,
      |  bit_xor(fp) AS fingerprint
      |FROM d GROUP BY shard ORDER BY shard""".stripMargin

  val registry: Seq[QueryDef] = Seq(
    QueryDef("pipeline_leakage_split", pipelineLeakageSplit _,
      LeakageSplitOracle),
    QueryDef("pipeline_reservoir_sample", pipelineReservoirSample _,
      ReservoirOracle),
    QueryDef("pipeline_tokenizer_coverage", pipelineTokenizerCoverage _,
      TokenizerCoverageOracle),
    QueryDef("pipeline_shard_manifest", pipelineShardManifest _,
      ShardManifestOracle)
  )
}
