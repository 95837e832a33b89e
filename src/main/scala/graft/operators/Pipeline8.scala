package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.CaseFold

/** Pipeline tier 8: corpus GOVERNANCE — the operations a training-data
  * platform runs around the corpus rather than over it: right-to-be-
  * forgotten deletion propagation (which derived artifacts must be
  * rewritten when source documents are deleted) and crawl-frontier
  * selection (which undiscovered hosts the next crawl wave should
  * fetch). Both are exact-integer decisions over one corpus scan (plus,
  * for the frontier, broadcast-sized side frames) — the corpus never
  * shuffles for a join in either lane.
  */
object Pipeline8 {

  // ------------------------------------------------- deletion propagation

  /** Every doc_id divisible by this is a standing delete request — the
    * deterministic stand-in for an external request table.
    */
  val ForgetEvery = 37

  /** Rewrite threshold: a shard is rewritten when its purged-token
    * share reaches 1/[[ForgetEvery]] — the expected share under the
    * request rule — so at the gate SF the per-shard draw genuinely
    * splits the fleet into rewrite and tombstone shards (a constant
    * far above or below the rate would make the decision column
    * degenerate).
    */
  val RewriteDenom = 37

  /** GDPR/right-to-be-forgotten deletion propagation: given delete
    * requests against source documents, account for every derived
    * artifact the requests touch — the training shards
    * (pipeline_shuffle's hash assignment) and the packed chunks
    * (pipeline_chunk's stride arithmetic) — and decide per shard
    * whether the purge justifies a REWRITE (re-materialize the shard
    * without the deleted docs) or a TOMBSTONE (mask rows in place and
    * defer). All exact integers: token counts, chunk counts, and the
    * integer-ratio rewrite rule, so the decision column can never flip
    * on float drift.
    *
    * Scale: the delete flag is a function of each row's own doc_id, so
    * the accounting reads the corpus once with no join; the only
    * shuffle is the 8-row shard aggregate. At 100 TB this is one pass
    * over the corpus manifest, which is exactly what a deletion audit
    * costs.
    */
  def pipelineForget(spark: SparkSession, dir: String): DataFrame =
    withForgetAction(forgetAccounting(Tables.documents(spark, dir)))
      .orderBy(col("shard"))

  /** The per-shard purge accounting over ANY (doc_id, text) frame — all
    * six measures are SUMS, so partials over corpus slices re-aggregate
    * to the one-shot answer (the property [[graft.streaming
    * .StreamingQueries]]'s streaming twin rides). Each row carries its
    * own delete flag, so the frame is read once.
    */
  private[graft] def forgetAccounting(docs: DataFrame): DataFrame = {
    val nTok = size(CaseFold.tokens(col("text"))).cast("long")
    docs
      .select(
        pmod(Tables.saltedHash("shuf:", col("doc_id"), 8),
          lit(Pipeline3.NumShards)).as("shard"),
        nTok.as("n_tok"),
        (pmod(col("doc_id"), lit(ForgetEvery)) === 0).as("del"))
      .withColumn("n_chunks",
        (floor((col("n_tok") - 1) / Pipeline4.ChunkS) + 1).cast("long"))
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("del"), 1L).otherwise(0L)).as("n_docs_purged"),
        sum(col("n_chunks")).as("n_chunks"),
        sum(when(col("del"), col("n_chunks")).otherwise(0L)).as("n_chunks_purged"),
        sum(col("n_tok")).as("n_tokens"),
        sum(when(col("del"), col("n_tok")).otherwise(0L)).as("n_tokens_purged"))
  }

  /** The integer rewrite-vs-tombstone rule, applied AFTER all partials
    * merge (the decision must see whole-shard totals). */
  private[graft] def withForgetAction(acc: DataFrame): DataFrame =
    acc.withColumn("action",
      when(col("n_tokens_purged") * RewriteDenom >= col("n_tokens") &&
        col("n_docs_purged") > 0, lit("rewrite"))
        .otherwise(lit("tombstone")))

  private[graft] val ForgetOracle: String =
    s"""WITH d AS (
      |  SELECT doc_id,
      |    ('0x' || substring(md5('shuf:' || cast(doc_id AS VARCHAR)), 1, 8))::BIGINT
      |      % ${Pipeline3.NumShards} AS shard,
      |    len(string_split(lower(text), ' ')) AS n_tok,
      |    (len(string_split(lower(text), ' ')) - 1) // ${Pipeline4.ChunkS} + 1
      |      AS n_chunks,
      |    doc_id % $ForgetEvery = 0 AS del
      |  FROM documents)
      |SELECT shard,
      |  cast(count(*) AS BIGINT) AS n_docs,
      |  cast(sum(CASE WHEN del THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_purged,
      |  cast(sum(n_chunks) AS BIGINT) AS n_chunks,
      |  cast(sum(CASE WHEN del THEN n_chunks ELSE 0 END) AS BIGINT) AS n_chunks_purged,
      |  cast(sum(n_tok) AS BIGINT) AS n_tokens,
      |  cast(sum(CASE WHEN del THEN n_tok ELSE 0 END) AS BIGINT) AS n_tokens_purged,
      |  CASE WHEN sum(CASE WHEN del THEN n_tok ELSE 0 END) * $RewriteDenom
      |         >= sum(n_tok)
      |       AND sum(CASE WHEN del THEN 1 ELSE 0 END) > 0
      |    THEN 'rewrite' ELSE 'tombstone' END AS action
      |FROM d GROUP BY shard ORDER BY shard""".stripMargin

  // --------------------------------------------------- crawl frontier

  /** Crawled host space: pages live on host0..host{N-1}; anchor targets
    * span 2N hosts, so half the link space points at UNDISCOVERED
    * hosts — the frontier the selector must rank.
    */
  val CrawledHosts = 30

  /** Next-wave budget. */
  val FrontierK = 16

  /** Crawl-frontier selection — the step between pipeline_link_graph
    * (host-graph construction from crawled pages) and the next fetch
    * wave: extract anchors from the page markup (relative nav links
    * must NOT count, the link-graph discipline), aggregate in-link
    * evidence per target host, drop hosts we already crawl (anti-join
    * against the observed source-host set — NOT a formula shortcut, so
    * the plan is the one a real frontier needs), and keep the
    * top-[[FrontierK]] by (distinct linking hosts, total links) — the
    * standard spam-resistant frontier score: many independent hosts
    * vouching beats one host linking many times.
    *
    * Scale: the host universe is orders of magnitude smaller than the
    * page corpus, so the crawled-host set broadcasts; the page scan
    * shuffles once for the dst-host aggregate; the final cut is a
    * TakeOrdered over host-level rows. At 100 TB pages the shuffled
    * frame is host-granular — tiny.
    */
  def pipelineCrawlFrontier(spark: SparkSession, dir: String): DataFrame = {
    val k = (col("doc_id") % 4 + 2).cast("int")
    val links = transform(sequence(lit(0), k - 1), j =>
      concat(lit("<a href=\"https://host"),
        ((col("doc_id") * 7 + j * 13) % (2 * CrawledHosts)).cast("string"),
        lit(".example.com/p"), j.cast("string"),
        lit("\">ref</a>")))
    val html = concat(
      lit("<html><body>"),
      lit("<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a></nav>"),
      lit("<p>"), col("text"), lit("</p><div class=\"refs\">"),
      array_join(links, " "),
      lit("</div></body></html>"))
    val edges = Tables.documents(spark, dir)
      .select(col("doc_id"), html.as("html"))
      .select(col("doc_id"),
        concat(lit("host"), (col("doc_id") % CrawledHosts).cast("string"))
          .as("src_host"),
        explode(regexp_extract_all(col("html"),
          lit("href=\"https://(host[0-9]+)\\.example\\.com[^\"]*\""), lit(1)))
          .as("dst_host"))
    val crawled = edges.select(col("src_host").as("host")).distinct()
    edges
      .groupBy(col("dst_host"))
      .agg(count(lit(1)).as("n_links"),
        countDistinct(col("src_host")).as("n_src_hosts"),
        countDistinct(col("doc_id")).as("n_docs"))
      .join(broadcast(crawled), col("dst_host") === col("host"), "left_anti")
      .orderBy(col("n_src_hosts").desc, col("n_links").desc, col("dst_host"))
      .limit(FrontierK)
      .select(col("dst_host").as("host"), col("n_links"),
        col("n_src_hosts"), col("n_docs"))
  }

  /** The oracle replays the anchor-synthesis formulas (the link-graph
    * discipline: Spark earns the edges only by extracting them back
    * out of the markup) and states the frontier rule — NOT EXISTS
    * against the observed source hosts, then the two-key ranked cut.
    */
  private val FrontierOracle: String =
    s"""WITH links AS (
      |  SELECT doc_id,
      |    'host' || CAST(doc_id % $CrawledHosts AS VARCHAR) AS src_host,
      |    'host' || CAST((doc_id * 7 + j.j * 13) % ${2 * CrawledHosts} AS VARCHAR)
      |      AS dst_host
      |  FROM documents,
      |    LATERAL unnest(generate_series(0, 1 + doc_id % 4)) AS j(j)),
      |agg AS (
      |  SELECT dst_host,
      |    CAST(count(*) AS BIGINT) AS n_links,
      |    CAST(count(DISTINCT src_host) AS BIGINT) AS n_src_hosts,
      |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      |  FROM links GROUP BY 1)
      |SELECT dst_host AS host, n_links, n_src_hosts, n_docs
      |FROM agg a
      |WHERE NOT EXISTS (SELECT 1 FROM links l WHERE l.src_host = a.dst_host)
      |ORDER BY n_src_hosts DESC, n_links DESC, host LIMIT $FrontierK""".stripMargin

  val registry: Seq[QueryDef] = Seq(
    QueryDef("pipeline_forget", pipelineForget _, ForgetOracle),
    QueryDef("pipeline_crawl_frontier", pipelineCrawlFrontier _, FrontierOracle))
}
