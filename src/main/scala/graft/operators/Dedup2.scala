package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.CaseFold

/** Round-10 dedup additions: the two corpus-hygiene tiers a web-scale
  * training pipeline runs BEFORE content-level dedup —
  *
  *   - URL canonicalization dedup (`dedup_url`): collapse crawl records
  *     whose URLs differ only by RFC 3986 §6 normalization noise
  *     (scheme, host case, default port, `www.`, trailing slash,
  *     fragment) plus tracking parameters (`utm_*`, `fbclid`, `gclid`).
  *     Pure string expressions — one narrow canonicalization pass, one
  *     hash aggregate on the canonical key. At 100 TB this is the
  *     cheapest tier by far (no shingling, no pairs) and removes the
  *     bulk of recrawl duplicates before any content hashing runs.
  *   - cross-document line dedup (`pipeline_line_dedup`): the
  *     paragraph-level dedup of CCNet (Wenzek et al., LREC 2020) —
  *     segment every doc into fixed 12-token lines, drop every
  *     occurrence of a line that appears in ≥2 DISTINCT docs
  *     (boilerplate/navigation chrome), reassemble the survivors in
  *     document order. Work is explode → one line-keyed aggregate
  *     (partial+final, shuffle carries distinct lines) → an anti-join
  *     against the hot-line set (tiny by construction — boilerplate
  *     cardinality, not corpus cardinality, so AQE broadcasts it) →
  *     one doc-keyed reassembly shuffle. Never all-pairs; state is
  *     bounded by distinct lines, the same inverted-index discipline as
  *     dedup_substring.
  *
  * The documents fixture has no URL column, so `dedup_url` synthesizes
  * a deterministic raw URL per doc (4 decoration variants per canonical
  * target: upper-cased host + trailing slash, `www.` + utm params,
  * `:443` + fragment, `www.` + `:80` + slash + fbclid) — both engines
  * build the identical string, so the DuckDB oracle replays the
  * canonicalization END-TO-END rather than trusting the Spark side's
  * parse. Line identity for `pipeline_line_dedup` is the exact joined
  * token string (the corpus is already lowercase; a production run
  * would md5 the normalized line — same plan shape).
  */
object Dedup2 {

  /** Tokens per line for the CCNet-style segmentation. Aligned fixed
    * windows (not sliding): CCNet dedups PARAGRAPHS, and the fixture's
    * flat token stream has no paragraph marks, so position-aligned
    * 12-token groups stand in for them deterministically.
    */
  private val LineTokens = 12

  /** A line occurring in at least this many distinct docs is dropped
    * everywhere (CCNet drops all copies of a duplicated paragraph).
    */
  private val LineMinDf = 2

  // ---------------------------------------------------------------- URL

  /** The deterministic raw-URL fixture: canonical target = group
    * g = doc_id div 4 (host from g mod 37, path from g), decoration =
    * doc_id mod 4, so every group carries all four variants and
    * collapses to one canonical URL iff the normalization handles all
    * of: scheme strip, host case, `www.`, default ports 80/443,
    * trailing slash, fragment, and tracking-param removal.
    */
  private def rawUrl(): Column = {
    val g = expr("doc_id div 4")
    val gs = (g % 37).cast("string")
    val path = concat(lit("/articles/item-"), g.cast("string"))
    val id = col("doc_id").cast("string")
    when(col("doc_id") % 4 === 0,
      concat(lit("HTTP://SITE"), gs, lit(".EXAMPLE.COM"), path, lit("/")))
      .when(col("doc_id") % 4 === 1,
        concat(lit("https://www.site"), gs, lit(".example.com"), path,
          lit("?utm_source=feed&utm_campaign=c"), id))
      .when(col("doc_id") % 4 === 2,
        concat(lit("https://site"), gs, lit(".example.com:443"), path,
          lit("#sec-"), id))
      .otherwise(
        concat(lit("http://www.site"), gs, lit(".example.com:80"), path,
          lit("/?fbclid=f"), id, lit("&utm_medium=email")))
  }

  /** RFC 3986 §6-style canonical form of `url`, scheme-insensitive:
    * lowercase host, strip `www.` and default ports, strip fragment and
    * trailing slashes, drop tracking params, sort the survivors.
    * Everything is builtin string/array expressions — stays inside
    * whole-stage codegen, no UDF.
    */
  private[graft] def canonicalUrl(url: Column): Column = {
    val noScheme = regexp_replace(url, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val noFrag = regexp_replace(noScheme, "#.*$", "")
    val loc = regexp_replace(noFrag, "\\?.*$", "")
    val query = when(noFrag.contains("?"),
      regexp_extract(noFrag, "\\?(.*)$", 1)).otherwise(lit(""))
    val hostPort = regexp_extract(loc, "^[^/]*", 0)
    val rawPath = loc.substr(length(hostPort) + lit(1), length(loc))
    val host = regexp_replace(
      regexp_replace(CaseFold.lower(hostPort), ":(80|443)$", ""), "^www\\.", "")
    val path = regexp_replace(rawPath, "/+$", "")
    val params = array_sort(filter(split(query, "&", -1),
      p => p =!= "" && !p.rlike("^(utm_[a-z]+|fbclid|gclid)=")))
    val qs = array_join(params, "&")
    concat(host, path, when(qs =!= "", concat(lit("?"), qs)).otherwise(lit("")))
  }

  /** URL-canonicalization dedup: one canonical group per RFC-normalized
    * URL; survivor = min doc_id, with duplicate and raw-variant counts.
    */
  def dedupUrl(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), rawUrl().as("raw_url"))
      .withColumn("canonical_url", canonicalUrl(col("raw_url")))
      .groupBy(col("canonical_url"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"),
        countDistinct(col("raw_url")).as("n_raw"))
      .orderBy(col("keep_id"))

  private val UrlOracle: String =
    """WITH raw AS (
      |  SELECT doc_id,
      |    CASE doc_id % 4
      |      WHEN 0 THEN 'HTTP://SITE' || (doc_id // 4 % 37)
      |        || '.EXAMPLE.COM/articles/item-' || (doc_id // 4) || '/'
      |      WHEN 1 THEN 'https://www.site' || (doc_id // 4 % 37)
      |        || '.example.com/articles/item-' || (doc_id // 4)
      |        || '?utm_source=feed&utm_campaign=c' || doc_id
      |      WHEN 2 THEN 'https://site' || (doc_id // 4 % 37)
      |        || '.example.com:443/articles/item-' || (doc_id // 4)
      |        || '#sec-' || doc_id
      |      ELSE 'http://www.site' || (doc_id // 4 % 37)
      |        || '.example.com:80/articles/item-' || (doc_id // 4)
      |        || '/?fbclid=f' || doc_id || '&utm_medium=email'
      |    END AS raw_url
      |  FROM documents),
      |parts AS (
      |  SELECT doc_id, raw_url,
      |    regexp_replace(regexp_replace(
      |      regexp_replace(raw_url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
      |      '#.*$', ''), '\?.*$', '') AS loc,
      |    CASE WHEN contains(regexp_replace(regexp_replace(raw_url,
      |        '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '#.*$', ''), '?')
      |      THEN regexp_extract(regexp_replace(regexp_replace(raw_url,
      |        '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '#.*$', ''), '\?(.*)$', 1)
      |      ELSE '' END AS query
      |  FROM raw),
      |canon AS (
      |  SELECT doc_id, raw_url,
      |    regexp_replace(regexp_replace(
      |        lower(regexp_extract(loc, '^[^/]*')), ':(80|443)$', ''),
      |      '^www\.', '')
      |    || regexp_replace(substr(loc,
      |        length(regexp_extract(loc, '^[^/]*')) + 1), '/+$', '')
      |    || CASE WHEN array_to_string(list_sort(list_filter(
      |          string_split(query, '&'),
      |          p -> p <> '' AND NOT regexp_matches(p,
      |            '^(utm_[a-z]+|fbclid|gclid)='))), '&') <> ''
      |        THEN '?' || array_to_string(list_sort(list_filter(
      |          string_split(query, '&'),
      |          p -> p <> '' AND NOT regexp_matches(p,
      |            '^(utm_[a-z]+|fbclid|gclid)='))), '&')
      |        ELSE '' END AS canonical_url
      |  FROM parts)
      |SELECT canonical_url, min(doc_id) AS keep_id, count(*) AS n_dups,
      |  count(DISTINCT raw_url) AS n_raw
      |FROM canon GROUP BY canonical_url ORDER BY keep_id""".stripMargin

  // ------------------------------------------------------------ domains

  /** Documents kept per domain (crawl-curation cap). */
  private val DomainCap = 3

  /** Per-domain document cap: the crawl-curation step between URL
    * dedup and content dedup — no single site may contribute more than
    * [[DomainCap]] documents, and the survivors are the domain's
    * best-quality ones (quality = text length here; any scalar score
    * slots in). Deterministic priority: quality DESC, doc_id ASC.
    *
    * Scale shape: this is exactly the top-k-per-group pattern, and the
    * `row_number ≤ k` filter compiles to a WindowGroupLimit
    * (plan-asserted) — every map task keeps at most k rows per domain
    * BEFORE the domain-keyed shuffle, so a hot domain with 10⁸ crawled
    * pages ships k rows per input partition, not 10⁸, into the window
    * stage. One hash shuffle on the domain key end-to-end.
    */
  def pipelineDomainCap(spark: SparkSession, dir: String): DataFrame = {
    val domain = regexp_extract(canonicalUrl(rawUrl()), "^[^/?]*", 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("domain"))
      .orderBy(col("quality").desc, col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), domain.as("domain"),
        length(col("text")).cast("long").as("quality"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= DomainCap)
      .select(col("domain"), col("doc_id"), col("rn"), col("quality"))
      .orderBy(col("domain"), col("rn"))
  }

  private val DomainCapOracle: String =
    s"""WITH raw AS (
      |  SELECT doc_id,
      |    CASE doc_id % 4
      |      WHEN 0 THEN 'HTTP://SITE' || (doc_id // 4 % 37)
      |        || '.EXAMPLE.COM/articles/item-' || (doc_id // 4) || '/'
      |      WHEN 1 THEN 'https://www.site' || (doc_id // 4 % 37)
      |        || '.example.com/articles/item-' || (doc_id // 4)
      |        || '?utm_source=feed&utm_campaign=c' || doc_id
      |      WHEN 2 THEN 'https://site' || (doc_id // 4 % 37)
      |        || '.example.com:443/articles/item-' || (doc_id // 4)
      |        || '#sec-' || doc_id
      |      ELSE 'http://www.site' || (doc_id // 4 % 37)
      |        || '.example.com:80/articles/item-' || (doc_id // 4)
      |        || '/?fbclid=f' || doc_id || '&utm_medium=email'
      |    END AS raw_url
      |  FROM documents),
      |host AS (
      |  SELECT doc_id,
      |    regexp_replace(regexp_replace(
      |        lower(regexp_extract(regexp_replace(regexp_replace(raw_url,
      |          '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '#.*$$', ''),
      |          '^[^/?]*')), ':(80|443)$$', ''),
      |      '^www\\.', '') AS domain
      |  FROM raw),
      |q AS (
      |  SELECT h.doc_id, h.domain, cast(length(d.text) AS BIGINT) AS quality
      |  FROM host h JOIN documents d USING (doc_id)),
      |r AS (
      |  SELECT domain, doc_id, quality,
      |    row_number() OVER (PARTITION BY domain
      |      ORDER BY quality DESC, doc_id) AS rn
      |  FROM q)
      |SELECT domain, doc_id, rn, quality FROM r
      |WHERE rn <= $DomainCap ORDER BY domain, rn""".stripMargin

  // -------------------------------------------------------------- lines

  /** One row per (doc, aligned 12-token line). */
  private def segmented(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", split(col("text"), " ", -1))
      .withColumn("n_lines",
        expr(s"(size(toks) + ${LineTokens - 1}) div $LineTokens"))
      .select(col("doc_id"),
        posexplode(when(col("n_lines") > 0,
          expr(s"transform(sequence(0, cast(n_lines AS INT) - 1), " +
            s"g -> array_join(slice(toks, g * $LineTokens + 1, " +
            s"$LineTokens), ' '))"))
          .otherwise(array().cast("array<string>")))
          .as(Seq("g", "line")))

  /** CCNet-style cross-document line dedup: drop every occurrence of a
    * line shared by ≥ [[LineMinDf]] distinct docs, reassemble the rest
    * in document order. Emits every doc (empty new_text when all lines
    * were boilerplate) with kept/dropped accounting.
    *
    * Single-scan form: the exploded line stream is checkpointed once
    * (it feeds the hot-line aggregate AND the flagging join — the
    * dedup-family discipline, see dedupPrefixJaccard), hot lines come
    * back as a broadcast flag join (boilerplate cardinality, not corpus
    * cardinality), and totals + kept text fold in ONE doc-keyed
    * aggregate — collect_list skips the nulls the flag turns hot lines
    * into, so no separate totals pass and no post-aggregate join.
    */
  def pipelineLineDedup(spark: SparkSession, dir: String): DataFrame = {
    val seg = segmented(Tables.documents(spark, dir)).localCheckpoint()
    val hot = seg.groupBy(col("line"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= LineMinDf)
      .select(col("line"), lit(true).as("hot"))
    seg.join(hot, Seq("line"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("hot").isNotNull, 1L).otherwise(0L)).as("n_dropped"),
        array_join(transform(
          array_sort(collect_list(
            when(col("hot").isNull, struct(col("g"), col("line"))))),
          s => s.getField("line")), " ").as("new_text"))
      .select(col("doc_id"), col("n_lines"), col("n_dropped"),
        col("new_text"))
      .orderBy(col("doc_id"))
  }

  private val LineDedupOracle: String =
    s"""WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |seg AS (
      |  SELECT doc_id, g, array_to_string(list_slice(toks,
      |    g * $LineTokens + 1, g * $LineTokens + $LineTokens), ' ') AS line
      |  FROM tok, unnest(range((len(toks) + ${LineTokens - 1})
      |    // $LineTokens)) AS t(g)),
      |hot AS (
      |  SELECT line FROM seg GROUP BY line
      |  HAVING count(DISTINCT doc_id) >= $LineMinDf),
      |kept AS (
      |  SELECT s.doc_id, s.g, s.line FROM seg s
      |  WHERE NOT EXISTS (SELECT 1 FROM hot h WHERE h.line = s.line)),
      |tot AS (SELECT doc_id, count(*) AS n_lines FROM seg GROUP BY doc_id),
      |re AS (
      |  SELECT doc_id, count(*) AS n_kept,
      |    string_agg(line, ' ' ORDER BY g) AS new_text
      |  FROM kept GROUP BY doc_id)
      |SELECT t.doc_id, t.n_lines,
      |  t.n_lines - coalesce(r.n_kept, 0) AS n_dropped,
      |  coalesce(r.new_text, '') AS new_text
      |FROM tot t LEFT JOIN re r USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin

  // ---------------------------------------------- fuzzy decontamination

  /** Verified-Jaccard floor above which a corpus doc counts as
    * contaminated by an eval doc (the LSH tier's verification floor —
    * this is a REPORT of overlap strength, not a drop decision, so it
    * uses the permissive gate and leaves the cut to the consumer).
    */
  private val FuzzyContaminationT = 0.2

  /** The fixture's "paraphrased eval set": every 50th doc, with the
    * first and last 5 tokens trimmed — a deterministic perturbation
    * that defeats EXACT matching (pipeline_contamination's tier: the
    * trimmed boundaries change every edge shingle and the doc hash)
    * while keeping shingle-Jaccard high, which is precisely the
    * leakage mode this tier exists to catch. Both engines rebuild the
    * identical eval text, so the oracle replays eval construction
    * end-to-end. Guarded for ≤10-token docs (empty eval text → no
    * shingles → drops out of the band stream).
    */
  private def perturbedEval(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id"),
        array_join(slice(split(col("text"), " ", -1), lit(6),
          greatest(size(split(col("text"), " ", -1)) - 10, lit(0))), " ")
          .as("text"))

  /** Fuzzy eval-set decontamination: the NEAR-DUP complement of
    * `pipeline_contamination` (exact shingle overlap). A doc that
    * paraphrases or lightly perturbs an eval item shares few exact
    * edge shingles but still leaks the answer — the standard recipe
    * is MinHash-LSH of corpus vs eval set, then exact-Jaccard
    * verification of the collisions. Output: per contaminated corpus
    * doc, how many eval items it leaks, the strongest overlap, and the
    * smallest matching eval id.
    *
    * Shape at 100 TB: the corpus side is ONE banded-minhash scan
    * (checkpointed — it feeds candidate generation only once but the
    * lineage guard is the dedup-family discipline); the eval side is
    * an evaluation BENCHMARK — thousands of items, not billions — so
    * its band table broadcasts and the corpus stream never shuffles
    * for candidate generation (scan → 8-band explode →
    * broadcast-hash-join). Only matched candidates (bounded by eval
    * size × collisions) reach the distinct + verify + per-doc
    * aggregate shuffles, and the eval shingle table broadcasts into
    * the verify join. No bucket cap is needed: candidate fan-out per
    * corpus doc is bounded by the broadcast eval band table, not by
    * corpus bucket sizes — a boilerplate band produces candidates only
    * if the EVAL set itself contains that boilerplate.
    *
    * Fully oracled: reuses the replayable FNV-1a64 minhash CTE stack
    * of dedup_minhash_lsh for the corpus side, plus an `ev_`-prefixed
    * replay of the same stack over the perturbed eval texts, with the
    * self-join swapped for the corpus×eval band join.
    */
  def pipelineContaminationFuzzy(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val evalDocs = perturbedEval(docs)
    val banded = Dedup.bandedMinhash(docs).localCheckpoint()
    val evalBands = Dedup.bandedMinhash(evalDocs)
      .select(col("doc_id").as("eval_id"), col("band_idx"), col("band_hash"))
    val cand = banded
      .join(broadcast(evalBands), Seq("band_idx", "band_hash"))
      .select(col("doc_id"), col("eval_id")).distinct()
    val shC = docs
      .join(cand.select(col("doc_id")).distinct(), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), Dedup.shingles(col("text")).as("sh_c"))
    val shE = evalDocs
      .join(cand.select(col("eval_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("eval_id"),
        Dedup.shingles(col("text")).as("sh_e"))
    cand
      .join(shC, "doc_id")
      .join(broadcast(shE), "eval_id")
      .withColumn("jac",
        size(array_intersect(col("sh_c"), col("sh_e"))).cast("double") /
          size(array_union(col("sh_c"), col("sh_e"))).cast("double"))
      .filter(col("jac") >= FuzzyContaminationT)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_eval_hits"),
        round(max(col("jac")), 4).as("max_jaccard"),
        min(col("eval_id")).as("first_eval_id"))
      .orderBy(col("doc_id"))
  }

  private val FuzzyContaminationOracle: String = {
    val abRows = (0 until graft.functions.MinHashUtil.NumHashes)
      .map(i => s"(${i}, ${graft.functions.MinHashUtil.A(i)}, " +
        s"${graft.functions.MinHashUtil.B(i)})").mkString(", ")
    s"""WITH t AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      |ev_t AS (
      |  SELECT doc_id AS eval_id, list_slice(t, 6, len(t) - 5) AS t
      |  FROM t WHERE doc_id % 50 = 0),
      |sh AS (
      |  SELECT doc_id, list_distinct(
      |    list_transform(generate_series(1, len(t) - 2),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
      |  FROM t),
      |ev_sh AS (
      |  SELECT eval_id, list_distinct(
      |    list_transform(generate_series(1, len(t) - 2),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
      |  FROM ev_t),
      |shx AS (SELECT doc_id, unnest(g) AS s FROM sh WHERE len(g) > 0),
      |ev_shx AS (SELECT eval_id, unnest(g) AS s FROM ev_sh WHERE len(g) > 0),
      |fnv AS (
      |  SELECT doc_id,
      |    CAST(list_reduce(
      |      list_prepend(CAST(14695981039346656037 AS UBIGINT),
      |        list_transform(range(1, octet_length(encode(s)) + 1),
      |          i -> CAST('0x' || substring(hex(encode(s)), 2*i-1, 2)
      |                    AS UBIGINT))),
      |      (h, b) -> CAST((CAST(xor(h, b) AS HUGEINT) * 1099511628211)
      |                     % 18446744073709551616 AS UBIGINT))
      |      & 4294967295 AS BIGINT) AS x
      |  FROM shx),
      |ev_fnv AS (
      |  SELECT eval_id,
      |    CAST(list_reduce(
      |      list_prepend(CAST(14695981039346656037 AS UBIGINT),
      |        list_transform(range(1, octet_length(encode(s)) + 1),
      |          i -> CAST('0x' || substring(hex(encode(s)), 2*i-1, 2)
      |                    AS UBIGINT))),
      |      (h, b) -> CAST((CAST(xor(h, b) AS HUGEINT) * 1099511628211)
      |                     % 18446744073709551616 AS UBIGINT))
      |      & 4294967295 AS BIGINT) AS x
      |  FROM ev_shx),
      |ab(i, av, bv) AS (VALUES $abRows),
      |sig AS (
      |  SELECT doc_id, ab.i, min((ab.av * fnv.x + ab.bv)
      |    % ${graft.functions.MinHashUtil.P}) AS m
      |  FROM fnv, ab GROUP BY doc_id, ab.i),
      |ev_sig AS (
      |  SELECT eval_id, ab.i, min((ab.av * ev_fnv.x + ab.bv)
      |    % ${graft.functions.MinHashUtil.P}) AS m
      |  FROM ev_fnv, ab GROUP BY eval_id, ab.i),
      |banded AS (
      |  SELECT doc_id, i // 4 AS band_idx,
      |    string_agg(CAST(m AS VARCHAR), ':' ORDER BY i) AS band_hash
      |  FROM sig GROUP BY doc_id, i // 4),
      |ev_banded AS (
      |  SELECT eval_id, i // 4 AS band_idx,
      |    string_agg(CAST(m AS VARCHAR), ':' ORDER BY i) AS band_hash
      |  FROM ev_sig GROUP BY eval_id, i // 4),
      |xcand AS (
      |  SELECT DISTINCT c.doc_id, e.eval_id
      |  FROM banded c JOIN ev_banded e
      |    ON c.band_idx = e.band_idx AND c.band_hash = e.band_hash),
      |ver AS (
      |  SELECT x.doc_id, x.eval_id,
      |    cast(len(list_intersect(a.g, b.g)) AS DOUBLE)
      |      / len(list_distinct(list_concat(a.g, b.g))) AS jac
      |  FROM xcand x JOIN sh a ON a.doc_id = x.doc_id
      |  JOIN ev_sh b ON b.eval_id = x.eval_id
      |  WHERE cast(len(list_intersect(a.g, b.g)) AS DOUBLE)
      |      / len(list_distinct(list_concat(a.g, b.g)))
      |      >= $FuzzyContaminationT)
      |SELECT doc_id, count(*) AS n_eval_hits,
      |  round(max(jac), 4) AS max_jaccard,
      |  min(eval_id) AS first_eval_id
      |FROM ver GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  val registry: Seq[QueryDef] = Seq(
    QueryDef("dedup_url", dedupUrl _, UrlOracle),
    QueryDef("pipeline_line_dedup", pipelineLineDedup _, LineDedupOracle),
    QueryDef("pipeline_contamination_fuzzy", pipelineContaminationFuzzy _,
      FuzzyContaminationOracle),
    QueryDef("pipeline_domain_cap", pipelineDomainCap _, DomainCapOracle))
}
