package graft.operators

import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.WarcCodec

/** Pipeline tier 9: web-archive INGESTION — the step BEFORE every other
  * crawl-pipeline lane. A crawl-derived corpus arrives as `.warc.gz`
  * shards (the Common Crawl layout: multi-member gzip, ONE member per
  * WARC record, so shards are splittable at member boundaries without
  * a central index). This tier decodes that stack end-to-end with the
  * repo's own codecs: gzip member walk → raw DEFLATE inflate through
  * the JDK's `Inflater` ([[graft.functions.Bytes.inflate]]) → CRC-32/
  * ISIZE trailer verification → WARC/1.0 record parse → HTTP response
  * parse → the
  * SAME main-text extraction chain `text_html_extract` runs
  * ([[TextAnalysis4.mainTextOf]]), so ingestion and extraction provably
  * compose.
  *
  * Fixture: each document's page (the `text_html_extract` HTML wrapper)
  * is wrapped in an HTTP/1.1 response, a WARC response record, and a
  * gzip member compressed by the JVM's own Deflater, as the PNG
  * fixture is. Records are grouped into [[WarcShards]] shard archives (the
  * stand-in for reading real `.warc.gz` objects off storage).
  *
  * Oracle: replays the synthesis formulas — the HTML wrap, the HTTP
  * head's own string arithmetic (Content-Length digits included), the
  * URI/record-id formulas, and the per-shard member ordering — and
  * never touches gzip, deflate, or byte framing: Spark earns every
  * value by walking real compressed archives.
  *
  * Scale: decode is embarrassingly parallel per shard (narrow
  * mapPartitions, no state); the one exchange is the fixture's
  * shard-grouping shuffle, which at production is the storage layout
  * rather than a query step. At 100 TB the unit of parallelism is the
  * archive shard — exactly how Common Crawl is consumed — and a
  * corrupt member quarantines its shard loudly instead of silently
  * truncating (member boundaries are only discoverable by inflating,
  * so bytes past a corruption are unreachable by construction).
  */
object Pipeline9 {

  /** Archive shards the fixture packs records into. */
  val WarcShards = 24

  /** Deterministic WARC-Date (the capture-time field). */
  val WarcDate = "2026-01-01T00:00:00Z"

  /** Target-URI host space — [[Pipeline8.CrawledHosts]], tying the
    * ingested pages to the same host universe the link-graph and
    * frontier lanes rank.
    */
  private def uriOf(docId: Long): String =
    s"https://host${docId % Pipeline8.CrawledHosts}.example.com/doc/$docId"

  /** One WARC/1.0 response record: WARC named fields, then the
    * HTTP/1.1 response whose body is the page markup. Both
    * Content-Length fields count BYTES (the fixture text is ASCII, so
    * the oracle's character arithmetic replays them exactly).
    */
  private[graft] def warcRecordBytes(docId: Long,
      html: String): Array[Byte] = {
    val htmlB = html.getBytes(UTF_8)
    val httpHead = ("HTTP/1.1 200 OK\r\n" +
      "Content-Type: text/html; charset=utf-8\r\n" +
      s"Content-Length: ${htmlB.length}\r\n\r\n").getBytes(US_ASCII)
    val httpLen = httpHead.length + htmlB.length
    val warcHead = ("WARC/1.0\r\n" +
      "WARC-Type: response\r\n" +
      s"WARC-Record-ID: <urn:uuid:$docId>\r\n" +
      s"WARC-Date: $WarcDate\r\n" +
      s"WARC-Target-URI: ${uriOf(docId)}\r\n" +
      s"Content-Length: $httpLen\r\n\r\n").getBytes(US_ASCII)
    val out = new Array[Byte](warcHead.length + httpLen + 4)
    System.arraycopy(warcHead, 0, out, 0, warcHead.length)
    System.arraycopy(httpHead, 0, out, warcHead.length, httpHead.length)
    System.arraycopy(htmlB, 0, out, warcHead.length + httpHead.length,
      htmlB.length)
    out(out.length - 4) = '\r'
    out(out.length - 3) = '\n'
    out(out.length - 2) = '\r'
    out(out.length - 1) = '\n'
    out
  }

  /** Fixture stage: (shard_id, multi-member `.warc.gz` payload). */
  private[operators] def warcShards(spark: SparkSession,
      dir: String): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextAnalysis4.htmlOf(col("doc_id"), col("text")).as("html"))
      .groupBy(pmod(col("doc_id"), lit(WarcShards.toLong)).as("shard_id"))
      .agg(sort_array(collect_list(
        struct(col("doc_id").as("_1"), col("html").as("_2")))).as("recs"))
      .as[(Long, Seq[(Long, String)])]
      .map { case (sid, recs) =>
        (sid, WarcCodec.gzipWrap(
          recs.map { case (id, h) => warcRecordBytes(id, h) }))
      }
  }

  /** Decoded rows for ONE archive — the codec walk shared verbatim by
    * the batch lane and the streaming twin ([[graft.streaming
    * .StreamingQueries]]). A malformed member/record emits nothing —
    * the oracle's row-count comparison is the loud canary (the
    * registered fixtures are all-valid; quarantine classes are
    * spec-pinned at the codec level in WarcCodecSpec).
    */
  private[graft] def decodeArchive(sid: Long, payload: Array[Byte])
      : Iterator[(Long, Long, Long, String, String, Long, String, Long,
        String)] =
    WarcCodec.gzipMembers(payload) match {
      case Left(_) => Iterator.empty
      case Right(ms) =>
        ms.iterator.zipWithIndex.flatMap { case (m, i) =>
          WarcCodec.parseWarc(m).toOption.flatMap { r =>
            val idStr = r.recordId
              .stripPrefix("<urn:uuid:").stripSuffix(">")
            idStr.toLongOption.map { id =>
              (sid, i.toLong, id, r.targetUri, r.warcDate,
                r.httpStatus.toLong, r.contentType, r.warcLen.toLong,
                r.html)
            }
          }
        }
    }

  private[graft] val DecodedCols: Seq[String] = Seq("shard_id",
    "member_index", "doc_id", "target_uri", "warc_date", "http_status",
    "content_type", "record_len", "html")

  /** Post-decode page enrichment: title + main-text/byte accounting via
    * the shared extraction chain; the raw html column drops.
    */
  private[graft] def pageFields(rows: DataFrame): DataFrame =
    rows
      .withColumn("title",
        regexp_extract(col("html"), "<title>(.*?)</title>", 1))
      .withColumn("main_len",
        length(TextAnalysis4.mainTextOf(col("html"))).cast("long"))
      .withColumn("html_len", length(col("html")).cast("long"))
      .drop("html")

  /** The ingestion lane: decode the archives back to per-page rows. */
  def pipelineWarcIngest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows = warcShards(spark, dir)
      .mapPartitions(_.flatMap { case (sid, payload) =>
        decodeArchive(sid, payload)
      })
      .toDF(DecodedCols: _*)
    pageFields(rows).orderBy(col("doc_id"))
  }

  /** Replays the synthesis: the HTML wrap (text_html_extract's built
    * CTE), the HTTP head built with the same CRLF string arithmetic
    * (so Content-Length's own digit count participates), the URI and
    * record-id formulas, and member_index as the per-shard doc_id
    * rank. gzip/deflate/WARC framing never appears — Spark earns those
    * by decoding real bytes.
    */
  private[graft] def warcOracle(withLayout: Boolean): String = {
    val layoutCols = if (withLayout)
      s"""shard_id,
      |  cast(row_number() OVER (PARTITION BY shard_id ORDER BY doc_id) - 1
      |    AS BIGINT) AS member_index,
      |  """.stripMargin
    else ""
    s"""WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |built AS (
      |  SELECT doc_id,
      |    '<html><head><title>'
      |    || array_to_string(list_slice(t, 1, 3), ' ')
      |    || '</title><style>body{margin:0;font:14px serif}</style>'
      |    || '<script>var d=' || doc_id
      |    || ';track(d);</script></head><body>'
      |    || '<nav><a href="/">Home</a> <a href="/about">About</a></nav>'
      |    || '<div id="main"><h1>'
      |    || array_to_string(list_slice(t, 1, 3), ' ')
      |    || '</h1><p>'
      |    || array_to_string(list_slice(t, 1, (len(t) + 1) // 2), ' ')
      |    || '</p><p>'
      |    || array_to_string(list_slice(t, (len(t) + 1) // 2 + 1, len(t)), ' ')
      |    || '</p></div><footer>copyright site ' || doc_id
      |    || '</footer></body></html>' AS html
      |  FROM t),
      |rec AS (
      |  SELECT doc_id, html,
      |    cast(doc_id % $WarcShards AS BIGINT) AS shard_id,
      |    'https://host' || cast(doc_id % ${Pipeline8.CrawledHosts}
      |      AS VARCHAR) || '.example.com/doc/' || doc_id AS target_uri,
      |    length(html) AS html_len,
      |    length('HTTP/1.1 200 OK' || chr(13) || chr(10)
      |      || 'Content-Type: text/html; charset=utf-8'
      |      || chr(13) || chr(10)
      |      || 'Content-Length: ' || cast(length(html) AS VARCHAR)
      |      || chr(13) || chr(10) || chr(13) || chr(10))
      |      + length(html) AS record_len
      |  FROM built)
      |SELECT ${layoutCols}doc_id, target_uri,
      |  '$WarcDate' AS warc_date,
      |  cast(200 AS BIGINT) AS http_status,
      |  'text/html; charset=utf-8' AS content_type,
      |  cast(record_len AS BIGINT) AS record_len,
      |  regexp_extract(html, '<title>(.*?)</title>', 1) AS title,
      |  cast(length(trim(regexp_replace(regexp_replace(
      |    regexp_replace(regexp_replace(regexp_replace(html,
      |      '<head>.*?</head>', ' '),
      |      '<nav>.*?</nav>', ' '),
      |      '<footer>.*?</footer>', ' '),
      |    '<[^>]*>', ' ', 'g'), ' +', ' ', 'g'))) AS BIGINT) AS main_len,
      |  cast(length(html) AS BIGINT) AS html_len
      |FROM rec ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------- robots politeness

  /** Hosts with `doc_id % 30 == h` where h % 7 == 6 publish NO
    * robots.txt (the 404 class — default allow-all, zero delay).
    */
  private def hasRobots(h: Int): Boolean = h % 7 != 6

  /** The deterministic robots.txt each host publishes. The decoy
    * `bad-bot` group (Disallow: /) and the comment/blank lines exist so
    * a parser that ignores GROUP STRUCTURE fails loudly: applying the
    * decoy blocks every page on the host.
    */
  private[graft] def robotsTxtOf(h: Int): String =
    if (!hasRobots(h)) ""
    else {
      val d = h % 10
      s"""# robots for host$h
        |User-agent: bad-bot
        |Disallow: /
        |
        |User-agent: *
        |Disallow: /doc/$d
        |Allow: /doc/$d$d
        |Disallow: /admin
        |Crawl-delay: ${h % 5 + 1}
        |""".stripMargin
    }

  /** One parsed rule: allow flag + path prefix. */
  private[graft] final case class RobotsRule(allow: Boolean, prefix: String)

  /** Minimal RFC 9309 parse for the `User-agent: *` group: groups are
    * separated by blank lines and introduced by one or more User-agent
    * lines; only the `*` group's Allow/Disallow/Crawl-delay apply.
    * Comments (`#`) and unknown directives are skipped. Empty-pattern
    * rules are dropped (an empty Disallow means allow-all per the RFC).
    */
  private[graft] def parseRobots(txt: String): (Seq[RobotsRule], Long) = {
    var inStar = false
    var agentRun = false // inside the group-introducing User-agent run
    val rules = Seq.newBuilder[RobotsRule]
    var delay = 0L
    txt.split("\n", -1).foreach { raw =>
      val line = raw.takeWhile(_ != '#').trim
      if (line.isEmpty) { /* blank/comment: ends a User-agent run */
        agentRun = false
      } else {
        val c = line.indexOf(':')
        if (c > 0) {
          // Locale.ROOT — the WarcCodec.parseHeaders discipline
          val key = line.substring(0, c).trim
            .toLowerCase(java.util.Locale.ROOT)
          val v = line.substring(c + 1).trim
          key match {
            case "user-agent" =>
              if (!agentRun) { inStar = false; agentRun = true }
              if (v == "*") inStar = true
            case "disallow" if inStar =>
              agentRun = false
              if (v.nonEmpty) rules += RobotsRule(allow = false, v)
            case "allow" if inStar =>
              agentRun = false
              if (v.nonEmpty) rules += RobotsRule(allow = true, v)
            case "crawl-delay" if inStar =>
              agentRun = false
              delay = v.toLongOption.getOrElse(0L)
            case _ =>
              agentRun = false
          }
        }
      }
    }
    (rules.result(), delay)
  }

  /** RFC 9309 decision: the longest matching rule wins; at equal
    * length the least restrictive (Allow) wins; no match → allowed.
    */
  private[graft] def robotsDecision(path: String,
      rules: Seq[RobotsRule]): (Boolean, String) = {
    val m = rules.filter(r => path.startsWith(r.prefix))
    if (m.isEmpty) (true, "")
    else {
      val best = m.maxBy(r => (r.prefix.length, r.allow))
      (best.allow, best.prefix)
    }
  }

  private val decideUdf = udf {
    (path: String, allows: Seq[Boolean], prefixes: Seq[String]) =>
      robotsDecision(path,
        allows.zip(prefixes).map { case (a, p) => RobotsRule(a, p) })
  }
  private val parseRobotsUdf = udf { (txt: String) =>
    val (rules, delay) = parseRobots(txt)
    (rules.map(_.allow), rules.map(_.prefix), delay)
  }

  /** Crawl-politeness filter — the governance step between frontier
    * selection and the fetch wave: every page URL is checked against
    * its host's PARSED robots.txt under RFC 9309 longest-match
    * semantics (longest matching rule wins; Allow beats Disallow at
    * equal length; absent file → allow-all). The fixture's rule shapes
    * exercise exactly the semantics: `Disallow: /doc/<d>` prefix-blocks
    * every doc id starting with digit d, `Allow: /doc/<d><d>` punches
    * the longer-match hole back through it, a decoy `bad-bot` group
    * must be ignored by group structure, and h%7==6 hosts publish no
    * file at all.
    *
    * Scale: robots files are host-granular — the parsed-rule frame
    * BROADCASTS (30 rows here; a few million hosts in a full crawl is
    * still MB-scale); the page corpus joins it map-side and never
    * shuffles for the decision. The parser runs once per HOST, never
    * per page (the distinct-word discipline, host-shaped).
    */
  def pipelineRobotsFilter(spark: SparkSession, dir: String): DataFrame = {
    val hosts = spark.range(Pipeline8.CrawledHosts.toLong)
      .select(col("id").cast("int").as("h"))
      .select(concat(lit("host"), col("h")).as("host"),
        parseRobotsUdf(robotsTxtCol(col("h"))).as("p"))
      .select(col("host"), col("p._1").as("allows"),
        col("p._2").as("prefixes"), col("p._3").as("crawl_delay"))
    val pages = Tables.documents(spark, dir)
      .select(col("doc_id"),
        concat(lit("host"), (col("doc_id") % Pipeline8.CrawledHosts)
          .cast("string")).as("host"),
        concat(lit("/doc/"), col("doc_id").cast("string")).as("path"))
    pages
      .join(broadcast(hosts), Seq("host"))
      .withColumn("v", decideUdf(col("path"), col("allows"),
        col("prefixes")))
      .select(col("doc_id"), col("host"), col("path"),
        col("v._1").as("allowed"), col("v._2").as("matched_rule"),
        col("crawl_delay"))
      .orderBy(col("doc_id"))
  }

  /** The robots.txt text as a Column (the synthesis the oracle
    * replays); mirrors [[robotsTxtOf]] exactly — spec-pinned equal.
    */
  private def robotsTxtCol(h: Column): Column = {
    val d = h % 10
    when(h % 7 === 6, lit(""))
      .otherwise(concat(
        lit("# robots for host"), h.cast("string"), lit("\n"),
        lit("User-agent: bad-bot\nDisallow: /\n\n"),
        lit("User-agent: *\n"),
        lit("Disallow: /doc/"), d.cast("string"), lit("\n"),
        lit("Allow: /doc/"), d.cast("string"), d.cast("string"), lit("\n"),
        lit("Disallow: /admin\n"),
        lit("Crawl-delay: "), (h % 5 + 1).cast("string"), lit("\n")))
  }

  /** The oracle replays the rule synthesis (the decoy group never
    * enters — it is not part of the `*` group by construction) and
    * states the RFC decision generically: rules as rows, matches by
    * prefix, the winner by (length, allow) descending.
    */
  private val RobotsOracle: String =
    s"""WITH pages AS (
      |  SELECT doc_id,
      |    cast(doc_id % ${Pipeline8.CrawledHosts} AS INT) AS h,
      |    'host' || cast(doc_id % ${Pipeline8.CrawledHosts} AS VARCHAR)
      |      AS host,
      |    '/doc/' || cast(doc_id AS VARCHAR) AS path
      |  FROM documents),
      |hosts AS (SELECT DISTINCT h FROM pages WHERE h % 7 <> 6),
      |rules AS (
      |  SELECT h, false AS allow,
      |    '/doc/' || cast(h % 10 AS VARCHAR) AS prefix FROM hosts
      |  UNION ALL
      |  SELECT h, true, '/doc/' || cast(h % 10 AS VARCHAR)
      |    || cast(h % 10 AS VARCHAR) FROM hosts
      |  UNION ALL
      |  SELECT h, false, '/admin' FROM hosts),
      |matches AS (
      |  SELECT p.doc_id, r.allow, r.prefix,
      |    row_number() OVER (PARTITION BY p.doc_id
      |      ORDER BY length(r.prefix) DESC, r.allow DESC) AS rn
      |  FROM pages p JOIN rules r
      |    ON p.h = r.h AND starts_with(p.path, r.prefix))
      |SELECT p.doc_id, p.host, p.path,
      |  coalesce(m.allow, true) AS allowed,
      |  coalesce(m.prefix, '') AS matched_rule,
      |  cast(CASE WHEN p.h % 7 = 6 THEN 0 ELSE p.h % 5 + 1 END AS BIGINT)
      |    AS crawl_delay
      |FROM pages p LEFT JOIN matches m ON m.doc_id = p.doc_id AND m.rn = 1
      |ORDER BY p.doc_id""".stripMargin

  // --------------------------------------------------------- WebDataset

  /** Tar shards the WebDataset fixture packs samples into. */
  val WdsShards = 16

  /** Per-doc sample entries: `<key>.txt` (the text) and `<key>.json`
    * (metadata) — stored contiguously, the WebDataset contract.
    */
  private[graft] def wdsEntries(docId: Long, text: String,
      lang: String): Seq[(String, Array[Byte])] = {
    val key = f"doc$docId%08d"
    Seq(
      s"$key.txt" -> text.getBytes(UTF_8),
      s"$key.json" ->
        s"""{"id":$docId,"lang":"$lang"}""".getBytes(UTF_8))
  }

  /** Walk a tar archive's entries and reassemble samples from
    * CONTIGUOUS same-key runs (key = name up to the last dot) — the
    * WebDataset read path: no index, no shuffle, one sequential pass.
    * Emits (key, json, txt_len, n_entries) per sample.
    */
  private[graft] def wdsSamples(payload: Array[Byte])
      : Iterator[(String, String, Long, Long)] =
    graft.functions.TarCodec.tarEntries(payload) match {
      case Left(_) => Iterator.empty // corrupt shard quarantines whole
      case Right(entries) =>
        val out = Vector.newBuilder[(String, String, Long, Long)]
        var key = ""
        var json = ""
        var txtLen = 0L
        var n = 0L
        def flush(): Unit = if (n > 0) out += ((key, json, txtLen, n))
        entries.foreach { e =>
          val dot = e.name.lastIndexOf('.')
          val k = if (dot < 0) e.name else e.name.substring(0, dot)
          val ext = if (dot < 0) "" else e.name.substring(dot + 1)
          if (k != key) { flush(); key = k; json = ""; txtLen = 0L; n = 0L }
          n += 1
          ext match {
            case "txt" => txtLen = e.data.length.toLong
            case "json" => json = new String(e.data, UTF_8)
            case _ => ()
          }
        }
        flush()
        out.result().iterator
    }

  /** Training-shard ingestion in the WebDataset layout: samples as
    * contiguous `<key>.<ext>` files inside POSIX tar shards, walked by
    * the hand-written [[graft.functions.TarCodec]] (octal fields and
    * header checksums verified per entry), sample metadata re-parsed
    * from the decoded json via the engine's own json path functions.
    * The oracle replays the key/metadata/length synthesis and never
    * touches tar bytes.
    *
    * Scale: the same posture as the WARC lane — the shard is the unit
    * of parallelism, decode is a narrow sequential pass per shard
    * (WebDataset's whole design premise: no index, contiguity makes
    * one pass sufficient), and the only exchange is the fixture's
    * shard-grouping shuffle, which at production is the storage
    * layout.
    */
  def pipelineWebdataset(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows = Tables.documents(spark, dir)
      .groupBy(pmod(col("doc_id"), lit(WdsShards.toLong)).as("shard_id"))
      .agg(sort_array(collect_list(struct(col("doc_id").as("_1"),
        col("text").as("_2"), col("lang").as("_3")))).as("recs"))
      .as[(Long, Seq[(Long, String, String)])]
      .map { case (sid, recs) =>
        (sid, graft.functions.TarCodec.tarWrap(
          recs.flatMap { case (id, t, l) => wdsEntries(id, t, l) }))
      }
      .mapPartitions(_.flatMap { case (sid, payload) =>
        wdsSamples(payload).map { case (k, j, tl, n) => (sid, k, j, tl, n) }
      })
      .toDF("shard_id", "key", "json", "txt_len", "n_entries")
    rows
      .select(col("shard_id"), col("key"),
        get_json_object(col("json"), "$.id").cast("long").as("doc_id"),
        get_json_object(col("json"), "$.lang").as("lang"),
        col("txt_len"), col("n_entries"))
      .orderBy(col("doc_id"))
  }

  private val WdsOracle: String =
    s"""SELECT cast(doc_id % $WdsShards AS BIGINT) AS shard_id,
      |  'doc' || lpad(cast(doc_id AS VARCHAR), 8, '0') AS key,
      |  doc_id, lang,
      |  cast(length(text) AS BIGINT) AS txt_len,
      |  cast(2 AS BIGINT) AS n_entries
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- ZIP random access

  /** ZIP shards for the sampled-decode lane. */
  val ZipShards = 20

  /** Sampled random-access decode over ZIP shards — the archive
    * family's RANDOM-ACCESS member: the central directory is read
    * first (metadata for ALL entries), then only every 2nd entry is
    * seeked to and decoded; unsampled entries' bytes are never
    * touched (spec-pinned by corrupting an unsampled payload and
    * decoding anyway — the sequential containers, tar and .warc.gz,
    * cannot pass that test by construction). The 100 TB posture for
    * sampled corpus inspection: cost scales with the SAMPLE, not the
    * archive.
    *
    * Content is earned: decoded bytes are CRC-verified and the output
    * pins first/last byte codes of the DECODED text beside its length,
    * all replayable from the documents table.
    */
  def pipelineZipSampled(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .groupBy(pmod(col("doc_id"), lit(ZipShards.toLong)).as("shard_id"))
      .agg(sort_array(collect_list(struct(col("doc_id").as("_1"),
        col("text").as("_2")))).as("recs"))
      .as[(Long, Seq[(Long, String)])]
      .map { case (sid, recs) =>
        (sid, graft.functions.ZipCodec.zipWrap(
          recs.map { case (id, t) =>
            f"doc$id%08d.txt" -> t.getBytes(UTF_8)
          }))
      }
      .mapPartitions(_.flatMap { case (sid, payload) =>
        graft.functions.ZipCodec.centralDirectory(payload) match {
          case Left(_) => Iterator.empty // corrupt directory: whole shard
          case Right(cd) =>
            val n = cd.length.toLong
            cd.iterator.zipWithIndex
              .filter { case (_, i) => i % 2 == 0 } // the sample
              .flatMap { case (e, _) =>
                graft.functions.ZipCodec.readEntry(payload, e)
                  // a zero-length member has no first/last byte to
                  // report — skipped, not crashed (it still counts in
                  // n_entries; the oracle filters length(text) > 0 to
                  // mirror the skip)
                  .toOption.filter(_.nonEmpty).flatMap { data =>
                    e.name.stripPrefix("doc").stripSuffix(".txt")
                      .toLongOption.map { id =>
                        (sid, id, n, data.length.toLong,
                          (data(0) & 0xff).toLong,
                          (data(data.length - 1) & 0xff).toLong)
                      }
                  }
              }
        }
      })
      .toDF("shard_id", "doc_id", "n_entries", "txt_len", "first_code",
        "last_code")
      .orderBy(col("doc_id"))
  }

  private val ZipOracle: String =
    s"""WITH s AS (
      |  SELECT doc_id, text,
      |    doc_id % $ZipShards AS shard_id,
      |    row_number() OVER (PARTITION BY doc_id % $ZipShards
      |      ORDER BY doc_id) - 1 AS rk,
      |    count(*) OVER (PARTITION BY doc_id % $ZipShards) AS n_entries
      |  FROM documents)
      |SELECT cast(shard_id AS BIGINT) AS shard_id, doc_id,
      |  cast(n_entries AS BIGINT) AS n_entries,
      |  cast(length(text) AS BIGINT) AS txt_len,
      |  cast(ascii(substring(text, 1, 1)) AS BIGINT) AS first_code,
      |  cast(ascii(substring(text, length(text), 1)) AS BIGINT)
      |    AS last_code
      |FROM s WHERE rk % 2 = 0 AND length(text) > 0 ORDER BY doc_id""".stripMargin

  val registry: Seq[QueryDef] = Seq(
    QueryDef("pipeline_warc_ingest", pipelineWarcIngest _, warcOracle(true)),
    QueryDef("pipeline_robots_filter", pipelineRobotsFilter _, RobotsOracle),
    QueryDef("pipeline_webdataset", pipelineWebdataset _, WdsOracle),
    QueryDef("pipeline_zip_sampled", pipelineZipSampled _, ZipOracle))
}
