package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Source/sink breadth beyond the reference's local text + CSV
  * (SURVEY §2b row 1): JSON/CSV/ORC round-trips, partitioned layout,
  * and bucketed tables giving shuffle-free co-located joins — the
  * 100 TB co-location story made concrete.
  */
class SourcesSinksSpec extends AnyFunSuite with SparkTestBase {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def cleanup(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))

  test("binaryFile source reads raw payloads with metadata (multimodal ingest path)") {
    assumeReferenceCorpus()
    // the ingestion shape for image/audio/video corpora: opaque bytes +
    // path/length metadata, no decode at scan time
    val df = spark.read.format("binaryFile")
      .load(SparkEntry.ReferenceCorpusDir)
      .select(col("path"), col("length"), col("content"))
    val rows = df.collect()
    assert(rows.length === 13)
    rows.foreach { r =>
      assert(r.getAs[Long]("length") === r.getAs[Array[Byte]]("content").length.toLong)
    }
    assert(rows.map(_.getAs[Long]("length")).sum === 71570L)
  }

  test("parquet schema evolution: mergeSchema unifies epochs, old rows null-extend") {
    // the 100 TB reality: a corpus written over months gains columns;
    // readers must see ONE unified schema without rewriting old epochs
    val base = tmp("schema_evo")
    try {
      val docs = Tables.documents(spark, sf0001)
      docs.select(col("doc_id"), col("text"))
        .write.parquet(s"$base/epoch=1")
      docs.select(col("doc_id"), col("text"), col("lang"))
        .write.parquet(s"$base/epoch=2")
      val merged = spark.read.option("mergeSchema", "true").parquet(base)
      assert(merged.columns.toSet === Set("doc_id", "text", "lang", "epoch"))
      val n = docs.count()
      assert(merged.count() === 2 * n)
      // the pre-evolution epoch null-extends; the new epoch is intact
      assert(merged.filter(col("epoch") === 1 && col("lang").isNull)
        .count() === n)
      assert(merged.filter(col("epoch") === 2 && col("lang").isNotNull)
        .count() === n)
      // partition pruning still reaches the scan through the merged
      // schema: an epoch filter must not read both epochs
      val pruned = merged.filter(col("epoch") === 2)
      val scanned = pruned.queryExecution.executedPlan.collectLeaves()
        .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
            .flatMap(_.files).map(_.getPath.toString)
        }.flatten
      assert(scanned.nonEmpty && scanned.forall(_.contains("epoch=2")))
    } finally cleanup(base)
  }

  test("XML round-trip preserves the star dims") {
    val base = tmp("xml_rt")
    try {
      val nation = Tables.nation(spark, sf001)
      nation.write.option("rootTag", "nations").option("rowTag", "nation")
        .format("xml").save(s"$base/nation")
      // read back under the ORIGINAL schema: inferred XML numerics widen
      // to bigint, and boxed-numeric equality would mask that drift
      val back = spark.read.option("rowTag", "nation")
        .schema(nation.schema)
        .format("xml").load(s"$base/nation")
        .select(nation.columns.map(col): _*)
      assert(back.schema === nation.schema)
      assert(back.orderBy("n_nationkey").collect().toSeq ===
        nation.orderBy("n_nationkey").collect().toSeq)
    } finally cleanup(base)
  }

  test("JSON round-trip preserves documents") {
    val out = tmp("json_rt")
    try {
      val docs = Tables.documents(spark, sf0001)
      docs.write.mode("overwrite").json(out)
      val back = spark.read.json(out)
      assert(back.count() === docs.count())
      val a = docs.select("doc_id", "text").orderBy("doc_id").collect()
      val b = back.select("doc_id", "text").orderBy("doc_id").collect()
      assert(a.toSeq === b.toSeq)
    } finally cleanup(out)
  }

  test("CSV round-trip with header preserves the star dims") {
    val out = tmp("csv_rt")
    try {
      val nation = Tables.nation(spark, sf0001)
      nation.write.mode("overwrite").option("header", "true").csv(out)
      val back = spark.read.option("header", "true")
        .option("inferSchema", "true").csv(out)
      assert(back.orderBy("n_nationkey").collect().map(_.getString(1)).toSeq ===
        nation.orderBy("n_nationkey").collect().map(_.getString(1)).toSeq)
    } finally cleanup(out)
  }

  test("ORC round-trip preserves embeddings (nested array column)") {
    val out = tmp("orc_rt")
    try {
      val emb = Tables.embeddings(spark, sf0001)
      emb.write.mode("overwrite").orc(out)
      val back = spark.read.orc(out)
      assert(back.count() === emb.count())
      val a = emb.filter(col("vec_id") === 7).select("embedding").head().getSeq[Float](0)
      val b = back.filter(col("vec_id") === 7).select("embedding").head().getSeq[Float](0)
      assert(a === b)
    } finally cleanup(out)
  }

  test("JDBC round-trip via embedded Derby") {
    val dbDir = tmp("derby")
    System.setProperty("derby.stream.error.file", s"$dbDir/derby.log")
    val url = s"jdbc:derby:$dbDir/graftdb;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    try {
      val nation = Tables.nation(spark, sf0001)
      nation.write.mode("overwrite").jdbc(url, "NATION_T", props)
      val back = spark.read.jdbc(url, "NATION_T", props)
      assert(back.count() === nation.count())
      assert(back.orderBy("n_nationkey").collect().map(_.getString(1)).toSeq ===
        nation.orderBy("n_nationkey").collect().map(_.getString(1)).toSeq)
      // predicate pushdown reaches the JDBC source
      val plan = back.filter(col("n_regionkey") === 2)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") && plan.contains("EqualTo(n_regionkey,2)"),
        plan.take(400))
    } finally {
      try java.sql.DriverManager.getConnection(s"jdbc:derby:$dbDir/graftdb;shutdown=true")
      catch { case _: java.sql.SQLException => () } // shutdown always "fails"
      cleanup(dbDir)
    }
  }

  test("partitioned parquet layout enables partition pruning") {
    val out = tmp("part_prune")
    try {
      Tables.orders(spark, sf0001)
        .withColumn("status", col("o_orderstatus"))
        .write.mode("overwrite").partitionBy("status").parquet(out)
      val pruned = spark.read.parquet(out).filter(col("status") === "F")
      val plan = pruned.queryExecution.executedPlan.toString
      // partition filter must appear as a PartitionFilters entry, not a data filter
      assert(plan.contains("PartitionFilters: ["), plan.take(500))
      assert(pruned.count() ===
        Tables.orders(spark, sf0001).filter(col("o_orderstatus") === "F").count())
    } finally cleanup(out)
  }

  test("bucketed tables join without a shuffle (co-located join)") {
    // broadcast disabled for this test so the join strategy is decided
    // by bucketing alone
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Tables.orders(spark, sf0001).write.mode("overwrite")
        .bucketBy(4, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("orders_b")
      Tables.lineitem(spark, sf0001).write.mode("overwrite")
        .bucketBy(4, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("lineitem_b")
      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).count()
      val plan = joined.queryExecution.executedPlan.toString
      val exchangesBeforeJoin = "Exchange hashpartitioning".r
        .findAllIn(plan.substring(plan.indexOf("Join"))).length
      assert(exchangesBeforeJoin === 0,
        s"bucketed join should not shuffle either side:\n${plan.take(1200)}")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("range-partitioned, sorted write produces clustered files") {
    val out = tmp("range_layout")
    try {
      Tables.orders(spark, sf0001)
        .repartitionByRange(4, col("o_orderdate"))
        .sortWithinPartitions(col("o_orderdate"))
        .write.mode("overwrite").parquet(out)
      // each file's date range must not overlap any other's — the layout
      // that makes time-range queries prune at the row-group level
      val spans = new java.io.File(out).listFiles()
        .filter(_.getName.endsWith(".parquet")).map { f =>
          val df = spark.read.parquet(f.getPath)
          // written NTZ: compare as epoch micros, not java.sql.Timestamp
          val r = df.agg(min(unix_micros(col("o_orderdate").cast("timestamp"))),
            max(unix_micros(col("o_orderdate").cast("timestamp")))).head()
          (r.getLong(0), r.getLong(1))
        }.sortBy(_._1)
      assert(spans.length >= 2)
      spans.sliding(2).foreach {
        case Array((_, hi), (lo2, _)) => assert(hi <= lo2,
          "file date ranges overlap — range partitioning broken")
        case _ =>
      }
    } finally cleanup(out)
  }

  test("GraftExtensions injects SQL functions at session build time") {
    val prev = spark // force shared-session creation first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      val sim = s2.sql(
        """SELECT cosine_similarity(
          |  array(cast(1.0 AS FLOAT), cast(2.0 AS FLOAT)),
          |  array(cast(1.0 AS FLOAT), cast(2.0 AS FLOAT))) AS s""".stripMargin)
        .head().getDouble(0)
      assert(math.abs(sim - 1.0) < 1e-12)
      val sh = s2.sql("SELECT simhash64(array('a','b')) AS h").head().getLong(0)
      val mh = s2.sql("SELECT minhash_signature(array('a','b')) AS m")
        .head().getSeq[Long](0)
      assert(mh.length === 32)
      assert(sh !== 0L)
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  test("the shared test session has the settings Bench prices (GraftSession)") {
    def conf(k: String) = spark.conf.get(k)
    assert(conf("spark.sql.adaptive.enabled") === "true")
    assert(conf("spark.sql.codegen.cache.maxEntries") === "8192")
    assert(conf("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") ===
      SparkEntry.ObjAggFallbackThreshold)
    assert(conf("spark.sql.session.timeZone") === "UTC")
    assert(conf("spark.sql.shuffle.partitions") === "4")
    assert(spark.sparkContext.master === "local[4]")
    // a graft SQL function resolves: GraftExtensions is installed
    val mh = spark.sql("SELECT minhash_signature(array('a','b')) AS m")
      .head().getSeq[Long](0)
    assert(mh.length === 32)
  }
}
