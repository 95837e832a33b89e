package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Runtime scale behaviors that only show up in executed plans: dynamic
  * partition pruning and AQE skew-join splitting. These are the
  * mechanisms that keep the 100 TB versions of our joins from reading
  * dead partitions or stalling on one hot shuffle partition — worth
  * pinning so a config or plan regression is caught here, not on a
  * cluster.
  */
class ScaleBehaviorSpec extends AnyFunSuite with SparkTestBase {

  private def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("dynamic partition pruning: selective dim filter prunes fact partitions") {
    val base = java.nio.file.Files.createTempDirectory("dpp").toString
    try {
      Tables.events(spark, sf0001)
        .write.partitionBy("event_type").parquet(s"$base/fact")
      // a dim with a selective predicate on the partition-key domain
      val dim = Tables.events(spark, sf0001)
        .select(col("event_type")).distinct()
        .withColumn("category", upper(col("event_type")))
      dim.write.parquet(s"$base/dim")
      withConf(
        "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
        // force DPP to consider the filter worthwhile regardless of size
        "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio" -> "10.0") {
        val fact = spark.read.parquet(s"$base/fact")
        // the predicate must be a comparison — Catalyst's
        // "likely selective" check ignores bare boolean columns
        val dimF = spark.read.parquet(s"$base/dim")
          .filter(col("category") === "PURCHASE")
        val joined = fact.join(dimF, Seq("event_type"))
          .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        val rows = joined.collect()
        assert(rows.length === 1 && rows.head.getString(0) === "purchase")
        val plan = joined.queryExecution.executedPlan.toString
        assert(plan.contains("dynamicpruning"), s"no DPP in plan:\n$plan")
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
  }

  test("bloom filter row pruning: no false negatives, real pruning") {
    // the mechanism behind Spark's runtime bloom-filter join pruning,
    // exercised through the public stat API: build a sketch over the
    // dim keys, broadcast it, prune the fact side before the shuffle
    val dimKeys = Tables.orders(spark, sf0001)
      .filter(col("o_totalprice") > 400000)
      .select(col("o_orderkey"))
    val fact = Tables.lineitem(spark, sf0001)
    val pruned = fact.filter(
      BloomSupport.mightContain(spark, dimKeys, "o_orderkey")(col("l_orderkey")))
    val exact = fact.join(dimKeys, col("l_orderkey") === col("o_orderkey"), "left_semi")
    val prunedKeys = pruned.select("l_orderkey").distinct().collect()
      .map(_.getLong(0)).toSet
    val exactKeys = exact.select("l_orderkey").distinct().collect()
      .map(_.getLong(0)).toSet
    // a bloom filter may admit false positives, NEVER false negatives
    assert(exactKeys.subsetOf(prunedKeys))
    // and it must actually prune at this selectivity
    val total = fact.select("l_orderkey").distinct().count()
    assert(prunedKeys.size < total,
      s"no pruning: ${prunedKeys.size} of $total keys pass")
  }

  test("parquet schema evolution: mergeSchema unions column sets") {
    val base = java.nio.file.Files.createTempDirectory("evolve").toString
    try {
      import spark.implicits._
      Seq((1L, "a")).toDF("id", "v1").write.parquet(s"$base/t/p=1")
      Seq((2L, 3.5)).toDF("id", "v2").write.parquet(s"$base/t/p=2")
      val merged = spark.read.option("mergeSchema", "true").parquet(s"$base/t")
      assert(merged.columns.toSet === Set("id", "v1", "v2", "p"))
      val rows = merged.orderBy("id").collect()
      assert(rows(0).getAs[String]("v1") === "a" && rows(0).isNullAt(merged.columns.indexOf("v2")))
      assert(rows(1).getAs[Double]("v2") === 3.5 && rows(1).isNullAt(merged.columns.indexOf("v1")))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
  }

  test("malformed CSV rows are quarantined, not silently dropped (PERMISSIVE)") {
    val base = java.nio.file.Files.createTempDirectory("badcsv").toString
    try {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$base/data.csv"),
        "1,alpha,10.5\n2,beta,not_a_number\n3,gamma,7.25\n")
      val schema = "id LONG, name STRING, score DOUBLE, _corrupt STRING"
      val df = spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(base)
      // caching avoids the Spark caveat that a query touching ONLY the
      // corrupt column over raw parsed rows is disallowed
      df.cache().count()
      val bad = df.filter(col("_corrupt").isNotNull).collect()
      assert(bad.length === 1 && bad.head.getAs[String]("_corrupt").contains("not_a_number"))
      assert(df.filter(col("_corrupt").isNull).count() === 2)
      df.unpersist()
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
  }

  test("cache(): second action reads InMemoryTableScan, not parquet; results identical") {
    // the cross-query reuse primitive (localCheckpoint's cousin): a
    // cached frame must serve later actions from columnar memory — at
    // scale this is what makes iterate-over-one-scan workflows viable
    def frame = Tables.lineitem(spark, sf0001)
      .groupBy(org.apache.spark.sql.functions.col("l_returnflag"))
      .count()
    val uncached = frame.collect()
    val cached = frame.cache()
    try {
      cached.count() // materialize the cache
      // cache substitution happens at PLANNING time: a Dataset memoizes
      // its pre-cache QueryExecution, so the in-memory scan is only
      // visible on a FRESHLY planned frame with the same logical plan
      val again = frame
      val plan = { again.collect(); again.queryExecution.executedPlan.toString }
      assert(plan.contains("InMemoryTableScan"),
        s"fresh plan over a cached frame must scan the in-memory relation, got:\n$plan")
      assert(again.collect().toSeq.sortBy(_.getString(0)) ===
        uncached.toSeq.sortBy(_.getString(0)))
    } finally cached.unpersist()
  }

  test("LoopCache.withCached: the body reads the cache; it is freed on return and on throw") {
    import org.apache.spark.storage.StorageLevel
    def frame = Tables.lineitem(spark, sf0001)
      .groupBy(col("l_returnflag"))
      .count()
    val plan = operators.LoopCache.withCached(frame) { cached =>
      cached.count() // the loop's first action materialises the cache
      // a freshly planned frame over the same logical plan (see above)
      val again = frame
      again.collect()
      again.queryExecution.executedPlan.toString
    }
    assert(plan.contains("InMemoryTableScan"),
      s"inside the body a fresh plan must scan the in-memory relation, got:\n$plan")
    assert(frame.storageLevel === StorageLevel.NONE, "cache outlived the body")
    val thrown = intercept[IllegalStateException] {
      operators.LoopCache.withCached(frame) { cached =>
        cached.count()
        assert(frame.storageLevel !== StorageLevel.NONE)
        throw new IllegalStateException("body failed")
      }
    }
    assert(thrown.getMessage === "body failed")
    assert(frame.storageLevel === StorageLevel.NONE, "cache outlived a failed body")
  }

  test("AQE splits a skewed shuffle partition (skew=true in final SMJ)") {
    import spark.implicits._
    // 95% of rows share one key — the classic straggler shape
    val big = (0 until 60000).map { i =>
      (if (i % 20 == 0) i.toLong % 97 else 7L, s"payload_$i" * 8)
    }.toDF("k", "payload")
    val other = (0 until 60000).map { i => (i.toLong % 97, i) }.toDF("k", "v")
    withConf(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      // without this AQE declines the split: the downstream groupBy(k)
      // would lose the join's hash partitioning and need a new shuffle
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // keep the payload column through the join: shuffle sizes are
      // COMPRESSED, and a pruned-to-one-repeated-long partition would
      // compress under any realistic skew threshold
      val joined = big.hint("merge").join(other, Seq("k"))
        .agg(sum(length(col("payload"))).as("bytes"), count(lit(1)).as("n"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"no skew split in plan:\n$plan")
    }
  }

  test("join strategy hints are honored: merge / shuffle_hash / broadcast") {
    // the deployment lever when the optimizer's stats-driven choice is
    // wrong at 100 TB (e.g. a "small" side whose estimate is stale):
    // each hint must actually flip the physical join operator
    val li = Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey"), col("l_quantity"))
    val o = Tables.orders(spark, sf0001)
      .select(col("o_orderkey"), col("o_orderpriority"))
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      def planOf(df: org.apache.spark.sql.DataFrame): String = {
        df.collect(); df.queryExecution.executedPlan.toString
      }
      val smj = planOf(li.hint("merge")
        .join(o, col("l_orderkey") === col("o_orderkey")))
      assert(smj.contains("SortMergeJoin"), s"merge hint ignored:\n$smj")
      val shj = planOf(li.hint("shuffle_hash")
        .join(o, col("l_orderkey") === col("o_orderkey")))
      assert(shj.contains("ShuffledHashJoin"),
        s"shuffle_hash hint ignored:\n$shj")
      val bhj = planOf(li.join(broadcast(o),
        col("l_orderkey") === col("o_orderkey")))
      assert(bhj.contains("BroadcastHashJoin"),
        s"broadcast() ignored even below threshold -1:\n$bhj")
    }
  }
}

/** Top-level so the UDF closure captures only the broadcast, never the
  * ScalaTest suite (TaskNotSerializable).
  */
object BloomSupport {
  def mightContain(spark: org.apache.spark.sql.SparkSession,
      keys: org.apache.spark.sql.DataFrame, keyCol: String)
      : org.apache.spark.sql.Column => org.apache.spark.sql.Column = {
    val bf = keys.stat.bloomFilter(keyCol, 1000, 0.03)
    val b = spark.sparkContext.broadcast(bf)
    val f = org.apache.spark.sql.functions.udf(
      (k: Long) => b.value.mightContainLong(k))
    c => f(c)
  }
}
