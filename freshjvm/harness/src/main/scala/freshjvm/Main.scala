package freshjvm

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** One fresh-JVM round of a benchmark workload.
  *
  * Usage: `freshjvm.Main <workload> <inputDir> <outDir> <cpus> <trace 0|1>
  * <seed> <launchEpochMs>`. Starts the session, times one round of the
  * workload's ops (each built, planned, then executed), then, outside the
  * timed region, writes each op's result under `<outDir>/out` for the
  * output check. Prints one result line starting with `RESULT ` and, when
  * traced, writes the spans to `<outDir>/spans.json`.
  */
object Main {

  /** The session the engine's own bench uses: same parallelism for
    * cores and shuffle partitions, AQE on, the large codegen cache, the
    * engine's object-aggregate threshold, its extensions, UTC, no UI.
    */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .appName("freshjvm")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        SparkEntry.ObjAggFallbackThreshold)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  private final case class Outcome(op: Op, wallS: Double,
      df: Option[DataFrame], error: Option[String])

  private def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  private def jvmCounters(): (Long, Long, Long) = (
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
    ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount)

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def main(args: Array[String]): Unit = {
    val Array(workload, inputDir, outDir, cpusArg, traceArg, seed, launchMs) = args
    val spark = session(cpusArg.toInt)
    val ops = Workloads.ops(workload, inputDir, outDir)
    val setupS = (System.currentTimeMillis() - launchMs.toLong) / 1000.0
    val sc = spark.sparkContext
    val tracer = if (traceArg == "1") Some(new Tracer(spark)) else None
    val span: Spans = tracer.map(_.spans).getOrElse(Spans.Off)

    val jvm0 = jvmCounters()
    val cpu0 = processCpuNs()
    val t0 = System.nanoTime()
    val outcomes = span("round", workload) {
      ops.map { op =>
        val s0 = System.nanoTime()
        def phase(p: String): Unit =
          if (tracer.isDefined) sc.setLocalProperty(ExecListener.PhaseKey, ExecListener.key(op.id, p))
        val r = try span("op", op.id) {
          phase("build")
          val df = span("build", op.id)(op.build(spark))
          phase("plan")
          span("plan", op.id)(df.queryExecution.executedPlan)
          tracer.foreach(_.recordPlan(df))
          phase("execute")
          span("execute", op.id)(op.execute(df))
          Right(df)
        } catch { case NonFatal(e) => Left(message(e)) }
        finally sc.setLocalProperty(ExecListener.PhaseKey, null)
        Outcome(op, (System.nanoTime() - s0) / 1e9, r.toOption, r.left.toOption)
      }
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val cpuS = (processCpuNs() - cpu0) / 1e9
    val jvm1 = jvmCounters()
    tracer.foreach(_.recordPersisted())
    // full GCs with pauses between them, so the context cleaner can drop
    // the broadcast and shuffle blocks the first one freed
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(200) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val layers = tracer.map { t =>
      t.drain()
      layerMetrics(t, outDir) ++ KernelTimings(seed.toLong) ++ Map(
        "jvm.jit_s" -> (jvm1._1 - jvm0._1) / 1e3,
        "jvm.gc_s" -> (jvm1._2 - jvm0._2) / 1e3,
        "jvm.classes_loaded" -> (jvm1._3 - jvm0._3).toDouble)
    }

    // output check material, outside the timed region
    // (the partitioned write's own output is what gets checked for it)
    val checkErrors = outcomes.collect {
      case Outcome(op, _, Some(df), _) if op.id != "WordCount.writePartitioned" =>
        try { df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/out/${op.id}"); None }
        catch { case NonFatal(e) => Some(op.id -> message(e)) }
    }.flatten.toMap
    val dumpRoot = new java.io.File(s"$outDir/out").getAbsolutePath
    val oracles = SparkEntry.oracleSql.collect {
      case (k, v) if ops.exists(_.id == k) => k -> v.replace("__DUMP__", dumpRoot)
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json.writeValueAsString(oracles))

    val result = Map(
      "workload" -> workload,
      "setup_s" -> setupS,
      "wall_s" -> wallS,
      "cpu_s" -> cpuS,
      "retained_heap_mb" -> heapMb,
      "ops" -> outcomes.map(o => Map("id" -> o.op.id, "wall_s" -> o.wallS,
        "error" -> o.error.orElse(checkErrors.get(o.op.id)))),
      "layers" -> layers)
    println("RESULT " + json.writeValueAsString(result))
    tracer.foreach(t => Files.writeString(Paths.get(s"$outDir/spans.json"),
      json.writerWithDefaultPrettyPrinter().writeValueAsString(t.spans.spans)))
    spark.stop()
  }

  /** The per-layer figures of a traced round, summed over its ops. */
  private def layerMetrics(t: Tracer, outDir: String): Map[String, Double] = {
    val MiB = 1048576.0
    def opIs(op: String)(k: String) = k.startsWith(ExecListener.key(op, ""))
    val all = t.counters(_ => true)
    val build = t.counters(_.endsWith("\u0000build"))
    def perInput(op: String): Double = {
      val c = t.counters(opIs(op))
      if (c.inputBytes > 0) c.shuffleWrite.toDouble / c.inputBytes else 0.0
    }
    val written = {
      val root = Paths.get(s"$outDir/partitioned")
      if (!Files.exists(root)) 0L
      else Files.walk(root).iterator().asScala.count { p =>
        Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-")
      }.toLong
    }
    Map(
      "operators.build_s" -> t.spanSeconds("build"),
      "operators.build_jobs" -> build.jobs.toDouble,
      "plans.analysis_s" -> t.analysisMs / 1e3,
      "plans.optimize_s" -> t.optimizeMs / 1e3,
      "plans.physical_s" -> t.physicalMs / 1e3,
      "plans.exchanges" -> t.exchanges.toDouble,
      "plans.range_exchanges" -> t.rangeExchanges.toDouble,
      "exec.run_s" -> t.spanSeconds("execute"),
      "exec.jobs" -> all.jobs.toDouble,
      "exec.stages" -> all.stages.toDouble,
      "exec.tasks" -> all.tasks.toDouble,
      "exec.task_cpu_s" -> all.cpuNs / 1e9,
      "exec.task_wait_s" -> all.waitMs / 1e3,
      "exec.gc_s" -> all.gcMs / 1e3,
      "exec.shuffle_write_mb" -> all.shuffleWrite / MiB,
      "exec.shuffle_read_mb" -> all.shuffleRead / MiB,
      "exec.fetch_wait_s" -> all.fetchWaitMs / 1e3,
      "exec.spill_mb" -> all.spill / MiB,
      "Tables.scan_mb" -> t.scans.bytes / MiB,
      "Tables.scan_rows" -> t.scans.rows.toDouble,
      "MapReduce.shuffle_per_input" -> perInput("MapReduce.mapReduce"),
      "WordCount.shuffle_per_input" -> perInput("WordCount.referenceJob"),
      "WordCount.write_s" -> t.spanSeconds("execute", _ == "WordCount.writePartitioned"),
      "WordCount.files_written" -> written.toDouble,
      "IterCache.persisted_mb" -> t.persistedBytes / MiB,
      "IterCache.cached_scans" -> t.cachedScans.toDouble,
      "streaming.batches" -> t.stream.batches.toDouble,
      "streaming.plan_s" -> t.stream.planMs / 1e3,
      "streaming.get_batch_s" -> t.stream.getBatchMs / 1e3,
      "streaming.add_batch_s" -> t.stream.addBatchMs / 1e3,
      "streaming.commit_s" -> t.stream.commitMs / 1e3,
      "streaming.state_rows" -> t.stream.totalStateRows.toDouble)
  }
}
