package graft

import org.apache.spark.sql.SparkSession

/** The one place that names the engine's session settings. Bench prices
  * lanes under them, so Verify, the tools and the tests run under the
  * same ones:
  *   - `local[cpus]` with one shuffle partition per core;
  *   - UTC session time zone;
  *   - AQE on;
  *   - a codegen class cache of 8192 entries: the default 100 thrashes
  *     under the full registry (~4,000 Janino compiles in every pass,
  *     warm included), while 8192 holds the whole suite's generated
  *     classes. It is a static conf, so it must be set before the
  *     session exists;
  *   - the object-aggregate fallback threshold
  *     ([[SparkEntry.ObjAggFallbackThreshold]]);
  *   - [[GraftExtensions]] (the engine's SQL functions and rules);
  *   - no UI, and driver log level WARN.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, default 4. */
  def envCpus: Int = EnvKnob.positive("SPARK_GRAFT_CPUS", 4, Int.MaxValue).toInt

  /** Starts (or returns the running) session with the engine's settings
    * plus the caller's own `extra` confs (app name, warehouse dir).
    */
  def apply(cpus: Int = envCpus,
      extra: Map[String, String] = Map.empty): SparkSession = {
    val spark = extra.foldLeft(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        SparkEntry.ObjAggFallbackThreshold)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `f` with the session conf `key` set to `value`, then restores
    * the key's previous value, or unsets it if it had none, so the
    * override never leaks into the session.
    */
  def withConf[T](spark: SparkSession, conf: (String, String))(f: => T): T = {
    val (key, value) = conf
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}
