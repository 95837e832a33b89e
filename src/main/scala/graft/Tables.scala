package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Loaders for the driver-generated parquet test tables (see TESTDATA.md).
  *
  * One parquet file per table under `\$dir/`. All queries go through here so
  * that scans stay plain `spark.read.parquet` — Catalyst then gets full
  * predicate-pushdown / column-pruning / partition-split planning on the
  * file source. At 100 TB these would be directories of parquet files
  * (possibly partitioned/bucketed); nothing in the query code assumes a
  * single file.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `dir` as a data dir a run may read. Every table read hands its path
    * to Hadoop as a glob pattern, so a dir holding a glob character
    * (`\ [ ] { } * ?`) fails to parse or, worse, matches other dirs. Each
    * main passes its data dir through here before any lane runs.
    */
  def dataDir(dir: String): String = {
    require(!dir.exists("\\[]{}*?".contains(_)), s"data dir '$dir' holds a " +
      "glob character (one of \\ [ ] { } * ?), which the table reads would " +
      "take as a pattern; rename or link it")
    dir
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    require(names.contains(name), s"unknown table: $name")
    spark.read.parquet(s"$dir/$name.parquet")
  }

  /** Oracle-stable money arithmetic. Sums of 2-decimal doubles are
    * summation-order-dependent in the last bits, and `round(sum, 2)` sits
    * on an exact `.xx5` knife-edge whenever the true decimal sum ends in
    * a half-cent — Spark (BigDecimal HALF_UP) and DuckDB (multiply-shift)
    * then disagree. Casting to decimal makes the sum EXACT in both
    * engines; casting the exact result back to double is
    * nearest-double-of-the-same-rational, hence bit-identical.
    */
  def money(c: Column): Column = c.cast(DecimalType(12, 2))
  /** discount/tax factors (0.00–0.10), 2 decimals. */
  def rate(c: Column): Column = c.cast(DecimalType(4, 2))
  def sumMoney(c: Column): Column = sum(money(c)).cast("double")

  /** Engine-stable 4-decimal rounding: `floor(x·10⁴ + 0.5)/10⁴` is the
    * same IEEE op sequence in Spark and DuckDB, so identical input
    * doubles give identical output — unlike round(), whose half-up
    * implementations diverge when the true value sits exactly on a
    * 0.00005 boundary (as rationals like 567/4000 routinely do). The
    * single definition here keeps every operator module and its DuckDB
    * oracle twin on the same idiom.
    */
  def r4(c: Column): Column = floor(c * 10000 + 0.5) / 10000

  /** Scala-side twin of the engine-stable floor rounding: the SAME IEEE
    * op sequence (multiply, add, floor, divide) both engines run —
    * never BigDecimal or round(), whose half-up paths differ per
    * engine. Used wherever driver-side math must land on the identical
    * double DuckDB computes (PCA iterates, centroid grids).
    */
  private[graft] def stableRound(x: Double, digits: Int): Double = {
    val p = math.pow(10, digits)
    math.floor(x * p + 0.5) / p
  }

  /** The repo's one deterministic rank/keep hash: the first `hexDigits`
    * md5 hex digits of salt ++ key, as a long. Every operator that
    * hash-ranks, samples, shards, or buckets uses THIS shape so the
    * DuckDB twin is always the same one-liner
    * (('0x' || substring(md5(salt || cast(key AS VARCHAR)), 1, n))::bigint)
    * — change it here and in every oracle together, never in one place.
    */
  private[graft] def saltedHash(salt: String, key: Column,
      hexDigits: Int): Column =
    conv(substring(md5(concat(lit(salt), key.cast("string"))), 1, hexDigits),
      16, 10).cast("long")

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** Canonical form of `events`: `ts` is always `TimestampType` at µs
    * precision (session tz is pinned UTC by every entrypoint), whatever
    * the testdata generator last wrote. Regens have flipped `events.ts`
    * between parquet TIMESTAMP(NANOS) — which the vectorized reader
    * rejects ([PARQUET_TYPE_ILLEGAL]) and is only readable as raw int64
    * nanos in legacy-long mode — and plain timestamp[us] (read as
    * TIMESTAMP_NTZ under `inferTimestampNTZ`). Branching on the type the
    * read actually resolves to keeps a regen from breaking every
    * events-touching query; TestdataDriftSpec is the loud canary.
    */
  def events(s: SparkSession, d: String): DataFrame =
    adaptEventsTs(eventsRaw(s, s"$d/events.parquet"))

  /** Read `events.parquet` surviving either physical `ts` encoding:
    * plain read first; only on the vectorized reader's NANOS rejection
    * flip the legacy long-read conf and retry (so the session conf is
    * untouched in the common case). Returns the frame UNnormalized —
    * callers that persist fixtures or need the raw shape use this,
    * everything else goes through [[events]]/[[adaptEventsTs]].
    */
  def eventsRaw(s: SparkSession, path: String): DataFrame =
    try s.read.parquet(path)
    catch {
      // The conf deliberately stays flipped for the session: the scan
      // re-consults it at action time (per-file footer conversion), so
      // restoring it right after the lazy retry read would fail the
      // eventual execution — and once the testdata is nanos-encoded,
      // every later events read needs the same mode anyway.
      case e: Exception if isNanosIllegal(e) =>
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        s.read.parquet(path)
    }

  /** True iff the failure is the vectorized reader's typed rejection of
    * nanos timestamps — the SparkThrowable error class
    * PARQUET_TYPE_ILLEGAL, on the throwable or its immediate cause chain
    * (schema inference can surface it wrapped in a SparkException).
    * Deliberately NOT a message-substring match: an unrelated failure
    * that merely mentions "NANOS", or a fatal Error, must propagate
    * rather than flip a session-wide legacy conf.
    */
  private def isNanosIllegal(e: Throwable): Boolean =
    Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).take(5)
      .exists {
        case st: org.apache.spark.SparkThrowable =>
          String.valueOf(st.getCondition).contains("PARQUET_TYPE_ILLEGAL")
        case _ => false
      }

  /** Normalize an events frame (batch OR streaming) to µs
    * `TimestampType` `ts`. LongType means raw epoch-nanos from the
    * legacy long read — truncate to µs, the same coercion DuckDB applies
    * for ns → its µs timestamp. TIMESTAMP_NTZ → TimestampType is exact
    * under the UTC session tz (same micros value, no wall-clock shift).
    */
  def adaptEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.TimestampType => df
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case other =>
        sys.error(s"events.ts resolved to unsupported type $other — " +
          "testdata drifted; teach Tables.adaptEventsTs the new encoding")
    }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
