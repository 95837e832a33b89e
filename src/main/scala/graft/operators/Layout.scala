package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.BitInterleave

/** Physical data-layout tooling: z-order clustering diagnostics and a
  * small-file compaction planner. Neither exists in the reference (its
  * only layout decision is one CSV file per first-letter partition,
  * reference: `worker/services/WorkerServiceImpl.scala:144-152`); both
  * are what keeps a 100 TB parquet lake scannable — file-level min/max
  * pruning only works when the layout gives each file a tight key range,
  * and metadata traffic only stays sane when file counts stay bounded.
  */
object Layout {

  /** Z-order clustering diagnostics over (l_partkey, l_suppkey): each
    * key is first normalized to the full 16-bit domain by EXACT integer
    * scaling against its column max — `(key · 65535) div max` — so the
    * Morton key (via the codegen `interleave_bits16` expression) spreads
    * over all 32 bits at ANY scale factor; rows are then bucketed by the
    * key's top 5 bits — the 32 "files" a z-ordered writer would cut.
    * Per bucket: row count and the min/max of BOTH dims, i.e. exactly
    * the column statistics a parquet footer would carry. The point the
    * output makes: every bucket's (part × supp) bounding rectangle is a
    * bounded fraction of the full range on EACH axis (top 5 z-bits =
    * 2 part-bits + 3 supp-bits → ≤¼ and ≤⅛ respectively, spec-pinned),
    * so a predicate on EITHER column prunes most buckets — a
    * single-column sort gives tight bounds on that column only.
    * Plan: scan → one-row max-stats broadcast (the skew-profile
    * scalar-attach idiom) → codegen projection (the z-key never leaves
    * whole-stage) → one hash aggregate. The final output sort is 32 rows.
    *
    * The oracle replays the interleave as a 32-term bitwise-OR — the
    * normalization and interleave are pure int64 arithmetic, so
    * z-values (and hence buckets and all stats) are exact on both
    * engines.
    */
  def zorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select("l_partkey", "l_suppkey")
    val stats = li.agg(max(col("l_partkey")).as("mp"),
      max(col("l_suppkey")).as("ms"))
    val z = BitInterleave.interleaveBits16(
      expr("l_partkey * 65535 div mp"),
      expr("l_suppkey * 65535 div ms"))
    li.crossJoin(broadcast(stats))
      .select(col("l_partkey"), col("l_suppkey"),
        shiftright(z, 27).as("z_bucket"))
      .groupBy(col("z_bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_partkey")).as("min_part"), max(col("l_partkey")).as("max_part"),
        min(col("l_suppkey")).as("min_supp"), max(col("l_suppkey")).as("max_supp"))
      .orderBy(col("z_bucket"))
  }

  /** The 16-bits-per-dim Morton key as ANSI SQL: OR of 32 single-bit
    * placements. Shared by the oracle and by ZOrderSpec's SQL parity
    * check.
    */
  private[graft] def zExprSql(x: String, y: String): String =
    ((0 until 16).map(i => s"((($x >> $i) & 1) << ${2 * i})") ++
      (0 until 16).map(i => s"((($y >> $i) & 1) << ${2 * i + 1})"))
      .mkString(" | ")

  private val ZorderOracle: String =
    s"""WITH stats AS (
       |  SELECT max(l_partkey) AS mp, max(l_suppkey) AS ms FROM lineitem),
       |keyed AS (
       |  SELECT l_partkey, l_suppkey,
       |    (${zExprSql("(l_partkey * 65535 // mp)", "(l_suppkey * 65535 // ms)")})
       |      >> 27 AS z_bucket
       |  FROM lineitem, stats)
       |SELECT z_bucket, count(*) AS n_rows,
       |  min(l_partkey) AS min_part, max(l_partkey) AS max_part,
       |  min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
       |FROM keyed GROUP BY z_bucket ORDER BY z_bucket""".stripMargin

  /** Rows per compacted output file for [[compactionPlan]] — small
    * enough that the plan actually splits the sf0.01 fixtures.
    */
  private val TargetRows = 50000L

  /** Small-file compaction plan over every parquet file in the dataset
    * directory (the 10 table files stand in for one table's fragment
    * pile): per input file its row count — read from the parquet FOOTER
    * (`ParquetFileReader.getRecordCount`, the sum of the row-group
    * counts the writer committed), no data pages touched — then
    * a greedy in-order packer assigns each file's FIRST output bin as
    * `floor(cumulative_rows_before / TargetRows)` (files larger than the
    * target span bins and are split by the rewriter; `n_bins` says how
    * many). This is the planning half of an OPTIMIZE/compaction job.
    *
    * r16 (guide §6 — metadata, not data): the previous form ran one
    * row-iterating scan PER TABLE over `_metadata.file_path` (the
    * vectorized reader still materializes every batch to count it) —
    * 10 scan branches, 1.59 s of the lane's 1.55 s at sf0.1. Footer
    * row counts are the same integers by the parquet spec (a count
    * mismatch would mean a corrupt file), read in a task-side
    * mapPartitions over the FILE LIST — milliseconds, flat in row
    * count, and exactly the shape the 100 TB posture demands (footer
    * metadata only; thousands of footer reads spread over the
    * cluster). Same output, same oracle (hash-verified).
    */
  def compactionPlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val roots = Tables.names.map(t => s"$dir/$t.parquet")
    // the SESSION's Hadoop configuration rides to the tasks (review
    // r16): a fresh Configuration() would ignore spark.hadoop.* conf,
    // fs.defaultFS and filesystem credentials — fine on local disk,
    // wrong on any configured store
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val perFile = spark.createDataset(roots)
      .repartition(roots.length)
      .mapPartitions { paths =>
        val conf = hconf.value
        // recursive walk (review r16): a table root that is a directory
        // of partition subdirectories (date=.../part-*.parquet — the
        // fragment pile this lane models) must contribute every leaf
        // fragment, exactly as the replaced _metadata.file_path scan's
        // recursive discovery did; hidden (_/.) entries skipped at
        // every level, as the reader does. The local filesystem reports
        // a directory symlink as a plain directory, so a link back up
        // the tree would list the same files once per level: each
        // entered directory is keyed by its real path, and a revisit
        // fails the lane instead of counting a file twice
        def walk(fs: org.apache.hadoop.fs.FileSystem,
            st: org.apache.hadoop.fs.FileStatus,
            seen: scala.collection.mutable.Set[String])
            : Seq[org.apache.hadoop.fs.Path] =
          if (st.isFile) Seq(st.getPath)
          else {
            val dir = st.getPath
            val real =
              if (dir.toUri.getScheme == "file")
                java.nio.file.Paths.get(dir.toUri).toRealPath().toString
              else dir.toString
            if (!seen.add(real))
              throw new IllegalStateException(
                s"layout walk reached $real again at $dir (a symlink cycle " +
                  "or alias); its files would be counted more than once")
            fs.listStatus(dir).toSeq
              .filter(s => !s.getPath.getName.startsWith("_") &&
                !s.getPath.getName.startsWith("."))
              .flatMap(walk(fs, _, seen))
          }
        paths.flatMap { p =>
          val root = new org.apache.hadoop.fs.Path(p)
          val fs = root.getFileSystem(conf)
          walk(fs, fs.getFileStatus(root),
              scala.collection.mutable.Set.empty[String]).map { f =>
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(f, conf)
            val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            val n = try reader.getRecordCount finally reader.close()
            (f.getName, n)
          }
        }
      }.toDF("file", "n_rows")
      // same-basename fragments merge, exactly as the old per-file
      // groupBy did (a 10-row exchange — the file list, not the data)
      .groupBy(col("file")).agg(sum(col("n_rows")).as("n_rows"))
    val w = Window.orderBy(col("file"))
      .rowsBetween(Window.unboundedPreceding, -1)
    perFile
      .withColumn("rows_before", coalesce(sum(col("n_rows")).over(w), lit(0L)))
      .select(col("file"), col("n_rows"),
        expr(s"rows_before div $TargetRows").as("first_bin"),
        expr(s"(rows_before + n_rows - 1) div $TargetRows" +
          s" - rows_before div $TargetRows + 1").as("n_bins"))
      .orderBy(col("file"))
  }

  private val CompactionOracle: String = {
    val union = Tables.names
      .map(t => s"SELECT '$t.parquet' AS file, count(*) AS n_rows FROM $t")
      .mkString(" UNION ALL ")
    s"""WITH per_file AS ($union),
       |cum AS (
       |  SELECT file, n_rows,
       |    -- DuckDB sum(BIGINT) is HUGEINT; un-cast it would surface as
       |    -- float64 in the driver's comparator and hash-mismatch the
       |    -- engine's int64 (0 vs 0.0) — the actual q90 red in r5
       |    CAST(coalesce(sum(n_rows) OVER (ORDER BY file
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS rows_before
       |  FROM per_file)
       |SELECT file, n_rows,
       |  rows_before // ${TargetRows} AS first_bin,
       |  (rows_before + n_rows - 1) // ${TargetRows}
       |    - rows_before // ${TargetRows} + 1 AS n_bins
       |FROM cum ORDER BY file""".stripMargin
  }

  /** Range-split planning — the boundary half of `repartitionByRange` /
    * a range-partitioned table write: the k−1 cut points that split
    * `o_totalprice` into k=16 equal-depth ranges, as exact interpolated
    * percentiles. This is the PLANNER (at 100 TB you compute these
    * boundaries with `approx_percentile` over a sample — the same
    * exact-beside-approx pairing as q65/q37 — and feed them to the
    * writer); the exact form here is what makes the DuckDB oracle a
    * value-level hash match. One scan, one sort-agg, 15-row output.
    */
  def q104RangeSplit(spark: SparkSession, dir: String): DataFrame = {
    val fracs = (1 until 16).map(i => i / 16.0)
    Tables.orders(spark, dir)
      .agg(expr(s"percentile(o_totalprice, array(${fracs.mkString(", ")}))")
        .as("bounds"))
      .select(posexplode(col("bounds")).as(Seq("pos", "boundary")))
      .select((col("pos") + 1).cast("long").as("split_id"),
        Tables.r4(col("boundary")).as("boundary"))
      .orderBy(col("split_id"))
  }

  private val RangeSplitOracle: String = {
    val fracs = (1 until 16).map(i => i / 16.0)
    s"""SELECT cast(t.i AS BIGINT) AS split_id,
       |  floor(q.qs[t.i] * 10000 + 0.5) / 10000 AS boundary
       |FROM (SELECT quantile_cont(o_totalprice,
       |        [${fracs.mkString(", ")}]) AS qs FROM orders) q,
       |  generate_series(1, 15) AS t(i)
       |ORDER BY split_id""".stripMargin
  }

  val registry: Seq[QueryDef] = Seq(
    QueryDef("q88_zorder_layout", zorderLayout _, ZorderOracle),
    QueryDef("q90_compaction_plan", compactionPlan _, CompactionOracle),
    QueryDef("q104_range_split", q104RangeSplit _, RangeSplitOracle)
  )
}
