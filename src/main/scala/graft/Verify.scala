package graft
import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
import org.apache.commons.io.FileUtils
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(dir, outDir) = args
    val sfDir = Tables.dataDir(dir)
    // optional subset (SPARK_GRAFT_ONLY, shared with Bench): a local
    // iteration dumps one new query in seconds instead of the full
    // registry; with no filter set, the dump covers every lane
    val lanes = Lanes.selected()
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    val skipped = lanes.flatMap { lane =>
      // stale output from a previous run is removed: a regressed or
      // skipped query must surface as missing or skipped, not silently
      // pass on old results
      val out = new java.io.File(s"$outDir/${lane.name}")
      FileUtils.deleteQuietly(out)
      Lanes.run(spark, lane, sfDir)(
        _.coalesce(1).write.mode("overwrite").parquet(out.getPath)) match {
        case Lanes.Ran => None
        case Lanes.Skipped(reason) =>
          System.err.println(s"[verify] SKIP ${lane.name} ($reason)")
          Some(lane.name -> reason)
        case Lanes.Failed(e) =>
          System.err.println(s"[verify] ${lane.name} failed: ${e.getMessage}")
          FileUtils.deleteQuietly(out) // a partial write is not an output
          None
      }
    }
    // PARTIAL (self-referential) oracles: a query whose candidate set is
    // not SQL-replayable (float-sign LSH buckets, iterative centroids)
    // can still have its VALUES verified — the oracle SQL reads the ids
    // this dump just wrote (`__DUMP__/<name>/*.parquet`) and recomputes
    // the exact per-id values from the corpus tables in DuckDB. The
    // token is substituted here because only Verify knows the outDir.
    val dumpRoot = new java.io.File(outDir).getAbsolutePath
    // the selected lanes only: the compare walks these names, so the
    // stale output dirs of unselected lanes are never read
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json.write(ListMap.from(
      lanes.map(l => l.name -> l.oracle.replace("__DUMP__", dumpRoot)))))
    Files.writeString(Paths.get(s"$outDir/skipped.json"), Json.write(ListMap.from(skipped)))
    spark.stop()
  }
}
