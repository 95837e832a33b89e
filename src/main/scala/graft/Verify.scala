package graft
import java.nio.file.{Files, Paths}
import org.apache.commons.io.FileUtils
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // wordcount_reference reads the reference corpus, not `sfDir`, and
    // it lies outside this repository (FIXTURES.md §1): where it is
    // absent the lane is skipped by name, and skipped.json says why
    val skipped =
      if (SparkEntry.referenceCorpusPresent) Map.empty[String, String]
      else Map("wordcount_reference" -> "reference corpus absent")
    // optional subset (SparkEntry.only, shared with Bench): lets a
    // local iteration dump one new query in seconds instead of the full
    // registry; the driver sets no filter and always gets the full dump
    SparkEntry.queries.filter(kv => SparkEntry.only(kv._1)).foreach { case (name, fn) =>
      // stale output from a previous run is removed: a regressed or
      // skipped query must surface as missing or skipped, not silently
      // pass on old results
      val out = new java.io.File(s"$outDir/$name")
      if (skipped.contains(name)) {
        System.err.println(
          s"[verify] SKIP $name (${skipped(name)} at ${SparkEntry.ReferenceCorpusDir})")
        FileUtils.deleteQuietly(out)
      } else try fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(out.getPath)
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        FileUtils.deleteQuietly(out)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // PARTIAL (self-referential) oracles: a query whose candidate set is
    // not SQL-replayable (float-sign LSH buckets, iterative centroids)
    // can still have its VALUES verified — the oracle SQL reads the ids
    // this dump just wrote (`__DUMP__/<name>/*.parquet`) and recomputes
    // the exact per-id values from the corpus tables in DuckDB. The
    // token is substituted here because only Verify knows the outDir.
    val dumpRoot = new java.io.File(outDir).getAbsolutePath
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("__DUMP__", dumpRoot))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/skipped.json"),
      skipped.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    spark.stop()
  }
}
