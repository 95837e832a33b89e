package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingQueries

/** Pins the lane runner's four decisions: which lanes a run covers, which
  * this machine skips, which stream, and that a failure is not a skip.
  * No SparkSession: the lanes here never reach Spark.
  */
class LanesSpec extends AnyFunSuite {

  private def lane(name: String, external: Option[String] = None) =
    QueryDef(name, (_, _) => fail(s"$name must not run"), "SELECT 1", external)

  private val lanes = Seq("q1_agg", "q10_window", "stream_tws",
    "stream_outer_join", "text_bm25").map(lane(_))
  private def names(spec: String) =
    Lanes.selected(lanes, Some(spec)).map(_.name)

  test("select: exact name, prefix, comma list with spaces, unset = all") {
    assert(names("q1_agg") === Seq("q1_agg"))
    assert(names("q1*") === Seq("q1_agg", "q10_window"))
    assert(names(" text_bm25 , stream_* ,") ===
      Seq("stream_tws", "stream_outer_join", "text_bm25"))
    assert(Lanes.selected(lanes, None) === lanes)
  }

  test("select: a spec that selects no lane throws and names the spec") {
    val e = intercept[IllegalArgumentException](names("strem_*"))
    assert(e.getMessage.contains("SPARK_GRAFT_ONLY='strem_*'"), e.getMessage)
    intercept[IllegalArgumentException](names(" , "))
  }

  test("run: an absent external input skips the lane without calling its fn") {
    val missing = "/nonexistent/graft-lanes-spec-input"
    val skipped = Lanes.run(null, lane("ext_lane", Some(missing)), "unused")(
      _ => fail("the action must not run"))
    assert(skipped === Lanes.Skipped(s"external input absent: $missing"))
    val present = java.nio.file.Files.createTempDirectory("graft_lanes").toFile
    var acted = false
    try {
      val ran = Lanes.run(null,
        QueryDef("ext_lane", (_, _) => null, "SELECT 1", Some(present.getPath)),
        "unused")(_ => acted = true)
      assert(ran === Lanes.Ran && acted)
    } finally present.delete()
  }

  test("run: a throwing lane comes back failed, not skipped") {
    val boom = new IllegalStateException("boom")
    val thrower = QueryDef("q_throws", (_, _) => throw boom, "SELECT 1")
    assert(Lanes.run(null, thrower, "unused")(_ => ()) === Lanes.Failed(boom))
    val actionThrows = QueryDef("q_ok", (_, _) => null, "SELECT 1")
    assert(Lanes.run(null, actionThrows, "unused")(_ => throw boom) ===
      Lanes.Failed(boom))
  }

  test("streaming: exactly the lanes the streaming module registers") {
    val streaming = SparkEntry.registry.filter(q => Lanes.streaming(q.name))
    assert(streaming.map(_.name).toSet ===
      StreamingQueries.registry.map(_.name).toSet)
    assert(streaming.size === 23)
  }

  test("only the reference corpus lane names an external input") {
    assert(SparkEntry.registry.filter(_.external.nonEmpty).map(_.name) ===
      Seq("wordcount_reference"))
  }

  test("data dir: a dir holding a glob character is refused, naming the dir") {
    // every table read hands its path to Hadoop as a glob pattern: a `\`
    // failed every lane with "Illegal file pattern", and a `[` reads as
    // a character class that may match other dirs
    Seq("/data/sf[0.01]", "/data/odd\\x/sf0.01").foreach { dir =>
      val e = intercept[IllegalArgumentException](Tables.dataDir(dir))
      assert(e.getMessage.contains(s"'$dir'"), e.getMessage)
    }
    assert(Tables.dataDir("/data/odd\"dir/sf 0.01") === "/data/odd\"dir/sf 0.01")
  }
}
