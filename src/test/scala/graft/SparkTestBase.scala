package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession per suite, built by [[GraftSession]]. */
trait SparkTestBase { self: AnyFunSuite =>
  lazy val spark: SparkSession = SparkTestBase.session
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  /** Cancels the calling test where the reference corpus is absent. The
    * corpus lies outside this repository (FIXTURES.md §1) and its golden
    * facts hold only for its exact bytes, so there is nothing to stand in.
    */
  def assumeReferenceCorpus(): Unit =
    assume(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(SparkEntry.ReferenceCorpusDir)),
      s"; reference corpus not found at ${SparkEntry.ReferenceCorpusDir}; " +
        "it lies outside this repository (FIXTURES.md §1)")
}

object SparkTestBase {
  // local[4] measured BETTER than local[8] for suite wall: doubling
  // executor threads tripled kernel time (sys 4m → 17m on the full
  // suite — tiny-task scheduling churn), swamping any parallelism
  // gain. The registry smoke instead overlaps jobs via futures on
  // this 4-thread session (RelationalSpec 6m26s → 4m33s).
  lazy val session: SparkSession = GraftSession(cpus = 4, extra = Map(
    "spark.app.name" -> "graft-test",
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_wh").toString))
}
