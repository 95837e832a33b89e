package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: the Spark implementation plus its DuckDB
  * oracle, with identical column names and deterministic ordering.
  * Modules expose a `Seq[QueryDef]`; SparkEntry concatenates them into
  * the driver's `queries`/`oracleSql` maps. Every query carries an
  * oracle (BenchBaselineSpec pins `oracleSql.size == queries.size`): a
  * query whose candidate set cannot be replayed in SQL gets a PARTIAL
  * self-referential oracle instead (re-read the dump's ids via the
  * `__DUMP__` token and verify the returned VALUES — see Similarity's
  * ANN tiers). `external` names the one input a lane reads outside its
  * data dir; where that path is absent, [[Lanes.run]] skips the lane.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: String,
    external: Option[String] = None) {
  // a registry val that references an oracle val defined LATER in the
  // same object reads null during object init (Scala initializes vals
  // in declaration order, no warning) — and a null oracle silently
  // degrades the query to rows-only at the driver gate. Fail at
  // registry construction instead; keep `val registry` the LAST
  // member of every operator object.
  require(oracle != null && oracle.trim.nonEmpty,
    s"null/empty oracle for query '$name' — is the oracle val " +
      "declared after the registry in its operator object?")
}
