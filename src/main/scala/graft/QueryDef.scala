package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: the Spark implementation plus (when the operator
  * is SQL-expressible) a DuckDB oracle with identical column names and
  * deterministic ordering. Modules expose a `Seq[QueryDef]`; SparkEntry
  * concatenates them into the driver's `queries`/`oracleSql` maps.
  * `external` names the one input a lane reads outside its data dir;
  * where that path is absent, [[Lanes.run]] skips the lane.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    external: Option[String] = None)

object QueryDef {
  def apply(name: String, fn: (SparkSession, String) => DataFrame,
      oracle: String): QueryDef = {
    // a registry val that references an oracle val defined LATER in the
    // same object reads null during object init (Scala initializes vals
    // in declaration order, no warning) — and a null oracle silently
    // degrades the query to rows-only at the driver gate. Fail at
    // registry construction instead; keep `val registry` the LAST
    // member of every operator object.
    require(oracle != null && oracle.trim.nonEmpty,
      s"null/empty oracle for query '$name' — is the oracle val " +
        "declared after the registry in its operator object?")
    QueryDef(name, fn, Some(oracle))
  }
  // There is deliberately no oracle-less constructor: since round 8,
  // EVERY registered query carries a DuckDB oracle (BenchBaselineSpec
  // pins oracleSql.size == queries.size). A query whose candidate set
  // cannot be replayed in SQL gets a PARTIAL self-referential oracle
  // instead (re-read the dump's ids via the __DUMP__ token and verify
  // the returned VALUES — see Similarity's ANN tiers).
}
