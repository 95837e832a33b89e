package graft.operators

import org.apache.spark.sql.DataFrame

/** The engine's one cache rule: a query caches only a frame that its
  * own loop reads on every round (an edge set joined once per
  * iteration), and frees it before it returns. Nothing cached outlives
  * the query that built it, so every lane does its own declared work
  * and the session's cache manager is empty between lanes.
  *
  * Cache, not `localCheckpoint`: an InMemoryTableScan reports the cached
  * plan's partitioning and ordering, so a `repartition(n, key)` +
  * `sortWithinPartitions(key)` frame keeps |E| out of every round's
  * exchange and sort, while the LogicalRDD a checkpoint leaves reports
  * UnknownPartitioning (SCALE.md round 11). The loop's first action
  * materialises the cache. The body should return a frame that no
  * longer reads the cached one — in practice one derived from
  * `localCheckpoint`ed rounds — since a lazy reader of a freed frame
  * recomputes it from its logical plan.
  */
private[graft] object LoopCache {
  def withCached[T](df: DataFrame)(body: DataFrame => T): T = {
    val cached = df.persist()
    try body(cached) finally cached.unpersist()
  }
}
