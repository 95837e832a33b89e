package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bounded registry for the iterate-phase edge caches (pagerank /
  * k-hop / SSSP / components). The builders cache their
  * partitioned+sorted edge frames so every iteration's join reuses the
  * layout (see Analytics.coPurchaseEdges) — but Spark's CacheManager
  * holds cached relations by plan FOREVER, so a 230-query bench (or a
  * 100× probe running two volumes back-to-back) would accumulate
  * multi-GB resident entries that squeeze every later query: the
  * round-11 sweep measured q109_components 2.4× SLOWER at 100× purely
  * because q78's 100× edge cache (≈ 240M rows) stayed resident through
  * it. This registry bounds the LIVE BYTES across entries (measured
  * from each frame's post-materialization InMemoryRelation stats), with
  * LRU eviction and a count backstop — a byte cap is the durable form
  * of the round-11 count cap, whose meaning depended on entries sharing
  * a data volume.
  *
  * Eviction is always CORRECTNESS-safe — unlike a reclaimed checkpoint
  * (whose LogicalRDD dies with its files), an unpersisted cache entry
  * silently recomputes from its intact logical plan — so the budget can
  * be tight.
  *
  * Concurrency: materialization happens OUTSIDE the registry lock (a
  * multi-GB `df.count()` must never serialize unrelated queries);
  * concurrent callers of the same key rendezvous on one in-flight
  * build. A hit is validated against the CURRENT session and its
  * `spark.sql.shuffle.partitions` — an entry built under a stopped
  * session or a different partitioning is rebuilt, not returned (the
  * scale probes flip both).
  */
private[graft] object IterCache {

  /** In-memory byte budget across all live entries. 4 GiB holds every
    * sf0.1 bench-lane edge frame simultaneously (the five graph lanes
    * total well under 1 GiB — the documented ~2 s/pass rebuild churn at
    * the old count cap goes away) while still evicting ahead of a 100×
    * probe's ~4 GB frames. Env-overridable for probes.
    */
  private val DefaultMaxBytes: Long =
    graft.EnvKnob.positive("SPARK_GRAFT_ITERCACHE_BYTES", 4L << 30)

  /** Test seam (IterCacheSpec): shrink the budget to force byte
    * eviction on KB-sized fixtures. Reset in a finally.
    */
  @volatile private[graft] var maxBytesOverride: Option[Long] = None
  private def maxBytes: Long = maxBytesOverride.getOrElse(DefaultMaxBytes)

  /** Backstop on entry COUNT so a flood of tiny frames can't grow the
    * registry without bound even far under the byte budget.
    */
  private val MaxEntries = 16

  private final case class Entry(df: DataFrame, bytes: Long,
      session: SparkSession, shufflePartitions: String)

  // accessOrder=true: iteration order = least-recently-USED first
  private val lru =
    new java.util.LinkedHashMap[String, Entry](16, 0.75f, true)

  // per-key in-flight builds: same-key callers share one build, and
  // different-key callers never wait on each other's materialization
  private val building =
    new java.util.HashMap[String, java.util.concurrent.CompletableFuture[DataFrame]]()

  private def currentParts(s: SparkSession): String =
    try s.conf.get("spark.sql.shuffle.partitions") catch { case _: Throwable => "" }

  private def liveBytes: Long = {
    var t = 0L
    val it = lru.values().iterator()
    while (it.hasNext) t += it.next().bytes
    t
  }

  private def unpersistQuietly(df: DataFrame): Unit =
    try df.unpersist(true) catch { case _: Throwable => () }

  /** Return the live frame for `key`, or run `build` (which must end in
    * `.persist()`), materialize it eagerly, register it with its
    * measured in-memory size, and evict least-recently-used entries
    * past the byte budget.
    */
  def getOrBuild(key: String)(build: => DataFrame): DataFrame = {
    var future: java.util.concurrent.CompletableFuture[DataFrame] = null
    var owner = false
    synchronized {
      val hit = lru.get(key)
      if (hit != null) {
        val active = SparkSession.getActiveSession.orNull
        val valid = (active == null || (hit.session eq active)) &&
          (active == null || hit.shufflePartitions == currentParts(active))
        if (valid) return hit.df
        // stale: a different live session or partitioning — the cached
        // plan would replay under the wrong conf; drop and rebuild
        lru.remove(key)
        unpersistQuietly(hit.df)
      }
      val inflight = building.get(key)
      if (inflight != null) future = inflight
      else {
        future = new java.util.concurrent.CompletableFuture[DataFrame]()
        building.put(key, future)
        owner = true
        // PRE-build eviction, while the lock is held and before any
        // memory-hungry materialization starts (the round-11 100×
        // probe OOM'd when the outgoing entry stayed resident through
        // the new build):
        // 1. Cross-volume flush: keys are "name:dir", and an entry from
        //    a DIFFERENT dir can be orders of magnitude larger than
        //    this one — incomparable sizes defeat any shared budget.
        val colon = key.indexOf(':')
        if (colon >= 0) {
          val suffix = key.substring(colon)
          val it0 = lru.entrySet().iterator()
          while (it0.hasNext) {
            val e = it0.next()
            val k = e.getKey
            val c = k.indexOf(':')
            if (c >= 0 && k.substring(c) != suffix) {
              it0.remove()
              unpersistQuietly(e.getValue.df)
            }
          }
        }
        // 2. Headroom: clear LRU entries until live bytes ≤ budget/2 so
        //    the incoming materialization has at least half the budget
        //    free (its size is unknown until it is built).
        val it1 = lru.entrySet().iterator()
        while ((liveBytes > maxBytes / 2 || lru.size >= MaxEntries) && it1.hasNext) {
          val eldest = it1.next()
          it1.remove()
          unpersistQuietly(eldest.getValue.df)
        }
      }
    }
    if (!owner) {
      // rendezvous on the in-flight build, outside the lock — then
      // RE-ENTER rather than returning the joined frame directly: a
      // build that raced a conf flip would hand this caller a frame
      // planned under the wrong shuffle-partitions setting, exactly
      // what the hit validation exists to reject. Re-entry sees the
      // registered entry (completed builds register before their
      // future resolves), validates it, and rebuilds if stale.
      try future.join()
      catch {
        case e: java.util.concurrent.CompletionException if e.getCause != null =>
          throw e.getCause
      }
      return getOrBuild(key)(build)
    }
    try {
      val df = build
      df.count() // materialize OUTSIDE the lock
      // post-materialization InMemoryRelation stats = actual bytes
      // held; clamp the BigInt — an un-persisted plan's ESTIMATED
      // stats can multiply past Long.MaxValue, and BigInt.toLong
      // wraps (possibly negative), which would silently corrupt the
      // budget accounting forever
      val bytes =
        try {
          val b = df.queryExecution.optimizedPlan.stats.sizeInBytes
          if (b > Long.MaxValue) Long.MaxValue
          else if (b < 0) 0L
          else b.toLong
        } catch { case _: Throwable => 0L }
      val session = df.sparkSession
      synchronized {
        // precise post-build eviction to the full budget (a single
        // over-budget entry is still admitted — alone)
        val it = lru.entrySet().iterator()
        while ((liveBytes + bytes > maxBytes || lru.size >= MaxEntries) && it.hasNext) {
          val eldest = it.next()
          it.remove()
          unpersistQuietly(eldest.getValue.df)
        }
        lru.put(key, Entry(df, bytes, session, currentParts(session)))
      }
      future.complete(df)
      df
    } catch {
      case t: Throwable =>
        future.completeExceptionally(t)
        throw t
    } finally {
      synchronized { building.remove(key) }
    }
  }

  /** Test seam: the recorded size of a live entry. */
  private[graft] def entryBytes(key: String): Option[Long] = synchronized {
    Option(lru.get(key)).map(_.bytes)
  }
}
