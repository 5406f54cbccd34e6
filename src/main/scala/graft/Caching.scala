package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Tracked persists for reused query intermediates.
  *
  * Several query builders persist a frame that feeds two or more downstream
  * joins (the k-means assignment behind `dedup_semantic`, the SRP signature
  * table, the components edge list, and the band or postings table of
  * every [[graft.operators.PairJoin.selfJoin]], which is hash-partitioned
  * before the persist so both sides of the self-join read it with no
  * exchange). The driver
  * harnesses drop those wholesale with `spark.catalog.clearCache()` between
  * queries, but an application embedding this library in a long-lived
  * session needs a targeted release that does not clobber its OWN caches:
  * every internal persist goes through [[persistTracked]], and
  * [[releaseAll]] unpersists exactly those — nothing else.
  *
  * Ownership, stated precisely: the registry keys sessions WEAKLY and
  * holds tracked frames STRONGLY, so [[releaseAll]] is fully reliable for
  * a live session — nothing tracked can be lost to GC before release.
  * The strong frame references DO keep an abandoned-without-release
  * session's object graph reachable (a Dataset references its session),
  * but that adds no retention beyond what `persist()` itself already
  * created: Spark roots every cached plan in the context-wide SHARED
  * `CacheManager`, and a parquet-backed plan references its session
  * (`HadoopFsRelation.sparkSession`), so an un-released persisted frame
  * pins its session and its cached blocks until `unpersist`/
  * `clearCache()`/context stop REGARDLESS of any registry design — a
  * weak-reference registry would merely forfeit reliable release while
  * freeing nothing (and a buffer parked on the session's listener manager
  * is no better: `ExecutionListenerManager.register` roots the listener
  * bus in the context-shared `LiveListenerBus`). The real contract is
  * therefore behavioral, not structural: **call [[releaseAll]] before
  * abandoning a session**; the coarse backstop for a session abandoned
  * without release is `spark.catalog.clearCache()`, exactly as for any
  * other forgotten `persist()`.
  *
  * Within a live session the buffer self-compacts on each new persist by
  * dropping frames whose storage level has already reverted to NONE
  * (e.g. via `clearCache()`), so it is bounded by the number of frames
  * actually still cached. One session's `releaseAll()` cannot unpersist
  * another concurrent session's in-flight intermediates — isolation is
  * per session key.
  *
  * Contract: a query's returned DataFrame must be materialized before
  * [[releaseAll]] is called (releasing earlier is safe but forfeits the
  * reuse the persist exists for). `CacheHygieneSpec` pins that a
  * materialize-then-release round leaves zero cached RDDs behind.
  */
object Caching {

  private val tracked =
    mutable.WeakHashMap.empty[SparkSession, mutable.ArrayBuffer[DataFrame]]

  /** Persist `df` at MEMORY_AND_DISK and remember it for [[releaseAll]]
    * under its own session. */
  private[graft] def persistTracked(df: DataFrame): DataFrame = synchronized {
    val buf = tracked.getOrElseUpdate(df.sparkSession,
      mutable.ArrayBuffer.empty[DataFrame])
    buf.filterInPlace(f =>
      try f.storageLevel != StorageLevel.NONE catch { case _: Throwable => false })
    buf += df
    df.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Unpersist every frame tracked for `session` and forget it. Blocking,
    * so storage is verifiably empty on return; idempotent, and a frame
    * already released by `clearCache()` unpersists as a no-op. */
  def releaseAll(session: SparkSession): Unit = synchronized {
    tracked.remove(session).foreach(_.foreach { df =>
      try df.unpersist(blocking = true)
      catch { case _: Throwable => () }
    })
  }

  /** [[releaseAll]] for the calling thread's active session, falling back
    * to the process default session; a no-op when neither exists. */
  def releaseAll(): Unit =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(releaseAll)
}
