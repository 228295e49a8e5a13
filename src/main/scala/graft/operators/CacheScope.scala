package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Lifecycle handle for frames persisted INSIDE operator pipelines
  * (LSH signatures, candidate pairs, shingle sets): the operators need
  * the persist — their plans read those frames several times — but the
  * frames are unreachable from the returned DataFrame, so without a
  * handle a long-lived session accumulates storage until a global
  * `spark.catalog.clearCache()` (round-2 advisor finding).
  *
  * Callers that care pass a scope and close it after the consuming
  * action:
  * {{{
  * scala.util.Using.resource(new CacheScope()) { scope =>
  *   Dedup.nearDuplicates(docs, $"doc_id", $"text", 0.8, cfg, scope).count()
  * } // internal signature/candidate caches released here
  * }}}
  *
  * The default [[CacheScope.unmanaged]] scope preserves the fire-and-forget
  * behavior (frames stay cached until `clearCache()` — what the shipped
  * Bench/Verify harnesses do between queries). Closing is safe while the
  * returned DataFrame is still referenced: unpersist only drops the cached
  * blocks, later actions recompute.
  */
final class CacheScope private (track: Boolean) extends AutoCloseable {
  def this() = this(track = true)

  private val frames = new ConcurrentLinkedQueue[DataFrame]()

  /** Persist `df` (MEMORY_AND_DISK) and, unless this is
    * [[CacheScope.unmanaged]], track it for release. */
  private[graft] def persist(df: DataFrame): DataFrame = {
    if (track) frames.add(df)
    df.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Unpersist every tracked frame (non-blocking). Idempotent. */
  override def close(): Unit = {
    var df = frames.poll()
    while (df != null) { df.unpersist(false); df = frames.poll() }
  }
}

object CacheScope {
  /** Shared never-closed scope: persisted frames live until the session
    * clears its cache. The default for callers that manage caching
    * globally. It tracks nothing, so `close` is a no-op and a frame it
    * persisted is collectable once `clearCache()` drops the cache entry
    * (a tracking queue nobody drains would hold every frame, codebook
    * literals included, for the life of the JVM). */
  val unmanaged: CacheScope = new CacheScope(track = false)
}
