package graft.operators

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import org.apache.spark.storage.StorageLevel

/** The one place the two-pass operators pin a relation, and the one place
  * it is released.
  *
  * A two-pass operator ([[TwoPass.prefix]] and its wrappers,
  * [[SurrogateKey.scalable]]) reads its range-sorted relation twice — a
  * per-partition aggregate and the join back. Both reads must see the same
  * range boundaries, so the relation is materialized once by [[pin]]
  * (MEMORY_AND_DISK: it spills rather than evicts, so a pinned partition is
  * never recomputed mid-query). Releasing it before the caller's last
  * action would let the two reads re-sample boundaries and silently
  * duplicate or gap ids, so the release belongs to the caller:
  *
  * {{{
  *   val kept = Pins.scoped {
  *     Sampling.cappedPerStratum(df, Seq("domain"), Seq("id"), 10)
  *       .select("id").collect()
  *   }
  * }}}
  *
  * [[scoped]] releases exactly the pins made inside it on this thread,
  * when the body returns or throws. The body must EXECUTE its actions
  * before it returns: a lazy frame that escapes the scope and is evaluated
  * later runs unpinned. With no open scope a pin stays until
  * `spark.catalog.clearCache()`, the one-shot contract of Bench, Verify
  * and the perfbench harness, which clear the cache after every query.
  *
  * Scopes are per thread. A pin made on another thread (a Future, a
  * streaming micro-batch) joins that thread's innermost scope, never this
  * one's, and a nested scope releases only its own pins.
  */
object Pins {

  /** The constant column [[pin]] adds; callers drop it from their output. */
  private[operators] val TagCol = "__call_tag"

  /** Per-pin tag defeating the CacheManager's plan dedup: two concurrent
    * pins over STRUCTURALLY IDENTICAL inputs would otherwise share one
    * cache entry (persisting an already-cached canonical plan is a no-op),
    * and the first scope's release would unpin the other mid-use. A
    * distinct literal makes every pin's canonical plan unique.
    */
  private val callTag = new AtomicLong(0L)

  /** This thread's innermost open scope; null outside any scope. */
  private val current = new ThreadLocal[ArrayBuffer[DataFrame]]

  /** Persists `df` plus a per-call [[TagCol]] column and records it in
    * this thread's innermost [[scoped]] block, if any.
    */
  private[operators] def pin(df: DataFrame): DataFrame = {
    val pinned = df.withColumn(TagCol, lit(callTag.incrementAndGet()))
      .persist(StorageLevel.MEMORY_AND_DISK)
    Option(current.get).foreach(_ += pinned)
    pinned
  }

  /** Runs `body`, then releases every pin it made on this thread. */
  def scoped[T](body: => T): T = {
    val outer = current.get
    val mine = ArrayBuffer.empty[DataFrame]
    current.set(mine)
    try body
    finally {
      current.set(outer)
      mine.foreach(_.unpersist(blocking = false))
    }
  }
}
