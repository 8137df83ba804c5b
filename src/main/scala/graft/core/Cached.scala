package graft.core

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one owner of every persisted frame in the engine. Baker runs a
  * topology in one pass and keeps nothing; a frame is persisted here only
  * where a plan consumes it several times (iterative training, a store
  * snapshot read by two writes, a dedup input probed by several joins) and
  * re-running its lineage per consumer would repeat the expensive part.
  *
  * Level: always [[Level]] = `MEMORY_AND_DISK`. Blocks that do not fit in
  * executor memory spill to local disk instead of being dropped, so a
  * persisted O(corpus) frame never pins O(corpus) heap and never silently
  * degrades into a recompute per consumer.
  *
  * Release: [[release]] is non-blocking (it un-marks the blocks; a plan
  * still running over the frame computes correct results from lineage)
  * and a no-op once the frame's SparkContext has stopped (its blocks died
  * with the executors; a later session must not fail reclaiming them).
  *
  * Lifetime, two shapes:
  *  - [[scoped]]: persisted for the duration of `body`, released in
  *    `finally`, so a failing body leaves no cached blocks behind. Use it
  *    whenever every consumer of the frame runs inside one call.
  *  - [[Slot]]: a frame that must outlive the call that cached it (the
  *    call returns a lazy frame over the cache). The slot holds at most
  *    ONE such frame; holding the next releases the previous occupant.
  *    Slots are JVM-wide, not per session, so nothing pins a dead
  *    session: a frame evicted while another session still reads it
  *    recomputes from lineage — slower, never wrong.
  *
  * When to `count()` first: `persist` is lazy, and when the first
  * consumer's plan holds broadcast exchanges over the frame, AQE runs
  * those broadcast sub-jobs CONCURRENTLY; each finds the cache empty and
  * re-runs the whole lineage to populate it (measured in round 19: up to
  * one full lineage run per sub-job on the perceptual-dedup,
  * exact-substring and topology dedup paths, with "block already exists"
  * warnings). Calling
  * `count()` on the persisted frame inside the body materialises it in
  * ONE job before any such consumer plans against it.
  *
  * When NOT to persist: a frame that feeds several exchange-reuse points
  * of one plan. Under Spark 4.1 AQE the exchanges above a cached scan
  * lose their reuse. Measured on the benchmark's `corpus_turns` workload:
  * a prototype that persisted the curation-funnel output inside
  * `IncrementalDedupStream.batchFunction` made each turn about 2× slower,
  * because the batch-signature exchange then ran 18 times per turn
  * instead of being reused. So that turn persists only its result (the
  * kept rows and their signatures, one frame read by its two writes);
  * the batch reaches its consumers through two exchanges, rows and
  * signatures, that the plan computes once and reuses
  * (`Dedup.incrementalKeptAndSigs`).
  */
object Cached {

  val Level: StorageLevel = StorageLevel.MEMORY_AND_DISK

  /** Persist `df` at [[Level]] (lazy: blocks fill on the first action);
    * pair with [[release]].
    */
  def pin(df: DataFrame): DataFrame = df.persist(Level)

  /** Non-blocking unpersist; a no-op for null or a stopped context. */
  def release(df: DataFrame): Unit =
    if (df != null) {
      try {
        if (!df.sparkSession.sparkContext.isStopped) df.unpersist(blocking = false)
      } catch {
        // the context stopped between the check and the unpersist: its
        // blocks are already gone, which is what release asks for
        case _: IllegalStateException | _: org.apache.spark.SparkException => ()
      }
    }

  /** Persist `df` while `body` runs over it; release in `finally`. */
  def scoped[A](df: DataFrame)(body: DataFrame => A): A = {
    val cached = pin(df)
    try body(cached) finally release(cached)
  }

  /** A one-occupant, JVM-wide holder for a frame that outlives its call. */
  final class Slot {
    private val occupant = new AtomicReference[DataFrame]()

    /** Persist `df`, run `first` over it (the materialising `count()`,
      * where one is due), then make it the occupant and release the
      * previous one. Spark caches by plan, so an occupant whose plan
      * equals `df`'s shares `df`'s cache entry: releasing it after the
      * persist would uncache `df` too. Such an occupant is released
      * BEFORE the persist instead, and `first` fills a fresh entry.
      */
    def hold(df: DataFrame, first: DataFrame => Unit = _ => ()): DataFrame = {
      val prev = occupant.get()
      if (prev != null && samePlan(prev, df)) release(prev)
      val cached = pin(df)
      first(cached)
      val old = occupant.getAndSet(cached)
      if (old != null && (old ne cached) && !samePlan(old, cached)) Cached.release(old)
      cached
    }

    /** Release `df` only if it is still the occupant: a frame a later
      * [[hold]] already replaced was released then, so this is a no-op.
      */
    def release(df: DataFrame): Unit =
      if (occupant.compareAndSet(df, null)) Cached.release(df)

    /** Release whatever frame the slot holds. */
    def release(): Unit = Cached.release(occupant.getAndSet(null))

    /** The two frames resolve to one cache entry: same SparkContext (a
      * stopped owner's entry died with it) and the same result plan.
      */
    private def samePlan(a: DataFrame, b: DataFrame): Boolean =
      (a.sparkSession.sparkContext eq b.sparkSession.sparkContext) &&
        a.queryExecution.analyzed.sameResult(b.queryExecution.analyzed)
  }
}
