package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.storage.StorageLevel

/** Lifecycle registry for operator-internal persisted intermediates.
  *
  * Multi-pass operators (dedup, similarity, size-batching) persist frames
  * that are consumed more than once INSIDE one logical result — the
  * postings index both sides of a self-join, the cell assignment feeds the
  * radii pass and both pair-join sides. Those frames must stay cached until
  * the caller materializes the result, so the operator cannot unpersist
  * them itself; but left alone in a long-lived session they accumulate
  * executor storage until eviction pressure degrades unrelated jobs.
  *
  * Every such persist registers here; a session-level caller releases them
  * between jobs with [[releaseAll]] (harness twins: `Bench` clears between
  * timed queries, `Verify` between dumped queries). Frames whose last
  * consumer is INSIDE the operator are not registered — they are
  * unpersisted eagerly at the internal materialization point instead, or
  * dropped early with [[release]].
  */
object ScratchCache {
  // each registered frame with the action that frees its storage
  private val frames =
    scala.collection.mutable.ArrayBuffer.empty[(Dataset[_], () => Unit)]

  /** Register an operator-internal persisted frame for later release. */
  private[graft] def register[T <: Dataset[_]](df: T): T = synchronized {
    frames += (df -> (() => df.unpersist()))
    df
  }

  /** Materialize `df` now and return a lineage-cut view of it: a leaf
    * over its persisted rows that keeps `df`'s output partitioning and
    * statistics (see `Bridge.materializedLeaf`). For a frame that many
    * later plans embed, where a persisted frame would carry — and
    * re-render at every execution — its whole cached plan. Registered:
    * [[releaseAll]] or [[release]] unpersists the rows. Costs one job. */
  private[graft] def leaf(df: DataFrame): DataFrame = {
    val (view, rows) = org.apache.spark.sql.graftbridge.Bridge
      .materializedLeaf(df, StorageLevel.MEMORY_AND_DISK)
    synchronized { frames += (view -> (() => rows.unpersist(blocking = false))) }
    view
  }

  /** Free one registered frame now (its last consumer has run) and
    * forget it; an unregistered frame is left alone. */
  private[graft] def release(df: Dataset[_]): Unit = synchronized {
    frames.filterInPlace { case (f, free) =>
      if (f eq df) { free(); false } else true
    }
  }

  /** Unpersist every registered frame (blocking=false) and forget them.
    * Safe to call between jobs; a released frame that is re-read simply
    * recomputes — leaves included, from their lineage. */
  def releaseAll(): Unit = synchronized {
    frames.foreach(_._2())
    frames.clear()
  }

  /** Number of currently-registered frames (monitoring/tests). */
  def registered: Int = synchronized(frames.size)
}
