package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Tracks operator-internal persisted tables so a COMPOSING caller can
  * release them once its own downstream results are materialized or
  * checkpoint-cut. Library operators can't unpersist what their returned
  * lazy plans still reference; a scope gives the owner of the final action
  * the handles.
  *
  * Each operator persists at one fixed level. Only [[Dedup.ngramJaccard]]
  * takes a scope — [[CorpusPipeline.clean]] passes its own and releases
  * it once the cleaned frame is counted:
  *
  * {{{
  *   val scope = new CacheScope
  *   val pairs = Dedup.ngramJaccard(docs, "text", "id", scope = scope)
  *   ... // consume pairs fully (count / write / checkpoint)
  *   scope.release()
  * }}}
  *
  * Every other operator persists into [[CacheScope.untracked]], whose
  * bounded FIFO is what keeps a long-lived session (notebook, service)
  * from accumulating executor storage.
  */
class CacheScope {
  private val tracked = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  protected def record(df: DataFrame): Unit = synchronized { tracked += df }

  /** Persist `df` at `level` and remember the handle for [[release]]. */
  private[graft] def persisted(df: DataFrame, level: StorageLevel): DataFrame = {
    df.persist(level); record(df); df
  }

  /** Unpersist (non-blocking) everything registered in this scope. */
  def release(): Unit = synchronized {
    tracked.foreach(_.unpersist(false))
    tracked.clear()
  }
}

object CacheScope {
  /** How many persisted intermediates the default scope keeps live before
    * evicting the oldest. Generously above any single operator
    * invocation's concurrent needs (the largest holder, semdedup's split
    * loop, unpersists superseded rounds itself and holds ≤ 2 at a time;
    * the candidate-pair ops hold 1-2), so eviction only ever hits
    * ALREADY-CONSUMED intermediates from earlier invocations. */
  private val MaxUntracked = 64

  /** The scope every operator but [[Dedup.ngramJaccard]] (and that one
    * when its caller passes none) persists into. Earlier rounds persisted
    * WITHOUT keeping handles, which meant every invocation in a long-lived
    * session (notebook, service, test suite) accumulated MEMORY_AND_DISK
    * blocks until session end — unlike `localCheckpoint` blocks, DataFrame
    * caches are registered in the session CacheManager and are never
    * reclaimed by GC. Now a bounded FIFO: beyond [[MaxUntracked]] live
    * handles the oldest is unpersisted (non-blocking). Safe because every
    * scope-persisted intermediate in this codebase is a DETERMINISTIC
    * plan (minhash/band hashes, xxhash-seeded Voronoi assignments) — a
    * worst-case eviction recomputes identical rows, it can never change
    * them. */
  val untracked: CacheScope = new CacheScope {
    private val fifo = new java.util.ArrayDeque[DataFrame]()
    override protected def record(df: DataFrame): Unit = synchronized {
      // handles from STOPPED sessions pin their whole SessionState (plan
      // tree, catalog, conf) and their blocks died with the context —
      // purge them first so a suite that spins sessions up and down never
      // retains dead sessions behind the live FIFO window
      val it = fifo.iterator()
      while (it.hasNext) {
        val stopped =
          try it.next().sparkSession.sparkContext.isStopped
          catch { case scala.util.control.NonFatal(_) => true }
        if (stopped) it.remove()
      }
      fifo.addLast(df)
      while (fifo.size() > MaxUntracked) {
        try fifo.pollFirst().unpersist(false)
        catch { case scala.util.control.NonFatal(_) => }
      }
    }
  }
}
