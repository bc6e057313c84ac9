package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Lifecycle of plan-reuse persists (Dedup signature/pair tables,
  * Similarity codebooks, the declared shared frames).
  *
  * These operators persist small intermediates that their plans reference
  * from multiple subtrees (self-join sides, codebook consumers) — without
  * the persist, Spark re-executes the full upstream pipeline once per
  * reference. Across queries, a consumer that rebuilds the same plan
  * reads the cached relation (CacheManager `sameResult`).
  *
  * Bound: between clears, at most one tracked frame per distinct
  * [[reuse]] plan (reusing a cached plan is a hit, not a new frame), and
  * a [[scoped]] block's own frames are released when it ends. Nothing
  * else unpersists: frames live until [[releaseAll]] or an external
  * `spark.catalog.clearCache()`. `stats("live_max")` shows the bound.
  */
private[graft] object PlanCache {
  private val live = ArrayBuffer.empty[DataFrame]
  // frames persisted by the calling thread inside its innermost scope
  private val scope = new ThreadLocal[ArrayBuffer[DataFrame]]

  // `hits` = reuse() found the plan already cached; `misses` = a new
  // persist was issued; `live_max` = most tracked frames held at once
  // since resetStats.
  private var nHits, nMisses, liveMax = 0L

  /** Persist (MEMORY_AND_DISK) unless the plan is already cached. */
  def reuse(df: DataFrame): DataFrame = synchronized {
    if (df.storageLevel != StorageLevel.NONE) nHits += 1
    else {
      nMisses += 1
      df.persist(StorageLevel.MEMORY_AND_DISK)
      live += df
      liveMax = math.max(liveMax, live.size)
      Option(scope.get).foreach(_ += df)
    }
    df
  }

  /** Run `body`, then unpersist what [[reuse]] persisted on this thread
    * inside it; frames cached before (hits) survive. For per-batch work,
    * such as a streaming micro-batch, whose frames no later batch shares. */
  def scoped[A](body: => A): A = {
    val outer = scope.get
    val own = ArrayBuffer.empty[DataFrame]
    scope.set(own)
    try body
    finally {
      scope.set(outer)
      synchronized {
        own.foreach(_.unpersist(blocking = false))
        live.filterInPlace(df => !own.exists(_ eq df))
      }
    }
  }

  def releaseAll(): Unit = synchronized {
    live.foreach(_.unpersist(blocking = false))
    live.clear()
  }

  /** Drop tracking of frames an external `clearCache()` uncached. Only
    * tidies `live`: with nothing unpersisting mid-pass, an unpaired
    * clearCache can no longer uncache a live frame. */
  def pruneStale(): Unit = synchronized {
    live.filterInPlace(_.storageLevel != StorageLevel.NONE)
  }

  /** Counter snapshot for bench telemetry; see the field comment. */
  def stats: Map[String, Long] = synchronized(Map("hits" -> nHits,
    "misses" -> nMisses, "live" -> live.size.toLong, "live_max" -> liveMax))

  /** Zero the counters (between bench passes; occupancy is untouched). */
  def resetStats(): Unit = synchronized {
    nHits = 0; nMisses = 0; liveMax = live.size
  }
}
