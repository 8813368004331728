package graft

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Lifetime scope for operator-INTERNAL persists/checkpoints (the
  * MLlib-style contract: an operator may cache an intermediate its result
  * reads more than once — the bucketed LSH sides, the exploded substring
  * starts, the label-propagation checkpoint — and the storage outlives
  * the call because the result consumes it lazily).
  *
  * Without a scope, behavior is unchanged: the CALLER releases storage
  * when done (`spark.catalog.clearCache()` per query, as Verify/Bench
  * do). A library user looping operators over many corpora instead wraps
  * each unit of work:
  *
  * {{{
  * val kept = CacheScope.withCaches {
  *   val pairs = Dedup.minHashLshPairs(docs)        // persists internally
  *   Dedup.keepRepresentatives(docs, pairs).count() // consume INSIDE
  * }
  * // every operator-internal cache/checkpoint from the block is released
  * }}}
  *
  * The scope must close AFTER the results are consumed: plain caches
  * recompute if re-used past the scope (correct, just slower), but a
  * released label-propagation CHECKPOINT has truncated lineage — its
  * DataFrame is unusable afterwards (the GraftCheckpointShim contract).
  * Scopes nest (innermost wins) and are per-thread.
  */
object CacheScope {
  private val scopes = new ThreadLocal[List[ListBuffer[() => Unit]]] {
    override def initialValue: List[ListBuffer[() => Unit]] = Nil
  }

  /** Register a release action with the innermost active scope; no-op
    * without one (the caller-releases contract stays in force).
    */
  private[graft] def onExit(release: () => Unit): Unit =
    scopes.get() match {
      case head :: _ => head += release; ()
      case Nil       => ()
    }

  /** Persist `ds`, registering its release with the ambient scope. All
    * operator-internal persists route through here.
    */
  private[graft] def persist[T](ds: Dataset[T], level: StorageLevel): Dataset[T] = {
    val p = ds.persist(level)
    onExit(() => { p.unpersist(blocking = false); () })
    p
  }

  private[graft] def persist[T](ds: Dataset[T]): Dataset[T] =
    persist(ds, StorageLevel.MEMORY_AND_DISK)

  /** Drop EVERY piece of persistent storage in the session — the
    * between-queries teardown Bench/Verify share. `clearCache` alone
    * misses checkpoint RDDs (clusterLabels keeps its final labels
    * checkpoint alive); callers rebuild fresh plans per query, so
    * dropping every persistent RDD is safe.
    */
  def releaseAllStorage(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** Run `body`; on exit release every cache/checkpoint the graft
    * operators created inside it (LIFO). Exceptions in `body` still
    * release — the scope is also the leak guard on the failure path.
    */
  def withCaches[A](body: => A): A = {
    val buf = ListBuffer.empty[() => Unit]
    scopes.set(buf :: scopes.get())
    var bodyException: Throwable = null
    try body
    catch { case e: Throwable => bodyException = e; throw e }
    finally {
      scopes.set(scopes.get().tail)
      // every release runs even if one throws: a failing release must
      // neither leave earlier-registered caches leaked nor mask the
      // body's real exception — on the failure path it rides along as a
      // suppressed exception instead of being dropped
      var firstFailure: Throwable = null
      buf.reverseIterator.foreach { r =>
        try r()
        catch {
          case scala.util.control.NonFatal(e) =>
            if (bodyException != null) bodyException.addSuppressed(e)
            else if (firstFailure == null) firstFailure = e
        }
      }
      if (firstFailure != null && bodyException == null) throw firstFailure
    }
  }
}
