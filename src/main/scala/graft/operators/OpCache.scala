package graft.operators

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Last-call persist slot for an operator whose plan fans out to several
  * consumers of one expensive subtree (signature/sketch kernels feeding
  * bucket counts AND both sides of the capped self-join — without a
  * materialization point the kernel pass runs once PER consumer, and at
  * 100 TB the signature computation is the dominant cost of the whole
  * dedup pass).
  *
  * The operator result is lazy, so there is no in-function point to
  * unpersist at; instead each call releases the PREVIOUS call's cache
  * (the CTAS-registry pattern), bounding a long-lived session at one
  * cached frame per slot. The FINAL frame stays pinned by this slot
  * until the next call or process exit — the static reference keeps
  * its plan reachable, so ContextCleaner never reclaims it; that is
  * the documented cost of the pattern, one bounded frame per slot.
  * `unpersist(blocking = false)` on a frame still being consumed is
  * safe — Spark recomputes evicted partitions.
  */
private[graft] final class LastCallCache {
  private val ref = new AtomicReference[DataFrame](null)
  // register AFTER `ref` is initialized: the registry is global, and a
  // concurrent releaseAll() (racing another thread's operator
  // construction) must never observe a half-built slot and NPE on
  // ref.getAndSet (r11 advisor)
  LastCallCache.register(this)

  /** Drop this slot's pinned frame (see LastCallCache.releaseAll). */
  def release(): Unit =
    Option(ref.getAndSet(null)).foreach { prev =>
      try prev.unpersist(blocking = false)
      catch { case scala.util.control.NonFatal(_) => }
    }

  def apply(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    Option(ref.getAndSet(p)).foreach { prev =>
      // defensive: the previous frame may belong to a STOPPED session
      // (suites create a session each); releasing it must not abort
      // the first call made from the fresh session.
      // sameResult guard: consecutive calls on the SAME input share ONE
      // CacheManager entry (persist keys on the canonicalized plan), so
      // unpersisting the previous frame would evict the cache just
      // handed out — exactly when the operator repeats
      try {
        if (!prev.queryExecution.analyzed.sameResult(p.queryExecution.analyzed))
          prev.unpersist(blocking = false)
      } catch { case scala.util.control.NonFatal(_) => }
    }
    p
  }
}

private[graft] object LastCallCache {
  // every slot ever constructed (operators hold them as static vals, so
  // this is a handful of entries, never growth-unbounded)
  private val all = new java.util.concurrent.CopyOnWriteArrayList[LastCallCache]()
  private def register(c: LastCallCache): Unit = { all.add(c); () }

  /** Release EVERY slot's pinned frame. One caller: Verify, after each
    * query — a slot releases its frame only on the operator's NEXT
    * call, which never comes in a one-pass run, so the pinned frame
    * would hold executor memory through every later query. Normal
    * sessions never need this; evicted frames recompute on next use. */
  def releaseAll(): Unit = all.forEach(_.release())
}
