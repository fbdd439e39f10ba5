package graft

import java.util.concurrent.atomic.AtomicLong

/** Central registry of driver-side memo caches.
  *
  * Before this object existed, `Registry.clearMemos()` listed each memo
  * site by hand and had to be kept in lockstep with every `memoizes =
  * true` row — a future memoizing row that set the flag but was missed
  * there would make the bench's `min2_memo_cleared` pass silently time
  * the memo HIT as plan cost, exactly the attribution bug the pass
  * exists to prevent (ADVICE r13). Now every memo is a [[Memo]], which
  * registers itself when constructed, and `clearMemos` simply iterates
  * the registry: the lockstep is structural, not manual.
  * MemoCouplingSpec closes the remaining gap mechanically — a
  * `memoizes = true` row whose cache is NOT a [[Memo]] fails the spec
  * (its cleared-run bumps no registered compute counter).
  */
object Memos {

  private val memos = scala.collection.mutable.ArrayBuffer.empty[Memo[_, _]]

  private[graft] def register(m: Memo[_, _]): Unit =
    memos.synchronized { memos += m }

  private[graft] def all: Seq[Memo[_, _]] = memos.synchronized(memos.toList)

  /** Sum of every registered cache's recompute counter — a cleared run
    * of any memoizing row must strictly increase this. */
  private[graft] def totalComputes(): Long = all.map(_.computes).sum

  private[graft] def clearAll(): Unit = all.foreach(_.clear())
}

/** One driver-side memo cache, registered in [[Memos]] on construction.
  *
  * A miss computes OUTSIDE the lock, so two concurrent misses on the
  * same key may both compute (the later result wins; memoized values
  * are deterministic functions of the key) but a slow compute never
  * blocks hits on other keys.
  *
  * @param name stable id for diagnostics/spec messages
  */
final class Memo[K, V](val name: String) {
  private val entries = scala.collection.mutable.Map.empty[K, V]
  private val misses  = new AtomicLong(0L)

  def apply(key: K)(compute: => V): V =
    entries.synchronized(entries.get(key)) match {
      case Some(v) => v
      case None =>
        val v = compute
        misses.incrementAndGet()
        entries.synchronized(entries.update(key, v))
        v
    }

  /** Drop every entry (forces the next run to recompute). */
  def clear(): Unit = entries.synchronized(entries.clear())

  /** Current number of memoized entries. */
  def size: Int = entries.synchronized(entries.size)

  /** Monotone count of actual RECOMPUTES (cache misses that ran the
    * real computation) since JVM start — the probe MemoCouplingSpec
    * uses to tell a memo hit from a recompute. */
  def computes: Long = misses.get()

  Memos.register(this)
}
