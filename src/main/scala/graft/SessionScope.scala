package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/**
 * One-shot per-session cleanup hook for graft's one session-keyed
 * registry, [[SessionCache]] (its memos and tracked checkpoints).
 *
 * Why a listener and not a sweep: the registries used to call a
 * `sweepStopped()` map walk on every lookup, which (a) put a
 * keys-traversal + `sparkContext.isStopped` probe on the hottest call
 * paths (every `t()` table read, every tracked checkpoint), and (b)
 * still retained a stopped session forever when no LATER graft call
 * happened to run the sweep — the round-10 ADVICE retention note. An
 * `onApplicationEnd` listener inverts control: the context itself
 * triggers the cleanup exactly once at stop, the hot paths carry
 * zero bookkeeping, and a session that stops silently is still freed.
 *
 * Registration is idempotent per (tag, session). Stop races are closed
 * on the registering side: a hook registered on an already-stopped
 * context fires immediately; a context that stops WHILE the listener is
 * being added is caught by a post-registration `isStopped` re-check
 * (SparkContext sets its stopped flag before ApplicationEnd is
 * dispatched, so a missed dispatch implies the re-check sees it), and a
 * listener bus that already shut down surfaces as IllegalStateException
 * and fires the hook inline. A hook may therefore fire twice in these
 * windows — cleanups are registry removals and must stay idempotent.
 */
private[graft] object SessionScope {
  private val hooked = scala.collection.concurrent.TrieMap
    .empty[(String, SparkSession), Unit]

  /** Run `cleanup` when `s`'s SparkContext ends. Idempotent per
    * (tag, session); `cleanup` must tolerate running more than once
    * (stop-race double fire) and must not touch executor state (the
    * context is already down). */
  def onStop(tag: String, s: SparkSession)(cleanup: () => Unit): Unit = {
    val key = (tag, s)
    // insert-first (not getOrElseUpdate): the immediate-fire paths below
    // run `hooked.remove(key)` inside what would be the update block, and
    // getOrElseUpdate would re-insert the key AFTER the block — leaking a
    // permanent entry that strongly retains the stopped session
    if (hooked.putIfAbsent(key, ()).isEmpty) {
      def fire(): Unit = { hooked.remove(key); cleanup() }
      if (s.sparkContext.isStopped) fire()
      else try {
        s.sparkContext.addSparkListener(new SparkListener {
          override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
            fire()
        })
        if (s.sparkContext.isStopped) fire()
      } catch {
        // LiveListenerBus already stopped — the context is down
        case _: IllegalStateException => fire()
      }
    }
  }

  /** Test probe: hooks registered and not yet fired. */
  private[graft] def pendingHooks: Int = hooked.size
}
