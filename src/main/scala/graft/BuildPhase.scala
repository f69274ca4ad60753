package graft

/** Wall-clock accounting for the artifact-BUILD phase of a query, so
  * the bench can report {build_s, serve_s} per query instead of one
  * number that conflates artifact writes with the gated read.
  *
  * Contract: every [[SessionMemo]] build is build-phase time, charged
  * by `SessionMemo` itself. [[timed]] is for the rest only: per-rep
  * artifact writes that are not memos (a versioned commit, a vacuum
  * sweep). Never wrap a memo in it.
  *
  * Thread-local: [[Bench]] runs queries serially on the driver thread,
  * and builders that launch Spark jobs still block the submitting
  * thread, so the span is attributable without any cross-thread
  * bookkeeping. Bench [[drain]]s the accumulator after each rep and
  * reports serve = wall − build. Outside the bench the wrapper is a
  * no-op beyond two nanoTime reads. */
object BuildPhase {
  private val acc = new ThreadLocal[java.lang.Double] {
    override def initialValue(): java.lang.Double = 0.0
  }
  private val depth = new ThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }

  /** Run `body`, charging its wall time to the current query's build
    * phase. Nesting-safe: only the OUTERMOST span is added, so a
    * builder that calls another charged builder does not double-count. */
  def timed[T](body: => T): T = {
    val t0 = System.nanoTime()
    depth.set(depth.get + 1)
    try body finally {
      depth.set(depth.get - 1)
      if (depth.get == 0) acc.set(acc.get + (System.nanoTime() - t0) / 1e9)
    }
  }

  /** Read and reset the accumulated build seconds for this thread. */
  def drain(): Double = { val v = acc.get.doubleValue; acc.set(0.0); v }
}
