package graft.sources

/** B3 — retry policy parity: exponential backoff from 10 ms with jitter,
  * 4 attempts (reference: eth_event_stream/src/stream.rs:148-150,
  * :160-166). Two sanctioned contexts: driver-side source RPC with the
  * defaults, and TRANSPORT-level transients inside executor tasks — there
  * callers pass a trimmed budget (e.g. `attempts = 3, initialDelayMs = 5`,
  * ≤ ~15 ms total sleep) so the in-task backoff absorbs connection blips
  * without stacking meaningfully under Spark's own task-retry layer,
  * which remains the authority for everything slower.
  */
object Retry {
  /** `retryIf` narrows WHICH non-fatal errors retry — deterministic
    * protocol errors (e.g. a node's range-limit rejection) should
    * propagate on the first attempt instead of burning the backoff
    * budget on a result that cannot change.
    */
  def withBackoff[T](
      attempts: Int = 4,
      initialDelayMs: Long = 10L,
      jitter: Double = 0.1,
      sleep: Long => Unit = Thread.sleep,
      retryIf: Throwable => Boolean = _ => true)(op: () => T): T = {
    require(attempts >= 1)
    var delay = initialDelayMs
    var last: Throwable = null
    var i = 0
    while (i < attempts) {
      try return op()
      catch {
        // never retry fatal errors; propagate interrupts with the flag set
        case e: InterruptedException =>
          Thread.currentThread().interrupt(); throw e
        case scala.util.control.NonFatal(e) if !retryIf(e) => throw e
        case scala.util.control.NonFatal(e) =>
          last = e
          if (i < attempts - 1) {
            // REAL per-call randomness: a jitter derived only from the
            // attempt index is identical in every task, so 200 executors
            // failing on one node blip would retry in synchronized
            // bursts — exactly what jitter exists to prevent
            val j = (delay * jitter * java.util.concurrent.ThreadLocalRandom
              .current().nextDouble()).toLong
            sleep(delay + j)
            delay *= 2
          }
      }
      i += 1
    }
    throw last
  }
}
