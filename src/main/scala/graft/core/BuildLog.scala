package graft.core

/** JVM-lifetime registry of one-time ingest-amortized build costs: every
  * [[Artifacts]] table build, model training run and WARC container pack
  * records its wall time here. graft.Bench emits the
  * registry as its own JSON line so a consumer can separate query-time
  * cost (the converged headline, which rides these caches) from the
  * ingest cost paid once per JVM in rep 1 — without this, converged
  * totals silently exclude work that earlier rounds' numbers included.
  */
object BuildLog {
  private val log =
    new java.util.concurrent.ConcurrentHashMap[String, Double]()

  /** Run `build`, recording its wall time under `name` (accumulating if
    * the same name builds twice, e.g. two corpora per JVM). */
  def timed[T](name: String)(build: => T): T = {
    val t0 = System.nanoTime()
    try build
    finally log.merge(name, (System.nanoTime() - t0) / 1e9, (a, b) => a + b)
  }

  /** Record an explicit entry without timing anything — e.g. the
    * zero-cost cache-hit marker a pre-existing WARC pack leaves so the
    * bench's cache_builds line still names the ingest artifact its
    * converged timings ride (ADVICE r11: a silent fingerprint hit made
    * the build ledger under-report). */
  def record(name: String, seconds: Double): Unit =
    log.merge(name, seconds, (a, b) => a + b)

  /** Snapshot of (build name -> accumulated seconds), insertion-unordered. */
  def snapshot(): Map[String, Double] = {
    val b = Map.newBuilder[String, Double]
    log.forEach((k, v) => b += (k -> v))
    b.result()
  }
}
