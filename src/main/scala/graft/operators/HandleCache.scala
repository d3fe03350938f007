package graft.operators

/** Bounded per-JVM cache of built serving handles — the ONE owner of the
  * memo and eviction logic every serving family's `buildCached` uses
  * ([[IvfAdcIndex]], the NSW graph, and the SQ8 / matryoshka / binary
  * [[CodedIndex]] families). The timed work of a serving-path gate is
  * the SEARCH/round-trip/stream drain; the build amortizes across calls
  * exactly as a production index amortizes across query batches. Semantics identical to a fresh build (training
  * and encoding are deterministic per dataset; the shared oracles
  * replay construction either way).
  *
  * Keys come from [[HandleCache.key]], which folds in the corpus's
  * canonicalized plan hash and the owning session's UUID (not just the
  * caller-supplied key): two callers passing the same key with
  * different corpus frames — full vs base-only vs MIPS-augmented — get
  * their own handles, and a handle built on a stopped session is never
  * served to a new one.
  *
  * Eviction releases ONE arbitrary entry instead of clearing wholesale,
  * so hot entries survive; locking is per key (`computeIfAbsent`), so
  * builds for different keys proceed in parallel; two racing first-time
  * callers can transiently overshoot `max` by one — bounded and
  * self-correcting on the next call. Callers must NOT
  * release a cached handle: the cache owns it. */
private[operators] final class HandleCache[T](max: Int,
    releaseFn: T => Unit) {
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, T]()

  def get(k: String)(build: => T): T = {
    if (cache.size >= max && !cache.containsKey(k)) {
      val it = cache.keys()
      if (it.hasMoreElements) {
        val victim = it.nextElement()
        val evicted = cache.remove(victim)
        // a victim whose session has since stopped can't unpersist —
        // dropping the handle is the right outcome either way; null
        // means another evictor won the race, equally fine
        if (evicted != null)
          try releaseFn(evicted)
          catch { case _: IllegalStateException => () }
      }
    }
    cache.computeIfAbsent(k, _ => build)
  }
}

private[operators] object HandleCache {
  /** The canonical cache key: caller key (a data dir — canonicalized) +
    * family parameters + corpus plan hash + session UUID. */
  def key(corpus: org.apache.spark.sql.DataFrame, cacheKey: String,
      params: String): String = {
    val sessionToken =
      org.apache.spark.sql.graftbridge.ColumnBridge.sessionUUID(
        corpus.sparkSession)
    s"${new java.io.File(cacheKey).getCanonicalPath}|$params" +
      s"|${corpus.queryExecution.analyzed.semanticHash()}|$sessionToken"
  }
}
