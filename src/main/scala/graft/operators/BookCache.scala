package graft.operators

import org.apache.spark.sql.DataFrame

/** Session-scoped memoizer for TRAINED codebooks — "build the index once,
  * query it many times" as library semantics rather than per-caller
  * discipline.
  *
  * Four of the trained-index gates run the SAME training pipelines from
  * scratch (coarse k-means book: q69 + q76 + q77; the fine residual book:
  * q69 + q77): each training is one-to-two full corpus passes, so a
  * Verify/test sweep that constructs every gate pays the identical work
  * three times over. A production indexing flow never does that — the
  * book is trained once per (corpus, hyperparameters) and every search
  * reuses it. This cache gives call sites that semantics with one line,
  * keyed EXPLICITLY so nothing is inferred:
  *
  * {{{
  * val coarse = BookCache(corpus, s"$dir#coarse:init=lowestIds,k=4,iters=1") {
  *   KMeansCodebook.train(...).localCheckpoint(true)
  * }
  * }}}
  *
  * Key discipline — the key is the correctness boundary: it must encode
  * every input that changes the trained values (source dir, embedding
  * column derivation, init scheme, k, iters, subspace layout). Training
  * is bit-deterministic (fixed-point means, ordered folds — q68's gate),
  * so equal keys over equal source data yield bit-identical books, which
  * is what makes a hit value-transparent (`BookCacheSpec` pins the
  * q69-vs-q77 case: the same book trained through differently-shaped
  * input plans collects identical rows). Distinct pipelines MUST use
  * distinct keys — a reused key with different training code is silently
  * wrong, the same contract as any content-addressed store fed a stale
  * address.
  *
  * Scope and lifetime:
  *   - entries are per-SparkSession (`corpusLike.sparkSession` at build
  *     time): a hit from a different session — a session clone isolates
  *     temp views/conf, and a stopped context cannot serve blocks —
  *     rebuilds instead of cross-wiring plans between sessions;
  *   - values are the call site's own `localCheckpoint(true)` books
  *     (materialized, plan-free), so holding them pins only the
  *     checkpointed blocks — a book is k×dims doubles (kilobytes), and
  *     the map is bounded at [[Bound]] entries (wholesale clear on
  *     overflow, same policy as `IvfIndex.metaCache`);
  *   - `spark.catalog.clearCache()` does NOT drop these (localCheckpoint
  *     persists at the RDD layer, not the catalog's CacheManager) — that
  *     is load-bearing for Verify, which clears the catalog after every
  *     gate precisely so gates stay independent, while the shared books
  *     survive;
  *   - Bench calls [[clear]] between reps: a measured rep must execute
  *     its query's full train+build+search pipeline, or per-query times
  *     stop being comparable across rounds (the sidecar's regression
  *     forensics depend on the measured work staying constant).
  *
  * Source immutability is assumed, as with Spark's own CacheManager: a
  * dir whose parquet changes under an unchanged key must [[clear]] first.
  * [[clear]] is also the one way to rule out a suspected stale book or
  * to measure the cache's effect: every call after it trains afresh.
  */
object BookCache {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]
  private val BoundConst = 32

  /** Entry bound; overflow clears wholesale (never reached by the gate
    * registry — ~6 distinct books per sf dir).
    */
  def Bound: Int = BoundConst

  /** The book for `key`, building (and caching) it on first use.
    * `corpusLike` only identifies the owning session — pass any
    * DataFrame of the same session, typically the training corpus.
    * Entries are slotted per session (session identity is part of the
    * map key, so two live sessions sharing a logical key each keep
    * their own entry instead of thrashing one global slot), and a hit
    * is additionally verified by reference against the caller's session
    * — an identity-hash collision degrades to a rebuild, never to
    * serving another session's plan. Concurrent first calls may build
    * twice (training is deterministic, so both results are identical
    * and either may win the publish); no lock is held around Spark
    * jobs.
    */
  def apply(corpusLike: DataFrame, key: String)(build: => DataFrame): DataFrame = {
    val session = corpusLike.sparkSession
    val slot = s"${System.identityHashCode(session).toHexString}:$key"
    val hit = cache.get(slot)
    if (hit != null && (hit.sparkSession eq session) &&
        !hit.sparkSession.sparkContext.isStopped) {
      hit
    } else {
      val built = build
      if (cache.size >= BoundConst) cache.clear()
      cache.put(slot, built)
      built
    }
  }

  /** Drop every entry (bench rep isolation; source-data changes). The
    * books' checkpointed blocks are released by GC with the dropped
    * references — no explicit unpersist, because a caller may still hold
    * a returned book.
    */
  def clear(): Unit = cache.clear()

  /** Current entry count (spec visibility). */
  def size: Int = cache.size
}
