package graft

import org.apache.spark.sql.DataFrame

/** One pipeline-run's worth of persisted intermediates — see [[Caches]]
  * for why persists need an owner. Scopes are independent: releasing
  * one never touches another's registrations, which is what lets two
  * pipelines run concurrently without stealing each other's cached
  * self-join subplans.
  */
final class CacheScope {
  private val active =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[Any, DataFrame]()
  private val slots =
    new java.util.concurrent.ConcurrentHashMap[Any, (Any, DataFrame)]()

  /** Persist `df` and register it for release with this scope. */
  def persist(df: DataFrame): DataFrame = {
    active.add(df)
    df.persist()
  }

  /** The memoizing flavor: build-and-persist at most once per `key`
    * within this scope's lifetime. Shared self-join relations (the
    * SimHash banded table feeds BOTH the near-dup pairer and the
    * Hamming retriever) call through here so two consumers in one
    * scope share one cached copy instead of racing two identical
    * persists. Cleared on [[release]] with the persists it guards.
    */
  def getOrPersist(key: Any, build: => DataFrame): DataFrame =
    memo.computeIfAbsent(key, _ => persist(build))

  /** The versioned flavor: at most one persisted frame per `slot`.
    * The frame built at `version` is reused while the version holds;
    * a new version unpersists the superseded frame before building
    * its successor, so a long-lived scope never accumulates one frame
    * per version. Cleared on [[release]] with everything else.
    */
  def persistSlot(slot: Any, version: Any, build: => DataFrame): DataFrame =
    slots.compute(slot, (_, held) =>
      if (held != null && held._1 == version) held
      else {
        if (held != null) {
          active.remove(held._2)
          held._2.unpersist(blocking = false)
        }
        (version, persist(build))
      })._2

  /** Unpersist every registered intermediate (non-blocking: block frees
    * proceed asynchronously while the next query starts).
    */
  def release(): Unit = {
    memo.clear()
    slots.clear()
    var d = active.poll()
    while (d != null) {
      try d.unpersist(blocking = false)
      catch { case _: Throwable => () }
      d = active.poll()
    }
  }

  /** Number of currently-registered (not yet released) intermediates. */
  def activeCount: Int = active.size()
}

/** Lifecycle registry for persisted intermediates inside query pipelines.
  *
  * Self-join pipelines (MinHash/SimHash banding, shingle Jaccard, LSH
  * near-dup) persist their shared subplan because Spark re-executes a
  * diamond plan once per consumer. A bare `.persist()` leaks: the session
  * CacheManager holds the cached plan until an explicit `unpersist`, so a
  * long-lived session accumulates orphaned partitions — at 100 TB "persist
  * the signatures" must have an owner. Pipelines register through
  * [[persist]]; the harness (Verify / Bench / a serving layer) calls
  * [[releaseAll]] after each query's terminal action.
  *
  * Ownership is SCOPED: [[persist]] registers with the calling thread's
  * current [[CacheScope]] — the process-global scope by default, or the
  * scope installed by [[withCaches]]. A concurrent serving layer wraps
  * each request in `withCaches { scope => ... }` (or passes an explicit
  * [[newScope]] handle through its pipeline) and gets an isolated
  * release queue: one request finishing no longer unpersists another
  * request's in-flight self-join intermediates. Single-threaded harness
  * code needs no wrapping — [[releaseAll]] drains the global scope,
  * exactly the old contract.
  */
object Caches {

  private val globalScope = new CacheScope

  private val current =
    new scala.util.DynamicVariable[CacheScope](globalScope)

  /** A fresh, independent scope (for callers that thread a handle
    * explicitly rather than using the dynamic [[withCaches]] block).
    */
  def newScope(): CacheScope = new CacheScope

  /** Run `f` with a fresh scope installed as the calling thread's
    * registration target (so library code's `Caches.persist` calls land
    * in it), releasing the scope's persists when `f` finishes. The
    * scope is also passed to `f` for explicit release/inspection.
    */
  def withCaches[T](f: CacheScope => T): T = {
    val scope = new CacheScope
    try current.withValue(scope)(f(scope))
    finally scope.release()
  }

  /** Persist `df` and register it with the current scope. */
  def persist(df: DataFrame): DataFrame = current.value.persist(df)

  /** Memoized persist against the current scope — see
    * [[CacheScope.getOrPersist]].
    */
  def getOrPersist(key: Any, build: => DataFrame): DataFrame =
    current.value.getOrPersist(key, build)

  /** Versioned persist against the current scope — see
    * [[CacheScope.persistSlot]].
    */
  def persistSlot(slot: Any, version: Any, build: => DataFrame): DataFrame =
    current.value.persistSlot(slot, version, build)

  /** Release the GLOBAL scope's intermediates — the harness hook
    * (Verify / Bench call this after each query's terminal action).
    * Scoped pipelines release with their own scope, not here.
    */
  def releaseAll(): Unit = globalScope.release()

  /** Registered-but-unreleased count in the current scope. */
  def activeCount: Int = current.value.activeCount
}
