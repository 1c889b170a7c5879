package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Materialization of a derived table that is about to be referenced
  * more than once in one plan (e.g. both sides of a self-join, or two
  * union branches).
  *
  * Why this exists: Catalyst's `DeduplicateRelations` gives each
  * reference of the same logical subtree fresh expression ids, so
  * exchange/subquery reuse never fires across a self-join — the whole
  * upstream pipeline executes once PER REFERENCE unless the table is
  * materialized first.
  *
  * The strategy is a property of the surface that builds the plan, not
  * of an operator: every operator calls [[apply]], [[force]] and
  * [[release]] with no strategy, and they use the one in scope.
  *
  *   - [[LocalCheckpoint]] is the default — the DataFrame API, the
  *     bench and oracle mains, and the streaming watchers. Eager
  *     `localCheckpoint`: cheapest on a single node (no lineage
  *     re-evaluation, blocks stored on the executors that computed
  *     them) but NOT fault-tolerant. Nothing enters the cache manager;
  *     the ContextCleaner drops the blocks once the table is
  *     unreachable, so a call leaves no state behind.
  *   - [[Persist]] is the SQL surface's: every graft table-valued
  *     function resolves its plan in this scope, so resolving (and
  *     `EXPLAIN`) runs no job. `persist(MEMORY_AND_DISK)` is lazy; the
  *     cache manager substitutes the cached relation into every
  *     reference (it matches on the canonicalized analyzed plan, so it
  *     fires on re-aliased self-join sides too) and lineage is
  *     retained. The entries live until the session drops them —
  *     re-issuing the same call reuses them, and
  *     `spark.catalog.clearCache()` releases them.
  *   - [[Lazy]] is the serving path's ([[graft.index.IndexStore]]'s
  *     snippet stage): no materialization at all, for references that
  *     are cheap to re-run (pruned store reads) and whose plan must
  *     keep those scans visible.
  *
  * [[using]] opens a scope. It is a plain, non-inheritable thread-local
  * restored on exit; [[Par]] carries the caller's strategy into its
  * pool threads.
  */
object Materialize {

  sealed trait Strategy

  /** Eager localCheckpoint: the default, not fault-tolerant. */
  case object LocalCheckpoint extends Strategy

  /** persist(MEMORY_AND_DISK): lazy, lineage retained. */
  case object Persist extends Strategy

  /** No materialization: each reference re-executes the plan. */
  case object Lazy extends Strategy

  private val scope: ThreadLocal[Strategy] = ThreadLocal.withInitial(() => LocalCheckpoint)

  /** The strategy in scope on this thread. */
  private[graft] def current: Strategy = scope.get

  /** Run `body` with `strategy` in scope, restoring the previous one. */
  private[graft] def using[A](strategy: Strategy)(body: => A): A = {
    val prev = scope.get
    scope.set(strategy)
    try body finally scope.set(prev)
  }

  /** Materialize `df` under the strategy in scope so later multiple
    * references execute its pipeline exactly once. */
  def apply(df: DataFrame): DataFrame = current match {
    case LocalCheckpoint => df.localCheckpoint()
    case Persist         => df.persist(StorageLevel.MEMORY_AND_DISK)
    case Lazy            => df
  }

  /** Force a table previously passed to [[apply]] so a superseded
    * input can be released safely (iterative loops call this on each
    * round's output before releasing the previous round). A no-op
    * unless the strategy is the lazy [[Persist]]: then one full-scan
    * action runs the pipeline and pins the cache. (A full count, not
    * `limit(1)` — a partial action materializes only the partitions it
    * touches.) */
  def force(df: DataFrame): Unit = current match {
    case Persist => df.count(); ()
    case _       => ()
  }

  /** Release a table previously materialized with [[apply]] once its
    * consumers have materialized. Persist: drop the cache entry without
    * blocking. Otherwise a no-op — checkpoint blocks are reclaimed by
    * the ContextCleaner when the DataFrame becomes unreachable. */
  def release(df: DataFrame): Unit = current match {
    case Persist => df.unpersist(blocking = false); ()
    case _       => ()
  }

  /** A MODEL-SIZED table (centroids, codebooks: k rows whatever the
    * corpus size). Under the eager [[LocalCheckpoint]] the rows are
    * collected to the driver and rebuilt as a local relation — no
    * executor block round trip per round, and a later `broadcast` of it
    * launches no job. Otherwise as [[apply]], so a [[Persist]] scope
    * still resolves without a job. */
  private[graft] def small(df: DataFrame): DataFrame = current match {
    case LocalCheckpoint =>
      df.sparkSession.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
    case _ => apply(df)
  }

  /** `narrowed`, a projection of the materialized `df`, as a table the
    * caller's [[release]] frees. Under [[Persist]] a projection of a
    * cached table matches no cache entry, so the projection is cached
    * itself, filled from `df`'s cache, and `df` is dropped; otherwise
    * `narrowed` is returned as is. */
  private[graft] def narrow(df: DataFrame, narrowed: DataFrame): DataFrame = current match {
    case Persist if narrowed ne df =>
      val out = apply(narrowed)
      force(out)
      release(df)
      out
    case _ => narrowed
  }

  /** True when [[apply]] cuts lineage (eager [[LocalCheckpoint]]): a
    * materialized table can then never re-read what its plan
    * referenced, e.g. a broadcast it probed. */
  private[graft] def cutsLineage: Boolean = current == LocalCheckpoint
}
