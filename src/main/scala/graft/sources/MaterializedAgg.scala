package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incrementally-maintained materialized aggregate over an
  * [[AtomicTable]]: `GROUP BY dims → count / sum / min / max of
  * valCol`, kept current by folding ONLY the commits added since the
  * last refresh.
  *
  * The reference recomputes its overview stats from the full table on
  * every request (/root/reference/app/db.py:89-117) — fine over SQLite
  * rows, a full-corpus scan per dashboard hit at 100 TB. The standard
  * warehouse answer is a materialized view with incremental
  * maintenance, which this class builds ENTIRELY out of the manifest
  * protocol's existing public surface:
  *
  *  - The view's state is itself an [[AtomicTable]] of PARTIAL
  *    aggregates — one commit per refresh, each the delta's
  *    `groupBy(dims)` partials. All four maintained aggregates are
  *    mergeable monoids (count/sum add, min/max fold), so
  *    [[serve]] re-aggregates the partial table — work proportional
  *    to refresh-count × group cardinality, never to the base corpus.
  *  - The base version each refresh folded up to rides the SAME
  *    manifest commit as the partials (the `#txn` mark, stream =
  *    `mview:<base root>`): a crashed-and-replayed refresh is fenced
  *    exactly like a replayed micro-batch — either the partials and
  *    the mark both committed, or neither.
  *  - Incremental maintenance is only sound while every base commit
  *    since the last refresh was purely ADDITIVE (append /
  *    insert-ignore stage new dirs and reassign nothing — min/max
  *    cannot subtract a retracted row). [[refresh]] checks the base's
  *    `#op` history for exactly that, and falls back to a full
  *    recompute (an `init` of the view table, same fence) when an
  *    upsert/delete/compact/init intervened OR the last-folded version
  *    was vacuumed away ([[AtomicTable.addedSince]] against a vacuumed
  *    version would return the whole table and double-fold it).
  *    Conservative in the same direction as the skipping indexes: the
  *    fallback only costs I/O, never correctness.
  *
  * Partial commits accrete one dir per refresh; past a fan-in bound
  * the refresh folds them through the view table's own [[AtomicTable
  * .compact]] — the view stays O(group cardinality) on disk and the
  * serve plan is one scan over a bounded file count. At 100 TB the
  * steady state is:
  * each ingest micro-batch appends to the base, `refresh()` shuffles
  * only that batch's rows on `dims`, and the dashboard reads a
  * group-cardinality-sized table instead of the corpus.
  */
final case class MaterializedAgg(base: AtomicTable, root: String,
                                 dims: Seq[String], valCol: String,
                                 maxPartialDirs: Int = 64) {
  require(dims.nonEmpty, "materialized aggregate needs grouping dims")

  private val stream = s"mview:${base.root}"

  /** The view's partial-aggregate table (partitioned by the leading
    * dim; the view only ever inits or appends, so partitions are never
    * reassigned).
    */
  val table: AtomicTable =
    AtomicTable(base.spark, root, partCol = dims.head, defaultKeys = dims)

  private def partial(rows: DataFrame): DataFrame =
    rows.groupBy(dims.map(col): _*).agg(
      count(lit(1)).as("mv_cnt"),
      sum(col(valCol)).as("mv_sum"),
      min(col(valCol)).as("mv_min"),
      max(col(valCol)).as("mv_max"))

  /** True iff every base commit in (sinceV, current] staged new dirs
    * without reassigning any existing partition — the precondition for
    * folding a delta instead of recomputing. `init-empty` commits (txn
    * fence advances, no data) are additive too.
    */
  private def appendOnlySince(sinceV: Long): Boolean =
    base.history().collect {
      case (v, op, _) if v > sinceV => op
    }.forall(Set("append", "insert", "init-empty"))

  /** Fold base changes since the last refresh into the view: a delta
    * append when the base only accreted, a full recompute otherwise.
    * Idempotent per base version (the txn fence), no-op when already
    * current. Returns the operation taken: "noop", "delta", or "full".
    */
  def refresh(): String = {
    val cur = base.version
    val last = table.lastCommittedBatch(stream)
    // nothing committed, already current, or no data yet (a base whose
    // only commits were empty seeds has no schema to materialize)
    if (cur == 0L || last.exists(_ >= cur) || !base.hasData) return "noop"
    // addedSince needs the last-folded version's manifest (a vacuumed
    // version would make every dir look new and double-fold the view)
    val incremental = last
      .filter(v => base.versions.contains(v) && appendOnlySince(v))
      .map(base.addedSince)
    val txn = Some((stream, cur))
    val took = incremental match {
      case None =>
        table.init(partial(base.read()), txn); "full"
      case Some(Some(rows)) =>
        table.append(partial(rows), txn); "delta"
      case Some(None) =>
        // version advanced with no new dirs (e.g. fence-only commits):
        // advance the view's mark with an empty stage, data untouched
        table.append(partial(base.read().limit(0)), txn); "delta"
    }
    if (table.dataDirCount > maxPartialDirs) table.compact()
    took
  }

  /** The current materialized aggregate: partials merged per group —
    * count/sum add, min/max fold, so the result is exactly
    * `base.read().groupBy(dims).agg(...)` as of the last refresh, at
    * the cost of a group-cardinality-sized read.
    */
  def serve(): DataFrame =
    table.read().groupBy(dims.map(col): _*).agg(
      sum(col("mv_cnt")).as("n_rows"),
      sum(col("mv_sum")).as("sum_val"),
      min(col("mv_min")).as("min_val"),
      max(col("mv_max")).as("max_val"))
}
