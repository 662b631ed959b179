package graft

import org.scalatest.funsuite.AnyFunSuite

/** Global plan regression guard: no registered query may silently plan a
  * cartesian product or an unbounded nested-loop join — the two shapes
  * that are survivable at sf0.01 and fatal at 100 TB. Queries that
  * deliberately cross-join a broadcast single row (an ANN query vector,
  * a global-stats row) are allowlisted explicitly.
  */
class PlanAuditSpec extends AnyFunSuite {
  import TestSpark.spark

  /** Plan with AQE OFF for the audit: `AdaptiveSparkPlanExec` is a
    * LEAF to `TreeNode.collect` (the inner plan lives in a field, not
    * in `children`), so pattern-matching `WindowExec` under an AQE
    * wrapper silently matches nothing and the guard passes vacuously.
    * The audit inspects static plan SHAPE — partitioning of windows,
    * duplicate frames, join strategy — which AQE only refines at
    * runtime, so auditing the non-adaptive plan is both correct and
    * strictly stricter. The session's AQE setting is restored as it
    * was (an unset key stays unset).
    */
  private def audited[A](body: => A): A = {
    val aqe = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getAll.get(aqe)
    spark.conf.set(aqe, "false")
    try body
    finally prev.fold(spark.conf.unset(aqe))(spark.conf.set(aqe, _))
  }

  /** What each guard found, from ONE pass over the registered queries. */
  private case class Findings(joins: Seq[String],
                              windowDups: Seq[(String, Int)],
                              globalWindows: Seq[String],
                              nonScalar: Seq[String])

  /** Build every query once on sf0.001 with AQE off and run all four
    * guards on that one frame and plan; each test asserts its own list.
    * Plan-only: building the DataFrame never executes the query, but a
    * handful of queries run side-effecting setup (file writes,
    * streaming) inside the builder — they still only PLAN the returned
    * frame here. A query that fails to build or plan is an offender to
    * the join and global-window guards (swallowing the failure would
    * report the most-broken queries as clean) and to the output guard
    * when its schema is unavailable; the frame guard counts it 0.
    */
  private lazy val findings: Findings = audited {
    import org.apache.spark.sql.execution.window.{WindowExec,
      WindowGroupLimitExec}
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val dir = "/root/testdata/sf0.001"
    def attempt[A](a: => A): Either[Throwable, A] =
      try Right(a) catch { case e: Throwable => Left(e) }
    val perQuery = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val df = attempt(SparkEntry.queries(name)(spark, dir))
      val plan = df.flatMap(d => attempt(d.queryExecution.executedPlan))
      val joins = plan.flatMap(p => attempt(p.toString)).fold(_ => true,
        s => s.contains("CartesianProduct") ||
          (s.contains("BroadcastNestedLoopJoin") &&
            !singleRowCross.contains(name)))
      // window expressions are extracted per TEXTUAL occurrence, so
      // count the canonicalized duplicates per Window operator
      val dups = plan.flatMap(p => attempt(p.collect {
        case w: WindowExec =>
          val canon = w.windowExpression.map {
            case a: org.apache.spark.sql.catalyst.expressions.Alias =>
              a.child.canonicalized
            case e => e.canonicalized
          }
          canon.size - canon.distinct.size
      }.sum)).getOrElse(0)
      val global = plan.flatMap(p => attempt(p.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w.toString
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
          w.toString
      }.nonEmpty)).getOrElse(true)
      val nested = df.flatMap(d => attempt(d.schema.fields.toSeq.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
            f.dataType.isInstanceOf[MapType] ||
            f.dataType.isInstanceOf[StructType] =>
          s"$name.${f.name}: ${f.dataType.simpleString}"
      })).fold(e => Seq(s"$name: schema unavailable (${e.getMessage})"),
        identity)
      graft.Caches.releaseAll()
      (name, joins, dups, global, nested)
    }
    Findings(
      perQuery.collect { case (n, true, _, _, _) => n },
      perQuery.collect { case (n, _, d, _, _) if d > 0 => n -> d },
      perQuery.collect { case (n, _, _, true, _) => n },
      perQuery.flatMap(_._5))
  }

  // deliberate bounded cross joins: a broadcast single row (ANN query
  // vector, global-stats row, histogram bounds) or a generator's
  // watchlist × point-range product (s9: both sides literal-sized)
  private val singleRowCross = Set(
    "n1_ann_topk", "n3_ann_lsh", "n6_ivf_partitioned", "p4_coach_prompt",
    "a5_histogram", "s9_seed_prices", "u9_quality_checks",
    "n8_ann_recall", // exact-baseline cross: 8 broadcast query rows
    "n12_pq_topk",   // same harness: 8 broadcast query rows vs codes
    "n16_pq_residual_recall", // same harness: 8 broadcast query rows
    "n13_ivfpq_topk", // IVFADC: 1 broadcast query row vs pruned cells
    "t12_tfidf",     // corpus-size: broadcast 1-row aggregate
    "t17_unigram_logprob", // corpus-total: broadcast 1-row aggregate
    "n10_hybrid_rrf",      // query-vector: broadcast 1 row
    "t18_quality_deciles", // corpus-total: broadcast 1-row aggregate
    "a14_hll_distinct",    // exact-count: broadcast 1 row beside 1 row
    "st5_hll_stream",      // same shape: 1-row estimate beside 1 row
    "g1_pagerank",         // dangling mass: broadcast 1-row aggregate
    "g2_trustrank",        // same shape: broadcast 1-row dangling row
    "t21_bigram_logprob",  // vocab size: broadcast 1-row aggregate
    "t38_backoff_logprob", // train (N,|V|): broadcast 1-row aggregate
    "n22_index_drift",     // PSI sides + total: broadcast 1-row aggs
    "d17_lsh_tuning",      // argmin: broadcast 1-row aggregate
    "t28_drift_psi",       // per-side totals: broadcast 1-row aggregates
    "u1g_data_card",       // 1-row card × 1-row mix × 1-row total
    "t30_stratified_quality_keep", // corpus-total: broadcast 1-row agg (t17's scorer)
    "n18_bm25_rank",       // corpus stats (N, avgdl): broadcast 1-row agg
    "t33_pmi_collocations", // token/pair totals: broadcast 1-row aggs
    "n19_inverted_index",   // doc-count gate: broadcast 1-row agg
    "n21_knn_classify",     // kNN probe: 3 broadcast query rows
    "g5_hits",              // L1 renorm: broadcast 1-row totals
    "a26_welch_t",          // rest-of-corpus: broadcast 1-row totals
    "u13_benford",          // digit-share total: broadcast 1-row agg
    "n24_mmr_diversify",    // 1 broadcast query row + topN×topN pairs
    "t41_snm_recall",       // exact-pair total: broadcast 1-row agg
    "t42_family_recall",    // 1-row family agg × 1-row closure agg
    "t43_sampled_family_recall") // t42's aggs × 1-row sample-size agg

  test("no query plans a cartesian or unbounded nested-loop join") {
    val offenders = findings.joins
    assert(offenders.isEmpty, s"scale-unsafe plans: $offenders")
  }

  test("no Window operator repeats a frame aggregate pathologically") {
    // window expressions are extracted per TEXTUAL occurrence — Spark
    // does not dedupe them — so inlining a windowed column into k
    // downstream formulas runs k running aggregates where 1 suffices
    // (caught live: Bollinger planned 38 frames for 6 distinct ones,
    // 3× the runtime). A small surplus is inherent (e.g. the SMA's
    // count guard + divisor); a large one means an operator should
    // stage its window attributes with withColumn before referencing
    // them. The bound is per-query, canonicalized-distinct.
    val report = findings.windowDups
    val offenders = report.filter(_._2 > 3)
    assert(offenders.isEmpty,
      s"pathological duplicate window frames: $offenders — stage the " +
        "windowed columns once (withColumn) before the formulas that " +
        s"reference them. Full surplus report: $report")
  }

  test("no query plans an unpartitioned (single-task) Window") {
    val offenders = findings.globalWindows
    assert(offenders.isEmpty,
      s"single-task global Window in: $offenders — the whole ordered " +
        "stream funnels through one partition at scale")
  }

  test("every query output is driver-checkable: no array/map/struct columns") {
    // the driver's pandas checker hashes scalar cells only — an
    // array-typed output column dies in its sort_values (caught live:
    // n19's postings list shipped a red correctness row in r9 that no
    // local gate saw). Nested values must be flattened at the query
    // boundary (array_join / to_json); the operator APIs underneath
    // may keep their natural nested shapes.
    val offenders = findings.nonScalar
    assert(offenders.isEmpty,
      s"non-scalar query outputs (driver cannot hash them): $offenders")
  }
}
