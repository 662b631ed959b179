package graft
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession

/** Benchmark main. Prints ONE compact JSON line (headline queries only,
  * small enough to survive any stdout tail-capture) and writes the
  * COMPLETE per-query timing map to BENCH_FULL.json in the working
  * directory so the full profile is machine-readable without stdout
  * scraping.
  */
object Bench {
  /** Queries printed in the stdout one-liner: the star-schema heads, the
    * marquee joins, the dedup/ANN/text pipelines, and the I/O contracts.
    * The full set is always in BENCH_FULL.json.
    */
  private val headline = Seq(
    "q1_lineitem_agg", "q5_star_revenue", "q5b_star_bucketed",
    "j1_positions", "j6_asof_join", "d3_minhash_pairs", "d6_dedup_clusters",
    "n1_ann_topk", "n3_ann_lsh", "n6_ivf_partitioned", "n10_hybrid_rrf",
    "t1_text_stats", "t15_quality_rules", "t16_boilerplate",
    "t17_unigram_logprob", "p8_curation_pipeline",
    "s5_insert_ignore", "u1b_warehouse_upsert", "st1_stream_ingest",
    "m2_image_decode", "o5_next_offset",
    "n16_pq_residual_recall", "u1d_doc_table", "g3_rank_stream",
    "w18_macd", "a20_sharpe")

  /** `"name":1.234` pairs of ONE flat JSON object in `txt`, keyed by
    * `key` — the scan is bounded to the object's own braces (flat by
    * construction, so the first `}` closes it), never reading pairs
    * from later fields. Parsed with a two-token scan rather than a
    * JSON library (none on the unmanaged classpath).
    */
  private def objectTimes(txt: String, key: String): Map[String, Double] = {
    val kStart = txt.indexOf("\"" + key + "\":{")
    if (kStart < 0) Map.empty
    else {
      val open = txt.indexOf('{', kStart)
      val close = txt.indexOf('}', open)
      if (close < 0) Map.empty
      else """"([A-Za-z0-9_]+)":([0-9]+\.[0-9]+)""".r
        .findAllMatchIn(txt.substring(open, close + 1))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
  }

  /** Per-query historical-minimum times plus the previous run's
    * still-elevated set, read from the `BENCH_FULL.json` this run will
    * overwrite. The floor — not the raw previous time — is the spike
    * baseline: a load-inflated previous run must not inflate the
    * threshold with it (a genuine regression would then pass
    * unmeasured). Older files without a `floors` object fall back to
    * their `queries` times; `elevated` records queries whose
    * re-measure CONFIRMED a >2×-floor time — the floor-reset
    * handshake's first half (see main).
    */
  private def previousState(): (Map[String, Double], Map[String, Double]) =
    try {
      val txt = new String(
        Files.readAllBytes(Paths.get("BENCH_FULL.json")),
        StandardCharsets.UTF_8)
      val f = objectTimes(txt, "floors")
      (if (f.nonEmpty) f else objectTimes(txt, "queries"),
        objectTimes(txt, "elevated"))
    } catch { case _: Throwable => (Map.empty, Map.empty) }

  /** Rep tier for a query whose first successful rep took `t1`
    * seconds: the wall cost of extra reps must be proportionate to
    * what they buy. Reps exist to strip one-time costs (whole-stage
    * codegen JIT, parquet footer reads) off the reported steady state
    * — costs that are hundreds of milliseconds, so on a multi-second
    * query they are already noise and extra reps buy nothing but
    * wall clock. Round 15's driver bench TIMED OUT (rc 124) running
    * the 23s/13s/12s lifecycle integration queries at a uniform
    * min-of-3; tiering is the fix: >3s floors run once, 0.25-3s
    * floors twice (one rep absorbs the JIT, one is steady state),
    * and only the ≤0.25s tail — where a single JIT or GC blip is a
    * large RELATIVE error and reps are nearly free — keeps the full
    * `cap` reps.
    */
  private[graft] def tieredReps(t1: Double, cap: Int): Int =
    if (t1 > 3.0) 1 else if (t1 > 0.25) math.min(2, cap) else cap

  /** Min-of-n timing of one query — the bench's measurement core,
    * factored out so the failure contract is spec-testable. A failed
    * rep must NOT be timed as a success: round 8's testdata drift made
    * 12 queries die in analysis, and the old swallow-and-time shape
    * recorded their 0.05-0.15s failure latency as a "speedup" and
    * ratcheted the floors down to it. Left = the error of a query
    * whose EVERY rep failed; Right = min over the successful reps (a
    * transient single-rep failure still yields a real timing).
    *
    * Reps are TIERED by the first successful rep's measured time (see
    * [[tieredReps]]): `n` is a HARD cap on total executions, not a
    * quota — an expensive query stops after its first or second rep,
    * and failed attempts spent finding the first success are deducted
    * from the tier budget (a flaky-then-cheap query can never run
    * more than `n` reps in total).
    */
  private[graft] def timeQuery(
      spark: SparkSession, sfDir: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      n: Int): Either[String, Double] = {
    var lastErr = "unknown failure"
    def rep(): Option[Double] = {
      val t0 = System.nanoTime()
      // noop sink forces full evaluation of every column (count() would
      // let Catalyst prune the projections we are trying to measure).
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch {
        case t: Throwable =>
          lastErr = (t.getClass.getSimpleName + ": " +
            Option(t.getMessage).getOrElse("")).take(300)
          None
      } finally Caches.releaseAll()
    }
    // attempt until the FIRST success (bounded by the cap), then let
    // that measured time pick the tier and run whatever remains of the
    // tier budget after the attempts already spent
    var attempts = 0
    var first: Option[Double] = None
    while (first.isEmpty && attempts < n) {
      first = rep(); attempts += 1
    }
    first match {
      case None => Left(lastErr)
      case Some(t1) =>
        val extra = math.max(0, tieredReps(t1, n) - attempts)
        val more = (1 to extra).flatMap(_ => rep())
        Right((t1 +: more).min)
    }
  }

  /** True when `t` is a load-spike suspect: >2× the query's historical
    * floor (0.25s absolute noise floor), or >2s with no history.
    */
  private[graft] def spiky(floors: Map[String, Double])(
      name: String, t: Double): Boolean = floors.get(name) match {
    case Some(p) => t > math.max(2 * p, 0.25)
    case None    => t > 2.0
  }

  /** Floor-reset handshake: a query whose SOURCE legitimately got more
    * expensive would otherwise be flagged and re-measured on every run
    * forever (the floor keeps its stale pre-change minimum). A flagged
    * query whose post-backoff re-measure STILL exceeds the threshold
    * is recorded in `elevated`; when the next run confirms it again,
    * the floor ratchets UP to the better of the two confirmed times —
    * two independent runs agreeing is the source-change signal a
    * transient load spike can't fake (the spike would have to span
    * both runs' backoffs).
    *
    * Reset ELIGIBILITY uses a lower absolute cut (0.1s) than the
    * re-measure flag (0.25s): a query whose steady-state min sits at
    * 2-4× a stale floor but under 0.25s absolute would otherwise
    * never be flagged, never re-measured, and never reset — its
    * floor stays an unreachable outlier forever. Sub-0.25s resets
    * never saw a post-backoff re-measure, so the only evidence is the
    * two runs' min-of-reps — require those two mins to AGREE (within
    * 1.5×) before believing them.
    *
    * `degraded` lists queries measured under the budget pressure valve
    * (min-of-1, re-measure skipped): a single unrepeated sample from a
    * box already proven slow is NOT handshake evidence — round 16's
    * contaminated driver run ratcheted eight floors upward from
    * exactly such samples. Degraded measurements neither enter
    * `elevated` nor consume prior `elevated` evidence, so a pressured
    * run can only move floors DOWN, never up.
    *
    * Returns (resets, elevated, newFloors-for-successful-queries).
    */
  private[graft] def floorHandshake(
      results: Seq[(String, Double)],
      floors: Map[String, Double],
      prevElevated: Map[String, Double],
      flagged: Set[String],
      degraded: Set[String])
      : (Map[String, Double], Seq[(String, Double)], Seq[(String, Double)]) = {
    def resetEligible(name: String, t: Double): Boolean =
      floors.get(name).exists(p => t > math.max(2 * p, 0.10))
    val isSpiky = spiky(floors) _
    val stillElevated = results
      .collect { case (n, t) if resetEligible(n, t) && !degraded(n) &&
        (!flagged(n) || isSpiky(n, t)) => n -> t }
      .toMap
    def consistent(a: Double, b: Double): Boolean =
      math.max(a, b) <= 1.5 * math.min(a, b)
    val resets = stillElevated.collect {
      case (n, t) if prevElevated.contains(n) &&
        (math.min(t, prevElevated(n)) >= 0.25 ||
          consistent(t, prevElevated(n))) =>
        n -> math.min(t, prevElevated(n))
    }
    val elevated = (stillElevated -- resets.keySet).toSeq.sortBy(_._1)
    // ratchet the historical floor: min(this run, previous floor) —
    // the next run's spike baseline; reset queries take the confirmed
    // elevated time instead of the stale minimum
    val newFloors = results.map { case (n, t) =>
      n -> resets.getOrElse(n, math.min(t, floors.getOrElse(n, t)))
    }
    (resets, elevated, newFloors)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val backoffMs =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BACKOFF_MS", "15000").toLong
    val (floors, prevElevated) = previousState()
    // Budget pre-flight: the driver's wall clock is the de-facto
    // contract (round 15's bench exceeded it and returned rc 124 with
    // NO artifact — a foreseeable failure, since the committed floors
    // alone projected past the budget). Project this run's wall from
    // the committed floors under the tiered-rep policy and warn
    // LOUDLY up front when it exceeds the configured budget; the
    // projection and verdict also land in BENCH_FULL.json so the
    // round-end check is machine-readable.
    // Default reconciled against the observed driver contract (r16/r17):
    // a 1601s measured loop returned rc 0 while round 15's longer run
    // was killed with rc 124 — the ceiling sits above 1650s of sbt
    // wall, consistent with a 1800s timeout. 1500s leaves ~300s margin
    // for JVM/sbt startup, warm-up, and the post-backoff re-measure
    // pass, none of which the measured loop's clock counts.
    val budgetSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "1500").toDouble
    val floorsSum = floors.values.sum
    val projectedWall =
      floors.values.map(t => t * tieredReps(t, reps)).sum
    if (projectedWall > budgetSec)
      System.err.println(
        f"[bench] BUDGET EXCEEDED: projected measured wall " +
        f"$projectedWall%.0fs (floors $floorsSum%.0fs under tiered " +
        f"reps) > budget ${budgetSec}%.0fs — trim the timed surface " +
        "before the driver times out")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm-up: JIT + parquet footers, so the first measured query isn't
    // charged for JVM startup; the bucketed layout is an ingest-time
    // decision, so its one-time write isn't charged to the q5b query
    Tables(spark, sfDir).events.count()
    Tables(spark, sfDir).documents.count()
    SparkEntry.prepareBucketed(spark, sfDir)
    SparkEntry.warmFixtures(spark, sfDir)
    def minOfN(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
               n: Int): Either[String, Double] = timeQuery(spark, sfDir, fn, n)
    // Budget pressure valve: the committed floors under-project a
    // slower or noisier box (they describe the best box ever seen), so
    // the pre-flight alone cannot keep a bad day inside the driver's
    // wall clock. Track the measured loop's ACTUAL elapsed time and,
    // once it crosses 85% of the budget, run every remaining query at
    // min-of-1 — still a real measured rep for all 269 queries, so the
    // artifact stays complete (rc 0, failed 0) instead of timing out
    // with nothing, which is how round 15 lost its bench.
    val loopStart = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - loopStart) / 1e9
    def pressured: Boolean = elapsedSec > budgetSec * 0.85
    val degraded = scala.collection.mutable.Set.empty[String]
    // min-of-N: the first execution of a plan is charged for
    // whole-stage-codegen JIT (hundreds of ms of compiler time landing
    // on whichever query runs it first); the min reports steady state
    val firstAttempt = SparkEntry.queries.toSeq.sortBy(_._1).zipWithIndex
      .map { case ((name, fn), i) =>
        // progress breadcrumbs on stderr: when a run dies on the
        // driver's timeout, the captured tail shows WHERE the wall
        // went instead of a wall of streaming warnings (r15's rc-124
        // artifact was undiagnosable from its tail)
        if (i % 25 == 0)
          System.err.println(
            f"[bench] $i%3d/${SparkEntry.queries.size} " +
            f"elapsed ${elapsedSec}%.0fs" +
            (if (pressured) " (budget-pressured: min-of-1)" else ""))
        val cap = if (pressured) { degraded += name; 1 } else reps
        name -> minOfN(fn, cap)
      }
    val errors = firstAttempt.collect { case (n, Left(e)) => n -> e }
    errors.foreach { case (n, e) =>
      System.err.println(s"[bench] FAILED $n: $e")
    }
    val firstPass = firstAttempt.collect { case (n, Right(t)) => n -> t }
    // A box-load spike spanning one query's back-to-back reps survives
    // min-of-N (observed: a 0.9s aggregation reported at 17.9s, and a
    // 0.12s point lookup at 1.8s — under any fixed absolute cut). The
    // detector is therefore RELATIVE: a min that regressed >2× vs the
    // query's HISTORICAL-MINIMUM time is attributed to load, not to
    // the plan, and re-measured once at end of run. The floor baseline
    // (not the raw previous time) keeps a load-inflated prior run from
    // inflating the threshold; the 0.25s floor keeps millisecond
    // jitter (0.03s→0.10s) from triggering; the absolute 2s cut still
    // covers queries with no history (new this round, or no
    // BENCH_FULL.json on disk).
    val isSpiky = spiky(floors) _
    // Re-measure only flagged queries whose first-pass min is ≤5s:
    // above that, the re-measure COSTS more wall than the exoneration
    // saves (observed: a box-wide 1.5× elevation flagged ~20
    // multi-second queries and the re-measure pass re-ran ~350s of
    // lifecycle integration work to confirm what it already knew).
    // Big flagged queries stay `elevated`; the two-consecutive-runs
    // floor-reset handshake remains their regression/heal path, and
    // their floors are preserved either way.
    // ... and the whole re-measure pass is skipped under budget
    // pressure: exonerating spikes is a luxury a nearly-exhausted
    // wall clock cannot afford (floors are preserved either way).
    val flagged =
      if (pressured) Set.empty[String]
      else firstPass
        .collect { case (n, t) if isSpiky(n, t) && t <= 5.0 => n }.toSet
    // back-to-back re-measure lands inside the same load spike that
    // caused the flag; sleep first so "measured later" is actually true
    if (flagged.nonEmpty) Thread.sleep(backoffMs)
    val results = firstPass.map { case (name, t) =>
      if (!flagged(name)) name -> t
      else name -> (minOfN(SparkEntry.queries(name), reps * 2) match {
        case Right(t2) => math.min(t, t2)
        case Left(_)   => t // first pass succeeded; keep its timing
      })
    }
    // `total` covers successful queries only; `failed`/`errors` carry
    // the rest so a dead query can never masquerade as a fast one.
    val total = results.map(_._2).sum
    // Locale.ROOT: the f-interpolator uses the JVM default locale, which
    // renders 0.7 as "0,7000" on comma-decimal locales — invalid JSON
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    def jsonMap(entries: Seq[(String, Double)]): String =
      entries.map { case (k, v) => "\"" + k + "\":" + num(v) }
        .mkString("{", ",", "}")
    // Floor-reset handshake (see [[floorHandshake]]): degraded
    // (budget-pressured min-of-1) measurements are excluded as
    // evidence, so a bad box can only extend the handshake, never
    // ratchet a floor upward. A FAILED query's floor is carried
    // forward untouched: its failure latency is not a runtime, and
    // once fixed it must be judged against its last real baseline,
    // not a poisoned one.
    val (resets, elevated, okFloors) =
      floorHandshake(results, floors, prevElevated, flagged, degraded.toSet)
    resets.foreach { case (n, f) =>
      System.err.println(
        s"[bench] floor reset: $n confirmed elevated in two consecutive " +
        s"runs; old floor " +
        s"${floors.get(n).map(num).getOrElse("none")} — new floor ${num(f)}")
    }
    val newFloors = okFloors ++
      errors.flatMap { case (n, _) => floors.get(n).map(n -> _) }
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }
    def jsonStrMap(entries: Seq[(String, String)]): String =
      entries.map { case (k, v) => "\"" + esc(k) + "\":\"" + esc(v) + "\"" }
        .mkString("{", ",", "}")
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,""" +
      s""""failed":${errors.size},"errors":${jsonStrMap(errors)},""" +
      s""""queries":${jsonMap(results)},"floors":${jsonMap(newFloors)},""" +
      s""""elevated":${jsonMap(elevated)},""" +
      // budget pre-flight record: floors-projected wall under tiered
      // reps vs the configured budget — reviewable after the fact, and
      // the round-end check the r15 timeout showed was missing
      s""""budget":{"floors_sum":${num(floorsSum)},""" +
      s""""projected_wall":${num(projectedWall)},""" +
      s""""budget_sec":${num(budgetSec)},""" +
      s""""within_budget":${projectedWall <= budgetSec},""" +
      s""""measured_loop_sec":${num(elapsedSec)},""" +
      s""""degraded_queries":${degraded.size}},""" +
      // resets are recorded in the artifact (not only on stderr): a
      // CORRELATED multi-floor reset in one run is the box-spike
      // signature and must be reviewable after the fact
      s""""resets":${jsonMap(resets.toSeq.sortBy(_._1))},"sf":"$sfDir"}"""
    val tmp = Paths.get("BENCH_FULL.json.tmp")
    Files.write(tmp, (full + "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get("BENCH_FULL.json"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    val byName = results.toMap
    val head = headline.flatMap(n => byName.get(n).map(n -> _))
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,""" +
      s""""queries":${jsonMap(head)},"nqueries":${results.size},""" +
      s""""failed":${errors.size},""" +
      s""""full":"BENCH_FULL.json","sf":"$sfDir"}""")
    spark.stop()
  }
}
