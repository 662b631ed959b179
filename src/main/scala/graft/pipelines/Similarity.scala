package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.MarketFunctions.md5Hash48

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`). Brute-force cosine top-k is the exact baseline
  * (one broadcast of the query + a TakeOrdered — no shuffle of the
  * corpus); random-hyperplane LSH bucketing is the scale path: hash each
  * vector to a b-bit bucket and only score within matching buckets,
  * cutting the scored candidate set by ~2^b.
  *
  * All math is double-precision column expressions (zip_with/aggregate),
  * and the hyperplanes are md5-seeded so the DuckDB oracle reproduces
  * them exactly.
  */
object Similarity {

  private def toDouble(v: Column): Column =
    transform(v, x => x.cast("double"))

  /** Dot product of two array<numeric> columns (left-fold, so the
    * accumulation order is deterministic). This is the DEFINITIONAL
    * declarative form; the hot paths below use the bit-identical native
    * [[graft.expressions.TextSketches.VecDot]] (`graft_dot`), because
    * higher-order-function expressions are interpreted per element.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(toDouble(a), toDouble(b), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Native (compiled single-pass) twins — require
    * [[graft.expressions.GraftFunctions.register]] on the session, which
    * [[graft.Tables]] and every pipeline entry point below perform.
    */
  def dotNative(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)
  def normNative(a: Column): Column = sqrt(dotNative(a, a))
  def cosineNative(a: Column, b: Column): Column =
    dotNative(a, b) / (normNative(a) * normNative(b))
  def lshBucketNative(vec: Column, bits: Int, dim: Int): Column =
    call_function("graft_lsh_bucket", vec, lit(bits), lit(dim))
  def ivfCellNative(vec: Column, k: Int, dim: Int): Column =
    call_function("graft_ivf_cell", vec, lit(k), lit(dim))

  /** Bucket column: the compiled expression when the dim is known, the
    * declarative fold otherwise.
    */
  private def bucketCol(vec: Column, bits: Int, dim: Int): Column =
    if (dim > 0) lshBucketNative(vec, bits, dim) else lshBucket(vec, bits)

  /** Brute-force exact top-k by cosine against a single query vector
    * (supplied as a literal array or broadcast 1-row frame). The plan is
    * scan → project(score) → TakeOrdered(k): no shuffle, linear scan.
    */
  def topKCosine(corpus: DataFrame, idCol: String, vecCol: String,
                 query: Column, k: Int): DataFrame = {
    graft.expressions.GraftFunctions.register(corpus.sparkSession)
    corpus.select(col(idCol),
        round(cosineNative(col(vecCol), query), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** Deterministic random hyperplane component: md5-seeded uniform in
    * [-1, 1) for (plane p, dimension d). Driver-side replica of
    * [[graft.functions.MarketFunctions.md5Hash48]] — the components are
    * row-independent constants, so they are computed once here and
    * shipped as literals instead of re-hashing per row (which would cost
    * bits×dim interpreted md5 calls per row).
    */
  private def md5Hash48Local(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(6).map("%02x".format(_)).mkString, 16)
  }
  private[pipelines] def planeComponentLocal(p: Int, d: Int): Double =
    (md5Hash48Local(s"$p,$d") % 2000000L - 1000000L) / 1000000.0

  /** Column-side fallback for unknown vector dims. */
  private def planeComponent(p: Column, d: Column): Column =
    (md5Hash48(concat(p.cast("string"), lit(","), d.cast("string")))
      % 2000000L - 1000000L) / 1000000.0

  /** b-bit random-hyperplane LSH bucket of a vector: bit p = 1 iff
    * vec · plane_p ≥ 0. With a known dim, planes are literal arrays
    * (no per-row hashing); accumulation order matches the oracle's
    * sequential list_reduce either way.
    */
  def lshBucket(vec: Column, bits: Int, dim: Int = -1): Column =
    if (dim > 0) {
      concat_ws("", (0 until bits).map { p =>
        val planes = array((0 until dim).map(d =>
          lit(planeComponentLocal(p, d))): _*)
        val dot = aggregate(zip_with(toDouble(vec), planes, (x, w) => x * w),
          lit(0.0), (acc, x) => acc + x)
        when(dot >= 0, lit("1")).otherwise(lit("0"))
      }: _*)
    } else
      concat_ws("", transform(sequence(lit(0), lit(bits - 1)), p => {
        val d = aggregate(
          zip_with(toDouble(vec), sequence(lit(0), size(vec) - 1),
            (x, i) => x * planeComponent(p, i)),
          lit(0.0), (acc, x) => acc + x)
        when(d >= 0, lit(1)).otherwise(lit(0))
      }))

  /** Multi-probe bucket set: the bucket itself plus every bucket at
    * Hamming distance 1 (each bit flipped once). A vector near a
    * hyperplane lands on either side by a hair's width — single-probe
    * LSH silently misses those neighbors; probing the bits+1 adjacent
    * buckets recovers them at bits+1× the candidate volume. The recall
    * gain is measured by `n8_ann_recall` / SimilaritySpec.
    */
  def probeBuckets(bucket: Column, bits: Int): Column = {
    val flips = (0 until bits).map { i =>
      concat(substring(bucket, 1, i),
        when(substring(bucket, i + 1, 1) === "1", lit("0"))
          .otherwise(lit("1")),
        substring(bucket, i + 2, bits - i - 1))
    }
    array(bucket +: flips: _*)
  }

  /** ANN top-k via LSH bucketing: score only vectors whose bucket matches
    * the query's bucket (approximate — may return < k rows when the
    * bucket is small). `hamming = 1` enables multi-probe: candidates from
    * the query's bucket AND all single-bit-flip buckets (see
    * [[probeBuckets]]). At cluster scale the corpus is pre-bucketed and
    * partitioned by bucket, so a query touches 1 (or bits+1) partitions.
    */
  def annTopKCosine(corpus: DataFrame, idCol: String, vecCol: String,
                    query: Column, k: Int, bits: Int = 4,
                    dim: Int = -1, hamming: Int = 0): DataFrame = {
    require(hamming <= 1, "only Hamming-1 multi-probe is supported")
    graft.expressions.GraftFunctions.register(corpus.sparkSession)
    val qb = bucketCol(query, bits, dim)
    val bucketed = corpus
      .withColumn("_bucket", bucketCol(col(vecCol), bits, dim))
    val candidates =
      if (hamming <= 0) bucketed.filter(col("_bucket") === qb)
      else bucketed.filter(array_contains(probeBuckets(qb, bits),
        col("_bucket")))
    candidates
      .select(col(idCol),
        round(cosineNative(col(vecCol), query), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** EXACT batch top-k — the evaluation baseline recall is measured
    * against: every query scores the whole corpus (queries broadcast;
    * rank on the rounded cosine with an id tie-break so the top-k SET is
    * deterministic and engine-independent).
    */
  def batchTopKCosineExact(corpus: DataFrame, idCol: String,
                           vecCol: String, queries: DataFrame,
                           qIdCol: String, qVecCol: String,
                           k: Int): DataFrame = {
    graft.expressions.GraftFunctions.register(corpus.sparkSession)
    corpus.crossJoin(broadcast(queries))
      .select(col(qIdCol), col(idCol),
        round(cosineNative(col(vecCol), col(qVecCol)), 6).as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(qIdCol))
          .orderBy(col("cosine").desc, col(idCol).asc)))
      .filter(col("rank") <= k)
  }

  /** k-NN majority-vote classification over the embedding corpus —
    * the standard label-propagation/eval harness a labeled embedding
    * table supports (kNN probe accuracy is the common "are these
    * embeddings any good" measure): each query vector's k nearest
    * neighbors by cosine (self excluded) vote with their labels;
    * prediction = the label with the most votes, ties to the smaller
    * label — fully deterministic given [[batchTopKCosineExact]]'s
    * rounded-cosine + id-tie ranking.
    *
    * Plan: queries broadcast beside ONE corpus scan (scoring is a
    * per-row map), per-query rank + per-(query,label) count are both
    * tiny keyed aggregates. At 100 TB the brute-force scan is the
    * exact baseline; the IVF/LSH variants (n3/n6/n13) are the serving
    * path and this harness is what their recall is graded against.
    *
    * `queries` must carry its label under a name distinct from
    * `labelCol` (the corpus side's) — both survive into the output.
    */
  def knnClassify(corpus: DataFrame, idCol: String, vecCol: String,
                  labelCol: String, queries: DataFrame, qIdCol: String,
                  qVecCol: String, qLabelCol: String, k: Int)
      : DataFrame = {
    graft.expressions.GraftFunctions.register(corpus.sparkSession)
    val neighbors = corpus.crossJoin(broadcast(queries))
      .filter(col(idCol) =!= col(qIdCol))
      .select(col(qIdCol), col(qLabelCol), col(idCol), col(labelCol),
        round(cosineNative(col(vecCol), col(qVecCol)), 6).as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(qIdCol))
          .orderBy(col("cosine").desc, col(idCol).asc)))
      .filter(col("rank") <= k)
    voteNeighbors(neighbors, qIdCol, qLabelCol, labelCol)
  }

  /** Maximal-Marginal-Relevance diversified top-k — the selection
    * stage that keeps a retrieved/training subset RELEVANT and
    * NON-REDUNDANT (Carbonell & Goldstein 1998): greedily pick the
    * candidate maximizing `wRel·rel − wDiv·max_{s∈S} sim(c, s)`,
    * i.e. relevance penalized by similarity to anything already
    * chosen (integer weights 7/3 ≈ the classic λ = 0.7).
    *
    * All similarity arithmetic runs as ENGINE expressions in integer
    * micro-units (`round(cos, 6) · 1e6` — the same rounded-cosine
    * contract every n-family oracle hash-matches), so the greedy is
    * pure integer arithmetic with id tie-breaks — deterministic and
    * engine-exact. The candidate pool is the top-`topN` by relevance:
    * the selection itself is O(k·topN) on BOUNDED, top-N-limited data
    * (this is the rerank stage of a retrieval pipeline — at 100 TB
    * the pool comes from the ANN serving path, and topN stays
    * human-sized while the SCAN stays distributed).
    */
  def mmrDiversify(vectors: DataFrame, idCol: String, vecCol: String,
                   query: DataFrame, topN: Int, k: Int,
                   wRel: Long = 7L, wDiv: Long = 3L): DataFrame = {
    val spark = vectors.sparkSession
    graft.expressions.GraftFunctions.register(spark)
    def micro(c: Column): Column =
      round(round(c, 6) * lit(1e6), 0).cast("long")
    val cand = graft.Caches.persist(
      vectors.crossJoin(broadcast(query))
        .select(col(idCol).cast("long").as("vec_id"),
          col(vecCol).as("_v"),
          micro(cosineNative(col(vecCol), col("qv"))).as("rel"))
        .orderBy(col("rel").desc, col("vec_id")).limit(topN))
    val a = cand.select(col("vec_id").as("ia"), col("_v").as("va"))
    val b = cand.select(col("vec_id").as("ib"), col("_v").as("vb"))
    val sim = a.crossJoin(b).filter(col("ia") =!= col("ib"))
      .select(col("ia"), col("ib"),
        micro(cosineNative(col("va"), col("vb"))).as("sim"))
    // the greedy argmax is inherently sequential, so it runs in ONE
    // task over the bounded pool (topN rel rows ∪ topN² engine-exact
    // sim rows, unioned under an explicit row tag — no in-band
    // sentinel id, so every long is a legal vec_id) — no collect, no
    // extra job round-trips, driver memory flat as topN grows
    import spark.implicits._
    val pooled = cand.select(col("vec_id").as("pa"),
        lit(0L).as("pb"), col("rel").as("pv"), lit(true).as("isRel"))
      .unionByName(sim.select(col("ia").as("pa"), col("ib").as("pb"),
        col("sim").as("pv"), lit(false).as("isRel")))
    pooled.as[(Long, Long, Long, Boolean)].coalesce(1).mapPartitions { it =>
      val rel = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val simMap =
        scala.collection.mutable.HashMap.empty[(Long, Long), Long]
      it.foreach { case (x, y, v, isRel) =>
        if (isRel) rel += ((x, v)) else simMap((x, y)) = v
      }
      mmrGreedy(rel.toSeq, simMap, k, wRel, wDiv).iterator
    }.toDF("rank", "vec_id", "rel_micro", "score")
  }

  /** The inherently-sequential MMR argmax loop as a pure function over
    * the bounded pool — shared by [[mmrDiversify]]'s single-task
    * mapPartitions path and SimilaritySpec's driver-side parity
    * harness. All inputs are integer micro-units (the engine computed
    * them); ties break to the smaller id, so the selection is
    * deterministic for any pool order. Returns
    * `(rank, id, rel_micro, score)` rows in pick order.
    */
  private[graft] def mmrGreedy(
      rel: Seq[(Long, Long)], sim: scala.collection.Map[(Long, Long), Long],
      k: Int, wRel: Long, wDiv: Long): Seq[(Long, Long, Long, Long)] = {
    val relMap = rel.toMap
    val selected = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long)] // (rank, id, rel, score)
    var remaining = rel.sortBy { case (id, r) => (-r, id) }.map(_._1)
    while (selected.size < k && remaining.nonEmpty) {
      val scored = remaining.map { id =>
        val penalty =
          if (selected.isEmpty) 0L
          else selected.map { case (_, sid, _, _) => sim((id, sid)) }.max
        id -> (wRel * relMap(id) - wDiv * penalty)
      }
      val (pick, score) = scored.minBy { case (id, s) => (-s, id) }
      selected += ((selected.size + 1L, pick, relMap(pick), score))
      remaining = remaining.filterNot(_ == pick)
    }
    selected.toSeq
  }

  /** The majority-vote half of [[knnClassify]], factored out so ANY
    * neighbor-retrieval path can feed it — the exact cross-scoring
    * harness above, or the persisted-index ANN candidates
    * ([[graft.sources.Warehouse.ivfPqClassify]]), which is what the
    * same vote rides at 100 TB. `neighbors` carries one row per
    * (query, voting neighbor), already limited to the k nearest;
    * prediction = the label with the most votes, ties to the smaller
    * label (deterministic for any deterministic retrieval).
    */
  def voteNeighbors(neighbors: DataFrame, qIdCol: String,
                    qLabelCol: String, labelCol: String): DataFrame =
    neighbors
      .groupBy(col(qIdCol), col(qLabelCol), col(labelCol))
      .agg(count(lit(1)).as("votes"))
      .withColumn("_vr", row_number().over(
        Window.partitionBy(col(qIdCol))
          .orderBy(col("votes").desc, col(labelCol).asc)))
      .filter(col("_vr") === 1)
      .select(col(qIdCol), col(qLabelCol).as("true_label"),
        col(labelCol).as("pred_label"), col("votes"),
        (col(labelCol) === col(qLabelCol)).as("correct"))

  /** Per-query recall@k of an approximate result against the exact one
    * (both shaped (qId, id), pre-limited to k rows per query). Queries
    * whose approximate set misses everything still get a row (recall 0).
    * The denominator is the query's ACTUAL exact-set size, not the
    * nominal k — on a corpus smaller than k a perfect match must read
    * 1.0, not |corpus|/k.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame, qIdCol: String,
                idCol: String, k: Int,
                as: String = "recall"): DataFrame =
    exact.select(qIdCol, idCol)
      .join(approx.select(qIdCol, idCol).withColumn("_hit", lit(1)),
        Seq(qIdCol, idCol), "left")
      .groupBy(qIdCol)
      .agg((sum(coalesce(col("_hit"), lit(0))) /
        count(lit(1)).cast("double")).as(as))

  /** IVF coarse quantizer with deterministic md5-seeded centroids (the
    * list-training step is orthogonal to the engine shape; real
    * deployments plug in k-means centroids). Each vector is assigned to
    * its nearest centroid by L2; a query probes the `nprobe` nearest
    * cells and scores only their members — at cluster scale the corpus
    * is partitioned by cell, so a probe touches nprobe partitions.
    */
  private[pipelines] def centroidComponent(c: Int, d: Int): Double =
    (md5Hash48Local(s"ivf:$c,$d") % 2000000L - 1000000L) / 1000000.0

  /** Nearest-centroid cell id (ties break to the lower cell id). */
  def ivfCell(vec: Column, k: Int, dim: Int): Column = {
    val dists = (0 until k).map { c =>
      val cent = array((0 until dim).map(d =>
        lit(centroidComponent(c, d))): _*)
      val d2 = aggregate(zip_with(toDouble(vec), cent,
        (x, w) => (x - w) * (x - w)), lit(0.0), (acc, x) => acc + x)
      struct(d2.as("d2"), lit(c).as("cell"))
    }
    least(dists: _*).getField("cell")
  }

  /** Nearest cell over TRAINED centroids (row-major literal matrix) —
    * compiled assignment via
    * [[graft.expressions.TextSketches.IvfCellAt]].
    */
  def ivfCellAtNative(vec: Column, cents: Array[Array[Double]]): Column =
    call_function("graft_ivf_cell_at", vec, lit(cents.flatten),
      lit(cents(0).length))

  /** The md5 grid as an explicit centroid matrix (k-means seed; also the
    * oracle-documented assignment when used with [[ivfCellAtNative]]).
    */
  def seedCentroids(k: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(k, dim)((c, d) => centroidComponent(c, d))

  /** Deterministic dataframe-native Lloyd k-means for IVF centroids.
    * Untrained (md5-random) centroids give unbalanced cells and poor
    * probe quality on clustered real-world embeddings; a few Lloyd
    * rounds fix both. Determinism: seeded init from the md5 grid, and
    * the per-cell means accumulate in DECIMAL (exact, order-independent
    * sums), so the result is bit-identical across partitionings and
    * retries. Each round is one assignment scan + one (cell, dim)
    * aggregation of k×dim rows; at 100 TB train on a hash-sampled
    * subset ([[TextAnalysis.stratifiedHashSample]]) — the centroids
    * only need the distribution, not the corpus.
    */
  def trainIvfCentroids(corpus: DataFrame, vecCol: String, k: Int,
                        dim: Int, iters: Int = 4,
                        seed: Option[Array[Array[Double]]] = None)
      : Array[Array[Double]] = {
    graft.expressions.GraftFunctions.register(corpus.sparkSession)
    var cents = seed.getOrElse(seedCentroids(k, dim))
    for (_ <- 0 until iters) {
      val means = corpus
        .select(ivfCellAtNative(col(vecCol), cents).as("_cell"),
          posexplode(toDouble(col(vecCol))))
        // ragged/short vectors get a null cell (the expressions degrade
        // rather than throw) — they must not crash the trainer either
        .filter(col("_cell").isNotNull)
        .groupBy("_cell", "pos")
        .agg(avg(col("col").cast("decimal(38,18)")).as("m"))
        .collect()
      val next = cents.map(_.clone())
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) =
          r.getDecimal(2).doubleValue() // empty cells keep their seed
      }
      cents = next
    }
    cents
  }

  /** Mean distance of each vector to its assigned centroid plus cell
    * sizes — the training-quality diagnostics (lower mean distance,
    * flatter cells = better probe behavior).
    */
  def ivfQuality(corpus: DataFrame, vecCol: String,
                 cents: Array[Array[Double]]): DataFrame = {
    graft.expressions.GraftFunctions.register(corpus.sparkSession)
    val dim = cents(0).length
    val d2 = (0 until cents.length).map { c =>
      val cl = array(cents(c).map(lit): _*)
      struct(aggregate(zip_with(toDouble(col(vecCol)), cl,
        (x, w) => (x - w) * (x - w)), lit(0.0), (a, x) => a + x).as("d2"),
        lit(c).as("cell"))
    }
    corpus
      .select(ivfCellAtNative(col(vecCol), cents).as("cell"),
        sqrt(least(d2: _*).getField("d2")).as("dist"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"), avg("dist").as("mean_dist"))
  }

  /** Per-cell robust outlier detection over assigned-centroid distances
    * — the embedding-hygiene gate a curation run applies BEFORE dedup
    * and indexing: corrupt, truncated, or degenerate vectors sit far
    * from every centroid, and flagging them per CELL (rather than
    * globally) keeps a naturally-diffuse cell from flooding the report
    * while a tight cell's defects still surface. Each vector's squared
    * distance to its assigned centroid is quantized to integer
    * MICRO-UNITS, per-cell mean/sample-stddev accumulate over those
    * exact integers (DECIMAL sums — order-independent, so the z-scores
    * are bit-reproducible under any partitioning; a float power sum
    * would drift per shuffle layout), and rows with
    * `z = (d² − μ_cell)/σ_cell ≥ zThresh` come back with their cell and
    * score. Constant cells (σ = 0) flag nothing by definition.
    *
    * Plan shape: one assignment scan (compiled nearest-cell +
    * declarative d², both whole-stage), one k-row cell aggregate
    * broadcast back onto the scan — no corpus self-join, no global
    * sort; at 100 TB this is a read of the corpus plus a k-row
    * exchange.
    */
  def centroidOutliers(corpus: DataFrame, idCol: String, vecCol: String,
                       cents: Array[Array[Double]],
                       zThresh: Double = 2.0): DataFrame = {
    graft.expressions.GraftFunctions.register(corpus.sparkSession)
    val d2 = (0 until cents.length).map { c =>
      val cl = array(cents(c).map(lit): _*)
      struct(aggregate(zip_with(toDouble(col(vecCol)), cl,
        (x, w) => (x - w) * (x - w)), lit(0.0), (a, x) => a + x).as("d2"),
        lit(c).as("cell"))
    }
    val assigned = corpus.select(col(idCol),
      ivfCellAtNative(col(vecCol), cents).as("cell"),
      round(least(d2: _*).getField("d2") * 1e6).cast("long")
        .as("d2_micro"))
    val stats = assigned.groupBy("cell").agg(
      count(lit(1)).as("cn"),
      sum(col("d2_micro").cast("decimal(38,0)")).as("s1"),
      sum((col("d2_micro").cast("decimal(38,0)") *
        col("d2_micro").cast("decimal(38,0)")).cast("decimal(38,0)"))
        .as("s2"))
    // fixed-order double staging (m → q → v → sd) so the oracle's SQL
    // reproduces the arithmetic operation-for-operation
    assigned.join(broadcast(stats), "cell")
      .withColumn("m", col("s1").cast("double") / col("cn"))
      .withColumn("q", col("s2").cast("double") / col("cn"))
      // cn = 1 has no sample variance (and ANSI doubles error on /0)
      .withColumn("v",
        when(col("cn") > 1,
          (col("q") - col("m") * col("m")) *
            (col("cn").cast("double") /
              (col("cn") - lit(1)).cast("double"))))
      // v can round to a tiny negative on a constant cell — gate the
      // sqrt so neither engine manufactures a NaN
      .withColumn("sd", when(col("v") > 0, sqrt(col("v"))))
      .withColumn("z",
        when(col("sd") > 0,
          (col("d2_micro").cast("double") - col("m")) / col("sd")))
      .filter(col("z") >= zThresh)
      .select(col(idCol), col("cell").cast("long").as("cell"),
        col("d2_micro"), (round(col("z"), 6) + lit(0.0)).as("z"))
  }

  /** Driver-side probe cells for TRAINED centroids — mirror of
    * [[probeCells]] with an explicit matrix.
    */
  def probeCellsAt(query: Array[Double], cents: Array[Array[Double]],
                   nprobe: Int): Seq[Int] =
    cents.indices.map { c =>
      var d2 = 0.0
      var d = 0
      while (d < query.length) {
        val x = query(d) - cents(c)(d)
        d2 += x * x
        d += 1
      }
      (d2, c)
    }.sorted.take(nprobe).map(_._2)

  /** Driver-side probe-cell selection for a LOCAL query vector — the
    * serving-path twin of the in-plan probe set in [[ivfTopKCosine]]:
    * same centroid arithmetic, same ascending-dimension accumulation,
    * same lower-cell tie-break, so both paths pick identical cells.
    */
  def probeCells(query: Array[Double], k: Int, nprobe: Int): Seq[Int] =
    (0 until k).map { c =>
      var d2 = 0.0
      var d = 0
      while (d < query.length) {
        val x = query(d) - centroidComponent(c, d)
        d2 += x * x
        d += 1
      }
      (d2, c)
    }.sorted.take(nprobe).map(_._2)

  /** ANN top-k over a CELL-PARTITIONED corpus (see
    * [[graft.sources.Warehouse.writeEmbeddingsByCell]]): the probe cells
    * are computed driver-side from the query vector and pushed as
    * `cell IN (...)` — Catalyst turns that into PartitionFilters, so the
    * scan reads nprobe directories instead of the corpus. This is the
    * 100 TB serving shape: cell assignment is paid once at ingest.
    */
  def ivfTopKPartitioned(cellPartitioned: DataFrame, idCol: String,
                         vecCol: String, query: Array[Double], topK: Int,
                         k: Int, nprobe: Int = 2,
                         centroids: Option[Array[Array[Double]]] = None)
      : DataFrame = {
    graft.expressions.GraftFunctions.register(cellPartitioned.sparkSession)
    val probes = centroids match {
      case Some(cents) => probeCellsAt(query, cents, nprobe)
      case None        => probeCells(query, k, nprobe)
    }
    val qCol = array(query.map(lit): _*)
    cellPartitioned
      .filter(col("cell").isin(probes: _*))
      .select(col(idCol),
        round(cosineNative(col(vecCol), qCol), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(topK)
  }

  /** IVF ANN top-k: score only vectors in the query's `nprobe` nearest
    * cells.
    */
  def ivfTopKCosine(corpus: DataFrame, idCol: String, vecCol: String,
                    query: Column, topK: Int, k: Int, dim: Int,
                    nprobe: Int = 2): DataFrame = {
    val qCells = (0 until k).map { c =>
      val cent = array((0 until dim).map(d =>
        lit(centroidComponent(c, d))): _*)
      val d2 = aggregate(zip_with(toDouble(query), cent,
        (x, w) => (x - w) * (x - w)), lit(0.0), (acc, x) => acc + x)
      struct(d2.as("d2"), lit(c).as("cell"))
    }
    val probed = array_sort(array(qCells: _*))
    val probeSet = transform(slice(probed, 1, nprobe),
      s => s.getField("cell"))
    graft.expressions.GraftFunctions.register(corpus.sparkSession)
    corpus
      .withColumn("_cell", ivfCellNative(col(vecCol), k, dim))
      .filter(array_contains(probeSet, col("_cell")))
      .select(col(idCol),
        round(cosineNative(col(vecCol), query), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(topK)
  }

  /** Symmetric int8 quantization of an embedding: each vector scales by
    * its own max-abs to [-127, 127] ints plus a per-vector scale — the
    * 4× storage shrink a 100 TB embedding store runs on. Pure in-row
    * one-pass compiled expression (scan-side, no shuffle); zero vectors
    * quantize to zeros with scale 0. Reconstruction error per component
    * ≤ scale/254. Requires
    * [[graft.expressions.GraftFunctions.register]] on the session (a
    * Column-level helper cannot self-register; `Tables` and every
    * DataFrame-level pipeline op register defensively).
    */
  def quantizeInt8(vec: Column): Column =
    call_function("graft_quantize_int8", vec)

  /** Declarative twin of [[quantizeInt8]] — kept as the readable
    * specification and for the native/declarative parity spec; the
    * interpreted HOFs walk the array 4+ times (and the struct's
    * consumers re-derive `q` per reference), which measured ~1s at
    * sf0.1 vs the one-pass compiled expression.
    */
  def quantizeInt8Declarative(vec: Column): Column = {
    val m = array_max(transform(vec, x => abs(x.cast("double"))))
    struct(
      when(m > 0,
        transform(vec, x => round(x.cast("double") / m * 127).cast("int")))
        .otherwise(transform(vec, _ => lit(0)))
        .as("q"),
      m.as("scale")) // full precision — rounding belongs to display
  }

  /** Dequantize back to doubles (the serving-side pair of
    * [[quantizeInt8]]).
    */
  def dequantizeInt8(q: Column, scale: Column): Column =
    transform(q, x => x.cast("double") * scale / 127d)

  /** LSH bit-width that keeps the expected bucket size near
    * `targetBucketSize`: ceil(log2(n / target)), clamped to
    * [minBits, 24]. The all-pairs stage costs O(Σ|bucket|²), so bucket
    * count must GROW with the corpus — a fixed width that is fine at
    * sf0.1 (16 buckets) is quadratic death at 10⁹ rows. 24 bits caps the
    * bucket-key space at 16.7M (beyond that, shard by an orthogonal key
    * first).
    */
  def bitsFor(corpusSize: Long, targetBucketSize: Long = 4096,
              minBits: Int = 4): Int = {
    val buckets =
      math.max(1L, corpusSize / math.max(1L, targetBucketSize))
    val need =
      if (buckets <= 1L) minBits
      else 64 - java.lang.Long.numberOfLeadingZeros(buckets - 1)
    math.min(24, math.max(minBits, need))
  }

  /** Batch ANN: MANY query vectors against the corpus in one plan — the
    * realistic serving shape (a single query is a degenerate batch). The
    * LSH bucket becomes an EQUI-join key between the query set and the
    * corpus, so the pair space is per-bucket, not |Q|×|corpus|; each
    * query then keeps its top-k by a per-query window rank. At cluster
    * scale both sides are pre-bucketed/partitioned and the join is
    * co-located.
    */
  def batchAnnTopK(corpus: DataFrame, idCol: String, vecCol: String,
                   queries: DataFrame, qIdCol: String, qVecCol: String,
                   k: Int, bits: Int, dim: Int,
                   hamming: Int = 0): DataFrame = {
    require(hamming <= 1, "only Hamming-1 multi-probe is supported")
    graft.expressions.GraftFunctions.register(corpus.sparkSession)
    val c = corpus.select(col(idCol), col(vecCol),
      bucketCol(col(vecCol), bits, dim).as("_b"))
    val q0 = queries.select(col(qIdCol), col(qVecCol),
      bucketCol(col(qVecCol), bits, dim).as("_b"))
    // multi-probe stays an EQUI-join: the query side explodes into its
    // bits+1 probe buckets (all distinct, so no candidate duplicates)
    val q =
      if (hamming <= 0) q0
      else q0.withColumn("_b", explode(probeBuckets(col("_b"), bits)))
    q.join(c, "_b")
      .select(col(qIdCol), col(idCol),
        round(cosineNative(col(vecCol), col(qVecCol)), 6).as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(qIdCol))
          .orderBy(col("cosine").desc, col(idCol).asc)))
      .filter(col("rank") <= k)
  }

  /** All-pairs near-duplicate detection by embedding cosine ≥ threshold,
    * LSH-blocked: pairs must share a bucket (scale path for the
    * embedding-cosine near-dup dedup mode). With `bits <= 0` (the
    * default) the bucket count is derived from the corpus size via
    * [[bitsFor]] — one `count()` job, the price of a scale-safe default;
    * callers that know their table stats pass `bits` explicitly.
    */
  def nearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                   threshold: Double, bits: Int = -1,
                   dim: Int = -1,
                   targetBucketSize: Long = 4096): DataFrame = {
    graft.expressions.GraftFunctions.register(corpus.sparkSession)
    val b = if (bits > 0) bits else bitsFor(corpus.count(), targetBucketSize)
    // norms precomputed per row (not per pair: inside the pair join the
    // norm fold would run |bucket|× per vector), buckets persisted so
    // both self-join sides read one evaluation (released by the harness
    // via Caches.releaseAll after the query's terminal action)
    val bucketed = graft.Caches.persist(
      corpus.select(col(idCol), col(vecCol),
        normNative(col(vecCol)).as("_norm"),
        bucketCol(col(vecCol), b, dim).as("_bucket")))
    bucketed.as("a").join(bucketed.as("b"),
        col("a._bucket") === col("b._bucket") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        round(dotNative(col(s"a.$vecCol"), col(s"b.$vecCol")) /
          (col("a._norm") * col("b._norm")), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Hybrid retrieval by Reciprocal Rank Fusion (Cormack et al. 2009):
    * fuse a lexical score and a vector score through their RANKS —
    * `rrf = 1/(k + lex_rank) + 1/(k + vec_rank)` — which needs no score
    * normalization (the classic failure of weighted-sum fusion when the
    * two scales differ). Ranks are GLOBAL but computed with the
    * scale-safe [[graft.operators.Relational.globalRanks]] (range
    * partition + broadcast prefix offsets — NO single-task window), so
    * the fusion survives a corpus that does not fit one partition. Ties
    * break by id, making both rankings and the fused top-N
    * deterministic.
    *
    * Input: one row per candidate with its id, lexical score, and
    * vector score already computed. Output: `id, lex_rank, vec_rank,
    * rrf`, the top `topN` by fused score.
    */
  def hybridTopKRrf(scored: DataFrame, id: Column, lexScore: Column,
                    vecScore: Column, k: Int = 60, topN: Int = 10)
      : DataFrame = {
    import graft.operators.Relational.globalRanks
    val base = scored.select(id.as("id"), lexScore.as("_lex"),
      vecScore.as("_vec"))
    val lexRanked = globalRanks(base,
      Seq(col("_lex").desc, col("id").asc))
      .withColumnRenamed("_rn", "lex_rank")
    val bothRanked = globalRanks(lexRanked,
      Seq(col("_vec").desc, col("id").asc))
      .withColumnRenamed("_rn", "vec_rank")
    bothRanked
      .withColumn("rrf",
        round(lit(1.0) / (lit(k) + col("lex_rank"))
          + lit(1.0) / (lit(k) + col("vec_rank")), 6))
      .orderBy(col("rrf").desc, col("id").asc)
      .limit(topN)
      .select("id", "lex_rank", "vec_rank", "rrf")
  }

  // ------------------------------------------------ product quantization

  /** L2-normalized double copy of an embedding column. Normalizing
    * BEFORE encoding makes the PQ inner product an estimate of cosine
    * directly (Jégou et al. 2011's ADC, on the unit sphere), so PQ
    * results rank on the same scale the exact baseline uses.
    *
    * Compiled one-pass [[graft.expressions.TextSketches.VecL2Normalize]]
    * (requires [[graft.expressions.GraftFunctions.register]], which
    * every pipeline entry point performs): the definitional
    * `transform(v, x => x / norm(v))` re-evaluates the norm fold once
    * per element — O(dim²) interpreted work per row — and yields
    * NaN on a zero vector, which the native form returns unchanged.
    * Sum-of-squares order and per-element division are bit-identical
    * to the declarative fold for non-zero vectors (SimilaritySpec).
    */
  def normalized(vec: Column): Column =
    call_function("graft_l2_normalize", vec)

  /** The definitional declarative twin of [[normalized]] — kept as
    * the spec's parity baseline; not used on any hot path.
    */
  def normalizedDeclarative(vec: Column): Column = {
    val v = toDouble(vec)
    transform(v, x => x / norm(vec))
  }

  /** md5-seeded PQ sub-codebooks (`m` subspaces × `ks` centroids ×
    * `subDim`) — deterministic, data-free, and literal-interpolatable
    * into the DuckDB oracle (the same role [[seedCentroids]] plays for
    * IVF). Real deployments refine them with [[trainPqCodebooks]].
    */
  def pqSeedCodebooks(m: Int, ks: Int, subDim: Int)
      : Array[Array[Array[Double]]] =
    Array.tabulate(m, ks, subDim)((j, c, d) =>
      (md5Hash48Local(s"pq:$j:$c,$d") % 2000000L - 1000000L) / 1000000.0)

  /** Per-subspace deterministic Lloyd refinement of the PQ codebooks:
    * subspace `j` trains on the corpus's normalized `j`-th subvectors
    * with [[trainIvfCentroids]]'s exact-DECIMAL means, seeded from
    * [[pqSeedCodebooks]] — bit-reproducible across partitionings. At
    * 100 TB train on a hash-sampled subset; codebooks only need the
    * distribution.
    */
  def trainPqCodebooks(corpus: DataFrame, vecCol: String, m: Int, ks: Int,
                       dim: Int, iters: Int = 4)
      : Array[Array[Array[Double]]] = {
    graft.expressions.GraftFunctions.register(corpus.sparkSession)
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim = dim / m
    val seeds = pqSeedCodebooks(m, ks, subDim)
    Array.tabulate(m) { j =>
      val sub = corpus.select(
        slice(normalized(col(vecCol)), j * subDim + 1, subDim).as("_sub"))
      trainIvfCentroids(sub, "_sub", ks, subDim, iters,
        seed = Some(seeds(j)))
    }
  }

  /** PQ encoding: per subspace, the nearest codebook centroid id — an
    * `m`-code array (one byte per code at ks ≤ 256; a 64-dim fp32
    * vector compresses 256/m ×). Rides the compiled [[ivfCellAtNative]]
    * assignment per subspace; input must be [[normalized]].
    */
  def pqEncode(vecN: Column, cb: Array[Array[Array[Double]]]): Column =
    array(cb.indices.map { j =>
      val subDim = cb(j)(0).length
      ivfCellAtNative(slice(vecN, j * subDim + 1, subDim), cb(j))
    }: _*)

  /** ADC (asymmetric distance computation) score: the query stays
    * exact, each code dereferences its centroid — score = Σ over
    * subspaces of ⟨query_sub, codebook[j][code_j]⟩, an inner-product
    * estimate of cosine for normalized inputs. Pure lookup arithmetic
    * over literal codebook arrays (one literal per codebook, not one
    * per coordinate, so planning stays cheap): the scan reads m-byte
    * codes, never raw vectors.
    */
  def pqScore(qN: Column, codes: Column,
              cb: Array[Array[Array[Double]]]): Column =
    cb.indices.map { j =>
      val subDim = cb(j)(0).length
      val cent = element_at(typedLit(cb(j)), element_at(codes, j + 1) + 1)
      aggregate(zip_with(slice(qN, j * subDim + 1, subDim), cent,
        (x, w) => x * w), lit(0.0), (acc, x) => acc + x)
    }.reduce(_ + _)

  /** Batch PQ top-k: encode the corpus once (m bytes per vector),
    * broadcast the normalized queries, rank every (query, code) pair by
    * ADC score with an id tie-break. Same harness shape as
    * [[batchTopKCosineExact]] so [[recallAtK]] grades it directly.
    */
  def batchPqTopK(corpus: DataFrame, idCol: String, vecCol: String,
                  queries: DataFrame, qIdCol: String, qVecCol: String,
                  k: Int, cb: Array[Array[Array[Double]]]): DataFrame = {
    graft.expressions.GraftFunctions.register(corpus.sparkSession)
    val codes = corpus.select(col(idCol),
      pqEncode(normalized(col(vecCol)), cb).as("_codes"))
    val qn = queries.select(col(qIdCol),
      normalized(col(qVecCol)).as("_qn"))
    codes.crossJoin(broadcast(qn))
      .select(col(qIdCol), col(idCol),
        round(pqScore(col("_qn"), col("_codes"), cb), 6).as("pq_score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(qIdCol))
          .orderBy(col("pq_score").desc, col(idCol).asc)))
      .filter(col("rank") <= k)
  }

  // --------------------------------------------- residual (IVF+PQ) coding

  /** L2-normalized copy of a centroid matrix. Residual PQ operates on
    * the unit sphere (vectors are [[normalized]] before encoding), so
    * the coarse term subtracted from them must live there too —
    * subtracting the raw centroid would leave residuals dominated by
    * the centroid's own magnitude instead of the vector's offset.
    */
  def normalizedCentroids(cents: Array[Array[Double]])
      : Array[Array[Double]] =
    cents.map { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n == 0.0) c.clone() else c.map(_ / n)
    }

  /** Residual of a normalized vector against its cell's normalized
    * centroid: `xn − cn(cell)` (Jégou et al. 2011 §IV — the second
    * quantizer codes the offset from the coarse one, which is far more
    * concentrated than the raw distribution, so the same code budget
    * buys more precision).
    */
  def residualAt(vecN: Column, cell: Column,
                 centsN: Array[Array[Double]]): Column = {
    val cm = array(centsN.map(c => array(c.map(lit): _*)): _*)
    zip_with(vecN, element_at(cm, cell + 1), (x, w) => x - w)
  }

  /** Inner product of a normalized query with its candidate's cell
    * centroid — the coarse term ADC adds back under residual coding:
    * ⟨q, y⟩ ≈ ⟨q, cn(cell)⟩ + ⟨q, residual-decode⟩.
    */
  def centroidDot(qN: Column, cell: Column,
                  centsN: Array[Array[Double]]): Column =
    aggregate(zip_with(qN, element_at(typedLit(centsN), cell + 1),
      (x, w) => x * w), lit(0.0), (acc, x) => acc + x)

  /** Per-subspace Lloyd refinement on RESIDUAL subvectors — the
    * codebooks residual ADC dereferences must be trained on the
    * distribution they encode. `seedScale` shrinks the md5 seed grid
    * toward the residuals' much smaller spread so the first assignment
    * pass already separates them (the ±1 raw-scale grid would park
    * every residual in a handful of cells).
    */
  def trainResidualPqCodebooks(corpus: DataFrame, vecCol: String,
                               cents: Array[Array[Double]], m: Int,
                               ks: Int, dim: Int, iters: Int = 4,
                               seedScale: Double = 0.25)
      : Array[Array[Array[Double]]] = {
    graft.expressions.GraftFunctions.register(corpus.sparkSession)
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim = dim / m
    val centsN = normalizedCentroids(cents)
    val res = corpus.select(
      residualAt(normalized(col(vecCol)),
        ivfCellAtNative(col(vecCol), cents), centsN).as("_res"))
    val seeds = pqSeedCodebooks(m, ks, subDim)
      .map(_.map(_.map(_ * seedScale)))
    Array.tabulate(m) { j =>
      val sub = res.select(slice(col("_res"), j * subDim + 1, subDim)
        .as("_sub"))
      trainIvfCentroids(sub, "_sub", ks, subDim, iters,
        seed = Some(seeds(j)))
    }
  }

  /** Residual-coded batch PQ top-k — [[batchPqTopK]]'s shape at the
    * same code budget (m codes, ks centroids), but each vector encodes
    * `xn − cn(cell)` and ADC adds the coarse term `⟨q, cn(cell)⟩` back,
    * plus one byte-ish `cell` per row the IVF layout stores anyway.
    * [[recallAtK]] grades both against the same exact baseline;
    * SimilaritySpec pins residual ≥ raw at equal bytes.
    */
  def batchPqTopKResidual(corpus: DataFrame, idCol: String,
                          vecCol: String, queries: DataFrame,
                          qIdCol: String, qVecCol: String, k: Int,
                          cents: Array[Array[Double]],
                          cb: Array[Array[Array[Double]]]): DataFrame = {
    graft.expressions.GraftFunctions.register(corpus.sparkSession)
    val centsN = normalizedCentroids(cents)
    val cell = ivfCellAtNative(col(vecCol), cents)
    val codes = corpus.select(col(idCol), cell.as("_cell"),
      pqEncode(residualAt(normalized(col(vecCol)), cell, centsN), cb)
        .as("_codes"))
    val qn = queries.select(col(qIdCol), normalized(col(qVecCol)).as("_qn"))
    codes.crossJoin(broadcast(qn))
      .select(col(qIdCol), col(idCol),
        round(pqScore(col("_qn"), col("_codes"), cb) +
          centroidDot(col("_qn"), col("_cell"), centsN), 6).as("pq_score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(qIdCol))
          .orderBy(col("pq_score").desc, col(idCol).asc)))
      .filter(col("rank") <= k)
  }

  /** PQ-select + exact re-rank — the standard serving composition: the
    * m-byte codes pick `cand` candidates per query (cheap, whole-corpus
    * scan over codes only), then the exact vectors of JUST those
    * candidates are read back and re-scored by true cosine for the
    * final top-`k`. Quantization error only costs recall when a true
    * neighbor falls outside the candidate set, so recall is tunable by
    * `cand` while the full-precision read stays |queries|·cand rows —
    * the 100 TB layout is codes in fast storage, vectors read by id.
    */
  def batchPqTopKRerank(corpus: DataFrame, idCol: String, vecCol: String,
                        queries: DataFrame, qIdCol: String,
                        qVecCol: String, k: Int, cand: Int,
                        cb: Array[Array[Array[Double]]]): DataFrame = {
    val selected = batchPqTopK(corpus, idCol, vecCol, queries, qIdCol,
      qVecCol, cand, cb).select(col(qIdCol), col(idCol))
    selected
      .join(corpus.select(col(idCol), col(vecCol)), idCol)
      .join(broadcast(queries), qIdCol)
      .select(col(qIdCol), col(idCol),
        round(cosineNative(col(vecCol), col(qVecCol)), 6).as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(qIdCol))
          .orderBy(col("cosine").desc, col(idCol).asc)))
      .filter(col("rank") <= k)
  }

  /** Hamming-metric nearest neighbors over SimHash bit signatures —
    * the third retrieval metric beside cosine (n1–n16) and BM25 (n18):
    * binary sketches make "roughly the same text" a ≤ d-bit question,
    * and banding makes answering it sub-quadratic. Each document's
    * nBits SimHash splits into `chunks` equal bands; a candidate must
    * share at least one full band with the query (pigeonhole: ≤
    * chunks−1 flipped bits always leave one band intact), so the scan
    * never scores the whole corpus — per query it touches only the
    * banded buckets, exactly like [[graft.pipelines.Dedup
    * .simhashCandidates]] (size the grid with `simhashParamsFor` in
    * production; the fixed (32, 4) here matches the oracle). The query
    * side is queryIds-sized and broadcasts; ranking is a row_number
    * partitioned per query.
    *
    * Output: `q_id, rank, nn_id, hamming` — top-k by (distance, id).
    */
  def simhashHammingTopK(docs: DataFrame, idCol: String, text: Column,
                         queryIds: Seq[Long], nBits: Int, chunks: Int,
                         k: Int): DataFrame = {
    val banded = Dedup.simhashBanded(docs, idCol, text, nBits, chunks)
    val queries = banded
      .filter(col(idCol).isInCollection(queryIds))
      .select(col(idCol).as("q_id"), col("_bits").as("_qbits"),
        col("chunk"), col("key"))
    banded.join(broadcast(queries), Seq("chunk", "key"))
      .filter(col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol).as("nn_id"),
        Dedup.hamming(col("_qbits"), col("_bits")).as("hamming"))
      .distinct()
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("hamming").asc, col("nn_id").asc)))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("nn_id"), col("hamming"))
  }

  /** Deterministic hard-negative candidate sampling for contrastive
    * training: per anchor, k pseudo-random corpus rows with a DIFFERENT
    * label, drawn from the anchor's hash bucket and ranked by a salted
    * per-(anchor, candidate) hash. The bucket restriction is what makes
    * this a join instead of an anchors × corpus cross: the corpus
    * shuffles once on its bucket id (1/`buckets` of the corpus per
    * probe), anchors broadcast, and the per-anchor top-k is a
    * row_number the optimizer turns into a WindowGroupLimit rank
    * pushdown — no full sort of the joined set.
    *
    * Every choice is salted-hash-derived (same discipline as
    * [[graft.pipelines.TextAnalysis.stratifiedHashSample]]), so the
    * sample is reproducible across partitionings, retries, and engines
    * — resampling epochs vary `salt`, not a seed held in driver state.
    */
  def negativeSample(corpus: DataFrame, anchors: DataFrame,
                     idCol: String, labelCol: String, k: Int,
                     buckets: Int, salt: String): DataFrame = {
    require(k > 0 && buckets > 0)
    val bucketOf = (id: Column) => graft.functions.MarketFunctions
      .md5Hash60(concat(lit(salt), lit("#"), id.cast("string"))) %
      buckets
    val c = corpus.select(col(idCol).as("neg_id"),
        col(labelCol).as("neg_label"),
        bucketOf(col(idCol)).as("_bk"))
    val a = anchors.select(col(idCol).as("anchor_id"),
        col(labelCol).as("_albl"), bucketOf(col(idCol)).as("_bk"))
    c.join(broadcast(a), Seq("_bk"))
      .filter(col("neg_label") =!= col("_albl") &&
        col("neg_id") =!= col("anchor_id"))
      .withColumn("_sc", graft.functions.MarketFunctions.md5Hash60(
        concat(lit(salt), lit("!"), col("anchor_id").cast("string"),
          lit(":"), col("neg_id").cast("string"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("anchor_id"))
          .orderBy(col("_sc").asc, col("neg_id").asc)))
      .filter(col("rank") <= k)
      .select(col("anchor_id"), col("rank").cast("long").as("rank"),
        col("neg_id"), col("neg_label"))
  }
}
