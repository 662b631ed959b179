package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipelines.{Dedup, Similarity, TextAnalysis}
import graft.sources.{AtomicTable, DocTable, Warehouse}

/** Corpus curation with index maintenance: each pass gates a seeded
  * document batch for quality, dedups it against the corpus, inserts
  * the survivors, upserts a batch of vectors, syncs the PQ index from
  * the vector table and serves top-10 queries from it. Shuffle-heavy
  * pipeline work and index maintenance dominate; per-query dispatch is
  * a small share (the bypass workload for dashboard-latency changes).
  */
final class Curate(seed: Long) extends Workload {
  import Curate._

  val params: Seq[(String, Any)] = Seq(
    "corpus_docs" -> Shape.corpusDocs, "batch_docs" -> Shape.batchDocs,
    "low_quality_share" -> Shape.lowQualityShare,
    "exact_copy_share" -> Shape.exactCopyShare,
    "near_dup_share" -> Shape.nearDupShare,
    "redelivery_share" -> Shape.redeliveryShare,
    "words_per_doc" -> s"${Shape.minWords}-${Shape.maxWords}",
    "vectors" -> Vectors, "dim" -> Dim, "clusters" -> Clusters,
    "seconds_per_pass" -> SecondsPerPass,
    "upserts_per_pass" -> Upserts, "queries_per_pass" -> Queries,
    "nprobe" -> NProbe, "cand" -> Cand, "recall_floor" -> RecallFloor,
    "clients" -> 1)

  private var spark: SparkSession = _
  private var dir: String = _
  private var docs: Gen.DocFeed = _
  private var vecs: Gen.VecFeed = _
  private var corpus: AtomicTable = _
  private var vectors: AtomicTable = _
  private var offeredBytes = 0L
  // per pass: (offered, gate survivors, dedup survivors, inserted)
  private val counts = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
  private val recalls = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var activeAfter = 0

  private def index = s"$dir/index"

  def setup(s: SparkSession, d: String): Unit = {
    spark = s; dir = d
    docs = new Gen.DocFeed(seed, Shape)
    vecs = new Gen.VecFeed(seed, Vectors, Dim, Clusters, Noise)
    corpus = DocTable(spark, s"$dir/corpus")
    val seedDocs = docs.seedCorpus()
    corpus.init(docFrame(spark, seedDocs))
    offeredBytes = seedDocs.map(docBytes).sum
    vectors = AtomicTable(spark, s"$dir/vectors", partCol = "label",
      defaultKeys = Seq("vec_id"), partType = _.toInt)
    vectors.init(vecFrame(spark, vecs.current.toSeq))
    offeredBytes += Vectors.toLong * vecBytes
    // IVF cells from the generator's cluster centres; the engine trains
    // the residual PQ codebooks, one Lloyd round per subspace (set-up is
    // repeated every run; recall@10 stays at 0.83–0.88 with one round)
    val emb = vectors.read()
    Warehouse.writePqIndex(emb, index, k = Clusters, dim = Dim,
      m = PqM, ks = PqKs, centroids = Some(vecs.centres),
      codebooks = Some(Similarity.trainResidualPqCodebooks(emb, "embedding",
        vecs.centres, PqM, PqKs, Dim, iters = 1)),
      residual = true)
    // the first sync reconciles the whole table and sets the fence
    Warehouse.syncIndexFromTable(spark, vectors, index)
  }

  /** One full pass, untimed but checked like the others. */
  def warmUp(rec: Recorder): Unit = pass(new Recorder, new Trace(spark), checks = rec)

  /** A fixed number of passes, one per [[SecondsPerPass]] of `seconds`:
    * every run curates the same batches into tables of the same shape.
    */
  def run(seconds: Double, rec: Recorder, trace: Trace): Unit = {
    val passes = math.max(1L, math.round(seconds / SecondsPerPass))
    var busy = 0L
    for (_ <- 0L until passes) busy += pass(rec, trace, checks = rec)
    rec.windowS = busy / 1e9
  }

  /** One curation pass, timed into `rec`; the checks that follow it are
    * not timed and count into `checks`. Returns the timed nanoseconds.
    */
  private def pass(rec: Recorder, t: Trace, checks: Recorder): Long = {
    val batch = docs.nextBatch()
    val upd = vecs.updates(Upserts)
    val qs = vecs.queries(Queries)
    val batchDf = docFrame(spark, batch.docs)
    val updDf = vecFrame(spark, upd)
    val bytes = batch.docs.map(docBytes).sum + upd.size * vecBytes
    offeredBytes += bytes
    rec.userBytes += bytes
    rec.rows += batch.docs.size
    var gated: DataFrame = null
    var survivors: DataFrame = null
    var inserted = -1L
    var stats: Warehouse.CdcSyncStats = null
    val answers = new Array[Array[Long]](qs.size)
    val t0 = System.nanoTime()
    rec.timed(rec.steps)(t.op {
      gated = t.span("pipelines.quality") {
        val g = TextAnalysis.qualityRules(batchDf, col("text"))
          .filter(col("keep")).select("doc_id", "source", "text").persist()
        g.count(); g
      }
      survivors = t.span("pipelines.dedup") {
        val d = Dedup.incrementalDedup(corpus.read(), gated, "doc_id", "text")
          .persist()
        d.count(); d
      }
      inserted = t.span("sources.commit")(corpus.insertIgnore(survivors))
      t.span("sources.commit")(vectors.upsert(updDf))
      stats = t.span("sources.sync")(
        Warehouse.syncIndexFromTable(spark, vectors, index))
      qs.indices.foreach { i =>
        rec.timed(rec.reads) {
          answers(i) = t.span("pipelines.ann_serve")(
            Warehouse.ivfPqServe(spark, index, qs(i), topK = 10,
              nprobe = NProbe, cand = Cand).collect().map(_.getLong(0)))
        }
      }
      activeAfter = graft.Caches.activeCount
    })
    val took = System.nanoTime() - t0
    verify(checks, batch, upd.size, gated, survivors, inserted, stats, qs,
      answers)
    if (gated != null) gated.unpersist()
    if (survivors != null) survivors.unpersist()
    graft.Caches.releaseAll()
    took
  }

  private def verify(rec: Recorder, batch: Gen.DocBatch, nUpserts: Int,
                     gated: DataFrame, survivors: DataFrame, inserted: Long,
                     stats: Warehouse.CdcSyncStats, qs: Vector[Array[Double]],
                     answers: Array[Array[Long]]): Unit = {
    val all = batch.docs.map(_.docId).toSet
    val gateIds = Option(gated).map(_.select("doc_id").collect()
      .map(_.getLong(0)).toSet).getOrElse(Set.empty[Long])
    val dedupIds = Option(survivors).map(_.select("doc_id").collect()
      .map(_.getLong(0)).toSet).getOrElse(Set.empty[Long])
    rec.check("quality gate drops exactly the low-quality documents") {
      gateIds == all -- batch.lowQuality
    }
    val wantDedup = gateIds -- batch.exactCopies -- batch.nearDups
    def tag(ids: Set[Long]) = ids.toSeq.sorted.map { id =>
      val kind = if (batch.exactCopies(id)) "copy" else if (batch.nearDups(id)) "near"
        else if (batch.redeliveries(id)) "redelivered" else "fresh"
      s"$id:$kind" }.mkString(" ")
    rec.check("dedup drops exactly the copies and near-duplicates (kept " +
      s"${tag(dedupIds -- wantDedup)}; dropped ${tag(wantDedup -- dedupIds)})") {
      dedupIds == wantDedup
    }
    rec.check("insert-ignore drops exactly the re-delivered documents") {
      batch.redeliveries.subsetOf(dedupIds) && inserted == batch.fresh.size
    }
    rec.check("the sync updates exactly the upserted ids") {
      stats != null && stats.updated == nUpserts && stats.inserted == 0L &&
        stats.deleted == 0L
    }
    counts += ((batch.docs.size.toLong, gateIds.size.toLong,
      dedupIds.size.toLong, math.max(0L, inserted)))
    // recall@10 against the exact top-10 over the same table state
    val qDf = spark.createDataFrame(java.util.Arrays.asList(qs.zipWithIndex.map {
        case (q, i) => Row(i.toLong, q.toSeq) }: _*),
      StructType(Seq(StructField("qid", LongType),
        StructField("qvec", ArrayType(DoubleType)))))
    val exact = Similarity.batchTopKCosineExact(vectors.read(), "vec_id",
        "embedding", qDf, "qid", "qvec", 10)
      .select("qid", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val recall = qs.indices.map { i =>
      val want = exact.getOrElse(i.toLong, Set.empty[Long])
      val got = Option(answers(i)).map(_.toSet).getOrElse(Set.empty[Long])
      if (want.isEmpty) 0.0 else (want intersect got).size.toDouble / want.size
    }
    val mean = recall.sum / recall.size
    recalls += mean
    rec.check(f"recall@10 $mean%.3f >= $RecallFloor") { mean >= RecallFloor }
  }

  def check(rec: Recorder): Unit = {
    rec.check("the corpus holds the seed corpus and every fresh document, each once") {
      val ids = corpus.read().select("doc_id").collect().map(_.getLong(0))
      val want = docs.corpusIds
      ids.length == want.size && ids.toSet == want
    }
  }

  def close(): Unit = ()

  def diskBytes: Long =
    Seq(s"$dir/corpus", s"$dir/vectors", index).map(Main.treeBytes).sum

  def inputBytes: Long = offeredBytes

  def layers(t: Trace, rec: Recorder): Map[String, Double] = {
    val (off, gate, dedup, ins) = counts.foldLeft((0L, 0L, 0L, 0L)) {
      case ((a, b, c, d), (w, x, y, z)) => (a + w, b + x, c + y, d + z) }
    Map(
      "sources.data_dirs" -> (corpus.dataDirCount + vectors.dataDirCount).toDouble,
      "sources.insert_ignore_drop_ratio" ->
        (if (dedup == 0) 0.0 else (dedup - ins).toDouble / dedup),
      "pipelines.dedup_survivor_ratio" ->
        (if (gate == 0) 0.0 else dedup.toDouble / gate),
      "pipelines.ann_recall_at_10" ->
        (if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size),
      "caches.active_after_op" -> activeAfter.toDouble)
  }
}

object Curate {
  val Shape: Gen.CurateShape = Gen.CurateShape(corpusDocs = 800,
    batchDocs = 100, lowQualityShare = 0.1, exactCopyShare = 0.1,
    nearDupShare = 0.1, redeliveryShare = 0.1, minWords = 60, maxWords = 200,
    sources = 4)
  val Vectors = 1000
  val Dim = 32
  val Clusters = 8
  val Noise = 0.35
  val PqM = 8
  val PqKs = 16
  val Upserts = 16
  /** Run length: one pass per this many seconds asked for. A pass takes
    * longer than that on a 4-core box (see README); two passes per run
    * at `--seconds 10` is what the time budget of a full session allows.
    */
  val SecondsPerPass = 5.0
  val Queries = 3
  val NProbe = 2
  val Cand = 50
  /** Mean recall@10 of a pass below this fails the pass's check. */
  val RecallFloor = 0.6

  private val vecBytes = 8L + 4 + 4L * Dim
  private def docBytes(d: Gen.Doc): Long =
    8L + d.source.length + d.text.getBytes("UTF-8").length

  def docFrame(spark: SparkSession, ds: Seq[Gen.Doc]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(ds.map(d =>
      Row(d.docId, d.source, d.text)): _*),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("source", StringType), StructField("text", StringType))))

  def vecFrame(spark: SparkSession, vs: Seq[Gen.Vec]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(vs.map(v =>
      Row(v.vecId, v.label, v.embedding.toSeq)): _*),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("label", IntegerType),
        StructField("embedding", ArrayType(FloatType)))))
}
