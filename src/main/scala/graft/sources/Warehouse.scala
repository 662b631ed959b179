package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Encoder, SaveMode,
  SparkSession}
import org.apache.spark.sql.functions._

/** Physical layouts beside the engine's tables-of-record:
  *
  *  - fact tables bucketed by join key: co-located, shuffle-free joins
  *    between tables bucketed on the same key/count (requires the
  *    catalog, i.e. `saveAsTable`). At 100 TB bucketing removes the
  *    fact-to-fact shuffle entirely.
  *  - the cell-partitioned IVF / IVF-PQ embedding indexes, with their
  *    delta, tombstone, snapshot, compaction and change-feed sync verbs.
  *
  * The prices table-of-record is [[PriceTable]], an [[AtomicTable]]
  * keyed by [[PriceKeys]]; this object only names that merge key.
  */
object Warehouse {

  /** Register a bucketed table-of-record (catalog-backed; both sides of
    * a co-located join must share bucket column and count).
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    buckets: Int): Unit = {
    val spark = df.sparkSession
    // the default catalog is in-memory: a previous session's files can
    // linger at the managed location with no catalog entry, which makes
    // saveAsTable fail with LOCATION_ALREADY_EXISTS — clear both
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      table.toLowerCase)
    if (loc.exists()) deleteRecursively(loc)
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .format("parquet").saveAsTable(table)
  }

  /** The merge key of the prices table-of-record — the reference's
    * UNIQUE(symbol, as_of, source) (/root/reference/app/db.py:44).
    */
  val PriceKeys: Seq[String] = Seq("symbol", "as_of", "source")

  /** Index-version indirection for the PQ/cell index family: when
    * `root/CURRENT` exists, every index path — base layout, centroid
    * and codebook files, delta tables — resolves into the version
    * directory it names. The pointer is written ONLY by
    * [[rebuildIfDrifted]]'s atomic move, so a reader sees either the
    * complete old index or the complete new one, never a mix; a root
    * with no pointer is its own (only) version, and pre-versioned
    * layouts read/write exactly as before.
    */
  private def resolveIndexRoot(root: String): String = {
    val p = java.nio.file.Paths.get(s"$root/CURRENT")
    if (java.nio.file.Files.exists(p))
      s"$root/${java.nio.file.Files.readString(p).trim}"
    else root
  }

  /** IVF-partitioned embedding layout: every vector is written under its
    * coarse-quantizer cell directory, so an ANN probe reads only its
    * `nprobe` cells' directories (PartitionFilters) instead of scanning
    * the corpus — cell assignment is paid once at ingest, the 100 TB
    * serving shape. Pair with
    * [[graft.pipelines.Similarity.ivfTopKPartitioned]].
    */
  def writeEmbeddingsByCell(emb: DataFrame, root0: String, k: Int,
                            dim: Int,
                            vecCol: String = "embedding",
                            centroids: Option[Array[Array[Double]]] = None)
      : Unit = {
    val root = resolveIndexRoot(root0)
    graft.expressions.GraftFunctions.register(emb.sparkSession)
    // default: trained k-means centroids (balanced cells, tight probes);
    // pass Similarity.seedCentroids(k, dim) explicitly to reproduce the
    // oracle-documented md5 grid. The centroids used are PERSISTED next
    // to the data — probe-cell selection at read time must rank by the
    // SAME centroids that labeled the directories, or the nprobe reads
    // are arbitrary (silent recall collapse).
    val cents = centroids.getOrElse(
      graft.pipelines.Similarity.trainIvfCentroids(emb, vecCol, k, dim))
    val rows = emb.withColumn("cell",
      graft.pipelines.Similarity.ivfCellAtNative(col(vecCol), cents))
    rows.write.mode(SaveMode.Overwrite).partitionBy("cell")
      .parquet(s"$root/embeddings")
    AtomicTable.recordSchema(s"$root/embeddings", rows.schema)
    val body = cents.map(_.map(java.lang.Double.toString).mkString(","))
      .mkString("\n") // full double repr → exact parse-back
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/centroids.txt"), body)
  }

  def readEmbeddingsByCell(spark: SparkSession, root: String): DataFrame =
    AtomicTable.readRecorded(spark,
      s"${resolveIndexRoot(root)}/embeddings", "cell")

  /** The exact centroid matrix a cell-partitioned layout was written
    * with — the only correct ranking for its probe cells.
    */
  def readEmbeddingCentroids(root: String): Array[Array[Double]] =
    java.nio.file.Files
      .readString(java.nio.file.Paths
        .get(s"${resolveIndexRoot(root)}/centroids.txt"))
      .split("\n").map(_.split(",").map(_.toDouble))

  /** Serve an ANN probe against a cell-partitioned layout with the
    * layout's OWN centroids — the safe pairing of
    * [[writeEmbeddingsByCell]] + [[graft.pipelines.Similarity.ivfTopKPartitioned]].
    */
  def ivfServe(spark: SparkSession, root: String, idCol: String,
               vecCol: String, query: Array[Double], topK: Int,
               nprobe: Int = 2): DataFrame = {
    val cents = readEmbeddingCentroids(root)
    graft.pipelines.Similarity.ivfTopKPartitioned(
      readEmbeddingsByCell(spark, root), idCol, vecCol, query, topK,
      k = cents.length, nprobe = nprobe, centroids = Some(cents))
  }

  /** Persist the full IVFPQ index layout under `root`: the raw vectors
    * cell-partitioned ([[writeEmbeddingsByCell]] — `embeddings/cell=…`
    * plus `centroids.txt`), the m-byte PQ codes as their OWN
    * cell-partitioned table (`codes/cell=…` — the ADC select path
    * scans only these narrow rows, never raw vectors), and the
    * codebooks next to the data (`codebooks.txt`, full double repr).
    * Codes and vectors share the cell assignment by construction, so
    * one probe list selects from both. Both trees record their written
    * schema in a `_schema` sidecar, so their reads infer none.
    *
    * A root whose index is already built (its `pqmeta.txt`, written
    * last, exists) is refused: overwriting the base in place would
    * leave the delta and tombstone tables coded under the old model
    * beside it, and a crash mid-write would leave no base at all. A
    * crashed first build has no `pqmeta.txt` and can be re-run.
    * Rebuild a live index with [[compactPqIndex]] or
    * [[rebuildIfDrifted]], which build a fresh version and flip to it.
    */
  def writePqIndex(emb: DataFrame, root0: String, k: Int, dim: Int,
                   m: Int, ks: Int,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding",
                   centroids: Option[Array[Array[Double]]] = None,
                   codebooks: Option[Array[Array[Array[Double]]]] = None,
                   residual: Boolean = false)
      : Unit = {
    val root = resolveIndexRoot(root0)
    require(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$root/pqmeta.txt")),
      s"an IVFPQ index is already built at $root0; rebuild it with " +
        "compactPqIndex or rebuildIfDrifted, or write to a fresh root")
    writeEmbeddingsByCell(emb, root, k, dim, vecCol, centroids)
    val cents = readEmbeddingCentroids(root)
    val cb = codebooks.getOrElse(
      if (residual) graft.pipelines.Similarity
        .trainResidualPqCodebooks(emb, vecCol, cents, m, ks, dim)
      else graft.pipelines.Similarity
        .trainPqCodebooks(emb, vecCol, m, ks, dim))
    val codes = emb.withColumn("cell",
        graft.pipelines.Similarity.ivfCellAtNative(col(vecCol), cents))
      .withColumn("code", pqCodeFor(vecCol, cents, cb, residual))
      .select(col(idCol), col("cell"), col("code"))
    codes.write.mode(SaveMode.Overwrite).partitionBy("cell")
      .parquet(s"$root/codes")
    AtomicTable.recordSchema(s"$root/codes", codes.schema)
    val body = cb.zipWithIndex.flatMap { case (book, j) =>
      book.zipWithIndex.map { case (cent, c) =>
        s"$j;$c;" + cent.map(java.lang.Double.toString).mkString(",")
      }
    }.mkString("\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/codebooks.txt"), body)
    // The coding scheme is part of the index's frozen model: codes
    // written as residuals are meaningless under raw ADC (and vice
    // versa), so serve/append must read the flag from the layout, never
    // take it as a parameter they could get wrong.
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/pqmeta.txt"),
      s"residual=$residual")
  }

  /** True iff the index at `root` was written with residual coding;
    * indexes from before the flag existed are raw.
    */
  def readPqResidualFlag(root: String): Boolean = {
    val p = java.nio.file.Paths
      .get(s"${resolveIndexRoot(root)}/pqmeta.txt")
    java.nio.file.Files.exists(p) &&
      java.nio.file.Files.readString(p).trim == "residual=true"
  }

  /** The m-code PQ encoding of `vecCol` under the index's frozen model:
    * raw coding quantizes the normalized vector; residual coding
    * quantizes its offset from the cell's normalized centroid.
    */
  private def pqCodeFor(vecCol: String, cents: Array[Array[Double]],
                        cb: Array[Array[Array[Double]]],
                        residual: Boolean): org.apache.spark.sql.Column = {
    val S = graft.pipelines.Similarity
    val vecN = S.normalized(col(vecCol))
    if (residual)
      S.pqEncode(S.residualAt(vecN, S.ivfCellAtNative(col(vecCol), cents),
        S.normalizedCentroids(cents)), cb)
    else S.pqEncode(vecN, cb)
  }

  def readPqCodes(spark: SparkSession, root: String): DataFrame =
    AtomicTable.readRecorded(spark, s"${resolveIndexRoot(root)}/codes",
      "cell")

  /** The exact codebooks the codes table was encoded with. */
  def readPqCodebooks(root: String): Array[Array[Array[Double]]] = {
    val rows = java.nio.file.Files
      .readString(java.nio.file.Paths
        .get(s"${resolveIndexRoot(root)}/codebooks.txt"))
      .split("\n")
      .map { line =>
        val Array(j, c, vs) = line.split(";", 3)
        (j.toInt, c.toInt, vs.split(",").map(_.toDouble))
      }
    val m = rows.map(_._1).max + 1
    val ks = rows.map(_._2).max + 1
    val out = Array.ofDim[Array[Double]](m, ks)
    rows.foreach { case (j, c, v) => out(j)(c) = v }
    out
  }

  /** The two delta-shard stores of a streaming-maintained index — the
    * appended raw vectors and their PQ codes, each an [[AtomicTable]]
    * partitioned by `cell` (manifest commits, OCC via the hard-link
    * publish, per-version time travel, `cell IN (...)` partition
    * pruning on every read). The base index stays the immutable build
    * ([[writePqIndex]]); everything streamed after it lives here.
    */
  def pqDeltaEmbTable(spark: SparkSession, root: String,
                      failpoint: String => Unit = _ => ()): AtomicTable =
    cellTable(spark, s"${resolveIndexRoot(root)}/delta_emb", "vec_id",
      failpoint)
  def pqDeltaCodeTable(spark: SparkSession, root: String,
                       failpoint: String => Unit = _ => ()): AtomicTable =
    cellTable(spark, s"${resolveIndexRoot(root)}/delta_codes", "vec_id",
      failpoint)

  /** An index-side [[AtomicTable]] at `dir` (no version resolution):
    * partitioned by the integer `cell`, keyed by `key` — the shape of
    * every delta and tombstone table.
    */
  private def cellTable(spark: SparkSession, dir: String, key: String,
                        failpoint: String => Unit = _ => ()): AtomicTable =
    AtomicTable(spark, dir, partCol = "cell", defaultKeys = Seq(key),
      failpoint = failpoint, partType = _.toInt)

  /** Streaming delta segment: one micro-batch's rows, cell-assigned
    * and PQ-coded by the index's FROZEN model, committed into the
    * delta [[AtomicTable]] pair — the Lucene-segment discipline an
    * always-on embedding store needs (the base index never rewrites on
    * ingest), carried by the SAME manifest protocol the tables of
    * record use instead of ad-hoc marker files:
    *
    *  - exactly-once per `batchId`: the (stream, batchId) txn mark
    *    commits atomically with the data, so a foreachBatch replay
    *    after a sink-side crash is a clean skip, and a crash BEFORE
    *    the manifest publish leaves fully-old state a replay heals;
    *  - crash between the two table commits (vectors land, codes
    *    don't): the serve path SELECTS candidates from the codes
    *    table, so rows without committed codes are simply not served —
    *    indistinguishable from the batch not having arrived — and the
    *    replay completes the codes commit (the vectors side skips on
    *    its mark and the codes side completes its commit — batch rows
    *    are unique by batchId, so the commit is a blind [[AtomicTable
    *    .append]], never a per-batch anti-join re-scan of the index);
    *  - OCC: a delta append racing a [[compactPqDeltas]] on the same
    *    version loses with a clean ConcurrentModificationException
    *    instead of corrupting the layout;
    *  - time travel: each table's manifest history reconstructs the
    *    served index at any append point.
    *
    * A late batch is cell-assigned by the PERSISTED centroids and
    * encoded with the PERSISTED codebooks — retraining on append would
    * silently re-shape cells and code meanings under the existing
    * entries. Cell and code are pure functions of that frozen model, so
    * base ∪ delta serves exactly what a one-shot build over the union
    * serves (`n15_index_append` proves it against n13's oracle), at
    * O(batch) cost per append.
    *
    * UPDATE-OUTRANKS-APPEND: delta rows land at the implicit update
    * sequence `_seq = 0`, so appending an id that a later
    * [[updateInPqIndex]] already touched lands DEAD under the id's
    * standing tombstone mark (`upto >= 0` never equals `-1`) until a
    * rebuild re-ingests the live view — the same discipline as
    * takedown-wins for deletes. Ingest streams that may re-deliver
    * updated ids should route them through [[updateInPqIndex]] (or
    * [[graft.streaming.IndexStream.startUpdates]]), which sequences
    * PAST the mark, not through the append stream.
    */
  def writePqDelta(batch: DataFrame, root: String, batchId: Long,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding",
                   failpoint: String => Unit = _ => (),
                   stream: String = "pq_delta",
                   dedupIds: Boolean = false,
                   knownNonEmpty: Boolean = false): Unit = {
    // A zero-row micro-batch (empty landing poll) has nothing to shard;
    // skipping it without a commit is replay-safe — the replayed batch
    // is empty again and skips again — and keeps init() from ever
    // seeing an empty seed. Callers that already COUNTED the batch
    // (the CDC sync gates every verb on one counting job) pass
    // knownNonEmpty to skip re-running the batch subtree here.
    if (!knownNonEmpty && batch.isEmpty) return
    val spark = batch.sparkSession
    graft.expressions.GraftFunctions.register(spark)
    // resolve the version ONCE: model files and delta tables must come
    // from the SAME version, or a concurrent rebuild's pointer flip
    // could land old-model codes in the new version's tables
    val r = resolveIndexRoot(root)
    // tiny-verb fast path (guide §2): a micro-batch delta shard's
    // plans touch the index tree + the batch — AQE's per-stage jobs
    // are pure overhead when both are provably small
    Adaptive.withTinyPlan(spark, Adaptive.touchedBytes(Seq(r), batch)) {
    val cents = readEmbeddingCentroids(r)
    val cb = readPqCodebooks(r)
    val cell = graft.pipelines.Similarity
      .ivfCellAtNative(col(vecCol), cents)
    val txn = Some((stream, batchId))
    val embRows0 = batch.withColumn("cell", cell)
    val codeRows0 = batch.withColumn("cell", cell)
      .withColumn("code",
        pqCodeFor(vecCol, cents, cb, readPqResidualFlag(r)))
      .select(col(idCol), col("cell"), col("code"))
    val emb = pqDeltaEmbTable(spark, r, failpoint)
    val codes = pqDeltaCodeTable(spark, r, failpoint)
    // `dedupIds`: idempotence BY CONTENT for callers whose replay
    // fence cannot be trusted to hold still — the CDC sync fences on
    // the window-end TABLE version, so a crash inside this verb (emb
    // committed, codes not) replayed after the table advanced re-runs
    // under a LARGER batchId and the (stream, batchId) mark no longer
    // skips the emb side: the same id would land twice at _seq 0 and
    // the next compaction would bake the double into serve candidates.
    // The anti-join drops already-committed ids per table, so the
    // replay re-lands only what its crash lost. OFF by default: plain
    // ingest streams fence on the micro-batch id (stable across
    // replays), their batches are new-id-only, and the per-batch
    // anti-join would re-scan the accreted delta table to remove
    // nothing. The committed read is semi-pruned by the batch's own
    // ids, so when it IS on, the anti-join's build side is O(batch).
    def dedupById(rows: DataFrame,
                  t: graft.sources.AtomicTable): DataFrame =
      if (!dedupIds || !t.hasData) rows
      else rows.join(
        t.read().select(col(idCol))
          .join(rows.select(col(idCol)), Seq(idCol), "left_semi"),
        Seq(idCol), "left_anti")
    val embRows = dedupById(embRows0, emb)
    val codeRows = dedupById(codeRows0, codes)
    // vectors FIRST, codes second: the serve is codes-driven (see
    // scaladoc), so the in-between crash state is benign
    if (emb.version == 0L) emb.init(embRows, txn)
    else emb.append(embRows, txn)
    if (codes.version == 0L) codes.init(codeRows, txn)
    else codes.append(codeRows, txn)
    // flip fence: if a rebuild flipped root/CURRENT while this batch
    // was encoding/committing, the shard just landed in the superseded
    // version and would vanish from the serving view. Replay into the
    // new current — its fresh tables carry no (stream, batchId) mark,
    // so the replay commits there, re-encoded under the NEW model.
    // Bounded by flip frequency (a rare maintenance event); together
    // with [[sweepSupersededIndexDeltas]] (which catches shards whose
    // commit completed before the flip) no shard is ever lost.
    if (resolveIndexRoot(root) != r)
      writePqDelta(batch, root, batchId, idCol, vecCol, failpoint,
        stream, dedupIds, knownNonEmpty)
    }
  }

  /** True iff the index at `root` has any committed streaming deltas. */
  def hasPqDeltas(spark: SparkSession, root: String): Boolean =
    pqDeltaCodeTable(spark, root).hasData

  // ---- snapshot wire format ------------------------------------------

  /** Minimal JSON string escaping for the sidecars: quotes, backslashes,
    * and control characters — the headers must stay valid JSON for ANY
    * salt or table root. [[jsonUnstr]] is its inverse.
    */
  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Decode a [[jsonStr]] body (without its quotes): `\uXXXX` is that
    * character, any other escaped character stands for itself.
    */
  private def jsonUnstr(s: String): String =
    """\\(?:u([0-9a-fA-F]{4})|(.))""".r.replaceAllIn(s, m =>
      java.util.regex.Matcher.quoteReplacement(
        if (m.group(1) != null) Integer.parseInt(m.group(1), 16).toChar.toString
        else m.group(2)))

  /** One sidecar line: a flat JSON object, fields in order, string
    * values through [[jsonStr]], anything else as its `toString`.
    */
  private def jsonLine(fields: (String, Any)*): String =
    fields.map {
      case (k, v: String) => s"${jsonStr(k)}:${jsonStr(v)}"
      case (k, v) => s"${jsonStr(k)}:$v"
    }.mkString("{", ",", "}")

  private def writeSidecar(dir: String, name: String,
                           lines: Seq[String]): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/$name"),
      lines.mkString("", "\n", "\n"))

  /** Fingerprint tuples as manifest lines, fields named by `cols`. */
  private def fpLines(cols: Seq[String], fps: Seq[Product]): Seq[String] =
    fps.map(f => jsonLine(cols.zip(f.productIterator.toSeq): _*))

  private val ShardCols = Seq("shard", "n_rows", "content_xor")
  private val DeltaCols = Seq("shard", "change_type", "n_rows", "content_xor")
  private val ShardLine =
    """\{"shard":(-?\d+),"n_rows":(-?\d+),"content_xor":(-?\d+)\}""".r
  private val DeltaLine = ("""\{"shard":(-?\d+),"change_type":"(\w+)",""" +
    """"n_rows":(-?\d+),"content_xor":(-?\d+)\}""").r
  private val EndpointLine =
    """\{"endpoint":"(v[12])","n_rows":(-?\d+),"content_xor":(-?\d+)\}""".r
  private val ModelLine = """\{"model":"([^"]+)","md5":"([0-9a-f]+)"\}""".r

  private def requireShardArgs(shards: Int, salt: String): Unit = {
    require(shards > 0, "shards must be positive")
    require(!salt.contains("#"), "snapshot salt must not contain '#'")
  }

  /** Write `rows` in the snapshot wire format and return the shard
    * fingerprints recomputed from the written files. The format, shared
    * by the six snapshot verbs ([[exportSnapshot]]/[[importSnapshot]],
    * [[exportSnapshotDelta]]/[[applySnapshotDelta]],
    * [[exportPqIndexSnapshot]]/[[importPqIndexSnapshot]]):
    *
    *  - rows: JSON lines, one `shard=N` directory per shard; shard =
    *    salted 60-bit md5 of `salt#id`, mod `shards` — deterministic,
    *    rebalanced only by changing the salt, never by cluster layout,
    *    so loaders stream shards independently. `shards` must be
    *    positive and the salt must not contain `#`, which would make
    *    the `salt#id` split ambiguous ([[requireShardArgs]]);
    *  - shard fingerprint ([[shardFps]]): per shard (per shard and
    *    `change_type` for a delta) the row count and the
    *    order-independent `bit_xor` of a per-row 64-bit fingerprint
    *    column, computed from the FILES re-read under the written
    *    frame's schema — never JSON inference, which would re-type a
    *    "007" string. Partition layout cannot perturb it; one changed,
    *    added or dropped row flips it, and re-exporting the same input
    *    yields the identical manifest. A whole-frame fingerprint
    *    ([[frameFp]]: a delta's endpoints, a destination's contents) is
    *    the same (count, `bit_xor`) over one frame, (0, 0) when empty;
    *  - `_MANIFEST.json`: one flat JSON object per line ([[jsonLine]])
    *    — shard lines `shard, n_rows, content_xor` (a delta adds
    *    `change_type` after `shard`), a delta's endpoint lines
    *    `endpoint, n_rows, content_xor`, an index's model lines
    *    `model, md5`. Importers parse every line strictly: a line of no
    *    known shape refuses the import;
    *  - `_PROVENANCE.json`: one flat JSON object naming what was
    *    exported (versions, salt, shard count, source root; an index
    *    adds its id column and row schema), strings escaped by
    *    [[jsonStr]] and read back by [[provField]], so any salt or root
    *    round-trips;
    *  - importers recompute the shard lines from the files and refuse
    *    WHOLE, before any commit, unless they equal the manifest's
    *    ([[verifyShards]]), naming the divergent lines.
    *
    * Both sidecars are underscore-prefixed, so no data reader sees them.
    */
  private def writeShards(rows: DataFrame, outDir: String, shards: Int,
                          salt: String, idCol: String, fp: Column,
                          keys: String*): DataFrame = {
    rows.withColumn("shard",
        graft.functions.MarketFunctions.md5Hash60(
          concat(lit(s"$salt#"), col(idCol).cast("string"))) % shards)
      .write.mode(SaveMode.Overwrite).partitionBy("shard").json(outDir)
    shardFps(rows.sparkSession.read.schema(rows.schema).json(outDir), fp,
      keys: _*)
  }

  /** Per-shard (and per `keys`) `n_rows, content_xor` of `fp` over
    * re-read shard files, ordered — see [[writeShards]].
    */
  private def shardFps(files: DataFrame, fp: Column,
                       keys: String*): DataFrame =
    files.withColumn("_fp", fp)
      .groupBy(col("shard").cast("long").as("shard") +: keys.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(_fp)").as("content_xor"))
      .orderBy("shard", keys: _*)

  /** Whole-frame (rows, `bit_xor` of `fp`) — see [[writeShards]]. */
  private def frameFp(df: DataFrame, fp: Column): (Long, Long) = {
    val spark = df.sparkSession
    import spark.implicits._
    df.withColumn("_fp", fp)
      .agg(count(lit(1)), coalesce(expr("bit_xor(_fp)"), lit(0L)))
      .as[(Long, Long)].head()
  }

  /** Refuse — before anything commits — unless the fingerprints
    * recomputed from `files` equal the `manifest` lines.
    */
  private def verifyShards[T: Encoder: Ordering](files: DataFrame,
                                                 fp: Column,
                                                 manifest: Seq[T],
                                                 refusal: String,
                                                 keys: String*): Unit = {
    val got = shardFps(files, fp, keys: _*).as[T].collect().toSeq
    if (got != manifest) {
      val bad = (manifest.toSet diff got.toSet) ++
        (got.toSet diff manifest.toSet)
      throw new IllegalStateException(s"$refusal; divergent shards " +
        s"(expected/found): ${bad.toSeq.sorted}")
    }
  }

  /** The non-blank `_MANIFEST.json` lines of the export dir `dir`
    * (`what`: "an exportSnapshot", "a delta-export", ...).
    */
  private def manifestLines(dir: String, what: String): Seq[String] = {
    val mf = java.nio.file.Paths.get(s"$dir/_MANIFEST.json")
    require(java.nio.file.Files.exists(mf),
      s"no _MANIFEST.json under $dir — not $what dir")
    java.nio.file.Files.readAllLines(mf).asScala.map(_.trim)
      .filter(_.nonEmpty).toSeq
  }

  /** Every line through `parse`; a line it does not match refuses. */
  private def parseLines[T](lines: Seq[String], what: String)(
      parse: PartialFunction[String, T]): Seq[T] =
    lines.map(l => parse.applyOrElse(l, (l: String) =>
      throw new IllegalStateException(s"unparseable $what line: $l")))

  /** The decoded string field `key` of a `_PROVENANCE.json` header. */
  private def provField(prov: String, key: String): String = {
    val m = (s""""$key":"((?:[^"\\\\]|\\\\.)*)"""").r.findFirstMatchIn(prov)
    require(m.isDefined, s"provenance header missing $key")
    jsonUnstr(m.get.group(1))
  }

  /** Reproducible trainer handoff: export a PINNED committed version
    * of a table in the snapshot wire format ([[writeShards]]) — the
    * artifact that answers "reproduce the corpus this checkpoint
    * trained on" months later, after the table has moved on.
    *
    *  - the snapshot is [[AtomicTable.readVersion]], so the export is
    *    a function of (version, salt, shards) alone — later commits
    *    cannot change it, and vacuum past the version fails it FAST
    *    (whole-or-error) instead of shipping a partial corpus;
    *  - the returned manifest is the identical one a re-export of the
    *    same version writes — the equality a training run records and
    *    an auditor replays;
    *  - `_PROVENANCE.json` records version, salt, shards and the
    *    source root.
    *
    * `canon` is the caller's canonical row fingerprint (a column over
    * the re-read frame), e.g. a salted md5 of the id and payload.
    * Output: `shard, n_rows, content_xor`.
    */
  def exportSnapshot(spark: SparkSession, tbl: AtomicTable,
                     version: Long, outDir: String, shards: Int,
                     salt: String, idCol: String,
                     canon: Column): DataFrame = {
    requireShardArgs(shards, salt)
    // tiny-handoff fast path (guide §2): everything the export scans
    // is the pinned table tree — see [[Adaptive.withTinyPlan]]
    Adaptive.withTinyPlan(spark, Adaptive.touchedBytes(Seq(tbl.root))) {
    import spark.implicits._
    val rows = writeShards(tbl.readVersion(version), outDir, shards, salt,
      idCol, canon).as[(Long, Long, Long)].collect().toSeq
    writeSidecar(outDir, "_PROVENANCE.json", Seq(jsonLine(
      "version" -> version, "salt" -> salt, "shards" -> shards,
      "table" -> tbl.root)))
    writeSidecar(outDir, "_MANIFEST.json", fpLines(ShardCols, rows))
    rows.toDF(ShardCols: _*)
    }
  }

  /** The other half of the trainer handoff: verify an
    * [[exportSnapshot]] directory against its own `_MANIFEST.json` and
    * restore it into `dest` — "reproduce the corpus on another
    * cluster", refusing loudly on ANY fingerprint mismatch.
    *
    *  - verification is [[verifyShards]]: the import refuses WHOLE —
    *    no partial restore ever lands (the refusal happens before any
    *    commit);
    *  - `canon` is the same canonical-fingerprint expression the
    *    export used — part of the handoff contract, like the salt;
    *  - idempotent: importing onto a `dest` that already holds data
    *    re-verifies THAT data against the manifest (total rows, XOR
    *    of shard fingerprints) and no-ops on match, refuses on
    *    divergence — a replayed import cannot double-load, and a
    *    table that moved on cannot be silently overwritten;
    *  - the restore is one [[AtomicTable.init]] — crash-atomic by the
    *    manifest publish (staged-but-unpublished dirs are invisible).
    *
    * Returns the restored (or verified-already-present) row count.
    */
  def importSnapshot(spark: SparkSession, exportDir: String,
                     dest: AtomicTable,
                     schema: org.apache.spark.sql.types.StructType,
                     canon: Column): Long = {
    import spark.implicits._
    // tiny-handoff fast path: the verify + restore scans are bounded
    // by the export dir and the destination tree
    Adaptive.withTinyPlan(spark,
      Adaptive.touchedBytes(Seq(exportDir, dest.root))) {
    val manifest = parseLines(
        manifestLines(exportDir, "an exportSnapshot"), "manifest") {
      case ShardLine(sh, n, x) => (sh.toLong, n.toLong, x.toLong)
    }
    val files = spark.read.schema(schema).json(exportDir)
    verifyShards(files, canon, manifest,
      "snapshot fingerprint mismatch — refusing to restore")
    val wantRows = manifest.map(_._2).sum
    val wantXor = manifest.map(_._3).foldLeft(0L)(_ ^ _)
    if (dest.hasData) {
      val (haveRows, haveXor) = frameFp(dest.read(), canon)
      if (haveRows != wantRows || (haveRows > 0 && haveXor != wantXor))
        throw new IllegalStateException(
          "destination table diverges from the snapshot " +
            s"(rows $haveRows vs $wantRows) — refusing to overwrite")
      wantRows
    } else {
      dest.init(files.drop("shard"))
      wantRows
    }
    }
  }

  /** Incremental trainer handoff: export only what CHANGED between two
    * pinned versions — at 100 TB the daily deliverable is the delta,
    * not a re-export of the corpus. The change set is
    * [[AtomicTable.changesBetween]] (manifest-diff: unchanged commits
    * cancel by identity without being read), each row tagged
    * `change_type` insert/delete, written in the snapshot wire format
    * ([[writeShards]]) with one manifest line per
    * (shard, change_type); `_PROVENANCE.json` records both version
    * endpoints. The manifest ALSO carries whole-table fingerprints of
    * BOTH endpoints — v1 and v2 in full — so [[applySnapshotDelta]]
    * can refuse a destination that is not actually at v1 and verify
    * the applied result equals v2: the delta's own shards were always
    * verified, but without endpoint fingerprints a valid delta applied
    * to a diverged restore would silently land a mongrel table
    * (absorbed deletes, wrong-row insert dedup). Output:
    * `shard, change_type, n_rows, content_xor`.
    */
  def exportSnapshotDelta(spark: SparkSession, tbl: AtomicTable,
                          v1: Long, v2: Long, outDir: String,
                          shards: Int, salt: String, idCol: String,
                          canon: Column): DataFrame = {
    requireShardArgs(shards, salt)
    // tiny-handoff fast path: the delta and both endpoint scans are
    // bounded by the table tree
    Adaptive.withTinyPlan(spark, Adaptive.touchedBytes(Seq(tbl.root))) {
    import spark.implicits._
    val rows = writeShards(tbl.changesBetween(v1, v2), outDir, shards,
        salt, idCol, canon, "change_type")
      .as[(Long, String, Long, Long)].collect().toSeq
    // whole-table endpoint fingerprints over the PINNED versions — one
    // scan each, paid once at export so every future apply can verify
    // its destination instead of trusting it
    val (n1, x1) = frameFp(tbl.readVersion(v1), canon)
    val (n2, x2) = frameFp(tbl.readVersion(v2), canon)
    writeSidecar(outDir, "_PROVENANCE.json", Seq(jsonLine(
      "v1" -> v1, "v2" -> v2, "salt" -> salt, "shards" -> shards,
      "table" -> tbl.root)))
    writeSidecar(outDir, "_MANIFEST.json",
      jsonLine("endpoint" -> "v1", "n_rows" -> n1, "content_xor" -> x1) +:
        jsonLine("endpoint" -> "v2", "n_rows" -> n2, "content_xor" -> x2) +:
        fpLines(DeltaCols, rows))
    rows.toDF(DeltaCols: _*)
    }
  }

  /** Apply a verified [[exportSnapshotDelta]] directory to a restored
    * table: dest(≡ v1) + delta(v1→v2) ≡ readVersion(v2) — the
    * incremental half of the u26 restore path. Every shard is
    * re-verified FROM the files before any commit ([[verifyShards]]:
    * one flipped row refuses whole-or-nothing), deletes match by
    * FULL-row fingerprint and inserts dedup by key (a changed row is a
    * delete+insert pair on one key — see the inline note for why
    * key-scoped deletes would break re-apply), and the whole apply is
    * ONE [[AtomicTable.overwritePartitions]] commit over the touched
    * partitions — crash-atomic, untouched partitions never read.
    * Re-applying is a zero-change no-op that commits nothing.
    *
    * BOTH ENDPOINTS ARE VERIFIED, not taken on faith: the apply
    * (a) refuses up front when `dest` does not equal the manifest's v1
    * fingerprint (a diverged restore — wrong version, partial vacuum,
    * stray write — would otherwise absorb deletes that match nothing
    * and dedup inserts against the wrong rows, silently landing a
    * mongrel table), (b) recognizes a `dest` already at v2 as an
    * already-applied no-op, and (c) computes the would-be result's
    * whole-table fingerprint and requires it to equal v2 BEFORE the
    * commit — whole-or-nothing, same discipline as
    * [[importSnapshot]]'s diverged-dest refusal. The v2 post-check
    * also catches the duplicate-fingerprint hazard (two dest rows
    * with identical canon values both removed by one delta delete
    * row): over-deletion flips the predicted fingerprint and the
    * apply refuses instead of committing the loss. The verb's
    * persists are its own, released when it returns.
    *
    * `canon` must fingerprint the full payload (id alone cannot
    * distinguish a changed row's old and new content). Returns the
    * number of rows the apply actually changed (deletes + inserts).
    */
  def applySnapshotDelta(spark: SparkSession, deltaDir: String,
                         dest: AtomicTable,
                         schema: org.apache.spark.sql.types.StructType,
                         canon: Column, idCol: String): Long = {
    import spark.implicits._
    val lines = manifestLines(deltaDir, "a delta-export")
    val endpoints = lines.collect {
      case EndpointLine(ep, n, x) => ep -> (n.toLong, x.toLong)
    }.toMap
    require(endpoints.contains("v1") && endpoints.contains("v2"),
      s"delta manifest under $deltaDir carries no endpoint " +
        "fingerprints — re-export with the endpoint-verifying exporter")
    val manifest =
      parseLines(lines.filterNot(EndpointLine.matches), "delta-manifest") {
        case DeltaLine(sh, ct, n, x) => (sh.toLong, ct, n.toLong, x.toLong)
      }
    val withCt = schema.add("change_type",
      org.apache.spark.sql.types.StringType)
    // tiny-handoff fast path: verify + apply scan only the delta dir
    // and the destination tree
    Adaptive.withTinyPlan(spark,
      Adaptive.touchedBytes(Seq(deltaDir, dest.root))) {
    graft.Caches.withCaches { _ =>
    val files = spark.read.schema(withCt).json(deltaDir)
    verifyShards(files, canon, manifest,
      "delta fingerprint mismatch — refusing to apply", "change_type")
    // endpoint gate: one whole-table scan of dest decides whether this
    // apply is (a) already done (dest ≡ v2 → no-op), (b) legal
    // (dest ≡ v1 → proceed), or (c) a diverged restore (→ refuse
    // before touching anything)
    val (v1n, v1x) = endpoints("v1")
    val (v2n, v2x) = endpoints("v2")
    val (destN, destX) =
      if (!dest.hasData) (0L, 0L) else frameFp(dest.read(), canon)
    if (destN == v2n && destX == v2x) return 0L
    if (destN != v1n || destX != v1x)
      throw new IllegalStateException(
        "destination diverges from the delta's v1 endpoint " +
          s"(rows $destN xor $destX vs $v1n/$v1x) — refusing to apply " +
          "a v1→v2 delta to a table that is not at v1")
    val dataCols = schema.fields.map(f => col(f.name)).toIndexedSeq
    // deletes match by the FULL row fingerprint, not the key: a
    // changed row is a delete(old content) + insert(new content) pair
    // on one key, and a key-scoped delete would eat the re-inserted
    // new content on a re-apply. Inserts dedup by KEY (insert-ignore),
    // so re-applying finds nothing to remove (old fingerprints gone)
    // and nothing to add (keys present) — a zero-change no-op.
    val dels = files.filter(col("change_type") === "delete")
      .select(canon.as("_fp"))
    val ins = files.filter(col("change_type") === "insert")
      .select(dataCols: _*)
    val partCol = dest.partCol
    val touched = files.select(col(partCol).cast("string"))
      .distinct().as[String].collect().toSeq
    if (touched.isEmpty) return 0L
    val existing = graft.Caches.persist(dest.read()
      .filter(col(partCol).isin(touched: _*))
      .select(dataCols: _*))
    val kept = graft.Caches.persist(existing.withColumn("_fp", canon)
      .join(dels, Seq("_fp"), "left_anti").drop("_fp"))
    // insert-dedup against the POST-delete keys: a changed row's key
    // exists before its delete lands, and deduping against the
    // pre-delete view would silently drop the new content
    val fresh = ins.join(kept.select(col(idCol)).distinct(),
      Seq(idCol), "left_anti")
    val (existN, existX) = frameFp(existing, canon)
    val (keptN, keptX) = frameFp(kept, canon)
    val (freshN, freshX) = frameFp(fresh, canon)
    // predict the post-apply whole-table fingerprint WITHOUT a second
    // full scan: post = (dest \ existing) ∪ kept ∪ fresh, and kept ⊆
    // existing, so xor(post) = xor(dest) ^ xor(existing) ^ xor(kept)
    // ^ xor(fresh); refuse BEFORE the commit if it is not v2 — an
    // over-deleting duplicate fingerprint, a canon collision, or any
    // other silent drift dies here with nothing committed
    val postN = destN - existN + keptN + freshN
    val postX = destX ^ existX ^ keptX ^ freshX
    if (postN != v2n || postX != v2x)
      throw new IllegalStateException(
        "applied result would diverge from the delta's v2 endpoint " +
          s"(rows $postN xor $postX vs $v2n/$v2x) — refusing to " +
          "commit a mongrel table")
    val nDel = existN - keptN
    val nIns = freshN
    if (nDel + nIns == 0) return 0L
    dest.overwritePartitions(touched, kept.unionByName(fresh))
    nDel + nIns
    }
    }
  }

  // ---- index snapshot handoff (n30) ---------------------------------

  /** Canonical per-row fingerprint of the index-snapshot wire format:
    * salted 60-bit md5 over the id and the JSON rendering of every
    * payload column in name order. Defined HERE rather than
    * caller-supplied (unlike the table snapshots' `canon`) because
    * both halves of the handoff must compute the identical value from
    * the re-read files — it is part of the wire format, like the
    * salt. JSON float rendering round-trips exactly
    * (`Float.parseFloat(Float.toString(f)) == f`), so the fingerprint
    * of a re-read row equals the fingerprint of the row that was
    * written.
    */
  private def indexRowFp(salt: String, idCol: String,
                         payload: Seq[String]): Column =
    graft.functions.MarketFunctions.md5Hash60(
      concat(lit(s"$salt#"), col(idCol).cast("string"), lit("#"),
        to_json(struct(payload.sorted.map(col): _*))))

  private def md5Hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map("%02x".format(_)).mkString

  /** Ship a serving ANN index to another cluster: export the LIVE
    * view (base ∪ delta rows minus tombstones, exactly what
    * [[ivfPqServe]] selects from) in the snapshot wire format
    * ([[writeShards]], rows fingerprinted by [[indexRowFp]]) plus the
    * FROZEN model files.
    *
    * Codes are deliberately NOT shipped: cells and PQ codes are pure
    * functions of (frozen model × vector), so the import re-derives
    * them bit-identically ([[writePqIndex]] under the exported
    * centroids/codebooks) and the wire carries ONE copy of the live
    * vectors instead of vectors + codes + the whole delta/tombstone
    * history — at 100 TB that is the difference between shipping the
    * corpus and shipping the corpus plus its scar tissue. The
    * imported index is the compacted equivalent of the source
    * (physically clean, answers bit-identical — `n30_index_ship`
    * grades both serves against one oracle).
    *
    *  - model files (`centroids.txt`, `codebooks.txt`, `pqmeta.txt`)
    *    copied byte-for-byte as `_MODEL_*` with md5 digests in the
    *    manifest — a flipped codebook byte refuses at import exactly
    *    like a flipped data row (a wrong model would re-derive wrong
    *    codes SILENTLY; the digest makes it loud);
    *  - `_PROVENANCE.json` records the source root, resolved version,
    *    salt, shard count, and the row schema (DDL) the import reads
    *    the files under (self-describing — no caller-supplied schema
    *    to get wrong).
    *
    * Output: `shard, n_rows, content_xor`.
    */
  def exportPqIndexSnapshot(spark: SparkSession, root: String,
                            outDir: String, shards: Int, salt: String,
                            idCol: String = "vec_id"): DataFrame = {
    requireShardArgs(shards, salt)
    val r = resolveIndexRoot(root)
    val live = readEmbeddingsByCellLive(spark, root, idCol).drop("cell")
    val payload = live.columns.filterNot(_ == idCol).toSeq
    import spark.implicits._
    val rows = writeShards(live, outDir, shards, salt, idCol,
      indexRowFp(salt, idCol, payload)).as[(Long, Long, Long)]
      .collect().toSeq
    val modelLines = Seq("centroids.txt", "codebooks.txt", "pqmeta.txt")
      .flatMap { f =>
        val p = java.nio.file.Paths.get(s"$r/$f")
        if (!java.nio.file.Files.exists(p)) None // pre-flag raw index
        else {
          val bytes = java.nio.file.Files.readAllBytes(p)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$outDir/_MODEL_$f"), bytes)
          Some(jsonLine("model" -> f, "md5" -> md5Hex(bytes)))
        }
      }
    writeSidecar(outDir, "_PROVENANCE.json", Seq(jsonLine(
      "index" -> root, "version" -> r, "salt" -> salt, "shards" -> shards,
      "id_col" -> idCol, "schema" -> live.schema.toDDL)))
    writeSidecar(outDir, "_MANIFEST.json",
      modelLines ++ fpLines(ShardCols, rows))
    rows.toDF(ShardCols: _*)
  }

  /** The receiving half of [[exportPqIndexSnapshot]]: verify every
    * fingerprint, rebuild the index under the exported FROZEN model,
    * and flip it live — refusing loudly on ANY divergence, with
    * nothing served until everything verified.
    *
    *  - model `_MODEL_*` files are digest-checked against the
    *    manifest BEFORE anything is read through them;
    *  - the shards are verified ([[verifyShards]]) under the
    *    provenance schema and salt — one changed, added, or dropped
    *    row refuses the whole import;
    *  - the index builds into a fresh VERSION directory
    *    (`destRoot/vN`) and the `CURRENT` pointer flips only after a
    *    final whole-corpus fingerprint check of the built version —
    *    a crash anywhere mid-import leaves a root with no `CURRENT`
    *    and no top-level layout, which every reader fails FAST on
    *    (whole-or-error, never a partial server), and the re-import
    *    simply claims the next version;
    *  - idempotent: a destination already serving this exact corpus
    *    (live-view fingerprint equals the manifest) is a verified
    *    no-op; a destination serving anything else refuses — a
    *    replayed import cannot double-load, an index that moved on
    *    cannot be silently clobbered.
    *
    * Returns the number of live rows serving at `destRoot`.
    */
  def importPqIndexSnapshot(spark: SparkSession, exportDir: String,
                            destRoot: String,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding",
                            failpoint: String => Unit = _ => ()): Long = {
    import spark.implicits._
    val lines = manifestLines(exportDir, "an index-export")
    val pv = java.nio.file.Paths.get(s"$exportDir/_PROVENANCE.json")
    require(java.nio.file.Files.exists(pv),
      s"no _PROVENANCE.json under $exportDir — not an index-export dir")
    val prov = java.nio.file.Files.readString(pv)
    val salt = provField(prov, "salt")
    val schema = org.apache.spark.sql.types.StructType
      .fromDDL(provField(prov, "schema"))
    val modelDigests = lines.collect {
      case ModelLine(f, d) => f -> d }.toMap
    val manifest =
      parseLines(lines.filterNot(ModelLine.matches), "index-manifest") {
        case ShardLine(sh, n, x) => (sh.toLong, n.toLong, x.toLong)
      }
    require(modelDigests.contains("centroids.txt") &&
      modelDigests.contains("codebooks.txt"),
      "index manifest carries no model digests — not a full handoff")
    // the model is verified before it is TRUSTED: a flipped codebook
    // byte would re-derive wrong codes silently (answers drift, no
    // error) — the digest check turns that into a refusal
    val modelBytes = modelDigests.map { case (f, want) =>
      val p = java.nio.file.Paths.get(s"$exportDir/_MODEL_$f")
      if (!java.nio.file.Files.exists(p))
        throw new IllegalStateException(
          s"model file _MODEL_$f missing from $exportDir")
      val bytes = java.nio.file.Files.readAllBytes(p)
      if (md5Hex(bytes) != want)
        throw new IllegalStateException(
          s"model file _MODEL_$f digest mismatch — refusing to import " +
            "an index whose frozen model was tampered with")
      f -> bytes
    }
    val cents = new String(modelBytes("centroids.txt"), "UTF-8")
      .split("\n").map(_.split(",").map(_.toDouble))
    val cbRows = new String(modelBytes("codebooks.txt"), "UTF-8")
      .split("\n").map { line =>
        val Array(j, c, vs) = line.split(";", 3)
        (j.toInt, c.toInt, vs.split(",").map(_.toDouble))
      }
    val cb = Array.ofDim[Array[Double]](cbRows.map(_._1).max + 1,
      cbRows.map(_._2).max + 1)
    cbRows.foreach { case (j, c, v) => cb(j)(c) = v }
    val residual = modelBytes.get("pqmeta.txt")
      .exists(b => new String(b, "UTF-8").trim == "residual=true")
    val payload = schema.fieldNames.filterNot(_ == idCol).toSeq
    val fp = indexRowFp(salt, idCol, payload)
    val files = spark.read.schema(schema).json(exportDir)
    verifyShards(files, fp, manifest,
      "index snapshot fingerprint mismatch — refusing to import")
    val wantRows = manifest.map(_._2).sum
    val wantXor = manifest.map(_._3).foldLeft(0L)(_ ^ _)
    def liveFp(root: String): (Long, Long) =
      frameFp(readEmbeddingsByCellLive(spark, root, idCol).drop("cell"), fp)
    val serving =
      java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$destRoot/CURRENT")) ||
      java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$destRoot/centroids.txt"))
    if (serving) {
      val (haveRows, haveXor) = liveFp(destRoot)
      if (haveRows == wantRows &&
          (haveRows == 0L || haveXor == wantXor)) return wantRows
      throw new IllegalStateException(
        "destination index diverges from the snapshot " +
          s"(rows $haveRows vs $wantRows) — refusing to overwrite a " +
          "serving index")
    }
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(destRoot))
    val next = claimNextIndexVersion(destRoot)
    writePqIndex(files.drop("shard"), s"$destRoot/$next",
      k = cents.length, dim = cents(0).length,
      m = cb.length, ks = cb(0).length, idCol = idCol, vecCol = vecCol,
      centroids = Some(cents), codebooks = Some(cb),
      residual = residual)
    // final gate BEFORE the flip: the built version must reproduce the
    // manifest's whole-corpus fingerprint — whole-or-nothing, the
    // same discipline as applySnapshotDelta's pre-commit v2 check
    val (gotRows, gotXor) = liveFp(s"$destRoot/$next")
    if (gotRows != wantRows || (wantRows > 0L && gotXor != wantXor))
      throw new IllegalStateException(
        "imported index diverges from the snapshot after build " +
          s"(rows $gotRows vs $wantRows) — refusing to flip it live")
    failpoint("import_before_flip")
    flipIndexCurrent(destRoot, next)
    wantRows
  }

  /** Tombstones of a streaming-maintained index: ids deleted from the
    * SERVING view without touching a single base or delta file — the
    * compliance/takedown primitive (Lucene's live-docs discipline).
    * Cell-partitioned like the code tables (a mark's cell is its
    * vector's cell); same [[AtomicTable]] manifest
    * protocol (OCC, txn fences, time travel over the delete history).
    */
  def pqTombstoneTable(spark: SparkSession, root: String,
                       failpoint: String => Unit = _ => (),
                       idCol: String = "vec_id"): AtomicTable =
    cellTable(spark, s"${resolveIndexRoot(root)}/delta_tombstones", idCol,
      failpoint)

  /** Delete `ids` from the index's serving view. Appends
    * (id, cell, upto = Long.MaxValue) tombstone marks — no base or
    * delta file changes, so the delete is one tiny manifest commit
    * regardless of index size (`upto` is the versioned-tombstone
    * sequence bound [[updateInPqIndex]] shares; MaxValue = the full
    * takedown). Contract:
    *  - a tombstoned id is dead at serve/classify until the next
    *    [[rebuildIfDrifted]], which re-ingests only live rows and
    *    starts the new version tombstone-free;
    *  - re-appending a tombstoned id does NOT resurrect it, and
    *    neither does a later [[updateInPqIndex]] (an update never
    *    lowers an existing mark) — the deliberate takedown-wins
    *    policy;
    *  - deleting an id the index does not hold is a no-op, and
    *    repeating a delete is a no-op (ids already at MaxValue are
    *    excluded from the count and the keyed upsert is content-
    *    preserving) — idempotent by construction;
    *  - a delete racing a rebuild's pointer flip replays against the
    *    new version (same fence as [[writePqDelta]]): if the rebuild
    *    already dropped the rows, the replay finds no cells and
    *    commits nothing.
    * Returns the number of NEWLY-dead ids.
    */
  def deleteFromPqIndex(spark: SparkSession, root: String,
                        ids: Seq[Long],
                        idCol: String = "vec_id"): Long = {
    if (ids.isEmpty) return 0L
    import spark.implicits._
    deleteIdsFromPqIndex(spark, root, ids.toDF(idCol), idCol)
  }

  /** [[deleteFromPqIndex]] over a DataFrame of ids — the distributed
    * form a takedown STREAM or a corpus-sized purge list uses (the id
    * set never touches the driver; the cell lookup is a semi-join).
    * `txn` is the per-micro-batch exactly-once fence: a replayed
    * (stream, batchId) is recognized as already-committed and skipped,
    * same discipline as [[writePqDelta]].
    */
  def deleteIdsFromPqIndex(spark: SparkSession, root: String,
                           ids: DataFrame, idCol: String = "vec_id",
                           txn: Option[(String, Long)] = None): Long = {
    val r = resolveIndexRoot(root)
    // replay fence FIRST: a foreachBatch re-delivery of an already-
    // committed batch must report 0 new tombstones, not re-count the
    // batch against the current index (the commit below would skip on
    // its mark either way — this keeps the RETURN VALUE honest too)
    txn.foreach { case (stream, batchId) =>
      if (pqTombstoneTable(spark, r, idCol = idCol)
            .lastCommittedBatch(stream).exists(_ >= batchId)) return 0L
    }
    // tiny-verb fast path (guide §2): see [[Adaptive.withTinyPlan]]
    Adaptive.withTinyPlan(spark, Adaptive.touchedBytes(Seq(r), ids)) {
    // cells come from the committed (raw) view so the tombstone lands
    // in the partition every probe of that cell will read; an id held
    // in BOTH base and a delta shard (a re-append) yields two rows, so
    // dedup by id before any count or commit
    val rows = readPqCodesAll(spark, root)
      .join(ids.select(col(idCol)).distinct(), Seq(idCol), "left_semi")
      .select(col(idCol), col("cell"))
      .dropDuplicates(idCol)
      .withColumn("upto", lit(Long.MaxValue))
    val t = pqTombstoneTable(spark, root, idCol = idCol)
    // route on hasData, NOT version: an all-no-op first batch under a
    // txn fence commits init-empty (version 1, zero entries) to
    // advance the mark, and the next delete must take the init path
    // again — the existing-read below requires committed data
    val n =
      if (!t.hasData) {
        val c = rows.count()
        if (c > 0) t.init(rows, txn)
        // mark-only fence advance: zero Spark jobs (identical manifest
        // to an empty-seed init)
        else txn.foreach(t.commitMarkOnly)
        c
      } else {
        // newly-dead = ids not already under a full takedown; an
        // UPDATE's partial mark (upto < MaxValue) is outranked by the
        // takedown's MaxValue under tombstoneMarks' per-id max —
        // never the reverse. Going through tombstoneMarks (not a raw
        // read) also keeps pre-`upto` legacy marks counting as
        // takedowns instead of crashing the filter.
        val already = tombstoneMarks(spark, root, idCol)
          .map(_.filter(col("_upto") === Long.MaxValue)
            .select(col(idCol)))
          .getOrElse(rows.select(col(idCol)).limit(0))
        val newDead = rows.join(already, Seq(idCol), "left_anti")
          .persist()
        try {
          val c = newDead.count()
          if (c > 0) t.upsert(newDead, txn = txn)
          // mark-only commit: the fence must advance even when the
          // batch killed nothing — commitMarkOnly writes the identical
          // manifest an empty insertIgnore would, without running the
          // empty batch's plan as Spark jobs
          else txn.foreach(t.commitMarkOnly)
          c
        } finally newDead.unpersist(blocking = false)
      }
    // flip fence: a rebuild that moved CURRENT mid-delete would strand
    // the tombstones in the superseded version's table
    if (resolveIndexRoot(root) != r)
      deleteIdsFromPqIndex(spark, root, ids, idCol, txn)
    else n
    }
  }

  /** Atomic UPDATE of vectors in the persisted index: the third verb
    * beside append ([[writePqDelta]]) and delete
    * ([[deleteIdsFromPqIndex]]). Without it, delete + re-append only
    * composes into "replace" after a full rebuild — the takedown-wins
    * rule keeps the re-appended row dead.
    *
    * Mechanics — VERSIONED tombstones (Lucene's doc-values-generation
    * discipline): every index row carries an update sequence `_seq`
    * (base and plain delta rows implicitly 0), and a tombstone mark
    * is (id, upto). [[liveBySeq]] states the serving rule; what it
    * buys here:
    *
    *  - the new vector and codes land in the delta tables FIRST with
    *    `_seq = cur + 1` — INVISIBLE, because their mark has not
    *    committed — then the single tombstone-table upsert
    *    (upto = cur) kills every older copy AND enables the new row
    *    in the same manifest commit: that commit IS the whole-old →
    *    whole-new flip. A crash anywhere before it leaves whole-old;
    *    the replay (same txn) skips the landed appends on their own
    *    marks and completes the flip.
    *  - `cur` is the max sequence among the id's LIVE copies (0 when
    *    absent), so chained updates stack (the second kills the
    *    first's row at cur + 1 and enables its own at cur + 2) and a
    *    crashed update's stranded invisible row re-derives the SAME
    *    sequence on replay — resurrected by the completing flip, not
    *    duplicated.
    *  - an id under a full takedown (upto = MaxValue) is EXCLUDED:
    *    updates never lower an existing mark, so takedown-wins
    *    survives verbatim. An id the index does not hold inserts
    *    (cur = 0, the mark upto = 0 enables it — nothing to kill).
    *  - an update racing a rebuild's pointer flip replays into the
    *    new version (same fence as [[writePqDelta]]).
    *
    * `batch` must carry one row per id with the full base embedding
    * schema (id, vector, metadata columns). Returns the number of ids
    * whose update became visible.
    */
  def updateInPqIndex(spark: SparkSession, root: String,
                      batch: DataFrame, idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      txn: Option[(String, Long)] = None,
                      failpoint: String => Unit = _ => (),
                      batchUnique: Boolean = false): Long = {
    val r = resolveIndexRoot(root)
    val t = pqTombstoneTable(spark, r, failpoint, idCol)
    // replay fence: the tombstone mark commits LAST, so it witnesses
    // the whole update — if it advanced, everything did
    txn.foreach { case (stream, batchId) =>
      if (t.lastCommittedBatch(stream).exists(_ >= batchId)) return 0L
    }
    // tiny-verb fast path (guide §2): the update's plans are bounded
    // by the index tree + the batch — when both are provably small,
    // AQE's per-exchange stage jobs are pure driver overhead
    Adaptive.withTinyPlan(spark, Adaptive.touchedBytes(Seq(r), batch)) {
    // the verb's persists live and die with the verb
    graft.Caches.withCaches { _ =>
      updateInPqIndexBody(spark, root, r, t, batch, idCol, vecCol, txn,
        failpoint, batchUnique)
    }
    }
  }

  private def updateInPqIndexBody(spark: SparkSession, root: String,
                                  r: String, t: AtomicTable,
                                  batch: DataFrame, idCol: String,
                                  vecCol: String,
                                  txn: Option[(String, Long)],
                                  failpoint: String => Unit,
                                  batchUnique: Boolean): Long = {
    // persist the batch ONCE: it is referenced from three plan sites
    // (the dup guard, the _cur derivation's target-vector join, the
    // update frame itself), and for the CDC sync the batch is a
    // change-feed subtree expensive enough that re-evaluating it per
    // reference dominates the verb's wall
    // persist the batch ONCE (it is referenced from several plan
    // sites); skip when the caller already persisted it — the CDC
    // sync hands in its cached change-feed anti-join, and a second
    // cache layer over an InMemoryRelation only adds copy cost
    val b =
      if (batch.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
        batch
      else graft.Caches.persist(batch)
    if (!batchUnique)
      require(b.groupBy(col(idCol)).count()
          .filter(col("count") > 1).isEmpty,
        "update batch must carry exactly one row per id")
    graft.expressions.GraftFunctions.register(spark)
    val cents = readEmbeddingCentroids(r)
    val cb = readPqCodebooks(r)
    val cell = graft.pipelines.Similarity.ivfCellAtNative(col(vecCol),
      cents)
    // Strand-aware sequence derivation (r17, the r16 ADVICE fix). A
    // crash inside a verb leaves committed-but-unmarked rows one
    // generation above the live max. If the SAME id is updated again
    // in the source table before the replay, the replayed batch
    // carries NEW content while the strand holds the old — keying the
    // replay to the live max alone would re-derive the strand's _seq,
    // the per-table (id, _seq) dedup would drop the new rows wherever
    // the strand landed, and the mark flip would enable the stale
    // strand (emb) alongside the new codes: a forked index serving
    // two generations, invisible to the fence. Rule:
    //   no strand            → _cur = live max (unchanged);
    //   strand, content ==   → COMPLETE it: _cur = cmax - 1 reuses
    //     the strand's _seq and the (id,_seq) dedup lands only what
    //     the crash lost (minimal garbage, the moved-batchId replay);
    //   strand, content !=   → SUPERSEDE it: _cur = cmax puts the
    //     fresh generation above every committed row, so the stale
    //     strand stays dead forever and the flip enables only the
    //     content-consistent generation.
    // Every frame is semi-pruned by the batch's ids BELOW the wide
    // joins, so the O(batch) plan is structural.
    val batchIds =
      if (batchUnique) b.select(col(idCol))
      else b.select(col(idCol)).distinct()
    val codesAll = readPqCodesAllSeq(spark, r)
      .join(batchIds, Seq(idCol), "left_semi")
    val marks = tombstoneMarks(spark, r, idCol)
    val liveMax = liveBySeq(codesAll,
        marks.map(_.join(batchIds, Seq(idCol), "left_semi")), idCol)
      .groupBy(col(idCol)).agg(max(col("_seq")).as("_lmax"))
    // Strands (committed-but-unmarked generations) can ONLY live in
    // the emb DELTA table: base rows commit atomically with their
    // codes at _seq 0, and verbs commit emb BEFORE codes, so the
    // committed-max row of any strand is an emb-delta row. The delta
    // max and the vector AT it come from one max_by pass over the
    // (batch-pruned) delta alone — and when the delta table is empty
    // no strand can exist, so the whole strand branch costs nothing
    // on a fresh index. The vector alone decides content identity
    // (code = f(vector, frozen model); re-deriving the target's code
    // here would also inline the codebook literal into the plan a
    // second time).
    val embDelta = pqDeltaEmbTable(spark, r)
    val curSeq =
      if (!embDelta.hasData)
        batchIds.join(liveMax, Seq(idCol), "left")
          .select(col(idCol),
            coalesce(col("_lmax"), lit(0L)).as("_cur"))
      else {
        val embAgg = withSeq(embDelta.read())
          .join(batchIds, Seq(idCol), "left_semi")
          .groupBy(col(idCol)).agg(max(col("_seq")).as("_cmax"),
            max_by(col(vecCol), col("_seq")).as("_cvec"))
        batchIds
          .join(liveMax, Seq(idCol), "left")
          .join(embAgg, Seq(idCol), "left")
          .join(b.select(col(idCol), col(vecCol).as("_tvec")),
            Seq(idCol))
          .select(col(idCol),
            when(coalesce(col("_cmax"), lit(-1L)) <=
                coalesce(col("_lmax"), lit(-1L)),
              coalesce(col("_lmax"), lit(0L)))            // no strand
              .when(col("_cvec") =!= col("_tvec"),
                col("_cmax"))                              // supersede
              .otherwise(col("_cmax") - 1L)                // complete
              .as("_cur"))
      }
    val taken = marks.map(_.filter(col("_upto") === Long.MaxValue)
      .select(col(idCol)))
    val upd0 = b.join(curSeq, Seq(idCol), "left")
      .withColumn("_cur", coalesce(col("_cur"), lit(0L)))
    val upd = graft.Caches.persist(
      taken.fold(upd0)(p => upd0.join(p, Seq(idCol), "left_anti")))
    val n = upd.count()
    if (n > 0) {
      val embRows0 = upd.withColumn("cell", cell)
        .withColumn("_seq", col("_cur") + 1L).drop("_cur")
      val codeRows0 = upd.withColumn("cell", cell)
        .withColumn("code",
          pqCodeFor(vecCol, cents, cb, readPqResidualFlag(r)))
        .select(col(idCol), col("cell"), col("code"),
          (col("_cur") + 1L).as("_seq"))
      val emb = pqDeltaEmbTable(spark, r, failpoint)
      val codes = pqDeltaCodeTable(spark, r, failpoint)
      // crash-replay convergence BY CONTENT, for every caller: a
      // replay that crashed between the delta append and the mark
      // flip re-derives the SAME _seq (the stranded row is invisible
      // to the live view) and would append a SECOND copy — the
      // eventual flip would then enable both, a doubled id at serve.
      // Dedup each table's landing by (id, _seq) against its own
      // committed multiset: the replay re-lands only what its crash
      // lost, per table, so emb-landed/codes-missing states also
      // converge. Txn-fenced callers need this TOO, not just the
      // fence: a fence whose batchId is derived from moving state
      // (the CDC sync fences on the window-end TABLE version) replays
      // under a LARGER batchId when the table advanced between the
      // crash and the replay, so the per-table mark no longer skips
      // the already-landed rows — content dedup is the invariant the
      // mark cannot carry. The strand-aware _cur above makes the
      // (id, _seq) key content-safe: a replay only re-derives a
      // strand's _seq when the strand's content MATCHES the target
      // (mismatches supersede at a fresh _seq), so dropping a
      // same-key row here never drops new content. The committed
      // read is semi-pruned by the batch's own ids first, so the
      // anti-join's build side stays O(batch) regardless of index
      // size.
      def dedupBySeq(rows: DataFrame,
                     t: graft.sources.AtomicTable): DataFrame =
        if (!t.hasData) rows
        else rows.join(
          withSeq(t.read()).select(col(idCol), col("_seq"))
            .join(upd.select(col(idCol)), Seq(idCol), "left_semi"),
          Seq(idCol, "_seq"), "left_anti")
      val embRows = dedupBySeq(embRows0, emb)
      val codeRows = dedupBySeq(codeRows0, codes)
      // vectors, then codes, then the mark flip — each fenced; the
      // serve is codes-driven and the codes are seq-gated, so every
      // intermediate crash state serves whole-old
      if (emb.version == 0L) emb.init(embRows, txn)
      else emb.append(embRows, txn)
      failpoint("update_between_emb_codes")
      if (codes.version == 0L) codes.init(codeRows, txn)
      else codes.append(codeRows, txn)
      failpoint("update_before_flip")
      val markRows = upd.withColumn("cell", cell)
        .select(col(idCol), col("cell"), col("_cur").as("upto"))
      if (!t.hasData) t.init(markRows, txn)
      else t.upsert(markRows, txn = txn)
    } else if (txn.nonEmpty) {
      // every id under takedown (or an empty batch): advance the mark
      // so the fence recognizes the replay — mark-only manifest
      // commit, no Spark jobs for the empty batch
      t.commitMarkOnly(txn.get)
    }
    // flip fence: a rebuild that moved CURRENT mid-update would strand
    // the new rows in the superseded version
    if (resolveIndexRoot(root) != r)
      updateInPqIndex(spark, root, batch, idCol, vecCol, txn, failpoint)
    else n
  }

  /** Committed tombstone marks (id, `_upto`) — the ONE
    * tombstone-manifest read a serve shares across its candidate and
    * rerank scans; None when the table holds nothing. Marks written
    * before the `upto` column existed read as full takedowns.
    *
    * AGGREGATED to one row per id (`max(upto)`) — load-bearing, not
    * cosmetic: the mark table is cell-partitioned and a mark's cell
    * follows the vector being written, so an id whose update moved it
    * to a different IVF cell carries marks in BOTH cells (the keyed
    * upsert merges only within the batch's partitions). `upto` is
    * monotone per id (each update's `cur` comes from the live view,
    * takedowns are MaxValue and never lowered), so the max IS the
    * current mark and every stale lower mark is harmless — resolved
    * here, once, instead of in every writer.
    */
  private def tombstoneMarks(spark: SparkSession, root: String,
                             idCol: String): Option[DataFrame] = {
    val t = pqTombstoneTable(spark, root, idCol = idCol)
    if (!t.hasData) None
    else {
      val r = t.read()
      val upto =
        if (r.columns.contains("upto"))
          coalesce(col("upto"), lit(Long.MaxValue))
        else lit(Long.MaxValue)
      Some(r.select(col(idCol), upto.as("_upto"))
        .groupBy(col(idCol)).agg(max(col("_upto")).as("_upto")))
    }
  }

  /** The versioned-tombstone liveness rule over a `_seq`-carrying
    * frame: a row with sequence s is live iff
    * `coalesce(upto, -1) == s - 1`. One integer equality covers every
    * case — unmarked base/delta rows (s = 0, no mark) live; an
    * update's append (s = cur + 1) live exactly when its own mark
    * (upto = cur) committed, so the mark commit IS the atomic
    * old→new flip; a full takedown (upto = MaxValue) kills every
    * sequence, re-appends and later updates included. Marks arrive
    * pre-aggregated to one row per id ([[tombstoneMarks]]'s max), so
    * the left join cannot fan out.
    */
  private def liveBySeq(df: DataFrame, marks: Option[DataFrame],
                        idCol: String): DataFrame = marks match {
    case None => df.filter(col("_seq") === 0L)
    case Some(m) =>
      df.join(m, Seq(idCol), "left")
        .filter(coalesce(col("_upto"), lit(-1L)) === col("_seq") - 1L)
        .drop("_upto")
  }

  /** `df` with its update-sequence column normalized: absent or null
    * `_seq` (base files, pre-update delta shards) reads as 0.
    */
  private def withSeq(df: DataFrame): DataFrame =
    if (df.columns.contains("_seq"))
      df.withColumn("_seq", coalesce(col("_seq"), lit(0L)))
    else df.withColumn("_seq", lit(0L))

  /** The LIVE serving views: committed base + delta rows minus
    * tombstones under the versioned-sequence rule — what
    * [[ivfPqServe]]/[[ivfPqClassify]] select from and what
    * [[rebuildIfDrifted]] re-ingests (so a rebuild materializes
    * updates physically and clears the tombstones semantically).
    * The raw `*All` views stay the COMMITTED multiset — the sweep's
    * anti-join runs against them precisely so a late shard whose ids
    * were tombstoned is not resurrected as "missing".
    */
  def readPqCodesLive(spark: SparkSession, root: String,
                      idCol: String = "vec_id"): DataFrame =
    liveBySeq(readPqCodesAllSeq(spark, root),
      tombstoneMarks(spark, root, idCol), idCol).drop("_seq")
  def readEmbeddingsByCellLive(spark: SparkSession, root: String,
                               idCol: String = "vec_id"): DataFrame =
    liveBySeq(readEmbeddingsByCellAllSeq(spark, root),
      tombstoneMarks(spark, root, idCol), idCol).drop("_seq")

  /** Codes / raw vectors across the base index AND the committed delta
    * tables — the serving view of a streaming-maintained index. Every
    * union arm is cell-partitioned, so one probe list prunes all of
    * them. The `*Seq` variants carry the normalized `_seq` column the
    * liveness rule needs; the plain views keep the historical schema.
    */
  def readPqCodesAll(spark: SparkSession, root: String): DataFrame =
    readPqCodesAllSeq(spark, root).drop("_seq")
  def readEmbeddingsByCellAll(spark: SparkSession,
                              root: String): DataFrame =
    readEmbeddingsByCellAllSeq(spark, root).drop("_seq")

  private def readPqCodesAllSeq(spark: SparkSession,
                                root: String): DataFrame = {
    val base = withSeq(readPqCodes(spark, root))
    val codes = pqDeltaCodeTable(spark, root)
    if (!codes.hasData) base
    else base.unionByName(withSeq(codes.read())
      .select(base.columns.map(col): _*))
  }
  private def readEmbeddingsByCellAllSeq(spark: SparkSession,
                                         root: String): DataFrame = {
    val base = withSeq(readEmbeddingsByCell(spark, root))
    val emb = pqDeltaEmbTable(spark, root)
    if (!emb.hasData) base
    else base.unionByName(withSeq(emb.read())
      .select(base.columns.map(col): _*))
  }

  /** Fold the delta tables' accumulated micro-batch fragments into one
    * bounded dir each — the nightly segment merge that bounds the
    * per-serve file count. Runs entirely inside the [[AtomicTable]]
    * commit protocol, which buys exactly the guarantees the old
    * append-into-base-dirs compaction could not give:
    *
    *  - SERVE-CONCURRENT: a serve that resolved the pre-compaction
    *    manifest keeps reading the (immutable, un-vacuumed) old dirs
    *    and answers identically while the merge commits underneath it;
    *    the old scheme appended files into the live base `cell=…`
    *    directories a concurrent scan was listing. WarehouseSpec races
    *    the two and pins answer equality.
    *  - CRASH-ATOMIC: a compaction killed pre-publish leaves only a
    *    staged dir no manifest references (fully-old); nothing to
    *    inspect, nothing half-merged, re-run at will. The old scheme
    *    fail-fast-ed on leftover `.compacting_` dirs and needed a
    *    human.
    *  - OCC: a compaction racing a delta append on the same version
    *    loses with a clean ConcurrentModificationException.
    *
    * The base index trees never change; deltas stay deltas (the
    * Lucene model: segment merges, generation untouched), which also
    * keeps [[indexDriftReport]]'s base-vs-appended comparison exact
    * across compactions. Returns the number of data dirs folded.
    */
  def compactPqDeltas(spark: SparkSession, root: String,
                      failpoint: String => Unit = _ => (),
                      attempts: Int = 3): Int =
    // OCC self-heal: losing the version race to a live delta append
    // published nothing; re-read and fold again — the appended shard
    // simply joins the merge. Bounded so a pathological append storm
    // surfaces instead of spinning.
    Adaptive.withTinyPlan(spark, Adaptive.touchedBytes(Seq(root))) {
    AtomicTable.retryOnConflict(attempts) {
      val emb = pqDeltaEmbTable(spark, root, failpoint)
      val codes = pqDeltaCodeTable(spark, root, failpoint)
      if (!codes.hasData) 0
      else {
        val folded = codes.dataDirCount
        emb.compact()
        codes.compact()
        folded
      }
    }
    }

  /** Staleness alarm for the frozen-model index: PSI of the
    * assigned-cell distribution of the committed DELTA shards against
    * the base index. The frozen-model append contract
    * ([[writePqDelta]]) is only safe while the
    * appended data still looks like the data the centroids/codebooks
    * were trained on — when the stream drifts, new rows pile into the
    * wrong cells, probe recall decays, and nothing else in the serve
    * path notices. Cell assignment is the model's own view of the
    * data, so its distribution shift IS the model-staleness signal,
    * and it is computable from the `codes/` tables alone — two
    * cell-sized aggregates, no raw vectors, no extra state.
    *
    * Per cell: `p_base`, `p_delta`, and the unsmoothed
    * [[graft.operators.Quality.populationStability]] psi (null where a
    * side is empty). The ALARM total smooths one-sided cells with the
    * HALF-COUNT rule — a side missing a cell contributes as if it had
    * seen half a row (`0.5 / n_side`) — so a small iid delta that
    * merely SAMPLES past a rare cell stays quiet (the phantom share
    * scales with what the delta could have resolved), while a delta
    * that abandons a heavy base cell, or piles into a cell the base
    * barely used, still pays the full log-ratio. The total accumulates
    * in integer PSI-micro-units so the sum is order-independent and
    * engine-exact. `status` applies the standard PSI gates: < 0.1
    * `stable`, 0.1–0.25 `watch`, > 0.25 `rebuild` (retrain centroids +
    * codebooks and re-encode — the documented lifecycle for a drifted
    * frozen model).
    */
  def indexDriftReport(spark: SparkSession, root: String): DataFrame = {
    val codes = pqDeltaCodeTable(spark, root)
    require(codes.version > 0L,
      "indexDriftReport needs at least one committed delta batch")
    val base = readPqCodes(spark, root).select(col("cell"))
    val delta = codes.read().select(col("cell"))
    val per = graft.operators.Quality
      .populationStability(base, delta, col("cell"))
    val sizes = base.agg(count(lit(1)).as("_nb"))
      .crossJoin(delta.agg(count(lit(1)).as("_nd")))
    val pB = coalesce(col("p_old"), lit(0.5) / col("_nb"))
    val pD = coalesce(col("p_new"), lit(0.5) / col("_nd"))
    val perU = per.crossJoin(broadcast(sizes)).withColumn("_u",
      round((pD - pB) * log(pD / pB) * 1e6).cast("long"))
    val tot = perU.agg(coalesce(sum(col("_u")), lit(0L)).as("_tu"))
    perU.crossJoin(broadcast(tot))
      .select(col("stratum").as("cell"),
        col("p_old").as("p_base"), col("p_new").as("p_delta"),
        col("psi"),
        (col("_tu") / 1e6).as("total_psi"),
        when(col("_tu") > 250000L, lit("rebuild"))
          .when(col("_tu") > 100000L, lit("watch"))
          .otherwise(lit("stable")).as("status"))
  }

  /** The retrain trigger the drift alarm exists for: when
    * [[indexDriftReport]]'s corpus-level status says `rebuild`, retrain
    * the coarse quantizer on the FULL corpus (base + committed deltas,
    * warm-started from the stale centroids), retrain the codebooks and
    * re-encode everything into a fresh index VERSION directory, then
    * atomically flip the `root/CURRENT` pointer. Returns the new
    * version name; None when there are no committed deltas or the
    * drift total is below the rebuild gate (the frozen-model append
    * path keeps running untouched).
    *
    * Lifecycle safety:
    *  - the new version is built COMPLETELY (cells, centroids, codes,
    *    codebooks, residual flag preserved) before the pointer moves —
    *    a crash mid-build leaves the old version serving, untouched,
    *    and a re-run simply rebuilds;
    *  - the flip is one ATOMIC_MOVE of a pointer file, so a reader
    *    resolves either the whole old index or the whole new one,
    *    never a mix of the two models' cells/codes;
    *  - the new version starts with EMPTY delta tables — its deltas
    *    were folded into its base — so the alarm restarts clean and
    *    subsequent streaming appends land in the new version;
    *  - the superseded version's directories are retained for
    *    in-flight readers and audit (the vacuum-grace discipline of
    *    [[AtomicTable]] applied at index granularity).
    */
  def rebuildIfDrifted(spark: SparkSession, root: String,
                       trainIters: Int = 2,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): Option[String] = {
    // tiny-index fast path: drift report, retrain, and rebuild are
    // all bounded by the index tree
    Adaptive.withTinyPlan(spark, Adaptive.touchedBytes(Seq(root))) {
    // heal a predecessor that crashed between its flip and its sweep
    sweepSupersededIndexDeltas(spark, root, idCol, vecCol)
    if (!hasPqDeltas(spark, root)) return None
    val status = indexDriftReport(spark, root)
      .select("status").head().getString(0)
    if (status != "rebuild") return None
    Some(flipToLiveRebuild(spark, root, idCol, vecCol, Some(trainIters)))
    }
  }

  /** The build-and-flip both index rebuilds share ([[rebuildIfDrifted]],
    * [[compactPqIndex]]): persist the LIVE view — where tombstoned and
    * superseded rows die physically — build it into a freshly claimed
    * version under the serving model, carry the replay fences, flip
    * `CURRENT`, then sweep shards whose commit completed in the old
    * version between the corpus snapshot and the flip (invisible to
    * both the new base and the writer fence). `retrainIters` None keeps
    * the frozen centroids and codebooks; Some(n) warm-starts n k-means
    * iterations from the centroids and retrains the codebooks. The
    * residual flag carries over either way. Returns the new version.
    */
  private def flipToLiveRebuild(spark: SparkSession, root: String,
                                idCol: String, vecCol: String,
                                retrainIters: Option[Int]): String = {
    val cents = readEmbeddingCentroids(root)
    val cb = readPqCodebooks(root)
    val residual = readPqResidualFlag(root)
    val (k, dim) = (cents.length, cents(0).length)
    val corpus = readEmbeddingsByCellLive(spark, root, idCol)
      .drop("cell").persist()
    try {
      val (newCents, newCb) = retrainIters.fold((cents, Option(cb))) { n =>
        (graft.pipelines.Similarity.trainIvfCentroids(corpus, vecCol, k,
          dim, iters = n, seed = Some(cents)), None)
      }
      val next = claimNextIndexVersion(root)
      writePqIndex(corpus, s"$root/$next", k, dim,
        m = cb.length, ks = cb(0).length, idCol = idCol,
        vecCol = vecCol, centroids = Some(newCents), codebooks = newCb,
        residual = residual)
      carryIndexFences(spark, resolveIndexRoot(root), s"$root/$next",
        idCol)
      flipIndexCurrent(root, next)
      sweepSupersededIndexDeltas(spark, root, idCol, vecCol)
      next
    } finally corpus.unpersist(blocking = false)
  }

  /** Next version = max existing v<N> + 1, claimed by EXCLUSIVE
    * directory creation: a concurrent rebuild/compaction loses the
    * claim with a clean error instead of racing writes into the same
    * dir, and a crashed build's orphan dir is simply skipped past
    * (retained, like a staging dir) rather than bricking every later
    * rebuild.
    */
  private def claimNextIndexVersion(root: String): String = {
    val vDir = "^v(\\d+)$".r
    val next = "v" + (1L + new java.io.File(root).list().toSeq
      .collect { case vDir(n) => n.toLong }
      .foldLeft(0L)(math.max))
    java.nio.file.Files
      .createDirectory(java.nio.file.Paths.get(s"$root/$next"))
    next
  }

  /** One ATOMIC_MOVE of the `root/CURRENT` pointer file: a reader
    * resolves either the whole old index version or the whole new one,
    * never a mix.
    */
  private def flipIndexCurrent(root: String, next: String): Unit = {
    val cur = java.nio.file.Paths.get(s"$root/CURRENT")
    val tmp = java.nio.file.Paths.get(s"$root/CURRENT.tmp")
    java.nio.file.Files.writeString(tmp, next)
    java.nio.file.Files.move(tmp, cur,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Generation/tombstone COMPACTION under the FROZEN model — the
    * reclaim path for an index that has accreted streamed appends,
    * tombstoned deletes, and stacked update generations. Every update
    * ([[updateInPqIndex]]) leaves its superseded delta rows physically
    * present (dead under the id's mark) and every serve pays one
    * aggregated tombstone read plus the mark join; nothing reclaims
    * them until a model-drift rebuild — which retrains and therefore
    * CHANGES answers. This is the rebuild's cheap sibling: it
    * re-ingests the LIVE serving view into a fresh version under the
    * UNCHANGED centroids/codebooks (cells and codes of live rows are
    * pure functions of the frozen model, so the compacted index
    * answers BIT-IDENTICALLY to the accreted one), flips `CURRENT`
    * atomically, and starts with empty delta/tombstone tables that
    * CARRY the superseded generation's replay fences
    * ([[carryIndexFences]] — a fresh-checkpoint stream replay still
    * skips already-applied batches after the flip). Cost is
    * O(live index) with no training iterations; a crash mid-build
    * leaves the old version serving, untouched. Same lifecycle safety
    * notes as [[rebuildIfDrifted]]; same post-flip sweep. Returns the
    * new version name.
    *
    * Measured (CompactBench, sf0.1, 32 threads): serve latency grows
    * with stacked generations and compaction restores the fresh-index
    * profile — BASELINE.md carries the numbers.
    */
  def compactPqIndex(spark: SparkSession, root: String,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): String = {
    // tiny-index fast path (guide §2): the whole rebuild is bounded
    // by the index tree — see [[Adaptive.withTinyPlan]]
    Adaptive.withTinyPlan(spark, Adaptive.touchedBytes(Seq(root))) {
    // heal a predecessor that crashed between its flip and its sweep
    sweepSupersededIndexDeltas(spark, root, idCol, vecCol)
    flipToLiveRebuild(spark, root, idCol, vecCol, None)
    }
  }

  /** Carry every per-stream replay fence from the serving version's
    * delta/tombstone tables into a freshly-built version BEFORE the
    * pointer flips. Without this a compaction/rebuild would RESET the
    * exactly-once fences with the data: a fresh-checkpoint replay of
    * an already-applied stream batch would then re-commit it against
    * the new generation — re-reversing applied updates, resurrecting
    * reclaimed appends — silently, because each replayed commit is
    * individually well-formed. The fences are table METADATA, not
    * data: the successor tables start with zero rows and the full
    * replay memory ([[AtomicTable.carryTxnMarks]]), and a crash
    * between the carry and the flip just leaves the old version
    * serving with an orphan build to re-run.
    */
  private def carryIndexFences(spark: SparkSession, oldRoot: String,
                               newRoot: String, idCol: String): Unit = {
    Seq("delta_emb", "delta_codes", "delta_tombstones").foreach { n =>
      val marks = cellTable(spark, s"$oldRoot/$n", idCol).txnMarks
      if (marks.nonEmpty)
        cellTable(spark, s"$newRoot/$n", idCol).carryTxnMarks(marks)
    }
  }

  /** Fraction of the index's committed code rows that are DEAD under
    * the versioned-tombstone rule — the accretion metric the
    * auto-compaction trigger watches. 0 for a fresh or just-compacted
    * index; grows with every streamed update generation and takedown.
    * Scans only the NARROW codes tables (id, cell, code, `_seq` — m
    * bytes of code per row), never the raw vectors, so the check is
    * cheap enough to run per micro-batch at any index size.
    */
  def pqIndexDeadFraction(spark: SparkSession, root: String,
                          idCol: String = "vec_id"): Double =
    // runs per micro-batch in the auto-compact stream: the two counts
    // scan only the narrow codes tables — tiny-index fast path applies
    Adaptive.withTinyPlan(spark, Adaptive.touchedBytes(Seq(root))) {
      val all = readPqCodesAll(spark, root).count()
      if (all == 0L) 0.0
      else 1.0 - readPqCodesLive(spark, root, idCol).count().toDouble / all
    }

  /** [[compactPqIndex]] iff the dead fraction exceeds `maxDead` — the
    * maintenance-loop form of the reclaim. Needs NO replay fence: the
    * trigger condition is self-extinguishing (a completed compaction
    * measures ~0 dead and the replay no-ops; a crash mid-compaction
    * leaves the old version serving and the replay re-runs the
    * answer-preserving build), so at-least-once delivery converges
    * without bookkeeping. Returns the new version name when it fired.
    */
  def compactPqIndexIfDead(spark: SparkSession, root: String,
                           maxDead: Double,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding"): Option[String] =
    if (pqIndexDeadFraction(spark, root, idCol) > maxDead)
      Some(compactPqIndex(spark, root, idCol, vecCol))
    else None

  /** Fold delta shards stranded in the SUPERSEDED index version into
    * the current one. A shard strands when its commit completed in the
    * old version after [[rebuildIfDrifted]] snapshotted its corpus but
    * before the pointer flip — the one window neither the new base nor
    * [[writePqDelta]]'s post-commit flip fence covers. Stranded rows
    * are found by id anti-join against the CURRENT serving set (so the
    * sweep is idempotent and needs no version bookkeeping), re-encoded
    * under the current model via [[writePqDelta]], and committed under
    * the `pq_sweep` stream with the superseded table's version as the
    * batch id — new strands imply an advanced version, so ids never
    * collide, while a crashed sweep's replay is fenced per table
    * exactly like any other delta commit. Returns the rows folded.
    * Runs automatically before and after every rebuild; safe to run
    * any time (no pointer / no strands → 0).
    */
  def sweepSupersededIndexDeltas(spark: SparkSession, root: String,
                                 idCol: String = "vec_id",
                                 vecCol: String = "embedding"): Long = {
    val cur = java.nio.file.Paths.get(s"$root/CURRENT")
    if (!java.nio.file.Files.exists(cur)) return 0L
    val n = java.nio.file.Files.readString(cur).trim
      .stripPrefix("v").toLong
    val prevRoot = if (n <= 1L) root else s"$root/v${n - 1}"
    // construct against the superseded path DIRECTLY — pqDeltaEmbTable
    // would re-resolve to the current version
    val prevEmb = cellTable(spark, s"$prevRoot/delta_emb", idCol)
    if (!prevEmb.hasData) return 0L
    val served = readPqCodesAll(spark, root).select(col(idCol))
    // the superseded version's tombstones still bind: a late shard row
    // that was deleted before the flip is absent from the new base BY
    // DESIGN, not stranded — folding it forward would resurrect it
    val prevTomb = cellTable(spark, s"$prevRoot/delta_tombstones", idCol)
    val deadIds =
      if (!prevTomb.hasData) served.limit(0)
      else prevTomb.read().select(col(idCol))
    val late = prevEmb.read().drop("cell")
      .join(served, Seq(idCol), "left_anti")
      .join(deadIds, Seq(idCol), "left_anti").persist()
    try {
      val nLate = late.count()
      if (nLate > 0)
        writePqDelta(late, root, batchId = prevEmb.version,
          idCol = idCol, vecCol = vecCol, stream = "pq_sweep")
      nLate
    } finally late.unpersist(blocking = false)
  }

  // ---- CDC-driven index maintenance (n31/st19) -----------------------

  /** Replay-fence stream name of the CDC sync: the committed high-water
    * mark on the tombstone table IS the last TABLE version the index
    * has absorbed. Kept on the tombstone table because it is the one
    * table EVERY sync commits to (the fence-advance is its final,
    * mark-only commit) and because [[carryIndexFences]] already carries
    * it across compaction/rebuild flips like every other stream fence.
    */
  private val CdcFence = "cdc_sync"

  /** Per-verb totals of one [[syncIndexFromTable]] run. `unchanged`
    * counts feed inserts whose projected row already matched the live
    * index copy and were skipped (a table partition rewrite that did
    * not change the row, or a crash-replay window re-listing an
    * already-absorbed change).
    */
  final case class CdcSyncStats(fromVersion: Long, toVersion: Long,
                                inserted: Long, updated: Long,
                                deleted: Long, unchanged: Long)

  /** Maintain a persisted IVFPQ index as a DERIVED structure of its
    * source-of-truth table: read the table's change feed
    * ([[AtomicTable.changesBetween]]) since the last absorbed version
    * and drive the index's three lifecycle verbs from it — net new ids
    * append ([[writePqDelta]]), changed ids update
    * ([[updateInPqIndex]]'s versioned-tombstone flip), disappeared ids
    * delete ([[deleteIdsFromPqIndex]]) — so "keep the vector index in
    * sync with the table" is one idempotent call instead of
    * hand-routed per-verb streams. This is the lakehouse CDC pattern
    * (a secondary index following a table through its commit log)
    * applied to the ANN index; the reference's continuous refresh loop
    * (/root/reference/static/main.js:592-596) generalized from quotes
    * to vectors, with the table — not the stream — as the authority.
    *
    * Cost at scale: the feed is manifest-diff-priced (commits that
    * changed, never a corpus diff), each verb is O(its batch) against
    * the index (cell-local appends, one tombstone-manifest commit per
    * update/delete), and nothing here scans the raw vector corpus
    * except one live-view anti-join BOUNDED BY the insert side of the
    * feed. An unchanged table is a metadata-only no-op.
    *
    * Correctness contract:
    *  - the table must be keyed by `idCol` (one row per id — true for
    *    every keyed DocTable; the sync refuses a multi-row id loudly);
    *  - classification is by INDEX state, not feed shape: a feed
    *    insert whose id the index already holds (any committed copy or
    *    standing mark) takes the update verb, so replay windows and
    *    delete+re-insert pairs inside ONE window land correctly;
    *    content-identical rows are skipped (null-safe on every
    *    projected column) so re-absorbing a window is free;
    *  - each verb commits under its own `(cdc_sync#verb, tableVersion)`
    *    fence and the master `(cdc_sync, tableVersion)` mark advances
    *    LAST, mark-only — a crash mid-sync leaves a per-id-consistent
    *    prefix (every verb is individually atomic) and the replay
    *    re-derives the same window, skips completed verbs on their
    *    fences, and completes the rest; if the table advanced before
    *    the replay, the wider window still converges because absorbed
    *    ids classify as content-identical updates and are skipped;
    *  - RESURRECTION (an id taken down in an EARLIER window
    *    re-inserted by the table) crosses the takedown-wins rule: an
    *    update never lowers a MaxValue mark, and per-id max-resolution
    *    means a lowered mark could not win anyway while the old mark's
    *    row survives physically. `onReinstate = "refuse"` (default)
    *    fails loudly with the id count; `"compact"` runs
    *    [[compactPqIndex]] — the taken ids die physically, fences
    *    carry — and re-syncs, landing the re-insert as a fresh append.
    *  - the table's vacuum retention must cover the sync cadence: a
    *    feed whose `fromVersion` was vacuumed fails fast
    *    (whole-or-error) rather than silently skipping changes.
    *
    * First sync (no fence yet) reconciles the WHOLE current table
    * against the index — ids the index already holds skip as
    * content-identical, so seeding an index from a table snapshot and
    * then pointing the sync at it converges without double-ingesting.
    * It also reconciles the other direction: live index ids the table
    * does NOT hold are taken down (the one index-sized id scan the
    * sync ever does), so an index seeded from a superset or diverged
    * corpus converges to the table's id space instead of serving
    * orphan vectors forever.
    */
  def syncIndexFromTable(spark: SparkSession, src: AtomicTable,
                         indexRoot: String,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         onReinstate: String = "refuse",
                         failpoint: String => Unit = _ => ())
      : CdcSyncStats = {
    require(Set("refuse", "compact")(onReinstate),
      s"onReinstate must be 'refuse' or 'compact', got '$onReinstate'")
    val r = resolveIndexRoot(indexRoot)
    val t = pqTombstoneTable(spark, r, failpoint, idCol)
    val v0 = t.lastCommittedBatch(CdcFence).getOrElse(0L)
    val v1 = src.version
    if (v1 <= v0) return CdcSyncStats(v0, v0, 0L, 0L, 0L, 0L)
    // the index row schema IS the projection the sync maintains: the
    // base embedding layout minus the physical cell/_seq columns —
    // self-describing, no caller-supplied column list to get wrong
    val rowCols = readEmbeddingsByCell(spark, r).schema.map(_.name)
      .filterNot(Set("cell", "_seq"))
    require(rowCols.contains(idCol) && rowCols.contains(vecCol),
      s"index at $indexRoot does not carry ($idCol, $vecCol)")
    // an init-empty table (commits, no data) has nothing to absorb;
    // leave the fence at 0 so the first DATA commit gets the full
    // whole-table reconcile
    if (v0 == 0L && !src.hasData)
      return CdcSyncStats(v0, v0, 0L, 0L, 0L, 0L)
    // tiny-window fast path (guide §2): everything a sync can touch is
    // the two trees on disk — when both are provably small, AQE's
    // per-exchange stage jobs dominate the window's wall clock
    Adaptive.withTinyPlan(spark, Adaptive.touchedBytes(Seq(r, src.root))) {
    // every persist below (and the update verb's) is the window's own:
    // released when the sync returns, so an unattended CDC stream holds
    // no cached blocks between ticks
    graft.Caches.withCaches { _ =>
    val feed =
      if (v0 == 0L) src.read().withColumn("change_type", lit("insert"))
      else src.changesBetween(v0, v1)
    val ins = graft.Caches.persist(
      feed.filter(col("change_type") === "insert")
        .select(rowCols.map(col): _*))
    val delIds0 = feed.filter(col("change_type") === "delete")
      .select(col(idCol)).distinct()
      .join(ins.select(col(idCol)), Seq(idCol), "left_anti")
    // FIRST sync must reconcile deletions too: the whole-table feed
    // carries only inserts, so an index seeded from a SUPERSET (or
    // otherwise diverged) corpus would keep serving ids the table
    // never held — forever, because later windows only ever see ids
    // the table touched. Take down live index ids absent from the
    // table now, once: this is the one sync allowed an index-sized
    // id scan (narrow codes ids), and it is what makes "index id
    // space ≡ table id space" hold by construction rather than by a
    // seeded-from-exact-snapshot precondition.
    val delIds =
      if (v0 != 0L) delIds0
      else delIds0.unionByName(
        readPqCodesLive(spark, indexRoot, idCol)
          .select(col(idCol)).distinct()
          .join(ins.select(col(idCol)), Seq(idCol), "left_anti"))
        .distinct()
    // every index-sized view below is pruned BY the feed's insert
    // ids before any wide join: the semi's build side is the bounded
    // batch, so the index scans stream past it without an
    // index-sized shuffle or broadcast
    val insIds = ins.select(col(idCol))
    val marks = tombstoneMarks(spark, r, idCol)
    val reinstated = marks.map(m =>
      m.filter(col("_upto") === Long.MaxValue).select(col(idCol))
        .join(insIds, Seq(idCol), "left_semi"))
      .getOrElse(insIds.limit(0))
    // ids the index KNOWS (any committed copy — live or dead — or
    // any standing mark) take the update verb; never-seen ids take
    // the cheap no-mark append. Known-ness probes the NARROW codes
    // view, feed-pruned as above, so the classified sets are all
    // O(batch).
    val knownTouched = graft.Caches.persist(
      readPqCodesAll(spark, indexRoot).select(col(idCol))
        .join(insIds, Seq(idCol), "left_semi")
        .unionByName(marks.map(_.select(col(idCol))
            .join(insIds, Seq(idCol), "left_semi"))
          .getOrElse(insIds.limit(0)))
        .distinct())
    val insNew = ins.join(knownTouched, Seq(idCol), "left_anti")
    // the feed-prune is STRUCTURAL, below the liveness join — the
    // embeddings scan and the marks are each semi-joined by the
    // batch's ids BEFORE liveBySeq's wide join, so the bounded plan
    // is guaranteed by construction, not by hoping Catalyst pushes
    // the prune through the join (liveness is per-id, so pruning
    // both sides by id first is semantically identical)
    val live = liveBySeq(
        readEmbeddingsByCellAllSeq(spark, indexRoot)
          .join(insIds, Seq(idCol), "left_semi"),
        marks.map(_.join(insIds, Seq(idCol), "left_semi")), idCol)
      .select(rowCols.map(c => col(c).as(s"_lv_$c")): _*)
    val changed = ins.join(knownTouched, Seq(idCol), "left_semi")
      .join(live,
        rowCols.map(c => col(c) <=> col(s"_lv_$c")).reduce(_ && _),
        "left_anti")
    // the update verb's batch: an anti-join over the live view —
    // expensive enough that ONE cached evaluation beats the several
    // plan sites that reference it (gate count, verb, dedups)
    val changedP = graft.Caches.persist(changed)
    // ONE action gates the whole window: the ins total (the
    // `unchanged` stat), the keyed-source dup guard, the reinstate
    // probe, and both verb counts run as one job — their subtrees
    // execute as overlapping stages instead of five sequential
    // driver round-trips (each of which re-paid job-submission and,
    // under AQE, per-stage re-optimization latency)
    val gateCounts = ins.select(lit(0).as("_verb"))
      .unionAll(ins.groupBy(col(idCol)).count()
        .filter(col("count") > 1).select(lit(9).as("_verb")))
      .unionAll(reinstated.select(lit(3).as("_verb")))
      .unionAll(insNew.select(lit(1).as("_verb")))
      .unionAll(changedP.select(lit(2).as("_verb")))
      .groupBy(col("_verb")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    require(gateCounts.getOrElse(9, 0L) == 0L,
      s"source table must be keyed by $idCol — its change feed " +
        "carries more than one insert row for some id")
    val nRes = gateCounts.getOrElse(3, 0L)
    if (nRes > 0) {
      if (onReinstate == "refuse")
        throw new IllegalStateException(
          s"$nRes table re-insert(s) of ids under a full takedown: " +
            "takedown-wins keeps them dead until the index compacts " +
            "(onReinstate = \"compact\" does it here, or run " +
            "compactPqIndex and re-sync)")
      // LOUD by design (r16 ADVICE): the auto-compaction absorbs a
      // reinstate anomaly at O(live index) cost — the absorbed
      // event must stay observable (count + a bounded id sample),
      // or a recurring upstream bug hides behind recurring rebuild
      // cost. This is the unattended CDC stream's default path.
      val sample = reinstated
        .limit(20).collect().map(_.get(0)).mkString(", ")
      System.err.println(
        s"[cdc-sync] REINSTATE: $nRes id(s) re-inserted under a full " +
          s"takedown (ids: $sample${if (nRes > 20) ", …" else ""}) — " +
          s"auto-compacting $indexRoot (onReinstate=compact), then " +
          "re-syncing")
      compactPqIndex(spark, indexRoot, idCol, vecCol)
      // the carried fence preserves v0; taken ids are now physically
      // gone and unknown, so the re-derived sync appends them fresh
      return syncIndexFromTable(spark, src, indexRoot, idCol, vecCol,
        onReinstate, failpoint)
    }
    val nIns = gateCounts.getOrElse(1, 0L)
    val nUpd = gateCounts.getOrElse(2, 0L)
    failpoint("cdc_before_ins")
    // dedupIds: this verb's fence is the window-end table version,
    // which MOVES if the table commits between a mid-verb crash and
    // the replay — content-level dedup is what actually guarantees
    // "no id is ever doubled" here (see writePqDelta's scaladoc)
    if (nIns > 0)
      writePqDelta(insNew, indexRoot, v1, idCol, vecCol, failpoint,
        stream = s"$CdcFence#ins", dedupIds = true,
        knownNonEmpty = true) // nIns counted by the gate job
    failpoint("cdc_before_upd")
    if (nUpd > 0)
      updateInPqIndex(spark, indexRoot, changedP, idCol, vecCol,
        txn = Some((s"$CdcFence#upd", v1)), failpoint = failpoint,
        batchUnique = true) // ins dup-guarded above; changed ⊆ ins
    failpoint("cdc_before_del")
    val nDel = deleteIdsFromPqIndex(spark, indexRoot, delIds, idCol,
      txn = Some((s"$CdcFence#del", v1)))
    failpoint("cdc_before_fence")
    // master fence LAST, mark-only: it witnesses the whole window
    val t2 = pqTombstoneTable(spark, resolveIndexRoot(indexRoot),
      failpoint, idCol)
    t2.commitMarkOnly((CdcFence, v1))
    // flip fence: a compaction/rebuild mid-sync moved CURRENT; the
    // verbs each replayed themselves, but the master mark may have
    // landed in the superseded table after its fence carry — re-run
    // against the new current (mark-only, idempotent)
    if (resolveIndexRoot(indexRoot) != r) {
      val t3 = pqTombstoneTable(spark, resolveIndexRoot(indexRoot),
        failpoint, idCol)
      t3.commitMarkOnly((CdcFence, v1))
    }
    // `unchanged` from the gate job's ins total — no extra action
    CdcSyncStats(v0, v1, nIns, nUpd, nDel,
      gateCounts.getOrElse(0, 0L) - nIns - nUpd)
    }
    }
  }

  /** Reclaim SUPERSEDED index version directories — the disk half of
    * the compaction/rebuild story. Every generation flip
    * ([[compactPqIndex]], [[rebuildIfDrifted]]) retains its superseded
    * version for in-flight readers and audit; under a steady
    * maintenance loop those directories are the index's dominant disk
    * cost (each holds a full base corpus). This drops all but the
    * `retainLast` most recent superseded versions:
    *
    *  - only versions STRICTLY OLDER than `CURRENT` are eligible — the
    *    serving version and any claimed-but-unflipped in-progress
    *    build (always newer than CURRENT by [[claimNextIndexVersion]])
    *    are never touched;
    *  - stranded late shards are folded forward FIRST
    *    ([[sweepSupersededIndexDeltas]]) so a reclaimed directory is
    *    never the only copy of a committed row; replay fences were
    *    already carried at flip time ([[carryIndexFences]]) and live
    *    in the CURRENT version's tables — vacuum removes no memory;
    *  - the pre-versioned root-level layout (an index built before its
    *    first flip keeps its original base at `root/` itself) counts
    *    as the OLDEST version: its component dirs/files are reclaimed
    *    individually, never the root (which owns `CURRENT` and the
    *    live `v*` dirs);
    *  - a reader pinned to a reclaimed version fails FAST on the
    *    missing directory — the [[AtomicTable.vacuum]] whole-or-error
    *    discipline at index granularity. Size `retainLast` to the
    *    in-flight-reader grace you need.
    *
    * Returns the reclaimed version names (oldest last; `"(root)"` for
    * the pre-versioned layout).
    */
  def vacuumIndexVersions(spark: SparkSession, root: String,
                          retainLast: Int = 1,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): Seq[String] = {
    require(retainLast >= 0, "retainLast must be >= 0")
    val cur = java.nio.file.Paths.get(s"$root/CURRENT")
    if (!java.nio.file.Files.exists(cur)) return Nil
    val n = java.nio.file.Files.readString(cur).trim
      .stripPrefix("v").toLong
    sweepSupersededIndexDeltas(spark, root, idCol, vecCol)
    val vDir = "^v(\\d+)$".r
    val legacyParts = Seq("embeddings", "codes", "delta_emb",
      "delta_codes", "delta_tombstones", "centroids.txt",
      "codebooks.txt", "pqmeta.txt")
    val legacy =
      if (legacyParts.exists(p => new java.io.File(s"$root/$p").exists()))
        Seq((0L, "(root)"))
      else Nil
    val olds = (legacy ++ new java.io.File(root).list().toSeq
        .collect { case d @ vDir(m) if m.toLong < n => (m.toLong, d) })
      .sortBy(-_._1).drop(retainLast)
    olds.map {
      case (_, "(root)") =>
        legacyParts.foreach(p =>
          deleteRecursively(new java.io.File(s"$root/$p")))
        "(root)"
      case (_, d) =>
        deleteRecursively(new java.io.File(s"$root/$d"))
        d
    }
  }

  /** IVFADC serving against the PERSISTED index — no raw vectors on
    * the select path: probe cells rank by the layout's own centroids,
    * the probed cells' codes are ADC-scored (`cand` candidates by
    * (score desc, id)), and only those ids' raw vectors are scored
    * again by exact cosine for the top-`topK`. Bit-equal to the inline
    * composition (`Similarity.batchPqTopKRerank` over a pruned frame)
    * because codes, probes, and tie-breaks are shared — WarehouseSpec
    * asserts it. Reads the base index PLUS committed streaming delta
    * shards ([[writePqDelta]]) under the tombstone marks — an index
    * with no delta tables serves exactly as before.
    *
    * SERVING STATE. A serve answers from the index's two live views —
    * codes (id, cell, code) and vectors (id, cell, vector): base ∪
    * delta rows with the marks applied ([[liveBySeq]]) — persisted
    * `MEMORY_AND_DISK` once per index state and reused by every serve
    * of that state. The state is keyed by what the driver reads
    * without a Spark job: the resolved `CURRENT` version, the
    * `delta_codes`/`delta_emb`/`delta_tombstones` manifest versions,
    * and the file listing of the base `codes/` and `embeddings/` trees.
    * No verb writes into a built base tree ([[writePqIndex]] refuses a
    * built root), so the listing moves only when the index is deleted
    * and rebuilt at the same path. Every index verb moves the key, so
    * no serve reads a superseded state. A repeated serve is the ADC
    * top-`cand` and the rerank over in-memory rows: no file listing,
    * no schema read, no tombstone aggregation, and a plan whose
    * generated code does not depend on the query (the probe set and
    * query vector are literals passed by reference). The first serve after a commit
    * builds the state inside its own query: it reads EVERY cell of
    * both views once, not only the probed ones — a serve no longer
    * prunes its file scan to the probe cells — so it costs a little
    * more than an unpruned read of the live index.
    *
    * The state is owned by the calling thread's [[graft.Caches]]
    * scope: [[graft.Caches.releaseAll]] (or the end of a
    * [[graft.Caches.withCaches]] block) frees it, and a serve at a new
    * key frees the scope's previous state of the same index before it
    * builds the next, so one scope holds at most one state per index.
    */
  def ivfPqServe(spark: SparkSession, root: String,
                 query: Array[Double], topK: Int, nprobe: Int = 2,
                 cand: Int = 50,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    graft.expressions.GraftFunctions.register(spark)
    val r = resolveIndexRoot(root)
    val cents = readEmbeddingCentroids(r)
    val cb = readPqCodebooks(r)
    val probes = graft.pipelines.Similarity
      .probeCellsAt(query, cents, nprobe)
    val qNorm = {
      val n = math.sqrt(query.map(x => x * x).sum)
      query.map(_ / n)
    }
    val qnCol = typedLit(qNorm)
    // residual indexes store offsets from the cell centroid, so ADC
    // adds the coarse term ⟨q, cn(cell)⟩ back; raw indexes score the
    // codes alone. The flag comes from the layout itself.
    val adc =
      if (readPqResidualFlag(r))
        graft.pipelines.Similarity.pqScore(qnCol, col("code"), cb) +
          graft.pipelines.Similarity.centroidDot(qnCol, col("cell"),
            graft.pipelines.Similarity.normalizedCentroids(cents))
      else graft.pipelines.Similarity.pqScore(qnCol, col("code"), cb)
    // the probe set as one array literal, not an IN list: IN writes
    // each cell id into the generated code, one compile per probe set
    val probed = array_contains(typedLit(probes.toArray), col("cell"))
    val (codes, vectors) = servingState(spark, root, r, idCol, vecCol)
    val selected = codes.filter(probed)
      .select(col(idCol), round(adc, 6).as("pq_score"))
      .orderBy(col("pq_score").desc, col(idCol).asc).limit(cand)
      .select(idCol)
    // exact cosine, computed as cosineNative does, except that the
    // query's norm is a per-row fold: a constant norm would be written
    // into the generated code, one compile per query
    val qv = typedLit(query)
    val cosine = graft.pipelines.Similarity.dotNative(col(vecCol), qv) /
      (graft.pipelines.Similarity.normNative(col(vecCol)) *
        sqrt(aggregate(qv, lit(0.0), (acc, x) => acc + x * x)))
    vectors.filter(probed)
      .join(selected, idCol)
      .select(col(idCol), round(cosine, 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(topK)
  }

  /** What an index state's serving views are built from, all read on
    * the driver: the resolved version root, the three delta manifest
    * versions, and every base file's (path, size, mtime). The listing
    * is what tells an index deleted and rebuilt at the same path from
    * the state it replaced when both have empty delta tables.
    */
  private final case class ServeKey(root: String, codes: Long, emb: Long,
                                    tombstones: Long,
                                    base: Seq[(String, Long, Long)])

  /** The (codes, vectors) live views of the index state at `r` (the
    * resolved `root`), persisted in the current [[graft.Caches]] scope
    * — see [[ivfPqServe]]. Each view carries a per-build tag column
    * while cached: Spark's cache lookup matches cached data by plan,
    * and the tag keeps any other plan over the same files (a verb's
    * live read, or the next state of an index rebuilt at the same path,
    * whose parquet relation compares equal by path) from being
    * answered with this state's rows.
    */
  private def servingState(spark: SparkSession, root: String, r: String,
                           idCol: String,
                           vecCol: String): (DataFrame, DataFrame) = {
    val base = Seq("codes", "embeddings").flatMap { d =>
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(r, d))
      try walk.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(f => (f.toString, java.nio.file.Files.size(f),
          java.nio.file.Files.getLastModifiedTime(f).toMillis))
        .toVector.sorted
      finally walk.close()
    }
    val key = ServeKey(r, pqDeltaCodeTable(spark, r).version,
      pqDeltaEmbTable(spark, r).version,
      pqTombstoneTable(spark, r, idCol = idCol).version, base)
    val index = java.nio.file.Paths.get(root).toAbsolutePath.normalize
      .toString
    lazy val dead = tombstoneMarks(spark, r, idCol)
    def held(view: String, live: => DataFrame, cols: Seq[String]) =
      graft.Caches.persistSlot((index, view, idCol, vecCol), key,
        live.select(cols.map(col) :+
          lit(java.util.UUID.randomUUID().toString).as("_state"): _*))
        .drop("_state")
    (held("codes", liveBySeq(readPqCodesAllSeq(spark, r), dead, idCol),
        Seq(idCol, "cell", "code")),
      held("vectors",
        liveBySeq(readEmbeddingsByCellAllSeq(spark, r), dead, idCol),
        Seq(idCol, "cell", vecCol)))
  }

  /** k-NN majority-vote classification served from the PERSISTED
    * index — [[graft.pipelines.Similarity.knnClassify]]'s vote riding
    * [[ivfPqServe]]'s candidate path instead of the exact
    * corpus-cross-scoring harness. That harness is the recall
    * BASELINE; this is the serving shape that scales past it: per
    * probe query the ADC selection covers only `nprobe` cells' m-byte
    * codes, read from the index's serving state (built by the first
    * query, reused by the rest), so classification cost is
    * per-query-pruned rather than corpus-sized. Labels live with the
    * corpus table, not the index — the (tiny) candidate set broadcasts
    * into one label-table join.
    *
    * Each query serves `k + 1` neighbors so the query's own corpus row
    * (cosine 1.0 in its home cell — always probed first) can be
    * excluded before the vote, mirroring the exact harness's
    * self-exclusion. With `nprobe` covering all cells and `cand` ≥ the
    * corpus, the candidate set IS the exact top-k and predictions
    * match [[graft.pipelines.Similarity.knnClassify]] bit-for-bit
    * (WarehouseSpec pins the parity); production settings trade that
    * guarantee for the probe-pruned selection exactly as n13/n14 do
    * for top-k retrieval.
    *
    * `queries`: (id, true label, embedding) of the labeled probes.
    */
  def ivfPqClassify(spark: SparkSession, root: String,
                    queries: Seq[(Long, Int, Array[Double])],
                    labels: DataFrame, k: Int, nprobe: Int = 2,
                    cand: Int = 50, idCol: String = "vec_id",
                    labelCol: String = "label"): DataFrame = {
    require(queries.nonEmpty, "ivfPqClassify needs at least one query")
    import org.apache.spark.sql.expressions.Window
    val served = queries.map { case (qid, qlab, v) =>
      ivfPqServe(spark, root, v, topK = k + 1, nprobe, cand, idCol)
        .withColumn("q_id", lit(qid)).withColumn("q_label", lit(qlab))
    }.reduce(_.unionByName(_))
    val topk = served
      .filter(col(idCol) =!= col("q_id"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("cosine").desc, col(idCol).asc)))
      .filter(col("rank") <= k)
    val labeled = labels.select(col(idCol), col(labelCol))
      .join(broadcast(topk), idCol)
    graft.pipelines.Similarity
      .voteNeighbors(labeled, "q_id", "q_label", labelCol)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    f.delete()
  }
}
