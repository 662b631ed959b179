package graft.sources

import java.nio.file.{Files, FileSystemException, Path}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, Pmod,
  XxHash64}
import org.apache.spark.sql.execution.datasources.{FileIndex,
  HadoopFsRelation, InMemoryFileIndex, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType,
  FloatType, IntegerType, LongType, MapType, StringType, StructField,
  StructType}

import graft.operators.Relational

/** Atomic, versioned table-of-record over any schema, partitioned by
  * `partCol` and keyed by `defaultKeys`.
  *
  * A layout that mutates partition directories in place is not
  * crash-atomic: a crash between the directory delete and the
  * re-append loses committed rows. The reference gets mutation atomicity for free
  * from SQLite transactions (/root/reference/app/db.py:23-30); at
  * 100 TB the equivalent is a manifest commit protocol, which this
  * class implements:
  *
  *  - Data lives in immutable write directories
  *    `root/data/<id>/<partCol>=.../` — never rewritten, never appended
  *    to after their commit.
  *  - Each non-empty data dir carries a `_schema` sidecar: the dir's
  *    full WRITTEN schema (the staged frame's, `partCol` included) as
  *    compact `StructType` JSON. It is written after the parquet files
  *    and before the manifest publish (like `_bloom`), so every
  *    committed dir has a complete one; Spark's scans skip it
  *    (underscore prefix) and [[vacuum]] reclaims it with its dir.
  *  - A read is ONE parquet scan over a file index built from the
  *    manifest (one listing per entry, no Spark job): Spark packs the
  *    files of every dir into ~`defaultParallelism` tasks, and a
  *    `partCol` predicate still prunes through PartitionFilters. The
  *    read's schema is the sidecars folded in manifest order, and the
  *    partition column takes its written type (a string partition of
  *    `0700` stays the string `0700`).
  *  - A dir without a full sidecar (committed before sidecars, or
  *    before they recorded `partCol`) joins the same scan with its
  *    footer-inferred schema, the partition type taken from its
  *    directory names; only such a dir costs its read a Spark job.
  *    [[compact]] rewrites it with a sidecar.
  *  - A manifest file `root/manifest-NNNNNNNNNNNN.txt` maps each data
  *    dir to the partition values readers may take from it (`*` = all),
  *    and records per-stream high-water batch ids (`#txn` lines) for
  *    exactly-once streaming commits.
  *  - Readers resolve the HIGHEST-numbered manifest; each mutation
  *    stages its new data dir first, then publishes a new manifest via
  *    write-to-temp + atomic link (hard link fails if the target
  *    exists — the optimistic-concurrency check).
  *
  * A crash before the publish leaves only staged (unreferenced) files:
  * readers still see the previous manifest — fully-old. After the
  * publish they see fully-new. There is no in-between, which is the
  * property [[graft.WarehouseSpec]] proves by injecting a failure at
  * the `pre-commit` failpoint. Orphaned/retired dirs are reclaimed by
  * [[vacuum]].
  *
  * Exactly-once streaming: a mutation called with `txn = Some((stream,
  * batchId))` is SKIPPED when `batchId` is at or below the stream's
  * recorded high-water mark, and otherwise records the new mark IN THE
  * SAME manifest commit as the data — so a `foreachBatch` replay after
  * a sink-side crash (micro-batch delivered, checkpoint not yet
  * advanced) cannot double-commit: either the manifest carries both the
  * data and the mark, or neither.
  *
  * Contracts: single writer per version (OCC turns a race into a clean
  * [[java.util.ConcurrentModificationException]]); partition values
  * must not contain tab, comma, or newline (escape at ingest). A
  * narrowed entry (partitions reassigned away by upsert/delete/
  * overwrite/compact) lists only its assigned partition dirs.
  *
  * `partType` converts the manifest's STRING partition values back to
  * the column's runtime type for the mutations' `partCol IN (...)`
  * filters ([[prunedExisting]], [[upsert]], [[deleteWhere]],
  * [[compact]]; identity for string partitions, `_.toInt` for e.g. an
  * IVF `cell` column) — without it a non-string partition column would
  * compare against string literals and lose partition pruning.
  *
  * `statsCol` opts a column into ZONE-MAP data skipping: each commit
  * records the staged dir's min/max of that column as a `#minmax`
  * manifest line, and [[readRange]] resolves ONLY the dirs whose
  * recorded range intersects the predicate — file skipping BELOW the
  * partition axis, the per-file-stats pruning of the manifest table
  * formats. Stats are conservative by construction: a dir whose
  * partitions were later reassigned away (upsert/delete `without`)
  * keeps the min/max of its original superset, so pruning may
  * under-skip but never over-skips; dirs with no recorded stats
  * (committed before the column opted in, or all-null) are always
  * read. The stats value's STRING form must order consistently with
  * the column (integers of one sign, doubles of one magnitude-class,
  * ISO timestamps: compared numerically when both ends parse as
  * numbers, lexicographically otherwise).
  *
  * `bloomCol` opts a column into BLOOM point-lookup skipping — the
  * point-probe complement to the zone maps (a range clusters with
  * ingest order; a key doesn't, so min/max can't prune an equality).
  * Every staged dir gets a self-describing `_bloom` sidecar (an
  * underscore-prefixed file Spark's scans ignore, committed atomically
  * with the dir and reclaimed with it by [[vacuum]]), and [[readPoint]]
  * resolves ONLY the dirs whose filter might contain the key. Both
  * build and probe hash through the SAME Spark `xxhash64` expression,
  * so there is no cross-implementation hash-parity risk. Skipping is
  * conservative exactly like the zone maps: a false positive or a
  * reassigned-away partition only under-skips, a dir with no sidecar
  * (pre-opt-in) or a different recorded column is always read — a
  * miss in every filter proves absence, so the lookup plans no scan.
  */
final case class AtomicTable(spark: SparkSession, root: String,
                             partCol: String,
                             defaultKeys: Seq[String],
                             failpoint: String => Unit = _ => (),
                             partType: String => Any = identity,
                             statsCol: Option[String] = None,
                             bloomCol: Option[String] = None) {

  import AtomicTable.{BloomK, ManifestIndex, ManifestRe, OpPrefix, Star,
    StatsPrefix, TxnPrefix, bloomBitsFor, recordSchema, statsCmp,
    treeSchema}

  private def rootFile = new java.io.File(root)

  private def currentManifest: Option[(Long, java.io.File)] =
    Option(rootFile.listFiles()).getOrElse(Array.empty[java.io.File])
      .flatMap { f =>
        f.getName match {
          case ManifestRe(n) => Some((n.toLong, f))
          case _             => None
        }
      }.sortBy(_._1).lastOption

  /** Committed version number (0 = uninitialized). */
  def version: Long = currentManifest.map(_._1).getOrElse(0L)

  /** Data dirs the current manifest references — the listings a read
    * makes and the file count [[compact]] bounds.
    */
  def dataDirCount: Int = readManifest().size

  /** All committed (non-vacuumed) versions, ascending. */
  def versions: Seq[Long] =
    Option(rootFile.listFiles()).getOrElse(Array.empty[java.io.File])
      .flatMap(_.getName match {
        case ManifestRe(n) => Some(n.toLong)
        case _             => None
      }).sorted.toSeq

  private def manifestFileAt(v: Long): Option[java.io.File] = {
    val f = new java.io.File(rootFile, f"manifest-$v%012d.txt")
    if (f.isFile) Some(f) else None
  }

  /** dir → assigned partition values (Star = every partition in dir). */
  private def readManifest(): Seq[(String, Seq[String])] =
    currentManifest.map(_._2).map(parseManifest).getOrElse(Nil)

  private def parseManifest(f: java.io.File): Seq[(String, Seq[String])] =
    Files.readAllLines(f.toPath).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { line =>
        val Array(dir, syms) = line.split("\t", 2)
        dir -> (if (syms == Star) Seq(Star)
                else if (syms.isEmpty) Nil
                else syms.split(",").toSeq)
      }

  /** Per-stream committed high-water batch ids (the `#txn` lines). */
  private def readTxns(): Map[String, Long] =
    currentManifest.map(_._2).map { f =>
      Files.readAllLines(f.toPath).asScala
        .filter(_.startsWith(TxnPrefix))
        .map { line =>
          val Array(_, stream, id) = line.split("\t", 3)
          stream -> id.toLong
        }.toMap
    }.getOrElse(Map.empty)

  /** The last batch id committed for `stream`, if any — the replay
    * fence for exactly-once `foreachBatch` sinks.
    */
  def lastCommittedBatch(stream: String): Option[Long] =
    readTxns().get(stream)

  /** Every per-stream committed high-water mark (the `#txn` lines) —
    * what a generation flip (index compaction/rebuild) reads from the
    * superseded tables so the replay fences can ride into their
    * successors instead of resetting with the data.
    */
  def txnMarks: Map[String, Long] = readTxns()

  /** Advance this table's replay fences to AT LEAST `marks` without
    * touching data: one manifest commit whose only change is the
    * max-merged `#txn` lines (existing marks never lower — a fence
    * only moves forward). No-op when nothing would advance. This is
    * the fence-preservation half of a generation flip: the fresh
    * table starts with zero rows but the FULL replay memory, so a
    * fresh-checkpoint replay of an already-applied stream batch still
    * skips after the flip.
    */
  def carryTxnMarks(marks: Map[String, Long]): Unit = {
    val cur = readTxns()
    val merged = (cur.keySet ++ marks.keySet).iterator.map { k =>
      k -> math.max(cur.getOrElse(k, Long.MinValue),
        marks.getOrElse(k, Long.MinValue))
    }.toMap
    if (merged == cur) return
    // a successor table usually does not exist yet — the carry is its
    // first commit (marks only, zero data entries)
    java.nio.file.Files.createDirectories(rootFile.toPath)
    writeManifest(readManifest(), version, merged, op = "txncarry",
      stats = readStats())
  }

  /** dir → recorded (min, max) of [[statsCol]] (the `#minmax` lines).
    * Dirs without a line carry no zone information and are never
    * skipped.
    */
  private def readStats(): Map[String, (String, String)] =
    currentManifest.map(_._2).map { f =>
      Files.readAllLines(f.toPath).asScala
        .filter(_.startsWith(StatsPrefix))
        .map { line =>
          val Array(_, dir, _, lo, hi) = line.split("\t", 5)
          dir -> (lo, hi)
        }.toMap
    }.getOrElse(Map.empty)

  /** The operation log across retained (non-vacuumed) versions,
    * ascending: (version, operation, commit epoch-millis) — the
    * DESCRIBE HISTORY view that answers "what produced version N"
    * before a time-travel read or a provenance audit. Versions
    * committed before the log line existed report `"write"` at
    * epoch 0.
    */
  def history(): Seq[(Long, String, Long)] =
    versions.map { v =>
      val parsed = manifestFileAt(v).flatMap { f =>
        Files.readAllLines(f.toPath).asScala
          .find(_.startsWith(OpPrefix))
          .map { line =>
            val Array(_, op, at) = line.split("\t", 3)
            (op, at.toLong)
          }
      }.getOrElse(("write", 0L))
      (v, parsed._1, parsed._2)
    }

  /** Publish `entries` (+ carried txn marks) as version `base + 1`. The
    * manifest body is fully written to a temp file first, then
    * published with a hard LINK (not a rename): `link(2)` is atomic
    * like rename, but FAILS if the target exists — which is exactly the
    * optimistic-concurrency check. Two writers that both read base N
    * race to create `manifest-(N+1)`; the loser gets a
    * [[java.util.ConcurrentModificationException]] instead of silently
    * overwriting the winner's commit (POSIX rename would replace it).
    */
  private def writeManifest(entries: Seq[(String, Seq[String])],
                            base: Long,
                            txns: Map[String, Long],
                            op: String = "write",
                            stats: Map[String, (String, String)] = Map.empty)
      : Unit = {
    // the operation log line (`#op <name> <epochMs>`): DESCRIBE
    // HISTORY-style provenance, ignored by every data/txn parser
    // (`#` prefix), one line per committed version
    val opLine = s"$OpPrefix\t$op\t${System.currentTimeMillis()}"
    val txnLines = txns.toSeq.sortBy(_._1)
      .map { case (s, id) => s"$TxnPrefix\t$s\t$id" }
    val live = entries.filter { case (_, syms) => syms.nonEmpty }
    // zone-map lines only for dirs the manifest still references —
    // stats of retired dirs fall away with their data lines
    val statLines = statsCol.toSeq.flatMap { c =>
      live.flatMap { case (d, _) =>
        stats.get(d).map { case (lo, hi) =>
          s"$StatsPrefix\t$d\t$c\t$lo\t$hi"
        }
      }
    }
    val dataLines =
      live.map { case (d, syms) => d + "\t" + syms.mkString(",") }
    val body =
      (opLine +: (txnLines ++ statLines ++ dataLines)).mkString("\n")
    val tmp = new java.io.File(rootFile, s".manifest-tmp-${UUID.randomUUID()}")
    Files.writeString(tmp.toPath, body)
    failpoint("pre-commit")
    val target =
      new java.io.File(rootFile, f"manifest-${base + 1}%012d.txt").toPath
    def concurrent(): Nothing =
      throw new java.util.ConcurrentModificationException(
        s"concurrent commit: version ${base + 1} already exists under " +
          s"$root (another writer committed after this mutation read " +
          s"version $base); re-read and retry")
    try Files.createLink(target, tmp.toPath)
    catch {
      case _: java.nio.file.FileAlreadyExistsException => concurrent()
      // filesystems without hard links (some object-store mounts /
      // network FS): fall back to a no-replace atomic move — the same
      // fails-if-target-exists OCC contract, minus link(2)'s guarantee
      // against a concurrent create BETWEEN the existence check and
      // the move (single-writer-per-version remains safe; true
      // multi-writer tables belong on a link-capable filesystem)
      case _: UnsupportedOperationException | _: FileSystemException =>
        if (Files.exists(target)) concurrent()
        try Files.move(tmp.toPath, target) // no REPLACE_EXISTING: fails
        catch {                            // if the target appeared
          case _: java.nio.file.FileAlreadyExistsException => concurrent()
        }
    } finally Files.deleteIfExists(tmp.toPath)
  }

  /** Partition values actually present in a committed data dir. Spark
    * Hive-escapes special characters in partition paths (`BRK/B` →
    * `symbol=BRK%2FB`), so directory names must be UNescaped back to the
    * raw column values the manifest and the `partCol IN (...)` filters
    * speak — otherwise escaped values silently vanish from reads.
    */
  private def dirParts(rel: String): Seq[String] = partDirs(rel).map(_._1)

  /** (raw partition value, directory name) of each `partCol=` dir. */
  private def partDirs(rel: String): Seq[(String, String)] =
    Option(new java.io.File(s"$root/$rel").listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith(s"$partCol="))
      .map(f => ExternalCatalogUtils.unescapePathName(
        f.getName.stripPrefix(s"$partCol=")) -> f.getName).toSeq

  private def isPart(f: StructField): Boolean =
    spark.sessionState.conf.resolver(f.name, partCol)

  /** Stage rows into a fresh immutable dir; returns (relDir, parts). */
  private def stage(rows: DataFrame, coalesceTo: Int = 0,
                    maxRecordsPerFile: Long = 0L): (String, Seq[String]) = {
    val rel = s"data/${UUID.randomUUID().toString.take(12)}"
    val shaped = if (coalesceTo > 0) rows.coalesce(coalesceTo) else rows
    val w = shaped.write.mode(SaveMode.Overwrite).partitionBy(partCol)
    (if (maxRecordsPerFile > 0L)
       w.option("maxRecordsPerFile", maxRecordsPerFile)
     else w).parquet(s"$root/$rel")
    val ps = dirParts(rel)
    if (ps.nonEmpty) {
      recordSchema(s"$root/$rel", shaped.schema)
      writeBloomSidecar(rel)
    }
    (rel, ps)
  }

  /** Build the staged dir's `_bloom` sidecar: one batch-sized pass
    * hashes [[bloomCol]] (as string) to [[BloomK]] positions through
    * Spark's own `xxhash64`, folds them map-side into ≤ m/64 words via
    * `bit_or`, and writes the packed filter next to the data it
    * describes. The filter is sized to THIS dir's key count (~10 bits
    * per key, ~1% FPR), never to the table — commits stay O(batch).
    */
  private def writeBloomSidecar(rel: String): Unit = bloomCol.foreach { c =>
    val keys = resolve(Seq(rel -> Seq(Star)))
      .select(col(c).cast("string").as("k")).filter(col("k").isNotNull)
    val n = keys.count()
    if (n > 0) {
      val m = bloomBitsFor(n)
      val words = keys
        .select(explode(array((0 until BloomK).map(i =>
          pmod(xxhash64(lit(i), col("k")), lit(m))): _*)).as("p"))
        .select(expr("p div 64").as("w"),
          expr("shiftleft(1L, cast(p % 64 as int))").as("mask"))
        .groupBy("w").agg(expr("bit_or(mask)").as("b"))
        .collect()
      val bits = new Array[Long]((m / 64).toInt)
      words.foreach(r => bits(r.getLong(0).toInt) = r.getLong(1))
      val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(s"$root/$rel/_bloom")))
      try {
        out.writeUTF(c); out.writeLong(m); out.writeInt(BloomK)
        bits.foreach(out.writeLong)
      } finally out.close()
    }
  }

  /** The sidecar's (column, m, k, packed bits), if present & readable. */
  private def readBloomSidecar(rel: String)
      : Option[(String, Long, Int, Array[Long])] = {
    val f = new java.io.File(s"$root/$rel/_bloom")
    if (!f.isFile) None
    else {
      val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
        new java.io.FileInputStream(f)))
      try {
        val c = in.readUTF(); val m = in.readLong(); val k = in.readInt()
        Some((c, m, k, Array.fill((m / 64).toInt)(in.readLong())))
      } finally in.close()
    }
  }

  /** Zone entry for a freshly staged dir: min/max of [[statsCol]] read
    * back from the written files — one batch-sized aggregate, never a
    * table-sized one. Empty for a stats-less table, an empty stage, or
    * an all-null column (such a dir is simply never skipped).
    */
  private def stagedStats(rel: String,
                          ps: Seq[String]): Map[String, (String, String)] =
    statsCol.toSeq.flatMap { c =>
      if (ps.isEmpty) Nil
      else {
        val r = resolve(Seq(rel -> Seq(Star)))
          .agg(min(col(c)).cast("string"), max(col(c)).cast("string"))
          .collect()(0)
        if (r.isNullAt(0)) Nil
        else Seq(rel -> ((r.getString(0), r.getString(1))))
      }
    }.toMap

  /** Remove `touched` partitions from every entry's assignment (entries
    * that kept nothing fall away in writeManifest).
    */
  private def without(entries: Seq[(String, Seq[String])],
                      touched: Set[String]): Seq[(String, Seq[String])] =
    entries.map { case (d, syms) =>
      val explicit = if (syms == Seq(Star)) dirParts(d) else syms
      d -> explicit.filterNot(touched)
    }

  /** True iff `txn` names an already-committed batch — the mutation
    * must be a no-op (a `foreachBatch` replay after a crash).
    */
  private def alreadyCommitted(txn: Option[(String, Long)]): Boolean =
    txn.exists { case (stream, id) =>
      lastCommittedBatch(stream).exists(id <= _)
    }

  private def withTxn(txn: Option[(String, Long)]): Map[String, Long] =
    readTxns() ++ txn.map { case (s, id) => s -> id }

  /** Tiny-commit fast path (guide §2): a mutation's plans are bounded
    * by this table's on-disk tree plus the caller's batch — when both
    * are provably small ([[Adaptive.touchedBytes]]), run the commit
    * without AQE (whose per-exchange stage jobs dominate KB-scale
    * commits; see [[Adaptive.withTinyPlan]]). Large tables or batches
    * are untouched.
    */
  private def withTinyCommit[A](batch: Option[DataFrame])(f: => A): A =
    Adaptive.withTinyPlan(spark,
      Adaptive.touchedBytes(Seq(root), batch.toSeq: _*))(f)

  /** Initialize (or replace) the table with `rows` as version+1. With
    * `txn`, the seed commit records the (stream, batchId) mark and a
    * replayed seed batch is skipped — the same exactly-once fence the
    * mutations apply (a streaming sink whose FIRST micro-batch
    * initializes the table needs the fence there too).
    *
    * A ZERO-ROW seed stages a dir with no part files (partitionBy
    * writes nothing for zero rows), so publishing a Star entry over it
    * would make every later read() die on schema inference — and with
    * a txn mark the replay fence would then skip the healing re-run,
    * bricking the table permanently. An empty seed therefore commits
    * the version + txn mark WITHOUT a data entry: the fence advances,
    * read() reports an empty (uninitialized) table, and the next
    * non-empty init()/append() populates it normally.
    */
  def init(rows: DataFrame, txn: Option[(String, Long)] = None): Unit = {
    if (alreadyCommitted(txn)) return
    withTinyCommit(Some(rows)) {
      val base = version
      val (rel, ps) = stage(rows)
      val entries = if (ps.nonEmpty) Seq(rel -> Seq(Star)) else Seq.empty
      writeManifest(entries, base, withTxn(txn),
        op = if (ps.nonEmpty) "init" else "init-empty",
        stats = stagedStats(rel, ps))
    }
  }

  /** True iff the current manifest references any data dir — false for
    * a never-initialized table AND for one whose only commits were
    * empty seeds/appends (version > 0, nothing to read).
    */
  def hasData: Boolean = readManifest().nonEmpty

  /** Current committed snapshot. Each data dir contributes only its
    * assigned partitions (`partCol IN (...)` → PartitionFilters).
    */
  def read(): DataFrame = {
    val entries = readManifest()
    require(entries.nonEmpty,
      s"no committed data under $root (table never initialized, or " +
        "initialized from an empty seed and never appended to)")
    resolve(entries)
  }

  /** Zone-map read: the committed snapshot filtered to `statsCol ∈
    * [lo, hi]`, with every data dir whose recorded `#minmax` range
    * cannot intersect the predicate skipped BEFORE any scan is
    * planned. The result is exactly `read().filter(between(lo, hi))`
    * — pruning is invisible to correctness (stats-less dirs always
    * read, stats conservative under partition reassignment) and
    * visible only to I/O: at 100 TB a time- or id-bounded query over
    * an append-mostly table touches the handful of commits whose
    * ranges overlap, not every file of every partition. The residual
    * filter still applies (a surviving dir may hold rows outside the
    * bound), and still reaches the parquet scan as a pushed predicate.
    */
  def readRange(lo: Any, hi: Any): DataFrame = {
    val c = statsCol.getOrElse(sys.error(
      s"readRange requires a statsCol on the table at $root"))
    val all = readManifest()
    require(all.nonEmpty,
      s"no committed data under $root (table never initialized, or " +
        "initialized from an empty seed and never appended to)")
    val surv = zoneSurvivors(lo, hi)
    val between = col(c) >= lit(lo) && col(c) <= lit(hi)
    if (surv.isEmpty)
      // every dir's range misses [lo, hi]: an empty result with the
      // table's schema — the false filter folds to an empty relation,
      // so no file is actually read
      resolve(all.take(1)).filter(lit(false) && between)
    else resolve(surv).filter(between)
  }

  /** The manifest entries a `[lo, hi]` zone probe must read — package-
    * visible so the spec can assert that pruning actually happened,
    * not just that the answer matched.
    */
  private[graft] def zoneSurvivors(lo: Any,
                                   hi: Any): Seq[(String, Seq[String])] = {
    val st = readStats()
    readManifest().filter { case (d, _) =>
      st.get(d).forall { case (mn, mx) =>
        statsCmp(mx, lo.toString) >= 0 && statsCmp(mn, hi.toString) <= 0
      }
    }
  }

  /** Bloom point lookup: the committed snapshot filtered to
    * `bloomCol = key`, with every data dir whose `_bloom` sidecar
    * proves the key absent skipped BEFORE any scan is planned. The
    * result is exactly `read().filter(col === key)` — a false positive
    * or a sidecar-less dir only widens the read, never the answer, and
    * the equality still reaches the surviving parquet scans as a
    * pushed predicate. At 100 TB this turns "fetch one document by id
    * out of an append-mostly corpus" from a full-table scan into a
    * probe of the one or two commits whose filters claim the key;
    * a miss in every filter plans no scan at all.
    */
  def readPoint(key: Any): DataFrame = {
    val c = bloomCol.getOrElse(sys.error(
      s"readPoint requires a bloomCol on the table at $root"))
    val all = readManifest()
    require(all.nonEmpty,
      s"no committed data under $root (table never initialized, or " +
        "initialized from an empty seed and never appended to)")
    val surv = bloomSurvivors(key)
    val matches = col(c) === lit(key)
    if (surv.isEmpty)
      // every sidecar rules the key out: empty result, table schema,
      // no file read — the false filter folds to an empty relation
      resolve(all.take(1)).filter(lit(false) && matches)
    else resolve(surv).filter(matches)
  }

  /** The manifest entries a point probe for `key` must read — package-
    * visible so the spec can assert the skip on the resolved dir list.
    * Probe positions come from the SAME `xxhash64` expression the
    * sidecar build used, evaluated on the driver (no Spark job), so
    * build and probe cannot drift.
    */
  private[graft] def bloomSurvivors(key: Any): Seq[(String, Seq[String])] = {
    val c = bloomCol.getOrElse(sys.error(
      s"bloom probe requires a bloomCol on the table at $root"))
    readManifest().filter { case (d, _) =>
      readBloomSidecar(d).forall {
        case (`c`, m, k, bits) => (0 until k).forall { i =>
          val p = Pmod(new XxHash64(Seq(Literal(i), Literal(key.toString))),
            Literal(m)).eval().asInstanceOf[Long]
          ((bits((p / 64).toInt) >>> (p % 64).toInt) & 1L) == 1L
        }
        case _ => true // a filter over another column never skips
      }
    }
  }

  /** Time travel: the snapshot as of committed version `v` — data dirs
    * are immutable and superseded manifests stay on disk until
    * [[vacuum]], so every un-vacuumed version remains exactly
    * reconstructable (reproducing "the corpus the model trained on" is
    * a provenance requirement, not a luxury). After a vacuum only the
    * current version resolves.
    */
  def readVersion(v: Long): DataFrame = {
    val f = manifestFileAt(v).getOrElse(sys.error(
      s"version $v not found under $root (vacuumed or never committed); " +
        s"available: ${versions.mkString(", ")}"))
    val entries = parseManifest(f)
    requireDirsLive(entries, v)
    resolve(entries)
  }

  /** Whole-or-error guard for historical reads: every data dir the
    * version's manifest references must still exist, or the read fails
    * FAST with a retention error — never a partial corpus. [[vacuum]]
    * itself cannot produce the dangling state (it drops the manifest
    * before the dirs, and reclaims each dir by an atomic rename to a
    * tombstone), so a miss here means external damage or a pre-fix
    * layout; either way the answer is refusal, not silence.
    */
  private def requireDirsLive(entries: Seq[(String, Seq[String])],
                              v: Long): Unit = {
    val gone = entries.collect {
      case (d, _) if !new java.io.File(s"$root/$d").isDirectory => d
    }
    require(gone.isEmpty,
      s"version $v under $root is no longer reconstructable: " +
        s"${gone.size} of its ${entries.size} data dirs were reclaimed " +
        s"(${gone.take(3).mkString(", ")}) — historical reads are " +
        "whole-or-error; raise vacuum retainMs to keep the time-travel " +
        "window open")
  }

  /** Change data feed: the exact multiset of row changes between two
    * committed versions, tagged `insert` / `delete` in a `change_type`
    * column (an update surfaces as its delete+insert pair). The diff
    * exploits the layout's immutability: a (dir, assignment) entry
    * present in BOTH manifests contributes identical rows to both
    * snapshots and cancels WITHOUT being read, so the cost is
    * proportional to the commits that actually changed — for an
    * append-only span the feed is just the new dirs, no anti-join at
    * all (the spec pins the Except-free plan). This is the "what
    * changed since the snapshot we trained on" question answered from
    * manifests, not from a corpus-sized diff; reassigning mutations
    * (upsert/delete/compact) fall back to an exceptAll over ONLY the
    * differing entries. Schemas are aligned across additive evolution
    * (old-side rows null-fill columns born later).
    */
  def changesBetween(v1: Long, v2: Long): DataFrame = {
    require(v1 <= v2, s"changesBetween needs v1 <= v2, got $v1 > $v2")
    def at(v: Long) = {
      val entries = manifestFileAt(v).map(parseManifest).getOrElse(
        sys.error(s"version $v not found under $root (vacuumed or never " +
          s"committed); available: ${versions.mkString(", ")}"))
      requireDirsLive(entries, v)
      entries
    }
    val e1 = at(v1)
    val e2 = at(v2)
    require(e1.nonEmpty || e2.nonEmpty,
      s"both versions $v1 and $v2 are empty under $root")
    val common = e1.toSet.intersect(e2.toSet)
    val only1 = e1.filterNot(common)
    val only2 = e2.filterNot(common)
    // align every side to the NEWER snapshot's schema (columns born
    // between the versions null-fill on the old side)
    val target = resolve(if (e2.nonEmpty) e2 else e1).schema
    def aligned(entries: Seq[(String, Seq[String])]): DataFrame = {
      val df = resolve(entries)
      val have = df.columns.toSet
      df.select(target.fields.toIndexedSeq.map { f =>
        if (have(f.name)) col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)
    }
    def side(mine: Seq[(String, Seq[String])],
             theirs: Seq[(String, Seq[String])], tag: String) =
      if (mine.isEmpty) None
      else Some((if (theirs.isEmpty) aligned(mine)
                 else aligned(mine).exceptAll(aligned(theirs)))
        .withColumn("change_type", lit(tag)))
    (side(only2, only1, "insert"), side(only1, only2, "delete")) match {
      case (Some(i), Some(d)) => i.unionByName(d)
      case (Some(i), None)    => i
      case (None, Some(d))    => d
      case (None, None)       => // identical manifests: empty, schema kept
        aligned(if (e2.nonEmpty) e2 else e1).limit(0)
          .withColumn("change_type", lit("insert"))
    }
  }

  /** Rows in data dirs the CURRENT manifest references that version
    * `v`'s manifest did not — the increments accreted since `v` (e.g.
    * the base corpus a dedup stream was seeded with). Exact while the
    * increments remain uncompacted; [[compact]] folds everything into
    * fresh dirs, after which the increments ARE the snapshot and this
    * view is the whole table. Empty increment set → None (an empty
    * staged dir has no schema to read).
    */
  def addedSince(v: Long): Option[DataFrame] = {
    val old = manifestFileAt(v).map(parseManifest).getOrElse(Nil)
      .map(_._1).toSet
    val fresh = readManifest().filterNot { case (d, _) => old.contains(d) }
    if (fresh.isEmpty) None else Some(resolve(fresh))
  }

  /** The entries as ONE parquet scan over a [[ManifestIndex]].
    *
    * Schema EVOLUTION at the read seam: dirs staged before a column
    * existed read it as null, so adding a column (a new quality score,
    * a provenance tag) never rewrites committed data — exactly the
    * add-column semantics of the table formats this manifest mirrors.
    * Column ORDER is manifest order (oldest dir's columns first with
    * `partCol` after them, later additions appended); [[compact]]
    * folds everything onto the full current schema. A column recorded
    * as `int` in one dir and `bigint` in another (or `float` and
    * `double`) reads as the wider type, which the parquet reader
    * widens per file; a partition column whose dirs disagree reads as
    * a string, its directory names verbatim. Any other disagreement
    * fails here, naming the column and both types.
    */
  private def resolve(entries: Seq[(String, Seq[String])]): DataFrame = {
    val schema = scanSchema(entries)
    val part = StructType(schema.filter(isPart))
    val dirs = entries.flatMap { case (d, syms) =>
      val base = new HPath(s"$root/$d")
      val leaves = partDirs(d)
      val roots =
        if (syms == Seq(Star) || leaves.forall(l => syms.contains(l._1)))
          Seq(base) // a whole entry lists its dir
        else leaves.collect { case (v, name) if syms.contains(v) =>
          new HPath(base, name) }
      roots.map(r => new InMemoryFileIndex(spark, Seq(r),
        Map("basePath" -> base.toString), Some(part)))
    }
    spark.baseRelationToDataFrame(HadoopFsRelation(
      ManifestIndex(dirs, part), part, schema, None,
      new ParquetFileFormat, Map.empty)(spark))
  }

  /** The read's schema: every dir's schema ([[AtomicTable.treeSchema]])
    * folded in manifest order on the driver, each column at its first
    * position and its widest recorded type.
    */
  private def scanSchema(entries: Seq[(String, Seq[String])]): StructType = {
    val resolver = spark.sessionState.conf.resolver
    def wider(f: StructField, g: StructField): DataType =
      (f.dataType, g.dataType) match {
        case (a, b) if a == b => a
        case (IntegerType, LongType) | (LongType, IntegerType) => LongType
        case (FloatType, DoubleType) | (DoubleType, FloatType) => DoubleType
        case _ if isPart(f) => StringType
        case (a, b) => throw new IllegalArgumentException(
          s"column ${f.name} of the table at $root is recorded as both " +
            s"${a.simpleString} and ${b.simpleString}; a read can widen " +
            "only int to bigint and float to double")
      }
    StructType(entries.flatMap { case (d, _) =>
      treeSchema(spark, s"$root/$d", partCol)
    }.foldLeft(Vector.empty[StructField]) { (acc, g) =>
      acc.indexWhere(f => resolver(f.name, g.name)) match {
        case -1 => acc :+ g
        case i  => acc.updated(i, acc(i).copy(dataType = wider(acc(i), g)))
      }
    })
  }

  /** Align an (evolved) writer batch against the committed schema:
    * committed columns keep their position — a column the batch does
    * not carry is staged as a typed null — and brand-new batch columns
    * append after. The staged dir then physically carries the evolved
    * schema while [[resolve]] null-fills the old dirs.
    */
  private def evolved(existing: DataFrame, batch: DataFrame): DataFrame = {
    val have = batch.columns.toSet
    val cols = existing.schema.fields.map { f =>
      if (have(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    } ++ batch.columns.filterNot(existing.columns.contains).map(col)
    batch.select(cols.toIndexedSeq: _*)
  }

  private def batchParts(batch: DataFrame): Seq[String] =
    batch.select(col(partCol).cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq

  /** Existing rows pruned to the batch's partitions. */
  def prunedExisting(batch: DataFrame): DataFrame =
    read().filter(
      col(partCol).isin(batchParts(batch).map(partType): _*))

  /** `INSERT OR IGNORE`: append-only commit — a new data dir with the
    * fresh rows joins the manifest; no existing assignment changes.
    * Returns the inserted rowcount (0 for a replayed `txn` batch).
    */
  def insertIgnore(batch: DataFrame,
                   keys: Seq[String] = defaultKeys,
                   txn: Option[(String, Long)] = None): Long = {
    if (alreadyCommitted(txn)) return 0L
    withTinyCommit(Some(batch)) {
    val base = version
    val existing = prunedExisting(batch)
    val fresh = evolved(existing, batch.dropDuplicates(keys)
        .join(existing.select(keys.map(col): _*), keys, "left_anti"))
      .persist()
    // finally: an OCC loss inside the commit must not leak the cached
    // anti-join (a retry loop would otherwise accrete one per attempt)
    try {
      val inserted = fresh.count()
      if (inserted > 0 || txn.nonEmpty) {
        val (entries, st) =
          if (inserted > 0) { val (rel, ps) = stage(fresh)
            (readManifest() :+ (rel -> ps),
              readStats() ++ stagedStats(rel, ps)) }
          else (readManifest(), readStats()) // still commit: the txn
        writeManifest(entries, base, withTxn(txn), // mark must advance
          op = "insert", stats = st)
      }
      inserted
    } finally fresh.unpersist(blocking = false)
    }
  }

  /** Mark-only commit: advance the `txn` (stream, batchId) high-water
    * mark in a fresh manifest version WITHOUT staging any data — the
    * zero-Spark-job equivalent of [[insertIgnore]]/[[init]] with an
    * empty batch (both of which keep every existing entry and stage
    * nothing, but still run the batch's empty plan as real jobs).
    * Fence-advance sites (a delete that killed nothing, a CDC window
    * whose verb had no rows, the sync's master fence) are pure
    * manifest arithmetic; this commits the identical manifest bytes
    * for a handful of file ops. A replayed batch is skipped exactly
    * like everywhere else.
    */
  def commitMarkOnly(txn: (String, Long)): Unit = {
    if (alreadyCommitted(Some(txn))) return
    val base = version
    // first-ever commit on this table: the root dir is normally
    // created by stage()'s parquet write, which this commit skips
    Files.createDirectories(rootFile.toPath)
    writeManifest(readManifest(), base, withTxn(Some(txn)),
      op = if (base == 0L) "init-empty" else "insert",
      stats = readStats())
  }

  /** Blind append: stage `batch` as a new data dir and commit, with the
    * same txn fence but WITHOUT [[insertIgnore]]'s read-back + key
    * anti-join. For writers whose batches are unique by construction —
    * a dedup stream's survivors, a frozen-model index's coded shard —
    * the anti-join would re-scan the accreted table every micro-batch
    * to remove nothing; the (stream, batchId) mark already fences the
    * only duplication source (at-least-once replay of the SAME batch).
    * Callers that can't prove batch-level uniqueness must use
    * [[insertIgnore]].
    */
  def append(batch: DataFrame, txn: Option[(String, Long)] = None): Unit = {
    if (alreadyCommitted(txn)) return
    withTinyCommit(Some(batch)) {
      val base = version
      val (rel, ps) = stage(batch)
      writeManifest(readManifest() :+ (rel -> ps), base, withTxn(txn),
        op = "append", stats = readStats() ++ stagedStats(rel, ps))
    }
  }

  /** Keyed upsert: merge batch into its partitions' current rows, stage
    * the merged partitions as one new dir, commit a manifest where the
    * touched partitions resolve ONLY to the new dir. Untouched
    * partitions' bytes are never read or rewritten. A replayed `txn`
    * batch is a no-op.
    */
  def upsert(batch: DataFrame,
             keys: Seq[String] = defaultKeys,
             txn: Option[(String, Long)] = None): Unit = {
    if (alreadyCommitted(txn)) return
    withTinyCommit(Some(batch)) {
      val base = version
      // one distinct+collect over the batch: the partition list serves
      // both the existing-rows prune and the touched set (computing it
      // twice re-ran the batch subtree — a whole extra Spark job per
      // upsert, and upsert is the hottest commit verb)
      val touched = batchParts(batch).toSet
      val existing = read().filter(
        col(partCol).isin(touched.toSeq.map(partType): _*))
      val merged = Relational.upsert(existing, evolved(existing, batch), keys)
      val (rel, ps) = stage(merged)
      writeManifest(without(readManifest(), touched) :+ (rel -> ps), base,
        withTxn(txn), op = "upsert",
        stats = readStats() ++ stagedStats(rel, ps))
    }
  }

  /** Dynamic partition overwrite: replace the named partitions'
    * content with `rows` in one crash-atomic commit — the touched
    * partitions resolve ONLY to the new dir afterwards, untouched
    * partitions' bytes are never read or rewritten, and the usual txn
    * fence applies. This is the primitive [[upsert]] and [[deleteWhere]]
    * specialize (they compute `rows` from a merge or a filter); it is
    * public because change-feed appliers ([[DerivedTable]]) and
    * backfill jobs already know the exact replacement content and must
    * not pay a second read-modify cycle. Rows outside `parts` are
    * rejected loudly — silently widening an overwrite is how replicas
    * diverge.
    */
  def overwritePartitions(parts: Seq[String], rows: DataFrame,
                          txn: Option[(String, Long)] = None): Unit = {
    if (alreadyCommitted(txn)) return
    require(parts.nonEmpty, "overwritePartitions needs target partitions")
    withTinyCommit(Some(rows)) {
    val base = version
    val stray = batchParts(rows).filterNot(parts.toSet)
    require(stray.isEmpty,
      s"rows carry partitions outside the overwrite set: " +
        s"${stray.mkString(", ")} (widen `parts` explicitly)")
    val (rel, ps) = stage(rows)
    writeManifest(without(readManifest(), parts.toSet) :+ (rel -> ps),
      base, withTxn(txn), op = "overwrite",
      stats = readStats() ++ stagedStats(rel, ps))
    }
  }

  /** Delete matching rows within the named partitions, with the
    * reference's deleted-rowcount contract. Fully-emptied partitions
    * simply leave the manifest — no stale directory, no delete-then-
    * append window.
    */
  def deleteWhere(parts: Seq[String], cond: Column): Long =
    withTinyCommit(None) {
      val base = version
      val touched = read().filter(
        col(partCol).isin(parts.map(partType): _*))
      val matched = coalesce(cond, lit(false))
      val deleted = touched.filter(matched).count()
      if (deleted > 0) {
        val (rel, ps) = stage(touched.filter(!matched))
        writeManifest(without(readManifest(), parts.toSet) :+ (rel -> ps),
          base, readTxns(), op = "delete",
          stats = readStats() ++ stagedStats(rel, ps))
      }
      deleted
    }

  /** Compact the named partitions' fragments (all when empty) into one
    * fresh dir of few, bounded files — same commit protocol, so a crash
    * mid-compaction never loses rows.
    */
  def compact(parts: Seq[String] = Nil,
              maxRecordsPerFile: Long = 1000000L): Unit =
    withTinyCommit(None) {
    val base = version
    val all = read()
    val touched =
      if (parts.isEmpty) all
      else all.filter(col(partCol).isin(parts.map(partType): _*))
    val touchedSet =
      if (parts.nonEmpty) parts.toSet
      else readManifest().flatMap { case (d, syms) =>
        if (syms == Seq(Star)) dirParts(d) else syms
      }.toSet
    val (rel, ps) = stage(touched,
      coalesceTo = math.max(1, spark.sparkContext.defaultParallelism / 2),
      maxRecordsPerFile = maxRecordsPerFile)
    writeManifest(without(readManifest(), touchedSet) :+ (rel -> ps),
      base, readTxns(), op = "compact",
      stats = readStats() ++ stagedStats(rel, ps))
    }

  /** Re-cluster the whole table by [[statsCol]] into `nShards`
    * contiguous key ranges — one staged dir per range, all published in
    * ONE manifest commit (crash-atomic like every other mutation). Zone
    * maps only skip when commit ranges don't overlap; a column
    * uncorrelated with ingest order (every commit spans the full key
    * domain) gets zero skipping until this op sorts the layout, after
    * which a range probe touches ~1/nShards of the data — the
    * `OPTIMIZE ... BY key` of the manifest table formats. Shard bounds
    * come from distributed approximate quantiles (never a single-task
    * sort); bound quality only affects shard BALANCE, never
    * correctness, since each dir's stats are measured from what was
    * actually written. Requires a numeric statsCol; null keys ride the
    * first shard. Bloom sidecars are rebuilt per shard by [[stage]],
    * and the retired dirs fall to [[vacuum]].
    */
  def clusterByStats(nShards: Int,
                     maxRecordsPerFile: Long = 1000000L): Unit = {
    val c = statsCol.getOrElse(sys.error(
      s"clusterByStats requires a statsCol on the table at $root"))
    require(nShards > 1, s"need at least 2 shards, got $nShards")
    withTinyCommit(None) {
    val base = version
    val all = read()
    val probs = (1 until nShards).map(_.toDouble / nShards).toArray
    val bounds = all.stat.approxQuantile(c, probs, 0.001)
    val perShard = math.max(1,
      spark.sparkContext.defaultParallelism / nShards)
    val staged = (0 until nShards).map { i =>
      val loOk = if (i == 0) lit(true) else col(c) >= lit(bounds(i - 1))
      val hiOk = if (i == nShards - 1) lit(true)
                 else col(c) < lit(bounds(i))
      val rows =
        if (i == 0) all.filter((loOk && hiOk) || col(c).isNull)
        else all.filter(loOk && hiOk && col(c).isNotNull)
      stage(rows, coalesceTo = perShard,
        maxRecordsPerFile = maxRecordsPerFile)
    }.filter(_._2.nonEmpty) // skewed bounds can leave a shard empty
    writeManifest(staged, base, readTxns(), op = "cluster",
      stats = staged.flatMap { case (rel, ps) =>
        stagedStats(rel, ps)
      }.toMap)
    }
  }

  /** Reclaim data dirs no retained manifest references (retired by
    * upsert/delete/compact, or orphaned by a pre-commit crash).
    *
    * `retainMs` is the GC grace window: superseded manifests whose
    * file mtime is within the window are RETAINED — their versions
    * stay time-travel-readable and, crucially, a long-running reader
    * that resolved one of them mid-vacuum keeps its data dirs (the
    * standard retention contract of manifest-committed table formats;
    * a snapshot pinned longer than the window is operator error
    * there too). The default (0) retains only the current manifest —
    * run it after readers of old snapshots have drained.
    */
  def vacuum(retainMs: Long = 0L): Unit = {
    val now = System.currentTimeMillis()
    val cutoff = now - retainMs
    val curV = currentManifest.map(_._1).getOrElse(0L)
    val manifests = Option(rootFile.listFiles())
      .getOrElse(Array.empty[java.io.File])
      .flatMap { f =>
        f.getName match {
          case ManifestRe(n) => Some((n.toLong, f))
          case _             => None
        }
      }
    val retained = manifests.filter { case (v, f) =>
      v == curV || (retainMs > 0L && f.lastModified() >= cutoff)
    }
    val live = retained
      .flatMap { case (_, f) => parseManifest(f) }
      .map(_._1.stripPrefix("data/")).toSet
    // drop expired manifests and any temp manifest a pre-commit crash
    // left behind — BEFORE touching any data dir, so a crash mid-vacuum
    // leaves orphan dirs (cleaned by the next vacuum), never a manifest
    // pointing at reclaimed data. Temp manifests are AGE-GATED: a fresh
    // one may belong to a writer currently between its write and its
    // link-publish — deleting it would turn that commit into a
    // NoSuchFileException instead of a clean OCC retry
    val tmpCutoff = now - 60 * 60 * 1000L
    val keep = retained.map(_._1).toSet
    Option(rootFile.listFiles()).getOrElse(Array.empty[java.io.File])
      .foreach { f =>
        f.getName match {
          case ManifestRe(n) if !keep.contains(n.toLong) => f.delete()
          case n if n.startsWith(".manifest-tmp-")
              && f.lastModified() < tmpCutoff            => f.delete()
          case _                                         => ()
        }
      }
    // reclaim each dead dir by an ATOMIC rename to a tombstone, then
    // delete the tombstone: the dir disappears from its manifest path
    // in one step, so no reader (and no crash window) can ever observe
    // a half-deleted dir as a silent partial corpus. Tombstones from a
    // previously crashed vacuum sweep here too.
    val dataRoot = new java.io.File(s"$root/data")
    Option(dataRoot.listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory &&
        (f.getName.startsWith(".vacuum-tmp-") || !live.contains(f.getName)))
      .foreach { f =>
        val tomb =
          if (f.getName.startsWith(".vacuum-tmp-")) f
          else {
            val t = new java.io.File(dataRoot, s".vacuum-tmp-${f.getName}")
            if (f.renameTo(t)) t else f // rename refused: delete in place
          }
        AtomicTable.deleteRecursively(tomb)
      }
  }
}

object AtomicTable {
  private val ManifestRe = "manifest-(\\d{12})\\.txt".r
  private val Star = "*"
  private val TxnPrefix = "#txn"
  private val OpPrefix = "#op"
  private val StatsPrefix = "#minmax"
  private val BloomK = 7
  private val SchemaFile = "_schema"

  /** Filter size for an n-key commit: next power of two of ~10 bits
    * per key (k=7 → ~1% FPR), clamped to [2^14, 2^22] — at the cap a
    * sidecar is 512 KiB against a multi-million-row commit, and a
    * higher FPR only under-skips.
    */
  private def bloomBitsFor(n: Long): Long = {
    val want = math.min(math.max(n * 10L, 1L << 14), 1L << 22)
    java.lang.Long.highestOneBit(want - 1) << 1
  }

  /** Order two recorded zone-map bounds: numerically when both ends
    * parse as numbers (ints, longs, doubles of either sign),
    * lexicographically otherwise (ISO date/timestamp strings order
    * correctly that way; mixed-type comparisons are the caller
    * declaring a statsCol whose string form doesn't order — a table
    * definition bug, not a runtime one).
    */
  private def statsCmp(a: String, b: String): Int = {
    def num(s: String): Option[BigDecimal] =
      try Some(BigDecimal(s)) catch { case _: NumberFormatException => None }
    (num(a), num(b)) match {
      case (Some(x), Some(y)) => x.compare(y)
      case _                  => a.compareTo(b)
    }
  }

  /** Re-run `op` after an optimistic-concurrency loss, up to `attempts`
    * total tries. Safe for ANY manifest mutation: a losing attempt
    * published nothing (the hard-link commit is all-or-nothing), its
    * staged dir is an unreferenced orphan [[AtomicTable.vacuum]]
    * reclaims, and the retry re-reads the winner's version before
    * reapplying — the standard OCC loop. Maintenance jobs (compaction
    * racing a live append) want this; single-writer streams never
    * conflict and don't need it.
    */
  def retryOnConflict[A](attempts: Int = 3)(op: => A): A = {
    var left = math.max(1, attempts)
    while (true) {
      try return op
      catch {
        case e: java.util.ConcurrentModificationException =>
          left -= 1
          if (left == 0) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Record `schema`, the full written schema, as the `_schema`
    * sidecar of the parquet tree at `dir`: a table's staged data dirs
    * and the IVFPQ index base trees.
    */
  private[sources] def recordSchema(dir: String, schema: StructType): Unit =
    Files.writeString(Path.of(dir, SchemaFile), schema.json)

  /** The schema of the `partitionBy(partCol)` parquet tree at `dir`:
    * data columns then `partCol`, nullable as a parquet read is. It is
    * the tree's `_schema` sidecar when that records `partCol`, which
    * costs no Spark job. A tree written before sidecars (or before they
    * recorded `partCol`) pays one footer-inference job — its sidecar's
    * data columns stand in for the footers when it has one — and takes
    * the partition type from its directory names.
    */
  private def treeSchema(spark: SparkSession, dir: String,
                         partCol: String): StructType = {
    val isPart = (f: StructField) =>
      spark.sessionState.conf.resolver(f.name, partCol)
    val sidecar = Path.of(dir, SchemaFile)
    val recorded =
      if (!Files.isRegularFile(sidecar)) None
      else Some(DataType.fromJson(Files.readString(sidecar))
        .asInstanceOf[StructType])
    val s = recorded.filter(_.exists(isPart)).getOrElse(
      recorded.fold(spark.read)(r => spark.read.schema(r))
        .parquet(dir).schema)
    StructType((s.filterNot(isPart) ++ s.filter(isPart)).map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
  }

  /** The `partitionBy(partCol)` parquet tree at `dir` (an IVFPQ index
    * base tree), read under its [[treeSchema]].
    */
  private[sources] def readRecorded(spark: SparkSession, dir: String,
                                    partCol: String): DataFrame =
    spark.read.schema(treeSchema(spark, dir, partCol)).parquet(dir)

  /** `t` with every nested field, element and value nullable — the
    * schema a parquet read reports whatever the writer declared.
    */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f =>
        f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType =>
      ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(nullable(m.keyType), nullable(m.valueType),
        valueContainsNull = true)
    case other => other
  }

  /** A table read's file index: one single-root [[InMemoryFileIndex]]
    * per data dir (or per assigned partition dir of a narrowed entry),
    * each listed serially on the driver, their files concatenated into
    * one scan. A case class so two reads of the same manifest compare
    * equal, as the cache manager's plan matching needs.
    */
  private final case class ManifestIndex(dirs: Seq[InMemoryFileIndex],
                                         partitionSchema: StructType)
      extends FileIndex {
    def rootPaths: Seq[HPath] = dirs.flatMap(_.rootPaths)
    def listFiles(partitionFilters: Seq[Expression],
                  dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      dirs.flatMap(_.listFiles(partitionFilters, dataFilters))
    def inputFiles: Array[String] = dirs.flatMap(_.inputFiles).toArray
    def refresh(): Unit = dirs.foreach(_.refresh())
    def sizeInBytes: Long = dirs.map(_.sizeInBytes).sum
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
        .foreach(deleteRecursively)
    f.delete()
  }
}

/** The curated-documents corpus as an [[AtomicTable]]: partitioned by
  * `source` (crawl provenance — the partition a curation batch
  * naturally touches), keyed by `doc_id`. Gives the documents corpus
  * the same fully-old-or-fully-new commit, time travel, and OCC that
  * prices already had, plus exactly-once streaming commits via the
  * `txn` marks.
  */
object DocTable {
  def apply(spark: SparkSession, root: String,
            failpoint: String => Unit = _ => ()): AtomicTable =
    AtomicTable(spark, root, partCol = "source",
      defaultKeys = Seq("doc_id"), failpoint = failpoint)
}
