package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Warehouse

/** Physical layout: symbol partition pruning and bucketed shuffle-free
  * joins, asserted on the actual physical plans.
  */
class WarehouseSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("PriceTable: atomic upsert/delete — crash before commit reads fully-old") {
    val root = Files.createTempDirectory("graft_wh_atomic").toString
    val t0 = ts("2024-01-01 10:00:00")
    val seed = Seq(
      (1L, "EURUSD", 1.08, t0, "src0"),
      (2L, "EURUSD", 1.09, ts("2024-01-01 11:00:00"), "src0"),
      (3L, "GBPUSD", 1.27, t0, "src0"),
      (4L, "AAPL", 190.0, t0, "src0"))
      .toDF("id", "symbol", "price", "as_of", "source")
    val tbl = graft.sources.PriceTable(spark, root)
    tbl.init(seed)
    val before = tbl.read().orderBy("id").collect().toSeq

    // inject a crash between the staged data write and the manifest
    // rename: every mutation must leave the committed snapshot intact
    val crashing = graft.sources.PriceTable(spark, root,
      failpoint = p => if (p == "pre-commit") sys.error("injected crash"))
    val batch = Seq((5L, "EURUSD", 2.00, t0, "src0"))
      .toDF("id", "symbol", "price", "as_of", "source")
    intercept[RuntimeException] { crashing.upsert(batch) }
    assert(tbl.read().orderBy("id").collect().toSeq === before,
      "crashed upsert must read fully-old")
    intercept[RuntimeException] {
      crashing.deleteWhere(Seq("GBPUSD"), $"symbol" === "GBPUSD")
    }
    assert(tbl.read().orderBy("id").collect().toSeq === before,
      "crashed delete must read fully-old")
    intercept[RuntimeException] { crashing.compact() }
    assert(tbl.read().orderBy("id").collect().toSeq === before,
      "crashed compact must read fully-old")

    // the same mutations without the failpoint commit atomically
    tbl.upsert(batch)
    val afterUpsert = tbl.read()
    assert(afterUpsert.count() === 4)
    // the upsert narrowed the seed dir to its untouched symbols
    TableProbes.assertReadsAsInferred(tbl)
    assert(afterUpsert.filter($"symbol" === "EURUSD" && $"as_of" === t0)
      .select("price").as[Double].collect().toSeq === Seq(2.00))
    assert(tbl.deleteWhere(Seq("GBPUSD"), $"symbol" === "GBPUSD") === 1)
    assert(tbl.read().select("id").as[Long].collect().sorted.toSeq ===
      Seq(2L, 4L, 5L))
    // vacuum reclaims retired + orphaned (crash-staged) dirs; snapshot
    // unchanged
    val snap = tbl.read().orderBy("id").collect().toSeq
    tbl.vacuum()
    assert(tbl.read().orderBy("id").collect().toSeq === snap)
  }

  test("PriceTable: time travel + optimistic concurrency") {
    val root = Files.createTempDirectory("graft_wh_tt").toString
    val t0 = ts("2024-01-01 10:00:00")
    val seed = Seq(
      (1L, "EURUSD", 1.08, t0, "src0"),
      (2L, "GBPUSD", 1.27, t0, "src0"))
      .toDF("id", "symbol", "price", "as_of", "source")
    val tbl = graft.sources.PriceTable(spark, root)
    tbl.init(seed)
    tbl.upsert(Seq((1L, "EURUSD", 2.00, t0, "src0"))
      .toDF("id", "symbol", "price", "as_of", "source"))
    assert(tbl.versions === Seq(1L, 2L))
    // every un-vacuumed version reconstructs exactly
    assert(tbl.readVersion(1)
      .filter($"symbol" === "EURUSD").select("price")
      .as[Double].collect().toSeq === Seq(1.08))
    assert(tbl.read()
      .filter($"symbol" === "EURUSD").select("price")
      .as[Double].collect().toSeq === Seq(2.00))

    // optimistic concurrency: writer B commits between writer A's
    // base read and A's publish (simulated inside A's failpoint) —
    // A must fail with ConcurrentModificationException, NOT silently
    // clobber B's commit
    var raced = false
    val racing = graft.sources.PriceTable(spark, root, failpoint = p =>
      if (p == "pre-commit" && !raced) {
        raced = true
        graft.sources.PriceTable(spark, root).upsert(
          Seq((2L, "GBPUSD", 9.99, t0, "src0"))
            .toDF("id", "symbol", "price", "as_of", "source"))
      })
    intercept[java.util.ConcurrentModificationException] {
      racing.upsert(Seq((1L, "EURUSD", 3.00, t0, "src0"))
        .toDF("id", "symbol", "price", "as_of", "source"))
    }
    // B's commit is the surviving head; A's update is absent
    assert(tbl.read().orderBy("symbol").select("price")
      .as[Double].collect().toSeq === Seq(2.00, 9.99))

    // vacuum retires history: only the head remains readable
    val head = tbl.version
    tbl.vacuum()
    assert(tbl.versions === Seq(head))
    intercept[RuntimeException] { tbl.readVersion(1) }
    assert(tbl.read().orderBy("symbol").select("price")
      .as[Double].collect().toSeq === Seq(2.00, 9.99))
  }

  test("vacuum × time travel: historical reads are whole-or-error — " +
    "a reclaimed dir fails fast, never a partial corpus") {
    val root = Files.createTempDirectory("graft_wh_wov").toString
    val t0 = ts("2024-01-01 10:00:00")
    val tbl = graft.sources.PriceTable(spark, root)
    tbl.init(Seq(
      (1L, "EURUSD", 1.08, t0, "src0"),
      (2L, "GBPUSD", 1.27, t0, "src0"))
      .toDF("id", "symbol", "price", "as_of", "source"))
    val dirsV1 = Option(new java.io.File(s"$root/data").listFiles())
      .get.filter(_.isDirectory).map(_.getName).toSet
    tbl.compact() // head references only the rewritten dir
    // damage v1's dirs OUT-OF-BAND (external damage / pre-fix layout —
    // vacuum itself drops the manifest before the dirs and renames each
    // dir away atomically, so it can no longer produce this state)
    def rmrf(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
        .foreach(rmrf)
      f.delete()
    }
    dirsV1.foreach(d => rmrf(new java.io.File(s"$root/data/$d")))
    // the v1 manifest is still on disk, but the read must REFUSE with a
    // retention error, not silently return whatever files remain
    val err =
      intercept[IllegalArgumentException](tbl.readVersion(1L).collect())
    assert(err.getMessage.contains("whole-or-error"))
    val err2 = intercept[IllegalArgumentException](
      tbl.changesBetween(1L, tbl.version))
    assert(err2.getMessage.contains("whole-or-error"))
    // the head snapshot is untouched by the historical damage
    assert(tbl.read().orderBy("id").select("price").as[Double]
      .collect().toSeq === Seq(1.08, 1.27))
    // a tombstone left by a crashed vacuum sweeps on the next run
    assert(new java.io.File(s"$root/data/.vacuum-tmp-zzz").mkdirs())
    tbl.vacuum()
    assert(!new java.io.File(s"$root/data/.vacuum-tmp-zzz").exists())
    // post-vacuum the version is gone manifest-and-all: the clean
    // retention error, and the head still reads exactly
    intercept[RuntimeException](tbl.readVersion(1L))
    assert(tbl.read().orderBy("id").select("price").as[Double]
      .collect().toSeq === Seq(1.08, 1.27))
  }

  test("PriceTable: reads prune partitions; insertIgnore appends a dir") {
    val root = Files.createTempDirectory("graft_wh_atomic2").toString
    val t0 = ts("2024-01-01 10:00:00")
    val tbl = graft.sources.PriceTable(spark, root)
    tbl.init(Seq(
      (1L, "EURUSD", 1.08, t0, "src0"),
      (2L, "AAPL", 190.0, t0, "src0"))
      .toDF("id", "symbol", "price", "as_of", "source"))
    assert(tbl.insertIgnore(Seq(
      (9L, "EURUSD", 9.99, t0, "src0"), // dup key ignored
      (3L, "GBPUSD", 1.27, t0, "src0"))
      .toDF("id", "symbol", "price", "as_of", "source")) === 1)
    assert(tbl.read().count() === 3)
    // partition pruning survives the manifest indirection: a filtered
    // read plans PartitionFilters, not a full scan
    val q = tbl.read().filter($"symbol" === "EURUSD")
    assert(q.queryExecution.executedPlan.toString
      .contains("PartitionFilters"))
    assert(q.count() === 1)
    // the merge side of a mutation scans only the batch's partitions:
    // prunedExisting plans PartitionFilters on the batch's symbols
    val pruned = tbl.prunedExisting(Seq(
      (5L, "EURUSD", 1.09, t0, "src1"),
      (6L, "GBPUSD", 1.28, t0, "src1"))
      .toDF("id", "symbol", "price", "as_of", "source"))
    val prunedPlan = pruned.queryExecution.executedPlan
    assert(prunedPlan.toString.contains("PartitionFilters"), prunedPlan)
    val scans = prunedPlan.collectLeaves().map(_.toString).mkString("\n")
    assert(scans.contains("EURUSD") && scans.contains("GBPUSD"), scans)
    assert(pruned.count() === 2)
    // upsert leaves untouched partitions' files byte-identical
    val dataRoot = new java.io.File(s"$root/data")
    def aaplFiles = dataRoot.listFiles().flatMap(d =>
      Option(new java.io.File(d, "symbol=AAPL").listFiles()).getOrElse(
        Array.empty[java.io.File])).map(f => f.getPath -> f.lastModified)
      .toMap
    val before = aaplFiles
    tbl.upsert(Seq((4L, "EURUSD", 2.0, t0, "src0"))
      .toDF("id", "symbol", "price", "as_of", "source"))
    assert(aaplFiles === before)
    assert(tbl.version === 3L)
    TableProbes.assertReadsAsInferred(tbl)
  }

  test("reads plan from the _schema sidecars: no Spark job before the " +
    "action, at 1 data dir and at 20") {
    import graft.sources.AtomicTable
    val root = Files.createTempDirectory("graft_schema_sidecar").toString
    val tbl = AtomicTable(spark, s"$root/t", partCol = "part",
      defaultKeys = Seq("id"))
    def rows(lo: Int) = (lo until lo + 5)
      .map(i => (i.toLong, s"p${i % 3}", i * 1.5))
    def check(dirs: Int, want: Seq[(Long, String, Double)]) = {
      val (df, jobs) = TableProbes.jobsDuring(spark)(tbl.read())
      assert(jobs === 0, s"read() planned with $jobs jobs over $dirs dirs")
      // one parquet scan whatever the dir count, its files packed into
      // about defaultParallelism tasks rather than one task per file
      assert(TableProbes.scans(df).size === 1)
      val parallelism = spark.sparkContext.defaultParallelism
      assert(df.rdd.getNumPartitions <= 2 * parallelism,
        s"${df.rdd.getNumPartitions} partitions over $dirs dirs")
      assert(df.select("id", "part", "x").as[(Long, String, Double)]
        .collect().sorted.toSeq === want.sorted)
      df
    }
    def all(dirs: Int) = (0 until dirs).flatMap(i => rows(5 * i))
    tbl.init(rows(0).toDF("id", "part", "x"))
    assert(tbl.dataDirCount === 1)
    check(1, all(1))
    (1 until 20).foreach(i => tbl.append(rows(5 * i).toDF("id", "part", "x")))
    assert(tbl.dataDirCount === 20)
    check(20, all(20))
    // an upsert narrows all 20 entries to p1/p2: still one scan, and a
    // partCol predicate still prunes partitions
    tbl.upsert(Seq((0L, "p0", -1.0)).toDF("id", "part", "x"))
    val upserted = all(20).map {
      case (0L, p, _) => (0L, p, -1.0)
      case r          => r
    }
    val df = check(21, upserted)
    val p1 = df.filter($"part" === "p1")
    val scan = TableProbes.scans(p1)
    assert(scan.size === 1 && scan.head.partitionFilters.nonEmpty,
      p1.queryExecution.executedPlan)
    assert(p1.select("id", "part", "x").as[(Long, String, Double)]
      .collect().sorted.toSeq === upserted.filter(_._2 == "p1").sorted)
  }

  test("PriceTable: numeric-looking symbols keep their written string " +
    "type; a later non-numeric symbol still commits") {
    val root = Files.createTempDirectory("graft_wh_numsym").toString
    val t0 = ts("2024-01-01 10:00:00")
    val tbl = graft.sources.PriceTable(spark, root)
    tbl.init(Seq(
      (1L, "0700", 320.0, t0, "src0"),
      (2L, "7203", 2500.0, t0, "src0"))
      .toDF("id", "symbol", "price", "as_of", "source"))
    assert(tbl.read().schema("symbol").dataType ===
      org.apache.spark.sql.types.StringType)
    assert(tbl.read().select("symbol").as[String].collect().sorted.toSeq ===
      Seq("0700", "7203"))
    assert(tbl.insertIgnore(Seq((3L, "AAPL", 190.0, t0, "src0"))
      .toDF("id", "symbol", "price", "as_of", "source")) === 1)
    assert(tbl.read().select("id", "symbol").as[(Long, String)]
      .collect().sorted.toSeq ===
      Seq((1L, "0700"), (2L, "7203"), (3L, "AAPL")))
  }

  test("PriceTable: path-escaped symbols (BRK/B) round-trip every mutation") {
    // '/' is Hive-escaped in partition paths (symbol=BRK%2FB); manifest
    // bookkeeping must speak RAW values or escaped symbols silently
    // vanish from reads and dodge retirement on upsert
    val root = Files.createTempDirectory("graft_wh_esc").toString
    val t0 = ts("2024-01-01 10:00:00")
    val tbl = graft.sources.PriceTable(spark, root)
    tbl.init(Seq(
      (1L, "BRK/B", 410.0, t0, "src0"),
      (2L, "AAPL", 190.0, t0, "src0"))
      .toDF("id", "symbol", "price", "as_of", "source"))
    assert(tbl.read().filter($"symbol" === "BRK/B").count() === 1)
    tbl.upsert(Seq((3L, "BRK/B", 420.0, t0, "src0"))
      .toDF("id", "symbol", "price", "as_of", "source"))
    val after = tbl.read()
    assert(after.count() === 2) // id=1 retired, not duplicated
    assert(after.filter($"symbol" === "BRK/B")
      .select("price").as[Double].collect().toSeq === Seq(420.0))
    assert(tbl.deleteWhere(Seq("BRK/B"), $"symbol" === "BRK/B") === 1)
    assert(tbl.read().select("symbol").as[String].collect().toSeq ===
      Seq("AAPL"))
  }

  test("persisted IVFPQ index serves the inline composition's answer, pruned") {
    import graft.pipelines.Similarity
    val root = Files.createTempDirectory("graft_pq_idx").toString
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    val cents = Similarity.seedCentroids(8, 64)
    val cb = Similarity.pqSeedCodebooks(8, 16, 8)
    Warehouse.writePqIndex(emb, root, k = 8, dim = 64, m = 8, ks = 16,
      centroids = Some(cents), codebooks = Some(cb))
    // round-trip: codebooks and centroids parse back bit-identically
    assert(Warehouse.readPqCodebooks(root).map(_.toSeq.map(_.toSeq)).toSeq
      === cb.map(_.toSeq.map(_.toSeq)).toSeq)
    val q = emb.filter($"vec_id" === 3).select("embedding")
      .collect()(0).getSeq[Float](0).map(_.toDouble).toArray
    val served = Warehouse.ivfPqServe(spark, root, q, topK = 5,
      nprobe = 2, cand = 20)
    // equality with the inline path over the same pruned cells
    val probes = Similarity.probeCellsAt(q, cents, 2)
    val pruned = Warehouse.readEmbeddingsByCell(spark, root)
      .filter($"cell".isin(probes: _*))
    val queries = emb.filter($"vec_id" === 3)
      .select($"vec_id".as("q_id"), $"embedding".as("qv"))
    val inline = Similarity.batchPqTopKRerank(pruned, "vec_id",
        "embedding", queries, "q_id", "qv", k = 5, cand = 20, cb = cb)
      .select("vec_id", "cosine")
    assert(served.orderBy($"cosine".desc, $"vec_id")
        .as[(Long, Double)].collect().toSeq
      === inline.orderBy($"cosine".desc, $"vec_id")
        .as[(Long, Double)].collect().toSeq)
    // both serving scans prune to the probed cells
    val codesPlan = Warehouse.readPqCodes(spark, root)
      .filter($"cell".isin(probes: _*))
      .queryExecution.executedPlan.toString
    assert(codesPlan.contains("PartitionFilters"), codesPlan)
    val vecPlan = pruned.queryExecution.executedPlan.toString
    assert(vecPlan.contains("PartitionFilters"), vecPlan)
    // the ADC select path never touches the raw vector column: the
    // codes table simply does not carry it
    assert(!Warehouse.readPqCodes(spark, root).columns
      .contains("embedding"))
  }

  test("index tombstones: deleted ids vanish from serve, deletes are " +
    "idempotent, re-appends and sweeps cannot resurrect them") {
    import graft.pipelines.Similarity
    val root = Files.createTempDirectory("graft_pq_del").toString
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    val cents = Similarity.seedCentroids(8, 64)
    val cb = Similarity.pqSeedCodebooks(8, 16, 8)
    Warehouse.writePqIndex(emb, root, k = 8, dim = 64, m = 8, ks = 16,
      centroids = Some(cents), codebooks = Some(cb))
    val q = emb.filter($"vec_id" === 3).select("embedding")
      .collect()(0).getSeq[Float](0).map(_.toDouble).toArray
    def serve() = Warehouse
      .ivfPqServe(spark, root, q, topK = 5, nprobe = 2, cand = 20)
      .orderBy($"cosine".desc, $"vec_id")
      .as[(Long, Double)].collect().toSeq
    val before = serve()
    assert(before.head._1 === 3L, "the query's own row tops the serve")
    // tombstone the current top-2; one tiny manifest commit, no file
    // of the base index changes
    val doomed = before.take(2).map(_._1)
    assert(Warehouse.deleteFromPqIndex(spark, root, doomed) === 2L)
    assert(Warehouse.deleteFromPqIndex(spark, root, doomed) === 0L,
      "repeat delete is a no-op")
    assert(Warehouse.deleteFromPqIndex(spark, root, Seq(999999L)) === 0L,
      "deleting an id the index does not hold is a no-op")
    val after = serve()
    assert(after.map(_._1).intersect(doomed).isEmpty,
      "tombstoned ids must vanish from candidate selection and rerank")
    // the surviving pre-delete answers keep their scores and order
    assert(after.take(3) ===
      before.filterNot(r => doomed.contains(r._1)))
    // re-appending a tombstoned id does NOT resurrect it
    Warehouse.writePqDelta(emb.filter($"vec_id" === 3), root,
      batchId = 7L)
    assert(!serve().map(_._1).contains(3L),
      "the tombstone outranks a later append until the rebuild")
    // rebuild-flip × sweep: simulate a rebuild that (correctly)
    // excluded the dead rows, flip CURRENT, and prove the sweep does
    // not fold the tombstoned delta row forward as "stranded"
    val live = Warehouse.readEmbeddingsByCellLive(spark, root)
      .drop("cell")
    java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(s"$root/v1"))
    Warehouse.writePqIndex(live, s"$root/v1", k = 8, dim = 64, m = 8,
      ks = 16, centroids = Some(cents), codebooks = Some(cb))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/CURRENT"), "v1")
    assert(Warehouse.sweepSupersededIndexDeltas(spark, root) === 0L,
      "a tombstoned late shard row is dead by design, not stranded")
    val rebuilt = serve()
    assert(rebuilt.map(_._1).intersect(doomed).isEmpty &&
      !rebuilt.map(_._1).contains(3L))
    // the new version is physically clean: no tombstones to consult
    assert(!Warehouse.pqTombstoneTable(spark, root).hasData)
    graft.Caches.releaseAll()
  }

  test("index updates: atomic flip (whole-old under any crash, replay " +
    "heals to whole-new), chained last-write-wins, takedown still wins") {
    import graft.pipelines.Similarity
    val root = Files.createTempDirectory("graft_pq_upd").toString
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    Warehouse.writePqIndex(emb, root, k = 8, dim = 64, m = 8, ks = 16,
      centroids = Some(Similarity.seedCentroids(8, 64)),
      codebooks = Some(Similarity.pqSeedCodebooks(8, 16, 8)))
    val q = emb.filter($"vec_id" === 3).select("embedding")
      .collect()(0).getSeq[Float](0).map(_.toDouble).toArray
    def serve() = Warehouse
      .ivfPqServe(spark, root, q, topK = 5, nprobe = 2, cand = 20)
      .orderBy($"cosine".desc, $"vec_id")
      .as[(Long, Double)].collect().toSeq
    val before = serve()
    assert(before.head._1 === 3L)
    // update id 3 to its REVERSED vector: exactly one live copy, the
    // new one; the serve no longer scores 3 at cosine 1
    val upd = emb.filter($"vec_id" === 3)
      .withColumn("embedding", reverse($"embedding"))
    assert(Warehouse.updateInPqIndex(spark, root, upd) === 1L)
    val liveRows = Warehouse.readEmbeddingsByCellLive(spark, root)
      .filter($"vec_id" === 3).collect()
    assert(liveRows.length === 1, "one live copy after update")
    assert(serve() !== before, "the update must be visible at serve")
    // chained update writes the ORIGINAL back: last write wins and the
    // serve returns bit-exactly the pre-update answer
    assert(Warehouse.updateInPqIndex(spark, root,
      emb.filter($"vec_id" === 3)) === 1L)
    assert(serve() === before, "second update restores the original")
    // crash atomicity at both failpoints: the landed-but-unflipped
    // state serves WHOLE-OLD; a same-txn replay completes the flip
    Seq("update_between_emb_codes", "update_before_flip")
      .zipWithIndex.foreach { case (fp, i) =>
        val txn = Some(("upd_crash", 10L + i))
        intercept[RuntimeException] {
          Warehouse.updateInPqIndex(spark, root, upd, txn = txn,
            failpoint = p => if (p == fp) sys.error(s"crash at $p"))
        }
        assert(serve() === before,
          s"crash at $fp must leave whole-old at serve")
        assert(Warehouse.updateInPqIndex(spark, root, upd,
          txn = txn) === 1L)
        assert(serve() !== before, s"replay after $fp lands whole-new")
        assert(Warehouse.readEmbeddingsByCellLive(spark, root)
          .filter($"vec_id" === 3).count() === 1L,
          "never a doubled or vanished row")
        // restore for the next loop iteration
        assert(Warehouse.updateInPqIndex(spark, root,
          emb.filter($"vec_id" === 3)) === 1L)
      }
    // a replayed txn whose flip already committed is recognized
    assert(Warehouse.updateInPqIndex(spark, root, upd,
      txn = Some(("upd_crash", 11L))) === 0L)
    // NON-TXN crash replay converges too: the re-run re-derives the
    // same _seq (the stranded row is invisible), and without the
    // (id, _seq) landing dedup it would append a SECOND copy that the
    // eventual flip enables alongside the first — a doubled id at serve
    Seq("update_between_emb_codes", "update_before_flip").foreach { fp =>
      intercept[RuntimeException] {
        Warehouse.updateInPqIndex(spark, root, upd,
          failpoint = p => if (p == fp) sys.error(s"crash at $p"))
      }
      assert(serve() === before,
        s"non-txn crash at $fp must leave whole-old at serve")
      assert(Warehouse.updateInPqIndex(spark, root, upd) === 1L)
      assert(serve() !== before, s"non-txn replay after $fp completes")
      assert(Warehouse.readEmbeddingsByCellLive(spark, root)
        .filter($"vec_id" === 3).count() === 1L,
        "a non-txn replay must never double the id")
      // restore for the next iteration / the takedown stanza below
      assert(Warehouse.updateInPqIndex(spark, root,
        emb.filter($"vec_id" === 3)) === 1L)
    }
    // takedown-wins: a deleted id rejects updates (count excludes it,
    // nothing resurrects), and an update never lowers the takedown
    assert(Warehouse.deleteFromPqIndex(spark, root, Seq(3L)) === 1L)
    assert(Warehouse.updateInPqIndex(spark, root, upd) === 0L)
    assert(!serve().map(_._1).contains(3L),
      "update after takedown must not resurrect")
    // updating an id the index does not hold INSERTS it
    val fresh = emb.filter($"vec_id" === 5)
      .withColumn("vec_id", lit(424242L))
    assert(Warehouse.updateInPqIndex(spark, root, fresh) === 1L)
    assert(Warehouse.readPqCodesLive(spark, root)
      .filter($"vec_id" === 424242L).count() === 1L)
    // CELL-MIGRATING update: the mark table is cell-partitioned and a
    // mark's cell follows the vector, so an update that moves an id to
    // a different IVF cell leaves marks in TWO cells — the per-id max
    // in tombstoneMarks must resolve them (caught by review: the
    // partition-scoped upsert alone left the superseded copy live)
    val cents = Similarity.seedCentroids(8, 64)
    val cellOf = Similarity.ivfCellAtNative($"embedding", cents)
    val mover = emb
      .withColumn("_c0", cellOf)
      .withColumn("_c1", Similarity.ivfCellAtNative(
        reverse($"embedding"), cents))
      .filter($"_c0" =!= $"_c1")
      .filter($"vec_id" =!= 3L && $"vec_id" =!= 424242L)
      .orderBy($"vec_id").select("vec_id").as[Long].head()
    val mUpd = emb.filter($"vec_id" === mover)
      .withColumn("embedding", reverse($"embedding"))
    assert(Warehouse.updateInPqIndex(spark, root, mUpd) === 1L)
    assert(Warehouse.updateInPqIndex(spark, root,
      emb.filter($"vec_id" === mover)) === 1L)
    val moverLive = Warehouse.readEmbeddingsByCellLive(spark, root)
      .filter($"vec_id" === mover)
      .select("embedding").collect()
    assert(moverLive.length === 1,
      "chained cell-migrating update must leave exactly ONE live copy")
    assert(moverLive(0).getSeq[Float](0) ===
      emb.filter($"vec_id" === mover).select("embedding")
        .collect()(0).getSeq[Float](0),
      "and it must be the LAST write's vector")
    // takedown of an id whose marks span cells kills every copy
    assert(Warehouse.deleteFromPqIndex(spark, root, Seq(mover)) === 1L)
    assert(Warehouse.readEmbeddingsByCellLive(spark, root)
      .filter($"vec_id" === mover).isEmpty,
      "takedown must kill an updated id across ALL its mark cells")
    graft.Caches.releaseAll()
  }

  test("importSnapshot: fingerprint-verified restore equals the pinned " +
    "version; tampering refuses whole-or-nothing; re-import no-ops") {
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
    val srcRoot = Files.createTempDirectory("graft_imp_src").toString
    val out = Files.createTempDirectory("graft_imp_out").toString
    val tbl = graft.sources.DocTable(spark, srcRoot)
    tbl.init(docs.filter($"doc_id" % 3 =!= 0))
    TableProbes.assertReadsAsInferred(tbl)
    val canon = graft.functions.MarketFunctions.md5Hash60(
      concat(lit("fp#"), $"doc_id".cast("string"), lit("#"),
        $"lang", lit("#"), $"text"))
    // a hostile salt exercises the JSON escaper (quote + backslash);
    // '#' is refused outright — it would make the shard hash ambiguous
    intercept[IllegalArgumentException] {
      Warehouse.exportSnapshot(spark, tbl, 1L, out, 4, "a#b",
        "doc_id", canon)
    }
    Warehouse.exportSnapshot(spark, tbl, 1L, out, shards = 4,
      salt = "we\"ird\\salt", idCol = "doc_id", canon = canon)
    val prov = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/_PROVENANCE.json"))
    assert(prov.contains("we\\\"ird\\\\salt"),
      "provenance header must escape quotes and backslashes")
    // restore into a fresh root: row-for-row equal to readVersion(1)
    val dest = graft.sources.DocTable(spark,
      Files.createTempDirectory("graft_imp_dst").toString)
    val n = Warehouse.importSnapshot(spark, out, dest, docs.schema,
      canon)
    assert(n === tbl.readVersion(1L).count())
    val want = tbl.readVersion(1L).select(docs.columns.map(col): _*)
      .orderBy("doc_id").collect().toSeq
    assert(dest.read().select(docs.columns.map(col): _*)
      .orderBy("doc_id").collect().toSeq === want)
    // idempotent: the second import verifies the restored table and
    // no-ops (same count, no new version)
    val v = dest.version
    assert(Warehouse.importSnapshot(spark, out, dest, docs.schema,
      canon) === n)
    assert(dest.version === v)
    // a diverged destination refuses
    dest.append(docs.filter($"doc_id" % 3 === 0).limit(1))
    intercept[IllegalStateException] {
      Warehouse.importSnapshot(spark, out, dest, docs.schema, canon)
    }
    // tamper ONE row in one shard file: the import must refuse before
    // committing anything
    val shardFile = java.nio.file.Files.walk(
        java.nio.file.Paths.get(out))
      .filter(p => p.getFileName.toString.startsWith("part-") &&
        p.toString.contains("shard="))
      .findFirst().get()
    // length-preserving tamper (one character of one lang value):
    // the JSON stays valid and file sizes don't shift, so only the
    // fingerprint check can catch it — exactly the attack it is for
    val txt = java.nio.file.Files.readString(shardFile)
    java.nio.file.Files.writeString(shardFile,
      txt.replaceFirst("(\"lang\":\")[a-z]", "$1Z"))
    // a real tamperer fixes the transport-level evidence: drop the
    // hadoop .crc sidecar and the cached listing, so ONLY the content
    // fingerprint can catch the flip
    java.nio.file.Files.deleteIfExists(shardFile.resolveSibling(
      "." + shardFile.getFileName.toString + ".crc"))
    spark.catalog.refreshByPath(out)
    val dest2root = Files.createTempDirectory("graft_imp_dst2").toString
    val dest2 = graft.sources.DocTable(spark, dest2root)
    val ex = intercept[IllegalStateException] {
      Warehouse.importSnapshot(spark, out, dest2, docs.schema, canon)
    }
    assert(ex.getMessage.contains("fingerprint mismatch"))
    assert(!dest2.hasData, "a refused import must commit nothing")
    // a manifest line of no known shape refuses, nothing committed
    val out2 = Files.createTempDirectory("graft_imp_out2").toString
    Warehouse.exportSnapshot(spark, tbl, 1L, out2, 4, "s", "doc_id", canon)
    appendManifestLine(out2, "{\"shard\":0,\"n_rows\":}")
    val dest3 = graft.sources.DocTable(spark,
      Files.createTempDirectory("graft_imp_dst3").toString)
    val exLine = intercept[IllegalStateException] {
      Warehouse.importSnapshot(spark, out2, dest3, docs.schema, canon)
    }
    assert(exLine.getMessage.contains("unparseable manifest line"))
    assert(!dest3.hasData, "a refused import must commit nothing")
    graft.Caches.releaseAll()
  }

  private def appendManifestLine(dir: String, line: String): Unit =
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/_MANIFEST.json"), line + "\n",
      java.nio.file.StandardOpenOption.APPEND)

  test("snapshot delta: restore(v1) + delta(v1,v2) equals readVersion(v2) " +
    "row-for-row; tampered delta refuses with nothing committed") {
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
    val srcRoot = Files.createTempDirectory("graft_sd_src").toString
    val full = Files.createTempDirectory("graft_sd_full").toString
    val inc = Files.createTempDirectory("graft_sd_inc").toString
    val tbl = graft.sources.DocTable(spark, srcRoot)
    tbl.init(docs.filter($"doc_id" % 3 =!= 0))                  // v1
    tbl.upsert(docs.filter($"doc_id" % 2 === 0)                 // v2
      .withColumn("lang", lit("xx")))
    val canon = graft.functions.MarketFunctions.md5Hash60(
      concat(lit("fp#"), $"doc_id".cast("string"), lit("#"),
        $"lang", lit("#"), $"text"))
    Warehouse.exportSnapshot(spark, tbl, 1L, full, 4, "s", "doc_id",
      canon)
    Warehouse.exportSnapshotDelta(spark, tbl, 1L, 2L, inc, 4, "s",
      "doc_id", canon)
    val dest = graft.sources.DocTable(spark,
      Files.createTempDirectory("graft_sd_dst").toString)
    Warehouse.importSnapshot(spark, full, dest, docs.schema, canon)
    // the apply's persists are its own: released when it returns
    def cachedRdds = spark.sparkContext.getPersistentRDDs.size
    val cached0 = cachedRdds
    val applied = Warehouse.applySnapshotDelta(spark, inc, dest,
      docs.schema, canon, "doc_id")
    assert(applied > 0)
    assert(cachedRdds === cached0, "an apply must release its persists")
    val want = tbl.readVersion(2L).select(docs.columns.map(col): _*)
      .orderBy("doc_id").collect().toSeq
    assert(dest.read().select(docs.columns.map(col): _*)
      .orderBy("doc_id").collect().toSeq === want,
      "restore + delta must reproduce v2 exactly")
    // re-apply: zero-change, no commit
    val v = dest.version
    assert(Warehouse.applySnapshotDelta(spark, inc, dest, docs.schema,
      canon, "doc_id") === 0L)
    assert(dest.version === v)
    assert(cachedRdds === cached0, "a re-apply must release its persists")
    // the post-apply whole-table fingerprint equals the manifest's v2
    // endpoint line — the endpoint the apply verified pre-commit
    val epPat =
      """\{"endpoint":"v2","n_rows":(-?\d+),"content_xor":(-?\d+)\}""".r
    val v2line = java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get(s"$inc/_MANIFEST.json"))
      .toArray.map(_.toString).collectFirst {
        case epPat(n, x) => (n.toLong, x.toLong)
      }.get
    val gotFp = dest.read().withColumn("_fp", canon)
      .agg(count(lit(1)), coalesce(expr("bit_xor(_fp)"), lit(0L)))
      .as[(Long, Long)].head()
    assert(gotFp === v2line,
      "post-apply fingerprint must equal the manifest's v2 endpoint")
    // a diverged restore refuses BEFORE applying: restore v1 again,
    // then let the table drift (a stray append) — the endpoint gate
    // must refuse whole-or-nothing instead of landing a mongrel
    val dest3 = graft.sources.DocTable(spark,
      Files.createTempDirectory("graft_sd_dst3").toString)
    Warehouse.importSnapshot(spark, full, dest3, docs.schema, canon)
    dest3.append(docs.filter($"doc_id" % 3 === 0).limit(1))
    val v3pre = dest3.version
    val exDiv = intercept[IllegalStateException] {
      Warehouse.applySnapshotDelta(spark, inc, dest3, docs.schema,
        canon, "doc_id")
    }
    assert(exDiv.getMessage.contains("v1 endpoint"))
    assert(dest3.version === v3pre,
      "a refused apply must commit nothing")
    // length-preserving tamper of one delta row refuses whole-or-nothing
    val f = java.nio.file.Files.walk(java.nio.file.Paths.get(inc))
      .filter(p => p.getFileName.toString.startsWith("part-") &&
        p.toString.contains("shard="))
      .findFirst().get()
    java.nio.file.Files.writeString(f,
      java.nio.file.Files.readString(f)
        .replaceFirst("(\"lang\":\")[a-z]", "$1Z"))
    java.nio.file.Files.deleteIfExists(f.resolveSibling(
      "." + f.getFileName.toString + ".crc"))
    spark.catalog.refreshByPath(inc)
    val dest2 = graft.sources.DocTable(spark,
      Files.createTempDirectory("graft_sd_dst2").toString)
    Warehouse.importSnapshot(spark, full, dest2, docs.schema, canon)
    val v2pre = dest2.version
    val ex = intercept[IllegalStateException] {
      Warehouse.applySnapshotDelta(spark, inc, dest2, docs.schema,
        canon, "doc_id")
    }
    assert(ex.getMessage.contains("fingerprint mismatch"))
    assert(dest2.version === v2pre,
      "a refused apply must commit nothing")
    // a manifest line of no known shape refuses, nothing committed
    val inc2 = Files.createTempDirectory("graft_sd_inc2").toString
    Warehouse.exportSnapshotDelta(spark, tbl, 1L, 2L, inc2, 4, "s",
      "doc_id", canon)
    appendManifestLine(inc2, "{\"shard\":0,\"change_type\":\"upsert\"}")
    val exLine = intercept[IllegalStateException] {
      Warehouse.applySnapshotDelta(spark, inc2, dest2, docs.schema,
        canon, "doc_id")
    }
    assert(exLine.getMessage.contains("unparseable delta-manifest line"))
    assert(dest2.version === v2pre, "a refused apply must commit nothing")
    graft.Caches.releaseAll()
  }

  test("delete stream: per-batch txn fence makes a fresh-checkpoint " +
    "replay a no-op; served answers exclude the streamed tombstones") {
    import graft.pipelines.Similarity
    val root = Files.createTempDirectory("graft_st_del").toString
    val landing = Files.createTempDirectory("graft_st_del_land").toString
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    Warehouse.writePqIndex(emb, root, k = 8, dim = 64, m = 8, ks = 16,
      centroids = Some(Similarity.seedCentroids(8, 64)),
      codebooks = Some(Similarity.pqSeedCodebooks(8, 16, 8)))
    def run(ckpt: String): Unit = {
      val q = graft.streaming.IndexStream.startDeletes(spark, landing,
        root, ckpt)
      assert(q.awaitTermination(180000))
    }
    val mainCkpt = Files.createTempDirectory("graft_st_del_c1").toString
    // the FIRST batch is all-no-op (ids the index does not hold): the
    // txn fence must still advance — an init-empty commit — and the
    // table must keep accepting later deletes (regression: routing on
    // version instead of hasData bricked every delete after this)
    Seq(999999L, 888888L).toDF("vec_id")
      .coalesce(1).write.mode("append").parquet(landing)
    run(mainCkpt)
    val t = Warehouse.pqTombstoneTable(spark, root)
    assert(!t.hasData && t.version > 0L,
      "no-op first batch: fence advanced, no tombstones")
    emb.filter($"vec_id" % 10 === 3).select("vec_id")
      .coalesce(1).write.mode("append").parquet(landing)
    run(mainCkpt)
    val n1 = t.read().count()
    val v1 = t.version
    assert(n1 > 0)
    // a FRESH checkpoint replays the same files as batch 0 — the
    // ("pq_tombstone", 0) fence recognizes the commit and skips: no
    // new tombstones, no new table version
    run(Files.createTempDirectory("graft_st_del_c2").toString)
    assert(t.read().count() === n1 && t.version === v1)
    // the serve path honors the streamed tombstones
    val q3 = emb.filter($"vec_id" === 3).select("embedding")
      .collect()(0).getSeq[Float](0).map(_.toDouble).toArray
    val served = Warehouse
      .ivfPqServe(spark, root, q3, topK = 5, nprobe = 2, cand = 20)
      .select("vec_id").as[Long].collect().toSet
    assert(served.forall(_ % 10 !== 3))
    graft.Caches.releaseAll()
  }

  test("update stream: a crash mid-batch is healed by the stream's " +
    "replay of the same fence; a fresh-checkpoint replay is a no-op") {
    import graft.pipelines.Similarity
    val root = Files.createTempDirectory("graft_st_upd").toString
    val landing = Files.createTempDirectory("graft_st_upd_land").toString
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    Warehouse.writePqIndex(emb, root, k = 8, dim = 64, m = 8, ks = 16,
      centroids = Some(Similarity.seedCentroids(8, 64)),
      codebooks = Some(Similarity.pqSeedCodebooks(8, 16, 8)))
    def run(ckpt: String): Unit = {
      val q = graft.streaming.IndexStream.startUpdates(spark, landing,
        root, ckpt)
      assert(q.awaitTermination(180000))
    }
    val q3 = emb.filter($"vec_id" === 3).select("embedding")
      .collect()(0).getSeq[Float](0).map(_.toDouble).toArray
    def serve() = Warehouse
      .ivfPqServe(spark, root, q3, topK = 5, nprobe = 2, cand = 20)
      .orderBy($"cosine".desc, $"vec_id")
      .as[(Long, Double)].collect().toSeq
    val before = serve()
    val upd = emb.filter($"vec_id" === 3)
      .withColumn("embedding", reverse($"embedding"))
    // land batch 0's file, then CRASH a mid-batch attempt under the
    // stream's own fence ("pq_update", 0): vectors and codes land,
    // the flip does not — whole-old at serve, exactly the state a
    // foreachBatch sink crash leaves behind
    upd.coalesce(1).write.mode("append").parquet(landing)
    intercept[RuntimeException] {
      Warehouse.updateInPqIndex(spark, root, upd,
        txn = Some(("pq_update", 0L)),
        failpoint = p =>
          if (p == "update_before_flip") sys.error("crash mid-batch"))
    }
    assert(serve() === before, "crash mid-batch must serve whole-old")
    // the stream's batch 0 replays the SAME txn: the landed appends
    // skip on their marks and the flip completes — whole-new, once
    val mainCkpt = Files.createTempDirectory("graft_st_upd_c1").toString
    run(mainCkpt)
    assert(serve() !== before, "the stream replay completes the update")
    assert(Warehouse.readEmbeddingsByCellLive(spark, root)
      .filter($"vec_id" === 3).count() === 1L,
      "healed update leaves exactly ONE live copy")
    // second micro-batch writes the original back: generations chain
    // across streamed batches, last write wins
    emb.filter($"vec_id" === 3)
      .coalesce(1).write.mode("append").parquet(landing)
    run(mainCkpt)
    assert(serve() === before,
      "second streamed update restores the original answer")
    // a FRESH checkpoint replays every landed file as batch 0 — the
    // ("pq_update", 0) fence recognizes the commit and skips (the
    // fence check runs BEFORE the one-row-per-id require, so the
    // merged replay batch cannot even trip it)
    val t = Warehouse.pqTombstoneTable(spark, root)
    val v1 = t.version
    run(Files.createTempDirectory("graft_st_upd_c2").toString)
    assert(t.version === v1,
      "fresh-checkpoint replay must recover nothing twice")
    assert(serve() === before)
    graft.Caches.releaseAll()
  }

  test("compactPqIndex: frozen-model compaction reclaims stacked " +
    "generations and tombstones with BIT-IDENTICAL answers; takedowns " +
    "stay dead; the lifecycle keeps working after the flip") {
    import graft.pipelines.Similarity
    val root = Files.createTempDirectory("graft_pq_compact").toString
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    Warehouse.writePqIndex(emb, root, k = 8, dim = 64, m = 8, ks = 16,
      centroids = Some(Similarity.seedCentroids(8, 64)),
      codebooks = Some(Similarity.pqSeedCodebooks(8, 16, 8)))
    val q3 = emb.filter($"vec_id" === 3).select("embedding")
      .collect()(0).getSeq[Float](0).map(_.toDouble).toArray
    def serve() = Warehouse
      .ivfPqServe(spark, root, q3, topK = 5, nprobe = 2, cand = 20)
      .orderBy($"cosine".desc, $"vec_id")
      .as[(Long, Double)].collect().toSeq
    // stack three generations on a slice (reverse, restore, reverse),
    // stream one append batch, and take down one id — the full
    // accretion mix a long-lived index carries
    val slice = emb.filter($"vec_id" % 31 === 5)
    Warehouse.updateInPqIndex(spark, root,
      slice.withColumn("embedding", reverse($"embedding")))
    Warehouse.updateInPqIndex(spark, root, slice)
    Warehouse.updateInPqIndex(spark, root,
      slice.withColumn("embedding", reverse($"embedding")))
    assert(Warehouse.deleteFromPqIndex(spark, root, Seq(7L)) === 1L)
    val before = serve()
    // dead rows really are stacked before the compaction
    val deltaCodes = Warehouse.pqDeltaCodeTable(spark, root)
    val committed = deltaCodes.read().count()
    val live = Warehouse.readPqCodesLive(spark, root)
      .join(slice.select("vec_id"), "vec_id").count()
    assert(committed > live,
      "fixture must hold superseded generations before compacting")
    val next = Warehouse.compactPqIndex(spark, root)
    // bit-identical answers from the compacted version
    assert(serve() === before,
      "frozen-model compaction must not change answers")
    // physically clean: no tombstones, no deltas, base = live view
    assert(!Warehouse.pqTombstoneTable(spark, root).hasData)
    assert(!Warehouse.hasPqDeltas(spark, root))
    assert(Warehouse.readPqCodes(spark, root)
      .filter($"vec_id" === 7L).isEmpty,
      "a taken-down id must die physically, not resurrect")
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/CURRENT")).trim === next)
    // the lifecycle keeps working in the new version: an update to the
    // probed id itself must land exactly once and change the serve
    Warehouse.updateInPqIndex(spark, root, emb.filter($"vec_id" === 3)
      .withColumn("embedding", reverse($"embedding")))
    assert(Warehouse.readEmbeddingsByCellLive(spark, root)
      .filter($"vec_id" === 3).count() === 1L,
      "post-compact update lands exactly once")
    assert(serve() !== before, "the post-compact update is visible")
    graft.Caches.releaseAll()
  }

  test("index snapshot handoff: the shipped index serves " +
    "bit-identically; tampered shards and model refuse; re-import " +
    "no-ops; a diverged destination refuses; crash-before-flip fails " +
    "fast and heals") {
    import graft.pipelines.Similarity
    val root = Files.createTempDirectory("graft_ship_src").toString
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    Warehouse.writePqIndex(emb, root, k = 8, dim = 64, m = 8, ks = 16,
      centroids = Some(Similarity.seedCentroids(8, 64)),
      codebooks = Some(Similarity.pqSeedCodebooks(8, 16, 8)))
    // lived-in source: one update generation + one takedown, so the
    // export is exercised on a live view that differs from the base
    Warehouse.updateInPqIndex(spark, root, emb.filter($"vec_id" === 3)
      .withColumn("embedding", reverse($"embedding")))
    assert(Warehouse.deleteFromPqIndex(spark, root, Seq(7L)) === 1L)
    val exp = Files.createTempDirectory("graft_ship_exp").toString
    val manifest = Warehouse.exportPqIndexSnapshot(spark, root, exp,
      shards = 3, salt = "s")
    val nLive = emb.count() - 1
    assert(manifest.agg(sum("n_rows")).as[Long].head() === nLive)
    val q3 = emb.filter($"vec_id" === 3).select("embedding")
      .collect()(0).getSeq[Float](0).map(_.toDouble).toArray
    def serve(r: String) = Warehouse
      .ivfPqServe(spark, r, q3, topK = 5, nprobe = 2, cand = 20)
      .orderBy($"cosine".desc, $"vec_id")
      .as[(Long, Double)].collect().toSeq
    val dest =
      Files.createTempDirectory("graft_ship_dst").toString + "/idx"
    assert(Warehouse.importPqIndexSnapshot(spark, exp, dest) === nLive)
    assert(serve(dest) === serve(root),
      "the shipped index must serve bit-identically to the source")
    assert(!Warehouse.pqTombstoneTable(spark, dest).hasData &&
      !Warehouse.hasPqDeltas(spark, dest),
      "the shipped index must arrive physically clean")
    // re-import: a verified no-op — the version pointer does not move
    val v = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dest/CURRENT")).trim
    assert(Warehouse.importPqIndexSnapshot(spark, exp, dest) === nLive)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dest/CURRENT")).trim === v)
    // a destination serving a DIFFERENT corpus refuses — an index
    // that moved on cannot be silently clobbered
    val dest2 = Files.createTempDirectory("graft_ship_dst2").toString
    Warehouse.writePqIndex(emb, dest2, k = 8, dim = 64, m = 8, ks = 16,
      centroids = Some(Similarity.seedCentroids(8, 64)),
      codebooks = Some(Similarity.pqSeedCodebooks(8, 16, 8)))
    intercept[IllegalStateException](
      Warehouse.importPqIndexSnapshot(spark, exp, dest2))
    // crash before the flip: the half-imported root FAILS FAST (no
    // CURRENT, no top-level layout — whole-or-error, never a partial
    // server) and the re-import heals it into the next version
    val dest3 =
      Files.createTempDirectory("graft_ship_dst3").toString + "/idx"
    intercept[RuntimeException](
      Warehouse.importPqIndexSnapshot(spark, exp, dest3,
        failpoint = p =>
          if (p == "import_before_flip") sys.error("crash pre-flip")))
    assert(java.nio.file.Files.notExists(
      java.nio.file.Paths.get(s"$dest3/CURRENT")))
    intercept[Exception](Warehouse.readEmbeddingCentroids(dest3))
    assert(Warehouse.importPqIndexSnapshot(spark, exp, dest3) === nLive)
    assert(serve(dest3) === serve(root))
    // tampered shard: one duplicated row flips its shard's
    // fingerprint — the import refuses WHOLE, nothing lands
    val shard0 = new java.io.File(exp).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard="))
      .minBy(_.getName)
    val part = shard0.listFiles()
      .filter(_.getName.endsWith(".json")).head
    val firstLine =
      java.nio.file.Files.readAllLines(part.toPath).get(0)
    java.nio.file.Files.writeString(part.toPath, firstLine + "\n",
      java.nio.file.StandardOpenOption.APPEND)
    // drop Hadoop's local-FS checksum sidecar so the tamper reaches
    // the FINGERPRINT check (a real transfer has no .crc sidecars)
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(
      part.getParent, s".${part.getName}.crc"))
    val dest4 =
      Files.createTempDirectory("graft_ship_dst4").toString + "/idx"
    intercept[IllegalStateException](
      Warehouse.importPqIndexSnapshot(spark, exp, dest4))
    assert(java.nio.file.Files.notExists(
      java.nio.file.Paths.get(s"$dest4/CURRENT")))
    // tampered MODEL: a flipped codebook byte would re-derive wrong
    // codes SILENTLY (answers drift, no error) — the digest check
    // turns it into a refusal before anything reads through it
    val exp2 = Files.createTempDirectory("graft_ship_exp2").toString
    Warehouse.exportPqIndexSnapshot(spark, root, exp2, shards = 3,
      salt = "s")
    val cbf = java.nio.file.Paths.get(s"$exp2/_MODEL_codebooks.txt")
    java.nio.file.Files.writeString(cbf,
      java.nio.file.Files.readString(cbf).replaceFirst("0", "1"))
    intercept[IllegalStateException](
      Warehouse.importPqIndexSnapshot(spark, exp2,
        Files.createTempDirectory("graft_ship_dst5").toString + "/idx"))
    // a salt with a tab, a quote and a backslash: the provenance header
    // escapes it, the import decodes it back — and serves equal
    val exp3 = Files.createTempDirectory("graft_ship_exp3").toString
    Warehouse.exportPqIndexSnapshot(spark, root, exp3, shards = 3,
      salt = "t\tq\"b\\s")
    val dest6 =
      Files.createTempDirectory("graft_ship_dst6").toString + "/idx"
    assert(Warehouse.importPqIndexSnapshot(spark, exp3, dest6) === nLive)
    assert(serve(dest6) === serve(root))
    // a manifest line of no known shape refuses, nothing flips live
    appendManifestLine(exp3, "{\"model\":\"x.txt\"}")
    val dest7 =
      Files.createTempDirectory("graft_ship_dst7").toString + "/idx"
    val exLine = intercept[IllegalStateException](
      Warehouse.importPqIndexSnapshot(spark, exp3, dest7))
    assert(exLine.getMessage.contains("unparseable index-manifest line"))
    assert(java.nio.file.Files.notExists(java.nio.file.Paths.get(dest7)))
    graft.Caches.releaseAll()
  }

  test("auto-compact update stream: the dial gates the reclaim, " +
    "compaction is self-extinguishing and answer-preserving, and the " +
    "carried fences make a fresh-checkpoint replay a no-op even " +
    "ACROSS the generation flip") {
    import graft.pipelines.Similarity
    val root = Files.createTempDirectory("graft_st_ac").toString
    val landing = Files.createTempDirectory("graft_st_ac_land").toString
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    Warehouse.writePqIndex(emb, root, k = 8, dim = 64, m = 8, ks = 16,
      centroids = Some(Similarity.seedCentroids(8, 64)),
      codebooks = Some(Similarity.pqSeedCodebooks(8, 16, 8)))
    def run(ckpt: String): Unit = {
      val q = graft.streaming.IndexStream.startUpdatesAutoCompact(
        spark, landing, root, ckpt, maxDead = 0.04)
      assert(q.awaitTermination(180000))
    }
    def land(rows: org.apache.spark.sql.DataFrame): Unit =
      rows.coalesce(1).write.mode("append").parquet(landing)
    val q3 = emb.filter($"vec_id" === 3).select("embedding")
      .collect()(0).getSeq[Float](0).map(_.toDouble).toArray
    def serve() = Warehouse
      .ivfPqServe(spark, root, q3, topK = 5, nprobe = 2, cand = 20)
      .orderBy($"cosine".desc, $"vec_id")
      .as[(Long, Double)].collect().toSeq
    val ckpt = Files.createTempDirectory("graft_st_ac_c1").toString
    // generations 1-2 accrete BELOW the dial: dead fraction grows,
    // no compaction fires
    land(emb.filter($"vec_id" % 43 === 6)
      .withColumn("embedding", reverse($"embedding")))
    run(ckpt)
    assert(Warehouse.pqIndexDeadFraction(spark, root) > 0.0)
    assert(java.nio.file.Files.notExists(
      java.nio.file.Paths.get(s"$root/CURRENT")),
      "below the dial the stream must accrete, not compact")
    land(emb.filter($"vec_id" % 86 === 6))
    run(ckpt)
    assert(java.nio.file.Files.notExists(
      java.nio.file.Paths.get(s"$root/CURRENT")))
    // generation 3 crosses the dial: the stream compacts ITSELF —
    // fresh version, physically clean, dead fraction back to zero
    land(emb.filter($"vec_id" % 86 === 6)
      .withColumn("embedding", reverse($"embedding")))
    run(ckpt)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/CURRENT")))
    assert(Warehouse.pqIndexDeadFraction(spark, root) === 0.0)
    assert(!Warehouse.pqTombstoneTable(spark, root).hasData &&
      !Warehouse.hasPqDeltas(spark, root))
    val after = serve()
    // answer-preserving: the self-compacted serve equals a one-shot
    // frozen-model build over the net corpus (%43≡6 reversed)
    val ref = Files.createTempDirectory("graft_st_ac_ref").toString
    Warehouse.writePqIndex(emb.withColumn("embedding",
        when($"vec_id" % 43 === 6, reverse($"embedding"))
          .otherwise($"embedding")),
      ref, k = 8, dim = 64, m = 8, ks = 16,
      centroids = Some(Similarity.seedCentroids(8, 64)),
      codebooks = Some(Similarity.pqSeedCodebooks(8, 16, 8)))
    assert(after === Warehouse
      .ivfPqServe(spark, ref, q3, topK = 5, nprobe = 2, cand = 20)
      .orderBy($"cosine".desc, $"vec_id")
      .as[(Long, Double)].collect().toSeq)
    // THE FENCE SURVIVES THE FLIP: a fresh checkpoint replays every
    // landed file as one batch 0 — without carryIndexFences the
    // replay would re-apply the updates onto the compacted corpus
    // (re-reversing %43≡6), silently changing answers. The carried
    // ("pq_update", 2) mark makes it a clean skip instead.
    assert(Warehouse.pqTombstoneTable(spark, root)
      .lastCommittedBatch("pq_update").exists(_ >= 2L),
      "compaction must carry the update fence into the new version")
    run(Files.createTempDirectory("graft_st_ac_c2").toString)
    assert(serve() === after,
      "fresh-checkpoint replay across the flip must recover nothing")
    assert(!Warehouse.hasPqDeltas(spark, root),
      "a replayed batch must not re-land delta rows")
    graft.Caches.releaseAll()
  }

  test("exportSnapshot: version pins the bytes, salts only rebalance, " +
    "a vacuumed-past version refuses instead of shipping partial") {
    import graft.functions.MarketFunctions.md5Hash60
    val root = Files.createTempDirectory("graft_snap_tbl").toString
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
    val tbl = graft.sources.DocTable(spark, root)
    tbl.init(docs.filter($"doc_id" % 3 =!= 0)) // v1
    val canon = md5Hash60(concat(lit("fp#"),
      $"doc_id".cast("string"), lit("#"), $"lang", lit("#"), $"text"))
    def export(v: Long, salt: String) = Warehouse.exportSnapshot(spark,
        tbl, v, Files.createTempDirectory("graft_snap_o").toString,
        shards = 4, salt = salt, idCol = "doc_id", canon = canon)
      .orderBy("shard").as[(Long, Long, Long)].collect().toSeq
    val m1 = export(1L, "s1")
    tbl.upsert(docs.filter($"doc_id" % 2 === 0)
      .withColumn("lang", lit("xx"))) // v2
    // the pin: v1 re-exports byte-identically after v2 committed
    assert(export(1L, "s1") === m1)
    // a different version is a different corpus: manifests diverge
    val m2 = export(2L, "s1")
    assert(m2 !== m1)
    // a different salt only REBALANCES: per-shard rows move, but the
    // corpus-level invariants — total rows and the xor of shard
    // fingerprints — are salt-independent
    val m1b = export(1L, "s2")
    assert(m1b.map(_._2).sum === m1.map(_._2).sum)
    assert(m1b.map(_._3).reduce(_ ^ _) === m1.map(_._3).reduce(_ ^ _))
    // vacuum past v1: the export REFUSES (whole-or-error), never a
    // partial corpus
    tbl.vacuum()
    intercept[RuntimeException](export(1L, "s1"))
    graft.Caches.releaseAll()
  }

  test("ivfPqClassify at full probe coverage matches exact knnClassify " +
    "bit-for-bit") {
    import graft.pipelines.Similarity
    val root = Files.createTempDirectory("graft_pq_clf").toString
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    Warehouse.writePqIndex(emb, root, k = 8, dim = 64, m = 8, ks = 16,
      centroids = Some(Similarity.seedCentroids(8, 64)),
      codebooks = Some(Similarity.pqSeedCodebooks(8, 16, 8)))
    val n = emb.count().toInt
    val qids = Seq(1L, 4L, 9L)
    val qs = emb.filter($"vec_id".isin(qids: _*))
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray)).toSeq.sortBy(_._1)
    // nprobe = all 8 cells and cand ≥ corpus ⇒ the served candidate
    // set IS the exact neighbor set, so the ANN-backed vote must
    // reproduce the exact harness's predictions exactly
    val ann = Warehouse.ivfPqClassify(spark, root, qs, emb, k = 5,
        nprobe = 8, cand = n)
      .orderBy("q_id")
      .as[(Long, Int, Int, Long, Boolean)].collect().toSeq
    val queries = emb.filter($"vec_id".isin(qids: _*))
      .select($"vec_id".as("q_id"), $"embedding".as("qv"),
        $"label".as("q_label"))
    val exact = Similarity.knnClassify(emb, "vec_id", "embedding",
        "label", queries, "q_id", "qv", "q_label", k = 5)
      .orderBy("q_id")
      .as[(Long, Int, Int, Long, Boolean)].collect().toSeq
    assert(ann === exact)
    // and the production-parameter path still prunes: probes < cells
    val pruned = Warehouse.ivfPqClassify(spark, root, qs, emb, k = 5,
      nprobe = 2, cand = 20)
    assert(pruned.count() === qs.size)
  }

  test("indexDriftReport: fires on a shifted delta, silent on iid appends") {
    import graft.pipelines.Similarity
    val emb = Tables(spark, "/root/testdata/sf0.01").embeddings
    val cents = Similarity.seedCentroids(8, 64)
    val cb = Similarity.pqSeedCodebooks(8, 16, 8)
    def freshIndex(): String = {
      val root = Files.createTempDirectory("graft_drift").toString
      Warehouse.writePqIndex(emb.filter($"vec_id" % 5 =!= 0), root,
        k = 8, dim = 64, m = 8, ks = 16,
        centroids = Some(cents), codebooks = Some(cb))
      root
    }
    // iid append: the late fifth unfiltered — same distribution up to
    // sampling noise; the half-count smoothing must keep rare cells
    // the small delta merely missed from tripping the alarm
    val iidRoot = freshIndex()
    Warehouse.writePqDelta(emb.filter($"vec_id" % 5 === 0), iidRoot, 0L)
    val iid = Warehouse.indexDriftReport(spark, iidRoot)
    assert(iid.select("status").distinct()
      .as[String].collect().toSeq === Seq("stable"))
    assert(iid.select("total_psi").head().getDouble(0) < 0.1)
    // shifted append: every delta row off the base's dominant cell —
    // the frozen model is stale and the alarm must say rebuild
    graft.expressions.GraftFunctions.register(spark)
    val shiftRoot = freshIndex()
    val drifted = emb.filter($"vec_id" % 5 === 0)
      .filter(Similarity.ivfCellAtNative($"embedding", cents) =!= 4)
    Warehouse.writePqDelta(drifted, shiftRoot, 0L)
    val rep = Warehouse.indexDriftReport(spark, shiftRoot)
    assert(rep.select("status").distinct()
      .as[String].collect().toSeq === Seq("rebuild"))
    assert(rep.select("total_psi").head().getDouble(0) > 0.25)
    // no committed shard ⇒ nothing to grade, fail fast
    val bare = freshIndex()
    intercept[IllegalArgumentException] {
      Warehouse.indexDriftReport(spark, bare)
    }
  }

  test("rebuildIfDrifted: iid no-op; drifted delta retrains into a new " +
      "version behind an atomic pointer, equal to a one-shot rebuild") {
    import graft.pipelines.Similarity
    graft.expressions.GraftFunctions.register(spark)
    val emb = Tables(spark, "/root/testdata/sf0.01").embeddings
    val cents = Similarity.seedCentroids(8, 64)
    val cb = Similarity.pqSeedCodebooks(8, 16, 8)
    def freshIndex(): String = {
      val root = Files.createTempDirectory("graft_rebuild").toString
      Warehouse.writePqIndex(emb.filter($"vec_id" % 5 =!= 0), root,
        k = 8, dim = 64, m = 8, ks = 16,
        centroids = Some(cents), codebooks = Some(cb))
      root
    }
    // iid delta: drift below the gate ⇒ no rebuild, no pointer, the
    // frozen-model append path keeps running untouched
    val iidRoot = freshIndex()
    Warehouse.writePqDelta(emb.filter($"vec_id" % 5 === 0), iidRoot, 0L)
    assert(Warehouse.rebuildIfDrifted(spark, iidRoot) === None)
    assert(!Files.exists(java.nio.file.Paths.get(s"$iidRoot/CURRENT")))
    assert(Warehouse.hasPqDeltas(spark, iidRoot))
    // drifted delta: alarm says rebuild ⇒ retrain + flip to v1
    val root = freshIndex()
    val drifted = emb.filter($"vec_id" % 5 === 0)
      .filter(Similarity.ivfCellAtNative($"embedding", cents) =!= 4)
    Warehouse.writePqDelta(drifted, root, 0L)
    assert(Warehouse.rebuildIfDrifted(spark, root) === Some("v1"))
    assert(Files.readString(
      java.nio.file.Paths.get(s"$root/CURRENT")).trim === "v1")
    // the new version starts with a clean slate: no deltas, alarm reset
    assert(!Warehouse.hasPqDeltas(spark, root))
    // the quantizer actually retrained (centroids moved off the seed)
    val newCents = Warehouse.readEmbeddingCentroids(root)
    assert(newCents.flatten.toSeq !== cents.flatten.toSeq)
    // the flipped index IS a one-shot build of the union corpus under
    // the retrained model — serve answers bit-identically
    val union = emb.filter($"vec_id" % 5 =!= 0).unionByName(drifted)
    val refRoot = Files.createTempDirectory("graft_rebuild_ref").toString
    Warehouse.writePqIndex(union, refRoot, k = 8, dim = 64, m = 8,
      ks = 16, centroids = Some(newCents))
    val q = emb.filter($"vec_id" === 3).select("embedding")
      .collect()(0).getSeq[Float](0).map(_.toDouble).toArray
    assert(Warehouse.ivfPqServe(spark, root, q, topK = 5).collect().toSeq
      === Warehouse.ivfPqServe(spark, refRoot, q, topK = 5)
        .collect().toSeq)
    // the superseded version's files are retained for in-flight readers
    assert(Files.exists(java.nio.file.Paths.get(s"$root/embeddings")))
    // the fences rode the flip (carryIndexFences): a fresh-checkpoint
    // replay of the ALREADY-INGESTED batch 0 must skip — its rows live
    // in the new base, and re-appending them would double the ids
    Warehouse.writePqDelta(drifted, root, 0L)
    assert(!Warehouse.hasPqDeltas(spark, root),
      "a replayed pre-flip batch id must be fenced out after the flip")
    // post-flip streaming appends land in the NEW version's delta
    // tables under the stream's NEXT batch id
    Warehouse.writePqDelta(emb.filter($"vec_id" % 10 === 7), root, 1L)
    assert(Warehouse.hasPqDeltas(spark, root))
    assert(Files.exists(
      java.nio.file.Paths.get(s"$root/v1/delta_codes")))
  }

  test("no shard lost across a version flip: writer fence replays a " +
      "mid-flight batch, sweep folds strands committed before the flip") {
    import graft.pipelines.Similarity
    graft.expressions.GraftFunctions.register(spark)
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    val cents = Similarity.seedCentroids(8, 64)
    val cb = Similarity.pqSeedCodebooks(8, 16, 8)
    val root = Files.createTempDirectory("graft_flip").toString
    val base = emb.filter($"vec_id" % 5 =!= 0)
    Warehouse.writePqIndex(base, root, k = 8, dim = 64, m = 8, ks = 16,
      centroids = Some(cents), codebooks = Some(cb))
    def flipToV1(): Unit = {
      Warehouse.writePqIndex(base, s"$root/v1", k = 8, dim = 64,
        m = 8, ks = 16, centroids = Some(cents), codebooks = Some(cb))
      Files.writeString(
        java.nio.file.Paths.get(s"$root/CURRENT"), "v1")
    }
    // writer fence: a rebuild flips CURRENT while this batch commits —
    // the post-commit check must replay the shard into v1
    var flipped = false
    val batch = emb.filter($"vec_id" % 5 === 0)
    Warehouse.writePqDelta(batch, root, 7L, failpoint = p =>
      if (p == "pre-commit" && !flipped) { flipped = true; flipToV1() })
    val inV1 = Warehouse.readPqCodesAll(spark, root)
      .select("vec_id").as[Long].collect().toSet
    assert(batch.select("vec_id").as[Long].collect().forall(inV1))
    // sweep: a shard whose commit COMPLETED in the old version just
    // before the flip (invisible to the fence) is folded forward
    val root2 = Files.createTempDirectory("graft_strand").toString
    Warehouse.writePqIndex(base, root2, k = 8, dim = 64, m = 8,
      ks = 16, centroids = Some(cents), codebooks = Some(cb))
    Warehouse.writePqDelta(batch, root2, 0L) // committed pre-flip
    Warehouse.writePqIndex(base, s"$root2/v1", k = 8, dim = 64,
      m = 8, ks = 16, centroids = Some(cents), codebooks = Some(cb))
    Files.writeString(
      java.nio.file.Paths.get(s"$root2/CURRENT"), "v1")
    val before = Warehouse.readPqCodesAll(spark, root2)
      .select("vec_id").as[Long].collect().toSet
    assert(!batch.select("vec_id").as[Long].collect().exists(before))
    assert(Warehouse.sweepSupersededIndexDeltas(spark, root2)
      === batch.count())
    val after = Warehouse.readPqCodesAll(spark, root2)
      .select("vec_id").as[Long].collect().toSet
    assert(batch.select("vec_id").as[Long].collect().forall(after))
    // idempotent: nothing left to fold
    assert(Warehouse.sweepSupersededIndexDeltas(spark, root2) === 0L)
  }

  test("filtered ANN: metadata gate rides the probe-pruned scan") {
    import graft.pipelines.Similarity
    val root = Files.createTempDirectory("graft_ivf_filter").toString
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    val cents = Similarity.seedCentroids(8, 64)
    Warehouse.writeEmbeddingsByCell(emb, root, k = 8, dim = 64,
      centroids = Some(cents))
    val q = emb.filter($"vec_id" === 0).select("embedding")
      .collect()(0).getSeq[Float](0).map(_.toDouble).toArray
    val filtered = Warehouse.readEmbeddingsByCell(spark, root)
      .filter($"label" % 3 === 0)
    val got = Similarity.ivfTopKPartitioned(filtered, "vec_id",
      "embedding", q, topK = 10, k = 8, nprobe = 2)
    // the label predicate is pushed into the SAME scan the probe
    // cells prune — not applied after the read
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains("PushedFilters") && plan.contains("label"), plan)
    // correctness: equals exact cosine over the filtered probed slice
    val probes = Similarity.probeCellsAt(q, cents, 2)
    val expected = filtered.filter($"cell".isin(probes: _*))
      .select($"vec_id",
        round(Similarity.cosineNative($"embedding",
          array(q.map(lit): _*)), 6).as("cosine"))
      .orderBy($"cosine".desc, $"vec_id").limit(10)
      .as[(Long, Double)].collect().toSeq
    assert(got.as[(Long, Double)].collect().toSeq === expected)
    // every survivor satisfies the predicate
    val labels = emb.select($"vec_id", $"label").as[(Long, Int)]
      .collect().toMap
    assert(got.as[(Long, Double)].collect()
      .forall { case (id, _) => labels(id) % 3 == 0 })
  }

  test("residual PQ index: flag persisted, codes differ, serve still exact within probes") {
    import graft.pipelines.Similarity
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    val cents = Similarity.seedCentroids(8, 64)
    val cbRes = Similarity.pqSeedCodebooks(8, 16, 8)
      .map(_.map(_.map(_ * 0.25)))
    val rawRoot = Files.createTempDirectory("graft_pq_raw").toString
    val resRoot = Files.createTempDirectory("graft_pq_res").toString
    Warehouse.writePqIndex(emb, rawRoot, k = 8, dim = 64, m = 8, ks = 16,
      centroids = Some(cents),
      codebooks = Some(Similarity.pqSeedCodebooks(8, 16, 8)))
    Warehouse.writePqIndex(emb, resRoot, k = 8, dim = 64, m = 8, ks = 16,
      centroids = Some(cents), codebooks = Some(cbRes), residual = true)
    assert(!Warehouse.readPqResidualFlag(rawRoot))
    assert(Warehouse.readPqResidualFlag(resRoot))
    // residual coding actually changed the codes (a silent no-op would
    // pass every equality test below)
    def codes(root: String) = Warehouse.readPqCodes(spark, root)
      .select($"vec_id", $"code".cast("string"))
      .orderBy("vec_id").as[(Long, String)].collect().toSeq
    assert(codes(rawRoot) !== codes(resRoot))
    // with cand covering the probed cells, ADC selection cannot drop a
    // true neighbor, so the residual serve must equal the exact
    // brute-force top-k within the probed cells
    val q = emb.filter($"vec_id" === 3).select("embedding")
      .collect()(0).getSeq[Float](0).map(_.toDouble).toArray
    val probes = Similarity.probeCellsAt(q, cents, 2)
    val pruned = Warehouse.readEmbeddingsByCell(spark, resRoot)
      .filter($"cell".isin(probes: _*))
    val queries = emb.filter($"vec_id" === 3)
      .select($"vec_id".as("q_id"), $"embedding".as("qv"))
    val prunedN = pruned.count().toInt
    val exact = Similarity.batchTopKCosineExact(pruned, "vec_id",
        "embedding", queries, "q_id", "qv", k = 5)
      .select("vec_id", "cosine")
      .orderBy($"cosine".desc, $"vec_id")
      .as[(Long, Double)].collect().toSeq
    val served = Warehouse.ivfPqServe(spark, resRoot, q, topK = 5,
        nprobe = 2, cand = prunedN)
      .orderBy($"cosine".desc, $"vec_id")
      .as[(Long, Double)].collect().toSeq
    assert(served === exact)
    // a residual delta honors the persisted flag: base ∪ delta codes
    // equal the one-shot residual build
    val incRoot = Files.createTempDirectory("graft_pq_res_inc").toString
    Warehouse.writePqIndex(emb.filter($"vec_id" % 5 =!= 0), incRoot,
      k = 8, dim = 64, m = 8, ks = 16,
      centroids = Some(cents), codebooks = Some(cbRes), residual = true)
    Warehouse.writePqDelta(emb.filter($"vec_id" % 5 === 0), incRoot, 0L)
    assert(Warehouse.readPqCodesAll(spark, incRoot)
      .select($"vec_id", $"code".cast("string"))
      .orderBy("vec_id").as[(Long, String)].collect().toSeq ===
      codes(resRoot))
  }

  test("writePqDelta: frozen-model append equals one-shot build, touches no base") {
    import graft.pipelines.Similarity
    // every file of the base trees with its (size, mtime)
    def baseFiles(dir: String): Map[String, (Long, Long)] =
      Seq("codes", "embeddings").flatMap { d =>
        val base = java.nio.file.Paths.get(dir, d)
        Files.walk(base).iterator().asScala
          .filter(Files.isRegularFile(_)).map { p =>
            s"$d/${base.relativize(p)}" ->
              ((Files.size(p), Files.getLastModifiedTime(p).toMillis))
          }
      }.toMap
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    val cents = Similarity.seedCentroids(8, 64)
    val cb = Similarity.pqSeedCodebooks(8, 16, 8)
    val incRoot = Files.createTempDirectory("graft_pq_inc").toString
    Warehouse.writePqIndex(emb.filter($"vec_id" % 5 =!= 0), incRoot,
      k = 8, dim = 64, m = 8, ks = 16,
      centroids = Some(cents), codebooks = Some(cb))
    val before = baseFiles(incRoot)
    Warehouse.writePqDelta(emb.filter($"vec_id" % 5 === 0), incRoot, 0L)
    // the base stays the immutable build: no file added, changed or gone
    assert(baseFiles(incRoot) === before)
    assert(Warehouse.hasPqDeltas(spark, incRoot))
    // live codes of base ∪ delta = codes of a one-shot build
    val fullRoot = Files.createTempDirectory("graft_pq_full").toString
    Warehouse.writePqIndex(emb, fullRoot, k = 8, dim = 64, m = 8,
      ks = 16, centroids = Some(cents), codebooks = Some(cb))
    def codes(df: DataFrame) = df
      .select($"vec_id", $"cell".cast("int"),
        $"code".cast("string"))
      .orderBy("vec_id").collect().toSeq
    assert(codes(Warehouse.readPqCodesLive(spark, incRoot)) ===
      codes(Warehouse.readPqCodes(spark, fullRoot)))
    // and the serve answers identically
    val q = emb.filter($"vec_id" === 3).select("embedding")
      .collect()(0).getSeq[Float](0).map(_.toDouble).toArray
    def serve(root: String) = Warehouse.ivfPqServe(spark, root, q,
        topK = 5, nprobe = 2, cand = 20)
      .orderBy($"cosine".desc, $"vec_id")
      .as[(Long, Double)].collect().toSeq
    val served = serve(incRoot)
    assert(served === serve(fullRoot))
    // a second build over the live index is refused before it writes
    // anything, and the index serves on unchanged
    val err = intercept[IllegalArgumentException] {
      Warehouse.writePqIndex(emb, incRoot, k = 8, dim = 64, m = 8,
        ks = 16, centroids = Some(cents), codebooks = Some(cb))
    }
    assert(err.getMessage.contains("compactPqIndex"), err.getMessage)
    assert(baseFiles(incRoot) === before)
    graft.Caches.releaseAll()
    assert(serve(incRoot) === served)
    graft.Caches.releaseAll()
  }

  test("delta tables: replay-fenced, serve ≡ one-shot, compaction " +
    "races a serve safely") {
    import graft.pipelines.Similarity
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    val cents = Similarity.seedCentroids(8, 64)
    val cb = Similarity.pqSeedCodebooks(8, 16, 8)
    val root = Files.createTempDirectory("graft_pq_delta").toString
    Warehouse.writePqIndex(emb.filter($"vec_id" % 5 =!= 0), root,
      k = 8, dim = 64, m = 8, ks = 16,
      centroids = Some(cents), codebooks = Some(cb))
    // two streamed micro-batches commit into the delta tables
    Warehouse.writePqDelta(emb.filter($"vec_id" % 10 === 0), root, 0L)
    Warehouse.writePqDelta(
      emb.filter($"vec_id" % 5 === 0 && $"vec_id" % 10 =!= 0), root, 1L)
    assert(Warehouse.pqDeltaCodeTable(spark, root)
      .lastCommittedBatch("pq_delta") === Some(1L))
    val q = emb.filter($"vec_id" === 3).select("embedding")
      .collect()(0).getSeq[Float](0).map(_.toDouble).toArray
    def serve(r: String) = Warehouse.ivfPqServe(spark, r, q,
        topK = 5, nprobe = 2, cand = 20)
      .orderBy($"cosine".desc, $"vec_id")
      .as[(Long, Double)].collect().toSeq
    val fullRoot = Files.createTempDirectory("graft_pq_delta_full").toString
    Warehouse.writePqIndex(emb, fullRoot, k = 8, dim = 64, m = 8,
      ks = 16, centroids = Some(cents), codebooks = Some(cb))
    val expected = serve(fullRoot)
    assert(serve(root) === expected, "base ∪ deltas must equal one-shot")
    // at-least-once replay of a batch id: the (stream, batchId) mark
    // committed WITH the data makes it a skip — versions unchanged
    val vBefore = Warehouse.pqDeltaCodeTable(spark, root).version
    Warehouse.writePqDelta(emb.filter($"vec_id" % 10 === 0), root, 0L)
    assert(Warehouse.pqDeltaCodeTable(spark, root).version === vBefore)
    assert(serve(root) === expected, "replayed batch must not double rows")
    // segment merge RACING a serve: a serve resolved against the
    // pre-compaction manifest keeps reading the immutable old dirs
    // and answers identically while compact() commits underneath it
    val inFlight = Warehouse.ivfPqServe(spark, root, q, topK = 5,
      nprobe = 2, cand = 20)
    assert(Warehouse.compactPqDeltas(spark, root) === 2) // two batch dirs
    assert(inFlight.orderBy($"cosine".desc, $"vec_id")
        .as[(Long, Double)].collect().toSeq === expected,
      "in-flight serve must be unaffected by a concurrent compaction")
    assert(serve(root) === expected, "compaction must not change answers")
    assert(Warehouse.pqDeltaCodeTable(spark, root).dataDirCount === 1)
  }

  // ---- the serving state of ivfPqServe --------------------------------

  test("index base records its _schema: the index reads plan with no " +
    "Spark job and read as footer inference does") {
    import graft.pipelines.Similarity
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    val root = Files.createTempDirectory("graft_pq_schema").toString
    Warehouse.writePqIndex(emb, root, k = 8, dim = 64, m = 8, ks = 16,
      centroids = Some(Similarity.seedCentroids(8, 64)),
      codebooks = Some(Similarity.pqSeedCodebooks(8, 16, 8)))
    Warehouse.writePqDelta(emb.filter($"vec_id" % 10 === 0)
      .withColumn("vec_id", $"vec_id" + 100000L), root, 0L)
    val (_, jobs) = TableProbes.jobsDuring(spark) {
      Warehouse.readPqCodesAll(spark, root).schema
      Warehouse.readEmbeddingsByCellAll(spark, root).schema
    }
    assert(jobs === 0, "planning the index reads must run no job")
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    Seq[(String, String => DataFrame)](
      "codes" -> (Warehouse.readPqCodes(spark, _)),
      "embeddings" -> (Warehouse.readEmbeddingsByCell(spark, _))
    ).foreach { case (d, read) =>
      val sidecar = java.nio.file.Paths.get(root, d, "_schema")
      assert(Files.isRegularFile(sidecar), s"$d has no _schema")
      val recorded = read(root)
      val inferred = spark.read.parquet(s"$root/$d")
      assert(recorded.schema === inferred.schema, d)
      assert(rows(recorded) === rows(inferred), d)
      // a base written before the sidecar existed reads by inference
      Files.delete(sidecar)
      assert(read(root).schema === inferred.schema, d)
    }
  }

  test("a warm serve is a small plan: other probe cells compile no " +
    "class and submit at most two jobs") {
    import graft.pipelines.Similarity
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    val cents = Similarity.seedCentroids(8, 64)
    val root = Files.createTempDirectory("graft_pq_warm").toString
    Warehouse.writePqIndex(emb, root, k = 8, dim = 64, m = 8, ks = 16,
      centroids = Some(cents),
      codebooks = Some(Similarity.pqSeedCodebooks(8, 16, 8)),
      residual = true)
    val vecs = emb.orderBy("vec_id").select("embedding").as[Seq[Float]]
      .collect().map(_.map(_.toDouble).toArray)
    val q1 = vecs.head
    val p1 = Similarity.probeCellsAt(q1, cents, 2).toSet
    val q2 = vecs.find(v =>
      Similarity.probeCellsAt(v, cents, 2).toSet != p1).get
    def serve(q: Array[Double]) = Warehouse.ivfPqServe(spark, root, q,
      topK = 5, nprobe = 2, cand = 20).collect().toSeq
    serve(q1)
    val ((answer, compiled), jobs) = TableProbes.jobsDuring(spark) {
      TableProbes.compilesDuring(serve(q2))
    }
    assert(compiled === 0L, "the warm plan must not depend on the query")
    assert(jobs <= 1, s"a warm serve ran $jobs jobs")
    assert(answer.map(_.getLong(0)).toSet.nonEmpty)
  }

  test("serving state: a first serve persists one frame of live rows " +
    "in at most five jobs") {
    import graft.pipelines.Similarity
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    val root = Files.createTempDirectory("graft_pq_first").toString
    Warehouse.writePqIndex(emb.filter($"vec_id" % 5 =!= 0), root, k = 8,
      dim = 64, m = 8, ks = 16,
      centroids = Some(Similarity.seedCentroids(8, 64)),
      codebooks = Some(Similarity.pqSeedCodebooks(8, 16, 8)),
      residual = true)
    // delta rows, an update and a takedown: both delta tables and the
    // marks feed the state, as after a CDC sync
    Warehouse.writePqDelta(emb.filter($"vec_id" % 5 === 0), root, 0L)
    assert(Warehouse.updateInPqIndex(spark, root, emb
      .filter($"vec_id" === 7L)
      .withColumn("embedding", reverse($"embedding"))) === 1L)
    assert(Warehouse.deleteFromPqIndex(spark, root, Seq(11L)) === 1L)
    val q = emb.filter($"vec_id" === 3).select("embedding")
      .collect()(0).getSeq[Float](0).map(_.toDouble).toArray
    def serve() = Warehouse.ivfPqServe(spark, root, q, topK = 5,
      nprobe = 2, cand = 20).as[(Long, Double)].collect().toSeq
    Caches.withCaches { _ =>
      val before = spark.sparkContext.getPersistentRDDs.size
      val (first, jobs) = TableProbes.jobsDuring(spark)(serve())
      assert(jobs <= 5, s"the state-building serve ran $jobs jobs")
      assert(spark.sparkContext.getPersistentRDDs.size === before + 1,
        "a first serve persists one frame")
      assert(serve() === first)
      assert(first.head === ((3L, 1.0)))
    }
  }

  test("serving state: an id re-appended at its sequence serves as many " +
    "rows as it has live codes") {
    import graft.pipelines.Similarity
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    def build(corpus: DataFrame) = {
      val root = Files.createTempDirectory("graft_pq_dup").toString
      Warehouse.writePqIndex(corpus, root, k = 8, dim = 64, m = 8,
        ks = 16, centroids = Some(Similarity.seedCentroids(8, 64)),
        codebooks = Some(Similarity.pqSeedCodebooks(8, 16, 8)))
      root
    }
    val q = emb.filter($"vec_id" === 3).select("embedding")
      .collect()(0).getSeq[Float](0).map(_.toDouble).toArray
    // cand covers every probed row, so both answers are exact
    def serve(root: String) = Warehouse.ivfPqServe(spark, root, q,
      topK = 5, nprobe = 2, cand = 100000).as[(Long, Double)]
      .collect().toSeq
    val once = serve(build(emb))
    // a plain append of a live id: a base row and a delta row, both
    // at _seq 0, both live
    val root = build(emb)
    Warehouse.writePqDelta(emb.filter($"vec_id" === 3), root, 0L)
    assert(Warehouse.readPqCodesLive(spark, root)
      .filter($"vec_id" === 3).count() === 2L)
    val twice = serve(root)
    assert(twice.take(2) === Seq((3L, 1.0), (3L, 1.0)),
      "each live code of the id is one candidate row")
    assert(twice.drop(2) === once.slice(1, 4))
  }

  test("index verbs release their persists: three CDC syncs leave the " +
    "session's persisted RDDs as they found them") {
    import graft.pipelines.Similarity
    import graft.sources.AtomicTable
    val root = Files.createTempDirectory("graft_cdc_leak").toString
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    val src = AtomicTable(spark, s"$root/table", partCol = "label",
      defaultKeys = Seq("vec_id"), partType = _.toInt)
    src.init(emb)
    Warehouse.writePqIndex(emb, s"$root/idx", k = 8, dim = 64, m = 8,
      ks = 16, centroids = Some(Similarity.seedCentroids(8, 64)),
      codebooks = Some(Similarity.pqSeedCodebooks(8, 16, 8)))
    Warehouse.syncIndexFromTable(spark, src, s"$root/idx")
    val before = spark.sparkContext.getPersistentRDDs.size
    Seq(3L, 5L, 7L).foreach { id =>
      src.upsert(emb.filter($"vec_id" === id)
        .withColumn("embedding", reverse($"embedding")))
      assert(Warehouse.syncIndexFromTable(spark, src, s"$root/idx")
        .updated === 1L)
    }
    assert(spark.sparkContext.getPersistentRDDs.size === before)
  }

  test("serving state: every index verb invalidates it — the serve " +
    "after each equals a serve on a fresh build of the expected corpus") {
    import graft.pipelines.Similarity
    import graft.sources.AtomicTable
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    val cents = Similarity.seedCentroids(8, 64)
    val cb = Similarity.pqSeedCodebooks(8, 16, 8)
    val q = emb.filter($"vec_id" === 3).select("embedding")
      .collect()(0).getSeq[Float](0).map(_.toDouble).toArray
    // a copy of the query row under a fresh id: cosine 1, always top-5
    def twin(id: Long) = emb.filter($"vec_id" === 3)
      .withColumn("vec_id", lit(id))
    def serve(r: String) = Warehouse.ivfPqServe(spark, r, q, topK = 5,
      nprobe = 2, cand = 20).as[(Long, Double)].collect().toSeq
    // the reference: a fresh build of `corpus` under `root`'s current
    // model, served in its own cache scope so its state is freed
    def fresh(root: String, corpus: DataFrame) = Caches.withCaches { _ =>
      val ref = Files.createTempDirectory("graft_pq_state_ref").toString
      Warehouse.writePqIndex(corpus, ref, k = 8, dim = 64, m = 8,
        ks = 16, centroids = Some(Warehouse.readEmbeddingCentroids(root)),
        codebooks = Some(Warehouse.readPqCodebooks(root)))
      serve(ref)
    }
    def check(what: String, root: String, corpus: DataFrame) = {
      val got = serve(root)
      assert(serve(root) === got, s"$what: a warm serve answers the same")
      assert(got === fresh(root, corpus), what)
      got.map(_._1)
    }
    // 1. the index verbs, one after another on one index
    val root = Files.createTempDirectory("graft_pq_state").toString
    var corpus = emb.filter($"vec_id" % 5 =!= 0)
    Warehouse.writePqIndex(corpus, root, k = 8, dim = 64, m = 8,
      ks = 16, centroids = Some(cents), codebooks = Some(cb))
    check("fresh build", root, corpus)
    // the index deleted and rebuilt at the same path by another
    // process: the delta versions are still 0, so the base trees' file
    // listing is the only key that moves, and no write in this session
    // refreshes Spark's cache of the base trees' paths
    val side = Files.createTempDirectory("graft_pq_state_side").toString
    corpus = corpus.unionByName(twin(900002L))
    Warehouse.writePqIndex(corpus, side, k = 8, dim = 64, m = 8,
      ks = 16, centroids = Some(cents), codebooks = Some(cb))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    Files.move(java.nio.file.Paths.get(side), java.nio.file.Paths.get(root))
    assert(check("delete and rebuild at the same root", root, corpus)
      .contains(900002L))
    val delta = emb.filter($"vec_id" % 10 === 0).unionByName(twin(900001L))
    Warehouse.writePqDelta(delta, root, 0L)
    corpus = corpus.unionByName(delta)
    assert(check("writePqDelta", root, corpus).contains(900001L))
    val reversed = twin(900001L)
      .withColumn("embedding", reverse($"embedding"))
    assert(Warehouse.updateInPqIndex(spark, root, reversed) === 1L)
    corpus = corpus.filter($"vec_id" =!= 900001L).unionByName(reversed)
    assert(!check("updateInPqIndex", root, corpus).contains(900001L))
    assert(Warehouse.deleteFromPqIndex(spark, root, Seq(900002L)) === 1L)
    corpus = corpus.filter($"vec_id" =!= 900002L)
    assert(!check("deleteFromPqIndex", root, corpus).contains(900002L))
    assert(Warehouse.compactPqDeltas(spark, root) > 0)
    check("compactPqDeltas", root, corpus)
    assert(Warehouse.compactPqIndex(spark, root) === "v1")
    check("compactPqIndex", root, corpus)
    val drifted = emb.filter($"vec_id" % 5 === 0 && $"vec_id" % 10 =!= 0)
      .filter(Similarity.ivfCellAtNative($"embedding", cents) =!= 4)
    Warehouse.writePqDelta(drifted, root, 1L)
    corpus = corpus.unionByName(drifted)
    check("writePqDelta after the flip", root, corpus)
    assert(Warehouse.rebuildIfDrifted(spark, root) === Some("v2"))
    check("rebuildIfDrifted", root, corpus)
    // 2. CDC sync windows with inserts, updates and deletes; the
    // superseded state is freed before the next is built, so five
    // sync+serve rounds hold the persisted RDDs flat
    val cdc = Files.createTempDirectory("graft_pq_state_cdc").toString
    val src = AtomicTable(spark, s"$cdc/table", partCol = "label",
      defaultKeys = Seq("vec_id"), partType = _.toInt)
    src.init(emb)
    Warehouse.writePqIndex(emb, s"$cdc/idx", k = 8, dim = 64, m = 8,
      ks = 16, centroids = Some(cents), codebooks = Some(cb))
    Warehouse.syncIndexFromTable(spark, src, s"$cdc/idx")
    check("first sync", s"$cdc/idx", src.read())
    val labels = emb.select("label").distinct()
      .collect().map(_.get(0).toString).toSeq
    var held = -1
    (0 until 5).foreach { i =>
      val id = 910000L + i
      src.upsert(twin(id).unionByName(
        if (i == 0) twin(id).limit(0)
        else twin(id - 1).withColumn("embedding", reverse($"embedding"))))
      if (i > 1) assert(src.deleteWhere(labels, $"vec_id" === id - 2) === 1L)
      val stats = Warehouse.syncIndexFromTable(spark, src, s"$cdc/idx")
      assert(stats.inserted === 1L &&
        stats.updated === (if (i == 0) 0L else 1L) &&
        stats.deleted === (if (i > 1) 1L else 0L), s"window $i: $stats")
      val ids = check(s"sync window $i", s"$cdc/idx", src.read())
      assert(ids.contains(id) && !ids.contains(id - 1))
      val n = spark.sparkContext.getPersistentRDDs.size
      if (held < 0) held = n
      assert(n === held, s"window $i: persisted RDDs grew")
    }
  }

  test("delta commit crash is fully-old and a replay heals; compaction " +
    "racing an append is a clean OCC error") {
    import graft.pipelines.Similarity
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    val root = Files.createTempDirectory("graft_pq_crash").toString
    Warehouse.writePqIndex(emb.filter($"vec_id" % 5 =!= 0), root,
      k = 8, dim = 64, m = 8, ks = 16,
      centroids = Some(Similarity.seedCentroids(8, 64)),
      codebooks = Some(Similarity.pqSeedCodebooks(8, 16, 8)))
    val q = emb.filter($"vec_id" === 3).select("embedding")
      .collect()(0).getSeq[Float](0).map(_.toDouble).toArray
    def serve() = Warehouse.ivfPqServe(spark, root, q, topK = 5,
        nprobe = 2, cand = 20)
      .orderBy($"cosine".desc, $"vec_id")
      .as[(Long, Double)].collect().toSeq
    val baseOnly = serve()
    // crash at the SECOND pre-commit (the codes table's publish):
    // vectors committed, codes not — the worst in-between state
    var commits = 0
    val crashOnCodes: String => Unit = { p =>
      if (p == "pre-commit") {
        commits += 1
        if (commits == 2) sys.error("injected crash before codes commit")
      }
    }
    val b0 = emb.filter($"vec_id" % 10 === 0)
    intercept[RuntimeException] {
      Warehouse.writePqDelta(b0, root, 0L, failpoint = crashOnCodes)
    }
    // the serve is codes-driven: rows without committed codes are
    // invisible — answers as if the batch never arrived
    assert(serve() === baseOnly, "half-committed delta must not serve")
    // the replay heals: the vectors side skips on its txn mark, the
    // codes side completes its commit
    Warehouse.writePqDelta(b0, root, 0L)
    assert(serve().nonEmpty)
    assert(Warehouse.pqDeltaCodeTable(spark, root)
      .lastCommittedBatch("pq_delta") === Some(0L))
    // healed state ≡ one-shot build over base ∪ b0 (frozen model)
    val healedRoot = Files.createTempDirectory("graft_pq_heal").toString
    Warehouse.writePqIndex(
      emb.filter($"vec_id" % 5 =!= 0 || $"vec_id" % 10 === 0), healedRoot,
      k = 8, dim = 64, m = 8, ks = 16,
      centroids = Some(Similarity.seedCentroids(8, 64)),
      codebooks = Some(Similarity.pqSeedCodebooks(8, 16, 8)))
    assert(serve() === Warehouse.ivfPqServe(spark, healedRoot, q,
        topK = 5, nprobe = 2, cand = 20)
      .orderBy($"cosine".desc, $"vec_id")
      .as[(Long, Double)].collect().toSeq)
    // OCC: a compaction whose pre-commit window interleaves a delta
    // append loses the version race (the hard-link publish fails on
    // the existing version) — never a silent overwrite of the append.
    // With attempts=1 the loss surfaces as a clean
    // ConcurrentModificationException
    var raced = false
    val interleave: String => Unit = { p =>
      if (p == "pre-commit" && !raced) {
        raced = true
        Warehouse.writePqDelta(
          emb.filter($"vec_id" % 20 === 5), root, 1L)
      }
    }
    intercept[java.util.ConcurrentModificationException] {
      Warehouse.compactPqDeltas(spark, root, failpoint = interleave,
        attempts = 1)
    }
    // the append won the race and is served; a re-run compaction
    // (fresh version read) succeeds and changes nothing
    val afterRace = serve()
    Warehouse.compactPqDeltas(spark, root)
    assert(serve() === afterRace)
    // with the default bounded retry the maintenance entry SELF-HEALS:
    // it loses round one to a live append, re-reads the winner's
    // version, and folds the raced-in shard into the same merge
    var raced2 = false
    val interleave2: String => Unit = { p =>
      if (p == "pre-commit" && !raced2) {
        raced2 = true
        Warehouse.writePqDelta(
          emb.filter($"vec_id" % 20 === 15), root, 2L)
      }
    }
    assert(Warehouse.compactPqDeltas(spark, root,
      failpoint = interleave2) >= 1)
    assert(Warehouse.pqDeltaCodeTable(spark, root).dataDirCount === 1,
      "the raced-in shard must be folded by the retry, not left behind")
    assert(Warehouse.pqDeltaCodeTable(spark, root)
      .lastCommittedBatch("pq_delta") === Some(2L))
    // served answer ≡ one-shot build over base ∪ b0 ∪ both raced
    // appends (= every vector with vec_id%5==0, plus the %5!=0 base)
    val allRoot = Files.createTempDirectory("graft_pq_all").toString
    Warehouse.writePqIndex(emb, allRoot, k = 8, dim = 64, m = 8,
      ks = 16, centroids = Some(Similarity.seedCentroids(8, 64)),
      codebooks = Some(Similarity.pqSeedCodebooks(8, 16, 8)))
    assert(serve() === Warehouse.ivfPqServe(spark, allRoot, q,
        topK = 5, nprobe = 2, cand = 20)
      .orderBy($"cosine".desc, $"vec_id")
      .as[(Long, Double)].collect().toSeq)
  }

  test("q5b star join is shuffle-free between the bucketed fact tables") {
    val d = "/root/testdata/sf0.001"
    val q5b = SparkEntry.queries("q5b_star_bucketed")(spark, d)
    val plan = q5b.queryExecution.executedPlan.toString
    // the only hash shuffle left is the final groupBy — the fact-fact
    // join reads co-located buckets (a non-bucketed q5 carries three)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 1, plan)
    // and it returns exactly what the plain q5 plan returns
    val q5 = SparkEntry.queries("q5_star_revenue")(spark, d)
    assert(q5b.collect().toSeq === q5.collect().toSeq)
  }

  test("bucketed tables join without an exchange on the bucket key") {
    val a = (1 to 100).map(i => (i.toLong, i * 2.0)).toDF("k", "va")
    val b = (1 to 100).map(i => (i.toLong, s"n$i")).toDF("k", "vb")
    Warehouse.writeBucketed(a, "bkt_a", "k", 4)
    Warehouse.writeBucketed(b, "bkt_b", "k", 4)
    val joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
    val plan = joined.queryExecution.executedPlan.toString
    // co-located: no shuffle exchange feeding the join
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(joined.count() === 100)
    spark.sql("DROP TABLE IF EXISTS bkt_a")
    spark.sql("DROP TABLE IF EXISTS bkt_b")
  }

  test("empty seed never bricks a table; empty micro-batch is a " +
    "replay-safe skip") {
    import graft.sources.AtomicTable
    // partitionBy on zero rows writes NO part files, so a Star entry
    // over that dir would make every read die on schema inference —
    // and a txn-marked seed replay would then be fenced off from
    // healing it. The empty seed must advance version + txn mark
    // WITHOUT publishing a data entry.
    val root = Files.createTempDirectory("graft_empty_seed").toString
    val tbl = AtomicTable(spark, s"$root/t", partCol = "cell",
      defaultKeys = Seq("vec_id"), partType = _.toInt)
    val rows = Seq((1L, 0, "a"), (2L, 1, "b")).toDF("vec_id", "cell", "v")
    tbl.init(rows.limit(0), txn = Some(("s", 0L)))
    assert(tbl.version === 1L, "empty seed still commits the fence")
    assert(!tbl.hasData)
    assert(tbl.lastCommittedBatch("s") === Some(0L))
    val err = intercept[IllegalArgumentException](tbl.read())
    assert(err.getMessage.contains("empty seed"), err.getMessage)
    // the table is NOT bricked: the next non-empty batch populates it
    tbl.append(rows, txn = Some(("s", 1L)))
    assert(tbl.hasData)
    assert(tbl.read().count() === 2)
    // an int partition column: its type still comes from the dir names
    assert(tbl.read().schema("cell").dataType ===
      org.apache.spark.sql.types.IntegerType)
    TableProbes.assertReadsAsInferred(tbl)
    // a replay of the empty seed batch stays a no-op
    tbl.init(rows.limit(0), txn = Some(("s", 0L)))
    assert(tbl.read().count() === 2)

    // writePqDelta: an empty landing poll commits nothing at all —
    // replay-safe because the replayed batch is empty again
    import graft.pipelines.Similarity
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    val idxRoot = Files.createTempDirectory("graft_pq_empty").toString
    Warehouse.writePqIndex(emb, idxRoot, k = 8, dim = 64, m = 8, ks = 16,
      centroids = Some(Similarity.seedCentroids(8, 64)),
      codebooks = Some(Similarity.pqSeedCodebooks(8, 16, 8)))
    Warehouse.writePqDelta(emb.limit(0), idxRoot, 0L)
    assert(Warehouse.pqDeltaCodeTable(spark, idxRoot).version === 0L)
    assert(!Warehouse.hasPqDeltas(spark, idxRoot))
    // serving is unaffected and a later real batch commits normally
    val q = emb.filter($"vec_id" === 3).select("embedding")
      .collect()(0).getSeq[Float](0).map(_.toDouble).toArray
    assert(Warehouse.ivfPqServe(spark, idxRoot, q, topK = 3,
      nprobe = 2, cand = 20).count() === 3)
    Warehouse.writePqDelta(emb.filter($"vec_id" % 10 === 0), idxRoot, 1L)
    assert(Warehouse.hasPqDeltas(spark, idxRoot))
    assert(Warehouse.pqDeltaCodeTable(spark, idxRoot)
      .lastCommittedBatch("pq_delta") === Some(1L))
  }

  test("additive schema evolution: old dirs never rewritten, " +
    "null-filled reads, time travel keeps the old schema") {
    import graft.sources.AtomicTable
    val root = Files.createTempDirectory("graft_evo").toString
    val tbl = AtomicTable(spark, s"$root/t", partCol = "part",
      defaultKeys = Seq("id"))
    val v1 = Seq((1L, "a", 10), (2L, "b", 20), (3L, "a", 30))
      .toDF("id", "part", "x")
    tbl.init(v1)
    // evolved writers: insertIgnore and upsert both carry a NEW column
    tbl.insertIgnore(Seq((4L, "b", 40, 0.5), (2L, "b", 99, 9.9))
      .toDF("id", "part", "x", "score")) // id=2 ignored
    tbl.upsert(Seq((3L, "a", 31, 0.7)).toDF("id", "part", "x", "score"))
    val read = tbl.read()
    // partitioned parquet reads the partition column back LAST (Hive
    // layout); the evolved column appends after the committed schema
    assert(read.columns.toSeq === Seq("id", "x", "part", "score"),
      "committed columns keep position, evolved column appends")
    val byId = read.collect().map(r =>
      r.getLong(r.fieldIndex("id")) ->
        (r.getInt(r.fieldIndex("x")),
          Option(r.get(r.fieldIndex("score"))))).toMap
    assert(byId === Map(
      1L -> (10, None), 2L -> (20, None), // pre-evolution rows null-fill
      4L -> (40, Some(0.5)), 3L -> (31, Some(0.7))))
    // the seed dir was NEVER rewritten: its parquet still lacks the
    // column (evolution is a read-seam property, not a data rewrite)
    val seedDir = new java.io.File(s"$root/t/data").listFiles().minBy(_.lastModified)
    assert(!spark.read.parquet(seedDir.toString).columns.contains("score"))
    // time travel: the pre-evolution version still has its own schema
    assert(!tbl.readVersion(1L).columns.contains("score"))
    // a writer that OMITS an evolved column stages typed nulls
    tbl.insertIgnore(Seq((5L, "c", 50)).toDF("id", "part", "x"))
    assert(tbl.read().filter($"id" === 5L).select("score")
      .collect()(0).isNullAt(0))
    TableProbes.assertReadsAsInferred(tbl)
    // the evolved read is one scan, the appended column after partCol
    assert(TableProbes.scans(tbl.read()).size === 1)
    assert(tbl.read().columns.toSeq === Seq("id", "x", "part", "score"))
    // compact folds everything onto the full current schema
    tbl.compact()
    assert(tbl.dataDirCount === 1)
    assert(tbl.read().columns.toSet === Set("id", "x", "part", "score"))
    assert(tbl.read().count() === 5)

    // a column recorded as int in one dir and bigint in the next (and
    // one recorded as float, then double) reads as the wider type in
    // one scan, under the vectorized and the row-based parquet reader
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
    val widened = AtomicTable(spark, s"$root/w", partCol = "part",
      defaultKeys = Seq("id"))
    widened.init(Seq((1L, "a", 10, 1.5f)).toDF("id", "part", "x", "y"))
    widened.append(Seq((2L, "a", 20L, 2.5)).toDF("id", "part", "x", "y"))
    val vectorized = "spark.sql.parquet.enableVectorizedReader"
    val prior = spark.conf.getOption(vectorized)
    try Seq("true", "false").foreach { on =>
      spark.conf.set(vectorized, on)
      val w = widened.read()
      assert(TableProbes.scans(w).size === 1, s"one scan, vectorized=$on")
      assert(w.schema("x").dataType === LongType)
      assert(w.schema("y").dataType === DoubleType)
      assert(w.select("id", "x", "y").as[(Long, Long, Double)].collect()
        .sorted.toSeq === Seq((1L, 10L, 1.5), (2L, 20L, 2.5)),
        s"vectorized=$on")
    } finally prior.fold(spark.conf.unset(vectorized))(
      spark.conf.set(vectorized, _))
    // a type the parquet reader cannot widen fails at resolve, naming
    // the column and both types
    val clash = AtomicTable(spark, s"$root/c", partCol = "part",
      defaultKeys = Seq("id"))
    clash.init(Seq((1L, "a", 10)).toDF("id", "part", "x"))
    clash.append(Seq((2L, "a", "20")).toDF("id", "part", "x"))
    val err = intercept[IllegalArgumentException](clash.read())
    assert(Seq("column x", "int", "string").forall(err.getMessage.contains),
      err.getMessage)
    // a sidecar that records only the data columns (no partCol) joins
    // the same one scan, the partition type taken from the dir names,
    // and plans with no job; a dir with no sidecar at all pays one
    // footer-inference job; compact rewrites both with full sidecars
    val legacy = AtomicTable(spark, s"$root/l", partCol = "part",
      defaultKeys = Seq("id"))
    legacy.init(Seq((1L, "a", 10)).toDF("id", "part", "x"))
    val Array(legacyDir) = new java.io.File(s"$root/l/data").listFiles()
    Files.writeString(legacyDir.toPath.resolve("_schema"),
      Seq((1L, 10)).toDF("id", "x").schema.json)
    legacy.append(Seq((2L, "b", 20)).toDF("id", "part", "x"))
    def legacyRows = legacy.read().select("id", "part", "x")
      .as[(Long, String, Int)].collect().sorted.toSeq
    val (plan, planJobs) = TableProbes.jobsDuring(spark)(legacy.read())
    assert(planJobs === 0, "a data-only sidecar plans with no job")
    assert(TableProbes.scans(plan).size === 1, "one scan")
    assert(plan.schema("part").dataType === StringType)
    assert(legacyRows === Seq((1L, "a", 10), (2L, "b", 20)))
    Files.delete(legacyDir.toPath.resolve("_schema"))
    val (bare, bareJobs) = TableProbes.jobsDuring(spark)(legacy.read())
    assert(bareJobs === 1, "a sidecar-less dir costs one inference job")
    assert(TableProbes.scans(bare).size === 1, "one scan")
    assert(legacyRows === Seq((1L, "a", 10), (2L, "b", 20)))
    legacy.compact()
    assert(legacy.dataDirCount === 1)
    assert(TableProbes.jobsDuring(spark)(legacy.read())._2 === 0)
    assert(TableProbes.scans(legacy.read()).size === 1)
    assert(legacyRows === Seq((1L, "a", 10), (2L, "b", 20)))
    // a partition column two dirs type differently (numeric-looking dir
    // names inferred as int, a later sidecar's string) reads as a
    // string: the dir names verbatim
    val mixed = AtomicTable(spark, s"$root/m", partCol = "part",
      defaultKeys = Seq("id"))
    mixed.init(Seq((1L, "0700", 10)).toDF("id", "part", "x"))
    val Array(mixedDir) = new java.io.File(s"$root/m/data").listFiles()
    Files.delete(mixedDir.toPath.resolve("_schema"))
    assert(spark.read.parquet(mixedDir.toString).schema("part").dataType ===
      org.apache.spark.sql.types.IntegerType, "the dir names infer int")
    mixed.append(Seq((2L, "AAPL", 20)).toDF("id", "part", "x"))
    assert(mixed.read().schema("part").dataType === StringType)
    assert(mixed.read().select("id", "part").as[(Long, String)].collect()
      .sorted.toSeq === Seq((1L, "0700"), (2L, "AAPL")))
  }

  test("zone-map stats skip non-intersecting commits; pruning never " +
    "changes an answer") {
    import graft.sources.AtomicTable
    val root = Files.createTempDirectory("graft_zone_spec").toString
    val tbl = AtomicTable(spark, s"$root/t", partCol = "part",
      defaultKeys = Seq("id"), statsCol = Some("id"))
    def batch(lo: Long, hi: Long) = (lo to hi)
      .map(i => (i, if (i % 2 == 0) "a" else "b", i * 10))
      .toDF("id", "part", "x")
    tbl.init(batch(1, 100))
    tbl.append(batch(101, 200))
    tbl.append(batch(201, 300))
    tbl.append(batch(301, 400))
    assert(tbl.dataDirCount === 4)
    // interior probe: only the second commit's range intersects — the
    // skip is asserted on the resolved dir list, not inferred from I/O
    assert(tbl.zoneSurvivors(120L, 180L).size === 1,
      "three of four commits pruned before any scan is planned")
    val got = tbl.readRange(120L, 180L).agg(count(lit(1)), sum($"x"))
      .collect()(0)
    assert(got.getLong(0) === 61L)
    assert(got.getLong(1) === (120L to 180L).map(_ * 10).sum)
    // straddling probe keeps both touched commits, result still exact
    assert(tbl.zoneSurvivors(190L, 210L).size === 2)
    assert(tbl.readRange(190L, 210L).count() === 21)
    // a probe outside every zone plans no scan but keeps the schema
    assert(tbl.zoneSurvivors(1000L, 2000L).isEmpty)
    val empty = tbl.readRange(1000L, 2000L)
    assert(empty.columns.contains("x"))
    assert(empty.count() === 0)
    // conservative under reassignment: the upsert pulls partition "a"
    // out of every original dir into one new dir; the originals keep
    // their superset min/max, so pruning may under-skip afterwards but
    // the probed answer (with the updated row) is unchanged
    tbl.upsert(Seq((150L, "a", -1L)).toDF("id", "part", "x"))
    val after = tbl.readRange(120L, 180L)
    assert(after.filter($"id" === 150L).select("x")
      .collect()(0).getLong(0) === -1L)
    assert(after.count() === 61)
    // a dir committed before the column opted in has no zone line and
    // is never skipped
    val plain = AtomicTable(spark, s"$root/u", partCol = "part",
      defaultKeys = Seq("id"))
    plain.init(batch(1, 50))
    val opted = AtomicTable(spark, s"$root/u", partCol = "part",
      defaultKeys = Seq("id"), statsCol = Some("id"))
    opted.append(batch(51, 100))
    assert(opted.zoneSurvivors(60L, 70L).size === 2,
      "stats-less dir always read")
    assert(opted.readRange(60L, 70L).count() === 11)
  }

  test("bloom sidecars skip commits that cannot hold a point-lookup " +
    "key; probing never changes an answer") {
    import graft.sources.AtomicTable
    val root = Files.createTempDirectory("graft_bloom_spec").toString
    val tbl = AtomicTable(spark, s"$root/t", partCol = "part",
      defaultKeys = Seq("id"), bloomCol = Some("id"))
    def batch(lo: Long, hi: Long) = (lo to hi)
      .map(i => (i, if (i % 2 == 0) "a" else "b", i * 10))
      .toDF("id", "part", "x")
    tbl.init(batch(1, 100))
    tbl.append(batch(101, 200))
    tbl.append(batch(201, 300))
    tbl.append(batch(301, 400))
    assert(tbl.dataDirCount === 4)
    // a key in the third commit probes exactly one dir (FPR at this
    // fill is ~1e-10 per dir, and the data is fixed — deterministic)
    assert(tbl.bloomSurvivors(250L).size === 1,
      "three of four commits ruled out before any scan is planned")
    val hit = tbl.readPoint(250L).collect()
    assert(hit.length === 1 && hit(0).getAs[Long]("x") === 2500L)
    // an absent key misses every filter: no scan planned, schema kept
    assert(tbl.bloomSurvivors(99999L).isEmpty)
    val miss = tbl.readPoint(99999L)
    assert(miss.columns.contains("x") && miss.count() === 0)
    // conservative under reassignment: the upsert pulls partition "a"
    // out of every original dir; originals keep superset filters, so
    // the probe may under-skip but the answer carries the update
    tbl.upsert(Seq((250L, "a", -1L)).toDF("id", "part", "x"))
    val after = tbl.readPoint(250L).collect()
    assert(after.length === 1 && after(0).getAs[Long]("x") === -1L)
    // a dir committed before the column opted in has no sidecar and is
    // always read; a sidecar built over a DIFFERENT column never skips
    val plain = AtomicTable(spark, s"$root/u", partCol = "part",
      defaultKeys = Seq("id"))
    plain.init(batch(1, 50))
    val opted = AtomicTable(spark, s"$root/u", partCol = "part",
      defaultKeys = Seq("id"), bloomCol = Some("id"))
    opted.append(batch(51, 100))
    assert(opted.bloomSurvivors(60L).size === 2, "sidecar-less dir read")
    assert(opted.readPoint(60L).count() === 1)
    val otherCol = AtomicTable(spark, s"$root/u", partCol = "part",
      defaultKeys = Seq("id"), bloomCol = Some("x"))
    assert(otherCol.bloomSurvivors(10L).size === 2,
      "column-mismatched sidecar never skips")
  }

  test("readPoint plans with no Spark job: bloom probe positions are " +
    "evaluated on the driver") {
    import graft.sources.AtomicTable
    val root = Files.createTempDirectory("graft_bloom_nojob").toString
    val tbl = AtomicTable(spark, s"$root/t", partCol = "part",
      defaultKeys = Seq("id"), bloomCol = Some("id"))
    def batch(lo: Long, hi: Long) = (lo to hi)
      .map(i => (i, if (i % 2 == 0) "a" else "b", i * 10))
      .toDF("id", "part", "x")
    tbl.init(batch(1, 100))
    tbl.append(batch(101, 200))
    val (hit, hitJobs) = TableProbes.jobsDuring(spark)(tbl.readPoint(150L))
    assert(hitJobs === 0)
    assert(hit.select("x").as[Long].collect().toSeq === Seq(1500L))
    val (miss, missJobs) =
      TableProbes.jobsDuring(spark)(tbl.readPoint(99999L))
    assert(missJobs === 0)
    assert(miss.count() === 0)
  }

  test("skipping reads push the residual predicate into the surviving " +
    "parquet scans") {
    import graft.sources.AtomicTable
    val root = Files.createTempDirectory("graft_push_spec").toString
    val tbl = AtomicTable(spark, s"$root/t", partCol = "part",
      defaultKeys = Seq("id"), statsCol = Some("id"),
      bloomCol = Some("id"))
    def batch(lo: Long, hi: Long) = (lo to hi)
      .map(i => (i, if (i % 2 == 0) "a" else "b", i * 10))
      .toDF("id", "part", "x")
    tbl.init(batch(1, 100))
    tbl.append(batch(101, 200))
    // a surviving dir may hold rows outside the probe, so the bound
    // must still reach the scan as a pushed row-group filter — zone
    // maps prune COMMITS, parquet stats then prune row groups
    val rangePlan = tbl.readRange(120L, 180L)
      .queryExecution.executedPlan.toString
    assert(rangePlan.contains("GreaterThanOrEqual(id,120)")
        && rangePlan.contains("LessThanOrEqual(id,180)"),
      s"range bound not pushed:\n$rangePlan")
    val pointPlan = tbl.readPoint(150L)
      .queryExecution.executedPlan.toString
    assert(pointPlan.contains("EqualTo(id,150)"),
      s"point equality not pushed:\n$pointPlan")
  }

  test("re-clustering by the stats column turns useless zones into " +
    "1-of-N range probes without changing answers") {
    import graft.sources.AtomicTable
    val root = Files.createTempDirectory("graft_cluster_spec").toString
    val tbl = AtomicTable(spark, s"$root/t", partCol = "part",
      defaultKeys = Seq("id"), statsCol = Some("id"))
    def slice(r: Long) = (1L to 400L).filter(_ % 4 == r)
      .map(i => (i, if (i % 2 == 0) "a" else "b", i * 10))
      .toDF("id", "part", "x")
    // ingest order uncorrelated with the key: every commit spans the
    // whole id domain, so zone maps can skip NOTHING for an interior
    // probe — the layout, not the stats, is what's wrong
    tbl.init(slice(0))
    (1L to 3L).foreach(r => tbl.append(slice(r)))
    assert(tbl.zoneSurvivors(120L, 180L).size === 4,
      "interleaved commits leave zero skip")
    val before = tbl.readRange(120L, 180L)
      .agg(count(lit(1)), sum($"x")).collect()(0)
    tbl.clusterByStats(4)
    assert(tbl.history().last._2 === "cluster")
    // the probe now touches the one or two shards whose range overlaps
    val surv = tbl.zoneSurvivors(120L, 180L).size
    assert(surv <= 2 && surv >= 1,
      s"clustered layout must bound the probe, read $surv of " +
        s"${tbl.dataDirCount}")
    val after = tbl.readRange(120L, 180L)
      .agg(count(lit(1)), sum($"x")).collect()(0)
    assert(after.getLong(0) === before.getLong(0))
    assert(after.getLong(1) === before.getLong(1))
    assert(tbl.read().count() === 400L, "clustering rewrites, never drops")
  }

  test("change data feed diffs manifests, not the corpus") {
    import graft.sources.AtomicTable
    val root = Files.createTempDirectory("graft_cdf_spec").toString
    val tbl = AtomicTable(spark, s"$root/t", partCol = "part",
      defaultKeys = Seq("id"))
    def batch(lo: Long, hi: Long) = (lo to hi)
      .map(i => (i, if (i % 2 == 0) "a" else "b", i * 10))
      .toDF("id", "part", "x")
    tbl.init(batch(1, 100))     // v1
    tbl.append(batch(101, 200)) // v2
    // append-only span: the feed is exactly the new rows, and the plan
    // carries no Except at all — unchanged entries cancel by manifest
    // identity, so nothing of v1 is even read
    val feed12 = tbl.changesBetween(1, 2)
    assert(feed12.filter($"change_type" === "insert").count() === 100)
    assert(feed12.filter($"change_type" === "delete").count() === 0)
    assert(!feed12.queryExecution.optimizedPlan.toString.contains("Except"),
      "append-only feed reads only the new dirs")
    // identical versions: empty feed with the schema intact
    val none = tbl.changesBetween(2, 2)
    assert(none.columns.contains("change_type") && none.count() === 0)
    // an upsert surfaces as its delete+insert pair, and ONLY that pair
    // — the rewritten partition's unchanged rows cancel in the diff
    tbl.upsert(Seq((150L, "a", -1L)).toDF("id", "part", "x")) // v3
    val feed23 = tbl.changesBetween(2, 3).collect()
    assert(feed23.length === 2)
    val byType = feed23.groupBy(_.getAs[String]("change_type"))
    assert(byType("insert").head.getAs[Long]("x") === -1L)
    assert(byType("delete").head.getAs[Long]("x") === 1500L)
    // a delete surfaces as deletes only
    tbl.deleteWhere(Seq("b"), $"id" <= 10) // v4: odd ids 1..9
    val feed34 = tbl.changesBetween(3, 4)
    assert(feed34.filter($"change_type" === "delete").count() === 5)
    assert(feed34.filter($"change_type" === "insert").count() === 0)
    // spans compose: (2,4) carries the upsert pair plus the deletes
    val feed24 = tbl.changesBetween(2, 4)
    assert(feed24.filter($"change_type" === "insert").count() === 1)
    assert(feed24.filter($"change_type" === "delete").count() === 6)
    // a vacuumed endpoint fails loudly instead of diffing wrong
    tbl.vacuum()
    val err = intercept[RuntimeException](tbl.changesBetween(1, 4))
    assert(err.getMessage.contains("vacuumed or never committed"))
  }

  test("vacuum retention window keeps superseded versions readable; " +
    "default reclaims them") {
    import graft.sources.AtomicTable
    val root = Files.createTempDirectory("graft_vac").toString
    val tbl = AtomicTable(spark, s"$root/t", partCol = "part",
      defaultKeys = Seq("id"))
    tbl.init(Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "part", "x"))
    tbl.upsert(Seq((1L, "a", 11)).toDF("id", "part", "x")) // v2
    tbl.upsert(Seq((2L, "b", 22)).toDF("id", "part", "x")) // v3
    // the operation log names what produced each version
    assert(tbl.history().map { case (v, op, _) => (v, op) } ===
      Seq((1L, "init"), (2L, "upsert"), (3L, "upsert")))
    assert(tbl.history().forall(_._3 > 0L), "commit epochs recorded")
    // within the grace window nothing is reclaimed: a reader that
    // resolved v1/v2 mid-vacuum keeps its dirs, time travel keeps
    // every version
    tbl.vacuum(retainMs = 60 * 60 * 1000L)
    assert(tbl.versions === Seq(1L, 2L, 3L))
    assert(tbl.readVersion(1L).filter($"id" === 1L)
      .select("x").collect()(0).getInt(0) === 10)
    assert(tbl.readVersion(2L).filter($"id" === 1L)
      .select("x").collect()(0).getInt(0) === 11)
    // default: only the current manifest (and its dirs) survive
    tbl.vacuum()
    assert(tbl.versions === Seq(3L))
    assert(tbl.history().map(_._2) === Seq("upsert"))
    intercept[RuntimeException](tbl.readVersion(1L))
    assert(tbl.read().orderBy("id").select("x")
      .collect().map(_.getInt(0)).toSeq === Seq(11, 22))
  }

  test("concurrent writers under retryOnConflict serialize cleanly") {
    import graft.sources.AtomicTable
    // four genuinely-concurrent writers, each committing two disjoint
    // batches through the bounded OCC loop: every version race is
    // lost-and-retried (never overwritten), so the final table holds
    // every row exactly once and the history shows one commit per
    // batch — the serializability the hard-link publish promises
    val root = Files.createTempDirectory("graft_occ_mw").toString
    val tbl = AtomicTable(spark, s"$root/t", partCol = "part",
      defaultKeys = Seq("id"))
    tbl.init(Seq((0L, "seed", 0)).toDF("id", "part", "x"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val writes = (1 to 4).map { w =>
      scala.concurrent.Future {
        // each thread needs the shared session active on ITS thread
        org.apache.spark.sql.SparkSession.setActiveSession(spark)
        (0 until 2).foreach { b =>
          val base = (w * 100 + b * 10).toLong
          AtomicTable.retryOnConflict(attempts = 40) {
            tbl.insertIgnore((0 until 3).map(i =>
              (base + i, s"p$w", w * 1000 + i)).toDF("id", "part", "x"))
          }
        }
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(writes),
      scala.concurrent.duration.Duration(120, "s"))
    pool.shutdown()
    assert(tbl.read().count() === 1 + 4 * 2 * 3,
      "every batch committed exactly once")
    assert(tbl.version === 9L, "one version per commit, none skipped")
    assert(tbl.history().map(_._2) ===
      "init" +: Seq.fill(8)("insert"))
  }

  test("CDC index sync: the change feed drives all three verbs, " +
    "re-sync is a no-op, crash prefixes replay to convergence, and " +
    "resurrection needs the compact escape hatch") {
    import graft.pipelines.Similarity
    import graft.sources.AtomicTable
    val root = Files.createTempDirectory("graft_cdc_sync").toString
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    val src = AtomicTable(spark, s"$root/table", partCol = "label",
      defaultKeys = Seq("vec_id"), partType = _.toInt)
    src.init(emb)
    Warehouse.writePqIndex(emb, s"$root/idx", k = 8, dim = 64, m = 8,
      ks = 16, centroids = Some(Similarity.seedCentroids(8, 64)),
      codebooks = Some(Similarity.pqSeedCodebooks(8, 16, 8)))
    def liveOf(id: Long) = Warehouse
      .readEmbeddingsByCellLive(spark, s"$root/idx")
      .filter($"vec_id" === id)
    // first sync (no fence yet) reconciles the whole seed table as
    // content-identical — nothing committed, fence lands at v1
    val first = Warehouse.syncIndexFromTable(spark, src, s"$root/idx")
    assert(first.inserted === 0L && first.updated === 0L &&
      first.deleted === 0L && first.unchanged === emb.count())
    // three ordinary table commits: update id 3, delete id 5,
    // insert a fresh id 9001
    src.upsert(emb.filter($"vec_id" === 3)
      .withColumn("embedding", reverse($"embedding")))
    val labels = emb.select("label").distinct()
      .collect().map(_.get(0).toString).toSeq
    assert(src.deleteWhere(labels, $"vec_id" === 5) === 1L)
    src.insertIgnore(emb.filter($"vec_id" === 1)
      .withColumn("vec_id", lit(9001L))
      .withColumn("embedding", reverse($"embedding")))
    val stats = Warehouse.syncIndexFromTable(spark, src, s"$root/idx")
    assert(stats.inserted === 1L && stats.updated === 1L &&
      stats.deleted === 1L && stats.unchanged === 0L)
    val upd3 = emb.filter($"vec_id" === 3)
      .withColumn("embedding", reverse($"embedding"))
      .select("embedding").as[Seq[Float]].head()
    assert(liveOf(3L).select("embedding").as[Seq[Float]].head()
      === upd3, "the table's updated vector serves")
    assert(liveOf(5L).count() === 0L, "the table delete took down 5")
    assert(liveOf(9001L).count() === 1L, "the table insert appended")
    // unchanged table → version-compare-only no-op
    val again = Warehouse.syncIndexFromTable(spark, src, s"$root/idx")
    assert(again.inserted + again.updated + again.deleted +
      again.unchanged === 0L && again.fromVersion === again.toVersion)
    // crash at every failpoint in turn: each replay starts from the
    // un-advanced fence, re-derives the SAME window, skips the verbs
    // that committed, and completes the rest — converging without
    // doubles. (A mid-sync crash leaves a per-id-consistent PREFIX:
    // committed appends are already visible, which is the documented
    // contract, not an anomaly.)
    src.upsert(emb.filter($"vec_id" === 7)
      .withColumn("embedding", reverse($"embedding")))
    assert(src.deleteWhere(labels, $"vec_id" === 11) === 1L)
    src.insertIgnore(emb.filter($"vec_id" === 2)
      .withColumn("vec_id", lit(9002L)))
    Seq("cdc_before_ins", "cdc_before_upd", "cdc_before_del",
      "cdc_before_fence").foreach { fp =>
      intercept[RuntimeException] {
        Warehouse.syncIndexFromTable(spark, src, s"$root/idx",
          failpoint = p => if (p == fp) sys.error(s"crash at $p"))
      }
    }
    val healed = Warehouse.syncIndexFromTable(spark, src, s"$root/idx")
    // the cascading replays already landed every verb before the
    // final fence crash; the clean run just advances the fence
    assert(healed.inserted + healed.updated + healed.deleted === 0L,
      s"cascaded replays must have converged, got $healed")
    assert(liveOf(7L).count() === 1L && liveOf(9002L).count() === 1L &&
      liveOf(11L).count() === 0L, "the crashed window landed whole")
    assert(Warehouse.readPqCodesLive(spark, s"$root/idx")
      .groupBy($"vec_id").count().filter($"count" > 1).isEmpty,
      "no id is ever doubled by a replayed window")
    // RESURRECTION: take 3 down via the table, sync, re-insert it —
    // the default refuses (takedown-wins), the escape hatch compacts
    // (taken ids die physically) and lands the re-insert as an append
    assert(src.deleteWhere(labels, $"vec_id" === 3) === 1L)
    assert(Warehouse.syncIndexFromTable(spark, src, s"$root/idx")
      .deleted === 1L)
    src.insertIgnore(emb.filter($"vec_id" === 3))
    val e = intercept[IllegalStateException] {
      Warehouse.syncIndexFromTable(spark, src, s"$root/idx")
    }
    assert(e.getMessage.contains("takedown"))
    val res = Warehouse.syncIndexFromTable(spark, src, s"$root/idx",
      onReinstate = "compact")
    assert(res.inserted === 1L, s"re-insert lands as an append: $res")
    assert(liveOf(3L).select("embedding").as[Seq[Float]].head() ===
      emb.filter($"vec_id" === 3).select("embedding")
        .as[Seq[Float]].head(),
      "the resurrected id serves the table's (original) vector")
    // and the whole index still mirrors the table exactly
    val tbl = src.read().select($"vec_id").as[Long].collect().toSet
    val idx = Warehouse.readPqCodesLive(spark, s"$root/idx")
      .select($"vec_id").as[Long].collect().toSet
    assert(idx === tbl, "index id space ≡ table id space after it all")
  }

  test("CDC sync: a crash INSIDE a verb replayed under a MOVED " +
    "batchId (table advanced in between) converges without doubles") {
    // The per-verb fences use the window-end table version as batchId.
    // If the sync crashes inside a verb (between a verb's own two
    // commits) and the TABLE commits again before the replay, the
    // replay re-runs the verb under a LARGER batchId — the per-table
    // (stream, batchId) marks no longer skip the already-landed rows,
    // so only content-level dedup keeps 'no id is ever doubled' true.
    import graft.pipelines.Similarity
    import graft.sources.AtomicTable
    val root = Files.createTempDirectory("graft_cdc_moved").toString
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    val src = AtomicTable(spark, s"$root/table", partCol = "label",
      defaultKeys = Seq("vec_id"), partType = _.toInt)
    src.init(emb)
    Warehouse.writePqIndex(emb, s"$root/idx", k = 8, dim = 64, m = 8,
      ks = 16, centroids = Some(Similarity.seedCentroids(8, 64)),
      codebooks = Some(Similarity.pqSeedCodebooks(8, 16, 8)))
    assert(Warehouse.syncIndexFromTable(spark, src, s"$root/idx")
      .unchanged === emb.count())
    def liveEmb(id: Long) = Warehouse
      .readEmbeddingsByCellLive(spark, s"$root/idx")
      .filter($"vec_id" === id)
    def committedCopies(id: Long): (Long, Long) = (
      Warehouse.readEmbeddingsByCellAll(spark, s"$root/idx")
        .filter($"vec_id" === id).count(),
      Warehouse.readPqCodesAll(spark, s"$root/idx")
        .filter($"vec_id" === id).count())
    // --- INSERT verb: crash between its emb and codes commits ---
    src.insertIgnore(emb.filter($"vec_id" === 1)
      .withColumn("vec_id", lit(9100L)))
    // commit order inside this window (insert-only): emb append,
    // codes append, delete-verb mark-only, master fence — the 2nd
    // pre-commit is writePqDelta's in-between state
    var commits = 0
    intercept[RuntimeException] {
      Warehouse.syncIndexFromTable(spark, src, s"$root/idx",
        failpoint = p => if (p == "pre-commit") {
          commits += 1
          if (commits == 2) sys.error("crash between emb and codes")
        })
    }
    // emb landed, codes did not — and now the table ADVANCES before
    // the replay, so the replay's batchId is larger than the mark
    src.insertIgnore(emb.filter($"vec_id" === 2)
      .withColumn("vec_id", lit(9101L)))
    val healed = Warehouse.syncIndexFromTable(spark, src, s"$root/idx")
    assert(healed.inserted === 2L, s"both inserts land: $healed")
    assert(committedCopies(9100L) === ((1L, 1L)),
      "the crashed insert's emb row must NOT land twice under the " +
        "replay's larger batchId")
    assert(liveEmb(9100L).count() === 1L && liveEmb(9101L).count() === 1L)
    // --- UPDATE verb: crash before its mark flip ---
    src.upsert(emb.filter($"vec_id" === 3)
      .withColumn("embedding", reverse($"embedding")))
    intercept[RuntimeException] {
      Warehouse.syncIndexFromTable(spark, src, s"$root/idx",
        failpoint = p =>
          if (p == "update_before_flip") sys.error("crash before flip"))
    }
    // delta rows for id 3 landed at _seq 1, invisible; table advances
    src.insertIgnore(emb.filter($"vec_id" === 2)
      .withColumn("vec_id", lit(9102L)))
    val healed2 = Warehouse.syncIndexFromTable(spark, src, s"$root/idx")
    assert(healed2.updated === 1L && healed2.inserted === 1L,
      s"replayed update + new insert: $healed2")
    val upd3 = emb.filter($"vec_id" === 3)
      .withColumn("embedding", reverse($"embedding"))
      .select("embedding").as[Seq[Float]].head()
    assert(liveEmb(3L).select("embedding").as[Seq[Float]].collect()
      .toSeq === Seq(upd3),
      "exactly ONE live copy of the updated id, with the new vector")
    // the committed multiset carries base + exactly one update copy
    assert(committedCopies(3L) === ((2L, 2L)),
      "the crashed update's delta rows must not land twice")
    // compaction bakes the live view — still no doubles afterwards
    Warehouse.compactPqIndex(spark, s"$root/idx")
    assert(Warehouse.readPqCodesLive(spark, s"$root/idx")
      .groupBy($"vec_id").count().filter($"count" > 1).isEmpty,
      "no id is doubled after compaction bakes the healed state")
    assert(liveEmb(3L).select("embedding").as[Seq[Float]].head()
      === upd3)
  }

  test("CDC sync: a verb crash replayed with CHANGED content for the " +
    "same id serves the latest vector, emb and codes agreeing") {
    // The r16 ADVICE hole: dedupBySeq keyed on (id, _seq) alone. An
    // update verb that crashes between its emb and codes appends
    // strands the OLD-new vector in emb; if the same id is updated
    // AGAIN in the table before the replay, the replay used to
    // re-derive the strand's _seq from the live view, the (id, _seq)
    // dedup dropped the NEW emb row, and the mark flip enabled the
    // stale emb vector next to the new codes — a forked index the
    // fence can't see and compaction preserves. The strand-aware
    // _cur must supersede the mismatching strand at a fresh _seq.
    import graft.pipelines.Similarity
    import graft.sources.AtomicTable
    val root = Files.createTempDirectory("graft_cdc_fork").toString
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    val src = AtomicTable(spark, s"$root/table", partCol = "label",
      defaultKeys = Seq("vec_id"), partType = _.toInt)
    src.init(emb)
    val cents = Some(Similarity.seedCentroids(8, 64))
    val books = Some(Similarity.pqSeedCodebooks(8, 16, 8))
    Warehouse.writePqIndex(emb, s"$root/idx", k = 8, dim = 64, m = 8,
      ks = 16, centroids = cents, codebooks = books)
    assert(Warehouse.syncIndexFromTable(spark, src, s"$root/idx")
      .unchanged === emb.count())
    // update id 3 → v2; the sync's update verb crashes between its
    // emb append and its codes append: emb strands v2, codes have
    // nothing, the mark never flips
    src.upsert(emb.filter($"vec_id" === 3)
      .withColumn("embedding", reverse($"embedding")))
    intercept[RuntimeException] {
      Warehouse.syncIndexFromTable(spark, src, s"$root/idx",
        failpoint = p => if (p == "update_between_emb_codes")
          sys.error("crash between emb and codes"))
    }
    // the SAME id advances again before the replay: v3 ≠ v2
    val v3df = emb.filter($"vec_id" === 3)
      .withColumn("embedding",
        expr("transform(embedding, x -> x * 2.0F)"))
    src.upsert(v3df)
    val healed = Warehouse.syncIndexFromTable(spark, src, s"$root/idx")
    assert(healed.updated === 1L, s"the replay lands ONE update: $healed")
    // the live view serves exactly one copy of id 3, with v3 — the
    // stale v2 strand must be dead, not enabled by the replay's flip
    val v3 = v3df.select("embedding").as[Seq[Float]].head()
    assert(Warehouse.readEmbeddingsByCellLive(spark, s"$root/idx")
      .filter($"vec_id" === 3).select("embedding").as[Seq[Float]]
      .collect().toSeq === Seq(v3),
      "one live emb row, carrying the table's LATEST vector")
    assert(Warehouse.readPqCodesLive(spark, s"$root/idx")
      .filter($"vec_id" === 3).count() === 1L)
    // emb/codes agreement: the live code must equal the code a fresh
    // index built from the final table state (same frozen model)
    // assigns — i.e. the codes side encodes v3, not v2
    Warehouse.writePqIndex(src.read(), s"$root/fresh", k = 8, dim = 64,
      m = 8, ks = 16, centroids = cents, codebooks = books)
    def codeOf(r: String) = Warehouse.readPqCodesLive(spark, r)
      .filter($"vec_id" === 3).select($"code").as[Seq[Int]].head()
    assert(codeOf(s"$root/idx") === codeOf(s"$root/fresh"),
      "the live codes row encodes the latest vector — no emb/codes fork")
    // the heal is durable: compaction bakes it, a re-sync no-ops
    Warehouse.compactPqIndex(spark, s"$root/idx")
    assert(Warehouse.readEmbeddingsByCellLive(spark, s"$root/idx")
      .filter($"vec_id" === 3).select("embedding").as[Seq[Float]]
      .head() === v3)
    val again = Warehouse.syncIndexFromTable(spark, src, s"$root/idx")
    assert(again.inserted + again.updated + again.deleted +
      again.unchanged === 0L)
  }

  test("CDC sync: FIRST sync takes down index ids the table does not " +
    "hold — a superset-seeded index converges to the table's id space") {
    import graft.pipelines.Similarity
    import graft.sources.AtomicTable
    val root = Files.createTempDirectory("graft_cdc_orphan").toString
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    // index seeded from the FULL corpus; table holds only a subset
    val subset = emb.filter($"vec_id" % 7 =!= 0)
    val src = AtomicTable(spark, s"$root/table", partCol = "label",
      defaultKeys = Seq("vec_id"), partType = _.toInt)
    src.init(subset)
    Warehouse.writePqIndex(emb, s"$root/idx", k = 8, dim = 64, m = 8,
      ks = 16, centroids = Some(Similarity.seedCentroids(8, 64)),
      codebooks = Some(Similarity.pqSeedCodebooks(8, 16, 8)))
    val orphans = emb.filter($"vec_id" % 7 === 0).count()
    val first = Warehouse.syncIndexFromTable(spark, src, s"$root/idx")
    assert(first.deleted === orphans,
      s"first sync must take down the $orphans orphan ids: $first")
    assert(first.unchanged === subset.count() && first.inserted === 0L)
    val idx = Warehouse.readPqCodesLive(spark, s"$root/idx")
      .select($"vec_id").as[Long].collect().toSet
    val tbl = subset.select($"vec_id").as[Long].collect().toSet
    assert(idx === tbl, "index id space ≡ table id space after seed " +
      "from a superset")
    // and the reconcile is once-only: a re-sync is a version-compare
    // no-op, not a repeated index-sized scan
    val again = Warehouse.syncIndexFromTable(spark, src, s"$root/idx")
    assert(again.inserted + again.updated + again.deleted +
      again.unchanged === 0L)
  }

  test("CDC sync under ADDITIVE source schema evolution: the index " +
    "projection stays stable and the extra column is ignored") {
    import graft.pipelines.Similarity
    import graft.sources.AtomicTable
    val root = Files.createTempDirectory("graft_cdc_evolve").toString
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    val src = AtomicTable(spark, s"$root/table", partCol = "label",
      defaultKeys = Seq("vec_id"), partType = _.toInt)
    src.init(emb)
    Warehouse.writePqIndex(emb, s"$root/idx", k = 8, dim = 64, m = 8,
      ks = 16, centroids = Some(Similarity.seedCentroids(8, 64)),
      codebooks = Some(Similarity.pqSeedCodebooks(8, 16, 8)))
    assert(Warehouse.syncIndexFromTable(spark, src, s"$root/idx")
      .unchanged === emb.count())
    val embSchema = spark.read.parquet(s"$root/idx/embeddings").schema
    // the SOURCE evolves additively: an upsert carrying a new column
    // (u16's contract on the table side) that also changes one vector
    src.upsert(emb.filter($"vec_id" === 4)
      .withColumn("embedding", reverse($"embedding"))
      .withColumn("ingest_note", lit("evolved")))
    assert(src.read().columns.contains("ingest_note"),
      "precondition: the source table evolved")
    val stats = Warehouse.syncIndexFromTable(spark, src, s"$root/idx")
    assert(stats.updated === 1L,
      s"the evolved feed's vector change lands as an update: $stats")
    // the index's own projection is UNCHANGED — the sync maintains
    // the index's row schema, not the source's
    val after = Warehouse.readEmbeddingsByCellLive(spark, s"$root/idx")
    assert(!after.columns.contains("ingest_note"),
      "the evolved column must not leak into the index")
    assert(spark.read.parquet(s"$root/idx/embeddings").schema
      === embSchema, "the base embeddings schema is untouched")
    val upd4 = emb.filter($"vec_id" === 4)
      .withColumn("embedding", reverse($"embedding"))
      .select("embedding").as[Seq[Float]].head()
    assert(after.filter($"vec_id" === 4).select("embedding")
      .as[Seq[Float]].collect().toSeq === Seq(upd4),
      "the updated vector serves exactly once")
    // a re-sync after no further table change is a no-op
    val again = Warehouse.syncIndexFromTable(spark, src, s"$root/idx")
    assert(again.inserted + again.updated + again.deleted +
      again.unchanged === 0L)
  }

  test("vacuumIndexVersions: reclaims only strictly-older-than-CURRENT " +
    "generations, keeps the retention grace, survives fences") {
    import graft.pipelines.Similarity
    val root = Files.createTempDirectory("graft_idx_vac").toString
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    Warehouse.writePqIndex(emb, root, k = 8, dim = 64, m = 8, ks = 16,
      centroids = Some(Similarity.seedCentroids(8, 64)),
      codebooks = Some(Similarity.pqSeedCodebooks(8, 16, 8)))
    val q = emb.filter($"vec_id" === 3).select("embedding")
      .collect()(0).getSeq[Float](0).map(_.toDouble).toArray
    def serve() = Warehouse
      .ivfPqServe(spark, root, q, topK = 5, nprobe = 2, cand = 20)
      .as[(Long, Double)].collect().toSeq
    // generation 1: a FENCED update, then compact → CURRENT = v1,
    // root-level base superseded
    assert(Warehouse.updateInPqIndex(spark, root,
      emb.filter($"vec_id" === 3)
        .withColumn("embedding", reverse($"embedding")),
      txn = Some(("vac_upd", 1L))) === 1L)
    val afterUpd = serve()
    Warehouse.compactPqIndex(spark, root)
    // retainLast = 1 keeps the newest superseded generation
    assert(Warehouse.vacuumIndexVersions(spark, root, retainLast = 1)
      === Nil, "one superseded generation is within the grace window")
    assert(new java.io.File(s"$root/embeddings").isDirectory)
    // generation 2: another update, compact → v2; now the root-level
    // layout falls out of the grace window
    assert(Warehouse.updateInPqIndex(spark, root,
      emb.filter($"vec_id" === 3)) === 1L)
    val restored = serve()
    Warehouse.compactPqIndex(spark, root)
    assert(Warehouse.vacuumIndexVersions(spark, root, retainLast = 1)
      === Seq("(root)"))
    assert(!new java.io.File(s"$root/embeddings").exists(),
      "the pre-versioned base is reclaimed")
    assert(new java.io.File(s"$root/v1").isDirectory,
      "v1 stays inside the grace window")
    assert(serve() === restored, "serving never flinches")
    // a claimed-but-unflipped build dir (newer than CURRENT) survives
    // even retainLast = 0; v1 does not
    java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(s"$root/v9"))
    assert(Warehouse.vacuumIndexVersions(spark, root, retainLast = 0)
      === Seq("v1"))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/v9")))
    assert(serve() === restored)
    // the fence was CARRIED by the flips, not stored in the reclaimed
    // dirs: replaying the generation-1 txn is still a recognized skip
    assert(Warehouse.updateInPqIndex(spark, root,
      emb.filter($"vec_id" === 3)
        .withColumn("embedding", reverse($"embedding")),
      txn = Some(("vac_upd", 1L))) === 0L,
      "replay fences survive vacuum")
    // and the lifecycle keeps working on the vacuumed index
    assert(Warehouse.updateInPqIndex(spark, root,
      emb.filter($"vec_id" === 3)
        .withColumn("embedding", reverse($"embedding")),
      txn = Some(("vac_upd", 2L))) === 1L)
    assert(serve() === afterUpd, "post-vacuum update serves bit-equal " +
      "to the same update pre-compaction")
  }

  test("CDC sync stream: ticks are hints, the table version is the " +
    "fence — a fresh-checkpoint replay of every tick recovers nothing") {
    import graft.pipelines.Similarity
    import graft.sources.AtomicTable
    val root = Files.createTempDirectory("graft_cdc_stream").toString
    val landing = Files.createTempDirectory("graft_cdc_ticks").toString
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    val mk = (sp: org.apache.spark.sql.SparkSession) =>
      AtomicTable(sp, s"$root/table", partCol = "label",
        defaultKeys = Seq("vec_id"), partType = _.toInt)
    mk(spark).init(emb)
    Warehouse.writePqIndex(emb, s"$root/idx", k = 8, dim = 64, m = 8,
      ks = 16, centroids = Some(Similarity.seedCentroids(8, 64)),
      codebooks = Some(Similarity.pqSeedCodebooks(8, 16, 8)))
    def tick(n: Long, ckpt: String): Unit = {
      Seq(n).toDF("tick").coalesce(1)
        .write.mode("append").parquet(landing)
      val q = graft.streaming.IndexStream.startCdcSync(spark, landing,
        mk, s"$root/idx", ckpt)
      assert(q.awaitTermination(180000))
    }
    val ckpt1 = Files.createTempDirectory("graft_cdc_ck1").toString
    mk(spark).upsert(emb.filter($"vec_id" === 4)
      .withColumn("embedding", reverse($"embedding")))
    tick(1L, ckpt1)
    val updated = Warehouse
      .readEmbeddingsByCellLive(spark, s"$root/idx")
      .filter($"vec_id" === 4).select("embedding")
      .as[Seq[Float]].head()
    assert(updated === emb.filter($"vec_id" === 4)
      .withColumn("embedding", reverse($"embedding"))
      .select("embedding").as[Seq[Float]].head(),
      "the tick absorbed the table commit")
    val marks = Warehouse.pqTombstoneTable(spark, s"$root/idx")
      .version
    // FRESH checkpoint: the stream replays every tick from scratch;
    // the index-side (cdc_sync, table-version) fence sees an empty
    // window each time and commits NOTHING — no re-reversed vectors,
    // no new tombstone-table versions
    val ckpt2 = Files.createTempDirectory("graft_cdc_ck2").toString
    tick(2L, ckpt2)
    assert(Warehouse.pqTombstoneTable(spark, s"$root/idx").version
      === marks, "a replayed/duplicated tick commits nothing")
    assert(Warehouse.readEmbeddingsByCellLive(spark, s"$root/idx")
      .filter($"vec_id" === 4).select("embedding")
      .as[Seq[Float]].head() === updated)
    assert(Warehouse.readPqCodesLive(spark, s"$root/idx")
      .groupBy($"vec_id").count().filter($"count" > 1).isEmpty,
      "no doubles under tick replay")
  }
}
