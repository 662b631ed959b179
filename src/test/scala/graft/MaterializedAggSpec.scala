package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{AtomicTable, MaterializedAgg}

/** Incremental materialized-aggregate maintenance: delta folds on
  * append-only base history, full recompute when a reassigning
  * mutation (or a vacuumed fold point) makes deltas unsound, replay
  * fencing via the shared txn-mark protocol — and serve ≡ a fresh
  * full aggregate after every one of those transitions.
  */
class MaterializedAggSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def batch(lo: Long, hi: Long) = (lo to hi)
    .map(i => (i, if (i % 2 == 0) "a" else "b", i % 5, i * 10))
    .toDF("id", "part", "grp", "x")

  private def recompute(base: AtomicTable): DataFrame =
    base.read().groupBy($"part", $"grp").agg(
      count(lit(1)).as("n_rows"), sum($"x").as("sum_val"),
      min($"x").as("min_val"), max($"x").as("max_val"))

  private def same(a: DataFrame, b: DataFrame): Boolean = {
    val cols = a.columns.sorted.toIndexedSeq.map(col)
    a.select(cols: _*).exceptAll(b.select(cols: _*)).isEmpty &&
      b.select(cols: _*).exceptAll(a.select(cols: _*)).isEmpty
  }

  test("append-only history folds deltas; serve matches a full " +
    "recompute after every refresh") {
    val root = Files.createTempDirectory("graft_mv").toString
    val base = AtomicTable(spark, s"$root/base", partCol = "part",
      defaultKeys = Seq("id"))
    val mv = MaterializedAgg(base, s"$root/view",
      dims = Seq("part", "grp"), valCol = "x")
    base.init(batch(1, 100))
    assert(mv.refresh() === "full") // first fold has no prior mark
    assert(same(mv.serve(), recompute(base)))
    base.append(batch(101, 200))
    base.insertIgnore(batch(150, 250)) // overlap dropped by the anti-join
    assert(mv.refresh() === "delta",
      "append/insert history folds increments, no full recompute")
    assert(same(mv.serve(), recompute(base)))
    // already current: refresh is a fenced no-op, version unchanged
    val v = mv.table.version
    assert(mv.refresh() === "noop")
    assert(mv.table.version === v)
    TableProbes.assertReadsAsInferred(mv.table)
  }

  test("a reassigning mutation (and a vacuumed fold point) falls back " +
    "to a full recompute — never a wrong delta") {
    val root = Files.createTempDirectory("graft_mv_full").toString
    val base = AtomicTable(spark, s"$root/base", partCol = "part",
      defaultKeys = Seq("id"))
    val mv = MaterializedAgg(base, s"$root/view",
      dims = Seq("part", "grp"), valCol = "x")
    base.init(batch(1, 100))
    mv.refresh()
    // min/max cannot subtract: the upsert rewrites a row DOWNWARD, so a
    // delta fold would keep the stale max — the op history forces full
    base.upsert(Seq((100L, "a", 0L, -5L)).toDF("id", "part", "grp", "x"))
    assert(mv.refresh() === "full")
    assert(same(mv.serve(), recompute(base)))
    assert(mv.serve().filter($"part" === "a" && $"grp" === 0L)
      .select("min_val").collect()(0).getLong(0) === -5L)
    // vacuum away the fold point's manifest: addedSince would see every
    // dir as new and double-fold, so the refresh must go full instead
    base.append(batch(101, 150))
    base.vacuum()
    base.append(batch(151, 200))
    assert(mv.refresh() === "full",
      "vacuumed last-folded version cannot prove a sound delta")
    assert(same(mv.serve(), recompute(base)))
  }

  test("partial commits accrete one dir per refresh and fold through " +
    "compaction past the fan-in bound") {
    val root = Files.createTempDirectory("graft_mv_compact").toString
    val base = AtomicTable(spark, s"$root/base", partCol = "part",
      defaultKeys = Seq("id"))
    val mv = MaterializedAgg(base, s"$root/view",
      dims = Seq("part", "grp"), valCol = "x", maxPartialDirs = 3)
    base.init(batch(1, 40))
    mv.refresh()
    (1 to 4).foreach { k =>
      base.append(batch(40L * k + 1, 40L * (k + 1)))
      mv.refresh()
    }
    assert(mv.table.dataDirCount <= 3 + 1,
      "refresh folds partial dirs once past the bound")
    assert(same(mv.serve(), recompute(base)))
    assert(mv.table.history().exists(_._2 === "compact"))
  }
}
