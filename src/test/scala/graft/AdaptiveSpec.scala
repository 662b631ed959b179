package graft

import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Adaptive

/** The tiny-plan gate's size walk runs over trees that sweeps, reapers
  * and compactions delete from at the same time: an entry that vanishes
  * mid-walk must count 0 bytes, never fail the verb that asked. The
  * gate's conf flips must leave the shared session as it found them.
  */
class AdaptiveSpec extends AnyFunSuite with StopsStreams {

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  test("dirBytesAtMost: never throws while subtrees are created and deleted under the root") {
    val root = Files.createTempDirectory("graft_adaptive")
    Files.write(root.resolve("stable.bin"), Array.fill[Byte](100)(1))
    val stop = new AtomicBoolean(false)
    val churnError = new AtomicReference[Throwable](null)
    def churn(id: Int): Thread = new Thread(() =>
      try {
        var i = 0
        while (!stop.get()) {
          val top = root.resolve(s"gen-$id-$i")
          val leaf = top.resolve("a").resolve("b")
          Files.createDirectories(leaf)
          (0 until 8).foreach(j =>
            Files.write(leaf.resolve(s"part-$j"), Array[Byte](1, 2, 3)))
          deleteTree(top.toFile)
          i += 1
        }
      } catch { case t: Throwable => churnError.set(t) })
    val threads = (0 until 2).map(churn)
    threads.foreach(_.start())
    try {
      (1 to 3000).foreach { _ =>
        assert(Adaptive.dirBytesAtMost(root.toString, Long.MaxValue) >= 100L)
      }
    } finally {
      stop.set(true)
      threads.foreach(_.join())
      deleteTree(root.toFile)
    }
    assert(churnError.get() === null)
  }

  test("withTinyPlan: unset confs stay unset, set ones get their value back") {
    val spark = TestSpark.spark
    val aqe = "spark.sql.adaptive.enabled"
    val shuf = "spark.sql.shuffle.partitions"
    // explicit settings only: getOption would answer a default
    def set(k: String) = spark.conf.getAll.get(k)
    val saved = Seq(aqe, shuf).map(k => k -> set(k))
    try {
      spark.conf.unset(aqe)
      spark.conf.unset(shuf)
      val inside = Adaptive.withTinyPlan(spark, 1024L)(
        (spark.conf.get(aqe), spark.conf.get(shuf)))
      assert(inside === (("false", "1")))
      assert(set(aqe) === None)
      assert(set(shuf) === None)
      spark.conf.set(shuf, "3")
      Adaptive.withTinyPlan(spark, 1024L)(())
      assert(set(aqe) === None)
      assert(set(shuf) === Some("3"))
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("touchedBytes: an estimate past Long.MaxValue saturates and never gates tiny") {
    val spark = TestSpark.spark
    val aqe = "spark.sql.adaptive.enabled"
    val shuf = "spark.sql.shuffle.partitions"
    val root = Files.createTempDirectory("graft_adaptive_sat")
    Files.write(root.resolve("tiny.bin"), Array.fill[Byte](100)(1))
    val saved = Seq(aqe, shuf).map(k => k -> spark.conf.getAll.get(k))
    try {
      // Range's estimate is 8 bytes × Long.MaxValue rows: past a Long,
      // so planBytes answers Long.MaxValue, and adding the dir's 100
      // bytes must not wrap negative. Planning only: no job runs.
      val huge = spark.range(Long.MaxValue).toDF()
      assert(Adaptive.planBytes(huge) === Long.MaxValue)
      val est = Adaptive.touchedBytes(Seq(root.toString), huge)
      assert(est >= Adaptive.MinBytes)
      spark.conf.set(aqe, "true")
      spark.conf.set(shuf, "7")
      val inside = Adaptive.withTinyPlan(spark, est)(
        (spark.conf.get(aqe), spark.conf.get(shuf)))
      assert(inside === (("true", "7")))
    } finally {
      saved.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      }
      deleteTree(root.toFile)
    }
  }
}
