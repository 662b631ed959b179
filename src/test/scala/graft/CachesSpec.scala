package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Scoped persist ownership: concurrent pipelines must not share a
  * release queue (the round-4 `Caches` was process-global, so one
  * query's `releaseAll` silently dropped another's in-flight self-join
  * persists).
  */
class CachesSpec extends AnyFunSuite with StopsStreams {
  import TestSpark.spark
  import spark.implicits._

  test("interleaved explicit scopes release independently") {
    val a = Caches.newScope()
    val b = Caches.newScope()
    val df1 = a.persist(Seq(10, 11, 12).toDF("x"))
    val df2 = b.persist(Seq(20, 21).toDF("x"))
    df1.count(); df2.count()
    b.release()
    assert(df2.storageLevel === StorageLevel.NONE)
    // releasing B must not evict A's persist
    assert(df1.storageLevel !== StorageLevel.NONE)
    assert(a.activeCount === 1)
    a.release()
    assert(df1.storageLevel === StorageLevel.NONE)
    assert(a.activeCount === 0)
  }

  test("withCaches routes library persists into the scope; global releaseAll cannot steal them") {
    var inner: DataFrame = null
    Caches.withCaches { scope =>
      inner = Caches.persist(Seq(30).toDF("x"))
      inner.count()
      assert(scope.activeCount === 1)
      assert(inner.storageLevel !== StorageLevel.NONE)
      // the harness hook drains only the GLOBAL scope
      Caches.releaseAll()
      assert(inner.storageLevel !== StorageLevel.NONE)
    }
    // scope exit released it
    assert(inner.storageLevel === StorageLevel.NONE)
  }

  test("two interleaved pipelines: neither loses its persist to the other") {
    val started = new java.util.concurrent.CountDownLatch(1)
    val finished = new java.util.concurrent.CountDownLatch(1)
    @volatile var df1LevelAfterOtherRelease: StorageLevel = null
    val t1 = new Thread(() => {
      Caches.withCaches { _ =>
        val df1 = Caches.persist(Seq(40, 41).toDF("x"))
        df1.count()
        started.countDown()
        finished.await()
        // the other pipeline ran AND released while we were in flight
        df1LevelAfterOtherRelease = df1.storageLevel
      }
    })
    t1.start()
    started.await()
    Caches.withCaches { _ =>
      Caches.persist(Seq(50, 51).toDF("x")).count()
    } // completes and releases its own scope
    finished.countDown()
    t1.join()
    assert(df1LevelAfterOtherRelease !== StorageLevel.NONE)
  }

  test("getOrPersist memoizes per key within a scope; release clears it") {
    Caches.withCaches { scope =>
      var builds = 0
      def build: DataFrame = { builds += 1; Seq(1, 2, 3).toDF("x") }
      val a = Caches.getOrPersist(("k", 1), build)
      val b = Caches.getOrPersist(("k", 1), build)
      val c = Caches.getOrPersist(("k", 2), build)
      assert(a eq b, "same key must return the SAME persisted frame")
      assert(!(a eq c))
      assert(builds === 2)
      assert(scope.activeCount === 2)
      scope.release()
      val d = Caches.getOrPersist(("k", 1), build)
      assert(!(d eq a), "release must clear the memo with the persists")
      assert(builds === 3)
    }
  }

  test("simhashBanded is shared between its two consumers in one scope") {
    import org.apache.spark.sql.functions.col
    val docs = Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "x y z w"))
      .toDF("doc_id", "text")
    Caches.withCaches { scope =>
      val b1 = graft.pipelines.Dedup
        .simhashBanded(docs, "doc_id", col("text"), 32, 4)
      val b2 = graft.pipelines.Dedup
        .simhashBanded(docs, "doc_id", col("text"), 32, 4)
      assert(b1 eq b2,
        "pairer and retriever must reuse ONE persisted banded relation")
      assert(scope.activeCount === 1)
      // different params are a different relation
      val b3 = graft.pipelines.Dedup
        .simhashBanded(docs, "doc_id", col("text"), 48, 4)
      assert(!(b1 eq b3))
      assert(scope.activeCount === 2)
    }
  }
}
