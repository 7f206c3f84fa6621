package graft

import org.apache.spark.sql.functions._
import graft.operators.Memo

/** The shared artifact memo's contract (extracted r13 from the
  * Similarity/Graphs copies; fingerprint-GUARDED r14): keyed identity
  * with a semanticHash fence on key reuse, None-bypass, segment-boundary
  * prefix invalidation with unpersist. */
class MemoSpec extends SparkSpec {

  test("same key + same plan hits the cache; a different plan under the same key throws") {
    val m = new Memo
    def build() = spark.range(3).toDF("v")
    val a = m(Some("snap1"), "edges")(build())
    val b = m(Some("snap1"), "edges")(build())
    assert(a eq b,
      "key reuse with the same input plan must return the first build")
    // the former footgun, now a loud error: a semantically DIFFERENT
    // input under the SAME key is a stale-snapshot bug, not a cache hit
    val err = intercept[IllegalStateException] {
      m(Some("snap1"), "edges")(spark.range(99).toDF("v"))
    }
    assert(err.getMessage.contains("snap1/edges"))
    // the guard did not evict the good entry
    assert(m(Some("snap1"), "edges")(build()) eq a)
    // different subKey or key builds (and caches) fresh
    val n1 = m(Some("snap1"), "nodes")(build())
    val e2 = m(Some("snap2"), "edges")(build())
    assert(!(n1 eq a) && !(e2 eq a))
    // cacheKey = None bypasses entirely — never caches, never guards
    val d = m(None, "edges")(build())
    val e = m(None, "edges")(spark.range(99).toDF("v"))
    assert(!(d eq e))
  }

  test("fingerprint is semantic, not referential: fresh reads of one source hash equal") {
    val m = new Memo
    val dir = java.nio.file.Files.createTempDirectory("graft-memo").toString
    spark.range(10).toDF("v").write.mode("overwrite").parquet(dir)
    // two independently constructed plans over the same files — the
    // production shape: every probe call re-opens the corpus dir
    val a = m(Some(dir), "scan")(
      spark.read.parquet(dir).filter(col("v") > 2))
    val b = m(Some(dir), "scan")(
      spark.read.parquet(dir).filter(col("v") > 2))
    assert(a eq b, "semantically equal rebuilds must hit, not throw")
  }

  test("invalidate matches key-segment boundaries, unpersists, and rebuilds fresh") {
    val m = new Memo
    val cached = m(Some("/data/corpus1"), "x")(spark.range(4).toDF("v"))
    cached.count()
    assert(cached.storageLevel.useMemory, "memo must persist the artifact")
    val ten = m(Some("/data/corpus10"), "x")(spark.range(5).toDF("v"))
    ten.count()
    m.invalidate("/data/corpus1")
    assert(!cached.storageLevel.useMemory,
      "invalidate must unpersist the evicted artifact")
    assert(ten.storageLevel.useMemory,
      "corpus10 is NOT under the corpus1 prefix — segment boundary (ADVICE)")
    var rebuilt = false
    m(Some("/data/corpus1"), "x") { rebuilt = true; spark.range(4).toDF("v") }
    assert(rebuilt, "evicted key must rebuild")
    // empty prefix is evict-all
    m.invalidate("")
    assert(!ten.storageLevel.useMemory)
  }

  test("once: 8 concurrent first callers run make once and share its value") {
    import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    val m = new Memo
    val runs = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val calls = (1 to 8).map(_ => pool.submit(new Callable[AnyRef] {
        def call(): AnyRef = {
          start.await()
          m.once(Some("snap"), "model") {
            runs.incrementAndGet(); Thread.sleep(200); new Object
          }
        }
      }))
      start.countDown()
      val got = calls.map(_.get(60, TimeUnit.SECONDS))
      assert(runs.get == 1, "make must run once per key")
      assert(got.forall(_ eq got.head), "every caller gets the one value")
    } finally pool.shutdown()
  }

  test("once: nested once and apply calls on one instance do not throw") {
    val m = new Memo
    def outer() = m.once(Some("snap"), "outer") {
      val inner = m.once(Some("snap"), "inner")(40)
      val df = m(Some("snap"), "edges")(spark.range(4).toDF("v"))
      inner + df.count().toInt
    }
    assert(outer() == 44)
    assert(m.once[Int](Some("snap"), "outer")(sys.error("hit rebuilt")) == 44)
    // a throwing make leaves the key empty for the next caller
    intercept[IllegalStateException] {
      m.once(Some("snap"), "flaky")(throw new IllegalStateException("boom"))
    }
    assert(m.once(Some("snap"), "flaky")(7) == 7)
  }

  test("invalidate drops once entries and unpersists their DataFrames") {
    import org.apache.spark.storage.StorageLevel
    val m = new Memo
    def feats(n: Int) =
      spark.range(n).toDF("v").persist(StorageLevel.MEMORY_AND_DISK)
    val one = m.once(Some("/data/corpus1"), "feats")(feats(4))
    val ten = m.once(Some("/data/corpus10"), "feats")(feats(5))
    one.count(); ten.count()
    assert(m.once(Some("/data/corpus1"), "model")(1) == 1)
    m.invalidate("/data/corpus1")
    assert(!one.storageLevel.useMemory,
      "invalidate must unpersist a dropped DataFrame value")
    assert(ten.storageLevel.useMemory, "corpus10 is not under corpus1")
    assert(m.once(Some("/data/corpus1"), "model")(2) == 2,
      "a dropped value must rebuild")
    m.invalidate("")
    assert(!ten.storageLevel.useMemory)
  }

  test("once: a waiter on a failed build runs its own make") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val m = new Memo
    val started = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val first = pool.submit(new java.util.concurrent.Callable[String] {
        def call(): String = m.once(Some("snap"), "model") {
          started.countDown(); Thread.sleep(300)
          throw new IllegalStateException("first make fails")
        }
      })
      started.await()
      val waiter = pool.submit(new java.util.concurrent.Callable[String] {
        def call(): String = m.once(Some("snap"), "model")("waiter's")
      })
      intercept[java.util.concurrent.ExecutionException](
        first.get(60, TimeUnit.SECONDS))
      assert(waiter.get(60, TimeUnit.SECONDS) == "waiter's")
      assert(m.once[String](Some("snap"), "model")(sys.error("rebuilt")) ==
        "waiter's")
    } finally pool.shutdown()
  }

  test("once: a build invalidated while running is returned unpersisted") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    import org.apache.spark.storage.StorageLevel
    val m = new Memo
    val started = new CountDownLatch(1)
    val proceed = new CountDownLatch(1)
    val pool = Executors.newSingleThreadExecutor()
    try {
      val built = pool.submit(
        new java.util.concurrent.Callable[org.apache.spark.sql.DataFrame] {
          def call() = m.once(Some("/data/corpus1"), "feats") {
            started.countDown(); proceed.await()
            spark.range(3).toDF("v").persist(StorageLevel.MEMORY_AND_DISK)
          }
        })
      started.await()
      m.invalidate("/data/corpus1")
      proceed.countDown()
      val df = built.get(60, TimeUnit.SECONDS)
      assert(!df.storageLevel.useMemory,
        "an uncached value must not stay registered in the CacheManager")
      assert(df.count() == 3)
      assert(m.once(Some("/data/corpus1"), "feats")(spark.range(1).toDF("v"))
        .count() == 1, "the dropped build is not cached")
    } finally pool.shutdown()
  }

  test("invalidate with kinds drops only those artifact kinds") {
    val m = new Memo
    assert(m.once(Some("/data/c"), "ivf-centroids/8")(1) == 1)
    assert(m.once(Some("/data/c"), "pq-books/8")(1) == 1)
    val lists = m(Some("/data/c"), "lists/8")(spark.range(4).toDF("v"))
    m.invalidate("", Set("ivf-centroids", "lists"))
    assert(m.once(Some("/data/c"), "ivf-centroids/8")(2) == 2)
    assert(m.once(Some("/data/c"), "pq-books/8")(2) == 1)
    assert(!lists.storageLevel.useMemory)
    m.invalidate("/data/c")
    assert(m.once(Some("/data/c"), "pq-books/8")(3) == 3)
  }

  test("once with cacheKey None runs make inline every call") {
    val m = new Memo
    var runs = 0
    def call() = m.once(None, "model") { runs += 1; runs }
    assert(call() == 1 && call() == 2)
  }
}
