package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.plans.Memo

class MemoSpec extends SparkSpec {

  test("an evicted key's rebuild waits for a builder still holding the key's first lock") {
    val keyDf = spark.range(0, 17, 1, 1).toDF("memo_lock_probe")
    val tag = "memo-lock-" + System.nanoTime()
    // the lock a builder of the first generation would be blocked on
    val firstLock = Memo.buildLock(keyDf, tag)
    val builds = new AtomicInteger(0)
    Memo.memoize(keyDf, tag) { builds.incrementAndGet(); "first" }
    Memo.reset() // evicts the key
    val rebuilt = new CountDownLatch(1)
    firstLock.synchronized {
      val t = new Thread(() => {
        Memo.memoize(keyDf, tag) { builds.incrementAndGet(); "second" }
        rebuilt.countDown()
      })
      t.start()
      // while the first generation's lock is held, the rebuild must wait
      assert(!rebuilt.await(300, TimeUnit.MILLISECONDS),
        "the rebuild ran beside a holder of the key's first lock")
      assert(builds.get() == 1)
    }
    assert(rebuilt.await(30, TimeUnit.SECONDS))
    assert(builds.get() == 2)
    assert(Memo.buildLock(keyDf, tag) eq firstLock)
  }
}
