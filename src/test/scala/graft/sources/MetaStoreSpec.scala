package graft.sources

import graft.{SparkSpec, Trace}

/** The store's contract: one computation per key until evicted, hit and
  * miss counters per namespace, eviction of the least recently used
  * entries by reported weight, and nothing kept for an oversized entry
  * or a failed computation. Each test uses its own namespace. */
class MetaStoreSpec extends SparkSpec {

  test("memo computes once per key and counts hits and misses") {
    var runs = 0
    def lookup(k: Int) = MetaStore.memo[Int]("spec.memo", k)(_ => 1L) {
      runs += 1; k * 10
    }
    val (vs, r) = Trace.record(spark)(Seq(lookup(1), lookup(1), lookup(2)))
    assert(vs == Seq(10, 10, 20) && runs == 2)
    assert(r.count("spec.memo.miss") == 2 && r.count("spec.memo.hit") == 1)
  }

  test("an oversized entry or a failed computation is not kept") {
    var runs = 0
    def big() = MetaStore.memo[String]("spec.big", "k")(_ => MetaStore.MaxEntry + 1) {
      runs += 1; "v"
    }
    big(); big()
    assert(runs == 2)
    intercept[IllegalStateException] {
      MetaStore.memo[String]("spec.fail", "k")(_ => 1L)(throw new IllegalStateException)
    }
    assert(MetaStore.get[String]("spec.fail", "k").isEmpty)
  }

  test("the least recently used entries go first once the weights pass the budget") {
    val n = (MetaStore.Budget / MetaStore.MaxEntry).toInt
    (0 to n).foreach { i =>
      MetaStore.put("spec.evict", i, i, MetaStore.MaxEntry)
      if (i == n - 1) MetaStore.get[Int]("spec.evict", 0) // touch the oldest
    }
    val kept = (0 to n).filter(i => MetaStore.get[Int]("spec.evict", i).isDefined)
    assert(kept == (0 to n).filterNot(_ == 1), s"kept $kept")
  }
}
