package graft.sqlx

import graft.SparkSpec

/** Cache-lifecycle contract: memoization builds once, clear() unpersists
  * and forgets so the next access rebuilds (a long-lived session can bound
  * its pinned storage) — the [[Memo]] values derived per session included. */
class FrameCacheSpec extends SparkSpec {
  import spark.implicits._

  test("getOrElseUpdate memoizes; clear() forgets and the next access rebuilds") {
    var builds = 0
    def get() = FrameCache.getOrElseUpdate(FrameCache.key(spark, "fcspec")) {
      builds += 1
      Seq(1, 2, 3).toDF("x").persist()
    }
    get(); get()
    assert(builds == 1, "second access must hit the cache")
    assert(FrameCache.size > 0)
    FrameCache.clear()
    assert(FrameCache.size == 0)
    get()
    assert(builds == 2, "post-clear access must rebuild")
    FrameCache.clear()
  }

  test("clear() also drops the per-session values kept in Memo: the BPE merges are rebuilt") {
    val d = sf("sf0.001")
    val merges = graft.SparkEntry.queries("vocab_bpe_merges")
    FrameCache.clear()
    val first = merges(spark, d).collect().toSeq
    val entries = Memo.size
    assert(entries > 0, "the learned merges must live in Memo")
    merges(spark, d).collect()
    assert(Memo.size == entries, "a repeat call must be served from the memo")
    FrameCache.clear()
    assert(Memo.size == 0)
    assert(merges(spark, d).collect().toSeq == first, "post-clear access must rebuild the same merges")
    assert(Memo.size == entries)
    FrameCache.clear()
  }
}
