package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft._
import graft.TestSpark

/** Cap-overflow observability: splitting an over-cap bucket is bounded
  * extra work that must surface as a metric, not happen silently
  * (round-3 advice item 6 established the census; round 9 turned the
  * generator's drops into splits). */
class DedupStatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("a planted mega-bucket is counted, sized, and SPLIT — not dropped") {
    // one hot bucket of 30 members (over the cap of 10) + two small ones
    val rows = ((1 to 30).map(i => (i.toLong, "HOT")) ++
      Seq((31L, "a"), (32L, "a"), (40L, "b"), (41L, "b"), (42L, "b")))
      .toDF("doc_id", "bkey")
    DedupStats.reset()
    val pairs = Pins.scoped {
      DedupOps.cappedPairs(rows, Seq("bkey"), maxBucket = 10).collect()
    }
    DedupStats.awaitQuiesce(spark)
    assert(DedupStats.splitBuckets.get() == 1,
      s"expected the HOT bucket reported, got ${DedupStats.splitBuckets.get()}")
    assert(DedupStats.splitRows.get() == 30)
    assert(DedupStats.maxSplitBucket.get() == 30)
    // the hot bucket still contributes pairs (within its 3 member-hash
    // sub-buckets: Σ C(|sub|,2) < C(30,2)) and stays connected enough
    // to matter; the small buckets' pairs are exactly the full sets
    val hot = pairs.filter(r => r.getLong(0) <= 30L)
    val small = pairs.filter(r => r.getLong(0) > 30L)
    assert(small.length == 1 + 3) // C(2,2)=1 from "a", C(3,2)=3 from "b"
    assert(hot.nonEmpty, "split hot bucket must still produce pairs")
    assert(hot.length < 30 * 29 / 2,
      "split hot bucket must not produce the full all-pairs set")
  }

  test("observe names are rebuild-stable: two builds of one query agree") {
    val rows = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"))
      .toDF("doc_id", "bkey")
    Pins.scoped {
      val p1 = DedupOps.cappedPairs(rows, Seq("bkey"), 10)
      val p2 = DedupOps.cappedPairs(rows, Seq("bkey"), 10)
      // The CollectMetrics name is part of the canonical plan, so this
      // is exactly the CacheManager cache-hit criterion: under the
      // original per-build sequence-numbered names this assertion fails,
      // and every REBUILD of a dedup query re-materialized its pinned
      // intermediates from scratch (measured ~4x per re-count on
      // llm_ngram_jaccard at sf0.1 — the r10 bench regression).
      assert(p1.queryExecution.analyzed.sameResult(p2.queryExecution.analyzed),
        "rebuilt identical dedup plans must canonically agree (cache hits)")
      // distinct inputs under the same tag must NOT collide (the name
      // embeds the counts child's semantic hash, not just the tag)
      val other = Seq((9L, "z"), (10L, "z")).toDF("doc_id", "bkey")
      val p3 = DedupOps.cappedPairs(other, Seq("bkey"), 10)
      assert(!p1.queryExecution.analyzed.sameResult(p3.queryExecution.analyzed),
        "different inputs must produce canonically different plans")
    }
  }

  test("an in-cap run reports zero splits") {
    val rows = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("doc_id", "bkey")
    DedupStats.reset()
    Pins.scoped { DedupOps.cappedPairs(rows, Seq("bkey"), 10).collect() }
    DedupStats.awaitQuiesce(spark)
    assert(DedupStats.splitBuckets.get() == 0)
    assert(DedupStats.splitRows.get() == 0)
  }
}
