package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft._
import graft.TestSpark

/** Recall of the split-based SimHash candidate generator
  * ([[DedupOps.simHashPairs]]) on a planted over-cap near-dup cluster —
  * the scenario drop semantics handled worst: a cluster larger than
  * `maxBucket` agrees on EVERY band byte, so under drops no surviving
  * bucket could ever pair its members and the cluster was invisible.
  *
  * Under splits each over-cap (band, bkey) bucket shatters into
  * ⌈c/maxBucket⌉ member-hash sub-buckets; an identical pair gets an
  * independent 1/nsub co-bucket draw per band. The spec pins:
  *   1. pairwise recall on the planted cluster ≥ 0.5 (expected
  *      1−(1−1/nsub)⁴ ≈ 0.80 at nsub = 3, deterministic given md5);
  *   2. CONNECTIVITY — the retained edges join the whole cluster into
  *      one dedup component (what a deduper actually needs);
  *   3. the census reports splits.
  */
class SimHashRecallSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("planted 120-doc identical cluster survives the bucket cap") {
    // 120 identical docs (one simhash → four over-cap band buckets of
    // 120 ≥ cap 50 → nsub = 3) + 40 distinct docs as background noise
    val clusterText = "the quick brown fox jumps over the lazy dog " +
      "pack my box with five dozen liquor jugs"
    val cluster = (0 until 120).map(i => (i.toLong, clusterText))
    val noise = (0 until 40).map(i =>
      (1000L + i, (0 until 15).map(j => s"n${i}x$j").mkString(" ")))
    val docs = (cluster ++ noise).toDF("doc_id", "text")

    DedupStats.awaitQuiesce(spark); DedupStats.reset()
    val pairs = Pins.scoped {
      DedupOps.simHashPairs(
          DedupOps.simHash(docs, $"doc_id", $"text"), maxHamming = 2)
        .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSeq
    }
    DedupStats.awaitQuiesce(spark)

    assert(DedupStats.splitBuckets.get > 0,
      "the planted cluster buckets were not split - the fixture no " +
        "longer exercises the cap")

    val intra = pairs.filter { case (a, b) => a < 120 && b < 120 }
    val possible = 120 * 119 / 2
    val recall = intra.size.toDouble / possible
    assert(recall >= 0.5,
      s"pairwise recall $recall under the split is below the 0.5 floor " +
        s"(${intra.size}/$possible)")

    // union-find: the retained intra-cluster edges must connect all 120
    val parent = Array.tabulate(120)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r)
      var c = x; while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }; r }
    intra.foreach { case (a, b) => parent(find(a.toInt)) = find(b.toInt) }
    val components = (0 until 120).map(find).distinct.size
    assert(components == 1,
      s"cluster fractured into $components dedup components under the split")

    // no cross pollution: noise docs are not near-dups of the cluster
    assert(pairs.forall { case (a, b) => (a < 120) == (b < 120) },
      "split buckets paired unrelated docs within hamming 2")
  }
}
