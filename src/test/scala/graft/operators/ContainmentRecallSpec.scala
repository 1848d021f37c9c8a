package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft._
import graft.TestSpark
import graft.queries.Tables

/** Recall of the capped containment candidate generator — the
  * [[DedupOps.containmentPairs]] analogue of AnnRecallSpec's ANN floors.
  *
  * The generator deliberately splits shingle buckets larger than
  * `maxBucket` (the skew guard) and samples candidate shingles 1-in-8;
  * at sf0.1 the BENCH census shows ~137k candidate rows split. These
  * tests pin both halves of that trade so it stays a measured recall
  * floor rather than a silent hole:
  *
  *   1. the MECHANISM: on a planted corpus where hot (boilerplate)
  *      buckets overflow the cap, every true containment pair is still
  *      found through its rare-shingle buckets — the cap must only shed
  *      work, not the signal;
  *   2. the CORPUS floor: capped+sampled recall against the exhaustive
  *      (uncapped, unsampled) run on the real fixture documents. */
class ContainmentRecallSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sfDir =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet

  test("planted boilerplate: cap drops hot buckets, containment recall holds") {
    // 100 hosts share one boilerplate wrapper (its shingle buckets hold
    // 100 docs — far over the cap of 20) plus per-host unique content;
    // 10 fragments are verbatim substrings of their host's unique part,
    // so their true containment is 1.0 and every one of their shingles
    // lands in a 2-doc bucket the cap keeps.
    val boiler = "all rights reserved this page is served by the " +
      "example content network for testing purposes only"
    def uniq(i: Int): String =
      (0 until 12).map(j => s"w${i}q$j").mkString(" ")
    val hosts = (0 until 100).map(i => (1000L + i, s"$boiler ${uniq(i)}"))
    val frags = (0 until 10).map(i =>
      (i.toLong, uniq(i).split(" ").take(10).mkString(" ")))
    val docs = (hosts ++ frags).toDF("doc_id", "text")

    DedupStats.awaitQuiesce(spark); DedupStats.reset()
    val got = Pins.scoped {
      pairSet(DedupOps.containmentPairs(docs, $"doc_id", $"text",
        minContainment = 0.9, maxBucket = 20, sampleMod = 8))
    }
    DedupStats.awaitQuiesce(spark)

    val want = (0 until 10).map(i => (i.toLong, 1000L + i)).toSet
    assert(DedupStats.splitBuckets.get > 0,
      "the planted boilerplate buckets were not split - the fixture " +
        "no longer exercises the cap")
    assert(want.subsetOf(got),
      s"capped containment lost planted pairs: missing ${want.diff(got)}")
    // and no false positives from the boilerplate overlap alone: host-host
    // containment is ~0.55, far below the 0.9 threshold
    assert(got == want, s"unexpected extra pairs: ${got.diff(want)}")
  }

  test("corpus recall of capped+sampled containment vs exhaustive") {
    val docs = Tables.table(spark, sfDir, "documents")
    val truth = Pins.scoped {
      pairSet(DedupOps.containmentPairs(docs, $"doc_id", $"text",
        minContainment = 0.9, maxBucket = 1000000, sampleMod = 1))
    }
    val capped = Pins.scoped {
      pairSet(DedupOps.containmentPairs(docs, $"doc_id", $"text",
        minContainment = 0.9, maxBucket = 20, sampleMod = 8))
    }
    assert(truth.nonEmpty, "fixture has no containment pairs to measure")
    val recall = capped.intersect(truth).size.toDouble / truth.size
    info(s"containment recall under cap+sampling: $recall " +
      s"(${capped.intersect(truth).size}/${truth.size})")
    // pinned floor: with over-cap buckets split (not dropped), the only
    // loss channel left is the 1-in-8 shingle sampling on short docs —
    // measured 1.0 on this fixture (the pre-split drop path measured
    // 0.39: dup-cluster members shared every shingle with >cap docs, so
    // no surviving bucket could pair them)
    assert(recall >= 0.95, s"containment recall regressed: $recall")
  }
}
