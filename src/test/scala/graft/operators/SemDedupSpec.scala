package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft._
import graft.TestSpark
import graft.queries.Tables

/** semDedup semantics pinned against a brute-force re-derivation on the
  * fixture embeddings: the greedy keep-lowest-id rule means a vector is
  * a non-keeper iff some lower-id member of its own cluster is within
  * the cosine threshold. */
class SemDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sfDir =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

  test("semDedup flags exactly the vectors with a close lower-id cluster-mate") {
    val q = VectorOps.quantize(
      Tables.table(spark, sfDir, "embeddings"), $"vec_id", $"embedding")
    val minCos = 0.2 // random fixture: low enough that some pairs trip
    val got = VectorOps.semDedup(q, minCos, nCentroids = 16,
        trainIters = 1, maxList = 500)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)

    // one row per corpus vector, ids intact
    val ids = q.select($"vec_id").as[Long].collect().sorted
    assert(got.map(_._1).toSeq == ids.toSeq)

    // brute-force re-derivation from the raw vectors + cluster labels
    val vecs = q.select($"vec_id", $"qv", $"nrm")
      .as[(Long, Seq[Long], Long)].collect()
      .map { case (id, qv, nrm) => id -> ((qv, nrm)) }.toMap
    def cos(a: Long, b: Long): Double = {
      val ((qa, na), (qb, nb)) = (vecs(a), vecs(b))
      val dot = qa.zip(qb).map { case (x, y) => x * y }.sum
      dot.toDouble / math.sqrt(na.toDouble * nb.toDouble)
    }
    got.foreach { case (id, lst, keep) =>
      val expectDrop = got.exists { case (o, ol, _) =>
        o < id && ol == lst && cos(o, id) >= minCos
      }
      assert(keep == !expectDrop, s"vec $id in list $lst: keeper=$keep")
    }
    // the threshold actually bites on the fixture (non-vacuous test)
    assert(got.exists(!_._3), "expected at least one non-keeper")
    assert(got.exists(_._3), "expected at least one keeper")
  }

  test("oversized clusters are SPLIT and pruned within sub-lists " +
    "(bounded work, mega-cluster no longer escapes pruning)") {
    // cluster A: 60 identical vectors (over maxList=10 → 6 sub-lists);
    // cluster B: 10 identical vectors orthogonal to A (in-cap).
    // Seeds for nCentroids=2 / trainIters=0 are the two lowest ids, so
    // id 0 (pattern A) and id 1 (pattern B) anchor the two clusters.
    val a = Seq(1.0f, 0.0f, 0.0f, 0.0f)
    val b = Seq(0.0f, 1.0f, 0.0f, 0.0f)
    val rows = ((0L +: (2L to 60L)).map(i => (i, a)) ++
      (1L +: (1001L to 1009L)).map(i => (i, b))).toDF("vec_id", "embedding")
    val q = VectorOps.quantize(rows, $"vec_id", $"embedding")
    DedupStats.awaitQuiesce(spark); DedupStats.reset()
    val got = Pins.scoped {
      VectorOps.semDedup(q, minCos = 0.9, nCentroids = 2,
          trainIters = 0, maxList = 10)
        .as[(Long, Long, Boolean)].collect().toSeq
    }
    DedupStats.awaitQuiesce(spark)
    assert(DedupStats.splitBuckets.get > 0,
      "the over-cap cluster must be censused as split")
    val (aRows, bRows) = got.partition { case (id, _, _) => id == 0L || id >= 2L && id <= 60L }
    // in-cap cluster B: plain greedy keep-lowest-id — 1 keeper of 10
    assert(bRows.count(_._3) == 1 && bRows.size == 10)
    // over-cap cluster A: each of the ≤6 member-hash sub-lists keeps
    // exactly its lowest id — vs the old leave-intact semantics where
    // all 60 identical vectors survived as keepers
    val aKeep = aRows.count(_._3)
    assert(aRows.size == 60)
    assert(aKeep >= 1 && aKeep <= 6,
      s"expected ≤ ceil(60/10)=6 sub-list representatives, got $aKeep")
    // soundness: every drop has an identical lower-id cluster-mate, so
    // minCos is trivially witnessed; maximality loss is only cross-sub
    assert(aRows.count(!_._3) == 60 - aKeep)
  }
}
