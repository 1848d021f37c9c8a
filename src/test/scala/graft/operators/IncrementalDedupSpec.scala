package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft._
import graft.TestSpark

/** incrementalDedup's contract: identical pairs to a from-scratch
  * minHashDedup over old ∪ new, restricted to pairs with at least one
  * new-side doc — on a fixture planting dups within-old, within-new,
  * and across the boundary. */
class IncrementalDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val lorem = "the quick brown fox jumps over the lazy dog and " +
    "then runs far away into the deep dark quiet forest tonight"
  private def doc(i: Long, s: String) = (i, s)
  private val oldDocs = Seq(
    doc(1, lorem),
    doc(2, lorem + " extra"),            // near-dup of 1 (old×old)
    doc(3, "completely different material about spark physical plans"),
    doc(4, "unrelated text regarding parquet row group pruning")).toDF("doc_id", "text")
  private val newDocs = Seq(
    doc(11, lorem + " indeed"),          // near-dup of 1/2 (new×old)
    doc(12, lorem + " indeed!"),         // near-dup of 11 (new×new)
    doc(13, "fresh content that matches nothing else at all")).toDF("doc_id", "text")

  test("incremental == full run restricted to new-touching pairs") {
    val minJ = 0.5
    val incr = Pins.scoped {
      DedupOps.incrementalDedup(oldDocs, newDocs, $"doc_id", $"text", minJ)
        .select($"doc_a", $"doc_b", $"jaccard")
        .as[(Long, Long, Double)].collect().toSet
    }
    val full = Pins.scoped {
      DedupOps.minHashDedup(oldDocs.unionByName(newDocs),
          $"doc_id", $"text", minJ)
        .select($"doc_a", $"doc_b", $"jaccard")
        .as[(Long, Long, Double)].collect().toSet
    }
    val newIds = Set(11L, 12L, 13L)
    assert(incr == full.filter(p => newIds(p._1) || newIds(p._2)))
    // the fixture exercises all three pair classes
    assert(full.exists(p => !newIds(p._1) && !newIds(p._2)), "old x old dup")
    assert(incr.exists(p => newIds(p._1) != newIds(p._2)), "new x old dup")
    assert(incr.exists(p => newIds(p._1) && newIds(p._2)), "new x new dup")
  }

  test("persisted-index run == re-derived run == full-run restriction") {
    val minJ = 0.5
    val dir = java.nio.file.Files.createTempDirectory("dedup_index").toString
    try {
      // production shape: the old corpus exists only as its index table
      Pins.scoped {
        DedupOps.buildDedupIndex(oldDocs, $"doc_id", $"text")
          .write.mode("overwrite").parquet(dir)
      }
      val persisted = Pins.scoped {
        DedupOps.incrementalDedupAgainstIndex(
            spark.read.parquet(dir), newDocs, $"doc_id", $"text", minJ)
          .select($"doc_a", $"doc_b", $"jaccard")
          .as[(Long, Long, Double)].collect().toSet
      }
      val rederived = Pins.scoped {
        DedupOps.incrementalDedup(oldDocs, newDocs, $"doc_id", $"text", minJ)
          .select($"doc_a", $"doc_b", $"jaccard")
          .as[(Long, Long, Double)].collect().toSet
      }
      val full = Pins.scoped {
        DedupOps.minHashDedup(oldDocs.unionByName(newDocs),
            $"doc_id", $"text", minJ)
          .select($"doc_a", $"doc_b", $"jaccard")
          .as[(Long, Long, Double)].collect().toSet
      }
      val newIds = Set(11L, 12L, 13L)
      assert(persisted == rederived)
      assert(persisted == full.filter(p => newIds(p._1) || newIds(p._2)))
      assert(persisted.nonEmpty)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("nightly loop: three batches with per-batch index appends emit " +
       "every full-run pair exactly once") {
    // every pair is emitted at the batch that delivers its LATER doc, so
    // the union over all batches equals the from-scratch full run (no
    // bucket crosses the cap between snapshots in this fixture; a bucket
    // that does is the documented cap trade, visible via DedupStats)
    val minJ = 0.5
    val batches = Seq(
      oldDocs,
      newDocs,
      Seq(doc(21, lorem + " extra"), // near-dup of 1/2/11/12 (batch 3 x all)
          doc(22, "entirely novel content unrelated to everything"))
        .toDF("doc_id", "text"))
    val dir = java.nio.file.Files.createTempDirectory("dedup_nightly").toString
    try {
      val emitted = Set.newBuilder[(Long, Long)]
      batches.zipWithIndex.foreach { case (batch, i) =>
        Pins.scoped {
          if (i > 0)
            emitted ++= DedupOps.incrementalDedupAgainstIndex(
                spark.read.parquet(dir), batch, $"doc_id", $"text", minJ)
              .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
          else
            // first batch: nothing to dedup against, but within-batch
            // pairs must still come from somewhere — the full run on it
            emitted ++= DedupOps.minHashDedup(batch, $"doc_id", $"text", minJ)
              .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
          DedupOps.buildDedupIndex(batch, $"doc_id", $"text")
            .write.mode("append").parquet(dir)
        }
      }
      val full = Pins.scoped {
        DedupOps.minHashDedup(batches.reduce(_ unionByName _),
            $"doc_id", $"text", minJ)
          .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
      }
      assert(emitted.result() == full)
      assert(full.exists(p => p._1 <= 12 && p._2 >= 21), "cross-batch pair")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("containment flags an embedded doc that Jaccard under-scores") {
    val host = s"$lorem and then a very long continuation " +
      "with many additional sentences about entirely other topics " +
      "padding the host document far beyond the embedded fragment " +
      "so the union is much larger than the shared part"
    val d = Seq(1L -> host, 2L -> lorem, 3L -> "unrelated filler text")
      .toDF("doc_id", "text")
    val (cont, jac) = Pins.scoped {
      (DedupOps.containmentPairs(d, $"doc_id", $"text", 0.9)
         .select($"doc_a", $"doc_b", $"cont_a", $"cont_b")
         .as[(Long, Long, Double, Double)].collect().toSeq,
       DedupOps.minHashDedup(d, $"doc_id", $"text", 0.9)
         .count())
    }
    // doc 2 is wholly inside doc 1: containment ~1.0 on 2's side...
    assert(cont.map(p => (p._1, p._2)) == Seq((1L, 2L)))
    assert(cont.head._4 >= 0.9 && cont.head._3 < 0.9)
    // ...while symmetric Jaccard at the same bar sees nothing
    assert(jac == 0L)
  }

  test("short-doc containment: a fragment whose few shingles all dodge " +
      "the 1-in-8 sample rule is missed by default and caught at " +
      "sampleMod = 1 (the documented (1-1/mod)^k trade)") {
    import graft.functions.DetHash
    // scala-side twin of normText + 5-char shingling
    def shingles(s: String): Seq[String] = {
      val n = s.toLowerCase.trim.replaceAll("\\s+", " ")
      val m = math.max(n.length - 4, 1)
      (1 to m).map(i => n.substring(i - 1, math.min(i + 4, n.length))).distinct
    }
    def h31(s: String): Long = DetHash.h60Value(s) % DetHash.M31
    // deterministically pick a short fragment none of whose shingles
    // satisfies h31 % 8 == 0 — candidate generation then has NO bucket
    // for the pair, however perfect the containment
    val frag = (1 to 10000).iterator.map(i => s"tiny doc $i")
      .find(f => shingles(f).forall(h31(_) % 8 != 0)).get
    val host = s"$frag with a much longer continuation that dilutes " +
      "jaccard far below any symmetric threshold while the fragment " +
      "stays wholly contained inside this host document"
    val d = Seq(1L -> host, 2L -> frag,
      3L -> "unrelated filler content entirely").toDF("doc_id", "text")
    val (missed, caught) = Pins.scoped {
      (DedupOps.containmentPairs(d, $"doc_id", $"text", 0.9).count(),
       DedupOps.containmentPairs(d, $"doc_id", $"text", 0.9, sampleMod = 1)
         .select($"doc_a", $"doc_b", $"cont_b")
         .as[(Long, Long, Double)].collect().toSeq)
    }
    assert(missed == 0L, "sampled pass unexpectedly bucketed the fragment")
    assert(caught.map(p => (p._1, p._2)) == Seq((1L, 2L)) &&
      caught.head._3 == 1.0, s"exhaustive pass should flag the pair: $caught")
  }

  test("degenerate corpus: mega-buckets SPLIT (bounded pairs, cluster " +
    "connected), and exactDedup still collapses the clones") {
    // 60 byte-identical docs: every LSH bucket holds all 60 > maxBucket,
    // so each of the 16 band buckets splits into 3 member-hash
    // sub-buckets — the near-dup pass emits the sub-mate pairs (every
    // one jaccard 1.0), NOT the full 60²/2 set in one task, and the
    // retained edges keep the clone cluster in one dedup component
    // (under the old drop semantics this cluster produced ZERO pairs).
    // The clones are also exact dups, which the cheap uncapped exact
    // pass collapses regardless.
    val clones = (1L to 60L).map(i => (i, lorem)).toDF("doc_id", "text")
    DedupStats.awaitQuiesce(spark); DedupStats.reset()
    val near = Pins.scoped {
      DedupOps.minHashDedup(clones, $"doc_id", $"text", 0.5, maxBucket = 20)
        .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSeq
    }
    DedupStats.awaitQuiesce(spark)
    assert(DedupStats.splitBuckets.get > 0)
    assert(near.nonEmpty, "split mega-buckets must still pair sub-mates")
    assert(near.size < 60 * 59 / 2,
      s"the skew guard must bound the pair set, got ${near.size}")
    // union-find: retained edges connect all 60 clones
    val parent = Array.tabulate(61)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r)
      var c = x; while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }; r }
    near.foreach { case (a, b) => parent(find(a.toInt)) = find(b.toInt) }
    assert((1 to 60).map(find).distinct.size == 1,
      "clone cluster fractured under the split")
    val exact = DedupOps.exactDedup(clones, $"doc_id", $"text")
      .select($"keeper_doc_id", $"n_docs").as[(Long, Long)].collect()
    assert(exact.toSeq == Seq((1L, 60L)))
  }
}
