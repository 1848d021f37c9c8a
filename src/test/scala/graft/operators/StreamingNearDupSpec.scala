package graft.operators

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft._
import graft.TestSpark
import graft.functions.DetHash
import graft.queries.StreamFixture

/** Streaming MinHash-LSH near-dup detection: a clone arriving within the
  * lateness horizon must collide with its original's band cells; an
  * unrelated doc must not; and a clone arriving AFTER the horizon passes
  * as novel (the bounded-state trade the scaladoc documents — the batch
  * pass is the exact backstop). */
class StreamingNearDupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val Orig =
    "the quick brown fox jumps over the lazy dog and runs far away home"
  private val NearClone =
    "the quick brown fox jumps over the lazy cat and runs far away home"
  private val Unrelated =
    "completely different words about spark catalyst plans and shuffles"

  private def run(batches: Seq[Seq[(Long, Long, String)]],
                  latenessSec: Long): Map[Long, (Long, Long, Set[Long])] = {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String)]
    val docs = mem.toDF().select($"_1".as("doc_id"),
      timestamp_seconds($"_2").as("ts"), $"_3".as("text"))
    val out = DedupOps.streamingNearDedup(docs, latenessSec).toDF()
    StreamFixture.collect(spark, "nd_sink", out) { q =>
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    }.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bands"),
        count(when($"is_hit", lit(1))).as("n_hits"),
        collect_set(when($"is_hit", $"holder")).as("holders"))
      .as[(Long, Long, Long, Seq[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4.toSet))).toMap
  }

  test("in-horizon near-clone collides with its original; unrelated does not") {
    val got = run(Seq(
      Seq((1L, 100L, Orig), (3L, 110L, Unrelated)),
      Seq((2L, 120L, NearClone))), latenessSec = 3600L)
    val (nb1, nh1, _) = got(1L)
    assert(nb1 == DetHash.NumBands.toLong && nh1 == 0L, s"original must hold all its cells: $got")
    val (nb3, nh3, _) = got(3L)
    assert(nb3 == DetHash.NumBands.toLong && nh3 == 0L, s"unrelated doc must not collide: $got")
    val (nb2, nh2, holders2) = got(2L)
    assert(nb2 == DetHash.NumBands.toLong)
    assert(nh2 >= 1L, s"near-clone must hit >= 1 of the original's bands: $got")
    assert(holders2 == Set(1L), s"every hit must name the original: $got")
  }

  test("a clone past the lateness horizon passes as novel (state evicted)") {
    val got = run(Seq(
      Seq((1L, 100L, Orig)),
      // far-future unrelated doc advances the watermark way past
      // 100 + lateness...
      Seq((9L, 100000L, Unrelated)),
      // ...and this batch fires the original's cell timeouts (timeouts
      // run for keys WITHOUT data in the batch, so the clone comes later)
      Seq((8L, 100010L, "some filler sentence to tick one more batch")),
      Seq((2L, 100020L, NearClone))), latenessSec = 60L)
    val (_, nh2, _) = got(2L)
    assert(nh2 == 0L,
      s"post-horizon clone must pass as novel after state eviction: $got")
  }

  test("a redelivered document is NOT a near-dup of itself") {
    // at-least-once sources replay rows; the holder's own id arriving
    // again must emit hit=false (the oracle closed form is
    // doc_id > holder — flagging a unique doc as its own dup would
    // make a curation pipeline drop the only copy)
    val got = run(Seq(
      Seq((1L, 100L, Orig)),
      Seq((1L, 100L, Orig)), // exact redelivery, same id + ts
      Seq((2L, 120L, NearClone))), latenessSec = 3600L)
    val (_, nh1, holders1) = got(1L)
    assert(nh1 == 0L && holders1.isEmpty,
      s"redelivered original must not hit its own cells: $got")
    val (_, nh2, holders2) = got(2L)
    assert(nh2 >= 1L && holders2 == Set(1L),
      s"the real clone still hits the original: $got")
  }

  test("steady-state lazy commit lands: a later sighting advances eviction") {
    // the steady-state path commits state LAZILY, from hasNext on
    // iterator exhaustion — it relies on FlatMapGroupsWithStateExec
    // applying the state handle only after the per-group output
    // iterator is fully drained. This pins that ordering against Spark
    // upgrades: batch 2 re-sights the holder's cells at a NEWER ts
    // through the steady-state path, which must advance the eviction
    // timeout from 10000+lateness to 20000+lateness. Batch 3 then
    // drives the watermark BETWEEN those two horizons and batch 4 ticks
    // timeouts — if the drained-iterator commit were lost, the cells
    // would evict on the stale horizon and the in-horizon clone in
    // batch 5 would (wrongly) pass as novel.
    val got = run(Seq(
      Seq((1L, 10000L, Orig)),      // holder; timeout = 10000+3600
      Seq((1L, 20000L, Orig)),      // steady state: lazy commit -> 23600
      Seq((9L, 25000L, Unrelated)), // wm -> 21400: past 13600, before 23600
      Seq((8L, 25010L, "filler sentence to tick the timeout batch")),
      Seq((2L, 22000L, NearClone))  // inside the ADVANCED horizon only
    ), latenessSec = 3600L)
    val (_, nh2, holders2) = got(2L)
    assert(nh2 >= 1L && holders2 == Set(1L),
      s"steady-state drain must have committed the advanced timeout " +
        s"(else the holder was evicted on the stale horizon): $got")
  }

  test("a late out-of-order row must not shorten the eviction horizon") {
    // the eviction timer re-arms from the max ts EVER seen, not the
    // latest batch's max: a late (above-watermark, older-ts) row would
    // otherwise move the timeout backwards and evict the cell early —
    // a dup arriving inside the documented horizon of its original
    // would then miss the (gone) holder and pass as novel
    val got = run(Seq(
      Seq((1L, 10000L, Orig)),      // holder; timeout = 10000+3600
      Seq((1L, 9000L, Orig)),       // LATE redelivery (wm is 6400)
      Seq((9L, 16300L, Unrelated)), // wm -> 12700
      Seq((8L, 16310L, "filler sentence to tick the timeout batch")),
      Seq((2L, 13300L, NearClone))  // inside the original's horizon
    ), latenessSec = 3600L)
    val (_, nh2, holders2) = got(2L)
    assert(nh2 >= 1L && holders2 == Set(1L),
      s"in-horizon clone must still find the holder (timer must not " +
        s"regress on the late row): $got")
  }
}
