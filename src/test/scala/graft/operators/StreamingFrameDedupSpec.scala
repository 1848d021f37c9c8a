package graft.operators

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.queries.StreamFixture

/** Streaming frame dedup: a media item arriving within the horizon that
  * shares frame-aligned content with an earlier item must hit against
  * exactly that holder; unrelated payloads pass; a copy arriving after
  * the lateness horizon passes as novel (the bounded-state trade — the
  * batch frameDedup over the landed corpus is the exact backstop). */
class StreamingFrameDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val FB = MultimodalOps.FrameBytes

  // 3 frames (0,1,2), sampled at stride 2 → frames 0 and 2
  private def payload(seed: Int): Array[Byte] =
    Array.tabulate(3 * FB)(i => ((seed * 31 + i * 7) & 0xFF).toByte)

  private val Orig = payload(1)
  // shares Orig's frame 0 (bytes 0..15) at its own frame 0; rest differs
  private val Copy = {
    val p = payload(2)
    System.arraycopy(Orig, 0, p, 0, FB); p
  }
  private val Unrelated = payload(3)

  private def run(batches: Seq[Seq[(Long, Long, Array[Byte])]],
                  latenessSec: Long): Map[Long, (Long, Long, Set[Long])] = {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Array[Byte])]
    val media = mem.toDF().select($"_1".as("media_id"),
      timestamp_seconds($"_2").as("ts"), $"_3".as("payload"))
    val out = MultimodalOps.streamingFrameDedup(media, latenessSec).toDF()
    StreamFixture.collect(spark, "fd_sink", out) { q =>
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    }.groupBy($"media_id")
      .agg(count(lit(1)).as("n_frames"),
        count(when($"is_hit" && $"holder" =!= $"media_id", lit(1)))
          .as("n_ext_hits"),
        collect_set(when($"is_hit" && $"holder" =!= $"media_id", $"holder"))
          .as("holders"))
      .as[(Long, Long, Long, Seq[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4.toSet))).toMap
  }

  test("in-horizon frame copy hits its holder; unrelated passes") {
    val got = run(Seq(
      Seq((1L, 100L, Orig), (3L, 110L, Unrelated)),
      Seq((2L, 120L, Copy))), latenessSec = 3600L)
    val (nf1, nh1, _) = got(1L)
    assert(nf1 == 2L && nh1 == 0L, s"original holds its own cells: $got")
    val (nf3, nh3, _) = got(3L)
    assert(nf3 == 2L && nh3 == 0L, s"unrelated must not collide: $got")
    val (nf2, nh2, holders2) = got(2L)
    assert(nf2 == 2L && nh2 == 1L,
      s"exactly the shared frame must hit: $got")
    assert(holders2 == Set(1L), s"the hit must name the original: $got")
  }

  test("a copy past the lateness horizon passes as novel (state evicted)") {
    val got = run(Seq(
      Seq((1L, 100L, Orig)),
      // far-future unrelated item advances the watermark past
      // 100 + lateness...
      Seq((9L, 100000L, Unrelated)),
      // ...and this batch fires the original's cell timeouts (timeouts
      // run for keys WITHOUT data in the batch, so the copy comes later)
      Seq((8L, 100010L, payload(4))),
      Seq((2L, 100020L, Copy))), latenessSec = 60L)
    val (_, nh2, _) = got(2L)
    assert(nh2 == 0L,
      s"post-horizon copy must pass as novel after state eviction: $got")
  }
}
