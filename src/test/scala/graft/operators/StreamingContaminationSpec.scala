package graft.operators

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft._
import graft.TestSpark
import graft.queries.StreamFixture

/** Streaming eval-set contamination screening: an arriving train doc
  * that is a near-copy of an eval doc must be flagged against exactly
  * that eval doc via the static broadcast index; unrelated docs pass;
  * a re-delivered copy of a flagged doc emits no second row (the
  * flagged-pair dedup state). */
class StreamingContaminationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val EvalDoc =
    "the five boxing wizards jump quickly over seven lazy brown dogs tonight"
  private val Leaked = // one word changed: 3-gram Jaccard well above 0.5
    "the five boxing wizards jump quickly over seven lazy brown cats tonight"
  private val Clean =
    "completely unrelated sentence about catalyst optimizer rules and shuffle exchanges"

  test("leaked train doc flagged once against its eval source; clean doc passes") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evalIdx = DedupOps.contaminationIndex(
      Seq((100L, EvalDoc)).toDF("doc_id", "text"), $"doc_id", $"text")
    val mem = MemoryStream[(Long, Long, String)]
    val docs = mem.toDF().select($"_1".as("doc_id"),
      timestamp_seconds($"_2").as("ts"), $"_3".as("text"))
    val got = StreamFixture.collect(spark, "sc_sink", DedupOps.streamingContamination(
        docs, evalIdx, minJaccard = 0.5, maxLatenessSec = 3600L)) { q =>
      mem.addData((1L, 100L, Leaked), (2L, 110L, Clean))
      q.processAllAvailable()
      // at-least-once re-delivery of the leaked doc a batch later: the
      // flagged-pair state must collapse it (no second emission)
      mem.addData((1L, 120L, Leaked))
      q.processAllAvailable()
    }.select($"train_id", $"eval_id", $"jaccard")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.map(r => (r._1, r._2)) == Seq((1L, 100L)),
      s"exactly the leaked pair must be flagged once: $got")
    assert(got.head._3 >= 0.5 && got.head._3 < 1.0, s"jaccard sane: $got")
  }
}
