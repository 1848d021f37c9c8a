package graft.operators

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.queries.StreamFixture

/** The composed at-ingest pipeline in ONE streaming query — exact dedup
  * feeding contamination screening, two stateful operators chained
  * under one watermark (Spark's multi-stateful-operator support): a
  * redelivered copy is dropped by the dedup stage BEFORE it can probe
  * the eval index, and the surviving copy's flag is emitted once. This
  * is the shape a production ingest topology runs (dedup → screen →
  * land), so the chaining itself is part of the tested surface. */
class StreamingPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val EvalDoc =
    "the five boxing wizards jump quickly over seven lazy brown dogs tonight"
  private val Leaked =
    "the five boxing wizards jump quickly over seven lazy brown cats tonight"
  private val Clean =
    "completely unrelated sentence about catalyst optimizer rules and shuffle exchanges"

  test("dedup -> contamination screen chained in one streaming query") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evalIdx = DedupOps.contaminationIndex(
      Seq((100L, EvalDoc)).toDF("doc_id", "text"), $"doc_id", $"text")
    val mem = MemoryStream[(Long, Long, String)]
    val docs = mem.toDF().select($"_1".as("doc_id"),
      timestamp_seconds($"_2").as("ts"), $"_3".as("text"))
    // stage 1: exact dedup at ingest (text-hash keyed, watermarked)
    val deduped = DedupOps.streamingExactDedup(docs, $"text", "1 hour")
      .select($"doc_id", $"ts", $"text")
    // stage 2: the survivors probe the static eval index
    val flags = DedupOps.streamingContamination(deduped, evalIdx,
      minJaccard = 0.5, maxLatenessSec = 3600L)
    val got = StreamFixture.collect(spark, "pl_sink", flags) { q =>
      mem.addData((1L, 100L, Leaked), (2L, 110L, Clean))
      q.processAllAvailable()
      // exact redelivery (same text, later ts, new id): dropped by the
      // dedup stage — it must not even reach the contamination probe,
      // so no second flag can appear under any downstream state
      mem.addData((3L, 120L, Leaked))
      q.processAllAvailable()
    }.select($"train_id", $"eval_id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 100L)),
      s"exactly the first leaked copy must flag once: $got")
  }
}
