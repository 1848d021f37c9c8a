package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft._
import graft.TestSpark
import graft.queries.StreamFixture

/** Ignore-don't-crash, proven with actual poison: each streaming
  * operator is fed NULL event-times / NULL payloads alongside clean
  * rows and must (a) not die and (b) produce EXACTLY the clean run's
  * output. These pin the `filter($"ts".isNotNull && ...)` guards at the
  * operator mouths — without them a single NULL ts NPEs the state
  * function (near-dup, frame dedup) or kills the watermark assignment,
  * taking down the whole long-running ingest query.
  *
  * NULLs ride sentinel values through the tuple encoders: ts < 0 →
  * NULL timestamp, empty text → NULL string/payload, empty vector →
  * NULL qv, id < 0 → NULL doc_id/media_id (the AssertNotNull trap of
  * the non-nullable typed conversion). */
class StreamingPoisonSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val T0 = 1700000000L
  private val DocA =
    "the quick brown fox jumps over the lazy dog and runs far away home"
  private val DocB =
    "the quick brown fox jumps over the lazy cat and runs far away home"

  /** Feed `rows` through `build`, one batch, read the sink back. */
  private def runOnce[T <: Product : org.apache.spark.sql.Encoder](
      rows: Seq[T], toStream: DataFrame => DataFrame,
      build: DataFrame => DataFrame, prefix: String): Seq[String] = {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[T]
    // sorted multiset, NOT a Set: a regression that re-emits a clean
    // row twice must fail the equality, not be deduplicated away
    StreamFixture.collect(spark, prefix, build(toStream(mem.toDF()))) { q =>
      mem.addData(rows: _*)
      q.processAllAvailable()
    }.collect().map(_.toString).toSeq.sorted
  }

  private def docStream(df: DataFrame): DataFrame = {
    import spark.implicits._
    df.select(when($"_1" >= 0, $"_1").as("doc_id"),
      timestamp_seconds(when($"_2" >= 0, $"_2")).as("ts"),
      when($"_3" =!= "", $"_3").as("text"))
  }

  test("streamingNearDedup ignores NULL ts and NULL text rows") {
    val clean = Seq((1L, T0, DocA), (2L, T0 + 30, DocB))
    val poison = Seq((7L, -1L, DocA), // NULL ts, real text
      (8L, T0 + 40, ""),              // real ts, NULL text
      (-9L, T0 + 50, DocA))           // NULL doc_id (AssertNotNull trap)
    def run(rows: Seq[(Long, Long, String)]) =
      runOnce(rows, docStream,
        DedupOps.streamingNearDedup(_, 3600L).toDF(), "pnd")
    val a = run(clean)
    val b = run(clean ++ poison)
    assert(a.nonEmpty && a == b,
      s"poison rows must be ignored, not change output: $a vs $b")
  }

  test("streamingFrameDedup ignores NULL ts and NULL payload rows") {
    import spark.implicits._
    def mediaStream(df: DataFrame): DataFrame =
      df.select(when($"_1" >= 0, $"_1").as("media_id"),
        timestamp_seconds(when($"_2" >= 0, $"_2")).as("ts"),
        encode(when($"_3" =!= "", $"_3"), "UTF-8").as("payload"))
    val clean = Seq((1L, T0, DocA), (2L, T0 + 30, DocA))
    val poison = Seq((7L, -1L, DocA), (8L, T0 + 40, ""),
      (-9L, T0 + 50, DocA))           // NULL media_id (AssertNotNull trap)
    def run(rows: Seq[(Long, Long, String)]) =
      runOnce(rows, mediaStream,
        MultimodalOps.streamingFrameDedup(_, 3600L).toDF(), "pfd")
    val a = run(clean)
    val b = run(clean ++ poison)
    assert(a.nonEmpty && a == b,
      s"poison rows must be ignored, not change output: $a vs $b")
  }

  test("streamingContamination ignores NULL ts rows") {
    import spark.implicits._
    val evalIdx = Pins.pin(DedupOps.contaminationIndex(
      Seq((100L, DocA)).toDF("doc_id", "text"), $"doc_id", $"text"))
    try {
      evalIdx.count()
      val clean = Seq((1L, T0, DocA), (2L, T0 + 30, DocB))
      val poison = Seq((7L, -1L, DocA))
      def run(rows: Seq[(Long, Long, String)]) =
        runOnce(rows, docStream,
          DedupOps.streamingContamination(_, evalIdx,
            minJaccard = 0.5, maxLatenessSec = 3600L), "pct")
      val a = run(clean)
      val b = run(clean ++ poison)
      assert(a.nonEmpty && a == b,
        s"poison rows must be ignored, not change output: $a vs $b")
    } finally Pins.releaseAll()
  }

  test("streamingFuzzyLink ignores NULL ts, NULL key, and NULL id rows") {
    import spark.implicits._
    val idx = Pins.pin(FuzzyJoinOps.buildChunkIndex(
      Seq((100L, "the quick brown fox"), (101L, "zz"))
        .toDF("id", "k"), $"id", $"k", 2))
    try {
      idx.count()
      val clean = Seq((1L, T0, "the quick brown fax"), // dist 1 vs 100
        (2L, T0 + 30, "completely unrelated key"))
      val poison = Seq((7L, -1L, "the quick brown fox"), // NULL ts
        (8L, T0 + 40, ""),                               // NULL key
        (-9L, T0 + 50, "the quick brown fox"))           // NULL id
      def run(rows: Seq[(Long, Long, String)]) =
        runOnce(rows, df =>
          df.select(when($"_1" >= 0, $"_1").as("did"),
            timestamp_seconds(when($"_2" >= 0, $"_2")).as("ts"),
            when($"_3" =!= "", $"_3").as("dk")),
          FuzzyJoinOps.streamingFuzzyLink(_, $"did", $"ts", $"dk",
            idx, k = 2, maxLatenessSec = 3600L), "pfz")
      val a = run(clean)
      val b = run(clean ++ poison)
      assert(a.nonEmpty && a == b,
        s"poison rows must be ignored, not change output: $a vs $b")
    } finally Pins.releaseAll()
  }

  test("streamingAnnServe ignores NULL ts and NULL query-vector rows") {
    import spark.implicits._
    val dim = 4
    val emb = (0 until 6).map(i =>
      (i.toLong, (0 until dim).map(j => math.sin(1.0 + i * 0.7 + j * 1.3))))
    val q = VectorOps.quantize(
      emb.toDF("vec_id", "embedding"), $"vec_id", $"embedding")
    val idx = Pins.pin(q.withColumn("bucket", VectorOps.lshBucket(1, dim)))
    try {
      idx.count()
      val pv = idx.filter($"vec_id" === 0L)
        .select($"qv").as[Seq[Long]].head()
      def annStream(df: DataFrame): DataFrame =
        df.select($"_1".as("probe_id"),
          timestamp_seconds(when($"_2" >= 0, $"_2")).as("ts"),
          when(size($"_3") > 0, $"_3").as("qv"))
      // watermark advancer (last row) closes the serving window in both
      val clean = Seq((0L, T0, pv), (-1L, T0 + 100000L, pv))
      val poison = Seq((7L, -1L, pv),          // NULL ts
        (8L, T0 + 10, Seq.empty[Long]))        // NULL qv
      def run(rows: Seq[(Long, Long, Seq[Long])]) =
        runOnce(rows, annStream,
          VectorOps.streamingAnnServe(_, idx, 3, 1, dim, probeRadius = 1,
            windowSec = 3600L, latenessSec = 1L), "pann")
      val a = run(clean)
      val b = run(clean ++ poison)
      assert(a.nonEmpty && a == b,
        s"poison rows must be ignored, not change output: $a vs $b")
    } finally Pins.releaseAll()
  }
}
