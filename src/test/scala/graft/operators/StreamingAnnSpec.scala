package graft.operators

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft._
import graft.TestSpark
import graft.queries.StreamFixture

/** Streaming ANN serving must answer the batch serving contract: on one
  * corpus, [[VectorOps.streamingAnnServe]]'s emitted top-k equals
  * [[VectorOps.lshKnn]]'s row-for-row (same multi-probe candidate set,
  * same cosine, same rank order), and append mode holds results until
  * the watermark passes the serving window (nothing emits before the
  * advancing event; the advancer's own open window never emits). */
class StreamingAnnSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val Dim = 8
  private val Planes = 3
  private val K = 3
  private val NProbe = 5L
  private val T0 = 1700000000L
  private val WindowSec = 3600L

  /** Deterministic corpus: 48 unit-scale vectors spread across octants
    * so buckets are populated and some probes see sparse buckets. */
  private def corpus = (0 until 48).map { i =>
    (i.toLong, (0 until Dim).map { j =>
      math.sin(1.0 + i * 0.7 + j * 1.3) + (if ((i + j) % 3 == 0) 0.5 else -0.2)
    })
  }

  test("stream equals batch lshKnn row-for-row; emits only on window close") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val q = VectorOps.quantize(
      corpus.toDF("vec_id", "embedding"), $"vec_id", $"embedding")
    val batch = VectorOps.lshKnn(q, _ < NProbe, K, Planes, Dim,
        probeRadius = 2)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(batch.nonEmpty, "fixture must produce batch results")

    val idx = Pins.pin(
      q.withColumn("bucket", VectorOps.lshBucket(Planes, Dim)))
    idx.count()
    val probeRows = idx.filter($"vec_id" < NProbe)
      .select($"vec_id", $"qv").as[(Long, Seq[Long])].collect().sortBy(_._1)
    val mem = MemoryStream[(Long, Long, Seq[Long])]
    val stream = mem.toDF().select($"_1".as("probe_id"),
      timestamp_seconds(lit(T0) + $"_2".cast("long")).as("ts"),
      $"_3".as("qv"))
    val out = StreamFixture.collect(spark, "annspec", VectorOps.streamingAnnServe(stream,
        idx, K, Planes, Dim, probeRadius = 2, windowSec = WindowSec, latenessSec = 1L)) { sq2 =>
      mem.addData(probeRows.map { case (id, qv) => (id, id, qv) }.toSeq: _*)
      sq2.processAllAvailable()
      // append mode: the serving window is still open — nothing emitted
      assert(spark.table(sq2.name).isEmpty,
        "no emission before the watermark passes the window end")
      mem.addData((-1L, 10L * WindowSec, probeRows.head._2))
      sq2.processAllAvailable()
    }
    val got = out.filter($"probe_id" >= 0)
      .select($"probe_id", $"vec_id", $"cos", $"rk")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(got == batch,
      s"stream/batch mismatch: only-stream=${got -- batch}, only-batch=${batch -- got}")
    // the watermark advancer's own window stays open: no -1 rows landed
    assert(out.filter($"probe_id" < 0).isEmpty)
    Pins.releaseAll()
  }

  test("zero-norm corpus vector: cosine is a total 0.0, serving survives") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // planes=1 + probeRadius=1 probes BOTH buckets, so every corpus
    // vector is a candidate; vec 4 quantizes to all-zero qv → nrm=0.
    // Under session-default ANSI the bare division would throw
    // DIVIDE_BY_ZERO and kill batch AND stream on this one row; cosOf
    // instead DEFINES zero-norm similarity as 0.0 (no direction → no
    // match), and stream must equal batch row-for-row on it.
    val rows = Seq(
      (0L, Seq(0.9, 0.1, 0.2, 0.3)),
      (1L, Seq(0.8, 0.2, 0.1, 0.4)),
      (2L, Seq(-0.5, 0.6, -0.7, 0.1)),
      (3L, Seq(0.3, -0.9, 0.2, -0.2)),
      (4L, Seq(0.0, 0.0, 0.0, 0.0)),
      (5L, null.asInstanceOf[Seq[Double]])) // NULL embedding: poison
    val dim = 4
    val planes = 1
    val k = 6 // > real candidate count, so a NULL-cos tail row WOULD fit
    val q = VectorOps.quantize(
      rows.toDF("vec_id", "embedding"), $"vec_id", $"embedding")
    val batch = VectorOps.lshKnn(q, _ === 0L, k, planes, dim,
        probeRadius = 1)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(batch.exists { case (_, v, c, _) => v == 4L && c == 0.0 },
      s"batch must carry the zero-norm vector at cos 0.0: $batch")
    assert(batch.forall { case (_, _, c, _) => !c.isNaN },
      s"no NaN cosines anywhere: $batch")
    assert(!batch.exists(_._2 == 5L),
      s"a NULL embedding must never rank (quantize drops it): $batch")
    // the ranking-mouth NULL-cos drop is defense-in-depth for frames
    // built WITHOUT quantize — hand-build one with a NULL-qv row
    // (bruteKnn's crossJoin has no bucket join to shed it)
    val handMade = q.unionByName(
      Seq((5L, null.asInstanceOf[Seq[Long]], null.asInstanceOf[java.lang.Long]))
        .toDF("vec_id", "qv", "nrm"))
    val brute = VectorOps.bruteKnn(handMade, handMade.filter($"vec_id" === 0L), k)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(brute.nonEmpty && !brute.exists(_._2 == 5L),
      s"bruteKnn must drop the NULL embedding, not rank it: $brute")

    val idx = Pins.pin(
      q.withColumn("bucket", VectorOps.lshBucket(planes, dim)))
    idx.count()
    val pv = idx.filter($"vec_id" === 0L).select($"qv").as[Seq[Long]].head()
    val mem = MemoryStream[(Long, Long, Seq[Long])]
    val stream = mem.toDF().select($"_1".as("probe_id"),
      timestamp_seconds(lit(T0) + $"_2".cast("long")).as("ts"),
      $"_3".as("qv"))
    val got = StreamFixture.collect(spark, "annnan", VectorOps.streamingAnnServe(stream,
        idx, k, planes, dim, probeRadius = 1, windowSec = WindowSec, latenessSec = 1L)) { sq2 =>
      mem.addData((0L, 0L, pv))
      sq2.processAllAvailable()
      // redeliver the probe row WITHIN the same serving window (an
      // at-least-once source retry): identical candidate structs must
      // collapse in the set aggregate, not occupy duplicate ranks
      mem.addData((0L, 0L, pv))
      sq2.processAllAvailable()
      mem.addData((-1L, 10L * WindowSec, pv))
      sq2.processAllAvailable()
    }.filter($"probe_id" >= 0)
      .select($"probe_id", $"vec_id", $"cos", $"rk")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(got == batch,
      s"stream/batch mismatch under intra-window redelivery: " +
        s"only-stream=${got -- batch}, only-batch=${batch -- got}")
    Pins.releaseAll()
  }
}
