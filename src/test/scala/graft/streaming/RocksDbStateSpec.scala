package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft._
import graft.TestSpark
import graft.queries.StreamFixture

/** The 100 TB state-store path: at cluster scale, streaming state (the
  * per-channel `LastReading` decode state, windowed block aggregates,
  * dedup key sets) must not live in executor heap — Spark's RocksDB
  * provider spills it to local disk with incremental checkpointing.
  * These tests run the SAME stateful operators the oracle gate runs,
  * but on `RocksDBStateStoreProvider`, and require identical results —
  * proving none of our stateful code depends on the default
  * HDFS-backed in-memory store (provider choice is then purely a
  * deploy-time `spark.sql.streaming.stateStore.providerClass` conf). */
class RocksDbStateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Provider = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def withRocksDb[A](f: => A): A = {
    // the provider is captured at query START, so a scoped session conf
    // is enough; restore the default for the rest of the suite
    val prev = spark.conf.getOption(Provider)
    spark.conf.set(Provider, RocksDb)
    try f
    finally prev.fold(spark.conf.unset(Provider))(spark.conf.set(Provider, _))
  }

  test("counterDeltas state lives in RocksDB: identical decode across batches") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def run(): Seq[DeltaRow] = {
      val mem = MemoryStream[SrcRow]
      def row(i: Int, reading: Long, status: Int) =
        SrcRow(i * 1000000L, 0, "c", reading, status, counter = true)
      StreamFixture.collect(spark, "rocks_cd", Ingest.counterDeltas(mem.toDS()).toDF()) { q =>
        mem.addData(row(1, 100, 0), row(2, 150, 0), row(3, 0, 1))
        q.processAllAvailable()
        mem.addData(row(4, 0, 1), row(5, 250, 0), row(6, 0, 2), row(7, 999, 0))
        q.processAllAvailable()
      }.as[DeltaRow].collect().toSeq.sortBy(_.ts_us)
    }
    val rocks = withRocksDb { run() }
    val default = run()
    assert(rocks == default, "RocksDB-backed decode diverged from default")
    assert(rocks.map(_.delta) == Seq(None, Some(50L), None, None,
      Some((250L - 150L) / 3), None, None))
  }

  test("windowed block aggregate + watermark on RocksDB matches the closed form") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val got = withRocksDb {
      val mem = MemoryStream[Long]
      val t0 = 1700000000L
      val rows = mem.toDF().select(
        ($"value" * 10L + t0).cast("long").alias("epoch"))
        .select(($"epoch" * 1000000L).as("ts_us"), lit("g").as("channel"),
          ($"epoch" % 7L).as("value"), lit(true).as("valid"))
      val agg = Ingest.blockAggregate(rows, blockSec = 600L,
        maxLateness = "30 seconds")
      StreamFixture.collect(spark, "rocks_ba", agg) { q =>
        mem.addData(1L to 60L: _*); q.processAllAvailable()
        mem.addData(61L to 200L: _*); q.processAllAvailable()
      }.select($"block_epoch", $"n", $"total").as[(Long, Long, Long)]
        .collect().toSeq.sortBy(_._1)
    }
    // closed form over the ticks whose 600 s block CLOSED under the
    // watermark (ticks run to t0+2000 s; max event time 1700002000,
    // watermark 1700001970 → the blocks starting 1699999800, 1700000400
    // and 1700001000 all have end ≤ watermark and emit; the partial
    // last block, starting 1700001600, stays open)
    val t0 = 1700000000L
    val byBlock = (1L to 200L).map(n => t0 + n * 10)
      .groupBy(e => e / 600 * 600).toSeq.sortBy(_._1)
      .map { case (b, es) => (b, es.size.toLong, es.map(_ % 7).sum) }
    val closed = byBlock.filter(_._1 + 600 <= t0 + 200 * 10 - 30)
    assert(got == closed, s"got $got want $closed")
  }

  test("streaming near-dup band state on RocksDB matches the default store") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val orig =
      "the quick brown fox jumps over the lazy dog and runs far away home"
    val clone =
      "the quick brown fox jumps over the lazy cat and runs far away home"
    val other =
      "completely different words about spark catalyst plans and shuffles"
    def run(): Seq[(Long, Int, Long, Boolean)] = {
      val mem = MemoryStream[(Long, Long, String)]
      val docs = mem.toDF().select($"_1".as("doc_id"),
        timestamp_seconds($"_2").as("ts"), $"_3".as("text"))
      StreamFixture.collect(spark, "rocks_nd",
          graft.operators.DedupOps.streamingNearDedup(docs, 3600L).toDF()) { q =>
        mem.addData((1L, 100L, orig), (3L, 110L, other))
        q.processAllAvailable()
        mem.addData((2L, 120L, clone))
        q.processAllAvailable()
      }.select($"doc_id", $"band", $"holder", $"is_hit")
        .as[(Long, Int, Long, Boolean)].collect().toSeq.sorted
    }
    val rocks = withRocksDb { run() }
    val default = run()
    assert(rocks == default, "RocksDB-backed near-dup diverged from default")
    assert(rocks.exists { case (d, _, h, hit) => d == 2L && h == 1L && hit },
      s"clone must hit the original's cells on RocksDB too: $rocks")
  }

  test("streaming frame-dedup first-holder state on RocksDB matches the default store") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val fb = graft.operators.MultimodalOps.FrameBytes
    def payload(seed: Int): Array[Byte] =
      Array.tabulate(3 * fb)(i => ((seed * 31 + i * 7) & 0xFF).toByte)
    val orig = payload(1)
    val copy = { val p = payload(2); System.arraycopy(orig, 0, p, 0, fb); p }
    def run(): Seq[(Long, Int, Long, Boolean)] = {
      val mem = MemoryStream[(Long, Long, Array[Byte])]
      val media = mem.toDF().select($"_1".as("media_id"),
        timestamp_seconds($"_2").as("ts"), $"_3".as("payload"))
      StreamFixture.collect(spark, "rocks_fd",
          graft.operators.MultimodalOps.streamingFrameDedup(media, 3600L).toDF()) { q =>
        mem.addData((1L, 100L, orig), (3L, 110L, payload(3)))
        q.processAllAvailable()
        mem.addData((2L, 120L, copy))
        q.processAllAvailable()
      }.select($"media_id", $"frame_idx", $"holder", $"is_hit")
        .as[(Long, Int, Long, Boolean)].collect().toSeq.sorted
    }
    val rocks = withRocksDb { run() }
    val default = run()
    assert(rocks == default, "RocksDB-backed frame dedup diverged from default")
    assert(rocks.contains((2L, 0, 1L, true)),
      s"the copied frame must hit its holder on RocksDB too: $rocks")
  }

  test("streaming contamination pair-dedup state on RocksDB flags once") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evalDoc =
      "the five boxing wizards jump quickly over seven lazy brown dogs tonight"
    val leaked =
      "the five boxing wizards jump quickly over seven lazy brown cats tonight"
    def run(): Seq[(Long, Long)] = {
      val evalIdx = graft.operators.DedupOps.contaminationIndex(
        Seq((100L, evalDoc)).toDF("doc_id", "text"), $"doc_id", $"text")
      val mem = MemoryStream[(Long, Long, String)]
      val docs = mem.toDF().select($"_1".as("doc_id"),
        timestamp_seconds($"_2").as("ts"), $"_3".as("text"))
      StreamFixture.collect(spark, "rocks_ct", graft.operators.DedupOps
          .streamingContamination(docs, evalIdx, minJaccard = 0.5, maxLatenessSec = 3600L)) { q =>
        mem.addData((1L, 100L, leaked)); q.processAllAvailable()
        mem.addData((1L, 120L, leaked)); q.processAllAvailable() // re-delivery
      }.select($"train_id", $"eval_id")
        .as[(Long, Long)].collect().toSeq.sorted
    }
    val rocks = withRocksDb { run() }
    val default = run()
    assert(rocks == default, "RocksDB-backed contamination diverged from default")
    assert(rocks == Seq((1L, 100L)),
      s"the leaked pair must flag exactly once on RocksDB: $rocks")
  }

  test("streaming ANN windowed top-k state on RocksDB matches the default store") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dim = 8; val planes = 3
    val corpus = (0 until 32).map { i =>
      (i.toLong, (0 until dim).map(j => math.sin(1.0 + i * 0.7 + j * 1.3)))
    }
    def run(): Seq[(Long, Long, Int)] = {
      val q0 = graft.operators.VectorOps.quantize(
        corpus.toDF("vec_id", "embedding"), $"vec_id", $"embedding")
      val idx = Pins.pin(q0.withColumn("bucket",
        graft.operators.VectorOps.lshBucket(planes, dim)))
      idx.count()
      val probes = idx.filter($"vec_id" < 3L)
        .select($"vec_id", $"qv").as[(Long, Seq[Long])].collect().sortBy(_._1)
      val mem = MemoryStream[(Long, Long, Seq[Long])]
      val stream = mem.toDF().select($"_1".as("probe_id"),
        timestamp_seconds(lit(1700000000L) + $"_2".cast("long")).as("ts"),
        $"_3".as("qv"))
      val out = StreamFixture.collect(spark, "rocks_ann",
          graft.operators.VectorOps.streamingAnnServe(stream, idx,
            k = 3, planes = planes, dim = dim, probeRadius = 2,
            windowSec = 3600L, latenessSec = 1L)) { q =>
        mem.addData(probes.map { case (id, qv) => (id, id, qv) }.toSeq: _*)
        q.processAllAvailable()
        mem.addData((-1L, 36000L, probes.head._2))
        q.processAllAvailable()
      }.filter($"probe_id" >= 0)
        .select($"probe_id", $"vec_id", $"rk")
        .as[(Long, Long, Int)].collect().toSeq.sorted
      Pins.releaseAll()
      out
    }
    val rocks = withRocksDb { run() }
    val default = run()
    assert(rocks == default, "RocksDB-backed ANN serving diverged from default")
    assert(rocks.nonEmpty, "fixture must emit top-k rows")
  }

  test("streaming exact dedup keyed state on RocksDB drops the same dups") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val got = withRocksDb {
      val mem = MemoryStream[Long]
      val t0 = 1700000000L
      val rows = mem.toDF().select(
        timestamp_seconds(lit(t0) + $"value" * 10L).as("ts"),
        pmod($"value", lit(37L)).as("k"))
      StreamFixture.collect(spark, "rocks_dd", graft.operators.DedupOps.streamingExactDedup(
          rows, concat(lit("doc "), $"k".cast("string")), "1 hour")) { q =>
        mem.addData(1L to 300L: _*); q.processAllAvailable()
      }.count()
    }
    assert(got == 37L, s"expected one survivor per key, got $got")
  }

}
