package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft._
import graft.TestSpark

/** End-to-end streaming ingest: deterministic generator → status handling
  * → tumbling block commit with checkpointing; totals must match the
  * generator's closed form (the srcSIM test-harness role,
  * plugins/srcSIM.c:97-117). */
class IngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val t0 = 1700000000L

  test("ingest N intervals: committed totals match the closed form; " +
       "checkpoint resumes without duplicates") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val out = Files.createTempDirectory("ingest_out").toString
    val ckpt = Files.createTempDirectory("ingest_ckpt").toString

    val mem = MemoryStream[Long]
    val tickDf = mem.toDF.select($"value".as("n"),
      timestamp_seconds(lit(t0) + $"value" * 10).as("ts"))
    val rows = Ingest.applyStatus(Ingest.unionSources(Seq(
      Ingest.simTransform(tickDf, 0),
      Ingest.simTransform(tickDf, 1, statusEvery = Some(16)))))

    def run(ticks: Seq[Long]): Unit = { // fresh query, same checkpoint
      val q = Ingest.commitStream(rows, blockSec = 240, out, ckpt)
      mem.addData(ticks: _*)
      q.processAllAvailable()
      q.stop()
    }

    run(1L to 48L)
    val df1 = spark.read.parquet(out)
    // 2 sources x 6 channels x 48 intervals
    assert(df1.count() == 2 * 6 * 48)
    // block windows: 480 s at 240 s/block -> 3 partitions (ticks 1..48
    // span t0+10..t0+480, so windows t0, t0+240, t0+480)
    assert(df1.select("block_epoch").distinct().count() == 3)

    // counters carry the absolute odometer: last - first = closed form
    for (((name, k, amp), _) <- Ingest.SimChans.zipWithIndex) {
      val vals = df1.filter($"channel" === s"src0_$name" && $"valid")
        .agg(min("value"), max("value")).head
      assert(vals.getLong(0) == Ingest.simOdometer(1, k, amp), s"$name first")
      assert(vals.getLong(1) == Ingest.simOdometer(48, k, amp), s"$name last")
    }
    // gauge channel: exact sine table
    val volts = df1.filter($"channel" === "src0_volts").select("value").as[Long]
      .collect().sorted
    val expect = (1L to 48L)
      .map(n => 1200L + math.round(math.sin(n.toDouble / 20) * 40)).sorted
    assert(volts.toSeq == expect)
    // src1 drops every 16th tick to NULL (status handling, edd.c:322-331)
    assert(df1.filter($"channel" === "src1_volts" && !$"valid").count() == 3)
    assert(df1.filter($"channel" === "src1_volts" && $"value".isNull).count() == 3)

    // resume from the checkpoint: only the new ticks append
    run(49L to 60L)
    val df2 = spark.read.parquet(out)
    assert(df2.count() == 2 * 6 * 60)
    assert(df2.filter($"channel" === "src0_cnt1" && $"valid")
      .agg(max("value")).head.getLong(0) ==
      Ingest.simOdometer(60, 2, 10))
  }

  test("simTransform closed-form odometer equals the definitional sum") {
    import spark.implicits._
    val ticks = (1L to 300L).toDF("n")
      .select($"n", timestamp_seconds(lit(t0) + $"n" * 10).as("ts"))
    val got = Ingest.simTransform(ticks, 0).filter($"counter")
      .select($"channel", $"ts_us", $"reading")
      .as[(String, Long, Long)].collect()
      .groupBy(_._1).map { case (c, rs) => c -> rs.sortBy(_._2).map(_._3).toSeq }
    for ((name, k, amp) <- Ingest.SimChans) {
      val want = (1L to 300L).map(Ingest.simOdometer(_, k, amp))
      assert(got(s"src0_$name") == want, s"closed form diverges for $name")
    }
  }

  test("tsdMirror streams micro-batches into readable native .tsd files") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val out = Files.createTempDirectory("tsd_mirror").toString
    val ckpt = Files.createTempDirectory("tsd_mirror_ckpt").toString
    val schema = graft.model.EtsdSchema(
      Seq(graft.model.ChannelConfig("g1", graft.model.StreamType.FullS)),
      intervalSec = 10, blockIntervals = 6)
    val base = 1700000040L // span-aligned (6 iv x 10 s, 1 block/file)
    val mem = MemoryStream[Long]
    val rows = mem.toDF.select((lit(base) + $"value" * 10).cast("long").as("te"))
      .select(($"te" * 1000000L).as("ts_us"), lit("g1").as("channel"),
        ($"te" % 1000L).as("value"), lit(true).as("valid"))
    val q = Ingest.tsdMirror(rows, schema, out, ckpt, blocksPerFile = 1)
    mem.addData(0L to 11L: _*)
    q.processAllAvailable()
    q.stop()
    val back = spark.read.format("graft.sources.TsdDataSource").load(out)
      .filter(!$"is_register")
      .orderBy("ts").collect()
    assert(back.length == 12)
    assert(back.map(_.getLong(2)).toSeq ==
      (0 to 11).map(k => (base + k * 10) % 1000L))
  }

  test("AC-voltage offset encode/decode (srcECM.c:45-47,238-253)") {
    import spark.implicits._
    val volts = Seq[Option[Long]](Some(0L), Some(900L), Some(1040L), Some(1200L),
      Some(1293L), Some(1294L), Some(5000L), None).toDF("v")
    val got = volts.select(
        Ingest.acVoltsEncode($"v").as("enc"),
        Ingest.acVoltsDecode(Ingest.acVoltsEncode($"v")).as("dec"))
      .as[(Long, Option[Long])].collect().toSeq
    assert(got == Seq(
      (0L, None),            // outage
      (1L, None),            // brownout
      (0L + 0, None),        // exactly offset -> 0? no: 1040-1040=0 = outage code
      (160L, Some(1200L)),   // nominal 120.0 V
      (253L, Some(1293L)),   // top of exact range
      (254L, None),          // overvoltage cap
      (254L, None),          // clamp
      (255L, None)))         // invalid
  }

  test("edoMirror: streaming consolidations merge to the batch rollup") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val out = Files.createTempDirectory("edo_out").toString
    val ckpt = Files.createTempDirectory("edo_ckpt").toString
    val mem = MemoryStream[Long]
    val ticks = mem.toDF.select($"value".as("n"),
      timestamp_seconds(lit(t0) + $"value" * 10).as("ts"))
    val rows = Ingest.applyStatus(Ingest.simTransform(ticks, 0))
    val q = Ingest.edoMirror(rows, Seq(60L, 300L), out, ckpt)
    mem.addData(1L to 30L: _*)
    q.processAllAvailable()
    mem.addData(31L to 60L: _*) // second batch splits buckets across appends
    q.processAllAvailable()
    q.stop()

    val merged = Ingest.mergeMirror(spark, out)
    // against a direct batch rollup of the same 60 ticks
    val batch = graft.operators.TimeSeriesOps.rollupLadder(
      Ingest.applyStatus(Ingest.simTransform(
          (1L to 60L).toDF("value").select($"value".as("n"),
            timestamp_seconds(lit(t0) + $"value" * 10).as("ts")), 0))
        .filter($"valid"),
      $"channel", timestamp_micros($"ts_us"), $"value", $"ts_us", Seq(60L, 300L))
    val key = Seq("resolution_sec", "channel", "bucket_epoch")
    val cmp = merged.select(key.map(col) :+ $"n" :+ $"ave" :+ $"vmin" :+ $"vmax" :+ $"last": _*)
      .except(batch.select(key.map(col) :+ $"n" :+ $"ave" :+ $"vmin" :+ $"vmax" :+ $"last": _*))
    assert(cmp.isEmpty, s"diff: ${cmp.collect().mkString("; ")}")
    assert(merged.count() == batch.count())
  }

  test("blockAggregate: watermark admits bounded lateness, drops the rest") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long)] // (ts_sec, value)
    val rows = mem.toDF().toDF("t", "v")
      .select(($"t" * 1000000L).as("ts_us"), lit("c").as("channel"),
        $"v".as("value"), lit(true).as("valid"))
    val q = Ingest.blockAggregate(rows, blockSec = 60L, maxLateness = "30 seconds")
      .writeStream.format("memory").queryName("blocks")
      .outputMode("append").start()
    // batch 1: two rows in window [0,60), one in [60,120) -> wm = 70-30 = 40
    mem.addData((10L, 1L), (20L, 2L), (70L, 10L))
    q.processAllAvailable()
    // batch 2: ts=50 is LATE but above the 40 s watermark -> admitted into
    // its (still open) window; ts=100 pushes wm to 70 -> window 0 closes
    mem.addData((50L, 4L), (100L, 20L))
    q.processAllAvailable()
    // batch 3: ts=30 is below the watermark -> dropped entirely;
    // ts=160 pushes wm to 130 >= 120 -> window 1 closes
    mem.addData((30L, 100L), (160L, 40L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("blocks")
      .select($"block_epoch", $"n", $"total").as[(Long, Long, Long)]
      .collect().sortBy(_._1)
    // window 0 includes the admitted late row (1+2+4), NOT the dropped 100
    assert(got.toSeq == Seq((0L, 3L, 7L), (60L, 2L, 30L)))
  }

  test("streamingExactDedup drops in-watermark duplicates, state bounded") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String)] // (ts_sec, doc_id, text)
    val docs = mem.toDF().toDF("t", "doc_id", "text")
      .select(timestamp_seconds($"t").as("ts"), $"doc_id", $"text")
    val q = graft.operators.DedupOps
      .streamingExactDedup(docs, $"text", maxLateness = "60 seconds")
      .writeStream.format("memory").queryName("sdedup")
      .outputMode("append").start()
    // batch 1: A twice (dup within batch), B once
    mem.addData((10L, 1L, "Alpha  doc"), (20L, 2L, "alpha doc"), (30L, 3L, "beta"))
    q.processAllAvailable()
    // batch 2: another copy of A within the watermark -> dropped;
    // C is new -> kept
    mem.addData((40L, 4L, "ALPHA DOC"), (50L, 5L, "gamma"))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("sdedup").select($"doc_id").as[Long]
      .collect().sorted.toSeq
    assert(kept == Seq(1L, 3L, 5L)) // first copy of each distinct text only
  }

  test("counterDeltas: LastReading/MissedUpdate state across batches") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[SrcRow]
    val q = Ingest.counterDeltas(mem.toDS())
      .writeStream.format("memory").queryName("deltas")
      .outputMode("append").start()

    def row(i: Int, reading: Long, status: Int) =
      SrcRow(i * 1000000L, 0, "c", reading, status, counter = true)
    // batch 1: baseline, clean delta, then two misses
    mem.addData(row(1, 100, 0), row(2, 150, 0), row(3, 0, 1), row(4, 0, 1))
    q.processAllAvailable()
    // batch 2 (state crosses the batch boundary): recovery averages the
    // accumulated delta over 1+missed; then a reset clears the baseline
    mem.addData(row(5, 250, 0), row(6, 0, 2), row(7, 999, 0))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("deltas").as[DeltaRow].collect().sortBy(_.ts_us)
    assert(got.map(_.delta).toSeq == Seq(None, Some(50L), None, None,
      Some((250L - 150L) / 3), None, None))
    assert(got.map(_.missed).toSeq == Seq(0, 0, 0, 1, 2, 0, 0))
    // reset semantics: ts 6 (reset) emits an invalid row — same row count
    // as the block-encoder path (EtsdEncoder.saveChan stores the sentinel
    // for the reset interval) — then ts 7 re-baselines with no delta
    assert(got.last.ts_us == 7 * 1000000L && got.last.delta.isEmpty)
  }

  test("counterDeltas give-up boundary: 255 misses average, 256 re-anchor" +
    " (etsdSave.c:445-459)") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // two channels, same tick grid: channel a has a 255-miss outage (the
    // decoder must still average the recovery delta over 256 intervals),
    // channel b a 256-miss outage (one past the MissedUpdate ceiling —
    // the baseline is abandoned and the recovery tick re-anchors)
    def rows(ch: String, run: Int): Seq[SrcRow] =
      (SrcRow(1000000L, 0, ch, 1000L, 0, counter = true) +:
        (1 to run).map(i =>
          SrcRow((1 + i) * 1000000L, 0, ch, 0L, 1, counter = true))) :+
        SrcRow((2 + run) * 1000000L, 0, ch, 1000L + 512L * (run + 1), 0,
          counter = true)
    val mem = MemoryStream[SrcRow]
    val q = Ingest.counterDeltas(mem.toDS())
      .writeStream.format("memory").queryName("giveup")
      .outputMode("append").start()
    mem.addData(rows("a", 255) ++ rows("b", 256): _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("giveup").as[DeltaRow].collect()
    val aRec = got.filter(r => r.channel == "a" && r.ts_us == 257 * 1000000L).head
    val bRec = got.filter(r => r.channel == "b" && r.ts_us == 258 * 1000000L).head
    assert(aRec.delta.contains(512L) && aRec.missed == 255,
      s"255-miss recovery must average (got $aRec)")
    assert(bRec.delta.isEmpty,
      s"256-miss recovery must re-anchor, not emit a delta (got $bRec)")
    // after the re-anchor, deltas resume from the new baseline
    assert(got.count(r => r.channel == "b" && r.delta.isDefined) == 0)
    assert(got.count(r => r.channel == "a" && r.delta.isDefined) == 1)
  }
}
