package perfbench

import java.nio.file.Files

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.EtsdCmd
import graft.codec.EtsdDecoder
import graft.model.EtsdSchema
import graft.operators.TimeSeriesOps
import graft.streaming.{EddConfig, EddMain, Ingest}

/** The write path, measured in traced runs: a `MemoryStream` of 10 s
  * ticks through `EddMain.assembleFromTicks` (four simulated sources),
  * mirrored to native `.tsd` files with the sidecar (`Ingest.tsdMirror`)
  * and to the RRD-style rollups (`Ingest.edoMirror`). One client thread
  * adds a batch of whole, aligned file spans and waits until both sinks
  * commit it before adding the next. */
object IngestLoad {
  val Sources = 4
  val Resolutions: Seq[Long] = Seq(60L, 300L)
  /** File spans per batch: a few minutes of data, as a daemon commits. */
  val BatchSpans = 6
  val WarmBatches = 4
  val Batches = 8
  /** Operation id the sinks' Spark jobs carry. */
  val IngestOp = -3L

  val config: EddConfig = EddConfig.parse(
    "#\nE:ingest.tsd\n" + "SN:libsrcSIM.so\n" * Sources)

  /** One channel per simulated reading, as the daemon's create would
    * lay them out: five counters with registers and the volts gauge. */
  lazy val schema: EtsdSchema = EtsdCmd.createSchema("T=10s" +: (0 until Sources).flatMap { s =>
    Ingest.SimChans.zipWithIndex.map { case ((name, _, _), i) => s"src${s}_$name:8:E${s * 6 + i}" } :+
      s"src${s}_volts:8:E${s * 6 + 5}:G"
  })

  def spanSec: Long = schema.blockIntervals * 10L
  def ticksPerSpan: Long = schema.blockIntervals.toLong

  /** Tick `n` (from 1) is stamped `t0 + 10 n`. */
  private def ticks(spark: SparkSession, src: DataFrame, t0: Long): DataFrame = {
    import spark.implicits._
    src.select($"value".as("n"), timestamp_seconds(lit(t0) + $"value" * 10).as("ts"))
  }

  final class Pipeline(val mem: MemoryStream[Long], val tsd: StreamingQuery,
                       val edo: StreamingQuery, val tsdDir: String, val edoDir: String) {
    var next = 1L
    /** Add `spans` file spans of ticks and wait until both sinks commit. */
    def push(spans: Int, t: Tracer): (Long, Long) = {
      val a = next
      next += spans * ticksPerSpan
      t("streaming.batch") {
        mem.addData(a until next: _*)
        t("streaming.tsd_commit")(tsd.processAllAvailable())
        t("streaming.edo_commit")(edo.processAllAvailable())
      }
      (a, next - 1)
    }
    def stop(): Unit = { tsd.stop(); edo.stop() }
  }

  private def start(ctx: Ctx, dir: String, t0: Long): Pipeline = {
    val spark = ctx.spark
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Long]
    val rows = EddMain.assembleFromTicks(ticks(spark, mem.toDF(), t0), config)
    new Pipeline(mem,
      Ingest.tsdMirror(rows, schema, s"$dir/tsd", s"$dir/ckpt-tsd"),
      Ingest.edoMirror(rows, Resolutions, s"$dir/edo", s"$dir/ckpt-edo"),
      s"$dir/tsd", s"$dir/edo")
  }

  /** Progress of every streaming batch, by query id. */
  final class Progress extends StreamingQueryListener {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = events.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Run the write path in a traced run: start both sinks, commit
    * `WarmBatches` and then `Batches` batches (one client thread, closed
    * loop), check what was stored, and record the streaming layer's
    * figures in `r`. Each measured batch counts as an operation. */
  def probe(ctx: Ctx, r: Result): Unit = {
    val spark = ctx.spark
    val rng = new scala.util.Random(ctx.seed)
    // seeded, span-aligned start: tick 1 opens a file span
    val aligned = Garage.BaseEpoch + rng.nextInt(365) * 86400L
    val t0 = aligned - aligned % spanSec - 10
    val progress = new Progress
    spark.streams.addListener(progress)
    ctx.tag(IngestOp, "stream") // the sinks' jobs inherit the tag
    val pipe = start(ctx, s"${ctx.runDir}/ingest", t0)
    ctx.tag(-1L, "")
    val t = ctx.tracer
    t.op = IngestOp
    (1 to WarmBatches).foreach(_ => pipe.push(BatchSpans, t))
    val batches = ArrayBuffer.empty[(Long, Long)]
    val lat = ArrayBuffer.empty[Double]
    t.on = true
    (1 to Batches).foreach { _ =>
      val t1 = System.nanoTime()
      batches += pipe.push(BatchSpans, t)
      lat += (System.nanoTime() - t1) / 1e6
    }
    pipe.stop()
    val lastTick = pipe.next - 1
    val nChan = schema.channels.size
    val rate = Stats.median(batches.zip(lat).map { case ((a, b), ms) => (b - a + 1) * nChan / (ms / 1000) }.toSeq)
    r.metrics("streaming.batch_p50_ms") = Stats.median(lat.toSeq)
    r.metrics("streaming.readings_per_s") = rate
    r.metrics("streaming.stored_bytes_per_reading") =
      Garage.storedBytes(pipe.tsdDir).toDouble / (lastTick * nChan)
    r.note("batch_p50_ms", Stats.median(lat.toSeq), "ms", s"ingest, n=${lat.size}")
    r.note("ingest_readings_per_s", rate, "1/s", "median over batches of readings / batch seconds")

    // oracles: tsd readback against the simulator, rollups against batch
    val bad = mutable.Set.empty[Int]
    def batchOf(tick: Long): Int = batches.indexWhere { case (a, b) => tick >= a && tick <= b }
    readbackMismatches(pipe.tsdDir, t0, lastTick).foreach(n => bad += batchOf(n))
    rollupMismatches(ctx, pipe.edoDir, t0, lastTick).foreach(n => bad += batchOf(n))
    t.on = false
    r.attempted += batches.size + 1 // the warm-up batches are checked too (index -1)
    r.failed += bad.size

    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.streams.removeListener(progress)
    val ids = Set(pipe.tsd.id, pipe.edo.id)
    val ps = progress.events.asScala.toSeq.map(_.progress)
      .filter(p => ids.contains(p.id) && p.batchId >= WarmBatches && p.numInputRows > 0)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def dur(k: String, p: org.apache.spark.sql.streaming.StreamingQueryProgress): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    r.metrics("streaming.trigger_ms") = mean(ps.map(dur("triggerExecution", _)))
    r.metrics("streaming.add_batch_ms.tsd") = mean(ps.filter(_.id == pipe.tsd.id).map(dur("addBatch", _)))
    r.metrics("streaming.add_batch_ms.edo") = mean(ps.filter(_.id == pipe.edo.id).map(dur("addBatch", _)))
    r.metrics("streaming.planning_ms") = mean(ps.map(dur("queryPlanning", _)))
    r.metrics("streaming.commit_ms") = mean(ps.map(p => dur("walCommit", p) + dur("commitOffsets", p)))
    r.metrics("streaming.rows_per_batch") = mean(ps.map(_.numInputRows.toDouble))
    val jobs = ctx.listener.get.forOp(IngestOp)
    r.metrics("streaming.jobs_per_batch") = jobs.map(_.jobs).sum.toDouble / (WarmBatches + Batches)
    r.metrics("operators.rollup_ladder_ms") = ctx.spanMs("operators.rollup_ladder")
    Garage.deleteTree(s"${ctx.runDir}/ingest")
  }

  /** Ticks whose stored readings differ from the simulator: every tick
    * must be stored once per channel; a counter stores the tick's
    * increment `simOdometer(n) - simOdometer(n-1)` (invalid only on a
    * file's first tick, where the sink's encoder has no prior reading);
    * the gauge stores `1200 + round(40 sin(n/20))`. */
  def readbackMismatches(tsdDir: String, t0: Long, lastTick: Long): Set[Long] = {
    val names = schema.channels.map(_.name)
    val params = Ingest.SimChans.map { case (name, k, amp) => name -> (k, amp) }.toMap
    // odometer prefix sums; the last is checked against the closed form
    val odo = params.values.toSeq.distinct.map { case (k, amp) =>
      val a = new Array[Long]((lastTick + 1).toInt)
      var n = 1
      while (n <= lastTick) { a(n) = a(n - 1) + Ingest.simIncrement(n, k, amp); n += 1 }
      require(a(lastTick.toInt) == Ingest.simOdometer(lastTick, k, amp), s"odometer ($k, $amp)")
      (k, amp) -> a
    }.toMap
    val seen = Array.fill(names.size)(new java.util.BitSet((lastTick + 1).toInt))
    val bad = mutable.Set.empty[Long]
    Garage.tsdFiles(tsdDir).foreach { f =>
      val (s, samples) = EtsdDecoder.decodeFile(Files.readAllBytes(f.toPath))
      val fileFirst = samples.filterNot(_.isRegister).map(_.tsEpoch).min
      samples.foreach { smp =>
        val n = (smp.tsEpoch - t0) / 10 - (if (smp.isRegister) 0 else 1)
        val name = s.channels(smp.chan).name
        val base = name.substring(name.indexOf('_') + 1)
        if (smp.isRegister) {
          val want = odo(params(base))((n - 1).toInt) & 0xFFFFFFFFL
          if (smp.value.exists(_ != want)) bad += n
        } else if (n < 1 || n > lastTick || seen(smp.chan).get(n.toInt)) bad += n
        else {
          seen(smp.chan).set(n.toInt)
          val ok = params.get(base) match {
            case Some(p) =>
              smp.value match {
                case Some(d) => d == odo(p)(n.toInt) - odo(p)(n.toInt - 1)
                case None => smp.tsEpoch == fileFirst
              }
            case None =>
              smp.value.contains(
                BigDecimal(math.sin(n / 20.0) * 40).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong + 1200)
          }
          if (!ok) bad += n
        }
      }
    }
    names.indices.foreach { c =>
      (1L to lastTick).foreach(n => if (!seen(c).get(n.toInt)) bad += n)
    }
    bad.toSet
  }

  /** Ticks inside rollup buckets where `Ingest.mergeMirror` differs from a
    * batch `rollupLadder` over the same ticks. */
  def rollupMismatches(ctx: Ctx, edoDir: String, t0: Long, lastTick: Long): Set[Long] = {
    val spark = ctx.spark
    import spark.implicits._
    val merged = Ingest.mergeMirror(spark, edoDir)
    val rows = EddMain.assembleFromTicks(ticks(spark, spark.range(1, lastTick + 1).toDF("value"), t0), config)
    val batch = ctx.tracer("operators.rollup_ladder") {
      TimeSeriesOps.rollupLadder(rows.filter($"valid"), $"channel",
        timestamp_micros($"ts_us"), $"value", $"ts_us", Resolutions).cache()
    }
    ctx.tracer("operators.rollup_ladder")(batch.count())
    val cols = Seq("resolution_sec", "channel", "bucket_epoch", "n", "ave", "vmin", "vmax", "last").map(col)
    val diff = merged.select(cols: _*).exceptAll(batch.select(cols: _*))
      .union(batch.select(cols: _*).exceptAll(merged.select(cols: _*)))
      .select($"resolution_sec", $"bucket_epoch").as[(Long, Long)].collect()
    batch.unpersist()
    diff.flatMap { case (res, b) =>
      ((b - t0 + 9) / 10 to (b + res - 1 - t0) / 10).filter(n => n >= 1 && n <= lastTick)
    }.toSet
  }
}
