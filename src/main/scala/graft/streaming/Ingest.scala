package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft._

/** One source reading flowing through the ingest pipeline — the Spark row
  * form of a `srcReadChan` result + its status code (edd.c:318-341;
  * status 0 = good, 1 = checksum/timeout, 2 = source reset,
  * plugins/sourceAPI.txt:46-47). */
final case class SrcRow(ts_us: Long, source_id: Int, channel: String,
                        reading: Long, status: Int, counter: Boolean)

/** Output of the stateful counter-delta decode: the averaged per-interval
  * delta the reference's save path would store (etsdSave.c:394-402). */
final case class DeltaRow(ts_us: Long, channel: String, delta: Option[Long],
                          missed: Int)

private final case class ChanState(last: Long, missed: Int, hasLast: Boolean)

/** The `edd` ingest daemon (edd.c:239-387) as Structured Streaming:
  * deterministic srcSIM-style generator sources, ≤4-source union,
  * invalid/reset status handling, per-channel `LastReading`/`MissedUpdate`
  * state across micro-batches, and a tumbling block-window commit to
  * partitioned parquet with checkpointing (a strictly stronger guarantee
  * than the reference's crash-loses-one-block model, README.md:7-9).
  *
  * Scale stance: the pipeline is shuffle-free until the optional stateful
  * decode (keyed by channel — the reference's own cardinality), and the
  * sink partitions by block window, so 1000 executors append in parallel
  * with no coordination beyond the streaming commit log. */
object Ingest {

  /** Sine parameters of the simulator source: 5 counters accumulating
    * `floor((sin(n/k)+1)·amp)` per interval plus an AC-voltage gauge
    * `120 + 4·sin(n/20)` (plugins/srcSIM.c:97-117). */
  val SimChans: Seq[(String, Int, Int)] = Seq( // (name, k, amp)
    ("cnt1", 2, 10), ("cnt2", 5, 20), ("cnt3", 3, 30),
    ("cnt4", 7, 40), ("cnt5", 10, 50))

  /** Per-interval counter increment, interval `j` (1-based): a sawtooth
    * `(j mod k) · amp` — wave-like but with an exact integer partial sum,
    * so the odometer is O(1) per tick (no per-row re-summation that would
    * make a long-running demo stream decay). */
  def simIncrement(j: Long, k: Int, amp: Int): Long = (j % k) * amp

  /** Odometer after `n` intervals, as the definitional sum — the test
    * oracle the closed form in [[simTransform]] must reproduce. */
  def simOdometer(n: Long, k: Int, amp: Int): Long =
    (1L to n).map(simIncrement(_, k, amp)).sum

  /** Transform a stream of interval ticks (`n` ≥ 1, `ts`) into the
    * 6-channel reading stream of one simulated source. `statusEvery`
    * injects an invalid tick every k-th interval (status 1), mirroring a
    * checksum/timeout failure. The odometer uses the sawtooth's closed
    * form — every full cycle of k ticks adds `k(k-1)/2 · amp`, the tail
    * adds `r(r+1)/2 · amp` — pure integer codegen'd expressions with O(1)
    * work per row regardless of stream age (a real source reports its
    * own absolute readings; only this generator needs the trick). */
  def simTransform(ticks: DataFrame, sourceId: Int,
                   statusEvery: Option[Int] = None): DataFrame = {
    val status = statusEvery
      .map(k => when($"n" % k === 0, lit(1)).otherwise(lit(0)))
      .getOrElse(lit(0))
    val chans = SimChans.map { case (name, k, amp) =>
      // q whole cycles à k(k-1)/2, tail residues 1..r à r(r+1)/2 (even
      // product → the DIV 2 is exact); all-integral, no double anywhere
      val odo = expr(
        s"((n DIV $k) * ${k.toLong * (k - 1) / 2} + " +
        s"((n % $k) * ((n % $k) + 1)) DIV 2) * $amp").cast("long")
      struct(lit(s"src${sourceId}_$name").as("channel"),
        odo.as("reading"), lit(true).as("counter"))
    } :+ struct(lit(s"src${sourceId}_volts").as("channel"),
      (lit(1200L) + round(sin($"n".cast("double") / 20) * 40)).cast("long").as("reading"),
      lit(false).as("counter")) // volts ×10, AC-offset style (srcECM.c:45-47)
    ticks.select($"ts", $"n", explode(array(chans: _*)).as("c"), status.as("status"))
      .select(unix_micros($"ts").as("ts_us"), lit(sourceId).as("source_id"),
        $"c.channel".as("channel"), $"c.reading".as("reading"),
        $"status", $"c.counter".as("counter"))
  }

  /** A live rate-source-backed simulator (the srcSIM plugin as a real
    * streaming source): tick k carries event time `start + k·intervalSec`
    * (ticks may arrive faster than real time; event-time processing makes
    * the cadence a property of the data, not the wall clock). */
  def simSource(spark: SparkSession, sourceId: Int, intervalSec: Int,
                startEpoch: Long, statusEvery: Option[Int] = None): DataFrame = {
    val rate = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    simTransform(
      rate.select(($"value" + 1).as("n"),
        timestamp_seconds(lit(startEpoch) + ($"value" + 1) * intervalSec).as("ts")),
      sourceId, statusEvery)
  }

  /** Union ≤4 sources into one reading stream (edd.c:47-53,309-341). */
  def unionSources(sources: Seq[DataFrame]): DataFrame = {
    require(sources.nonEmpty && sources.size <= 4, "1-4 sources (edd.c:47)")
    sources.reduce(_ unionByName _)
  }

  /** Status handling (edd.c:318-331): non-zero status stores the invalid
    * sentinel — here SQL NULL + a `valid` flag; status 2 additionally
    * marks a source reset (baseline invalidation downstream). */
  def applyStatus(rows: DataFrame): DataFrame =
    rows.select($"ts_us", $"source_id", $"channel",
      when($"status" === 0, $"reading").as("value"),
      ($"status" === 0).as("valid"), ($"status" === 2).as("is_reset"),
      $"counter")

  /** Per-channel `LastReading`/`MissedUpdate` decode state across
    * micro-batches (etsd.c:113-121): emits the averaged delta stream the
    * save path stores — delta/(1+missed) backfilled over missed slots,
    * give-up after 255 misses, baseline invalidated on reset
    * (etsdSave.c:394-402,445-459). Keyed by channel = the reference's own
    * state cardinality; state is O(1) per channel. */
  def counterDeltas(rows: Dataset[SrcRow]): Dataset[DeltaRow] = {
    import rows.sparkSession.implicits._
    rows.filter(_.counter).groupByKey(_.channel)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (channel: String, it: Iterator[SrcRow], state: GroupState[ChanState]) => {
          var s = state.getOption.getOrElse(ChanState(0L, 0, hasLast = false))
          val out = Seq.newBuilder[DeltaRow]
          it.toSeq.sortBy(_.ts_us).foreach { r =>
            if (r.status == 2) {
              // a reset interval still yields a stored (invalid) sample on
              // the block-encoder path (EtsdEncoder.saveChan) — emit the
              // matching invalid row here so both ingest paths agree on
              // row count and invalid accounting
              out += DeltaRow(r.ts_us, channel, None, 0)
              s = ChanState(0L, 0, hasLast = false)
            }
            else if (r.status != 0) {
              out += DeltaRow(r.ts_us, channel, None, s.missed)
              val m = s.missed + 1
              s = if (m > 255) ChanState(0L, 0, hasLast = false) // give up
                  else s.copy(missed = m)
            } else if (!s.hasLast) {
              out += DeltaRow(r.ts_us, channel, None, 0)
              s = ChanState(r.reading, 0, hasLast = true)
            } else {
              val d = ((r.reading - s.last) & 0xFFFFFFFFL) / (1 + s.missed)
              out += DeltaRow(r.ts_us, channel, Some(d), s.missed)
              s = ChanState(r.reading, 0, hasLast = true)
            }
          }
          state.update(s)
          out.result().iterator
        })
  }

  /** AC-voltage offset encode at ingest (srcECM.c:45-47,238-253): raw
    * volts×10 squeezed into one byte — 0 = power outage, 1 = brownout
    * (below the offset), 2..253 = volts×10 − 1040, 0xFE = overvoltage,
    * 0xFF = invalid. */
  val AcOffset = 1040L
  def acVoltsEncode(voltsX10: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(voltsX10.isNull, lit(0xFFL))
      .when(voltsX10 === 0, lit(0L))                 // outage during interval
      .when(voltsX10 < AcOffset, lit(1L))            // brownout
      .otherwise(least(voltsX10 - AcOffset, lit(0xFEL)))

  /** Decode back to volts×10; the status codes (outage/brownout/over/
    * invalid) have no exact voltage — they decode to NULL with the code
    * preserved by the caller if needed. */
  def acVoltsDecode(enc: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(enc > 1 && enc < 0xFEL, enc + AcOffset)

  /** The EDO output-plugin surface (edoRRD, plugins/edoRRD.c:44-74,
    * Plugin_API.txt): a second sink mirroring the reading stream as
    * multi-resolution AVERAGE/MIN/MAX/LAST consolidations via
    * `foreachBatch` — RRA consolidation done incrementally. Invalid rows
    * are dropped (RRD stores "U"). Each micro-batch appends partial
    * consolidations; (resolution_sec, channel, bucket_epoch) groups
    * compose on read (n/sum/min/max/last all merge), so readers finish
    * the fold — the streaming-friendly form of the RRD update. */
  def edoMirror(rows: DataFrame, resolutions: Seq[Long], outPath: String,
                checkpointPath: String): StreamingQuery =
    rows.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.operators.TimeSeriesOps.rollupLadder(
            batch.filter($"valid"), $"channel",
            timestamp_micros($"ts_us"), $"value", $"ts_us", resolutions)
          .withColumn("batch_id", lit(id))
          .write.mode("append").partitionBy("resolution_sec").parquet(outPath)
      }
      .option("checkpointLocation", checkpointPath)
      .start()

  /** Merge the partial consolidations [[edoMirror]] appends into final
    * rollups — the `recoverRRD` read side (etsdCmd.c:648-656). `last`
    * folds in processing order across batches (within a batch it is
    * event-time exact), matching the reference's RRD update-in-arrival-
    * order semantics. */
  def mergeMirror(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
      .groupBy($"resolution_sec", $"channel", $"bucket_epoch")
      .agg(sum($"n").as("n"),
        // recover the exact integer cents sum from each partial's average
        // so the merged average reproduces the batch fold bit-for-bit
        sum(round($"ave" * $"n" * 100).cast("long")).as("s_c"),
        min($"vmin").as("vmin"), max($"vmax").as("vmax"),
        max(struct($"batch_id".as("b"), $"last".as("v"))).as("l"))
      .select($"resolution_sec", $"channel", $"bucket_epoch", $"n",
        ($"s_c".cast("double") / $"n" / 100.0).as("ave"),
        $"vmin", $"vmax", $"l.v".as("last"))

  /** Native `.tsd` mirror of the reading stream: every micro-batch is
    * exported through [[graft.sources.EtsdSink.exportIndexed]] into
    * span-aligned ETSD files plus their `_graft_index` sidecar, so a
    * reader of the streamed layout never probes its files. Deterministic
    * file names make batch replay idempotent, so the checkpoint gives
    * effectively-once file contents — the reference's
    * `etsdCommit`+`etsdRotate` write path (etsdSave.c:58-99) with files
    * the reference's own tools can read. Input rows: `ts_us, channel,
    * value, valid` at the schema cadence (counters absolute).
    *
    * CONTRACT: each micro-batch must carry whole file spans — a file is
    * rewritten from exactly the rows of the batch that produced it, so a
    * span split across batches would lose its earlier half. This mirrors
    * the reference daemon, which also commits only complete blocks
    * (edd.c:354-368). Spans are epoch-ALIGNED, so batch boundaries must
    * be aligned too, not merely span-length apart: drive this sink from
    * a batcher that cuts on span boundaries (e.g. the event-time window
    * that closes a block) rather than a free-running processing-time
    * trigger. The default `blocksPerFile = 1` keeps the span one block
    * (`blockIntervals × intervalSec`). */
  def tsdMirror(rows: DataFrame, schema: graft.model.EtsdSchema,
                outDir: String, checkpointPath: String,
                blocksPerFile: Int = 1): StreamingQuery =
    rows.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.EtsdSink.exportIndexed(
          batch.select(timestamp_micros($"ts_us").as("ts"), $"channel",
            $"value", $"valid"),
          schema, outDir, blocksPerFile)
        ()
      }
      .option("checkpointLocation", checkpointPath)
      .start()

  /** Event-time block aggregation with bounded lateness — the event-time
    * form of the daemon's block close (edd.c:354-368): tumbling
    * `blockSec` windows per channel, finalized exactly once (Append
    * output) when the watermark passes the window end. The reference
    * samples live and cannot accept late data at all (SURVEY.md §2.10
    * "Late data: none"); here a sample up to `maxLateness` behind the
    * stream's max event time still lands in its block, and anything
    * later is dropped by the watermark — a strictly stronger contract
    * made explicit. State is one aggregate row per open (window,
    * channel): bounded by lateness × channels, not stream length.
    * Output: block_epoch, channel, n, n_invalid, total. */
  def blockAggregate(rows: DataFrame, blockSec: Long,
                     maxLateness: String): DataFrame =
    rows.select(timestamp_micros($"ts_us").as("ts"), $"channel", $"value",
        $"valid")
      .withWatermark("ts", maxLateness)
      .groupBy(window($"ts", s"$blockSec seconds").as("w"), $"channel")
      .agg(count(lit(1)).as("n"),
        count(when(!$"valid", lit(1))).as("n_invalid"),
        sum(when($"valid", $"value")).as("total"))
      .select(unix_timestamp($"w.start").as("block_epoch"), $"channel",
        $"n", $"n_invalid", $"total")

  /** Tumbling block-window commit (edd.c:354-368, etsdCommit
    * etsdSave.c:58-75): append to parquet partitioned by the block window
    * start, exactly-once via the checkpoint log. Partition-per-block makes
    * the reference's file rotation (etsdRotate) a retention no-op
    * (SURVEY.md §2.1). */
  def commitStream(rows: DataFrame, blockSec: Long, outPath: String,
                   checkpointPath: String): StreamingQuery =
    rows
      .withColumn("block_epoch",
        (floor($"ts_us" / 1000000L / blockSec) * blockSec).cast("long"))
      .writeStream.format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpointPath)
      .partitionBy("block_epoch")
      .outputMode(OutputMode.Append)
      .start()
}
