package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft._
import graft.streaming.{EcmPackets, EddConfig, EddMain, Ingest, SrcRow}

/** The streaming ingest path inside the oracle gate (SURVEY.md §2.10):
  * a real Structured Streaming run — simulator ticks → `simTransform` →
  * stateful `counterDeltas` decode → `commitStream` to partitioned
  * parquet, fed as three micro-batches so the per-channel
  * `LastReading`/`MissedUpdate` state crosses batch boundaries
  * (etsd.c:113-121) — then per-channel totals of the INGESTED output,
  * oracle-checked against the generator's closed form recomputed
  * independently in DuckDB (generate_series + the same sawtooth odometer
  * and averaged-delta recurrence, etsdSave.c:394-402).
  *
  * The stream is self-contained (no sf tables) so the oracle is pure SQL
  * arithmetic; determinism comes from fixed t0/N/status cadence. Every
  * invocation ingests into a fresh temp dir. */
object StreamingQueries {

  private val T0 = 1700000000L
  private val N = 600L
  private val StatusEvery = 7 // every 7th tick is a checksum failure
  private val IntervalSec = 10L
  private val BlockSec = 600L // 60-interval tumbling block commit

  def streamIngestTotals(spark: SparkSession,
                         restart: Boolean = false): DataFrame = {
    import spark.implicits._
    val dir = Files.createTempDirectory("stream_ingest")
    val out = s"$dir/out"
    val mem = StreamFixture.source[Long](spark)
    val ticks = mem.toDF().select($"value".as("n"),
      timestamp_seconds(lit(T0) + $"value" * IntervalSec).as("ts"))
    val deltas = Ingest.counterDeltas(
      Ingest.simTransform(ticks, 0, Some(StatusEvery)).as[SrcRow])
    def start() = Ingest.commitStream(deltas.toDF(), BlockSec, out, s"$dir/ckpt")
    if (!restart)
      StreamFixture.feedThenStop(start(), mem, Seq(1L to 200L, 201L to 400L, 401L to N))
    else {
      // ts_stream_restart: the SAME feed, but the ingest query is KILLED
      // after the first batch and a new query resumes from the
      // checkpoint — with ticks 201..400 having arrived while nothing
      // was running (the daemon-down window). The per-channel
      // LastReading/MissedUpdate decode state must come back from the
      // state store (tick 201's delta spans the restart boundary:
      // last=200's odometer lives only in restored state) and the
      // parquet sink's manifest must keep landed blocks exactly-once.
      // The oracle is the SAME closed form as ts_stream_ingest — the
      // reference analog is its crash-safe append-only block contract
      // (README.md:7-9); we gate the strictly stronger claim that a
      // kill+resume is value-invisible.
      StreamFixture.feedThenStop(start(), mem, Seq(1L to 200L))
      mem.addData(201L to 400L: _*) // arrives while the query is down
      // the resumed query first drains that backlog as its own batch
      StreamFixture.feedThenStop(start(), mem, Seq(Nil, 401L to N))
    }
    deltaTotals(spark, out)
  }

  /** Per-channel row, delta, invalid-row and delta-sum counts of the
    * [[Ingest.counterDeltas]] output committed under `out` — the
    * read-back of `ts_stream_ingest`, `_restart`, `_reset` and
    * `_timeout`. */
  private def deltaTotals(spark: SparkSession, out: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(out)
      .groupBy($"channel")
      .agg(count(lit(1)).as("n_rows"),
        count($"delta").as("n_deltas"),
        (count(lit(1)) - count($"delta")).as("n_invalid"),
        sum($"delta").as("total"))
      .orderBy("channel")
  }

  // ---- ts_stream_late fixture geometry (out-of-order replay) ----
  private val LateT0 = 1700000000L
  private val LateN = 600L
  private val LateChans = Seq(("c0", 3L), ("c1", 5L))
  /** Held back past the 20-minute watermark tolerance — MUST be dropped
    * (window end far below the watermark when they finally arrive). */
  private val LateDropped = Seq(30L, 80L, 130L)
  /** Held back but re-injected within tolerance — MUST be admitted. */
  private val LateAdmitted = Seq(230L, 280L, 350L)

  /** The reference semantic the watermarked path claims superiority on —
    * late/out-of-order arrivals (the C daemon's interval clock just
    * records a MissedUpdate and drops the late sample, edd.c:354-368) —
    * replayed INSIDE the oracle gate: a deterministic tick stream is fed
    * out of order across four micro-batches through
    * [[Ingest.blockAggregate]] (watermark + tumbling window), so three
    * ticks return within tolerance and are admitted into already-open
    * blocks, and three return beyond it and are dropped by the state
    * store. The emitted per-block totals hash-compare against the
    * closed form of exactly the admitted set, and the engine's own
    * `numRowsDroppedByWatermark` metric is REQUIRED to equal the
    * planted drop count — the run fails loudly if the watermark path
    * admits or drops anything unplanned. */
  def streamLateTotals(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val mem = StreamFixture.source[Long](spark)
    val rows = mem.toDF().select($"value".as("n"))
      .select($"n", explode(typedLit(LateChans)).as("ch"))
      .select(((lit(LateT0) + $"n" * 10L) * 1000000L).as("ts_us"),
        $"ch._1".as("channel"),
        (($"n" * $"ch._2") % 101L).cast("double").as("value"),
        ($"n" % 7L =!= 0L).as("valid"))
    StreamFixture.collect(spark, "late_sink",
        Ingest.blockAggregate(rows, 600L, "20 minutes")) { q =>
      val held = (LateDropped ++ LateAdmitted).toSet
      // b1 advances the watermark to t0+1800s; the two sub-300 admits
      // return in b2 against still-open blocks. b3 re-injects the
      // dropped set (block ends <= watermark t0+3300s) plus the last
      // admit. The final sentinel (n=800) only pushes the watermark past
      // every real block end so Append mode emits them; its own block
      // stays open and never reaches the sink.
      val batches = Seq(
        (1L to 300L).filterNot(held),
        (301L to 450L).filterNot(held) ++ Seq(230L, 280L),
        (451L to 600L) ++ Seq(350L) ++ LateDropped,
        Seq(800L))
      StreamFixture.feed(q, mem, batches)
      val dropped = StreamFixture.progress(q).droppedByWatermark
      require(dropped == LateDropped.size * LateChans.size,
        s"watermark dropped $dropped rows, planted ${LateDropped.size *
          LateChans.size} - late-data semantics drifted")
    }.orderBy("block_epoch", "channel")
  }

  // ---- ts_stream_dedup fixture geometry (duplicate delivery) ----
  /** Duplicated INSIDE their own micro-batch (at-least-once source
    * re-emitting within one poll). */
  private val DupWithin = Seq(50L, 100L, 150L)
  /** Re-delivered a whole micro-batch later (retry after an ack loss) —
    * only cross-batch keyed STATE can drop these. */
  private val DupAcross = Seq(200L, 250L, 300L)

  /** Streaming exactly-once de-duplication inside the oracle gate: an
    * at-least-once tick stream — three ticks duplicated within their
    * own micro-batch, three re-delivered a batch later — flows through
    * `withWatermark` + `dropDuplicates(channel, ts)` (keyed state, the
    * event-time key bounds it: keys older than the watermark are
    * evicted, so state is O(window), not O(stream)) into tumbling
    * per-block totals. The emitted rows hash-compare against the
    * closed form of the DISTINCT tick set, and the dedup operator's own
    * `numRowsUpdated` must equal the planted distinct count — a dupe
    * that slips through shifts both and fails loudly. */
  def streamDedupTotals(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val mem = StreamFixture.source[Long](spark)
    val deduped = mem.toDF().select($"value".as("n"))
      .select($"n", explode(typedLit(LateChans)).as("ch"))
      .select(timestamp_seconds(lit(LateT0) + $"n" * 10L).as("ts"),
        $"ch._1".as("channel"),
        (($"n" * $"ch._2") % 101L).as("v"))
      .withWatermark("ts", "2 hours")
      .dropDuplicates("channel", "ts")
    val agg = deduped
      .groupBy(window($"ts", "600 seconds"), $"channel")
      .agg(count(lit(1)).as("n"), sum($"v").as("total"))
      .select(unix_seconds($"window.start").as("block_epoch"),
        $"channel", $"n", $"total")
    StreamFixture.collect(spark, "dedup_sink", agg) { q =>
      // the final sentinel (n=1500) pushes the watermark past every real
      // block end so Append emits them; its own block never closes
      val batches = Seq(
        (1L to 400L) ++ DupWithin,
        (401L to 600L) ++ DupAcross,
        Seq(1500L))
      StreamFixture.feed(q, mem, batches)
      val updated = StreamFixture.progress(q).rowsUpdated("dedupe")
      val wantDistinct = (LateN + 1) * LateChans.size // ticks + sentinel
      require(updated == wantDistinct,
        s"dedup state admitted $updated rows, planted $wantDistinct - " +
          "duplicate-delivery semantics drifted")
    }.orderBy("block_epoch", "channel")
  }

  // ---- ts_stream_distinct fixture geometry (sketch cardinality) ----
  /** Users collide mod 37, so per-channel distinct counts are far below
    * the tick count — the case distinct-counting state exists for. */
  private val DistinctMod = 37L
  /** Sketch dial: keep hashes below 2^58 (~1/4 of the h60 space). */
  private val DistinctLogInvFrac = 2

  /** Streaming distinct cardinality inside the oracle gate — the theta
    * sketch run as a LIVE query: the admission filter (h60 < 2^58) runs
    * map-side on the stream, so keyed state never sees a non-survivor
    * row; a watermarked hourly window then keeps each (bucket, channel)
    * survivor-hash SET (collect_set — bounded by the sketch dial, never
    * by traffic, the same BY-CONSTRUCTION bound as
    * [[graft.operators.SketchOps.slidingDistinct]]). Append emits each
    * bucket exactly once when the watermark closes it; the readout is
    * the same pure-integer scale-up as `thetaDistinct`, so DuckDB
    * reproduces every estimate bit-for-bit from the tick closed form.
    * The state-operator metrics must show one state row per open
    * bucket — a per-event state leak fails loudly. */
  def streamDistinct(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val thr = 1L << (60 - DistinctLogInvFrac)
    val mem = StreamFixture.source[Long](spark)
    val kept = mem.toDF().select($"value".as("n"))
      .select($"n", explode(typedLit(LateChans)).as("ch"))
      .select(timestamp_seconds(lit(LateT0) + $"n" * 10L).as("ts"),
        $"ch._1".as("channel"), $"n",
        (($"n" * $"ch._2") % DistinctMod).as("u"))
      .withWatermark("ts", "2 hours")
      .withColumn("h", graft.functions.DetHash.h60(
        concat(lit("sd:"), $"u".cast("string"))))
      // admission filter, with an explicit escape for flush ticks
      // (n > LateN): Catalyst pushes this ts-free predicate BELOW the
      // watermark node, so a filtered-out sentinel would never advance
      // event time and no window would ever close. The sentinel's own
      // bucket stays open and is excluded from the output either way.
      // `n` is carried through the projection so the filter resolves
      // without leaning on ResolveMissingReferences across the
      // watermark node, then dropped.
      .filter($"h" < thr || $"n" > LateN)
      .drop("n")
    val agg = kept
      .groupBy(window($"ts", "3600 seconds"), $"channel")
      .agg(collect_set($"h").as("hs"))
      .select(unix_seconds($"window.start").as("bucket_epoch"), $"channel",
        size($"hs").cast("long").as("n_kept"),
        (size($"hs").cast("long") * (1L << DistinctLogInvFrac))
          .as("est_distinct"))
    StreamFixture.collect(spark, "dist_sink", agg) { q =>
      // the sentinel (n=50000) pushes the watermark past both real
      // hourly buckets so Append emits them; its own bucket never closes
      StreamFixture.feed(q, mem, Seq(1L to 300L, 301L to LateN, Seq(50000L)))
      // ≤ one row per (hourly bucket, channel) incl. the sentinel's open
      // bucket — 3 buckets × 2 channels, with headroom for overlap
      val maxState = StreamFixture.progress(q).maxStateRows
      require(maxState <= 8L,
        s"distinct state holds $maxState rows for ${LateChans.size} " +
          "channels x 3 buckets - sketch state is leaking per-event rows")
    }.orderBy("bucket_epoch", "channel")
  }

  /** Streaming percentile monitoring — the KMV quantile sketch live,
    * the [[streamDistinct]] pattern applied to order statistics: rows
    * are admitted map-side by tick-key hash (the sample dial), each
    * watermarked hourly bucket keeps only its sampled VALUES, and the
    * emitted p50/p95 use the same type-1 ceiling-rank readout as
    * [[graft.operators.SketchOps.quantileEstimate]] in exact integer
    * arithmetic — so DuckDB reproduces every estimate bit-for-bit.
    * State is again one row per open bucket, asserted via metrics. */
  def streamQuantiles(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val thr = 1L << (60 - DistinctLogInvFrac)
    val mem = StreamFixture.source[Long](spark)
    val kept = mem.toDF().select($"value".as("n"))
      .select($"n", explode(typedLit(LateChans)).as("ch"))
      .select(timestamp_seconds(lit(LateT0) + $"n" * 10L).as("ts"),
        $"ch._1".as("channel"), $"n",
        (($"n" * $"ch._2") % 101L).as("v"))
      .withWatermark("ts", "2 hours")
      // same flush-tick escape as [[streamDistinct]]: the ts-free
      // admission predicate is pushed below the watermark node
      .filter(graft.functions.DetHash.h60(
        concat(lit("qsk:"), $"n".cast("string"))) < thr || $"n" > LateN)
    val agg = kept
      .groupBy(window($"ts", "3600 seconds"), $"channel")
      .agg(sort_array(collect_list($"v")).as("vs"),
        count(lit(1)).as("n_kept"))
      .select(unix_seconds($"window.start").as("bucket_epoch"), $"channel",
        $"n_kept",
        element_at($"vs",
          floor(($"n_kept" * 50 + 99L) / 100L).cast("int")).as("p50"),
        element_at($"vs",
          floor(($"n_kept" * 95 + 99L) / 100L).cast("int")).as("p95"))
    StreamFixture.collect(spark, "qtl_sink", agg) { q =>
      StreamFixture.feed(q, mem, Seq(1L to 300L, 301L to LateN, Seq(50000L)))
      val maxState = StreamFixture.progress(q).maxStateRows
      require(maxState <= 8L,
        s"quantile state holds $maxState rows for ${LateChans.size} " +
          "channels x 3 buckets - sample state is leaking per-event rows")
    }.orderBy("bucket_epoch", "channel")
  }

  // ---- ts_stream_cms fixture geometry (heavy-hitter sketch) ----
  /** CMS shape for the stream: 4 hash rows × 64 cells — small enough
    * that the per-window state bound (d·w = 256) sits BELOW the
    * fixture's tick count, so a per-event state leak trips the assert
    * instead of hiding under the sketch bound. */
  private val CmsStreamD = 4
  private val CmsStreamW = 64L
  /** Hot ids: every 5th tick collapses to u ∈ [0, 7) — the heavy
    * hitters the probe readout estimates. */
  private val CmsStreamProbes = 7

  /** Streaming count-min sketch — heavy-hitter monitoring live, the
    * [[streamDistinct]] pattern applied to frequency: each tick
    * explodes into its [[CmsStreamD]] hash cells MAP-SIDE, a
    * watermarked hourly window counts per (bucket, row, cell), and
    * Append lands each closed bucket's counter table exactly once.
    * Streaming state is ≤ d·w rows per open window NO MATTER THE
    * TRAFFIC — the fixed-size-sketch-as-stream-state bound, asserted
    * via the state-operator metrics (and sized so a per-event leak
    * overshoots it; see [[CmsStreamW]]). The probe readout (min over
    * the d cells, 0 for absent) then runs BATCH over the landed cells —
    * the persisted-sketch serving shape shared with
    * [[graft.operators.SketchOps.cmsEstimate]] — and every estimate is
    * pure md5 integer arithmetic, so DuckDB reproduces the numbers from
    * the tick closed form, not just their error bound. */
  def streamCmsHeavy(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val mem = StreamFixture.source[Long](spark)
    val cells = mem.toDF().select($"value".as("n"))
      .select(timestamp_seconds(lit(LateT0) + $"n" * 10L).as("ts"), $"n")
      // zipf-ish: every 5th tick lands on a hot id in [0, 7)
      .select($"ts",
        when($"n" % 5 === 0, $"n" % 7).otherwise($"n" % 97).as("u"))
      .withWatermark("ts", "2 hours")
      .select($"ts",
        explode(array((0 until CmsStreamD).map(lit): _*)).as("j"), $"u")
      .select($"ts", $"j",
        (graft.functions.DetHash.h60(concat(lit("cms"), $"j".cast("string"),
          lit(":"), $"u".cast("string"))) % CmsStreamW).as("cell"))
      .groupBy(window($"ts", "3600 seconds"), $"j", $"cell")
      .agg(count(lit(1)).as("cnt"))
      .select(unix_seconds($"window.start").as("bucket_epoch"),
        $"j", $"cell", $"cnt")
    val landed = StreamFixture.collect(spark, "cms_sink", cells) { q =>
      // sentinel (n=50000) closes both real hourly buckets; its own
      // window stays open and never lands
      StreamFixture.feed(q, mem, Seq(1L to 300L, 301L to LateN, Seq(50000L)))
      // the sketch bound: ≤ d·w per open window (3 windows incl. the
      // sentinel's). The fixture has 600+ ticks/window × d cells, so a
      // per-event leak lands far above this and fails loudly.
      val maxState = StreamFixture.progress(q).maxStateRows
      require(maxState <= CmsStreamD * CmsStreamW * 3,
        s"CMS state holds $maxState rows > d*w*windows = " +
          s"${CmsStreamD * CmsStreamW * 3} - sketch state is leaking " +
          "per-event rows")
    }
    // batch probe readout over the landed counter tables; both sides
    // read them, so the probe side's columns are RENAMED before the
    // self-join (aliased outputs carry fresh attribute ids — the
    // standard cure for conflicting-reference self-joins)
    val probes = landed.select($"bucket_epoch".as("pe")).distinct()
      .select($"pe", explode(array(
        (0 until CmsStreamProbes).map(i => lit(i.toLong)): _*)).as("u"))
      .select($"pe", $"u",
        explode(array((0 until CmsStreamD).map(lit): _*)).as("pj"))
      .select($"pe", $"u", $"pj",
        (graft.functions.DetHash.h60(concat(lit("cms"), $"pj".cast("string"),
          lit(":"), $"u".cast("string"))) % CmsStreamW).as("pc"))
    probes.join(landed,
        $"pe" === $"bucket_epoch" && $"pj" === $"j" && $"pc" === $"cell",
        "left")
      .groupBy($"pe".as("bucket_epoch"), $"u")
      .agg(min(coalesce($"cnt", lit(0L))).as("est_cnt"))
      .orderBy("bucket_epoch", "u")
  }

  /** The edoRRD mirror sink inside the oracle gate: a live tick stream
    * flows through [[Ingest.edoMirror]] — each micro-batch appends
    * PARTIAL hourly/daily AVERAGE/MIN/MAX/LAST consolidations via
    * foreachBatch — and [[Ingest.mergeMirror]] folds the partials on
    * read. A bucket spanning the two micro-batches proves the partials
    * compose (n/sum/min/max merge; `last` resolves by batch order,
    * which equals event-time order for an in-order source); invalid
    * ticks (n % 7 == 0) must be dropped like RRD's "U". The merged
    * ladder hash-compares against the straight batch rollup closed
    * form recomputed in DuckDB. */
  def streamMirrorRollups(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val dir = Files.createTempDirectory("edo_mirror")
    val mem = StreamFixture.source[Long](spark)
    val rows = mem.toDF().select($"value".as("n"))
      .select($"n", explode(typedLit(LateChans)).as("ch"))
      .select(((lit(LateT0) + $"n" * 10L) * 1000000L).as("ts_us"),
        $"ch._1".as("channel"),
        (($"n" * $"ch._2") % 101L).cast("double").as("value"),
        ($"n" % 7 =!= 0).as("valid"))
    val q = Ingest.edoMirror(rows, Seq(3600L, 86400L),
      s"$dir/out", s"$dir/ckpt")
    StreamFixture.feedThenStop(q, mem, Seq(1L to 300L, 301L to LateN))
    Ingest.mergeMirror(spark, s"$dir/out")
      .select($"resolution_sec".cast("long").as("resolution_sec"),
        $"channel", $"bucket_epoch", $"n", $"ave", $"vmin", $"vmax", $"last")
      .orderBy("resolution_sec", "channel", "bucket_epoch")
  }

  // ---- ts_stream_tsd fixture geometry (native .tsd mirror) ----
  /** Day-aligned epoch (1700006400 = 86400·19676): the tsdMirror
    * contract needs batch boundaries on span boundaries. */
  private val TsdT0 = 1700006400L
  private val TsdDays = 2

  /** The native `.tsd` mirror sink inside the oracle gate: a live
    * hourly stream flows through [[Ingest.tsdMirror]] — each
    * micro-batch carries exactly one whole day-span and is exported as
    * a real ETSD file (deterministic names, so checkpoint replay is
    * idempotent; the `_graft_index` sidecar stays current per batch) —
    * then the files are read back through the DSv2 reader and must
    * reproduce the fed grid exactly. Invalid ticks (n % 7 == 0) encode
    * as the sentinel and drop on decode, like the daemon's
    * DATA_INVALID. */
  def streamTsdMirror(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val names = Seq("c0", "c1")
    val schema = graft.model.EtsdSchema(
      names.map(n => graft.model.ChannelConfig(n,
        graft.model.StreamType.LargeS)),
      intervalSec = 3600, blockIntervals = 24)
    val dir = Files.createTempDirectory("tsd_mirror")
    val mem = StreamFixture.source[Long](spark)
    val rows = mem.toDF().select($"value".as("n"))
      .select($"n", explode(typedLit(LateChans)).as("ch"))
      .select(((lit(TsdT0) + $"n" * 3600L) * 1000000L).as("ts_us"),
        $"ch._1".as("channel"),
        (($"n" * $"ch._2") % 101L).as("value"),
        ($"n" % 7 =!= 0).as("valid"))
    // one whole day-span per micro-batch, as the contract requires
    StreamFixture.feedThenStop(
      Ingest.tsdMirror(rows, schema, s"$dir/out", s"$dir/ckpt"), mem,
      (0 until TsdDays).map(day => (day * 24L) until ((day + 1) * 24L)))
    spark.read.format("graft.sources.TsdDataSource").load(s"$dir/out")
      .filter($"valid" && !$"is_register")
      .select($"channel",
        (unix_timestamp($"ts") - Hour).as("slot_epoch"), $"value")
      .orderBy("channel", "slot_epoch")
  }

  private val Hour = 3600L

  // ---- ts_stream_join fixture geometry (two live streams) ----
  /** Sparse alert windows: alert m covers channel c0/c1 (odd/even) for
    * the 600 s starting at LateT0 + m·600. */
  private val JoinAlerts = 6

  /** Stream-stream interval join inside the oracle gate: a dense tick
    * stream ⋈ a sparse alert stream, both LIVE (neither side is a
    * static table), matched on channel + a time-range condition — the
    * shape Structured Streaming buffers BOTH sides' state for, with
    * the two watermarks bounding how much (state is O(tolerance), not
    * O(stream)). Alert m arrives a batch AFTER some of the ticks it
    * covers, so matches must come out of buffered tick state, not the
    * current micro-batch. Inner joins emit on match (no flush sentinel
    * needed); the emitted (alert window × tick) rows hash-compare
    * against the interval-join closed form. */
  def streamJoinEnriched(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val memT = StreamFixture.source[Long](spark)
    val memA = StreamFixture.source[Long](spark)
    val ticks = memT.toDF().select($"value".as("n"))
      .select($"n", explode(typedLit(LateChans)).as("ch"))
      .select(timestamp_seconds(lit(LateT0) + $"n" * 10L).as("ts"),
        $"ch._1".as("channel"),
        (($"n" * $"ch._2") % 101L).as("v"))
      .withWatermark("ts", "1 hour")
    val alerts = memA.toDF().select($"value".as("m"))
      .select(timestamp_seconds(lit(LateT0) + $"m" * 600L).as("ats"),
        when($"m" % 2 === 1, "c0").otherwise("c1").as("achannel"))
      .withWatermark("ats", "1 hour")
    val joined = ticks.join(alerts,
        expr("channel = achannel AND ts >= ats AND " +
          "ts < ats + interval 600 seconds"))
      .select(unix_seconds($"ats").as("alert_epoch"), $"channel",
        unix_micros($"ts").as("ts_us"), $"v")
    StreamFixture.collect(spark, "join_sink", joined) { q =>
      // alerts 4-6 arrive AFTER their covered ticks: the matches must
      // be served from the join's buffered tick state
      memT.addData(1L to 300L: _*); memA.addData(1L, 2L, 3L)
      q.processAllAvailable()
      memT.addData(301L to 600L: _*); memA.addData(4L, 5L, 6L)
      q.processAllAvailable()
    }.orderBy("alert_epoch", "channel", "ts_us")
  }

  // ---- ts_stream_sessions fixture geometry ----
  private val SessU = 3       // users
  private val SessN = 90L     // ticks: 30 per user
  private val SessGap = 1800L // session gap (s); every 5th tick jumps 1h
  private val SessDelay = "36000 seconds" // watermark covers the replay

  /** Structured Streaming's `session_window` (activity-aligned state,
    * the streaming twin of [[TimeSeriesOps.sessionize]]) inside the
    * oracle gate: a deterministic multi-user tick stream — 5-minute
    * cadence with an hour jump every 5 ticks, so sessions are
    * non-trivial — is replayed OUT OF ORDER (odd ticks, then even
    * ticks interleaving an hours-older past back in) under a watermark
    * wide enough to admit everything; a sentinel then pushes the
    * watermark past every session end so Append mode emits them. The
    * emitted (user, window, count) rows hash-compare against the
    * closed form computed by the gap-split rule in DuckDB. NOTE
    * session_window splits at gaps >= gap (a new event at exactly
    * last + gap starts a new session) — one strict-vs-inclusive
    * boundary different from the batch operator, pinned by the oracle. */
  def streamSessionTotals(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val mem = StreamFixture.source[Long](spark)
    val sentinelTs = LateT0 + 80000L
    val rows = mem.toDF().select($"value".as("n"))
      .select(
        when($"n" < 0, lit(99L))
          .otherwise(expr(s"CAST(n % $SessU AS BIGINT)")).as("user_id"),
        timestamp_seconds(when($"n" < 0, lit(sentinelTs))
          .otherwise(lit(LateT0) + expr(s"n DIV $SessU") * 300L +
            expr(s"(n DIV $SessU) DIV 5") * 3600L)).as("ts"))
      .withWatermark("ts", SessDelay)
    val agg = rows
      .groupBy(session_window($"ts", s"$SessGap seconds"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id",
        unix_micros($"session_window.start").as("start_us"),
        unix_micros($"session_window.end").as("end_us"), $"n_events")
    StreamFixture.collect(spark, "sess_sink", agg) { q =>
      StreamFixture.feed(q, mem, Seq(
        (1L to SessN).filter(_ % 2 == 1),
        (1L to SessN).filter(_ % 2 == 0), // hours-older ticks return late
        Seq(-1L)))                        // flush sentinel (user 99 only)
    }.orderBy("user_id", "start_us")
  }

  // ---- ts_stream_ecm fixture geometry (golden ECM-1240 wire bytes) ----
  private val EcmT0 = 1700000000L
  private val EcmN = 240L
  /** Ticks whose packet is corrupted in flight (one flipped payload byte
    * → checksum failure → exactly one invalid marker each). */
  private val EcmCorrupt = Set(5L, 105L)
  /** (wire field, per-tick odometer multiplier): main counters are the
    * 5-byte little-endian lanes, aux the 4-byte ones. */
  private val EcmMain = Seq(3L, 5L, 7L, 11L) // ch1a ch2a ch1p ch2p
  private val EcmAux = Seq(2L, 4L, 6L, 8L, 10L) // aux1..aux5

  /** One golden wire packet for tick `n` — odometers `m·n(n+1)/2`, AC
    * volts ×10 `1201 + n mod 5` (so the offset code is `161 + n mod 5`),
    * DC volts ×10 `1200 + n mod 3`. */
  private def ecmPacket(n: Long): Array[Byte] =
    EcmPackets.encode(seconds = ((n * 10) % 65536).toInt,
      acVoltsX10 = (1201 + n % 5).toInt, dcVoltsX10 = (1200 + n % 3).toInt,
      counters = EcmMain.map(m => m * n * (n + 1) / 2),
      aux = EcmAux.map(m => m * n * (n + 1) / 2))

  /** srcECM end to end inside the oracle gate (plugins/srcECM.c:68-255):
    * 240 golden ECM-1240 wire buffers — real 65-byte packets with the
    * 0xFE 0xFF 0x03 framing, additive checksum, the big-endian AC-volt
    * field and little-endian 5/4-byte counters — flow LIVE through
    * [[EcmPackets.decodeStream]] → `toSrcRows` → [[Ingest.applyStatus]]
    * → [[Ingest.commitStream]], across three micro-batches. Planted
    * hazards: two packets are corrupted in flight (one flipped payload
    * byte → checksum failure → exactly one invalid marker, the daemon's
    * status 1); four buffers carry leading line-noise bytes the sync
    * scan must skip; one buffer ends in a truncated packet that must be
    * dropped. Per-channel totals of the committed output hash-compare
    * against the generator's closed form — a byte-order slip, a checksum
    * miss, or a resync that swallows a packet all shift `total` or
    * `n_invalid` and fail the gate. */
  def streamEcmTotals(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val dir = Files.createTempDirectory("stream_ecm")
    val mem = StreamFixture.source[(Long, Array[Byte])](spark)
    val rows = Ingest.applyStatus(EcmPackets.toSrcRows(
      EcmPackets.decodeStream(mem.toDS()), sourceId = 3).toDF())
    val q = Ingest.commitStream(rows, BlockSec, s"$dir/out", s"$dir/ckpt")
    def buffer(n: Long): (Long, Array[Byte]) = {
      val p = ecmPacket(n)
      if (EcmCorrupt(n)) p(20) = (p(20) ^ 0x5A).toByte // checksum breaks
      val garbage = if (n % 50 == 0) Array(0x11, 0x22, 0x33).map(_.toByte)
                    else Array.emptyByteArray
      // one buffer ends mid-packet: the decoder must drop the tail
      val partial = if (n == 17) ecmPacket(n + 1000).take(30)
                    else Array.emptyByteArray
      ((EcmT0 + n * 10L) * 1000000L, garbage ++ p ++ partial)
    }
    StreamFixture.feedThenStop(q, mem,
      Seq(1L to 80L, 81L to 160L, 161L to EcmN).map(_.map(buffer)))
    spark.read.parquet(s"$dir/out")
      .groupBy($"channel")
      .agg(count(lit(1)).as("n_rows"),
        count(when(!$"valid", lit(1))).as("n_invalid"),
        sum($"value").cast("long").as("total"))
      .orderBy("channel")
  }

  // ---- ts_stream_reset fixture geometry (power-cycle mid-stream) ----
  private val ResetN = 600L
  /** The power-cycle tick: AC volts read 0, the meter's odometers restart
    * from zero (srcECM.c:175-199 → status 2, edd.c:347-350). Sits at the
    * END of micro-batch 1 so the invalidated baseline must survive the
    * batch boundary before the re-anchor. */
  private val ResetAt = 300L
  private val ResetCorrupt = Set(10L, 250L, 420L)

  /** The source-reset path end to end (edd.c:347-350, etsdSave.c:103-113):
    * golden ECM packets whose odometers RESTART at the power-cycle tick
    * (AC volts 0 → `reset`, daemon status 2) flow through the real decode
    * into the STATEFUL [[Ingest.counterDeltas]] — the reset must
    * invalidate every channel's `LastReading` baseline (a naive delta
    * against the pre-reset odometer would go through the 2³² mask and
    * poison the totals), the next valid tick must re-anchor with a NULL
    * delta, and deltas resume from the new baseline. The reference's
    * early block commit maps to the committed invalid sample + re-anchor
    * inside the same event-time block — strictly stronger: no interval is
    * lost. Three corrupted packets also exercise `MissedUpdate` counting
    * around the reset. Totals hash-compare against the closed form. */
  def streamResetTotals(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val dir = Files.createTempDirectory("stream_reset")
    val mem = StreamFixture.source[(Long, Array[Byte])](spark)
    val deltas = Ingest.counterDeltas(EcmPackets.toSrcRows(
      EcmPackets.decodeStream(mem.toDS()), sourceId = 4))
    val q = Ingest.commitStream(deltas.toDF(), BlockSec, s"$dir/out", s"$dir/ckpt")
    def buffer(n: Long): (Long, Array[Byte]) = {
      // odometer m·n before the cycle, m·(n−ResetAt) after (meter zeroed)
      def odo(m: Long): Long = if (n < ResetAt) m * n else m * (n - ResetAt)
      val p = EcmPackets.encode(seconds = ((n * 10) % 65536).toInt,
        acVoltsX10 = if (n == ResetAt) 0 else 1200,
        dcVoltsX10 = 1200, counters = EcmMain.map(odo), aux = EcmAux.map(odo))
      if (ResetCorrupt(n)) p(20) = (p(20) ^ 0x5A).toByte
      ((EcmT0 + n * 10L) * 1000000L, p)
    }
    StreamFixture.feedThenStop(q, mem,
      Seq(1L to ResetAt, ResetAt + 1 to 450L, 451L to ResetN).map(_.map(buffer)))
    deltaTotals(spark, s"$dir/out")
  }

  // ---- ts_stream_timeout fixture geometry (give-up after 255 misses) ----
  private val TimeoutN = 700L
  /** A contiguous 261-tick outage (ticks 151..411 all fail checksum):
    * long enough that `MissedUpdate` saturates and the decoder must GIVE
    * UP (etsdSave.c:445-459: after 255 missed intervals the baseline is
    * abandoned, the next valid reading re-anchors instead of emitting a
    * delta averaged over the whole outage). Two isolated corrupt ticks
    * exercise the ordinary averaged-gap division on either side. */
  private val TimeoutRunLo = 151L
  private val TimeoutRunHi = 411L
  private val TimeoutIsolated = Set(50L, 600L)

  /** The timeout/give-up path end to end (edd.c:322-331 status handling +
    * etsdSave.c:445-459 give-up): golden ECM packets with a 261-tick
    * corrupted run flow through the real decode into the stateful
    * [[Ingest.counterDeltas]]. Every failed tick must store an invalid
    * row with the running missed count; at 255 misses the baseline is
    * abandoned, so the first valid tick after the outage RE-ANCHORS
    * (NULL delta) rather than emitting `(odo-podo)/262` — a decoder that
    * never gives up would emit 9 extra deltas and shift every total. The
    * outage straddles a micro-batch boundary so the saturating counter
    * itself crosses checkpointed state. Totals hash-compare against the
    * closed form (re-anchor iff the gap exceeds 255 missed intervals). */
  def streamTimeoutTotals(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val dir = Files.createTempDirectory("stream_timeout")
    val mem = StreamFixture.source[(Long, Array[Byte])](spark)
    val deltas = Ingest.counterDeltas(EcmPackets.toSrcRows(
      EcmPackets.decodeStream(mem.toDS()), sourceId = 5))
    val q = Ingest.commitStream(deltas.toDF(), BlockSec, s"$dir/out", s"$dir/ckpt")
    def buffer(n: Long): (Long, Array[Byte]) = {
      val p = ecmPacket(n)
      if (TimeoutIsolated(n) || (n >= TimeoutRunLo && n <= TimeoutRunHi))
        p(20) = (p(20) ^ 0x5A).toByte // checksum breaks in flight
      ((EcmT0 + n * 10L) * 1000000L, p)
    }
    // batch 1 ends mid-outage (tick 300 is inside the corrupted run)
    StreamFixture.feedThenStop(q, mem,
      Seq(1L to 300L, 301L to 500L, 501L to TimeoutN).map(_.map(buffer)))
    deltaTotals(spark, s"$dir/out")
  }

  // ---- ts_stream_edd fixture geometry (assembled ≤4-source daemon) ----
  private val EddN = 400L
  private val EddConfigText = """#edd config (first char defines comments)
                                |E:=/tmp/graft_edd_unused.tsd
                                |SN:srcSIM
                                |SC:statusEvery=7
                                |SN:srcSIM
                                |SC:statusEvery=11
                                |ETSD_END""".stripMargin

  /** The assembled edd daemon inside the oracle gate (edd.c:77-237 config
    * → edd.c:309-341 union loop): a REAL config text is parsed by
    * [[EddConfig.parse]], its two srcSIM stanzas (different failure
    * cadences) are assembled by [[EddMain.assembleFromTicks]] into the
    * unioned, status-handled reading stream — both sources sampling the
    * SAME interval clock, as the daemon's poll loop does — and committed
    * via [[Ingest.commitStream]] across two micro-batches. Per-channel
    * counts and odometer totals (counters only; the volts gauge carries
    * trig values the oracle intentionally never re-derives in floating
    * point — its counts still gate the union fan-out) hash-compare
    * against the sawtooth closed form per source id. A stanza routed to
    * the wrong source id, a dropped union branch, or a status cadence
    * slip all shift the per-channel rows. */
  def streamEddTotals(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val cfg = EddConfig.parse(EddConfigText)
    val dir = Files.createTempDirectory("stream_edd")
    val mem = StreamFixture.source[Long](spark)
    val ticks = mem.toDF().select($"value".as("n"),
      timestamp_seconds(lit(EcmT0) + $"value" * IntervalSec).as("ts"))
    val rows = EddMain.assembleFromTicks(ticks, cfg)
    val q = Ingest.commitStream(rows, BlockSec, s"$dir/out", s"$dir/ckpt")
    StreamFixture.feedThenStop(q, mem, Seq(1L to 200L, 201L to EddN))
    spark.read.parquet(s"$dir/out")
      .groupBy($"channel")
      .agg(count(lit(1)).as("n_rows"),
        count(when(!$"valid", lit(1))).as("n_invalid"),
        sum(when($"counter", $"value")).cast("long").as("total"))
      .orderBy("channel")
  }

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_stream_ingest" -> ((s, _) => streamIngestTotals(s)),
    "ts_stream_restart" -> ((s, _) => streamIngestTotals(s, restart = true)),
    "ts_stream_late" -> ((s, _) => streamLateTotals(s)),
    "ts_stream_dedup" -> ((s, _) => streamDedupTotals(s)),
    "ts_stream_join" -> ((s, _) => streamJoinEnriched(s)),
    "ts_stream_sessions" -> ((s, _) => streamSessionTotals(s)),
    "ts_stream_distinct" -> ((s, _) => streamDistinct(s)),
    "ts_stream_cms" -> ((s, _) => streamCmsHeavy(s)),
    "ts_stream_quantile" -> ((s, _) => streamQuantiles(s)),
    "ts_stream_mirror" -> ((s, _) => streamMirrorRollups(s)),
    "ts_stream_tsd" -> ((s, _) => streamTsdMirror(s)),
    "ts_stream_ecm" -> ((s, _) => streamEcmTotals(s)),
    "ts_stream_reset" -> ((s, _) => streamResetTotals(s)),
    "ts_stream_timeout" -> ((s, _) => streamTimeoutTotals(s)),
    "ts_stream_edd" -> ((s, _) => streamEddTotals(s)))

  /** The generator's closed form, recomputed from scratch: valid ticks
    * (n % StatusEvery != 0) carry the sawtooth odometer; consecutive
    * valid ticks at distance g emit the averaged delta (odo-podo)//g
    * (g-1 missed intervals -> divide by 1+missed); every invalid tick
    * and each channel's first valid tick emit a NULL-delta row. Shared
    * by `ts_stream_ingest` and `ts_stream_restart`: the kill-and-resume
    * run must land the identical result. */
  private lazy val IngestClosedForm = s"""
      WITH chans(channel, k, amp) AS (VALUES
        ${Ingest.SimChans.map { case (n, k, a) => s"('src0_$n', $k, $a)" }
          .mkString(", ")}),
      t AS (SELECT n FROM generate_series(1, $N) g(n)),
      r AS (
        SELECT channel, n,
               ((n // k) * ((k * (k-1)) // 2) +
                ((n % k) * ((n % k) + 1)) // 2) * amp AS odo
        FROM chans CROSS JOIN t WHERE n % $StatusEvery <> 0),
      d AS (
        SELECT channel, n, odo,
               lag(odo) OVER (PARTITION BY channel ORDER BY n) AS podo,
               lag(n)   OVER (PARTITION BY channel ORDER BY n) AS pn
        FROM r)
      SELECT channel,
             CAST($N AS BIGINT) AS n_rows,
             CAST(count(podo) AS BIGINT) AS n_deltas,
             CAST($N - count(podo) AS BIGINT) AS n_invalid,
             CAST(sum((odo - podo) // (n - pn)) AS BIGINT) AS total
      FROM d GROUP BY 1 ORDER BY 1"""

  def oracles: Map[String, String] = Map(
    "ts_stream_ingest" -> IngestClosedForm,

    // the kill-and-resume run must land the IDENTICAL closed form —
    // checkpoint recovery is value-invisible, so the oracle is shared
    "ts_stream_restart" -> IngestClosedForm,

    // closed form of exactly the ADMITTED tick set: every n in 1..LateN
    // except the ticks planted beyond the watermark tolerance — if the
    // streaming path dropped an admit or admitted a drop, counts or
    // totals shift and the hash compare fails
    "ts_stream_late" -> s"""
      WITH chans(channel, k) AS (VALUES
        ${LateChans.map { case (c, k) => s"('$c', $k)" }.mkString(", ")}),
      t AS (SELECT n FROM generate_series(1, $LateN) g(n)
            WHERE n NOT IN (${LateDropped.mkString(", ")})),
      r AS (
        SELECT channel,
               (($LateT0 + n*10) // 600) * 600 AS block_epoch,
               (n * k) % 101 AS v,
               n % 7 <> 0 AS valid
        FROM chans CROSS JOIN t)
      SELECT block_epoch, channel,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(CASE WHEN NOT valid THEN 1 END) AS BIGINT) AS n_invalid,
             CAST(sum(CASE WHEN valid THEN v END) AS DOUBLE) AS total
      FROM r GROUP BY 1, 2 ORDER BY 1, 2""",

    // closed form of exactly the DISTINCT tick set: duplicates collapse,
    // so counts and totals equal the plain 1..LateN grid — a dupe that
    // survives the streaming state shifts n/total and fails the hash
    "ts_stream_dedup" -> s"""
      WITH chans(channel, k) AS (VALUES
        ${LateChans.map { case (c, k) => s"('$c', $k)" }.mkString(", ")}),
      t AS (SELECT n FROM generate_series(1, $LateN) g(n)),
      r AS (
        SELECT channel,
               (($LateT0 + n*10) // 600) * 600 AS block_epoch,
               (n * k) % 101 AS v
        FROM chans CROSS JOIN t)
      SELECT block_epoch, channel,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v) AS BIGINT) AS total
      FROM r GROUP BY 1, 2 ORDER BY 1, 2""",

    // closed form of the streamed theta readout: the same md5-threshold
    // admission over the tick grid, distinct survivor hashes per hourly
    // bucket, integer scale-up — a state leak or a dropped/doubled
    // bucket shifts n_kept and fails the hash
    "ts_stream_distinct" -> s"""
      WITH chans(channel, k) AS (VALUES
        ${LateChans.map { case (c, k) => s"('$c', $k)" }.mkString(", ")}),
      t AS (SELECT n FROM generate_series(1, $LateN) g(n)),
      v AS (
        SELECT channel,
               (($LateT0 + n*10) // 3600) * 3600 AS bucket_epoch,
               ${graft.functions.DetHash.h60Sql(
                 s"'sd:' || CAST((n * k) % $DistinctMod AS VARCHAR)")} AS h
        FROM chans CROSS JOIN t),
      kk AS (SELECT DISTINCT channel, bucket_epoch, h FROM v
             WHERE h < ${1L << (60 - DistinctLogInvFrac)})
      SELECT bucket_epoch, channel,
             CAST(count(*) AS BIGINT) AS n_kept,
             CAST(count(*) * ${1L << DistinctLogInvFrac} AS BIGINT)
               AS est_distinct
      FROM kk GROUP BY 1, 2 ORDER BY 1, 2""",

    // closed form of the streamed CMS readout: the same tick grid
    // folded into per-(hourly bucket, hash row, cell) counts, hot-id
    // probes estimated by min-over-rows — a state leak, dropped
    // bucket, or drifted hash shifts a count and fails the hash
    "ts_stream_cms" -> s"""
      WITH t AS (SELECT n FROM generate_series(1, $LateN) g(n)),
      u AS (SELECT (($LateT0 + n*10) // 3600) * 3600 AS bucket_epoch,
                   CASE WHEN n % 5 = 0 THEN n % 7 ELSE n % 97 END AS u
            FROM t),
      js AS (SELECT unnest(${(0 until CmsStreamD).mkString("[", ", ", "]")})
               AS j),
      cells AS (SELECT bucket_epoch, j,
                       ${graft.functions.DetHash.h60Sql(
                         "'cms' || CAST(j AS VARCHAR) || ':' || " +
                         "CAST(u AS VARCHAR)")} % $CmsStreamW AS cell,
                       CAST(count(*) AS BIGINT) AS cnt
                FROM u CROSS JOIN js GROUP BY 1, 2, 3),
      pr AS (SELECT unnest(${(0 until CmsStreamProbes)
               .mkString("[", ", ", "]")}) AS u),
      pb AS (SELECT b.bucket_epoch, CAST(pr.u AS BIGINT) AS u, js.j,
                    ${graft.functions.DetHash.h60Sql(
                      "'cms' || CAST(js.j AS VARCHAR) || ':' || " +
                      "CAST(pr.u AS VARCHAR)")} % $CmsStreamW AS cell
             FROM (SELECT DISTINCT bucket_epoch FROM u) b, pr, js)
      SELECT pb.bucket_epoch, pb.u,
             CAST(min(coalesce(cells.cnt, 0)) AS BIGINT) AS est_cnt
      FROM pb LEFT JOIN cells
        ON pb.bucket_epoch = cells.bucket_epoch
       AND pb.j = cells.j AND pb.cell = cells.cell
      GROUP BY 1, 2 ORDER BY 1, 2""",

    // closed form of the RRA ladder over the valid tick grid: the
    // merged streaming partials must equal the straight batch rollup
    "ts_stream_mirror" -> Seq(3600L, 86400L).map { res => s"""
      SELECT CAST($res AS BIGINT) AS resolution_sec, channel,
             (ts_s//$res)*$res AS bucket_epoch,
             count(*) AS n,
             CAST(CAST(sum(CAST(round(v*100) AS BIGINT)) AS BIGINT)
               AS DOUBLE)/count(*)/100.0 AS ave,
             min(v) AS vmin, max(v) AS vmax,
             (max(struct_pack(t := ts_s, v := v))).v AS last
      FROM (SELECT channel, $LateT0 + n*10 AS ts_s,
                   CAST((n * k) % 101 AS DOUBLE) AS v
            FROM (VALUES ${LateChans.map { case (c, k) => s"('$c', $k)" }
              .mkString(", ")}) chans(channel, k)
            CROSS JOIN generate_series(1, $LateN) g(n)
            WHERE n % 7 <> 0) r
      GROUP BY 1, 2, 3"""
    }.mkString("", " UNION ALL ", " ORDER BY 1, 2, 3"),

    // closed form of the mirrored grid: the valid ticks, verbatim — the
    // file layer must be an identity on them
    "ts_stream_tsd" -> s"""
      SELECT channel,
             CAST($TsdT0 + n*3600 AS BIGINT) AS slot_epoch,
             CAST((n * k) % 101 AS BIGINT) AS value
      FROM (VALUES ${LateChans.map { case (c, k) => s"('$c', $k)" }
        .mkString(", ")}) chans(channel, k)
      CROSS JOIN generate_series(0, ${TsdDays * 24 - 1}) g(n)
      WHERE n % 7 <> 0
      ORDER BY 1, 2""",

    // closed form of the streamed KMV readout: tick-key-hash admission
    // over the grid, per-bucket sorted sample, type-1 ceiling-rank
    "ts_stream_quantile" -> s"""
      WITH chans(channel, k) AS (VALUES
        ${LateChans.map { case (c, k) => s"('$c', $k)" }.mkString(", ")}),
      t AS (SELECT n FROM generate_series(1, $LateN) g(n)),
      v AS (
        SELECT channel,
               (($LateT0 + n*10) // 3600) * 3600 AS bucket_epoch,
               (n * k) % 101 AS v,
               ${graft.functions.DetHash.h60Sql(
                 "'qsk:' || CAST(n AS VARCHAR)")} AS h
        FROM chans CROSS JOIN t),
      s AS (SELECT channel, bucket_epoch, v FROM v
            WHERE h < ${1L << (60 - DistinctLogInvFrac)}),
      g AS (SELECT channel, bucket_epoch, list_sort(list(v)) AS vs,
                   CAST(count(*) AS BIGINT) AS n_kept
            FROM s GROUP BY 1, 2)
      SELECT bucket_epoch, channel, n_kept,
             vs[CAST((n_kept*50 + 99)//100 AS INT)] AS p50,
             vs[CAST((n_kept*95 + 99)//100 AS INT)] AS p95
      FROM g ORDER BY 1, 2""",

    // the interval-join closed form: alert m's 600 s window captures
    // exactly ticks n in [60m, 60m+59] on its channel — a tick matched
    // from the wrong batch's state (or dropped from it) shifts rows
    "ts_stream_join" -> s"""
      WITH chans(channel, k) AS (VALUES
        ${LateChans.map { case (c, k) => s"('$c', $k)" }.mkString(", ")}),
      al AS (SELECT m,
                    CASE WHEN m % 2 = 1 THEN 'c0' ELSE 'c1' END AS channel,
                    $LateT0 + m*600 AS ats
             FROM generate_series(1, $JoinAlerts) g(m)),
      tk AS (SELECT channel, k, n, $LateT0 + n*10 AS ts_s
             FROM chans CROSS JOIN generate_series(1, $LateN) g(n))
      SELECT al.ats AS alert_epoch, tk.channel,
             tk.ts_s*1000000 AS ts_us,
             CAST((tk.n * tk.k) % 101 AS BIGINT) AS v
      FROM al JOIN tk ON tk.channel = al.channel
        AND tk.ts_s >= al.ats AND tk.ts_s < al.ats + 600
      ORDER BY 1, 2, 3""",

    // the wire generator's closed form, recomputed from scratch: every
    // tick's packet decodes to 9 counter odometers m·n(n+1)/2, the
    // big-endian AC offset code 161 + n mod 5, and the little-endian DC
    // gauge 1200 + n mod 3; the two corrupted ticks yield one invalid
    // marker each on every channel
    "ts_stream_ecm" -> s"""
      WITH chans(channel, kind, m) AS (VALUES
        ${(EcmMain.zip(Seq("ch1a", "ch2a", "ch1p", "ch2p")) ++
           EcmAux.zip(Seq("aux1", "aux2", "aux3", "aux4", "aux5")))
          .map { case (m, c) => s"('src3_$c', 'cnt', $m)" }
          .mkString(", ")},
        ('src3_dc_volts', 'dc', 0), ('src3_ac_volts', 'ac', 0)),
      t AS (SELECT n FROM generate_series(1, $EcmN) g(n)),
      r AS (SELECT channel, n,
              CASE WHEN kind = 'cnt' THEN m * (n * (n + 1)) // 2
                   WHEN kind = 'dc' THEN 1200 + n % 3
                   ELSE 161 + n % 5 END AS v,
              n NOT IN (${EcmCorrupt.mkString(", ")}) AS valid
            FROM chans CROSS JOIN t)
      SELECT channel,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(CASE WHEN NOT valid THEN 1 END) AS BIGINT) AS n_invalid,
             CAST(sum(CASE WHEN valid THEN v END) AS BIGINT) AS total
      FROM r GROUP BY 1 ORDER BY 1""",

    // closed form of the power-cycle replay: odometers m·n before the
    // reset tick, m·(n−R) after; valid rows lag per channel, the pair
    // straddling the reset re-anchors (NULL delta), corrupt gaps divide
    // by the tick distance (1 + missed)
    "ts_stream_reset" -> s"""
      WITH chans(channel, m) AS (VALUES
        ${(EcmMain.zip(Seq("ch1a", "ch2a", "ch1p", "ch2p")) ++
           EcmAux.zip(Seq("aux1", "aux2", "aux3", "aux4", "aux5")))
          .map { case (m, c) => s"('src4_$c', $m)" }.mkString(", ")}),
      t AS (SELECT n FROM generate_series(1, $ResetN) g(n)
            WHERE n NOT IN (${ResetCorrupt.mkString(", ")})
              AND n <> $ResetAt),
      r AS (SELECT channel, n,
              CASE WHEN n < $ResetAt THEN m * n
                   ELSE m * (n - $ResetAt) END AS odo
            FROM chans CROSS JOIN t),
      d AS (SELECT channel, n, odo,
              lag(odo) OVER (PARTITION BY channel ORDER BY n) AS podo,
              lag(n)   OVER (PARTITION BY channel ORDER BY n) AS pn
            FROM r),
      e AS (SELECT channel,
              CASE WHEN pn IS NULL OR (pn < $ResetAt AND n > $ResetAt)
                   THEN NULL
                   ELSE (odo - podo) // (n - pn) END AS delta
            FROM d)
      SELECT channel,
             CAST($ResetN AS BIGINT) AS n_rows,
             CAST(count(delta) AS BIGINT) AS n_deltas,
             CAST($ResetN - count(delta) AS BIGINT) AS n_invalid,
             CAST(sum(delta) AS BIGINT) AS total
      FROM e GROUP BY 1 ORDER BY 1""",

    // closed form of the saturating-timeout replay: quadratic odometers
    // m·n(n+1)/2; valid rows lag per channel; a pair straddling a gap of
    // >= 256 missed intervals re-anchors (NULL delta — the decoder gave
    // up at 255, etsdSave.c:445-459), shorter gaps divide by the tick
    // distance (1 + missed)
    "ts_stream_timeout" -> s"""
      WITH chans(channel, m) AS (VALUES
        ${(EcmMain.zip(Seq("ch1a", "ch2a", "ch1p", "ch2p")) ++
           EcmAux.zip(Seq("aux1", "aux2", "aux3", "aux4", "aux5")))
          .map { case (m, c) => s"('src5_$c', $m)" }.mkString(", ")}),
      t AS (SELECT n FROM generate_series(1, $TimeoutN) g(n)
            WHERE n NOT IN (${TimeoutIsolated.mkString(", ")})
              AND (n < $TimeoutRunLo OR n > $TimeoutRunHi)),
      r AS (SELECT channel, n, m * (n * (n + 1)) // 2 AS odo
            FROM chans CROSS JOIN t),
      d AS (SELECT channel, n, odo,
              lag(odo) OVER (PARTITION BY channel ORDER BY n) AS podo,
              lag(n)   OVER (PARTITION BY channel ORDER BY n) AS pn
            FROM r),
      e AS (SELECT channel,
              CASE WHEN pn IS NULL OR n - pn - 1 >= 256
                   THEN NULL
                   ELSE (odo - podo) // (n - pn) END AS delta
            FROM d)
      SELECT channel,
             CAST($TimeoutN AS BIGINT) AS n_rows,
             CAST(count(delta) AS BIGINT) AS n_deltas,
             CAST($TimeoutN - count(delta) AS BIGINT) AS n_invalid,
             CAST(sum(delta) AS BIGINT) AS total
      FROM e GROUP BY 1 ORDER BY 1""",

    // the assembled daemon's closed form: per config stanza i (failure
    // cadence se), the five sawtooth odometers over the shared tick
    // clock; the volts gauge contributes counts only (its trig values
    // are deliberately not re-derived in floating point)
    "ts_stream_edd" -> s"""
      WITH t AS (SELECT n FROM generate_series(1, $EddN) g(n)),
      chans(channel, k, amp, se) AS (VALUES
        ${Seq((0, 7), (1, 11)).flatMap { case (i, se) =>
          Ingest.SimChans.map { case (c, k, amp) =>
            s"('src${i}_$c', $k, $amp, $se)" }
        }.mkString(", ")}),
      cnt AS (SELECT channel,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(count(CASE WHEN n % se = 0 THEN 1 END) AS BIGINT)
                  AS n_invalid,
                CAST(sum(CASE WHEN n % se <> 0 THEN
                  ((n // k) * ((k * (k - 1)) // 2) +
                   ((n % k) * ((n % k) + 1)) // 2) * amp END) AS BIGINT)
                  AS total
              FROM chans CROSS JOIN t GROUP BY 1),
      volts AS (SELECT v.channel,
                  CAST(count(*) AS BIGINT) AS n_rows,
                  CAST(count(CASE WHEN n % v.se = 0 THEN 1 END) AS BIGINT)
                    AS n_invalid,
                  CAST(NULL AS BIGINT) AS total
                FROM (VALUES ('src0_volts', 7), ('src1_volts', 11))
                  v(channel, se) CROSS JOIN t GROUP BY 1)
      SELECT * FROM cnt UNION ALL SELECT * FROM volts ORDER BY channel""",

    // closed form of session_window over every fed tick (the watermark
    // admits the whole out-of-order replay; the sentinel user 99 never
    // closes and is not in the output): split at gaps >= SessGap,
    // window end = last event + gap
    "ts_stream_sessions" -> s"""
      WITH t AS (
        SELECT n, n % $SessU AS user_id,
               $LateT0 + (n // $SessU)*300 + ((n // $SessU) // 5)*3600 AS ts_s
        FROM generate_series(1, $SessN) g(n)),
      l AS (SELECT user_id, ts_s,
                   lag(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s) AS prev
            FROM t),
      f AS (SELECT user_id, ts_s,
                   CASE WHEN prev IS NULL OR ts_s - prev >= $SessGap
                        THEN 1 ELSE 0 END AS ns
            FROM l),
      s AS (SELECT user_id, ts_s,
                   sum(ns) OVER (PARTITION BY user_id ORDER BY ts_s
                     ROWS UNBOUNDED PRECEDING) AS sess
            FROM f)
      SELECT CAST(user_id AS BIGINT) AS user_id,
             min(ts_s)*1000000 AS start_us,
             (max(ts_s) + $SessGap)*1000000 AS end_us,
             CAST(count(*) AS BIGINT) AS n_events
      FROM s GROUP BY user_id, sess ORDER BY 1, 2""")
}
