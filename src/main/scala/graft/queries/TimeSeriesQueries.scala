package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft._
import graft.functions.DetHash
import graft.model.{ChannelConfig, EtsdSchema, StreamType}
import graft.operators.{SketchOps, TimeSeriesOps}
import graft.sources.{EtsdSink, EtsdSource, Retention}

/** The reference's query surface (SURVEY.md §2.2, §2.4-2.6, §2.10) bound to
  * the driver's `events` table: `event_type` plays the channel, `value` the
  * sample, `event_id` the deterministic tie-break. Each entry has a DuckDB
  * oracle in [[oracles]]; numeric aggregation happens in scaled-integer
  * space on both sides so results hash-match bit-for-bit. */
object TimeSeriesQueries {

  private val S = "2024-01-08 06:30:00"
  private val E = "2024-01-25 18:45:00"
  private val SEpoch = 1704695400L // 2024-01-08 06:30:00 UTC
  private val EEpoch = 1706208300L // 2024-01-25 18:45:00 UTC
  private val VatT = "2024-01-15 12:00:00"
  private val Hour = 3600L

  /** Per-channel fold caps for the AutoScale gate: pin blocks at every
    * scale code (0-3) across the catalog — 60k stays 16-bit, 120k/250k
    * force scale 1/2, 500k sweeps up to scale 3 (shared with the SQL
    * twin; max < 524,287 by construction). */
  private val AutoScaleCaps: Seq[(String, Long)] = Seq(
    "click" -> 60000L, "error" -> 120000L, "purchase" -> 250000L,
    "signup" -> 500000L, "view" -> 500000L)
  private val Day = 86400L

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)

  /** Hourly cents per channel, the frame the `.tsd` fixtures encode:
    * `s_c` = sum of `round(value * 100)` per (`keys`, `channel`, hour
    * `bucket` in epoch seconds). */
  private def hourlyCents(ev: DataFrame, keys: Column*): DataFrame =
    ev.groupBy(keys ++ Seq($"event_type".as("channel"),
        (floor(unix_timestamp($"ts") / Hour) * Hour).cast("long").as("bucket")): _*)
      .agg(sum(round($"value" * 100).cast("long")).as("s_c"))

  /** [[hourlyCents]] as the long frame a `.tsd` export takes, after the
    * `keys` columns. */
  private def hourlyLong(hourly: DataFrame, keys: Column*): DataFrame =
    hourly.select(keys ++ Seq(timestamp_seconds($"bucket").as("ts"), $"channel",
      $"s_c".as("value"), $"s_c".isNotNull.as("valid")): _*)

  /** The hourly `.tsd` fixtures' schema: one `t` channel per event type,
    * one-day blocks. */
  private def hourlySchema(t: StreamType): EtsdSchema = EtsdSchema(
    Tables.EventTypeCatalog.map(n => ChannelConfig(n, t)),
    intervalSec = 3600, blockIntervals = 24)

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // etsdAMT tot/ave/min/max in one pass (etsdQuery.c:218-401)
    "ts_amt" -> ((s, d) =>
      TimeSeriesOps.amt(events(s, d), $"event_type", $"ts", $"value",
          lit(S).cast("timestamp"), lit(E).cast("timestamp"))
        .orderBy("channel")),

    // time-scoped scan through Tables.eventsBetween: on a single-file
    // layout this is the plain ts-range scan; on a date-partitioned
    // relayout the SAME query plans only the touched partitions
    // (partition pruning asserted in PlanAuditSpec) — results must be
    // identical on every layout
    "ts_pruned_range" -> ((s, d) =>
      Tables.eventsBetween(s, d, SEpoch, EEpoch)
        .groupBy($"event_type".as("channel"))
        .agg(count(lit(1)).as("n"),
          sum(round($"value" * 100).cast("long")).as("s_c"),
          min(unix_micros($"ts")).as("first_us"),
          max(unix_micros($"ts")).as("last_us"))
        .select($"channel", $"n",
          ($"s_c".cast("double") / 100.0).as("tot"),
          $"first_us", $"last_us")
        .orderBy("channel")),

    // exact per-channel order statistics (p50/p95/p99): rank-targeted
    // selection through the two-phase range-partition prefix — no
    // per-channel sort task however hot one channel runs
    "ts_percentiles" -> ((s, d) =>
      TimeSeriesOps.percentiles(events(s, d), $"event_type", $"value",
          $"event_id", Seq(50, 95, 99))
        .orderBy("channel", "pct")),

    // winsorized totals: clip each channel to its own [p05, p95] —
    // robust preprocessing with the clip census made explicit
    "ts_winsorize" -> ((s, d) =>
      TimeSeriesOps.winsorizedStats(events(s, d), $"event_type",
          $"value", $"event_id", pLo = 5, pHi = 95)
        .orderBy("channel")),

    // trapezoidal time-weighted average per channel (irregular-cadence
    // honest mean; exact decimal numerator, one final double division)
    "ts_twa" -> ((s, d) =>
      TimeSeriesOps.timeWeightedAvg(events(s, d), $"event_type", $"ts",
          $"value", $"event_id")
        .orderBy("channel")),

    // per-channel derivative (PromQL-style deriv for gauges): dv/dt in
    // units per second at every sample after a channel's first
    "ts_deriv" -> ((s, d) =>
      TimeSeriesOps.derivative(events(s, d), $"event_type", $"ts", $"value",
          $"event_id")
        .orderBy("channel", "ts_us")),

    // cross-channel Pearson correlation over aligned hourly buckets
    // (exact integer moments, one fixed double expression at the end)
    "ts_corr" -> ((s, d) =>
      TimeSeriesOps.channelCorrelation(events(s, d), $"event_type", $"ts",
          $"value", Hour)
        .orderBy("chan_a", "chan_b")),

    // linear interpolation onto the hourly grid (alignment before
    // cross-series math; each sample pair explodes only its own points)
    "ts_interp" -> ((s, d) =>
      TimeSeriesOps.gridInterpolate(events(s, d), $"event_type", $"ts",
          $"value", $"event_id", Hour)
        .orderBy("channel", "grid_us")),

    // M4 downsampling: first/last/min/max samples WITH timestamps per
    // hourly bucket — the pixel-exact dashboard reduction
    "ts_m4" -> ((s, d) =>
      TimeSeriesOps.m4Downsample(events(s, d), $"event_type", $"ts",
          $"value", $"event_id", Hour)
        .orderBy("channel", "bucket_epoch")),

    // local-maximum peaks with a prominence floor (strictly above both
    // neighbors by >= 40.0) — the spike-alert primitive
    "ts_peaks" -> ((s, d) =>
      TimeSeriesOps.peakDetect(events(s, d), $"event_type", $"ts",
          $"value", $"event_id", minDelta = 40.0)
        .orderBy("channel", "ts_us", "value")),

    // lag-1 autocorrelation of the hourly series per channel (the
    // seasonality/trend probe; exact moments, one double assembly)
    "ts_autocorr" -> ((s, d) =>
      TimeSeriesOps.autocorrelation(events(s, d), $"event_type", $"ts",
          $"value", Hour)
        .orderBy("channel")),

    // availability/SLA: observed vs expected hourly buckets and the
    // longest dead stretch per channel (MissedUpdate, archive-wide)
    "ts_uptime" -> ((s, d) =>
      TimeSeriesOps.uptime(events(s, d), $"event_type", $"ts", Hour)
        .orderBy("channel")),

    // dyadic-weight EWMA over the last 24 hourly buckets (half-life
    // smoothing with EXACT integer weights — partitioning-independent,
    // unlike any float-recursive EWMA)
    "ts_ewma" -> ((s, d) =>
      TimeSeriesOps.dyadicEwma(events(s, d), $"event_type", $"ts",
          $"value", Hour, horizon = 24)
        .orderBy("channel", "bucket_epoch")),

    // hour-of-day seasonal anomalies: z-score against the (channel,
    // phase) baseline rather than the whole channel
    "ts_seasonal_anom" -> ((s, d) =>
      TimeSeriesOps.seasonalOutliers(events(s, d), $"event_type", $"ts",
          $"value", Hour, Day, nSigma = 2.0)
        .orderBy("channel", "phase", "ts_us", "value")),

    // robust median/MAD outliers (integer-exact; immune to the spike
    // masking that inflates a mean/sigma threshold)
    "ts_outliers_mad" -> ((s, d) =>
      TimeSeriesOps.madOutliers(events(s, d), $"event_type", $"ts",
          $"value", $"event_id")
        .orderBy("channel", "ts_us")),

    // 24-hour sliding average at every hourly bucket (RRD-style
    // consolidation readout; sparse-bucket-aware RANGE frame)
    "ts_moving_avg" -> ((s, d) =>
      TimeSeriesOps.movingAverage(events(s, d), $"event_type", $"ts",
          $"value", Hour, windowBuckets = 24)
        .orderBy("channel", "bucket_epoch")),

    // windowed heavy hitters: top-3 users per (channel, hour) by event
    // count — the rank window partitions on the FINE (channel, bucket)
    // key, so no task ever holds more than one hour of one channel
    "ts_top_users" -> ((s, d) => {
      val w = Window.partitionBy($"channel", $"bucket_epoch")
        .orderBy($"n".desc, $"user_id")
      events(s, d)
        .select($"event_type".as("channel"),
          (floor(unix_micros($"ts") / 1000000L / Hour) * Hour)
            .cast("long").as("bucket_epoch"),
          $"user_id")
        .groupBy($"channel", $"bucket_epoch", $"user_id")
        .agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter($"rk" <= 3)
        .orderBy("channel", "bucket_epoch", "rk")
    }),

    // sliding distinct users per channel (trailing 24 h at every hour)
    // via union-merged theta states: frame work is sketch-sized arrays,
    // never the raw traffic
    "ts_sliding_distinct" -> ((s, d) =>
      SketchOps.slidingDistinct(events(s, d), $"event_type", $"ts",
          $"user_id", bucketSec = Hour, windowBuckets = 24,
          logInvFrac = 2)
        .select($"grp".as("channel"), $"bucket_epoch", $"n_kept",
          $"est_distinct")
        .orderBy("channel", "bucket_epoch")),

    // rolling 7-sample median: the robust twin of ts_moving_avg (order
    // statistic over a bounded ROWS frame, exact cents integers)
    "ts_rolling_median" -> ((s, d) =>
      TimeSeriesOps.rollingMedian(events(s, d), $"event_type", $"ts",
          $"value", $"event_id", window = 7)
        .orderBy("channel", "ts_us", "event_id")),

    // head/tail partial-interval proration (etsdQuery.c:232-287)
    "ts_prorated_total" -> ((s, d) =>
      TimeSeriesOps.proratedTotal(events(s, d), $"event_type", $"ts", $"value",
          SEpoch, EEpoch, Hour)
        .orderBy("channel")),

    // counter semantics with 2^32 rollover bump (etsdQuery.c:332-336,379-388):
    // synthesize a mod-2^32 odometer from the stream (via the same two-phase
    // prefix-sum reconstruction), then total it back with bump handling.
    "ts_counter_total" -> ((s, d) => {
      val odo = TimeSeriesOps.counterReconstruct(events(s, d),
          $"event_type", $"ts", round($"value" * 100).cast("long"), $"event_id")
        .select($"channel", $"ts", $"tb", ($"cum" % 4294967296L).as("raw"))
      TimeSeriesOps.counterTotal(odo, $"channel", $"ts", $"raw", $"tb")
        .orderBy("channel")
    }),

    // LastReading cumulative reconstruction (etsdRead.c:270-285), rolled up
    // to end-of-hour running totals.
    "ts_counter_cum" -> ((s, d) => {
      val rec = TimeSeriesOps.counterReconstruct(events(s, d),
        $"event_type", $"ts", round($"value" * 100).cast("long"), $"event_id")
      rec.groupBy($"channel",
          (floor(unix_micros($"ts") / 1000000L / Hour) * Hour).cast("long").as("bucket_epoch"))
        .agg(max($"cum").as("cum_c"))
        .select($"channel", $"bucket_epoch",
          ($"cum_c".cast("double") / 100.0).as("cum_value"))
        .orderBy("channel", "bucket_epoch")
    }),

    // value-at-time as-of lookup (etsdVAT intent, etsdQuery.c:206-215)
    "ts_vat" -> ((s, d) =>
      TimeSeriesOps.valueAtTime(events(s, d), $"event_type", $"ts", $"value",
          $"event_id", lit(VatT).cast("timestamp"))
        .orderBy("channel")),

    // data-driven 3-sigma outliers per channel (the reference's static
    // threshold predicates, etsdQuery.h:30-33, with a learned threshold)
    "ts_outliers" -> ((s, d) =>
      TimeSeriesOps.statOutliers(events(s, d), $"event_type", $"ts", $"value")
        .orderBy("channel", "ts_us", "value")),

    // CUSUM change-point per channel (level-shift detection; the
    // running statistic rides counterReconstruct's two-phase prefix)
    "ts_changepoint" -> ((s, d) =>
      TimeSeriesOps.changePoints(events(s, d), $"event_type", $"ts", $"value",
          $"event_id")
        .orderBy("channel")),

    // ETSD_KS kitchen-sink single-pass stats (etsdQuery.h:25-55)
    "ts_ks" -> ((s, d) =>
      TimeSeriesOps.kitchenSink(events(s, d), $"event_type", $"ts", $"value",
          get_json_object($"props", "$.k") === "0", over = 200.0, under = 50.0,
          equal = 100.0, intervalSec = 3600L)
        .orderBy("channel")),

    // missed-interval average backfill (etsdSave.c:394-402,445-459)
    "ts_gap_fill" -> ((s, d) =>
      TimeSeriesOps.gapFillAverage(events(s, d), $"event_type", $"ts", $"value", Hour)
        .orderBy("channel", "bucket_epoch")),

    // RRD consolidation ladder AVERAGE/MIN/MAX/LAST at 1h and 1d
    // (edoRRD + `ECM-1240 storage format 2.txt:126-148`)
    "ts_rollup_ladder" -> ((s, d) =>
      TimeSeriesOps.rollupLadder(events(s, d), $"event_type", $"ts", $"value",
          $"event_id", Seq(Hour, Day))
        .orderBy("resolution_sec", "channel", "bucket_epoch")),

    // register-anchored reconstruction (readReg + LastReading,
    // etsdRead.c:276-285): synthetic absolute anchors at each day start
    // re-base the running sum; hour segments force the cross-segment carry
    "ts_anchored_cum" -> ((s, d) => {
      val ev = events(s, d)
      val deltas = ev.select($"ts", $"event_type".as("channel"),
        round($"value" * 100).cast("long").as("value"),
        lit(false).as("is_register"), $"event_id".as("tb"))
      val anchors = ev.select($"event_type".as("channel"),
          floor(unix_timestamp($"ts") / 86400L).cast("long").as("day")).distinct()
        .select(timestamp_seconds($"day" * 86400L).as("ts"), $"channel",
          ($"day" * 1000000L).as("value"), lit(true).as("is_register"),
          lit(-1L).as("tb"))
      TimeSeriesOps.anchoredReconstruct(deltas.unionByName(anchors),
          $"channel", $"ts", $"value", $"is_register", $"tb", 3600L)
        .filter(!$"is_register")
        .select($"channel", $"ts_us", $"abs")
        .orderBy("channel", "ts_us", "abs")
    }),

    // AMT clock-skew correction: total rescaled requested-span/covered-span
    // (etsdQuery.c:384-390); `props.k = '0'` marks invalid samples
    "ts_skew_total" -> ((s, d) =>
      TimeSeriesOps.skewCorrectedTotal(events(s, d), $"event_type", $"ts", $"value",
          not(coalesce(get_json_object($"props", "$.k") === "0", lit(false))),
          SEpoch, EEpoch, Hour)
        .orderBy("channel")),

    // the .tsd codec in the oracle gate: hourly sums encoded into real
    // 512-byte ETSD blocks (24-bit Large streams, one block per day) and
    // decoded back — a distributed identity round-trip (etsdSave.c:206-330,
    // etsdRead.c:38-167)
    "ts_tsd_roundtrip" -> ((s, d) => {
      // channel catalog = the fixed fixture schema (same 5-name catalog
      // ts_cli_query declares) — a .tsd header is created from config, not
      // discovered from data, so no data-dependent driver collect here
      val names = Tables.EventTypeCatalog
      val hourly = hourlyCents(events(s, d))
      EtsdSource.roundTripHourlyBlocks(hourly, names)
        .orderBy("channel", "bucket_epoch")
    }),

    // the FILE layer of the same codec in the gate: hourly sums →
    // EtsdSink.exportIndexed (distributed span-aligned .tsd files and
    // their _graft_index sidecar) → TsdDataSource DSv2 read-back,
    // planned from the sidecar — the full etsdSave/etsdRW file
    // round-trip (etsdSave.c:80-120, etsdRead.c:38-167), not just the
    // in-plan block codec. Missing hours inside a file's span encode as
    // the invalid sentinel and drop on decode, so output = present
    // buckets only, matching the oracle's plain hourly aggregation.
    "ts_tsd_file_roundtrip" -> ((s, d) => {
      val schema = hourlySchema(StreamType.LargeS)
      val long = hourlyLong(hourlyCents(events(s, d)))
      val dir = java.nio.file.Files.createTempDirectory("tsd_file_rt").toString
      // returns one sidecar entry per written file — bounded by the
      // fixture's ~62-day span / 8-block files
      EtsdSink.exportIndexed(long, schema, dir, blocksPerFile = 8)
      s.read.format("graft.sources.TsdDataSource").load(dir)
        .filter($"valid" && !$"is_register")
        .select($"channel",
          (unix_timestamp($"ts") - Hour).as("bucket_epoch"),
          $"value".as("s_c"))
        .orderBy("channel", "bucket_epoch")
    }),

    // stream type 14 in the gate — the float stream the reference plans
    // but never implements (README.md:45, etsdSave.c:410-412): hourly
    // cents sums are mapped to exactly-representable binary16 values
    // ((s_c mod 1024) + 0.5 — integer and fraction bits both exercised),
    // converted to patterns by the native graft_half_bits expression,
    // written through the FloatS 16-bit block lane by the REAL file
    // layer, and decoded back via graft_half. On representable values
    // the round-trip is an identity, so the oracle is the plain closed
    // form — any pattern corruption in the lane or the conversions
    // breaks the hash.
    "ts_tsd_float_roundtrip" -> ((s, d) => {
      import graft.functions.HalfFloat
      val schema = hourlySchema(StreamType.FloatS)
      val hourly = hourlyCents(events(s, d))
      val long = hourly.select(timestamp_seconds($"bucket").as("ts"),
        $"channel",
        HalfFloat.halfBits(pmod($"s_c", lit(1024L)).cast("double") + 0.5)
          .as("value"),
        lit(true).as("valid"))
      val dir = java.nio.file.Files.createTempDirectory("tsd_float_rt").toString
      EtsdSink.exportIndexed(long, schema, dir, blocksPerFile = 8)
      s.read.format("graft.sources.TsdDataSource").load(dir)
        .filter($"valid" && !$"is_register")
        .select($"channel",
          (unix_timestamp($"ts") - Hour).as("bucket_epoch"),
          HalfFloat.halfValue($"value").as("v_half"))
        .orderBy("channel", "bucket_epoch")
    }),

    // mixed-width + signed lanes through the REAL file layer: one block
    // packs LargeS(24b), ExtFull(16+2b ext region), signed FullS(16b
    // offset-encode, etsdRead.c:29-34), ShortS(12b nibble lane), and
    // TwoBit(2b) channels, so the create-time width-desc storage sort
    // (etsdCmd.c:93,167-185), the extended-bit region, and the signed
    // codec all sit in the oracle gate, not just ScalaCheck. Each lane's
    // value is the hourly cents sum folded into that lane's valid range
    // (the signed lane deliberately straddles zero); the round-trip must
    // be an identity on the closed form.
    "ts_tsd_mixed_roundtrip" -> ((s, d) => {
      val lanes: Map[String, (StreamType, Boolean)] = Map(
        "click"    -> (StreamType.ShortS,  false),
        "error"    -> (StreamType.LargeS,  false),
        "purchase" -> (StreamType.FullS,   true),
        "signup"   -> (StreamType.ExtFull, false),
        "view"     -> (StreamType.TwoBit,  false))
      // the create path's width-desc storage sort (etsdCmd.c:93) — the
      // header requires it, and the mixed widths here actually exercise it
      val schema = EtsdSchema(
        graft.codec.Layout.sortChannels(Tables.EventTypeCatalog.map { n =>
          val (t, sg) = lanes(n); ChannelConfig(n, t, signed = sg) }),
        intervalSec = 3600, blockIntervals = 24)
      val hourly = hourlyCents(events(s, d))
      val folded = when($"channel" === "click", pmod($"s_c", lit(4000L)))
        .when($"channel" === "error", pmod($"s_c", lit(1000000L)))
        .when($"channel" === "purchase", pmod($"s_c", lit(60000L)) - 30000L)
        .when($"channel" === "signup", pmod($"s_c", lit(262142L)))
        .otherwise(pmod($"s_c", lit(3L)))
      val long = hourly.select(timestamp_seconds($"bucket").as("ts"),
        $"channel", folded.as("value"), lit(true).as("valid"))
      val dir = java.nio.file.Files.createTempDirectory("tsd_mixed_rt").toString
      EtsdSink.exportIndexed(long, schema, dir, blocksPerFile = 8)
      s.read.format("graft.sources.TsdDataSource").load(dir)
        .filter($"valid" && !$"is_register")
        .select($"channel",
          (unix_timestamp($"ts") - Hour).as("bucket_epoch"),
          $"value".as("v"))
        .orderBy("channel", "bucket_epoch")
    }),

    // AutoScale (stream type 15) through the REAL file layer: per-block
    // 1/2/4/8× scaling with retroactive in-block rescale
    // (etsdSave.c:153-187) — the codec's most intricate feature, and
    // decodable by a CLOSED FORM because right-shifts compose: whatever
    // order values arrive in, a sample's stored value ends at
    // raw >> S_block where S_block is the scale the block's max valid
    // value needs, so decoded = (raw >> S) << S. The ×37 multiplier
    // spreads the hourly cents sums across each channel's fold range,
    // and the per-channel caps pin blocks at every scale 0-3 (plus a
    // mixed-scale spread on the wide channels, so small-hour-then-big-
    // hour retroactive rescales actually fire), while staying clear of
    // the 524,287 overflow and the 0xFFFF store collision.
    "ts_tsd_autoscale_roundtrip" -> ((s, d) => {
      val schema = hourlySchema(StreamType.AutoScale)
      val hourly = hourlyCents(events(s, d))
      val cap = AutoScaleCaps.foldLeft(lit(500000L): Column) {
        case (acc, (n, c)) => when($"channel" === n, lit(c)).otherwise(acc) }
      val long = hourly.select(timestamp_seconds($"bucket").as("ts"),
        $"channel", pmod($"s_c" * 37L, cap).as("value"),
        lit(true).as("valid"))
      val dir = java.nio.file.Files.createTempDirectory("tsd_asc_rt").toString
      EtsdSink.exportIndexed(long, schema, dir, blocksPerFile = 8)
      s.read.format("graft.sources.TsdDataSource").load(dir)
        .filter($"valid" && !$"is_register")
        .select($"channel",
          (unix_timestamp($"ts") - Hour).as("bucket_epoch"),
          $"value".as("v"))
        .orderBy("channel", "bucket_epoch")
    }),

    // counter + register channels through the REAL file layer: the
    // encoder's stateful LastReading/MissedUpdate loop (etsdSave.c:
    // 430-460) and per-block 32-bit register snapshots (edd.c:371-382)
    // under the oracle gate, not just ScalaCheck. A monotone odometer
    // (prefix sum of folded hourly cents) is fed per channel; missing
    // hours become invalid feeds, so consecutive valid readings at slot
    // distance g emit the averaged delta (odo−prev)//g backfilled into
    // min(g−1, slot−blockStart) preceding same-block slots, each group's
    // first valid reading stores invalid (anchor only), and every block
    // start snapshots the last valid odometer into the register lane.
    // All of it is a closed form over the sink's block grid.
    "ts_tsd_counter_roundtrip" -> ((s, d) => {
      val names = Tables.EventTypeCatalog
      val schema = EtsdSchema(
        names.map(n => ChannelConfig(n, StreamType.LargeS,
          counter = true, register = true)),
        intervalSec = 3600, blockIntervals = 24)
      val hourly = hourlyCents(events(s, d))
      // fold keeps the whole-fixture odometer under 2^31 (register is a
      // 32-bit absolute lane) and each delta far below the 24-bit lane
      val odo = hourly.select($"channel", $"bucket",
        sum(pmod($"s_c", lit(100000L)))
          .over(Window.partitionBy($"channel").orderBy($"bucket"))
          .as("odo"))
      val long = odo.select(timestamp_seconds($"bucket").as("ts"),
        $"channel", $"odo".as("value"), lit(true).as("valid"))
      val dir = java.nio.file.Files.createTempDirectory("tsd_cnt_rt").toString
      EtsdSink.exportIndexed(long, schema, dir, blocksPerFile = 8)
      s.read.format("graft.sources.TsdDataSource").load(dir)
        .filter($"valid")
        .select($"channel",
          // delta samples cover the previous hour; register rows carry
          // the block-start timestamp itself
          when($"is_register", unix_timestamp($"ts"))
            .otherwise(unix_timestamp($"ts") - Hour).as("ts_epoch"),
          $"is_register".cast("long").as("is_reg"),
          $"value".as("v"))
        .orderBy("channel", "ts_epoch", "is_reg")
    }),

    // etsdTimeS in the gate: the DSv2 per-block table (xdata=true) over
    // real exported files. The sink feeds each file-group's slot range
    // continuously (missing hours as the invalid sentinel), so the
    // file's time index has a closed form: per 8-day file group with
    // present slots [lo, hi], blocks start at lo+24j with
    // min(24, hi-start+1) fed intervals — exactly what etsdFindBlock
    // binary-probes for in the reference (etsdRead.c:300-353).
    "ts_tsd_block_index" -> ((s, d) => {
      val schema = hourlySchema(StreamType.LargeS)
      val long = hourlyLong(hourlyCents(events(s, d)))
      val dir = java.nio.file.Files.createTempDirectory("tsd_blkidx").toString
      EtsdSink.exportIndexed(long, schema, dir, blocksPerFile = 8)
      s.read.format("graft.sources.TsdDataSource")
        .option("xdata", "true").load(dir)
        .select($"block_epoch".as("ts_epoch"),
          $"valid_intervals".cast("long").as("n_iv"))
        .orderBy("ts_epoch")
    }),

    // the xData side table in the gate: every block gets an 8-byte
    // big-endian side payload carrying its own start epoch; the write
    // path packs it into the opaque per-block region (etsd.h:102-103)
    // and the DSv2 xdata read decodes it back — epoch == payload proves
    // both placement (side row landed in ITS block) and byte fidelity.
    "ts_tsd_xdata" -> ((s, d) => {
      val schema = hourlySchema(StreamType.LargeS).copy(xDataSize = 8)
      val hourly = hourlyCents(events(s, d))
      val long = hourlyLong(hourly)
      // block starts from the same closed form the sink produces
      // (per 8-day group: lo+24j over the present slot range)
      val side = hourly
        .select(expr("CAST(bucket DIV 3600 AS BIGINT)").as("slot")).distinct()
        .groupBy(expr("CAST(slot DIV 192 AS BIGINT)").as("grp"))
        .agg(min($"slot").as("lo"), max($"slot").as("hi"))
        .select($"lo", explode(sequence(lit(0L),
          expr("CAST((hi - lo) DIV 24 AS BIGINT)"))).as("j"))
        .select((($"lo" + $"j" * 24L) * 3600L).as("block_epoch"))
        .select($"block_epoch",
          expr("unhex(lpad(hex(block_epoch), 16, '0'))").as("xdata"))
      val dir = java.nio.file.Files.createTempDirectory("tsd_xdata").toString
      EtsdSink.exportIndexed(long, schema, dir, blocksPerFile = 8,
        xData = Some(side))
      s.read.format("graft.sources.TsdDataSource")
        .option("xdata", "true").load(dir)
        .select($"block_epoch",
          expr("CAST(conv(hex(xdata), 16, 10) AS BIGINT)").as("xval"))
        .orderBy("block_epoch")
    }),

    // etsdRotate in the gate: export 4-day span files, drop every file
    // whose span STARTS before the (span-aligned) cutoff — a driver-side
    // metadata delete, never a data scan — then aggregate the survivors.
    // Span-aligned cutoff ⟺ kept rows are exactly bucket >= cutoff.
    "ts_retention_drop" -> ((s, d) => {
      val schema = hourlySchema(StreamType.LargeS)
      val cutoff = 1704844800L // 2024-01-10 00:00 UTC, 4-day-span-aligned
      val long = hourlyLong(hourlyCents(events(s, d)))
      val dir = java.nio.file.Files.createTempDirectory("tsd_retention").toString
      EtsdSink.exportIndexed(long, schema, dir, blocksPerFile = 4)
      Retention.dropBlocksBefore(s, dir, cutoff)
      s.read.format("graft.sources.TsdDataSource").load(dir)
        .filter($"valid" && !$"is_register")
        .groupBy($"channel")
        .agg(count(lit(1)).as("n_buckets"),
          sum($"value").as("total_c"))
        .orderBy("channel")
    }),

    // the many-file deployment shape in the gate (etsdRotate's one-file-
    // per-rotation layout, SURVEY §2.1): blocksPerFile=1 shatters the
    // fixture span into ~60 single-day .tsd files, exportIndexed keeps
    // the `_graft_index` sidecar current, and the read-back filters a
    // mid-span time range — so the sidecar-planned file prune (~17 of
    // ~60 files read, TsdIndex.load → no per-file probe I/O) AND the
    // residual in-file row filter (the range ends mid-block) both sit
    // under the oracle. A prune that drops a boundary file, an index
    // entry with an off-by-one span, or a row filter applied to the
    // wrong interval edge all shift the totals.
    "ts_tsd_manyfile" -> ((s, d) => {
      val schema = hourlySchema(StreamType.LargeS)
      val long = hourlyLong(hourlyCents(events(s, d)))
      val dir = java.nio.file.Files.createTempDirectory("tsd_manyfile").toString
      // one sidecar entry per written file (~62 at sf0.01) — bounded by span/day
      EtsdSink.exportIndexed(long, schema, dir, blocksPerFile = 1)
      // a reading at ts covers the interval ENDING at ts (bucket = ts−1h),
      // so bucket ∈ [S, E) ⟺ ts ∈ [S+1h, E+1h); literal timestamp
      // comparisons (not unix_timestamp wraps) so the source prunes
      s.read.format("graft.sources.TsdDataSource").load(dir)
        .filter($"valid" && !$"is_register" &&
          $"ts" >= timestamp_seconds(lit(SEpoch + Hour)) &&
          $"ts" < timestamp_seconds(lit(EEpoch + Hour)))
        .groupBy($"channel")
        .agg(count(lit(1)).as("n_buckets"),
          sum($"value").as("total_c"))
        .orderBy("channel")
    }),

    // the FLEET deployment shape in the gate (one .tsd directory per
    // daemon, etsd.c:33, scaled to ~128 stores): user_id shards events
    // into per-store channel data, exportFleet writes every store's
    // span files + sidecar in ONE job, and the read-back is the SINGLE
    // multi-store scan node (store_id column, per-store sidecar
    // planning inside one planInputPartitions — plan size O(1) in store
    // count) under a mid-span time range, so the per-store file prune,
    // the residual row filter, AND the store attribution all sit under
    // the oracle. A row landing in the wrong store's files, a prune
    // dropping a boundary file in any one store, or a store id mixup
    // in the scan all shift the per-store totals. The fixture is built
    // once per (JVM, sfDir) — ts_fleet_range and ts_fleet_select share
    // it (deterministic content, idempotent rebuild).
    "ts_fleet_range" -> ((s, d) =>
      fleetRead(s, d)
        .groupBy($"store_id")
        .agg(count(lit(1)).as("n_buckets"),
          sum($"value").as("total_c"))
        .orderBy("store_id")),

    // the store_id PUSHDOWN path under the oracle (planning-time store
    // pruning, TsdIndexSpec asserts the plan side): an IN filter keeps
    // three stores of the 128-store fixture; a prune that drops a
    // selected store's files, keeps an unselected store, or mixes up
    // store attribution shifts the per-channel totals
    "ts_fleet_select" -> ((s, d) =>
      fleetRead(s, d)
        .filter($"store_id".isin("s007", "s031", "s100"))
        .groupBy($"channel")
        .agg(count(lit(1)).as("n_buckets"),
          sum($"value").as("total_c"))
        .orderBy("channel")),

    // the AC-voltage offset codec in the gate (srcECM.c:45-47,238-253):
    // a deterministic volts×10 sweep off event_id covers every code
    // region — 0 outage, 1 brownout, 2..253 offset-encoded, 0xFE
    // overvoltage, 0xFF invalid — including the reference's own edge
    // quirk that v=1040/1041 collide with the outage/brownout codes.
    // One row per code with its decode; the oracle re-derives the
    // piecewise closed form independently.
    "ts_volts_codec" -> ((s, d) => {
      val v = when(pmod($"event_id", lit(97L)) === 0, lit(null).cast("long"))
        .otherwise(pmod($"event_id" * 7L, lit(1600L)))
      events(s, d).select(v.as("v"))
        .select($"v", graft.streaming.Ingest.acVoltsEncode($"v").as("code"))
        .groupBy($"code")
        .agg(count(lit(1)).as("n"), min($"v").as("v_min"),
          max($"v").as("v_max"))
        .withColumn("dec", graft.streaming.Ingest.acVoltsDecode($"code"))
        .orderBy("code")
    }),

    // the etsdCmd-style string-driven query path: verb substring, channel
    // substring resolution, CLI time literals (etsdCmd.c:333-461)
    "ts_cli_query" -> ((s, d) => {
      val schema = EtsdSchema(
        Tables.EventTypeCatalog
          .map(n => ChannelConfig(n, StreamType.DoubleS)), 1, 24)
      val long = events(s, d).select($"ts", $"event_type".as("channel"),
        round($"value" * 100).cast("long").as("value"),
        lit(true).as("valid"), lit(false).as("is_register"))
      EtsdQueryApi.query(long, schema,
          Seq("q=maximum", "c=lick", s"s=$S", s"e=$E"),
          java.time.Instant.ofEpochSecond(EEpoch))
        .orderBy("channel")
    }),

    // wide per-channel view (SURVEY §1.5) at the query surface: pivot the
    // hourly event counts to one column per event type. The channel list
    // is the fixed schema catalog — the pivot is a plain conditional
    // aggregation, ONE shuffle on the hour key, no second value-discovery
    // scan (never use data-dependent pivot at scale).
    "ts_pivot_hourly" -> ((s, d) =>
      events(s, d)
        .groupBy(unix_micros(date_trunc("hour", $"ts")).as("hour_us"))
        .pivot("event_type", Tables.EventTypeCatalog)
        .agg(count(lit(1)))
        .select($"hour_us" +: Tables.EventTypeCatalog
          .map(c => coalesce(col(c), lit(0L)).as(c)): _*)
        .orderBy("hour_us")))

  /** The 128-store fleet fixture, built ONCE per (JVM, sfDir) and shared
    * by `ts_fleet_range`/`ts_fleet_select`: hourly per-(user-shard,
    * channel) cents sums exported with [[EtsdSink.exportFleet]] (one job,
    * all stores + sidecars), read back through the single multi-store
    * scan ([[EtsdSource.fleetRoot]]) under the standard mid-span range.
    * Content is deterministic and the export is an idempotent overwrite,
    * so memoization only saves the rebuild, never changes a value. */
  private val fleetFixtureRoots =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def fleetRead(s: SparkSession, d: String): DataFrame = {
    val root = fleetFixtureRoots.computeIfAbsent(d, _ => {
      val schema = hourlySchema(StreamType.LargeS)
      val long = hourlyLong(hourlyCents(events(s, d),
        format_string("s%03d", pmod($"user_id", lit(128))).as("store_id")), $"store_id")
      val r = java.nio.file.Files.createTempDirectory("tsd_fleet").toString
      EtsdSink.exportFleet(long, schema, r, blocksPerFile = 8)
      r
    })
    // a reading at ts covers the interval ENDING at ts (bucket = ts−1h),
    // so bucket ∈ [S, E) ⟺ ts ∈ [S+1h, E+1h); literal comparisons so
    // the fleet scan prunes files per store
    EtsdSource.fleetRoot(s, root)
      .filter($"valid" && !$"is_register" &&
        $"ts" >= timestamp_seconds(lit(SEpoch + Hour)) &&
        $"ts" < timestamp_seconds(lit(EEpoch + Hour)))
  }

  private val centsSum = "CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)"

  def oracles: Map[String, String] = Map(
    "ts_pivot_hourly" -> """
      SELECT CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) AS hour_us,
             CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
             CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
             CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
             CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
             CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
      FROM events GROUP BY 1 ORDER BY 1""",

    "ts_amt" -> s"""
      SELECT event_type AS channel,
             count(*) AS n,
             CAST($centsSum AS DOUBLE)/100.0 AS tot,
             CAST($centsSum AS DOUBLE)/count(*)/100.0 AS ave,
             min(value) AS vmin,
             max(value) AS vmax
      FROM events
      WHERE ts >= TIMESTAMP '$S' AND ts <= TIMESTAMP '$E'
      GROUP BY 1 ORDER BY 1""",

    "ts_pruned_range" -> s"""
      SELECT event_type AS channel, count(*) AS n,
             CAST($centsSum AS DOUBLE)/100.0 AS tot,
             min(epoch_us(ts)) AS first_us,
             max(epoch_us(ts)) AS last_us
      FROM events
      WHERE (epoch_us(ts)//1000000) >= $SEpoch
        AND (epoch_us(ts)//1000000) < $EEpoch
      GROUP BY 1 ORDER BY 1""",

    "ts_percentiles" -> """
      WITH v AS (SELECT event_type AS channel,
                        CAST(round(value*100) AS BIGINT) AS vc,
                        event_id AS tb
                 FROM events WHERE value IS NOT NULL),
      r AS (SELECT channel, vc,
                   CAST(row_number() OVER (PARTITION BY channel
                     ORDER BY vc, tb) AS BIGINT) AS rk,
                   CAST(count(*) OVER (PARTITION BY channel) AS BIGINT) AS n
            FROM v),
      t AS (SELECT channel, n, unnest([50, 95, 99]) AS p
            FROM (SELECT DISTINCT channel, n FROM r))
      SELECT r.channel, CAST(t.p AS BIGINT) AS pct,
             CAST(r.vc AS DOUBLE)/100.0 AS value, t.n
      FROM t JOIN r ON r.channel = t.channel
                   AND r.rk = (t.n * t.p + 99) // 100
      ORDER BY 1, 2""",

    "ts_winsorize" -> """
      WITH v AS (SELECT event_type AS channel,
                        CAST(round(value*100) AS BIGINT) AS vc,
                        event_id AS tb
                 FROM events WHERE value IS NOT NULL),
      r AS (SELECT channel, vc,
                   CAST(row_number() OVER (PARTITION BY channel
                     ORDER BY vc, tb) AS BIGINT) AS rk,
                   CAST(count(*) OVER (PARTITION BY channel) AS BIGINT) AS n
            FROM v),
      b AS (SELECT lo.channel, lo.vc AS lo_c, hi.vc AS hi_c
            FROM (SELECT channel, vc FROM r WHERE rk = (n*5 + 99)//100) lo
            JOIN (SELECT channel, vc FROM r WHERE rk = (n*95 + 99)//100) hi
              USING (channel))
      SELECT v.channel, CAST(count(*) AS BIGINT) AS n,
             CAST(count(CASE WHEN vc < lo_c THEN 1 END) AS BIGINT) AS n_lo,
             CAST(count(CASE WHEN vc > hi_c THEN 1 END) AS BIGINT) AS n_hi,
             CAST(CAST(sum(vc) AS BIGINT) AS DOUBLE)/100.0 AS total_raw,
             CAST(CAST(sum(GREATEST(LEAST(vc, hi_c), lo_c)) AS BIGINT)
               AS DOUBLE)/100.0 AS total_wins
      FROM v JOIN b USING (channel)
      GROUP BY 1 ORDER BY 1""",

    "ts_twa" -> """
      WITH v AS (SELECT event_type AS channel, epoch_us(ts) AS t,
                        CAST(round(value*100) AS BIGINT) AS vc,
                        event_id AS tb
                 FROM events WHERE value IS NOT NULL),
      l AS (SELECT channel, t, vc,
                   lag(t) OVER (PARTITION BY channel ORDER BY t, tb) AS pt,
                   lag(vc) OVER (PARTITION BY channel ORDER BY t, tb) AS pv
            FROM v),
      s AS (SELECT channel, CAST(count(*) AS BIGINT) AS n,
                   sum(CAST(vc + pv AS HUGEINT) * (t - pt)) AS num,
                   max(t) - min(t) AS span
            FROM l GROUP BY 1)
      SELECT channel, n, CAST(num AS DOUBLE)/2.0/span/100.0 AS twa
      FROM s WHERE n >= 2 ORDER BY 1""",

    "ts_deriv" -> """
      WITH v AS (SELECT event_type AS channel, epoch_us(ts) AS t,
                        CAST(round(value*100) AS BIGINT) AS vc,
                        event_id AS tb
                 FROM events WHERE value IS NOT NULL),
      l AS (SELECT channel, t, vc,
                   lag(t) OVER (PARTITION BY channel ORDER BY t, tb) AS pt,
                   lag(vc) OVER (PARTITION BY channel ORDER BY t, tb) AS pv
            FROM v)
      SELECT channel, t AS ts_us,
             (CAST(vc - pv AS DOUBLE)/100.0)
               / (CAST(t - pt AS DOUBLE)/1000000.0) AS rate
      FROM l WHERE pt IS NOT NULL AND t > pt ORDER BY 1, 2""",

    "ts_corr" -> """
      WITH v AS (SELECT event_type AS channel,
                        ((epoch_us(ts)//1000000)//3600)*3600 AS bucket,
                        CAST(round(value*100) AS BIGINT) AS vc
                 FROM events WHERE value IS NOT NULL),
      b AS (SELECT channel, bucket, CAST(sum(vc) AS BIGINT) AS x
            FROM v GROUP BY 1, 2),
      p AS (SELECT a.channel AS chan_a, c.channel AS chan_b, a.x AS x, c.x AS y
            FROM b a JOIN b c ON a.bucket = c.bucket AND a.channel < c.channel),
      m AS (SELECT chan_a, chan_b, CAST(count(*) AS BIGINT) AS n,
                   sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
                   sum(CAST(x AS HUGEINT)*y) AS sxy,
                   sum(CAST(x AS HUGEINT)*x) AS sxx,
                   sum(CAST(y AS HUGEINT)*y) AS syy
            FROM p GROUP BY 1, 2),
      d AS (SELECT chan_a, chan_b, n,
                   CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE) AS cov,
                   CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) AS vx,
                   CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE) AS vy
            FROM m)
      SELECT chan_a, chan_b, n, cov / sqrt(vx * vy) AS r
      FROM d WHERE vx > 0 AND vy > 0 ORDER BY 1, 2""",

    "ts_interp" -> """
      WITH v AS (SELECT event_type AS channel, epoch_us(ts) AS t,
                        CAST(round(value*100) AS BIGINT) AS vc,
                        event_id AS tb
                 FROM events WHERE value IS NOT NULL),
      l AS (SELECT channel, t, vc,
                   lag(t) OVER (PARTITION BY channel ORDER BY t, tb) AS pt,
                   lag(vc) OVER (PARTITION BY channel ORDER BY t, tb) AS pv
            FROM v),
      p AS (SELECT * FROM l WHERE pt IS NOT NULL AND t > pt),
      g AS (SELECT channel, pt, pv, t, vc,
                   unnest(generate_series(pt // 3600000000 + 1,
                                          t // 3600000000)) AS gi
            FROM p)
      SELECT channel, gi * 3600000000 AS grid_us,
             (CAST(pv AS DOUBLE) + CAST(vc - pv AS DOUBLE)
               * (CAST(gi * 3600000000 - pt AS DOUBLE)
                  / CAST(t - pt AS DOUBLE))) / 100.0 AS value
      FROM g ORDER BY 1, 2""",

    "ts_m4" -> """
      WITH v AS (SELECT event_type AS channel,
                        ((epoch_us(ts)//1000000)//3600)*3600 AS bucket_epoch,
                        CAST(epoch_us(ts) AS BIGINT) AS t,
                        CAST(round(value*100) AS BIGINT) AS vc,
                        event_id AS tb
                 FROM events WHERE value IS NOT NULL),
      g AS (SELECT channel, bucket_epoch,
                   min(struct_pack(t := t, tb := tb, vc := vc)) AS f,
                   max(struct_pack(t := t, tb := tb, vc := vc)) AS l,
                   min(struct_pack(vc := vc, t := t, tb := tb)) AS lo,
                   max(struct_pack(vc := vc, t := t, tb := tb)) AS hi
            FROM v GROUP BY 1, 2)
      SELECT channel, bucket_epoch,
             (f).t AS t_first_us, CAST((f).vc AS DOUBLE)/100.0 AS v_first,
             (l).t AS t_last_us, CAST((l).vc AS DOUBLE)/100.0 AS v_last,
             (lo).t AS t_min_us, CAST((lo).vc AS DOUBLE)/100.0 AS v_min,
             (hi).t AS t_max_us, CAST((hi).vc AS DOUBLE)/100.0 AS v_max
      FROM g ORDER BY 1, 2""",

    "ts_peaks" -> """
      WITH v AS (SELECT event_type AS channel,
                        CAST(epoch_us(ts) AS BIGINT) AS t,
                        CAST(round(value*100) AS BIGINT) AS vc,
                        event_id AS tb
                 FROM events WHERE value IS NOT NULL),
      l AS (SELECT channel, t, vc,
                   lag(vc) OVER (PARTITION BY channel ORDER BY t, tb) AS pv,
                   lead(vc) OVER (PARTITION BY channel ORDER BY t, tb) AS nv
            FROM v)
      SELECT channel, t AS ts_us, CAST(vc AS DOUBLE)/100.0 AS value,
             CAST(vc - greatest(pv, nv) AS DOUBLE)/100.0 AS prominence
      FROM l
      WHERE pv IS NOT NULL AND nv IS NOT NULL
        AND vc > pv AND vc > nv AND vc - greatest(pv, nv) >= 4000
      ORDER BY 1, 2, 3""",

    "ts_autocorr" -> """
      WITH v AS (SELECT event_type AS channel,
                        ((epoch_us(ts)//1000000)//3600)*3600 AS bucket,
                        CAST(round(value*100) AS BIGINT) AS vc
                 FROM events WHERE value IS NOT NULL),
      b AS (SELECT channel, bucket, CAST(sum(vc) AS BIGINT) AS x
            FROM v GROUP BY 1, 2),
      p AS (SELECT cur.channel, cur.x AS x, prev.x AS y
            FROM b cur JOIN b prev ON cur.channel = prev.channel
                                  AND cur.bucket = prev.bucket + 3600),
      m AS (SELECT channel, CAST(count(*) AS BIGINT) AS n,
                   sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
                   sum(CAST(x AS HUGEINT)*y) AS sxy,
                   sum(CAST(x AS HUGEINT)*x) AS sxx,
                   sum(CAST(y AS HUGEINT)*y) AS syy
            FROM p GROUP BY 1),
      d AS (SELECT channel, n,
                   CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE) AS cov,
                   CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) AS vx,
                   CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE) AS vy
            FROM m)
      SELECT channel, n, cov / sqrt(vx * vy) AS r
      FROM d WHERE vx > 0 AND vy > 0 ORDER BY 1""",

    "ts_uptime" -> """
      WITH b AS (SELECT event_type AS channel,
                        ((epoch_us(ts)//1000000)//3600)*3600 AS bucket
                 FROM events GROUP BY 1, 2),
      g AS (SELECT channel, bucket,
                   bucket - lag(bucket) OVER (PARTITION BY channel
                     ORDER BY bucket) - 3600 AS gap
            FROM b)
      SELECT channel, CAST(count(*) AS BIGINT) AS observed,
             CAST((max(bucket) - min(bucket))//3600 + 1 AS BIGINT) AS expected,
             CAST(count(*) AS DOUBLE)
               / ((max(bucket) - min(bucket))//3600 + 1) AS coverage,
             CAST(coalesce(max(gap), 0) AS BIGINT) AS longest_gap_sec
      FROM g GROUP BY 1 ORDER BY 1""",

    "ts_ewma" -> """
      WITH v AS (SELECT event_type AS channel,
                        ((epoch_us(ts)//1000000)//3600)*3600 AS bucket,
                        CAST(round(value*100) AS BIGINT) AS vc
                 FROM events WHERE value IS NOT NULL),
      b AS (SELECT channel, bucket, CAST(sum(vc) AS BIGINT) AS s_c
            FROM v GROUP BY 1, 2),
      c AS (SELECT channel, bucket, s_c,
                   unnest(generate_series(0, 23)) AS a
            FROM b),
      w AS (SELECT channel, bucket + a*3600 AS bucket,
                   CAST(s_c AS HUGEINT) * (CAST(1 AS BIGINT) << (23 - a)) AS p,
                   CAST(1 AS BIGINT) << (23 - a) AS wt
            FROM c),
      g AS (SELECT channel, bucket, sum(p) AS num,
                   CAST(sum(wt) AS BIGINT) AS w_den
            FROM w GROUP BY 1, 2)
      SELECT b.channel, b.bucket AS bucket_epoch, g.w_den,
             CAST(g.num AS DOUBLE) / g.w_den / 100.0 AS ewma
      FROM b JOIN g ON b.channel = g.channel AND b.bucket = g.bucket
      ORDER BY 1, 2""",

    "ts_seasonal_anom" -> """
      WITH v AS (
        SELECT event_type AS channel,
               ((epoch_us(ts)//1000000) % 86400) // 3600 AS phase,
               CAST(epoch_us(ts) AS BIGINT) AS ts_us,
               CAST(round(value * 100) AS BIGINT) AS vc
        FROM events WHERE value IS NOT NULL),
      m AS (
        SELECT channel, phase,
               CAST(sum(CAST(vc AS HUGEINT)) AS DOUBLE) / count(*) AS mu,
               CAST(sum(CAST(vc AS HUGEINT) * vc) AS DOUBLE) / count(*)
                 - (CAST(sum(CAST(vc AS HUGEINT)) AS DOUBLE) / count(*))
                   * (CAST(sum(CAST(vc AS HUGEINT)) AS DOUBLE) / count(*)) AS vr
        FROM v GROUP BY 1, 2 HAVING count(*) >= 12)
      SELECT v.channel, CAST(v.phase AS BIGINT) AS phase, v.ts_us,
             CAST(vc AS DOUBLE) / 100.0 AS value,
             (vc - mu) / sqrt(vr) AS z
      FROM v JOIN m USING (channel, phase)
      WHERE vr > 0 AND (vc - mu) * (vc - mu) > 4.0 * vr
      ORDER BY channel, phase, ts_us, value""",

    "ts_outliers_mad" -> """
      WITH v AS (SELECT event_type AS channel, epoch_us(ts) AS ts_us,
                        CAST(round(value*100) AS BIGINT) AS vc,
                        event_id AS tb
                 FROM events WHERE value IS NOT NULL),
      r1 AS (SELECT channel, vc,
                    row_number() OVER (PARTITION BY channel
                      ORDER BY vc, tb) AS rk,
                    count(*) OVER (PARTITION BY channel) AS n
             FROM v),
      med AS (SELECT channel, vc AS med_c FROM r1 WHERE rk = (n + 1) // 2),
      d AS (SELECT v.channel, v.ts_us, v.vc, v.tb,
                   abs(v.vc - m.med_c) AS dev_c
            FROM v JOIN med m USING (channel)),
      r2 AS (SELECT channel, dev_c,
                    row_number() OVER (PARTITION BY channel
                      ORDER BY dev_c, tb) AS rk,
                    count(*) OVER (PARTITION BY channel) AS n
             FROM d),
      mad AS (SELECT channel, dev_c AS mad_c FROM r2 WHERE rk = (n + 1) // 2)
      SELECT d.channel, d.ts_us, CAST(d.vc AS DOUBLE)/100.0 AS value,
             d.dev_c, m.mad_c
      FROM d JOIN mad m USING (channel)
      WHERE m.mad_c > 0 AND d.dev_c > 3 * m.mad_c
      ORDER BY 1, 2""",

    "ts_moving_avg" -> """
      WITH v AS (SELECT event_type AS channel,
                        ((epoch_us(ts)//1000000)//3600)*3600 AS bucket_epoch,
                        CAST(round(value*100) AS BIGINT) AS vc
                 FROM events WHERE value IS NOT NULL),
      b AS (SELECT channel, bucket_epoch, CAST(sum(vc) AS BIGINT) AS s_c
            FROM v GROUP BY 1, 2)
      SELECT channel, bucket_epoch,
             CAST(count(*) OVER w AS BIGINT) AS n_buckets,
             CAST(CAST(sum(s_c) OVER w AS BIGINT) AS DOUBLE)
               / (count(*) OVER w) / 100.0 AS ma
      FROM b
      WINDOW w AS (PARTITION BY channel ORDER BY bucket_epoch
                   RANGE BETWEEN 82800 PRECEDING AND CURRENT ROW)
      ORDER BY 1, 2""",

    "ts_top_users" -> """
      WITH b AS (SELECT event_type AS channel,
                        ((epoch_us(ts)//1000000)//3600)*3600 AS bucket_epoch,
                        user_id, CAST(count(*) AS BIGINT) AS n
                 FROM events GROUP BY 1, 2, 3),
      r AS (SELECT channel, bucket_epoch, user_id, n,
                   CAST(row_number() OVER (PARTITION BY channel, bucket_epoch
                     ORDER BY n DESC, user_id) AS BIGINT) AS rk
            FROM b)
      SELECT channel, bucket_epoch, user_id, n, rk
      FROM r WHERE rk <= 3 ORDER BY 1, 2, 5""",

    "ts_sliding_distinct" -> s"""
      WITH v AS (SELECT event_type AS channel,
                        ((epoch_us(ts)//1000000)//3600)*3600 AS b,
                        ${DetHash.h60Sql(
                          "'sd:' || CAST(user_id AS VARCHAR)")} AS h
                 FROM events),
      k AS (SELECT DISTINCT channel, b, h FROM v WHERE h < ${1L << 58}),
      g AS (SELECT channel, b, list(h) AS hs FROM k GROUP BY 1, 2),
      w AS (SELECT channel, b,
                   flatten(list(hs) OVER (PARTITION BY channel ORDER BY b
                     RANGE BETWEEN 82800 PRECEDING AND CURRENT ROW)) AS allh
            FROM g)
      SELECT channel, b AS bucket_epoch,
             CAST(len(list_distinct(allh)) AS BIGINT) AS n_kept,
             CAST(len(list_distinct(allh)) * 4 AS BIGINT) AS est_distinct
      FROM w ORDER BY 1, 2""",

    "ts_rolling_median" -> """
      WITH v AS (SELECT event_type AS channel, epoch_us(ts) AS ts_us,
                        event_id, CAST(round(value*100) AS BIGINT) AS vc
                 FROM events WHERE value IS NOT NULL),
      l AS (SELECT channel, ts_us, event_id,
                   list_sort(list(vc) OVER (PARTITION BY channel
                     ORDER BY ts_us, event_id
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS vs
            FROM v)
      SELECT channel, ts_us, event_id,
             CAST(vs[CAST((len(vs)+1)//2 AS INT)] AS DOUBLE)/100.0 AS med
      FROM l ORDER BY 1, 2, 3""",

    "ts_prorated_total" -> s"""
      WITH b AS (
        SELECT event_type AS channel,
               ((epoch_us(ts)//1000000)//3600)*3600 AS bucket,
               $centsSum AS s_c
        FROM events
        WHERE (epoch_us(ts)//1000000) >= ${(SEpoch / Hour) * Hour}
          AND (epoch_us(ts)//1000000) < $EEpoch
        GROUP BY 1, 2)
      SELECT channel,
             CAST(sum(s_c * (least($EEpoch, bucket+3600) - greatest($SEpoch, bucket))) AS DOUBLE)/3600/100.0
               AS prorated_tot
      FROM b GROUP BY 1 ORDER BY 1""",

    "ts_counter_total" -> s"""
      WITH r AS (
        SELECT event_type AS channel, ts, event_id,
               sum(CAST(round(value*100) AS BIGINT))
                 OVER (PARTITION BY event_type ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 % 4294967296 AS raw
        FROM events),
      d AS (
        SELECT channel,
               raw - lag(raw) OVER (PARTITION BY channel ORDER BY ts, event_id) AS delta
        FROM r)
      SELECT channel, count(*)+1 AS n,
             CAST(sum(CASE WHEN delta >= 0 THEN delta ELSE delta + 4294967296 END) AS BIGINT)
               AS counter_total
      FROM d WHERE delta IS NOT NULL GROUP BY 1 ORDER BY 1""",

    "ts_counter_cum" -> s"""
      WITH r AS (
        SELECT event_type AS channel, ts,
               sum(CAST(round(value*100) AS BIGINT))
                 OVER (PARTITION BY event_type ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_c
        FROM events)
      SELECT channel, ((epoch_us(ts)//1000000)//3600)*3600 AS bucket_epoch,
             CAST(max(cum_c) AS DOUBLE)/100.0 AS cum_value
      FROM r GROUP BY 1, 2 ORDER BY 1, 2""",

    "ts_vat" -> s"""
      SELECT event_type AS channel,
             (max(struct_pack(t := epoch_us(ts), tb := event_id, v := value))).t AS ts_us,
             (max(struct_pack(t := epoch_us(ts), tb := event_id, v := value))).v AS value_at
      FROM events
      WHERE ts <= TIMESTAMP '$VatT'
      GROUP BY 1 ORDER BY 1""",

    "ts_outliers" -> """
      WITH v AS (
        SELECT event_type AS channel, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
               CAST(round(value * 100) AS BIGINT) AS vc
        FROM events WHERE value IS NOT NULL),
      m AS ( -- HUGEINT sums (the Spark side is DECIMAL(38,0)): exact at
             -- any channel size, then ONE rounding into double each
        SELECT channel,
               CAST(sum(CAST(vc AS HUGEINT)) AS DOUBLE) / count(*) AS mu,
               CAST(sum(CAST(vc AS HUGEINT) * vc) AS DOUBLE) / count(*)
                 - (CAST(sum(CAST(vc AS HUGEINT)) AS DOUBLE) / count(*))
                   * (CAST(sum(CAST(vc AS HUGEINT)) AS DOUBLE) / count(*)) AS vr
        FROM v GROUP BY 1)
      SELECT v.channel, v.ts_us, CAST(vc AS DOUBLE) / 100.0 AS value,
             (vc - mu) / sqrt(vr) AS z
      FROM v JOIN m USING (channel)
      WHERE vr > 0 AND (vc - mu) * (vc - mu) > 9.0 * vr
      ORDER BY channel, ts_us, value""",

    "ts_changepoint" -> """
      WITH v AS (
        SELECT event_type AS channel, ts, event_id AS tb,
               CAST(round(value * 100) AS BIGINT) AS vc
        FROM events WHERE value IS NOT NULL),
      m AS (SELECT channel, CAST(sum(vc) AS BIGINT) AS t,
                   count(*) AS n FROM v GROUP BY 1),
      s AS ( -- HUGEINT statistic and prefix (Spark: DECIMAL(38,0)) —
             -- the worst case grows as n^2 * deviation, far past BIGINT
        SELECT v.channel, v.ts, v.tb, m.n,
               sum(CAST(m.n AS HUGEINT) * v.vc - m.t) OVER (
                 PARTITION BY v.channel ORDER BY v.ts, v.tb
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM v JOIN m USING (channel)),
      p AS (
        SELECT channel, any_value(n) AS n,
               max(struct_pack(a := abs(cum),
                 nt := -CAST(epoch_us(ts) AS BIGINT),
                 ntb := -tb, s := cum)) AS b
        FROM s GROUP BY 1)
      SELECT channel, CAST(n AS BIGINT) AS n,
             CAST(-((b).nt) AS BIGINT) AS change_ts_us,
             CAST((b).s AS DOUBLE) / n / 100.0 AS peak
      FROM p ORDER BY channel""",

    "ts_ks" -> s"""
      WITH e AS (
        SELECT event_type, ts, props,
               CASE WHEN json_extract_string(props, '$$.k') = '0' THEN NULL
                    ELSE value END AS v
        FROM events)
      SELECT event_type AS channel,
             count(*) AS n,
             CAST(count_if(v IS NULL) AS BIGINT) AS n_invalid,
             min(v) AS vmin,
             max(v) AS vmax,
             CAST(CAST(sum(CAST(round(v*100) AS BIGINT)) AS BIGINT) AS DOUBLE)/100.0 AS tot,
             CAST(CAST(sum(CAST(round(v*100) AS BIGINT)) AS BIGINT) AS DOUBLE)
               / (count(*) - count_if(v IS NULL)) / 100.0 AS ave,
             min(v) / 3600.0 AS min_ps,
             max(v) / 3600.0 AS max_ps,
             CAST(CAST(sum(CAST(round(v*100) AS BIGINT)) AS BIGINT) AS DOUBLE)
               / (count(*) - count_if(v IS NULL)) / 100.0 / 3600.0 AS ave_ps,
             (min(CASE WHEN v IS NOT NULL THEN struct_pack(v := v, t := epoch_us(ts)) END)).t AS t_min_us,
             (max(CASE WHEN v IS NOT NULL THEN struct_pack(v := v, t := epoch_us(ts)) END)).t AS t_max_us,
             CAST(count_if(v > 200.0) AS BIGINT) AS n_over,
             CAST(count_if(v < 50.0) AS BIGINT) AS n_under,
             CAST(count_if(CAST(round(v*100) AS BIGINT) = 10000) AS BIGINT) AS n_equal,
             min(CASE WHEN v > 200.0 THEN epoch_us(ts) END) AS first_over_us,
             min(CASE WHEN v < 50.0 THEN epoch_us(ts) END) AS first_under_us,
             min(CASE WHEN CAST(round(v*100) AS BIGINT) = 10000 THEN epoch_us(ts) END) AS first_equal_us,
             CAST(sum(CASE WHEN v > 200.0 THEN CAST(round(v*100) AS BIGINT) END) AS DOUBLE)
               / nullif(count_if(v > 200.0), 0) / 100.0 AS ave_over,
             CAST(sum(CASE WHEN v < 50.0 THEN CAST(round(v*100) AS BIGINT) END) AS DOUBLE)
               / nullif(count_if(v < 50.0), 0) / 100.0 AS ave_under
      FROM e GROUP BY 1 ORDER BY 1""",

    "ts_gap_fill" -> s"""
      WITH h AS (
        SELECT event_type AS channel,
               ((epoch_us(ts)//1000000)//3600)*3600 AS bucket,
               $centsSum AS s_c
        FROM events GROUP BY 1, 2),
      g0 AS (
        SELECT channel, bucket, s_c,
               coalesce((bucket - lag(bucket) OVER (PARTITION BY channel ORDER BY bucket))//3600 - 1, 0) AS gap
        FROM h),
      g AS ( -- give-up past 255 missed (etsdSave.c:450-453): no backfill
        SELECT channel, bucket, s_c,
               CASE WHEN gap > 255 THEN 0 ELSE gap END AS missed
        FROM g0),
      x AS (
        SELECT channel, bucket, s_c, missed,
               unnest(generate_series(0, missed)) AS i
        FROM g)
      SELECT channel,
             bucket - i*3600 AS bucket_epoch,
             CAST(s_c AS DOUBLE)/(missed+1)/100.0 AS filled_value,
             i > 0 AS is_backfill
      FROM x ORDER BY 1, 2""",

    "ts_anchored_cum" -> s"""
      WITH d AS (
        SELECT event_type AS channel, epoch_us(ts) AS ts_us, event_id,
               CAST(round(value*100) AS BIGINT) AS c,
               (epoch_us(ts)//1000000)//86400 AS day
        FROM events)
      SELECT channel, ts_us,
             CAST((day*1000000 + sum(c) OVER (
                PARTITION BY channel, day ORDER BY ts_us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
              % 4294967296 AS BIGINT) AS abs
      FROM d ORDER BY 1, 2, 3""",

    "ts_skew_total" -> s"""
      WITH b AS (
        SELECT event_type AS channel,
               ((epoch_us(ts)//1000000)//3600)*3600 AS bucket,
               $centsSum AS s_c
        FROM events
        WHERE (epoch_us(ts)//1000000) >= $SEpoch
          AND (epoch_us(ts)//1000000) < $EEpoch
          AND NOT coalesce(json_extract_string(props, '$$.k') = '0', FALSE)
        GROUP BY 1, 2),
      t AS (SELECT channel, CAST(sum(s_c) AS BIGINT) AS tot_c,
                   count(*) AS n_buckets FROM b GROUP BY 1)
      SELECT channel, n_buckets, n_buckets*3600 AS covered_sec,
             CAST((tot_c * ${EEpoch - SEpoch} + 1) // (n_buckets*3600) AS DOUBLE)/100.0
               AS skew_tot
      FROM t ORDER BY 1""",

    "ts_tsd_roundtrip" -> s"""
      SELECT event_type AS channel,
             ((epoch_us(ts)//1000000)//3600)*3600 AS bucket_epoch,
             $centsSum AS s_c
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""",

    // identical closed form to ts_tsd_roundtrip: the file layer must be
    // an identity on present buckets
    "ts_tsd_file_roundtrip" -> s"""
      SELECT event_type AS channel,
             ((epoch_us(ts)//1000000)//3600)*3600 AS bucket_epoch,
             $centsSum AS s_c
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""",

    // the fixture values are exactly representable in binary16, so the
    // float-lane round-trip is an identity on the closed form
    "ts_tsd_float_roundtrip" -> s"""
      SELECT event_type AS channel,
             ((epoch_us(ts)//1000000)//3600)*3600 AS bucket_epoch,
             CAST((($centsSum % 1024) + 1024) % 1024 AS DOUBLE) + 0.5 AS v_half
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""",

    // each lane's fold of the same closed form; the signed purchase lane
    // straddles zero to exercise the offset encode
    "ts_tsd_mixed_roundtrip" -> s"""
      WITH h AS (
        SELECT event_type AS channel,
               ((epoch_us(ts)//1000000)//3600)*3600 AS bucket_epoch,
               $centsSum AS s_c
        FROM events GROUP BY 1, 2)
      SELECT channel, bucket_epoch,
             CASE channel
               WHEN 'click'    THEN ((s_c % 4000) + 4000) % 4000
               WHEN 'error'    THEN ((s_c % 1000000) + 1000000) % 1000000
               WHEN 'purchase' THEN ((s_c % 60000) + 60000) % 60000 - 30000
               WHEN 'signup'   THEN ((s_c % 262142) + 262142) % 262142
               ELSE ((s_c % 3) + 3) % 3
             END AS v
      FROM h ORDER BY 1, 2""",

    // the AutoScale closed form: a sample's decode depends only on its
    // own value and its block's final scale (right-shifts compose), so
    // per (channel, block) S = the scale the block's max folded value
    // needs, decoded = (raw >> S) << S; the block grid is the sink
    // layout's (8-day groups of DISTINCT present slots, blocks at
    // lo + 24j — the same CTE as ts_tsd_block_index)
    "ts_tsd_autoscale_roundtrip" -> s"""
      WITH h AS (
        SELECT event_type AS channel,
               (epoch_us(ts)//1000000)//3600 AS slot,
               $centsSum AS s_c
        FROM events GROUP BY 1, 2),
      caps(channel, cap) AS (VALUES
        ${AutoScaleCaps.map { case (n, c) => s"('$n', $c)" }.mkString(", ")}),
      v AS (SELECT h.channel, slot,
                   (((s_c * 37) % cap) + cap) % cap AS raw
            FROM h JOIN caps ON h.channel = caps.channel),
      sl AS (SELECT DISTINCT slot FROM v),
      g AS (SELECT slot//192 AS grp, min(slot) AS lo FROM sl GROUP BY 1),
      b AS (SELECT v.channel, v.slot, v.raw,
                   g.lo + 24*((v.slot - g.lo)//24) AS blk
            FROM v JOIN g ON v.slot//192 = g.grp),
      sc AS (SELECT channel, blk,
                    CASE WHEN max(raw) < 65536 THEN 0
                         WHEN max(raw) < 131072 THEN 1
                         WHEN max(raw) < 262144 THEN 2
                         ELSE 3 END AS s
             FROM b GROUP BY 1, 2)
      SELECT b.channel, CAST(b.slot*3600 AS BIGINT) AS bucket_epoch,
             CAST((b.raw >> sc.s) << sc.s AS BIGINT) AS v
      FROM b JOIN sc ON b.channel = sc.channel AND b.blk = sc.blk
      ORDER BY 1, 2""",

    // the counter/register closed form over the sink's block grid:
    // deltas = (odo−prev)//gap backfilled into min(gap−1, slot−blk)
    // preceding slots (the encoder can't backfill across a block
    // boundary); registers = the last valid odometer before each block
    // start (odo is monotone, so max() IS the arg-max); each group's
    // first valid reading emits nothing (invalid anchor store)
    "ts_tsd_counter_roundtrip" -> s"""
      WITH h AS (
        SELECT event_type AS channel,
               (epoch_us(ts)//1000000)//3600 AS slot,
               $centsSum AS s_c
        FROM events GROUP BY 1, 2),
      o AS (SELECT channel, slot,
                   sum(((s_c % 100000) + 100000) % 100000)
                     OVER (PARTITION BY channel ORDER BY slot) AS odo
            FROM h),
      sl AS (SELECT DISTINCT slot FROM o),
      g AS (SELECT slot//192 AS grp, min(slot) AS lo, max(slot) AS hi
            FROM sl GROUP BY 1),
      oo AS (SELECT o.channel, o.slot, o.odo, g.grp,
                    g.lo + 24*((o.slot - g.lo)//24) AS blk
             FROM o JOIN g ON o.slot//192 = g.grp),
      d AS (SELECT channel, grp, slot, blk, odo,
                   lag(slot) OVER (PARTITION BY channel, grp ORDER BY slot)
                     AS pslot,
                   lag(odo) OVER (PARTITION BY channel, grp ORDER BY slot)
                     AS podo
            FROM oo),
      deltas AS (
        SELECT channel,
               unnest(range(slot - least(slot - pslot - 1, slot - blk),
                            slot + 1)) AS ds,
               (odo - podo) // (slot - pslot) AS v
        FROM d WHERE pslot IS NOT NULL),
      blks AS (SELECT grp, lo + 24*unnest(range(0, (hi - lo)//24 + 1)) AS L
               FROM g),
      regs AS (
        SELECT o.channel, b.L, max(o.odo) AS v
        FROM oo o JOIN blks b ON o.grp = b.grp AND o.slot < b.L
        GROUP BY 1, 2)
      SELECT channel, CAST(ds*3600 AS BIGINT) AS ts_epoch,
             CAST(0 AS BIGINT) AS is_reg, CAST(v AS BIGINT) AS v
      FROM deltas
      UNION ALL
      SELECT channel, CAST(L*3600 AS BIGINT), CAST(1 AS BIGINT),
             CAST(v AS BIGINT)
      FROM regs
      ORDER BY 1, 2, 3""",

    // closed form of the sink's block layout: per 8-day file group with
    // present hour-slots [lo, hi], blocks at lo+24j carrying
    // min(24, hi-start+1) fed intervals
    "ts_tsd_block_index" -> s"""
      WITH sl AS (SELECT DISTINCT (epoch_us(ts)//1000000)//3600 AS slot
                  FROM events),
      r AS (SELECT slot//192 AS grp, min(slot) AS lo, max(slot) AS hi
            FROM sl GROUP BY 1),
      blk AS (SELECT lo + 24*unnest(range(0, (hi - lo)//24 + 1)) AS bslot,
                     hi
              FROM r)
      SELECT CAST(bslot*3600 AS BIGINT) AS ts_epoch,
             CAST(least(24, hi - bslot + 1) AS BIGINT) AS n_iv
      FROM blk ORDER BY 1""",

    // same block closed form; the payload must decode to its own epoch
    "ts_tsd_xdata" -> s"""
      WITH sl AS (SELECT DISTINCT (epoch_us(ts)//1000000)//3600 AS slot
                  FROM events),
      r AS (SELECT slot//192 AS grp, min(slot) AS lo, max(slot) AS hi
            FROM sl GROUP BY 1),
      blk AS (SELECT lo + 24*unnest(range(0, (hi - lo)//24 + 1)) AS bslot
              FROM r)
      SELECT CAST(bslot*3600 AS BIGINT) AS block_epoch,
             CAST(bslot*3600 AS BIGINT) AS xval
      FROM blk ORDER BY 1""",

    // span-aligned cutoff ⟺ survivors are exactly the buckets >= cutoff
    "ts_retention_drop" -> s"""
      WITH b AS (SELECT event_type AS channel,
                        ((epoch_us(ts)//1000000)//3600)*3600 AS bucket_epoch,
                        $centsSum AS s_c
                 FROM events GROUP BY 1, 2)
      SELECT channel, CAST(count(*) AS BIGINT) AS n_buckets,
             CAST(sum(s_c) AS BIGINT) AS total_c
      FROM b WHERE bucket_epoch >= 1704844800 GROUP BY 1 ORDER BY 1""",

    // the pruned many-file read must equal the plain range-filtered
    // hourly aggregation — present buckets only, range ends mid-block
    "ts_tsd_manyfile" -> s"""
      WITH b AS (SELECT event_type AS channel,
                        ((epoch_us(ts)//1000000)//3600)*3600 AS bucket_epoch,
                        $centsSum AS s_c
                 FROM events GROUP BY 1, 2)
      SELECT channel, CAST(count(*) AS BIGINT) AS n_buckets,
             CAST(sum(s_c) AS BIGINT) AS total_c
      FROM b WHERE bucket_epoch >= $SEpoch AND bucket_epoch < $EEpoch
      GROUP BY 1 ORDER BY 1""",

    // the fleet read must equal the plain per-store range-filtered
    // hourly aggregation — store = user shard, present buckets only
    "ts_fleet_range" -> s"""
      WITH b AS (SELECT printf('s%03d', user_id % 128) AS store_id,
                        event_type AS channel,
                        ((epoch_us(ts)//1000000)//3600)*3600 AS bucket_epoch,
                        $centsSum AS s_c
                 FROM events GROUP BY 1, 2, 3)
      SELECT store_id, CAST(count(*) AS BIGINT) AS n_buckets,
             CAST(sum(s_c) AS BIGINT) AS total_c
      FROM b WHERE bucket_epoch >= $SEpoch AND bucket_epoch < $EEpoch
      GROUP BY 1 ORDER BY 1""",

    // three selected stores' per-channel totals — the store-pruned read
    // must equal the user-shard closed form restricted to those shards
    "ts_fleet_select" -> s"""
      WITH b AS (SELECT printf('s%03d', user_id % 128) AS store_id,
                        event_type AS channel,
                        ((epoch_us(ts)//1000000)//3600)*3600 AS bucket_epoch,
                        $centsSum AS s_c
                 FROM events GROUP BY 1, 2, 3)
      SELECT channel, CAST(count(*) AS BIGINT) AS n_buckets,
             CAST(sum(s_c) AS BIGINT) AS total_c
      FROM b WHERE store_id IN ('s007', 's031', 's100')
        AND bucket_epoch >= $SEpoch AND bucket_epoch < $EEpoch
      GROUP BY 1 ORDER BY 1""",

    // independent re-derivation of the one-byte AC-voltage piecewise
    // code (0 outage / 1 brownout / 2..253 = v−1040 / 254 over / 255
    // invalid) and its partial decode
    "ts_volts_codec" -> s"""
      WITH v AS (SELECT CASE WHEN event_id % 97 = 0 THEN NULL
                             ELSE (event_id * 7) % 1600 END AS v
                 FROM events),
      c AS (SELECT v, CASE WHEN v IS NULL THEN 255
                           WHEN v = 0 THEN 0
                           WHEN v < 1040 THEN 1
                           ELSE least(v - 1040, 254) END AS code
            FROM v)
      SELECT CAST(code AS BIGINT) AS code,
             CAST(count(*) AS BIGINT) AS n,
             CAST(min(v) AS BIGINT) AS v_min,
             CAST(max(v) AS BIGINT) AS v_max,
             CAST(CASE WHEN code > 1 AND code < 254 THEN code + 1040 END
               AS BIGINT) AS dec
      FROM c GROUP BY code ORDER BY code""",

    "ts_cli_query" -> s"""
      SELECT event_type AS channel, count(*) AS n,
             CAST(max(CAST(round(value*100) AS BIGINT)) AS DOUBLE) AS result
      FROM events
      WHERE ts >= TIMESTAMP '$S' AND ts <= TIMESTAMP '$E'
        AND event_type = 'click'
      GROUP BY 1 ORDER BY 1""",

    "ts_rollup_ladder" -> Seq(Hour, Day).map { res => s"""
      SELECT CAST($res AS BIGINT) AS resolution_sec,
             event_type AS channel,
             ((epoch_us(ts)//1000000)//$res)*$res AS bucket_epoch,
             count(*) AS n,
             CAST($centsSum AS DOUBLE)/count(*)/100.0 AS ave,
             min(value) AS vmin,
             max(value) AS vmax,
             (max(struct_pack(t := epoch_us(ts), tb := event_id, v := value))).v AS last
      FROM events GROUP BY 1, 2, 3"""
    }.mkString("", " UNION ALL ", " ORDER BY 1, 2, 3"))
}
