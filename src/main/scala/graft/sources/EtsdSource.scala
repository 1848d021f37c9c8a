package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft._
import graft.codec._
import graft.model.{ChannelConfig, EtsdSchema, StreamType}

/** Multi-store and derived views over native `.tsd` files (SURVEY.md §7
  * step 3). Every read goes through the one DataSource V2 reader,
  * [[TsdDataSource]], which yields the canonical long DataFrame
  * `(ts, channel, value, valid, is_register)` — the analog of
  * `etsdInit` + block iteration (etsd.c:41-123, etsdRead.c:181-287) —
  * and, with `xdata=true`, the per-block time index. [[fleet]],
  * [[fleetWithStores]] and [[fleetRoot]] are its multi-store entry
  * points; [[wide]] pivots the long form. The whole-file oracle the scan
  * is checked against is the codec's `EtsdDecoder.decodeFile`. */
object EtsdSource {

  /** Fleet-wide read in the historical long schema (no store column).
    *
    * An ETSD deployment scales by STORES, not by widening one store — a
    * store's channel set is bounded by the 512-byte block capacity
    * (etsdCmd.c:295-299), so a fleet is one directory per daemon
    * (etsd.c:33). `dirs` are store directories, read through the single
    * scan node of [[fleetWithStores]] with the store column dropped.
    * Inputs that scan cannot encode — two stores with the same base name
    * (the `store_id`), or a `,` in a path (the option encoding) — read as
    * a union of per-store scans instead of throwing. `TsdIndexSpec`
    * asserts one scan node, value parity and zero file probes when
    * sidecars exist. */
  def fleet(spark: SparkSession, dirs: Seq[String]): DataFrame = {
    require(dirs.nonEmpty, "fleet requires at least one store directory")
    val baseNames = dirs.map(d => new org.apache.hadoop.fs.Path(d).getName)
    if (baseNames.distinct.size == dirs.size && dirs.forall(!_.contains(',')))
      fleetWithStores(spark, dirs).drop("store_id")
    else
      dirs.map(d => spark.read.format("graft.sources.TsdDataSource").load(d))
        .reduce(_ unionByName _)
  }

  /** Fleet-wide read carrying `store_id` (the store directory's base
    * name — must be distinct across the fleet), always through the
    * single multi-store scan node ([[TsdScan]]): the load lists each
    * store and reads its sidecar once, when a scan first selects it,
    * cache misses across all stores coalesce into one probe job, and an
    * `=`/`IN` filter on `store_id` prunes whole stores at planning time. */
  def fleetWithStores(spark: SparkSession, dirs: Seq[String]): DataFrame = {
    require(dirs.nonEmpty, "fleet requires at least one store directory")
    // the store list travels as ONE comma-joined DSv2 option: a path
    // containing ',' (or an empty segment) would silently mis-split into
    // bogus store dirs on the read side — fail fast here instead
    require(dirs.forall(d => d.nonEmpty && !d.contains(',')),
      "fleet store directories must be non-empty and comma-free " +
        "(the store list is encoded as a comma-joined scan option)")
    spark.read.format("graft.sources.TsdDataSource")
      .option("stores", dirs.mkString(",")).load()
  }

  /** [[fleetWithStores]] over a fleet ROOT directory: every immediate
    * subdirectory is a store, found by one listing of the root when the
    * load is first planned and kept, as its files are, for the load's
    * life: load again to see stores added or removed since. */
  def fleetRoot(spark: SparkSession, root: String): DataFrame =
    spark.read.format("graft.sources.TsdDataSource")
      .option("fleet", "true").load(root)

  /** Wide pivoted view of the long form — one row per timestamp, one
    * column per channel (SURVEY.md §1.5: the ECM-style consumer shape;
    * the long form stays canonical because it scales to arbitrary channel
    * counts). Register rows are excluded; the channel list comes from the
    * schema so the output shape is fixed, not data-dependent.
    *
    * SORT CONTRACT: `globalSort = true` (default, the historical
    * behavior) appends a total `orderBy(ts)` — right for a consumer
    * that displays or exports the view, but a consumer MATERIALIZING it
    * at 100 TB pays a full range-shuffle sort for an ordering the next
    * operator usually re-derives. `globalSort = false` instead sorts
    * WITHIN the pivot's output partitions (no extra exchange — the rows
    * are already hash-partitioned by ts from the pivot's groupBy, so
    * each timestamp appears exactly once and each partition is
    * internally time-ordered; there is just no cross-partition total
    * order). Downstream time-window logic that repartitions by its own
    * keys anyway loses nothing. */
  def wide(long: DataFrame, schema: EtsdSchema,
           globalSort: Boolean = true): DataFrame = {
    val chans = schema.channels.filter(_.streamType != graft.model.StreamType.DontSave)
      .map(_.name)
    val pivoted = long.filter(!$"is_register")
      .groupBy($"ts")
      .pivot("channel", chans)
      .agg(first($"value"))
    if (globalSort) pivoted.orderBy($"ts")
    else pivoted.sortWithinPartitions($"ts")
  }

  /** Distributed encode→decode round-trip of a fixed-cadence grid through
    * real 512-byte ETSD blocks — the oracle-checked proof that the codec
    * is the identity on stored values. Input: one row per
    * (channel, bucketEpoch) with an integer value; missing buckets are
    * encoded as the invalid sentinel and dropped on decode. One day = one
    * block (24 × 1 h intervals, 24-bit Large streams); groups are
    * independent, so the plan is a single shuffle by day — no cross-block
    * state, exactly the reference's self-contained-block design
    * (README.md:7-9). */
  def roundTripHourlyBlocks(hourly: DataFrame, channelNames: Seq[String]): DataFrame = {
    val spark = hourly.sparkSession
    import spark.implicits._
    // empty catalog (e.g. an empty source partition): nothing to encode —
    // return the empty result rather than building an unsatisfiable schema
    if (channelNames.isEmpty)
      return Seq.empty[(String, Long, Long)]
        .toDF("channel", "bucket_epoch", "s_c")
    val names = channelNames.sorted
    require(names.forall(ChannelConfig.nameOk), s"bad channel names: $names")
    val schema = EtsdSchema(
      names.map(n => ChannelConfig(n, StreamType.LargeS)),
      intervalSec = 3600, blockIntervals = 24)
    val idx = names.zipWithIndex.toMap

    hourly.select($"channel", $"bucket", $"s_c").as[(String, Long, Long)]
      .groupByKey { case (_, bucket, _) => bucket / 86400L }
      .flatMapGroups { (day, rows) =>
        val byHourChan = rows.map { case (c, b, v) =>
          ((b % 86400L / 3600L).toInt, idx(c)) -> v
        }.toMap
        val enc = new EtsdEncoder(schema)
        val dayStart = day * 86400L
        (0 until 24).foreach { h =>
          enc.feed(dayStart + h * 3600L, names.indices.map { ci =>
            byHourChan.get((h, ci)) match {
              case Some(v) => Reading(v)
              case None    => Reading(0L, status = 1) // missing → invalid
            }
          }.toIndexedSeq)
        }
        enc.blocks().iterator.flatMap { bytes =>
          EtsdDecoder.decodeBlock(schema, bytes).iterator.collect {
            case Sample(ts, chan, Some(v), false) =>
              (names(chan), ts - 3600L, v) // sample covers the previous hour
          }
        }
      }
      .toDF("channel", "bucket_epoch", "s_c")
  }
}
