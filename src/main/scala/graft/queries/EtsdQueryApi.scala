package graft.queries

import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft._
import graft.functions.TimeLiterals
import graft.model.EtsdSchema
import graft.operators.TimeSeriesOps
import graft.sources.{TsdIndex, TsdLocalScan, TsdStore}

/** The `etsdCmd query` entry point re-expressed over the canonical long
  * DataFrame (etsdCmd.c:333-461): parses `q=`/`c=`/`s=`/`e=` arguments,
  * resolves the channel by case-insensitive substring (etsdChanNum,
  * etsdQuery.c:193-203), the verb by substring (`q=maximum` works,
  * etsdQuery.c:374-395), and start/end through the CLI time-literal
  * grammar. Defaults: `end=now`, `start=begin` — the first stored block
  * (etsdCmd.c:449-454).
  *
  * Counter channels in the long form carry per-interval deltas, so
  * tot/min/max/ave over `value` reproduces the reference's accumulation
  * (its Min/Max also track per-interval deltas, etsdQuery.c:326-331).
  *
  * Driver-local rule: when `df` is a bare `TsdDataSource` load and the
  * sidecar prunes the selection to at most [[TsdLocalScan.MaxBlocks]]
  * blocks (2 MiB), the answer is folded on the driver and returned as a
  * local relation of result rows — no Spark job, the reference's
  * one-thread read of the blocks the window spans. The bound is a
  * constant so that driver work stays O(1) in store size; anything else
  * (a filtered frame, a fleet, a longer selection) takes the distributed
  * aggregate, with the same rows and schema either way. Every query is
  * one composition, the reference's parse, seek and fold: [[answer]], a
  * Spark-free core over a listed [[TsdStore]] and a Hadoop
  * `Configuration`, and, when it declines, [[queryDistributed]]. The cold
  * `EtsdCmd query` calls [[answer]] on the store it listed before it
  * builds any session; [[query]] calls it on the store the load owns
  * ([[TsdLocalScan.bareStore]]), listed once for the `begin` read, the
  * fold and the scan a declined fold plans. An ordered collect of the
  * local answer (the CLI's `orderBy("channel")`) runs no job either in a
  * session with `graft.GraftExtensions`, whose
  * [[graft.plans.SortLocalRelation]] sorts the rows on the driver; a
  * session without it still plans Spark's range-partitioned sort, three
  * jobs for a multi-channel answer.
  *
  * `begin` (`s=` missing or naming it) of a `.tsd` load is the store's
  * earliest block-1 stamp, read from its index entries
  * ([[TsdIndex.begin]]), never with a job over the data: [[answer]] reads
  * the fresh sidecar's and probes each unindexed file in this process,
  * within the bound; [[queryDistributed]] takes the load's planned
  * entries, whose one probe job for the unindexed files its scan reuses.
  * It is the first stored sample whenever the schema has a register
  * channel and block clocks run forward; with no register it is one
  * interval earlier, and a clock stepping backwards inside a file is not
  * looked for, as in the reference. Only a frame that is not a bare `.tsd`
  * load takes `begin` as its smallest `ts`, with one aggregate job. */
object EtsdQueryApi {

  /** Schema of every [[query]] result, local or distributed. */
  val ResultSchema: StructType = StructType(Seq(
    StructField("channel", StringType, nullable = false),
    StructField("n", LongType, nullable = false),
    StructField("result", DoubleType, nullable = true)))

  final case class Args(verb: String, chan: Option[String],
                        start: Option[String], end: Option[String])

  /** `q=tot c=garage s=now-4h e=now` → [[Args]] (etsdCmd.c:362-442). */
  def parse(args: Seq[String]): Args = {
    var a = Args("tot", None, None, None)
    args.foreach { t =>
      t.split("=", 2) match {
        case Array("q", v) => a = a.copy(verb = v)
        case Array("c", v) => a = a.copy(chan = Some(v))
        case Array("s", v) => a = a.copy(start = Some(v))
        case Array("e", v) => a = a.copy(end = Some(v))
        case _ => throw new IllegalArgumentException(s"bad query arg '$t'")
      }
    }
    a
  }

  /** A parsed, checked query: the AMT verb, the resolved channel name and
    * the time literals, whose window may still wait on `begin`. */
  private final case class Resolved(verb: String, chan: Option[String],
      start: Option[String], end: Option[String], now: Instant) {
    /** Does the window need `begin` (`s=` missing or naming it)? */
    def needsBegin: Boolean = {
      def begins(lit: String) = lit.toLowerCase.contains("begin")
      start.forall(begins) || end.exists(begins)
    }

    /** `[start, end]` in epoch seconds, `begin` the first stored block's
      * stamp (read only when [[needsBegin]]). Defaults: `end=now`,
      * `start=begin` (etsdCmd.c:449-454). */
    def window(begin: Long): (Long, Long) = {
      def epoch(lit: String) =
        TimeLiterals.parseTimeEpoch(lit, now, Instant.ofEpochSecond(begin))
      (start.fold(begin)(epoch), end.fold(now.getEpochSecond)(epoch))
    }

    /** The distributed aggregate's arithmetic: sum as a long, cast, then
      * divided by the count as a double. */
    def result(f: TsdLocalScan.ChannelFold): Double = verb match {
      case "min" => f.min.toDouble
      case "max" => f.max.toDouble
      case "ave" => f.sum.toDouble / f.n
      case _     => f.sum.toDouble
    }
  }

  /** Parse and check `rawArgs` against `schema` before any data is read:
    * a bad argument, an unknown channel or a bad time literal raises
    * IllegalArgumentException here. */
  private def resolve(schema: EtsdSchema, rawArgs: Seq[String],
                      now: Instant): Resolved = {
    val a = parse(rawArgs)
    val chanName = a.chan.map { c =>
      // number or name, like the reference CLI (etsdCmd.c:429-438):
      // all-digits → channel index, else case-insensitive substring
      val cfg =
        if (c.nonEmpty && c.forall(_.isDigit))
          // toIntOption: a 10+-digit numeral overflows Int — fall through
          // to the uniform channel-not-found error, not NumberFormatException
          c.toIntOption.flatMap(schema.channels.lift)
        else schema.channel(c)
      cfg.getOrElse(
        throw new IllegalArgumentException(s"channel '$c' not found")).name
    }
    val q = Resolved(TimeSeriesOps.amtVerb(a.verb), chanName, a.start, a.end, now)
    q.window(0L) // parses every literal
    q
  }

  /** [[query]]'s rows for the bare `.tsd` store `store`, read and folded
    * in this process by [[TsdLocalScan]] with no Spark job or session, in
    * channel order; None when the selection is over
    * [[TsdLocalScan.MaxBlocks]] blocks, as it is whenever the unindexed
    * files alone are, which is when `begin` is not read here
    * ([[TsdLocalScan.begin]]). The caller then runs [[queryDistributed]],
    * which does not retry the fold. The arguments resolve against
    * `schema`: the cold `EtsdCmd query` passes the header it read,
    * [[query]] its own argument, so that it opens no header. Bad
    * arguments raise IllegalArgumentException either way. */
  def answer(conf: Configuration, store: TsdStore, schema: EtsdSchema,
             rawArgs: Seq[String], now: Instant): Option[Seq[(String, Long, Double)]] = {
    val q = resolve(schema, rawArgs, now)
    (if (q.needsBegin) TsdLocalScan.begin(store) else Some(0L)).flatMap { b =>
      val (lo, hi) = q.window(b)
      TsdLocalScan.fold(conf, store, lo, hi, q.chan)
        .map(_.map(f => (f.channel, f.n, q.result(f))))
    }
  }

  /** Run an AMT-family query. `df` is the long DataFrame (`ts, channel,
    * value, valid, is_register`); `now` injected for determinism. Output:
    * one row per matched channel: (channel, n, result). The CLI's
    * composition: [[answer]] over the store of a bare load, as a local
    * relation, else [[queryDistributed]]. */
  def query(df: DataFrame, schema: EtsdSchema, rawArgs: Seq[String],
            now: Instant): DataFrame = {
    val spark = df.sparkSession
    TsdLocalScan.bareStore(df)
      .flatMap(answer(spark.sessionState.newHadoopConf(), _, schema, rawArgs, now))
      .fold(queryDistributed(df, schema, rawArgs, now)) { rs =>
        spark.createDataFrame(
          rs.map { case (c, n, r) => Row(c, n, r) }.asJava, ResultSchema)
      }
  }

  /** [[query]] always through the distributed aggregate, never the
    * driver-local fold: the reference plan the local answer must equal,
    * and the cold `EtsdCmd query`'s plan once [[answer]] has declined. */
  private[graft] def queryDistributed(df: DataFrame, schema: EtsdSchema,
      rawArgs: Seq[String], now: Instant): DataFrame = {
    val q = resolve(schema, rawArgs, now)
    // `begin` (etsdQuery.c:259-261): a bare `.tsd` load's from its index
    // entries, with the load's one probe job, which its scan reuses; any
    // other frame's as its smallest `ts`, one aggregate job
    def begin: Long = TsdLocalScan.bareStore(df).fold {
      val r = df.agg(min(unix_timestamp($"ts"))).head()
      if (r.isNullAt(0)) // empty frame: the reference's read error path
        throw new IllegalArgumentException("no data blocks in file")
      r.getLong(0)
    }(s => TsdIndex.begin(s.planned))
    val (lo, hi) = q.window(if (q.needsBegin) begin else 0L)
    distributed(df, q.verb, q.chan, lo, hi)
  }

  private def distributed(df: DataFrame, verb: String,
                          chanName: Option[String], startE: Long,
                          endE: Long): DataFrame = {
    val base = df
      .filter($"ts" >= timestamp_seconds(lit(startE)) &&
        $"ts" <= timestamp_seconds(lit(endE)) && !$"is_register" && $"valid")
      .filter(chanName.map($"channel" === _).getOrElse(lit(true)))

    val result: Column = verb match {
      case "min" => min($"value")
      case "max" => max($"value")
      case "ave" => (sum($"value").cast("double") / count(lit(1)))
      case _     => sum($"value").cast("double")
    }
    base.groupBy($"channel")
      .agg(count(lit(1)).as("n"), result.cast("double").as("result"))
  }
}
