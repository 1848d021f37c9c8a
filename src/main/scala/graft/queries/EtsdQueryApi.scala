package graft.queries

import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft._
import graft.functions.TimeLiterals
import graft.model.EtsdSchema
import graft.operators.TimeSeriesOps
import graft.sources.TsdLocalScan

/** The `etsdCmd query` entry point re-expressed over the canonical long
  * DataFrame (etsdCmd.c:333-461): parses `q=`/`c=`/`s=`/`e=` arguments,
  * resolves the channel by case-insensitive substring (etsdChanNum,
  * etsdQuery.c:193-203), the verb by substring (`q=maximum` works,
  * etsdQuery.c:374-395), and start/end through the CLI time-literal
  * grammar. Defaults: `end=now`, `start=begin` — the first stored sample
  * (etsdCmd.c:449-454).
  *
  * Counter channels in the long form carry per-interval deltas, so
  * tot/min/max/ave over `value` reproduces the reference's accumulation
  * (its Min/Max also track per-interval deltas, etsdQuery.c:326-331).
  *
  * Driver-local rule: when `df` is a bare `TsdDataSource` load and the
  * sidecar prunes the selection to at most [[TsdLocalScan.MaxBlocks]]
  * (1,024) blocks, the answer is folded on the driver and returned as a
  * local relation of result rows — no Spark job, the reference's
  * seek-a-few-blocks cost. The bound is a constant so that driver work
  * stays O(1) in store size; anything else (a filtered frame, a fleet, a
  * longer window) takes the distributed aggregate, with the same rows
  * and schema either way. */
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

  /** Run an AMT-family query. `df` is the long DataFrame (`ts, channel,
    * value, valid, is_register`); `now` injected for determinism. Output:
    * one row per matched channel: (channel, n, result). */
  def query(df: DataFrame, schema: EtsdSchema, rawArgs: Seq[String],
            now: Instant): DataFrame =
    run(df, schema, rawArgs, now, driverLocal = true)

  /** [[query]] always through the distributed aggregate, never the
    * driver-local fold: the reference plan the local answer must equal. */
  private[graft] def queryDistributed(df: DataFrame, schema: EtsdSchema,
      rawArgs: Seq[String], now: Instant): DataFrame =
    run(df, schema, rawArgs, now, driverLocal = false)

  private def run(df: DataFrame, schema: EtsdSchema, rawArgs: Seq[String],
                  now: Instant, driverLocal: Boolean): DataFrame = {
    val a = parse(rawArgs)
    val verb = TimeSeriesOps.amtVerb(a.verb)

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

    // `begin` = first stored sample (reference seeks block 1,
    // etsdQuery.c:259-261) — one scalar agg, evaluated only when used
    lazy val begin: Instant = {
      val r = df.agg(min(unix_timestamp($"ts"))).head()
      if (r.isNullAt(0)) // empty file: the reference's read error path
        throw new IllegalArgumentException("no data blocks in file")
      Instant.ofEpochSecond(r.getLong(0))
    }
    def epoch(lit: String): Long = {
      val b = if (lit.toLowerCase.contains("begin")) begin
              else Instant.EPOCH // unused unless 'begin' appears
      TimeLiterals.parseTimeEpoch(lit, now, b)
    }
    val startE = a.start.map(epoch).getOrElse(begin.getEpochSecond)
    val endE = a.end.map(epoch).getOrElse(now.getEpochSecond)

    val local =
      if (driverLocal) TsdLocalScan.fold(df, startE, endE, chanName) else None
    local.fold(distributed(df, verb, chanName, startE, endE)) { folds =>
      val rows = folds.map { f =>
        // the distributed aggregate's arithmetic: sum as a long, cast,
        // then divided by the count as a double
        val r = verb match {
          case "min" => f.min.toDouble
          case "max" => f.max.toDouble
          case "ave" => f.sum.toDouble / f.n
          case _     => f.sum.toDouble
        }
        Row(f.channel, f.n, r)
      }
      df.sparkSession.createDataFrame(rows.asJava, ResultSchema)
    }
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
