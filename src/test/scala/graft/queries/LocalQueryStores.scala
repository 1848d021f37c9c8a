package graft.queries

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.timestamp_seconds

import graft.TestSpark
import graft.codec.{BlockBuffer, EtsdDecoder, Layout}
import graft.model.{ChannelConfig, EtsdSchema, StreamType}
import graft.sources.{EtsdSink, TsdIndex}

/** Small `.tsd` stores for the driver-local query specs, and the
  * whole-file oracle they are checked against. */
object LocalQueryStores {
  private val Iso = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    .withZone(ZoneOffset.UTC)
  /** A CLI absolute time literal for `epoch`. */
  def iso(epoch: Long): String = Iso.format(Instant.ofEpochSecond(epoch))

  /** Export `rows` (epoch, channel, value, valid) with the sidecar. */
  def exportStore(spark: SparkSession, schema: EtsdSchema,
             rows: Seq[(Long, String, Option[Long], Boolean)],
             blocksPerFile: Int): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("localq").toString
    val df = rows.toDF("te", "channel", "value", "valid")
      .select(timestamp_seconds($"te").as("ts"), $"channel", $"value", $"valid")
    EtsdSink.exportIndexed(df, schema, dir, blocksPerFile)
    dir
  }

  def tsdFiles(dir: String): Seq[Path] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.filter(_.toString.endsWith(".tsd")).toSeq.sorted
    finally s.close()
  }

  /** Copy a store keeping modification times, so its sidecar stays fresh. */
  def copyStore(from: String): String = {
    val to = Files.createTempDirectory("localq-copy")
    val s = Files.list(Paths.get(from))
    try s.iterator().asScala.foreach(f =>
      Files.copy(f, to.resolve(f.getFileName), StandardCopyOption.COPY_ATTRIBUTES))
    finally s.close()
    to.toString
  }

  def withoutSidecar(from: String): String = {
    val d = copyStore(from)
    Files.delete(Paths.get(d, TsdIndex.FileName))
    d
  }

  /** A copy whose `nth` file was rewritten with the bytes of the file two
    * later, so its sidecar entry is stale and names the wrong times. */
  def withStaleEntry(from: String, nth: Int): String = {
    val d = copyStore(from)
    val fs = tsdFiles(d)
    Files.write(fs(nth), Files.readAllBytes(fs(nth + 2)))
    // the local file system's checksum file would reject the new bytes
    Files.delete(fs(nth).resolveSibling(s".${fs(nth).getFileName}.crc"))
    val f = fs(nth).toFile
    assert(f.setLastModified(f.lastModified() + 60000L))
    d
  }

  /** `begin` by the reference's rule, read from the bytes: the smallest
    * block-1 stamp over the data files `files`. */
  def firstBlockTs(files: Seq[Path]): Long = files.map { f =>
    BlockBuffer(Files.readAllBytes(f).slice(BlockBuffer.BlockSize, 2 * BlockBuffer.BlockSize))
      .timestamp
  }.min

  def load(spark: SparkSession, path: String): DataFrame =
    spark.read.format("graft.sources.TsdDataSource").load(path)

  /** channel -> (n, result) of one answer row of an `EtsdQueryApi` query. */
  def entry(r: Row): (String, (Long, Double)) = r.getString(0) -> ((r.getLong(1), r.getDouble(2)))

  /** The answer rows of an `EtsdQueryApi` query, by channel. */
  def answer(df: DataFrame): Map[String, (Long, Double)] = df.collect().map(entry).toMap

  /** The same answer from a whole-file decode of every file at `path`. */
  def oracle(path: String, verb: String, chan: Option[String], lo: Long,
             hi: Long): Map[String, (Long, Double)] = {
    val files =
      if (Files.isDirectory(Paths.get(path))) tsdFiles(path) else Seq(Paths.get(path))
    val kept = files.flatMap { f =>
      val (schema, samples) = EtsdDecoder.decodeFile(Files.readAllBytes(f))
      samples.collect {
        case s if !s.isRegister && s.value.isDefined && s.tsEpoch >= lo &&
            s.tsEpoch <= hi && chan.forall(_ == schema.channels(s.chan).name) =>
          (schema.channels(s.chan).name, s.value.get)
      }
    }
    kept.groupBy(_._1).map { case (c, vs) =>
      val v = vs.map(_._2)
      val r = verb match {
        case "min" => v.min.toDouble
        case "max" => v.max.toDouble
        case "ave" => v.sum.toDouble / v.size
        case _     => v.sum.toDouble
      }
      c -> ((v.size.toLong, r))
    }
  }

  /** The mixed store: a register counter whose odometer crosses 2^32, a
    * signed gauge and an unsigned gauge, each with invalid runs, at 10 s
    * cadence in 60 s blocks, 8 blocks per file. */
  val mixedSchema: EtsdSchema = EtsdSchema(Layout.sortChannels(Seq(
    ChannelConfig("Odo", StreamType.FullS, counter = true, register = true),
    ChannelConfig("Temp", StreamType.HalfS, signed = true),
    ChannelConfig("Amps", StreamType.HalfS))), intervalSec = 10,
    blockIntervals = 6)
  /** First sample: 130 s into a 480 s file span, so the first file is short. */
  val mixedT0 = 1700000160L + 130L
  val mixedIntervals = 320

  def mixedRows: Seq[(Long, String, Option[Long], Boolean)] =
    mixedRows(mixedT0, mixedIntervals, 10L)

  /** The mixed store's three channels over `n` intervals of `step` s from
    * `t0`. */
  def mixedRows(t0: Long, n: Int, step: Long): Seq[(Long, String, Option[Long], Boolean)] = {
    var odo = (1L << 32) - 9000L
    (0 until n).flatMap { k =>
      val te = t0 + step * k
      odo += (k * 37) % 211
      def ok(c: Int) = (k * 7 + c * 13) % 41 >= 3 // short invalid runs
      Seq(
        (te, "Odo", Some(odo), ok(0)),
        (te, "Temp", Some(((k * 29) % 201 - 100).toLong), ok(1)),
        (te, "Amps", Some(((k * 17) % 250).toLong), ok(2)))
    }
  }

  /** The mixed channels at 60 s cadence in 30-minute blocks, 128 blocks
    * per file: eight weeks is 2,689 blocks, within `TsdLocalScan.MaxBlocks`. */
  val longSchema: EtsdSchema = mixedSchema.copy(intervalSec = 60, blockIntervals = 30)
  val longSpan = 1800L
  private val longIntervals = 8 * 7 * 1440
  val longEnd: Long = mixedT0 + 60L * longIntervals
  /** [[longSchema]]'s store of [[mixedRows]]. Exported once per JVM. */
  lazy val longStore: String = exportStore(TestSpark.spark, longSchema,
    mixedRows(mixedT0, longIntervals, 60L), blocksPerFile = 128)

  /** One gauge at 60 s cadence in 240 s blocks, 256-block files on a
    * file-span grid from [[gaugeT0]]: the geometry of the routing and
    * cold-CLI stores. */
  val gaugeSchema: EtsdSchema = EtsdSchema(Seq(ChannelConfig("G", StreamType.HalfS)),
    intervalSec = 60, blockIntervals = 4)
  val gaugeSpan = 240L
  val gaugeFileSpan: Long = 256 * gaugeSpan
  val gaugeT0: Long = gaugeFileSpan * 27670L

  /** Files in [[overBound]]. */
  private val overBoundFiles = 18
  /** The end of [[overBound]]'s last block. */
  val overBoundEnd: Long = gaugeT0 + overBoundFiles * gaugeFileSpan

  /** A store over `TsdLocalScan.MaxBlocks`: the gauge in 18 full 256-block
    * files (4,608 blocks, 18,432 rows), every 11th sample invalid, so the
    * driver-local fold declines any window that keeps over 16 of its files.
    * Exported once per JVM. */
  lazy val overBound: String = exportStore(TestSpark.spark, gaugeSchema,
    (0 until overBoundFiles * 256 * 4).map(k =>
      (gaugeT0 + 60L * k, "G", Some((k % 200).toLong), k % 11 != 0)),
    blocksPerFile = 256)
}
