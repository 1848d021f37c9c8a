package graft.model

import org.apache.spark.sql.types._

/** Stream types of the reference engine (README.md:39-61,
  * `ECM-1240 storage format 2.txt:58-77`, type code in the low nibble of
  * the channel's destination byte, etsd.h:43-53). The code determines the
  * stored bits/sample; "extended" types carry 2 extra high bits in a
  * separate 2-bit-packed region (etsd.h:51, etsdSave.c:193-204).
  */
sealed abstract class StreamType(val code: Int, val bits: Int, val extBits: Int) {
  /** Total stored bits per sample. */
  def totalBits: Int = bits + extBits
  /** All-ones invalid sentinel at this width (etsd.h:77, etsdRead.c:56-59):
    * e.g. 0xFFFF for a Full stream. DoubleS (32-bit) cannot be invalid
    * (etsdRead.c:125-128). */
  def invalidSentinel: Long = (1L << totalBits) - 1
  /** Largest storable valid value (writers clamp below the sentinel,
    * etsdSave.c:178-181,296-299). */
  def maxValid: Long = if (code == 13) 0xFFFFFFFFL else invalidSentinel - 1
}

object StreamType {
  case object DontSave  extends StreamType(0, 0, 0)
  case object TwoBit    extends StreamType(1, 2, 0)
  case object QuarterS  extends StreamType(2, 4, 0)
  case object ExtQuarter extends StreamType(3, 4, 2)
  case object HalfS     extends StreamType(4, 8, 0)
  case object ExtHalf   extends StreamType(5, 8, 2)
  case object ShortS    extends StreamType(6, 12, 0)
  case object ExtShort  extends StreamType(7, 12, 2)
  case object FullS     extends StreamType(8, 16, 0)
  case object ExtFull   extends StreamType(9, 16, 2)
  case object TwentyS   extends StreamType(10, 20, 0)
  case object ExtTwenty extends StreamType(11, 20, 2)
  case object LargeS    extends StreamType(12, 24, 0)
  case object DoubleS   extends StreamType(13, 32, 0)
  // the reference RESERVES this one ("1/2 Precision float (16) — planned
  // but not yet implemented", README.md:45, etsdSave.c:410-412); we ship
  // it: a 16-bit lane carrying IEEE binary16 patterns (graft.functions
  // .HalfFloat converts), all-ones = the usual invalid sentinel (a NaN
  // pattern no valid conversion produces)
  case object FloatS    extends StreamType(14, 16, 0)
  case object AutoScale extends StreamType(15, 16, 0) // 16 bits, per-block 1/2/4/8x scale

  val all: Seq[StreamType] = Seq(DontSave, TwoBit, QuarterS, ExtQuarter, HalfS,
    ExtHalf, ShortS, ExtShort, FullS, ExtFull, TwentyS, ExtTwenty, LargeS,
    DoubleS, FloatS, AutoScale)

  def fromCode(c: Int): StreamType = all.find(_.code == c)
    .getOrElse(throw new IllegalArgumentException(s"bad stream type $c"))
}

/** Per-channel catalog entry — the Spark-side model of the reference's
  * source/destination byte pair + label (etsd.h:34-53, etsd.c:70-107).
  *
  * @param name      channel label, `[A-Za-z0-9_]{1,19}` (etsdCmd.c:38-50,171-179)
  * @param streamType storage width class
  * @param counter   true = monotonically increasing counter stored as deltas;
  *                  false = gauge stored absolute (README.md:20-21, CNT_BIT etsd.h:46)
  * @param register  save a 32-bit absolute snapshot once per block (REG_BIT)
  * @param signed    offset-encoded signed values (SIGNED bit, etsdSave.c:118-135)
  * @param edo       mirror to the external output plugin (EDO_BIT)
  * @param sourceId  source plugin 0-3 (etsd.h:34-37)
  * @param sourceChan channel number within the source plugin, 0-63
  */
final case class ChannelConfig(
    name: String,
    streamType: StreamType,
    counter: Boolean = false,
    register: Boolean = false,
    signed: Boolean = false,
    edo: Boolean = false,
    sourceId: Int = 0,
    sourceChan: Int = 0) {
  require(ChannelConfig.nameOk(name), s"bad channel name '$name'")
  // a FloatS lane carries IEEE binary16 PATTERNS: counter deltas and
  // offset-signed encoding are integer semantics that would corrupt them
  // (sign/exponent/mantissa fields are already part of the pattern)
  require(streamType != StreamType.FloatS || (!counter && !signed),
    "float streams are gauges; the binary16 pattern already carries sign")
  require(sourceId >= 0 && sourceId <= 3, "sourceId 0-3")
  require(sourceChan >= 0 && sourceChan <= 63, "sourceChan 0-63")

  /** destination byte: EDO|CNT|REG|SIGNED|type (etsd.h:43-53) */
  def destinationByte: Int =
    (if (edo) 0x80 else 0) | (if (counter) 0x40 else 0) |
    (if (register) 0x20 else 0) | (if (signed) 0x10 else 0) |
    streamType.code

  /** source byte: 2-bit plugin id + 6-bit source channel (etsd.h:34-37) */
  def sourceByte: Int = (sourceId << 6) | sourceChan
}

object ChannelConfig {
  private val NameRe = "^[A-Za-z0-9_]{1,19}$".r
  def nameOk(s: String): Boolean = NameRe.matches(s)

  def fromBytes(name: String, src: Int, dst: Int): ChannelConfig = ChannelConfig(
    name = name,
    streamType = StreamType.fromCode(dst & 0x0F),
    counter = (dst & 0x40) != 0,
    register = (dst & 0x20) != 0,
    signed = (dst & 0x10) != 0,
    edo = (dst & 0x80) != 0,
    sourceId = (src >> 6) & 0x3,
    sourceChan = src & 0x3F)
}

/** Whole-file schema — the Spark-side model of the reference's header
  * block (etsd.c:54-107, `ECM-1240 storage format 2.txt:44-56`). Schema is
  * immutable for the life of a file (etsdSave.c:80-99).
  *
  * @param channels       ordered channel catalog (order = storage order)
  * @param intervalSec    sampling period, 1-65535 s (etsd.c:62)
  * @param blockIntervals intervals per 512-byte block, 1-127
  * @param uid            user id echoed into each block header
  * @param xDataSize      opaque per-block extra-data bytes (etsd.h:102-103)
  */
final case class EtsdSchema(
    channels: Seq[ChannelConfig],
    intervalSec: Int,
    blockIntervals: Int,
    uid: Int = 0,
    xDataSize: Int = 0) {
  require(channels.nonEmpty && channels.size <= EtsdSchema.MaxChannels,
    s"1-${EtsdSchema.MaxChannels} channels")
  require(intervalSec >= 1 && intervalSec <= 0xFFFF, "interval 1-65535s")
  require(blockIntervals >= 1 && blockIntervals <= 127, "1-127 intervals/block")
  require(channels.map(_.name).distinct.size == channels.size, "dup channel names")

  def channel(name: String): Option[ChannelConfig] = {
    // case-insensitive substring match, first wins (etsdQuery.c:193-203)
    val q = name.toLowerCase
    channels.find(_.name.toLowerCase.contains(q))
  }
  def channelIndex(name: String): Option[Int] = {
    val q = name.toLowerCase
    val i = channels.indexWhere(_.name.toLowerCase.contains(q))
    if (i < 0) None else Some(i)
  }

  /** Long ("tidy") canonical Spark schema: scales to arbitrary channel
    * counts and 100 TB (SURVEY.md §1.5). */
  def longSchema: StructType = EtsdSchema.LongSchema
}

object EtsdSchema {
  val MaxChannels = 63 // etsd.h:57-60 for 512 B blocks

  /** Canonical long-format schema: one row per (ts, channel) sample. */
  val LongSchema: StructType = StructType(Seq(
    StructField("ts", TimestampType, nullable = false),
    StructField("channel", StringType, nullable = false),
    StructField("value", LongType, nullable = true),      // NULL = DATA_INVALID
    StructField("valid", BooleanType, nullable = false),
    StructField("is_register", BooleanType, nullable = false)))
}
