package graft.codec

import graft.model.StreamType

/** Signed ↔ offset-encoded unsigned at arbitrary bit width. The read path
  * defines the format (etsdRead.c:29-34: MSB set ⇒ value = -1-(raw-msb));
  * the reference's encoder has an `&`-for-`|` typo (etsdSave.c:129) that
  * would zero most negatives — we implement the decode's inverse. */
object SignedCodec {
  val Invalid: Long = 0xFFFFFFFFL

  /** Encode; returns [[Invalid]] when the value doesn't fit in `bits`. */
  def encode(bits: Int, v: Long): Long = {
    val msb = 1L << (bits - 1)
    val maxV = msb - 1
    if (v >= 0) { if (v > maxV) Invalid else v }
    else { if (-v > maxV) Invalid else msb | (-1L - v) }
  }

  def decode(bits: Int, raw: Long): Long = {
    val msb = 1L << (bits - 1)
    if ((raw & msb) != 0) -1L - (raw - msb) else raw
  }
}

/** Reads/writes single samples of every stream type into a 512-byte block.
  *
  * Wire values are the reference's unsigned stored representation; the
  * all-ones pattern at the channel's total width is the invalid sentinel
  * (etsd.h:77), and encode clamps out-of-range values to it exactly like
  * the save path (etsdSave.c:288-302 saveFS etc.). Ext bits are the two
  * bits above the base width (the save path's `data>>16` for 12/20-bit
  * types is a typo — read path and FS/HS/QS agree the shift is the base
  * width; we implement that intent).
  *
  * Composite 12/20-bit lane placement: the reference's parity-dependent
  * split (etsdSave.c:263-283) self-collides for even QS offsets (save4 at
  * QS and save8 at QS+1 address the same bytes) and under-addresses for
  * odd QS (save8's QS/2 truncation lands in the previous channel); flagged
  * "pete this needs to be tested" and unreachable in the author's configs.
  * We use the even-parity arrangement coherently: nibble lane at QS, byte
  * lane(s) at QS+1 (and QS+3), each lane occupying its own QS units.
  */
final class BlockCodec(val layout: Layout) {
  import StreamType._
  private val bi = layout.blockIntervals
  private val chans = layout.schema.channels

  // ---- lane primitives (region base of QS unit q = byte 8 + q*bi/2) ----

  private def base(q: Int): Int = 8 + q * bi / 2

  private def w16(buf: BlockBuffer, q: Int, i: Int, v: Int): Unit =
    buf.setData(3 + q / 4 * bi + i, v)
  private def r16(buf: BlockBuffer, q: Int, i: Int): Int =
    buf.data(3 + q / 4 * bi + i)

  private def w8(buf: BlockBuffer, q: Int, i: Int, v: Int): Unit =
    buf.setByteD(base(q) + i - 1, v)
  private def r8(buf: BlockBuffer, q: Int, i: Int): Int =
    buf.byteD(base(q) + i - 1)

  private def w4(buf: BlockBuffer, q: Int, i: Int, v: Int): Unit = {
    val a = base(q) + (i - 1) / 2
    val sh = (i & 1) * 4 // odd interval → high nibble (save4, etsdSave.c:212-216)
    buf.setByteD(a, (buf.byteD(a) & (0xF0 >>> sh)) | ((v & 15) << sh))
  }
  private def r4(buf: BlockBuffer, q: Int, i: Int): Int =
    (buf.byteD(base(q) + (i - 1) / 2) >>> ((i & 1) * 4)) & 15

  /** 2-bit extended region, byte addressing exactly as the (agreeing) save
    * and read paths compute it (etsdSave.c:193-204, etsdRead.c:38-49). */
  private def extAddr(extIdx: Int, i: Int): (Int, Int) = {
    val startP = layout.extStart + extIdx * bi / 4
    val pos = bi.toLong * extIdx + i - 1
    ((startP + (pos / 4).toInt), ((pos % 4) * 2).toInt)
  }
  def writeExt(buf: BlockBuffer, extIdx: Int, i: Int, v: Long): Unit = {
    val (a, sh) = extAddr(extIdx, i)
    buf.setByteD(a, (buf.byteD(a) & ~(3 << sh)) | ((v.toInt & 3) << sh))
  }
  def readExt(buf: BlockBuffer, extIdx: Int, i: Int): Int = {
    val (a, sh) = extAddr(extIdx, i)
    (buf.byteD(a) >>> sh) & 3
  }

  // ---- per-channel sample IO ----

  /** Clamp-to-sentinel like the save path, then write. `raw` is the wire
    * value (unsigned, possibly the 0xFFFFFFFF invalid marker). Intervals
    * are 1-based; interval 0 is the register slot. */
  def writeSample(buf: BlockBuffer, chan: Int, interV: Int, raw: Long): Unit = {
    val c = chans(chan); val a = layout.addr(chan); val t = c.streamType
    require(interV >= 1 && interV <= bi, s"interval $interV out of 1..$bi")
    val max = t.invalidSentinel // all-ones at total width; values ≥ max store as max
    val v = if (raw >= max || raw < 0) max else raw
    t match {
      case DontSave => ()
      case TwoBit   => writeExt(buf, a.extIdx, interV, v)
      case QuarterS => w4(buf, a.qs, interV, v.toInt)
      case ExtQuarter =>
        w4(buf, a.qs, interV, v.toInt); writeExt(buf, a.extIdx, interV, v >> 4)
      case HalfS => w8(buf, a.qs, interV, v.toInt)
      case ExtHalf =>
        w8(buf, a.qs, interV, v.toInt); writeExt(buf, a.extIdx, interV, v >> 8)
      case ShortS | ExtShort =>
        w4(buf, a.qs, interV, (v >> 8).toInt); w8(buf, a.qs + 1, interV, v.toInt)
        if (t == ExtShort) writeExt(buf, a.extIdx, interV, v >> 12)
      case FullS => w16(buf, a.qs, interV, v.toInt)
      case ExtFull =>
        w16(buf, a.qs, interV, v.toInt); writeExt(buf, a.extIdx, interV, v >> 16)
      case TwentyS | ExtTwenty =>
        w4(buf, a.qs, interV, (v >> 16).toInt); w8(buf, a.qs + 1, interV, v.toInt)
        w8(buf, a.qs + 3, interV, (v >> 8).toInt)
        if (t == ExtTwenty) writeExt(buf, a.extIdx, interV, v >> 20)
      case LargeS => // three byte lanes (save24, etsdSave.c:226-232)
        w8(buf, a.qs, interV, v.toInt); w8(buf, a.qs + 2, interV, (v >> 8).toInt)
        w8(buf, a.qs + 4, interV, (v >> 16).toInt)
      case DoubleS => // 32-bit, cannot be invalid (etsdSave.c:219-222)
        w16(buf, a.qs, interV, (raw & 0xFFFF).toInt)
        w16(buf, a.qs + 4, interV, ((raw >>> 16) & 0xFFFF).toInt)
      case AutoScale => writeAutoScale(buf, chan, interV, raw)
      case FloatS => // binary16 pattern in a FullS-shaped 16-bit lane;
        // the generic clamp above already maps >=0xFFFF to the sentinel,
        // and HalfFloat.bits never produces 0xFFFF from a valid double
        w16(buf, a.qs, interV, v.toInt)
    }
  }

  /** Read the wire value (base + ext bits combined). The all-ones sentinel
    * means invalid — callers map it to NULL. */
  def readSample(buf: BlockBuffer, chan: Int, interV: Int): Long = {
    val c = chans(chan); val a = layout.addr(chan); val t = c.streamType
    t match {
      case DontSave => t.invalidSentinel
      case TwoBit   => readExt(buf, a.extIdx, interV).toLong
      case QuarterS => r4(buf, a.qs, interV).toLong
      case ExtQuarter =>
        r4(buf, a.qs, interV).toLong | (readExt(buf, a.extIdx, interV).toLong << 4)
      case HalfS => r8(buf, a.qs, interV).toLong
      case ExtHalf =>
        r8(buf, a.qs, interV).toLong | (readExt(buf, a.extIdx, interV).toLong << 8)
      case ShortS | ExtShort =>
        val b = (r4(buf, a.qs, interV).toLong << 8) | r8(buf, a.qs + 1, interV)
        if (t == ExtShort) b | (readExt(buf, a.extIdx, interV).toLong << 12) else b
      case FullS => r16(buf, a.qs, interV).toLong
      case ExtFull =>
        r16(buf, a.qs, interV).toLong | (readExt(buf, a.extIdx, interV).toLong << 16)
      case TwentyS | ExtTwenty =>
        val b = (r4(buf, a.qs, interV).toLong << 16) |
          (r8(buf, a.qs + 3, interV).toLong << 8) | r8(buf, a.qs + 1, interV)
        if (t == ExtTwenty) b | (readExt(buf, a.extIdx, interV).toLong << 20) else b
      case LargeS =>
        r8(buf, a.qs, interV).toLong | (r8(buf, a.qs + 2, interV).toLong << 8) |
          (r8(buf, a.qs + 4, interV).toLong << 16)
      case DoubleS =>
        r16(buf, a.qs, interV).toLong | (r16(buf, a.qs + 4, interV).toLong << 16)
      case AutoScale => readAutoScale(buf, chan, interV)
      case FloatS => r16(buf, a.qs, interV).toLong
    }
  }

  // ---- autoscale (etsdSave.c:153-187, etsdRead.c:52-61) ----

  /** Per-block lossy 1/2/4/8× scaling on a 16-bit lane. Values up to
    * 524286 fit; growing the scale rescales already-written intervals of
    * this block. Invalid/oversize data leaves the slot all-ones. */
  private def writeAutoScale(buf: BlockBuffer, chan: Int, interV: Int, raw: Long): Unit = {
    val a = layout.addr(chan)
    if (raw >= 524287 || raw < 0) return // slot stays 0xFFFF (cleared block)
    var cur = (buf.scaling >>> (2 * a.ascIdx)) & 3
    val excessBits = (raw >> (16 + cur)).toInt
    if (excessBits != 0) {
      var grow = excessBits >> 1
      if (grow < 3) grow += 1
      if (cur + grow > 3) return // can't represent even at max scale
      var i = 1
      while (i < interV) { // retroactive in-block rescale of valid data
        val prev = r16(buf, a.qs, i)
        if (prev < 0xFFFF) w16(buf, a.qs, i, prev >>> grow)
        i += 1
      }
      cur += grow
      buf.setScaling(buf.scaling + (grow << (2 * a.ascIdx)))
    }
    var v = (raw >> cur).toInt
    if (v == 0xFFFF) v -= 1 // never store valid data as the sentinel
    w16(buf, a.qs, interV, v)
  }

  /** Decoded autoscale value = stored << scale; stored 0xFFFF = invalid.
    * (The reference reader adds the scale code as a pseudo-rounding term,
    * etsdRead.c:55 — a bug; the save path divides exactly.) */
  private def readAutoScale(buf: BlockBuffer, chan: Int, interV: Int): Long = {
    val a = layout.addr(chan)
    val cur = (buf.scaling >>> (2 * a.ascIdx)) & 3
    val v = r16(buf, a.qs, interV)
    if (v == 0xFFFF) 0xFFFFFFFFL else v.toLong << cur
  }

  /** Whether a wire value is this channel's invalid sentinel. */
  def isInvalid(chan: Int, wire: Long): Boolean = {
    val t = chans(chan).streamType
    t match {
      case DoubleS => false // 32-bit streams can't be invalid (etsdRead.c:125)
      case AutoScale => wire == 0xFFFFFFFFL
      case _ => wire == t.invalidSentinel
    }
  }

  // ---- registers & xData ----

  def writeRegister(buf: BlockBuffer, chan: Int, v: Long): Unit = {
    val reg = layout.addr(chan).regIdx
    require(reg > 0, s"channel $chan has no register")
    buf.setLongD(BlockBuffer.BlockSize / 4 - reg, v)
  }
  def readRegister(buf: BlockBuffer, chan: Int): Long = {
    val reg = layout.addr(chan).regIdx
    require(reg > 0, s"channel $chan has no register")
    buf.longD(BlockBuffer.BlockSize / 4 - reg)
  }

  def writeXData(buf: BlockBuffer, off: Int, b: Int): Unit = {
    require(off >= 0 && off < layout.schema.xDataSize, "xData offset")
    buf.setByteD(layout.xDataStart + off, b)
  }

  /** Fresh all-invalid block: data words 4..255 = 0xFFFF, scaling cleared,
    * timestamp + header echo stamped (etsdBlockClear/etsdBlockStart intent;
    * the reference's clear loop has an off-by-init bug, etsdSave.c:36). */
  def newBlock(tsEpoch: Long): BlockBuffer = {
    val buf = BlockBuffer()
    java.util.Arrays.fill(buf.bytes, 8, BlockBuffer.BlockSize, 0xFF.toByte)
    buf.setScaling(0)
    buf.setTimestamp(tsEpoch)
    buf.setData(2, layout.headerEcho)
    buf
  }
}
