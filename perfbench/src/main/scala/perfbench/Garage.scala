package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.EtsdCmd
import graft.codec.BlockBuffer
import graft.model.EtsdSchema
import graft.sources.{EtsdSink, TsdIndex, TsdIndexEntry}

/** The seeded garage store the read workloads query: the ECM-1240
  * default database (8 mixed-width channels, 10 s cadence) created with
  * the CLI's own channel grammar, filled with sawtooth counters, a gauge,
  * invalid runs and a 32-bit counter rollover, and exported as an indexed
  * multi-file layout. */
object Garage {
  val CreateArgs: Seq[String] = Seq("u=1", "T=10s",
    "GarageMain:9:E1:r", "Servers:15:E2:r", "Fridge_Freezer:8:E5:r",
    "AC_Voltage:4:E11:G", "Water_Heater:8:E7:r", "TV_Entertainment:8:E6:r",
    "Evap_Solar:8:E8:r", "Mini_Split:8:E9:r")
  lazy val schema: EtsdSchema = EtsdCmd.createSchema(CreateArgs)

  val BaseEpoch = 1704067200L // 2024-01-01T00:00:00Z
  val IntervalSec = 10L

  /** Days of data in the read workloads' store. Each run exports it
    * three times, so its size is bounded by the run's time budget. */
  val Days = 14

  def blockSpanSec: Long = schema.blockIntervals * IntervalSec

  /** Per-channel counter parameters drawn from the seed: the sawtooth
    * period k, amplitude and phase of the increment `((j+phase) mod k)·amp`,
    * and the odometer's starting value. */
  final case class Counter(k: Int, amp: Long, phase: Int, base: Long)

  def counters(seed: Long): Map[String, Counter] = {
    val rng = new scala.util.Random(seed)
    schema.channels.filter(_.counter).map { c =>
      val k = 3 + rng.nextInt(10)
      // stay inside the channel's delta width: ExtFull holds 18 bits,
      // AutoScale grows its scale, Full holds 16 bits
      val amp = c.streamType.totalBits match {
        case 18 => 1000L + rng.nextInt(9000)
        case _ => 50L + rng.nextInt(3000)
      }
      val phase = rng.nextInt(k)
      // GarageMain's odometer crosses 2^32 about five days in
      val base =
        if (c.name == "GarageMain") (1L << 32) - amp * (k - 1) / 2 * 8640L * 5
        else rng.nextInt(1 << 20).toLong
      c.name -> Counter(k, amp, phase, base)
    }.toMap
  }

  /** Long frame `(ts, channel, value, valid)` of `days` days, counters
    * carrying the absolute odometer as the sink expects. */
  def longFrame(spark: SparkSession, seed: Long, days: Int): DataFrame = {
    val n = days * 86400L / IntervalSec
    val cs = counters(seed)
    def sawSum(e: String, k: Int): String = // Σ_{i=1..e} (i mod k)
      s"(($e) DIV $k) * ${k.toLong * (k - 1) / 2} + ((($e) % $k) * ((($e) % $k) + 1)) DIV 2"
    val chans = schema.channels.zipWithIndex.map { case (c, ci) =>
      val v = cs.get(c.name) match {
        case Some(p) => expr(s"${p.base}L + (${sawSum(s"j + ${p.phase}", p.k)} - " +
          s"${sawSum(s"${p.phase}", p.k)}) * ${p.amp}L")
        case None => lit(150L) + pmod(hash(lit(seed), lit(ci), expr("j DIV 30")), lit(40))
      }
      // invalid runs: ~4% of 200-interval windows lose 3..22 intervals
      val w = expr("j DIV 200")
      val bad = pmod(hash(lit(seed), lit(ci), w), lit(25)) === 0 &&
        (col("j") % 200) < pmod(hash(lit(seed), lit(ci), w, lit(1)), lit(20)) + 3
      struct(lit(c.name).as("channel"), v.cast("long").as("value"), (!bad).as("valid"))
    }
    spark.range(0, n).select(col("id").as("j"))
      .select(timestamp_seconds(lit(BaseEpoch) + col("j") * IntervalSec).as("ts"),
        explode(array(chans: _*)).as("c"))
      .select(col("ts"), col("c.channel").as("channel"),
        when(col("c.valid"), col("c.value")).as("value"), col("c.valid").as("valid"))
  }

  /** Export the store into `dir` (one file per 256 blocks plus the
    * `_graft_index` sidecar) and return the number of rows exported. */
  def build(spark: SparkSession, seed: Long, dir: String, days: Int = Days): Long = {
    val written = EtsdSink.exportIndexed(longFrame(spark, seed, days), schema, dir)
    require(written.nonEmpty, "export wrote no files")
    days * 86400L / IntervalSec * schema.channels.size
  }

  def tsdFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".tsd")).sortBy(_.getName)

  /** Bytes the store occupies: `.tsd` files plus the sidecar. */
  def storedBytes(dir: String): Long =
    tsdFiles(dir).map(_.length).sum + new File(dir, TsdIndex.FileName).length

  /** Re-stamp the first block of the `fileIdx`-th file `aheadSec` later,
    * as a device whose clock ran ahead would have, and record the file in
    * the sidecar as a sink writing those bytes would. Returns the file. */
  def stepClock(spark: SparkSession, dir: String, fileIdx: Int, aheadSec: Long): File = {
    val f = tsdFiles(dir)(fileIdx)
    val bytes = Files.readAllBytes(f.toPath)
    val bs = BlockBuffer.BlockSize
    val first = BlockBuffer(bytes.slice(bs, 2 * bs))
    first.setTimestamp(first.timestamp + aheadSec)
    System.arraycopy(first.bytes, 0, bytes, bs, bs)
    Files.write(f.toPath, bytes)
    // the local file system's checksum sidecar would reject the new bytes
    Files.deleteIfExists(Paths.get(dir, s".${f.getName}.crc"))
    val nBlocks = bytes.length / bs - 1L
    val last = BlockBuffer(bytes.slice(nBlocks.toInt * bs, (nBlocks.toInt + 1) * bs))
    TsdIndex.merge(spark, dir, Seq(TsdIndexEntry(f.getName, bytes.length.toLong, nBlocks,
      first.timestamp, last.timestamp, blockSpanSec, f.lastModified)))
    f
  }

  /** First and last block timestamps of a file, ignoring its first
    * block (the one [[stepClock]] re-stamps), plus one block span. */
  def fileSpan(f: File): (Long, Long) = {
    val bytes = Files.readAllBytes(f.toPath)
    val bs = BlockBuffer.BlockSize
    def ts(sector: Int) = BlockBuffer(bytes.slice(sector * bs, (sector + 1) * bs)).timestamp
    (ts(2), ts(bytes.length / bs - 1) + blockSpanSec)
  }

  /** Copy a store keeping modification times, so the sidecar stays fresh. */
  def copyStore(from: String, to: String): Unit = {
    Files.createDirectories(Paths.get(to))
    new File(from).listFiles().filter(_.isFile).foreach { f =>
      Files.copy(f.toPath, Paths.get(to, f.getName), StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  def deleteTree(path: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    fs.delete(p, true)
  }
}
