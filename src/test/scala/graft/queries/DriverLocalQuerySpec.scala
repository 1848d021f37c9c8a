package graft.queries

import java.time.Instant

import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.{EtsdCmd, TestSpark}
import graft.codec.GenDriven
import graft.model.EtsdSchema
import graft.operators.TimeSeriesOps
import graft.sources.{HadoopConfs, TsdIndex, TsdLocalScan}

/** Exactness of the driver-local `EtsdQueryApi.query` answer: over random
  * windows of 0-6 blocks (empty, before the first and after the last
  * block included), every verb and every way of naming a channel, it must
  * equal both the distributed plan of the same query and a whole-file
  * decode — on a fresh, missing and stale sidecar and a single-file load —
  * and so must it over windows of a week up to the full span of a store
  * of a few thousand blocks. The cold CLI's lines, from the Spark-free
  * core with no session, must print those same answers, `begin` defaults
  * included. */
class DriverLocalQuerySpec extends AnyFunSuite with GenDriven {
  import LocalQueryStores._

  private lazy val spark = TestSpark.spark
  private lazy val store = exportStore(spark, mixedSchema, mixedRows, blocksPerFile = 8)

  private val span = mixedSchema.intervalSec.toLong * mixedSchema.blockIntervals
  private val tEnd = mixedT0 + 10L * mixedIntervals
  private val now = Instant.ofEpochSecond(tEnd + 3600L)

  // the mixed channels at 60 s cadence in 30-minute blocks, 128 blocks per
  // file: eight weeks is 2,689 blocks
  private val longSchema = mixedSchema.copy(intervalSec = 60, blockIntervals = 30)
  private val longSpan = 1800L
  private val longIntervals = 8 * 7 * 1440
  private val longEnd = mixedT0 + 60L * longIntervals
  private val longNow = Instant.ofEpochSecond(longEnd + 3600L)
  private lazy val longStore = exportStore(spark, longSchema,
    mixedRows(mixedT0, longIntervals, 60L), blocksPerFile = 128)

  /** (verb spelling, channel argument, start, end). */
  private val genQuery: Gen[(String, Option[String], Long, Long)] = for {
    verb <- Gen.oneOf("tot", "total", "ave", "average", "min", "minimum",
      "max", "maximum")
    chan <- Gen.oneOf(None, Some("Temp"), Some("odo"), Some("AMPS"),
      Some("0"), Some("1"), Some("2"))
    blocks <- Gen.choose(0, 6)
    start <- Gen.oneOf(
      Gen.choose(mixedT0 - 4 * span, tEnd + 2 * span),
      // straddle a file boundary (files span 8 blocks on a 480 s grid)
      Gen.choose(1, 5).flatMap(f =>
        Gen.choose(0L, 3 * span).map(d => 1700000160L + 480L * f - d)))
  } yield (verb, chan, start, start + blocks * span - 1)

  private def check(path: String, n: Int): Unit =
    forAll(genQuery, n) { case (verb, chan, lo, hi) =>
      val args = Seq(s"q=$verb", s"s=${iso(lo)}",
        if (hi % 2 == 0) s"e=${iso(hi)}" else s"e=now-${now.getEpochSecond - hi}s") ++
        chan.map("c=" + _)
      agree(path, args, verb, chan, lo, hi)
    }

  /** `args` on `path`: the in-process local answer, the distributed plan,
    * the cold CLI's printed lines and the whole-file decode of `[lo, hi]`
    * all agree. */
  private def agree(path: String, args: Seq[String], verb: String,
                    chan: Option[String], lo: Long, hi: Long,
                    schema: EtsdSchema = mixedSchema, at: Instant = now): Unit = {
    val df = load(spark, path)
    val local = EtsdQueryApi.query(df, schema, args, at)
    val dist = EtsdQueryApi.queryDistributed(df, schema, args, at)
    assert(local.queryExecution.analyzed.isInstanceOf[LocalRelation],
      s"$args on $path must be answered on the driver")
    assert(local.schema == dist.schema)
    val want = oracle(path, TimeSeriesOps.amtVerb(verb), chan.map(resolved),
      lo, hi)
    val got = answer(local)
    assert(got == answer(dist), s"$args on $path: local vs distributed")
    assert(got == want, s"$args on $path: local vs whole-file decode")
    assert(cliLines(path, args, at) == lines(answer(dist)),
      s"$args on $path: CLI lines vs distributed")
  }

  /** The cold CLI's stdout for `args`, from the answer core alone. */
  private def cliLines(path: String, args: Seq[String], at: Instant): Seq[String] = {
    val conf = HadoopConfs.standalone()
    val rows = EtsdQueryApi.answer(conf, EtsdCmd.openStore(path, conf), args, at)
    assert(rows.isDefined, s"$args on $path must need no session")
    rows.get.map { case (c, n, r) => EtsdCmd.queryLine(c, n, r) }
  }

  private def lines(a: Map[String, (Long, Double)]): Seq[String] =
    a.toSeq.sortBy(_._1).map { case (c, (n, r)) => EtsdCmd.queryLine(c, n, r) }

  /** Channel argument -> schema name, as the CLI resolves it. */
  private def resolved(c: String): String =
    if (c.forall(_.isDigit)) mixedSchema.channels(c.toInt).name
    else mixedSchema.channel(c).get.name

  test("the store has the shapes the property needs") {
    val files = tsdFiles(store)
    assert(files.size >= 6, "windows must be able to cross file boundaries")
    val all = oracle(store, "tot", None, Long.MinValue, Long.MaxValue)
    assert(all.keySet == Set("Odo", "Temp", "Amps"))
    assert(mixedRows.exists(r => r._2 == "Odo" && r._3.get < (1L << 32)) &&
      mixedRows.exists(r => r._2 == "Odo" && r._3.get > (1L << 32)),
      "the odometer crosses 2^32")
    val invalid = files.flatMap(f => graft.codec.EtsdDecoder.decodeFile(
        java.nio.file.Files.readAllBytes(f))._2)
      .filter(s => !s.isRegister && s.value.isEmpty).map(_.chan).toSet
    assert(invalid == mixedSchema.channels.indices.toSet,
      "every channel stores invalid intervals")
    assert(oracle(store, "min", Some("Temp"), Long.MinValue, Long.MaxValue)
      .apply("Temp")._2 < 0, "signed gauge")
  }

  test("fresh sidecar: local == distributed == whole-file decode") {
    check(store, 40)
  }

  test("missing sidecar: local == distributed == whole-file decode") {
    check(withoutSidecar(store), 25)
  }

  test("stale sidecar entry: local == distributed == whole-file decode") {
    check(withStaleEntry(store, 2), 25)
  }

  test("single-file load: local == distributed == whole-file decode") {
    check(tsdFiles(store)(1).toString, 25)
  }

  test("begin defaults: resolved in the core on a store within MaxBlocks") {
    Seq(store, withoutSidecar(store), tsdFiles(store)(1).toString).foreach { path =>
      // `min(ts)` over every row: registers and invalid samples count
      val files =
        if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(path))) tsdFiles(path)
        else Seq(java.nio.file.Paths.get(path))
      val begin = files.flatMap(f => graft.codec.EtsdDecoder.decodeFile(
        java.nio.file.Files.readAllBytes(f))._2).map(_.tsEpoch).min
      Seq(
        (Seq("q=tot"), begin, now.getEpochSecond),
        (Seq("q=ave", "c=temp", "e=begin+25m"), begin, begin + 1500L),
        (Seq("q=max", "s=begin+7m", s"e=${iso(begin + 3600L)}"),
          begin + 420L, begin + 3600L),
        (Seq("q=min", "c=1", "s=begin-1h", "e=begin+90s"),
          begin - 3600L, begin + 90L)
      ).foreach { case (args, lo, hi) =>
        val verb = args.head.stripPrefix("q=")
        val chan = args.find(_.startsWith("c=")).map(_.stripPrefix("c="))
        agree(path, args, verb, chan, lo, hi)
      }
    }
  }

  test("no channel sum of a local fold can overflow") {
    // MaxBlocks blocks of <= 127 intervals, each sample <= 32 bits wide
    assert(BigInt(TsdLocalScan.MaxBlocks) * 127 * (1L << 32) < (BigInt(1) << 53))
  }

  test("long windows: local == distributed == CLI == whole-file decode") {
    val blocks = tsdFiles(longStore).map(f => TsdIndex.dataBlocks(java.nio.file.Files.size(f))).sum
    assert(blocks > 2000 && blocks <= TsdLocalScan.MaxBlocks, s"$blocks blocks")
    val genWindow = for {
      verb <- Gen.oneOf("tot", "ave", "min", "max")
      len <- Gen.choose(7 * 86400L, longEnd - mixedT0 + 2 * longSpan)
      lo <- Gen.choose(mixedT0 - 2 * longSpan, longEnd + 2 * longSpan - len)
    } yield (verb, lo, lo + len)
    val full = ("tot", mixedT0 - longSpan, longEnd + longSpan)
    val windows = full +: (0 until 8).map(i => sample(genWindow, 7L * i + 1))
    windows.zipWithIndex.foreach { case ((verb, lo, hi), i) =>
      // all channels, then one, named each way in turn
      Seq(None, Some(Seq("Temp", "odo", "2")(i % 3))).foreach { chan =>
        val args = Seq(s"q=$verb", s"s=${iso(lo)}", s"e=${iso(hi)}") ++ chan.map("c=" + _)
        agree(longStore, args, verb, chan, lo, hi, longSchema, longNow)
      }
    }
  }
}
