package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.codec.{BlockBuffer, EtsdEncoder, Reading}
import graft.model.{ChannelConfig, EtsdSchema, StreamType}

/** Golden tests for the etsdCmd-shaped CLI verbs (examine/dump + header
  * schema load). The query verb's logic is covered by EtsdSourceSpec via
  * EtsdQueryApi; here we exercise only the CLI-specific plumbing. */
class EtsdCmdSpec extends AnyFunSuite {

  private val schema = EtsdSchema(Seq(
    ChannelConfig("Mains", StreamType.FullS, counter = true, register = true),
    ChannelConfig("AuxTemp", StreamType.HalfS, signed = true, sourceId = 1,
      sourceChan = 3)), intervalSec = 10, blockIntervals = 6)

  private def writeTsd(): String = {
    val enc = new EtsdEncoder(schema)
    (0 until 12).foreach { k =>
      enc.feed(1700000000L + k * 10L, IndexedSeq(Reading(100L + k), Reading(k)))
    }
    val dir = Files.createTempDirectory("cmd").toString
    Files.write(Paths.get(dir, "a.tsd"), enc.toFileBytes())
    dir
  }

  test("loadSchema round-trips the header block from disk") {
    val dir = writeTsd()
    assert(EtsdCmd.loadSchema(dir) == schema)
    assert(EtsdCmd.loadSchema(dir + "/a.tsd") == schema)
  }

  test("examine prints geometry and per-channel flags") {
    val dir = writeTsd()
    val size = Files.size(Paths.get(dir, "a.tsd"))
    val out = EtsdCmd.examine(EtsdCmd.loadSchema(dir), size)
    assert(out.contains("interval 10s, 6 intervals/block, 2 data blocks"))
    assert(out.contains("Mains"))
    assert(out.contains("CR")) // counter + register flags
    assert(out.contains("src1:3")) // AuxTemp source byte
    assert(out.contains("GS")) // gauge + signed
  }

  test("dumpSector renders header and data blocks with bounds checks") {
    val dir = writeTsd()
    val hdr = EtsdCmd.dumpSector(dir, 0)
    assert(hdr.startsWith("sector 0 (header)"))
    assert(hdr.contains("AuxTemp")) // label blob visible in ASCII column
    val blk = EtsdCmd.dumpSector(dir, 1)
    assert(blk.startsWith("sector 1 ts=1700000000 validIntervals=6"))
    assert(blk.linesIterator.size == 1 + BlockBuffer.BlockSize / 16)
    intercept[IllegalArgumentException](EtsdCmd.dumpSector(dir, 9))
  }

  test("interactive dump drives N/P/Q over a scripted stdin " +
      "(etsdCmd.c:511-546)") {
    val dir = writeTsd()
    def drive(keys: String): String = {
      val out = new java.lang.StringBuilder
      EtsdCmd.dumpInteractive(dir, 1,
        new java.io.BufferedReader(new java.io.StringReader(keys)), out)
      out.toString
    }
    // the prompt deliberately has no trailing newline (the reference's
    // inline getch prompt), so scan displays by pattern, not line starts
    val Head = "Block: #(\\d+) of (\\d+)".r
    def heads(s: String): Seq[(Int, Int)] =
      Head.findAllMatchIn(s).map(m => (m.group(1).toInt, m.group(2).toInt)).toSeq
    // N, P, Q: sectors 1 -> 2 -> 1, then quit
    val walked = drive("n\np\nq\n")
    val endSector = heads(walked).head._2
    assert(heads(walked).map(_._1) == Seq(1, 2, 1), heads(walked))
    assert(walked.contains("sector 2 ts="), "block dumps rendered")
    // unknown keys re-display the same sector; EOF quits like Q
    val idle = drive("x\n")
    assert(heads(idle).map(_._1) == Seq(1, 1), heads(idle))
    // stepping past the last sector clamps there and prints the notice
    val end = drive(Seq.fill(20)("n").mkString("\n") + "\nq\n")
    assert(end.contains("You have reached the end of the file"))
    assert(heads(end).last._1 == endSector, heads(end))
  }

  test("create reproduces the golden reference fixture's header schema") {
    // the exact spec the reference's own createETSD was driven with for
    // the golden fixture (INTERCHANGE.md: five 16-bit Full counters with
    // registers at source chans 5-9, one Half gauge at chan 11, u=1 T=2)
    val args = Seq("u=1", "T=2",
      "cnt1:8:E5:r", "cnt2:8:E6:r", "cnt3:8:E7:r", "cnt4:8:E8:r",
      "cnt5:8:E9:r", "volts:4:E11:G")
    val created = EtsdCmd.createSchema(args)
    val golden = EtsdCmd.loadSchema(
      getClass.getResource("/reference-written.tsd").getPath)
    assert(created == golden) // incl. derived blockIntervals = 44
    assert(EtsdCmd.createSummary(created).contains("intervals = 44"))
  }

  test("create -> examine -> append -> query round-trips") {
    val dir = Files.createTempDirectory("create").toString
    val f = s"$dir/new.tsd"
    val created = EtsdCmd.create(f, Seq("T=10s",
      "Mains:8:E1", "AuxTemp:4:E3:G:I"))
    // examine reads back what create wrote (header-only file: 0 blocks)
    val out = EtsdCmd.examine(EtsdCmd.loadSchema(f), Files.size(Paths.get(f)))
    assert(out.contains("interval 10s") && out.contains("0 data blocks"))
    assert(out.contains("Mains") && out.contains("CR"))
    assert(out.contains("AuxTemp") && out.contains("GS")) // gauge + signed
    // append data blocks through the encoder under the created schema,
    // then query through the CLI path (EtsdQueryApi over the DSv2 source)
    val enc = new EtsdEncoder(created)
    (0 until 12).foreach { k =>
      enc.feed(1700000000L + k * 10L,
        IndexedSeq(Reading(100L + 7L * k), Reading(k - 3L)))
    }
    val header = Files.readAllBytes(Paths.get(f))
    Files.write(Paths.get(f),
      header ++ enc.blocks().reduce(_ ++ _))
    val spark = TestSpark.spark
    // the same DSv2 path the CLI main drives (channel pushdown fires)
    val df = spark.read.format("graft.sources.TsdDataSource").load(f)
    val got = graft.queries.EtsdQueryApi.query(df, created,
        Seq("q=tot", "c=aux"), java.time.Instant.ofEpochSecond(1700010000L))
      .collect()
    assert(got.length == 1 && got(0).getString(0) == "AuxTemp")
    assert(got(0).getDouble(2) == (0 until 12).map(_ - 3).sum.toDouble)
  }

  test("rrdCreateString emits DS per EDO channel + the documented ladder") {
    val s = EtsdCmd.createSchema(Seq("T=10",
      "Mains:8:E1:r", "Volts:4:E11:G:r", "Hidden:4:E2:G"))
    val cmd = EtsdCmd.rrdCreateString(s, "/var/rrd/g.rrd")
    assert(cmd.startsWith("rrdtool create /var/rrd/g.rrd --step 10 "))
    assert(cmd.contains("DS:Mains:COUNTER:12:0:65534"))
    assert(cmd.contains("DS:Volts:GAUGE:12:0:254"))
    assert(!cmd.contains("Hidden")) // non-EDO channels are not mirrored
    assert(cmd.contains("RRA:LAST:0.8:1:8700") &&
      cmd.endsWith("RRA:AVERAGE:0.65:2160:1500"))
    // no EDO channels -> explicit error, like an empty DS list would be
    intercept[IllegalArgumentException](EtsdCmd.rrdCreateString(
      EtsdCmd.createSchema(Seq("Solo:8:E0")), "x.rrd"))
  }

  test("parseChannelSpec flag grammar matches createETSD") {
    val c = EtsdCmd.parseChannelSpec("Grid:9:E2:r:s")
    assert(c.counter && !c.register && c.edo && c.sourceChan == 2)
    val g = EtsdCmd.parseChannelSpec("Temp:5:M7:G:S:I")
    assert(!g.counter && g.register && g.signed && g.sourceId == 2 &&
      g.sourceChan == 7)
    // type 13 forces counter/register off even without G (etsdCmd.c:293-297)
    val d = EtsdCmd.parseChannelSpec("Wide:13:E0")
    assert(!d.counter && !d.register)
    intercept[IllegalArgumentException](EtsdCmd.parseChannelSpec("Bad:14:E0"))
    intercept[IllegalArgumentException](EtsdCmd.parseChannelSpec("Bad name:8"))
    assert(EtsdCmd.parseIntervalSec("5m") == 300 &&
      EtsdCmd.parseIntervalSec("1h") == 3600 &&
      EtsdCmd.parseIntervalSec("10s") == 10 &&
      EtsdCmd.parseIntervalSec("45") == 45)
  }

  test("main dispatches on first letter like etsdCmd.c:618-663") {
    val dir = writeTsd()
    EtsdCmd.main(Array("examine", dir)) // prints; must not throw
    EtsdCmd.main(Array("d", dir, "2"))
    intercept[IllegalArgumentException](EtsdCmd.main(Array("zap", dir)))
  }
}
