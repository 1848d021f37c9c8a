package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft._
import graft.TestSpark
import graft.model.StreamType

/** Golden interchange fixture: `reference-written.tsd` was produced by
  * the REFERENCE implementation itself (its `edd` daemon + `etsdSave.c`
  * save path driven by the srcSIM plugin for 99 intervals — methodology
  * and full analysis in INTERCHANGE.md). This spec pins our decode of a
  * file we did not write: schema from its header, per-channel sample
  * stats cross-checked against the reference's own `etsdCmd query`
  * min/max output, and the register contents that expose the
  * reference's stale-`data` register bug (edd.c:371-382, `//pete fix`).
  */
class GoldenInterchangeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val path = getClass.getResource("/reference-written.tsd").getPath
  private def tsd = spark.read.format("graft.sources.TsdDataSource")

  test("header schema decodes to the created channel catalog") {
    val schema = graft.EtsdCmd.loadSchema(path)
    assert(schema.channels.map(_.name) ==
      Seq("cnt1", "cnt2", "cnt3", "cnt4", "cnt5", "volts"))
    assert(schema.channels.take(5).forall(c =>
      c.counter && c.register && c.streamType == StreamType.FullS))
    val volts = schema.channels.last
    assert(!volts.counter && !volts.register &&
      volts.streamType == StreamType.HalfS)
    assert(schema.intervalSec == 2 && schema.blockIntervals == 44)
    assert(schema.uid == 1)
  }

  test("sample stats match the reference CLI's own min/max answers") {
    import spark.implicits._
    val df = tsd.load(path).cache()
    val stats = df.filter(!$"is_register" && $"valid")
      .groupBy($"channel")
      .agg(org.apache.spark.sql.functions.count($"value").as("n"),
        org.apache.spark.sql.functions.sum($"value").as("tot"),
        org.apache.spark.sql.functions.min($"value").as("vmin"),
        org.apache.spark.sql.functions.max($"value").as("vmax"))
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    // (n, tot, min, max); min/max verified against `etsdCmd query`
    assert(stats("cnt1") == ((99L, 956L, 0L, 20L)))
    assert(stats("cnt2") == ((99L, 1960L, 0L, 40L)))
    assert(stats("cnt3") == ((99L, 3023L, 0L, 60L)))
    assert(stats("cnt4") == ((99L, 4113L, 0L, 80L)))
    assert(stats("cnt5") == ((99L, 5950L, 2L, 100L)))
    assert(stats("volts") == ((99L, 16379L, 120L, 199L)))
  }

  test("registers expose the reference's stale-data bug verbatim") {
    import spark.implicits._
    val regs = tsd.load(path).filter($"is_register")
      .select($"channel", $"value").as[(String, Long)].collect()
    assert(regs.length == 15) // 3 blocks x 5 counter registers
    // every register in a block carries the SAME value — the last-read
    // channel's volts reading, not the channel's odometer (edd.c bug)
    val byValue = regs.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byValue == Map(0L -> 5, 192L -> 5, 121L -> 5))
  }

  test("block index: 3 wall-clock-stamped blocks, last one short") {
    val idx = tsd.option("xdata", "true").load(path)
      .select("sector", "block_epoch", "valid_intervals")
      .orderBy("sector").collect()
    assert(idx.map(_.getLong(0)).toSeq == Seq(1, 2, 3))
    val ts = idx.map(_.getLong(1))
    // 44 s, not 88: the reference daemon sleeps `intervalTime -
    // checkTime/2` (edd.c:300-311) = 1 s here, so its real cadence was
    // half the header's 2 s interval — timestamps record wall clock
    assert(ts(1) - ts(0) == 44 && ts(2) - ts(1) == 44)
    assert(idx.map(_.getInt(2)).toSeq == Seq(44, 44, 11)) // last short
  }
}
