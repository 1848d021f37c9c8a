package graft.queries

import java.time.Instant

import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.codec.GenDriven
import graft.operators.TimeSeriesOps

/** Exactness of the driver-local `EtsdQueryApi.query` answer: over random
  * windows of 0-6 blocks (empty, before the first and after the last
  * block included), every verb and every way of naming a channel, it must
  * equal both the distributed plan of the same query and a whole-file
  * decode — on a fresh, missing and stale sidecar and a single-file load. */
class DriverLocalQuerySpec extends AnyFunSuite with GenDriven {
  import LocalQueryStores._

  private lazy val spark = TestSpark.spark
  private lazy val store = exportStore(spark, mixedSchema, mixedRows, blocksPerFile = 8)

  private val span = mixedSchema.intervalSec.toLong * mixedSchema.blockIntervals
  private val tEnd = mixedT0 + 10L * mixedIntervals
  private val now = Instant.ofEpochSecond(tEnd + 3600L)

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
      val df = load(spark, path)
      val local = EtsdQueryApi.query(df, mixedSchema, args, now)
      val dist = EtsdQueryApi.queryDistributed(df, mixedSchema, args, now)
      assert(local.queryExecution.analyzed.isInstanceOf[LocalRelation],
        s"$args on $path must be answered on the driver")
      assert(local.schema == dist.schema)
      val want = oracle(path, TimeSeriesOps.amtVerb(verb), chan.map(resolved),
        lo, hi)
      val got = answer(local)
      assert(got == answer(dist), s"$args on $path: local vs distributed")
      assert(got == want, s"$args on $path: local vs whole-file decode")
    }

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
}
