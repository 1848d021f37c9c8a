package graft.queries

import java.time.Instant

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.TestSpark.jobsOf
import graft.model.EtsdSchema
import graft.sources.TsdLocalScan

/** Which `EtsdQueryApi.query` inputs are answered on the driver: a bare
  * `TsdDataSource` load whose selection the sidecar bounds to at most
  * `TsdLocalScan.MaxBlocks` blocks runs no Spark job at all, a week-long
  * window and the ordered collect of an all-channel answer included;
  * longer selections and every other input plan the DSv2 scan, and a
  * `begin` default adds no job to it. */
class QueryRoutingSpec extends AnyFunSuite {
  import LocalQueryStores._

  private lazy val spark = TestSpark.spark

  // the gauge store: 8 days is 2,880 blocks in 12 files; `overBound` holds
  // the selections the local fold declines
  private val schema = gaugeSchema
  private val span = gaugeSpan
  private val fileSpan = gaugeFileSpan
  private val t0 = gaugeT0
  private val days = 8
  private lazy val store = exportStore(spark, schema,
    (0 until days * 1440).map(k => (t0 + 60L * k, "G", Some((k % 200).toLong), true)),
    blocksPerFile = 256)
  private val now = Instant.ofEpochSecond(t0 + days * 86400L + 3600L)
  private val bigNow = Instant.ofEpochSecond(overBoundEnd + 3600L)

  private def args(lo: Long, hi: Long, chan: Boolean = true): Seq[String] =
    Seq("q=ave", s"s=${iso(lo)}", s"e=${iso(hi)}") ++ (if (chan) Seq("c=g") else Nil)

  private def scans(df: DataFrame): Int =
    df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }.size

  /** The CLI's action: ordered collect; returns (rows, jobs run). */
  private def askRows(df: DataFrame, a: Seq[String], at: Instant = now,
                      sch: EtsdSchema = schema): (Seq[Row], Int) = {
    var got = Seq.empty[Row]
    val jobs = jobsOf {
      got = EtsdQueryApi.query(df, sch, a, at).orderBy("channel").collect().toSeq
    }
    (got, jobs)
  }

  /** [[askRows]] as channel -> (n, result). */
  private def ask(df: DataFrame, a: Seq[String],
                  at: Instant = now): (Map[String, (Long, Double)], Int) = {
    val (rows, jobs) = askRows(df, a, at)
    (rows.map(entry).toMap, jobs)
  }

  test("point windows run no Spark job and plan a local table scan") {
    val df = load(spark, store)
    (1 to 3).foreach { b =>
      val lo = t0 + 5 * fileSpan + 17 * span
      val a = args(lo, lo + b * span - 1)
      val (got, jobs) = ask(df, a)
      assert(jobs == 0, s"$a ran $jobs jobs")
      assert(got == answer(EtsdQueryApi.queryDistributed(df, schema, a, now)))
      assert(got("G")._1 == 4 * b)
      val plan = EtsdQueryApi.query(df, schema, a, now).orderBy("channel")
        .queryExecution.executedPlan
      assert(plan.isInstanceOf[LocalTableScanExec], plan)
    }
  }

  test("the decision starts no probe job on a missing sidecar or one file") {
    val small = exportStore(spark, schema,
      (0 until 1440).map(k => (t0 + 60L * k, "G", Some((k % 7).toLong), k % 9 != 0)),
      blocksPerFile = 64)
    val lo = t0 + 100 * span
    Seq(withoutSidecar(small), withStaleEntry(small, 1),
        tsdFiles(small)(2).toString).foreach { path =>
      val (got, jobs) = ask(load(spark, path), args(lo + 3, lo + 2 * span))
      assert(jobs == 0, s"$path ran $jobs jobs")
      assert(got == oracle(path, "ave", Some("G"), lo + 3, lo + 2 * span))
    }
  }

  test("the block bound: 4,096 surviving blocks stay local, one file more does not") {
    val df = load(spark, overBound)
    val lo = t0 + fileSpan + 1 // the file before ends exactly at lo - 1
    assert(TsdLocalScan.MaxBlocks == 16 * 256)
    val last = t0 + 17 * fileSpan - 1 // the last second of file 16
    val within = args(lo, last, chan = false)
    assert(scans(EtsdQueryApi.query(df, schema, within, bigNow)) == 0)
    val (got, jobs) = ask(df, within, bigNow)
    assert(jobs == 0, s"$within ran $jobs jobs")
    assert(got == oracle(overBound, "ave", None, lo, last))
    val over = args(lo, last + 1, chan = false)
    val dist = EtsdQueryApi.query(df, schema, over, bigNow)
    assert(scans(dist) == 1)
    assert(answer(dist) == oracle(overBound, "ave", None, lo, last + 1))
  }

  test("a week-long window runs no job and plans a local table scan") {
    val df = load(spark, store)
    val lo = t0 + 86400L
    val a = args(lo, lo + 7 * 86400L)
    val plan = EtsdQueryApi.query(df, schema, a, now).orderBy("channel")
      .queryExecution.executedPlan
    assert(plan.isInstanceOf[LocalTableScanExec], plan)
    val (got, jobs) = ask(df, a)
    assert(jobs == 0, s"$a ran $jobs jobs")
    assert(got == oracle(store, "ave", Some("G"), lo, lo + 7 * 86400L))
  }

  test("an all-channel answer of the mixed store: its ordered collect runs no job") {
    // three channels, so the ordered collect sorts several local rows;
    // every gauge-store answer above is one row
    val df = load(spark, longStore)
    val at = Instant.ofEpochSecond(longEnd + 3600L)
    Seq((mixedT0 + 86400L, mixedT0 + 8 * 86400L),
        (mixedT0 - longSpan, longEnd + longSpan)).foreach { case (lo, hi) =>
      val a = Seq("q=tot", s"s=${iso(lo)}", s"e=${iso(hi)}")
      val plan = EtsdQueryApi.query(df, longSchema, a, at).orderBy("channel")
        .queryExecution.executedPlan
      assert(plan.isInstanceOf[LocalTableScanExec], plan)
      val (got, jobs) = askRows(df, a, at, longSchema)
      assert(jobs == 0, s"$a ran $jobs jobs")
      assert(got.map(_.getString(0)) == Seq("Amps", "Odo", "Temp"))
      assert(got == EtsdQueryApi.queryDistributed(df, longSchema, a, at)
        .orderBy("channel").collect().toSeq)
      assert(got.map(entry) == oracle(longStore, "tot", None, lo, hi).toSeq.sortBy(_._1))
    }
  }

  test("a window over MaxBlocks plans the DSv2 scan") {
    val df = load(spark, overBound)
    val lo = t0 + 86400L
    val a = args(lo, overBoundEnd)
    assert(scans(EtsdQueryApi.query(df, schema, a, bigNow)) == 1)
    val (got, jobs) = ask(df, a, bigNow)
    assert(jobs > 0)
    assert(got == oracle(overBound, "ave", Some("G"), lo, overBoundEnd))
  }

  test("a begin default runs no job beyond the distributed plan's") {
    // `begin` comes from the sidecar: the over-the-bound store's
    // begin..now query runs exactly the jobs of the same window written out
    val df = load(spark, overBound)
    val begin = firstBlockTs(tsdFiles(overBound))
    val (got, jobs) = ask(df, Seq("q=ave", "c=g"), bigNow)
    val (want, planJobs) = ask(df, args(begin, bigNow.getEpochSecond), bigNow)
    assert(planJobs > 0, "the window must be over the local bound")
    assert(got == want)
    assert(got == oracle(overBound, "ave", Some("G"), begin, bigNow.getEpochSecond))
    assert(jobs == planJobs, s"begin default: $jobs jobs, its window alone: $planJobs")
  }

  test("a begin default over an unindexed store runs one probe job") {
    // no sidecar and 4,608 blocks: `begin` is past the local bound, so it
    // comes from the load's probe job, whose entries the scan then plans
    // with; the probe job's call site is in TsdIndex
    val bare = withoutSidecar(overBound)
    val begin = firstBlockTs(tsdFiles(bare))
    var got = Map.empty[String, (Long, Double)]
    val probes = jobsOf(
      { got = answer(EtsdQueryApi.query(load(spark, bare), schema, Seq("q=ave", "c=g"),
          bigNow)) },
      _.stageInfos.exists(_.name.contains("TsdIndex.scala")))
    assert(probes == 1)
    assert(got == oracle(bare, "ave", Some("G"), begin, bigNow.getEpochSecond))
  }

  test("inputs other than a bare long load take the distributed path") {
    import spark.implicits._
    val lo = t0 + 3 * fileSpan + 9 * span
    val a = args(lo, lo + span - 1)
    val bare = load(spark, store)
    val filtered = bare.filter($"value" >= 0L)
    val fleet = spark.read.format("graft.sources.TsdDataSource")
      .option("stores", store).load()
    val xdata = spark.read.format("graft.sources.TsdDataSource")
      .option("xdata", "true").load(store)
    assert(TsdLocalScan.bareStore(bare).map(_.dir.toString).contains(store))
    assert(TsdLocalScan.bareStore(bare).get eq TsdLocalScan.bareStore(bare).get,
      "a load lists its store once")
    Seq(filtered, fleet, xdata, bare.select("ts", "channel", "value", "valid",
        "is_register")).foreach(df => assert(TsdLocalScan.bareStore(df).isEmpty))
    val want = oracle(store, "ave", Some("G"), lo, lo + span - 1)
    Seq(filtered, fleet).foreach { df =>
      val q = EtsdQueryApi.query(df, schema, a, now)
      assert(scans(q) == 1, q.queryExecution.sparkPlan)
      val (got, jobs) = ask(df, a)
      assert(jobs > 0 && got == want)
    }
  }
}
