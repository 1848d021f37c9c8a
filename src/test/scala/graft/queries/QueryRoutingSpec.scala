package graft.queries

import java.time.Instant
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.{ChannelConfig, EtsdSchema, StreamType}
import graft.sources.TsdLocalScan

/** Which `EtsdQueryApi.query` inputs are answered on the driver: a bare
  * `TsdDataSource` load whose selection the sidecar bounds to at most
  * `TsdLocalScan.MaxBlocks` blocks runs no Spark job at all; longer
  * windows and every other input plan the DSv2 scan. */
class QueryRoutingSpec extends AnyFunSuite {
  import LocalQueryStores._

  private lazy val spark = TestSpark.spark

  // one gauge, 60 s cadence, 240 s blocks, 256-block files on a file-span
  // grid: 8 days is 2,880 blocks in 12 files
  private val schema = EtsdSchema(Seq(ChannelConfig("G", StreamType.HalfS)),
    intervalSec = 60, blockIntervals = 4)
  private val span = 240L
  private val fileSpan = 256 * span
  private val t0 = fileSpan * 27670L
  private val days = 8
  private lazy val store = exportStore(spark, schema,
    (0 until days * 1440).map(k => (t0 + 60L * k, "G", Some((k % 200).toLong), true)),
    blocksPerFile = 256)
  private val now = Instant.ofEpochSecond(t0 + days * 86400L + 3600L)

  private def args(lo: Long, hi: Long, chan: Boolean = true): Seq[String] =
    Seq("q=ave", s"s=${iso(lo)}", s"e=${iso(hi)}") ++ (if (chan) Seq("c=g") else Nil)

  /** Spark jobs started while `f` runs. */
  private def jobsOf(f: => Unit): Int = {
    val jobs = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      f
      org.apache.spark.graftbridge.ListenerBridge
        .waitUntilEmpty(spark.sparkContext, 10000L)
    } finally spark.sparkContext.removeSparkListener(l)
    jobs.get()
  }

  private def scans(df: DataFrame): Int =
    df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }.size

  /** The CLI's action: ordered collect; returns (answer, jobs run). */
  private def ask(df: DataFrame, a: Seq[String]): (Map[String, (Long, Double)], Int) = {
    var got = Map.empty[String, (Long, Double)]
    val jobs = jobsOf {
      got = answer(EtsdQueryApi.query(df, schema, a, now).orderBy("channel"))
    }
    (got, jobs)
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

  test("the block bound: 1,024 surviving blocks stay local, one file more does not") {
    val df = load(spark, store)
    val lo = t0 + fileSpan + 1 // the file before ends exactly at lo - 1
    val four = args(lo, t0 + 5 * fileSpan - 1, chan = false)
    assert(TsdLocalScan.MaxBlocks == 4 * 256)
    assert(scans(EtsdQueryApi.query(df, schema, four, now)) == 0)
    val five = args(lo, t0 + 5 * fileSpan, chan = false)
    val dist = EtsdQueryApi.query(df, schema, five, now)
    assert(scans(dist) == 1)
    assert(answer(dist) == oracle(store, "ave", None, lo, t0 + 5 * fileSpan))
  }

  test("a week-long window still plans the DSv2 scan") {
    val df = load(spark, store)
    val lo = t0 + 86400L
    val a = args(lo, lo + 7 * 86400L)
    val q = EtsdQueryApi.query(df, schema, a, now)
    assert(scans(q) == 1)
    val (got, jobs) = ask(df, a)
    assert(jobs > 0)
    assert(got == oracle(store, "ave", Some("G"), lo, lo + 7 * 86400L))
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
    assert(TsdLocalScan.barePath(bare).contains(store))
    Seq(filtered, fleet, xdata, bare.select("ts", "channel", "value", "valid",
        "is_register")).foreach(df => assert(TsdLocalScan.barePath(df).isEmpty))
    val want = oracle(store, "ave", Some("G"), lo, lo + span - 1)
    Seq(filtered, fleet).foreach { df =>
      val q = EtsdQueryApi.query(df, schema, a, now)
      assert(scans(q) == 1, q.queryExecution.sparkPlan)
      val (got, jobs) = ask(df, a)
      assert(jobs > 0 && got == want)
    }
  }
}
