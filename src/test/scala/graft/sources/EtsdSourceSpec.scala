package graft.sources

import java.nio.file.{Files, Paths}
import java.time.Instant

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.timestamp_seconds
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.codec.{EtsdDecoder, EtsdEncoder, Reading}
import graft.model.{ChannelConfig, EtsdSchema, StreamType}
import graft.queries.EtsdQueryApi

/** End-to-end: encode a deterministic series into a real .tsd file, read
  * it back through the DSv2 scan (checked against the codec's whole-file
  * decode), and drive the etsdCmd-style query API over it with
  * verb/time/channel strings. */
class EtsdSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // 2 channels: a counter odometer with register, a signed gauge
  private val schema = EtsdSchema(Seq(
    ChannelConfig("OdoMain", StreamType.FullS, counter = true, register = true),
    ChannelConfig("TempC", StreamType.HalfS, signed = true)), intervalSec = 10,
    blockIntervals = 6)
  private val t0 = 1700000000L
  private val n = 15

  private def tsdPath: String = {
    val enc = new EtsdEncoder(schema)
    (0 until n).foreach { k =>
      enc.feed(t0 + k * 10L,
        IndexedSeq(Reading(1000L + 7L * k), Reading(if (k % 2 == 0) -5 else 20)))
    }
    val dir = Files.createTempDirectory("tsd").toString
    Files.write(Paths.get(dir, "test.tsd"), enc.toFileBytes())
    dir
  }

  private def load(path: String): DataFrame =
    spark.read.format("graft.sources.TsdDataSource").load(path)

  /** The codec's whole-file decode of the store's one file, as the long
    * frame: the oracle the scan is checked against. */
  private def decoded(dir: String): DataFrame = {
    import spark.implicits._
    val (s, samples) = EtsdDecoder.decodeFile(
      Files.readAllBytes(Paths.get(dir, "test.tsd")))
    samples.map(x => (x.tsEpoch, s.channels(x.chan).name, x.value,
        x.value.isDefined, x.isRegister))
      .toDF("te", "channel", "value", "valid", "is_register")
      .select(timestamp_seconds($"te").as("ts"), $"channel", $"value",
        $"valid", $"is_register")
  }

  test("the DSv2 scan decodes a .tsd file into the long DataFrame") {
    val df = load(tsdPath).cache()
    assert(df.columns.toSeq == Seq("ts", "channel", "value", "valid", "is_register"))
    val odo = df.filter("channel = 'OdoMain' AND NOT is_register")
      .orderBy("ts").collect()
    assert(odo.length == n)
    assert(odo.head.isNullAt(2))           // first counter sample: no baseline
    assert(odo.tail.forall(_.getLong(2) == 7L)) // constant delta
    val temp = df.filter("channel = 'TempC' AND NOT is_register")
      .orderBy("ts").collect()
    assert(temp.map(_.getLong(2)).toSeq ==
      (0 until n).map(k => if (k % 2 == 0) -5L else 20L)) // signed round-trip
    val regs = df.filter("is_register").orderBy("ts").collect()
    assert(regs.length == 3) // one per block, all OdoMain
    assert(regs.map(r => r.isNullAt(2)).toSeq == Seq(true, false, false))
  }

  test("EtsdQueryApi: verb substring, channel substring, time literals") {
    val df = load(tsdPath)
    val now = Instant.ofEpochSecond(t0 + n * 10L)

    def one(args: String*): (Long, Double) = {
      val r = EtsdQueryApi.query(df, schema, args, now).collect()
      assert(r.length == 1)
      (r(0).getLong(1), r(0).getDouble(2))
    }
    // q=maximum matched by substring; channel 'temp' resolves TempC
    assert(one("q=maximum", "c=temp") == ((n, 20.0)))
    // channel by NUMBER, like the reference CLI (etsdCmd.c:429-438)
    assert(one("q=maximum", "c=1") == ((n, 20.0)))
    intercept[IllegalArgumentException](one("q=max", "c=9"))
    assert(one("q=MINI", "c=temp") == ((n, -5.0)))
    // counter totals are sums of deltas; first sample is invalid -> n-1 rows
    assert(one("q=tot", "c=odo") == ((n - 1, 7.0 * (n - 1))))
    // relative range: samples land at t0+10k, so [now-40, now] holds 5
    assert(one("q=tot", "c=odo", "s=now-40s") == ((5, 35.0)))
    // begin keyword (= first stored row, the block-1 register at t0) + offset
    assert(one("q=tot", "c=odo", "s=begin+100s", "e=now") == ((6, 42.0)))
    // default start = begin, default end = now
    assert(one("q=ave", "c=temp")._2 == (8 * -5.0 + 7 * 20.0) / 15)
  }

  test("the xdata table is the per-sector time index (etsdTimeS)") {
    val idx = spark.read.format("graft.sources.TsdDataSource")
      .option("xdata", "true").load(tsdPath)
      .select("sector", "block_epoch", "valid_intervals", "xdata")
      .orderBy("sector").collect()
    assert(idx.map(_.getLong(0)).toSeq == Seq(1, 2, 3))
    assert(idx.map(_.getLong(1)).toSeq == Seq(t0, t0 + 60L, t0 + 120L))
    assert(idx.map(_.getInt(2)).toSeq == Seq(6, 6, 3)) // last block short
    assert(idx.forall(_.getAs[Array[Byte]](3).isEmpty)) // no xData region
  }

  test("EtsdQueryApi reports an empty file instead of an opaque NPE") {
    import spark.implicits._
    val empty = Seq.empty[(java.sql.Timestamp, String, Option[Long], Boolean, Boolean)]
      .toDF("ts", "channel", "value", "valid", "is_register")
    val e = intercept[IllegalArgumentException] {
      EtsdQueryApi.query(empty, schema, Seq("q=tot"),
        Instant.ofEpochSecond(t0)).collect()
    }
    assert(e.getMessage.contains("no data"))
  }

  test("EtsdQueryApi rejects unknown channels and bad args") {
    val df = load(tsdPath)
    val now = Instant.ofEpochSecond(t0)
    intercept[IllegalArgumentException](
      EtsdQueryApi.query(df, schema, Seq("c=nope"), now))
    intercept[IllegalArgumentException](
      EtsdQueryApi.query(df, schema, Seq("zz"), now))
  }

  test("DSv2 reader: same rows as decodeFile, ts range pushed to block pruning") {
    import spark.implicits._
    val dir = tsdPath
    val v2 = load(dir)
    val v1 = decoded(dir)
    // identical multisets of rows
    assert(v2.count() == v1.count())
    assert(v2.exceptAll(v1).isEmpty && v1.exceptAll(v2).isEmpty)

    // a ts range filter reaches the scan (etsdFindBlock analog) and the
    // residual filter still applies exactly
    val cutoff = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(t0 + 100))
    val filtered = v2.filter($"ts" > cutoff && !$"is_register")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("tsRange=[" + (t0 + 100)), s"no pushdown in:\n$plan")
    assert(filtered.count() ==
      v1.filter($"ts" > cutoff && !$"is_register").count())

    // block-level pruning: a range beyond the file returns nothing
    val far = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(t0 + 999999))
    assert(v2.filter($"ts" > far).isEmpty)
  }

  test("DSv2 reader splits one file into sector-range partitions") {
    // the scan's packing with a 1-block budget: 3 blocks -> 3 partitions,
    // which the scan's reader factory reads back to the whole decode
    val dir = tsdPath
    val conf = spark.sessionState.newHadoopConf()
    val store = TsdIndex.listStore(new Path(dir).getFileSystem(conf), new Path(dir))
    val parts = TsdPacking.pack(store.select(Long.MinValue, Long.MaxValue, Nil), 1L,
      TsdPacking.OpenCostBlocks, 1, Long.MinValue, Long.MaxValue, None, None)
    assert(parts.length == 3)
    val factory = new TsdReaderFactory(HadoopConfs.props(spark), xdata = false)
    val rows = parts.map { p =>
      val r = factory.createReader(p)
      try Iterator.continually(r.next()).takeWhile(identity).size finally r.close()
    }
    assert(rows.forall(_ > 0))
    assert(rows.sum == decoded(dir).count())
  }

  test("DSv2 channel pushdown: decode skips non-selected channels") {
    import spark.implicits._
    val dir = tsdPath
    val v2 = spark.read.format("graft.sources.TsdDataSource").load(dir)
    // equality and IN forms both reach the scan builder
    val one = v2.filter($"channel" === "TempC")
    val scanDesc = one.queryExecution.executedPlan.toString
    assert(scanDesc.contains("chans=TempC"), scanDesc)
    // pruned read == full read filtered (decode skip is value-invisible)
    val full = spark.read.format("graft.sources.TsdDataSource").load(dir)
      .collect().filter(_.getString(1) == "TempC")
    assert(one.collect().toSet == full.toSet)
    val both = v2.filter($"channel".isin("TempC", "OdoMain", "NoSuchChan"))
    assert(both.count() == v2.count()) // the two real channels = everything
    assert(v2.filter($"channel" === "NoSuchChan").isEmpty)
  }

  test("DSv2 column pruning reaches the scan, down to zero columns") {
    import spark.implicits._
    // pruning lands in V2ScanRelationPushDown (optimizer), so assert on
    // the optimized plan's scan relation — visible even when AQE wraps
    // the physical plan (aggregates)
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources
            .v2.DataSourceV2ScanRelation => r
      }.head
    val v2 = spark.read.format("graft.sources.TsdDataSource").load(tsdPath)
    // a 2-column projection must not read the other 3 (the scan's own
    // output schema IS the ReadSchema `.explain` shows)
    val two = v2.select($"channel", $"value")
    assert(scanOf(two).output.map(_.name) == Seq("channel", "value"))
    assert(two.collect().map(_.toString).sorted.toSeq ==
      v2.collect().map(r => s"[${r.get(1)},${r.get(2)}]").sorted.toSeq)
    // count(*) prunes to ZERO columns — rows still counted exactly
    val none = v2.groupBy().count()
    assert(scanOf(none).output.isEmpty, "count(*) must read no columns")
    assert(none.head().getLong(0) == v2.collect().length.toLong)
    // fleet mode: store_id-only rollup reads just the constant column
    val root = java.nio.file.Files.createTempDirectory("prune_fleet").toString
    val rows = (0 until 2).flatMap { si =>
      (0 until 8).map(k => (s"st$si", 1700000000L + k, "G",
        Some(k.toLong), true))
    }.toDF("store_id", "te", "channel", "value", "valid")
      .select($"store_id",
        org.apache.spark.sql.functions.timestamp_seconds($"te").as("ts"),
        $"channel", $"value", $"valid")
    EtsdSink.exportFleet(rows,
      graft.model.EtsdSchema(
        Seq(graft.model.ChannelConfig("G", graft.model.StreamType.HalfS)),
        intervalSec = 1, blockIntervals = 4),
      root, blocksPerFile = 2)
    val perStore = EtsdSource.fleetRoot(spark, root)
      .groupBy($"store_id").count()
    assert(scanOf(perStore).output.map(_.name) == Seq("store_id"))
    assert(perStore.collect().map(r =>
      (r.getString(0), r.getLong(1))).toSet == Set(("st0", 8L), ("st1", 8L)))
  }

  test("wide pivots the long form to one column per channel") {
    val long = load(tsdPath)
    val w = EtsdSource.wide(long, schema).collect()
    assert(EtsdSource.wide(long, schema).columns.toSeq ==
      Seq("ts", "OdoMain", "TempC"))
    assert(w.length == n) // one row per timestamp, registers excluded
    assert(w.head.isNullAt(1)) // first counter sample: no baseline
    assert(w.tail.forall(_.getLong(1) == 7L))
    assert(w.map(_.getLong(2)).toSeq ==
      (0 until n).map(k => if (k % 2 == 0) -5L else 20L))
  }

  test("wide(globalSort=false): same rows, no extra exchange for the sort") {
    val long = load(tsdPath)
    val sorted = EtsdSource.wide(long, schema)
    val local = EtsdSource.wide(long, schema, globalSort = false)
    // value parity as a multiset — only the cross-partition order differs
    assert(local.collect().map(_.toString).sorted.toSeq ==
      sorted.collect().map(_.toString).sorted.toSeq)
    // the global sort pays a range-partitioning exchange on top of the
    // pivot's hash exchange; the local variant must NOT
    def exchanges(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString
        .linesIterator.count(_.contains("Exchange"))
    assert(exchanges(local) < exchanges(sorted),
      "sortWithinPartitions must not add an exchange")
    // and each partition is internally time-ordered
    val ok = local.select("ts").rdd
      .mapPartitions { it =>
        val ts = it.map(_.getTimestamp(0).getTime).toSeq
        Iterator.single(ts == ts.sorted)
      }.collect()
    assert(ok.forall(identity))
  }

  test("TsdDataSource is the one .tsd reader: binaryFile only feeds the ECM spool stream") {
    import scala.jdk.CollectionConverters._
    val root = Paths.get(sys.props("user.dir"), "src/main/scala")
    assert(Files.isDirectory(root), s"$root not found")
    val files = Files.walk(root)
    val readers = try files.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(f => Files.readString(f).contains("format(\"binaryFile\")"))
      .map(_.getFileName.toString).toList
    finally files.close()
    assert(readers == Seq("Edd.scala"))
  }

  test("roundTripHourlyBlocks is the identity on present buckets") {
    import spark.implicits._
    val day = 19800L // arbitrary epoch day
    val rows = Seq(
      ("a", day * 86400L, 123456L), ("a", day * 86400L + 3600L, 999L),
      ("a", day * 86400L + 7 * 3600L, 16777214L), // LargeS max valid
      ("b", day * 86400L + 3600L, 1L),
      ("b", (day + 1) * 86400L + 23 * 3600L, 42L)) // second block
    val hourly = rows.toDF("channel", "bucket", "s_c")
    val back = EtsdSource.roundTripHourlyBlocks(hourly, Seq("a", "b"))
      .orderBy("channel", "bucket_epoch")
      .as[(String, Long, Long)].collect().toSeq
    assert(back == rows.sorted)
  }
}
