package graft.sources

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.{CountingFs, TestSpark}
import graft.model.{ChannelConfig, EtsdSchema, StreamType}

/** Scale-hardened planning: `TsdDataSource` must plan a many-file layout
  * from the sidecar `_graft_index` (or one distributed probe job) with
  * ZERO serial per-file driver reads — the verdict's top round-3 item.
  * The reference point is `etsdFindBlock`'s O(1) sector seek
  * (etsdRead.c:300-353); at a 100 TB many-file layout the equivalent is
  * O(1) *driver* work per file, not 3 reads x 1e5 files. */
class TsdIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = EtsdSchema(
    Seq(ChannelConfig("G", StreamType.HalfS)),
    intervalSec = 1, blockIntervals = 4)
  private val t0 = 1700000000L // multiple of the 4 s span

  /** nFiles span files of one block each via the sink, with or without
    * the sidecar it leaves. */
  private def layout(nFiles: Int, indexed: Boolean): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("tsdidx").toString
    val rows = (0 until nFiles * 4).map { k =>
      (t0 + k, "G", Some((k % 200).toLong), true)
    }.toDF("te", "channel", "value", "valid")
      .select(org.apache.spark.sql.functions.timestamp_seconds($"te").as("ts"),
        $"channel", $"value", $"valid")
    EtsdSink.exportIndexed(rows, schema, dir, blocksPerFile = 1)
    if (!indexed) Files.delete(Paths.get(dir, TsdIndex.FileName))
    dir
  }

  test("EtsdSource.fleet: per-store sidecar planning, union value parity") {
    import spark.implicits._
    val stores = (0 until 3).map(_ => layout(20, indexed = true))
    TsdIndex.PlanStats.reset()
    val fl = EtsdSource.fleet(spark, stores)
    // ONE scan node for the three stores, not a union of per-store scans
    val scans = fl.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.size == 1, s"fleet must plan ONE scan node, got ${scans.size}")
    // value parity: the fleet is exactly the concatenation of per-store reads
    assert(fl.count() == 3 * 20 * 4L)
    // planning stayed per-store AND sidecar-served: every store's files
    // from its own index, zero probes anywhere in the fleet plan
    assert(TsdIndex.PlanStats.indexedFiles.get() >= 60)
    assert(TsdIndex.PlanStats.probedFiles.get() == 0,
      "fleet read must plan every store from its own sidecar")
    // a time-range pushdown prunes inside EACH store's scan: the layouts
    // share the same epoch grid, so the last-2-spans filter keeps ≤ 3
    // files per store (2 overlapping + 1 conservative boundary)
    val cutoff = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(t0 + 18 * 4L))
    val pruned = EtsdSource.fleet(spark, stores).filter($"ts" > cutoff)
    assert(pruned.count() == 3 * 8L)
    assert(pruned.rdd.getNumPartitions <= 9,
      "pushdown must prune non-overlapping files in every store scan")
  }

  test("fleetWithStores: ONE scan node, union parity, sidecar-only planning") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // a rooted fleet via exportFleet: one job writes every store + sidecar
    val root = Files.createTempDirectory("tsdfleet").toString
    val nStores = 12
    val rows = (0 until nStores).flatMap { si =>
      (0 until 20 * 4).map { k =>
        (f"st$si%02d", t0 + k, "G", Some(((si * 7 + k) % 200).toLong), true)
      }
    }.toDF("store_id", "te", "channel", "value", "valid")
      .select($"store_id",
        org.apache.spark.sql.functions.timestamp_seconds($"te").as("ts"),
        $"channel", $"value", $"valid")
    val written = EtsdSink.exportFleet(rows, schema, root, blocksPerFile = 1)
    assert(written.size == nStores * 20)
    val stores = (0 until nStores).map(si => f"$root/st$si%02d")

    TsdIndex.PlanStats.reset()
    val fl = EtsdSource.fleetWithStores(spark, stores)
    // ONE scan node in the plan regardless of store count — the whole point
    val scans = fl.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.size == 1, s"fleet must plan ONE scan node, got ${scans.size}")
    // value parity: identical to the union-of-stores shape, store ids right
    val viaUnion = stores.map(d => spark.read
        .format("graft.sources.TsdDataSource").load(d)
        .withColumn("store_id", lit(new org.apache.hadoop.fs.Path(d).getName)))
      .reduce(_ unionByName _)
    assert(fl.count() == nStores * 20 * 4L)
    assert(fl.exceptAll(viaUnion).isEmpty && viaUnion.exceptAll(fl).isEmpty)
    // exportFleet maintained every store's sidecar: zero probes fleet-wide
    assert(TsdIndex.PlanStats.probedFiles.get() == 0,
      "fleet planning must be sidecar-only")

    // store_id pushdown prunes whole stores at planning time. A fresh
    // load: `fl` has listed and planned every store, and a filter over it
    // shares its table, so it would list nothing
    val key = s"fs.${CountingFs.Scheme}.impl"
    spark.conf.set(key, classOf[CountingFs].getName)
    try {
      val one = EtsdSource.fleetWithStores(spark,
        stores.map(d => s"${CountingFs.Scheme}:$d")).filter($"store_id" === "st03")
      TsdIndex.PlanStats.reset()
      CountingFs.reset()
      assert(one.count() == 20 * 4L)
      // the load plans once: exactly the selected store's 20 files
      assert(TsdIndex.PlanStats.indexedFiles.get() == 20,
        "pruned stores must contribute zero metadata I/O")
      assert(CountingFs.listed == Seq(s"$root/st03"), CountingFs.log)
      // partitions are bin-packed (TsdPacking: many small files per task),
      // so the count is bounded by the selected store's 20 files rather
      // than equal to it; the assertions above are what prove pruned
      // stores contributed zero planning I/O
      assert(one.rdd.getNumPartitions <= 20 && one.rdd.getNumPartitions >= 1,
        "an = filter on store_id must plan only that store's files")
    } finally spark.conf.unset(key)

    // time pushdown still prunes inside EVERY store's file set
    val cutoff = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(t0 + 18 * 4L))
    val prunedDf = EtsdSource.fleetWithStores(spark, stores)
      .filter($"ts" > cutoff)
    assert(prunedDf.count() == nStores * 8L)
    assert(prunedDf.rdd.getNumPartitions <= nStores * 3,
      "time pushdown must prune non-overlapping files in every store")

    // the root form resolves the same stores by listing
    assert(EtsdSource.fleetRoot(spark, root).count() == nStores * 20 * 4L)
    // fleet() reads through the same scan and drops the store column
    val hist = EtsdSource.fleet(spark, stores)
    assert(!hist.columns.contains("store_id"))
    assert(hist.count() == nStores * 20 * 4L)
  }

  test("write/read fleet contract: ids the listing would skip are rejected") {
    import spark.implicits._
    // fleetRoot's store listing skips '_'/'.'-prefixed directories (the
    // Hadoop hidden-file convention, and where _graft_index sidecars
    // live) — so exportFleet must refuse to WRITE such a store id, or a
    // fleet read would silently miss the store's rows
    val root = Files.createTempDirectory("tsdfleetbad").toString
    def rowsFor(store: String) =
      Seq((store, t0, "G", Some(5L), true))
        .toDF("store_id", "te", "channel", "value", "valid")
        .select($"store_id",
          org.apache.spark.sql.functions.timestamp_seconds($"te").as("ts"),
          $"channel", $"value", $"valid")
    Seq("_hidden", ".hidden", "..", ".").foreach { bad =>
      val e = intercept[org.apache.spark.SparkException] {
        EtsdSink.exportFleet(rowsFor(bad), schema, root, blocksPerFile = 1)
      }
      assert(e.getMessage.contains("safe path segment") ||
          Option(e.getCause).exists(_.getMessage.contains("safe path segment")),
        s"store_id '$bad' must be rejected by the writer: ${e.getMessage}")
    }
    // and the option-encoding guard: a comma in a store path would
    // mis-split into bogus store dirs on the read side
    val bad = intercept[IllegalArgumentException] {
      EtsdSource.fleetWithStores(spark, Seq(s"$root/a,b"))
    }
    assert(bad.getMessage.contains("comma-free"))
    // fleet() (the drop-in historical surface) must NOT newly throw the
    // option-encoding guard on the same input — it keeps the per-store
    // union shape instead (the dir doesn't exist, so the read itself
    // fails, but with a file error, not the guard)
    scala.util.Try(EtsdSource.fleet(spark, Seq(s"$root/a,b")).count()) match {
      case scala.util.Failure(e) =>
        assert(Option(e.getMessage).forall(!_.contains("comma-free")),
          s"fleet() must keep the union shape for comma paths: $e")
      case scala.util.Success(_) =>
        fail("reading a nonexistent store dir must fail")
    }
  }

  test("fleet with NO sidecars: all stores' probes coalesce into one job") {
    import spark.implicits._
    val root = Files.createTempDirectory("tsdfleetnoidx").toString
    val nStores = 6
    val rows = (0 until nStores).flatMap { si =>
      (0 until 8).map(k => (f"nx$si%02d", t0 + k, "G", Some(5L), true))
    }.toDF("store_id", "te", "channel", "value", "valid")
      .select($"store_id",
        org.apache.spark.sql.functions.timestamp_seconds($"te").as("ts"),
        $"channel", $"value", $"valid")
    EtsdSink.exportFleet(rows, schema, root, blocksPerFile = 1)
    // strip every sidecar: planning must fall back to probing
    (0 until nStores).foreach { si =>
      Files.deleteIfExists(Paths.get(f"$root/nx$si%02d", TsdIndex.FileName))
    }
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    // probe jobs: those with a stage whose call site is TsdIndex.scala
    val probes = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (j.stageInfos.exists(_.name.contains("TsdIndex.scala"))) probes.incrementAndGet()
      }
    }
    def counted(f: => Unit): Unit = {
      spark.sparkContext.addSparkListener(listener)
      try {
        f
        org.apache.spark.graftbridge.ListenerBridge
          .waitUntilEmpty(spark.sparkContext, 10000L)
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    TsdIndex.PlanStats.reset()
    val df = EtsdSource.fleetRoot(spark, root)
    counted(assert(df.count() == nStores * 2 * 4L))
    assert(TsdIndex.PlanStats.probedFiles.get() == nStores * 2L,
      "every file must go through the probe path")
    // one coalesced probe job + the count's own job(s) — NOT one job
    // per store (AQE may add a coalesce job; 4 is the conservative cap
    // that still fails an O(stores) regression at 6 stores)
    assert(jobs.get() <= 4,
      s"fleet probing must be ONE job, saw ${jobs.get()} jobs total")
    // the load keeps its probed entries: a second count probes nothing
    counted(assert(df.count() == nStores * 2 * 4L))
    assert(probes.get() == 1, s"a fleet load must probe once, saw ${probes.get()} probe jobs")
  }

  test("a missing fleet store raises the single store's error") {
    val missing = Files.createTempDirectory("tsdfleetgone").resolve("gone").toString
    val single = intercept[java.io.FileNotFoundException] {
      spark.read.format("graft.sources.TsdDataSource").load(missing).count()
    }
    assert(single.getMessage.contains(missing))
    val stores = Seq(layout(2, indexed = true), layout(2, indexed = true), missing)
    val fleet = intercept[java.io.FileNotFoundException] {
      EtsdSource.fleetWithStores(spark, stores).count()
    }
    assert(fleet.getMessage.contains(missing))
  }

  test("a fleet load sees the stores present when it is first planned") {
    import spark.implicits._
    val root = Files.createTempDirectory("tsdfleetgrow").toString
    def rowsOf(ids: Seq[String]) = ids.flatMap { id =>
      (0 until 8).map(k => (id, t0 + k, "G", Some(5L), true))
    }.toDF("store_id", "te", "channel", "value", "valid")
      .select($"store_id",
        org.apache.spark.sql.functions.timestamp_seconds($"te").as("ts"),
        $"channel", $"value", $"valid")
    EtsdSink.exportFleet(rowsOf(Seq("g00", "g01")), schema, root, blocksPerFile = 1)
    val df = EtsdSource.fleetRoot(spark, root)
    assert(df.count() == 2 * 8L)
    EtsdSink.exportFleet(rowsOf(Seq("g02")), schema, root, blocksPerFile = 1)
    assert(Files.isDirectory(Paths.get(root, "g02")))
    assert(df.count() == 2 * 8L)
    // a new load lists the root again and reads the new store
    assert(EtsdSource.fleetRoot(spark, root).count() == 3 * 8L)
  }

  test("planning 1000 files from the sidecar: zero file probes") {
    val n = 1000
    val dir = layout(n, indexed = true)
    assert(Files.exists(Paths.get(dir, TsdIndex.FileName)))

    TsdIndex.PlanStats.reset()
    val df = spark.read.format("graft.sources.TsdDataSource").load(dir)
    assert(df.count() == n * 4L)
    assert(TsdIndex.PlanStats.indexedFiles.get() >= n)
    assert(TsdIndex.PlanStats.probedFiles.get() == 0,
      "sidecar-covered files must not be probed")
  }

  test("no sidecar: one distributed probe job, never serial driver reads") {
    val n = 50
    val dir = layout(n, indexed = false)
    assert(!Files.exists(Paths.get(dir, TsdIndex.FileName)))

    TsdIndex.PlanStats.reset()
    val df = spark.read.format("graft.sources.TsdDataSource").load(dir)
    assert(df.count() == n * 4L)
    assert(TsdIndex.PlanStats.probedFiles.get() >= n)
    assert(TsdIndex.PlanStats.indexedFiles.get() == 0)
  }

  test("stale sidecar entries (length mismatch) are re-probed, not trusted") {
    import spark.implicits._
    val n = 10
    val dir = layout(n, indexed = true)
    // grow the first span to TWO blocks: same file name, new length
    val rows = (0 until 8).map { k => (t0 + k, "G", Some(7L), true) }
      .toDF("te", "channel", "value", "valid")
      .select(org.apache.spark.sql.functions.timestamp_seconds($"te").as("ts"),
        $"channel", $"value", $"valid")
    // the sink refreshes the grown file's entry: put the old sidecar back
    // (dropping the checksum the raw write bypassed) so it is stale
    val sidecar = Paths.get(dir, TsdIndex.FileName)
    val stale = Files.readAllBytes(sidecar)
    EtsdSink.exportIndexed(rows, schema, dir, blocksPerFile = 2)
    Files.write(sidecar, stale)
    Files.deleteIfExists(
      sidecar.getParent.resolve(s".${sidecar.getFileName}.crc"))

    TsdIndex.PlanStats.reset()
    val df = spark.read.format("graft.sources.TsdDataSource").load(dir)
    // the span-0 FILE now holds 2 blocks (8 rows); every original file
    // (spans 1..9) still exists -- 44 rows total, 8 re-probed from the
    // grown file rather than the sidecar's stale 1-block claim
    assert(df.count() == 8L + (n - 1) * 4L)
    assert(TsdIndex.PlanStats.probedFiles.get() >= 1, "grown file must be re-probed")
    assert(TsdIndex.PlanStats.indexedFiles.get() >= n - 2)
  }

  test("time-range pushdown prunes files from the index alone") {
    val n = 100
    val dir = layout(n, indexed = true)
    import spark.implicits._
    TsdIndex.PlanStats.reset()
    val cutoff = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(t0 + (n - 2) * 4L)) // last 2 spans
    val df = spark.read.format("graft.sources.TsdDataSource").load(dir)
      .filter($"ts" > cutoff)
    // samples are stamped at interval END, so spans 98-99 contribute all
    // 8 rows (ts in t0+393..t0+400); span 97 survives the conservative
    // file prune but its rows are filtered out by the residual
    assert(df.count() == 8L)
    assert(df.rdd.getNumPartitions <= 3, "pruning must drop non-overlapping files")
    assert(TsdIndex.PlanStats.probedFiles.get() == 0)
  }

  test("the ts_tsd_manyfile gate shape plans from the sidecar: zero probes") {
    // the oracle gate's many-file query end to end (exportIndexed →
    // range-filtered DSv2 read): its correctness row in CORRECTNESS and
    // this planning assert together pin value AND plan for the
    // many-file deployment shape. The gate's other sink round trips
    // (plain, xData side table, after a Retention drop) read their
    // files back the same way and must plan the same way.
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.001")
    Seq("ts_tsd_manyfile", "ts_tsd_file_roundtrip", "ts_tsd_xdata",
        "ts_retention_drop").foreach { q =>
      TsdIndex.PlanStats.reset()
      val df = graft.SparkEntry.queries(q)(spark, sfDir)
      assert(df.count() > 0, q)
      assert(TsdIndex.PlanStats.probedFiles.get() == 0,
        s"$q: the read must plan from the sink-maintained sidecar")
      assert(TsdIndex.PlanStats.indexedFiles.get() > 0, q)
    }
  }

  test("header-only single file plans zero blocks instead of probing past EOF") {
    val dir = Files.createTempDirectory("hdr").toString
    val f = s"$dir/new.tsd"
    graft.EtsdCmd.create(f, Seq("T=10", "Mains:8:E1")) // 512-byte header only
    val df = spark.read.format("graft.sources.TsdDataSource").load(f)
    assert(df.count() == 0) // no EOFException from a first-block probe
  }

  test("same-length rewrite with a shifted time range is re-probed, not trusted") {
    import spark.implicits._
    val n = 4
    val dir = layout(n, indexed = true)
    // rewrite span 0 at the SAME byte length but with all-new block times:
    // only the modTime betrays the change
    val newT0 = t0 + 40 // span 10's slots — timestamps differ, length equal
    val rows = (0 until 4).map { k => (newT0 + k, "G", Some(9L), true) }
      .toDF("te", "channel", "value", "valid")
      .select(org.apache.spark.sql.functions.timestamp_seconds($"te").as("ts"),
        $"channel", $"value", $"valid")
    val firstFile = java.nio.file.Paths.get(dir, f"etsd-$t0%012d.tsd")
    val before = Files.readAllBytes(firstFile)
    EtsdSink.exportIndexed(rows, schema, dir, blocksPerFile = 1)
    val written = java.nio.file.Paths.get(dir, f"etsd-$newT0%012d.tsd")
    Files.write(firstFile, Files.readAllBytes(written)) // same-length overwrite
    Files.delete(written)
    // the raw overwrite bypassed Hadoop's LocalFileSystem checksum
    // sidecars — drop them so the read path doesn't trip on stale CRCs
    Seq(firstFile, written).foreach { p =>
      Files.deleteIfExists(p.getParent.resolve(s".${p.getFileName}.crc"))
    }
    assert(Files.size(firstFile) == before.length)
    // force a visibly different mtime even on coarse filesystems
    Files.setLastModifiedTime(firstFile,
      java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(firstFile).toMillis + 5000))

    TsdIndex.PlanStats.reset()
    val cutoff = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(newT0 - 1))
    val got = spark.read.format("graft.sources.TsdDataSource").load(dir)
      .filter($"ts" > cutoff).count()
    // stale entry said firstTs=t0 (outside the cutoff); trusting it would
    // prune the rewritten file and lose its 4 rows
    assert(TsdIndex.PlanStats.probedFiles.get() >= 1, "rewrite must re-probe")
    assert(got >= 4L)
  }

  test("malformed sidecar line degrades to a re-probe instead of throwing") {
    val n = 5
    val dir = layout(n, indexed = true)
    val sidecar = Paths.get(dir, TsdIndex.FileName)
    val lines = Files.readAllLines(sidecar)
    // truncate one entry to 3 fields and garble another's numeric field —
    // both hand-edit shapes must be skipped, not ArrayIndexOutOfBounds
    lines.set(1, lines.get(1).split('\t').take(3).mkString("\t"))
    lines.set(2, lines.get(2).replaceAll("\t\\d+$", "\tnot_a_number"))
    Files.write(sidecar, lines)
    // the raw edit bypassed Hadoop's LocalFileSystem checksum sidecar —
    // drop the CRC so the read path exercises the parser, not ChecksumError
    Files.deleteIfExists(
      sidecar.getParent.resolve(s".${sidecar.getFileName}.crc"))

    TsdIndex.PlanStats.reset()
    val df = spark.read.format("graft.sources.TsdDataSource").load(dir)
    assert(df.count() == n * 4L) // planning succeeds; no rows lost
    assert(TsdIndex.PlanStats.probedFiles.get() >= 2,
      "files behind malformed lines must fall back to the probe path")
    assert(TsdIndex.PlanStats.indexedFiles.get() >= n - 2)
  }

  test("merge updates and drops entries; Retention prunes the sidecar") {
    val n = 6
    val dir = layout(n, indexed = true)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val root = new org.apache.hadoop.fs.Path(dir)
    assert(TsdIndex.load(fs, root).get.size == n)

    // drop the first two spans; sidecar follows
    val dropped = Retention.dropBlocksBefore(spark, dir, t0 + 8)
    assert(dropped.length == 2)
    val after = TsdIndex.load(fs, root).get
    assert(after.size == n - 2)
    assert(!after.contains(f"etsd-$t0%012d.tsd"))

    // full rebuild (write) re-probes everything that remains
    assert(TsdIndex.write(spark, dir).size == n - 2)
  }
}
