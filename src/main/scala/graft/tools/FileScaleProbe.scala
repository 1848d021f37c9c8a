package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.model.{ChannelConfig, EtsdSchema, StreamType}
import graft.sources.{EtsdSink, TsdIndex}

/** File-layer scale-trend probe (diagnostics, not the bench): times the
  * full `EtsdSink.exportIndexed` → `TsdDataSource` read-back loop on
  * 1×/4×/16× synthetic hourly grids, plus a high-file-count case
  * (thousands of small span files) that exercises the sidecar-index
  * planning path and time-range file pruning.
  *
  * The growth axes mirror how an ETSD fleet actually scales: a single
  * store's channel set is bounded by the 512-byte block capacity
  * (etsdCmd.c:295-299 — 10 FullS channels at 24 intervals is a full
  * block), so fleets add STORES (one per daemon, etsd.c:33) and extend
  * SPAN. The volume trend therefore scales stores × days with a fixed
  * 10-channel FullS schema per store, and reads back fleet-wide through
  * the one multi-store DSv2 scan (`EtsdSource.fleet`) — the plan a
  * cluster-wide query would run. Pass criteria:
  *
  *   - export and read-back grow ≤ linearly in readings;
  *   - planning a 1-day range over thousands of files stays ~flat (the
  *     `_graft_index` sidecar means no per-file probe I/O);
  *   - the one-entry-per-written-file driver collect (`exportIndexed`'s
  *     return, which also feeds the sidecar) stays bounded by file count,
  *     which this probe reports.
  *
  * Run: `sbt "runMain graft.tools.FileScaleProbe"`. */
object FileScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession("filescaleprobe")
    import spark.implicits._

    val startEpoch = 1704067200L // 2024-01-01 00:00 UTC
    val nCh = 10 // a full 512-byte block: 10 × FullS(16b) × 24 intervals

    def grid(nSlots: Long) =
      spark.range(nCh * nSlots).select(
          (col("id") % nCh).as("ci"),
          (lit(startEpoch) + (col("id") / nCh) * 3600L).as("epoch"))
        .select(timestamp_seconds($"epoch").as("ts"),
          format_string("ch%02d", $"ci").as("channel"),
          (pmod($"epoch" / 3600L, lit(1000L)).cast("long") * 10L +
            $"ci".cast("long")).as("value"),
          lit(true).as("valid"))

    val storeSchema = EtsdSchema(
      (0 until nCh).map(i => ChannelConfig(f"ch$i%02d", StreamType.FullS)),
      intervalSec = 3600, blockIntervals = 24)

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"    $label%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    // --- volume trend: 1x/4x/16x readings (stores x span both grow 2x)
    for ((k, nStores, nDays) <- Seq((1, 1, 365), (4, 2, 730), (16, 4, 1460))) {
      val nSlots = nDays * 24L
      val readings = nStores * nCh * nSlots
      println(s"== volume x$k: $nStores stores x $nCh channels x $nDays days = $readings readings")
      val root = java.nio.file.Files.createTempDirectory(s"fsp_vol_$k").toString
      val stores = (0 until nStores).map(i => s"$root/store$i")
      val long = grid(nSlots)
      val nFiles = time("exportIndexed (8-block files)") {
        stores.map { d =>
          EtsdSink.exportIndexed(long, storeSchema, d, blocksPerFile = 8).length
        }.sum
      }
      println(s"    files written: $nFiles")
      def fleet: DataFrame =
        graft.sources.EtsdSource.fleet(spark, stores)
      time("read-back full scan") {
        fleet.filter($"valid" && !$"is_register").count()
      }
      time("read-back agg (sum/channel)") {
        fleet.filter($"valid" && !$"is_register")
          .groupBy($"channel").agg(sum($"value")).count()
      }
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }

    // --- file-count trend: same data volume, 1-day span files -> many files
    for ((label, blocksPerFile, nDays) <- Seq(
        ("64 files (32-day spans)", 32, 2048),
        ("512 files (4-day spans)", 4, 2048),
        ("2048 files (1-day spans)", 1, 2048))) {
      val nSlots = nDays * 24L
      println(s"== file count: $label, $nCh channels x $nDays days")
      val dir = java.nio.file.Files.createTempDirectory("fsp_files").toString
      val long = grid(nSlots)
      val written = time("exportIndexed") {
        EtsdSink.exportIndexed(long, storeSchema, dir, blocksPerFile)
      }
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val idxN = TsdIndex.load(fs, new org.apache.hadoop.fs.Path(dir))
        .map(_.size).getOrElse(0)
      println(s"    files written: ${written.length}, index entries: $idxN")
      val rb = spark.read.format("graft.sources.TsdDataSource").load(dir)
      // a 1-day range over the whole fleet: pruning must keep this ~flat
      // as file count grows (sidecar index, no per-file probe I/O).
      // Compare ts DIRECTLY against a literal — wrapping the column
      // (unix_timestamp(ts) >= lo) is not translatable to a source
      // filter and silently degrades to a full scan
      val dayLo = startEpoch + 1000L * 86400L
      time("1-day range query (pruned)") {
        rb.filter($"valid" && !$"is_register" &&
            $"ts" >= timestamp_seconds(lit(dayLo)) &&
            $"ts" < timestamp_seconds(lit(dayLo + 86400L)))
          .groupBy($"channel").agg(sum($"value")).count()
      }
      time("full scan") {
        rb.filter($"valid" && !$"is_register").count()
      }
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }

    // --- fleet scale: ≥100 stores through the PUBLIC fleet API.
    // This is the 100×-scale story told through EtsdSource.fleet rather
    // than a hand-built union: ONE DSv2 scan node for every store, each
    // store planned against its own _graft_index sidecar, so a narrow
    // time-range query over the whole fleet prunes per-store with ZERO
    // file-probe I/O (asserted via TsdIndex.PlanStats).
    {
      val nStores = 128
      val nDays = 32
      val nSlots = nDays * 24L
      println(s"== fleet: $nStores stores x $nCh channels x $nDays days " +
        s"= ${nStores * nCh * nSlots} readings via EtsdSource.fleet")
      val root = java.nio.file.Files.createTempDirectory("fsp_fleet").toString
      val stores = (0 until nStores).map(i => f"$root/store$i%03d")
      val long = grid(nSlots)
      var nFiles = 0
      time(s"exportIndexed x$nStores") {
        nFiles = stores.map(d =>
          EtsdSink.exportIndexed(long, storeSchema, d, blocksPerFile = 2)
            .length).sum
      }
      println(s"    files written fleet-wide: $nFiles")
      def fleetDf: DataFrame = graft.sources.EtsdSource.fleet(spark, stores)
      time("fleet full-scan agg") {
        fleetDf.filter($"valid" && !$"is_register")
          .groupBy($"channel").agg(sum($"value")).count()
      }
      TsdIndex.PlanStats.reset()
      val dayLo = startEpoch + 20L * 86400L
      val dayRows = time("fleet 1-day pruned query") {
        fleetDf.filter($"valid" && !$"is_register" &&
            $"ts" >= timestamp_seconds(lit(dayLo)) &&
            $"ts" < timestamp_seconds(lit(dayLo + 86400L)))
          .count()
      }
      val expect = nStores.toLong * nCh * 24
      println(s"    rows: $dayRows (expect $expect), planned from index: " +
        s"${TsdIndex.PlanStats.indexedFiles.get()} files, probed: " +
        s"${TsdIndex.PlanStats.probedFiles.get()}")
      assert(dayRows == expect, s"fleet day query returned $dayRows")
      assert(TsdIndex.PlanStats.probedFiles.get() == 0,
        "fleet planning must be sidecar-only (zero per-file probes)")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }

    // --- store-count trend through the SINGLE multi-store scan node:
    // 128 vs 1024 stores, same per-store data. The logical plan must be
    // O(1) in store count (one TsdScan node either way — vs one scan
    // node per store in a union of per-store loads), planning must stay
    // sidecar-only, and pure planning wall-time (no execution) must grow
    // sub-linearly — it's bounded-pool metadata I/O, not plan work.
    for (nStores <- Seq(128, 1024)) {
      val nDays = 2
      val nSlots = nDays * 24L
      println(s"== fleet-scan scale: $nStores stores x $nCh channels x $nDays days (ONE scan node)")
      val root = java.nio.file.Files.createTempDirectory("fsp_fscan").toString
      val long = spark.range(nStores)
        .select(format_string("fs%04d", col("id")).as("store_id"))
        .crossJoin(grid(nSlots))
      time(s"exportFleet (one job, $nStores stores)") {
        val w = graft.sources.EtsdSink.exportFleet(long, storeSchema, root,
          blocksPerFile = 1)
        println(s"    files written fleet-wide: ${w.size}")
      }
      val dayLo = startEpoch + 86400L
      def pruned = graft.sources.EtsdSource.fleetRoot(spark, root)
        .filter(col("valid") && !col("is_register") &&
          col("ts") >= timestamp_seconds(lit(dayLo)) &&
          col("ts") < timestamp_seconds(lit(dayLo + 86400L)))
      val scans = pruned.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }
      assert(scans.size == 1, s"fleet must be ONE scan node, got ${scans.size}")
      println(s"    plan nodes: ${pruned.queryExecution.optimizedPlan.collect { case p => p }.size} (store-count-independent)")
      TsdIndex.PlanStats.reset()
      val nParts = time("pure planning (no exec)") {
        pruned.rdd.getNumPartitions
      }
      println(s"    partitions: $nParts, indexed: " +
        s"${TsdIndex.PlanStats.indexedFiles.get()}, probed: " +
        s"${TsdIndex.PlanStats.probedFiles.get()}")
      assert(TsdIndex.PlanStats.probedFiles.get() == 0)
      val rows = time("1-day pruned count") { pruned.count() }
      assert(rows == nStores.toLong * nCh * 24, s"got $rows")
      // exec-side scale rows (r13 verdict item): the fleet READ+AGG —
      // decode every block, aggregate per channel — must grow linearly
      // in readings (so ~8× here) while the PER-READING cost stays flat
      // as stores grow 8×, and the pruned-day read+agg must stay ~flat
      // outright (fixed rows selected; planning already shown O(1)).
      // This is the measurement that retires ts_fleet_range's
      // planning-only evidence: the nominal 16×-of-proxy ratio is a
      // stage floor on 0.5 s absolute, not a scan cost that scales.
      // one untimed warmup per agg (the 128-store pass otherwise eats
      // the fleet-scan JIT and reports a bigger number than 1024 stores
      // on 8× the data), then the timed run — same discipline as Bench
      def fullAgg() = graft.sources.EtsdSource.fleetRoot(spark, root)
        .filter(col("valid") && !col("is_register"))
        .groupBy(col("channel")).agg(sum(col("value"))).count()
      fullAgg()
      time(s"fleet FULL read+agg ($nStores stores)") { fullAgg() }
      def dayAgg() = pruned.groupBy(col("channel"))
        .agg(sum(col("value"))).count()
      dayAgg()
      time(s"fleet 1-day pruned read+agg ($nStores stores)") { dayAgg() }
      // optional parquet mirror for a DuckDB-side comparison (the proxy
      // engine cannot read .tsd stores): set GRAFT_FSP_MIRROR=<dir>.
      // NOTE the mirror is the PRE-ENCODE grid (`long`): every row is
      // valid and there is no is_register column, so the DuckDB-side
      // agg is `GROUP BY channel: sum(value)` with NO
      // `valid && !is_register` filter — the fleet aggs above apply
      // that filter to the DECODED rows, where it is a no-op on this
      // fixture (the grid encodes no invalids and no register channels)
      sys.env.get("GRAFT_FSP_MIRROR").foreach { mdir =>
        time("parquet mirror write") {
          long.write.mode("overwrite")
            .parquet(s"$mdir/fleet_$nStores.parquet")
        }
      }
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
    spark.stop()
  }
}
