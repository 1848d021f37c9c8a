package perfbench

import java.time.Instant

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.EtsdCmd
import graft.queries.EtsdQueryApi
import graft.sources.TsdIndex

/** The read workloads: one client thread sends CLI-grammar queries
  * through `EtsdQueryApi.query` over `TsdDataSource` (the body of
  * `EtsdCmd query`, in a warm session) in a closed loop, then runs one
  * cold `EtsdCmd query` child process. Every answer is checked against
  * the whole-file decode. */
object Reads {

  /** A query stream. The shape of the `i`-th query (window length class,
    * one channel or all, explicit bounds or CLI defaults) cycles with `i`,
    * so every run mixes shapes in the same proportions; positions,
    * channels and verbs come from the seeded `rng`. */
  sealed trait Kind {
    def name: String
    /** Queries of the warm-up (see [[WarmThreads]]). */
    def warmQueries: Int
    /** Length of the cycle of query shapes. */
    def cycle: Int
    def next(rng: scala.util.Random, o: Extent, i: Long): Query
    /** Shape index of the cold CLI query. */
    def cliShape: Long
  }

  /** Windows of 1, 2 and 3 blocks on one named channel: each query
    * touches a handful of blocks, so planning, the index and scheduling
    * dominate. */
  object Point extends Kind {
    val name = "point"
    val warmQueries = 72
    val cycle = 3
    val cliShape = 1L
    def next(rng: scala.util.Random, o: Extent, i: Long): Query = {
      val len = (1 + i % 3) * Garage.blockSpanSec
      val start = o.firstTs + (rng.nextDouble() * (o.lastTs - o.firstTs - len)).toLong
      Query.random(rng, Some(o.names(rng.nextInt(o.names.size))), Some(start), Some(start + len - 1))
    }
  }

  /** Windows of one week, midway to the full span and the full span, over every
    * channel; a quarter of the queries instead take the CLI defaults
    * (`begin` .. `now`) on one channel, whose start costs an aggregate
    * job of its own. Decode and aggregation dominate. (Three quarters
    * share one shape so that the median latency sits inside one mode.) */
  object Range extends Kind {
    val name = "range"
    val warmQueries = 24
    val cycle = 4
    val Week = 7 * 86400L
    val cliShape = 0L
    def next(rng: scala.util.Random, o: Extent, i: Long): Query =
      if (i % 4 == 0) Query.random(rng, Some(o.names(rng.nextInt(o.names.size))), None, None)
      else {
        val span = o.lastTs - o.firstTs
        val len = Week + (span - Week) * (i % 4 - 1) / 2
        val start = o.firstTs + (rng.nextDouble() * (span - len)).toLong
        Query.random(rng, None, Some(start), Some(start + len))
      }
  }

  val SetupReps = 3
  /** Warm-up before the measured loop: the query path's JIT compilation
    * takes about a hundred queries to settle, so several threads run a
    * fixed number of queries (a count, not a time, so that a slow machine
    * reaches the same compiled state). */
  val WarmThreads = 3

  /** The CLI's `query` body: header schema, DSv2 load, query, ordered
    * collect. Traced, each layer call is a span and its jobs are tagged. */
  private def ask(ctx: Ctx, store: String, q: Query, now: Instant, op: Long): (Array[Row], SparkPlan) = {
    val t = ctx.tracer
    ctx.tag(op, "build")
    t("workload.op") {
      val schema = t("sources.schema")(EtsdCmd.loadSchema(store))
      val df = t("sources.load")(ctx.spark.read.format("graft.sources.TsdDataSource").load(store))
      val out = t("queries.build")(EtsdQueryApi.query(df, schema, q.args, now).orderBy("channel"))
      if (t.on) { ctx.tag(op, "plan"); t("spark.plan")(out.queryExecution.executedPlan) }
      ctx.tag(op, "exec")
      val rows = t("spark.exec")(out.collect())
      (rows, out.queryExecution.executedPlan)
    }
  }

  /** Run the kind's warm-up queries on `WarmThreads` threads; seconds taken. */
  private def warmUp(ctx: Ctx, store: String, kind: Kind, now: Instant): Double = {
    val t0 = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(WarmThreads)
    try {
      (0 until WarmThreads).map { w =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val rng = new scala.util.Random(ctx.seed ^ (0x5eedL + w))
            (0L until kind.warmQueries / WarmThreads).foreach(i =>
              ask(ctx, store, kind.next(rng, Extent.nominal, i), now, -1L))
          }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    (System.nanoTime() - t0) / 1e9
  }

  private def toAnswer(rows: Array[Row]): Answer.T =
    rows.map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap

  /** Leaf scans of an executed (possibly adaptive) plan. */
  private def scans(p: SparkPlan): Seq[BatchScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case s: QueryStageExec => scans(s.plan)
    case b: BatchScanExec => Seq(b)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  def run(ctx: Ctx, kind: Kind): Result = {
    val spark = ctx.spark
    val r = new Result
    val now = Instant.ofEpochSecond(Garage.BaseEpoch + (Garage.Days + 1) * 86400L)

    // set-up, several times: export the store and plan a first query
    val stores = (0 until SetupReps).map(i => s"${ctx.runDir}/store$i")
    var exportS = Seq.empty[Double]
    val setupS = stores.map { dir =>
      val t0 = System.nanoTime()
      Garage.build(spark, ctx.seed, dir)
      exportS :+= (System.nanoTime() - t0) / 1e9
      ask(ctx, dir, kind.next(new scala.util.Random(ctx.seed), Extent.nominal, 0), now, -1L)
      (System.nanoTime() - t0) / 1e9
    }
    val store = stores.last
    stores.init.foreach(Garage.deleteTree)
    val warmS = warmUp(ctx, store, kind, now)
    r.metrics("setup_s") = ctx.sessionS + Stats.median(setupS) + warmS

    Main.mark("set-up done")
    val oracle = StoreOracle.decode(store)
    Main.mark("oracle decoded")
    r.metrics("stored_bytes_per_reading") = Garage.storedBytes(store).toDouble / oracle.readings
    r.metrics("sources.export_readings_per_s") =
      Garage.Days * 86400L / Garage.IntervalSec * Garage.schema.channels.size / Stats.median(exportS)

    // the closed loop, one client thread
    val rng = new scala.util.Random(ctx.seed)
    val lat = ArrayBuffer.empty[Double]      // ms, every op
    val tracedLat = ArrayBuffer.empty[Double]
    val plainLat = ArrayBuffer.empty[Double]
    val readings = ArrayBuffer.empty[Long] // stored readings in each op's window
    var keptRows = 0L
    var scanRows = 0L
    var partitions = 0L
    var filesIndexed = 0L
    var filesProbed = 0L
    val opWall = ArrayBuffer.empty[(Long, Long, Long)] // op, start ms, end ms
    val fs = new Path(store).getFileSystem(spark.sessionState.newHadoopConf())
    val deadline = ctx.deadlineNs
    var op = 0L
    while (System.nanoTime() < deadline || ctx.traced && op < 8) { // a traced run needs a traced block
      val q = kind.next(rng, oracle.extent, op)
      val traceOp = ctx.traceOp(op)
      ctx.tracer.on = traceOp
      TsdIndex.PlanStats.reset()
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val (rows, plan) = ask(ctx, store, q, now, op)
      val ms = (System.nanoTime() - t0) / 1e6
      lat += ms
      r.attempted += 1
      val want = oracle.answer(q, now.getEpochSecond)
      if (!Answer.matches(toAnswer(rows), want)) r.failed += 1
      readings += oracle.windowReadings(q, now.getEpochSecond)
      if (traceOp) {
        opWall += ((op, w0, System.currentTimeMillis()))
        tracedLat += ms
        keptRows += want.values.map(_._1).sum
        val ss = scans(plan)
        scanRows += ss.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
        partitions += ss.map(_.inputPartitions.size.toLong).sum
        filesIndexed += TsdIndex.PlanStats.indexedFiles.get
        filesProbed += TsdIndex.PlanStats.probedFiles.get
        ctx.tracer("sources.index")(TsdIndex.forPlanning(spark, fs, new Path(store)))
      } else plainLat += ms
      op += 1
    }
    ctx.tracer.on = false

    // throughput of each whole cycle of query shapes, so that every value
    // mixes the shapes alike; the median of those resists slow outliers
    val rates = lat.indices.grouped(kind.cycle).filter(_.size == kind.cycle).map { c =>
      c.map(readings(_)).sum / (c.map(lat(_)).sum / 1000)
    }.toSeq
    r.metrics("op_p50_ms") = Stats.median(lat.toSeq)
    r.metrics("rows_per_s") = Stats.median(rates)
    r.note(s"${kind.name}_p50_ms", Stats.median(lat.toSeq), "ms", s"n=${lat.size}")
    Stats.tailPercentile(lat.size).foreach { p =>
      r.note(s"${kind.name}_p${fmtPct(p)}_ms", Stats.percentile(lat.toSeq, p), "ms",
        s"n=${lat.size}, ${Stats.beyond(lat.size, p)} beyond")
    }
    r.note(if (kind == Point) "point_rows_per_s" else "scan_rows_per_s", Stats.median(rates),
      "1/s", s"median over ${rates.size} cycles of ${kind.cycle} queries of stored readings in the windows / query seconds")

    Main.mark(s"loop done: ${lat.size} ops: ${lat.map(_.round).mkString(" ")}")
    // a cold CLI process, as a user runs it
    val cliQ = kind.next(new scala.util.Random(ctx.seed * 31 + 7), oracle.extent, kind.cliShape)
    val cli = Cli.run(store, cliQ, ctx.runDir, ctx.traced)
    r.attempted += 1
    if (!Answer.matches(Answer.parseCli(cli.stdout), oracle.answer(cliQ, cli.launchMs / 1000)))
      r.failed += 1
    r.metrics("cli_cold_s") = cli.wallS
    Main.mark("cli done")

    if (ctx.traced) {
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      val l = ctx.listener.get
      val n = opWall.size.toDouble
      val accs = opWall.map { case (o, _, _) => l.forOp(o) }
      def perOp(f: OpAcc => Double): Double = accs.map(_.map(f).sum).sum / n
      r.metrics("queries.build_ms") = ctx.spanMs("queries.build") / n
      r.metrics("queries.build_jobs") =
        opWall.map { case (o, _, _) => l.phase(o, "build").map(_.jobs).getOrElse(0L) }.sum / n
      r.metrics("spark.plan_ms") = ctx.spanMs("spark.plan") / n
      r.metrics("spark.exec_ms") = ctx.spanMs("spark.exec") / n
      r.metrics("spark.driver_gap_ms") = opWall.map { case (o, a, b) =>
        OpListener.gapMs(a, b, l.forOp(o).flatMap(_.jobSpans)).toDouble }.sum / n
      r.metrics("spark.jobs_per_op") = perOp(_.jobs)
      r.metrics("spark.stages_per_op") = perOp(_.stages)
      r.metrics("spark.one_task_stages_per_op") = perOp(_.oneTaskStages)
      r.metrics("spark.tasks_per_op") = perOp(_.tasks)
      r.metrics("spark.task_cpu_ms_per_op") = perOp(_.cpuNs / 1e6)
      r.metrics("spark.task_run_ms_per_op") = perOp(_.runMs)
      r.metrics("spark.shuffle_bytes_per_op") = perOp(_.shuffleBytes)
      r.metrics("spark.spill_bytes_per_op") = perOp(_.spillBytes)
      r.metrics("sources.index_ms") = ctx.spanMs("sources.index") / n
      r.metrics("sources.files_indexed") = filesIndexed / n
      r.metrics("sources.files_probed") = filesProbed / n
      r.metrics("sources.partitions_per_op") = partitions / n
      r.metrics("sources.scan_rows_per_kept_row") = scanRows.toDouble / math.max(1L, keptRows)
      r.metrics ++= cli.layers
      r.metrics("trace.overhead_op_p50_ms") = Stats.median(tracedLat.toSeq) - Stats.median(plainLat.toSeq)
      LayerProbes.run(ctx, store, r)
      // the clock-step case on point_query; the write path on range_scan
      if (kind == Point) {
        clockStepProbe(ctx, store, now, r)
        r.notExercised("streaming.batch_p50_ms", "streaming.readings_per_s",
          "streaming.stored_bytes_per_reading", "streaming.jobs_per_batch",
          "streaming.trigger_ms", "streaming.add_batch_ms.tsd", "streaming.add_batch_ms.edo",
          "streaming.planning_ms", "streaming.commit_ms", "streaming.rows_per_batch",
          "operators.rollup_ladder_ms")
      } else {
        IngestLoad.probe(ctx, r)
        r.notExercised("sources.clock_step_fail_frac")
      }
    }
    Garage.deleteTree(store)
    r
  }

  private def fmtPct(p: Double): String =
    if (p == p.floor) p.toInt.toString else p.toString.replace('.', '_')

  /** The clock-step case: a copy of the store whose middle file has its
    * first block stamped by a clock six hours ahead. Queries over that
    * file are checked against the decode of the stepped bytes; a
    * mismatch here is the file-pruning defect showing, not a timed
    * operation failing. */
  private def clockStepProbe(ctx: Ctx, store: String, now: Instant, r: Result): Unit = {
    val dir = s"${ctx.runDir}/store-clockstep"
    Garage.copyStore(store, dir)
    val files = Garage.tsdFiles(dir)
    val f = Garage.stepClock(ctx.spark, dir, files.size / 2, 6 * 3600L)
    val o = StoreOracle.decode(dir)
    val (lo, hi) = Garage.fileSpan(f)
    val rng = new scala.util.Random(ctx.seed + 1)
    val probes = 12
    val bad = (0 until probes).count { _ =>
      val len = Garage.blockSpanSec * (1 + rng.nextInt(3))
      val start = lo + (rng.nextDouble() * (hi - lo - len)).toLong
      val q = Query.random(rng, Some(o.names(rng.nextInt(o.names.size))), Some(start), Some(start + len - 1))
      !Answer.matches(toAnswer(ask(ctx, dir, q, now, -1L)._1), o.answer(q, now.getEpochSecond))
    }
    r.metrics("sources.clock_step_fail_frac") = bad.toDouble / probes
    r.note("clock_step_fail_frac", bad.toDouble / probes, "ratio",
      s"$bad of $probes point queries over a file whose first block was stamped 6 h ahead")
    Garage.deleteTree(dir)
  }
}
