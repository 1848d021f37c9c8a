package graft
import org.apache.spark.sql.SparkSession
import graft.operators.{DedupOps, DedupStats}
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession("bench")
    warmUp(spark, sfDir)
    // fixed calibration query: a constant-size in-memory shuffle+agg with
    // zero dependence on the corpus or on any graft operator, timed with
    // the same min-of-3 discipline as the battery and reported as
    // `calib_s`. Round-over-round bench swings divide out against it:
    // a JVM/box-state shift moves calib_s by the same multiplier as the
    // board (r13 burned a worktree A/B proving a uniform ~1.4× swing was
    // box state — this makes the next one readable from the artifact).
    // Run AGAIN at battery end (`calib_end_s`): a box-state shift that
    // arrives MID-battery (the r14 driver run, where one query ate a
    // 50× spike the start-of-run calib never saw) is then readable from
    // the artifact as calib_start ≠ calib_end, and each query's
    // `epoch_s` stamp (below) places it before or after the shift.
    def calibrate(): (Double, Double) = timeQuery { () =>
      spark.sparkContext.setJobDescription("bench:calib")
      import org.apache.spark.sql.functions._
      spark.range(64L * 1000 * 1000)
        .select(pmod(col("id") * 2654435761L, lit(9973L)).as("k"), col("id"))
        .groupBy("k").agg(sum(col("id")).as("s"), count(lit(1)).as("n"))
    }
    val (calibBuild, calibExec) = calibrate()
    val batteryT0 = System.nanoTime()
    // per query: one untimed warmup (plan construction + first count —
    // absorbs JIT/page-cache first-touch noise that dominated sub-second
    // queries: identical code swung 7× between rounds on min-of-2), then
    // min of 3 timed iterations. Any throw — at construction or in a
    // timed run — reports the -1 sentinel so a broken query shows up as
    // a visible failure rather than an implausibly fast ~0s success.
    val caps = new DedupStats.CapCensus
    val epochRows = scala.collection.mutable.LinkedHashMap[String, Double]()
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      // wall epoch (seconds since battery start) at which this query's
      // timing began — with calib_start/calib_end this localizes a
      // mid-run box-state spike to its time window from the artifact
      epochRows(name) =
        math.rint((System.nanoTime() - batteryT0) / 1e7) / 100.0
      // build the plan once (the streaming and iterative queries do real
      // work at construction — that cost lands in the warmup, matching
      // the steady-state cost a resident engine would see); the timed
      // iterations reuse the warmup's operator pins, then the query's
      // pins are released at its boundary — no cache accretion
      spark.sparkContext.setJobDescription(s"bench:$name")
      val (best, census) = Pins.scoped {
        timeQueryCensus(() => fn(spark, sfDir))
      }
      // exact per-query cap-split counters of the build run (the capped
      // generators' deliberate trade must be a diffable round artifact,
      // not a stderr line)
      census.foreach(caps.record(name, _))
      name -> best
    } // keep the name-sorted Seq: stable JSON field order run-to-run
    val qs = results.map { case (k, (_, e)) => s"\"" + k + "\":" + e }
      .mkString("{", ",", "}")
    val builds = results.map { case (k, (b, _)) => s"\"" + k + "\":" + b }
      .mkString("{", ",", "}")
    val (calibEndBuild, calibEndExec) = calibrate()
    val epochs = epochRows.map { case (k, e) => s"\"" + k + "\":" + e }
      .mkString("{", ",", "}")
    val total = results.map(_._2._2).filter(_ >= 0).sum
    val buildTotal = results.map(_._2._1).filter(_ >= 0).sum
    val full = s"""{"metric":"total","value":$total,"unit":"sec","build_total":$buildTotal,"calib_s":$calibExec,"calib_build_s":$calibBuild,"calib_end_s":$calibEndExec,"calib_end_build_s":$calibEndBuild,"queries":$qs,"build_s":$builds,"epoch_s":$epochs,"cap_drops":${caps.dropsJson},"cap_splits":${caps.splitsJson},"sf":"$sfDir"}"""
    println(full)
    // The driver captures only a 2000-char tail of this stdout; the full
    // line above is ~10k chars (122 query names alone exceed the budget),
    // so it can never arrive whole. Persist the complete timing JSON as a
    // repo artifact, and end stdout with a compact line that fits the tail
    // intact so a tail-parse sees one complete JSON object.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.props.getOrElse("user.dir", "."), "BENCH_FULL.json"), full + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] BENCH_FULL.json write failed: $e") }
    val failed = results.filter(_._2._2 < 0).map(_._1)
    // cap the inline list so this line always fits the 2000-char tail,
    // even in a mass-failure round; the full set is in BENCH_FULL.json
    val failedJson = failed.take(12).map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","n_queries":${results.size},"n_failed":${failed.size},"failed":$failedJson,"calib_s":$calibExec,"calib_end_s":$calibEndExec,"queries_file":"BENCH_FULL.json"}""")
    spark.stop()
  }

  /** Absorb one-time session/JIT/parquet-footer warmup outside the
    * per-query timings (the first query otherwise eats ~4 s of JVM
    * warmup); the second probe JIT-warms the md5/conv/higher-order-
    * function interpreter paths the text/dedup queries run on. Shared
    * with `tools.BenchOne` so its timings start from the same state. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    try {
      DedupOps.minHashSignatures(DedupOps.shingleHashArrays(
        queries.Tables.table(spark, sfDir, "documents").limit(64),
        $"doc_id", $"text")).count()
    } catch { case _: Throwable => }
  }

  /** One query's honest timing pair: `build_s` = plan construction plus
    * the FIRST execution (for the export/streaming/index-building
    * entries this is where the real work happens — fixture feeds, .tsd
    * writes, k-means training; it also absorbs JIT/page-cache
    * first-touch), `exec_s` = min of 3 re-executions of the built plan
    * (the steady-state cost a resident engine pays per query). The
    * headline total sums exec_s; BENCH_FULL.json carries both so
    * build-heavy entries can't hide behind re-execution. (-1,-1)
    * sentinel on any throw — at construction or in a timed run — so a
    * broken query shows as a visible failure, not a ~0 s success.
    * Package-visible so BenchSpec can exercise the failure path. */
  private[graft] def timeQuery(build: () => org.apache.spark.sql.DataFrame)
      : (Double, Double) = timeQueryCensus(build)._1

  /** [[timeQuery]] plus the cap-split census (`DedupStats.census`) of
    * the build run alone, None on a throw. The census's
    * listener drains fall outside both timed regions. */
  private[graft] def timeQueryCensus(build: () => org.apache.spark.sql.DataFrame)
      : ((Double, Double), Option[(Long, Long, Long)]) =
    try {
      val ((df, buildS), splits) = DedupStats.census(SparkSession.active) {
        val t0 = System.nanoTime()
        val df = build()
        df.count()
        (df, (System.nanoTime() - t0) / 1e9)
      }
      // distinguish the timed exec jobs from the build/warmup jobs in the
      // event log / UI (guide §1.5); thread-local, reset by the next query
      val sc = df.sparkSession.sparkContext
      val desc = Option(sc.getLocalProperty("spark.job.description"))
      desc.foreach(d => sc.setJobDescription(s"$d:exec"))
      // restore in a finally: a throwing timed count must not leave the
      // stale `…:exec` label on the thread, or every subsequent query's
      // event-log attribution lands under the wrong label
      val times =
        try (1 to 3).map { _ =>
          val t1 = System.nanoTime()
          df.count()
          (System.nanoTime() - t1) / 1e9
        } finally desc.foreach(sc.setJobDescription)
      ((buildS, times.min), Some(splits))
    } catch { case _: Throwable => ((-1.0, -1.0), None) }
}
