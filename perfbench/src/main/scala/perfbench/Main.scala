package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one run hands back to `run.py`: operation counts, every metric it
  * measured (end-to-end and per-layer; `run.py` picks the set the trace
  * mode asks for), and report lines for metrics that only some workloads
  * have. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val report = mutable.ArrayBuffer.empty[(String, Double, String, String)]

  def note(name: String, value: Double, unit: String, detail: String = ""): Unit =
    report += ((name, value, unit, detail))

  /** Per-layer metrics of layers this workload never calls: zero work. */
  def notExercised(names: String*): Unit = names.foreach(metrics(_) = 0.0)

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def json: String =
    s"""{"attempted":$attempted,"failed":$failed,"metrics":{""" +
      metrics.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString(",") +
      """},"report":[""" + report.map { case (n, v, u, d) =>
        s"[${str(n)},${num(v)},${str(u)},${str(d)}]" }.mkString(",") + "]}"
}

/** Everything a workload needs: the session, where to write, the seed,
  * how long to measure, and the tracing hooks. */
final class Ctx(val spark: SparkSession, val runDir: String, val seed: Long,
                val seconds: Int, val traced: Boolean, val sessionS: Double) {
  val tracer = new Tracer
  val listener: Option[OpListener] =
    if (traced) Some(new OpListener) else None
  listener.foreach(spark.sparkContext.addSparkListener)

  /** Total ms of the spans called `name`. */
  def spanMs(name: String): Double =
    tracer.all.filter(_.name == name).map(_.durNs).sum / 1e6

  /** In a traced run, operations are traced in alternate blocks of four
    * (whole cycles of every query stream's shapes); the untraced blocks
    * give the run's own untraced baseline, so the difference is the
    * tracing overhead. */
  def traceOp(op: Long): Boolean = traced && (op / 4) % 2 == 1

  def deadlineNs: Long = System.nanoTime() + seconds * 1000000000L

  /** Tag the Spark jobs the client thread starts next. */
  def tag(op: Long, phase: String): Unit = {
    tracer.op = op
    spark.sparkContext.setLocalProperty(OpListener.OpKey, op.toString)
    spark.sparkContext.setLocalProperty(OpListener.PhaseKey, phase)
  }
}

object Main {
  private val t0 = System.nanoTime()
  /** Phase marks on stderr (the run log), seconds since JVM start of main. */
  def mark(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2f s  $what")

  val Workloads: Seq[String] = Seq("point_query", "range_scan")
  /** Span layers: the benchmark's operation, then the engine's modules. */
  val Layers: Seq[String] =
    Seq("workload", "queries", "sources", "spark", "codec", "streaming", "operators")

  def session(runDir: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder().appName("perfbench").master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing" +
          ".FileSystemBasedCheckpointFileManager")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload '$workload'")
    val runDir = new File(opts("run-dir")).getAbsolutePath
    Files.createDirectories(Paths.get(runDir))
    val t0 = System.nanoTime()
    val spark = session(runDir)
    mark("session up")
    val ctx = new Ctx(spark, runDir, opts("seed").toLong, opts("seconds").toInt,
      opts("trace") == "1", (System.nanoTime() - t0) / 1e9)
    try {
      val r = Reads.run(ctx, if (workload == "point_query") Reads.Point else Reads.Range)
      if (ctx.traced) {
        Files.writeString(Paths.get(opts("trace-out")), ctx.tracer.json)
        // self time per operation, over the measured loop's spans only
        val opSpans = ctx.tracer.all.filter(_.op >= 0)
        val ops = math.max(1, opSpans.map(_.op).distinct.size)
        val self = Tracer.selfMsByLayer(opSpans)
        Layers.foreach(l => r.metrics(s"trace.self_ms_per_op.$l") = self.getOrElse(l, 0.0) / ops)
        r.metrics("trace.spans") = ctx.tracer.all.size.toDouble
      }
      Files.writeString(Paths.get(opts("result")), r.json)
    } finally spark.stop()
  }
}
