package perfbench

import java.io.{File, FileWriter, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.Files
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** A cold `graft.EtsdCmd query` child process, launched the way a user
  * runs the CLI: a fresh JVM on the project's classpath with the JVM
  * options of the root build's `run` task and no `SPARK_MASTER`. */
object Cli {
  /** The harness JVM's own options (the root build's `javaOptions`, which
    * `run.py` passes) minus its heap and temp directory. */
  def jvmOpts: Seq[String] =
    ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-Djava.io.tmpdir="))

  final case class Run(wallS: Double, stdout: String, stderrLines: Int,
                       launchMs: Long, exitMs: Long, events: Seq[(String, Long)]) {
    private def times(k: String) = events.collect { case (`k`, t) => t }
    /** Per-layer split of one traced run (ms, counts). */
    def layers: Map[String, Double] = {
      val jvm = times("jvm_start").headOption.getOrElse(launchMs)
      val ctx = times("app_start").headOption.getOrElse(jvm)
      val starts = times("job_start")
      val ends = times("job_end")
      val lastEnd = (ends ++ Seq(ctx)).max
      Map(
        "cli.wall_ms" -> wallS * 1000,
        "cli.jvm_to_context_ms" -> (ctx - jvm).toDouble,
        "cli.context_to_first_job_ms" -> (starts.headOption.getOrElse(ctx) - ctx).toDouble,
        "cli.jobs" -> starts.size.toDouble,
        "cli.job_ms" -> (ends.sum - starts.take(ends.size).sum).toDouble,
        "cli.exit_ms" -> (exitMs - lastEnd).toDouble,
        "cli.stderr_lines" -> stderrLines.toDouble)
    }
  }

  def run(store: String, q: Query, workDir: String, traced: Boolean): Run = {
    val dir = new File(workDir, "cli")
    Files.createDirectories(new File(dir, "tmp").toPath)
    val events = new File(dir, "events.tsv")
    val java = ProcessHandle.current().info().command().orElse("java")
    val cmd = Seq(java) ++ jvmOpts ++ Seq("-Xmx2g", s"-Djava.io.tmpdir=${dir.getAbsolutePath}/tmp") ++
      (if (traced) Seq("-Dspark.extraListeners=perfbench.CliListener",
        s"-D${CliListener.EventsProp}=${events.getAbsolutePath}") else Nil) ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.EtsdCmd", "query", store) ++ q.args
    val out = new File(dir, "stdout.txt")
    val err = new File(dir, "stderr.txt")
    val pb = new ProcessBuilder(cmd.asJava).directory(dir)
      .redirectOutput(out).redirectError(err)
    pb.environment().remove("SPARK_MASTER")
    val launchMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val p = pb.start()
    try {
      if (!p.waitFor(150, TimeUnit.SECONDS))
        throw new IllegalStateException(s"EtsdCmd query did not finish: ${q.args.mkString(" ")}")
    } finally if (p.isAlive) { p.destroyForcibly(); p.waitFor() }
    val wall = (System.nanoTime() - t0) / 1e9
    val exitMs = System.currentTimeMillis()
    require(p.exitValue() == 0,
      s"EtsdCmd query exited ${p.exitValue()}: ${Files.readString(err.toPath).takeRight(2000)}")
    val ev = if (events.exists()) Files.readAllLines(events.toPath).asScala.toSeq
      .map(_.split('\t')).collect { case Array(k, t) => (k, t.toLong) } else Nil
    Run(wall, Files.readString(out.toPath),
      Files.readAllLines(err.toPath).size, launchMs, exitMs, ev)
  }
}

/** Listener for the CLI child JVM (`-Dspark.extraListeners`): appends
  * `event\twall-ms` lines to the file named by [[CliListener.EventsProp]]. */
final class CliListener extends SparkListener {
  private val out = new PrintWriter(new FileWriter(System.getProperty(CliListener.EventsProp), true))
  private def emit(kind: String, t: Long): Unit = synchronized { out.println(s"$kind\t$t"); out.flush() }
  emit("jvm_start", ManagementFactory.getRuntimeMXBean.getStartTime)

  override def onApplicationStart(e: SparkListenerApplicationStart): Unit = emit("app_start", e.time)
  override def onJobStart(e: SparkListenerJobStart): Unit = emit("job_start", e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = emit("job_end", e.time)
  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = emit("app_end", e.time)
}

object CliListener {
  val EventsProp = "perfbench.cli.events"
}
