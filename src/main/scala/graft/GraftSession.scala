package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{Filter, LoggerContext}
import org.apache.logging.log4j.core.config.LoggerConfig
import org.apache.logging.log4j.core.filter.RegexFilter
import org.apache.spark.sql.SparkSession

/** The one way to build a graft session: Bench, Verify, the CLIs, the
  * tools and the shared test session all start from [[builder]], so a
  * timing taken by any of them runs under the same configuration. */
object GraftSession {
  /** Local cores: `SPARK_GRAFT_CPUS` if set, else the JVM's processors. */
  val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `SPARK_MASTER` (a deployment address) wins over `local[cores]`;
    * shuffle partitions follow `cores` either way. */
  def builder(app: String, cores: Int = GraftSession.cores): SparkSession.Builder = {
    quietExpectedWarns
    SparkSession.builder().appName(app)
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cores]"))
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config(queries.Tables.NanosConf, "true")
      // streaming checkpoints land on the LOCAL filesystem here, where
      // the default FileContext-based checkpoint manager's
      // rename-with-overwrite forks a subprocess per file
      // (RawLocalFileSystem.getFileLinkStatus → Shell/readlink — thread
      // dump in OPTIMIZATION_r16.md §streaming); the FileSystem-based
      // manager renames with a plain (still atomic on a POSIX FS)
      // File.renameTo. Measured 1.9–2.5× on every stateful fixture
      // replay. On HDFS/S3 deployments neither manager forks — override
      // the conf there if FileContext atomicity is preferred.
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing" +
          ".FileSystemBasedCheckpointFileManager")
      .config("spark.ui.enabled", "false")
  }

  /** The Spark logger one of whose WARNs every session drops. */
  private[graft] val SchedulerLogger = "org.apache.spark.scheduler.DAGScheduler"

  /** A Spark class's first log call installs Spark's log configuration,
    * which [[quietExpectedWarns]] must add to, not precede. */
  private object SparkLog extends org.apache.spark.internal.Logging {
    def configure(): Unit = log
  }

  /** Drops two WARNs that report expected events, and nothing else:
    *   - of [[SchedulerLogger]], "Failed to cancel job group <id>. Cannot
    *     find active jobs for it.": spark-sql 4.1's
    *     `MicroBatchExecution.stop` cancels its job group even when no job
    *     is running, so every stopped streaming query logged it;
    *   - of any logger, "RDD <n> was locally checkpointed, its lineage has
    *     been truncated and cannot be recomputed after unpersisting": every
    *     [[Pins]] release unpersists a local checkpoint, the trade its
    *     scaladoc documents. `RDD.unpersist` logs it under the RDD
    *     subclass's own logger, so this filter matches the message across
    *     the whole logging context.
    * Every other message passes, at the level its logger has. */
  private lazy val quietExpectedWarns: Unit = {
    SparkLog.configure()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    if (cfg.getLoggerConfig(SchedulerLogger).getName != SchedulerLogger)
      cfg.addLogger(SchedulerLogger, new LoggerConfig(SchedulerLogger, null, true))
    cfg.getLoggerConfig(SchedulerLogger).addFilter(RegexFilter.createFilter(
      "(?s)Failed to cancel job group .*\\. Cannot find active jobs for it\\.",
      null, false, Filter.Result.DENY, Filter.Result.NEUTRAL))
    cfg.addFilter(RegexFilter.createFilter(
      "(?s)RDD \\d+ was locally checkpointed, its lineage has been truncated " +
        "and cannot be recomputed after unpersisting",
      null, false, Filter.Result.DENY, Filter.Result.NEUTRAL))
    ctx.updateLoggers()
  }

  /** [[builder]]`(app).getOrCreate()` with WARN logging. */
  def apply(app: String): SparkSession = {
    val spark = builder(app).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
