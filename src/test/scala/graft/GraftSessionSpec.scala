package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every session is built by [[GraftSession]]: the shared test session
  * carries the factory's settings, and no other source file builds a
  * session of its own (a second builder is where configurations drift). */
class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("the test session carries the factory's settings") {
    // resolves only when GraftExtensions is installed (values: Md5Long60Spec)
    assert(!spark.sql("SELECT graft_h60('abc')").head().isNullAt(0))
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get(queries.Tables.NanosConf) == "true")
    assert(spark.conf.get("spark.sql.streaming.checkpointFileManagerClass")
      .endsWith(".FileSystemBasedCheckpointFileManager"))
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "2")
  }

  test("only GraftSession.scala calls the session builder") {
    val roots = Seq("src/main/scala", "src/test/scala")
      .map(Paths.get(sys.props("user.dir"), _))
    roots.foreach(r => assert(Files.isDirectory(r), s"$r not found"))
    val builders = roots.flatMap { r =>
      val files = Files.walk(r)
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.filter { (f: Path) =>
      Files.readString(f).contains("SparkSession" + ".builder")
    }.map(_.getFileName.toString)
    assert(builders == Seq("GraftSession.scala"))
  }

  test("a stopped streaming query logs no idle job-group cancel; " +
      "other DAGScheduler WARNs still log") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val own = ctx.getConfiguration.getLoggerConfig(GraftSession.SchedulerLogger)
    assert(own.getName == GraftSession.SchedulerLogger)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("capture-dag", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    // the test session logs at ERROR; this logger logs WARN for the test
    own.addAppender(capture, Level.WARN, null)
    own.setLevel(Level.WARN)
    ctx.updateLoggers()
    try {
      import spark.implicits._
      implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = MemoryStream[Long]
      mem.addData(1L, 2L, 3L)
      val got = graft.queries.StreamFixture.collect(spark, "idle_cancel_probe",
        mem.toDF())(_.processAllAvailable())
      assert(got.count() == 3)
      // a task binary over 1 MiB draws the scheduler's own WARN
      val big = new Array[Byte](2 << 20)
      assert(spark.sparkContext.parallelize(Seq(1), 1)
        .map(_ + big.length).collect().head == (2 << 20) + 1)
    } finally {
      own.setLevel(null)
      own.removeAppender("capture-dag")
      ctx.updateLoggers()
      capture.stop()
    }
    val msgs = seen.asScala.toSeq
    assert(!msgs.exists(_.contains("Cannot find active jobs")), msgs)
    assert(msgs.exists(_.startsWith("Broadcasting large task binary")), msgs)
  }

  test("releasing a pin logs no locally-checkpointed WARN; " +
      "other WARNs of the RDD's logger still log") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    import org.apache.spark.sql.execution.LogicalRDD

    // a pin's checkpointed RDD is a MapPartitionsRDD, which logs under
    // its own class name
    val name = "org.apache.spark.rdd.MapPartitionsRDD"
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    assert(cfg.getLoggerConfig(name).getName != name)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("capture-rdd", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val own = new LoggerConfig(name, Level.WARN, false)
    own.addAppender(capture, Level.WARN, null)
    cfg.addLogger(name, own)
    ctx.updateLoggers()
    try {
      val pinned = Pins.pin(spark.range(100).selectExpr("id * 2 AS v"))
      val rdd = pinned.queryExecution.analyzed.collectFirst {
        case lr: LogicalRDD => lr.rdd
      }
      assert(rdd.exists(_.isCheckpointed), pinned.queryExecution.analyzed)
      assert(rdd.get.getClass.getName == name)
      Pins.releaseAll()
      org.slf4j.LoggerFactory.getLogger(name).warn("another RDD warning")
    } finally {
      cfg.removeLogger(name)
      ctx.updateLoggers()
      capture.stop()
    }
    val msgs = seen.asScala.toSeq
    assert(!msgs.exists(_.contains("was locally checkpointed")), msgs)
    assert(msgs == Seq("another RDD warning"), msgs)
  }
}
