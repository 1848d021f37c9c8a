package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark-backed specs. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("graft-test", cores = 2)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Spark jobs started while `f` runs, of those `pick` accepts. */
  def jobsOf(f: => Unit, pick: SparkListenerJobStart => Boolean = _ => true): Int = {
    val jobs = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (pick(j)) jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      f
      org.apache.spark.graftbridge.ListenerBridge
        .waitUntilEmpty(spark.sparkContext, 10000L)
    } finally spark.sparkContext.removeSparkListener(l)
    jobs.get()
  }
}
