package graft

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
}
