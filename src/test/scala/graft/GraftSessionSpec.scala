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
}
