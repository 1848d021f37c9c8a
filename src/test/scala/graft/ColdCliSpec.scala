package graft

import java.io.File
import java.lang.management.ManagementFactory
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.RawLocalFileSystem
import org.apache.spark.scheduler.SparkListener
import org.scalatest.funsuite.AnyFunSuite

import graft.model.{ChannelConfig, EtsdSchema, StreamType}
import graft.queries.EtsdQueryApi
import graft.queries.LocalQueryStores._
import graft.sources.{HadoopConfs, TsdIndex}

/** A cold `EtsdCmd query` process, launched as a user runs it: a fresh JVM
  * on this classpath with the build's JVM options. A point window is
  * answered with no SparkContext at all, as is an hour from the `begin`
  * default, which the sidecar supplies; a window over
  * `TsdLocalScan.MaxBlocks` blocks starts one, and both print the
  * whole-file decode's lines. The store is read through a file system
  * scheme that only `-Dspark.hadoop.*` registers, so both paths, and the
  * `dump` verb, must take their Hadoop configuration from those
  * properties. */
class ColdCliSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // one gauge, 60 s cadence, 240 s blocks, 256-block files on a file-span
  // grid: 5 days is 1,800 blocks in 8 files
  private val schema = EtsdSchema(Seq(ChannelConfig("G", StreamType.HalfS)),
    intervalSec = 60, blockIntervals = 4)
  private val span = 240L
  private val t0 = 256 * span * 27670L
  private lazy val store = exportStore(spark, schema,
    (0 until 5 * 1440).map(k => (t0 + 60L * k, "G", Some((k % 200).toLong), k % 11 != 0)),
    blocksPerFile = 256)

  /** Runs `EtsdCmd <verb> <graftfs:store> args` in a child JVM, with
    * `stdin` as its input: exit code, stdout lines, and whether the child
    * constructed a SparkContext. */
  private def cli(args: Seq[String], verb: String = "query",
                  stdin: String = ""): (Int, Seq[String], Boolean) = {
    val dir = Files.createTempDirectory("coldcli")
    val marker = dir.resolve("context-started")
    val in = Files.writeString(dir.resolve("stdin.txt"), stdin).toFile
    val out = dir.resolve("stdout.txt").toFile
    val err = dir.resolve("stderr.txt").toFile
    val jvmOpts = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-Djava.io.tmpdir="))
    val java = ProcessHandle.current().info().command().orElse("java")
    val cmd = Seq(java) ++ jvmOpts ++ Seq("-Xmx1g", s"-Djava.io.tmpdir=$dir",
      s"-Dspark.extraListeners=${classOf[ContextMarker].getName}",
      s"-D${ContextMarker.Prop}=$marker",
      s"-Dspark.hadoop.fs.${SchemeLocalFs.Scheme}.impl=${classOf[SchemeLocalFs].getName}",
      "-cp", System.getProperty("java.class.path"),
      "graft.EtsdCmd", verb, s"${SchemeLocalFs.Scheme}:$store") ++ args
    val pb = new ProcessBuilder(cmd.asJava).directory(dir.toFile)
      .redirectInput(in).redirectOutput(out).redirectError(err)
    pb.environment().remove("SPARK_MASTER")
    pb.environment().put("SPARK_GRAFT_CPUS", "2")
    val p = pb.start()
    try assert(p.waitFor(150, TimeUnit.SECONDS), s"EtsdCmd query $args hung")
    finally if (p.isAlive) { p.destroyForcibly(); p.waitFor() }
    if (p.exitValue() != 0) info(Files.readString(err.toPath).takeRight(2000))
    (p.exitValue(), Files.readAllLines(out.toPath).asScala.toSeq,
      Files.exists(marker))
  }

  private def oracleLines(lo: Long, hi: Long): Seq[String] =
    oracle(store, "ave", Some("G"), lo, hi).toSeq.sortBy(_._1)
      .map { case (c, (n, r)) => EtsdCmd.queryLine(c, n, r) }

  private def window(lo: Long, hi: Long): Seq[String] =
    Seq("q=ave", "c=g", s"s=${iso(lo)}", s"e=${iso(hi)}")

  test("spark.hadoop.* JVM properties reach the session-free configuration") {
    val conf = HadoopConfs.standalone(Map(
      "spark.hadoop.fs.x.impl" -> "a.B", "spark.sql.y" -> "1", "fs.z" -> "2"))
    assert(conf.get("fs.x.impl") == "a.B")
    assert(conf.get("spark.sql.y") == null && conf.get("fs.z") == null)
  }

  test("the core reads begin from the sidecar of a large store") {
    val conf = HadoopConfs.standalone()
    val listed = EtsdCmd.openStore(store, conf)
    val now = java.time.Instant.ofEpochSecond(t0 + 6 * 86400L)
    assert(EtsdQueryApi.answer(conf, listed, Seq("c=g"), now).isEmpty)
    assert(EtsdQueryApi.answer(conf, listed, Seq("s=begin+1h"), now).isEmpty)
    val lo = t0 + 3 * 86400L
    assert(EtsdQueryApi.answer(conf, listed, window(lo, lo + 2 * span), now)
      .isDefined)
    // an hour from `begin`, the earliest block 1, is a few blocks of the
    // 1,800: answered here, as the whole-file decode has it
    val begin = firstBlockTs(tsdFiles(store))
    val got = EtsdQueryApi.answer(conf, listed, Seq("q=ave", "c=g", "s=begin", "e=begin+1h"), now)
    assert(got.map(_.map { case (c, n, r) => EtsdCmd.queryLine(c, n, r) })
      .contains(oracleLines(begin, begin + 3600L)))
  }

  test("the CLI's distributed fallback lists its store at most 3 times") {
    // what a cold `EtsdCmd query` does once the core declines: the core's
    // listing, then the distributed plan over a session, here in-process
    val key = s"fs.${CountingFs.Scheme}.impl"
    spark.conf.set(key, classOf[CountingFs].getName)
    try {
      val path = s"${CountingFs.Scheme}:$store"
      val args = Seq("q=ave", "c=g", "s=begin+1h")
      val now = java.time.Instant.ofEpochSecond(t0 + 6 * 86400L)
      CountingFs.reset()
      val conf = spark.sessionState.newHadoopConf()
      assert(EtsdQueryApi.answer(conf, EtsdCmd.openStore(path, conf), args, now).isEmpty)
      val rows = EtsdQueryApi.queryDistributed(load(spark, path), schema, args, now)
        .orderBy("channel").collect().toSeq
        .map(r => EtsdCmd.queryLine(r.getString(0), r.getLong(1), r.getDouble(2)))
      val begin = firstBlockTs(tsdFiles(store))
      assert(rows == oracleLines(begin + 3600L, now.getEpochSecond))
      assert(CountingFs.calls("list", store) <= 3, CountingFs.log)
      assert(CountingFs.calls("open", s"$store/${TsdIndex.FileName}") <= 3, CountingFs.log)
    } finally spark.conf.unset(key)
  }

  test("a cold point query starts no SparkContext; a long window does") {
    val lo = t0 + 2 * 86400L + 7 * span
    val point = cli(window(lo, lo + 2 * span - 1))
    assert(point._1 == 0)
    assert(point._2 == oracleLines(lo, lo + 2 * span - 1))
    assert(!point._3, "the point query constructed a SparkContext")

    val long = cli(window(t0 + 3600L, t0 + 4 * 86400L))
    assert(long._1 == 0)
    assert(long._2 == oracleLines(t0 + 3600L, t0 + 4 * 86400L))
    assert(long._3, "a window over MaxBlocks must start Spark")
  }

  test("dump reads the store through the session-free configuration") {
    val one = cli(Seq("2"), verb = "dump")
    assert(one._1 == 0 && !one._3)
    assert(one._2 == EtsdCmd.dumpSector(store, 2).linesIterator.toSeq)

    val keys = "n\np\nn\nq\n"
    val walked = cli(Seq("1", "i"), verb = "dump", stdin = keys)
    val want = new java.lang.StringBuilder
    EtsdCmd.dumpInteractive(store, 1,
      new java.io.BufferedReader(new java.io.StringReader(keys)), want)
    assert(walked._1 == 0 && !walked._3)
    assert(walked._2 == want.toString.linesIterator.toSeq)
    assert("Block: #".r.findAllIn(walked._2.mkString("\n")).size == 4)
  }
}

/** Writes the file named by [[ContextMarker.Prop]] when a SparkContext
  * constructs it (`-Dspark.extraListeners`). */
final class ContextMarker extends SparkListener {
  Files.write(Paths.get(System.getProperty(ContextMarker.Prop)), Array.emptyByteArray)
}

object ContextMarker {
  val Prop = "graft.test.contextMarker"
}

/** The local file system under its own scheme, [[SchemeLocalFs.Scheme]],
  * which Hadoop resolves only through `fs.<scheme>.impl`. */
final class SchemeLocalFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${SchemeLocalFs.Scheme}:///")
  override def getScheme: String = SchemeLocalFs.Scheme
}

object SchemeLocalFs {
  val Scheme = "graftfs"
}
