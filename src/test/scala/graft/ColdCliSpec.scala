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

import graft.queries.EtsdQueryApi
import graft.queries.LocalQueryStores._
import graft.sources.{HadoopConfs, TsdIndex}

/** A cold `EtsdCmd query` process, launched as a user runs it: a fresh JVM
  * on this classpath with the build's JVM options. A point window is
  * answered with no SparkContext at all, as is the full span from the
  * `begin` default, which the sidecar supplies, of a store within
  * `TsdLocalScan.MaxBlocks` blocks; a window over the bound starts one,
  * and both print the whole-file decode's lines. The store is read through a file system
  * scheme that only `-Dspark.hadoop.*` registers, so both paths, and the
  * `dump` verb, must take their Hadoop configuration from those
  * properties. */
class ColdCliSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // the gauge store: 5 days is 1,800 blocks in 8 files; `overBound` holds
  // the windows the local fold declines
  private val schema = gaugeSchema
  private val span = gaugeSpan
  private val t0 = gaugeT0
  private lazy val store = exportStore(spark, schema,
    (0 until 5 * 1440).map(k => (t0 + 60L * k, "G", Some((k % 200).toLong), k % 11 != 0)),
    blocksPerFile = 256)
  private val bigNow = java.time.Instant.ofEpochSecond(overBoundEnd + 3600L)

  /** Runs `EtsdCmd <verb> <graftfs:on> args` in a child JVM, with `stdin`
    * as its input: exit code, stdout lines, and whether the child
    * constructed a SparkContext. */
  private def cli(args: Seq[String], verb: String = "query", stdin: String = "",
                  on: String = store): (Int, Seq[String], Boolean) = {
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
      "graft.EtsdCmd", verb, s"${SchemeLocalFs.Scheme}:$on") ++ args
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

  private def oracleLines(lo: Long, hi: Long, on: String = store): Seq[String] =
    oracle(on, "ave", Some("G"), lo, hi).toSeq.sortBy(_._1)
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
    val big = EtsdCmd.openStore(overBound, conf)
    assert(EtsdQueryApi.answer(conf, big, schema, Seq("c=g"), bigNow).isEmpty)
    assert(EtsdQueryApi.answer(conf, big, schema, Seq("s=begin+1h"), bigNow).isEmpty)
    // the 1,800-block store is within the bound: the same defaults answer
    // here, as the whole-file decode has them
    val listed = EtsdCmd.openStore(store, conf)
    val now = java.time.Instant.ofEpochSecond(t0 + 6 * 86400L)
    val begin = firstBlockTs(tsdFiles(store))
    def lines(args: Seq[String]) = EtsdQueryApi.answer(conf, listed, schema, args, now)
      .map(_.map { case (c, n, r) => EtsdCmd.queryLine(c, n, r) })
    assert(lines(Seq("q=ave", "c=g")).contains(oracleLines(begin, now.getEpochSecond)))
    assert(lines(Seq("q=ave", "c=g", "s=begin+1h"))
      .contains(oracleLines(begin + 3600L, now.getEpochSecond)))
    val lo = t0 + 3 * 86400L
    assert(EtsdQueryApi.answer(conf, listed, schema, window(lo, lo + 2 * span), now)
      .isDefined)
    // an hour from `begin`, the earliest block 1, is a few blocks of the
    // 1,800
    assert(lines(Seq("q=ave", "c=g", "s=begin", "e=begin+1h"))
      .contains(oracleLines(begin, begin + 3600L)))
  }

  test("an in-process query over a declined window lists its store once") {
    // the load's one listing serves `begin`, the declined local attempt
    // and the scan it then plans
    val key = s"fs.${CountingFs.Scheme}.impl"
    spark.conf.set(key, classOf[CountingFs].getName)
    try {
      val path = s"${CountingFs.Scheme}:$overBound"
      val begin = firstBlockTs(tsdFiles(overBound))
      Seq(window(t0 + 3600L, overBoundEnd) ->
            oracleLines(t0 + 3600L, overBoundEnd, overBound),
          Seq("q=ave", "c=g", "s=begin+1h") ->
            oracleLines(begin + 3600L, bigNow.getEpochSecond, overBound))
        .foreach { case (args, want) =>
          val df = load(spark, path)
          CountingFs.reset()
          val rows = EtsdQueryApi.query(df, schema, args, bigNow)
            .orderBy("channel").collect().toSeq
            .map(r => EtsdCmd.queryLine(r.getString(0), r.getLong(1), r.getDouble(2)))
          assert(rows == want, args)
          assert(CountingFs.calls("list", overBound) == 1, CountingFs.log)
          assert(CountingFs.calls("open", s"$overBound/${TsdIndex.FileName}") == 1,
            CountingFs.log)
        }
    } finally spark.conf.unset(key)
  }

  test("the CLI's distributed fallback lists its store at most twice") {
    // what a cold `EtsdCmd query` does once the core declines: the core's
    // listing, then the distributed plan over a session, here in-process;
    // the session load lists once for its `begin` and its scan
    val key = s"fs.${CountingFs.Scheme}.impl"
    spark.conf.set(key, classOf[CountingFs].getName)
    try {
      val path = s"${CountingFs.Scheme}:$overBound"
      val args = Seq("q=ave", "c=g", "s=begin+1h")
      CountingFs.reset()
      val conf = spark.sessionState.newHadoopConf()
      val listed = EtsdCmd.openStore(path, conf)
      assert(EtsdQueryApi.answer(conf, listed, listed.schema, args, bigNow).isEmpty)
      val rows = EtsdQueryApi.queryDistributed(load(spark, path), schema, args, bigNow)
        .orderBy("channel").collect().toSeq
        .map(r => EtsdCmd.queryLine(r.getString(0), r.getLong(1), r.getDouble(2)))
      val begin = firstBlockTs(tsdFiles(overBound))
      assert(rows == oracleLines(begin + 3600L, bigNow.getEpochSecond, overBound))
      assert(CountingFs.calls("list", overBound) <= 2, CountingFs.log)
      assert(CountingFs.calls("open", s"$overBound/${TsdIndex.FileName}") <= 2,
        CountingFs.log)
    } finally spark.conf.unset(key)
  }

  test("the distributed plan probes an unindexed file in its job alone") {
    // `begin` of a store whose sidecar lacks two files comes from the
    // load's one probe job, whose entries the scan then plans with: each
    // of those files is opened by that job and by the scan's read, never
    // on the driver
    val dir = copyStore(overBound)
    val dropped = tsdFiles(dir).take(2).map(_.getFileName.toString)
    TsdIndex.merge(spark, dir, Nil, drop = dropped.toSet)
    val key = s"fs.${CountingFs.Scheme}.impl"
    spark.conf.set(key, classOf[CountingFs].getName)
    try {
      val df = load(spark, s"${CountingFs.Scheme}:$dir")
      CountingFs.reset()
      val rows = EtsdQueryApi.queryDistributed(df, schema, Seq("q=ave", "c=g", "s=begin+1h"),
          bigNow).orderBy("channel").collect().toSeq
        .map(r => EtsdCmd.queryLine(r.getString(0), r.getLong(1), r.getDouble(2)))
      val begin = firstBlockTs(tsdFiles(dir))
      assert(rows == oracleLines(begin + 3600L, bigNow.getEpochSecond, dir))
      dropped.foreach { name =>
        assert(CountingFs.driverCalls("open", s"$dir/$name") == 0, CountingFs.log)
        assert(CountingFs.calls("open", s"$dir/$name") == 2, CountingFs.log)
      }
    } finally spark.conf.unset(key)
  }

  test("a cold point query starts no SparkContext; a long window does") {
    val lo = t0 + 2 * 86400L + 7 * span
    val point = cli(window(lo, lo + 2 * span - 1))
    assert(point._1 == 0)
    assert(point._2 == oracleLines(lo, lo + 2 * span - 1))
    assert(!point._3, "the point query constructed a SparkContext")

    val long = cli(window(t0 + 3600L, overBoundEnd), on = overBound)
    assert(long._1 == 0)
    assert(long._2 == oracleLines(t0 + 3600L, overBoundEnd, overBound))
    assert(long._3, "a window over MaxBlocks must start Spark")
  }

  test("a cold full-span query starts no SparkContext") {
    // begin..now over all 1,800 blocks: within the bound, folded in the
    // child with no session
    val begin = firstBlockTs(tsdFiles(store))
    val (code, out, started) = cli(Seq("q=ave", "c=g"))
    assert(code == 0)
    assert(out == oracleLines(begin, Long.MaxValue))
    assert(!started, "the full-span query constructed a SparkContext")
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
