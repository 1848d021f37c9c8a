package graft

import java.io.ByteArrayOutputStream
import java.net.URI
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalatest.funsuite.AnyFunSuite

import graft.codec.{BlockBuffer, EtsdDecoder}
import graft.queries.EtsdQueryApi
import graft.queries.LocalQueryStores._
import graft.sources.TsdIndex

/** Every `.tsd` reader resolves a store path by the one rule of
  * `TsdIndex.listStore`: a store of rotated files (`garage.tsd.<epoch>`,
  * the reference's `etsdRotate` names) answers `query`, `examine` and
  * `dump` like the scan reads it, and one `EtsdCmd query` lists its store
  * once and reads its sidecar at most once. */
class StoreListingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val store = exportStore(spark, mixedSchema, mixedRows, blocksPerFile = 8)

  private val span = mixedSchema.intervalSec.toLong * mixedSchema.blockIntervals
  private val tEnd = mixedT0 + 10L * mixedIntervals
  private val now = Instant.ofEpochSecond(tEnd + 3600L)

  /** A copy of the store whose files carry only rotated names, with no
    * sidecar: each `etsd-<epoch>.tsd` becomes `garage.tsd.<epoch>`. */
  private lazy val rotated: String = {
    val dir = Files.createTempDirectory("rotated")
    tsdFiles(store).foreach { f =>
      val epoch = f.getFileName.toString.stripPrefix("etsd-").stripSuffix(".tsd").toLong
      Files.copy(f, dir.resolve(s"garage.tsd.$epoch"), StandardCopyOption.COPY_ATTRIBUTES)
    }
    dir.toString
  }

  /** A copy of the store as the reference daemon leaves it: the newest
    * file live under the bare name `garage.tsd`, which sorts before the
    * older, rotated `garage.tsd.<epoch>` files; with a sidecar when
    * `indexed`. */
  private def live(indexed: Boolean): String = {
    val dir = Files.createTempDirectory("live")
    val files = tsdFiles(store)
    files.foreach { f =>
      val epoch = f.getFileName.toString.stripPrefix("etsd-").stripSuffix(".tsd").toLong
      val name = if (f == files.last) "garage.tsd" else s"garage.tsd.$epoch"
      Files.copy(f, dir.resolve(name), StandardCopyOption.COPY_ATTRIBUTES)
    }
    if (indexed) TsdIndex.write(spark, dir.toString)
    dir.toString
  }

  /** What `EtsdCmd.main(args)` prints. */
  private def stdout(args: String*): Seq[String] = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(buf)(EtsdCmd.main(args.toArray))
    buf.toString("UTF-8").linesIterator.toSeq
  }

  private def lines(a: Map[String, (Long, Double)]): Seq[String] =
    a.toSeq.sortBy(_._1).map { case (c, (n, r)) => EtsdCmd.queryLine(c, n, r) }

  /** (arguments, verb, channel, lo, hi): a point window, a `begin`
    * default, and a window from `begin+5m`. */
  private lazy val windows: Seq[(Seq[String], String, Option[String], Long, Long)] = {
    val lo = mixedT0 + 9 * span
    val begin = load(spark, store)
      .agg(org.apache.spark.sql.functions.min("ts")).head().getTimestamp(0)
      .toInstant.getEpochSecond
    Seq(
      (Seq("q=ave", "c=temp", s"s=${iso(lo)}", s"e=${iso(lo + 2 * span - 1)}"),
        "ave", Some("Temp"), lo, lo + 2 * span - 1),
      (Seq("q=tot", s"e=${iso(tEnd)}"), "tot", None, Long.MinValue, tEnd),
      (Seq("q=max", "c=odo", "s=begin+5m", s"e=${iso(tEnd)}"), "max", Some("Odo"),
        begin + 300L, tEnd))
  }

  test("a store of rotated files answers query, examine and dump") {
    val names = Files.list(Paths.get(rotated)).iterator().asScala
      .map(_.getFileName.toString).filterNot(_.startsWith(".")).toSeq
    assert(names.size >= 6 && names.forall(_.startsWith("garage.tsd.")), names)

    assert(EtsdCmd.loadSchema(rotated) == mixedSchema)
    val blocks = tsdFiles(store).map(f => Files.size(f) / BlockBuffer.BlockSize - 1).sum
    assert(EtsdCmd.examine(rotated).contains(s"$blocks data blocks"))
    val first = tsdFiles(store).head
    val firstBlock = EtsdDecoder.decodeFile(Files.readAllBytes(first))._2.head.tsEpoch
    assert(EtsdCmd.dumpSector(rotated, 1).startsWith(s"sector 1 ts=$firstBlock "))
    assert(stdout("dump", rotated, "0").head == "sector 0 (header)")

    windows.foreach { case (args, verb, chan, lo, hi) =>
      val printed = stdout(Seq("query", rotated) ++ args: _*)
      val scan = answer(EtsdQueryApi.queryDistributed(load(spark, rotated),
        mixedSchema, args, now))
      assert(scan.nonEmpty, args)
      assert(printed == lines(scan), s"$args: CLI lines vs the DSv2 scan")
      assert(scan == oracle(store, verb, chan, lo, hi), s"$args: scan vs decodeFile")
    }
  }

  test("begin is the oldest rotated file's block 1, not the live file's") {
    val files = tsdFiles(store)
    val begin = firstBlockTs(files)
    assert(begin < firstBlockTs(files.takeRight(1)))
    val args = Seq("q=max", "c=odo", "s=begin", "e=begin+5m")
    val want = oracle(store, "max", Some("Odo"), begin, begin + 300L)
    assert(want.nonEmpty)
    // no sidecar: each file's own block 1 is read
    val bare = live(indexed = false)
    assert(stdout(Seq("query", bare) ++ args: _*) == lines(want))
    assert(answer(EtsdQueryApi.queryDistributed(load(spark, bare), mixedSchema, args,
      now)) == want)
    // with a sidecar, `begin` comes from it: of the data files, only the
    // schema's header and the window's first file or two are opened
    val indexed = live(indexed = true)
    val prop = s"spark.hadoop.fs.${CountingFs.Scheme}.impl"
    System.setProperty(prop, classOf[CountingFs].getName)
    try {
      CountingFs.reset()
      assert(stdout(Seq("query", s"${CountingFs.Scheme}:$indexed") ++ args: _*) == lines(want))
      assert(CountingFs.calls("open", s"$indexed/garage.tsd") == 1, CountingFs.log)
      assert(CountingFs.opened.count(_.startsWith(s"$indexed/garage.tsd")) <= 3, CountingFs.log)
    } finally System.clearProperty(prop)
  }

  test("one EtsdCmd query lists its store once and reads its sidecar at most once") {
    val prop = s"spark.hadoop.fs.${CountingFs.Scheme}.impl"
    System.setProperty(prop, classOf[CountingFs].getName)
    try windows.foreach { case (args, _, _, _, _) =>
      val want = lines(answer(EtsdQueryApi.queryDistributed(load(spark, store),
        mixedSchema, args, now)))
      CountingFs.reset()
      assert(stdout(Seq("query", s"${CountingFs.Scheme}:$store") ++ args: _*) == want)
      assert(CountingFs.calls("list", store) == 1, CountingFs.log)
      assert(CountingFs.calls("open", s"$store/${TsdIndex.FileName}") <= 1, CountingFs.log)
    } finally System.clearProperty(prop)
  }

  test("an in-process point query makes no more file-system calls than " +
      "when it listed its store twice") {
    val key = s"fs.${CountingFs.Scheme}.impl"
    spark.conf.set(key, classOf[CountingFs].getName)
    try {
      val lo = mixedT0 + 9 * span
      val args = Seq("q=ave", "c=temp", s"s=${iso(lo)}", s"e=${iso(lo + span - 1)}")
      val df = load(spark, s"${CountingFs.Scheme}:$store")
      CountingFs.reset()
      val out = EtsdQueryApi.query(df, mixedSchema, args, now)
      assert(out.queryExecution.analyzed.isInstanceOf[LocalRelation])
      assert(answer(out) == oracle(store, "ave", Some("Temp"), lo, lo + span - 1))
      // a status call, a listing (one status per entry inside it is not
      // counted), the sidecar and one data file: the query made 5 calls,
      // an `exists` on the sidecar included, before the store's listing
      // was shared
      assert(CountingFs.total <= 5, CountingFs.log)
      assert(CountingFs.calls("list", store) == 1, CountingFs.log)
    } finally spark.conf.unset(key)
  }
}

/** The local file system under the scheme [[CountingFs.Scheme]], which
  * records every status call, listing and open a reader makes (calls made
  * inside another recorded call, such as the per-entry status calls of a
  * listing, are not recorded). */
final class CountingFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${CountingFs.Scheme}:///")
  override def getScheme: String = CountingFs.Scheme
  override def getFileStatus(f: Path): FileStatus =
    CountingFs.record("status", f)(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] =
    CountingFs.record("list", f)(super.listStatus(f))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    CountingFs.record("open", f)(super.open(f, bufferSize))
}

object CountingFs {
  val Scheme = "countfs"
  private val seen = new ConcurrentLinkedQueue[(String, String)]()
  private val depth = new ThreadLocal[Int] { override def initialValue = 0 }

  def record[T](call: String, f: Path)(body: => T): T = {
    if (depth.get == 0) seen.add((call, f.toUri.getPath))
    depth.set(depth.get + 1)
    try body finally depth.set(depth.get - 1)
  }

  def reset(): Unit = seen.clear()
  def total: Int = seen.size
  def calls(call: String, path: String): Int =
    seen.asScala.count(_ == ((call, path)))
  def log: String = seen.asScala.mkString(", ")
  def opened: Seq[String] = seen.asScala.toSeq.collect { case ("open", p) => p }
}
