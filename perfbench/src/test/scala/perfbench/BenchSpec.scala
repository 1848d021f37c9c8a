package perfbench

import java.nio.file.Files
import java.time.Instant

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.EtsdCmd
import graft.queries.EtsdQueryApi

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val dir = {
    val base = java.nio.file.Paths.get("target", "spec") // inside the build tree
    Files.createDirectories(base)
    Files.createTempDirectory(base, "perfbench-spec").toAbsolutePath.toString
  }
  private lazy val spark: SparkSession = Main.session(dir)

  override def afterAll(): Unit = spark.stop()

  private def bytes(store: String): Seq[(String, Seq[Byte])] =
    Garage.tsdFiles(store).map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq)

  test("the same seed yields byte-identical .tsd files; another seed does not") {
    Garage.build(spark, 7L, s"$dir/a", days = 2)
    Garage.build(spark, 7L, s"$dir/b", days = 2)
    Garage.build(spark, 8L, s"$dir/c", days = 2)
    assert(bytes(s"$dir/a").nonEmpty)
    assert(bytes(s"$dir/a") == bytes(s"$dir/b"))
    assert(bytes(s"$dir/a") != bytes(s"$dir/c"))
  }

  test("the oracle accepts the engine's answer and flags a planted wrong one") {
    val store = s"$dir/q"
    Garage.build(spark, 3L, store, days = 2)
    val o = StoreOracle.decode(store)
    val now = Instant.ofEpochSecond(o.extent.lastTs + 86400L)
    val rng = new scala.util.Random(3L)
    val qs = (0L until 8L).map(i => Reads.Point.next(rng, o.extent, i)) ++
      Seq(Query("ave", "average", None, None, None), Query("max", "max", Some("Garage"), None, None))
    qs.foreach { q =>
      val got = EtsdQueryApi.query(spark.read.format("graft.sources.TsdDataSource").load(store),
          EtsdCmd.loadSchema(store), q.args, now).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val want = o.answer(q, now.getEpochSecond)
      assert(want.nonEmpty, q.args)
      assert(Answer.matches(got, want), q.args)
      val (c, (n, v)) = got.head
      assert(!Answer.matches(got.updated(c, (n, v + 1)), want), "wrong result")
      assert(!Answer.matches(got.updated(c, (n + 1, v)), want), "wrong count")
      assert(!Answer.matches(got - c, want), "missing channel")
    }
  }

  test("the stored data carries invalid runs and a 32-bit counter rollover") {
    val rows = Garage.longFrame(spark, 5L, days = 7)
    assert(rows.filter("NOT valid").count() > 0)
    assert(rows.filter("channel = 'GarageMain' AND value >= 4294967296").count() > 0)
    assert(rows.filter("channel = 'GarageMain' AND value < 4294967296").count() > 0)
  }

  test("ingest readback flags a stored value that differs from the simulator") {
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val t0 = 1704067200L - 10
    val out = s"$dir/ingest"
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val rows = graft.streaming.EddMain.assembleFromTicks(
      mem.toDF().selectExpr("value AS n", s"timestamp_seconds($t0 + value * 10) AS ts"), IngestLoad.config)
    val q = graft.streaming.Ingest.tsdMirror(rows, IngestLoad.schema, s"$out/tsd", s"$out/ckpt")
    val last = 3 * IngestLoad.ticksPerSpan
    mem.addData(1L to last: _*)
    q.processAllAvailable()
    q.stop()
    assert(IngestLoad.readbackMismatches(s"$out/tsd", t0, last).isEmpty)
    // restamp the last file's data block one interval late
    val f = Garage.tsdFiles(s"$out/tsd").last
    val b = Files.readAllBytes(f.toPath)
    val blk = graft.codec.BlockBuffer(b.slice(512, 1024))
    blk.setTimestamp(blk.timestamp + 10)
    System.arraycopy(blk.bytes, 0, b, 512, 512)
    Files.write(f.toPath, b)
    assert(IngestLoad.readbackMismatches(s"$out/tsd", t0, last).nonEmpty)
  }

  test("tail percentiles keep at least ten samples beyond them") {
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(199).contains(90.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(99).contains(75.0))
    assert(Stats.tailPercentile(39).isEmpty)
    Seq(50, 99, 100, 200, 1000, 5000).foreach { n =>
      Stats.tailPercentile(n).foreach(p => assert(Stats.beyond(n, p) >= 10, s"n=$n p=$p"))
    }
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  test("self time subtracts child spans; the driver gap subtracts job time") {
    val spans = Seq(Span(0, "workload.op", -1, 0, 0, 100), Span(1, "spark.exec", 0, 0, 10, 70),
      Span(2, "queries.build", 0, 0, 70, 90))
    assert(Tracer.selfMsByLayer(spans) == Map("workload" -> 20e-6, "spark" -> 60e-6, "queries" -> 20e-6))
    assert(OpListener.gapMs(0, 100, Seq((10L, 30L), (20L, 50L), (90L, 120L))) == 50)
  }
}
