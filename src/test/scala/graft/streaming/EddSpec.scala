package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft._
import graft.TestSpark

/** The `edd` config-file entrypoint (edd.c:77-237, Sample_Config_file):
  * grammar, error paths, echo, and a config-driven end-to-end run that
  * must reproduce IngestSpec's closed-form totals. */
class EddSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val t0 = 1700000000L

  private val sample = """# first char defines the comment character
                         |# Name and location of ETSD file (shared form)
                         |E:=/var/db/garage.tsd
                         |LF:/var/log/ecmGarage.log
                         |LV:4
                         |SN:/usr/local/lib/libsrcSIM.so
                         |SC:statusEvery=16
                         |SP:/dev/garage
                         |ST:2
                         |DN:/usr/local/lib/libedoRRD.so
                         |DD:/tmp/garage.rrd
                         |
                         |N=/usr/local/lib/libedoRRD.so
                         |d=/tmp/garage.rrd
                         |ETSD_END
                         |anything after ETSD_END is ignored E: /other.tsd
                         |""".stripMargin

  test("parses the Sample_Config_file grammar") {
    val cfg = EddConfig.parse(sample)
    assert(cfg.etsdFile == "/var/db/garage.tsd") // ':=' shared form
    assert(cfg.sources ==
      Seq(EddSource("/usr/local/lib/libsrcSIM.so",
        config = Some("statusEvery=16"), port = Some("/dev/garage"))))
    assert(cfg.checkTime == 2)
    assert(cfg.edo ==
      Some(EddEdo("/usr/local/lib/libedoRRD.so", dest = Some("/tmp/garage.rrd"))))
    assert(cfg.logFile.contains("/var/log/ecmGarage.log"))
    assert(cfg.logLevel == 4)
    assert(cfg.warnings.isEmpty) // '='-delimited etsdCmd lines are not errors
    val echo = cfg.echo
    assert(echo.contains("/var/db/garage.tsd"))
    assert(echo.contains("libsrcSIM.so"))
    assert(echo.contains("destination : /tmp/garage.rrd"))
  }

  test("alternate comment character comes from the first line") {
    val cfg = EddConfig.parse(
      ";; semicolon comments\n;E:/nope.tsd\nE:/real.tsd\nSN:sim\n")
    assert(cfg.etsdFile == "/real.tsd")
  }

  test("error paths: missing ETSD file, no sources, too many sources, " +
       "SP before SN") {
    def bad(text: String): String =
      intercept[EddConfig.EddConfigException] {
        EddConfig.parse(text)
      }.getMessage
    assert(bad("#\nSN:sim\n").contains("ETSD file"))
    assert(bad("#\nE:/db.tsd\n").contains("at least one data source"))
    assert(bad("#\nE:/db.tsd\n" + "SN:sim\n" * 5).contains("maximum of 4"))
    assert(bad("#\nE:/db.tsd\nSP:/dev/ttyS0\nSN:sim\n").contains("SP: before"))
  }

  test("unknown ':' keys warn instead of silently dropping") {
    val cfg = EddConfig.parse("#\nE:/db.tsd\nSN:sim\nZZ:mystery\n")
    assert(cfg.warnings.exists(_.contains("ZZ")))
    assert(cfg.echo.contains("WARNING"))
  }

  test("unsupported plugin name is rejected at assembly") {
    val cfg = EddConfig.parse("#\nE:/db.tsd\nSN:/lib/libsrcWeather.so\n")
    val e = intercept[EddConfig.EddConfigException] {
      EddMain.sourceStream(spark, cfg.sources.head, 0, 10, t0)
    }
    assert(e.getMessage.contains("libsrcWeather.so"))
  }

  test("config-driven pipeline reproduces IngestSpec's end-to-end result") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the IngestSpec fixture, expressed as a config file: two SIM
    // sources, the second failing every 16th interval
    val cfg = EddConfig.parse(
      "#\nE:/ignored.tsd\nSN:libsrcSIM.so\nSN:libsrcSIM.so\nSC:statusEvery=16\n")
    val out = Files.createTempDirectory("edd_out").toString
    val ckpt = Files.createTempDirectory("edd_ckpt").toString
    val mem = MemoryStream[Long]
    val ticks = mem.toDF.select($"value".as("n"),
      timestamp_seconds(lit(t0) + $"value" * 10).as("ts"))
    val rows = EddMain.assembleFromTicks(ticks, cfg)
    val q = Ingest.commitStream(rows, blockSec = 240, out, ckpt)
    mem.addData(1L to 48L: _*)
    q.processAllAvailable()
    q.stop()
    val df = spark.read.parquet(out)
    assert(df.count() == 2 * 6 * 48)
    assert(df.select("block_epoch").distinct().count() == 3)
    for ((name, k, amp) <- Ingest.SimChans) {
      val last = df.filter($"channel" === s"src0_$name" && $"valid")
        .agg(max("value")).head.getLong(0)
      assert(last == Ingest.simOdometer(48, k, amp), name)
    }
    assert(df.filter($"channel" === "src1_volts" && !$"valid").count() == 3)
  }

  test("EddMain daemon session defaults to the RocksDB state store") {
    // the long-running ingest daemon must not hold streaming state
    // on-heap (RocksDbStateSpec verifies operator parity under the
    // provider; this pins the wiring). getOrCreate applies the runtime
    // confs that differ from the shared test session's (the provider and
    // the factory's core-count shuffle partitions), so restore them.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val restored = Seq(key, "spark.sql.shuffle.partitions")
    val prev = restored.map(k => k -> spark.conf.getOption(k))
    try {
      val s = EddMain.daemonSession()
      assert(s.conf.get(key) == EddMain.RocksDbProvider)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
