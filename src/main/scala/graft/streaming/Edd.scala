package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft._

/** One parsed source stanza (`SN:`/`SC:`/`SP:`, edd.c:122-138). */
final case class EddSource(plugin: String, config: Option[String] = None,
                           port: Option[String] = None) {
  /** Plugin basename, lowercased — the dispatch key (`libesrECM.so` and
    * `/usr/local/lib/esrECM.so` are the same plugin). */
  def kind: String = Paths.get(plugin).getFileName.toString.toLowerCase
}

/** The EDO stanza (`DN:`/`DC:`/`DD:`/`DK:`/`DL:`/`DX:`, edd.c:139-157). */
final case class EddEdo(plugin: String, config: Option[String] = None,
                        dest: Option[String] = None, loadNames: Boolean = false,
                        keepNames: Boolean = false, xdSize: Int = 0)

/** The xData stanza (`XN:`/`XC:`/`XS:`, edd.c:164-175). */
final case class EddXData(plugin: String, config: Option[String] = None,
                          source: Option[String] = None)

/** Parsed `edd` daemon configuration — the Spark-side `readConfig`
  * (edd.c:77-237 over Sample_Config_file:1-107). Grammar:
  *
  *   - the FIRST character of the first line defines the comment
  *     character; the first line itself is never parsed
  *   - blank lines and lines starting with the comment character are
  *     skipped; parsing stops at `ETSD_END`
  *   - a statement is `<K>:<value>` or `<KK>:<value>` — the ':' must sit
  *     in the second or third column (edd.c:109). etsdCmd statements use
  *     '=' and are transparently ignored, which is what lets both
  *     programs share one file; the shared `E:=` form is accepted
  *   - keys: `E` ETSD file; `SN`/`SC`/`SP` source stanzas (≤4, `SN`
  *     first per stanza) and `ST` source-0 wait seconds; `DN`/`DC`/`DD`/
  *     `DK`/`DL`/`DX` the EDO output plugin; `XN`/`XC`/`XS` the xData
  *     input plugin; `LF`/`LV` logging
  *
  * Divergences from the C (documented, deliberate): an `SC:`/`SP:` line
  * before the first `SN:` is an error here (the reference indexes
  * `cfgStrings[-1]` — undefined behavior, edd.c:127-133); unrecognized
  * `:`-keys are collected into [[warnings]] instead of silently dropped
  * (the reference's switch default). Hard errors (missing ETSD file, no
  * sources, >4 sources) match the reference's exits (edd.c:183-198). */
final case class EddConfig(
    etsdFile: String,
    sources: Seq[EddSource],
    checkTime: Int = 0,
    edo: Option[EddEdo] = None,
    xData: Option[EddXData] = None,
    logFile: Option[String] = None,
    logLevel: Int = 1,
    warnings: Seq[String] = Nil) {

  /** `examinETSD`-style echo of the parsed config (etsdCmd.c:549-613's
    * role for the daemon side): what edd would run, one keyed line per
    * setting, warnings last. Pure string so specs golden-test it. */
  def echo: String = {
    val sb = new StringBuilder
    sb ++= s"ETSD file     : $etsdFile\n"
    sources.zipWithIndex.foreach { case (s, i) =>
      sb ++= s"source $i      : ${s.plugin}\n"
      s.config.foreach(c => sb ++= s"  config      : $c\n")
      s.port.foreach(p => sb ++= s"  port        : $p\n")
    }
    if (checkTime > 0) sb ++= s"source 0 wait : $checkTime s\n"
    edo.foreach { e =>
      sb ++= s"EDO plugin    : ${e.plugin}\n"
      e.config.foreach(c => sb ++= s"  config      : $c\n")
      e.dest.foreach(d => sb ++= s"  destination : $d\n")
      if (e.loadNames) sb ++= "  load channel names\n"
      if (e.keepNames) sb ++= "  keep channel names\n"
      if (e.xdSize > 0) sb ++= s"  xdata bytes : ${e.xdSize}\n"
    }
    xData.foreach { x =>
      sb ++= s"xData plugin  : ${x.plugin}\n"
      x.config.foreach(c => sb ++= s"  config      : $c\n")
      x.source.foreach(p => sb ++= s"  source      : $p\n")
    }
    logFile.foreach(f => sb ++= s"log file      : $f\n")
    sb ++= s"log level     : $logLevel\n"
    warnings.foreach(w => sb ++= s"WARNING       : $w\n")
    sb.result()
  }
}

object EddConfig {

  /** Config rejected for a reason the reference exits on (edd.c:96,
    * 125-126, 183-198) or for reference-UB input this port refuses. */
  final class EddConfigException(msg: String)
    extends IllegalArgumentException(msg)

  private def fail(msg: String): Nothing = throw new EddConfigException(msg)

  def load(path: String): EddConfig = {
    val p = Paths.get(path)
    if (!Files.isReadable(p)) fail(s"can't open config file: $path")
    parse(new String(Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8))
  }

  def parse(text: String): EddConfig = {
    val lines = text.linesIterator.toSeq
    if (lines.isEmpty) fail("empty config file (first line defines the comment character)")
    val commentChar = lines.head.headOption.getOrElse('#')

    var etsdFile: Option[String] = None
    val sources = Seq.newBuilder[EddSource]
    var cur: Option[EddSource] = None
    var srcCnt = 0
    var checkTime = 0
    var edoPlugin: Option[String] = None
    var edoConfig: Option[String] = None
    var edoDest: Option[String] = None
    var loadNames = false
    var keepNames = false
    var xdSize = 0
    var xdPlugin: Option[String] = None
    var xdConfig: Option[String] = None
    var xdSource: Option[String] = None
    var logFile: Option[String] = None
    var logLevel = 1
    val warnings = Seq.newBuilder[String]

    def flushSrc(): Unit = { cur.foreach(sources += _); cur = None }

    val it = lines.tail.iterator
    var done = false
    while (it.hasNext && !done) {
      val line = it.next()
      if (line.nonEmpty && line.head != commentChar) {
        if (line == "ETSD_END" ||
            (line.head == 'E' && line.length > 5 && line(5) == 'E' &&
             !line.take(3).contains(':'))) {
          done = true // edd.c:106-107,177-178
        } else {
          val ci = line.indexOf(':')
          if (ci == 1 || ci == 2) { // ':' in col 2-3 (edd.c:109-110)
            val key = line.substring(0, ci)
            val v0 = line.substring(ci + 1)
            // shared ':=' form (Sample_Config_file:17-18)
            val v = if (v0.startsWith("=")) v0.tail else v0
            key match {
              case "E" | "ET" => etsdFile = Some(v)
              case "SN" =>
                flushSrc()
                srcCnt += 1
                if (srcCnt > 4)
                  fail("config file contains too many data sources; " +
                    "ETSD supports a maximum of 4 (edd.c:125)")
                cur = Some(EddSource(v))
              case "SC" | "SP" =>
                cur match {
                  case None =>
                    fail(s"$key: before any SN: — the reference's " +
                      "cfgStrings[-1] UB (edd.c:127-133), rejected here")
                  case Some(s) =>
                    cur = Some(if (key == "SC") s.copy(config = Some(v))
                               else s.copy(port = Some(v)))
                }
              case "ST" => checkTime = v.trim.toIntOption.getOrElse(0)
              case "DN" => edoPlugin = Some(v)
              case "DC" => edoConfig = Some(v)
              case "DD" => edoDest = Some(v)
              case "DK" => keepNames = v.trim.toIntOption.exists(_ != 0)
              case "DL" => loadNames = v.trim.toIntOption.exists(_ != 0)
              case "DX" => xdSize = v.trim.toIntOption.getOrElse(0)
              case "XN" => xdPlugin = Some(v)
              case "XC" => xdConfig = Some(v)
              case "XS" => xdSource = Some(v)
              case "LF" => logFile = Some(v)
              case "LV" => logLevel = v.trim.toIntOption.getOrElse(1)
              case other =>
                warnings += s"unknown key '$other:' ignored (line: $line)"
            }
          }
          // no ':' in col 2-3: an etsdCmd '='-statement or free text —
          // ignored, exactly as the reference's strchr guard does
        }
      }
    }
    flushSrc()

    val ef = etsdFile.getOrElse(fail("must specify the ETSD file (edd.c:184)"))
    val srcs = sources.result()
    if (srcs.isEmpty) fail("must specify at least one data source (edd.c:196)")
    EddConfig(ef, srcs, checkTime,
      edoPlugin.map(p => EddEdo(p, edoConfig, edoDest, loadNames, keepNames, xdSize)),
      xdPlugin.map(p => EddXData(p, xdConfig, xdSource)),
      logFile, logLevel, warnings.result())
  }
}

/** The running queries of an assembled daemon: the parquet block commit
  * plus the optional EDO rollup mirror. */
final case class EddQueries(commit: StreamingQuery,
                            edo: Option[StreamingQuery]) {
  def stopAll(): Unit = { edo.foreach(_.stop()); commit.stop() }
}

/** `edd` main — config in, running Structured Streaming pipeline out
  * (edd.c:239-387): sources named by the config are instantiated as
  * streaming DataFrames, unioned (≤4), status-handled, and committed in
  * block windows; a `DN:` stanza additionally mirrors the stream through
  * the EDO rollup sink. Plugin dispatch is by basename, the Spark
  * equivalent of `dlopen`: `srcSIM` → [[Ingest.simSource]], `esrECM` →
  * an [[EcmPackets]] spool-directory decode (the serial port becomes a
  * binaryFile stream — each file one receive chunk). */
object EddMain {

  /** `statusEvery=<k>` from a srcSIM `SC:` config string — the simulated
    * failure cadence (srcSIM has no reference config keys; this is the
    * harness dial [[IngestSpec]] exercises). */
  private def statusEvery(src: EddSource): Option[Int] =
    src.config.flatMap(_.split('|').collectFirst {
      case s if s.startsWith("statusEvery=") =>
        val v = s.stripPrefix("statusEvery=").trim
        v.toIntOption.getOrElse(throw new EddConfig.EddConfigException(
          s"statusEvery needs an integer, got '$v' (plugin ${src.plugin})"))
    })

  /** Rollup resolutions from the EDO `DC:` string (`res=60,300|...`),
    * default one-minute + five-minute — the RRA ladder edoRRD's sample
    * config creates (plugins/edoRRD.c:44-74). */
  private[streaming] def edoResolutions(e: EddEdo): Seq[Long] =
    e.config.flatMap(_.split('|').collectFirst {
      case s if s.startsWith("res=") =>
        s.stripPrefix("res=").split(',').toSeq.map(_.trim.toLong)
    }).getOrElse(Seq(60L, 300L))

  /** Instantiate one config-named source as a live streaming DataFrame in
    * [[SrcRow]] shape. Stanza order = source id (edd.c:47-50). */
  def sourceStream(spark: SparkSession, src: EddSource, sourceId: Int,
                   intervalSec: Int, startEpoch: Long): DataFrame = {
    import spark.implicits._
    val k = src.kind
    if (k.contains("sim"))
      Ingest.simSource(spark, sourceId, intervalSec, startEpoch, statusEvery(src))
    else if (k.contains("ecm")) {
      val spool = src.port.getOrElse(throw new EddConfig.EddConfigException(
        s"ECM source needs SP: (spool directory of packet chunks), got none"))
      val chunks = spark.readStream.format("binaryFile").load(spool)
        .select(unix_micros($"modificationTime").as("_1"), $"content".as("_2"))
        .as[(Long, Array[Byte])]
      EcmPackets.toSrcRows(EcmPackets.decodeStream(chunks), sourceId).toDF()
    } else throw new EddConfig.EddConfigException(
      s"unsupported source plugin '${src.plugin}' " +
        "(supported: srcSIM, esrECM)")
  }

  /** Deterministic assembly from an externally-driven tick stream —
    * the testable core `start` wraps: every `SN:` stanza becomes a
    * simTransform over the SAME ticks (all sources sample the same
    * interval clock, edd.c:309-341), unioned and status-handled. Sim
    * sources only; the spec drives it from a MemoryStream and must
    * reproduce [[Ingest]]'s end-to-end closed-form totals. */
  def assembleFromTicks(ticks: DataFrame, cfg: EddConfig): DataFrame = {
    val bad = cfg.sources.filterNot(_.kind.contains("sim"))
    require(bad.isEmpty, s"assembleFromTicks is sim-only, got ${bad.map(_.plugin)}")
    Ingest.applyStatus(Ingest.unionSources(
      cfg.sources.zipWithIndex.map { case (s, i) =>
        Ingest.simTransform(ticks, i, statusEvery(s))
      }))
  }

  /** Start the daemon: block geometry comes from the ETSD file's own
    * header (`etsdInit`, edd.c:189) when `E:` names an existing `.tsd`
    * file/directory, else from the defaults. Output lands under
    * `<etsdFile>_spark/` (blocks + checkpoints + EDO rollups) — the
    * parquet block store IS this engine's ETSD file. */
  def start(spark: SparkSession, cfg: EddConfig,
            startEpoch: Long = System.currentTimeMillis() / 1000,
            defaultIntervalSec: Int = 10,
            defaultBlockIntervals: Int = 24): EddQueries = {
    val (intervalSec, blockIntervals) =
      if (Files.exists(Paths.get(cfg.etsdFile))) {
        val s = EtsdCmd.loadSchema(cfg.etsdFile)
        (s.intervalSec, s.blockIntervals)
      } else (defaultIntervalSec, defaultBlockIntervals)
    val root = cfg.etsdFile + "_spark"
    val rows = Ingest.applyStatus(Ingest.unionSources(
      cfg.sources.zipWithIndex.map { case (s, i) =>
        sourceStream(spark, s, i, intervalSec, startEpoch)
      }))
    val commit = Ingest.commitStream(rows,
      blockSec = intervalSec.toLong * blockIntervals,
      outPath = s"$root/blocks", checkpointPath = s"$root/ckpt_commit")
    val edoQ = cfg.edo.map { e =>
      val dest = e.dest.getOrElse(s"$root/edo")
      Ingest.edoMirror(rows, edoResolutions(e), dest, s"$root/ckpt_edo")
    }
    EddQueries(commit, edoQ)
  }

  /** The long-running ingest daemon's state-store provider: RocksDB.
    * The daemon's stateful operators (block windows, watermark state,
    * streaming dedup, the 255-miss timeout state) accrete keys for the
    * life of the process; the default in-memory HDFS-backed provider
    * holds every key on-heap per executor, so a months-long daemon's
    * state headroom is its heap. RocksDB keeps working state off-heap
    * and spills to local disk — state size is then bounded by disk, not
    * heap, and changelog checkpointing keeps recovery incremental.
    * `RocksDbStateSpec` verifies the operators produce identical
    * results under this provider; `EddSpec` asserts the wiring. */
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Session for the standalone daemon ([[main]]): the shared
    * [[graft.GraftSession]] configuration with the RocksDB state store
    * as the documented default. A deployment points `SPARK_MASTER` at
    * its cluster; the reference daemon itself is a single-box process
    * (etsd.c:1). */
  private[streaming] def daemonSession(): SparkSession =
    GraftSession.builder("graft-edd")
      .config("spark.sql.streaming.stateStore.providerClass",
        RocksDbProvider)
      .getOrCreate()

  /** CLI: `EddMain <configFile> [runSeconds]` — parse, echo the config
    * `examinETSD`-style, and (with `runSeconds`) run the live pipeline
    * that long. Parse/echo-only by default so misconfigurations are
    * inspectable without touching any sink. */
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: EddMain <configFile> [runSeconds]")
    val cfg = EddConfig.load(args(0))
    print(cfg.echo)
    args.drop(1).headOption.map(_.toLong).foreach { secs =>
      val spark = daemonSession()
      val qs = start(spark, cfg)
      try Thread.sleep(secs * 1000)
      finally { qs.stopAll(); spark.stop() }
    }
  }
}
