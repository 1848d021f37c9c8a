package graft

import java.nio.file.{Files, Path, Paths}
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.codec.{BlockBuffer, HeaderCodec, Layout}
import graft.model.{ChannelConfig, EtsdSchema, StreamType}
import graft.queries.EtsdQueryApi

/** CLI entry point mirroring the reference's `etsdCmd` verbs
  * (usage etsdCmd.c:457-461; dispatch etsdCmd.c:618-663):
  *
  *   - `query <path> [q=tot|ave|min|max] [c=chan] [s=start] [e=end]` —
  *     the analytical path (`queryETSD`, etsdCmd.c:333-461), driven
  *     through [[graft.queries.EtsdQueryApi]] over the Spark long frame.
  *   - `examine <path>` — schema pretty-print (`examinETSD`,
  *     etsdCmd.c:549-613): per-channel type/flags + block geometry.
  *   - `dump <path> [sector]` — block hex dump (`dumpETSD` + `LogBlock`,
  *     etsdCmd.c:465-547, errorlog.c:139-183), non-interactive: one
  *     sector per call instead of N/P/Q keys.
  *
  * The create path is [[graft.codec.EtsdEncoder]]; rotation/commit live
  * in [[graft.streaming.Ingest]]. Formatting is pure (string-returning)
  * so specs golden-test it without capturing stdout. */
object EtsdCmd {

  /** First .tsd file under `path` (or `path` itself), for header reads.
    * Spark reads take the path/glob as-is; header-only verbs need one
    * concrete file — schema is immutable per file (etsdSave.c:80-99). */
  private def firstFile(path: String): Path = {
    val p = Paths.get(path)
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.iterator().asScala
        .filter(_.toString.endsWith(".tsd")).toSeq.sorted.headOption
        .getOrElse(throw new IllegalArgumentException(s"no .tsd files in $path"))
      finally s.close()
    } else p
  }

  def loadSchema(path: String): EtsdSchema = {
    val header = new Array[Byte](BlockBuffer.BlockSize)
    val in = Files.newInputStream(firstFile(path))
    try {
      var off = 0
      var n = 0
      while (off < header.length && n >= 0) {
        n = in.read(header, off, header.length - off)
        if (n > 0) off += n
      }
      require(off == header.length, s"short header read ($off bytes)")
    } finally in.close()
    HeaderCodec.decode(header)
  }

  /** One `Name:Type[:E<n>|:M<n>][:flags]` channel spec (createETSD,
    * etsdCmd.c:75-88,199-291). Defaults mirror the reference: counter with
    * a saved register (`destination |= 96`), source plugin 1 chan 0
    * (`source = 64`). Flags, applied in order:
    *   - `E<n>` — source plugin 0, channel n; `M<n>` — shared-memory
    *     source (plugin 2), channel n (etsdCmd.c:252-256,272-274)
    *   - `G` — gauge: counter + register off (etsdCmd.c:258-263)
    *   - `I` — signed offset encoding (etsdCmd.c:265-268)
    *   - `r`/`R` — mirror to the external output (EDO, etsdCmd.c:276-278)
    *   - `s` (lowercase) — counter WITHOUT a register; `S` (uppercase) —
    *     gauge WITH a register (etsdCmd.c:280-291; the one case-sensitive
    *     pair in the grammar)
    * Type 13 (DoubleS) forces counter + register off (etsdCmd.c:293-297);
    * type 14 (float) is reserved/unimplemented in the reference
    * (README.md:45) and rejected here. */
  def parseChannelSpec(spec: String): ChannelConfig = {
    val parts = spec.split(":", -1)
    require(parts.length >= 2, s"channel spec '$spec' needs Name:Type")
    val name = parts(0)
    require(ChannelConfig.nameOk(name),
      s"bad channel name '$name' (alphanumeric/underscore, <=19 chars)")
    val code = parts(1).toIntOption
      .getOrElse(throw new IllegalArgumentException(
        s"bad stream type '${parts(1)}' in '$spec'"))
    require(code != 14, "stream type 14 (float) is reserved (README.md:45)")
    val st = StreamType.fromCode(code)
    var counter = true; var register = true
    var signed = false; var edo = false
    var sourceId = 1; var sourceChan = 0
    parts.drop(2).filter(_.nonEmpty).foreach { f =>
      f.head match {
        case 'e' | 'E' => sourceId = 0; sourceChan = f.tail.toInt
        case 'm' | 'M' => sourceId = 2; sourceChan = f.tail.toInt
        case 'g' | 'G' => counter = false; register = false
        case 'i' | 'I' => signed = true
        case 'r' | 'R' => edo = true
        case 's'       => if (counter) register = false
        case 'S'       => if (!counter) register = true
        case c => throw new IllegalArgumentException(s"unknown flag '$c' in '$spec'")
      }
    }
    if (st == StreamType.DoubleS) { counter = false; register = false }
    if (st == StreamType.FloatS) { counter = false; signed = false }
    ChannelConfig(name, st, counter, register, signed, edo, sourceId, sourceChan)
  }

  /** `T=10s|5m|1h` interval literal (etsdCmd.c:133-148). */
  def parseIntervalSec(v: String): Int = {
    val (num, mult) = v.last.toLower match {
      case 'm' => (v.dropRight(1), 60)
      case 'h' => (v.dropRight(1), 3600)
      case 's' => (v.dropRight(1), 1)
      case _   => (v, 1)
    }
    num.toInt * mult
  }

  /** Build the schema a `create` invocation describes: sort channels into
    * storage order (descending stream width, etsdCmd.c:93,167-185) and
    * derive `blockIntervals` from 512-byte capacity — the reference's
    * `(BLOCKSIZE-8-xData-registers*4)/(streams/4.0)` capped at 127
    * (etsdCmd.c:295-299). We search downward from 127 using [[Layout]]'s
    * own capacity rule, so the derived geometry is exactly what the
    * writer/reader address (including the even-interval constraint for
    * nibble-granular types the reference's truncating save4 mishandles,
    * etsdSave.c:214). */
  def createSchema(args: Seq[String]): EtsdSchema = {
    var intervalSec = 10; var uid = 0; var xData = 0
    val specs = Seq.newBuilder[ChannelConfig]
    args.foreach { t =>
      t.split("=", 2) match {
        case Array(k, v) if k.length == 1 => k.head.toLower match {
          case 't' => intervalSec = parseIntervalSec(v)
          case 'u' => uid = v.toInt & 3 // 2 bits (etsdCmd.c:150-152)
          case 'x' => xData = v.toInt
          case o => throw new IllegalArgumentException(s"unknown option '$o='")
        }
        case _ => specs += parseChannelSpec(t)
      }
    }
    val sorted = Layout.sortChannels(specs.result())
    require(sorted.nonEmpty, "create needs at least one channel spec")
    val fit = (127 to 1 by -1).iterator.flatMap { bi =>
      scala.util.Try {
        val s = EtsdSchema(sorted, intervalSec, bi, uid, xData)
        new Layout(s) // capacity + alignment check (etsdCmd.c:295-299)
        s
      }.toOption
    }.nextOption()
    fit.getOrElse(throw new IllegalArgumentException(
      "channels exceed 512-byte block capacity (etsdCmd.c:186-189)"))
  }

  /** `create` verb: write the header block of a fresh (empty) `.tsd` file
    * (createETSD, etsdCmd.c:301-318). Returns the derived schema; the
    * summary line mirrors the reference's printf (etsdCmd.c:301). */
  def create(path: String, args: Seq[String]): EtsdSchema = {
    val schema = createSchema(args)
    Files.write(Paths.get(path), HeaderCodec.encode(schema))
    schema
  }

  /** The `rrdtool create` command for a schema's EDO-mirrored channels —
    * the reference's createETSD rrd path (etsdCmd.c:75-79,320-343: with
    * an rrd argument it builds/prints an rrdtool create so the user can
    * stand up the mirror DB; its `buildRRD` is referenced but absent
    * from the tree, so the shape follows the documented examples,
    * `ECM-1240 storage format 2.txt:136-148`): one DS per EDO channel
    * (COUNTER/GAUGE by the channel flag, heartbeat = 1.2×step, max =
    * the stream type's storable bound) + the documented "auto" RRA
    * ladder. The mirror itself is [[graft.streaming.Ingest.edoMirror]];
    * this emits the interop string for users keeping real RRDtool. */
  def rrdCreateString(schema: EtsdSchema, rrdPath: String): String = {
    val step = schema.intervalSec
    val heartbeat = step + (step + 4) / 5 // 1.2x, ceil (doc: step 10 -> 12)
    val ds = schema.channels.filter(_.edo).map { c =>
      val kind = if (c.counter) "COUNTER" else "GAUGE"
      s"DS:${c.name}:$kind:$heartbeat:0:${c.streamType.maxValid}"
    }
    require(ds.nonEmpty, "no EDO-flagged channels to mirror (r flag)")
    // the documented default ladder (`ECM-1240 storage format 2.txt:126-134`)
    val rra = Seq("RRA:LAST:0.8:1:8700", "RRA:AVERAGE:0.65:6:2900",
      "RRA:AVERAGE:0.65:45:1350", "RRA:AVERAGE:0.65:180:1500",
      "RRA:MAX:0.65:180:1500", "RRA:MIN:0.65:180:1500",
      "RRA:AVERAGE:0.65:2160:1500")
    (s"rrdtool create $rrdPath --step $step" +: (ds ++ rra)).mkString(" ")
  }

  /** The create summary printf (etsdCmd.c:301). */
  def createSummary(schema: EtsdSchema): String = {
    val layout = new Layout(schema)
    val bytesPerInterval = layout.totalQs / 4.0 +
      (if (layout.extCount > 0) layout.extCount / 4.0 else 0.0)
    f" Saving ${layout.registers}%d registers | channels = ${schema.channels.size}%d | " +
    f"intervals = ${schema.blockIntervals}%d | interval time = ${schema.intervalSec}%d seconds | " +
    f"bytes per interval = $bytesPerInterval%.2f"
  }

  /** `examinETSD` (etsdCmd.c:549-613): block geometry + one line per
    * channel with stream type and flag letters (C=counter G=gauge
    * R=register S=signed E=edo). */
  def examine(schema: EtsdSchema, fileBytes: Long): String = {
    val blocks = fileBytes / BlockBuffer.BlockSize - 1 // minus header
    val head =
      f"interval ${schema.intervalSec}%ds, ${schema.blockIntervals}%d intervals/block, " +
      f"$blocks%d data blocks, uid ${schema.uid}%d, xData ${schema.xDataSize}%d B"
    val chans = schema.channels.zipWithIndex.map { case (c, i) =>
      val flags = Seq(
        if (c.counter) "C" else "G",
        if (c.register) "R" else "",
        if (c.signed) "S" else "",
        if (c.edo) "E" else "").mkString
      f"$i%3d  ${c.name}%-19s ${c.streamType.toString}%-10s " +
      f"src${c.sourceId}%d:${c.sourceChan}%-2d $flags"
    }
    (head +: "  #  name                type       source  flags" +: chans)
      .mkString("\n")
  }

  /** `LogBlock` hex dump (errorlog.c:139-183): 16 bytes per line, offset +
    * hex + printable ASCII. `sector` 0 = header block. */
  def dumpSector(path: String, sector: Int): String = {
    val f = firstFile(path)
    val size = Files.size(f)
    val off = sector.toLong * BlockBuffer.BlockSize
    require(sector >= 0 && off + BlockBuffer.BlockSize <= size,
      s"sector $sector out of range (file has ${size / BlockBuffer.BlockSize})")
    // seek + one 512-byte read — the file may be arbitrarily large
    val block = new Array[Byte](BlockBuffer.BlockSize)
    val raf = new java.io.RandomAccessFile(f.toFile, "r")
    try { raf.seek(off); raf.readFully(block) } finally raf.close()
    val header = if (sector == 0) s"sector 0 (header)" else {
      val b = BlockBuffer(block)
      s"sector $sector ts=${b.timestamp} validIntervals=${b.validIntervals}"
    }
    val lines = block.grouped(16).zipWithIndex.map { case (row, i) =>
      val hex = row.map(b => f"${b & 0xFF}%02x").mkString(" ")
      val ascii = row.map(b => if (b >= 0x20 && b < 0x7F) b.toChar else '.')
        .mkString
      f"${i * 16}%04x  $hex%-47s  $ascii"
    }
    (header +: lines.toSeq).mkString("\n")
  }

  /** Interactive N/P/Q dump navigation (etsdCmd.c:511-546): render the
    * current sector, prompt, and step next/previous until Q (or EOF).
    * The reference's single-key `getch()` becomes line reads so the
    * loop is drivable by a scripted stdin (EtsdCmdSpec) and a terminal
    * alike; stepping past the end clamps to the last sector with the
    * reference's notice (its 15-blank-line screen-clear theatrics are
    * not replicated); unknown keys just re-display, like a switch with
    * no matching case. */
  def dumpInteractive(path: String, startSector: Int,
                      in: java.io.BufferedReader, out: Appendable): Unit = {
    val end = (Files.size(firstFile(path)) / BlockBuffer.BlockSize).toInt - 1
    var sector = math.min(math.max(startSector, 0), end)
    var done = false
    while (!done) {
      out.append(s"Block: #$sector of $end\n")
      out.append(dumpSector(path, sector)).append("\n")
      out.append("Display (N)ext block, (P)revious block, or (Q)uit (N/P/Q) ")
      Option(in.readLine()) match {
        case None => done = true // EOF behaves like Q
        case Some(line) => line.trim.headOption.map(_.toLower) match {
          case Some('n') =>
            sector += 1
            if (sector > end) {
              sector = end
              out.append("\n     You have reached the end of the file \n")
            }
          case Some('p') => if (sector > 0) sector -= 1
          case Some('q') => done = true
          case _ => ()
        }
      }
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: EtsdCmd create|query|examine|dump <path> [args]")
    val (verb, path, rest) = (args(0), args(1), args.drop(2).toSeq)
    verb.head.toLower match {
      case 'c' =>
        // optional rrd target right after the .tsd path (etsdCmd.c:124-130:
        // an arg with '/' or '.rrd' is the mirror file, not an option)
        val (rrd, cargs) = rest.headOption
          .filter(a => a.contains("/") || a.toLowerCase.contains(".rrd"))
          .map(a => (Some(a), rest.tail)).getOrElse((None, rest))
        val schema = create(path, cargs)
        println(createSummary(schema))
        rrd.foreach(r => println(rrdCreateString(schema, r)))
      case 'q' =>
        val spark = SparkSession.builder().appName("etsdCmd")
          .config("spark.sql.extensions", "graft.GraftExtensions")
          .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
          .config("spark.sql.shuffle.partitions",
            Runtime.getRuntime.availableProcessors)
          .config("spark.ui.enabled", false).getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
        try {
          val schema = loadSchema(path)
          // DSv2 scan: plans from the _graft_index sidecar (or one
          // distributed probe job) and pushes the channel + time range
          // into the block decode — the CLI stays O(selected data) on a
          // many-file layout, like the reference's etsdFindBlock seek.
          // A selection the sidecar bounds to a few blocks is answered on
          // the driver with no job at all (EtsdQueryApi's driver-local rule)
          val df = spark.read.format("graft.sources.TsdDataSource").load(path)
          EtsdQueryApi.query(df, schema, rest, Instant.now())
            .orderBy("channel").collect()
            .foreach(r => println(s"${r.getString(0)}\t${r.getLong(1)}\t${r.getDouble(2)}"))
        } finally spark.stop()
      case 'e' =>
        println(examine(loadSchema(path), Files.size(firstFile(path))))
      case 'd' =>
        // `dump <path> [sector]` one-shot; `dump <path> [sector] i`
        // enters the reference's interactive N/P/Q loop
        val sector = rest.filterNot(_.equalsIgnoreCase("i"))
          .headOption.map(_.toInt).getOrElse(1)
        if (rest.exists(_.equalsIgnoreCase("i")))
          dumpInteractive(path, sector, new java.io.BufferedReader(
            new java.io.InputStreamReader(System.in)), System.out)
        else println(dumpSector(path, sector))
      case _ =>
        throw new IllegalArgumentException(s"unknown verb '$verb'")
    }
  }
}
