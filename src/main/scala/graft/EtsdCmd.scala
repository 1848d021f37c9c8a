package graft

import java.time.Instant

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, Path => HPath}

import graft.codec.{BlockBuffer, HeaderCodec, Layout}
import graft.model.{ChannelConfig, EtsdSchema, StreamType}
import graft.queries.EtsdQueryApi
import graft.sources.{HadoopConfs, TsdIndex, TsdStore}

/** CLI entry point mirroring the reference's `etsdCmd` verbs
  * (usage etsdCmd.c:457-461; dispatch etsdCmd.c:618-663):
  *
  *   - `query <path> [q=tot|ave|min|max] [c=chan] [s=start] [e=end]` —
  *     the analytical path (`queryETSD`, etsdCmd.c:333-461), driven
  *     through [[graft.queries.EtsdQueryApi]]. A selection the sidecar
  *     bounds to [[graft.sources.TsdLocalScan.MaxBlocks]] blocks (2 MiB,
  *     whatever the window's length) is read and folded in this process
  *     with no Spark session, as the reference answers every window from
  *     one thread; anything larger starts a session and runs the
  *     distributed plan over the Spark long frame. Both print the same
  *     lines. The `begin` default is the earliest file's block 1, read
  *     from the sidecar on either path, so it never costs a Spark job of
  *     its own.
  *   - `examine <path>` — schema pretty-print (`examinETSD`,
  *     etsdCmd.c:549-613): per-channel type/flags + block geometry.
  *   - `dump <path> [sector]` — block hex dump (`dumpETSD` + `LogBlock`,
  *     etsdCmd.c:465-547, errorlog.c:139-183), non-interactive: one
  *     sector per call instead of N/P/Q keys.
  *
  * Every verb reads the files `path` names by the one rule of
  * [[graft.sources.TsdIndex.listStore]] (rotated `name.<epoch>` files
  * included), and `create` writes its header, through Hadoop with
  * [[graft.sources.HadoopConfs.standalone]].
  * `dump` shows the schema file; a header-only store from `create`
  * examines as 0 data blocks and its `query` raises "no data blocks in
  * file". A `query` lists its store once.
  *
  * The create path is [[graft.codec.EtsdEncoder]]; rotation/commit live
  * in [[graft.streaming.Ingest]]. Formatting is pure (string-returning)
  * so specs golden-test it without capturing stdout. */
object EtsdCmd {

  /** The store `path` names, listed once through `conf`, so `path` may
    * name any file system the scan can read. */
  private[graft] def openStore(path: String,
      conf: Configuration = HadoopConfs.standalone()): TsdStore = {
    val root = new HPath(path)
    TsdIndex.listStore(root.getFileSystem(conf), root)
  }

  /** The header schema of the store `path` names — schema is immutable
    * per file (etsdSave.c:80-99). */
  def loadSchema(path: String,
                 conf: Configuration = HadoopConfs.standalone()): EtsdSchema =
    openStore(path, conf).schema

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
    * (createETSD, etsdCmd.c:301-318) through [[HadoopConfs.standalone]],
    * so `path` may name any file system the other verbs read. Returns the
    * derived schema; the summary line mirrors the reference's printf
    * (etsdCmd.c:301). */
  def create(path: String, args: Seq[String]): EtsdSchema = {
    val schema = createSchema(args)
    val p = new HPath(path)
    // no checksum file beside it: blocks are appended to it in place
    val fs = p.getFileSystem(HadoopConfs.standalone()) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case f => f
    }
    val out = fs.create(p, true)
    try out.write(HeaderCodec.encode(schema)) finally out.close()
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
    * R=register S=signed E=edo). The block count is the whole store's:
    * [[TsdIndex.dataBlocks]] summed over its data files. */
  def examine(path: String): String = {
    val store = openStore(path)
    val (schema, blocks) = (store.schema, store.files.map(f => TsdIndex.dataBlocks(f.getLen)).sum)
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

  /** `LogBlock` hex dump (errorlog.c:139-183) of the store's schema file:
    * 16 bytes per line, offset + hex + printable ASCII. `sector` 0 =
    * header block. */
  def dumpSector(path: String, sector: Int): String =
    dumpSector(openStore(path), sector)

  private def dumpSector(store: TsdStore, sector: Int): String = {
    val size = store.schemaFile.getLen
    val off = sector.toLong * BlockBuffer.BlockSize
    require(sector >= 0 && off + BlockBuffer.BlockSize <= size,
      s"sector $sector out of range (file has ${size / BlockBuffer.BlockSize})")
    // one positioned 512-byte read — the file may be arbitrarily large
    val block = new Array[Byte](BlockBuffer.BlockSize)
    val in = store.fs.open(store.schemaFile.getPath)
    try in.readFully(off, block) finally in.close()
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
    val store = openStore(path)
    val end = (store.schemaFile.getLen / BlockBuffer.BlockSize).toInt - 1
    var sector = math.min(math.max(startSector, 0), end)
    var done = false
    while (!done) {
      out.append(s"Block: #$sector of $end\n")
      out.append(dumpSector(store, sector)).append("\n")
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

  /** One line of `query` output: `channel\tn\tresult`. */
  def queryLine(channel: String, n: Long, result: Double): String =
    s"$channel\t$n\t$result"

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
        val now = Instant.now()
        val conf = HadoopConfs.standalone()
        val store = openStore(path, conf)
        // a selection the sidecar bounds to a few blocks is answered here
        // with no session; bad arguments fail before one is built
        EtsdQueryApi.answer(conf, store, rest, now).getOrElse {
          val spark = GraftSession("etsdCmd")
          try {
            // DSv2 scan: plans from the _graft_index sidecar (or one
            // distributed probe job) and pushes the channel + time range
            // into the block decode — the CLI stays O(selected data) on a
            // many-file layout, like the reference's etsdFindBlock seek.
            // The local fold just declined, so straight to the aggregate.
            val df = spark.read.format("graft.sources.TsdDataSource").load(path)
            EtsdQueryApi.queryDistributed(df, store.schema, rest, now).orderBy("channel")
              .collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
          } finally spark.stop()
        }.foreach { case (c, n, r) => println(queryLine(c, n, r)) }
      case 'e' =>
        println(examine(path))
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
