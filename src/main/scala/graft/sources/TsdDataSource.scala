package graft.sources

import java.util.OptionalLong
import java.util.concurrent.{ExecutionException, Executors}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.codec.{BlockBuffer, EtsdDecoder}
import graft.model.EtsdSchema

/** DataSource V2 reader for native `.tsd` files with time-range filter
  * pushdown — the Spark-native form of the reference's `etsdFindBlock`
  * sector search (etsdRead.c:300-353): a `ts` predicate becomes
  * block-range pruning, first at planning time per file (first and last
  * block timestamps from the `_graft_index` sidecar, or one distributed
  * probe job for files it does not cover; see [[TsdIndex]]), then per
  * block inside each partition (4-byte timestamp check before any decode).
  *
  * Usage: `spark.read.format("graft.sources.TsdDataSource").load(path)`.
  * Output is the canonical long schema. Pruning is block-granular, so all
  * filters are also returned as residual — Spark re-applies them exactly.
  * Partitions are sector ranges of at most
  * [[TsdPacking.BlocksPerPartition]] blocks, a constant, so a single large
  * file splits across the cluster instead of one task, and many small
  * files pack into one task ([[TsdPacking]]). Its read options are
  * `xdata`, `stores` and `fleet`.
  *
  * One scan, [[TsdScan]], serves every mode: a single store (a file or a
  * directory), a fleet of stores with a `store_id` column
  * (`option("stores", "d1,d2,…")` or `option("fleet", "true")`), and the
  * per-block table (`option("xdata", "true")`: the `etsdTimeS` block
  * index plus the xData region). It is the engine's only `.tsd` reader.
  * A partial trailing block (a torn write) is ignored in every mode, as
  * by the driver-local fold: see [[TsdIndex.dataBlocks]].
  *
  * A load resolves the stores it names once, and lists each store, reads
  * its sidecar and probes the files the sidecar lacks once, when a scan
  * first selects it ([[TsdTable.listed]]); `begin`, the driver-local fold
  * and every scan of the load share them. So a load sees the stores and
  * files present when it is first planned, as Spark's own file sources do
  * (`InMemoryFileIndex`); a new load sees later ones.
  *
  * `EtsdQueryApi.query` over a bare load of this source skips the scan
  * when the sidecar prunes the selection to at most
  * [[TsdLocalScan.MaxBlocks]] blocks (2 MiB): [[TsdLocalScan]] reads those
  * files on the driver with the same partition reader, and a cold
  * `EtsdCmd query` reads them the same way before it builds any session.
  * The bound is a constant so that driver work stays O(1) in store size.
  * Its `begin` default is the store's earliest block-1 stamp, read from
  * the entries this scan plans with ([[TsdIndex.begin]]), so no query
  * over this source scans its data for `begin`.
  */
class TsdDataSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new TsdTable(options).schema()
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new TsdTable(new CaseInsensitiveStringMap(properties))
}

object TsdDataSource {
  /** Per-block table schema for `option("xdata", true)` reads: the block
    * time index (`etsdTimeS`, etsdRead.h:27) and the opaque per-block
    * region (SURVEY.md §1.5, etsd.h:102-103), empty for a schema without
    * one. */
  val XDataSchema: StructType = new StructType()
    .add("block_epoch", org.apache.spark.sql.types.LongType, false)
    .add("sector", org.apache.spark.sql.types.LongType, false)
    .add("xdata", org.apache.spark.sql.types.BinaryType, false)
    .add("valid_intervals", org.apache.spark.sql.types.IntegerType, false)

  /** Multi-store (fleet) output: the long schema plus the originating
    * store's id — ONE scan node for the whole fleet (see [[TsdScan]]). */
  val FleetSchema: StructType = EtsdSchema.LongSchema
    .add("store_id", org.apache.spark.sql.types.StringType, false)
}

private[sources] class TsdTable(props: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  private[sources] def xdata = props.getBoolean("xdata", false)
  /** Fleet mode: an explicit store-dir list (`option("stores", "d1,d2,…")`)
    * or a fleet ROOT whose immediate subdirectories are the stores
    * (`option("fleet", "true")`). */
  private[sources] def fleet = props.containsKey("stores") || props.getBoolean("fleet", false)
  require(!(xdata && fleet), "xdata reads are per-store; drop option(\"fleet\")")
  private[sources] def path: String = props.get("path")

  /** The stores this load names, `(id, path)`, resolved once per load: a
    * plain or xData load is one store with no id; a fleet is its `stores`
    * list, or the immediate subdirectories of its root (one listing), with
    * the directory base names as ids, which must be distinct. */
  private[sources] lazy val named: Seq[(Option[String], Path)] =
    if (!fleet) Seq(None -> new Path(path))
    else {
      val dirs = Option(props.get("stores")) match {
        case Some(list) => list.split(',').toSeq.filter(_.nonEmpty).map(new Path(_))
        case None =>
          val root = new Path(path)
          root.getFileSystem(SparkSession.active.sessionState.newHadoopConf())
            .listStatus(root).filter(s => s.isDirectory && !s.getPath.getName.matches("[_.].*"))
            .map(_.getPath).toSeq.sortBy(_.getName)
      }
      val dup = dirs.groupBy(_.getName).filter(_._2.size > 1).keys
      require(dup.isEmpty,
        s"fleet store ids (dir base names) must be distinct: ${dup.mkString(",")}")
      dirs.map(p => Some(p.getName) -> p)
    }

  private val listedStores = scala.collection.mutable.Map.empty[Option[String], TsdStore]

  /** The named stores whose id `keep` accepts, each listed through
    * [[TsdIndex.listStore]] when a scan first selects it and kept for the
    * load's life, with its entries ([[TsdStore.planned]]). More than one
    * new store are listed, sidecars read, on a bounded pool (metadata
    * calls are latency-bound); a missing store raises the listing's own
    * `FileNotFoundException`, as a single-store load does. */
  private[sources] def listed(keep: Option[String] => Boolean)
      : Seq[(Option[String], TsdStore)] = synchronized {
    val selected = named.filter(n => keep(n._1))
    val fresh = selected.filterNot(n => listedStores.contains(n._1))
    lazy val conf = SparkSession.active.sessionState.newHadoopConf()
    def list(p: Path) = TsdIndex.listStore(p.getFileSystem(conf), p)
    if (fresh.size == 1) listedStores(fresh.head._1) = list(fresh.head._2)
    else if (fresh.nonEmpty) {
      val pool = Executors.newFixedThreadPool(math.min(16, fresh.size))
      try fresh.map { case (id, p) => id -> pool.submit { () => val s = list(p); s.indexed; s } }
        .foreach { case (id, fut) =>
          listedStores(id) = try fut.get() catch { case e: ExecutionException => throw e.getCause }
        }
      finally pool.shutdown()
    }
    selected.map { case (id, _) => id -> listedStores(id) }
  }

  /** The store a single-store load names ([[listed]]). */
  private[sources] def store: TsdStore = listed(_ => true).head._2

  override def name(): String =
    if (fleet) s"tsdFleet(${props.getOrDefault("stores", props.getOrDefault("path", ""))})"
    else s"tsd(${props.getOrDefault("path", "")})"
  override def schema(): StructType =
    if (fleet) TsdDataSource.FleetSchema
    else if (xdata) TsdDataSource.XDataSchema else EtsdSchema.LongSchema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TsdScanBuilder(this)
}

private[sources] class TsdScanBuilder(table: TsdTable)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {
  import table.{fleet, xdata}
  private var lo = Long.MinValue
  private var hi = Long.MaxValue
  private var chans: Option[Set[String]] = None // channel pruning (long mode)
  private var storeSel: Option[Set[String]] = None // store pruning (fleet mode)
  private var pushed = Array.empty[sources.Filter]
  // column pruning: the readers assemble ONLY the projected fields, so a
  // fleet-wide count(*) (empty schema) or a (store_id, ts) rollup never
  // boxes channel strings/values it won't read — and `.explain` shows
  // the honest ReadSchema
  private var required: Option[StructType] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = Some(requiredSchema)

  private def narrowStores(ids: Iterable[String]): Boolean = {
    val set = ids.toSet
    storeSel = Some(storeSel.fold(set)(_ intersect set))
    true
  }

  private def narrowChans(names: Iterable[String]): Boolean = {
    val set = names.toSet
    chans = Some(chans.fold(set)(_ intersect set))
    true
  }

  private def epochOf(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp => Some(t.getTime / 1000L)
    case i: java.time.Instant  => Some(i.getEpochSecond)
    case _ => None
  }
  private def longOf(v: Any): Option[Long] = v match {
    case l: java.lang.Long    => Some(l)
    case i: java.lang.Integer => Some(i.toLong)
    case _ => None
  }
  // time column of the active mode: `ts` (timestamp) on the long view,
  // `block_epoch` (epoch-second long) on the xData side table
  private def bound(col: String, v: Any): Option[Long] =
    if (xdata) { if (col == "block_epoch") longOf(v) else None }
    else { if (col == "ts") epochOf(v) else None }

  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    val used = filters.filter {
      // channel pruning: skip non-matching channels' bit regions at
      // decode (the reference's read-one-channel scan, etsdQuery.c:304).
      // Must precede the generic cases — pattern matching is first-win.
      case sources.EqualTo("channel", v: String) if !xdata => narrowChans(Seq(v))
      case sources.In("channel", vs) if !xdata &&
          vs.forall(_.isInstanceOf[String]) =>
        narrowChans(vs.map(_.asInstanceOf[String]))
      // store pruning (fleet mode): whole stores drop out of the plan —
      // no listing, no sidecar read, no partitions for a pruned store
      case sources.EqualTo("store_id", v: String) if fleet => narrowStores(Seq(v))
      case sources.In("store_id", vs) if fleet &&
          vs.forall(_.isInstanceOf[String]) =>
        narrowStores(vs.map(_.asInstanceOf[String]))
      case sources.GreaterThan(c, v)        => bound(c, v).exists { e => lo = lo.max(e); true }
      case sources.GreaterThanOrEqual(c, v) => bound(c, v).exists { e => lo = lo.max(e); true }
      case sources.LessThan(c, v)           => bound(c, v).exists { e => hi = hi.min(e); true }
      case sources.LessThanOrEqual(c, v)    => bound(c, v).exists { e => hi = hi.min(e); true }
      case sources.EqualTo(c, v)            => bound(c, v).exists { e => lo = lo.max(e); hi = hi.min(e); true }
      case _ => false
    }
    pushed = used
    filters // block pruning is coarse: Spark must re-apply everything
  }
  override def pushedFilters(): Array[sources.Filter] = pushed
  override def build(): Scan =
    new TsdScan(table, lo, hi, chans, storeSel, required)
}

/** One file's contiguous sector range — the unit the partition packer
  * bins. `store` is the fleet store id (None for single-store scans). */
private[sources] case class TsdChunk(file: String, startSector: Long,
    endSector: Long, store: Option[String] = None) {
  def nBlocks: Long = endSector - startSector + 1

  /** The file's header schema and this chunk's whole sector range, read
    * with ONE positioned `readFully` (see [[TsdPartitionReader]]). */
  def read(conf: Configuration): (EtsdSchema, Array[Byte]) = {
    val p = new Path(file)
    val in = p.getFileSystem(conf).open(p)
    try {
      val schema = TsdIndex.readHeader(in)
      val data = new Array[Byte](nBlocks.toInt * BlockBuffer.BlockSize)
      in.readFully(startSector * BlockBuffer.BlockSize, data)
      (schema, data)
    } finally in.close()
  }
}

/** A scan partition: one or MORE file sector ranges read sequentially by
  * one task. Packing many small files per task is the point — a fleet of
  * 10k+ small stores must not pay 10k+ task launches + file opens when
  * the whole fleet's surviving bytes fit a handful of input splits
  * (guide §6 small files; the same rule as Spark's own
  * FilePartition.maxSplitBytes packing for file sources). */
private[sources] case class TsdInputPartition(chunks: Seq[TsdChunk],
    lo: Long, hi: Long,
    chans: Option[Seq[String]] = None,
    cols: Option[Seq[String]] = None) extends InputPartition

private[sources] object TsdPacking {
  /** Most 512 B blocks in one partition (1 MiB): each task bulk-reads a
    * chunk's sector range into one byte array of at most this many
    * blocks. A constant of the scan, not a read option. */
  val BlocksPerPartition = 2048L

  /** Cost charged per chunk for its file open + header read, in 512 B
    * block units (64 blocks = 32 KiB): bounds how many tiny files one
    * task packs, exactly the role of `spark.sql.files.openCostInBytes`
    * in Spark's file-source packing — scaled to the .tsd open cost (one
    * positioned 512 B header read), not parquet footer decoding. */
  val OpenCostBlocks = 64L

  /** Greedy bin-packing of per-file sector ranges into partitions.
    *
    * Budget per partition (in 512 B blocks, openCost charged per chunk
    * for the file open + header read) mirrors Spark's
    * `FilePartition.maxSplitBytes`: never above `blocksPerPartition`
    * (bounds the task's single bulk read buffer), never below the even
    * split of the total cost over the session's default parallelism —
    * so a small fleet still fans out to every core, a 100 TB fleet gets
    * `total/blocksPerPartition` tasks, and a single tiny file costs one
    * task either way. */
  def pack(chunks: Seq[TsdChunk], blocksPerPartition: Long, openCost: Long,
           parallelism: Int, lo: Long, hi: Long,
           chans: Option[Seq[String]],
           cols: Option[Seq[String]]): Array[InputPartition] = {
    val totalCost = chunks.map(_.nBlocks + openCost).sum
    val budget = math.min(blocksPerPartition,
      math.max(openCost + 1, totalCost / math.max(1, parallelism) + 1))
    // re-split ranges to the (possibly smaller) budget so one range can
    // fill a partition exactly, then pack greedily in planning order
    // (time-sorted within a file, directory order across files — keeps
    // each partition's reads sequential on disk)
    val split = chunks.flatMap { c =>
      (c.startSector to c.endSector by budget).map { s =>
        TsdChunk(c.file, s, math.min(s + budget - 1, c.endSector), c.store)
      }
    }
    val parts = scala.collection.mutable.ArrayBuffer[InputPartition]()
    val group = scala.collection.mutable.ArrayBuffer[TsdChunk]()
    var cost = 0L
    split.foreach { c =>
      val cc = c.nBlocks + openCost
      if (group.nonEmpty && cost + cc > budget) {
        parts += TsdInputPartition(group.toSeq, lo, hi, chans, cols)
        group.clear(); cost = 0L
      }
      group += c; cost += cc
    }
    if (group.nonEmpty)
      parts += TsdInputPartition(group.toSeq, lo, hi, chans, cols)
    parts.toArray
  }
}

/** The one `.tsd` scan. It plans over `(store id, file)` pairs from its
  * load's stores ([[TsdTable.listed]]): a plain load is one store without
  * an id (no `store_id` column), a fleet one store per directory. ONE
  * [[TsdIndex.plan]] covers the selected stores not planned before (their
  * sidecars, misses in one probe job); [[TsdStore.select]] keeps files.
  *
  * A fleet is ONE scan node, not a union of per-store scans: a union's
  * logical plan is O(stores), and at the 10k–100k-store fleet a 100 TB
  * layout implies, analysis, optimization and plan serialization would
  * walk one scan node per store on every query. Here store count only
  * affects the load's metadata I/O (bounded-pool listings, once per
  * store) and the partition list, which any file source pays. Store ids
  * are the directory base names and must be distinct across the fleet;
  * an `=`/`IN` predicate on `store_id` prunes whole stores before any
  * metadata I/O of theirs. */
private[sources] class TsdScan(table: TsdTable,
                               lo: Long, hi: Long,
                               chans: Option[Set[String]],
                               storeSel: Option[Set[String]],
                               required: Option[StructType])
    extends Scan with Batch with SupportsReportStatistics {
  import table.{fleet, path, xdata}
  override def readSchema(): StructType = required.getOrElse(table.schema())
  override def toBatch: Batch = this
  override def description(): String =
    (if (fleet) s"TsdScan stores=${table.named.count(n => selected(n._1))}"
     else s"TsdScan path=$path") +
      s" tsRange=[${if (lo == Long.MinValue) "-inf" else lo}, " +
      s"${if (hi == Long.MaxValue) "+inf" else hi}]" +
      chans.fold("")(cs => s" chans=${cs.toSeq.sorted.mkString(",")}") +
      storeSel.fold("")(ss => s" storeSel=${ss.size}")

  /** Whether the store with id `id` survives `store_id` pushdown. */
  private def selected(id: Option[String]): Boolean = storeSel.forall(s => id.exists(s))

  /** Surviving whole-file chunks after store and file-level time pruning,
    * computed once per scan. Planning metadata comes from [[TsdIndex]] —
    * the sidecar where fresh, one distributed probe job otherwise, once
    * per store of the load — so the driver never reads data-file bytes
    * regardless of file count (the many-file form of etsdFindBlock's
    * E_BEFORE/E_AFTER checks, etsdRead.c:300-353). */
  private lazy val pruned: Seq[TsdChunk] = {
    val stores = table.listed(selected)
    stores.zip(TsdIndex.plan(SparkSession.active, stores.map(_._2))).flatMap {
      case ((id, s), entries) => s.select(lo, hi, entries).map(_.copy(store = id))
    }
  }

  override def planInputPartitions(): Array[InputPartition] =
    TsdPacking.pack(pruned, TsdPacking.BlocksPerPartition, TsdPacking.OpenCostBlocks,
      SparkSession.active.sparkContext.defaultParallelism,
      lo, hi, chans.map(_.toSeq.sorted), required.map(_.fieldNames.toSeq))

  override def createReaderFactory(): PartitionReaderFactory =
    new TsdReaderFactory(HadoopConfs.props(SparkSession.active), xdata)

  override def estimateStatistics(): Statistics = new Statistics {
    // post-prune bytes from the index: lets AQE/broadcast decisions see
    // a time-filtered .tsd scan as small when it is
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(pruned.map(c => (c.nBlocks + 1) * BlockBuffer.BlockSize).sum)
    override def numRows(): OptionalLong = OptionalLong.empty()
  }
}

private[sources] class TsdReaderFactory(hadoopProps: Seq[(String, String)],
                                        xdata: Boolean)
    extends PartitionReaderFactory {
  /** Sequentially drains one per-chunk reader after another — the
    * many-small-files partition shape from [[TsdPacking.pack]]. Chunk
    * readers are constructed LAZILY so a partition of N files holds one
    * open buffer at a time, not N; they share one Hadoop configuration. */
  override def createReader(ip: InputPartition): PartitionReader[InternalRow] = {
    val p = ip.asInstanceOf[TsdInputPartition]
    new PartitionReader[InternalRow] {
      private lazy val conf = HadoopConfs.build(hadoopProps)
      private val it = p.chunks.iterator
      private var cur: PartitionReader[InternalRow] = null
      override def next(): Boolean = {
        while (true) {
          if (cur == null) {
            if (!it.hasNext) return false
            cur =
              if (xdata) new TsdXDataPartitionReader(it.next(), p, conf)
              else new TsdPartitionReader(it.next(), p, conf)
          }
          if (cur.next()) return true
          cur.close(); cur = null
        }
        false
      }
      override def get(): InternalRow = cur.get()
      override def close(): Unit = { if (cur != null) cur.close(); cur = null }
    }
  }
}

/** xData-mode reader: one row per surviving block, no sample decode —
  * just the block's 8-byte head and an `xDataSize`-byte slice. */
private[sources] class TsdXDataPartitionReader(c: TsdChunk,
    p: TsdInputPartition,
    conf: Configuration) extends PartitionReader[InternalRow] {
  private var data: Array[Byte] = _ // whole chunk sector range, one read
  private val schema: EtsdSchema = {
    val (s, d) = c.read(conf); data = d; s
  }
  private val layout = new graft.codec.Layout(schema)
  private val span = schema.blockIntervals.toLong * schema.intervalSec
  private var sector = c.startSector
  private var cur: InternalRow = null
  // xdata-mode column pruning
  private val xCols = p.cols.getOrElse(
    TsdDataSource.XDataSchema.fieldNames.toSeq)

  override def next(): Boolean = {
    cur = null
    while (cur == null && sector <= c.endSector) {
      val off = ((sector - c.startSector) * BlockBuffer.BlockSize).toInt
      val buf = BlockBuffer(java.util.Arrays.copyOfRange(
        data, off, off + BlockBuffer.BlockSize))
      val ts = buf.timestamp
      if (ts + span >= p.lo && ts <= p.hi)
        cur = InternalRow.fromSeq(xCols.map[Any] {
          case "block_epoch"     => ts
          case "sector"          => sector
          case "xdata"           => EtsdDecoder.blockXData(layout, buf.bytes)
          case "valid_intervals" => buf.validIntervals
          case other => throw new IllegalArgumentException(
            s"unknown projected column '$other'")
        }.toIndexedSeq)
      sector += 1
    }
    cur != null
  }

  override def get(): InternalRow = cur
  override def close(): Unit = { data = null }
}

/** Hot decode path of the `.tsd` scan. Two deliberate shapes for CPU at
  * scale (guide §1.2 step 2 — per-task work):
  *
  *   - ONE positioned `readFully` for the partition's whole sector range
  *     instead of one 512-byte read per block: the checksummed local
  *     filesystem charges every positioned read a seek + crc chunk walk,
  *     which dominated decode CPU on block-dense scans (a 2048-block
  *     partition is a single 1 MiB read).
  *   - cursor-style decode straight out of the block bytes — no
  *     per-sample `Sample`/`Option` allocation, no per-block
  *     Layout/BlockCodec rebuild (hoisted once per partition: it is pure
  *     schema-derived addressing), no per-field closures; `get()`
  *     assembles exactly the pruned columns into one GenericInternalRow.
  */
private[sources] class TsdPartitionReader(chunk: TsdChunk,
    p: TsdInputPartition,
    conf: Configuration) extends PartitionReader[InternalRow] {
  import graft.codec.{BlockCodec, Layout, SignedCodec}
  private var data: Array[Byte] = _ // whole chunk sector range, one read
  private val schema: EtsdSchema = {
    val (s, d) = chunk.read(conf); data = d; s
  }
  private val layout = new Layout(schema)
  private val codec = new BlockCodec(layout)
  private val span = schema.blockIntervals.toLong * schema.intervalSec
  private val chans = schema.channels.toArray
  private val nChans = chans.length
  private val names = chans.map(c => UTF8String.fromString(c.name))
  // pushed channel set -> per-file index predicate; channels absent from
  // this file's schema simply never match
  private val kept: Array[Boolean] = {
    val sel = p.chans.map(_.toSet)
    chans.map(c => c.streamType != graft.model.StreamType.DontSave &&
      sel.forall(_.contains(c.name)))
  }

  // block cursor (index into `data`) and in-block (channel, interval)
  // cursor; iv == 0 is the register slot, 1..nIv the samples — the same
  // emission order as EtsdDecoder.decodeBlock
  private var blockIdx = 0
  private val nBlocks = (chunk.endSector - chunk.startSector + 1).toInt
  private var buf: BlockBuffer = null
  private var blockTs = 0L
  private var nIv = 0
  private var c = 0
  private var iv = 0

  // current row
  private var curTs = 0L
  private var curChan = 0
  private var curValue = 0L
  private var curValid = false
  private var curIsReg = false

  private def enterChannel(): Unit = {
    while (c < nChans && !kept(c)) c += 1
    if (c >= nChans) buf = null // block done
    else iv = if (chans(c).register) 0 else 1
  }

  override def next(): Boolean = {
    while (true) {
      if (buf == null) {
        if (blockIdx >= nBlocks) return false
        val off = blockIdx * BlockBuffer.BlockSize
        blockIdx += 1
        // per-block prune: 4-byte LE timestamp check before any decode
        val ts = ((data(off) & 0xFFL)) | ((data(off + 1) & 0xFFL) << 8) |
          ((data(off + 2) & 0xFFL) << 16) | ((data(off + 3) & 0xFFL) << 24)
        if (ts + span >= p.lo && ts <= p.hi) {
          buf = BlockBuffer(java.util.Arrays.copyOfRange(
            data, off, off + BlockBuffer.BlockSize))
          blockTs = ts
          nIv = math.min(buf.validIntervals, schema.blockIntervals)
          c = 0
          enterChannel()
        }
      } else if (iv == 0) { // register snapshot row (interval 0)
        val v = codec.readRegister(buf, c)
        curTs = blockTs; curChan = c; curIsReg = true
        curValid = v != 0xFFFFFFFFL; curValue = v
        iv = 1
        if (nIv < 1) { c += 1; enterChannel() }
        return true
      } else if (iv <= nIv) {
        val wire = codec.readSample(buf, c, iv)
        curTs = blockTs + iv.toLong * schema.intervalSec
        curChan = c; curIsReg = false
        if (codec.isInvalid(c, wire)) { curValid = false; curValue = 0L }
        else {
          curValid = true
          curValue =
            if (chans(c).signed)
              SignedCodec.decode(chans(c).streamType.totalBits, wire)
            else wire
        }
        iv += 1
        if (iv > nIv) { c += 1; enterChannel() }
        return true
      } else { c += 1; enterChannel() }
    }
    false
  }

  // fleet partitions carry their store id; it lands as the store_id
  // column (FleetSchema) — constant per partition, one shared
  // UTF8String reference per reader
  private val storeU = chunk.store.map(UTF8String.fromString).orNull

  // column pruning: assemble exactly the projected fields, in the
  // projected order (p.cols is the scan's pruned ReadSchema; None =
  // the full long/fleet schema). count(*) prunes to ZERO columns —
  // every surviving sample emits an empty row, no boxing at all.
  private val colIds: Array[Int] = {
    val full = Seq("ts", "channel", "value", "valid", "is_register") ++
      (if (storeU == null) Nil else Seq("store_id"))
    p.cols.getOrElse(full).map {
      case "ts" => 0
      case "channel" => 1
      case "value" => 2
      case "valid" => 3
      case "is_register" => 4
      case "store_id" => 5
      case other => throw new IllegalArgumentException(
        s"unknown projected column '$other'")
    }.toArray
  }

  override def get(): InternalRow = {
    val a = new Array[Any](colIds.length)
    var j = 0
    while (j < colIds.length) {
      a(j) = colIds(j) match {
        case 0 => curTs * 1000000L
        case 1 => names(curChan)
        case 2 => if (curValid) java.lang.Long.valueOf(curValue) else null
        case 3 => java.lang.Boolean.valueOf(curValid)
        case 4 => java.lang.Boolean.valueOf(curIsReg)
        case _ => storeU
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(a)
  }

  override def close(): Unit = { data = null }
}
