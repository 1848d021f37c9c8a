package graft.sources

import java.util.OptionalLong

import scala.jdk.CollectionConverters._

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

import graft.codec.{BlockBuffer, EtsdDecoder, HeaderCodec}
import graft.model.EtsdSchema

/** DataSource V2 reader for native `.tsd` files with time-range filter
  * pushdown — the Spark-native form of the reference's `etsdFindBlock`
  * sector search (etsdRead.c:300-353): a `ts` predicate becomes
  * block-range pruning, first at planning time per file (via the first
  * and last block timestamps, two 512-byte probes), then per block inside
  * each partition (4-byte timestamp check before any decode).
  *
  * Usage: `spark.read.format("graft.sources.TsdDataSource").load(path)`.
  * Output is the canonical long schema. Pruning is block-granular, so all
  * filters are also returned as residual — Spark re-applies them exactly.
  * Partitions are fixed-size sector ranges: a single large file splits
  * across the cluster instead of one task (the v2 upgrade over the
  * `binaryFile` path in [[EtsdSource.read]]).
  *
  * `EtsdQueryApi.query` over a bare load of this source skips the scan
  * when the sidecar prunes the selection to at most
  * [[TsdLocalScan.MaxBlocks]] (1,024) blocks: [[TsdLocalScan]] reads those
  * files on the driver with the same partition reader. The bound is a
  * constant so that driver work stays O(1) in store size.
  */
class TsdDataSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (TsdDataSource.fleetMode(options)) TsdDataSource.FleetSchema
    else if (options.getBoolean("xdata", false)) TsdDataSource.XDataSchema
    else EtsdSchema.LongSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new TsdTable(properties.asScala.toMap)
}

object TsdDataSource {
  /** Per-block side-table schema for `option("xdata", true)` reads
    * (SURVEY.md §1.5: the opaque per-block region, etsd.h:102-103, as a
    * `BinaryType` side table). */
  val XDataSchema: StructType = new StructType()
    .add("block_epoch", org.apache.spark.sql.types.LongType, false)
    .add("sector", org.apache.spark.sql.types.LongType, false)
    .add("xdata", org.apache.spark.sql.types.BinaryType, false)

  /** Multi-store (fleet) output: the long schema plus the originating
    * store's id — ONE scan node for the whole fleet (see [[TsdFleetScan]]). */
  val FleetSchema: StructType = EtsdSchema.LongSchema
    .add("store_id", org.apache.spark.sql.types.StringType, false)

  /** Fleet mode is on when the caller passes an explicit store-dir list
    * (`option("stores", "d1,d2,…")`) or asks to treat the load path as a
    * fleet ROOT whose immediate subdirectories are the stores
    * (`option("fleet", "true")`). */
  private[sources] def fleetMode(options: CaseInsensitiveStringMap): Boolean =
    options.containsKey("stores") || options.getBoolean("fleet", false)

  // lenient parse matching CaseInsensitiveStringMap.getBoolean (only a
  // case-insensitive "true" is true) so the two fleetMode views of the
  // same options can never disagree — strict toBoolean would throw on
  // option("fleet", "1") AFTER inferSchema had treated it as non-fleet
  private[sources] def fleetMode(props: Map[String, String]): Boolean =
    props.contains("stores") ||
      props.get("fleet").exists(_.equalsIgnoreCase("true"))
}

private[sources] class TsdTable(props: Map[String, String])
    extends Table with SupportsRead {
  private[sources] def xdata = props.get("xdata").exists(_.toBoolean)
  private[sources] def fleet = TsdDataSource.fleetMode(props)
  require(!(xdata && fleet), "xdata reads are per-store; drop option(\"fleet\")")
  override def name(): String =
    if (fleet) s"tsdFleet(${props.getOrElse("stores", props.getOrElse("path", ""))})"
    else s"tsd(${props.getOrElse("path", "")})"
  override def schema(): StructType =
    if (fleet) TsdDataSource.FleetSchema
    else if (xdata) TsdDataSource.XDataSchema else EtsdSchema.LongSchema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TsdScanBuilder(options.get("path"),
      options.getLong("blocksPerPartition", 2048),
      options.getBoolean("xdata", false),
      fleet = TsdDataSource.fleetMode(options),
      stores = Option(options.get("stores"))
        .map(_.split(',').toSeq.filter(_.nonEmpty)))
}

private[sources] class TsdScanBuilder(path: String, blocksPerPartition: Long,
                                      xdata: Boolean,
                                      fleet: Boolean = false,
                                      stores: Option[Seq[String]] = None)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {
  // each task bulk-reads its partition's sector ranges into byte arrays
  // bounded by blocksPerPartition * 512 B; validate at scan build so a
  // misconfiguration fails with a message instead of Int overflow /
  // multi-GiB task allocations (2^21 blocks = a 1 GiB read buffer)
  require(blocksPerPartition >= 1 && blocksPerPartition <= (1L << 21),
    s"blocksPerPartition must be in [1, ${1L << 21}] " +
      s"(512 B blocks; got $blocksPerPartition)")
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
    if (fleet)
      new TsdFleetScan(path, stores, lo, hi, blocksPerPartition, chans,
        storeSel, required)
    else new TsdScan(path, lo, hi, blocksPerPartition, xdata, chans, required)
}

/** One file's contiguous sector range — the unit the partition packer
  * bins. `store` is the fleet store id (None for single-store scans). */
private[sources] case class TsdChunk(file: String, startSector: Long,
    endSector: Long, store: Option[String] = None) {
  def nBlocks: Long = endSector - startSector + 1
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

private[sources] class TsdScan(path: String, lo: Long, hi: Long,
                               blocksPerPartition: Long,
                               xdata: Boolean = false,
                               chans: Option[Set[String]] = None,
                               required: Option[StructType] = None)
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = required.getOrElse(
    if (xdata) TsdDataSource.XDataSchema else EtsdSchema.LongSchema)
  override def toBatch: Batch = this
  override def description(): String =
    s"TsdScan path=$path tsRange=[${if (lo == Long.MinValue) "-inf" else lo}, " +
      s"${if (hi == Long.MaxValue) "+inf" else hi}]" +
      chans.fold("")(cs => s" chans=${cs.toSeq.sorted.mkString(",")}")

  private def hadoopFs(p: Path) =
    p.getFileSystem(SparkSession.active.sessionState.newHadoopConf())

  /** Surviving index entries after file-level time pruning, computed
    * once per scan. Planning metadata comes from [[TsdIndex]] — the
    * sidecar where fresh, one distributed probe job otherwise — so the
    * driver never reads data-file bytes regardless of file count
    * (the many-file form of etsdFindBlock's E_BEFORE/E_AFTER checks,
    * etsdRead.c:300-353). */
  private lazy val pruned: Seq[(String, TsdIndexEntry)] = {
    val root = new Path(path)
    val spark = SparkSession.active
    val fs = hadoopFs(root)
    val dir = if (fs.getFileStatus(root).isDirectory) root else root.getParent
    TsdIndex.forPlanning(spark, fs, root)
      .filter(_.overlaps(lo, hi))
      .map(e => (new Path(dir, e.name).toString, e))
  }

  override def planInputPartitions(): Array[InputPartition] =
    TsdPacking.pack(
      pruned.map { case (file, e) => TsdChunk(file, 1L, e.nBlocks) },
      blocksPerPartition, TsdPacking.OpenCostBlocks,
      SparkSession.active.sparkContext.defaultParallelism,
      lo, hi, chans.map(_.toSeq.sorted), required.map(_.fieldNames.toSeq))

  override def createReaderFactory(): PartitionReaderFactory =
    new TsdReaderFactory(HadoopConfs.props(SparkSession.active), xdata)

  override def estimateStatistics(): Statistics = new Statistics {
    // post-prune bytes from the index: lets AQE/broadcast decisions see
    // a time-filtered .tsd scan as small when it is
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(pruned.map(_._2.fileLen).sum)
    override def numRows(): OptionalLong = OptionalLong.empty()
  }
}

/** ONE scan node for a whole multi-store fleet — `store_id` is an output
  * column, and planning for every store happens inside this single node
  * (per-store `_graft_index` sidecars, misses coalesced into one probe
  * job; see [[TsdIndex.forPlanningFleet]]).
  *
  * The alternative — a union of per-store scans — is value-identical but
  * O(stores) in PLAN size: at the 10k–100k-store fleet a 100 TB layout
  * implies, analysis, optimization, and plan serialization all walk one
  * scan node per store on every query. Here the logical plan is O(1) in
  * store count; store count only affects planning-time metadata I/O
  * (bounded-pool listings) and the partition list, which any file source
  * pays. Store ids are the directory base names and must be distinct
  * across the fleet; an `=`/`IN` predicate on `store_id` prunes whole
  * stores before any metadata I/O. */
private[sources] class TsdFleetScan(rootPath: String,
                                    stores: Option[Seq[String]],
                                    lo: Long, hi: Long,
                                    blocksPerPartition: Long,
                                    chans: Option[Set[String]],
                                    storeSel: Option[Set[String]],
                                    required: Option[StructType] = None)
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType =
    required.getOrElse(TsdDataSource.FleetSchema)
  override def toBatch: Batch = this
  override def description(): String =
    s"TsdFleetScan stores=${storeDirs.size}" +
      s" tsRange=[${if (lo == Long.MinValue) "-inf" else lo}, " +
      s"${if (hi == Long.MaxValue) "+inf" else hi}]" +
      chans.fold("")(cs => s" chans=${cs.toSeq.sorted.mkString(",")}") +
      storeSel.fold("")(ss => s" storeSel=${ss.size}")

  /** (storeId, dir) after store_id pushdown — explicit `stores` list, or
    * the root's immediate subdirectories (one listing). */
  private lazy val storeDirs: Seq[(String, Path)] = {
    val dirs: Seq[Path] = stores match {
      case Some(list) => list.map(new Path(_))
      case None =>
        val root = new Path(rootPath)
        val fs = root.getFileSystem(
          SparkSession.active.sessionState.newHadoopConf())
        fs.listStatus(root).filter(s => s.isDirectory &&
            !s.getPath.getName.startsWith("_") &&
            !s.getPath.getName.startsWith("."))
          .map(_.getPath).toSeq.sortBy(_.getName)
    }
    val withIds = dirs.map(p => (p.getName, p))
    val dup = withIds.groupBy(_._1).filter(_._2.size > 1).keys
    require(dup.isEmpty,
      s"fleet store ids (dir base names) must be distinct: ${dup.mkString(",")}")
    withIds.filter { case (id, _) => storeSel.forall(_.contains(id)) }
  }

  /** Surviving (store, file, entry) rows after store + file-level time
    * pruning — one metadata pass for the whole fleet. */
  private lazy val pruned: Seq[(String, String, TsdIndexEntry)] =
    TsdIndex.forPlanningFleet(SparkSession.active, storeDirs)
      .filter(_._3.overlaps(lo, hi))

  override def planInputPartitions(): Array[InputPartition] =
    TsdPacking.pack(
      pruned.map { case (store, file, e) =>
        TsdChunk(file, 1L, e.nBlocks, Some(store)) },
      blocksPerPartition, TsdPacking.OpenCostBlocks,
      SparkSession.active.sparkContext.defaultParallelism,
      lo, hi, chans.map(_.toSeq.sorted), required.map(_.fieldNames.toSeq))

  override def createReaderFactory(): PartitionReaderFactory =
    new TsdReaderFactory(HadoopConfs.props(SparkSession.active),
      xdata = false)

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(pruned.map(_._3.fileLen).sum)
    override def numRows(): OptionalLong = OptionalLong.empty()
  }
}

private[sources] class TsdReaderFactory(hadoopProps: Seq[(String, String)],
                                        xdata: Boolean)
    extends PartitionReaderFactory {
  /** Sequentially drains one per-chunk reader after another — the
    * many-small-files partition shape from [[TsdPacking.pack]]. Chunk
    * readers are constructed LAZILY so a partition of N files holds one
    * open buffer at a time, not N. */
  override def createReader(ip: InputPartition): PartitionReader[InternalRow] = {
    val p = ip.asInstanceOf[TsdInputPartition]
    new PartitionReader[InternalRow] {
      private val it = p.chunks.iterator
      private var cur: PartitionReader[InternalRow] = null
      override def next(): Boolean = {
        while (true) {
          if (cur == null) {
            if (!it.hasNext) return false
            cur =
              if (xdata) new TsdXDataPartitionReader(it.next(), p, hadoopProps)
              else new TsdPartitionReader(it.next(), p, hadoopProps)
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
  * just the 4-byte timestamp check and an `xDataSize`-byte slice. */
private[sources] class TsdXDataPartitionReader(c: TsdChunk,
    p: TsdInputPartition,
    hadoopProps: Seq[(String, String)]) extends PartitionReader[InternalRow] {
  private var data: Array[Byte] = _ // whole chunk sector range, one read
  private val schema: EtsdSchema = {
    val fs = new Path(c.file).getFileSystem(HadoopConfs.build(hadoopProps))
    val in = fs.open(new Path(c.file))
    try {
      val hdr = new Array[Byte](BlockBuffer.BlockSize)
      in.readFully(0, hdr)
      val s = HeaderCodec.decode(hdr)
      val nBlk = (c.endSector - c.startSector + 1).toInt
      data = new Array[Byte](nBlk * BlockBuffer.BlockSize)
      in.readFully(c.startSector * BlockBuffer.BlockSize, data)
      s
    } finally in.close()
  }
  private val layout = new graft.codec.Layout(schema)
  private val span = schema.blockIntervals.toLong * schema.intervalSec
  private var sector = c.startSector
  private var cur: InternalRow = null
  // xdata-mode column pruning: project (block_epoch, sector, xdata)
  private val xCols = p.cols.getOrElse(Seq("block_epoch", "sector", "xdata"))

  override def next(): Boolean = {
    cur = null
    while (cur == null && sector <= c.endSector && schema.xDataSize > 0) {
      val off = ((sector - c.startSector) * BlockBuffer.BlockSize).toInt
      val buf = java.util.Arrays.copyOfRange(
        data, off, off + BlockBuffer.BlockSize)
      val ts = BlockBuffer(buf).timestamp
      if (ts + span >= p.lo && ts <= p.hi)
        cur = InternalRow.fromSeq(xCols.map[Any] {
          case "block_epoch" => ts
          case "sector"      => sector
          case "xdata"       => EtsdDecoder.blockXData(layout, buf)
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
    hadoopProps: Seq[(String, String)]) extends PartitionReader[InternalRow] {
  import graft.codec.{BlockCodec, Layout, SignedCodec}
  private var data: Array[Byte] = _ // whole chunk sector range, one read
  private val schema: EtsdSchema = {
    val fs = new Path(chunk.file).getFileSystem(HadoopConfs.build(hadoopProps))
    val in = fs.open(new Path(chunk.file))
    try {
      val hdr = new Array[Byte](BlockBuffer.BlockSize)
      in.readFully(0, hdr)
      val s = HeaderCodec.decode(hdr)
      val nBlk = (chunk.endSector - chunk.startSector + 1).toInt
      data = new Array[Byte](nBlk * BlockBuffer.BlockSize)
      in.readFully(chunk.startSector * BlockBuffer.BlockSize, data)
      s
    } finally in.close()
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
