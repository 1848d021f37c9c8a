package graft.sources

import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.codec.{BlockBuffer, HeaderCodec}
import graft.model.EtsdSchema

/** Per-file planning metadata for a directory of `.tsd` span files:
  * everything `TsdDataSource` needs to prune and split a file without
  * opening it — the many-file generalization of the reference's
  * `etsdFindBlock` first/last-sector probes (etsdRead.c:300-353).
  *
  * `fileLen` + `modTime` pin freshness: an entry is only trusted if the
  * current file length AND modification time match, so a file that grew
  * (streaming append/rotation) or was rewritten in place at the same
  * length (shifted slot range) is re-probed rather than mis-pruned.
  */
final case class TsdIndexEntry(
    name: String,      // file name within the directory (not full path)
    fileLen: Long,
    nBlocks: Long,     // data blocks (file blocks minus header)
    firstTs: Long,     // epoch of first data block
    lastTs: Long,      // epoch of last data block
    blockSpanSec: Long, // blockIntervals * intervalSec from the header
    modTime: Long = 0L // file modification time at probe/write
) {
  /** Can this file hold a block overlapping `[lo, hi]` (epoch seconds)?
    * The one file-level time-pruning predicate of every `.tsd` planner;
    * it assumes block clocks only move forward (first block earliest,
    * last block latest). */
  def overlaps(lo: Long, hi: Long): Boolean =
    lastTs + blockSpanSec >= lo && firstTs <= hi
}

object TsdIndexEntry {
  /** The one entry builder, for a file probed on disk and for bytes a
    * writer has in hand alike: the entry of file `name`, `len` bytes long,
    * with header `schema`, where `block(sector)` gives the 512 bytes of a
    * data block (sectors 1 to [[TsdIndex.dataBlocks]]). */
  def of(name: String, len: Long, schema: EtsdSchema, modTime: Long)(
      block: Long => Array[Byte]): TsdIndexEntry = {
    val n = TsdIndex.dataBlocks(len)
    def ts(sector: Long) = BlockBuffer(block(sector)).timestamp
    TsdIndexEntry(name, len, n, ts(1), ts(n),
      schema.blockIntervals.toLong * schema.intervalSec, modTime)
  }
}

/** The files one `.tsd` store path names, from [[TsdIndex.listStore]]:
  * its directory (the path, or a single file's parent), its data files in
  * name order, and the file whose header is its schema. */
final class TsdStore private[sources] (val fs: FileSystem, val dir: Path,
    val files: Seq[FileStatus], sidecar: Boolean, schemaFiles: Seq[FileStatus]) {
  /** The first data file, else (a header-only store from `create`) the
    * first file that holds a header. */
  def schemaFile: FileStatus = schemaFiles.headOption
    .getOrElse(throw new IllegalArgumentException(s"no .tsd files in $dir"))

  lazy val schema: EtsdSchema = {
    val in = fs.open(schemaFile.getPath)
    try TsdIndex.readHeader(in) finally in.close()
  }

  /** The fresh sidecar entries, and the data files the sidecar does not
    * cover or covers with a stale entry. The sidecar is read on first use
    * (a caller after the schema alone never reads it), and the split is
    * counted in [[TsdIndex.PlanStats]] there, once per listing. */
  lazy val (indexed: Seq[TsdIndexEntry], unindexed: Seq[FileStatus]) = {
    val cached = Option.when(sidecar)(TsdIndex.load(fs, dir)).flatten.getOrElse(Map.empty)
    val (hit, miss) = files.partition { f =>
      cached.get(f.getPath.getName)
        .exists(e => e.fileLen == f.getLen && e.modTime == f.getModificationTime)
    }
    TsdIndex.PlanStats.indexedFiles.addAndGet(hit.size)
    TsdIndex.PlanStats.probedFiles.addAndGet(miss.size)
    (hit.map(f => cached(f.getPath.getName)), miss)
  }

  /** The full path of the store's file `name`. */
  def path(name: String): Path = new Path(dir, name)
}

/** Build, persist, and load the sidecar block index (`_graft_index`).
  *
  * At 100 TB a `.tsd` layout is >=1e5 span files; probing each serially
  * on the driver at planning time (3 x 512 B reads per file) is minutes
  * of driver I/O per query. Instead the index is built ONCE as a small
  * distributed job (one task per batch of files, probes run on
  * executors) and written as a sidecar the planner reads in a single
  * small-file read. The `_` prefix keeps it invisible to Spark's file
  * sources (hidden-file convention), and [[listStore]] skips it.
  *
  * [[listStore]] is the one rule for what a `.tsd` path names, used by
  * every reader (the scan's planner, the driver-local fold, and the
  * CLI's `query`, `examine` and `dump`):
  *   - a file names a one-file store; a directory names its files;
  *   - a data file is any file, whatever its name, that is not hidden
  *     (`_` or `.` prefix) and holds a header plus at least one whole
  *     block, so the reference's rotated `name.<epoch>` files count;
  *   - the schema is the header of the first data file by name, or of a
  *     header-only file when the store has no data block (a fresh
  *     `create`), which plans zero blocks.
  */
object TsdIndex {
  val FileName = "_graft_index"
  private val Header = "graft-tsd-index\tv2"

  /** Planning-path instrumentation (test observability, driver-side
    * only): how the data files of the stores planned since the last
    * [[PlanStats.reset]] got their metadata, counted by [[TsdStore]]. */
  object PlanStats {
    val indexedFiles = new AtomicLong(0) // served from the sidecar
    val probedFiles = new AtomicLong(0)  // probed, or read whole on the driver
    def reset(): Unit = { indexedFiles.set(0); probedFiles.set(0) }
  }

  /** Whole data blocks in a file of `len` bytes: the blocks after the
    * header, floored. The one length rule of every `.tsd` reader, so a
    * partial trailing block (a torn write) is ignored by all of them. */
  def dataBlocks(len: Long): Long = len / BlockBuffer.BlockSize - 1

  /** The header block of an open `.tsd` file, decoded. */
  private[graft] def readHeader(in: FSDataInputStream): EtsdSchema = {
    val hdr = new Array[Byte](BlockBuffer.BlockSize)
    in.readFully(0, hdr)
    HeaderCodec.decode(hdr)
  }

  /** Probe one file: header decode + first/last block reads (3 x 512 B).
    * Runs on an EXECUTOR when called from [[probeDistributed]]. */
  def probe(fs: FileSystem, path: Path, len: Long, modTime: Long): TsdIndexEntry = {
    val in = fs.open(path)
    try TsdIndexEntry.of(path.getName, len, readHeader(in), modTime) { sector =>
      val b = new Array[Byte](BlockBuffer.BlockSize)
      in.readFully(sector * BlockBuffer.BlockSize, b)
      b
    } finally in.close()
  }

  /** Probe `files` — (full path, length, modTime) — as ONE distributed
    * job: executors do the 3-read probes in parallel; only the tiny entry
    * list (one row per file, in input order) returns to the driver. The
    * files may span directories and filesystems. */
  def probeDistributed(spark: SparkSession,
                       files: Seq[(String, Long, Long)]): Seq[TsdIndexEntry] = {
    if (files.isEmpty) return Seq.empty
    val hadoopProps = HadoopConfs.props(spark)
    val parallelism = math.min(files.size,
      spark.sparkContext.defaultParallelism * 4).max(1)
    spark.sparkContext.parallelize(files, parallelism)
      .map { case (path, len, mod) =>
        val p = new Path(path)
        val fs = p.getFileSystem(HadoopConfs.build(hadoopProps))
        probe(fs, p, len, mod)
      }.collect().toSeq
  }

  /** Build the full index for a directory (distributed) and write the
    * sidecar atomically (temp file + rename). For directories written by
    * other tools, such as the reference daemon: [[EtsdSink]] merges the
    * sidecar itself and never leaves an unindexed layout. The planner
    * treats the sidecar as a cache, so a stale or missing one costs a
    * re-probe, never a wrong plan. */
  def write(spark: SparkSession, dir: String): Seq[TsdIndexEntry] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val store = listStore(fs, root)
    val entries = probeDistributed(spark, store.files.map(probeArg(store, _)))
    writeSidecar(fs, root, entries)
    entries
  }

  /** Merge entries into an existing sidecar (create if absent) WITHOUT
    * probing anything — the sink's incremental path: it already knows
    * each written file's metadata. Entries win over prior rows for the
    * same file name. */
  def merge(spark: SparkSession, dir: String, entries: Seq[TsdIndexEntry],
            drop: Set[String] = Set.empty): Unit = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val prior = load(fs, root).getOrElse(Map.empty)
    writeSidecar(fs, root,
      ((prior -- drop) ++ entries.map(e => e.name -> e)).values.toSeq)
  }

  private def writeSidecar(fs: FileSystem, dir: Path,
                           entries: Seq[TsdIndexEntry]): Unit = {
    val body = (Header +: entries.sortBy(_.name).map(e =>
      s"${e.name}\t${e.fileLen}\t${e.nBlocks}\t${e.firstTs}\t${e.lastTs}\t${e.blockSpanSec}\t${e.modTime}"))
      .mkString("", "\n", "\n")
    // unique tmp per writer: concurrent merges (a streaming batch racing
    // Retention) must not clobber each other's half-written tmp. The
    // sidecar is a CACHE — if the final rename loses a race, the write
    // is skipped (cost: a re-probe on the next plan), never thrown.
    val tmp = new Path(dir,
      s".${FileName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val os = fs.create(tmp, true)
    try os.write(body.getBytes(StandardCharsets.UTF_8)) finally os.close()
    val dest = new Path(dir, FileName)
    fs.delete(dest, false)
    if (!fs.rename(tmp, dest)) {
      fs.delete(tmp, false)
      System.err.println(s"[TsdIndex] lost sidecar write race on $dest " +
        "(cache skipped; next plan re-probes)")
    }
  }

  /** Load the sidecar if present: one small driver-side read. */
  def load(fs: FileSystem, dir: Path): Option[Map[String, TsdIndexEntry]] = {
    val in = try fs.open(new Path(dir, FileName))
      catch { case _: java.io.FileNotFoundException => return None }
    val text = try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toString("UTF-8")
    } finally in.close()
    val lines = text.split('\n').filter(_.nonEmpty)
    if (lines.isEmpty || lines.head != Header) return None
    // Skip malformed lines (wrong field count or non-numeric fields —
    // hand-edited sidecar, foreign file carrying the v2 header) instead
    // of throwing at planning time: a skipped entry is simply a cache
    // miss, so the file degrades to the documented re-probe path.
    Some(lines.tail.iterator.flatMap { l =>
      val f = l.split('\t')
      if (f.length != 7) None
      else scala.util.Try(
        f(0) -> TsdIndexEntry(f(0), f(1).toLong, f(2).toLong, f(3).toLong,
          f(4).toLong, f(5).toLong, f(6).toLong)).toOption
    }.toMap)
  }

  /** The store `path` names — the only code that turns a `.tsd` path into
    * files (see the rule above). Its I/O is one `getFileStatus`, plus one
    * listing when `path` is a directory; the sidecar, whose presence the
    * listing shows, is read only when [[TsdStore.indexed]] is first used.
    * A single file has no sidecar: it is always unindexed. */
  def listStore(fs: FileSystem, path: Path): TsdStore = {
    val st = fs.getFileStatus(path)
    val (dir, sidecar, visible) =
      if (!st.isDirectory) (path.getParent, false, Seq(st))
      else {
        val listed = fs.listStatus(path).sortBy(_.getPath.getName).toSeq
        (path, listed.exists(_.getPath.getName == FileName), listed.filter { f =>
          f.isFile && !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith(".")
        })
      }
    val files = visible.filter(f => dataBlocks(f.getLen) >= 1)
    new TsdStore(fs, dir, files, sidecar,
      files ++ visible.filter(_.getLen >= BlockBuffer.BlockSize))
  }

  /** `(full path, length, modTime)` of a store's file, as
    * [[probeDistributed]] takes it. */
  private def probeArg(s: TsdStore, f: FileStatus): (String, Long, Long) =
    (s.path(f.getPath.getName).toString, f.getLen, f.getModificationTime)

  /** Planning metadata for every data file of `stores` — (store id,
    * store) pairs — as (store id, full file path, entry): the sidecar's
    * fresh entries, and ONE distributed probe job for every store's
    * unindexed files together. */
  private[sources] def plan[K](spark: SparkSession,
      stores: Seq[(K, TsdStore)]): Seq[(K, String, TsdIndexEntry)] = {
    val misses = stores.flatMap { case (_, s) => s.unindexed.map(probeArg(s, _)) }
    val probed = misses.map(_._1).zip(probeDistributed(spark, misses)).toMap
    stores.flatMap { case (id, s) =>
      (s.indexed ++ s.unindexed.map(f => probed(probeArg(s, f)._1)))
        .map(e => (id, s.path(e.name).toString, e))
    }
  }

  /** Fleet planning entry point: metadata for every data file of every
    * store, in ONE call — the multi-store scan's planner.
    *
    * Driver work per store is one directory listing plus one tiny
    * sidecar read, flattened across a bounded thread pool (metadata RPCs
    * are latency-bound, so 16-way overlap keeps wall-clock ~flat in
    * store count at fleet sizes); cache MISSES from ALL stores coalesce
    * into a single distributed probe job — one Spark job per fleet scan
    * at worst, zero when sidecars are fresh, never one per store.
    * Returns (storeId, absoluteFilePath, entry). */
  def forPlanningFleet(spark: SparkSession,
      stores: Seq[(String, Path)]): Seq[(String, String, TsdIndexEntry)] = {
    if (stores.isEmpty) return Seq.empty
    val conf = spark.sessionState.newHadoopConf()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, stores.size))
    // FileSystem resolves PER STORE (cached by scheme+authority), so a
    // fleet spanning filesystems — hot stores on one bucket/cluster, cold
    // on another — plans fine
    val listed = try {
      stores.map { case (id, root) =>
        (id, pool.submit[TsdStore] { () =>
          val s = listStore(root.getFileSystem(conf), root)
          s.indexed // the sidecar read, on the pool too
          s
        })
      }.map { case (id, fut) => (id, fut.get()) }
    } finally pool.shutdown()
    plan(spark, listed)
  }

  /** Planning entry point for one store, a file or a directory: [[plan]]
    * over [[listStore]]`(fs, path)`. The driver's I/O is one status call,
    * a listing and at most one sidecar read, independent of file count. */
  def forPlanning(spark: SparkSession, fs: FileSystem,
                  path: Path): Seq[TsdIndexEntry] =
    forPlanning(spark, listStore(fs, path))

  /** [[forPlanning]] for a store already listed. */
  def forPlanning(spark: SparkSession, store: TsdStore): Seq[TsdIndexEntry] =
    plan(spark, Seq(((), store))).map(_._3)

  /** `begin`, the CLI's first stored sample, of a store whose data files
    * have `entries`: the smallest block-1 stamp ([[TsdIndexEntry.firstTs]]),
    * the earliest file's block 1, as the reference seeks block 1
    * (etsdQuery.c:259-261). It equals `min(ts)` over the store's rows
    * whenever its schema has a register channel (a register row carries
    * the block's own stamp) and its block clocks run forward; with no
    * register it is one interval before the first sample, and a clock
    * stepping backwards inside a file is not looked for. A store with no
    * data block raises the reference's read error. */
  def begin(entries: Seq[TsdIndexEntry]): Long =
    if (entries.isEmpty) throw new IllegalArgumentException("no data blocks in file")
    else entries.map(_.firstTs).min
}
