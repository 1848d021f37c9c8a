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

/** Build, persist, and load the sidecar block index (`_graft_index`).
  *
  * At 100 TB a `.tsd` layout is >=1e5 span files; probing each serially
  * on the driver at planning time (3 x 512 B reads per file) is minutes
  * of driver I/O per query. Instead the index is built ONCE as a small
  * distributed job (one task per batch of files, probes run on
  * executors) and written as a sidecar the planner reads in a single
  * small-file read. The `_` prefix keeps it invisible to Spark's file
  * sources (hidden-file convention), and [[isDataFile]] skips it.
  */
object TsdIndex {
  val FileName = "_graft_index"
  private val Header = "graft-tsd-index\tv2"

  /** Planning-path instrumentation (test observability, driver-side
    * only): how files got their planning metadata in the most recent
    * `planInputPartitions` calls. */
  object PlanStats {
    val indexedFiles = new AtomicLong(0) // served from the sidecar
    val probedFiles = new AtomicLong(0)  // probed via the Spark job
    def reset(): Unit = { indexedFiles.set(0); probedFiles.set(0) }
  }

  /** Whole data blocks in a file of `len` bytes: the blocks after the
    * header, floored. The one length rule of every `.tsd` reader, so a
    * partial trailing block (a torn write) is ignored by all of them. */
  def dataBlocks(len: Long): Long = len / BlockBuffer.BlockSize - 1

  /** Is this a data file the planner should consider? (Skips hidden
    * `_`/`.` files — the sidecar itself, Hadoop markers — and anything
    * too short to hold a header plus one block.) */
  def isDataFile(f: FileStatus): Boolean =
    f.isFile && dataBlocks(f.getLen) >= 1 &&
      !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith(".")

  /** The header block of an open `.tsd` file, decoded. */
  private[graft] def readHeader(in: FSDataInputStream): EtsdSchema = {
    val hdr = new Array[Byte](BlockBuffer.BlockSize)
    in.readFully(0, hdr)
    HeaderCodec.decode(hdr)
  }

  /** Probe one file: header decode + first/last block-timestamp reads
    * (3 x 512 B). Runs on an EXECUTOR when called from [[probeDistributed]]. */
  def probe(fs: FileSystem, path: Path, len: Long,
            modTime: Long = 0L): TsdIndexEntry = {
    val nBlocks = dataBlocks(len)
    val in = fs.open(path)
    try {
      val schema = readHeader(in)
      def tsAt(off: Long): Long = {
        val w = new Array[Byte](4)
        in.readFully(off, w)
        java.nio.ByteBuffer.wrap(w)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt(0).toLong & 0xFFFFFFFFL
      }
      TsdIndexEntry(path.getName, len, nBlocks,
        tsAt(BlockBuffer.BlockSize), tsAt(nBlocks * BlockBuffer.BlockSize),
        schema.blockIntervals.toLong * schema.intervalSec, modTime)
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
    val files = fs.listStatus(root).filter(isDataFile)
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSeq
    val entries = probeDistributed(spark, files)
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
    val p = new Path(dir, FileName)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
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

  /** One store's planning metadata from its directory listing and
    * sidecar alone — no data-file read, no job: the fresh sidecar
    * entries, and the data files the sidecar does not cover or covers
    * with a stale entry, as `(name, length, modTime)`. */
  def listStore(fs: FileSystem,
      root: Path): (Seq[TsdIndexEntry], Seq[(String, Long, Long)]) = {
    val files = fs.listStatus(root).filter(isDataFile)
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).toSeq
    val cached = load(fs, root).getOrElse(Map.empty)
    val (hit, miss) = files.partition { case (n, len, mod) =>
      cached.get(n).exists(e => e.fileLen == len && e.modTime == mod)
    }
    (hit.map { case (n, _, _) => cached(n) }, miss)
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
    // per store: (hits, misses-to-probe). FileSystem resolves PER STORE
    // (cached by scheme+authority), so a fleet spanning filesystems —
    // hot stores on one bucket/cluster, cold on another — plans fine.
    val listed = try {
      stores.map { case (id, root) =>
        (id, root, pool.submit(
          new java.util.concurrent.Callable[
              (Seq[TsdIndexEntry], Seq[(String, Long, Long)])] {
            def call() = listStore(root.getFileSystem(conf), root)
          }))
      }.map { case (id, root, fut) => (id, root, fut.get()) }
    } finally pool.shutdown()
    listed.foreach { case (_, _, (hit, miss)) =>
      PlanStats.indexedFiles.addAndGet(hit.size)
      PlanStats.probedFiles.addAndGet(miss.size)
    }
    // all stores' misses -> ONE probe job, keyed back by full path
    val missPaths = listed.flatMap { case (_, root, (_, miss)) =>
      miss.map { case (n, len, mod) => (new Path(root, n).toString, len, mod) }
    }
    val probed = missPaths.map(_._1).zip(probeDistributed(spark, missPaths)).toMap
    listed.flatMap { case (id, root, (hit, miss)) =>
      (hit ++ miss.map { case (n, _, _) => probed(new Path(root, n).toString) })
        .map(e => (id, new Path(root, e.name).toString, e))
    }
  }

  /** Planning entry point: metadata for every data file in `dir`, served
    * from the sidecar where fresh (name + length match) and from ONE
    * distributed probe job for the remainder. The driver's I/O is a
    * directory listing plus at most one sidecar read, independent of
    * file count. */
  def forPlanning(spark: SparkSession, fs: FileSystem,
                  root: Path): Seq[TsdIndexEntry] = {
    val st = fs.getFileStatus(root)
    if (!st.isDirectory) {
      // single-file load: one probe, via the job for uniformity. Same
      // min-length guard as isDataFile — a header-only file (fresh
      // `create`) plans zero blocks instead of probing past EOF.
      if (dataBlocks(st.getLen) < 1) return Seq.empty
      PlanStats.probedFiles.addAndGet(1)
      return probeDistributed(spark,
        Seq((root.toString, st.getLen, st.getModificationTime)))
    }
    // the directory case IS a one-store fleet: one listing + sidecar
    // partition + probe-job shape, so the freshness predicate and the
    // PlanStats accounting can never drift between the two entry points
    forPlanningFleet(spark, Seq((root.getName, root))).map(_._3)
  }
}
