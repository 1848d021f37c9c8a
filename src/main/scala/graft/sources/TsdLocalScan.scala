package graft.sources

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.unsafe.types.UTF8String

import graft.codec.BlockBuffer
import graft.model.EtsdSchema

/** Driver-local reads of a `.tsd` selection the sidecar bounds to a few
  * blocks — the reference's `etsdFindBlock` seek-and-read
  * (etsdRead.c:300-353) without a Spark job.
  *
  * A point query over a bare [[TsdDataSource]] load decodes one or two
  * files, yet the distributed plan pays two jobs and a handful of tasks
  * for it. When, after sidecar file pruning, at most [[MaxBlocks]] blocks
  * remain, the surviving files are read here with the scan's own
  * [[TsdPartitionReader]] (same pushed time range and channel set) and
  * folded per channel. The bound is a constant, not a setting: it caps
  * driver work at 512 KiB of reads and decode whatever the store's size,
  * so the planner's "no per-row driver logic at scale" rule holds. The
  * decision itself reads only the directory listing and the sidecar —
  * never a data file, never a probe job. */
object TsdLocalScan {
  /** Most 512 B blocks (512 KiB) a selection may span to be read on the
    * driver. */
  val MaxBlocks = 1024L

  /** Count, sum, min and max of one channel's kept samples. */
  private[graft] final case class ChannelFold(channel: String, n: Long,
      sum: Long, min: Long, max: Long)

  /** The load path of a bare single-store [[TsdDataSource]] relation in
    * the long schema; None for anything else (a filtered or projected
    * frame, a fleet or xData load, another source). */
  private[graft] def barePath(df: DataFrame): Option[String] =
    df.queryExecution.analyzed match {
      case r: DataSourceV2Relation => r.table match {
        case t: TsdTable if !t.fleet && !t.xdata &&
            r.output.map(_.name) == EtsdSchema.LongSchema.fieldNames.toSeq =>
          Option(r.options.get("path"))
        case _ => None
      }
      case _ => None
    }

  /** Whole files to read for `[lo, hi]`, or None past [[MaxBlocks]].
    * Sidecar-covered files are pruned by [[TsdIndexEntry.overlaps]]; a
    * file the sidecar does not cover, or covers with a stale entry, counts
    * at its full length and is kept; a single-file load uses its file
    * status alone. */
  private def chunks(spark: SparkSession, path: String, lo: Long,
                     hi: Long): Option[Seq[TsdChunk]] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val st = fs.getFileStatus(root)
    def dataBlocks(len: Long) = len / BlockBuffer.BlockSize - 1
    val (files, indexed) =
      if (!st.isDirectory)
        (Seq((root, dataBlocks(st.getLen))).filter(_._2 >= 1), 0)
      else {
        val (hit, miss) = TsdIndex.listStore(fs, root)
        (hit.filter(_.overlaps(lo, hi))
          .map(e => (new Path(root, e.name), e.nBlocks)) ++
          miss.map { case (n, len, _) => (new Path(root, n), dataBlocks(len)) },
          hit.size)
      }
    if (files.map(_._2).sum > MaxBlocks) None
    else {
      TsdIndex.PlanStats.indexedFiles.addAndGet(indexed)
      Some(files.map { case (p, n) => TsdChunk(p.toString, 1L, n) })
    }
  }

  /** Per-channel fold of the valid, non-register samples with `lo <= ts
    * <= hi` (epoch seconds) of channel `chan` (every channel when None),
    * read on the driver — or None when `df` is not a bare load or the
    * selection is over [[MaxBlocks]]. Channels with no kept sample are
    * absent, as in a grouped aggregate. */
  private[graft] def fold(df: DataFrame, lo: Long, hi: Long,
                          chan: Option[String]): Option[Seq[ChannelFold]] =
    barePath(df).flatMap(chunks(df.sparkSession, _, lo, hi)).map { cs =>
      val part = TsdInputPartition(cs, lo, hi, chan.map(Seq(_)))
      val props = HadoopConfs.props(df.sparkSession)
      val want = chan.map(UTF8String.fromString)
      // n, sum, min, max per channel. No sum can overflow: samples are at
      // most 32 bits wide and a channel has fewer than 2^17 of them in
      // MaxBlocks blocks of <= 127 intervals.
      val acc = mutable.HashMap.empty[UTF8String, Array[Long]]
      cs.foreach { c =>
        val r = new TsdPartitionReader(c, part, props)
        try while (r.next()) {
          val row = r.get()
          val ts = row.getLong(0) / 1000000L
          val name = row.getUTF8String(1)
          if (row.getBoolean(3) && !row.getBoolean(4) && ts >= lo && ts <= hi &&
              want.forall(_ == name)) {
            val v = row.getLong(2)
            val a = acc.getOrElseUpdate(name,
              Array(0L, 0L, Long.MaxValue, Long.MinValue))
            a(0) += 1; a(1) += v
            a(2) = math.min(a(2), v); a(3) = math.max(a(3), v)
          }
        } finally r.close()
      }
      acc.toSeq.map { case (name, a) =>
        ChannelFold(name.toString, a(0), a(1), a(2), a(3))
      }.sortBy(_.channel)
    }
}
