package graft.sources

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.unsafe.types.UTF8String

import graft.model.EtsdSchema

/** Reads of a `.tsd` selection the sidecar bounds to a few blocks, in the
  * calling process — the reference's `etsdFindBlock` seek-and-read
  * (etsdRead.c:300-353) with no Spark job and no Spark session.
  *
  * A point query decodes one or two files, yet the distributed plan pays
  * two jobs and a handful of tasks for it, and a cold CLI process pays a
  * whole session start. When, after sidecar file pruning, at most
  * [[MaxBlocks]] blocks remain, the surviving files are read here with
  * the scan's own [[TsdPartitionReader]] (same pushed time range and
  * channel set) and folded per channel. Everything here takes a store
  * listed by [[TsdIndex.listStore]] and a Hadoop `Configuration`, not a
  * DataFrame: `EtsdQueryApi` reaches it from a bare [[TsdDataSource]]
  * load ([[barePath]]) and the cold `EtsdCmd query` before it builds any
  * session, each listing the store once for the `begin` read and the
  * fold together. `begin` comes from the store's index entries
  * ([[begin]]), never from decoding its blocks.
  *
  * The bound is a constant, not a setting: it caps the caller's work at
  * 512 KiB of reads and decode whatever the store's size, so the
  * planner's "no per-row driver logic at scale" rule holds. The fold's
  * decision itself reads only the directory listing and the sidecar —
  * never a data file, never a probe job; [[begin]] probes only files the
  * sidecar lacks, within the same bound. */
object TsdLocalScan {
  /** Most 512 B blocks (512 KiB) a selection may span to be read in the
    * calling process. */
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

  /** Whole files of `store` to read for `[lo, hi]`, or None past
    * [[MaxBlocks]]. Sidecar-covered files are pruned by
    * [[TsdIndexEntry.overlaps]]; an unindexed file (a single-file load, or
    * one the sidecar does not cover or covers with a stale entry) counts
    * at its full length and is kept. */
  private def chunks(store: TsdStore, lo: Long, hi: Long): Option[Seq[TsdChunk]] = {
    val files = store.indexed.filter(_.overlaps(lo, hi)).map(e => (e.name, e.nBlocks)) ++
      store.unindexed.map(f => (f.getPath.getName, TsdIndex.dataBlocks(f.getLen)))
    if (files.map(_._2).sum > MaxBlocks) None
    else Some(files.map { case (n, b) => TsdChunk(store.path(n).toString, 1L, b) })
  }

  /** Per-channel fold of the valid, non-register samples with `lo <= ts
    * <= hi` (epoch seconds) of channel `chan` (every channel when None),
    * or None when the selection is over [[MaxBlocks]]. Channels with no
    * kept sample are absent, as in a grouped aggregate; the rest come in
    * channel-name order. */
  private[graft] def fold(conf: Configuration, store: TsdStore, lo: Long,
                          hi: Long, chan: Option[String]): Option[Seq[ChannelFold]] =
    chunks(store, lo, hi).map { cs =>
      val want = chan.map(UTF8String.fromString)
      // n, sum, min, max per channel. No sum can overflow: samples are at
      // most 32 bits wide and a channel has fewer than 2^17 of them in
      // MaxBlocks blocks of <= 127 intervals.
      val acc = mutable.HashMap.empty[UTF8String, Array[Long]]
      // the scan's rows hold registers, invalid samples and whole blocks
      // at the window's edges: keep only what the aggregate keeps
      val part = TsdInputPartition(cs, lo, hi, chan.map(Seq(_)))
      cs.foreach { c =>
        val r = new TsdPartitionReader(c, part, conf)
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

  /** `begin` of `store` ([[TsdIndex.begin]]), read in the calling
    * process: the fresh sidecar entries' block-1 stamps, plus a probe of
    * each unindexed file's first and last block. None when the unindexed
    * files span over [[MaxBlocks]] blocks, a store whose every selection
    * [[fold]] declines too. */
  private[graft] def begin(store: TsdStore): Option[Long] =
    Option.when(store.unindexed.map(f => TsdIndex.dataBlocks(f.getLen)).sum <= MaxBlocks) {
      TsdIndex.begin(store.indexed ++ store.unindexed.map(f => TsdIndex.probe(store.fs,
        store.path(f.getPath.getName), f.getLen, f.getModificationTime)))
    }
}
