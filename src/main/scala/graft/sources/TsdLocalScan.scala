package graft.sources

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.unsafe.types.UTF8String

import graft.model.EtsdSchema

/** Reads of a `.tsd` selection the sidecar bounds to at most 2 MiB of
  * blocks, in the calling process — the reference's `etsdFindBlock`
  * seek-and-read (etsdRead.c:300-353) and its one-thread query loop
  * (etsdQuery.c:218-401), with no Spark job and no Spark session.
  *
  * A point query decodes one or two files and a two-week window a few
  * thousand blocks, yet the distributed plan pays jobs and tasks for
  * either, and a cold CLI process pays a whole session start, seconds
  * before its first read. When, after sidecar file pruning, at most
  * [[MaxBlocks]] blocks remain, the surviving files are read here with the
  * scan's own [[TsdPartitionReader]] (same pushed time range and channel
  * set) and folded per channel. Everything here takes a store listed by
  * [[TsdIndex.listStore]] and a Hadoop `Configuration`, not a DataFrame:
  * `EtsdQueryApi` reaches it as the store a bare [[TsdDataSource]] load
  * owns ([[bareStore]]), which that load's scans plan from too, and the
  * cold `EtsdCmd query` as the store it lists before it builds any
  * session. `begin` comes from the store's index entries ([[begin]]),
  * never from decoding its blocks.
  *
  * The bound is a constant, not a setting: it caps the caller's work at
  * 2 MiB of reads and decode whatever the store's size, so the planner's
  * "no per-row driver logic at scale" rule holds. Every block is 512 B,
  * so the block count is the byte budget. Its size is measured: in a
  * warm `local[4]` session on a 4-vCPU machine, over perfbench's
  * 8-channel garage store, the one-thread fold beats the distributed
  * aggregate up to about 8 K blocks (3,938 blocks: 189 ms against
  * 448 ms) and only ties it at 16 K (573 ms against 570 ms, and slower
  * once the answer is sorted). 4,096 blocks holds a two-week window of
  * that store. The fold's decision itself reads only the directory
  * listing and the sidecar — never a data file, never a probe job;
  * [[begin]] probes only files the sidecar lacks, within the same bound. */
object TsdLocalScan {
  /** Most 512 B blocks (2 MiB) a selection may span to be read in the
    * calling process. */
  val MaxBlocks = 4096L

  /** Count, sum, min and max of one channel's kept samples. */
  private[graft] final case class ChannelFold(channel: String, n: Long,
      sum: Long, min: Long, max: Long)

  /** The store of a bare single-store [[TsdDataSource]] relation in the
    * long schema, the one its load lists and its scans plan from
    * ([[TsdTable.store]]); None for anything else (a filtered or projected
    * frame, a fleet or xData load, another source). */
  private[graft] def bareStore(df: DataFrame): Option[TsdStore] =
    df.queryExecution.analyzed match {
      case r: DataSourceV2Relation => r.table match {
        case t: TsdTable if !t.fleet && !t.xdata &&
            r.output.map(_.name) == EtsdSchema.LongSchema.fieldNames.toSeq =>
          Some(t.store)
        case _ => None
      }
      case _ => None
    }

  /** Per-channel fold of the valid, non-register samples with `lo <= ts
    * <= hi` (epoch seconds) of channel `chan` (every channel when None),
    * or None when the selection is over [[MaxBlocks]]. The files read are
    * [[TsdStore.select]]'s over the fresh sidecar entries alone: an
    * unindexed file (a single-file load, or one the sidecar does not
    * cover or covers with a stale entry) counts at its full length and is
    * kept. Channels with no kept sample are absent, as in a grouped
    * aggregate; the rest come in channel-name order. */
  private[graft] def fold(conf: Configuration, store: TsdStore, lo: Long,
                          hi: Long, chan: Option[String]): Option[Seq[ChannelFold]] =
    Some(store.select(lo, hi, store.indexed))
      .filter(_.map(_.nBlocks).sum <= MaxBlocks).map { cs =>
      // n, sum, min, max per channel. No sum can overflow: a channel has
      // at most MaxBlocks * 127 < 2^19 samples (blocks of <= 127
      // intervals), each at most 32 bits wide, so |sum| < 2^51.
      val acc = mutable.HashMap.empty[UTF8String, Array[Long]]
      // the reader emits only the pushed channel, but with registers,
      // invalid samples and whole blocks at the window's edges: keep only
      // what the aggregate keeps
      val part = TsdInputPartition(cs, lo, hi, chan.map(Seq(_)))
      cs.foreach { c =>
        val r = new TsdPartitionReader(c, part, conf)
        try while (r.next()) {
          val row = r.get()
          val ts = row.getLong(0) / 1000000L
          if (row.getBoolean(3) && !row.getBoolean(4) && ts >= lo && ts <= hi) {
            val v = row.getLong(2)
            val a = acc.getOrElseUpdate(row.getUTF8String(1),
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
    * files span over [[MaxBlocks]] blocks: [[fold]] counts those files
    * whole, so it declines every selection of such a store too, and the
    * distributed plan reads `begin` from the load's one probe job
    * ([[TsdStore.planned]]) instead. */
  private[graft] def begin(store: TsdStore): Option[Long] =
    Option.when(store.unindexed.map(f => TsdIndex.dataBlocks(f.getLen)).sum <= MaxBlocks) {
      TsdIndex.begin(store.indexed ++ store.unindexed.map(f => TsdIndex.probe(store.fs,
        store.path(f.getPath.getName), f.getLen, f.getModificationTime)))
    }
}
