package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoder, Encoders,
  KeyValueGroupedDataset, SparkSession}

import graft._
import graft.codec.{EtsdEncoder, Reading}
import graft.model.EtsdSchema
import org.apache.spark.sql.functions._

/** Distributed `.tsd` writer — the reverse of [[EtsdSource]]: export a
  * fixed-cadence long frame into native ETSD files the reference's own
  * tools (and our reader/CLI) can open. Completes the interchange story:
  * a reference user can run this engine and still hand `.tsd` files to
  * existing tooling.
  *
  * Layout: one file per `blocksPerFile` consecutive block spans, named by
  * the span's start epoch — deterministic, so a replayed/retried task
  * overwrites its own file (idempotent exactly-once under Structured
  * Streaming's `foreachBatch` too). One file = one task via a `cogroup`
  * on the span key; group size is bounded by construction
  * (blocksPerFile × blockIntervals × channels rows), so no task state
  * grows with the dataset — `blocksPerFile` is the file-size dial.
  * Every export then merges the written files' metadata into each
  * directory's `_graft_index` sidecar ([[TsdIndex]]), so a layout this
  * sink writes always plans without probing its files.
  *
  * Input contract: `(ts, channel, value, valid)` at the schema's cadence;
  * counter channels carry the ABSOLUTE odometer (the encoder re-derives
  * stored deltas, registers, and missed-interval backfill exactly like
  * the daemon's save path). Missing (channel, interval) slots and rows
  * with `valid=false` encode as the invalid sentinel. A row whose channel
  * the schema does not declare fails the export. */
object EtsdSink {

  /** One input reading: `(epoch, channel, value, valid)`. */
  private type LongRow = (Long, String, Option[Long], Boolean)

  /** Total lexicographic order on byte arrays (unsigned), shorter-prefix
    * first — the deterministic tie-break for duplicate xData rows. */
  private val ByteLexOrdering: Ordering[Array[Byte]] = (a, b) => {
    var i = 0
    val n = math.min(a.length, b.length)
    var r = 0
    while (r == 0 && i < n) { r = (a(i) & 0xFF) - (b(i) & 0xFF); i += 1 }
    if (r != 0) r else a.length - b.length
  }

  /** Export one store into `outDir` and merge its `_graft_index` sidecar;
    * returns one sidecar entry per written file.
    *
    * `xData`: optional per-block side frame `(block_epoch: Long,
    * xdata: Binary)` — the plugin-written opaque region (etsd.h:102-103,
    * saveXData etsdSave.c:138-145). Keyed by the block's start epoch;
    * co-grouped with the data rows on the same file-span key, so the
    * side frame adds one shuffle and no driver state. Ignored unless
    * `schema.xDataSize > 0`. */
  def exportIndexed(long: DataFrame, schema: EtsdSchema, outDir: String,
                    blocksPerFile: Int = 256,
                    xData: Option[DataFrame] = None): Seq[TsdIndexEntry] = {
    val spark = long.sparkSession
    import spark.implicits._
    val fileSpan = fileSpanSec(schema, blocksPerFile)
    val data = long.select(unix_timestamp($"ts").as("te"), $"channel",
        $"value", $"valid").as[LongRow]
      .groupByKey { case (te, _, _, _) => Math.floorDiv(te, fileSpan) }
    val side = xData.filter(_ => schema.xDataSize > 0)
      .getOrElse(spark.emptyDataset[(Long, Array[Byte])]
        .toDF("block_epoch", "xdata"))
      .select($"block_epoch", $"xdata").as[(Long, Array[Byte])]
      .groupByKey { case (be, _) => Math.floorDiv(be, fileSpan) }
    writeSpans[Long](spark, data, side, schema, fileSpan, _ => outDir, identity)
      .map(_._2)
  }

  /** Fleet export: write MANY stores' `.tsd` layouts in ONE Spark job and
    * return each written file's sidecar entry with its store id.
    *
    * Input carries a `store_id` column alongside the [[exportIndexed]]
    * contract columns; each store lands under `rootDir/<store_id>/` with
    * the shared `schema`. The job keys by (store, file-span) — still one
    * file per task, still bounded group size — so the fleet write costs
    * one shuffle regardless of store count, instead of the O(stores)
    * separate jobs a per-store loop would run (the write-side twin of
    * the single multi-store fleet scan). Store ids must be non-empty
    * path-segment-safe names (letters, digits, `._-`; never `.`/`..` —
    * enforced per task).
    *
    * No xData side frame: a layout whose schema reserves an xData region
    * gets empty regions here — use [[exportIndexed]] with its `xData`
    * frame per store when the plugin region matters. */
  def exportFleet(long: DataFrame, schema: EtsdSchema, rootDir: String,
                  blocksPerFile: Int = 256): Seq[(String, TsdIndexEntry)] = {
    val spark = long.sparkSession
    import spark.implicits._
    val fileSpan = fileSpanSec(schema, blocksPerFile)
    val data = long.select($"store_id", unix_timestamp($"ts").as("te"),
        $"channel", $"value", $"valid")
      .as[(String, Long, String, Option[Long], Boolean)]
      .groupByKey { case (st, te, _, _, _) => (st, Math.floorDiv(te, fileSpan)) }
      .mapValues { case (_, te, c, v, ok) => (te, c, v, ok) }
    val side = spark.emptyDataset[(Long, Array[Byte])]
      .groupByKey { case (be, _) => ("", be) } // no rows: the fleet has no xData
    writeSpans[(String, Long)](spark, data, side, schema, fileSpan, {
      case (store, _) =>
        // a store id IS a directory name under rootDir: reject anything
        // that could escape it (separators, "."/"..") or surprise a
        // filesystem — an upstream formatting bug must fail fast here,
        // not rewrite a sibling directory's sidecar. Leading '_'/'.' are
        // rejected too: fleetRoot's store listing skips such directories
        // (Hadoop hidden-file convention), so allowing them on the write
        // side would land rows a fleet read silently never returns.
        require(store.nonEmpty && store.length <= 255 &&
            store.forall(c => c.isLetterOrDigit || c == '_' || c == '-' ||
              c == '.') && !store.startsWith("_") && !store.startsWith("."),
          s"store_id must be a safe path segment not starting with " +
            s"'_' or '.', got '$store'")
        s"$rootDir/$store"
    }, _._2).map { case ((store, _), e) => (store, e) }
  }

  private def fileSpanSec(schema: EtsdSchema, blocksPerFile: Int): Long = {
    require(blocksPerFile >= 1)
    schema.intervalSec.toLong * schema.blockIntervals * blocksPerFile
  }

  /** The one write body behind both entry points: one task per span key
    * `K` encodes and writes its file (in `dirOf(key)`, starting at
    * `fileIdxOf(key) × fileSpan`), then the driver merges each
    * directory's sidecar from the returned metadata on a bounded pool —
    * tiny text files, no data re-reads; the cogroup is the only Spark
    * job. */
  private def writeSpans[K: Encoder](spark: SparkSession,
      data: KeyValueGroupedDataset[K, LongRow],
      side: KeyValueGroupedDataset[K, (Long, Array[Byte])],
      schema: EtsdSchema, fileSpan: Long,
      dirOf: K => String, fileIdxOf: K => Long): Seq[(K, TsdIndexEntry)] = {
    val names = schema.channels.map(_.name)
    val chanIdx = names.zipWithIndex.toMap
    val hadoopProps = HadoopConfs.props(spark)
    implicit val outEnc: Encoder[(K, TsdIndexEntry)] =
      Encoders.tuple(implicitly[Encoder[K]], Encoders.product[TsdIndexEntry])

    val written = data.cogroup(side) { (key, it, xit) =>
      if (it.isEmpty) Iterator.empty else {
        // duplicate side rows for one block resolve deterministically
        // (lexicographically smallest bytes win) — an at-least-once
        // upstream must not break the byte-identical-rewrite contract
        val xd = xit.toSeq.groupBy(_._1).map { case (be, vs) =>
          be -> vs.map(_._2).min(ByteLexOrdering)
        }
        val bytes = encodeSpanFile(schema, names, chanIdx, it.toArray, xd.get)
        Iterator.single(key -> writeSpanFile(dirOf(key),
          fileIdxOf(key) * fileSpan, bytes, schema, hadoopProps))
      }
    }.collect().toSeq

    val byDir = written.groupBy { case (k, _) => dirOf(k) }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, byDir.size.max(1)))
    try {
      byDir.map { case (dir, ws) =>
        pool.submit(new Runnable {
          def run(): Unit = TsdIndex.merge(spark, dir, ws.map(_._2))
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    written
  }

  /** Encode one span-file's rows into file bytes (header + blocks). */
  private def encodeSpanFile(schema: EtsdSchema, names: Seq[String],
      chanIdx: Map[String, Int], rows: Array[LongRow],
      xd: Long => Option[Array[Byte]]): Array[Byte] = {
    val span = schema.intervalSec.toLong
    val bySlot = rows.groupBy { case (te, _, _, _) => Math.floorDiv(te, span) }
    val slots = bySlot.keys
    val enc = new EtsdEncoder(schema, xd)
    (slots.min to slots.max).foreach { slot =>
      val present = bySlot.getOrElse(slot, Array.empty)
        .map { case (_, c, v, ok) =>
          chanIdx.getOrElse(c, throw new IllegalArgumentException(
            s"channel '$c' is not in the schema (channels: " +
              s"${names.mkString(", ")})")) -> (v, ok)
        }.toMap
      enc.feed(slot * span, names.indices.map { ci =>
        present.get(ci) match {
          case Some((Some(v), true)) => Reading(v)
          case _                     => Reading(0L, status = 1)
        }
      }.toIndexedSeq)
    }
    enc.toFileBytes()
  }

  /** Write one encoded span file (overwrite: deterministic + idempotent)
    * and return its sidecar entry from the bytes in hand. */
  private def writeSpanFile(outDir: String, startEpoch: Long,
      bytes: Array[Byte], schema: EtsdSchema,
      hadoopProps: Seq[(String, String)]): TsdIndexEntry = {
    val path = new Path(outDir, f"etsd-$startEpoch%012d.tsd")
    val fs = path.getFileSystem(HadoopConfs.build(hadoopProps))
    val os = fs.create(path, true)
    try os.write(bytes) finally os.close()
    // one status RPC per written file: the sidecar's freshness check
    // compares (len, modTime), so the entry must carry the real mtime
    val mod = fs.getFileStatus(path).getModificationTime
    TsdIndexEntry.of(path.getName, bytes.length.toLong, schema, mod) { sector =>
      val off = (sector * graft.codec.BlockBuffer.BlockSize).toInt
      bytes.slice(off, off + graft.codec.BlockBuffer.BlockSize)
    }
  }
}
