package perfbench

import java.nio.file.Files

import graft.codec.{BlockBuffer, BlockCodec, EtsdDecoder, EtsdEncoder, HeaderCodec, Layout, Reading}

/** Below-Spark probes of a traced run, over the workload's own store:
  * the codec on one thread, and the `.tsd` DSv2 scan against parquet
  * holding the same rows. */
object LayerProbes {
  val MinProbeNs = 300000000L

  /** Repeat `body` (which does `units` units of work) for at least
    * `MinProbeNs`; ns per unit. */
  private def nsPerUnit(units: Long)(body: => Unit): Double = {
    body // warm
    var reps = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < MinProbeNs) { body; reps += 1 }
    (System.nanoTime() - t0).toDouble / (reps * units)
  }

  def run(ctx: Ctx, store: String, r: Result): Unit = {
    val t = ctx.tracer
    t.on = true
    t.op = -2L
    val bs = BlockBuffer.BlockSize
    val files = Garage.tsdFiles(store).map(f => Files.readAllBytes(f.toPath))
    val schema = HeaderCodec.decode(files.head.take(bs))
    val codec = new BlockCodec(new Layout(schema))
    val blocks = files.flatMap(b => (bs until b.length by bs).map(o => b.slice(o, o + bs)))
    r.metrics("codec.decode_ns_per_block") = t("codec.decode") {
      nsPerUnit(blocks.size.toLong)(blocks.foreach(b => EtsdDecoder.decodeBlock(codec, b, _ => true)))
    }

    val n = schema.channels.size
    val encBlocks = 1000
    r.metrics("codec.encode_ns_per_block") = t("codec.encode") {
      nsPerUnit(encBlocks.toLong) {
        val enc = new EtsdEncoder(schema)
        var i = 0L
        while (i < encBlocks.toLong * schema.blockIntervals) {
          enc.feed(i * schema.intervalSec,
            IndexedSeq.tabulate(n)(c => Reading(if (schema.channels(c).counter) i * (c + 1) else 100 + c)))
          i += 1
        }
        enc.blocks()
      }
    }

    val spark = ctx.spark
    val tsd = spark.read.format("graft.sources.TsdDataSource").load(store)
    val rows = tsd.count().toDouble
    val pq = s"${ctx.runDir}/parquet-copy"
    tsd.write.parquet(pq)
    def scanRowsPerS(name: String, df: => org.apache.spark.sql.DataFrame): Double =
      rows / Stats.median((1 to 3).map { _ =>
        val t0 = System.nanoTime()
        t(name)(df.write.format("noop").mode("overwrite").save())
        (System.nanoTime() - t0) / 1e9
      })
    r.metrics("sources.tsd_scan_rows_per_s") = scanRowsPerS("sources.tsd_scan", tsd)
    r.metrics("sources.parquet_scan_rows_per_s") = scanRowsPerS("sources.parquet_scan", spark.read.parquet(pq))
    Garage.deleteTree(pq)

    if (!r.metrics.contains("sources.export_readings_per_s")) {
      val days = 2
      val dir = s"${ctx.runDir}/export-probe"
      val t0 = System.nanoTime()
      val exported = t("sources.export")(Garage.build(spark, ctx.seed, dir, days))
      r.metrics("sources.export_readings_per_s") = exported / ((System.nanoTime() - t0) / 1e9)
      Garage.deleteTree(dir)
    }
    t.on = false
  }
}
