package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft._

/** Cross-implementation interchange probe (diagnostics): decode a `.tsd`
  * file written by the REFERENCE implementation (its `edd` daemon +
  * `etsdSave.c`) and print per-channel stats over the stored samples —
  * compared by hand against `etsdCmd query q=tot/min/max` output. Where
  * the two disagree, the reference's documented read-path bugs (SURVEY
  * §2.9 "known reference bugs") are the expected cause: the save path is
  * the authority both sides share. */
object InterchangeProbe {
  def main(args: Array[String]): Unit = {
    val path = args.headOption.getOrElse("/tmp/refbuild/ref.tsd")
    val spark = GraftSession("interchange")
    if (args.length >= 2 && args(0) == "export") { // reverse direction:
      exportForReference(spark, args(1)); spark.stop(); return
    }
    def tsd = spark.read.format("graft.sources.TsdDataSource")
    val df = tsd.load(path).cache()
    println("[probe] samples (deltas for counters), excluding registers:")
    df.filter(!$"is_register" && $"valid")
      .groupBy($"channel")
      .agg(count(lit(1)).as("n"), sum($"value").as("tot"),
        min($"value").as("vmin"), max($"value").as("vmax"))
      .orderBy($"channel")
      .collect().foreach(r => println(s"[probe] ${r.mkString("\t")}"))
    println("[probe] registers:")
    df.filter($"is_register").orderBy($"ts", $"channel")
      .collect().foreach(r => println(s"[probe] ${r.mkString("\t")}"))
    println("[probe] block count: " +
      tsd.option("xdata", "true").load(path).count())
    spark.stop()
  }

  /** Reverse direction: export a deterministic series through
    * [[graft.sources.EtsdSink]] for the REFERENCE's `etsdCmd` to read.
    * Closed forms printed so the reference's answers can be checked:
    * odometer delta per interval k = (k % 7) * 3, gauge value = 100 + k % 50. */
  def exportForReference(spark: SparkSession, outDir: String): Unit = {
    import spark.implicits._
    import graft.model.{ChannelConfig, EtsdSchema, StreamType}
    val schema = EtsdSchema(Seq(
      ChannelConfig("Odo", StreamType.FullS, counter = true, register = true),
      ChannelConfig("Gauge", StreamType.HalfS)), intervalSec = 2,
      blockIntervals = 44)
    val t0 = 1700000048L // aligned to the 88 s block span
    val n = 99
    val rows = (0 until n).flatMap { k =>
      val te = t0 + k * 2L
      Seq((te, "Odo", 100000L + (1 to k).map(j => (j % 7) * 3L).sum, true),
        (te, "Gauge", 100L + k % 50, true))
    }.toDF("te", "channel", "value", "valid")
      .select(org.apache.spark.sql.functions.timestamp_seconds($"te").as("ts"),
        $"channel", $"value", $"valid")
    graft.sources.EtsdSink.exportIndexed(rows, schema, outDir, blocksPerFile = 4)
      .foreach(e => println(
        s"[probe] wrote ${new org.apache.hadoop.fs.Path(outDir, e.name)} (${e.nBlocks} blocks)"))
    val totOdo = (1 until n).map(k => (k % 7) * 3L).sum
    println(s"[probe] expected: Odo tot=$totOdo (n=${n - 1} valid deltas), " +
      s"Gauge tot=${(0 until n).map(k => 100L + k % 50).sum} min=100 max=149")
  }
}
