package graft.tools

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.GraftSession

/** Multi-file input gate (diagnostics): rewrite every single-file test
  * table as an N-file parquet directory with rows round-robined across
  * files — the layout a real 100 TB table has. Running `graft.Verify`
  * against the relaid copy (oracle still on the original — same rows)
  * proves no query's result depends on single-file row order or
  * one-partition physical plans:
  *
  *   sbt "runMain graft.tools.Relayout /root/testdata/sf0.01 /tmp/sf_multi"
  *   sbt "runMain graft.Verify /tmp/sf_multi /tmp/verify_multi"
  *   python3 tools/check.py /root/testdata/sf0.01 /tmp/verify_multi
  *
  * With `--date-partition-events`, `events` is instead written as a
  * `date=YYYY-MM-DD`-partitioned table (multi-file within each
  * partition) — the 100 TB deployment layout. The gate run against that
  * copy proves results are partition-layout-independent, and
  * `Tables.eventsBetween` / `Retention.dropBlocksBefore` operate on the
  * same layout (partition pruning asserted in PlanAuditSpec). */
object Relayout {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Relayout <srcSfDir> <dstDir>" +
      " [nFiles] [--date-partition-events]")
    val (src, dst) = (args(0), args(1))
    val dateEvents = args.contains("--date-partition-events")
    val nFiles = args.drop(2).filterNot(_.startsWith("--"))
      .headOption.map(_.toInt).getOrElse(7)
    val spark = GraftSession("relayout")
    val tables = Files.list(Paths.get(src)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
    for (t <- tables) {
      val name = t.getFileName.toString
      if (dateEvents && name == "events.parquet") {
        // deployment layout: one dir per calendar day of ts, still
        // multi-file inside each partition. Load through Tables.events so
        // the physical ts flavor (nanos int64 / us-NTZ) is normalized by
        // the one shared branch; the relaid copy carries the canonical
        // TimestampType, which the loader passes through unchanged.
        import org.apache.spark.sql.functions._
        graft.queries.Tables.events(spark, src)
          .withColumn("date", to_date(col("ts")))
          .repartition(nFiles)
          .write.partitionBy("date").mode("overwrite").parquet(s"$dst/$name")
        println(s"relaid $name -> date partitions x $nFiles files")
      } else {
        // round-robin repartition: deliberately destroys file/row order
        spark.read.parquet(t.toString).repartition(nFiles)
          .write.mode("overwrite").parquet(s"$dst/$name")
        println(s"relaid $name -> $nFiles files")
      }
    }
    spark.stop()
  }
}
