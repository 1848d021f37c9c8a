package graft
import graft.operators.DedupStats
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [queryName...] — names limit the dump to a
    // subset (local iteration); the driver always runs the full set
    val (sfDir, outDir, only) = (args(0), args(1), args.drop(2).toSet)
    val spark = GraftSession("verify")
    new java.io.File(outDir).mkdirs()
    // per-query cap-drop and split counters (exact: one execution per
    // query here), dumped as sidecars so the capped generators' trade is
    // a diffable artifact of every verify run
    val caps = new DedupStats.CapCensus
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try Pins.scoped {
        val (_, drops, splits) = DedupStats.census(spark) {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        }
        caps.record(name, drops, splits)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // A failed query must leave an artifact: an absent output directory
        // is indistinguishable from "not implemented" in the driver's
        // CORRECTNESS report (this silently hid a 41-query regression once).
        // the artifact write itself must never abort the battery (disk
        // full / permissions): record in-memory and move on regardless
        try {
          val d = Paths.get(outDir, name)
          Files.createDirectories(d)
          Files.writeString(d.resolve("_ERROR.txt"),
            s"${e.getClass.getName}: ${e.getMessage}\n")
        } catch { case w: Throwable =>
          System.err.println(s"[verify] $name: _ERROR.txt write failed: $w")
        }
        errors(name) = s"${e.getClass.getName}: ${e.getMessage}".take(500)
      }
    }
    Files.writeString(Paths.get(s"$outDir/cap_drops.json"), caps.dropsJson)
    Files.writeString(Paths.get(s"$outDir/cap_splits.json"), caps.splitsJson)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} quer${if (errors.size == 1) "y" else "ies"} FAILED: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
