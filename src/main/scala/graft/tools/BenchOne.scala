package graft.tools

import graft._

/** Single-query timing with EXACTLY the bench's discipline: the same
  * session ([[GraftSession]]) and warm-up (`Bench.warmUp`), then build
  * the plan once (build_s = construction + first count) and exec_s = min
  * of 3 re-counts of the built plan — the same `Bench.timeQuery` the
  * battery uses, so numbers are directly comparable to BENCH_FULL.json.
  *
  * Run: `sbt "runMain graft.tools.BenchOne llm_containment ..."`. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession("benchone")
    Bench.warmUp(spark, sfDir)
    args.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(f"[b1] $name%-28s UNKNOWN")
        case Some(fn) =>
          spark.sparkContext.setJobDescription(s"bench:$name")
          val (b, e) = Pins.scoped { Bench.timeQuery(() => fn(spark, sfDir)) }
          println(f"[b1] $name%-28s build=$b%8.3f s  exec=$e%8.3f s")
      }
    }
    spark.stop()
  }
}
