package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft._
import graft.operators.{DedupOps, VectorOps}
import graft.queries.Tables

/** Scale-trend probe (diagnostics, not the bench): runs the heaviest
  * operators on 1×, 4×, and 16× synthetic expansions of the sf corpus
  * (id-offset unions, so dedup structure is preserved per replica) and
  * prints the timing trend. Sub-linear-or-linear growth is the pass
  * criterion — a super-linear jump means a pair generator or window is
  * quadratic in practice, however clean the plan looks. */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession("scaleprobe")

    def expand(df: DataFrame, idCol: String, k: Int, idStep: Long): DataFrame =
      (0 until k).map { r =>
        df.withColumn(idCol, col(idCol) + lit(r * idStep))
      }.reduce(_ unionByName _)

    val docs = Tables.table(spark, sf, "documents").cache()
    val embs = Tables.table(spark, sf, "embeddings").cache()
    docs.count(); embs.count()

    def time(f: => Long): Double = {
      val t0 = System.nanoTime(); val n = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"    rows=$n%-8d ${s}%.2f s"); s
    }

    for (k <- Seq(1, 4, 16)) {
      println(s"== expansion x$k")
      val d = expand(docs, "doc_id", k, 10000000L)
      val e = expand(embs, "vec_id", k, 10000000L)
      println("  minHashDedup")
      time(DedupOps.minHashDedup(d, $"doc_id", $"text", 0.8).count())
      println("  simHashPairs")
      time(DedupOps.simHashPairs(
        DedupOps.simHash(d, $"doc_id", $"text"), 2).count())
      println("  cosineDedup")
      time(VectorOps.cosineDedup(
        VectorOps.quantize(e, $"vec_id", $"embedding"), 0.4, 6, 64, 500).count())
      println("  dupClusters(minHashDedup)")
      time(DedupOps.dupClusters(
        DedupOps.minHashDedup(d, $"doc_id", $"text", 0.8)).count())
      println("  tfIdfTopTerms")
      time(graft.operators.TextAnalysisOps
        .tfIdfTopTerms(d, $"doc_id", $"text").count())
      println("  containmentPairs")
      time(DedupOps.containmentPairs(d, $"doc_id", $"text", 0.9).count())
      if (k > 1) { // x1 has no second replica to play the new batch
        println("  incrementalDedup (last replica as the new batch)")
        time(DedupOps.incrementalDedup(
          d.filter($"doc_id" < (k - 1) * 10000000L),
          d.filter($"doc_id" >= (k - 1) * 10000000L),
          $"doc_id", $"text", 0.8).count())
      }
      println("  semDedup")
      time(VectorOps.semDedup(
        VectorOps.quantize(e, $"vec_id", $"embedding"),
        0.4, 16, 1, 5000).count())
      println("  trainCentroids (sample mod scales with corpus -> flat cost)")
      time(VectorOps.trainCentroids(
        VectorOps.quantize(e, $"vec_id", $"embedding"), 16, 2,
        trainSampleMod = k).count())
      println("  pqKnn (encode + ADC serve, codes-only corpus scan)")
      time(VectorOps.pqKnn(
        VectorOps.quantize(e, $"vec_id", $"embedding"), _ < 10, 5).count())
      println("  packSequences, ONE shard (two-phase prefix sum: must " +
        "grow linearly, not serialize into one window task)")
      time(graft.operators.TextAnalysisOps
        .packSequences(d, $"doc_id", $"text", 2048, shards = 1).count())
      println("  shardShuffle, ONE shard")
      time(graft.operators.TextAnalysisOps
        .shardShuffle(d, $"doc_id", nShards = 1).count())
      println("  segmentDedup (clone replicas: every segment shared)")
      time(graft.operators.TextAnalysisOps
        .segmentDedup(d, $"doc_id", $"text").count())
      println("  spanDedup (content-defined anchors)")
      time(graft.operators.TextAnalysisOps
        .spanDedup(d, $"doc_id", $"text").count())
      println("  lmScore (model partial agg + corpus-bigram join)")
      time(graft.operators.TextAnalysisOps
        .lmScore(d, $"doc_id", $"text").count())
      if (k > 1) {
        println("  bloomNgramFilter (last replica as the new batch)")
        time(DedupOps.bloomNgramFilter(
          d.filter($"doc_id" < (k - 1) * 10000000L),
          d.filter($"doc_id" >= (k - 1) * 10000000L),
          $"doc_id", $"text").count())
      }
      println("  editDistancePairs (PassJoin chunks; clone replicas " +
        "share every chunk piece - the probe-replication cap fires)")
      time(graft.operators.FuzzyJoinOps.editDistancePairs(
        d.select($"doc_id", substring($"text", 1, 48).as("k")),
        $"doc_id", $"k", 2).count())
      println("  knnGraph (corpus-wide probes; clone replicas push " +
        "buckets over the cap at 16x - the split skew guard fires)")
      time(VectorOps.knnGraph(
        VectorOps.quantize(e, $"vec_id", $"embedding"), 5, 6, 64, 500)
        .count())
      // events-based ops: channels are NOT offset, so every replica
      // lands in the same 5 channels — the hot-channel growth case the
      // two-phase rank forms exist for
      val ev = expand(Tables.events(spark, sf), "event_id", k, 10000000L)
      val evU = ev.withColumn("user_id",
        $"user_id" + expr("(event_id DIV 10000000) * 10000000"))
      println("  percentiles (two-phase rank; one hot channel grows kx)")
      time(graft.operators.TimeSeriesOps.percentiles(
        ev, $"event_type", $"value", $"event_id", Seq(50, 95, 99)).count())
      println("  madOutliers (two chained two-phase ranks)")
      time(graft.operators.TimeSeriesOps.madOutliers(
        ev, $"event_type", $"ts", $"value", $"event_id").count())
      println("  sessionize (distinct replica users)")
      time(graft.operators.TimeSeriesOps.sessionize(
        evU, $"user_id", $"ts", $"event_id", 1800L).count())
      println("  channelCorrelation (bucket totals -> tiny pair join)")
      time(graft.operators.TimeSeriesOps.channelCorrelation(
        ev, $"event_type", $"ts", $"value", 3600L).count())
      println("  dyadicEwma (24x contribution explode over bucket sums)")
      time(graft.operators.TimeSeriesOps.dyadicEwma(
        ev, $"event_type", $"ts", $"value", 3600L).count())
      println("  m4Downsample (4 struct aggs, one partial-agg pass)")
      time(graft.operators.TimeSeriesOps.m4Downsample(
        ev, $"event_type", $"ts", $"value", $"event_id", 3600L).count())
      println("  seasonalOutliers (phase-keyed moments + flag scan)")
      time(graft.operators.TimeSeriesOps.seasonalOutliers(
        ev, $"event_type", $"ts", $"value").count())
      println("  peakDetect (hot-channel lag/lead window grows kx)")
      time(graft.operators.TimeSeriesOps.peakDetect(
        ev, $"event_type", $"ts", $"value", $"event_id", 40.0).count())
      println("  collocations (bigram-slot explode + pair agg)")
      time(graft.operators.TextAnalysisOps.collocations(
        d, $"doc_id", $"text").count())
      println("  textRank (vocab-sized BSP iterations over the bigram graph)")
      time(graft.operators.TextAnalysisOps.textRank(
        d, $"doc_id", $"text").count())
      println("  quantileBins (two-phase rank; one hot stratum grows kx)")
      time(graft.operators.TextAnalysisOps.quantileBins(
        d, $"lang", $"n_chars", $"doc_id", 10).count())
      println("  thetaDistinct (threshold filter before the only shuffle)")
      time(graft.operators.SketchOps.thetaDistinct(
        d.select($"lang", explode(split(lower($"text"), " ")).as("tok"))
          .filter(length($"tok") > 0), $"lang", $"tok", 4).count())
      println("  quantileSketch (1/4 hash-space row sample)")
      time(graft.operators.SketchOps.quantileSketch(
        d, $"lang", $"doc_id", $"n_chars", Seq(25, 50, 90), 2).count())
      println("  rollingMedian (hot-channel bounded ROWS frame grows kx)")
      time(graft.operators.TimeSeriesOps.rollingMedian(
        ev, $"event_type", $"ts", $"value", $"event_id", 7).count())
      // round-8 additions: the remaining newest gated operators
      println("  slidingDistinct (frame merges sketch-sized arrays, " +
        "never raw traffic; hot channel grows kx)")
      time(graft.operators.SketchOps.slidingDistinct(
        ev, $"event_type", $"ts", $"user_id", 3600L, 24, 2).count())
      println("  topUsers (rank on the fine (channel,hour) key — no " +
        "channel-sized window task)")
      time {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"event_type", $"bucket")
          .orderBy($"n".desc, $"user_id")
        ev.select($"event_type",
            (floor(unix_micros($"ts") / 1000000L / 3600L) * 3600L)
              .cast("long").as("bucket"), $"user_id")
          .groupBy($"event_type", $"bucket", $"user_id")
          .agg(count(lit(1)).as("n"))
          .withColumn("rk", row_number().over(w))
          .filter($"rk" <= 3).count()
      }
      val li = expand(Tables.table(spark, sf, "lineitem"),
        "l_orderkey", k, 100000000L)
      println("  cube (grouping-set lattice, one partial-agg pass)")
      time(li.cube($"l_returnflag", $"l_linestatus")
        .agg(sum(round($"l_quantity" * 100).cast("long")).as("qty_c"),
          count(lit(1)).as("n")).count())
      println("  bloomPrunedJoin (broadcast bitmap prunes the fact scan " +
        "before the join shuffle)")
      time(graft.operators.RangeJoinOps.bloomPrunedJoin(
        li.select($"l_partkey".as("p_partkey"), $"l_extendedprice"),
        Tables.table(spark, sf, "part").filter($"p_size" <= 5)
          .select($"p_partkey", $"p_brand"), "p_partkey").count())
      Pins.releaseAll()
      spark.sharedState.cacheManager.clearCache()
      docs.cache().count(); embs.cache().count()
    }
    spark.stop()
  }
}
