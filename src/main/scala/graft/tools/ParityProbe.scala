package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft._
import graft.queries.Tables

/** Large-scale Spark-vs-DuckDB parity corpus + Spark-side timing
  * (diagnostics, not the bench): materializes a k× expansion of the
  * sf0.1 tables and times REGISTRY queries (`SparkEntry.queries`)
  * against the expanded dir — parameter-identical to the bench and the
  * oracle, so the per-query ratios retire (or confirm) the "Spark's
  * fixed stage floor amortizes at scale" explanation with a
  * measurement. The DuckDB side runs the same oracle SQL over the same
  * parquet (tools/parity_duck.py).
  *
  * Expansion axes (each replica gets offset ids — linear workload
  * growth, not quadratic true-dup blowup):
  *  - documents: every replica's words are TAGGED with the replica
  *    index, so each replica is a DISTINCT sub-corpus (identical
  *    internal dedup structure, zero cross-replica n-gram collisions).
  *  - events: replicas keep their timestamps and channels (the fixture
  *    has 5 channels) — per-(channel, window) traffic grows k×, the
  *    hot-partition growth case the two-phase rank/segment-prefix
  *    operators exist for.
  *
  * Usage: `runMain graft.tools.ParityProbe [k] [outDir] [query ...]`
  * (default 10, /tmp/parity, the 6 stage-floor-suspect queries). An
  * existing `<outDir>/<k>x` corpus is reused as-is — delete it to
  * force a rebuild. */
object ParityProbe {
  val DefaultQueries: Seq[String] = Seq(
    "llm_ngram_jaccard", "llm_tfidf", "llm_textrank",
    "ts_anchored_cum", "ts_winsorize", "ts_outliers_mad")

  /** rel_ queries that read the events fact table, and the subset that
    * reads ONLY events (no TPC-H table) — drives which tables the probe
    * expands. Object-level so `ParityProbeSpec` can assert these sets
    * against the queries' own oracle SQL (the ground truth of what each
    * query reads): a new events-backed rel_ query not added here fails
    * that spec instead of silently skipping the events expansion. */
  val EventsRel = Set("rel_setops_users", "rel_salted_agg",
    "rel_cms_heavy", "rel_json_props", "rel_asof_join", "rel_funnel",
    "rel_attribution", "rel_cohorts", "rel_sessions")
  val EventsOnlyRel: Set[String] = EventsRel - "rel_salted_agg" - "rel_asof_join"

  def main(args: Array[String]): Unit = {
    val k = args.headOption.map(_.toInt).getOrElse(10)
    val out = args.drop(1).headOption.getOrElse("/tmp/parity")
    val names = if (args.length > 2) args.drop(2).toSeq else DefaultQueries
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // honors SPARK_GRAFT_CPUS like the bench, so the probe can also
    // produce low-vs-high core scaling pairs at a data-bound scale
    // (sf0.1 is stage-floor-bound; k× corpora are where parallel
    // scaling is demonstrable)
    val spark = GraftSession("parityprobe")

    val dir = s"$out/${k}x"
    def missing(t: String) =
      !new java.io.File(s"$dir/$t.parquet/_SUCCESS").exists()
    // build only the tables the requested queries read (documents for
    // llm_*, events for ts_*) — a 160× events run must not pay a 160×
    // documents write it never scans
    val EmbFamily = Set("llm_ann_topk", "llm_ann_filtered", "llm_ann_lsh",
      "llm_ann_ivf", "llm_ann_pq", "llm_ann_pq_rr", "llm_knn_graph",
      "llm_embed_dedup", "llm_semdedup", "llm_cluster_sizes",
      "llm_label_centroids")
    val needDocs = names.exists(n => n.startsWith("llm_") && !EmbFamily(n))
    // rel_ queries over the events fact table need the events expansion
    // same as the ts_ family; two of them (asof/salted) ALSO join a
    // TPC-H table, so only the events-ONLY set suppresses the rel build
    // (sets defined at object level; ParityProbeSpec pins them against
    // each query's oracle SQL)
    val needEvents = names.exists(n => n.startsWith("ts_") || EventsRel(n))
    val needRel = names.exists(n => n.startsWith("rel_") && !EventsOnlyRel(n))
    val needEmb = names.exists(EmbFamily)

    if (needDocs && missing("documents")) {
      val docs = Tables.table(spark, sf, "documents")
      val n = docs.count()
      val expanded = (0 until k).map { r =>
        docs.select(
          ($"doc_id" + lit(r * 10000000L)).as("doc_id"),
          // tag every word with the replica: distinct vocab per replica,
          // same per-replica gram/tf structure, linear total work
          array_join(transform(split($"text", " "),
            w => concat(lit(s"r$r"), w)), " ").as("text"),
          $"lang", $"source", $"n_chars")
      }.reduce(_ unionByName _)
      expanded.coalesce(8).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      println(s"[parity] wrote ${n * k} docs to $dir/documents.parquet")
    } else if (needDocs) println(s"[parity] reusing documents at $dir")

    if (needEvents && missing("events")) {
      val ev = Tables.events(spark, sf)
      val n = ev.count()
      val expanded = (0 until k).map { r =>
        // same ts/channel/value/user: k× traffic in every
        // (channel, time-window) cell; only event_id is offset
        ev.withColumn("event_id", $"event_id" + lit(r * 10000000L))
      }.reduce(_ unionByName _)
      expanded.coalesce(8).write.mode("overwrite")
        .parquet(s"$dir/events.parquet")
      println(s"[parity] wrote ${n * k} events to $dir/events.parquet")
    } else if (needEvents) println(s"[parity] reusing events at $dir")

    if (needEmb && missing("embeddings")) {
      val emb = Tables.table(spark, sf, "embeddings")
      val n = emb.count()
      val expanded = (0 until k).map { r =>
        // per-replica DETERMINISTIC perturbation: replicas of one base
        // vector stay distinct (no artificial exact-tie blowup in the
        // top-k), labels copy through so per-label groups grow k× (the
        // filtered-serving hot axis), and the probe set stays the
        // original 10 (vec_id < AnnProbeMax only matches replica 0) —
        // exactly the serving shape: fixed probes, k× corpus. Both
        // engines read the same written floats, so no oracle mirroring
        // is needed.
        emb.select(($"vec_id" + lit(r * 10000000L)).as("vec_id"),
          transform($"embedding",
            x => (x + lit(r * 0.0137f)).cast("float")).as("embedding"),
          $"label")
      }.reduce(_ unionByName _)
      expanded.coalesce(8).write.mode("overwrite")
        .parquet(s"$dir/embeddings.parquet")
      println(s"[parity] wrote ${n * k} vectors to $dir/embeddings.parquet")
    } else if (needEmb) println(s"[parity] reusing embeddings at $dir")

    if (needRel && missing("lineitem")) {
      // fact tables expand with CONSISTENT orderkey offsets (lineitem
      // rows keep following their replica's orders rows); o_custkey is
      // NOT offset, so per-customer/segment traffic grows k× — the
      // hot-key axis for the rank/join rel queries. Dims copy through.
      val step = 100000000L
      def expandBy(t: String, idCol: String): DataFrame = {
        val base = Tables.table(spark, sf, t)
        (0 until k).map { r =>
          base.withColumn(idCol, col(idCol) + lit(r * step))
        }.reduce(_ unionByName _)
      }
      expandBy("lineitem", "l_orderkey").coalesce(8)
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      expandBy("orders", "o_orderkey").coalesce(8)
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      Seq("customer", "supplier", "part", "nation", "region").foreach { t =>
        Tables.table(spark, sf, t).coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/$t.parquet")
      }
      println(s"[parity] wrote ${k}x lineitem/orders (+dims) to $dir")
    } else if (needRel) println(s"[parity] reusing rel tables at $dir")

    // warm file listing/footers once, like the bench's table cache
    if (needDocs) spark.read.parquet(s"$dir/documents.parquet").count()
    if (needEvents) spark.read.parquet(s"$dir/events.parquet").count()
    if (needEmb) spark.read.parquet(s"$dir/embeddings.parquet").count()

    names.foreach { name =>
      graft.SparkEntry.queries.get(name) match {
        case None => println(f"[parity] $name%-20s UNKNOWN")
        case Some(fn) =>
          Pins.scoped {
            val rows = fn(spark, dir).count() // untimed warmup
            val t = (1 to 3).map { _ =>
              val t0 = System.nanoTime(); fn(spark, dir).count()
              (System.nanoTime() - t0) / 1e9
            }.min
            println(f"[parity] $name%-20s ${t}%.3f s (rows=$rows)")
          }
      }
    }
    spark.stop()
  }
}
