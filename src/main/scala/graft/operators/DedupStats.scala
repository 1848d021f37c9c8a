package graft.operators

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft._

/** Cap-overflow observability for the bucket-keyed candidate generators.
  *
  * Every dedup-family candidate generator SPLITS buckets larger than
  * `maxBucket` into bounded member-hash sub-buckets (the skew guard
  * that keeps a degenerate mega-bucket — a boilerplate shingle, a
  * constant band — from exploding one task, without losing its
  * candidates). At 100 TB that split is bounded extra join volume, and
  * it must be a METRIC, not silent: a corpus whose hot buckets hold
  * 30% of documents deserves a visible census. The drop counters
  * remain purely as a tripwire — no shipping generator drops anymore,
  * and the oracle battery's census is expected to report zero drops.
  *
  * Mechanism: the bucket-count aggregate (computed anyway for the cap)
  * carries a Spark `observe` — a native `CollectMetrics` node, zero
  * effect on results or plan shape — summing the buckets and rows over
  * the cap. A [[QueryExecutionListener]] harvests the metrics at action
  * completion into process-global counters (same pattern as
  * `TsdIndex.PlanStats`) and logs any non-zero drop to stderr with the
  * operator tag. Listener callbacks are asynchronous; [[awaitQuiesce]]
  * gives tests a deterministic read point. */
object DedupStats {
  /** Buckets dropped for exceeding their cap, cumulative per process. */
  val droppedBuckets = new AtomicLong(0)
  /** Rows (doc×bucket memberships) inside those dropped buckets — the
    * upper bound on documents a cap overflow can silently exclude. */
  val droppedRows = new AtomicLong(0)
  /** Size of the largest dropped bucket seen (skew magnitude). */
  val maxDroppedBucket = new AtomicLong(0)

  /** Buckets SPLIT (not dropped) for exceeding their cap — the shared
    * bounded sub-bucket path of every candidate generator: work stays
    * capped but candidates survive, so the trade is cost, never
    * recall. */
  val splitBuckets = new AtomicLong(0)
  /** Rows inside those split buckets (the bounded extra join volume). */
  val splitRows = new AtomicLong(0)
  /** Size of the largest split bucket seen (skew magnitude). */
  val maxSplitBucket = new AtomicLong(0)

  def reset(): Unit = {
    droppedBuckets.set(0); droppedRows.set(0); maxDroppedBucket.set(0)
    splitBuckets.set(0); splitRows.set(0); maxSplitBucket.set(0)
  }

  // keyed by session: a JVM can host several sessions over its life
  // (tests, restarts, concurrent apps — Pins documents the same case),
  // and a once-per-process flag would leave every later session's
  // metrics unharvested. WEAKLY keyed (synchronized WeakHashMap-backed
  // set): a strong key would pin every stopped session — and its whole
  // object graph — for the life of the JVM, the very churn scenario
  // this registry exists for. The listener itself dies with its
  // session's listener bus, so no explicit deregistration is needed.
  private val registeredSessions = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))
  private val Prefix = "graft.capDrop."
  private val SplitPrefix = "graft.capSplit."

  /** Attach an overflow observation to a bucket-counts DataFrame
    * (columns: keys..., count). Returns the same rows, instrumented;
    * callers apply their own over-cap handling on top.
    *
    * Observe names must be unique within a query (one plan may stack
    * several generators), but they must also be DETERMINISTIC across
    * plan rebuilds: the `CollectMetrics` name is part of the plan's
    * canonical form, so a per-build sequence number (the original
    * scheme) made every rebuilt plan a CacheManager MISS — a rebuilt
    * query re-materialized every pinned intermediate downstream of the
    * observe (measured 0.2 s → 0.9 s per ngramJaccard re-count at
    * sf0.1). The name is therefore keyed by (tag, maxBucket, semantic
    * hash of the counts child): distinct generators in one query get
    * distinct names, while a rebuild of the same query reproduces the
    * same name and the caches hit. If one query does embed the same
    * generator on the same input twice, the two CollectMetrics nodes
    * are exact duplicates, which analysis explicitly allows (and the
    * engine evaluates once — the census counts such a pair once, which
    * is the right census for one shared bucket table). */
  private def observeOverCap(counts: DataFrame, name: String,
                             maxBucket: Int): DataFrame = {
    ensureListener(counts.sparkSession)
    val over: Column = $"count" > maxBucket
    counts.observe(name,
      sum(when(over, 1L).otherwise(0L)).as("over_buckets"),
      sum(when(over, $"count").otherwise(0L)).as("over_rows"),
      max(when(over, $"count").otherwise(0L)).as("max_bucket"))
  }

  /** Census a generator that DROPS over-cap buckets. TEST-ONLY: no
    * shipping generator drops anymore (all call [[observeCapSplits]]),
    * so this attach point exists solely for specs that construct a
    * dropping plan on purpose (`DedupStatsSpec`) to prove the listener
    * harvests drops. The drop COUNTERS above stay production-visible —
    * Bench/Verify publish them as the `cap_drops` census, whose
    * expected value is empty (the no-drop invariant, asserted at zero
    * by the recall specs). */
  def observeCapDrops(counts: DataFrame, tag: String,
                      maxBucket: Int): DataFrame =
    observeOverCap(counts, s"$Prefix${stableName(counts, tag, maxBucket)}",
      maxBucket)

  /** Census a generator that SPLITS over-cap buckets into bounded
    * sub-buckets (extra work, zero recall loss) — the shared path. */
  def observeCapSplits(counts: DataFrame, tag: String,
                       maxBucket: Int): DataFrame =
    observeOverCap(counts, s"$SplitPrefix${stableName(counts, tag, maxBucket)}",
      maxBucket)

  /** Rebuild-stable, within-query-unique observe name: tag + cap +
    * semantic hash of the counts child. Semantic hash is computed on
    * the canonicalized analyzed plan, so two builds of the same query
    * agree (cache hits) while different inputs under the same tag
    * differ (no cross-generator collision). */
  private def stableName(counts: DataFrame, tag: String,
                         maxBucket: Int): String =
    s"$tag.c$maxBucket.p${counts.queryExecution.analyzed.semanticHash()}"

  private def ensureListener(spark: SparkSession): Unit =
    if (registeredSessions.add(spark))
      spark.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution,
                               durationNs: Long): Unit = {
          def harvest(name: String, row: org.apache.spark.sql.Row,
                      prefix: String, buckets: AtomicLong, rows: AtomicLong,
                      maxB: AtomicLong, label: String, note: String): Unit = {
            // null-guard: a metrics row from an empty plan can carry nulls
            val b = Option(row.getAs[java.lang.Long]("over_buckets"))
              .fold(0L)(_.longValue)
            if (b > 0) {
              val r = Option(row.getAs[java.lang.Long]("over_rows"))
                .fold(0L)(_.longValue)
              val m = Option(row.getAs[java.lang.Long]("max_bucket"))
                .fold(0L)(_.longValue)
              buckets.addAndGet(b); rows.addAndGet(r)
              maxB.getAndAccumulate(m, math.max)
              System.err.println(s"[$label] ${name.stripPrefix(prefix)}: " +
                s"$b buckets over cap ($r rows, largest $m) $note")
            }
          }
          qe.observedMetrics.foreach { case (name, row) =>
            if (name.startsWith(Prefix))
              harvest(name, row, Prefix, droppedBuckets, droppedRows,
                maxDroppedBucket, "capDrop",
                "dropped — potential recall hole; raise maxBucket or pre-split keys")
            else if (name.startsWith(SplitPrefix))
              harvest(name, row, SplitPrefix, splitBuckets, splitRows,
                maxSplitBucket, "capSplit",
                "split into bounded sub-buckets — extra join volume, no recall loss")
          }
        }
        override def onFailure(funcName: String, qe: QueryExecution,
                               exception: Exception): Unit = ()
      })

  /** Run `body` with the counters zeroed around it and return its result
    * plus the drop and split census `(buckets, rows, maxBucket)` it
    * caused — the per-query harvest Bench and Verify both publish. */
  def census[T](spark: SparkSession)(body: => T)
      : (T, (Long, Long, Long), (Long, Long, Long)) = {
    awaitQuiesce(spark); reset()
    val result = body
    awaitQuiesce(spark)
    (result, (droppedBuckets.get, droppedRows.get, maxDroppedBucket.get),
      (splitBuckets.get, splitRows.get, maxSplitBucket.get))
  }

  /** The per-query [[census]] of one battery run, as Bench writes it
    * (`BENCH_FULL.json`'s `cap_drops` and `cap_splits`) and Verify
    * (`cap_drops.json`, `cap_splits.json`): one
    * `(buckets, rows, max_bucket)` record per query with a non-zero
    * count, in run order. */
  final class CapCensus {
    private val drops = scala.collection.mutable.LinkedHashMap[String, (Long, Long, Long)]()
    private val splits = scala.collection.mutable.LinkedHashMap[String, (Long, Long, Long)]()

    /** Record query `name`'s drop and split census. */
    def record(name: String, d: (Long, Long, Long), s: (Long, Long, Long)): Unit = {
      if (d._1 > 0) drops(name) = d
      if (s._1 > 0) splits(name) = s
    }

    def dropsJson: String = json(drops, "dropped")
    def splitsJson: String = json(splits, "split")

    private def json(rows: Iterable[(String, (Long, Long, Long))], kind: String) =
      rows.map { case (k, (b, r, m)) =>
        s""""$k":{"${kind}_buckets":$b,"${kind}_rows":$r,"max_bucket":$m}"""
      }.mkString("{", ",", "}")
  }

  /** Best-effort wait for the async listener bus to drain (tests). */
  def awaitQuiesce(spark: SparkSession): Unit =
    org.apache.spark.graftbridge.ListenerBridge
      .waitUntilEmpty(spark.sparkContext, 30000)
}
