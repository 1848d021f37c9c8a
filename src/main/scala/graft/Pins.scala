package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Session-level registry of operator-pinned datasets — the explicit
  * unpersist-on-completion story for the dedup/ANN/text operators.
  *
  * Those operators materialize one intermediate each (the corpus-sized
  * computation that feeds several consumers: shingle-hash arrays, LSH
  * buckets, the trigram explode, the serving-index tables). The
  * DataFrames they return are lazy, so the operator itself can never know
  * when the caller is done; instead every internal materialization goes
  * through [[pin]], and the CALLER releases at its query boundary:
  *
  *   - one-shot: `Pins.scoped { op(...).collect() }`
  *   - long-lived sessions running many corpora: `Pins.releaseAll()`
  *     between runs (what `Bench`/`Verify` do per query)
  *
  * HOW a pin materializes (r15): eager `localCheckpoint` + size-derived
  * layout, not a lazy `persist`. Two measured reasons (see
  * OPTIMIZATION_r15.md §Pins):
  *
  *   - `persist` keeps the FULL child plan inside the cache's scan: every
  *     downstream task deserializes the whole lineage in its task binary,
  *     which dominated per-task CPU on small cached tables (profiled:
  *     ObjectInputStream + classloader walks, not data work).
  *     `localCheckpoint` truncates the lineage to the materialized blocks
  *     — the same truncation serving from a written index gives a
  *     production deployment, minus the filesystem round-trip.
  *   - the blocks are then COALESCED to `ceil(bytes /
  *     spark.sql.adaptive.advisoryPartitionSizeInBytes)` partitions
  *     (clamped to the materialized partition count) — the AQE partition
  *     sizing rule applied to the pinned artifact, so a KB-sized vocab
  *     table stops paying a partition-count × task-overhead floor on
  *     every re-execution while a 100 TB-scale index keeps its
  *     parallelism. Scale-adaptive by construction: the target derives
  *     from measured bytes and a standard Spark conf, never from the
  *     local core count.
  *
  * Eager materialization also serializes the build: concurrent AQE stage
  * jobs can no longer race to compute one unmaterialized cache (the
  * duplicated-work "Block already exists" pattern). Streaming frames
  * cannot be checkpointed and fall back to plain `persist`.
  *
  * Release is fire-and-forget (`blocking=false`): freeing is async,
  * correctness unaffected. The registry is process-global on purpose: a
  * query boundary is a session-level event. Concurrent sessions sharing
  * one JVM should scope releases to their own quiet points. */
object Pins {
  /** Storage level of every pin's blocks. */
  private val Level = StorageLevel.MEMORY_AND_DISK
  private val live = new ConcurrentLinkedQueue[() => Unit]()
  // identical-plan dedup across REBUILDS of one query within a release
  // scope (persist got this from the CacheManager for free; the
  // checkpoint needs it explicitly): canonical-plan-keyed memo so two
  // builds of the same operator share one materialization — and their
  // downstream plans stay canonically EQUAL (DedupStatsSpec pins this).
  // Keyed by (semanticHash, encoder class, SCHEMA) and confirmed by
  // sameResult — the schema key matters because sameResult canonicalizes
  // away output NAMES, and two different operators can share a canonical
  // plan under different aliases (a cross-match would hand the caller
  // the wrong column names).
  private val memo = new java.util.concurrent.ConcurrentHashMap[
    (Int, String, org.apache.spark.sql.types.StructType),
    List[(org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Dataset[_])]]()

  /** Materialize `ds` (eager local checkpoint + size-derived coalesce)
    * and register its blocks for the next [[releaseAll]]. Returns the
    * frame downstream plans must read.
    *
    * The blocks are kept at [[Level]] (batch and streaming paths alike).
    * Trade-off to know: unlike `persist`, a locally-checkpointed pin is
    * NOT recomputable — its lineage is truncated, so losing an executor
    * (or using a retained frame after [[releaseAll]]) fails with missing
    * blocks instead of silently re-running the build. That is the right trade here: pins live
    * inside one query boundary on one driver, and the lineage
    * truncation is what removes the per-task deserialization of the
    * full child plan that `persist` charged every downstream task. */
  def pin[T](ds: Dataset[T]): Dataset[T] = {
    if (ds.isStreaming) { // cannot checkpoint an unstarted stream
      ds.persist(Level)
      live.add(() => ds.unpersist(blocking = false))
      return ds
    }
    val analyzed = ds.queryExecution.analyzed
    val key = (analyzed.semanticHash(),
      ds.encoder.clsTag.runtimeClass.getName, ds.schema)
    // compute() is atomic per key: two threads pinning the same
    // canonical plan concurrently materialize it exactly ONCE (persist
    // got this dedup from the CacheManager's lock; the checkpoint path
    // needs it spelled out — a double eager checkpoint of a
    // corpus-sized intermediate is duplicated work AND memory)
    memo.compute(key, (_, existing) => {
      val cur = if (existing == null) Nil else existing
      if (cur.exists(_._1.sameResult(analyzed))) cur
      else (analyzed, materialize(ds)) :: cur
    }).collectFirst {
      case (p, d) if p.sameResult(analyzed) => d.asInstanceOf[Dataset[T]]
    }.get
  }

  private def materialize[T](ds: Dataset[T]): Dataset[T] = {
    val spark = ds.sparkSession
    val ck = ds.localCheckpoint(eager = true, storageLevel = Level)
    // the checkpointed blocks live outside the SQL cache manager; free
    // them via the underlying RDD at release
    val rdd = ck.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    rdd.foreach(r => live.add(() => { r.unpersist(blocking = false); () }))
    if (rdd.isEmpty) // unexpected plan shape: still release via Dataset
      live.add(() => ck.unpersist(blocking = false))
    // size-derived layout: ceil(bytes / advisory), clamped to [1, cur]
    val target = (for {
      r <- rdd
      info <- spark.sparkContext.getRDDStorageInfo.find(_.id == r.id)
    } yield {
      val bytes = info.memSize + info.diskSize
      val advisory = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m"))
      math.max(1L, math.min(r.getNumPartitions.toLong,
        (bytes + advisory - 1) / advisory)).toInt
    }).getOrElse(Int.MaxValue)
    if (rdd.exists(target < _.getNumPartitions)) ck.coalesce(target) else ck
  }

  /** Unpersist every pinned dataset (call when the query's action is done). */
  def releaseAll(): Unit = {
    memo.clear()
    var f = live.poll()
    while (f != null) { f(); f = live.poll() }
  }

  /** Run `f` (which must materialize its result) and release its pins. */
  def scoped[T](f: => T): T =
    try f finally releaseAll()
}
