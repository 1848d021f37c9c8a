package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft._
import graft.functions.DetHash

/** One LSH band-row observation of a streaming document (the exploded
  * per-band view [[DedupOps.streamingNearDedup]] keys its state by). */
case class StreamBandRow(doc_id: Long, ts: java.sql.Timestamp,
                         band: Int, bkey: Long)

/** Per-band verdict emitted by [[DedupOps.streamingNearDedup]]: `holder`
  * is the first document seen with this (band, bkey); `is_hit` marks a
  * later arrival colliding with it (a near-dup candidate signal). */
case class StreamBandHit(doc_id: Long, band: Int, bkey: Long,
                         holder: Long, is_hit: Boolean)

/** [[DedupOps.streamingNearDedup]] keyed state: the first holder of one
  * (band, bkey) cell. */
/** First-holder state for one dedup cell: the holder id plus the max
  * event time EVER seen for the cell (not just the latest batch's — an
  * out-of-order row must never move the eviction timer backwards). */
case class BandHolderState(doc_id: Long, max_ts_ms: Long)

/** Deduplication operators for LLM training-data pipelines: exact
  * (normalize+hash groupBy), MinHash+LSH near-dup (shingle → minhash →
  * band → bucket join — never all-pairs), SimHash fingerprints with banded
  * Hamming pairs, and exact-phrase-bucketed n-gram Jaccard.
  *
  * Scale stance (100 TB): every candidate-pair generator goes through an
  * equality bucket join with a bucket-size cap — the plan contains no
  * cartesian/all-pairs stage, and skewed mega-buckets (a near-constant
  * shingle or band) are SPLIT into bounded member-hash sub-buckets
  * ([[withSubBucket]]) rather than exploding one task — or silently
  * dropping their candidates, which would hide exactly the clusters a
  * deduper exists to find. All hashes are [[DetHash]] md5-derived
  * integers, so dedup decisions (including the sub-bucket assignment)
  * are reproducible across engines and re-runs.
  *
  * Per-document set computations (distinct shingle hashes, MinHash
  * signatures, SimHash bit sums) stay in ARRAY form inside one narrow
  * projection — `array_distinct` / `array_min` / `aggregate` over a
  * higher-order `transform` — so the plan contains no corpus-sized
  * `distinct` or `groupBy` exchange for work that is per-document anyway.
  * The only shuffles left are the candidate bucket joins themselves. */
object DedupOps {

  /** Whitespace-collapsing lowercase normalization shared by all text ops. */
  def normText(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** SQL fragment equivalent of [[normText]] for the DuckDB oracle. */
  def normTextSql(e: String): String =
    s"regexp_replace(lower(trim($e)), '\\s+', ' ', 'g')"


  /** Exact duplicate grouping: md5 over normalized text, keep the lowest
    * doc id per group. Single hash-shuffle; the canonical first dedup pass
    * of any corpus pipeline. Output: text_hash, keeper_doc_id, n_docs. */
  def exactDedup(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.select(id.as("doc_id"), md5(normText(text)).as("text_hash"))
      .groupBy($"text_hash")
      .agg(min($"doc_id").as("keeper_doc_id"), count(lit(1)).as("n_docs"))

  /** Streaming form of [[exactDedup]] for an arriving document stream:
    * keeps the FIRST occurrence of each normalized-text hash and drops
    * later copies, with state bounded by the watermark — a duplicate
    * arriving within `maxLateness` of the original is dropped, one
    * arriving later may pass (the price of bounded state; batch
    * [[exactDedup]] over the landed output is the exact backstop).
    * Input needs an event-time column `ts`; output is the input rows
    * minus the near-in-time duplicates, plus the hash column. */
  def streamingExactDedup(docs: DataFrame, text: Column,
                          maxLateness: String): DataFrame =
    docs.withColumn("text_hash", md5(normText(text)))
      .withWatermark("ts", maxLateness)
      .dropDuplicatesWithinWatermark("text_hash")

  /** Streaming MinHash-LSH near-duplicate detection — the streaming form
    * of [[minHashDedup]]'s candidate stage, for an arriving document
    * stream (columns `doc_id`, `ts`, `text`): each doc's LSH band keys
    * (NumBands of them) are computed in one narrow projection (the same
    * shingle →
    * minhash → band pipeline as the batch path, shared expressions),
    * and a stateful pass keyed by (band, bkey) remembers the FIRST
    * holder of each cell — a later document landing in an occupied cell
    * emits a hit against that holder (a near-dup candidate signal, the
    * same collision event the batch bucket join materializes). Roll the
    * per-band stream up by doc (`n_hit_bands ≥ 1` ⇒ candidate; more
    * agreeing bands ⇒ higher Jaccard, the standard LSH monotonicity) —
    * the llm_stream_neardup gate query does exactly that.
    *
    * State and lateness contract (the [[streamingExactDedup]] trade,
    * per-band): state is ONE row per distinct (band, bkey) seen within
    * the lateness horizon — O(active window), not O(stream) — evicted
    * by event-time timeout once the watermark passes `maxLatenessSec`
    * beyond the cell's last sighting. A near-dup arriving inside the
    * horizon of its original is flagged; one arriving later may pass as
    * novel (the price of bounded state; the batch [[minHashDedup]] over
    * the landed corpus is the exact backstop). Within a micro-batch,
    * rows of one cell are processed in (ts, doc_id) order, so an
    * in-event-time-order feed resolves the holder deterministically as
    * the minimum (ts, doc_id) — which is what the SQL oracle asserts.
    * No exact-Jaccard confirm happens in-stream: that would require
    * holding every doc's shingle set in state (O(corpus) bytes, exactly
    * what a streaming pass must not do).
    * Output: one [[StreamBandHit]] per band row. */
  def streamingNearDedup(docs: DataFrame,
                         maxLatenessSec: Long): Dataset[StreamBandHit] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val mh = docs
      // ignore-don't-crash on poison records, like every batch path: a
      // NULL text would band to NULL bkeys and fail the non-nullable
      // typed conversion below, killing the whole ingest query; a NULL
      // event time would NPE inside the state function; a NULL doc_id
      // fails the AssertNotNull of the same typed conversion
      .filter($"doc_id".isNotNull && $"ts".isNotNull && $"text".isNotNull)
      .select($"doc_id", $"ts", normText($"text").as("norm"))
      .withColumn("hs", shingleHashSet(5))
      .select($"doc_id" +: $"ts" +:
        (0 until DetHash.NumHashes).map(minHashExpr): _*)
    val bands = mh.select($"doc_id", $"ts", explode(bandArray).as("bb"))
      .select($"doc_id", $"ts", $"bb.band".as("band"), $"bb.bkey".as("bkey"))
      .withWatermark("ts", s"$maxLatenessSec seconds")
      .as[StreamBandRow]
    firstHolderHits[StreamBandRow, (Int, Long), StreamBandHit](
      bands, r => (r.band, r.bkey), _.ts.getTime, _.doc_id,
      (r, h, hit) => StreamBandHit(r.doc_id, r.band, r.bkey, h, hit),
      maxLatenessSec * 1000L)
  }

  /** THE first-holder state machine every streaming dedup form shares
    * ([[streamingNearDedup]] band cells,
    * [[MultimodalOps.streamingFrameDedup]] frame cells): per key, the
    * first row (in (ts, id) order within a batch) registers as holder;
    * every later row emits against that holder. State is ONE holder id
    * per live key, evicted `latenessMs` after the key's LAST sighting —
    * the timer must sit above the current watermark or Spark rejects it
    * (a key whose rows are all older than the global horizon is evicted
    * at the next tick). One implementation so the eviction/ordering
    * subtleties can never drift between the forms.
    *
    * A later row carrying the HOLDER'S OWN id is a redelivery (an
    * at-least-once source replaying the registering row), not a dup of
    * itself: it emits with hit = false, matching the oracle closed
    * forms (`doc_id > holder` / `holder < media_id`), which would
    * otherwise disagree with the stream exactly when redelivery
    * occurs. */
  private[operators] def firstHolderHits[R, K: Encoder, O: Encoder](
      rows: Dataset[R], key: R => K, tsMs: R => Long, id: R => Long,
      out: (R, Long, Boolean) => O, latenessMs: Long): Dataset[O] = {
    implicit val stateEnc: Encoder[BandHolderState] =
      org.apache.spark.sql.Encoders.product[BandHolderState]
    rows.groupByKey(key)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout)(
        (_: K, it: Iterator[R], state: GroupState[BandHolderState]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // max over the state's prior sightings too, NOT just this
            // batch: a late (above-watermark, older-ts) row would
            // otherwise move the timeout BACKWARDS and evict the cell
            // before latenessMs has elapsed since its newest sighting —
            // a dup arriving inside the documented horizon would then
            // register as a fresh holder (missed dup, wrong holder)
            var maxTsMs =
              state.getOption.map(_.max_ts_ms).getOrElse(Long.MinValue)
            def commit(h: Long): Unit = {
              state.update(BandHolderState(h, maxTsMs))
              state.setTimeoutTimestamp(math.max(maxTsMs + latenessMs,
                state.getCurrentWatermarkMs() + 1000L))
            }
            state.getOption.map(_.doc_id) match {
              case Some(h) =>
                // steady state — every batch after the cell's first:
                // each row emits against the stored holder, so a hot
                // cell (a degenerate key holding a large slice of the
                // batch) streams through in O(1) task memory instead
                // of materializing the group. State commits lazily on
                // exhaustion — safe because FlatMapGroupsWithStateExec
                // reads the state handle only from the completion hook
                // of the fully-drained output iterator.
                var open = true
                new Iterator[O] {
                  def hasNext: Boolean = {
                    val n = it.hasNext
                    if (!n && open) { open = false; commit(h) }
                    n
                  }
                  def next(): O = {
                    val r = it.next()
                    maxTsMs = math.max(maxTsMs, tsMs(r))
                    out(r, h, h != id(r))
                  }
                }
              case None =>
                // the cell's FIRST batch: the holder is the (ts, id)-
                // minimal row, known only after a full pass — the one
                // place the group must buffer (bounded by that single
                // micro-batch's share of the key). Uniform emission is
                // correct for the registering row too: h == id(r), so
                // hit = false.
                val rs = it.toIndexedSeq
                var h = id(rs(0)); var hTs = tsMs(rs(0))
                rs.foreach { r =>
                  val t = tsMs(r)
                  if (t < hTs || (t == hTs && id(r) < h)) { h = id(r); hTs = t }
                  maxTsMs = math.max(maxTsMs, t)
                }
                commit(h)
                rs.iterator.map(r => out(r, h, h != id(r)))
            }
          }
        })
  }

  /** Per-doc DISTINCT 5-char-shingle 31-bit hash set, as an array column —
    * one narrow pass, no exchange. Output: doc_id, hs array<long>.
    *
    * The compact (id, norm) projection is spread by doc before the heavy
    * hashing: md5 cost is ~n_chars× the projection, so parallelism must
    * not depend on the input file layout (a single small parquet file is
    * one partition — and one core doing all the hashing). The spread is
    * conditional ([[graft.spreadByKey]]): a pre-split 100 TB input skips
    * the exchange. */
  def shingleHashArrays(docs: DataFrame, id: Column, text: Column,
                        shingleLen: Int = 5): DataFrame =
    spreadByKey(
        docs.select(id.as("doc_id"), normText(text).as("norm")), $"doc_id",
        cpuBound = true) // md5 per 5-char window: ~2 s serial at sf0.1
      .select($"doc_id", shingleHashSet(shingleLen).as("hs"))

  /** The per-doc distinct shingle-hash set as a column expression over a
    * `norm` column — shared by the batch array pass and the streaming
    * near-dup projection so the two paths can never hash differently. */
  private def shingleHashSet(shingleLen: Int): Column = {
    val shingles = transform(
      sequence(lit(1), greatest(length($"norm") - (shingleLen - 1), lit(1))),
      i => $"norm".substr(i, lit(shingleLen)))
    array_distinct(transform(shingles, s => DetHash.h31(s)))
  }

  /** Exploded (doc_id, h31) view of [[shingleHashArrays]] — the join-shaped
    * form consumed by [[trueJaccard]]. Distinctness is inherited from the
    * array, so no shuffle happens here either. */
  def shingleHashes(docs: DataFrame, id: Column, text: Column,
                    shingleLen: Int = 5): DataFrame =
    explodeHashes(shingleHashArrays(docs, id, text, shingleLen))

  private def explodeHashes(arr: DataFrame): DataFrame =
    arr.select($"doc_id", explode($"hs").as("h31"))

  private def minHashExpr(i: Int): Column =
    expr(s"array_min(transform(hs, h -> ${DetHash.permSql(i, "h")}))").as(s"m$i")

  /** MinHash signatures from the array form: one row per doc with m0..m15,
    * each `array_min` over an affine permutation of the doc's shingle-hash
    * set — computed entirely inside the projection, zero exchanges.
    * Bounded state per doc (16 longs) regardless of doc length. */
  def minHashSignatures(arr: DataFrame): DataFrame =
    arr.select($"doc_id" +: (0 until DetHash.NumHashes).map(minHashExpr): _*)

  /** The per-doc band-key array over m0..m15 columns — shared by
    * [[bandRows]] and [[buildDedupIndex]] so the exploded and persisted
    * forms can never drift. */
  private def bandArray: Column = {
    val bandStructs = (0 until DetHash.NumBands).map { b =>
      val ms = (0 until DetHash.RowsPerBand).map(i => col(s"m${b * DetHash.RowsPerBand + i}"))
      val key = ms.reduceLeft((acc, m) => acc * 31 + m)
      struct(lit(b).as("band"), key.as("bkey"))
    }
    array(bandStructs: _*)
  }

  /** LSH band rows: (doc_id, band, bkey) with bkey a polynomial combine of
    * the band's 4 minhash rows. Docs agreeing on any band collide. */
  def bandRows(mh: DataFrame): DataFrame =
    mh.select($"doc_id", explode(bandArray).as("bb"))
      .select($"doc_id", $"bb.band".as("band"), $"bb.bkey".as("bkey"))

  /** The persistable dedup index: one row per document carrying both
    * artifacts a later batch needs — the distinct shingle-hash set (for
    * exact Jaccard on candidates) and the LSH band keys (for candidate
    * probing) — computed in one narrow pass. This is the table a 100 TB
    * corpus materializes ONCE (and appends each ingested batch's rows
    * to), so nightly [[incrementalDedupAgainstIndex]] runs never re-hash
    * the historical corpus.
    * Output: doc_id, hs array<long>, bands array<struct<band,bkey>>. */
  def buildDedupIndex(docs: DataFrame, id: Column, text: Column): DataFrame =
    shingleHashArrays(docs, id, text)
      .select($"doc_id" +: $"hs" +: (0 until DetHash.NumHashes).map(minHashExpr): _*)
      .select($"doc_id", $"hs", bandArray.as("bands"))

  /** Exploded (doc_id, band, bkey) view of a [[buildDedupIndex]] table. */
  private def indexBandRows(index: DataFrame): DataFrame =
    index.select($"doc_id", explode($"bands").as("bb"))
      .select($"doc_id", $"bb.band".as("band"), $"bb.bkey".as("bkey"))

  /** THE skew-guarded candidate generator shared by every bucket-keyed
    * dedup family: a skew-split equality self-join over
    * `(keys..., doc_id)` rows. Bucket sizes come from a partial
    * aggregation — hot keys are counted map-side and the tiny counts
    * table broadcasts, so a degenerate mega-bucket never lands in one
    * task (a window count over the key would buffer the whole hot
    * bucket in a single WindowExec).
    *
    * Over-cap buckets are SPLIT into ⌈c/maxBucket⌉ deterministic
    * member-hash sub-buckets, not dropped. Dropping was a recall hole
    * on exactly the inputs a deduper exists for: members of a dup
    * cluster larger than the cap share EVERY bucket key, so no
    * surviving bucket could ever pair them. Under the split a
    * high-similarity pair gets an independent 1/nsub co-bucket draw per
    * shared key (near-dups share MANY band/gram keys — minhash pairs
    * collide on multiple of the 16 bands, n-gram pairs on most of their
    * 5-grams), and a mega-cluster keeps ~c·maxBucket/2 intra edges —
    * connectivity for the cluster fold with bounded work, vs zero edges
    * under drops. Work per hot bucket is O(c·maxBucket); split volume
    * lands in the `[capSplit]` census ([[DedupStats.observeCapSplits]]).
    * The sub-bucket hash string (`ps:k1:…:kn:doc`) is the cross-engine
    * contract the SQL oracles reproduce verbatim.
    *
    * Three pins, released by the caller (Pins.releaseAll()/Pins.scoped
    * at its query boundary): the input rows (three consumers — counts +
    * both self-join sides), the sub-bucketed rows (unpinned, each
    * self-join side replays the bucket-count aggregation and md5
    * sub-bucket hash — the same 3× replay containmentPairs measured),
    * and the distinct pair table itself — the pipeline's natural
    * materialization point (tiny: two longs per candidate), so
    * re-executions read pairs instead of re-running the bucket join.
    * Output: distinct doc_a < doc_b from buckets with ≥ 2 members. */
  def cappedPairs(rows: DataFrame, keys: Seq[String],
                  maxBucket: Int): DataFrame = {
    val kc = keys.map(col)
    val b = Pins.pin(rows)
    val counts = subSizedCounts(b, keys,
      s"pairs[${keys.mkString(",")}]", maxBucket)
    val sub = Pins.pin(withSubBucket(b.join(counts, keys), keys)
      .select((kc :+ $"doc_id" :+ $"sub"): _*))
    Pins.pin(
      sub.join(sub.withColumnRenamed("doc_id", "doc_b"), keys :+ "sub")
        .filter($"doc_id" < $"doc_b")
        .select($"doc_id".as("doc_a"), $"doc_b").distinct())
  }

  /** ⌈count/maxBucket⌉ as an exact integer column — THE cap formula
    * every split generator (and every SQL oracle) shares. */
  private[operators] def nsubExpr(maxBucket: Int): Column =
    expr(s"CAST((count + ${maxBucket - 1}) DIV $maxBucket AS BIGINT)")

  /** The split generators' shared prelude: bucket sizes by partial
    * aggregation (hot keys collapse map-side, the tiny result
    * broadcasts), censused via [[DedupStats.observeCapSplits]], filtered
    * to buckets with ≥ `minCount` members, with the ⌈c/maxBucket⌉
    * sub-bucket count attached. Output: keys..., nsub. `minCount = 1`
    * for cross-corpus probes (contamination), where a 1-member bucket
    * still pairs with the other side. */
  private[operators] def subSizedCounts(rows: DataFrame, keys: Seq[String],
                                        tag: String, maxBucket: Int,
                                        minCount: Int = 2): DataFrame =
    DedupStats.observeCapSplits(
        rows.groupBy(keys.map(col): _*).count(), tag, maxBucket)
      .filter($"count" >= minCount)
      .select(keys.map(col) :+ nsubExpr(maxBucket).as("nsub"): _*)

  /** Deterministic sub-bucket assignment for an over-cap bucket member:
    * `h60(prefix + k1 + ":" + … + ":" + id) % nsub`. THE one
    * implementation all split generators share — [[cappedPairs]],
    * [[incrementalDedupAgainstIndex]] (whose pair-for-pair equality
    * with full runs depends on identical assignment),
    * [[containmentPairs]], [[contamination]], [[simHashPairs]], and
    * VectorOps' cosineDedup/knnGraph — and the textual contract the SQL
    * oracles mirror. `rows` must carry an `nsub` column (from
    * [[nsubExpr]] over the bucket counts). */
  private[operators] def withSubBucket(rows: DataFrame, keys: Seq[String],
                                       idCol: String = "doc_id",
                                       prefix: String = "ps:"): DataFrame = {
    val parts = lit(prefix) +:
      keys.flatMap(k => Seq(col(k).cast("string"), lit(":"))) :+
      col(idCol).cast("string")
    rows.withColumn("sub", DetHash.h60(concat(parts: _*)) % $"nsub")
  }

  /** Candidate pairs from an equality bucket join over (band, bkey) —
    * the LSH instance of [[cappedPairs]]: buckets with ≥ 2 members pair
    * up; over-cap buckets split into ⌈c/maxBucket⌉ member-hash
    * sub-buckets (bounded work, no recall drop). Output: doc_a < doc_b. */
  def candidatePairs(bands: DataFrame, maxBucket: Int): DataFrame =
    cappedPairs(bands, Seq("band", "bkey"), maxBucket)

  /** Spread a candidate-pair table to the configured shuffle
    * parallelism before an exact verification stage. The exact stages
    * do |hs|-element array intersections PER PAIR — heavy per-row work
    * on a table of two longs per row — and the byte-derived pin layout
    * packs such a table into very few partitions (right for scans,
    * serial here: measured 0.5–1.6 s on ONE task at sf0.1, the whole
    * query's exec cost). No-op once the pair table is already at least
    * `spark.sql.shuffle.partitions` wide (the 100 TB case, where pair
    * tables are GB-sized); the explicit partition count keeps AQE from
    * re-coalescing the tiny exchange back to one partition (~16 B/row
    * is far under any advisory size). Hash on (doc_a, doc_b) spreads
    * pairs evenly regardless of per-doc candidate skew. */
  private[operators] def spreadPairs(pairs: DataFrame): DataFrame = {
    val par =
      pairs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    if (!pairs.isStreaming && pairs.rdd.getNumPartitions < par)
      pairs.repartition(par, $"doc_a", $"doc_b") else pairs
  }

  /** True Jaccard over the candidate pairs only (set semantics on hash
    * arrays): fetch each side's distinct-hash array with two equi joins
    * (the candidate set is tiny relative to the corpus — AQE broadcasts
    * it), then |A∩B| via `array_intersect` inside the task. The corpus
    * itself is never shuffled by hash — the reference "fetch signatures
    * for candidates" shape. Output: doc_a, doc_b, n_common, jaccard. */
  def trueJaccard(cand: DataFrame, arr: DataFrame): DataFrame =
    spreadPairs(cand)
      .join(arr.select($"doc_id".as("doc_a"), $"hs".as("hs_a")), "doc_a")
      .join(arr.select($"doc_id".as("doc_b"), $"hs".as("hs_b")), "doc_b")
      .select($"doc_a", $"doc_b",
        size(array_intersect($"hs_a", $"hs_b")).cast("long").as("n_common"),
        (size($"hs_a") + size($"hs_b")).as("sz_ab"))
      .select($"doc_a", $"doc_b", $"n_common",
        ($"n_common".cast("double") / ($"sz_ab" - $"n_common")).as("jaccard"))

  /** Containment near-duplicate pairs — the asymmetric complement of
    * Jaccard: `|A∩B| / |A|` flags a document EMBEDDED in another (quote,
    * concat, boilerplate-wrapped copy), which symmetric Jaccard misses
    * when the host is much larger. MinHash bands can NOT be the
    * candidate source here — band collision probability falls with
    * Jaccard, and containment exists precisely when Jaccard is low — so
    * candidates come from capped shared-shingle buckets instead (the
    * contained doc shares every one of its shingles with its host); the
    * exact containment is then computed both directions on candidates
    * only. A pair is emitted when EITHER direction reaches
    * `minContainment`. Still no all-pairs stage: the bucket join is an
    * equality join on the shingle hash over buckets with ≥ 2 members,
    * with the same split-over-cap skew guard as every other candidate
    * generator (next paragraph).
    *
    * Candidate shingles are hash-sampled 1-in-`sampleMod` (`h31 ≡ 0`):
    * a contained doc shares ALL its shingles with its host, so sharing
    * survives any hash-keyed subset, and bucket rows (hence join cost)
    * drop ~sampleMod×. The miss probability is (1−1/mod)^k for a k-
    * shingle doc — negligible beyond a few dozen shingles (>10% only
    * under ~17 shingles, i.e. docs shorter than ~21 normalized chars);
    * set `sampleMod = 1` to scan exhaustively when such fragments
    * matter. IncrementalDedupSpec ("short-doc containment") pins both
    * sides of the trade: a planted all-shingles-dodge fragment the
    * default misses and `sampleMod = 1` catches. Exact containment
    * always uses the FULL shingle sets.
    *
    * Over-cap buckets are SPLIT, not dropped: a bucket of c > maxBucket
    * members is partitioned into ⌈c/maxBucket⌉ deterministic sub-buckets
    * by member-hash, and the self-join runs per (shingle, sub-bucket).
    * Dropping was a measured recall hole on exactly this operator:
    * members of a large dup cluster share EVERY shingle with >cap other
    * docs, so no surviving bucket could ever pair them
    * (ContainmentRecallSpec pins the fix). Work stays bounded — each
    * member joins against ~maxBucket sub-bucket mates, so a hot bucket
    * costs O(c·maxBucket), linear in its size, and the sub-bucket key
    * spreads it across partitions instead of one task. The split volume
    * is reported via the `[capSplit]` census (bounded extra work, vs
    * `[capDrop]`'s recall hole).
    *
    * `carryMax` bounds the bytes the bucket join carries per row: a doc
    * whose SAMPLED set has ≤ carryMax hashes rides its array through
    * the self-join (pre-filter fused into the join stage — no
    * pair-level distinct, no pair×corpus fetch joins); a longer doc
    * carries NULL and its candidate pairs take a pair-level array-fetch
    * join instead. The predicate is IDENTICAL on both paths (same
    * sampled sets, same integer compare — the SQL oracle mirrors one
    * rule), so carryMax is purely an execution-cost knob: without it,
    * per-doc shuffle bytes grow as ~8·ssz² — quadratic in doc length,
    * larger than the doc text once it passes ~sampleMod² chars — which
    * a long-document corpus at the 100 TB design point cannot pay. With
    * the default cap the carried bytes are ≤ 8·carryMax per row (≈2 KB)
    * while typical web documents (ssz ≪ carryMax) keep the fused fast
    * path. `ContainmentCarrySpec` proves path equivalence by forcing
    * each path on the same corpus.
    * Output: doc_a < doc_b, n_common, cont_a (share of a's shingles in
    * b), cont_b. */
  def containmentPairs(docs: DataFrame, id: Column, text: Column,
                       minContainment: Double, maxBucket: Int = 20,
                       sampleMod: Int = 8, carryMax: Int = 256): DataFrame = {
    val base = Pins.pin(shingleHashArrays(docs, id, text))
    // ONE definition of a doc's sampled set, applied wherever it is
    // needed (the exploded carry rows below and the deferred fetch
    // joins): a deterministic expression over the pinned base, so the
    // two execution paths can never disagree on what the set is — and
    // no second corpus-sized cache is materialized for it
    val sampled = expr(s"filter(hs, h -> h % $sampleMod = 0)")
    // exploded bucket rows: the sampled array rides along ONLY when the
    // doc is under carryMax (bounded shuffle bytes; see scaladoc) — the
    // sampled size always rides (8 bytes, needed by the predicate)
    val samp = Pins.pin(base.select($"doc_id", sampled.as("shs"))
      .select($"doc_id",
        size($"shs").cast("long").as("ssz"),
        when(size($"shs") <= carryMax, $"shs").as("shs_c"),
        explode($"shs").as("h31")))
    val counts = subSizedCounts(samp.select($"doc_id", $"h31"),
      Seq("h31"), "containment", maxBucket)
    // pinned: BOTH sides of the self-join read this one materialized
    // table. Unpinned, each side replays the whole lineage — the ccnt
    // aggregation, the md5 sub-bucket hash, the array-carrying rows —
    // twice (runtime exchange reuse does not bridge the two sides'
    // differing projections); measured 3× the whole-query time at
    // sf0.1 (4.5 s → 1.55 s with the pin).
    val sub = Pins.pin(withSubBucket(samp.join(counts, "h31"), Seq("h31"),
        prefix = "cs:")
      .select($"h31", $"sub", $"doc_id", $"ssz", $"shs_c"))
    // sampled-containment pre-filter, fused into the bucket-join stage:
    // most candidate hits share only hot (boilerplate/template)
    // shingles and can never reach minContainment — reject them on the
    // cheap 1-in-sampleMod sampled sets carried on the join rows, before
    // anything pair-sized is shuffled and before the exact stage
    // intersects FULL shingle sets (measured at sf0.1: 1.3M bucket-join
    // hit rows / 1.25M distinct pairs, of which 579k share ≥50% of a
    // sampled set — the corpus is heavily templated — but only ~56k
    // survive the 70% cut and 144 truly contain; the ~4% duplicated
    // hit rows re-run a 27-element intersect each, far cheaper than the
    // pair-level distinct shuffle that would dedup them first). A pair
    // survives iff its sampled intersection reaches 70% of either
    // side's sampled size (exact integer compare — oracle-identical),
    // OR either side has ≤6 sampled shingles (the binomial slack
    // argument needs a dozen samples; tiny docs pass through on
    // candidacy alone, so short-doc recall is untouched). For a true
    // ≥0.9-contained doc with ssz sampled shingles the sampled
    // containment is Binomial(ssz, ≥0.9)/ssz: at ssz = 12 the 0.7 cut
    // is ~2σ below the mean, beyond ssz = 25 it is >3.5σ.
    // ContainmentRecallSpec re-measures the recall floor.
    //
    def passes(sCommon: Column, sszA: Column, sszB: Column): Column =
      sCommon * 10 >= sszA * 7 || sszA <= 6 ||
        sCommon * 10 >= sszB * 7 || sszB <= 6
    // hitsEval is the ONE pass over the array-carrying self-join: rows
    // where both sides carried their sampled array evaluate s_common
    // AND the 70% cut inline (the ~95% of hit rows the cut rejects die
    // inside the join stage, exactly the r10 fusion); rows touching an
    // over-carryMax doc cannot be cut here and survive tagged
    // `deferred`. Pinned AFTER the cut as pair ids + the tag only, so
    // the cache holds survivors + deferred hits (~56k at sf0.1), never
    // the 1.3M raw hit rows and never an array.
    val hitsEval = Pins.pin(sub
      .join(sub.select($"h31", $"sub", $"doc_id".as("doc_b"),
        $"ssz".as("ssz_b"), $"shs_c".as("shs_cb")), Seq("h31", "sub"))
      .filter($"doc_id" < $"doc_b")
      .select($"doc_id".as("doc_a"), $"doc_b", $"ssz", $"ssz_b",
        when($"shs_c".isNotNull && $"shs_cb".isNotNull,
          size(array_intersect($"shs_c", $"shs_cb")).cast("long"))
          .as("s_common"))
      .filter($"s_common".isNull ||
        passes($"s_common", $"ssz", $"ssz_b"))
      .select($"doc_a", $"doc_b", $"s_common".isNull.as("deferred")))
    // deferred pairs (≥1 side over carryMax): pair-level distinct, then
    // the classic array-fetch join against the pinned base — the SAME
    // predicate on the SAME sampled-set expression, just evaluated
    // after a fetch instead of in the join stage. Empty whenever the
    // corpus has no over-carryMax docs (the common web-doc case).
    val deferred = hitsEval.filter($"deferred")
      .select($"doc_a", $"doc_b").distinct()
      .join(base.select($"doc_id".as("doc_a"), sampled.as("shs_a")), "doc_a")
      .join(base.select($"doc_id".as("doc_b"), sampled.as("shs_b")), "doc_b")
      .filter(passes(
        size(array_intersect($"shs_a", $"shs_b")).cast("long"),
        size($"shs_a").cast("long"), size($"shs_b").cast("long")))
      .select($"doc_a", $"doc_b")
    // pinned: the 2-column surviving-candidate table is the natural
    // materialization point of the pipeline (a production dedup run
    // lands candidates once, then the exact stage and any re-runs read
    // them) — and the cheapest thing to re-read: re-executions touch
    // only this tiny table plus the base fetch, never the bucket join.
    val pre = Pins.pin(hitsEval.filter(!$"deferred")
      .select($"doc_a", $"doc_b")
      .unionByName(deferred)
      .distinct())
    // spread the exact stage across the configured shuffle parallelism
    // (see [[spreadPairs]]): the byte-derived pin layout had the whole
    // 56 k-pair intersect stage on ONE task at sf0.1 — 1.6 s, the
    // entire exec cost of this query
    spreadPairs(pre)
      .join(base.select($"doc_id".as("doc_a"), $"hs".as("hs_a")), "doc_a")
      .join(base.select($"doc_id".as("doc_b"), $"hs".as("hs_b")), "doc_b")
      .select($"doc_a", $"doc_b",
        size(array_intersect($"hs_a", $"hs_b")).cast("long").as("n_common"),
        size($"hs_a").cast("long").as("sz_a"),
        size($"hs_b").cast("long").as("sz_b"))
      .select($"doc_a", $"doc_b", $"n_common",
        ($"n_common".cast("double") / $"sz_a").as("cont_a"),
        ($"n_common".cast("double") / $"sz_b").as("cont_b"))
      .filter($"cont_a" >= minContainment || $"cont_b" >= minContainment)
  }

  /** MinHash+LSH near-duplicate detection end-to-end: shingle → signature →
    * band bucket join (capped) → exact Jaccard on candidates → threshold.
    * No all-pairs stage anywhere in the plan.
    *
    * The per-doc shingle-hash array feeds every consumer (signatures, both
    * Jaccard joins, sizes); it is persisted so the md5 explode — the one
    * corpus-sized computation — runs once, which is exactly the
    * "materialize the shingle table first" shape a 100 TB dedup run uses.
    * Everything before the band bucket join is exchange-free. */
  def minHashDedup(docs: DataFrame, id: Column, text: Column,
                   minJaccard: Double, maxBucket: Int = 20): DataFrame = {
    val base = Pins.pin(shingleHashArrays(docs, id, text))
    val cand = candidatePairs(bandRows(minHashSignatures(base)), maxBucket)
    trueJaccard(cand, base).filter($"jaccard" >= minJaccard)
  }

  /** Incremental MinHash+LSH dedup against a PERSISTED index — the
    * production nightly shape at 100 TB: the historical corpus exists
    * only as its [[buildDedupIndex]] table (read from parquet; the raw
    * old documents are never re-hashed), and a new batch is deduped
    * against it without ever generating old×old pairs. Band buckets are
    * sized and skew-split over the full index (old ∪ new, exactly as a fresh full run
    * would), but only buckets actually touched by a new doc produce
    * candidates, so join cost scales with the BATCH, not the corpus.
    * After the run, append `buildDedupIndex(newDocs)` to the index table
    * to keep it current. Output: doc_a < doc_b, n_common, jaccard. */
  def incrementalDedupAgainstIndex(index: DataFrame, newDocs: DataFrame,
                                   id: Column, text: Column,
                                   minJaccard: Double,
                                   maxBucket: Int = 20): DataFrame = {
    // the index feeds its band rows + the candidate hs fetch; the new
    // side's bands feed both the cap union and the candidate probe —
    // pin each so its pass runs once
    val idx = Pins.pin(index)
    val baseNew = Pins.pin(shingleHashArrays(newDocs, id, text))
    val newBands = Pins.pin(bandRows(minHashSignatures(baseNew)))
    val allBands = Pins.pin(indexBandRows(idx).unionByName(newBands))
    // counts (and hence sub-bucket splits) over the FULL index — the
    // same rule as a from-scratch run, so incremental and full runs
    // agree pair-for-pair: withSubBucket assigns each doc the identical
    // sub it gets in cappedPairs, and only the new side probes
    // counts pinned (tiny aggregate, two consumers below); the distinct
    // candidate table pinned as the materialization point re-executions
    // read instead of re-running the probe join
    val counts = Pins.pin(subSizedCounts(allBands, Seq("band", "bkey"),
      "incremental", maxBucket))
    val subAll = withSubBucket(allBands.join(counts, Seq("band", "bkey")),
      Seq("band", "bkey"))
    val subNew = withSubBucket(newBands.join(counts, Seq("band", "bkey")),
      Seq("band", "bkey"))
    val cand = Pins.pin(subNew
      .join(subAll.withColumnRenamed("doc_id", "doc_b"),
        Seq("band", "bkey", "sub"))
      .filter($"doc_id" =!= $"doc_b")
      .select(least($"doc_id", $"doc_b").as("doc_a"),
        greatest($"doc_id", $"doc_b").as("doc_b"))
      .distinct())
    trueJaccard(cand, idx.select($"doc_id", $"hs").unionByName(baseNew))
      .filter($"jaccard" >= minJaccard)
  }

  /** [[incrementalDedupAgainstIndex]] with the index derived in-plan from
    * the old documents — the from-scratch form, provably equal to the
    * full-corpus [[minHashDedup]] restricted to pairs with ≥1 new side
    * (which is exactly what the oracle asserts). Delegating through the
    * index path means the persisted and re-derived forms share every
    * line of candidate/cap/Jaccard logic. */
  def incrementalDedup(oldDocs: DataFrame, newDocs: DataFrame, id: Column,
                       text: Column, minJaccard: Double,
                       maxBucket: Int = 20): DataFrame =
    incrementalDedupAgainstIndex(buildDedupIndex(oldDocs, id, text),
      newDocs, id, text, minJaccard, maxBucket)

  /** Connected components over near-dup pairs — the final assignment step
    * of a dedup pipeline: every document in a duplicate cluster maps to
    * the cluster's minimum doc id (the keeper), so "drop non-keepers"
    * removes each cluster down to one survivor even when A~B and B~C but
    * A!~C (the transitive closure the pairwise threshold misses).
    *
    * BSP min-label propagation with an interleaved pointer jump. The
    * first propagation round is fused into initialization: labels start
    * at min(self, neighbors) — one aggregation over the symmetric edge
    * list, replacing a separate node-enumeration pass plus a join
    * round. Each loop round then takes the per-node min over the node's
    * own label, its neighbors' labels (edge join), and — from the
    * second loop round on — `label(label(u))` (a self-join of the label
    * table: what the node's current label itself points at), so label
    * distance-to-minimum DOUBLES per round instead of shrinking by one
    * hop (on a path, covered distance is ~2ʳ after r loop rounds).
    * Convergence is O(log diameter) rounds, not O(diameter): a
    * diameter-1000 pathological chain costs ~10 shuffle rounds, not
    * 1000 — the difference between a bounded and an unbounded stage
    * count at 100 TB. The first loop round skips the jump because the
    * fused init already covers diameter 1, so one plain round covers
    * diameter ≤ 2 — the typical near-dup cluster — and the common case
    * pays zero extra joins while the pathological case stays
    * logarithmic. All joins read the previous round's (truncated,
    * cached) labels, so each round's new lineage executes once (≤2
    * equi-joins + 1 partial agg on dup-set-sized tables). Convergence
    * detection rides the same materialized pass: each node's previous
    * label is tagged onto its self row, so "did any label move" is a
    * filter over the just-checkpointed round table, not an extra join
    * job per round. Only docs that
    * appear in a pair participate — the corpus itself is never touched,
    * so the iteration cost is bounded by the duplicate set, not the
    * 100 TB input. Rounds stop at the first fixpoint (labels are
    * per-component minima there: propagation and jump are both
    * identities on a fixpoint, so the probe is unchanged); if `maxIter`
    * is hit first the labels are still a sound upper approximation
    * (some clusters split — every label move only ever lowers a node's
    * label to another label in its own component), and the bound is
    * logged to stderr rather than silently returned. Under the log
    * recurrence the default bound covers components of diameter ~2⁴⁸;
    * an exact-closure oracle (llm_curate, llm_dup_clusters) matches the
    * BSP result precisely.
    *
    * Output: (doc_id, cluster_id, is_keeper), docs in ≥1 pair only
    * (isolated docs are their own implicit singleton cluster).
    *
    * `checkpointDir`: per-round lineage truncation target. `None`
    * (default) uses eager `localCheckpoint` — executor-local blocks,
    * zero I/O, right for single-box and interactive runs but lost with
    * a dead executor. On a real cluster pass a reliable dir (HDFS/S3):
    * rounds then truncate via `checkpoint()`, whose blocks survive
    * executor loss, at the cost of one write+read of the (tiny,
    * dup-set-sized) label table per round. Superseded rounds' snapshot
    * files are reaped INSIDE the loop (round N's eager materialization
    * makes round N−1's files dead), so the dir holds at most two label
    * snapshots however many rounds run. The dir must be DURABLE beyond
    * this call on two counts: the RETURNED DataFrame reads the final
    * round's checkpoint files lazily (consume it before deleting the
    * dir), and `setCheckpointDir` is context-global with no unset — if
    * the context had no prior dir, this one stays its checkpoint dir,
    * and a later unrelated `checkpoint()` would write into it. Pass a
    * path with the session's lifetime (a per-job subdir of the
    * cluster's standing checkpoint root), never a delete-on-exit temp
    * dir. The context's prior dir, when one exists, is restored after
    * the call. */
  def dupClusters(pairs: DataFrame, maxIter: Int = 50,
                  checkpointDir: Option[String] = None): DataFrame = {
    val edges = Pins.pin(pairs.select($"doc_a".as("src"), $"doc_b".as("dst"))
      .union(pairs.select($"doc_b".as("src"), $"doc_a".as("dst"))))
    // eager checkpoint per round: iterative plans double their
    // lineage every iteration (each round embeds the previous round's
    // plan in the join, the union, AND the convergence probe) — without
    // truncation the logical plan is exponential in the round count and
    // Catalyst itself OOMs before any data moves.
    val sc = pairs.sparkSession.sparkContext
    val prevDir = sc.getCheckpointDir
    checkpointDir.foreach(sc.setCheckpointDir)
    def truncate(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(eager = true)
      else df.localCheckpoint(true)
    // reliable-checkpoint reaping: an eagerly-checkpointed Dataset's
    // plan is a LogicalRDD over the checkpointed RDD — once the NEXT
    // round is materialized, the previous round's files are dead and
    // are deleted in-loop (else a maxIter run leaves maxIter label
    // snapshots in the dir). localCheckpoint blocks are freed by the
    // existing unpersist.
    def reapCheckpoint(df: DataFrame): Unit =
      if (checkpointDir.isDefined)
        df.queryExecution.analyzed.collectFirst {
          case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
        }.foreach(
          org.apache.spark.graftbridge.CheckpointBridge.cleanCheckpoint(sc, _))
    try {
    // The FIRST propagation round is fused into initialization (r16,
    // guide §2.4 fewer passes/actions): labels₁(u) = min(u, min over
    // u's neighbors) is one aggregation over the symmetric edge list
    // (each node's self row rides the same union, giving node
    // enumeration for free) — replacing the old init (distinct +
    // materialize) PLUS a full join-propagate round, i.e. two
    // materialization actions and one join, with a single aggregate.
    // `labelsT` is the materialized (truncated) round table that owns
    // blocks/checkpoint files — unpersist/reap target; `labels` is its
    // (doc_id, cluster_id) view the round logic reads.
    var labelsT = truncate(
      edges.select($"dst".as("doc_id"), $"src".as("cluster_id"))
        .unionByName(edges.select($"src".as("doc_id"),
          $"src".as("cluster_id")))
        .groupBy($"doc_id").agg(min($"cluster_id").as("cluster_id")))
    var labels = labelsT
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val msgs = edges.join(labels,
          edges("src") === labels("doc_id"))
        .select(edges("dst").as("doc_id"), $"cluster_id",
          lit(null).cast("long").as("old"))
      // pointer-jump messages through the previous round's cached
      // table: label(label(u)) joins the union below, so each node also
      // hears what its LABEL currently points at. Every label value is
      // some participating node's id (initial labels are per-node minima
      // over self ∪ neighbors, all node ids, and min preserves that), so
      // the inner self-join loses no node — the node's own row in
      // `labels` still rides the union. This is what turns O(diameter)
      // rounds into O(log diameter) — see the scaladoc recurrence.
      // ADAPTIVE: the first loop round propagates plainly (the fused
      // init already covers diameter 1, so one plain round covers
      // diameter ≤ 2 — the typical near-dup cluster — and the common
      // case never pays the extra self-join); from the second loop
      // round the jump kicks in and coverage doubles per round, the
      // same 2^r recurrence.
      val base = labels.withColumn("old", $"cluster_id").unionByName(msgs)
      val fanned = if (iter < 1) base
        else base.unionByName(labels.join(
            labels.select($"doc_id".as("j_id"), $"cluster_id".as("j_cl")),
            $"cluster_id" === $"j_id")
          .select($"doc_id", $"j_cl".as("cluster_id"),
            lit(null).cast("long").as("old")))
      // convergence detection rides the SAME materialized pass (r16):
      // each node's previous label is tagged onto its self row (`old` —
      // exactly one non-null per group, since `labels` has one row per
      // node and every message/jump row tags null), so "did any label
      // move" is a filter over the just-checkpointed round table
      // instead of a separate join job against the previous round.
      val next = truncate(fanned
        .groupBy($"doc_id").agg(min($"cluster_id").as("cluster_id"),
          max($"old").as("old")))
      converged = next.filter($"cluster_id" =!= $"old").isEmpty
      labelsT.unpersist(blocking = false)
      reapCheckpoint(labelsT) // next is materialized; labelsT's files are dead
      labelsT = next
      labels = next.select($"doc_id", $"cluster_id")
      iter += 1
    }
    if (!converged)
      System.err.println(s"[dupClusters] maxIter=$maxIter hit before " +
        "fixpoint — some clusters may be split")
    labels.select($"doc_id", $"cluster_id",
      ($"doc_id" === $"cluster_id").as("is_keeper"))
    } finally {
      // restore: setCheckpointDir is context-global; put back any dir
      // the session had before (it can't be unset once set, so with no
      // prior dir ours stays — harmless, it's a valid reliable dir)
      if (checkpointDir.isDefined) prevDir.foreach(sc.setCheckpointDir)
    }
  }

  /** 32-bit SimHash fingerprint per doc over whitespace tokens (multiset):
    * bit j of the fingerprint is the sign of sum over tokens of
    * (2*bit_j(h60(token)) - 1). The token-hash array is built once per doc
    * and the 32 bit-sums fold over it with `aggregate` — all inside one
    * narrow projection, no token-level exchange. Output: doc_id, simhash. */
  def simHash(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val hs = docs.select(id.as("doc_id"), normText(text).as("norm"))
      .spreadBy($"doc_id") // conditional hash-wide parallelism (graft.spreadByKey)
      .select($"doc_id",
        transform(split($"norm", " "), w => DetHash.h60(w)).as("hs"))
    val fp = (0 until 32).map { j =>
      val s = expr(s"aggregate(hs, 0L, (acc, h) -> acc + " +
        s"(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END))")
      when(s > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    hs.select($"doc_id", fp.as("simhash"))
  }

  /** Near-dup pairs by SimHash: band the 32-bit fingerprint into 4 bytes,
    * bucket-join docs agreeing on any byte, keep pairs within
    * `maxHamming` bits.
    *
    * Over-cap band buckets are SPLIT into ⌈c/maxBucket⌉ deterministic
    * member-hash sub-buckets, not dropped (same rationale as
    * [[containmentPairs]]: members of a large near-dup cluster agree on
    * EVERY band byte, so under drop semantics no surviving bucket could
    * ever pair them — precisely the pairs a deduper exists to find).
    * Recall under the split: a near-dup pair (hamming ≤ 2 leaves ≥ 2 of
    * the 4 band bytes intact) gets an independent 1/nsub co-bucket draw
    * per agreeing band — ≥ 1−(1−1/nsub)² pairwise — and what a deduper
    * actually needs from a mega-cluster is CONNECTIVITY, which the
    * ~c·maxBucket/2 retained intra-cluster edges give with overwhelming
    * probability (vs exactly zero edges under drop semantics).
    * `SimHashRecallSpec` pins both on a planted over-cap cluster. Work
    * stays O(c·maxBucket) per hot bucket; split volume lands in the
    * `[capSplit]` census. */
  def simHashPairs(fp: DataFrame, maxHamming: Int, maxBucket: Int = 50): DataFrame = {
    // pin the fingerprints (tiny: doc_id + one long) — three consumers
    // below; identical-plan cache dedup keeps repeated calls bounded
    val fpP = Pins.pin(fp)
    val bandStructs = (0 until 4).map(b =>
      struct(lit(b).as("band"), shiftright($"simhash", 8 * b).bitwiseAND(255).as("bkey")))
    val bands = fpP.select($"doc_id", $"simhash", explode(array(bandStructs: _*)).as("bb"))
      .select($"doc_id", $"simhash", $"bb.band".as("band"), $"bb.bkey".as("bkey"))
    // skew-safe partial-agg counts (see candidatePairs); over-cap →
    // ceil(c/cap) sub-buckets
    val counts = subSizedCounts(bands, Seq("band", "bkey"), "simhash",
      maxBucket)
    // pinned sub + pinned result — the cappedPairs discipline: unpinned,
    // each self-join side replays the count aggregation and sub-bucket
    // hash, and every re-execution replays the band join
    val sub = Pins.pin(withSubBucket(bands.join(counts, Seq("band", "bkey")),
        Seq("band", "bkey"), prefix = "sh:")
      .select($"band", $"bkey", $"doc_id", $"simhash", $"sub"))
    Pins.pin(sub.join(
        sub.select($"band", $"bkey", $"sub", $"doc_id".as("doc_b"),
          $"simhash".as("fp_b")),
        Seq("band", "bkey", "sub"))
      .filter($"doc_id" < $"doc_b")
      .select($"doc_id".as("doc_a"), $"doc_b",
        bit_count($"simhash".bitwiseXOR($"fp_b")).cast("long").as("hamming"))
      .distinct()
      .filter($"hamming" <= maxHamming))
  }

  /** Word n-gram Jaccard near-dup: candidates bucketed by shared exact
    * word-5-gram (capped), similarity = Jaccard of distinct word-3-gram
    * hash sets. Both gram sets are built as arrays in ONE narrow pass over
    * the corpus and persisted together. Output: doc_a, doc_b, n_common,
    * jaccard. */
  /** Per-doc word-gram hash arrays, ONE md5 pass: positional 3-gram
    * hashes; the 5-gram bucket key is the exact-integer combine of its 3
    * constituent (overlapping) 3-grams — a word 5-gram is determined by
    * 3-grams at i, i+1, i+2 — so bucketing power is equivalent while the
    * corpus-sized hash work halves (no 5-gram md5-over-string pass).
    * The combine stays below 2⁶³ by folding mod M31 at each step,
    * mirrored exactly in the oracles.
    * Output: doc_id, b5 (distinct 5-gram keys), g3 (distinct 3-gram
    * hashes). Shared by [[ngramJaccard]] and [[contamination]]. */
  def gramArrays(docs: DataFrame, id: Column, text: Column): DataFrame =
    gramArraysFrom(
      docs.select(id.as("doc_id"), split(normText(text), " ").as("ws"))
        .filter(size($"ws") >= 5)
        .spreadBy($"doc_id", cpuBound = true), // gram explode: CPU-bound
      Seq("doc_id"))

  /** The b5/g3 gram projections over a frame carrying a `ws` word-array
    * column plus the `carry` columns (the streaming form carries `ts`).
    * ONE shared implementation so the batch and streaming gram
    * pipelines can never hash differently.
    *
    * Plan shape is LOAD-BEARING: two stacked SELECTs, each alias
    * referenced by the next projection, exactly the proven batch shape.
    * A withColumn/drop chain here measured catastrophically slower:
    * CollapseProject inlined the `split` and `g3p` aliases into the
    * downstream transform LAMBDAS, re-evaluating the split per array
    * element (O(words²)–O(words³) per doc, interpreted — a planted
    * 10-minute hang on the 500-doc streaming fixture). */
  private def gramArraysFrom(base: DataFrame,
                             carry: Seq[String]): DataFrame = {
    // concat_ws over slice, ONE ws reference per element (the
    // element_at-per-word form measured far slower; see wordGramArrays)
    val gram3 = (i: Column) => concat_ws(" ", slice($"ws", i, lit(3)))
    val b5key = (i: Column) => {
      val g = (o: Int) => element_at($"g3p", i + lit(o))
      ((((g(0) * DetHash.CombineC + g(1)) % DetHash.M31) * DetHash.CombineC)
        + g(2)) % DetHash.M31
    }
    val kc = carry.map(col)
    base
      .select(kc :+
        transform(sequence(lit(1), size($"ws") - 2),
          i => DetHash.h31(gram3(i))).as("g3p"): _*)
      .select(kc :+
        array_distinct(transform(sequence(lit(1), size($"g3p") - 2), b5key))
          .as("b5") :+
        array_distinct($"g3p").as("g3"): _*)
  }

  def ngramJaccard(docs: DataFrame, id: Column, text: Column,
                   minJaccard: Double, maxBucket: Int = 20): DataFrame = {
    val base = Pins.pin(gramArrays(docs, id, text))
    // slim g3-only pin layered on the fat base: the exact stage's two
    // candidate-fetch joins scan a (doc_id, g3) cache instead of
    // dragging the unused b5 arrays through both scans — array columns
    // are the expensive part of an InMemoryRelation scan, and the fat
    // base is still materialized only once (the slim pin reads it).
    // Measured at sf0.1: trueJaccard 0.46 s → 0.29 s staged, and the
    // fix that retired the r10 bench regression together with the
    // rebuild-stable observe names (DedupStats.stableName).
    val g3 = Pins.pin(base.select($"doc_id", $"g3".as("hs")))
    val buckets = base.select($"doc_id", explode($"b5").as("bkey"))
    val cand = cappedPairs(buckets, Seq("bkey"), maxBucket)
    trueJaccard(cand, g3).filter($"jaccard" >= minJaccard)
  }

  /** Eval-set contamination detection — the decontamination pass of a
    * training pipeline: n-gram Jaccard pairs BETWEEN a training corpus
    * and a held-out eval corpus, so an eval document leaking into
    * training surfaces with its train-side source. Same capped-bucket
    * shape as [[ngramJaccard]] with the self-join replaced by a
    * train×eval equality join on shared 5-gram keys; the cap is taken on
    * the TRAIN side (the big one — a boilerplate 5-gram shared by half
    * the corpus must not explode the probe). The eval side is typically
    * tiny and broadcasts under AQE.
    * Output: train_id, eval_id, n_common, jaccard. */
  def contamination(train: DataFrame, evalDocs: DataFrame,
                    id: Column, text: Column, minJaccard: Double,
                    maxBucket: Int = 50): DataFrame = {
    val t = Pins.pin(gramArrays(train, id, text))
    val e = Pins.pin(gramArrays(evalDocs, id, text))
    val tb = t.select($"doc_id".as("train_id"), explode($"b5").as("bkey"))
    val eb = e.select($"doc_id".as("eval_id"), explode($"b5").as("bkey"))
    // over-cap TRAIN buckets split into ceil(c/cap) sub-buckets instead
    // of dropping (a contaminated pair shares most of its 5-grams — each
    // shared gram is an independent 1/nsub co-sub draw, so recall
    // survives while join volume stays ≤ |eval rows|·cap); the eval
    // probe hashes into the SAME sub space sized by the train counts
    // counts pinned (tiny aggregate, both probe sides consume it); the
    // distinct candidate table pinned so re-executions skip the probe
    val counts = Pins.pin(subSizedCounts(tb, Seq("bkey"), "contamination",
      maxBucket, minCount = 1))
    val tsub = withSubBucket(tb.join(counts, "bkey"), Seq("bkey"),
        idCol = "train_id")
      .select($"bkey", $"train_id", $"sub")
    val esub = withSubBucket(eb.join(counts, "bkey"), Seq("bkey"),
        idCol = "eval_id")
      .select($"bkey", $"eval_id", $"sub")
    val cand = Pins.pin(tsub.join(esub, Seq("bkey", "sub"))
      .select($"train_id", $"eval_id").distinct())
    cand
      .join(t.select($"doc_id".as("train_id"), $"g3".as("hs_a")), "train_id")
      .join(e.select($"doc_id".as("eval_id"), $"g3".as("hs_b")), "eval_id")
      .select($"train_id", $"eval_id",
        size(array_intersect($"hs_a", $"hs_b")).cast("long").as("n_common"),
        (size($"hs_a") + size($"hs_b")).as("sz_ab"))
      .select($"train_id", $"eval_id", $"n_common",
        ($"n_common".cast("double") / ($"sz_ab" - $"n_common")).as("jaccard"))
      .filter($"jaccard" >= minJaccard)
  }

  /** The persistable eval-set index [[streamingContamination]] probes:
    * one row per (5-gram bucket key, eval doc) carrying the doc's
    * distinct 3-gram hash set. A production pipeline materializes this
    * ONCE per eval-set release (it is eval-sized, tiny next to any
    * training corpus) and every ingest stream joins against it.
    * Output: bkey, eval_id, g3_e. */
  def contaminationIndex(evalDocs: DataFrame, id: Column,
                         text: Column): DataFrame =
    // explode_outer, deliberately: with a plain explode, the consumer
    // join's inferred isnotnull(bkey) and the Generate's size(b5) > 0
    // constraint are pushed below the gram projections WITH FULL ALIAS
    // SUBSTITUTION — the resulting Filter re-derives the whole
    // b5 pipeline (g3p re-inlined per element_at: O(words³)) for every
    // row, interpreted; measured 80 s for a 2,381-row index that takes
    // ~1 s without the pushed filter. The outer generate makes both
    // inferences invalid so they never fire, and is value-identical
    // here: b5 is never empty (the ≥5-word gate guarantees ≥1 key) and
    // a consumer's inner join on bkey would drop a null row anyway.
    // (Batch pipelines never see this: Pins.pin's checkpointed
    // LogicalRDD blocks filter pushdown — an unpinnable stream or a
    // one-shot index build needs the in-plan guard.)
    gramArrays(evalDocs, id, text)
      .select($"doc_id".as("eval_id"), explode_outer($"b5").as("bkey"),
        $"g3".as("g3_e"))

  /** Streaming eval-set contamination screening — the decontamination
    * pass applied AT INGEST instead of after landing: each arriving
    * train document's 5-gram bucket keys probe a STATIC broadcast
    * [[contaminationIndex]] (the canonical stream-static enrich join —
    * stateless, no candidate state at all), exact n-gram Jaccard is
    * computed in the same projection (both g3 sets are present on the
    * joined row: the stream carries its own, the index row carries the
    * eval side's), and flagged pairs ≥ `minJaccard` are emitted once —
    * a pair sharing many bucket keys produces identical rows that
    * `dropDuplicatesWithinWatermark` collapses, so the ONLY streaming
    * state is one row per flagged (train, eval) pair inside the
    * lateness horizon (contamination is rare by construction; this is
    * the smallest state of any operator here).
    *
    * The stream-side g3 array rides the exploded bucket rows, but only
    * rows MATCHING an eval bucket key survive the inner join, so the
    * duplication is bounded by the contamination fan-out, not the doc's
    * key count (the containment carryMax concern does not arise).
    * Candidates are NOT capped: the cap exists to bound self-join skew
    * on corpus-sized bucket tables, while here the bucket table is the
    * fixed eval index — per-row fan-out is bounded by the eval set
    * itself, and the batch [[contamination]] run (whose capped SPLIT
    * changes no results, only task shapes) stays the landed backstop.
    * Output: train_id, ts, eval_id, n_common, jaccard. */
  def streamingContamination(train: DataFrame, evalIndex: DataFrame,
                             minJaccard: Double,
                             maxLatenessSec: Long): DataFrame =
    gramArraysFrom(
        train
          // NULL event time would break the watermarked pair dedup; a
          // NULL text already falls out via the ≥5-word gate below
          .filter($"ts".isNotNull)
          .select($"doc_id", $"ts",
            split(normText($"text"), " ").as("ws"))
          .filter(size($"ws") >= 5)
          // the stream-side twin of the batch path's spreadByKey: hash
          // parallelism for the heavy gram hashing, AND a load-bearing
          // collapse barrier — without the exchange, the per-batch
          // planner inlines the split/normText alias into the gram
          // transform lambdas (re-evaluated per array element: measured
          // as a planted O(words²)-per-doc hang, 10+ min on the 500-doc
          // fixture vs ~1 s with the exchange). spreadByKey itself
          // passes streams through untouched, so the spread is explicit
          // here.
          .repartition($"doc_id"),
        Seq("doc_id", "ts"))
      // explode_outer: same pushed-constraint guard as
      // [[contaminationIndex]] (a stream cannot be pinned, so the
      // in-plan guard is the only protection); value-identical — b5 is
      // never empty and the inner join drops a null bkey row
      .select($"doc_id".as("train_id"), $"ts",
        explode_outer($"b5").as("bkey"), $"g3".as("g3_t"))
      .join(broadcast(evalIndex), "bkey")
      .select($"train_id", $"ts", $"eval_id",
        size(array_intersect($"g3_t", $"g3_e")).cast("long").as("n_common"),
        (size($"g3_t") + size($"g3_e")).as("sz_ab"))
      .select($"train_id", $"ts", $"eval_id", $"n_common",
        ($"n_common".cast("double") / ($"sz_ab" - $"n_common")).as("jaccard"))
      .filter($"jaccard" >= minJaccard)
      .withWatermark("ts", s"$maxLatenessSec seconds")
      .dropDuplicatesWithinWatermark("train_id", "eval_id")

  /** Per-doc n-gram novelty — the duplication-risk score: the fraction
    * of a doc's DISTINCT word n-grams that appear in no other document.
    * The inverse view of [[bloomNgramFilter]]'s shared-gram count: a doc
    * near 1.0 is fresh content; a low score is assembled from
    * corpus-common material even when no single pair clears a near-dup
    * threshold. One gram explode (raw strings — see [[wordGramArrays]]
    * on why no hashing), one gram-keyed distinct-doc count collapsing
    * map-side, then uniqueness by COMPLEMENT: only the SHARED grams
    * (nd ≥ 2 — the cross-doc boilerplate/dup material, the small side
    * of any diverse corpus, where most long n-grams are singletons)
    * join back against the exploded rows, and n_unique = n_grams −
    * n_shared. Joining every gram row with its count would carry the
    * whole exploded stream through the join; the complement join
    * carries only the shared subset — at the 100 TB design point that
    * is the difference between a corpus-sized and a dup-material-sized
    * shuffle. Docs under `n` words have no grams and are excluded.
    * Output: doc_id, n_grams, n_unique, novelty. */
  def ngramNovelty(docs: DataFrame, id: Column, text: Column,
                   n: Int = 8): DataFrame = {
    val g = Pins.pin(wordGramArrays(docs, id, text, n)
      .select($"doc_id", explode($"gs").as("g")))
    val shared = g.groupBy($"g").agg(count(lit(1)).as("nd"))
      .filter($"nd" >= 2).select($"g")
    val nShared = g.join(shared, "g")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_shared"))
    g.groupBy($"doc_id").agg(count(lit(1)).as("n_grams"))
      .join(nShared, Seq("doc_id"), "left")
      .select($"doc_id", $"n_grams",
        ($"n_grams" - coalesce($"n_shared", lit(0L))).as("n_unique"))
      .withColumn("novelty", $"n_unique".cast("double") / $"n_grams")
  }

  /** Per-doc DISTINCT word-`n`-gram set (raw strings), array form — the
    * Bloom pass's granularity: word grams, not char shingles, so a shared
    * sentence fragment is one key. Docs under `n` words have no grams. */
  private def wordGramArrays(docs: DataFrame, id: Column, text: Column,
                             n: Int): DataFrame =
    docs.select(id.as("doc_id"), split(normText(text), " ").as("ws"))
      .filter(size($"ws") >= n)
      .spreadBy($"doc_id", cpuBound = true) // n-gram string build: CPU-bound
      // RAW gram strings, not hashes: the join key is the exact n-gram
      // (collision-free by definition, and the oracle replicates it with
      // plain string equality); hashing every gram through interpreted
      // md5 inside this non-codegen lambda measured 6x the whole pass.
      // Also: concat_ws over slice is ONE ws reference per element — an
      // element_at per word would be n references, each a CollapseProject
      // re-inline of the upstream split (measured 35x slower at sf0.1).
      .select($"doc_id", array_distinct(transform(
        sequence(lit(1), size($"ws") - (n - 1)),
        i => concat_ws(" ", slice($"ws", i, lit(n))))).as("gs"))

  /** Bloom-prefiltered incremental n-gram dedup — the Dolma-style Bloom
    * pass: how much of each NEW doc's distinct word-`n`-gram set already
    * appears in the OLD corpus. The old side folds into an `mBits`-entry
    * Bloom bitset, represented as a distinct-positions table (≤ mBits
    * rows, one long each — broadcastable at ANY corpus size; that O(m)
    * bound, not O(corpus), is the entire point of the Bloom shape). New
    * grams whose `numHashes` salted positions are all present are the only
    * candidates that touch the exact-confirm join against the old gram
    * set, so the corpus-sized join input is prefilter-survivors only.
    *
    * No false negatives by construction, and the exact confirm removes
    * the false positives, so the output is IDENTICAL to the naive
    * gram-set join (the oracle runs the naive form). Sizing rule:
    * mBits ≈ 10× the old side's distinct gram count keeps the false-
    * positive rate ~1% with 3 hashes; at 100 TB either shard the filter
    * by gram-hash range or raise mBits (the positions table stays ≤ mBits
    * rows regardless). Positions use Spark's codegen'd murmur3 `hash` —
    * deterministic across runs/partitions, and engine-internal: no oracle
    * ever sees a position, only the exact-confirmed output.
    * Output: doc_id, n_grams, n_shared (docs with n_shared ≥ minShared). */
  def bloomNgramFilter(oldDocs: DataFrame, newDocs: DataFrame,
                       id: Column, text: Column, n: Int = 8,
                       mBits: Int = 1 << 17, numHashes: Int = 3,
                       minShared: Long = 1): DataFrame =
    // the old gram set feeds BOTH the bitset build and the exact confirm
    // — pin it so the corpus-side gram pass runs once
    bloomNgramFilterWithIndex(
      Pins.pin(buildGramIndex(oldDocs, id, text, n)),
      newDocs, id, text, n, mBits, numHashes, minShared)

  /** The persistable gram index the Bloom pass probes: the old corpus's
    * DISTINCT word-n-gram strings, one row each. A 100 TB deployment
    * materializes this once (and appends each ingested batch's new
    * grams), so nightly [[bloomNgramFilterWithIndex]] runs re-derive the
    * bitset from the index — an O(index) scan, no re-tokenization of the
    * historical corpus — and pay gram hashing only for the batch.
    * Output: g (string). */
  def buildGramIndex(docs: DataFrame, id: Column, text: Column,
                     n: Int = 8): DataFrame =
    wordGramArrays(docs, id, text, n)
      .select(explode($"gs").as("g")).distinct()

  /** [[bloomNgramFilter]] against a PERSISTED gram index (the production
    * shape — [[bloomNgramFilter]] delegates here with an in-plan index,
    * so both forms share every line of bitset/prefilter/confirm logic).
    * `oldGrams` needs one string column `g`. */
  def bloomNgramFilterWithIndex(oldGrams: DataFrame, newDocs: DataFrame,
                                id: Column, text: Column, n: Int = 8,
                                mBits: Int = 1 << 17, numHashes: Int = 3,
                                minShared: Long = 1): DataFrame = {
    require(n > 0 && mBits > 0 && numHashes > 0 && minShared >= 1)
    def positions(g: Column): Column =
      array((0 until numHashes).map(j => pmod(hash(lit(j), g), lit(mBits))): _*)
    // the bitset is derived once per nightly run in production (an
    // O(index) scan over the persisted gram table) — pin it so
    // re-executions of the returned plan read the ≤ mBits rows instead
    // of re-running the index-sized explode + distinct per action
    val bits = Pins.pin(
      oldGrams.select(explode(positions($"g")).as("bit")).distinct())
    val nw = Pins.pin(wordGramArrays(newDocs, id, text, n))
    // re-spread after the pin: the pin's byte-derived coalesce packs the
    // KB-sized batch gram table into one partition, which would strand
    // the per-execution gram explode + numHashes position hashes + bitmap
    // probe below on one core (the conditional spread is a no-op once the
    // batch is wider than the configured shuffle parallelism)
    val cand = nw.spreadBy($"doc_id", cpuBound = true)
      .select($"doc_id", explode($"gs").as("g"))
      .select($"doc_id", $"g", explode(positions($"g")).as("p"))
      .join(broadcast(bits), $"p" === $"bit")
      .groupBy($"doc_id", $"g").agg(count(lit(1)).as("nbits"))
      .filter($"nbits" === numHashes)
      .select($"doc_id", $"g")
    cand.join(oldGrams, "g")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_shared"))
      .join(nw.select($"doc_id", size($"gs").cast("long").as("n_grams")),
        "doc_id")
      .filter($"n_shared" >= minShared)
      .select($"doc_id", $"n_grams", $"n_shared")
  }
}
