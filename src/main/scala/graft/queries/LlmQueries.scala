package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft._
import graft.functions.DetHash
import graft.operators.{DedupOps, FuzzyJoinOps, MultimodalOps, SketchOps, TextAnalysisOps, VectorOps}

/** LLM-training-data-pipeline operators over the driver's `documents` and
  * `embeddings` tables: exact / MinHash-LSH / SimHash / n-gram-Jaccard /
  * embedding-cosine / SemDedup-semantic / incremental-batch dedup,
  * brute-force + LSH + IVF cosine top-k, text stats / token counting /
  * quality scoring + sampling / language ID / fingerprints / PII
  * redaction / vocabulary + BPE statistics / domain stats, deterministic
  * splits, shuffling, packing, mixing, contamination checks, and the
  * composed curation funnel.
  *
  * Every query has a DuckDB oracle built from the SAME hash/sign literals
  * ([[DetHash]]) and the same exact-integer arithmetic, so results
  * hash-match bit-for-bit across engines. No query contains an all-pairs
  * stage: candidate pairs always come from capped equality-bucket joins
  * (LSH bands / fingerprint bytes / shared n-grams), and ANN probes are a
  * broadcast-small set — the plans survive a 100× scale-up.
  */
object LlmQueries {

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.table(s, d, "documents")
  private def embs(s: SparkSession, d: String): DataFrame =
    Tables.table(s, d, "embeddings")

  /** The fuzzy-linkage fixture llm_fuzzy_join and llm_fuzzy_incr share:
    * clean keys (first FuzzyPrefix chars of every long-enough doc) and a
    * deterministically corrupted copy — md5-seeded delete + substitute,
    * the classic linkage-benchmark construction, since the synthetic
    * corpus has no natural typos — with ids offset by 1e6.
    * Returns (base: doc_id, k; dirty: did, dk). */
  private def fuzzyCorpus(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val base = docs(s, d).filter($"n_chars" >= FuzzyPrefix)
      .select($"doc_id", substring($"text", 1, FuzzyPrefix).as("k"))
    def h(salt: String) =
      DetHash.h60(concat(lit(salt), $"doc_id".cast("string")))
    val e = h("fz:") % 3
    val p1 = (h("fzp1:") % 40 + 4).cast("int")
    val p2 = (h("fzp2:") % 38 + 2).cast("int")
    val k1 = when(e >= 1, concat($"k".substr(lit(1), p1 - 1),
      $"k".substr(p1 + 1, lit(FuzzyPrefix)))).otherwise($"k")
    val dirty = base.select(($"doc_id" + 1000000L).as("did"),
      when(e === 2, concat(k1.substr(lit(1), p2 - 1), lit("#"),
        k1.substr(p2 + 1, lit(FuzzyPrefix)))).otherwise(k1).as("dk"))
    (base, dirty)
  }

  /** The corruption CTE block the fuzzy-join/incr/stream oracles share
    * — the SQL twin of [[fuzzyCorpus]], so the recipe has ONE Scala
    * source and ONE SQL source: clean `base` (doc_id, k) plus corrupted
    * `dirty` (did, dk), with the dirty side optionally id-bounded (the
    * incremental/streaming gates, keeping the brute-force confirm
    * O(|base|) in SF). llm_fuzzy_dedup's union form stays bespoke. */
  private def fuzzyCtes(bound: Option[Long]): String = {
    val where = bound.map(b => s" WHERE doc_id < $b").getOrElse("")
    s"""base AS (SELECT doc_id, substr(text, 1, $FuzzyPrefix) AS k
                    FROM documents WHERE n_chars >= $FuzzyPrefix),
      d0 AS (SELECT doc_id, k,
               ${DetHash.h60Sql("'fz:' || CAST(doc_id AS VARCHAR)")} % 3 AS e,
               CAST(${DetHash.h60Sql("'fzp1:' || CAST(doc_id AS VARCHAR)")}
                    % 40 + 4 AS INT) AS p1,
               CAST(${DetHash.h60Sql("'fzp2:' || CAST(doc_id AS VARCHAR)")}
                    % 38 + 2 AS INT) AS p2
             FROM base$where),
      d1 AS (SELECT doc_id, e, p2,
               CASE WHEN e >= 1
                    THEN substr(k, 1, p1 - 1) || substr(k, p1 + 1, $FuzzyPrefix)
                    ELSE k END AS k1
             FROM d0),
      dirty AS (SELECT doc_id + 1000000 AS did,
               CASE WHEN e = 2
                    THEN substr(k1, 1, p2 - 1) || '#' ||
                         substr(k1, p2 + 1, $FuzzyPrefix)
                    ELSE k1 END AS dk
             FROM d1)"""
  }

  private val MinJaccard = 0.8     // planted near-dups sit at ≥0.85
  private val MinContainment = 0.9 // near-supersets: most of one side shared
  private val ContainSampleMod = 8 // 1-in-8 candidate-shingle sampling
  private val CapBucket = 20       // [2, CapBucket] skew cap for buckets
  private val NgramMinJaccard = 0.5
  private val FuzzyK = 2       // edit-distance join threshold
  private val FuzzyPrefix = 48 // linkage key: first 48 chars (min n_chars)
  private val HllB = 10        // HLL register bits: 2^10 registers/group
  private val FuzzyPairMax = 100L // llm_fuzzy_dedup probe id bound
  private val FuzzyIncrMax = 100L // llm_fuzzy_incr new-batch id bound
  private val MaxHamming = 2L
  private val AnnK = 5
  private val AnnProbeMax = 10L    // probe set: vec_id < 10
  // streaming near-dup fixture: the first StreamNdMaxDoc docs arrive as
  // an in-event-time-order stream, ts = StreamNdT0 + doc_id seconds
  private val StreamNdMaxDoc = 300L
  private val StreamNdT0 = 1700000000L
  private val StreamNdLatenessSec = 7200L // whole fixture inside the horizon
  // streaming contamination fixture: train docs with doc_id ≤ this
  // stream against the full static eval index
  private val StreamCtMaxDoc = 500L
  // streaming fuzzy-link fixture: dirty keys of the first StreamFzMaxDoc
  // docs stream against the static clean-corpus chunk index
  private val StreamFzMaxDoc = 150L
  // streaming ANN serving window: all fixture probes (ts = T0 + id)
  // land in one tumbling window; results emit on window close
  private val StreamAnnWindowSec = 3600L
  // streaming frame-dedup fixture: media items with media_id ≤ this
  // stream in event-time order
  private val StreamFdMaxMedia = 400L
  private val LshPlanes = 4
  // fixture embedding dimension; PQ's m/subDim and the LSH plane tables
  // assume it. TestdataCanarySpec pins size(embedding) == EmbDim so a
  // driver regeneration with a new dim fails loudly at the canary, not
  // as a PQ runtime error mid-gate.
  val EmbDim = 64
  private val IvfCentroids = 16
  private val IvfProbe = 4
  private val IvfIters = 2         // Lloyd's rounds refining the seeds
  // Lloyd's trains on the 1-in-2 hash-sample (the 100 TB shape: rounds
  // cost sample×C, the full corpus is scanned once at assignment);
  // deterministic h60 rule so DuckDB reproduces the same centroids
  private val IvfSampleMod = 2
  private val EmbedPlanes = 6      // 64 buckets — scale dial for dedup
  private val EmbedMinCos = 0.4    // fixtures are random vectors (max ~0.51)
  private val SemMaxList = 500     // per-cluster pairwise cap for semdedup
  private val NShards = 8          // training-order shuffle shards
  private val VocabTopN = 100
  private val BpeTopK = 20
  private val BpeEncodeWords = 500 // llm_bpe_encode: top word types encoded
  // iterated multi-level learning rounds (llm_bpe_learn): each round is
  // one (vocab-sized pair count → 1-row collect → re-encode) step, and
  // the oracle UNROLLS the loop into this many CTE blocks — a bounded
  // literal like Lloyd's IvfIters, not a convergence knob
  private val BpeLearnRounds = 12
  private val PmiTopK = 30
  private val PmiMinCount = 3L
  // demo blocklist: real tokens of the synthetic fixture (non-vacuous)
  // "don't" is deliberate: an apostrophe term keeps the oracle's
  // single-quote escaping exercised by the real Verify/DuckDB gate
  private val Blocklist = Seq("slow", "broken", "invalid", "don't")
  private val ChunkLen = 64        // context-window chunking geometry
  private val ChunkOverlap = 16
  private val SegWords = 10        // C4-style segment-dedup block size
  private val SpanLen = 60         // repeated-span detection window width
  private val SpanAnchorMod = 16   // content-defined anchor density (1/16)
  private val BloomGramN = 8       // Bloom incremental pass gram width
  private val PqM = 8              // PQ subspaces (64 dims -> 8x8)
  private val PqCodes = 16         // PQ codebook entries per subspace
  private val PqRerankR = 50       // ADC shortlist width for exact re-rank
  // streaming index append split: vec_id % Mod == Rem rows "arrive" on
  // the ingest stream; the rest are the base corpus the frozen
  // centroids/codebook were trained on
  private val StreamApdMod = 5
  private val StreamApdRem = 3L
  private val BaseRestrict = s"vec_id % $StreamApdMod <> $StreamApdRem"
  // stratified-sample demo rates over the fixture's langs
  private val StratRates = Map("en" -> 0.5, "fr" -> 1.0, "zh" -> 0.1)
  private val StratDefault = 0.25

  // llm_domains / llm_boilerplate input derivation: the synthetic corpus
  // carries no in-text URLs and (at the sf0.01 gate) no cross-doc
  // sentences, so both queries used to hash-match empty result sets —
  // which proves nothing about the extract → rank / shared-sentence
  // paths. Each query now appends deterministic doc_id-derived content
  // to `text`, expressed identically in the Spark plan and the DuckDB
  // oracle, so the cross-engine gate compares real rows at every SF.
  private val CiteSql =
    "text || ' https://mirror' || CAST(doc_id % 7 AS VARCHAR) ||" +
    " '.example.org/d/' || CAST(doc_id AS VARCHAR) ||" +
    " ' http://cdn' || CAST(doc_id % 3 AS VARCHAR) || '.example.net/a'"
  private def withCitations(docs: DataFrame): DataFrame =
    docs.withColumn("text", concat($"text",
      lit(" https://mirror"), ($"doc_id" % 7).cast("string"),
      lit(".example.org/d/"), $"doc_id".cast("string"),
      lit(" http://cdn"), ($"doc_id" % 3).cast("string"),
      lit(".example.net/a")))
  private val FooterSql =
    "text || '. standard licensing footer variant ' ||" +
    " CAST(doc_id % 5 AS VARCHAR) || ' redistribution requires attribution'"
  private def withFooter(docs: DataFrame): DataFrame =
    docs.withColumn("text", concat($"text",
      lit(". standard licensing footer variant "),
      ($"doc_id" % 5).cast("string"),
      lit(" redistribution requires attribution")))

  /** The curation funnel shared by llm_curate / llm_pipeline: quality
    * floor → exact-dedup keepers → near-dup cluster keepers → train
    * split. s1/s2 each feed multiple consumers (stage counts + the next
    * stage's input) — pinned so the quality/dedup joins run once. */
  private def funnel(all: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val qualityPass = TextAnalysisOps.qualityScore(all, $"doc_id", $"text")
      .filter($"quality" >= 0.1).select($"doc_id")
    val s1 = Pins.pin(all.join(qualityPass, "doc_id"))
    val exactKeepers = DedupOps.exactDedup(s1, $"doc_id", $"text")
      .select($"keeper_doc_id".as("doc_id"))
    val s2 = Pins.pin(s1.join(exactKeepers, "doc_id"))
    val nonKeepers = DedupOps.dupClusters(
        DedupOps.minHashDedup(s2, $"doc_id", $"text", MinJaccard))
      .filter(!$"is_keeper").select($"doc_id")
    val s3 = s2.join(nonKeepers, Seq("doc_id"), "left_anti")
    val s4 = TextAnalysisOps.withSplit(s3, $"doc_id")
      .filter($"split" === "train")
    (s1, s2, s3, s4)
  }

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // per-(lang, source) corpus stats
    "llm_text_stats" -> ((s, d) =>
      TextAnalysisOps.textStats(docs(s, d), $"lang", $"source", $"n_chars", $"text")
        .orderBy("lang", "source")),

    // per-lang equi-width length histogram (corpus profiling: where do
    // the length-filter knees sit, per stratum)
    "llm_len_hist" -> ((s, d) =>
      TextAnalysisOps.lengthHistogram(docs(s, d), $"lang", $"n_chars",
          binWidth = 100L)
        .orderBy("stratum", "bin")),

    // equi-depth length deciles per language (NTILE feature binning
    // through the two-phase range-partition rank — no stratum-sized
    // window task)
    "llm_len_deciles" -> ((s, d) =>
      TextAnalysisOps.quantileBins(docs(s, d), $"lang", $"n_chars",
          $"doc_id", k = 10)
        .orderBy("stratum", "bin")),

    // per-doc token counting: whitespace + regex lexer
    "llm_token_counts" -> ((s, d) =>
      TextAnalysisOps.tokenCounts(docs(s, d), $"doc_id", $"text")
        .orderBy("doc_id")),

    // per-doc quality features + combined score
    "llm_quality" -> ((s, d) =>
      TextAnalysisOps.qualityScore(docs(s, d), $"doc_id", $"text")
        .orderBy("doc_id")),

    // exact dedup: md5 of normalized text, keeper = min doc_id
    "llm_exact_dedup" -> ((s, d) =>
      DedupOps.exactDedup(docs(s, d), $"doc_id", $"text")
        .orderBy("text_hash")),

    // MinHash signatures = constant-size document fingerprints
    // (array-form input: the whole query is exchange-free up to the sort)
    "llm_minhash_sig" -> ((s, d) =>
      DedupOps.minHashSignatures(
          DedupOps.shingleHashArrays(docs(s, d), $"doc_id", $"text"))
        .orderBy("doc_id")),

    // MinHash+LSH near-dup pairs (banded bucket join, capped; no all-pairs)
    "llm_minhash_dedup" -> ((s, d) =>
      DedupOps.minHashDedup(docs(s, d), $"doc_id", $"text", MinJaccard)
        .orderBy("doc_a", "doc_b")),

    // streaming MinHash-LSH near-dup: the first 300 docs arrive as a
    // real Structured Streaming feed (in event-time order); stateful
    // band-cell first-holder state flags later docs colliding with an
    // earlier holder's cell. Per-doc verdict: hit-band count, dup flag,
    // and the minimum colliding holder — oracle = the closed form
    // "holder of a cell is its min doc_id" over the same band pipeline
    "llm_stream_neardup" -> ((s, d) => streamNearDedupVerdicts(s, d)),

    // the persisted dedup-index table (per-doc shingle set + band keys,
    // what incremental nightly runs read instead of re-hashing the
    // corpus): stats + band-0 key, proving the index build oracle-exact
    "llm_dedup_index" -> ((s, d) =>
      DedupOps.buildDedupIndex(docs(s, d), $"doc_id", $"text")
        .select($"doc_id", size($"hs").cast("long").as("n_shingles"),
          size($"bands").cast("long").as("n_bands"),
          expr("bands[0].bkey").cast("long").as("b0_key"))
        .orderBy("doc_id")),

    // deterministic stratified train/val/test split: per-(lang, split)
    // corpus accounting — the split is a pure hash of the doc id, so
    // growing the corpus never moves an old doc across splits
    "llm_split" -> ((s, d) =>
      TextAnalysisOps.withSplit(docs(s, d), $"doc_id")
        .groupBy($"lang", $"split")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
        .orderBy("lang", "split")),

    // per-doc top-3 salient terms by deterministic integer tf-idf
    "llm_tfidf" -> ((s, d) =>
      TextAnalysisOps.tfIdfTopTerms(docs(s, d), $"doc_id", $"text")
        .orderBy("doc_id", "rk")),

    // end-to-end curation funnel: quality filter -> exact dedup keepers
    // -> near-dup cluster keepers -> train split, with per-stage
    // survivor counts (the whole pipeline composed in one plan)
    "llm_curate" -> ((s, d) => {
      val all = docs(s, d)
      val (s1, s2, s3, s4) = funnel(all)
      Seq("0_total" -> all, "1_quality" -> s1, "2_exact" -> s2,
        "3_near_dup" -> s3, "4_train" -> s4)
        .map { case (nm, df) =>
          df.agg(count(lit(1)).as("n_docs")).select(lit(nm).as("stage"), $"n_docs")
        }.reduce(_ unionByName _)
        .orderBy("stage")
    }),

    // end-to-end materialization: curated train keepers -> per-source
    // mix quotas -> packed 2048-token sequences; output = the per-shard
    // layout a dataloader would read (the whole library composed into
    // the one plan a training run actually executes)
    "llm_pipeline" -> ((s, d) => {
      val (_, _, _, s4) = funnel(docs(s, d))
      val picked = TextAnalysisOps.mixSample(Pins.pin(s4), $"doc_id",
          $"source", Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25),
          defaultWeight = 0.1)
        .select($"doc_id")
      val corpus = s4.join(picked, "doc_id")
      TextAnalysisOps.packSequences(corpus, $"doc_id", $"text",
          budget = 2048L, shards = 8)
        .groupBy($"shard")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("sum_tokens"))
        // n_seqs = ceil(tokens/budget): the tail of the last doc still
        // fills sequences past the one it starts in
        .select($"shard", $"n_docs", $"sum_tokens",
          expr("(sum_tokens + 2047) DIV 2048").as("n_seqs"))
        .orderBy("shard")
    }),

    // asymmetric containment pairs: catches a doc embedded in a larger
    // host, which symmetric Jaccard under-scores
    "llm_containment" -> ((s, d) =>
      DedupOps.containmentPairs(docs(s, d), $"doc_id", $"text",
          MinContainment, CapBucket, ContainSampleMod)
        .orderBy("doc_a", "doc_b")),

    // incremental dedup: the new batch (hash split >= 80) against the
    // already-indexed corpus — batch-sized join cost, full-run parity
    "llm_incr_dedup" -> ((s, d) => {
      val all = TextAnalysisOps.withSplit(docs(s, d), $"doc_id")
      DedupOps.incrementalDedup(
          all.filter($"split" === "train"), all.filter($"split" =!= "train"),
          $"doc_id", $"text", MinJaccard)
        .orderBy("doc_a", "doc_b")
    }),

    // deterministic data mixing: per-source fractional quotas by hash rank
    "llm_mix" -> ((s, d) =>
      TextAnalysisOps.mixSample(docs(s, d), $"doc_id", $"source",
          Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25),
          defaultWeight = 0.1)
        .orderBy("source", "doc_id")),

    // PII scrubbing pass: URL/email/IPv4 counts + redacted-text hash
    "llm_redact" -> ((s, d) =>
      TextAnalysisOps.piiRedact(docs(s, d), $"doc_id", $"text")
        .orderBy("doc_id")),

    // concat-then-chunk sequence packing: per-shard prefix sum places
    // every doc at (start_seq, start_offset) in 2048-token sequences
    "llm_pack" -> ((s, d) =>
      TextAnalysisOps.packSequences(docs(s, d), $"doc_id", $"text",
          budget = 2048L, shards = 8)
        .orderBy("doc_id")),

    // transitive closure of the near-dup pairs: min-label connected
    // components turn pairwise matches into per-doc keeper assignments
    "llm_dup_clusters" -> ((s, d) =>
      DedupOps.dupClusters(
          DedupOps.minHashDedup(docs(s, d), $"doc_id", $"text", MinJaccard))
        .orderBy("doc_id")),

    // per-source dedup report: how much of each source is duplicated,
    // and how much a drop-non-keepers pass would remove
    "llm_dup_rate" -> ((s, d) => {
      val cl = DedupOps.dupClusters(
        DedupOps.minHashDedup(docs(s, d), $"doc_id", $"text", MinJaccard))
      docs(s, d).join(cl, Seq("doc_id"), "left")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          count($"cluster_id").as("n_in_pairs"),
          count(when($"is_keeper" === false, 1)).as("n_dropped"))
        .orderBy("source")
    }),

    // corpus clustering for topic balance: Lloyd's-trained coarse
    // centroids, per-cluster membership counts
    "llm_cluster_sizes" -> ((s, d) =>
      VectorOps.clusterAssign(
          VectorOps.quantize(embs(s, d), $"vec_id", $"embedding"),
          IvfCentroids, IvfIters, IvfSampleMod)
        .groupBy($"list_id").agg(count(lit(1)).as("n_vecs"))
        .orderBy("list_id")),

    // eval-set contamination: n-gram overlap between the train+val
    // portion and the held-out test split (decontamination pass)
    "llm_contamination" -> ((s, d) => {
      val sp = TextAnalysisOps.withSplit(docs(s, d), $"doc_id")
      DedupOps.contamination(
          sp.filter($"split" =!= "test"), sp.filter($"split" === "test"),
          $"doc_id", $"text", minJaccard = 0.5)
        .orderBy("train_id", "eval_id")
    }),

    // streaming contamination screening: train docs arrive as a real
    // stream and probe the STATIC broadcast eval index (stream-static
    // enrich join, stateless; the only state is one row per flagged
    // pair). Oracle = the uncapped closed form of the same b5/g3 rule.
    "llm_stream_contamination" -> ((s, d) => streamContaminationFlags(s, d)),

    // streaming fuzzy linkage: new keys arrive as a real stream and link
    // against the STATIC persisted chunk index (stream-static probe join,
    // stateless; the only state is one row per emitted pair). Oracle =
    // the brute-force closed form over the same bounded batch.
    "llm_stream_fuzzy" -> ((s, d) => streamFuzzyLinks(s, d)),

    // SimHash near-dup pairs (byte-banded bucket join, Hamming ≤ 2)
    "llm_simhash_pairs" -> ((s, d) =>
      DedupOps.simHashPairs(
          DedupOps.simHash(docs(s, d), $"doc_id", $"text"), MaxHamming.toInt)
        .orderBy("doc_a", "doc_b")),

    // word-n-gram Jaccard near-dup (5-gram buckets, 3-gram similarity)
    "llm_ngram_jaccard" -> ((s, d) =>
      DedupOps.ngramJaccard(docs(s, d), $"doc_id", $"text", NgramMinJaccard)
        .orderBy("doc_a", "doc_b")),

    // brute-force cosine top-k for a broadcast probe set (k·N, single scan)
    "llm_ann_topk" -> ((s, d) => {
      val q = VectorOps.quantize(embs(s, d), $"vec_id", $"embedding")
      VectorOps.bruteKnn(q, q.filter($"vec_id" < AnnProbeMax), AnnK)
        .orderBy("probe_id", "rk")
    }),

    // metadata-filtered exact top-k: each probe ranks only same-label
    // vectors (the "vector search with a WHERE clause" serving shape;
    // PRE-filter semantics — the constraint lands in the join, so top-k
    // is exact within the filtered set)
    "llm_ann_filtered" -> ((s, d) => {
      val e = embs(s, d)
      // the labeled quantized corpus is the serving table (vector + its
      // filter key); pin it so the per-action cost is the probe join,
      // not a corpus-sized label re-join (serving-mouth discipline)
      val q = Pins.pin(VectorOps.quantize(e, $"vec_id", $"embedding")
        .join(e.select($"vec_id", $"label".cast("long").as("grp")), "vec_id"))
      VectorOps.filteredKnn(q, q.filter($"vec_id" < AnnProbeMax), AnnK)
        .orderBy("probe_id", "rk")
    }),

    // LSH-bucketed approximate top-k (hyperplane-sign equality join)
    "llm_ann_lsh" -> ((s, d) => {
      val q = VectorOps.quantize(embs(s, d), $"vec_id", $"embedding")
      VectorOps.lshKnn(q, _ < AnnProbeMax, AnnK, LshPlanes, EmbDim,
          probeRadius = 2)
        .orderBy("probe_id", "rk")
    }),

    // streaming ANN serving: the probe embeddings arrive as a real
    // stream, probe the static bucketed corpus index, and emit top-k on
    // window close — gates against the SAME oracle as llm_ann_lsh (the
    // streaming path answers the identical serving contract)
    "llm_stream_ann" -> ((s, d) => streamAnnResults(s, d)),

    // streaming INDEX APPEND (ingest side of the ANN serving family):
    // arriving vectors IVF-assigned against the frozen base-trained
    // centroids at ingest; serving over base ∪ appended == the oracle's
    // whole-corpus rebuild, pair-for-pair
    "llm_stream_ann_append" -> ((s, d) => streamAnnAppendResults(s, d)),

    // PQ twin: arriving vectors encoded against the frozen codebook at
    // ingest; ADC serving over base codes ∪ appended codes
    "llm_stream_pq_append" -> ((s, d) => streamPqAppendResults(s, d)),

    // IVF-style approximate top-k (inverted lists from a Lloyd's-trained
    // deterministic coarse quantizer; probes search their nProbe nearest
    // lists)
    "llm_ann_ivf" -> ((s, d) => {
      val q = VectorOps.quantize(embs(s, d), $"vec_id", $"embedding")
      VectorOps.ivfKnn(q, _ < AnnProbeMax, AnnK, IvfCentroids, IvfProbe,
          IvfIters, IvfSampleMod)
        .orderBy("probe_id", "rk")
    }),

    // SemDedup-style semantic dedup: coarse k-means clusters, exact
    // cosine within capped clusters only, greedy keep-lowest-id
    "llm_semdedup" -> ((s, d) =>
      VectorOps.semDedup(
          VectorOps.quantize(embs(s, d), $"vec_id", $"embedding"),
          EmbedMinCos, IvfCentroids, IvfIters, SemMaxList, IvfSampleMod)
        .orderBy("vec_id")),

    // deterministic global shuffle + shard assignment (training order)
    "llm_shuffle" -> ((s, d) =>
      TextAnalysisOps.shardShuffle(docs(s, d), $"doc_id", NShards)
        .orderBy("doc_id")),

    // corpus vocabulary: top-N tokens with cumulative coverage
    "llm_vocab" -> ((s, d) =>
      TextAnalysisOps.vocabulary(docs(s, d), $"doc_id", $"text", VocabTopN)),

    // BPE merge-candidate counting (adjacent char pairs over word types)
    "llm_bpe_pairs" -> ((s, d) =>
      TextAnalysisOps.bpePairCounts(docs(s, d), $"doc_id", $"text", BpeTopK)),

    // BPE ENCODE: apply the learned merges table to the top word types —
    // the curation → materialization step before a dataloader. One
    // in-rank-order codegen'd replace chain per word type (exactly the
    // GPT-2 min-rank fixpoint for a single-level merges table)
    "llm_bpe_encode" -> ((s, d) =>
      TextAnalysisOps.bpeEncode(docs(s, d), $"doc_id", $"text",
          BpeTopK, BpeEncodeWords)
        .orderBy("rk")),

    // corpus-level BPE token accounting: every word TYPE encoded once,
    // per-doc counts by one word-stream join — whitespace vs BPE token
    // counts per doc, the numbers a packing/mixture policy budgets with
    "llm_bpe_tokens" -> ((s, d) =>
      TextAnalysisOps.bpeTokenCounts(docs(s, d), $"doc_id", $"text",
          BpeTopK)
        .orderBy("doc_id")),

    // TRUE iterated multi-level BPE merge learning: each round counts
    // adjacent TOKEN-pair frequencies over the current encoding of the
    // word types, collects the single top merge, and re-encodes before
    // the next count — so merge i+1 can pair merged tokens (th+e →
    // the), which the one-shot llm_bpe_pairs ranking cannot learn
    "llm_bpe_learn" -> ((s, d) =>
      TextAnalysisOps.bpeLearn(docs(s, d), $"doc_id", $"text",
          BpeLearnRounds)
        .orderBy("rk")),

    // the learned multi-level merges table chain-applied back to the
    // word types (applyMerges — what a dataloader holding a persisted
    // merges table runs), top word types by count
    "llm_bpe_learn_enc" -> ((s, d) =>
      TextAnalysisOps.bpeLearnEncode(docs(s, d), $"doc_id", $"text",
          BpeLearnRounds, BpeEncodeWords)
        .orderBy("rk")),

    // corpus token accounting under the LEARNED multi-level table —
    // llm_bpe_tokens' budgeting view with true iterated BPE
    "llm_bpe_learn_tokens" -> ((s, d) =>
      TextAnalysisOps.bpeTokenCountsLearned(docs(s, d), $"doc_id",
          $"text", BpeLearnRounds)
        .orderBy("doc_id")),

    // theta-sketch distinct-token estimate per lang (bounded-memory
    // mergeable cardinality; deterministic md5 threshold, so the
    // estimate itself — not just its accuracy — is oracle-exact)
    "llm_theta_distinct" -> ((s, d) => {
      val toks = docs(s, d)
        .select($"lang", DedupOps.normText($"text").as("norm"))
        .select($"lang", explode(split($"norm", " ")).as("tok"))
        .filter(length($"tok") > 0)
      SketchOps.thetaDistinct(toks, $"lang", $"tok", logInvFrac = 4)
        .select($"grp".as("lang"), $"n_kept", $"est_distinct")
        .orderBy("lang")
    }),

    // HyperLogLog distinct-token estimate per lang — theta's fixed-size
    // sibling: the state is ≤ 2^HllB register rows per group no matter
    // the cardinality (theta state grows with it), merged by max. The
    // register math is pure md5 integer arithmetic and the readout one
    // double division + round, so the ESTIMATE is oracle-exact too
    "llm_hll_distinct" -> ((s, d) => {
      val toks = docs(s, d)
        .select($"lang", DedupOps.normText($"text").as("norm"))
        .select($"lang", explode(split($"norm", " ")).as("tok"))
        .filter(length($"tok") > 0)
      SketchOps.hllDistinct(toks, $"lang", $"tok", b = HllB)
        .select($"grp".as("lang"), $"n_regs", $"est_distinct")
        .orderBy("lang")
    }),

    // mergeable quantile sketch (theta's order-statistics sibling): a
    // deterministic 1/4 hash-space row-sample of per-language doc
    // lengths, exact type-1 quantiles over the bounded survivor set
    "llm_quantile_sketch" -> ((s, d) =>
      SketchOps.quantileSketch(docs(s, d), $"lang", $"doc_id",
          $"n_chars", Seq(25, 50, 75, 90), logInvFrac = 2)
        .select($"grp".as("lang"), $"n_kept",
          $"p25", $"p50", $"p75", $"p90")
        .orderBy("lang")),

    // edit-distance record linkage: the PassJoin-pigeonhole similarity
    // join links a deterministically corrupted (md5-seeded delete +
    // substitute — the classic linkage benchmark construction, since
    // the synthetic corpus has no natural typos) copy of every doc
    // prefix back to the clean corpus at Levenshtein ≤ FuzzyK, without
    // an all-pairs stage; the oracle IS the brute-force all-pairs join.
    // Oracle scope: ASCII keys (this corpus is) — DuckDB's levenshtein
    // counts bytes where Spark counts codepoints; the engine's
    // codepoint semantics are pinned non-ASCII in FuzzyJoinOpsSpec
    "llm_fuzzy_join" -> ((s, d) => {
      val (base, dirty) = fuzzyCorpus(s, d)
      FuzzyJoinOps.editDistanceJoin(base, $"doc_id", $"k",
          dirty, $"did", $"dk", FuzzyK)
        .select($"left_id".as("doc_id"), $"right_id".as("did"), $"dist")
        .orderBy("doc_id", "did")
    }),

    // incremental fuzzy linkage — the serving form of the edit-distance
    // join: the clean corpus exists only as its CHUNK INDEX
    // (buildChunkIndex; persisted-parquet round-trip pinned by
    // FuzzyJoinOpsSpec) and a bounded NEW batch of dirty keys probes it
    // via fuzzyJoinWithIndex. Index-side-only sub-bucket sizing makes
    // this equal the full llm_fuzzy_join restricted to the batch pair
    // for pair (the llm_incr_dedup parity contract); the id bound keeps
    // the brute-force oracle O(|clean|) in SF instead of quadratic
    "llm_fuzzy_incr" -> ((s, d) => {
      val (base, dirty) = fuzzyCorpus(s, d)
      val batch = dirty.filter($"did" < 1000000L + FuzzyIncrMax)
      FuzzyJoinOps.fuzzyJoinWithIndex(
          FuzzyJoinOps.buildChunkIndex(base, $"doc_id", $"k", FuzzyK),
          batch, $"did", $"dk", FuzzyK)
        .select($"right_id".as("doc_id"), $"left_id".as("did"), $"dist")
        .orderBy("doc_id", "did")
    }),

    // the self-join (fuzzy DEDUP) form of the edit-distance join:
    // unordered pairs a < b over the clean ∪ corrupted union. The
    // probe set is id-bounded (doc_id < FuzzyPairMax) so the
    // brute-force oracle stays O(1) in scale factor — the pairs form's
    // SCALE story is ScaleProbe's 1×/4×/16× census (output-bounded,
    // sub-linear in corpus), this gate is its correctness anchor
    "llm_fuzzy_dedup" -> ((s, d) => {
      val base = docs(s, d)
        .filter($"n_chars" >= FuzzyPrefix && $"doc_id" < FuzzyPairMax)
        .select($"doc_id", substring($"text", 1, FuzzyPrefix).as("k"))
      def h(salt: String) =
        DetHash.h60(concat(lit(salt), $"doc_id".cast("string")))
      val e = h("fz:") % 3
      val p1 = (h("fzp1:") % 40 + 4).cast("int")
      val p2 = (h("fzp2:") % 38 + 2).cast("int")
      val k1 = when(e >= 1, concat($"k".substr(lit(1), p1 - 1),
        $"k".substr(p1 + 1, lit(FuzzyPrefix)))).otherwise($"k")
      val dirty = base.select(($"doc_id" + 1000000L).as("doc_id"),
        when(e === 2, concat(k1.substr(lit(1), p2 - 1), lit("#"),
          k1.substr(p2 + 1, lit(FuzzyPrefix)))).otherwise(k1).as("k"))
      FuzzyJoinOps.editDistancePairs(base.unionByName(dirty),
          $"doc_id", $"k", FuzzyK)
        .orderBy("doc_a", "doc_b")
    }),

    // TextRank keyword extraction: integer-scaled PageRank power
    // iteration (3 steps, damping 0.85) over the undirected bigram
    // graph — BSP joins over vocab-sized tables
    "llm_textrank" -> ((s, d) =>
      TextAnalysisOps.textRank(docs(s, d), $"doc_id", $"text",
          PmiTopK, PmiMinCount)),

    // collocation mining: adjacent word pairs with exact-integer
    // association lift (PMI sans the engine-dependent log)
    "llm_pmi" -> ((s, d) =>
      TextAnalysisOps.collocations(docs(s, d), $"doc_id", $"text",
          PmiTopK, PmiMinCount)),

    // deterministic quality-weighted downsampling (hash-threshold)
    "llm_qsample" -> ((s, d) =>
      TextAnalysisOps.qualitySample(docs(s, d), $"doc_id", $"text")
        .orderBy("doc_id")),

    // temperature-balanced mixture (tau = 1/2): per-language keep rates
    // derived from the stratum census, smallest language kept whole
    "llm_temp_mix" -> ((s, d) =>
      TextAnalysisOps.temperatureMix(docs(s, d), $"doc_id", $"lang")
        .orderBy("stratum", "doc_id")),

    // per-language exact top-20% by quality: rank-threshold curation
    // through the two-phase range-partition prefix (no single-stratum
    // window task however skewed the language mix)
    "llm_quality_topp" -> ((s, d) =>
      TextAnalysisOps.qualityTopP(docs(s, d), $"doc_id", $"lang", $"text",
          keepPct = 20)
        .orderBy("stratum", "rk")),

    // per-domain citation stats from in-text URLs (domain filter input);
    // runs over the doc_id-derived citation footer (see [[CiteSql]]) so
    // the gate compares non-empty rows
    "llm_domains" -> ((s, d) =>
      TextAnalysisOps.domainStats(withCitations(docs(s, d)), $"doc_id", $"text")),

    // token-blocklist safety filter: docs containing a listed token
    "llm_blocklist" -> ((s, d) =>
      TextAnalysisOps.blocklistFilter(docs(s, d), $"doc_id", $"text",
          Blocklist)
        .orderBy("doc_id")),

    // corpus-wide kNN graph: every vector's approximate top-k neighbors
    // from multi-probe LSH buckets (the graph-curation input; capped,
    // no all-pairs)
    "llm_knn_graph" -> ((s, d) =>
      VectorOps.knnGraph(
          VectorOps.quantize(embs(s, d), $"vec_id", $"embedding"),
          AnnK, EmbedPlanes, EmbDim, maxBucket = 500)
        .orderBy("vec_id", "rk")),

    // embedding-cosine near-dup pairs (LSH buckets, capped, no all-pairs)
    "llm_embed_dedup" -> ((s, d) =>
      VectorOps.cosineDedup(
          VectorOps.quantize(embs(s, d), $"vec_id", $"embedding"),
          EmbedMinCos, EmbedPlanes, EmbDim, maxBucket = 500)
        .orderBy("vec_a", "vec_b")),

    // constant-size per-doc fingerprint (4 MinHash minima; exchange-free)
    "llm_fingerprint" -> ((s, d) =>
      TextAnalysisOps.fingerprint(docs(s, d), $"doc_id", $"text")
        .orderBy("doc_id")),

    // per-label mean embedding (class centroids), exact-integer sums
    "llm_label_centroids" -> ((s, d) =>
      VectorOps.labelCentroids(embs(s, d), $"label", $"embedding")),

    // cross-doc boilerplate sentences (CCNet-style shared-sentence pass);
    // runs over the doc_id-derived footer sentence (see [[FooterSql]]) so
    // shared sentences exist at every SF, not only where the fixture
    // happens to carry duplicate docs
    "llm_boilerplate" -> ((s, d) =>
      TextAnalysisOps.boilerplate(withFooter(docs(s, d)), $"doc_id", $"text",
          minDocs = 2)
        .orderBy("sent_h31")),

    // intra-doc 3-gram repetition ratio (Gopher-style quality rule)
    "llm_repetition" -> ((s, d) =>
      TextAnalysisOps.repetition(docs(s, d), $"doc_id", $"text")
        .orderBy("doc_id")),

    // count-weighted character-trigram language ID
    "llm_lang_id" -> ((s, d) =>
      TextAnalysisOps.langId(docs(s, d), $"doc_id", $"text", $"lang")
        .orderBy("doc_id")),

    // multimodal: opaque binary payload + typed metadata; declarative
    // byte-level stats (size, content hash, head bytes, frame count) stay
    // in codegen — the batched decode-stub path is covered by unit tests
    "llm_binary_features" -> ((s, d) =>
      MultimodalOps.binaryStats(MultimodalOps.mediaFromDocs(docs(s, d)))
        .orderBy("media_id")),

    // multimodal frame sampling: every 2nd fixed-size byte slice of the
    // payload (keyframe / audio-window analog), content-hashed
    "llm_frames" -> ((s, d) =>
      MultimodalOps.sampleFrames(MultimodalOps.mediaFromDocs(docs(s, d)))
        .toDF()
        .select($"media_id", $"frame_idx".cast("long").as("frame_idx"),
          octet_length($"frame").cast("long").as("n_bytes"),
          // hex, not md5: DuckDB can neither slice nor hash BLOB
          // subranges, but a hex projection compares byte-exactly
          hex($"frame").as("frame_hex"))
        .orderBy("media_id", "frame_idx")),

    // multimodal resize: fixed-width box-filter thumbnail of each
    // payload, ONE fused codegen pass per payload (BinaryResize) —
    // the oracle's per-byte explode is the correctness reference
    // shape, not the plan
    "llm_resize" -> ((s, d) =>
      MultimodalOps.resizeThumbs(MultimodalOps.mediaFromDocs(docs(s, d)))
        .orderBy("media_id", "j")),

    // per-doc 8-gram novelty: fraction of a doc's distinct word grams
    // found in no other document (duplication-risk / freshness score)
    "llm_novelty" -> ((s, d) =>
      DedupOps.ngramNovelty(docs(s, d), $"doc_id", $"text", BloomGramN)
        .orderBy("doc_id")),

    // cross-media frame dedup: sampled frames whose exact bytes appear
    // in >= 2 distinct media (keyframe-overlap near-dup signal);
    // declarative slicing — dedup needs only frame hashes, so the typed
    // MediaFrame materialization would be paid for nothing
    "llm_frame_dedup" -> ((s, d) =>
      MultimodalOps.frameDedup(MultimodalOps.mediaFromDocs(docs(s, d)))
        .orderBy("frame_h")),

    // streaming frame dedup: media items arrive as a real stream;
    // frame-hash first-holder state flags re-cut/copied frame content
    // at ingest. Per-media verdict vs the closed form "holder of a
    // frame cell is its min media_id"
    "llm_stream_frame_dedup" -> ((s, d) => streamFrameDupVerdicts(s, d)),

    // context-window chunking: fixed-length char windows with overlap
    // (RAG/embedding prep) — one spread exchange (chunkWindows
    // repartitions by doc_id for file-layout-independent parallelism)
    // + narrow explode
    "llm_chunk" -> ((s, d) =>
      TextAnalysisOps.chunkWindows(docs(s, d), $"doc_id", $"text",
          ChunkLen, ChunkOverlap)
        .orderBy("doc_id", "chunk_idx")),

    // C4-style cross-doc segment dedup: drop every 10-word block shared
    // by ≥2 docs, report the per-doc reconstruction
    "llm_seg_dedup" -> ((s, d) =>
      TextAnalysisOps.segmentDedup(docs(s, d), $"doc_id", $"text",
          SegWords, minDocs = 2)
        .orderBy("doc_id")),

    // repeated-substring spans across docs (exact-substring dedup
    // signal; winnowing-style content-defined window anchors)
    "llm_span_dedup" -> ((s, d) =>
      TextAnalysisOps.spanDedup(docs(s, d), $"doc_id", $"text",
          SpanLen, SpanAnchorMod, minDocs = 2)
        .orderBy("span_h60")),

    // bigram-LM quality scoring: model trained on the train split,
    // every doc scored by mean scaled conditional probability
    "llm_lm_score" -> ((s, d) =>
      TextAnalysisOps.lmScore(docs(s, d), $"doc_id", $"text")
        .orderBy("doc_id")),

    // Bloom-prefiltered incremental n-gram dedup: new-split docs whose
    // word-8-grams already appear in the old (train-split) corpus
    "llm_bloom_incr" -> ((s, d) => {
      val all = TextAnalysisOps.withSplit(docs(s, d), $"doc_id")
      DedupOps.bloomNgramFilter(
          all.filter($"split" === "train"), all.filter($"split" =!= "train"),
          $"doc_id", $"text", BloomGramN)
        .orderBy("doc_id")
    }),

    // product-quantization ANN: per-subspace codebook encode + ADC
    // lookup-table scoring (the codes-only memory-bound serving path)
    "llm_ann_pq" -> ((s, d) =>
      VectorOps.pqKnn(
          VectorOps.quantize(embs(s, d), $"vec_id", $"embedding"),
          _ < AnnProbeMax, AnnK, PqM, PqCodes)
        .orderBy("probe_id", "rk")),

    // two-stage PQ serving: ADC top-R shortlist from the codes table,
    // then exact integer-cosine re-rank of the bounded shortlist fetch
    // (recall recovery — the corpus scan stays codes-only)
    "llm_ann_pq_rr" -> ((s, d) =>
      VectorOps.pqKnnReranked(
          VectorOps.quantize(embs(s, d), $"vec_id", $"embedding"),
          _ < AnnProbeMax, AnnK, PqRerankR, PqM, PqCodes)
        .orderBy("probe_id", "rk")),

    // stratified per-language sampling: hash-threshold keep rates (the
    // exchange-free counterpart to llm_mix's exact quotas)
    "llm_stratified" -> ((s, d) =>
      TextAnalysisOps.stratifiedSample(docs(s, d), $"doc_id", $"lang",
          StratRates, StratDefault)
        .orderBy("stratum", "doc_id")),

    // DSIR-style importance: target-domain (en) bigram model vs the
    // corpus-wide model, score difference as the selection signal
    "llm_importance" -> ((s, d) =>
      TextAnalysisOps.importanceScore(docs(s, d), $"doc_id", $"text",
          $"lang" === "en")
        .orderBy("doc_id")))

  // ---- DuckDB oracles, built from the same DetHash literals ----

  private val Norm = DedupOps.normTextSql("text")
  // oracle twins of [[withCitations]] / [[withFooter]]: normalize the
  // same augmented text expression, so both engines see identical input
  private val NormCite = DedupOps.normTextSql(s"($CiteSql)")
  private val NormFooter = DedupOps.normTextSql(s"($FooterSql)")
  private def h31(e: String): String = DetHash.h31Sql(e)
  private val WsTok = s"length(norm) - length(replace(norm, ' ', '')) + 1"

  /** Unrolled learn-loop CTE chain shared by the llm_bpe_learn /
    * llm_bpe_learn_enc oracles: e0 is the char-split encoding of the
    * word types; round block i counts adjacent token pairs over e(i-1)
    * (p_i), takes the single top merge (m_i — count desc then (a, b),
    * the learner's total order), and re-encodes (e_i) with the same
    * left-to-right list_reduce fold as the engine's mergeOnce. SQL bans
    * aggregation in a recursive CTE's recursive term, so the loop is
    * UNROLLED — BpeLearnRounds is a bounded literal on both sides,
    * exactly the Lloyd's-iteration oracle pattern. */
  private def bpeLearnCtes: String = {
    val head = s"""
      WITH words AS (
        SELECT w, CAST(count(*) AS BIGINT) AS wn
        FROM (SELECT unnest(string_split($Norm, ' ')) AS w FROM documents)
        WHERE length(w) >= 2 GROUP BY 1),
      e0 AS (SELECT w, wn,
             trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS s FROM words)"""
    val blocks = (1 to BpeLearnRounds).map { i =>
      s"""
      p$i AS (
        SELECT ts[i] AS a, ts[i + 1] AS b, CAST(sum(wn) AS BIGINT) AS n
        FROM (SELECT wn, string_split(s, ' ') AS ts,
                     unnest(generate_series(1,
                       len(string_split(s, ' ')) - 1)) AS i
              FROM e${i - 1})
        GROUP BY 1, 2),
      m$i AS (SELECT a, b, n FROM p$i ORDER BY n DESC, a, b LIMIT 1),
      e$i AS (
        SELECT e.w, e.wn,
               list_reduce(string_split(e.s, ' '), (acc, t) ->
                 CASE WHEN regexp_extract(acc, '[^ ]+$$') = m.a
                       AND t = m.b
                 THEN substr(acc, 1, length(acc)
                        - length(regexp_extract(acc, '[^ ]+$$')))
                        || m.a || m.b
                 ELSE acc || ' ' || t END) AS s
        FROM e${i - 1} e, m$i m)"""
    }
    (head +: blocks).mkString(",")
  }

  /** doc → distinct 5-char-shingle h31 hashes (mirrors
    * DedupOps.shingleHashes); `src` is any relation yielding
    * (doc_id, norm) — the whole corpus by default, a curated subset in
    * the funnel oracle. */
  private def shingleCte(
      src: String = s"SELECT doc_id, $Norm AS norm FROM documents"): String = s"""
    sh AS (
      SELECT DISTINCT doc_id, ${h31("g")} AS h31
      FROM (SELECT doc_id, unnest(list_transform(
              generate_series(1, greatest(length(norm)-4, 1)),
              i -> substr(norm, i, 5))) AS g
            FROM ($src)))"""
  private val ShingleCte = shingleCte()

  /** MinHash signature CTE over `sh` (mirrors DedupOps.minHashSignatures). */
  private val SigCte = {
    val mins = (0 until DetHash.NumHashes)
      .map(i => s"min(${DetHash.permSql(i, "h31")}) AS m$i").mkString(", ")
    s"mh AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id)"
  }

  /** LSH band rows over `mh` (mirrors DedupOps.bandRows). */
  private val BandCte = {
    val rows = (0 until DetHash.NumBands).map { b =>
      val key = (1 until DetHash.RowsPerBand).foldLeft(s"m${b * DetHash.RowsPerBand}") {
        (acc, i) => s"($acc)*31 + m${b * DetHash.RowsPerBand + i}"
      }
      s"SELECT doc_id, $b AS band, $key AS bkey FROM mh"
    }.mkString(" UNION ALL ")
    s"bands AS ($rows)"
  }

  /** Candidate pairs from skew-split (band,bkey) buckets (mirrors
    * candidatePairs: over-cap buckets shatter into ceil(c/cap)
    * member-hash sub-buckets — the `ps:band:bkey:doc` hash string is the
    * cross-engine contract with DedupOps.withSubBucket). */
  private def candCte(maxBucket: Int): String = s"""
    ccnt AS MATERIALIZED (SELECT band, bkey,
                    CAST((count(*) + ${maxBucket - 1}) // $maxBucket
                      AS BIGINT) AS nsub
             FROM bands GROUP BY 1, 2 HAVING count(*) >= 2),
    -- MATERIALIZED: csub is self-joined below; without the hint DuckDB
    -- inlines it twice and re-evaluates the whole upstream signature
    -- pipeline per side (measured 265 s vs 1.9 s on minhash at sf0.1)
    csub AS MATERIALIZED (SELECT s.doc_id, s.band, s.bkey,
                    ${graft.functions.DetHash.h60Sql(
                      "'ps:' || CAST(s.band AS VARCHAR) || ':' || " +
                      "CAST(s.bkey AS VARCHAR) || ':' || " +
                      "CAST(s.doc_id AS VARCHAR)")} % c.nsub AS sub
             FROM bands s JOIN ccnt c USING (band, bkey)),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM csub a JOIN csub b
        ON b.band = a.band AND b.bkey = a.bkey AND b.sub = a.sub
       AND a.doc_id < b.doc_id)"""

  /** Exact Jaccard over candidates vs a (doc_id, h31) set table `sh`. */
  private val JaccardSelect = s"""
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
    inter AS (
      SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_common
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.h31 = a.h31
      GROUP BY 1, 2),
    jac AS (
      SELECT doc_a, doc_b, n_common,
             CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b)"""

  /** Quantized embeddings + exact integer squared norm (mirrors quantize). */
  private val QuantCte = s"""
    q AS (SELECT vec_id, list_transform(embedding,
            x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv
          FROM embeddings),
    qn AS (SELECT vec_id, qv,
            CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS nrm FROM q),
    u AS (SELECT vec_id, unnest(qv) AS v,
            unnest(generate_series(1, len(qv))) AS i FROM qn)"""

  // mirrors VectorOps.cosOf's zero-norm convention (similarity = 0.0;
  // unreachable on the driver data, where no embedding quantizes to a
  // zero vector — kept aligned so the two definitions cannot drift).
  // NULL embeddings never reach either side: quantize drops them at
  // the family mouth, and here they have no `unnest` rows, so the
  // CASE's ELSE never models a NULL input (cosOf propagates NULL).
  private val CosSql =
    "CASE WHEN pn > 0 AND nrm > 0 THEN CAST(dot AS DOUBLE) " +
      "/ sqrt(CAST(pn AS DOUBLE) * CAST(nrm AS DOUBLE)) ELSE 0.0 END"

  /** The LSH multi-probe top-k closed form — ONE oracle for both the
    * batch (`llm_ann_lsh`) and streaming (`llm_stream_ann`) serving
    * paths: the streaming form answers the identical contract (same
    * probe set, radius-2 multi-probe buckets, integer-quantized cosine,
    * (cos DESC, vec_id) rank), so hash-equality against one SQL is the
    * batch/stream parity proof. */
  private val AnnLshSql = {
    val signs = DetHash.lshSigns(LshPlanes, EmbDim)
    val signRows = (0 until LshPlanes)
      .map(p => s"($p, [${signs(p).mkString(",")}])").mkString(", ")
    val buckVal = s"CASE pl WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 WHEN 3 THEN 8 END"
    s"""
    WITH $QuantCte,
    signs AS (SELECT pl, unnest(ss) AS s, unnest(generate_series(1, $EmbDim)) AS i
              FROM (VALUES $signRows) t(pl, ss)),
    bdot AS (SELECT u.vec_id, signs.pl, CAST(sum(u.v * signs.s) AS BIGINT) AS d
             FROM u JOIN signs ON signs.i = u.i GROUP BY 1, 2),
    bucket AS (SELECT vec_id,
             CAST(sum(CASE WHEN d >= 0 THEN $buckVal ELSE 0 END) AS BIGINT) AS bucket
             FROM bdot GROUP BY 1),
    pbuckets AS ( -- multi-probe radius 2: own bucket + every Hamming-1
                  -- and Hamming-2 neighbour (two flipped sign bits)
      SELECT vec_id AS probe_id, unnest([bucket,
        ${(0 until LshPlanes).map(pl => s"xor(bucket, ${1L << pl})").mkString(", ")},
        ${(for { a <- 0 until LshPlanes; b <- a + 1 until LshPlanes }
            yield s"xor(bucket, ${(1L << a) | (1L << b)})").mkString(", ")}]) AS bucket
      FROM bucket WHERE vec_id < $AnnProbeMax),
    dots AS (
      SELECT pl.probe_id, pb.vec_id AS vec_id,
             CAST(sum(ua.v * ub.v) AS BIGINT) AS dot,
             any_value(pa.nrm) AS pn, any_value(pb.nrm) AS nrm
      FROM pbuckets pl
      JOIN bucket bb ON bb.bucket = pl.bucket
      JOIN qn pa ON pa.vec_id = pl.probe_id
      JOIN qn pb ON pb.vec_id = bb.vec_id AND pb.vec_id <> pl.probe_id
      JOIN u ua ON ua.vec_id = pl.probe_id
      JOIN u ub ON ub.vec_id = pb.vec_id AND ub.i = ua.i
      GROUP BY 1, 2),
    scored AS (
      SELECT probe_id, vec_id, $CosSql AS cos,
             CAST(row_number() OVER (PARTITION BY probe_id
               ORDER BY $CosSql DESC, vec_id) AS INTEGER) AS rk
      FROM dots)
    SELECT probe_id, vec_id, cos, rk FROM scored
    WHERE rk <= $AnnK ORDER BY probe_id, rk"""
  }

  /** PQ oracle CTE chain (codebook seed → encode → LUT → ADC ranking),
    * shared by llm_ann_pq (raw ADC top-k) and llm_ann_pq_rr (top-R
    * shortlist + exact re-rank). Ends at `ranked`. */
  private def pqCtes(seedRestrict: String = "TRUE"): String = {
    val subDim = EmbDim / PqM
    // `seedRestrict` narrows the CODEBOOK seed corpus only
    // (llm_stream_pq_append seeds from the base split; the encode CTEs
    // still cover every vector — the rebuild side of append == rebuild)
    s"""WITH $QuantCte,
      uu AS (SELECT vec_id, (i - 1) // $subDim AS sub,
                    (i - 1) % $subDim AS ii, v FROM u),
      seeds AS (SELECT vec_id,
                       row_number() OVER (ORDER BY vec_id) - 1 AS code
                FROM (SELECT DISTINCT vec_id FROM u
                      WHERE $seedRestrict
                      ORDER BY vec_id LIMIT $PqCodes)),
      cu AS (SELECT s.code, uu.sub, uu.ii, uu.v
             FROM uu JOIN seeds s USING (vec_id)),
      encd AS (
        SELECT uu.vec_id, uu.sub, cu.code,
               CAST(sum((uu.v - cu.v) * (uu.v - cu.v)) AS BIGINT) AS d2
        FROM uu JOIN cu ON cu.sub = uu.sub AND cu.ii = uu.ii
        GROUP BY 1, 2, 3),
      enc AS (SELECT vec_id, sub,
                     (min(struct_pack(d := d2, c := code))).c AS code
              FROM encd GROUP BY 1, 2),
      lut AS (
        SELECT uu.vec_id AS probe_id, cu.sub, cu.code,
               CAST(sum(uu.v * cu.v) AS BIGINT) AS t
        FROM uu JOIN cu ON cu.sub = uu.sub AND cu.ii = uu.ii
        WHERE uu.vec_id < $AnnProbeMax
        GROUP BY 1, 2, 3),
      scored AS (
        SELECT l.probe_id, e.vec_id, CAST(sum(l.t) AS BIGINT) AS approx_dot
        FROM enc e JOIN lut l ON l.sub = e.sub AND l.code = e.code
        WHERE e.vec_id <> l.probe_id
        GROUP BY 1, 2),
      ranked AS (
        SELECT probe_id, vec_id, approx_dot,
               CAST(row_number() OVER (PARTITION BY probe_id
                 ORDER BY approx_dot DESC, vec_id) AS INTEGER) AS rk
        FROM scored)"""
  }

  /** Unrolled Lloyd's iterations mirroring VectorOps.trainCentroids:
    * training runs on the deterministic hash-sample `h60("ivftrain:" ||
    * vec_id) % IvfSampleMod == 0` (`tru` — the same rule the Spark side
    * applies, so the centroids agree bit-for-bit); seeds = lowest-id
    * SAMPLE vectors (centu0); each round assigns every training vector
    * to its exact-integer-cosine argmax centroid (ties → higher cent_id)
    * and re-centers as the per-dimension floor mean; a centroid whose
    * list empties keeps its previous coordinates (the LEFT JOIN +
    * coalesce). Produces `centu<iters>` in unnested (cent_id, v, i)
    * form. */
  private def ivfTrainCtes(iters: Int, restrict: String = "TRUE"): String = {
    val sampleRule = DetHash.h60Sql("'ivftrain:' || CAST(vec_id AS VARCHAR)") +
      s" % $IvfSampleMod = 0"
    // `restrict` narrows the TRAINING corpus only (llm_stream_ann_append
    // trains the frozen quantizer on the base split; assignment still
    // covers every vector — the rebuild side of append == rebuild)
    val sb = new StringBuilder(s"""
      tru AS (SELECT * FROM u WHERE ($sampleRule) AND ($restrict)),
      centu0 AS (SELECT cent_id, unnest(cv) AS v,
                 unnest(generate_series(1, len(cv))) AS i
                 FROM (SELECT vec_id AS cent_id, qv AS cv FROM qn
                       WHERE ($sampleRule) AND ($restrict)
                       ORDER BY vec_id LIMIT $IvfCentroids))""")
    for (k <- 0 until iters) sb ++= s""",
      tcn$k AS (SELECT cent_id, CAST(sum(v * v) AS BIGINT) AS cn
                FROM centu$k GROUP BY 1),
      tdot$k AS (SELECT uv.vec_id, uc.cent_id,
                 CAST(sum(uv.v * uc.v) AS BIGINT) AS cdot
                 FROM tru uv JOIN centu$k uc ON uc.i = uv.i GROUP BY 1, 2),
      tccs$k AS (SELECT d.vec_id, d.cent_id,
                 CASE WHEN q.nrm > 0 AND c.cn > 0 THEN CAST(d.cdot AS DOUBLE)
                   / sqrt(CAST(q.nrm AS DOUBLE) * CAST(c.cn AS DOUBLE))
                   ELSE 0.0 END AS ccos
                 FROM tdot$k d JOIN qn q ON q.vec_id = d.vec_id
                 JOIN tcn$k c ON c.cent_id = d.cent_id),
      tasg$k AS (SELECT vec_id,
                 (max(struct_pack(c := ccos, id := cent_id))).id AS list_id
                 FROM tccs$k GROUP BY 1),
      tnew$k AS (SELECT a.list_id AS cent_id, uv.i,
                 CAST(floor(CAST(sum(uv.v) AS DOUBLE) / count(*)) AS BIGINT) AS v
                 FROM tasg$k a JOIN tru uv ON uv.vec_id = a.vec_id
                 GROUP BY 1, 2),
      centu${k + 1} AS (SELECT c.cent_id, coalesce(n.v, c.v) AS v, c.i
                 FROM centu$k c LEFT JOIN tnew$k n
                 ON n.cent_id = c.cent_id AND n.i = c.i)"""
    sb.toString
  }

  /** Funnel CTE chain (norm0 … s4) shared by llm_curate / llm_pipeline —
    * the SQL twin of [[funnel]], carrying (doc_id, source, norm) so
    * either consumer can project. Requires WITH RECURSIVE. */
  private lazy val FunnelCtes = {
    val inList = TextAnalysisOps.StopWords.map(w => s"'$w'").mkString(", ")
    s"""
      norm0 AS (SELECT doc_id, source, $Norm AS norm FROM documents),
      qf AS (
        SELECT doc_id FROM (
          SELECT doc_id,
            0.5 * (CAST(len(list_filter(string_split(norm, ' '),
                     w -> w IN ($inList))) AS DOUBLE) / ($WsTok))
            + 0.3 * (CAST(least($WsTok, 200) AS DOUBLE) / 200.0)
            - 0.2 * (CAST(length(norm) - length(regexp_replace(norm,
                     '[.,!?;:]', '', 'g')) AS DOUBLE) / greatest(length(norm), 1)) AS quality
          FROM norm0)
        WHERE quality >= 0.1),
      s1 AS (SELECT n.doc_id, n.source, n.norm
             FROM norm0 n JOIN qf USING (doc_id)),
      ek AS (SELECT min(doc_id) AS doc_id FROM s1 GROUP BY md5(norm)),
      s2 AS (SELECT s1.doc_id, s1.source, s1.norm
             FROM s1 JOIN ek USING (doc_id)),
      ${shingleCte("SELECT doc_id, norm FROM s2")},
      $SigCte, $BandCte, ${candCte(CapBucket)}, $JaccardSelect, $WalkCtes,
      s3 AS (SELECT doc_id, source, norm FROM s2
             WHERE doc_id NOT IN (SELECT doc_id FROM labels
                                  WHERE is_keeper = false)),
      s4 AS (SELECT doc_id, source, norm FROM s3
             WHERE ${TextAnalysisOps.splitBucketSql("doc_id")} < 80)"""
  }

  /** Mix-rank CTE over `src` (must yield doc_id, source, …): salted-hash
    * rank + per-source count, as `mixr` — the SQL twin of
    * TextAnalysisOps.mixSample's window. Shared by llm_mix /
    * llm_pipeline. */
  private def mixCtes(src: String): String = s"""
      mixr AS (
        SELECT *,
               row_number() OVER (PARTITION BY source ORDER BY
                 ${DetHash.h60Sql("'mix:' || CAST(doc_id AS VARCHAR)")}, doc_id)
                 AS rk,
               count(*) OVER (PARTITION BY source) AS n
        FROM ($src))"""

  /** Pack CTEs over `src` (must yield doc_id, norm): salted shard +
    * ROWS-framed per-shard token cumsum, as `pb`/`pc` — the SQL twin of
    * TextAnalysisOps.packSequences. Shared by llm_pack / llm_pipeline. */
  private def packCtes(src: String): String = s"""
      pb AS (
        SELECT doc_id,
               CAST($WsTok AS BIGINT) AS n_tokens,
               ${DetHash.h60Sql("'pack:' || CAST(doc_id AS VARCHAR)")} % 8 AS shard
        FROM ($src)),
      pc AS (
        SELECT doc_id, shard, n_tokens,
               CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS cum
        FROM pb)"""

  /** Exact transitive closure of the `jac` near-dup pairs (threshold
    * MinJaccard) → `labels (doc_id, cluster_id, is_keeper)` — the SQL
    * twin of DedupOps.dupClusters run to fixpoint. Requires WITH
    * RECURSIVE and a `jac` CTE in scope. */
  private val WalkCtes = s"""
      pairs AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= $MinJaccard),
      e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs),
      walk(node, lbl) AS (
        SELECT a, a FROM e
        UNION
        SELECT e.b, walk.lbl FROM walk JOIN e ON walk.node = e.a),
      labels AS (
        SELECT node AS doc_id, min(lbl) AS cluster_id,
               node = min(lbl) AS is_keeper
        FROM walk GROUP BY node)"""

  /** Final nearest-centroid assignment over `centu<iters>` (mirrors the
    * ivfKnn / semDedup argmax; ties → higher cent_id). Produces
    * `assigned (vec_id, list_id)`. */
  private def ivfAssignCtes(iters: Int): String = s"""
      cn AS (SELECT cent_id, CAST(sum(v * v) AS BIGINT) AS cn
             FROM centu$iters GROUP BY 1),
      cdots AS (
        SELECT uv.vec_id, uc.cent_id, CAST(sum(uv.v * uc.v) AS BIGINT) AS cdot
        FROM u uv JOIN centu$iters uc ON uc.i = uv.i GROUP BY 1, 2),
      ccs AS (
        SELECT d.vec_id, d.cent_id,
               CASE WHEN v.nrm > 0 AND c.cn > 0 THEN CAST(d.cdot AS DOUBLE)
                 / sqrt(CAST(v.nrm AS DOUBLE) * CAST(c.cn AS DOUBLE))
                 ELSE 0.0 END AS ccos
        FROM cdots d JOIN qn v ON v.vec_id = d.vec_id
        JOIN cn c ON c.cent_id = d.cent_id),
      assigned AS (
        SELECT vec_id,
               (max(struct_pack(c := ccos, id := cent_id))).id AS list_id
        FROM ccs GROUP BY 1)"""

  /** IVF serving tail over `ccs`/`assigned`/`qn`/`u` (probe-list
    * ranking → inverted-list scan → exact-cosine top-k), shared by
    * llm_ann_ivf and llm_stream_ann_append — the two differ only in
    * which corpus trained the frozen quantizer. */
  private val IvfServeSql = s"""
      plists AS (
        SELECT vec_id AS probe_id, cent_id AS list_id FROM (
          SELECT vec_id, cent_id,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY ccos DESC, cent_id) AS prk
          FROM ccs WHERE vec_id < $AnnProbeMax)
        WHERE prk <= $IvfProbe),
      dots AS (
        SELECT pl.probe_id, av.vec_id, CAST(sum(ua.v * ub.v) AS BIGINT) AS dot,
               any_value(pq.nrm) AS pn, any_value(vq.nrm) AS nrm
        FROM plists pl
        JOIN assigned av ON av.list_id = pl.list_id AND av.vec_id <> pl.probe_id
        JOIN qn pq ON pq.vec_id = pl.probe_id
        JOIN qn vq ON vq.vec_id = av.vec_id
        JOIN u ua ON ua.vec_id = pl.probe_id
        JOIN u ub ON ub.vec_id = av.vec_id AND ub.i = ua.i
        GROUP BY 1, 2),
      scored AS (
        SELECT probe_id, vec_id, $CosSql AS cos,
               CAST(row_number() OVER (PARTITION BY probe_id
                 ORDER BY $CosSql DESC, vec_id) AS INTEGER) AS rk
        FROM dots)
      SELECT probe_id, vec_id, cos, rk FROM scored
      WHERE rk <= $AnnK ORDER BY probe_id, rk"""

  /** llm_stream_neardup fixture: stream the first [[StreamNdMaxDoc]]
    * documents (bounded driver-side feed — this is the TEST HARNESS for
    * the streaming operator, standing in for a real source; production
    * feeds arrive from Kafka/files and never touch the driver) through
    * [[DedupOps.streamingNearDedup]] in event-time order, then roll the
    * landed per-band hit stream up to per-doc verdicts. Deterministic:
    * within a micro-batch the operator resolves cell holders in
    * (ts, doc_id) order and the chunks are fed in doc_id order, so a
    * cell's holder is exactly its minimum doc_id — the oracle's closed
    * form. */
  private def streamNearDedupVerdicts(s: SparkSession,
                                      d: String): DataFrame = {
    import s.implicits._
    val rows = docs(s, d).filter($"doc_id" <= StreamNdMaxDoc)
      .select($"doc_id", $"text").as[(Long, String)]
      .collect().sortBy(_._1)
    val mem = StreamFixture.source[(Long, String)](s)
    val stream = mem.toDF().select($"_1".as("doc_id"),
      timestamp_seconds(lit(StreamNdT0) + $"_1").as("ts"),
      $"_2".as("text"))
    StreamFixture.collect(s, "nd",
        DedupOps.streamingNearDedup(stream, StreamNdLatenessSec).toDF()) { q =>
      StreamFixture.feed(q, mem, rows.grouped(60).map(_.toSeq).toSeq)
      // the streaming contract, asserted like streamDistinct's: state is
      // one row per distinct (band, bkey) cell — ≤ NumBands per doc —
      // never per-row or per-shingle
      val maxState = StreamFixture.progress(q).maxStateRows
      require(maxState <= DetHash.NumBands * (StreamNdMaxDoc + 1),
        s"near-dup state holds $maxState rows for ${rows.length} docs")
    }
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bands"),
        count(when($"is_hit", lit(1))).as("n_hit_bands"),
        max($"is_hit").as("is_dup"),
        min(when($"is_hit", $"holder")).as("dup_of"))
      .orderBy("doc_id")
  }

  /** llm_stream_contamination fixture: the train split's first
    * [[StreamCtMaxDoc]] docs stream in event-time order (bounded
    * driver-side TEST-HARNESS feed, like [[streamNearDedupVerdicts]])
    * against the full static eval index. Deterministic regardless of
    * batching: the stream-static join is stateless and every duplicate
    * emission of a flagged pair carries identical values, collapsed by
    * the pair-keyed dedup. */
  private def streamContaminationFlags(s: SparkSession,
                                       d: String): DataFrame = {
    import s.implicits._
    val sp = TextAnalysisOps.withSplit(docs(s, d), $"doc_id")
    // pinned AND materialized before the stream starts: a stream-static
    // join re-executes the static side EVERY micro-batch — the cache is
    // the in-memory stand-in for the parquet table a production
    // deployment materializes the index to (contaminationIndex scaladoc)
    val evalIdx = Pins.pin(DedupOps.contaminationIndex(
      sp.filter($"split" === "test"), $"doc_id", $"text"))
    evalIdx.count()
    val rows = sp.filter($"split" =!= "test" && $"doc_id" <= StreamCtMaxDoc)
      .select($"doc_id", $"text").as[(Long, String)]
      .collect().sortBy(_._1)
    val mem = StreamFixture.source[(Long, String)](s)
    val stream = mem.toDF().select($"_1".as("doc_id"),
      timestamp_seconds(lit(StreamNdT0) + $"_1").as("ts"),
      $"_2".as("text"))
    StreamFixture.collect(s, "ct", DedupOps.streamingContamination(stream,
        evalIdx, minJaccard = 0.5, maxLatenessSec = StreamNdLatenessSec)) { q =>
      StreamFixture.feed(q, mem, rows.grouped(100).map(_.toSeq).toSeq)
    }
      .select($"train_id", $"eval_id", $"n_common", $"jaccard")
      .orderBy("train_id", "eval_id")
  }

  /** llm_stream_fuzzy fixture: the dirty keys of the first
    * [[StreamFzMaxDoc]] docs arrive in event-time order (bounded
    * driver-side TEST-HARNESS feed, like [[streamNearDedupVerdicts]])
    * and link against the static clean-corpus chunk index — the
    * streaming twin of llm_fuzzy_incr. Deterministic regardless of
    * batching: the stream-static join is stateless and every duplicate
    * emission of a pair carries identical values, collapsed by the
    * pair-keyed dedup. */
  private def streamFuzzyLinks(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (base, dirty) = fuzzyCorpus(s, d)
    // pinned AND materialized before the stream starts: the in-memory
    // stand-in for the persisted chunk-index parquet (buildChunkIndex
    // scaladoc) a production deployment probes
    val idx = Pins.pin(
      FuzzyJoinOps.buildChunkIndex(base, $"doc_id", $"k", FuzzyK))
    idx.count()
    val rows = dirty.filter($"did" < 1000000L + StreamFzMaxDoc)
      .select($"did", $"dk").as[(Long, String)].collect().sortBy(_._1)
    val mem = StreamFixture.source[(Long, String)](s)
    val stream = mem.toDF().select($"_1".as("did"),
      timestamp_seconds(lit(StreamNdT0) + ($"_1" - 1000000L)).as("ts"),
      $"_2".as("dk"))
    StreamFixture.collect(s, "fz", FuzzyJoinOps.streamingFuzzyLink(stream,
        $"did", $"ts", $"dk", idx, FuzzyK,
        maxLatenessSec = StreamNdLatenessSec)) { q =>
      StreamFixture.feed(q, mem, rows.grouped(50).map(_.toSeq).toSeq)
      // the streaming contract: state is one row per emitted pair (plus
      // nothing per probe or per candidate) — a candidate- or probe-
      // sized leak overshoots this bound immediately. The contract is
      // one state row per emitted DISTINCT pair, so the bound is the
      // OBSERVED emitted-link count (each batch's sink rows are
      // post-dedup distinct pairs, and a pair enters state in the batch
      // it emits) — not a fixed multiple of the probe count, which a
      // legitimately link-dense corpus (many clean keys sharing a dirty
      // key's prefix) would overshoot
      val p = StreamFixture.progress(q)
      val (maxState, emitted) = (p.maxStateRows, p.sinkRows)
      require(maxState <= emitted,
        s"fuzzy-link state holds $maxState rows but only $emitted " +
          s"links were emitted for ${rows.length} probes — a probe- " +
          "or candidate-sized leak, not pair-level state")
    }
      .select($"right_id".as("doc_id"), $"left_id".as("did"), $"dist")
      .orderBy("doc_id", "did")
  }

  /** llm_stream_ann fixture: the batch probe set (`vec_id <
    * AnnProbeMax`) arrives as a stream of quantized query vectors
    * (ts = StreamNdT0 + probe_id, all inside one serving window)
    * against the pinned bucketed corpus index; a far-future sentinel
    * advances the watermark past the window end so the top-k emits
    * (append mode — the sentinel's own window stays open and never
    * lands). Deterministic regardless of batching: the top-k is a
    * commutative windowed aggregation over a stateless stream-static
    * join. */
  private def streamAnnResults(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // pinned + materialized before the stream starts: the stand-in for
    // the persisted serving index (quantized + bucketed corpus) a
    // production deployment writes once per corpus build
    val idx = Pins.pin(
      VectorOps.quantize(embs(s, d), $"vec_id", $"embedding")
        .withColumn("bucket", VectorOps.lshBucket(LshPlanes, EmbDim)))
    idx.count()
    val probes = idx.filter($"vec_id" < AnnProbeMax)
      .select($"vec_id", $"qv").as[(Long, Seq[Long])]
      .collect().sortBy(_._1)
    val mem = StreamFixture.source[(Long, Long, Seq[Long])](s)
    val stream = mem.toDF().select($"_1".as("probe_id"),
      timestamp_seconds(lit(StreamNdT0) + $"_2").as("ts"),
      $"_3".as("qv"))
    StreamFixture.collect(s, "ann", VectorOps.streamingAnnServe(stream, idx,
        AnnK, LshPlanes, EmbDim, probeRadius = 2,
        windowSec = StreamAnnWindowSec, latenessSec = 1L)) { q =>
      // the watermark advancer needs A vector; on an empty corpus (no
      // probes) a zero vector keeps the fixture total — its own window
      // never emits either way
      val sentinelQv = probes.headOption.map(_._2)
        .getOrElse(Seq.fill(EmbDim)(0L))
      StreamFixture.feed(q, mem, Seq(
        probes.map { case (id, qv) => (id, id, qv) }.toSeq,
        Seq((-1L, 10L * StreamAnnWindowSec, sentinelQv))))
    }
      .filter($"probe_id" >= 0)
      .select($"probe_id", $"vec_id", $"cos", $"rk")
      .orderBy("probe_id", "rk")
  }

  /** llm_stream_ann_append fixture: the vec_id % [[StreamApdMod]] ==
    * [[StreamApdRem]] slice of the corpus "arrives" on the ingest
    * stream (bounded driver-side TEST-HARNESS feed); the frozen
    * centroids are trained on the BASE slice only, arriving vectors
    * are IVF-assigned at ingest (stateless per-row fold against the
    * centroid literal), and serving runs over base assignments ∪ the
    * appended stream rows. The oracle trains on base and assigns the
    * WHOLE corpus — the rebuild — so hash equality is the
    * append == rebuild proof, served pair-for-pair. */
  private def streamAnnAppendResults(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val vecs = Pins.pin(
      VectorOps.quantize(embs(s, d), $"vec_id", $"embedding"))
    val arriving = pmod($"vec_id", lit(StreamApdMod.toLong)) === StreamApdRem
    val base = vecs.filter(!arriving)
    // the persisted-index stand-ins: frozen centroid literal + the
    // base assignment table an indexing run wrote
    val cents = VectorOps.trainCentroids(base, IvfCentroids, IvfIters,
        IvfSampleMod)
      .select($"cent_id", $"cv", $"cn").as[(Long, Seq[Long], Long)]
      .collect().toSeq.toDF("cent_id", "cv", "cn")
    val baseAssign = Pins.pin(VectorOps.assignVectors(base, cents))
    baseAssign.count()
    val rows = embs(s, d).filter(arriving)
      .select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val mem = StreamFixture.source[(Long, Seq[Double])](s)
    val appended = StreamFixture.collect(s, "apd", VectorOps.streamingIvfAssign(
        mem.toDF().select($"_1".as("vec_id"), $"_2".as("emb")),
        $"vec_id", $"emb", cents)) { q =>
      StreamFixture.feed(q, mem, rows.grouped(100).map(_.toSeq).toSeq)
    }
    VectorOps.ivfKnnWithIndex(vecs, cents,
        baseAssign.unionByName(appended.select($"vec_id", $"list_id")),
        _ < AnnProbeMax, AnnK, IvfProbe)
      .orderBy("probe_id", "rk")
  }

  /** llm_stream_pq_append fixture: [[streamAnnAppendResults]]'s PQ
    * twin — codebook trained on the base slice, arriving vectors
    * PQ-encoded at ingest (per-row argmin folds against the codebook
    * literal), ADC serving over base codes ∪ appended codes vs the
    * whole-corpus-encode oracle. */
  private def streamPqAppendResults(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val vecs = Pins.pin(
      VectorOps.quantize(embs(s, d), $"vec_id", $"embedding"))
    val arriving = pmod($"vec_id", lit(StreamApdMod.toLong)) === StreamApdRem
    val base = Pins.pin(vecs.filter(!arriving))
    val codebook = Pins.pin(VectorOps.pqCodebook(base, PqM, PqCodes))
    codebook.count()
    val baseCodes = Pins.pin(VectorOps.pqEncode(base, codebook, PqM))
    baseCodes.count()
    val rows = embs(s, d).filter(arriving)
      .select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val mem = StreamFixture.source[(Long, Seq[Double])](s)
    val appended = StreamFixture.collect(s, "pqa", VectorOps.streamingPqEncode(
        mem.toDF().select($"_1".as("vec_id"), $"_2".as("emb")),
        $"vec_id", $"emb", codebook, PqM)) { q =>
      StreamFixture.feed(q, mem, rows.grouped(100).map(_.toSeq).toSeq)
    }
    VectorOps.pqKnnWithIndex(vecs, codebook,
        baseCodes.unionByName(appended.select($"vec_id", $"codes")),
        _ < AnnProbeMax, AnnK, PqM, PqCodes)
      .orderBy("probe_id", "rk")
  }

  /** llm_stream_frame_dedup fixture: the first [[StreamFdMaxMedia]]
    * media items (payload = text bytes, the documented multimodal
    * stand-in) stream in event-time order through
    * [[MultimodalOps.streamingFrameDedup]]; the landed per-frame hit
    * stream rolls up to per-media verdicts. Deterministic: cells
    * resolve holders in (ts, media_id) order and the feed is in
    * media_id order, so a cell's holder is exactly its minimum
    * media_id — the oracle's closed form. External dups only
    * (`holder < media_id`): a repeated frame whose first sighting is
    * this same item is self-novelty, not a copy signal, and the closed
    * form agrees (`min media_id == media_id`). */
  private def streamFrameDupVerdicts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rows = docs(s, d).filter($"doc_id" <= StreamFdMaxMedia)
      .select($"doc_id", $"text").as[(Long, String)]
      .collect().sortBy(_._1)
    val mem = StreamFixture.source[(Long, String)](s)
    val stream = mem.toDF().select($"_1".as("media_id"),
      timestamp_seconds(lit(StreamNdT0) + $"_1").as("ts"),
      encode($"_2", "UTF-8").as("payload"))
    StreamFixture.collect(s, "fd",
        MultimodalOps.streamingFrameDedup(stream, StreamNdLatenessSec).toDF()) { q =>
      StreamFixture.feed(q, mem, rows.grouped(80).map(_.toSeq).toSeq)
    }
      .groupBy($"media_id")
      .agg(count(lit(1)).as("n_frames"),
        count(when($"holder" < $"media_id", lit(1))).as("n_dup_frames"),
        min(when($"holder" < $"media_id", $"holder")).as("dup_of"))
      .orderBy("media_id")
  }

  def oracles: Map[String, String] = Map(
    "llm_stream_contamination" -> {
      def gram(n: Int) =
        (1 until n).foldLeft("ws[i]")((acc, k) => s"$acc || ' ' || ws[i+$k]")
      val c = DetHash.CombineC
      val m = DetHash.M31
      s"""
      WITH d AS (
        SELECT doc_id, $Norm AS norm,
               ${TextAnalysisOps.splitBucketSql("doc_id")} AS bucket
        FROM documents),
      words AS (
        SELECT doc_id, bucket, string_split(norm, ' ') AS ws FROM d
        WHERE len(string_split(norm, ' ')) >= 5),
      g3p AS (
        SELECT doc_id, bucket, list_transform(generate_series(1, len(ws)-2),
                 i -> ${h31(gram(3))}) AS g
        FROM words),
      b5 AS (
        SELECT DISTINCT doc_id, bucket,
               ((((g[i] * $c + g[i+1]) % $m) * $c) + g[i+2]) % $m AS bkey
        FROM (SELECT doc_id, bucket, g,
                     unnest(generate_series(1, len(g)-2)) AS i
              FROM g3p)),
      tb AS (SELECT doc_id AS train_id, bkey FROM b5
             WHERE bucket < 90 AND doc_id <= $StreamCtMaxDoc),
      eb AS (SELECT doc_id AS eval_id,  bkey FROM b5 WHERE bucket >= 90),
      -- no cap machinery: the streaming form probes the static eval
      -- index uncapped (eval-bounded fan-out), and the batch cap SPLITS
      -- (never drops), so the candidate set is identical either way
      cand AS (
        SELECT DISTINCT train_id, eval_id FROM tb JOIN eb USING (bkey)),
      sh3 AS (SELECT DISTINCT doc_id, unnest(g) AS h31 FROM g3p),
      sizes AS (SELECT doc_id, count(*) AS sz FROM sh3 GROUP BY 1),
      inter AS (
        SELECT c.train_id, c.eval_id, CAST(count(*) AS BIGINT) AS n_common
        FROM cand c
        JOIN sh3 a ON a.doc_id = c.train_id
        JOIN sh3 b ON b.doc_id = c.eval_id AND b.h31 = a.h31
        GROUP BY 1, 2),
      jac AS (
        SELECT train_id, eval_id, n_common,
               CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = train_id
        JOIN sizes sb ON sb.doc_id = eval_id)
      SELECT * FROM jac WHERE jaccard >= 0.5 ORDER BY train_id, eval_id"""
    },

    "llm_stream_neardup" -> s"""
      WITH ${shingleCte(s"SELECT doc_id, $Norm AS norm FROM documents " +
        s"WHERE doc_id <= $StreamNdMaxDoc")}, $SigCte, $BandCte,
      holders AS (SELECT band, bkey, min(doc_id) AS holder
                  FROM bands GROUP BY 1, 2),
      hits AS (SELECT b.doc_id, h.holder, b.doc_id > h.holder AS is_hit
               FROM bands b JOIN holders h USING (band, bkey))
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_bands,
             CAST(count(*) FILTER (WHERE is_hit) AS BIGINT) AS n_hit_bands,
             bool_or(is_hit) AS is_dup,
             min(CASE WHEN is_hit THEN holder END) AS dup_of
      FROM hits GROUP BY doc_id ORDER BY doc_id""",

    "llm_text_stats" -> s"""
      WITH d AS (SELECT lang, source, n_chars, CAST($WsTok AS BIGINT) AS tk
                 FROM (SELECT lang, source, n_chars, $Norm AS norm FROM documents))
      SELECT lang, source, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             CAST(CAST(sum(n_chars) AS BIGINT) AS DOUBLE) / count(*) AS avg_chars,
             CAST(sum(tk) AS BIGINT) AS sum_tokens,
             CAST(CAST(sum(tk) AS BIGINT) AS DOUBLE) / count(*) AS avg_tokens
      FROM d GROUP BY 1, 2 ORDER BY 1, 2""",

    "llm_len_hist" -> """
      SELECT lang AS stratum, n_chars // 100 AS bin, count(*) AS n,
             min(n_chars) AS min_len, max(n_chars) AS max_len,
             CAST(CAST(sum(n_chars) AS BIGINT) AS DOUBLE) / count(*) AS avg_len
      FROM documents GROUP BY 1, 2 ORDER BY 1, 2""",

    "llm_len_deciles" -> """
      WITH r AS (SELECT lang, CAST(n_chars AS BIGINT) AS v,
                   row_number() OVER (PARTITION BY lang
                     ORDER BY n_chars, doc_id) AS rn,
                   count(*) OVER (PARTITION BY lang) AS n_tot
                 FROM documents)
      SELECT lang AS stratum, CAST((rn-1)*10//n_tot + 1 AS BIGINT) AS bin,
             CAST(count(*) AS BIGINT) AS n,
             min(v) AS min_v, max(v) AS max_v,
             CAST(CAST(sum(v) AS BIGINT) AS DOUBLE)/count(*) AS avg_v
      FROM r GROUP BY 1, 2 ORDER BY 1, 2""",

    "llm_token_counts" -> s"""
      SELECT doc_id, CAST(length(norm) AS BIGINT) AS n_chars_norm,
             CAST($WsTok AS BIGINT) AS ws_tokens,
             CAST(len(regexp_extract_all(norm, '${TextAnalysisOps.LexerPattern}', 0)) AS BIGINT) AS re_tokens
      FROM (SELECT doc_id, $Norm AS norm FROM documents) ORDER BY 1""",

    "llm_quality" -> {
      val inList = TextAnalysisOps.StopWords.map(w => s"'$w'").mkString(", ")
      s"""
      WITH f AS (
        SELECT doc_id, CAST(length(norm) AS BIGINT) AS n_chars,
               CAST($WsTok AS BIGINT) AS n_tokens,
               CAST(length(norm) - length(regexp_replace(norm, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
               CAST(len(list_filter(string_split(norm, ' '), w -> w IN ($inList))) AS BIGINT) AS n_stop
        FROM (SELECT doc_id, $Norm AS norm FROM documents))
      SELECT doc_id, n_chars, n_tokens, n_punct, n_stop,
             0.5 * (CAST(n_stop AS DOUBLE) / n_tokens)
             + 0.3 * (CAST(least(n_tokens, 200) AS DOUBLE) / 200.0)
             - 0.2 * (CAST(n_punct AS DOUBLE) / greatest(n_chars, 1)) AS quality
      FROM f ORDER BY 1"""
    },

    "llm_temp_mix" -> s"""
      WITH d AS (SELECT doc_id, lang AS stratum FROM documents),
      s AS (SELECT stratum, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
      m AS (SELECT min(n) AS nmin FROM s),
      r AS (SELECT stratum,
                   CAST(floor(1000000.0 * sqrt(CAST(m.nmin AS DOUBLE) / s.n))
                     AS BIGINT) AS keep_ppm
            FROM s, m)
      SELECT r.stratum, d.doc_id, r.keep_ppm
      FROM d JOIN r USING (stratum)
      WHERE ${DetHash.h60Sql("'tmix:' || CAST(doc_id AS VARCHAR)")} % 1000000
            < keep_ppm
      ORDER BY 1, 2""",

    "llm_quality_topp" -> {
      val inList = TextAnalysisOps.StopWords.map(w => s"'$w'").mkString(", ")
      s"""
      WITH b AS (
        SELECT doc_id, stratum,
               CAST(length(norm) AS BIGINT) AS n_chars,
               CAST($WsTok AS BIGINT) AS n_tokens,
               CAST(length(norm) - length(regexp_replace(norm, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
               CAST(len(list_filter(string_split(norm, ' '), w -> w IN ($inList))) AS BIGINT) AS n_stop
        FROM (SELECT doc_id, lang AS stratum, $Norm AS norm FROM documents)),
      f AS (
        SELECT doc_id, stratum,
               0.5 * (CAST(n_stop AS DOUBLE) / n_tokens)
               + 0.3 * (CAST(least(n_tokens, 200) AS DOUBLE) / 200.0)
               - 0.2 * (CAST(n_punct AS DOUBLE) / greatest(n_chars, 1)) AS quality
        FROM b),
      r AS (
        SELECT stratum, doc_id, quality,
               CAST(row_number() OVER (PARTITION BY stratum
                 ORDER BY quality DESC, doc_id) AS BIGINT) AS rk,
               count(*) OVER (PARTITION BY stratum) AS n
        FROM f)
      SELECT stratum, doc_id, quality, rk FROM r
      WHERE rk <= (n * 20 + 99) // 100 ORDER BY 1, 4"""
    },

    "llm_exact_dedup" -> s"""
      SELECT md5($Norm) AS text_hash,
             min(doc_id) AS keeper_doc_id, count(*) AS n_docs
      FROM documents GROUP BY 1 ORDER BY 1""",

    "llm_minhash_sig" -> s"""
      WITH $ShingleCte, $SigCte
      SELECT * FROM mh ORDER BY doc_id""",

    "llm_fingerprint" -> {
      val mins = (0 until 4)
        .map(i => s"min(${DetHash.permSql(i, "h31")}) AS f$i").mkString(", ")
      s"""
      WITH $ShingleCte
      SELECT doc_id, $mins FROM sh GROUP BY doc_id ORDER BY doc_id"""
    },

    "llm_minhash_dedup" -> s"""
      WITH $ShingleCte, $SigCte, $BandCte, ${candCte(CapBucket)}, $JaccardSelect
      SELECT * FROM jac WHERE jaccard >= $MinJaccard ORDER BY doc_a, doc_b""",

    "llm_dedup_index" -> {
      // band-0 polynomial key, same fold as DedupOps.bandArray
      val b0 = (1 until DetHash.RowsPerBand).foldLeft("m0") {
        (acc, i) => s"($acc)*31 + m$i"
      }
      s"""
      WITH $ShingleCte, $SigCte
      SELECT mh.doc_id, sz.n_shingles,
             CAST(${DetHash.NumBands} AS BIGINT) AS n_bands,
             CAST($b0 AS BIGINT) AS b0_key
      FROM mh JOIN (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
                    FROM sh GROUP BY 1) sz USING (doc_id)
      ORDER BY doc_id"""
    },

    "llm_split" -> s"""
      WITH b AS (
        SELECT lang, n_chars,
               ${TextAnalysisOps.splitBucketSql("doc_id")} AS bucket
        FROM documents)
      SELECT lang,
             CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'val'
                  ELSE 'test' END AS split,
             count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM b GROUP BY 1, 2 ORDER BY 1, 2""",

    "llm_contamination" -> {
      def gram(n: Int) = (1 until n).foldLeft("ws[i]")((acc, k) => s"$acc || ' ' || ws[i+$k]")
      val c = DetHash.CombineC
      val m = DetHash.M31
      s"""
      WITH d AS (
        SELECT doc_id, $Norm AS norm,
               ${TextAnalysisOps.splitBucketSql("doc_id")} AS bucket
        FROM documents),
      words AS (
        SELECT doc_id, bucket, string_split(norm, ' ') AS ws FROM d
        WHERE len(string_split(norm, ' ')) >= 5),
      g3p AS (
        SELECT doc_id, bucket, list_transform(generate_series(1, len(ws)-2),
                 i -> ${h31(gram(3))}) AS g
        FROM words),
      b5 AS (
        SELECT DISTINCT doc_id, bucket,
               ((((g[i] * $c + g[i+1]) % $m) * $c) + g[i+2]) % $m AS bkey
        FROM (SELECT doc_id, bucket, g, unnest(generate_series(1, len(g)-2)) AS i
              FROM g3p)),
      tb AS (SELECT doc_id AS train_id, bkey FROM b5 WHERE bucket < 90),
      eb AS (SELECT doc_id AS eval_id,  bkey FROM b5 WHERE bucket >= 90),
      -- over-cap TRAIN buckets split into ceil(c/50) sub-buckets; the
      -- eval probe hashes into the same train-sized sub space (mirrors
      -- DedupOps.contamination)
      tcnt AS MATERIALIZED (SELECT bkey, CAST((count(*) + 49) // 50 AS BIGINT) AS nsub
               FROM tb GROUP BY 1),
      tsub AS MATERIALIZED (SELECT t.train_id, t.bkey,
                      ${graft.functions.DetHash.h60Sql(
                        "'ps:' || CAST(t.bkey AS VARCHAR) || ':' || " +
                        "CAST(t.train_id AS VARCHAR)")} % c.nsub AS sub
               FROM tb t JOIN tcnt c USING (bkey)),
      esub AS (SELECT e.eval_id, e.bkey,
                      ${graft.functions.DetHash.h60Sql(
                        "'ps:' || CAST(e.bkey AS VARCHAR) || ':' || " +
                        "CAST(e.eval_id AS VARCHAR)")} % c.nsub AS sub
               FROM eb e JOIN tcnt c USING (bkey)),
      cand AS (
        SELECT DISTINCT train_id, eval_id
        FROM tsub JOIN esub USING (bkey, sub)),
      sh3 AS (SELECT DISTINCT doc_id, unnest(g) AS h31 FROM g3p),
      sizes AS (SELECT doc_id, count(*) AS sz FROM sh3 GROUP BY 1),
      inter AS (
        SELECT c.train_id, c.eval_id, CAST(count(*) AS BIGINT) AS n_common
        FROM cand c
        JOIN sh3 a ON a.doc_id = c.train_id
        JOIN sh3 b ON b.doc_id = c.eval_id AND b.h31 = a.h31
        GROUP BY 1, 2),
      jac AS (
        SELECT train_id, eval_id, n_common,
               CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = train_id
        JOIN sizes sb ON sb.doc_id = eval_id)
      SELECT * FROM jac WHERE jaccard >= 0.5 ORDER BY train_id, eval_id"""
    },

    "llm_curate" -> s"""
      WITH RECURSIVE $FunnelCtes
      SELECT stage, n_docs FROM (
        SELECT '0_total' AS stage, count(*) AS n_docs FROM documents
        UNION ALL SELECT '1_quality', count(*) FROM s1
        UNION ALL SELECT '2_exact', count(*) FROM s2
        UNION ALL SELECT '3_near_dup', count(*) FROM s3
        UNION ALL SELECT '4_train', count(*) FROM s4)
      ORDER BY stage""",

    "llm_pipeline" -> s"""
      WITH RECURSIVE $FunnelCtes,
      ${mixCtes("SELECT doc_id, source, norm FROM s4")},
      wts(source, w) AS (VALUES
        ('src0', 1.0), ('src1', 0.5), ('src2', 0.25)),
      mixed AS (
        SELECT m.doc_id, m.norm FROM mixr m LEFT JOIN wts USING (source)
        WHERE rk <= ceil(coalesce(w, 0.1) * n)),
      ${packCtes("SELECT doc_id, norm FROM mixed")}
      SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
             CAST((sum(n_tokens) + 2047) // 2048 AS BIGINT) AS n_seqs
      FROM pc GROUP BY 1 ORDER BY 1""",

    "llm_semdedup" -> s"""
      WITH $QuantCte,
      ${ivfTrainCtes(IvfIters)},
      ${ivfAssignCtes(IvfIters)},
      mem AS (SELECT a.vec_id, a.list_id, q.nrm
              FROM assigned a JOIN qn q USING (vec_id)),
      -- over-cap clusters split into ceil(c/cap) member-hash sub-lists,
      -- pruned within each (mirrors semDedup via withSubBucket)
      mcnt AS MATERIALIZED (SELECT list_id,
                     CAST((count(*) + ${SemMaxList - 1}) // $SemMaxList
                       AS BIGINT) AS nsub
              FROM mem GROUP BY 1 HAVING count(*) >= 2),
      msub AS MATERIALIZED (SELECT m.vec_id, m.list_id, m.nrm,
                     ${graft.functions.DetHash.h60Sql(
                       "'ps:' || CAST(m.list_id AS VARCHAR) || ':' || " +
                       "CAST(m.vec_id AS VARCHAR)")} % c.nsub AS sub
              FROM mem m JOIN mcnt c USING (list_id)),
      mpairs AS (
        SELECT a.vec_id AS va, b.vec_id AS vb, a.nrm AS pn, b.nrm AS nrm
        FROM msub a
        JOIN msub b ON b.list_id = a.list_id AND b.sub = a.sub
         AND a.vec_id < b.vec_id),
      pdot AS (
        SELECT p.va, p.vb, CAST(sum(ua.v * ub.v) AS BIGINT) AS dot,
               any_value(p.pn) AS pn, any_value(p.nrm) AS nrm
        FROM mpairs p
        JOIN u ua ON ua.vec_id = p.va
        JOIN u ub ON ub.vec_id = p.vb AND ub.i = ua.i
        GROUP BY 1, 2),
      dropped AS (SELECT DISTINCT vb AS vec_id FROM pdot
                  WHERE $CosSql >= $EmbedMinCos)
      SELECT m.vec_id, m.list_id, d.vec_id IS NULL AS is_keeper
      FROM mem m LEFT JOIN dropped d USING (vec_id)
      ORDER BY m.vec_id""",

    "llm_shuffle" -> s"""
      WITH k AS (
        SELECT doc_id,
               ${DetHash.h60Sql("'shuffle:' || CAST(doc_id AS VARCHAR)")} AS skey
        FROM documents)
      SELECT doc_id, CAST(skey % $NShards AS BIGINT) AS shard,
             CAST(row_number() OVER (PARTITION BY skey % $NShards
               ORDER BY skey, doc_id) AS BIGINT) AS pos
      FROM k ORDER BY doc_id""",

    "llm_vocab" -> s"""
      WITH tok AS (
        SELECT unnest(string_split($Norm, ' ')) AS tok FROM documents),
      counts AS (SELECT tok, CAST(count(*) AS BIGINT) AS n
                 FROM tok WHERE length(tok) > 0 GROUP BY 1),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts),
      top AS (SELECT tok, n FROM counts ORDER BY n DESC, tok LIMIT $VocabTopN),
      ranked AS (
        SELECT CAST(row_number() OVER (ORDER BY n DESC, tok) AS BIGINT) AS rk,
               tok, n,
               CAST(sum(n) OVER (ORDER BY n DESC, tok
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        FROM top)
      SELECT rk, tok, n, CAST(cum * 1000 // total AS BIGINT) AS cum_pm
      FROM ranked, tot ORDER BY rk""",

    "llm_containment" -> s"""
      WITH $ShingleCte,
      samp AS (SELECT doc_id, h31 FROM sh WHERE h31 % $ContainSampleMod = 0),
      -- over-cap buckets are SPLIT into ceil(c/cap) member-hash
      -- sub-buckets (not dropped), mirroring containmentPairs
      ccnt AS (SELECT h31,
                      CAST((count(*) + ${CapBucket - 1}) // $CapBucket
                        AS BIGINT) AS nsub
               FROM samp GROUP BY 1 HAVING count(*) >= 2),
      csub AS (SELECT s.doc_id, s.h31,
                      ${graft.functions.DetHash.h60Sql(
                        "'cs:' || CAST(s.h31 AS VARCHAR) || ':' || " +
                        "CAST(s.doc_id AS VARCHAR)")} % c.nsub AS sub
               FROM samp s JOIN ccnt c USING (h31)),
      cand0 AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM csub a JOIN csub b
          ON b.h31 = a.h31 AND b.sub = a.sub AND a.doc_id < b.doc_id),
      -- sampled-containment pre-filter (mirrors containmentPairs):
      -- a pair reaches the exact full-set stage only if its shared
      -- SAMPLED count is at least 70% of either side's sampled size
      -- (exact integer compare), or either side has <= 6 sampled
      -- shingles (tiny docs pass on candidacy alone)
      ssz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ssz
              FROM samp GROUP BY 1),
      scom AS (SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS s_common
               FROM cand0 c
               JOIN samp a ON a.doc_id = c.doc_a
               JOIN samp b ON b.doc_id = c.doc_b AND b.h31 = a.h31
               GROUP BY 1, 2),
      cand AS (SELECT s.doc_a, s.doc_b FROM scom s
               JOIN ssz za ON za.doc_id = s.doc_a
               JOIN ssz zb ON zb.doc_id = s.doc_b
               WHERE s.s_common * 10 >= za.ssz * 7 OR za.ssz <= 6
                  OR s.s_common * 10 >= zb.ssz * 7 OR zb.ssz <= 6),
      $JaccardSelect,
      cont AS (
        SELECT doc_a, doc_b, n_common,
               CAST(n_common AS DOUBLE) / sa.sz AS cont_a,
               CAST(n_common AS DOUBLE) / sb.sz AS cont_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b)
      SELECT doc_a, doc_b, n_common, cont_a, cont_b FROM cont
      WHERE cont_a >= $MinContainment OR cont_b >= $MinContainment
      ORDER BY doc_a, doc_b""",

    "llm_incr_dedup" -> s"""
      WITH $ShingleCte, $SigCte, $BandCte, ${candCte(CapBucket)}, $JaccardSelect,
      nw AS (SELECT doc_id FROM documents
             WHERE ${TextAnalysisOps.splitBucketSql("doc_id")} >= 80)
      SELECT doc_a, doc_b, n_common, jaccard FROM jac
      WHERE jaccard >= $MinJaccard
        AND (doc_a IN (SELECT doc_id FROM nw)
             OR doc_b IN (SELECT doc_id FROM nw))
      ORDER BY doc_a, doc_b""",

    "llm_blocklist" -> {
      // terms may legally contain apostrophes (TextAnalysisOps require
      // allows '), so escape for the single-quoted DuckDB literal
      val inList = Blocklist.map(t => s"'${t.replace("'", "''")}'").mkString(", ")
      s"""
      SELECT doc_id, n_hits FROM (
        SELECT doc_id,
               CAST(len(list_filter(string_split($Norm, ' '),
                 w -> w IN ($inList))) AS BIGINT) AS n_hits
        FROM documents)
      WHERE n_hits > 0 ORDER BY doc_id"""
    },

    "llm_cluster_sizes" -> s"""
      WITH $QuantCte,
      ${ivfTrainCtes(IvfIters)},
      ${ivfAssignCtes(IvfIters)}
      SELECT list_id, CAST(count(*) AS BIGINT) AS n_vecs
      FROM assigned GROUP BY 1 ORDER BY 1""",

    "llm_domains" -> s"""
      WITH urls AS (
        SELECT doc_id, unnest(regexp_extract_all(norm, '${TextAnalysisOps.UrlRe}')) AS url
        FROM (SELECT doc_id, $NormCite AS norm FROM documents)),
      hosts AS (
        SELECT DISTINCT doc_id,
               regexp_extract(url, '${TextAnalysisOps.DomainRe}', 1) AS domain
        FROM urls),
      c AS (SELECT domain, CAST(count(*) AS BIGINT) AS n_docs
            FROM hosts WHERE length(domain) > 0 GROUP BY 1),
      r AS (SELECT domain, n_docs,
            CAST(row_number() OVER (ORDER BY n_docs DESC, domain) AS BIGINT) AS rk
            FROM c)
      SELECT rk, domain, n_docs FROM r WHERE rk <= 50 ORDER BY rk""",

    "llm_bpe_pairs" -> s"""
      WITH words AS (
        SELECT w, CAST(count(*) AS BIGINT) AS wn
        FROM (SELECT unnest(string_split($Norm, ' ')) AS w FROM documents)
        WHERE length(w) >= 2 GROUP BY 1),
      p AS (
        SELECT unnest(list_transform(generate_series(1, length(w) - 1),
                 i -> substr(w, i, 2))) AS pair, wn
        FROM words),
      c AS (SELECT pair, CAST(sum(wn) AS BIGINT) AS n FROM p GROUP BY 1),
      r AS (SELECT pair, n,
            CAST(row_number() OVER (ORDER BY n DESC, pair) AS BIGINT) AS rk
            FROM c)
      SELECT rk, pair, n FROM r WHERE rk <= $BpeTopK ORDER BY rk""",

    // the merges CTEs are llm_bpe_pairs verbatim; the recursive step
    // applies merge rk at step rk — ONE exhaustive left-to-right merge
    // pass as a list_reduce fold over the token list with a string
    // accumulator (the incoming token merges into the accumulator's
    // last token iff the two spell the pair; a plain replace() over a
    // delimited string is NOT this fold — it resumes scanning past the
    // consumed delimiter and skips adjacent occurrences). Halts after
    // the last learned merge (nm <= BpeTopK on a tiny corpus).
    "llm_bpe_encode" -> s"""
      WITH RECURSIVE words AS (
        SELECT w, CAST(count(*) AS BIGINT) AS wn
        FROM (SELECT unnest(string_split($Norm, ' ')) AS w FROM documents)
        WHERE length(w) >= 2 GROUP BY 1),
      p AS (
        SELECT unnest(list_transform(generate_series(1, length(w) - 1),
                 i -> substr(w, i, 2))) AS pair, wn
        FROM words),
      c AS (SELECT pair, CAST(sum(wn) AS BIGINT) AS n FROM p GROUP BY 1),
      r AS (SELECT pair,
            CAST(row_number() OVER (ORDER BY n DESC, pair) AS BIGINT) AS rk
            FROM c),
      m AS (SELECT pair, rk FROM r WHERE rk <= $BpeTopK),
      nm AS (SELECT CAST(count(*) AS BIGINT) AS n FROM m),
      top AS (SELECT w, wn,
              CAST(row_number() OVER (ORDER BY wn DESC, w) AS BIGINT) AS rk
              FROM words
              QUALIFY rk <= $BpeEncodeWords),
      app AS (
        SELECT w, wn, rk,
               trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS s,
               CAST(0 AS BIGINT) AS step
        FROM top
        UNION ALL
        SELECT a.w, a.wn, a.rk,
               list_reduce(string_split(a.s, ' '), (acc, t) ->
                 CASE WHEN regexp_extract(acc, '[^ ]+$$')
                            = substr(m.pair, 1, 1)
                       AND t = substr(m.pair, 2, 1)
                 THEN substr(acc, 1, length(acc)
                        - length(regexp_extract(acc, '[^ ]+$$'))) || m.pair
                 ELSE acc || ' ' || t END) AS s,
               a.step + 1
        FROM app a JOIN m ON m.rk = a.step + 1),
      fin AS (SELECT w, wn, rk, s AS enc FROM app
              WHERE step = (SELECT n FROM nm))
      SELECT rk, w, wn,
             CAST(len(string_split(enc, ' ')) AS BIGINT) AS n_toks, enc
      FROM fin ORDER BY rk""",

    // llm_bpe_encode's fold applied to EVERY word type (no top bound),
    // then one word-stream join: per-doc whitespace vs BPE token counts
    "llm_bpe_tokens" -> s"""
      WITH RECURSIVE words AS (
        SELECT w, CAST(count(*) AS BIGINT) AS wn
        FROM (SELECT unnest(string_split($Norm, ' ')) AS w FROM documents)
        WHERE length(w) >= 2 GROUP BY 1),
      p AS (
        SELECT unnest(list_transform(generate_series(1, length(w) - 1),
                 i -> substr(w, i, 2))) AS pair, wn
        FROM words),
      c AS (SELECT pair, CAST(sum(wn) AS BIGINT) AS n FROM p GROUP BY 1),
      r AS (SELECT pair,
            CAST(row_number() OVER (ORDER BY n DESC, pair) AS BIGINT) AS rk
            FROM c),
      m AS (SELECT pair, rk FROM r WHERE rk <= $BpeTopK),
      nm AS (SELECT CAST(count(*) AS BIGINT) AS n FROM m),
      app AS (
        SELECT w, trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS s,
               CAST(0 AS BIGINT) AS step
        FROM words
        UNION ALL
        SELECT a.w,
               list_reduce(string_split(a.s, ' '), (acc, t) ->
                 CASE WHEN regexp_extract(acc, '[^ ]+$$')
                            = substr(m.pair, 1, 1)
                       AND t = substr(m.pair, 2, 1)
                 THEN substr(acc, 1, length(acc)
                        - length(regexp_extract(acc, '[^ ]+$$'))) || m.pair
                 ELSE acc || ' ' || t END) AS s,
               a.step + 1
        FROM app a JOIN m ON m.rk = a.step + 1),
      enc AS (SELECT w, CAST(len(string_split(s, ' ')) AS BIGINT) AS n_toks
              FROM app WHERE step = (SELECT n FROM nm)),
      dw AS (SELECT doc_id, unnest(string_split($Norm, ' ')) AS w
             FROM documents),
      dw1 AS (SELECT doc_id, w FROM dw WHERE length(w) >= 1)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(CASE WHEN length(w) >= 2 THEN e.n_toks
                           ELSE 1 END) AS BIGINT) AS n_bpe_tokens
      FROM dw1 LEFT JOIN enc e USING (w)
      GROUP BY 1 ORDER BY 1""",

    // iterated multi-level learning: the unrolled count → top-merge →
    // re-encode chain (bpeLearnCtes), merges collected in round order
    "llm_bpe_learn" -> (bpeLearnCtes + s""",
      mm AS (${(1 to BpeLearnRounds).map(i =>
        s"SELECT CAST($i AS BIGINT) AS rk, a, b, a || b AS merged, n " +
          s"FROM m$i").mkString(" UNION ALL ")})
      SELECT rk, a, b, merged, n FROM mm ORDER BY rk"""),

    // per-doc token accounting under the learned table: e_R's encoded
    // lengths joined against each document's word stream (llm_bpe_tokens'
    // tail over the iterated chain)
    "llm_bpe_learn_tokens" -> (bpeLearnCtes + s""",
      encn AS (SELECT w, CAST(len(string_split(s, ' ')) AS BIGINT) AS n_toks
               FROM e$BpeLearnRounds),
      dw AS (SELECT doc_id, unnest(string_split($Norm, ' ')) AS w
             FROM documents),
      dw1 AS (SELECT doc_id, w FROM dw WHERE length(w) >= 1)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(CASE WHEN length(w) >= 2 THEN e.n_toks
                           ELSE 1 END) AS BIGINT) AS n_bpe_tokens
      FROM dw1 LEFT JOIN encn e USING (w)
      GROUP BY 1 ORDER BY 1"""),

    // the final encoded state e_R IS the chain application of the
    // learned table to the raw char split (state_i = merge_i applied to
    // state_{i-1}, by induction) — the engine side runs applyMerges and
    // the spec pins the identity
    "llm_bpe_learn_enc" -> (bpeLearnCtes + s""",
      top AS (SELECT w, wn,
              CAST(row_number() OVER (ORDER BY wn DESC, w) AS BIGINT) AS rk
              FROM words QUALIFY rk <= $BpeEncodeWords)
      SELECT t.rk, t.w, t.wn,
             CAST(len(string_split(e.s, ' ')) AS BIGINT) AS n_toks,
             e.s AS enc
      FROM top t JOIN e$BpeLearnRounds e ON e.w = t.w
      ORDER BY t.rk"""),

    "llm_theta_distinct" -> s"""
      WITH tk AS (SELECT lang, unnest(string_split($Norm, ' ')) AS tok
                  FROM documents),
      t2 AS (SELECT lang, tok FROM tk WHERE length(tok) > 0),
      h AS (SELECT DISTINCT lang,
                   ${DetHash.h60Sql("'theta:' || tok")} AS h
            FROM t2),
      k AS (SELECT lang, h FROM h WHERE h < ${1L << 56})
      SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
             CAST(count(*) * 16 AS BIGINT) AS est_distinct
      FROM k GROUP BY 1 ORDER BY 1""",

    "llm_hll_distinct" -> {
      val m = 1L << HllB
      val maxRho = 60 - HllB + 1
      val p = SketchOps.hllScaleBits(HllB)
      val num = SketchOps.hllNumerator(HllB)
      s"""
      WITH tk AS (SELECT lang, unnest(string_split($Norm, ' ')) AS tok
                  FROM documents),
      t2 AS (SELECT lang, tok FROM tk WHERE length(tok) > 0),
      h AS (SELECT lang, ${DetHash.h60Sql("'hll:' || tok")} AS h FROM t2),
      rr AS (SELECT lang, h % $m AS reg, h // $m AS w FROM h),
      r2 AS (SELECT lang, reg,
               CASE WHEN w = 0 THEN $maxRho
                    ELSE bit_count(CAST((w & (-w)) - 1 AS BIGINT)) + 1
               END AS rho
             FROM rr),
      st AS (SELECT lang, reg, max(rho) AS max_rho FROM r2 GROUP BY 1, 2),
      g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_regs,
                   CAST(sum(CAST(1 AS BIGINT) << ($p - max_rho)) AS BIGINT)
                     AS s_run
            FROM st GROUP BY 1),
      e AS (SELECT lang, n_regs, $m - n_regs AS v,
                   $num / CAST(($m - n_regs) * ${1L << p} + s_run AS DOUBLE)
                     AS raw
            FROM g)
      SELECT lang, n_regs,
             CAST(CASE WHEN raw <= ${2.5 * m} AND v > 0
                       THEN round($m.0 * ln($m.0 / v))
                       ELSE round(raw) END AS BIGINT) AS est_distinct
      FROM e ORDER BY lang"""
    },

    "llm_quantile_sketch" -> s"""
      WITH k AS (SELECT DISTINCT lang,
                   ${DetHash.h60Sql("'qsk:' || CAST(doc_id AS VARCHAR)")} AS h,
                   CAST(n_chars AS BIGINT) AS v
                 FROM documents),
      s AS (SELECT lang, h, v FROM k WHERE h < ${1L << 58}),
      g AS (SELECT lang, list_sort(list(v)) AS vs,
                   CAST(count(*) AS BIGINT) AS n_kept
            FROM s GROUP BY 1)
      SELECT lang, n_kept,
             vs[CAST((n_kept*25 + 99)//100 AS INT)] AS p25,
             vs[CAST((n_kept*50 + 99)//100 AS INT)] AS p50,
             vs[CAST((n_kept*75 + 99)//100 AS INT)] AS p75,
             vs[CAST((n_kept*90 + 99)//100 AS INT)] AS p90
      FROM g ORDER BY lang""",

    "llm_fuzzy_join" -> s"""
      WITH ${fuzzyCtes(bound = None)}
      SELECT b.doc_id, d.did,
             CAST(levenshtein(b.k, d.dk) AS BIGINT) AS dist
      FROM base b, dirty d
      WHERE levenshtein(b.k, d.dk) <= $FuzzyK
      ORDER BY 1, 2""",

    // the shared CTEs with an id bound on the dirty side: the
    // incremental serving gate (brute confirm O(|base|) in SF)
    "llm_fuzzy_incr" -> s"""
      WITH ${fuzzyCtes(bound = Some(FuzzyIncrMax))}
      SELECT b.doc_id, d.did,
             CAST(levenshtein(b.k, d.dk) AS BIGINT) AS dist
      FROM base b, dirty d
      WHERE levenshtein(b.k, d.dk) <= $FuzzyK
      ORDER BY 1, 2""",

    // same, with the stream fixture's id bound — the landed-batch
    // closed form of the streaming link
    "llm_stream_fuzzy" -> s"""
      WITH ${fuzzyCtes(bound = Some(StreamFzMaxDoc))}
      SELECT b.doc_id, d.did,
             CAST(levenshtein(b.k, d.dk) AS BIGINT) AS dist
      FROM base b, dirty d
      WHERE levenshtein(b.k, d.dk) <= $FuzzyK
      ORDER BY 1, 2""",

    "llm_fuzzy_dedup" -> s"""
      WITH base AS (SELECT doc_id, substr(text, 1, $FuzzyPrefix) AS k
                    FROM documents
                    WHERE n_chars >= $FuzzyPrefix AND doc_id < $FuzzyPairMax),
      d0 AS (SELECT doc_id, k,
               ${DetHash.h60Sql("'fz:' || CAST(doc_id AS VARCHAR)")} % 3 AS e,
               CAST(${DetHash.h60Sql("'fzp1:' || CAST(doc_id AS VARCHAR)")}
                    % 40 + 4 AS INT) AS p1,
               CAST(${DetHash.h60Sql("'fzp2:' || CAST(doc_id AS VARCHAR)")}
                    % 38 + 2 AS INT) AS p2
             FROM base),
      d1 AS (SELECT doc_id, e, p2,
               CASE WHEN e >= 1
                    THEN substr(k, 1, p1 - 1) || substr(k, p1 + 1, $FuzzyPrefix)
                    ELSE k END AS k1
             FROM d0),
      uni AS (SELECT doc_id, k FROM base
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id,
                     CASE WHEN e = 2
                          THEN substr(k1, 1, p2 - 1) || '#' ||
                               substr(k1, p2 + 1, $FuzzyPrefix)
                          ELSE k1 END AS k
              FROM d1)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(levenshtein(a.k, b.k) AS BIGINT) AS dist
      FROM uni a, uni b
      WHERE a.doc_id < b.doc_id AND levenshtein(a.k, b.k) <= $FuzzyK
      ORDER BY 1, 2""",

    "llm_textrank" -> s"""
      WITH t AS (SELECT string_split($Norm, ' ') AS ws FROM documents),
      t2 AS (SELECT ws FROM t WHERE len(ws) >= 2),
      p AS (SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
              i -> struct_pack(a := ws[i], b := ws[i + 1]))) AS pr FROM t2),
      pp AS (SELECT (pr).a AS a, (pr).b AS b FROM p
             WHERE length((pr).a) > 0 AND length((pr).b) > 0),
      c AS (SELECT a, b FROM pp GROUP BY 1, 2
            HAVING count(*) >= $PmiMinCount),
      e AS (SELECT a AS u, b AS v FROM c UNION SELECT b, a FROM c),
      nd AS (SELECT DISTINCT u AS w FROM e),
      dg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
      pars AS (SELECT (1000000000000 * 15) // 100 // count(*) AS tele,
                      1000000000000 // count(*) AS rinit FROM nd),
      r0 AS (SELECT w, (SELECT rinit FROM pars) AS r FROM nd),
      r1 AS (SELECT nd.w, (SELECT tele FROM pars) +
               (85 * COALESCE(CAST(s.acc AS BIGINT), 0)) // 100 AS r
             FROM nd LEFT JOIN (
               SELECT e.v AS w, sum(r0.r // dg.deg) AS acc
               FROM e JOIN r0 ON e.u = r0.w JOIN dg ON dg.u = e.u
               GROUP BY 1) s ON nd.w = s.w),
      r2 AS (SELECT nd.w, (SELECT tele FROM pars) +
               (85 * COALESCE(CAST(s.acc AS BIGINT), 0)) // 100 AS r
             FROM nd LEFT JOIN (
               SELECT e.v AS w, sum(r1.r // dg.deg) AS acc
               FROM e JOIN r1 ON e.u = r1.w JOIN dg ON dg.u = e.u
               GROUP BY 1) s ON nd.w = s.w),
      r3 AS (SELECT nd.w, (SELECT tele FROM pars) +
               (85 * COALESCE(CAST(s.acc AS BIGINT), 0)) // 100 AS r
             FROM nd LEFT JOIN (
               SELECT e.v AS w, sum(r2.r // dg.deg) AS acc
               FROM e JOIN r2 ON e.u = r2.w JOIN dg ON dg.u = e.u
               GROUP BY 1) s ON nd.w = s.w)
      SELECT CAST(row_number() OVER (ORDER BY r DESC, w) AS BIGINT) AS rk,
             w, r AS score
      FROM r3 ORDER BY r DESC, w LIMIT $PmiTopK""",

    "llm_pmi" -> s"""
      WITH t AS (SELECT string_split($Norm, ' ') AS ws FROM documents),
      t2 AS (SELECT ws FROM t WHERE len(ws) >= 2),
      p AS (SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
              i -> struct_pack(a := ws[i], b := ws[i + 1]))) AS pr FROM t2),
      pp AS (SELECT (pr).a AS a, (pr).b AS b FROM p
             WHERE length((pr).a) > 0 AND length((pr).b) > 0),
      c AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_ab
            FROM pp GROUP BY 1, 2),
      ma AS (SELECT a, CAST(sum(n_ab) AS BIGINT) AS n_a FROM c GROUP BY 1),
      mb AS (SELECT b, CAST(sum(n_ab) AS BIGINT) AS n_b FROM c GROUP BY 1),
      tt AS (SELECT CAST(sum(n_ab) AS BIGINT) AS t FROM c),
      j AS (SELECT c.a, c.b, c.n_ab, ma.n_a, mb.n_b, tt.t
            FROM c JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN tt
            WHERE c.n_ab >= $PmiMinCount),
      r AS (SELECT *, CAST(row_number() OVER (ORDER BY n_ab DESC, a, b)
              AS BIGINT) AS rk FROM j)
      SELECT rk, a, b, n_ab, n_a, n_b,
             CAST((CAST(n_ab AS HUGEINT) * t * 1000000)
               // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS lift_ppm
      FROM r WHERE rk <= $PmiTopK ORDER BY rk""",

    "llm_qsample" -> {
      val inList = TextAnalysisOps.StopWords.map(w => s"'$w'").mkString(", ")
      s"""
      WITH f AS (
        SELECT doc_id, CAST(length(norm) AS BIGINT) AS n_chars,
               CAST($WsTok AS BIGINT) AS n_tokens,
               CAST(length(norm) - length(regexp_replace(norm, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
               CAST(len(list_filter(string_split(norm, ' '), w -> w IN ($inList))) AS BIGINT) AS n_stop
        FROM (SELECT doc_id, $Norm AS norm FROM documents)),
      q AS (
        SELECT doc_id, CAST(floor((
               0.5 * (CAST(n_stop AS DOUBLE) / n_tokens)
               + 0.3 * (CAST(least(n_tokens, 200) AS DOUBLE) / 200.0)
               - 0.2 * (CAST(n_punct AS DOUBLE) / greatest(n_chars, 1))) * 1000) AS BIGINT) AS keep_pm
        FROM f)
      SELECT doc_id, keep_pm FROM q
      WHERE ${DetHash.h60Sql("'qs:' || CAST(doc_id AS VARCHAR)")} % 1000 < keep_pm
      ORDER BY doc_id"""
    },

    "llm_mix" -> s"""
      WITH wts(source, w) AS (VALUES
        ('src0', 1.0), ('src1', 0.5), ('src2', 0.25)),
      ${mixCtes("SELECT source, doc_id FROM documents")}
      SELECT source, doc_id, CAST(rk AS BIGINT) AS rk
      FROM mixr LEFT JOIN wts USING (source)
      WHERE rk <= ceil(coalesce(w, 0.1) * n)
      ORDER BY source, doc_id""",

    "llm_redact" -> s"""
      SELECT doc_id,
             CAST(len(regexp_extract_all(norm, '${TextAnalysisOps.UrlRe}', 0)) AS BIGINT) AS n_urls,
             CAST(len(regexp_extract_all(norm, '${TextAnalysisOps.EmailRe}', 0)) AS BIGINT) AS n_emails,
             CAST(len(regexp_extract_all(norm, '${TextAnalysisOps.Ipv4Re}', 0)) AS BIGINT) AS n_ips,
             md5(regexp_replace(regexp_replace(regexp_replace(norm,
               '${TextAnalysisOps.UrlRe}', '<URL>', 'g'),
               '${TextAnalysisOps.EmailRe}', '<EMAIL>', 'g'),
               '${TextAnalysisOps.Ipv4Re}', '<IP>', 'g')) AS redacted_hash
      FROM (SELECT doc_id, $Norm AS norm FROM documents) ORDER BY 1""",

    "llm_pack" -> s"""
      WITH ${packCtes(s"SELECT doc_id, $Norm AS norm FROM documents")}
      SELECT doc_id, shard, n_tokens,
             CAST((cum - n_tokens) // 2048 AS BIGINT) AS start_seq,
             CAST((cum - n_tokens) % 2048 AS BIGINT) AS start_offset
      FROM pc ORDER BY doc_id""",

    "llm_tfidf" -> s"""
      WITH terms AS (
        SELECT doc_id, unnest(string_split($Norm, ' ')) AS term
        FROM documents),
      t AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM terms WHERE length(term) > 0 GROUP BY 1, 2),
      d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM t GROUP BY 1),
      w AS (SELECT t.doc_id, t.term, t.tf, d.df,
                   CAST((t.tf * 1000000) // d.df AS BIGINT) AS weight_ppm
            FROM t JOIN d USING (term)),
      r AS (SELECT *, CAST(row_number() OVER (
              PARTITION BY doc_id ORDER BY weight_ppm DESC, term) AS BIGINT) AS rk
            FROM w)
      SELECT doc_id, term, tf, df, weight_ppm, rk
      FROM r WHERE rk <= 3 ORDER BY doc_id, rk""",

    // same pair pipeline, then min-reachable-label per node: the
    // recursive walk propagates every label along undirected edges, so
    // min(lbl) per node = the component's minimum doc id
    "llm_dup_clusters" -> s"""
      WITH RECURSIVE $ShingleCte, $SigCte, $BandCte, ${candCte(CapBucket)},
      $JaccardSelect, $WalkCtes
      SELECT doc_id, cluster_id, is_keeper FROM labels ORDER BY 1""",

    "llm_dup_rate" -> s"""
      WITH RECURSIVE $ShingleCte, $SigCte, $BandCte, ${candCte(CapBucket)},
      $JaccardSelect, $WalkCtes
      SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(l.doc_id) AS BIGINT) AS n_in_pairs,
             CAST(count_if(l.is_keeper = false) AS BIGINT) AS n_dropped
      FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
      GROUP BY 1 ORDER BY 1""",

    "llm_simhash_pairs" -> {
      val ssum = (0 until 32)
        .map(j => s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j")
        .mkString(", ")
      val fpExpr = (0 until 32)
        .map(j => s"CASE WHEN s$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END")
        .mkString(" + ")
      s"""
      WITH tok AS (
        SELECT doc_id, ${DetHash.h60Sql("w")} AS h
        FROM (SELECT doc_id, unnest(string_split($Norm, ' ')) AS w FROM documents)),
      sums AS (SELECT doc_id, $ssum FROM tok GROUP BY doc_id),
      fp AS (SELECT doc_id, $fpExpr AS simhash FROM sums),
      bands AS (
        SELECT doc_id, simhash, band, (simhash >> (8*band)) & 255 AS bkey
        FROM fp, (SELECT unnest([0,1,2,3]) AS band)),
      -- over-cap band buckets are SPLIT into ceil(c/50) member-hash
      -- sub-buckets (not dropped), mirroring simHashPairs
      ccnt AS MATERIALIZED (SELECT band, bkey,
                      CAST((count(*) + 49) // 50 AS BIGINT) AS nsub
               FROM bands GROUP BY 1, 2 HAVING count(*) >= 2),
      csub AS MATERIALIZED (SELECT s.doc_id, s.simhash, s.band, s.bkey,
                      ${graft.functions.DetHash.h60Sql(
                        "'sh:' || CAST(s.band AS VARCHAR) || ':' || " +
                        "CAST(s.bkey AS VARCHAR) || ':' || " +
                        "CAST(s.doc_id AS VARCHAR)")} % c.nsub AS sub
               FROM bands s JOIN ccnt c USING (band, bkey)),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        FROM csub a JOIN csub b
          ON b.band = a.band AND b.bkey = a.bkey AND b.sub = a.sub
         AND a.doc_id < b.doc_id)
      SELECT doc_a, doc_b, hamming FROM cand
      WHERE hamming <= $MaxHamming ORDER BY doc_a, doc_b"""
    },

    "llm_ngram_jaccard" -> {
      def gram(n: Int) = (1 until n).foldLeft("ws[i]")((acc, k) => s"$acc || ' ' || ws[i+$k]")
      val c = DetHash.CombineC
      val m = DetHash.M31
      s"""
      WITH words AS (
        SELECT doc_id, string_split($Norm, ' ') AS ws FROM documents
        WHERE len(string_split($Norm, ' ')) >= 5),
      g3p AS ( -- positional 3-gram hashes, the single md5 pass
        SELECT doc_id, list_transform(generate_series(1, len(ws)-2),
                 i -> ${h31(gram(3))}) AS g
        FROM words),
      bucket5 AS ( -- 5-gram key = combine of its 3 constituent 3-grams
        SELECT DISTINCT doc_id,
               ((((g[i] * $c + g[i+1]) % $m) * $c) + g[i+2]) % $m AS bkey
        FROM (SELECT doc_id, g, unnest(generate_series(1, len(g)-2)) AS i
              FROM g3p)),
      sh AS (
        SELECT DISTINCT doc_id, unnest(g) AS h31 FROM g3p),
      -- over-cap 5-gram buckets split into ceil(c/20) member-hash
      -- sub-buckets (mirrors cappedPairs via withSubBucket)
      ccnt AS MATERIALIZED (SELECT bkey, CAST((count(*) + 19) // 20 AS BIGINT) AS nsub
               FROM bucket5 GROUP BY 1 HAVING count(*) >= 2),
      csub AS MATERIALIZED (SELECT s.doc_id, s.bkey,
                      ${graft.functions.DetHash.h60Sql(
                        "'ps:' || CAST(s.bkey AS VARCHAR) || ':' || " +
                        "CAST(s.doc_id AS VARCHAR)")} % c.nsub AS sub
               FROM bucket5 s JOIN ccnt c USING (bkey)),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM csub a JOIN csub b
          ON b.bkey = a.bkey AND b.sub = a.sub AND a.doc_id < b.doc_id),
      $JaccardSelect
      SELECT * FROM jac WHERE jaccard >= $NgramMinJaccard ORDER BY doc_a, doc_b"""
    },

    // candidate pairs form FIRST (materialized, label-constrained,
    // probe-bounded — ~probes×|label group| rows), and only then the
    // per-dimension dot join runs against them. The previous
    // single-block form left `u ua JOIN u ub ON ub.i = ua.i` free for
    // the optimizer to build BEFORE the probe/label restrictions — a
    // |u|²/dims ≈ 1.6B-row intermediate whenever the join order
    // flipped, which is exactly the 30→300 s swing PROXY runs kept
    // recording for this entry. Value-identical: same inner joins,
    // same predicates, same grouping.
    "llm_ann_filtered" -> s"""
      WITH $QuantCte,
      lab AS (SELECT vec_id, CAST(label AS BIGINT) AS grp FROM embeddings),
      cand AS MATERIALIZED (
        SELECT pa.vec_id AS probe_id, la.grp AS grp, lb.vec_id AS vec_id,
               pa.nrm AS pn, pb.nrm AS nrm
        FROM qn pa
        JOIN lab la ON la.vec_id = pa.vec_id
        JOIN lab lb ON lb.grp = la.grp AND lb.vec_id <> pa.vec_id
        JOIN qn pb ON pb.vec_id = lb.vec_id
        WHERE pa.vec_id < $AnnProbeMax),
      dots AS (
        SELECT c.probe_id, c.grp, c.vec_id,
               CAST(sum(ua.v * ub.v) AS BIGINT) AS dot,
               any_value(c.pn) AS pn, any_value(c.nrm) AS nrm
        FROM cand c
        JOIN u ua ON ua.vec_id = c.probe_id
        JOIN u ub ON ub.vec_id = c.vec_id AND ub.i = ua.i
        GROUP BY 1, 2, 3),
      scored AS (
        SELECT probe_id, grp, vec_id, $CosSql AS cos,
               CAST(row_number() OVER (PARTITION BY probe_id
                 ORDER BY $CosSql DESC, vec_id) AS INTEGER) AS rk
        FROM dots)
      SELECT probe_id, grp, vec_id, cos, rk FROM scored
      WHERE rk <= $AnnK ORDER BY probe_id, rk""",

    "llm_ann_topk" -> s"""
      WITH $QuantCte,
      dots AS (
        SELECT pa.vec_id AS probe_id, pb.vec_id AS vec_id,
               CAST(sum(ua.v * ub.v) AS BIGINT) AS dot,
               any_value(pa.nrm) AS pn, any_value(pb.nrm) AS nrm
        FROM qn pa JOIN u ua ON ua.vec_id = pa.vec_id
        JOIN u ub ON ub.i = ua.i
        JOIN qn pb ON pb.vec_id = ub.vec_id AND pb.vec_id <> pa.vec_id
        WHERE pa.vec_id < $AnnProbeMax
        GROUP BY 1, 2),
      scored AS (
        SELECT probe_id, vec_id, $CosSql AS cos,
               CAST(row_number() OVER (PARTITION BY probe_id
                 ORDER BY $CosSql DESC, vec_id) AS INTEGER) AS rk
        FROM dots)
      SELECT probe_id, vec_id, cos, rk FROM scored
      WHERE rk <= $AnnK ORDER BY probe_id, rk""",

    "llm_ann_lsh" -> AnnLshSql,

    // the streaming serving path answers the SAME contract as the batch
    // LSH top-k (identical probe set, multi-probe radius, candidate
    // buckets, cosine, and rank order), so it gates against the SAME
    // oracle — the strongest possible batch/stream parity check
    "llm_stream_ann" -> AnnLshSql,

    "llm_knn_graph" -> {
      val signs = DetHash.lshSigns(EmbedPlanes, EmbDim)
      val signRows = (0 until EmbedPlanes)
        .map(p => s"($p, [${signs(p).mkString(",")}])").mkString(", ")
      val buckVal = "CASE pl " + (0 until EmbedPlanes)
        .map(p => s"WHEN $p THEN ${1L << p}").mkString(" ") + " END"
      val flipList = (0 until EmbedPlanes)
        .map(pl => s"xor(bucket, ${1L << pl})").mkString(", ")
      s"""
      WITH $QuantCte,
      signs AS (SELECT pl, unnest(ss) AS s, unnest(generate_series(1, $EmbDim)) AS i
                FROM (VALUES $signRows) t(pl, ss)),
      bdot AS (SELECT u.vec_id, signs.pl, CAST(sum(u.v * signs.s) AS BIGINT) AS d
               FROM u JOIN signs ON signs.i = u.i GROUP BY 1, 2),
      bucket AS (SELECT vec_id,
               CAST(sum(CASE WHEN d >= 0 THEN $buckVal ELSE 0 END) AS BIGINT) AS bucket
               FROM bdot GROUP BY 1),
      -- over-cap corpus buckets split into ceil(c/500) member-hash
      -- sub-buckets; each probe draws one sub per probed bucket
      -- (mirrors knnGraph)
      ccnt AS MATERIALIZED (SELECT bucket, CAST((count(*) + 499) // 500 AS BIGINT) AS nsub
               FROM bucket GROUP BY 1 HAVING count(*) >= 2),
      corpus AS MATERIALIZED (SELECT b.vec_id, b.bucket,
                        ${graft.functions.DetHash.h60Sql(
                          "'ps:' || CAST(b.bucket AS VARCHAR) || ':' || " +
                          "CAST(b.vec_id AS VARCHAR)")} % c.nsub AS sub
                 FROM bucket b JOIN ccnt c USING (bucket)),
      pbuckets AS ( -- every vector probes its own + Hamming-1 buckets
        SELECT vec_id AS probe_id, unnest([bucket, $flipList]) AS bucket
        FROM bucket),
      psub AS (SELECT p.probe_id, p.bucket,
                      ${graft.functions.DetHash.h60Sql(
                        "'ps:' || CAST(p.bucket AS VARCHAR) || ':' || " +
                        "CAST(p.probe_id AS VARCHAR)")} % c.nsub AS sub
               FROM pbuckets p JOIN ccnt c USING (bucket)),
      dots AS (
        SELECT pl.probe_id, pb.vec_id AS nbr_id,
               CAST(sum(ua.v * ub.v) AS BIGINT) AS dot,
               any_value(pa.nrm) AS pn, any_value(pb.nrm) AS nrm
        FROM psub pl
        JOIN corpus bb ON bb.bucket = pl.bucket AND bb.sub = pl.sub
        JOIN qn pa ON pa.vec_id = pl.probe_id
        JOIN qn pb ON pb.vec_id = bb.vec_id AND pb.vec_id <> pl.probe_id
        JOIN u ua ON ua.vec_id = pl.probe_id
        JOIN u ub ON ub.vec_id = pb.vec_id AND ub.i = ua.i
        GROUP BY 1, 2),
      scored AS (
        SELECT probe_id AS vec_id, nbr_id, $CosSql AS cos,
               CAST(row_number() OVER (PARTITION BY probe_id
                 ORDER BY $CosSql DESC, nbr_id) AS INTEGER) AS rk
        FROM dots)
      SELECT vec_id, nbr_id, cos, rk FROM scored
      WHERE rk <= $AnnK ORDER BY vec_id, rk"""
    },

    "llm_ann_ivf" -> s"""
      WITH $QuantCte,
      ${ivfTrainCtes(IvfIters)},
      ${ivfAssignCtes(IvfIters)},
      $IvfServeSql""",

    // streaming index append: the frozen quantizer is trained on the
    // BASE split only; the oracle then assigns EVERY vector against it
    // (the rebuild) and serves — hash-equality against the engine's
    // append-path serving (base assignments ∪ ingest-assigned stream
    // rows) IS the append == rebuild proof, pair-for-pair
    "llm_stream_ann_append" -> s"""
      WITH $QuantCte,
      ${ivfTrainCtes(IvfIters, BaseRestrict)},
      ${ivfAssignCtes(IvfIters)},
      $IvfServeSql""",

    // PQ twin: codebook seeded from the BASE split only; encode CTEs
    // cover every vector (the rebuild); ADC serving as llm_ann_pq
    "llm_stream_pq_append" -> s"""
      ${pqCtes(BaseRestrict)}
      SELECT probe_id, vec_id, approx_dot, rk FROM ranked
      WHERE rk <= $AnnK ORDER BY probe_id, rk""",

    "llm_binary_features" -> s"""
      SELECT doc_id AS media_id,
             (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
             octet_length(encode(text)) AS n_bytes,
             md5(text) AS content_md5,
             hex(encode(substring(text, 1, 8))) AS head_hex,
             (octet_length(encode(text)) + ${MultimodalOps.FrameBytes - 1})
               // ${MultimodalOps.FrameBytes} AS n_frames
      FROM documents ORDER BY 1""",

    "llm_frames" -> {
      val fb = MultimodalOps.FrameBytes
      s"""
      WITH media AS (
        SELECT doc_id AS media_id, hex(encode(text)) AS ph FROM documents),
      idx AS (
        SELECT media_id, ph,
               unnest(generate_series(0,
                 (length(ph) // 2 + ${fb - 1}) // $fb - 1, 2)) AS frame_idx
        FROM media),
      fr AS (
        SELECT media_id, frame_idx,
               substring(ph, frame_idx * ${2 * fb} + 1, ${2 * fb}) AS frame_hex
        FROM idx)
      SELECT media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
             CAST(length(frame_hex) // 2 AS BIGINT) AS n_bytes, frame_hex
      FROM fr ORDER BY media_id, frame_idx"""
    },

    // Mirrors BinaryResize's integer box filter from one definition:
    // bucket j = bytes [j*n/w, max((j+1)*n/w, j*n/w+1)), round-half-up
    // mean. Bytes come out of the hex projection two chars at a time
    // (DuckDB cannot index BLOB bytes either) — the reference shape,
    // one row per byte, which is exactly what the Spark plan avoids.
    "llm_resize" -> {
      val w = MultimodalOps.ThumbWidth
      s"""
      WITH media AS (
        SELECT doc_id AS media_id, hex(encode(text)) AS ph FROM documents),
      m AS (SELECT media_id, ph, length(ph) // 2 AS n
            FROM media WHERE length(ph) > 0),
      jj AS (SELECT media_id, ph, n,
                    unnest(generate_series(0, ${w - 1})) AS j FROM m),
      r AS (SELECT media_id, ph, j, (j * n) // $w AS lo,
                   greatest(((j + 1) * n) // $w, (j * n) // $w + 1) AS hi
            FROM jj),
      b AS (SELECT media_id, j, hi - lo AS cnt,
                   unnest(generate_series(lo, hi - 1)) AS i, ph
            FROM r),
      v AS (SELECT media_id, j, cnt,
                   (strpos('0123456789ABCDEF', substring(ph, i * 2 + 1, 1)) - 1) * 16
                   + strpos('0123456789ABCDEF', substring(ph, i * 2 + 2, 1)) - 1 AS bv
            FROM b),
      sm AS (SELECT media_id, j, cnt, SUM(bv) AS s
             FROM v GROUP BY 1, 2, 3)
      SELECT media_id, CAST(j AS INT) AS j,
             CAST((2 * s + cnt) // (2 * cnt) AS INT) AS px
      FROM sm ORDER BY media_id, j"""
    },

    "llm_novelty" -> {
      val gram8 = (1 until BloomGramN)
        .foldLeft("ws[i]")((acc, k) => s"$acc || ' ' || ws[i+$k]")
      s"""
      WITH d AS (SELECT doc_id, string_split($Norm, ' ') AS ws
                 FROM documents),
      gl AS (SELECT doc_id,
                    list_distinct(list_transform(
                      generate_series(1, len(ws) - ${BloomGramN - 1}),
                      i -> $gram8)) AS gs
             FROM d WHERE len(ws) >= $BloomGramN),
      g AS (SELECT doc_id, unnest(gs) AS g FROM gl),
      c AS (SELECT g, CAST(count(*) AS BIGINT) AS nd FROM g GROUP BY 1)
      SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             CAST(count(CASE WHEN c.nd = 1 THEN 1 END) AS BIGINT) AS n_unique,
             CAST(count(CASE WHEN c.nd = 1 THEN 1 END) AS DOUBLE)/count(*)
               AS novelty
      FROM g JOIN c USING (g) GROUP BY 1 ORDER BY 1"""
    },

    "llm_frame_dedup" -> {
      val fb = MultimodalOps.FrameBytes
      s"""
      WITH media AS (
        SELECT doc_id AS media_id, hex(encode(text)) AS ph FROM documents),
      idx AS (
        SELECT media_id, ph,
               unnest(generate_series(0,
                 (length(ph) // 2 + ${fb - 1}) // $fb - 1, 2)) AS frame_idx
        FROM media),
      fr AS (
        SELECT media_id,
               md5(substring(ph, frame_idx * ${2 * fb} + 1, ${2 * fb})) AS frame_h
        FROM idx),
      dm AS (SELECT DISTINCT frame_h, media_id FROM fr),
      md AS (SELECT frame_h, CAST(count(*) AS BIGINT) AS n_media,
                    min(media_id) AS first_media
             FROM dm GROUP BY 1 HAVING count(*) >= 2),
      oc AS (SELECT frame_h, CAST(count(*) AS BIGINT) AS n_occ
             FROM fr GROUP BY 1)
      SELECT md.frame_h, md.n_media, oc.n_occ, md.first_media
      FROM md JOIN oc USING (frame_h) ORDER BY 1"""
    },

    // streaming frame dedup closed form: the in-event-time-order feed
    // resolves each frame cell's holder to its minimum media_id; a
    // frame is an external dup iff that holder precedes its own media
    "llm_stream_frame_dedup" -> {
      val fb = MultimodalOps.FrameBytes
      s"""
      WITH media AS (
        SELECT doc_id AS media_id, hex(encode(text)) AS ph FROM documents
        WHERE doc_id <= $StreamFdMaxMedia),
      idx AS (
        SELECT media_id, ph,
               unnest(generate_series(0,
                 (length(ph) // 2 + ${fb - 1}) // $fb - 1, 2)) AS frame_idx
        FROM media),
      fr AS (
        SELECT media_id,
               md5(substring(ph, frame_idx * ${2 * fb} + 1, ${2 * fb})) AS frame_h
        FROM idx),
      hold AS (SELECT frame_h, min(media_id) AS holder FROM fr GROUP BY 1),
      per AS (
        SELECT f.media_id,
               CAST(count(*) AS BIGINT) AS n_frames,
               CAST(count(CASE WHEN h.holder < f.media_id THEN 1 END)
                 AS BIGINT) AS n_dup_frames,
               min(CASE WHEN h.holder < f.media_id THEN h.holder END) AS dup_of
        FROM fr f JOIN hold h USING (frame_h) GROUP BY 1)
      SELECT media_id, n_frames, n_dup_frames, dup_of FROM per
      ORDER BY media_id"""
    },

    "llm_embed_dedup" -> {
      val signs = DetHash.lshSigns(EmbedPlanes, EmbDim)
      val signRows = (0 until EmbedPlanes)
        .map(p => s"($p, [${signs(p).mkString(",")}])").mkString(", ")
      val buckVal = "CASE pl WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 " +
        "WHEN 3 THEN 8 WHEN 4 THEN 16 WHEN 5 THEN 32 END"
      s"""
      WITH $QuantCte,
      signs AS (SELECT pl, unnest(ss) AS s, unnest(generate_series(1, $EmbDim)) AS i
                FROM (VALUES $signRows) t(pl, ss)),
      bdot AS (SELECT u.vec_id, signs.pl, CAST(sum(u.v * signs.s) AS BIGINT) AS d
               FROM u JOIN signs ON signs.i = u.i GROUP BY 1, 2),
      bucket AS (SELECT vec_id,
               CAST(sum(CASE WHEN d >= 0 THEN $buckVal ELSE 0 END) AS BIGINT) AS bucket
               FROM bdot GROUP BY 1),
      -- over-cap LSH buckets split into ceil(c/500) member-hash
      -- sub-buckets (mirrors cosineDedup)
      ccnt AS MATERIALIZED (SELECT bucket, CAST((count(*) + 499) // 500 AS BIGINT) AS nsub
               FROM bucket GROUP BY 1 HAVING count(*) >= 2),
      csub AS MATERIALIZED (SELECT s.vec_id, s.bucket,
                      ${graft.functions.DetHash.h60Sql(
                        "'ps:' || CAST(s.bucket AS VARCHAR) || ':' || " +
                        "CAST(s.vec_id AS VARCHAR)")} % c.nsub AS sub
               FROM bucket s JOIN ccnt c USING (bucket)),
      pair AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM csub a JOIN csub b
          ON b.bucket = a.bucket AND b.sub = a.sub AND a.vec_id < b.vec_id),
      dots AS (
        SELECT p.vec_a, p.vec_b, CAST(sum(ua.v * ub.v) AS BIGINT) AS dot,
               any_value(na.nrm) AS na, any_value(nb.nrm) AS nb
        FROM pair p
        JOIN qn na ON na.vec_id = p.vec_a
        JOIN qn nb ON nb.vec_id = p.vec_b
        JOIN u ua ON ua.vec_id = p.vec_a
        JOIN u ub ON ub.vec_id = p.vec_b AND ub.i = ua.i
        GROUP BY 1, 2)
      SELECT vec_a, vec_b,
             CASE WHEN na > 0 AND nb > 0 THEN CAST(dot AS DOUBLE)
               / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
               ELSE 0.0 END AS cos
      FROM dots
      WHERE cos >= $EmbedMinCos -- DuckDB reusable alias: ONE definition
      ORDER BY 1, 2"""
    },

    "llm_label_centroids" -> """
      WITH q AS (SELECT label, list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv
                 FROM embeddings),
      u AS (SELECT label, unnest(qv) AS v,
              unnest(generate_series(1, len(qv))) AS i FROM q)
      SELECT label, i, CAST(CAST(sum(v) AS BIGINT) AS DOUBLE)/count(*)/1000.0 AS mean,
             count(*) AS n
      FROM u GROUP BY 1, 2 ORDER BY 1, 2""",

    "llm_boilerplate" -> s"""
      WITH sent AS (
        SELECT DISTINCT doc_id, ${h31("s")} AS sent_h31
        FROM (SELECT doc_id, unnest(regexp_split_to_array(norm, '[.!?]+\\s+')) AS s
              FROM (SELECT doc_id, $NormFooter AS norm FROM documents))
        WHERE length(s) >= 20)
      SELECT sent_h31, count(*) AS n_docs, min(doc_id) AS first_doc
      FROM sent GROUP BY 1 HAVING count(*) >= 2 ORDER BY 1""",

    "llm_repetition" -> """
      WITH g AS (
        SELECT doc_id, list_transform(generate_series(1, len(ws)-2),
                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS gs
        FROM (SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
              FROM documents)
        WHERE len(ws) >= 3)
      SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_grams,
             CAST(len(list_distinct(gs)) AS BIGINT) AS n_distinct,
             1.0 - CAST(len(list_distinct(gs)) AS DOUBLE)/len(gs) AS rep_ratio
      FROM g ORDER BY 1""",

    "llm_lang_id" -> s"""
      WITH tri AS (
        SELECT doc_id, unnest(list_transform(generate_series(1, length(norm)-2),
                 i -> substr(norm, i, 3))) AS tri
        FROM (SELECT doc_id, $Norm AS norm FROM documents)
        WHERE length(norm) >= 3),
      profile AS (
        SELECT lang AS cand_lang, tri, CAST(count(*) AS BIGINT) AS cnt
        FROM tri JOIN documents USING (doc_id)
        GROUP BY 1, 2
        QUALIFY row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, tri) <= 40),
      score AS (
        SELECT t.doc_id, p.cand_lang, CAST(sum(p.cnt) AS BIGINT) AS score
        FROM tri t JOIN profile p USING (tri) GROUP BY 1, 2)
      SELECT doc_id,
             (max(struct_pack(s := score, l := cand_lang))).l AS pred_lang,
             (max(struct_pack(s := score, l := cand_lang))).s AS score
      FROM score GROUP BY 1 ORDER BY 1""",

    "llm_chunk" -> {
      val stride = ChunkLen - ChunkOverlap
      s"""
      WITH d AS (SELECT doc_id, $Norm AS norm FROM documents),
      c AS (
        SELECT doc_id, norm,
               unnest(generate_series(0,
                 greatest(length(norm) - $ChunkOverlap - 1, 0) // $stride)) AS j
        FROM d WHERE length(norm) > 0)
      SELECT doc_id, CAST(j AS BIGINT) AS chunk_idx,
             CAST(j * $stride + 1 AS BIGINT) AS start,
             CAST(length(substr(norm, j * $stride + 1, $ChunkLen)) AS BIGINT) AS n_chars,
             md5(substr(norm, j * $stride + 1, $ChunkLen)) AS chunk_hash
      FROM c ORDER BY doc_id, chunk_idx"""
    },

    "llm_seg_dedup" -> s"""
      WITH d AS (SELECT doc_id, string_split($Norm, ' ') AS ws FROM documents),
      segs AS (
        SELECT doc_id, j,
               array_to_string(list_slice(ws, j * $SegWords + 1,
                 j * $SegWords + $SegWords), ' ') AS seg
        FROM (SELECT doc_id, ws,
                unnest(generate_series(0, (len(ws) - 1) // $SegWords)) AS j
              FROM d)),
      sh AS (SELECT doc_id, j, seg, ${DetHash.h60Sql("seg")} AS seg_h FROM segs),
      shared AS (
        SELECT seg_h FROM (SELECT DISTINCT seg_h, doc_id FROM sh)
        GROUP BY 1 HAVING count(*) >= 2),
      kept AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
               md5(string_agg(seg, ' ' ORDER BY j)) AS clean_hash
        FROM sh WHERE seg_h NOT IN (SELECT seg_h FROM shared)
        GROUP BY 1),
      tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs
              FROM sh GROUP BY 1)
      SELECT t.doc_id, t.n_segs,
             CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
             coalesce(k.clean_hash, md5('')) AS clean_hash
      FROM tot t LEFT JOIN kept k USING (doc_id) ORDER BY 1""",

    "llm_span_dedup" -> s"""
      WITH d AS (SELECT doc_id, norm
                 FROM (SELECT doc_id, $Norm AS norm FROM documents)
                 WHERE length(norm) >= $SpanLen),
      -- codepoint list + rolling-polynomial anchor rule: the SQL mirror
      -- of graft.functions.SpanAnchors (8-term Horner, base 31 mod 1e9+7)
      c AS (SELECT doc_id, norm,
              list_transform(string_split(norm, ''), ch -> ascii(ch)) AS cs
            FROM d),
      spans AS (
        SELECT doc_id,
               ${DetHash.h60Sql(s"substr(norm, i, $SpanLen)")} AS span_h60
        FROM (SELECT doc_id, norm,
                unnest(list_filter(
                  generate_series(1, length(norm) - ${SpanLen - 1}),
                  i -> ${graft.functions.SpanAnchors.anchorSql("cs", "i",
                          SpanAnchorMod)})) AS i
              FROM c))
      SELECT span_h60, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_occ, min(doc_id) AS first_doc
      FROM spans GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
      ORDER BY 1""",

    "llm_lm_score" -> s"""
      WITH d AS (SELECT doc_id, string_split($Norm, ' ') AS ws,
                        ${TextAnalysisOps.splitBucketSql("doc_id")} AS bucket
                 FROM documents),
      bg AS (
        SELECT doc_id, bucket, ws[i] AS w1, ws[i+1] AS w2
        FROM (SELECT doc_id, bucket, ws,
                unnest(generate_series(1, len(ws) - 1)) AS i
              FROM d WHERE len(ws) >= 2)),
      c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
             FROM bg WHERE bucket < 80 GROUP BY 1, 2),
      c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1
             FROM bg WHERE bucket < 80 GROUP BY 1),
      model AS (SELECT c2.w1, c2.w2,
                       CAST(c2.c2 * 1000000 // c1.c1 AS BIGINT) AS p_ppm
                FROM c2 JOIN c1 USING (w1)),
      sc AS (SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                    CAST(sum(coalesce(m.p_ppm, 0)) AS BIGINT) AS psum
             FROM bg b LEFT JOIN model m ON m.w1 = b.w1 AND m.w2 = b.w2
             GROUP BY 1)
      SELECT doc_id, n_bigrams, CAST(psum // n_bigrams AS BIGINT) AS lm_ppm
      FROM sc ORDER BY doc_id""",

    "llm_bloom_incr" -> {
      // raw gram strings, no hash: the Spark side joins exact n-grams
      // (Bloom positions are engine-internal and never reach the output)
      val gram8 = (1 until BloomGramN)
        .foldLeft("ws[i]")((acc, k) => s"$acc || ' ' || ws[i+$k]")
      s"""
      WITH d AS (SELECT doc_id, string_split($Norm, ' ') AS ws,
                        ${TextAnalysisOps.splitBucketSql("doc_id")} AS bucket
                 FROM documents),
      gl AS (
        SELECT doc_id, bucket,
               list_transform(generate_series(1, len(ws) - ${BloomGramN - 1}),
                 i -> $gram8) AS gs
        FROM d WHERE len(ws) >= $BloomGramN),
      gd AS (SELECT DISTINCT doc_id, bucket, unnest(gs) AS g FROM gl),
      oldg AS (SELECT DISTINCT g FROM gd WHERE bucket < 80),
      tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
              FROM gd WHERE bucket >= 80 GROUP BY 1),
      shr AS (SELECT gd.doc_id, CAST(count(*) AS BIGINT) AS n_shared
              FROM gd JOIN oldg USING (g) WHERE bucket >= 80
              GROUP BY 1)
      SELECT t.doc_id, t.n_grams, s.n_shared
      FROM tot t JOIN shr s USING (doc_id)
      WHERE s.n_shared >= 1 ORDER BY doc_id"""
    },

    "llm_ann_pq" -> s"""
      ${pqCtes()}
      SELECT probe_id, vec_id, approx_dot, rk FROM ranked
      WHERE rk <= $AnnK ORDER BY probe_id, rk""",

    // two-stage serving: ADC top-R shortlist, exact-cosine re-rank
    "llm_ann_pq_rr" -> s"""
      ${pqCtes()},
      short AS (SELECT probe_id, vec_id FROM ranked WHERE rk <= $PqRerankR),
      exd AS (
        SELECT s.probe_id, s.vec_id,
               CAST(sum(up.v * uv.v) AS BIGINT) AS dot,
               any_value(qp.nrm) AS pn, any_value(qc.nrm) AS nrm
        FROM short s
        JOIN u up ON up.vec_id = s.probe_id
        JOIN u uv ON uv.vec_id = s.vec_id AND uv.i = up.i
        JOIN qn qp ON qp.vec_id = s.probe_id
        JOIN qn qc ON qc.vec_id = s.vec_id
        GROUP BY 1, 2),
      rr AS (
        SELECT probe_id, vec_id, $CosSql AS cos,
               CAST(row_number() OVER (PARTITION BY probe_id
                 ORDER BY $CosSql DESC, vec_id) AS INTEGER) AS rk
        FROM exd)
      SELECT probe_id, vec_id, cos, rk FROM rr
      WHERE rk <= $AnnK ORDER BY probe_id, rk""",

    "llm_stratified" -> {
      val cases = StratRates.toSeq.sortBy(_._1)
        .map { case (k, r) =>
          s"WHEN '$k' THEN ${math.floor(r * 1000000).toLong}" }
        .mkString(" ")
      val dflt = math.floor(StratDefault * 1000000).toLong
      s"""
      WITH s AS (
        SELECT lang AS stratum, doc_id,
               CASE lang $cases ELSE $dflt END AS keep_ppm
        FROM documents)
      SELECT stratum, doc_id, CAST(keep_ppm AS BIGINT) AS keep_ppm
      FROM s
      WHERE ${DetHash.h60Sql("'strat:' || CAST(doc_id AS VARCHAR)")} % 1000000
            < keep_ppm
      ORDER BY stratum, doc_id"""
    },

    "llm_importance" -> s"""
      WITH d AS (SELECT doc_id, lang = 'en' AS is_t,
                        string_split($Norm, ' ') AS ws,
                        ${TextAnalysisOps.splitBucketSql("doc_id")} AS bucket
                 FROM documents),
      bg AS (
        SELECT doc_id, bucket, is_t, ws[i] AS w1, ws[i+1] AS w2
        FROM (SELECT doc_id, bucket, is_t, ws,
                unnest(generate_series(1, len(ws) - 1)) AS i
              FROM d WHERE len(ws) >= 2)),
      tc2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
              FROM bg WHERE bucket < 80 AND is_t GROUP BY 1, 2),
      tc1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1
              FROM bg WHERE bucket < 80 AND is_t GROUP BY 1),
      tm AS (SELECT tc2.w1, tc2.w2,
                    CAST(tc2.c2 * 1000000 // tc1.c1 AS BIGINT) AS tp
             FROM tc2 JOIN tc1 USING (w1)),
      bc2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
              FROM bg WHERE bucket < 80 GROUP BY 1, 2),
      bc1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1
              FROM bg WHERE bucket < 80 GROUP BY 1),
      bm AS (SELECT bc2.w1, bc2.w2,
                    CAST(bc2.c2 * 1000000 // bc1.c1 AS BIGINT) AS bp
             FROM bc2 JOIN bc1 USING (w1)),
      sc AS (SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                    CAST(sum(coalesce(tm.tp, 0)) AS BIGINT) AS ts,
                    CAST(sum(coalesce(bm.bp, 0)) AS BIGINT) AS bs
             FROM bg b
             LEFT JOIN tm ON tm.w1 = b.w1 AND tm.w2 = b.w2
             LEFT JOIN bm ON bm.w1 = b.w1 AND bm.w2 = b.w2
             GROUP BY 1)
      SELECT doc_id, n_bigrams,
             CAST(ts // n_bigrams AS BIGINT) AS target_ppm,
             CAST(bs // n_bigrams AS BIGINT) AS base_ppm,
             CAST(ts // n_bigrams - bs // n_bigrams AS BIGINT) AS importance
      FROM sc ORDER BY doc_id""")
}
