package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft._
import graft.functions.DetHash
import graft.operators.DedupOps.normText

/** Text-analysis operators for corpus curation: per-group stats, token
  * counting (whitespace + regex lexer), quality scoring, self-training
  * character-trigram language identification, and MinHash fingerprints.
  *
  * All counts are exact integers; every ratio is a single double division
  * of exact integers (deterministic cross-engine). The language-ID profile
  * table is tiny (langs × top-k trigrams) and broadcast to the scoring
  * join, so classification is one scan of the corpus.
  */
object TextAnalysisOps {

  /** Whitespace token count without tokenizing: spaces+1 on the collapsed
    * normal form. Exact, allocation-free, codegen-friendly. */
  def wsTokens(norm: Column): Column =
    (length(norm) - length(regexp_replace(norm, " ", "")) + 1).cast("long")

  /** Per-(lang, source) corpus stats. Output: lang, source, n_docs,
    * sum_chars, avg_chars, sum_tokens, avg_tokens. */
  def textStats(docs: DataFrame, lang: Column, source: Column, nChars: Column,
                text: Column): DataFrame =
    docs.select(lang.as("lang"), source.as("source"), nChars.as("nc"),
        wsTokens(normText(text)).as("tk"))
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"), sum($"nc").as("sum_chars"),
        sum($"tk").as("sum_tokens"))
      .select($"lang", $"source", $"n_docs", $"sum_chars",
        ($"sum_chars".cast("double") / $"n_docs").as("avg_chars"),
        $"sum_tokens",
        ($"sum_tokens".cast("double") / $"n_docs").as("avg_tokens"))

  /** Per-stratum equi-width length histogram — the corpus-profiling
    * readout behind every curation decision (where to set length
    * filters, whether a source ships truncated docs). One narrow bin
    * projection and one (stratum, bin) partial-agg shuffle; the key
    * space is strata × occupied bins, so hot strata collapse map-side
    * and the shuffled row count is tiny at any corpus size. All counts
    * and bounds are exact integers; the mean is the single double
    * division. Output: stratum, bin (floor(len/width)), n, min_len,
    * max_len, avg_len. */
  def lengthHistogram(docs: DataFrame, stratum: Column, len: Column,
                      binWidth: Long): DataFrame = {
    require(binWidth > 0)
    docs.select(stratum.as("stratum"), len.cast("long").as("len"))
      .groupBy($"stratum", expr(s"len DIV $binWidth").as("bin"))
      .agg(count(lit(1)).as("n"), min($"len").as("min_len"),
        max($"len").as("max_len"), sum($"len").as("sum_len"))
      .select($"stratum", $"bin", $"n", $"min_len", $"max_len",
        ($"sum_len".cast("double") / $"n").as("avg_len"))
  }

  /** BPE-ish lexer pattern: letter runs, digit runs, single other glyphs.
    * Kept to constructs with identical semantics in Java regex and RE2. */
  val LexerPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

  /** Per-doc token counts: whitespace tokens and regex-lexer tokens.
    * Output: doc_id, n_chars_norm, ws_tokens, re_tokens. */
  def tokenCounts(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.select(id.as("doc_id"), normText(text).as("norm"))
      .select($"doc_id", length($"norm").cast("long").as("n_chars_norm"),
        wsTokens($"norm").as("ws_tokens"),
        size(regexp_extract_all($"norm", lit(LexerPattern), lit(0))).cast("long").as("re_tokens"))

  val StopWords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "on")

  /** Deterministic train/val/test assignment: the split is a pure
    * function of the doc id (md5-derived bucket in [0,100) → train below
    * `trainPct`, then val below `trainPct + valPct`, else test). No
    * sampling state, no shuffle — a narrow projection — and the same doc
    * lands in the same split on every engine, partitioning, and
    * incremental re-run (the property that keeps eval sets
    * leak-free as a 100 TB corpus grows: new docs never move old ones).
    * The salt keeps the split independent of other id-derived hashes. */
  def withSplit(docs: DataFrame, id: Column, trainPct: Int = 80,
                valPct: Int = 10, salt: String = "split:"): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100)
    val bucket = DetHash.h60(concat(lit(salt), id.cast("string"))) % 100
    docs.withColumn("split",
      when(bucket < trainPct, "train")
        .when(bucket < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** SQL fragment of [[withSplit]]'s bucket for the DuckDB oracle. */
  def splitBucketSql(idExpr: String, salt: String = "split:"): String =
    s"${DetHash.h60Sql(s"'$salt' || CAST($idExpr AS VARCHAR)")} % 100"

  /** Deterministic data mixing — per-source sampling weights, the
    * "40 % web, 2× books" step of assembling a pretraining mix: within
    * each source, docs rank by a salted id hash and the lowest
    * `ceil(weight · n)` win. Reproducible (pure function of the
    * candidate set), and weights > 1 are simply capped at n (use
    * repetition downstream for true oversampling).
    *
    * Scale note: the exact-quota rank is a per-source window — one sorted
    * partition per source. Fine up to very large sources (Spark spills),
    * but when a single source is a double-digit share of 100 TB the
    * exchange-free variant is a pure hash THRESHOLD
    * (`h60 < weight · 2⁶⁰`, exact fraction only in expectation) — same
    * determinism, no window; this function keeps exact quotas as its
    * contract. Output: source, doc_id, rk (1-based within source). */
  def mixSample(docs: DataFrame, id: Column, source: Column,
                weights: Map[String, Double],
                defaultWeight: Double = 0.0): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wdf = broadcast(weights.toSeq.toDF("source", "w"))
    val base = docs.select(source.as("source"), id.as("doc_id"))
      .withColumn("hrank",
        DetHash.h60(concat(lit("mix:"), $"doc_id".cast("string"))))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"hrank", $"doc_id")
    val cnt = org.apache.spark.sql.expressions.Window.partitionBy($"source")
    base.withColumn("rk", row_number().over(win))
      .withColumn("n", count(lit(1)).over(cnt))
      .join(wdf, Seq("source"), "left")
      .withColumn("w", coalesce($"w", lit(defaultWeight)))
      .filter($"rk" <= ceil($"w" * $"n"))
      .select($"source", $"doc_id", $"rk".cast("long").as("rk"))
  }

  /** Deterministic global shuffle + shard assignment — the
    * training-order randomization step of a pretraining pipeline: each
    * doc's salted id hash picks its shard (`h60 % nShards`) and its
    * position within the shard (rank of the hash). A pure function of
    * the id set — the same corpus shuffles identically on every engine,
    * partitioning, and re-run — unlike `ORDER BY rand()`, which is
    * neither reproducible nor restartable.
    *
    * Scale: two-phase rank (see [[rankedByRange]]) — a shard is NEVER a
    * single task's sort. Range partitioning spreads the order across the
    * cluster, each task ranks only its own slice, and per-slice offsets
    * (a partitions×shards-sized table) broadcast back. nShards is purely
    * the output-layout dial; parallelism comes from
    * `spark.sql.shuffle.partitions`.
    * Output: doc_id, shard, pos (1-based within shard). */
  def shardShuffle(docs: DataFrame, id: Column, nShards: Int,
                   salt: String = "shuffle:"): DataFrame = {
    require(nShards > 0)
    val base = docs.select(id.as("doc_id"))
      .withColumn("skey",
        DetHash.h60(concat(lit(salt), $"doc_id".cast("string"))))
      .withColumn("shard", $"skey" % nShards)
    rankedByRange(base, lit(1L), Seq($"skey", $"doc_id"))
      .select($"doc_id", $"shard", $"cum".as("pos"))
  }

  /** The two-phase per-shard prefix sum shared by [[shardShuffle]] and
    * [[packSequences]]: running `sum(weight)` over rows ordered by
    * `order` within each `shard` group, computed WITHOUT a per-shard
    * window task. A plain `Window.partitionBy(shard)` serializes each
    * shard into one task — at 100 TB a hot shard (or a small nShards) is
    * a straggler or an OOM. Instead:
    *
    *   1. range-partition by (shard, order…) — a big shard spans MANY
    *      partitions, and equal keys never split across two (the range
    *      partitioner assigns by key lookup);
    *   2. rank/sum locally per (physical partition, shard) — every
    *      window group is bounded by the range split, not shard size;
    *   3. per-(partition, shard) totals — a tiny partial agg — prefix-sum
    *      across partition ids and broadcast back as offsets.
    *
    * The range exchange with its partition ids is pinned: both consumers
    * (ranks + offsets) must see ONE partition assignment, not two AQE
    * re-plans. Result is bit-identical to the single-window form.
    * Output: input columns + `cum` (running sum incl. current row). */
  private[operators] def rankedByRange(base: DataFrame, weight: Column,
                                       order: Seq[Column]): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val ranged = Pins.pin(
      base.withColumn("w", weight)
        .repartitionByRange(($"shard" +: order): _*)
        .withColumn("pid", spark_partition_id()))
    val local = W.partitionBy($"pid", $"shard").orderBy(order: _*)
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val offW = W.partitionBy($"shard").orderBy($"pid")
      .rowsBetween(W.unboundedPreceding, -1)
    // tiny (partitions × shards) and derived from the pinned exchange —
    // pin it too, so re-executions broadcast the materialized offsets
    // instead of re-running the per-partition totals + prefix window
    val offs = Pins.pin(ranged.groupBy($"pid", $"shard").agg(sum($"w").as("pw"))
      .withColumn("off", coalesce(sum($"pw").over(offW), lit(0L)))
      .select($"pid", $"shard", $"off"))
    ranged.withColumn("lcum", sum($"w").over(local))
      .join(broadcast(offs), Seq("pid", "shard"))
      .withColumn("cum", $"lcum" + $"off")
      .drop("pid", "w", "lcum", "off")
  }

  /** Equi-depth quantile binning (the NTILE feature-engineering pass:
    * "which length decile is this doc in, within its language") —
    * every row's k-quantile bucket from its exact rank, where the rank
    * comes from the two-phase [[rankedByRange]] prefix rather than a
    * per-stratum window task (a hot stratum can never serialize into
    * one task), and bucket = ⌊(rank−1)·k/n⌋+1 reproduces ANSI NTILE's
    * larger-buckets-first split exactly. Readout is the per-bin census.
    * Output: stratum, bin, n, min_v, max_v, avg_v. */
  def quantileBins(df: DataFrame, stratum: Column, value: Column,
                   tieBreak: Column, k: Int): DataFrame = {
    require(k > 0)
    val base = df.select(stratum.as("shard"), value.cast("long").as("v"),
      tieBreak.as("tb"))
    val totals = base.groupBy($"shard").agg(count(lit(1)).as("n_tot"))
    rankedByRange(base, lit(1L), Seq($"v", $"tb"))
      .join(broadcast(totals), "shard")
      .withColumn("bin", floor(($"cum" - 1) * k / $"n_tot").cast("long") + 1)
      .groupBy($"shard".as("stratum"), $"bin")
      .agg(count(lit(1)).as("n"), min($"v").as("min_v"),
        max($"v").as("max_v"),
        (sum($"v").cast("double") / count(lit(1))).as("avg_v"))
  }

  /** PII patterns for the scrubbing pass. Kept to constructs with
    * identical semantics in Java regex (Spark) and RE2 (DuckDB) — no
    * backreferences, no lookaround, explicit classes instead of \\d/\\w. */
  val UrlRe = "https?://[^ ]+"
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  /** PII detection + redaction — the scrubbing pass of a training
    * pipeline: per-doc counts of URLs / emails / IPv4 literals plus the
    * md5 of the redacted text (placeholders substituted in URL → email →
    * IP order, so an address inside a URL is counted once as a URL).
    * One narrow projection, no shuffle; the hash stands in for the
    * redacted body so the oracle compare stays cell-sized.
    * Output: doc_id, n_urls, n_emails, n_ips, redacted_hash. */
  def piiRedact(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.select(id.as("doc_id"), normText(text).as("norm"))
      .select($"doc_id",
        size(regexp_extract_all($"norm", lit(UrlRe), lit(0))).cast("long").as("n_urls"),
        size(regexp_extract_all($"norm", lit(EmailRe), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all($"norm", lit(Ipv4Re), lit(0))).cast("long").as("n_ips"),
        md5(regexp_replace(regexp_replace(regexp_replace($"norm",
          UrlRe, "<URL>"), EmailRe, "<EMAIL>"), Ipv4Re, "<IP>"))
          .as("redacted_hash"))

  /** The distributed top-N ranking idiom shared by [[vocabulary]],
    * [[bpePairCounts]] and [[domainStats]]: a global sort+limit (planned
    * as TakeOrderedAndProject — no single-task full sort) and a 1-based
    * long `rk` over the ≤ n surviving rows. `order` must be a total
    * order (count desc + unique tie-break) or ranks are
    * nondeterministic. */
  private[operators] def rankTopN(df: DataFrame, n: Int,
                                  order: Column*): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(order: _*)
    df.orderBy(order: _*).limit(n)
      .withColumn("rk", row_number().over(w).cast("long"))
  }

  /** Token-blocklist filter — the safety/compliance pass of a curation
    * pipeline: flags every doc whose normalized token stream contains a
    * blocklisted token, with the hit count. One narrow projection (the
    * blocklist is a literal IN-list compiled into codegen, no join, no
    * shuffle) — at 100 TB this rides the same scan as any other per-doc
    * scoring. Multi-word or pattern rules belong in a regexp variant;
    * this is the exact-token tier. Output: doc_id, n_hits (> 0 only). */
  def blocklistFilter(docs: DataFrame, id: Column, text: Column,
                      terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty && terms.forall(_.matches("[a-z0-9_']+")),
      "blocklist terms must be normalized single tokens")
    // typed literal array, not SQL-string interpolation: terms with
    // apostrophes are legal tokens and must not break the expression
    val blocked = typedLit(terms)
    docs.select(id.as("doc_id"), normText(text).as("norm"))
      .select($"doc_id",
        size(filter(split($"norm", " "), w => array_contains(blocked, w)))
          .cast("long").as("n_hits"))
      .filter($"n_hits" > 0)
  }

  /** Capture-group pattern lifting the host out of a URL; identical
    * semantics in Java regex and RE2 (plain class + group, no lookaround). */
  val DomainRe = "https?://([^/ ]+)"

  /** Per-domain corpus stats — the input to domain-level filtering and
    * mix weighting: every in-text URL's host, with how many distinct
    * docs cite it, ranked. One narrow extract + a domain-keyed partial
    * agg (domains ≪ corpus, so the count collapses map-side); the final
    * rank is a distributed top-N. Output: rk, domain, n_docs. */
  def domainStats(docs: DataFrame, id: Column, text: Column,
                  topN: Int = 50): DataFrame = {
    val hosts = docs.select(id.as("doc_id"), normText(text).as("norm"))
      .select($"doc_id",
        explode(regexp_extract_all($"norm", lit(UrlRe), lit(0))).as("url"))
      .select($"doc_id", regexp_extract($"url", DomainRe, 1).as("domain"))
      .filter(length($"domain") > 0)
    val counts = hosts.distinct()
      .groupBy($"domain").agg(count(lit(1)).as("n_docs"))
    rankTopN(counts, topN, $"n_docs".desc, $"domain")
      .select($"rk", $"domain", $"n_docs")
  }

  /** Sequence packing for pretraining — the concat-then-chunk shape:
    * within each shard, documents concatenate in doc-id order and the
    * token stream is cut every `budget` tokens, so each doc lands at
    * `(start_seq, start_offset)` and may span sequence boundaries
    * (exactly GPT-style packing; no bin-packing state needed, the
    * placement is a pure prefix sum). Sharding is a deterministic salted
    * id hash, so the layout is reproducible, and the prefix sum runs as
    * the two-phase [[rankedByRange]] — local sums per range slice plus
    * broadcast offsets — so even a single giant shard never collapses
    * into one window task (the ROWS-frame semantics the single-window
    * form had are preserved exactly: same-doc_id peers keep distinct
    * running sums on a dirty pre-dedup corpus).
    * Output: doc_id, shard, n_tokens, start_seq, start_offset. */
  def packSequences(docs: DataFrame, id: Column, text: Column,
                    budget: Long, shards: Int): DataFrame = {
    require(budget > 0 && shards > 0)
    val base = docs.select(id.as("doc_id"),
        wsTokens(normText(text)).as("n_tokens"))
      .withColumn("shard",
        DetHash.h60(concat(lit("pack:"), $"doc_id".cast("string"))) % shards)
    rankedByRange(base, $"n_tokens", Seq($"doc_id"))
      .select($"doc_id", $"shard", $"n_tokens",
        expr(s"(cum - n_tokens) DIV $budget").as("start_seq"),
        expr(s"(cum - n_tokens) % $budget").as("start_offset"))
  }

  /** Per-doc top-`k` salient terms by a deterministic tf-idf-style
    * weight. The idf factor is the exact integer ratio `1e6 / df`
    * (document frequency), so `weight_ppm = tf * 1_000_000 / df` ranks
    * identically to tf·(N/df) — same monotone ordering, zero floating
    * point, bit-equal across engines. Plan shape at scale: one shuffle
    * to (doc, term) for tf, a vocabulary-sized partial agg for df that
    * joins back (AQE broadcasts it — vocab ≪ corpus), and a window rank
    * partitioned by doc; ties break lexicographically.
    * Output: doc_id, term, tf, df, weight_ppm, rk (rk ≤ k). */
  def tfIdfTopTerms(docs: DataFrame, id: Column, text: Column,
                    k: Int = 3): DataFrame = {
    val terms = docs.select(id.as("doc_id"), normText(text).as("norm"))
      .spreadBy($"doc_id", cpuBound = true) // term explode feeds two aggs
      .select($"doc_id", explode(split($"norm", " ")).as("term"))
      .filter(length($"term") > 0)
    // pinned: tf feeds BOTH the document-frequency aggregate and the
    // weighting join — unpinned, the corpus-sized explode+groupBy
    // lineage executes twice (the double-lineage shape the containment
    // fuse retired in r10). The tf table is also the natural
    // materialization point of the pipeline: corpus-sized but far
    // smaller than the exploded term stream it collapses.
    val tf = Pins.pin(terms.groupBy($"doc_id", $"term")
      .agg(count(lit(1)).as("tf")))
    // the document-frequency table is the vocab-sized model artifact a
    // production pipeline persists alongside tf — pin it so per-action
    // cost is the weighting join + rank, not the df re-aggregation
    val df = Pins.pin(tf.groupBy($"term").agg(count(lit(1)).as("df")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"weight_ppm".desc, $"term")
    tf.join(df, "term")
      .select($"doc_id", $"term", $"tf", $"df",
        expr("tf * 1000000 DIV df").as("weight_ppm")) // exact int division
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= k)
  }

  /** Corpus vocabulary: the `topN` whitespace tokens by frequency with
    * rank and cumulative per-mille coverage (the "how much of the corpus
    * do the top-k types cover" curve that sizes tokenizer vocabularies).
    * Exact integers throughout: coverage is `cum·1000 DIV total`.
    *
    * Scale: token counts collapse map-side into a vocabulary-sized
    * partial agg; the global sort is a distributed top-N (`orderBy` +
    * `limit` → TakeOrderedAndProject, no single-task full-vocab sort);
    * only the N surviving rows cross the single-partition ranking
    * window, and the corpus total rides in as a broadcast 1-row join.
    * Output: rk, tok, n, cum_pm. */
  def vocabulary(docs: DataFrame, id: Column, text: Column,
                 topN: Int = 100): DataFrame = {
    // pinned: counts feeds both the corpus-total aggregate and the
    // top-N rank — unpinned, the corpus explode+count runs twice for
    // one vocab-sized (small) cache
    val counts = Pins.pin(docs
      .select(id.as("doc_id"), normText(text).as("norm"))
      .spreadBy($"doc_id") // conditional hash-wide parallelism (graft.spreadByKey)
      .select(explode(split($"norm", " ")).as("tok"))
      .filter(length($"tok") > 0)
      .groupBy($"tok").agg(count(lit(1)).as("n")))
    val total = counts.agg(sum($"n").as("total"))
    // explicit ROWS frame (default RANGE would pool same-(n, tok) peers;
    // the key is unique but the oracle spells ROWS, so match it exactly)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"n".desc, $"tok")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    rankTopN(counts, topN, $"n".desc, $"tok")
      .withColumn("cum", sum($"n").over(w))
      .crossJoin(broadcast(total))
      .select($"rk", $"tok", $"n", expr("cum * 1000 DIV total").as("cum_pm"))
  }

  /** One round of BPE merge-candidate counting — the inner statistic of
    * tokenizer induction: adjacent character-pair frequencies over the
    * corpus, weighted by word frequency. Works on word TYPES, not corpus
    * tokens (the classic trick): the corpus-scale stage is only the word
    * count partial agg; the character-pair explode then runs over the
    * vocabulary, which is ≪ corpus at 100 TB. Exact integer counts.
    * Output: rk, pair (2 chars), n — the top `topK` merge candidates. */
  def bpePairCounts(docs: DataFrame, id: Column, text: Column,
                    topK: Int = 20): DataFrame =
    bpePairsFrom(wordTypeCounts(docs, id, text), topK)

  /** The (w, wn) word-TYPE table [[bpePairCounts]] and [[bpeEncode]]
    * share: normalized whitespace tokens of ≥ 2 chars with corpus
    * frequencies — the vocab-sized surface tokenizer induction works
    * on. */
  private def wordTypeCounts(docs: DataFrame, id: Column,
                             text: Column): DataFrame =
    docs.select(id.as("doc_id"), normText(text).as("norm"))
      .spreadBy($"doc_id") // conditional hash-wide parallelism (graft.spreadByKey)
      .select(explode(split($"norm", " ")).as("w"))
      .filter(length($"w") >= 2)
      .groupBy($"w").agg(count(lit(1)).as("wn"))

  /** The pair-ranking half of [[bpePairCounts]] over an existing word
    * table (so [[bpeEncode]] can pin the words once and derive both the
    * merges and the encodings from the same pass). */
  private def bpePairsFrom(words: DataFrame, topK: Int): DataFrame = {
    val counts = words
      .select($"wn", explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))"))
        .as("pair"))
      .groupBy($"pair").agg(sum($"wn").as("n"))
    rankTopN(counts, topK, $"n".desc, $"pair")
      .select($"rk", $"pair", $"n")
  }

  /** BPE ENCODE (single-level) — applying [[bpePairCounts]]'s one-shot
    * char-pair merges table; for TRUE iterated multi-level induction
    * and its encode, see [[bpeLearn]] / [[bpeLearnEncode]] /
    * [[applyMerges]]. The step between learning candidates and a
    * dataloader: every
    * word type's character sequence is rewritten by the top-`topK`
    * merges in rank order, each applied exhaustively left-to-right.
    * With a single-level merges table (every merge pairs single CHARS,
    * which is what [[bpePairCounts]] learns), a merged token is 2 chars
    * and can never create a new single-char adjacency, so ONE
    * in-rank-order sweep is exactly the iterated pick-min-rank-present
    * encode loop (GPT-2's algorithm) run to fixpoint — bounded work by
    * construction, no iteration-until-convergence.
    *
    * Word-TYPE level, like the learner: the encode runs once per
    * distinct word (vocab-sized, not corpus-sized); a 100 TB corpus
    * applies it by joining its token stream against this table. The
    * merges are a driver-side collect bounded by `topK` (the bounded
    * literal-table pattern of VectorOps' centroids), compiled into a
    * chain of `topK` per-row array FOLDS (`functions.aggregate`), each
    * one exhaustive left-to-right merge pass: the incoming token merges
    * into the accumulator's last token iff (last, t) = (a, b) — and
    * since the merged 2-char token can never equal the 1-char `a`, the
    * no-reuse-of-a-merged-token rule of greedy BPE falls out of the
    * comparison itself (a run `aaaa` folds to `aa aa`, `aaaaa` to
    * `aa aa a`). A string `replace` chain over a delimited form is NOT
    * equivalent — Java/DuckDB replace resumes scanning past the
    * consumed delimiter, so `a b a b` merges only alternate occurrences
    * — hence the fold. The SQL twin is the identical fold via DuckDB's
    * `list_reduce` over a string accumulator.
    * Output: rk, w, wn, n_toks, enc — the top `topWords` word types by
    * (count desc, word). */
  def bpeEncode(docs: DataFrame, id: Column, text: Column,
                topK: Int = 20, topWords: Int = 500): DataFrame = {
    val words = Pins.pin(wordTypeCounts(docs, id, text))
    val toksN = bpeFold(words, topK)
    rankTopN(words, topWords, $"wn".desc, $"w")
      .withColumn("toks", toksN)
      .select($"rk", $"w", $"wn",
        size($"toks").cast("long").as("n_toks"),
        array_join($"toks", " ").as("enc"))
  }

  /** The learned-merges token fold over a `w` column: learns the top-K
    * single-level merges from `words` (driver-side bounded collect) and
    * returns the token-array column encoding `w` — the shared core of
    * [[bpeEncode]] and [[bpeTokenCounts]]. */
  private def bpeFold(words: DataFrame, topK: Int): Column = {
    val spark = words.sparkSession
    import spark.implicits._
    val merges = bpePairsFrom(words, topK)
      .orderBy($"rk").select($"pair").as[String].collect().toSeq
      .map { p =>
        val cps = p.codePoints.toArray
        require(cps.length == 2, s"merge pair must be 2 codepoints: '$p'")
        (new String(cps, 0, 1), new String(cps, 1, 1))
      }
    applyMerges(split($"w", ""), merges)
  }

  /** ONE exhaustive left-to-right merge pass of (a, b) → a+b over a
    * token-array column — the greedy non-overlapping BPE application,
    * for ARBITRARY tokens (a and b may themselves be merged multi-char
    * tokens): the incoming token merges into the accumulator's last
    * token iff (last, t) = (a, b), and a freshly merged a+b occupying
    * the last slot is compared as the FULL token a+b, so it never
    * re-merges as a bare `a` within the same pass (`aaaa` under (a,a)
    * folds to `aa aa`, `aaaaa` to `aa aa a`) — exactly the
    * non-overlapping scan of the classic encode loop. A string
    * `replace` chain over a delimited form is NOT this fold (replace
    * resumes scanning past the consumed delimiter and skips adjacent
    * occurrences); the SQL twin is the identical fold via DuckDB's
    * `list_reduce` over a string accumulator. */
  private def mergeOnce(toks: Column, a: String, b: String): Column =
    aggregate(toks, typedLit(Seq.empty[String]), (acc, t) =>
      when(size(acc) > 0 &&
          element_at(acc, -1) === lit(a) && t === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(t))))

  /** Apply an ORDERED (possibly multi-level) merges table to a token
    * array column: merge i is applied exhaustively left-to-right before
    * merge i+1 — so a later merge may pair tokens an earlier merge
    * produced (true hierarchical BPE application, the table
    * [[bpeLearn]] emits). Chain-applying the learned table to the raw
    * character split is EQUAL to the learn loop's final encoded state
    * (induction on rounds: state_i = merge_i applied to state_{i-1});
    * [[bpeLearnEncode]] rides that identity and the spec pins it. The
    * merges are a bounded driver-side literal list compiled into
    * `merges.length` codegen'd array folds — vocab-sized work per row,
    * zero shuffles, zero UDFs. */
  def applyMerges(toks: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(toks)((ts, m) => mergeOnce(ts, m._1, m._2))

  /** ITERATED BPE merge learning — true multi-level tokenizer
    * induction, not the single-level approximation [[bpePairCounts]]
    * ranks: each round counts adjacent TOKEN-pair frequencies over the
    * current encoding of the word types, collects the single top pair
    * (count desc, then (a, b) lexicographic — a total order), and
    * re-encodes the types with that merge before the next count — so
    * merge i+1 can pair tokens merge i produced (`t`+`h` → `th`, then
    * `th`+`e` → `the`), which no one-shot pair ranking can learn.
    *
    * Scale shape: the corpus-sized stage is the ONE word-count partial
    * agg inside [[wordTypeCounts]]; every loop round is (vocab-sized
    * pair explode + partial agg → 1-row TakeOrdered collect →
    * vocab-sized re-encode map), the same bounded-literal iteration
    * pattern as Lloyd's in VectorOps — driver state is `rounds` merge
    * rows, each round's state is pinned and the previous round's
    * released, and nothing corpus-sized ever re-materializes. Stops
    * early only if the vocabulary runs out of adjacent pairs (every
    * type reduced to one token — degenerate corpora only; the oracle's
    * unrolled form assumes the full `rounds`).
    * Output: rk, a, b, merged, n — the learned merges in order. */
  def bpeLearn(docs: DataFrame, id: Column, text: Column,
               rounds: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = Pins.pin(wordTypeCounts(docs, id, text))
    val (merges, _) = learnLoop(words, rounds)
    merges.zipWithIndex
      .map { case ((a, b, n), i) => (i + 1L, a, b, a + b, n) }
      .toDF("rk", "a", "b", "merged", "n")
  }

  /** [[bpeLearn]]'s merges chain-applied back to the word types via
    * [[applyMerges]] — the multi-level-table encode path (the chain
    * application, not the loop's final state, so the gate exercises
    * exactly what a dataloader holding a persisted merges table runs).
    * Output: rk, w, wn, n_toks, enc — the top `topWords` word types by
    * (count desc, word). */
  def bpeLearnEncode(docs: DataFrame, id: Column, text: Column,
                     rounds: Int, topWords: Int): DataFrame = {
    val words = Pins.pin(wordTypeCounts(docs, id, text))
    val (merges, _) = learnLoop(words, rounds)
    val toksN = applyMerges(split($"w", ""), merges.map(m => (m._1, m._2)))
    rankTopN(words, topWords, $"wn".desc, $"w")
      .withColumn("toks", toksN)
      .select($"rk", $"w", $"wn",
        size($"toks").cast("long").as("n_toks"),
        array_join($"toks", " ").as("enc"))
  }

  /** [[bpeTokenCounts]] with the ITERATED multi-level merges table:
    * the learn loop runs over the word types ([[bpeLearn]]'s exact
    * surface — same normalization, same ≥ 2-char filter, so the two
    * gates learn the identical table), every type is then encoded ONCE
    * via [[applyMerges]], and each document's token count is one join
    * of its word stream against that table. Corpus-sized work: the
    * word explode + one equality join — identical scale shape to the
    * single-level form. Output: doc_id, n_words, n_bpe_tokens. */
  def bpeTokenCountsLearned(docs: DataFrame, id: Column, text: Column,
                            rounds: Int): DataFrame = {
    val docWords = Pins.pin(
      docs.select(id.as("doc_id"), normText(text).as("norm"))
        .spreadBy($"doc_id")
        .select($"doc_id", explode(split($"norm", " ")).as("w"))
        .filter(length($"w") >= 1))
    val types = Pins.pin(docWords.filter(length($"w") >= 2)
      .groupBy($"w").agg(count(lit(1)).as("wn")))
    val (merges, _) = learnLoop(types, rounds)
    val enc = types.select($"w",
      size(applyMerges(split($"w", ""), merges.map(m => (m._1, m._2))))
        .cast("long").as("n_toks"))
    docWords.join(enc, Seq("w"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(coalesce($"n_toks", lit(1L))).as("n_bpe_tokens"))
  }

  /** The learn loop over a pinned (w, wn) type table: `rounds` times,
    * count → collect the top merge → re-encode. Returns the merges in
    * learned order and the final encoded state (w, wn, toks). Each
    * round's state is pinned and materialized by the 1-row collect of
    * the NEXT round's pair count (or by the caller's action for the
    * last), and the previous round's cache is released eagerly so live
    * cache stays one vocab-sized table regardless of `rounds`.
    * Throws (require) if the corpus exhausts adjacent pairs before
    * `rounds` merges: the unrolled SQL oracles apply exactly `rounds`
    * merges, so early exhaustion would silently diverge from them. */
  private def learnLoop(words: DataFrame, rounds: Int)
      : (Seq[(String, String, Long)], DataFrame) = {
    val spark = words.sparkSession
    import spark.implicits._
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var state = Pins.pin(words.select($"w", $"wn", split($"w", "").as("toks")))
    val merges = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    var r = 0
    var exhausted = false
    while (r < rounds && !exhausted) {
      val top = state.filter(size($"toks") >= 2)
        .select($"wn", explode(expr(
          "transform(sequence(1, size(toks) - 1), i -> " +
            "struct(element_at(toks, i) AS a, element_at(toks, i + 1) AS b))"))
          .as("p"))
        .groupBy($"p.a", $"p.b").agg(sum($"wn").as("n"))
        .orderBy($"n".desc, $"a", $"b").limit(1)
        .as[(String, String, Long)].collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, _) = top.head
        merges += top.head
        val next = Pins.pin(state.select($"w", $"wn",
          mergeOnce($"toks", a, b).as("toks")))
        next.count() // materialize before dropping the parent's cache
        state.unpersist(blocking = false)
        state = next
      }
      r += 1
    }
    // LOUD exhaustion guard: the unrolled SQL oracles apply exactly
    // `rounds` merges, so a corpus that runs out of adjacent pairs
    // MID-LEARN would silently diverge from them (fewer merges
    // applied). Zero merges is fine — an empty/1-char-word corpus
    // yields a no-op table in both engines (the empty-corpus specs pin
    // that) — but partial exhaustion must fail visibly.
    require(merges.isEmpty || merges.size == rounds,
      s"BPE learn exhausted adjacent pairs after ${merges.size} of " +
        s"$rounds merges — the unrolled oracle assumes all $rounds " +
        "merges exist; lower rounds or use a richer corpus")
    (merges.toSeq, state)
  }

  /** Corpus-level BPE token accounting — the dataloader-facing view of
    * [[bpeEncode]]: every word TYPE is encoded once (the vocab-sized
    * fold; a single-char word is trivially one token and skips the
    * table), and each document's BPE token count is then ONE join of
    * its word stream against that table — so the corpus-sized work is
    * the word explode + one equality join, never a per-document encode.
    * The whitespace count rides the same aggregation, giving the
    * compression ratio (words vs BPE tokens) a mixture/packing policy
    * reads. Docs whose normalized text is empty produce no row (no
    * words — the same contract as the token-count family).
    * Output: doc_id, n_words, n_bpe_tokens. */
  def bpeTokenCounts(docs: DataFrame, id: Column, text: Column,
                     topK: Int = 20): DataFrame = {
    // one corpus pass feeds both the type table (via groupBy) and the
    // per-doc join side
    val docWords = Pins.pin(
      docs.select(id.as("doc_id"), normText(text).as("norm"))
        .spreadBy($"doc_id")
        .select($"doc_id", explode(split($"norm", " ")).as("w"))
        .filter(length($"w") >= 1))
    val types = Pins.pin(docWords.filter(length($"w") >= 2)
      .groupBy($"w").agg(count(lit(1)).as("wn")))
    val enc = types.select($"w", size(bpeFold(types, topK))
      .cast("long").as("n_toks"))
    docWords.join(enc, Seq("w"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(coalesce($"n_toks", lit(1L))).as("n_bpe_tokens"))
  }

  /** Collocation mining — adjacent word pairs ranked by frequency with
    * an exact-integer association lift (the PMI statistic with the log
    * left to the reader): lift = P(ab) / (P(a)·P(b)) over bigram slots,
    * reported as parts-per-million via one integer division. Integer
    * deliberately: `ln` is not correctly-rounded and differs across
    * engines/libms, so a log-PMI ranking could diverge bit-wise at the
    * margins — the ppm lift carries the same order with none of that
    * risk. Corpus-scale work is the one bigram-slot explode + (a, b)
    * partial agg; marginals re-derive from the PAIR table (vocab-sized,
    * not corpus-sized), and the numerator widens to DECIMAL before the
    * `n_ab·T` product (two corpus-scale counts multiplied — a long
    * would overflow near 10⁹ slots, i.e. well under 100 TB).
    * Output: rk, a, b, n_ab, n_a, n_b, lift_ppm (top `topK` pairs with
    * n_ab ≥ minCount, by count desc then pair). */
  /** Adjacent-word-pair counts (the shared bigram pass of
    * [[collocations]] and [[textRank]]): one corpus-scale explode +
    * (a, b) partial agg to a vocab²-bounded table. */
  private def bigramCounts(docs: DataFrame, id: Column,
                           text: Column): DataFrame =
    docs.select(id.as("doc_id"), normText(text).as("norm"))
      .spreadBy($"doc_id") // conditional hash-wide parallelism (graft.spreadByKey)
      .select(split($"norm", " ").as("ws"))
      .filter(size($"ws") >= 2) // sequence(1, 0) would run DESCENDING
      .select(explode(expr(
        "transform(sequence(1, size(ws) - 1), i -> " +
          "struct(element_at(ws, i) AS a, element_at(ws, i + 1) AS b))"))
        .as("pr"))
      .select($"pr.a".as("a"), $"pr.b".as("b"))
      .filter(length($"a") > 0 && length($"b") > 0)
      .groupBy($"a", $"b").agg(count(lit(1)).as("n_ab"))

  def collocations(docs: DataFrame, id: Column, text: Column,
                   topK: Int = 30, minCount: Long = 3L): DataFrame = {
    val c = Pins.pin(bigramCounts(docs, id, text))
    val tot = c.agg(sum($"n_ab").as("t"))
    // rank FIRST: the top-K order depends only on n_ab, so marginals are
    // needed only for the ≤ 2K words of the K winners. Both marginals
    // come from ONE pass over the pinned bigram table (a two-slot
    // explode), pre-filtered map-side by the broadcast winner-word set —
    // at corpus scale the marginal shuffle drops from |vocab| rows to
    // ≤ 2K, and the two per-slot aggregation scans collapse into one.
    // A winner's a-word always appears in slot a of that pair (resp. b),
    // so the per-slot sums are non-NULL for every joined key and the
    // inner joins keep exactly the K rows with the same n_a/n_b values
    // the full per-slot aggregations produced.
    val top = rankTopN(c.filter($"n_ab" >= minCount), topK,
      $"n_ab".desc, $"a", $"b")
    val words = top.select($"a".as("w"))
      .union(top.select($"b".as("w"))).distinct()
    val m = c.select(explode(array(
        struct($"a".as("w"), lit(true).as("isA"), $"n_ab"),
        struct($"b".as("w"), lit(false).as("isA"), $"n_ab"))).as("x"))
      .select($"x.w".as("w"), $"x.isA".as("isA"), $"x.n_ab".as("nab"))
      .join(broadcast(words), "w")
      .groupBy($"w")
      .agg(sum(when($"isA", $"nab")).as("n_a"),
        sum(when(!$"isA", $"nab")).as("n_b"))
    top.join(m.select($"w".as("a"), $"n_a"), "a")
      .join(m.select($"w".as("b"), $"n_b"), "b")
      .crossJoin(broadcast(tot))
      .select($"rk", $"a", $"b", $"n_ab", $"n_a", $"n_b",
        expr("CAST((CAST(n_ab AS DECIMAL(20,0)) * t * 1000000)" +
          " DIV (CAST(n_a AS DECIMAL(20,0)) * n_b) AS BIGINT)")
          .as("lift_ppm"))
  }

  /** TextRank keyword scoring — PageRank power iteration over the
    * word-adjacency graph (bigram edges with count ≥ `minCount`, made
    * undirected), the classic graph-based keyword extractor. All
    * arithmetic is integer: ranks live at scale 10¹², every division is
    * `div`, so the fixed-`iters` readout is bit-identical in the DuckDB
    * oracle (a float PageRank would drift per-engine at the margins).
    * Scale shape: the corpus-scale work is the one [[bigramCounts]]
    * pass; each iteration is one edges ⋈ ranks hash join + re-agg over
    * VOCAB-sized tables — BSP, the [[DedupOps]] dup-clusters shape, no
    * driver state beyond the node count (one scalar).
    * Output: rk, w, score (top `topK` by final rank desc, then word). */
  def textRank(docs: DataFrame, id: Column, text: Column,
               topK: Int = 30, minCount: Long = 3L,
               iters: Int = 3): DataFrame = {
    val Scale = 1000000000000L
    // pinned like collocations' c: the corpus-scale bigram pass feeds
    // both arms of the symmetrizing union — unpinned it executed twice
    // (and edges' distinct twice more via the deg branch below)
    val c = Pins.pin(
      bigramCounts(docs, id, text).filter($"n_ab" >= minCount))
    val edges = Pins.pin(c.select($"a".as("u"), $"b".as("v"))
      .union(c.select($"b".as("u"), $"a".as("v"))).distinct())
    // the degree table IS the node set: the symmetrized union puts
    // every node in the u column, and groupBy(u) keys are distinct by
    // construction — no separate nodes distinct/pin/count needed
    val deg = Pins.pin(edges.groupBy($"u").agg(count(lit(1)).as("deg")))
    // degree pre-joined once: each power iteration then touches ONE
    // pinned edge frame instead of re-joining degrees every round
    val edeg = Pins.pin(edges.join(deg, "u"))
    val n = deg.count() // one scalar off the pinned vocab-sized table
    if (n == 0)
      return deg.select($"u".as("w"), lit(0L).as("rk"), lit(0L).as("score"))
        .select($"rk", $"w", $"score")
    // the rank map is one (word, long) row per vocab entry — broadcast
    // it while the vocab fits, so each iteration costs a single shuffle
    // (the contribution groupBy); past the cap, fall back to the shuffle
    // join (same values — the hint changes the plan, not the arithmetic)
    val bcast = n <= 2000000L
    val tele = Scale * 15L / 100L / n
    var r = deg.select($"u".as("w"), lit(Scale / n).as("r"))
    for (_ <- 1 to iters) {
      // the symmetrized union puts every node in BOTH the u and v sets,
      // so the contribution aggregate already covers the whole vocab —
      // no nodes re-join needed to keep zero-in-degree words alive
      r = edeg.join(if (bcast) broadcast(r) else r, $"u" === $"w")
        .select($"v", expr("r div deg").as("cn"))
        .groupBy($"v").agg(sum($"cn").as("acc"))
        .select($"v".as("w"),
          (lit(tele) + expr("(85 * acc) div 100")).as("r"))
    }
    rankTopN(r, topK, $"r".desc, $"w")
      .select($"rk", $"w", $"r".as("score"))
  }

  /** Deterministic quality-weighted downsampling: a doc survives iff its
    * salted id hash per-mille falls below its own quality-mapped keep
    * rate (`floor(quality·1000)`, clamped by the comparison itself) —
    * high-quality docs keep ~everything, junk keeps ~nothing, and the
    * decision is a pure function of (id, text): reproducible, append-
    * stable, and exchange-free (one narrow projection — this is the
    * hash-threshold scale path that [[mixSample]]'s exact-quota window
    * deliberately isn't). Output: doc_id, keep_pm (kept docs only). */
  def qualitySample(docs: DataFrame, id: Column, text: Column,
                    salt: String = "qs:"): DataFrame =
    qualityScore(docs, id, text)
      .select($"doc_id",
        expr("CAST(floor(quality * 1000) AS BIGINT)").as("keep_pm"))
      .filter(DetHash.h60(concat(lit(salt), $"doc_id".cast("string"))) % 1000
        < $"keep_pm")

  /** Per-doc quality features + one combined score: length, punctuation
    * density, stopword ratio, mean word length. Output: doc_id, n_chars,
    * n_tokens, n_punct, n_stop, quality. */
  def qualityScore(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val inList = StopWords.map(w => s"'$w'").mkString(", ")
    docs.select(id.as("doc_id"), normText(text).as("norm"))
      .select($"doc_id", length($"norm").cast("long").as("n_chars"),
        wsTokens($"norm").as("n_tokens"),
        (length($"norm") - length(regexp_replace($"norm", "[.,!?;:]", ""))).cast("long").as("n_punct"),
        expr(s"CAST(size(filter(split(norm, ' '), w -> w IN ($inList))) AS BIGINT)").as("n_stop"))
      .withColumn("quality",
        lit(0.5) * ($"n_stop".cast("double") / $"n_tokens") +
        lit(0.3) * (least($"n_tokens", lit(200L)).cast("double") / 200.0) -
        // greatest(n_chars, 1): an empty-norm doc must score 0 punct
        // density on BOTH engines — bare /0 is NULL in Spark but NaN in
        // DuckDB, which would crash the oracle's floor/CAST chain
        lit(0.2) * ($"n_punct".cast("double") / greatest($"n_chars", lit(1L))))
  }

  /** Per-stratum exact top-`keepPct`% by quality — curation where the
    * keep threshold is a RANK, not a score (robust to score drift
    * across corpora: "the best fifth of every language" stays the best
    * fifth as the corpus grows). Ranking runs through the two-phase
    * [[rankedByRange]] prefix, so a stratum that dominates the corpus
    * never serializes into one window task, and the per-stratum sizes
    * broadcast. Keeps ceil(keepPct·n/100) docs per stratum; ties break
    * on doc_id, so the kept set is deterministic under any
    * partitioning. Output: stratum, doc_id, quality, rk (kept only). */
  def qualityTopP(docs: DataFrame, id: Column, stratum: Column, text: Column,
                  keepPct: Int): DataFrame = {
    require(keepPct >= 1 && keepPct <= 100, "keepPct in 1..100")
    val q = Pins.pin(qualityScore(docs, id, text)
      .join(docs.select(id.as("doc_id"), stratum.as("shard")), "doc_id")
      .select($"shard", $"doc_id", $"quality"))
    val sizes = q.groupBy($"shard").agg(count(lit(1)).as("n"))
      .select($"shard", expr(s"(n * $keepPct + 99) DIV 100").as("keep_n"))
    rankedByRange(q, lit(1L), Seq($"quality".desc, $"doc_id"))
      .join(broadcast(sizes), "shard")
      .filter($"cum" <= $"keep_n")
      .select($"shard".as("stratum"), $"doc_id", $"quality", $"cum".as("rk"))
  }

  /** Temperature-balanced mixture sampling — the multilingual mix rule
    * at τ = 1/2 (mT5/XLM-R style): stratum keep rate
    * `sqrt(n_smallest / n_stratum)`, so the smallest stratum is kept
    * whole and one 100× its size keeps 1 in 10; the per-doc keep
    * decision is the same exchange-free salted-hash threshold as
    * [[stratifiedSample]]. Rates derive FROM the data (two tiny
    * aggregates that broadcast), so the mix self-adjusts as the corpus
    * grows while every decision stays reproducible and append-stable
    * within a fixed stratum census. The exponent is fixed at 1/2
    * deliberately: division and sqrt are correctly-rounded IEEE ops, so
    * the ppm threshold is bit-identical across engines — a general
    * `pow(x, τ)` is not. Output: stratum, doc_id, keep_ppm (kept). */
  def temperatureMix(docs: DataFrame, id: Column, stratum: Column,
                     salt: String = "tmix:"): DataFrame = {
    val d = Pins.pin(docs.select(id.as("doc_id"), stratum.as("stratum")))
    val sizes = d.groupBy($"stratum").agg(count(lit(1)).as("n"))
    val nmin = sizes.agg(min($"n").as("nmin"))
    val rates = sizes.crossJoin(broadcast(nmin)) // 1-row corpus total
      .select($"stratum",
        floor(lit(1000000.0) * sqrt($"nmin".cast("double") / $"n"))
          .cast("long").as("keep_ppm"))
    d.join(broadcast(rates), "stratum")
      .filter(DetHash.h60(concat(lit(salt), $"doc_id".cast("string")))
        % 1000000L < $"keep_ppm")
      .select($"stratum", $"doc_id", $"keep_ppm")
  }

  /** Character trigrams (multiset) per doc. Spread by doc before the
    * generator so the ~n_chars× explode parallelizes independently of the
    * input file layout (see DedupOps.shingleHashes); conditional
    * ([[graft.spreadByKey]]) — a pre-split input skips the exchange. */
  private def trigrams(docs: DataFrame, id: Column, text: Column): DataFrame =
    spreadByKey(
        docs.select(id.as("doc_id"), normText(text).as("norm"))
          .filter(length($"norm") >= 3), $"doc_id",
        cpuBound = true) // ~n_chars-wide trigram explode: CPU-bound
      .select($"doc_id", explode(expr(
        "transform(sequence(1, length(norm)-2), i -> substring(norm, i, 3))")).as("tri"))

  /** Self-training n-gram language ID: build per-language profiles (top-k
    * trigrams by corpus frequency, ties broken by trigram) from the
    * labeled corpus, then classify each doc by the count-weighted profile
    * match — each doc trigram occurrence contributes the candidate
    * language's corpus count for that trigram, so languages sharing the
    * same top trigrams still separate by frequency (ties → lexicographically
    * last language — any fixed rule works, it just must be deterministic).
    * The profile is tiny (langs × k rows) and broadcast, so classification
    * is one corpus scan + one shuffle on (doc, lang).
    * Output: doc_id, pred_lang, score. */
  def langId(docs: DataFrame, id: Column, text: Column, lang: Column,
             profileSize: Int = 40): DataFrame = {
    // the trigram explode is the corpus-sized scan and feeds both the
    // profile build and the scoring join — materialize it once
    val tri = Pins.pin(trigrams(docs, id, text))
    val labeled = docs.select(id.as("doc_id"), lang.as("lang"))
    // the profile is the trained model artifact (langs × k rows) a
    // production deployment persists once per corpus build — pin it so
    // per-action cost is the scoring join, not the corpus-sized
    // label join + per-language ranking that trains it (the
    // trainCentroids/serving-mouth discipline)
    val profile = Pins.pin(tri.join(labeled, "doc_id")
      .groupBy($"lang", $"tri").agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"lang")
          .orderBy($"cnt".desc, $"tri")))
      .filter($"rk" <= profileSize)
      .select($"lang".as("cand_lang"), $"tri", $"cnt"))
    tri.join(broadcast(profile), "tri")
      .groupBy($"doc_id", $"cand_lang").agg(sum($"cnt").as("score"))
      .groupBy($"doc_id")
      .agg(max(struct($"score", $"cand_lang")).as("best"))
      .select($"doc_id", $"best.cand_lang".as("pred_lang"), $"best.score".as("score"))
  }

  /** Cross-document boilerplate detection (the CCNet-style pass): split
    * docs into sentences, hash each doc's DISTINCT sentence set (array
    * form — no corpus-wide distinct exchange), and report sentences
    * appearing in at least `minDocs` documents. The single shuffle
    * carries (sentence-hash, doc) pairs with map-side partial counting.
    * Output: sent_h31, n_docs, first_doc. */
  def boilerplate(docs: DataFrame, id: Column, text: Column,
                  minDocs: Long, minChars: Int = 20): DataFrame = {
    val sents = filter(split(normText(text), "[.!?]+\\s+"),
      s => length(s) >= minChars)
    docs.select(id.as("doc_id"),
        explode(array_distinct(transform(sents, s => DetHash.h31(s))))
          .as("sent_h31"))
      .groupBy($"sent_h31")
      .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("first_doc"))
      .filter($"n_docs" >= minDocs)
  }

  /** Intra-document repetition (a Gopher-style quality rule): fraction of
    * duplicated word-3-grams. Entirely narrow — the gram set never leaves
    * its row. Docs under 3 words are excluded (no trigrams to measure).
    * Output: doc_id, n_grams, n_distinct, rep_ratio. */
  def repetition(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val grams = transform(sequence(lit(1), size($"ws") - 2),
      i => concat_ws(" ", slice($"ws", i, lit(3))))
    docs.select(id.as("doc_id"), split(normText(text), " ").as("ws"))
      .filter(size($"ws") >= 3)
      .select($"doc_id", grams.as("gs"))
      .select($"doc_id", size($"gs").cast("long").as("n_grams"),
        size(array_distinct($"gs")).cast("long").as("n_distinct"))
      .withColumn("rep_ratio",
        lit(1.0) - $"n_distinct".cast("double") / $"n_grams")
  }

  /** Per-doc MinHash fingerprint (first 4 permutation minima over the
    * 5-char shingle set) — a constant-size document sketch usable as a
    * locality-sensitive cache/interchange key. Array-form compute: one
    * narrow pass, no exchange. Output: doc_id, f0..f3. */
  def fingerprint(docs: DataFrame, id: Column, text: Column): DataFrame =
    DedupOps.shingleHashArrays(docs, id, text)
      .select($"doc_id" +: (0 until 4).map { i =>
        expr(s"array_min(transform(hs, h -> ${DetHash.permSql(i, "h")}))").as(s"f$i")
      }: _*)

  /** Context-window chunking — the RAG/embedding prep step: fixed-length
    * character windows with `overlap` shared chars between neighbors.
    * Start positions step by `chunkLen - overlap`; the last window may be
    * short but every char is covered, and a doc no longer than the
    * overlap still yields one chunk. One spread exchange (the doc_id
    * repartition shared with shingleHashArrays — parallelism must not
    * depend on the input file layout) and then a per-doc `transform` +
    * explode, no state; the explode factor is ~len/stride, bounded per
    * row.
    * Output: doc_id, chunk_idx (0-based), start (1-based), n_chars,
    * chunk_hash. */
  def chunkWindows(docs: DataFrame, id: Column, text: Column,
                   chunkLen: Int = 64, overlap: Int = 16): DataFrame = {
    require(chunkLen > 0 && overlap >= 0 && overlap < chunkLen)
    val stride = chunkLen - overlap
    docs.select(id.as("doc_id"), normText(text).as("norm"))
      .filter(length($"norm") > 0)
      .spreadBy($"doc_id", cpuBound = true) // chunk substring windows
      .select($"doc_id", posexplode(expr(
        s"transform(sequence(0, CAST(greatest(length(norm) - $overlap - 1, 0)" +
          s" DIV $stride AS INT)), j -> substring(norm, j * $stride + 1, $chunkLen))")))
      .select($"doc_id", $"pos".cast("long").as("chunk_idx"),
        ($"pos" * stride + 1).cast("long").as("start"),
        length($"col").cast("long").as("n_chars"),
        md5($"col").as("chunk_hash"))
  }

  /** Cross-document segment-level dedup (the C4/RefinedWeb line-dedup
    * pass, on word blocks since the fixture has no line structure): cut
    * each doc into consecutive `segWords`-word segments, drop every
    * segment whose text appears in at least `minDocs` distinct docs, and
    * report the reconstruction. Segment TEXT never shuffles: after the
    * narrow explode+hash, only (doc_id, pos, seg_h) long rows flow
    * through the shared-set distinct and the kept-POSITION aggregation,
    * and the re-assembly joins those positions back to the per-doc word
    * array — both sides already hash-partitioned on doc_id, so the join
    * adds no exchange and the md5 runs in codegen over a `slice`-built
    * concat (round 5 measured collect_list-of-text re-assembly going
    * 3.2× on 4× data; this form's payload is O(rows), not O(text)).
    * Output: doc_id, n_segs, n_kept, clean_hash (md5 of the kept
    * segments in order; md5('') when everything was shared). */
  def segmentDedup(docs: DataFrame, id: Column, text: Column,
                   segWords: Int = 10, minDocs: Long = 2): DataFrame = {
    require(segWords > 0 && minDocs >= 2)
    val perDoc = Pins.pin(
      docs.select(id.as("doc_id"), split(normText(text), " ").as("ws"))
        .spreadBy($"doc_id")) // conditional hash-wide parallelism (graft.spreadByKey)
    val segs = Pins.pin(
      perDoc.select($"doc_id", posexplode(expr(
          s"transform(sequence(0, CAST((size(ws) - 1) DIV $segWords AS INT))," +
            s" j -> concat_ws(' ', slice(ws, j * $segWords + 1, $segWords)))")))
        .select($"doc_id", $"pos", DetHash.h60($"col").as("seg_h")))
    val shared = segs.select($"seg_h", $"doc_id").distinct()
      .groupBy($"seg_h").agg(count(lit(1)).as("n_docs"))
      .filter($"n_docs" >= minDocs)
      .select($"seg_h")
    val keptPos = segs.join(shared, Seq("seg_h"), "left_anti")
      .groupBy($"doc_id")
      .agg(sort_array(collect_list($"pos")).as("kept_pos"))
    perDoc.join(keptPos, Seq("doc_id"), "left")
      .select($"doc_id", $"ws",
        expr(s"(size(ws) - 1) DIV $segWords + 1").cast("long").as("n_segs"),
        coalesce($"kept_pos", typedlit(Array.empty[Int])).as("kept_pos"))
      .select($"doc_id", $"n_segs",
        size($"kept_pos").cast("long").as("n_kept"),
        md5(concat_ws(" ", expr(
          s"transform(kept_pos, p -> concat_ws(' ', slice(ws, p * $segWords + 1, $segWords)))")))
          .as("clean_hash"))
  }

  /** Repeated-substring span detection (the exact-substring dedup signal
    * of Lee et al., "Deduplicating Training Data Makes Language Models
    * Better"): hash `spanLen`-char windows and report hashes seen in
    * ≥ `minDocs` distinct docs. Window starts are CONTENT-DEFINED
    * (winnowing-style, à la Schleimer et al.'s MOSS): position i anchors
    * a window iff the rolling 8-codepoint polynomial there ≡ 0 (mod
    * `anchorMod`) — see [[graft.functions.SpanAnchors]], the codegen'd
    * one-pass-per-doc expression that evaluates the probe and hashes the
    * anchored spans (the per-CHARACTER probe is the op's dominant cost;
    * as a lambda it paid an interpreted md5 per position). Content-
    * defined starts mean the same substring anchors at the same relative
    * offsets in every document — an unaligned copy is still caught,
    * which fixed-stride windows structurally miss. Expected windows per
    * doc ≈ len/anchorMod; a repeated region of length L shares a full
    * window with probability ~1 − (1−1/anchorMod)^(L−spanLen)
    * (deterministic given content — the miss case is a region whose
    * prefix hashes all dodge the anchor rule). Narrow per-doc expression
    * + explode, one hash-keyed partial-agg shuffle; distinct-doc
    * counting is two-phase (no per-key set state).
    * Output: span_h60, n_docs, n_occ, first_doc. */
  def spanDedup(docs: DataFrame, id: Column, text: Column,
                spanLen: Int = 60, anchorMod: Int = 16,
                minDocs: Long = 2): DataFrame = {
    require(spanLen >= 8 && anchorMod > 0 && minDocs >= 2)
    docs.select(id.as("doc_id"), normText(text).as("norm"))
      .filter(length($"norm") >= spanLen)
      .spreadBy($"doc_id") // conditional hash-wide parallelism (graft.spreadByKey)
      .select($"doc_id", explode(
        graft.functions.SpanAnchors.column($"norm", spanLen, anchorMod))
        .as("span_h60"))
      .groupBy($"span_h60")
      .agg(countDistinct($"doc_id").as("n_docs"), count(lit(1)).as("n_occ"),
        min($"doc_id").as("first_doc"))
      .filter($"n_docs" >= minDocs)
  }

  /** Deterministic stratified sampling — per-stratum keep RATES (the
    * exchange-free counterpart to [[mixSample]]'s exact quotas, and the
    * scale path its scaladoc promises): a doc survives iff its salted id
    * hash per-million falls below its stratum's rate. One narrow
    * projection with a broadcast rates join — no window, no shuffle, no
    * state — so the sample is reproducible, append-stable (new docs
    * never flip old decisions), and exact only in expectation (the
    * price of exchange-freedom; use [[mixSample]] when quotas must be
    * exact). Output: stratum, doc_id, keep_ppm (kept docs only). */
  def stratifiedSample(docs: DataFrame, id: Column, stratum: Column,
                       rates: Map[String, Double],
                       defaultRate: Double = 0.0,
                       salt: String = "strat:"): DataFrame = {
    require(rates.values.forall(r => r >= 0.0 && r <= 1.0) &&
      defaultRate >= 0.0 && defaultRate <= 1.0, "rates must be in [0,1]")
    val spark = docs.sparkSession
    import spark.implicits._
    val rdf = broadcast(rates.toSeq
      .map { case (k, r) => (k, math.floor(r * 1000000).toLong) }
      .toDF("stratum", "keep_ppm"))
    docs.select(stratum.as("stratum"), id.as("doc_id"))
      .join(rdf, Seq("stratum"), "left")
      .withColumn("keep_ppm", coalesce($"keep_ppm",
        lit(math.floor(defaultRate * 1000000).toLong)))
      .filter(DetHash.h60(concat(lit(salt), $"doc_id".cast("string")))
        % 1000000 < $"keep_ppm")
      .select($"stratum", $"doc_id", $"keep_ppm")
  }

  /** Per-doc bigram rows (doc_id [, extra carried cols], w1, w2) — the
    * shared expansion behind [[lmScore]] and [[importanceScore]]; the
    * caller pins it (both models and the scoring join re-read it). */
  private def bigramRows(docs: DataFrame, id: Column, text: Column,
                         extra: Seq[(Column, String)]): DataFrame = {
    val carried = extra.map { case (_, n) => col(n) }
    docs.select(id.as("doc_id") +: extra.map { case (c, n) => c.as(n) } :+
        split(normText(text), " ").as("ws"): _*)
      .filter(size($"ws") >= 2)
      .spreadBy($"doc_id") // conditional hash-wide parallelism (graft.spreadByKey)
      .select($"doc_id" +: carried :+ explode(expr(
        "transform(sequence(1, size(ws) - 1)," +
          " i -> struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2))"))
        .as("bg"): _*)
      .select($"doc_id" +: carried :+ $"bg.w1".as("w1") :+
        $"bg.w2".as("w2"): _*)
  }

  /** The [[withSplit]] train bucket as a filter over bigram rows. */
  private def trainBucket(trainPct: Int): Column =
    DetHash.h60(concat(lit("split:"), $"doc_id".cast("string"))) % 100 <
      trainPct

  /** Bigram model from train-side bigram rows: scaled conditional
    * probability `c(w1,w2)·10⁶ DIV c(w1·)` per seen bigram, named `p`.
    * Vocabulary-sized partial aggs; the single source of the model rule
    * shared by [[lmScore]] and [[importanceScore]]. */
  private def bigramModel(side: DataFrame, p: String): DataFrame = {
    val c2 = side.groupBy($"w1", $"w2").agg(count(lit(1)).as("c2"))
    val c1 = side.groupBy($"w1").agg(count(lit(1)).as("c1"))
    c2.join(c1, "w1")
      .select($"w1", $"w2", expr("c2 * 1000000 DIV c1").as(p))
  }

  /** Bigram language-model scoring — the CCNet-style "how much does this
    * doc look like the reference corpus" quality signal: train bigram /
    * history counts on the train split (the deterministic [[withSplit]]
    * bucket), then score EVERY doc by its mean scaled conditional
    * probability. Exact integer arithmetic end to end: a seen bigram
    * contributes `c(w1,w2) · 10⁶ DIV c(w1·)` (history count, so
    * probabilities per history sum to ~10⁶), an unseen one contributes 0,
    * and the doc score is the occurrence sum DIV n_bigrams.
    *
    * Scale shape: the bigram explode is narrow (array transform per doc);
    * model training is a (w1,w2)-keyed partial agg over the train side —
    * the model table is vocabulary-sized, ≪ corpus — and scoring is one
    * shuffle join of corpus bigrams against the model (AQE broadcasts the
    * model when it fits). Docs with < 2 tokens have no bigrams and are
    * excluded. Output: doc_id, n_bigrams, lm_ppm. */
  def lmScore(docs: DataFrame, id: Column, text: Column,
              trainPct: Int = 80): DataFrame = {
    require(trainPct > 0 && trainPct <= 100)
    val big = Pins.pin(bigramRows(docs, id, text, Nil))
    val model = bigramModel(big.filter(trainBucket(trainPct)), "p_ppm")
    big.join(model, Seq("w1", "w2"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce($"p_ppm", lit(0L))).as("psum"))
      .select($"doc_id", $"n_bigrams", expr("psum DIV n_bigrams").as("lm_ppm"))
  }

  /** DSIR-style importance scoring — the data-selection signal of Xie et
    * al.'s "Data Selection for Language Models via Importance Resampling":
    * how much more a document looks like the TARGET domain than like the
    * corpus at large. Two bigram models train on the train split — one on
    * the `isTarget` rows only, one on everything — and every doc scores
    * under both ([[lmScore]] semantics: mean scaled conditional
    * probability, exact integers, unseen bigram = 0). The importance
    * surrogate is the score DIFFERENCE (log-free, so the arithmetic stays
    * exact); rank or threshold on it to upsample target-like data.
    *
    * Scale shape: one narrow bigram explode feeds both models and the
    * scoring join; each model is a vocabulary-sized partial agg; scoring
    * is two model joins on the same corpus-bigram pass. Output: doc_id,
    * n_bigrams, target_ppm, base_ppm, importance. */
  def importanceScore(docs: DataFrame, id: Column, text: Column,
                      isTarget: Column, trainPct: Int = 80): DataFrame = {
    require(trainPct > 0 && trainPct <= 100)
    val big = Pins.pin(bigramRows(docs, id, text, Seq(isTarget -> "is_t")))
    val train = big.filter(trainBucket(trainPct))
    big.join(bigramModel(train.filter($"is_t"), "tp"), Seq("w1", "w2"), "left")
      .join(bigramModel(train, "bp"), Seq("w1", "w2"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce($"tp", lit(0L))).as("ts"),
        sum(coalesce($"bp", lit(0L))).as("bs"))
      .select($"doc_id", $"n_bigrams",
        expr("ts DIV n_bigrams").as("target_ppm"),
        expr("bs DIV n_bigrams").as("base_ppm"))
      .withColumn("importance", $"target_ppm" - $"base_ppm")
  }
}
