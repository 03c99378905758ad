package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for the LLM-data-pipeline extension surface
  * (SURVEY.md §2.4, BASELINE.json north star): tokenization, token counting,
  * n-gram shingling, language ID (stopword heuristic), quality scoring and
  * rolling-hash fingerprinting over the `documents` table.
  *
  * Everything is built from codegen'd Catalyst expressions (split /
  * higher-order functions / regexp) — no UDFs — so the whole pipeline stays
  * inside WholeStageCodegen and scales embarrassingly parallel: every op here
  * is a pure per-row map, no shuffle at 100 TB.
  *
  * Cross-engine determinism: token hashing uses the first 8 hex chars of
  * md5 (available and bit-identical in Spark and DuckDB), and all integer
  * arithmetic is exact — oracles hash-match exactly.
  */
object TextAnalysis {

  /** Cross-engine-stable 6-digit rounding: floor(x*1e6 + 0.5)/1e6 as plain
    * IEEE ops. Spark's `round` routes through BigDecimal.valueOf (shortest
    * decimal repr) while DuckDB multiplies-and-rounds — the two disagree on
    * values whose 7th digit is exactly 5; this explicit form is identical
    * everywhere.
    */
  def round6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6

  /** Lower-cased whitespace tokens, empties removed. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => t =!= "")

  /** Distinct token set (order-normalized by sort for determinism). */
  def tokenSet(text: Column): Column = array_sort(array_distinct(tokens(text)))

  /** Distinct SORTED 32-bit token-hash set — the verification-side twin of
    * the minhash signature's token hashing. Jaccard over these equals
    * Jaccard over the token strings except on md5-prefix collisions, which
    * collapse the SAME tokens in both engines (the oracle replays the
    * identical md5 fold), so pair output stays hash-identical while the
    * intersect merge walk compares longs instead of strings and the
    * candidate-token shuffle carries 8-byte elements instead of UTF8
    * payloads. Hash after the string distinct: one md5 per DISTINCT token,
    * then a second distinct over the hashes so a collision still yields a
    * set. */
  def hashedTokenSet(text: Column): Column =
    array_sort(array_distinct(transform(array_distinct(tokens(text)),
      t => tokenHash32(t))))

  /** Deterministic 32-bit token hash: first 8 hex chars of md5 as a long.
    * Range [0, 2^32); DuckDB twin: fold hex chars of substr(md5(t),1,8).
    * Routed through the native digest-bytes expression (no hex round-trip);
    * [[tokenHash32Sql]] keeps the composed built-in form for the
    * equivalence spec.
    */
  def tokenHash32(tok: Column): Column =
    graft.functions.Native.tokenHash32(tok)

  /** Built-in-function twin of [[tokenHash32]] (definitionally the DuckDB
    * oracle's arithmetic). */
  def tokenHash32Sql(tok: Column): Column =
    conv(substring(md5(tok), 1, 8), 16, 10).cast("long")

  /** All four 32-bit words of one md5 digest (`array<long>`, word 0 ≡
    * [[tokenHash32]]) — one digest per FOUR independent hash streams; see
    * [[graft.functions.Kernels.tokenHash32x4]]. */
  def tokenHash32Words(tok: Column): Column =
    graft.functions.Native.tokenHash32x4(tok)

  /** Word n-gram shingles over an ALREADY-MATERIALIZED token-array column.
    * The token array must be a projected column (attribute), not an inline
    * expression: `toks` appears inside the transform lambda, where an
    * embedded tokenizer subtree would re-run per shingle position —
    * O(tokens²) tokenization per row (measured 1.5× end-to-end on the
    * shingle-heavy queries).
    */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Word n-gram shingles from raw text (space-joined), empty when fewer
    * than n tokens. Convenience form for one-shot use; hot paths should
    * project [[tokens]] first and call [[shinglesFromTokens]]. */
  def shingles(text: Column, n: Int): Column =
    shinglesFromTokens(tokens(text), n)

  /** Rolling-combine constants for [[shingleHashesFromHashes]]: the
    * combine is ((h₁·C + h₂) mod M · C + h₃) mod M — all intermediates
    * ≤ 2^52, exact in BIGINT on both engines, result in the same
    * [0, 2^32) universe the KMV estimator assumes. */
  val ShingleHashM: Long = 4294967296L
  val ShingleHashC: Long = 1000003L

  /** n-gram shingle hashes composed from PER-TOKEN hashes by rolling
    * combine — the md5 cost becomes one digest per TOKEN instead of one
    * per shingle CONCATENATION (each token otherwise re-hashed n times as
    * part of n overlapping shingles, plus the join-with-spaces allocation;
    * measured 4.2 s → 1.7 s on q_kmv_distinct at sf0.1). DuckDB replays
    * the identical integer combine over its own md5-fold token hashes, so
    * every downstream sketch value still hash-gates.
    *
    * `th` must be a PROJECTED token-hash array column (see
    * [[graft.ops.Dedup.tokenHashes]] and the [[shinglesFromTokens]]
    * projection discipline note). Empty result when fewer than n tokens.
    */
  def shingleHashesFromHashes(th: Column, n: Int): Column =
    when(size(th) >= n,
      transform(sequence(lit(0), size(th) - n),
        i => (0 until n).foldLeft(lit(0L)) { (acc, j) =>
          (acc * ShingleHashC + element_at(th, i + j + 1)) % ShingleHashM }))
      .otherwise(array().cast("array<long>"))

  /** Non-overlapping chunk hashes composed from PER-TOKEN hashes — the
    * [[chunks]]+md5 hot path without the chunk-string allocation or the
    * per-chunk digest (same rolling combine and 2^52-exactness argument as
    * [[shingleHashesFromHashes]]; the final short chunk folds over its
    * actual 1..n tokens). Chunk equality becomes hash equality in the
    * [0, 2^32) universe the rest of the dedup family already uses; both
    * engines compute the identical combine, so cross-engine comparison is
    * unaffected. Empty array for empty input.
    */
  def chunkHashesFromHashes(th: Column, chunkTokens: Int): Column = {
    require(chunkTokens > 0)
    val nChunks = ceil(size(th).cast("double") / chunkTokens).cast("int")
    val idxs = when(size(th) > 0, sequence(lit(0), nChunks - 1))
      .otherwise(expr("array()").cast("array<int>"))
    transform(idxs, i =>
      aggregate(slice(th, i * chunkTokens + 1, lit(chunkTokens)), lit(0L),
        (acc, h) => (acc * ShingleHashC + h) % ShingleHashM))
  }

  /** Whitespace token count — the cheap "how many tokens" estimator. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: split on word boundaries/punct and count runs of
    * <=4 chars — a deterministic proxy for tokenizer cost (no external vocab).
    * ceil(len/4) per word + punctuation runs counted separately.
    */
  def subwordCount(text: Column): Column =
    aggregate(
      tokens(text),
      lit(0L),
      (acc, t) => acc + ceil(length(t).cast("double") / 4.0).cast("long"))

  /** Tiny per-language stopword lists for the heuristic language ID.
    * Real function-word lists (public knowledge); deterministic.
    */
  val StopwordLists: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist", "ein", "eine"),
    "en" -> Seq("the", "a", "and", "of", "to", "is", "in", "that"),
    "es" -> Seq("el", "la", "los", "que", "y", "de", "un", "una"),
    "fr" -> Seq("le", "la", "les", "et", "de", "un", "une", "est"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不"))

  /** Count of tokens (with multiplicity) found in `words`. */
  private def stopwordHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit): _*)))

  /** Heuristic language ID: argmax of stopword hits, lexicographic tie-break
    * (first language in `StopwordLists` order wins ties, mirroring a stable
    * max). Returns (lang_pred, lang_score) as a struct.
    */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    // struct(score, negIdx) max = highest score, earliest list on ties
    val scored = StopwordLists.zipWithIndex.map { case ((lang, words), i) =>
      struct(stopwordHits(toks, words).as("score"),
        lit(-i).as("neg_idx"), lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    struct(best.getField("lang").as("lang_pred"),
      best.getField("score").as("lang_score"))
  }

  /** [[langId]] plus its confidence ingredients: (lang_pred, best-list
    * hit count, total hits across ALL lists). conf = best/total is the
    * heuristic's self-reported probability — what a calibration readout
    * (q_langid_ece) buckets. Same argmax/tie-break as [[langId]]. */
  def langIdConfidence(text: Column): Column = {
    val toks = tokens(text)
    val scored = StopwordLists.zipWithIndex.map { case ((lang, words), i) =>
      struct(stopwordHits(toks, words).as("score"),
        lit(-i).as("neg_idx"), lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    val total = scored.map(_.getField("score")).reduce(_ + _)
    struct(best.getField("lang").as("lang_pred"),
      best.getField("score").as("best_hits"),
      total.as("total_hits"))
  }

  /** English stopword ratio, punctuation ratio, mean token length — the
    * classic cheap quality signals — blended into one deterministic score.
    * All-double arithmetic evaluated in a fixed order; rounded to 6 digits
    * so the DuckDB twin hash-matches.
    */
  def qualityScore(text: Column): Column = {
    val toks = tokens(text)
    val nTok = size(toks).cast("double")
    val nChar = length(text).cast("double")
    val punct = regexp_count(text, lit("[.,;:!?]")).cast("double")
    val stop = stopwordHits(toks, StopwordLists.toMap.apply("en")).cast("double")
    val avgLen = when(nTok > 0, aggregate(toks, lit(0L), (a, t) => a + length(t))
      .cast("double") / nTok).otherwise(lit(0.0))
    val score =
      least(nTok / 100.0, lit(1.0)) * 0.3 +
        when(nTok > 0, stop / nTok).otherwise(lit(0.0)) * 0.3 +
        (lit(1.0) - least(when(nChar > 0, punct / nChar).otherwise(lit(0.0)), lit(1.0))) * 0.2 +
        least(avgLen / 8.0, lit(1.0)) * 0.2
    round6(score)
  }

  /** Flesch reading-ease score (Flesch 1948; the classic readability
    * screen a curation pipeline runs next to [[qualityScore]]):
    * 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words), with
    * sentences counted as `[.!?]+` runs and syllables approximated by
    * vowel-group runs `[aeiouy]+` (the standard regex-only proxy — both
    * engines run the identical pattern, so the approximation is pinned,
    * not estimated). Zero-denominator guards: sentence/syllable counts
    * clamp to 1 (a fragment with no terminator is one sentence); empty
    * documents score 0. Fixed-order double composition, 6dp floored —
    * scan-stage, no shuffle, stays inside whole-stage codegen.
    */
  def fleschScore(text: Column): Column = {
    val w = size(tokens(text)).cast("double")
    val s = greatest(regexp_count(text, lit("[.!?]+")), lit(1)).cast("double")
    val y = greatest(regexp_count(lower(text), lit("[aeiouy]+")), lit(1)).cast("double")
    round6(when(w > 0,
      lit(206.835) - lit(1.015) * (w / s) - lit(84.6) * (y / w))
      .otherwise(lit(0.0)))
  }

  /** Gopher-style n-gram repetition signals (Rae et al. 2021 §A1.1 use
    * them as removal rules for training corpora): per document,
    *  - `top_frac`: fraction of n-gram slots taken by the single most
    *    frequent n-gram,
    *  - `dup_frac`: fraction of n-gram slots whose n-gram occurs >= 2
    *    times.
    * Computed SCAN-LOCALLY: sort the document's n-gram array once
    * (O(g log g) per row), then a single linear `aggregate` walk tracks
    * the current equal-run length, the longest run, and the slots in
    * runs >= 2 — no explode, no shuffle, stays inside whole-stage
    * codegen. The explode + groupBy(doc, gram) alternative shuffles
    * every n-gram of a 100 TB corpus to count duplicates that are
    * per-document by definition.
    */
  def repetitionStatsFromTokens(toks: Column, n: Int): Column = {
    val grams = array_sort(shinglesFromTokens(toks, n))
    val g = size(grams)
    val walk = aggregate(grams,
      struct(lit("").as("prev"), lit(0L).as("run"),
        lit(0L).as("best"), lit(0L).as("dup")),
      (a, x) => {
        val run = when(x === a.getField("prev"), a.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(a.getField("best"), run).as("best"),
          (a.getField("dup") +
            // a run's 2nd member retroactively counts its 1st slot too
            when(run === 2, lit(2L)).when(run > 2, lit(1L)).otherwise(lit(0L)))
            .as("dup"))
      })
    struct(
      when(g > 0, round6(walk.getField("best").cast("double") / g))
        .otherwise(lit(0.0)).as("top_frac"),
      when(g > 0, round6(walk.getField("dup").cast("double") / g))
        .otherwise(lit(0.0)).as("dup_frac"))
  }

  /** [[repetitionStatsFromTokens]] from raw text; hot paths should project
    * [[tokens]] once and reuse it across n. */
  def repetitionStats(text: Column, n: Int): Column =
    repetitionStatsFromTokens(tokens(text), n)

  /** Text normalization for pipeline hygiene: strip control chars,
    * collapse whitespace runs to single spaces, trim. Pure regexp chain —
    * codegen'd, shuffle-free. */
  def cleanText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(text, "[\\p{Cntrl}]", " "), "\\s+", " "))

  /** Deterministic bucket in [0, buckets) from the md5-prefix hash of a key
    * — the engine's sampling/split primitive: unlike `df.sample`, the
    * assignment is a pure function of the key (stable across runs, engines,
    * partitionings, and cluster sizes), which is what a reproducible
    * training-data pipeline needs. */
  def hashBucket(key: Column, buckets: Int): Column =
    pmod(tokenHash32(key.cast("string")), lit(buckets.toLong))

  /** Train/val/test assignment by hash percentile (80/10/10 by default). */
  def assignSplit(key: Column, trainPct: Int = 80, valPct: Int = 10): Column = {
    val b = hashBucket(key, 100)
    when(b < trainPct, "train")
      .when(b < trainPct + valPct, "val")
      .otherwise("test")
  }

  /** Rolling polynomial fingerprint over the raw characters:
    * acc := (acc * 31 + codepoint) mod (2^31-1). Exact integer arithmetic —
    * identical in any engine; DuckDB twin uses list_reduce over the chars.
    */
  def fingerprint(text: Column): Column =
    aggregate(
      split(text, ""),
      lit(0L),
      (acc, c) => (acc * 31 + ascii(c)) % 2147483647L)

  /** Context-window chunking: split a document's token stream into windows
    * of `chunkTokens` tokens advancing by `chunkTokens - overlap` (the
    * training-data prep step that turns documents into model-context-sized
    * rows). Returns an array of structs (chunk_idx, chunk_text) to
    * posexplode — all per-row expression work, no shuffle; at 100 TB this
    * runs inside the scan stage and the output partitions like its input.
    * A window starts at every step multiple below the token count, so the
    * tail window may be shorter than `chunkTokens` (and, for documents
    * shorter than `chunkTokens`, can be a suffix of the previous window —
    * downstream exact dedup on the chunk text removes those).
    */
  def chunks(text: Column, chunkTokens: Int, overlap: Int): Column = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap ($overlap) < chunkTokens ($chunkTokens)")
    val step = chunkTokens - overlap
    val toks = tokens(text)
    // starts: 0, step, 2*step, ... while start < n (at least one for n > 0)
    val nChunks = greatest(ceil(size(toks).cast("double") / step).cast("int"), lit(0))
    val idxs = when(size(toks) > 0, sequence(lit(0), nChunks - 1)).otherwise(
      expr("array()").cast("array<int>"))
    transform(idxs, i =>
      struct(i.as("chunk_idx"),
        array_join(slice(toks, i * step + 1, lit(chunkTokens)), " ").as("chunk_text")))
  }

  /** Greedy contiguous sequence packing: assign documents, in a
    * deterministic order, to fixed token-budget bins by exclusive running
    * token count — bin = floor(cumsum_before / budget). The packing used
    * when assembling training sequences from many short documents; each
    * bin's members are contiguous in the order (locality-preserving), and
    * documents longer than the budget still land in one bin (they are
    * truncated downstream by [[chunks]], not here).
    *
    * The prefix sum is DISTRIBUTED, not a global-order window (which Spark
    * executes on a single reducer): [[RobustStats.prefixSum]] range-
    * partitions on the order key, prefix-sums WITHIN each partition, and
    * adds per-partition offsets computed from partition totals (a
    * numPartitions-scalar driver collect, not a data-path collect).
    *
    * Returns the input columns + (n_tokens, bin).
    */
  def packBins(df: org.apache.spark.sql.DataFrame, textCol: String,
      orderCol: String, budgetTokens: Int): org.apache.spark.sql.DataFrame = {
    require(budgetTokens > 0, s"budgetTokens=$budgetTokens must be positive")
    import org.apache.spark.sql.expressions.Window
    val packed = RobustStats.prefixSum(
        df.withColumn("n_tokens", tokenCount(col(textCol))),
        Seq(col(orderCol)), sum(col("n_tokens")), "__before") { w =>
      coalesce(sum(col("n_tokens")).over(w.orderBy(col(orderCol))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    }
    packed
      .withColumn("bin", (col("__before") / budgetTokens).cast("bigint"))
      .drop("__before")
  }
}
