package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for large-scale training-data pipelines:
  * normalization, tokenization, shingling, language ID, quality scoring,
  * fingerprinting. All pure column expressions (whole-stage codegen'd —
  * no UDFs), so they scale linearly with input and fuse with the scan. */
object TextOps {

  /** Canonical text normalization: lowercase, strip non-alphanumerics,
    * collapse whitespace. */
  def normalize(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))

  /** Whitespace word tokens of normalized text. */
  def words(c: Column): Column = split(normalize(c), " ")

  /** Unicode-aware canonical normalization: NFC composition (the
    * codegen'd [[graft.functions.NfcNormalize]] — decomposed `e`+U+0301
    * folds to `é` BEFORE the letter class is applied, else the combining
    * mark, which is `\p{M}` not `\p{L}`, is stripped and the base letter
    * orphaned), then lowercase, keep letters/digits of EVERY script
    * (`\p{L}\p{N}`), collapse whitespace. The multilingual twin of
    * [[normalize]], which maps all non-ASCII to separators and so
    * empties CJK/Cyrillic/Arabic/Greek documents through every text op.
    * Cross-engine: DuckDB mirrors as
    * `trim(regexp_replace(regexp_replace(lower(nfc_normalize(x)),
    * '[^\p{L}\p{N} ]', ' ', 'g'), ' +', ' ', 'g'))` — Java regex and
    * RE2 agree on the `\p{L}`/`\p{N}` general categories, and JDK
    * Normalizer / utf8proc agree on NFC (both pinned by the
    * `text_*_unicode` oracle gates). */
  def normalizeUnicode(c: Column): Column =
    trim(regexp_replace(regexp_replace(
      lower(graft.functions.nfc(c)), "[^\\p{L}\\p{N} ]", " "), " +", " "))

  /** Whitespace word tokens of Unicode-normalized text. (Scripts written
    * without spaces — CJK — tokenize as one word per run; character-level
    * ops, not this, are the unit for those.) */
  def wordsUnicode(c: Column): Column = split(normalizeUnicode(c), " ")

  // Precompiled once per JVM: String.replaceAll recompiles its pattern on
  // EVERY call, which across the typed narrow passes below meant two
  // Pattern.compile per ROW (guide §1.2 step 2: per-task work).
  private val NonLetterNumRe = java.util.regex.Pattern.compile("[^\\p{L}\\p{N} ]")
  private val SpaceRunsRe = java.util.regex.Pattern.compile(" +")

  /** JVM twin of [[normalizeUnicode]] for typed narrow passes — keep in
    * sync with the column expression (equivalence pinned by
    * `dedup_segments_unicode`'s oracle and TextChunkSpec). */
  def normalizeUnicodeString(text: String): String = {
    val lowered = java.text.Normalizer.normalize(Option(text).getOrElse(""),
        java.text.Normalizer.Form.NFC)
      .toLowerCase(java.util.Locale.ROOT)
    SpaceRunsRe.matcher(NonLetterNumRe.matcher(lowered).replaceAll(" "))
      .replaceAll(" ").trim
  }

  /** JVM twin of [[normalize]] for typed narrow passes: one char pass, no
    * regex at all. Exactly the expression chain's semantics — any char
    * outside `[a-z0-9 ]` (after ROOT lowercasing) becomes a separator,
    * separator runs collapse to one space, leading/trailing separators
    * drop. Replaces per-row `String.replaceAll` chains (which recompile
    * both patterns on every call) across every shingle/segment/token
    * consumer; equivalence is pinned by those consumers' DuckDB oracles
    * plus a dedicated TextChunkSpec vector. */
  def normalizeAsciiString(text: String): String = {
    val lower =
      (if (text == null) "" else text).toLowerCase(java.util.Locale.ROOT)
    val n = lower.length
    val sb = new java.lang.StringBuilder(n)
    var pendingSep = false
    var i = 0
    while (i < n) {
      val c = lower.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        if (pendingSep && sb.length > 0) sb.append(' ')
        sb.append(c)
        pendingSep = false
      } else pendingSep = true
      i += 1
    }
    sb.toString
  }

  /** Word n-gram shingles (distinct). For n=1 this is the word set. */
  def wordShingles(c: Column, n: Int): Column = {
    val w = words(c)
    if (n == 1) array_distinct(w)
    else {
      // shingle i = words[i..i+n-1] joined by ' ', for i in 1 .. size-n+1
      // (guard: Spark sequence(1, x) DESCENDS for x < 1, so short texts
      // must short-circuit to an empty shingle set)
      val idx = sequence(lit(1), size(w) - lit(n - 1))
      val shingles = array_distinct(transform(idx, i =>
        concat_ws(" ", (0 until n).map(k => element_at(w, i + lit(k))): _*)))
      when(size(w) < n, array().cast("array<string>")).otherwise(shingles)
    }
  }

  /** Word n-gram shingles as DISTINCT (id, shingle) rows — the inverted-
    * index form every shingle consumer (minhash, jaccard, contamination)
    * actually wants. Implemented as a typed flatMap that normalizes,
    * slides the window, and dedups per document with a local hash set:
    * a single NARROW pass — no shuffle at all. The two declarative
    * formulations both lose: array-level `transform(...)` is evaluated
    * interpreted (~37s for 5.5k docs at sf0.1), and posexplode + window
    * `lead` + distinct pays a shuffle+sort of every word row plus a
    * distinct shuffle (measured 2.5x slower warm than this form, which
    * produces byte-identical output). At 100 TB the difference is
    * structural: shingling stays partition-local and pipelines straight
    * into the downstream aggregation's map side.
    *
    * The Scala normalization mirrors [[normalize]] exactly (lowercase,
    * strip non-alphanumerics, collapse spaces); equivalence is pinned by
    * the DuckDB oracle on every shingle consumer. Requires a numeric id
    * column. */
  def wordShingleRows(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 1, "shingle width must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast(LongType).as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        if (text == null) Iterator.empty
        else {
          val norm = normalizeAsciiString(text)
          val words = norm.split(" ", -1)
          if (words.length < n) Iterator.empty
          else {
            val seen = new java.util.HashSet[String]()
            (0 to words.length - n).iterator
              .map(i => words.view.slice(i, i + n).mkString(" "))
              .filter(seen.add)
              .map(sh => (id, sh))
          }
        }
      }.toDF("id", "sh")
  }

  /** Overlapping token-window chunking (the RAG / context-packing
    * primitive): each document's normalized word stream is cut into
    * windows of `window` tokens starting every `stride` tokens, the
    * final (possibly short) windows included — so every token lands in
    * at least one chunk and consecutive chunks overlap by
    * `window - stride` tokens.
    *
    * Chunk grammar (the cross-engine contract): starts are
    * `0, stride, 2*stride, …` for every start strictly below the token
    * count; chunk i spans tokens `[start, min(start+window, n))`;
    * `chunk_idx = start / stride`. Empty normalized text behaves as the
    * single-empty-token list (both Spark's `split` and DuckDB's
    * `string_split` return `['']`), yielding one empty chunk.
    *
    * Same NARROW typed-pass boundary decision as [[wordShingleRows]]
    * (measured there): one partition-local slide per document, no
    * shuffle, ~n/stride output rows per n-token document — at corpus
    * scale the chunker pipelines straight from the scan into whatever
    * consumes the chunks (embedding, packing, indexing).
    *
    * Output: (id, chunk_idx, n_tokens, chunk) — chunk as text so callers
    * hash/embed/pack it downstream. */
  def chunkRows(df: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame = {
    require(window >= 1 && stride >= 1 && stride <= window,
      s"need 1 <= stride <= window, got window=$window stride=$stride")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast(LongType).as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        if (text == null) Iterator.empty
        else {
          // mirrors normalize()/words(): lowercase, strip, collapse, trim
          val norm = normalizeAsciiString(text)
          val toks = norm.split(" ", -1)
          (0 until toks.length by stride).iterator.map { start =>
            val slice = toks.slice(start, math.min(start + window, toks.length))
            (id, (start / stride).toLong, slice.length.toLong, slice.mkString(" "))
          }
        }
      }.toDF("id", "chunk_idx", "n_tokens", "chunk")
  }

  /** Corpus-level duplicated-span statistics (the detection half of
    * substring-level dedup, Lee et al. 2022 "Deduplicating Training Data
    * Makes Language Models Better"): for each document, how many of its
    * distinct `k`-token grams also occur in at least one OTHER document.
    * A high `dup_ratio` marks boilerplate and cross-document copied
    * spans that survive whole-document dedup; pipelines drop or trim
    * those documents (the span-removal step is a local rewrite once the
    * grams are flagged).
    *
    * Plan shape, sized for 100 TB: narrow shingle passes
    * ([[wordShingleRows]], distinct per doc), grams compressed to 64-bit
    * `xxhash64` keys before anything shuffles (8-byte shuffle rows, not
    * 40+-char strings — the hash is internal, so cross-engine outputs
    * are unaffected modulo astronomically-unlikely collisions), one
    * map-side-combined count per gram, one hash-partitioned join back
    * (both sides keyed by the gram hash), one per-doc agg. The gram
    * rows feed both join sides, so the corpus is shingled TWICE — the
    * deliberate trade: re-running the CPU-cheap narrow pass beats
    * persisting a corpus-sized gram table, and the one-pass alternative
    * (collect_list of doc ids per gram, then explode) puts every
    * occurrence of a boilerplate gram on ONE row — the skew killer this
    * join shape avoids. Nothing here materializes the corpus gram set
    * on fewer than all partitions.
    *
    * Output: (id, n_grams, dup_grams, dup_ratio) over documents with at
    * least one full k-gram; `dup_ratio` is one IEEE division of the two
    * exact counts, so any engine recomputing it matches bits. */
  def dupGramStats(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val grams = wordShingleRows(df, idCol, textCol, k)
      .select(col("id"), xxhash64(col("sh")).as("gh"))
    val counts = grams.groupBy(col("gh"))
      .agg(count(lit(1)).as("nd"))
    grams.join(counts, "gh")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("dup_grams"))
      .select(col("id"), col("n_grams"), col("dup_grams"),
        (col("dup_grams").cast(DoubleType) / col("n_grams").cast(DoubleType))
          .as("dup_ratio"))
  }

  /** BPE-ish token count: alpha runs, single digits, and single
    * punctuation marks each count as one token (a cheap, deterministic
    * stand-in for a real BPE vocabulary; the regex is the contract). */
  val TokenPattern = "[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]"
  def tokenCount(c: Column): Column = size(regexp_extract_all(c, lit(TokenPattern), lit(0)))

  /** Whitespace token count. */
  def wordCount(c: Column): Column =
    when(length(normalize(c)) === 0, lit(0)).otherwise(size(words(c)))

  /** Gopher-style repetition signals per document: the share of words
    * taken by the single most frequent word, and the duplicate word
    * n-gram fraction (1 - distinct/total shingles). High values flag
    * boilerplate / degenerate text a pretraining pipeline drops.
    *
    * One NARROW typed pass (same boundary decision as
    * [[wordShingleRows]], measured there): per document one hash-map
    * frequency count and one sliding-window shingle dedup, O(words) with
    * no sort — where the declarative forms either pay an interpreted
    * higher-order `transform`/`aggregate` per row or an explode +
    * groupBy shuffle of every word occurrence. Zero shuffles; pipelines
    * straight into downstream gates. The double arithmetic
    * (`best/n`, `1.0 - distinct/total`) is two IEEE single-rounding ops,
    * so any engine recomputing it from the same integers matches bits.
    *
    * Output: (id, top_word_share, dup_ngram_frac); empty text yields
    * (1.0, 0.0) for consistency with `string_split('')` = [''] engines. */
  def repetitionMetrics(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    require(n >= 2, "shingle width must be >= 2")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast(LongType).as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val norm = normalizeAsciiString(text)
        val ws = norm.split(" ", -1)
        val nw = ws.length
        val counts = new java.util.HashMap[String, Int]()
        var best = 0
        ws.foreach { w =>
          val c = counts.merge(w, 1, Integer.sum _)
          if (c > best) best = c
        }
        val top = best.toDouble / nw.toDouble
        val totalSh = nw - n + 1
        val dup =
          if (totalSh <= 0) 0.0
          else {
            val seen = new java.util.HashSet[String]()
            var i = 0
            var dis = 0
            while (i <= nw - n) {
              if (seen.add(ws.view.slice(i, i + n).mkString(" "))) dis += 1
              i += 1
            }
            1.0 - dis.toDouble / totalSh.toDouble
          }
        (id, top, dup)
      }.toDF("id", "top_word_share", "dup_ngram_frac")
  }

  /** Gopher document-quality rule flags (Rae et al. 2021, "Scaling
    * Language Models: Methods, Analysis & Insights from Training
    * Gopher", Table A1 — the MassiveText quality filter), per document:
    *
    *  - word count in [50, 100 000];
    *  - mean word length in [3, 10] characters;
    *  - symbol-to-word ratio ("#" or "...") ≤ 0.1;
    *  - ≥ 80% of words contain at least one alphabetic character;
    *  - ≥ 2 distinct members of the English stop-word list present
    *    (the "harmful boilerplate/gibberish" guard).
    *
    * (The bullet-/ellipsis-line rules need line structure this corpus
    * does not have and are omitted; the repetition thresholds live in
    * [[repetitionMetrics]].) Every comparison is exact-integer
    * cross-multiplied (3·nw ≤ chars ≤ 10·nw, 5·alpha ≥ 4·nw,
    * 10·symbols ≤ nw) — no ratio floats to disagree on. One NARROW
    * typed pass, the [[repetitionMetrics]] boundary decision.
    *
    * Output: (id, n_words, pass_word_count, pass_mean_word_len,
    * pass_symbol_ratio, pass_alpha_words, pass_stopwords, pass_all). */
  def gopherQualityFlags(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val stops = stopwords("en").toSet
    df.select(col(idCol).cast(LongType).as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val raw = Option(text).getOrElse("")
        val norm = normalizeAsciiString(raw)
        val ws = if (norm.isEmpty) Array.empty[String] else norm.split(" ")
        val nw = ws.length
        val chars = if (nw == 0) 0 else norm.length - (nw - 1)
        var alpha = 0
        val stopSeen = new java.util.HashSet[String]()
        ws.foreach { w =>
          var hasAlpha = false
          var i = 0
          while (i < w.length && !hasAlpha) {
            if (w.charAt(i) >= 'a' && w.charAt(i) <= 'z') hasAlpha = true
            i += 1
          }
          if (hasAlpha) alpha += 1
          if (stops.contains(w)) stopSeen.add(w)
        }
        var sym = 0
        var i = 0
        while (i < raw.length) {
          if (raw.charAt(i) == '#') sym += 1
          else if (raw.startsWith("...", i)) { sym += 1; i += 2 }
          i += 1
        }
        val rWc = nw >= 50 && nw <= 100000
        val rMwl = nw > 0 && 3L * nw <= chars && chars <= 10L * nw
        val rSym = 10L * sym <= nw
        val rAlpha = nw > 0 && 5L * alpha >= 4L * nw
        val rStop = stopSeen.size >= 2
        (id, nw.toLong, rWc, rMwl, rSym, rAlpha, rStop,
          rWc && rMwl && rSym && rAlpha && rStop)
      }
      .toDF(idCol, "n_words", "pass_word_count", "pass_mean_word_len",
        "pass_symbol_ratio", "pass_alpha_words", "pass_stopwords", "pass_all")
  }

  private val stopwords = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for"),
    "es" -> Seq("el", "la", "de", "que", "los", "las", "una", "por"),
    "fr" -> Seq("le", "la", "les", "des", "est", "dans", "pour", "que"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"))

  /** N-gram/stopword heuristic language ID over {en,es,fr,de} with "und"
    * (undetermined) when no list scores above zero. Deterministic
    * tie-break: alphabetical language order (de, en, es, fr) — first max
    * wins; the DuckDB oracle encodes the same order.
    *
    * All four per-language hit counts come from ONE
    * [[graft.functions.TextStats]] kernel pass (whole-stage codegen's
    * subexpression elimination collapses the repeated subtree to a
    * single call) — previously four anchored regexp_count scans over the
    * twice-regex-derived normalized text. */
  def langId(c: Column): Column = {
    val st = graft.functions.text_stats(c)
    val scored = stopwords.keys.toSeq.sorted // de,en,es,fr — alphabetical, deterministic
    val hits = scored.zipWithIndex.map { case (_, i) => element_at(st, 6 + i) }
    val best = greatest(hits: _*)
    // first language (in alphabetical order) achieving the max positive score
    scored.zip(hits).reverse.foldLeft(lit("und")) { case (acc, (l, h)) =>
      when(h === best && best > 0, lit(l)).otherwise(acc)
    }
  }

  /** Quality heuristics: length, word stats, punctuation/digit ratios,
    * stopword ratio — the standard pre-training quality gates. Ratios are
    * emitted in DECIMAL so cross-engine comparison is exact.
    *
    * Every statistic reads from ONE [[graft.functions.TextStats]] kernel
    * pass (codegen CSE dedupes the shared subtree); the DECIMAL ratio
    * arithmetic on top is unchanged, so results are byte-identical to the
    * previous 8-scan regex formulation — the oracle is the proof. */
  def qualityFeatures(c: Column): Seq[(String, Column)] = {
    val st = graft.functions.text_stats(c)
    val nChars = element_at(st, 1)
    val nw = element_at(st, 2)
    val normLen = element_at(st, 3)
    val ratio = DecimalType(18, 6)
    Seq(
      "n_chars" -> nChars,
      "n_words" -> nw,
      // chars-without-spaces = norm_len - (n_words - 1): normalized text
      // is single-space separated
      "mean_word_len" -> when(nw > 0,
        ((normLen - nw + 1).cast(ratio) / nw.cast(ratio)).cast(ratio))
        .otherwise(lit(null).cast(ratio)),
      "punct_ratio" -> (element_at(st, 4).cast(ratio) /
        greatest(nChars, lit(1)).cast(ratio)).cast(ratio),
      "digit_ratio" -> (element_at(st, 5).cast(ratio) /
        greatest(nChars, lit(1)).cast(ratio)).cast(ratio),
      "stopword_ratio" -> when(nw > 0,
        (element_at(st, 7).cast(ratio) / nw.cast(ratio)).cast(ratio))
        .otherwise(lit(null).cast(ratio)))
  }

  /** Model-based quality filter, fasttext/CCNet shape: score each
    * document with a linear model over HASHED word-unigram buckets
    * (token → md5 bucket in [0, weights.size) → integer weight; document
    * logit = Σ weights + bias; keep = logit > 0). This is the structure
    * of the standard learned quality classifiers — the `weights` vector
    * is the caller's trained model (quantized to integers for
    * cross-engine exactness); [[pseudoWeights]] derives a deterministic
    * demo table both engines can regenerate.
    *
    * Scale shape: the weight vector rides the plan as ONE literal array
    * (a per-task constant — no join against a weight table, no
    * broadcast variable bookkeeping), and the whole document logit is
    * the row-local codegen'd [[graft.functions.HashedBagScore]] kernel —
    * ZERO shuffles: the score never leaves its row (the earlier
    * explode → element_at → groupBy(doc) formulation paid a doc-partial
    * exchange for the same integers; PlanAuditSpec pins the
    * exchange-free plan). Token-less and null-text documents score
    * exactly the bias. Bucket count MUST be a power of two so the
    * unsigned remainder both engines compute agrees with pmod on
    * negative hashes. */
  def hashedQualityScore(docs: DataFrame, idCol: String, textCol: String,
      weights: Seq[Long], bias: Long = 0L): DataFrame = {
    val b = weights.size
    require(b >= 2 && (b & (b - 1)) == 0, "weights.size must be a power of two")
    val toks = filter(words(col(textCol)), w => length(w) > 0)
    docs.select(col(idCol).as("doc_id"),
        (coalesce(graft.functions.hashed_bag_score(toks, typedLit(weights)), lit(0L))
          + bias).as("score"))
      .withColumn("keep", col("score") > 0)
  }

  /** TRAIN the [[hashedQualityScore]] weight table in-engine: hashed-
    * unigram Naive Bayes over a labeled split, exact integer counts →
    * log-free integer weights (the text_bm25 discipline — no floats, so
    * a SQL oracle replays training bit-for-bit). Bucket b's weight is
    * the Laplace-smoothed class-1 posterior in parts-per-million,
    * centered at the 500 000 decision point:
    * `(c1+1) * 1_000_000 / (c1+c0+2) - 500_000`, where c1/c0 count
    * class-1/class-0 TOKEN occurrences hashed into b over the training
    * docs. A document's summed score is then > 0 iff its tokens'
    * average bucket posterior exceeds ½ — Naive Bayes with the
    * log-likelihood ratio replaced by a centered posterior sum (same
    * decision family, integer-exact).
    *
    * Scale shape: one distributed explode → groupBy(bucket) with
    * map-side partial aggregation — at MOST `buckets` groups regardless
    * of corpus size, so the shuffle AND the driver collect are bounded
    * by the model size (the same contract that makes BPE training safe
    * at 100 TB). Unseen buckets get the neutral prior weight 0.
    * Null labels count as class 0 (a doc nobody vouched for is not
    * "good"). Scoring then rides the existing zero-shuffle
    * [[hashedQualityScore]] path with the trained vector as the plan
    * literal. */
  def trainHashedNbWeights(docs: DataFrame, textCol: String,
      goodLabel: Column, buckets: Int): Seq[Long] = {
    require(buckets >= 2 && (buckets & (buckets - 1)) == 0,
      "bucket count must be a power of two (hash-mod agreement)")
    val counts = docs
      .select(coalesce(goodLabel.cast("boolean"), lit(false)).as("g"),
        explode(filter(words(col(textCol)), w => length(w) > 0)).as("w"))
      .groupBy(pmod(graft.functions.md5_hash64(col("w")),
        lit(buckets.toLong)).as("b"))
      .agg(sum(when(col("g"), 1L).otherwise(0L)).as("c1"),
        sum(when(!col("g"), 1L).otherwise(0L)).as("c0"))
      .collect()
    val w = new Array[Long](buckets)
    counts.foreach { r =>
      val c1 = r.getLong(1)
      val c0 = r.getLong(2)
      w(r.getLong(0).toInt) = (c1 + 1L) * 1000000L / (c1 + c0 + 2L) - 500000L
    }
    w.toIndexedSeq
  }

  /** Deterministic demo weight table for [[hashedQualityScore]]: bucket
    * i weighs pmod(md5_64("w:i"), 7) - 3 ∈ [-3, 3] — md5-derived, so a
    * DuckDB oracle regenerates the identical table from nothing. */
  def pseudoWeights(b: Int): Seq[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until b).map { i =>
      md.reset()
      val d = md.digest(s"w:$i".getBytes("UTF-8"))
      val h = ((d(0) & 0xFFL) << 56) | ((d(1) & 0xFFL) << 48) |
        ((d(2) & 0xFFL) << 40) | ((d(3) & 0xFFL) << 32) |
        ((d(4) & 0xFFL) << 24) | ((d(5) & 0xFFL) << 16) |
        ((d(6) & 0xFFL) << 8) | (d(7) & 0xFFL)
      java.lang.Math.floorMod(h, 7L) - 3L
    }
  }

  /** Content fingerprint: md5 of the normalized text — the exact-dedup
    * key. md5 is available in every engine, so oracle-comparable. */
  def fingerprint(c: Column): Column = md5(normalize(c))

  /** Benchmark-decontamination scan: for every corpus document, the
    * number of distinct word n-gram shingles it shares with a probe set
    * (eval/benchmark texts). Corpus shingles reduce to 64-bit md5 hashes
    * before the join (8-byte keys instead of n-word strings); the probe
    * shingle set is broadcast — benchmark suites are tiny next to a
    * training corpus, so the 100 TB side never shuffles: the scan
    * streams against a few-MB hash set, exactly like a bloom probe but
    * exact. Only contaminated documents appear in the output. */
  def contaminationCounts(corpus: DataFrame, idCol: String, textCol: String,
      probes: DataFrame, probeIdCol: String, probeTextCol: String,
      n: Int): DataFrame = {
    val csh = wordShingleRows(corpus, idCol, textCol, n)
      .select(col("id"), graft.functions.md5_hash64(col("sh")).as("h"))
    val psh = wordShingleRows(probes, probeIdCol, probeTextCol, n)
      .select(graft.functions.md5_hash64(col("sh")).as("h")).distinct()
    csh.join(broadcast(psh), "h")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shared_shingles"))
  }

  /** Disjoint word-block segments of width `k` over normalized text: the
    * dedup unit for segment-level (CCNet/RefinedWeb "line"-level) dedup
    * when the corpus has no newlines. Block i is words [i*k, i*k+k) joined
    * by a single space; the last block may be shorter. A production corpus
    * with real line breaks would use `split(text, "\n")` as the unit
    * instead — every consumer below is agnostic to how the segment column
    * was produced. */
  def wordSegments(c: Column, k: Int): Column = {
    require(k >= 1, "segment width must be >= 1")
    val w = words(c)
    // ceil(size/k) in integer arithmetic; size >= 1 always (split of ""
    // yields [""]), so the sequence bound never descends below 0
    val nblocks = floor((size(w) + lit(k - 1)) / lit(k)).cast("int")
    transform(sequence(lit(0), nblocks - 1), i =>
      array_join(slice(w, i * k + 1, lit(k)), " "))
  }

  /** Segment-level dedup (the paragraph/line dedup of CCNet, RefinedWeb,
    * Dolma): remove every segment that occurs in at least `minDocs`
    * DISTINCT documents, then reassemble each document from its surviving
    * segments (order and within-document repeats preserved).
    *
    * Scale shape: the frequency count explodes only (id, segment) pairs
    * and combines map-side. The frequent-segment set is usually small
    * (cross-document BOILERPLATE), but it is DATA-DEPENDENT — a web-scale
    * corpus can have billions of segments shared by >= minDocs docs — so
    * the driver-side collect is BOUNDED by `maxBroadcastSegments`:
    *
    *  - |frequent| <= maxBroadcastSegments (the common case): collect +
    *    broadcast as an O(1) hash set, then ONE narrow typed pass over
    *    the corpus — zero shuffles, fused with the scan. (The fully
    *    declarative one-row-array + `array_contains` form was measured
    *    103s at sf0.1 vs 4.8s for this pass — interpreted linear scans.)
    *  - otherwise: automatic fallback to a distributed rewrite — segments
    *    posexplode with their position, a shuffle hash join against the
    *    frequent set marks boilerplate, and each document reassembles
    *    from its kept (pos, seg) pairs. One corpus shuffle instead of a
    *    driver OOM; byte-identical output (pinned in MlPrepSpec at the
    *    cap boundary).
    *
    * The bound probe costs one extra `limit(cap+1)` collect only in the
    * fallback case; in the common case the collected rows ARE the set.
    *
    * Output: (`idCol`, deduped_text, n_removed_segments); an entirely
    * boilerplate document comes back as the empty string, not null. */
  def removeFrequentSegments(docs: DataFrame, idCol: String, textCol: String,
      k: Int, minDocs: Int, maxBroadcastSegments: Int = 1 << 20,
      unicode: Boolean = false): DataFrame = {
    require(minDocs >= 2, "minDocs < 2 would delete every segment")
    require(k >= 1, "segment width must be >= 1")
    require(maxBroadcastSegments >= 0, "maxBroadcastSegments must be >= 0")
    val spark = docs.sparkSession
    import spark.implicits._
    // Frequency pass as a typed narrow flatMap with PER-DOCUMENT local
    // dedup (the [[wordShingleRows]] boundary decision, same rationale):
    // the declarative form paid an interpreted array `transform` to build
    // each doc's segment array, an explode, and then a full (id, seg)
    // DISTINCT SHUFFLE before the count — per-doc segments dedup in a
    // local hash set instead, so the distinct exchange disappears
    // outright and one groupBy(seg) shuffle remains (guide §2.4).
    // Normalization/segmentation mirrors the apply passes below exactly;
    // null text contributes nothing (the old explode dropped the null
    // array), empty text contributes its one empty segment — both pinned
    // by the dedup_segments oracles and MlPrepSpec.
    val freq = docs
      .select(col(idCol).cast(LongType).as("__id"), col(textCol).as("__text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        if (text == null) Iterator.empty
        else {
          val norm =
            if (unicode) normalizeUnicodeString(text)
            else normalizeAsciiString(text)
          val seen = new java.util.HashSet[String]()
          norm.split(" ", -1).grouped(k).map(_.mkString(" "))
            .filter(seen.add).map(s => (id, s))
        }
      }.toDF("__id", "seg")
      .groupBy(col("seg")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs)
    // bounded probe: fetch at most cap+1 segments — membership is set
    // semantics, so WHICH rows limit() returns only matters when the set
    // overflows the cap, and then none of them are used
    val probe = freq.select(col("seg")).limit(maxBroadcastSegments + 1)
      .as[String].collect()
    if (probe.length <= maxBroadcastSegments) {
      val bc = spark.sparkContext.broadcast(probe.toSet)
      docs.select(col(idCol).cast(LongType).as("id"), col(textCol).as("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          // mirrors normalize()/wordSegments() exactly — equivalence pinned
          // by the dedup_segments oracle and MlPrepSpec
          val norm =
            if (unicode) normalizeUnicodeString(text)
            else normalizeAsciiString(text)
          val segs = norm.split(" ", -1).grouped(k).map(_.mkString(" ")).toArray
          val kept = segs.filterNot(bc.value.contains)
          (id, kept.mkString(" "), (segs.length - kept.length).toLong)
        }.toDF(idCol, "deduped_text", "n_removed_segments")
    } else {
      // frequent set exceeds the broadcast budget: distributed rewrite.
      // The corpus pays one shuffle (the join on seg) + one group-by id;
      // the driver holds nothing.
      val segs = docs.select(col(idCol).cast(LongType).as("id"),
          posexplode(wordSegments(coalesce(col(textCol), lit("")), k)).as(Seq("pos", "seg")))
      val marked = segs.join(
        freq.select(col("seg"), lit(true).as("__bad")).hint("shuffle_hash"),
        Seq("seg"), "left")
      marked.groupBy(col("id"))
        .agg(
          array_join(transform(
            array_sort(collect_list(when(col("__bad").isNull,
              struct(col("pos"), col("seg"))))),
            s => s.getField("seg")), " ").as("deduped_text"),
          count(col("__bad")).as("n_removed_segments"))
        .withColumnRenamed("id", idCol)
    }
  }

  /** Remove cross-document DUPLICATED SPANS: any word whose position is
    * covered by some OVERLAPPING k-gram occurring in >= `minDocs`
    * distinct documents is struck; documents reassemble from the
    * surviving words. This is the apply side of [[dupGramStats]] — the
    * fixed-k approximation of exact-substring training-data dedup (Lee
    * et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better", which removes 50-token repeated substrings via a suffix
    * array; a k-gram hit set marks the same spans without the global
    * suffix sort, at the cost of missing duplicates shorter than k).
    * Unlike [[removeFrequentSegments]] (disjoint k-word BLOCKS), spans
    * overlap: covered = union of [start, start+k) over every frequent
    * gram start, so a duplicated run of any length >= k is removed in
    * full while its unique flanks survive.
    *
    * Same bounded-broadcast/distributed-fallback scale contract as
    * [[removeFrequentSegments]]: the frequent-gram set broadcasts when
    * it fits (`maxBroadcastGrams`), making the rewrite ONE narrow typed
    * pass fused with the scan (per doc: one boolean coverage array, one
    * sliding gram walk); above the cap, an automatic distributed rewrite
    * (gram-start rows shuffle-joined against the frequent set, covered
    * positions exploded + distinct'd, kept words reassembled by
    * position) produces byte-identical output — pinned in MlPrepSpec at
    * the cap boundary.
    *
    * Output: (`idCol`, cleaned_text, n_removed_words); a fully-duplicated
    * document comes back as the empty string, not null. */
  def removeDuplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int, minDocs: Int, maxBroadcastGrams: Int = 1 << 20): DataFrame = {
    require(minDocs >= 2, "minDocs < 2 would delete every gram")
    require(k >= 1, "gram width must be >= 1")
    require(maxBroadcastGrams >= 0, "maxBroadcastGrams must be >= 0")
    val spark = docs.sparkSession
    import spark.implicits._
    val freq = wordShingleRows(docs, idCol, textCol, k)
      .groupBy(col("sh")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs)
    val probe = freq.select(col("sh")).limit(maxBroadcastGrams + 1)
      .as[String].collect()
    if (probe.length <= maxBroadcastGrams) {
      val bc = spark.sparkContext.broadcast(probe.toSet)
      docs.select(col(idCol).cast(LongType).as("id"), col(textCol).as("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val norm = normalizeAsciiString(text)
          val ws = norm.split(" ", -1)
          val n = ws.length
          if (n < k) (id, norm, 0L)
          else {
            val covered = new Array[Boolean](n)
            var i = 0
            while (i <= n - k) {
              if (bc.value.contains(ws.view.slice(i, i + k).mkString(" "))) {
                var j = i; while (j < i + k) { covered(j) = true; j += 1 }
              }
              i += 1
            }
            val kept = new StringBuilder
            var removed = 0L
            var p = 0
            while (p < n) {
              if (covered(p)) removed += 1
              else { if (kept.nonEmpty) kept.append(' '); kept.append(ws(p)) }
              p += 1
            }
            (id, kept.toString, removed)
          }
        }.toDF(idCol, "cleaned_text", "n_removed_words")
    } else {
      // distributed rewrite: non-distinct gram-START rows (0-based) join
      // the frequent set; covered positions explode + distinct; kept
      // words reassemble by position. One corpus shuffle, no driver set.
      val gramStarts = docs
        .select(col(idCol).cast(LongType).as("id"), col(textCol).as("text"))
        .as[(Long, String)]
        .flatMap { case (id, text) =>
          val norm = normalizeAsciiString(text)
          val ws = norm.split(" ", -1)
          (0 to ws.length - k).iterator
            .map(i => (id, i, ws.view.slice(i, i + k).mkString(" ")))
        }.toDF("id", "st", "sh")
      val cov = gramStarts
        .join(freq.select(col("sh")).hint("shuffle_hash"), Seq("sh"))
        .select(col("id"), explode(sequence(col("st"), col("st") + lit(k - 1)))
          .as("pos"))
        .distinct()
      val wordRows = docs
        .select(col(idCol).cast(LongType).as("id"),
          posexplode(words(coalesce(col(textCol), lit("")))).as(Seq("pos", "w")))
      wordRows
        .join(cov.withColumn("__c", lit(true)), Seq("id", "pos"), "left")
        .groupBy(col("id"))
        .agg(
          array_join(transform(
            array_sort(collect_list(when(col("__c").isNull,
              struct(col("pos"), col("w"))))),
            s => s.getField("w")), " ").as("cleaned_text"),
          count(col("__c")).as("n_removed_words"))
        .withColumnRenamed("id", idCol)
    }
  }

  /** EXACT-SUBSTRING dedup with KEEP-ONE semantics — the Lee et al. 2022
    * ExactSubstr paradigm: every repeated substring keeps exactly its
    * FIRST occurrence (smallest (doc, position)) and loses every other
    * copy, whether the repeat is cross-document or within one document.
    * [[removeDuplicatedSpans]] is the strike-ALL-copies variant (and
    * needs `minDocs` distinct documents); this one preserves one
    * canonical copy of the duplicated content, the semantics a
    * pretraining pipeline wants when the duplicated text is still
    * legitimate content once.
    *
    * Detection: a repeated run of any length >= k is exactly a maximal
    * run of repeated k-grams, so the k-gram occurrence table plays the
    * role of the suffix array in the original (adjacent sorted suffixes
    * sharing a >= k prefix ⇔ equal k-grams). On Spark the hash
    * aggregation on the gram is the shuffle-friendly equivalent of the
    * global suffix sort — same covered positions, no giant range
    * partition/sort of every suffix, and skew degrades into a hot
    * reduce key instead of a hot sort range.
    *
    * Canonical occurrence = min over (id, pos) packed into one 64-bit
    * key (20 bits of position — documents are required < 2^20 words;
    * ids must stay < 2^43). Positions covered by NON-canonical
    * occurrences of any duplicated gram union into maximal spans; each
    * document reassembles from its surviving words in one row-local
    * rewrite (the covered-position arrays ride a doc_id join, bounded by
    * document length).
    *
    * Shuffle ledger for the whole op: gram hash-agg (1), gram join (2,
    * same key — AQE reuses the partitioning), covered-position distinct
    * + per-doc collect (3), doc_id join for the rewrite (4). All keys
    * are either the gram (hash-distributed, combiner-friendly) or
    * doc_id (uniform); nothing sorts globally.
    *
    * Output: (`idCol`, deduped_text, n_removed_words, n_spans); a fully-
    * duplicated document comes back as the empty string. */
  def removeRepeatedSpansKeepFirst(docs: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    require(k >= 2, "gram width must be >= 2 (k=1 would dedup single words)")
    val spark = docs.sparkSession
    import spark.implicits._
    val maxPos = 1L << 20
    val grams = docs
      .select(col(idCol).cast(LongType).as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val norm = normalizeAsciiString(text)
        val ws = if (norm.isEmpty) Array.empty[String] else norm.split(" ")
        require(ws.length < maxPos && id >= 0 && id < (1L << 43),
          s"keep-first span dedup packs (id, pos) into 64 bits: needs " +
            s"0 <= id < 2^43 and < 2^20 words/doc, got id=$id n=${ws.length}")
        if (ws.length < k) Iterator.empty
        else (0 to ws.length - k).iterator.map { p =>
          (id, p.toLong, ws.view.slice(p, p + k).mkString(" "))
        }
      }).toDF("id", "pos", "gram")
      .withColumn("key", col("id") * lit(maxPos) + col("pos"))
    val dup = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("c"), min(col("key")).as("canon"))
      .filter(col("c") >= 2)
    val cov = grams
      .join(dup.select(col("gram"), col("canon")).hint("shuffle_hash"),
        Seq("gram"))
      .filter(col("key") =!= col("canon"))
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("cp"))
      .distinct()
    val covAgg = cov.groupBy(col("id"))
      .agg(sort_array(collect_list(col("cp"))).as("cps"))
    docs.select(col(idCol).cast(LongType).as("id"), col(textCol).as("text"))
      .join(covAgg, Seq("id"), "left")
      .as[(Long, String, Option[Seq[Long]])]
      .map { case (id, text, cpsOpt) =>
        val norm = normalizeAsciiString(text)
        val ws = if (norm.isEmpty) Array.empty[String] else norm.split(" ")
        val cps = cpsOpt.getOrElse(Seq.empty)
        val covSet = cps.toSet
        val kept = new StringBuilder
        var p = 0
        while (p < ws.length) {
          if (!covSet.contains(p.toLong)) {
            if (kept.nonEmpty) kept.append(' ')
            kept.append(ws(p))
          }
          p += 1
        }
        var spans = 0L
        var prev = Long.MinValue
        cps.foreach { c => if (c != prev + 1) spans += 1; prev = c }
        (id, kept.toString, cps.length.toLong, spans)
      }.toDF(idCol, "deduped_text", "n_removed_words", "n_spans")
  }

  /** CCNet-style unigram rarity score per document, in integer arithmetic
    * so every engine agrees digit-for-digit (ln() parity across engines is
    * not guaranteed to the last ulp — same decision as the log-free
    * tf-idf). Each token instance scores `(n_total_tokens * scale) div
    * count(token)` — the scaled inverse corpus frequency — and a document
    * reports the exact integer sum and its token count; the mean is one
    * IEEE division at the boundary. High mean = rare-token-dense text
    * (surprise under a unigram LM, up to the missing log).
    *
    * Scale shape: the vocabulary aggregation combines map-side (token
    * count rows, not text, shuffle); the scored vocabulary joins back by
    * BROADCAST, and the broadcast is BOUNDED BY CONSTRUCTION: the
    * vocabulary is capped to the `maxVocab` most frequent tokens
    * (TakeOrdered on (count desc, token asc) — deterministic under ties)
    * — the standard CCNet trick. On a web corpus the full vocabulary is
    * billions of rows and an uncapped broadcast fails outright; with the
    * cap, every out-of-vocabulary token (rare by construction) takes the
    * rarity of a singleton, exactly like tokens dropped by the
    * `minCount` floor. The per-document sum is the one corpus-order
    * shuffle, carrying 16-byte (id, rarity) pairs.
    *
    * Exactly TWO corpus scans: the vocabulary pass is a `rollup` — the
    * per-token counts AND the grand token total come out of ONE map-side-
    * combined aggregation (the total is the rollup's all-null row) — and
    * its vocab-sized output is materialized once ([[Materialize.carried]],
    * so the returned plan re-reads checkpoint blocks, not the corpus);
    * the scoring join-back is the second scan. The naive layout (counts,
    * total, join-back each re-deriving the explode) evaluates the
    * scan+explode subtree three times. */
  def unigramRarityScores(docs: DataFrame, idCol: String, textCol: String,
      scale: Long = 1000000L, minCount: Long = 1L,
      maxVocab: Int = 4 << 20): DataFrame = {
    require(maxVocab >= 1, "maxVocab must be >= 1")
    val toks = docs
      .select(col(idCol).as("id"), explode(words(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
    // w is never NULL here (explode skips nulls, empties filtered), so
    // the rollup's null-w row is unambiguously the grand total
    val countsAll = Materialize.carried(
      toks.rollup(col("w")).agg(count(lit(1)).as("c")))
    val total = countsAll.filter(col("w").isNull)
      .head().getLong(1)
    val counts = countsAll.filter(col("w").isNotNull)
      .filter(col("c") >= minCount)
      .orderBy(col("c").desc, col("w").asc).limit(maxVocab)
    val vocab = counts
      .select(col("w"), expr(s"(${total}L * ${scale}L) div c").as("r"))
    toks
      .join(broadcast(vocab), Seq("w"), "left")
      .withColumn("r", coalesce(col("r"), lit(total * scale)))
      .groupBy(col("id"))
      .agg(sum(col("r")).as("sum_rarity"), count(lit(1)).as("n_toks"))
  }

  /** Inter-tag text blocks of an HTML document: split on tags, trim.
    * Row-local array algebra (no explode/shuffle) — the block list never
    * leaves its row, so extraction fuses with the scan. */
  def htmlBlocks(html: Column): Column =
    transform(split(html, "<[^>]*>"), b => trim(b))

  /** Boilerplate-stripping HTML text extraction — the jusText/boilerpipe
    * signal reduced to its load-bearing core: tag-delimited text blocks
    * are KEPT when long enough (`minBlockChars`), dropped otherwise.
    * Navigation, titles, footers and sidebar chrome are short blocks by
    * construction of the web (that is WHY block length is the classic
    * boilerplate discriminator); body copy is long. Returns the kept
    * blocks joined by ' '. Entirely codegen'd array expressions —
    * at 100 TB this is a narrow pass fused with the scan, and the
    * replay is the identical list algebra in the oracle engine. */
  def htmlExtract(html: Column, minBlockChars: Int): Column =
    array_join(filter(htmlBlocks(html), b => length(b) >= minBlockChars), " ")

  /** All adjacent-word bigram INSTANCES per document (non-distinct —
    * language-model statistics need occurrences, unlike the shingle
    * index): a typed per-word flatMap, the [[wordShingleRows]] decision
    * — the declarative `transform(sequence(...), element_at...)`
    * formulation runs on the INTERPRETED higher-order-function path
    * (measured 39s at sf0.1 vs ~1s for this form — the exact trap
    * wordShingleRows documents), while the typed walk is one narrow
    * compiled pass fused with the scan. Documents with fewer than 2
    * words emit nothing. */
  def bigramRows(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast(LongType).as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        if (text == null) Iterator.empty
        else {
          val ws = normalizeAsciiString(text)
            .split(" ", -1).filter(_.nonEmpty)
          (0 until ws.length - 1).iterator
            .map(i => (id, ws(i) + " " + ws(i + 1)))
        }
      }.toDF("id", "bg")
  }

  /** Bigram-LM surprise per document — [[unigramRarityScores]]'
    * conditional twin, still log-free: each bigram instance (w1, w2)
    * scores `(count(w1) * scale) div count(w1 w2)` — the scaled inverse
    * conditional frequency 1/P(w2|w1), summed exactly in integers. High
    * sums flag improbable word TRANSITIONS (scrambled text, spam
    * keyword-stuffing) that unigram rarity cannot see — every word can
    * be common while every transition is absurd.
    *
    * Same bounded-broadcast discipline as the unigram scorer: both
    * count tables cap to the most frequent entries ((count desc, key
    * asc) — deterministic under ties) and broadcast; out-of-vocabulary
    * falls to count 1 (maximum surprise), exactly like CCNet's unseen
    * tokens. Three narrow corpus scans (unigram counts, bigram counts,
    * score join-back), one map-combined aggregate each, and the
    * per-doc sum is the one corpus-order shuffle. */
  def bigramSurpriseScores(docs: DataFrame, idCol: String, textCol: String,
      scale: Long = 1000000L, maxUnigrams: Int = 4 << 20,
      maxBigrams: Int = 4 << 20): DataFrame = {
    require(maxUnigrams >= 1 && maxBigrams >= 1, "caps must be positive")
    val toks = docs
      .select(explode(words(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
    val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("c1"))
      .orderBy(col("c1").desc, col("w").asc).limit(maxUnigrams)
    val bg = bigramRows(docs, idCol, textCol)
    val bc = bg.groupBy(col("bg")).agg(count(lit(1)).as("cb"))
      .orderBy(col("cb").desc, col("bg").asc).limit(maxBigrams)
    bg
      .withColumn("w", substring_index(col("bg"), " ", 1))
      .join(broadcast(uni), Seq("w"), "left")
      .join(broadcast(bc), Seq("bg"), "left")
      .withColumn("r", expr(s"(coalesce(c1, 1L) * ${scale}L) div coalesce(cb, 1L)"))
      .groupBy(col("id"))
      .agg(sum(col("r")).as("sum_surprise"), count(lit(1)).as("n_bigrams"))
  }

  /** Feature-hashing document embedding (the hashing trick — Weinberger
    * et al. 2009, "Feature Hashing for Large Scale Multitask Learning"):
    * every token updates component `md5(w) mod dim` by a ±1 second-hash
    * sign, giving each document a fixed-width bag-of-words vector with
    * NO vocabulary state — the embedding a pipeline can compute before
    * any model exists (dedup blocking, cheap clustering, drift
    * monitoring). Emitted as sparse (id, dim, v) rows: only components
    * some token hashed into appear (signed sums may still cancel to 0 —
    * a row either way, deterministically).
    *
    * Exactly engine-replayable: index and sign are md5 integer
    * arithmetic, the component value is an integer sum. Scale: one
    * narrow explode fused with the scan, one map-side-combined aggregate
    * on (id, component) — shuffle rows are 24-byte triples bounded by
    * docs × dim, not by token count. */
  def hashEmbedRows(docs: DataFrame, idCol: String, textCol: String,
      dim: Int): DataFrame = {
    require(dim >= 1, "need a positive embedding width")
    docs
      .select(col(idCol).as("id"), explode(words(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .select(col("id"),
        pmod(conv(substring(md5(col("w")), 1, 15), 16, 10).cast(LongType),
          lit(dim.toLong)).as("dim"),
        when(conv(substring(md5(concat(col("w"), lit(":s"))), 1, 1), 16, 10)
          .cast(LongType) % 2 === 1, lit(1L)).otherwise(lit(-1L)).as("s"))
      .groupBy(col("id"), col("dim"))
      .agg(sum(col("s")).as("v"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by how much its hashed-n-gram distribution resembles a
    * TARGET slice versus the RAW corpus. Features are hashed unigrams
    * (the [[hashEmbedRows]] md5 bucket arithmetic, `dim` buckets); the
    * per-bucket target and raw counts are Laplace-smoothed (+1), and
    * each token contributes the scaled integer ratio
    * `((t_h + 1) * scale) div (r_h + 1)` — a log-free integer surrogate
    * of DSIR's per-feature log-likelihood ratio. Honest scope note: the
    * paper sums LOGS of ratios; summing the ratios themselves preserves
    * determinism and exact oracle replay at the cost of weighting
    * high-ratio buckets more than the paper would — the selection
    * signal (target-like docs score high) is the same, the exact
    * ordering is not guaranteed to coincide. Returns
    * (id, n_tokens, dsir_score).
    *
    * Scale: one dim-bounded bucket-count aggregate (map-side combined)
    * broadcast back into a second token-level pass — two narrow corpus
    * scans, never a vocabulary-sized shuffle; the per-doc sum is the
    * one corpus-order shuffle (the [[bigramSurpriseScores]] posture). */
  def dsirScores(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column, dim: Int, scale: Long = 1000000L): DataFrame = {
    require(dim >= 1, "need a positive feature-bucket count")
    val toks = docs
      .select(col(idCol).as("id"), isTarget.as("tgt"),
        explode(words(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .select(col("id"), col("tgt"),
        pmod(conv(substring(md5(col("w")), 1, 15), 16, 10).cast(LongType),
          lit(dim.toLong)).as("h"))
    val counts = toks.groupBy(col("h"))
      .agg(sum(when(col("tgt"), lit(1L)).otherwise(lit(0L))).as("t_h"),
        count(lit(1)).as("r_h")) // raw = the whole corpus, target included
    toks.join(broadcast(counts), Seq("h"))
      .withColumn("r", expr(s"((t_h + 1L) * ${scale}L) div (r_h + 1L)"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("r")).as("dsir_score"))
  }

  /** Winnowing-style robust fingerprint: minimum 64-bit hash over
    * character k-grams of the normalized text (k=8). Survives small edits
    * far from the minimal shingle — used for near-dup candidate keys.
    * Spark-native (xxhash64), not oracle-comparable by design. */
  def minShingleHash(c: Column, k: Int = 8): Column = {
    val norm = normalize(c)
    val idx = sequence(lit(1), greatest(length(norm) - lit(k - 1), lit(1)))
    array_min(transform(idx, i => xxhash64(norm.substr(i, lit(k)))))
  }
}
