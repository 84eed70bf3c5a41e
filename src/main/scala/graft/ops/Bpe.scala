package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer (Sennrich, Haddow & Birch 2016, "Neural
  * Machine Translation of Rare Words with Subword Units") — the real
  * merge-training loop plus row-local application, engine-replayable.
  *
  * Scale shape. BPE training state is TINY (a word-frequency table and
  * an ordered merge list); what is huge is the corpus it summarizes. So
  * the split is: ONE distributed map-side-combined aggregation produces
  * the word-frequency table, capped to the `maxTrainWords` most frequent
  * words (TakeOrdered — bounded driver transfer, the standard practice:
  * production BPE vocabularies are trained on a capped/sampled slice,
  * and the cap is what makes the collect safe at 100 TB); the merge loop
  * then runs driver-side over that bounded table — numMerges rounds of
  * pure string work, ZERO further Spark jobs (running each round as a
  * cluster job would pay numMerges job latencies to aggregate a table
  * that fits in L2). Application is embarrassingly row-local: the merge
  * list ships in the task closure and each word is re-segmented
  * independently.
  *
  * Engine-exactness contract (what makes the DuckDB oracle replay
  * training AND application bit-for-bit):
  *  - the symbol alphabet stays SINGLE-CHAR: initial symbols are the
  *    normalized chars [a-z0-9]; merge i's output symbol is the single
  *    char `chr(191 + i)` (i 1-based — U+00C0 upward through the BMP to
  *    U+D7FF, so up to 55 104 merges: vocabulary scale, not a toy cap),
  *    disjoint from the input alphabet. A segmentation is therefore a
  *    plain string, one char per token. Both engines index strings by
  *    codepoint and every symbol is a non-surrogate BMP codepoint, so
  *    Java UTF-16 code units and DuckDB UTF-8 codepoints agree;
  *  - applying a merge is literal left-to-right non-overlapping
  *    `replace(seg, pair, mergedChar)` — Java `String.replace` and SQL
  *    `replace` agree exactly;
  *  - a pair's weighted count is `freq * (len(seg) - len(replace(seg,
  *    pair, ''))) / 2` — the same non-overlap convention as
  *    application, expressible identically in both engines;
  *  - ties break (count desc, pair asc) — BMP codepoint order, on which
  *    Java UTF-16 and DuckDB UTF-8 comparisons agree.
  * Sequential exhaustive application in training order equals standard
  * priority application: a merge's output symbol is fresh, so later
  * merges can never create new occurrences of an earlier merge's pair.
  *
  * Scope: the input alphabet is the ASCII-normalized [a-z0-9] space
  * ([[normalizeString]]) — the char-packed symbol representation RELIES
  * on the merged-symbol range U+00C0.. being disjoint from input
  * characters. A multilingual tokenizer over
  * [[TextOps.normalizeUnicode]] output would collide with that range
  * and needs an Array[Int] symbol-id segmentation instead (the train
  * loop and the recursive oracle shape both survive that change; the
  * plain-string `replace` exactness trick does not).
  */
object Bpe {

  final case class Merge(rk: Long, pair: String, merged: String, cnt: Long)

  /** A merge decision over INT symbol ids — the representation-capless
    * twin of [[Merge]]: base symbols are codepoints, merge rank i's
    * output symbol is id `191 + i` (the same value the char encoding
    * uses, so numeric id order == the oracle's char order wherever both
    * exist — but ids are unbounded ints, so the trainer itself has NO
    * vocabulary cap; only the conversion back to char symbols
    * ([[toCharMerges]], needed for SQL-oracle replay and the string
    * apply path) keeps the 55104 BMP ceiling). */
  final case class MergeI(rk: Int, a: Int, b: Int, cnt: Long)

  /** Char-encoded view of an int-symbol merge list — valid while every
    * symbol id is still a single non-surrogate BMP char (rank ≤ 55104).
    * The bridge that lets the capless trainer feed the existing
    * string-based apply path and the SQL oracle generators. */
  def toCharMerges(ms: Seq[MergeI]): Seq[Merge] = {
    ms.foreach(m => require(m.a < 0xD800 && m.b < 0xD800 && 191 + m.rk < 0xD800,
      s"merge rank ${m.rk} leaves the single-char BMP range — keep the " +
        "MergeI form (string apply / SQL oracle replay need char symbols)"))
    ms.map(m => Merge(m.rk.toLong, "" + m.a.toChar + m.b.toChar,
      (191 + m.rk).toChar.toString, m.cnt))
  }

  /** JVM twin of [[TextOps.normalize]] (lowercase, strip non-alnum,
    * collapse spaces) — keep in sync with the column expression. */
  def normalizeString(text: String): String =
    TextOps.normalizeAsciiString(text)

  def mergedChar(rank1Based: Int): String = (191 + rank1Based).toChar.toString

  /** Train `numMerges` merges over the corpus' word-frequency table
    * (capped to `maxTrainWords` by (freq desc, word asc)), returned in
    * the char-symbol encoding (≤ 55104 merges — the BMP ceiling of the
    * ENCODING, not of the trainer: [[trainIds]] underneath is capless).
    * Eager: runs the one aggregation job at call time. */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
      maxTrainWords: Int): Seq[Merge] =
    toCharMerges(trainIds(docs, textCol, numMerges, maxTrainWords))

  /** Greedy non-overlapping pair walk over an int-symbol word — the
    * exact units the `(len - len(replace(s, pair, ''))) / 2` formula
    * defines: for a pair xy with x≠y occurrences cannot overlap, so
    * each adjacency is one unit; for xx, a maximal run of L equal
    * symbols holds exactly ⌊L/2⌋ greedy left-to-right occurrences. */
  private def forEachPair(w: Array[Int])(fn: (Int, Int, Long) => Unit): Unit = {
    val n = w.length
    var j = 0
    while (j < n - 1) {
      if (w(j) == w(j + 1)) {
        val c = w(j)
        var k = j + 1
        while (k < n && w(k) == c) k += 1
        fn(c, c, ((k - j) / 2).toLong)
        j = k - 1 // next iteration sees the (c, following-symbol) pair
      } else {
        fn(w(j), w(j + 1), 1L)
        j += 1
      }
    }
  }

  /** Literal left-to-right non-overlapping replace of (a,b) with z —
    * `String.replace(pair, merged)` lifted to int symbols. */
  private def applyMergeIds(w: Array[Int], a: Int, b: Int, z: Int): Array[Int] = {
    val out = new Array[Int](w.length)
    var i = 0
    var o = 0
    while (i < w.length) {
      if (i < w.length - 1 && w(i) == a && w(i + 1) == b) {
        out(o) = z; o += 1; i += 2
      } else {
        out(o) = w(i); o += 1; i += 1
      }
    }
    if (o == w.length) w else java.util.Arrays.copyOf(out, o)
  }

  /** The trainer proper, over INT symbol ids — no vocabulary cap, and
    * INCREMENTAL pair maintenance: each round rewrites only the words
    * that contain the chosen pair and applies exact per-word count
    * DELTAS (old-walk minus new-walk), instead of recounting every pair
    * in every word per round. The argmax comes from a lazy-deletion
    * max-heap — every count change pushes a fresh (count, pair) entry;
    * stale entries are discarded at pop time by checking against the
    * live count. Per-round cost is O(Σ len of affected words × log)
    * instead of O(Σ len of ALL words): at 8k+ merges, where late-round
    * pairs live in a handful of words, this is the difference between
    * seconds and minutes. Decision sequence is IDENTICAL to the full
    * recount (pinned in BpeSpec against a reference recount trainer):
    * the pair key packs (a,b) as (a << 32 | b), whose ascending order
    * is the char encoding's lexicographic order wherever char symbols
    * exist, so ties break exactly as the SQL oracle breaks them.
    *
    * Correctness of the delta scheme leans on one invariant (also the
    * reason sequential application equals priority application): a
    * merge's output symbol z is FRESH, so every pair whose count can
    * GROW in an affected word involves z — old-symbol pairs only ever
    * lose units. Hence registering affected-word membership for
    * z-pairs only keeps the pair→words index complete; a chosen pair's
    * count falls to zero and can never re-form (new adjacencies always
    * border z), so popped-and-merged pairs never return. */
  def trainIds(docs: DataFrame, textCol: String, numMerges: Int,
      maxTrainWords: Int): Seq[MergeI] = {
    require(numMerges >= 1, "need at least one merge")
    require(maxTrainWords >= 1, "need a positive training-word cap")
    val freqRows = docs
      .select(explode(TextOps.words(col(textCol))).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("w").asc).limit(maxTrainWords)
      .collect()
    require(freqRows.nonEmpty, "BPE training corpus has no words")
    val nw = freqRows.length
    val words = new Array[Array[Int]](nw)
    val freqs = new Array[Long](nw)
    var i = 0
    while (i < nw) {
      val s = freqRows(i).getString(0)
      words(i) = s.toCharArray.map(_.toInt) // normalized text: BMP-only
      freqs(i) = freqRows(i).getLong(1)
      i += 1
    }
    @inline def pk(a: Int, b: Int): Long = (a.toLong << 32) | (b.toLong & 0xffffffffL)
    val counts = scala.collection.mutable.LongMap.empty[Long]
    val members = scala.collection.mutable.LongMap
      .empty[scala.collection.mutable.ArrayBuffer[Int]] // dups/stale OK
    // heap of (count, pairKey): count desc, key asc; lazy deletion
    val heap = new java.util.PriorityQueue[Array[Long]](64,
      (x: Array[Long], y: Array[Long]) =>
        if (x(0) != y(0)) java.lang.Long.compare(y(0), x(0))
        else java.lang.Long.compare(x(1), y(1)))
    i = 0
    while (i < nw) {
      val f = freqs(i)
      val wi = i
      forEachPair(words(i)) { (a, b, u) =>
        val k = pk(a, b)
        counts(k) = counts.getOrElse(k, 0L) + u * f
        members.getOrElseUpdate(k,
          new scala.collection.mutable.ArrayBuffer[Int](4)) += wi
      }
      i += 1
    }
    counts.foreachEntry((k, c) => heap.add(Array(c, k)))
    val delta = scala.collection.mutable.LongMap.empty[Long]
    val merges = Seq.newBuilder[MergeI]
    var r = 1
    while (r <= numMerges) {
      var bestKey = 0L
      var bestCnt = -1L
      while (bestCnt < 0) {
        val top = heap.poll()
        require(top != null,
          s"BPE round $r: no adjacent pairs left to merge (corpus too " +
            s"small for numMerges=$numMerges)")
        if (top(0) > 0 && counts.getOrElse(top(1), 0L) == top(0)) {
          bestKey = top(1); bestCnt = top(0)
        }
      }
      val a = (bestKey >>> 32).toInt
      val b = (bestKey & 0xffffffffL).toInt
      val z = 191 + r
      merges += MergeI(r, a, b, bestCnt)
      val affected = members.remove(bestKey)
        .getOrElse(scala.collection.mutable.ArrayBuffer.empty[Int])
      val seen = new java.util.HashSet[Integer](affected.size * 2)
      affected.foreach { wi =>
        if (seen.add(wi)) {
          val w = words(wi)
          // stale-entry fast path: membership lists are append-only
          var has = false
          var j = 0
          while (!has && j < w.length - 1) {
            has = w(j) == a && w(j + 1) == b; j += 1
          }
          if (has) {
            val f = freqs(wi)
            delta.clear()
            forEachPair(w)((x, y, u) =>
              delta(pk(x, y)) = delta.getOrElse(pk(x, y), 0L) - u * f)
            val w2 = applyMergeIds(w, a, b, z)
            words(wi) = w2
            forEachPair(w2) { (x, y, u) =>
              delta(pk(x, y)) = delta.getOrElse(pk(x, y), 0L) + u * f
              if (x == z || y == z) // only z-pairs can be NEW (see doc)
                members.getOrElseUpdate(pk(x, y),
                  new scala.collection.mutable.ArrayBuffer[Int](4)) += wi
            }
            delta.foreachEntry { (k, d) =>
              if (d != 0L) {
                val nc = counts.getOrElse(k, 0L) + d
                counts(k) = nc
                heap.add(Array(nc, k))
              }
            }
          }
        }
      }
      r += 1
    }
    merges.result()
  }

  /** Segment one normalized word under an ordered merge list: chars,
    * then each merge applied exhaustively left-to-right. One char of the
    * result = one BPE token. O(numMerges × len) — the reference
    * semantics; use [[segmentRanked]] on the hot path. */
  def segment(word: String, merges: Seq[Merge]): String = {
    var s = word
    merges.foreach(m => s = s.replace(m.pair, m.merged))
    s
  }

  /** [[segment]] in O(len² ) per word, INDEPENDENT of vocabulary size:
    * repeatedly replace the lowest-rank pair present. Equivalent to the
    * sequential exhaustive chain because merge outputs are fresh
    * symbols: applying merge i can only create pairs containing its
    * fresh symbol (candidates for merges ranked AFTER i, never before),
    * and replacing a pair never bridges two pre-existing symbols into a
    * new adjacent pair of older rank. Pinned against [[segment]] in
    * BpeSpec. `ranks` maps pair → Merge. */
  def segmentRanked(word: String,
      ranks: java.util.HashMap[String, Merge]): String = {
    var s = word
    var done = false
    while (!done) {
      var best: Merge = null
      var j = 0
      while (j < s.length - 1) {
        val m = ranks.get(s.substring(j, j + 2))
        if (m != null && (best == null || m.rk < best.rk)) best = m
        j += 1
      }
      if (best == null) done = true
      else s = s.replace(best.pair, best.merged)
    }
    s
  }

  /** Pair → Merge lookup for [[segmentRanked]]. */
  def rankMap(merges: Seq[Merge]): java.util.HashMap[String, Merge] = {
    val m = new java.util.HashMap[String, Merge](merges.size * 2)
    merges.foreach(x => m.put(x.pair, x))
    m
  }

  /** [[segmentRanked]] over INT symbol ids — the REPRESENTATION-CAPLESS
    * apply path: symbols are unbounded ints, so a 32k+ -merge vocabulary
    * (past the 55104 single-char BMP ceiling the string encoding hits)
    * applies with the same O(len²)-per-word, vocabulary-size-independent
    * cost. Same fresh-symbol argument as [[segmentRanked]] makes
    * lowest-rank-first equal to the sequential exhaustive chain.
    * `ranks` maps the packed pair key (a<<32|b) → merge. */
  def segmentRankedIds(word: Array[Int],
      ranks: scala.collection.mutable.LongMap[MergeI]): Array[Int] = {
    @inline def pk(a: Int, b: Int): Long = (a.toLong << 32) | (b.toLong & 0xffffffffL)
    var w = word
    var done = false
    while (!done) {
      var best: MergeI = null
      var j = 0
      while (j < w.length - 1) {
        val m = ranks.getOrNull(pk(w(j), w(j + 1)))
        if (m != null && (best == null || m.rk < best.rk)) best = m
        j += 1
      }
      if (best == null) done = true
      else w = applyMergeIds(w, best.a, best.b, 191 + best.rk)
    }
    w
  }

  /** Packed-pair-key → merge lookup for [[segmentRankedIds]]. */
  def rankMapIds(merges: Seq[MergeI]): scala.collection.mutable.LongMap[MergeI] = {
    val m = scala.collection.mutable.LongMap.empty[MergeI]
    merges.foreach(x => m.put((x.a.toLong << 32) | (x.b.toLong & 0xffffffffL), x))
    m
  }

  /** The trained merge table as a DataFrame (rk, pair, merged, cnt). */
  def mergesDf(spark: SparkSession, merges: Seq[Merge]): DataFrame = {
    import spark.implicits._
    merges.toDF()
  }

  // ---- tokenizer ARTIFACT export/import (the shippable vocabulary) ----

  /** Serialize a trained merge list to the tiktoken-style text artifact
    * a tokenizer ships: one `a<TAB>b<TAB>rank<TAB>count` line per merge
    * over INT SYMBOL IDS (base symbols = codepoints, merged symbol for
    * rank r = 191 + r) — id-encoded so the artifact has no BMP ceiling
    * and survives any text encoding. Deterministic bytes for a given
    * merge list: artifact equality IS model equality. */
  def exportMerges(spark: SparkSession, merges: Seq[MergeI],
      path: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(path), true)
    val sb = new StringBuilder
    sb.append("#graft-bpe-v1\n")
    merges.foreach(m => sb.append(s"${m.a}\t${m.b}\t${m.rk}\t${m.cnt}\n"))
    try out.write(sb.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Load a merge artifact written by [[exportMerges]]. Ranks must be
    * 1..n contiguous in file order — a truncated/reordered artifact is
    * a different model and refuses loudly. */
  def importMerges(spark: SparkSession, path: String): Seq[MergeI] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new org.apache.hadoop.fs.Path(path))
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val lines = text.linesIterator.toSeq
    require(lines.headOption.contains("#graft-bpe-v1"),
      s"$path is not a graft BPE artifact (missing #graft-bpe-v1 header)")
    val ms = lines.drop(1).filter(_.nonEmpty).map { l =>
      val p = l.split('\t')
      require(p.length == 4, s"malformed merge line '$l' in $path")
      MergeI(p(2).toInt, p(0).toInt, p(1).toInt, p(3).toLong)
    }
    ms.zipWithIndex.foreach { case (m, i) =>
      require(m.rk == i + 1,
        s"merge ranks must be 1..n contiguous in file order; " +
          s"line ${i + 2} of $path carries rank ${m.rk} (expected ${i + 1})")
    }
    ms
  }

  /** Per-document BPE token accounting under a trained merge list:
    * (id, n_words, n_tokens_bpe) where n_tokens_bpe sums the segmented
    * length of every word. Char-encoded merges delegate to the
    * representation-capless int-id path ([[tokenCountsIds]]) — the char
    * form survives only as the SQL-oracle/vocab-output encoding, never
    * the apply hot path. */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[Merge]): DataFrame =
    tokenCountsIds(docs, idCol, textCol, merges.map(m =>
      MergeI(m.rk.toInt, m.pair.charAt(0).toInt, m.pair.charAt(1).toInt, m.cnt)))

  /** [[tokenCounts]] over INT-id merges — no vocabulary ceiling.
    * Row-local typed map — the merge list rides the task closure;
    * nothing shuffles before the per-doc aggregate (which is
    * row-per-doc already, so this is a narrow pass). */
  def tokenCountsIds(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[MergeI]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ms = merges.toIndexedSeq
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        // rank map built once per task; natural-language word frequency
        // is Zipfian, so a bounded per-task memo (distinct word → token
        // count) turns the per-occurrence cost into a hash probe. The
        // cap keeps task memory bounded on adversarial corpora (every
        // word distinct); beyond it words are segmented unmemoized.
        val ranks = rankMapIds(ms)
        val memo = new java.util.HashMap[String, java.lang.Long](1 << 12)
        it.map { case (id, text) =>
          val ws = normalizeString(text).split(" ", -1).filter(_.nonEmpty)
          var toks = 0L
          ws.foreach { w =>
            val cached = memo.get(w)
            if (cached != null) toks += cached.longValue()
            else {
              val t = segmentRankedIds(
                w.toCharArray.map(_.toInt), ranks).length.toLong
              if (memo.size < (1 << 16)) memo.put(w, t)
              toks += t
            }
          }
          (id, ws.length.toLong, toks)
        }
      }
      .toDF(idCol, "n_words", "n_tokens_bpe")
  }

  // ---- WordPiece-style greedy longest-match application ----

  /** The WordPiece piece inventory induced by a trained BPE merge list:
    * every single character of the normalized alphabet plus the
    * character expansion of every merged symbol (de-duplicated — two
    * merge paths can expand to the same string). This is the standard
    * BPE-vocab → WordPiece-matcher bridge: the LEARNER is BPE, the
    * APPLIER is greedy longest-match-first (BERT's tokenizer shape),
    * which segments in one left-to-right pass instead of replaying
    * merge ranks. Returns (piece set, max piece length). */
  def wordpieceVocab(merges: Seq[Merge]): (java.util.HashSet[String], Int) = {
    val v = new java.util.HashSet[String](merges.size * 2 + 64)
    (('a' to 'z') ++ ('0' to '9')).foreach(c => v.add(c.toString))
    expansions(merges).foreach { case (_, e) => v.add(e) }
    var maxLen = 1
    v.forEach(p => maxLen = math.max(maxLen, p.length))
    (v, maxLen)
  }

  /** Greedy longest-match-first segmentation of one normalized word:
    * at each position take the LONGEST vocab piece that prefixes the
    * remainder. Returns the matched pieces, or null when stuck (no
    * piece matches — the [UNK] word case; cannot happen when the vocab
    * covers every single character of the alphabet). O(len × maxLen)
    * with O(1) hash probes — independent of vocabulary size, the
    * property that lets a 100k-piece vocabulary ride the task closure
    * with no per-token cost growth. */
  def wordpieceSegment(word: String, vocab: java.util.HashSet[String],
      maxPieceLen: Int): List[String] = {
    var out = List.empty[String]
    var i = 0
    while (i < word.length) {
      var j = math.min(word.length, i + maxPieceLen)
      var hit: String = null
      while (j > i && hit == null) {
        val cand = word.substring(i, j)
        if (vocab.contains(cand)) hit = cand
        j -= 1
      }
      if (hit == null) return null
      out = hit :: out
      i += hit.length
    }
    out.reverse
  }

  /** Per-document WordPiece token accounting under a trained merge
    * list: (id, n_words, n_tokens_wp). Same row-local shape and memo
    * discipline as [[tokenCounts]] — the vocab rides the closure,
    * nothing shuffles before the per-doc rows. Stuck words (impossible
    * with full character coverage) count 1, the [UNK] convention. */
  def wordpieceCounts(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[Merge]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ms = merges.toIndexedSeq
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val (vocab, maxLen) = wordpieceVocab(ms)
        val memo = new java.util.HashMap[String, java.lang.Long](1 << 12)
        it.map { case (id, text) =>
          val ws = normalizeString(text).split(" ", -1).filter(_.nonEmpty)
          var toks = 0L
          ws.foreach { w =>
            val cached = memo.get(w)
            if (cached != null) toks += cached.longValue()
            else {
              val ps = wordpieceSegment(w, vocab, maxLen)
              val t = if (ps == null) 1L else ps.length.toLong
              if (memo.size < (1 << 16)) memo.put(w, t)
              toks += t
            }
          }
          (id, ws.length.toLong, toks)
        }
      }
      .toDF(idCol, "n_words", "n_tokens_wp")
  }

  /** Corpus-wide piece usage under greedy longest-match: one row per
    * (piece, occurrence count). flatMap → map-side-combined count —
    * the standard distributed shape; the result is vocabulary-sized. */
  def wordpiecePieceCounts(docs: DataFrame, textCol: String,
      merges: Seq[Merge]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ms = merges.toIndexedSeq
    docs.select(col(textCol)).as[String]
      .mapPartitions { it =>
        val (vocab, maxLen) = wordpieceVocab(ms)
        it.flatMap { text =>
          normalizeString(text).split(" ", -1).iterator.filter(_.nonEmpty)
            .flatMap { w =>
              val ps = wordpieceSegment(w, vocab, maxLen)
              if (ps == null) Iterator.empty else ps.iterator
            }
        }
      }
      .toDF("piece")
      .groupBy(col("piece"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("cnt"))
  }

  // ---- Unigram-style Viterbi (min-cost) segmentation ----

  /** Integer piece cost for [[viterbiCosts]]: strongly favors longer
    * pieces (1000003 / len², integer division), all arithmetic exact so
    * a SQL engine replays the DP byte-identically. A real unigram LM
    * uses -log p(piece); the integer surrogate keeps the SAME DP shape
    * (min-sum over segmentations) without putting floats in the
    * cross-engine compare path — the text_bm25 discipline. */
  def pieceCost(len: Int): Long = 1000003L / (len.toLong * len)

  /** Minimum total segmentation cost of one word under the piece
    * inventory: full Viterbi DP (dp[i] = min over vocab pieces ending
    * at i of dp[i-len]+cost), which BACKTRACKS where greedy
    * longest-match commits — 'abca' with pieces {a,b,ab,bca} greedy
    * dies after 'ab', Viterbi finds a|bca. O(len × maxPieceLen) per
    * word. Returns -1 when no segmentation exists. */
  def viterbiCost(word: String, vocab: java.util.HashSet[String],
      maxPieceLen: Int): Long = {
    val n = word.length
    val dp = new Array[Long](n + 1)
    java.util.Arrays.fill(dp, Long.MaxValue)
    dp(0) = 0L
    var i = 1
    while (i <= n) {
      var k = math.min(i, maxPieceLen)
      while (k >= 1) {
        if (dp(i - k) != Long.MaxValue &&
            vocab.contains(word.substring(i - k, i))) {
          val c = dp(i - k) + pieceCost(k)
          if (c < dp(i)) dp(i) = c
        }
        k -= 1
      }
      i += 1
    }
    if (dp(n) == Long.MaxValue) -1L else dp(n)
  }

  /** Per-document Viterbi segmentation accounting under the trained
    * merge list's piece inventory: (id, n_words, sum_min_cost) where
    * sum_min_cost totals each word's minimum segmentation cost. Words
    * longer than `maxWordLen` are skipped (identically in the oracle —
    * the DP unrolls one SQL level per position, so the bound is the
    * oracle's, not the engine's). Same row-local memoized shape as
    * [[tokenCounts]]. */
  def viterbiCosts(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[Merge], maxWordLen: Int = 24): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ms = merges.toIndexedSeq
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val (vocab, maxLen) = wordpieceVocab(ms)
        val memo = new java.util.HashMap[String, java.lang.Long](1 << 12)
        it.map { case (id, text) =>
          val ws = normalizeString(text).split(" ", -1)
            .filter(w => w.nonEmpty && w.length <= maxWordLen)
          var cost = 0L
          ws.foreach { w =>
            val cached = memo.get(w)
            if (cached != null) cost += cached.longValue()
            else {
              val c = math.max(viterbiCost(w, vocab, maxLen), 0L)
              if (memo.size < (1 << 16)) memo.put(w, c)
              cost += c
            }
          }
          (id, ws.length.toLong, cost)
        }
      }
      .toDF(idCol, "n_words", "sum_min_cost")
  }

  /** Unrolled Viterbi DP oracle: CTE chain `vit_dp0..vit_dp$maxWordLen`
    * over `vit_words(w)` and `vit_vocab(piece)`; level i accumulates
    * the min cost of every prefix of length i reachable from levels
    * i-maxPieceLen..i-1. Paste after vit_words/vit_vocab CTEs; the
    * final min cost per word is `SELECT w, c FROM vit_dp$n WHERE i =
    * len(w)`. Piece costs inline [[pieceCost]]'s formula. */
  def viterbiDpCtesSql(maxWordLen: Int, maxPieceLen: Int): String = {
    val sb = new StringBuilder
    // every level MUST be MATERIALIZED: dp(i) references dp(i-1) twice
    // (carry + compute), so inlining would expand the chain 2^maxWordLen-fold
    sb.append(
      "vit_dp0 AS MATERIALIZED (SELECT w, 0 AS i, CAST(0 AS BIGINT) AS c FROM vit_words)")
    for (i <- 1 to maxWordLen) {
      val lo = math.max(0, i - maxPieceLen)
      sb.append(
        s""",
           |vit_dp$i AS MATERIALIZED (
           |  SELECT w, i, c FROM vit_dp${i - 1}
           |  UNION ALL
           |  SELECT p.w, $i AS i,
           |    min(p.c + 1000003 // (($i - p.i) * ($i - p.i))) AS c
           |  FROM vit_dp${i - 1} p JOIN vit_vocab v
           |    ON v.piece = substr(p.w, p.i + 1, $i - p.i)
           |  WHERE p.i BETWEEN $lo AND ${i - 1} AND len(p.w) >= $i
           |  GROUP BY p.w)""".stripMargin)
    }
    sb.toString()
  }

  // ---- oracle SQL generation (unrolled training replay) ----

  /** The unrolled training CTE chain `w0, s0, cnt1, best1, s1, ...,
    * cnt$n, best$n, s$n` over `documents(text)`: paste after WITH. Each
    * round counts candidate pairs with the replace formula, picks the
    * (count desc, pair asc) argmax, and rewrites segmentations — the
    * exact driver loop, in SQL. */
  def trainCtesSql(normalizeSql: String, numMerges: Int,
      maxTrainWords: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""w0 AS MATERIALIZED (
         |  SELECT w AS word, count(*) AS freq FROM (
         |    SELECT unnest(string_split($normalizeSql, ' ')) AS w FROM documents) t
         |  WHERE len(w) >= 1 GROUP BY w
         |  ORDER BY freq DESC, word ASC LIMIT $maxTrainWords),
         |s0 AS MATERIALIZED (SELECT word, freq, word AS s FROM w0)""".stripMargin)
    for (i <- 1 to numMerges) {
      val prev = s"s${i - 1}"
      sb.append(
        s""",
           |cnt$i AS MATERIALIZED (
           |  SELECT c.pair,
           |    CAST(sum(f.freq * (len(f.s) - len(replace(f.s, c.pair, ''))) // 2)
           |      AS BIGINT) AS cnt
           |  FROM (SELECT DISTINCT substr(s, CAST(x AS INTEGER), 2) AS pair
           |        FROM $prev, unnest(range(1, len(s), 1)) r(x)) c, $prev f
           |  GROUP BY c.pair),
           |best$i AS MATERIALIZED (SELECT pair, cnt FROM cnt$i ORDER BY cnt DESC, pair ASC LIMIT 1),
           |s$i AS MATERIALIZED (SELECT word, freq,
           |  replace(s, (SELECT pair FROM best$i), chr(${191 + i})) AS s FROM $prev)""".stripMargin)
    }
    sb.toString()
  }

  /** SQL expression segmenting `wordExpr` under the trained merges: the
    * nested scalar-subquery replace chain (round order). */
  def segmentExprSql(wordExpr: String, numMerges: Int): String =
    (1 to numMerges).foldLeft(wordExpr) { (acc, i) =>
      s"replace($acc, (SELECT pair FROM best$i), chr(${191 + i}))"
    }

  /** Human-readable expansion of every merged symbol: merge i's token
    * string is expansion(pair[0]) || expansion(pair[1]), base chars
    * expanding to themselves — the inspectable vocabulary a tokenizer
    * ships. */
  def expansions(merges: Seq[Merge]): Seq[(Merge, String)] = {
    val decode = scala.collection.mutable.Map.empty[Char, String]
    merges.map { m =>
      def ex(c: Char): String = decode.getOrElse(c, c.toString)
      val e = ex(m.pair.charAt(0)) + ex(m.pair.charAt(1))
      decode(m.merged.charAt(0)) = e
      (m, e)
    }
  }

  // ---- oracle SQL generation, RECURSIVE form (vocabulary scale) ----
  //
  // The unrolled chain above binds one CTE level per merge round, which
  // hits SQL expression-depth limits near ~200 rounds and pays fixed
  // planner cost per round. The recursive form replays ANY number of
  // rounds with a constant-size query: the working table carries round
  // r's segmentations only; the merge table is re-derived per round from
  // the ACCUMULATED union afterwards (same count formula, same
  // (count desc, pair asc) argmax — verified equal to the driver loop).
  // Paste these after `WITH RECURSIVE `.

  /** Recursive training replay over `documents`: CTEs `bpe_w0` (capped
    * word-frequency table over `normalizeSql`), `bpe_steps` (per-round
    * segmentations), `bpe_merges(rk, pair, merged, cnt)`. The coalesce
    * sentinel keeps an exhausted round a no-op instead of NULL-poisoning
    * the segmentations (the driver loop fails fast instead — gated
    * queries stay below exhaustion). */
  def trainRecursiveCtesSql(normalizeSql: String, numMerges: Int,
      maxTrainWords: Int, fromRel: String = "documents"): String =
    s"""bpe_w0 AS MATERIALIZED (
       |  SELECT w AS word, count(*) AS freq FROM (
       |    SELECT unnest(string_split($normalizeSql, ' ')) AS w FROM $fromRel) t
       |  WHERE len(w) >= 1 GROUP BY w
       |  ORDER BY freq DESC, word ASC LIMIT $maxTrainWords),
       |bpe_steps(r, word, freq, s) AS (
       |  SELECT 0, word, freq, word FROM bpe_w0
       |  UNION ALL
       |  SELECT r + 1, word, freq,
       |    replace(s, coalesce(
       |      (SELECT pair FROM (
       |         SELECT pair,
       |           CAST(sum(freq * (len(s) - len(replace(s, pair, ''))) // 2) AS BIGINT) AS cnt
       |         FROM (SELECT DISTINCT word, freq, s, substr(s, CAST(x AS INTEGER), 2) AS pair
       |               FROM bpe_steps, unnest(range(1, len(s), 1)) rr(x))
       |         GROUP BY pair ORDER BY cnt DESC, pair ASC LIMIT 1)),
       |      chr(1) || chr(1)), chr(192 + r)) AS s
       |  FROM bpe_steps WHERE r < $numMerges),
       |bpe_pr AS MATERIALIZED (
       |  SELECT r, pair,
       |    CAST(sum(freq * (len(s) - len(replace(s, pair, ''))) // 2) AS BIGINT) AS cnt
       |  FROM (SELECT DISTINCT r, word, freq, s, substr(s, CAST(x AS INTEGER), 2) AS pair
       |        FROM bpe_steps, unnest(range(1, len(s), 1)) rr(x))
       |  WHERE r < $numMerges
       |  GROUP BY r, pair),
       |bpe_merges AS MATERIALIZED (
       |  SELECT r + 1 AS rk, pair, chr(192 + r) AS merged, cnt
       |  FROM (SELECT r, pair, cnt,
       |          row_number() OVER (PARTITION BY r ORDER BY cnt DESC, pair ASC) AS rn
       |        FROM bpe_pr)
       |  WHERE rn = 1)""".stripMargin

  /** Recursive APPLICATION replay: segments the distinct words of
    * `wordsRel` (a relation with one VARCHAR column `w`) under
    * `bpe_merges` — CTEs `bpe_aw`, `bpe_app`, and `bpe_seg(w, t)` where
    * `t` is the word's BPE token count. Append after
    * [[trainRecursiveCtesSql]]. */
  def applyRecursiveCtesSql(wordsRel: String, numMerges: Int): String =
    s"""bpe_aw AS MATERIALIZED (SELECT DISTINCT w FROM $wordsRel WHERE len(w) >= 1),
       |bpe_app(r, w, s) AS (
       |  SELECT 0, w, w FROM bpe_aw
       |  UNION ALL
       |  SELECT r + 1, bpe_app.w,
       |    replace(s, coalesce(m.pair, chr(1) || chr(1)), coalesce(m.merged, chr(2)))
       |  FROM bpe_app LEFT JOIN bpe_merges m ON m.rk = r + 1
       |  WHERE r < $numMerges),
       |bpe_seg AS MATERIALIZED (
       |  SELECT w, len(s) AS t FROM bpe_app WHERE r = $numMerges)""".stripMargin

  /** Recursive vocabulary DECODE, DEPTH-bounded: every merged symbol
    * starts as its 2-symbol pair string; each iteration substitutes
    * EVERY still-merged symbol (anything outside the [a-z0-9] base
    * alphabet) with its pair via one shared map lookup, until the
    * expansion is pure base characters. Iterations needed = the longest
    * derivation chain ≤ the longest training word (31 for this corpus;
    * bound 64), NOT numMerges — the per-ROUND accumulation of the old
    * shape was O(numMerges²) rows (33 M at 8192 merges, minutes of
    * replay); this is O(numMerges × depth). Emits `bpe_expd_fin(sym,
    * ex)`. Append after [[trainRecursiveCtesSql]]. */
  def vocabRecursiveCteSql(numMerges: Int): String =
    s"""bpe_mp AS MATERIALIZED (
       |  SELECT map(list(merged), list(pair)) AS m FROM bpe_merges),
       |bpe_expd(it, sym, ex) AS (
       |  SELECT 0, merged, pair FROM bpe_merges
       |  UNION ALL
       |  SELECT it + 1, sym,
       |    list_aggregate(list_transform(string_split_regex(ex, ''),
       |      c -> coalesce(bpe_mp.m[c][1], c)), 'string_agg', '')
       |  FROM bpe_expd, bpe_mp
       |  WHERE it < 64 AND regexp_matches(ex, '[^a-z0-9]')),
       |bpe_expd_fin AS MATERIALIZED (
       |  SELECT sym, ex FROM (
       |    SELECT sym, ex,
       |      row_number() OVER (PARTITION BY sym ORDER BY it DESC) AS rn
       |    FROM bpe_expd) WHERE rn = 1)""".stripMargin

  /** The expansion table in SQL: CTE chain `exp0..exp$n` where exp$i
    * maps every symbol live after round i to its character expansion.
    * Paste after [[trainCtesSql]]'s CTEs (depends on best$i). */
  def expansionCtesSql(numMerges: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """exp0 AS MATERIALIZED (
        |  SELECT chr(CAST(x AS INTEGER)) AS sym, chr(CAST(x AS INTEGER)) AS ex
        |  FROM (SELECT unnest(range(97, 123)) AS x UNION ALL
        |        SELECT unnest(range(48, 58))) t)""".stripMargin)
    for (i <- 1 to numMerges) {
      val prev = s"exp${i - 1}"
      sb.append(
        s""",
           |exp$i AS MATERIALIZED (
           |  SELECT sym, ex FROM $prev
           |  UNION ALL
           |  SELECT chr(${191 + i}),
           |    (SELECT e1.ex FROM $prev e1
           |     WHERE e1.sym = substr((SELECT pair FROM best$i), 1, 1)) ||
           |    (SELECT e2.ex FROM $prev e2
           |     WHERE e2.sym = substr((SELECT pair FROM best$i), 2, 1)))""".stripMargin)
    }
    sb.toString()
  }
}
