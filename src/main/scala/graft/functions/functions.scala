package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.Bridge

import graft.ops.TextOps

/** User-facing column-function surface of the engine — the `functions._`
  * equivalent a user of the reference would import. Everything here is a
  * pure `Column` expression (codegen-friendly, no UDFs). */
package object functions {

  // --- text
  def normalize_text(c: Column): Column = TextOps.normalize(c)
  def word_tokens(c: Column): Column = TextOps.words(c)
  def token_count(c: Column): Column = TextOps.tokenCount(c)
  def word_count(c: Column): Column = TextOps.wordCount(c)
  def lang_id(c: Column): Column = TextOps.langId(c)
  def text_fingerprint(c: Column): Column = TextOps.fingerprint(c)
  def min_shingle_hash(c: Column, k: Int = 8): Column = TextOps.minShingleHash(c, k)
  def word_shingles(c: Column, n: Int): Column = TextOps.wordShingles(c, n)

  /** Unicode NFC canonical composition ([[NfcNormalize]], codegen'd) —
    * decomposed combining sequences fold to their composed forms. */
  def nfc(c: Column): Column =
    Bridge.column(NfcNormalize(Bridge.expression(c)))

  /** Unicode-aware text normalization ([[TextOps.normalizeUnicode]]):
    * NFC → lower → keep `\p{L}\p{N}` → collapse whitespace. The
    * multilingual twin of [[normalize_text]], which is ASCII-only and
    * empties CJK/Cyrillic/Arabic text. */
  def normalize_text_unicode(c: Column): Column = TextOps.normalizeUnicode(c)
  def word_tokens_unicode(c: Column): Column = TextOps.wordsUnicode(c)

  // --- survey cleaning expressions
  def binary_recode(colName: String): Column =
    graft.transform.CleanRows.binaryRecodeExpr(colName)
  def unwrap_singleton(colName: String): Column =
    graft.transform.CleanRows.unwrapSingletonExpr(colName)

  // --- hashing
  /** Native codegen'd 64-bit md5 prefix ([[Md5Hash64]]) — the
    * engine-shared (oracle-recomputable) per-token hash. */
  def md5_hash64(c: Column): Column =
    Bridge.column(Md5Hash64(Bridge.expression(c)))

  /** All per-document text statistics in one codegen'd code-point walk
    * ([[TextStats]]): `[n_chars, n_words, norm_len, n_punct, n_digit,
    * sw_de, sw_en, sw_es, sw_fr]` — replaces the 8-scan regex battery
    * behind quality features and language ID. */
  def text_stats(c: Column): Column =
    Bridge.column(TextStats(Bridge.expression(c)))

  /** Wrapping 64-bit affine mix `c * a + b` ([[Mix64]]) — ANSI-safe
    * universal-hash variant derivation. */
  def mix64(c: Column, a: Long, b: Long): Column =
    Bridge.column(Mix64(Bridge.expression(c), a, b))

  /** Row-local hashed-bag linear score ([[HashedBagScore]]): the whole
    * fasttext-shape document logit (Σ weights[md5_64(token) mod n]) as
    * one codegen'd expression — zero shuffles. `weights` length must be
    * a power of two. */
  def hashed_bag_score(tokens: Column, weights: Column): Column =
    Bridge.column(HashedBagScore(Bridge.expression(tokens), Bridge.expression(weights)))

  /** Codegen'd broadcast-bloom-filter membership probe
    * ([[BloomMightContainLong]]) — the no-UDF probe-side predicate for
    * bloom-pruned joins. */
  def bloom_might_contain_long(c: Column,
      bloom: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter]): Column =
    Bridge.column(BloomMightContainLong(Bridge.expression(c), bloom))

  // --- aggregates
  /** Bounded-heap exact top-k aggregate ([[TopKPairs]]): the k best
    * (score, id) pairs per group as `array<struct<score,id>>`, best
    * first, tie-broken by id — only k rows per group per map task reach
    * the shuffle, vs every scored row for a ranking window. */
  def topk_pairs(score: Column, id: Column, k: Int): Column =
    Bridge.column(TopKPairs(Bridge.expression(score), Bridge.expression(id), k)
      .toAggregateExpression())

  /** One-pass exact Gram/covariance sums over `array<long>` vectors
    * ([[LongGramMatrix]]): n, Σxᵢ, and upper-triangle Σxᵢxⱼ in a single
    * mergeable buffer — covariance without exploding or self-joining the
    * corpus. */
  def long_gram_matrix(vec: Column, d: Int): Column =
    Bridge.column(LongGramMatrix(Bridge.expression(vec), d).toAggregateExpression())

  /** Binary-column classification of STRING columns in one aggregate
    * ([[BinaryColumnBits]]): the ordinals of the columns whose non-null
    * values are all `"0"`, `"1"` or `""`, as `array<int>` — one N-bit
    * buffer instead of N conditional aggregates. */
  def binary_column_bits(cols: Seq[Column]): Column =
    Bridge.column(BinaryColumnBits(cols.map(Bridge.expression)).toAggregateExpression())

  // --- vectors
  /** Exact integer dot product over micro-unit vectors ([[LongVectorDot]]). */
  def long_dot(a: Column, b: Column): Column =
    Bridge.column(LongVectorDot(Bridge.expression(a), Bridge.expression(b)))

  /** Exact integer squared L2 distance ([[LongVectorSqDist]]). */
  def long_sqdist(a: Column, b: Column): Column =
    Bridge.column(LongVectorSqDist(Bridge.expression(a), Bridge.expression(b)))

  /** Row-local nearest-centroid packed argmin key
    * ([[LongVectorArgminKey]]): `min_i(sqdist(vec, centroid_i)*k + cid_i)`
    * over a broadcast flattened centroid matrix — the zero-shuffle k-means
    * assignment kernel. */
  def long_argmin_key(vec: Column, cmat: Column, cids: Column, k: Int): Column =
    Bridge.column(LongVectorArgminKey(Bridge.expression(vec),
      Bridge.expression(cmat), Bridge.expression(cids), k))

  /** Native codegen'd float-vector dot product ([[FloatVectorDot]]). */
  def float_dot(a: Column, b: Column): Column =
    Bridge.column(FloatVectorDot(Bridge.expression(a), Bridge.expression(b)))
  def vector_norm(a: Column): Column = org.apache.spark.sql.functions.sqrt(float_dot(a, a))
  def cosine_similarity(a: Column, b: Column): Column =
    float_dot(a, b) / (vector_norm(a) * vector_norm(b))
}
