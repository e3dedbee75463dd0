package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text/hash primitives for the training-data-pipeline
  * operators (dedup, similarity, quality, language-ID).
  *
  * The per-token primitives are the native `graft_*` expressions
  * ([[GraftExtensions]]); the rest is `org.apache.spark.sql.functions`.
  * No UDFs, so the hot path stays inside whole-stage codegen and the
  * same plan scales from local[32] to a 1000-executor cluster.
  *
  * Cross-engine determinism: the only hash primitive is [[hash60]]
  * (60-bit prefix of md5), reproducible bit-for-bit in any engine with
  * md5 + hex parsing — which is what lets MinHash signatures and SimHash
  * fingerprints be checked hash-exact against the DuckDB oracle.
  */
object TextFunctions {

  /** Mersenne prime 2^31-1: modulus of the MinHash affine family.
    * Keeps every product under 2^62 (no BIGINT overflow in any engine). */
  val MinHashP: Long = 2147483647L

  /** Fixed affine coefficients (a, b) for the k=16 MinHash family —
    * arbitrary odd constants < P, hardcoded so Spark and the oracle
    * agree without any shared-seed machinery. */
  val MinHashCoeffs: Seq[(Long, Long)] = Seq(
    (1000000007L, 12345L), (998244353L, 54321L), (1000000409L, 11111L),
    (824633721L, 98765L), (1500000001L, 55555L), (1068439567L, 77777L),
    (1268435459L, 13579L), (786433213L, 24680L), (1610612741L, 99999L),
    (402653189L, 86420L), (1073741827L, 31415L), (536870923L, 27182L),
    (917504017L, 16180L), (1342177283L, 14142L), (671088667L, 17320L),
    (1431655777L, 23571L),
  )

  /** Whitespace tokens (single-space split, empties dropped) — matches
    * `list_filter(string_split(text,' '), x -> x <> '')` in the oracle.
    * Native [[Tokens]]: one codegen byte scan per row. */
  def tokens(text: Column): Column = call_function("graft_tokens", text)

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Deterministic 60-bit hash: first 15 hex digits of md5. Positive,
    * fits BIGINT; DuckDB equivalent `CAST('0x'||substr(md5(s),1,15) AS BIGINT)`.
    * Native [[Hash60]] computes it straight from the digest bytes (no
    * hex render / decimal re-parse per call — the MinHash/SimHash/KMV
    * hot paths hash every token instance). */
  def hash60(c: Column): Column = call_function("graft_h60", c)

  /** hash60 folded into the MinHash modulus. */
  def hashP(c: Column): Column = hash60(c) % MinHashP

  /** j-th MinHash affine transform of a pre-folded hash column. */
  def minHashJ(hm: Column, j: Int): Column = {
    val (a, b) = MinHashCoeffs(j)
    (lit(a) * hm + lit(b)) % MinHashP
  }

  /** The k=16 MinHash signature (array<long>) of a pre-folded
    * hashed-shingle array — row-local, no explode/aggregate. Native
    * [[MinHashSig]]: the k affine transforms and their minima in one
    * flat codegen loop. */
  def minhashSigArr(hma: Column): Column = call_function("graft_minhash_sig", hma)

  /** Multiset intersection size Σ_h mult_a(h)·mult_b(h) of two long
    * arrays — the row count of a `JOIN ON hm` between the exploded
    * relations, as a row-local expression (native [[MultisetIntersect]]). */
  def multisetIntersect(a: Column, b: Column): Column =
    call_function("graft_minter", a, b)

  /** Fixed-width token chunks (c tokens each, last chunk partial),
    * space-joined — the span-dedup grain shared by the batch x35
    * operator and its streaming form. Empty token lists yield an
    * empty array (guarding `sequence`'s descending-range behavior). */
  def wordChunks(toks: Column, c: Int): Column = {
    val nChunks = ceil(size(toks) / lit(c.toDouble)).cast("int")
    when(size(toks) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), nChunks - 1),
        i => array_join(slice(toks, i * c + 1, lit(c)), " ")))
  }

  /** Distinct hashed word-shingles of a token array, row-local — the
    * whole shingle → md5-fold → distinct pipeline as one codegen call
    * (native [[HashedShingles]]). NULL tokens → NULL; fewer than n
    * tokens → empty array.
    *  - `mod > 0`: distinct on shingle STRINGS, then `hash60 % mod`
    *    (post-hash duplicates stay) — the MinHash feed.
    *  - `mod == 0`: `hash60` per occurrence, distinct on VALUES — the
    *    decontamination feed.
    *  - `distinct = false`: every occurrence, multiplicity preserved —
    *    the bag-of-ngrams feed. */
  def hashedShingles(toks: Column, n: Int, mod: Long,
                     distinct: Boolean = true): Column =
    call_function("graft_hashed_shingles", toks, lit(n), lit(mod),
      lit(distinct))

  /** Word n-gram shingles of the token array; empty array when the doc
    * has fewer than n tokens (guards Spark's descending `sequence`). */
  def wordShingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*)))
      .otherwise(array().cast("array<string>"))

  /** 60-bit SimHash over all token occurrences of a token-array
    * column, as a per-row projection — no explode, no shuffle. Native
    * [[SimHash60]]: one md5 per token inside whole-stage codegen.
    * Bit rule: majority vote, ties (sum >= 0) set the bit. */
  def simhashToks(toks: Column): Column = call_function("graft_simhash", toks)

  /** [[simhashToks]] over the whitespace tokens of a text column. */
  def simhash60(textCol: String): Column =
    simhashToks(tokens(col(textCol)))

  /** Exact-dup fingerprint: md5 of whitespace-normalized lowercase text. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Stopword-hit count: token occurrences contained in `words`. */
  def stopwordHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => array_contains(lit(words.toArray), t)))

  /** Tiny per-language stopword lists for the heuristic language-ID. */
  val Stopwords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "los", "las", "y", "es", "un", "una"),
    "fr" -> Seq("le", "les", "et", "est", "une", "dans", "que"),
  )
}
