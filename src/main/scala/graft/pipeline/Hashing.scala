package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Portable, oracle-replicable hashing primitives for the training-data
  * pipeline operators (dedup / fingerprinting / LSH).
  *
  * Everything here is expressed with codegen'd built-in higher-order
  * functions over a char/token fold with EXACT integer arithmetic, so DuckDB
  * can reproduce results bit-for-bit (`(h*31 + ord(c)) mod M`, M prime
  * < 2^53 so intermediate `h*31 + c` never overflows int64). At production
  * scale the engine would swap in `xxhash64` (native, faster, not
  * cross-engine-reproducible) — the operator SHAPES (shingle → hash → min /
  * band → bucket-join) are identical, which is what the oracle verifies.
  */
object Hashing {

  /** Fold modulus: largest prime below 2^53. */
  val M: Long = 9007199254740881L

  /** Deterministic char-fold hash of a string column: (h*31 + ord(c)) % M.
    * Uses the native codegen'd [[graft.functions.CharFoldHash]] expression
    * (tight per-byte Java loop); byte-fold == char-fold on ASCII corpora,
    * which the DuckDB-oracle equivalence test pins. */
  def charFoldHash(s: Column, seed: Long = 0L): Column =
    graft.functions.CharFoldHash(s, seed)

  /** Built-in-only fold variant (one string alloc + two interpreted lambdas
    * per char) — kept as the cross-implementation check for the native form. */
  def charFoldHashHof(s: Column, seed: Long = 0L): Column =
    aggregate(
      filter(split(s, ""), c => c =!= ""),
      lit(seed),
      (h, c) => (h * 31 + ascii(c)) % M)

  /** Whitespace tokens, empties removed. */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= "")

  /** Word 3-gram shingles (space-joined); empty array below 3 tokens.
    * Native one-pass [[graft.functions.ShingleStrings]] — the HOF spelling
    * ([[shingles3Hof]]) costs ~3 s warm + ~11 s codegen for the sf0.1
    * corpus's 240k shingles; the fused loop is ~10×. */
  def shingles3(w: Column): Column =
    graft.functions.ShingleStrings(w, 3)

  /** Built-in-only spelling — kept as the cross-implementation check for
    * the native form (`ShingleStringsSpec` pins native ≡ HOF). */
  def shingles3Hof(w: Column): Column =
    when(size(w) >= 3,
      transform(sequence(lit(1), size(w) - 2), i => concat_ws(" ", slice(w, i, lit(3)))))
      .otherwise(array().cast("array<string>"))

  /** MinHash signature of `k` string-valued min-hashes: position i is the
    * lexicographic min of md5(i + "|" + shingle) over all shingles. String
    * minima avoid any hex→int conversion and are identical across engines.
    */
  def minhashSig(shingles: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)), i =>
      array_min(transform(shingles, s =>
        md5(concat(i.cast("string"), lit("|"), s)))))

  /** One md5 per shingle (materialize this BEFORE deriving signatures). */
  def minhashBase(shingles: Column): Column =
    transform(shingles, s => md5(concat(lit("|"), s)))

  /** Fused tokens → word-n-gram → md5 base hashes: one pass through the
    * native [[graft.functions.ShingleMd5]] expression (thread-local digest,
    * no shingle-string materialization) — ≡ `minhashBase(shingles3(w))`,
    * which stays as the built-in-only cross-implementation check. */
  def shingleMd5(words: Column, n: Int = 3): Column =
    graft.functions.ShingleMd5(words, n)

  /** `k` signature positions from the base hashes via hex-rotation orderings:
    * position i minimizes the md5 rotated left by 4·i hex chars — one md5
    * per shingle instead of k, each rotation a distinct total order. Uses the
    * native one-pass [[graft.functions.RotMinHash]] expression (zero
    * allocations per comparison); the HOF spelling below is the
    * cross-implementation check. */
  def minhashSigRot(base: Column, k: Int): Column =
    graft.functions.RotMinHash(base, k)

  /** Built-in-only rotation-signature variant (two substrings + one concat
    * per shingle PER POSITION) — kept as the oracle-shaped reference impl. */
  def minhashSigRotHof(base: Column, k: Int): Column =
    array((0 until k).map { i =>
      array_min(transform(base, b =>
        concat(substring(b, 4 * i + 1, 32), substring(b, 1, 4 * i))))
    }: _*)

  /** `bits`-bit SimHash over token hashes: bit j set iff the sum of
    * (±1 per token, sign = bit j of the token's char-fold hash) is positive.
    * Native one-pass [[graft.functions.SimHashBits]]; the HOF spelling below
    * is the oracle-shaped cross-implementation check. */
  def simhash(tokenHashes: Column, bits: Int): Column =
    graft.functions.SimHashBits(tokenHashes, bits)

  /** Built-in-only SimHash (`bits` interpreted aggregate folds per row). */
  def simhashHof(tokenHashes: Column, bits: Int): Column =
    (0 until bits).map { j =>
      when(
        aggregate(tokenHashes, lit(0L),
          (s, h) => s + (shiftright(h, j).bitwiseAND(1) * 2 - 1)) > 0,
        lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Quantize an array<float> to exact integer micros (floor(x * 1e6)). */
  def quantize(embedding: Column): Column =
    transform(embedding, x => floor(x.cast("double") * 1000000L).cast("long"))

  /** Exact integer dot product of two quantized vectors — native fused-loop
    * [[graft.functions.QDot]] expression; the HOF spelling below is the
    * cross-implementation check. */
  def qdot(a: Column, b: Column): Column =
    graft.functions.QDot(a, b)

  /** Built-in-only dot variant (zipped array alloc + two interpreted lambda
    * passes per pair) — kept as the oracle-shaped reference impl. */
  def qdotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  // --- DuckDB fragments for the same primitives (oracle side) -------------

  /** DuckDB: char-fold hash of expression `e` with integer seed `seed`. */
  def duckCharFold(e: String, seed: String = "0"): String =
    s"list_reduce(list_prepend(CAST($seed AS BIGINT), " +
      s"list_transform(list_filter(string_split_regex($e, ''), c -> c <> ''), " +
      s"c -> CAST(ord(c) AS BIGINT))), (a, b) -> (a * 31 + b) % $M)"

  val duckTokens: String => String =
    t => s"list_filter(string_split($t, ' '), t -> t <> '')"

  /** DuckDB: word 3-gram shingles from token list column `w`. */
  def duckShingles(w: String): String =
    s"CASE WHEN len($w) >= 3 THEN list_transform(generate_series(1, len($w) - 2), " +
      s"i -> concat_ws(' ', $w[i], $w[i+1], $w[i+2])) ELSE [] END"

  /** DuckDB: base md5 per shingle. */
  def duckMinhashBase(sh: String): String =
    s"list_transform($sh, s -> md5('|' || s))"

  /** DuckDB: k rotation-derived signature positions from base hashes `bh`. */
  def duckMinhashSigRot(bh: String, k: Int): String =
    (0 until k).map { i =>
      s"list_min(list_transform($bh, b -> substr(b, ${4 * i + 1}) || substr(b, 1, ${4 * i})))"
    }.mkString("[", ", ", "]")
}
