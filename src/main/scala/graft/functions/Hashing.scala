package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Cross-engine deterministic hashing primitives.
 *
 * Everything downstream (MinHash, SimHash, LSH bucketing, fingerprints)
 * is built on `h60`: the first 15 hex chars of sha256, parsed as a
 * 60-bit non-negative long. sha256 is bit-identical everywhere, so the
 * same expression is reproducible in any engine (the DuckDB oracle uses
 * `('0x' || substr(sha256(s),1,15))::BIGINT`) — unlike murmur3/xxhash
 * whose seeds and variants differ between engines.
 *
 * All of these are pure Catalyst expression trees (no UDFs): they stay
 * inside whole-stage codegen and distribute trivially — per-row work
 * with no shuffle, the shape that survives a 100 TB scan.
 */
object Hashing {

  /** 60-bit deterministic hash of a string column (always ≥ 0). */
  def h60(c: Column): Column =
    conv(substring(sha2(c, 256), 1, 15), 16, 10).cast("long")

  /** Seeded variant: independent hash family member `i` (MinHash). */
  def h60Seeded(seed: Int, c: Column): Column =
    h60(concat_ws("|", lit(seed), c))

  /** Whitespace tokens of normalized (lower-cased, trimmed) text. */
  def tokens(text: Column): Column =
    split(trim(lower(text)), "\\s+")

  /** `n`-word shingles of a token array, space-joined.
    * Empty array when the doc has fewer than `n` tokens. */
  def wordShingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))

  /** MinHash signature: `k` independent hash members per shingle are
    * carved from ONE sha256 digest (k ≤ 8 disjoint 8-hex-char = 32-bit
    * words), and the signature is the per-member min over the shingle
    * set. One sha per shingle instead of k — at 100 TB the sha is the
    * entire cost of MinHash, so this is a k× scan speedup with the
    * same collision statistics (32-bit members are ample for banding).
    * Docs with no shingles get a signature of -1s. */
  def minhashSignature(shingles: Column, k: Int): Column = {
    require(k <= 8, "k members are carved from one 256-bit digest")
    val digests = transform(shingles, s => sha2(s, 256)) // ONE sha per shingle
    val mins = aggregate(
      digests,
      transform(sequence(lit(0), lit(k - 1)), _ => lit(Long.MaxValue)),
      (acc, d) => zip_with(acc, sequence(lit(0), lit(k - 1)),
        (m, i) => least(m, conv(d.substr(i * 8 + 1, lit(8)), 16, 10).cast("long"))))
    when(size(shingles) === 0, transform(sequence(lit(0), lit(k - 1)), _ => lit(-1L)))
      .otherwise(mins)
  }

  /** LSH band key: hash of one `rowsPerBand`-slice of the signature.
    * Two docs collide on a band iff that slice matches exactly. */
  def bandKey(sig: Column, band: Int, rowsPerBand: Int): Column =
    sha2(concat_ws(",", lit(band),
      array_join(slice(sig, band * rowsPerBand + 1, rowsPerBand), ",")), 256)

  /** Literal `[2^0, 2^1, …, 2^59]` — bit masks as an array Column, so
    * per-bit tests inside lambdas are `h & mask` (Column-only bitwise
    * ops; the Scala `shiftright(col, Int)` API can't take a lambda
    * variable as the shift count). */
  private val BitMasks: Column = typedLit((0 until 60).map(b => 1L << b))

  /** 60-bit SimHash over a token multiset: bit b is set iff the sum of
    * (+1 / -1 for each token's h60 bit b) is positive. Near-duplicate
    * docs differ in few bits (small hamming distance).
    *
    * Single pass: each token is sha-hashed once and folded into a
    * 60-long bit-counter vector; the `finish` lambda (evaluated once)
    * packs positive counters into the result bits. The naive
    * formulation (sum over tokens, per bit) re-hashes every token 60
    * times — 60× the sha cost per row, which is the difference
    * between one scan and a cluster-day at 100 TB. */
  def simhash60(toks: Column): Column =
    aggregate(
      transform(toks, c => h60(c)),
      transform(sequence(lit(0), lit(59)), _ => lit(0L)),
      (acc, h) => zip_with(acc, BitMasks,
        (a, m) => a + when(h.bitwiseAND(m) =!= 0, 1L).otherwise(-1L)),
      counts => aggregate(
        zip_with(counts, BitMasks, (c, m) => when(c > 0, m).otherwise(lit(0L))),
        lit(0L), (acc, x) => acc + x))

  /** Jaccard similarity of two `array<bigint>` or two `array<string>`
    * columns taken as sets; 0.0 for an empty union
    * ([[TextKernelFunctions.jaccard]], the `graft_jaccard` kernel). */
  def jaccard(a: Column, b: Column): Column = TextKernelFunctions.jaccard(a, b)

  // ------------------------------------------------------------------
  // DuckDB-side mirrors (SQL text fragments used by SparkEntry.oracleSql
  // so the oracle computes bit-identical values).
  // ------------------------------------------------------------------

  /** DuckDB SQL for h60 over SQL expression `e`. */
  def sqlH60(e: String): String =
    s"('0x' || substr(sha256($e), 1, 15))::BIGINT"

  /** DuckDB SQL: token list of normalized text column `e`. */
  def sqlTokens(e: String): String =
    s"string_split_regex(trim(lower($e)), '\\s+')"

  /** DuckDB SQL: n-word shingles of token-list SQL `toksSql`. */
  def sqlShingles(toksSql: String, n: Int): String = {
    val joined = (0 until n).map(j => s"($toksSql)[i+$j]").mkString(" || ' ' || ")
    s"CASE WHEN len($toksSql) < $n THEN []::VARCHAR[] ELSE " +
      s"list_transform(range(1, len($toksSql) - ${n - 2}), i -> $joined) END"
  }

  /** DuckDB SQL: MinHash signature list over shingle-list SQL (same
    * one-digest member carving as [[minhashSignature]]). */
  def sqlMinhash(shinglesSql: String, k: Int): String =
    s"list_transform(range(0, $k), i -> coalesce(" +
      s"list_min(list_transform($shinglesSql, s -> " +
      s"('0x' || substr(sha256(s), (i * 8 + 1)::INTEGER, 8))::BIGINT)), -1))"

  /** DuckDB SQL: 60-bit SimHash over token-list SQL. */
  def sqlSimhash(toksSql: String): String =
    s"list_sum(list_transform(range(0, 60), b -> CASE WHEN " +
      s"list_sum(list_transform($toksSql, t -> CASE WHEN " +
      s"(${sqlH60("t")} >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0 " +
      s"THEN 1::BIGINT << b ELSE 0 END))::BIGINT"
}
