package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import PortableHash.{Init, Mix, P, chainFold}

/** Column forms of [[PortableHash]]'s engine-portable hash family — the
  * references the native fused expressions in
  * [[graft.functions.PortableHashSig]] are pinned bit-equal against
  * (CodegenSpec) and whose edge cases DedupSpec checks. Interpreted
  * higher-order functions: references only, never a hot path.
  */
object PortableHashRefs {

  /** Base hash of one token: fold of codepoints, `(h·31 + c) mod P`.
    * Caller must pre-filter empty tokens (Spark's `sequence(1, 0)` counts
    * DOWN where DuckDB's `generate_series(1, 0)` is empty). */
  def tokenHash(tok: Column): Column =
    aggregate(
      transform(sequence(lit(1), length(tok)),
        i => ascii(tok.substr(i, lit(1))).cast("long")),
      lit(Init),
      (a, c) => pmod(a * lit(31L) + c, lit(P)))

  /** Seeded mix: `((h·(j+1)) mod P · 2654435761) mod P`, j ≥ 0. */
  def mix(h: Column, j: Column): Column =
    pmod(pmod(h * (j + lit(1L)), lit(P)) * lit(Mix), lit(P))

  /** Whitespace tokens of the lower-trimmed text, empties dropped (the
    * double-space guard both engines agree on). */
  def tokens(text: Column): Column =
    filter(split(lower(trim(text)), " "), t => length(t) > 0)

  /** Per-token base hashes of `text`'s [[tokens]]. */
  def tokenHashes(text: Column): Column =
    transform(tokens(text), tokenHash(_))

  /** w-shingle hashes from token hashes: each window of `w` consecutive
    * token hashes chain-folded; docs shorter than `w` tokens contribute
    * their whole token-hash sequence as one shingle. Hashing windows of
    * TOKEN hashes (not re-folding characters per shingle) keeps the
    * character pass O(text length) total. */
  def shingleHashes(tokHashes: Column, w: Int = 3): Column =
    when(size(tokHashes) < w, array(chainFold(tokHashes)))
      .otherwise(transform(
        sequence(lit(1), size(tokHashes) - (w - 1)),
        i => chainFold(slice(tokHashes, i, lit(w)))))

  /** MinHash signature: sig[j] = min over shingles of mix(shingle, j),
    * j ∈ [0, k). */
  def minhashSignature(shingles: Column, k: Int): Column =
    array((0 until k).map { j =>
      array_min(transform(shingles, h => mix(h, lit(j.toLong))))
    }: _*)

  /** Portable SimHash bit votes: 64 per-bit sums over all tokens, one
    * array-accumulator fold (no 64× row explosion). Vote of token hash h
    * on bit b is +1 iff mix(h, b) lands in the top half of [0, P).
    * Bind the result as its own column before [[simhashPack]] so the
    * fold evaluates once, not once per packed bit. */
  def simhashVotes(tokHashes: Column): Column =
    aggregate(
      tokHashes,
      typedLit(Seq.fill(64)(0L)),
      (acc, h) => zip_with(
        acc,
        transform(sequence(lit(0), lit(63)),
          b => when(mix(h, b.cast("long")) * 2 >= lit(P), lit(1L))
            .otherwise(lit(-1L))),
        (a, v) => a + v))

  /** Pack 64 bit votes into FOUR 16-bit band keys (array<long>, each ∈
    * [0, 65536)): bit b set iff votes[b] > 0 (zero-vote ties are 0). Band
    * keys instead of one packed int64 keep bit 63 away from BIGINT sign
    * overflow and give the 4×16 LSH banding its join keys directly. */
  def simhashPack(votes: Column): Column = {
    val pow2 = typedLit((0 until 16).map(i => 1L << i))
    transform(sequence(lit(0), lit(3)), band =>
      aggregate(sequence(lit(0), lit(15)), lit(0L), (acc, i) =>
        acc + when(get(votes, band * 16 + i) > 0, get(pow2, i)).otherwise(lit(0L))))
  }
}
