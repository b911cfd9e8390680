package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** ENGINE-PORTABLE hash family — pure modular BIGINT arithmetic that any
  * ANSI-ish engine reproduces bit-for-bit, so hash-bucketed operators
  * (MinHash-LSH q31, SimHash q39, Count-Min q149, KMV q180/q197/q227)
  * can be FULL-ORACLE-checked instead of rows-only: DuckDB re-derives the
  * exact buckets/signatures with the same `% 1000003` chains, where
  * `xxhash64` would be a Spark-private black box.
  *
  * Family (P = 1000003, a prime > 2^19; Knuth multiplier 2654435761):
  *  - string base hash: left fold over codepoints, `h = (h·31 + c) mod P`,
  *    init 7 — Spark `aggregate` over a `sequence`/`substr` codepoint
  *    array ≡ DuckDB `list_reduce(list_prepend(7, …))` (the q256 fold
  *    recipe; DuckDB's reduce has no zero parameter).
  *  - seeded mix: `mix(h, j) = ((h·(j+1)) mod P · 2654435761) mod P` —
  *    the q149 Count-Min row recipe; j decorrelates the k MinHash
  *    signatures / 64 SimHash bit-hashes from one base hash, so the
  *    O(len) character fold runs ONCE per token, not once per seed.
  *  - chain fold: combines a hash array (shingle windows, band slices)
  *    with `(a·8191 + c) mod P`, init 7.
  *
  * All intermediates stay < 2^52 (max operand ~P·2654435761 ≈ 2.7·10^15),
  * so 64-bit integer arithmetic never wraps on either engine. Signatures
  * and SimHash bands are the native fused expressions in
  * [[graft.functions.PortableHashSig]]; the band chain here is a
  * codegen'd Catalyst expression tree (no UDF). The per-token Column
  * forms of the family are test references (`PortableHashRefs`).
  */
object PortableHash {

  val P = 1000003L
  val Mix = 2654435761L
  val Chain = 8191L
  val Init = 7L

  /** Chain fold of an array<long> of hashes: `(a·8191 + c) mod P`, init 7. */
  def chainFold(hs: Column): Column =
    aggregate(hs, lit(Init), (a, c) => pmod(a * lit(Chain) + c, lit(P)))

  /** LSH band buckets of a signature: `bands` equal slices, each
    * chain-folded to a bucket key; output array<struct<band, bucket>>. */
  def lshBands(sig: Column, k: Int, bands: Int): Column = {
    val rowsPerBand = k / bands
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        chainFold(slice(sig, b * rowsPerBand + 1, rowsPerBand)).as("bucket"))
    }: _*)
  }
}
