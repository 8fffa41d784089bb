package graft.lsh

import org.apache.spark.sql.DataFrame

/**
 * The band join over the 64-bit DCT pHash — the second grouping algorithm
 * of the reference (`HammingHash for u64`, hamminghash.rs:23-41): [[BandJoin]]
 * over [[HashLayout.Phash64]]. The probe side expands the 8 BITWISE
 * dihedral variant hashes (phash.rs:242-255 — derived by bit transpose +
 * parity sign flips, no pixel access), the index side holds originals.
 */
object BandJoin64 {
  final val DefaultThreshold = HashLayout.Phash64.defaultThreshold

  /** All verified duplicate edges (a < b, minimal dist per pair).
    * `sig` needs: ord, phash64, phash_variants, low_conf, has_pdq.
    * `chunkBits = 0` auto-selects the width from the corpus size;
    * `nConfHint` skips the resolution count when the caller knows it. */
  def edges(sig: DataFrame, threshold: Int = DefaultThreshold,
            chunkBits: Int = 0, saltFactor: Int = 0,
            nConfHint: Long = -1): DataFrame =
    BandJoin.edges(sig, threshold, saltFactor, chunkBits, nConfHint, HashLayout.Phash64)
}
