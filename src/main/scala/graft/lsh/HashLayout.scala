package graft.lsh

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, explode}

/**
 * The shape of one hash the band join and the band index work over — the
 * reference's `HammingHash` trait (hamminghash.rs:11-63) with its two
 * instances: 256-bit PDQ carried as 4 longs, and the 64-bit DCT pHash
 * carried as 1 long. [[BandJoin]] and [[BandIndex]] are written once over
 * a layout, so the two widths cannot drift apart.
 *
 * @param algorithm        the `Pipeline.run` / `Incremental.run` name
 * @param tag              the `_meta_algo` value a [[BandIndex]] is stamped with
 * @param hashCols         the stored hash as long columns, low bits first
 * @param variantsCol      the dihedral variant hashes probed against the
 *                         stored ones (store-1/query-8): an array of 4-long
 *                         arrays for PDQ, of longs for pHash
 * @param parityBits       the reference's chunk width (16 for PDQ, 8 for
 *                         pHash, hamminghash.rs:39-41)
 * @param wideBits         the chunk width past `wideCutoff` confident rows
 * @param wideCutoff       confident rows past which parity-width buckets
 *                         degenerate: E[bucket] = n/2^parityBits
 * @param defaultThreshold 40 for PDQ (phdupes.rs:353-355), 15 for pHash
 *                         (MAX_SIMILARITY_64, hamminghash.rs:5)
 * @param maxThreshold     the highest threshold a run accepts: 63 for PDQ
 *                         (scanner.rs:1649-1655); 15 for pHash, where a
 *                         random pair's E[dist] is 32 and a higher cap
 *                         would match most random pairs
 */
final case class HashLayout(algorithm: String, tag: String,
                            hashCols: Seq[String], variantsCol: String,
                            parityBits: Int, wideBits: Int, wideCutoff: Long,
                            defaultThreshold: Int, maxThreshold: Int) {
  def bits: Int = 64 * hashCols.size

  /** Column names `prefix0..prefixK` for the hash longs on one join side. */
  def names(prefix: String): Seq[String] = hashCols.indices.map(i => s"$prefix$i")

  /** The stored hash longs renamed to `prefix0..prefixK`. */
  def hashAs(prefix: String): Seq[Column] =
    hashCols.zip(names(prefix)).map { case (h, n) => col(h).as(n) }

  /** One row per element of the `variants` array column, beside `keep`,
    * each variant hash unpacked into the hash-long columns `as`. */
  def explodeVariants(df: DataFrame, variants: Column, as: Seq[String],
                      keep: Column*): DataFrame =
    if (hashCols.size == 1) df.select(keep :+ explode(variants).as(as.head): _*)
    else df.select(keep :+ explode(variants).as("v"): _*)
      .select(col("*") +: as.indices.map(i => col("v").getItem(i).as(as(i))): _*)
      .drop("v")

  /** MIH chunk width from the confident-row count (`chunkBits = 0`):
    * parity width up to the cutoff, then wide — identical edges either way
    * by pigeonhole (LshSpec width-equality). */
  def autoChunkBits(n: Long, cutoff: Long = wideCutoff): Int =
    if (n <= cutoff) parityBits else wideBits

  /** Per-chunk probe radius ⌊t/m⌋ over m = bits/chunkBits chunks: dist ≤ t
    * ⇒ some chunk differs in ≤ ⌊t/m⌋ bits, so probing that radius is
    * exhaustive at any width. The reference caps similarity at 63 for
    * either hash width (group_files_generic asserts MAX_SIMILARITY_256,
    * scanner.rs:1649-1655): a higher t needs R=4 probing. */
  def tolerance(threshold: Int, chunkBits: Int): Int = {
    require(threshold <= 63,
      s"similarity $threshold > 63 needs R=4 probing (scanner.rs:1649-1655)")
    threshold / (bits / chunkBits)
  }

  /** The run threshold: `threshold` < 0 ⇒ the default, and anything above
    * [[maxThreshold]] is refused before any work starts. */
  def runThreshold(threshold: Int): Int = {
    val t = if (threshold >= 0) threshold else defaultThreshold
    require(t <= maxThreshold, s"$algorithm threshold $t > $maxThreshold " +
      s"(the most a $bits-bit hash accepts)")
    t
  }
}

object HashLayout {
  val Pdq = HashLayout("pdq", "pdq", Seq("h0", "h1", "h2", "h3"), "variants",
    parityBits = 16, wideBits = 32, wideCutoff = 10000000L,
    defaultThreshold = 40, maxThreshold = 63)

  /** 8-bit parity chunks are 256 buckets/chunk: past 10⁵ rows the join
    * degenerates toward n²/256 (MillionBench, 1M random u64s: 99.9 s at
    * 8-bit vs 10.02 s at 16-bit, identical edges). */
  val Phash64 = HashLayout("phash", "phash64", Seq("phash64"), "phash_variants",
    parityBits = 8, wideBits = 16, wideCutoff = 100000L,
    defaultThreshold = 15, maxThreshold = 15)

  private val All = Seq(Pdq, Phash64)

  def forAlgorithm(algorithm: String): HashLayout =
    All.find(_.algorithm == algorithm).getOrElse(throw new IllegalArgumentException(
      s"unknown algorithm '$algorithm' (${All.map(_.algorithm).mkString(" | ")})"))

  def forTag(tag: String): HashLayout =
    All.find(_.tag == tag).getOrElse(throw new IllegalArgumentException(
      s"unknown band index algorithm '$tag' (${All.map(_.tag).mkString(" | ")})"))
}
