package graft.lsh

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * LSH-banded candidate generation over the 64-bit DCT pHash — the second
 * grouping algorithm of the reference (`HammingHash for u64`,
 * hamminghash.rs:23-41: 8 chunks × 8 bits, 256 buckets/chunk, default max
 * dist MAX_SIMILARITY_64 = 15, hamminghash.rs:5).
 *
 * Same Spark shape as the 256-bit [[BandJoin]]: explode 8-bit chunks into
 * (band_idx, band_val) keys, radius-split multi-probe masks between the
 * join sides, self equi-join, codegen'd `bit_count(xor)` verify in-join.
 * The probe side expands the 8 BITWISE dihedral variant hashes
 * (phash.rs:242-255 — store-1/query-8, derived by bit transpose + parity
 * sign flips, no pixel access), the index side holds originals.
 *
 * The low-quality gate (scanner.rs:1579-1594) applies unchanged: PDQ
 * quality is the featurelessness signal for the image regardless of which
 * hash is being banded, so low-confidence rows match exact-only here too.
 */
object BandJoin64 {
  final val NumChunks = 8      // hamminghash.rs:25
  final val BitsPerChunk = 8   // hamminghash.rs:39-41
  final val DefaultThreshold = 15 // MAX_SIMILARITY_64, hamminghash.rs:5

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Confident-row count past which 8-bit chunks (256 buckets/chunk)
    * degenerate toward n²/256 collisions — measured in MillionBench:
    * 1M random u64s = 99.9 s at 8-bit vs 10.02 s at 16-bit, identical
    * edge set by pigeonhole. */
  final val AutoWideCutoff = 100000L

  /** u64 chunk width from corpus size — used when callers pass
    * `chunkBits = 0` (auto). 8 = reference parity (hamminghash.rs:39-41),
    * right at n≲10⁵; 16 = the corpus-scale setting. */
  def autoChunkBits(n: Long): Int = if (n <= AutoWideCutoff) BitsPerChunk else 16


  /** 64-bit Hamming distance — single codegen'd bit_count. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** The 64/bits low-endian chunks of a long column (hamminghash.rs:29-33
    * generalized). 8-bit chunks are reference parity; like the 256-bit
    * path's chunkBits knob, wider chunks are the corpus-scale setting —
    * 8-bit chunks mean only 256 buckets/chunk, so beyond n≈10⁵ every
    * bucket holds n/256 rows and the join degenerates toward n²/256
    * (measured: 1M random u64s = 3×10¹⁰ collisions); 16-bit chunks give
    * 65536 buckets and identical recall by pigeonhole at tol ⌊t/4⌋. */
  def chunksArray64(h: Column, bits: Int = BitsPerChunk): Column = {
    require(Set(8, 16, 32)(bits), s"chunk width $bits must divide 64")
    val mask = (1L << bits) - 1
    array((0 until 64 / bits).map { k =>
      shiftrightunsigned(h, k * bits).bitwiseAND(lit(mask)).cast("long")
    }: _*)
  }

  private def bandKeys(df: DataFrame, h: String, radius: Int,
                       chunkBits: Int): DataFrame =
    df.select(col("*"),
        posexplode(chunksArray64(col(h), chunkBits)).as(Seq("band_idx", "chunk")))
      .withColumn("mask",
        explode(lit(BandJoin.masksB(radius, chunkBits))))
      .withColumn("band_val", col("chunk").bitwiseXOR(col("mask")))
      .drop("chunk", "mask")

  /**
   * Fuzzy duplicate edges among confident rows (a < b, min dist per pair).
   * `sig` needs: ord, phash64, phash_variants, low_conf, has_pdq.
   */
  def fuzzyEdges(sig: DataFrame, threshold: Int = DefaultThreshold,
                 chunkBits0: Int = 0, saltFactor: Int = 0,
                 nConfHint: Long = -1): DataFrame = {
    require(threshold <= 63,
      s"similarity $threshold > 63 needs R=4 probing (scanner.rs:1649-1655)")
    val conf0 = sig.filter(col("has_pdq") && !col("low_conf"))
    // Round-6 rep collapse — same construction as BandJoin.fuzzyEdges:
    // collision behavior and verified distance depend only on (phash64,
    // phash_variants), so identical rows collapse to one representative
    // before the band explode, and the edge set is rebuilt exactly
    // afterward. Precondition (holds for every producer in this repo —
    // PHash.dihedral(h) has h at index 0, the reference's store-1/query-8
    // with the original among the 8, phash.rs:242-255): phash_variants
    // contains phash64, so intra-cluster pairs verify at dist 0.
    val win = Window.partitionBy("phash64", "phash_variants")
    val membersAll = conf0.select("ord", "phash64", "phash_variants")
      .withColumn("rep", min("ord").over(win))
    val mem = membersAll.select(col("rep"), col("ord"))
    val conf = membersAll.where(col("ord") === col("rep"))
      .select("ord", "phash64", "phash_variants")
    // one shared count feeds the auto width + auto salt knobs (see
    // BandJoin.bandMatches); a caller pinning both, or passing its known
    // count, pays no job. Counted over the PRE-collapse rows so the auto
    // chunk-width trigger point is unchanged from round 5.
    val nConf =
      if (nConfHint >= 0) nConfHint
      else if (chunkBits0 == 0 || saltFactor == 0) conf0.count()
      else -1L
    val chunkBits = if (chunkBits0 != 0) chunkBits0 else {
      val bits = autoChunkBits(nConf)
      log.info(s"u64 band join auto chunk width: $nConf confident rows -> $bits-bit chunks")
      bits
    }
    val numChunks = 64 / chunkBits
    val tol = threshold / numChunks
    // radius split (see BandJoin.bandMatches): probe side is 8× heavier
    val feasible = (0 to tol).filter(r =>
      BandJoin.maskCount(r, chunkBits) <= BandJoin.MaxMasksPerSide &&
        BandJoin.maskCount(tol - r, chunkBits) <= BandJoin.MaxMasksPerSide)
    require(feasible.nonEmpty,
      s"threshold $threshold over $chunkBits-bit chunks: no probe-radius " +
        s"split fits ${BandJoin.MaxMasksPerSide} masks/side")
    val rIdx = feasible.minBy(r =>
      BandJoin.maskCount(r, chunkBits) +
        8L * BandJoin.maskCount(tol - r, chunkBits))
    val rPrb = tol - rIdx

    val (saltF, hotKeySet) =
      if (saltFactor != 0) (saltFactor, None)
      else if (nConf <= BandJoin.AutoSaltMinRows) (1, None)
      else BandJoin.autoSalt(conf, Seq("phash64"), chunkBits,
        hs => chunksArray64(hs.head, chunkBits), rIdx)

    // packed single-long join key (see BandJoin.bandMatches round-6 note):
    // band_idx (< 8) ∙ band_val (< 2^chunkBits ≤ 2^32) ∙ salt (6 bits)
    require(saltF <= BandJoin.PackedMaxSalt,
      s"salt factor $saltF > ${BandJoin.PackedMaxSalt} would alias packed band keys")
    def packKey(idxC: Column, valC: Column, saltC: Column): Column =
      idxC.cast("long") * lit(1L << 38) + valC * lit(64L) + saltC

    val idx0 = bandKeys(
      conf.select(col("ord"), col("phash64")), "phash64", rIdx, chunkBits)
      .select(col("band_idx"), col("band_val"), col("ord").as("c_ord"),
        col("phash64").as("c_h"))
    // explicit hot-bucket salting (recall-neutral, same scheme as the
    // 256-bit path): index buckets split S ways, probes replicated ×S —
    // on the measured hot keys only when the set is shippable, globally
    // otherwise; saltFactor = 0 measures the top bucket ball at rIdx
    val idx = (if (saltF <= 1) idx0.withColumn("salt", lit(0))
      else idx0.withColumn("salt",
        BandJoin.saltIndexCol(saltF, hotKeySet, col("c_ord"))))
      .select(packKey(col("band_idx"), col("band_val"), col("salt")).as("bkey"),
        col("c_ord"), col("c_h"))

    val prbBase = conf
      .select(col("ord"), explode(array_distinct(col("phash_variants"))).as("v_h"))
    val prb0 = bandKeys(prbBase, "v_h", rPrb, chunkBits)
      .select(col("band_idx"), col("band_val"), col("ord").as("q_ord"), col("v_h"))
    val prb = (if (saltF <= 1) prb0.withColumn("salt", lit(0))
      else prb0.withColumn("salt",
        explode(BandJoin.saltProbeCol(saltF, hotKeySet))))
      .select(packKey(col("band_idx"), col("band_val"), col("salt")).as("bkey"),
        col("q_ord"), col("v_h"))

    // SHUFFLE_HASH for the same reason as BandJoin: the planner's size
    // estimate predates the 8-variant × 8-chunk × mask explosion.
    // Symmetric probing (q =!= c, NOT q < c) for the same reason as the
    // 256-bit path: variant transforms are not guaranteed to be
    // distance-preserving bit permutations, so the two probe directions
    // of a pair can disagree — both must be kept.
    val repEdges = prb.hint("shuffle_hash").join(idx, Seq("bkey"))
      .where(col("q_ord") =!= col("c_ord"))
      .withColumn("dist", hamming64(col("v_h"), col("c_h")))
      .where(col("dist") <= threshold)
      .groupBy(least(col("q_ord"), col("c_ord")).as("ra"),
        greatest(col("q_ord"), col("c_ord")).as("rb"))
      .agg(min("dist").as("dist"))

    // rebuild member-level edges: all-pairs within identical clusters at
    // dist 0, rep-level pairs expanded through the member map
    val intra = mem.select(col("rep"), col("ord").as("a"))
      .join(mem.select(col("rep"), col("ord").as("b")), "rep")
      .where(col("a") < col("b"))
      .select(col("a"), col("b"), lit(0).as("dist"))
    val cross = repEdges
      .join(mem.select(col("rep").as("ra"), col("ord").as("oa")), "ra")
      .join(mem.select(col("rep").as("rb"), col("ord").as("ob")), "rb")
      .select(least(col("oa"), col("ob")).as("a"),
        greatest(col("oa"), col("ob")).as("b"), col("dist"))
    cross.unionByName(intra)
  }

  /** Exact (distance-0) star edges for ALL decoded rows including
    * low-quality ones — hub = min ord per identical hash, linear edge
    * count (same construction as BandJoin.exactEdges). */
  def exactEdges(sig: DataFrame): DataFrame = {
    val withHash = sig.filter(col("has_pdq"))
    val hubs = withHash.groupBy(col("phash64").as("p"))
      .agg(min("ord").as("hub"))
    val vars = withHash
      .select(col("ord"), explode(col("phash_variants")).as("p"))
    vars.hint("shuffle_merge").join(hubs, Seq("p"))
      .where(col("ord") =!= col("hub"))
      .select(least(col("ord"), col("hub")).as("a"),
        greatest(col("ord"), col("hub")).as("b"), lit(0).as("dist"))
      .distinct()
  }

  /** All verified duplicate edges (a < b, minimal dist per pair).
    * `chunkBits = 0` auto-selects the width from the corpus size;
    * `nConfHint` skips the resolution count when the caller knows it. */
  def edges(sig: DataFrame, threshold: Int = DefaultThreshold,
            chunkBits: Int = 0, saltFactor: Int = 0,
            nConfHint: Long = -1): DataFrame =
    fuzzyEdges(sig, threshold, chunkBits, saltFactor, nConfHint)
      .unionByName(exactEdges(sig))
      .groupBy("a", "b").agg(min("dist").as("dist"))
}
