package graft.groups

import graft.lsh.BandJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Group assembly + analytics over connected components — the Spark form of
 * the reference's analyze_group_with_features (scanner.rs:2183-2254):
 *
 *  - membership: component id → members (size > 1 guaranteed: components
 *    only exist where edges exist, scanner.rs:1817's len>1 filter)
 *  - bit-identical counts per content_hash (A4), pixel-identical counts +
 *    appearance-order subgroup ids (A5)
 *  - max_dist: max over members of min-over-8-pivot-dihedral-variants
 *    Hamming distance to the pivot (A6); pivot = lowest-ord member with
 *    features (the reference picks the first sorted member with features —
 *    same idea, ord replaces the filesystem sort)
 *  - status: AllIdentical / SomeIdentical / None (A7)
 *  - group ordering: identical-status first, max_dist asc, pivot size
 *    desc (W1, scanner.rs:1561-1574)
 */
object Groups {
  /** sig: full signatures; comps: (id, comp). Returns one row per group
    * member with group-level analytics attached.
    *
    * Shape note (round-2): all group-level statistics are groupBy
    * aggregates joined back to the members, NOT `Window.partitionBy(comp)`
    * — a window sorts every member of a component in a single task, which
    * turns one pathological giant component into a straggler/OOM; groupBy
    * combines map-side and distributes. Giant components are reported
    * where they are found, by [[graft.cc.ConnectedComponents]]. */
  def assemble(sig: DataFrame, comps: DataFrame): DataFrame = {
    val members = sig.join(comps, sig("ord") === comps("id"), "inner").drop("id")

    // A4: per-(comp, content_hash) duplicate counts; group rollup for A7.
    // Round 6 (guide §2.4): group_size = Σ bit_count_dup — exactly the
    // member count — so the rollup aggregation yields it for free and the
    // separate members-wide `sizes` aggregation + join are gone (one
    // fewer full shuffle of the widest table in the stage).
    val contentCounts = members.groupBy("comp", "content_hash")
      .agg(count(lit(1)).as("bit_count_dup"))
    val contentRollup = contentCounts.groupBy("comp")
      .agg(count(lit(1)).cast("int").as("n_distinct_content"),
        max(col("bit_count_dup") > 1).as("has_bit_dup"),
        sum("bit_count_dup").as("group_size"))
    // A5: per-(comp, pixel_hash) counts (null pixel hashes stay 0)
    val pixelCounts = members.where(col("pixel_hash").isNotNull)
      .groupBy("comp", "pixel_hash")
      .agg(count(lit(1)).as("pixel_count_dup"))

    // A6 pivot = lowest-ord member with features; its dihedral variants
    val pivots = members.where(col("has_pdq"))
      .groupBy("comp")
      .agg(expr("min_by(variants, ord)").as("pivot_variants"))

    val hs = Seq("h0", "h1", "h2", "h3")
    val withDist = members
      .join(contentRollup, Seq("comp"))
      .join(contentCounts, Seq("comp", "content_hash"))
      .join(pixelCounts, Seq("comp", "pixel_hash"), "left")
      .withColumn("pixel_count_dup", coalesce(col("pixel_count_dup"), lit(0L)))
      .join(pivots, Seq("comp"), "left")
      .withColumn("dist_to_pivot",
        when(!col("has_pdq") || col("pivot_variants").isNull, lit(null))
          .otherwise(array_min(transform(col("pivot_variants"),
            v => BandJoin.hammingCols(hs.map(col), (0 until 4).map(v.getItem(_)))))))
      .drop("pivot_variants")

    val maxDist = withDist.groupBy("comp")
      .agg(coalesce(max(col("dist_to_pivot")), lit(0)).as("max_dist"))

    withDist
      .join(maxDist, Seq("comp"))
      .withColumn("status",
        when(col("n_distinct_content") === 1, lit("AllIdentical"))
          .when(col("has_bit_dup"), lit("SomeIdentical"))
          .otherwise(lit("None")))
  }

  /**
   * A9/J5 — hardlink subgroups (get_hardlink_groups, state.rs:1168-1179):
   * within each duplicate group, members sharing a physical file id form
   * a hardlink subgroup; only counts ≥ 2 are "actual hardlinks" (the
   * same storage copy appearing under several paths — dedup between them
   * is a no-op, and the reference reports them as one physical file).
   *
   * The input contract has no file ids, so this is an OPTIONAL side
   * table: `fileIds` = (image_id, file_id) — the unique_file_id analog
   * (dev«64 | ino, fileops::get_file_key). Members without a file id
   * count as their own storage copy. groupBy aggregates, never a window
   * over comp — giant-safe like the rest of the analytics.
   */
  def withHardlinks(assembled: DataFrame, fileIds: DataFrame): DataFrame = {
    val m = assembled.join(fileIds, Seq("image_id"), "left")
    val counts = m.where(col("file_id").isNotNull)
      .groupBy("comp", "file_id")
      .agg(count(lit(1)).as("hardlink_count"))
    m.join(counts, Seq("comp", "file_id"), "left")
      .withColumn("hardlink_count", coalesce(col("hardlink_count"), lit(1L)))
      .withColumn("is_hardlink", col("hardlink_count") > 1)
  }

  /**
   * Training-data drop-list (the batch form of the reference's
   * interactive keep/delete flow, S13): per duplicate group keep exactly
   * ONE member — the first under `keyCols` ascending (compose from the
   * W3 sort orders, e.g. `Seq(-col("size"))` = keep-largest,
   * `NaturalSort.exifDateOrder(...)`-shaped null-safe keys for
   * keep-oldest-shot) with an image_id tiebreak — and mark the rest
   * `keep = false`. At 100 TB the `keep = false` rows ARE the product: a
   * deterministic deletion manifest.
   *
   * Top-1 per group is a groupBy min over a packed struct — partial-
   * aggregated map-side, never a per-group window sort, so one
   * pathological giant group cannot straggle the stage.
   */
  def keepList(assembled: DataFrame,
               keyCols: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val keyed = assembled.withColumn("_k",
      struct(keyCols :+ col("image_id"): _*))
    val keepers = keyed.groupBy("comp").agg(min("_k").as("_keep"))
    keyed.join(keepers, "comp")
      .withColumn("keep", col("_k") === col("_keep"))
      .drop("_k", "_keep")
  }

  /** One row per group, ordered like the reference result list (W1). */
  def groupSummary(assembled: DataFrame): DataFrame = {
    assembled.groupBy("comp").agg(
      first("group_size").as("group_size"),
      first("max_dist").as("max_dist"),
      first("status").as("status"),
      min("image_id").as("first_member"),
      collect_list("image_id").as("members"))
      .orderBy((col("status") =!= lit("None")).desc,
        col("max_dist").asc, col("group_size").desc)
  }
}
