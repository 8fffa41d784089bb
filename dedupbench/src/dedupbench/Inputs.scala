package dedupbench

import graft.synth.Synth
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One generated input table plus its hidden truth. The program only ever
  * receives `images`; `truth` (image_id → (group_id, variant)) stays with
  * the benchmark. */
final case class Corpus(images: DataFrame, truth: Map[String, (Long, String)],
                        inputBytes: Long) {
  def size: Int = truth.size
}

object Inputs {
  /** `Synth.Seed` is a constant, so the workload seed selects the base-id
    * range instead: seed s owns the block [Origin + (s mod Blocks)·Block,
    * … + Block), disjoint from every other seed below `Blocks`, and every
    * base id stays under 10⁸ so image ids keep their 8-digit form. */
  val Origin = 1000000L
  val Block = 10000L
  val Blocks = 9000L

  def firstBase(seed: Long): Long = Origin + Math.floorMod(seed, Blocks) * Block

  /** The first `nImages` images (rounded up to a whole base) of the
    * bases from `from` on, generated by `Synth.rowsForBase` and cached as
    * parquet under `cacheRoot`, keyed by (from, nImages) — all the rows
    * depend on. Bases yield 1 to 5+ images, so a fixed image count, not a
    * fixed base count, keeps the work of an operation equal across seeds.
    * Returns the corpus and the first base after it. */
  def corpus(spark: SparkSession, cacheRoot: String, from: Long, nImages: Int): (Corpus, Long) = {
    val dir = s"$cacheRoot/synth-$from-n$nImages"
    if (!new java.io.File(s"$dir/_COMPLETE").exists()) generate(spark, dir, from, nImages)
    val truth = spark.read.parquet(s"$dir/truth").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
    val next = truth.keys.map(baseOf).max + 1
    (Corpus(spark.read.parquet(s"$dir/images"), truth, Files2.du(s"$dir/images")), next)
  }

  /** Base id of a Synth image id (`img-%08d-<variant>`). */
  private def baseOf(imageId: String): Long = imageId.substring(4, 12).toLong

  private def generate(spark: SparkSession, dir: String, from: Long, nImages: Int): Unit = {
    import spark.implicits._
    Files2.delete(dir)
    var span = nImages / 3L + 3 // bases average about 3.3 images
    var rows: org.apache.spark.sql.Dataset[graft.synth.SynthRow] = null
    var last = -1L
    while (last < 0) {
      if (rows != null) rows.unpersist()
      rows = spark.range(from, from + span, 1, spark.sparkContext.defaultParallelism)
        .as[Long].mapPartitions(_.flatMap(Synth.rowsForBase)).cache()
      val perBase = rows.select("image_id").as[String].collect()
        .groupBy(baseOf).view.mapValues(_.length).toSeq.sortBy(_._1)
      val cum = perBase.scanLeft(0)(_ + _._2).tail
      last = perBase.zip(cum).find(_._2 >= nImages).map(_._1._1).getOrElse(-1L)
      span += span / 2 + 1
    }
    val kept = rows.filter(r => baseOf(r.image_id) <= last)
    kept.select("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
      .write.parquet(s"$dir/images")
    kept.select("image_id", "group_id", "variant").write.parquet(s"$dir/truth")
    rows.unpersist()
    new java.io.File(s"$dir/_COMPLETE").createNewFile()
  }
}
