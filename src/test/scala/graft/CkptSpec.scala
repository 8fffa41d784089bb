package graft

import graft.ckpt.Ckpt
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Stage checkpoints read back from parquet footers: the schema, the
  * per-file row counts and the resumed read must equal what Spark's own
  * inferring reader and a counting scan give — without their jobs. */
class CkptSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft-ckpt-$tag").toString

  /** Nested arrays, structs, arrays of structs, maps and nullable scalars. */
  private def nested(n: Int, parts: Int): DataFrame =
    spark.range(0, n, 1, parts).select(
      col("id").as("ord"),
      array(array(col("id"), col("id") * 2), array(lit(7L))).as("variants"),
      struct(col("id").as("a"), struct(col("id").cast("string").as("c")).as("b")).as("s"),
      array(struct(col("id").as("x"), lit(1.5).as("y"))).as("pts"),
      map(lit("k"), col("id")).as("m"),
      when(col("id") % 2 === 0, col("id").cast("int")).as("maybe"),
      sha2(col("id").cast("string"), 256).cast("binary").as("h"))

  /** Rows as sorted JSON lines — set operations refuse map columns. */
  private def rows(df: DataFrame): Seq[String] =
    df.select(to_json(struct(col("*")))).collect().map(_.getString(0)).sorted.toSeq

  private def jobsDuring[A](f: => A): (A, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val a = f
      Thread.sleep(1000) // listener bus is async — let any job event land
      (a, jobs.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("footer schema equals inferred parquet schema (nested arrays and structs), no jobs") {
    val dir = tmp("schema")
    nested(50, 3).write.parquet(s"$dir/t")
    val inferred = spark.read.parquet(s"$dir/t")
    val ((read, (counted, files)), jobs) = jobsDuring(
      (Ckpt.read(spark, s"$dir/t"), Ckpt.readCounted(spark, s"$dir/t")))
    assert(jobs == 0, s"footer reads launched $jobs Spark jobs")
    assert(read.schema == inferred.schema, s"${read.schema.treeString}\nvs\n${inferred.schema.treeString}")
    assert(counted.schema == inferred.schema)
    assert(files.map(_._2).sum == 50 && files.size == 3, s"per-file counts $files")
    assert(rows(read) == rows(inferred))
    assert(Ckpt.longMax(spark, s"$dir/t", "ord", ifEmpty = -1L).contains(49L))
  }

  test("stage lineage: per-file counts sum to the stage total; resume reads back identically") {
    val dir = tmp("stage")
    val ck = new Ckpt(spark, dir)
    val (out, hit, n) = ck.stage("s")(nested(123, 4))
    ck.flush()
    assert(!hit && n == 123)
    val total = spark.read.parquet(s"$dir/_lineage").where(col("stage") === "s")
      .select("rows").collect().map(_.getLong(0))
    val perFile = spark.read.parquet(s"$dir/_lineage_files").where(col("stage") === "s")
      .select("file", "rows").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(total.toSeq == Seq(123L))
    assert(perFile.values.sum == 123L && perFile.size == 4, s"per-file rows $perFile")
    val written = new java.io.File(s"$dir/s").list().filter(_.startsWith("part-")).toSet
    assert(perFile.keySet == written, "lineage names files that were not written")

    var recomputed = false
    val ((again, hit2, n2), jobs) = jobsDuring(new Ckpt(spark, dir).stage("s")({
      recomputed = true; nested(1, 1)
    }))
    assert(hit2 && !recomputed && n2 == 123)
    assert(jobs == 0, s"a resumed stage launched $jobs Spark jobs")
    assert(again.schema == out.schema)
    assert(rows(again) == rows(out))
  }

  test("an empty stage output writes no per-file lineage rows") {
    val dir = tmp("empty")
    val ck = new Ckpt(spark, dir)
    val (out, _, n) = ck.stage("none")(nested(10, 2).where(col("ord") < 0))
    ck.flush()
    assert(n == 0 && out.isEmpty)
    assert(out.schema == spark.read.parquet(s"$dir/none").schema)
    assert(spark.read.parquet(s"$dir/_lineage").where(col("stage") === "none")
      .select("rows").collect().map(_.getLong(0)).toSeq == Seq(0L))
    val files = new java.io.File(s"$dir/_lineage_files")
    assert(!files.exists() || spark.read.parquet(files.toString)
      .where(col("stage") === "none").isEmpty, "an empty file got a lineage row")
    assert(Ckpt.longMax(spark, s"$dir/none", "ord", ifEmpty = -1L).contains(-1L))
  }
}
