package graft.ckpt

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.column.statistics.LongStatistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

import scala.jdk.CollectionConverters._

/**
 * Checkpointed, idempotently-resumable stage writer — the Iceberg-shaped
 * contract (SURVEY.md §7): every stage materializes to Parquet with a
 * lineage row; a re-run finds the committed output and skips the work,
 * matching the reference's meta_key cache-hit semantics
 * (scanner.rs:1251-1294, db.rs:292-321) where the "cache key" here is the
 * (stage, workDir) pair and the parquet _SUCCESS marker is the commit.
 *
 * Lineage + metrics are append-only side tables (the reference's
 * last_seen_ts / comparison-count analogs, db.rs:909-911,
 * scanner.rs:1778).
 */
final class Ckpt(spark: SparkSession, workDir: String) {
  private def path(stage: String) = s"$workDir/$stage"

  private def committed(stage: String): Boolean =
    try {
      val p = new org.apache.hadoop.fs.Path(path(stage), "_SUCCESS")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    } catch { case scala.util.control.NonFatal(_) => false }

  private val pendingLineage =
    scala.collection.mutable.ArrayBuffer[(String, Long, Long, String)]()
  private val pendingMetrics =
    scala.collection.mutable.ArrayBuffer[(String, Double, String)]()
  private val pendingPartLineage =
    scala.collection.mutable.ArrayBuffer[(String, String, Long)]()

  /** Run `compute` unless `stage` is already committed; always returns the
    * materialized frame (reads back from parquet so downstream plans start
    * from a stable scan, and `monotonically_increasing_id`-derived columns
    * are frozen). Returns (frame, cacheHit, rows). The read-back and the
    * row count come from the part files' parquet footers on the driver
    * ([[Ckpt.readCounted]]), so neither a fresh nor a resumed stage pays a
    * schema-inference or counting job. Lineage rows are buffered — call
    * flush() once per run so the side-table writes cost one job, not one
    * per stage. */
  def stage(stageName: String)(compute: => DataFrame): (DataFrame, Boolean, Long) = {
    val hit = committed(stageName)
    val t0 = System.nanoTime()
    if (!hit) compute.write.mode(SaveMode.Overwrite).parquet(path(stageName))
    val (out, files) = Ckpt.readCounted(spark, path(stageName))
    val rows = files.map(_._2).sum
    if (!hit) {
      // per-file lineage keyed by the WRITTEN file, summed for the stage
      // total — the per-partition replacement for the reference's per-file
      // last_seen rows (db.rs:909-911). Empty part files (the schema-only
      // file an empty partition 0 writes) carry no lineage row.
      files.filter(_._2 > 0).foreach { case (leaf, n) =>
        pendingPartLineage += ((stageName, leaf, n))
      }
      appendLineage(stageName, rows, (System.nanoTime() - t0) / 1000000)
    }
    (out, hit, rows)
  }

  def appendLineage(stageName: String, rows: Long, wallMs: Long): Unit =
    pendingLineage += ((stageName, rows, wallMs, java.time.Instant.now.toString))

  def appendMetric(name: String, value: Double): Unit =
    pendingMetrics += ((name, value, java.time.Instant.now.toString))

  /** Commit buffered lineage + metrics rows (one append job each). */
  def flush(): Unit = {
    import spark.implicits._
    if (pendingLineage.nonEmpty) {
      pendingLineage.toSeq.toDF("stage", "rows", "wall_ms", "committed_at")
        .coalesce(1).write.mode(SaveMode.Append).parquet(s"$workDir/_lineage")
      pendingLineage.clear()
    }
    if (pendingMetrics.nonEmpty) {
      pendingMetrics.toSeq.toDF("metric", "value", "at")
        .coalesce(1).write.mode(SaveMode.Append).parquet(s"$workDir/_metrics")
      pendingMetrics.clear()
    }
    if (pendingPartLineage.nonEmpty) {
      // _lineage_files, not the pre-r3 _lineage_partitions: that table's
      // schema changed (partition_id:int → file:string) and SaveMode.Append
      // into the old directory would mix schemas when resuming a work dir
      // written by an older build — a new directory name versions the schema
      pendingPartLineage.toSeq.toDF("stage", "file", "rows")
        .coalesce(1).write.mode(SaveMode.Append)
        .parquet(s"$workDir/_lineage_files")
      pendingPartLineage.clear()
    }
  }

  /** Latest committed value of a metric, if any — lets a resumed run read
    * back a count another stage already paid for (e.g. confident_rows
    * feeding the auto chunk width) instead of re-running the job. Checks
    * the in-memory buffer first so a metric appended THIS run is visible
    * before flush(). */
  def readMetric(name: String): Option[Double] = {
    pendingMetrics.reverseIterator.find(_._1 == name).map(_._2).orElse {
      try {
        val p = new org.apache.hadoop.fs.Path(s"$workDir/_metrics")
        if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
          None
        else {
          // latest by PARSED instant, not by string order: Instant
          // .toString drops trailing zero fractions ("…:56Z" vs
          // "…:56.500Z"), and '.' < 'Z' makes the lexicographic max the
          // EARLIER row when two appends land in the same second. The
          // per-metric row set is tiny — collect and compare properly.
          spark.read.parquet(p.toString)
            .where(col("metric") === name)
            .select("value", "at").collect()
            .maxByOption(r => java.time.Instant.parse(r.getString(1)))
            .map(_.getDouble(0))
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  def lineage: DataFrame = spark.read.parquet(s"$workDir/_lineage")
  def metrics: DataFrame = spark.read.parquet(s"$workDir/_metrics")
  def partitionLineage: DataFrame =
    spark.read.parquet(s"$workDir/_lineage_files")
}

/** Job-free reads of committed parquet directories. Spark's own
  * `spark.read.parquet(dir)` runs a schema-inference job per read, and
  * counting rows per file costs a scan; both facts sit in the part files'
  * footers, which the driver reads directly. */
object Ckpt {
  /** Footer key under which Spark's parquet writer stores the row schema. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Footer-read parallelism — the bound Spark's own parallel footer
    * reader uses. */
  private val FooterThreads = 8

  private def conf(spark: SparkSession): Configuration =
    spark.sparkContext.hadoopConfiguration

  /** Data files of a parquet dir (Spark's hidden-file rule: names starting
    * with `_` or `.` are metadata or staging), sorted by name. */
  private def partFiles(spark: SparkSession, dir: String): Seq[FileStatus] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf(spark))
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
  }

  private def footer(c: Configuration, f: FileStatus): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, c))
    try r.getFooter finally r.close()
  }

  private def footers(spark: SparkSession, files: Seq[FileStatus]): Seq[ParquetMetadata] = {
    val c = conf(spark)
    if (files.size <= 1) files.map(footer(c, _))
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(FooterThreads, files.size))
      try {
        files.map(f => pool.submit(new java.util.concurrent.Callable[ParquetMetadata] {
          def call(): ParquetMetadata = footer(c, f)
        })).map { fut =>
          try fut.get()
          catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
        }
      } finally pool.shutdown()
    }
  }

  /** The schema Spark recorded in a footer, if present and parseable. */
  private def sparkSchema(m: ParquetMetadata): Option[StructType] =
    Option(m.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))
      .flatMap(json => scala.util.Try(DataType.fromJson(json)).toOption)
      .collect { case s: StructType => s }

  private def load(spark: SparkSession, schema: Option[StructType],
                   dirs: Seq[String]): DataFrame = schema match {
    case Some(s) => spark.read.schema(s).parquet(dirs: _*)
    case None => spark.read.parquet(dirs: _*) // no Spark schema key: infer
  }

  /** One scan over `dirs` (which must share a schema), with the schema taken
    * from the first part file's footer instead of an inference job. */
  def read(spark: SparkSession, dirs: String*): DataFrame = {
    val first = dirs.iterator.flatMap(partFiles(spark, _)).take(1).toSeq
    load(spark, footers(spark, first).headOption.flatMap(sparkSchema), dirs)
  }

  /** Max of long column `column` over a committed dir from the footers'
    * row-group statistics — no Spark job. `ifEmpty` when the dir holds no
    * rows; None when some row group carries no statistics for the column
    * (the caller then scans). */
  def longMax(spark: SparkSession, dir: String, column: String,
              ifEmpty: Long): Option[Long] = {
    val groups = footers(spark, partFiles(spark, dir)).flatMap(_.getBlocks.asScala)
      .filter(_.getRowCount > 0)
    val maxes = groups.map(_.getColumns.asScala.find(_.getPath.toDotString == column)
      .map(_.getStatistics).collect {
        case st: LongStatistics if st.hasNonNullValue => st.getMax
      })
    if (maxes.exists(_.isEmpty)) None
    else Some(maxes.flatten.maxOption.getOrElse(ifEmpty))
  }

  /** Read one committed dir plus each part file's exact row count (leaf
    * name → rows) from its footer — every footer read on the driver,
    * [[FooterThreads]] at a time, no Spark job. */
  def readCounted(spark: SparkSession, dir: String): (DataFrame, Seq[(String, Long)]) = {
    val files = partFiles(spark, dir)
    val ms = footers(spark, files)
    val counts = files.zip(ms).map { case (f, m) =>
      f.getPath.getName -> m.getBlocks.asScala.map(_.getRowCount).sum
    }
    (load(spark, ms.headOption.flatMap(sparkSchema), Seq(dir)), counts)
  }
}
