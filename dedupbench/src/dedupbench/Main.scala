package dedupbench

import org.apache.spark.sql.SparkSession

import scala.collection.immutable.ListMap
import scala.collection.mutable

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      runDir: String, cacheDir: String, cpus: Int, partitions: Int,
                      failEvery: Int)

final case class Metric(value: Double, unit: String)

/** What a workload hands back: its end-to-end metrics (untraced runs), its
  * per-layer metrics (traced runs; layers it does not exercise read 0),
  * and detail lines printed before the result. */
final class Report {
  var attempted = 0
  var failed = 0
  val e2e = mutable.LinkedHashMap[String, Metric]()
  val layers = mutable.LinkedHashMap[String, Double]()
  val detail = mutable.LinkedHashMap[String, Any]()
}

/** One finished operation: its index, whether it ran traced, its seconds. */
final case class Op(i: Int, traced: Boolean, wall: Double)

/** One closed-loop client: the next operation starts when the previous one
  * has finished, until `seconds` have passed and at least `minOps` have
  * succeeded. `op` returns the seconds its program calls took; a thrown
  * exception counts as a failed operation and is never timed. */
final class Loop(ctx: Ctx, report: Report) {
  def run(seconds: Double, minOps: Int, tracedAt: Int => Boolean)(op: (Int, Boolean) => Double): IndexedSeq[Op] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val ops = mutable.ArrayBuffer[Op]()
    var i = 0
    while ((System.nanoTime() < deadline || ops.size < minOps) && i < minOps + 50) {
      report.attempted += 1
      val traced = ctx.args.trace && tracedAt(i)
      try {
        if (ctx.args.failEvery > 0 && (i + 1) % ctx.args.failEvery == 0) ctx.rejectedOp(i)
        ops += Op(i, traced, op(i, traced))
      } catch {
        case e: CheckFailed => throw e
        case scala.util.control.NonFatal(e) =>
          report.failed += 1
          System.err.println(s"dedupbench: operation $i failed: $e")
      }
      i += 1
    }
    Check(ops.nonEmpty, s"all ${report.attempted} operations failed")
    ops.toIndexedSeq
  }
}

final class Ctx(val spark: SparkSession, val args: Args, val sessionS: Double) {
  val tracer = new Tracer(spark)
  private var dirs = 0

  /** Run one operation with the tracer attached (fresh totals) or not at all. */
  def traced[A](on: Boolean)(f: => A): A =
    if (!on) f
    else {
      tracer.reset()
      tracer.attach()
      try f finally tracer.detach()
    }

  /** A fresh directory under this run's private work root. */
  def freshDir(tag: String): String = { dirs += 1; s"${args.runDir}/work/$tag-$dirs" }

  /** An operation the program must refuse (a pHash threshold above 15):
    * lets a run show that failures are counted and left untimed. */
  def rejectedOp(i: Int): Unit = {
    import spark.implicits._
    graft.Pipeline.run(spark, Seq.empty[(String, Array[Byte], Int, Int, String, String, Long)]
      .toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash"),
      freshDir(s"rejected-$i"), threshold = 16, algorithm = "phash")
  }
}

object Main {
  val Workloads = Seq("batch_dedup", "regroup_cached", "incremental_ingest")

  /** Per-layer metrics and units, in BENCHMARK.json order. */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "kernel.busy_s" -> "s", "kernel.cpu_ms_per_img" -> "ms/img", "kernel.task_skew" -> "ratio",
    "kernel.decode_failures" -> "count", "kernel.decode_ms" -> "ms/img",
    "kernel.pixel_sha_ms" -> "ms/img", "kernel.luma_ms" -> "ms/img", "kernel.pdq_ms" -> "ms/img",
    "kernel.phash_ms" -> "ms/img", "kernel.exif_ms" -> "ms/img", "kernel.minhash_ms" -> "ms/img",
    "lsh.busy_s" -> "s", "lsh.exchange_rows" -> "rows", "lsh.shuffle_bytes" -> "bytes",
    "lsh.spill_bytes" -> "bytes", "lsh.gc_s" -> "s", "lsh.task_skew" -> "ratio",
    "lsh.candidates" -> "rows", "lsh.edges" -> "rows", "lsh.verify_yield" -> "ratio",
    "lsh.phash_busy_s" -> "s", "lsh.phash_candidates" -> "rows",
    "lsh.probe_s" -> "s", "lsh.probe_candidates" -> "rows",
    "cc.busy_s" -> "s", "cc.edges_in" -> "rows", "cc.rounds" -> "count",
    "groups.busy_s" -> "s", "groups.shuffle_bytes" -> "bytes",
    "ckpt.bytes_written" -> "bytes", "ckpt.write_amp" -> "ratio",
    "incremental.jobs_per_delta" -> "count", "incremental.tasks_per_delta" -> "count",
    "incremental.bytes_written_per_delta" -> "bytes", "incremental.state_layers" -> "count",
    "incremental.compaction_s" -> "s",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.sched_delay_s" -> "s",
    "spark.gc_s" -> "s",
    "trace.overhead_s" -> "s", "host.loadavg" -> "load", "host.canary_ms" -> "ms/img",
    "bench.failed_ratio" -> "ratio")

  /** End-to-end metrics, in BENCHMARK.json order (units come with the values). */
  val E2eMetrics: Seq[String] = Seq("op_p50_s", "img_per_s", "setup_s", "peak_rss_mb",
    "dup_pair_recall", "dup_pair_precision")

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("run-dir"), m("cache-dir"), m("cpus").toInt, m("partitions").toInt,
      m.getOrElse("fail-every", "0").toInt)
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds > 0 && a.cpus > 0 && a.partitions > 0, "bad run settings")
    a
  }

  /** The session `graft.Pipeline.session` builds, with the local and
    * warehouse directories moved under the run directory. */
  private def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("dedupbench")
      .config("spark.sql.shuffle.partitions", a.partitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.local.dir", s"${a.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.runDir}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${a.runDir}/tmp")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(throw new CheckFailed("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0 = System.nanoTime()
    val spark = session(a)
    val ctx = new Ctx(spark, a, (System.nanoTime() - t0) / 1e9)
    val report = new Report
    val load0 = Host.loadavg()
    val correct =
      try {
        a.workload match {
          case "batch_dedup" => BatchDedup.run(ctx, report)
          case "regroup_cached" => RegroupCached.run(ctx, report)
          case "incremental_ingest" => IncrementalIngest.run(ctx, report)
        }
        true
      } catch {
        case e: CheckFailed =>
          System.err.println(s"dedupbench: CHECK FAILED: ${e.getMessage}")
          report.detail("check_failed") = e.getMessage
          false
      }
    val canary = Host.canaryMs()
    val load1 = Host.loadavg()
    spark.stop()

    report.detail ++= Seq(
      "pinned" -> Map("master" -> s"local[${a.cpus}]", "shuffle_partitions" -> a.partitions,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "spark_local_dir" -> s"${a.runDir}/spark-local",
        "nproc" -> Runtime.getRuntime.availableProcessors),
      "host" -> Map("loadavg_before" -> load0, "loadavg_after" -> load1,
        "canary_ms_per_img" -> canary),
      "attempted" -> report.attempted, "failed" -> report.failed)
    println("DEDUPBENCH_DETAIL " + Json(report.detail))

    val metrics: Seq[(String, Metric)] =
      if (!correct) Nil
      else if (a.trace) {
        report.layers ++= Seq("host.loadavg" -> (load0 + load1) / 2,
          "host.canary_ms" -> canary,
          "bench.failed_ratio" -> report.failed.toDouble / report.attempted)
        LayerMetrics.map { case (n, u) => n -> Metric(report.layers.getOrElse(n, 0.0), u) }
      } else {
        report.e2e("peak_rss_mb") = Metric(peakRssMb(), "MB")
        E2eMetrics.map(n => n -> report.e2e(n))
      }
    val result = ListMap(
      "correct" -> correct, "attempted" -> report.attempted, "failed" -> report.failed,
      "metrics" -> ListMap(metrics.map { case (n, m) => n -> ListMap("value" -> m.value, "unit" -> m.unit) }: _*))
    println("DEDUPBENCH_RESULT " + Json(result))
    System.out.flush()
    if (!correct) sys.exit(1)
  }
}
