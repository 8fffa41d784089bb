package dedupbench

import graft.{CorpusState, Incremental, Pipeline}
import graft.cc.ConnectedComponents
import graft.groups.Groups
import graft.lsh.{BandIndex, BandJoin, BandJoin64}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** A finished grouping, as the checks see it: edges in ord space (for the
  * oracle of the same run) and prints in image-id space (comparable
  * across operations, whose ords may differ). */
final case class Output(edges: Set[Oracle.Edge], groups: Set[Set[String]],
                        edgePrint: String, groupPrint: String) {
  def prints: (String, String) = (edgePrint, groupPrint)
}

object Common {
  val PdqThreshold: Int = Pipeline.DefaultThreshold
  val PhashThreshold: Int = BandJoin64.DefaultThreshold

  def threshold(algo: String): Int = if (algo == "pdq") PdqThreshold else PhashThreshold

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** A layer call: a traced span in traced operations, a plain timer otherwise. */
  def step[A](ctx: Ctx, traced: Boolean, layer: String)(f: => A): (A, Double) =
    if (traced) ctx.tracer.span(layer)(f) else timed(f)

  /** Read `<dir>/edges` and `<dir>/groups` — the layout of a Pipeline.run
    * work dir, which the benchmark's own chains reuse. */
  def output(spark: SparkSession, dir: String, ids: Map[Long, String]): Output = {
    val edges = spark.read.parquet(s"$dir/edges").select("a", "b", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).intValue)).toSet
    val groups = spark.read.parquet(s"$dir/groups").select("comp", "image_id").collect()
      .groupBy(_.getLong(0)).values.map(_.map(_.getString(1)).toSet).toSet
    val edgeLines = edges.map { case (a, b, d) =>
      val (x, y) = (ids(a), ids(b))
      if (x < y) s"$x $y $d" else s"$y $x $d"
    }
    Output(edges, groups, Oracle.fingerprint(edgeLines),
      Oracle.fingerprint(groups.map(_.toSeq.sorted.mkString(","))))
  }

  def ids(sig: DataFrame): Map[Long, String] =
    sig.select("ord", "image_id").collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  /** Edges equal the brute-force oracle's, groups equal its components,
    * and truth recall holds (ROADMAP's north rule). Returns (recall, precision). */
  def verify(out: Output, sigs: IndexedSeq[Sig], algo: String,
             truth: Map[String, (Long, String)]): (Double, Double) = {
    val want = Oracle.edges(sigs, algo, threshold(algo))
    Check(out.edges == want, s"$algo edges differ from the brute-force oracle: " +
      s"${(out.edges -- want).size} extra, ${(want -- out.edges).size} missing")
    val id = sigs.map(s => s.ord -> s.id).toMap
    val comps = Oracle.components(want.map(e => (e._1, e._2))).map(_.map(id))
    Check(out.groups == comps, s"$algo groups differ from the oracle's components")
    val (recall, precision) = Oracle.quality(Oracle.pairs(out.groups), truth)
    Check(recall >= 0.99, f"$algo truth recall $recall%.4f < 0.99")
    (recall, precision)
  }

  /** Band join → connected components → group assembly over materialized
    * signatures, each step a layer; outputs land in `dir` like a
    * Pipeline.run work dir. Returns (seconds, CC rounds, CC input edges). */
  def chain(ctx: Ctx, sig: DataFrame, algo: String, dir: String, traced: Boolean,
            nConfHint: Long = -1): (Double, Int, Long) = {
    val spark = ctx.spark
    val sfx = if (algo == "pdq") "" else ".phash"
    val (_, tL) = step(ctx, traced, "lsh" + sfx) {
      val e =
        if (algo == "pdq") BandJoin.edges(sig, PdqThreshold, nConfHint = nConfHint)
        else BandJoin64.edges(sig, PhashThreshold, nConfHint = nConfHint)
      e.write.parquet(s"$dir/edges")
    }
    val ((rounds, edgesIn), tC) = step(ctx, traced, "cc" + sfx) {
      val (c, r, n) = ConnectedComponents.runWithStats(spark, spark.read.parquet(s"$dir/edges"))
      c.write.parquet(s"$dir/components")
      (r, n)
    }
    val (_, tG) = step(ctx, traced, "groups" + sfx) {
      Groups.assemble(sig, spark.read.parquet(s"$dir/components")).write.parquet(s"$dir/groups")
    }
    (tL + tC + tG, rounds, edgesIn)
  }

  /** Per-layer metrics of one traced operation from the tracer's totals. */
  def layerMetrics(ctx: Ctx, images: Long, edges: Long, rounds: Int,
                   edgesIn: Long): Map[String, Double] = {
    val ls = ctx.tracer.layers
    def l(n: String) = ls.getOrElse(n, new LayerStats)
    def busy(n: String) = ctx.tracer.spans.filter(_.layer == n).map(_.seconds).sum
    val all = ls.filter(!_._1.endsWith(".phash")).values // the op's own layers
    val lsh = l("lsh")
    Map(
      "kernel.busy_s" -> busy("kernel"),
      "kernel.cpu_ms_per_img" -> l("kernel").cpuNs / 1e6 / images,
      "kernel.task_skew" -> (if (ls.contains("kernel")) l("kernel").skew else 0.0),
      "lsh.busy_s" -> busy("lsh"), "lsh.exchange_rows" -> lsh.shuffleRecords.toDouble,
      "lsh.shuffle_bytes" -> lsh.shuffleBytes.toDouble, "lsh.spill_bytes" -> lsh.spillBytes.toDouble,
      "lsh.gc_s" -> lsh.gcMs / 1e3, "lsh.task_skew" -> (if (ls.contains("lsh")) lsh.skew else 0.0),
      "lsh.candidates" -> lsh.candidates.toDouble, "lsh.edges" -> edges.toDouble,
      "lsh.verify_yield" -> (if (lsh.candidates > 0) edges.toDouble / lsh.candidates else 0.0),
      "lsh.phash_busy_s" -> busy("lsh.phash"),
      "lsh.phash_candidates" -> l("lsh.phash").candidates.toDouble,
      "cc.busy_s" -> busy("cc"), "cc.edges_in" -> edgesIn.toDouble, "cc.rounds" -> rounds.toDouble,
      "groups.busy_s" -> busy("groups"),
      "groups.shuffle_bytes" -> l("groups").shuffleBytes.toDouble,
      "spark.jobs" -> all.map(_.jobs).sum.toDouble, "spark.tasks" -> all.map(_.tasks).sum.toDouble,
      "spark.sched_delay_s" -> all.map(_.schedDelayMs).sum / 1e3,
      "spark.gc_s" -> all.map(_.gcMs).sum / 1e3)
  }

  /** Median of each metric over the traced operations. */
  def medians(ms: Seq[Map[String, Double]]): Map[String, Double] =
    ms.flatMap(_.keys).distinct.map(k => k -> Stats.median(ms.flatMap(_.get(k)))).toMap

  /** Tracing overhead: traced minus untraced seconds, compared within each
    * class of operations that do the same work (median over classes). */
  def overhead(ops: Seq[Op], cls: Op => Any = _ => ()): Double = {
    val diffs = ops.groupBy(cls).values.flatMap { g =>
      val (t, u) = g.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some(Stats.median(t.map(_.wall)) - Stats.median(u.map(_.wall)))
    }.toSeq
    if (diffs.isEmpty) 0.0 else Stats.median(diffs)
  }

  /** Batch and regroup runs alternate untraced and traced operations,
    * starting and ending untraced (at least 3), so JVM warm-up over the
    * run biases neither side of the overhead. */
  val alternate: Int => Boolean = _ % 2 == 1

  /** Metrics read from a Pipeline.run work dir's `_metrics` table. */
  def pipelineMetric(spark: SparkSession, workDir: String, name: String): Double =
    spark.read.parquet(s"$workDir/_metrics").where(col("metric") === name)
      .select("value").collect().map(_.getDouble(0)).lastOption.getOrElse(0.0)

  def e2e(report: Report, setupS: Double, walls: Seq[Double], imgPerS: Seq[Double],
          recall: Double, precision: Double): Unit = {
    report.e2e ++= Seq(
      "op_p50_s" -> Metric(Stats.median(walls), "s"),
      "img_per_s" -> Metric(Stats.median(imgPerS), "img/s"),
      "setup_s" -> Metric(setupS, "s"),
      "dup_pair_recall" -> Metric(recall, "ratio"),
      "dup_pair_precision" -> Metric(precision, "ratio"))
    report.detail("op_walls_s") = walls
  }
}

/** Full Pipeline.run (PDQ-40, default knobs) into a fresh work dir. */
object BatchDedup {
  import Common._

  val Images = 1000

  def run(ctx: Ctx, report: Report): Unit = {
    val spark = ctx.spark
    val (corpus, _) = Inputs.corpus(spark, ctx.args.cacheDir, Inputs.firstBase(ctx.args.seed), Images)

    // set-up: session start plus the first, cold run of the job; its
    // output is checked against the oracle and is the reference print
    val dir0 = ctx.freshDir("batch")
    val (_, warm) = timed(Pipeline.run(spark, corpus.images, dir0))
    val sig0 = spark.read.parquet(s"$dir0/signatures")
    val ref = output(spark, dir0, ids(sig0))
    val (recall, precision) = verify(ref, Oracle.load(sig0), "pdq", corpus.truth)
    val decodeFailures = pipelineMetric(spark, dir0, "decode_failures")
    Files2.delete(dir0)

    val phases = if (ctx.args.trace) Host.kernelPhases(corpus.images) else Map.empty
    val samples = Seq.newBuilder[Map[String, Double]]
    val bytes = Seq.newBuilder[Double]
    val ops = new Loop(ctx, report).run(ctx.args.seconds, if (ctx.args.trace) 3 else 1, alternate) {
        (i, traced) =>
      val dir = ctx.freshDir("batch")
      try ctx.traced(traced) {
        if (traced) {
          val (nConf, tK) = ctx.tracer.span("kernel") {
            Pipeline.signatures(spark, corpus.images).write.parquet(s"$dir/signatures")
            spark.read.parquet(s"$dir/signatures")
              .filter(col("has_pdq") && !col("low_conf")).count()
          }
          val sig = spark.read.parquet(s"$dir/signatures")
          val (tChain, rounds, edgesIn) = chain(ctx, sig, "pdq", dir, traced = true, nConf)
          // the 64-bit chain over the same signatures, outside the op's time
          chain(ctx, sig, "phash", s"$dir/phash", traced = true)
          val out = output(spark, dir, ids(sig))
          Check(out.prints == ref.prints,
            "the traced decomposition does not reproduce Pipeline.run's edges and groups")
          samples += layerMetrics(ctx, corpus.size, out.edges.size, rounds, edgesIn)
          tK + tChain
        } else {
          val (_, t) = timed(Pipeline.run(spark, corpus.images, dir))
          Check(output(spark, dir, ids(spark.read.parquet(s"$dir/signatures"))).prints == ref.prints,
            s"operation $i: edges or groups differ from the first run of this seed")
          bytes += Files2.du(dir).toDouble
          t
        }
      } finally Files2.delete(dir)
    }

    val untraced = ops.filterNot(_.traced).map(_.wall)
    e2e(report, ctx.sessionS + warm, untraced, untraced.map(corpus.size / _), recall, precision)
    report.detail ++= Seq("images" -> corpus.size, "setup_warm_run_s" -> warm,
      "session_start_s" -> ctx.sessionS, "dup_pair_recall_pdq" -> recall,
      "batch_img_per_s" -> Map("value" -> Stats.median(untraced.map(corpus.size / _)),
        "unit" -> "img/s", "samples" -> untraced.size))
    if (ctx.args.trace) {
      val written = Stats.median(bytes.result())
      report.layers ++= medians(samples.result()) ++ phases ++ Seq(
        "kernel.decode_failures" -> decodeFailures,
        "ckpt.bytes_written" -> written, "ckpt.write_amp" -> written / corpus.inputBytes,
        "trace.overhead_s" -> overhead(ops))
    }
  }
}

/** Regroup from cached signatures: the pdq chain, then the phash chain. */
object RegroupCached {
  import Common._

  val Images = 1000
  val CacheBuilds = 3

  def run(ctx: Ctx, report: Report): Unit = {
    val spark = ctx.spark
    val (corpus, _) = Inputs.corpus(spark, ctx.args.cacheDir, Inputs.firstBase(ctx.args.seed), Images)

    // set-up: build the signature cache several times and keep the last,
    // then one cold operation, whose outputs are checked against the oracle
    val builds = (1 to CacheBuilds).map { _ =>
      val d = ctx.freshDir("sigcache")
      val (_, t) = timed(Pipeline.signatures(spark, corpus.images).write.parquet(d))
      d -> t
    }
    builds.init.foreach(b => Files2.delete(b._1))
    val cache = builds.last._1
    val sig = spark.read.parquet(cache)
    val idMap = ids(sig)
    val sigs = Oracle.load(sig)
    val n = sigs.size
    val decodeFailures = sig.where(col("decode_status") =!= "ok").count().toDouble

    def operation(dir: String, traced: Boolean): Seq[(String, Double, Int, Long, Output)] = {
      val runs = Seq("pdq", "phash").map { algo =>
        val (t, rounds, edgesIn) = chain(ctx, sig, algo, s"$dir/$algo", traced)
        (algo, t, rounds, edgesIn)
      }
      runs.map { case (algo, t, r, e) => (algo, t, r, e, output(spark, s"$dir/$algo", idMap)) }
    }
    val dir0 = ctx.freshDir("regroup")
    val first = operation(dir0, traced = false)
    Files2.delete(dir0)
    val quality = first.map(r => r._1 -> verify(r._5, sigs, r._1, corpus.truth)).toMap
    val refs = first.map(r => r._1 -> r._5.prints).toMap
    val setupS = ctx.sessionS + Stats.median(builds.map(_._2)) + first.map(_._2).sum

    val phases = if (ctx.args.trace) Host.kernelPhases(corpus.images) else Map.empty
    val perAlgo = Seq.newBuilder[(String, Double)]
    val samples = Seq.newBuilder[Map[String, Double]]
    val bytes = Seq.newBuilder[Double]
    val ops = new Loop(ctx, report).run(ctx.args.seconds, if (ctx.args.trace) 3 else 1, alternate) {
        (i, tr) =>
      val dir = ctx.freshDir("regroup")
      try ctx.traced(tr) {
        val runs = operation(dir, tr)
        runs.foreach { case (algo, t, _, _, out) =>
          Check(out.prints == refs(algo), s"operation $i: $algo edges or groups differ")
          if (!tr) perAlgo += algo -> t
        }
        if (tr) {
          val (_, _, rounds, edgesIn, out) = runs.head
          samples += layerMetrics(ctx, n, out.edges.size, rounds, edgesIn)
        } else bytes += Files2.du(dir).toDouble
        runs.map(_._2).sum
      } finally Files2.delete(dir)
    }

    val untraced = ops.filterNot(_.traced).map(_.wall)
    val (recall, precision) = quality("pdq")
    e2e(report, setupS, untraced, untraced.map(n / _), recall, precision)
    def algoP50(a: String) = {
      val ts = perAlgo.result().filter(_._1 == a).map(_._2)
      Map("value" -> Stats.median(ts), "unit" -> "s", "samples" -> ts.size)
    }
    report.detail ++= Seq("images" -> n, "cache_builds_s" -> builds.map(_._2),
      "setup_cold_op_s" -> first.map(_._2).sum, "session_start_s" -> ctx.sessionS,
      "regroup_pdq_s" -> algoP50("pdq"), "regroup_phash_s" -> algoP50("phash"),
      "dup_pair_recall_phash" -> quality("phash")._1,
      "dup_pair_precision_phash" -> quality("phash")._2)
    if (ctx.args.trace) {
      val written = Stats.median(bytes.result())
      report.layers ++= medians(samples.result()) ++ phases ++ Seq(
        "kernel.decode_failures" -> decodeFailures,
        "ckpt.bytes_written" -> written, "ckpt.write_amp" -> written / Files2.du(cache),
        "trace.overhead_s" -> overhead(ops))
    }
  }
}

/** Deltas ingested one after another into a corpus built in set-up. */
object IncrementalIngest {
  import Common._

  val BaseImages = 1000
  val DeltaImages = 40
  /** The program's default folds state every 8 versions, which a run has
    * no time to reach. Folding every 4th keeps the delta an untraced run
    * times (version 2) plain, and puts one compacting delta (version 4)
    * among the traced ones. */
  val CompactEvery = 4

  def run(ctx: Ctx, report: Report): Unit = {
    val spark = ctx.spark
    val (base, afterBase) =
      Inputs.corpus(spark, ctx.args.cacheDir, Inputs.firstBase(ctx.args.seed), BaseImages)
    // delta k takes the next DeltaImages images after delta k-1
    var nextBase = afterBase
    def nextDelta(): Corpus = {
      val (d, after) = Inputs.corpus(spark, ctx.args.cacheDir, nextBase, DeltaImages)
      nextBase = after
      d
    }
    val corpusWork = ctx.freshDir("corpus")
    def ingest(d: Corpus, deltaWork: String) =
      Incremental.run(spark, d.images, corpusWork, deltaWork, fullOutput = false,
        compactEvery = CompactEvery)

    // set-up: the base corpus, then a first delta that builds the band index
    val (_, tBase) = timed(Pipeline.run(spark, base.images, corpusWork))
    val d0 = nextDelta()
    val dw0 = ctx.freshDir("delta")
    val (_, tPrime) = timed(ingest(d0, dw0))
    Files2.delete(dw0)
    var version = 1
    var truth = base.truth ++ d0.truth
    val decodeFailures = pipelineMetric(spark, corpusWork, "decode_failures")

    val phases = if (ctx.args.trace) Host.kernelPhases(base.images) else Map.empty
    val samples = Seq.newBuilder[Map[String, Double]]
    val deltas = Map.newBuilder[Int, (Boolean, Int)] // op → (compacting, images)
    // traced runs: versions 2 untraced, 3 traced, 4 traced (compacting),
    // 5 untraced — the plain traced delta sits between two untraced ones
    val ops = new Loop(ctx, report).run(ctx.args.seconds, if (ctx.args.trace) 4 else 1,
        i => i == 1 || i == 2) {
        (i, tr) =>
      val d = nextDelta()
      val dw = ctx.freshDir("delta")
      try ctx.traced(tr) {
        val start = System.currentTimeMillis()
        val (_, t) = step(ctx, tr, "incremental")(ingest(d, dw))
        version += 1
        truth ++= d.truth
        Check(CorpusState.version(spark, corpusWork) == version,
          s"corpus state version ${CorpusState.version(spark, corpusWork)} after delta $i, want $version")
        deltas += i -> ((version % CompactEvery == 0, d.size))
        if (tr) {
          val written = Files2.writtenSince(corpusWork, start) + Files2.du(dw)
          val (_, tProbe) = ctx.tracer.span("lsh.probe") {
            BandIndex.probe(spark, s"$corpusWork/band_index",
              spark.read.parquet(s"$dw/delta_signatures"), PdqThreshold).count()
          }
          val inc = ctx.tracer.layer("incremental")
          samples += Map(
            "incremental.jobs_per_delta" -> inc.jobs.toDouble,
            "incremental.tasks_per_delta" -> inc.tasks.toDouble,
            "incremental.bytes_written_per_delta" -> written.toDouble,
            "incremental.state_layers" -> stateLayers(corpusWork, version).toDouble,
            "ckpt.bytes_written" -> written.toDouble,
            "ckpt.write_amp" -> written.toDouble / d.inputBytes,
            "lsh.probe_s" -> tProbe,
            "lsh.probe_candidates" -> ctx.tracer.layer("lsh.probe").candidates.toDouble,
            "spark.jobs" -> inc.jobs.toDouble, "spark.tasks" -> inc.tasks.toDouble,
            "spark.sched_delay_s" -> inc.schedDelayMs / 1e3, "spark.gc_s" -> inc.gcMs / 1e3)
        }
        t
      } finally Files2.delete(dw)
    }

    // the merged state: every row present, components equal the oracle's
    val sigDf = CorpusState.readSignatures(spark, corpusWork, version)
    val sigs = Oracle.load(sigDf)
    Check(sigs.size == truth.size,
      s"merged state holds ${sigs.size} signature rows, want ${truth.size}")
    val want = Oracle.components(Oracle.edges(sigs, "pdq", PdqThreshold).map(e => (e._1, e._2)))
    val comps = CorpusState.readComponents(spark, corpusWork, version).collect()
      .groupBy(_.getAs[Long]("comp")).values.map(_.map(_.getAs[Long]("id")).toSet)
      .filter(_.size > 1).toSet
    Check(comps == want, "merged components differ from the oracle's over the merged state")
    val id = sigs.map(s => s.ord -> s.id).toMap
    val (recall, precision) = Oracle.quality(Oracle.pairs(comps.map(_.map(id))), truth)
    Check(recall >= 0.99, f"truth recall $recall%.4f < 0.99")

    val info = deltas.result()
    val rows = ops.map(o => (o, info(o.i)._1, info(o.i)._2)) // (op, compacting, images)
    val untraced = rows.filterNot(_._1.traced)
    val imgPerS = untraced.map(r => r._3 / r._1.wall)
    e2e(report, ctx.sessionS + tBase + tPrime, untraced.map(_._1.wall), imgPerS, recall, precision)
    def p50(sel: Seq[Op]) = Map("value" -> (if (sel.isEmpty) 0.0 else Stats.median(sel.map(_.wall))),
      "unit" -> "s", "samples" -> sel.size)
    report.detail ++= Seq("base_images" -> base.size, "setup_base_run_s" -> tBase,
      "setup_first_delta_s" -> tPrime, "session_start_s" -> ctx.sessionS,
      "ingest_delta_p50_s" -> p50(untraced.map(_._1)),
      "ingest_compaction_delta_s" -> p50(rows.filter(_._2).map(_._1)),
      "ingest_img_per_s" -> Map("value" -> Stats.median(imgPerS), "unit" -> "img/s",
        "samples" -> imgPerS.size),
      "state_version" -> version)
    if (ctx.args.trace) {
      val t = rows.filter(_._1.traced)
      def med(c: Boolean) = t.filter(_._2 == c).map(_._1.wall)
      val compaction =
        if (med(true).isEmpty || med(false).isEmpty) 0.0
        else Stats.median(med(true)) - Stats.median(med(false))
      val compacting = rows.filter(_._2).map(_._1).toSet
      report.layers ++= medians(samples.result()) ++ phases ++ Seq(
        "kernel.decode_failures" -> decodeFailures,
        "incremental.compaction_s" -> compaction,
        "trace.overhead_s" -> overhead(ops, compacting))
    }
  }

  /** Merge-on-read layers above the newest compaction snapshot. */
  def stateLayers(corpusWork: String, version: Int): Int = {
    def has(v: Int, p: String) = new java.io.File(s"$corpusWork/state_v$v/$p").exists()
    val snap = (version to 1 by -1).find(v => has(v, "snapshot_signatures/_SUCCESS")).getOrElse(0)
    (snap + 1 to version).count(has(_, "sig_delta"))
  }
}
