package dedupbench

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Task-metric totals of one layer: every job started under the layer's
  * job group, plus the band join's output rows from the SQL plan. */
final class LayerStats {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  var candidates = 0L
  val taskRunMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()

  /** max/median task run time of the layer's heaviest stage (DS2's skew
    * measure); 1.0 when no stage ran more than one task. */
  def skew: Double = {
    val heavy = taskRunMs.values.filter(_.size > 1).maxByOption(_.sum)
    heavy.map { ts =>
      val s = ts.sorted
      val med = math.max(Stats.median(s.map(_.toDouble).toSeq), 1.0)
      s.last / med
    }.getOrElse(1.0)
  }
}

/** One layer call: name and wall seconds. */
final case class Span(layer: String, seconds: Double)

/**
 * Tracing from outside the program: spans around calls into each layer,
 * each under a Spark job group named after the layer; a SparkListener sums
 * task metrics per job group, and a QueryExecutionListener reads the band
 * join's `numOutputRows` from the executed plan. Attached only in traced
 * runs, so untraced runs carry no listener.
 */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val stageLayer = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val stats = mutable.Map[String, LayerStats]()
  val spans = mutable.ArrayBuffer[Span]()
  @volatile private var current: String = null

  def attach(): Unit = { sc.addSparkListener(this); spark.listenerManager.register(this) }

  def detach(): Unit = {
    ListenerBusDrain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Forget everything recorded so far (called before each traced op). */
  def reset(): Unit = stats.synchronized { stats.clear(); spans.clear() }

  def layer(name: String): LayerStats =
    stats.synchronized(stats.getOrElseUpdate(name, new LayerStats))

  def layers: Map[String, LayerStats] = stats.synchronized(stats.toMap)

  /** Run `f` as layer `name`; the wall excludes draining the listener bus. */
  def span[A](name: String)(f: => A): (A, Double) = {
    current = name
    sc.setJobGroup(name, name)
    val t0 = System.nanoTime()
    try {
      val r = f
      val wall = (System.nanoTime() - t0) / 1e9
      spans += Span(name, wall)
      (r, wall)
    } finally {
      ListenerBusDrain(sc)
      sc.clearJobGroup()
      current = null
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.foreach { g =>
      layer(g).jobs += 1
      e.stageIds.foreach(stageLayer.put(_, g))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageLayer.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) {
      val s = layer(g)
      val info = e.taskInfo
      val gettingResult =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      s.tasks += 1
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      s.spillBytes += m.diskBytesSpilled
      s.taskRunMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += m.executorRunTime
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val g = current
    if (g != null) layer(g).candidates += Tracer.bandJoinRows(qe.executedPlan)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {
  /** Columns the program's band joins key on: the packed `bkey` of
    * BandJoin/BandJoin64 and the (band_idx, band_val) key of BandIndex. */
  private val BandKeys = Set("bkey", "band_val")

  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case other => other.children ++ other.innerChildren.collect { case c: SparkPlan => c }
    }
    p +: kids.flatMap(nodes)
  }

  /** Output rows of every inner join keyed on a band column — the
    * candidate pairs the band join produced before Hamming verification. */
  def bandJoinRows(plan: SparkPlan): Long = nodes(plan).collect {
    case j: BaseJoinExec if j.joinType == Inner &&
        (j.leftKeys ++ j.rightKeys).exists(_.references.exists(a => BandKeys(a.name))) =>
      j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
  }.sum
}
