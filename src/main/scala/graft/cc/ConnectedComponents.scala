package graft.cc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Distributed connected components over the verified duplicate edges —
 * the scale-out replacement for the reference's sequential union-find
 * (scanner.rs:1781-1807, SURVEY.md A1).
 *
 * Alternating large-star / small-star iteration (Kiveris et al.,
 * "Connected Components in MapReduce and Beyond", SoCC'14): converges in
 * O(log n) rounds, each round two shuffles (groupBy min + join), with
 * `localCheckpoint` per round to break lineage growth. Duplicate groups
 * are small, so in practice 3-5 rounds; the iteration bound is a guard.
 *
 *   large-star: every neighbor v > u points to min(N(u) ∪ {u})
 *   small-star: every neighbor v ≤ u (plus u) points to min(N≤(u) ∪ {u})
 *
 * Convergence: the edge multiset is a fixpoint (checked by count +
 * xxhash64 checksum — two cheap aggregates, no expensive EXCEPT).
 */
object ConnectedComponents {
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Components at or above this size are logged loudly. Dup groups are
    * small by construction (they only exist where near-dup edges exist),
    * so a giant component means a misconfigured threshold or a degenerate
    * corpus — the downstream group analytics still complete (they are
    * groupBy-based, never a one-task-per-component window sort), but
    * silently grinding through it would hide the misconfiguration. */
  final val DefaultGiantWarnSize = 1000000L

  /** How many of the largest giant components the guard names. */
  private val MaxGiantsReported = 10

  /** Labels plus execution stats: largeStar/smallStar rounds (0 on the
    * driver path), the deduplicated input edge count, and the giant
    * components as (comp, size), largest first, at most
    * [[MaxGiantsReported]]. */
  final case class Result(labels: DataFrame, rounds: Int, edgesIn: Long,
                          giants: Seq[(Long, Long)])

  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("src"), col("dst"))
      .unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    val mins = sym.groupBy("src").agg(min(col("dst")).as("mnd"))
      .select(col("src"), least(col("mnd"), col("src")).as("mn"))
    sym.join(mins, "src")
      .where(col("dst") > col("src"))
      .select(col("dst").as("src"), col("mn").as("dst"))
      .distinct()
  }

  private def smallStar(e: DataFrame): DataFrame = {
    val oriented = e.select(
      greatest(col("src"), col("dst")).as("src"),
      least(col("src"), col("dst")).as("dst"))
    val grouped = oriented.groupBy("src").agg(min(col("dst")).as("mn"))
    val neighborEdges = oriented.join(grouped, "src")
      .where(col("dst") =!= col("mn"))
      .select(col("dst").as("src"), col("mn").as("dst"))
    val selfEdges = grouped.select(col("src"), col("mn").as("dst"))
    neighborEdges.unionByName(selfEdges).distinct()
  }

  private def checksum(e: DataFrame): (Long, String) = {
    // decimal(38,0) sum: overflow-free under ANSI mode
    val row = e.agg(count(lit(1)),
      sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)"))).head()
    (row.getLong(0), if (row.isNullAt(1)) "0" else row.getDecimal(1).toString)
  }

  /** Edge-count threshold below which the driver union-find path runs:
    * one collect + one parallelize instead of ~10 shuffle rounds. 2M edges
    * ≈ 32 MB on the driver — trivial. The reference's union-find is always
    * driver-side (scanner.rs:1781-1807); the iterative path is what it
    * never needed. */
  final val DriverPathMaxEdges = 2000000L

  /**
   * edges: (a: long, b: long) — undirected, self-loops ignored.
   * Returns (id: long, comp: long) for every node incident to an edge;
   * comp is the minimum node id of the component. Isolated nodes are the
   * caller's concern (they are their own group of size 1 and filtered out
   * by the size>1 rule anyway, scanner.rs:1817).
   *
   * Scale-adaptive: below DriverPathMaxEdges the exact union-find runs on
   * the driver (results identical — comp = min member either way); above
   * it the O(log n)-round large-star/small-star iteration takes over.
   * Components of at least [[DefaultGiantWarnSize]] members are logged:
   * free on the driver path, which holds every component, and one
   * aggregate over the labels on the iterative path.
   */
  def run(spark: SparkSession, edges: DataFrame, maxIter: Int = 30,
          driverPathMaxEdges: Long = DriverPathMaxEdges): DataFrame =
    runDetailed(spark, edges, maxIter, driverPathMaxEdges).labels

  /** Like [[run]], plus (rounds, deduplicated input edge count) for
    * benching/monitoring — see [[Result]]. */
  def runWithStats(spark: SparkSession, edges: DataFrame, maxIter: Int = 30,
                   driverPathMaxEdges: Long = DriverPathMaxEdges)
      : (DataFrame, Int, Long) = {
    val r = runDetailed(spark, edges, maxIter, driverPathMaxEdges)
    (r.labels, r.rounds, r.edgesIn)
  }

  /** [[run]] with every statistic, giant components included; the guard
    * reports components of at least `giantWarnSize` members (0 disables
    * it). */
  def runDetailed(spark: SparkSession, edges: DataFrame, maxIter: Int = 30,
                  driverPathMaxEdges: Long = DriverPathMaxEdges,
                  giantWarnSize: Long = DefaultGiantWarnSize): Result = {
    var e = edges.select(col("a").as("src"), col("b").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint()
    val nEdges = e.count()
    val result =
      if (nEdges <= driverPathMaxEdges) {
        val (labels, giants) = driverUnionFind(spark, e, giantWarnSize)
        Result(labels, 0, nEdges, giants)
      } else {
        var prev = checksum(e)
        var i = 0
        var converged = false
        while (i < maxIter && !converged) {
          e = smallStar(largeStar(e)).localCheckpoint()
          val cur = checksum(e)
          converged = cur == prev
          prev = cur
          i += 1
        }
        require(converged, s"connected components did not converge in $maxIter rounds")
        // fixpoint edges are (node → component-min) stars; add the roots
        val children = e.select(col("src").as("id"), col("dst").as("comp"))
        val roots = e.select(col("dst").as("id"), col("dst").as("comp")).distinct()
        val labels = children.unionByName(roots)
          .groupBy("id").agg(min("comp").as("comp"))
        val giants =
          if (giantWarnSize <= 0) Seq.empty
          else labels.groupBy("comp").agg(count(lit(1)).as("n"))
            .where(col("n") >= giantWarnSize)
            .orderBy(col("n").desc).limit(MaxGiantsReported).collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSeq
        Result(labels, i, nEdges, giants)
      }
    if (result.giants.nonEmpty)
      log.warn("giant components detected (threshold misconfiguration?): " +
        result.giants.map { case (c, n) => s"comp=$c size=$n" }.mkString(", "))
    result
  }

  /** Exact union-find with path halving (scanner.rs:1781-1807 port) over
    * collected edges; comp canonicalized to the min member. Also returns
    * the components of at least `giantWarnSize` members (0 = none). */
  private def driverUnionFind(spark: SparkSession, e: DataFrame,
                              giantWarnSize: Long): (DataFrame, Seq[(Long, Long)]) = {
    import spark.implicits._
    val pairs = e.select(col("src"), col("dst")).as[(Long, Long)].collect()
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrDefault(root, root) != root) root = parent.get(root)
      var cur = x
      while (cur != root) { val next = parent.get(cur); parent.put(cur, root); cur = next }
      root
    }
    pairs.foreach { case (a, b) =>
      parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent.put(ra, rb)
    }
    val nodes = parent.keySet().toArray(new Array[java.lang.Long](0)).map(_.longValue())
    val comps = nodes.groupBy(find).values.map(members => (members.min, members)).toSeq
    val giants =
      if (giantWarnSize <= 0) Seq.empty
      else comps.collect { case (mn, ms) if ms.length >= giantWarnSize => (mn, ms.length.toLong) }
        .sortBy(-_._2).take(MaxGiantsReported)
    val out = comps.flatMap { case (mn, members) => members.iterator.map(m => (m, mn)) }
    // round 6: no trailing repartition — createDataset already spreads the
    // rows over defaultParallelism slices, and the extra exchange was paid
    // by EVERY consumer of a driver-path CC result (guide §2.4: remove
    // shuffles outright)
    (spark.createDataset(out).toDF("id", "comp"), giants)
  }
}
