package graft

import graft.cc.ConnectedComponents
import org.scalatest.funsuite.AnyFunSuite

/** Distributed CC vs an in-process union-find oracle (the reference's
  * sequential UF, scanner.rs:1781-1807). */
class CcSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(i: Int): Int = {
      var root = i
      while (root != parent(root)) root = parent(root)
      var cur = i
      while (cur != root) { val next = parent(cur); parent(cur) = root; cur = next }
      root
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(ra) = rb
    }
    // canonical component id = min member
    val byRoot = (0 until n).groupBy(find)
    byRoot.flatMap { case (_, members) =>
      val mn = members.min.toLong
      members.map(m => m.toLong -> mn)
    }
  }

  private def check(n: Int, edges: Seq[(Long, Long)]): Unit = {
    import spark.implicits._
    val df = edges.toDF("a", "b")
    val want = unionFind(n, edges)
    val touched = edges.flatMap(e => Seq(e._1, e._2)).toSet
    // both execution paths must agree with the oracle: forced iterative
    // (large-star/small-star) and the adaptive driver union-find
    for (cap <- Seq(0L, Long.MaxValue)) {
      val got = ConnectedComponents.run(spark, df, driverPathMaxEdges = cap)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      for (v <- touched)
        assert(got(v) == want(v), s"cap=$cap node $v: got ${got.get(v)}, want ${want(v)}")
      assert(got.keySet == touched, s"cap=$cap node set mismatch")
    }
  }

  test("chain, star, cycle, disjoint cliques") {
    check(10, Seq((0L, 1L), (1L, 2L), (2L, 3L))) // path
    check(10, Seq((5L, 6L), (5L, 7L), (5L, 8L))) // star
    check(10, Seq((0L, 1L), (1L, 2L), (2L, 0L))) // cycle
    check(12, Seq((0L, 1L), (1L, 2L), (4L, 5L), (5L, 6L), (9L, 10L)))
  }

  test("random graphs match union-find") {
    val r = new java.util.Random(42)
    for (_ <- 0 until 3) {
      val n = 200
      val edges = Seq.fill(120)((r.nextInt(n).toLong, r.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      check(n, edges)
    }
  }

  test("long path converges (log-round guarantee)") {
    val edges = (0L until 63L).map(i => (i, i + 1))
    check(64, edges)
  }

  test("giant guard: components at or above the size are reported, largest first") {
    import spark.implicits._
    // stars of 30 (hub 0) and 12 (hub 100) members plus a pair
    val edges = ((1L until 30L).map(i => (0L, i)) ++
      (101L until 112L).map(i => (100L, i)) :+ ((200L, 201L))).toDF("a", "b")
    for (cap <- Seq(0L, Long.MaxValue)) {
      def giants(size: Long) = ConnectedComponents.runDetailed(spark, edges,
        driverPathMaxEdges = cap, giantWarnSize = size).giants
      assert(giants(12) == Seq((0L, 30L), (100L, 12L)), s"cap=$cap: ${giants(12)}")
      assert(giants(13) == Seq((0L, 30L)), s"cap=$cap: ${giants(13)}")
      assert(giants(31).isEmpty && giants(0).isEmpty, s"cap=$cap: guard misfired")
    }
  }
}
