package dedupbench

import org.apache.spark.sql.DataFrame

/** The fields of a signature row the grouping semantics depend on. */
final case class Sig(ord: Long, id: String, hasPdq: Boolean, low: Boolean,
                     h: Array[Long], vars: Array[Array[Long]], ph: Long, phv: Array[Long])

/** Thrown when a program output fails a check; the run is then reported
  * as incorrect instead of timed. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(ok: Boolean, msg: => String): Unit = if (!ok) throw new CheckFailed(msg)
}

/**
 * Brute-force reference semantics, independent of the program's band
 * joins: every pair is compared directly.
 *
 *  - fuzzy edges: both rows decoded and confident, and the smaller of
 *    "a's 8 dihedral variants vs b's hash" and the reverse is ≤ threshold;
 *  - exact edges (every decoded row, low-confidence ones included): a row
 *    whose variant equals some stored hash links to that hash's hub, the
 *    lowest ord holding it — the star the program builds for dist 0;
 *  - an edge carries the minimum distance over both rules.
 */
object Oracle {
  type Edge = (Long, Long, Int)

  def load(sig: DataFrame): IndexedSeq[Sig] =
    sig.select("ord", "image_id", "has_pdq", "low_conf", "h0", "h1", "h2", "h3",
        "variants", "phash64", "phash_variants").collect().toIndexedSeq.map { r =>
      type S[A] = scala.collection.Seq[A]
      val hasPdq = r.getBoolean(2)
      Sig(r.getLong(0), r.getString(1), hasPdq, r.getBoolean(3),
        Array(r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)),
        if (hasPdq) r.getAs[S[S[Long]]](8).map(_.toArray).toArray else Array.empty,
        r.getLong(9), if (hasPdq) r.getAs[S[Long]](10).toArray else Array.empty)
    }

  private def ham(a: Array[Long], b: Array[Long]): Int = {
    var d = 0; var i = 0
    while (i < a.length) { d += java.lang.Long.bitCount(a(i) ^ b(i)); i += 1 }
    d
  }

  private def minHam(vs: Array[Array[Long]], h: Array[Long]): Int = vs.map(ham(_, h)).min

  /** Reference edge set for "pdq" (256-bit) or "phash" (64-bit). */
  def edges(sigs: IndexedSeq[Sig], algo: String, threshold: Int): Set[Edge] = {
    val hash: Sig => Array[Long] = if (algo == "pdq") _.h else s => Array(s.ph)
    val variants: Sig => Array[Array[Long]] = if (algo == "pdq") _.vars else _.phv.map(Array(_))
    val best = scala.collection.mutable.Map[(Long, Long), Int]()
    def add(x: Long, y: Long, d: Int): Unit = {
      val k = (math.min(x, y), math.max(x, y))
      if (best.get(k).forall(d < _)) best(k) = d
    }
    val decoded = sigs.filter(_.hasPdq)
    val conf = decoded.filter(!_.low)
    val (hs, vs) = (conf.map(hash), conf.map(variants))
    for (i <- conf.indices; j <- i + 1 until conf.size) {
      val d = math.min(minHam(vs(i), hs(j)), minHam(vs(j), hs(i)))
      if (d <= threshold) add(conf(i).ord, conf(j).ord, d)
    }
    val hub = decoded.groupBy(hash(_).toSeq).map { case (k, g) => k -> g.map(_.ord).min }
    for (s <- decoded; v <- variants(s).map(_.toSeq).distinct; h <- hub.get(v) if h != s.ord)
      add(s.ord, h, 0)
    best.iterator.map { case ((x, y), d) => (x, y, d) }.toSet
  }

  /** Components (size > 1) of an edge set, as sets of node ids. */
  def components(edges: Iterable[(Long, Long)]): Set[Set[Long]] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    parent.keys.toSeq.groupBy(find).values.map(_.toSet).filter(_.size > 1).toSet
  }

  /** Variant classes whose members must group with their base (the
    * well-behaved set of the pipeline spec); crop5 and the metadata-only
    * shells are excluded from the recall denominator. */
  val WellBehaved = Set("orig", "exact", "recompress", "resize", "rot90", "rot180",
    "rot270", "fliph", "flipv", "gray-raw", "flat", "flatcopy", "bright", "contrast",
    "tiff16", "rawprev", "pdfwrap", "webp", "webpanim", "qoi", "ffeld", "hdrimg", "ddsimg")

  def pairs(groups: Iterable[Iterable[String]]): Set[(String, String)] =
    groups.iterator.flatMap { g =>
      val ids = g.toSeq.sorted
      for (i <- ids.indices.iterator; j <- (i + 1 until ids.size).iterator)
        yield (ids(i), ids(j))
    }.toSet

  /** (recall, precision) of the grouped pairs against the Synth truth:
    * recall over well-behaved same-base pairs (flat copies form their own
    * family), precision as the share of grouped pairs from one base. */
  def quality(grouped: Set[(String, String)],
              truth: Map[String, (Long, String)]): (Double, Double) = {
    val families = truth.toSeq.filter(t => WellBehaved(t._2._2))
      .groupBy { case (_, (g, v)) => (g, v.startsWith("flat")) }.values.map(_.map(_._1))
    val want = pairs(families)
    Check(want.nonEmpty, "the corpus has no duplicate pairs")
    val recall = want.count(grouped).toDouble / want.size
    val precision =
      if (grouped.isEmpty) 1.0
      else grouped.count { case (a, b) => truth(a)._1 == truth(b)._1 }.toDouble / grouped.size
    (recall, precision)
  }

  /** SHA-256 over sorted lines: identical outputs ⇔ identical prints. */
  def fingerprint(lines: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.toSeq.sorted.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().take(12).map("%02x".format(_)).mkString
  }
}
