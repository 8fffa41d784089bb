package dedupbench

import java.io.File
import java.nio.file.{Files, Path}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

object Files2 {
  /** Total bytes of the regular files under `dir` (0 if absent). */
  def du(dir: String): Long = {
    val root = new File(dir)
    if (!root.exists()) 0L
    else {
      val walk = Files.walk(root.toPath)
      try {
        var total = 0L
        walk.forEach((p: Path) => if (Files.isRegularFile(p)) total += Files.size(p))
        total
      } finally walk.close()
    }
  }

  /** Bytes of the regular files under `dir` modified at or after `sinceMs`. */
  def writtenSince(dir: String, sinceMs: Long): Long = {
    val walk = Files.walk(new File(dir).toPath)
    try {
      var total = 0L
      walk.forEach((p: Path) =>
        if (Files.isRegularFile(p) && Files.getLastModifiedTime(p).toMillis >= sinceMs)
          total += Files.size(p))
      total
    } finally walk.close()
  }

  def delete(dir: String): Unit = {
    val f = new File(dir)
    if (f.exists()) new scala.reflect.io.Directory(f).deleteRecursively()
  }
}

/** Minimal JSON writer for the result lines (numbers, strings, maps, seqs). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
      java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
