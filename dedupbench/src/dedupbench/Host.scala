package dedupbench

import graft.functions.MinHash
import graft.kernel.{Exif, ImageCodec, PHash, Pdq, SignatureKernel}
import graft.model.ImageRow
import graft.synth.Synth
import org.apache.spark.sql.DataFrame

import java.security.MessageDigest

/** Single-thread kernel timings: the host canary that lets spread be
  * attributed to the machine, and the per-phase cost of the kernel on a
  * fixed sample of a workload's rows. Neither gates a run. */
object Host {
  def loadavg(): Double =
    scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble

  private def msPerItem[A](items: Seq[A], reps: Int = 3)(f: A => Any): Double = {
    items.foreach(f) // warm
    Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime()
      items.foreach(f)
      (System.nanoTime() - t0) / 1e6 / items.size
    })
  }

  private def imageRow(r: graft.synth.SynthRow) =
    ImageRow(r.image_id, r.bytes, r.w, r.h, r.fmt, r.caption, r.phash)

  /** Fixed, seed-independent rows: the same canary on every run. */
  private lazy val canaryRows = (0L until 8L).flatMap(Synth.rowsForBase).map(imageRow)

  /** Full signature kernel, one thread, ms per image. */
  def canaryMs(): Double = {
    val sha = MessageDigest.getInstance("SHA-256")
    msPerItem(canaryRows)(SignatureKernel.computeOne(_, sha))
  }

  /** ms/img of each kernel phase over the first `n` rows (by image_id). */
  def kernelPhases(images: DataFrame, n: Int = 40): Map[String, Double] = {
    val rows = images.orderBy("image_id").limit(n).collect().toSeq.map { r =>
      ImageRow(r.getAs[String]("image_id"), r.getAs[Array[Byte]]("bytes"), r.getAs[Int]("w"),
        r.getAs[Int]("h"), r.getAs[String]("fmt"), r.getAs[String]("caption"), r.getAs[Long]("phash"))
    }
    val sha = MessageDigest.getInstance("SHA-256")
    val decoded = rows.flatMap(r => ImageCodec.decodeWithStatus(r.bytes, r.fmt, r.w, r.h)._1)
      .filter(d => d.w >= Pdq.MinHashableDim && d.h >= Pdq.MinHashableDim)
    val lumas = decoded.map(d => (d.luma601, d.w, d.h))
    Map(
      "kernel.decode_ms" -> msPerItem(rows)(r => ImageCodec.decodeWithStatus(r.bytes, r.fmt, r.w, r.h)),
      "kernel.pixel_sha_ms" -> msPerItem(decoded) { d => sha.reset(); sha.digest(d.pixelHashBytes) },
      "kernel.luma_ms" -> msPerItem(decoded)(_.luma601),
      "kernel.pdq_ms" -> msPerItem(lumas) { case (l, w, h) =>
        Pdq.dihedralHashes(Pdq.featuresFromLuma(l, w, h)._1).map(Pdq.toLongs)
      },
      "kernel.phash_ms" -> msPerItem(lumas) { case (l, w, h) => PHash.hashGray(l, w, h) },
      "kernel.exif_ms" -> msPerItem(rows) { r =>
        try Exif.fromBytes(r.bytes, r.fmt) catch { case scala.util.control.NonFatal(_) => None }
      },
      "kernel.minhash_ms" -> msPerItem(rows)(r => MinHash.signature(r.caption)))
  }
}
