package graft.operators

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import javax.imageio.ImageIO

import graft.SparkSpec

/** The media operators on sizes that do NOT divide evenly: image grids
  * whose cells differ in width and height (13×11, 9×8 under the 8×8
  * aHash grid), a box-filter downsample that drops remainder rows and
  * columns, and audio windows over a sample count no window count
  * divides. Every value is recomputed on the driver from the pixel or
  * sample formula, so a shifted floor-division boundary shows here
  * before it shows in the evenly-sized q573–q575 / q620–q629 oracles.
  */
class MediaRemainderSpec extends SparkSpec {

  /** Colour pixel formula: distinct r, g and b, so channel sums are
    * checked channel by channel.
    */
  private def rgbAt(id: Long, x: Int, y: Int): (Int, Int, Int) =
    (((id * 7 + x * 29 + y * 13) % 256).toInt,
      ((id + x * x * 3 + y * 17) % 256).toInt,
      ((2 * id + x * 11 + y * y * 5) % 256).toInt)

  private def png(id: Long, w: Int, h: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = rgbAt(id, x, y)
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    out.toByteArray
  }

  // (doc_id, width, height): two hashable sizes and one below the 9×8 grid
  private val sizes = Seq((1L, 13, 11), (2L, 9, 8), (3L, 10, 7))

  private def images = {
    val s = spark
    import s.implicits._
    sizes.map { case (id, w, h) => (id, png(id, w, h)) }.toDF("doc_id", "content")
  }

  /** Gray mean of cell (gx, gy) of a gw×gh grid: the cell covers
    * [gx·w div gw, (gx+1)·w div gw) × [gy·h div gh, (gy+1)·h div gh).
    */
  private def cellMean(gray: (Int, Int) => Long, w: Int, h: Int, gw: Int, gh: Int)(
      gx: Int, gy: Int): Long = {
    val px = for {
      x <- gx * w / gw until (gx + 1) * w / gw
      y <- gy * h / gh until (gy + 1) * h / gh
    } yield gray(x, y)
    px.sum / px.size
  }

  private def lanesOf(bit: Int => Boolean): Seq[Long] =
    (0 until 4).map(l => (0 until 16).foldLeft(0L)((acc, i) =>
      if (bit(l * 16 + i)) acc | (1L << i) else acc))

  private def dhash(gray: (Int, Int) => Long, w: Int, h: Int): Seq[Long] = {
    val c = cellMean(gray, w, h, 9, 8) _
    lanesOf(b => c(b % 8, b / 8) > c(b % 8 + 1, b / 8))
  }

  private def ahash(gray: (Int, Int) => Long, w: Int, h: Int): Seq[Long] = {
    val c = cellMean(gray, w, h, 8, 8) _
    val m = (for (y <- 0 until 8; x <- 0 until 8) yield c(x, y)).sum / 64
    lanesOf(b => c(b % 8, b / 8) > m)
  }

  test("imageHashes d and a lanes on 13×11 and 9×8 images == driver recompute") {
    val got = Multimodal.imageHashes(spark, images).collect()
      .map(r => (r.doc_id, r.width, r.height,
        Seq(r.d0, r.d1, r.d2, r.d3), Seq(r.a0, r.a1, r.a2, r.a3)))
      .sortBy(_._1).toSeq
    val want = sizes.filter(_._3 >= 8).map { case (id, w, h) =>
      val gray: (Int, Int) => Long = (x, y) => {
        val (r, g, b) = rgbAt(id, x, y); (r + g + b).toLong
      }
      (id, w, h, dhash(gray, w, h), ahash(gray, w, h))
    }
    assert(got == want, s"uneven-grid hashes must match the formula:\n$got\n$want")
  }

  test("decodeImage sums on uneven sizes == driver recompute") {
    val got = Multimodal.decodeImage(spark, images).collect()
      .map(r => (r.doc_id, r.format, r.width, r.height, r.sum_r, r.sum_g, r.sum_b, r.luma_milli))
      .sortBy(_._1).toSeq
    val want = sizes.map { case (id, w, h) =>
      val px = for (y <- 0 until h; x <- 0 until w) yield rgbAt(id, x, y)
      val (sr, sg, sb) = (px.map(_._1.toLong).sum, px.map(_._2.toLong).sum, px.map(_._3.toLong).sum)
      (id, "png", w, h, sr, sg, sb,
        (2126L * sr + 7152L * sg + 722L * sb) * 1000L / (10000L * w * h))
    }
    assert(got == want, s"channel sums must be exact:\n$got\n$want")
  }

  test("downsamplePixels(factor = 3) drops remainder rows and columns") {
    val got = Multimodal.downsamplePixels(spark, images, 3).collect()
      .map(p => (p.doc_id, p.x, p.y, p.r, p.g, p.b)).sorted.toSeq
    val want = (for {
      (id, w, h) <- sizes
      by <- 0 until h / 3; bx <- 0 until w / 3
    } yield {
      val px = for (dy <- 0 until 3; dx <- 0 until 3) yield rgbAt(id, bx * 3 + dx, by * 3 + dy)
      (id, bx, by, px.map(_._1).sum / 9, px.map(_._2).sum / 9, px.map(_._3).sum / 9)
    }).sorted
    // 10×7 keeps a 3×2 block grid: column 9 and row 6 fall in no block
    assert(want.count(_._1 == 3L) == 6)
    assert(got == want, s"box filter must match the formula:\n$got\n$want")
  }

  test("videoFrameSample lanes on a 13×11 clip == driver recompute") {
    val s = spark
    import s.implicits._
    val gv: (Long, Int, Int, Int) => Int = (id, f, x, y) =>
      ((id * 31 + f * 67 + x * 19 + y * y * 7) % 251).toInt
    val bin = Multimodal.encodeGifAnim(s, Seq(4L).toDF("doc_id"), gv, 13, 11, 5)
    val got = Multimodal.videoFrameSample(s, bin, 2).collect()
      .map(v => (v.frame_idx, v.n_frames, Seq(v.d0, v.d1, v.d2, v.d3))).sortBy(_._1).toSeq
    val want = Seq(0, 2, 4).map(f => (f, 5, dhash((x, y) => 3L * gv(4L, f, x, y), 13, 11)))
    assert(got == want, s"uneven-grid frame hashes must match the formula:\n$got\n$want")
  }

  test("audioFrames and audioFingerprint on sample counts no window count divides") {
    val s = spark
    import s.implicits._
    val sv: (Long, Int) => Int = (id, i) =>
      (((id * 131 + (i / 37) * 2654435761L + i * 977L) % 4001L) - 2000L).toInt
    val smp = Array.tabulate(6503)(sv(6L, _))
    def window(f: Int, n: Int, k: Int) = f * n / k until (f + 1) * n / k

    val n = 1303; val frames = 13
    assert(n % frames != 0)
    val bin = Multimodal.encodeWav(s, Seq(6L).toDF("doc_id"), sv, 8000, n)
    val got = Multimodal.audioFrames(s, bin, frames).collect()
      .map(f => (f.doc_id, f.frame, f.energy, f.zc, f.peak)).sortBy(_._2).toSeq
    val want = (0 until frames).map { f =>
      val w = window(f, n, frames)
      (6L, f, w.map(i => smp(i).toLong * smp(i)).sum,
        w.drop(1).count(i => (smp(i - 1) < 0) != (smp(i) < 0)).toLong,
        w.map(i => math.abs(smp(i).toLong)).max)
    }
    assert((0 until frames).map(window(_, n, frames).size).distinct.size > 1)
    assert(got == want, s"uneven windows must match the formula:\n$got\n$want")

    assert(6503 % 65 != 0)
    val fp = Multimodal.audioFingerprint(s,
        Multimodal.encodeWav(s, Seq(6L).toDF("doc_id"), sv, 8000, 6503)).collect()
      .map(h => (h.doc_id, h.n_samples, Seq(h.f0, h.f1, h.f2, h.f3))).toSeq
    val e = (0 until 65).map(f => window(f, 6503, 65).map(i => smp(i).toLong * smp(i)).sum)
    assert(fp == Seq((6L, 6503L, lanesOf(b => e(b) > e(b + 1)))),
      s"uneven-window fingerprint must match the formula: $fp")
  }
}
