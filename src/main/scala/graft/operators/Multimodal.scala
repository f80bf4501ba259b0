package graft.operators

import java.awt.image.BufferedImage

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, processed per-partition in
  * batches.
  *
  * Container-header parsing is REAL: PNG (IHDR), JPEG (SOF marker walk),
  * GIF (logical screen descriptor) and WAV (RIFF fmt/data chunks) are
  * decoded directly from bytes. Full pixel/sample decode is ALSO real
  * for the JDK-built-in codecs — [[decodeImage]] (javax.imageio:
  * PNG/GIF/BMP, exact channel sums + Rec.709 luma), [[downsamplePixels]]
  * (deterministic box-filter resize), [[decodeAudio]]
  * (javax.sound.sampled: WAV PCM to exact integer stats). Out of scope:
  * video containers, compressed audio, and JPEG in value-pinned gates
  * (decoder-version-dependent IDCT) — see SANDBOX.md §3. Unknown formats
  * fall back to deterministic fake features so the pipeline shape stays
  * testable on text fixtures.
  *
  * At 100 TB: payload columns stay off the shuffle path (metadata-only
  * projections are pushed to the scan; parquet column pruning skips the
  * blobs entirely when untouched), and decode runs mapPartitions-batched
  * so per-record codec setup amortizes.
  */
object Multimodal {

  final case class MediaRecord(doc_id: Long, content: Array[Byte])
  final case class MediaFeatures(
      doc_id: Long, n_bytes: Long, content_hash: String,
      format: String, width: Int, height: Int, n_frames: Long)

  /** Binary payload column from any source column (here: text bytes —
    * the fixtures carry no real media; the pipeline shape is identical).
    */
  def asBinary(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("doc_id"),
      col(payloadCol).cast("binary").as("content"))

  // ---- container-header probes (pure byte arithmetic, no codecs) ----

  private def be16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
  private def be32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
      ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xffL)) | ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)

  /** PNG: 8-byte signature, then the IHDR chunk's width/height at fixed
    * offsets 16/20 (big-endian) — the first chunk is IHDR by spec.
    */
  private def probePng(b: Array[Byte]): Option[(String, Int, Int, Long)] =
    if (b.length >= 24 && (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' &&
      b(3) == 'G' && (b(4) & 0xff) == 0x0d && (b(5) & 0xff) == 0x0a &&
      (b(6) & 0xff) == 0x1a && (b(7) & 0xff) == 0x0a)
      Some(("png", be32(b, 16), be32(b, 20), 1L))
    else None

  /** JPEG: walk FF-marker segments from SOI until a SOFn frame header
    * (C0-CF except C4/C8/CC) — height/width are big-endian at +5/+7
    * inside the SOF payload. Entropy-coded data never starts before SOS,
    * so the walk touches only segment headers.
    */
  private def probeJpeg(b: Array[Byte]): Option[(String, Int, Int, Long)] = {
    if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return None
    var i = 2
    while (i + 3 < b.length && (b(i) & 0xff) == 0xff) {
      val m = b(i + 1) & 0xff
      if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc) {
        if (i + 8 < b.length)
          return Some(("jpeg", be16(b, i + 7), be16(b, i + 5), 1L))
        else return None
      }
      if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7)) i += 2        // no-payload markers
      else if (m == 0xda) return None                           // SOS before any SOF
      else i += 2 + be16(b, i + 2)
    }
    None
  }

  /** GIF: logical-screen width/height little-endian at 6/8; frames =
    * image-descriptor count is not derivable without a block walk, so
    * report the screen as one frame (animation frame counting needs the
    * full block chain — out of header-probe scope).
    */
  private def probeGif(b: Array[Byte]): Option[(String, Int, Int, Long)] =
    if (b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a')
      Some(("gif", le16(b, 6), le16(b, 8), 1L))
    else None

  /** WAV: RIFF/WAVE chunk walk — from `fmt ` read channels + bits per
    * sample + block align, from `data` the payload size; sample frames =
    * dataSize / blockAlign. Maps onto the feature schema as
    * (width=channels, height=bitsPerSample, n_frames=sample frames).
    */
  private def probeWav(b: Array[Byte]): Option[(String, Int, Int, Long)] = {
    if (b.length < 44 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F' ||
      b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E') return None
    // Long cursor: chunk sizes are unsigned 32-bit, so an Int advance can
    // wrap to zero (infinite loop) or negative (AIOOBE) on sizes >= 2^31.
    var i = 12L
    var channels = 0; var bits = 0; var blockAlign = 0; var dataSize = -1L
    while (i + 8 <= b.length && (channels == 0 || dataSize < 0)) {
      val at = i.toInt
      val id = new String(b.slice(at, at + 4), "US-ASCII")
      val sz = le32(b, at + 4)
      if (id == "fmt " && at + 24 <= b.length) {
        channels = le16(b, at + 10)
        blockAlign = le16(b, at + 20)
        bits = le16(b, at + 22)
      } else if (id == "data") dataSize = sz
      i += 8L + sz + (sz & 1L) // chunks are word-aligned
    }
    if (channels > 0 && blockAlign > 0 && dataSize >= 0)
      Some(("wav", channels, bits, dataSize / blockAlign))
    else None
  }

  /** FLAC: "fLaC" magic + STREAMINFO metadata block — channels (3 bits),
    * bits per sample (5 bits) and the 36-bit total-sample count unpack
    * from the bit-packed 8 bytes at STREAMINFO offset 10. Mapped as
    * (width=channels, height=bitsPerSample, n_frames=total samples),
    * matching the WAV convention.
    */
  private def probeFlac(b: Array[Byte]): Option[(String, Int, Int, Long)] =
    if (b.length >= 26 && b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C' &&
      (b(4) & 0x7f) == 0) { // first metadata block must be STREAMINFO
      val s = 8 + 10 // streaminfo payload + fixed fields before the packed word
      if (b.length < s + 8) None
      else {
        var packed = 0L
        var i = 0
        while (i < 8) { packed = (packed << 8) | (b(s + i) & 0xffL); i += 1 }
        val channels = ((packed >>> 41) & 0x7L).toInt + 1
        val bits     = ((packed >>> 36) & 0x1fL).toInt + 1
        val total    = packed & 0xfffffffffL
        Some(("flac", channels, bits, total))
      }
    } else None

  /** WebP (VP8X extended format): RIFF/WEBP container, canvas size as
    * minus-one 24-bit little-endian fields in the VP8X chunk.
    */
  private def probeWebp(b: Array[Byte]): Option[(String, Int, Int, Long)] =
    if (b.length >= 30 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'E' && b(10) == 'B' && b(11) == 'P' &&
      b(12) == 'V' && b(13) == 'P' && b(14) == '8' && b(15) == 'X')
      Some(("webp",
        1 + ((b(24) & 0xff) | ((b(25) & 0xff) << 8) | ((b(26) & 0xff) << 16)),
        1 + ((b(27) & 0xff) | ((b(28) & 0xff) << 8) | ((b(29) & 0xff) << 16)),
        1L))
    else None

  /** MP4 / ISO-BMFF: recursive box walk (size + fourcc framing) into
    * moov → mvhd (timescale + duration → milliseconds) and moov → trak →
    * tkhd (track width/height as 16.16 fixed point). Pure container
    * metadata — no codec touches the sample data. n_frames carries the
    * duration in ms (frame counts live in stbl, beyond header scope).
    */
  private def probeMp4(b: Array[Byte]): Option[(String, Int, Int, Long)] = {
    if (b.length < 12) return None
    val ft = new String(b.slice(4, 8), "US-ASCII")
    if (ft != "ftyp") return None

    def findBox(ty: String, from: Int, until: Int): Option[(Int, Int)] = {
      var i = from
      while (i + 8 <= until) {
        val sz = be32(b, i)
        // Long guard: i + sz can overflow Int for sz near 2^31, slipping
        // past the bounds check and walking to a negative index.
        if (sz < 8 || i.toLong + sz > until) return None
        if (new String(b.slice(i + 4, i + 8), "US-ASCII") == ty)
          return Some((i + 8, i + sz))
        i += sz
      }
      None
    }
    for {
      (moovS, moovE) <- findBox("moov", 0, b.length)
      (mvhdS, _)     <- findBox("mvhd", moovS, moovE)
      (trakS, trakE) <- findBox("trak", moovS, moovE)
      (tkhdS, tkhdE) <- findBox("tkhd", trakS, trakE)
      if b(mvhdS) == 0 && b(tkhdS) == 0 // version-0 layouts only
      if mvhdS + 20 <= b.length && tkhdE >= tkhdS + 84
    } yield {
      val timescale = be32(b, mvhdS + 12).toLong & 0xffffffffL
      val duration  = be32(b, mvhdS + 16).toLong & 0xffffffffL
      val w = be32(b, tkhdE - 8) >>> 16 // 16.16 fixed
      val h = be32(b, tkhdE - 4) >>> 16
      val ms = if (timescale == 0) 0L else duration * 1000L / timescale
      ("mp4", w, h, ms)
    }
  }

  /** Header probe: (format, width, height, n_frames) for recognized
    * containers; None for anything else. For mp4 the n_frames slot
    * carries duration in milliseconds.
    */
  private[operators] def probe(bytes: Array[Byte]): Option[(String, Int, Int, Long)] =
    try
      probePng(bytes).orElse(probeJpeg(bytes)).orElse(probeGif(bytes))
        .orElse(probeWav(bytes)).orElse(probeWebp(bytes)).orElse(probeFlac(bytes))
        .orElse(probeMp4(bytes))
    catch {
      // A malformed container must characterize as unrecognized, not fail
      // the task — at crawl scale some payloads lie about their framing.
      case _: IndexOutOfBoundsException | _: NegativeArraySizeException => None
    }

  final case class ImageFeatures(
      doc_id: Long, format: String, width: Int, height: Int,
      sum_r: Long, sum_g: Long, sum_b: Long, luma_milli: Long)
  final case class PixelRow(doc_id: Long, x: Int, y: Int, r: Int, g: Int, b: Int)
  final case class AudioFeatures(
      doc_id: Long, channels: Int, sample_rate: Int, n_frames: Long,
      sum_sq: Long, peak_abs: Long)

  // ---- the shared media recipe: one helper per decision ----

  /** The record reader every decoding operator shares: `doc_id` cast to
    * long, a null payload read as empty bytes, and a record whose decode
    * throws dropped (a 100 TB crawl contains garbage; the metadata/probe
    * tier already characterized it). One mapPartitions pass per input,
    * so codec classes load once per executor.
    */
  private def mediaRows[T: Encoder](bin: DataFrame)(
      decode: (Long, Array[Byte]) => IterableOnce[T]): Dataset[T] = {
    val spark = bin.sparkSession
    import spark.implicits._
    bin.select(col("doc_id").cast("long"), col("content")).as[MediaRecord]
      .mapPartitions(_.flatMap { rec =>
        try decode(rec.doc_id, Option(rec.content).getOrElse(Array.emptyByteArray))
        catch { case _: Exception => Iterator.empty }
      })
  }

  /** One encoded payload per id, as `(doc_id, content)` rows. */
  private def encodeRows(spark: SparkSession, ids: DataFrame)(
      encode: Long => Array[Byte]): DataFrame = {
    import spark.implicits._
    ids.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map(id => (id, encode(id))))
      .toDF("doc_id", "content")
  }

  /** JDK `javax.imageio` decode; None when no reader recognizes the bytes. */
  private def readImage(bytes: Array[Byte]): Option[BufferedImage] =
    Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))

  /** Channel sums of the `n` pixels in [x0, x1) × [y0, y1). */
  private final case class RgbSum(r: Long, g: Long, b: Long, n: Long) {
    /** Integer mean of gray = r + g + b (0..765, no lossy luma division). */
    def grayMean: Long = (r + g + b) / n
  }

  private def rgbSum(img: BufferedImage, x0: Int, y0: Int, x1: Int, y1: Int): RgbSum = {
    var (sr, sg, sb) = (0L, 0L, 0L)
    var y = y0
    while (y < y1) {
      var x = x0
      while (x < x1) {
        val p = img.getRGB(x, y)
        sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
        x += 1
      }
      y += 1
    }
    RgbSum(sr, sg, sb, (x1 - x0).toLong * (y1 - y0))
  }

  /** Window f of k floor-division windows over n positions:
    * [f·n div k, (f+1)·n div k). The image grid cells and the audio
    * frames share these boundaries.
    */
  private def window(f: Int, n: Int, k: Int): (Int, Int) =
    ((f.toLong * n / k).toInt, ((f + 1).toLong * n / k).toInt)

  /** Cell gray means of a `gw`×`gh` grid, indexed (gx)(gy). */
  private def gridMeans(img: BufferedImage, gw: Int, gh: Int): Array[Array[Long]] =
    Array.tabulate(gw, gh) { (gx, gy) =>
      val (x0, x1) = window(gx, img.getWidth, gw)
      val (y0, y1) = window(gy, img.getHeight, gh)
      rgbSum(img, x0, y0, x1, y1).grayMean
    }

  /** 64 bits as four 16-bit lanes: lane l = bits 16l..16l+15, bit i of a
    * lane weighted 2^i.
    */
  private def lanes(bit: Int => Boolean): Array[Long] =
    Array.tabulate(4)(l => (0 until 16).map(i => (if (bit(l * 16 + i)) 1L else 0L) << i).sum)

  /** dHash lanes: over the 9×8 grid, bit (gy·8+gx) is set iff
    * cell(gx,gy) > cell(gx+1,gy). None below the grid (<9×8).
    */
  private def dhashLanes(img: BufferedImage): Option[Array[Long]] =
    if (img.getWidth < 9 || img.getHeight < 8) None
    else {
      val c = gridMeans(img, 9, 8)
      Some(lanes(b => c(b % 8)(b / 8) > c(b % 8 + 1)(b / 8)))
    }

  /** aHash lanes: over the 8×8 grid with m = Σcells div 64, bit (ay·8+ax)
    * is set iff cell(ax,ay) > m.
    */
  private def ahashLanes(img: BufferedImage): Array[Long] = {
    val c = gridMeans(img, 8, 8)
    val m = c.flatten.sum / 64
    lanes(b => c(b % 8)(b / 8) > m)
  }

  /** Interleaved 16-bit PCM through the JDK codec (`javax.sound.sampled`):
    * the stream format, every sample in stream order (channels
    * interleaved, no float path) and the payload byte count. None for
    * any other sample size.
    */
  private def pcm16(bytes: Array[Byte])
      : Option[(javax.sound.sampled.AudioFormat, Array[Int], Int)] = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val f = ais.getFormat
    if (f.getSampleSizeInBits != 16) None
    else {
      val all = ais.readAllBytes()
      val le = !f.isBigEndian
      val out = new Array[Int](all.length / 2)
      var i = 0
      while (i < out.length) {
        out(i) =
          (if (le) ((all(2 * i) & 0xff) | (all(2 * i + 1) << 8)).toShort
           else ((all(2 * i + 1) & 0xff) | (all(2 * i) << 8)).toShort).toInt
        i += 1
      }
      Some((f, out, all.length))
    }
  }

  /** Mono 16-bit samples — the canonical corpus tier (transcode happens
    * upstream of this engine); None for multi-channel streams.
    */
  private def monoSamples(bytes: Array[Byte]): Option[Array[Int]] =
    pcm16(bytes).collect { case (f, s, _) if f.getChannels == 1 => s }

  /** (energy Σs², zero crossings, peak |s|) of window f of k over `s`. */
  private def windowStats(s: Array[Int], f: Int, k: Int): (Long, Long, Long) = {
    val (lo, hi) = window(f, s.length, k)
    var (e, z, p) = (0L, 0L, 0L)
    var i = lo
    while (i < hi) {
      val v = s(i).toLong
      e += v * v
      p = p max math.abs(v)
      if (i > lo && ((s(i - 1) < 0) != (s(i) < 0))) z += 1
      i += 1
    }
    (e, z, p)
  }

  /** REAL pixel decode via the JDK's own `javax.imageio` (PNG/GIF/BMP —
    * lossless formats only; JPEG decodes too but its values are
    * decoder-version-dependent, so keep it out of exact gates). One
    * reader per record off a shared per-partition code path, headless,
    * no external codec library. Channel sums and the Rec.709 luma are
    * exact integer arithmetic — engine-independent, oracle-able.
    * Undecodable payloads are dropped.
    */
  def decodeImage(spark: SparkSession, bin: DataFrame): Dataset[ImageFeatures] = {
    import spark.implicits._
    mediaRows(bin) { (id, bytes) =>
      val fmt = probe(bytes).map(_._1).getOrElse("unknown")
      readImage(bytes).map { img =>
        val s = rgbSum(img, 0, 0, img.getWidth, img.getHeight)
        val luma = (2126L * s.r + 7152L * s.g + 722L * s.b) * 1000L / (10000L * s.n)
        ImageFeatures(id, fmt, img.getWidth, img.getHeight, s.r, s.g, s.b, luma)
      }
    }
  }

  /** Deterministic box-filter downsample: each `factor`×`factor` block
    * averages to one pixel with integer division — bit-exact on any
    * engine/JVM (unlike Graphics2D interpolation, which is
    * implementation-defined). Remainder rows and columns that fill no
    * whole block drop. The thumbnail tier of a multimodal pipeline:
    * decode once, emit the reduced pixel grid as ROWS so downstream
    * operators (dedup, embedding) stay relational.
    */
  def downsamplePixels(spark: SparkSession, bin: DataFrame,
      factor: Int): Dataset[PixelRow] = {
    import spark.implicits._
    require(factor >= 1)
    mediaRows(bin) { (id, bytes) =>
      readImage(bytes).iterator.flatMap { img =>
        for {
          by <- Iterator.range(0, img.getHeight / factor)
          bx <- Iterator.range(0, img.getWidth / factor)
        } yield {
          val s = rgbSum(img, bx * factor, by * factor, (bx + 1) * factor, (by + 1) * factor)
          PixelRow(id, bx, by, (s.r / s.n).toInt, (s.g / s.n).toInt, (s.b / s.n).toInt)
        }
      }
    }
  }

  /** REAL PCM decode via the JDK's `javax.sound.sampled` — WAV frames to
    * exact integer statistics (sum of squares and peak over every
    * interleaved sample, n_frames = bytes / frame size), no float path,
    * so the oracle can carry independently-computed expectations.
    * Multi-channel streams are kept; non-16-bit ones drop.
    */
  def decodeAudio(spark: SparkSession, bin: DataFrame): Dataset[AudioFeatures] = {
    import spark.implicits._
    mediaRows(bin) { (id, bytes) =>
      pcm16(bytes).map { case (f, s, nBytes) =>
        var (sumSq, peak) = (0L, 0L)
        s.foreach { v => sumSq += v.toLong * v; peak = peak max math.abs(v.toLong) }
        AudioFeatures(id, f.getChannels, f.getSampleRate.toInt,
          nBytes.toLong / f.getFrameSize, sumSq, peak)
      }
    }
  }

  final case class ImageHash(
      doc_id: Long, width: Int, height: Int,
      d0: Long, d1: Long, d2: Long, d3: Long,
      a0: Long, a1: Long, a2: Long, a3: Long)

  /** Perceptual image fingerprints — dHash (gradient) and aHash (mean)
    * over the REAL JDK decode, all integer arithmetic so a SQL oracle
    * recomputes every bit from the pixel values:
    *
    *  - gray = r + g + b per pixel (0..765 — no lossy luma division);
    *  - dHash: a 9×8 grid of cell means (floor-division boundaries
    *    `gx·W div 9`, cell mean = sum div count); bit (gy·8+gx) is set
    *    iff cell(gx,gy) > cell(gx+1,gy) — 64 bits of horizontal
    *    gradient signs, the classic difference hash;
    *  - aHash: an 8×8 grid of cell means, global mean m = Σcells div 64;
    *    bit (ay·8+ax) set iff cell > m.
    *
    * Both hashes are emitted as FOUR 16-bit lanes (`d0..d3`/`a0..a3`,
    * lane l = bits 16l..16l+15, bit i of a lane weighted 2^i) — the
    * minhash-signature convention: lanes are non-negative everywhere
    * (no sign-bit hazards in either engine), band-blockable directly,
    * and Hamming distance is Σ bit_count(xor(lane)) per lane. Global
    * brightness shifts leave both hashes unchanged (all cells move
    * together; both comparators are relative) — the invariance that
    * makes these PERCEPTUAL rather than cryptographic. Undecodable or
    * sub-grid (<9×8) payloads are dropped, like [[decodeImage]].
    *
    * At 100 TB: a pure mapPartitions projection (decode amortized per
    * partition, no shuffle); downstream near-dup blocking joins on the
    * 16-bit lanes ([[graft.operators.Dedup.bandedHammingPairs]]), so
    * pair cost follows band collisions, never corpus².
    */
  def imageHashes(spark: SparkSession, bin: DataFrame): Dataset[ImageHash] = {
    import spark.implicits._
    mediaRows(bin) { (id, bytes) =>
      for { img <- readImage(bytes); d <- dhashLanes(img) } yield {
        val a = ahashLanes(img)
        ImageHash(id, img.getWidth, img.getHeight,
          d(0), d(1), d(2), d(3), a(0), a(1), a(2), a(3))
      }
    }
  }

  /** Deterministic PNG encode of a formula-defined grayscale image —
    * the fixture side of the image-dedup differential (the fixtures
    * carry no media, SANDBOX.md §3): pixel (x,y) gets r=g=b=`gv(x,y)`,
    * encoded through the JDK's own lossless PNG writer, so the decode →
    * hash path downstream runs the REAL codec end-to-end while an
    * oracle recomputes the expected pixels from the same formula.
    */
  def encodePng(spark: SparkSession, ids: DataFrame,
      gv: (Long, Int, Int) => Int, w: Int, h: Int): DataFrame =
    encodeRows(spark, ids) { id =>
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = gv(id, x, y) & 0xff
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
          x += 1
        }
        y += 1
      }
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }

  final case class VideoFrameHash(
      doc_id: Long, frame_idx: Int, n_frames: Int,
      d0: Long, d1: Long, d2: Long, d3: Long)

  /** Video frame sampling over the REAL JDK animated-GIF codec: every
    * `every`-th stored frame (0, every, 2·every, …) decodes through
    * `javax.imageio`'s GIF reader and emits the dHash lanes of
    * [[imageHashes]] — the keyframe tier a video near-dup pipeline
    * compares. Clips are full-frame GIFs (the writer below emits them;
    * delta-coded animations are out of scope like the other exotic
    * containers, SANDBOX.md §3); undecodable payloads and sub-grid
    * frames drop.
    *
    * At 100 TB: one mapPartitions projection (reader instantiated per
    * record but codec classes load once per executor); only the
    * sampled frames decode — seek cost follows `every`, not clip
    * length. Downstream, clip signatures (sampled-frame lanes pivoted
    * wide) ride [[graft.operators.Dedup.bandedHammingPairs]]: with s
    * sampled frames the clip has 4s 16-bit lanes, pigeonhole-exact for
    * maxDist < 4s.
    */
  def videoFrameSample(spark: SparkSession, bin: DataFrame,
      every: Int): Dataset[VideoFrameHash] = {
    import spark.implicits._
    mediaRows(bin) { (id, bytes) =>
      val rdr = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
      rdr.setInput(javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes)))
      val n = rdr.getNumImages(true)
      val out = (0 until n by every).flatMap { f =>
        Option(rdr.read(f)).flatMap(dhashLanes).map(l =>
          VideoFrameHash(id, f, n, l(0), l(1), l(2), l(3)))
      }
      rdr.dispose()
      out
    }
  }

  /** Clip signature: sampled-frame dHash lanes pivoted wide — one row
    * per clip with 4·|sampleIdxs| lane columns (`l0..`), ready for
    * [[graft.operators.Dedup.bandedHammingPairs]]. Clips missing ANY
    * of the sampled frames drop (a signature must cover the same
    * positions to be comparable). Pure groupBy/pivot relational logic
    * — one shuffle on doc_id, no UDFs.
    */
  def clipLanes(frameHashes: DataFrame, sampleIdxs: Seq[Int]): DataFrame = {
    val laneExprs = sampleIdxs.zipWithIndex.flatMap { case (fi, s) =>
      Seq("d0", "d1", "d2", "d3").zipWithIndex.map { case (d, j) =>
        max(when(col("frame_idx") === fi, col(d))).as(s"l${s * 4 + j}")
      }
    }
    val present = count(when(col("frame_idx").isin(sampleIdxs: _*),
      lit(1))).as("np")
    frameHashes.groupBy("doc_id")
      .agg(present, laneExprs: _*)
      .where(col("np") === sampleIdxs.size)
      .drop("np")
  }

  /** Deterministic grayscale animated-GIF encode of a formula-defined
    * clip — [[encodePng]]'s video twin: frame f's pixel (x,y) gets
    * gray `gv(id, f, x, y)`, written as full frames through the JDK's
    * own GIF sequence writer (lossless for 256-level gray, probed),
    * so the frame-sample path downstream runs the real codec.
    */
  def encodeGifAnim(spark: SparkSession, ids: DataFrame,
      gv: (Long, Int, Int, Int) => Int, w: Int, h: Int,
      frames: Int): DataFrame =
    encodeRows(spark, ids) { id =>
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      val baos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < frames) {
        val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            img.getRaster().setSample(x, y, 0, gv(id, f, x, y) & 0xff)
            x += 1
          }
          y += 1
        }
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
        f += 1
      }
      writer.endWriteSequence()
      ios.close()
      writer.dispose()
      baos.toByteArray
    }

  final case class AudioFrame(
      doc_id: Long, frame: Int, energy: Long, zc: Long, peak: Long)

  final case class AudioHash(
      doc_id: Long, n_samples: Long, f0: Long, f1: Long, f2: Long, f3: Long)

  /** Frame-level audio features over the real mono 16-bit PCM decode —
    * the audio analogue of [[downsamplePixels]]: the clip is cut into
    * `frames` equal windows by the same floor-division boundaries the
    * image grids use (frame f = samples [f·n div frames, (f+1)·n div
    * frames)), and each window emits exact integer statistics:
    *
    *  - energy: Σ s² over the window (long, no float path);
    *  - zc: zero crossings — count of interior sample pairs (i−1, i)
    *    whose signs differ (0 counts as non-negative), the classic
    *    voiced/unvoiced and silence discriminator;
    *  - peak: max |s|, the clipping/silence gate.
    *
    * Undecodable, non-16-bit and multi-channel payloads drop, and so do
    * clips shorter than `frames` samples (no window would own a sample),
    * like [[imageHashes]]'s sub-grid drop. At 100 TB this is a pure
    * mapPartitions projection — decode amortizes per partition and
    * nothing shuffles; downstream silence-trim / quality gates filter on
    * the frame rows before any payload moves again.
    */
  def audioFrames(spark: SparkSession, bin: DataFrame,
      frames: Int): Dataset[AudioFrame] = {
    import spark.implicits._
    mediaRows(bin) { (id, bytes) =>
      monoSamples(bytes).filter(_.length >= frames).iterator.flatMap { s =>
        (0 until frames).iterator.map { f =>
          val (e, z, p) = windowStats(s, f, frames)
          AudioFrame(id, f, e, z, p)
        }
      }
    }
  }

  /** Perceptual audio fingerprint — the [[imageHashes]] recipe on the
    * time axis: 65 equal windows (floor-division boundaries) yield 65
    * exact frame energies e₀..e₆₄; bit b (0..63) is set iff
    * e(b) > e(b+1) — 64 bits of temporal energy-gradient signs, the
    * energy-delta hash. Emitted as FOUR 16-bit lanes (`f0..f3`, the
    * minhash-lane convention: non-negative in any engine,
    * band-blockable, Hamming = Σ per-lane bit_count(xor)).
    *
    * Uniform integer gain g scales EVERY window energy by exactly g²,
    * so the relative comparator — and therefore the fingerprint — is
    * unchanged: gain-normalized copies (the dominant audio near-dup
    * class) land at Hamming distance 0. Undecodable, non-16-bit,
    * multi-channel, or sub-65-sample payloads drop.
    *
    * At 100 TB: one shuffle-free mapPartitions projection; near-dup
    * blocking joins the 16-bit lanes through
    * [[graft.operators.Dedup.bandedHammingPairs]] (pigeonhole-exact at
    * maxDist < 4, hub-star valve on degenerate buckets), so pair cost
    * follows band collisions, never corpus².
    */
  def audioFingerprint(spark: SparkSession,
      bin: DataFrame): Dataset[AudioHash] = {
    import spark.implicits._
    val windows = 65
    mediaRows(bin) { (id, bytes) =>
      monoSamples(bytes).filter(_.length >= windows).map { s =>
        val e = Array.tabulate(windows)(f => windowStats(s, f, windows)._1)
        val h = lanes(b => e(b) > e(b + 1))
        AudioHash(id, s.length.toLong, h(0), h(1), h(2), h(3))
      }
    }
  }

  /** Deterministic 16-bit mono PCM WAV encode of a formula-defined
    * waveform — [[encodePng]]'s audio twin (the fixtures carry no
    * media, SANDBOX.md §3): sample i of doc `id` is `sv(id, i)`
    * (clamped to short), written as a canonical 44-byte RIFF/WAVE
    * header + little-endian data chunk, so the decode → feature path
    * downstream runs the REAL `javax.sound.sampled` codec end-to-end
    * while an oracle recomputes expected samples from the formula.
    */
  def encodeWav(spark: SparkSession, ids: DataFrame,
      sv: (Long, Int) => Int, sampleRate: Int, n: Int): DataFrame =
    encodeRows(spark, ids) { id =>
      val dataSize = n * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1) // PCM, mono
        .putInt(sampleRate).putInt(sampleRate * 2)
        .putShort(2).putShort(16) // block align, bits
        .put("data".getBytes("US-ASCII")).putInt(dataSize)
      var i = 0
      while (i < n) {
        bb.putShort((sv(id, i) max Short.MinValue.toInt
          min Short.MaxValue.toInt).toShort)
        i += 1
      }
      bb.array()
    }

  /** Batched per-partition feature extraction. Recognized containers get
    * REAL header-parsed dimensions/sample counts (full pixel/sample
    * decode lives in [[decodeImage]]/[[decodeAudio]]); unknown payloads
    * (the text fixtures) take the deterministic fallback. One digest
    * instance per partition, the same amortization a codec handle needs;
    * no record drops, so this operator keeps its own pass rather than
    * the shared record reader.
    */
  def decodeFeatures(spark: SparkSession, bin: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    bin.select(col("doc_id").cast("long"), col("content")).as[MediaRecord]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { r =>
          val bytes = Option(r.content).getOrElse(Array.emptyByteArray)
          val hash  = md.digest(bytes).map("%02x".format(_)).mkString
          probe(bytes) match {
            case Some((fmt, w, h, frames)) =>
              MediaFeatures(r.doc_id, bytes.length.toLong, hash, fmt, w, h, frames)
            case None =>
              // non-media fallback: real decode lives in decodeImage /
              // decodeAudio (JDK codecs); deterministic fake dims keep
              // the pipeline testable on text payloads.
              MediaFeatures(r.doc_id, bytes.length.toLong, hash, "unknown",
                width = (bytes.length % 640) + 1,
                height = (bytes.length % 480) + 1,
                n_frames = bytes.length / 1000 + 1)
          }
        }
      }
  }
}
