package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.kernel.Toolbox.round4

/** Multimodal columns: image/audio/video treated as opaque `BINARY`
  * columns with typed metadata, decoded batch-wise in mapPartitions
  * (the Scala analogue of a Pandas UDF over mapInPandas).
  *
  * Decode tiers:
  *  - REAL, pure JVM: uncompressed 24-bit BMP (hand parser below);
  *  - REAL, JDK codecs: PNG / GIF / JPEG via `javax.imageio` and
  *    WAV PCM via `javax.sound.sampled` — both ship in the JDK's own
  *    `java.desktop` module, zero external jars (the earlier "no codec
  *    libraries in this container" premise was wrong — VERDICT r03);
  *  - REAL, hand-parsed containers + JDK codecs: animated GIF and
  *    MJPEG-in-AVI video (RIFF chunk grammar below, frames JPEG-decoded)
  *    — frame counts, timelines and pixel decode all oracle-checked;
  *  - STUB: INTERFRAME video codecs only (`fakeVideo` — H.264 etc.;
  *    no ffmpeg/javacv here, verified absent); the frame-sampling PLAN
  *    over the parsed metadata is real and oracle-checked, the frame
  *    pixel fetch is the single seam to swap on a real cluster. This
  *    is the ONE remaining fake-header tier — image and audio now run
  *    only real decodes (VERDICT r05 #3 retired their stub queries).
  */
object Multimodal {

  // ImageIO defaults to FILE-backed stream caches: every encode/decode
  // via ImageIO.write/read(InputStream) creates and deletes a temp file
  // on disk. At tens of thousands of tiny images per query that disk
  // round-trip dominates the codec work (guide §1.2 "per-task work") —
  // memory-backed streams produce byte-identical results. Runs once per
  // JVM when the object loads (executors included: the mapPartitions
  // closures reference this object).
  javax.imageio.ImageIO.setUseCache(false)

  // ---- REAL decode path: uncompressed 24-bit BMP (pure JVM) ----
  // The BMP container needs no codec library, so this path decodes REAL
  // pixel data end to end — the declared stub seam now carries one fully
  // real format (compressed codecs remain the seam). The pixel formula
  // is re-derivable in SQL, so the oracle checks the DECODE itself: the
  // query's dimensions and channel means come from parsing the bytes,
  // the oracle's from the generator formula — they agree only if the
  // header parse, bottom-up row order, BGR order and padding are right.

  /** Encode a 24-bit bottom-up BMP (rows padded to 4 bytes). */
  def encodeBmp(width: Int, height: Int,
      rgb: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val rowSize = (width * 3 + 3) / 4 * 4
    val dataSize = rowSize * height
    val fileSize = 54 + dataSize
    val b = java.nio.ByteBuffer.allocate(fileSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte)
    b.putInt(fileSize); b.putInt(0); b.putInt(54)
    b.putInt(40); b.putInt(width); b.putInt(height)
    b.putShort(1); b.putShort(24)
    b.putInt(0); b.putInt(dataSize)
    b.putInt(2835); b.putInt(2835); b.putInt(0); b.putInt(0)
    var y = height - 1 // bottom-up storage
    while (y >= 0) {
      var x = 0
      while (x < width) {
        val (r, g, bl) = rgb(x, y)
        b.put(bl.toByte).put(g.toByte).put(r.toByte)
        x += 1
      }
      var pad = rowSize - width * 3
      while (pad > 0) { b.put(0.toByte); pad -= 1 }
      y -= 1
    }
    b.array()
  }

  /** Decoded BMP: top-down row-major packed 0xRRGGBB pixels. */
  final case class BmpPixels(width: Int, height: Int, pixels: Array[Int])

  /** REAL decode of an uncompressed 24-bit BMP. */
  def decodeBmp(bytes: Array[Byte]): BmpPixels = {
    val b = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(b.get() == 'B'.toByte && b.get() == 'M'.toByte, "not a BMP")
    b.position(10); val dataOffset = b.getInt()
    b.position(18); val width = b.getInt(); val height = b.getInt()
    b.position(28); val bpp = b.getShort()
    require(bpp == 24, s"unsupported bpp $bpp")
    val rowSize = (width * 3 + 3) / 4 * 4
    val px = new Array[Int](width * height)
    var y = 0
    while (y < height) {
      val srcRow = dataOffset + (height - 1 - y) * rowSize
      var x = 0
      while (x < width) {
        val i = srcRow + x * 3
        val bl = bytes(i) & 0xff
        val g = bytes(i + 1) & 0xff
        val r = bytes(i + 2) & 0xff
        px(y * width + x) = (r << 16) | (g << 8) | bl
        x += 1
      }
      y += 1
    }
    BmpPixels(width, height, px)
  }

  /** REAL nearest-neighbor resize over decoded pixels: output (x, y)
    * samples source (x·w÷outW, y·h÷outH) — the standard decimation. */
  def resizeNearest(img: BmpPixels, outW: Int, outH: Int): BmpPixels = {
    val px = new Array[Int](outW * outH)
    var y = 0
    while (y < outH) {
      val sy = y * img.height / outH
      var x = 0
      while (x < outW) {
        val sx = x * img.width / outW
        px(y * outW + x) = img.pixels(sy * img.width + sx)
        x += 1
      }
      y += 1
    }
    BmpPixels(outW, outH, px)
  }

  /** REAL decode → REAL resize → channel means of the RESIZED pixels
    * (fixed outW×outH so the oracle can re-derive the sampled source
    * coordinates). */
  def bmpResizedMeans(df: DataFrame, outW: Int, outH: Int): DataFrame =
    decodedMeans(df, "bmp", decodeBmp, Some((outW, outH)))

  /** The one decode → optional nearest resize → channel means pass:
    * (img_id, width/height — out_w/out_h when resized — mean_r, mean_g,
    * mean_b), means rounded to 4. One narrow mapPartitions pass. */
  private def decodedMeans(df: DataFrame, imgCol: String,
      decode: Array[Byte] => BmpPixels, resize: Option[(Int, Int)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (wName, hName) = if (resize.isEmpty) ("width", "height") else ("out_w", "out_h")
    df.select(col("img_id").cast("long"), col(imgCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val d0 = decode(bytes)
        meansRow(id, resize.fold(d0) { case (w, h) => resizeNearest(d0, w, h) })
      })
      .toDF("img_id", wName, hName, "mean_r", "mean_g", "mean_b")
  }

  /** (id, width, height, mean_r, mean_g, mean_b), means rounded to 4. */
  private def meansRow(id: Long, d: BmpPixels) = {
    val (mr, mg, mb) = channelMeans(d)
    (id, d.width, d.height, round4(mr), round4(mg), round4(mb))
  }

  /** The shared deterministic pixel formula: pixel (x, y) of image id =
    * ((x·7 + y·13 + id) % 256, (x·3 + y·5 + 2id) % 256,
    *  (x·11 + y + 3id) % 256) — what every decode oracle re-derives. */
  def formulaRgb(id: Long): (Int, Int) => (Int, Int, Int) = (x, y) => (
    ((x * 7 + y * 13 + id) % 256).toInt,
    ((x * 3 + y * 5 + 2 * id) % 256).toInt,
    ((x * 11 + y + 3 * id) % 256).toInt)

  /** Deterministic BMP corpus: image id has w = 4 + id%5, h = 3 + id%4
    * and the formulaRgb pixels. */
  def bmpImages(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, 32).map { id =>
      val w = (4 + id % 5).toInt
      val h = (3 + id % 4).toInt
      (id, encodeBmp(w, h, formulaRgb(id)))
    }.toDF("img_id", "bmp")
  }

  /** REAL decode → per-channel means: dimensions and means computed
    * from the PARSED pixels (one narrow mapPartitions pass). */
  def bmpChannelMeans(df: DataFrame): DataFrame =
    decodedMeans(df, "bmp", decodeBmp, None)

  // ---- REAL compressed codecs via the JDK (javax.imageio) ----
  // PNG and GIF round-trip LOSSLESSLY (GIF: the ≤48-pixel formula images
  // never exceed its 256-color palette), so their channel-mean queries
  // sit under the same exact formula oracle as BMP — header parse,
  // inflate/LZW decode, palette lookup and row order all checked. JPEG
  // is lossy: its query reports decoded dimensions (exact under oracle)
  // plus per-channel |decoded mean − formula mean| < tol booleans the
  // oracle expects true (measured worst error 1.46 at tol 3.0); the
  // tight error bound is additionally pinned in OpsSpec.

  /** Encode a formula image with a JDK codec ("png" | "gif" | "jpg"). */
  def encodeJdk(width: Int, height: Int, fmt: String,
      rgb: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(formulaImage(width, height, rgb), fmt, bos),
      s"no JDK writer for $fmt")
    bos.toByteArray
  }

  /** A formula image's pixels: top-down packed 0xRRGGBB. */
  private def formulaPixels(width: Int, height: Int,
      rgb: (Int, Int) => (Int, Int, Int)): BmpPixels = {
    val buf = new Array[Int](width * height)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val (r, g, b) = rgb(x, y)
        buf(y * width + x) = (r << 16) | (g << 8) | b
        x += 1
      }
      y += 1
    }
    BmpPixels(width, height, buf)
  }

  /** A formula image as a TYPE_INT_RGB image, filled by one bulk setRGB
    * (one array store per pixel instead of a per-pixel ColorModel call
    * — identical values). */
  private def formulaImage(width: Int, height: Int,
      rgb: (Int, Int) => (Int, Int, Int)): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, width, height, formulaPixels(width, height, rgb).pixels, 0, width)
    img
  }

  /** A decoded image's pixels: bulk getRGB (one ColorModel pass), alpha
    * masked off — top-down packed 0xRRGGBB. */
  private def pixelsOf(img: java.awt.image.BufferedImage): BmpPixels = {
    val w = img.getWidth
    val h = img.getHeight
    val px = img.getRGB(0, 0, w, h, null, 0, w)
    var i = 0
    while (i < px.length) { px(i) = px(i) & 0xffffff; i += 1 }
    BmpPixels(w, h, px)
  }

  /** REAL JDK decode (any ImageIO format) → top-down packed RGB. */
  def decodeJdk(bytes: Array[Byte]): BmpPixels = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    require(img != null, "no JDK reader recognized the image bytes")
    pixelsOf(img)
  }

  private def channelMeans(d: BmpPixels): (Double, Double, Double) = {
    var sr = 0.0; var sg = 0.0; var sb = 0.0
    var i = 0
    while (i < d.pixels.length) {
      val p = d.pixels(i)
      sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
      i += 1
    }
    val n = d.pixels.length.toDouble
    (sr / n, sg / n, sb / n)
  }

  /** Whether each channel mean of `d` lies within `tol` of the formula
    * image's: the check of a lossy (JPEG) decode. */
  private def meansNear(d: BmpPixels, rgb: (Int, Int) => (Int, Int, Int),
      tol: Double): (Boolean, Boolean, Boolean) = {
    val (mr, mg, mb) = channelMeans(d)
    val (fr, fg, fb) = channelMeans(formulaPixels(d.width, d.height, rgb))
    (math.abs(mr - fr) < tol, math.abs(mg - fg) < tol, math.abs(mb - fb) < tol)
  }

  /** Deterministic PNG/GIF corpus: formula images encoded with the
    * requested JDK codec (both round-trip losslessly here). `wBase`/
    * `hBase` default to the BMP sizes; GIF uses 6/5 — the JDK GIF
    * writer+reader mangles images under ~30 pixels (verified: 4x3, 5x4
    * and 8x3 shift rows; 6x5 and larger are exact). */
  def codecImages(spark: SparkSession, n: Long, fmt: String,
      wBase: Int = 4, hBase: Int = 3): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, 32).map { id =>
      val w = (wBase + id % 5).toInt
      val h = (hBase + id % 4).toInt
      (id, encodeJdk(w, h, fmt, formulaRgb(id)))
    }.toDF("img_id", "img")
  }

  /** Deterministic JPEG corpus: larger block-aligned images (w = 16 +
    * 8·(id%5), h = 16 + 8·(id%4)) so the DCT path is exercised. */
  def jpegImages(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, 32).map { id =>
      val w = (16 + (id % 5) * 8).toInt
      val h = (16 + (id % 4) * 8).toInt
      (id, encodeJdk(w, h, "jpg", formulaRgb(id)))
    }.toDF("img_id", "img")
  }

  /** REAL JDK decode → dimensions + channel means (lossless formats:
    * the formula oracle checks the decode exactly, as with BMP). */
  def jdkChannelMeans(df: DataFrame): DataFrame =
    decodedMeans(df, "img", decodeJdk, None)

  /** REAL JDK decode → REAL nearest-neighbor resize → channel means of
    * the RESIZED pixels (the bmpResizedMeans shape over the imageio
    * path: lossless PNG decode feeds real pixel decimation, so the
    * formula oracle re-derives the sampled source coordinates and the
    * whole decode+resize chain is under oracle). */
  def jdkResizedMeans(df: DataFrame, outW: Int, outH: Int): DataFrame =
    decodedMeans(df, "img", decodeJdk, Some((outW, outH)))

  /** O4 per-row error tolerance on the decode path: a real crawl's
    * image column contains truncated/corrupt blobs, and one bad row
    * must not detonate a 10^12-row job. Undecodable rows are DROPPED
    * here — never silently at the caller's grain: pair with
    * `decodeFailures` to count/log what was dropped (no-silent-caps
    * rule). */
  def jdkChannelMeansTolerant(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("img_id").cast("long"), col("img"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        scala.util.Try(meansRow(id, decodeJdk(bytes))).toOption
      })
      .toDF("img_id", "width", "height", "mean_r", "mean_g", "mean_b")
  }

  /** The rows jdkChannelMeansTolerant dropped: (img_id, error). */
  def decodeFailures(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("img_id").cast("long"), col("img"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        scala.util.Try(decodeJdk(bytes)) match {
          case scala.util.Failure(e) => Some((id, e.getMessage))
          case _ => None
        }
      })
      .toDF("img_id", "error")
  }

  /** REAL JPEG decode check: decoded dimensions (exact) + per-channel
    * mean-error-bounded booleans vs the formula (the decode is honest —
    * a broken codec path flips the booleans and the oracle, which
    * expects true, hash-mismatches). */
  def jpegDecodeCheck(df: DataFrame, tol: Double = 3.0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("img_id").cast("long"), col("img"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val d = decodeJdk(bytes)
        val (rOk, gOk, bOk) = meansNear(d, formulaRgb(id), tol)
        (id, d.width, d.height, rOk, gOk, bOk)
      })
      .toDF("img_id", "width", "height", "r_ok", "g_ok", "b_ok")
  }

  // ---- REAL video container: animated GIF via javax.imageio ----
  // GIF89a with multiple frames + per-frame GraphicControlExtension
  // delays IS a video container (frames on a timeline), and the JDK
  // writes/reads it natively — so the video modality gains a fully
  // real decode path: container parse, frame count, per-frame LZW
  // pixel decode and the frame timeline all sit under the formula
  // oracle. (Compressed interframe codecs — H.264 etc. — remain the
  // ffmpeg seam; the fakeVideo metadata plans model that tier.)

  /** Per-frame pixel formula of video id, frame f. */
  def formulaRgbFrame(id: Long, f: Int): (Int, Int) => (Int, Int, Int) = (x, y) => (
    ((x * 7 + y * 13 + id + f * 17) % 256).toInt,
    ((x * 3 + y * 5 + 2 * id + f * 29) % 256).toInt,
    ((x * 11 + y + 3 * id + f * 5) % 256).toInt)

  /** Encode full frames as an animated GIF with a fixed per-frame
    * delay (centiseconds), disposal "none". */
  def encodeAnimatedGif(width: Int, height: Int, delayCs: Int,
      frames: Seq[(Int, Int) => (Int, Int, Int)]): Array[Byte] = {
    val wr = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    wr.setOutput(ios)
    val p = wr.getDefaultWriteParam
    wr.prepareWriteSequence(null)
    frames.foreach { rgb =>
      val img = formulaImage(width, height, rgb)
      val md = wr.getDefaultImageMetadata(
        new javax.imageio.ImageTypeSpecifier(img), p)
      val fmt = "javax_imageio_gif_image_1.0"
      val root = md.getAsTree(fmt).asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
      val gce = new javax.imageio.metadata.IIOMetadataNode("GraphicControlExtension")
      gce.setAttribute("disposalMethod", "none")
      gce.setAttribute("userInputFlag", "FALSE")
      gce.setAttribute("transparentColorFlag", "FALSE")
      gce.setAttribute("delayTime", delayCs.toString)
      gce.setAttribute("transparentColorIndex", "0")
      val existing = root.getElementsByTagName("GraphicControlExtension")
      if (existing.getLength > 0) root.replaceChild(gce, existing.item(0))
      else root.appendChild(gce)
      md.setFromTree(fmt, root)
      wr.writeToSequence(new javax.imageio.IIOImage(img, null, md), p)
    }
    wr.endWriteSequence()
    ios.close()
    bos.toByteArray
  }

  final case class GifVideo(width: Int, height: Int, delayCs: Int,
      frames: Array[BmpPixels])

  /** REAL animated-GIF decode: container parse → every frame's pixels
    * + the frame-0 GraphicControlExtension delay. */
  def decodeAnimatedGif(bytes: Array[Byte]): GifVideo = {
    val rd = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    rd.setInput(javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes)))
    val n = rd.getNumImages(true)
    require(n > 0, "empty GIF container")
    val frames = Array.tabulate(n)(f => pixelsOf(rd.read(f)))
    val md = rd.getImageMetadata(0)
    val root = md.getAsTree("javax_imageio_gif_image_1.0")
      .asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
    val gces = root.getElementsByTagName("GraphicControlExtension")
    val delay =
      if (gces.getLength > 0)
        gces.item(0).asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
          .getAttribute("delayTime").toInt
      else 0
    rd.dispose()
    GifVideo(frames(0).width, frames(0).height, delay, frames)
  }

  /** Deterministic animated-GIF video corpus: video id has
    * w = 6 + id%5, h = 5 + id%4 (the GIF-safe sizes), nFrames =
    * 4 + id%7, delay = 4 + 2·(id%3) cs, formulaRgbFrame pixels. */
  def gifVideos(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, 32).map { id =>
      val w = (6 + id % 5).toInt
      val h = (5 + id % 4).toInt
      val nf = (4 + id % 7).toInt
      val delay = (4 + (id % 3) * 2).toInt
      (id, encodeAnimatedGif(w, h, delay,
        (0 until nf).map(f => formulaRgbFrame(id, f))))
    }.toDF("video_id", "gif")
  }

  /** REAL video frame sampling: decode the container, keep frames
    * 0, stride, 2·stride, …, emit per-frame channel means + the
    * timeline position ts_cs = frame_idx · delay — every field
    * (container frame count, pixel decode, timeline) re-derivable by
    * the formula oracle. One narrow mapPartitions pass. */
  def gifFrameSample(df: DataFrame, stride: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("video_id").cast("long"), col("gif"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        val v = decodeAnimatedGif(bytes)
        (0 until v.frames.length by stride).iterator.map { f =>
          val (mr, mg, mb) = channelMeans(v.frames(f))
          (id, f, v.frames.length, v.width, v.height,
            f.toLong * v.delayCs, round4(mr), round4(mg), round4(mb))
        }
      })
      .toDF("video_id", "frame_idx", "n_frames", "width", "height",
        "ts_cs", "mean_r", "mean_g", "mean_b")
  }

  // ---- REAL video container #2: MJPEG-in-AVI, pure JDK ----
  // The RIFF/AVI container is a hand-parseable chunk grammar (the same
  // skill as the BMP and WARC parsers) and every MJPEG frame is a plain
  // JPEG the JDK already decodes — so a second REAL video format with a
  // genuinely compressed per-frame codec (DCT), written and read with
  // zero external jars. After this, the remaining video seam is exactly
  // "patent-encumbered INTERFRAME codecs" (H.264 etc. — no ffmpeg
  // here), modeled by the fakeVideo metadata tier below.
  // Layout (all little-endian; RIFF/AVI per the public MS format docs):
  //   RIFF('AVI ') { LIST('hdrl'){ avih, LIST('strl'){ strh, strf } },
  //                  LIST('movi'){ '00dc' <jpeg> ... }, 'idx1' }

  final case class AviVideo(width: Int, height: Int, usPerFrame: Int,
      frames: Array[BmpPixels])

  /** Encode formula frames as an MJPEG AVI: each frame a real JPEG
    * ('00dc' chunk), avih/strh timing = usPerFrame (dwScale over
    * dwRate=1e6), plus a keyframe idx1 index. */
  def encodeAviMjpeg(width: Int, height: Int, usPerFrame: Int,
      frames: Seq[(Int, Int) => (Int, Int, Int)]): Array[Byte] = {
    val jpegs = frames.map(rgb => encodeJdk(width, height, "jpg", rgb))
    def le(v: Int): Array[Byte] = Array[Byte](
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def le16(v: Int): Array[Byte] =
      Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def cc(s: String): Array[Byte] = s.getBytes("US-ASCII")
    val maxJpeg = jpegs.map(_.length).max
    val avih = Array.concat(le(usPerFrame), le(0), le(0), le(0x10) /*HASINDEX*/,
      le(jpegs.length), le(0), le(1), le(maxJpeg), le(width), le(height),
      le(0), le(0), le(0), le(0))
    val strh = Array.concat(cc("vids"), cc("MJPG"), le(0), le16(0), le16(0),
      le(0), le(usPerFrame) /*dwScale*/, le(1000000) /*dwRate*/, le(0),
      le(jpegs.length), le(maxJpeg), le(-1) /*quality: default*/, le(0),
      le16(0), le16(0), le16(width), le16(height))
    val strf = Array.concat(le(40), le(width), le(height), le16(1), le16(24),
      cc("MJPG"), le(width * height * 3), le(0), le(0), le(0), le(0))
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val pad = if (body.length % 2 == 1) Array[Byte](0) else Array.empty[Byte]
      Array.concat(cc(id), le(body.length), body, pad)
    }
    def list(listType: String, body: Array[Byte]): Array[Byte] =
      Array.concat(cc("LIST"), le(body.length + 4), cc(listType), body)
    val strl = list("strl", Array.concat(chunk("strh", strh), chunk("strf", strf)))
    val hdrl = list("hdrl", Array.concat(chunk("avih", avih), strl))
    // movi body + idx1 (offsets relative to the 'movi' fourcc)
    val moviChunks = new scala.collection.mutable.ArrayBuffer[Array[Byte]]
    val idxEntries = new scala.collection.mutable.ArrayBuffer[Array[Byte]]
    var off = 4 // first chunk starts right after the 'movi' fourcc
    jpegs.foreach { j =>
      val c = chunk("00dc", j)
      moviChunks += c
      idxEntries += Array.concat(cc("00dc"), le(0x10) /*KEYFRAME*/, le(off), le(j.length))
      off += c.length
    }
    val movi = list("movi", Array.concat(moviChunks.toSeq: _*))
    val idx1 = chunk("idx1", Array.concat(idxEntries.toSeq: _*))
    val body = Array.concat(cc("AVI "), hdrl, movi, idx1)
    Array.concat(cc("RIFF"), le(body.length), body)
  }

  /** REAL MJPEG-AVI decode: hand-walk the RIFF chunk grammar (avih for
    * timing/dims/frame count, LIST movi for the '00dc' frames), then
    * decode every frame's JPEG via the JDK. Fails loudly on truncated
    * or malformed containers (the WARC parser's contract). */
  def decodeAviMjpeg(bytes: Array[Byte]): AviVideo = {
    val b = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def cc(): String = {
      val a = new Array[Byte](4); b.get(a); new String(a, "US-ASCII")
    }
    require(cc() == "RIFF", "not a RIFF file")
    val riffSize = b.getInt()
    require(8 + riffSize <= bytes.length, "truncated RIFF container")
    require(cc() == "AVI ", "not an AVI")
    var usPerFrame = 0; var width = 0; var height = 0; var total = -1
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    def walk(end: Int): Unit = while (b.position() < end) {
      val id = cc()
      val sz = b.getInt()
      val start = b.position()
      require(start + sz <= end, s"truncated chunk $id")
      id match {
        case "LIST" =>
          val listType = cc()
          if (listType == "hdrl" || listType == "strl" || listType == "movi")
            walk(start + sz)
        case "avih" =>
          usPerFrame = b.getInt()
          b.position(start + 16); total = b.getInt()
          b.position(start + 32); width = b.getInt(); height = b.getInt()
        case "00dc" =>
          val a = new Array[Byte](sz); b.get(a); frames += a
        case _ => () // strh/strf/idx1/junk: skipped (avih carries what we read)
      }
      b.position(start + sz + (sz % 2)) // chunks pad to even
    }
    walk(8 + riffSize)
    require(total == frames.length,
      s"avih dwTotalFrames $total != ${frames.length} movi frames")
    AviVideo(width, height, usPerFrame, frames.map(decodeJdk).toArray)
  }

  /** Deterministic MJPEG-AVI corpus: video id has w = 16 + 8·(id%3),
    * h = 16 + 8·(id%2) (block-aligned, DCT exercised), nFrames =
    * 3 + id%4, usPerFrame = 40000 + 20000·(id%3), formulaRgbFrame
    * pixels. */
  def aviVideos(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, 32).map { id =>
      val w = (16 + 8 * (id % 3)).toInt
      val h = (16 + 8 * (id % 2)).toInt
      val nf = (3 + id % 4).toInt
      val us = (40000 + 20000 * (id % 3)).toInt
      (id, encodeAviMjpeg(w, h, us, (0 until nf).map(f => formulaRgbFrame(id, f))))
    }.toDF("video_id", "avi")
  }

  /** REAL AVI frame sampling: container parse → every stride-th frame
    * JPEG-decoded; emits exact container fields (dims, frame count,
    * ts_us = frame·usPerFrame timeline) plus per-channel
    * mean-error-bounded booleans vs the frame formula (the JPEG-lossy
    * oracle shape of jpegDecodeCheck). One narrow mapPartitions pass. */
  def aviFrameSample(df: DataFrame, stride: Int, tol: Double = 3.0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("video_id").cast("long"), col("avi"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        val v = decodeAviMjpeg(bytes)
        (0 until v.frames.length by stride).iterator.map { f =>
          val (rOk, gOk, bOk) = meansNear(v.frames(f), formulaRgbFrame(id, f), tol)
          (id, f, v.frames.length, v.width, v.height, f.toLong * v.usPerFrame,
            rOk, gOk, bOk)
        }
      })
      .toDF("video_id", "frame_idx", "n_frames", "width", "height", "ts_us",
        "r_ok", "g_ok", "b_ok")
  }

  // ---- REAL audio codec via the JDK (javax.sound.sampled): WAV PCM ----

  /** Deterministic PCM16 samples of audio id:
    * s_i = ((i·37 + id·101) % 4096) − 2048. */
  def wavSamples(id: Long, n: Int): Array[Short] =
    Array.tabulate(n)(i => (((i * 37L + id * 101L) % 4096L) - 2048L).toShort)

  /** Encode mono PCM16 little-endian samples as a WAV container via
    * the JDK's own AudioSystem (lossless). */
  def encodeWavPcm16(rate: Int, samples: Array[Short]): Array[Byte] = {
    val pcm = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      pcm(2 * i) = (samples(i) & 0xff).toByte
      pcm(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1, true, false)
    val in = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(in,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Deterministic WAV corpus: rate = 8000 + 4000·(id%3), n_samples =
    * 800 + 400·(id%5), formula samples. */
  def wavAudios(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, 32).map { id =>
      val rate = (8000 + (id % 3) * 4000).toInt
      val ns = (800 + (id % 5) * 400).toInt
      (id, encodeWavPcm16(rate, wavSamples(id, ns)))
    }.toDF("audio_id", "wav")
  }

  /** REAL WAV decode via AudioSystem: container-parsed format fields +
    * sample statistics (mean amplitude, RMS) — integer sums are exact,
    * so the formula oracle checks the PCM decode bit-for-bit. */
  def wavDecodeStats(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("audio_id").cast("long"), col("wav"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val (f, pcm) = readWav(bytes)
        val ns = pcm.length / 2
        val (mean, rms) = pcmStats(pcm, 0, ns)
        (id, f.getSampleRate.toInt, f.getChannels, ns.toLong, mean, rms)
      })
      .toDF("audio_id", "sample_rate", "channels", "n_samples", "mean_amp", "rms")
  }

  /** Open a WAV container: its format and its PCM bytes. Only mono
    * 16-bit little-endian PCM is accepted — stereo would be silently
    * read as interleaved mono (ADVICE r06); the stream is closed after
    * the read. */
  private def readWav(bytes: Array[Byte]): (javax.sound.sampled.AudioFormat, Array[Byte]) = {
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val f = in.getFormat
    require(f.getSampleSizeInBits == 16 && !f.isBigEndian &&
      f.getChannels == 1, "unexpected WAV format")
    (f, try in.readAllBytes() finally in.close())
  }

  /** (mean amplitude, RMS) of PCM16 samples [start, end), both rounded
    * to 4; the sums are exact integers. */
  private def pcmStats(pcm: Array[Byte], start: Int, end: Int): (Double, Double) = {
    var sum = 0L; var sumSq = 0L
    var i = start
    while (i < end) {
      val s = ((pcm(2 * i) & 0xff) | (pcm(2 * i + 1) << 8)).toShort.toLong
      sum += s; sumSq += s * s
      i += 1
    }
    val n = (end - start).toDouble
    (round4(sum / n), round4(math.sqrt(sumSq / n)))
  }

  // ---- video: opaque binary + frame sampling ----

  /** Synthetic "video" blob: 20-byte fake header (magic, width, height,
    * n_frames, fps_x100) + payload. Stands in for a real container. */
  def fakeVideo(id: Long, width: Int, height: Int, nFrames: Int, fpsX100: Int): Array[Byte] = {
    val header = java.nio.ByteBuffer.allocate(20)
    header.putInt(0x56494445) // "VIDE"
    header.putInt(width)
    header.putInt(height)
    header.putInt(nFrames)
    header.putInt(fpsX100)
    val rng = new graft.pipeline.Rng(id ^ 0xfeedbeefL)
    header.array() ++ Array.fill[Byte](32)((rng.nextLong() & 0xff).toByte)
  }

  final case class VideoRow(video_id: Long, video: Array[Byte], label: String)
  final case class DecodedVideo(video_id: Long, width: Int, height: Int,
      n_frames: Int, fps_x100: Int, label: String)

  def videos(spark: SparkSession, n: Long): Dataset[VideoRow] = {
    import spark.implicits._
    spark.range(0, n, 1, 32).map { id =>
      val rng = new graft.pipeline.Rng(id * 131L + 11L)
      VideoRow(id,
        fakeVideo(id, 320 + 16 * rng.nextInt(80), 240 + 16 * rng.nextInt(60),
          30 + rng.nextInt(3600), 2400 + 600 * rng.nextInt(4)),
        if (id % 2 == 0) "clip" else "film")
    }
  }

  /** STUB decode: parse the fake container header (the javacv/ffmpeg
    * seam on a real cluster). */
  def decodeVideo(vs: Dataset[VideoRow]): Dataset[DecodedVideo] = {
    val spark = vs.sparkSession
    import spark.implicits._
    vs.mapPartitions(_.map { r =>
      val buf = java.nio.ByteBuffer.wrap(r.video)
      require(buf.getInt() == 0x56494445, s"bad magic for ${r.video_id}")
      DecodedVideo(r.video_id, buf.getInt(), buf.getInt(), buf.getInt(),
        buf.getInt(), r.label)
    })
  }

  /** Frame sampling: one row per sampled frame at a fixed stride —
    * pure relational explosion over the decoded metadata (the frame
    * PIXEL fetch is the stubbed decode's job; the sampling plan — which
    * frames, their timestamps — is exact and oracle-checked). Sampled
    * frames are 0, stride, 2*stride, … < n_frames; ts_ms from fps. */
  def frameSample(decoded: Dataset[DecodedVideo], stride: Int): DataFrame = {
    decoded.toDF
      // a real decoder can emit n_frames = 0 (corrupt container);
      // sequence(0, -1, +stride) throws, so zero-frame rows are dropped
      // rather than detonating the job (ADVICE r02)
      .filter(col("n_frames") > 0)
      .withColumn("frame_idx",
        explode(sequence(lit(0), col("n_frames") - 1, lit(stride))))
      .withColumn("ts_ms", floor(col("frame_idx") * lit(100000L) / col("fps_x100")))
      .select(col("video_id"), col("frame_idx"), col("ts_ms"),
        col("width"), col("height"), col("label"))
  }

  // ---- REAL audio segmentation over decoded WAV PCM ----

  /** REAL fixed-length segmentation over DECODED samples: decode the
    * WAV container, window the PCM into `segSamples`-sample segments
    * (last one ragged — the shape ASR/feature pipelines consume) and
    * emit exact integer sample statistics per segment, so the formula
    * oracle checks the decode AND the windowing bit-for-bit. One
    * narrow flatMap pass, rows ∝ corpus duration / segment length. */
  def wavSegmentStats(df: DataFrame, segSamples: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("audio_id").cast("long"), col("wav"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        val (f, pcm) = readWav(bytes)
        val ns = pcm.length / 2
        val nSegs = (ns + segSamples - 1) / segSamples
        (0 until nSegs).iterator.map { seg =>
          val start = seg * segSamples
          val end = math.min(start + segSamples, ns)
          val (mean, rms) = pcmStats(pcm, start, end)
          (id, seg, start, end - start, f.getSampleRate.toInt, mean, rms)
        }
      })
      .toDF("audio_id", "seg_idx", "start_sample", "seg_len", "sample_rate",
        "mean_amp", "rms")
  }
}
