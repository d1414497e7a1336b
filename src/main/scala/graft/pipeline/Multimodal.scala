package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column support: image/audio/video as opaque `binary` columns
  * with typed metadata, plus decode / feature-extract / resize /
  * frame-sample operators.
  *
  * Decode comes in two forms. [[realDecode]] uses the JDK's own codecs —
  * javax.imageio for PNG/JPEG/BMP/GIF, javax.sound.sampled for WAV/PCM,
  * and the RIFF/AVI walker in [[parseAvi]] for video (uncompressed DIB
  * frames read directly, MJPEG frames through ImageIO) — so all three
  * modality paths are REAL end-to-end (true pixel dimensions, true PCM
  * duration, true frame counts, content-derived features). Unparseable
  * payloads fall back to [[fakeDecode]], a clearly-marked deterministic
  * stand-in that [[decode]] also uses for the oracle-checked portable
  * path (p11's DuckDB oracle replays the metadata arithmetic, which
  * real codecs obviously cannot). Codecs beyond these (H.264, MP3, …)
  * live behind the same one-function seam a JNI/javacv decoder would
  * fill.
  *
  * Scale notes: decode runs as `mapPartitions` over batches so a real
  * decoder amortizes per-batch init (model load, codec context) exactly
  * like a pandas_udf batch would; binary payloads never pass through a
  * shuffle — decode is a map-side operator.
  */
object Multimodal {

  /** An opaque media payload + typed metadata. */
  final case class Asset(
      asset_id: Long,
      modality: String, // image | audio | video
      data: Array[Byte],
      format: String,
      meta_width: Int,
      meta_height: Int,
      meta_duration_ms: Long,
  )

  final case class DecodedFeatures(
      asset_id: Long,
      modality: String,
      n_bytes: Long,
      width: Int,
      height: Int,
      duration_ms: Long,
      feature: Array[Float], // embedding-shaped decode output
  )

  /** Synthesize an asset table from any id column — payload bytes are a
    * deterministic function of the id (stand-in for real blobs).
    * Metadata uses a Knuth multiplicative hash (engine-portable integer
    * arithmetic, so external oracles can reproduce it; the id is reduced
    * mod 1e5 first to keep the product inside a signed 64-bit range).
    */
  def syntheticAssets(spark: SparkSession, df: DataFrame, idCol: String): Dataset[Asset] = {
    import spark.implicits._
    val modality = element_at(array(lit("image"), lit("audio"), lit("video")),
      (col(idCol) % 3 + 1).cast("int"))
    val fmt = element_at(array(lit("png"), lit("wav"), lit("mp4")),
      (col(idCol) % 3 + 1).cast("int"))
    def kmix(offset: Int): Column =
      (pmod(col(idCol), lit(100000L)) + offset) * lit(2654435761L)
    df.select(
      col(idCol).cast("long").as("asset_id"),
      modality.as("modality"),
      // payload: sha2 of the id, repeated — opaque deterministic bytes
      to_binary(repeat(sha2(col(idCol).cast("string"), 256), 4), lit("hex")).as("data"),
      fmt.as("format"),
      (pmod(kmix(0), lit(1920)) + 32).cast("int").as("meta_width"),
      (pmod(kmix(1), lit(1080)) + 32).cast("int").as("meta_height"),
      pmod(kmix(2), lit(600000L)).as("meta_duration_ms"),
    ).as[Asset]
  }

  /** >>> STUB — deterministic fake decode. A real build replaces this one
    * function with an actual codec call; the batch shape, schema, and
    * partition behavior stay identical. <<<
    */
  private def fakeDecode(batch: Seq[Asset]): Seq[DecodedFeatures] =
    batch.map { a =>
      val h = java.util.Arrays.hashCode(a.data)
      DecodedFeatures(
        asset_id = a.asset_id,
        modality = a.modality,
        n_bytes = a.data.length.toLong,
        width = a.meta_width,
        height = a.meta_height,
        duration_ms = a.meta_duration_ms,
        feature = Array.tabulate(16)(i =>
          (((h * 31 + i * 2654435761L) & 0xFFFF).toFloat / 65535.0f)),
      )
    }

  /** Batched decode: groups each partition's rows into `batchSize` chunks
    * (the pandas_udf batch analogue) and runs the decode per chunk.
    */
  def decode(spark: SparkSession, assets: Dataset[Asset], batchSize: Int = 64): Dataset[DecodedFeatures] = {
    import spark.implicits._
    assets.mapPartitions { it =>
      it.grouped(batchSize).flatMap(b => fakeDecode(b))
    }
  }

  /** Resize metadata transform: pure column math, no payload touch. */
  def resizePlan(decoded: DataFrame, maxSide: Int): DataFrame = {
    val scale = least(lit(1.0),
      lit(maxSide) / greatest(col("width"), col("height")).cast("double"))
    decoded
      .withColumn("target_width", ceil(col("width") * scale).cast("int"))
      .withColumn("target_height", ceil(col("height") * scale).cast("int"))
  }

  /** Frame-sample plan for video assets: one row per sampled frame index
    * at `everyMs` intervals — a generator expression, no UDF.
    */
  def frameSamplePlan(decoded: DataFrame, everyMs: Long): DataFrame =
    decoded.where(col("modality") === "video")
      .select(col("asset_id"),
        explode(sequence(lit(0L), col("duration_ms"), lit(everyMs))).as("frame_ms"))

  // ---------------------------------------------------------------------
  // Real decoders (JDK-only codecs — no external libraries):
  // images via javax.imageio (PNG/JPEG/BMP/GIF), audio via
  // javax.sound.sampled (WAV/PCM), video via the RIFF/AVI parser below
  // (uncompressed DIB or MJPEG frames — ImageIO per frame). realDecode
  // dispatches per asset and falls back to the marked fake for
  // payloads none of them can parse, so a mixed (or synthetic) asset
  // table still decodes end-to-end.
  // ---------------------------------------------------------------------

  /** Decode an image payload with the JDK's ImageIO: true dimensions from
    * the pixels (metadata can lie; the decode is the ground truth) and a
    * 16-float feature = mean R,G,B + 13-bin luminance histogram.
    */
  private[pipeline] def imageDecode(a: Asset): Option[DecodedFeatures] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(a.data))
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        var (sr, sg, sb) = (0.0, 0.0, 0.0)
        val hist = new Array[Float](13)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val r = (rgb >> 16) & 0xFF
            val g = (rgb >> 8) & 0xFF
            val b = rgb & 0xFF
            sr += r; sg += g; sb += b
            val lum = (0.299 * r + 0.587 * g + 0.114 * b) / 255.0
            hist(math.min((lum * 13).toInt, 12)) += 1f
            x += 1
          }
          y += 1
        }
        val n = (w.toLong * h).toFloat
        val feature = Array((sr / n).toFloat / 255f, (sg / n).toFloat / 255f,
          (sb / n).toFloat / 255f) ++ hist.map(_ / n)
        Some(DecodedFeatures(a.asset_id, a.modality, a.data.length.toLong,
          w, h, a.meta_duration_ms, feature))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Decode a WAV payload with the JDK's sound API: true duration from
    * the frame count and a 16-float feature = mean |amplitude| + RMS +
    * zero-crossing rate + 13-bin |amplitude| histogram (16-bit PCM).
    */
  private[pipeline] def wavDecode(a: Asset): Option[DecodedFeatures] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(a.data))
      val fmt = ais.getFormat
      if (fmt.getSampleSizeInBits != 16) None
      else {
        val bytes = ais.readAllBytes()
        // getFrameLength is NOT_SPECIFIED (-1) for streamed/headerless
        // payloads — derive the frame count from the decoded bytes then,
        // instead of reporting a negative duration
        val frames =
          if (ais.getFrameLength >= 0) ais.getFrameLength
          else if (fmt.getFrameSize > 0) bytes.length.toLong / fmt.getFrameSize
          else 0L
        val durationMs = (frames * 1000.0 / fmt.getFrameRate).toLong
        val order = if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
          else java.nio.ByteOrder.LITTLE_ENDIAN
        val samples = java.nio.ByteBuffer.wrap(bytes).order(order).asShortBuffer()
        val n = samples.remaining()
        var (sumAbs, sumSq, crossings) = (0.0, 0.0, 0L)
        val hist = new Array[Float](13)
        var prevNeg = false
        var i = 0
        while (i < n) {
          val s = samples.get(i) / 32768.0
          sumAbs += math.abs(s); sumSq += s * s
          val neg = s < 0
          if (i > 0 && neg != prevNeg) crossings += 1
          prevNeg = neg
          hist(math.min((math.abs(s) * 13).toInt, 12)) += 1f
          i += 1
        }
        val nn = math.max(n, 1).toFloat
        val feature = Array((sumAbs / nn).toFloat,
          math.sqrt(sumSq / nn).toFloat, (crossings / nn.toDouble).toFloat) ++
          hist.map(_ / nn)
        Some(DecodedFeatures(a.asset_id, a.modality, a.data.length.toLong,
          a.meta_width, a.meta_height, durationMs, feature))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Decode an AVI payload with [[parseAvi]]: true dimensions and
    * frame count from the container, duration at the nominal 25 fps,
    * and a 16-float feature = frame count, mean frame luminance, plus
    * a 14-bin luminance histogram over all decoded frames.
    */
  private[pipeline] def aviDecode(a: Asset): Option[DecodedFeatures] =
    parseAvi(a.data).map { case (w, h, frames) =>
      var sum = 0.0
      var n = 0L
      val hist = new Array[Float](14)
      frames.foreach(_.foreach(_.foreach { g =>
        sum += g; n += 1
        hist(math.min(g * 14 / 256, 13)) += 1f
      }))
      val nn = math.max(n, 1L).toFloat
      val feature = Array(frames.length.toFloat, (sum / nn).toFloat / 255f) ++
        hist.map(_ / nn)
      DecodedFeatures(a.asset_id, a.modality, a.data.length.toLong,
        w, h, frames.length * 40L, feature)
    }

  /** Per-asset dispatch: real JDK decode where a codec exists, the
    * clearly-marked fake otherwise (exotic formats, corrupt payloads).
    * Same batch shape as [[decode]].
    */
  def realDecode(spark: SparkSession, assets: Dataset[Asset],
      batchSize: Int = 64): Dataset[DecodedFeatures] = {
    import spark.implicits._
    assets.mapPartitions { it =>
      it.grouped(batchSize).flatMap(_.map { a =>
        (a.modality match {
          case "image" => imageDecode(a)
          case "audio" => wavDecode(a)
          case "video" => aviDecode(a)
          case _       => None
        }).getOrElse(fakeDecode(Seq(a)).head)
      })
    }
  }

  // ---------------------------------------------------------------------
  // Perceptual image hashing (pHash, DCT variant — the public technique
  // behind image near-dup detection at crawl scale): decode → 32×32
  // grayscale (2×2 area sums of the 64×64 decode) → 2D DCT-II → 8×8
  // low-frequency block → median threshold → 64-bit fingerprint.
  //
  // The DCT runs in FIXED-POINT integer arithmetic (cos table scaled by
  // 2^20 and rounded ONCE, in [[dctTable]]): every coefficient is an
  // exact integer sum, so the hash is bit-identical across engines,
  // partitionings, and replay in an external SQL oracle — float DCT
  // would hinge on libm cos and summation order at the median boundary.
  // Magnitudes: cell ≤ 4·255 < 2^10, row pass < 2^36, final < 2^61 —
  // no Long overflow.
  // ---------------------------------------------------------------------

  /** Image classes in [[patternedAssets]] — a 3×3 grid of checker
    * frequencies, each within the 8×8 low-frequency window the hash
    * sees (periods of 16/32/64 px; an 8 px checker would alias above
    * the block and be invisible to the hash). */
  val phashClasses: Int = 9

  /** Fixed-point DCT-II basis: dctTable(x)(u) = round(cos((2x+1)uπ/64)·2^20)
    * for the 32-cell axis, u < 8. Public so the SQL oracle inlines the
    * SAME integers — the table is the single source of the basis. */
  lazy val dctTable: Array[Array[Long]] = Array.tabulate(32, 8) { (x, u) =>
    math.round(math.cos((2 * x + 1) * u * math.Pi / 64.0) * (1L << 20))
  }

  /** 64-bit perceptual hash of a decoded 64×64 image. Integer
    * luminance (299r+587g+114b)/1000 — exact for the grayscale PNGs
    * [[patternedAssets]] writes (r=g=b ⇒ luminance = gray). Median is
    * the 32nd-smallest of the 63 non-DC coefficients; the DC bit is 0.
    * Returns None for payloads that fail to decode or are not 64×64. */
  private[pipeline] def phash64(data: Array[Byte]): Option[Long] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(data))
      if (img == null || img.getWidth != 64 || img.getHeight != 64) None
      else {
        val cell = Array.ofDim[Long](32, 32)
        var y = 0
        while (y < 64) {
          var x = 0
          while (x < 64) {
            val rgb = img.getRGB(x, y)
            val lum = (299L * ((rgb >> 16) & 0xFF) + 587L * ((rgb >> 8) & 0xFF) +
              114L * (rgb & 0xFF)) / 1000L
            cell(x / 2)(y / 2) += lum
            x += 1
          }
          y += 1
        }
        Some(phashCells(cell))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The DCT/median/bit-pack core of the perceptual hash, over the
    * 32×32 grid of 2×2 luminance cell SUMS — shared by the image path
    * ([[phash64]]) and the per-frame video path ([[videoFrameHashes]]). */
  private[pipeline] def phashCells(cell: Array[Array[Long]]): Long = {
    // separable DCT: rows then columns, low 8×8 block only
    val t = Array.ofDim[Long](8, 32)
    var u = 0
    while (u < 8) {
      var cy = 0
      while (cy < 32) {
        var s = 0L
        var cx = 0
        while (cx < 32) { s += cell(cx)(cy) * dctTable(cx)(u); cx += 1 }
        t(u)(cy) = s
        cy += 1
      }
      u += 1
    }
    val c = Array.ofDim[Long](8, 8)
    u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var s = 0L
        var cy = 0
        while (cy < 32) { s += t(u)(cy) * dctTable(cy)(v); cy += 1 }
        c(u)(v) = s
        v += 1
      }
      u += 1
    }
    val nonDc = (for { u <- 0 until 8; v <- 0 until 8 if u != 0 || v != 0 }
      yield c(u)(v)).sorted
    val m = nonDc(31)
    var fp = 0L
    u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        if ((u != 0 || v != 0) && c(u)(v) > m) fp |= 1L << (8 * u + v)
        v += 1
      }
      u += 1
    }
    fp
  }

  /** (doc, fp) perceptual-hash frame over an asset table — the same
    * batched map-side `mapPartitions` shape as [[decode]]; payloads
    * never shuffle, the 16-byte fingerprint rows do. Non-image or
    * undecodable assets are dropped (they have no perceptual hash). */
  def imagePhashes(spark: SparkSession, assets: Dataset[Asset],
      batchSize: Int = 64): DataFrame = {
    import spark.implicits._
    assets.mapPartitions { it =>
      it.grouped(batchSize).flatMap(_.iterator.flatMap { a =>
        if (a.modality != "image") Iterator.empty
        else phash64(a.data).map(fp => (a.asset_id, fp)).iterator
      })
    }.toDF("doc", "fp")
  }

  /** Image near-duplicate pairs: perceptual hashes + the SAME banded
    * Hamming join the text simhash path uses ([[Dedup.simhashCandidatesFromFp]]
    * — total recall within the radius by the pigeonhole band layout).
    * This is the crawl-scale image-dedup shape: decode+hash map-side,
    * then a fingerprint-keyed equi-join, never pixel data in a shuffle
    * and never all-pairs. */
  def imageNearDups(spark: SparkSession, assets: Dataset[Asset],
      maxHamming: Int = 4, batchSize: Int = 64): DataFrame =
    Dedup.simhashCandidatesFromFp(imagePhashes(spark, assets, batchSize), maxHamming)

  /** Deterministic patterned-image fixture: 64×64 grayscale PNGs whose
    * pixels are an integer formula of (id, x, y) — id % 9 picks one of
    * a 3×3 grid of checker frequencies plus a class texture, and a
    * per-id 2×2 bright square supplies the within-class jitter. PNG is
    * lossless and the formula is integer-only, so an external oracle
    * regenerates the EXACT pixels the engine decodes: measured on this
    * family, within-class Hamming ≤ 4, across-class ≥ 9.
    */
  def patternedAssets(spark: SparkSession, df: DataFrame, idCol: String): Dataset[Asset] = {
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id")).as[Long].mapPartitions { it =>
      it.map { id =>
        val img = new java.awt.image.BufferedImage(
          64, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < 64) {
          var x = 0
          while (x < 64) {
            val g = patternGray(id, x, y)
            img.setRGB(x, y, (g << 16) | (g << 8) | g)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        Asset(id, "image", bos.toByteArray, "png", 64, 64, 0L)
      }
    }
  }

  /** The (id, x, y) → gray formula behind [[patternedAssets]] — integer
    * arithmetic only; the p77 oracle replays it verbatim in SQL. */
  private[pipeline] def patternGray(id: Long, x: Int, y: Int): Int = {
    val c = (id % phashClasses).toInt
    val p = Array(8, 16, 32)(c % 3)
    val q = Array(32, 16, 8)((c / 3) % 3)
    val checker = ((x / p + y / q) % 2) * 120
    val texture = ((x.toLong * y * (c + 3)) / 7 % 48).toInt
    val jx = (id * 31 % 62).toInt
    val jy = (id * 17 % 62).toInt
    val jitter = if (x >= jx && x < jx + 2 && y >= jy && y < jy + 2) 16 else 0
    math.min(255, math.max(0, 40 + checker + texture + jitter))
  }

  // ---------------------------------------------------------------------
  // Video near-dup via frame-sampled perceptual hashes, over REAL
  // AVI/RIFF containers (the published Microsoft 'AVI ' layout:
  // hdrl/strl headers, a movi LIST of ##dc frame chunks, an idx1
  // index). Two standard codecs, both pure-JDK: uncompressed
  // bottom-up BGR24 DIB (BI_RGB — lossless, so the fixture's pixel
  // formula replays exactly in the oracle) and MJPEG ('MJPG' fourcc —
  // each frame a real JPEG decoded with ImageIO, the common
  // motion-JPEG interchange form). Each sampled frame is hashed with
  // the SAME fixed-point DCT pHash as still images, and videos match
  // when enough sampled frames agree within the Hamming radius — the
  // frame-keyed banded join shape.
  // ---------------------------------------------------------------------

  /** Frames per fixture video. */
  val videoFrames: Int = 8

  private def fourcc(s: String): Int = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    (b(0) & 0xFF) | ((b(1) & 0xFF) << 8) | ((b(2) & 0xFF) << 16) | ((b(3) & 0xFF) << 24)
  }
  private val FccMjpg = fourcc("MJPG")

  /** Write grayscale frames into a real AVI container (RIFF 'AVI ':
    * avih + strh/strf headers, movi ##dc chunks, idx1). `mjpeg` picks
    * the codec: BI_RGB bottom-up DIB frames (lossless) or 'MJPG'
    * (each frame ImageIO-encoded JPEG). 25 fps nominal.
    */
  private[pipeline] def writeAviGray(
      frames: Seq[Array[Array[Int]]], w: Int, h: Int, mjpeg: Boolean): Array[Byte] = {
    val stride = ((w * 3 + 3) / 4) * 4
    val payloads: Seq[Array[Byte]] = frames.map { g =>
      if (!mjpeg) {
        val out = new Array[Byte](stride * h)
        var y = 0
        while (y < h) {
          val row = (h - 1 - y) * stride // bottom-up, per BI_RGB
          var x = 0
          while (x < w) {
            val v = g(y)(x).toByte
            out(row + x * 3) = v; out(row + x * 3 + 1) = v; out(row + x * 3 + 2) = v
            x += 1
          }
          y += 1
        }
        out
      } else {
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val v = g(y)(x)
            img.setRGB(x, y, (v << 16) | (v << 8) | v)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "jpg", bos)
        bos.toByteArray
      }
    }
    val maxFrame = payloads.map(_.length).foldLeft(0)(math.max)
    def chunkTotal(n: Int) = 8 + n + (n & 1) // header + data + even pad
    val moviDataSize = payloads.map(p => chunkTotal(p.length)).sum
    val hdrlSize = 4 + 8 + 56 + (8 + 4 + 8 + 56 + 8 + 40) // 'hdrl' avih LIST(strl strh strf)
    val idx1Size = payloads.length * 16
    val riffSize = 4 + 8 + hdrlSize + 8 + (4 + moviDataSize) + 8 + idx1Size
    val bb = java.nio.ByteBuffer.allocate(8 + riffSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(s: String): Unit = bb.putInt(fourcc(s))
    tag("RIFF"); bb.putInt(riffSize); tag("AVI ")
    tag("LIST"); bb.putInt(hdrlSize); tag("hdrl")
    tag("avih"); bb.putInt(56)
    bb.putInt(40000).putInt(0).putInt(0).putInt(0x10 /* HASINDEX */)
    bb.putInt(payloads.length).putInt(0).putInt(1).putInt(maxFrame)
    bb.putInt(w).putInt(h).putInt(0).putInt(0).putInt(0).putInt(0)
    tag("LIST"); bb.putInt(4 + 8 + 56 + 8 + 40); tag("strl")
    tag("strh"); bb.putInt(56)
    tag("vids"); bb.putInt(if (mjpeg) FccMjpg else 0)
    bb.putInt(0).putInt(0).putInt(0).putInt(1).putInt(25) // flags, prio+lang, init, scale, rate
    bb.putInt(0).putInt(payloads.length).putInt(maxFrame).putInt(-1).putInt(0)
    bb.putShort(0).putShort(0).putShort(w.toShort).putShort(h.toShort) // rcFrame
    tag("strf"); bb.putInt(40)
    bb.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
    bb.putInt(if (mjpeg) FccMjpg else 0).putInt(stride * h)
    bb.putInt(0).putInt(0).putInt(0).putInt(0)
    tag("LIST"); bb.putInt(4 + moviDataSize); tag("movi")
    val offsets = new Array[Int](payloads.length)
    var off = 4 // idx1 offsets point at each chunk's ckid, from 'movi'
    payloads.zipWithIndex.foreach { case (p, i) =>
      offsets(i) = off
      tag("00dc"); bb.putInt(p.length); bb.put(p)
      if ((p.length & 1) == 1) bb.put(0.toByte)
      off += chunkTotal(p.length)
    }
    tag("idx1"); bb.putInt(idx1Size)
    payloads.zipWithIndex.foreach { case (p, i) =>
      tag("00dc"); bb.putInt(0x10); bb.putInt(offsets(i)); bb.putInt(p.length)
    }
    bb.array()
  }

  /** Parse an AVI payload into (width, height, grayscale frames) by
    * walking the RIFF tree: BITMAPINFOHEADER from the first strf, then
    * every ##dc/##db chunk of the movi LIST in stream order. BI_RGB
    * DIB frames read as bottom-up padded BGR24; 'MJPG' (or any chunk
    * opening with a JPEG SOI marker) decodes through ImageIO. Gray =
    * the same integer luminance the still-image hash uses. None for
    * non-RIFF payloads, truncated trees, or frames that fail to
    * decode.
    */
  private[pipeline] def parseAvi(
      data: Array[Byte]): Option[(Int, Int, Array[Array[Array[Int]]])] =
    try {
      if (data.length < 12) return None
      val bb = java.nio.ByteBuffer.wrap(data).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      if (bb.getInt(0) != fourcc("RIFF") || bb.getInt(8) != fourcc("AVI ")) return None
      var w = 0; var h = 0; var compression = 0; var sawStrf = false
      val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Array[Int]]]
      def luminance(rgb: Int): Int =
        ((299L * ((rgb >> 16) & 0xFF) + 587L * ((rgb >> 8) & 0xFF) +
          114L * (rgb & 0xFF)) / 1000L).toInt
      def decodeFrame(off: Int, len: Int): Boolean = {
        val isJpeg = compression == FccMjpg ||
          (len >= 2 && (data(off) & 0xFF) == 0xFF && (data(off + 1) & 0xFF) == 0xD8)
        if (isJpeg) {
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(data, off, len))
          if (img == null) return false
          frames += Array.tabulate(img.getHeight, img.getWidth)((y, x) =>
            luminance(img.getRGB(x, y)))
        } else {
          val stride = ((w * 3 + 3) / 4) * 4
          if (w <= 0 || h <= 0 || len < stride * h) return false
          frames += Array.tabulate(h, w) { (y, x) =>
            val p = off + (h - 1 - y) * stride + x * 3
            val (b, g, r) = (data(p) & 0xFF, data(p + 1) & 0xFF, data(p + 2) & 0xFF)
            luminance((r << 16) | (g << 8) | b)
          }
        }
        true
      }
      // walk chunks in [from, to); recurse into LISTs
      def walk(from: Int, to: Int): Boolean = {
        var p = from
        while (p + 8 <= to) {
          val id = bb.getInt(p)
          val size = bb.getInt(p + 4)
          if (size < 0 || p + 8 + size > to) return false
          if (id == fourcc("LIST")) {
            if (!walk(p + 12, p + 8 + size)) return false
          } else if (id == fourcc("strf") && !sawStrf && size >= 40) {
            w = bb.getInt(p + 12); h = bb.getInt(p + 16)
            compression = bb.getInt(p + 24)
            sawStrf = true
          } else {
            // ##dc / ##db stream-data chunk: two stream-number digits
            val c2 = (id >>> 16) & 0xFF; val c3 = (id >>> 24) & 0xFF
            val isData = (c2 == 'd' && (c3 == 'c' || c3 == 'b'))
            if (isData && size > 0 && !decodeFrame(p + 8, size)) return false
          }
          p += 8 + size + (size & 1)
        }
        true
      }
      if (!walk(12, data.length) || frames.isEmpty) None
      else Some((w, h, frames.toArray))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Per-frame virtual pattern id: class = id % 6 (stable across the
    * video — mod-9 of the virtual id is preserved because 6 ≤ 9), the
    * 9·(id·8+f) term moves the jitter block per (video, frame). */
  private[pipeline] def videoVirtualId(id: Long, f: Int): Long =
    (id % 6) + 9L * (id * videoFrames + f)

  /** Deterministic real-AVI fixture: 8 grayscale frames of the
    * patterned-image family per video, pixels an integer formula of
    * (id, f, x, y), written into a true RIFF/AVI container as
    * uncompressed BI_RGB DIB frames — lossless, so the oracle
    * regenerates the EXACT pixels the AVI parser decodes (the same
    * contract as the PNG image fixture). `mjpeg = true` writes the
    * same frames as 'MJPG' (real ImageIO JPEGs) for driving the lossy
    * decode path — spec-tested, not oracle-replayed (JPEG is lossy).
    */
  def videoAssets(spark: SparkSession, df: DataFrame, idCol: String,
      mjpeg: Boolean = false): Dataset[Asset] = {
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id")).as[Long].mapPartitions { it =>
      it.map { id =>
        val frames = (0 until videoFrames).map { f =>
          val vid = videoVirtualId(id, f)
          Array.tabulate(64, 64)((y, x) => patternGray(vid, x, y))
        }
        val bytes = writeAviGray(frames, 64, 64, mjpeg)
        Asset(id, "video", bytes, "avi", 64, 64, videoFrames * 40L)
      }
    }
  }

  /** (doc, frame, fp) perceptual hashes of every `everyN`-th frame —
    * the frame-sample + feature-extract step, map-side like every
    * decode here. Frames come out of [[parseAvi]] as grayscale (the
    * luminance reduction runs inside the decode), and only 64×64
    * frames are hashed (the pHash geometry, same as [[phash64]]). */
  def videoFrameHashes(spark: SparkSession, assets: Dataset[Asset],
      everyN: Int = 2, batchSize: Int = 16): DataFrame = {
    import spark.implicits._
    assets.mapPartitions { it =>
      it.grouped(batchSize).flatMap(_.iterator.flatMap { a =>
        if (a.modality != "video") Iterator.empty
        else parseAvi(a.data).iterator.flatMap { case (_, _, frames) =>
          frames.iterator.zipWithIndex.collect {
            case (g, f) if f % everyN == 0 &&
                g.length == 64 && g(0).length == 64 =>
              val cell = Array.ofDim[Long](32, 32)
              var y = 0
              while (y < 64) {
                var x = 0
                while (x < 64) { cell(x / 2)(y / 2) += g(y)(x); x += 1 }
                y += 1
              }
              (a.asset_id, f, phashCells(cell))
          }
        }
      })
    }.toDF("doc", "frame", "fp")
  }

  /** Video near-dup pairs: sampled frames joined frame-wise through the
    * pigeonhole band layout (same total-recall guarantee as the text
    * simhash — the key just gains the frame index), pairs matching on
    * ≥ `minFrames` sampled frames within `maxHamming`. Pixels never
    * shuffle; the join carries (frame, band, band_val)-keyed 24-byte
    * rows. */
  def videoNearDups(spark: SparkSession, assets: Dataset[Asset],
      maxHamming: Int = 4, everyN: Int = 2, minFrames: Long = 3,
      batchSize: Int = 16): DataFrame = {
    val fps = videoFrameHashes(spark, assets, everyN, batchSize)
    val bandVals = Dedup.simhashBandLayout(maxHamming).map { case (off, w) =>
      val mask = if (w >= 64) -1L else (1L << w) - 1L
      shiftright(col("fp"), off).bitwiseAND(mask)
    }
    val banded = fps.select(col("doc"), col("frame"), col("fp"),
      posexplode(array(bandVals: _*)))
      .toDF("doc", "frame", "fp", "band", "band_val")
    val a = banded.select(col("frame"), col("band"), col("band_val"),
      col("doc").as("doc_a"), col("fp").as("fp_a"))
    val b = banded.select(col("frame"), col("band"), col("band_val"),
      col("doc").as("doc_b"), col("fp").as("fp_b"))
    a.join(b, Seq("frame", "band", "band_val"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("frame"), col("doc_a"), col("doc_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_frames"))
      .where(col("n_frames") >= minFrames)
  }

  // ---------------------------------------------------------------------
  // Audio spectral fingerprinting (constellation-style, the Wang 2003
  // shape): decode PCM → frame → per-frame dominant spectral peak →
  // match recordings by shared (frame, peak) landmarks. Like the pHash,
  // the spectral analysis runs in FIXED-POINT integer arithmetic (2^8-
  // scaled DFT basis, rounded once) so every power value is an exact
  // integer and the peak argmax is engine-portable. Magnitudes:
  // |sample| ≤ 2^13, basis ≤ 2^8, 256 terms → component ≤ 2^29,
  // power = sc²+ss² ≤ 2^59 — no Long overflow.
  // ---------------------------------------------------------------------

  /** Frames analyzed per asset (256 samples each). */
  val audioFrames: Int = 6

  /** Fixed-point DFT basis for bins k = 1..8 over a 256-sample frame:
    * cos/sin(2πkt/256)·2^8, rounded once. Column index = k−1. Public so
    * the p78 oracle inlines the SAME integers. */
  lazy val dftCosTable: Array[Array[Long]] = Array.tabulate(256, 8) { (t, ki) =>
    math.round(math.cos(2 * math.Pi * (ki + 1) * t / 256.0) * 256)
  }
  lazy val dftSinTable: Array[Array[Long]] = Array.tabulate(256, 8) { (t, ki) =>
    math.round(math.sin(2 * math.Pi * (ki + 1) * t / 256.0) * 256)
  }

  /** Tone classes in [[toneAssets]]: triangle-wave periods in samples,
    * chosen so each class's fundamental lands nearest a distinct
    * analysis bin (8, 5.3, 4, 2.7, 2, 1.3 cycles/frame → bins
    * 8/5/4/3/2/1). */
  val tonePeriods: Array[Int] = Array(32, 48, 64, 96, 128, 192)

  /** The (id, t) → 16-bit sample formula behind [[toneAssets]] —
    * integer-only triangle wave, period by id % 6, per-id phase
    * offset; the p78 oracle replays it verbatim. */
  private[pipeline] def toneSample(id: Long, t: Int): Short = {
    val p = tonePeriods((id % 6).toInt)
    val v = ((t + id * 13) % p).toInt
    val a = 8192
    val s = if (v < p / 2) -a + (4 * a * v) / p else 3 * a - (4 * a * v) / p
    s.toShort
  }

  /** Deterministic real-WAV fixture: 1536 16-bit PCM samples (8 kHz,
    * mono, little-endian) of the integer triangle formula, in a true
    * WAVE container written by the JDK — the decode path runs on real
    * audio bytes, the oracle on the formula (PCM is lossless). */
  def toneAssets(spark: SparkSession, df: DataFrame, idCol: String): Dataset[Asset] = {
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id")).as[Long].mapPartitions { it =>
      it.map { id =>
        val n = audioFrames * 256
        val pcm = new Array[Byte](n * 2)
        val bb = java.nio.ByteBuffer.wrap(pcm).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        var t = 0
        while (t < n) { bb.putShort(toneSample(id, t)); t += 1 }
        val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        Asset(id, "audio", bos.toByteArray, "wav", 0, 0, n * 1000L / 8000L)
      }
    }
  }

  /** Per-frame dominant spectral peak of a 16-bit PCM asset: integer
    * DFT power over bins 1..8, argmax per 256-sample frame (ties → the
    * lowest bin). Decode + analysis are map-side; only (doc, frame,
    * peak_bin) rows ever shuffle. Returns nothing for non-audio,
    * undecodable, non-16-bit, or too-short payloads. */
  private[pipeline] def framePeaks(data: Array[Byte]): Option[Seq[(Int, Int)]] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(data))
      val fmt = ais.getFormat
      if (fmt.getSampleSizeInBits != 16) None
      else {
        val bytes = ais.readAllBytes()
        val order = if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
          else java.nio.ByteOrder.LITTLE_ENDIAN
        val samples = java.nio.ByteBuffer.wrap(bytes).order(order).asShortBuffer()
        if (samples.remaining() < audioFrames * 256) None
        else Some((0 until audioFrames).map { f =>
          var bestPower = -1L
          var bestBin = 0
          var ki = 0
          while (ki < 8) {
            var sc = 0L
            var ss = 0L
            var tt = 0
            while (tt < 256) {
              val s = samples.get(f * 256 + tt).toLong
              sc += s * dftCosTable(tt)(ki)
              ss += s * dftSinTable(tt)(ki)
              tt += 1
            }
            val power = sc * sc + ss * ss
            if (power > bestPower) { bestPower = power; bestBin = ki + 1 }
            ki += 1
          }
          (f, bestBin)
        })
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** (doc, frame, peak_bin) landmark frame over an asset table. */
  def audioPeaks(spark: SparkSession, assets: Dataset[Asset],
      batchSize: Int = 64): DataFrame = {
    import spark.implicits._
    assets.mapPartitions { it =>
      it.grouped(batchSize).flatMap(_.iterator.flatMap { a =>
        if (a.modality != "audio") Iterator.empty
        else framePeaks(a.data).iterator.flatMap(_.iterator.map {
          case (f, b) => (a.asset_id, f, b)
        })
      })
    }.toDF("doc", "frame", "peak_bin")
  }

  /** Audio match pairs: assets agreeing on the dominant peak in at
    * least `minFrames` of the analyzed frames — the landmark-keyed
    * equi-join shape (at production scale the key is the full
    * (anchor, target, Δt) constellation hash, which makes the join
    * key space enormous and the per-key groups tiny; the frame-peak
    * key here is the same dataflow with a coarser landmark). */
  def audioMatches(spark: SparkSession, assets: Dataset[Asset],
      minFrames: Long = 5, batchSize: Int = 64): DataFrame = {
    val pk = audioPeaks(spark, assets, batchSize)
    val a = pk.select(col("frame"), col("peak_bin"), col("doc").as("doc_a"))
    val b = pk.select(col("frame"), col("peak_bin"), col("doc").as("doc_b"))
    a.join(b, Seq("frame", "peak_bin"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_matched"))
      .where(col("n_matched") >= minFrames)
  }

  /** End-to-end multimodal curation loop over a WebDataset layout — the
    * composed form of the pieces above, run as ONE job the way a real
    * sample-dedup pass over crawl shards is: read tar shards whose
    * samples carry `<key>.png` + `<key>.wav` members, decode both
    * modalities with the real JDK codecs, find near-duplicate samples,
    * keep one canonical per cluster, and write the survivors back out
    * as curated tar shards (payloads intact, both parts).
    *
    * Duplicate semantics are CONSERVATIVE: a pair is a duplicate only
    * when BOTH modalities agree — image perceptual hashes within
    * `maxHamming` bits AND audio landmark peaks matching on ≥
    * `minFrames` frames. A sample missing a modality can never be
    * dropped (an inner join of the two pair sets — absent evidence is
    * not agreement). Clusters are connected components over the
    * intersected pairs; the canonical is the min-id member (the same
    * representative rule the text dedup path uses).
    *
    * Scale shape: payload bytes stay map-side end to end — each
    * modality's decode+feature pass is a `mapPartitions` over the tar
    * scan, and only 16-byte fingerprints / (frame, peak) landmark rows
    * ever shuffle. The image pair join is the banded-Hamming equi-join
    * (total recall within the radius, never all-pairs); audio pairs
    * join on the landmark key; components run through
    * [[Dedup.nearDupClusters]] (bounded driver union-find with the
    * distributed label-propagation fallback). The curated layout is
    * published with the same [[graft.sources.ShardCommit]] protocol as
    * every shard sink, plus a `_manifest` parquet (doc, cluster,
    * n_members) so downstream jobs need not recompute the clustering.
    *
    * @return the curated manifest READ BACK FROM THE OUTPUT — one row
    *         per kept sample, `(doc, cluster, n_members, n_parts)`,
    *         where `doc`/`n_parts` come from re-scanning the written
    *         tar shards and `cluster`/`n_members` from the manifest;
    *         a green oracle check on it proves the whole loop (tar in,
    *         decode, near-dup, canonical keep, tar out) end to end.
    *         Sample keys must parse as longs (the asset-id contract).
    */
  def curateShards(
      spark: SparkSession, inDir: String, outDir: String,
      maxHamming: Int = 4, minFrames: Long = 5, shards: Int = 4,
  ): DataFrame = {
    val members = tarMembers(spark, inDir)
    // both modalities must agree: inner join of the pair sets
    val imgPairs = imageNearDups(spark, assetsOf(members, "png", "image"), maxHamming)
      .select("doc_a", "doc_b")
    val audPairs = audioMatches(spark, assetsOf(members, "wav", "audio"), minFrames)
      .select("doc_a", "doc_b")
    val pairs = imgPairs.join(audPairs, Seq("doc_a", "doc_b"))

    val labels = Dedup.nearDupClusters(pairs) // (doc, label = min id reachable)
    val lab = members.select(col("id").as("doc")).distinct()
      .join(labels, Seq("doc"), "left")
      .select(col("doc"), coalesce(col("label"), col("doc")).as("cluster"))
    val manifest = lab.groupBy("cluster")
      .agg(min("doc").as("doc"), count(lit(1)).as("n_members"))
      .select("doc", "cluster", "n_members")

    // publish shards FIRST (writeShards clears outDir), manifest second.
    // AT MOST ONE payload exchange end-to-end: samples assemble
    // shard-locally in the tar scan (readSamplesLocal — members of a
    // sample are adjacent per the WebDataset convention); the kept join
    // carries no FORCED broadcast (at 1e8+ kept samples a corpus-sized
    // manifest broadcast is a driver-memory cliff — AQE still
    // broadcasts it when it fits, and then payloads never shuffle at
    // all); and the writer reuses the join's partitioning as the shard
    // layout (preShuffled — the full loop's shard count follows the
    // publish join's AQE-sized partitioning, not the `shards` knob,
    // which sizes the batch-scale incremental/streaming publishes).
    val kept = publishKept(spark, inDir, manifest)
    graft.sources.WebDataset.writeShards(kept, "key",
      Seq("png" -> col("png"), "wav" -> col("wav")), outDir, shards,
      preShuffled = true)
    manifest.write.mode("overwrite").parquet(s"$outDir/_manifest")

    // the RETURNED frame reads only the published artifacts — the check
    // sees what a downstream consumer of the curated layout sees
    readPublished(spark, outDir)
  }

  /** The png/wav members of the tar shards under `inDir`, as
    * (id long, ext, payload). */
  private def tarMembers(spark: SparkSession, inDir: String): DataFrame =
    membersOf(graft.sources.WebDataset.read(spark, s"$inDir/*.tar"))

  /** The png/wav rows of a WebDataset member frame (key, ext, payload),
    * as (id long, ext, payload). */
  private[graft] def membersOf(files: DataFrame): DataFrame =
    files.where(col("ext").isin("png", "wav"))
      .select(col("key").cast("long").as("id"), col("ext"), col("payload"))

  /** One modality's [[tarMembers]] rows as [[Asset]]s. */
  private def assetsOf(
      members: DataFrame, ext: String, modality: String): Dataset[Asset] =
    members.where(col("ext") === ext)
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.STRING, Encoders.BINARY))
      .map { case (id, e, data) => Asset(id, modality, data, e, 0, 0, 0L) }(
        Encoders.product[Asset])

  /** The curated manifest read back from a published output: one row
    * per sample in its tar shards, (doc, cluster, n_members, n_parts). */
  private def readPublished(spark: SparkSession, outDir: String): DataFrame =
    graft.sources.WebDataset.read(spark, s"$outDir/shard-*.tar")
      .groupBy(col("key").cast("long").as("doc"))
      .agg(countDistinct(col("ext")).as("n_parts"))
      .join(LayoutFiles.read(spark, s"$outDir/_manifest"), "doc")
      .select("doc", "cluster", "n_members", "n_parts")

  /** Write one batch's state partitions — `fp/batch=<id>` and
    * `peaks/batch=<id>` — as overwrites, so a replayed batch replaces
    * its rows instead of appending duplicates. */
  private def writeStateBatch(
      stateDir: String, batch: String, fp: DataFrame, peaks: DataFrame): Unit = {
    fp.write.mode("overwrite").parquet(s"$stateDir/fp/batch=$batch")
    peaks.write.mode("overwrite").parquet(s"$stateDir/peaks/batch=$batch")
  }

  /** The curated-shard publish frame: samples assembled SHARD-LOCALLY
    * from the input tars (zero-shuffle —
    * [[graft.sources.WebDataset.readSamplesLocal]]), inner-joined to
    * the kept manifest's keys with NO broadcast hint: the manifest is
    * corpus-sized in the full loop (one row per kept sample), so the
    * plan must stay valid when it does NOT fit on the driver — AQE
    * still broadcasts it when it actually fits. Payload bytes cross AT
    * MOST ONE exchange: the join's own shuffle when the manifest is
    * too big to broadcast (AQE sizes those partitions by bytes — the
    * right shard sizing at 100 TB), and NONE when it broadcasts.
    * Because a sample is one assembled row, any join output is
    * key-complete per partition, so `writeShards(preShuffled = true)`
    * emits it directly — one tar per join partition, no re-shard on
    * top (pinned by MultimodalPublishPlanSpec). `broadcastKeys` hints
    * a manifest known to be batch-sized.
    */
  private[graft] def publishKept(
      spark: SparkSession, inDir: String, manifest: DataFrame,
      broadcastKeys: Boolean = false): DataFrame = {
    val keys = manifest.select(col("doc").cast("string").as("key"))
    graft.sources.WebDataset
      .readSamplesLocal(spark, s"$inDir/*.tar", Seq("png", "wav"))
      .join(if (broadcastKeys) broadcast(keys) else keys, "key")
  }

  /** Persist the multimodal dedup state of a shard corpus — what a
    * recrawl needs to dedup a NEW batch against everything already
    * ingested without re-decoding it: `fp/` (doc, fp) image perceptual
    * hashes and `peaks/` (doc, frame, peak_bin) audio landmarks, for
    * ALL samples in `inDir` (kept and dropped alike — a batch doc
    * matching a previously-DROPPED doc is still a duplicate, the same
    * lesson [[TrainingPipeline.curateState]]'s band index encodes).
    * Fingerprint rows are ~16 bytes/doc and landmark rows
    * audioFrames/doc, so the state is a vanishing fraction of the
    * payload bytes it summarizes.
    *
    * Layout: each state advance lands in its own `batch=<id>` partition
    * subdirectory (`fp/batch=initial` here; [[curateShardsIncremental]]
    * adds `fp/batch=<batch-dir-id>`). A batch's advance is a plain
    * OVERWRITE of its own subdirectory — replaying a batch after a
    * partial failure replaces its rows instead of appending duplicates
    * (duplicate landmark rows would multiply the audio-match counts and
    * falsely contaminate future batches — r15 ADVICE). Readers see one
    * logical table via partition discovery and select (doc, fp) /
    * (doc, frame, peak_bin), dropping the batch column.
    */
  def writeMmState(
      spark: SparkSession, inDir: String, dir: String, batchSize: Int = 64,
  ): Unit = {
    // initialize = clear any prior state wholesale, then write batch=initial
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir, "fp"), true)
    fs.delete(new org.apache.hadoop.fs.Path(dir, "peaks"), true)
    val members = tarMembers(spark, inDir)
    writeStateBatch(dir, "initial",
      imagePhashes(spark, assetsOf(members, "png", "image"), batchSize),
      audioPeaks(spark, assetsOf(members, "wav", "audio"), batchSize))
  }

  /** Stable per-batch state-partition id: the batch dir's basename
    * (sanitized) plus a hash of the full path — deterministic across
    * reruns of the same batch, distinct across batches. The leading
    * 'b' keeps partition-value type inference on the string side even
    * for all-digit names.
    */
  private[graft] def batchStateId(inDir: String): String = {
    val base = new org.apache.hadoop.fs.Path(inDir).getName
      .replaceAll("[^A-Za-z0-9._-]", "_")
    f"b${base}_${inDir.hashCode & 0x7fffffff}%08x"
  }

  /** Incremental [[curateShards]]: curate a NEW batch of tar shards
    * against persisted [[writeMmState]] state — the multimodal recrawl
    * shape, mirroring [[TrainingPipeline.curateIncremental]].
    *
    * A batch sample drops when (a) BOTH its modalities match a prior
    * sample (same intersection rule as the full loop), or (b) it
    * clusters with a smaller-id batch sample, or (c) ANY member of its
    * batch cluster matches prior — in the full run that whole cluster
    * merges into the prior sample's component, whose representative is
    * a prior doc, so no member of it survives. With batch ids larger
    * than all prior ids, the kept-batch set equals
    * `curateShards(prior ∪ batch)` restricted to batch ids EXACTLY —
    * including when a batch doc bridges two prior clusters (the bridge
    * re-elects prior representatives, but those are not batch ids, so
    * the batch-restricted outputs still agree; the p118 oracle pins
    * this by replaying the FULL run and restricting).
    *
    * Cost: the batch decodes once; the prior corpus is touched only
    * through its fingerprint/landmark state (banded equi-joins — the
    * probe side is batch-sized). On success the batch's fingerprints
    * and landmarks APPEND to the state, so recrawls chain.
    *
    * @return curated batch manifest read back from the published
    *         output, (doc, cluster, n_members, n_parts) — cluster and
    *         membership over the BATCH's own clusters
    */
  def curateShardsIncremental(
      spark: SparkSession, stateDir: String, inDir: String, outDir: String,
      maxHamming: Int = 4, minFrames: Long = 5, shards: Int = 4,
  ): DataFrame = {
    val members = tarMembers(spark, inDir)
    // "prior" = every state partition EXCEPT this batch's own. On a
    // replay (partial-failure rerun, double-submitted dir) the earlier
    // run's batch=<bid> partition is already on disk; reading it back
    // as prior would self-match every sample (hamming 0, all frames),
    // mark the whole batch contaminated, and the rerun would publish an
    // empty manifest over the previously-good shards (r16 ADVICE).
    // Excluding the batch's own partition makes the replay see exactly
    // the state the first run saw — idempotent by construction. The
    // batch column itself is then dropped: the pair joins key on
    // (doc, fp) / (doc, frame, peak_bin) only.
    val bid = batchStateId(inDir)
    val fpP = spark.read.parquet(s"$stateDir/fp")
      .where(col("batch") =!= bid).select("doc", "fp")
    val pkP = spark.read.parquet(s"$stateDir/peaks")
      .where(col("batch") =!= bid).select("doc", "frame", "peak_bin")
    val (manifest, fpB, pkB) =
      curateBatchCore(spark, members, fpP, pkP, maxHamming, minFrames)

    // the manifest IS batch-sized here, so the broadcast hint is right —
    // the writer's own repartition is then the single payload-bytes
    // exchange
    val kept = publishKept(spark, inDir, manifest, broadcastKeys = true)
    graft.sources.WebDataset.writeShards(kept, "key",
      Seq("png" -> col("png"), "wav" -> col("wav")), outDir, shards)
    manifest.write.mode("overwrite").parquet(s"$outDir/_manifest")

    // advance the state: the WHOLE batch's fingerprints (kept and
    // dropped — the next batch must dedup against both) land in this
    // batch's OWN batch=<id> partition as an overwrite, so replaying a
    // batch (partial-failure rerun, double-submitted dir) replaces its
    // rows instead of appending duplicates (r15 ADVICE)
    writeStateBatch(stateDir, bid, fpB, pkB)
    readPublished(spark, outDir)
  }

  /** The batch-against-prior curation core shared by
    * [[curateShardsIncremental]] (parquet state) and
    * [[graft.streaming.StreamingMultimodal]] (rolling checkpointed
    * state): decode the batch once per modality, find samples whose
    * BOTH modalities match prior, cluster the batch internally, drop
    * whole contaminated clusters, keep min-id canonicals.
    *
    * @param members (id long, ext in {png,wav}, payload) batch rows
    * @return (manifest (doc, cluster, n_members) of KEPT batch samples,
    *         batch fingerprints (doc, fp), batch landmarks
    *         (doc, frame, peak_bin)) — fp/peaks are OperatorCache-
    *         materialized; the caller owns the release
    */
  private[graft] def curateBatchCore(
      spark: SparkSession, members: DataFrame,
      fpPrior: DataFrame, pkPrior: DataFrame,
      maxHamming: Int, minFrames: Long,
  ): (DataFrame, DataFrame, DataFrame) = {
    // decode once per modality; both pair joins reuse the cached frames
    val fpB = OperatorCache.materialize(
      imagePhashes(spark, assetsOf(members, "png", "image")))
    val pkB = OperatorCache.materialize(
      audioPeaks(spark, assetsOf(members, "wav", "audio")))

    def audioPairs(a: DataFrame, b: DataFrame): DataFrame =
      a.toDF("doc_a", "frame", "peak_bin")
        .join(b.toDF("doc_b", "frame", "peak_bin"), Seq("frame", "peak_bin"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_matched"))
        .where(col("n_matched") >= minFrames)
        .select("doc_a", "doc_b")

    // (a) contaminated: both modalities match some prior doc
    val contaminated = Dedup.simhashCandidatesBetween(fpB, fpPrior, maxHamming)
      .select("doc_a", "doc_b")
      .join(audioPairs(pkB, pkPrior), Seq("doc_a", "doc_b"))
      .select(col("doc_a").as("doc")).distinct()

    // (b)+(c): batch-internal clusters, whole cluster drops if any
    // member is contaminated
    val bbPairs = Dedup.simhashCandidatesFromFp(fpB, maxHamming)
      .select("doc_a", "doc_b")
      .join(audioPairs(pkB, pkB).where(col("doc_a") < col("doc_b")),
        Seq("doc_a", "doc_b"))
    val labels = Dedup.nearDupClusters(bbPairs)
    val lab = members.select(col("id").as("doc")).distinct()
      .join(labels, Seq("doc"), "left")
      .select(col("doc"), coalesce(col("label"), col("doc")).as("cluster"))
    val dirty = lab.join(contaminated, Seq("doc"))
      .select(col("cluster")).distinct()
    val manifest = lab.join(broadcast(dirty), Seq("cluster"), "left_anti")
      .groupBy("cluster")
      .agg(min("doc").as("doc"), count(lit(1)).as("n_members"))
      .select("doc", "cluster", "n_members")
    (manifest, fpB, pkB)
  }

  /** Deterministic REAL-payload fixture table: actual PNG bytes (solid
    * id-derived color, id-derived small dimensions), actual 16-bit
    * PCM WAV bytes (id-derived frequency sine), and actual MJPEG AVI
    * bytes (id-derived gradient frames) — generated with the same JDK
    * codecs the decoders use, so every decode path is exercised on
    * true containers end-to-end.
    */
  def realAssets(spark: SparkSession, df: DataFrame, idCol: String): Dataset[Asset] = {
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id")).as[Long].mapPartitions { it =>
      it.map { id =>
        (id % 3) match {
          case 0 =>
            val w = (16 + (id % 48)).toInt
            val h = (16 + (id % 32)).toInt
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val rgb = ((id * 2654435761L) & 0xFFFFFF).toInt
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) { img.setRGB(x, y, rgb); x += 1 }
              y += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", bos)
            Asset(id, "image", bos.toByteArray, "png", w, h, 0L)
          case 1 =>
            val sampleRate = 8000f
            val ms = (100 + (id % 400)).toInt
            val freq = 200.0 + (id % 1000)
            val n = (sampleRate * ms / 1000).toInt
            val pcm = new Array[Byte](n * 2)
            val bb = java.nio.ByteBuffer.wrap(pcm)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            var i = 0
            while (i < n) {
              bb.putShort((math.sin(2 * math.Pi * freq * i / sampleRate) * 16384).toShort)
              i += 1
            }
            val fmt = new javax.sound.sampled.AudioFormat(sampleRate, 16, 1, true, false)
            val ais = new javax.sound.sampled.AudioInputStream(
              new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
            val bos = new java.io.ByteArrayOutputStream()
            javax.sound.sampled.AudioSystem.write(ais,
              javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
            Asset(id, "audio", bos.toByteArray, "wav", 0, 0, ms.toLong)
          case _ =>
            val frames = (0 until 4).map { f =>
              Array.tabulate(32, 32)((y, x) =>
                ((x * 8 + y * 4 + f * 16 + id * 7) % 256).toInt)
            }
            Asset(id, "video", writeAviGray(frames, 32, 32, mjpeg = true),
              "avi", 32, 32, 4 * 40L)
        }
      }
    }
  }
}
