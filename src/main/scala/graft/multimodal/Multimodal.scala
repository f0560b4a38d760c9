package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video payloads as opaque `binary`
  * columns with a typed metadata struct, plus per-partition batch decode and
  * feature extraction.
  *
  * Decode dispatches on `format`: image formats (png/jpeg/bmp/gif/wbmp) go
  * through `javax.imageio.ImageIO` — part of JDK 17's `java.desktop`, no new
  * dependency — so width/height/channels are the real container values and
  * `resize` samples real decoded pixels. Non-image formats (`raw`, and
  * audio/video containers no JDK codec exists for) fall back to a
  * clearly-marked deterministic STUB that derives pseudo-dimensions from the
  * payload bytes, keeping the pipeline total and the q28 oracle exact.
  * Either way the plan shape is identical: decode is a map-only
  * `mapPartitions` over binary batches — the same execution shape a Pandas
  * `mapInPandas` decode has in PySpark.
  */
object Multimodal {

  case class Media(media_id: Long, format: String, content: Array[Byte])
  case class MediaFeatures(media_id: Long, format: String, n_bytes: Int,
                           width: Int, height: Int, channels: Int,
                           mean_byte: Double, byte_entropy: Double)

  /** Wrap any table with a binary payload column into the media schema.
    * (The driver testdata has no real media, so callers typically encode the
    * `documents.text` bytes as the payload — the plumbing is identical.) */
  def asMedia(df: DataFrame, idCol: String, payloadExpr: String,
              format: String = "raw"): Dataset[Media] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.selectExpr(s"cast($idCol AS bigint) AS media_id",
        s"'$format' AS format", s"$payloadExpr AS content").as[Media]
  }

  /** STUB decoder for non-image payloads: deterministic pseudo-dimensions
    * derived from the payload bytes (mirrored exactly in the q28 oracle SQL).
    * The return contract (width/height/channels) is the real one. */
  private[multimodal] def decodeStub(bytes: Array[Byte]): (Int, Int, Int) = {
    // ??? no JDK codec for this format — deterministic fake:
    val b0 = if (bytes.nonEmpty) bytes(0) & 0xff else 0
    val b1 = if (bytes.length > 1) bytes(1) & 0xff else 0
    (64 + (bytes.length % 512), 64 + (b0 * 256 + b1) % 512, 3)
  }

  /** Formats JDK 17's ImageIO decodes out of the box. */
  private val ImageFormats = Set("png", "jpeg", "jpg", "bmp", "gif", "wbmp")

  /** A decoded payload: real dimensions plus (for real images) the raster.
    * `pixel` is the nearest-neighbour source accessor `resize` samples. */
  private[multimodal] final case class Decoded(
      width: Int, height: Int, channels: Int,
      raster: Option[java.awt.image.Raster]) {
    def pixel(bytes: Array[Byte], x: Int, y: Int, ch: Int): Byte = raster match {
      case Some(r) => r.getSample(x, y, ch).toByte
      case None =>
        // stub pixel source: payload bytes reinterpreted row-major
        val si = (y * width + x) * channels + ch
        if (bytes.isEmpty) 0 else bytes(si % bytes.length)
    }
  }

  /** Format-dispatched decode: ImageIO for image formats (real container
    * dimensions + raster), stub for everything else. A corrupt image payload
    * also falls back to the stub — decode is total, the error-tolerance
    * contract every large-scale ingest needs (a poison row must not kill the
    * partition). */
  private[multimodal] def decode(format: String, bytes: Array[Byte]): Decoded = {
    val img =
      if (ImageFormats.contains(format.toLowerCase(java.util.Locale.ROOT)))
        // MemoryCacheImageInputStream: ImageIO.read(InputStream) would
        // otherwise spill through a disk-backed scratch file PER ROW
        // (ImageIO.getUseCache defaults to true) — per-row filesystem I/O
        // on the hot mapPartitions path
        try {
          val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(bytes))
          // ImageIO.read(ImageInputStream) closes the stream itself; a
          // second close() throws IOException("closed"), so only clean up
          // on the exception path (where read never reached its close)
          try Option(javax.imageio.ImageIO.read(iis))
          catch { case e: Exception =>
            try iis.close() catch { case _: java.io.IOException => () }
            throw e
          }
        } catch { case _: Exception => None }
      else None
    img match {
      case Some(bi) =>
        Decoded(bi.getWidth, bi.getHeight, bi.getRaster.getNumBands, Some(bi.getRaster))
      case None =>
        val (w, h, c) = decodeStub(bytes)
        Decoded(w, h, c, None)
    }
  }

  /** Per-partition batched feature extraction — the Scala analogue of a
    * Pandas-UDF `mapInPandas` decode: one iterator per partition, no
    * per-row UDF dispatch, map-only (no shuffle). */
  def extractFeatures(media: Dataset[Media]): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        val bytes = m.content
        val d = decode(m.format, bytes)
        val (w, h, c) = (d.width, d.height, d.channels)
        val counts = new Array[Long](256)
        var sum = 0L
        var i = 0
        while (i < bytes.length) {
          val b = bytes(i) & 0xff
          counts(b) += 1
          sum += b
          i += 1
        }
        val n = bytes.length.toDouble
        var ent = 0.0
        if (bytes.nonEmpty) {
          var j = 0
          while (j < 256) {
            if (counts(j) > 0) {
              val p = counts(j) / n
              ent -= p * math.log(p) / math.log(2.0)
            }
            j += 1
          }
        }
        MediaFeatures(m.media_id, m.format, bytes.length, w, h, c,
          if (bytes.isEmpty) 0.0 else sum / n, ent)
      }
    }
  }

  /** Perceptual hash (aHash): nearest-neighbour-downsample the decoded
    * pixels to an 8x8 grayscale grid, threshold each cell at the integer
    * grid mean, pack the 64 bits into a 16-hex-char signature (byte k =
    * cells 8k..8k+7, LSB-first — hex avoids the 64-bit signed-shift
    * overflow `SignSketch` documents for bit 63). Map-only batched decode
    * like `extractFeatures`; integer-only arithmetic, so the stub path is
    * reproduced exactly by the q144 oracle SQL (the q28 contract). Real
    * rasters hash their true pixels — same grid, same packing. */
  def perceptualHash(media: Dataset[Media]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.map(m => (m.media_id, m.format, ahashHex(decode(m.format, m.content), m.content)))
    }.toDF("media_id", "format", "phash")
  }

  /** The aHash core shared by `perceptualHash` and `sceneCuts`: 8x8 grid
    * grays over the decoded payload, grid-mean threshold, 16-hex packing
    * (byte k = cells 8k..8k+7, LSB-first). */
  private[multimodal] def ahashHex(d: Decoded, bytes: Array[Byte]): String = {
    val (w, h, c) = (d.width, d.height, d.channels)
    val grays = new Array[Long](64)
    var j = 0
    while (j < 64) {
      val sx = (j % 8) * w / 8
      val sy = (j / 8) * h / 8
      var s = 0L
      var ch = 0
      while (ch < c) { s += d.pixel(bytes, sx, sy, ch) & 0xff; ch += 1 }
      grays(j) = if (c == 0) 0L else s / c
      j += 1
    }
    val mean = grays.sum / 64
    val sb = new StringBuilder(16)
    var k = 0
    while (k < 8) {
      var b = 0
      var i = 0
      while (i < 8) {
        if (grays(8 * k + i) >= mean) b |= 1 << i
        i += 1
      }
      sb.append(f"$b%02x")
      k += 1
    }
    sb.toString
  }

  /** Scene-cut detection on video-like payloads: stride through the payload
    * in `frameSize` blocks, aHash every frame
    * with the SAME grid/mean/packing as `perceptualHash` (stub decode — the
    * q28/q144 contract: exact integer math the oracle reproduces; a real
    * codec would slot in at `decode`), then flag transitions whose
    * successive-frame Hamming distance reaches `cutDist`. Frame hashing is
    * map-only; the only shuffle is the per-media window over frame_idx
    * (frames-per-payload rows per key — bounded by payload size, and each
    * media key is independent so 1000 executors each chew their own
    * videos). Output (one row per frame AFTER the first):
    * (media_id, frame_idx, hamming, is_cut). */
  def sceneCuts(media: Dataset[Media], frameSize: Int = 48, stride: Int = 1,
                cutDist: Int = 48): DataFrame = {
    require(frameSize >= 1 && stride >= 1 && cutDist >= 0 && cutDist <= 64)
    val spark = media.sparkSession
    import spark.implicits._
    val sigs = media.flatMap { m =>
      val n = m.content.length
      (0 until n by frameSize * stride).zipWithIndex.map { case (off, idx) =>
        val frame = java.util.Arrays.copyOfRange(m.content, off,
          math.min(off + frameSize, n))
        (m.media_id, idx.toLong, ahashHex(decode("raw", frame), frame))
      }
    }.toDF("media_id", "frame_idx", "phash")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("media_id").orderBy("frame_idx")
    val ham = (0 until 4).map(k =>
      s"""bit_count(
            cast(conv(substring(phash, ${k * 4 + 1}, 4), 16, 10) AS BIGINT) ^
            cast(conv(substring(prev, ${k * 4 + 1}, 4), 16, 10) AS BIGINT))""")
      .mkString(" + ")
    sigs.withColumn("prev", lag("phash", 1).over(w))
      .filter(col("prev").isNotNull)
      .withColumn("hamming", expr(s"CAST($ham AS BIGINT)"))
      .select(col("media_id"), col("frame_idx"), col("hamming"),
        expr(s"CAST(IF(hamming >= $cutDist, 1, 0) AS BIGINT)").as("is_cut"))
  }

  /** Hamming-banded near-duplicate pairs over perceptual hashes: the
    * `Dedup.simhashPairs` shape on the 16-hex signature — 4 bands of 16
    * bits, candidates share at least one equal band (pigeonhole-complete
    * for distance <= 3), exact Hamming verification on the candidates via
    * per-band XOR popcounts. Cost ~ band-bucket collisions, never pairs².
    * Output: (media_a, media_b, hamming <= maxDist). */
  def phashPairs(sigs: DataFrame, maxDist: Int = 3): DataFrame = {
    import org.apache.spark.sql.functions._
    require(maxDist >= 0 && maxDist <= 64)
    val banded = sigs.select(col("media_id"), col("phash"),
        explode(expr(
          """transform(sequence(0, 3),
               k -> struct(k AS k, substring(phash, k * 4 + 1, 4) AS band))""")).as("b"))
      .select(col("media_id"), col("phash"), col("b.k"), col("b.band"))
    val ham = (0 until 4).map(k =>
      s"""bit_count(
            cast(conv(substring(a.phash, ${k * 4 + 1}, 4), 16, 10) AS BIGINT) ^
            cast(conv(substring(b.phash, ${k * 4 + 1}, 4), 16, 10) AS BIGINT))""")
      .mkString(" + ")
    banded.as("a")
      .join(banded.hint("SHUFFLE_HASH").as("b"),
        col("a.k") === col("b.k") && col("a.band") === col("b.band") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("media_a"), col("b.media_id").as("media_b"),
        expr(s"CAST($ham AS BIGINT)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** Energy-based activity segmentation on audio-like payloads (the VAD /
    * silence-trim plumbing a speech-data pipeline runs before transcription):
    * reinterpret the payload as big-endian s16 samples (stub decode — the
    * q28/q144 contract; a real codec slots in at `decode`), frame them
    * `frameSamples` at a time (full frames only), mark frames whose energy
    * is strictly above the payload's mean frame energy, and count the
    * maximal active runs. All integer arithmetic (sum-of-squares energies,
    * cross-multiplied mean compare), so the oracle reproduces it exactly;
    * per-payload work is local — map-only, no shuffle. Payloads with no
    * full frame are dropped. Output: (media_id, n_frames, n_active,
    * n_segments, active_ratio, mean_energy). */
  def energySegments(media: Dataset[Media], frameSamples: Int = 16): DataFrame = {
    require(frameSamples >= 1 && frameSamples <= 65536,
      s"bad frameSamples $frameSamples")
    val spark = media.sparkSession
    import spark.implicits._
    media.flatMap { m =>
      val bs = m.content
      val nFrames = (bs.length / 2) / frameSamples
      if (nFrames < 1) None
      else {
        val energies = Array.tabulate(nFrames) { f =>
          var a = 0L
          var j = 0
          while (j < frameSamples) {
            val i = (f * frameSamples + j) * 2
            val s = (((bs(i) & 0xff) << 8) | (bs(i + 1) & 0xff)) - 32768
            a += s.toLong * s
            j += 1
          }
          a
        }
        val total = energies.sum
        val active = energies.map(e => e * nFrames > total)
        val nActive = active.count(identity)
        val nSeg = active.indices
          .count(i => active(i) && (i == 0 || !active(i - 1)))
        val ratio = BigDecimal(nActive.toDouble / nFrames)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        Some((m.media_id, nFrames.toLong, nActive.toLong, nSeg.toLong,
          ratio, total / nFrames))
      }
    }.toDF("media_id", "n_frames", "n_active", "n_segments",
      "active_ratio", "mean_energy")
  }

  /** Nearest-neighbour resize: row-major nearest source-pixel mapping over
    * the decoded pixels — the real raster for image formats, the payload
    * bytes reinterpreted at the stub dimensions otherwise. Map-only, no
    * shuffle; batching and plan shape are identical either way. */
  def resize(media: Dataset[Media], outW: Int, outH: Int): DataFrame = {
    require(outW > 0 && outH > 0)
    // 4 channels is the ceiling any decoder here returns; guard the
    // outW*outH*c buffer against Int overflow
    require(outW.toLong * outH * 4 <= Int.MaxValue,
      s"output buffer ${outW}x$outH exceeds a JVM array")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        val d = decode(m.format, m.content)
        val (w, h, c) = (d.width, d.height, d.channels)
        val out = new Array[Byte](outW * outH * c)
        var y = 0
        while (y < outH) {
          val sy = y * h / outH
          var x = 0
          while (x < outW) {
            val sx = x * w / outW
            var ch = 0
            while (ch < c) {
              out((y * outW + x) * c + ch) = d.pixel(m.content, sx, sy, ch)
              ch += 1
            }
            x += 1
          }
          y += 1
        }
        (m.media_id, outW, outH, c, out)
      }
    }.toDF("media_id", "width", "height", "channels", "pixels")
  }
}
