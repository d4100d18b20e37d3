package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for training-data pipelines: media
  * payloads ride as opaque `binary` columns with typed metadata
  * structs; decode / feature-extract / frame-sample run as
  * per-partition batch transforms over the binary payloads (the Scala
  * analogue of arrow-batched Python UDFs: one iterator pass per
  * partition, no per-row driver interaction, schema declared up
  * front).
  *
  * DECODE STATUS: images and audio are REALLY decoded in pure
  * JVM — uncompressed BMP, binary PPM and PCM WAV via hand parsers
  * (`decodeMedia`: header parse + content statistics from the actual
  * payload bytes), JPEG/PNG/GIF via the JDK's own `javax.imageio`
  * readers (headless-safe, zero native dependencies), and COMPRESSED
  * audio via [[FlacCodec]] — a full FLAC bitstream decoder (rice
  * residuals, fixed + LPC predictors, stereo decorrelation, CRC
  * verification; public format, RFC 9639) — and [[AdpcmCodec]] — IMA
  * ADPCM inside the WAV container (4 bits/sample adaptive
  * differential coding, format tag 0x11) — plus ITU-T G.711 µ-law and
  * A-law WAV (format tags 7/6), expanded by the published formulas.
  * MPEG-audio Layer I payloads get a REAL content decode
  * ([[Mp3Codec.decodeLayer1]] — the one MPEG layer whose bitstream is
  * entirely formulaic, zero transcribed tables). Layer II/III MP3
  * payloads get a REAL frame-header walk ([[Mp3Codec]]: exact
  * channels / sample rate / per-channel sample count from the frame
  * sequence), MP4/M4A/MOV a REAL ISO-BMFF box walk ([[Mp4Codec]]:
  * exact dimensions / duration / audio shape from the moov tree), and
  * Ogg (Opus/Vorbis) a REAL CRC-verified page walk ([[OggCodec]]:
  * channels + rate from the id header, samples from granule
  * positions) — but their content statistics stay stub-derived with
  * `decoded=false`: the payloads are H.264/AAC/Opus/MDCT bitstreams,
  * and their decode tables (Layer II allocation B.2, Layer III
  * huffman B.7, synthesis window B.3) cannot be reproduced from
  * memory with confidence. Codecs the JVM genuinely lacks
  * fall back to `decodeStub` —
  * deterministic fake features from the payload md5, clearly flagged
  * `decoded=false`. The schema, partitioning, batch iteration and
  * column plumbing are identical on both paths: swap the stub for a
  * codec and nothing else moves. Every decoder treats its input as
  * UNTRUSTED: malformed headers (negative chunk sizes, out-of-range
  * offsets, overlong header integers) degrade to the stub path
  * instead of throwing or looping — a corrupt payload must never
  * kill the executor task.
  *
  * Scale notes: binary payloads stay columnar in parquet and are never
  * shuffled by these operators (all transforms are narrow maps);
  * feature vectors (small) are what downstream joins/aggregations
  * shuffle. Frame sampling emits (media_id, frame_no, frame_bytes)
  * with explode — still narrow.
  */
object Multimodal {

  case class MediaRow(media_id: Long, kind: String, bytes: Array[Byte])

  case class MediaFeatures(
      media_id: Long, n_bytes: Long,
      f0: Long, f1: Long, f2: Long, f3: Long)

  /** Deterministic fake "decode": md5 the payload, derive 4 feature
    * ints from the digest. ??? -> replace with a real codec. */
  private[operators] def decodeStub(bytes: Array[Byte]): (Long, Long, Long, Long) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(bytes)
    def u16(i: Int): Long = ((h(i) & 0xffL) << 8) | (h(i + 1) & 0xffL)
    (u16(0), u16(2), u16(4), u16(6))
  }

  /** Real decode output: container metadata + a content statistic
    * (mean sample/pixel value), all derived from the actual payload
    * bytes. `decoded=false` marks payloads that fell back to the
    * stub path (compressed codecs, corrupt headers). */
  case class MediaDecoded(media_id: Long, kind: String, n_bytes: Long,
      width: Long, height: Long, channels: Long, sample_rate: Long,
      n_samples: Long, mean_value: Long, decoded: Boolean)

  private def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

  /** Uncompressed BITMAPINFOHEADER BMP: (width, height, channels,
    * floor(mean pixel byte)). Rows are 4-byte padded; padding bytes
    * are excluded from the mean. Rejects compressed BMPs. */
  private[operators] def decodeBmp(b: Array[Byte])
      : Option[(Long, Long, Long, Long)] = {
    if (b.length < 54 || b(0) != 'B' || b(1) != 'M') return None
    val dataOff = le32(b, 10).toInt
    val width = le32(b, 18).toInt
    val height = math.abs(le32(b, 22).toInt)
    val bpp = le16(b, 28)
    val compression = le32(b, 30)
    if (compression != 0 || width <= 0 || height == 0 ||
      (bpp != 8 && bpp != 24 && bpp != 32)) return None
    val chans = bpp / 8
    // long math end-to-end: a hostile width (~2^29 × 4 channels) would
    // overflow an int rowBytes/stride and sneak past the bounds check
    val rowBytes = width.toLong * chans
    val stride = (rowBytes + 3) / 4 * 4
    // dataOff from the wire can be negative (0xFFFFFFFF.toInt) — the
    // product check alone still passes, then b(negative) would throw
    if (dataOff < 0 || dataOff.toLong + stride * height > b.length) return None
    var sum = 0L
    var row = 0
    while (row < height) {
      var i = dataOff + (row * stride).toInt
      val end = i + rowBytes.toInt
      while (i < end) { sum += b(i) & 0xff; i += 1 }
      row += 1
    }
    val n = rowBytes * height
    Some((width.toLong, height.toLong, chans.toLong,
      if (n == 0) 0L else Math.floorDiv(sum, n)))
  }

  /** Binary PPM (P6): ASCII header `P6 <w> <h> <maxval>` with
    * #-comments, one whitespace, then w*h*3 RGB bytes. Returns
    * (width, height, floor(mean byte)). Header scan shared with the
    * perceptual-hash raster reader via [[ppmHeader]]; digit runs
    * longer than 9 chars are rejected there (untrusted input would
    * otherwise overflow toInt). */
  private[operators] def decodePpm(b: Array[Byte])
      : Option[(Long, Long, Long)] =
    ppmHeader(b).map { case (w, h, pos) =>
      val n = math.min(w.toLong * h * 3, (b.length - pos).toLong)
      var sum = 0L
      var i = pos
      while (i < pos + n) { sum += b(i) & 0xff; i += 1 }
      (w.toLong, h.toLong, if (n == 0) 0L else Math.floorDiv(sum, n))
    }

  /** ITU-T G.711 µ-law expansion, byte → 16-bit linear PCM. The
    * formula is the published one (complement, 3-bit exponent, 4-bit
    * mantissa, bias 0x84) — no lookup table to get wrong. */
  private[operators] def ulawToLinear(byte: Byte): Int = {
    val u = ~byte & 0xff
    val t = (((u & 0x0f) << 3) + 0x84) << ((u & 0x70) >> 4)
    if ((u & 0x80) != 0) 0x84 - t else t - 0x84
  }

  /** ITU-T G.711 A-law expansion, byte → 16-bit linear PCM (XOR 0x55,
    * segmented: segment 0 adds 8, higher segments add 0x108 and shift). */
  private[operators] def alawToLinear(byte: Byte): Int = {
    val a = (byte ^ 0x55) & 0xff
    val seg = (a & 0x70) >> 4
    val t = (a & 0x0f) << 4
    val mag = seg match {
      case 0 => t + 8
      case 1 => t + 0x108
      case _ => (t + 0x108) << (seg - 1)
    }
    if ((a & 0x80) != 0) mag else -mag
  }

  /** WAV (RIFF/WAVE): PCM (fmt audioFormat=1, 8- or 16-bit) decoded
    * inline; IMA ADPCM (audioFormat=0x11, 4-bit — a REAL compressed
    * codec) via [[AdpcmCodec]]; ITU-T G.711 A-law (audioFormat=6) and
    * µ-law (audioFormat=7) expanded to linear PCM via the published
    * formulas. Returns (channels, sample_rate, n_samples per channel,
    * floor(mean |amplitude|)) on every path — identical stat contract,
    * so downstream never sees which container coding was used. Other
    * format tags fall to the stub path. */
  /** RIFF/WAVE chunk walk shared by the stat decode and the audio
    * fingerprint: ((audioFormat, channels, rate, blockAlign, bits),
    * (data offset, clamped data length)). */
  private def riffFmtData(b: Array[Byte])
      : Option[((Int, Int, Long, Int, Int), (Int, Int))] = {
    if (b.length < 44 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' ||
      b(3) != 'F' || b(8) != 'W' || b(9) != 'A' || b(10) != 'V' ||
      b(11) != 'E') return None
    var pos = 12
    var fmt: Option[(Int, Int, Long, Int, Int)] = None
    var data: Option[(Int, Int)] = None // offset, length
    while (pos + 8 <= b.length) {
      val id = new String(b, pos, 4, "US-ASCII")
      val size = le32(b, pos + 4).toInt
      // a hostile chunk size like 0xFFFFFFF7 goes negative after toInt
      // and would advance pos by <= 0 — an infinite loop on the
      // executor; truncated-but-positive sizes stay tolerated (the
      // data chunk clamps to the buffer below, and pos then walks
      // past b.length ending the loop)
      if (size < 0) return None
      if (id == "fmt " && size >= 16 && pos + 8 + 16 <= b.length) {
        fmt = Some((le16(b, pos + 8), le16(b, pos + 10), le32(b, pos + 12),
          le16(b, pos + 20), le16(b, pos + 22)))
      } else if (id == "data") {
        data = Some((pos + 8, math.min(size, b.length - pos - 8)))
      }
      pos += 8 + size + (size & 1) // chunks are word-aligned
    }
    for (f <- fmt; d <- data) yield (f, d)
  }

  private[operators] def decodeWav(b: Array[Byte])
      : Option[(Long, Long, Long, Long)] = {
    val parsed = riffFmtData(b)
    for {
      ((audioFormat, chans, rate, blockAlign, bits), (off, len)) <- parsed
      if chans > 0
      stats <- audioFormat match {
        case 1 if bits == 8 || bits == 16 =>
          val bytesPerSample = bits / 8
          val nTotal = len / bytesPerSample
          var sum = 0L
          var i = 0
          while (i < nTotal) {
            val v =
              if (bits == 8) (b(off + i) & 0xff) - 128 // 8-bit WAV is unsigned
              else le16(b, off + i * 2).toShort.toInt
            sum += math.abs(v)
            i += 1
          }
          Some((nTotal.toLong / chans,
            if (nTotal == 0) 0L else Math.floorDiv(sum, nTotal.toLong)))
        case 0x11 if bits == 4 =>
          AdpcmCodec.decodeData(b, off, len, chans, blockAlign)
        case 6 | 7 if bits == 8 => // G.711 A-law / µ-law
          var sum = 0L
          var i = 0
          while (i < len) {
            val v =
              if (audioFormat == 7) ulawToLinear(b(off + i))
              else alawToLinear(b(off + i))
            sum += math.abs(v)
            i += 1
          }
          Some((len.toLong / chans,
            if (len == 0) 0L else Math.floorDiv(sum, len.toLong)))
        case _ => None // other compressed tags: stub path
      }
    } yield (chans.toLong, rate, stats._1, stats._2)
  }

  /** Decompression-bomb ceiling for imageio decodes: a payload whose
    * HEADER declares more pixels than this falls back to the stub
    * before any raster is allocated. 16M pixels x 4 bands x 1 byte
    * ~= 64 MiB per in-flight image — safe at 32 concurrent tasks. */
  private[operators] val MaxDecodePixels: Long = 16L * 1024 * 1024

  /** Compressed-image decode through the JDK's own `javax.imageio`
    * readers (JPEG/PNG/GIF/and BMP again — all built into the JRE,
    * headless-safe, no native libraries): (width, height, bands,
    * floor(mean sample value over every band)). Returns None when no
    * registered reader recognizes the payload, or when the declared
    * dimensions exceed [[MaxDecodePixels]] — probed header-only via
    * `ImageReader.getWidth/getHeight` BEFORE the raster decode, so a
    * tiny bomb payload declaring a huge canvas never allocates the
    * w*h*bands raster (an OOM there is an Error the Try wrapper in
    * [[decodeMedia]] would not catch). */
  private[operators] def decodeImageIO(b: Array[Byte])
      : Option[(Long, Long, Long, Long)] = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(b))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) return None
      val reader = readers.next()
      try {
        reader.setInput(iis, true, true)
        val dw = reader.getWidth(0).toLong
        val dh = reader.getHeight(0).toLong
        if (dw <= 0 || dh <= 0 || dw * dh > MaxDecodePixels) return None
        decodeRaster(reader.read(0))
      } finally reader.dispose()
    } finally iis.close()
  }

  private def decodeRaster(img: java.awt.image.BufferedImage)
      : Option[(Long, Long, Long, Long)] = {
    if (img == null) None
    else {
      val r = img.getRaster
      val w = img.getWidth
      val h = img.getHeight
      val bands = r.getNumBands
      var sum = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          var c = 0
          while (c < bands) { sum += r.getSample(x, y, c); c += 1 }
          x += 1
        }
        y += 1
      }
      val n = w.toLong * h * bands
      Some((w.toLong, h.toLong, bands.toLong,
        if (n == 0) 0L else Math.floorDiv(sum, n)))
    }
  }

  /** Per-partition batched REAL decode: pure-JVM parsers for the
    * codec-free containers (uncompressed BMP, binary PPM, PCM WAV)
    * plus the JDK's `javax.imageio` readers for JPEG/PNG/GIF;
    * everything else — video and compressed audio, which need codecs
    * the JDK doesn't ship — falls back to the clearly-marked
    * deterministic stub with `decoded=false`. Every real-decode
    * branch is Try-wrapped: a malformed or hostile payload degrades
    * to the stub row instead of failing the query (the parsers also
    * guard internally; the Try is the last line of defense for
    * anything a fuzzer finds that they miss). The Spark shape is
    * identical either way: narrow mapPartitions, payload bytes never
    * shuffled. */
  def decodeMedia(ds: Dataset[MediaRow]): Dataset[MediaDecoded] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions { it =>
      it.map { m =>
        val n = m.bytes.length.toLong
        val real = scala.util.Try {
          m.kind match {
            case "bmp" => decodeBmp(m.bytes).map { case (w, h, c, mean) =>
              MediaDecoded(m.media_id, m.kind, n, w, h, c, 0L, w * h, mean,
                decoded = true)
            }
            case "ppm" => decodePpm(m.bytes).map { case (w, h, mean) =>
              MediaDecoded(m.media_id, m.kind, n, w, h, 3L, 0L, w * h, mean,
                decoded = true)
            }
            case "wav" => decodeWav(m.bytes).map { case (c, rate, ns, mean) =>
              MediaDecoded(m.media_id, m.kind, n, 0L, 0L, c, rate, ns, mean,
                decoded = true)
            }
            case "flac" => FlacCodec.decode(m.bytes).map {
              case (c, rate, ns, mean) =>
                MediaDecoded(m.media_id, m.kind, n, 0L, 0L, c, rate, ns, mean,
                  decoded = true)
            }
            case "jpg" | "jpeg" | "png" | "gif" =>
              decodeImageIO(m.bytes).map { case (w, h, c, mean) =>
                MediaDecoded(m.media_id, m.kind, n, w, h, c, 0L, w * h, mean,
                  decoded = true)
              }
            case "mp3" =>
              // Layer I: REAL content decode (subband-exact, zero
              // transcribed tables; synthesis scope documented in
              // Mp3Codec). Layer II/III: header-walked REAL metadata
              // (exact channels / rate / per-channel sample count),
              // decoded=false — content stats stay stub-derived until
              // a verified source for their huffman/allocation/window
              // tables exists (Mp3Codec scaladoc)
              Mp3Codec.decodeLayer1(m.bytes).map {
                case (c, rate, ns, mean) =>
                  MediaDecoded(m.media_id, m.kind, n, 0L, 0L, c, rate, ns,
                    mean, decoded = true)
              }.orElse {
                Mp3Codec.walkFrames(m.bytes).map { case (c, rate, ns) =>
                  val (f0, _, _, _) = decodeStub(m.bytes)
                  MediaDecoded(m.media_id, m.kind, n, 0L, 0L, c, rate, ns,
                    f0, decoded = false)
                }
              }
            case "mp4" | "m4a" | "mov" =>
              // ISO-BMFF box walk: REAL dimensions / duration / audio
              // shape from the moov tree; content stays stub-derived
              // (the sample payloads are H.264/AAC bitstreams) —
              // same decoded=false contract as the mp3 walk
              Mp4Codec.parse(m.bytes).map { info =>
                val (f0, _, _, _) = decodeStub(m.bytes)
                MediaDecoded(m.media_id, m.kind, n, info.width, info.height,
                  info.channels, info.sampleRate, info.nSamples, f0,
                  decoded = false)
              }
            case "ogg" | "opus" =>
              // Ogg page walk (CRC-verified): REAL channels / rate /
              // per-channel sample count from granule positions;
              // content stays stub-derived (Opus/Vorbis bitstreams)
              OggCodec.parse(m.bytes).map { case (c, rate, ns) =>
                val (f0, _, _, _) = decodeStub(m.bytes)
                MediaDecoded(m.media_id, m.kind, n, 0L, 0L, c, rate, ns,
                  f0, decoded = false)
              }
            case _ => None
          }
        }.toOption.flatten
        real.getOrElse {
          val (f0, f1, _, _) = decodeStub(m.bytes)
          MediaDecoded(m.media_id, m.kind, n, 0L, 0L, 0L, 0L, f0, f1,
            decoded = false)
        }
      }
    }
  }

  /** PPM header fields (width, height, pixel-data offset) — shared by
    * the stat decode and the raster reader. */
  private def ppmHeader(b: Array[Byte]): Option[(Int, Int, Int)] = {
    if (b.length < 2 || b(0) != 'P' || b(1) != '6') return None
    var pos = 2
    def nextInt(): Option[Int] = {
      while (pos < b.length &&
        (Character.isWhitespace(b(pos)) || b(pos) == '#')) {
        if (b(pos) == '#') { while (pos < b.length && b(pos) != '\n') pos += 1 }
        else pos += 1
      }
      val start = pos
      while (pos < b.length && b(pos) >= '0' && b(pos) <= '9') pos += 1
      if (pos == start || pos - start > 9) None
      else Some(new String(b, start, pos - start, "US-ASCII").toInt)
    }
    for {
      w <- nextInt(); h <- nextInt(); maxv <- nextInt()
      if w > 0 && h > 0 && maxv == 255 && pos < b.length
    } yield (w, h, pos + 1)
  }

  /** Difference-hash (dHash) grid shape: 9x8 cell means -> 64
    * horizontal comparisons. The standard public perceptual-hash
    * recipe (Krawetz): robust to re-encoding and resizing because
    * only the ORDER of neighboring region brightnesses matters, not
    * their values. */
  private val PHashGridW = 9
  private val PHashGridH = 8

  /** 64-bit dHash from a cell-mean grid laid out row-major
    * (PHashGridH rows x PHashGridW cols): bit r*8+c = 1 iff
    * cell(r,c+1) > cell(r,c) — 8 comparisons per 9-cell row x 8 rows
    * fills all 64 bits (a monotone-brightness image hashes to -1). */
  private[operators] def dhashFromGrid(grid: Array[Long]): Long = {
    var hash = 0L
    var r = 0
    while (r < PHashGridH) {
      var c = 0
      while (c < PHashGridW - 1) {
        if (grid(r * PHashGridW + c + 1) > grid(r * PHashGridW + c))
          hash |= 1L << (r * 8 + c)
        c += 1
      }
      r += 1
    }
    hash
  }

  /** Cell-mean grid over a decoded raster: cell (r,c) = floor(mean
    * gray) over its pixel block, gray = floor(mean of bands). Images
    * smaller than the grid are rejected (None) — a sub-9x8 payload
    * has no meaningful perceptual content. */
  private def gridFromRaster(img: java.awt.image.BufferedImage)
      : Option[Array[Long]] = {
    val w = img.getWidth
    val h = img.getHeight
    if (w < PHashGridW || h < PHashGridH) return None
    val raster = img.getRaster
    val bands = raster.getNumBands
    val grid = new Array[Long](PHashGridW * PHashGridH)
    var r = 0
    while (r < PHashGridH) {
      var c = 0
      while (c < PHashGridW) {
        val x0 = c * w / PHashGridW; val x1 = (c + 1) * w / PHashGridW
        val y0 = r * h / PHashGridH; val y1 = (r + 1) * h / PHashGridH
        var sum = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            var g = 0L
            var bnd = 0
            while (bnd < bands) { g += raster.getSample(x, y, bnd); bnd += 1 }
            sum += g / bands
            x += 1
          }
          y += 1
        }
        grid(r * PHashGridW + c) = sum / ((x1 - x0).toLong * (y1 - y0))
        c += 1
      }
      r += 1
    }
    Some(grid)
  }

  /** PPM (P6) raster as a BufferedImage, for the perceptual-hash path. */
  private def ppmImage(b: Array[Byte]): Option[java.awt.image.BufferedImage] =
    ppmHeader(b).flatMap { case (w, h, off) =>
      if (off.toLong + w.toLong * h * 3 > b.length ||
        w.toLong * h > MaxDecodePixels) None
      else {
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val i = off + (y * w + x) * 3
            img.setRGB(x, y, ((b(i) & 0xff) << 16) |
              ((b(i + 1) & 0xff) << 8) | (b(i + 2) & 0xff))
            x += 1
          }
          y += 1
        }
        Some(img)
      }
    }

  /** ImageIO decode with the same header-first bomb guard as
    * [[decodeImageIO]], returning the raster itself. */
  private def imageIoRaster(b: Array[Byte])
      : Option[java.awt.image.BufferedImage] = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(b))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) return None
      val reader = readers.next()
      try {
        reader.setInput(iis, true, true)
        val dw = reader.getWidth(0).toLong
        val dh = reader.getHeight(0).toLong
        if (dw <= 0 || dh <= 0 || dw * dh > MaxDecodePixels) return None
        Option(reader.read(0))
      } finally reader.dispose()
    } finally iis.close()
  }

  case class MediaPHash(media_id: Long, phash: Long, decoded: Boolean)

  /** Perceptual hash over REAL decoded rasters — the multimodal member
    * of the near-dup family: re-encoded/resized copies of an image
    * share (or nearly share) a dHash even though their bytes and md5
    * differ entirely, which is exactly what byte-level dedup misses.
    * Images the JVM can decode (BMP/PNG/JPEG/GIF via `javax.imageio`,
    * PPM via the native raster reader) hash for real (`decoded=true`);
    * everything else degrades to a deterministic md5-derived stub
    * hash flagged `decoded=false` — same honest contract as
    * [[decodeMedia]], same narrow no-shuffle shape (payloads never
    * leave their scan partition; 8 bytes per image come out). */
  def perceptualHash(ds: Dataset[MediaRow]): Dataset[MediaPHash] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions { it =>
      it.map { m =>
        val real = scala.util.Try {
          (m.kind match {
            case "ppm" => ppmImage(m.bytes)
            case "bmp" | "jpg" | "jpeg" | "png" | "gif" =>
              imageIoRaster(m.bytes)
            case _ => None
          }).flatMap(gridFromRaster).map(dhashFromGrid)
        }.toOption.flatten
        real match {
          case Some(h) => MediaPHash(m.media_id, h, decoded = true)
          case None =>
            val (f0, f1, f2, f3) = decodeStub(m.bytes)
            MediaPHash(m.media_id,
              (f0 << 48) | (f1 << 32) | (f2 << 16) | f3, decoded = false)
        }
      }
    }
  }

  /** Perceptual near-dup pairs over [[perceptualHash]] output:
    * candidates from exact agreement on any of four 16-bit bands
    * (equi-join — never all-pairs; two hashes within hamming 3 of
    * each other MUST agree on at least one band by pigeonhole),
    * verified by full 64-bit hamming distance <= maxHamming. Stub
    * rows (decoded=false) are excluded: md5 noise must not vote on
    * perceptual similarity. Same banded shape as
    * [[Dedup.simhashPairs]], on the binary-payload family. */
  def phashNearDupPairs(hashes: DataFrame, maxHamming: Int = 3): DataFrame = {
    val real = hashes.filter(col("decoded"))
      .select(col("media_id"), col("phash"))
    val banded = real.select(col("media_id"), col("phash"),
        explode(sequence(lit(0), lit(3))).as("band"))
      // SQL shiftright takes a column shift amount (the Scala helper
      // only takes a literal); dHash uses all 64 bits (8 comparisons
      // x 8 rows), so phash can be negative — the 0xffff mask strips
      // the arithmetic shift's sign extension
      .withColumn("bkey",
        expr("shiftright(phash, band * 16)").bitwiseAND(lit(0xffffL)))
    val cand = banded.alias("x").join(banded.alias("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("media_a"), col("y.media_id").as("media_b"),
        col("x.phash").as("h_a"), col("y.phash").as("h_b"))
      .dropDuplicates("media_a", "media_b")
    cand.withColumn("hamming",
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("media_a"), col("media_b"), col("hamming"))
  }

  case class MediaAHash(media_id: Long, ahash: Long, decoded: Boolean)

  /** Temporal-envelope chunk accumulator: chunk k = sum of
    * |amplitude| over per-channel positions [k*chunkSize,
    * (k+1)*chunkSize), summed across channels. Keyed by per-channel
    * POSITION, not decode order — so any container of the same PCM
    * (interleaved WAV, block-wise FLAC) builds the identical
    * envelope. Chunk count is bounded by the decoders' sample
    * budgets. */
  private final class EnvelopeAcc(chunkSize: Int) {
    private val sums = scala.collection.mutable.ArrayBuffer.empty[Long]
    def add(pos: Long, v: Long): Unit = {
      val k = (pos / chunkSize).toInt
      while (sums.length <= k) sums += 0L
      sums(k) += math.abs(v)
    }
    def chunks: Array[Long] = sums.toArray
  }

  /** dHash-style 64-bit hash over the envelope: 65 equal windows of
    * the chunk series, bit w = 1 iff window(w+1) > window(w). Like
    * the image dHash, only the ORDER of neighboring energies matters
    * — so the hash survives uniform gain changes and lossy re-encodes
    * that preserve the loudness contour. None when the clip is
    * shorter than 65 chunks (too short to fingerprint). */
  private[operators] def envelopeHash(chunks: Array[Long]): Option[Long] = {
    val n = chunks.length
    if (n < 65) return None
    val win = new Array[Long](65)
    var w = 0
    while (w < 65) {
      var c = (w.toLong * n / 65).toInt
      val end = ((w + 1).toLong * n / 65).toInt
      var s = 0L
      while (c < end) { s += chunks(c); c += 1 }
      win(w) = s
      w += 1
    }
    var hash = 0L
    var i = 0
    while (i < 64) {
      if (win(i + 1) > win(i)) hash |= 1L << i
      i += 1
    }
    Some(hash)
  }

  /** Audio fingerprint over REALLY decoded PCM — the audio member of
    * the perceptual near-dup family (image twin: [[perceptualHash]]).
    * The same recording re-encoded WAV↔FLAC hashes identically
    * (lossless, position-keyed envelope); G.711 re-encodes land
    * within a small hamming distance (lossy but contour-preserving).
    * Decodable payloads: PCM/G.711 WAV (via the RIFF walk) and FLAC
    * (via [[FlacCodec.decodeWith]]'s streaming block consumer — one
    * frame of PCM in memory at a time). Everything else degrades to
    * a flagged md5 stub. Narrow map-only shape: payloads never
    * shuffle, 8 bytes per clip come out. */
  def audioFingerprint(ds: Dataset[MediaRow],
      chunkSize: Int = 1024): Dataset[MediaAHash] = {
    require(chunkSize >= 1)
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions { it =>
      it.map { m =>
        val real = scala.util.Try {
          val acc = new EnvelopeAcc(chunkSize)
          val decoded = m.kind match {
            case "wav" => riffFmtData(m.bytes).exists {
              case ((audioFormat, chans, rate, _, bits), (off, len)) =>
                if (chans <= 0 || rate <= 0) false
                else audioFormat match {
                  case 1 if bits == 8 || bits == 16 =>
                    val bytesPerSample = bits / 8
                    val nTotal = len / bytesPerSample
                    var i = 0
                    while (i < nTotal) {
                      val v =
                        if (bits == 8) (m.bytes(off + i) & 0xff) - 128
                        else le16(m.bytes, off + i * 2).toShort.toInt
                      acc.add(i.toLong / chans, v)
                      i += 1
                    }
                    nTotal > 0
                  case 6 | 7 if bits == 8 =>
                    var i = 0
                    while (i < len) {
                      val v =
                        if (audioFormat == 7) ulawToLinear(m.bytes(off + i))
                        else alawToLinear(m.bytes(off + i))
                      acc.add(i.toLong / chans, v)
                      i += 1
                    }
                    len > 0
                  case _ => false
                }
            }
            case "flac" =>
              FlacCodec.decodeWith(m.bytes, (chans, blockSize, basePos) => {
                var c = 0
                while (c < chans.length) {
                  var i = 0
                  while (i < blockSize) {
                    acc.add(basePos + i, chans(c)(i))
                    i += 1
                  }
                  c += 1
                }
              }).isDefined
            case _ => false
          }
          if (decoded) envelopeHash(acc.chunks) else None
        }.toOption.flatten
        real match {
          case Some(h) => MediaAHash(m.media_id, h, decoded = true)
          case None =>
            val (f0, f1, f2, f3) = decodeStub(m.bytes)
            MediaAHash(m.media_id,
              (f0 << 48) | (f1 << 32) | (f2 << 16) | f3, decoded = false)
        }
      }
    }
  }

  /** Banded near-dup pairs over [[audioFingerprint]] output — the
    * same 16-bit-band equi-join + hamming verify as
    * [[phashNearDupPairs]], on the audio hash column. */
  def audioNearDupPairs(hashes: DataFrame, maxHamming: Int = 3): DataFrame =
    phashNearDupPairs(
      hashes.withColumnRenamed("ahash", "phash"), maxHamming)

  /** Per-partition batched feature extraction over binary payloads. */
  def extractFeatures(ds: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions { it =>
      // per-partition setup cost amortized over the batch (a real
      // decoder would allocate its native context here, once)
      it.map { m =>
        val (f0, f1, f2, f3) = decodeStub(m.bytes)
        MediaFeatures(m.media_id, m.bytes.length.toLong, f0, f1, f2, f3)
      }
    }
  }

  /** Fixed-size frame sampling: split the payload into `frameSize`-byte
    * frames, keep every `everyNth` (narrow op, no shuffle). */
  def frameSample(df: DataFrame, id: Column, bytes: Column,
      frameSize: Int, everyNth: Int): DataFrame = {
    val nFrames = ceil(length(bytes) / lit(frameSize.toDouble)).cast("int")
    df.select(id.as("media_id"),
        explode(sequence(lit(0), greatest(nFrames - 1, lit(0)))).as("frame_no"),
        bytes.as("b"))
      .filter(pmod(col("frame_no"), lit(everyNth)) === 0)
      .select(col("media_id"), col("frame_no").cast("long").as("frame_no"),
        substring(col("b"), col("frame_no") * frameSize + 1, lit(frameSize))
          .as("frame_bytes"))
  }

  /** Column-level feature digest (same md5-derived ints as decodeStub,
    * expressed as codegen'd built-ins — used for the oracle-checked
    * query; decodeStub/mapPartitions is the codec-shaped path). */
  def featureDigestCols(bytes: Column): Seq[Column] = {
    val h = md5(bytes)
    (0 until 4).map { i =>
      val hex = substring(h, i * 4 + 1, 4)
      conv(hex, 16, 10).cast("long").as(s"f$i")
    }
  }
}
