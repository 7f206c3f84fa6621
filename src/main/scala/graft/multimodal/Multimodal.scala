package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns
  * with a typed metadata struct, processed by partition-parallel decode /
  * feature-extract / resize / frame-sample stages.
  *
  * The IMAGE, AUDIO, and VIDEO paths are all REAL: images are PNG through
  * `javax.imageio` (decode/resample/re-encode — actual pixels), audio is
  * PCM16 WAV through `javax.sound.sampled` (decode to samples, RMS
  * energy features), and video is animated GIF89a through the multi-frame
  * `javax.imageio` reader (frame iteration, evenly-spaced still
  * sampling, temporal luminance features) — all pure JVM, headless.
  * Only non-GIF video codecs (mp4/webm, which need ffmpeg this container
  * does not ship) fall back to a clearly marked deterministic stub; the
  * plumbing — schema, batch shape, partitioning, mapPartitions,
  * null/empty handling — is identical for every path.
  *
  * Scale notes: media bytes never pass through a shuffle — stages are
  * narrow (mapPartitions) and run where the scan runs; only extracted
  * features (small) flow onward into joins/ANN. `binaryFile` reads +
  * `spark.sql.files.maxPartitionBytes` control split sizing for large blobs.
  */
object Multimodal {

  /** One media row: payload + typed metadata (the envelope's `data` for a
    * media namespace). */
  final case class MediaRow(media_id: Long, mime: String, bytes: Array[Byte],
      width: Int, height: Int, duration_ms: Long)

  final case class MediaFeatures(media_id: Long, mime: String, dim: Int,
      features: Array[Float])

  final case class Frame(media_id: Long, frame_idx: Int, ts_ms: Long,
      bytes: Array[Byte])

  /** Deterministic synthetic media table derived from an id column.
    * IMAGE rows carry REAL PNG payloads and AUDIO rows REAL PCM16 WAV
    * clips (seeded per-id patterns through the actual codecs); video
    * rows carry seeded pseudo-random bytes standing in for a stream. */
  def syntheticMedia(spark: SparkSession, ids: DataFrame, idCol: String,
      payloadBytes: Int = 256): Dataset[MediaRow] = {
    import spark.implicits._
    ids.select(col(idCol).cast("long").as("id")).as[Long].map { id =>
      val w = 64 + (id % 64).toInt
      val h = 64
      val mime = (id % 3) match {
        case 0 => "image/png"
        case 1 => "audio/wav"
        case _ => "video/gif" // animated GIF89a: the real JVM-native clip
      }
      val bytes = mime match {
        case "image/png" => Png.encode(Png.pattern(id, w, h))
        case "audio/wav" => Wav.pattern(id, 8000 + (id % 8000).toInt)
        case _ => Gif.pattern(id, 32, 24, n = 4 + (id % 8).toInt)
      }
      val dur = mime match {
        case "audio/wav" => Wav.durationMs(bytes)
        case "video/gif" => Gif.durationMs(bytes)
        case _ => 0L
      }
      MediaRow(id, mime, bytes, w, h, dur)
    }
  }

  /** Real PNG kernels — `javax.imageio`, pure JVM, headless-safe. */
  object Png {
    import java.awt.image.BufferedImage

    /** Deterministic test image: per-pixel RGB from a hash of
      * (id, x, y) — stable across JVMs and runs. */
    def pattern(id: Long, w: Int, h: Int): BufferedImage = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val hsh = scala.util.hashing.MurmurHash3
            .productHash((id, x, y)) & 0xFFFFFF
          img.setRGB(x, y, hsh)
          x += 1
        }
        y += 1
      }
      img
    }

    def encode(img: BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    /** First byte of md5(s) — md5 (not Murmur) so a SQL oracle can
      * recompute the same value from the hex digest's leading nibbles. */
    private[multimodal] def md5Byte(s: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      d(0) & 0xFF
    }

    /** Deterministic near-duplicate image FAMILY for perceptual-hash
      * testing: a 9×8 grid of uniform-gray 8×8-pixel cells (72×64 px).
      * Cell (cx, cy) luminance is the first md5 byte of `"$group:$cx:$cy"`
      * and variant v INVERTS (255−l) the cells `md5("$group:flip:$j") %
      * 72` for j < v — nested flip sets, so adjacent variants differ by
      * ≤2 dHash bits (each flipped cell touches its own left/right
      * comparisons only) while unrelated groups differ in ~32. Cells are
      * exact multiples of the [[dHash64]] 9×8 grid and PNG is lossless,
      * so the hash bits are a CLOSED FORM of (group, variant): bit
      * (cx, cy) = [lum(cx) > lum(cx+1)] — which a DuckDB oracle
      * reconstructs from the same md5 nibbles (the simhash per-bit
      * oracle pattern). */
    def groupedPattern(group: Long, variant: Int,
        w: Int = 72, h: Int = 64): BufferedImage = {
      val cols = 9; val rows = 8
      val flipped = (0 until variant)
        .map(j => md5Byte(s"$group:flip:$j") % (cols * rows)).toSet
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        val cy = y * rows / h
        var x = 0
        while (x < w) {
          val cx = x * cols / w
          val l0 = md5Byte(s"$group:$cx:$cy")
          val l = if (flipped(cy * cols + cx)) 255 - l0 else l0
          img.setRGB(x, y, (l << 16) | (l << 8) | l)
          x += 1
        }
        y += 1
      }
      img
    }

    /** Decode image bytes. Fails loudly on non-image payloads.
      *
      * Fast path (r18, the WAV pattern): an 8-bit-RGB non-interlaced
      * PNG — exactly what [[encode]]'s ImageIO writer emits — parses
      * with pure byte arithmetic + `java.util.zip.Inflater`, WITHOUT
      * `javax.imageio`: ImageIO's provider registry takes the same
      * GLOBAL lock per call that serialized concurrent WAV decodes
      * (guide §1.2 — per-task work must scale with cores on any
      * executor; the decode burn here measured ~4× under 32 threads
      * once the registry was bypassed). Pixels are asserted
      * BIT-IDENTICAL to `ImageIO.read` across the fixture shapes in
      * PngGifCodecSpec — the perceptual hashes and md5-pinned oracles
      * downstream depend on exact pixel values. Any other PNG flavor or
      * non-PNG payload falls back to javax (the cold path keeps the
      * fails-loudly contract). */
    def decode(bytes: Array[Byte]): BufferedImage = {
      val fast = decodeRgb8(bytes)
      if (fast != null) fast
      else {
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes))
        if (img == null)
          throw new IllegalArgumentException("not a decodable image payload")
        img
      }
    }

    /** 8-bit-RGB (color type 2) non-interlaced PNG → TYPE_INT_RGB, or
      * null when the payload is any other flavor (caller falls back to
      * javax). `getRGB` values equal the javax decode's — the image
      * TYPE may differ (javax yields TYPE_3BYTE_BGR), but every
      * consumer reads pixels through getRGB, which normalizes both to
      * the same packed sRGB ints (spec'd). */
    private[multimodal] def decodeRgb8(b: Array[Byte]): BufferedImage = {
      if (b.length < 8) return null
      if ((b(0) & 0xFF) != 0x89 || b(1) != 'P' || b(2) != 'N' ||
          b(3) != 'G' || b(4) != 0x0D || b(5) != 0x0A ||
          b(6) != 0x1A || b(7) != 0x0A) return null
      def be32(off: Int): Int =
        ((b(off) & 0xFF) << 24) | ((b(off + 1) & 0xFF) << 16) |
          ((b(off + 2) & 0xFF) << 8) | (b(off + 3) & 0xFF)
      var off = 8
      var w = 0; var h = 0
      var seenIhdr = false
      var done = false
      val idat = new java.io.ByteArrayOutputStream()
      while (!done && off + 8 <= b.length) {
        val len = be32(off)
        // bounds in Long (the WAV chunk-walk lesson): a crafted length
        // must fall through to the javax path, not index out of bounds
        if (len < 0 || off.toLong + 12L + len > b.length) return null
        val t0 = b(off + 4); val t1 = b(off + 5)
        val t2 = b(off + 6); val t3 = b(off + 7)
        val isIhdr = t0 == 'I' && t1 == 'H' && t2 == 'D' && t3 == 'R'
        // IHDR must be the FIRST chunk and appear once (so it precedes
        // every IDAT): a moved or repeated header would otherwise set
        // the dimensions the pixels are laid out by — wrong pixels
        // instead of the javax fallback
        if (isIhdr == seenIhdr) return null
        if (isIhdr) {
          if (len < 13) return null
          w = be32(off + 8); h = be32(off + 12)
          val bitDepth = b(off + 16) & 0xFF
          val colorType = b(off + 17) & 0xFF
          val compression = b(off + 18) & 0xFF
          val filter = b(off + 19) & 0xFF
          val interlace = b(off + 20) & 0xFF
          if (bitDepth != 8 || colorType != 2 || compression != 0 ||
              filter != 0 || interlace != 0) return null
          if (w <= 0 || h <= 0 || w.toLong * h > 64L * 1024 * 1024)
            return null
          seenIhdr = true
        } else if (t0 == 'I' && t1 == 'D' && t2 == 'A' && t3 == 'T') {
          idat.write(b, off + 8, len)
        } else if (t0 == 'I' && t1 == 'E' && t2 == 'N' && t3 == 'D') {
          done = true
        } // ancillary chunks ignored; CRCs skipped (zlib adler catches
          // payload corruption; a bad image falls back via inflate fail)
        off += 12 + len
      }
      if (!seenIhdr || idat.size == 0) return null
      val stride = w * 3
      val raw = new Array[Byte]((stride + 1) * h)
      val inf = new java.util.zip.Inflater()
      try {
        inf.setInput(idat.toByteArray)
        var got = 0
        while (got < raw.length && !inf.finished()) {
          val n = inf.inflate(raw, got, raw.length - got)
          if (n == 0 && (inf.needsInput() || inf.needsDictionary()))
            return null // truncated / preset-dictionary stream
          got += n
        }
        if (got < raw.length) return null
      } catch {
        case _: java.util.zip.DataFormatException => return null
      } finally inf.end()
      // defilter (bpp = 3): None/Sub/Up/Average/Paeth per scanline
      def paeth(a: Int, bb: Int, c: Int): Int = {
        val p = a + bb - c
        val pa = math.abs(p - a); val pb = math.abs(p - bb)
        val pc = math.abs(p - c)
        if (pa <= pb && pa <= pc) a else if (pb <= pc) bb else c
      }
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val pix = img.getRaster.getDataBuffer
        .asInstanceOf[java.awt.image.DataBufferInt].getData
      var y = 0
      while (y < h) {
        val rowOff = y * (stride + 1)
        val ft = raw(rowOff) & 0xFF
        if (ft > 4) return null
        var x = 0
        while (x < stride) {
          val i = rowOff + 1 + x
          val cur = raw(i) & 0xFF
          val left = if (x >= 3) raw(i - 3) & 0xFF else 0
          val up = if (y > 0) raw(i - stride - 1) & 0xFF else 0
          val ul = if (y > 0 && x >= 3) raw(i - stride - 4) & 0xFF else 0
          val v = ft match {
            case 0 => cur
            case 1 => cur + left
            case 2 => cur + up
            case 3 => cur + ((left + up) >> 1)
            case 4 => cur + paeth(left, up, ul)
          }
          raw(i) = (v & 0xFF).toByte
          x += 1
        }
        var px = 0
        while (px < w) {
          val i = rowOff + 1 + px * 3
          pix(y * w + px) = ((raw(i) & 0xFF) << 16) |
            ((raw(i + 1) & 0xFF) << 8) | (raw(i + 2) & 0xFF)
          px += 1
        }
        y += 1
      }
      img
    }

    /** Feature vector from REAL pixels: a dim-bin luminance histogram,
      * normalized by pixel count (deterministic; integer-exact until the
      * final division). */
    def features(bytes: Array[Byte], dim: Int): Array[Float] = {
      val img = decode(bytes)
      val counts = new Array[Long](dim)
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          val rgb = img.getRGB(x, y)
          val lum = (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
            (rgb & 0xFF) * 114) / 1000
          counts(math.min(dim - 1, lum * dim / 256)) += 1
          x += 1
        }
        y += 1
      }
      val n = (img.getWidth.toLong * img.getHeight).toFloat
      counts.map(_ / n)
    }

    /** 64-bit perceptual difference hash (dHash) over REAL pixels: the
      * image is box-filtered onto a 9×8 luminance grid and bit (x, y)
      * is set when cell (x, y) is brighter than its right neighbour —
      * near-duplicate images (small edits, re-encodes, minor crops)
      * land within a few bits of hamming distance while unrelated
      * images differ in ~32. All-integer math: cell luminance totals
      * are exact Long sums and the brighter-than compare cross-
      * multiplies by pixel counts (sumA·cntB > sumB·cntA) instead of
      * dividing — deterministic across JVMs and partition layouts, the
      * pinned-oracle precondition. */
    def dHash64(bytes: Array[Byte]): Long = {
      val img = decode(bytes)
      val (cols, rows) = (9, 8)
      val w = img.getWidth; val h = img.getHeight
      val sums = new Array[Long](cols * rows)
      val cnts = new Array[Long](cols * rows)
      var y = 0
      while (y < h) {
        val cy = y * rows / h
        var x = 0
        while (x < w) {
          val cx = x * cols / w
          val rgb = img.getRGB(x, y)
          val lum = (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
            (rgb & 0xFF) * 114) / 1000
          sums(cy * cols + cx) += lum
          cnts(cy * cols + cx) += 1
          x += 1
        }
        y += 1
      }
      var bits = 0L
      var cy = 0
      while (cy < rows) {
        var cx = 0
        while (cx < cols - 1) {
          val a = cy * cols + cx
          val b = a + 1
          // exact mean compare: sumA/cntA > sumB/cntB without division
          if (sums(a) * cnts(b) > sums(b) * cnts(a))
            bits |= 1L << (cy * (cols - 1) + cx)
          cx += 1
        }
        cy += 1
      }
      bits
    }

    /** Resize with explicit nearest-neighbor sampling (deterministic
      * across JVMs — no AWT op/raster-type variability) and re-encode as
      * PNG. Real pixels in, real pixels out. */
    def resize(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
      val src = decode(bytes)
      val dst = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        val sy = y * src.getHeight / h
        var x = 0
        while (x < w) {
          dst.setRGB(x, y, src.getRGB(x * src.getWidth / w, sy))
          x += 1
        }
        y += 1
      }
      encode(dst)
    }
  }

  /** Real WAV kernels — `javax.sound.sampled`, pure JVM. PCM16 mono. */
  object Wav {
    import javax.sound.sampled._

    val SampleRate = 16000f

    /** Deterministic test clip: a per-id sine sweep + hash dither,
      * `n` samples of little-endian PCM16, WAV-encoded. */
    def pattern(id: Long, n: Int = 16000): Array[Byte] = {
      val pcm = new Array[Byte](n * 2)
      val freq = 200.0 + (id % 40) * 50.0
      var i = 0
      while (i < n) {
        val t = i / SampleRate.toDouble
        val dither = (scala.util.hashing.MurmurHash3
          .productHash((id, i)) % 997) / 997.0 * 0.05
        val x = math.sin(2 * math.Pi * freq * t) * 0.8 + dither
        val s = math.max(-32768, math.min(32767, (x * 32767).toInt)).toShort
        pcm(2 * i) = (s & 0xFF).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
        i += 1
      }
      encode(pcm)
    }

    /** Canonical PCM16-mono RIFF/WAVE encode — BIT-IDENTICAL to
      * `AudioSystem.write(…, Type.WAVE, …)` for this format (asserted
      * against javax across clip shapes in WavCodecSpec; the md5-pinned
      * multimodal oracles depend on the exact bytes), but built without
      * `javax.sound.sampled`: AudioSystem's provider registry takes a
      * GLOBAL lock per call, which SERIALIZES concurrent tasks — a
      * 32-thread encode+decode burn measured 8.7k clips/s against 21k/s
      * single-threaded (negative scaling). Per-task work like this must
      * scale with cores on any executor (guide §1.2 step 2); the writer
      * below is pure byte arithmetic, lock-free and allocation-minimal. */
    def encode(pcm: Array[Byte]): Array[Byte] = {
      require(pcm.length % 2 == 0, "PCM16 payload must be even-length")
      val out = new Array[Byte](44 + pcm.length)
      def cc(off: Int, s: String): Unit = {
        var i = 0
        while (i < 4) { out(off + i) = s.charAt(i).toByte; i += 1 }
      }
      def le32(off: Int, v: Int): Unit = {
        out(off) = (v & 0xFF).toByte
        out(off + 1) = ((v >> 8) & 0xFF).toByte
        out(off + 2) = ((v >> 16) & 0xFF).toByte
        out(off + 3) = ((v >> 24) & 0xFF).toByte
      }
      def le16(off: Int, v: Int): Unit = {
        out(off) = (v & 0xFF).toByte
        out(off + 1) = ((v >> 8) & 0xFF).toByte
      }
      cc(0, "RIFF"); le32(4, 36 + pcm.length); cc(8, "WAVE")
      cc(12, "fmt "); le32(16, 16)
      le16(20, 1) // PCM
      le16(22, 1) // mono
      le32(24, SampleRate.toInt)
      le32(28, SampleRate.toInt * 2) // byte rate (blockAlign 2)
      le16(32, 2) // block align
      le16(34, 16) // bits/sample
      cc(36, "data"); le32(40, pcm.length)
      System.arraycopy(pcm, 0, out, 44, pcm.length)
      out
    }

    /** Decode WAV bytes to PCM16 samples. Fails loudly on non-audio.
      *
      * Fast path: a RIFF/WAVE container whose `fmt ` chunk declares
      * uncompressed PCM16 parses with pure byte arithmetic (any chunk
      * order/extra chunks, any rate/channel count — frames pass through
      * untranscoded exactly like the javax no-conversion read did).
      * Anything else — compressed formats, other bit depths — falls back
      * to `AudioSystem` (the provider lock is fine on the cold path). */
    def decode(bytes: Array[Byte]): Array[Short] = {
      val data = decodePcm16Data(bytes)
      val raw = if (data != null) data else decodeViaJavax(bytes)
      val out = new Array[Short](raw.length / 2)
      var i = 0
      while (i < out.length) {
        out(i) = ((raw(2 * i) & 0xFF) | (raw(2 * i + 1) << 8)).toShort
        i += 1
      }
      out
    }

    /** The `data` chunk of a PCM16 RIFF/WAVE payload, or null when the
      * container/format is anything else (caller falls back to javax). */
    private def decodePcm16Data(b: Array[Byte]): Array[Byte] = {
      def le32(off: Int): Int =
        (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8) |
          ((b(off + 2) & 0xFF) << 16) | ((b(off + 3) & 0xFF) << 24)
      def cc(off: Int, s: String): Boolean =
        b(off) == s.charAt(0) && b(off + 1) == s.charAt(1) &&
          b(off + 2) == s.charAt(2) && b(off + 3) == s.charAt(3)
      if (b.length < 44 || !cc(0, "RIFF") || !cc(8, "WAVE")) return null
      var off = 12
      var pcm16 = false
      while (off + 8 <= b.length) {
        val size = le32(off + 4)
        // bounds in Long: a crafted chunk size near 2^31 would overflow
        // `off + 8 + size` negative and slip past an Int comparison,
        // turning the documented null-and-fallback contract into an
        // ArrayIndexOutOfBounds from the copy below (advisor r17)
        if (size < 0 || off.toLong + 8L + size > b.length) return null
        if (cc(off, "fmt ")) {
          if (size < 16) return null
          val audioFormat = (b(off + 8) & 0xFF) | ((b(off + 9) & 0xFF) << 8)
          val bits = (b(off + 22) & 0xFF) | ((b(off + 23) & 0xFF) << 8)
          if (audioFormat != 1 || bits != 16) return null
          pcm16 = true
        } else if (cc(off, "data")) {
          if (!pcm16) return null // fmt must precede data (canonical order)
          return java.util.Arrays.copyOfRange(b, off + 8, off + 8 + size)
        }
        off += 8 + size + (size & 1) // chunks are word-aligned
      }
      null
    }

    private def decodeViaJavax(bytes: Array[Byte]): Array[Byte] = {
      val in =
        try AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        catch {
          case e: UnsupportedAudioFileException =>
            throw new IllegalArgumentException(
              "not a decodable audio payload", e)
        }
      in.readAllBytes()
    }

    def durationMs(bytes: Array[Byte]): Long =
      (decode(bytes).length * 1000L / SampleRate.toLong)

    /** Deterministic near-duplicate audio FAMILY — [[Png.groupedPattern]]
      * in the time domain: 65 constant-amplitude blocks of `blockLen`
      * samples each. Block j's amplitude is `md5Byte("g:blk:j") · 128`
      * (PCM16-safe, ≤ 32640) and variant v REMAPS (255−a)·128 the
      * DISTINCT blocks `md5("g:aflip:k") % 65` for k < v — re-levelled /
      * re-mastered variants of the same clip. Constant blocks + lossless
      * PCM16 WAV make each block's mean |sample| exact, so the 64-bit
      * [[eHash64]] is a CLOSED FORM of (group, variant) a SQL oracle
      * reconstructs from the same md5 hex nibbles. */
    def groupedBlocks(group: Long, variant: Int,
        blockLen: Int = 64): Array[Byte] = {
      val blocks = 65
      val flipped = (0 until variant)
        .map(k => Png.md5Byte(s"$group:aflip:$k") % blocks).toSet
      val pcm = new Array[Byte](blocks * blockLen * 2)
      var j = 0
      while (j < blocks) {
        val a0 = Png.md5Byte(s"$group:blk:$j")
        val a = (if (flipped(j)) 255 - a0 else a0) * 128
        var i = 0
        while (i < blockLen) {
          val idx = (j * blockLen + i) * 2
          pcm(idx) = (a & 0xFF).toByte
          pcm(idx + 1) = ((a >> 8) & 0xFF).toByte
          i += 1
        }
        j += 1
      }
      encode(pcm)
    }

    /** 64-bit acoustic energy hash — the audio [[Png.dHash64]]: REAL
      * sample decode → 65 equal time blocks → exact integer mean
      * |sample| per block → bit j set when block j is louder than block
      * j+1 (cross-multiplied compare, no division). Re-levelled copies
      * and small edits land within a few bits; unrelated clips differ
      * in ~32. */
    def eHash64(bytes: Array[Byte]): Long = {
      val samples = decode(bytes)
      val blocks = 65
      val n = samples.length
      val sums = new Array[Long](blocks)
      val cnts = new Array[Long](blocks)
      var i = 0
      while (i < n) {
        val b = (i.toLong * blocks / n).toInt
        sums(b) += math.abs(samples(i).toLong)
        cnts(b) += 1
        i += 1
      }
      var bits = 0L
      var j = 0
      while (j < blocks - 1) {
        if (cnts(j) > 0 && cnts(j + 1) > 0 &&
            sums(j) * cnts(j + 1) > sums(j + 1) * cnts(j))
          bits |= 1L << j
        j += 1
      }
      bits
    }

    /** Feature vector from REAL samples: per-window RMS energy over `dim`
      * equal time slices, normalized to [0,1] (deterministic — integer
      * sample math until the final sqrt/divide). */
    def features(bytes: Array[Byte], dim: Int): Array[Float] = {
      val samples = decode(bytes)
      val out = new Array[Float](dim)
      if (samples.isEmpty) return out
      val window = math.max(1, samples.length / dim)
      var w = 0
      while (w < dim) {
        val lo = w * window
        val hi = if (w == dim - 1) samples.length
          else math.min(samples.length, lo + window)
        var acc = 0.0
        var i = lo
        while (i < hi) { val s = samples(i) / 32768.0; acc += s * s; i += 1 }
        out(w) = if (hi > lo) math.sqrt(acc / (hi - lo)).toFloat else 0f
        w += 1
      }
      out
    }

    /** Iterative radix-2 Cooley–Tukey FFT, in place. Deterministic by
      * construction: fixed bit-reversal + butterfly order, plain double
      * arithmetic — bit-identical across JVMs/executors, so spectral
      * outputs can ride the 1e-9 grid into a pinned oracle. */
    private[graft] def fft(re: Array[Double], im: Array[Double]): Unit = {
      val n = re.length
      require(n > 0 && (n & (n - 1)) == 0, s"fft size must be 2^k, got $n")
      var i = 1; var j = 0
      while (i < n) {
        var bit = n >> 1
        while ((j & bit) != 0) { j ^= bit; bit >>= 1 }
        j |= bit
        if (i < j) {
          val tr = re(i); re(i) = re(j); re(j) = tr
          val ti = im(i); im(i) = im(j); im(j) = ti
        }
        i += 1
      }
      var len = 2
      while (len <= n) {
        val ang = -2.0 * math.Pi / len
        val wr = math.cos(ang); val wi = math.sin(ang)
        val half = len >> 1
        var k = 0
        while (k < n) {
          var cwr = 1.0; var cwi = 0.0
          var m = 0
          while (m < half) {
            val ur = re(k + m); val ui = im(k + m)
            val xr = re(k + m + half); val xi = im(k + m + half)
            val vr = xr * cwr - xi * cwi
            val vi = xr * cwi + xi * cwr
            re(k + m) = ur + vr; im(k + m) = ui + vi
            re(k + m + half) = ur - vr; im(k + m + half) = ui - vi
            val nwr = cwr * wr - cwi * wi
            cwi = cwr * wi + cwi * wr; cwr = nwr
            m += 1
          }
          k += len
        }
        len <<= 1
      }
    }

    /** FFT analysis window for [[spectral]]. */
    val SpectralN = 4096

    /** Spectral summary from the REAL decoded samples: Hann-windowed
      * power spectrum of the clip's first [[SpectralN]] samples
      * (zero-padded), reduced to the spectral CENTROID (Hz) and `bands`
      * equal-width band-energy FRACTIONS of the non-DC half-spectrum.
      * Returns (centroid, fractions) — deterministic doubles; callers
      * floor to an integer grid for cross-run pins. Silent/empty clips
      * return centroid 0 and all-zero fractions. */
    def spectral(bytes: Array[Byte], bands: Int): (Double, Array[Double]) = {
      val samples = decode(bytes)
      val n = SpectralN
      val re = new Array[Double](n)
      val im = new Array[Double](n)
      val m = math.min(samples.length, n)
      var i = 0
      while (i < m) {
        val w = 0.5 - 0.5 * math.cos(2.0 * math.Pi * i / (n - 1))
        re(i) = (samples(i) / 32768.0) * w
        i += 1
      }
      fft(re, im)
      val half = n / 2
      val power = new Array[Double](half) // bins 1..half (skip DC)
      var total = 0.0
      var k = 1
      while (k <= half) {
        val p = re(k) * re(k) + im(k) * im(k)
        power(k - 1) = p
        total += p
        k += 1
      }
      val fracs = new Array[Double](bands)
      if (total == 0.0) return (0.0, fracs)
      var centroidNum = 0.0
      k = 1
      while (k <= half) {
        val freq = k.toDouble * SampleRate / n
        centroidNum += freq * power(k - 1)
        // equal-width bands over bins (half divisible by bands at 2^k)
        fracs((k - 1) * bands / half) += power(k - 1)
        k += 1
      }
      var b = 0
      while (b < bands) { fracs(b) = fracs(b) / total; b += 1 }
      (centroidNum / total, fracs)
    }
  }

  /** Real VIDEO kernels — animated GIF89a through `javax.imageio`, the
    * one multi-frame moving-picture container the JVM decodes natively
    * (mp4/webm need ffmpeg, which this container does not ship; those
    * mimes still hit the loud stub below). Frames are 8-bit grayscale
    * indexed, so the palette codec is lossless and every kernel is
    * bit-deterministic.
    */
  object Gif {
    import java.awt.image.{BufferedImage, IndexColorModel}
    import javax.imageio.{ImageIO, ImageTypeSpecifier, IIOImage}
    import javax.imageio.metadata.IIOMetadataNode

    val FrameDelayMs = 100L

    private def grayModel: IndexColorModel = {
      val ramp = Array.tabulate(256)(_.toByte)
      new IndexColorModel(8, 256, ramp, ramp, ramp)
    }

    /** Deterministic test clip: `n` frames of per-(id, frame, x, y) hash
      * grayscale — a real animated GIF byte stream. */
    def pattern(id: Long, w: Int, h: Int, n: Int): Array[Byte] = {
      val frames = (0 until n).map { f =>
        val img = new BufferedImage(w, h,
          BufferedImage.TYPE_BYTE_INDEXED, grayModel)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            raster.setSample(x, y, 0, scala.util.hashing.MurmurHash3
              .productHash((id, f, x, y)) & 0xFF)
            x += 1
          }
          y += 1
        }
        img
      }
      encode(frames)
    }

    /** Multi-frame GIF encode with a per-frame delay (writeToSequence). */
    def encode(frames: Seq[BufferedImage]): Array[Byte] = {
      require(frames.nonEmpty, "cannot encode an empty frame sequence")
      val writer = ImageIO.getImageWritersByFormatName("gif").next()
      val bos = new java.io.ByteArrayOutputStream()
      val ios = ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach { img =>
        val meta = writer.getDefaultImageMetadata(
          new ImageTypeSpecifier(img), writer.getDefaultWriteParam)
        val fmt = meta.getNativeMetadataFormatName
        val root = meta.getAsTree(fmt).asInstanceOf[IIOMetadataNode]
        val gce = new IIOMetadataNode("GraphicControlExtension")
        gce.setAttribute("disposalMethod", "none")
        gce.setAttribute("userInputFlag", "FALSE")
        gce.setAttribute("transparentColorFlag", "FALSE")
        gce.setAttribute("delayTime", (FrameDelayMs / 10).toString) // 1/100 s
        gce.setAttribute("transparentColorIndex", "0")
        root.appendChild(gce)
        meta.setFromTree(fmt, root)
        writer.writeToSequence(new IIOImage(img, null, meta),
          writer.getDefaultWriteParam)
      }
      writer.endWriteSequence()
      ios.close()
      writer.dispose()
      bos.toByteArray
    }

    /** Decode ALL frames. Our frames are full-canvas with disposal
      * "none", so no inter-frame composition is needed.
      *
      * Fast path (r18, the WAV/PNG pattern): a non-interlaced,
      * non-transparent GIF whose frames are full-canvas with a palette
      * — exactly what [[encode]]'s ImageIO writer emits — parses with
      * pure byte arithmetic + an LZW decoder, WITHOUT `javax.imageio`'s
      * global provider-registry lock (the serializer of concurrent
      * decode tasks — guide §1.2). Frames are asserted BIT-IDENTICAL
      * (per-pixel getRGB) to the javax reader across the fixture shapes
      * in PngGifCodecSpec. Anything else — interlace, transparency,
      * sub-rect frames, a malformed stream — falls back to the javax
      * reader, preserving the fails-loudly contract. */
    def frames(bytes: Array[Byte]): Seq[BufferedImage] = {
      val fast = decodeFramesFast(bytes)
      if (fast != null) fast
      else {
        val reader = ImageIO.getImageReadersByFormatName("gif").next()
        val iis = ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          reader.setInput(iis, false)
          val n = reader.getNumImages(true)
          if (n <= 0)
            throw new IllegalArgumentException("not a decodable video payload")
          (0 until n).map(reader.read)
        } finally { reader.dispose(); iis.close() }
      }
    }

    /** GIF87a/89a full-canvas palette frames → TYPE_BYTE_INDEXED, or
      * null for any flavor outside the fast-path contract (caller falls
      * back to javax). */
    private[multimodal] def decodeFramesFast(
        b: Array[Byte]): Seq[BufferedImage] = {
      if (b.length < 13) return null
      if (b(0) != 'G' || b(1) != 'I' || b(2) != 'F' || b(3) != '8' ||
          (b(4) != '7' && b(4) != '9') || b(5) != 'a') return null
      def le16(off: Int): Int = (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8)
      val w = le16(6); val h = le16(8)
      if (w <= 0 || h <= 0 || w.toLong * h > 64L * 1024 * 1024) return null
      val packed = b(10) & 0xFF
      var off = 13
      var globalTable: (Int, Int) = null // (offset, entries)
      if ((packed & 0x80) != 0) {
        val entries = 1 << ((packed & 7) + 1)
        if (off.toLong + 3L * entries > b.length) return null
        globalTable = (off, entries)
        off += 3 * entries
      }
      def skipSubBlocks(start: Int): Int = {
        var o = start
        while (o < b.length && b(o) != 0) {
          o += 1 + (b(o) & 0xFF)
          if (o > b.length) return -1
        }
        if (o >= b.length) -1 else o + 1
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[BufferedImage]
      var done = false
      while (!done) {
        if (off >= b.length) return null // missing trailer
        (b(off) & 0xFF) match {
          case 0x3B => done = true
          case 0x21 => // extension: transparency bails, the rest skip
            if (off + 2 >= b.length) return null
            val label = b(off + 1) & 0xFF
            if (label == 0xF9 && off + 4 < b.length &&
                (b(off + 3) & 1) != 0) return null // transparent frames
            off = skipSubBlocks(off + 2)
            if (off < 0) return null
          case 0x2C =>
            if (off.toLong + 10L > b.length) return null
            val left = le16(off + 1); val top = le16(off + 3)
            val iw = le16(off + 5); val ih = le16(off + 7)
            val ip = b(off + 9) & 0xFF
            if (left != 0 || top != 0 || iw != w || ih != h) return null
            // NOTE interlace (0x40) is SUPPORTED: javax's GIF writer
            // emits interlaced frames by default (its default image
            // metadata sets the flag), so the fast path must
            // de-interlace to cover its own encoder's output
            val interlaced = (ip & 0x40) != 0
            off += 10
            val table = if ((ip & 0x80) != 0) {
              val entries = 1 << ((ip & 7) + 1)
              if (off.toLong + 3L * entries > b.length) return null
              val t = (off, entries); off += 3 * entries; t
            } else globalTable
            if (table == null) return null
            if (off + 1 >= b.length) return null
            val minCodeSize = b(off) & 0xFF
            if (minCodeSize < 2 || minCodeSize > 8) return null
            // concatenate the LZW sub-blocks
            val lzw = new java.io.ByteArrayOutputStream()
            var o = off + 1
            while (o < b.length && b(o) != 0) {
              val n = b(o) & 0xFF
              if (o.toLong + 1L + n > b.length) return null
              lzw.write(b, o + 1, n)
              o += 1 + n
            }
            if (o >= b.length) return null
            off = o + 1
            val (tOff, tEntries) = table
            val decoded = lzwDecode(lzw.toByteArray, minCodeSize, w * h,
              tEntries)
            if (decoded == null) return null
            // interlaced data carries rows in 4-pass order (8k, 8k+4,
            // 4k+2, 2k+1); map them back to sequential rows
            val indices = if (!interlaced) decoded else {
              val seq = new Array[Byte](w * h)
              var src = 0
              for ((start, step) <- Seq((0, 8), (4, 8), (2, 4), (1, 2))) {
                var row = start
                while (row < h) {
                  System.arraycopy(decoded, src * w, seq, row * w, w)
                  src += 1; row += step
                }
              }
              seq
            }
            val r = new Array[Byte](tEntries)
            val g = new Array[Byte](tEntries)
            val bl = new Array[Byte](tEntries)
            var j = 0
            while (j < tEntries) {
              r(j) = b(tOff + 3 * j); g(j) = b(tOff + 3 * j + 1)
              bl(j) = b(tOff + 3 * j + 2); j += 1
            }
            val icm = new IndexColorModel(8, tEntries, r, g, bl)
            val img = new BufferedImage(w, h,
              BufferedImage.TYPE_BYTE_INDEXED, icm)
            System.arraycopy(indices, 0, img.getRaster.getDataBuffer
              .asInstanceOf[java.awt.image.DataBufferByte].getData, 0, w * h)
            out += img
          case _ => return null
        }
      }
      if (out.isEmpty) null else out.toSeq
    }

    /** GIF LZW decompression to exactly `expected` palette indices;
      * null on any stream irregularity, including an index ≥ the
      * `paletteSize` entries of the frame's color table (caller falls
      * back to javax — never an image whose getRGB throws later). */
    private def lzwDecode(data: Array[Byte], minCodeSize: Int,
        expected: Int, paletteSize: Int): Array[Byte] = {
      val clear = 1 << minCodeSize
      val eoi = clear + 1
      val prefix = new Array[Int](4096)
      val suffix = new Array[Byte](4096)
      val stack = new Array[Byte](4097)
      val out = new Array[Byte](expected)
      var outPos = 0
      var codeSize = minCodeSize + 1
      var dictSize = eoi + 1
      var oldCode = -1
      var bitBuf = 0; var bitCnt = 0; var pos = 0
      var firstByte = 0.toByte
      while (outPos < expected) {
        while (bitCnt < codeSize) {
          if (pos >= data.length) return null
          bitBuf |= (data(pos) & 0xFF) << bitCnt
          bitCnt += 8; pos += 1
        }
        val code = bitBuf & ((1 << codeSize) - 1)
        bitBuf >>>= codeSize; bitCnt -= codeSize
        if (code == clear) {
          codeSize = minCodeSize + 1
          dictSize = eoi + 1
          oldCode = -1
        } else if (code == eoi) {
          return if (outPos == expected) out else null
        } else {
          var sp = 0
          var cur = code
          if (code >= dictSize) {
            // the KwKwK case: only valid as oldCode + firstByte
            if (code != dictSize || oldCode < 0) return null
            stack(sp) = firstByte; sp += 1
            cur = oldCode
          }
          while (cur >= clear) {
            if (sp >= stack.length) return null
            stack(sp) = suffix(cur); sp += 1
            cur = prefix(cur)
          }
          // every emitted index is some code's ROOT (dictionary
          // suffixes are earlier roots), so checking roots covers all
          if (cur >= paletteSize) return null
          firstByte = cur.toByte
          stack(sp) = firstByte; sp += 1
          if (outPos + sp > expected) return null
          while (sp > 0) { sp -= 1; out(outPos) = stack(sp); outPos += 1 }
          if (oldCode >= 0 && dictSize < 4096) {
            prefix(dictSize) = oldCode
            suffix(dictSize) = firstByte
            dictSize += 1
            if (dictSize == (1 << codeSize) && codeSize < 12) codeSize += 1
          }
          oldCode = code
        }
      }
      out
    }

    def frameCount(bytes: Array[Byte]): Int = frames(bytes).size

    def durationMs(bytes: Array[Byte]): Long =
      frameCount(bytes) * FrameDelayMs

    /** Deterministic near-duplicate clip FAMILY — [[Png.groupedPattern]]
      * in the TEMPORAL domain: 65 uniform-luminance frames; frame j's
      * gray level is `md5Byte("g:frm:j")` and variant v INVERTS (255−l)
      * the DISTINCT frames `md5("g:vflip:k") % 65` for k < v — re-graded
      * / re-encoded variants of the same clip. The identity-ramp
      * grayscale palette makes the codec lossless, so the 64-bit
      * [[tHash64]] is a CLOSED FORM of (group, variant) a SQL oracle
      * reconstructs from the same md5 hex nibbles. */
    def groupedFrames(group: Long, variant: Int,
        w: Int = 8, h: Int = 8): Array[Byte] = {
      val nf = 65
      val flipped = (0 until variant)
        .map(k => Png.md5Byte(s"$group:vflip:$k") % nf).toSet
      encode((0 until nf).map { j =>
        val l0 = Png.md5Byte(s"$group:frm:$j")
        val l = if (flipped(j)) 255 - l0 else l0
        val img = new BufferedImage(w, h,
          BufferedImage.TYPE_BYTE_INDEXED, grayModel)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { raster.setSample(x, y, 0, l); x += 1 }
          y += 1
        }
        img
      })
    }

    /** 64-bit temporal hash — the video [[Png.dHash64]]: REAL frame
      * decode → exact per-frame luminance sums → bit j set when frame j
      * is brighter than frame j+1 (cross-multiplied by pixel counts, no
      * division). Re-grades and re-encodes of the same clip land within
      * a few bits; unrelated clips differ in ~32. */
    def tHash64(bytes: Array[Byte]): Long = {
      val fs = frames(bytes)
      val sums = new Array[Long](fs.size)
      val cnts = new Array[Long](fs.size)
      var j = 0
      while (j < fs.size) {
        val img = fs(j)
        var acc = 0L
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val rgb = img.getRGB(x, y)
            acc += (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
              (rgb & 0xFF) * 114) / 1000
            x += 1
          }
          y += 1
        }
        sums(j) = acc
        cnts(j) = img.getWidth.toLong * img.getHeight
        j += 1
      }
      var bits = 0L
      var f = 0
      while (f < fs.size - 1 && f < 64) {
        if (cnts(f) > 0 && cnts(f + 1) > 0 &&
            sums(f) * cnts(f + 1) > sums(f + 1) * cnts(f))
          bits |= 1L << f
        f += 1
      }
      bits
    }

    /** `n` evenly spaced frames re-encoded as PNG stills (the shape a
      * vision model ingests); fewer if the clip is shorter. Frames are
      * expanded to TYPE_INT_RGB first: encoding the gray-palette image
      * directly would route through Java's linear-gray colorspace and
      * shift every value (sRGB→sRGB stays the identity). */
    def sampleFrames(bytes: Array[Byte], n: Int): Seq[Array[Byte]] = {
      val all = frames(bytes)
      val take = math.min(n, all.size)
      (0 until take).map { i =>
        val src = all(i * all.size / take)
        val rgb = new BufferedImage(src.getWidth, src.getHeight,
          BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < src.getHeight) {
          var x = 0
          while (x < src.getWidth) {
            rgb.setRGB(x, y, src.getRGB(x, y)); x += 1
          }
          y += 1
        }
        Png.encode(rgb)
      }
    }

    /** Feature vector from REAL decoded frames: the temporal luminance
      * profile — mean frame luminance resampled onto `dim` time slices
      * (integer-exact sums; divisions only at the end). */
    def features(bytes: Array[Byte], dim: Int): Array[Float] = {
      val means = frames(bytes).map { img =>
        var acc = 0L
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val rgb = img.getRGB(x, y)
            acc += (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
              (rgb & 0xFF) * 114) / 1000
            x += 1
          }
          y += 1
        }
        acc.toDouble / (img.getWidth.toLong * img.getHeight) / 255.0
      }
      Array.tabulate(dim) { d =>
        val lo = d * means.size / dim
        val hi = math.max(lo + 1, (d + 1) * means.size / dim)
        val slice = means.slice(lo, math.min(hi, means.size))
        if (slice.isEmpty) 0f else (slice.sum / slice.size).toFloat
      }
    }
  }

  // ---- STUB KERNELS (mp4/webm only — png/wav/gif are real, above) ----
  // Replace these bodies with ffmpeg bindings when available. Signatures
  // and determinism contracts stay identical.

  /** STUB (non-GIF video): "decode" media bytes to a feature vector. Real
    * impl: decode + model forward pass. Fake: rolling hash over the
    * payload. */
  private[multimodal] def stubDecodeFeatures(bytes: Array[Byte],
      dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    var h = 1125899906842597L
    var i = 0
    while (i < bytes.length) {
      h = 31 * h + bytes(i)
      out(i % dim) += (h & 0xFFFF).toFloat / 65535.0f - 0.5f
      i += 1
    }
    out
  }

  /** STUB: sample n frames from a video payload. Real impl: ffmpeg seek.
    * Fake: n deterministic slices. */
  private[multimodal] def stubFrames(bytes: Array[Byte],
      n: Int): Seq[Array[Byte]] =
    (0 until n).map { i =>
      val start = if (bytes.isEmpty) 0 else (i * bytes.length / math.max(n, 1))
      java.util.Arrays.copyOfRange(bytes, start,
        math.min(bytes.length, start + 32))
    }

  // ---- real plumbing ---------------------------------------------------

  /** Ingest a media DIRECTORY through Spark's `binaryFile` source: one row
    * per file with the payload as a binary column, mime sniffed from the
    * extension, media_id a deterministic hash of the path. This is the
    * real on-disk entry into the kernel pipeline —
    * `spark.sql.files.maxPartitionBytes` governs split packing, and the
    * payload bytes stay partition-local from scan to feature-extract. */
  def readMediaDir(spark: SparkSession, dir: String,
      glob: String = "*"): Dataset[MediaRow] = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .map { case (path, bytes) =>
        val mime = path.toLowerCase match {
          case p if p.endsWith(".png") => "image/png"
          case p if p.endsWith(".wav") => "audio/wav"
          case p if p.endsWith(".gif") => "video/gif"
          case p if p.endsWith(".mp4") => "video/mp4"
          case p if p.endsWith(".webm") => "video/webm"
          case _ => "application/octet-stream"
        }
        // container metadata is REAL for every format (mp4 box walk /
        // EBML probe — Containers.scala); only mp4/webm SAMPLE decode
        // remains stubbed (codecs absent)
        val vmeta =
          if (mime == "video/mp4" || mime == "video/webm")
            Containers.probe(bytes)
          else None
        val (w, h) =
          if (mime == "image/png") {
            val img = Png.decode(bytes); (img.getWidth, img.getHeight)
          } else vmeta.map(m => (m.width, m.height)).getOrElse((0, 0))
        val dur = mime match {
          case "audio/wav" => Wav.durationMs(bytes)
          case "video/gif" => Gif.durationMs(bytes)
          case _ => vmeta.map(_.durationMs).getOrElse(0L)
        }
        MediaRow(
          scala.util.hashing.MurmurHash3.stringHash(path).toLong & 0x7FFFFFFFL,
          mime, bytes, w, h, dur)
      }
  }

  /** Feature extraction: mapPartitions so a real decoder amortizes
    * per-partition init (model load, codec context) across rows — the
    * standard batch-inference shape. */
  def extractFeatures(media: Dataset[MediaRow], dim: Int = 64)
      : Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition init would go here (load model / codec once)
      rows.map { r =>
        val feats = r.mime match {
          case "image/png" => Png.features(r.bytes, dim) // real pixels
          case "audio/wav" => Wav.features(r.bytes, dim) // real samples
          case "video/gif" => Gif.features(r.bytes, dim) // real frames
          case _ => stubDecodeFeatures(r.bytes, dim) // stub: mp4 needs ffmpeg
        }
        MediaFeatures(r.media_id, r.mime, dim, feats)
      }
    }
  }

  /** Image resize stage — REAL decode → nearest-neighbor resample →
    * re-encode; narrow, media stays partition-local. */
  def resizeImages(media: Dataset[MediaRow], w: Int, h: Int)
      : Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.map(r =>
      if (r.mime.startsWith("image/"))
        r.copy(bytes = Png.resize(r.bytes, w, h), width = w, height = h)
      else r)
  }

  /** Perceptual image near-dup pairs: 64-bit dHash over REAL pixels
    * ([[Png.dHash64]] — decode → 9×8 luminance grid → neighbour
    * compares), then the same banded-hamming machinery the text dedup
    * stack uses ([[graft.operators.Dedup.hamming64Pairs]]: pigeonhole
    * chunks → capped buckets → exact-hamming verify). Recall is total
    * within `maxHamming`; image decode runs ONCE per image — the dHash
    * is expensive (PNG decode + box filter), so the chunk pass's 8-byte
    * signatures are materialized and the verify join reuses them by id
    * instead of decoding candidates a second time — never all-pairs.
    * Re-encodes, small edits and watermark variants of the same image
    * land within a few bits while unrelated images differ in ~32. `df`
    * carries (idCol, bytesCol: binary PNG payload). */
  def imageNearDupPairs(df: DataFrame, idCol: String, bytesCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 1000): DataFrame = {
    val dhash = udf((b: Array[Byte]) => Png.dHash64(b))
    graft.operators.Dedup.hamming64Pairs(df, idCol, dhash(col(bytesCol)),
      maxHamming, maxBucketSize, materializeSigs = true)
  }

  /** Acoustic near-dup pairs — the audio twin of [[imageNearDupPairs]]:
    * [[Wav.eHash64]] over real decoded PCM16 samples through the same
    * banded-hamming machinery, signatures materialized (WAV decode runs
    * once per clip, never per candidate). `df` carries (idCol,
    * bytesCol: binary WAV payload). */
  def audioNearDupPairs(df: DataFrame, idCol: String, bytesCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 1000): DataFrame = {
    val ehash = udf((b: Array[Byte]) => Wav.eHash64(b))
    graft.operators.Dedup.hamming64Pairs(df, idCol, ehash(col(bytesCol)),
      maxHamming, maxBucketSize, materializeSigs = true)
  }

  /** Temporal near-dup pairs — the video member of the near-dedup
    * triple ([[imageNearDupPairs]] spatial, [[audioNearDupPairs]]
    * acoustic): [[Gif.tHash64]] over real decoded frames through the
    * same banded-hamming machinery, signatures materialized (each clip
    * decodes once). `df` carries (idCol, bytesCol: binary GIF payload). */
  def videoNearDupPairs(df: DataFrame, idCol: String, bytesCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 1000): DataFrame = {
    val thash = udf((b: Array[Byte]) => Gif.tHash64(b))
    graft.operators.Dedup.hamming64Pairs(df, idCol, thash(col(bytesCol)),
      maxHamming, maxBucketSize, materializeSigs = true)
  }

  /** Frame sampling: one media row → n frame rows (flatMap — the only
    * stage that grows row count; still narrow). GIF clips decode REAL
    * frames re-encoded as PNG stills; other video mimes hit the stub. */
  def sampleFrames(media: Dataset[MediaRow], n: Int): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.filter(_.mime.startsWith("video/")).flatMap { r =>
      val frames =
        if (r.mime == "video/gif") Gif.sampleFrames(r.bytes, n)
        else stubFrames(r.bytes, n)
      // timestamps span the clip over the frames ACTUALLY sampled — a
      // clip with fewer frames than requested still covers [0, duration)
      val got = math.max(frames.size, 1)
      frames.zipWithIndex.map { case (b, i) =>
        Frame(r.media_id, i, i.toLong * r.duration_ms / got, b)
      }
    }
  }
}
