package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media payloads are opaque `binary` columns
  * with typed metadata, processed partition-wise in batches (the Scala
  * analog of `mapInPandas` batch processing).
  *
  * The grayscale-PNG path is REAL end-to-end, pure JVM: [[PngSynth]]
  * encodes (stored-deflate IDAT) and decodes (any zlib stream, all five
  * scanline filters), [[HeaderCodecs]] parses PNG/JPEG dimensions, and
  * [[resizeImages]] runs decode → nearest-neighbor resample → re-encode.
  * Only codec-library-bound work (JPEG entropy decode, audio/video codecs,
  * learned feature extractors) stays behind the clearly-marked
  * [[StubCodecs]]; swapping it for imageio/ffmpeg changes no plumbing.
  */
object Multimodal {

  final case class MediaRow(doc_id: String, media_ref: String, bytes: Array[Byte])
  final case class DecodedImage(doc_id: String, media_ref: String,
                                width: Int, height: Int, format: String,
                                feature: Array[Float])

  /** Real pure-JVM header parsing for the two image formats whose
    * dimensions live in fixed-layout headers — PNG IHDR and JPEG SOF are
    * plain byte reads, no codec library involved. Payload dimensions are
    * REAL whenever real payloads flow through [[decodeImages]]; pixel-level
    * work (features, frames) stays behind [[StubCodecs]]. */
  object HeaderCodecs {
    private def u16(b: Array[Byte], i: Int): Int =
      ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
    private def u32(b: Array[Byte], i: Int): Int =
      ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
        ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)

    private val PngSig =
      Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

    /** PNG: 8-byte signature, then the IHDR chunk (len, "IHDR", width BE32,
      * height BE32) — width at offset 16, height at 20. */
    def pngDims(b: Array[Byte]): Option[(Int, Int)] =
      if (b.length >= 24 && b.take(8).sameElements(PngSig) &&
        b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')
        Some((u32(b, 16), u32(b, 20)))
      else None

    /** JPEG: walk the marker segments from SOI to the first SOF0-SOF15
      * frame header (skipping DHT/JPG/DAC which reuse the 0xCx space);
      * its payload is precision(1), height(2 BE), width(2 BE). */
    def jpegDims(b: Array[Byte]): Option[(Int, Int)] = {
      if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8)
        return None
      var i = 2
      while (i + 3 < b.length) {
        if ((b(i) & 0xff) != 0xff) return None
        var m = b(i + 1) & 0xff
        while (m == 0xff && i + 2 < b.length) { i += 1; m = b(i + 1) & 0xff }
        if (m == 0x01 || (m >= 0xd0 && m <= 0xd8)) i += 2 // standalone marker
        else if (m == 0xd9 || m == 0xda) return None // EOI / entropy data: no SOF seen
        else {
          if (i + 3 >= b.length) return None
          val len = u16(b, i + 2)
          if (len < 2 || i + 2 + len > b.length) return None
          if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc)
            return if (len >= 7) Some((u16(b, i + 7), u16(b, i + 5))) else None
          i += 2 + len
        }
      }
      None
    }

    /** (width, height, format) when the payload is a parseable PNG/JPEG. */
    def imageDims(b: Array[Byte]): Option[(Int, Int, String)] =
      pngDims(b).map { case (w, h) => (w, h, "png") }
        .orElse(jpegDims(b).map { case (w, h) => (w, h, "jpeg") })
  }

  /** Minimal deterministic PNG ENCODER, pure JVM (no codec libraries):
    * grayscale 8-bit, stored-deflate IDAT (zlib header + BTYPE=00 blocks +
    * Adler-32), CRC-32 per chunk — a byte-valid PNG any decoder (including
    * [[HeaderCodecs.pngDims]]) reads back. Used by [[mediaTable]] so fixture
    * payloads are REAL images and the decode gate is oracle-checkable; the
    * encoder itself is also the honest stand-in for a production "fetch blob"
    * stage, whose output shape (a few-KB binary column) it matches. */
  object PngSynth {
    private def be32(v: Int): Array[Byte] =
      Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)

    private def chunk(tag: String, data: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32
      val tb = tag.getBytes("US-ASCII")
      crc.update(tb); crc.update(data)
      be32(data.length) ++ tb ++ data ++ be32(crc.getValue.toInt)
    }

    /** Raw scanlines (filter byte 0 + width pixels) wrapped in a zlib stream
      * of stored (uncompressed) deflate blocks — deterministic by
      * construction, no Deflater heuristics involved. */
    private def zlibStored(raw: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(raw.length + raw.length / 65535 * 5 + 16)
      out.write(0x78); out.write(0x01) // CMF/FLG: deflate, 32K window, check ok
      var off = 0
      while (off < raw.length || raw.length == 0 && off == 0) {
        val len = math.min(65535, raw.length - off)
        val last = off + len >= raw.length
        out.write(if (last) 1 else 0) // BFINAL | BTYPE=00 (stored)
        out.write(len & 0xff); out.write(len >>> 8)
        out.write(~len & 0xff); out.write((~len >>> 8) & 0xff)
        out.write(raw, off, len)
        off += len
        if (last) off = raw.length + 1
      }
      val adler = new java.util.zip.Adler32
      adler.update(raw)
      out.write(be32(adler.getValue.toInt))
      out.toByteArray
    }

    /** Encodes row-major 8-bit grayscale `pixels` as a complete PNG. */
    def encodeGray(width: Int, height: Int, pixels: Array[Byte]): Array[Byte] = {
      require(width > 0 && height > 0, s"bad dims ${width}x$height")
      require(pixels.length == width * height, "pixels != width*height")
      val raw = new Array[Byte](height * (1 + width))
      var y = 0
      while (y < height) {
        // raw(y*(1+width)) stays 0: filter type None
        System.arraycopy(pixels, y * width, raw, y * (1 + width) + 1, width)
        y += 1
      }
      val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
      val ihdr = be32(width) ++ be32(height) ++
        Array[Byte](8 /*depth*/ , 0 /*grayscale*/ , 0, 0, 0)
      sig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", zlibStored(raw)) ++
        chunk("IEND", Array.empty)
    }

    /** A complete grayscale PNG of `width`×`height`; pixel (x, y) is a
      * deterministic gradient of (x, y, seed). */
    def png(width: Int, height: Int, seed: Int): Array[Byte] = {
      val pixels = new Array[Byte](width * height)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          pixels(y * width + x) = ((x * 31 + y * 17 + seed) & 0xff).toByte
          x += 1
        }
        y += 1
      }
      encodeGray(width, height, pixels)
    }

    /** REAL grayscale-PNG decoder, pure JDK: walks the chunk stream,
      * inflates the concatenated IDATs (any zlib stream — `Inflater`, not
      * just our stored blocks), and reverses all five PNG scanline filters
      * (None/Sub/Up/Average/Paeth, bpp = 1), so PNGs from other encoders
      * (e.g. ImageIO, which emits Paeth-filtered deflate) decode too.
      * Returns (width, height, row-major pixels); None for anything that is
      * not an 8-bit colortype-0 PNG. */
    def decodeGray(b: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
      if (b.length < 8 || !HeaderCodecs.pngDims(b).isDefined) return None
      var w = 0; var h = 0; var depth = -1; var color = -1; var interlace = -1
      val idat = new java.io.ByteArrayOutputStream()
      var i = 8
      while (i + 8 <= b.length) {
        val len = ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
          ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
        val tag = new String(b, i + 4, 4, "US-ASCII")
        // subtraction form: `i + 8 + len` overflows Int for adversarial
        // lengths near Int.MaxValue, silently bypassing the bound
        if (len < 0 || len > b.length - i - 8) return None
        tag match {
          case "IHDR" if len >= 13 =>
            w = ((b(i + 8) & 0xff) << 24) | ((b(i + 9) & 0xff) << 16) |
              ((b(i + 10) & 0xff) << 8) | (b(i + 11) & 0xff)
            h = ((b(i + 12) & 0xff) << 24) | ((b(i + 13) & 0xff) << 16) |
              ((b(i + 14) & 0xff) << 8) | (b(i + 15) & 0xff)
            depth = b(i + 16) & 0xff; color = b(i + 17) & 0xff
            interlace = b(i + 20) & 0xff
          case "IDAT" => idat.write(b, i + 8, len)
          case _      => ()
        }
        i += 12 + len // len + type + crc
      }
      if (w <= 0 || h <= 0 || depth != 8 || color != 0 || interlace != 0)
        return None
      // adversarial-dims bound (Long arithmetic — h*(1+w) overflows Int for
      // crafted headers like w=2^30): the raw buffer must fit an Int index
      // AND be reachable from the actual IDAT payload (stored-deflate
      // expands ≤1032×: 1 byte per 258-byte match at 32K window, plus block
      // framing) — a 2^30-pixel header over a 100-byte IDAT is a lie, not
      // an image, and must return None instead of attempting a multi-GB
      // allocation or throwing NegativeArraySizeException
      // pixel budget: 2^28 raw bytes (≈268 MP grayscale) — far above any
      // real thumbnail/training-image source, and it keeps a single
      // hostile row from allocating executor-killing buffers even when the
      // deflate-expansion bound below is satisfied by a large IDAT
      val rawLen = h.toLong * (1L + w.toLong)
      if (rawLen > (1L << 28) || rawLen > idat.size().toLong * 1032L + 64L)
        return None
      val raw = new Array[Byte](rawLen.toInt)
      val inf = new java.util.zip.Inflater()
      inf.setInput(idat.toByteArray)
      var off = 0
      try {
        while (off < raw.length && !inf.finished()) {
          val n = inf.inflate(raw, off, raw.length - off)
          // n == 0 while unfinished covers truncated input AND streams
          // demanding a preset dictionary (FDICT) — either way, not ours;
          // breaking here rather than on needsInput() alone prevents an
          // infinite loop on the dictionary case
          if (n == 0) return None
          off += n
        }
      } catch { case _: java.util.zip.DataFormatException => return None }
      finally inf.end()
      if (off != raw.length) return None
      // reverse per-scanline filters (bpp = 1)
      val px = new Array[Byte](w * h)
      var y = 0
      while (y < h) {
        val ft = raw(y * (1 + w)) & 0xff
        var x = 0
        while (x < w) {
          val cur = raw(y * (1 + w) + 1 + x) & 0xff
          val a = if (x > 0) px(y * w + x - 1) & 0xff else 0 // left
          val up = if (y > 0) px((y - 1) * w + x) & 0xff else 0
          val ul = if (x > 0 && y > 0) px((y - 1) * w + x - 1) & 0xff else 0
          val out = ft match {
            case 0 => cur
            case 1 => cur + a
            case 2 => cur + up
            case 3 => cur + (a + up) / 2
            case 4 => // Paeth predictor
              val p = a + up - ul
              val pa = math.abs(p - a); val pb = math.abs(p - up); val pc = math.abs(p - ul)
              cur + (if (pa <= pb && pa <= pc) a else if (pb <= pc) up else ul)
            case _ => return None
          }
          px(y * w + x) = (out & 0xff).toByte
          x += 1
        }
        y += 1
      }
      Some((w, h, px))
    }

    /** REAL feature extraction from decoded pixels: `g`×`g` mean-pooled
      * intensity cells (g = √dim when dim is a perfect square, else `dim`
      * equal strips of the flat pixel buffer), row-major cell order. Cell
      * (cx, cy) covers x ∈ [cx·w/g, (cx+1)·w/g) — integer division, so the
      * bounds are exactly recomputable by an integer-arithmetic oracle.
      * Deterministic, pure JVM; the dimension matches the dense-embedding
      * shape the similarity operators consume, so decode → feature →
      * cosineDupPairs runs on REAL pixel data end-to-end. */
    def gridPooledFeature(w: Int, h: Int, px: Array[Byte], dim: Int): Array[Float] = {
      val g = math.sqrt(dim.toDouble).toInt
      if (g * g == dim && w >= g && h >= g) {
        val out = new Array[Float](dim)
        var cy = 0
        while (cy < g) {
          // Long bound arithmetic: cx·w etc. overflow Int for the large
          // (but within-budget) dimensions decodeGray admits
          val y0 = (cy.toLong * h / g).toInt; val y1 = ((cy + 1).toLong * h / g).toInt
          var cx = 0
          while (cx < g) {
            val x0 = (cx.toLong * w / g).toInt; val x1 = ((cx + 1).toLong * w / g).toInt
            var sum = 0L; var y = y0
            while (y < y1) {
              var x = x0
              while (x < x1) { sum += px(y * w + x) & 0xff; x += 1 }
              y += 1
            }
            out(cy * g + cx) = (sum.toDouble / ((x1 - x0).toLong * (y1 - y0))).toFloat
            cx += 1
          }
          cy += 1
        }
        out
      } else { // non-square dim or image smaller than the grid: strip pooling
        val n = px.length
        val out = new Array[Float](dim)
        var i = 0
        while (i < dim) {
          // Long arithmetic: i·n overflows Int past ~134M pixels
          val p0 = (i.toLong * n / dim).toInt
          val p1 = math.max(p0 + 1, ((i + 1).toLong * n / dim).toInt)
          var sum = 0L; var p = p0
          while (p < math.min(p1, n)) { sum += px(p) & 0xff; p += 1 }
          out(i) = if (p1 > p0 && p0 < n) (sum.toDouble / (math.min(p1, n) - p0)).toFloat else 0f
          i += 1
        }
        out
      }
    }

    /** Nearest-neighbor resample of a row-major grayscale buffer. */
    def resizeGray(inW: Int, inH: Int, pixels: Array[Byte],
                   outW: Int, outH: Int): Array[Byte] = {
      require(outW > 0 && outH > 0, s"bad target ${outW}x$outH")
      val out = new Array[Byte](outW * outH)
      var y = 0
      while (y < outH) {
        val sy = y.toLong * inH / outH
        var x = 0
        while (x < outW) {
          out(y * outW + x) = pixels((sy * inW + x.toLong * inW / outW).toInt)
          x += 1
        }
        y += 1
      }
      out
    }
  }

  /** Minimal deterministic WAV (RIFF/PCM16 mono) ENCODER/DECODER pair, pure
    * JVM — the audio analog of [[PngSynth]]: fixture payloads are byte-valid
    * WAV files any reader parses, the decoder reads foreign PCM16-mono WAVs
    * (chunk-walking, adversarial-length-safe), and the feature kernel
    * (windowed mean-|amplitude| + zero-crossing counts) runs on REAL
    * samples. Only compressed codecs (MP3/AAC/Opus) stay behind
    * [[StubCodecs]]; swapping in a codec library changes no plumbing. */
  object WavSynth {
    private def le16(v: Int): Array[Byte] = Array(v.toByte, (v >>> 8).toByte)
    private def le32(v: Int): Array[Byte] =
      Array(v.toByte, (v >>> 8).toByte, (v >>> 16).toByte, (v >>> 24).toByte)
    private def rd16(b: Array[Byte], i: Int): Int =
      (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
    private def rd32(b: Array[Byte], i: Int): Int =
      (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) |
        ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)

    /** Complete RIFF/WAVE file: fmt (PCM, mono, 16-bit LE) + data. */
    def encodePcm16(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
      require(sampleRate > 0 && samples.nonEmpty, "empty audio")
      val dataLen = samples.length * 2
      val out = new java.io.ByteArrayOutputStream(44 + dataLen)
      out.write("RIFF".getBytes("US-ASCII")); out.write(le32(36 + dataLen))
      out.write("WAVE".getBytes("US-ASCII"))
      out.write("fmt ".getBytes("US-ASCII")); out.write(le32(16))
      out.write(le16(1)) // PCM
      out.write(le16(1)) // mono
      out.write(le32(sampleRate))
      out.write(le32(sampleRate * 2)) // byte rate
      out.write(le16(2)) // block align
      out.write(le16(16)) // bits per sample
      out.write("data".getBytes("US-ASCII")); out.write(le32(dataLen))
      samples.foreach(s => out.write(le16(s & 0xffff)))
      out.toByteArray
    }

    /** (sampleRate, samples) for a PCM16-mono WAV; None for anything else —
      * including hostile chunk lengths (all bounds in Long, declared data
      * size clamped to the bytes actually present). */
    def decodePcm16(b: Array[Byte]): Option[(Int, Array[Short])] = {
      if (b.length < 44 ||
        new String(b, 0, 4, "US-ASCII") != "RIFF" ||
        new String(b, 8, 4, "US-ASCII") != "WAVE") return None
      var i = 12
      var rate = -1; var ok = false
      var data: Array[Short] = null
      while (i + 8 <= b.length) {
        val tag = new String(b, i, 4, "US-ASCII")
        val len = rd32(b, i + 4)
        if (len < 0 || len > b.length - i - 8) {
          // hostile/truncated declared length: a data chunk may still be
          // read up to the bytes present; anything else is malformed
          if (tag != "data") return None
        }
        val avail = math.min(if (len < 0) 0 else len, b.length - i - 8)
        tag match {
          case "fmt " if avail >= 16 =>
            val fmt = rd16(b, i + 8); val ch = rd16(b, i + 10)
            val bits = rd16(b, i + 22)
            rate = rd32(b, i + 12)
            ok = fmt == 1 && ch == 1 && bits == 16 && rate > 0
          case "data" =>
            val n = avail / 2
            val s = new Array[Short](n)
            var j = 0
            while (j < n) { s(j) = rd16(b, i + 8 + 2 * j).toShort; j += 1 }
            data = s
          case _ => ()
        }
        i += 8 + avail + (avail & 1) // chunks are word-aligned
      }
      if (ok && data != null && data.nonEmpty) Some((rate, data)) else None
    }

    /** Deterministic test-tone WAV: sample(i) = ((i·37 + seed·101) mod
      * 4001) − 2000 — integer arithmetic a SQL oracle recomputes exactly. */
    def wav(nSamples: Int, seed: Int, sampleRate: Int = 8000): Array[Byte] = {
      val s = new Array[Short](nSamples)
      var i = 0
      while (i < nSamples) {
        s(i) = (((i.toLong * 37 + seed.toLong * 101) % 4001) - 2000).toShort
        i += 1
      }
      encodePcm16(sampleRate, s)
    }

    /** REAL audio features over decoded samples, `w` equal windows (integer
      * bounds i·n/w, like the image grid): per window the mean ABSOLUTE
      * amplitude (loudness envelope) and the zero-crossing count (sign
      * changes vs the previous sample, counted at indices ≥ 1 inside the
      * window) — the classic cheap audio descriptors, exactly
      * SQL-recomputable. */
    def audioFeatures(samples: Array[Short], w: Int): (Array[Float], Array[Int]) = {
      val n = samples.length
      val meanAbs = new Array[Float](w)
      val zc = new Array[Int](w)
      var k = 0
      while (k < w) {
        // Long bounds: k·n overflows Int for the ~GB WAVs decodePcm16 admits
        val x0 = (k.toLong * n / w).toInt; val x1 = ((k + 1).toLong * n / w).toInt
        var sum = 0L; var cross = 0; var i = x0
        while (i < x1) {
          sum += math.abs(samples(i).toInt)
          if (i >= 1 && (samples(i - 1) < 0) != (samples(i) < 0)) cross += 1
          i += 1
        }
        meanAbs(k) = if (x1 > x0) (sum.toDouble / (x1 - x0)).toFloat else 0f
        zc(k) = cross
        k += 1
      }
      (meanAbs, zc)
    }
  }

  /** STUB codec boundary: deterministic fakes derived from the payload
    * bytes. Replace with real imageio/ffmpeg calls in production. */
  object StubCodecs {
    def decodeImage(bytes: Array[Byte]): (Int, Int, String) = {
      val h = java.util.Arrays.hashCode(bytes)
      (64 + math.abs(h % 512), 64 + math.abs((h / 512) % 512),
        if (h % 2 == 0) "png" else "jpeg")
    }
    def extractFeature(bytes: Array[Byte], dim: Int): Array[Float] = {
      val rng = new scala.util.Random(java.util.Arrays.hashCode(bytes).toLong)
      Array.fill(dim)(rng.nextFloat())
    }
    def sampleFrames(bytes: Array[Byte], every: Int): Seq[Long] = {
      val n = math.max(1, bytes.length / every)
      (0 until n).map(i => java.util.Arrays.hashCode(bytes).toLong * 31 + i)
    }
    def decodeAudio(bytes: Array[Byte], windows: Int): (Int, Int, Array[Float], Array[Int]) = {
      val rng = new scala.util.Random(java.util.Arrays.hashCode(bytes).toLong)
      (8000, 1 + rng.nextInt(8000),
        Array.fill(windows)(rng.nextFloat() * 2000),
        Array.fill(windows)(rng.nextInt(50)))
    }
  }

  /** Materializes a media table from the docs view: one row per interleaved
    * media span, with a deterministic REAL PNG payload ([[PngSynth]]) whose
    * dimensions derive from the media_ref's trailing digits by
    * SQL-recomputable arithmetic:
    *   mid    = last ≤6 decimal digits of the ref (0 if none)
    *   width  = 16 + (mid·7) mod 48,  height = 16 + (mid·13) mod 48
    * so a DuckDB oracle can recompute (width, height, format) that
    * [[decodeImages]] re-derives from the BYTES via real header parsing —
    * the dims are dropped before the payload column exists precisely so the
    * decode path cannot cheat. The payload UDF is the fixture stand-in for
    * fetching the blob from object storage (executor-side, a few KB/row,
    * never collected). */
  def mediaTable(view: DataFrame): DataFrame = {
    val midStr = regexp_extract(col("media_ref"), "([0-9]{1,6})$", 1)
    val mid = when(midStr === "", lit(0)).otherwise(midStr.cast("int"))
    val pngUdf = udf { (w: Int, h: Int, seed: Int) => PngSynth.png(w, h, seed) }
    view.select(col("doc_id"), explode(col("media_refs")).as("media_ref"))
      .withColumn("bytes", pngUdf(
        lit(16) + pmod(mid * 7, lit(48)), lit(16) + pmod(mid * 13, lit(48)), mid))
  }

  /** Batch image decode + feature extraction: partition-wise typed
    * mapPartitions (no per-row task overhead, no driver collect). The
    * partitioning of the input is preserved — callers repartition by doc_id
    * upstream if they need co-location with the docs table.
    *
    * Dimensions and format come from REAL header parsing
    * ([[HeaderCodecs]]) when the payload is a PNG or JPEG — including every
    * [[mediaTable]] payload, which is a valid [[PngSynth]] image, so the
    * `multimodal_decode` gate is a full rows+schema+hash oracle check.
    * Features are REAL for every grayscale PNG [[PngSynth.decodeGray]]
    * reads: grid-pooled mean intensities over the decoded pixels
    * ([[PngSynth.gridPooledFeature]]), oracle-checked against the fixture
    * gradient arithmetic (`multimodal_features` gate) and fed end-to-end
    * into the embedding ANN path (`multimodal_ann_dups` gate). Only
    * codec-library-bound payloads (JPEG entropy data, non-image bytes)
    * fall back to the deterministic [[StubCodecs]]. */
  def decodeImages(media: DataFrame, featureDim: Int = 16): Dataset[DecodedImage] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("doc_id", "media_ref", "bytes").as[MediaRow]
      .mapPartitions { rows =>
        rows.map { r =>
          PngSynth.decodeGray(r.bytes) match {
            case Some((w, h, px)) =>
              DecodedImage(r.doc_id, r.media_ref, w, h, "png",
                PngSynth.gridPooledFeature(w, h, px, featureDim))
            case None =>
              val (w, h, fmt) = HeaderCodecs.imageDims(r.bytes)
                .getOrElse(StubCodecs.decodeImage(r.bytes))
              DecodedImage(r.doc_id, r.media_ref, w, h, fmt,
                StubCodecs.extractFeature(r.bytes, featureDim))
          }
        }
      }
  }

  final case class ResizedImage(doc_id: String, media_ref: String,
                                width: Int, height: Int, real_decode: Boolean,
                                bytes: Array[Byte])

  /** Batch image resize to `targetW`×`targetH`: REAL decode → nearest-
    * neighbor resample → re-encode for grayscale PNGs (the [[mediaTable]]
    * payloads and anything else [[PngSynth.decodeGray]] reads, including
    * filtered/deflated PNGs from other encoders); non-decodable payloads
    * get a deterministic stub gradient seeded by the payload hash
    * (`real_decode = false`). Partition-wise `mapPartitions`, a few KB per
    * row, never collected — the thumbnail/normalization stage of a
    * multimodal training pipeline. */
  def resizeImages(media: DataFrame, targetW: Int, targetH: Int): Dataset[ResizedImage] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("doc_id", "media_ref", "bytes").as[MediaRow]
      .mapPartitions { rows =>
        rows.map { r =>
          PngSynth.decodeGray(r.bytes) match {
            case Some((w, h, px)) =>
              val out = PngSynth.resizeGray(w, h, px, targetW, targetH)
              ResizedImage(r.doc_id, r.media_ref, targetW, targetH,
                real_decode = true, PngSynth.encodeGray(targetW, targetH, out))
            case None =>
              val seed = java.util.Arrays.hashCode(r.bytes)
              ResizedImage(r.doc_id, r.media_ref, targetW, targetH,
                real_decode = false, PngSynth.png(targetW, targetH, seed & 0xff))
          }
        }
      }
  }

  final case class DecodedAudio(doc_id: String, media_ref: String,
                                sample_rate: Int, n_samples: Int,
                                mean_abs: Array[Float], zero_crossings: Array[Int])

  /** Materializes an AUDIO media table from the docs view: one row per
    * media span, payload a byte-valid [[WavSynth]] PCM16 WAV whose length
    * derives from the ref's trailing digits by SQL-recomputable arithmetic
    *   mid = last ≤6 decimal digits;  n_samples = 400 + (mid·11) mod 800
    * and whose samples follow the [[WavSynth.wav]] test-tone formula — the
    * audio analog of [[mediaTable]]: the decode gate re-derives everything
    * from the BYTES, so the codec pair cannot cheat. */
  def audioTable(view: DataFrame): DataFrame = {
    val midStr = regexp_extract(col("media_ref"), "([0-9]{1,6})$", 1)
    val mid = when(midStr === "", lit(0)).otherwise(midStr.cast("int"))
    val wavUdf = udf { (n: Int, seed: Int) => WavSynth.wav(n, seed) }
    view.select(col("doc_id"), explode(col("media_refs")).as("media_ref"))
      .withColumn("bytes", wavUdf(lit(400) + pmod(mid * 11, lit(800)), mid))
  }

  /** Batch audio decode + feature extraction, partition-wise (the audio
    * sibling of [[decodeImages]]): REAL sample decode + windowed
    * mean-|amplitude| / zero-crossing features for any PCM16-mono WAV
    * ([[WavSynth.decodePcm16]] — including foreign encoders' files);
    * compressed formats fall back to the deterministic stub. */
  def decodeAudio(media: DataFrame, windows: Int = 8): Dataset[DecodedAudio] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("doc_id", "media_ref", "bytes").as[MediaRow]
      .mapPartitions { rows =>
        rows.map { r =>
          WavSynth.decodePcm16(r.bytes) match {
            case Some((rate, samples)) =>
              val (meanAbs, zc) = WavSynth.audioFeatures(samples, windows)
              DecodedAudio(r.doc_id, r.media_ref, rate, samples.length, meanAbs, zc)
            case None =>
              val (rate, n, meanAbs, zc) = StubCodecs.decodeAudio(r.bytes, windows)
              DecodedAudio(r.doc_id, r.media_ref, rate, n, meanAbs, zc)
          }
        }
      }
  }

  /** Minimal packed-video container, pure JVM: magic "GPNGV1" + BE32 frame
    * count, then length-prefixed [[PngSynth]] grayscale-PNG frames. Real
    * video CONTAINERS/codecs (MP4/H.264…) are codec-library-bound and stay
    * behind [[StubCodecs]]; this container is the honest stand-in whose
    * byte layout a decoder must actually parse — and every FRAME decode is
    * the real PNG decoder, so frame sampling runs on real pixels. */
  object GpvSynth {
    private val Magic = "GPNGV1".getBytes("US-ASCII")
    private def be32(v: Int): Array[Byte] =
      Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    private def rd32(b: Array[Byte], i: Int): Int =
      ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
        ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)

    def encode(frames: Seq[Array[Byte]]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(Magic); out.write(be32(frames.length))
      frames.foreach { f => out.write(be32(f.length)); out.write(f, 0, f.length) }
      out.toByteArray
    }

    /** Frame payloads in order; None unless the container parses exactly
      * (all lengths in bounds — hostile counts/lengths rejected, Long
      * arithmetic throughout). */
    def decode(b: Array[Byte]): Option[Vector[Array[Byte]]] = {
      if (b.length < 10 || !b.take(6).sameElements(Magic)) return None
      val n = rd32(b, 6)
      if (n < 0 || n > b.length / 8) return None // each frame costs ≥ 4 bytes + PNG
      val frames = Vector.newBuilder[Array[Byte]]
      var i = 10L
      var k = 0
      while (k < n) {
        if (i + 4 > b.length) return None
        val len = rd32(b, i.toInt)
        if (len < 0 || i + 4 + len > b.length) return None
        frames += java.util.Arrays.copyOfRange(b, i.toInt + 4, i.toInt + 4 + len)
        i += 4 + len
        k += 1
      }
      if (i != b.length) return None
      Some(frames.result())
    }

    /** Deterministic video: `nFrames` gradient frames, frame f seeded
      * seed + 7f (so frame pixels are SQL-recomputable per index). */
    def video(nFrames: Int, width: Int, height: Int, seed: Int): Array[Byte] =
      encode((0 until nFrames).map(f => PngSynth.png(width, height, (seed + 7 * f) & 0xff)))
  }

  final case class SampledFrame(doc_id: String, media_ref: String,
                                frame_idx: Int, width: Int, height: Int,
                                real_decode: Boolean, p00: Int)

  /** Materializes a VIDEO media table: one [[GpvSynth]] container per media
    * span — nFrames = 3 + mid mod 6, frame dims from the image-table
    * arithmetic — so frame sampling is oracle-checkable end-to-end. */
  def videoTable(view: DataFrame): DataFrame = {
    val midStr = regexp_extract(col("media_ref"), "([0-9]{1,6})$", 1)
    val mid = when(midStr === "", lit(0)).otherwise(midStr.cast("int"))
    val vidUdf = udf { (n: Int, w: Int, h: Int, seed: Int) => GpvSynth.video(n, w, h, seed) }
    view.select(col("doc_id"), explode(col("media_refs")).as("media_ref"))
      .withColumn("bytes", vidUdf(lit(3) + pmod(mid, lit(6)),
        lit(16) + pmod(mid * 7, lit(48)), lit(16) + pmod(mid * 13, lit(48)), mid))
  }

  /** REAL frame sampling: parse the container, keep every `every`-th frame,
    * decode each kept frame with the real PNG decoder (dims + the (0,0)
    * pixel — enough for an exact oracle without shipping pixel buffers).
    * Non-container payloads fall back to the hash stub (frame_idx carries
    * the stub hash ordering; real_decode=false). Partition-wise, one output
    * row per kept frame, nothing collected. */
  def sampleFramesReal(media: DataFrame, every: Int = 2): Dataset[SampledFrame] = {
    require(every >= 1, "every must be >= 1")
    val spark = media.sparkSession
    import spark.implicits._
    media.select("doc_id", "media_ref", "bytes").as[MediaRow]
      .flatMap { r =>
        GpvSynth.decode(r.bytes) match {
          case Some(frames) =>
            frames.zipWithIndex.collect {
              case (f, idx) if idx % every == 0 =>
                PngSynth.decodeGray(f) match {
                  case Some((w, h, px)) =>
                    SampledFrame(r.doc_id, r.media_ref, idx, w, h,
                      real_decode = true, px(0) & 0xff)
                  case None =>
                    SampledFrame(r.doc_id, r.media_ref, idx, -1, -1,
                      real_decode = false, -1)
                }
            }
          case None =>
            StubCodecs.sampleFrames(r.bytes, 64).zipWithIndex
              .collect { case (hash, i) if i % every == 0 =>
                SampledFrame(r.doc_id, r.media_ref, i, -1, -1,
                  real_decode = false, (hash & 0xff).toInt)
              }
        }
      }
  }
}
