package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column plumbing (SURVEY.md §2H):
  * media as opaque binary columns + typed metadata, with decode /
  * resize / frame-sample as per-partition pipeline stages.
  *
  * Codecs: every format a pure-JVM build can decode is decoded FOR
  * REAL — binary P6 PPM images (header parse + RGB→luma), PNG and
  * JPEG images (the JDK's own javax.imageio decoders, no external
  * libraries), RIFF/WAVE PCM16 audio (chunk walk + sample
  * extraction), YUV4MPEG2 video (stream-header parse + FRAME walk +
  * uniform frame sampling), animated GIF (the javax.imageio sequence
  * reader), and MJPEG-in-AVI (a hand-walked RIFF 'AVI ' container
  * with per-frame JDK JPEG decode) — the last two being genuinely
  * COMPRESSED multi-frame containers through the same frame-sampling
  * stage, see [[Codec]] — so the whole decode path genuinely parses
  * byte streams and is round-trip tested (MultimodalSpec encodes
  * known images/waves/frame sequences and asserts exact recovery;
  * JPEG-based formats within quantization tolerance). [[StubCodec]]
  * remains only as the documented swap-in point for INTER-FRAME
  * compressed video (H.264/VP9), whose decoders (ffmpeg) this
  * container does not ship and whose motion-compensation state has no
  * pure-JVM implementation to borrow. At scale each stage is `mapPartitions`
  * (no per-row JNI/process setup: a heavyweight decoder initializes
  * once per partition), media stays binary end-to-end (never in
  * driver memory), and partition counts are controlled by the caller
  * before the expensive stage.
  */
object Multimodal {

  case class MediaMeta(width: Int, height: Int, durationMs: Long, codec: String)
  case class MediaRow(media_id: Long, kind: String, data: Array[Byte], meta: MediaMeta)
  case class DecodedFrame(media_id: Long, frame_idx: Int, width: Int, height: Int,
                          pixels: Array[Byte])
  case class AudioClip(media_id: Long, sample_rate: Int, n_samples: Int,
                       samples: Array[Float])

  /** Real pure-JVM codecs for self-describing formats. */
  object Codec {

    /** Encode an RGB buffer (3 bytes/pixel, row-major) as binary PPM
      * (P6). Used by synthMedia and the round-trip tests. */
    def encodePpm(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
      require(rgb.length == w * h * 3, s"rgb length ${rgb.length} != ${w * h * 3}")
      val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
      val out = new Array[Byte](header.length + rgb.length)
      System.arraycopy(header, 0, out, 0, header.length)
      System.arraycopy(rgb, 0, out, header.length, rgb.length)
      out
    }

    /** Decode binary PPM (P6): parse the ASCII header (whitespace and
      * `#` comments per the spec), then map RGB to 8-bit luma
      * (BT.601 integer weights). Returns (width, height, gray). */
    def decodePpm(data: Array[Byte]): (Int, Int, Array[Byte]) = {
      var pos = 0
      def skipWs(): Unit = {
        var going = true
        while (going && pos < data.length) {
          val c = data(pos).toChar
          if (c == '#') { while (pos < data.length && data(pos) != '\n') pos += 1 }
          else if (c.isWhitespace) pos += 1
          else going = false
        }
      }
      def token(): String = {
        skipWs()
        val start = pos
        while (pos < data.length && !data(pos).toChar.isWhitespace) pos += 1
        new String(data, start, pos - start, "US-ASCII")
      }
      require(token() == "P6", "not a binary PPM (P6) payload")
      val w = token().toInt
      val h = token().toInt
      val maxVal = token().toInt
      require(maxVal == 255, s"only 8-bit PPM supported, maxval=$maxVal")
      // long arithmetic: a hostile 65536x65536 header would overflow
      // w*h*3 as int and slip past the truncation guard
      require(w > 0 && h > 0 && w.toLong * h * 3 <= Int.MaxValue,
        s"implausible PPM dimensions ${w}x$h")
      pos += 1 // single whitespace after maxval, per spec
      require(data.length - pos >= w * h * 3, "truncated PPM pixel data")
      val gray = new Array[Byte](w * h)
      var i = 0
      while (i < w * h) {
        val r = data(pos + 3 * i) & 0xff
        val g = data(pos + 3 * i + 1) & 0xff
        val b = data(pos + 3 * i + 2) & 0xff
        gray(i) = ((299 * r + 587 * g + 114 * b) / 1000).toByte
        i += 1
      }
      (w, h, gray)
    }

    /** Encode mono PCM16 samples as a minimal RIFF/WAVE payload. */
    def encodeWavPcm16(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
      val dataLen = samples.length * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1) // PCM, mono
        .putInt(sampleRate).putInt(sampleRate * 2)
        .putShort(2).putShort(16) // block align, bits
      bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(bb.putShort)
      bb.array()
    }

    /** Encode grayscale frames as YUV4MPEG2 (`Cmono` colorspace):
      * parameterized ASCII stream header, then `FRAME\n` + the Y
      * plane per frame. */
    def encodeY4m(w: Int, h: Int, frames: Seq[Array[Byte]]): Array[Byte] = {
      require(frames.forall(_.length == w * h), "frame size must be w*h")
      val header = s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 Cmono\n".getBytes("US-ASCII")
      val fm = "FRAME\n".getBytes("US-ASCII")
      val out = new java.io.ByteArrayOutputStream(
        header.length + frames.map(_.length + fm.length).sum)
      out.write(header)
      frames.foreach { f => out.write(fm); out.write(f) }
      out.toByteArray
    }

    /** Decode YUV4MPEG2 (`Cmono`): parse the parameter header
      * (unknown parameters skipped per spec), then walk FRAME markers
      * (frame-level parameters ignored) collecting Y planes. Returns
      * (width, height, frames). */
    def decodeY4m(data: Array[Byte]): (Int, Int, Array[Array[Byte]]) = {
      val nl0 = data.indexOf('\n'.toByte)
      require(nl0 > 0, "missing Y4M stream header")
      val header = new String(data, 0, nl0, "US-ASCII")
      val toks = header.split(' ')
      require(toks(0) == "YUV4MPEG2", "not a YUV4MPEG2 payload")
      def param(p: Char): Option[String] =
        toks.drop(1).find(t => t.nonEmpty && t.head == p).map(_.tail)
      val w = param('W').getOrElse(sys.error("Y4M missing width")).toInt
      val h = param('H').getOrElse(sys.error("Y4M missing height")).toInt
      val cs = param('C').getOrElse("420")
      require(cs == "mono", s"only Cmono Y4M supported, colorspace=$cs")
      val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      var pos = nl0 + 1
      while (pos < data.length) {
        val nl = data.indexOf('\n'.toByte, pos)
        require(nl > 0, "truncated FRAME marker")
        require(new String(data, pos, nl - pos, "US-ASCII").startsWith("FRAME"),
          "expected FRAME marker")
        pos = nl + 1
        require(data.length - pos >= w * h, "truncated frame plane")
        frames += java.util.Arrays.copyOfRange(data, pos, pos + w * h)
        pos += w * h
      }
      (w, h, frames.toArray)
    }

    // ImageIO defaults to a temp-FILE stream cache per decode — a
    // silent disk-write amplifier inside mapPartitions at scale; flip
    // it to the in-memory cache once, before the first imageio call
    private lazy val imageIoNoDiskCache: Unit =
      javax.imageio.ImageIO.setUseCache(false)

    /** Encode an RGB buffer (3 bytes/pixel, row-major) as PNG —
      * lossless, via the pure-JDK javax.imageio writer (no external
      * codec libraries). */
    def encodePng(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] =
      encodeImageIo(w, h, rgb, "png")

    /** Encode an RGB buffer as baseline JPEG (lossy) via javax.imageio. */
    def encodeJpeg(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] =
      encodeImageIo(w, h, rgb, "jpg")

    private def encodeImageIo(w: Int, h: Int, rgb: Array[Byte], fmt: String): Array[Byte] = {
      require(rgb.length == w * h * 3, s"rgb length ${rgb.length} != ${w * h * 3}")
      imageIoNoDiskCache
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var i = 0
      while (i < w * h) {
        img.setRGB(i % w, i / w,
          ((rgb(3 * i) & 0xff) << 16) | ((rgb(3 * i + 1) & 0xff) << 8) | (rgb(3 * i + 2) & 0xff))
        i += 1
      }
      val out = new java.io.ByteArrayOutputStream()
      require(javax.imageio.ImageIO.write(img, fmt, out), s"no ImageIO writer for '$fmt'")
      out.toByteArray
    }

    /** Decode a compressed PNG/JPEG payload to 8-bit luma via the
      * pure-JDK javax.imageio decoders — the same (width, height,
      * gray) contract and BT.601 integer weights as [[decodePpm]].
      * Undecodable payloads raise IllegalArgumentException like every
      * other codec here. */
    def decodeImage(data: Array[Byte]): (Int, Int, Array[Byte]) = {
      imageIoNoDiskCache
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(data))
        catch {
          case e: Exception =>
            throw new IllegalArgumentException(s"undecodable image payload: ${e.getMessage}", e)
        }
      require(img != null, "no ImageIO decoder recognizes this payload")
      toLuma(img)
    }

    private def toLuma(img: java.awt.image.BufferedImage): (Int, Int, Array[Byte]) = {
      val w = img.getWidth
      val h = img.getHeight
      val gray = new Array[Byte](w * h)
      val row = new Array[Int](w) // batched getRGB: one color-model dispatch per row
      var y = 0
      while (y < h) {
        img.getRGB(0, y, w, 1, row, 0, w)
        var x = 0
        while (x < w) {
          val px = row(x)
          gray(y * w + x) =
            ((299 * ((px >> 16) & 0xff) + 587 * ((px >> 8) & 0xff) + 114 * (px & 0xff)) / 1000).toByte
          x += 1
        }
        y += 1
      }
      (w, h, gray)
    }

    /** Encode grayscale frames as an animated GIF via the pure-JDK
      * javax.imageio sequence writer. GIF palettes hold 256 colors, so
      * an 8-bit grayscale frame encodes LOSSLESSLY (256-gray palette)
      * — the round-trip through [[decodeGifFrames]] is exact, unlike
      * JPEG. */
    def encodeGif(w: Int, h: Int, frames: Seq[Array[Byte]]): Array[Byte] = {
      require(frames.nonEmpty, "GIF needs at least one frame")
      require(frames.forall(_.length == w * h), "frame size must be w*h")
      // the JDK's GIF writer emits corrupt LZW for frames with very few
      // pixels (observed: everything past the first row lost at w*h <=
      // ~35 on JDK 17); real media is far above this floor, refuse the
      // pathological sizes rather than silently corrupt
      require(w * h >= 64, s"frame ${w}x$h too small for the JDK GIF writer (needs >= 64 px)")
      imageIoNoDiskCache
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      val out = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(out)
      try {
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        // an EXPLICIT 256-gray palette: handing the writer a
        // non-indexed image lets it re-quantize (the JDK picks a color
        // cube, silently corrupting gray levels); an indexed image's
        // palette is written verbatim, making the encode lossless
        val cmap = Array.tabulate(256)(v => (0xff << 24) | (v << 16) | (v << 8) | v)
        val icm = new java.awt.image.IndexColorModel(
          8, 256, cmap, 0, false, -1, java.awt.image.DataBuffer.TYPE_BYTE)
        frames.foreach { f =>
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
          val raster = img.getRaster
          var i = 0
          while (i < w * h) { raster.setSample(i % w, i / w, 0, f(i) & 0xff); i += 1 }
          writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
        }
        writer.endWriteSequence()
      } finally { writer.dispose(); ios.close() }
      out.toByteArray
    }

    /** Decode an animated GIF's frames to 8-bit luma — the compressed
      * multi-frame container the frame-sampling stage exercises for
      * real (ImageIO reads each stored frame; full-frame GIFs like
      * [[encodeGif]]'s are recovered exactly, coalescing of
      * partial-frame optimized GIFs is out of scope and raises on the
      * size check below). Returns (width, height, frames). */
    def decodeGifFrames(data: Array[Byte]): (Int, Int, Array[Array[Byte]]) = {
      imageIoNoDiskCache
      val readers = javax.imageio.ImageIO.getImageReadersByFormatName("gif")
      require(readers.hasNext, "no ImageIO GIF reader available")
      val reader = readers.next()
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(data))
      try {
        // seekForwardOnly must stay FALSE: counting frames up front
        // (getNumImages(allowSearch=true)) requires a searchable stream
        reader.setInput(iis, false)
        // frame-count AND per-frame reads both surface IIOException on
        // corrupt payloads — normalize to IllegalArgumentException, the
        // error contract every codec here shares
        def orReject[T](body: => T): T =
          try body
          catch {
            case e: Exception =>
              throw new IllegalArgumentException(s"undecodable GIF payload: ${e.getMessage}", e)
          }
        val n = orReject(reader.getNumImages(true))
        require(n > 0, "no frames in GIF payload")
        val (w, h, first) = toLuma(orReject(reader.read(0)))
        val frames = Array.ofDim[Array[Byte]](n)
        frames(0) = first
        var i = 1
        while (i < n) {
          val (fw, fh, px) = toLuma(orReject(reader.read(i)))
          require(fw == w && fh == h,
            s"partial-frame GIF unsupported: frame $i is ${fw}x$fh, screen ${w}x$h")
          frames(i) = px
          i += 1
        }
        (w, h, frames)
      } finally { reader.dispose(); iis.close() }
    }

    /** Encode grayscale frames as MJPEG-in-AVI — a genuinely
      * COMPRESSED video container built pure-JVM: the RIFF 'AVI '
      * structure (hdrl: avih + one 'vids'/'MJPG' stream with its
      * BITMAPINFOHEADER; movi: one '00dc' chunk per frame, word-
      * aligned) with each frame a baseline JPEG from the JDK's own
      * writer. Intra-frame compression only — exactly what MJPEG is —
      * so decode needs no inter-frame state. */
    def encodeAviMjpeg(w: Int, h: Int, frames: Seq[Array[Byte]],
                       fps: Int = 25): Array[Byte] = {
      require(frames.nonEmpty, "AVI needs at least one frame")
      require(frames.forall(_.length == w * h), "frame size must be w*h")
      val jpegs = frames.map { f =>
        val rgb = new Array[Byte](w * h * 3)
        var i = 0
        while (i < w * h) {
          rgb(3 * i) = f(i); rgb(3 * i + 1) = f(i); rgb(3 * i + 2) = f(i)
          i += 1
        }
        encodeJpeg(w, h, rgb)
      }
      val le = java.nio.ByteOrder.LITTLE_ENDIAN
      def chunk(id: String, body: Array[Byte]): Array[Byte] = {
        val pad = body.length & 1 // RIFF chunks are word-aligned
        val bb = java.nio.ByteBuffer.allocate(8 + body.length + pad).order(le)
        bb.put(id.getBytes("US-ASCII")).putInt(body.length).put(body)
        bb.array()
      }
      def list(kind: String, bodies: Seq[Array[Byte]]): Array[Byte] = {
        val inner = bodies.map(_.length).sum
        val bb = java.nio.ByteBuffer.allocate(12 + inner).order(le)
        bb.put("LIST".getBytes("US-ASCII")).putInt(4 + inner)
          .put(kind.getBytes("US-ASCII"))
        bodies.foreach(bb.put)
        bb.array()
      }
      val maxJpeg = jpegs.map(_.length).max
      val avih = { // MainAVIHeader, 56 bytes
        val bb = java.nio.ByteBuffer.allocate(56).order(le)
        bb.putInt(1000000 / fps).putInt(maxJpeg * fps).putInt(0).putInt(0)
          .putInt(frames.length).putInt(0).putInt(1).putInt(maxJpeg)
          .putInt(w).putInt(h).putInt(0).putInt(0).putInt(0).putInt(0)
        bb.array()
      }
      val strh = { // AVIStreamHeader, 56 bytes: 'vids' handled by 'MJPG'
        val bb = java.nio.ByteBuffer.allocate(56).order(le)
        bb.put("vids".getBytes("US-ASCII")).put("MJPG".getBytes("US-ASCII"))
          .putInt(0).putShort(0).putShort(0).putInt(0)
          .putInt(1).putInt(fps) // scale, rate
          .putInt(0).putInt(frames.length).putInt(maxJpeg)
          .putInt(-1).putInt(0) // default quality, sample size
          .putShort(0).putShort(0).putShort(w.toShort).putShort(h.toShort)
        bb.array()
      }
      val strf = { // BITMAPINFOHEADER, 40 bytes, biCompression='MJPG'
        val bb = java.nio.ByteBuffer.allocate(40).order(le)
        bb.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
          .put("MJPG".getBytes("US-ASCII")).putInt(w * h * 3)
          .putInt(0).putInt(0).putInt(0).putInt(0)
        bb.array()
      }
      val hdrl = list("hdrl", Seq(chunk("avih", avih),
        list("strl", Seq(chunk("strh", strh), chunk("strf", strf)))))
      val movi = list("movi", jpegs.map(j => chunk("00dc", j)))
      val inner = 4 + hdrl.length + movi.length
      val bb = java.nio.ByteBuffer.allocate(8 + inner).order(le)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(inner)
        .put("AVI ".getBytes("US-ASCII")).put(hdrl).put(movi)
      bb.array()
    }

    /** Decode MJPEG-in-AVI to 8-bit luma frames: walk the RIFF chunk
      * tree (unknown chunks/lists skipped per spec, word alignment
      * honored), pull the dimensions from the stream format header,
      * decode every video-data ('..dc'/'..db') chunk in the movi list
      * through the JDK JPEG decoder. Returns (width, height, frames).
      * Intra-frame codecs end here; inter-frame video (H.264/VP9)
      * remains [[StubCodec]]'s documented territory. */
    def decodeAviMjpeg(data: Array[Byte]): (Int, Int, Array[Array[Byte]]) = {
      val bb = java.nio.ByteBuffer.wrap(data).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def fourCC(): String = {
        val b = new Array[Byte](4); bb.get(b); new String(b, "US-ASCII")
      }
      require(fourCC() == "RIFF", "not a RIFF payload")
      // walk only the DECLARED RIFF payload, not the whole byte array:
      // trailing bytes past the RIFF size (padding, appended metadata)
      // are legal on disk and must not be parsed as chunks
      // the RIFF size field is UNSIGNED per spec — mask before the
      // plausibility check so a legal 2-4 GB declaration doesn't read
      // negative and trip the require (the clamp to data.length below
      // bounds the walk regardless; Array[Byte] caps real input <2 GB)
      val riffSize = bb.getInt.toLong & 0xFFFFFFFFL
      require(riffSize >= 4, s"implausible RIFF size $riffSize")
      val riffEnd = math.min(8L + riffSize, data.length.toLong).toInt
      require(fourCC() == "AVI ", "not an AVI payload")
      var w = 0; var h = 0
      val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      def walk(end: Int): Unit =
        while (bb.position() + 8 <= end) {
          val id = fourCC()
          val size = bb.getInt
          // overflow-safe form (end - position, never position + size):
          // a crafted size near Int.MaxValue must reject here, not wrap
          // negative and reach the frame allocation below
          require(size >= 0 && size <= end - bb.position(),
            s"truncated AVI chunk '$id': declared $size bytes")
          val next = bb.position() + size + (size & 1)
          if (id == "LIST") { fourCC(); walk(bb.position() + size - 4) }
          else if (id == "strf" && size >= 40 && w == 0) {
            bb.getInt // biSize
            w = bb.getInt; h = math.abs(bb.getInt) // bottom-up DIBs carry h<0
            require(w > 0 && h > 0 && w.toLong * h <= Int.MaxValue,
              s"implausible AVI dimensions ${w}x$h")
          } else if (id.endsWith("dc") || id.endsWith("db")) {
            if (size > 0) {
              val jpeg = new Array[Byte](size)
              bb.get(jpeg)
              val (fw, fh, px) = decodeImage(jpeg)
              require(w == 0 || (fw == w && fh == h),
                s"frame ${frames.length} is ${fw}x$fh, stream header says ${w}x$h")
              frames += px
            }
          }
          bb.position(math.min(next, end))
        }
      walk(riffEnd)
      require(frames.nonEmpty, "no video frames in AVI payload")
      require(w > 0, "AVI missing stream format header")
      (w, h, frames.toArray)
    }

    /** Decode RIFF/WAVE PCM16: walk the chunk list (fmt before data,
      * unknown chunks skipped per the RIFF spec), average channels to
      * mono, normalize to [-1, 1]. Returns (sampleRate, channels,
      * mono samples). */
    def decodeWavPcm16(data: Array[Byte]): (Int, Int, Array[Float]) = {
      val bb = java.nio.ByteBuffer.wrap(data).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def fourCC(): String = {
        val b = new Array[Byte](4); bb.get(b); new String(b, "US-ASCII")
      }
      require(fourCC() == "RIFF", "not a RIFF payload")
      bb.getInt // riff size
      require(fourCC() == "WAVE", "not a WAVE payload")
      var sampleRate = 0; var channels = 0; var bits = 0
      var samples: Array[Float] = null
      while (bb.remaining() >= 8 && samples == null) {
        val id = fourCC()
        val size = bb.getInt
        require(size >= 0 && bb.remaining() >= size,
          s"truncated WAV chunk '$id': declared $size bytes, ${bb.remaining()} left")
        id match {
          case "fmt " =>
            // the field reads below consume 16 bytes unconditionally; a
            // smaller declared size would spill into the next chunk and
            // then seek BACKWARDS to fmtEnd, yielding garbage fields
            require(size >= 16, s"truncated fmt chunk: declared $size bytes, need 16")
            val fmtEnd = bb.position() + size
            val audioFormat = bb.getShort
            require(audioFormat == 1, s"only PCM supported, format=$audioFormat")
            channels = bb.getShort.toInt
            sampleRate = bb.getInt
            bb.getInt; bb.getShort // byte rate, block align
            bits = bb.getShort.toInt
            require(bits == 16, s"only 16-bit PCM supported, bits=$bits")
            bb.position(fmtEnd)
          case "data" =>
            require(sampleRate > 0, "data chunk before fmt chunk")
            require(channels > 0, s"invalid channel count $channels")
            val n = size / 2 / channels
            val out = new Array[Float](n)
            var i = 0
            while (i < n) {
              var acc = 0.0f
              var c = 0
              while (c < channels) { acc += bb.getShort / 32768.0f; c += 1 }
              out(i) = acc / channels
              i += 1
            }
            samples = out
          case _ => // skip unknown chunk (word-aligned)
            bb.position(bb.position() + size + (size & 1))
        }
      }
      require(samples != null, "no data chunk found")
      (sampleRate, channels, samples)
    }
  }

  /** ==== STUB CODEC (formats no shipped decoder covers) ====
    * deterministic fake decode: pixel (x,y) of frame f is a pure
    * function of (payload hash, f, x, y). With PPM + PNG + JPEG images
    * and animated GIF decoded for real ([[Codec.decodePpm]],
    * [[Codec.decodeImage]], [[Codec.decodeGifFrames]]), this remains
    * only for H.264/VP9-class VIDEO (no ffmpeg in a pure-JVM build); a
    * real implementation would wrap ffmpeg here, initialized once per
    * partition in the mapPartitions below. */
  object StubCodec {
    def payloadHash(data: Array[Byte]): Long =
      data.foldLeft(1125899906842597L)((h, b) => h * 31L + (b & 0xff))
    def decodeFrame(data: Array[Byte], frameIdx: Int, w: Int, h: Int): Array[Byte] = {
      val base = payloadHash(data) ^ (frameIdx.toLong * 0x9e3779b97f4a7c15L)
      val px = new Array[Byte](w * h)
      var i = 0
      while (i < px.length) {
        px(i) = (graft.functions.TextHash.mix64(base ^ i) & 0xff).toByte
        i += 1
      }
      px
    }
  }

  /** Deterministic synthetic media table (the testdata ships no binary
    * media). Image rows carry REAL binary-PPM payloads, audio rows
    * REAL RIFF/WAVE PCM16 payloads, and video rows REAL YUV4MPEG2
    * streams — the whole pipeline decodes actual byte payloads. */
  def synthMedia(spark: SparkSession, n: Int, partitions: Int = 8): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).map { id =>
      (id % 4) match {
        case 0 =>
          val w = 32 + (id % 32).toInt
          val h = 24 + (id % 24).toInt
          val rgb = Array.tabulate[Byte](w * h * 3)(i =>
            (graft.functions.TextHash.mix64(id * 131L + i) & 0xff).toByte)
          MediaRow(id, "image", Codec.encodePpm(w, h, rgb),
            MediaMeta(w, h, 0L, "ppm"))
        case 3 =>
          // compressed-image rows: REAL PNG and JPEG payloads through
          // the javax.imageio decode path
          val w = 16 + (id % 16).toInt
          val h = 12 + (id % 12).toInt
          val rgb = Array.tabulate[Byte](w * h * 3)(i =>
            (graft.functions.TextHash.mix64(id * 197L + i) & 0xff).toByte)
          if ((id / 4) % 2 == 0)
            MediaRow(id, "image", Codec.encodePng(w, h, rgb),
              MediaMeta(w, h, 0L, "png"))
          else
            MediaRow(id, "image", Codec.encodeJpeg(w, h, rgb),
              MediaMeta(w, h, 0L, "jpeg"))
        case 1 =>
          val rate = 8000
          val durMs = 1000L + (id % 9000)
          val nSamp = (rate * durMs / 1000L).toInt
          val samples = Array.tabulate[Short](nSamp)(i =>
            (math.sin(2 * math.Pi * (100 + id % 50) * i / rate) * 16384).toShort)
          MediaRow(id, "audio", Codec.encodeWavPcm16(rate, samples),
            MediaMeta(0, 0, durMs, "wav-pcm16"))
        case _ =>
          val w = 16 + (id % 16).toInt
          val h = 16
          val nFrames = 5 + (id % 4).toInt
          val frames = Seq.tabulate(nFrames)(f =>
            Array.tabulate[Byte](w * h)(i =>
              (graft.functions.TextHash.mix64(id * 131L + f * 977L + i) & 0xff).toByte))
          // rotate raw (Y4M) and the two compressed containers
          // (animated GIF, MJPEG-in-AVI) so all three multi-frame
          // decode paths run end-to-end
          (id / 4) % 3 match {
            case 0 => MediaRow(id, "video", Codec.encodeY4m(w, h, frames),
              MediaMeta(w, h, 2000L + (id % 8000), "y4m"))
            case 1 => MediaRow(id, "video", Codec.encodeGif(w, h, frames),
              MediaMeta(w, h, 2000L + (id % 8000), "gif"))
            case _ => MediaRow(id, "video", Codec.encodeAviMjpeg(w, h, frames),
              MediaMeta(w, h, 2000L + (id % 8000), "avi-mjpeg"))
          }
      }
    }
  }

  /** Decode stage: one decoded frame per image (REAL PPM parse, or
    * the JDK's javax.imageio for PNG/JPEG), n uniformly-sampled frames
    * per video (REAL Y4M parse), none for audio (see [[decodeAudio]]).
    * Unknown codecs fall back to the stub — the swap-in point for
    * compressed video (H.264/VP9) absent in this container.
    * Per-partition iteration — codec state is reused across rows. */
  def decode(media: Dataset[MediaRow], framesPerVideo: Int = 3): Dataset[DecodedFrame] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // heavyweight codecs initialize here, once per partition
      rows.flatMap { m =>
        (m.kind, m.meta.codec) match {
          case ("image", "ppm") =>
            val (w, h, gray) = Codec.decodePpm(m.data)
            Iterator.single(DecodedFrame(m.media_id, 0, w, h, gray))
          case ("image", "png" | "jpeg" | "jpg") =>
            val (w, h, gray) = Codec.decodeImage(m.data)
            Iterator.single(DecodedFrame(m.media_id, 0, w, h, gray))
          case ("image", _) =>
            Iterator.single(DecodedFrame(m.media_id, 0, m.meta.width, m.meta.height,
              StubCodec.decodeFrame(m.data, 0, m.meta.width, m.meta.height)))
          case ("video", "y4m") =>
            val (w, h, frames) = Codec.decodeY4m(m.data)
            sampleFrames(m.media_id, w, h, frames, framesPerVideo)
          case ("video", "gif") =>
            val (w, h, frames) = Codec.decodeGifFrames(m.data)
            sampleFrames(m.media_id, w, h, frames, framesPerVideo)
          case ("video", "avi-mjpeg") =>
            val (w, h, frames) = Codec.decodeAviMjpeg(m.data)
            sampleFrames(m.media_id, w, h, frames, framesPerVideo)
          case ("video", _) =>
            (0 until framesPerVideo).iterator.map { f =>
              DecodedFrame(m.media_id, f, m.meta.width, m.meta.height,
                StubCodec.decodeFrame(m.data, f, m.meta.width, m.meta.height))
            }
          case _ => Iterator.empty
        }
      }
    }
  }

  /** Uniform frame sampling over a decoded frame array (first and last
    * frames always included when n > 1). */
  private def sampleFrames(mediaId: Long, w: Int, h: Int,
                           frames: Array[Array[Byte]], nWant: Int): Iterator[DecodedFrame] = {
    val n = math.min(nWant, frames.length)
    (0 until n).iterator.map { f =>
      val src = if (n == 1) 0 else f * (frames.length - 1) / (n - 1)
      DecodedFrame(mediaId, f, w, h, frames(src))
    }
  }

  /** Audio decode stage: REAL RIFF/WAVE PCM16 parse per clip —
    * normalized mono samples, the input shape for waveform features. */
  def decodeAudio(media: Dataset[MediaRow]): Dataset[AudioClip] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { m =>
        if (m.kind == "audio" && m.meta.codec == "wav-pcm16") {
          val (rate, _, samples) = Codec.decodeWavPcm16(m.data)
          Iterator.single(AudioClip(m.media_id, rate, samples.length, samples))
        } else Iterator.empty
      }
    }
  }

  /** Waveform features: per-clip fixed-length RMS-energy envelope
    * (`dim` uniform windows) — the audio analog of [[features]],
    * consumable by the ANN stack. */
  def audioFeatures(clips: Dataset[AudioClip], dim: Int = 16): DataFrame = {
    import clips.sparkSession.implicits._
    clips.map { c =>
      val n = c.samples.length
      // zero-sample clip (a valid WAV with an empty data chunk) →
      // zero vector, not 0.0/0 = NaN poisoning downstream cosines
      val vec =
        if (n == 0) new Array[Float](dim)
        else Array.tabulate(dim) { d =>
          val lo = (n.toLong * d / dim).toInt
          val hi = (n.toLong * (d + 1) / dim).toInt.max(lo + 1).min(n)
          var acc = 0.0
          var i = lo
          while (i < hi) { val s = c.samples(i); acc += s * s; i += 1 }
          math.sqrt(acc / (hi - lo)).toFloat
        }
      (c.media_id, c.sample_rate, vec)
    }.toDF("media_id", "sample_rate", "embedding")
  }

  /** Resize stage: nearest-neighbour downsample of the stub pixel
    * buffer — pure per-row arithmetic, stays in the same partition
    * (no shuffle between decode and resize). */
  def resize(frames: Dataset[DecodedFrame], outW: Int, outH: Int): Dataset[DecodedFrame] = {
    import frames.sparkSession.implicits._
    frames.mapPartitions { rows =>
      rows.map { f =>
        val px = new Array[Byte](outW * outH)
        var y = 0
        while (y < outH) {
          var x = 0
          while (x < outW) {
            val sx = x * f.width / outW
            val sy = y * f.height / outH
            px(y * outW + x) = f.pixels(sy * f.width + sx)
            x += 1
          }
          y += 1
        }
        DecodedFrame(f.media_id, f.frame_idx, outW, outH, px)
      }
    }
  }

  /** Feature-extract stage: fixed-length embedding per frame (mean /
    * moments over pixel blocks) — the shape a downstream ANN index
    * consumes. */
  def features(frames: Dataset[DecodedFrame], dim: Int = 16): DataFrame = {
    import frames.sparkSession.implicits._
    frames.map { f =>
      val n = f.pixels.length
      // float elements: the ANN stack (Similarity via dotFD/rhpSig)
      // consumes array<float> — a double array would be read wrongly
      val vec = Array.tabulate(dim) { d =>
        var acc = 0.0; var i = d
        while (i < n) { acc += (f.pixels(i) & 0xff); i += dim }
        (acc / ((n + dim - 1 - d) / dim).max(1)).toFloat
      }
      (f.media_id, f.frame_idx, vec)
    }.toDF("media_id", "frame_idx", "embedding")
  }

  case class MediaCheck(media_id: Long, kind: String, fmt: String,
                        magic_ok: Boolean, width: Int, height: Int,
                        n_frames_sampled: Int, n_frames_total: Int,
                        n_samples: Long, rms_ok: Boolean)

  /** Oracle-checkable form of the media decode path — the
    * distinct_sketch_check / quantiles_approx_check pattern applied to
    * the codecs (the last rows-only surface): binary payloads have no
    * cross-engine identity (DuckDB cannot decode PNG/WAV), so the
    * CONTRACT ships instead. Per media row the REAL decoders emit the
    * invariants a decode regression would break — container magic
    * bytes, decoded dimensions, total and sampled frame counts, PCM
    * sample count, and a sine-RMS bound for audio (synthMedia's clips
    * are amplitude-0.5 sine waves, so normalized RMS must sit within
    * 0.01 of 0.5/√2; a byte-order or chunk-walk regression lands far
    * outside) — while DuckDB independently recomputes every expected
    * value from synthMedia's deterministic id arithmetic. Any codec
    * regression (header misparse, wrong dims, dropped/duplicated
    * frames, corrupted PCM) flips a hashed column. Same mapPartitions
    * shape as [[decode]]: decoder state per partition, media bytes
    * never leave the executor. */
  def mediaCheck(media: Dataset[MediaRow], framesPerVideo: Int = 3): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      def head(bs: Array[Byte], s: String, off: Int = 0): Boolean =
        bs.length >= off + s.length &&
          s.zipWithIndex.forall { case (c, i) => bs(off + i) == c.toByte }
      rows.map { m =>
        val magic = m.meta.codec match {
          case "ppm"          => head(m.data, "P6")
          case "png"          => m.data.length >= 4 &&
            (m.data(0) & 0xff) == 0x89 && head(m.data, "PNG", 1)
          case "jpeg" | "jpg" => m.data.length >= 2 &&
            (m.data(0) & 0xff) == 0xff && (m.data(1) & 0xff) == 0xd8
          case "wav-pcm16"    => head(m.data, "RIFF") && head(m.data, "WAVE", 8)
          case "y4m"          => head(m.data, "YUV4MPEG2")
          case "gif"          => head(m.data, "GIF8")
          case "avi-mjpeg"    => head(m.data, "RIFF") && head(m.data, "AVI ", 8)
          case _              => false
        }
        (m.kind, m.meta.codec) match {
          case ("image", "ppm") =>
            val (w, h, _) = Codec.decodePpm(m.data)
            MediaCheck(m.media_id, m.kind, m.meta.codec, magic, w, h, 1, 1, 0L, rms_ok = true)
          case ("image", _) =>
            val (w, h, _) = Codec.decodeImage(m.data)
            MediaCheck(m.media_id, m.kind, m.meta.codec, magic, w, h, 1, 1, 0L, rms_ok = true)
          case ("audio", _) =>
            val (_, _, samples) = Codec.decodeWavPcm16(m.data)
            val rms =
              if (samples.isEmpty) 0.0
              else math.sqrt(samples.foldLeft(0.0)((a, x) => a + x.toDouble * x) / samples.length)
            MediaCheck(m.media_id, m.kind, m.meta.codec, magic, 0, 0, 0, 0,
              samples.length.toLong, math.abs(rms - 0.5 / math.sqrt(2.0)) < 0.01)
          case ("video", _) =>
            val (w, h, frames) = m.meta.codec match {
              case "y4m" => Codec.decodeY4m(m.data)
              case "gif" => Codec.decodeGifFrames(m.data)
              case _     => Codec.decodeAviMjpeg(m.data)
            }
            MediaCheck(m.media_id, m.kind, m.meta.codec, magic, w, h,
              math.min(framesPerVideo, frames.length), frames.length, 0L, rms_ok = true)
        }
      }
    }.toDF().orderBy("media_id")
  }
}
