package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (SURVEY.md §2.11 / BASELINE.json): treat
  * image/audio/video payloads as opaque `binary` columns with typed
  * metadata, and run decode / feature-extraction partition-wise.
  *
  * Round 3: the codec is REAL — [[Bmp]] is a dependency-free pure-JVM
  * encoder/decoder for uncompressed 24-bit BMP (the one raster container
  * parsable without codec libraries). The pipeline synthesizes a
  * deterministic BMP per document (pixel bytes cycle through the doc's
  * UTF-8 bytes; dimensions derive from (n_chars, doc_id)), carries it as
  * a binary `payload` column, then DECODES it back partition-wise: magic/
  * header-field validation, bottom-up padded-row pixel walk, per-channel
  * byte stats. The oracle recomputes the expected stats from the
  * generator's closed form — so a decoder that misparsed the header,
  * mis-stepped row padding, or mis-sized the pixel array hash-mismatches
  * immediately. Swapping in a JPEG/PNG codec changes only the
  * [[Bmp.decode]] body; schema, batching, and partitioning stay.
  *
  * Scale notes: at 100 TB, binary payloads dominate I/O — the decode
  * stage projects to (doc_id, payload) only; `mapPartitions` keeps any
  * real codec context per PARTITION, not per row; the output schema is
  * fixed so downstream stays columnar.
  */
object Multimodal {

  /** Minimal uncompressed 24-bit BMP codec (pure JVM, no dependencies).
    * Layout per the public BMP spec: 14-byte file header (`BM`, file
    * size, pixel-array offset at byte 10), 40-byte BITMAPINFOHEADER
    * (width/height at 18/22, planes=1 at 26, bpp at 28, compression=0 at
    * 30), then bottom-up pixel rows, each padded to a 4-byte boundary. */
  object Bmp {
    private val HeaderSize = 54

    /** Encode a w×h image whose flat channel stream (3 bytes/pixel,
      * top-down pixel order) is produced by `pix(i)` for channel index
      * i ∈ [0, w*h*3). */
    def encode(w: Int, h: Int, pix: Int => Int): Array[Byte] = {
      require(w > 0 && h > 0, s"bad dims ${w}x$h")
      val rowBytes = w * 3
      val pad = (4 - rowBytes % 4) % 4
      val dataSize = (rowBytes + pad) * h
      val buf = java.nio.ByteBuffer.allocate(HeaderSize + dataSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put('B'.toByte).put('M'.toByte)
        .putInt(HeaderSize + dataSize)
        .putShort(0).putShort(0)
        .putInt(HeaderSize)
      buf.putInt(40).putInt(w).putInt(h)
        .putShort(1).putShort(24)
        .putInt(0).putInt(dataSize)
        .putInt(2835).putInt(2835).putInt(0).putInt(0)
      var r = h - 1 // bottom-up row order
      while (r >= 0) {
        var i = 0
        while (i < rowBytes) {
          buf.put(pix((r * w) * 3 + i).toByte)
          i += 1
        }
        var p = 0
        while (p < pad) { buf.put(0.toByte); p += 1 }
        r -= 1
      }
      buf.array()
    }

    final case class Decoded(width: Int, height: Int, nPixels: Int,
                             sumRgb: Long)

    /** Full pixel decode: headers validated as in [[decode]], pixel rows
      * un-padded and flipped to TOP-DOWN channel order (w·h·3 bytes) —
      * the layout resize/crop kernels consume. */
    def decodePixels(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
      decode(bytes).map { dec =>
        val bb = java.nio.ByteBuffer.wrap(bytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val off = bb.getInt(10)
        val w = dec.width; val h = dec.height
        val rowBytes = w * 3
        val stride = rowBytes + ((4 - rowBytes % 4) % 4)
        val out = new Array[Byte](w * h * 3)
        var r = 0
        while (r < h) { // storage row r is image row h-1-r (bottom-up)
          System.arraycopy(bytes, off + r * stride, out,
            (h - 1 - r) * rowBytes, rowBytes)
          r += 1
        }
        (w, h, out)
      }
    }

    /** Nearest-neighbor resize of a top-down RGB byte array. */
    def resizeNN(w: Int, h: Int, pix: Array[Byte], w2: Int, h2: Int)
        : Array[Byte] = {
      val out = new Array[Byte](w2 * h2 * 3)
      var ty = 0
      while (ty < h2) {
        val sy = ty * h / h2
        var tx = 0
        while (tx < w2) {
          val sp = (sy * w + tx * w / w2) * 3
          val dp = (ty * w2 + tx) * 3
          out(dp) = pix(sp); out(dp + 1) = pix(sp + 1); out(dp + 2) = pix(sp + 2)
          tx += 1
        }
        ty += 1
      }
      out
    }

    /** Parse and validate the headers, walk the padded bottom-up pixel
      * array, return dimensions + the sum of all channel bytes (padding
      * EXCLUDED — including it is the classic BMP-walk bug, and the
      * oracle's closed form would catch it). None on anything malformed:
      * wrong magic, non-24bpp, compressed, or a pixel array that
      * overruns the buffer. */
    def decode(bytes: Array[Byte]): Option[Decoded] = {
      if (bytes.length < HeaderSize || bytes(0) != 'B' || bytes(1) != 'M')
        return None
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val off = bb.getInt(10)
      val dibSize = bb.getInt(14)
      val w = bb.getInt(18)
      val h = bb.getInt(22)
      val planes = bb.getShort(26)
      val bpp = bb.getShort(28)
      val compression = bb.getInt(30)
      // w bound keeps rowBytes/stride Int arithmetic overflow-free here and
      // in decodePixels (which revalidates through this method); any real
      // pixel array is further bounded by bytes.length via the check below
      if (dibSize < 40 || planes != 1 || bpp != 24 || compression != 0 ||
          w <= 0 || h <= 0 || off < HeaderSize || w > (Int.MaxValue - 3) / 3)
        return None
      val rowBytes = w * 3
      val stride = rowBytes + ((4 - rowBytes % 4) % 4)
      if (off.toLong + stride.toLong * h > bytes.length) return None
      var sum = 0L
      var r = 0
      while (r < h) {
        val base = off + r * stride
        var i = 0
        while (i < rowBytes) { sum += bytes(base + i) & 0xFF; i += 1 }
        r += 1
      }
      Some(Decoded(w, h, w * h, sum))
    }
  }

  /** Minimal PCM WAV codec (pure JVM, no dependencies). Layout per the
    * public RIFF/WAVE spec: `RIFF` + riffSize + `WAVE`, then a chunk
    * sequence — each `4-byte id + u32 size + payload (even-padded)`.
    * The decoder WALKS the chunk list (it does not assume `fmt ` and
    * `data` are adjacent), so the encoder deliberately inserts a junk
    * `LIST` chunk between them to keep the walk honest. 16-bit
    * little-endian PCM only. */
  object Wav {

    /** Encode `nTotal` 16-bit samples (interleaved across `channels`)
      * produced by `sample(j)`, with a junk LIST chunk of `junkLen`
      * payload bytes between `fmt ` and `data`. */
    def encode(channels: Int, rate: Int, nTotal: Int, junkLen: Int,
               sample: Int => Int): Array[Byte] = {
      require(channels > 0 && rate > 0 && nTotal % channels == 0)
      val junkPadded = junkLen + (junkLen & 1) // RIFF chunks are even-sized
      val dataSize = nTotal * 2
      val riffSize = 4 + (8 + 16) + (8 + junkPadded) + (8 + dataSize)
      val buf = java.nio.ByteBuffer.allocate(8 + riffSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def tag(t: String): Unit = t.foreach(c => buf.put(c.toByte))
      tag("RIFF"); buf.putInt(riffSize); tag("WAVE")
      tag("fmt "); buf.putInt(16)
      buf.putShort(1)                      // PCM
        .putShort(channels.toShort)
        .putInt(rate)
        .putInt(rate * channels * 2)       // byte rate
        .putShort((channels * 2).toShort)  // block align
        .putShort(16)                      // bits per sample
      tag("LIST"); buf.putInt(junkLen)
      var j = 0
      while (j < junkPadded) { buf.put(0x4C.toByte); j += 1 }
      tag("data"); buf.putInt(dataSize)
      var i = 0
      while (i < nTotal) { buf.putShort(sample(i).toShort); i += 1 }
      buf.array()
    }

    final case class Decoded(channels: Int, rate: Int, nFrames: Int,
                             sumAbs: Long, peak: Int)

    /** Validate the RIFF/WAVE envelope, walk chunks to find `fmt ` and
      * `data` (skipping others with even-padding), then fold the sample
      * array: Σ|s| and max|s|. None on bad magic, non-PCM, non-16-bit,
      * a chunk overrun, or a data size not aligned to the frame size. */
    def decode(bytes: Array[Byte]): Option[Decoded] = {
      if (bytes.length < 12) return None
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def tagAt(off: Int): String =
        new String(bytes, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
      if (tagAt(0) != "RIFF" || tagAt(8) != "WAVE") return None
      val end = math.min(bytes.length.toLong, 8L + bb.getInt(4))
      var off = 12L
      var channels = -1; var rate = -1
      var dataOff = -1L; var dataSize = -1
      while (off + 8 <= end && (channels < 0 || dataOff < 0)) {
        val id = tagAt(off.toInt)
        val size = bb.getInt(off.toInt + 4)
        if (size < 0 || off + 8 + size > end) return None
        id match {
          case "fmt " =>
            if (size < 16) return None
            val fmt = bb.getShort(off.toInt + 8)
            channels = bb.getShort(off.toInt + 10)
            rate = bb.getInt(off.toInt + 12)
            val bits = bb.getShort(off.toInt + 22)
            if (fmt != 1 || bits != 16 || channels <= 0 || rate <= 0)
              return None
          case "data" => dataOff = off + 8; dataSize = size
          case _ => ()
        }
        off += 8 + size + (size & 1) // chunks are even-padded
      }
      if (channels <= 0 || dataOff < 0) return None
      if (dataSize % (channels * 2) != 0) return None
      val nTotal = dataSize / 2
      var sumAbs = 0L; var peak = 0
      var i = 0
      while (i < nTotal) {
        val v = bb.getShort((dataOff + 2L * i).toInt).toInt
        val a = math.abs(v)
        sumAbs += a
        if (a > peak) peak = a
        i += 1
      }
      Some(Decoded(channels, rate, nTotal / channels, sumAbs, peak))
    }

    /** Raw sample access (the layout feature extractors consume):
      * validates via [[decode]], then re-walks to the data chunk and
      * returns every 16-bit sample as Int, interleaved as stored.
      * The audio twin of [[Bmp.decodePixels]]. */
    def decodeSamples(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
      decode(bytes).map { dec =>
        val bb = java.nio.ByteBuffer.wrap(bytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        def tagAt(off: Int): String =
          new String(bytes, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
        var off = 12
        var dataOff = -1; var dataSize = 0
        while (dataOff < 0) { // guaranteed to exist: decode() succeeded
          val size = bb.getInt(off + 4)
          if (tagAt(off) == "data") { dataOff = off + 8; dataSize = size }
          else off += 8 + size + (size & 1)
        }
        val n = dataSize / 2
        val out = new Array[Int](n)
        var i = 0
        while (i < n) { out(i) = bb.getShort(dataOff + 2 * i).toInt; i += 1 }
        (dec.channels, dec.rate, out)
      }
  }

  /** Deterministic payload dimensions: width from the doc's length
    * metadata, height from its id — small (≤ 12×7) but exercising every
    * row-padding residue (width mod 4 takes all values). */
  private def dims(docId: Long, nChars: Int): (Int, Int) =
    (1 + math.floorMod(nChars, 12), 1 + math.floorMod(docId, 7L).toInt)

  /** Per-frame widths for the multi-frame (video-like) container: frame
    * i is a (1 + (nChars+i) mod 12) × (1 + docId mod 7) BMP, so frame
    * SIZES differ and the container walk must parse each header's file
    * size to advance — a misparse desynchronizes and fails loudly. */
  private def frameWidths(docId: Long, nChars: Int): Array[Int] = {
    val f = 1 + math.floorMod(docId, 4L).toInt
    Array.tabulate(f)(i => 1 + math.floorMod(nChars + i, 12))
  }

  /** A document's UTF-8 bytes (empty for NULL text): the byte cycle
    * every synthetic payload below is generated from. */
  private def textBytes(text: String): Array[Byte] =
    if (text == null) Array.empty[Byte]
    else text.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** Pixel stream of a document's image and video frames: byte i is the
    * text's byte i cycled (0 for empty text), so every frame restarts
    * the cycle. */
  private def framePix(tb: Array[Byte]): Int => Int =
    i => if (tb.isEmpty) 0 else tb(i % tb.length) & 0xFF

  /** The document's image: a [[dims]] BMP of its [[framePix]] stream. */
  private def imageBmp(docId: Long, nChars: Int, text: String): Array[Byte] = {
    val (w, h) = dims(docId, nChars)
    Bmp.encode(w, h, framePix(textBytes(text)))
  }

  /** The document's video frames: one BMP per [[frameWidths]] width, all
    * of the image's height; frame 0 is the document's image. */
  private def frameBmps(docId: Long, nChars: Int, text: String)
      : Array[Array[Byte]] = {
    val (_, h) = dims(docId, nChars)
    val pix = framePix(textBytes(text))
    frameWidths(docId, nChars).map(w => Bmp.encode(w, h, pix))
  }

  /** The document's audio clip: 16-bit samples cycling its UTF-8 bytes,
    * centered at 128 and scaled to the int16 range; channel count,
    * sample rate, sample count and junk-chunk length all derived from
    * the doc id and text length. */
  private def wavClip(docId: Long, text: String): Array[Byte] = {
    val tb = textBytes(text)
    val ch = 1 + math.floorMod(docId, 2L).toInt
    val rate = 8000 * (1 + math.floorMod(docId, 3L).toInt)
    val n0 = 8 + tb.length + math.floorMod(docId, 32L).toInt
    val nTotal = n0 + n0 % ch
    val junkLen = math.floorMod(docId, 5L).toInt
    Wav.encode(ch, rate, nTotal, junkLen,
      j => if (tb.isEmpty) 0 else ((tb(j % tb.length) & 0xFF) - 128) * 256)
  }

  /** E-mm — binary-column pipeline: synthesize a real BMP payload per
    * document, decode it partition-wise, emit decoded features. */
  val extMultimodal: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("n_chars").cast("int").as("n_chars"),
              col("lang"))
    // stage 1: encode — the multimodal binary column + metadata struct
    val withPayload = docs
      .select(col("doc_id"), col("text"), col("n_chars")).as[(Long, String, Int)]
      .mapPartitions(_.map { case (id, text, nChars) =>
        (id, imageBmp(id, nChars, text))
      }).toDF("doc_id", "payload")
    // stage 2: decode — header parse + padded pixel walk, per partition
    val features = withPayload.as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val dec = Bmp.decode(bytes).getOrElse(
          sys.error(s"undecodable payload for doc $id"))
        (id, dec.width, dec.height, dec.nPixels, dec.sumRgb)
      }).toDF("doc_id", "width", "height", "n_pixels", "sum_rgb")
    features
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("doc_id"), col("width"), col("height"), col("n_pixels"),
              col("sum_rgb"), col("lang"))
      .orderBy(col("doc_id"))
  }

  /** E-mm audio — WAV/PCM pipeline: synthesize a real RIFF/WAVE payload
    * per document (16-bit samples cycling the doc's UTF-8 bytes, centered
    * at 128 and scaled to full int16 range; channel count, sample rate,
    * junk-chunk length, and sample count all derived from doc metadata so
    * every decoder branch — stereo frame alignment, chunk skipping, odd
    * RIFF padding — is exercised), then decode it partition-wise and emit
    * audio features: duration, Σ|sample|, peak. */
  val extAudioFeatures: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"))
    val features = docs.as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        // decode back: the feature extraction under test
        val dec = Wav.decode(wavClip(id, text)).getOrElse(
          sys.error(s"undecodable WAV for doc $id"))
        val durationMs = dec.nFrames * 1000L / dec.rate
        (id, dec.channels, dec.rate, dec.nFrames, durationMs, dec.sumAbs,
         dec.peak)
      }).toDF("doc_id", "channels", "sample_rate", "n_samp_frames",
              "duration_ms", "sum_abs", "peak")
    features.orderBy(col("doc_id"))
  }

  /** E-mm video — frame-sampling pipeline: the payload is a concatenation
    * of per-frame BMPs (a video-as-frame-sequence container); the decode
    * stage walks frame boundaries via each BMP's file-size header field,
    * samples every 2nd frame, and decodes ONLY the sampled frames —
    * the decode-what-you-keep shape of real frame sampling at scale,
    * where skipped frames cost a header read, not a pixel walk. */
  val extFrameSample: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("n_chars").cast("int").as("n_chars"))
    val features = docs.as[(Long, String, Int)]
      .mapPartitions(_.map { case (id, text, nChars) =>
        val container = frameBmps(id, nChars, text).reduce(_ ++ _)
        // decode: walk frame boundaries, decode every 2nd frame only
        var off = 0
        var idx = 0
        var sampled = 0
        var sumRgb = 0L
        while (off < container.length) {
          if (off + 6 > container.length ||
              container(off) != 'B' || container(off + 1) != 'M')
            sys.error(s"frame desync at $off for doc $id")
          val bb = java.nio.ByteBuffer.wrap(container, off + 2, 4)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val frameSize = bb.getInt
          if (frameSize <= 0 || off + frameSize > container.length)
            sys.error(s"bad frame size $frameSize at $off for doc $id")
          if (idx % 2 == 0) {
            val dec = Bmp.decode(
              java.util.Arrays.copyOfRange(container, off, off + frameSize))
              .getOrElse(sys.error(s"undecodable frame $idx for doc $id"))
            sampled += 1
            sumRgb += dec.sumRgb
          }
          off += frameSize
          idx += 1
        }
        (id, idx, sampled, sumRgb, container.length)
      }).toDF("doc_id", "n_frames", "n_sampled", "sum_rgb_sampled",
              "total_bytes")
    features.orderBy(col("doc_id"))
  }

  /** E-mm resize — image downscale pipeline: decode the full pixel array
    * (bottom-up walk → top-down buffer), nearest-neighbor resize to half
    * dimensions (floor, min 1), emit resized stats. The resize output is
    * deterministic byte sampling, so the oracle recomputes the exact
    * resized RGB sum from the generator's closed form — a kernel that
    * mis-mapped source coordinates (the classic NN off-by-one) would
    * hash-mismatch. Decode and resize both run inside one
    * `mapPartitions` pass: at 100 TB the payload column never leaves
    * the executor and downstream carries only the small feature row. */
  val extImageResize: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("n_chars").cast("int").as("n_chars"))
    docs.as[(Long, String, Int)]
      .mapPartitions(_.map { case (id, text, nChars) =>
        val (dw, dh, pix) = Bmp.decodePixels(imageBmp(id, nChars, text)).getOrElse(
          sys.error(s"undecodable payload for doc $id"))
        val w2 = math.max(dw / 2, 1); val h2 = math.max(dh / 2, 1)
        val small = Bmp.resizeNN(dw, dh, pix, w2, h2)
        var sum = 0L
        var i = 0
        while (i < small.length) { sum += small(i) & 0xFF; i += 1 }
        (id, dw, dh, w2, h2, sum)
      }).toDF("doc_id", "src_w", "src_h", "dst_w", "dst_h", "sum_rgb_resized")
      .orderBy(col("doc_id"))
  }

  /** E35 — perceptual image hash (aHash) + bucket dedup: decode each
    * image payload, NN-resample to 8×8, threshold each cell's gray mass
    * against the image mean, and emit the 64-bit signature — joining the
    * dedup story to the multimodal tier (image near-dup is as real a
    * training-data need as text near-dup; equal aHash = strong
    * duplicate signal, robust to the rescaling NN-resize models). The
    * signature travels as a 64-char bitstring: bit 63 of a BIGINT flips
    * the sign and shift semantics differ across engines, a string never
    * does. The threshold compares g·64 > Σg in exact integers — no
    * division, no float. Decode/hash is one `mapPartitions` pass
    * (payloads never leave the executor); the bucket count is one
    * 8-byte-class shuffle. */
  /** 8×8 mean-threshold aHash of a decoded RGB frame (shared by the
    * image and video-frame fingerprint entries). */
  private def aHash(dw: Int, dh: Int, pix: Array[Byte]): String = {
    val small = Bmp.resizeNN(dw, dh, pix, 8, 8)
    val grays = new Array[Long](64)
    var tot = 0L
    var i = 0
    while (i < 64) {
      grays(i) = (small(i * 3) & 0xFF) + (small(i * 3 + 1) & 0xFF) +
        (small(i * 3 + 2) & 0xFF)
      tot += grays(i); i += 1
    }
    val sb = new java.lang.StringBuilder(64)
    i = 0
    while (i < 64) {
      sb.append(if (grays(i) * 64L > tot) '1' else '0'); i += 1
    }
    sb.toString
  }

  /** Encode→decode→aHash stage shared by [[extImagePhash]] and
    * [[extImageFrameMatch]]: one perceptual hash per document image. */
  private def imagePhashes(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("n_chars").cast("int").as("n_chars"))
      .as[(Long, String, Int)]
      .mapPartitions(_.map { case (id, text, nChars) =>
        val (dw, dh, pix) = Bmp.decodePixels(imageBmp(id, nChars, text)).getOrElse(
          sys.error(s"undecodable payload for doc $id"))
        (id, aHash(dw, dh, pix))
      }).toDF("doc_id", "phash")
  }

  val extImagePhash: Q = (s, d) => {
    val hashed = imagePhashes(s, d)
    val counts = hashed.groupBy(col("phash"))
      .agg(count(lit(1)).as("n_same_hash"))
    hashed.join(counts, Seq("phash"))
      .select(col("doc_id"), col("phash"), col("n_same_hash"))
      .orderBy(col("doc_id"))
  }

  /** E36 — audio energy fingerprint: 64-bucket |sample| energy profile
    * of each decoded clip, each bucket thresholded against the clip
    * mean (b·64 > Σ — exact integers, as [[extImagePhash]]), emitted as
    * a 64-char bitstring with its duplicate-bucket size. Every modality
    * now carries a dedup fingerprint: text (sha/minhash/simhash), image
    * (aHash), audio (energy profile). Uses [[Wav.decodeSamples]] inside
    * one `mapPartitions` pass. */
  val extAudioPhash: Q = (s, d) => {
    import s.implicits._
    val hashed = Tables.documents(s, d)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val (_, _, samples) = Wav.decodeSamples(wavClip(id, text)).getOrElse(
          sys.error(s"undecodable WAV for doc $id"))
        val n = samples.length
        val buckets = new Array[Long](64)
        var tot = 0L
        var k = 0
        while (k < 64) {
          var j = k * n / 64
          val hi = (k + 1) * n / 64
          while (j < hi) {
            buckets(k) += math.abs(samples(j)); j += 1
          }
          tot += buckets(k); k += 1
        }
        val sb = new java.lang.StringBuilder(64)
        k = 0
        while (k < 64) {
          sb.append(if (buckets(k) * 64L > tot) '1' else '0'); k += 1
        }
        (id, sb.toString)
      }).toDF("doc_id", "aphash")
    val counts = hashed.groupBy(col("aphash"))
      .agg(count(lit(1)).as("n_same_hash"))
    hashed.join(counts, Seq("aphash"))
      .select(col("doc_id"), col("aphash"), col("n_same_hash"))
      .orderBy(col("doc_id"))
  }

  /** E37 — per-frame fingerprints for the video container: aHash every
    * frame, report frame count, distinct-hash count, and whether the
    * clip is static (all frames hash equal) — the "is this video just a
    * still image" screen a multimodal curation pass runs before paying
    * for full decode. Unlike [[extFrameSample]] (decode every 2nd),
    * fingerprinting decodes all frames — the point is per-frame
    * identity, and each frame's hash is the SAME aHash the image entry
    * uses, so image-vs-frame matches compose. */
  /** Per-frame aHash arrays shared by [[extFramePhash]] and
    * [[extImageFrameMatch]]. */
  private def framePhashArrays(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("n_chars").cast("int").as("n_chars"))
      .as[(Long, String, Int)]
      .mapPartitions(_.map { case (id, text, nChars) =>
        val hashes = frameBmps(id, nChars, text).map { bmp =>
          val (dw, dh, p) = Bmp.decodePixels(bmp)
            .getOrElse(sys.error(s"undecodable frame for doc $id"))
          aHash(dw, dh, p)
        }
        (id, hashes.toSeq)
      }).toDF("doc_id", "hashes")
  }

  val extFramePhash: Q = (s, d) =>
    framePhashArrays(s, d)
      .select(col("doc_id"), size(col("hashes")).as("n_frames"),
              size(array_distinct(col("hashes"))).as("n_unique_frames"))
      .select(col("doc_id"), col("n_frames"), col("n_unique_frames"),
              (col("n_unique_frames") === 1).as("is_static"))
      .orderBy(col("doc_id"))

  /** E64 — cross-modal dedup probe: which documents' IMAGE rendering
    * appears among any document's VIDEO frames — possible only because
    * image and frame fingerprints share one aHash ([[extImagePhash]] /
    * [[extFramePhash]] scaladocs promise exactly this composition; this
    * entry cashes the promise). Scale shape matters: the join is image
    * → per-HASH frame summary (hash-grain, bounded by distinct
    * signatures), never image × frame pairs — a degenerate signature
    * (all-black stills) inflates one summary row, not a pair
    * blow-up. By construction every doc's frame 0 equals its own image
    * (same width formula at i = 0), so n_frame_matches ≥ 1 — a
    * spec-pinned invariant that the two decode paths really do agree. */
  val extImageFrameMatch: Q = (s, d) => {
    val img = imagePhashes(s, d)
    val frameSummary = framePhashArrays(s, d)
      .select(col("doc_id").as("vid_doc"), explode(col("hashes")).as("phash"))
      .groupBy(col("phash"))
      .agg(count(lit(1)).as("n_frame_matches"),
           countDistinct(col("vid_doc")).as("n_video_matches"))
    img.join(frameSummary, Seq("phash"), "left")
      .select(col("doc_id"), col("phash"),
              coalesce(col("n_frame_matches"), lit(0L)).as("n_frame_matches"),
              coalesce(col("n_video_matches"), lit(0L)).as("n_video_matches"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, Q] = Map(
    "ext_image_frame_match" -> extImageFrameMatch,
    "ext_multimodal" -> extMultimodal,
    "ext_audio_features" -> extAudioFeatures,
    "ext_audio_phash" -> extAudioPhash,
    "ext_frame_sample" -> extFrameSample,
    "ext_frame_phash" -> extFramePhash,
    "ext_image_phash" -> extImagePhash,
    "ext_image_resize" -> extImageResize)

  /** `bytes`: the text's UTF-8 byte values as a 1-based BIGINT list,
    * decoded from its upper-case hex dump `hx` of `len` bytes. */
  private val hexBytesSql: String =
    """list_transform(range(1, len + 1),
      |      i -> CAST(16 * (strpos('0123456789ABCDEF', substr(hx, 2*i-1, 1)) - 1)
      |              + (strpos('0123456789ABCDEF', substr(hx, 2*i, 1)) - 1) AS BIGINT)) AS bytes""".stripMargin

  /** Gray mass of aHash cell `qv` in video frame `kv` (frame width
    * depends on the frame index; each frame restarts the byte cycle);
    * frame 0 is the document's image. */
  private def fg(qv: String, kv: String): String = {
    val w = s"(1 + (n_chars + $kv) % 12)"
    val base = s"((($qv // 8) * hh // 8) * $w + (($qv % 8) * $w // 8)) * 3"
    (0 to 2).map(c =>
      s"bytes[CAST(($base + $c) % len AS INTEGER) + 1]").mkString(" + ")
  }

  /** The 64-char aHash bitstring of video frame `kv`: each cell's
    * [[fg]] mass against the frame total, all-zero for empty text. */
  private def frameHashSql(kv: String): String =
    s"""CASE WHEN len = 0 THEN repeat('0', 64)
       |      ELSE list_aggregate(list_transform(range(0, 64), q ->
       |        CASE WHEN (${fg("q", kv)}) * 64 >
       |          list_aggregate(list_transform(range(0, 64),
       |                                        q2 -> ${fg("q2", kv)}), 'sum')
       |        THEN '1' ELSE '0' END), 'string_agg', '')
       |      END""".stripMargin

  /** The oracle recomputes the decoder's outputs from the generator's
    * closed form: dimensions from (n_chars, doc_id); sum_rgb from the
    * UTF-8 byte cycle — npix·3 positions cycling a len-byte text sum to
    * ⌊npix·3/len⌋ · Σbytes + Σ(first npix·3 mod len bytes). Byte values
    * come from the hex dump (engine-portable), so parity holds on
    * non-ASCII text too. */
  val oracles: Map[String, String] = Map(
    // image phash = the frame-0 formula (same width derivation), so one
    // frameHashSql replay serves both sides of the cross-modal join
    "ext_image_frame_match" ->
      s"""WITH h AS (
         |  SELECT doc_id, n_chars,
         |    CAST(1 + doc_id % 7 AS INTEGER) AS hh,
         |    CAST(1 + doc_id % 4 AS INTEGER) AS f,
         |    coalesce(octet_length(encode(text)), 0) AS len,
         |    coalesce(hex(encode(text)), '') AS hx
         |  FROM documents),
         |b AS (
         |  SELECT doc_id, n_chars, hh, f, len,
         |    $hexBytesSql
         |  FROM h),
         |ph AS (
         |  SELECT doc_id, list_transform(range(0, f), k -> ${frameHashSql("k")})
         |    AS hashes
         |  FROM b),
         |fr AS (SELECT doc_id AS vid_doc, unnest(hashes) AS phash FROM ph),
         |fs AS (
         |  SELECT phash, CAST(count(*) AS BIGINT) AS n_frame_matches,
         |    CAST(count(DISTINCT vid_doc) AS BIGINT) AS n_video_matches
         |  FROM fr GROUP BY 1),
         |img AS (SELECT doc_id, ${frameHashSql("0")} AS phash FROM b)
         |SELECT img.doc_id, img.phash,
         |  CAST(coalesce(fs.n_frame_matches, 0) AS BIGINT) AS n_frame_matches,
         |  CAST(coalesce(fs.n_video_matches, 0) AS BIGINT) AS n_video_matches
         |FROM img LEFT JOIN fs USING (phash) ORDER BY doc_id""".stripMargin,
    "ext_multimodal" ->
      s"""WITH h AS (
         |  SELECT doc_id, lang,
         |    CAST(1 + n_chars % 12 AS INTEGER) AS width,
         |    CAST(1 + doc_id % 7 AS INTEGER) AS height,
         |    coalesce(octet_length(encode(text)), 0) AS len,
         |    coalesce(hex(encode(text)), '') AS hx
         |  FROM documents),
         |b AS (
         |  SELECT doc_id, lang, width, height, len,
         |    $hexBytesSql
         |  FROM h)
         |SELECT doc_id, width, height,
         |  CAST(width * height AS INTEGER) AS n_pixels,
         |  CAST(CASE WHEN len = 0 THEN 0 ELSE
         |    (CAST(width AS BIGINT) * height * 3 // len)
         |      * coalesce(list_aggregate(bytes, 'sum'), 0)
         |    + coalesce(list_aggregate(
         |        bytes[1:CAST(CAST(width AS BIGINT) * height * 3 % len AS INTEGER)],
         |        'sum'), 0)
         |  END AS BIGINT) AS sum_rgb,
         |  lang
         |FROM b ORDER BY doc_id""".stripMargin,

    // Closed form mirrors the WAV generator: sample j = (byte(j mod len)
    // - 128) * 256, so Σ|s| over n_total cycled positions and max|s| are
    // recomputed from the hex byte list; n_total/channels/rate/duration
    // from the same doc-metadata derivations as the encoder.
    "ext_audio_features" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    CAST(1 + doc_id % 2 AS INTEGER) AS channels,
        |    CAST(8000 * (1 + doc_id % 3) AS INTEGER) AS sample_rate,
        |    coalesce(octet_length(encode(text)), 0) AS len,
        |    hex(encode(text)) AS hx
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, channels, sample_rate, len, hx,
        |    (8 + len + doc_id % 32) + (8 + len + doc_id % 32) % channels
        |      AS n_total
        |  FROM h),
        |b AS (
        |  SELECT doc_id, channels, sample_rate, len, n_total,
        |    list_transform(range(1, len + 1),
        |      i -> abs(CAST(16 * (strpos('0123456789ABCDEF', substr(hx, 2*i-1, 1)) - 1)
        |              + (strpos('0123456789ABCDEF', substr(hx, 2*i, 1)) - 1) AS BIGINT)
        |             - 128) * 256) AS absv
        |  FROM t)
        |SELECT doc_id, channels, sample_rate,
        |  CAST(n_total // channels AS INTEGER) AS n_samp_frames,
        |  (n_total // channels) * 1000 // sample_rate AS duration_ms,
        |  CAST(CASE WHEN len = 0 THEN 0 ELSE
        |    (n_total // len) * coalesce(list_aggregate(absv, 'sum'), 0)
        |    + coalesce(list_aggregate(
        |        absv[1:CAST(n_total % len AS INTEGER)], 'sum'), 0)
        |  END AS BIGINT) AS sum_abs,
        |  CAST(CASE WHEN len = 0 THEN 0
        |       ELSE list_aggregate(absv, 'max') END AS INTEGER) AS peak
        |FROM b ORDER BY doc_id""".stripMargin,

    // Closed form mirrors the container generator: frame i is a
    // (1+(n_chars+i)%12) × (1+doc_id%7) BMP whose pixel stream cycles the
    // text bytes from offset 0, so each sampled (even-index) frame's RGB
    // sum is the per-frame cycle sum and total_bytes is Σ header+padded
    // rows over ALL frames.
    "ext_frame_sample" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |    CAST(1 + doc_id % 4 AS INTEGER) AS f,
         |    CAST(1 + doc_id % 7 AS INTEGER) AS height,
         |    CAST(n_chars AS INTEGER) AS n_chars,
         |    coalesce(octet_length(encode(text)), 0) AS len,
         |    hex(encode(text)) AS hx
         |  FROM documents),
         |b AS (
         |  SELECT doc_id, f, height, n_chars, len,
         |    $hexBytesSql
         |  FROM h),
         |w AS (
         |  SELECT doc_id, f, height, len, bytes,
         |    list_transform(range(0, f), i -> 1 + (n_chars + i) % 12) AS ws
         |  FROM b)
         |SELECT doc_id,
         |  f AS n_frames,
         |  CAST((f + 1) // 2 AS INTEGER) AS n_sampled,
         |  CAST(CASE WHEN len = 0 THEN 0 ELSE
         |    list_aggregate(list_transform(list_filter(range(0, f), i -> i % 2 = 0),
         |      i -> (CAST(ws[i + 1] AS BIGINT) * height * 3 // len)
         |             * coalesce(list_aggregate(bytes, 'sum'), 0)
         |           + coalesce(list_aggregate(
         |               bytes[1:CAST(CAST(ws[i + 1] AS BIGINT) * height * 3 % len AS INTEGER)],
         |               'sum'), 0)), 'sum')
         |  END AS BIGINT) AS sum_rgb_sampled,
         |  CAST(list_aggregate(list_transform(ws,
         |      w -> 54 + (w * 3 + (4 - (w * 3) % 4) % 4) * height), 'sum')
         |    AS INTEGER) AS total_bytes
         |FROM w ORDER BY doc_id""".stripMargin,

    // Closed form mirrors decode∘resize: top-down pixel p channel c holds
    // byte (p*3+c) mod len of the text cycle; the NN kernel samples
    // src = (ty·h/h2, tx·w/w2), so the resized sum re-indexes the same
    // byte list at the sampled positions (tx and c flattened into k).
    "ext_frame_phash" ->
      s"""WITH h AS (
         |  SELECT doc_id, n_chars,
         |    CAST(1 + doc_id % 7 AS INTEGER) AS hh,
         |    CAST(1 + doc_id % 4 AS INTEGER) AS f,
         |    coalesce(octet_length(encode(text)), 0) AS len,
         |    coalesce(hex(encode(text)), '') AS hx
         |  FROM documents),
         |b AS (
         |  SELECT doc_id, n_chars, hh, f, len,
         |    $hexBytesSql
         |  FROM h),
         |ph AS (
         |  SELECT doc_id, f,
         |    list_transform(range(0, f), k ->
         |      ${frameHashSql("k")}) AS hashes
         |  FROM b)
         |SELECT doc_id, CAST(f AS INTEGER) AS n_frames,
         |  CAST(len(list_distinct(hashes)) AS INTEGER) AS n_unique_frames,
         |  len(list_distinct(hashes)) = 1 AS is_static
         |FROM ph ORDER BY doc_id""".stripMargin,
    "ext_audio_phash" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |    coalesce(octet_length(encode(text)), 0) AS len,
         |    coalesce(hex(encode(text)), '') AS hx
         |  FROM documents),
         |b AS (
         |  SELECT doc_id, len,
         |    (8 + len + doc_id % 32)
         |      + (8 + len + doc_id % 32) % (1 + doc_id % 2) AS nt,
         |    $hexBytesSql
         |  FROM h),
         |s AS (
         |  SELECT doc_id, nt,
         |    CASE WHEN len = 0
         |    THEN list_transform(range(0, nt), j -> CAST(0 AS BIGINT))
         |    ELSE list_transform(range(0, nt), j ->
         |      abs((bytes[CAST(j % len AS INTEGER) + 1] - 128) * 256))
         |    END AS sam
         |  FROM b),
         |bk AS (
         |  SELECT doc_id,
         |    list_transform(range(0, 64), k ->
         |      coalesce(list_aggregate(
         |        sam[CAST(k * nt // 64 AS INTEGER) + 1
         |            : CAST((k + 1) * nt // 64 AS INTEGER)], 'sum'),
         |        CAST(0 AS BIGINT))) AS buckets
         |  FROM s),
         |f AS (
         |  SELECT doc_id,
         |    list_aggregate(list_transform(range(0, 64), k ->
         |      CASE WHEN buckets[k + 1] * 64 > list_aggregate(buckets, 'sum')
         |           THEN '1' ELSE '0' END), 'string_agg', '') AS aphash
         |  FROM bk)
         |SELECT doc_id, aphash,
         |  CAST(count(*) OVER (PARTITION BY aphash) AS BIGINT) AS n_same_hash
         |FROM f ORDER BY doc_id""".stripMargin,
    "ext_image_phash" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |    CAST(1 + n_chars % 12 AS INTEGER) AS w,
         |    CAST(1 + doc_id % 7 AS INTEGER) AS hh,
         |    coalesce(octet_length(encode(text)), 0) AS len,
         |    coalesce(hex(encode(text)), '') AS hx
         |  FROM documents),
         |b AS (
         |  SELECT doc_id, w, hh, len,
         |    $hexBytesSql
         |  FROM h),
         |g AS (
         |  SELECT doc_id,
         |    CASE WHEN len = 0
         |    THEN list_transform(range(0, 64), k -> CAST(0 AS BIGINT))
         |    ELSE list_transform(range(0, 64), k ->
         |      bytes[CAST((((k // 8) * hh // 8) * w + ((k % 8) * w // 8)) * 3
         |                 % len AS INTEGER) + 1]
         |    + bytes[CAST(((((k // 8) * hh // 8) * w + ((k % 8) * w // 8)) * 3 + 1)
         |                 % len AS INTEGER) + 1]
         |    + bytes[CAST(((((k // 8) * hh // 8) * w + ((k % 8) * w // 8)) * 3 + 2)
         |                 % len AS INTEGER) + 1])
         |    END AS grays
         |  FROM b),
         |p AS (
         |  SELECT doc_id,
         |    list_aggregate(list_transform(range(0, 64), k ->
         |      CASE WHEN grays[k + 1] * 64 > list_aggregate(grays, 'sum')
         |           THEN '1' ELSE '0' END), 'string_agg', '') AS phash
         |  FROM g)
         |SELECT doc_id, phash,
         |  CAST(count(*) OVER (PARTITION BY phash) AS BIGINT) AS n_same_hash
         |FROM p ORDER BY doc_id""".stripMargin,
    "ext_image_resize" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |    CAST(1 + n_chars % 12 AS INTEGER) AS w,
         |    CAST(1 + doc_id % 7 AS INTEGER) AS hh,
         |    coalesce(octet_length(encode(text)), 0) AS len,
         |    hex(encode(text)) AS hx
         |  FROM documents),
         |b AS (
         |  SELECT doc_id, w, hh, len,
         |    greatest(w // 2, 1) AS w2, greatest(hh // 2, 1) AS h2,
         |    $hexBytesSql
         |  FROM h)
         |SELECT doc_id, w AS src_w, hh AS src_h,
         |  CAST(w2 AS INTEGER) AS dst_w, CAST(h2 AS INTEGER) AS dst_h,
         |  CAST(CASE WHEN len = 0 THEN 0 ELSE
         |    list_aggregate(flatten(list_transform(range(0, h2), ty ->
         |      list_transform(range(0, w2 * 3), k ->
         |        bytes[CAST((((ty * hh // h2) * w + (k // 3) * w // w2) * 3 + k % 3)
         |          % len AS INTEGER) + 1]))), 'sum')
         |  END AS BIGINT) AS sum_rgb_resized
         |FROM b ORDER BY doc_id""".stripMargin)
}
