package graft.extensions

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** One media object: opaque binary payload + routing metadata. At 100 TB the
  * payload column dominates — loaders should keep
  * `spark.sql.files.maxPartitionBytes` at its 128 MB default so a partition
  * holds a bounded number of blobs, and operators below never materialize a
  * whole partition (strictly iterator-to-iterator).
  */
case class MediaRow(media_id: Long, kind: String, payload: Array[Byte])

/** Typed decode result (per-kind fields zeroed when not applicable). */
case class MediaMeta(media_id: Long, kind: String, n_bytes: Long,
    width: Long, height: Long, n_frames: Long)

/** One sampled frame of a video payload. */
case class MediaFrame(media_id: Long, frame_idx: Long, frame_bytes: Array[Byte])

/** Fixed-dim feature vector extracted from a payload (embedding-shaped:
  * joins/ANN-compatible with the `embeddings` table operators).
  */
case class MediaFeature(media_id: Long, kind: String, feature: Array[Float])

/** Integer-exact image decode result (BMP path): header dims plus the sum
  * of all pixel bytes (padding excluded) — order-independent, so it is
  * invariant to the format's bottom-up row storage and SQL-oracle-checkable
  * without the oracle parsing a byte.
  */
case class MediaImageStats(media_id: Long, width: Long, height: Long,
    n_bytes: Long, sum_bytes: Long)

/** Integer-exact video decode result (AVI path): container dims, total and
  * sampled frame counts, container byte size, and the pixel-byte sum over
  * the SAMPLED frames' decoded planes — order-independent like
  * [[MediaImageStats]], so SQL-oracle-checkable without parsing a byte.
  */
case class MediaVideoStats(media_id: Long, width: Long, height: Long,
    n_frames: Long, n_sampled: Long, n_bytes: Long, sum_bytes: Long)

/** Integer-exact audio decode result (WAV path): header rate/channels,
  * PCM frame count, container size, and the signed-sample sum —
  * order-independent like its image/video siblings, so
  * SQL-oracle-checkable without the oracle parsing a byte.
  */
case class MediaAudioStats(media_id: Long, sample_rate: Long, channels: Long,
    n_frames: Long, n_bytes: Long, sum_samples: Long)

/** MJPEG end-to-end verification row (h102): parsed container dims and frame
  * counts plus `n_matched` — sampled frames whose in-container decode (RIFF
  * walk → '00dc' chunk slice → ImageIO JPEG decode → BGR plane) equals,
  * byte-for-byte, the plane decoded from an independently regenerated
  * encoding of the same logical frame. JPEG's lossy transform has no closed
  * integer form a SQL oracle can replay, so the oracle-checkable quantity is
  * the EQUALITY COUNT (with the dims/frame-count law pinning the rest).
  */
case class MediaMjpegVerify(media_id: Long, width: Long, height: Long,
    n_frames: Long, n_sampled: Long, n_matched: Long)

/** Multimodal (image/audio/video) column processing: opaque `binary` payloads
  * with typed metadata, processed by iterator-based `mapPartitions` passes —
  * the Scala analogue of arrow-batched `mapInPandas`: one JVM-side codec
  * instance per partition, streamed row batches, typed output schema.
  *
  * ── CODEC BOUNDARY ─────────────────────────────────────────────────────
  * Every modality now has a REAL codec behind the `MediaCodec` trait, no
  * codec library in the container required: [[WavCodec]] parses actual
  * RIFF/WAVE audio bytes, [[BmpCodec]] walks real uncompressed BMP bytes,
  * [[ImageIoCodec]] (round 10) decodes genuinely COMPRESSED PNG/JPEG via
  * JDK ImageIO, and [[AviCodec]] (round 11) parses real RIFF/AVI video
  * containers — raw-DIB and MJPEG (per-frame JPEG) streams, frame sampling
  * included. MultimodalSpec decodes genuine PCM/BMP/PNG/JPEG/AVI fixtures
  * through all four, and h52/h99 oracle-check the BMP and AVI paths
  * end-to-end. A production deployment adds heavier codecs (e.g. ffmpeg
  * bindings for H.264) behind the same trait — every Spark-side shape
  * (schemas, partitioning, lazy iterator batching, per-partition codec
  * lifecycle) is what ships here.
  *
  * `FakeCodec` below is NOT covering for a missing capability (it used to
  * stub video; [[AviCodec]] retired that): it remains solely as the
  * kind-routing PLUMBING fixture for the h14 declared query, whose
  * documented closed-form formulas let the DuckDB oracle replay a
  * mixed-kind decode pass without parsing media bytes.
  * ───────────────────────────────────────────────────────────────────────
  */
object Multimodal {

  /** Codec contract: one instance is created per partition (cheap here; a
    * real codec would hold native handles — hence per-partition, not per-row).
    */
  trait MediaCodec extends Serializable {
    def decode(m: MediaRow): MediaMeta
    def frames(m: MediaRow, everyNBytes: Int): Iterator[MediaFrame]
    def feature(m: MediaRow, dim: Int): Array[Float]
  }

  /** Deterministic fake codec (see STUB BOUNDARY above). Formulas:
    *   width    = 16 + n_bytes mod 64          (image/video; 0 for audio)
    *   height   = 16 + (n_bytes * 7) mod 64    (image/video; 0 for audio)
    *   n_frames = image → 1, audio → 0, video → ceil(n_bytes / 256)
    *              (== frames(m, 256).size — metadata and frame sampling must
    *              agree; MultimodalSpec cross-checks them)
    *   frame i  = payload[i*everyN ... min((i+1)*everyN, n)-1]
    *   feature  = L2-normalized folded byte sums over `dim` strides
    */
  object FakeCodec extends MediaCodec {
    def decode(m: MediaRow): MediaMeta = {
      val n = m.payload.length.toLong
      m.kind match {
        case "image" => MediaMeta(m.media_id, m.kind, n, 16 + n % 64, 16 + (n * 7) % 64, 1L)
        case "audio" => MediaMeta(m.media_id, m.kind, n, 0L, 0L, 0L)
        case _       => MediaMeta(m.media_id, m.kind, n, 16 + n % 64, 16 + (n * 7) % 64, (n + 255) / 256)
      }
    }
    def frames(m: MediaRow, everyNBytes: Int): Iterator[MediaFrame] =
      m.payload.grouped(everyNBytes).zipWithIndex.map { case (chunk, i) =>
        MediaFrame(m.media_id, i.toLong, chunk)
      }
    def feature(m: MediaRow, dim: Int): Array[Float] = {
      val acc = new Array[Double](dim)
      var i = 0
      while (i < m.payload.length) {
        acc(i % dim) += (m.payload(i) & 0xff).toDouble
        i += 1
      }
      val nrm = math.sqrt(acc.map(x => x * x).sum) max 1e-12
      acc.map(x => (x / nrm).toFloat)
    }
  }

  /** A REAL decoder behind the same trait — proof the stub boundary holds
    * for genuine media bytes: parses RIFF/WAVE headers (PCM) with no codec
    * library. Field mapping for [[MediaMeta]] on audio:
    * `width` := sample rate (Hz), `height` := channel count,
    * `n_frames` := PCM sample frames (data bytes / block align).
    * `frames` slices the data section in block-align-preserving chunks;
    * `feature` folds the 16-bit little-endian samples (normalized to
    * [-1, 1]) over `dim` strides, then L2-normalizes. Malformed bytes
    * throw — a codec's contract is real media in, not silent zeros.
    */
  object WavCodec extends MediaCodec {
    private def u16(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    private def u32(b: Array[Byte], o: Int): Long =
      (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
        ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
    private def tag(b: Array[Byte], o: Int): String =
      new String(b, o, 4, "US-ASCII")

    /** (sampleRate, channels, blockAlign, dataOffset, dataSize). */
    private[Multimodal] def parse(b: Array[Byte]): (Int, Int, Int, Int, Int) = {
      require(b.length >= 44 && tag(b, 0) == "RIFF" && tag(b, 8) == "WAVE",
        "not a RIFF/WAVE payload")
      var o = 12
      var rate = -1; var ch = -1; var align = -1
      var dOff = -1; var dLen = -1
      while (o + 8 <= b.length) {
        val id = tag(b, o); val len = u32(b, o + 4).toInt
        if (id == "fmt " && o + 24 <= b.length) {
          // this codec's whole contract is integer PCM (frames/feature slice
          // and fold 16-bit samples) — a float/A-law payload must throw, not
          // round-trip mislabeled
          require(u16(b, o + 8) == 1, "only integer-PCM WAVE supported")
          ch = u16(b, o + 10); rate = u32(b, o + 12).toInt; align = u16(b, o + 20)
        } else if (id == "data") { dOff = o + 8; dLen = math.min(len, b.length - dOff) }
        o += 8 + len + (len & 1) // RIFF chunks are word-aligned
      }
      require(rate > 0 && ch > 0 && align > 0 && dOff >= 0,
        "WAVE payload missing fmt/data chunks")
      (rate, ch, align, dOff, dLen)
    }

    def decode(m: MediaRow): MediaMeta = {
      val (rate, ch, align, _, dLen) = parse(m.payload)
      MediaMeta(m.media_id, m.kind, m.payload.length.toLong,
        rate.toLong, ch.toLong, dLen.toLong / align)
    }

    def frames(m: MediaRow, everyNBytes: Int): Iterator[MediaFrame] = {
      val (_, _, align, dOff, dLen) = parse(m.payload)
      val step = math.max(align, everyNBytes / align * align) // whole frames
      Iterator.range(0, dLen, step).zipWithIndex.map { case (start, i) =>
        val end = math.min(start + step, dLen)
        MediaFrame(m.media_id, i.toLong,
          java.util.Arrays.copyOfRange(m.payload, dOff + start, dOff + end))
      }
    }

    def feature(m: MediaRow, dim: Int): Array[Float] = {
      val (_, _, _, dOff, dLen) = parse(m.payload)
      val acc = new Array[Double](dim)
      var i = 0
      var s = 0
      while (i + 1 < dLen) {
        val sample = (u16(m.payload, dOff + i) << 16) >> 16 // sign-extend
        acc(s % dim) += sample / 32768.0
        i += 2; s += 1
      }
      val nrm = math.sqrt(acc.map(x => x * x).sum) max 1e-12
      acc.map(x => (x / nrm).toFloat)
    }
  }

  /** Minimal 24-bit-per-pixel Windows BMP encode/parse — pure byte
    * arithmetic on the public format (BITMAPFILEHEADER + BITMAPINFOHEADER,
    * bottom-up rows padded to 4 bytes), no library. Exists so the image
    * modality has a REAL codec behind [[MediaCodec]] (like [[WavCodec]] for
    * audio): real bytes in parquet `binary` columns, real header parsing,
    * real pixel-level resampling — not formula-mirroring on opaque blobs.
    */
  object Bmp {
    val HeaderBytes = 54
    def rowSize(width: Int): Int = (3 * width + 3) / 4 * 4

    private def putU16(b: Array[Byte], o: Int, v: Int): Unit = {
      b(o) = v.toByte; b(o + 1) = (v >>> 8).toByte
    }
    private def putU32(b: Array[Byte], o: Int, v: Int): Unit = {
      b(o) = v.toByte; b(o + 1) = (v >>> 8).toByte
      b(o + 2) = (v >>> 16).toByte; b(o + 3) = (v >>> 24).toByte
    }
    private[Multimodal] def u16(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    private[Multimodal] def i32(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
        ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)

    /** Encode a top-down row-major pixel-byte function (logical byte index
      * j ∈ [0, 3·w·h), BGR within pixel) as a bottom-up padded BMP.
      */
    def encode(width: Int, height: Int, pixelByte: Int => Byte): Array[Byte] = {
      require(width > 0 && height > 0, "BMP dims must be positive")
      val row = rowSize(width)
      val out = new Array[Byte](HeaderBytes + row * height)
      out(0) = 'B'; out(1) = 'M'
      putU32(out, 2, out.length); putU32(out, 10, HeaderBytes)
      putU32(out, 14, 40); putU32(out, 18, width); putU32(out, 22, height)
      putU16(out, 26, 1); putU16(out, 28, 24)
      putU32(out, 34, row * height)
      var y = 0
      while (y < height) {
        val dst = HeaderBytes + (height - 1 - y) * row // bottom-up storage
        var x = 0
        while (x < 3 * width) {
          out(dst + x) = pixelByte(y * 3 * width + x)
          x += 1
        }
        y += 1
      }
      out
    }

    /** (width, height, dataOffset). Malformed bytes throw (codec contract:
      * real media in, not silent zeros — same posture as [[WavCodec]]).
      */
    def parseHeader(b: Array[Byte]): (Int, Int, Int) = {
      require(b.length >= HeaderBytes && b(0) == 'B' && b(1) == 'M',
        "not a BMP payload")
      val w = i32(b, 18); val h = i32(b, 22)
      require(w > 0 && h > 0, "only bottom-up positive-height BMPs supported")
      require(u16(b, 28) == 24, "only 24bpp BMPs supported")
      (w, h, i32(b, 10))
    }

    /** Top-down row-major pixel bytes (padding stripped). */
    def pixels(b: Array[Byte]): Array[Byte] = {
      val (w, h, off) = parseHeader(b)
      val row = rowSize(w)
      val out = new Array[Byte](3 * w * h)
      var y = 0
      while (y < h) {
        System.arraycopy(b, off + (h - 1 - y) * row, out, y * 3 * w, 3 * w)
        y += 1
      }
      out
    }
  }

  /** Real image decoder behind the same trait: parses actual BMP bytes.
    * [[MediaMeta]] mapping: `width`/`height` from the info header,
    * `n_frames` = 1 (still image). `frames` yields the single top-down
    * pixel plane; `feature` folds pixel bytes (padding excluded, so the
    * value is invariant to the format's row alignment) over `dim` strides,
    * L2-normalized.
    */
  object BmpCodec extends MediaCodec {
    def decode(m: MediaRow): MediaMeta = {
      val (w, h, _) = Bmp.parseHeader(m.payload)
      MediaMeta(m.media_id, m.kind, m.payload.length.toLong, w.toLong, h.toLong, 1L)
    }
    def frames(m: MediaRow, everyNBytes: Int): Iterator[MediaFrame] =
      Iterator.single(MediaFrame(m.media_id, 0L, Bmp.pixels(m.payload)))
    def feature(m: MediaRow, dim: Int): Array[Float] = {
      val px = Bmp.pixels(m.payload)
      val acc = new Array[Double](dim)
      var i = 0
      while (i < px.length) {
        acc(i % dim) += (px(i) & 0xff).toDouble
        i += 1
      }
      val nrm = math.sqrt(acc.map(x => x * x).sum) max 1e-12
      acc.map(x => (x / nrm).toFloat)
    }
  }

  /** Real COMPRESSED-format image decoder behind the same trait: JDK
    * ImageIO — whose PNG/JPEG/GIF/BMP readers ship with Java 17, no new
    * dependency — parsing genuine compressed bytes. This retires the stub
    * boundary's biggest caveat (the only real image codec used to be the
    * uncompressed BMP byte-walk): production image corpora are stored
    * compressed, and this path decodes them with the identical
    * per-partition lifecycle and [[MediaMeta]]/[[MediaFrame]] contracts.
    *
    * `frames` emits the SAME top-down row-major BGR plane layout as
    * [[BmpCodec]] (one still frame), so every downstream pass is
    * codec-agnostic — MultimodalSpec pins plane equality between a BMP and
    * a PNG encoding of the same logical pixels (PNG is lossless, so the
    * decoded planes must match byte-for-byte). All stream handling is
    * memory-cached (`MemoryCacheImageInputStream`) — no ImageIO disk-cache
    * temp files on executors, and no mutation of the global
    * `ImageIO.setUseCache` state. Undecodable bytes throw (codec contract:
    * real media in, not silent zeros).
    */
  object ImageIoCodec extends MediaCodec {
    private[Multimodal] def read(b: Array[Byte]): java.awt.image.BufferedImage = {
      val in = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(b))
      // ImageIO.read(ImageInputStream) closes the stream itself per its
      // javadoc — an explicit close here double-closes and throws; the
      // stream is heap-only (memory-cached over a byte array), so the
      // rare exception path leaks nothing the GC doesn't reclaim
      val img = javax.imageio.ImageIO.read(in)
      require(img != null, "no ImageIO reader recognized the payload")
      img
    }
    /** Top-down row-major BGR bytes — [[BmpCodec]]'s plane layout. */
    private[Multimodal] def bgrPlane(img: java.awt.image.BufferedImage): Array[Byte] = {
      val w = img.getWidth; val h = img.getHeight
      val out = new Array[Byte](3 * w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val argb = img.getRGB(x, y)
          val p = (y * w + x) * 3
          out(p) = (argb & 0xff).toByte
          out(p + 1) = ((argb >> 8) & 0xff).toByte
          out(p + 2) = ((argb >> 16) & 0xff).toByte
          x += 1
        }
        y += 1
      }
      out
    }
    def decode(m: MediaRow): MediaMeta = {
      val img = read(m.payload)
      MediaMeta(m.media_id, m.kind, m.payload.length.toLong,
        img.getWidth.toLong, img.getHeight.toLong, 1L)
    }
    def frames(m: MediaRow, everyNBytes: Int): Iterator[MediaFrame] =
      Iterator.single(MediaFrame(m.media_id, 0L, bgrPlane(read(m.payload))))
    def feature(m: MediaRow, dim: Int): Array[Float] = {
      val px = bgrPlane(read(m.payload))
      val acc = new Array[Double](dim)
      var i = 0
      while (i < px.length) {
        acc(i % dim) += (px(i) & 0xff).toDouble
        i += 1
      }
      val nrm = math.sqrt(acc.map(x => x * x).sum) max 1e-12
      acc.map(x => (x / nrm).toFloat)
    }
  }

  /** Minimal RIFF/AVI video container encode/parse — pure byte arithmetic
    * on the public format (AVI is WAV's RIFF sibling: the same little-endian
    * chunk grammar this file already walks in [[WavCodec]], plus LIST
    * nesting), no library. Layout emitted/understood:
    * {{{
    * RIFF 'AVI '
    *   LIST 'hdrl'
    *     'avih' (56 B main header: µs/frame, total frames, width, height…)
    *     LIST 'strl'
    *       'strh' (56 B stream header: fccType 'vids', handler fourcc…)
    *       'strf' (40 B BITMAPINFOHEADER)
    *   LIST 'movi'
    *     '00db' raw DIB frame  |  '00dc' compressed (MJPEG) frame   × n
    *   'idx1' (16 B/frame legacy index)
    * }}}
    * Raw '00db' frames are bottom-up BGR rows padded to 4 bytes — the BMP
    * pixel-array layout without the file header ([[Bmp]]); '00dc' frames
    * under the 'MJPG' handler are each a complete JPEG, decodable by the
    * existing [[ImageIoCodec]] machinery (MJPEG IS per-frame JPEG).
    * Malformed bytes throw — same contract as every codec here.
    */
  object Avi {
    import Bmp.{i32, u16}

    private class W(private val buf: java.io.ByteArrayOutputStream =
        new java.io.ByteArrayOutputStream()) {
      def tag(s: String): W = { buf.write(s.getBytes("US-ASCII"), 0, 4); this }
      def u32(v: Int): W = {
        buf.write(v & 0xff); buf.write((v >>> 8) & 0xff)
        buf.write((v >>> 16) & 0xff); buf.write((v >>> 24) & 0xff); this
      }
      def u16(v: Int): W = { buf.write(v & 0xff); buf.write((v >>> 8) & 0xff); this }
      def bytes(b: Array[Byte]): W = { buf.write(b, 0, b.length); this }
      def zeros(n: Int): W = { var i = 0; while (i < n) { buf.write(0); i += 1 }; this }
      def toArray: Array[Byte] = buf.toByteArray
    }

    /** One video frame's location inside the container. */
    final case class FrameRef(offset: Int, length: Int, compressed: Boolean)
    /** Parsed container: dims, frame rate, stream handler, per-frame
      * payload slices.
      */
    final case class Info(width: Int, height: Int, fps: Int, fourcc: String,
        frames: IndexedSeq[FrameRef])

    /** Encode frame payloads as an AVI. `fourcc` "DIB " takes raw bottom-up
      * padded BGR planes (emitted as '00db'); "MJPG" takes per-frame JPEG
      * bytes (emitted as '00dc'). Deterministic fixed-size headers: total
      * container size = 232 + Σ(8 + len + pad) + 16·n — the closed form the
      * h99 oracle replays.
      */
    def encode(width: Int, height: Int, fps: Int, fourcc: String,
        frames: IndexedSeq[Array[Byte]]): Array[Byte] = {
      require(width > 0 && height > 0 && fps > 0, "AVI dims/fps must be positive")
      require(fourcc == "DIB " || fourcc == "MJPG", s"unsupported handler '$fourcc'")
      val raw = fourcc == "DIB "
      val chunkId = if (raw) "00db" else "00dc"
      val padded = frames.map(f => f.length + (f.length & 1))
      val moviSize = 4 + padded.map(8 + _).sum // 'movi' type + frame chunks
      val idx1Size = 16 * frames.length
      // RIFF size field = everything after the 8-byte RIFF chunk header
      val riffSize = 4 + (8 + 192) + (8 + moviSize) + (8 + idx1Size)
      val w = new W()
      w.tag("RIFF").u32(riffSize).tag("AVI ")
      // LIST hdrl: 4-byte type + avih(8+56) + LIST strl(8+116) = 192
      w.tag("LIST").u32(192).tag("hdrl")
      w.tag("avih").u32(56)
        .u32(1000000 / fps).u32(0).u32(0).u32(0x10 /*AVIF_HASINDEX*/)
        .u32(frames.length).u32(0).u32(1).u32(0)
        .u32(width).u32(height).zeros(16)
      // LIST strl: 4-byte type + strh(8+56) + strf(8+40) = 116
      w.tag("LIST").u32(116).tag("strl")
      w.tag("strh").u32(56)
        .tag("vids").tag(fourcc).u32(0).u16(0).u16(0).u32(0)
        .u32(1).u32(fps) // scale, rate → fps frames/s
        .u32(0).u32(frames.length).u32(0).u32(-1).u32(0)
        .u16(0).u16(0).u16(width).u16(height) // rcFrame
      w.tag("strf").u32(40)
        .u32(40).u32(width).u32(height).u16(1).u16(24)
        .u32(if (raw) 0 else 0x47504a4d /*'MJPG' LE*/)
        .u32(Bmp.rowSize(width) * height).u32(0).u32(0).u32(0).u32(0)
      w.tag("LIST").u32(moviSize).tag("movi")
      // idx1 offsets are relative to the 'movi' type tag (the common
      // convention): first frame chunk header sits 4 bytes past it
      var rel = 4
      val offsets = frames.map { f =>
        val o = rel
        rel += 8 + f.length + (f.length & 1)
        o
      }
      frames.foreach { f =>
        w.tag(chunkId).u32(f.length).bytes(f)
        if ((f.length & 1) == 1) w.zeros(1)
      }
      w.tag("idx1").u32(idx1Size)
      frames.lazyZip(offsets).foreach { (f, o) =>
        w.tag(chunkId).u32(0x10 /*AVIIF_KEYFRAME*/).u32(o).u32(f.length)
      }
      w.toArray
    }

    /** Raw bottom-up padded BGR frame bytes from a top-down row-major pixel
      * byte function (the [[Bmp.encode]] pixel array without the file
      * header) — '00db' payload for `encode(…, "DIB ", …)`.
      */
    def rawFrame(width: Int, height: Int, pixelByte: Int => Byte): Array[Byte] = {
      val row = Bmp.rowSize(width)
      val out = new Array[Byte](row * height)
      var y = 0
      while (y < height) {
        val dst = (height - 1 - y) * row
        var x = 0
        while (x < 3 * width) {
          out(dst + x) = pixelByte(y * 3 * width + x)
          x += 1
        }
        y += 1
      }
      out
    }

    /** Top-down BGR plane of one raw '00db' frame slice. */
    private[Multimodal] def rawPlane(b: Array[Byte], off: Int, w: Int, h: Int): Array[Byte] = {
      val row = Bmp.rowSize(w)
      val out = new Array[Byte](3 * w * h)
      var y = 0
      while (y < h) {
        System.arraycopy(b, off + (h - 1 - y) * row, out, y * 3 * w, 3 * w)
        y += 1
      }
      out
    }

    def parse(b: Array[Byte]): Info = {
      def tag(o: Int): String = new String(b, o, 4, "US-ASCII")
      require(b.length >= 24 && tag(0) == "RIFF" && tag(8) == "AVI ",
        "not a RIFF/AVI payload")
      var width = -1; var height = -1; var usPerFrame = 0; var fourcc = ""
      val frames = IndexedSeq.newBuilder[FrameRef]
      // walk [from, to) as a chunk sequence, recursing into LISTs
      def walk(from: Int, to: Int): Unit = {
        var o = from
        while (o + 8 <= to) {
          val id = tag(o); val len = i32(b, o + 4)
          require(len >= 0 && o + 8 + len <= b.length, s"truncated AVI chunk '$id'")
          if (id == "LIST") {
            walk(o + 12, o + 8 + len) // skip the 4-byte list type
          } else if (id == "avih" && len >= 40) {
            // a shorter avih would read the next chunk's bytes as dims —
            // leave width/height unset so the final require throws instead
            usPerFrame = i32(b, o + 8)
            width = i32(b, o + 8 + 32); height = i32(b, o + 8 + 36)
          } else if (id == "strh" && len >= 12 && tag(o + 8) == "vids") {
            fourcc = tag(o + 12)
          } else if (id.length == 4 && id(0).isDigit && id(1).isDigit &&
              (id.endsWith("db") || id.endsWith("dc"))) {
            frames += FrameRef(o + 8, len, compressed = id.endsWith("dc"))
          } // 'idx1', 'strf', 'JUNK', … carry no information parse needs
          o += 8 + len + (len & 1) // RIFF chunks are word-aligned
        }
      }
      walk(12, b.length)
      require(width > 0 && height > 0, "AVI payload missing avih dims")
      val fps = if (usPerFrame > 0) math.max(1, 1000000 / usPerFrame) else 1
      Info(width, height, fps, fourcc, frames.result())
    }

    /** Decode frame `fr` of a parsed container to the top-down row-major
      * BGR plane every image codec here emits ([[Bmp.pixels]] /
      * [[ImageIoCodec.bgrPlane]] layout) — raw DIB via a stride walk, MJPEG
      * via the ImageIO JPEG reader.
      */
    private[Multimodal] def framePlane(b: Array[Byte], info: Info, fr: FrameRef): Array[Byte] =
      if (!fr.compressed) {
        // a '00db' chunk shorter than one frame would otherwise misdecode
        // adjacent container bytes (idx1/next header) as pixels or walk off
        // the buffer — malformed bytes must throw, per the codec contract;
        // the minimum size is computed in Long so adversarial header dims
        // can't overflow Int to a negative product that passes the guard
        require(fr.length >= Bmp.rowSize(info.width).toLong * info.height,
          s"raw AVI frame chunk of ${fr.length} B is shorter than one " +
            s"${info.width}x${info.height} frame")
        rawPlane(b, fr.offset, info.width, info.height)
      } else ImageIoCodec.bgrPlane(ImageIoCodec.read(
        java.util.Arrays.copyOfRange(b, fr.offset, fr.offset + fr.length)))
  }

  /** Real video decoder behind the same trait: parses actual AVI containers
    * ([[Avi]]) — raw-DIB and MJPEG streams. [[MediaMeta]] mapping:
    * `width`/`height` from the main header, `n_frames` = video frame chunks
    * in 'movi'. `frames` interprets the sampling parameter as a FRAME
    * stride (every Nth frame, `frame_idx` = source frame index): frames,
    * not bytes, are a video container's sampling unit — a byte stride would
    * split compressed frames mid-stream. Each emitted frame is the decoded
    * top-down BGR plane, so downstream passes are codec-agnostic with the
    * image codecs. `feature` folds all frames' plane bytes over `dim`
    * strides, L2-normalized. Malformed bytes throw.
    */
  object AviCodec extends MediaCodec {
    def decode(m: MediaRow): MediaMeta = {
      val info = Avi.parse(m.payload)
      MediaMeta(m.media_id, m.kind, m.payload.length.toLong,
        info.width.toLong, info.height.toLong, info.frames.size.toLong)
    }
    def frames(m: MediaRow, everyNBytes: Int): Iterator[MediaFrame] = {
      val info = Avi.parse(m.payload)
      val stride = math.max(1, everyNBytes)
      Iterator.range(0, info.frames.size, stride).map { i =>
        MediaFrame(m.media_id, i.toLong, Avi.framePlane(m.payload, info, info.frames(i)))
      }
    }
    def feature(m: MediaRow, dim: Int): Array[Float] = {
      val info = Avi.parse(m.payload)
      val acc = new Array[Double](dim)
      info.frames.foreach { fr =>
        val px = Avi.framePlane(m.payload, info, fr)
        var i = 0
        while (i < px.length) {
          acc(i % dim) += (px(i) & 0xff).toDouble
          i += 1
        }
      }
      val nrm = math.sqrt(acc.map(x => x * x).sum) max 1e-12
      acc.map(x => (x / nrm).toFloat)
    }
  }

  /** Deterministic AVI fixture over the `documents` table: per doc a small
    * raw-DIB video (w = 4 + id mod 5, h = 3 + id mod 4, n_frames =
    * 2 + id mod 3) whose frame-k logical pixel byte j is
    * `(id·31 + k·11 + j·7) mod 256` — pure integer arithmetic a SQL oracle
    * replays without parsing a byte ([[toBmpMedia]]'s posture, extended
    * with the frame axis). Encoding is the REAL container byte layout
    * (RIFF/LIST walk, bottom-up padded frame rows, idx1): any header,
    * stride, or frame-boundary bug changes the decoded sums and fails the
    * hash gate.
    */
  def toAviMedia(docs: DataFrame, idCol: String): Dataset[MediaRow] = {
    implicit val enc = Encoders.product[MediaRow]
    docs.select(col(idCol).cast("long").as("media_id"))
      .as[Long](Encoders.scalaLong)
      .mapPartitions(it => it.map { id =>
        val w = (4 + id % 5).toInt; val h = (3 + id % 4).toInt
        val nf = (2 + id % 3).toInt
        val frames = IndexedSeq.tabulate(nf) { k =>
          Avi.rawFrame(w, h, j => ((id * 31 + k * 11 + j.toLong * 7) % 256).toByte)
        }
        MediaRow(id, "video", Avi.encode(w, h, fps = 10, "DIB ", frames))
      })
  }

  /** Decode + frame-sample + integer pixel aggregation in one iterator pass:
    * per video the parsed dims, total/sampled frame counts, container size,
    * and the exact pixel-byte sum over every `frameStride`-th frame's
    * decoded plane ([[MediaVideoStats]]). Like [[imageStats]], the
    * downstream relation is a handful of longs per video — payloads never
    * cross a shuffle.
    */
  def videoStats(media: Dataset[MediaRow], frameStride: Int = 2): Dataset[MediaVideoStats] = {
    require(frameStride > 0)
    implicit val enc = Encoders.product[MediaVideoStats]
    media.mapPartitions(it => it.map { m =>
      val info = Avi.parse(m.payload)
      var s = 0L
      var sampled = 0L
      var i = 0
      while (i < info.frames.size) {
        val px = Avi.framePlane(m.payload, info, info.frames(i))
        var p = 0
        while (p < px.length) { s += (px(p) & 0xff); p += 1 }
        sampled += 1
        i += frameStride
      }
      MediaVideoStats(m.media_id, info.width.toLong, info.height.toLong,
        info.frames.size.toLong, sampled, m.payload.length.toLong, s)
    })
  }

  /** The deterministic logical frame behind the MJPEG fixture: frame k of
    * media `id` at w×h takes its channel bytes from the h99 pixel law
    * `(id·31 + k·11 + j·7) mod 256` (j = top-down BGR byte index). Shared
    * by [[toMjpegMedia]] (encode side) and [[mjpegVerifyStats]] (expected
    * side) so both regenerate byte-identical JPEG inputs.
    */
  private def mjpegFrameImage(id: Long, k: Int, w: Int,
      h: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    def f(j: Int): Int = ((id * 31 + k * 11 + j.toLong * 7) % 256).toInt
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = (y * w + x) * 3
        img.setRGB(x, y, (f(p + 2) << 16) | (f(p + 1) << 8) | f(p))
        x += 1
      }
      y += 1
    }
    img
  }

  /** MJPEG sibling of [[toAviMedia]]: per doc a small MJPG-handler AVI whose
    * '00dc' chunks are REAL ImageIO-encoded JPEG frames of
    * [[mjpegFrameImage]]'s deterministic pixels (w = 8 + id mod 5,
    * h = 6 + id mod 4, n_frames = 2 + id mod 3) — the compressed-stream
    * fixture the h102 oracle decodes end-to-end.
    */
  def toMjpegMedia(docs: DataFrame, idCol: String): Dataset[MediaRow] = {
    implicit val enc = Encoders.product[MediaRow]
    // ImageIO-bound constructor (a real JPEG encode per frame) — the one
    // media fixture builder that widens (see roundTripParquet)
    Parallelism.widen(docs.select(col(idCol).cast("long").as("media_id")))
      .as[Long](Encoders.scalaLong)
      .mapPartitions(it => it.map { id =>
        val w = (8 + id % 5).toInt; val h = (6 + id % 4).toInt
        val nf = (2 + id % 3).toInt
        val frames = IndexedSeq.tabulate(nf)(k =>
          imageIoEncode(mjpegFrameImage(id, k, w, h), "jpg"))
        MediaRow(id, "video", Avi.encode(w, h, fps = 10, "MJPG", frames))
      })
  }

  /** Decode-vs-expected equality pass for the MJPEG path (h102's operator):
    * per container, decode every `frameStride`-th '00dc' frame through the
    * production path ([[Avi.framePlane]] — chunk slice → ImageIO JPEG →
    * BGR plane), independently regenerate the same logical frame's JPEG
    * bytes (ImageIO JPEG encode is deterministic for fixed pixels within a
    * JDK) and decode THOSE directly, and count byte-identical planes.
    * `n_matched` = `n_sampled` iff the chunk slicing (offset/length), the
    * MJPEG decode branch, and the plane extraction are all exact — a
    * one-byte slice error makes the sliced JPEG undecodable (throw) or its
    * decoded plane different. Same scan-side iterator shape as
    * [[videoStats]]; payloads never cross a shuffle.
    */
  def mjpegVerifyStats(media: Dataset[MediaRow],
      frameStride: Int = 2): Dataset[MediaMjpegVerify] = {
    require(frameStride > 0)
    implicit val enc = Encoders.product[MediaMjpegVerify]
    media.mapPartitions(it => it.map { m =>
      val info = Avi.parse(m.payload)
      var sampled = 0L
      var matched = 0L
      var i = 0
      while (i < info.frames.size) {
        val got = Avi.framePlane(m.payload, info, info.frames(i))
        val want = ImageIoCodec.bgrPlane(ImageIoCodec.read(imageIoEncode(
          mjpegFrameImage(m.media_id, i, info.width, info.height), "jpg")))
        sampled += 1
        if (java.util.Arrays.equals(got, want)) matched += 1
        i += frameStride
      }
      MediaMjpegVerify(m.media_id, info.width.toLong, info.height.toLong,
        info.frames.size.toLong, sampled, matched)
    })
  }

  /** Encode a BufferedImage to compressed bytes with an explicit
    * memory-cached stream (no disk cache, no global ImageIO state).
    */
  private def imageIoEncode(img: java.awt.image.BufferedImage,
      format: String): Array[Byte] = {
    val baos = new java.io.ByteArrayOutputStream()
    val out = new javax.imageio.stream.MemoryCacheImageOutputStream(baos)
    try {
      require(javax.imageio.ImageIO.write(img, format, out),
        s"no ImageIO writer for format '$format'")
    } finally out.close()
    baos.toByteArray
  }

  /** Payload-to-payload resize of COMPRESSED image payloads (PNG/JPEG/…):
    * decode via ImageIO, nearest-neighbor resample with the SAME sampling
    * formula as the BMP [[resizeImages]] (sx = x·w/W, sy = y·h/H), re-encode
    * as `format`. Iterator-to-iterator like every media pass; deterministic
    * for lossless formats (MultimodalSpec pins the round-trip pixels).
    */
  def resizeImagesIo(media: Dataset[MediaRow], targetW: Int, targetH: Int,
      format: String = "png"): Dataset[MediaRow] = {
    require(targetW > 0 && targetH > 0)
    implicit val enc = Encoders.product[MediaRow]
    media.mapPartitions(it => it.map { m =>
      // memory-cached stream like ImageIoCodec.read: ImageIO.read over a
      // raw InputStream defaults to a FileCacheImageInputStream — one temp
      // FILE per decode, a filesystem bottleneck once the pass runs wide
      val in = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(m.payload))
      val src = javax.imageio.ImageIO.read(in)
      require(src != null, "no ImageIO reader recognized the payload")
      val w = src.getWidth; val h = src.getHeight
      val dst = new java.awt.image.BufferedImage(
        targetW, targetH, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < targetH) {
        var x = 0
        while (x < targetW) {
          dst.setRGB(x, y, src.getRGB(x * w / targetW, y * h / targetH) & 0xffffff)
          x += 1
        }
        y += 1
      }
      MediaRow(m.media_id, m.kind, imageIoEncode(dst, format))
    })
  }

  /** Payload-to-payload AUDIO sample-rate conversion (the audio member of
    * the resize family — the 16 kHz downsample every ASR/audio-training
    * pipeline runs): parse the RIFF/WAVE header, pick PCM frames by
    * nearest-source-index (out frame i ← src frame i·srcRate/targetRate —
    * the same integer sampling formula as the image/video resizes, 1-D),
    * and re-encode a canonical 44-byte-header WAV at the target rate.
    * Block alignment (channel count × sample width) is preserved whole —
    * frames are opaque `align`-byte units, so stereo stays interleaved.
    * Deterministic integer byte-copying, no interpolation (a production
    * pipeline that needs a low-pass filter swaps this kernel; the Spark
    * shape is identical). Iterator-to-iterator; one row in, one row out.
    */
  def resampleAudio(media: Dataset[MediaRow], targetRate: Int): Dataset[MediaRow] = {
    require(targetRate > 0)
    implicit val enc = Encoders.product[MediaRow]
    media.mapPartitions(it => it.map { m =>
      val (rate, ch, align, dOff, dLen) = WavCodec.parse(m.payload)
      val srcFrames = dLen / align
      val outFrames = (srcFrames.toLong * targetRate / rate).toInt
      val outLen = outFrames * align
      val out = new Array[Byte](44 + outLen)
      val bb = java.nio.ByteBuffer.wrap(out).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + outLen)
      bb.put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      bb.putShort(1).putShort(ch.toShort).putInt(targetRate)
      bb.putInt(targetRate * align).putShort(align.toShort)
      bb.putShort((8 * align / ch).toShort)
      bb.put("data".getBytes("US-ASCII")).putInt(outLen)
      var i = 0
      while (i < outFrames) {
        val src = (i.toLong * rate / targetRate).toInt
        System.arraycopy(m.payload, dOff + src * align, out, 44 + i * align, align)
        i += 1
      }
      MediaRow(m.media_id, m.kind, out)
    })
  }

  /** Deterministic WAV fixture over the `documents` table: per doc a mono
    * 8 kHz PCM16 clip of n = 50 + id mod 50 frames whose sample i is
    * `((id·13 + i·7) mod 65536) − 32768` — pure integer arithmetic a SQL
    * oracle replays without parsing a byte ([[toBmpMedia]]/[[toAviMedia]]'s
    * posture for the audio modality). Encoding is the REAL canonical
    * 44-byte-header RIFF/WAVE layout; any header or sample-order bug
    * changes the decoded sums and fails the hash gate.
    */
  def toWavMedia(docs: DataFrame, idCol: String): Dataset[MediaRow] = {
    implicit val enc = Encoders.product[MediaRow]
    docs.select(col(idCol).cast("long").as("media_id"))
      .as[Long](Encoders.scalaLong)
      .mapPartitions(it => it.map { id =>
        val n = (50 + id % 50).toInt
        val out = new Array[Byte](44 + 2 * n)
        val bb = java.nio.ByteBuffer.wrap(out).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + 2 * n)
        bb.put("WAVE".getBytes("US-ASCII"))
        bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
        bb.putShort(1).putShort(1).putInt(8000)
        bb.putInt(16000).putShort(2).putShort(16)
        bb.put("data".getBytes("US-ASCII")).putInt(2 * n)
        var i = 0
        while (i < n) {
          bb.putShort((((id * 13 + i.toLong * 7) % 65536) - 32768).toShort)
          i += 1
        }
        MediaRow(id, "audio", out)
      })
  }

  /** Decode + integer sample aggregation in one iterator pass: per audio
    * payload the parsed rate/channels/frame count and the exact
    * sign-extended 16-bit sample sum ([[MediaAudioStats]]) — the audio
    * member of the [[imageStats]]/[[videoStats]] family; the downstream
    * relation is a handful of longs per clip, payloads never shuffle.
    * PCM16 only (the codec contract — [[WavCodec]] rejects non-PCM).
    */
  def audioStats(media: Dataset[MediaRow]): Dataset[MediaAudioStats] = {
    implicit val enc = Encoders.product[MediaAudioStats]
    media.mapPartitions(it => it.map { m =>
      val (rate, ch, align, dOff, dLen) = WavCodec.parse(m.payload)
      require(8 * align / ch == 16, "audioStats supports 16-bit PCM only")
      var s = 0L
      var i = 0
      while (i + 1 < dLen) {
        s += (Bmp.u16(m.payload, dOff + i) << 16) >> 16 // sign-extend
        i += 2
      }
      MediaAudioStats(m.media_id, rate.toLong, ch.toLong,
        dLen.toLong / align, m.payload.length.toLong, s)
    })
  }

  /** Payload-to-payload VIDEO resize: parse the AVI container, decode every
    * frame to its BGR plane (raw-DIB stride walk or MJPEG via ImageIO —
    * input handler per frame chunk), nearest-neighbor resample each with
    * the SAME sampling formula as the image resizes (sx = x·w/W,
    * sy = y·h/H), and re-encode as a raw-DIB AVI at the source frame rate.
    * Raw output keeps the op deterministic (a JPEG re-encode would make
    * output bytes JDK-version-dependent) and every frame decodable by
    * [[AviCodec]] downstream. Iterator-to-iterator like every media pass;
    * one row in, one row out, frame count and fps preserved.
    */
  def resizeVideos(media: Dataset[MediaRow], targetW: Int, targetH: Int): Dataset[MediaRow] = {
    require(targetW > 0 && targetH > 0)
    implicit val enc = Encoders.product[MediaRow]
    media.mapPartitions(it => it.map { m =>
      val info = Avi.parse(m.payload)
      val w = info.width; val h = info.height
      val outFrames = info.frames.map { fr =>
        val src = Avi.framePlane(m.payload, info, fr)
        Avi.rawFrame(targetW, targetH, { j =>
          val p = j / 3; val c = j % 3
          val x = p % targetW; val y = p / targetW
          val sx = x * w / targetW; val sy = y * h / targetH
          src((sy * w + sx) * 3 + c)
        })
      }
      MediaRow(m.media_id, m.kind,
        Avi.encode(targetW, targetH, info.fps, "DIB ", outFrames))
    })
  }

  /** PNG twin of [[toBmpMedia]]: the SAME logical pixels (dims and byte
    * formula) encoded as real compressed PNG bytes via ImageIO — the
    * cross-codec fixture (PNG is lossless, so [[ImageIoCodec]]'s decoded
    * plane must equal [[BmpCodec]]'s from the BMP twin byte-for-byte).
    */
  def toPngMedia(docs: DataFrame, idCol: String): Dataset[MediaRow] = {
    implicit val enc = Encoders.product[MediaRow]
    docs.select(col(idCol).cast("long").as("media_id"))
      .as[Long](Encoders.scalaLong)
      .mapPartitions(it => it.map { id =>
        val w = (4 + id % 5).toInt; val h = (3 + id % 4).toInt
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        def f(j: Int): Int = ((id * 31 + j.toLong * 7) % 256).toInt
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = (y * w + x) * 3 // BGR within pixel, like the BMP fixture
            img.setRGB(x, y, (f(p + 2) << 16) | (f(p + 1) << 8) | f(p))
            x += 1
          }
          y += 1
        }
        MediaRow(id, "image", imageIoEncode(img, "png"))
      })
  }

  /** REAL payload-to-payload resize: nearest-neighbor resample of BMP
    * payloads to target dims (the op [[resizePlan]] only planned). Same
    * iterator-to-iterator mapPartitions shape as every other media pass —
    * one row in, one (smaller) row out, nothing partition-wide.
    */
  def resizeImages(media: Dataset[MediaRow], targetW: Int, targetH: Int): Dataset[MediaRow] = {
    require(targetW > 0 && targetH > 0)
    implicit val enc = Encoders.product[MediaRow]
    media.mapPartitions(it => it.map { m =>
      val (w, h, _) = Bmp.parseHeader(m.payload)
      val src = Bmp.pixels(m.payload)
      val out = Bmp.encode(targetW, targetH, { j =>
        val p = j / 3; val c = j % 3
        val x = p % targetW; val y = p / targetW
        val sx = x * w / targetW; val sy = y * h / targetH
        src((sy * w + sx) * 3 + c)
      })
      MediaRow(m.media_id, m.kind, out)
    })
  }

  /** Deterministic BMP fixture over the `documents` table: per doc a small
    * 24bpp image (w = 4 + id mod 5, h = 3 + id mod 4) whose logical pixel
    * byte j is `(id·31 + j·7) mod 256` — pure integer arithmetic a SQL
    * oracle replays without parsing a byte. Encoding is the REAL BMP byte
    * layout (padding, bottom-up rows); any header/stride bug changes the
    * decoded sums and fails the hash gate.
    */
  def toBmpMedia(docs: DataFrame, idCol: String): Dataset[MediaRow] = {
    implicit val enc = Encoders.product[MediaRow]
    docs.select(col(idCol).cast("long").as("media_id"))
      .as[Long](Encoders.scalaLong)
      .mapPartitions(it => it.map { id =>
        val w = (4 + id % 5).toInt; val h = (3 + id % 4).toInt
        MediaRow(id, "image",
          Bmp.encode(w, h, j => ((id * 31 + j.toLong * 7) % 256).toByte))
      })
  }

  /** Decode + integer pixel aggregation in one iterator pass: per image the
    * parsed header dims and the exact pixel-byte sum ([[MediaImageStats]]).
    * The per-row sum is driver-free and the downstream relation carries only
    * 5 longs per image — the payload column never crosses a shuffle.
    */
  def imageStats(media: Dataset[MediaRow]): Dataset[MediaImageStats] = {
    implicit val enc = Encoders.product[MediaImageStats]
    media.mapPartitions(it => it.map { m =>
      val (w, h, _) = Bmp.parseHeader(m.payload)
      val px = Bmp.pixels(m.payload)
      var s = 0L
      var i = 0
      while (i < px.length) { s += (px(i) & 0xff); i += 1 }
      MediaImageStats(m.media_id, w.toLong, h.toLong, m.payload.length.toLong, s)
    })
  }

  /** Adapt the `documents` table into a media table (payload = UTF-8 bytes,
    * kind assigned by id mod 3) — the fixture generator for the multimodal
    * path; a real pipeline reads (id, kind, payload) parquet directly.
    */
  def toMedia(docs: DataFrame, idCol: String, textCol: String): Dataset[MediaRow] = {
    implicit val enc = Encoders.product[MediaRow]
    docs.select(
      col(idCol).cast("long").as("media_id"),
      when(col(idCol) % 3 === 0, "image")
        .when(col(idCol) % 3 === 1, "audio")
        .otherwise("video").as("kind"),
      encode(col(textCol), "UTF-8").as("payload")).as[MediaRow]
  }

  /** Materialize a media table as real `(media_id, kind, payload binary)`
    * parquet and read it back — the binary-column IO a production pipeline
    * performs between acquisition and processing (parquet stores the payload
    * as BYTE_ARRAY; the read-back is the fixture every downstream operator
    * sees). Write + scan both stream; nothing driver-side.
    *
    * `wide = true` widens the read-back before a HEAVY downstream decode
    * pass (small fixture files pack into one or two splits under
    * openCostInBytes batching, serializing the decode through one task) —
    * opt-in per call site because the exchange only pays for itself when
    * the per-row work is ImageIO-sized (2.4 s one task vs ~0.3 s wide on
    * h102's JPEG verify), not an integer byte loop (widening those doubled
    * them: h14 0.38 → 0.80 s).
    */
  def roundTripParquet(media: Dataset[MediaRow], path: String,
      wide: Boolean = false): Dataset[MediaRow] = {
    implicit val enc = Encoders.product[MediaRow]
    media.toDF().write.mode("overwrite").parquet(path)
    val back = Tables.readParquet(media.sparkSession, path)
    (if (wide) Parallelism.widen(back) else back).as[MediaRow]
  }

  /** Decode pass: binary → typed metadata. Iterator-to-iterator (no partition
    * materialization); codec instantiated once per partition.
    */
  def extractMeta(media: Dataset[MediaRow],
      codec: MediaCodec = FakeCodec): Dataset[MediaMeta] = {
    implicit val enc = Encoders.product[MediaMeta]
    media.mapPartitions(it => it.map(codec.decode))
  }

  /** Frame sampling: one input row → n output rows (flatMap batch shape). */
  def frameSample(media: Dataset[MediaRow], everyNBytes: Int = 256,
      codec: MediaCodec = FakeCodec): Dataset[MediaFrame] = {
    implicit val enc = Encoders.product[MediaFrame]
    media.mapPartitions(it => it.flatMap(m => codec.frames(m, everyNBytes)))
  }

  /** Feature extraction: binary → fixed-dim float vector, embedding-shaped
    * so downstream similarity/ANN operators (Similarity.*) apply unchanged.
    */
  def extractFeatures(media: Dataset[MediaRow], dim: Int = 8,
      codec: MediaCodec = FakeCodec): Dataset[MediaFeature] = {
    implicit val enc = Encoders.product[MediaFeature]
    media.mapPartitions(it => it.map(m =>
      MediaFeature(m.media_id, m.kind, codec.feature(m, dim))))
  }

  /** Metadata-level resize plan: new dims + scale factors, computed
    * relationally (no payload touch — a real resize would be another
    * mapPartitions pass over payloads with the same output schema).
    */
  def resizePlan(meta: Dataset[MediaMeta], targetW: Long, targetH: Long): DataFrame =
    meta.toDF()
      .filter(col("width") > 0)
      .select(col("media_id"), col("kind"), col("width"), col("height"),
        lit(targetW).as("new_width"), lit(targetH).as("new_height"),
        round(lit(targetW) / col("width"), 4).as("scale_x"),
        round(lit(targetH) / col("height"), 4).as("scale_y"))
}
