package graft.ops

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media as opaque `binary` payloads with typed
  * metadata, decoded/feature-extracted in partition-sized batches.
  *
  * REAL decode paths (no external dependency — the JDK itself ships the
  * codecs): [[decodeImages]] uses `javax.imageio` (PNG/BMP/GIF/JPEG readers
  * are part of every JDK) and [[decodeWav]] uses `javax.sound.sampled`
  * (WAV/AIFF/AU). Both run one codec context per PARTITION (`mapPartitions`,
  * `ImageIO.setUseCache(false)` so no temp-file churn per record) — the
  * batching shape a real crawl pipeline needs at scale.
  *
  * [[decodeStub]] remains for modalities the JDK has no codec for (video
  * frames, proprietary containers): it derives deterministic pseudo-features
  * from the bytes so the surrounding plumbing stays testable; swapping a
  * real external decoder in means replacing only its body.
  */
object Multimodal {

  /** One media record: opaque payload + source metadata. */
  final case class MediaRecord(
      media_id: Long,
      modality: String,
      payload: Array[Byte],
      source: String)

  /** Decoded features (what a real image/audio decoder would emit). */
  final case class MediaFeatures(
      media_id: Long,
      modality: String,
      byte_len: Long,
      sha_prefix: String,
      width: Int,
      height: Int,
      mean_channel: Double)

  /** Real image decode output: exact integer channel sums (order-free —
    * the pixel loop is deterministic, so sums are bit-exact on any
    * partitioning), dims, plus `decoded=false` rows for payloads no
    * installed reader understands.
    */
  final case class ImageFeatures(
      media_id: Long,
      decoded: Boolean,
      width: Option[Int],
      height: Option[Int],
      n_pixels: Option[Long],
      sum_r: Option[Long],
      sum_g: Option[Long],
      sum_b: Option[Long],
      px_fp: Option[Long])

  /** FNV-1a 64 over the row-major (r, g, b) byte stream — the VISUAL
    * fingerprint: equal pixels → equal fp regardless of container bytes
    * (PNG vs BMP vs encoder settings), which is what image dedup needs
    * (byte-level md5 misses re-encodes). Plain integer math, closed-form
    * stateable by oracles.
    */
  private[ops] def fnv1a(hash: Long, byte: Int): Long =
    (hash ^ (byte & 0xFF)) * 0x100000001b3L

  /** Real audio decode output: sample count, exact sum, and peak over the
    * decoded PCM stream (integer math — bit-exact).
    */
  final case class WavFeatures(
      media_id: Long,
      decoded: Boolean,
      channels: Option[Int],
      sample_rate: Option[Long],
      bits_per_sample: Option[Int],
      n_samples: Option[Long],
      sum_val: Option[Long],
      peak_abs: Option[Long])

  /** REAL image decode via the JDK's own `javax.imageio` (PNG/BMP/GIF/JPEG
    * readers ship with every JRE — no external dependency). One reader
    * context per partition; `ImageIO.setUseCache(false)` keeps the decode
    * purely in-memory (the default spools every ImageInputStream to a temp
    * file — a syscall storm at corpus scale). Pixels are folded into exact
    * integer per-channel sums, so downstream stats are engine- and
    * partitioning-exact. Unreadable payloads (no registered reader, corrupt
    * stream) yield `decoded=false` rows rather than killing the job — one
    * bad blob in a 100 TB crawl must quarantine, not abort.
    */
  def decodeImages(media: Dataset[MediaRecord]): Dataset[ImageFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false) // per-JVM, idempotent
      it.map { m =>
        val img =
          try javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(m.payload))
          catch { case _: Exception => null } // corrupt stream → quarantine
        if (img == null) // null also = no registered reader for the format
          ImageFeatures(m.media_id, decoded = false,
            None, None, None, None, None, None, None)
        else {
          val w = img.getWidth; val h = img.getHeight
          var sr = 0L; var sg = 0L; var sb = 0L
          var fp = 0xcbf29ce484222325L // FNV-1a offset basis
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val p = img.getRGB(x, y) // sRGB regardless of storage layout
              val r = (p >> 16) & 0xFF; val g = (p >> 8) & 0xFF
              val b = p & 0xFF
              sr += r; sg += g; sb += b
              fp = fnv1a(fnv1a(fnv1a(fp, r), g), b)
              x += 1
            }
            y += 1
          }
          ImageFeatures(m.media_id, decoded = true, Some(w), Some(h),
            Some(w.toLong * h), Some(sr), Some(sg), Some(sb), Some(fp))
        }
      }
    }
  }

  /** Per-thread audio codec context — the WAV seam's scale fix.
    *
    * `AudioSystem.getAudioInputStream` re-walks the `AudioFileReader` SPI
    * registry on EVERY call (OpenJDK's `JDK13Services.getProviders` runs a
    * fresh `ServiceLoader` iteration each time), and `readAllBytes()`
    * allocates ~3 transient copies of the PCM payload per record. Both
    * costs are invisible on a 64-doc fixture and dominated the sf1 sweep:
    * the four audio gates measured 16–23× wall at 10× data (BENCH_sf1,
    * round 13) purely from registry scans + allocation/GC pressure. This
    * context resolves the provider list ONCE per task thread and drains
    * PCM into one reused, grow-only buffer, making the per-record cost
    * flat: header parse + one pass over the samples.
    *
    * Semantics are identical to `AudioSystem.getAudioInputStream`:
    * providers are tried in registration order, the first that accepts
    * the stream wins, none → quarantine (callers map `null` to
    * `decoded=false`, the same observable outcome as the
    * `UnsupportedAudioFileException` they previously caught).
    *
    * Thread-confined by construction: one Spark task runs on one thread,
    * so the ThreadLocal gives every partition its own buffer with zero
    * coordination. The scratch buffer never escapes a record — every
    * emitted row copies primitives (or a fresh array) out of it.
    */
  private[graft] final class AudioCodecContext {
    private val readers: Array[javax.sound.sampled.spi.AudioFileReader] = {
      val it = java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
      val b = Array.newBuilder[javax.sound.sampled.spi.AudioFileReader]
      while (it.hasNext) b += it.next()
      b.result()
    }
    /** The unknown-magic fast-fail in [[open]] assumes the resolved
      * provider set is exactly the JDK's bundled readers (WAV/AIFF/AU/
      * MIDI, all under `com.sun.media.sound`), which only accept streams
      * whose magic they recognize. A deployment that adds a third-party
      * `AudioFileReader` SPI (MP3, Vorbis, …) may accept payloads with
      * other magics, so there the fast-fail must be skipped to keep the
      * documented `AudioSystem.getAudioInputStream` parity. */
    private val jdkReadersOnly: Boolean =
      readers.forall(_.getClass.getName.startsWith("com.sun.media.sound."))
    private var buf: Array[Byte] = new Array[Byte](1 << 16)

    private def le16(b: Array[Byte], o: Int): Int =
      (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)
    private def le32(b: Array[Byte], o: Int): Long =
      (b(o) & 0xFFL) | ((b(o + 1) & 0xFFL) << 8) |
        ((b(o + 2) & 0xFFL) << 16) | ((b(o + 3) & 0xFFL) << 24)
    private def tag(b: Array[Byte], o: Int, t: String): Boolean =
      b(o) == t.charAt(0) && b(o + 1) == t.charAt(1) &&
        b(o + 2) == t.charAt(2) && b(o + 3) == t.charAt(3)

    /** First provider that accepts the payload, or null (quarantine).
      *
      * Canonical PCM WAV — `RIFF…WAVE` with a 16-byte `fmt ` chunk at
      * offset 12 (format tag 1 = PCM) and `data` at 36, the layout every
      * mainstream encoder emits and [[makeWav]] assembles — is parsed
      * inline: the provider path costs ~40 µs per record EVEN warm
      * (providers registered ahead of `WaveFileReader` refuse by throwing
      * filled-in `UnsupportedAudioFileException`s; the reader re-wraps
      * streams per call), which at sf1 volumes was the bulk of the audio
      * gates' 16–23× wall blowup. The inline parse is a few bounds checks
      * and one `AudioFormat` allocation — flat nanoseconds per record.
      *
      * Anything non-canonical falls through: payloads carrying a known
      * audio container magic (`RIFF`, `FORM` = AIFF, `.snd` = AU, `MThd`
      * = MIDI) take the full provider scan exactly as before; payloads
      * with none of the magics — the quarantine rows — return null
      * directly, because no JDK reader accepts a stream whose magic it
      * doesn't recognize, and throwing 4+ exceptions per junk record to
      * learn that is pure overhead.
      */
    def open(payload: Array[Byte]): javax.sound.sampled.AudioInputStream = {
      // retention cap: the scratch buffer grows to the largest payload a
      // thread ever decodes and ThreadLocals on executor task threads
      // live for the JVM — one 200 MB outlier would otherwise pin a
      // 256 MB buffer per thread for every later query. The previous
      // record's bytes are dead once the next open() begins, so shrink
      // back here; only outlier records pay a re-allocation.
      if (buf.length > AudioCodecContext.RetainCap)
        buf = new Array[Byte](AudioCodecContext.RetainCap)
      if (payload.length >= 4) {
        // canonical PCM WAV fast path
        if (payload.length >= 44 && tag(payload, 0, "RIFF") &&
            tag(payload, 8, "WAVE") && tag(payload, 12, "fmt ") &&
            le32(payload, 16) == 16L && le16(payload, 20) == 1 &&
            tag(payload, 36, "data")) {
          val channels = le16(payload, 22)
          val rate = le32(payload, 24)
          val bits = le16(payload, 34)
          val dataLen = math.min(le32(payload, 40),
            (payload.length - 44).toLong).toInt
          // block-align (offset 32) must agree with channels*(bits/8):
          // WaveFileReader derives the frame size from the header's
          // block-align, so an inconsistent header must take the provider
          // path or frame counts would diverge from AudioSystem's
          if (channels >= 1 && bits % 8 == 0 && bits > 0 && rate > 0 &&
              le16(payload, 32) == channels * (bits / 8)) {
            val frameSize = channels * (bits / 8)
            val fmt = new javax.sound.sampled.AudioFormat(
              rate.toFloat, bits, channels, /*signed=*/ bits > 8,
              /*bigEndian=*/ false)
            return new javax.sound.sampled.AudioInputStream(
              new java.io.ByteArrayInputStream(payload, 44, dataLen),
              fmt, dataLen.toLong / frameSize)
          }
        }
        // no recognized container magic → no JDK reader will accept it;
        // only valid when the provider list IS just the JDK readers
        // (a third-party SPI may accept other magics)
        val known = tag(payload, 0, "RIFF") || tag(payload, 0, "FORM") ||
          tag(payload, 0, ".snd") || tag(payload, 0, "MThd")
        if (!known && jdkReadersOnly) return null
      }
      val s = new java.io.ByteArrayInputStream(payload)
      var i = 0
      while (i < readers.length) {
        try return readers(i).getAudioInputStream(s)
        catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException =>
            // SPI contract: a refusing reader resets the stream; reset
            // again ourselves so a non-conforming provider can't skew the
            // next one's read point
            s.reset(); i += 1
        }
      }
      null
    }

    /** The canonical training-audio layout (see [[decodeWav]]). */
    def isPcm16le(f: javax.sound.sampled.AudioFormat): Boolean =
      f.getSampleSizeInBits == 16 && !f.isBigEndian &&
        f.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED

    /** Drains `in` into the reused buffer; returns the PCM byte length.
      * The buffer (via [[bytes]]) is valid only until the next call on
      * this thread.
      *
      * Growth triggers whenever less than one FRAME of space remains,
      * not only when the buffer is exactly full: `AudioInputStream.read`
      * returns 0 — not −1 — when the requested length is a partial
      * frame, so a frame size that doesn't divide the 2^k capacities
      * (3- or 6-channel PCM) would otherwise leave a sliver the stream
      * refuses to fill and the loop would spin forever. A 0-return is
      * additionally treated as "grow and retry" so a non-conforming
      * stream can never stall the task.
      */
    def readFully(in: javax.sound.sampled.AudioInputStream): Int = {
      val frame = math.max(in.getFormat.getFrameSize, 1)
      var off = 0
      var done = false
      while (!done) {
        if (buf.length - off < frame) grow()
        val n = in.read(buf, off, buf.length - off)
        if (n > 0) off += n
        else if (n == 0) grow() // defensive: force room for a whole frame
        else done = true
      }
      off
    }

    /** Doubles the scratch buffer, clamped to the JVM array-size limit —
      * `buf.length << 1` alone overflows negative past 1 GiB, which would
      * throw `NegativeArraySizeException` and misclassify a huge-but-valid
      * PCM payload as `decoded=false`. At the clamp, a stream still asking
      * for more space cannot be drained at all: fail loudly (callers map
      * the exception to the quarantine row) instead of spinning forever on
      * the pathological 0-return branch. */
    private def grow(): Unit = {
      val newLen = math.min(Integer.MAX_VALUE - 8L, buf.length * 2L).toInt
      if (newLen <= buf.length)
        throw new java.io.IOException(
          "PCM payload exceeds the maximum JVM array size")
      buf = java.util.Arrays.copyOf(buf, newLen)
    }

    /** The reused PCM scratch buffer — read-only, bounded by the length
      * the latest [[readFully]] returned. */
    def bytes: Array[Byte] = buf
  }

  private[graft] object AudioCodecContext {
    /** Largest scratch buffer a thread keeps BETWEEN records (4 MiB —
      * minutes of PCM); bigger payloads grow transiently and shrink at
      * the next [[AudioCodecContext.open]]. */
    private[graft] val RetainCap: Int = 1 << 22
    private val tl = new ThreadLocal[AudioCodecContext] {
      override def initialValue(): AudioCodecContext = new AudioCodecContext
    }
    def get(): AudioCodecContext = tl.get()
  }

  /** REAL audio decode via the JDK's `javax.sound.sampled` (WAV/AIFF/AU).
    * Streams the PCM payload once, folding samples into exact integer
    * (count, sum, peak) — 16-bit little-endian signed PCM is decoded
    * explicitly (the canonical WAV data layout; other depths/encodings
    * report header facts with `n_samples=None`). Same quarantine contract
    * as [[decodeImages]]: unparseable payloads → `decoded=false`. Provider
    * resolution and the PCM buffer are per-thread via
    * [[AudioCodecContext]], so per-record cost stays flat with volume.
    */
  def decodeWav(media: Dataset[MediaRecord]): Dataset[WavFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      val ctx = AudioCodecContext.get()
      it.map { m =>
        try {
          val in = ctx.open(m.payload)
          if (in == null)
            WavFeatures(m.media_id, decoded = false,
              None, None, None, None, None, None)
          else try {
            val f = in.getFormat
            if (!ctx.isPcm16le(f))
              WavFeatures(m.media_id, decoded = true, Some(f.getChannels),
                Some(f.getSampleRate.toLong), Some(f.getSampleSizeInBits),
                None, None, None)
            else {
              val len = ctx.readFully(in)
              val bytes = ctx.bytes
              var i = 0; var n = 0L; var sum = 0L; var peak = 0L
              while (i + 1 < len) {
                // little-endian signed 16-bit: low byte unsigned, high signed
                val s = ((bytes(i) & 0xFF) | (bytes(i + 1) << 8)).toShort.toLong
                n += 1; sum += s
                val a = math.abs(s); if (a > peak) peak = a
                i += 2
              }
              WavFeatures(m.media_id, decoded = true, Some(f.getChannels),
                Some(f.getSampleRate.toLong), Some(16), Some(n), Some(sum),
                Some(peak))
            }
          } finally in.close()
        } catch {
          case _: Exception =>
            WavFeatures(m.media_id, decoded = false,
              None, None, None, None, None, None)
        }
      }
    }
  }

  /** Real image RESIZE on the decode path: decode ([[decodeImages]]'
    * codec), then nearest-neighbor downsample to (tw, th) — target pixel
    * (x, y) reads source pixel (x·w div tw, y·h div th), integer math, so
    * the resized channel sums are exactly stateable by an oracle that
    * knows the source pixels (bilinear/area filters are float-kernel and
    * codec-version dependent; NN is the deterministic choice when the
    * consumer is a training pipeline that needs reproducible shards).
    * Emits decoded=false rows for unreadable payloads like the decoder.
    */
  final case class ResizedFeatures(
      media_id: Long,
      decoded: Boolean,
      width: Option[Int],
      height: Option[Int],
      sum_r: Option[Long],
      sum_g: Option[Long],
      sum_b: Option[Long])

  def resizeImages(media: Dataset[MediaRecord], tw: Int,
      th: Int): Dataset[ResizedFeatures] = {
    require(tw >= 1 && th >= 1, "target dims must be positive")
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { m =>
        val img =
          try javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(m.payload))
          catch { case _: Exception => null }
        if (img == null)
          ResizedFeatures(m.media_id, decoded = false,
            None, None, None, None, None)
        else {
          val w = img.getWidth; val h = img.getHeight
          var sr = 0L; var sg = 0L; var sb = 0L
          var y = 0
          while (y < th) {
            val sy = y * h / th
            var x = 0
            while (x < tw) {
              val p = img.getRGB(x * w / tw, sy)
              sr += (p >> 16) & 0xFF; sg += (p >> 8) & 0xFF; sb += p & 0xFF
              x += 1
            }
            y += 1
          }
          ResizedFeatures(m.media_id, decoded = true, Some(tw), Some(th),
            Some(sr), Some(sg), Some(sb))
        }
      }
    }
  }

  /** Perceptual image hash output: 64-bit aHash (8×8 average-pool
    * threshold) + 64-bit dHash (wrap-adjacent cell gradient). Both are
    * EXACT integer math — no float resize kernel — so a pixel-identical
    * re-encode (PNG↔BMP) AND an exact nearest-neighbor upscale hash
    * identically, which is the near-dup class the raw pixel fingerprint
    * [[ImageFeatures.px_fp]] cannot see.
    */
  final case class PHashFeatures(
      media_id: Long,
      decoded: Boolean,
      width: Option[Int],
      height: Option[Int],
      ahash: Option[Long],
      dhash: Option[Long])

  /** aHash/dHash over an 8×8 integer average-pool of luma = r+g+b.
    *
    * Cell (cx, cy) covers pixels [cx·w/8, (cx+1)·w/8) × [cy·h/8,
    * (cy+1)·h/8) (floor boundaries; images narrower than 8 px yield empty
    * cells whose bit is deterministically 0). Threshold comparisons are
    * integer CROSS-MULTIPLICATIONS, never divisions:
    *   aHash bit(cy,cx) = cellSum·(w·h)  >  totalSum·cellArea
    *   dHash bit(cy,cx) = cellSum·nextArea > nextSum·cellArea  (x-wrap)
    * so the bits are exact and identical for any image whose cell averages
    * match — in particular an integer-factor nearest-neighbor upscale.
    * Products stay below 2⁶³ for images up to ~10⁸ pixels (765·(w·h)²);
    * guarded per image, oversize payloads quarantine like corrupt ones.
    *
    * Scale shape: one pass per pixel inside `mapPartitions` (the decode
    * seam — same contract as [[decodeImages]]), emitting 2 longs per
    * image; the downstream near-dup join works on the hashes alone.
    */
  /** Decode one payload and pool it into (width, height, aHash, dHash) —
    * the executor-side core of [[perceptualHash]]. None = quarantine
    * (unreadable, no registered codec, or past the product-overflow
    * pixel envelope).
    */
  private[graft] def hashImage(
      payload: Array[Byte]): Option[(Int, Int, Long, Long)] = {
    javax.imageio.ImageIO.setUseCache(false) // per-JVM, idempotent
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case _: Exception => null }
    if (img == null || img.getWidth.toLong * img.getHeight > 100000000L) None
    else {
      val w = img.getWidth; val h = img.getHeight
      val cellSum = Array.ofDim[Long](8, 8)
      val cellArea = Array.ofDim[Long](8, 8)
      var total = 0L
      var y = 0
      while (y < h) {
        val cy = y * 8 / h
        var x = 0
        while (x < w) {
          val p = img.getRGB(x, y)
          val luma =
            (((p >> 16) & 0xFF) + ((p >> 8) & 0xFF) + (p & 0xFF)).toLong
          // y*8/h maps pixel y to its cell ⇔ cell cy spans
          // [cy*h/8, (cy+1)*h/8) — the floor-boundary partition
          cellSum(cy)(x * 8 / w) += luma
          cellArea(cy)(x * 8 / w) += 1L
          total += luma
          x += 1
        }
        y += 1
      }
      val n = w.toLong * h
      var a = 0L; var d = 0L
      var cy = 0
      while (cy < 8) {
        var cx = 0
        while (cx < 8) {
          val s = cellSum(cy)(cx); val ar = cellArea(cy)(cx)
          a = (a << 1) | (if (s * n > total * ar) 1L else 0L)
          val nx = (cx + 1) % 8
          val s2 = cellSum(cy)(nx); val ar2 = cellArea(cy)(nx)
          d = (d << 1) | (if (s * ar2 > s2 * ar) 1L else 0L)
          cx += 1
        }
        cy += 1
      }
      Some((w, h, a, d))
    }
  }

  def perceptualHash(media: Dataset[MediaRecord]): Dataset[PHashFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        hashImage(m.payload) match {
          case None => PHashFeatures(m.media_id, decoded = false,
            None, None, None, None)
          case Some((w, h, a, d)) => PHashFeatures(m.media_id,
            decoded = true, Some(w), Some(h), Some(a), Some(d))
        }
      }
    }
  }

  /** Perceptual near-dup pairs: hamming(ahash) <= maxDist via the 4×16-bit
    * band join ([[Dedup.simhashPairs]]'s pigeonhole: <= 3 differing bits
    * leave one band untouched, so the banded candidate set provably equals
    * all-pairs). Emits (media_a, media_b, hamming, dhash_match) — the
    * dHash agreement is the cheap second opinion that screens out
    * brightness-threshold flips. No image pair ever meets a reducer except
    * through a shared 16-bit band bucket.
    *
    * `bucketCap` is the banded joins' standard heavy-hitter guard (the
    * MinHash `capBuckets` discipline): a viral image repeated millions of
    * times would otherwise put O(df²) candidate pairs through one bucket —
    * buckets above the cap are dropped whole (their images are by
    * definition heavily duplicated; route them to exact px_fp dedup
    * instead, which is linear).
    */
  def perceptualPairs(ph: DataFrame, maxDist: Int,
      bucketCap: Int = graft.ops.Dedup.DefaultCap): DataFrame = {
    require(maxDist <= 3,
      "4x16-bit banding guarantees recall only for maxDist <= 3 (pigeonhole)")
    val sig = ph.where(col("decoded"))
      .select(col("media_id"), col("ahash"), col("dhash"))
    val bands = (0 until 4).map(t =>
      pmod(shiftright(col("ahash"), t * 16), lit(65536L)).as(s"band$t"))
    val banded0 = sig.select(Seq(col("media_id"), col("ahash"), col("dhash"),
      posexplode(array(bands: _*)).as(Seq("band", "chunk"))): _*)
    // r17 (guide §2.4): the pair dedup and the bucket cap both restructure.
    //  - Hot-set flags instead of a keep-set semi join (the Dedup
    //    capBuckets discipline): the over-cap bucket set is bounded by
    //    rows/cap distinct values by construction, so it broadcasts and
    //    the banded rows never shuffle on the cap key. Each row picks up
    //    a hot flag for EVERY band position (all four chunk values
    //    derive from its own ahash) via four pipelined broadcast left
    //    joins; a row whose OWN band is hot is dropped — exactly the
    //    former "drop over-cap buckets whole".
    //  - First-matching-band dedup instead of dropDuplicates: a pair
    //    sharing several bands used to emit one row per shared band and
    //    pay a shuffle of the full candidate volume to dedup. "No
    //    earlier band ALSO matches among surviving buckets" is a free
    //    join predicate (chunks from ahash, hotness from the carried
    //    flags — an earlier shared-but-capped band emitted no rows, so
    //    it must not suppress the pair), and each pair survives exactly
    //    once, at its lowest surviving shared band, with identical
    //    values (hamming/dhash_match are functionally dependent).
    //  - The self-join's build (b) side reads the unflagged banded0, not
    //    banded. Same rows that can match: the join pins a.band = b.band
    //    and a.chunk = b.chunk, every surviving a row sits in a bucket
    //    that is not hot, and hotness depends only on (band, chunk), so
    //    every matching b row is in a surviving bucket too; firstMatch
    //    reads only a's flags and both ahash values. Why it matters:
    //    size-only statistics estimate an outer join as the product of
    //    its children's sizes, so the four flag joins put banded at
    //    about input^5; with banded on both sides the planner broadcasts
    //    neither, and a SortMergeJoin shuffles both sides and runs the
    //    flag joins twice.
    def chunkOf(c: org.apache.spark.sql.Column, t: Int) =
      pmod(shiftright(c, t * 16), lit(65536L))
    val banded =
      if (bucketCap == graft.ops.Dedup.Uncapped)
        banded0.select(col("*") +:
          (0 until 4).map(t => lit(false).as(s"hot$t")): _*)
      else {
        val hot = banded0.groupBy("band", "chunk")
          .agg(count(lit(1)).as("c"))
          .where(col("c") > bucketCap)
        val flagged = (0 until 4).foldLeft(banded0) { (d, t) =>
          d.join(broadcast(hot.where(col("band") === t)
              .select(col("chunk").as(s"__c$t"), lit(true).as(s"__h$t"))),
            chunkOf(d("ahash"), t) === col(s"__c$t"), "left")
            .drop(s"__c$t")
        }
        flagged.select(Seq(col("media_id"), col("ahash"), col("dhash"),
          col("band"), col("chunk")) ++
          (0 until 4).map(t =>
            coalesce(col(s"__h$t"), lit(false)).as(s"hot$t")): _*)
          .where(!(0 until 4).map(t =>
            col("band") === t && col(s"hot$t")).reduce(_ || _))
      }
    val firstMatch = (0 until 4).map(t =>
      col("a.band") <= t || col(s"a.hot$t") ||
        chunkOf(col("a.ahash"), t) =!= chunkOf(col("b.ahash"), t))
      .reduce(_ && _)
    banded.as("a").join(banded0.as("b"),
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col("a.media_id") < col("b.media_id") && firstMatch)
      .select(col("a.media_id").as("media_a"), col("b.media_id").as("media_b"),
        bit_count(col("a.ahash").bitwiseXOR(col("b.ahash")))
          .cast("int").as("hamming"),
        (col("a.dhash") === col("b.dhash")).as("dhash_match"))
      .where(col("hamming") <= maxDist)
  }

  /** MMC4-style image→text interleaving assignment — the multimodal
    * document-assembly op: given per-doc image signatures and per-doc
    * sentence signatures, place every image at its best-matching sentence
    * (greedy per-image argmin, the scalable form of MMC4's bipartite
    * matching). Similarity here is Hamming distance between 64-bit
    * signatures — in production the signatures are CLIP-style embedding
    * sketches; the op's contract is the ASSIGNMENT shape, and any
    * bit-signature column (perceptual hash, sign-LSH of an embedding)
    * plugs in unchanged.
    *
    * Ties break to the SMALLER sentence index (images gravitate toward
    * first mention — the MMC4 default), so the layout is a pure function
    * of the inputs. Docs with images but no sentences drop (nothing to
    * anchor to); `n_sentences` carries the per-doc anchor count.
    *
    * Scale shape: ONE doc-keyed equi-join whose fan-out is images ×
    * sentences WITHIN a doc (both per-doc bounded — a layout never holds
    * unbounded images), then a map-side-combinable argmin aggregate per
    * image. No window, nothing cross-doc, never quadratic in the corpus.
    */
  def interleaveAssign(images: DataFrame, docCol: String, imgCol: String,
      sigCol: String, sents: DataFrame, sentIdxCol: String,
      sentSigCol: String): DataFrame =
    images.join(sents, Seq(docCol))
      .groupBy(docCol, imgCol)
      .agg(
        min(col(sigCol)).as(sigCol), // constant per image; min for determinism
        min(struct(
          bit_count(col(sigCol).bitwiseXOR(col(sentSigCol)))
            .cast("long").as("ham"),
          col(sentIdxCol).cast("long").as("idx"))).as("best"),
        count(lit(1)).as("n_sentences"))
      .select(col(docCol), col(imgCol), col(sigCol),
        col("best.idx").as("best_sent_idx"),
        col("best.ham").as("best_hamming"),
        col("n_sentences"))

  /** Real audio RESAMPLE on the decode path: decode 16-bit LE PCM
    * ([[decodeWav]]'s codec), then nearest-neighbor pick `n` samples —
    * output sample i reads source sample (i·len div n), integer math, so
    * the resampled stats are closed-form stateable (sinc/linear kernels
    * are float and implementation-dependent; NN is the reproducible
    * choice for fingerprinting/sharding). Emits (media_id, decoded,
    * n_out, sum_val, peak_abs); undecodable or non-PCM16 payloads →
    * decoded=false/None like the decoder.
    */
  final case class ResampledAudio(
      media_id: Long,
      decoded: Boolean,
      n_out: Option[Long],
      sum_val: Option[Long],
      peak_abs: Option[Long])

  def resampleWav(media: Dataset[MediaRecord], n: Int): Dataset[ResampledAudio] = {
    require(n >= 1, "target sample count must be positive")
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      val ctx = AudioCodecContext.get()
      it.map { m =>
        try {
          val in = ctx.open(m.payload)
          if (in == null)
            ResampledAudio(m.media_id, decoded = false, None, None, None)
          else try {
            if (!ctx.isPcm16le(in.getFormat))
              ResampledAudio(m.media_id, decoded = false, None, None, None)
            else {
              val len = ctx.readFully(in) / 2
              val bytes = ctx.bytes // AFTER readFully — growth reallocates
              if (len == 0) ResampledAudio(m.media_id, decoded = true,
                Some(0L), Some(0L), Some(0L))
              else {
                var i = 0; var sum = 0L; var peak = 0L
                while (i < n) {
                  val s0 = (i.toLong * len / n).toInt * 2
                  val s = ((bytes(s0) & 0xFF) | (bytes(s0 + 1) << 8))
                    .toShort.toLong
                  sum += s
                  val a = math.abs(s); if (a > peak) peak = a
                  i += 1
                }
                ResampledAudio(m.media_id, decoded = true, Some(n.toLong),
                  Some(sum), Some(peak))
              }
            }
          } finally in.close()
        } catch {
          case _: Exception =>
            ResampledAudio(m.media_id, decoded = false, None, None, None)
        }
      }
    }
  }

  /** One row per fixed-size sample window of a decoded stream: exact
    * integer energy (Σ s²), peak, and a silence flag. */
  final case class AudioFrame(
      media_id: Long,
      win_idx: Int,
      n: Long,
      energy: Long,
      peak_abs: Long,
      silent: Boolean)

  final case class WavQualityCounts(
      media_id: Long,
      decoded: Boolean,
      n: Option[Long],
      n_silence: Option[Long],
      n_clip: Option[Long],
      energy: Option[Long],
      peak_abs: Option[Long])

  /** Audio quality verdict over 16-bit LE PCM — the audio analog of the
    * text quality batteries: a clip that is mostly silence wastes
    * transcription/training budget, a clipped recording poisons any
    * loudness-normalized pipeline. Per file, exact integer counts —
    * samples, near-silent samples (|s| ≤ `silenceThresh`), clipped
    * samples (|s| ≥ `clipThresh`), sum-of-squares energy, peak — then
    * integer-ppm ratios and the verdict: `too_silent` (majority silent,
    * 2·n_silence ≥ n), `clipped` (≥ 1%, 100·n_clip ≥ n), `audio_ok` =
    * decoded ∧ ¬too_silent ∧ ¬clipped (false, never null, for
    * undecodable payloads — they fail quality by definition).
    *
    * Scale shape: one typed mapPartitions at the codec seam (the
    * [[decodeWav]] discipline), then in-row Column algebra for the
    * ratios/verdicts — no shuffle anywhere, linear in corpus bytes.
    */
  def wavQuality(media: Dataset[MediaRecord], silenceThresh: Int = 100,
      clipThresh: Int = 32000): DataFrame = {
    require(silenceThresh >= 0 && clipThresh > silenceThresh,
      "need 0 <= silenceThresh < clipThresh")
    import media.sparkSession.implicits._
    val counts = media.mapPartitions { it =>
      val ctx = AudioCodecContext.get()
      it.map { m =>
        try {
          val in = ctx.open(m.payload)
          if (in == null)
            WavQualityCounts(m.media_id, decoded = false,
              None, None, None, None, None)
          else try {
            if (!ctx.isPcm16le(in.getFormat))
              WavQualityCounts(m.media_id, decoded = false,
                None, None, None, None, None)
            else {
              val len = ctx.readFully(in)
              val bytes = ctx.bytes // AFTER readFully — growth reallocates
              var i = 0; var n = 0L; var sil = 0L; var clip = 0L
              var energy = 0L; var peak = 0L
              while (i + 1 < len) {
                val s = ((bytes(i) & 0xFF) | (bytes(i + 1) << 8))
                  .toShort.toLong
                val a = math.abs(s)
                n += 1; energy += s * s
                if (a <= silenceThresh) sil += 1
                if (a >= clipThresh) clip += 1
                if (a > peak) peak = a
                i += 2
              }
              WavQualityCounts(m.media_id, decoded = true, Some(n),
                Some(sil), Some(clip), Some(energy), Some(peak))
            }
          } finally in.close()
        } catch {
          case _: Exception =>
            WavQualityCounts(m.media_id, decoded = false,
              None, None, None, None, None)
        }
      }
    }
    counts.toDF()
      .withColumn("silence_ppm",
        expr("CASE WHEN n > 0 THEN n_silence * 1000000 div n " +
          "WHEN n = 0 THEN 0 END"))
      .withColumn("clip_ppm",
        expr("CASE WHEN n > 0 THEN n_clip * 1000000 div n " +
          "WHEN n = 0 THEN 0 END"))
      .withColumn("too_silent", expr("n_silence * 2 >= n"))
      .withColumn("clipped", expr("n_clip * 100 >= n"))
      .withColumn("audio_ok", coalesce(
        col("decoded") && !col("too_silent") && !col("clipped"), lit(false)))
  }

  /** Per-window energy profile of 16-bit LE PCM audio — the VAD /
    * silence-trim primitive of audio curation (silent or near-silent
    * windows are dropped or split on before training). Sum-of-squares
    * energy is an exact integer fold (peak 32767² · winSamples stays far
    * under Long range for any practical window), so the profile is
    * bit-reproducible under any partitioning — the same discipline as
    * [[decodeWav]]'s stats. The trailing partial window is emitted with
    * its true `n` (callers can filter `n < winSamples` if they want only
    * full windows); undecodable or non-PCM16 payloads yield no rows
    * (quarantine them upstream via [[decodeWav]]'s decoded=false).
    *
    * Scale shape: typed mapPartitions at the codec seam (same seam as
    * the decoders — one codec context per partition); output is a linear
    * explode bounded by samples/winSamples, no shuffle introduced here.
    */
  def wavEnergyWindows(media: Dataset[MediaRecord],
      winSamples: Int): Dataset[AudioFrame] = {
    require(winSamples >= 1, "window must be at least one sample")
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      val ctx = AudioCodecContext.get()
      it.flatMap { m =>
        try {
          val in = ctx.open(m.payload)
          if (in == null) Seq.empty[AudioFrame]
          else try {
            if (!ctx.isPcm16le(in.getFormat)) Seq.empty[AudioFrame]
            else {
              // eager Range.map below: every AudioFrame copies primitives
              // out of the scratch buffer before the next record reuses it
              val len = ctx.readFully(in) / 2
              val bytes = ctx.bytes // AFTER readFully — growth reallocates
              (0 until (len + winSamples - 1) / winSamples).map { w =>
                var i = w * winSamples
                val end = math.min(len, i + winSamples)
                var n = 0L; var energy = 0L; var peak = 0L
                while (i < end) {
                  val s = ((bytes(2 * i) & 0xFF) | (bytes(2 * i + 1) << 8))
                    .toShort.toLong
                  n += 1; energy += s * s
                  val a = math.abs(s); if (a > peak) peak = a
                  i += 1
                }
                AudioFrame(m.media_id, w, n, energy, peak, energy == 0L)
              }
            }
          } finally in.close()
        } catch {
          case _: Exception => Seq.empty[AudioFrame]
        }
      }
    }
  }

  /** Driver-side PNG assembly for tests/oracles: encode a known pixel grid
    * with the SAME JDK codec [[decodeImages]] reads with — PNG is lossless,
    * so decode∘encode is the identity and an oracle can state the expected
    * dims/channel sums in closed form from the generator.
    */
  def makePng(w: Int, h: Int, pixel: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, pixel(x, y) & 0xFFFFFF); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** [[makePng]]'s BMP counterpart — a SECOND lossless container for the
    * same pixel grid, so cross-format visual dedup is testable: different
    * payload bytes, identical `px_fp` after decode.
    */
  def makeBmp(w: Int, h: Int, pixel: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, pixel(x, y) & 0xFFFFFF); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", bos)
    bos.toByteArray
  }

  /** Driver-side canonical WAV assembly (mono 16-bit LE PCM) for
    * tests/oracles — the audio counterpart of [[makePng]]: PCM is
    * lossless, so decode∘assemble is the identity.
    */
  def makeWav(rate: Int, samples: Seq[Int]): Array[Byte] = {
    def le16(v: Int) =
      Array[Byte]((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    def le32(v: Int) = Array[Byte]((v & 0xFF).toByte,
      ((v >> 8) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
      ((v >> 24) & 0xFF).toByte)
    val data = samples.flatMap(s => le16(s & 0xFFFF)).toArray
    "RIFF".getBytes ++ le32(36 + data.length) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(1) ++ le32(rate) ++
      le32(rate * 2) ++ le16(2) ++ le16(16) ++
      "data".getBytes ++ le32(data.length) ++ data
  }

  /** Wrap a text table as pretend media: payload = utf-8 bytes. */
  def asMedia(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String): DataFrame =
    docs.select(col(idCol).as("media_id"), lit("image").as("modality"),
      encode(col(textCol), "UTF-8").as("payload"), col(sourceCol).as("source"))

  final case class WavSampleArr(
      media_id: Long, decoded: Boolean, samples: Seq[Long])

  /** Codec seam for sample-level audio ops: the first `maxN` PCM16LE
    * samples, zero-padded to exactly `maxN` (fixed frames downstream).
    * Undecodable / non-PCM16LE payloads come back decoded=false with an
    * empty array — fail-closed, never null samples. Everything AFTER this
    * seam ([[wavWhtFp]]) is pure Column algebra; the decoder touches each
    * payload once per partition iterator, like [[decodeWav]].
    */
  /** PCM16LE extraction (the single decode truth for [[wavSamples]]):
    * first `maxN` samples zero-padded to `maxN`; None for undecodable /
    * non-PCM16LE payloads.
    */
  private[graft] def decodePcm16le(payload: Array[Byte],
      maxN: Int): Option[Array[Long]] = {
    val ctx = AudioCodecContext.get() // per-thread: cached providers + buffer
    try {
      val in = ctx.open(payload)
      if (in == null) None
      else try {
        if (!ctx.isPcm16le(in.getFormat)) None
        else {
          val len = ctx.readFully(in) / 2
          val bytes = ctx.bytes // AFTER readFully — growth reallocates
          val out = new Array[Long](maxN) // fresh: escapes the seam
          val n = math.min(len, maxN)
          var i = 0
          while (i < n) {
            out(i) = ((bytes(2 * i) & 0xFF) | (bytes(2 * i + 1) << 8))
              .toShort.toLong
            i += 1
          }
          Some(out)
        }
      } finally in.close()
    } catch { case _: Exception => None }
  }

  def wavSamples(media: Dataset[MediaRecord], maxN: Int): Dataset[WavSampleArr] = {
    require(maxN >= 1, "maxN must be positive")
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        decodePcm16le(m.payload, maxN) match {
          case Some(s) => WavSampleArr(m.media_id, decoded = true, s.toSeq)
          case None    => WavSampleArr(m.media_id, decoded = false, Nil)
        }
      }
    }
  }

  /** Driver/executor-side replica of one frame's WHT sign signature —
    * the SAME butterfly order and sign pin (> 0) as the [[wavWhtFp]]
    * staged columns, in plain integer Scala: [[graft.functions.WhtSigsKernel]]
    * hashes each frame with this, and a spec asserts parity with the
    * staged columns bit-for-bit.
    */
  private[graft] def whtFrameSig(frame: Array[Long]): Long = {
    require(frame.length == 64, "frame must be 64 samples")
    var cur = frame
    var h = 1
    while (h < 64) {
      val next = new Array[Long](64)
      var b = 0
      while (b < 64) {
        var j = 0
        while (j < h) {
          val x = cur(b + j); val y = cur(b + h + j)
          next(b + j) = x + y
          next(b + h + j) = x - y
          j += 1
        }
        b += 2 * h
      }
      cur = next
      h <<= 1
    }
    var sig = 0L
    var i = 1
    while (i <= 16) {
      if (cur(i) > 0L) sig |= 1L << (i - 1)
      i += 1
    }
    sig
  }

  /** Walsh–Hadamard spectral fingerprint — the audio analog of the
    * perceptual image hashes: each 64-sample frame transforms with the
    * EXACT integer fast WHT (6 butterfly stages, values bounded by
    * 64·32767 < 2²², no float FFT anywhere — bit-identical on any
    * engine), and the signs of AC coefficients 1..16 pack into a 16-bit
    * frame signature; `nFrames` frames concatenate into one 64-bit
    * fingerprint. The WHT is LINEAR, so any positive amplitude rescale
    * (volume normalization, the most common audio re-encode) preserves
    * every sign — rescaled copies collide at Hamming 0 while different
    * material diverges across ~half the bits.
    *
    * Each butterfly stage materializes as its own column: the zip_with
    * pair references its input twice, and an inlined non-cheap HOF
    * re-evaluates per reference (the q_mm_mp4 lesson — CollapseProject
    * keeps the boundary only when the expr is a named column).
    * Returns (media_id, band0..band{nFrames−1}, fp); undecodable media
    * are excluded (fail-closed).
    */
  def wavWhtFp(media: Dataset[MediaRecord], nFrames: Int = 4): DataFrame = {
    require(nFrames >= 1 && nFrames <= 4, "fp packs 16 bits per frame")
    // r17: the frame signatures are a pure per-row function of the
    // decoded samples, so they compute in the compiled
    // [[graft.functions.WhtSigs]] kernel — bit-identical to the former
    // staged chain (posexplode → six interpreted zip_with butterfly
    // stage columns → sign-pack aggregate → per-media collect_list
    // shuffle; the kernel scaladoc carries the incomplete-frame parity
    // argument) with ZERO shuffle and no per-sample lambda calls. The
    // sigs column materializes once (non-cheap, multi-referenced —
    // CollapseProject keeps the boundary), bands/fp are plain lookups.
    val sigs = wavSamples(media, 64 * nFrames).toDF()
      .where(col("decoded"))
      .select(col("media_id"),
        graft.functions.GraftFunctions.wht_sigs(col("samples"), nFrames)
          .as("sigs"))
    val banded = sigs.select(Seq(col("media_id")) ++ (0 until nFrames).map(
      f => element_at(col("sigs"), f + 1).as(s"band$f")): _*)
    banded.select(Seq(col("media_id")) ++
      (0 until nFrames).map(f => col(s"band$f")) :+
      (0 until nFrames).map(f => shiftleft(col(s"band$f"), 16 * f))
        .reduce(_ + _).as("fp"): _*)
  }

  /** Banded near-dup pairs over [[wavWhtFp]] signatures: exact-match on
    * any 16-bit frame band (pigeonhole-complete for maxDist ≤ bands−1),
    * then the true Hamming filter over all bands — the
    * [[perceptualPairs]] shape on the audio fingerprint. The band count
    * is read FROM THE INPUT SCHEMA (band0..band{n−1}, however many
    * frames the fingerprints were built with), so fps from any
    * `wavWhtFp(nFrames ∈ [1,4])` analyze correctly — a hard-coded
    * band0..band3 failed at analysis for nFrames < 4.
    */
  def whtFpPairs(fps: DataFrame, maxDist: Int): DataFrame = {
    val nBands = fps.columns.count(_.matches("band\\d+"))
    require(nBands >= 1, "fps must carry band columns (wavWhtFp output)")
    require(maxDist <= nBands - 1,
      s"${nBands}x16-bit banding guarantees recall only for " +
        s"maxDist <= ${nBands - 1}")
    val bandCols = (0 until nBands).map(t => col(s"band$t"))
    val banded = fps.select(col("media_id") +: bandCols :+
      posexplode(array(bandCols: _*)).as(Seq("band", "chunk")): _*)
    // first-matching-band dedup (r17, guide §2.4): a pair sharing several
    // bands used to emit one row per shared band and pay a dropDuplicates
    // shuffle of the full candidate volume; both sides carry every band
    // column already, so "no EARLIER band also matches" is a free join
    // predicate and each pair survives exactly once — at its lowest
    // shared band — with identical (hamming) values (functionally
    // dependent on the pair). Same row set, one exchange fewer.
    val firstMatch = (0 until nBands).map(t =>
      col("a.band") <= t || col(s"a.band$t") =!= col(s"b.band$t"))
      .reduce(_ && _)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col("a.media_id") < col("b.media_id") && firstMatch)
      .select(col("a.media_id").as("media_a"), col("b.media_id").as("media_b"),
        (0 until nBands).map(t =>
            bit_count(col(s"a.band$t").bitwiseXOR(col(s"b.band$t"))))
          .reduce(_ + _).cast("int").as("hamming"))
      .where(col("hamming") <= maxDist)
  }

  /** STUB DECODER — deterministic fake, for modalities with no JDK codec
    * (see [[decodeImages]]/[[decodeWav]] for the REAL image/audio paths;
    * one codec instance per partition, amortized over the iterator — the
    * mapPartitions shape is the point). The fake
    * derives every "feature" from the payload bytes so tests and oracles
    * are exact:
    *   width  = byte_len mod 640, height = byte_len mod 480,
    *   mean_channel = mean byte value, sha_prefix = first 8 hex of sha-256.
    */
  def decodeStub(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition "codec" init (real decoders are expensive to create)
      val digest = MessageDigest.getInstance("SHA-256")
      it.map { m =>
        digest.reset()
        val sha = digest.digest(m.payload).map("%02x".format(_)).mkString
        val len = m.payload.length.toLong
        val mean =
          if (len == 0) 0.0
          else m.payload.map(b => (b & 0xFF).toDouble).sum / len
        MediaFeatures(m.media_id, m.modality, len, sha.take(8),
          (len % 640).toInt, (len % 480).toInt, mean)
      }
    }
  }

  /** Deterministic frame/sample extraction: n evenly spaced byte-slices of
    * the payload (the video frame-sampling shape — a real pipeline slices at
    * container keyframe offsets instead). Pure Column algebra; emits
    * (media_id, frame_idx, frame: binary).
    */
  def sampleFrames(media: DataFrame, n: Int, frameBytes: Int): DataFrame = {
    val stride = (octet_length(col("payload")).cast("long") / lit(n)).cast("long")
    media.select(col("media_id"), col("payload"),
        posexplode(transform(sequence(lit(0), lit(n - 1)),
          i => col("payload").substr((i.cast("long") * stride + 1).cast("int"),
            lit(frameBytes)))))
      .withColumnRenamed("pos", "frame_idx")
      .withColumnRenamed("col", "frame")
      .select("media_id", "frame_idx", "frame")
  }

  /** Deterministic "resize" in the stub codec model: a real implementation
    * decodes and rescales pixels to (tw, th); the stub downsamples the
    * pretend-media text to `sampleN` evenly-spaced units (position
    * `1 + (i·len) div sampleN` — pure integer math, mirrored exactly by the
    * DuckDB oracle) and recomputes the channel mean over the sample. The
    * Spark-side shape — per-row Column algebra, no shuffle, no UDF — is
    * what survives a real-codec swap. Emits
    * (media_id, width, height, mean_channel_resized).
    */
  def resizeStub(docs: DataFrame, idCol: String, textCol: String,
      tw: Int, th: Int, sampleN: Int = 32): DataFrame = {
    val len = length(col(textCol)).cast("long")
    val vals = transform(sequence(lit(0), lit(sampleN - 1)),
      i => ascii(col(textCol).substr(
        ((i.cast("long") * len) / lit(sampleN.toLong) + 1).cast("int"), lit(1)))
        .cast("double"))
    docs.select(col(idCol).as("media_id"),
      lit(tw).as("width"), lit(th).as("height"),
      round(aggregate(vals, lit(0.0), (a, x) => a + x) / lit(sampleN.toDouble), 6)
        .as("mean_channel_resized"))
  }

  /** Container-header sniffing WITHOUT a codec: parse the PNG IHDR fields
    * (width, height, bit depth, color type) straight from the byte layout
    * — magic `89 50 4E 47 0D 0A 1A 0A`, then the IHDR chunk whose
    * big-endian dimensions sit at fixed offsets 17-24. This is the step a
    * real crawl pipeline runs on EVERY fetched blob (filter by size/type
    * before paying for a decode), and unlike [[decodeStub]] it is not a
    * stub: the byte offsets are the real PNG specification. Pure Column
    * algebra (substring on binary + hex→int), zero shuffle, codegen'd.
    * Non-PNG payloads yield is_png=false with null fields.
    */
  def pngHeader(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def be(off: Int, len: Int) = // big-endian unsigned int at byte offset
      conv(hex(substring(payload, off, len)), 16, 10).cast("long")
    val isPng = hex(substring(payload, 1, 8)) === lit("89504E470D0A1A0A") &&
      hex(substring(payload, 13, 4)) === lit("49484452") // "IHDR"
    struct(
      isPng.as("is_png"),
      when(isPng, be(17, 4)).as("width"),
      when(isPng, be(21, 4)).as("height"),
      when(isPng, be(25, 1).cast("int")).as("bit_depth"),
      when(isPng, be(26, 1).cast("int")).as("color_type"))
  }

  /** WAV/RIFF header sniff — the audio counterpart of [[pngHeader]], and
    * the LITTLE-endian case (RIFF numeric fields reverse byte order, so
    * the hex pairs are re-sequenced before the int conversion; PNG was
    * big-endian). Canonical PCM layout: "RIFF" @1, "WAVE" @9, "fmt " @13,
    * then LE u16/u32 fields — audio format @21, channels @23, sample rate
    * @25, bits per sample @35. Pure codegen'd projection, zero shuffle.
    */
  def wavHeader(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def leHex(off: Int, len: Int) = { // reverse `len` hex byte-pairs
      val be = hex(substring(payload, off, len))
      concat((len to 1 by -1).map(i => substring(be, i * 2 - 1, 2)): _*)
    }
    def le(off: Int, len: Int) = conv(leHex(off, len), 16, 10).cast("long")
    val isWav = hex(substring(payload, 1, 4)) === lit("52494646") &&
      hex(substring(payload, 9, 4)) === lit("57415645") && // "WAVE"
      hex(substring(payload, 13, 4)) === lit("666D7420") // "fmt "
    struct(
      isWav.as("is_wav"),
      when(isWav, le(21, 2).cast("int")).as("audio_format"),
      when(isWav, le(23, 2).cast("int")).as("channels"),
      when(isWav, le(25, 4)).as("sample_rate"),
      when(isWav, le(35, 2).cast("int")).as("bits_per_sample"))
  }

  /** GIF header sniff — completes the fixed-offset family beside
    * [[pngHeader]] (BE) and [[wavHeader]] (LE): `GIF87a`/`GIF89a` magic,
    * then the little-endian logical-screen descriptor — width u16 @7,
    * height u16 @9, packed flags @11 (bit 7 = global color table
    * present, bits 2-0 = its size exponent: 2^(n+1) entries). Pure
    * codegen'd projection, zero shuffle; non-GIF payloads yield
    * is_gif=false with null fields.
    */
  def gifHeader(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def leHex(off: Int, len: Int) = {
      val be = hex(substring(payload, off, len))
      concat((len to 1 by -1).map(i => substring(be, i * 2 - 1, 2)): _*)
    }
    def le(off: Int, len: Int) = conv(leHex(off, len), 16, 10).cast("long")
    val magic = hex(substring(payload, 1, 6))
    val isGif = magic === lit("474946383761") || // "GIF87a"
      magic === lit("474946383961") // "GIF89a"
    val version = decode(substring(payload, 4, 3), "UTF-8")
    val packed = conv(hex(substring(payload, 11, 1)), 16, 10).cast("int")
    struct(
      isGif.as("is_gif"),
      when(isGif, version).as("version"),
      when(isGif, le(7, 2).cast("int")).as("width"),
      when(isGif, le(9, 2).cast("int")).as("height"),
      when(isGif, (packed >= 128)).as("has_color_table"),
      // 2^(n+1) for n <= 7: IEEE pow is exact at these magnitudes and
      // both engines compute the same small integer
      when(isGif && packed >= 128,
        (lit(2) * pow(lit(2.0), (packed % 8).cast("double")))
          .cast("int")).as("table_colors"))
  }

  /** WEBP container sniff — completes the crawl container matrix (the
    * most common remaining web-crawl image format after PNG/JPEG/GIF).
    * Composes the [[wavHeader]] little-endian discipline with a RIFF
    * chunk walk: "RIFF" @1 + LE u32 size @5 + "WEBP" @9, then ONE chunk
    * whose fourcc @13 selects the bitstream grammar —
    *
    *  - `VP8 ` (lossy): 3-byte frame tag, the 9D 01 2A sync code at
    *    chunk bytes 3-5, then LE u14 width/height (low 14 bits of the
    *    u16s at chunk bytes 6-9). No alpha, never animated.
    *  - `VP8L` (lossless): 0x2F signature byte, then ONE LE u32 packing
    *    width-1 (bits 0-13), height-1 (bits 14-27), alpha (bit 28).
    *  - `VP8X` (extended): flags byte (ICC 0x20, alpha 0x10, EXIF 0x08,
    *    XMP 0x04, animation 0x02), 3 reserved bytes, then LE u24
    *    canvas width-1 / height-1.
    *
    * A recognized fourcc whose inner signature fails (bad VP8 sync code,
    * missing VP8L 0x2F) yields is_webp=true with null fields — fail
    * closed, never misparse (the mvhd-v1 discipline from [[mp4Header]]).
    * Pure codegen'd Column projection, zero shuffle, no codec.
    */
  def webpHeader(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def leHex(off: Int, len: Int) = { // reverse `len` hex byte-pairs
      val be = hex(substring(payload, off, len))
      concat((len to 1 by -1).map(i => substring(be, i * 2 - 1, 2)): _*)
    }
    def le(off: Int, len: Int) = conv(leHex(off, len), 16, 10).cast("long")
    val isWebp = hex(substring(payload, 1, 4)) === lit("52494646") && // RIFF
      hex(substring(payload, 9, 4)) === lit("57454250") // "WEBP"
    val fourcc = hex(substring(payload, 13, 4))
    val isVp8 = fourcc === lit("56503820") && // "VP8 " — sync code gate
      hex(substring(payload, 24, 3)) === lit("9D012A")
    val isVp8l = fourcc === lit("5650384C") && // "VP8L" — signature gate
      hex(substring(payload, 21, 1)) === lit("2F")
    val isVp8x = fourcc === lit("56503858") // "VP8X"
    val lBits = le(22, 4) // VP8L packed u32
    val xFlags = le(21, 1).cast("int") // VP8X feature flags
    val fmt = when(isVp8, "VP8").when(isVp8l, "VP8L").when(isVp8x, "VP8X")
    struct(
      isWebp.as("is_webp"),
      when(isWebp, fmt).as("format"),
      when(isWebp,
        when(isVp8, le(27, 2).bitwiseAND(lit(16383L)))
          .when(isVp8l, lBits.bitwiseAND(lit(16383L)) + 1L)
          .when(isVp8x, le(25, 3) + 1L)
          .cast("int")).as("width"),
      when(isWebp,
        when(isVp8, le(29, 2).bitwiseAND(lit(16383L)))
          .when(isVp8l, shiftright(lBits, 14).bitwiseAND(lit(16383L)) + 1L)
          .when(isVp8x, le(28, 3) + 1L)
          .cast("int")).as("height"),
      when(isWebp,
        when(isVp8, lit(false))
          .when(isVp8l, shiftright(lBits, 28).bitwiseAND(lit(1L)) === 1L)
          .when(isVp8x, xFlags.bitwiseAND(lit(16)) =!= 0)).as("has_alpha"),
      when(isWebp,
        when(isVp8 || isVp8l, lit(false))
          .when(isVp8x, xFlags.bitwiseAND(lit(2)) =!= 0)).as("is_animated"))
  }

  /** JPEG SOF header sniff — the VARIABLE-OFFSET case ([[pngHeader]] was
    * fixed-offset big-endian, [[wavHeader]] fixed-offset little-endian):
    * JPEG dimensions live in a Start-Of-Frame segment whose position
    * depends on every APPn/COM segment before it, so the parser must WALK
    * the marker chain — `FFD8`, then per segment `FF``marker` + big-endian
    * u16 length (self-inclusive) — until it hits SOF0/1/2 (`C0`/`C1`/`C2`:
    * baseline/extended/progressive). The walk is a bounded `aggregate()`
    * fold over `maxSegs` steps carrying (offset, state) — per-row Column
    * algebra on the hex string, zero shuffle, no codec; real JPEGs put SOF
    * within a handful of segments (EXIF/JFIF/COM), and a blob whose chain
    * breaks (non-marker byte, truncated length, SOF not found in
    * `maxSegs`) yields null fields rather than a misparse.
    *
    * Fields on success: sof_marker ("C0"/"C1"/"C2"), height, width,
    * precision (bits/sample), n_components (1 gray / 3 YCbCr / 4 CMYK).
    */
  def jpegHeader(payload: org.apache.spark.sql.Column,
      maxSegs: Int = 8): org.apache.spark.sql.Column = {
    require(maxSegs >= 1 && maxSegs <= 64, "maxSegs in [1, 64]")
    val hx = hex(payload) // uppercase, 2 hex chars per byte, 0-based bytes
    def byteHex(off: org.apache.spark.sql.Column) =
      hx.substr(off * 2 + 1, lit(2))
    def be16(off: org.apache.spark.sql.Column) =
      conv(hx.substr(off * 2 + 1, lit(4)), 16, 10).cast("int")
    val isJpeg = substring(hx, 1, 4) === "FFD8"
    // fold state: sof = -1 walking, -2 chain broken, >= 0 SOF seg offset
    val init = struct(lit(2).as("off"), lit(-1).as("sof"))
    val walked = aggregate(sequence(lit(1), lit(maxSegs)), init, (acc, _) => {
      val off = acc.getField("off")
      val sof = acc.getField("sof")
      val marker = byteHex(off + 1)
      val ok = byteHex(off) === "FF" && marker =!= ""
      val isSof = marker.isin("C0", "C1", "C2")
      val segLen = be16(off + 2)
      val walking = sof === -1
      val nextSof = when(!walking, sof)
        .when(!ok || segLen.isNull || segLen < lit(2), lit(-2))
        .when(isSof, off)
        .otherwise(lit(-1))
      val nextOff = when(!walking, off)
        .otherwise(off + 2 + coalesce(segLen, lit(0)))
      struct(nextOff.as("off"), nextSof.as("sof"))
    })
    val so = walked.getField("sof")
    val found = isJpeg && so >= 0
    struct(
      isJpeg.as("is_jpeg"),
      when(found, byteHex(so + 1)).as("sof_marker"),
      when(found, be16(so + 5)).as("height"),
      when(found, be16(so + 7)).as("width"),
      when(found, conv(byteHex(so + 4), 16, 10).cast("int")).as("precision"),
      when(found, conv(byteHex(so + 9), 16, 10).cast("int"))
        .as("n_components"))
  }

  /** MP4 / ISO-BMFF container sniff — the NESTED-structure case
    * ([[pngHeader]] fixed-offset, [[wavHeader]] little-endian,
    * [[jpegHeader]] variable-offset chain; an MP4 is a TREE of
    * length-prefixed boxes, so the parser walks the top level AND
    * descends one level into `moov` for the movie header). Box layout:
    * big-endian u32 size (self-inclusive) + 4-byte ASCII type; a valid
    * file leads with `ftyp` (major brand = the next 4 bytes). The walk
    * is a bounded `aggregate()` fold over `maxBoxes` top-level steps
    * carrying (offset, moov offset, box count, broken flag); a chain
    * that breaks (size < 8, or a box overrunning the payload) fails
    * CLOSED — null movie fields, `ok` false — rather than misparse.
    * Inside `moov`, the first child is checked for `mvhd` version 0
    * (version 1 uses 64-bit times — out of scope, null fields):
    * timescale at child+20, duration at child+24, both big-endian u32;
    * `duration_ms` = duration · 1000 div timescale (floor-exact).
    * Pure Column algebra on the hex string — zero shuffle, no codec,
    * codegen'd; the real-crawl role is routing/quarantine before any
    * expensive frame decode is paid for.
    */
  def mp4Header(payload: org.apache.spark.sql.Column,
      maxBoxes: Int = 8): org.apache.spark.sql.Column = {
    require(maxBoxes >= 1 && maxBoxes <= 64, "maxBoxes in [1, 64]")
    val hx = hex(payload) // 2 uppercase hex chars per byte, 0-based below
    val total = length(payload)
    def be32(off: org.apache.spark.sql.Column) =
      conv(hx.substr(off * 2 + 1, lit(8)), 16, 10).cast("long")
    def typeHex(off: org.apache.spark.sql.Column) =
      hx.substr(off * 2 + 1, lit(8))
    val isMp4 = substring(hx, 9, 8) === lit("66747970") // "ftyp" @ byte 4
    val brand = when(isMp4, decode(substring(payload, 9, 4), "UTF-8"))
    // fold state: off = next box offset, moov = -1 not seen / >= 0 offset,
    // nbox = boxes consumed, bad = chain broke
    val init = struct(lit(0L).as("off"), lit(-1L).as("moov"),
      lit(0).as("nbox"), lit(false).as("bad"))
    val walked = aggregate(sequence(lit(1), lit(maxBoxes)), init,
      (acc, _) => {
        val off = acc.getField("off")
        val moov = acc.getField("moov")
        val nbox = acc.getField("nbox")
        val bad = acc.getField("bad")
        val done = bad || off >= total
        val sz = be32(off)
        val broken = sz.isNull || sz < 8L || off + sz > total
        val isMoov = typeHex(off + 4) === "6D6F6F76"
        struct(
          when(done || broken, off).otherwise(off + sz).as("off"),
          when(done || broken, moov)
            .when(isMoov, off).otherwise(moov).as("moov"),
          when(done || broken, nbox).otherwise(nbox + 1).as("nbox"),
          when(done, bad).otherwise(broken).as("bad"))
      })
    val moovOff = walked.getField("moov")
    val child = moovOff + 8
    val haveMvhd = isMp4 && !walked.getField("bad") && moovOff >= 0 &&
      typeHex(child + 4) === "6D766864" &&
      hx.substr(child * 2 + 17, lit(2)) === "00" // version byte @ child+8
    val timescale = when(haveMvhd, be32(child + 20))
    val duration = when(haveMvhd, be32(child + 24))
    struct(
      isMp4.as("is_mp4"),
      brand.as("brand"),
      when(isMp4, walked.getField("nbox")).as("n_boxes"),
      (isMp4 && !walked.getField("bad")).as("ok"),
      timescale.as("timescale"),
      duration.as("duration"),
      // IEEE double division then truncation is exact floor here: both
      // operands are positive u32-sized ints (< 2^53), and when timescale
      // divides duration·1000 exactly the correctly-rounded quotient is
      // that integer — no boundary-crossing rounding is possible
      when(haveMvhd && timescale > 0,
        (duration * lit(1000L) / timescale).cast("long"))
        .as("duration_ms"))
  }

  /** MP4 sample (frame) INDEX — the container-level walk that makes video
    * frame sampling REAL without a pixel codec (the one seam
    * [[decodeStub]] still stubs is pixel DECODE; frame *location* lives
    * entirely in the container): descends moov → trak → mdia → minf →
    * stbl and reads the three sample tables that place every frame in the
    * byte stream (ISO 14496-12 §8.5–8.7):
    *
    *  - `stsz`: per-sample byte sizes (or one fixed size when the
    *    sample_size field is nonzero),
    *  - `stsc`: sample→chunk run map (first_chunk, samples_per_chunk),
    *  - `stco`: chunk byte offsets (u32 flavor; `co64` is out of scope
    *    and fails closed, like mvhd v1 in [[mp4Header]]).
    *
    * Returns struct<ok boolean, n_samples bigint, n_chunks bigint,
    * samples array<struct<idx int, off bigint, sz bigint>>>: `samples`
    * holds the first `maxSamples` frames' EXACT byte extents — a frame's
    * offset is its chunk's stco entry plus the sizes of the chunk's prior
    * samples, walked sample-by-sample in ONE bounded fold. `n_samples`
    * reports the DECLARED stsz count ([[tiffHeader]]'s visible-cap
    * discipline), so a capped index is distinguishable from a short file.
    * Every anomaly fails CLOSED (ok=false, null samples): missing box on
    * the descent path, version≠0 tables, empty stsc / first run not
    * chunk 1 / non-positive samples_per_chunk / more runs than
    * `maxStscRuns`, a walk needing a chunk past stco's count, or any
    * frame extent overrunning the payload. Pure Column algebra in hex
    * space — zero shuffle, no codec, codegen'd, replayable by any
    * engine's substring/conv — and `substr(payload, off+1, sz)` then
    * slices real frame bytes for hashing / dedup / external decode.
    */
  def mp4SampleIndex(payload: org.apache.spark.sql.Column,
      maxSamples: Int = 16, maxBoxes: Int = 8,
      maxStscRuns: Int = 4): org.apache.spark.sql.Column = {
    require(maxSamples >= 1 && maxSamples <= 64, "maxSamples in [1, 64]")
    require(maxBoxes >= 1 && maxBoxes <= 16, "maxBoxes in [1, 16]")
    require(maxStscRuns >= 1 && maxStscRuns <= 16, "maxStscRuns in [1, 16]")
    // LET-BINDING THROUGHOUT (the tiffHeader/mp4Header discipline, load-
    // bearing here): every descent level is the box-scan FOLD below, and
    // each is referenced by three table parses which are themselves
    // referenced per step of the 16-step sample fold — inlined naively
    // the expression tree is exponential in the descent depth (the first
    // cut OOMed the driver); bound as nested lambda variables each fold
    // exists ONCE in the tree and once per row at runtime.
    def letCol(c: org.apache.spark.sql.Column)(
        f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      try_element_at(transform(array(c), f), lit(1))
    val total = length(payload).cast("long")
    def typeLit(t: String) =
      lit(t.getBytes("UTF-8").map(b => f"$b%02X").mkString)
    letCol(hex(payload)) { hx =>
      def be32(off: org.apache.spark.sql.Column) =
        conv(hx.substr(off * 2 + 1, lit(8)), 16, 10).cast("long")
      def typeHex(off: org.apache.spark.sql.Column) =
        hx.substr(off * 2 + 9, lit(8))
      // bounded child scan: offset of the FIRST box of type `want` in
      // [start, end); null when absent, the chain breaks, or start/end
      // are already null (a broken parent descent propagates)
      def findBox(start: org.apache.spark.sql.Column,
          end: org.apache.spark.sql.Column,
          want: String): org.apache.spark.sql.Column = {
        val init = struct(start.as("off"),
          lit(null).cast("long").as("hit"))
        aggregate(sequence(lit(1), lit(maxBoxes)), init, (acc, _) => {
          val off = acc.getField("off")
          val hit = acc.getField("hit")
          val active = hit.isNull && off.isNotNull && end.isNotNull &&
            off + 8L <= end
          val sz = be32(off)
          val broken = sz.isNull || sz < 8L || off + sz > end
          val found = typeHex(off) === typeLit(want)
          struct(
            when(!active || found, off)
              .when(broken, lit(null).cast("long"))
              .otherwise(off + sz).as("off"),
            when(!active, hit).when(found, off).otherwise(hit).as("hit"))
        }).getField("hit")
      }
      def into(parent: org.apache.spark.sql.Column, want: String) =
        findBox(parent + 8L, parent + be32(parent), want)
      val isMp4 = hx.substr(9, 8) === typeLit("ftyp")
      letCol(findBox(lit(0L), total, "moov")) { moov =>
      letCol(into(moov, "trak")) { trak =>
      letCol(into(trak, "mdia")) { mdia =>
      letCol(into(mdia, "minf")) { minf =>
      letCol(into(minf, "stbl")) { stbl =>
      letCol(into(stbl, "stsz")) { stsz =>
      letCol(into(stbl, "stsc")) { stsc =>
      letCol(into(stbl, "stco")) { stco =>
        // table headers (full-box version+flags u32 must be 0)
        val versOk = be32(stsz + 8L) === 0L && be32(stsc + 8L) === 0L &&
          be32(stco + 8L) === 0L
        val declared = be32(stsz + 16L)
        val nRuns = be32(stsc + 12L)
        val nCh = be32(stco + 12L)
        val runsOk = nRuns >= 1L && nRuns <= maxStscRuns.toLong &&
          be32(stsc + 16L) === 1L // first run must start at chunk 1
        // stsc runs as a bounded array (guarded: a hostile count never
        // drives the sequence length)
        val nRunsB = when(runsOk, nRuns).otherwise(lit(1L))
        letCol(transform(sequence(lit(0L), nRunsB - 1L), j =>
          struct(be32(stsc + 16L + j * 12L).as("fc"),
            be32(stsc + 20L + j * 12L).as("spc")))) { runs =>
          // samples_per_chunk for 1-based chunk c: last run with fc <= c
          def spcFor(c: org.apache.spark.sql.Column) =
            element_at(filter(runs, r => r.getField("fc") <= c), -1)
              .getField("spc")
          val szFix = be32(stsz + 12L) // 0 = per-sample table follows
          val n = least(coalesce(declared, lit(0L)),
            lit(maxSamples.toLong))
          val outType = "array<struct<idx:int,off:bigint,sz:bigint>>"
          val init = struct(lit(1L).as("ck"), lit(0L).as("ic"),
            be32(stco + 16L).as("cur"), array().cast(outType).as("out"),
            lit(false).as("bad"))
          // NB sequence(1, 0) is DESCENDING in Spark (step sign is
          // inferred): the empty case must short-circuit
          val idxSeq = when(n >= 1L, sequence(lit(1L), n))
            .otherwise(array().cast("array<bigint>"))
          letCol(aggregate(idxSeq, init, (acc, i) => {
            val ck = acc.getField("ck"); val ic = acc.getField("ic")
            val cur = acc.getField("cur"); val out = acc.getField("out")
            val szI = when(szFix > 0L, szFix)
              .otherwise(be32(stsz + 20L + (i - 1L) * 4L))
            val spc = spcFor(ck)
            val bad = acc.getField("bad") || cur.isNull || szI.isNull ||
              szI < 0L || cur + szI > total || spc.isNull || spc < 1L
            val adv = ic + 1L >= spc // chunk exhausted after this sample
            struct(
              when(bad, ck).when(adv, ck + 1L).otherwise(ck).as("ck"),
              when(bad, ic).when(adv, lit(0L)).otherwise(ic + 1L)
                .as("ic"),
              when(bad, cur)
                .when(adv && ck + 1L <= nCh, be32(stco + 16L + ck * 4L))
                .when(adv, lit(null).cast("long")) // ran out of chunks
                .otherwise(cur + szI).as("cur"),
              when(bad, out).otherwise(array_append(out,
                struct((i - 1L).cast("int").as("idx"), cur.as("off"),
                  szI.as("sz")))).as("out"),
              bad.as("bad"))
          })) { walked =>
            val ok = isMp4 && stsz.isNotNull && stsc.isNotNull &&
              stco.isNotNull && coalesce(versOk, lit(false)) &&
              coalesce(runsOk, lit(false)) &&
              coalesce(nCh >= 1L, lit(false)) &&
              !walked.getField("bad") &&
              size(walked.getField("out")) === n.cast("int")
            struct(
              ok.as("ok"),
              when(ok, declared).as("n_samples"),
              when(ok, nCh).as("n_chunks"),
              when(ok, walked.getField("out")).as("samples"))
          }
        }
      }}}}}}}}
    }
  }

  /** [[mp4SampleIndex]]'s typed output: one frame's exact byte extent. */
  final case class Mp4Frame(idx: Int, off: Long, sz: Long)

  /** Imperative twin of [[mp4SampleIndex]] — same grammar, same
    * fail-closed contract, same output struct, evaluated as plain JVM
    * code at a `mapPartitions` seam instead of nested higher-order
    * Columns. The Column form is the PORTABLE one (replayable by any
    * engine's substring/conv, which is what the oracle does) but Spark's
    * higher-order functions (`ArrayTransform`/`ArrayAggregate`) are
    * `CodegenFallback`: the whole walk evaluates INTERPRETED, ~0.9 ms per
    * document (the two frame gates were the heaviest non-margin rows of
    * the sf0.1 sweep, round-13 verdict item 2). A bounded imperative box
    * walk is exactly what the codec-seam discipline prescribes — this
    * parser is the same stsz/stsc/stco walk at ~1 µs/doc, pinned
    * bit-equal to the Column form by OpsSpec's parity test.
    *
    * Returns (ok, declared sample count, chunk count, first-`maxSamples`
    * frame extents) — fields None unless `ok`, like the Column form.
    */
  private[graft] def mp4ParseIndex(payload: Array[Byte], maxSamples: Int = 16,
      maxBoxes: Int = 8, maxStscRuns: Int = 4):
      (Boolean, Option[Long], Option[Long], Option[Seq[Mp4Frame]]) = {
    val fail = (false, None, None, None)
    if (payload == null) return fail
    val total = payload.length.toLong
    // u32 big-endian with the Column form's CLAMPED-substr semantics: a
    // read past the payload end sees only the bytes that exist (hex
    // substr clamps), an empty read is null
    def be32(off: Long): Option[Long] = {
      if (off < 0 || off >= total) return None
      val end = math.min(off + 4, total)
      var v = 0L; var i = off
      while (i < end) { v = (v << 8) | (payload(i.toInt) & 0xFFL); i += 1 }
      Some(v)
    }
    def tagAt(off: Long, t: String): Boolean =
      off >= 0 && off + 4 <= total &&
        payload(off.toInt) == t.charAt(0).toByte &&
        payload(off.toInt + 1) == t.charAt(1).toByte &&
        payload(off.toInt + 2) == t.charAt(2).toByte &&
        payload(off.toInt + 3) == t.charAt(3).toByte
    // bounded child scan, the findBox fold verbatim: a box whose tag
    // matches counts as a hit even when its declared size is broken (the
    // size guard belongs to the DESCENT step, not the match)
    def findBox(start: Option[Long], end: Option[Long],
        want: String): Option[Long] = {
      var off = start
      var steps = 0
      while (steps < maxBoxes) {
        (off, end) match {
          case (Some(o), Some(e)) if o + 8 <= e =>
            if (tagAt(o + 4, want)) return Some(o)
            off = be32(o) match {
              case Some(sz) if sz >= 8 && o + sz <= e => Some(o + sz)
              case _ => None // chain broke — further steps stay inactive
            }
          case _ => return None
        }
        steps += 1
      }
      None
    }
    def into(parent: Option[Long], want: String): Option[Long] =
      findBox(parent.map(_ + 8), for { p <- parent; sz <- be32(p) }
        yield p + sz, want)
    if (!tagAt(4, "ftyp")) return fail
    val stbl = into(into(into(into(findBox(Some(0L), Some(total), "moov"),
      "trak"), "mdia"), "minf"), "stbl")
    val (stsz, stsc, stco) =
      (into(stbl, "stsz"), into(stbl, "stsc"), into(stbl, "stco"))
    if (stsz.isEmpty || stsc.isEmpty || stco.isEmpty) return fail
    val (zo, co, oo) = (stsz.get, stsc.get, stco.get)
    if (!(be32(zo + 8).contains(0L) && be32(co + 8).contains(0L) &&
        be32(oo + 8).contains(0L))) return fail // full-box version+flags
    val declared = be32(zo + 16)
    val nRuns = be32(co + 12)
    val nCh = be32(oo + 12) match {
      case Some(c) if c >= 1 => c
      case _ => return fail
    }
    if (!nRuns.exists(r => r >= 1 && r <= maxStscRuns) ||
        !be32(co + 16).contains(1L)) return fail // first run at chunk 1
    val runs = (0L until nRuns.get).map { j =>
      (be32(co + 16 + j * 12), be32(co + 20 + j * 12)) // (fc, spc)
    }
    def spcFor(ck: Long): Option[Long] =
      runs.reverseIterator.collectFirst {
        case (Some(fc), spc) if fc <= ck => spc
      }.flatten
    val szFix = be32(zo + 12)
    val n = math.min(declared.getOrElse(0L), maxSamples.toLong)
    var ck = 1L; var ic = 0L
    var cur = be32(oo + 16)
    val out = Seq.newBuilder[Mp4Frame]
    var i = 1L
    while (i <= n) {
      val szI = if (szFix.exists(_ > 0)) szFix
        else be32(zo + 20 + (i - 1) * 4)
      val spc = spcFor(ck)
      if (cur.isEmpty || !szI.exists(s => s >= 0 && cur.get + s <= total) ||
          !spc.exists(_ >= 1)) return fail // walk broke (bad flag)
      out += Mp4Frame((i - 1).toInt, cur.get, szI.get)
      if (ic + 1 >= spc.get) { // chunk exhausted after this sample
        cur = if (ck + 1 <= nCh) be32(oo + 16 + ck * 4)
          else None // ran out of chunks — next step fails
        ck += 1; ic = 0
      } else { cur = Some(cur.get + szI.get); ic += 1 }
      i += 1
    }
    (true, declared, Some(nCh), Some(out.result()))
  }

  /** Appends `ix` — [[mp4SampleIndex]]'s output struct — to `df` via a
    * typed `mapPartitions` seam running [[mp4ParseIndex]]. This is the
    * HOT-PATH form: interpreted-Column cost gone, and because the seam is
    * an opaque plan node, downstream explodes/projections can't re-inline
    * the walk (the re-inlining the frame gates previously needed a
    * `localCheckpoint` barrier to stop). Scale shape: linear per-row
    * work, no shuffle, no barrier.
    */
  def mp4SampleIndexed(df: DataFrame, payloadCol: String,
      maxSamples: Int = 16, maxBoxes: Int = 8,
      maxStscRuns: Int = 4): DataFrame = {
    require(maxSamples >= 1 && maxSamples <= 64, "maxSamples in [1, 64]")
    require(maxBoxes >= 1 && maxBoxes <= 16, "maxBoxes in [1, 16]")
    require(maxStscRuns >= 1 && maxStscRuns <= 16, "maxStscRuns in [1, 16]")
    import org.apache.spark.sql.types._
    val ixType = StructType(Seq(
      StructField("ok", BooleanType, nullable = false),
      StructField("n_samples", LongType, nullable = true),
      StructField("n_chunks", LongType, nullable = true),
      StructField("samples", ArrayType(StructType(Seq(
        StructField("idx", IntegerType, nullable = false),
        StructField("off", LongType, nullable = false),
        StructField("sz", LongType, nullable = false))),
        containsNull = false), nullable = true)))
    val pIdx = df.schema.fieldIndex(payloadCol)
    val enc = org.apache.spark.sql.Encoders.row(df.schema.add("ix", ixType))
    df.mapPartitions { it =>
      it.map { r =>
        val (ok, ns, nc, smp) = mp4ParseIndex(r.getAs[Array[Byte]](pIdx),
          maxSamples, maxBoxes, maxStscRuns)
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+
          org.apache.spark.sql.Row(ok, ns.orNull, nc.orNull,
            smp.map(_.map(f =>
              org.apache.spark.sql.Row(f.idx, f.off, f.sz))).orNull))
      }
    }(enc)
  }

  /** TIFF header + first-IFD parse (the EXIF grammar: an EXIF blob is a
    * TIFF IFD, so this is also the byte walk an EXIF APP1 reader does
    * after the `Exif\0\0` marker). Grammar (TIFF 6.0 §2): 2-byte order
    * mark `II` (little-endian) / `MM` (big-endian) — the ONE container
    * here whose multi-byte integers change direction per file — magic 42
    * in that order, u32 first-IFD offset; the IFD is a u16 entry count
    * then 12-byte entries (tag u16, type u16, count u32, value-or-offset
    * u32). Extracted tags: ImageWidth 0x0100, ImageLength 0x0101,
    * Orientation 0x0112 — each taken only when stored INLINE (count 1,
    * type SHORT(3) or LONG(4); SHORT reads the value field's first two
    * bytes in file order, per spec). Out-of-range offsets, truncated
    * IFDs, and offset-stored values fail CLOSED to null fields — route/
    * quarantine semantics, like [[mp4Header]]. Entry scan is bounded by
    * `maxEntries`; `n_entries` reports the DECLARED count so a capped
    * parse is visible. Pure Column algebra in hex space — zero shuffle,
    * codegen'd, replayable by any engine's substring/conv functions.
    */
  def tiffHeader(payload: org.apache.spark.sql.Column,
      maxEntries: Int = 32): org.apache.spark.sql.Column = {
    require(maxEntries >= 1 && maxEntries <= 256, "maxEntries in [1, 256]")
    // LET-BINDING: the hex string is bound ONCE per row as a lambda
    // variable — the parse below references it hundreds of times (per
    // entry, per field, per endianness branch), and inlining hex(payload)
    // at each reference would re-evaluate the caller's whole payload
    // expression per reference per row (measured ~10ms/row on a
    // synthesized-payload gate; ~1000x the bound form)
    val parsed = transform(array(hex(payload)), hx => {
      val total = length(hx).cast("long") / 2
      val le = substring(hx, 1, 4) === lit("4949")
      val isTiff = (le && substring(hx, 5, 4) === lit("2A00")) ||
        (substring(hx, 1, 4) === lit("4D4D") &&
          substring(hx, 5, 4) === lit("002A"))
      def byteAt(off: org.apache.spark.sql.Column) =
        hx.substr((off * 2 + 1).cast("int"), lit(2))
      def u16(off: org.apache.spark.sql.Column) =
        conv(when(le, concat(byteAt(off + 1), byteAt(off)))
          .otherwise(hx.substr((off * 2 + 1).cast("int"), lit(4))),
          16, 10).cast("long")
      def u32(off: org.apache.spark.sql.Column) =
        conv(when(le, concat(byteAt(off + 3), byteAt(off + 2),
            byteAt(off + 1), byteAt(off)))
          .otherwise(hx.substr((off * 2 + 1).cast("int"), lit(8))),
          16, 10).cast("long")
      val ifd = u32(lit(4L))
      val nDecl = when(isTiff && ifd.isNotNull && ifd + 2 <= total,
        u16(ifd))
      def tagVal(wanted: Long) = {
        val hits = filter(
          transform(sequence(lit(0), lit(maxEntries - 1)), i => {
            val e = ifd + lit(2) + i.cast("long") * 12
            val tag = u16(e)
            val typ = u16(e + 2)
            val cnt = u32(e + 4)
            when(i < nDecl && e + 12 <= total && tag === wanted &&
                cnt === 1 && (typ === 3 || typ === 4),
              when(typ === 3, u16(e + 8)).otherwise(u32(e + 8)))
          }), v => v.isNotNull)
        try_element_at(hits, lit(1))
      }
      struct(
        isTiff.as("is_tiff"),
        when(isTiff, le).as("little_endian"),
        nDecl.as("n_entries"),
        tagVal(0x0100L).as("width"),
        tagVal(0x0101L).as("height"),
        tagVal(0x0112L).as("orientation"))
    })
    try_element_at(parsed, lit(1))
  }

  /** Exact per-patch channel features for one decoded image patch. */
  final case class PatchFeatures(media_id: Long, py: Int, px: Int,
      n_px: Int, sum_r: Long, sum_g: Long, sum_b: Long)

  /** ViT-style PATCH feature extraction at the codec seam — the step
    * between raw image bytes and a patch-embedding model: decode once,
    * tile the pixel grid into `patch`×`patch` cells (edge cells keep
    * their true partial size, like the audio windows' partial tail),
    * and emit EXACT integer per-cell channel sums — the deterministic
    * stand-in for learned patch embeddings, with the same shape
    * (media_id, patch row/col, features). Undecodable payloads emit no
    * rows (route them through [[decodeImages]]'s quarantine flag first,
    * the established discipline). mapPartitions only because a codec is
    * not a Catalyst expression; the output is plain columns, linear,
    * shuffle-free.
    */
  def imagePatches(media: Dataset[MediaRecord],
      patch: Int): Dataset[PatchFeatures] = {
    require(patch >= 1 && patch <= 1024, "patch in [1, 1024]")
    import media.sparkSession.implicits._
    media.flatMap { m =>
      javax.imageio.ImageIO.setUseCache(false)
      val img =
        try javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(m.payload))
        catch { case _: Exception => null }
      if (img == null) Iterator.empty
      else {
        val w = img.getWidth; val h = img.getHeight
        for {
          py <- (0 until (h + patch - 1) / patch).iterator
          px <- (0 until (w + patch - 1) / patch).iterator
        } yield {
          var sr = 0L; var sg = 0L; var sb = 0L; var n = 0
          var y = py * patch
          while (y < math.min((py + 1) * patch, h)) {
            var x = px * patch
            while (x < math.min((px + 1) * patch, w)) {
              val p = img.getRGB(x, y)
              sr += (p >> 16) & 0xFF; sg += (p >> 8) & 0xFF; sb += p & 0xFF
              n += 1; x += 1
            }
            y += 1
          }
          PatchFeatures(m.media_id, py, px, n, sr, sg, sb)
        }
      }
    }
  }

  /** End-to-end media feature pipeline over a text table. */
  def featurePipeline(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val media = asMedia(docs, "doc_id", "text", "source").as[MediaRecord]
    decodeStub(media).toDF()
  }
}
