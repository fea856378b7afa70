package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column plumbing for training-data
  * pipelines.
  *
  * Media travels as an opaque `binary` column plus typed metadata.
  * IMAGE payloads are decoded for real via `javax.imageio` (PNG/JPEG/
  * GIF/BMP in any JRE): decoded width/height and channel-statistic
  * features come from actual pixels. AUDIO payloads in PCM containers
  * (WAV/AIFF/AU) are decoded for real via `javax.sound.sampled`:
  * sample rate, channels, duration and exact PCM amplitude statistics
  * come from actual samples. Payloads neither decoder handles —
  * video and compressed audio (no JRE codecs), corrupt bytes — fall
  * back to deterministic hash-derived features, so plans, shuffles
  * and joins behave identically either way and the whole path stays
  * oracle-checkable through the md5 checksum column.
  *
  * Scale design: decode work is per-row and embarrassingly parallel —
  * `mapPartitions` over the binary column keeps each media blob on one
  * executor, no shuffle; downstream feature columns are small, so the
  * wide binary column should be dropped (column pruning) before any
  * join or aggregation.
  */
object Multimodal {

  /** A media row: opaque payload + typed metadata. */
  final case class MediaRow(
      media_id: Long,
      kind: String,            // image | audio | video
      payload: Array[Byte],
      mime: String,
      width: Int,
      height: Int,
      duration_ms: Long)

  /** Decoder output: typed metadata + a fixed-dim feature vector.
    * Image decoders fill width/height, audio decoders fill
    * sampleRate/channels/durationMs; irrelevant fields stay 0. */
  final case class Decoded(
      width: Int, height: Int, sampleRate: Int, channels: Int,
      durationMs: Long, features: Array[Float])

  /** User-pluggable media decoder: lets real codec libraries (libjpeg
    * via JNI, an mp3 decoder, an ffmpeg frame grabber) ride the same
    * mapPartitions kernel, fallback discipline, and downstream
    * dHash/near-dup machinery as the built-in JRE decoders.
    *
    * Contract: MUST be Serializable (instances ship to executors once
    * per partition, so construction may be arbitrarily heavy — lazily
    * initialize native handles in a `@transient lazy val`); MUST be
    * deterministic per payload (the md5-checksum oracle rides on it);
    * returns None for payloads it does not handle, which then fall to
    * the built-in decoders and finally the hash-derived fallback —
    * the batch never fails on a corrupt blob. */
  trait MediaDecoder extends Serializable {
    def decode(kind: String, payload: Array[Byte], dim: Int): Option[Decoded]
  }

  /** The default image reader behind [[dHash]]: ImageIO (PNG/JPEG/
    * GIF/BMP in every JRE). Exposed so plugged readers can fall back
    * to it (`bytes => custom(bytes).orElse(imageIoRead(bytes))`). */
  val imageIoRead: Array[Byte] => Option[java.awt.image.BufferedImage] =
    bytes => try {
      Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
    } catch { case _: Throwable => None }

  final case class MediaFeatures(
      media_id: Long,
      kind: String,
      n_bytes: Int,
      checksum: Long,
      decoded: Boolean,        // true iff a real decoder produced the row
      decoded_width: Int,      // 0 when not decodable / not an image
      decoded_height: Int,
      sample_rate: Int,        // 0 when not decodable / not audio
      channels: Int,
      duration_ms: Long,       // decoded audio duration (frames/rate)
      features: Array[Float])  // fixed-dim feature vector

  /** Build a media table from any binary source column. */
  def asMediaTable(df: DataFrame, idCol: String, payloadCol: String,
      kind: String, mime: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      lit(kind).as("kind"),
      col(payloadCol).cast("binary").as("payload"),
      lit(mime).as("mime"),
      lit(0).as("width"), lit(0).as("height"), lit(0L).as("duration_ms"))

  /** Real image decode: `javax.imageio` over the payload bytes.
    * Returns (width, height, pixel-statistic features): per-channel
    * means and a luma mean (exact integer accumulation, one IEEE
    * division each, scaled to [-1, 1]) followed by
    * dimension-normalized width/height — the feature shape a CLIP-ish
    * embedder would fill with the same plumbing. None when the bytes
    * are not a decodable image (wrong kind, corrupt file, or a codec
    * the JRE lacks).
    *
    * Determinism scope: features from LOSSLESS formats (PNG, BMP) are
    * bit-stable everywhere; JPEG pixel output may differ by a ULP-ish
    * amount across JRE versions/platforms (color management), so
    * cross-environment gates should pin the `checksum` column (pure
    * md5 of the payload — always stable), not JPEG-derived features. */
  private[operators] def decodeImage(bytes: Array[Byte], dim: Int): Option[(Int, Int, Array[Float])] =
    try {
      Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
        .map(pixelFeatures(_, dim))
    } catch { case _: Throwable => None }

  /** The pixel-statistic feature kernel shared by the built-in ImageIO
    * decode and any plugged codec that yields a `BufferedImage` (e.g.
    * [[PpmDecoder]]): two codecs decoding the same pixels produce
    * bit-identical features because the arithmetic lives HERE, once. */
  private[operators] def pixelFeatures(
      img: java.awt.image.BufferedImage, dim: Int): (Int, Int, Array[Float]) = {
    val (w, h) = (img.getWidth, img.getHeight)
    var (rs, gs, bs) = (0L, 0L, 0L)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = img.getRGB(x, y)
        rs += (p >>> 16) & 0xFF; gs += (p >>> 8) & 0xFF; bs += p & 0xFF
        x += 1
      }
      y += 1
    }
    val n = w.toLong * h
    def mean(s: Long) = ((s.toDouble / n) / 255.0 * 2 - 1).toFloat
    val base = Array(mean(rs), mean(gs), mean(bs),
      mean((rs * 299 + gs * 587 + bs * 114) / 1000),
      math.min(w, 4096).toFloat / 4096 * 2 - 1,
      math.min(h, 4096).toFloat / 4096 * 2 - 1)
    (w, h, Array.tabulate(dim)(i => if (i < base.length) base(i) else 0f))
  }

  /** Real audio decode: `javax.sound.sampled.AudioSystem` over the
    * payload bytes — WAV/AIFF/AU with 16-bit signed PCM decode in
    * every JRE, no external codec. Returns (sampleRate, channels,
    * durationMs, features): exact integer accumulation over the raw
    * samples (sum, abs-sum, min, max, zero crossings), each feature
    * one IEEE division, scaled to [-1, 1] — bit-stable everywhere
    * (PCM containers are lossless; there is no JPEG-style
    * color-management caveat here). None when the bytes are not a
    * decodable PCM container (compressed formats — mp3/ogg/aac — have
    * no JRE codec and take the deterministic fallback). */
  private[operators] def decodeAudio(bytes: Array[Byte], dim: Int): Option[(Int, Int, Long, Array[Float])] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = in.getFormat
        if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
            fmt.getSampleSizeInBits != 16) None
        else {
          val data = in.readAllBytes()
          val n = data.length / 2
          if (n == 0) None
          else {
            val be = fmt.isBigEndian
            var i = 0
            var (sum, absSum, zc) = (0L, 0L, 0L)
            var (mn, mx) = (Int.MaxValue, Int.MinValue)
            var prevNonNeg = false
            var first = true
            while (i + 1 < data.length) {
              val v =
                (if (be) (data(i) << 8) | (data(i + 1) & 0xFF)
                 else (data(i + 1) << 8) | (data(i) & 0xFF)).toShort.toInt
              sum += v; absSum += math.abs(v)
              if (v < mn) mn = v
              if (v > mx) mx = v
              val nonNeg = v >= 0
              if (!first && nonNeg != prevNonNeg) zc += 1
              prevNonNeg = nonNeg; first = false
              i += 2
            }
            val rate = fmt.getSampleRate.toInt
            val ch = fmt.getChannels
            // header fields are UNTRUSTED: AudioSystem parses the
            // container's little-endian rate/channel words verbatim, so
            // a bit-flipped WAV header can surface here as a negative
            // or absurd rate (fuzz-found: -16769216). A malformed
            // header is a malformed payload — refuse, don't propagate.
            if (rate <= 0 || rate > 8000000 || ch <= 0 || ch > 64) None
            else {
              val durMs = (n / ch).toLong * 1000L / rate
              val base = Array(
                ((sum.toDouble / n) / 32768.0).toFloat,
                ((absSum.toDouble / n) / 32768.0).toFloat,
                (mn / 32768.0).toFloat,
                (mx / 32768.0).toFloat,
                math.min(rate, 96000).toFloat / 96000 * 2 - 1,
                math.min(ch, 8).toFloat / 8 * 2 - 1,
                math.min(durMs, 60000).toFloat / 60000 * 2 - 1,
                (zc.toDouble / math.max(n - 1, 1)).toFloat)
              Some((rate, ch, durMs,
                Array.tabulate(dim)(i => if (i < base.length) base(i) else 0f)))
            }
          }
        }
      } finally in.close()
    } catch { case _: Throwable => None }

  /** Deterministic 16-bit mono PCM WAV fixture: frame i carries sample
    * `((seed * 31 + i * 7919) mod 65536) - 32768` — an arithmetic any
    * SQL engine replays from (seed, nFrames) alone, which is what lets
    * the REAL decode path sit under a hash-gated oracle. */
  def synthWavPcm16(seed: Long, nFrames: Int, sampleRate: Int): Array[Byte] = {
    val dataLen = nFrames * 2
    val b = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1)                       // PCM, mono
      .putInt(sampleRate).putInt(sampleRate * 2)     // byte rate
      .putShort(2).putShort(16)                      // block align, bits
    b.put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < nFrames) {
      b.putShort((((seed * 31 + i * 7919L) % 65536L) - 32768L).toShort)
      i += 1
    }
    b.array()
  }

  /** Deterministic 24-bit BMP fixture from an arbitrary grayscale
    * pixel function (`px(x, y)` in [0, 255]; r = g = b). BMP because
    * it is lossless, byte-precisely synthesizable, and decodable by
    * every JRE's ImageIO — the image analogue of [[synthWavPcm16]].
    * Rows are stored bottom-up per the format, so a y-flip slip in
    * either the writer or a reader breaks any pixel-derived gate. */
  def synthBmp24(w: Int, h: Int)(px: (Int, Int) => Int): Array[Byte] = {
    val rowBytes = w * 3
    val pad = (4 - rowBytes % 4) % 4
    val dataLen = (rowBytes + pad) * h
    val b = java.nio.ByteBuffer.allocate(54 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(54 + dataLen)
      .putShort(0).putShort(0).putInt(54)
    b.putInt(40).putInt(w).putInt(h)                 // positive h = bottom-up
      .putShort(1).putShort(24).putInt(0).putInt(dataLen)
      .putInt(0).putInt(0).putInt(0).putInt(0)
    var stored = 0
    while (stored < h) {
      val y = h - 1 - stored                         // bottom row first
      var x = 0
      while (x < w) {
        val v = (px(x, y) & 0xFF).toByte
        b.put(v).put(v).put(v)                       // B, G, R
        x += 1
      }
      var p = 0
      while (p < pad) { b.put(0.toByte); p += 1 }
      stored += 1
    }
    b.array()
  }

  /** The seeded grayscale used by the dHash gate: pixel (x, y) of
    * image `seed` is `(seed·31 + x·7 + y·131) mod 256` — replayable
    * from arithmetic alone in any SQL engine. */
  def synthBmpSeeded(seed: Long, w: Int, h: Int): Array[Byte] =
    synthBmp24(w, h)((x, y) => ((seed * 31 + x * 7L + y * 131L) % 256L).toInt)

  /** Difference hash (dHash — the standard perceptual near-dup
    * fingerprint for images) over a REAL ImageIO decode: grayscale
    * the pixels (integer luma), box-sample onto a (gw+1)×gh grid of
    * equal integer-sized cells (exact integer block SUMS — comparing
    * sums needs no division), and emit one bit per horizontally
    * adjacent cell pair (left < right). Identical content at a
    * uniform brightness shift hashes identically — which is the
    * point of a perceptual hash — while any structural change flips
    * bits. Returned as (lo, hi) 32-bit halves so the 64 bits never
    * touch a sign bit in any engine. None when the bytes don't
    * decode or the dimensions don't tile the grid exactly (the
    * fixture path always does; arbitrary inputs would interpolate —
    * out of scope for the exact gate).
    *
    * Scale: pure per-row kernel (decode + O(pixels) integer work),
    * embarrassingly parallel, only (id, 2 longs) ever shuffle.
    *
    * `read` is the codec seam: it defaults to ImageIO (PNG/JPEG/GIF/
    * BMP) and accepts any bytes→BufferedImage reader — plug
    * [[PpmDecoder.readOrImageIO]] to hash Netpbm corpora, or a JNI
    * libjpeg/ffmpeg frame grabber — and the SAME grid arithmetic runs
    * on the decoded pixels, so two codecs decoding identical content
    * produce the identical 64-bit hash (spec-pinned). */
  def dHash(bytes: Array[Byte], gw: Int = 8, gh: Int = 8,
      read: Array[Byte] => Option[java.awt.image.BufferedImage] = imageIoRead)
      : Option[(Long, Long)] =
    try {
      read(bytes)
        .filter(img => img.getWidth % (gw + 1) == 0 && img.getHeight % gh == 0)
        .map { img =>
          val (w, h) = (img.getWidth, img.getHeight)
          val (cw, ch) = (w / (gw + 1), h / gh)
          val sums = Array.ofDim[Long](gh, gw + 1)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val p = img.getRGB(x, y)
              val gray = (((p >>> 16) & 0xFF) * 299 + ((p >>> 8) & 0xFF) * 587 +
                (p & 0xFF) * 114) / 1000
              sums(y / ch)(x / cw) += gray
              x += 1
            }
            y += 1
          }
          var (lo, hi) = (0L, 0L)
          var b = 0
          while (b < gw * gh) {
            val (cy, cx) = (b / gw, b % gw)
            if (sums(cy)(cx) < sums(cy)(cx + 1)) {
              if (b < 32) lo |= 1L << b else hi |= 1L << (b - 32)
            }
            b += 1
          }
          (lo, hi)
        }
    } catch { case _: Throwable => None }

  /** The batched decode shape: partition-local iteration, one output
    * row per media row. Decode preference order per row: the
    * user-supplied [[MediaDecoder]] (when given) → the built-in REAL
    * kernels ([[decodeImage]] for images, [[decodeAudio]] for PCM
    * audio) → deterministic hash-derived fallback features, so the
    * batch never fails and downstream plans are identical either way.
    * A plugged decoder is how real JPEG/MP3/video corpora ride this
    * kernel: same schema, same partitioning, same fallback, same
    * checksum oracle. */
  def mapBatches(media: Dataset[MediaRow], dim: Int = 8,
      decoder: Option[MediaDecoder] = None): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // one digest instance per partition, reset per row
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        val bytes = if (r.payload == null) Array.empty[Byte] else r.payload
        // checksum = first 56 bits of md5(payload) — the same value any
        // SQL engine derives as ('0x' || substr(md5(payload),1,14))::BIGINT,
        // so the decode output is oracle-checkable end to end
        md.reset()
        val checksum = md.digest(bytes).take(7)
          .foldLeft(0L)((a, b) => (a << 8) | (b & 0xFFL))
        val plugged: Option[MediaFeatures] = decoder.flatMap(dec =>
          try dec.decode(r.kind, bytes, dim) catch { case _: Throwable => None })
          .map(d => MediaFeatures(r.media_id, r.kind, bytes.length, checksum,
            decoded = true, d.width, d.height, d.sampleRate, d.channels,
            d.durationMs, d.features))
        val decoded: Option[MediaFeatures] = plugged.orElse(r.kind match {
          case "image" => decodeImage(bytes, dim).map { case (w, h, feats) =>
            MediaFeatures(r.media_id, r.kind, bytes.length, checksum,
              decoded = true, w, h, 0, 0, 0L, feats)
          }
          case "audio" => decodeAudio(bytes, dim).map { case (rate, ch, durMs, feats) =>
            MediaFeatures(r.media_id, r.kind, bytes.length, checksum,
              decoded = true, 0, 0, rate, ch, durMs, feats)
          }
          case _ => None
        })
        decoded.getOrElse {
          val feats = Array.tabulate(dim)(i =>
            (((checksum >>> (i * 8)) & 0xFF).toFloat / 255.0f) * 2 - 1)
          MediaFeatures(r.media_id, r.kind, bytes.length, checksum,
            decoded = false, 0, 0, 0, 0, 0L, feats)
        }
      }
    }
  }

  /** Frame sampling plan for video rows: one output row per sampled
    * frame index — an explode, so it parallelizes with the data. */
  def sampleFrames(df: DataFrame, everyMs: Long): DataFrame =
    df.filter(col("kind") === "video" && col("duration_ms") > 0)
      .withColumn("frame_ms",
        explode(sequence(lit(0L), col("duration_ms") - 1, lit(everyMs))))

  /** End-to-end feature extraction from a DataFrame with a binary
    * payload: schema in, schema out, binary dropped after decode.
    * `decoder` plugs a user codec in front of the built-ins. */
  def extractFeatures(spark: SparkSession, media: DataFrame,
      decoder: Option[MediaDecoder] = None): DataFrame = {
    import spark.implicits._
    mapBatches(media.as[MediaRow], decoder = decoder).toDF()
  }

  /** Exact media dedup by content hash — byte-identical payloads
    * (re-ingested files, mirrored URLs) collapse to the lowest id.
    * The shuffle key is the 128-bit md5 of the payload, never the
    * payload itself: at 100 TB of media the wide binary column stays
    * in the scan and only ~24 bytes + id travel. The length component
    * closes the md5 chosen-prefix-collision hole: practical collision
    * constructions pad, so an adversarial different-bytes pair rarely
    * shares the composite (md5, length) key, and honest payloads
    * never collide on it in practice. Perceptual (near-dup)
    * media hashing slots into the same shape with the SimHash banding
    * of [[Dedup]] over decoder-derived features. */
  def dedupExact(media: DataFrame, idCol: String = "media_id",
      payloadCol: String = "payload"): DataFrame =
    media.groupBy(md5(col(payloadCol)).as("content_hash"),
        length(col(payloadCol)).as("n_bytes"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))
      // n_bytes stays in the output: it is PART of the dedup key, and
      // projecting it away would let an adversarial equal-md5 pair
      // surface as two rows with an identical-looking content_hash —
      // downstream joins must key on (content_hash, n_bytes)
      .select("content_hash", "n_bytes", "keep_id", "dup_count")

  /** Video near-dup from per-frame perceptual signatures: each frame
    * payload decodes through the REAL [[dHash]] kernel, and two
    * videos are near-duplicates when at least `minMatchFrac` of the
    * LONGER video's frames agree bit-exactly (same frame index, same
    * 64-bit dHash) — re-encodes and uniform brightness shifts match
    * (dHash invariance), edits/insertions drop aligned agreement.
    *
    * Output: one row per near-dup pair `(id_a < id_b, n_match,
    * n_frames_a, n_frames_b)`; compose with
    * [[graft.operators.Dedup.collapseNearDuplicates]] for the
    * cluster collapse (CC min-label), exactly like the text dedups.
    *
    * Scale shape: the payload never survives the decode — only
    * `(video, frame, 2 longs)` shuffle. Candidates come from an
    * equi-join on `(frame_idx, dhash)`, so cost is bounded by videos
    * that actually SHARE identical frame content, never all-pairs.
    * `maxFrameFreq > 0` drops frame signatures shared by more videos
    * than the cap before pairing — the hot-shingle discipline for
    * degenerate common frames (black frames, title cards) whose
    * candidate fan-out is quadratic and whose evidence value is nil. */
  def videoNearDup(frames: DataFrame, minMatchFrac: Double,
      idCol: String = "video_id", frameCol: String = "frame_idx",
      payloadCol: String = "payload", maxFrameFreq: Long = 0L,
      read: Array[Byte] => Option[java.awt.image.BufferedImage] = imageIoRead)
      : DataFrame = {
    val spark = frames.sparkSession
    import spark.implicits._
    val sig = frames
      .select(col(idCol).cast("long"), col(frameCol).cast("int"), col(payloadCol))
      .as[(Long, Int, Array[Byte])]
      .mapPartitions(_.map { case (v, k, bytes) =>
        val (lo, hi) = dHash(bytes, read = read)
          .getOrElse(sys.error(s"video $v frame $k failed to decode"))
        (v, k, lo, hi)
      })
      .toDF("_vid", "_frame", "_lo", "_hi")
      .localCheckpoint(false) // decode once: feeds counts + both join sides
    val nFrames = sig.groupBy("_vid").agg(count(lit(1)).as("_nf"))
    val pairable =
      if (maxFrameFreq <= 0L) sig
      else {
        val hot = sig.groupBy("_frame", "_lo", "_hi")
          .agg(count(lit(1)).as("_freq"))
          .filter(col("_freq") > maxFrameFreq)
          .select("_frame", "_lo", "_hi")
        sig.join(hot, Seq("_frame", "_lo", "_hi"), "left_anti")
      }
    val a = pairable.select(col("_vid").as("id_a"), col("_frame"), col("_lo"), col("_hi"))
    val b = pairable.select(col("_vid").as("id_b"), col("_frame"), col("_lo"), col("_hi"))
    a.join(b, Seq("_frame", "_lo", "_hi"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_match"))
      .join(nFrames.select(col("_vid").as("id_a"), col("_nf").as("n_frames_a")), "id_a")
      .join(nFrames.select(col("_vid").as("id_b"), col("_nf").as("n_frames_b")), "id_b")
      .filter(col("n_match").cast("double") >=
        lit(minMatchFrac) * greatest(col("n_frames_a"), col("n_frames_b")).cast("double"))
      .select("id_a", "id_b", "n_match", "n_frames_a", "n_frames_b")
  }
}
