package graft.pipeline

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.util.Checkpoints

/** Multimodal column handling: media payloads travel as opaque `binary`
  * columns next to a typed metadata struct; decode / feature-extraction /
  * frame-sampling run per-partition so one task amortizes decoder setup
  * over its whole batch. The codecs are REAL pure-JVM decoders — a RIFF/
  * WAVE PCM chunk-walker and PNG via javax.imageio — no external libs.
  *
  * Scale notes (100 TB): payload bytes never shuffle — features are
  * extracted map-side and the binary column is dropped before any wide
  * operation. Partition sizing is the reader's maxPartitionBytes concern,
  * not this operator's. Integer features (sums of squares, pixel sums) are
  * exact, so results are partitioning- and platform-independent.
  *
  * Near-duplicate matching works on fingerprints as `BIGINT` words: hex
  * fingerprints convert once per row ([[hexWords]]), video frames come
  * out of the decoder as words, and pairs, resolves and both video
  * operators run on [[Dedup]]'s shared collapse, band self-join and
  * member expansion. Public outputs keep their hex columns.
  */
object Multimodal {

  /** One media asset: opaque payload + typed metadata. */
  case class MediaRow(doc_id: Long, media_type: String, payload: Array[Byte])

  /** Decoded per-asset features. Audio rows carry sample_rate; image rows
    * carry width/height; `n_units` is samples or pixels; `sum_feat` is the
    * energy sum (Σ s², audio) or gray-value sum (image); `peak_feat` is
    * the peak |sample| (audio) or the 8×8 nearest-neighbor downsample's
    * pixel sum (image). Integer math end to end — exact at any scale. */
  case class MediaFeatures(doc_id: Long, media_type: String,
                           width: Option[Int], height: Option[Int],
                           sample_rate: Option[Int], n_units: Long,
                           sum_feat: Long, peak_feat: Long)

  // ---- WAV (RIFF/WAVE, PCM16LE mono) --------------------------------------

  private def putIntLE(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = v.toByte; b(off + 1) = (v >> 8).toByte
    b(off + 2) = (v >> 16).toByte; b(off + 3) = (v >> 24).toByte
  }
  private def putShortLE(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = v.toByte; b(off + 1) = (v >> 8).toByte
  }
  private def intLE(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)
  private def shortLE(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)).toShort.toInt

  /** Encode PCM16 mono samples as a standard 44-byte-header WAV file. */
  def encodeWav(samples: Array[Int], sampleRate: Int): Array[Byte] = {
    val dataLen = samples.length * 2
    val b = new Array[Byte](44 + dataLen)
    "RIFF".getBytes("US-ASCII").copyToArray(b, 0)
    putIntLE(b, 4, 36 + dataLen)
    "WAVE".getBytes("US-ASCII").copyToArray(b, 8)
    "fmt ".getBytes("US-ASCII").copyToArray(b, 12)
    putIntLE(b, 16, 16) // PCM fmt chunk size
    putShortLE(b, 20, 1) // PCM
    putShortLE(b, 22, 1) // mono
    putIntLE(b, 24, sampleRate)
    putIntLE(b, 28, sampleRate * 2) // byte rate
    putShortLE(b, 32, 2) // block align
    putShortLE(b, 34, 16) // bits
    "data".getBytes("US-ASCII").copyToArray(b, 36)
    putIntLE(b, 40, dataLen)
    var i = 0
    while (i < samples.length) { putShortLE(b, 44 + 2 * i, samples(i)); i += 1 }
    b
  }

  /** Real WAV decode: walk the RIFF chunk list (tolerating extra chunks
    * before `data`), check PCM16 mono, return (sampleRate, samples). */
  def decodeWav(payload: Array[Byte]): (Int, Array[Int]) = {
    require(payload.length >= 44 &&
      new String(payload, 0, 4, "US-ASCII") == "RIFF" &&
      new String(payload, 8, 4, "US-ASCII") == "WAVE", "not a RIFF/WAVE file")
    var off = 12
    var sampleRate = -1
    var samples: Array[Int] = null
    while (off + 8 <= payload.length && (sampleRate < 0 || samples == null)) {
      val id = new String(payload, off, 4, "US-ASCII")
      val len = intLE(payload, off + 4)
      id match {
        case "fmt " =>
          require(shortLE(payload, off + 8) == 1, "not PCM")
          require(shortLE(payload, off + 10) == 1, "not mono")
          require(shortLE(payload, off + 22) == 16, "not 16-bit")
          sampleRate = intLE(payload, off + 12)
        case "data" =>
          val n = len / 2
          samples = new Array[Int](n)
          var i = 0
          while (i < n) { samples(i) = shortLE(payload, off + 8 + 2 * i); i += 1 }
        case _ => () // skip unknown chunk
      }
      off += 8 + len + (len & 1) // chunks are word-aligned
    }
    require(sampleRate > 0 && samples != null, "missing fmt/data chunk")
    (sampleRate, samples)
  }

  // ---- PNG (grayscale, javax.imageio) -------------------------------------

  /** Encode an 8-bit grayscale pixel function as a PNG (lossless). */
  def encodePng(width: Int, height: Int, pixel: (Int, Int) => Int): Array[Byte] = {
    val img = new BufferedImage(width, height, BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { raster.setSample(x, y, 0, pixel(x, y) & 0xff); x += 1 }
      y += 1
    }
    val out = new ByteArrayOutputStream()
    ImageIO.setUseCache(false) // no temp-file cache inside executor tasks
    ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Real PNG decode via the JDK ImageIO codec; returns the raw gray
    * raster. PNG is lossless, so decoded samples equal the encoded ones. */
  def decodePng(payload: Array[Byte]): BufferedImage = {
    ImageIO.setUseCache(false)
    val img = ImageIO.read(new ByteArrayInputStream(payload))
    require(img != null, "undecodable image payload")
    img
  }

  // ---- video (GVID: length-prefixed PNG frames) ----------------------------

  /** Encode frames as a minimal real container: "GVID" magic, frame count,
    * fps, then [int32 length][PNG bytes] per frame — the moral equivalent
    * of MJPEG-in-AVI with the container bookkeeping kept honest (magic
    * check, bounds-checked index walk) while each frame uses the real
    * JDK PNG codec. A production deployment swaps the per-frame decoder
    * for an H.264 library; the Spark-side plumbing (binary column,
    * per-partition decode, stride sampling, feature rows out) is
    * identical. */
  def encodeVideo(frames: Seq[Array[Byte]], fps: Int): Array[Byte] = {
    val total = 12 + frames.map(_.length + 4).sum
    val b = new Array[Byte](total)
    "GVID".getBytes("US-ASCII").copyToArray(b, 0)
    putIntLE(b, 4, frames.length)
    putIntLE(b, 8, fps)
    var off = 12
    frames.foreach { f =>
      putIntLE(b, off, f.length)
      f.copyToArray(b, off + 4)
      off += 4 + f.length
    }
    b
  }

  /** Walk the container index: (fps, frame payloads). */
  def decodeVideo(payload: Array[Byte]): (Int, IndexedSeq[Array[Byte]]) = {
    require(payload.length >= 12 &&
      new String(payload, 0, 4, "US-ASCII") == "GVID", "not a GVID container")
    val n = intLE(payload, 4)
    val fps = intLE(payload, 8)
    var off = 12
    val frames = (0 until n).map { _ =>
      require(off + 4 <= payload.length, "truncated frame index")
      val len = intLE(payload, off)
      // compare against the REMAINING length so a crafted 2^31-ish frame
      // length cannot overflow `off + 4 + len` past the check
      require(len >= 0 && len <= payload.length - off - 4, "truncated frame")
      val f = java.util.Arrays.copyOfRange(payload, off + 4, off + 4 + len)
      off += 4 + len
      f
    }
    (fps, frames)
  }

  // ---- deterministic synthesized assets -----------------------------------

  /** Synthesized PCM asset for doc `id`: 8 kHz mono, 200 + id%100 samples,
    * s_i = ((id*31 + i²*7) mod 20001) - 10000 — integer math the oracle
    * reproduces without any codec. */
  def synthWavAsset(id: Long): Array[Byte] = {
    val n = (200 + id % 100).toInt
    val s = Array.tabulate(n)(i => (((id * 31 + i.toLong * i * 7) % 20001) - 10000).toInt)
    encodeWav(s, 8000)
  }

  /** Synthesized grayscale asset for doc `id`: (16 + id%8) × (12 + id%5),
    * pixel(x,y) = (id*7 + x*13 + y*29) mod 256. */
  def synthPngAsset(id: Long): Array[Byte] =
    encodePng((16 + id % 8).toInt, (12 + id % 5).toInt,
      (x, y) => ((id * 7 + x * 13 + y * 29) % 256).toInt)

  /** Synthesized video for doc `id`: (6 + id%5) frames of the PNG pattern
    * with an extra per-frame term, pixel(f,x,y) = (id*7 + f*11 + x*13 +
    * y*29) mod 256 at 4 fps — integer math the oracle reproduces without
    * any codec. */
  def synthVideoAsset(id: Long): Array[Byte] = {
    val (w, h) = ((16 + id % 8).toInt, (12 + id % 5).toInt)
    val frames = (0 until (6 + id % 5).toInt).map(f =>
      encodePng(w, h, (x, y) => ((id * 7 + f * 11 + x * 13 + y * 29) % 256).toInt))
    encodeVideo(frames, fps = 4)
  }

  /** Per-video frame-sampled features: container stats plus, over every
    * `stride`-th frame, the summed gray values and a first-difference
    * motion estimate Σ|sum_k − sum_{k−1}|. */
  case class VideoFeatures(doc_id: Long, n_frames: Int, n_sampled: Int,
                           width: Int, height: Int, sampled_sum: Long,
                           motion: Long)

  /** Frame-sampling + per-frame decode, per-partition like
    * [[extractFeatures]]: the container index walk skips NON-sampled
    * frames without decoding them (the point of stride sampling — a 1%
    * sample pays 1% of the decode), and only the integer feature row
    * leaves the task. */
  def videoFrameFeatures(media: DataFrame, stride: Int): DataFrame = {
    require(stride > 0, s"stride must be positive: $stride")
    val spark = media.sparkSession
    import spark.implicits._
    val ds: Dataset[MediaRow] = media.select("doc_id", "media_type", "payload")
      .as[MediaRow]
    ds.mapPartitions { rows =>
      rows.map { r =>
        require(r.media_type == "video/gvid", s"no video decoder for ${r.media_type}")
        val (_, frames) = decodeVideo(r.payload)
        var width = 0; var height = 0
        var total = 0L; var motion = 0L; var prev = -1L; var sampled = 0
        var f = 0
        while (f < frames.length) {
          if (f % stride == 0) {
            val img = decodePng(frames(f))
            val raster = img.getRaster
            width = img.getWidth; height = img.getHeight
            var sum = 0L
            var y = 0
            while (y < height) {
              var x = 0
              while (x < width) { sum += raster.getSample(x, y, 0); x += 1 }
              y += 1
            }
            total += sum
            if (prev >= 0L) motion += math.abs(sum - prev)
            prev = sum
            sampled += 1
          }
          f += 1
        }
        VideoFeatures(r.doc_id, frames.length, sampled, width, height, total, motion)
      }
    }.toDF()
  }

  // ---- feature extraction ---------------------------------------------------

  case class DhashRow(doc_id: Long, w: Int, h: Int, dhash: String)

  /** The 64-bit dHash of one decoded image as a word: byte y is row y
    * (bit x = g[x+1][y] > g[x][y]), most significant first, so its
    * 16-hex-char rendering ([[dhashOf]]) reads the rows in order. */
  private def dhashWord(img: BufferedImage): Long = {
    val raster = img.getRaster
    val (w, h) = (img.getWidth, img.getHeight)
    val g = Array.tabulate(9, 8)((x, y) =>
      raster.getSample(x * w / 9, y * h / 8, 0))
    var word = 0L
    var y = 0
    while (y < 8) {
      var b = 0
      var x = 0
      while (x < 8) { if (g(x + 1)(y) > g(x)(y)) b |= 1 << x; x += 1 }
      word = (word << 8) | b
      y += 1
    }
    word
  }

  /** [[dhashWord]] as 16 hex chars — shared by [[imageDhash]] and the
    * sequence fingerprint. */
  private def dhashOf(img: BufferedImage): String = f"${dhashWord(img)}%016x"

  /** Perceptual difference-hash (dHash) of grayscale PNGs — the standard
    * image near-dup fingerprint: nearest-neighbor downsample to a 9×8
    * grid, one bit per horizontally-adjacent pair (left < right), 64
    * bits emitted as 16 hex chars (row-major bytes, bit x of row y =
    * g[x+1][y] > g[x][y]). Identical images hash identically at any
    * storage encoding (the hash reads decoded PIXELS); small brightness
    * or single-pixel edits flip at most the few bits whose sample grid
    * cells they touch — exact-hash grouping catches re-encodes, Hamming
    * distance over the hash catches near-dups (the p4 SimHash
    * machinery applies unchanged).
    *
    * Scale shape: mapPartitions decode — payloads never shuffle, only
    * (doc_id, w, h, 16-char hash) rows leave the task. */
  def imageDhash(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("doc_id", "media_type", "payload").as[MediaRow]
      .mapPartitions { rows =>
        rows.map { r =>
          require(r.media_type == "image/png",
            s"imageDhash expects image/png, got ${r.media_type}")
          val img = decodePng(r.payload)
          DhashRow(r.doc_id, img.getWidth, img.getHeight, dhashOf(img))
        }
      }.toDF()
  }

  case class AudioFpRow(doc_id: Long, n_samples: Int, n_windows: Int,
                        fingerprint: String)

  /** Delta-energy audio fingerprint — [[imageDhash]]'s idea on the time
    * axis (the Shazam/chromaprint family reduced to its deterministic
    * core): the decoded samples split into `nWindows` equal windows
    * (remainder to the last), per-window energy Σs², one bit per
    * adjacent pair (energy rises), emitted as hex (nWindows−1 bits,
    * zero-padded to whole bytes, little bit first — bit j of byte b =
    * pair 8b+j). Byte-identical re-encodes fingerprint identically; a
    * localized edit flips only the bits whose windows it touches.
    * Energies are exact integer sums, so the fingerprint is
    * engine/partitioning-invariant and the oracle replays it from the
    * synthesis formula.
    *
    * Scale shape: mapPartitions decode, payloads never shuffle. */
  def audioFingerprint(media: DataFrame, nWindows: Int): DataFrame = {
    require(nWindows >= 2, s"nWindows=$nWindows")
    val spark = media.sparkSession
    import spark.implicits._
    media.select("doc_id", "media_type", "payload").as[MediaRow]
      .mapPartitions { rows =>
        rows.map { r =>
          require(r.media_type == "audio/wav",
            s"audioFingerprint expects audio/wav, got ${r.media_type}")
          val (_, s) = decodeWav(r.payload)
          val n = s.length
          val base = n / nWindows
          require(base >= 1, s"need >= $nWindows samples, got $n")
          val e = new Array[Long](nWindows)
          var w = 0
          while (w < nWindows) {
            val lo = w * base
            val hi = if (w == nWindows - 1) n else (w + 1) * base
            var acc = 0L
            var i = lo
            while (i < hi) { acc += s(i).toLong * s(i); i += 1 }
            e(w) = acc
            w += 1
          }
          val nBits = nWindows - 1
          val sb = new StringBuilder
          var b = 0
          while (b * 8 < nBits) {
            var by = 0
            var j = 0
            while (j < 8 && b * 8 + j < nBits) {
              if (e(b * 8 + j + 1) > e(b * 8 + j)) by |= 1 << j
              j += 1
            }
            sb.append(f"$by%02x")
            b += 1
          }
          AudioFpRow(r.doc_id, n, nWindows, sb.toString)
        }
      }.toDF()
  }

  /** Hex fingerprints as machine words, once per row: (id, fp BIGINT)
    * from (doc_id, `hashCol`). `conv(hex, 16, -10)` keeps all 64 bits
    * (ffffffffffffffff → −1), and reading the hex big-endian leaves every
    * Hamming distance unchanged. */
  private[graft] def hexWords(hashes: DataFrame, hashCol: String): DataFrame =
    hashes.select(col("doc_id").as("id"),
      conv(col(hashCol), 16, -10).cast("long").as("fp"))

  /** Banded near-dup pairs over [[imageDhash]] hashes — the
    * [[graft.pipeline.Dedup.simhashPairs]] discipline on the image
    * fingerprint, through [[graft.pipeline.Dedup.hammingPairs]]: the
    * 64-bit word splits into 4 bands of 16 bits, candidates share at
    * least one band, verification is `bit_count(a ^ b)`. Pigeonhole:
    * ≤ 3 flipped bits leave ≥ 1 of 4 bands intact, so recall is
    * GUARANTEED for `maxDist` ≤ 3 (hence the same require as
    * simhashPairs). Identical hashes collapse to one representative
    * before banding, so a corpus-sized cluster of all-black thumbnails
    * never makes candidate generation quadratic. Returns
    * (a_id, b_id, hamming). */
  def dhashNearDupPairs(hashes: DataFrame, maxDist: Int): DataFrame =
    Dedup.hammingPairs(hexWords(hashes, "dhash"), nBits = 64, maxDist)

  /** [[audioFingerprint]] as one word per clip: 32 bits (33 windows) or
    * 64 bits (65 windows), the widths that split into 4 whole-byte bands
    * of one word. */
  private def audioWords(media: DataFrame, nWindows: Int): DataFrame = {
    require(nWindows == 33 || nWindows == 65,
      s"nWindows=$nWindows: audio near-dup needs one 32- or 64-bit word, nWindows 33 or 65")
    hexWords(audioFingerprint(media, nWindows), "fingerprint")
  }

  /** Banded near-dup pairs over [[audioFingerprint]] outputs — the
    * [[dhashNearDupPairs]] machinery on the delta-energy audio
    * fingerprint: the (nWindows−1)-bit word splits into 4 bands, so a
    * clip whose perturbation flips ≤ 3 delta bits (a localized edit
    * touches one window → ≤ 2 adjacent bits) is still guaranteed a
    * candidate band. `nWindows` is 33 or 65. Band width picks bucket
    * count — the quadratic-occupancy knob at corpus scale: prefer 65
    * windows (64 bits → 4×16-bit bands, 65k buckets/band — the
    * [[imageDhash]] shape) whenever clips have ≥ 65 samples; 33 (1-byte
    * bands, 256 buckets) only for very short clips. */
  def audioNearDupPairs(media: DataFrame, nWindows: Int,
                        maxDist: Int): DataFrame =
    Dedup.hammingPairs(audioWords(media, nWindows), nWindows - 1, maxDist)

  /** Canonical keep-verdict over image near-dups — the
    * [[graft.pipeline.Dedup.resolveByComponents]] composition applied to
    * the [[dhashNearDupPairs]] machinery: near-dup pairs become edges,
    * connected components become duplicate clusters, the minimum doc id
    * is the canonical. Returns (doc_id, cluster_id, keep) for EVERY
    * image — the keep-list a corpus dedup actually consumes, not the
    * pair list. The components run over spanning edges, not the pair
    * clique ([[graft.pipeline.Dedup.hammingEdges]]): an m-item identical
    * cluster contributes m−1 star edges. Eagerly materialized; nothing
    * else stays persisted. */
  def resolveImageNearDups(media: DataFrame, maxDist: Int): DataFrame =
    Dedup.resolveHamming(hexWords(imageDhash(media), "dhash"), nBits = 64, maxDist)

  /** [[resolveImageNearDups]] for audio: banded near-dup pairs over the
    * delta-energy fingerprint composed with connected components into the
    * canonical keep-verdict (doc_id, cluster_id, keep) for EVERY clip. */
  def resolveAudioNearDups(media: DataFrame, nWindows: Int,
                           maxDist: Int): DataFrame =
    Dedup.resolveHamming(audioWords(media, nWindows), nWindows - 1, maxDist)

  case class VideoFpRow(doc_id: Long, n_frames: Int, n_sampled: Int,
                        seq_fp: String)

  /** Perceptual video fingerprint: per-sampled-frame [[dhashOf]] over the
    * GVID index walk (non-sampled frames are index-skipped, never
    * decoded — the [[videoFrameFeatures]] stride discipline), folded
    * ORDER-SENSITIVELY into one sequence fingerprint: md5 over the
    * concatenated frame dHash hex strings in frame order. Two videos
    * match iff their sampled frames are perceptually identical IN THE
    * SAME ORDER — a re-encode (same frames, different container
    * metadata/bytes) fingerprints identically, while a reordered or
    * edited cut does not. Exact grouping on `seq_fp` is the video
    * analogue of [[imageDhash]]-based exact grouping.
    *
    * Scale shape: mapPartitions decode, payloads never shuffle; only
    * (doc_id, counts, 32-char fingerprint) rows leave the task. */
  def videoSeqFingerprint(media: DataFrame, stride: Int): DataFrame = {
    require(stride > 0, s"stride must be positive: $stride")
    val spark = media.sparkSession
    import spark.implicits._
    media.select("doc_id", "media_type", "payload").as[MediaRow]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { r =>
          require(r.media_type == "video/gvid",
            s"no video decoder for ${r.media_type}")
          val (_, frames) = decodeVideo(r.payload)
          val sb = new StringBuilder
          var sampled = 0
          var f = 0
          while (f < frames.length) {
            if (f % stride == 0) {
              sb.append(dhashOf(decodePng(frames(f))))
              sampled += 1
            }
            f += 1
          }
          md.reset()
          val fp = md.digest(sb.toString.getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
          VideoFpRow(r.doc_id, frames.length, sampled, fp)
        }
      }.toDF()
  }

  case class ResizeRow(doc_id: Long, src_w: Int, src_h: Int,
                       out_w: Int, out_h: Int, sum_px: Long, px_md5: String)

  /** Nearest-neighbor image RESIZE — the remaining verb of the
    * decode / feature-extract / resize / frame-sample family as its own
    * operator: every image resamples to `outW`×`outH` (source pixel
    * (x·w/outW, y·h/outH), the [[dhashOf]] grid convention), emitting
    * exact integer digests of the RESIZED raster — the pixel sum and an
    * md5 over the row-major comma-joined decimal pixel values (portable:
    * no raw bytes cross an engine boundary). A production pipeline would
    * write the resized payload back to a binary column; the digests are
    * what make the transform oracle-checkable, and the resample itself
    * is the real computation either way.
    *
    * Scale shape: mapPartitions decode+resample — payloads never
    * shuffle, only (doc_id, dims, sum, 32-char digest) rows leave. */
  def resizeFeatures(media: DataFrame, outW: Int, outH: Int): DataFrame = {
    require(outW > 0 && outH > 0, s"outW=$outW outH=$outH")
    val spark = media.sparkSession
    import spark.implicits._
    media.select("doc_id", "media_type", "payload").as[MediaRow]
      .mapPartitions { rows =>
        rows.map { r =>
          require(r.media_type == "image/png",
            s"resizeFeatures expects image/png, got ${r.media_type}")
          val img = decodePng(r.payload)
          val raster = img.getRaster
          val (w, h) = (img.getWidth, img.getHeight)
          val sb = new StringBuilder
          var sum = 0L
          var y = 0
          while (y < outH) {
            var x = 0
            while (x < outW) {
              val v = raster.getSample(x * w / outW, y * h / outH, 0)
              sum += v
              if (sb.nonEmpty) sb.append(',')
              sb.append(v)
              x += 1
            }
            y += 1
          }
          val md = java.security.MessageDigest.getInstance("MD5")
          val digest = md.digest(sb.toString.getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
          ResizeRow(r.doc_id, w, h, outW, outH, sum, digest)
        }
      }.toDF()
  }

  case class FrameWordsRow(id: Long, n_sampled: Int, seq: Array[Long])

  /** One row per video: its sampled frames' [[dhashWord]]s in frame
    * order — [[videoSeqFingerprint]] without the order-sensitive fold, for
    * tolerant frame-level matching. Non-sampled frames are index-skipped,
    * never decoded. */
  private def videoFrameWords(media: DataFrame, stride: Int): DataFrame = {
    require(stride > 0, s"stride must be positive: $stride")
    val spark = media.sparkSession
    import spark.implicits._
    media.select("doc_id", "media_type", "payload").as[MediaRow]
      .mapPartitions { rows =>
        rows.map { r =>
          require(r.media_type == "video/gvid",
            s"no video decoder for ${r.media_type}")
          val (_, frames) = decodeVideo(r.payload)
          val seq = (0 until frames.length by stride)
            .map(f => dhashWord(decodePng(frames(f)))).toArray
          FrameWordsRow(r.doc_id, seq.length, seq)
        }
      }.toDF()
  }

  /** The exact-equal collapse of both video near-dup operators: videos
    * with identical sampled frame-word sequences band once through a
    * representative, so a corpus-sized cluster of identical videos (and
    * every bucket a shared frame would flood) costs O(m), not m²/2.
    * (id, n_sampled, seq, members). */
  private def videoReps(media: DataFrame, stride: Int): DataFrame =
    Dedup.collapse(videoFrameWords(media, stride), "id",
      col("n_sampled"), col("seq"))

  /** Tolerant video near-dup pairs — the banded-Hamming discipline at
    * FRAME level, catching what [[videoSeqFingerprint]]'s exact grouping
    * cannot: a re-encode with a few perturbed frames. Per sampled frame,
    * the 64-bit dHash splits into 4 bands keyed by (sampled-frame count,
    * frame index, band); candidate videos share a band on SOME aligned
    * frame (and have the same sampled-frame count — the alignment
    * contract), then verify by the exact TOTAL Hamming distance
    * sum(bit_count(a ^ b)) over all aligned frames, kept at ≤ `maxTotal`.
    * Recall contract: any pair with at least one aligned frame within 3
    * flipped bits is guaranteed a candidate (pigeonhole per frame) — the
    * typical near-dup, where most frames are untouched, trivially
    * qualifies.
    *
    * Scale shape: only representatives' (id, frame band) keys join —
    * bounded by per-key bucket occupancy, never all-pairs; the verify
    * zips the two candidates' word arrays, no per-frame join; payloads
    * are dropped map-side after the per-partition decode. */
  def videoNearDupPairs(media: DataFrame, stride: Int,
                        maxTotal: Int): DataFrame = {
    require(maxTotal >= 0, s"maxTotal=$maxTotal")
    val banded = videoReps(media, stride).withColumn("bands", flatten(transform(
      col("seq"), (fp, i) => array(Dedup.hammingBandKeys(fp, 64)
        .map(k => struct(col("n_sampled"), i, k)): _*))))
    val repPairs = Dedup.repBandCandidates(banded, "seq", "members")
      .select((col("a_id") === col("b_id")).as("self"), col("a_members"),
        col("b_members"),
        aggregate(zip_with(col("a_seq"), col("b_seq"),
          (x, y) => bit_count(x.bitwiseXOR(y))), lit(0), _ + _).as("total_hamming"))
      .where(col("total_hamming") <= maxTotal)
    Dedup.expandMembers(repPairs, col("total_hamming"))
  }

  /** SHIFT-tolerant video near-dup pairs — what [[videoNearDupPairs]]'s
    * aligned-frame contract (equal sampled count, equal frame indexes)
    * structurally misses: a TRIMMED copy (intro dropped, recap cut) never
    * aligns index-for-index. Candidates come from frame-word SHINGLES —
    * `shingleK` consecutive per-frame dHashes, keyed by VALUE only (no
    * frame index), so a copy shifted by any offset still shares every
    * interior shingle; verification finds the best global alignment: for
    * each candidate pair, count exact frame-hash matches at every offset
    * δ = fidx_b − fidx_a, keep the δ with the highest count (ties to the
    * smallest δ), and emit pairs aligning at least `minAligned` frames.
    * Returns (a_id, b_id, best_offset, n_aligned), a_id < b_id,
    * best_offset oriented b-relative-to-a.
    *
    * Use stride 1 (every frame hashed): stride-s sampling breaks shift
    * tolerance for trims that are not multiples of s — the sampled frame
    * sets of copy and source interleave and never hash-match.
    *
    * Scale shape: only (id, shingle) rows reach the candidate join and
    * (id, frame index, word) rows the verify joins — payloads never
    * shuffle. Exact-equal SEQUENCES collapse to one representative
    * before shingling ([[videoReps]]); an identical group's own pairs
    * align exactly at δ = 0 with every frame matched (count(0) = n
    * strictly dominates count(δ≠0) ≤ n−|δ|), and both alignment
    * orientations are computed rep-level so member expansion stays exact
    * even on tie-broken offsets. */
  def videoShiftNearDupPairs(media: DataFrame, stride: Int, shingleK: Int,
                             minAligned: Int): DataFrame = {
    require(shingleK >= 1, s"shingleK=$shingleK")
    require(minAligned >= 1, s"minAligned=$minAligned")
    // checkpointed: the shingle join, both frame sides and both member
    // sides read it
    val reps = videoReps(media, stride).localCheckpoint(true)
    val shingled = reps.where(col("n_sampled") >= shingleK)
      .withColumn("bands", transform(
        sequence(lit(1), col("n_sampled") - shingleK + 1),
        j => slice(col("seq"), j, lit(shingleK))))
    def frames(p: String, i: String) = reps.select(col("id").as(s"${p}_id"),
      posexplode(col("seq")).as(Seq(i, "fp")))
    // both sides plan alike, so the second reuses the first's broadcast:
    // state the filter the explode below would infer for side a only
    def members(p: String) = reps.where(size(col("members")) > 0)
      .select(col("id").as(s"${p}_id"), col("members").as(s"${p}_members"))
    // per-offset match counts: an equi-join on the frame word — never a
    // positional cross product
    val counts = Dedup.repBandCandidates(shingled)
      .join(frames("a", "ai"), "a_id")
      .join(frames("b", "bi"), Seq("b_id", "fp"))
      .groupBy(col("a_id"), col("b_id"), (col("bi") - col("ai")).as("off"))
      .agg(count(lit(1)).as("n_aligned"))
    // both orientations' argmax (max count; tie min δ for a→b, which is
    // max δ negated for b→a) so member pairs whose id order flips the
    // group orientation still expand to the oracle-exact offset
    val repPairs = counts.groupBy("a_id", "b_id")
      .agg(max(struct(col("n_aligned"), (-col("off")).as("no"))).as("fw"),
        max(struct(col("n_aligned"), col("off").as("po"))).as("rv"))
      .where(col("fw.n_aligned") >= minAligned)
      .join(members("a"), "a_id")
      .join(members("b"), "b_id")
      .select((col("a_id") === col("b_id")).as("self"), col("a_members"),
        col("b_members"), (-col("fw.no")).as("off_fwd"),
        (-col("rv.po")).as("off_rev"), col("fw.n_aligned").as("n_aligned"))
    val out = Dedup.expandMembers(repPairs,
        when(col("ma") < col("mb"), col("off_fwd"))
          .otherwise(col("off_rev")).cast("int").as("best_offset"),
        col("n_aligned"))
      .localCheckpoint(true)
    Checkpoints.free(reps)
    out
  }

  /** Per-partition decode + feature extraction: the decoders and any codec
    * state initialize once per partition and stream over the batch; only
    * the small integer feature rows leave the task — payloads never
    * shuffle. Dispatch on media_type. */
  def extractFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val ds: Dataset[MediaRow] = media.select("doc_id", "media_type", "payload")
      .as[MediaRow]
    ds.mapPartitions { rows =>
      rows.map { r =>
        r.media_type match {
          case "audio/wav" =>
            val (rate, s) = decodeWav(r.payload)
            var sumSq = 0L; var peak = 0L
            var i = 0
            while (i < s.length) {
              val v = s(i).toLong
              sumSq += v * v
              if (math.abs(v) > peak) peak = math.abs(v)
              i += 1
            }
            MediaFeatures(r.doc_id, r.media_type, None, None, Some(rate),
              s.length.toLong, sumSq, peak)
          case "image/png" =>
            val img = decodePng(r.payload)
            val raster = img.getRaster
            val (w, h) = (img.getWidth, img.getHeight)
            var sum = 0L
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) { sum += raster.getSample(x, y, 0); x += 1 }
              y += 1
            }
            // 8×8 nearest-neighbor thumbnail, then its pixel sum — a
            // deterministic stand-in for learned-embedding pooling
            var ds8 = 0L
            var yy = 0
            while (yy < 8) {
              var xx = 0
              while (xx < 8) {
                ds8 += raster.getSample(xx * w / 8, yy * h / 8, 0)
                xx += 1
              }
              yy += 1
            }
            MediaFeatures(r.doc_id, r.media_type, Some(w), Some(h), None,
              w.toLong * h, sum, ds8)
          case other =>
            throw new IllegalArgumentException(s"no decoder for $other")
        }
      }
    }.toDF()
  }
}
