package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import graft.{GraftSession, SharedSpark}

/** The pure-JVM media codecs behind the multimodal pipeline: WAV encode →
  * decode must be the identity on PCM16 samples (including chunk-walking
  * past extra RIFF chunks), and PNG encode → decode the identity on gray
  * rasters — the property the p12 oracle's formula-based check relies on. */
class MultimodalSpec extends AnyFunSuite with SharedSpark {

  override protected def cpus = 2

  test("WAV roundtrip is the identity; extra RIFF chunks are skipped") {
    val samples = Array.tabulate(333)(i => ((i * 7919) % 65536) - 32768)
    val clamped = samples.map(s => s.toShort.toInt)
    val bytes = Multimodal.encodeWav(clamped, 8000)
    val (rate, got) = Multimodal.decodeWav(bytes)
    assert(rate == 8000)
    assert(got.sameElements(clamped))

    // splice a LIST chunk between fmt and data — decoders must walk past
    val head = bytes.slice(0, 36)
    val tail = bytes.slice(36, bytes.length)
    val junk = "LIST".getBytes("US-ASCII") ++ Array[Byte](4, 0, 0, 0) ++
      "INFO".getBytes("US-ASCII")
    val spliced = head ++ junk ++ tail
    val (rate2, got2) = Multimodal.decodeWav(spliced)
    assert(rate2 == 8000 && got2.sameElements(clamped))
  }

  test("PNG roundtrip is the identity on the gray raster") {
    val (w, h) = (23, 17)
    def pix(x: Int, y: Int): Int = (x * 13 + y * 29 + 5) % 256
    val bytes = Multimodal.encodePng(w, h, pix)
    val img = Multimodal.decodePng(bytes)
    assert(img.getWidth == w && img.getHeight == h)
    val raster = img.getRaster
    for (y <- 0 until h; x <- 0 until w)
      assert(raster.getSample(x, y, 0) == pix(x, y), s"pixel ($x,$y)")
  }

  test("synthesized assets decode to the formula features") {
    val id = 42L
    val (rate, s) = Multimodal.decodeWav(Multimodal.synthWavAsset(id))
    assert(rate == 8000 && s.length == (200 + id % 100).toInt)
    assert(s.zipWithIndex.forall { case (v, i) =>
      v == ((id * 31 + i.toLong * i * 7) % 20001 - 10000).toInt })

    val img = Multimodal.decodePng(Multimodal.synthPngAsset(43L))
    assert(img.getWidth == (16 + 43 % 8) && img.getHeight == (12 + 43 % 5))
    assert(img.getRaster.getSample(3, 2, 0) == ((43L * 7 + 3 * 13 + 2 * 29) % 256).toInt)
  }

  test("GVID container roundtrips; frame sampling decodes only strided frames") {
    val id = 17L
    val payload = Multimodal.synthVideoAsset(id)
    val (fps, frames) = Multimodal.decodeVideo(payload)
    assert(fps == 4 && frames.length == (6 + id % 5).toInt)
    // every frame is a real decodable PNG with the per-frame formula
    frames.zipWithIndex.foreach { case (f, i) =>
      val img = Multimodal.decodePng(f)
      assert(img.getRaster.getSample(1, 1, 0) ==
        ((id * 7 + i * 11 + 1 * 13 + 1 * 29) % 256).toInt, s"frame $i")
    }
    // truncated container fails loudly, not with a buffer overrun
    intercept[IllegalArgumentException] {
      Multimodal.decodeVideo(java.util.Arrays.copyOf(payload, payload.length - 3))
    }

    // stride semantics via the scalar formula: sampled frames 0,2,4,...
    val (w, h) = ((16 + id % 8).toInt, (12 + id % 5).toInt)
    def frameSum(f: Int): Long = (for (y <- 0 until h; x <- 0 until w)
      yield (id * 7 + f * 11 + x * 13 + y * 29) % 256).sum
    val sampled = (0 until frames.length by 2).map(frameSum)
    val expectMotion = sampled.sliding(2).collect { case Seq(a, b) => math.abs(b - a) }.sum
    // one-row DataFrame through the real operator
    import spark.implicits._
    val got = Multimodal.videoFrameFeatures(
        Seq(Multimodal.MediaRow(id, "video/gvid", payload)).toDF(), stride = 2)
      .head()
    assert(got.getInt(1) == frames.length && got.getInt(2) == sampled.size)
    assert(got.getInt(3) == w && got.getInt(4) == h)
    assert(got.getLong(5) == sampled.sum && got.getLong(6) == expectMotion)
  }

  test("imageDhash: hand bits, re-encode invariance, and one-pixel locality") {
    // 18x16 gradient brightening left-to-right: every adjacent pair
    // rises → all 64 bits set → hash 'ff' x 8
    val rising = Multimodal.encodePng(18, 16, (x, _) => x * 10)
    // falling gradient → no bits set
    val falling = Multimodal.encodePng(18, 16, (x, _) => 200 - x * 10)
    // one-pixel edit touches one sample cell → at most 2 adjacent bits
    val dent = Multimodal.encodePng(18, 16,
      (x, y) => if (x == 6 && y == 4) 0 else x * 10)
    import spark.implicits._
    val got = Multimodal.imageDhash(Seq(
        Multimodal.MediaRow(1, "image/png", rising),
        Multimodal.MediaRow(2, "image/png", falling),
        Multimodal.MediaRow(3, "image/png", rising), // identical bytes
        Multimodal.MediaRow(4, "image/png", dent))
      .toDF()).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getString(3)))
      .toMap
    assert(got(1L) == ((18, 16, "ff" * 8)))
    assert(got(2L) == ((18, 16, "00" * 8)))
    // identical pixels → identical hash (dedup-by-hash groups them)
    assert(got(3L)._3 == got(1L)._3)
    // locality: hamming(rising, dent) <= 2 and > 0
    def bits(hx: String) = hx.grouped(2)
      .map(b => Integer.parseInt(b, 16)).toSeq
    val ham = bits(got(1L)._3).zip(bits(got(4L)._3))
      .map { case (a, b) => Integer.bitCount(a ^ b) }.sum
    assert(ham >= 1 && ham <= 2, s"hamming $ham")

    // banded near-dup pairs: the dent pairs with its original (and with
    // the identical copy 3); the opposite gradient shares no band with
    // anything, so it never even becomes a candidate
    val pairs = Multimodal.dhashNearDupPairs(
        Multimodal.imageDhash(Seq(
          Multimodal.MediaRow(1, "image/png", rising),
          Multimodal.MediaRow(2, "image/png", falling),
          Multimodal.MediaRow(3, "image/png", rising),
          Multimodal.MediaRow(4, "image/png", dent)).toDF()),
        maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs == Set((1L, 3L, 0), (1L, 4L, ham), (3L, 4L, ham)), pairs)
  }

  test("audioFingerprint: hand bits on rising/falling energy; identical WAVs group") {
    // 64 samples, 4 windows of 16. Amplitudes rise per window → energies
    // rise → all 3 bits set (07); reversed → 00.
    val rising = Multimodal.encodeWav(
      Array.tabulate(64)(i => (i / 16 + 1) * 100), 8000)
    val falling = Multimodal.encodeWav(
      Array.tabulate(64)(i => (4 - i / 16) * 100), 8000)
    import spark.implicits._
    val got = Multimodal.audioFingerprint(Seq(
        Multimodal.MediaRow(1, "audio/wav", rising),
        Multimodal.MediaRow(2, "audio/wav", falling),
        Multimodal.MediaRow(3, "audio/wav", rising))
      .toDF(), nWindows = 4).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getString(3))).toMap
    assert(got(1L) == ((64, "07")))
    assert(got(2L) == ((64, "00")))
    assert(got(3L)._2 == got(1L)._2, "identical samples must group")
  }

  test("resizeFeatures: hand-computed nearest-neighbor resample digests") {
    // 4x2 image, pixel(x,y) = x*10 + y; resized to 2x1 the NN samples are
    // (0*4/2, 0*2/1) = (0,0) -> 0 and (1*4/2, 0) = (2,0) -> 20
    val png = Multimodal.encodePng(4, 2, (x, y) => x * 10 + y)
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    import spark.implicits._
    val media = Seq(Multimodal.MediaRow(1, "image/png", png)).toDF()
    val got = Multimodal.resizeFeatures(media, outW = 2, outH = 1).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)) == ((4, 2, 2, 1)))
    assert(r.getLong(5) == 20L)
    assert(r.getString(6) == md5hex("0,20"))
  }

  test("resolveImageNearDups: a 3-image chain (A~B, B~C, A!~C) resolves to one canonical") {
    // 9x8 images so the dHash sample grid IS the pixel grid; base rises
    // along x (all 64 bits set). B flips 1 bit vs A; C flips 4 vs A and
    // 3 vs B — so (A,C) is BEYOND maxDist=3 and only the chain through B
    // connects them: the pair list alone cannot produce the keep-list.
    def img(hot: Set[(Int, Int)]) = Multimodal.encodePng(9, 8,
      (x, y) => if (hot((x, y))) 100 else x * 10)
    val a = img(Set.empty)
    val b = img(Set((0, 0)))
    val c = img(Set((0, 0), (0, 2), (0, 4), (0, 6)))
    import spark.implicits._
    val media = Seq(Multimodal.MediaRow(1, "image/png", a),
      Multimodal.MediaRow(2, "image/png", b),
      Multimodal.MediaRow(3, "image/png", c)).toDF()
    val pairs = Multimodal.dhashNearDupPairs(
        Multimodal.imageDhash(media), maxDist = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    assert(pairs.toSeq == Seq((1L, 2L, 1), (2L, 3L, 3)),
      s"expected exactly the chain pairs, got ${pairs.toSeq}")
    val got = Multimodal.resolveImageNearDups(media, maxDist = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sorted
    assert(got.toSeq == Seq((1L, 1L, true), (2L, 1L, false), (3L, 1L, false)))
  }

  test("audioNearDupPairs catches a one-window perturbation exact grouping provably misses") {
    // 33 windows x 4 samples; energies rise with window index → all 32
    // delta bits set. Zeroing window 5 flips exactly bit 4 (e5>e4) —
    // the fingerprints DIFFER (exact grouping misses) but Hamming is 1.
    val base = Multimodal.encodeWav(
      Array.tabulate(132)(i => (i / 4) * 10), 8000)
    val pert = Multimodal.encodeWav(
      Array.tabulate(132)(i => if (i / 4 == 5) 0 else (i / 4) * 10), 8000)
    import spark.implicits._
    val media = Seq(Multimodal.MediaRow(1, "audio/wav", base),
      Multimodal.MediaRow(2, "audio/wav", pert)).toDF()
    val fps = Multimodal.audioFingerprint(media, nWindows = 33).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(fps(1L) != fps(2L), "exact grouping must miss the perturbation")
    val pairs = Multimodal.audioNearDupPairs(media, nWindows = 33, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 1)))
  }

  test("resolveAudioNearDups: a 3-clip chain (A~B, A~C, B!~C) resolves to one canonical") {
    // 65 windows x 2 samples, energies rising with window index. B zeroes
    // windows {5,7} (flips delta bits {4,6}), C zeroes {10,12} (bits
    // {9,11}): Hamming(A,B)=Hamming(A,C)=2 but Hamming(B,C)=4 > maxDist —
    // only transitive resolution through A connects B and C.
    def clip(zeroed: Set[Int]) = Multimodal.encodeWav(
      Array.tabulate(130)(i => if (zeroed(i / 2)) 0 else (i / 2) * 10), 8000)
    import spark.implicits._
    val media = Seq(Multimodal.MediaRow(1, "audio/wav", clip(Set.empty)),
      Multimodal.MediaRow(2, "audio/wav", clip(Set(5, 7))),
      Multimodal.MediaRow(3, "audio/wav", clip(Set(10, 12)))).toDF()
    val pairs = Multimodal.audioNearDupPairs(media, nWindows = 65,
        maxDist = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    assert(pairs.toSeq == Seq((1L, 2L, 2), (1L, 3L, 2)),
      s"expected exactly the chain pairs, got ${pairs.toSeq}")
    val got = Multimodal.resolveAudioNearDups(media, nWindows = 65,
        maxDist = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sorted
    assert(got.toSeq == Seq((1L, 1L, true), (2L, 1L, false), (3L, 1L, false)))
  }

  test("audio near-dup takes nWindows 33 or 65 only") {
    import spark.implicits._
    val media = Seq(Multimodal.MediaRow(1, "audio/wav",
      Multimodal.synthWavAsset(1))).toDF()
    val pairs = intercept[IllegalArgumentException](
      Multimodal.audioNearDupPairs(media, nWindows = 97, maxDist = 3))
    assert(pairs.getMessage.contains("nWindows 33 or 65"), pairs.getMessage)
    val resolve = intercept[IllegalArgumentException](
      Multimodal.resolveAudioNearDups(media, nWindows = 97, maxDist = 3))
    assert(resolve.getMessage.contains("nWindows 33 or 65"), resolve.getMessage)
  }

  test("resolve paths: freeing the verdict leaves the persisted RDDs as they were") {
    // start from nothing persisted, so the suite's earlier results cannot
    // be cleaned up mid-test and the check below stays exact
    GraftSession.reset(spark)
    import spark.implicits._
    // identical copies make a multi-member group, so both the star
    // edges and the representative pairs feed the components
    val images = Seq(1L, 2L, 3L, 4L).map(id => Multimodal.MediaRow(id,
      "image/png", Multimodal.synthPngAsset(if (id == 2L) 1L else id))).toDF()
    val clips = Seq(1L, 2L, 3L).map(id => Multimodal.MediaRow(id,
      "audio/wav", Multimodal.synthWavAsset(if (id == 3L) 1L else id))).toDF()
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    for (verdict <- Seq(() => Multimodal.resolveImageNearDups(images, maxDist = 3),
        () => Multimodal.resolveAudioNearDups(clips, nWindows = 65, maxDist = 3))) {
      val v = verdict()
      assert(v.count() > 0)
      graft.util.Checkpoints.free(v)
      assert(persisted == before, s"left persisted: ${persisted -- before}")
    }
  }

  test("videoNearDupPairs catches a one-frame dent the exact sequence fingerprint misses") {
    // 9x8 frames (sample grid = pixel grid). B = A re-encoded with ONE
    // pixel flipped in frame 1 → one dHash bit differs: seq_fp differs
    // (exact grouping misses) but total frame Hamming is 1. C reorders
    // A's frames: every aligned frame differs → far beyond maxTotal.
    // distinct dHash per frame: rising (all bits 1), falling (all 0),
    // alternating — so misaligned frames are FAR apart
    def frames(perm: Seq[Int], dent: Boolean) = perm.map(f =>
      Multimodal.encodePng(9, 8, (x, y) =>
        if (dent && f == 1 && x == 0 && y == 0) 0
        else f match {
          case 0 => x * 10
          case 1 => (8 - x) * 25
          case _ => if (x % 2 == 0) 0 else 200
        }))
    val a = Multimodal.encodeVideo(frames(Seq(0, 1, 2), dent = false), fps = 4)
    val b = Multimodal.encodeVideo(frames(Seq(0, 1, 2), dent = true), fps = 8)
    val c = Multimodal.encodeVideo(frames(Seq(2, 0, 1), dent = false), fps = 4)
    import spark.implicits._
    val media = Seq(Multimodal.MediaRow(1, "video/gvid", a),
      Multimodal.MediaRow(2, "video/gvid", b),
      Multimodal.MediaRow(3, "video/gvid", c)).toDF()
    val fps = Multimodal.videoSeqFingerprint(media, stride = 1).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(fps(1L) != fps(2L), "exact sequence grouping must miss the dent")
    val pairs = Multimodal.videoNearDupPairs(media, stride = 1, maxTotal = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 1)),
      s"expected only the dented pair at distance 1, got ${pairs.toSeq}")
  }

  test("videoShiftNearDupPairs catches a trimmed copy that p92 AND p96 provably miss") {
    // 6 frames with far-apart dHashes; B = A with frame 0 DROPPED. The
    // sequence fingerprints differ (p92 misses), the sampled counts differ
    // AND indexes misalign (p96's equi-join yields no candidate), but every
    // interior 2-frame shingle of B is a shingle of A, and the best
    // alignment matches all 5 of B's frames at offset −1.
    def frame(f: Int) = Multimodal.encodePng(9, 8, (x, y) =>
      ((f * 37 + x * 13) * (y + 1) + f * f * 5) % 256)
    val aFrames = (0 until 6).map(frame)
    val a = Multimodal.encodeVideo(aFrames, fps = 4)
    val b = Multimodal.encodeVideo(aFrames.drop(1), fps = 8)
    import spark.implicits._
    val media = Seq(Multimodal.MediaRow(1, "video/gvid", a),
      Multimodal.MediaRow(2, "video/gvid", b)).toDF()
    val fps = Multimodal.videoSeqFingerprint(media, stride = 1).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(fps(1L) != fps(2L), "p92 exact sequence grouping must miss a trim")
    val aligned = Multimodal.videoNearDupPairs(media, stride = 1,
      maxTotal = 64).collect()
    assert(aligned.isEmpty,
      "p96's aligned-index contract must miss a trimmed copy")
    val shifted = Multimodal.videoShiftNearDupPairs(media, stride = 1,
        shingleK = 2, minAligned = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(shifted.toSeq == Seq((1L, 2L, -1, 5L)),
      s"expected the trimmed pair aligned at offset -1 over 5 frames, got ${shifted.toSeq}")
  }

  test("videoSeqFingerprint: re-encode groups, reorder does not") {
    val frames = (0 until 3).map(f =>
      Multimodal.encodePng(9, 8, (x, y) => (f * 11 + x * 13 + y * 29) % 256))
    val origBytes = Multimodal.encodeVideo(frames, fps = 4)
    val reencBytes = Multimodal.encodeVideo(frames, fps = 8)
    val reordered = Multimodal.encodeVideo(frames.reverse, fps = 4)
    assert(!java.util.Arrays.equals(origBytes, reencBytes),
      "containers must differ at byte level — that is what exact dedup misses")
    import spark.implicits._
    val media = Seq(Multimodal.MediaRow(1, "video/gvid", origBytes),
      Multimodal.MediaRow(2, "video/gvid", reencBytes),
      Multimodal.MediaRow(3, "video/gvid", reordered)).toDF()
    val got = Multimodal.videoSeqFingerprint(media, stride = 1).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getString(3)))
      .toMap
    assert(got(1L)._1 == 3 && got(1L)._2 == 3)
    assert(got(1L)._3 == got(2L)._3, "re-encoded identical frames must group")
    assert(got(1L)._3 != got(3L)._3, "the fold must be order-sensitive")
  }
}
