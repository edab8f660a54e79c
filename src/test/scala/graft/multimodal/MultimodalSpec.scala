package graft.multimodal

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.jobs.PipeOps
import graft.SparkSuite

/** Multimodal plumbing specs (B8) + the pipe escape hatch (B10): the decode
  * bodies are stubs, but the source schema, typed batch shape, frame
  * chunking, and feature extraction are asserted for real. */
class MultimodalSpec extends AnyFunSuite with SparkSuite {

  private var dir: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    dir = Files.createTempDirectory("graft-mm").toString
    // deterministic fake media: content bytes are a simple ramp
    def write(name: String, n: Int): Unit = {
      val bytes = Array.tabulate[Byte](n)(i => (i % 251).toByte)
      Files.write(Paths.get(s"$dir/$name"), bytes)
    }
    // a.png is a REAL 64x32 PNG (deterministic gradient raster)
    val img = new java.awt.image.BufferedImage(64, 32,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 32; x <- 0 until 64)
      img.setRGB(x, y, (x * 4 << 16) | (y * 8 << 8) | ((x + y) % 256))
    javax.imageio.ImageIO.write(img, "png", new java.io.File(s"$dir/a.png"))
    write("b.wav", 300)
    write("c.mp4", 9000)
    write("notes.txt", 100)
    // tone.wav is a REAL 16-bit mono PCM WAV: 4000 frames of a 440 Hz-ish
    // deterministic sine at 8 kHz, amplitude 12000
    val pcm = new Array[Byte](4000 * 2)
    for (i <- 0 until 4000) {
      val v = (math.sin(2 * math.Pi * 440 * i / 8000.0) * 12000).toInt
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, 4000)
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE,
      new java.io.File(s"$dir/tone.wav"))
  }

  private def pngLen: Long = Files.size(Paths.get(s"$dir/a.png"))

  test("binaryFile source exposes path/length/content; glob prunes listing") {
    val all = Multimodal.readAssets(spark, dir)
    assert(all.count() === 5)
    assert(Set("path", "modificationTime", "length", "content")
      .subsetOf(all.columns.toSet))
    val images = Multimodal.readAssets(spark, dir, glob = "*.png")
    assert(images.count() === 1)
  }

  test("metadata extraction: kind, size, REAL decoded dims, frame count") {
    val meta = Multimodal.extractMeta(
        Multimodal.readAssets(spark, dir), frameBytes = 4096)
      .collect().map(m => m.path.split('/').last -> m).toMap
    assert(meta("a.png").kind === "image")
    assert(meta("b.wav").kind === "audio")
    assert(meta("c.mp4").kind === "video")
    assert(meta("notes.txt").kind === "binary")
    assert(meta("a.png").n_bytes === pngLen)
    // real pixel dimensions decoded from the PNG header
    assert(meta("a.png").width === 64 && meta("a.png").height === 32)
    // bytes no codec reads report (0,0), not fake dims
    assert(meta("b.wav").width === 0 && meta("b.wav").height === 0)
  }

  test("frame sampling chunks content deterministically") {
    val assets = Multimodal.readAssets(spark, dir, glob = "c.mp4")
    val frames = Multimodal.sampleFrames(assets, frameBytes = 4096)
      .collect().sortBy(_.frame_idx)
    assert(frames.map(_.frame_idx).toSeq === Seq(0, 1, 2))
    assert(frames.map(_.n_bytes).toSeq === Seq(4096, 4096, 9000 - 2 * 4096))
    // every-other-frame sampling
    val sampled = Multimodal.sampleFrames(assets, frameBytes = 4096, every = 2)
    assert(sampled.collect().map(_.frame_idx).sorted.toSeq === Seq(0, 2))
    // checksums are content-derived and stable across runs
    val again = Multimodal.sampleFrames(assets, frameBytes = 4096)
      .collect().sortBy(_.frame_idx)
    assert(frames.map(_.checksum).toSeq === again.map(_.checksum).toSeq)
  }

  test("byte features: histogram mass equals byte count") {
    val feats = Multimodal.byteFeatures(
        Multimodal.readAssets(spark, dir, glob = "b.wav"))
      .collect().head
    assert(feats.n_bytes === 300)
    assert(feats.histogram.sum === 300)
    assert(feats.histogram(0) === 2) // ramp mod 251: bytes 0 and 251
    assert(feats.mean > 0)
  }

  test("B8 resize: real downscale halves real resolution") {
    val out = Multimodal.resize(
        Multimodal.readAssets(spark, dir, glob = "a.png"), factor = 2)
      .collect().head
    // the output is a decodable PNG at exactly half resolution
    val scaled = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out._2))
    assert(scaled.getWidth === 32 && scaled.getHeight === 16)
    // the raster is really painted (not an unpainted black frame): the
    // source is a gradient, so scaled pixels must vary along a row
    val rowColors = (0 until 32).map(x => scaled.getRGB(x, 8)).distinct
    assert(rowColors.size > 1, "scaled raster is uniform — blank paint?")
    // deterministic bytes: two independent scales encode identically
    // (replica hash-agreement depends on this)
    val srcBytes = Files.readAllBytes(Paths.get(s"$dir/a.png"))
    assert(Multimodal.resizeBytes(srcBytes, 2).toSeq ===
      Multimodal.resizeBytes(srcBytes, 2).toSeq)
    // quarter resolution shrinks further
    val q = Multimodal.resizeBytes(srcBytes, 4)
    val qImg = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(q))
    assert(qImg.getWidth === 16 && qImg.getHeight === 8)
  }

  test("REAL audio decode: WAV metadata, windowed RMS features, decimation") {
    // metadata from the decoded stream, not the file extension
    val meta = Multimodal.extractAudioMeta(
        Multimodal.readAssets(spark, dir, glob = "*.wav"))
      .collect().map(m => m.path.split('/').last -> m).toMap
    assert(meta("tone.wav").sample_rate === 8000)
    assert(meta("tone.wav").channels === 1)
    assert(meta("tone.wav").bits === 16)
    assert(meta("tone.wav").n_frames === 4000)
    assert(meta("tone.wav").duration_ms === 500)
    // fake bytes with a .wav extension decode to zeros, not fake values
    assert(meta("b.wav").sample_rate === 0 && meta("b.wav").n_frames === 0)

    // windowed features over REAL decoded PCM: a sine of amplitude A has
    // RMS ~= A/sqrt(2) and peak <= A in every full window
    val wins = Multimodal.audioWindows(
        Multimodal.readAssets(spark, dir, glob = "tone.wav"),
        winSamples = 1024)
      .collect().sortBy(_.win_idx)
    assert(wins.map(_.win_idx).toSeq === Seq(0, 1, 2, 3))
    assert(wins.map(_.n_samples).sum === 4000)
    val fullWin = wins.head
    assert(math.abs(fullWin.rms - 12000 / math.sqrt(2)) < 600,
      s"sine RMS off: ${fullWin.rms}")
    assert(fullWin.peak <= 12000 && fullWin.peak > 11000)

    // decimation: half the frames at half the rate, still a decodable WAV
    val src = Files.readAllBytes(Paths.get(s"$dir/tone.wav"))
    val half = Multimodal.decimateWav(src, 2)
    val Some((rate2, ch2, bits2, frames2)) = Multimodal.decodeAudioMeta(half)
    assert(rate2 === 4000 && ch2 === 1 && bits2 === 16 && frames2 === 2000)
    // pitch-preserving in sample terms: kept samples are the even ones
    val pcmOrig = Multimodal.pcmSamples(src)
    val pcmHalf = Multimodal.pcmSamples(half)
    assert(pcmHalf.toSeq === (0 until 4000 by 2).map(pcmOrig).toSeq)
    // deterministic re-encode (replica hash-agreement)
    assert(Multimodal.decimateWav(src, 2).toSeq === half.toSeq)
    // undecodable bytes fall back to striding
    val fake = Array.tabulate[Byte](100)(i => i.toByte)
    assert(Multimodal.decimateWav(fake, 4).toSeq ===
      (0 until 100 by 4).map(fake).map(_.toByte).toSeq)
  }

  test("perceptual aHash: near-identical images pair, unrelated do not") {
    val d2 = Files.createTempDirectory("graft-ahash").toString
    def gradient(noise: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64) {
        val v = math.min(255, x * 4 + (if ((x + y) % 17 == 0) noise else 0))
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    // base, a lightly-noised variant, and a structurally different image
    javax.imageio.ImageIO.write(gradient(0), "png",
      new java.io.File(s"$d2/base.png"))
    javax.imageio.ImageIO.write(gradient(12), "png",
      new java.io.File(s"$d2/noisy.png"))
    val other = new java.awt.image.BufferedImage(64, 64,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 64; x <- 0 until 64) { // vertical gradient instead
      val v = y * 4
      other.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    javax.imageio.ImageIO.write(other, "png",
      new java.io.File(s"$d2/other.png"))

    // kernel level: deterministic, and distance behaves like a perceptual
    // metric (variant within a few bits, unrelated far away)
    val hb = Multimodal.aHashBytes(
      Files.readAllBytes(Paths.get(s"$d2/base.png"))).get
    val hb2 = Multimodal.aHashBytes(
      Files.readAllBytes(Paths.get(s"$d2/base.png"))).get
    assert(hb === hb2, "aHash must be deterministic")
    val hn = Multimodal.aHashBytes(
      Files.readAllBytes(Paths.get(s"$d2/noisy.png"))).get
    val ho = Multimodal.aHashBytes(
      Files.readAllBytes(Paths.get(s"$d2/other.png"))).get
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hb, hn) <= 6, s"variant too far: ${ham(hb, hn)} bits")
    assert(ham(hb, ho) > 6, s"unrelated too close: ${ham(hb, ho)} bits")
    // un-decodable bytes stay out of the index
    assert(Multimodal.aHashBytes(Array[Byte](1, 2, 3)).isEmpty)

    // operator level: banded candidate join + Hamming verify finds
    // exactly the near-dup pair
    val pairs = Multimodal.nearDupImages(
      Multimodal.readAssets(spark, d2, glob = "*.png"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(pairs.length === 1, s"expected one near-dup pair, got ${pairs.toSeq}")
    assert(pairs.head._1.endsWith("base.png") &&
      pairs.head._2.endsWith("noisy.png"))
  }

  test("dHash survives a monotone tone change that moves aHash more") {
    val d3 = Files.createTempDirectory("graft-dhash").toString
    // horizontal luminance ramp with texture — distinct cell averages
    def ramp(tone: Int => Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(72, 72,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 72; x <- 0 until 72) {
        // midrange ramp (60..204): adjacent-cell gaps survive the cubic
        // without quantization ties, so the gradient signature is clean
        val base = math.min(255, 60 + x * 2 + (y % 9))
        val v = math.max(0, math.min(255, tone(base)))
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    javax.imageio.ImageIO.write(ramp(identity), "png",
      new java.io.File(s"$d3/base.png"))
    // gamma 3 (cubic) — a MONOTONE tone curve: adjacent-cell ordering
    // (what dHash encodes) is preserved exactly; the strongly convex
    // curve drags the global mean toward the dark side, so the
    // mean-crossing column (what aHash thresholds on) moves a column —
    // a full 8-bit flip for the mean hash, zero for the gradient hash
    javax.imageio.ImageIO.write(
      ramp(v => math.round(v.toDouble * v * v / 65025.0).toInt), "png",
      new java.io.File(s"$d3/gamma.png"))
    def bytes(n: String) = Files.readAllBytes(Paths.get(s"$d3/$n"))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val dBase = Multimodal.dHashBytes(bytes("base.png")).get
    val dGamma = Multimodal.dHashBytes(bytes("gamma.png")).get
    val aBase = Multimodal.aHashBytes(bytes("base.png")).get
    val aGamma = Multimodal.aHashBytes(bytes("gamma.png")).get
    assert(dBase === Multimodal.dHashBytes(bytes("base.png")).get,
      "dHash must be deterministic")
    assert(ham(dBase, dGamma) <= 4,
      s"gradient hash must survive the tone curve: ${ham(dBase, dGamma)}")
    assert(ham(aBase, aGamma) > ham(dBase, dGamma),
      s"tone curve must move the mean-threshold hash more " +
        s"(aHash ${ham(aBase, aGamma)} vs dHash ${ham(dBase, dGamma)})")
    // structurally different content still separates on dHash
    val vert = new java.awt.image.BufferedImage(72, 72,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 72; x <- 0 until 72) {
      val v = math.min(255, y * 3 + (x % 9))
      vert.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    javax.imageio.ImageIO.write(vert, "png",
      new java.io.File(s"$d3/vert.png"))
    val dVert = Multimodal.dHashBytes(bytes("vert.png")).get
    assert(ham(dBase, dVert) > 12,
      s"unrelated structure too close on dHash: ${ham(dBase, dVert)}")
    assert(Multimodal.dHashBytes(Array[Byte](9, 9)).isEmpty)

    // operator level: the aHash-only matcher MISSES the tone-curved
    // copy (its mean hash moved a whole column, past the budget) while
    // the two-signature matcher finds it through the gradient side —
    // and the unrelated image stays out of both
    val assets = Multimodal.readAssets(spark, d3, glob = "*.png")
    val aOnly = Multimodal.nearDupImages(assets).collect()
      .map(r => (r.getString(0).split('/').last,
        r.getString(1).split('/').last))
    assert(!aOnly.contains(("base.png", "gamma.png")),
      s"aHash-only matcher unexpectedly caught the tone curve: " +
        aOnly.toSeq.toString)
    val robust = Multimodal.nearDupImagesRobust(assets).collect()
      .map(r => (r.getString(0).split('/').last,
        r.getString(1).split('/').last, r.getInt(2), r.getInt(3)))
    val hit = robust.filter(p => p._1 == "base.png" && p._2 == "gamma.png")
    assert(hit.length === 1,
      s"robust matcher must find the tone-curved pair: ${robust.toSeq}")
    assert(hit.head._4 <= 6 && hit.head._3 > 6,
      s"the pair must have matched on the GRADIENT signature: ${hit.head}")
    assert(!robust.exists(p => p._1 == "vert.png" || p._2 == "vert.png"),
      s"unrelated image must not match either signature: ${robust.toSeq}")
  }

  test("resize stub strides bytes for codec-less kinds") {
    val out = Multimodal.resizeStub(
        Multimodal.readAssets(spark, dir, glob = "b.wav"), factor = 4)
      .collect().head
    assert(out._2.length === 75)
    assert(out._2(1) === 4) // byte at original index 4 of the ramp
    // the real-resize path falls back to striding for undecodable bytes
    val fb = Multimodal.resize(
        Multimodal.readAssets(spark, dir, glob = "b.wav"), factor = 4)
      .collect().head
    assert(fb._2.toSeq === out._2.toSeq)
  }

  test("B10 pipe: partition-streamed external process matches native filter") {
    import spark.implicits._
    val lines = (1 to 100).map(i =>
      if (i % 10 == 0) s"kiwi line $i" else s"other line $i")
    val ds = spark.createDataset(lines).repartition(4)
    // grep exits 1 on a match-free partition — an accepted "empty" outcome
    val piped = PipeOps.pipe(ds, Seq("grep", "kiwi"), okExit = Set(0, 1))
      .collect().sorted
    val native = ds.filter(_.contains("kiwi")).collect().sorted
    assert(piped.toSeq === native.toSeq && piped.length === 10)
  }

  test("B10 pipe: failing command surfaces exit code + stderr, not truncation") {
    import spark.implicits._
    val ds = spark.createDataset(Seq("a", "b", "c")).repartition(1)
    val ex = intercept[org.apache.spark.SparkException] {
      PipeOps.pipe(ds,
        Seq("sh", "-c", "echo ok; echo boom >&2; exit 3")).collect()
    }
    val msg = ex.getCause.getMessage
    assert(msg.contains("exited 3") && msg.contains("boom"))
  }

  test("spectral fingerprints: noisy re-encode pairs, different melody " +
       "does not; banded near-dup join finds exactly the true pair") {
    val fpDir = Files.createTempDirectory("graft-afp").toString
    // 8 windows × 1024 samples at 8 kHz; pooling 16:1 puts the DFT's
    // usable band at 8–258 Hz, so test tones live there
    def writeWav(name: String, freqOf: Int => Double,
                 noise: Int => Int): Unit = {
      val n = 8 * 1024
      val pcm = new Array[Byte](n * 2)
      for (i <- 0 until n) {
        val f = freqOf(i / 1024)
        val v = (math.sin(2 * math.Pi * f * i / 8000.0) * 12000).toInt +
          noise(i)
        pcm(2 * i) = (v & 0xff).toByte
        pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n)
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE,
        new java.io.File(s"$fpDir/$name"))
    }
    // deterministic LCG noise, ±250 against amplitude 12000
    var seed = 42L
    def lcg(): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      ((seed >>> 33) % 501).toInt - 250
    }
    writeWav("melody.wav", w => 30.0 + 15.0 * w, _ => 0)
    writeWav("noisy.wav", w => 30.0 + 15.0 * w, _ => lcg())
    // different melody: same band, frequencies ≥60 Hz away per window
    writeWav("other.wav", w => 30.0 + 15.0 * ((w + 4) % 8), _ => 0)

    def fpOf(name: String): Array[Int] =
      Multimodal.spectralFingerprint(Multimodal.pcmSamples(
        Files.readAllBytes(Paths.get(s"$fpDir/$name"))))
    val fa = fpOf("melody.wav")
    assert(fa.length === 8)
    assert(fa.toSeq === fpOf("melody.wav").toSeq, "must be deterministic")
    def ham(a: Int, b: Int) = Integer.bitCount(a ^ b)
    val fb = fpOf("noisy.wav")
    val fc = fpOf("other.wav")
    val nearBits = fa.zip(fb).map { case (x, y) => ham(x, y) }
    val farBits = fa.zip(fc).map { case (x, y) => ham(x, y) }
    assert(nearBits.count(_ <= 6) >= 6,
      s"noisy twin should verify in most windows: ${nearBits.toSeq}")
    assert(farBits.count(_ <= 6) <= 1,
      s"different melody should not verify: ${farBits.toSeq}")
    // undecodable bytes yield no windows
    assert(Multimodal.spectralFingerprint(Array.empty[Short]).isEmpty)

    // operator level: banded candidates + Hamming verify + aligned-window
    // count finds exactly the true pair
    val pairs = Multimodal.nearDupAudio(
        Multimodal.readAssets(spark, fpDir, glob = "*.wav"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(pairs.length === 1, s"expected one near-dup pair, got ${pairs.toSeq}")
    assert(pairs.head._1.endsWith("melody.wav") &&
      pairs.head._2.endsWith("noisy.wav"))
  }

  test("shifted near-dup matcher finds a front-trimmed copy (with the " +
       "trim length as its alignment) that the aligned matcher misses") {
    val fpDir = Files.createTempDirectory("graft-afps").toString
    // 10 windows of 1024 samples; window w carries tone 30+15·w Hz —
    // every window distinct, so alignment is unambiguous
    val n = 10 * 1024
    val pcm = new Array[Byte](n * 2)
    for (i <- 0 until n) {
      val f = 30.0 + 15.0 * (i / 1024)
      val v = (math.sin(2 * math.Pi * f * i / 8000.0) * 12000).toInt
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    def writeWav(name: String, bytes: Array[Byte]): Unit = {
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(bytes), fmt, bytes.length / 2)
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE,
        new java.io.File(s"$fpDir/$name"))
    }
    writeWav("full.wav", pcm)
    // trim 1.5 windows (= 3 hops of 512) off the front
    writeWav("trimmed.wav", pcm.drop(3 * 512 * 2))
    // unrelated content for the negative case: deterministic wideband
    // noise — NOT a shifted tone ladder, which the shift-tolerant
    // matcher would rightly match at its cyclic offset
    val other = new Array[Byte](n * 2)
    var seed = 99L
    for (i <- 0 until n) {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      val v = ((seed >>> 33) % 24001).toInt - 12000
      other(2 * i) = (v & 0xff).toByte
      other(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    writeWav("other.wav", other)

    val assets = Multimodal.readAssets(spark, fpDir, glob = "*.wav")
    // the window-aligned matcher cannot see through the trim
    val aligned = Multimodal.nearDupAudio(assets, minWindows = 3)
      .collect()
    assert(!aligned.exists(r => r.getString(0).endsWith("full.wav") &&
      r.getString(1).endsWith("trimmed.wav")),
      s"aligned matcher unexpectedly matched the trim: ${aligned.toSeq}")
    // the shift-consistent matcher finds it, votes on delta = −3 hops
    // (trimmed window w aligns with full window w+3)
    val shifted = Multimodal.nearDupAudioShifted(assets, minWindows = 3)
      .collect().map(r => (r.getString(0).split('/').last,
        r.getString(1).split('/').last, r.getInt(2), r.getLong(3)))
    val hit = shifted.filter(p => p._1 == "full.wav" && p._2 == "trimmed.wav")
    assert(hit.length === 1, s"expected the trimmed pair: ${shifted.toSeq}")
    assert(hit.head._3 === -3,
      s"alignment must equal the trim length in hops: ${hit.head}")
    assert(!shifted.exists(p => p._2 == "other.wav" || p._1 == "other.wav"),
      s"unrelated audio must not match: ${shifted.toSeq}")

    // ---- sub-hop micro-alignment (microSteps=4): a 300-sample trim is
    // NOT a hop multiple (hop=512) — the nearest coarse grid start is
    // 212 samples off (a 21% window shift, enough to move the energy
    // contour), while the k=4 fine grid (hop/k = 128) lands within 44
    // samples (4%) of the true offset. The fine matcher must report the
    // pair at its true alignment: delta = −round(300/128) ∈ {−2, −3}
    // fine-hops.
    writeWav("subhop.wav", pcm.drop(300 * 2))
    val assets2 = Multimodal.readAssets(spark, fpDir, glob = "*.wav")
    val fine = Multimodal.nearDupAudioShifted(assets2, minWindows = 3,
        microSteps = 4)
      .collect().map(r => (r.getString(0).split('/').last,
        r.getString(1).split('/').last, r.getInt(2), r.getLong(3)))
    val sub = fine.filter(p => p._1 == "full.wav" && p._2 == "subhop.wav")
    assert(sub.length === 1, s"expected the sub-hop pair: ${fine.toSeq}")
    assert(sub.head._3 == -2 || sub.head._3 == -3,
      s"alignment must be the trim length in fine-hops: ${sub.head}")
    assert(!fine.exists(p => p._1 == "other.wav" || p._2 == "other.wav"),
      s"unrelated audio must not match on the fine grid: ${fine.toSeq}")
  }

  test("codec capability matrix is honest and the routing follows it: " +
       "read-capable formats take the real path, stand-ins only elsewhere") {
    val caps = Multimodal.codecCapabilities()
    caps.foreach(c => info(f"${c.kind}%-6s ${c.format}%-5s " +
      f"read=${c.read}%-5s write=${c.write}%-5s ${c.provider}"))

    // JDK floor (these ship with every Java 17): if any of these probe
    // false the matrix itself is broken, not the container
    val byFmt = caps.map(c => c.format -> c).toMap
    for (f <- Seq("png", "jpeg", "gif", "bmp"))
      assert(byFmt(f).read && byFmt(f).write, s"JDK must codec $f")
    for (f <- Seq("wav", "aiff", "au"))
      assert(byFmt(f).read, s"JDK must decode $f PCM")

    // matrix-driven routing, format by format — NOT container assumptions:
    // every image format the matrix marks read+write round-trips through
    // the REAL resize (output is a decodable PNG whose dims halved), so
    // the byte-stride stand-in is unreachable for those formats
    for (c <- caps if c.kind == "image" && c.read && c.write) {
      val img = new java.awt.image.BufferedImage(16, 12,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until 16; y <- 0 until 12)
        img.setRGB(x, y, (x * 16 + y) << 8)
      val raw = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, c.format, raw),
        s"writer for ${c.format} vanished between probe and use")
      val out = Multimodal.resizeBytes(raw.toByteArray, 2)
      val dec = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(out))
      assert(dec != null && dec.getWidth === 8 && dec.getHeight === 6,
        s"read-capable ${c.format} must take the real decode path")
    }

    // conversely: a format the matrix marks unreadable must hit the
    // stand-in; if a future container ships (say) an mp3 SPI, the matrix
    // flips read=true and the OTHER branch asserts real decode — the
    // test stays green and keeps proving whichever world it runs in
    val mp3ish = Array(0xff, 0xfb, 0x90, 0x00).map(_.toByte) ++
      Array.tabulate[Byte](96)(i => i.toByte)
    if (!byFmt("mp3").read) {
      assert(Multimodal.decodeAudioMeta(mp3ish).isEmpty)
      val strided = Multimodal.decimateWav(mp3ish, 4)
      assert(strided.length === 25 && strided(1) === mp3ish(4),
        "unreadable format must fall back to deterministic byte striding")
    } else {
      assert(Multimodal.decodeAudioMeta(mp3ish).nonEmpty ||
        Multimodal.pcmSamples(mp3ish).nonEmpty,
        "matrix says mp3 is readable; the real path must engage")
    }
    // video: honest "no codec in this container" unless a pure-JVM lib is
    // actually present on the classpath
    val video = caps.filter(_.kind == "video")
    assert(video.nonEmpty)
    assert(video.forall(c => c.read == c.provider.nonEmpty),
      "video read capability must name its provider")
  }

  test("B10 pipe: chatty stderr beyond the OS pipe buffer doesn't deadlock") {
    import spark.implicits._
    val ds = spark.createDataset((1 to 50).map(_.toString)).repartition(1)
    // ~300 KB of stderr (>> 64 KB pipe buffer) while echoing stdin
    val out = PipeOps.pipe(ds, Seq("sh", "-c",
      "awk 'BEGIN{for(i=0;i<3000;i++) print \"noise noise noise noise noise noise noise noise noise noise\" > \"/dev/stderr\"}{print}'"))
      .collect()
    assert(out.length === 50)
  }
}
