package graft.operators

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.nio.file.{Files, Paths}
import javax.imageio.ImageIO

import graft.Fixture

/** Deterministic PNG + WAV + MP4 fixture set for the REAL-decode
  * multimodal gates (qm02 images, qm03 audio, qm04 video containers):
  * seeded-LCG pixel/sample noise at per-id dimensions, encoded by the
  * JDK's ImageIO PNG writer, javax.sound.sampled WAV writer, and a
  * hand-rolled ISO-BMFF box writer (ftyp/moov/mvhd/trak/mdat), plus
  * `expected_meta.csv` / `expected_audio.csv` / `expected_video.csv`
  * sidecars recording each asset's intended parameters and the actual
  * encoded byte count.
  *
  * The sidecars are written in the same generation pass as the assets,
  * so the DuckDB oracle can state the expected metadata while the
  * Spark side must genuinely DECODE the bytes to reproduce it — the
  * dimensions / sample rates are not recoverable from the file name
  * or size.
  *
  * Driver-side by design: fixture authoring, not a distributed
  * operator (same stance as refstar.Fixtures).
  */
object MediaFixtures {

  /** Bump when fixture content changes so stale directories regenerate. */
  val Version = 9

  val Count = 64

  def root: String =
    sys.env.getOrElse("GRAFT_MEDIA_FIXTURE_DIR", Fixture.checkoutDir("media"))

  def metaCsv: String = s"$root/expected_meta.csv"

  def audioCsv: String = s"$root/expected_audio.csv"

  def videoCsv: String = s"$root/expected_video.csv"

  def videoTracksCsv: String = s"$root/expected_video_tracks.csv"

  def videoFramesCsv: String = s"$root/expected_video_frames.csv"

  def featuresCsv: String = s"$root/expected_features.csv"

  def dhashCsv: String = s"$root/expected_dhash.csv"

  def audioFpCsv: String = s"$root/expected_audio_fp.csv"

  def audioFeaturesCsv: String = s"$root/expected_audio_features.csv"

  /** Generate (once) and return the fixture root. Thread-safe in-JVM. */
  def ensure(): String = {
    Fixture.versioned(s"$root/VERSION", Version)(generate())
    root
  }

  /** The 64-bit LCG step (Knuth's MMIX constants) behind every asset. */
  private def lcg(seed: Long): Long =
    seed * 6364136223846793005L + 1442695040888963407L

  /** `n` noise bytes: bits 32-39 of successive LCG states from `seed`. */
  private def lcgBytes(n: Int, seed: Long): Array[Byte] = {
    var s = seed
    Array.fill(n) { s = lcg(s); (s >>> 32).toByte }
  }

  /** `img` painted row-major, one LCG step per pixel from `seed`. */
  private def lcgPaint(img: BufferedImage, seed: Long)(
      rgb: Long => Int): BufferedImage = {
    var s = seed
    for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
      s = lcg(s)
      img.setRGB(x, y, rgb(s))
    }
    img
  }

  private def generate(): Unit = {
    Files.createDirectories(Paths.get(root))
    val sb = new StringBuilder("media_id,width,height,channels,n_bytes\n")
    // per-channel pixel sums recorded AT GENERATION from the same pixels
    // the encoder writes — PNG is lossless, so a real decode must
    // reproduce these exact integers (the qm05 feature-extract oracle)
    val fb = new StringBuilder("media_id,n_pixels,sum_r,sum_g,sum_b\n")
    // dHash of every image, computed AT GENERATION from the source
    // pixel arrays (the qm05 sidecar discipline: a lossless decode
    // must reproduce these exact 64-bit values)
    val db = new StringBuilder("media_id,dhash\n")
    def writeImage(id: Int, w: Int, h: Int, px: Array[Int]): Unit = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
      img.setRGB(0, 0, w, h, px, 0, w)
      val (sumR, sumG, sumB) = Multimodal.rgbSums(img)
      val bos = new ByteArrayOutputStream()
      ImageIO.write(img, "png", bos)
      val bytes = bos.toByteArray
      Files.write(Paths.get(root, f"img_$id%04d.png"), bytes)
      sb.append(s"$id,$w,$h,3,${bytes.length}\n")
      fb.append(s"$id,${w.toLong * h},$sumR,$sumG,$sumB\n")
      db.append(s"$id,${Multimodal.dhashFromPixels(w, h, (x, y) => px(y * w + x))}\n")
    }
    (1 to Count).foreach { id =>
      val w = 16 + (id * 7) % 48
      val h = 16 + (id * 13) % 48
      var seed = id * 2654435761L
      // channels masked to <= 0xf8: headroom so the near-dup variant's
      // uniform +4 brightness shift never clamps (dHash is then exactly
      // brightness-invariant and the planted pairs differ only by the
      // deliberately repainted blocks)
      val px = Array.fill(w * h) {
        seed = lcg(seed)
        (((seed >>> 24) & 0xffffff) & 0xf8f8f8).toInt
      }
      writeImage(id, w, h, px)
      if (id % 4 == 0) {
        // near-dup variant: +4 on every channel (hash-invariant), then
        // two 9x8-grid blocks painted white — a bounded, deterministic
        // visual edit flipping only the comparisons that touch them
        val dup = px.map(_ + 0x040404)
        for ((bi, bj) <- Seq((2, 3), (6, 1))) {
          var y = bj * h / 8
          while (y < (bj + 1) * h / 8) {
            var x = bi * w / 9
            while (x < (bi + 1) * w / 9) {
              dup(y * w + x) = 0xffffff
              x += 1
            }
            y += 1
          }
        }
        writeImage(9000 + id, w, h, dup)
      }
    }
    Files.write(Paths.get(metaCsv), sb.toString.getBytes)
    Files.write(Paths.get(featuresCsv), fb.toString.getBytes)
    Files.write(Paths.get(dhashCsv), db.toString.getBytes)
    generateAudio()
    generateVideo()
  }

  /** PCM_SIGNED 16-bit little-endian WAVs with per-id sample rate /
    * channel count / frame count and LCG sample noise.
    */
  private def generateAudio(): Unit = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val rates = Array(8000, 11025, 16000, 22050, 44100)
    val sb = new StringBuilder("media_id,sample_rate,channels,n_frames,n_bytes\n")
    // per-channel SAMPLE sums + global peak recorded at generation from
    // the exact PCM words the encoder writes — WAV is lossless PCM, so
    // a real decode must reproduce these integers (qm07's oracle)
    val fb = new StringBuilder("media_id,n_frames,sum_ch0,sum_ch1,peak\n")
    // 64-bit energy-gradient fingerprint per asset, computed AT
    // GENERATION from the source samples (the qm10 sidecar discipline:
    // WAV PCM losslessness makes a real decode reproduce these exactly)
    val ab = new StringBuilder("media_id,afp\n")
    def writeAudio(id: Int, rate: Int, channels: Int,
                   samples: Array[Int]): Unit = {
      val frames = samples.length / channels
      val data = new Array[Byte](samples.length * 2)
      var i = 0
      while (i < samples.length) {
        data(2 * i) = (samples(i) & 0xff).toByte
        data(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
        i += 1
      }
      var (sum0, sum1, peak) = (0L, 0L, 0L)
      var sIdx = 0
      while (sIdx < samples.length) {
        val s = samples(sIdx).toLong
        if (sIdx % channels == 0) sum0 += s else sum1 += s
        if (math.abs(s) > peak) peak = math.abs(s)
        sIdx += 1
      }
      val fmt = new AudioFormat(rate.toFloat, 16, channels, true, false)
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, frames.toLong)
      val bos = new ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      val bytes = bos.toByteArray
      Files.write(Paths.get(root, f"aud_$id%04d.wav"), bytes)
      sb.append(s"$id,$rate,$channels,$frames,${bytes.length}\n")
      fb.append(s"$id,$frames,$sum0,$sum1,$peak\n")
      val ch0 = Array.tabulate(frames)(f => samples(f * channels))
      ab.append(s"$id,${Multimodal.audioFingerprintFromSamples(ch0)}\n")
    }
    (1 to Count).foreach { id =>
      val rate = rates(id % rates.length)
      val channels = 1 + id % 2
      val frames = 200 + (id * 37) % 800
      var seed = id * 0x9E3779B97F4A7C15L
      // EVEN 16-bit samples: the near-dup variant's exact integer
      // halving then scales every window energy by exactly 1/2, so the
      // fingerprint is provably invariant to the gain change and the
      // planted pairs differ only by the deliberately muted windows
      val samples = Array.fill(frames * channels) {
        seed = lcg(seed)
        (seed >>> 32).toShort.toInt & ~1
      }
      writeAudio(id, rate, channels, samples)
      if (id % 4 == 0) {
        // near-dup variant: exact half volume (fingerprint-invariant),
        // then two of the 65 fingerprint windows muted — a bounded,
        // deterministic edit flipping only comparisons that touch them
        val dup = samples.map(_ / 2)
        for (wnd <- Seq(7, 23)) {
          var f = wnd * frames / 65
          while (f < (wnd + 1) * frames / 65) {
            var c = 0
            while (c < channels) { dup(f * channels + c) = 0; c += 1 }
            f += 1
          }
        }
        writeAudio(9000 + id, rate, channels, dup)
      }
    }
    Files.write(Paths.get(audioCsv), sb.toString.getBytes)
    Files.write(Paths.get(audioFeaturesCsv), fb.toString.getBytes)
    Files.write(Paths.get(audioFpCsv), ab.toString.getBytes)
  }

  // ----- ISO-BMFF (MP4) containers ------------------------------------

  private def box(typ: String, payload: Array[Byte]*): Array[Byte] = {
    val len = 8 + payload.map(_.length).sum
    val bb = ByteBuffer.allocate(len)
    bb.putInt(len).put(typ.getBytes("ISO-8859-1"))
    payload.foreach(bb.put)
    bb.array()
  }

  private def int32(v: Int): Array[Byte] = ByteBuffer.allocate(4).putInt(v).array()

  private val UnityMatrix: Array[Int] =
    Array(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)

  /** Movie header; `v1` writes the 64-bit-times layout. */
  private def mvhd(id: Int, timescale: Int, duration: Long, nextTrackId: Int,
                   v1: Boolean = false): Array[Byte] = {
    val bb = ByteBuffer.allocate(if (v1) 112 else 100)
    bb.put((if (v1) 1 else 0).toByte).put(Array[Byte](0, 0, 0)) // ver/flags
    if (v1) bb.putLong(3000000000L + id).putLong(3000000000L + id)
      .putInt(timescale).putLong(duration)
    else bb.putInt(0x30000000 + id).putInt(0x30000000 + id)
      .putInt(timescale).putInt(duration.toInt)
    bb.putInt(0x00010000).putShort(0x0100.toShort) // rate, volume
    bb.put(new Array[Byte](10)) // reserved
    UnityMatrix.foreach(bb.putInt)
    bb.put(new Array[Byte](24)) // pre_defined
    bb.putInt(nextTrackId)
    box("mvhd", bb.array())
  }

  /** One track: tkhd, then mdia → (mdhd, hdlr, minf → stbl(`table`)).
    * The tkhd presentation size is a FIXED 640x360 decoy on every
    * track, so a reader that takes it instead of the stsd sample
    * entry's coded size fails the gate.
    */
  private def trak(id: Int, trackId: Int, timescale: Int, duration: Long,
                   handler: String, table: Array[Byte]*): Array[Byte] = {
    val tkhd = ByteBuffer.allocate(84)
    tkhd.put(0.toByte).put(Array[Byte](0, 0, 7)) // v0, enabled|movie|preview
    tkhd.putInt(0x30000000 + id).putInt(0x30000000 + id)
    tkhd.putInt(trackId).putInt(0) // track_ID, reserved
    tkhd.putInt(duration.toInt)
    tkhd.put(new Array[Byte](8)) // reserved
    tkhd.putShort(0).putShort(0).putShort(0).putShort(0) // layer/group/vol/res
    UnityMatrix.foreach(tkhd.putInt)
    tkhd.putInt(640 << 16).putInt(360 << 16) // fixed-point decoy size
    val mdhd = ByteBuffer.allocate(24)
    mdhd.put(0.toByte).put(Array[Byte](0, 0, 0)) // v0/flags
    mdhd.putInt(0).putInt(0) // ctime/mtime
    mdhd.putInt(timescale).putInt(duration.toInt)
    mdhd.putShort(0x55C4.toShort).putShort(0) // language 'und', pre_defined
    val hdlr = box("hdlr",
      new Array[Byte](8), // version/flags, pre_defined
      handler.getBytes("ISO-8859-1"),
      new Array[Byte](13)) // reserved x3 + empty name
    box("trak", box("tkhd", tkhd.array()), box("mdia", box("mdhd", mdhd.array()),
      hdlr, box("minf", box("stbl", table: _*))))
  }

  /** Sample descriptions holding the one sample entry `fourcc(entry)`. */
  private def stsd(fourcc: String, entry: Array[Byte]): Array[Byte] =
    box("stsd", Array[Byte](0, 0, 0, 0), int32(1), box(fourcc, entry)) // version/flags, entry_count

  /** VisualSampleEntry body carrying the CODED width/height. */
  private def visualEntry(w: Int, h: Int): Array[Byte] = {
    val bb = ByteBuffer.allocate(78)
    bb.put(new Array[Byte](6)).putShort(1) // reserved, data_ref_index
    bb.putShort(0).putShort(0) // pre_defined, reserved
    bb.put(new Array[Byte](12)) // pre_defined
    bb.putShort(w.toShort).putShort(h.toShort) // CODED size
    bb.putInt(0x00480000).putInt(0x00480000) // 72 dpi h/v
    bb.putInt(0) // reserved
    bb.putShort(1) // frame_count
    bb.put(new Array[Byte](32)) // compressorname
    bb.putShort(24) // depth
    bb.putShort(-1) // pre_defined
    bb.array()
  }

  /** A `vide` track whose samples are `frames`, with the full sample
    * table: one sample per chunk (stts/stsc), per-sample sizes (stsz)
    * and each chunk's FILE offset (stco, from `offsets`).
    */
  private def frameTrak(id: Int, trackId: Int, timescale: Int, duration: Long,
      fourcc: String, w: Int, h: Int, frames: Array[Array[Byte]],
      offsets: Seq[Long]): Array[Byte] = {
    val n = frames.length
    val stts = ByteBuffer.allocate(16).putInt(0).putInt(1).putInt(n).putInt(100)
    val stsc = ByteBuffer.allocate(20).putInt(0).putInt(1).putInt(1).putInt(1).putInt(1)
    val stsz = ByteBuffer.allocate(12 + 4 * n).putInt(0).putInt(0).putInt(n) // varying sizes
    frames.foreach(f => stsz.putInt(f.length))
    val stco = ByteBuffer.allocate(8 + 4 * n).putInt(0).putInt(n)
    offsets.foreach(o => stco.putInt(o.toInt))
    trak(id, trackId, timescale, duration, "vide", stsd(fourcc, visualEntry(w, h)),
      box("stts", stts.array()), box("stsc", stsc.array()),
      box("stsz", stsz.array()), box("stco", stco.array()))
  }

  /** ftyp + free + moov + mdat, where mdat holds `frames` and then
    * `noiseBytes` of trailing LCG noise, so a decoder that reads "the
    * rest of mdat" instead of the sample table fails. `moov` builds the
    * movie box's children from the frames' file offsets. Two-pass: stco
    * holds FILE offsets, which depend on moov's size — probe with zeros
    * (same byte length), then patch real offsets.
    */
  private def mp4(id: Int, brand: String, freeBytes: Int,
      frames: Array[Array[Byte]], noiseBytes: Int)(
      moov: Seq[Long] => Seq[Array[Byte]]): Array[Byte] = {
    val mdatPayload = frames.flatten ++ lcgBytes(noiseBytes, id * 0x9E3779B97F4A7C15L)
    val ftyp = box("ftyp", brand.getBytes("ISO-8859-1"), int32(0x200),
      "isommp42".getBytes("ISO-8859-1")) // compatible brands
    def assemble(offsets: Seq[Long]): Array[Byte] =
      ftyp ++ box("free", new Array[Byte](freeBytes)) ++
        box("moov", moov(offsets): _*) ++ box("mdat", mdatPayload)
    val probe = assemble(Seq.fill(frames.length)(0L))
    val payloadStart = (probe.length - mdatPayload.length).toLong
    val bytes = assemble(frames.scanLeft(payloadStart)((o, f) => o + f.length).init.toSeq)
    require(bytes.length == probe.length, "offset patch changed layout")
    bytes
  }

  /** Minimal-but-real MP4 containers: ftyp + free + moov(mvhd + N trak)
    * + mdat, with per-id brand / timescale / duration / track count and
    * LCG noise in mdat. Every fifth asset uses a VERSION-1 mvhd (64-bit
    * times) so the parser's version branch is exercised, and the `free`
    * box forces unknown-box skipping. Each trak carries the full sample
    * description subtree (tkhd + mdia/mdhd/hdlr/minf/stbl/stsd) with a
    * real VisualSampleEntry (codec fourcc, coded width/height) or
    * AudioSampleEntry — per-track metadata only recoverable by walking
    * five levels of the box tree.
    */
  private def generateVideo(): Unit = {
    val brands = Array("isom", "mp42", "avc1")
    val timescales = Array(600, 1000, 90000, 44100, 12288)
    val vcodecs = Array("avc1", "hev1", "mp4v")
    val sb = new StringBuilder("media_id,brand,timescale,duration,n_tracks,n_bytes\n")
    val tb = new StringBuilder("media_id,track_id,codec,width,height\n")
    // per-frame channel sums of the REAL uncompressed track, recorded
    // from the exact RGB24 bytes the mdat carries (qm08's oracle)
    val vfb = new StringBuilder("media_id,frame_id,width,height,sum_r,sum_g,sum_b\n")
    (1 to Count).foreach { id =>
      val brand = brands(id % brands.length)
      val timescale = timescales(id % timescales.length)
      val duration = 100L + (id.toLong * 137L) % 5000L
      val nTracks = 1 + id % 3
      // next_track_ID counts the raw track appended below
      val header = mvhd(id, timescale, duration, nTracks + 2, v1 = id % 5 == 0)

      val traks = (1 to nTracks).map { t =>
        // track 2 of three-track assets is audio; the rest are video
        val isAudio = t == 2 && nTracks == 3
        val codec = if (isAudio) "mp4a" else vcodecs((id + t) % vcodecs.length)
        val w = if (isAudio) 0 else 160 + ((id * 7 + t * 31) % 16) * 8
        val h = if (isAudio) 0 else 90 + ((id * 13 + t * 17) % 16) * 8
        val entry =
          if (isAudio) {
            val bb = ByteBuffer.allocate(28)
            bb.put(new Array[Byte](6)).putShort(1) // reserved, data_ref_index
            bb.put(new Array[Byte](8)) // reserved
            bb.putShort((1 + id % 2).toShort).putShort(16) // channels, bits
            bb.putShort(0).putShort(0) // pre_defined, reserved
            bb.putInt(44100 << 16) // fixed-point sample rate
            bb.array()
          } else visualEntry(w, h)
        tb.append(s"$id,$t,$codec,$w,$h\n")
        trak(id, t, timescale, duration, if (isAudio) "soun" else "vide",
          stsd(codec, entry))
      }

      // ----- the REAL track: uncompressed RGB24 frames ('raw ' fourcc,
      // the QuickTime uncompressed-video sample entry) with a full
      // sample table (stts/stsc/stsz/stco), payload in mdat -----------
      val nFrames = 2 + id % 3
      val wf = 8 + (id % 5) * 2
      val hf = 6 + (id % 3) * 2
      val frames = Array.tabulate(nFrames) { fi =>
        lcgBytes(wf * hf * 3, (id * 1000L + fi) * 0x9E3779B97F4A7C15L)
      }
      frames.zipWithIndex.foreach { case (px, fi) =>
        var (r, g, b) = (0L, 0L, 0L)
        var i = 0
        while (i < px.length) {
          r += px(i) & 0xff; g += px(i + 1) & 0xff; b += px(i + 2) & 0xff
          i += 3
        }
        vfb.append(s"$id,${fi + 1},$wf,$hf,$r,$g,$b\n")
      }
      tb.append(s"$id,${nTracks + 1},raw,$wf,$hf\n")

      val bytes = mp4(id, brand, 12, frames, 50 + (id * 53) % 400) { offs =>
        (header +: traks) :+
          frameTrak(id, nTracks + 1, timescale, duration, "raw ", wf, hf, frames, offs)
      }
      Files.write(Paths.get(root, f"vid_$id%04d.mp4"), bytes)
      sb.append(s"$id,$brand,$timescale,$duration,${nTracks + 1},${bytes.length}\n")
    }
    Files.write(Paths.get(videoCsv), sb.toString.getBytes)
    Files.write(Paths.get(videoTracksCsv), tb.toString.getBytes)
    Files.write(Paths.get(videoFramesCsv), vfb.toString.getBytes)
  }

  // ----- Motion-JPEG (Photo-JPEG) MP4 fixtures -------------------------

  /** Bump when the MJPEG fixture content changes. */
  val MjpegVersion = 1

  val MjpegCount = 24

  def mjpegDir: String = s"$root/mjpeg"

  def mjpegFramesCsv: String = s"$mjpegDir/expected_mjpeg_frames.csv"

  /** Generate (once) and return the MJPEG fixture dir: MP4 containers
    * whose video track is QuickTime Photo-JPEG (`jpeg` fourcc) — every
    * sample a complete baseline JPEG, encoded by the JDK's ImageIO
    * writer. JPEG is LOSSY, so the per-frame sidecar sums are recorded
    * from DECODING the exact bytes written (ImageIO both ways): the
    * Spark side must run the same real bitstream decode to reproduce
    * them, and generation-time vs decode-time determinism holds
    * because both are the same pure-Java decoder on the same bytes.
    */
  def ensureMjpeg(): String = {
    Fixture.versioned(s"$mjpegDir/VERSION", MjpegVersion)(generateMjpeg())
    mjpegDir
  }

  private def generateMjpeg(): Unit = {
    Files.createDirectories(Paths.get(mjpegDir))
    val vfb = new StringBuilder(
      "media_id,frame_id,width,height,sum_r,sum_g,sum_b\n")
    (1 to MjpegCount).foreach { id =>
      val timescale = 600
      val duration = 100L + id * 37L
      val nFrames = 2 + id % 3
      val w = 16 + (id % 5) * 8
      val h = 16 + (id % 3) * 8
      // LCG-noise RGB frames, JPEG-encoded with the default writer
      val frames: Array[Array[Byte]] = Array.tabulate(nFrames) { fi =>
        val img = lcgPaint(new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB),
          (id * 1000L + fi) * 0x9E3779B97F4A7C15L)(s => ((s >>> 32) & 0xFFFFFF).toInt)
        val baos = new ByteArrayOutputStream()
        require(ImageIO.write(img, "jpg", baos), "no JPEG writer available")
        baos.toByteArray
      }
      frames.zipWithIndex.foreach { case (jb, fi) =>
        val img = ImageIO.read(new java.io.ByteArrayInputStream(jb))
        val (r, g, b) = Multimodal.rgbSums(img)
        vfb.append(
          s"$id,${fi + 1},${img.getWidth},${img.getHeight},$r,$g,$b\n")
      }
      val bytes = mp4(id, "isom", 8, frames, 40 + (id * 29) % 200) { offs =>
        Seq(mvhd(id, timescale, duration, nextTrackId = 2),
          frameTrak(id, 1, timescale, duration, "jpeg", w, h, frames, offs))
      }
      Files.write(Paths.get(mjpegDir, f"vid_$id%04d.mp4"), bytes)
    }
    Files.write(Paths.get(mjpegFramesCsv), vfb.toString.getBytes)
  }

  // ----- WebDataset-style tar shards over the media fixtures -----------

  val TarVersion = 1

  def tarDir: String = s"$root/tar"

  def tarCsv: String = s"$tarDir/expected_tar.csv"

  /** Pack the media fixtures into 4 tar shards (round-robin, so every
    * shard mixes modalities like a real WebDataset) and record a
    * per-entry sidecar (name, size, 4-byte magic) AT PACK TIME — the
    * qm02 sidecar-oracle pattern: a reader must reproduce these exact
    * values from the tar bytes alone.
    */
  def ensureTars(): String = {
    ensure()
    Fixture.versioned(s"$tarDir/VERSION", TarVersion) {
      Files.createDirectories(Paths.get(tarDir))
      val files = new java.io.File(root).listFiles()
        .filter(f => f.getName.matches(".*\\.(png|wav|mp4)$"))
        .sortBy(_.getName)
      val shards = 4
      val sb = new StringBuilder("entry,n_bytes,magic\n")
      (0 until shards).foreach { s =>
        val entries = files.zipWithIndex.filter(_._2 % shards == s)
          .map { case (f, _) =>
            val bytes = Files.readAllBytes(f.toPath)
            val magic = bytes.take(4).map(b => f"${b & 0xff}%02X").mkString
            sb.append(s"${f.getName},${bytes.length},$magic\n")
            f.getName -> bytes
          }
        graft.sources.TarShards.writeTar(
          f"$tarDir/shard-$s%03d.tar", entries.toSeq)
      }
      Files.write(Paths.get(tarCsv), sb.toString.getBytes)
    }
    tarDir
  }

  // ----- animated GIF fixtures -----------------------------------------

  /** Bump when the GIF fixture content changes. */
  val GifVersion = 1

  val GifCount = 24

  def gifDir: String = s"$root/gif"

  def gifFramesCsv: String = s"$gifDir/expected_gif_frames.csv"

  /** Generate (once) and return the animated-GIF fixture dir: each
    * file is a multi-frame GIF (LZW-compressed, palette-indexed)
    * written by the JDK's ImageIO sequence writer. Frames are built on
    * an 8-color IndexColorModel so the encode is palette-exact, but
    * the sidecar STILL records sums from DECODING the exact bytes
    * written — via the SAME [[Multimodal.decodeGifFrames]] the gate's
    * Spark side runs, so agreement is by construction and any encoder
    * quirk (dithering, palette reorder) is captured, not assumed away.
    */
  def ensureGif(): String = {
    Fixture.versioned(s"$gifDir/VERSION", GifVersion)(generateGif())
    gifDir
  }

  private def generateGif(): Unit = {
    Files.createDirectories(Paths.get(gifDir))
    val pal = Array(0x000000, 0xE03131, 0x2F9E44, 0x1971C2,
      0xF08C00, 0x9C36B5, 0x0CA678, 0xFFFFFF)
    val cm = new java.awt.image.IndexColorModel(3, pal.length,
      pal.map(c => ((c >> 16) & 0xff).toByte),
      pal.map(c => ((c >> 8) & 0xff).toByte),
      pal.map(c => (c & 0xff).toByte))
    val vfb = new StringBuilder(
      "media_id,frame_id,width,height,sum_r,sum_g,sum_b\n")
    (1 to GifCount).foreach { id =>
      val nFrames = 2 + id % 4
      val w = 12 + (id % 5) * 6
      val h = 12 + (id % 3) * 6
      val frames = Array.tabulate(nFrames) { fi =>
        lcgPaint(new BufferedImage(w, h, BufferedImage.TYPE_BYTE_INDEXED, cm),
          (id * 1000L + fi) * 0x9E3779B97F4A7C15L)(s => pal((((s >>> 32) % 8).toInt + 8) % 8))
      }
      val baos = new ByteArrayOutputStream()
      val writers = ImageIO.getImageWritersByFormatName("gif")
      require(writers.hasNext, "no GIF writer available")
      val writer = writers.next()
      val ios = ImageIO.createImageOutputStream(baos)
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach { f =>
        writer.writeToSequence(new javax.imageio.IIOImage(f, null, null),
          null)
      }
      writer.endWriteSequence()
      ios.close()
      writer.dispose()
      val bytes = baos.toByteArray
      Files.write(Paths.get(gifDir, f"anim_$id%03d.gif"), bytes)
      Multimodal.decodeGifFrames(bytes).foreach {
        case (fi, fw, fh, r, g, b) =>
          vfb.append(s"$id,$fi,$fw,$fh,$r,$g,$b\n")
      }
    }
    Files.write(Paths.get(gifFramesCsv), vfb.toString.getBytes)
  }
}
