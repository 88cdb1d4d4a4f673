package graft.operators

import java.awt.image.BufferedImage

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.Text

/** Multimodal-column plumbing: images/audio/video ride through the
  * pipeline as opaque `binary` columns plus typed metadata, processed
  * per-partition in batches.
  *
  * The PNG path is REAL (`decodeImage`/`imageMeta` via the JDK's
  * javax.imageio, gated against a generation-time sidecar oracle —
  * qm02), so is the WAV path (`decodeAudio`/`audioMeta` via
  * javax.sound.sampled — qm03), and so is the MP4/ISO-BMFF CONTAINER
  * path (`decodeVideo`/`videoMeta`, a hand-rolled box walker — qm04).
  * Video FRAME decode is real for the uncompressed `raw ` codec:
  * `decodeVideoFrames` walks the sample tables (stsz/stco) and sums
  * actual RGB24 pixels out of mdat (qm08). COMPRESSED codecs
  * (avc1/hev1) still need native decoders this environment lacks —
  * `decodeStub` stands in for those, and everything around it — the
  * binary column representation, the batched mapPartitions shape (one
  * decoder init per partition, streamed batches, no collect), the
  * metadata schema — is the real, tested scale path; swapping
  * `decodeStub` for a JNI/javacpp codec is a one-function change, as
  * the PNG/WAV/MP4-raw paths demonstrate.
  */
object Multimodal {

  case class MediaMeta(
      id: Long, n_bytes: Long, width: Long, height: Long, channels: Long)

  /** Deterministic fake "decode": dimensions derived from a rolling
    * hash of the bytes. Replace with a real codec in production.
    */
  def decodeStub(bytes: Array[Byte]): (Long, Long, Long) = {
    var h = 7L
    var i = 0
    while (i < bytes.length) { h = (h * 31L + (bytes(i) & 0xff)) % 1000000007L; i += 1 }
    (16L + h % 240L, 16L + (h / 256L) % 240L, 3L)
  }

  /** Batched per-partition decode over (id, payload) — the
    * mapPartitions shape that scales: the iterator is consumed lazily,
    * one "decoder" (here: nothing) initialized per partition, output
    * streamed.
    */
  def extractMeta(spark: SparkSession, media: Dataset[(Long, Array[Byte])]): Dataset[MediaMeta] = {
    import spark.implicits._
    media.mapPartitions { it =>
      // real impl: init decoder/codec once here, per partition
      it.map { case (id, bytes) =>
        val (w, h, c) = decodeStub(bytes)
        MediaMeta(id, bytes.length.toLong, w, h, c)
      }
    }
  }

  case class ResizedMedia(id: Long, width: Long, height: Long,
                          payload: Array[Byte])

  /** Batched resize: the scale path keeps payloads opaque binary and
    * processes them per-partition (decoder/encoder initialized once per
    * partition, not per row). The pixel work is stubbed — the output
    * payload is a deterministic truncation standing in for re-encoded
    * bytes — but the dataflow (binary in, binary out, typed dims) is
    * the real shape a JNI codec would slot into.
    */
  def resize(spark: SparkSession, media: Dataset[(Long, Array[Byte])],
             maxBytes: Int): Dataset[ResizedMedia] = {
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { case (id, bytes) =>
        val out = bytes.take(maxBytes)
        val (w, h, _) = decodeStub(out)
        ResizedMedia(id, w, h, out)
      }
    }
  }

  case class Frame(id: Long, frame_idx: Long, offset: Long, n_bytes: Long)

  /** Frame sampling for video-like payloads: emit every `stride`-th
    * fixed-size window as a "frame" record. One input row fans out to
    * many frames — the generator shape (mapPartitions + iterator
    * flatMap) that streams without materializing a video in memory.
    */
  def sampleFrames(spark: SparkSession, media: Dataset[(Long, Array[Byte])],
                   frameBytes: Int, stride: Int): Dataset[Frame] = {
    import spark.implicits._
    media.mapPartitions { it =>
      it.flatMap { case (id, bytes) =>
        (0 until bytes.length by frameBytes * stride).iterator.zipWithIndex
          .map { case (off, i) =>
            Frame(id, i.toLong, off.toLong,
              math.min(frameBytes, bytes.length - off).toLong)
          }
      }
    }
  }

  /** One media kind's external stage: the `binaryFile` rows of a
    * directory whose names end `<prefix>_<digits>.<ext>`, as
    * (media_id, content). Every directory operator below reads its
    * files here and decodes them in its own per-partition shape.
    */
  private final case class MediaKind(prefix: String, ext: String) {
    def read(spark: SparkSession, dir: String): Dataset[(Long, Array[Byte])] = {
      import spark.implicits._
      spark.read.format("binaryFile")
        .option("pathGlobFilter", s"*.$ext").load(dir)
        .select(
          regexp_extract(col("path"), s"${prefix}_(\\d+)\\.$ext$$", 1)
            .cast(LongType).as("media_id"),
          col("content"))
        .as[(Long, Array[Byte])]
    }
  }

  private val Png = MediaKind("img", "png")
  private val Wav = MediaKind("aud", "wav")
  private val Mp4 = MediaKind("vid", "mp4")
  private val Gif = MediaKind("anim", "gif")

  private def readImage(bytes: Array[Byte]): BufferedImage = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    require(img != null, "not a decodable image")
    img
  }

  /** Per-channel integer sums over every decoded pixel: the one pixel
    * kernel of the PNG, Motion-JPEG and GIF feature paths and of the
    * fixture sidecars that gate them.
    */
  private[operators] def rgbSums(img: BufferedImage): (Long, Long, Long) = {
    var (r, g, b) = (0L, 0L, 0L)
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val px = img.getRGB(x, y)
        r += (px >> 16) & 0xff; g += (px >> 8) & 0xff; b += px & 0xff
        x += 1
      }
      y += 1
    }
    (r, g, b)
  }

  /** REAL decode for one format — PNG via the JDK's `javax.imageio`
    * (public stack, no external libs). Returns (width, height, bands).
    */
  def decodeImage(bytes: Array[Byte]): (Long, Long, Long) = {
    val img = readImage(bytes)
    (img.getWidth.toLong, img.getHeight.toLong,
      img.getRaster.getNumBands.toLong)
  }

  /** Decoded metadata for a directory of PNG files: the distributed
    * binary ingestion path (`binaryFile` source — each file is a row,
    * splittable across executors) into the same batched mapPartitions
    * decode shape as `extractMeta`, but with the real ImageIO codec.
    * At 100 TB this is exactly the layout a media corpus uses: many
    * files, opaque payload column, per-partition decoder, no collect.
    */
  def imageMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Png.read(spark, dir).mapPartitions { it =>
      // real codec init happens once per partition here if needed
      it.map { case (id, bytes) =>
        val (w, h, c) = decodeImage(bytes)
        MediaMeta(id, bytes.length.toLong, w, h, c)
      }
    }.select(col("id").as("media_id"), col("width"), col("height"),
      col("channels"), col("n_bytes"))
  }

  case class ImageFeatures(id: Long, n_pixels: Long, sum_r: Long,
                           sum_g: Long, sum_b: Long)

  /** REAL feature extraction from decoded pixels: per-channel integer
    * sums (mean color = sum / n_pixels, but the gate keeps the exact
    * integers — no float division to diverge). PNG is lossless, so
    * these must equal the generation-time sums bit-for-bit; a decoder
    * that subsamples, channel-swaps, or gamma-adjusts cannot pass.
    */
  def decodeImageFeatures(bytes: Array[Byte]): (Long, Long, Long, Long) = {
    val img = readImage(bytes)
    val (sumR, sumG, sumB) = rgbSums(img)
    (img.getWidth.toLong * img.getHeight, sumR, sumG, sumB)
  }

  /** Feature-extract over a directory of PNGs — same binaryFile →
    * batched mapPartitions shape as `imageMeta`, but the decode runs
    * the per-pixel feature kernel (the "feature-extract" stage of a
    * multimodal training pipeline, on real pixels).
    */
  def imageFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Png.read(spark, dir).mapPartitions { it =>
      it.map { case (id, bytes) =>
        val (n, r, g, b) = decodeImageFeatures(bytes)
        ImageFeatures(id, n, r, g, b)
      }
    }.select(col("id").as("media_id"), col("n_pixels"),
      col("sum_r"), col("sum_g"), col("sum_b"))
  }

  /** 64-bit difference hash (dHash) from a pixel accessor — the
    * standard perceptual near-dup fingerprint for image corpora:
    * downsample to a 9-wide x 8-high grid of mean luma (equal pixel
    * blocks, integer BT.709 weights 2126/7152/722), then bit y*8+x is
    * set iff grid mean (x,y) < (x+1,y). Means are compared by exact
    * integer cross-multiplication (sumA*nB < sumB*nA — no division, no
    * floats), so generation-time and decode-time values are
    * bit-identical by construction. Brightness-invariant: a uniform
    * luma shift preserves every comparison, which is exactly why
    * near-dup variants of an image collide while unrelated noise
    * lands ~32 bits away.
    */
  def dhashFromPixels(w: Int, h: Int, rgb: (Int, Int) => Int): Long = {
    val xs = Array.tabulate(10)(i => i * w / 9)
    val ys = Array.tabulate(9)(j => j * h / 8)
    val sums = Array.ofDim[Long](9, 8)
    val ns = Array.ofDim[Long](9, 8)
    var j = 0
    while (j < 8) {
      var i = 0
      while (i < 9) {
        var s = 0L
        var y = ys(j)
        while (y < ys(j + 1)) {
          var x = xs(i)
          while (x < xs(i + 1)) {
            val p = rgb(x, y)
            s += 2126L * ((p >> 16) & 0xff) + 7152L * ((p >> 8) & 0xff) +
              722L * (p & 0xff)
            x += 1
          }
          y += 1
        }
        sums(i)(j) = s
        ns(i)(j) = (xs(i + 1) - xs(i)).toLong * (ys(j + 1) - ys(j))
        i += 1
      }
      j += 1
    }
    var hash = 0L
    j = 0
    while (j < 8) {
      var x = 0
      while (x < 8) {
        if (sums(x)(j) * ns(x + 1)(j) < sums(x + 1)(j) * ns(x)(j))
          hash |= 1L << (j * 8 + x)
        x += 1
      }
      j += 1
    }
    hash
  }

  case class ImageDhash(id: Long, dhash: Long)

  /** dHash over a directory of PNGs — binaryFile source, per-partition
    * decode, no collect (the imageMeta shape). Gated against the
    * generation-time sidecar (qm10): PNG is lossless, so the decoded
    * pixels must reproduce the exact hash computed from the source
    * pixel array at generation.
    */
  def imageDhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Png.read(spark, dir).mapPartitions { it =>
      it.map { case (id, bytes) =>
        val img = readImage(bytes)
        ImageDhash(id, dhashFromPixels(img.getWidth, img.getHeight, img.getRGB))
      }
    }.select(col("id").as("media_id"), col("dhash"))
  }

  /** Image near-dup pairs by dHash Hamming distance — the visual twin
    * of simhash text dedup, with the same exactness argument: a 64-bit
    * hash split into 8 disjoint 8-bit bands; any pair within
    * `maxHamming` <= 7 differing bits must agree on at least one whole
    * band (pigeonhole: 8 bands, at most 7 damaged), so the banded
    * equi-join's candidate set provably contains every qualifying pair
    * and the bit_count verify makes the output exact. Scale shape: 8
    * band-keyed equi-joins on a one-long-per-image table — never a
    * pairwise cross join.
    */
  def imageNearDupPairs(spark: SparkSession, dir: String,
                        maxHamming: Int = 7): DataFrame =
    hammingNearDupPairs(imageDhash(spark, dir), "media_id", "dhash", maxHamming)

  /** Banded Hamming near-dup join over any (id, 64-bit hash) frame —
    * shared by the image-dHash and audio-fingerprint paths: 8 disjoint
    * 8-bit bands, candidate equi-joins per band (a pair within
    * `maxHamming` <= 7 differing bits must agree on a whole band —
    * pigeonhole), exact popcount verify. Never a cross join.
    */
  def hammingNearDupPairs(dh0: DataFrame, idCol: String, hashCol: String,
                          maxHamming: Int = 7): DataFrame = {
    require(maxHamming < 8, "pigeonhole recall needs maxHamming < bands")
    val dh = dh0.localCheckpoint()
    val banded = dh.select(col(idCol), col(hashCol),
      explode(array((0 until 8).map(b =>
        struct(lit(b).as("band"),
          shiftright(col(hashCol), b * 8).bitwiseAND(lit(255L)).as("key"))): _*))
        .as("bk"))
      .select(col(idCol), col(hashCol),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        col(s"a.$hashCol").as("ha"), col(s"b.$hashCol").as("hb"))
      .distinct()
    cand
      .withColumn("hamming",
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast(LongType))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** 64-bit audio fingerprint from channel-0 PCM samples — the audio
    * twin of [[dhashFromPixels]]: the sample sequence splits into 65
    * equal windows, per-window energy is the exact integer sum of
    * absolute amplitudes, and bit i compares windows i and i+1 by
    * integer cross-multiplication (no division, no floats). Exactly
    * invariant under any exact uniform gain change (all energies scale
    * together), locally sensitive to edits that touch a window.
    */
  def audioFingerprintFromSamples(ch0: Array[Int]): Long = {
    val n = ch0.length
    require(n >= 65, s"need >= 65 frames for a 64-bit fingerprint, got $n")
    val bounds = Array.tabulate(66)(i => i * n / 65)
    val e = new Array[Long](65)
    val cnt = new Array[Long](65)
    var w = 0
    while (w < 65) {
      var s = 0L
      var i = bounds(w)
      while (i < bounds(w + 1)) { s += math.abs(ch0(i).toLong); i += 1 }
      e(w) = s
      cnt(w) = (bounds(w + 1) - bounds(w)).toLong
      w += 1
    }
    var hash = 0L
    var i = 0
    while (i < 64) {
      if (e(i) * cnt(i + 1) < e(i + 1) * cnt(i)) hash |= 1L << i
      i += 1
    }
    hash
  }

  /** Channel-0 PCM samples of a 16-bit signed WAV. */
  def decodeAudioCh0(bytes: Array[Byte]): Array[Int] = {
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val f = in.getFormat
      require(f.getSampleSizeInBits == 16 && !f.isBigEndian,
        "canonical ingest format is 16-bit little-endian PCM")
      val ch = f.getChannels
      val data = in.readAllBytes()
      val frames = data.length / (2 * ch)
      Array.tabulate(frames) { i =>
        val o = i * ch * 2
        (((data(o + 1) << 8) | (data(o) & 0xff)).toShort).toInt
      }
    } finally in.close()
  }

  case class AudioFp(id: Long, afp: Long)

  /** Audio fingerprints for a directory of WAVs — binaryFile source,
    * per-partition decode, no collect; gated against the
    * generation-time sidecar (qm12, WAV PCM losslessness).
    */
  def audioDhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Wav.read(spark, dir).mapPartitions { it =>
      it.map { case (id, bytes) =>
        AudioFp(id, audioFingerprintFromSamples(decodeAudioCh0(bytes)))
      }
    }.select(col("id").as("media_id"), col("afp"))
  }

  /** Audio near-dup pairs by fingerprint Hamming distance — the same
    * banded join as the visual path.
    */
  def audioNearDupPairs(spark: SparkSession, dir: String,
                        maxHamming: Int = 7): DataFrame =
    hammingNearDupPairs(audioDhash(spark, dir), "media_id", "afp", maxHamming)

  case class AudioMeta(id: Long, n_bytes: Long, sample_rate: Long,
                       channels: Long, n_frames: Long)

  /** REAL audio decode — WAV via the JDK's `javax.sound.sampled`
    * (public stack, no external libs; the same zero-dependency move as
    * the PNG path). Returns (sampleRate, channels, frameLength); the
    * frame count is the exact integer duration measure, so the gate
    * stays hash-exact (duration-in-seconds would be a float ratio).
    */
  def decodeAudio(bytes: Array[Byte]): (Long, Long, Long) = {
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val f = in.getFormat
      (f.getSampleRate.toLong, f.getChannels.toLong, in.getFrameLength)
    } finally in.close()
  }

  /** Decoded metadata for a directory of WAV files — the audio twin of
    * `imageMeta`: `binaryFile` source, per-partition decode, no
    * collect. Gated against the generation-time sidecar (qm03).
    */
  def audioMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Wav.read(spark, dir).mapPartitions { it =>
      it.map { case (id, bytes) =>
        val (rate, ch, frames) = decodeAudio(bytes)
        AudioMeta(id, bytes.length.toLong, rate, ch, frames)
      }
    }.select(col("id").as("media_id"), col("sample_rate"), col("channels"),
      col("n_frames"), col("n_bytes"))
  }

  case class AudioFeatures(id: Long, n_frames: Long, sum_ch0: Long,
                           sum_ch1: Long, peak: Long)

  /** REAL audio feature extraction from decoded PCM: per-channel sample
    * sums (DC offset = sum / frames — the gate keeps the exact
    * integers) and the global peak amplitude (the clipping/loudness
    * audit signal). WAV PCM is lossless, so these must equal the
    * generation-time values bit-for-bit; a decoder that resamples,
    * byte-swaps, or drops a channel cannot pass. Requires 16-bit signed
    * PCM — the pipeline's canonical ingest format.
    */
  def decodeAudioFeatures(bytes: Array[Byte]): (Long, Long, Long, Long) = {
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val f = in.getFormat
      require(f.getSampleSizeInBits == 16 &&
        f.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
        s"expected 16-bit signed PCM, got $f")
      val channels = f.getChannels
      val big = f.isBigEndian
      val data = in.readAllBytes()
      var (sum0, sum1, peak) = (0L, 0L, 0L)
      var sIdx = 0
      val nSamples = data.length / 2
      while (sIdx < nSamples) {
        val (b0, b1) = (data(2 * sIdx), data(2 * sIdx + 1))
        val s = (if (big) (b0 << 8) | (b1 & 0xff)
                 else (b1 << 8) | (b0 & 0xff)).toShort.toLong
        if (sIdx % channels == 0) sum0 += s else sum1 += s
        if (math.abs(s) > peak) peak = math.abs(s)
        sIdx += 1
      }
      (nSamples.toLong / channels, sum0, sum1, peak)
    } finally in.close()
  }

  /** Feature-extract over a directory of WAVs — the audio twin of
    * [[imageFeatures]]: `binaryFile` source, per-partition decode with
    * the per-sample kernel, no collect. Gated against the
    * generation-time sidecar (qm07).
    */
  def audioFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Wav.read(spark, dir).mapPartitions { it =>
      it.map { case (id, bytes) =>
        val (frames, s0, s1, pk) = decodeAudioFeatures(bytes)
        AudioFeatures(id, frames, s0, s1, pk)
      }
    }.select(col("id").as("media_id"), col("n_frames"),
      col("sum_ch0"), col("sum_ch1"), col("peak"))
  }

  case class VideoMeta(id: Long, n_bytes: Long, brand: String,
                       timescale: Long, duration: Long, n_tracks: Long)

  /** Big-endian readers + the ONE box walker all three MP4 decoders
    * share — a parsing fix (largesize handling, bounds checks) lands
    * once, not per decoder.
    */
  private def beU32(bytes: Array[Byte], off: Int): Long =
    java.nio.ByteBuffer.wrap(bytes).getInt(off) & 0xffffffffL

  private def beU16(bytes: Array[Byte], off: Int): Long =
    (java.nio.ByteBuffer.wrap(bytes).getShort(off) & 0xffff).toLong

  /** Visit every ISO-BMFF box in [start, end): f(type, payloadStart,
    * boxEnd). Handles `largesize` (size==1 → 64-bit) and size==0 (box
    * extends to the end) per ISO/IEC 14496-12, and skips unknown boxes
    * by size — what makes a walk safe on files full of `free`/`udta`/
    * vendor boxes.
    */
  private def walkBoxes(bytes: Array[Byte], start: Int, end: Int)(
      f: (String, Int, Int) => Unit): Unit = {
    var off = start
    while (off + 8 <= end) {
      var size = beU32(bytes, off)
      val typ = new String(bytes, off + 4, 4, "ISO-8859-1")
      var hdr = 8
      if (size == 1) {
        size = java.nio.ByteBuffer.wrap(bytes).getLong(off + 8); hdr = 16
      } else if (size == 0) size = (end - off).toLong
      require(size >= hdr && off + size <= end, s"corrupt box '$typ' at $off")
      f(typ, off + hdr, off + size.toInt)
      off += size.toInt
    }
  }

  /** REAL video-container parse — MP4/ISO-BMFF via a hand-rolled box
    * walker (pure JVM, no codec libraries; the container layout is the
    * published ISO/IEC 14496-12 base-media format). Walks the top-level
    * box sequence for `ftyp` (major brand) and `moov`, then `moov`'s
    * children for `mvhd` (timescale + duration, both 32-bit v0 and
    * 64-bit v1 layouts) and the `trak` count. Handles `largesize`
    * (size==1 → 64-bit) and size==0 (box extends to end) per spec, and
    * skips unknown boxes by size — which is what makes a box walk safe
    * on real-world files full of `free`/`udta`/vendor boxes. Full frame
    * decode needs native codecs and stays out of scope; container
    * metadata is what corpus curation at 100 TB actually filters on
    * (duration, track shape) before paying for any decode.
    */
  def decodeVideo(bytes: Array[Byte]): (String, Long, Long, Long) = {
    var brand = ""
    var timescale = 0L
    var duration = 0L
    var tracks = 0L
    walkBoxes(bytes, 0, bytes.length) { (typ, s, e) =>
      typ match {
        case "ftyp" => brand = new String(bytes, s, 4, "ISO-8859-1")
        case "moov" => walkBoxes(bytes, s, e) { (child, cs, _) =>
          child match {
            case "mvhd" =>
              if ((bytes(cs) & 0xff) == 1) { // v1: 64-bit times
                timescale = beU32(bytes, cs + 20)
                duration = java.nio.ByteBuffer.wrap(bytes).getLong(cs + 24)
              } else {
                timescale = beU32(bytes, cs + 12); duration = beU32(bytes, cs + 16)
              }
            case "trak" => tracks += 1
            case _ => ()
          }
        }
        case _ => ()
      }
    }
    require(brand.nonEmpty && timescale > 0, "not an ISO-BMFF container")
    (brand, timescale, duration, tracks)
  }

  case class TrackMeta(id: Long, track_id: Long, codec: String,
                       width: Long, height: Long)

  /** Per-track sample-description metadata: walks
    * trak → tkhd (track id) and trak → mdia → (hdlr, minf → stbl →
    * stsd) and reads the first sample entry's codec fourcc plus, for
    * `vide` handlers, the CODED width/height from the
    * VisualSampleEntry (ISO 14496-12 §12.1.3: 16-bit fields at payload
    * offsets 24/26, after reserved/pre_defined). Audio tracks report
    * 0x0 — their entry carries channel/rate fields instead. The tkhd
    * presentation size is deliberately NOT consulted (the fixture
    * plants a decoy there). Assumes hdlr precedes minf within mdia, as
    * 14496-12 specifies for the file layouts in the wild.
    */
  def decodeTracks(bytes: Array[Byte]): Seq[(Long, String, Long, Long)] = {
    val out = Seq.newBuilder[(Long, String, Long, Long)]
    walkBoxes(bytes, 0, bytes.length) {
      case ("moov", ms, me) => walkBoxes(bytes, ms, me) {
        case ("trak", ts, te) =>
          var trackId = -1L
          var handler = ""
          var codec = ""
          var w = 0L
          var h = 0L
          walkBoxes(bytes, ts, te) {
            case ("tkhd", cs, _) =>
              // v0: id at +12 after ver/flags+ctime+mtime; v1: at +20
              trackId = beU32(bytes, if ((bytes(cs) & 0xff) == 1) cs + 20 else cs + 12)
            case ("mdia", ds, de) => walkBoxes(bytes, ds, de) {
              case ("hdlr", cs, _) =>
                handler = new String(bytes, cs + 8, 4, "ISO-8859-1")
              case ("minf", fs, fe) => walkBoxes(bytes, fs, fe) {
                case ("stbl", bs, be) => walkBoxes(bytes, bs, be) {
                  case ("stsd", cs, _) =>
                    require(beU32(bytes, cs + 4) >= 1, "stsd with no sample entries")
                    val entry = cs + 8 // first entry's box header
                    // fourccs are space-padded ('raw ' is the QuickTime
                    // uncompressed entry); report them right-trimmed
                    codec = new String(bytes, entry + 4, 4, "ISO-8859-1").trim
                    if (handler == "vide") {
                      w = beU16(bytes, entry + 8 + 24)
                      h = beU16(bytes, entry + 8 + 26)
                    }
                  case _ => ()
                }
                case _ => ()
              }
              case _ => ()
            }
            case _ => ()
          }
          require(trackId >= 0 && codec.nonEmpty, "trak without tkhd/stsd")
          out += ((trackId, codec, w, h))
        case _ => ()
      }
      case _ => ()
    }
    out.result()
  }

  /** Per-track metadata for a directory of MP4 files (one row per
    * (media, track)), same binaryFile + per-partition walk shape as
    * `videoMeta`. Gated against the generation-time per-track sidecar
    * (qm06).
    */
  def videoTrackMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Mp4.read(spark, dir)
      .flatMap { case (id, bytes) =>
        decodeTracks(bytes).map { case (tid, codec, w, h) =>
          TrackMeta(id, tid, codec, w, h)
        }
      }
      .select(col("id").as("media_id"), col("track_id"), col("codec"),
        col("width"), col("height"))
  }

  case class FrameFeatures(id: Long, frame_id: Long, width: Long,
                           height: Long, sum_r: Long, sum_g: Long, sum_b: Long)

  /** REAL video FRAME decode for the uncompressed `raw ` codec
    * (QuickTime RGB24 sample entries) AND the COMPRESSED Motion-JPEG
    * `jpeg` codec (QuickTime Photo-JPEG, one complete baseline JPEG
    * per sample, decoded pure-JVM via javax.imageio): walks trak →
    * mdia → minf → stbl for a `vide` handler, reads the sample table —
    * stsz (per-sample byte sizes) and stco (absolute file offsets of
    * each sample's chunk, here one sample per chunk per stsc) — then
    * slices each frame's payload out of mdat and sums the decoded
    * channels. This is the full container→sample→pixel path with zero
    * native code, now crossing a real compressed bitstream (qm14);
    * inter-frame codecs (avc1/hev1) still require native decoders and
    * remain out of scope, exactly like a production pipeline that
    * routes them to a codec farm while handling intra-only formats
    * inline. Returns one (frameIdx, w, h, sumR, sumG, sumB) per frame.
    */
  def decodeVideoFrames(bytes: Array[Byte]): Seq[(Long, Long, Long, Long, Long, Long)] = {
    val out = Seq.newBuilder[(Long, Long, Long, Long, Long, Long)]
    walkBoxes(bytes, 0, bytes.length) {
      case ("moov", ms, me) => walkBoxes(bytes, ms, me) {
        case ("trak", ts, te) =>
          var handler = ""
          var codec = ""
          var w = 0L
          var h = 0L
          var sizes: Array[Int] = Array.empty
          var offsets: Array[Long] = Array.empty
          walkBoxes(bytes, ts, te) {
            case ("mdia", ds, de) => walkBoxes(bytes, ds, de) {
              case ("hdlr", cs, _) =>
                handler = new String(bytes, cs + 8, 4, "ISO-8859-1")
              case ("minf", fs, fe) => walkBoxes(bytes, fs, fe) {
                case ("stbl", bs, be) => walkBoxes(bytes, bs, be) {
                  case ("stsd", cs, _) =>
                    val entry = cs + 8
                    codec = new String(bytes, entry + 4, 4, "ISO-8859-1")
                    w = beU16(bytes, entry + 8 + 24); h = beU16(bytes, entry + 8 + 26)
                  case ("stsz", cs, _) =>
                    val fixed = beU32(bytes, cs + 4)
                    val n = beU32(bytes, cs + 8).toInt
                    sizes =
                      if (fixed != 0) Array.fill(n)(fixed.toInt)
                      else Array.tabulate(n)(i => beU32(bytes, cs + 12 + 4 * i).toInt)
                  case ("stco", cs, _) =>
                    val n = beU32(bytes, cs + 4).toInt
                    offsets = Array.tabulate(n)(i => beU32(bytes, cs + 8 + 4 * i))
                  case _ => ()
                }
                case _ => ()
              }
              case _ => ()
            }
            case _ => ()
          }
          if (handler == "vide" && (codec == "raw " || codec == "jpeg")) {
            require(sizes.length == offsets.length && sizes.nonEmpty,
              s"$codec track without a complete sample table")
            var fi = 0
            while (fi < sizes.length) {
              val o = offsets(fi).toInt
              if (codec == "raw ") {
                require(sizes(fi) == w * h * 3,
                  s"frame $fi size ${sizes(fi)} != ${w}x${h}x3")
                var (r, g, b) = (0L, 0L, 0L)
                var i = o
                val endPx = o + sizes(fi)
                while (i < endPx) {
                  r += bytes(i) & 0xff; g += bytes(i + 1) & 0xff
                  b += bytes(i + 2) & 0xff
                  i += 3
                }
                out += (((fi + 1).toLong, w, h, r, g, b))
              } else {
                // Motion-JPEG (QuickTime 'jpeg' Photo-JPEG): every
                // sample is a complete baseline JPEG — decode it with
                // the pure-Java ImageIO decoder (same decoder the
                // fixture generator used for the sidecar sums, so the
                // lossy round-trip is bit-deterministic). Width/height
                // come from the DECODED image, not the stsd entry: a
                // decoder that trusts the container instead of the
                // bitstream fails the gate.
                val img = javax.imageio.ImageIO.read(
                  new java.io.ByteArrayInputStream(bytes, o, sizes(fi)))
                require(img != null, s"frame $fi is not decodable JPEG")
                val (r, g, b) = rgbSums(img)
                out += (((fi + 1).toLong, img.getWidth.toLong,
                  img.getHeight.toLong, r, g, b))
              }
              fi += 1
            }
          }
        case _ => ()
      }
      case _ => ()
    }
    out.result()
  }

  /** Per-frame pixel features for a directory of MP4s — one row per
    * decoded `raw `-track frame, same binaryFile + per-partition walk
    * shape as the other media paths. Gated against the generation-time
    * per-frame sidecar (qm08).
    */
  def videoFrameFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Mp4.read(spark, dir)
      .flatMap { case (id, bytes) =>
        decodeVideoFrames(bytes).map { case (fi, w, h, r, g, b) =>
          FrameFeatures(id, fi, w, h, r, g, b)
        }
      }
      .select(col("id").as("media_id"), col("frame_id"), col("width"),
        col("height"), col("sum_r"), col("sum_g"), col("sum_b"))
  }

  /** Every frame of an animated GIF, decoded with the JDK's ImageIO
    * GIF reader — the second REAL compressed bitstream through the
    * pure-JVM codec seam (after qm14's Motion-JPEG): GIF is
    * LZW-compressed, palette-indexed, multi-frame-in-one-stream. The
    * reader iterates stored frames (`getNumImages(true)` forces a full
    * stream scan); dimensions come from each DECODED frame. Returns
    * (frame_id starting at 1, width, height, sumR, sumG, sumB).
    *
    * Shared verbatim by the fixture generator's sidecar writer and the
    * Spark-side decode, so generation-time vs serve-time agreement is
    * by construction, not by parallel implementations.
    */
  def decodeGifFrames(bytes: Array[Byte])
      : Seq[(Long, Long, Long, Long, Long, Long)] = {
    val readers = javax.imageio.ImageIO.getImageReadersByFormatName("gif")
    require(readers.hasNext, "no GIF reader available in this JVM")
    val reader = readers.next()
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      reader.setInput(iis, false, true)
      val n = reader.getNumImages(true)
      require(n > 0, "GIF stream holds no frames")
      (0 until n).map { fi =>
        val img = reader.read(fi)
        val (r, g, b) = rgbSums(img)
        ((fi + 1).toLong, img.getWidth.toLong, img.getHeight.toLong,
          r, g, b)
      }
    } finally {
      reader.dispose()
      iis.close()
    }
  }

  /** Per-frame pixel features for a directory of animated GIFs — the
    * qm14 shape over the LZW codec: `binaryFile` source, row-local
    * per-file decode (the correct tool for codec libraries), no
    * collect. Gated against the generation-time decoded sidecar
    * (qm15).
    */
  def gifFrameFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Gif.read(spark, dir)
      .flatMap { case (id, bytes) =>
        decodeGifFrames(bytes).map { case (fi, w, h, r, g, b) =>
          FrameFeatures(id, fi, w, h, r, g, b)
        }
      }
      .select(col("id").as("media_id"), col("frame_id"), col("width"),
        col("height"), col("sum_r"), col("sum_g"), col("sum_b"))
  }

  /** Container metadata for a directory of MP4 files — the video twin
    * of `imageMeta`/`audioMeta`: `binaryFile` source, per-partition box
    * walk, no collect. Gated against the generation-time sidecar (qm04).
    */
  def videoMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Mp4.read(spark, dir).mapPartitions { it =>
      it.map { case (id, bytes) =>
        val (brand, ts, dur, tracks) = decodeVideo(bytes)
        VideoMeta(id, bytes.length.toLong, brand, ts, dur, tracks)
      }
    }.select(col("id").as("media_id"), col("brand"), col("timescale"),
      col("duration"), col("n_tracks"), col("n_bytes"))
  }

  /** Column-only mirror of the stub (identical arithmetic, codegen'd via
    * PolyHash on ASCII payloads) — used by the oracle-gated query so the
    * semantics are hash-verified cross-engine.
    */
  def metaColumns(df: DataFrame, idCol: String, textAsPayload: String): DataFrame = {
    val fp = Text.polyhash(col(textAsPayload))
    df.select(
      col(idCol),
      octet_length(col(textAsPayload)).cast(LongType).as("n_bytes"),
      (lit(16L) + fp % 240L).as("width"),
      (lit(16L) + (fp.cast(LongType) / 256L).cast(LongType) % 240L).as("height"),
      lit(3L).as("channels"))
  }
}
