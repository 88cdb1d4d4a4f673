package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Text
import graft.operators.{MediaFixtures, Multimodal}

/** Multimodal gates (`qm`): image, audio and video decode, metadata,
  * features and near-dup fingerprints, and tar-shard reads, over the
  * generated media fixtures (graft.operators.MediaFixtures).
  */
object MultimodalGates {

  val all: Seq[Q] = Seq(

    // ----- multimodal metadata plumbing (stub decode) --------------------
    Q("qm01_multimodal_meta",
      s"""WITH f AS (SELECT doc_id, text, ${Text.polyhashSql("text")} AS fp FROM documents)
         |SELECT doc_id,
         |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         |  16 + (fp % 240) AS width,
         |  16 + ((fp // 256) % 240) AS height,
         |  CAST(3 AS BIGINT) AS channels
         |FROM f""".stripMargin) { (s, dir) =>
      Multimodal.metaColumns(Tables(s, dir, "documents"), "doc_id", "text")
    },

    // ----- multimodal REAL decode (PNG via javax.imageio) ----------------
    // The oracle reads the generation-time sidecar; the Spark side must
    // actually decode the PNG bytes to reproduce width/height/channels.
    Q("qm02_png_decode",
      s"""SELECT media_id, width, height, channels, n_bytes
         |FROM read_csv('${MediaFixtures.metaCsv}', header=true,
         |  columns={'media_id': 'BIGINT', 'width': 'BIGINT',
         |    'height': 'BIGINT', 'channels': 'BIGINT',
         |    'n_bytes': 'BIGINT'})""".stripMargin) { (s, _) =>
      Multimodal.imageMeta(s, MediaFixtures.ensure())
    },

    // ----- multimodal REAL decode (WAV via javax.sound.sampled) ----------
    // Same shape as qm02: the Spark side must parse the WAV headers and
    // frame stream to reproduce the generation-time sidecar.
    Q("qm03_wav_decode",
      s"""SELECT media_id, sample_rate, channels, n_frames, n_bytes
         |FROM read_csv('${MediaFixtures.audioCsv}', header=true,
         |  columns={'media_id': 'BIGINT', 'sample_rate': 'BIGINT',
         |    'channels': 'BIGINT', 'n_frames': 'BIGINT',
         |    'n_bytes': 'BIGINT'})""".stripMargin) { (s, _) =>
      Multimodal.audioMeta(s, MediaFixtures.ensure())
    },

    // ----- multimodal REAL container parse (MP4/ISO-BMFF box walk) -------
    // Same shape as qm02/qm03: the Spark side must walk the box tree
    // (ftyp brand, moov/mvhd timescale+duration incl. the 64-bit v1
    // layout, trak count) to reproduce the generation-time sidecar.
    Q("qm04_mp4_meta",
      s"""SELECT media_id, brand, timescale, duration, n_tracks, n_bytes
         |FROM read_csv('${MediaFixtures.videoCsv}', header=true,
         |  columns={'media_id': 'BIGINT', 'brand': 'VARCHAR',
         |    'timescale': 'BIGINT', 'duration': 'BIGINT',
         |    'n_tracks': 'BIGINT', 'n_bytes': 'BIGINT'})""".stripMargin) { (s, _) =>
      Multimodal.videoMeta(s, MediaFixtures.ensure())
    },

    // ----- multimodal per-track sample descriptions (stsd walk) ----------
    // One row per (media, track): the walker must descend
    // trak -> tkhd + mdia/hdlr/minf/stbl/stsd and read the sample
    // entry's codec fourcc and CODED width/height — the tkhd
    // presentation size is a planted 640x360 decoy, so shortcutting the
    // descent fails the hash.
    Q("qm06_mp4_tracks",
      s"""SELECT media_id, track_id, codec, width, height
         |FROM read_csv('${MediaFixtures.videoTracksCsv}', header=true,
         |  columns={'media_id': 'BIGINT', 'track_id': 'BIGINT',
         |    'codec': 'VARCHAR', 'width': 'BIGINT',
         |    'height': 'BIGINT'})""".stripMargin) { (s, _) =>
      Multimodal.videoTrackMeta(s, MediaFixtures.ensure())
    },

    // ----- multimodal REAL feature extraction (per-pixel kernel) ---------
    // The "feature-extract" pipeline stage on real pixels: per-channel
    // integer sums over the DECODED image. PNG is lossless, so the sums
    // must equal the generation-time sidecar bit-for-bit — a decoder
    // that subsamples, channel-swaps, or gamma-adjusts cannot pass.
    Q("qm08_video_frames",
      s"""SELECT media_id, frame_id, width, height, sum_r, sum_g, sum_b
         |FROM read_csv('${MediaFixtures.videoFramesCsv}', header=true,
         |  columns={'media_id': 'BIGINT', 'frame_id': 'BIGINT',
         |    'width': 'BIGINT', 'height': 'BIGINT', 'sum_r': 'BIGINT',
         |    'sum_g': 'BIGINT', 'sum_b': 'BIGINT'})""".stripMargin) { (s, _) =>
      Multimodal.videoFrameFeatures(s, MediaFixtures.ensure())
    },

    // ----- WebDataset-style tar shards -----------------------------------
    // Media fixtures packed into 4 round-robin tar shards; the pure-JVM
    // USTAR parser must reproduce every entry's name, size and 4-byte
    // magic, recorded at PACK time (the qm02 sidecar-oracle pattern).
    // Shards are the parallelism unit — the WebDataset loading contract.
    Q("qm09_tar_shards",
      s"""SELECT entry, n_bytes, magic
         |FROM read_csv('${MediaFixtures.tarCsv}', header=true,
         |  columns={'entry': 'VARCHAR', 'n_bytes': 'BIGINT',
         |    'magic': 'VARCHAR'})""".stripMargin) { (s, _) =>
      graft.sources.TarShards.read(s, MediaFixtures.ensureTars())
        .select(col("entry"),
          length(col("content")).cast("long").as("n_bytes"),
          hex(expr("substring(content, 1, 4)")).as("magic"))
    },

    Q("qm07_audio_features",
      s"""SELECT media_id, n_frames, sum_ch0, sum_ch1, peak
         |FROM read_csv('${MediaFixtures.audioFeaturesCsv}', header=true,
         |  columns={'media_id': 'BIGINT', 'n_frames': 'BIGINT',
         |    'sum_ch0': 'BIGINT', 'sum_ch1': 'BIGINT',
         |    'peak': 'BIGINT'})""".stripMargin) { (s, _) =>
      Multimodal.audioFeatures(s, MediaFixtures.ensure())
    },

    Q("qm05_image_features",
      s"""SELECT media_id, n_pixels, sum_r, sum_g, sum_b
         |FROM read_csv('${MediaFixtures.featuresCsv}', header=true,
         |  columns={'media_id': 'BIGINT', 'n_pixels': 'BIGINT',
         |    'sum_r': 'BIGINT', 'sum_g': 'BIGINT',
         |    'sum_b': 'BIGINT'})""".stripMargin) { (s, _) =>
      Multimodal.imageFeatures(s, MediaFixtures.ensure())
    },

    // ----- image perceptual hashing (dHash) ------------------------------
    // 64-bit difference hash from REAL decoded pixels vs the
    // generation-time sidecar: PNG is lossless, so any decode or
    // downsample deviation flips bits and breaks the hash compare.
    Q("qm10_image_dhash",
      s"""SELECT media_id, dhash
         |FROM read_csv('${MediaFixtures.dhashCsv}', header=true,
         |  columns={'media_id': 'BIGINT', 'dhash': 'BIGINT'})""".stripMargin) {
      (s, _) => Multimodal.imageDhash(s, MediaFixtures.ensure())
    },

    // ----- image near-dup pairs by dHash Hamming distance ----------------
    // The visual twin of simhash dedup. Spark runs the scale path
    // (8-bit banded equi-joins, pigeonhole-exact for hamming <= 7);
    // the oracle cross-joins the sidecar hashes — both must produce
    // the identical pair set, planted near-dup variants included.
    Q("qm11_image_neardup",
      s"""WITH h AS (SELECT media_id, dhash
         |  FROM read_csv('${MediaFixtures.dhashCsv}', header=true,
         |    columns={'media_id': 'BIGINT', 'dhash': 'BIGINT'}))
         |SELECT a.media_id AS id_a, b.media_id AS id_b,
         |  CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
         |FROM h a JOIN h b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.dhash, b.dhash)) <= 7""".stripMargin) {
      (s, _) => Multimodal.imageNearDupPairs(s, MediaFixtures.ensure())
    },

    // ----- audio perceptual fingerprint ----------------------------------
    // The audio twin of qm10: a 64-bit energy-gradient fingerprint
    // from REAL decoded channel-0 PCM (65 windows, exact integer
    // cross-multiplied comparisons) vs the generation-time sidecar.
    Q("qm12_audio_fp",
      s"""SELECT media_id, afp
         |FROM read_csv('${MediaFixtures.audioFpCsv}', header=true,
         |  columns={'media_id': 'BIGINT', 'afp': 'BIGINT'})""".stripMargin) {
      (s, _) => Multimodal.audioDhash(s, MediaFixtures.ensure())
    },

    // ----- audio near-dup pairs by fingerprint Hamming distance ----------
    // Planted variants are EXACT half-volume copies (even samples make
    // the gain change provably fingerprint-invariant) with two muted
    // windows; the banded join must find exactly them.
    Q("qm13_audio_neardup",
      s"""WITH h AS (SELECT media_id, afp
         |  FROM read_csv('${MediaFixtures.audioFpCsv}', header=true,
         |    columns={'media_id': 'BIGINT', 'afp': 'BIGINT'}))
         |SELECT a.media_id AS id_a, b.media_id AS id_b,
         |  CAST(bit_count(xor(a.afp, b.afp)) AS BIGINT) AS hamming
         |FROM h a JOIN h b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.afp, b.afp)) <= 7""".stripMargin) {
      (s, _) => Multimodal.audioNearDupPairs(s, MediaFixtures.ensure())
    },

    // ----- compressed video frame decode (Motion-JPEG) -------------------
    // qm08's container->sample->pixel path crossing a real COMPRESSED
    // bitstream: every sample of the `jpeg` (QuickTime Photo-JPEG)
    // track is a complete baseline JPEG, decoded pure-JVM by
    // javax.imageio. JPEG is lossy, so the generation-time sidecar
    // records the sums of the DECODED round-trip of the exact bytes
    // written — a decoder that trusts container metadata, subsamples,
    // or channel-swaps cannot reproduce them.
    Q("qm14_mjpeg_frames",
      s"""SELECT media_id, frame_id, width, height, sum_r, sum_g, sum_b
         |FROM read_csv('${MediaFixtures.mjpegFramesCsv}', header=true,
         |  columns={'media_id': 'BIGINT', 'frame_id': 'BIGINT',
         |    'width': 'BIGINT', 'height': 'BIGINT', 'sum_r': 'BIGINT',
         |    'sum_g': 'BIGINT', 'sum_b': 'BIGINT'})""".stripMargin) { (s, _) =>
      Multimodal.videoFrameFeatures(s, MediaFixtures.ensureMjpeg())
    },

    Q("qm15_gif_frames",
      s"""SELECT media_id, frame_id, width, height, sum_r, sum_g, sum_b
         |FROM read_csv('${MediaFixtures.gifFramesCsv}', header=true,
         |  columns={'media_id': 'BIGINT', 'frame_id': 'BIGINT',
         |    'width': 'BIGINT', 'height': 'BIGINT', 'sum_r': 'BIGINT',
         |    'sum_g': 'BIGINT', 'sum_b': 'BIGINT'})""".stripMargin) { (s, _) =>
      Multimodal.gifFrameFeatures(s, MediaFixtures.ensureGif())
    }
  )
}
