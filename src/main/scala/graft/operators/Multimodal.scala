package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling: image/audio/video as opaque `binary`
  * columns with typed metadata, processed partition-wise.
  *
  * The decode seam is [[MediaCodec]]. For PPM (Netpbm P6) the decode is
  * REAL — [[Ppm]] parses the public header+raw-pixels format and
  * [[Ppm.resizeNearest]] downsamples in the pixel domain, no libraries
  * needed (q42/q96 are oracle-checked over it) — and so is WAV audio:
  * [[Wav]] walks genuine RIFF chunks to PCM16 samples (q134) — and so
  * is video: [[P6Stream]] walks concatenated P6 frames by their own
  * parsed extents (q137/q138) — and, since r14, so are PNG and JPEG:
  * [[Png]] walks CRC-checked chunks, inflates the zlib stream through
  * the JDK, and reconstructs all five scanline filters (q145/q146);
  * [[Jpeg]] is a full baseline decoder with its own entropy stack —
  * Huffman tables, marker-unstuffing bit reader, zigzag, dequant, IDCT
  * (q148/q149) — and so is CONTAINER structure for av formats:
  * [[Mp4]] walks nested ISO BMFF boxes to per-track metadata (q150)
  * and [[Mp3]] walks Layer-III frame headers by their slot arithmetic
  * (q151). Every container is now parsed for real; only perceptual
  * PAYLOAD codecs (MP3 subband synthesis, H.264/AAC sample data)
  * remain behind
  * [[DeterministicStubCodec]], which derives features from the raw bytes
  * so the pipeline shape (schema, partitioning, batch flow, feature
  * fan-out) stays real and testable; a production codec (javacv/ffmpeg)
  * drops into the one trait method.
  *
  * Scale design: media bytes never shuffle — metadata extraction and
  * featurization are row/partition-local; only the (small) feature vectors
  * and metadata flow into downstream joins. `mapPartitions` amortizes
  * per-batch codec setup exactly like a vectorized-UDF batch would; batch
  * memory is bounded by `spark.sql.files.maxPartitionBytes`, not file
  * count.
  */
object Multimodal {

  /** Typed metadata carried next to every opaque binary column. */
  case class MediaMeta(sizeBytes: Long, sha: String, format: String)

  /** One decoded row: stub "dimensions" + a small feature vector. */
  case class MediaFeatures(id: Long, sizeBytes: Long, sha: String,
    width: Int, height: Int, byteSum: Long, firstByte: Int, lastByte: Int)

  /** One [[resizePpm]] output row. */
  case class PpmResized(id: Long, w: Int, h: Int, wo: Int, ho: Int,
    origBytes: Long, resizedBytes: Long, resizedSha: String)

  /** One [[pcmWindowStats]] output row. */
  case class PcmStats(id: Long, sample_rate: Int, n_samples: Long,
    sample_sum: Long, sample_sqsum: Long, peak_abs: Long,
    n_windows: Long, active_windows: Long)

  private implicit val inEnc: Encoder[(Long, Array[Byte])] =
    Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
  private implicit val outEnc: Encoder[MediaFeatures] =
    Encoders.product[MediaFeatures]

  /** The decode seam. A real implementation parses the container format;
    * the stub derives deterministic pseudo-dimensions and features from
    * the bytes themselves.
    */
  trait MediaCodec extends Serializable {
    def decode(bytes: Array[Byte]): MediaFeatures
  }

  object DeterministicStubCodec extends MediaCodec {
    def decode(bytes: Array[Byte]): MediaFeatures = {
      val sum = bytes.foldLeft(0L)((a, b) => a + (b & 0xff))
      val first = if (bytes.nonEmpty) bytes(0) & 0xff else 0
      val last = if (bytes.nonEmpty) bytes(bytes.length - 1) & 0xff else 0
      MediaFeatures(id = -1L, sizeBytes = bytes.length,
        sha = org.apache.commons.codec.digest.DigestUtils.md5Hex(bytes),
        width = 1 + first % 64, height = 1 + last % 64,
        byteSum = sum, firstByte = first, lastByte = last)
    }
  }

  /** REAL pure-JVM decoder for binary PPM (Netpbm "P6"), the public
    * header+raw-pixels format: `P6 <ws> width <ws> height <ws> maxval
    * <one ws> RGB-bytes` (comments `#…\n` allowed in the header per the
    * spec). No libraries — the whole format is ~20 lines of parsing —
    * which makes it the one image format this container can decode FOR
    * REAL: q42/q96 run genuine header parses and pixel-domain work, and
    * [[DeterministicStubCodec]] remains only for formats whose codecs
    * aren't shippable here.
    */
  object Ppm {
    private def isWs(b: Byte): Boolean =
      b == ' ' || b == '\n' || b == '\r' || b == '\t'

    /** Parse the P6 header at `start` → (width, height, maxval, payload
      * offset — ABSOLUTE into `bytes`). Fails loudly on anything that is
      * not a well-formed P6 — a silent fallback would turn corrupt media
      * into plausible features. The `start` offset is what lets
      * [[P6Stream]] walk concatenated frames without slicing (a
      * per-frame copy would make an F-frame walk O(F·size)).
      */
    def parseHeader(bytes: Array[Byte], start: Int = 0): (Int, Int, Int, Int) = {
      var i = start
      def skipWsAndComments(): Unit = {
        var moved = true
        while (moved) {
          moved = false
          while (i < bytes.length && isWs(bytes(i))) { i += 1; moved = true }
          if (i < bytes.length && bytes(i) == '#') {
            while (i < bytes.length && bytes(i) != '\n') i += 1
            moved = true
          }
        }
      }
      def token(): String = {
        skipWsAndComments()
        val s = i
        while (i < bytes.length && !isWs(bytes(i))) i += 1
        new String(bytes, s, i - s, java.nio.charset.StandardCharsets.US_ASCII)
      }
      val magic = token()
      require(magic == "P6", s"not a P6 PPM (magic '$magic')")
      val w = token().toInt
      val h = token().toInt
      val mx = token().toInt
      require(w > 0 && h > 0 && mx > 0 && mx < 65536,
        s"bad PPM dimensions/maxval: $w x $h maxval $mx")
      require(mx < 256, "16-bit PPM (maxval >= 256) not supported")
      i += 1 // exactly ONE whitespace separates maxval from the payload
      // payload size in LONG: a crafted header declaring e.g.
      // 100000×100000 overflows 3*w*h in Int, the truncation require
      // passes spuriously, and the P6Stream walker would loop forever
      // re-parsing garbage — the same attacker-shaped-bytes failure
      // Wav.parse guards its chunk sizes against
      require(i + 3L * w * h <= bytes.length,
        s"truncated PPM: need ${3L * w * h} payload bytes, have ${bytes.length - i}")
      (w, h, mx, i)
    }

    /** Serialize (the header form the parser round-trips). */
    def render(w: Int, h: Int, maxval: Int, pixels: Array[Byte]): Array[Byte] = {
      require(pixels.length == 3 * w * h,
        s"payload must be ${3 * w * h} bytes, got ${pixels.length}")
      val header = s"P6\n$w $h\n$maxval\n"
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      val out = new Array[Byte](header.length + pixels.length)
      System.arraycopy(header, 0, out, 0, header.length)
      System.arraycopy(pixels, 0, out, header.length, pixels.length)
      out
    }

    /** Nearest-neighbor downscale by integer stride IN THE PIXEL DOMAIN:
      * keep pixel (x, y) when both coordinates are multiples of `stride`
      * — output is a valid P6 of ceil(w/stride) × ceil(h/stride).
      */
    def resizeNearest(bytes: Array[Byte], stride: Int): Array[Byte] = {
      require(stride >= 1, s"stride must be >= 1, got $stride")
      val (w, h, mx, off) = parseHeader(bytes)
      val wo = (w + stride - 1) / stride
      val ho = (h + stride - 1) / stride
      val px = new Array[Byte](3 * wo * ho)
      var yo = 0
      while (yo < ho) {
        var xo = 0
        while (xo < wo) {
          val src = off + ((yo * stride) * w + xo * stride) * 3
          val dst = (yo * wo + xo) * 3
          px(dst) = bytes(src); px(dst + 1) = bytes(src + 1); px(dst + 2) = bytes(src + 2)
          xo += 1
        }
        yo += 1
      }
      render(wo, ho, mx, px)
    }
  }

  /** "P6 stream" video container — concatenated binary P6 frames, the
    * trivial PUBLIC container that makes video decode REAL in this
    * sandbox (the [[Wav]] playbook in the video domain): each frame
    * declares its own extent (header + 3·w·h payload bytes), so
    * splitting the stream is a genuine container walk — every frame
    * boundary comes from PARSING the previous frame, never from byte
    * arithmetic over the whole blob — and each frame is a standalone
    * [[Ppm]] image every image operator already handles. A production
    * build swaps this walker for a demuxer (mp4/mkv need entropy
    * codecs this container cannot ship); per-frame stats, dHash, and
    * hamming near-dup downstream are container-agnostic.
    */
  object P6Stream {

    /** One walked frame: index, header start, parsed dims, absolute
      * payload offset, and the frame's end offset (= next header).
      */
    case class FrameRef(index: Int, start: Int, w: Int, h: Int,
                        payload: Int, end: Int)

    /** Walk the stream — lazily, in place (no per-frame slice). A
      * corrupt frame (bad magic, truncated payload) fails loudly
      * mid-walk, the [[Wav.parse]] contract. An empty stream yields no
      * frames.
      */
    def frames(bytes: Array[Byte]): Iterator[FrameRef] =
      new Iterator[FrameRef] {
        private var off = 0
        private var idx = 0
        def hasNext: Boolean = off < bytes.length
        def next(): FrameRef = {
          val (w, h, _, payload) = Ppm.parseHeader(bytes, off)
          // parseHeader's Long-domain truncation check already proves
          // payload + 3·w·h fits the buffer (hence Int); the strict
          // forward-progress require is the walker's own belt — every
          // step MUST advance, or a parser regression becomes an
          // infinite loop instead of an exception
          val end = payload + 3 * w * h
          require(end > off && end <= bytes.length,
            s"P6 stream walker stalled at offset $off (frame end $end)")
          val f = FrameRef(idx, off, w, h, payload, end)
          off = end; idx += 1
          f
        }
      }

    /** Concatenate standalone P6 frames into a stream (the fixture
      * renderer's other half; `frames(render(fs))` walks back exactly
      * the inputs).
      */
    def render(fs: Seq[Array[Byte]]): Array[Byte] = {
      val out = new Array[Byte](fs.map(_.length).sum)
      var o = 0
      fs.foreach { f => System.arraycopy(f, 0, out, o, f.length); o += f.length }
      out
    }
  }

  /** The 56-bit dHash core over an in-place P6 payload (9×7 luma grid,
    * bit yo·8+xo set when the left sample is strictly brighter) — shared
    * verbatim by the single-image path ([[dHashPpm]]) and the per-frame
    * video path ([[videoDHash]]), so "video near-dup" is BY CONSTRUCTION
    * the image fingerprint applied per frame, not a third hash to
    * cross-verify.
    */
  private def dHash56(bytes: Array[Byte], off: Int, w: Int, h: Int): Long = {
    def gray(sx: Int, sy: Int): Int = {
      val b = off + (sy * w + sx) * 3
      ((bytes(b) & 0xff) + (bytes(b + 1) & 0xff) + (bytes(b + 2) & 0xff)) / 3
    }
    var hash = 0L
    var yo = 0
    while (yo < 7) {
      val sy = yo * h / 7
      var xo = 0
      while (xo < 8) {
        if (gray(xo * w / 9, sy) > gray((xo + 1) * w / 9, sy))
          hash |= 1L << (yo * 8 + xo)
        xo += 1
      }
      yo += 1
    }
    hash
  }

  /** One [[videoFrameStats]] output row. */
  case class FrameStats(id: Long, frame: Int, width: Int, height: Int,
    frame_bytes: Long, byte_sum: Long, frame_sha: String)

  /** REAL frame sampling over a P6-stream binary column: walk the
    * container ([[P6Stream.frames]]), keep every `stride`-th frame, and
    * reduce each kept frame to integer stats + the frame's content hash
    * — the decode→sample→featurize front of a video curation pipeline.
    * Row-local like every codec (bytes never shuffle; only small stat
    * rows leave the scan); the walk is sequential by construction
    * (frame N's offset comes from parsing frame N−1), which is the
    * container's nature, not a Spark limitation — parallelism comes
    * from rows, exactly like production demuxing.
    */
  def videoFrameStats(spark: SparkSession, df: DataFrame, idCol: String,
                      binCol: String, stride: Int = 1): DataFrame = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    implicit val enc: Encoder[FrameStats] = Encoders.product[FrameStats]
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        P6Stream.frames(bytes)
          .filter(_.index % stride == 0)
          .map { f =>
            var sum = 0L
            var i = f.payload
            while (i < f.end) { sum += bytes(i) & 0xff; i += 1 }
            val frame = java.util.Arrays.copyOfRange(bytes, f.start, f.end)
            FrameStats(id, f.index, f.w, f.h, (f.end - f.start).toLong, sum,
              org.apache.commons.codec.digest.DigestUtils.md5Hex(frame))
          }
      }
      .toDF()
  }

  /** Per-frame 56-bit dHash over a P6-stream binary column — the video
    * member of the perceptual-fingerprint family: every frame hashed by
    * the SAME [[dHash56]] the image path uses, emitted
    * as (id, frame, dhash). Downstream near-dup is the one hamming
    * pairing machine ([[graft.operators.TextDedup.hammingPairs]]),
    * frame-aligned by the caller (q138 packs (id, frame) into the
    * pairing key and rolls matched frames up per video pair).
    */
  def videoDHash(spark: SparkSession, df: DataFrame, idCol: String,
                 binCol: String): DataFrame = {
    implicit val enc: Encoder[(Long, Int, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaInt, Encoders.scalaLong)
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        P6Stream.frames(bytes)
          .map(f => (id, f.index, dHash56(bytes, f.payload, f.w, f.h)))
      }
      .toDF("id", "frame", "dhash")
  }

  /** Scene-cut detection over a P6-stream video column — the shot
    * segmentation every video curation pipeline runs before sampling
    * (cut-aware frame selection, per-shot dedup, shot-level captioning):
    * a CUT is declared between consecutive frames whose perceptual
    * fingerprints ([[videoDHash]]'s 56-bit dHash — the same core as
    * image/video dedup, so "how different is the next frame" and "is
    * this a near-dup" are the SAME metric) differ by more than
    * `minHamming` bits. Per video: frame count, cut count, scene count
    * (cuts + 1), and the hamming sum over consecutive pairs (the
    * stream's total visual motion — a cheap static-vs-dynamic content
    * signal). An EMPTY stream walks to zero frames and is therefore
    * ABSENT from the output (no row, not n_scenes = 0) — the contract
    * every per-frame rollup here shares (MultimodalSpec pins it).
    *
    * Scale shape: decode row-local; ONE video-keyed exchange serves
    * both the consecutive-frame window and the per-video rollup (the
    * grouping key prefixes the window's partition key — the
    * [[Sft.renderChat]] reuse rule).
    */
  def sceneCuts(spark: SparkSession, df: DataFrame, idCol: String,
                binCol: String, minHamming: Int): DataFrame = {
    require(minHamming >= 1, s"minHamming must be >= 1, got $minHamming")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("frame").asc)
    videoDHash(spark, df, idCol, binCol)
      .withColumn("__prev", lag(col("dhash"), 1).over(w))
      .withColumn("__ham", when(col("__prev").isNotNull,
        bit_count(col("__prev").bitwiseXOR(col("dhash"))).cast("long")))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("__ham") > minHamming, 1L).otherwise(0L)).as("n_cuts"),
        (sum(when(col("__ham") > minHamming, 1L).otherwise(0L)) + 1L)
          .as("n_scenes"),
        coalesce(sum(col("__ham")), lit(0L)).as("motion_hamming"))
  }

  /** Keyframe selection — the step after [[sceneCuts]] in a video
    * curation pipeline: frames are assigned to scenes (scene id = running
    * count of cuts before them, so a cut STARTS a new scene) and each
    * scene's FIRST frame is its keyframe — the frame captioning/dedup/
    * embedding stages run on, shrinking per-video work from frames to
    * scenes. Output one row per scene: (id, scene, keyframe,
    * scene_frames, keyframe_dhash) — the dhash rides along so a
    * downstream cross-video keyframe dedup ([[TextDedup.hammingPairs]])
    * needs no second decode.
    *
    * Same single-exchange shape as [[sceneCuts]]: the lag window, the
    * running cut count, and the per-(id, scene) rollup all share the
    * video-keyed clustering.
    */
  def keyframes(spark: SparkSession, df: DataFrame, idCol: String,
                binCol: String, minHamming: Int): DataFrame = {
    require(minHamming >= 1, s"minHamming must be >= 1, got $minHamming")
    val byFrame = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("frame").asc)
    val runningCuts = byFrame
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    videoDHash(spark, df, idCol, binCol)
      .withColumn("__prev", lag(col("dhash"), 1).over(byFrame))
      .withColumn("__cut", when(col("__prev").isNotNull &&
        bit_count(col("__prev").bitwiseXOR(col("dhash"))) > minHamming, 1L)
        .otherwise(0L))
      .withColumn("scene", sum(col("__cut")).over(runningCuts))
      .groupBy(col("id"), col("scene"))
      .agg(min(col("frame")).as("keyframe"),
        count(lit(1)).as("scene_frames"),
        min_by(col("dhash"), col("frame")).as("keyframe_dhash"))
  }

  /** One [[pngPixelStats]] output row. */
  case class PngStats(id: Long, width: Int, height: Int, px_sum: Long,
    px_first: Int, px_last: Int, px_md5: String)

  /** REAL PNG decode over a binary column, reduced to pixel-domain
    * stats + the pixel buffer's content hash — the decode-proof query
    * surface for the [[Png]] codec (chunk walk → CRC → inflate → the
    * five filter reconstructions). A hash match against an oracle that
    * rebuilds the pixels from their DEFINITION proves the whole
    * entropy-coded round trip byte-exact (the q137 epistemics for the
    * compressed-image domain). Row-local like every codec.
    */
  def pngPixelStats(spark: SparkSession, df: DataFrame, idCol: String,
                    binCol: String): DataFrame = {
    implicit val enc: Encoder[PngStats] = Encoders.product[PngStats]
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val img = Png.decode(bytes)
          var sum = 0L
          var i = 0
          while (i < img.pixels.length) { sum += img.pixels(i) & 0xff; i += 1 }
          PngStats(id, img.w, img.h, sum,
            img.pixels(0) & 0xff, img.pixels(img.pixels.length - 1) & 0xff,
            org.apache.commons.codec.digest.DigestUtils.md5Hex(img.pixels))
        }
      }
      .toDF()
  }

  /** 56-bit dHash over a PNG binary column — the SAME [[dHash56]] core
    * as the PPM/video paths applied to [[Png.decode]]'s pixel buffer,
    * so a PNG and a P6 of the same pixels carry the same fingerprint
    * and the whole hamming dedup machine
    * ([[graft.operators.TextDedup.hammingPairs]], registries, streams)
    * serves compressed images unchanged.
    */
  def dHashPng(spark: SparkSession, df: DataFrame, idCol: String,
               binCol: String): DataFrame = {
    implicit val enc: Encoder[(Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val img = Png.decode(bytes)
          (id, dHash56(img.pixels, 0, img.w, img.h))
        }
      }
      .toDF("id", "dhash")
  }

  /** One [[jpegLumaStats]] output row. */
  case class JpegStats(id: Long, width: Int, height: Int, luma_sum: Long,
    luma_first: Int, luma_last: Int, luma_md5: String)

  /** REAL baseline-JPEG decode over a binary column, reduced to
    * luma-domain stats + the sample buffer's content hash — the
    * decode-proof surface for [[Jpeg]] (marker walk → Huffman →
    * dequant → IDCT). The q148 oracle recomputes the samples from the
    * constant-block fixture DEFINITION — such images are a fixed point
    * of the quant-1 pipeline (JpegSpec), so hash equality proves the
    * full entropy-coded chain byte-exact. Row-local like every codec.
    */
  def jpegLumaStats(spark: SparkSession, df: DataFrame, idCol: String,
                    binCol: String): DataFrame = {
    implicit val enc: Encoder[JpegStats] = Encoders.product[JpegStats]
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val img = Jpeg.decode(bytes)
          var sum = 0L
          var i = 0
          while (i < img.samples.length) { sum += img.samples(i) & 0xff; i += 1 }
          JpegStats(id, img.w, img.h, sum,
            img.samples(0) & 0xff, img.samples(img.samples.length - 1) & 0xff,
            org.apache.commons.codec.digest.DigestUtils.md5Hex(img.samples))
        }
      }
      .toDF()
  }

  /** 56-bit dHash over a grayscale-JPEG binary column — the same
    * [[dHash56]] core as the PPM/PNG/video paths, fed by expanding each
    * decoded luma sample to an (s, s, s) triplet (whose integer luma is
    * s again), so a JPEG, a PNG, and a P6 of the same pixels carry the
    * same fingerprint and the hamming dedup machine serves all of them
    * unchanged.
    */
  def dHashJpeg(spark: SparkSession, df: DataFrame, idCol: String,
                binCol: String): DataFrame = {
    implicit val enc: Encoder[(Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val img = Jpeg.decode(bytes)
          val rgb = new Array[Byte](3 * img.samples.length)
          var i = 0
          while (i < img.samples.length) {
            rgb(3 * i) = img.samples(i)
            rgb(3 * i + 1) = img.samples(i)
            rgb(3 * i + 2) = img.samples(i)
            i += 1
          }
          (id, dHash56(rgb, 0, img.w, img.h))
        }
      }
      .toDF("id", "dhash")
  }

  /** One [[mp4TrackStats]] output row. */
  case class Mp4TrackRow(id: Long, brand: String, movie_timescale: Long,
    movie_duration: Long, track_id: Long, handler: String,
    track_timescale: Long, track_duration: Long, sample_count: Long,
    sample_bytes: Long)

  /** REAL ISO BMFF (MP4) box walk over a binary column — one row per
    * TRACK with its codec-agnostic metadata ([[Mp4.parse]]: nested
    * length-typed boxes, mvhd/tkhd/mdhd/hdlr/stsz). The structural
    * metadata an av-ingest pipeline routes on (which tracks exist, at
    * what timescales, how many samples, how many bytes) without
    * touching a codec. Row-local like every walker.
    */
  def mp4TrackStats(spark: SparkSession, df: DataFrame, idCol: String,
                    binCol: String): DataFrame = {
    implicit val enc: Encoder[Mp4TrackRow] = Encoders.product[Mp4TrackRow]
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val m = Mp4.parse(bytes)
        m.tracks.iterator.map(t => Mp4TrackRow(id, m.brand, m.timescale,
          m.duration, t.id, t.handler, t.timescale, t.duration,
          t.sampleCount, t.sampleBytes))
      }
      .toDF()
  }

  /** One [[mp3FrameStats]] output row. */
  case class Mp3FrameRow(id: Long, frame: Int, bitrate_kbps: Int,
    sample_rate: Int, frame_bytes: Long, payload_sum: Long,
    payload_md5: String)

  /** REAL MP3 frame walk over a binary column — one row per frame with
    * its header-declared parameters and payload stats ([[Mp3.frames]]:
    * sync + table-validated header, length from the spec's slot
    * arithmetic). The framing an audio pipeline routes on; only the
    * psychoacoustic payload decode stays stubbed. Row-local.
    */
  def mp3FrameStats(spark: SparkSession, df: DataFrame, idCol: String,
                    binCol: String): DataFrame = {
    implicit val enc: Encoder[Mp3FrameRow] = Encoders.product[Mp3FrameRow]
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        Mp3.frames(bytes).map { f =>
          var sum = 0L
          var i = f.start + 4
          while (i < f.end) { sum += bytes(i) & 0xff; i += 1 }
          val payload = java.util.Arrays.copyOfRange(bytes, f.start + 4, f.end)
          Mp3FrameRow(id, f.index, f.bitrateKbps, f.sampleRate,
            (f.end - f.start).toLong, sum,
            org.apache.commons.codec.digest.DigestUtils.md5Hex(payload))
        }
      }
      .toDF()
  }

  /** [[MediaCodec]] over real P6 bytes: width/height come from the PARSED
    * header (not byte heuristics), byteSum/first/last over the pixel
    * payload only.
    */
  object PpmCodec extends MediaCodec {
    def decode(bytes: Array[Byte]): MediaFeatures = {
      val (w, h, _, off) = Ppm.parseHeader(bytes)
      val n = 3 * w * h
      var sum = 0L
      var i = off
      while (i < off + n) { sum += bytes(i) & 0xff; i += 1 }
      MediaFeatures(id = -1L, sizeBytes = bytes.length,
        sha = org.apache.commons.codec.digest.DigestUtils.md5Hex(bytes),
        width = w, height = h, byteSum = sum,
        firstByte = bytes(off) & 0xff, lastByte = bytes(off + n - 1) & 0xff)
    }
  }

  /** 56-bit difference hash (dHash) over a PPM binary column — the
    * standard image perceptual fingerprint (Krawetz's dHash: downsample,
    * compare horizontally adjacent brightness, one bit per comparison):
    * parse the P6 header, nearest-neighbor sample a 9×7 grayscale grid
    * ((r+g+b) div 3 integer luma), and set bit (row·8 + col) when the
    * LEFT sample is strictly brighter than its right neighbor. 56 bits
    * (8 comparisons × 7 rows), not the textbook 64: bit 63 is the sign
    * bit, and cross-engine signed-shift semantics diverge (DuckDB
    * refuses `1 << 63`) — same integer-portability rule as the repo's
    * micro-unit convention. Partition-local real decode, same
    * bytes-never-shuffle shape as [[decodeFeatures]]; downstream
    * near-dup pairing is hamming-distance banding
    * ([[TextDedup.hammingPairs]] — q121).
    */
  def dHashPpm(spark: SparkSession, df: DataFrame, idCol: String,
               binCol: String): DataFrame = {
    implicit val enc: Encoder[(Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (w, h, _, off) = Ppm.parseHeader(bytes)
          (id, dHash56(bytes, off, w, h))
        }
      }
      .toDF("id", "dhash")
  }

  /** Batch-vs-registry perceptual dedup: of an incoming batch of
    * (id, dhash) fingerprints, keep one representative per NEW
    * fingerprint (first-wins, min id — [[Dedup.keepFirst]] semantics)
    * and drop everything whose fingerprint the registry has already
    * seen. The exact-dedup registry pattern (spans q102, grams q114,
    * near-dup q58) applied to the image domain: the corpus is never
    * re-scanned, the anti-join is fingerprint-keyed, and the caller
    * appends `newFingerprints` (= the kept rows' dhashes) to the
    * registry afterward. Streaming wrapper:
    * [[graft.streaming.Incremental.streamingImageDedup]].
    */
  def dHashDedupAgainst(hashes: DataFrame, seen: DataFrame): DataFrame =
    Dedup.keepFirst(hashes, Seq(col("dhash")), Seq(col("id").asc))
      .join(seen.select(col("dhash")), Seq("dhash"), "left_anti")

  /** Pixel-domain resize over a PPM binary column: parse → nearest-neighbor
    * downscale ([[Ppm.resizeNearest]]) → re-render; emits original and
    * resized dimensions plus the resized content hash. Same partition-local
    * shape as [[resample]] (bytes never shuffle) but the work is a REAL
    * decode of a real format.
    */
  def resizePpm(spark: SparkSession, df: DataFrame, idCol: String,
                binCol: String, stride: Int): DataFrame = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    implicit val enc: Encoder[PpmResized] = Encoders.product[PpmResized]
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (w, h, _, _) = Ppm.parseHeader(bytes)
          val resized = Ppm.resizeNearest(bytes, stride)
          val (wo, ho, _, _) = Ppm.parseHeader(resized)
          PpmResized(id, w, h, wo, ho, bytes.length.toLong,
            resized.length.toLong,
            org.apache.commons.codec.digest.DigestUtils.md5Hex(resized))
        }
      }
      .toDF("id", "w", "h", "wo", "ho", "orig_bytes", "resized_bytes",
        "resized_sha")
  }

  /** Attach typed metadata to a binary column — pure column ops (codegen'd,
    * no decode needed): size, content hash, sniffed format tag.
    */
  def withMeta(df: DataFrame, binCol: String): DataFrame =
    df.withColumn("meta", struct(
      length(col(binCol)).cast("long").as("sizeBytes"),
      md5(col(binCol)).as("sha"),
      when(substring(col(binCol), 1, 3) === lit(Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte)), "jpeg")
        .when(substring(col(binCol), 1, 4) === lit("RIFF".getBytes), "riff")
        .otherwise("unknown").as("format")))

  /** Partition-wise decode + featurize over (id, bytes) rows — the Scala
    * analog of a vectorized-UDF batch: one codec instance per partition,
    * rows streamed through it.
    */
  def decodeFeatures(spark: SparkSession, df: DataFrame, idCol: String,
                     binCol: String, codec: MediaCodec): DataFrame = {
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition codec setup happens here (amortized), then stream
        it.map { case (id, bytes) => codec.decode(bytes).copy(id = id) }
      }
      .toDF()
  }

  /** Resize stub: stride-resample the byte stream (every `stride`-th
    * byte), the partition-local shape of a pixel-domain resize — bytes in,
    * smaller bytes out, metadata updated, nothing shuffles. A production
    * implementation swaps the slice loop for the codec's scaler; the
    * output contract (id, original size, resized size, resized content
    * hash) is what downstream dedup/quality stages consume.
    */
  def resample(spark: SparkSession, df: DataFrame, idCol: String,
               binCol: String, stride: Int): DataFrame = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    implicit val enc: Encoder[(Long, Long, Long, String)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
        Encoders.scalaLong, Encoders.STRING)
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val kept = bytes.indices.by(stride).map(bytes(_)).toArray
          (id, bytes.length.toLong, kept.length.toLong,
            org.apache.commons.codec.digest.DigestUtils.md5Hex(kept))
        }
      }
      .toDF("id", "orig_bytes", "resized_bytes", "resized_sha")
  }

  /** Byte-range fan-out for OPAQUE blobs (q36): split into `frames`
    * equal ranges and hash each — the explode shape over a format the
    * sandbox cannot decode. NOT the video path: real frame extraction
    * is [[videoFrameStats]]/[[videoDHash]] over the [[P6Stream]]
    * container, which walk genuine per-frame headers (r13 — video left
    * the stub list).
    */
  def sampleFrames(spark: SparkSession, df: DataFrame, idCol: String,
                   binCol: String, frames: Int): DataFrame = {
    implicit val enc: Encoder[(Long, Int, String, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaInt,
        Encoders.STRING, Encoders.scalaLong)
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val n = math.max(1, bytes.length / frames)
        (0 until frames).iterator.map { f =>
          val slice = bytes.slice(f * n, math.min((f + 1) * n, bytes.length))
          (id, f, org.apache.commons.codec.digest.DigestUtils.md5Hex(slice),
            slice.length.toLong)
        }
      }
      .toDF("id", "frame", "frame_sha", "frame_bytes")
  }

  /** REAL RIFF/WAVE (PCM16 mono) codec — the audio analog of [[Ppm]]:
    * the container format is public and byte-exact, so the decode needs
    * no library. [[Wav.parse]] is a genuine chunk WALKER (reads RIFF +
    * WAVE, iterates `fmt `/`data`/unknown chunks by their declared
    * little-endian sizes, skipping what it doesn't know — real-world
    * WAVs carry LIST/INFO chunks, and [[Wav.render]] deliberately emits
    * one so the walker's skip path is always exercised), validating PCM
    * format 1, mono, 16-bit. Audio thereby leaves the
    * [[DeterministicStubCodec]] list; only formats needing an entropy
    * codec (JPEG/PNG/MP3) remain stubbed.
    */
  object Wav {
    private def le32(v: Int): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    private def le16(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    private def rdLe32(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
        ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
    private def rdLe16(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)

    /** Render a spec-conformant mono PCM16 WAV, including a LIST(INFO)
      * chunk between `fmt ` and `data` (the walker-skip fixture).
      */
    def render(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
      val data = new Array[Byte](samples.length * 2)
      var i = 0
      while (i < samples.length) {
        data(2 * i) = (samples(i) & 0xff).toByte
        data(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
        i += 1
      }
      // conformant LIST-INFO: 'INFO' type + one ISFT sub-chunk ("graft\0")
      val info = "INFO".getBytes("US-ASCII") ++
        "ISFT".getBytes("US-ASCII") ++ le32(6) ++
        "graft\u0000".getBytes("US-ASCII")
      val fmt = le16(1) ++ le16(1) ++ le32(sampleRate) ++
        le32(sampleRate * 2) ++ le16(2) ++ le16(16)
      val body = "WAVE".getBytes("US-ASCII") ++
        "fmt ".getBytes("US-ASCII") ++ le32(16) ++ fmt ++
        "LIST".getBytes("US-ASCII") ++ le32(info.length) ++ info ++
        "data".getBytes("US-ASCII") ++ le32(data.length) ++ data
      "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
    }

    /** Parse a RIFF/WAVE blob to (sampleRate, samples). Throws on
      * non-RIFF, non-WAVE, missing chunks, or any format other than
      * uncompressed mono PCM16 — a corrupt blob must fail loudly, never
      * yield silent garbage samples.
      */
    def parse(bytes: Array[Byte]): (Int, Array[Short]) = {
      require(bytes.length >= 12 &&
        new String(bytes, 0, 4, "US-ASCII") == "RIFF" &&
        new String(bytes, 8, 4, "US-ASCII") == "WAVE",
        "not a RIFF/WAVE blob")
      // declared RIFF size is UNSIGNED 32-bit: read through a long so a
      // >2 GiB declaration clamps to the buffer instead of overflowing
      // Int into a negative riffEnd (which would skip the walk entirely)
      val riffEnd =
        math.min(bytes.length.toLong, 8L + (rdLe32(bytes, 4) & 0xffffffffL)).toInt
      var o = 12
      var rate = -1
      var samples: Array[Short] = null
      while (o + 8 <= riffEnd) {
        val cid = new String(bytes, o, 4, "US-ASCII")
        val sz = rdLe32(bytes, o + 4)
        // a corrupt negative size would walk o BACKWARDS — an infinite
        // loop on attacker-shaped bytes, the worst failure mode a
        // decoder can have; reject before using it
        require(sz >= 0, s"negative chunk size $sz at offset $o")
        val payload = o + 8
        // the declared size must FIT what remains: a huge positive sz
        // (e.g. 2^31−8) would overflow payload+sz negative and re-enter
        // the loop at a negative offset, and a truncated blob whose data
        // chunk over-declares would AIOOBE from a raw byte read — both
        // fail here by contract instead
        require(sz <= riffEnd - payload,
          s"chunk $cid at offset $o declares $sz bytes but only " +
            s"${riffEnd - payload} remain")
        cid match {
          case "fmt " =>
            require(sz >= 16, s"fmt chunk too small: $sz")
            require(rdLe16(bytes, payload) == 1, "not PCM")
            require(rdLe16(bytes, payload + 2) == 1, "not mono")
            require(rdLe16(bytes, payload + 14) == 16, "not 16-bit")
            rate = rdLe32(bytes, payload + 4)
          case "data" =>
            require(rate > 0, "data chunk before fmt")
            val n = sz / 2
            samples = new Array[Short](n)
            var i = 0
            while (i < n) {
              samples(i) = rdLe16(bytes, payload + 2 * i).toShort
              i += 1
            }
          case _ => () // LIST/INFO/junk: skip by declared size
        }
        o = payload + sz + (sz & 1) // chunks are word-aligned
      }
      require(samples != null, "no data chunk")
      (rate, samples)
    }
  }

  /** 56-bit acoustic fingerprint — the audio member of the perceptual
    * dedup family (dHash's construction transplanted to the energy
    * envelope, the no-FFT core of the classic audio-fingerprint
    * recipes): mean-|amplitude| per `window` samples, bit i set iff
    * energy RISES from window i to i+1 (strict), first 56 deltas, short
    * clips leave trailing bits 0. Same width and banding as the image
    * dHash, so [[graft.operators.TextDedup.hammingPairs]] /
    * `hammingPairsAgainst` serve audio near-dup unchanged — a
    * re-encoded or slightly-edited clip keeps its envelope SHAPE (and
    * its fingerprint) while byte hashes all differ.
    */
  def audioFingerprint(spark: SparkSession, df: DataFrame, idCol: String,
                       binCol: String, window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    implicit val enc: Encoder[(Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (_, s) = Wav.parse(bytes)
          val nw = (s.length + window - 1) / window
          val es = new Array[Long](nw)
          var w0 = 0; var k = 0
          while (w0 < s.length) {
            val end = math.min(w0 + window, s.length)
            var a = 0L; var j = w0
            while (j < end) { a += math.abs(s(j).toLong); j += 1 }
            es(k) = a / (end - w0); k += 1; w0 = end
          }
          var fp = 0L; var i = 0
          while (i < math.min(56, nw - 1)) {
            if (es(i + 1) > es(i)) fp |= 1L << (55 - i)
            i += 1
          }
          (id, fp)
        }
      }
      .toDF("id", "afp")
  }

  /** VAD segmentation — the step AFTER the activity gate: contiguous
    * runs of active windows become speech-ish SEGMENTS (the audio
    * "sessionize"; what an ASR-training pipeline actually clips on —
    * gaps-and-islands over the [[pcmWindowStats]] activity signal). Per
    * segment: (id, seg, start_window, end_window, n_windows,
    * mean_abs_sum), seg numbered 0..k−1 in time order. Decode
    * row-local; the islands arithmetic (difference-of-ranks grouping,
    * the [[Sessionize]] family's idiom) and the rollup share ONE
    * clip-keyed exchange.
    */
  def audioSegments(spark: SparkSession, df: DataFrame, idCol: String,
                    binCol: String, window: Int,
                    activeMeanAbs: Long): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    implicit val enc: Encoder[(Long, Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    val perWindow = df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val (_, s) = Wav.parse(bytes)
        new Iterator[(Long, Long, Long)] {
          private var w0 = 0
          private var wi = 0L
          def hasNext: Boolean = w0 < s.length
          def next(): (Long, Long, Long) = {
            val end = math.min(w0 + window, s.length)
            var a = 0L; var j = w0
            while (j < end) { a += math.abs(s(j).toLong); j += 1 }
            val r = (id, wi, a / (end - w0))
            w0 = end; wi += 1
            r
          }
        }
      }
      .toDF("id", "wi", "mean_abs")
    val byWi = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("wi").asc)
    val bySeg = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("start_window").asc)
    perWindow
      .filter(col("mean_abs") >= activeMeanAbs)
      .withColumn("__grp", col("wi") - row_number().over(byWi))
      .groupBy(col("id"), col("__grp"))
      .agg(min(col("wi")).as("start_window"),
        max(col("wi")).as("end_window"),
        count(lit(1)).as("n_windows"),
        sum(col("mean_abs")).as("mean_abs_sum"))
      .withColumn("seg", row_number().over(bySeg).cast("long") - 1L)
      .select(col("id"), col("seg"), col("start_window"), col("end_window"),
        col("n_windows"), col("mean_abs_sum"))
  }

  /** Windowed PCM energy/activity over (id, wav) rows — the VAD-lite
    * every audio-training pipeline runs before segmentation: per
    * `window` samples, mean |amplitude| decides an active (speech-ish)
    * vs silent window; per-clip output carries the sample-level
    * checksums that pin the decode round trip. Partition-local like
    * every codec ([[decodeFeatures]]); only small stat rows shuffle.
    * All-integer: mean-abs per window by integer division — portable to
    * the oracle's arithmetic, where float RMS would not be.
    */
  def pcmWindowStats(spark: SparkSession, df: DataFrame, idCol: String,
                     binCol: String, window: Int,
                     activeMeanAbs: Long): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    implicit val enc: Encoder[PcmStats] = Encoders.product[PcmStats]
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (rate, s) = Wav.parse(bytes)
          var sum = 0L; var sq = 0L; var peak = 0L
          var i = 0
          while (i < s.length) {
            val v = s(i).toLong
            sum += v; sq += v * v
            if (math.abs(v) > peak) peak = math.abs(v)
            i += 1
          }
          val nw = (s.length + window - 1) / window
          var active = 0L
          var w0 = 0
          while (w0 < s.length) {
            val end = math.min(w0 + window, s.length)
            var absSum = 0L
            var j = w0
            while (j < end) { absSum += math.abs(s(j).toLong); j += 1 }
            if (absSum / (end - w0) >= activeMeanAbs) active += 1
            w0 = end
          }
          PcmStats(id, rate, s.length.toLong, sum, sq, peak, nw.toLong, active)
        }
      }
      .toDF()
  }
}
