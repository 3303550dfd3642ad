package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: opaque `binary` payloads + typed metadata,
  * with decode/feature-extract as batch-friendly partition transforms.
  *
  * Header DECODE is real ([[ImageHeaders]]: PNG/BMP/GIF/JPEG geometry from
  * the container bytes — what catalog/filter stages consume at scale); full
  * pixel decode and feature extraction remain a deterministic stub
  * ([[decodeStub]]) because no codec libraries exist in this container —
  * swap it for a real codec (or route the partition iterator to an external
  * inference service) without touching the plan.
  */
object Multimodal {

  /** Canonical multimodal schema: id + opaque payload + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("payload", BinaryType),
    StructField("media_type", StringType), // "image" | "audio" | "video"
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType)))

  val featureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("n_bytes", IntegerType),
    StructField("checksum", StringType),
    StructField("feature", ArrayType(FloatType))))

  /** Deterministic fake "decode + feature extraction" for one payload:
    * 8 floats derived from byte statistics. Replace with a real codec.
    */
  private[multimodal] def decodeStub(bytes: Array[Byte]): Array[Float] = {
    if (bytes == null || bytes.isEmpty) return Array.fill(8)(0.0f)
    val n = bytes.length
    (0 until 8).map { i =>
      var acc = 0L
      var j = i
      while (j < n) { acc = (acc * 31 + (bytes(j) & 0xff)) % 1000003L; j += 8 }
      (acc.toFloat / 1000003.0f) * 2 - 1
    }.toArray
  }

  /** Feature extraction over media rows, batched per partition (the Scala
    * analogue of `mapInPandas`: one iterator pass, no per-row task overhead,
    * arbitrary native/external calls allowed inside the partition).
    */
  def extractFeatures(media: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(featureSchema)
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val payload = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
          val nBytes = if (payload == null) 0 else payload.length
          val checksum = if (payload == null) null
            else java.security.MessageDigest.getInstance("MD5")
              .digest(payload).map("%02x".format(_)).mkString
          Row(id, nBytes, checksum, decodeStub(payload))
        }
      }(enc)
  }

  /** Frame-sampling stub for video-like payloads: slice the payload into
    * `frames` equal chunks and emit one row per sampled chunk — the explode
    * shape a real frame sampler produces.
    */
  def sampleFrames(media: DataFrame, frames: Int): DataFrame =
    media
      .withColumn("frame_idx", explode(sequence(lit(0), lit(frames - 1))))
      .withColumn("frame_bytes",
        expr(s"substring(payload, frame_idx * (octet_length(payload) div $frames) + 1, " +
          s"octet_length(payload) div $frames)"))
      .select(col("media_id"), col("frame_idx"), col("frame_bytes"))

  /** Header decode over media rows: parse real container bytes
    * ([[ImageHeaders]]) per partition, emitting geometry + size. Unknown
    * formats yield nulls rather than failing the scan — at corpus scale a
    * decode job must quarantine, not crash.
    */
  def decodeHeaders(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("format", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("bit_depth", IntegerType),
      StructField("n_bytes", LongType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val payload = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
          val n = if (payload == null) 0L else payload.length.toLong
          ImageHeaders.decode(payload) match {
            case Some((fmt, w, h, d)) => Row(id, fmt, w, h, d, n)
            case None => Row(id, null, null, null, null, n)
          }
        }
      }(enc)
  }

  // ---- synthetic real-format payloads (pure Column byte math, codegen'd:
  // hex assembly + one unhex; PNG chunk CRCs via Spark's crc32) ----

  private def beHex(v: Column, bytes: Int): Column =
    lpad(hex(v), bytes * 2, "0")

  private def leHex(v: Column, bytes: Int): Column = {
    val h = beHex(v, bytes)
    concat((bytes to 1 by -1).map(i => substring(h, (i - 1) * 2 + 1, 2)): _*)
  }

  private def pngChunk(chunkType: String, data: Column): Column = {
    val typeHex = chunkType.getBytes("US-ASCII").map("%02x".format(_)).mkString
    val dataHex = hex(data)
    val crc = crc32(unhex(concat(lit(typeHex), dataHex)))
    concat(beHex(octet_length(data), 4), lit(typeHex), dataHex, beHex(crc, 4))
  }

  /** A structurally real PNG: signature, IHDR (8-bit truecolor, correct
    * CRC), one IDAT chunk carrying `data` verbatim (CRC-correct chunk
    * framing; the zlib stream inside is opaque payload, not valid pixels),
    * and IEND. Any header-level PNG reader — including [[ImageHeaders]] —
    * parses it. Total size = 57 + octet_length(data).
    */
  def syntheticPng(width: Column, height: Column, data: Column): Column = {
    val ihdr = pngChunk("IHDR",
      unhex(concat(beHex(width, 4), beHex(height, 4), lit("0802000000"))))
    val idat = pngChunk("IDAT", data)
    val iend = lit("0000000049454e44ae426082")
    unhex(concat(lit("89504e470d0a1a0a"), ihdr, idat, iend))
  }

  /** A real 24-bit BMP header (BITMAPFILEHEADER + BITMAPINFOHEADER) over
    * `data` as the pixel array (no row padding — header readers don't
    * validate stride). Total size = 54 + octet_length(data).
    */
  def syntheticBmp(width: Column, height: Column, data: Column): Column =
    unhex(concat(
      lit("424d"),                              // 'BM'
      leHex(lit(54) + octet_length(data), 4),   // file size
      lit("00000000"),                          // reserved
      leHex(lit(54), 4),                        // pixel-array offset
      leHex(lit(40), 4),                        // biSize
      leHex(width, 4), leHex(height, 4),        // geometry, int32 LE
      leHex(lit(1), 2), leHex(lit(24), 2),      // planes, bit count
      lit("00000000"),                          // compression = BI_RGB
      leHex(octet_length(data), 4),             // biSizeImage
      lit("0" * 32),                            // x/y ppm, clrUsed, clrImportant
      hex(data)))

  /** Pixel-statistics decode over media rows: REAL pixel decode
    * ([[PixelDecode]] — BMP byte walk, PNG via the JDK inflater), emitting
    * per-channel mean/min/max in RGB order plus two position-sensitive
    * probes (`top_left_r`, `bottom_right_b`) that expose row-order bugs
    * (BMP bottom-up flip) which order-invariant stats cannot see.
    * Gray/gray+alpha images replicate the gray channel across r/g/b; RGBA
    * contributes its first three channels. Undecodable payloads yield null
    * stats (quarantine, not crash).
    */
  def pixelStats(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("format", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("channels", IntegerType),
      StructField("r_mean", DoubleType), StructField("r_min", IntegerType),
      StructField("r_max", IntegerType),
      StructField("g_mean", DoubleType), StructField("g_min", IntegerType),
      StructField("g_max", IntegerType),
      StructField("b_mean", DoubleType), StructField("b_min", IntegerType),
      StructField("b_max", IntegerType),
      StructField("top_left_r", IntegerType),
      StructField("bottom_right_b", IntegerType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val payload = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
          PixelDecode.decode(payload) match {
            case Some(img) =>
              val st = PixelDecode.channelStats(img)
              val n = (img.width.toLong * img.height).toDouble
              // channel index per color under the RGB normalization
              val (ri, gi, bi) = img.channels match {
                case 1 | 2 => (0, 0, 0) // gray (+alpha): replicate
                case _ => (0, 1, 2)     // rgb / rgba
              }
              // raw IEEE division of exact integers — bit-identical in any
              // engine computing sum_double / n_double, no rounding needed
              def mean(i: Int) = st(i)._1.toDouble / n
              Row(id, img.format, img.width, img.height, img.channels,
                mean(ri), st(ri)._2, st(ri)._3,
                mean(gi), st(gi)._2, st(gi)._3,
                mean(bi), st(bi)._2, st(bi)._3,
                img.at(0, 0, ri),
                img.at(img.height - 1, img.width - 1, bi))
            case None =>
              Row(id, null, null, null, null, null, null, null, null, null,
                null, null, null, null, null, null)
          }
        }
      }(enc)
  }

  /** A real padded 24-bit BMP whose pixel (r, c, channel∈{0=R,1=G,2=B})
    * carries the deterministic value `(id*31 + r*7 + c*3 + ch*11) % 256` —
    * assembled entirely in Column byte math: bottom-up file row order, BGR
    * byte order, rows zero-padded to the 4-byte stride. An oracle replays
    * the FORMULA (never touching bytes), so any defect in this encoder or
    * in [[PixelDecode]]'s walk (offset, stride, BGR, bottom-up flip) breaks
    * the comparison.
    */
  def syntheticBmpPattern(id: Column, width: Column, height: Column): Column = {
    def hexByte(v: Column): Column = lpad(hex(v), 2, "0")
    def sample(r: Column, c: Column, ch: Int): Column =
      hexByte(pmod(id * 31 + r * 7 + c * 3 + lit(ch) * 11, lit(256)))
    val stride = floor((width * 3 + lit(3)) / lit(4)).cast("int") * 4
    val padHex = repeat(lit("00"), (stride - width * 3).cast("int"))
    val rowHex = (r: Column) => concat(
      array_join(transform(sequence(lit(0), width - 1),
        c => concat(sample(r, c, 2), sample(r, c, 1), sample(r, c, 0))), ""),
      padHex)
    val pixelArray = unhex(array_join(
      transform(sequence(height - 1, lit(0), lit(-1)), rowHex), ""))
    syntheticBmp(width, height, pixelArray)
  }

  /** [[syntheticBmpPattern]]'s high-entropy sibling for perceptual-hash
    * gates: pixel channel `ch` of (id, r, c) is hex byte `ch` of
    * `md5(id_r_c)` — cryptographic mixing, replayed verbatim by the
    * oracle (`('0x' || substr(md5(...), 2ch+1, 2))::INT`). The earlier
    * quadratic polynomial left the dHash comparison bits correlated
    * across ids (the additive id term mostly cancels between adjacent
    * columns), concentrating 56-bit hashes onto a few hundred values —
    * under a corpus blowup DIFFERENT content then collided at Hamming
    * ≤ 2 and the pair relation densified quadratically in copies
    * (measured ×20 at x10). md5 pixels give distinct ids ~random
    * hashes, so only planted clones are close at any scale. Same
    * container, same oracle discipline.
    */
  def syntheticBmpScramble(id: Column, width: Column, height: Column): Column = {
    def sample(r: Column, c: Column, ch: Int): Column =
      substring(md5(concat_ws("_", id, r, c)), 2 * ch + 1, 2)
    val stride = floor((width * 3 + lit(3)) / lit(4)).cast("int") * 4
    val padHex = repeat(lit("00"), (stride - width * 3).cast("int"))
    val rowHex = (r: Column) => concat(
      array_join(transform(sequence(lit(0), width - 1),
        c => concat(sample(r, c, 2), sample(r, c, 1), sample(r, c, 0))), ""),
      padHex)
    val pixelArray = unhex(array_join(
      transform(sequence(height - 1, lit(0), lit(-1)), rowHex), ""))
    syntheticBmp(width, height, pixelArray)
  }

  /** A real 16-bit PCM WAV (RIFF + fmt + data) whose mono samples follow
    * the deterministic formula `s(i) = ((id*37 + i*13) % 2048) - 1024` —
    * assembled entirely in Column byte math (LE int16 two's complement via
    * pmod into [0, 65536)). An oracle replays the FORMULA, so any defect
    * in this encoder or in [[WavDecode]]'s walk (chunk sizes, LE order,
    * sign extension) breaks the comparison. The audio sibling of
    * [[syntheticBmpPattern]].
    */
  def syntheticWavPattern(id: Column, nSamples: Column,
      sampleRate: Int = 8000): Column = {
    val sample = (i: Column) =>
      pmod(id * 37 + i * 13, lit(2048)) - lit(1024)
    // int16 two's complement: pmod(v, 65536) maps negatives to 65536+v
    val dataHex = array_join(
      transform(sequence(lit(0), nSamples - 1),
        i => leHex(pmod(sample(i), lit(65536)), 2)), "")
    val dataLen = nSamples * 2
    val fmtHex = concat(
      lit("666d7420"), leHex(lit(16), 4),        // "fmt ", size 16
      leHex(lit(1), 2), leHex(lit(1), 2),        // PCM, mono
      leHex(lit(sampleRate), 4),                 // sample rate
      leHex(lit(sampleRate * 2), 4),             // byte rate
      leHex(lit(2), 2), leHex(lit(16), 2))       // block align, 16-bit
    unhex(concat(
      lit("52494646"), leHex(dataLen + lit(36), 4), lit("57415645"), // RIFF size WAVE
      fmtHex,
      lit("64617461"), leHex(dataLen, 4), dataHex))                  // data chunk
  }

  /** [[syntheticWavPattern]]'s high-entropy sibling for fingerprint
    * gates: `s(i) = (md5_12bits(id_i) % 2048) − 1024` — the first three
    * md5 hex digits of `id_i`, replayed verbatim by the oracle. (The
    * linear pattern's per-frame energies are phase shifts of one
    * sequence; a polynomial phase still left cross-id contours
    * correlated under blowup — see the body comment.)
    */
  def syntheticWavScramble(id: Column, nSamples: Column,
      sampleRate: Int = 8000): Column = {
    // md5-mixed samples (see syntheticBmpScramble): the earlier
    // id-dependent quadratic phase still left cross-id energy contours
    // correlated enough that 63-bit fingerprints collided under a x100
    // blowup (measured 4.5x pair densification); md5 gives distinct ids
    // ~iid samples, so only planted clones stay Hamming-close
    val sample = (i: Column) =>
      pmod(conv(substring(md5(concat_ws("_", id, i)), 1, 3), 16, 10)
        .cast("long"), lit(2048)) - lit(1024)
    val dataHex = array_join(
      transform(sequence(lit(0), nSamples - 1),
        i => leHex(pmod(sample(i), lit(65536)), 2)), "")
    val dataLen = nSamples * 2
    val fmtHex = concat(
      lit("666d7420"), leHex(lit(16), 4),        // "fmt ", size 16
      leHex(lit(1), 2), leHex(lit(1), 2),        // PCM, mono
      leHex(lit(sampleRate), 4),                 // sample rate
      leHex(lit(sampleRate * 2), 4),             // byte rate
      leHex(lit(2), 2), leHex(lit(16), 2))       // block align, 16-bit
    unhex(concat(
      lit("52494646"), leHex(dataLen + lit(36), 4), lit("57415645"),
      fmtHex,
      lit("64617461"), leHex(dataLen, 4), dataHex))
  }

  /** Audio feature extraction over media rows: REAL PCM decode
    * ([[WavDecode]]), then frame channel 0 into `frameSize`-sample windows
    * and emit the standard per-frame features — RMS energy
    * (sqrt(Σs²/n), exact integer sums → IEEE-exact in any engine), peak
    * |s|, and the zero-crossing count (consecutive pairs whose signs
    * differ, 0 counted as non-negative). The trailing partial frame is
    * kept with its true n_samples. Undecodable payloads are quarantined
    * (no rows), the corpus-scale contract.
    */
  def audioFeatures(media: DataFrame, frameSize: Int): DataFrame = {
    require(frameSize > 0, "frameSize must be positive")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_idx", IntegerType),
      StructField("n_samples", IntegerType),
      StructField("rms", DoubleType),
      StructField("peak", IntegerType),
      StructField("zero_crossings", IntegerType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          val payload = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
          WavDecode.decode(payload) match {
            case Some(clip) if clip.nFrames > 0 =>
              val n = clip.nFrames
              (0 until (n + frameSize - 1) / frameSize).iterator.map { f =>
                val lo = f * frameSize
                val hi = math.min(lo + frameSize, n)
                var sumSq = 0.0
                var peak = 0
                var zc = 0
                var i = lo
                while (i < hi) {
                  val s = clip.at(i, 0)
                  sumSq += s.toDouble * s
                  if (math.abs(s) > peak) peak = math.abs(s)
                  if (i > lo && ((clip.at(i - 1, 0) < 0) != (s < 0))) zc += 1
                  i += 1
                }
                Row(id, f, hi - lo, math.sqrt(sumSq / (hi - lo)), peak, zc)
              }
            case _ => Iterator.empty
          }
        }
      }(enc)
  }

  /** Nearest-neighbor image resize over a decoded pixel grid: output
    * pixel (r, c) samples source pixel (r*h/oh, c*w/ow) (floor — the
    * standard scale-then-truncate mapping). Pure index arithmetic, no
    * interpolation: exact, replayable, and the cheap first stage every
    * thumbnail/preprocess pipeline runs before a model-specific resample.
    */
  def resizeNearest(img: PixelDecode.Image, ow: Int, oh: Int): PixelDecode.Image = {
    require(ow > 0 && oh > 0, "output geometry must be positive")
    val out = new Array[Int](ow * oh * img.channels)
    var r = 0
    while (r < oh) {
      val sr = r * img.height / oh
      var c = 0
      while (c < ow) {
        val sc = c * img.width / ow
        var ch = 0
        while (ch < img.channels) {
          out((r * ow + c) * img.channels + ch) = img.at(sr, sc, ch)
          ch += 1
        }
        c += 1
      }
      r += 1
    }
    PixelDecode.Image(img.format, ow, oh, img.channels, out)
  }

  /** Resize media payloads to (ow × oh) and emit every output pixel as a
    * row — decode ([[PixelDecode]]) + [[resizeNearest]] per partition.
    * Undecodable payloads quarantine to no rows.
    */
  def resizePixels(media: DataFrame, ow: Int, oh: Int): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("r", IntegerType), StructField("c", IntegerType),
      StructField("red", IntegerType), StructField("green", IntegerType),
      StructField("blue", IntegerType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { row =>
          val id = row.getLong(0)
          val payload = if (row.isNullAt(1)) null else row.getAs[Array[Byte]](1)
          PixelDecode.decode(payload) match {
            case Some(img) if img.channels >= 3 =>
              val small = resizeNearest(img, ow, oh)
              for { r <- 0 until oh; c <- 0 until ow } yield
                Row(id, r, c, small.at(r, c, 0), small.at(r, c, 1), small.at(r, c, 2))
            case _ => Seq.empty
          }
        }
      }(enc)
  }

  /** A structurally real AVI (RIFF 'AVI ' → LIST hdrl [avih + LIST strl
    * [strh 'vids' + strf BITMAPINFOHEADER]] → LIST movi [`00db` frames])
    * whose uncompressed 24-bit DIB frames carry the deterministic pixel
    * formula `(id*31 + f*17 + r*7 + c*3 + ch*11) % 256` — assembled
    * entirely in Column byte math: bottom-up rows, BGR order, 4-byte
    * stride, correct nested RIFF sizes. The video sibling of
    * [[syntheticBmpPattern]]/[[syntheticWavPattern]]: an oracle replays
    * the FORMULA, so any defect in this encoder or [[AviDecode]]'s
    * container walk breaks the comparison.
    */
  def syntheticAviPattern(id: Column, width: Column, height: Column,
      nFrames: Column): Column = {
    def hexByte(v: Column): Column = lpad(hex(v), 2, "0")
    aviFromSample(width, height, nFrames)((f, r, c, ch) =>
      hexByte(pmod(id * 31 + f * 17 + r * 7 + c * 3 + lit(ch) * 11, lit(256))))
  }

  /** [[syntheticAviPattern]]'s high-entropy sibling for perceptual-hash
    * gates: frame `f` renders content frame `ff = f + phase`, and pixel
    * channel `ch` of (id, ff, r, c) is hex byte `ch` of
    * `md5(id_ff_r_c)` — cryptographic mixing (see
    * [[syntheticBmpScramble]] for why polynomial pixels concentrate the
    * dHash space and densify blowups). The `phase` offset shifts WHICH
    * content frame appears at each position, so two clips sharing `id`
    * at different phases are temporally shifted clones — the exact shape
    * a video temporal-alignment dedup must recover.
    */
  def syntheticAviScramble(id: Column, width: Column, height: Column,
      nFrames: Column, phase: Column): Column =
    aviFromSample(width, height, nFrames) { (f, r, c, ch) =>
      substring(md5(concat_ws("_", id, f + phase, r, c)), 2 * ch + 1, 2)
    }

  /** Shared AVI/RIFF container assembly: `sample(f, r, c, ch)` returns the
    * hex-encoded byte for the given frame/row/col/channel. */
  private def aviFromSample(width: Column, height: Column, nFrames: Column)(
      sample: (Column, Column, Column, Int) => Column): Column = {
    def fourcc(s: String): String =
      s.getBytes("US-ASCII").map("%02x".format(_)).mkString
    val stride = floor((width * 3 + lit(3)) / lit(4)).cast("int") * 4
    val padHex = repeat(lit("00"), (stride - width * 3).cast("int"))
    val frameSize = stride * height
    def rowHex(f: Column)(r: Column): Column = concat(
      array_join(transform(sequence(lit(0), width - 1),
        c => concat(sample(f, r, c, 2), sample(f, r, c, 1), sample(f, r, c, 0))), ""),
      padHex)
    val frameHex = (f: Column) => concat(
      lit(fourcc("00db")), leHex(frameSize, 4),
      array_join(transform(sequence(height - 1, lit(0), lit(-1)), r => rowHex(f)(r)), ""))
    val moviData = array_join(
      transform(sequence(lit(0), nFrames - 1), frameHex), "")
    // stride*height is a multiple of 4 → chunks are even, no pad bytes
    val moviSize = lit(4) + nFrames * (frameSize + 8)
    val strf = concat(lit(fourcc("strf")), leHex(lit(40), 4),
      leHex(lit(40), 4), leHex(width, 4), leHex(height, 4),
      leHex(lit(1), 2), leHex(lit(24), 2),
      lit("00000000"),                    // BI_RGB
      leHex(frameSize, 4), lit("0" * 32)) // ppm/clr fields
    val strh = concat(lit(fourcc("strh")), leHex(lit(56), 4),
      lit(fourcc("vids")), lit("00000000"), // handler = DIB
      lit("0" * 32),                        // flags, priority, language, initialFrames, scale
      lit("00000000"), lit("00000000"),     // rate, start
      leHex(nFrames, 4),                    // length
      lit("0" * 24),                        // bufsize, quality, sampleSize
      lit("0" * 16))                        // rcFrame
    val strl = concat(lit(fourcc("LIST")), leHex(lit(4 + 64 + 48), 4),
      lit(fourcc("strl")), strh, strf)
    val avih = concat(lit(fourcc("avih")), leHex(lit(56), 4),
      leHex(lit(40000), 4), lit("0" * 24),  // µs/frame, bytes/sec..flags
      leHex(nFrames, 4), lit("00000000"),
      leHex(lit(1), 4), lit("00000000"),    // one stream
      leHex(width, 4), leHex(height, 4), lit("0" * 32))
    val hdrlSize = lit(4 + 64 + (8 + 4 + 64 + 48))
    val hdrl = concat(lit(fourcc("LIST")), leHex(hdrlSize, 4),
      lit(fourcc("hdrl")), avih, strl)
    val riffSize = lit(4) + (hdrlSize + 8) + (moviSize + 8)
    unhex(concat(
      lit(fourcc("RIFF")), leHex(riffSize, 4), lit(fourcc("AVI ")),
      hdrl,
      lit(fourcc("LIST")), leHex(moviSize, 4), lit(fourcc("movi")), moviData))
  }

  /** Per-frame channel statistics over video payloads: REAL container +
    * pixel decode ([[AviDecode]]), one row per sampled frame — the
    * frame-sample → decode → feature shape a video curation pipeline
    * runs. The position probes (`top_left_r`, `bottom_right_b`) expose
    * the bottom-up/BGR normalization per frame. Undecodable payloads
    * quarantine to no rows.
    */
  def videoFrameStats(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_idx", IntegerType),
      StructField("width", IntegerType), StructField("height", IntegerType),
      StructField("r_mean", DoubleType), StructField("g_mean", DoubleType),
      StructField("b_mean", DoubleType),
      StructField("top_left_r", IntegerType),
      StructField("bottom_right_b", IntegerType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { row =>
          val id = row.getLong(0)
          val payload = if (row.isNullAt(1)) null else row.getAs[Array[Byte]](1)
          AviDecode.decode(payload) match {
            case Some(v) =>
              val n = (v.width.toLong * v.height).toDouble
              (0 until v.nFrames).iterator.map { f =>
                val sums = new Array[Long](3)
                var i = 0
                val fr = v.frames(f)
                while (i < fr.length) { sums(i % 3) += fr(i); i += 1 }
                Row(id, f, v.width, v.height,
                  sums(0) / n, sums(1) / n, sums(2) / n,
                  v.at(f, 0, 0, 0),
                  v.at(f, v.height - 1, v.width - 1, 2))
              }
            case None => Iterator.empty
          }
        }
      }(enc)
  }

  /** Wrap a text corpus as fake media rows (payload = UTF-8 bytes) so the
    * multimodal path is exercisable on the driver fixtures.
    */
  def fromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      col("text").cast("binary").as("payload"),
      lit("image").as("media_type"),
      lit(null).cast("int").as("width"),
      lit(null).cast("int").as("height"),
      lit(null).cast("long").as("duration_ms"))
}
