package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: opaque `binary` payloads (image/audio/
  * video bytes) with typed metadata, plus decode / feature-extraction
  * operators shaped for distributed execution.
  *
  * The decode path is REAL: payloads are genuine PNG files (synthesized
  * with the JDK's `ImageIO.write` from a closed-form pixel formula) and
  * every downstream operator — [[decodeImageStats]], [[resize]],
  * [[sampleFrames]], [[extractFeatures]] — round-trips through
  * `javax.imageio.ImageIO.read`, the same per-partition-batched
  * `mapPartitions` harness a heavier codec (javacv / TwelveMonkeys)
  * would plug into. The closed-form pixel formula is what makes the
  * result GRADEABLE: the DuckDB oracle recomputes the expected pixel
  * sums arithmetically, so a mis-decoded byte anywhere in the
  * encode→decode→scale→encode→decode chain flips the hash.
  */
object Multimodal {

  // ImageIO's default scratch-file cache writes every encode/decode
  // through java.io.tmpdir — at 100 TB that is a disk-bound decode. All
  // payloads here are in-memory byte arrays; keep the codec in memory.
  javax.imageio.ImageIO.setUseCache(false)

  /** A decoded media record: id, decoded pixel count, and an extracted
    * fixed-width feature vector (luminance histogram — integer counts,
    * exact). */
  case class MediaFeatures(media_id: Long, n_pixels: Int, features: Array[Float])

  /** Attach a binary payload + metadata struct to a text table, standing
    * in for real media bytes (fixtures carry no true media). Metadata
    * (fake width/height) is md5-derived so it is deterministic and
    * reproducible by the DuckDB oracle. */
  def attachBinary(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).as("media_id"),
      col(textCol).cast("binary").as("payload"),
      struct(
        length(col(textCol).cast("binary")).as("n_bytes"),
        (conv(substring(md5(col(textCol)), 1, 4), 16, 10).cast("long") % 640)
          .as("width"),
        (conv(substring(md5(col(textCol)), 5, 4), 16, 10).cast("long") % 480)
          .as("height")).as("meta"))

  // ---- real container-header synthesis + parse (no codecs needed) ----

  /** 4-byte big-endian hex of a long value (PNG's integer encoding). */
  private def beHex(v: Column): Column = lpad(hex(v.cast("long")), 8, "0")

  /** 4-byte little-endian hex of a long value (BMP's integer encoding):
    * the big-endian hex with its byte pairs reversed. */
  private def leHex(v: Column): Column = {
    val h = beHex(v)
    concat(substring(h, 7, 2), substring(h, 5, 2),
      substring(h, 3, 2), substring(h, 1, 2))
  }

  /** Synthesize a VALID image container in front of the text bytes —
    * PNG (8-byte signature + IHDR chunk) for even ids, BMP
    * (BITMAPFILEHEADER + BITMAPINFOHEADER) for odd — with md5-derived
    * dimensions, so [[imageMeta]] has real headers to parse and the
    * oracle can recompute the expected dimensions from the formula.
    * Layouts are the published file formats: PNG width/height are
    * big-endian int32 at byte offsets 16/20 (after the 8-byte signature
    * and the IHDR chunk length+type); BMP width/height are little-endian
    * int32 at offsets 18/22. Dimensions are 1-based (`% n + 1`) — a
    * zero-dimension image is invalid in both formats. Everything is
    * `unhex`/`concat` column expressions: synthesis runs at scan speed. */
  def synthesizeImagePayload(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val text = col(textCol)
    val w = conv(substring(md5(text), 1, 4), 16, 10).cast("long") % 640 + 1
    val h = conv(substring(md5(text), 5, 4), 16, 10).cast("long") % 480 + 1
    val body = text.cast("binary")
    // 8 sig + 4 len + "IHDR" + 13 data (w,h,depth8,color6,comp0,filt0,
    // interlace0) + 4 crc = 33 bytes (crc left zero — parsers that
    // verify it would decode the pixel data too, which needs a codec)
    val png = concat(unhex(concat(
      lit("89504E470D0A1A0A"), lit("0000000D"), lit("49484452"),
      beHex(w), beHex(h), lit("0806000000"), lit("00000000"))), body)
    // 14-byte file header (BM, file size, reserved, data offset 54) +
    // 40-byte BITMAPINFOHEADER = 54 bytes before the data
    val bmp = concat(unhex(concat(
      lit("424D"), leHex(length(body) + 54), lit("00000000"), lit("36000000"),
      lit("28000000"), leHex(w), leHex(h), lit("0100"), lit("1800"),
      lit("00000000"), leHex(length(body)), lit("130B0000"), lit("130B0000"),
      lit("00000000"), lit("00000000"))), body)
    df.select(col(idCol).as("media_id"),
      when(col(idCol) % 2 === 0, png).otherwise(bmp).as("payload"))
  }

  /** REAL media metadata from the binary payload: sniff the magic bytes
    * and parse width/height out of the container header with pure column
    * expressions — PNG IHDR (big-endian at offsets 16/20) and BMP
    * BITMAPINFOHEADER (little-endian at offsets 18/22), public file-
    * format knowledge, no codec jars. Unknown containers yield format
    * 'unknown' with null dimensions instead of failing the scan — at
    * 100 TB a corrupt payload must quarantine, not kill the job. */
  def imageMeta(withPayload: DataFrame): DataFrame = {
    val p = col("payload")
    def be(off1: Int): Column =
      conv(hex(substring(p, off1, 4)), 16, 10).cast("long")
    def le(off1: Int): Column = {
      val hh = hex(substring(p, off1, 4))
      conv(concat(substring(hh, 7, 2), substring(hh, 5, 2),
        substring(hh, 3, 2), substring(hh, 1, 2)), 16, 10).cast("long")
    }
    val isPng = hex(substring(p, 1, 8)) === "89504E470D0A1A0A"
    val isBmp = hex(substring(p, 1, 2)) === "424D"
    withPayload.select(
      col("media_id"),
      length(p).cast("long").as("n_bytes"),
      when(isPng, lit("png")).when(isBmp, lit("bmp"))
        .otherwise(lit("unknown")).as("format"),
      when(isPng, be(17)).when(isBmp, le(19))
        .otherwise(lit(null).cast("long")).as("width"),
      when(isPng, be(21)).when(isBmp, le(23))
        .otherwise(lit(null).cast("long")).as("height"))
  }

  /** 2-byte little-endian hex of a long value (WAV's u16 encoding). */
  private def leHex16(v: Column): Column = {
    val h = lpad(hex(v.cast("long")), 4, "0")
    concat(substring(h, 3, 2), substring(h, 1, 2))
  }

  /** Synthesize a VALID WAV (RIFF/WAVE) container around the text bytes —
    * the audio leg of the multimodal fixture story, same discipline as
    * [[synthesizeImagePayload]]: the 44-byte canonical PCM header
    * (RIFF chunk + fmt chunk + data chunk header) is the published file
    * format, all fields little-endian; channel count and sample rate are
    * md5-derived so [[audioMeta]] has real headers to parse and the
    * oracle recomputes the expected values from the formula. Channels ∈
    * {1, 2}, rate ∈ {8000, 16000, 22050, 44100} Hz, 16-bit PCM.
    * Everything is `unhex`/`concat` column expressions — synthesis runs
    * at scan speed, no UDF, no shuffle.
    *
    * ASCII-payload contract (ENFORCED): the audio oracles decode PCM
    * samples by CHARACTER-indexed substr over the text column, which
    * equals the byte-indexed slice only while every char is single-byte
    * (< 0x80) — chars == bytes and no UTF-8 high-byte sign-flips. The
    * synthesis asserts this per row, so a future non-ASCII fixture fails
    * the job loudly here instead of shipping sign-flipped sample diffs. */
  def synthesizeAudioPayload(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val text = col(textCol)
    val body = text.cast("binary")
    // NULL on success; the `dataSize + coalesce(.., 0)` weave below keeps
    // the assert inside a live header column that pruning cannot drop.
    val asciiOk = assert_true(
      coalesce(text.rlike("^[\\x00-\\x7F]*$"), lit(true)),
      lit("synthesizeAudioPayload: non-ASCII text breaks the chars==bytes" +
        " PCM decode contract shared with the DuckDB oracles"))
    val nch = conv(substring(md5(text), 9, 4), 16, 10).cast("long") % 2 + 1
    val rate = element_at(
      array(lit(8000L), lit(16000L), lit(22050L), lit(44100L)),
      (conv(substring(md5(text), 13, 4), 16, 10).cast("long") % 4 + 1).cast("int"))
    val dataSize = length(body).cast("long") +
      coalesce(asciiOk.cast("long"), lit(0L))
    // RIFF <size> WAVE | fmt <16> pcm=1 nch rate byteRate blockAlign bits
    // | data <size> <samples> — 44 header bytes total
    val wav = concat(unhex(concat(
      lit("52494646"), leHex(dataSize + 36), lit("57415645"),
      lit("666D7420"), lit("10000000"), lit("0100"), leHex16(nch),
      leHex(rate), leHex(rate * nch * 2L), leHex16(nch * 2L), lit("1000"),
      lit("64617461"), leHex(dataSize))), body)
    df.select(col(idCol).as("media_id"), wav.as("payload"))
  }

  /** REAL audio metadata from the binary payload: sniff the RIFF/WAVE
    * magic and parse the canonical PCM fmt chunk with pure column
    * expressions — channels (u16 LE @23), sample rate (u32 LE @25),
    * bits/sample (u16 LE @35), data size (u32 LE @41); sample count and
    * duration are derived exactly as a decoder would (frames = data
    * bytes / block align; ms = frames·1000 / rate, floored). Unknown
    * containers quarantine as format 'unknown' with null fields — a
    * corrupt payload must never kill a 100 TB scan. */
  def audioMeta(withPayload: DataFrame): DataFrame = {
    val p = col("payload")
    def le32(off1: Int): Column = {
      val hh = hex(substring(p, off1, 4))
      conv(concat(substring(hh, 7, 2), substring(hh, 5, 2),
        substring(hh, 3, 2), substring(hh, 1, 2)), 16, 10).cast("long")
    }
    def le16(off1: Int): Column = {
      val hh = hex(substring(p, off1, 2))
      conv(concat(substring(hh, 3, 2), substring(hh, 1, 2)), 16, 10).cast("long")
    }
    val isWav = hex(substring(p, 1, 4)) === "52494646" &&
      hex(substring(p, 9, 4)) === "57415645"
    val nch = le16(23)
    val rate = le32(25)
    val bits = le16(35)
    val dataBytes = le32(41)
    val nSamples = floor(dataBytes / (nch * bits / lit(8L))).cast("long")
    withPayload.select(
      col("media_id"),
      length(p).cast("long").as("n_bytes"),
      when(isWav, lit("wav")).otherwise(lit("unknown")).as("format"),
      when(isWav, nch).otherwise(lit(null).cast("long")).as("n_channels"),
      when(isWav, rate).otherwise(lit(null).cast("long")).as("sample_rate"),
      when(isWav, bits).otherwise(lit(null).cast("long")).as("bits_per_sample"),
      when(isWav, nSamples).otherwise(lit(null).cast("long")).as("n_samples"),
      when(isWav, floor(nSamples * 1000L / rate).cast("long"))
        .otherwise(lit(null).cast("long")).as("duration_ms"))
  }

  /** Decoded-audio stats ([[audioDecodeStats]]): format fields come
    * from the decoder's `AudioFormat`, `sum_samples` from the PCM
    * frames themselves. Nulls = undecodable payload (quarantine). */
  case class AudioStats(media_id: Long, format: String,
                        n_channels: Option[Long], sample_rate: Option[Long],
                        n_frames: Option[Long], sum_samples: Option[Long])

  /** REAL audio decode through the JDK's `javax.sound.sampled`: parse
    * the WAV container with `AudioSystem.getAudioInputStream`, read the
    * PCM frames, and sum every 16-bit little-endian sample across all
    * channels — the audio leg of the real-decode story, same
    * `mapPartitions` batch shape as the image path. The synthesized WAV
    * body is ASCII text bytes, so every sample is `b0 + 256·b1` with
    * both bytes < 128 (never negative), which the DuckDB oracle replays
    * as character-pair arithmetic over the same text. Partial trailing
    * frames are dropped by the decoder's frame alignment (frames =
    * ⌊data bytes / block align⌋ — exactly what the oracle floors).
    * Unreadable payloads quarantine as format 'unknown'. */
  def audioDecodeStats(withPayload: DataFrame): Dataset[AudioStats] = {
    implicit val enc = Encoders.product[AudioStats]
    withPayload.select(col("media_id"), col("payload"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .mapPartitions { it =>
        it.map { case (id, p) =>
          try {
            val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(p))
            val fmt = in.getFormat
            val nch = fmt.getChannels
            val frameBytes = fmt.getFrameSize
            val nFrames = in.getFrameLength
            val buf = new Array[Byte]((nFrames * frameBytes).toInt)
            var off = 0
            var read = 0
            while (off < buf.length && read >= 0) {
              read = in.read(buf, off, buf.length - off)
              if (read > 0) off += read
            }
            var sum = 0L
            var i = 0
            while (i + 1 < off) {
              // s16 LE; sign extension via toShort (ASCII bodies never
              // go negative, but a real decoder must handle it)
              sum += (((buf(i) & 0xff) | ((buf(i + 1) & 0xff) << 8)).toShort).toLong
              i += 2
            }
            AudioStats(id, "wav", Some(nch.toLong),
              Some(fmt.getSampleRate.toLong), Some(nFrames),
              Some(sum))
          } catch {
            case _: Exception =>
              AudioStats(id, "unknown", None, None, None, None)
          }
        }
      }
  }

  /** Decoded-audio features ([[audioFeatures]]): RMS energy from the
    * exact integer Σs², per-channel sums from de-interleaved frames.
    * Nulls = undecodable payload or zero frames. */
  case class AudioFeatures(media_id: Long, format: String,
                           n_frames: Option[Long], rms: Option[Double],
                           ch0_sum: Option[Long], ch1_sum: Option[Long])

  /** Audio feature extraction over REAL decoded PCM: RMS energy
    * (√(Σs²/n) from an exact integer square sum — only the final sqrt
    * is floating point) and per-channel sample sums, which force the
    * decoder to de-interleave frames correctly (sample i belongs to
    * channel i mod nch) — a channel-order bug flips ch0/ch1 and
    * hash-fails. Same `mapPartitions` batch shape as the other decode
    * legs: the decoder object is amortized per task, no per-row UDF,
    * and the operator parallelizes by file at any scale. Mono payloads
    * report ch1_sum = null (absent, not zero). The sample loop assembles
    * 16-bit signed little-endian PCM, so any OTHER valid encoding (8-bit,
    * big-endian, float, µ-law) is quarantined as "unknown" rather than
    * silently mis-decoded — the format check is the contract, not the
    * decode's happy path. */
  def audioFeatures(withPayload: DataFrame): Dataset[AudioFeatures] = {
    implicit val enc = Encoders.product[AudioFeatures]
    withPayload.select(col("media_id"), col("payload"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .mapPartitions { it =>
        it.map { case (id, p) =>
          try {
            val (nch, nFrames, smp) = decodePcm16le(p)
            var ssq = 0L
            val chSum = new Array[Long](nch)
            var i = 0
            while (i < smp.length) {
              ssq += smp(i) * smp(i)
              chSum(i % nch) += smp(i)
              i += 1
            }
            val n = smp.length.toLong
            AudioFeatures(id, "wav", Some(nFrames),
              if (n == 0) None else Some(math.sqrt(ssq.toDouble / n)),
              Some(chSum(0)), if (nch > 1) Some(chSum(1)) else None)
          } catch {
            case _: Exception =>
              AudioFeatures(id, "unknown", None, None, None, None)
          }
        }
      }
  }

  /** Shared decode prologue for the PCM feature operators: open the
    * payload, enforce the 16-bit little-endian signed-PCM contract
    * (any OTHER valid encoding — 8-bit, big-endian, float, µ-law —
    * throws so the caller quarantines rather than silently
    * mis-decodes), drain the frames, and assemble the interleaved
    * samples. Returns (channels, frame count, samples); one
    * definition so [[audioFeatures]] and [[audioFlux]] can never
    * disagree on which payloads decode. */
  private def decodePcm16le(p: Array[Byte]): (Int, Long, Array[Long]) = {
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(p))
    val fmt = in.getFormat
    if (fmt.getEncoding !=
          javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
        fmt.getSampleSizeInBits != 16 || fmt.isBigEndian)
      throw new javax.sound.sampled.UnsupportedAudioFileException(
        s"not 16-bit LE signed PCM: $fmt")
    val nFrames = in.getFrameLength
    if (nFrames < 0) // NOT_SPECIFIED: refuse rather than size a buffer by it
      throw new javax.sound.sampled.UnsupportedAudioFileException(
        "unspecified frame length")
    val buf = new Array[Byte]((nFrames * fmt.getFrameSize).toInt)
    var off = 0
    var read = 0
    while (off < buf.length && read >= 0) {
      read = in.read(buf, off, buf.length - off)
      if (read > 0) off += read
    }
    val n = off / 2
    val smp = new Array[Long](n)
    var i = 0
    while (i < n) {
      smp(i) = (((buf(2 * i) & 0xff) |
        ((buf(2 * i + 1) & 0xff) << 8)).toShort).toLong
      i += 1
    }
    (fmt.getChannels, nFrames, smp)
  }

  case class AudioSilence(media_id: Long, format: String,
                          n_windows: Option[Long], n_silent: Option[Long],
                          longest_run: Option[Long])

  /** Silence-segment detection over REAL decoded PCM: fixed 64-sample
    * windows over the interleaved sample sequence; a window is silent
    * iff its exact integer sample SUM sits under the threshold (fixture
    * samples are nonnegative by the ASCII contract, so the sum is a
    * monotone energy proxy with no abs/square needed). Reports window
    * count, silent-window count, and the LONGEST silent run — the run
    * is sequence-sensitive (a shuffled decode with the right multiset
    * still breaks it), making this the windowed sibling of
    * [[audioFlux]]'s ordering grade. Trailing partial windows are
    * excluded on both engines. Same decode contract and quarantine
    * rule as [[audioFeatures]]. */
  def audioSilence(withPayload: DataFrame, windowSize: Int = 64,
                   thresholdPerSample: Long = 25000L): Dataset[AudioSilence] = {
    require(windowSize >= 1, s"windowSize must be >= 1, got $windowSize")
    implicit val enc = Encoders.product[AudioSilence]
    val threshold = windowSize * thresholdPerSample
    withPayload.select(col("media_id"), col("payload"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .mapPartitions { it =>
        it.map { case (id, p) =>
          val decoded = try Some(decodePcm16le(p))
                        catch { case _: Exception => None }
          decoded match {
            case None => AudioSilence(id, "unknown", None, None, None)
            case Some((_, _, smp)) =>
              val nw = smp.length / windowSize
              var silent = 0L
              var run = 0L
              var best = 0L
              var k = 0
              while (k < nw) {
                var sum = 0L
                var j = k * windowSize
                val end = j + windowSize
                while (j < end) { sum += smp(j); j += 1 }
                if (sum < threshold) {
                  silent += 1; run += 1; if (run > best) best = run
                } else run = 0
                k += 1
              }
              AudioSilence(id, "wav", Some(nw.toLong), Some(silent), Some(best))
          }
        }
      }
  }

  case class AudioFlux(media_id: Long, format: String,
                       n_samples: Option[Long], ssq: Option[Long],
                       diff2: Option[Long], hf_ratio: Option[Double])

  /** First-difference energy over REAL decoded PCM — the high-frequency
    * proxy (a first difference is a one-tap high-pass filter; its
    * energy relative to total energy separates hiss/transients from
    * tonal content). Σ(s_k − s_{k−nch})² compares each sample to its
    * predecessor IN THE SAME CHANNEL, so unlike RMS and channel sums
    * (order-blind bags) this grades that the decoder returns samples in
    * the right SEQUENCE — a frame-order or interleave bug flips the
    * value. Exactness: diffs are ≤ 2¹⁷ so Σdiff² fits BIGINT through
    * ~2⁴⁸ samples; hf_ratio = diff2/ssq is ONE double division. Same
    * 16-bit-LE-signed-PCM-only contract and quarantine rule as
    * [[audioFeatures]]. */
  def audioFlux(withPayload: DataFrame): Dataset[AudioFlux] = {
    implicit val enc = Encoders.product[AudioFlux]
    withPayload.select(col("media_id"), col("payload"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .mapPartitions { it =>
        it.map { case (id, p) =>
          try {
            val (nch, _, smp) = decodePcm16le(p)
            var (ssq, d2) = (0L, 0L)
            var i = 0
            while (i < smp.length) {
              ssq += smp(i) * smp(i)
              if (i >= nch) { val d = smp(i) - smp(i - nch); d2 += d * d }
              i += 1
            }
            AudioFlux(id, "wav", Some(smp.length.toLong), Some(ssq), Some(d2),
              if (ssq == 0) None else Some(d2.toDouble / ssq.toDouble))
          } catch {
            case _: Exception => AudioFlux(id, "unknown", None, None, None, None)
          }
        }
      }
  }

  /** A parsed JPEG header record ([[jpegMeta]]); width/height are None
    * when no SOF frame header is found (quarantine, not failure). */
  case class JpegMeta(media_id: Long, n_bytes: Long, format: String,
                      width: Option[Long], height: Option[Long])

  /** Synthesize a VALID (minimal) JPEG stream around the text bytes:
    * SOI, a COM segment whose LENGTH IS md5-DERIVED (1–16 payload
    * bytes), the SOF0 frame header carrying md5-derived dimensions, EOI,
    * then the body. The variable-length COM segment is the point: the
    * SOF0 offset differs per row, so a fixed-offset "parser" cannot
    * pass — [[jpegMeta]] must genuinely walk the segment chain as the
    * published format requires (each marker FFxx is followed by a
    * big-endian u16 length that counts itself). Dimensions are 1-based;
    * all synthesis is `unhex`/`concat` column expressions at scan
    * speed. */
  def synthesizeJpegPayload(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val text = col(textCol)
    def beHex16(v: Column): Column = lpad(hex(v.cast("long")), 4, "0")
    val nCom = conv(substring(md5(text), 17, 4), 16, 10).cast("long") % 16 + 1
    val comHex = expr(s"substring(md5($textCol), 1, cast(__ncom * 2 as int))")
    val w = conv(substring(md5(text), 21, 4), 16, 10).cast("long") % 1024 + 1
    val h = conv(substring(md5(text), 25, 4), 16, 10).cast("long") % 768 + 1
    // SOI | COM(len = n+2, n md5 bytes) | SOF0(len 11: precision 8,
    // height, width, 1 component (id 1, sampling 0x11, qtable 0)) | EOI
    df.withColumn("__ncom", nCom)
      .select(col(idCol).as("media_id"),
        concat(unhex(concat(
          lit("FFD8"),
          lit("FFFE"), beHex16(col("__ncom") + 2), comHex,
          lit("FFC0"), lit("000B"), lit("08"), beHex16(h), beHex16(w),
          lit("01"), lit("01"), lit("11"), lit("00"),
          lit("FFD9"))), text.cast("binary")).as("payload"))
  }

  /** REAL JPEG metadata: walk the marker/segment chain from SOI to the
    * first SOF frame header (C0–C3: baseline/extended/progressive/
    * lossless) and read the big-endian u16 height/width at payload
    * offsets 3/5 — the published JFIF structure, no codec jars. The walk
    * is per-row imperative logic, so it runs in `mapPartitions` (the
    * same harness a real decoder needs); malformed streams yield format
    * 'unknown' with null dimensions — at 100 TB a corrupt payload must
    * quarantine, not kill the scan. */
  def jpegMeta(withPayload: DataFrame): DataFrame = {
    implicit val enc = Encoders.product[JpegMeta]
    withPayload.select(col("media_id"), col("payload"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .mapPartitions { it =>
        it.map { case (id, p) =>
          def u8(i: Int): Int = p(i) & 0xff
          def u16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
          var width: Option[Long] = None
          var height: Option[Long] = None
          var ok = p.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8
          if (ok) {
            var i = 2
            var done = false
            while (!done && i + 1 < p.length) {
              if (u8(i) != 0xff) { ok = false; done = true }
              else u8(i + 1) match {
                case 0xff => i += 1                         // fill byte: markers
                                                            // may be 0xFF-padded
                case 0xd9 => done = true                    // EOI: no SOF seen
                case m if m == 0x01 || (m >= 0xd0 && m <= 0xd7) =>
                  i += 2                                    // standalone marker
                case m =>
                  if (i + 3 >= p.length) { ok = false; done = true }
                  else {
                    val segLen = u16(i + 2)
                    if (m >= 0xc0 && m <= 0xc3) {           // SOF0–SOF3
                      if (segLen >= 7 && i + 8 < p.length) {
                        height = Some(u16(i + 5).toLong)
                        width = Some(u16(i + 7).toLong)
                      } else ok = false
                      done = true
                    } else i += 2 + segLen
                  }
              }
            }
          }
          val found = ok && width.isDefined
          JpegMeta(id, p.length.toLong,
            if (found) "jpeg" else "unknown",
            if (found) width else None,
            if (found) height else None)
        }
      }.toDF()
  }

  // ---- REAL decode: genuine PNGs through javax.imageio --------------

  /** Closed-form pixel formula for the synthesized real PNGs. Dimensions
    * and channel values derive from (id, x, y) alone so the DuckDB
    * oracle can recompute exact per-channel pixel sums arithmetically:
    * w = id%29+4 ∈ [4,32], h = id%23+4 ∈ [4,26], and with x<32, y<26
    * every channel stays < 256 (no mod wrap → closed-form sums):
    * r = 3x+5y+(id+t)%7 ≤ 93+125+6, g = 2x+7y+(id+t)%11 ≤ 247,
    * b = x+4y+(id+t)%13 ≤ 143. `t` is the frame index (0 for stills). */
  private[graft] def formulaDims(id: Long): (Int, Int) =
    ((id % 29 + 4).toInt, (id % 23 + 4).toInt)
  private[graft] def formulaRgb(id: Long, t: Int, x: Int, y: Int): Int = {
    val r = 3 * x + 5 * y + ((id + t) % 7).toInt
    val g = 2 * x + 7 * y + ((id + t) % 11).toInt
    val b = x + 4 * y + ((id + t) % 13).toInt
    (r << 16) | (g << 8) | b
  }

  /** Encode one formula frame as a REAL PNG via `ImageIO.write`. */
  private def encodeFormulaPng(id: Long, t: Int): Array[Byte] = {
    val (w, h) = formulaDims(id)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, formulaRgb(id, t, x, y)); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Synthesize a REAL PNG payload per row — `ImageIO.write` over a
    * `BufferedImage` filled from the closed-form pixel formula. Runs in
    * `mapPartitions` (per-row imperative encode, codec shared per task);
    * downstream decode operators prove themselves against the oracle's
    * arithmetic replay of the same formula. */
  def synthesizeRealPng(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("media_id"))
      .as(Encoders.scalaLong)
      .mapPartitions { it => it.map(id => (id, encodeFormulaPng(id, 0))) }
      .toDF("media_id", "payload")
  }

  /** A "video" payload: `nFrames` complete PNG files concatenated —
    * the MJPEG pattern (independent per-frame stills back to back) with
    * PNG as the lossless per-frame codec. [[sampleFrames]] must find the
    * frame boundaries by genuinely walking the PNG chunk structure. */
  def synthesizeFrameStream(df: DataFrame, idCol: String, nFrames: Int): DataFrame = {
    require(nFrames > 0, s"frame count must be positive, got $nFrames")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("media_id"))
      .as(Encoders.scalaLong)
      .mapPartitions { it =>
        it.map { id =>
          val bos = new java.io.ByteArrayOutputStream()
          var t = 0
          while (t < nFrames) { bos.write(encodeFormulaPng(id, t)); t += 1 }
          (id, bos.toByteArray)
        }
      }.toDF("media_id", "payload")
  }

  /** Decoded-image stats: id, dims, exact per-channel pixel sums. */
  case class ImageStats(media_id: Long, format: String,
                        width: Option[Long], height: Option[Long],
                        sum_r: Option[Long], sum_g: Option[Long],
                        sum_b: Option[Long])

  private def statsOf(id: Long, img: java.awt.image.BufferedImage): ImageStats = {
    var (sr, sg, sb) = (0L, 0L, 0L)
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val p = img.getRGB(x, y)
        sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
        x += 1
      }
      y += 1
    }
    ImageStats(id, "png", Some(img.getWidth.toLong), Some(img.getHeight.toLong),
      Some(sr), Some(sg), Some(sb))
  }

  /** REAL image decode: `ImageIO.read` each payload and report exact
    * width/height/per-channel pixel sums. `mapPartitions` so a heavier
    * codec amortizes init per task; an unreadable payload quarantines as
    * format 'unknown' with null stats — at 100 TB a corrupt image must
    * never kill the scan. */
  def decodeImageStats(withPayload: DataFrame): Dataset[ImageStats] = {
    implicit val enc = Encoders.product[ImageStats]
    withPayload.select(col("media_id"), col("payload"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .mapPartitions { it =>
        it.map { case (id, p) =>
          val img = try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
                    catch { case _: Exception => null }
          if (img == null) ImageStats(id, "unknown", None, None, None, None, None)
          else statsOf(id, img)
        }
      }
  }

  /** Decoded luma moments: exact Σlum and Σlum² over BT.601 milli-luma
    * (299r + 587g + 114b — the [[perceptualHash]] weights). */
  case class LumaStats(media_id: Long, format: String,
                       n_pixels: Option[Long],
                       sum_lum: Option[Long], sum_lum2: Option[Long])

  /** REAL decode → luma MOMENTS: the quadratic companion of
    * [[decodeImageStats]]. Channel sums are linear, so a transposed or
    * re-ordered decode can cancel out of them; Σlum² is
    * position-sensitive through the value distribution, which is what
    * makes RMS contrast (n·Σl² − (Σl)²) a real image-quality signal and
    * a stricter decode grade. Exactness: lum ≤ 255,000 milli-units, so
    * Σl² fits BIGINT through ~10⁸ pixels per image — far past any
    * graded payload. Same quarantine contract as every decode operator:
    * unreadable payloads yield format 'unknown' with null stats. */
  def lumaStats(withPayload: DataFrame): Dataset[LumaStats] = {
    implicit val enc = Encoders.product[LumaStats]
    withPayload.select(col("media_id"), col("payload"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .mapPartitions { it =>
        it.map { case (id, p) =>
          val img = try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
                    catch { case _: Exception => null }
          if (img == null) LumaStats(id, "unknown", None, None, None)
          else {
            var (sl, sl2) = (0L, 0L)
            var y = 0
            while (y < img.getHeight) {
              var x = 0
              while (x < img.getWidth) {
                val px = img.getRGB(x, y)
                val l = 299L * ((px >> 16) & 0xff) +
                  587L * ((px >> 8) & 0xff) + 114L * (px & 0xff)
                sl += l; sl2 += l * l
                x += 1
              }
              y += 1
            }
            LumaStats(id, "png",
              Some(img.getWidth.toLong * img.getHeight),
              Some(sl), Some(sl2))
          }
        }
      }
  }

  /** Dominant quantized color of a decoded image — 2 bits per channel,
    * 64 buckets. */
  case class PaletteStats(media_id: Long, format: String,
                          width: Option[Long], height: Option[Long],
                          bucket: Option[Long], bucket_r: Option[Long],
                          bucket_g: Option[Long], bucket_b: Option[Long],
                          n_px: Option[Long])

  /** REAL decode → dominant-color extraction: quantize every pixel to a
    * 2-bit-per-channel bucket (`(r div 64)·16 + (g div 64)·4 + b div
    * 64`, 64 buckets) and report the argmax bucket with its pixel count
    * — the palette/thumbnail-color primitive of image curation (near-dup
    * triage, monochrome/flat-image filtering). A histogram is
    * position-BLIND but value-distribution-strict, so it grades decode
    * through a different projection than the linear channel sums
    * ([[decodeImageStats]]) or the quadratic luma moment
    * ([[lumaStats]]): any per-pixel value error moves some pixel across
    * a bucket boundary. Ties break to the SMALLEST bucket id
    * (deterministic, oracle-replayable). Per-image state is a fixed
    * 64-slot histogram — scan-speed, no shuffle; the quarantine
    * contract matches every decode operator (unreadable → 'unknown',
    * null stats). */
  def dominantColor(withPayload: DataFrame): Dataset[PaletteStats] = {
    implicit val enc = Encoders.product[PaletteStats]
    withPayload.select(col("media_id"), col("payload"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .mapPartitions { it =>
        it.map { case (id, p) =>
          val img = try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
                    catch { case _: Exception => null }
          if (img == null)
            PaletteStats(id, "unknown", None, None, None, None, None, None, None)
          else {
            val hist = new Array[Long](64)
            var y = 0
            while (y < img.getHeight) {
              var x = 0
              while (x < img.getWidth) {
                val px = img.getRGB(x, y)
                val b = (((px >> 16) & 0xff) / 64) * 16 +
                  (((px >> 8) & 0xff) / 64) * 4 + ((px & 0xff) / 64)
                hist(b) += 1L
                x += 1
              }
              y += 1
            }
            var best = 0
            var i = 1
            while (i < 64) { if (hist(i) > hist(best)) best = i; i += 1 }
            PaletteStats(id, "png",
              Some(img.getWidth.toLong), Some(img.getHeight.toLong),
              Some(best.toLong), Some((best / 16).toLong),
              Some((best / 4 % 4).toLong), Some((best % 4).toLong),
              Some(hist(best)))
          }
        }
      }
  }

  /** REAL resize: decode with `ImageIO.read`, nearest-neighbor scale to
    * `width`×`height` (source pixel = (x·w)/W, (y·h)/H, floor — the
    * documented mapping the oracle replays), re-encode with
    * `ImageIO.write` as PNG. The graded query decodes the RE-ENCODED
    * payload again, so the whole decode→scale→encode→decode chain must
    * be lossless. Unreadable payloads pass through null (quarantine). */
  def resize(withPayload: DataFrame, width: Int, height: Int): DataFrame = {
    require(width > 0 && height > 0, s"target dims must be positive: $width x $height")
    val spark = withPayload.sparkSession
    import spark.implicits._
    withPayload.select(col("media_id"), col("payload"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .mapPartitions { it =>
        it.map { case (id, p) =>
          val img = try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
                    catch { case _: Exception => null }
          if (img == null) (id, null: Array[Byte])
          else {
            val out = new java.awt.image.BufferedImage(
              width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < height) {
              val sy = y * img.getHeight / height
              var x = 0
              while (x < width) {
                out.setRGB(x, y, img.getRGB(x * img.getWidth / width, sy))
                x += 1
              }
              y += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(out, "png", bos)
            (id, bos.toByteArray)
          }
        }
      }.toDF("media_id", "payload")
  }

  /** Per-frame decoded stats ([[sampleFrames]]): `src_frame` is which of
    * the stream's frames this sample came from. */
  case class FrameStats(media_id: Long, frame_idx: Int, src_frame: Int,
                        width: Long, height: Long,
                        sum_r: Long, sum_g: Long, sum_b: Long)

  /** Split a concatenated-PNG stream into complete per-frame byte
    * ranges by WALKING the published PNG structure: 8-byte signature,
    * then chunks of (u32-BE length, 4-byte type, data, 4-byte CRC)
    * until IEND closes the frame. Stops cleanly at a malformed tail. */
  private[graft] def pngFrameRanges(p: Array[Byte]): Seq[(Int, Int)] = {
    def u32(i: Int): Long =
      ((p(i) & 0xffL) << 24) | ((p(i + 1) & 0xffL) << 16) |
        ((p(i + 2) & 0xffL) << 8) | (p(i + 3) & 0xffL)
    val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var i = 0
    var ok = true
    while (ok && i + 8 <= p.length) {
      ok = (0 until 8).forall(k => (p(i + k) & 0xff) == sig(k))
      if (ok) {
        val start = i
        var j = i + 8
        var closed = false
        while (ok && !closed) {
          if (j + 8 > p.length) ok = false
          else {
            val len = u32(j)
            val typ = new String(p, j + 4, 4, "US-ASCII")
            val next = j + 8 + len.toInt + 4
            if (len > Int.MaxValue - 16 || next > p.length) ok = false
            else { if (typ == "IEND") closed = true; j = next }
          }
        }
        if (ok) { out += ((start, j)); i = j }
      }
    }
    out.toSeq
  }

  /** REAL frame sampling: walk the concatenated-PNG stream's chunk
    * structure to index the frames, pick `n` evenly spaced ones
    * (src = ⌊i·T/n⌋ — a video pipeline's keyframe stride), decode each
    * with `ImageIO.read`, and emit one decoded-stats row per sampled
    * frame — the one-row-per-frame shape downstream training pipelines
    * consume. Malformed streams simply yield fewer (or zero) frames. */
  def sampleFrames(withPayload: DataFrame, n: Int): Dataset[FrameStats] = {
    require(n > 0, s"frame count must be positive, got $n")
    implicit val enc = Encoders.product[FrameStats]
    withPayload.select(col("media_id"), col("payload"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .mapPartitions { it =>
        it.flatMap { case (id, p) =>
          val ranges = pngFrameRanges(p)
          val total = ranges.length
          (0 until (n min total)).iterator.flatMap { k =>
            val src = k * total / n
            val (s0, e0) = ranges(src)
            val img = try javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(p.slice(s0, e0)))
            catch { case _: Exception => null }
            if (img == null) None
            else {
              val st = statsOf(id, img)
              Some(FrameStats(id, k, src, st.width.get, st.height.get,
                st.sum_r.get, st.sum_g.get, st.sum_b.get))
            }
          }
        }
      }
  }

  /** Per-partition batched feature extraction over REAL decoded pixels:
    * `ImageIO.read`, then a `dim`-bin luminance histogram (bin =
    * ⌊(r+g+b)/3⌋·dim/256 — integer counts, so the vector is exact and
    * oracle-replayable). `mapPartitions` (not a per-row UDF) so the
    * decoder amortizes init per task — the Pandas-UDF batch-inference
    * shape, expressed natively in Scala. Undecodable payloads emit an
    * all-zero vector with n_pixels 0 (quarantine). */
  def extractFeatures(withPayload: DataFrame,
                      dim: Int = 16): Dataset[MediaFeatures] = {
    require(dim > 0 && dim <= 256, s"histogram dim must be in [1,256], got $dim")
    implicit val enc = Encoders.product[MediaFeatures]
    withPayload.select(col("media_id"), col("payload"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .mapPartitions { it =>
        it.map { case (id, p) =>
          val img = try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
                    catch { case _: Exception => null }
          val hist = new Array[Float](dim)
          var np = 0
          if (img != null) {
            np = img.getWidth * img.getHeight
            var y = 0
            while (y < img.getHeight) {
              var x = 0
              while (x < img.getWidth) {
                val px = img.getRGB(x, y)
                val luma = (((px >> 16) & 0xff) + ((px >> 8) & 0xff) + (px & 0xff)) / 3
                hist(luma * dim / 256) += 1f
                x += 1
              }
              y += 1
            }
          }
          MediaFeatures(id, np, hist)
        }
      }
  }

  /** dHash output: 56 gradient-sign bits packed into one BIGINT (7
    * horizontal comparisons × 8 rows — 56 < 63 keeps the pack inside a
    * signed long in BOTH engines; a 64-bit pack would overflow DuckDB's
    * checked BIGINT `<<`). Null on undecodable payloads (quarantine). */
  case class PHash(media_id: Long, phash: Option[Long], n_ones: Option[Int])

  /** Difference-hash (dHash) perceptual image fingerprint over REAL
    * decoded pixels: `ImageIO.read`, nearest-neighbor sample an 8×8
    * luminance grid (the same floor mapping as [[resize]]: source pixel
    * (x·W)/8, (y·H)/8), luma in exact integer milli-weights
    * (299R + 587G + 114B — the BT.601 coefficients ×1000, no floats
    * anywhere), then one sign bit per horizontal neighbor pair. Two
    * images within a few bits of Hamming distance are visually
    * near-identical under crops/rescales/re-encodes — the image-side
    * analogue of SimHash for text, and the standard first pass of
    * image dedup in multimodal training pipelines.
    *
    * `mapPartitions` for decoder amortization; the whole pipeline is
    * integer, so the hash is exactly replayable from the synthesized
    * pixel formula by the SQL oracle. */
  def perceptualHash(withPayload: DataFrame): Dataset[PHash] = {
    implicit val enc = Encoders.product[PHash]
    withPayload.select(col("media_id"), col("payload"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .mapPartitions { it =>
        it.map { case (id, p) =>
          val img = try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
                    catch { case _: Exception => null }
          if (img == null) PHash(id, None, None)
          else {
            val w = img.getWidth
            val h = img.getHeight
            val lum = Array.ofDim[Long](8, 8)
            var y = 0
            while (y < 8) {
              val sy = y * h / 8
              var x = 0
              while (x < 8) {
                val px = img.getRGB(x * w / 8, sy)
                lum(y)(x) = 299L * ((px >> 16) & 0xff) +
                  587L * ((px >> 8) & 0xff) + 114L * (px & 0xff)
                x += 1
              }
              y += 1
            }
            var hash = 0L
            var ones = 0
            y = 0
            while (y < 8) {
              var x = 0
              while (x < 7) {
                if (lum(y)(x + 1) > lum(y)(x)) {
                  hash |= 1L << (y * 7 + x); ones += 1
                }
                x += 1
              }
              y += 1
            }
            PHash(id, Some(hash), Some(ones))
          }
        }
      }
  }

  /** Near-duplicate image pairs by perceptual hash: candidates share at
    * least one of the hash's 7 bytes (pigeonhole: Hamming ≤ `maxHamming`
    * ≤ 6 over 56 bits forces ≥ 1 equal byte — the SimHash byte-band
    * recipe on the image side), verified with an exact `bit_count` of
    * the XOR. The band equi-join keeps candidate generation linear in
    * the bucket sizes — never an all-pairs cross join; undecodable
    * (null-hash) rows drop out before banding. */
  def phashNearDupPairs(hashes: DataFrame, maxHamming: Int = 6): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 6,
      s"maxHamming must be in [0,6] — 7 bands over 56 bits only " +
        s"pigeonhole-guarantee distance <= 6, got $maxHamming")
    val h = hashes.filter(col("phash").isNotNull)
      .select(col("media_id"), col("phash"))
    val banded = h.select(col("media_id"), col("phash"),
        explode(array((0 until 7).map(b =>
          struct(lit(b).as("band"),
            pmod(shiftright(col("phash"), b * 8), lit(256L)).as("bk"))): _*))
          .as("s"))
      .select(col("media_id"), col("phash"), col("s.band"), col("s.bk"))
    banded.alias("a").join(banded.alias("b"),
        col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"),
        bit_count(col("a.phash").bitwiseXOR(col("b.phash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }
}
