package graft.operators

import org.apache.spark.sql.Dataset

import graft.operators.Multimodal.MediaRow

/** REAL audio operators on the JDK codec (`javax.sound.sampled` ships
  * with the JVM — WAV/AIFF/AU PCM): the audio half of the multimodal
  * tier, mirroring [[Multimodal.ImageIoDecoder]]'s posture — honest
  * decoding where the platform provides it, per-partition batch
  * processing, payloads never leaving the executor, corrupt media
  * marking itself instead of killing the stage.
  *
  * The per-document features are the standard audio-corpus quality
  * gates a speech-dataset pipeline filters on: duration bounds, RMS /
  * peak level (too-quiet recordings), clipping ratio (distorted
  * sources), silence ratio (dead air), zero-crossing rate (crude
  * speech/tone/noise discrimination). The windowed op is the audio
  * analogue of [[Multimodal.sampleFrames]]: fixed-length windows with
  * per-window energy, which is what silence-gated segment sampling
  * ("keep the voiced parts of 100 TB of audio") runs on.
  *
  * Both ops share ONE decode path ([[Pcm]]): 8/16-bit, signed and
  * unsigned, either endianness — so a document either decodes for
  * every operator or for none (a format accepted by `features` but
  * silently dropped by `windows` would un-mark media the pipeline
  * believes it is tracking).
  */
object Audio {

  /** Decoded PCM: normalized channel-addressable samples plus the
    * format facts the features need. `clipThreshold` is per-format:
    * integer PCM's positive rail is (2^(bits-1) − 1)/2^(bits-1) — for
    * 8-bit that is 0.992, so a fixed 0.999 cut would never see
    * positive-side clipping on 8-bit sources.
    */
  private final case class Pcm(
      sampleRate: Float, channels: Int, bits: Int, nFrames: Int,
      sample: (Int, Int) => Double, clipThreshold: Double)

  /** The JVM's audio file readers, resolved ONCE. Going through
    * `AudioSystem.getAudioInputStream` instead re-runs provider
    * discovery on EVERY call, and that path serializes under
    * concurrency — measured 0.07 ms/payload single-threaded but ~3.5
    * ms/payload effective across 32 decode threads (50k tiny WAVs:
    * 5.4 s wall where the pure decode work is ~2 CPU-seconds). The
    * readers themselves are stateless; `ServiceLoader` at class-init
    * + direct dispatch restores linear scaling (same providers, same
    * public SPI, same accepted formats).
    */
  private lazy val fileReaders: Seq[javax.sound.sampled.spi.AudioFileReader] = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader])
      .iterator().asScala.toSeq
  }

  /** Last reader that accepted a payload (volatile hint, not a lock):
    * a corpus is overwhelmingly one container format, so steady-state
    * opens hit the right reader first and throw ZERO exceptions —
    * wrong-reader `UnsupportedAudioFileException`s per record are pure
    * overhead and their stack-trace fill is what dominated tiny-file
    * decode profiles.
    */
  @volatile private var preferredReader: javax.sound.sampled.spi.AudioFileReader = _

  private def openAudioStream(
      payload: Array[Byte]): javax.sound.sampled.AudioInputStream = {
    val pref = preferredReader
    if (pref != null) {
      try return pref.getAudioInputStream(new java.io.ByteArrayInputStream(payload))
      catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => ()
        case _: java.io.IOException => ()
      }
    }
    fileReaders.foreach { r =>
      if (r ne pref) {
        try {
          val in = r.getAudioInputStream(new java.io.ByteArrayInputStream(payload))
          preferredReader = r
          return in
        } catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException => ()
          case _: java.io.IOException => ()
        }
      }
    }
    throw new javax.sound.sampled.UnsupportedAudioFileException(
      "no installed reader accepts the payload")
  }

  private def decodePcm(payload: Array[Byte]): Option[Pcm] =
    try {
      val in = openAudioStream(payload)
      try {
        val fmt = in.getFormat
        val signed = fmt.getEncoding ==
          javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
        val unsigned = fmt.getEncoding ==
          javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED
        val bits = fmt.getSampleSizeInBits
        val ch = fmt.getChannels
        if ((!signed && !unsigned) || (bits != 8 && bits != 16) || ch < 1) None
        else {
          val bytes = in.readAllBytes()
          val bytesPerSample = bits / 8
          val frameBytes = bytesPerSample * ch
          val nFrames = bytes.length / frameBytes
          if (nFrames == 0) None
          else {
            val full = (1 << (bits - 1)).toDouble // 128 / 32768
            val bigEndian = fmt.isBigEndian
            val sample: (Int, Int) => Double = (frame, c) => {
              val off = frame * frameBytes + c * bytesPerSample
              val raw =
                if (bits == 8) {
                  if (unsigned) (bytes(off) & 0xff) - 128
                  else bytes(off).toInt
                } else {
                  val hiB = if (bigEndian) bytes(off) else bytes(off + 1)
                  val loB = if (bigEndian) bytes(off + 1) else bytes(off)
                  // unsigned: BOTH bytes masked (a sign-extended high
                  // byte maps half the range to [-2,-1)); signed: the
                  // high byte's sign extension IS the sample sign
                  if (unsigned) (((hiB & 0xff) << 8) | (loB & 0xff)) - 32768
                  else (hiB << 8) | (loB & 0xff)
                }
              raw / full
            }
            Some(Pcm(fmt.getSampleRate, ch, bits, nFrames, sample,
              clipThreshold = (full - 1.0) / full))
          }
        }
      } finally in.close()
    } catch { case _: Exception => None }

  /** Deterministic 8-bit unsigned mono WAV fixture from ASCII text:
    * a real RIFF/WAVE PCM header followed by the text's bytes with
    * every ODD position flipped to `255 - b`. Printable ASCII is
    * < 0x7f, so even positions land below the unsigned midline
    * (negative samples) and odd positions above it (positive) — the
    * decoded signal alternates sign every sample, giving the fixture
    * nonzero zero-crossing and windowed-energy structure that a SQL
    * oracle can restate per character (`sample(i) = (ascii_i - 128) /
    * 128` even, `(127 - ascii_i) / 128` odd). Only the payload
    * SYNTHESIS is a fixture: the m06/m07 queries decode it through the
    * real [[decodePcm]] path (header parse, unsigned-PCM mapping,
    * window accumulation), exactly as AudioSpec's signals do.
    */
  def wavFixture(text: String, sampleRate: Int = 8000): Array[Byte] = {
    val data = text.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    var i = 1
    while (i < data.length) { data(i) = (255 - (data(i) & 0xff)).toByte; i += 2 }
    val buf = java.nio.ByteBuffer.allocate(44 + data.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + data.length)
    buf.put("WAVE".getBytes("US-ASCII")).put("fmt ".getBytes("US-ASCII"))
    buf.putInt(16).putShort(1).putShort(1) // PCM, mono
    buf.putInt(sampleRate).putInt(sampleRate) // byteRate = rate·1ch·1B
    buf.putShort(1).putShort(8) // blockAlign, bits
    buf.put("data".getBytes("US-ASCII")).putInt(data.length).put(data)
    buf.array()
  }

  /** Per-document audio features. `decoded=false` rows carry zeros —
    * exclude them before thresholding (same contract as the image
    * decoder's marker rows).
    *
    * Semantics: samples are normalized to [-1, 1]; multi-channel
    * audio is analyzed per-sample across all channels (levels and
    * clipping care about any channel; ZCR uses channel 0).
    */
  case class AudioFeatures(
      doc_id: Long,
      decoded: Boolean,
      sample_rate: Int,
      channels: Int,
      bits: Int,
      n_samples: Long, // per channel
      duration_ms: Long,
      rms: Double,
      peak: Double,
      clipped_ratio: Double, // fraction of samples at the format's rails
      silence_ratio: Double, // fraction of 20 ms windows under -40 dBFS RMS
      zero_crossing_rate: Double) // crossings per second, channel 0

  private val SilenceRms = math.pow(10.0, -40.0 / 20.0) // -40 dBFS

  /** Decode + featurize per partition (one decode pass per record). */
  def features(media: Dataset[MediaRow]): Dataset[AudioFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(rows => rows.map(featuresOf))
  }

  private def featuresOf(r: MediaRow): AudioFeatures =
    decodePcm(r.payload) match {
      case None => AudioFeatures(r.doc_id, decoded = false,
        0, 0, 0, 0L, 0L, 0.0, 0.0, 0.0, 0.0, 0.0)
      case Some(p) =>
        var sumSq = 0.0
        var peak = 0.0
        var clipped = 0L
        var crossings = 0L
        var prevSign = 0
        // 20 ms silence windows on channel-0 energy
        val winLen = math.max(1, (p.sampleRate * 0.02).toInt)
        var winSumSq = 0.0
        var winN = 0
        var silentWins = 0L
        var totalWins = 0L
        var f = 0
        while (f < p.nFrames) {
          // channel 0 decoded once, reused for levels AND zcr/silence
          val s0 = p.sample(f, 0)
          var c = 0
          while (c < p.channels) {
            val s = if (c == 0) s0 else p.sample(f, c)
            val a = math.abs(s)
            sumSq += s * s
            if (a > peak) peak = a
            if (a >= p.clipThreshold) clipped += 1
            c += 1
          }
          val sign = if (s0 > 0) 1 else if (s0 < 0) -1 else prevSign
          if (prevSign != 0 && sign != 0 && sign != prevSign) crossings += 1
          if (sign != 0) prevSign = sign
          winSumSq += s0 * s0
          winN += 1
          if (winN == winLen) {
            totalWins += 1
            if (math.sqrt(winSumSq / winN) < SilenceRms) silentWins += 1
            winSumSq = 0.0
            winN = 0
          }
          f += 1
        }
        if (winN > 0) { // tail window
          totalWins += 1
          if (math.sqrt(winSumSq / winN) < SilenceRms) silentWins += 1
        }
        val n = p.nFrames.toLong * p.channels
        AudioFeatures(r.doc_id, decoded = true,
          p.sampleRate.toInt, p.channels, p.bits, p.nFrames.toLong,
          duration_ms = (p.nFrames * 1000.0 / p.sampleRate).round,
          rms = math.sqrt(sumSq / n), peak = peak,
          clipped_ratio = clipped.toDouble / n,
          silence_ratio =
            if (totalWins == 0) 0.0 else silentWins.toDouble / totalWins,
          zero_crossing_rate =
            crossings.toDouble * p.sampleRate / p.nFrames)
    }

  /** One analysis window sliced from a document's audio. */
  case class AudioWindow(
      doc_id: Long, window_idx: Long, start_ms: Long,
      rms: Double, voiced: Boolean)

  /** Windowed energy over channel 0 — the audio analogue of
    * [[Multimodal.sampleFrames]], and the substrate of silence-gated
    * segment sampling: `windows(...).filter(_.voiced)` keeps the
    * audible parts of a corpus with per-window cost independent of
    * document length (output rows ∝ duration / stepMs). `voiced` =
    * window RMS above -40 dBFS.
    *
    * Decodes exactly the formats [[features]] decodes (shared
    * [[decodePcm]]), and a document SHORTER than one window emits a
    * single window over its full length — a decodable document always
    * yields ≥ 1 row here, so silence gating can never silently drop
    * media that the feature gates passed. Undecodable payloads emit
    * nothing (the features marker row is the corrupt-media signal).
    */
  /** 2× linear-interpolation upsample on the EXACT integer grid — the
    * sample-rate-normalization step every audio training pipeline runs
    * before featurization (all clips to one rate; 2× is the integral
    * ratio whose interpolant needs no windowed filter). Midpoints are
    * emitted as integer NUMERATORS over 2·2^(bits−1): out[2i] = 2·kᵢ,
    * out[2i+1] = kᵢ + kᵢ₊₁ — every value an exact int64, so the
    * per-doc digest (md5 of the comma-joined sequence) and energy sums
    * are bit-stable cross-engine, the PageRank discipline applied to
    * DSP. Decode runs through the real [[decodePcm]] path per
    * partition (the media mapPartitions exception); payloads never
    * shuffle — only the 7-column audit row leaves the executor.
    *
    * `decoded=false` rows (payload did not decode) carry zeros and the
    * empty-sequence digest, keeping the row-per-input contract of
    * [[features]].
    */
  case class Resampled(
      doc_id: Long,
      decoded: Boolean,
      n_in: Long,
      n_out: Long, // 2·n_in − 1
      sum_abs: Long, // Σ |out_j|, exact
      sum_sq: Long, // Σ out_j², exact
      digest: String) // md5 of the comma-joined out sequence

  def resample2x(media: Dataset[MediaRow]): Dataset[Resampled] = {
    import media.sparkSession.implicits._
    media.mapPartitions(rows => rows.map(resampleOf))
  }

  private[graft] def resampleOf(r: MediaRow): Resampled = {
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    decodePcm(r.payload) match {
      case None => Resampled(r.doc_id, decoded = false, 0L, 0L, 0L, 0L,
        md5Hex(""))
      case Some(p) =>
        val full = (1 << (p.bits - 1)).toDouble
        val n = p.nFrames
        // channel-0 integer numerators: sample() is raw/full with raw
        // integral, so the product is exact
        val k = Array.tabulate(n)(i => math.rint(p.sample(i, 0) * full).toLong)
        val sb = new StringBuilder
        var sumAbs = 0L
        var sumSq = 0L
        var j = 0
        val nOut = 2 * n - 1
        while (j < nOut) {
          val v = if (j % 2 == 0) 2L * k(j / 2) else k(j / 2) + k(j / 2 + 1)
          sumAbs += math.abs(v)
          sumSq += v * v
          if (j > 0) sb.append(',')
          sb.append(v)
          j += 1
        }
        Resampled(r.doc_id, decoded = true, n.toLong, nOut.toLong,
          sumAbs, sumSq, md5Hex(sb.toString))
    }
  }

  def windows(media: Dataset[MediaRow], windowMs: Int = 200,
      stepMs: Int = 100): Dataset[AudioWindow] = {
    require(windowMs > 0 && stepMs > 0, "windowMs/stepMs must be positive")
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        decodePcm(r.payload) match {
          case None => Iterator.empty
          case Some(p) =>
            val win = math.min(p.nFrames,
              math.max(1, (p.sampleRate * windowMs / 1000).toInt))
            val step = math.max(1, (p.sampleRate * stepMs / 1000).toInt)
            Iterator.range(0, p.nFrames - win + 1, step)
              .zipWithIndex.map { case (start, idx) =>
                var sumSq = 0.0
                var f = start
                while (f < start + win) {
                  val s = p.sample(f, 0)
                  sumSq += s * s
                  f += 1
                }
                val rms = math.sqrt(sumSq / win)
                AudioWindow(r.doc_id, idx.toLong,
                  (start * 1000.0 / p.sampleRate).round,
                  rms, voiced = rms >= SilenceRms)
              }
        }
      }
    }
  }
}
