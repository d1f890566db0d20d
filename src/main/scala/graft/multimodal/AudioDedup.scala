package graft.multimodal

import org.apache.spark.sql.DataFrame

import graft.dedup.PerceptualDedup
import graft.dedup.PerceptualDedup.Fingerprint
import Multimodal.{MediaCounters, fingerprintPass}

/** Perceptual AUDIO deduplication over REAL decoded samples — the audio
  * sibling of [[ImageDedup]]: a 64-bit fingerprint from the decoded PCM's
  * peak-normalized energy envelope plus per-segment zero-crossing rates
  * (the crude-but-classic spectral proxy), so uniform volume changes and
  * container re-encodes map to the same hash while different tones and
  * rhythms land apart. The part fingerprint hashes fixed-length WINDOWS,
  * which re-align after trims and silence padding.
  *
  * This object holds the decode seam, the fingerprint kernels and their
  * map-only passes; every dedup face is an adapter onto
  * [[graft.dedup.PerceptualDedup]]. Faces returning a frame follow the
  * [[graft.dedup.Cached]] contract.
  */
object AudioDedup {

  /** Fingerprint FORMAT version: bump whenever [[fingerprint64]]'s bit
    * layout changes, so persisted hash stores can refuse mixed-version
    * admission instead of silently re-admitting previously-deduped
    * content. v1 = binary envelope/ZCR buckets; v2 = GRAY-coded buckets
    * (±1 bucket = 1 Hamming bit). Stores written under v1 must be
    * rebuilt. */
  val fingerprintFormatVersion: Int = 2

  private val Segments = 8

  /** 64-bit fingerprint of a decoded 16-bit PCM stream: per segment
    * (8 of them), 3 bits of peak-normalized mean |amplitude| and 5 bits
    * of zero-crossing rate (linear bucket ~12.5 crossings/1000-frames
    * wide — resolves 50 Hz pitch steps at 8 kHz). Deterministic integer
    * output; invariant to uniform volume scaling (the envelope
    * normalizes, the crossings don't move). */
  def fingerprint64(payload: Array[Byte]): Long = {
    val samples = decodeMono(payload)
    fingerprintSamples(samples, 0, samples.length)
  }

  /** Decode a payload to mono PCM samples (mean over channels).
    * Counts ONE decode in [[MediaCounters.audioReads]]. */
  private[multimodal] def decodeMono(payload: Array[Byte]): Array[Int] =
    decodeMonoWithRate(payload)._1

  /** Open an audio payload and NORMALIZE its wire coding to 16-bit
    * LITTLE-endian interleaved sample bytes: G.711 telephony WAVs
    * (A-law/µ-law) expand by table arithmetic, IMA/MS ADPCM WAVs
    * block-decode ([[Adpcm]]), FLAC streams losslessly decode
    * ([[Flac]]), 8-bit PCM rescales (unsigned per the WAV
    * convention), big-endian 16-bit byte-swaps;
    * other codings (float PCM, MP3 plugins) refuse loudly. Returns
    * (sample bytes, channels, sample rate) — the single decode seam
    * every audio face shares, so a new wire coding lights them all up
    * at once. Does NOT count a decode; callers own their counters. */
  private[multimodal] def openNormalized16(
      payload: Array[Byte]): (Array[Byte], Int, Float) = {
    // ADPCM WAVs first (wFormatTag 0x0002/0x0011): the JDK reader
    // refuses those tags, so the RIFF sniff + block decode live in
    // [[Adpcm]]; every other payload falls through to AudioSystem
    Adpcm.sniffWav(payload) match {
      case Some(w) => return Adpcm.decodeWav(w)
      case None => ()
    }
    // FLAC streams: the integer-predictive decode lives in [[Flac]]
    // (the JDK has no FLAC SPI); 8-bit samples rescale to the 16-bit
    // norm like 8-bit PCM does
    if (Flac.isFlac(payload)) {
      val (samples, channels, rate, bits) = Flac.decode(payload)
      val out = new Array[Byte](samples.length * 2)
      var i = 0
      while (i < samples.length) {
        val v = if (bits == 8) samples(i) << 8 else samples(i)
        out(2 * i) = (v & 0xff).toByte
        out(2 * i + 1) = ((v >> 8) & 0xff).toByte
        i += 1
      }
      return (out, channels, rate.toFloat)
    }
    val in = try javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(payload))
    catch {
      case e: javax.sound.sampled.UnsupportedAudioFileException =>
        throw new IllegalArgumentException(
          "payload is not a decodable audio stream", e)
    }
    try {
      val fmt = in.getFormat
      val enc = fmt.getEncoding
      import javax.sound.sampled.AudioFormat.Encoding._
      val bytes =
        if (enc == ALAW || enc == ULAW) {
          require(fmt.getSampleSizeInBits == 8,
            s"${fmt.getSampleSizeInBits}-bit G.711 is not a valid coding")
          G711.expand(in.readAllBytes(), alaw = enc == ALAW)
        } else if (enc == PCM_UNSIGNED && fmt.getSampleSizeInBits == 8) {
          val raw = in.readAllBytes()
          val out = new Array[Byte](raw.length * 2)
          var i = 0
          while (i < raw.length) {
            val v = ((raw(i) & 0xff) - 128) << 8
            out(2 * i) = (v & 0xff).toByte
            out(2 * i + 1) = ((v >> 8) & 0xff).toByte
            i += 1
          }
          out
        } else {
          require(enc == PCM_SIGNED && fmt.getSampleSizeInBits == 16,
            s"${fmt.getSampleSizeInBits}-bit $enc unsupported (16-bit " +
              "signed PCM, 8-bit unsigned PCM and G.711 A-law/µ-law " +
              "decode; float/compressed codings refuse loudly)")
          val raw = in.readAllBytes()
          if (fmt.isBigEndian) {
            var i = 0
            while (i + 1 < raw.length) {
              val t = raw(i); raw(i) = raw(i + 1); raw(i + 1) = t
              i += 2
            }
          }
          raw
        }
      (bytes, fmt.getChannels, fmt.getSampleRate)
    } finally in.close()
  }

  /** [[decodeMono]] plus the stream's frame rate — composed passes
    * that also gate on duration need it without a second decode. */
  private[multimodal] def decodeMonoWithRate(
      payload: Array[Byte]): (Array[Int], Float) = {
    MediaCounters.audioReads.incrementAndGet(): Unit
    val (bytes, channels, rate) = openNormalized16(payload)
    val nFrames = bytes.length / 2 / channels
    require(nFrames > 0, "empty audio stream")
    val out = new Array[Int](nFrames)
    var f = 0
    while (f < nFrames) {
      // mean over channels, mono-ized
      var acc = 0L
      var c = 0
      while (c < channels) {
        val i = (f * channels + c) * 2
        acc += ((bytes(i) & 0xff) | (bytes(i + 1) << 8)).toShort
        c += 1
      }
      out(f) = (acc / channels).toInt
      f += 1
    }
    (out, rate)
  }

  /** The 8-segment envelope/ZCR fingerprint over samples [from, until)
    * — bit-identical to the pre-refactor whole-clip loop when applied
    * to the full range (fingerprint format v2; any change here is a
    * format bump). */
  private[multimodal] def fingerprintSamples(samples: Array[Int],
                                             from: Int, until: Int): Long = {
    val n = until - from
    require(n > 0, "empty sample window")
    val sumAbs = new Array[Long](Segments)
    val counts = new Array[Long](Segments)
    val crossings = new Array[Int](Segments)
    var lastSign = 0
    var f = 0
    while (f < n) {
      val s = samples(from + f)
      val seg = math.min(Segments - 1, f * Segments / n)
      sumAbs(seg) += math.abs(s)
      counts(seg) += 1
      val sign = Integer.signum(s)
      if (sign != 0) {
        if (lastSign != 0 && sign != lastSign) crossings(seg) += 1
        lastSign = sign
      }
      f += 1
    }
    val means = Array.tabulate(Segments)(i =>
      if (counts(i) == 0) 0L else sumAbs(i) / counts(i))
    val peak = math.max(means.max, 1L)
    // bucket values are GRAY-coded: adjacent buckets differ in exactly
    // one bit, so a 1-bucket drift (a slight detune, a level nudge at
    // a quantization boundary) costs 1 Hamming bit instead of up to 4
    // at binary carry boundaries (7 -> 8 flips all four low bits) —
    // the property the banded near-dup pairing depends on
    def gray(b: Long): Long = b ^ (b >>> 1)
    var bits = 0L
    var i = 0
    while (i < Segments) {
      val env = gray(((means(i) * 7) / peak) & 0x7L)
      // crossings-per-1000-frames in linear 10-wide buckets (5 bits) —
      // a pitch proxy stable under volume scaling
      val rate = if (counts(i) == 0) 0L
        else crossings(i).toLong * 1000L / counts(i)
      val zc = gray(math.min(31L, rate / 10))
      bits |= (env << (i * 8)) | (zc << (i * 8 + 3))
      i += 1
    }
    bits
  }

  private[multimodal] val ahash =
    Fingerprint("audio", "ahash", "audio-dedup", hashAudio)
  private def windows(windowFrames: Int, hopFrames: Int,
                      silenceFloor: Long) = Fingerprint("audio", "whash",
    "audio-windows", hashWindows(_, windowFrames, hopFrames, silenceFloor),
    Seq("window_idx"))

  /** Map-only hash pass: (media_id, ahash), one PCM decode per record. */
  def hashAudio(media: DataFrame): DataFrame =
    fingerprintPass(media, "audio", "media_id", "ahash")(r =>
      Iterator.single((r.media_id, fingerprint64(r.payload))))

  /** Map-only WINDOW pass — the SHIFT-TOLERANT fingerprint: (media_id,
    * window_idx, whash), whash = the envelope/ZCR fingerprint of frames
    * [idx*hop, idx*hop+windowFrames). Fixed-duration windows re-align
    * after any hop-multiple shift, where the whole-clip fingerprint's 8
    * clip-spanning segments all re-bucket. Windows with mean |amplitude|
    * below `silenceFloor` are DROPPED (silence would pair every padded
    * clip with every other), as is a trailing partial window. One PCM
    * decode per clip. */
  def hashWindows(media: DataFrame, windowFrames: Int, hopFrames: Int,
                  silenceFloor: Long = 100L): DataFrame = {
    require(windowFrames >= Segments,
      s"windowFrames=$windowFrames must be >= $Segments")
    require(hopFrames >= 1 && hopFrames <= windowFrames,
      s"hopFrames=$hopFrames not in [1, windowFrames]")
    fingerprintPass(media, "audio", "media_id", "window_idx", "whash") { r =>
      val samples = decodeMono(r.payload)
      val lastStart = samples.length - windowFrames
      val nWindows = if (lastStart < 0) 0 else lastStart / hopFrames + 1
      Iterator.range(0, nWindows).flatMap { w =>
        val from = w * hopFrames
        val until = from + windowFrames
        var sum = 0L
        var i = from
        while (i < until) { sum += math.abs(samples(i)); i += 1 }
        if (sum / windowFrames < silenceFloor) None
        else Some((r.media_id, w, fingerprintSamples(samples, from, until)))
      }
    }
  }

  /** Exact dedup: (media_id, ahash, group_rep), group_rep = min media_id
    * sharing the fingerprint. */
  def exactGroups(media: DataFrame): DataFrame =
    PerceptualDedup.exactGroups(media, ahash)

  /** O(batch) admission against a committed fingerprint store (one
    * string column `h`) through the shared Bloom path. */
  def incrementalSurvivors(batch: DataFrame, committedHashes: DataFrame,
                           fpp: Double = 0.01): DataFrame =
    PerceptualDedup.incrementalSurvivors(batch, committedHashes, ahash, fpp)

  /** Near-dup pairs (id_a, id_b, hamming), id_a < id_b, among
    * (media_id, ahash) rows — a detuned or re-leveled copy moves a
    * handful of Gray-coded bits. */
  def nearDupPairs(hashes: DataFrame, maxHamming: Int,
                   maxBucket: Long = 100000L): DataFrame =
    PerceptualDedup.nearDupPairs(hashes, ahash, maxHamming, maxBucket)

  /** Eval-set DECONTAMINATION: (media_id, contaminated) per corpus clip,
    * true within `maxHamming` of ANY eval clip. */
  def decontaminate(corpus: DataFrame, eval: DataFrame, maxHamming: Int,
                    maxEval: Long = 100000L): DataFrame =
    PerceptualDedup.decontaminate(corpus, eval, ahash, maxHamming, maxEval)

  /** Near-dup clusters: (media_id, cluster_id), singletons their own. */
  def clusters(media: DataFrame, maxHamming: Int,
               maxBucket: Long = 100000L): DataFrame =
    PerceptualDedup.clusters(media, ahash, maxHamming, maxBucket)

  /** SHIFT-TOLERANT pairs: clips sharing >= `minShared` near-identical
    * windows (trimmed and silence-padded copies) — (id_a, id_b, shared),
    * id_a < id_b. */
  def sharedWindowPairs(media: DataFrame, windowFrames: Int,
                        hopFrames: Int, maxHamming: Int,
                        minShared: Int = 2, maxBucket: Long = 100000L,
                        silenceFloor: Long = 100L): DataFrame =
    PerceptualDedup.sharedPairs(media,
      windows(windowFrames, hopFrames, silenceFloor), maxHamming, minShared,
      maxBucket)

  /** SHIFT-TOLERANT decontamination: a corpus clip flags when it shares
    * >= `minShared` near-identical windows with any single eval clip.
    * (media_id, contaminated) for EVERY corpus clip — an all-silent clip
    * hashes no windows and reports false. */
  def decontaminateWindows(corpus: DataFrame, eval: DataFrame,
                           windowFrames: Int, hopFrames: Int,
                           maxHamming: Int, minShared: Int = 2,
                           maxEval: Long = 100000L,
                           silenceFloor: Long = 100L): DataFrame =
    PerceptualDedup.decontaminateParts(corpus, eval,
      windows(windowFrames, hopFrames, silenceFloor), maxHamming, minShared,
      maxEval)

  /** KEEP-LONGEST shift-tolerant dedup: per window-overlap cluster the
    * clip with the most non-silent windows survives (ties on min id) —
    * a trimmed re-upload loses to the full master. Output (media_id,
    * n_windows), survivors only; all-silent clips are dropped. */
  def survivorsByWindows(media: DataFrame, windowFrames: Int,
                         hopFrames: Int, maxHamming: Int,
                         minShared: Int = 2, maxBucket: Long = 100000L,
                         silenceFloor: Long = 100L): DataFrame =
    PerceptualDedup.partSurvivors(media,
      windows(windowFrames, hopFrames, silenceFloor), "n_windows",
      maxHamming, minShared, maxBucket)

  /** Shift-tolerant clusters over [[sharedWindowPairs]] edges:
    * (media_id, cluster_id) for EVERY input clip (all-silent clips are
    * singletons). */
  def shiftClusters(media: DataFrame, windowFrames: Int, hopFrames: Int,
                    maxHamming: Int, minShared: Int = 2,
                    maxBucket: Long = 100000L,
                    silenceFloor: Long = 100L): DataFrame =
    PerceptualDedup.partClusters(media,
      windows(windowFrames, hopFrames, silenceFloor), maxHamming, minShared,
      maxBucket, everyInput = true)
}
