package graft.multimodal

import org.apache.spark.sql.DataFrame

import graft.dedup.PerceptualDedup
import graft.dedup.PerceptualDedup.Fingerprint
import Multimodal.{MediaCounters, fingerprintPass}

/** Perceptual VIDEO deduplication over REAL decoded frames — the video
  * sibling of [[ImageDedup]]/[[AudioDedup]], completing the modality set:
  * a 64-bit fingerprint folds the dHash of every sampled frame (decoded
  * through the unified container seam [[VideoCodec]] — animated GIF or
  * AVI/MJPEG) by per-bit MAJORITY vote, the SimHash construction over
  * frames instead of shingles. A re-encoded or re-containered copy
  * shares its frame pixels, so it lands on the SAME fingerprint; a copy
  * with a few perturbed frames moves only the bits whose majority flips.
  * The time-sampled fold is frame-rate invariant; the part fingerprint
  * hashes each sampled FRAME, which clipped and extended copies share.
  *
  * This object holds the fingerprint kernels and their map-only passes
  * (one container reader per record); every dedup face is an adapter
  * onto [[graft.dedup.PerceptualDedup]]. Faces returning a frame follow
  * the [[graft.dedup.Cached]] contract.
  */
object VideoDedup {

  /** Fingerprint FORMAT version of [[fingerprint64]]: bump on any
    * bit-layout change (frame dHash or fold rule) so persisted hash
    * stores can refuse mixed-version admission
    * ([[graft.streaming.MediaDedupIngest]]). */
  val fingerprintFormatVersion: Int = 1

  /** 64-bit fingerprint: dHash each `every`-th frame, fold per-bit
    * majority (strict — a tie votes 0, deterministic for any frame
    * count). Frames come through the unified container seam
    * ([[VideoCodec]]: animated GIF or AVI/MJPEG — a re-containered copy
    * fingerprints identically because the fold sees only decoded
    * pixels); unknown containers refuse loudly. */
  def fingerprint64(payload: Array[Byte], every: Int = 1): Long = {
    require(every >= 1, s"every=$every must be >= 1")
    require(VideoCodec.isVideo(payload),
      "payload is not a decodable video container (GIF/AVI) — no " +
        "in-JVM codec for mp4/webm")
    MediaCounters.videoReads.incrementAndGet(): Unit
    VideoCodec.withFrames(payload) { v =>
      val n = v.numFrames
      require(n >= 1, "video container holds no frames")
      val hashes = Iterator.range(0, n, every)
        .map { i =>
          val (l, fw, fh) = v.lumaFrame(i)
          ImageDedup.dHashOfLuma(l, fw, fh)
        }.toArray
      foldMajority(hashes)
    }
  }

  /** Per-bit MAJORITY fold of frame dHashes — the SimHash construction
    * over frames (strict majority: a tie votes 0, deterministic for any
    * frame count). Exposed so composed passes that already hold the
    * frame hashes ([[MediaPipeline]]) fold without a second decode. */
  private[multimodal] def foldMajority(frameHashes: Array[Long]): Long = {
    val votes = new Array[Int](64)
    var i = 0
    while (i < frameHashes.length) {
      val h = frameHashes(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1
        b += 1
      }
      i += 1
    }
    var bits = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) * 2 > frameHashes.length) bits |= 1L << b
      b += 1
    }
    bits
  }

  /** 64-bit TIME-SAMPLED fingerprint — the FRAME-RATE-INVARIANT face of
    * [[fingerprint64]]: dHash the frame ON SCREEN at each tick
    * k * 1000000/fps µs of the cumulative wall-clock delay chain
    * ([[VideoCodec.Frames.renderedDelayUs]] — GIF's <= 1 cs unspecified
    * delays render as 10 cs, the browser convention shared with
    * [[VideoScenes.sampleAtFps]]; explicit AVI header timing passes
    * through at full µs precision, so high-fps AVI re-renders stay
    * invariant), then fold per-bit majority. The
    * index-based fold weights each CONTAINER FRAME once, so a
    * frame-rate-converted copy — a VFR clip re-rendered at constant
    * rate, pulldown-style frame duplication — skews the per-bit votes
    * and drifts the fold far from its source; time sampling weights
    * content by WALL TIME, so ANY re-render of the same timeline folds
    * identically. Consecutive ticks landing on one frame decode it once
    * (the hash is cached per frame) — still ONE container decode per
    * record. `fps` must divide 1000 (integer tick arithmetic). */
  def fingerprint64AtFps(payload: Array[Byte], fps: Int): Long = {
    require(fps >= 1 && 1000 % fps == 0,
      s"fps=$fps must be a positive divisor of 1000 (integer ticks)")
    require(VideoCodec.isVideo(payload),
      "payload is not a decodable video container (GIF/AVI) — no " +
        "in-JVM codec for mp4/webm")
    MediaCounters.videoReads.incrementAndGet(): Unit
    VideoCodec.withFrames(payload) { v =>
      val n = v.numFrames
      require(n >= 1, "video container holds no frames")
      // cumulative wall-clock starts in MICROSECONDS — renderedDelayUs
      // applies the 10 cs unspecified-delay convention on the GIF branch
      // only; explicit AVI header timing passes through exactly, so a
      // 100 fps AVI and its 25 fps re-render share one timeline
      val starts = new Array[Long](n + 1)
      var i = 0
      while (i < n) {
        starts(i + 1) = starts(i) + v.renderedDelayUs(i)
        i += 1
      }
      val total = starts(n)
      val interval = 1000000L / fps
      val hashes = scala.collection.mutable.ArrayBuffer.empty[Long]
      var k = 0
      var frame = 0
      var t = 0L
      var hashedFrame = -1
      var lastHash = 0L
      while (t < total) {
        while (frame + 1 < n && starts(frame + 1) <= t) frame += 1
        if (frame != hashedFrame) {
          val (l, fw, fh) = v.lumaFrame(frame)
          lastHash = ImageDedup.dHashOfLuma(l, fw, fh)
          hashedFrame = frame
        }
        hashes += lastHash
        k += 1
        t = k.toLong * interval
      }
      // (ticks are exact: 1000 % fps == 0 makes 1000000/fps integral)
      // tick 0 exists for any clip (clamped delays are > 0 ms), so the
      // fold is never over an empty set
      foldMajority(hashes.toArray)
    }
  }

  private def vhash(pass: DataFrame => DataFrame) =
    Fingerprint("video", "vhash", "video-dedup", pass)
  private def frames(every: Int) = Fingerprint("video", "fhash",
    "video-frames", hashFrames(_, every), Seq("frame_idx"))

  /** Map-only hash pass: (media_id, vhash), one container decode per
    * record. */
  def hashVideos(media: DataFrame, every: Int = 1): DataFrame =
    fingerprintPass(media, "video", "media_id", "vhash")(r =>
      Iterator.single((r.media_id, fingerprint64(r.payload, every))))

  /** Map-only TIME-SAMPLED hash pass: (media_id, vhash) from
    * [[fingerprint64AtFps]], one container decode per record. */
  def hashVideosAtFps(media: DataFrame, fps: Int): DataFrame =
    fingerprintPass(media, "video", "media_id", "vhash")(r =>
      Iterator.single((r.media_id, fingerprint64AtFps(r.payload, fps))))

  /** Map-only FRAME pass: (media_id, frame_idx, fhash), one row per
    * sampled frame, fhash = the frame's image dHash. One container
    * decode per record. */
  def hashFrames(media: DataFrame, every: Int = 1): DataFrame = {
    require(every >= 1, s"every=$every must be >= 1")
    fingerprintPass(media, "video", "media_id", "frame_idx", "fhash") { r =>
      require(VideoCodec.isVideo(r.payload),
        s"media_id=${r.media_id}: payload is not a decodable video " +
          "container (GIF/AVI) — no in-JVM codec for mp4/webm")
      MediaCounters.videoReads.incrementAndGet(): Unit
      VideoCodec.withFrames(r.payload) { v =>
        (0 until v.numFrames by every).map { i =>
          val (l, fw, fh) = v.lumaFrame(i)
          (r.media_id, i, ImageDedup.dHashOfLuma(l, fw, fh))
        }.toVector
      }
    }
  }

  /** Exact dedup: (media_id, vhash, group_rep), group_rep = min media_id
    * sharing the fingerprint. */
  def exactGroups(media: DataFrame, every: Int = 1): DataFrame =
    PerceptualDedup.exactGroups(media, vhash(hashVideos(_, every)))

  /** Exact FPS-INVARIANT dedup: [[exactGroups]] over the time-sampled
    * fingerprint — a VFR clip and its constant-rate re-render land in
    * ONE group. */
  def exactGroupsAtFps(media: DataFrame, fps: Int): DataFrame =
    PerceptualDedup.exactGroups(media, vhash(hashVideosAtFps(_, fps)))

  /** Near-dup pairs (id_a, id_b, hamming), id_a < id_b, among
    * (media_id, vhash) rows. */
  def nearDupPairs(hashes: DataFrame, maxHamming: Int,
                   maxBucket: Long = 100000L): DataFrame =
    PerceptualDedup.nearDupPairs(hashes, vhash(hashVideos(_)), maxHamming,
      maxBucket)

  /** Near-dup clusters: (media_id, cluster_id), singletons their own. */
  def clusters(media: DataFrame, maxHamming: Int,
               maxBucket: Long = 100000L, every: Int = 1): DataFrame =
    PerceptualDedup.clusters(media, vhash(hashVideos(_, every)), maxHamming,
      maxBucket)

  /** O(batch) admission against a committed fingerprint store (one
    * string column `h`) through the shared Bloom path. */
  def incrementalSurvivors(batch: DataFrame, committedHashes: DataFrame,
                           fpp: Double = 0.01, every: Int = 1): DataFrame =
    PerceptualDedup.incrementalSurvivors(batch, committedHashes,
      vhash(hashVideos(_, every)), fpp)

  /** Eval-set DECONTAMINATION: (media_id, contaminated) per corpus video,
    * true within `maxHamming` of ANY eval video. */
  def decontaminate(corpus: DataFrame, eval: DataFrame, maxHamming: Int,
                    maxEval: Long = 100000L, every: Int = 1): DataFrame =
    PerceptualDedup.decontaminate(corpus, eval, vhash(hashVideos(_, every)),
      maxHamming, maxEval)

  /** FPS-INVARIANT decontamination: [[decontaminate]] over time-sampled
    * fingerprints, so a frame-rate-converted re-render of benchmark video
    * still flags. */
  def decontaminateAtFps(corpus: DataFrame, eval: DataFrame, fps: Int,
                         maxHamming: Int,
                         maxEval: Long = 100000L): DataFrame =
    PerceptualDedup.decontaminate(corpus, eval,
      vhash(hashVideosAtFps(_, fps)), maxHamming, maxEval)

  /** CROSS-MODAL decontamination: a corpus VIDEO flags when ANY sampled
    * frame lies within `maxHamming` of ANY eval IMAGE's dHash — benchmark
    * imagery embedded in video, which one planted frame hides from the
    * majority fold. (media_id, contaminated) for every video that
    * sampled a frame. */
  def decontaminateFrames(corpus: DataFrame, evalImages: DataFrame,
                          maxHamming: Int, maxEval: Long = 100000L,
                          every: Int = 1): DataFrame =
    PerceptualDedup.decontaminateParts(corpus, evalImages, frames(every),
      maxHamming, minShared = 1, maxEval, evalFp = Some(ImageDedup.dhash),
      everyInput = false)

  /** Frame-OVERLAP pairs: videos sharing >= `minShared` near-identical
    * frames (clipped and extended copies) — (id_a, id_b, shared),
    * id_a < id_b. */
  def sharedFramePairs(media: DataFrame, maxHamming: Int,
                       minShared: Int = 2, maxBucket: Long = 100000L,
                       every: Int = 1): DataFrame =
    PerceptualDedup.sharedPairs(media, frames(every), maxHamming, minShared,
      maxBucket)

  /** Frame-overlap clusters over [[sharedFramePairs]] edges: (media_id,
    * cluster_id) for every video that sampled a frame. */
  def overlapClusters(media: DataFrame, maxHamming: Int,
                      minShared: Int = 2, maxBucket: Long = 100000L,
                      every: Int = 1): DataFrame =
    PerceptualDedup.partClusters(media, frames(every), maxHamming,
      minShared, maxBucket, everyInput = false)

  /** KEEP-LONGEST frame-overlap dedup: per cluster the video with the
    * most sampled frames survives (ties on min id) — a clipped re-upload
    * loses to the full cut. Output (media_id, n_frames), survivors
    * only. */
  def survivorsByFrames(media: DataFrame, maxHamming: Int,
                        minShared: Int = 2, maxBucket: Long = 100000L,
                        every: Int = 1): DataFrame =
    PerceptualDedup.partSurvivors(media, frames(every), "n_frames",
      maxHamming, minShared, maxBucket)
}
