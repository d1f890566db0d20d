package graft.multimodal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.{Cached, PerceptualDedup}
import Multimodal.{ImageCodec, MediaCounters, MediaRecord}

/** The COMPOSED media curation pipeline — the media face of the text
  * side's end-to-end training pipeline (`q151`): quality gates →
  * per-modality perceptual dedup (keep-BEST-resolution for images,
  * keep-first for audio/video) → eval-set decontamination, in ONE
  * operator whose per-record decode runs exactly ONCE per modality
  * end-to-end. Every stage after the profile pass works on the 8-byte
  * hash frame; payloads never re-read, never shuffle.
  *
  * Reference shape: the reference chains quality policies, converters
  * and dedup as separately-scheduled jobs over re-read intermediate
  * dumps (gobblin-runtime task chains + compaction jobs); at 100 TB of
  * media the decode is the job's cost, so the composed pass holds the
  * one-decode invariant across ALL stages instead of per job.
  */
object MediaPipeline {

  /** One profile row per record, whatever the modality:
    * (media_id, media_type, chash, passes, prefer) — chash = the
    * modality's perceptual fingerprint, passes = the modality's quality
    * gates ([[MediaQuality]] defaults), prefer = the keep-best survivor
    * preference (decoded pixel count for images; 0 elsewhere, where the
    * min id survives). ONE decode per record. Audio clip detection runs
    * on the mono-ized samples (identical to [[MediaQuality.audioSignals]]
    * for mono streams, the common crawl case). */
  def profile(media: DataFrame, minSide: Int = 16,
              maxAspectMilli: Long = 4000L, minLumaRange: Int = 8,
              minAudioMs: Long = 50L, minMeanAbs: Long = 100L,
              maxClipPermille: Long = 10L, minFrames: Int = 2,
              minVideoMs: Long = 100L, maxVideoMs: Long = 3600000L,
              every: Int = 1): DataFrame = {
    require(every >= 1, s"every=$every must be >= 1")
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRecord].mapPartitions(_.map { r =>
      r.media_type match {
        case "image" =>
          val img = ImageCodec.read(r.payload)
          require(img != null,
            s"media_id=${r.media_id}: payload is not a decodable image")
          val w = img.getWidth
          val h = img.getHeight
          // ONE pixel pass: the plane feeds the contrast gate AND the hash
          val lum = Pixels.lumaPlane(img)
          var mn = 255
          var mx = 0
          var i = 0
          while (i < lum.length) {
            val l = lum(i)
            if (l < mn) mn = l
            if (l > mx) mx = l
            i += 1
          }
          val passes = w >= minSide && h >= minSide &&
            1000L * math.max(w, h) / math.min(w, h) <= maxAspectMilli &&
            mx - mn >= minLumaRange
          (r.media_id, r.media_type, ImageDedup.dHashOfLuma(lum, w, h),
            passes, w.toLong * h)
        case "audio" =>
          val (samples, rate) = AudioDedup.decodeMonoWithRate(r.payload)
          var sumAbs = 0L
          var clipped = 0L
          var i = 0
          while (i < samples.length) {
            val s = samples(i)
            sumAbs += math.abs(s)
            if (s == Short.MaxValue || s == Short.MinValue) clipped += 1
            i += 1
          }
          val n = samples.length.toLong
          val passes = n * 1000L / rate.toLong >= minAudioMs &&
            sumAbs / n >= minMeanAbs &&
            clipped * 1000L / n <= maxClipPermille
          (r.media_id, r.media_type,
            AudioDedup.fingerprintSamples(samples, 0, samples.length),
            passes, 0L)
        case "video" =>
          require(VideoCodec.isVideo(r.payload),
            s"media_id=${r.media_id}: payload is not a decodable video " +
              "container (GIF/AVI) — no in-JVM codec for mp4/webm")
          MediaCounters.videoReads.incrementAndGet(): Unit
          VideoCodec.withFrames(r.payload) { v =>
            val n = v.numFrames
            require(n >= 1,
              s"media_id=${r.media_id}: container holds no frames")
            var durationUs = 0L
            var i = 0
            while (i < n) {
              durationUs += v.delayUs(i); i += 1
            }
            val durationMs = durationUs / 1000L
            val hashes = Iterator.range(0, n, every)
              .map { f =>
                val (l, fw, fh) = v.lumaFrame(f)
                ImageDedup.dHashOfLuma(l, fw, fh)
              }.toArray
            val passes = n >= minFrames && hashes.distinct.length > 1 &&
              durationMs >= minVideoMs && durationMs <= maxVideoMs
            (r.media_id, r.media_type, VideoDedup.foldMajority(hashes),
              passes, 0L)
          }
        case other => throw new IllegalArgumentException(
          s"media_id=${r.media_id}: unknown media_type '$other'")
      }
    }).toDF("media_id", "media_type", "chash", "passes", "prefer")
  }

  /** Run the composed pipeline over a MIXED media table: every input
    * record is labeled with the stage that decided its fate —
    * `gated` (failed its modality's quality gates), `dup_dropped`
    * (lost its near-dup cluster to a better/earlier member),
    * `contaminated` (survived dedup but lies within `maxHamming` of an
    * eval record), or `kept`. Eval records profile through the SAME
    * one-decode pass (only their hashes are used) and broadcast as
    * bands per modality. Output (media_id, media_type, stage), under
    * the [[graft.dedup.Cached]] contract. One decode per corpus record
    * and one per eval record, across ALL stages. */
  def curate(media: DataFrame, eval: DataFrame, maxHamming: Int,
             maxBucket: Long = 100000L, maxEval: Long = 100000L,
             every: Int = 1): DataFrame = Cached.scope { s =>
    val prof = s.hold(profile(media, every = every))
    prof.count(): Unit // ONE decode per corpus record, all stages reuse
    val evalProf = s.hold(profile(eval, every = every))
    val nEval = evalProf.count() // ONE decode per eval record
    require(nEval <= maxEval,
      s"eval set has $nEval records > maxEval=$maxEval — a broadcast " +
        "this size would flood the executors; raise maxEval deliberately")
    val stages = Seq("image", "audio", "video").map { m =>
      val p = prof.filter(col("media_type") === m)
      val surv = keepBest(s, p, m, s"media-pipeline-$m", maxHamming,
        maxBucket)
      val flagged = graft.dedup.HammingBands.decontaminateProbe(
        surv.select(col("media_id"), col("chash")),
        evalProf.filter(col("media_type") === m)
          .select(col("media_id"), col("chash")),
        "media_id", "chash", maxHamming)
      p.select(col("media_id"), col("media_type"), col("passes"))
        .join(surv.select(col("media_id"), lit(true).as("__surv")),
          Seq("media_id"), "left")
        .join(flagged.filter(col("contaminated"))
          .select(col("media_id"), lit(true).as("__cont")),
          Seq("media_id"), "left")
        .select(col("media_id"), col("media_type"),
          when(!col("passes"), lit("gated"))
            .when(col("__surv").isNull, lit("dup_dropped"))
            .when(col("__cont").isNotNull, lit("contaminated"))
            .otherwise(lit("kept")).as("stage"))
    }
    val out = s.hold(stages.reduce(_ unionByName _))
    out.count(): Unit
    out
  }

  /** Keep-best whole-hash survivors among the gate-passing rows of one
    * modality's profile `p` — (media_id, chash, prefer) — the dedup stage
    * every composed pass shares; cluster state belongs to `s`. */
  private[multimodal] def keepBest(s: Cached.Scope, p: DataFrame,
                                   modality: String, tag: String,
                                   maxHamming: Int,
                                   maxBucket: Long): DataFrame =
    PerceptualDedup.survivorsOf(s,
      p.filter(col("passes"))
        .select(col("media_id"), col("chash"), col("prefer")),
      PerceptualDedup.Fingerprint(modality, "chash", tag, identity),
      col("prefer"), maxHamming, maxBucket)

  /** The composed run's data card: records per (modality, stage) — what
    * a curation run reports next to [[MediaReport.card]]'s corpus view.
    * One aggregate over the stage frame; nothing re-decodes. */
  def card(stages: DataFrame): DataFrame =
    stages.groupBy("media_type", "stage")
      .agg(count(lit(1)).as("n"))

  /** [[profile]] plus PART-level hashes from the SAME single decode:
    * every row additionally carries `parts` — an array of (kx, ky, ph)
    * structs holding the record's shift/crop-tolerant sub-hashes
    * (image: per-tile dHashes on a tileW x tileH grid; audio:
    * hop-aligned non-silent window fingerprints, ky = 0; video: sampled
    * frame dHashes, ky = 0) — and `orients`, the 8 dihedral orientation
    * dHashes for images ([[ImageDedup.hashOrientations]]' rows; empty
    * for audio/video), coordinate remaps over the already-extracted
    * luminance plane, near-free on top of the decode. These are the
    * part/orientation passes the standalone faces compute
    * ([[ImageDedup.hashTiles]], [[AudioDedup.hashWindows]],
    * [[VideoDedup.hashFrames]]) folded into the profile decode, so a
    * composed run that needs the whole-content hash AND the part-level
    * AND rotation-level leak guards still decodes each record exactly
    * once. */
  def profileDeep(media: DataFrame, tileW: Int = 16, tileH: Int = 16,
                  windowFrames: Int = 400, hopFrames: Int = 400,
                  silenceFloor: Long = 100L, minSide: Int = 16,
                  maxAspectMilli: Long = 4000L, minLumaRange: Int = 8,
                  minAudioMs: Long = 50L, minMeanAbs: Long = 100L,
                  maxClipPermille: Long = 10L, minFrames: Int = 2,
                  minVideoMs: Long = 100L, maxVideoMs: Long = 3600000L,
                  every: Int = 1): DataFrame = {
    require(every >= 1, s"every=$every must be >= 1")
    require(tileW >= 8 && tileH >= 8,
      s"tile ${tileW}x$tileH too small for a stable per-tile dHash")
    require(windowFrames >= 8 && hopFrames >= 1 && hopFrames <= windowFrames,
      s"window/hop ${windowFrames}/$hopFrames invalid")
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRecord].mapPartitions(_.map { r =>
      r.media_type match {
        case "image" =>
          val img = ImageCodec.read(r.payload)
          require(img != null,
            s"media_id=${r.media_id}: payload is not a decodable image")
          val w = img.getWidth
          val h = img.getHeight
          // ONE pixel pass: the plane feeds the contrast gate, every
          // tile hash AND the dihedral fanout
          val lum = Pixels.lumaPlane(img)
          var mn = 255
          var mx = 0
          var i = 0
          while (i < lum.length) {
            val l = lum(i)
            if (l < mn) mn = l
            if (l > mx) mx = l
            i += 1
          }
          val passes = w >= minSide && h >= minSide &&
            1000L * math.max(w, h) / math.min(w, h) <= maxAspectMilli &&
            mx - mn >= minLumaRange
          val parts = for {
            ty <- 0 until h / tileH
            tx <- 0 until w / tileW
          } yield (tx, ty, ImageDedup.dHashOfLumaRect(
            lum, w, tx * tileW, ty * tileH, tileW, tileH))
          // index 0 IS dHash64 — the whole hash rides the dihedral pass
          val orients = ImageDedup.dHashDihedralOfLuma(lum, w, h)
          (r.media_id, r.media_type, orients(0), passes,
            w.toLong * h, parts, orients.toSeq)
        case "audio" =>
          val (samples, rate) = AudioDedup.decodeMonoWithRate(r.payload)
          var sumAbs = 0L
          var clipped = 0L
          var i = 0
          while (i < samples.length) {
            val s = samples(i)
            sumAbs += math.abs(s)
            if (s == Short.MaxValue || s == Short.MinValue) clipped += 1
            i += 1
          }
          val n = samples.length.toLong
          val passes = n * 1000L / rate.toLong >= minAudioMs &&
            sumAbs / n >= minMeanAbs &&
            clipped * 1000L / n <= maxClipPermille
          val lastStart = samples.length - windowFrames
          val nWindows = if (lastStart < 0) 0 else lastStart / hopFrames + 1
          val parts = (0 until nWindows).flatMap { wi =>
            val from = wi * hopFrames
            val until = from + windowFrames
            var sum = 0L
            var j = from
            while (j < until) { sum += math.abs(samples(j)); j += 1 }
            if (sum / windowFrames < silenceFloor) None
            else Some((wi, 0,
              AudioDedup.fingerprintSamples(samples, from, until)))
          }
          (r.media_id, r.media_type,
            AudioDedup.fingerprintSamples(samples, 0, samples.length),
            passes, 0L, parts, Seq.empty[Long])
        case "video" =>
          require(VideoCodec.isVideo(r.payload),
            s"media_id=${r.media_id}: payload is not a decodable video " +
              "container (GIF/AVI) — no in-JVM codec for mp4/webm")
          MediaCounters.videoReads.incrementAndGet(): Unit
          VideoCodec.withFrames(r.payload) { v =>
            val n = v.numFrames
            require(n >= 1,
              s"media_id=${r.media_id}: container holds no frames")
            var durationUs = 0L
            var i = 0
            while (i < n) {
              durationUs += v.delayUs(i); i += 1
            }
            val durationMs = durationUs / 1000L
            val parts = (0 until n by every)
              .map { f =>
                val (l, fw, fh) = v.lumaFrame(f)
                (f, 0, ImageDedup.dHashOfLuma(l, fw, fh))
              }
            val hashes = parts.map(_._3).toArray
            val passes = n >= minFrames && hashes.distinct.length > 1 &&
              durationMs >= minVideoMs && durationMs <= maxVideoMs
            (r.media_id, r.media_type, VideoDedup.foldMajority(hashes),
              passes, 0L, parts, Seq.empty[Long])
          }
        case other => throw new IllegalArgumentException(
          s"media_id=${r.media_id}: unknown media_type '$other'")
      }
    }).toDF("media_id", "media_type", "chash", "passes", "prefer", "parts",
      "orients")
  }

  /** The composed pipeline with a SHIFT/CROP-TOLERANT leak guard:
    * stages and labels exactly as [[curate]] — gates, then per-modality
    * whole-hash near-dup with keep-best survivors — but the
    * decontamination stage probes at the PART level: a survivor flags
    * when it shares at least `minShared` near-identical parts (tiles /
    * windows / frames) with any single eval record of its modality.
    * This catches the leak classes the whole-hash probe cannot see —
    * a CROPPED copy of benchmark imagery, a TRIMMED clip of benchmark
    * audio, a CLIPPED cut of benchmark video. Image survivors
    * additionally probe against the eval side's 8 DIHEDRAL ORIENTATION
    * hashes ([[ImageDedup.decontaminateRotations]]' shape): a ROTATED or
    * MIRRORED benchmark image turns every tile with it, so the tile
    * probe sees nothing — the orientation probe re-aligns it exactly.
    * All of it still pays exactly ONE decode per record per side: part
    * and orientation hashes ride the same profile pass ([[profileDeep]]).
    * Eval parts and orientations BROADCAST as bands per modality; corpus
    * parts never shuffle (only band-matched candidates reach the shared
    * count) and the corpus orientation side is its single whole hash.
    * Output (media_id, media_type, stage). */
  def curateDeep(media: DataFrame, eval: DataFrame, maxHamming: Int,
                 minShared: Int = 2, tileW: Int = 16, tileH: Int = 16,
                 windowFrames: Int = 400, hopFrames: Int = 400,
                 maxBucket: Long = 100000L, maxEval: Long = 100000L,
                 every: Int = 1): DataFrame = {
    require(minShared >= 1, s"minShared=$minShared must be >= 1")
    Cached.scope { s =>
      val prof = s.hold(profileDeep(media, tileW = tileW, tileH = tileH,
        windowFrames = windowFrames, hopFrames = hopFrames, every = every))
      prof.count(): Unit // ONE decode per corpus record, all stages reuse
      val evalProf = s.hold(profileDeep(eval, tileW = tileW,
        tileH = tileH, windowFrames = windowFrames, hopFrames = hopFrames,
        every = every))
      evalProf.count(): Unit // ONE decode per eval record
      val nEvalParts = evalProf.select(explode(col("parts"))).count() +
        evalProf.select(explode(col("orients"))).count()
      require(nEvalParts <= maxEval,
        s"eval set hashes $nEvalParts part/orientation rows > " +
          s"maxEval=$maxEval — a broadcast this size would flood the " +
          "executors; raise maxEval deliberately")
      val stages = Seq("image", "audio", "video").map { m =>
        val p = prof.filter(col("media_type") === m)
        val surv = keepBest(s, p, m, s"media-deep-$m", maxHamming,
          maxBucket)
        val flagged = deepLeakFlags(p, surv, evalProf, m,
          maxHamming, minShared)
        p.select(col("media_id"), col("media_type"), col("passes"))
          .join(surv.select(col("media_id"), lit(true).as("__surv")),
            Seq("media_id"), "left")
          .join(flagged.withColumn("__cont", lit(true)),
            Seq("media_id"), "left")
          .select(col("media_id"), col("media_type"),
            when(!col("passes"), lit("gated"))
              .when(col("__surv").isNull, lit("dup_dropped"))
              .when(col("__cont").isNotNull, lit("contaminated"))
              .otherwise(lit("kept")).as("stage"))
      }
      val out = s.hold(stages.reduce(_ unionByName _))
      out.count(): Unit
      out
    }
  }

  /** The DEEP leak probe shared by [[curateDeep]] and
    * [[PairedCuration.curateDeep]]: media_ids among `surv` (media_id,
    * chash) that share at least `minShared` near-identical parts (tiles
    * / windows / frames) with any single eval record of modality `m` —
    * plus, for images, whose whole hash lies within `maxHamming` of any
    * eval DIHEDRAL ORIENTATION hash (a rotated benchmark image turns
    * every tile with it, so only the orientation probe re-aligns it).
    * `p` carries the corpus [[profileDeep]] rows of the modality; eval
    * parts/orientations BROADCAST as bands, corpus parts never shuffle
    * (only band-matched candidates reach the shared count). */
  private[multimodal] def deepLeakFlags(p: DataFrame, surv: DataFrame,
                                        evalProf: DataFrame, m: String,
                                        maxHamming: Int,
                                        minShared: Int): DataFrame = {
    import graft.dedup.HammingBands
    // PART-level leak probe: survivor parts vs broadcast eval parts
    val key = struct(col("__p._1").as("kx"), col("__p._2").as("ky"))
    val survParts = p.join(
      surv.select(col("media_id")), Seq("media_id"), "left_semi")
      .select(col("media_id"), explode(col("parts")).as("__p"))
      .select(col("media_id"), key, col("__p._3"))
    val evalParts = evalProf.filter(col("media_type") === m)
      .select(col("media_id"), explode(col("parts")).as("__p"))
      .select(col("media_id"), key, col("__p._3"))
    val partFlagged = PerceptualDedup.sharedPartHits(survParts, evalParts,
      maxHamming, minShared)
    // ROTATION leak probe (images): survivor whole hash vs the
    // broadcast eval 8-orientation fanout — one hash row per corpus
    // survivor, the eval side carries the 8x expansion
    if (m != "image") partFlagged
    else {
      val evalOrients = evalProf.filter(col("media_type") === m)
        .select(explode(col("orients")).as("__he"))
      val rotFlagged = HammingBands.explodeBands(
        surv.select(col("media_id"), col("chash").as("__hc")),
        "__hc", maxHamming)
        .join(broadcast(
          HammingBands.explodeBands(evalOrients, "__he", maxHamming)),
          Seq("band", "value"))
        .filter(bit_count(col("__hc").bitwiseXOR(col("__he")))
          <= maxHamming)
        .select("media_id").distinct()
      partFlagged.unionByName(rotFlagged).distinct()
    }
  }
}
