package graft.multimodal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Cached

/** PAIRED media-text curation — the crawl shape behind image-caption
  * training sets (LAION/DataComp-style): a pair survives only if its
  * CAPTION passes the cheap text gate, its MEDIA passes the decoded
  * quality gates, and its perceptual near-dup cluster (among
  * gate-survivors) elects it the keep-best member. Every input pair is
  * labeled with the stage that decided its fate.
  *
  * Stage order is the COST order, and that is the scale argument:
  * caption gating needs no decode, so pairs whose caption already fails
  * never pay the media decode at all — at crawl scale most drops are
  * caption drops, and the decode (the job's dominant cost) runs only on
  * the caption-surviving minority, exactly once ([[MediaPipeline.profile]]
  * emits gates + fingerprint + keep-best preference in ONE pass).
  * Dedup rides the shared banded pairing over 8-byte hash rows; payloads
  * never shuffle.
  */
object PairedCuration {

  /** Label every (media, caption) pair: `caption_gated` (caption shorter
    * than `minCaptionChars` — decided WITHOUT decoding),
    * `caption_contaminated` (the caption shares at least one
    * `shingleWords`-gram with an `evalCaptions` text — benchmark
    * prompts/answers leaking into the crawl THROUGH THE TEXT SIDE; also
    * decided without decoding, so leaked pairs never pay the media
    * decode either), `media_gated` (failed its modality's decoded
    * quality gates), `dup_dropped` (lost its near-dup cluster to a
    * better/earlier gate-survivor — keep-best resolution for images,
    * min id elsewhere), `contaminated` (survived dedup but its
    * fingerprint lies within `maxHamming` of an `evalMedia` record —
    * benchmark imagery leaking into the pair corpus), or `kept`. With
    * `capKeyCol` set, media-dedup survivors sharing a caption key
    * additionally collapse to the minimum pair id — the spammed-caption
    * class (one boilerplate caption across thousands of images), losers
    * staged `caption_dup`. Pairs join on `media_id == capIdCol`; media
    * rows with no caption row are not pairs and do not appear. The
    * bounded eval sides (media profile / caption grams) BROADCAST.
    * Output (media_id, media_type, stage), under the
    * [[graft.dedup.Cached]] contract. */
  def curate(media: DataFrame, captions: DataFrame, minCaptionChars: Long,
             maxHamming: Int, maxBucket: Long = 100000L,
             capIdCol: String = "doc_id", capLenCol: String = "n_chars",
             evalMedia: Option[DataFrame] = None,
             maxEval: Long = 100000L,
             capKeyCol: Option[String] = None,
             evalCaptions: Option[DataFrame] = None,
             capTextCol: String = "text",
             shingleWords: Int = 4): DataFrame = Cached.scope { s =>
    require(minCaptionChars >= 0,
      s"minCaptionChars=$minCaptionChars must be >= 0")
    val cap = captions.select(
      Seq(col(capIdCol).as("media_id"),
        coalesce(col(capLenCol).cast("long"), lit(-1L)).as("__cap_len")) ++
        capKeyCol.map(k => col(k).as("__cap_key")).toSeq: _*)
    val paired = media.join(cap, Seq("media_id"))
    // caption-TEXT decontamination before any decode: the eval grams are
    // bounded and broadcast, the caption side is a map-side explode +
    // broadcast semi-join — the leaked pairs skip the decode entirely
    val capCont = evalCaptions.map(ev => s.own(captionLeakIds(captions, ev,
      capIdCol, capTextCol, shingleWords, maxEval)))
    // the decode pass runs ONLY on caption-surviving pairs — the gate
    // order is the cost order
    val decodeIn =
      paired.filter(col("__cap_len") >= minCaptionChars).drop("__cap_len")
    val prof = s.hold(MediaPipeline.profile(
      capCont.fold(decodeIn)(cc =>
        decodeIn.join(cc, Seq("media_id"), "left_anti"))))
    prof.count(): Unit // ONE decode per caption-surviving pair
    val evalProf = evalMedia.map(e => s.hold(MediaPipeline.profile(e)))
    evalProf.foreach { ep =>
      val nEval = ep.count() // ONE decode per eval record
      require(nEval <= maxEval,
        s"eval set has $nEval records > maxEval=$maxEval — a broadcast " +
          "this size would flood the executors; raise maxEval deliberately")
    }
    val mediaSurv = MediaPipeline.keepBest(s, prof, "mixed",
      "paired-curation", maxHamming, maxBucket)
      // caption-key dedup among MEDIA survivors: one pair per spammed
    // caption, min id wins — as a PRE-AGGREGATE, not a per-key window.
    // The spammed caption (one boilerplate string across millions of
    // perceptually DISTINCT images) is this stage's MOTIVATING case,
    // so the hot key is the expected shape: min(media_id) per key is
    // combiner-reduced (partial min on the map side — the mega-key
    // arrives at its reducer as one row per input partition), where a
    // row_number window would drag every row of the hot key into one
    // partition. Survivors then keep by semi-join on the winning ids.
    val surv = capKeyCol.fold(mediaSurv) { _ =>
      val winners = mediaSurv
        .join(paired.select(col("media_id"), col("__cap_key")),
          Seq("media_id"))
        .groupBy(col("__cap_key"))
        .agg(min(col("media_id")).as("media_id"))
      mediaSurv.join(winners.select("media_id"), Seq("media_id"),
        "left_semi")
    }
    val contaminated = evalProf.map { ep =>
      graft.dedup.HammingBands.decontaminateProbe(
        surv.select(col("media_id"), col("chash")),
        ep.select(col("media_id"), col("chash")),
        "media_id", "chash", maxHamming)
        .filter(col("contaminated"))
        .select(col("media_id"), lit(true).as("__cont"))
    }
    val labeled = paired.select(col("media_id"), col("media_type"),
      (col("__cap_len") < minCaptionChars).as("__cap_g"))
      .join(prof.select(col("media_id"), col("passes")),
        Seq("media_id"), "left")
      .join(mediaSurv.select(col("media_id"), lit(true).as("__msurv")),
        Seq("media_id"), "left")
      .join(surv.select(col("media_id"), lit(true).as("__surv")),
        Seq("media_id"), "left")
    val withCapCont = capCont.fold(
      labeled.withColumn("__cap_cont", lit(null).cast("boolean")))(cc =>
      labeled.join(cc.withColumn("__cap_cont", lit(true)),
        Seq("media_id"), "left"))
    val withCont = contaminated.fold(
      withCapCont.withColumn("__cont", lit(null).cast("boolean")))(c =>
      withCapCont.join(c, Seq("media_id"), "left"))
    val out = s.hold(withCont.select(col("media_id"), col("media_type"),
      when(col("__cap_g"), lit("caption_gated"))
        .when(col("__cap_cont").isNotNull, lit("caption_contaminated"))
        .when(!col("passes"), lit("media_gated"))
        .when(col("__msurv").isNull, lit("dup_dropped"))
        .when(col("__surv").isNull, lit("caption_dup"))
        .when(col("__cont").isNotNull, lit("contaminated"))
        .otherwise(lit("kept")).as("stage")))
    out.count(): Unit
    out
  }

  /** Pair ids whose caption shares at least one `shingleWords`-gram with
    * any `evalCaptions` text — the TEXT-side leak probe shared by
    * [[curate]] and [[curateDeep]]: eval grams are required bounded
    * (<= maxEval, refused loudly) and BROADCAST; the caption side is a
    * map-side explode + broadcast semi-join, no caption shuffle. */
  private def captionLeakIds(captions: DataFrame, evalCaptions: DataFrame,
                             capIdCol: String, capTextCol: String,
                             shingleWords: Int,
                             maxEval: Long): DataFrame = Cached.scope { s =>
    require(shingleWords >= 1, s"shingleWords=$shingleWords must be >= 1")
    val grams = graft.dedup.MinHashDedup.shingles(col(capTextCol),
      shingleWords)
    val bench = s.hold(
      evalCaptions.select(explode(grams).as("__g")).distinct())
    val nBench = bench.count()
    require(nBench <= maxEval,
      s"eval captions carry $nBench distinct grams > maxEval=$maxEval — " +
        "a broadcast this size would flood the executors; raise maxEval " +
        "deliberately")
    val out = s.hold(captions
      .select(col(capIdCol).as("media_id"), explode(grams).as("__g"))
      .join(broadcast(bench), Seq("__g"))
      .select("media_id").distinct())
    out.count(): Unit
    out
  }

  /** [[curate]] with the DEEP leak guard: stages and labels exactly as
    * [[curate]] — caption gate first (no decode), decoded media gates,
    * whole-hash keep-best dedup, optional caption-key collapse — but the
    * decontamination stage probes at the PART level (tiles / windows /
    * frames, >= `minShared` shared parts with any single eval record)
    * and, for images, against the eval DIHEDRAL ORIENTATION fanout: a
    * CROPPED or ROTATED copy of benchmark imagery hiding in the pair
    * corpus flags, which the whole-hash probe of [[curate]] provably
    * misses. The part and orientation hashes ride the SAME profile
    * decode ([[MediaPipeline.profileDeep]]), so the cost contract is
    * unchanged: caption-failing pairs never decode, survivors decode
    * exactly once end-to-end. Output (media_id, media_type, stage). */
  def curateDeep(media: DataFrame, captions: DataFrame,
                 minCaptionChars: Long, maxHamming: Int,
                 minShared: Int = 2, tileW: Int = 16, tileH: Int = 16,
                 windowFrames: Int = 400, hopFrames: Int = 400,
                 maxBucket: Long = 100000L,
                 capIdCol: String = "doc_id", capLenCol: String = "n_chars",
                 evalMedia: Option[DataFrame] = None,
                 maxEval: Long = 100000L,
                 capKeyCol: Option[String] = None,
                 evalCaptions: Option[DataFrame] = None,
                 capTextCol: String = "text",
                 shingleWords: Int = 4): DataFrame = Cached.scope { s =>
    require(minCaptionChars >= 0,
      s"minCaptionChars=$minCaptionChars must be >= 0")
    require(minShared >= 1, s"minShared=$minShared must be >= 1")
    val cap = captions.select(
      Seq(col(capIdCol).as("media_id"),
        coalesce(col(capLenCol).cast("long"), lit(-1L)).as("__cap_len")) ++
        capKeyCol.map(k => col(k).as("__cap_key")).toSeq: _*)
    val paired = media.join(cap, Seq("media_id"))
    // caption-TEXT decontamination before any decode, as in [[curate]]
    val capCont = evalCaptions.map(ev => s.own(captionLeakIds(captions, ev,
      capIdCol, capTextCol, shingleWords, maxEval)))
    // ONE decode per caption-surviving pair: gates + whole hash + part
    // hashes + orientation hashes from the same profile pass
    val decodeIn =
      paired.filter(col("__cap_len") >= minCaptionChars).drop("__cap_len")
    val prof = s.hold(MediaPipeline.profileDeep(
      capCont.fold(decodeIn)(cc =>
        decodeIn.join(cc, Seq("media_id"), "left_anti")),
      tileW = tileW, tileH = tileH, windowFrames = windowFrames,
      hopFrames = hopFrames))
    prof.count(): Unit
    val evalProf = evalMedia.map(e => s.hold(MediaPipeline.profileDeep(e,
      tileW = tileW, tileH = tileH, windowFrames = windowFrames,
      hopFrames = hopFrames)))
    evalProf.foreach { ep =>
      ep.count(): Unit // ONE decode per eval record
      val nEval = ep.select(explode(col("parts"))).count() +
        ep.select(explode(col("orients"))).count()
      require(nEval <= maxEval,
        s"eval set hashes $nEval part/orientation rows > " +
          s"maxEval=$maxEval — a broadcast this size would flood the " +
          "executors; raise maxEval deliberately")
    }
    val mediaSurv = MediaPipeline.keepBest(s, prof, "mixed", "paired-deep",
      maxHamming, maxBucket)
      // caption-key pre-aggregate, identical to [[curate]]'s
    val surv = capKeyCol.fold(mediaSurv) { _ =>
      val winners = mediaSurv
        .join(paired.select(col("media_id"), col("__cap_key")),
          Seq("media_id"))
        .groupBy(col("__cap_key"))
        .agg(min(col("media_id")).as("media_id"))
      mediaSurv.join(winners.select("media_id"), Seq("media_id"),
        "left_semi")
    }
    val contaminated = evalProf.map { ep =>
      Seq("image", "audio", "video").map { m =>
        MediaPipeline.deepLeakFlags(
          prof.filter(col("media_type") === m),
          surv.join(prof.select(col("media_id"), col("media_type")),
            Seq("media_id"))
            .filter(col("media_type") === m)
            .select(col("media_id"), col("chash")),
          ep, m, maxHamming, minShared)
      }.reduce(_ unionByName _)
        .select(col("media_id"), lit(true).as("__cont"))
    }
    val labeled = paired.select(col("media_id"), col("media_type"),
      (col("__cap_len") < minCaptionChars).as("__cap_g"))
      .join(prof.select(col("media_id"), col("passes")),
        Seq("media_id"), "left")
      .join(mediaSurv.select(col("media_id"), lit(true).as("__msurv")),
        Seq("media_id"), "left")
      .join(surv.select(col("media_id"), lit(true).as("__surv")),
        Seq("media_id"), "left")
    val withCapCont = capCont.fold(
      labeled.withColumn("__cap_cont", lit(null).cast("boolean")))(cc =>
      labeled.join(cc.withColumn("__cap_cont", lit(true)),
        Seq("media_id"), "left"))
    val withCont = contaminated.fold(
      withCapCont.withColumn("__cont", lit(null).cast("boolean")))(c =>
      withCapCont.join(c, Seq("media_id"), "left"))
    val out = s.hold(withCont.select(col("media_id"), col("media_type"),
      when(col("__cap_g"), lit("caption_gated"))
        .when(col("__cap_cont").isNotNull, lit("caption_contaminated"))
        .when(!col("passes"), lit("media_gated"))
        .when(col("__msurv").isNull, lit("dup_dropped"))
        .when(col("__surv").isNull, lit("caption_dup"))
        .when(col("__cont").isNotNull, lit("contaminated"))
        .otherwise(lit("kept")).as("stage")))
    out.count(): Unit
    out
  }

  /** The paired run's data card: pairs per (modality, stage) — one
    * aggregate over the stage frame, nothing re-decodes. */
  def card(stages: DataFrame): DataFrame =
    stages.groupBy("media_type", "stage").agg(count(lit(1)).as("n"))
}
