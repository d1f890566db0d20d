package graft.multimodal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Cached

/** Leakage-safe train/val/test splitting for MEDIA corpora — the
  * multimodal face of [[graft.text.LeakSafeSplit]]: a per-item hash
  * split puts a benchmark image and its re-encoded near-copy on opposite
  * sides of the train/eval cut, so eval numbers inflate exactly as the
  * text contamination literature measures. Here the split key is the
  * PERCEPTUAL duplicate cluster (dHash banding for images, the
  * envelope/ZCR fingerprint for audio, the majority-fold frame hash for
  * video), so near-duplicates cannot straddle by construction.
  *
  * Scale shape: one map-only decode+hash pass per record (the modality
  * dedup faces' own contract — each payload decodes exactly once), the
  * shared banded pairing (equi-join, never all-pairs), star-contraction
  * components, then a map-only portable-hash band on the CLUSTER id.
  * Nothing here adds a shuffle beyond the dedup pass a curation pipeline
  * already runs.
  */
object MediaSplit {

  /** Near-dup pairs for a media frame, through the faces' persisted
    * single-decode hash passes. `modality = "mixed"` accepts a table
    * holding all three media types in one pass ([[MediaPipeline.profile]]
    * switches codecs per record, so the payload column scans once) —
    * pairing still runs WITHIN each modality (an image dHash and an
    * audio fingerprint colliding numerically must never merge). */
  private def pairsFor(media: DataFrame, modality: String,
                       maxHamming: Int): DataFrame = modality match {
    case "image" =>
      ImageDedup.nearDupPairs(ImageDedup.hashImages(media), maxHamming)
    case "audio" =>
      AudioDedup.nearDupPairs(AudioDedup.hashAudio(media), maxHamming)
    case "video" =>
      VideoDedup.nearDupPairs(VideoDedup.hashVideos(media), maxHamming)
    case "mixed" => Cached.scope { s =>
      val prof = s.hold(MediaPipeline.profile(media))
      prof.count(): Unit // ONE decode per record, whatever the modality
      val pairs = s.hold(Seq("image", "audio", "video").map { m =>
        graft.dedup.HammingBands.pairs(
          prof.filter(col("media_type") === m)
            .select(col("media_id"), col("chash")),
          "media_id", "chash", maxHamming, 100000L, s"media-split-$m")
          .select(col("id_a"), col("id_b"), col("hamming"))
      }.reduce(_ unionByName _))
      pairs.count(): Unit
      pairs
    }
    case other => throw new IllegalArgumentException(
      s"modality must be image|audio|video|mixed, got '$other'")
  }

  /** Split every media item by its perceptual cluster: members of one
    * near-dup cluster always land in the SAME band. Output: media_id,
    * cluster_id, `outCol` — bands = (label, width out of `mod`), the
    * same portable md5-banded assignment as the text path (stable under
    * corpus growth, engine-reproducible). `media_id` must be unique
    * across the WHOLE frame (for `modality = "mixed"` that means across
    * modalities too — `readMediaDir`'s path-hash ids are; cluster
    * resolution is id-keyed). */
  def byPerceptualCluster(media: DataFrame, modality: String,
                          maxHamming: Int, bands: Seq[(String, Int)],
                          outCol: String = "split",
                          mod: Int = 100): DataFrame = Cached.scope { s =>
    // the pairs release on return: cluster labels are materialized
    val pairs = s.own(pairsFor(media, modality, maxHamming))
    graft.text.LeakSafeSplit.byCluster(media.select(col("media_id")),
      "media_id", pairs.select("id_a", "id_b"), bands, outCol, mod = mod)
  }

  /** Carve a fixed-size eval set with CLUSTER QUARANTINE per stratum
    * (the media face of [[graft.text.LeakSafeSplit.carveEval]]): per
    * `stratumCol` value, the `perStratum` items with the smallest
    * portable hash become `eval`; unselected members of their perceptual
    * clusters become `quarantine` (they may train NOWHERE); the rest
    * `train`. */
  def carveEval(media: DataFrame, modality: String, maxHamming: Int,
                perStratum: Int, stratumCol: String = "source",
                roleCol: String = "role"): DataFrame = Cached.scope { s =>
    val pairs = s.own(pairsFor(media, modality, maxHamming))
    val resolved = graft.dedup.DupClusters.resolve(
      media.select(col("media_id"), col(stratumCol)), "media_id",
      pairs.select("id_a", "id_b"))
    graft.text.LeakSafeSplit.carveEval(resolved, "media_id",
      "cluster_id", stratumCol, perStratum, roleCol)
  }
}
