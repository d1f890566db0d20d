package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.multimodal.{ImageDedup, Multimodal, VideoDedup}

/** Two faces reach [[PerceptualDedup]]'s part operator by EQUIVALENCE,
  * not by a flag: rotation clustering takes shared-orientation edges with
  * `minShared = 1` where it took the distinct pairs of matching
  * orientations, and cross-modal frame decontamination counts shared
  * (frame, eval image) parts with `minShared = 1` where it took an
  * any-frame-hits probe. These pin each against its direct form. */
class PerceptualDedupEquivalenceSpec extends SparkSpec {

  private lazy val docs = Tables.load(spark, sf, "documents")

  private def rows(df: DataFrame): Set[(Long, Any)] =
    df.collect().map(r => (r.getLong(0), r.get(1))).toSet

  test("rotationClusters == components over distinct orientation pairs") {
    val media = Multimodal.syntheticImageRotationVariants(spark,
      docs.filter(col("doc_id") < 80), groups = 20)
    // the reference's banded frame belongs to this scope
    val direct = Cached.scope { s =>
      val o = s.hold(ImageDedup.hashOrientations(media))
      val edges = HammingBands.pairs(
        o.select(struct(col("media_id"), col("orient")).as("oid"),
          col("ohash")), "oid", "ohash", 3, 100000L, "reference")
        .select(col("id_a.media_id").as("ia"), col("id_b.media_id").as("ib"))
        .filter(col("ia") =!= col("ib"))
        .select(least(col("ia"), col("ib")).as("id_a"),
          greatest(col("ia"), col("ib")).as("id_b"))
        .distinct()
      rows(DupClusters.resolve(media.select(col("media_id")), "media_id",
        edges).select("media_id", "cluster_id"))
    }
    val out = ImageDedup.rotationClusters(media, maxHamming = 3)
    try {
      assert(out.select("cluster_id").distinct().count() < out.count(),
        "fixture must contain rotated duplicates")
      assert(rows(out.select("media_id", "cluster_id")) == direct)
    } finally { out.unpersist(); () }
  }

  test("decontaminateFrames == any sampled frame near any eval image") {
    val videos = Multimodal.syntheticGifVariants(spark,
      docs.filter(col("doc_id") < 60), groups = 20)
    val eval = Multimodal.syntheticGifFrameImages(
      spark, docs.filter(col("doc_id") < 5), groups = 20, frame = 1)
    val direct = Cached.scope { s =>
      val frames = s.hold(VideoDedup.hashFrames(videos))
      val hits = HammingBands.explodeBands(
        frames.select(col("media_id"), col("fhash").as("__hc")), "__hc", 3)
        .join(HammingBands.explodeBands(ImageDedup.hashImages(eval)
          .select(col("dhash").as("__he")), "__he", 3), Seq("band", "value"))
        .filter(bit_count(col("__hc").bitwiseXOR(col("__he"))) <= 3)
        .select("media_id").distinct()
      rows(HammingBands.flag(frames.select("media_id").distinct(), hits,
        "media_id"))
    }
    val out = VideoDedup.decontaminateFrames(videos, eval, maxHamming = 3)
    try {
      assert(out.filter(col("contaminated")).count() > 0,
        "fixture must contain contaminated videos")
      assert(rows(out) == direct)
    } finally { out.unpersist(); () }
  }
}
