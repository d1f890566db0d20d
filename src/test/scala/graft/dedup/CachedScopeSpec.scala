package graft.dedup

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{SparkSpec, Tables}
import graft.multimodal.{AudioDedup, ImageDedup, MediaPipeline, Multimodal,
  VideoDedup}
import graft.streaming.{MediaDedupIngest, Streams}

/** The [[Cached]] contract in ONE long-lived session: every media dedup
  * face leaves exactly its returned frame's cache behind (none for a
  * lazy face, none after a refusal), and nothing once the caller
  * unpersists it — so a session running face after face (a flow
  * service, continuous ingest) never accumulates cached frames. */
class CachedScopeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs =
    Tables.load(spark, sf, "documents").filter(col("doc_id") < 40)
  private lazy val images =
    Multimodal.syntheticImageVariants(spark, docs, groups = 10)
  private lazy val clips =
    Multimodal.syntheticAudioShiftVariants(spark, docs, groups = 10)
  private lazy val videos =
    Multimodal.syntheticGifVariants(spark, docs, groups = 10)

  private def cachedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Run `face`; afterwards the only new cache is the returned frame's
    * own, and none remains once the caller unpersists it. */
  private def leavesOnlyItsResult(name: String)(face: => DataFrame): Unit = {
    val before = cachedIds
    val out = face
    val expected = if (out.storageLevel == StorageLevel.NONE) 0 else 1
    val left = cachedIds -- before
    assert(left.size == expected,
      s"$name left ${left.size} cached RDDs, expected $expected")
    out.unpersist()
    assert((cachedIds -- before).isEmpty,
      s"$name: ${(cachedIds -- before).size} cached RDDs outlive its result")
  }

  /** A `maxEval` refusal releases everything the face cached. */
  private def refusesCleanly(name: String)(face: => DataFrame): Unit = {
    val before = cachedIds
    val e = intercept[IllegalArgumentException](face)
    assert(e.getMessage.contains("maxEval"), e.getMessage)
    assert((cachedIds -- before).isEmpty,
      s"$name's refusal left ${(cachedIds -- before).size} cached RDDs")
  }

  test("image faces leave only their result cached, refusals nothing") {
    val eval = images.filter(col("media_id") < 3)
    val committed = ImageDedup.hashImages(eval)
      .select(col("dhash").cast("string").as("h"))
    leavesOnlyItsResult("exactGroups")(ImageDedup.exactGroups(images))
    leavesOnlyItsResult("canonicalGroups")(ImageDedup.canonicalGroups(images))
    leavesOnlyItsResult("nearDupPairs")(
      ImageDedup.nearDupPairs(ImageDedup.hashImages(images), maxHamming = 3))
    leavesOnlyItsResult("clusters")(ImageDedup.clusters(images, 3))
    leavesOnlyItsResult("survivorsByResolution")(
      ImageDedup.survivorsByResolution(images, 3))
    leavesOnlyItsResult("incrementalSurvivors")(
      ImageDedup.incrementalSurvivors(images, committed))
    leavesOnlyItsResult("decontaminate")(
      ImageDedup.decontaminate(images, eval, 3))
    leavesOnlyItsResult("rotationClusters")(
      ImageDedup.rotationClusters(images, 3))
    leavesOnlyItsResult("decontaminateRotations")(
      ImageDedup.decontaminateRotations(images, eval, 3))
    leavesOnlyItsResult("sharedTilePairs")(
      ImageDedup.sharedTilePairs(images, 16, 16, maxHamming = 2))
    leavesOnlyItsResult("cropClusters")(
      ImageDedup.cropClusters(images, 16, 16, maxHamming = 2))
    leavesOnlyItsResult("decontaminateTiles")(
      ImageDedup.decontaminateTiles(images, eval, 16, 16, maxHamming = 2))
    refusesCleanly("decontaminate")(
      ImageDedup.decontaminate(images, images, 3, maxEval = 2L))
    refusesCleanly("decontaminateRotations")(
      ImageDedup.decontaminateRotations(images, images, 3, maxEval = 2L))
    refusesCleanly("decontaminateTiles")(
      ImageDedup.decontaminateTiles(images, images, 16, 16, 2, maxEval = 2L))
  }

  test("audio faces leave only their result cached, refusals nothing") {
    val eval = clips.filter(col("media_id") < 3)
    val committed = AudioDedup.hashAudio(eval)
      .select(col("ahash").cast("string").as("h"))
    leavesOnlyItsResult("exactGroups")(AudioDedup.exactGroups(clips))
    leavesOnlyItsResult("nearDupPairs")(
      AudioDedup.nearDupPairs(AudioDedup.hashAudio(clips), maxHamming = 8))
    leavesOnlyItsResult("clusters")(AudioDedup.clusters(clips, 8))
    leavesOnlyItsResult("incrementalSurvivors")(
      AudioDedup.incrementalSurvivors(clips, committed))
    leavesOnlyItsResult("decontaminate")(
      AudioDedup.decontaminate(clips, eval, 8))
    leavesOnlyItsResult("sharedWindowPairs")(
      AudioDedup.sharedWindowPairs(clips, 400, 400, maxHamming = 2))
    leavesOnlyItsResult("shiftClusters")(
      AudioDedup.shiftClusters(clips, 400, 400, maxHamming = 2))
    leavesOnlyItsResult("survivorsByWindows")(
      AudioDedup.survivorsByWindows(clips, 400, 400, maxHamming = 2))
    leavesOnlyItsResult("decontaminateWindows")(
      AudioDedup.decontaminateWindows(clips, eval, 400, 400, maxHamming = 2))
    refusesCleanly("decontaminate")(
      AudioDedup.decontaminate(clips, clips, 8, maxEval = 2L))
    refusesCleanly("decontaminateWindows")(
      AudioDedup.decontaminateWindows(clips, clips, 400, 400, 2,
        maxEval = 2L))
  }

  test("video faces leave only their result cached, refusals nothing") {
    val eval = videos.filter(col("media_id") < 3)
    val committed = VideoDedup.hashVideos(eval)
      .select(col("vhash").cast("string").as("h"))
    leavesOnlyItsResult("exactGroups")(VideoDedup.exactGroups(videos))
    leavesOnlyItsResult("exactGroupsAtFps")(
      VideoDedup.exactGroupsAtFps(videos, fps = 10))
    leavesOnlyItsResult("nearDupPairs")(
      VideoDedup.nearDupPairs(VideoDedup.hashVideos(videos), maxHamming = 4))
    leavesOnlyItsResult("clusters")(VideoDedup.clusters(videos, 4))
    leavesOnlyItsResult("incrementalSurvivors")(
      VideoDedup.incrementalSurvivors(videos, committed))
    leavesOnlyItsResult("decontaminate")(
      VideoDedup.decontaminate(videos, eval, 4))
    leavesOnlyItsResult("decontaminateAtFps")(
      VideoDedup.decontaminateAtFps(videos, eval, fps = 10, maxHamming = 4))
    leavesOnlyItsResult("decontaminateFrames")(
      VideoDedup.decontaminateFrames(videos, images.filter(col("media_id") < 3),
        maxHamming = 3))
    leavesOnlyItsResult("sharedFramePairs")(
      VideoDedup.sharedFramePairs(videos, maxHamming = 3))
    leavesOnlyItsResult("overlapClusters")(
      VideoDedup.overlapClusters(videos, maxHamming = 3))
    leavesOnlyItsResult("survivorsByFrames")(
      VideoDedup.survivorsByFrames(videos, maxHamming = 3))
    refusesCleanly("decontaminate")(
      VideoDedup.decontaminate(videos, videos, 4, maxEval = 2L))
    refusesCleanly("decontaminateAtFps")(
      VideoDedup.decontaminateAtFps(videos, videos, 10, 4, maxEval = 2L))
    refusesCleanly("decontaminateFrames")(
      VideoDedup.decontaminateFrames(videos, images, 3, maxEval = 2L))
  }

  test("composed curation leaves only its result cached") {
    val mixed = Multimodal.syntheticMediaPipelineMix(spark, docs)
    val eval = mixed.filter(col("media_id") < 3)
    leavesOnlyItsResult("curate")(MediaPipeline.curate(mixed, eval, 3))
    leavesOnlyItsResult("curateDeep")(
      MediaPipeline.curateDeep(mixed, eval, 3))
    refusesCleanly("curate")(MediaPipeline.curate(mixed, mixed, 3,
      maxEval = 2L))
  }

  test("a two-batch part-hash ingest leaves nothing cached") {
    val in = tmpDir("cached-in")
    val store = tmpDir("cached-store") + "/store"
    Seq(clips.filter(col("media_id") < 20), clips.filter(col("media_id") >= 20))
      .zipWithIndex.foreach { case (s, i) =>
        s.coalesce(1).write.parquet(s"$in/f$i")
        new File(s"$in/f$i").listFiles()
          .foreach(_.setLastModified(1000000L * (i + 1)))
      }
    val before = cachedIds
    MediaDedupIngest.start(
      Streams.fileReplay(spark, s"$in/*", clips.schema), store,
      tmpDir("cached-ckpt"), modality = "audio", partHashes = true)
      .awaitTermination()
    assert(new File(s"$store/survivors/batch=1").exists(),
      "expected two admission batches")
    assert((cachedIds -- before).isEmpty,
      s"ingest left ${(cachedIds -- before).size} cached RDDs")
  }

  test("a scope releases on refusal and keeps only the returned frame") {
    val before = cachedIds
    val kept = Cached.scope { s =>
      val a = s.hold(spark.range(10).toDF("id")); a.count()
      val b = s.hold(a.filter(col("id") > 3)); b.count()
      b
    }
    assert((cachedIds -- before).size == 1)
    assert(kept.as[Long].collect().toSeq == (4L until 10L))
    kept.unpersist()
    assert((cachedIds -- before).isEmpty)
    intercept[IllegalArgumentException] {
      Cached.scope { s =>
        s.hold(spark.range(5).toDF("id")).count(): Unit
        require(false, "refused")
      }
    }
    assert((cachedIds -- before).isEmpty)
  }
}
