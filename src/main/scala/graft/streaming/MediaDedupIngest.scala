package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.dedup.Cached

import graft.multimodal.{AudioDedup, ImageDedup, MediaPipeline, VideoDedup}

/** Streaming perceptual-media ADMISSION: every micro-batch of media
  * records dedups against everything COMMITTED by earlier batches
  * (Bloom-prefiltered O(batch) through [[graft.dedup.IncrementalDedup]])
  * and only first-seen content lands — the continuous crawl-ingestion
  * shape for images/audio/video, the media face of the streaming text
  * dedup.
  *
  * Exactly-once by LAYOUT (the [[VectorIndexIngest]] contract applied to
  * a dedup store): survivors and their fingerprints publish under
  * `batch=<id>` dirs by overwrite, keyed by the micro-batch id, so a
  * replay of a failed batch republishes byte-identically. The committed
  * side a batch reads is `batch < id` — exactly the state the original
  * attempt saw, because foreachBatch processes ids in order and batch
  * id's own (possibly partial) output is excluded from its replay's
  * read. Store identity is bound to the feeding checkpoint lineage
  * ([[StreamIdentity]]): a recreated checkpoint would restart ids at 0
  * and overwrite committed partitions, so it REFUSES until explicitly
  * rebound.
  *
  * Scale shape: each batch pays one decode pass (the hash frame is
  * persisted across the survivor computation and both writes), one
  * Bloom build over committed hashes (8-byte rows — the payloads are
  * never re-read), and an exact anti-join over only the Bloom-positive
  * sliver.
  */
object MediaDedupIngest {

  /** Number of hash-prefix buckets committed hash/parts stores are
    * partitioned into (`batch=<id>/hb=<bucket>/...`): Bloom-positive
    * exact-verify prunes to the probe's bucket set instead of scanning
    * every committed partition — at 10⁹ committed items a
    * duplicate-carrying batch reads ~1/64th of the hash store. */
  private[streaming] val NumBuckets = 64

  /** The bucket of a fingerprint string — the committed stores'
    * partition key. An equi-match on the hash value implies an equal
    * bucket, so pruning the committed side to the probe's buckets is
    * byte-identical to the full scan. */
  private[streaming] def bucketOf(c: org.apache.spark.sql.Column) =
    pmod(xxhash64(c), lit(NumBuckets.toLong))

  /** Prune a bucketed committed store to the probe's bucket set (a
    * partition-pruned scan); frames without the bucket column — the
    * empty first-batch view — pass through unpruned. */
  private def pruneBuckets(committed: DataFrame,
                           buckets: Array[Long]): DataFrame =
    if (!committed.columns.contains("hb")) committed
    else committed.filter(col("hb").isin(buckets.toSeq: _*))


  /** Start admitting `stream` (canonical media schema) into
    * `storePath`: survivors land under `storePath/survivors/batch=<id>`
    * (full records), fingerprints under `storePath/hashes/batch=<id>/
    * hb=<bucket>` (one string column `h`, partitioned by hash-prefix
    * bucket so later batches' exact-verify prunes to matching buckets).
    * `modality` selects the hash pass; `every` is the video
    * frame-sampling stride.
    *
    * The committed-side Bloom PREFILTER is O(batches-since-compaction),
    * not O(corpus): each batch persists a right-sized sketch of its
    * admitted hashes (`sketches/sketch-<id>.bloom`, byte-deterministic
    * so replays overwrite identically), and later batches load sketches
    * instead of re-scanning every committed hash partition. Once more
    * than `maxSketches` sketches accumulate — or a sketch is missing
    * (legacy store) — ONE full pass rebuilds a compacted sketch
    * (`sketches/compact-upto-<id>.bloom`) and the per-file count resets.
    * Admissions are byte-identical either way: sketches jointly cover
    * every committed hash and Bloom positives still verify exactly.
    *
    * With `qualityGate = true` the admission is GATED: each batch runs
    * the composed profile pass ([[MediaPipeline.profile]] — modality
    * quality gates AND the perceptual fingerprint from the SAME single
    * decode, so gating costs no extra decode) and records failing their
    * modality's gates are rejected BEFORE dedup — they never commit a
    * fingerprint, so a later clean copy of the same content can still be
    * admitted. Rejected ids land under `gated/batch=<id>` (deterministic
    * overwrite — replays republish byte-identically) for audit.
    *
    * With `scrubMetadata = true` admitted payloads are container-
    * metadata-scrubbed ([[graft.multimodal.MediaScrub]]) before
    * publishing — a deterministic byte-level walk (replay-identical)
    * that never touches the sample stream, so fingerprints computed on
    * the raw payload still match the scrubbed survivor.
    *
    * With `partHashes = true` admission is additionally PART-level: the
    * profile pass emits the record's shift/crop-tolerant sub-hashes
    * (image tiles, audio windows, video frames — [[MediaPipeline
    * .profileDeep]], same SINGLE decode) and a record is REFUSED when at
    * least `minSharedParts` of its part values were already committed —
    * the duplicate classes whole-content admission cannot see (a TRIMMED
    * clip, a CROPPED image, a CLIPPED video of committed content admits
    * as "new" on its whole hash). Admitted records commit their part
    * values under `parts/batch=<id>` with their own Bloom sketches
    * (`psketch-`/`pcompact-`), so the part prefilter stays
    * O(batches-since-compaction) too. Matching is EXACT on hop/tile-
    * aligned part values (the batch faces' Hamming-tolerant pairing
    * handles noisy edits; admission guards the aligned-cut class).
    * Part refusal is also applied WITHIN a batch: a trimmed copy
    * arriving in the same micro-batch as its base refuses against the
    * parts of lower-media_id batch records, in ONE pass keyed on each
    * part value's minimum holder. The pass is non-cascading — in a
    * chain base <- trim <- re-trim, the re-trim refuses even though the
    * trim's parts never commit — which errs CONSERVATIVE: an aligned
    * cut of in-batch content never admits. Refused ids land under
    * `part_refused/batch=<id>` for audit ([[partRefused]] /
    * [[admissionCard]]'s n_part_refused). The
    * store's `_format.json` binds the part spec — a store built with
    * different tile/window geometry (or none) refuses loudly, because
    * its committed part values would silently never match — and the
    * bucket layout, because a flat legacy store mixed with bucketed
    * batch dirs would break partition discovery. */
  def start(stream: DataFrame, storePath: String, checkpointDir: String,
            modality: String = "image", fpp: Double = 0.01,
            trigger: Trigger = Trigger.AvailableNow(),
            every: Int = 1, maxSketches: Int = 16,
            qualityGate: Boolean = false,
            scrubMetadata: Boolean = false,
            partHashes: Boolean = false, minSharedParts: Int = 2,
            tileW: Int = 16, tileH: Int = 16,
            windowFrames: Int = 400, hopFrames: Int = 400,
            silenceFloor: Long = 100L): StreamingQuery = {
    require(minSharedParts >= 1,
      s"minSharedParts=$minSharedParts must be >= 1")
    val spark = stream.sparkSession
    val (hashOf, hcol): (DataFrame => DataFrame, String) = modality match {
      case "image" => (ImageDedup.hashImages(_), "dhash")
      case "audio" => (AudioDedup.hashAudio(_), "ahash")
      case "video" => ((df: DataFrame) => VideoDedup.hashVideos(df, every),
        "vhash")
      case other => throw new IllegalArgumentException(
        s"unknown media modality '$other' (image, audio, video)")
    }
    val partsSpec =
      if (!partHashes) "none"
      else modality match {
        case "image" => s"tiles=${tileW}x$tileH;minShared=$minSharedParts"
        case "audio" =>
          s"windows=$windowFrames/$hopFrames/$silenceFloor" +
            s";minShared=$minSharedParts"
        case "video" => s"frames=every$every;minShared=$minSharedParts"
      }
    StreamIdentity.guard(spark, storePath, checkpointDir)
    guardFormat(spark, storePath, modality, partsSpec)
    val query = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Cached.scope { cache =>
          val s = batch.sparkSession
          val committed = committedHashes(s, storePath, batchId)
          val blooms = committedBlooms(s, storePath, batchId, fpp, maxSketches)
          // the modality policy check rides the decode pass's own
          // materializing aggregate below (one job, not a separate count;
          // profile switches per media_type, so wrong-modality records
          // decode as their OWN type before the check refuses the batch —
          // nothing is written either way)
          val hashed =
            if (qualityGate || partHashes) {
              if (partHashes)
                // gates + whole hash + part hashes from ONE decode
                MediaPipeline.profileDeep(batch, tileW = tileW, tileH = tileH,
                  windowFrames = windowFrames, hopFrames = hopFrames,
                  silenceFloor = silenceFloor, every = every)
                  .select(col("media_id"), col("media_type").as("__mt"),
                    col("chash").as(hcol),
                    (if (qualityGate) col("passes") else lit(true))
                      .as("passes"),
                    col("parts"))
              else
                MediaPipeline.profile(batch, every = every)
                  .select(col("media_id"), col("media_type").as("__mt"),
                    col("chash").as(hcol),
                    col("passes"), lit(null).as("parts"))
            } else hashOf(batch).withColumn("__mt", lit(modality))
              .withColumn("passes", lit(true))
              .withColumn("parts", lit(null))
          val hashes = cache.hold(hashed)
          // ONE materializing job: decode every record into the cache,
          // count modality violations, and collect the batch's hash-bucket
          // set (the committed-side partition prune) — the earlier shape
          // paid three separate jobs for these
          val head = hashes.agg(
            coalesce(sum(when(col("__mt") =!= modality, 1L).otherwise(0L)),
              lit(0L)),
            collect_set(bucketOf(col(hcol).cast("string")))).collect()(0)
          val nWrong = head.getLong(0)
          require(nWrong == 0,
            s"batch $batchId carries $nWrong non-$modality records — " +
              "this store admits a single modality; route mixed crawls " +
              "through one store per modality")
          val batchBuckets = head.getSeq[Long](1).toArray
          if (qualityGate)
            hashes.filter(!col("passes")).select("media_id")
              .write.mode("overwrite")
              .parquet(s"$storePath/gated/batch=$batchId")
          // part-level refusals: records sharing >= minSharedParts
          // committed part values (Bloom-prefiltered, exact-verified —
          // the same O(batch) shape as the whole-hash path). batchParts
          // stays persisted for the whole batch: the refusal legs AND
          // the survivor part commit read it.
          val batchParts =
            if (!partHashes) None
            else Some(cache.hold(hashes.filter(col("passes"))
              .select(col("media_id"), explode(col("parts")).as("__p"))
              .select(col("media_id"),
                col("__p._3").cast("string").as("__ph"))
              .distinct()))
          // one materializing job per part frame: fills the cache and
          // returns the part bucket set for the committed-side prune
          val partBuckets = batchParts.map(bp =>
            bp.agg(collect_set(bucketOf(col("__ph")))).collect()(0)
              .getSeq[Long](0).toArray)
          val partDups = batchParts.map { bp =>
            val committedParts =
              committedHashes(s, storePath, batchId, sub = "parts")
            val partBlooms = committedBlooms(s, storePath, batchId, fpp,
              maxSketches, sub = "parts", sketchPrefix = "psketch-",
              compactPrefix = "pcompact-upto-")
            val fromCommitted =
              if (partBlooms.isEmpty)
                bp.limit(0)
              else {
                val bc = s.sparkContext.broadcast(partBlooms.toArray)
                val might = udf((v: String) =>
                  v != null && bc.value.exists(_.mightContain(v)))
                // bucket-pruned exact verify: only committed hb
                // partitions matching the batch's part buckets scan
                bp.filter(might(col("__ph")))
                  .join(pruneBuckets(committedParts, partBuckets.get)
                    .select(col("h")).distinct(),
                    col("__ph") === col("h"), "left_semi")
              }
            // within-batch refusal: a trimmed copy arriving WITH its
            // base refuses against lower-media_id peers' parts — one
            // pass keyed on each value's minimum holder (a value is
            // shared with SOME lower id iff its min holder is lower).
            // Non-cascading by design: conservative, deterministic
            val minHolder = bp.groupBy(col("__ph"))
              .agg(min(col("media_id")).as("__minId"))
            val fromBatch = bp.join(minHolder, Seq("__ph"))
              .filter(col("media_id") > col("__minId"))
              .select(col("media_id"), col("__ph"))
            cache.hold(fromCommitted.select(col("media_id"), col("__ph"))
              .unionByName(fromBatch).distinct()
              .groupBy("media_id")
              .agg(count(lit(1)).as("__n"))
              .filter(col("__n") >= minSharedParts)
              .select("media_id"))
          }
          // the refusal audit trail feeding admissionCard's
          // n_part_refused (deterministic overwrite, replay-identical);
          // this write is also partDups' materializing action — the
          // admission anti-join below reads the filled cache
          partDups.foreach(_.write.mode("overwrite")
            .parquet(s"$storePath/part_refused/batch=$batchId"))
          val admissible = partDups.fold(hashes.filter(col("passes")))(
            pd => hashes.filter(col("passes"))
              .join(pd, Seq("media_id"), "left_anti"))
          // bucket-pruned exact verify: committed hb partitions
          // outside the batch's bucket set never scan (sketch loads
          // already skip the store entirely when blooms is empty)
          val committedPruned =
            if (blooms.isEmpty) committed
            else pruneBuckets(committed, batchBuckets)
          val surv = cache.hold(
            graft.dedup.IncrementalDedup.survivorsWithBlooms(
              admissible, committedPruned, "media_id",
              col(hcol).cast("string"), blooms))
          val nSurv = surv.count()
          val hashDir = new Path(s"$storePath/hashes/batch=$batchId")
          val hfs = hashDir.getFileSystem(
            s.sparkContext.hadoopConfiguration)
          // an all-duplicate batch commits NO hash partition (a
          // zero-row partitionBy write would leave a fileless dir
          // that breaks later partition discovery); determinism
          // holds — a replay recomputes the same empty set
          // (the tail publishes stay SEQUENTIAL deliberately: an A/B
          // with the four pieces on concurrent driver threads ran
          // 1.5x SLOWER — at micro-batch sizes the concurrent tiny
          // jobs fight over scheduling/codegen locks instead of
          // back-filling cores)
          if (nSurv == 0) { hfs.delete(hashDir, true): Unit }
          else
            surv.select(col("content_hash").as("h"))
              .withColumn("hb", bucketOf(col("h")))
              .write.mode("overwrite").partitionBy("hb")
              .parquet(hashDir.toString)
          val kept = batch.join(surv.select("media_id"),
            Seq("media_id"), "left_semi")
          // on-admit metadata scrub: a deterministic byte-level chunk
          // walk (replays republish identically) that never changes
          // the sample stream, so the committed fingerprint still
          // matches the scrubbed payload
          (if (scrubMetadata) graft.multimodal.MediaScrub.scrub(kept)
           else kept)
            .write.mode("overwrite")
            .parquet(s"$storePath/survivors/batch=$batchId")
          writeBatchSketch(s, storePath, batchId,
            surv.select(col("content_hash").as("h")), nSurv, fpp)
          batchParts.foreach { bp =>
            // survivor part values from the CACHED part frame (the
            // earlier shape re-exploded the hash cache here)
            val survParts = cache.hold(bp
              .join(surv.select("media_id"), Seq("media_id"),
                "left_semi")
              .select(col("__ph").as("h"))
              .distinct())
            val nParts = survParts.count()
            val partDir = new Path(s"$storePath/parts/batch=$batchId")
            if (nParts == 0) { hfs.delete(partDir, true): Unit }
            else
              survParts.withColumn("hb", bucketOf(col("h")))
                .write.mode("overwrite").partitionBy("hb")
                .parquet(partDir.toString)
            writeBatchSketch(s, storePath, batchId, survParts,
              nParts, fpp, sketchPrefix = "psketch-")
          }
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
    if (StreamIdentity.read(spark, storePath).isEmpty)
      StreamIdentity.write(spark, storePath, checkpointDir,
        query.id.toString)
    query
  }

  /** The fingerprint format this build produces for `modality` — the
    * store refuses admission when its committed hashes were written
    * under a different format (the hashes would silently stop matching
    * and previously-deduped content would be re-admitted). */
  def formatVersion(modality: String): Int = modality match {
    case "image" => ImageDedup.fingerprintFormatVersion
    case "audio" => AudioDedup.fingerprintFormatVersion
    case "video" => VideoDedup.fingerprintFormatVersion
    case other => throw new IllegalArgumentException(
      s"unknown media modality '$other' (image, audio, video)")
  }

  private def formatTokenPath(storePath: String) =
    new Path(storePath, "_format.json")

  /** Fingerprint-format binding (`_format.json`: modality + format
    * version + part spec, written on first start). A store whose
    * recorded format differs from this build's — or a legacy store with
    * committed hashes but no token — REFUSES admission loudly:
    * mixed-version fingerprints never match, so every duplicate would
    * be re-admitted silently. The PART spec binds the same way: part
    * values under a different tile/window geometry (or a store built
    * without parts) never match, so a trimmed re-upload would silently
    * admit. Rebuild the store (or re-hash its survivors) after a
    * format/spec change. */
  private def guardFormat(spark: SparkSession, storePath: String,
                          modality: String,
                          partsSpec: String = "none"): Unit = {
    val fmt = formatVersion(modality)
    readFormat(spark, storePath) match {
      case Some((boundMod, boundFmt)) =>
        require(boundMod == modality,
          s"store $storePath holds '$boundMod' fingerprints but this " +
            s"stream admits '$modality' — the hash spaces are unrelated; " +
            "use a separate store per modality")
        require(boundFmt == fmt,
          s"store $storePath holds $boundMod fingerprints in format " +
            s"v$boundFmt but this build produces v$fmt — committed " +
            "hashes would silently stop matching and previously-deduped " +
            "content would be re-admitted; rebuild the store before " +
            "admitting")
        val boundParts = readPartsSpec(spark, storePath)
        require(boundParts == partsSpec,
          s"store $storePath was built with part spec '$boundParts' but " +
            s"this stream runs '$partsSpec' — committed part values " +
            "would silently never match (or trimmed/cropped re-uploads " +
            "of earlier content would silently admit); rebuild the " +
            "store or match the spec")
        val boundLayout = readLayout(spark, storePath)
        require(boundLayout == Layout,
          s"store $storePath lays out committed hashes as " +
            s"'$boundLayout' but this build writes and prunes " +
            s"'$Layout' bucket dirs — appending bucketed batch dirs to " +
            "a flat store breaks partition discovery for every later " +
            "read; rebuild the store (re-hash its survivors) first")
      case None =>
        val hashes = new Path(s"$storePath/hashes")
        val fs = hashes.getFileSystem(spark.sparkContext.hadoopConfiguration)
        require(!fs.exists(hashes),
          s"store $storePath has committed fingerprints but no " +
            "_format.json — it predates format versioning and its " +
            "format cannot be verified; rebuild it (or write " +
            "_format.json by hand after confirming the format)")
        writeFormat(spark, storePath, modality, fmt, partsSpec)
    }
  }

  private[streaming] def readFormat(spark: SparkSession,
                                    storePath: String): Option[(String, Int)] = {
    val p = formatTokenPath(storePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val rx = "\"modality\"\\s*:\\s*\"([^\"]+)\"[\\s\\S]*\"format\"\\s*:\\s*(\\d+)".r
      rx.findFirstMatchIn(s).map(m => (m.group(1), m.group(2).toInt))
    }
  }

  /** The hash/parts store layout this build writes: `batch=<id>/
    * hb=<bucket>` hash-prefix partitioning ([[NumBuckets]] buckets). */
  private[streaming] val Layout = s"hb$NumBuckets"

  /** The recorded store layout; tokens predating bucketed stores (no
    * `layout` field) read as "flat" — unpartitioned batch dirs. */
  private[streaming] def readLayout(spark: SparkSession,
                                    storePath: String): String = {
    val p = formatTokenPath(storePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Layout
    else {
      val in = fs.open(p)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val rx = "\"layout\"\\s*:\\s*\"([^\"]+)\"".r
      rx.findFirstMatchIn(s).map(_.group(1)).getOrElse("flat")
    }
  }

  /** The recorded part spec; tokens predating part-hash admission (no
    * `parts` field) read as "none" — those stores committed no parts. */
  private[streaming] def readPartsSpec(spark: SparkSession,
                                       storePath: String): String = {
    val p = formatTokenPath(storePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) "none"
    else {
      val in = fs.open(p)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val rx = "\"parts\"\\s*:\\s*\"([^\"]+)\"".r
      rx.findFirstMatchIn(s).map(_.group(1)).getOrElse("none")
    }
  }

  private[streaming] def writeFormat(spark: SparkSession, storePath: String,
                                     modality: String, fmt: Int,
                                     partsSpec: String = "none",
                                     layout: String = Layout): Unit = {
    val p = formatTokenPath(storePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val json =
      s"""{"modality":"$modality","format":$fmt,"parts":"$partsSpec",""" +
        s""""layout":"$layout"}"""
    val out = fs.create(p, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Load the committed-side Bloom prefilter for `batchId` from
    * persisted sketches — O(batches-since-compaction) small-file reads
    * instead of an O(corpus) hash re-scan per micro-batch. Returns one
    * sketch per uncompacted committed batch plus at most one compacted
    * sketch; a record is prefiltered when ANY of them might contain it
    * (checking a list sidesteps Bloom merge-compatibility — each sketch
    * stays right-sized for its batch). When the list would exceed
    * `maxSketches`, or any committed batch lacks its sketch (a store
    * predating sketches), ONE full pass over the committed hashes
    * rebuilds `compact-upto-<batchId>.bloom` and supersedes the old
    * compact. Empty committed view returns Nil. */
  private[streaming] def committedBlooms(spark: SparkSession,
                                         storePath: String, batchId: Long,
                                         fpp: Double, maxSketches: Int,
                                         sub: String = "hashes",
                                         sketchPrefix: String = "sketch-",
                                         compactPrefix: String =
                                           "compact-upto-")
      : Seq[org.apache.spark.util.sketch.BloomFilter] = {
    val hashesDir = new Path(s"$storePath/$sub")
    val fs = hashesDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committedIds =
      if (!fs.exists(hashesDir)) Seq.empty[Long]
      else fs.listStatus(hashesDir).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("batch="))
        .map(_.stripPrefix("batch=").toLong)
        .filter(_ < batchId).sorted
    if (committedIds.isEmpty) return Nil
    val sketchDir = new Path(s"$storePath/sketches")
    val compactUpTo =
      if (!fs.exists(sketchDir)) None
      else fs.listStatus(sketchDir).toSeq.map(_.getPath.getName)
        .filter(_.startsWith(compactPrefix))
        .map(_.stripPrefix(compactPrefix).stripSuffix(".bloom").toLong)
        .filter(_ <= batchId) // a later lineage's compact would over-cover
        .sorted.lastOption
    val uncompacted = committedIds.filter(b => compactUpTo.forall(b >= _))
    val batchSketches = uncompacted.map(b =>
      new Path(sketchDir, s"$sketchPrefix$b.bloom"))
    val total = batchSketches.size + compactUpTo.size
    if (batchSketches.forall(fs.exists) && total <= maxSketches) {
      val compact = compactUpTo.toSeq.map(c =>
        readSketch(fs, new Path(sketchDir, s"$compactPrefix$c.bloom")))
      compact ++ batchSketches.map(readSketch(fs, _))
    } else {
      // compaction / legacy fallback: ONE full committed pass, then the
      // per-batch file count resets
      val committed = committedHashes(spark, storePath, batchId, sub)
        .select(col("h")).distinct()
      val n = committed.count()
      // stat.bloomFilter NPEs on an empty frame (the aggregate yields
      // null bytes) — an all-empty committed history sketches as empty
      val bloom =
        if (n == 0) org.apache.spark.util.sketch.BloomFilter.create(1L, fpp)
        else committed.stat.bloomFilter("h", n, fpp)
      val out = fs.create(
        new Path(sketchDir, s"$compactPrefix$batchId.bloom"), true)
      try bloom.writeTo(out) finally out.close()
      // superseded compacts are dead weight; sweep them (best effort)
      compactUpTo.foreach { c =>
        if (c != batchId)
          fs.delete(new Path(sketchDir, s"$compactPrefix$c.bloom"),
            false): Unit
      }
      Seq(bloom)
    }
  }

  /** Persist this batch's sketch over its ADMITTED hashes — sized to the
    * batch, byte-deterministic (same survivors insert the same bits), so
    * a replay's overwrite is idempotent. */
  private def writeBatchSketch(spark: SparkSession, storePath: String,
                               batchId: Long, survHashes: DataFrame,
                               n: Long, fpp: Double,
                               sketchPrefix: String = "sketch-"): Unit = {
    // stat.bloomFilter NPEs on an empty frame — an all-duplicate batch
    // admits nothing and sketches as empty
    val bloom =
      if (n == 0) org.apache.spark.util.sketch.BloomFilter.create(1L, fpp)
      else survHashes.stat.bloomFilter("h", n, fpp)
    val p = new Path(s"$storePath/sketches/$sketchPrefix$batchId.bloom")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try bloom.writeTo(out) finally out.close()
  }

  private def readSketch(fs: org.apache.hadoop.fs.FileSystem,
                         p: Path): org.apache.spark.util.sketch.BloomFilter = {
    val in = fs.open(p)
    try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
    finally in.close()
  }

  /** All fingerprints committed by batches STRICTLY BEFORE `batchId` —
    * the replay-stable committed view. `sub` selects the value store
    * ("hashes" = whole-content fingerprints, "parts" = part values).
    * Read with the store root as basePath so `hb` (and `batch`) surface
    * as partition columns — a filter on `hb` prunes committed bucket
    * dirs at the scan instead of reading every partition. */
  private def committedHashes(spark: SparkSession, storePath: String,
                              batchId: Long,
                              sub: String = "hashes"): DataFrame = {
    val dir = new Path(s"$storePath/$sub")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs =
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).toSeq.map(_.getPath)
        .filter(_.getName.startsWith("batch="))
        .filter(_.getName.stripPrefix("batch=").toLong < batchId)
        .map(_.toString)
    if (dirs.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("h", StringType))))
    else spark.read.option("basePath", dir.toString).parquet(dirs: _*)
  }

  /** Every admitted record across all committed batches. An idle store
    * (the feeding stream had an EMPTY backlog, so AvailableNow ran no
    * batch and never created the dir) reads as zero survivors, not a
    * path-not-found crash — a scheduled flow node must report
    * survivors=0 on an idle run. */
  def survivors(spark: SparkSession, storePath: String): DataFrame = {
    val dir = new Path(s"$storePath/survivors")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        graft.multimodal.Multimodal.mediaSchema
          .add(StructField("batch", org.apache.spark.sql.types.LongType)))
    else
      spark.read.option("basePath", s"$storePath/survivors")
        .parquet(s"$storePath/survivors")
        .withColumn("batch", col("batch").cast("long"))
  }

  /** Every quality-REJECTED record id across all committed batches of a
    * gated store ((media_id, batch) rows). An ungated or idle store —
    * the dir was never created — reads as empty, mirroring
    * [[survivors]]' idle handling. */
  def gated(spark: SparkSession, storePath: String): DataFrame = {
    val dir = new Path(s"$storePath/gated")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField("media_id", org.apache.spark.sql.types.LongType),
          StructField("batch", org.apache.spark.sql.types.LongType))))
    else
      spark.read.option("basePath", s"$storePath/gated")
        .parquet(s"$storePath/gated")
        .withColumn("batch", col("batch").cast("long"))
  }

  /** Every PART-level refusal across committed batches of a part-hash
    * store ((media_id, batch) rows — records whose trimmed/cropped/
    * clipped content shared >= minSharedParts committed or lower-id
    * in-batch part values). A store without part admission — the dir
    * was never created — reads as empty, mirroring [[gated]]. */
  def partRefused(spark: SparkSession, storePath: String): DataFrame = {
    val dir = new Path(s"$storePath/part_refused")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField("media_id", org.apache.spark.sql.types.LongType),
          StructField("batch", org.apache.spark.sql.types.LongType))))
    else
      spark.read.option("basePath", s"$storePath/part_refused")
        .parquet(s"$storePath/part_refused")
        .withColumn("batch", col("batch").cast("long"))
  }

  /** Per-batch ADMISSION CARD of a dedup store: (batch, n_admitted,
    * n_gated, n_part_refused) for every batch that admitted or rejected
    * at least one record — the ops view of continuous crawl ingestion
    * (an admission rate collapsing toward zero means the crawl is
    * re-seeing committed content; a gated-rate spike means a quality
    * regression upstream; a part-refusal spike means trimmed/cropped
    * re-uploads of committed content are arriving). Reads only ids and
    * the batch partition column — payloads prune out of every scan. */
  def admissionCard(spark: SparkSession, storePath: String): DataFrame = {
    val s = survivors(spark, storePath)
      .groupBy(col("batch")).agg(count(lit(1)).as("n_admitted"))
    val g = gated(spark, storePath)
      .groupBy(col("batch")).agg(count(lit(1)).as("n_gated"))
    val p = partRefused(spark, storePath)
      .groupBy(col("batch")).agg(count(lit(1)).as("n_part_refused"))
    s.join(g, Seq("batch"), "full_outer")
      .join(p, Seq("batch"), "full_outer")
      .select(col("batch"),
        coalesce(col("n_admitted"), lit(0L)).as("n_admitted"),
        coalesce(col("n_gated"), lit(0L)).as("n_gated"),
        coalesce(col("n_part_refused"), lit(0L)).as("n_part_refused"))
  }
}
