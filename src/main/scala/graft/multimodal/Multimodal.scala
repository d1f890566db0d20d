package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling: image/audio/video payloads as opaque binary
  * columns with typed metadata, processed by per-partition batch decoders.
  *
  * IMAGE decode and resize are REAL: [[ImageIoDecoder]] /
  * [[ImageIoResizer]] run the JDK's `javax.imageio` PNG/JPEG codecs and
  * `java.awt.Graphics2D` scaling on the executors — width/height/features
  * come from actual pixels. AUDIO decode is REAL too: [[WavDecoder]]
  * parses WAV/AIFF/AU PCM via `javax.sound.sampled` — frame counts,
  * duration and RMS-energy features come from actual samples. The VIDEO
  * path decodes animated GIF ([[GifVideoDecoder]] / [[sampleGifFrames]]:
  * frame counts, per-frame pixels and summed delays from
  * `javax.imageio`'s frame-indexed GIF reader) AND AVI/MJPEG
  * ([[AviVideoDecoder]] / [[AviCodec]]: a RIFF chunk walk + per-frame
  * JPEG decode) for REAL; only codec-bearing containers (mp4/webm/... —
  * the JDK ships no H.264/VP9 codec) remain STUBBED behind
  * [[FakeDecoder]] — swap in a real implementation (JavaCV, ffmpeg
  * bindings, ...) without touching the pipeline.
  *
  * Scale notes: binary payloads dominate row size, so
  * spark.sql.files.maxPartitionBytes should be sized for ~hundreds of
  * records per partition; decode runs in mapPartitions so any native
  * decoder is initialized once per partition, not per record.
  */
object Multimodal {

  /** Canonical multimodal record schema. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("media_type", StringType, nullable = false), // image|audio|video
    StructField("payload", BinaryType, nullable = true),
    StructField("mime", StringType, nullable = true),
    StructField("source", StringType, nullable = true)))

  final case class MediaRecord(media_id: Long, media_type: String,
                               payload: Array[Byte], mime: String, source: String)

  /** Map-only fingerprint pass over `modality` records: `rows` runs once
    * per record inside mapPartitions (one decode each) and its rows are
    * named `cols`. Any other media_type refuses loudly — a silently
    * skipped record is a duplicate that survives. */
  private[multimodal] def fingerprintPass[
      T <: Product: scala.reflect.runtime.universe.TypeTag](
      media: DataFrame, modality: String, cols: String*)(
      rows: MediaRecord => IterableOnce[T]): DataFrame = {
    import org.apache.spark.sql.Encoders
    media.as[MediaRecord](Encoders.product[MediaRecord])
      .mapPartitions(_.flatMap { r =>
        require(r.media_type == modality,
          s"media_id=${r.media_id}: $modality fingerprint over ${r.media_type}")
        rows(r)
      })(Encoders.product[T]).toDF(cols: _*)
  }

  final case class MediaFeatures(media_id: Long, media_type: String,
                                 width: Int, height: Int, n_frames: Int,
                                 duration_ms: Long, feature: Array[Float])

  /** Decoder contract: one instance per partition, batch-iterates records. */
  trait MediaDecoder extends Serializable {
    def decode(r: MediaRecord): MediaFeatures
  }

  /** Resizer contract: one instance per partition (native scalers init
    * once), record-in record-out so resize chains before decode/write. */
  trait MediaResizer extends Serializable {
    def resize(r: MediaRecord, width: Int, height: Int): MediaRecord
  }

  /** STUB decoder — deterministic fake features derived from the payload
    * byte LENGTH, so the decode contract is a documented pure function any
    * engine can recompute (this is what makes the q30 oracle possible).
    * Records tagged by [[FakeResizer]] report the tag's target dims.
    * Only codec-bearing video (mp4/webm) still needs this — image,
    * audio, animated GIF and AVI/MJPEG decode for real via
    * [[ImageIoDecoder]] / [[WavDecoder]] / [[GifVideoDecoder]] /
    * [[AviVideoDecoder]]; the JDK ships no H.264/VP9 codec. Swap in
    * JavaCV/ffmpeg for production video, the Spark-side plumbing
    * (schema, partitioning, per-partition decoder init) is unchanged. */
  final class FakeDecoder(featureDim: Int = 8) extends MediaDecoder {
    def decode(r: MediaRecord): MediaFeatures = {
      val len = Option(r.payload).map(_.length).getOrElse(0)
      val (w, h) = Option(r.mime)
        .filter(_.startsWith("resized/"))
        .map(_.stripPrefix("resized/").split('x'))
        .collect { case Array(a, b) => (a.toInt, b.toInt) }
        .getOrElse((len % 1024 + 16, (len / 7) % 1024 + 16))
      MediaFeatures(r.media_id, r.media_type,
        width = w,
        height = h,
        n_frames = if (r.media_type == "video") len % 300 + 1 else 1,
        duration_ms = if (r.media_type != "image") (len.toLong * 31L) % 60000L else 0L,
        feature = Array.tabulate(featureDim)(i => ((len * (i + 1)) % 997).toFloat / 997f))
    }
  }

  /** STUB resizer — pure and deterministic: the payload passes through and
    * the target dims ride the mime tag (`resized/WxH`), which the stub
    * decoder honors. A real implementation rescales the payload bytes;
    * the pipeline contract (schema, chaining, per-partition init) is
    * identical. */
  final class FakeResizer extends MediaResizer {
    def resize(r: MediaRecord, width: Int, height: Int): MediaRecord =
      r.copy(mime = s"resized/${width}x$height")
  }

  /** The synthetic generators' doc_id feed, spread to session default
    * parallelism: the sf tables arrive as ONE unsplittable parquet split
    * (single row group), which would serialize every executor-side
    * media encode behind one core — the guide's "one huge unsplittable
    * file: repartition immediately after the read" case. Ids only — the
    * exchange moves 8 bytes a row, never payloads — and a no-op when
    * the input is already at least as parallel as the session. */
  private def docIds(docs: DataFrame): Dataset[Long] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ids = docs.select(col("doc_id")).as[Long]
    val par = spark.sparkContext.defaultParallelism
    if (ids.rdd.getNumPartitions >= par) ids
    else ids.repartition(par)
  }

  /** Mean luminance of `featureDim` horizontal bands — the cheap actual-
    * content embedding every real decoder here emits (image frames, GIF
    * video frames). */
  private[multimodal] def lumBands(img: java.awt.image.BufferedImage,
                                   featureDim: Int): Array[Float] =
    lumBandsOfLuma(Pixels.lumaPlane(img), img.getWidth, img.getHeight,
      featureDim)

  /** [[lumBands]] over an already-extracted luminance plane — the video
    * frame faces feed [[graft.multimodal.AviCodec]]'s VideoCodec
    * `lumaFrame` fast path straight in. */
  private[multimodal] def lumBandsOfLuma(plane: Array[Int], w: Int, h: Int,
                                         featureDim: Int): Array[Float] = {
    val bands = new Array[Float](featureDim)
    val counts = new Array[Int](featureDim)
    var y = 0
    while (y < h) {
      val band = math.min(featureDim - 1, y * featureDim / h)
      val row = y * w
      var x = 0
      while (x < w) {
        bands(band) += plane(row + x) / 255f
        counts(band) += 1
        x += 1
      }
      y += 1
    }
    var i = 0
    while (i < featureDim) {
      if (counts(i) > 0) bands(i) /= counts(i)
      i += 1
    }
    bands
  }

  /** REAL image decoder: `javax.imageio` (JDK-native PNG/JPEG/GIF/BMP
    * codecs) reads the payload into pixels; width/height come from the
    * decoded image and the feature vector is the mean luminance of
    * `featureDim` horizontal bands — an actual content embedding, cheap
    * enough to stay CPU-bound on decode. Non-image records fall back to
    * the configured decoder (chain with [[WavDecoder]] and
    * [[GifVideoDecoder]] for the full real set).
    * Construction is driver-side and serialized per task; all state is
    * static JDK machinery, so there is nothing to re-init per partition
    * beyond forcing headless AWT once per JVM. */
  final class ImageIoDecoder(featureDim: Int = 8,
                             fallback: MediaDecoder = new FakeDecoder())
      extends MediaDecoder {
    def decode(r: MediaRecord): MediaFeatures =
      if (r.media_type != "image" || r.payload == null || r.payload.isEmpty)
        fallback.decode(r)
      else {
        val img = ImageCodec.read(r.payload)
        require(img != null,
          s"media_id=${r.media_id}: payload is not a decodable image (mime=${r.mime})")
        MediaFeatures(r.media_id, r.media_type, img.getWidth, img.getHeight,
          n_frames = 1, duration_ms = 0L,
          feature = lumBands(img, featureDim))
      }
  }

  /** REAL image resizer: decode with `javax.imageio`, rescale with
    * `Graphics2D` bilinear interpolation, re-encode (PNG by default —
    * lossless, so a resize to the same dims round-trips pixels). */
  final class ImageIoResizer(format: String = "png") extends MediaResizer {
    def resize(r: MediaRecord, width: Int, height: Int): MediaRecord = {
      val img = ImageCodec.read(r.payload)
      require(img != null,
        s"media_id=${r.media_id}: payload is not a decodable image (mime=${r.mime})")
      val out = new java.awt.image.BufferedImage(width, height,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      try {
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, width, height, null): Unit
      } finally g.dispose()
      r.copy(payload = ImageCodec.write(out, format), mime = s"image/$format")
    }
  }

  /** REAL audio decoder: `javax.sound.sampled` (JDK-native WAV/AIFF/AU
    * readers) parses the payload's format and PCM frames — sample count,
    * duration and a per-segment RMS-energy feature come from the actual
    * samples. Non-audio records fall back (chain with [[ImageIoDecoder]]
    * for a real image+audio decoder; only VIDEO remains stubbed — the
    * JDK ships no video codec). 16-bit PCM is required (the WAV norm);
    * anything else refuses loudly rather than mis-reading sample math. */
  final class WavDecoder(featureDim: Int = 8,
                         fallback: MediaDecoder = new FakeDecoder())
      extends MediaDecoder {
    def decode(r: MediaRecord): MediaFeatures =
      if (r.media_type != "audio" || r.payload == null || r.payload.isEmpty)
        fallback.decode(r)
      else {
        val in = try javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(r.payload))
        catch {
          case e: javax.sound.sampled.UnsupportedAudioFileException =>
            throw new IllegalArgumentException(
              s"media_id=${r.media_id}: payload is not a decodable audio " +
                s"stream (mime=${r.mime})", e)
        }
        try {
          val fmt = in.getFormat
          require(fmt.getSampleSizeInBits == 16,
            s"media_id=${r.media_id}: ${fmt.getSampleSizeInBits}-bit PCM " +
              "unsupported (16-bit required)")
          val channels = fmt.getChannels
          val bytes = in.readAllBytes()
          // getFrameLength is NOT_SPECIFIED (-1) for unknown-length
          // streams: derive from the decoded bytes instead of letting a
          // negative count corrupt the band math / report -1 frames
          val frameSize =
            if (fmt.getFrameSize > 0) fmt.getFrameSize else channels * 2
          val frames =
            if (in.getFrameLength > 0) in.getFrameLength
            else bytes.length.toLong / frameSize
          require(frames > 0,
            s"media_id=${r.media_id}: empty audio stream")
          val big = fmt.isBigEndian
          val bands = new Array[Double](featureDim)
          val counts = new Array[Long](featureDim)
          var i = 0
          val totalSamples = bytes.length / 2
          while (i < totalSamples) {
            val lo = bytes(2 * i) & 0xff
            val hi = bytes(2 * i + 1) & 0xff
            val s = (if (big) (lo << 8) | hi else (hi << 8) | lo).toShort
            val frame = i / channels
            val band = math.min(featureDim - 1,
              (frame * featureDim / math.max(frames, 1L)).toInt)
            bands(band) += s.toDouble * s.toDouble
            counts(band) += 1
            i += 1
          }
          val feat = Array.tabulate(featureDim) { b =>
            if (counts(b) == 0) 0f
            else (math.sqrt(bands(b) / counts(b)) / 32768.0).toFloat
          }
          MediaFeatures(r.media_id, r.media_type, width = 0, height = 0,
            n_frames = frames.toInt,
            duration_ms = frames * 1000L / fmt.getSampleRate.toLong,
            feature = feat)
        } finally in.close()
      }
  }

  /** Shared GIF container helpers: the JDK's `javax.imageio` GIF codec is
    * a genuine MULTI-FRAME reader/writer (`ImageReader.getNumImages/
    * read(i)` + per-frame GraphicControlExtension metadata), which makes
    * animated GIF the one video-path container that decodes fully for
    * real in a stock JVM — true video codecs (mp4/webm/...) remain the
    * documented [[FakeDecoder]] seam. */
  private[multimodal] object GifCodec {

    ImageIoTuning.init // memory-cached ImageIO streams

    def isGif(b: Array[Byte]): Boolean =
      b != null && b.length >= 6 &&
        b(0) == 'G'.toByte && b(1) == 'I'.toByte && b(2) == 'F'.toByte

    /** Open a frame-indexed reader over the payload and hand it to `f`;
      * metadata stays available (delays), input is NOT seek-forward-only
      * (frame sampling skips around). Refuses loudly when no installed
      * reader claims the bytes. */
    def withReader[T](payload: Array[Byte])(
        f: javax.imageio.ImageReader => T): T = {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      require(readers.hasNext,
        "payload is not a decodable image container")
      val reader = readers.next()
      reader.setInput(iis, false, false)
      try f(reader) finally { reader.dispose(); iis.close() }
    }

    /** Frame i's GraphicControlExtension delay in centiseconds (0 when
      * the frame carries none — the GIF default). */
    def frameDelayCs(reader: javax.imageio.ImageReader, i: Int): Int = {
      val meta = reader.getImageMetadata(i)
      val fmt = "javax_imageio_gif_image_1.0"
      if (!meta.getMetadataFormatNames.contains(fmt)) 0
      else {
        val root = meta.getAsTree(fmt)
        val kids = root.getChildNodes
        var d = 0
        var k = 0
        while (k < kids.getLength) {
          val n = kids.item(k)
          if (n.getNodeName == "GraphicControlExtension") {
            val at = n.getAttributes.getNamedItem("delayTime")
            if (at != null) d = at.getNodeValue.toInt
          }
          k += 1
        }
        d
      }
    }

    /** Write frames as one animated GIF with a uniform per-frame delay
      * (centiseconds) through the JDK sequence writer; each frame carries
      * an explicit GraphicControlExtension so durations round-trip. */
    def writeAnimated(frames: Seq[java.awt.image.BufferedImage],
                      delayCs: Int): Array[Byte] =
      writeAnimatedVfr(frames, Seq.fill(frames.length)(delayCs))

    /** Variable-frame-rate variant: one delay (centiseconds) per frame. */
    def writeAnimatedVfr(frames: Seq[java.awt.image.BufferedImage],
                         delaysCs: Seq[Int]): Array[Byte] = {
      require(frames.nonEmpty, "an animated GIF needs at least one frame")
      require(delaysCs.length == frames.length,
        s"${delaysCs.length} delays for ${frames.length} frames")
      // fast path: frames whose colors fit a 256-entry palette encode
      // through the in-JVM LZW writer (exact palette, LOSSLESS — and
      // none of the per-frame ImageIO metadata-tree machinery); more
      // colorful frames keep the ImageIO writer below
      GifDecode.writeAnimated(frames, delaysCs) match {
        case Some(bytes) => return bytes
        case None => ()
      }
      val writer = javax.imageio.ImageIO
        .getImageWritersByFormatName("gif").next()
      val baos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
      writer.setOutput(ios)
      val param = writer.getDefaultWriteParam
      writer.prepareWriteSequence(null)
      frames.zip(delaysCs).foreach { case (img, delayCs) =>
        val meta = writer.getDefaultImageMetadata(
          new javax.imageio.ImageTypeSpecifier(img), param)
        val fmt = meta.getNativeMetadataFormatName
        val root = meta.getAsTree(fmt)
          .asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
        // reuse the default tree's GraphicControlExtension if present,
        // else append one — two nodes of the same name would be invalid
        val kids = root.getChildNodes
        var gce: javax.imageio.metadata.IIOMetadataNode = null
        var k = 0
        while (k < kids.getLength && gce == null) {
          if (kids.item(k).getNodeName == "GraphicControlExtension")
            gce = kids.item(k).asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
          k += 1
        }
        if (gce == null) {
          gce = new javax.imageio.metadata.IIOMetadataNode(
            "GraphicControlExtension")
          root.appendChild(gce): Unit
        }
        gce.setAttribute("disposalMethod", "none")
        gce.setAttribute("userInputFlag", "FALSE")
        gce.setAttribute("transparentColorFlag", "FALSE")
        gce.setAttribute("delayTime", delayCs.toString)
        gce.setAttribute("transparentColorIndex", "0")
        meta.setFromTree(fmt, root)
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, meta),
          param)
      }
      writer.endWriteSequence()
      ios.close()
      writer.dispose()
      baos.toByteArray
    }
  }

  /** REAL multi-frame video-path decoder for animated GIFs:
    * `ImageReader.getNumImages(true)` counts ACTUAL frames, frame 0
    * supplies the dims + luminance-band feature, and duration sums the
    * per-frame GraphicControlExtension delays — everything comes from
    * parsing the real container. Non-GIF video payloads fall back to the
    * configured decoder — by DEFAULT an [[AviVideoDecoder]], so
    * AVI/MJPEG decodes for real too and only mp4/webm (the JDK ships no
    * codec for them) reach the stub; non-video records fall through the
    * same chain. Chain with [[ImageIoDecoder]] / [[WavDecoder]] for the
    * full real image+audio+video set. */
  final class GifVideoDecoder(featureDim: Int = 8,
                              fallback: MediaDecoder = null)
      extends MediaDecoder {
    private val next: MediaDecoder =
      if (fallback != null) fallback else new AviVideoDecoder(featureDim)
    def decode(r: MediaRecord): MediaFeatures =
      if (r.media_type != "video" || !GifCodec.isGif(r.payload))
        next.decode(r)
      else {
        val gif = GifDecode.parse(r.payload)
        val n = gif.numFrames
        require(n >= 1, s"media_id=${r.media_id}: GIF container holds no frames")
        val f0 = gif.frame(0)
        var durCs = 0L
        var i = 0
        while (i < n) { durCs += gif.frames(i).delayCs; i += 1 }
        MediaFeatures(r.media_id, r.media_type, f0.getWidth, f0.getHeight,
          n_frames = n, duration_ms = durCs * 10L,
          feature = lumBands(f0, featureDim))
      }
  }

  /** REAL multi-frame video-path decoder for AVI/MJPEG containers
    * ([[AviCodec]] — a RIFF walk + per-frame `javax.imageio` JPEG
    * decode): frame counts from the `movi` chunk list, dims + feature
    * from decoded frame 0, duration from the header's µs-per-frame
    * timing. Non-AVI video payloads fall back to the configured decoder
    * — by default an [[Mp4VideoDecoder]], so MJPEG-in-mp4 decodes for
    * real too; non-video records fall through the same chain. */
  final class AviVideoDecoder(featureDim: Int = 8,
                              fallback: MediaDecoder = null)
      extends MediaDecoder {
    private val next: MediaDecoder =
      if (fallback != null) fallback else new Mp4VideoDecoder(featureDim)
    def decode(r: MediaRecord): MediaFeatures =
      if (r.media_type != "video" || !AviCodec.isAvi(r.payload))
        next.decode(r)
      else {
        val avi = AviCodec.open(r.payload)
        val f0 = avi.frame(0)
        MediaFeatures(r.media_id, r.media_type, f0.getWidth, f0.getHeight,
          n_frames = avi.numFrames,
          duration_ms = avi.numFrames * avi.usPerFrame / 1000L,
          feature = lumBands(f0, featureDim))
      }
  }

  /** REAL multi-frame video-path decoder for MJPEG-in-mp4 containers
    * ([[Mp4Codec.openVideo]] — the ISO-BMFF sample-table walk +
    * per-frame `javax.imageio` JPEG decode): frame counts from stsz,
    * dims + feature from decoded frame 0, duration the sum of per-frame
    * stts µs deltas (mp4 is natively VFR). Compressed-codec mp4 and
    * non-video records fall back to the configured decoder. */
  final class Mp4VideoDecoder(featureDim: Int = 8,
                              fallback: MediaDecoder = new FakeDecoder())
      extends MediaDecoder {
    def decode(r: MediaRecord): MediaFeatures =
      if (r.media_type != "video" || !Mp4Codec.hasMjpegVideo(r.payload))
        fallback.decode(r)
      else {
        val mp4 = Mp4Codec.openVideo(r.payload)
        val f0 = mp4.frame(0)
        MediaFeatures(r.media_id, r.media_type, f0.getWidth, f0.getHeight,
          n_frames = mp4.numFrames,
          duration_ms = mp4.frameDelaysUs.sum / 1000L,
          feature = lumBands(f0, featureDim))
      }
  }

  /** REAL frame sampling over video containers (animated GIF or
    * AVI/MJPEG through the unified [[VideoCodec]] seam): decode every
    * `every`-th frame — one reader per record, decode confined to
    * mapPartitions like every codec here. Output one row per SAMPLED
    * frame: (media_id, frame_idx, width, height, feature), the per-frame
    * luminance bands proving each frame's pixels were actually read.
    * Unknown containers refuse LOUDLY — a silently skipped container
    * would be a hole in the sampled set the downstream embedding pass
    * never sees. Complements [[sampleFrames]], the pure-relational
    * sampling PLAN over already-decoded frame counts. */
  def sampleGifFrames(media: DataFrame, every: Int,
                      featureDim: Int = 8): DataFrame = {
    require(every >= 1, s"every=$every must be >= 1")
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRecord].mapPartitions(_.flatMap { r =>
      require(r.media_type == "video",
        s"media_id=${r.media_id}: frame sampling is a VIDEO pass " +
          s"(got ${r.media_type})")
      require(VideoCodec.isVideo(r.payload),
        s"media_id=${r.media_id}: payload is not a decodable video " +
          s"container (mime=${r.mime}) — GIF and AVI/MJPEG decode " +
          "in-JVM; mp4/webm need a codec the JDK lacks")
      VideoCodec.withFrames(r.payload) { v =>
        val n = v.numFrames
        (0 until n by every).map { i =>
          val (lum, fw, fh) = v.lumaFrame(i)
          (r.media_id, i, fw, fh, lumBandsOfLuma(lum, fw, fh, featureDim))
        }.toVector // materialize before the reader is disposed
      }
    }).toDF("media_id", "frame_idx", "width", "height", "feature")
  }

  /** Per-video FRAME CARD from ONE container decode — the composed face
    * of [[extractFeatures]] + [[sampleGifFrames]] for pipelines needing
    * both the per-video features and the sampled-frame census: dims +
    * luminance-band feature from frame 0, duration from the container's
    * stated µs timing, and every `every`-th frame decoded and counted
    * (`n_sampled`). Paying one container walk + ceil(n/every) frame
    * decodes instead of two full passes matters because at 100 TB of
    * video the decode IS the job. Unknown containers refuse loudly. */
  def videoFrameCard(media: DataFrame, every: Int,
                     featureDim: Int = 8): DataFrame = {
    require(every >= 1, s"every=$every must be >= 1")
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRecord].mapPartitions(_.map { r =>
      require(r.media_type == "video",
        s"media_id=${r.media_id}: frame card is a VIDEO pass " +
          s"(got ${r.media_type})")
      require(VideoCodec.isVideo(r.payload),
        s"media_id=${r.media_id}: payload is not a decodable video " +
          "container (GIF/AVI) — no in-JVM codec for mp4/webm")
      MediaCounters.videoReads.incrementAndGet(): Unit
      VideoCodec.withFrames(r.payload) { v =>
        val n = v.numFrames
        require(n >= 1, s"media_id=${r.media_id}: container holds no frames")
        var durUs = 0L
        var i = 0
        while (i < n) { durUs += v.delayUs(i); i += 1 }
        var w = 0
        var h = 0
        var feature: Array[Float] = null
        var nSampled = 0L
        var f = 0
        while (f < n) {
          // sampled frames genuinely decode (the census contract); only
          // frame 0's PIXELS are read (dims + bands), so the other
          // frames pay the codec, never an extra pixel conversion
          if (f == 0) {
            val (lum, fw, fh) = v.lumaFrame(f)
            w = fw; h = fh
            feature = lumBandsOfLuma(lum, fw, fh, featureDim)
          } else v.frame(f): Unit
          nSampled += 1
          f += every
        }
        (r.media_id, w, h, n.toLong, durUs / 1000L, nSampled, feature)
      }
    }).toDF("media_id", "width", "height", "n_frames", "duration_ms",
      "n_sampled", "feature")
  }

  /** Synthetic ANIMATED GIF table with REAL multi-frame payloads: per
    * document, `2 + doc_id % 6` grayscale gradient frames (content
    * shifts with the frame index, so per-frame features differ) at
    * `(16 + doc_id % 16) x (16 + doc_id % 12)`, 10 cs delay each,
    * written with the JDK GIF sequence writer ON THE EXECUTORS — frame
    * counts, dims and durations stay oracle-computable from doc_id
    * alone while decode exercises a real multi-frame container. */
  def syntheticAnimatedGifs(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docIds(docs).mapPartitions(_.map { id =>
      val nFrames = 2 + (id % 6).toInt
      val w = 16 + (id % 16).toInt
      val h = 16 + (id % 12).toInt
      val frames = (0 until nFrames).map { f =>
        val img = grayIndexedImage(w, h)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            raster.setSample(x, y, 0,
              ((id * 31 + f * 47 + x * 3 + y * 5) % 256).toInt)
            x += 1
          }
          y += 1
        }
        img
      }
      (id, "video", GifCodec.writeAnimated(frames, delayCs = 10),
        "image/gif", "gifgen")
    }).toDF("media_id", "media_type", "payload", "mime", "source")
  }

  /** Synthetic AVI/MJPEG table with REAL multi-frame payloads — the AVI
    * mirror of [[syntheticAnimatedGifs]]: per document, `2 + doc_id % 6`
    * JPEG frames (content shifts with the frame index) at
    * `(16 + doc_id % 16) x (16 + doc_id % 12)`, 100 ms per frame
    * (dwMicroSecPerFrame = 100000), written with [[AviCodec.writeMjpeg]]
    * ON THE EXECUTORS — frame counts, dims and durations stay
    * oracle-computable from doc_id alone while decode exercises a real
    * RIFF container walk + per-frame JPEG decode. */
  def syntheticAviVideos(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docIds(docs).mapPartitions(_.map { id =>
      val nFrames = 2 + (id % 6).toInt
      val w = 16 + (id % 16).toInt
      val h = 16 + (id % 12).toInt
      val frames = (0 until nFrames).map { f =>
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val g = ((id * 31 + f * 47 + x * 3 + y * 5) % 256).toInt
            img.setRGB(x, y, (g << 16) | (g << 8) | g)
            x += 1
          }
          y += 1
        }
        img
      }
      (id, "video", AviCodec.writeMjpeg(frames, usPerFrame = 100000L),
        "video/avi", "avigen")
    }).toDF("media_id", "media_type", "payload", "mime", "source")
  }

  /** Synthetic MJPEG-in-mp4 table with REAL multi-frame VFR payloads —
    * the ISO-BMFF mirror of [[syntheticAviVideos]]: per document,
    * `2 + doc_id % 6` JPEG frames (same gradient arithmetic) at
    * `(16 + doc_id % 16) x (16 + doc_id % 12)`, but with VARIABLE
    * per-frame timing — frame f displays `(f + 1) * 50` ms (mp4's stts
    * is natively VFR, unlike AVI's constant header rate), so
    * duration_ms = 25 * n * (n + 1) stays doc_id arithmetic. */
  def syntheticMp4Videos(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docIds(docs).mapPartitions(_.map { id =>
      val nFrames = 2 + (id % 6).toInt
      val w = 16 + (id % 16).toInt
      val h = 16 + (id % 12).toInt
      val frames = (0 until nFrames).map { f =>
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val g = ((id * 31 + f * 47 + x * 3 + y * 5) % 256).toInt
            img.setRGB(x, y, (g << 16) | (g << 8) | g)
            x += 1
          }
          y += 1
        }
        img
      }
      val delaysUs = (0 until nFrames).map(f => (f + 1) * 50000L)
      (id, "video", Mp4Codec.writeMjpeg(frames, delaysUs),
        "video/mp4", "mp4gen")
    }).toDF("media_id", "media_type", "payload", "mime", "source")
  }

  /** DEMUX the PCM soundtrack of AVI videos into first-class AUDIO rows
    * (media_id = the video's id, media_type 'audio', payload = 16-bit
    * MONO WAV re-wrap of the container's sample bytes — 8-bit rescales
    * and stereo downmixes through [[AviCodec.toMono16]]) — the bridge from the
    * video container into the ENTIRE audio stack: dedup, quality gates,
    * silence segmentation, resampling and fingerprint stores all run on
    * soundtracks unchanged. Map-only, ONE container walk per record and
    * NO video decode (the walk reads chunk headers and copies sample
    * bytes — the JPEG frames are never touched). Videos without an
    * audio stream emit no row (a silent film is not an audio record);
    * non-AVI videos refuse loudly (GIF carries no audio track by
    * format; mp4/webm need a codec the JDK lacks). */
  def demuxAviAudio(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRecord].mapPartitions(_.flatMap { r =>
      require(r.media_type == "video",
        s"media_id=${r.media_id}: audio demux over ${r.media_type}")
      require(AviCodec.isAvi(r.payload),
        s"media_id=${r.media_id}: audio demux is an AVI container walk " +
          "(GIF has no audio track by format; mp4/webm need a codec the " +
          "JDK lacks)")
      AviCodec.extractAudio(r.payload).map { a =>
        // normalize to the pipeline's 16-bit MONO norm: 8-bit rescales,
        // stereo downmixes by channel average (exact integer arithmetic
        // — old capture rigs commonly ship 8-bit or stereo PCM); deeper
        // resolutions refuse loudly inside toMono16
        val mono = AviCodec.toMono16(a)
        val fmt = new javax.sound.sampled.AudioFormat(a.rate.toFloat, 16,
          1, true, false)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(
          new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(mono), fmt,
            mono.length / 2L),
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos): Unit
        (r.media_id, "audio", bos.toByteArray, "audio/wav", r.source)
      }
    }).toDF("media_id", "media_type", "payload", "mime", "source")
  }

  /** Synthetic AVI table WITH a PCM soundtrack: the 2-frame MJPEG video
    * plus a mono 16-bit 8 kHz tone of `800 + doc_id % 800` samples at
    * pitch `200 + (doc_id % 10) * 50` Hz, muxed as a second `auds`
    * stream — frame counts and durations of the demuxed track stay
    * oracle-computable from doc_id alone. */
  def syntheticAviWithAudio(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docIds(docs).mapPartitions(_.map { id =>
      val frames = (0 until 2).map { f =>
        val img = new java.awt.image.BufferedImage(16, 16,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        (0 until 16).foreach(y => (0 until 16).foreach { x =>
          val g = ((id * 31 + f * 47 + x * 3 + y * 5) % 256).toInt
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
        })
        img
      }
      val rate = 8000
      val nSamp = 800 + (id % 800).toInt
      val freq = 200.0 + (id % 10) * 50.0
      val pcm = new Array[Byte](nSamp * 2)
      var i = 0
      while (i < nSamp) {
        val v = (math.sin(2 * math.Pi * freq * i / rate) * 8000).toShort
        pcm(2 * i) = (v & 0xff).toByte
        pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
        i += 1
      }
      (id, "video",
        AviCodec.writeMjpeg(frames, usPerFrame = 100000L,
          audio = Some((pcm, rate))),
        "video/avi", "avmux")
    }).toDF("media_id", "media_type", "payload", "mime", "source")
  }

  /** DEMUX the PCM soundtrack of ISO-BMFF (mp4/m4a/mov) containers into
    * first-class AUDIO rows — the mp4 face of [[demuxAviAudio]], fed by
    * [[Mp4Codec.extractAudio]]'s sample-table walk (stsd/stsc/stsz/
    * stco): media_id = the container's id, media_type 'audio', payload
    * a 16-bit MONO WAV re-wrap (sowt/twos 16-bit and raw 8-bit PCM
    * normalize through [[AviCodec.toMono16]]; compressed soundtracks
    * refuse loudly inside the walk). Map-only, one container walk per
    * record, ZERO video decode. Containers without an audio track emit
    * no row; non-mp4 payloads refuse loudly. */
  def demuxMp4Audio(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRecord].mapPartitions(_.flatMap { r =>
      require(Mp4Codec.isMp4(r.payload),
        s"media_id=${r.media_id}: mp4 audio demux is an ISO-BMFF box " +
          "walk — this payload is not an mp4/m4a/mov container")
      Mp4Codec.extractAudio(r.payload).map { a =>
        val mono = AviCodec.toMono16(a)
        val fmt = new javax.sound.sampled.AudioFormat(a.rate.toFloat, 16,
          1, true, false)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(
          new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(mono), fmt,
            mono.length / 2L),
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos): Unit
        (r.media_id, "audio", bos.toByteArray, "audio/wav", r.source)
      }
    }).toDF("media_id", "media_type", "payload", "mime", "source")
  }

  /** Demux Matroska `A_PCM/INT/LIT` soundtracks into first-class audio
    * rows — the EBML mirror of [[demuxMp4Audio]]: same mono-16
    * normalization, same WAV re-wrap, so the demuxed track runs the
    * entire audio stack unchanged. */
  def demuxMkvAudio(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRecord].mapPartitions(_.flatMap { r =>
      require(MkvCodec.isMkv(r.payload),
        s"media_id=${r.media_id}: Matroska audio demux is an EBML " +
          "walk — this payload is not a Matroska/webm container")
      MkvCodec.extractAudio(r.payload).map { a =>
        val mono = AviCodec.toMono16(a)
        val fmt = new javax.sound.sampled.AudioFormat(a.rate.toFloat, 16,
          1, true, false)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(
          new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(mono), fmt,
            mono.length / 2L),
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos): Unit
        (r.media_id, "audio", bos.toByteArray, "audio/wav", r.source)
      }
    }).toDF("media_id", "media_type", "payload", "mime", "source")
  }

  /** Synthetic Matroska video table — the EBML mirror of
    * [[syntheticMp4Videos]]: `2 + doc_id % 6` MJPEG frames (same
    * gradient arithmetic) with NATIVE VFR timing via block timestamps
    * (frame f starts at 50·f·(f+1)/2 ms, so it displays (f+1)·50 ms;
    * the last frame's span comes from DefaultDuration = 50·n ms) —
    * duration_ms = 25·n·(n+1), the q248 arithmetic, through a third
    * container grammar. With `plantMetadata`: a Tags element (author
    * comment) on doc_id % 4 = 0, trailing bytes on % 4 = 2. */
  def syntheticMkvVideos(spark: SparkSession, docs: DataFrame,
                         plantMetadata: Boolean = false): DataFrame = {
    import spark.implicits._
    docIds(docs).mapPartitions(_.map { id =>
      val nFrames = 2 + (id % 6).toInt
      val w = 16 + (id % 16).toInt
      val h = 16 + (id % 12).toInt
      val jpegs = (0 until nFrames).map { f =>
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val g = ((id * 31 + f * 47 + x * 3 + y * 5) % 256).toInt
            img.setRGB(x, y, (g << 16) | (g << 8) | g)
            x += 1
          }
          y += 1
        }
        val baos = new java.io.ByteArrayOutputStream()
        require(javax.imageio.ImageIO.write(img, "jpg", baos),
          "no JPEG writer available")
        baos.toByteArray
      }
      val ts = (0 until nFrames).map(f => 50L * f * (f + 1) / 2)
      val tags = if (plantMetadata && id % 4 == 0)
        Some(s"muxed by rig $id at 12.34,56.78") else None
      val trailing = if (plantMetadata && id % 4 == 2)
        s"smuggled-after-segment-$id".getBytes("US-ASCII")
      else Array.emptyByteArray
      (id, "video",
        MkvCodec.writeMkv(jpegs, ts, w, h,
          defaultDurationMs = 50L * nFrames, tags = tags,
          trailing = trailing),
        "video/x-matroska", "mkvgen")
    }).toDF("media_id", "media_type", "payload", "mime", "source")
  }

  /** Synthetic Matroska audio table: the [[syntheticM4aAudio]] tone —
    * mono 16-bit 8 kHz, `800 + doc_id % 800` samples — muxed as an
    * `A_PCM/INT/LIT` track (8-bit unsigned on doc_id % 2 = 1, so both
    * bit-depth demux paths run). */
  def syntheticMkvAudio(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docIds(docs).mapPartitions(_.map { id =>
      val rate = 8000
      val nSamp = 800 + (id % 800).toInt
      val freq = 200.0 + (id % 10) * 50.0
      val eightBit = id % 2 == 1
      val pcm =
        if (eightBit) {
          val out = new Array[Byte](nSamp)
          var i = 0
          while (i < nSamp) {
            val v = (math.sin(2 * math.Pi * freq * i / rate) * 100).toInt
            out(i) = ((v + 128) & 0xff).toByte // unsigned by convention
            i += 1
          }
          out
        } else {
          val out = new Array[Byte](nSamp * 2)
          var i = 0
          while (i < nSamp) {
            val v = (math.sin(2 * math.Pi * freq * i / rate) * 8000).toShort
            out(2 * i) = (v & 0xff).toByte
            out(2 * i + 1) = ((v >> 8) & 0xff).toByte
            i += 1
          }
          out
        }
      val audio = AviCodec.AviAudio(pcm, channels = 1, rate = rate,
        bits = if (eightBit) 8 else 16)
      (id, "audio",
        MkvCodec.writeMkv(Seq.empty, Seq.empty, 0, 0, audio = Some(audio)),
        "audio/x-matroska", "mkvgen")
    }).toDF("media_id", "media_type", "payload", "mime", "source")
  }

  /** Synthetic ISO-BMFF audio (m4a-shaped mp4) table: the
    * [[syntheticAviWithAudio]] tone — mono 16-bit 8 kHz,
    * `800 + doc_id % 800` samples at pitch `200 + (doc_id % 10) * 50`
    * Hz — through [[Mp4Codec.writePcm]], alternating `sowt`/`twos`
    * byte orders by doc_id parity so both demux paths run. With
    * `plantMetadata`, an Apple-style `udta` (comment + `©xyz` GPS)
    * plants inside moov on doc_id % 4 = 0 and smuggled trailing bytes
    * append on doc_id % 4 = 2 — the adversary side of the mp4 scrub. */
  def syntheticM4aAudio(spark: SparkSession, docs: DataFrame,
                        plantMetadata: Boolean = false): DataFrame = {
    import spark.implicits._
    docIds(docs).mapPartitions(_.map { id =>
      val rate = 8000
      val nSamp = 800 + (id % 800).toInt
      val freq = 200.0 + (id % 10) * 50.0
      val pcm = new Array[Byte](nSamp * 2)
      var i = 0
      while (i < nSamp) {
        val v = (math.sin(2 * math.Pi * freq * i / rate) * 8000).toShort
        pcm(2 * i) = (v & 0xff).toByte
        pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = if (id % 2 == 0) "sowt" else "twos"
      val udta =
        if (plantMetadata && id % 4 == 0) Some(s"captured by rig $id")
        else None
      val trailing =
        if (plantMetadata && id % 4 == 2)
          s"smuggled-after-moov-$id".getBytes("US-ASCII")
        else Array.emptyByteArray
      (id, "audio",
        Mp4Codec.writePcm(pcm, rate, format = fmt, udta = udta,
          trailing = trailing),
        "audio/mp4", "m4agen")
    }).toDF("media_id", "media_type", "payload", "mime", "source")
  }

  /** Synthetic G.711 telephony-audio mp4 table: the
    * [[syntheticM4aAudio]] tone COMPANDED through [[G711]] — A-law on
    * even doc_ids, µ-law on odd — and muxed as `alaw`/`ulaw` sample
    * entries. Demux expands the log-PCM back to the linear 16-bit norm,
    * so frame counts stay doc_id arithmetic through a REAL companding
    * round-trip. */
  def syntheticG711Audio(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docIds(docs).mapPartitions(_.map { id =>
      val rate = 8000
      val nSamp = 800 + (id % 800).toInt
      val freq = 200.0 + (id % 10) * 50.0
      val alaw = id % 2 == 0
      val g711 = new Array[Byte](nSamp)
      var i = 0
      while (i < nSamp) {
        val v = (math.sin(2 * math.Pi * freq * i / rate) * 8000).toShort
        g711(i) = if (alaw) G711.linearToAlaw(v) else G711.linearToUlaw(v)
        i += 1
      }
      (id, "audio",
        Mp4Codec.writePcm(g711, rate,
          format = if (alaw) "alaw" else "ulaw"),
        "audio/mp4", "g711gen")
    }).toDF("media_id", "media_type", "payload", "mime", "source")
  }

  /** Synthetic ADPCM WAV table: the [[syntheticG711Audio]] tone coded
    * as 4-bit differential ADPCM — IMA/DVI (wFormatTag 0x0011) on even
    * doc_ids, Microsoft (0x0002) on odd — with a `fact` chunk carrying
    * the exact frame count, so planted counts stay doc_id arithmetic
    * through a REAL lossy encode→block-decode round-trip. */
  def syntheticAdpcmAudio(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docIds(docs).mapPartitions(_.map { id =>
      val rate = 8000
      val nSamp = 800 + (id % 800).toInt
      val freq = 200.0 + (id % 10) * 50.0
      val samples = Array.tabulate(nSamp)(i =>
        (math.sin(2 * math.Pi * freq * i / rate) * 8000).toInt)
      val ima = id % 2 == 0
      val wav = if (ima) {
        val (data, ba) = Adpcm.encodeImaMono(samples)
        Adpcm.wavBytes(0x0011, 1, rate, ba, nSamp.toLong, data)
      } else {
        val (data, ba) = Adpcm.encodeMsMono(samples)
        Adpcm.wavBytes(0x0002, 1, rate, ba, nSamp.toLong, data)
      }
      (id, "audio", wav, "audio/wav", "adpcmgen")
    }).toDF("media_id", "media_type", "payload", "mime", "source")
  }

  /** Synthetic FLAC table: the [[syntheticAdpcmAudio]] tone encoded as
    * REAL spec-conformant FLAC (fixed-predictor + Rice residuals) —
    * 16-bit on even doc_ids, 8-bit on odd, so both depth paths
    * normalize. With `plantMetadata`: a VORBIS_COMMENT (recorder
    * location string) on doc_id % 4 = 0, an embedded PICTURE block on
    * % 4 = 2 — the adversary side of [[Flac.stripMeta]]. */
  def syntheticFlacAudio(spark: SparkSession, docs: DataFrame,
                         plantMetadata: Boolean = false): DataFrame = {
    import spark.implicits._
    docIds(docs).mapPartitions(_.map { id =>
      val rate = 8000
      val nSamp = 800 + (id % 800).toInt
      val freq = 200.0 + (id % 10) * 50.0
      val eightBit = id % 2 == 1
      val amp = if (eightBit) 100.0 else 8000.0
      val samples = Array.tabulate(nSamp)(i =>
        (math.sin(2 * math.Pi * freq * i / rate) * amp).toInt)
      val comment = if (plantMetadata && id % 4 == 0)
        Some(s"recorded by rig $id at 12.34,56.78") else None
      val picture = if (plantMetadata && id % 4 == 2)
        Some(Array.tabulate[Byte](48)(i => ((id + i) & 0x7f).toByte)) else None
      (id, "audio",
        Flac.encode(samples, channels = 1, rate = rate,
          bits = if (eightBit) 8 else 16, comment = comment,
          picture = picture),
        "audio/flac", "flacgen")
    }).toDF("media_id", "media_type", "payload", "mime", "source")
  }

  /** Synthetic AUDIO table with REAL WAV payloads: per document, a
    * 16-bit mono 8 kHz PCM sine whose length and pitch derive from
    * doc_id (`frames = 400 + doc_id % 800`), encoded with the JDK WAV
    * writer on the executors — decoding through [[WavDecoder]] exercises
    * the real audio codec while frame counts and durations stay
    * oracle-computable from doc_id alone. */
  def syntheticAudio(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id"), coalesce(col("source"), lit("")).as("source"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, source) =>
        val rate = 8000
        val frames = 400 + (id % 800).toInt
        val freq = 200.0 + (id % 20) * 50.0
        val pcm = new Array[Byte](frames * 2)
        var i = 0
        while (i < frames) {
          val v = (math.sin(2 * math.Pi * freq * i / rate) * 16384).toShort
          pcm(2 * i) = (v & 0xff).toByte
          pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
          i += 1
        }
        val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1,
          true, false)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(
          new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong),
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos): Unit
        (id, "audio", bos.toByteArray, "audio/wav", source)
      })
      .toDF("media_id", "media_type", "payload", "mime", "source")
  }

  /** JVM-wide decode-invocation counters — test tripwires pinning the
    * "one decode per media item per job" contract (the multi-branch dedup
    * faces persist their hash frames; these counters are how the suites
    * prove it). Plain atomics: negligible next to a codec call, and the
    * test JVM runs suites sequentially so deltas are exact. */
  object MediaCounters {
    val imageReads = new java.util.concurrent.atomic.AtomicLong()
    val audioReads = new java.util.concurrent.atomic.AtomicLong()
    val videoReads = new java.util.concurrent.atomic.AtomicLong()
  }

  /** Shared executor-side codec helpers: force headless AWT once per JVM
    * (executors have no display) before touching ImageIO. */
  private[multimodal] object ImageCodec {
    private lazy val headless: Unit = ImageIoTuning.init
    def read(bytes: Array[Byte]): java.awt.image.BufferedImage = {
      headless
      MediaCounters.imageReads.incrementAndGet(): Unit
      // lossless WebP decodes through the in-JVM VP8L codec (ImageIO
      // has no WebP SPI); lossy VP8 refuses loudly inside Vp8l.
      // 8-bit non-interlaced PNGs take the in-JVM inflate+unfilter
      // fast path ([[PngDecode]] — raster-layout- and pixel-identical
      // to the ImageIO reader, pinned by PngDecodeSpec); everything
      // else keeps ImageIO
      if (MediaScrub.isRiffWebp(bytes)) Vp8l.decode(bytes)
      else if (PngDecode.isPng(bytes))
        PngDecode.decode(bytes).getOrElse(
          javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
      else javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    }
    def write(img: java.awt.image.BufferedImage, format: String): Array[Byte] = {
      headless
      val baos = new java.io.ByteArrayOutputStream()
      require(javax.imageio.ImageIO.write(img, format, baos),
        s"no ImageIO writer for format '$format'")
      baos.toByteArray
    }
  }

  /** Decode/feature-extract: typed mapPartitions over the media table. */
  def extractFeatures(media: DataFrame,
                      decoder: MediaDecoder = new FakeDecoder()): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { it => it.map(decoder.decode) }
  }

  /** Resize images to a uniform target (the standard pre-embedding
    * normalization pass): typed mapPartitions, one resizer per partition;
    * non-image records pass through untouched. */
  def resizeImages(media: DataFrame, width: Int, height: Int,
                   resizer: MediaResizer = new FakeResizer()): Dataset[MediaRecord] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRecord].mapPartitions(_.map { r =>
      if (r.media_type == "image") resizer.resize(r, width, height) else r
    })
  }

  /** TRANSCODE image payloads to a target format — the normalization
    * pass a heterogeneous crawl needs before format-sensitive tooling
    * (one corpus, one container): decode through the shared seam
    * (PNG/GIF/JPEG/BMP via ImageIO, lossless WebP via [[Vp8l]]) and
    * re-encode as `png` (ImageIO, lossless), `jpg` (ImageIO, lossy)
    * or `webp` (in-JVM VP8L, lossless). png→webp→png is pixel-exact
    * by construction. Map-only; non-image rows pass through. */
  def transcodeImages(media: DataFrame, format: String): DataFrame = {
    require(Set("png", "jpg", "webp")(format), s"transcode to '$format'?")
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRecord].mapPartitions(_.map { r =>
      if (r.media_type != "image") r
      else {
        val img = ImageCodec.read(r.payload)
        require(img != null,
          s"media_id=${r.media_id}: payload is not a decodable image")
        val out = format match {
          case "webp" =>
            // VP8L wants ARGB input; normalize the color model
            val argb =
              if (img.getType == java.awt.image.BufferedImage.TYPE_INT_ARGB) img
              else {
                val c = new java.awt.image.BufferedImage(img.getWidth,
                  img.getHeight, java.awt.image.BufferedImage.TYPE_INT_ARGB)
                val g = c.createGraphics()
                try g.drawImage(img, 0, 0, null): Unit finally g.dispose()
                c
              }
            Vp8l.encode(argb)
          case "jpg" =>
            // the JDK JPEG writer refuses alpha
            val rgb =
              if (img.getType == java.awt.image.BufferedImage.TYPE_INT_RGB) img
              else {
                val c = new java.awt.image.BufferedImage(img.getWidth,
                  img.getHeight, java.awt.image.BufferedImage.TYPE_INT_RGB)
                val g = c.createGraphics()
                try g.drawImage(img, 0, 0, null): Unit finally g.dispose()
                c
              }
            ImageCodec.write(rgb, "jpg")
          case f => ImageCodec.write(img, f)
        }
        r.copy(payload = out, mime = s"image/$format")
      }
    }).toDF()
  }

  /** Frame sampling plan for video: every nth frame index as rows —
    * pure-relational (explode over a sequence), the decode of each sampled
    * frame happens in the decoder stage. */
  def sampleFrames(features: DataFrame, every: Int): DataFrame =
    features.filter(col("media_type") === "video")
      .withColumn("frame_idx",
        explode(sequence(lit(0), greatest(col("n_frames") - 1, lit(0)),
          lit(every))))
      .select("media_id", "frame_idx")

  /** Synthetic IMAGE table with REAL PNG payloads: per document, a small
    * deterministic gradient image whose dims derive from doc_id
    * (`w = 16 + doc_id % 32`, `h = 16 + doc_id % 24`), encoded with the
    * JDK PNG writer ON THE EXECUTORS (generation is a map-only pass, no
    * driver materialization). Decoding these through [[ImageIoDecoder]]
    * exercises the real codec round-trip while keeping dims
    * oracle-computable from doc_id alone. */
  def syntheticImages(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id"), coalesce(col("source"), lit("")).as("source"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, source) =>
        val w = 16 + (id % 32).toInt
        val h = 16 + (id % 24).toInt
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            // id-seeded gradient: varies across BOTH axes so a resize's
            // interpolation has real structure to preserve
            val r = ((id * 37 + x * 255 / w) % 256).toInt
            val g = ((id * 11 + y * 255 / h) % 256).toInt
            val b = ((id + x + y) % 256).toInt
            img.setRGB(x, y, (r << 16) | (g << 8) | b)
            x += 1
          }
          y += 1
        }
        (id, "image", ImageCodec.write(img, "png"), "image/png", source)
      })
      .toDF("media_id", "media_type", "payload", "mime", "source")
  }

  /** Synthetic WebP table exercising all three header forms — the #2
    * web image format's layout-only faces (scrub, aspect bucketing)
    * need no pixel decode, so payloads carry REAL header grammar
    * (VP8L stream bits on doc_id % 3 = 0, a VP8X canvas on 1, a lossy
    * VP8 key-frame header on 2) with [[syntheticImages]]' dims
    * arithmetic (w = 16 + id % 32, h = 16 + id % 24). With
    * `plantMetadata`: EXIF + XMP chunks on doc_id % 4 = 0 (VP8X flags
    * set when present), smuggled trailing bytes on doc_id % 4 = 2. */
  def syntheticWebpImages(spark: SparkSession, docs: DataFrame,
                          plantMetadata: Boolean = false): DataFrame = {
    import spark.implicits._
    docIds(docs).mapPartitions(_.map { id =>
      val w = 16 + (id % 32).toInt
      val h = 16 + (id % 24).toInt
      def chunk(cid: String, data: Array[Byte]): Array[Byte] = {
        val pad = data.length & 1
        val out = new Array[Byte](8 + data.length + pad)
        System.arraycopy(cid.getBytes("US-ASCII"), 0, out, 0, 4)
        out(4) = (data.length & 0xff).toByte
        out(5) = ((data.length >> 8) & 0xff).toByte
        out(6) = ((data.length >> 16) & 0xff).toByte
        out(7) = ((data.length >> 24) & 0xff).toByte
        System.arraycopy(data, 0, out, 8, data.length)
        out
      }
      def vp8l: Array[Byte] = {
        val bits = (w - 1) | ((h - 1) << 14)
        chunk("VP8L", Array[Byte](0x2f,
          (bits & 0xff).toByte, ((bits >> 8) & 0xff).toByte,
          ((bits >> 16) & 0xff).toByte, ((bits >> 24) & 0xff).toByte,
          (id & 0x7f).toByte, ((id >> 7) & 0x7f).toByte))
      }
      val body: Array[Byte] = (id % 3) match {
        case 0 => vp8l
        case 1 =>
          val x = new Array[Byte](10)
          x(4) = ((w - 1) & 0xff).toByte
          x(5) = (((w - 1) >> 8) & 0xff).toByte
          x(6) = (((w - 1) >> 16) & 0xff).toByte
          x(7) = ((h - 1) & 0xff).toByte
          x(8) = (((h - 1) >> 8) & 0xff).toByte
          x(9) = (((h - 1) >> 16) & 0xff).toByte
          chunk("VP8X", x) ++ vp8l
        case _ =>
          val f = new Array[Byte](12)
          f(3) = 0x9d.toByte; f(4) = 0x01; f(5) = 0x2a
          f(6) = (w & 0xff).toByte; f(7) = ((w >> 8) & 0x3f).toByte
          f(8) = (h & 0xff).toByte; f(9) = ((h >> 8) & 0x3f).toByte
          chunk("VP8 ", f)
      }
      val riffSize = 4 + body.length
      val head = Array[Byte]('R', 'I', 'F', 'F',
        (riffSize & 0xff).toByte, ((riffSize >> 8) & 0xff).toByte,
        ((riffSize >> 16) & 0xff).toByte, ((riffSize >> 24) & 0xff).toByte,
        'W', 'E', 'B', 'P')
      val clean = head ++ body
      val payload =
        if (plantMetadata && id % 4 == 0)
          MediaScrub.insertWebpMetadata(clean,
            s"gps=12.34,56.78 rig=$id".getBytes("US-ASCII"),
            s"<x:xmpmeta author='rig-$id'/>".getBytes("US-ASCII"))
        else if (plantMetadata && id % 4 == 2)
          clean ++ s"smuggled-after-webp-$id".getBytes("US-ASCII")
        else clean
      (id, "image", payload, "image/webp", "webpgen")
    }).toDF("media_id", "media_type", "payload", "mime", "source")
  }

  /** Synthetic ID3-tagged MP3 table: sync-valid (0xFFFB) filler frames
    * — the audio CODING stays the honest refusal, but the tag blocks
    * wrapping it are pure structure. With `plantMetadata`: an ID3v2
    * artist/geotag block + an ID3v1 trailer on doc_id % 4 = 0, the
    * ID3v1 trailer alone on % 4 = 2. */
  def syntheticMp3Audio(spark: SparkSession, docs: DataFrame,
                        plantMetadata: Boolean = false): DataFrame = {
    import spark.implicits._
    docIds(docs).mapPartitions(_.map { id =>
      val n = 64 + (id % 64).toInt
      val audio = new Array[Byte](n)
      var i = 0
      while (i < n) {
        audio(i) = if (i % 4 == 0) 0xff.toByte
        else if (i % 4 == 1) 0xfb.toByte
        else ((id + i) & 0x7f).toByte
        i += 1
      }
      val payload =
        if (plantMetadata && id % 4 == 0)
          MediaScrub.insertMp3Tags(audio,
            Some(s"rig-$id at 12.34,56.78"), id3v1 = true)
        else if (plantMetadata && id % 4 == 2)
          MediaScrub.insertMp3Tags(audio, None, id3v1 = true)
        else audio
      (id, "audio", payload, "audio/mpeg", "mp3gen")
    }).toDF("media_id", "media_type", "payload", "mime", "source")
  }

  /** Synthetic caption-track table: per document, `1 + doc_id % 4`
    * cues — cue k spans [k·2000 + (id%5)·100, +1500] ms with text
    * derived from (id, k) — rendered as SRT on even doc_ids and
    * WebVTT (with a NOTE block and cue settings) on odd, so both
    * parsers run. */
  def syntheticCaptionTracks(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docIds(docs).mapPartitions(_.map { id =>
      val nCues = 1 + (id % 4).toInt
      def stamp(ms: Long, sep: Char): String = {
        val h = ms / 3600000L
        val m = (ms % 3600000L) / 60000L
        val s = (ms % 60000L) / 1000L
        val r = ms % 1000L
        f"$h%02d:$m%02d:$s%02d$sep$r%03d"
      }
      val track = if (id % 2 == 0) {
        (0 until nCues).map { k =>
          val start = k * 2000L + (id % 5) * 100L
          s"${k + 1}\n${stamp(start, ',')} --> ${stamp(start + 1500L, ',')}\n" +
            s"cue $k of doc $id"
        }.mkString("\n\n")
      } else {
        "WEBVTT\n\nNOTE synthetic track\n\n" +
          (0 until nCues).map { k =>
            val start = k * 2000L + (id % 5) * 100L
            s"${stamp(start, '.')} --> ${stamp(start + 1500L, '.')} align:start\n" +
              s"cue $k of doc $id"
          }.mkString("\n\n")
      }
      (id, track)
    }).toDF("media_id", "caption")
  }

  /** Synthetic TIFF table (scanned-document shape): minimal
    * little-endian grayscale TIFFs with [[syntheticImages]]' dims
    * arithmetic and an id-seeded gradient the JDK TIFF plugin really
    * decodes. With `plantMetadata`: an Artist string + a GPS sub-IFD
    * (rational coordinates) on doc_id % 4 = 0, Artist alone on
    * % 4 = 2 — the adversary side of [[Tiff.strip]]. */
  def syntheticTiffImages(spark: SparkSession, docs: DataFrame,
                          plantMetadata: Boolean = false): DataFrame = {
    import spark.implicits._
    docIds(docs).mapPartitions(_.map { id =>
      val w = 16 + (id % 32).toInt
      val h = 16 + (id % 24).toInt
      val artist = if (plantMetadata && (id % 4 == 0 || id % 4 == 2))
        Some(s"operator rig-$id") else None
      val gps = plantMetadata && id % 4 == 0
      val tif = Tiff.writeGray(w, h,
        (x, y) => ((id * 31 + x * 3 + y * 5) % 256).toInt,
        artist = artist, gps = gps)
      (id, "image", tif, "image/tiff", "tiffgen")
    }).toDF("media_id", "media_type", "payload", "mime", "source")
  }

  /** Synthetic WebP table with REAL VP8L payloads: [[syntheticImages]]'
    * gradient + dims arithmetic encoded through the in-JVM lossless
    * codec, rotating the encoder mode by doc_id % 3 (plain literals,
    * subtract-green, predictor residuals) so a decode pass exercises
    * the transform chain across the corpus. */
  def syntheticWebpPixelImages(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docIds(docs).mapPartitions(_.map { id =>
      val w = 16 + (id % 32).toInt
      val h = 16 + (id % 24).toInt
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val r = ((id * 37 + x * 255 / w) % 256).toInt
          val g = ((id * 11 + y * 255 / h) % 256).toInt
          val b = ((id + x + y) % 256).toInt
          img.setRGB(x, y, (r << 16) | (g << 8) | b)
          x += 1
        }
        y += 1
      }
      val webp = (id % 3) match {
        case 0 => Vp8l.encode(img)
        case 1 => Vp8l.encode(img, subtractGreen = true)
        case _ => Vp8l.encode(img, predictor = true)
      }
      (id, "image", webp, "image/webp", "webpgen")
    }).toDF("media_id", "media_type", "payload", "mime", "source")
  }

  /** Synthetic image table with PLANTED duplicate groups: content is a
    * deterministic pseudo-random texture of `base = doc_id % groups`, so
    * docs sharing a base render the same picture; every other copy is
    * PERTURBED (a faint sparse brightness mask — the re-encode/brightness
    * noise a crawl's duplicate images carry), which leaves the
    * perceptual hash within a couple of bits while distinct bases land
    * far apart. Ground truth for dedup oracles: group = doc_id % groups. */
  def syntheticImageVariants(spark: SparkSession, docs: DataFrame,
                             groups: Int): DataFrame = {
    import spark.implicits._
    docIds(docs).mapPartitions(_.map { id =>
      val base = (id % groups).toInt
      val perturbed = (id / groups) % 2 == 1
      val w = 32
      val h = 32
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          // per-base pseudo-random texture (splitmix-style finalizer so
          // base interacts with x,y — a base-dependent OFFSET would
          // cancel in dHash's neighbor comparisons): distinct bases give
          // effectively independent dHash bit patterns
          var z = base.toLong * 0x9E3779B97F4A7C15L +
            x * 0xC2B2AE3D27D4EB4FL + y * 0x165667B19E3779F9L
          z ^= z >>> 33; z *= 0xFF51AFD7ED558CCDL; z ^= z >>> 33
          var g = (z & 0xffL).toInt
          if (perturbed && (x + y) % 5 == 0) g = math.min(255, g + 2)
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
          x += 1
        }
        y += 1
      }
      (id, "image", ImageCodec.write(img, "png"), "image/png", s"grp$base")
    }).toDF("media_id", "media_type", "payload", "mime", "source")
  }

  /** Synthetic audio with PLANTED duplicate groups: content (pitch) is
    * keyed by `base = doc_id % groups`, and every other copy is a VOLUME
    * variant (half amplitude — the perceptual-duplicate case a re-level
    * produces), so docs sharing a base and parity render byte-identical
    * WAVs while the halved copies stay perceptual duplicates. Ground
    * truth for dedup oracles: group = doc_id % groups. Pitch spacing
    * resolves up to 20 distinct groups. */
  def syntheticAudioVariants(spark: SparkSession, docs: DataFrame,
                             groups: Int): DataFrame = {
    require(groups >= 1 && groups <= 20,
      s"groups=$groups: pitch spacing resolves at most 20 groups")
    import spark.implicits._
    docIds(docs).mapPartitions(_.map { id =>
      val base = (id % groups).toInt
      val amp = if ((id / groups) % 2 == 1) 7000.0 else 14000.0
      val rate = 8000
      val frames = 800
      val freq = 200.0 + base * 50.0
      val pcm = new Array[Byte](frames * 2)
      var i = 0
      while (i < frames) {
        val v = (math.sin(2 * math.Pi * freq * i / rate) * amp).toShort
        pcm(2 * i) = (v & 0xff).toByte
        pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1,
        true, false)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos): Unit
      (id, "audio", bos.toByteArray, "audio/wav", s"agrp$base")
    }).toDF("media_id", "media_type", "payload", "mime", "source")
  }

  /** Synthetic audio with planted SHIFT-variant duplicate groups — the
    * fixture for window-level (shift-tolerant) dedup: content is a
    * tone at `200 + base*50` Hz whose amplitude steps per 50-frame
    * segment (splitmix of (base, window, segment) — every 400-frame
    * window gets its own envelope signature), 4 windows = 1600 frames
    * at 8 kHz. `kind = (doc_id/groups) % 3`: 0 = the base render;
    * 1 = TRIMMED (first 400 frames cut — 3 windows, each
    * sample-identical to base windows 1..3); 2 = silence-PADDED
    * (400 zero frames prepended — base windows at idx 1..4, idx 0
    * silent). Whole-clip fingerprints re-bucket all 8 segments for
    * kinds 1/2; hop-aligned window hashes re-align exactly. Ground
    * truth: group = doc_id % groups, its min id = the group index. */
  def syntheticAudioShiftVariants(spark: SparkSession, docs: DataFrame,
                                  groups: Int): DataFrame = {
    require(groups >= 1 && groups <= 20,
      s"groups=$groups: pitch spacing resolves at most 20 groups")
    import spark.implicits._
    docIds(docs).mapPartitions(_.map { id =>
      val base = (id % groups).toInt
      val kind = ((id / groups) % 3).toInt
      val rate = 8000
      val win = 400
      val baseFrames = 4 * win
      val freq = 200.0 + base * 50.0
      def baseSample(i: Int): Short = {
        val w = i / win
        val seg = (i % win) / (win / 8)
        var z = base.toLong * 0x9E3779B97F4A7C15L +
          w * 0xD6E8FEB86659FD93L + seg * 0xC2B2AE3D27D4EB4FL
        z ^= z >>> 33; z *= 0xFF51AFD7ED558CCDL; z ^= z >>> 33
        val amp = 4000.0 + 1250.0 * (z & 0x7L)
        (math.sin(2 * math.Pi * freq * i / rate) * amp).toShort
      }
      val frames = kind match {
        case 1 => baseFrames - win // trimmed
        case 2 => baseFrames + win // padded
        case _ => baseFrames
      }
      val pcm = new Array[Byte](frames * 2)
      var j = 0
      while (j < frames) {
        val v: Short = kind match {
          case 1 => baseSample(j + win)
          case 2 => if (j < win) 0 else baseSample(j - win)
          case _ => baseSample(j)
        }
        pcm(2 * j) = (v & 0xff).toByte
        pcm(2 * j + 1) = ((v >> 8) & 0xff).toByte
        j += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1,
        true, false)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos): Unit
      (id, "audio", bos.toByteArray, "audio/wav", s"sgrp$base-k$kind")
    }).toDF("media_id", "media_type", "payload", "mime", "source")
  }

  /** Synthetic images with planted RESOLUTION-variant duplicate groups:
    * content is a piecewise-constant texture on the 9x8 dHash cell grid
    * (cell gray = splitmix(base, cellX, cellY)), rendered at 36x32 for
    * `kind = (doc_id / groups) % 2 == 0` and bilinear-DOWNSCALED to
    * 18x16 for the other half — the thumbnail-of-the-original case.
    * Cell-grid alignment makes the downscale preserve the dHash cell
    * means, so both renders hash within a couple of bits while distinct
    * bases stay far. Ground truth: group = doc_id % groups; the best
    * (largest) copy of group g has id g. */
  def syntheticImageResVariants(spark: SparkSession, docs: DataFrame,
                                groups: Int): DataFrame = {
    import spark.implicits._
    docIds(docs).mapPartitions(_.map { id =>
      val base = (id % groups).toInt
      val small = (id / groups) % 2 == 1
      val w = 36
      val h = 32
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val cx = x * 9 / w
          val cy = y * 8 / h
          var z = base.toLong * 0x9E3779B97F4A7C15L +
            cx * 0xC2B2AE3D27D4EB4FL + cy * 0x165667B19E3779F9L
          z ^= z >>> 33; z *= 0xFF51AFD7ED558CCDL; z ^= z >>> 33
          val g = (z & 0xffL).toInt
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
          x += 1
        }
        y += 1
      }
      val out =
        if (!small) img
        else {
          val s = new java.awt.image.BufferedImage(w / 2, h / 2,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g2 = s.createGraphics()
          try {
            g2.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g2.drawImage(img, 0, 0, w / 2, h / 2, null): Unit
          } finally g2.dispose()
          s
        }
      (id, "image", ImageCodec.write(out, "png"), "image/png", s"rgrp$base")
    }).toDF("media_id", "media_type", "payload", "mime", "source")
  }

  /** Synthetic images with planted CROP-variant duplicate groups — the
    * fixture for tile-level (crop-tolerant) dedup: content is a
    * per-tile splitmix texture of (base, tileX, tileY) on 16x16 tiles,
    * rendered in the BASE's tile coordinate system so edits re-align.
    * `kind = (doc_id / groups) % 3`: 0 = the base 4x4-tile (64x64)
    * render; 1 = CROPPED (first tile COLUMN removed — 48x64, its tiles
    * pixel-identical to base tiles at tileX 1..3); 2 = border-EXTENDED
    * (a new tile column appended — 80x64, base tiles intact at tileX
    * 0..3). The whole-image dHash shifts its 9x8 downscale grid under
    * both edits and lands far away; tile hashes re-align exactly.
    * Ground truth: group = doc_id % groups. */
  def syntheticImageCropVariants(spark: SparkSession, docs: DataFrame,
                                 groups: Int): DataFrame = {
    import spark.implicits._
    docIds(docs).mapPartitions(_.map { id =>
      val base = (id % groups).toInt
      val kind = ((id / groups) % 3).toInt
      val tile = 16
      val firstCol = if (kind == 1) 1 else 0
      val lastCol = if (kind == 2) 4 else 3 // inclusive; base cols 0..3
      val w = (lastCol - firstCol + 1) * tile
      val h = 4 * tile
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val tx = firstCol + x / tile // ABSOLUTE base-tile column
          val ty = y / tile
          var z = base.toLong * 0x9E3779B97F4A7C15L +
            tx * 0xD6E8FEB86659FD93L + ty * 0x94D049BB133111EBL +
            (x % tile) * 0xC2B2AE3D27D4EB4FL +
            (y % tile) * 0x165667B19E3779F9L
          z ^= z >>> 33; z *= 0xFF51AFD7ED558CCDL; z ^= z >>> 33
          val g = (z & 0xffL).toInt
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
          x += 1
        }
        y += 1
      }
      (id, "image", ImageCodec.write(img, "png"), "image/png",
        s"cgrp$base-k$kind")
    }).toDF("media_id", "media_type", "payload", "mime", "source")
  }

  /** Synthetic images with planted ROTATION/FLIP-variant duplicate
    * groups — the fixture for orientation-tolerant dedup: content is a
    * per-base splitmix texture on a 32x32 SQUARE canvas (rotations keep
    * the dims), and `kind = (doc_id / groups) % 4` renders 0 = the base;
    * 1 = rotated 90 deg clockwise; 2 = rotated 180; 3 = mirrored
    * horizontally — each a pixel-EXACT dihedral transform, so the copy's
    * orientation-hash SET is a permutation of the base's. Every other
    * cycle of kinds (`(doc_id / (4*groups)) % 2 == 1`) additionally
    * carries the faint sparse brightness mask (re-encode noise), keeping
    * near-dup matching honest. The whole-image dHash of a rotated copy
    * lands FAR from its base (the gradient field turns under every
    * cell); orientation hashes re-align exactly. Ground truth:
    * group = doc_id % groups, its min id = the group index. */
  def syntheticImageRotationVariants(spark: SparkSession, docs: DataFrame,
                                     groups: Int): DataFrame = {
    import spark.implicits._
    docIds(docs).mapPartitions(_.map { id =>
      val base = (id % groups).toInt
      val kind = ((id / groups) % 4).toInt
      val perturbed = (id / (4L * groups)) % 2 == 1
      val n = 32
      val img = new java.awt.image.BufferedImage(n, n,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < n) {
        var x = 0
        while (x < n) {
          // source coordinate in the BASE texture's frame: kind 1 is the
          // inverse-of-90-CW remap (target (x,y) reads base (y, n-1-x)),
          // kind 2 the 180 remap, kind 3 the horizontal mirror
          val (sx, sy) = kind match {
            case 1 => (y, n - 1 - x)
            case 2 => (n - 1 - x, n - 1 - y)
            case 3 => (n - 1 - x, y)
            case _ => (x, y)
          }
          var z = base.toLong * 0x9E3779B97F4A7C15L +
            sx * 0xC2B2AE3D27D4EB4FL + sy * 0x165667B19E3779F9L
          z ^= z >>> 33; z *= 0xFF51AFD7ED558CCDL; z ^= z >>> 33
          var g = (z & 0xffL).toInt
          if (perturbed && (x + y) % 5 == 0) g = math.min(255, g + 2)
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
          x += 1
        }
        y += 1
      }
      (id, "image", ImageCodec.write(img, "png"), "image/png",
        s"ogrp$base-k$kind")
    }).toDF("media_id", "media_type", "payload", "mime", "source")
  }

  /** A gray-palette INDEXED image: the GIF writer stores it without any
    * color quantization pass (the palette IS the 256 grays), writes are
    * direct index sets, and decode returns exactly (g, g, g) — the fast
    * AND lossless shape for synthetic gray frames. */
  private def grayIndexedImage(w: Int, h: Int): java.awt.image.BufferedImage = {
    val grays = Array.tabulate(256)(_.toByte)
    val icm = new java.awt.image.IndexColorModel(8, 256, grays, grays, grays)
    new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
  }

  /** Synthetic animated GIFs with PLANTED duplicate groups: every frame
    * is a pseudo-random texture of (base = doc_id % groups, frame index)
    * — docs sharing a base and parity render byte-identical containers —
    * and every other copy PERTURBS one frame with a faint sparse
    * brightness mask (single-frame re-compression noise), which moves
    * the majority-fold video fingerprint by at most a couple of bits
    * while distinct bases land far apart. 4 frames each; ground truth
    * for dedup oracles: group = doc_id % groups. */
  def syntheticGifVariants(spark: SparkSession, docs: DataFrame,
                           groups: Int): DataFrame = {
    import spark.implicits._
    docIds(docs).mapPartitions(_.map { id =>
      val base = (id % groups).toInt
      val perturbed = (id / groups) % 2 == 1
      val w = 32
      val h = 32
      val frames = (0 until 4).map { f =>
        // gray-INDEXED frames: decode returns exactly (g,g,g) — same
        // pixels the PNG eval path decodes (the cross-modal oracle
        // depends on that; TYPE_BYTE_GRAY's linear-gray -> sRGB
        // conversion differs between codecs) — and the GIF writer skips
        // its per-frame palette quantization entirely
        val img = grayIndexedImage(w, h)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            // splitmix-style finalizer over (base, frame, x, y): distinct
            // bases give effectively independent per-frame dHash patterns
            var z = base.toLong * 0x9E3779B97F4A7C15L +
              f * 0xD6E8FEB86659FD93L +
              x * 0xC2B2AE3D27D4EB4FL + y * 0x165667B19E3779F9L
            z ^= z >>> 33; z *= 0xFF51AFD7ED558CCDL; z ^= z >>> 33
            var g = (z & 0xffL).toInt
            if (perturbed && f == 1 && (x + y) % 5 == 0)
              g = math.min(255, g + 2)
            raster.setSample(x, y, 0, g)
            x += 1
          }
          y += 1
        }
        img
      }
      (id, "video", GifCodec.writeAnimated(frames, delayCs = 10),
        "image/gif", s"vgrp$base")
    }).toDF("media_id", "media_type", "payload", "mime", "source")
  }

  /** Synthetic animated GIFs with PLANTED scene structure — the fixture
    * for shot-boundary detection: `1 + doc_id % 4` scenes of 2 frames
    * each, frame texture keyed by (doc_id, scene) so frames WITHIN a
    * scene are pixel-identical (or carry only the faint sparse mask on
    * odd ids — re-compression noise, a couple of dHash bits) while
    * consecutive scenes are independent textures (random-far dHashes).
    * Ground truth: scene s of video id starts at frame 2*s and holds 2
    * frames. */
  def syntheticGifSceneVariants(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docIds(docs).mapPartitions(_.map { id =>
      val scenes = 1 + (id % 4).toInt
      val noisy = id % 2 == 1
      val w = 32
      val h = 32
      val frames = (0 until scenes * 2).map { f =>
        val s = f / 2
        val img = grayIndexedImage(w, h)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            var z = id * 0x9E3779B97F4A7C15L + s * 0xD6E8FEB86659FD93L +
              x * 0xC2B2AE3D27D4EB4FL + y * 0x165667B19E3779F9L
            z ^= z >>> 33; z *= 0xFF51AFD7ED558CCDL; z ^= z >>> 33
            var g = (z & 0xffL).toInt
            if (noisy && f % 2 == 1 && (x + y) % 5 == 0)
              g = math.min(255, g + 2)
            raster.setSample(x, y, 0, g)
            x += 1
          }
          y += 1
        }
        img
      }
      (id, "video", GifCodec.writeAnimated(frames, delayCs = 10),
        "image/gif", s"scn$scenes")
    }).toDF("media_id", "media_type", "payload", "mime", "source")
  }

  /** Synthetic audio with PLANTED utterance structure — the fixture for
    * silence-split segmentation: `1 + doc_id % 4` segments of 2 content
    * windows (400 frames each, tone amplitude keyed by (doc_id, segment))
    * separated by exactly one SILENT window; no trailing silence.
    * Ground truth: segment s of clip id starts at window 3*s and holds
    * 2 windows. */
  def syntheticAudioSegmentVariants(spark: SparkSession,
                                    docs: DataFrame): DataFrame = {
    import spark.implicits._
    docIds(docs).mapPartitions(_.map { id =>
      val nseg = 1 + (id % 4).toInt
      val win = 400
      val rate = 8000
      val frames = (3 * nseg - 1) * win
      val freq = 200.0 + (id % 20) * 50.0
      val pcm = new Array[Byte](frames * 2)
      var j = 0
      while (j < frames) {
        val w = j / win
        val v: Short =
          if (w % 3 == 2) 0 // the gap window between segments
          else {
            val s = w / 3
            var z = id * 0x9E3779B97F4A7C15L + s * 0xD6E8FEB86659FD93L
            z ^= z >>> 33; z *= 0xFF51AFD7ED558CCDL; z ^= z >>> 33
            val amp = 4000.0 + 1250.0 * (z & 0x7L)
            (math.sin(2 * math.Pi * freq * j / rate) * amp).toShort
          }
        pcm(2 * j) = (v & 0xff).toByte
        pcm(2 * j + 1) = ((v >> 8) & 0xff).toByte
        j += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1,
        true, false)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos): Unit
      (id, "audio", bos.toByteArray, "audio/wav", s"useg$nseg")
    }).toDF("media_id", "media_type", "payload", "mime", "source")
  }

  /** Synthetic images with PLANTED letterbox/pillarbox bars: a 24x24
    * per-pixel splitmix interior (no uniform row or column) wrapped in
    * BLACK bars of width top = doc_id % 3, bottom = (doc_id/3) % 3,
    * left = (doc_id/9) % 3, right = (doc_id/27) % 3. Ground truth for
    * [[MediaQuality.borderBars]]/cropBars. */
  def syntheticImageBarMix(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docIds(docs).mapPartitions(_.map { id =>
      val top = (id % 3).toInt
      val bottom = ((id / 3) % 3).toInt
      val left = ((id / 9) % 3).toInt
      val right = ((id / 27) % 3).toInt
      val iw = 24
      val ih = 24
      val w = iw + left + right
      val h = ih + top + bottom
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val inBar = y < top || y >= top + ih || x < left || x >= left + iw
          val g =
            if (inBar) 0
            else {
              var z = id * 0x9E3779B97F4A7C15L +
                (x - left) * 0xC2B2AE3D27D4EB4FL +
                (y - top) * 0x165667B19E3779F9L
              z ^= z >>> 33; z *= 0xFF51AFD7ED558CCDL; z ^= z >>> 33
              // keep 1..255: a 0-luminance interior pixel could extend a
              // black bar column when its whole row/col happened dark
              1 + (z & 0xfeL).toInt
            }
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
          x += 1
        }
        y += 1
      }
      (id, "image", ImageCodec.write(img, "png"), "image/png",
        s"bars$top$bottom$left$right")
    }).toDF("media_id", "media_type", "payload", "mime", "source")
  }

  /** Synthetic PNGs with PLANTED container metadata: the texture images
    * of [[syntheticImages]], with a tEXt chunk (a fake camera/GPS
    * comment) inserted before IEND on doc_id % 4 == 0. Ground truth for
    * [[MediaScrub]]: had_metadata = doc_id % 4 == 0. */
  def syntheticImagesWithMetadata(spark: SparkSession,
                                  docs: DataFrame): DataFrame = {
    import spark.implicits._
    val base = syntheticImages(spark, docs)
    base.as[MediaRecord].mapPartitions(_.map { r =>
      if (r.media_id % 4 == 0)
        r.copy(payload = MediaScrub.insertPngText(r.payload, "Comment",
          s"camera=XY gps=1.0,${r.media_id}"))
      else r
    }).toDF()
  }

  /** Synthetic JPEGs with PLANTED metadata: the [[syntheticImages]]
    * gradients JPEG-encoded through the JDK writer (JFIF APP0 only —
    * clean), with an APP1 Exif-shaped segment (fake GPS/device string)
    * inserted after SOI on doc_id % 4 == 0 and smuggled trailing bytes
    * appended after EOI on doc_id % 4 == 2. Ground truth for
    * [[MediaScrub.stripJpeg]]. */
  def syntheticJpegsWithMetadata(spark: SparkSession,
                                 docs: DataFrame): DataFrame = {
    import spark.implicits._
    docIds(docs).mapPartitions(_.map { id =>
      val w = 16 + (id % 32).toInt
      val h = 16 + (id % 24).toInt
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val r = ((id * 37 + x * 255 / w) % 256).toInt
          val g = ((id * 11 + y * 255 / h) % 256).toInt
          img.setRGB(x, y, (r << 16) | (g << 8) | ((id + x + y) % 256).toInt)
          x += 1
        }
        y += 1
      }
      val clean = ImageCodec.write(img, "jpg")
      val payload =
        if (id % 4 == 0)
          MediaScrub.insertJpegExif(clean, s"GPS 1.0,$id device=cam$id")
        else if (id % 4 == 2)
          clean ++ s"smuggled-after-eoi-$id".getBytes("US-ASCII")
        else clean
      (id, "image", payload, "image/jpeg", "jpggen")
    }).toDF("media_id", "media_type", "payload", "mime", "source")
  }

  /** Synthetic WAVs with PLANTED container metadata: the tone clips of
    * [[syntheticAudioVariants]] (groups=20), with a LIST/INFO ICMT
    * comment (a fake recorder serial) appended on doc_id % 4 == 0.
    * Ground truth for [[MediaScrub]]: had_metadata = doc_id % 4 == 0. */
  def syntheticAudioWithMetadata(spark: SparkSession,
                                 docs: DataFrame): DataFrame = {
    import spark.implicits._
    syntheticAudioVariants(spark, docs, groups = 20)
      .as[MediaRecord].mapPartitions(_.map { r =>
        if (r.media_id % 4 == 0)
          r.copy(payload = MediaScrub.insertWavInfo(r.payload,
            s"recorder=Z${r.media_id} op=name"))
        else r
      }).toDF()
  }

  /** Synthetic animated GIFs with PLANTED container metadata: the
    * 4-frame variants of [[syntheticGifVariants]] (groups=20), with a
    * comment extension (a fake tool/source string) inserted before the
    * trailer on doc_id % 4 == 0. Ground truth for [[MediaScrub]]:
    * had_metadata = doc_id % 4 == 0. */
  def syntheticGifsWithMetadata(spark: SparkSession,
                                docs: DataFrame): DataFrame = {
    import spark.implicits._
    syntheticGifVariants(spark, docs, groups = 20)
      .as[MediaRecord].mapPartitions(_.map { r =>
        if (r.media_id % 4 == 0)
          r.copy(payload = MediaScrub.insertGifComment(r.payload,
            s"tool=conv source=site/${r.media_id}"))
        else r
      }).toDF()
  }

  /** MIXED hygiene fixture: the three modality QUALITY mixes (same
    * disjoint %5/%11/%7 defect chains as q204/q205/q208) with container
    * METADATA injected on doc_id % 4 == 0 (tEXt / LIST / comment
    * extension by signature — injection never changes decoded samples,
    * so the two defect chains stay independent). Ground truth for
    * [[MediaReport.hygieneCard]]: per modality, quality_fail =
    * (id%5=0 or id%11=0 or id%7=0), with_metadata = (id%4=0). */
  def syntheticHygieneMix(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val mixed = syntheticImageQualityMix(spark, docs)
      .unionByName(syntheticAudioQualityMix(spark, docs))
      .unionByName(syntheticVideoQualityMix(spark, docs))
    mixed.as[MediaRecord].mapPartitions(_.map { r =>
      if (r.media_id % 4 != 0) r
      else if (MediaScrub.isPng(r.payload))
        r.copy(payload = MediaScrub.insertPngText(r.payload, "Comment",
          s"src=${r.media_id}"))
      else if (MediaScrub.isRiffWave(r.payload))
        r.copy(payload = MediaScrub.insertWavInfo(r.payload,
          s"src=${r.media_id}"))
      else if (GifCodec.isGif(r.payload))
        r.copy(payload = MediaScrub.insertGifComment(r.payload,
          s"src=${r.media_id}"))
      else r
    }).toDF()
  }

  /** Synthetic videos with planted FRAME-RATE-variant duplicate groups —
    * the fixture for time-sampled (fps-invariant) dedup
    * ([[VideoDedup.fingerprint64AtFps]]): the content timeline shows 4
    * distinct textures of (base = doc_id % groups, c) for
    * 400/100/100/200 ms, and `kind = (doc_id / groups) % 2` renders it
    * 0 = VFR (4 frames, delays 40/10/10/20 cs) or 1 = CONSTANT-RATE
    * (8 frames at 10 cs — A,A,A,A,B,C,D,D, the same wall-clock
    * timeline). The frame on screen at every tick matches across kinds,
    * so time-sampled fingerprints are IDENTICAL; the index-based
    * majority fold sees vote multiplicities 4/1/1/2 vs 1/1/1/1 and
    * drifts far — the gap this fixture exists to pin. Ground truth:
    * group = doc_id % groups, its min id = the group index. */
  def syntheticVfrVariants(spark: SparkSession, docs: DataFrame,
                           groups: Int): DataFrame = {
    import spark.implicits._
    docIds(docs).mapPartitions(_.map { id =>
      val base = (id % groups).toInt
      val cfr = (id / groups) % 2 == 1
      val w = 32
      val h = 32
      def tex(c: Int): java.awt.image.BufferedImage = {
        val img = grayIndexedImage(w, h)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            var z = base.toLong * 0x9E3779B97F4A7C15L +
              c * 0xD6E8FEB86659FD93L + x * 0xC2B2AE3D27D4EB4FL +
              y * 0x165667B19E3779F9L
            z ^= z >>> 33; z *= 0xFF51AFD7ED558CCDL; z ^= z >>> 33
            raster.setSample(x, y, 0, (z & 0xffL).toInt)
            x += 1
          }
          y += 1
        }
        img
      }
      val content = (0 until 4).map(tex)
      val (frames, delays) =
        if (!cfr) (content, Seq(40, 10, 10, 20))
        else (Seq(content(0), content(0), content(0), content(0),
          content(1), content(2), content(3), content(3)),
          Seq.fill(8)(10))
      (id, "video", GifCodec.writeAnimatedVfr(frames, delays),
        "image/gif", s"vgrp$base-${if (cfr) "cfr" else "vfr"}")
    }).toDF("media_id", "media_type", "payload", "mime", "source")
  }

  /** The [[syntheticVfrVariants]] timelines re-rendered as MJPEG-in-mp4
    * — SAME textures, SAME wall-clock schedule (40/10/10/20 cs VFR or
    * 8x10 cs CFR, carried as native per-frame stts µs deltas), a
    * DIFFERENT container and codec: the cross-container re-encode class
    * a leaked benchmark video actually arrives in. Time-sampled folds
    * land within JPEG re-encode tolerance of the GIF renders. */
  def syntheticVfrMp4Variants(spark: SparkSession, docs: DataFrame,
                              groups: Int): DataFrame = {
    import spark.implicits._
    docIds(docs).mapPartitions(_.map { id =>
      val base = (id % groups).toInt
      val cfr = (id / groups) % 2 == 1
      val w = 32
      val h = 32
      def tex(c: Int): java.awt.image.BufferedImage = {
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            var z = base.toLong * 0x9E3779B97F4A7C15L +
              c * 0xD6E8FEB86659FD93L + x * 0xC2B2AE3D27D4EB4FL +
              y * 0x165667B19E3779F9L
            z ^= z >>> 33; z *= 0xFF51AFD7ED558CCDL; z ^= z >>> 33
            val g = (z & 0xffL).toInt
            img.setRGB(x, y, (g << 16) | (g << 8) | g)
            x += 1
          }
          y += 1
        }
        img
      }
      val content = (0 until 4).map(tex)
      val (frames, delaysUs) =
        if (!cfr) (content, Seq(400000L, 100000L, 100000L, 200000L))
        else (Seq(content(0), content(0), content(0), content(0),
          content(1), content(2), content(3), content(3)),
          Seq.fill(8)(100000L))
      (id, "video", Mp4Codec.writeMjpeg(frames, delaysUs),
        "video/mp4", s"vgrp$base-${if (cfr) "cfr" else "vfr"}-mp4")
    }).toDF("media_id", "media_type", "payload", "mime", "source")
  }

  /** Synthetic AVIs with PLANTED container metadata: the MJPEG clips of
    * [[syntheticAviVideos]], with a LIST/INFO ISFT block (a fake
    * encoder/operator string) inserted after the header list on
    * doc_id % 4 == 0. Ground truth for [[MediaScrub]]: had_metadata =
    * doc_id % 4 == 0. */
  def syntheticAvisWithMetadata(spark: SparkSession,
                                docs: DataFrame): DataFrame = {
    import spark.implicits._
    syntheticAviVideos(spark, docs)
      .as[MediaRecord].mapPartitions(_.map { r =>
        if (r.media_id % 4 == 0)
          r.copy(payload = MediaScrub.insertAviInfo(r.payload,
            s"encoder=cam${r.media_id} op=name"))
        else r
      }).toDF()
  }

  /** Synthetic images with PLANTED blur: doc_id % 3 == 0 renders a 4x4
    * splitmix texture bilinear-UPSCALED to 32x32 (the defocused /
    * upscaled re-encode class — linear ramps have near-zero Laplacian),
    * everything else a per-pixel splitmix texture (Laplacian variance in
    * the tens of thousands). Ground truth for the
    * [[MediaQuality.imageSharpness]] gate: blurry = doc_id % 3 == 0. */
  def syntheticImageBlurMix(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docIds(docs).mapPartitions(_.map { id =>
      val blurred = id % 3 == 0
      val side = 32
      val src = if (blurred) 4 else side
      val img = new java.awt.image.BufferedImage(src, src,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < src) {
        var x = 0
        while (x < src) {
          var z = id * 0x9E3779B97F4A7C15L +
            x * 0xC2B2AE3D27D4EB4FL + y * 0x165667B19E3779F9L
          z ^= z >>> 33; z *= 0xFF51AFD7ED558CCDL; z ^= z >>> 33
          val g = (z & 0xffL).toInt
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
          x += 1
        }
        y += 1
      }
      val out =
        if (!blurred) img
        else {
          val s = new java.awt.image.BufferedImage(side, side,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g2 = s.createGraphics()
          try {
            g2.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g2.drawImage(img, 0, 0, side, side, null): Unit
          } finally g2.dispose()
          s
        }
      (id, "image", ImageCodec.write(out, "png"), "image/png",
        if (blurred) "blur" else "sharp")
    }).toDF("media_id", "media_type", "payload", "mime", "source")
  }

  /** Synthetic images with PLANTED quality defects, disjoint by an
    * if-else chain any engine can replay: doc_id % 5 == 0 -> an 8x8
    * thumbnail; else % 11 == 0 -> a 120x16 banner strip (aspect 7.5);
    * else % 7 == 0 -> a 20x20 SOLID placeholder (zero luminance range);
    * else a full-range texture at (16 + id % 32) x (16 + id % 24).
    * Ground truth for the [[MediaQuality.imageSignals]] gates. */
  def syntheticImageQualityMix(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docIds(docs).mapPartitions(_.map { id =>
      val (w, h, solid) =
        if (id % 5 == 0) (8, 8, false)
        else if (id % 11 == 0) (120, 16, false)
        else if (id % 7 == 0) (20, 20, true)
        else (16 + (id % 32).toInt, 16 + (id % 24).toInt, false)
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val g =
            if (solid) (20 + (id % 200)).toInt
            else {
              var z = id * 0x9E3779B97F4A7C15L +
                x * 0xC2B2AE3D27D4EB4FL + y * 0x165667B19E3779F9L
              z ^= z >>> 33; z *= 0xFF51AFD7ED558CCDL; z ^= z >>> 33
              (z & 0xffL).toInt
            }
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
          x += 1
        }
        y += 1
      }
      (id, "image", ImageCodec.write(img, "png"), "image/png", "qmix")
    }).toDF("media_id", "media_type", "payload", "mime", "source")
  }

  /** Synthetic audio with PLANTED quality defects, disjoint by an
    * if-else chain: doc_id % 5 == 0 -> a 200-frame (25 ms) snippet;
    * else % 11 == 0 -> SILENCE (all-zero samples); else % 7 == 0 -> a
    * full-scale square wave (every sample clipped); else a clean
    * 14000-amplitude sine. 8 kHz mono 16-bit, 800 frames unless short.
    * Ground truth for the [[MediaQuality.audioSignals]] gates. */
  def syntheticAudioQualityMix(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docIds(docs).mapPartitions(_.map { id =>
      val rate = 8000
      val frames = if (id % 5 == 0) 200 else 800
      val silent = id % 5 != 0 && id % 11 == 0
      val square = !silent && id % 5 != 0 && id % 7 == 0
      val freq = 200.0 + (id % 20) * 50.0
      val pcm = new Array[Byte](frames * 2)
      var i = 0
      while (i < frames) {
        val s = math.sin(2 * math.Pi * freq * i / rate)
        val v: Short =
          if (silent) 0
          else if (square) { if (s >= 0) Short.MaxValue else Short.MinValue }
          else (s * 14000).toShort
        pcm(2 * i) = (v & 0xff).toByte
        pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1,
        true, false)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos): Unit
      (id, "audio", bos.toByteArray, "audio/wav", "qmix")
    }).toDF("media_id", "media_type", "payload", "mime", "source")
  }

  /** MIXED-modality fixture for the COMPOSED curation pipeline
    * ([[MediaPipeline.curate]]): for every doc_id, one image, one audio
    * clip and one video — each modality planting the SAME stage
    * arithmetic. `doc_id % 5 == 0` -> a quality defect (8x8 thumbnail /
    * 25 ms snippet / single-frame GIF). Otherwise content is keyed by
    * `g = doc_id % 20` (because 20 is a multiple of 5, groups where
    * g % 5 == 0 consist ENTIRELY of defects and vanish at the gate):
    * images render the cell-grid texture of g at full 36x32 resolution
    * for `(doc_id/20) % 2 == 0` and bilinear-downscaled 18x16 otherwise
    * (keep-best keeps the min full-res id = g); audio renders the
    * 200+g*50 Hz sine at full/half volume (volume-invariant fingerprint
    * — min id g survives); videos render byte-identical 4-frame GIFs of
    * g (min id g survives). Ground truth per modality: stage = gated if
    * doc_id%5=0, dup_dropped if doc_id>=20, else kept (or contaminated
    * when the eval set carries groups {1,2} — generate the eval side by
    * running THIS generator over doc_ids {1,2}). */
  def syntheticMediaPipelineMix(spark: SparkSession,
                                docs: DataFrame): DataFrame = {
    import spark.implicits._
    val ids = docIds(docs)
    def splitmix(parts: Long*): Long = {
      var z = 0L
      parts.foreach { p => z = (z + p) * 0x9E3779B97F4A7C15L }
      z ^= z >>> 33; z *= 0xFF51AFD7ED558CCDL; z ^= z >>> 33
      z
    }
    val images = ids.mapPartitions(_.map { id =>
      val defect = id % 5 == 0
      val g = (id % 20).toInt
      val small = !defect && (id / 20) % 2 == 1
      val (w, h) = if (defect) (8, 8) else (36, 32)
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v =
            if (defect) (splitmix(id, x.toLong, y.toLong) & 0xffL).toInt
            else {
              val cx = x * 9 / w
              val cy = y * 8 / h
              (splitmix(g.toLong, cx.toLong, cy.toLong) & 0xffL).toInt
            }
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
          x += 1
        }
        y += 1
      }
      val out =
        if (!small) img
        else {
          val s = new java.awt.image.BufferedImage(w / 2, h / 2,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g2 = s.createGraphics()
          try {
            g2.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g2.drawImage(img, 0, 0, w / 2, h / 2, null): Unit
          } finally g2.dispose()
          s
        }
      (id, "image", ImageCodec.write(out, "png"), "image/png", s"pm$g")
    }).toDF("media_id", "media_type", "payload", "mime", "source")
    val audio = ids.mapPartitions(_.map { id =>
      val defect = id % 5 == 0
      val g = (id % 20).toInt
      val rate = 8000
      val frames = if (defect) 200 else 800
      val amp = if (!defect && (id / 20) % 2 == 1) 7000.0 else 14000.0
      val freq = 200.0 + g * 50.0
      val pcm = new Array[Byte](frames * 2)
      var i = 0
      while (i < frames) {
        val v = (math.sin(2 * math.Pi * freq * i / rate) * amp).toShort
        pcm(2 * i) = (v & 0xff).toByte
        pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1,
        true, false)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos): Unit
      (id, "audio", bos.toByteArray, "audio/wav", s"pm$g")
    }).toDF("media_id", "media_type", "payload", "mime", "source")
    val video = ids.mapPartitions(_.map { id =>
      val defect = id % 5 == 0
      val g = (id % 20).toInt
      val nFrames = if (defect) 1 else 4
      val w = 32
      val h = 32
      val frames = (0 until nFrames).map { f =>
        val img = grayIndexedImage(w, h)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val v =
              if (defect) splitmix(id, 1L + f, x.toLong * 64 + y) & 0xffL
              else splitmix(g.toLong, 1L + f, x.toLong * 64 + y) & 0xffL
            raster.setSample(x, y, 0, v.toInt)
            x += 1
          }
          y += 1
        }
        img
      }
      (id, "video", GifCodec.writeAnimated(frames, delayCs = 10),
        "image/gif", s"pm$g")
    }).toDF("media_id", "media_type", "payload", "mime", "source")
    images.unionByName(audio).unionByName(video)
  }

  /** MIXED-modality fixture for the DEEP (shift/crop-tolerant) composed
    * pipeline ([[MediaPipeline.curateDeep]]): one image, one audio clip
    * and one video per doc_id, same gate arithmetic as
    * [[syntheticMediaPipelineMix]] (`doc_id % 5 == 0` -> defect), but
    * the duplicate structure is SHIFTED: content is keyed by
    * (g = doc_id % 20, kind = (doc_id / 20) % 3) where kind 0 is the
    * base render, kind 1 a CROPPED/TRIMMED/CLIPPED copy (first tile
    * column / first 400 frames / first video frame removed) and kind 2
    * a border-EXTENDED / silence-PADDED / frame-extended copy. The three
    * kinds of a group do NOT share a whole-content hash (each edit
    * shifts it), but they share every surviving PART — so whole-hash
    * dedup keeps min id per (g, kind) = g + 20*kind, and an eval set of
    * kind-1 renders (e.g. doc_ids {21, 22} -> trimmed copies of groups
    * {1, 2}) leaks into EVERY kind of those groups only through the
    * part-level probe. Ground truth: stage = gated if doc_id%5=0,
    * dup_dropped if doc_id>=60, contaminated if the survivor's group is
    * in the eval set, else kept. */
  def syntheticMediaPipelineDeepMix(spark: SparkSession,
                                    docs: DataFrame): DataFrame = {
    import spark.implicits._
    val ids = docIds(docs)
    def splitmix(parts: Long*): Long = {
      var z = 0L
      parts.foreach { p => z = (z + p) * 0x9E3779B97F4A7C15L }
      z ^= z >>> 33; z *= 0xFF51AFD7ED558CCDL; z ^= z >>> 33
      z
    }
    val images = ids.mapPartitions(_.map { id =>
      val defect = id % 5 == 0
      val g = (id % 20).toInt
      val kind = ((id / 20) % 3).toInt
      val tile = 16
      val firstCol = if (!defect && kind == 1) 1 else 0
      val lastCol = if (!defect && kind == 2) 4 else 3
      val (w, h) =
        if (defect) (8, 8) else ((lastCol - firstCol + 1) * tile, 4 * tile)
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v =
            if (defect) (splitmix(id, x.toLong * 64 + y) & 0xffL).toInt
            else {
              val tx = firstCol + x / tile // ABSOLUTE base-tile column
              (splitmix(2L + g, tx.toLong, (y / tile).toLong,
                (x % tile).toLong * 64 + (y % tile)) & 0xffL).toInt
            }
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
          x += 1
        }
        y += 1
      }
      (id, "image", ImageCodec.write(img, "png"), "image/png", s"dm$g")
    }).toDF("media_id", "media_type", "payload", "mime", "source")
    val audio = ids.mapPartitions(_.map { id =>
      val defect = id % 5 == 0
      val g = (id % 20).toInt
      val kind = ((id / 20) % 3).toInt
      val rate = 8000
      val win = 400
      val freq = 200.0 + g * 50.0
      // per-(group, window, segment) amplitude steps give every window
      // its own envelope signature, as the shift fixture does
      def baseSample(i: Int): Short = {
        val amp = 4000.0 + 1250.0 *
          (splitmix(3L + g, (i / win).toLong, ((i % win) / (win / 8)).toLong)
            & 0x7L)
        (math.sin(2 * math.Pi * freq * i / rate) * amp).toShort
      }
      val frames =
        if (defect) 200
        else if (kind == 1) 3 * win // trimmed
        else if (kind == 2) 5 * win // padded
        else 4 * win
      val pcm = new Array[Byte](frames * 2)
      var j = 0
      while (j < frames) {
        val v: Short =
          if (defect)
            (math.sin(2 * math.Pi * freq * j / rate) * 14000).toShort
          else if (kind == 1) baseSample(j + win)
          else if (kind == 2) { if (j < win) 0 else baseSample(j - win) }
          else baseSample(j)
        pcm(2 * j) = (v & 0xff).toByte
        pcm(2 * j + 1) = ((v >> 8) & 0xff).toByte
        j += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1,
        true, false)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos): Unit
      (id, "audio", bos.toByteArray, "audio/wav", s"dm$g")
    }).toDF("media_id", "media_type", "payload", "mime", "source")
    val video = ids.mapPartitions(_.map { id =>
      val defect = id % 5 == 0
      val g = (id % 20).toInt
      val kind = ((id / 20) % 3).toInt
      val firstFrame = if (!defect && kind == 1) 1 else 0 // clipped
      val lastFrame = if (!defect && kind == 2) 5 else 3 // extended
      val w = 32
      val h = 32
      val frames = (firstFrame to (if (defect) 0 else lastFrame)).map { f =>
        val img = grayIndexedImage(w, h)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val v =
              if (defect) splitmix(id, 1L + f, x.toLong * 64 + y) & 0xffL
              else splitmix(4L + g, 1L + f, x.toLong * 64 + y) & 0xffL
            raster.setSample(x, y, 0, v.toInt)
            x += 1
          }
          y += 1
        }
        img
      }
      (id, "video", GifCodec.writeAnimated(frames, delayCs = 10),
        "image/gif", s"dm$g")
    }).toDF("media_id", "media_type", "payload", "mime", "source")
    images.unionByName(audio).unionByName(video)
  }

  /** Synthetic animated GIFs with PLANTED quality defects, disjoint by
    * an if-else chain: doc_id % 5 == 0 -> a SINGLE-frame GIF (too few
    * frames — and trivially static); else % 11 == 0 -> a STATIC video
    * (4 byte-identical frames — a banner loop); else % 7 == 0 -> a
    * too-SHORT clip (4 distinct frames at 1 cs each = 40 ms); else a
    * clean 4-frame render at 10 cs/frame (400 ms). Frame pixels follow
    * the splitmix texture of (doc_id, frame). Ground truth for the
    * [[MediaQuality.videoSignals]] gates. */
  def syntheticVideoQualityMix(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docIds(docs).mapPartitions(_.map { id =>
      val single = id % 5 == 0
      val static = !single && id % 11 == 0
      val short = !single && !static && id % 7 == 0
      val nFrames = if (single) 1 else 4
      val delayCs = if (short) 1 else 10
      val w = 32
      val h = 32
      val frames = (0 until nFrames).map { f0 =>
        val f = if (static) 0 else f0
        val img = grayIndexedImage(w, h)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            var z = id * 0x9E3779B97F4A7C15L +
              f * 0xD6E8FEB86659FD93L +
              x * 0xC2B2AE3D27D4EB4FL + y * 0x165667B19E3779F9L
            z ^= z >>> 33; z *= 0xFF51AFD7ED558CCDL; z ^= z >>> 33
            raster.setSample(x, y, 0, (z & 0xffL).toInt)
            x += 1
          }
          y += 1
        }
        img
      }
      (id, "video", GifCodec.writeAnimated(frames, delayCs),
        "image/gif", "vqmix")
    }).toDF("media_id", "media_type", "payload", "mime", "source")
  }

  /** Synthetic animated GIFs with planted frame-OVERLAP groups:
    * `kind = (doc_id / groups) % 3` — 0: the base 4-frame render, 1: a
    * byte-identical re-render, 2: an EXTENDED copy carrying the base's
    * 4 frames PLUS 2 new ones (the clipped/extended duplicate whose
    * whole-video majority fold drifts, but which shares every base
    * frame). Frame pixels follow [[syntheticGifVariants]]'s unperturbed
    * texture function of (base, frame). Ground truth: group = doc_id %
    * groups. */
  def syntheticGifOverlapVariants(spark: SparkSession, docs: DataFrame,
                                  groups: Int): DataFrame = {
    import spark.implicits._
    docIds(docs).mapPartitions(_.map { id =>
      val base = (id % groups).toInt
      val kind = ((id / groups) % 3).toInt
      val nFrames = if (kind == 2) 6 else 4
      val w = 32
      val h = 32
      val frames = (0 until nFrames).map { f =>
        val img = grayIndexedImage(w, h)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            var z = base.toLong * 0x9E3779B97F4A7C15L +
              f * 0xD6E8FEB86659FD93L +
              x * 0xC2B2AE3D27D4EB4FL + y * 0x165667B19E3779F9L
            z ^= z >>> 33; z *= 0xFF51AFD7ED558CCDL; z ^= z >>> 33
            raster.setSample(x, y, 0, (z & 0xffL).toInt)
            x += 1
          }
          y += 1
        }
        img
      }
      (id, "video", GifCodec.writeAnimated(frames, delayCs = 10),
        "image/gif", s"ogrp$base-k$kind")
    }).toDF("media_id", "media_type", "payload", "mime", "source")
  }

  /** Render the SAME pixel function as [[syntheticGifVariants]]'s
    * unperturbed frame `frame` of group `doc_id % groups` as standalone
    * PNG IMAGES — eval imagery that is literally a frame of the planted
    * videos, ground truth for the cross-modal frame-decontamination
    * oracle (a video of group g contains this exact frame). */
  def syntheticGifFrameImages(spark: SparkSession, docs: DataFrame,
                              groups: Int, frame: Int): DataFrame = {
    import spark.implicits._
    docIds(docs).mapPartitions(_.map { id =>
      val base = (id % groups).toInt
      val w = 32
      val h = 32
      // TYPE_INT_RGB gray, matching [[syntheticGifVariants]]'s frames
      // exactly — both codecs round-trip these pixels losslessly
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          var z = base.toLong * 0x9E3779B97F4A7C15L +
            frame * 0xD6E8FEB86659FD93L +
            x * 0xC2B2AE3D27D4EB4FL + y * 0x165667B19E3779F9L
          z ^= z >>> 33; z *= 0xFF51AFD7ED558CCDL; z ^= z >>> 33
          val g = (z & 0xffL).toInt
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
          x += 1
        }
        y += 1
      }
      (id, "image", ImageCodec.write(img, "png"), "image/png", s"fgrp$base")
    }).toDF("media_id", "media_type", "payload", "mime", "source")
  }

  /** Synthetic audio with planted NEAR-duplicate groups: pitch is keyed
    * by `base = doc_id % groups` and `kind = (doc_id / groups) % 3`
    * selects the rendering — 0: the base render, 1: a half-volume copy
    * (fingerprint-IDENTICAL: the envelope normalizes, crossings don't
    * move), 2: a slightly DETUNED copy (+0.5 Hz — shifts a few segments'
    * integer zero-crossing counts by one Gray-coded bucket, <= 7 Hamming
    * bits measured across all 20 bases), so near-dup clustering at
    * maxHamming = 8 must pull all three kinds into one cluster while
    * every cross-base pairing (base, half-volume or detuned) stays
    * >= 10 bits away. Ground truth for dedup oracles:
    * group = doc_id % groups. */
  def syntheticAudioNearVariants(spark: SparkSession, docs: DataFrame,
                                 groups: Int): DataFrame = {
    require(groups >= 1 && groups <= 20,
      s"groups=$groups: pitch spacing resolves at most 20 groups")
    import spark.implicits._
    docIds(docs).mapPartitions(_.map { id =>
      val base = (id % groups).toInt
      val kind = ((id / groups) % 3).toInt
      val amp = if (kind == 1) 7000.0 else 14000.0
      val rate = 8000
      val frames = 800
      val freq = 200.0 + base * 50.0 + (if (kind == 2) 0.5 else 0.0)
      val pcm = new Array[Byte](frames * 2)
      var i = 0
      while (i < frames) {
        val v = (math.sin(2 * math.Pi * freq * i / rate) * amp).toShort
        pcm(2 * i) = (v & 0xff).toByte
        pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1,
        true, false)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos): Unit
      (id, "audio", bos.toByteArray, "audio/wav", s"agrp$base-k$kind")
    }).toDF("media_id", "media_type", "payload", "mime", "source")
  }

  /** Read a DIRECTORY TREE of media files into the canonical media
    * schema via Spark's `binaryFile` source — the ingestion face a real
    * corpus arrives through (a crawl dump of .png/.jpg/.wav files).
    * media_type and mime derive from the file extension; media_id is a
    * stable 60-bit hash of the file path (collision-checked downstream
    * by the dedup passes' id semantics); `pathGlobFilter` pushes the
    * extension filter into file LISTING, so a mixed dump never reads
    * non-media bytes. The default glob admits every extension the type
    * map classifies (images, WAV/AIFF/AU audio, video containers —
    * the latter land as media_type `video` for the GIF/stub decode
    * path); narrow it to exclude types deliberately. Payload size
    * guardrails belong to the reader: spark.sql.files.maxPartitionBytes
    * sizes partitions by BYTES, which is exactly what binary payloads
    * need. */
  def readMediaDir(spark: SparkSession, dir: String,
                   glob: String =
                     "*.{png,jpg,jpeg,gif,bmp,wav,aiff,au,mp4,avi,mkv,webm}"): DataFrame = {
    val byExt: Column = {
      val ext = lower(regexp_extract(col("path"), "\\.([A-Za-z0-9]+)$", 1))
      when(ext.isin("png", "jpg", "jpeg", "gif", "bmp"), lit("image"))
        .when(ext.isin("wav", "aiff", "au"), lit("audio"))
        .when(ext.isin("mp4", "avi", "mkv", "webm"), lit("video"))
        .otherwise(lit("binary"))
    }
    val mime: Column = {
      val ext = lower(regexp_extract(col("path"), "\\.([A-Za-z0-9]+)$", 1))
      when(ext === "jpg", lit("image/jpeg"))
        .otherwise(concat(byExt, lit("/"), ext))
    }
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(
        graft.text.TextStats.portableHash60(col("path")).as("media_id"),
        byExt.as("media_type"),
        col("content").as("payload"),
        mime.as("mime"),
        col("path").as("source"))
  }

  /** Reclassify ANIMATED GIFs as `video`: a file dump types `.gif` as
    * image by extension ([[readMediaDir]] — listing can't see content),
    * but a multi-frame GIF belongs on the video path (frame sampling,
    * majority-fold fingerprint). Map-only: for GIF payloads, one
    * frame-COUNT probe through the frame-indexed reader; everything else
    * passes untouched. Run after ingestion, before the per-modality
    * splits. */
  def reclassifyAnimatedGifs(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRecord].mapPartitions(_.map { r =>
      if (r.media_type != "image" || !GifCodec.isGif(r.payload)) r
      else {
        val n = GifDecode.parse(r.payload).numFrames
        if (n > 1) r.copy(media_type = "video") else r
      }
    }).toDF()
  }

  /** Build a synthetic media table from the documents table (testdata has
    * no binary columns; payload = utf8 bytes of the text). */
  def syntheticMedia(spark: SparkSession, docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"),
      encode(col("text"), "UTF-8").as("payload"),
      lit("application/octet-stream").as("mime"),
      col("source"))
}
