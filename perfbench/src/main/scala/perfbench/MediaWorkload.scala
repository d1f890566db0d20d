package perfbench

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.zip.{CRC32, Deflater}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.multimodal.{ImageDedup, Multimodal}
import graft.pipeline.{MaintenanceRunner, MaintenanceSpec}
import graft.streaming.MediaDedupIngest

/** `media_admission`: seeded crawl drops of small PNG images, each admitted
  * by one `MaintenanceRunner.run` of kind `media-dedup-ingest` (modality
  * image, part hashes on), which drains the new drop under AvailableNow.
  * Drops carry planted re-encodes (same pixels, different bytes) of
  * originals from the same drop and from earlier drops; admission must
  * keep exactly the originals. Drops are released one after another until
  * the run's seconds are spent (closed loop). */
final class MediaWorkload extends Workload {
  import MediaWorkload._

  private var size: Size = _
  private var gen: Generated = _

  def setup(ctx: Ctx): (Seq[Double], Double) = {
    size = if (ctx.tiny) Tiny else Full
    val (g, genS) = ctx.generate(3)(root => generate(ctx.spark, root, ctx.seed, size))
    gen = g
    val warmS = ctx.warmUp { root =>
      val w = generate(ctx.spark, root.resolve("inputs"), ctx.seed + 7919L, Warm)
      val in = root.resolve("in")
      Files.createDirectories(in)
      (0 until Warm.drops).foreach { d =>
        release(w, d, in)
        MaintenanceRunner.run(ctx.spark, spec(root.toString), s"warm-$d")
      }
    }
    (genS, warmS)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val root = ctx.work.resolve("job")
    val in = root.resolve("in")
    Files.createDirectories(in)
    val rootS = root.toString

    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    var d = 0
    while (d < size.drops && (d < MinDrops || System.nanoTime() < deadline)) {
      release(gen, d, in)
      ctx.op(s"drop-$d")(ctx.timeS(ctx.span("media", s"drop-$d") {
        MaintenanceRunner.run(spark, spec(rootS), s"drop-$d")
      })).foreach { case (_, s) => walls += s }
      d += 1
    }
    val released = gen.items.filter(_.drop < d)
    val items = released.size

    // checks: survivors are exactly the planted originals, and every
    // planted re-encode was refused
    val survivors = MediaDedupIngest.survivors(spark, s"$rootS/store")
      .select("media_id").collect().map(_.getLong(0)).toSet
    val originals = released.filter(_.original.isEmpty).map(_.id).toSet
    val reencodes = released.filter(_.original.nonEmpty).map(_.id).toSet
    ctx.check("survivors", survivors.size, originals.size)
    ctx.check("survivors_not_original", ((survivors -- originals) ++ (originals -- survivors)).size, 0)
    val refused = (reencodes -- survivors).size
    ctx.check("reencodes_refused", refused, reencodes.size)
    val recall = if (reencodes.isEmpty) Double.NaN else refused.toDouble / reencodes.size

    val p50 = Stats.median(walls.toSeq)
    val itemsPerS = items / walls.sum
    val named = Seq(
      M("media_items_per_s", itemsPerS, "items/s"),
      M("drop_p50_s", p50, "s"),
      M("drops", d.toDouble, "count"),
      M("multimodal.near_dup_recall", recall, "ratio")) ++
      Stats.tail(walls.toSeq).toSeq.flatMap { case (v, p, n) => Seq(M("drop_tail_s", v, "s"),
        M("drop_tail_percentile", p, "%"), M("drop_tail_n", n.toDouble, "count")) }

    val (layers, detail) = ctx.tracer.fold((Seq.empty[M], Seq.empty[M])) { t =>
      t.settle()
      val ps = t.progressEvents.filter(_.numInputRows > 0)
      def phase(k: String) = Stats.median(ps.map(p =>
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
      val drops = t.spansOf("media").map(s => (s.startMs, s.endMs))
      // the multimodal layer, timed directly: one drop's decode + hash
      val oneDrop = spark.read.schema(Multimodal.mediaSchema)
        .parquet(in.resolve("d00000-00.parquet").toString).persist()
      oneDrop.count()
      val (n, hashS) = ctx.timeS(ImageDedup.hashImages(oneDrop).count())
      oneDrop.unpersist()
      val storeFiles = Tracer.filesUnder(s"$rootS/store")
      val layers = t.perOp(drops) :+ M("state.files",
        (storeFiles + Tracer.filesUnder(s"$rootS/ckpt")).toDouble, "count")
      val detail = Seq(
        M("streaming.batches", ps.size.toDouble, "count"),
        M("streaming.rows_per_batch_p50", Stats.median(ps.map(_.numInputRows.toDouble)), "rows"),
        M("streaming.trigger_ms_p50", phase("triggerExecution"), "ms"),
        M("streaming.add_batch_ms_p50", phase("addBatch"), "ms"),
        M("streaming.planning_ms_p50", phase("queryPlanning"), "ms"),
        M("streaming.latest_offset_ms_p50", phase("latestOffset"), "ms"),
        M("streaming.wal_commit_ms_p50", phase("walCommit"), "ms"),
        M("streaming.commit_offsets_ms_p50", phase("commitOffsets"), "ms"),
        M("dedup.dup_recall", recall, "ratio"),
        M("dedup.store_bytes_per_doc", Tracer.bytesUnder(s"$rootS/store") /
          math.max(1.0, survivors.size.toDouble), "bytes"),
        M("dedup.store_files", storeFiles.toDouble, "count"),
        M("multimodal.hash_items_per_s", n / hashS, "items/s"),
        M("multimodal.hash_share", hashS / p50, "ratio"))
      (layers, detail)
    }

    Outcome(
      e2e = Seq(M("op_p50_ms", p50 * 1000, "ms"), M("items_per_s", itemsPerS, "1/s")),
      named = named, layers = layers, detail = detail,
      inputs = Json.obj(
        "hash" -> gen.hash,
        "drops_generated" -> size.drops,
        "drops_used" -> d,
        "items_per_drop" -> size.itemsPerDrop,
        "items_used" -> items,
        "image_px" -> s"${size.px}x${size.px}",
        "planted_reencodes" -> reencodes.size,
        "files" -> size.drops,
        "bytes" -> gen.bytes),
      samples = Json.obj("drop_s" -> Json.Arr(walls.toSeq.map(Json.Num))),
      notes = Json.obj(
        "op" -> "one drop's media-dedup-ingest MaintenanceRunner.run",
        "items" -> "items admitted or refused per second of drop runs",
        "load" -> "closed loop, drops released one after another"))
  }
}

object MediaWorkload {

  final case class Size(drops: Int, itemsPerDrop: Int, px: Int)
  val Full = Size(drops = 12, itemsPerDrop = 48, px = 32)
  val Tiny = Size(drops = 3, itemsPerDrop = 12, px = 32)
  private val Warm = Size(drops = 1, itemsPerDrop = 12, px = 32)
  val MinDrops = 3

  /** One generated item; `original` names the item a re-encode copies. */
  final case class Item(id: Long, drop: Int, original: Option[Long])
  final case class Generated(root: Path, items: Seq[Item], hash: String, bytes: Long)

  def spec(root: String): MaintenanceSpec = MaintenanceSpec("crawl_admission",
    "media-dedup-ingest", Map(
      "store.path" -> s"$root/store",
      "checkpoint.dir" -> s"$root/ckpt",
      "input.glob" -> s"$root/in/*.parquet",
      "modality" -> "image",
      "part.hashes" -> "true"))

  /** Move drop `d`'s file into the watched directory. */
  def release(g: Generated, d: Int, in: Path): Unit = {
    val dir = g.root.resolve("drops").resolve(s"drop=$d")
    val parts = Files.list(dir)
    try parts.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toList
      .sortBy(_.getFileName.toString).zipWithIndex.foreach { case (p, i) =>
        Files.move(p, in.resolve(f"d$d%05d-$i%02d.parquet"), StandardCopyOption.ATOMIC_MOVE)
      }
    finally parts.close()
  }

  /** A gray random texture, one per original: distinct originals share no
    * perceptual hash and no tile. */
  def pixels(seed: Long, id: Long, px: Int): Array[Byte] = {
    val r = new scala.util.Random(seed * 1000003L + id)
    val raw = new Array[Byte](px * px * 3)
    var i = 0
    while (i < px * px) {
      val g = r.nextInt(256).toByte
      raw(3 * i) = g; raw(3 * i + 1) = g; raw(3 * i + 2) = g
      i += 1
    }
    raw
  }

  /** 8-bit RGB PNG. `level` is the zlib level; `comment` adds a tEXt
    * chunk. Different levels or comments give different bytes for the
    * same pixels — a re-encode. */
  def png(rgb: Array[Byte], px: Int, level: Int, comment: Option[String]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def chunk(tpe: String, data: Array[Byte]): Unit = {
      val len = data.length
      out.write(Array((len >>> 24).toByte, (len >>> 16).toByte, (len >>> 8).toByte, len.toByte))
      val body = tpe.getBytes("US-ASCII") ++ data
      out.write(body)
      val crc = new CRC32()
      crc.update(body)
      val c = crc.getValue
      out.write(Array((c >>> 24).toByte, (c >>> 16).toByte, (c >>> 8).toByte, c.toByte))
    }
    def int4(v: Int) = Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    out.write(Array[Byte](-119, 80, 78, 71, 13, 10, 26, 10))
    chunk("IHDR", int4(px) ++ int4(px) ++ Array[Byte](8, 2, 0, 0, 0))
    comment.foreach(c => chunk("tEXt", "Comment".getBytes("US-ASCII") ++ Array[Byte](0) ++
      c.getBytes("ISO-8859-1")))
    val scan = new ByteArrayOutputStream()
    (0 until px).foreach { y => scan.write(0); scan.write(rgb, y * px * 3, px * 3) }
    val deflater = new Deflater(level)
    deflater.setInput(scan.toByteArray)
    deflater.finish()
    val z = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!deflater.finished()) z.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    chunk("IDAT", z.toByteArray)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Each drop: about 60% new originals, 20% re-encodes of originals from
    * the same drop (always after their original), 20% re-encodes of
    * originals from earlier drops. */
  def generate(spark: SparkSession, root: Path, seed: Long, s: Size): Generated = {
    val rnd = new scala.util.Random(seed)
    val originals = scala.collection.mutable.ArrayBuffer.empty[Long]
    var id = 0L
    val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
    val items = scala.collection.mutable.ArrayBuffer.empty[Item]
    val digest = java.security.MessageDigest.getInstance("SHA-256")
    (0 until s.drops).foreach { d =>
      val thisDrop = scala.collection.mutable.ArrayBuffer.empty[Long]
      (0 until s.itemsPerDrop).foreach { _ =>
        id += 1
        val roll = rnd.nextDouble()
        val copyOf =
          if (roll < 0.2 && thisDrop.nonEmpty) Some(thisDrop(rnd.nextInt(thisDrop.size)))
          else if (roll < 0.4 && originals.size > thisDrop.size)
            Some(originals(rnd.nextInt(originals.size - thisDrop.size)))
          else None
        val bytes = copyOf match {
          case None =>
            thisDrop += id
            originals += id
            png(pixels(seed, id, s.px), s.px, 6, None)
          case Some(o) =>
            png(pixels(seed, o, s.px), s.px, 1 + rnd.nextInt(3), Some(s"re-encode $id"))
        }
        digest.update(bytes)
        items += Item(id, d, copyOf)
        rows += Row(id, "image", bytes, "image/png", s"crawl-$d", d)
      }
    }
    val schema = Multimodal.mediaSchema.add("drop", "int")
    spark.createDataFrame(rows.asJava, schema)
      .repartition(col("drop"))
      .write.mode("overwrite").partitionBy("drop")
      .parquet(root.resolve("drops").toString)
    Generated(root, items.toSeq, digest.digest().map("%02x".format(_)).mkString.take(16),
      rows.map(_.getAs[Array[Byte]](2).length.toLong).sum)
  }
}
