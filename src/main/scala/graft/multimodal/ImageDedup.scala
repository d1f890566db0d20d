package graft.multimodal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.PerceptualDedup
import graft.dedup.PerceptualDedup.Fingerprint
import Multimodal.{ImageCodec, MediaRecord, fingerprintPass}

/** Perceptual image deduplication over REAL pixels: a 64-bit difference
  * hash (dHash) computed from each payload's decoded, 9x8-downscaled
  * grayscale — re-encodes, resizes and format changes that preserve the
  * content map to the same (or nearly the same) hash, so exact dedup is
  * a hash groupBy and near-dup is Hamming proximity. Part fingerprints
  * add the classes the whole-image hash cannot see: per-TILE dHashes
  * (crops, letterboxing) and the 8 dihedral ORIENTATION dHashes
  * (rotations, mirrors).
  *
  * This object holds the fingerprint kernels and their map-only passes
  * (decode confined to mapPartitions, one decode per record); every
  * dedup face is an adapter onto [[graft.dedup.PerceptualDedup]], which
  * owns the one-decode-per-job caching, the shared banding and the
  * bounded-broadcast decontamination. Faces returning a frame follow
  * the [[graft.dedup.Cached]] contract.
  */
object ImageDedup {

  /** Fingerprint FORMAT version of [[dHash64]]: bump on any bit-layout
    * change so persisted hash stores can refuse mixed-version admission
    * ([[graft.streaming.MediaDedupIngest]]). */
  val fingerprintFormatVersion: Int = 1

  /** 64-bit dHash of a decoded image: downscale to 9x8 luminance via
    * area-averaging over the source grid (deterministic integer
    * arithmetic — unlike Graphics2D filtering, identical across JDK
    * implementations), then one bit per horizontal neighbor comparison. */
  def dHash64(img: java.awt.image.BufferedImage): Long =
    dHashOfLuma(Pixels.lumaPlane(img), img.getWidth, img.getHeight)

  /** [[dHash64]] over an already-extracted luminance plane, for composed
    * passes that share one plane across several signals (one plane
    * extraction per decode — the plane IS the per-frame hot-loop cost). */
  private[multimodal] def dHashOfLuma(lum: Array[Int], sw: Int,
                                      sh: Int): Long =
    dHashOfLumaRect(lum, sw, 0, 0, sw, sh)

  /** dHash of the (ox, oy, rw, rh) sub-rect of a luminance plane —
    * value-identical to `dHash64(img.getSubimage(ox, oy, rw, rh))`. */
  private[multimodal] def dHashOfLumaRect(lum: Array[Int], stride: Int,
                                          ox: Int, oy: Int, rw: Int,
                                          rh: Int): Long = {
    val gray = downscaleGrayRect(lum, stride, ox, oy, rw, rh, 9, 8)
    var bits = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (gray(y)(x + 1) > gray(y)(x))
          bits |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    bits
  }

  /** Integer area-average downscale to w x h luminance (0..255). */
  private[multimodal] def downscaleGray(img: java.awt.image.BufferedImage,
                                        w: Int, h: Int): Array[Array[Int]] =
    downscaleGrayPlane(Pixels.lumaPlane(img), img.getWidth, img.getHeight,
      w, h)

  /** [[downscaleGray]] over an already-extracted luminance plane — the
    * per-pixel luma is floored first and the cell average floored after,
    * exactly the original per-pixel-getRGB arithmetic. */
  private[multimodal] def downscaleGrayPlane(lum: Array[Int], sw: Int,
                                             sh: Int, w: Int,
                                             h: Int): Array[Array[Int]] =
    downscaleGrayRect(lum, sw, 0, 0, sw, sh, w, h)

  /** Area-average downscale of the (ox, oy, sw, sh) sub-rect of a
    * luminance plane with row `stride` — tile hashing reads its tiles
    * straight off the parent plane instead of re-extracting pixels per
    * `getSubimage` view. */
  private[multimodal] def downscaleGrayRect(lum: Array[Int], stride: Int,
                                            ox: Int, oy: Int, sw: Int,
                                            sh: Int, w: Int,
                                            h: Int): Array[Array[Int]] = {
    val out = Array.ofDim[Int](h, w)
    var y = 0
    while (y < h) {
      val y0 = y * sh / h
      val y1 = math.max(y0 + 1, (y + 1) * sh / h)
      var x = 0
      while (x < w) {
        val x0 = x * sw / w
        val x1 = math.max(x0 + 1, (x + 1) * sw / w)
        var sum = 0L
        var yy = y0
        while (yy < y1) {
          val row = (oy + yy) * stride + ox
          var xx = x0
          while (xx < x1) {
            sum += lum(row + xx)
            xx += 1
          }
          yy += 1
        }
        out(y)(x) = (sum / ((y1 - y0).toLong * (x1 - x0))).toInt
        x += 1
      }
      y += 1
    }
    out
  }

  /** The 8 dihedral (D4) orientation dHashes of ONE decoded image —
    * `orient = rot | (mirror << 2)` with rot 0..3 clockwise quarter-turns
    * and mirror a horizontal flip applied in the rotated frame — computed
    * by COORDINATE REMAP over a single luminance plane: no rotated pixel
    * copies are allocated and the payload decodes once. D4 is a group, so
    * the hash SET of any rotated/mirrored copy is a permutation of the
    * original's — orientation-hash matching is rotation/flip-INVARIANT,
    * the duplicate class the whole-image dHash cannot see (the gradient
    * field turns under every downscale cell). Index 0 IS [[dHash64]]. */
  private[multimodal] def dHashDihedral(
      img: java.awt.image.BufferedImage): Array[Long] =
    dHashDihedralOfLuma(Pixels.lumaPlane(img), img.getWidth, img.getHeight)

  /** [[dHashDihedral]] over an already-extracted luminance plane (one
    * plane per decode in composed passes). */
  private[multimodal] def dHashDihedralOfLuma(lum: Array[Int], sw: Int,
                                              sh: Int): Array[Long] =
    Array.tabulate(8)(o => dHashRemap(lum, sw, sh, o))

  /** dHash of the o-th dihedral transform via index remap — the same
    * 9x8 integer area-average as [[dHash64]], iterated in the TARGET
    * orientation's coordinate frame. */
  private def dHashRemap(lum: Array[Int], sw: Int, sh: Int, o: Int): Long = {
    val rot = o & 3
    val mirror = (o & 4) != 0
    val tw = if (rot % 2 == 1) sh else sw
    val th = if (rot % 2 == 1) sw else sh
    def src(x0: Int, y: Int): Int = {
      val x = if (mirror) tw - 1 - x0 else x0
      rot match {
        case 0 => y * sw + x
        case 1 => (sh - 1 - x) * sw + y // 90 CW: target (x,y) <- S(y, sh-1-x)
        case 2 => (sh - 1 - y) * sw + (sw - 1 - x)
        case _ => x * sw + (sw - 1 - y) // 270 CW: target (x,y) <- S(sw-1-y, x)
      }
    }
    val gray = Array.ofDim[Int](8, 9)
    var cy = 0
    while (cy < 8) {
      val y0 = cy * th / 8
      val y1 = math.max(y0 + 1, (cy + 1) * th / 8)
      var cx = 0
      while (cx < 9) {
        val x0 = cx * tw / 9
        val x1 = math.max(x0 + 1, (cx + 1) * tw / 9)
        var sum = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { sum += lum(src(x, y)); x += 1 }
          y += 1
        }
        gray(cy)(cx) = (sum / ((y1 - y0).toLong * (x1 - x0))).toInt
        cx += 1
      }
      cy += 1
    }
    var bits = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (gray(y)(x + 1) > gray(y)(x)) bits |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    bits
  }

  private[multimodal] val dhash =
    Fingerprint("image", "dhash", "image-dedup", hashImages)
  private val orientations = Fingerprint("image", "ohash", "image-rotation",
    hashOrientations, Seq("orient"))
  private def tiles(tileW: Int, tileH: Int) = Fingerprint("image", "thash",
    "image-tiles", hashTiles(_, tileW, tileH), Seq("tile_x", "tile_y"))

  private def decode(r: MediaRecord): java.awt.image.BufferedImage = {
    val img = ImageCodec.read(r.payload)
    require(img != null,
      s"media_id=${r.media_id}: payload is not a decodable image")
    img
  }

  /** Map-only hash pass: (media_id, dhash), one decode per record. */
  def hashImages(media: DataFrame): DataFrame =
    fingerprintPass(media, "image", "media_id", "dhash")(r =>
      Iterator.single((r.media_id, dHash64(decode(r)))))

  /** Map-only pass emitting the dHash AND the decoded dimensions from ONE
    * decode: (media_id, dhash, width, height) — the input to
    * [[survivorsByResolution]], where resolution is the quality signal. */
  def hashImagesWithDims(media: DataFrame): DataFrame =
    fingerprintPass(media, "image", "media_id", "dhash", "width", "height")(
      r => {
        val img = decode(r)
        Iterator.single((r.media_id, dHash64(img), img.getWidth,
          img.getHeight))
      })

  /** Map-only ORIENTATION pass: 8 rows per image — (media_id, orient,
    * ohash), one per dihedral orientation — from ONE decode. Fixed 8x
    * fanout, so banding over it stays a linear equi-join. */
  def hashOrientations(media: DataFrame): DataFrame =
    fingerprintPass(media, "image", "media_id", "orient", "ohash")(r =>
      dHashDihedral(decode(r)).iterator.zipWithIndex.map { case (h, o) =>
        (r.media_id, o, h)
      })

  /** Map-only CANONICAL pass: (media_id, chash), the unsigned minimum of
    * the 8 orientation hashes — identical for every pixel-exact
    * rotation/mirror, so EXACT orientation-invariant dedup is one
    * groupBy. (Near-dup must go through [[hashOrientations]]: noise can
    * flip WHICH orientation attains the minimum.) */
  def hashCanonical(media: DataFrame): DataFrame =
    fingerprintPass(media, "image", "media_id", "chash")(r =>
      Iterator.single((r.media_id, dHashDihedral(decode(r)).reduce((a, b) =>
        if (java.lang.Long.compareUnsigned(a, b) <= 0) a else b))))

  /** Map-only TILE pass — the CROP-TOLERANT fingerprint: (media_id,
    * tile_x, tile_y, thash), one row per full tileW x tileH tile. Tile
    * hashes re-align after any tile-multiple crop, where the whole-image
    * downscale grid shifts under every cell; partial edge tiles are
    * skipped. One decode, one luminance plane for every tile. */
  def hashTiles(media: DataFrame, tileW: Int, tileH: Int): DataFrame = {
    require(tileW >= 8 && tileH >= 8,
      s"tile ${tileW}x$tileH too small for a stable per-tile dHash " +
        "(9x8 downscale needs >= 8px sides)")
    fingerprintPass(media, "image", "media_id", "tile_x", "tile_y",
      "thash") { r =>
      val img = decode(r)
      val w = img.getWidth
      val lum = Pixels.lumaPlane(img)
      for {
        ty <- Iterator.range(0, img.getHeight / tileH)
        tx <- Iterator.range(0, w / tileW)
      } yield (r.media_id, tx, ty,
        dHashOfLumaRect(lum, w, tx * tileW, ty * tileH, tileW, tileH))
    }
  }

  /** Exact dedup: (media_id, dhash, group_rep), group_rep = min media_id
    * sharing the hash. */
  def exactGroups(media: DataFrame): DataFrame =
    PerceptualDedup.exactGroups(media, dhash)

  /** EXACT rotation/flip-invariant dedup: [[exactGroups]] over the
    * canonical hash — (media_id, chash, group_rep). */
  def canonicalGroups(media: DataFrame): DataFrame =
    PerceptualDedup.exactGroups(media,
      Fingerprint("image", "chash", "image-canonical", hashCanonical))

  /** Near-dup pairs (id_a, id_b, hamming), id_a < id_b, among
    * (media_id, dhash) rows. `maxBucket` caps a band bucket (shed
    * loudly). */
  def nearDupPairs(hashes: DataFrame, maxHamming: Int,
                   maxBucket: Long = 100000L): DataFrame =
    PerceptualDedup.nearDupPairs(hashes, dhash, maxHamming, maxBucket)

  /** Near-dup clusters: (media_id, cluster_id), singletons their own. */
  def clusters(media: DataFrame, maxHamming: Int,
               maxBucket: Long = 100000L): DataFrame =
    PerceptualDedup.clusters(media, dhash, maxHamming, maxBucket)

  /** KEEP-BEST dedup: per near-dup cluster the HIGHEST-RESOLUTION member
    * (width x height, ties on min id) survives — thumbnails and
    * re-encodes lose to the original. Output (media_id, dhash, width,
    * height), survivors only. */
  def survivorsByResolution(media: DataFrame, maxHamming: Int,
                            maxBucket: Long = 100000L): DataFrame =
    PerceptualDedup.survivors(media, dhash.copy(pass = hashImagesWithDims),
      col("width").cast("long") * col("height"), maxHamming, maxBucket)

  /** O(batch) admission of images whose dHash was never committed
    * (`survivors` output's `content_hash` store, one string column `h`). */
  def incrementalSurvivors(batch: DataFrame, committedHashes: DataFrame,
                           fpp: Double = 0.01): DataFrame =
    PerceptualDedup.incrementalSurvivors(batch, committedHashes, dhash, fpp)

  /** Eval-set DECONTAMINATION: (media_id, contaminated) per corpus image,
    * true within `maxHamming` of ANY eval image (re-encoded and
    * brightness-shifted benchmark copies included). */
  def decontaminate(corpus: DataFrame, eval: DataFrame, maxHamming: Int,
                    maxEval: Long = 100000L): DataFrame =
    PerceptualDedup.decontaminate(corpus, eval, dhash, maxHamming, maxEval)

  /** ROTATION-TOLERANT clusters: two images pair when ANY of their
    * orientation hashes lie within `maxHamming` (a rotated copy's hash
    * set is a permutation of its base's). (media_id, cluster_id) for
    * every input image. */
  def rotationClusters(media: DataFrame, maxHamming: Int,
                       maxBucket: Long = 100000L): DataFrame =
    PerceptualDedup.partClusters(media, orientations, maxHamming,
      minShared = 1, maxBucket, everyInput = true)

  /** ROTATION-TOLERANT decontamination: a corpus image flags when its
    * plain dHash lies within `maxHamming` of ANY orientation of any eval
    * image — the bounded eval side carries the 8x fanout, the corpus one
    * hash row per image. */
  def decontaminateRotations(corpus: DataFrame, eval: DataFrame,
                             maxHamming: Int,
                             maxEval: Long = 100000L): DataFrame =
    PerceptualDedup.decontaminate(corpus, eval, dhash, maxHamming, maxEval,
      evalFp = Some(orientations))

  /** CROP-TOLERANT pairs: images sharing >= `minShared` near-identical
    * tiles — (id_a, id_b, shared), id_a < id_b. */
  def sharedTilePairs(media: DataFrame, tileW: Int, tileH: Int,
                      maxHamming: Int, minShared: Int = 2,
                      maxBucket: Long = 100000L): DataFrame =
    PerceptualDedup.sharedPairs(media, tiles(tileW, tileH), maxHamming,
      minShared, maxBucket)

  /** Crop-tolerant clusters over [[sharedTilePairs]] edges: (media_id,
    * cluster_id) for EVERY input image (one smaller than a tile is a
    * singleton). */
  def cropClusters(media: DataFrame, tileW: Int, tileH: Int,
                   maxHamming: Int, minShared: Int = 2,
                   maxBucket: Long = 100000L): DataFrame =
    PerceptualDedup.partClusters(media, tiles(tileW, tileH), maxHamming,
      minShared, maxBucket, everyInput = true)

  /** CROP-TOLERANT decontamination: a corpus image flags when it shares
    * >= `minShared` near-identical tiles with any single eval image.
    * (media_id, contaminated) for EVERY corpus image. */
  def decontaminateTiles(corpus: DataFrame, eval: DataFrame,
                         tileW: Int, tileH: Int, maxHamming: Int,
                         minShared: Int = 2,
                         maxEval: Long = 100000L): DataFrame =
    PerceptualDedup.decontaminateParts(corpus, eval, tiles(tileW, tileH),
      maxHamming, minShared, maxEval)
}
