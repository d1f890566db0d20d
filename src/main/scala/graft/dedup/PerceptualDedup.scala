package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Perceptual deduplication as ONE banded-Hamming operator, parameterized
  * by the fingerprint — the way the reference has one dedup operator (a
  * windowed top-1 over a key) and a set-similarity join has one
  * candidate-generate-and-verify operator for every signature type. The
  * image, audio and video faces (`multimodal/ImageDedup`, `AudioDedup`,
  * `VideoDedup`) keep only their fingerprint kernels and adapt onto the
  * two faces here:
  *
  *  - WHOLE-CONTENT (one hash per record): exact groups, near-dup pairs,
  *    clusters, survivors by preference, incremental survivors,
  *    bounded-broadcast decontamination;
  *  - PART (many keyed hashes per record — tiles, windows, frames,
  *    orientations): shared-part edges (`minShared` distinct matching
  *    part pairs), pairs, clusters, survivors by part count, part
  *    decontamination.
  *
  * Scale shape, every face: the fingerprint pass is map-only and, where
  * a face reads it more than once, persisted and materialized first, so
  * each record decodes exactly ONCE per job (decode is the job's cost at
  * media scale); candidates come from [[HammingBands]] (equi-join on
  * band values, never all-pairs); decontamination BROADCASTS the bounded
  * eval side (`maxEval`, refused loudly past it) and never shuffles the
  * corpus. Faces returning a frame return it persisted and materialized
  * under the [[Cached]] contract.
  */
object PerceptualDedup {

  /** A 64-bit perceptual fingerprint: `pass` maps a media frame to
    * (media_id, keyCols..., hashCol, extra...) rows, map-only, refusing
    * records that are not `modality`; `tag` names its band buckets in
    * shed logs. Whole-content fingerprints have no `keyCols` (one row
    * per record); part fingerprints key each part within its record. */
  final case class Fingerprint(modality: String, hashCol: String,
                               tag: String, pass: DataFrame => DataFrame,
                               keyCols: Seq[String] = Nil)

  private val Id = "media_id"

  // ---- whole-content face -------------------------------------------

  /** Every record labeled with its exact-hash group's representative
    * (min media_id sharing the hash): (media_id, hashCol, group_rep). */
  def exactGroups(media: DataFrame, fp: Fingerprint): DataFrame =
    fp.pass(media).withColumn("group_rep",
      min(col(Id)).over(Window.partitionBy(col(fp.hashCol))))
      .select(Id, fp.hashCol, "group_rep")

  /** Near-dup pairs among already-hashed (media_id, hashCol) rows:
    * (id_a, id_b, hamming), id_a < id_b, each pair once. */
  def nearDupPairs(hashes: DataFrame, fp: Fingerprint, maxHamming: Int,
                   maxBucket: Long): DataFrame = Cached.scope { s =>
    val h = s.hold(hashes)
    h.count(): Unit
    pinned(s, pairs(h, fp, maxHamming, maxBucket))
  }

  /** Near-dup clusters: (media_id, cluster_id) for every hashed record,
    * singletons their own cluster. */
  def clusters(media: DataFrame, fp: Fingerprint, maxHamming: Int,
               maxBucket: Long): DataFrame = Cached.scope { s =>
    val h = pinned(s, fp.pass(media))
    pinned(s, resolve(s, h.select(col(Id)),
      pairs(h, fp, maxHamming, maxBucket).select("id_a", "id_b")))
  }

  /** Keep-best dedup: one survivor per near-dup cluster, the member with
    * the highest `prefer` (ties on min id). Output: the pass's columns,
    * survivors only. */
  def survivors(media: DataFrame, fp: Fingerprint, prefer: Column,
                maxHamming: Int, maxBucket: Long): DataFrame =
    Cached.scope { s =>
      val h = pinned(s, fp.pass(media))
      pinned(s, survivorsOf(s, h, fp, prefer, maxHamming, maxBucket))
    }

  /** [[survivors]] over an already-hashed frame, lazily, with the
    * cluster state owned by `s` — for composed passes whose profile pass
    * already computed the hash. */
  private[graft] def survivorsOf(s: Cached.Scope, hashed: DataFrame,
                                 fp: Fingerprint, prefer: Column,
                                 maxHamming: Int,
                                 maxBucket: Long): DataFrame =
    DupClusters.best(resolve(s, hashed,
      pairs(hashed, fp, maxHamming, maxBucket).select("id_a", "id_b")),
      Id, prefer)

  /** O(batch) admission against a committed hash store (one string
    * column `h`) through the shared Bloom path; within-batch duplicates
    * collapse to the min media_id. */
  def incrementalSurvivors(batch: DataFrame, committedHashes: DataFrame,
                           fp: Fingerprint, fpp: Double): DataFrame =
    IncrementalDedup.survivors(fp.pass(batch), committedHashes, Id,
      col(fp.hashCol).cast("string"), fpp)

  /** (media_id, contaminated) for every corpus record: true iff its hash
    * lies within `maxHamming` of any eval hash. The eval side hashes
    * through `evalFp` (default: the corpus fingerprint; a rotation probe
    * passes the eval's orientation fanout). */
  def decontaminate(corpus: DataFrame, eval: DataFrame, fp: Fingerprint,
                    maxHamming: Int, maxEval: Long,
                    evalFp: Option[Fingerprint] = None): DataFrame =
    Cached.scope { s =>
      requireHamming(maxHamming)
      val efp = evalFp.getOrElse(fp)
      val evalH = bounded(s, efp.pass(eval)
        .select(col(Id), col(efp.hashCol).as(fp.hashCol)), efp, maxEval)
      val corpusH = pinned(s, fp.pass(corpus))
      pinned(s, HammingBands.decontaminateProbe(corpusH, evalH, Id,
        fp.hashCol, maxHamming))
    }

  // ---- part face ----------------------------------------------------

  /** Record pairs sharing >= `minShared` near-identical parts:
    * (id_a, id_b, shared), id_a < id_b. */
  def sharedPairs(media: DataFrame, fp: Fingerprint, maxHamming: Int,
                  minShared: Int, maxBucket: Long): DataFrame =
    Cached.scope { s =>
      val p = pinned(s, fp.pass(media))
      pinned(s, partEdges(p, fp, maxHamming, minShared, maxBucket))
    }

  /** Connected components over shared-part edges: (media_id, cluster_id)
    * for every INPUT record when `everyInput` (a record hashing no parts
    * is a singleton), else for every record that hashed a part. */
  def partClusters(media: DataFrame, fp: Fingerprint, maxHamming: Int,
                   minShared: Int, maxBucket: Long,
                   everyInput: Boolean): DataFrame = Cached.scope { s =>
    val p = pinned(s, fp.pass(media))
    val ids = if (everyInput) media.select(col(Id))
      else p.select(col(Id)).distinct()
    pinned(s, resolve(s, ids, partEdges(p, fp, maxHamming, minShared,
      maxBucket).select("id_a", "id_b")))
  }

  /** Keep-most-parts dedup: per shared-part cluster, the record with the
    * most parts survives (ties on min id). Output (media_id, `countCol`),
    * survivors only; records hashing no parts are dropped. */
  def partSurvivors(media: DataFrame, fp: Fingerprint, countCol: String,
                    maxHamming: Int, minShared: Int,
                    maxBucket: Long): DataFrame = Cached.scope { s =>
    val p = pinned(s, fp.pass(media))
    val perRecord = p.groupBy(col(Id)).agg(count(lit(1)).as(countCol))
    pinned(s, DupClusters.best(resolve(s, perRecord,
      partEdges(p, fp, maxHamming, minShared, maxBucket)
        .select("id_a", "id_b")), Id, col(countCol)))
  }

  /** (media_id, contaminated): true iff the corpus record shares
    * >= `minShared` near-identical parts with any SINGLE eval record.
    * The eval side hashes through `evalFp` (default: the corpus
    * fingerprint; a whole-content `evalFp` makes each eval record one
    * part). Rows for every input record when `everyInput`, else for
    * every record that hashed a part. */
  def decontaminateParts(corpus: DataFrame, eval: DataFrame,
                         fp: Fingerprint, maxHamming: Int, minShared: Int,
                         maxEval: Long, evalFp: Option[Fingerprint] = None,
                         everyInput: Boolean = true): DataFrame =
    Cached.scope { s =>
      requireHamming(maxHamming)
      require(minShared >= 1, s"minShared=$minShared must be >= 1")
      val efp = evalFp.getOrElse(fp)
      val evalP = bounded(s, efp.pass(eval), efp, maxEval)
      val corpusP = pinned(s, fp.pass(corpus))
      val hits = sharedPartHits(
        corpusP.select(col(Id), partKey(fp), col(fp.hashCol)),
        evalP.select(col(Id), partKey(efp), col(efp.hashCol)),
        maxHamming, minShared)
      val ids = if (everyInput) corpus.select(col(Id))
        else corpusP.select(col(Id)).distinct()
      pinned(s, HammingBands.flag(ids, hits, Id))
    }

  /** media_ids of `corpus` (media_id, part key, hash) rows sharing
    * >= `minShared` distinct near-identical part pairs with any single
    * record of `eval` (same shape): eval bands BROADCAST, corpus parts
    * never shuffle — only band-matched candidates reach the count. */
  private[graft] def sharedPartHits(corpus: DataFrame, eval: DataFrame,
                                    maxHamming: Int,
                                    minShared: Int): DataFrame =
    HammingBands.explodeBands(corpus.toDF(Id, "__k", "__hc"), "__hc",
      maxHamming)
      .join(broadcast(HammingBands.explodeBands(
        eval.toDF("__eval_id", "__ek", "__he"), "__he", maxHamming)),
        Seq("band", "value"))
      .filter(bit_count(col("__hc").bitwiseXOR(col("__he"))) <= maxHamming)
      .groupBy(col(Id), col("__eval_id"))
      .agg(countDistinct(struct(col("__k"), col("__ek"))).as("shared"))
      .filter(col("shared") >= minShared)
      .select(Id).distinct()

  // ---- shared steps -------------------------------------------------

  /** Persist `df` under `s` and materialize it with one count. */
  private def pinned(s: Cached.Scope, df: DataFrame): DataFrame = {
    val p = s.hold(df)
    p.count(): Unit
    p
  }

  /** The persisted eval frame, refused past `maxEval` rows — a broadcast
    * that size would flood the executors. */
  private def bounded(s: Cached.Scope, evalRows: DataFrame,
                      fp: Fingerprint, maxEval: Long): DataFrame = {
    val e = s.hold(evalRows)
    val n = e.count()
    require(n <= maxEval,
      s"eval set hashes $n ${fp.modality} fingerprint rows > " +
        s"maxEval=$maxEval — a broadcast this size would flood the " +
        "executors; raise maxEval deliberately")
    e
  }

  private def requireHamming(maxHamming: Int): Unit =
    require(maxHamming >= 0 && maxHamming <= 16,
      s"maxHamming $maxHamming not in [0,16]")

  private def pairs(h: DataFrame, fp: Fingerprint, maxHamming: Int,
                    maxBucket: Long): DataFrame =
    HammingBands.pairs(h, Id, fp.hashCol, maxHamming, maxBucket, fp.tag)

  /** `vertices` labeled with their component over `edges`; the
    * component map's cache belongs to `s`. */
  private def resolve(s: Cached.Scope, vertices: DataFrame,
                      edges: DataFrame): DataFrame =
    DupClusters.label(vertices, Id,
      s.own(DupClusters.connectedComponents(edges)))

  private def partKey(fp: Fingerprint): Column =
    if (fp.keyCols.isEmpty) lit(0) else struct(fp.keyCols.map(col): _*)

  /** Shared-part edges: banded part pairing over a (media_id, keyCols...)
    * struct key — no arithmetic packing, so any media_id and part index
    * are valid — aggregated to record pairs with >= `minShared` distinct
    * matching part pairs. */
  private def partEdges(parts: DataFrame, fp: Fingerprint, maxHamming: Int,
                        minShared: Int, maxBucket: Long): DataFrame = {
    require(minShared >= 1, s"minShared=$minShared must be >= 1")
    HammingBands.pairs(parts.select(
      struct((Id +: fp.keyCols).map(col): _*).as("pid"), col(fp.hashCol)),
      "pid", fp.hashCol, maxHamming, maxBucket, fp.tag)
      .select(col("id_a.media_id").as("ma"), col("id_b.media_id").as("mb"),
        col("id_a"), col("id_b"))
      .filter(col("ma") =!= col("mb"))
      .select(least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"),
        col("id_a").as("pa"), col("id_b").as("pb"))
      .groupBy("id_a", "id_b")
      .agg(countDistinct(struct(col("pa"), col("pb"))).as("shared"))
      .filter(col("shared") >= minShared)
  }
}
