package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pigeonhole banding over 64-bit Hamming-space fingerprints — the shared
  * candidate generator behind every perceptual near-dup face
  * ([[PerceptualDedup]]: image dHash, audio fingerprint, video fold):
  * split the hash into `maxHamming + 1` contiguous bit bands, so any
  * pair within the Hamming bound shares at least one band unchanged
  * (pigeonhole); candidates come from an equi-join on
  * (band, value) — never an all-pairs scan — and each candidate is
  * verified exactly with one XOR + bit_count. Degenerate band buckets
  * (a constant-content corpus) are capped LOUDLY, mirroring the MinHash
  * banding path (`dedup/MinHashDedup.scala`); shed pairs are exact
  * duplicates of each other whenever the full hash matches, which the
  * exact-group faces already handle.
  */
object HammingBands {

  /** One output row per (input row, band): every input column plus `band`
    * (int) and `value` (that band's bits, right-aligned). bands =
    * max(maxHamming, 1) + 1; band b covers bits [b*width, (b+1)*width)
    * and the last band absorbs the 64 % bands remainder. */
  def explodeBands(df: DataFrame, hashCol: String, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 16,
      s"maxHamming $maxHamming not in [0,16]")
    val bands = math.max(maxHamming, 1) + 1
    val width = 64 / bands
    val keep = df.columns.toSeq.map(col)
    df.select((keep :+ explode(array((0 until bands).map { b =>
      val lo = b * width
      val w = if (b == bands - 1) 64 - lo else width
      val mask = if (w == 64) -1L else (1L << w) - 1L
      struct(lit(b).as("band"),
        shiftrightunsigned(col(hashCol), lo).bitwiseAND(lit(mask)).as("value"))
    }: _*)).as("bv")): _*)
      .select((keep :+ col("bv.band").as("band")
        :+ col("bv.value").as("value")): _*)
  }

  /** Decontamination probe: flag every corpus row whose hash lies within
    * `maxHamming` of ANY eval hash. The (bounded) eval side is BROADCAST
    * as hash bands — the corpus never shuffles: one band equi-join, exact
    * bit_count verify, then a left join attaches the flag. Input frames
    * are (idCol, hashCol); output (idCol, contaminated). Both inputs are
    * evaluated more than once (probe + outcome branches) — callers with
    * expensive hash lineage must persist first, as the media faces do. */
  def decontaminateProbe(corpusHashes: DataFrame, evalHashes: DataFrame,
                         idCol: String, hashCol: String,
                         maxHamming: Int): DataFrame = {
    val hits = explodeBands(
      corpusHashes.select(col(idCol), col(hashCol).as("__hc")),
      "__hc", maxHamming)
      .join(broadcast(explodeBands(
        evalHashes.select(col(idCol).as("__eval_id"),
          col(hashCol).as("__he")), "__he", maxHamming)),
        Seq("band", "value"))
      .filter(bit_count(col("__hc").bitwiseXOR(col("__he"))) <= maxHamming)
      .select(idCol).distinct()
    flag(corpusHashes.select(idCol), hits, idCol)
  }

  /** (idCol, contaminated) for every row of `ids`: true iff its id is
    * among `hits` — the outcome join every decontamination face ends
    * with. */
  private[graft] def flag(ids: DataFrame, hits: DataFrame,
                          idCol: String): DataFrame =
    ids.join(hits.withColumn("contaminated", lit(true)), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("contaminated"), lit(false)).as("contaminated"))

  /** Near-dup pairs among (idCol, hashCol) rows: banded candidate
    * generation + exact Hamming verify. Output (id_a, id_b, hamming),
    * id_a < id_b, each pair once. `maxBucket` caps a band bucket's size —
    * a bucket past it is shed LOUDLY under `tag`.
    *
    * Cost shape: bucket sizes ride a window count over ONE shuffle of
    * the banded rows, which is then PERSISTED — the shed census is a
    * cache read (the earlier shape ran a separate full groupBy census
    * job), and both sides of the candidate self-join inherit the
    * window's (band, value) partitioning, so the join adds NO exchange.
    * The input frame is evaluated once; callers whose hash lineage is
    * expensive — a media decode pass — should still persist it (the
    * banded frame is their lineage re-run once), as
    * [[PerceptualDedup]] does. The banded frame persists under the
    * caller's [[Cached]] scope, which releases it once the caller has
    * materialized what it derived from the returned (lazy) pairs. */
  def pairs(hashes: DataFrame, idCol: String, hashCol: String,
            maxHamming: Int, maxBucket: Long, tag: String): DataFrame = {
    require(maxHamming >= 1 && maxHamming <= 16,
      s"maxHamming $maxHamming not in [1,16]")
    val banded = explodeBands(hashes.select(col(idCol), col(hashCol)),
      hashCol, maxHamming)
    val counted = Cached.hold(banded.withColumn("__bcnt",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("band"), col("value")))))
    val big = counted.filter(col("__bcnt") > maxBucket)
      .select(col("band"), col("value"), col("__bcnt")).distinct()
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    if (big.nonEmpty)
      System.err.println(s"[$tag] shedding ${big.length} band buckets " +
        s"past $maxBucket: " +
        big.map { case (b, v, n) => s"band$b=$v($n)" }.mkString(", "))
    val kept = counted.filter(col("__bcnt") <= maxBucket)
    val a = kept.select(col("band"), col("value"),
      col(idCol).as("id_a"), col(hashCol).as("h_a"))
    val b = kept.select(col("band"), col("value"),
      col(idCol).as("id_b"), col(hashCol).as("h_b"))
    a.join(b, Seq("band", "value"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct() // a close pair can share several bands
  }
}
