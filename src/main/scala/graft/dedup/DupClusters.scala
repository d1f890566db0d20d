package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Duplicate-cluster resolution: candidate/verified pairs are only half of
  * near-dup dedup — a training-data pipeline must then group pairs into
  * clusters (connected components) and keep ONE survivor per cluster.
  * (The reference's dedup is exact-key only — AvroKeyDedupReducer.java:39;
  * this closes the near-dup loop the same way its reducer keeps one record
  * per key.)
  *
  * Components by large-star/small-star contraction (the MapReduce
  * connected-components algorithm of Kiveris et al., "Connected Components
  * in MapReduce and Beyond", SoCC'14): each round every node hooks its
  * larger neighbors onto its minimum neighbor (large-star), then collapses
  * chains onto local minima (small-star). The edge set contracts to star
  * graphs rooted at each component's minimum id in O(log n) rounds —
  * unlike min-label propagation this is diameter-INDEPENDENT, so a
  * pathological chain of near-dups (rolling boilerplate, shingled spam)
  * converges as fast as a shallow cluster. Per-round state is persisted
  * and the previous round unpersisted, so lineage stays flat; work per
  * round is O(edges), never O(docs^2).
  */
object DupClusters {

  /** (id, cluster) for every id that appears in `pairs`; cluster = the
    * minimum id of the connected component.
    *
    * Hybrid execution: when the (deduped) edge set fits comfortably on
    * the driver (`driverMaxEdges`, default 2^20 — near-dup pair sets are
    * a vanishing fraction of corpus size), a single collect + union-find
    * resolves components in one pass with zero iterative jobs — the same
    * driver-side planning budget the reference spends on work units.
    * Larger edge sets run the distributed min-label propagation loop.
    * Both paths produce identical labels.
    *
    * Checkpointing on the distributed path: when the session has a
    * reliable checkpoint dir (`spark.sparkContext.setCheckpointDir`),
    * per-round state goes there and survives executor loss; otherwise it
    * falls back to `localCheckpoint`, whose blocks are NOT recomputable —
    * an executor loss (or dynamic-allocation executor release, which
    * Spark documents as unsafe with localCheckpoint) fails the job. For
    * production-scale runs — exactly the > `driverMaxEdges` edge sets
    * that take this path — set a checkpoint dir or pin executors.
    *
    * The returned DataFrame is PERSISTED (the propagation loop needs the
    * final labels materialized and re-derivable without replaying every
    * round); callers running many resolutions in one session should
    * `.unpersist()` it — or the frame returned by [[resolve]] — once
    * consumed. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
                          driverMaxEdges: Long = 1L << 20): DataFrame = {
    // Normalize to UNDIRECTED (min, max) edges and materialize ONCE.
    // The earlier shape symmetrized FIRST: the (often expensive —
    // a banded near-dup join) `pairs` plan was evaluated twice by the
    // union, and the driver-budget check counted every undirected edge
    // twice, pushing pair sets that fit the driver comfortably onto the
    // iterative loop at half the documented capacity.
    val und = pairs.select(
        least(col("id_a"), col("id_b")).as("src"),
        greatest(col("id_a"), col("id_b")).as("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val integralIds = und.schema.fields.forall(f =>
      f.dataType == org.apache.spark.sql.types.LongType ||
        f.dataType == org.apache.spark.sql.types.IntegerType)
    if (integralIds && und.count() <= driverMaxEdges)
      return driverComponents(und) // union-find is direction-blind
    val sym = und.union(
      und.select(col("dst").as("src"), col("src").as("dst")))
    try starComponents(sym, maxIter) finally und.unpersist()
  }

  /** Large-star/small-star alternation over a symmetric edge set (built
    * from a persisted undirected set; self-pairs may appear twice — the
    * orientation filter and the self-only census both dedup locally).
    * State between rounds is the directed parent-edge set
    * (child > parent); at the fixpoint it is a union of stars, each
    * rooted at its component's minimum id.
    *
    *   large-star(u): m = min(N(u) + u); every neighbor v > u hooks to m.
    *   small-star(u): m = min of u's smaller neighbors; they and u hook
    *     to m.
    *
    * Both are one groupBy(min) + one equi-join on the grouping key — the
    * same shuffle shape as one min-label round — but the round count is
    * O(log n) instead of O(diameter).
    *
    * CRITICAL for any iterative Dataset algorithm: each round's state is
    * checkpointed (eagerly), not merely persisted. A persist keeps the
    * logical plan, and every round here references the previous round's
    * frame ~12 times (the symmetric view, two grouped mins, two joins,
    * the convergence compare), so without truncation the plan tree grows
    * ~12^rounds and the DRIVER dies at planning time long before the
    * data is large. Checkpointing pins each round's rows (block manager
    * for local, checkpoint-dir files for reliable) and restarts lineage,
    * so the plan of round N is O(1) in N. Round N-1's local-checkpoint
    * blocks are released EXPLICITLY once round N is materialized and
    * compared — at most two rounds of edge state live at once, instead
    * of up to maxIter copies waiting on driver GC + ContextCleaner. */
  private def starComponents(sym: DataFrame, maxIter: Int): DataFrame = {
    def swap(e: DataFrame): DataFrame =
      e.select(col("dst").as("src"), col("src").as("dst"))
    val reliable = sym.sparkSession.sparkContext.getCheckpointDir.isDefined
    // lineage truncation + a handle that frees the round's pinned
    // blocks (no-op for reliable checkpoints: those live as files, and
    // ContextCleaner removes them with the RDD reference when configured).
    // LAZY on purpose: every truncate here is followed immediately by a
    // count() on the result, and a lazy checkpoint lets that count job
    // double as the materialization — one job per round, not two. The
    // plan is a fresh LogicalRDD either way, so lineage stays flat.
    def truncate(df: DataFrame): (DataFrame, () => Unit) = {
      val cp = if (reliable) df.checkpoint(eager = false)
               else df.localCheckpoint(eager = false)
      val free: () => Unit =
        if (reliable) () => ()
        else {
          val pinned = cp.queryExecution.analyzed.collect {
            case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
          }
          () => pinned.foreach(_.unpersist(blocking = false))
        }
      (cp, free)
    }
    // orient every undirected edge child>parent: (max, min)
    var (e, freeE) = truncate(sym.filter(col("src") > col("dst")).distinct())
    var eCount = e.count() // carried across rounds: each round's count job
    // doubles as next round's "previous count", so convergence costs one
    // count + one anti-join per round, not two counts
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // large-star: group the SYMMETRIC view by node, hook larger
      // neighbors onto least(min neighbor, self)
      val lsym = e.union(swap(e))
      val lmin = lsym.groupBy("src").agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("mn"), col("src")).as("m"))
      // NOT deduped: two parents hooking the same child to the same min
      // produce duplicate edges, but small-star's min is dup-blind and
      // `small`'s distinct cleans the round's output — skipping the
      // dedup saves a full (src,dst) exchange per round, and the dup
      // count is bounded by the phase's own incidence count |E|
      val large = lsym.join(lmin, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // small-star: all edges are child>parent; group by child, hook the
      // smaller neighbors AND the child itself onto their minimum
      val smin = large.groupBy("src").agg(min(col("dst")).as("m"))
      val (small, freeSmall) = truncate(
        large.join(smin, "src")
          .select(col("dst").as("src"), col("m").as("dst"))
          .union(smin.select(col("src"), col("m").as("dst")))
          .filter(col("src") =!= col("dst"))
          .distinct())
      // fixpoint when the directed edge set is unchanged; both sides are
      // distinct AND checkpointed, so this compares two materialized sets
      // (equal counts + empty one-sided anti-join <=> set equality).
      // This count ALSO materializes the lazy checkpoint — so `large`
      // must stay persisted until after it (unpersisting before the
      // count would recompute the large-star join twice, uncached)
      val smallCount = small.count()
      large.unpersist()
      converged = smallCount == eCount &&
        small.join(e, Seq("src", "dst"), "left_anti").isEmpty
      freeE() // round N-1's blocks: the compare above was their last use
      e = small
      eCount = smallCount
      freeE = freeSmall
      i += 1
    }
    require(converged, s"components did not converge in $maxIter rounds")
    // stars: every non-root appears exactly once as src with its root as
    // dst; roots appear only as dst — label them with themselves. Nodes
    // seen ONLY as self-pairs were dropped by the child>parent
    // orientation; they are their own singleton cluster.
    val starLabels = e.select(col("src").as("id"), col("dst").as("cluster"))
      .union(e.select(col("dst").as("id"), col("dst").as("cluster")))
      .distinct()
    val selfOnly = sym.filter(col("src") === col("dst"))
      .select(col("src").as("id")).distinct()
      .join(starLabels, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("cluster"))
    val labels = starLabels.union(selfOnly)
      .persist(StorageLevel.MEMORY_AND_DISK)
    labels.count() // materialize off the final (checkpointed) edge state
    // labels is MEMORY_AND_DISK (eviction spills, never recomputes), so
    // the final round's pinned copy can go too — same executor-loss
    // caveat the scaladoc states for the whole local-checkpoint path
    freeE()
    labels
  }

  /** Driver union-find (path compression + union by min) over a collected
    * edge list; labels = min id per component, matching the loop. The
    * result is cast back to the input id type so callers see the SAME
    * schema whichever path ran — data volume must never change the
    * contract. */
  private def driverComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val idType = edges.schema("src").dataType
    val es = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].collect()
    edges.unpersist()
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { // keep the smaller id as root = the cluster label
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
      parent.getOrElseUpdate(a, find(a)); parent.getOrElseUpdate(b, find(b)): Unit
    }
    val nodes = es.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
    spark.createDataset(nodes.toSeq.map(n => (n, find(n))))
      .toDF("id", "cluster")
      .select(col("id").cast(idType), col("cluster").cast(idType))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Annotate every doc with its cluster id (its own id when it is in no
    * pair — singletons are their own cluster). */
  def resolve(docs: DataFrame, idCol: String, pairs: DataFrame,
              maxIter: Int = 20,
              driverMaxEdges: Long = 1L << 20): DataFrame =
    label(docs, idCol, connectedComponents(pairs, maxIter, driverMaxEdges))

  /** [[resolve]] over an already-computed [[connectedComponents]] map —
    * for callers that own (and release) the map's cache themselves. */
  private[graft] def label(docs: DataFrame, idCol: String,
                           components: DataFrame): DataFrame =
    docs.join(components.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster"), col(idCol)))
      .drop("cluster")

  /** One survivor per cluster: the minimum-id member (plus every
    * singleton). */
  def survivors(docs: DataFrame, idCol: String, pairs: DataFrame,
                maxIter: Int = 20,
                driverMaxEdges: Long = 1L << 20): DataFrame =
    resolve(docs, idCol, pairs, maxIter, driverMaxEdges)
      .filter(col(idCol) === col("cluster_id"))
      .drop("cluster_id")

  /** One survivor per cluster chosen by QUALITY, not id: the member with
    * the highest `prefer` value (ties break on minimum id — total order,
    * so the survivor set is deterministic). The keep-best-copy policy of
    * near-dup pipelines: boilerplate mirrors lose to the fullest
    * original. Per-cluster work is a row_number window partitioned by
    * cluster — cluster sizes are bounded by the candidate generator's
    * bucket caps, so no partition outgrows an executor. */
  def survivorsBy(docs: DataFrame, idCol: String, pairs: DataFrame,
                  prefer: org.apache.spark.sql.Column,
                  maxIter: Int = 20,
                  driverMaxEdges: Long = 1L << 20): DataFrame =
    best(resolve(docs, idCol, pairs, maxIter, driverMaxEdges), idCol, prefer)

  /** [[survivorsBy]]'s pick over already-[[label]]ed docs. */
  private[graft] def best(labeled: DataFrame, idCol: String,
                          prefer: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(prefer.desc, col(idCol).asc)
    labeled.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .drop("__rk", "cluster_id")
  }
}
