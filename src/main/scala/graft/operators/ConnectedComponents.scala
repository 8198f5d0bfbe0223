package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed connected components over a candidate-pair edge list —
  * the finishing step of every large-scale dedup pipeline: LSH/minhash
  * emits near-duplicate PAIRS, but retention decisions need GROUPS
  * (keep one representative per component of the similarity graph).
  *
  * Algorithm: iterative min-label propagation (the hash-to-min scheme
  * of Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14 — public). Each round every vertex adopts the minimum label
  * among itself and its neighbors; convergence takes O(graph diameter)
  * rounds. Dedup similarity graphs are unions of near-cliques (every
  * member of a duplicate cluster pairs with most others), so the
  * diameter is tiny — 2-4 rounds in practice, independent of corpus
  * size.
  *
  * Scale shape per round: one shuffle of (dst, label) keyed by id for
  * the min-aggregate and one broadcast-free equi-join labels-to-edges —
  * both linear in |E|. The edge list is materialized ONCE up front
  * (localCheckpoint) so an expensive upstream pair generator (O(N^2)
  * exact, or the LSH bucket join) is not re-executed per iteration, and
  * each round's labels are checkpointed to keep the plan tree flat
  * (iterative lineage otherwise grows exponentially). The per-round
  * driver-side `count()` is a scalar convergence probe, same as any
  * iterative algorithm's stopping rule.
  */
object ConnectedComponents {

  /** Component label (min reachable id) per vertex appearing in the
    * edge list. Vertices absent from `edges` (singletons) are the
    * caller's to add — see [[withSingletons]]. */
  def components(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 20): DataFrame = {
    // materialize the caller's edge list ONCE before mirroring — the
    // union below has two branches and would otherwise execute an
    // expensive upstream pair generator (O(N^2) exact or the LSH
    // bucket join) twice. Its count, taken by the checkpoint's own
    // job, right-sizes the iteration: per-round cost is dominated by
    // task scheduling when the edge list is far smaller than the
    // partition count (a 500-pair graph on 32 partitions runs 32
    // near-empty tasks per job). ~500k edges per partition keeps
    // rounds cheap at every scale — on 100 TB the quotient, not the
    // constant, governs.
    val (sym0, count0, releaseSym0) = Checkpoints.trackedMeasured(
      edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst")),
      count(lit(1)))
    val nEdges = 2 * count0.getLong(0)
    val parts = math.max(1L, nEdges / 500000L).toInt
    // undirected: propagate both ways
    val (und, releaseUnd) = Checkpoints.tracked(sym0
      .union(sym0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .coalesce(parts))
    releaseSym0() // und is materialized; the one-way list is dead
    // the iteration's shuffles (groupBy + joins each round) must run at
    // the graph's parallelism, not the session default: 32-partition
    // shuffles on a 1000-edge graph cost more in task scheduling than
    // the work itself, and AQE cannot re-plan across the checkpoint
    // boundaries. Scoped set/restore of the session shuffle partitions
    // — at 100 TB `parts` is large and this is a no-op.
    val spark = edges.sparkSession
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    try iterate(und, nEdges, maxIter)
    finally {
      releaseUnd() // every label table is a checkpoint of its own
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    }
  }

  private def iterate(und: DataFrame, nEdges: Long,
      maxIter: Int): DataFrame = {
    var (labels, release) = Checkpoints.tracked(
      und.select(col("src").as("id")).distinct()
        .withColumn("comp", col("id")))
    // convergence probe: labels only ever DECREASE and the id set is
    // fixed, so the label sum is strictly decreasing until the fixed
    // point — an unchanged sum means converged. One scalar aggregate
    // over checkpointed data per round; no join, no second shuffle.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("comp").cast("decimal(38,0)"))).head.getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    var prevSum = labelSum(labels)
    var it = 0
    var converged = nEdges == 0
    while (!converged && it < maxIter) {
      // shuffle_hash on the node-sized label side (guide §3, the
      // PageRank finding): the checkpointed label table's size estimate
      // forces SortMergeJoin, re-sorting the persisted edge cache every
      // round; the hash join streams the edges unsorted.
      val candidates = und.join(labels.hint("shuffle_hash"),
          und("src") === labels("id"))
        .select(und("dst").as("id"), labels("comp"))
      // materialized before the self-joins below — a self-join on one
      // lazy plan makes Catalyst's relation dedup mis-resolve the
      // shared attribute ids
      val (next0, releaseNext0) = Checkpoints.tracked(
        labels.select(col("id"), col("comp")).union(candidates)
          .groupBy("id").agg(min("comp").as("comp")))
      // pointer jumping (comp <- label(comp)): a label is always itself
      // a vertex id, so chasing one hop per round collapses label
      // chains exponentially — convergence in O(log diameter) rounds
      // instead of O(diameter), the doubling trick of the MapReduce CC
      // literature's star operations
      val (next, releaseNext) = Checkpoints.tracked(next0
        .join(next0.select(col("id").as("__cid"), col("comp").as("__cc")),
          col("comp") === col("__cid"), "left")
        .select(col("id"), coalesce(col("__cc"), col("comp")).as("comp")))
      releaseNext0() // next is materialized; the pre-jump table is dead
      release()      // and so is round t-1
      val s = labelSum(next)
      labels = next
      release = releaseNext
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      it += 1
    }
    labels
  }

  /** Attach singleton vertices: every id in `nodes` absent from the
    * edge list becomes its own component. One left join — the shape a
    * dedup pipeline needs to label EVERY document. */
  def withSingletons(nodes: DataFrame, idCol: String,
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 20): DataFrame = {
    val comps = components(edges, srcCol, dstCol, maxIter)
    nodes.select(col(idCol).cast("long").as("id"))
      .join(comps, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }
}
