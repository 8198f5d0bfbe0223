package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by iterative peeling (public algorithm:
  * Seidman 1983, "Network structure and minimum degree"; the standard
  * distributed formulation peels all sub-k-degree nodes each round) —
  * the graph-curation filter that strips weakly-connected periphery
  * (spam pages, orphan entities) before link-based scoring like
  * PageRank/HITS.
  *
  * Each round: one degree aggregation over the live edge set, one
  * semi-join to drop edges touching sub-k nodes. Rounds are
  * barrier-synchronous (like every Pregel-style loop here); per-round
  * work is linear in the live edge count and the live set only
  * shrinks. A tracked eager checkpoint after each round caps lineage,
  * counts the live edges in the same job, AND releases the previous
  * round's blocks deterministically ([[Checkpoints.trackedMeasured]] —
  * relying on the ContextCleaner retained R rounds of edge copies).
  * The k-core is UNIQUE (the maximal subgraph with min degree >= k),
  * which is what lets the gate oracle certify the result exactly:
  * (a) every survivor keeps >= k surviving neighbors, (b) every removed
  * node has < k surviving neighbors — (a)+(b) hold only for the true
  * k-core.
  *
  * Reference has no k-core operator; this rides the same edge tables
  * as [[PageRank]]/[[Hits]] (Gelly, the reference's graph library, is
  * a separate project).
  */
object KCore {

  /** Surviving nodes of the k-core with their in-core degree.
    * `edges` must be a SYMMETRIC simple edge list (src, dst) — use
    * [[symmetrize]] for a directed/one-sided input. */
  def run(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxRounds: Int = 100): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val pre = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    // The round-0 working set: when the input is CHEAP to rescan (leaf
    // scans + stateless row ops only — typically a caller-checkpointed
    // edge list), round 1's two consumers re-read it directly and the
    // count is a bare aggregate: 3 reads, no copy. Copying it into a
    // fresh checkpoint first (read + write + 2 reads of the copy) was
    // a whole wasted pass over the full edge set at any scale. Inputs
    // that DO re-run real work per scan (joins/aggregates/explodes
    // below) keep the materializing checkpoint, counted by its own job.
    var (live, n, release) =
      if (cheapToRescan(pre)) (pre, pre.count(), () => ())
      else checkpointCounted(pre)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      // shuffle_hash on the node-sized keep side (guide §3, the
      // PageRank finding): left-semi against a derived table falls
      // back to SortMergeJoin — sorting the full live edge set TWICE
      // per peel round; the hash semi-join streams the edges unsorted.
      val keep = live.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src")).hint("shuffle_hash")
      val (next, m, releaseNext) = checkpointCounted(live
        .join(keep, Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
        .select(col("src"), col("dst")))
      release() // round t-1's blocks: next is materialized, free them
      converged = m == n
      live = next
      release = releaseNext
      n = m
      rounds += 1
    }
    require(converged || n == 0,
      s"k-core peel did not converge within $maxRounds rounds " +
        s"($n live edges remain); raise maxRounds — the current live " +
        "set would NOT be a k-core")
    live.groupBy(col("src")).agg(count(lit(1)).as("core_deg"))
      .select(col("src").as("node"), col("core_deg"))
  }

  /** Tracked checkpoint plus its row count, in the checkpoint's one
    * materializing job ([[Checkpoints.trackedMeasured]]). */
  private def checkpointCounted(df: DataFrame): (DataFrame, Long, () => Unit) = {
    val (out, r, release) = Checkpoints.trackedMeasured(df, count(lit(1)))
    (out, r.getLong(0), release)
  }

  /** Rescan-vs-checkpoint break-even (the ChangelogInference
    * discipline): only leaf scans and stateless row ops below → a
    * rescan costs one read, cheaper than writing a copy first. */
  private def cheapToRescan(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.{logical => lg}
    df.queryExecution.analyzed.collectFirst {
      case _: lg.Generate => (); case _: lg.Aggregate => ()
      case _: lg.Window => (); case _: lg.Join => ()
      case _: lg.Sort => (); case _: lg.Distinct => ()
    }.isEmpty
  }

  /** Undirected simple view of a directed edge list: both directions,
    * self-loops dropped, duplicates collapsed. */
  def symmetrize(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }
}
