package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (Array[Float]) — brute-force cosine top-k as the exact baseline, and
  * a random-hyperplane LSH bucketed variant as the scale path.
  *
  * Vector math uses `zip_with`/`aggregate` higher-order expressions —
  * native Catalyst, evaluated in index order (so the double accumulation
  * is deterministic and engine-comparable), no UDF serialization.
  *
  * Scale shape: brute force broadcasts the (small) query set against the
  * corpus — one pass, no corpus shuffle, partial top-k per partition
  * (WindowGroupLimit) before the final per-query merge. The LSH variant
  * buckets the corpus once (linear) and probes only matching buckets —
  * sign-random-projection (Charikar 2002, public algorithm).
  */
object Similarity {

  /** Dot product of two float-array columns, accumulated in double in
    * index order. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity — native single-pass expression
    * (graft.functions.CosineSim); accumulates in index order so results
    * are bit-identical to the declarative dot/norm formulation. */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.CosineSim(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Exact top-k by cosine for each query vector.
    *
    * @param corpus  (idCol, vecCol) table — the big side, never shuffled
    *                until the per-query top-k reduction
    * @param queries (qidCol, qvecCol) table — small, broadcast
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qidCol: String, qvecCol: String,
      k: Int): DataFrame = {
    val scored = corpus.crossJoin(broadcast(queries))
      .filter(col(idCol) =!= col(qidCol))
      .withColumn("sim", cosine(col(vecCol), col(qvecCol)))
    val w = Window.partitionBy(col(qidCol))
      .orderBy(col("sim").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qidCol), col(idCol), round(col("sim"), 6).as("sim"),
        col("rank"))
  }

  /** MMR (Maximal Marginal Relevance) re-ranking — Carbonell & Goldstein,
    * SIGIR 1998 (public): greedily select k results balancing query
    * relevance against redundancy with what is already selected,
    *
    *   next = argmax_c [ λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s) ],
    *
    * the standard diversification pass a RAG pipeline runs over its
    * top-N candidate pool before stuffing a context window (near-dup
    * passages waste tokens). Candidates carry (qidCol, idCol, relCol,
    * vecCol); returns the selected rows as (qid, id, rel, mmr,
    * sel_rank).
    *
    * Determinism/portability: rel is expected 6-dp-rounded (as
    * [[bruteForceTopK]] emits); candidate-candidate cosine is rounded
    * to 6 dp; the score λ·rel − (1−λ)·maxsim is then floor-quantized
    * to a multiple of 2^-20 (an engine evaluating the two mults with
    * FMA contraction differs in the last ulp — the quantization
    * absorbs it, as everywhere else in this library). Ties break by
    * id.
    *
    * Scale shape: MMR is inherently sequential in k, but each step is
    * one join + one aggregate over the CANDIDATE pool (top-N per query,
    * a constant ~10-100 rows/query fixed upstream by the ANN ranker) —
    * never the corpus. All queries advance in parallel inside each
    * step; cost is k · O(|pool|) per query with no corpus shuffle.
    * A query whose pool holds fewer than k candidates simply returns
    * its whole pool (selection stops when nothing remains). */
  def mmrRerank(cands: DataFrame, qidCol: String, idCol: String,
      relCol: String, vecCol: String, k: Int,
      lambda: Double = 0.7): DataFrame = {
    val base = cands.select(col(qidCol).as("__qid"), col(idCol).as("__id"),
      col(relCol).as("__rel"), col(vecCol).as("__vec"))
    var selected: DataFrame = null
    var remaining = base
    var release = () => ()
    for (i <- 1 to k) {
      def q20(c: Column): Column = floor(c * 1048576) / lit(1048576.0)
      val scored =
        if (selected == null)
          remaining.withColumn("__mmr", q20(lit(lambda) * col("__rel")))
        else {
          val sel = selected.select(col("__qid"), col("__vec").as("__sv"))
          remaining.join(sel, "__qid")
            .groupBy(col("__qid"), col("__id"))
            .agg(first(col("__rel")).as("__rel"),
              first(col("__vec")).as("__vec"),
              max(round(cosine(col("__vec"), col("__sv")), 6)).as("__ms"))
            .withColumn("__mmr", q20(
              lit(lambda) * col("__rel") - lit(1.0 - lambda) * col("__ms")))
        }
      val w = Window.partitionBy(col("__qid"))
        .orderBy(col("__mmr").desc, col("__id"))
      val pick = scored.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("__qid"), col("__id"), col("__rel"), col("__vec"),
          col("__mmr"), lit(i).as("__selrank"))
      // a checkpoint per round caps lineage: without it `remaining`
      // chains k left_anti joins and `selected` a k-way union (O(k^2)
      // plan growth), same discipline as the Pregel-style loops; the
      // last round's `remaining` is never read, so it is not built
      val (sel, releaseSel) = Checkpoints.tracked(
        if (selected == null) pick else selected.unionByName(pick))
      val (rem, releaseRem) =
        if (i == k) (remaining, () => ())
        else Checkpoints.tracked(remaining.join(
          pick.select(col("__qid"), col("__id")), Seq("__qid", "__id"),
          "left_anti"))
      release() // round t is materialized; round t-1 is dead
      selected = sel; remaining = rem
      release = () => { releaseSel(); releaseRem() }
    }
    selected.select(col("__qid").as(qidCol), col("__id").as(idCol),
      col("__rel").as(relCol), col("__mmr").as("mmr"),
      col("__selrank").cast("long").as("sel_rank"))
  }

  /** Sign-random-projection bucket id for one hash table: `planes` sign
    * bits packed into a long — native one-pass expression
    * (graft.functions.SrpBucket). */
  def srpBucket(vec: Column, dim: Int, planes: Int, seed: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.SrpBucket(
      ColumnBridge.expression(vec), dim, planes, seed))
  }

  /** IVF (inverted-file) ANN: a coarse k-means quantizer splits the
    * corpus into `nlist` cells; queries probe the `nprobe` nearest cells
    * and re-rank exactly within them — the FAISS-style scale path for
    * billion-vector search (public technique, Jégou et al. 2011).
    *
    * Training runs Lloyd's iterations with DataFrame ops; centroids are
    * tiny (nlist × dim) so they live on the driver and broadcast — the
    * corpus is only ever scanned, never shuffled. Deterministic:
    * centroids init from evenly-strided corpus rows.
    */
  /** Nearest-centroid cell id as a pure projection (native expression —
    * the centroid table rides inside the serialized expression). */
  def nearestCentroid(vec: Column, cs: Array[Array[Float]]): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.NearestCentroid(
      ColumnBridge.expression(vec), cs.toSeq.map(_.toSeq)))
  }

  /** The nprobe nearest cells, as a projection (array column). */
  def nearestCells(vec: Column, cs: Array[Array[Float]], nprobe: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.NearestCells(
      ColumnBridge.expression(vec), cs.toSeq.map(_.toSeq), nprobe))
  }

  /** Coarse k-means quantizer training on a bounded sample (FAISS
    * practice: O(100) points per centroid suffices): one deterministic
    * pseudo-random TakeOrdered over a hash of the id — a single corpus
    * scan that collects <= nlist*256 vectors (~1 MB at dim 64), then
    * Lloyd's runs driver-local in-memory. Cluster cost of training is
    * ONE pass regardless of `iters`; the model is tiny driver-side
    * state, like any broadcast dimension. */
  def trainKMeans(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, nlist: Int, iters: Int): Array[Array[Float]] = {
    val train = sampleVectors(corpus, idCol, vecCol, nlist * 256)
    lloyd(train, dim, nlist, iters)
  }

  /** Deterministic bounded training sample: one TakeOrdered over a hash
    * of the id — a single corpus scan collecting <= maxTrain vectors. */
  private def sampleVectors(corpus: DataFrame, idCol: String,
      vecCol: String, maxTrain: Int): Array[Array[Float]] =
    corpus.select(col(idCol), col(vecCol))
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(maxTrain)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray)

  /** Driver-local Lloyd's iterations on an in-memory sample. */
  private def lloyd(train: Array[Array[Float]], dim: Int, nlist: Int,
      iters: Int): Array[Array[Float]] = {
    var centroids: Array[Array[Float]] = train.take(nlist)

    for (_ <- 0 until iters) {
      val sums = Array.fill(centroids.length, dim)(0.0)
      val counts = new Array[Long](centroids.length)
      train.foreach { v =>
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < centroids.length) {
          val cv = centroids(c)
          val n = math.min(v.length, cv.length)
          var d2 = 0.0
          var i = 0
          while (i < n) {
            val diff = v(i).toDouble - cv(i)
            d2 += diff * diff
            i += 1
          }
          if (d2 < bestD) { bestD = d2; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < math.min(v.length, dim)) { sums(best)(i) += v(i); i += 1 }
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else Array.tabulate(dim)(d => (sums(c)(d) / counts(c)).toFloat)
      }.toArray
    }
    centroids
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qidCol: String, qvecCol: String,
      k: Int, dim: Int, nlist: Int = 16, nprobe: Int = 4,
      iters: Int = 5): DataFrame = {
    val centroids = trainKMeans(corpus, idCol, vecCol, dim, nlist, iters)
    // index: corpus rows tagged with their cell — again a projection
    val indexed = corpus.select(col(idCol), col(vecCol),
      nearestCentroid(col(vecCol), centroids).as("__cell"))
    // queries probe their nprobe nearest cells — projection + explode
    val probes = queries.select(col(qidCol), col(qvecCol),
        explode(nearestCells(col(qvecCol), centroids, nprobe)).as("__cell"))
    val cands = indexed.join(broadcast(probes), Seq("__cell"))
      .filter(col(idCol) =!= col(qidCol))
    val w = Window.partitionBy(col(qidCol))
      .orderBy(col("sim").desc, col(idCol))
    cands.withColumn("sim", cosine(col(vecCol), col(qvecCol)))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qidCol), col(idCol), round(col("sim"), 6).as("sim"),
        col("rank"))
  }

  /** Embedding-cosine near-duplicate pairs, exact all-pairs baseline —
    * O(N^2), the correctness reference for the LSH variant (analogous to
    * bruteForceTopK for search). Emits (id_a, id_b, sim) with
    * id_a < id_b and round(sim, 6) >= threshold. */
  def cosineNearDupExact(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val a = corpus.select(col(idCol).as("id_a"), col(vecCol).as("__va"))
    val b = corpus.select(col(idCol).as("id_b"), col(vecCol).as("__vb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("sim", round(cosine(col("__va"), col("__vb")), 6))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Embedding-cosine near-duplicate pairs via SRP-LSH — the 100 TB
    * path: bucket each vector into `tables` hash tables (projection,
    * zero shuffle), self-join within (table, bucket) with a `maxBucket`
    * cap against degenerate buckets, exact-cosine verify, dedup on
    * (id_a, id_b, sim) so the exchange never carries vectors. Recall
    * rises with `tables` and falls with `planes`; precision is exact
    * (cosine is re-computed). Best for thresholds >= ~0.8 where SRP
    * collision probability is high. */
  def cosineNearDup(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, dim: Int, planes: Int = 8, tables: Int = 8,
      maxBucket: Int = 2000): DataFrame = {
    val banded = bucketed(corpus.select(col(idCol), col(vecCol)),
      vecCol, dim, planes, tables)
    // 2..maxBucket: singleton buckets can never pair under id_a < id_b,
    // so they are pruned before both sides of the self-join shuffle
    val capped = banded.withColumn("__n", count(lit(1)).over(
        Window.partitionBy(col("tbl"), col("bucket"))))
      .filter(col("__n").between(2, maxBucket)).drop("__n")
    val l = capped.select(col("tbl"), col("bucket"),
      col(idCol).as("id_a"), col(vecCol).as("__va"))
    val r = capped.select(col("tbl"), col("bucket"),
      col(idCol).as("id_b"), col(vecCol).as("__vb"))
    l.join(r, Seq("tbl", "bucket")).filter(col("id_a") < col("id_b"))
      .withColumn("sim", round(cosine(col("__va"), col("__vb")), 6))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
      .distinct()
  }

  /** Corpus-side EMBEDDING near-dup index — the vector twin of
    * [[TextDedup.nearDupIndex]]: (tbl, bucket, corpus_vec) rows,
    * `tables` per vector, SRP-bucketed. What a growing corpus persists
    * instead of re-scanning embeddings: fixed `tables x (bucket key +
    * dim floats)` per row. Degenerate buckets capped at `maxBucket`
    * (the [[cosineNearDup]] guard; documented recall trade).
    *
    * SIZE `planes` TO THE CORPUS: a table has 2^planes buckets, so
    * expected occupancy is N/2^planes — keep it well under `maxBucket`
    * or saturated buckets get capped away (recall collapse) and the
    * cap's window shuffle carries the whole banded corpus (measured:
    * planes=6 at a 500k-vector corpus turns the second scale decade
    * super-linear, 27.9x; planes=12 restores 6.4x — BENCH_NOTES round
    * 9). The TEXT twin has no such knob because MinHash band keys are
    * effectively unbounded-cardinality; SRP bucket cardinality is a
    * chosen parameter. */
  def embedNearDupIndex(corpus: DataFrame, vecCol: String, dim: Int,
      planes: Int = 8, tables: Int = 8, maxBucket: Int = 2000): DataFrame =
    bucketed(corpus.select(col(vecCol)), vecCol, dim, planes, tables)
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy(col("tbl"), col("bucket"))))
      .filter(col("__n") <= maxBucket).drop("__n")
      .select(col("tbl"), col("bucket"), col(vecCol).as("corpus_vec"))

  /** Incremental EMBEDDING near-dup — [[TextDedup.incrementalNearDup]]
    * for vectors: a new batch is (1) dropped wherever any of its SRP
    * buckets collides with the corpus index AND the EXACT cosine clears
    * `threshold` (verification is exact here, not estimated — the
    * vectors are right there), then (2) near-deduplicated within
    * itself: a row drops when any smaller-`idCol` corpus-surviving
    * batch row is its near-dup, so a transitive cluster collapses to
    * its smallest id.
    *
    * Scale shape: O(batch x tables) bucket rows join the index on
    * (tbl, bucket) — the corpus is never re-scanned; the cosine verify
    * runs only on colliding rows, map-side after the join. Returns
    * surviving batch rows, ready to append to corpus and index. */
  def incrementalEmbedNearDup(batch: DataFrame, idCol: String,
      vecCol: String, index: DataFrame, threshold: Double, dim: Int,
      planes: Int = 8, tables: Int = 8, maxBucket: Int = 2000): DataFrame = {
    val banded = bucketed(batch.select(col(idCol), col(vecCol)),
      vecCol, dim, planes, tables)
    val dupVsCorpus = banded.join(index, Seq("tbl", "bucket"))
      .filter(round(cosine(col(vecCol), col("corpus_vec")), 6) >= threshold)
      .select(col(idCol)).distinct()
    val surv = banded.join(dupVsCorpus, Seq(idCol), "left_anti")
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy(col("tbl"), col("bucket"))))
      .filter(col("__n").between(2, maxBucket)).drop("__n")
    val droppedInBatch = surv
      .select(col("tbl"), col("bucket"), col(idCol).as("id_a"),
        col(vecCol).as("__va"))
      .join(surv.select(col("tbl").as("t2"), col("bucket").as("b2"),
        col(idCol).as("id_b"), col(vecCol).as("__vb")),
        col("tbl") === col("t2") && col("bucket") === col("b2") &&
          col("id_a") < col("id_b"))
      .filter(round(cosine(col("__va"), col("__vb")), 6) >= threshold)
      .select(col("id_b").as(idCol)).distinct()
    batch.join(dupVsCorpus, Seq(idCol), "left_anti")
      .join(droppedInBatch, Seq(idCol), "left_anti")
  }

  /** SemDeDup (Abbas et al. 2023, public): semantic near-duplicate
    * removal by clustering embeddings with the coarse k-means quantizer
    * and deduplicating WITHIN each cluster — pairwise cosine is only
    * computed cell-locally, so the quadratic term is bounded by the cell
    * size, not the corpus (the paper's reason the method scales to
    * billions of examples). Members of each within-cell near-dup
    * component (cos >= eps) collapse to ONE survivor: the member LEAST
    * similar to its cluster centroid (the paper's keep-rule — retain the
    * least prototypical example), ties broken by id.
    *
    * Scale shape: cell assignment and centroid-similarity are pure
    * projections over one scan (the centroid table rides inside the
    * expressions); the pair join shuffles on `__cell` with oversize
    * cells (> maxCell) exempted from pair generation — their members are
    * all retained, the same bounded-skew treatment as the LSH bucket
    * cap. Component resolution reuses [[ConnectedComponents]].
    *
    * Returns (idCol, cell, group_id) for the KEPT documents.
    */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String,
      eps: Double, dim: Int, nlist: Int = 16, iters: Int = 3,
      maxCell: Int = 5000): DataFrame = {
    val cs = trainKMeans(corpus, idCol, vecCol, dim, nlist, iters)
    val csLit = typedlit(cs.toSeq.map(_.toSeq))
    val cells = corpus.select(col(idCol), col(vecCol),
        nearestCentroid(col(vecCol), cs).as("__cell"))
      .withColumn("__csim",
        cosine(col(vecCol), element_at(csLit, col("__cell") + 1)))
    val capped = cells.withColumn("__n",
        count(lit(1)).over(Window.partitionBy(col("__cell"))))
      .filter(col("__n") <= maxCell).drop("__n")
    val l = capped.select(col("__cell"), col(idCol).as("id_a"),
      col(vecCol).as("__va"))
    val r = capped.select(col("__cell"), col(idCol).as("id_b"),
      col(vecCol).as("__vb"))
    val pairs = l.join(r, Seq("__cell")).filter(col("id_a") < col("id_b"))
      .withColumn("sim", round(cosine(col("__va"), col("__vb")), 6))
      .filter(col("sim") >= eps)
      .select(col("id_a"), col("id_b"))
    val comps = ConnectedComponents.withSingletons(
        corpus.select(col(idCol)), idCol, pairs, "id_a", "id_b")
      .withColumnRenamed("id", idCol)
    val w = Window.partitionBy(col("comp"))
      .orderBy(col("__csim").asc, col(idCol))
    cells.join(comps, Seq(idCol))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("__cell").as("cell"),
        col("comp").as("group_id"))
  }

  /** Explode a vector table into (row, tableIdx, bucket) across `tables`
    * independent hash tables (distinct hyperplanes per table). */
  private def bucketed(df: DataFrame, vecCol: String, dim: Int,
      planes: Int, tables: Int): DataFrame =
    df.select(col("*"),
      posexplode(array((0 until tables).map(t =>
        srpBucket(col(vecCol), dim, planes, t)): _*))
        .as(Seq("tbl", "bucket")))

  /** ANN via SRP-LSH: candidates = same bucket in any hash table, then
    * exact cosine re-rank within candidates. Recall grows with `tables`;
    * cost stays linear in corpus size (no cross join). */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qidCol: String, qvecCol: String,
      k: Int, dim: Int, planes: Int = 10, tables: Int = 6): DataFrame = {
    val c = bucketed(corpus.select(col(idCol), col(vecCol)),
      vecCol, dim, planes, tables)
    val q = bucketed(queries.select(col(qidCol), col(qvecCol)),
      qvecCol, dim, planes, tables)
      .withColumnRenamed("tbl", "qtbl").withColumnRenamed("bucket", "qbucket")
    // Score BEFORE deduplicating: cosine is deterministic, so a pair hit
    // in several hash tables yields identical (id, qid, sim) rows and the
    // distinct's exchange carries 2 ids + a double — never the vector
    // payloads (at 100 TB the embedding columns dominate the pair count).
    val cands = c.join(broadcast(q),
        col("tbl") === col("qtbl") && col("bucket") === col("qbucket") &&
          col(idCol) =!= col(qidCol))
      .withColumn("sim", cosine(col(vecCol), col(qvecCol)))
      .select(col(qidCol), col(idCol), col("sim"))
      .distinct()
    val w = Window.partitionBy(col(qidCol))
      .orderBy(col("sim").desc, col(idCol))
    cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qidCol), col(idCol), round(col("sim"), 6).as("sim"),
        col("rank"))
  }

  // ---- Product quantization (Jégou et al. 2011, public) ----
  //
  // The memory half of the FAISS scale recipe (IVF above is the compute
  // half): split each vector into m subvectors, k-means each subspace to
  // `k` centroids, and store only the m centroid codes — m bytes instead
  // of dim·4 (32× at dim 64, m 8). Search is asymmetric distance
  // computation (ADC): per query, precompute an m×k table of
  // subvector·centroid inner products ONCE, then score every corpus code
  // with m table lookups instead of dim multiplies. At 100 TB the corpus
  // is scanned as codes (a projection at encode time — never shuffled,
  // 32× less I/O) and the query side is a broadcast carrying its tables.

  /** Train PQ codebooks: ONE bounded sample scan, then m driver-local
    * Lloyd runs on the L2-normalized subvector slices (codebooks live in
    * normalized space so the ADC inner product approximates cosine).
    * Returns [m][k][dim/m] floats — tiny driver-side model state, like
    * the IVF centroids. */
  def trainPq(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, k: Int, iters: Int = 5): Array[Array[Array[Float]]] = {
    require(dim % m == 0, s"dim $dim must be divisible by m $m")
    val ds = dim / m
    val train = sampleVectors(corpus, idCol, vecCol, k * 256).map(unitize)
    Array.tabulate(m) { j =>
      lloyd(train.map(v => v.slice(j * ds, (j + 1) * ds)), ds, k, iters)
    }
  }

  /** PQ codes for a vector column: array<int> of length m, code j =
    * nearest subspace centroid of the normalized subvector — a native
    * one-pass expression ([[graft.functions.PqCodes]]). Encoding a
    * 100 TB corpus is one scan, zero shuffle, output 32× smaller. */
  def pqEncode(vec: Column, codebooks: Array[Array[Array[Float]]]): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.PqCodes(
      ColumnBridge.expression(vec),
      codebooks.toSeq.map(_.toSeq.map(_.toSeq))))
  }

  /** ADC query tables: [m][k] inner products of the normalized query's
    * subvectors with every centroid — a native expression evaluated once
    * per QUERY row, broadcast with the query. */
  def adcTables(qvec: Column,
      codebooks: Array[Array[Array[Float]]]): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.AdcTables(
      ColumnBridge.expression(qvec),
      codebooks.toSeq.map(_.toSeq.map(_.toSeq))))
  }

  /** ANN via PQ codes + ADC, with exact re-rank of the top candidates.
    *
    * Phase 1 scores every (corpus code, query) pair with m table
    * lookups (native [[graft.functions.AdcScore]], codegen'd) —
    * `refine·k` survivors per query via WindowGroupLimit partial top-k,
    * the exchange carrying only (qid, id, score). Phase 2 re-ranks the
    * tiny survivor set exactly (vectors re-attached by id join; cosine
    * normalizes internally, so raw vectors are fine). */
  def pqTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qidCol: String, qvecCol: String,
      k: Int, dim: Int, m: Int = 8, codebookSize: Int = 16,
      refine: Int = 4, iters: Int = 5): DataFrame = {
    val cbs = trainPq(corpus, idCol, vecCol, dim, m, codebookSize, iters)
    val codes = corpus.select(col(idCol),
      pqEncode(col(vecCol), cbs).as("__codes"))
    val qt = queries.select(col(qidCol), col(qvecCol),
      adcTables(col(qvecCol), cbs).as("__qt"))
    val approx = codes.crossJoin(broadcast(qt.select(col(qidCol), col("__qt"))))
      .filter(col(idCol) =!= col(qidCol))
      .withColumn("__adc", adcScore(col("__codes"), col("__qt")))
    val wa = Window.partitionBy(col(qidCol))
      .orderBy(col("__adc").desc, col(idCol))
    val cands = approx.withColumn("__r", row_number().over(wa))
      .filter(col("__r") <= k * refine)
      .select(col(qidCol), col(idCol))
    exactRerank(cands, corpus, queries, idCol, vecCol, qidCol, qvecCol, k)
  }

  /** SQ8 int8 encoding of a vector column: struct(scale, bytes) — 4×
    * smaller storage/scan than float32 with ~0.4% per-component error
    * (FAISS flat-SQ8 shape, public). Pure projection. */
  def sq8Encode(vec: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.Sq8Encode(
      ColumnBridge.expression(vec)))
  }

  /** Inner product of two SQ8-encoded vectors (integer multiply-adds,
    * one final float scale). */
  def sq8Dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.Sq8Dot(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Brute-force top-k over the SQ8-COMPRESSED corpus: same plan shape
    * as [[bruteForceTopK]] (broadcast queries, partial top-k, no corpus
    * shuffle) but the corpus is scanned as int8 codes — 4× less I/O,
    * integer dot products — then the survivors re-rank exactly. The
    * flat compressed index: no cells, no recall cliff, just cheaper
    * scans; vectors are L2-normalized into the codes so the quantized
    * IP approximates cosine. */
  def sq8TopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qidCol: String, qvecCol: String,
      k: Int, refine: Int = 3): DataFrame = {
    // the __n norm column keeps the aggregate out of the transform
    // lambda (projection collapse would otherwise re-evaluate it per
    // element — see the PqCodes scaladoc)
    val codes = corpus
      .withColumn("__n", norm(col(vecCol)))
      .withColumn("__u", transform(col(vecCol),
        x => (x.cast("double") / col("__n")).cast("float")))
      .select(col(idCol), sq8Encode(col("__u")).as("__sq"))
    val q = queries
      .withColumn("__n", norm(col(qvecCol)))
      .withColumn("__u", transform(col(qvecCol),
        x => (x.cast("double") / col("__n")).cast("float")))
      .select(col(qidCol), sq8Encode(col("__u")).as("__qsq"))
    val scored = codes.crossJoin(broadcast(q))
      .filter(col(idCol) =!= col(qidCol))
      .withColumn("__s", sq8Dot(col("__sq"), col("__qsq")))
    val wa = Window.partitionBy(col(qidCol))
      .orderBy(col("__s").desc, col(idCol))
    val cands = scored.withColumn("__r", row_number().over(wa))
      .filter(col("__r") <= k * refine)
      .select(col(qidCol), col(idCol))
    exactRerank(cands, corpus, queries, idCol, vecCol, qidCol, qvecCol, k)
  }

  /** Exact re-rank: attach vectors to the (qid, id) survivor set and
    * rank by true cosine — the shared phase 2 of every compressed index
    * (PQ / SQ8 / IVFADC). Survivor cardinality is queries·k·refine, so
    * both joins broadcast. */
  private def exactRerank(cands: DataFrame, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, qidCol: String,
      qvecCol: String, k: Int): DataFrame = {
    val rer = cands
      .join(corpus.select(col(idCol), col(vecCol)), Seq(idCol))
      .join(broadcast(queries.select(col(qidCol), col(qvecCol))), Seq(qidCol))
      .withColumn("sim", cosine(col(vecCol), col(qvecCol)))
    val w = Window.partitionBy(col(qidCol))
      .orderBy(col("sim").desc, col(idCol))
    rer.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qidCol), col(idCol), round(col("sim"), 6).as("sim"),
        col("rank"))
  }

  /** ADC approximate inner product: codes ⋅ tables lookup-sum (native
    * codegen expression). */
  def adcScore(codes: Column, tables: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.AdcScore(
      ColumnBridge.expression(codes), ColumnBridge.expression(tables)))
  }

  /** Unitize a float vector driver-side. */
  private def unitize(v: Array[Float]): Array[Float] = {
    var norm2 = 0.0
    v.foreach(x => norm2 += x.toDouble * x.toDouble)
    val inv = if (norm2 > 0) 1.0 / math.sqrt(norm2) else 0.0
    v.map(x => (x * inv).toFloat)
  }

  private def nearestCellOf(v: Array[Float],
      coarse: Array[Array[Float]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < coarse.length) {
      val cv = coarse(c)
      var d = 0.0
      var i = 0
      while (i < math.min(v.length, cv.length)) {
        val diff = v(i).toDouble - cv(i)
        d += diff * diff
        i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Coarse quantizer trained in the UNIT (L2-normalized) space — what
    * cosine-metric IVF needs; same bounded-sample shape as
    * [[trainKMeans]]. */
  def trainKMeansUnit(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, nlist: Int, iters: Int): Array[Array[Float]] =
    lloyd(sampleVectors(corpus, idCol, vecCol, nlist * 256).map(unitize),
      dim, nlist, iters)

  /** PQ codebooks trained on per-cell RESIDUALS (normalized vector −
    * assigned coarse centroid) — the IVFADC training step. One bounded
    * sample scan; assignment and Lloyd's run driver-local. */
  def trainPqResidual(corpus: DataFrame, idCol: String, vecCol: String,
      coarse: Array[Array[Float]], dim: Int, m: Int, k: Int,
      iters: Int = 5): Array[Array[Array[Float]]] = {
    require(dim % m == 0, s"dim $dim must be divisible by m $m")
    val ds = dim / m
    val residuals = sampleVectors(corpus, idCol, vecCol, k * 256)
      .map(unitize).map { v =>
        val cv = coarse(nearestCellOf(v, coarse))
        Array.tabulate(dim)(i =>
          ((if (i < v.length) v(i) else 0f) - cv(i)))
      }
    Array.tabulate(m) { j =>
      lloyd(residuals.map(_.slice(j * ds, (j + 1) * ds)), ds, k, iters)
    }
  }

  /** IVF-PQ (IVFADC, Jégou et al. 2011 §A): the two halves of the FAISS
    * billion-scale recipe composed — the coarse quantizer restricts each
    * query to `nprobe` cells (compute), PQ codes of the per-cell
    * RESIDUAL stand in for the vectors (memory/IO; residuals are tight
    * around zero, so the codebook budget quantizes them with far less
    * error than raw vectors), ADC scores the candidates as
    * IP(q̂, centroid) + IP(q̂, residual-codes), and the exact re-rank
    * fixes precision at the end.
    *
    * Scale shape: index = ONE corpus scan projecting (id, cell, codes) —
    * at 100 TB that is the stored index, 32× smaller than the vectors
    * and partitionable by cell; search joins it to the broadcast probe
    * list on the cell id, so per query only nprobe/nlist of the corpus
    * is touched, at m lookups + one add per candidate. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qidCol: String, qvecCol: String,
      k: Int, dim: Int, nlist: Int = 16, nprobe: Int = 4,
      m: Int = 16, codebookSize: Int = 32, refine: Int = 8,
      iters: Int = 3): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val coarse = trainKMeansUnit(corpus, idCol, vecCol, dim, nlist, iters)
    val cbs = trainPqResidual(corpus, idCol, vecCol, coarse, dim, m,
      codebookSize, iters)
    // index entry: (cell, residual codes) in one native pass
    val entry = ColumnBridge.column(graft.functions.PqCodesResidual(
      ColumnBridge.expression(col(vecCol)),
      coarse.toSeq.map(_.toSeq), cbs.toSeq.map(_.toSeq.map(_.toSeq))))
    val indexed = corpus.select(col(idCol), entry.as("__e"))
      .select(col(idCol), col("__e.cell").as("__cell"),
        col("__e.codes").as("__codes"))
    // query side (tiny): normalize once as a column, probe cells in unit
    // space, carry the per-cell additive term IP(q̂, centroid) plus the
    // ADC tables (AdcTables normalizes q̂ internally)
    val coarseLit = typedlit(coarse.toSeq.map(_.toSeq))
    // zero-norm guard (mirrors driver-side unitize): without it a
    // zero query vector turns __qhat into NaN, and NaN ADC scores sort
    // LARGEST under desc — arbitrary candidates instead of none
    val qunit = queries
      .withColumn("__qn", greatest(norm(col(qvecCol)), lit(1e-12f)))
      .withColumn("__qhat", transform(col(qvecCol),
        x => (x.cast("double") / col("__qn")).cast("float")))
    val probes = qunit.select(col(qidCol),
        explode(nearestCells(col("__qhat"), coarse, nprobe)).as("__cell"),
        adcTables(col(qvecCol), cbs).as("__qt"), col("__qhat"))
      .withColumn("__ipqc",
        dot(col("__qhat"), element_at(coarseLit, col("__cell") + 1)))
      .select(col(qidCol), col("__cell"), col("__qt"), col("__ipqc"))
    val cands = indexed.join(broadcast(probes), Seq("__cell"))
      .filter(col(idCol) =!= col(qidCol))
      .withColumn("__adc", col("__ipqc") +
        adcScore(col("__codes"), col("__qt")))
    val wa = Window.partitionBy(col(qidCol))
      .orderBy(col("__adc").desc, col(idCol))
    val top = cands.withColumn("__r", row_number().over(wa))
      .filter(col("__r") <= k * refine)
      .select(col(qidCol), col(idCol))
    exactRerank(top, corpus, queries, idCol, vecCol, qidCol, qvecCol, k)
  }

  // ---- distributed PCA (embedding whitening / dim-reduction) ----

  /** Sufficient statistics for PCA: count, per-dim sum, raw second
    * moment Σ v·vᵀ (row-major d×d). */
  case class Moments(n: Long, s: Array[Double], m: Array[Double])

  /** One-pass moment accumulation: each partition reduces locally into
    * a dense (1 + d + d²)-double buffer (map-side combine); merges are
    * elementwise adds. The corpus is scanned once and never shuffled —
    * the only traffic is one buffer per partition, the exact
    * treeAggregate shape a 100-TB PCA fit needs. */
  private class MomentAgg(dim: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        Array[Float], Moments, Moments] {
    override def zero: Moments =
      Moments(0L, new Array[Double](dim), new Array[Double](dim * dim))
    override def reduce(b: Moments, v: Array[Float]): Moments = {
      var i = 0
      while (i < dim) {
        val vi = v(i).toDouble
        b.s(i) += vi
        var j = 0
        while (j < dim) { b.m(i * dim + j) += vi * v(j); j += 1 }
        i += 1
      }
      Moments(b.n + 1, b.s, b.m)
    }
    override def merge(x: Moments, y: Moments): Moments = {
      var i = 0
      while (i < dim) { x.s(i) += y.s(i); i += 1 }
      i = 0
      while (i < dim * dim) { x.m(i) += y.m(i); i += 1 }
      Moments(x.n + y.n, x.s, x.m)
    }
    override def finish(b: Moments): Moments = b
    override def bufferEncoder: org.apache.spark.sql.Encoder[Moments] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Moments]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Moments] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Moments]()
  }

  /** Fitted PCA model — driver-side state (d·k doubles), broadcast into
    * projections as expression literals. `variances(c)` is the Rayleigh
    * quotient vᵀΣv of component c — for a converged component, the
    * variance of the corpus projected onto it. */
  case class PcaModel(mean: Array[Double], components: Array[Array[Double]],
      variances: Array[Double])

  /** Distributed PCA fit (public method: orthogonal/power iteration
    * over the covariance matrix, Golub & Van Loan): one Spark pass
    * collects (n, Σv, Σvvᵀ); the driver forms Σ = M/n − μμᵀ (d², tiny)
    * and extracts the top-k eigenvectors by Gram-Schmidt-stabilized
    * power iteration — deterministic init (e_c + small ridge), fixed
    * iteration count, no RNG. The standard preprocessing for
    * embedding-table compaction / whitening before ANN indexing. */
  def pcaFit(emb: DataFrame, vecCol: String, dim: Int, k: Int,
      iters: Int = 100): PcaModel = {
    val spark = emb.sparkSession
    import spark.implicits._
    val mom = emb.select(col(vecCol)).as[Array[Float]]
      .select(new MomentAgg(dim).toColumn).head()
    require(mom.n > 0, "pcaFit needs a non-empty corpus")
    val n = mom.n.toDouble
    val mean = mom.s.map(_ / n)
    val cov = Array.tabulate(dim, dim)((i, j) =>
      mom.m(i * dim + j) / n - mean(i) * mean(j))
    def matVec(a: Array[Array[Double]], v: Array[Double]): Array[Double] =
      Array.tabulate(dim)(i => {
        var acc = 0.0; var j = 0
        while (j < dim) { acc += a(i)(j) * v(j); j += 1 }
        acc
      })
    def dotv(x: Array[Double], y: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < dim) { acc += x(i) * y(i); i += 1 }
      acc
    }
    val comps = Array.ofDim[Double](k, dim)
    val lambdas = new Array[Double](k)
    // orthogonal iteration: re-project out the earlier components every
    // step (Gram-Schmidt), so orthonormality holds BY CONSTRUCTION even
    // on a near-flat spectrum where pure deflation would need ~1/(1-λ2/λ1)
    // iterations to push the cross terms below tolerance
    def orthogonalize(v: Array[Double], upto: Int): Array[Double] = {
      val out = v.clone()
      for (p <- 0 until upto) {
        val d = dotv(out, comps(p))
        var i = 0
        while (i < dim) { out(i) -= d * comps(p)(i); i += 1 }
      }
      out
    }
    for (c <- 0 until k) {
      var v = Array.tabulate(dim)(i => if (i == c % dim) 1.0 else 1e-4)
      for (_ <- 0 until iters) {
        val av = orthogonalize(matVec(cov, v), c)
        val nm = math.sqrt(dotv(av, av))
        v = if (nm > 1e-300) av.map(_ / nm) else v
      }
      // final Gram-Schmidt + renormalize: orthonormal to machine precision
      val vo = orthogonalize(v, c)
      val nm = math.sqrt(dotv(vo, vo))
      comps(c) = if (nm > 1e-300) vo.map(_ / nm) else vo
      // Rayleigh quotient on the ORIGINAL covariance: exactly the
      // variance of the corpus projected on this component, converged
      // or not — which is what the distributed gate certifies
      lambdas(c) = dotv(comps(c), matVec(cov, comps(c)))
    }
    PcaModel(mean, comps, lambdas)
  }

  /** Projection onto the fitted components: proj_c = (v − μ)·C_c
    * = v·C_c − μ·C_c, with the constant μ·C_c folded on the driver so
    * the row work is k dot products — a pure zero-shuffle projection
    * (the model rides along as expression literals) that composes into
    * the single corpus scan. Returns (idCol, proj array<double>). */
  def pcaProject(emb: DataFrame, idCol: String, vecCol: String,
      model: PcaModel): DataFrame = {
    val projs = model.components.map { comp =>
      val mu = model.mean.zip(comp).map { case (m, c) => m * c }.sum
      aggregate(
        zip_with(col(vecCol), typedlit(comp.toSeq),
          (x, w) => x.cast("double") * w),
        lit(0.0), (acc, x) => acc + x) - lit(mu)
    }
    emb.select(col(idCol), array(projs.toSeq: _*).as("proj"))
  }

  // ---- engine-exact quantized PCA (chained-CTE-replayable) ----

  /** Integer sufficient statistics of the QUANTIZED corpus: count,
    * per-dim sums, raw second moment Σ v·vᵀ — all exact longs, so the
    * distributed aggregation is order-free (unlike the double-path
    * [[Moments]], whose partition-merge order perturbs low bits). Long
    * overflow bound: Σ x_i·x_j ≤ n·(dim·scale)² stays under 2^63 to
    * ~10^12 rows at scale=1024 — past any single corpus. */
  case class IntMoments(n: Long, s: Array[Long], m: Array[Long])

  private[operators] class IntMomentAgg(dim: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        Array[Long], IntMoments, IntMoments] {
    override def zero: IntMoments =
      IntMoments(0L, new Array[Long](dim), new Array[Long](dim * dim))
    override def reduce(b: IntMoments, v: Array[Long]): IntMoments = {
      var i = 0
      while (i < dim) {
        val vi = v(i)
        b.s(i) += vi
        var j = 0
        while (j < dim) { b.m(i * dim + j) += vi * v(j); j += 1 }
        i += 1
      }
      IntMoments(b.n + 1, b.s, b.m)
    }
    override def merge(x: IntMoments, y: IntMoments): IntMoments = {
      var i = 0
      while (i < dim) { x.s(i) += y.s(i); i += 1 }
      i = 0
      while (i < dim * dim) { x.m(i) += y.m(i); i += 1 }
      IntMoments(x.n + y.n, x.s, x.m)
    }
    override def finish(b: IntMoments): IntMoments = b
    override def bufferEncoder: org.apache.spark.sql.Encoder[IntMoments] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[IntMoments]()
    override def outputEncoder: org.apache.spark.sql.Encoder[IntMoments] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[IntMoments]()
  }

  /** Engine-exact PCA model: components are integer points on a 2^15
    * grid; moments are exact integer sums of the scale-quantized
    * corpus. A pure function of the data — same bits on any engine,
    * any partitioning. */
  case class QPcaModel(n: Long, sums: Array[Long],
      comps: Array[Array[Long]], scale: Int, grid: Long)

  /** Engine-exact distributed PCA fit — the [[pcaFit]] algorithm
    * (orthogonal power iteration, fixed count, deterministic init)
    * restated in the repo's quantized-integer discipline (KMeans-style)
    * so a DuckDB chained-CTE replay reproduces it bit-for-bit:
    *
    *  - ONE corpus pass collects exact integer moments (n, S=Σx_q,
    *    M=Σx_q·x_qᵀ of the `floor(x·scale+0.5)` grid points) — the
    *    same map-side-combined, order-free tree shape as [[pcaFit]];
    *  - the driver iterates on A = n·M − S·Sᵀ (= n² × covariance;
    *    integral, so NO division error) in BigInt: exact matvec, a
    *    truncating down-scale by max|w|/grid, exact-integer
    *    Gram-Schmidt (truncating division — DuckDB `//` semantics),
    *    then the ONLY double step: floor(u/√(Σu²)·grid + 0.5), whose
    *    inputs are integers < 2^53 (exactly representable), so the
    *    IEEE ops land the same bits in every engine.
    *
    * Precision: components live on the 2^-15 grid (‖error‖ ≲ 3·10^-5),
    * plenty for curation/whitening; use [[pcaFit]] when full double
    * precision matters more than cross-engine exactness. */
  def pcaFitExact(emb: DataFrame, vecCol: String, dim: Int, k: Int,
      iters: Int, scale: Int = 1024, grid: Long = 32768L): QPcaModel = {
    val spark = emb.sparkSession
    import spark.implicits._
    val mom = emb.select(KMeans.quantize(col(vecCol), scale).as("vq"))
      .as[Array[Long]].select(new IntMomentAgg(dim).toColumn).head()
    require(mom.n > 0, "pcaFitExact needs a non-empty corpus")
    val a = Array.tabulate(dim, dim)((i, j) =>
      BigInt(mom.n) * mom.m(i * dim + j) - BigInt(mom.s(i)) * mom.s(j))
    val comps = Array.ofDim[Array[Long]](k)
    for (c <- 0 until k) {
      var v: Array[Long] =
        Array.tabulate(dim)(i => if (i == c % dim) grid else 1L)
      for (_ <- 1 to iters) {
        val w = Array.tabulate(dim) { i =>
          var acc = BigInt(0); var j = 0
          while (j < dim) { acc += a(i)(j) * v(j); j += 1 }
          acc
        }
        // truncating down-scale to ~grid magnitude (BigInt `/` and
        // DuckDB `//` both truncate toward zero)
        val dv = (w.map(_.abs).max / grid).max(BigInt(1))
        var u = w.map(_ / dv)
        for (p <- 0 until c) { // exact-integer Gram-Schmidt
          val cp = comps(p)
          val np2 = cp.map(x => BigInt(x) * x).sum
          var d = BigInt(0); var i = 0
          while (i < dim) { d += u(i) * cp(i); i += 1 }
          u = Array.tabulate(dim)(i => u(i) - (d * cp(i)) / np2)
        }
        val n2 = u.map(x => x * x).sum
        if (n2 > 0) {
          val nrm = math.sqrt(n2.toDouble)
          v = u.map(x => math.floor(x.toDouble / nrm * grid + 0.5).toLong)
        }
      }
      comps(c) = v
    }
    QPcaModel(mom.n, mom.s, comps, scale, grid)
  }

  /** Zero-shuffle exact projection under a [[QPcaModel]]: per row the
    * exact integer p_c = n·⟨x_q, C_c⟩ − ⟨S, C_c⟩ (row dot in long,
    * n-multiply in DECIMAL(38,0) so no 2^63 hazard at corpus scale),
    * emitted as the physical projection p_c / (n·scale·grid) — one
    * deterministic integer→double cast and one division, identical in
    * a DuckDB replay. Columns: idCol, pc1..pck. */
  def pcaProjectExact(emb: DataFrame, idCol: String, vecCol: String,
      model: QPcaModel): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val vq = KMeans.quantize(col(vecCol), model.scale)
    // n·scale·grid in double via the same op order as the SQL replay:
    // exact at every step (n < 2^53; scale and grid are powers of two)
    val denom = model.n.toDouble * model.scale * model.grid
    val projs = model.comps.zipWithIndex.map { case (comp, c) =>
      val rowDot = aggregate(
        zip_with(vq, typedlit(comp.toSeq), (x, w) => x * w),
        lit(0L), (acc, x) => acc + x)
      val sDot = model.sums.zip(comp).map { case (s, w) => BigInt(s) * w }.sum
      ((rowDot.cast(DecimalType(38, 0)) *
          lit(model.n).cast(DecimalType(38, 0)) -
          lit(new java.math.BigDecimal(sDot.bigInteger)))
        .cast("double") / lit(denom)).as(s"pc${c + 1}")
    }
    emb.select((col(idCol) +: projs.toSeq): _*)
  }
}
