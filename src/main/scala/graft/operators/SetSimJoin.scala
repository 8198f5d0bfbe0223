package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** EXACT set-similarity self-join (all pairs with Jaccard >= tau) with
  * AllPairs prefix filtering — Bayardo, Ma & Srikant 2007 ("Scaling up
  * all pairs similarity search"); the filter inside PPJoin
  * (Xiao et al. 2008). This is the exact counterpart to the
  * MinHash-LSH candidate path in [[TextDedup]]: LSH trades recall for
  * speed; prefix filtering keeps EXACT results while still avoiding the
  * all-pairs O(N^2) join.
  *
  * Principle: order all tokens by one global total order (ascending
  * document frequency, ties by token — rarest first, so prefixes land
  * in the emptiest buckets). If J(A,B) >= tau then
  * |A∩B| >= ceil(tau*|A|): the first common token in that order sits
  * within the first |A| - ceil(tau*|A|) + 1 tokens of A (at most
  * |A| - |A∩B| non-common tokens precede it), and symmetrically for B —
  * so joining only the PREFIXES of that length on token finds every
  * qualifying pair. Candidates are then verified with an exact
  * intersection count.
  *
  * Scale shape: token explode -> two lightweight aggregations (doc
  * frequency, set size) -> per-doc window rank -> self-join on PREFIX
  * tokens only (the frequent tokens that make the naive token self-join
  * quadratic are exactly the ones prefixes exclude) -> verification
  * join proportional to candidates, not pairs. Every stage is a plain
  * shuffle on token or doc id; no driver state. Skew note: a token
  * shared by k prefixes yields k^2/2 candidate rows; at web scale cap
  * bucket sizes like TextDedup.maxBucket or raise tau.
  */
object SetSimJoin {

  /** All unordered pairs of `docs` ids whose token sets have
    * Jaccard >= tau. `tokensCol` is an array column (dedup'd
    * internally). Returns (id_a, id_b, inter, union_n, jaccard),
    * id_a < id_b. */
  def jaccardJoin(docs: DataFrame, idCol: String, tokensCol: String, tau: Double): DataFrame =
    jaccardJoinTokens(
      docs.select(col(idCol).as("id"), explode(col(tokensCol)).as("token")),
      "id", "token", tau)

  /** Same join over PRE-EXPLODED (id, token) rows — the fast path when
    * tokens come from a generator (e.g. graft.functions.NGrams): one
    * native pass per row instead of building a per-doc array with
    * interpreted higher-order functions, whose lambda-inlined
    * expression trees re-evaluate the tokenizer per element.
    * Null-id rows are dropped at the source (they can never pair);
    * consequently they do not contribute to document frequencies —
    * which only steers the prefix ordering heuristic, never the exact
    * result set (verification recounts every intersection). */
  def jaccardJoinTokens(tok0: DataFrame, idCol: String, tokenCol: String,
      tau: Double, maxBucket: Int = 10000): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0,1], got $tau")
    require(maxBucket > 1, s"maxBucket must be > 1, got $maxBucket")
    // No explicit persist on the shared tables (measured, r14): the
    // multiply-consumed subtrees below (tok, tokI, docToks) all end in
    // an exchange, and AQE's runtime stage reuse already computes each
    // identical exchange once per run — an added MEMORY_AND_DISK
    // persist only paid the columnar-cache conversion (isolated A/B:
    // neutral-to-slower, medians 4.75 s vs 4.28 s) while at 100 TB it
    // would cache a corpus-sized token table for no avoided pass.
    //
    // The null-id drop lives HERE, not on the prefix window (r15): a
    // null id can never reach the output (every downstream path inner-
    // joins or groups on id), but a filter applied only on ONE consumer
    // is pushed to that consumer's copy of the scan and breaks the
    // canonical equality AQE's stage reuse keys on — the r14 plan ran
    // the tokenize+distinct map stage TWICE (one copy with the pushed
    // isnotnull, one without; profile jobs 79/80, ~0.5 s each at
    // sf0.1). Filtering at the source gives every copy the same pushed
    // filter, so the token exchange materializes once per run.
    val tok = tok0
      .select(col(idCol).as("id"), col(tokenCol).as("token"))
      .filter(col("id").isNotNull)
      .distinct()
    val dfreq = tok.groupBy(col("token")).agg(count(lit(1)).as("df"))
    // factorize tokens to dense int ids ordered by (string): bijective,
    // so every downstream set op is EXACT, while candidate buckets and
    // verification arrays carry 4-byte ints instead of shingle strings.
    // Ordering by (df, tid) == (df, token) because tid is
    // token-ascending, so the prefix order is unchanged.
    //
    // One global row_number window: the vocabulary sort runs on a
    // single task and construction stays lazy (EXPLAIN/audit flows run
    // no job). Measured against a per-bucket distributed rank with
    // broadcast bucket offsets (two more shuffles): at sf0.1's
    // 27k-shingle vocabulary the single-task sort wins end to end
    // (q_set_simjoin medians 4.4 s vs 5.2 s).
    val vocab = dfreq.withColumn("tid",
      row_number().over(Window.orderBy(col("token"))))
    val tokI = tok.join(vocab, "token").select(col("id"), col("tid"), col("df"))
    // set size and prefix rank from ONE pass over the same id-keyed
    // window: count(*) over the partition IS the old `sz` table, so the
    // separate groupBy(id) aggregation and its join are gone — one
    // exchange on id instead of an aggregation exchange plus a
    // sort-merge join. (Null ids are already gone at the source — see
    // the `tok` note — so the window partition never sees them.)
    val wId = Window.partitionBy(col("id"))
    val prefix = tokI
      .withColumn("n", count(lit(1)).over(wId))
      .withColumn("rn",
        row_number().over(wId.orderBy(col("df"), col("tid"))))
      .filter(col("rn") <= col("n") - ceil(lit(tau) * col("n")) + lit(1))
      .select(col("id"), col("tid"))
    // candidate pairs per prefix-token bucket (the TextDedup.minhashLsh
    // shape): ONE aggregation + a bounded pair expansion per bucket —
    // no second computation of the prefix table for a self-join's other
    // side. Bucket sizes are small BY CONSTRUCTION (prefixes exclude
    // frequent tokens); `maxBucket` is the same quadratic-blowup guard
    // as TextDedup.lshCandidates for a corpus that violates that (a
    // capped bucket trades recall for survival, exactly like LSH —
    // leave it above the corpus' max prefix df for exact results).
    val cand = prefix
      .groupBy(col("tid")).agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))),
          y => struct(x.as("id_a"), y.as("id_b")))))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()
    // verification: per-doc SORTED int arrays (broadcast-joined onto the
    // candidates) + one native merge-intersect per pair — not a
    // token-level join (re-shuffles |cand| * avg_set rows), not
    // array_intersect (builds a per-row hash set + result array; ~10x
    // slower than the merge at candidate volume)
    // doc-sized sorted-array table; both verification-join sides read
    // the same aggregate exchange (AQE stage reuse — see note on `tok`)
    val docToks = tokI.groupBy(col("id"))
      .agg(sort_array(collect_list(col("tid"))).as("toks"), count(lit(1)).as("n"))
    val interCnt = ColumnBridge.column(graft.functions.SortedIntersectCount(
      ColumnBridge.expression(col("ta")), ColumnBridge.expression(col("tb"))))
    cand
      .join(docToks.select(col("id").as("id_a"), col("toks").as("ta"), col("n").as("na")), "id_a")
      .join(docToks.select(col("id").as("id_b"), col("toks").as("tb"), col("n").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        interCnt.cast("long").as("inter"),
        col("na"), col("nb"))
      .select(
        col("id_a"), col("id_b"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("union_n"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= tau)
  }
}
