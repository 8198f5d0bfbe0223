package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-selection operators for training-corpus curation: DSIR-style
  * importance resampling and BM25 relevance ranking. Both are public
  * methods (Xie et al. 2023 "Data Selection for Language Models via
  * Importance Resampling"; Robertson & Spärck Jones BM25).
  *
  * Cross-engine float discipline (the oracle compares value bits): every
  * transcendental (ln) result is floor-quantized to an exact binary
  * fraction (k/1024) before entering any sum, so accumulation order
  * cannot perturb the result and a last-ulp difference between libm and
  * java.lang.Math only matters in the ~2^-42 event that the two results
  * straddle a quantization boundary. +, -, *, / are IEEE-exact-rounded
  * identically everywhere and need no treatment.
  */
object Relevance {

  private def words(textCol: Column): Column =
    regexp_extract_all(lower(textCol), lit("\\S+"), lit(0))

  /** floor(x*1024)/1024 — exact binary fraction, engine-portable. */
  private def q1024(c: Column): Column = floor(c * 1024) / lit(1024.0)

  /** DSIR importance scores: per-document log-likelihood ratio of a
    * hashed-unigram model of `target` vs one of the raw corpus — the
    * paper's hashed bag-of-ngrams features (every token hashes into one
    * of `dim` buckets, so every token contributes; no vocabulary cap).
    *
    *   weight(b) = ln((ct(b)+1)/(T+D)) - ln((cr(b)+1)/(R+D))
    *   score(doc) = Σ_{w ∈ doc} weight(bucket(w))
    *
    * The bucket hash is the portable md5 bucket of
    * [[DataSplit.hashBucket]], so the same scores reproduce in any
    * engine. Scale shape: the weight table is exactly `dim` rows
    * (broadcast); bucket counts aggregate with map-side combine bounded
    * by `dim`; scoring is explode → broadcast-join → partially
    * aggregated SUM keyed on the document id — the only shuffle moves
    * (id, partial_sum) pairs, never text.
    */
  def importanceScores(corpus: DataFrame, idCol: String, textCol: String,
      target: DataFrame, targetTextCol: String,
      dim: Int = 1024, seed: String = "dsir_feat"): DataFrame = {
    val bucket = (w: Column) => DataSplit.hashBucket(w, dim, seed)
    val tBuckets = target
      .select(explode(words(col(targetTextCol))).as("word"))
      .groupBy(bucket(col("word")).as("b")).agg(count(lit(1)).as("tcnt"))
    // materialized once: BOTH the raw bucket counts and the scoring join
    // consume cWords, and without a barrier each consumer re-runs the
    // tokenize+hash pass over the full corpus (two corpus passes at any
    // scale — profiled as two single-task 0.4-0.7 s jobs at sf0.1). The
    // checkpoint stores (id, int bucket) pairs only, never text.
    val cWords = corpus.select(col(idCol).as("__id"),
        explode(words(col(textCol))).as("word"))
      .select(col("__id"), bucket(col("word")).as("b"))
      .localCheckpoint(true)
    val raw = cWords.groupBy("b").agg(count(lit(1)).as("rcnt"))
    val base = raw.join(tBuckets, Seq("b"), "full_outer")
      .select(col("b"), coalesce(col("tcnt"), lit(0L)).as("tcnt"),
        coalesce(col("rcnt"), lit(0L)).as("rcnt"))
    val totals = base.agg(sum(col("tcnt")).as("T"), sum(col("rcnt")).as("R"))
    val weights = base.crossJoin(broadcast(totals)).select(col("b"),
      q1024(log((col("tcnt") + 1).cast("double") /
              (col("T") + dim).cast("double")) -
            log((col("rcnt") + 1).cast("double") /
              (col("R") + dim).cast("double"))).as("weight"))
    val scores = cWords.join(broadcast(weights), Seq("b"))
      .groupBy(col("__id")).agg(sum(col("weight")).as("score"))
    corpus.select(col(idCol)).join(
        scores.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .withColumn("score", coalesce(col("score"), lit(0.0)))
  }

  /** DSIR resampling: Gumbel-top-k over the importance scores — the
    * paper's sampling-without-replacement step, made deterministic and
    * engine-portable by deriving the Gumbel noise from the md5 bucket of
    * the document id (g = -ln(-ln(u)), u uniform from the hash). Returns
    * the kept documents with their score and selection key. Top-k is a
    * TakeOrderedAndProject (partial per-partition top-k, no full sort).
    */
  def importanceResample(corpus: DataFrame, idCol: String, textCol: String,
      target: DataFrame, targetTextCol: String, keepN: Int,
      dim: Int = 1024, seed: String = "dsir"): DataFrame = {
    val scored = importanceScores(corpus, idCol, textCol, target,
      targetTextCol, dim)
    val u = (DataSplit.hashBucket(col(idCol), 1 << 20, seed)
      .cast("double") + 0.5) / lit(1048576.0)
    scored
      .withColumn("sel_key", col("score") + q1024(-log(-log(u))))
      .orderBy(col("sel_key").desc, col(idCol))
      .limit(keepN)
  }

  /** CCNet-style LM quality score (Wenzek et al. 2020, public: filter
    * web text by the perplexity of a LM trained on a trusted target
    * corpus — here an add-one-smoothed word-bigram model, the classic
    * KenLM-shaped statistical LM reduced to order 2):
    *
    *   logp(w1 w2) = ln((c(w1,w2)+1)/(c(w1,·)+V))
    *   score(doc)  = Σ logp / #bigrams      (mean log-prob; higher = more
    *                                         target-like; -inf-free by
    *                                         smoothing)
    *
    * Scale shape: the model is two count tables from the (small) target
    * corpus, broadcast; scoring is explode → two broadcast joins → one
    * partially-aggregated SUM/COUNT keyed on the document id. Each logp
    * is floor-quantized to k/1024, so the sum is exact in any order and
    * the single final division is the only inexact op.
    */
  def lmScore(corpus: DataFrame, idCol: String, textCol: String,
      target: DataFrame, targetTextCol: String): DataFrame = {
    def bigrams(textCol: Column): Column = {
      val ws = words(textCol)
      // slice+zip_with (not sequence(1, n-1)): sequence reverses when
      // start > stop, which would fabricate a bigram for 1-word docs
      val n = greatest(size(ws) - 1, lit(0))
      zip_with(slice(ws, lit(1), n), slice(ws, lit(2), n),
        (a, b) => struct(a.as("w1"), b.as("w2")))
    }
    val tBi = target.select(explode(bigrams(col(targetTextCol))).as("bi"))
      .select(col("bi.w1").as("w1"), col("bi.w2").as("w2"))
    val big = tBi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val ctx = tBi.groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = target
      .select(explode(words(col(targetTextCol))).as("word"))
      .agg(countDistinct(col("word")).as("V"))
    val docBi = corpus.select(col(idCol).as("__id"),
        explode(bigrams(col(textCol))).as("bi"))
      .select(col("__id"), col("bi.w1").as("w1"), col("bi.w2").as("w2"))
    val scored = docBi
      .join(broadcast(big), Seq("w1", "w2"), "left")
      .join(broadcast(ctx), Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("logp", q1024(log(
        (coalesce(col("c12"), lit(0L)) + 1).cast("double") /
          (coalesce(col("c1"), lit(0L)) + col("V")).cast("double"))))
      .groupBy(col("__id"))
      .agg(sum(col("logp")).as("sum_lp"), count(lit(1)).as("n_bi"))
      .withColumn("lm_score", col("sum_lp") / col("n_bi"))
    corpus.select(col(idCol)).join(
        scored.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_bi"), lit(0L)).as("n_bigrams"),
        coalesce(col("lm_score"), lit(0.0)).as("lm_score"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009,
    * public): combine multiple rankings of the same id space into one —
    * THE standard way a RAG / retrieval pipeline merges a lexical
    * (BM25) ranking with a semantic (embedding) ranking without score
    * calibration. Each input must carry (idCol, "rank") with rank
    * 1-based; the fused score is Σ_r 1/(k + rank_r) over the rankings
    * that contain the id.
    *
    * Float discipline: each 1/(k+rank) contribution is floor-quantized
    * to a multiple of 2^-20 BEFORE the sum, so the per-id sum of a
    * handful of exact binary fractions is exact and order-independent —
    * any engine reproduces the fused scores bit-for-bit.
    *
    * Scale shape: union of the (already small, top-k'd) rankings → one
    * partial-aggregated SUM keyed by id → TakeOrderedAndProject. The
    * expensive part of hybrid retrieval is the upstream rankers; fusion
    * itself moves only (id, rank) pairs. */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, k: Int = 60,
      topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    val contribs = rankings.map(_.select(col(idCol),
      (floor(lit(1.0) / (lit(k) + col("rank")) * 1048576) / lit(1048576.0))
        .as("__c")))
    contribs.reduce(_ unionAll _)
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("rrf_score"), count(lit(1)).as("n_lists"))
      .orderBy(col("rrf_score").desc, col(idCol))
      .limit(topK)
  }

  /** BM25 ranking of documents against a literal term set (Robertson &
    * Spärck Jones; the k1/b formulation of Robertson et al., TREC-3).
    *
    *   score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *   idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)
    *
    * Scale shape: zero explode, zero per-term shuffle — each term's tf is
    * a pure projection (size(filter(words))), and the corpus statistics
    * (N, Σdl, df per term) are observed by the job that checkpoints the
    * slim (id, dl, tf*) table, so they reach the driver without an
    * aggregate exchange or a broadcast join. The scoring projection then
    * reads the checkpoint once and the top-k is a TakeOrderedAndProject:
    * two jobs total, independent of the number of query terms.
    */
  def bm25TopK(corpus: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], topK: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one term")
    // one native tokenization pass per row (functions.TermStats) instead
    // of n+1 interpreted regexp passes — see the expression's scaladoc;
    // then checkpoint the SLIM (id, dl, tf*) table, measuring the corpus
    // stats in the same job: the scoring projection reads the checkpoint,
    // never the upstream DAG (cleaning/chunking/tokenizing). The
    // checkpoint is numbers-only — no text — so it is O(docs) cells; it
    // backs the lazy result, so it is left to the ContextCleaner.
    val ts = {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      ColumnBridge.column(graft.functions.TermStats(
        ColumnBridge.expression(col(textCol)), terms))
    }
    val (withTf, stats, _) = Checkpoints.trackedMeasured(
      corpus.select(col(idCol).as("__id"), ts.as("__ts"))
        .select((col("__id") +: col("__ts.dl").as("dl") +:
          terms.indices.map(i => col("__ts.tf")(i).as(s"tf$i"))): _*),
      (count(lit(1)) +: sum(col("dl")) +:
        terms.indices.map(i => sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)))): _*)
    // the stats enter the projection as StableScalars: a new corpus
    // changes only the codegen reference objects, not the source, so
    // the scoring stage hits the compile cache. An empty corpus has
    // null sums and no rows to score.
    def stat(i: Int): Column = graft.functions.StableScalar.col(
      if (stats.isNullAt(i)) 0.0 else stats.getAs[Number](i).doubleValue)
    val n = stat(0)
    val avgdl = stat(1) / n
    val score = terms.indices.map { i =>
      val df = stat(2 + i)
      val idf = q1024(log((n - df + 0.5) / (df + 0.5) + 1.0))
      idf * (col(s"tf$i") * (k1 + 1.0) /
        (col(s"tf$i") + lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl") / avgdl))))
    }.reduce(_ + _)
    withTf.select(col("__id").as(idCol), col("dl"), score.as("score"))
      .filter(col("score") > 0.0)
      .orderBy(col("score").desc, col(idCol))
      .limit(topK)
  }
}
