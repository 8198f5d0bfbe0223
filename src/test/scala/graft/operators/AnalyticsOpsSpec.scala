package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.util.Random

/** Round-4 analytics operators: Count-Min sketch, triangle counting,
  * exact prefix-filter set-similarity join. */
class AnalyticsOpsSpec extends SparkSpec {

  import spark.implicits._

  test("count-min estimate is >= exact count and exact when collision-free") {
    // 50 distinct keys in a 4x1024 sketch: P(any collision in all 4
    // rows simultaneously inflating a key) is tiny but nonzero per-row;
    // the MIN rule only errs if a key collides in EVERY row. With 50
    // keys / 1024 buckets the expected all-4-rows collision count is
    // ~(50/1024)^4 * 50 ≈ 3e-4 — deterministic hashes make the check
    // stable for this fixed key set.
    val rows = (1 to 50).flatMap(k => Seq.fill(k)(k.toLong))
    val df = Random.shuffle(rows).toDF("k")
    val sk = df.agg(CountMin.sketch(col("k"), 4, 1024).as("sk"))
    val est = df.distinct()
      .crossJoin(broadcast(sk))
      .select(col("k"), CountMin.estimate(col("sk"), col("k"), 4, 1024).as("est"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1 to 50).foreach { k =>
      assert(est(k.toLong) >= k.toLong, s"CM underestimated key $k")
      assert(est(k.toLong) == k.toLong, s"unexpected collision for key $k")
    }
  }

  test("count-min merge across partitions equals single-partition build") {
    val rows = (1 to 30).flatMap(k => Seq.fill(k)(k.toLong))
    val many = Random.shuffle(rows).toDF("k").repartition(7)
    val one = rows.toDF("k").coalesce(1)
    val a = many.agg(CountMin.sketch(col("k"), 4, 256)).head.getSeq[Long](0)
    val b = one.agg(CountMin.sketch(col("k"), 4, 256)).head.getSeq[Long](0)
    assert(a == b, "sketch must be order/partitioning-independent")
  }

  test("triangle count matches brute force on a random graph") {
    val rnd = new Random(7)
    val n = 40
    val edges = (for {
      u <- 0 until n; v <- (u + 1) until n if rnd.nextDouble() < 0.15
    } yield (u.toLong, v.toLong)).toSeq
    // brute force over node triples
    val adj = edges.toSet
    def has(a: Long, b: Long) = adj.contains((a min b, a max b))
    val brute = (for {
      x <- 0L until n.toLong; y <- (x + 1) until n.toLong; z <- (y + 1) until n.toLong
      if has(x, y) && has(y, z) && has(x, z)
    } yield 1).size.toLong
    // feed edges in scrambled orientation + duplicates + a self-loop
    val noisy = edges.map { case (u, v) => if (rnd.nextBoolean()) (v, u) else (u, v) } ++
      edges.take(5) ++ Seq((3L, 3L))
    val got = TriangleCount.run(noisy.toDF("u", "v"), "u", "v")
      .select(col("n_triangles")).head.getLong(0)
    assert(got == brute, s"degree-ordered count $got != brute $brute")
  }

  test("prefix-filter jaccard join equals all-pairs verification") {
    val rnd = new Random(11)
    val vocab = ('a' to 'z').map(_.toString)
    // 60 docs, some near-identical clones of earlier ones
    val base = (0 until 60).map { i =>
      val toks = Seq.fill(8 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).distinct
      (i.toLong, toks)
    }
    val docs = base ++ base.take(6).map { case (id, toks) =>
      (id + 100, if (toks.size > 1) toks.drop(1) else toks) // J >= ~0.8 clones
    }
    val df = docs.toDF("id", "toks")
    val tau = 0.6
    val got = SetSimJoin.jaccardJoin(df, "id", "toks", tau)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // all-pairs ground truth
    val sets = docs.map { case (id, ts) => id -> ts.toSet }.toMap
    val want = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = (sets(a) & sets(b)).size
      j = inter.toDouble / (sets(a).size + sets(b).size - inter)
      if j >= tau
    } yield (a, b) -> j).toMap
    assert(got.keySet == want.keySet,
      s"missing=${want.keySet -- got.keySet} extra=${got.keySet -- want.keySet}")
    want.foreach { case (k, j) => assert(math.abs(got(k) - j) < 1e-12) }
  }

  test("jaccardJoinTokens construction + explain run no Spark job by default") {
    val tok = Seq((1L, "aa"), (1L, "bb"), (2L, "aa"), (2L, "bb"))
      .toDF("id", "token")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val joined = SetSimJoin.jaccardJoinTokens(tok, "id", "token", 0.5)
      joined.queryExecution.executedPlan // force full planning, as EXPLAIN does
      Thread.sleep(500) // grace for any stray async job-start event
      assert(jobs.get() == 0,
        s"construction must stay lazy, saw ${jobs.get()} jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
