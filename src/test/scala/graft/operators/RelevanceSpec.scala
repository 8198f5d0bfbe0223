package graft.operators

import graft.{JobCount, SparkSpec}
import org.apache.spark.sql.functions._

class RelevanceSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "alpha beta gamma alpha beta"),
    (2L, "delta epsilon zeta delta"),
    (3L, "alpha alpha alpha beta beta"),
    (4L, "omega psi chi phi upsilon"),
    (5L, "")).toDF("id", "text")

  private def target = Seq(
    "alpha beta alpha", "beta alpha gamma").toDF("text")

  test("importanceScores: target-like docs outscore off-target docs; OOV-only scores 0") {
    val scores = Relevance.importanceScores(corpus, "id", "text", target, "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores(1) > scores(2), "alpha/beta doc must outscore delta/epsilon doc")
    assert(scores(3) > scores(2))
    assert(scores(5) == 0.0, "empty doc has no vocab hits")
    // every score is an exact multiple of 1/1024 (quantized weights)
    scores.values.foreach(s => assert(s * 1024 == math.rint(s * 1024)))
  }

  test("importanceResample is deterministic and keeps the requested count") {
    val a = Relevance.importanceResample(corpus, "id", "text", target, "text", keepN = 3)
      .select("id").as[Long].collect().toSeq
    val b = Relevance.importanceResample(corpus, "id", "text", target, "text", keepN = 3)
      .select("id").as[Long].collect().toSeq
    assert(a == b)
    assert(a.size == 3)
  }

  test("bm25: more matching terms rank higher; absent terms contribute nothing") {
    val docs = Seq(
      (1L, "spark join spark filter"),
      (2L, "spark only once here today"),
      (3L, "nothing relevant at all here"),
      (4L, "join and spark and join appear")).toDF("id", "text")
    val got = Relevance.bm25TopK(docs, "id", "text", Seq("spark", "join"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    val ids = got.map(_._1)
    assert(!ids.contains(3L), "doc without any term is filtered (score 0)")
    val score = got.toMap
    assert(score(1L) > score(2L), "two terms beat one")
    assert(score(4L) > score(2L))
  }

  test("lmScore: target-like word order outscores unseen text; short docs get 0") {
    val tgt = Seq("a b a b a", "a b a").toDF("text")
    val docs = Seq(
      (1L, "a b a b"),
      (2L, "x y x z"),
      (3L, "a"),
      (4L, "")).toDF("id", "text")
    val got = Relevance.lmScore(docs, "id", "text", tgt, "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(1)._2 > got(2)._2, "in-model bigrams must outscore unseen ones")
    assert(got(3) == ((0L, 0.0)), "1-word doc has no bigrams")
    assert(got(4) == ((0L, 0.0)), "empty doc has no bigrams")
    assert(got(1)._1 == 3L && got(2)._1 == 3L)
    // hand-check doc 1: target bigrams (a,b)x3 (b,a)x2; ctx a=4... wait
    // "a b a b a" -> (a,b),(b,a),(a,b),(b,a); "a b a" -> (a,b),(b,a)
    // c12(a,b)=3, c12(b,a)=3, c1(a)=3, c1(b)=3, V=2
    // logp(a,b) = ln(4/5); doc1 = [(a,b),(b,a),(a,b)] -> mean ln(4/5)
    val expect = math.floor(math.log(4.0 / 5.0) * 1024) / 1024.0
    assert(math.abs(got(1)._2 - expect) < 1e-12)
  }

  test("bm25: rarer term carries higher idf weight") {
    // 'rare' appears in 1 doc, 'common' in 4; same tf and dl where they appear
    val docs = Seq(
      (1L, "rare word pad pad"),
      (2L, "common word pad pad"),
      (3L, "common word pad pad"),
      (4L, "common word pad pad"),
      (5L, "common word pad pad")).toDF("id", "text")
    val score = Relevance.bm25TopK(docs, "id", "text", Seq("rare", "common"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(score(1L) > score(2L))
  }

  test("bm25: corpus stats ride the checkpoint job — two jobs, exact scores") {
    val docs = Seq(
      (1L, "rare word pad pad"),
      (2L, "common word pad pad"),
      (3L, "common word pad pad"),
      (4L, "common word pad pad"),
      (5L, "common word pad pad")).toDF("id", "text")
    val (rows, jobs) = JobCount(spark)(
      Relevance.bm25TopK(docs, "id", "text", Seq("rare", "common"), 10)
        .collect())
    assert(jobs == 2, s"checkpoint+stats and top-k: expected 2 jobs, saw $jobs")
    // N = 5, avgdl = 4, df(rare) = 1, tf = 1, dl = avgdl: the tf factor
    // is exactly 1, so doc 1 scores its quantized idf
    val idf = math.floor(math.log((5.0 - 1.0 + 0.5) / (1.0 + 0.5) + 1.0) * 1024) /
      1024.0
    val k1 = 1.2
    val b = 0.75
    val expect = idf * (1.0 * (k1 + 1.0) /
      (1.0 + k1 * ((1.0 - b) + b * (4.0 / (20.0 / 5.0)))))
    assert(rows.find(_.getLong(0) == 1L).get.getDouble(2) == expect)
  }

  test("bm25: an empty corpus gives an empty top-k") {
    val none = Seq.empty[(Long, String)].toDF("id", "text")
    assert(Relevance.bm25TopK(none, "id", "text", Seq("spark"), 10)
      .collect().isEmpty)
  }
}
