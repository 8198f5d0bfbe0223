package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Mode derivation scenarios mirroring the reference's
  * ChangelogModeInferenceTest: where UPDATE_BEFORE is required, where
  * it is dropped, and that execution honors the decision. */
class ChangelogInferenceSpec extends SparkSpec {
  import spark.implicits._
  import ChangelogInference._

  private val K = ChangelogFormats.RowKindCol

  // tiny changelog: key a gets 10 then +5; key b gets 7 then is deleted
  private def srcDf = Seq(
    ("a", 10.0, "+I", 1L), ("b", 7.0, "+I", 2L),
    ("a", 5.0, "+I", 3L), ("b", 7.0, "-D", 4L)
  ).toDF("k", "v", K, "seq")

  test("agg into keyless sink: full retract stream required and produced") {
    val agg = GroupAgg(Source(srcDf, seqCols = Seq("seq")), Seq("k"), "v")
    val inf = infer(Sink(agg, primaryKey = None))
    assert(inf.sinkMode == Retract)
    assert(inf.produced(agg) == Retract && inf.emitUpdateBefore(agg))
    val rows = ChangelogInference.execute(Sink(agg)).select(col("k"), col("cnt"),
      col("sum_val"), col(K)).as[(String, Long, Double, String)]
      .collect().toSet
    // a: +I(1,10) then -U(1,10)/+U(2,15); b: +I(1,7) then -D (death)
    assert(rows == Set(("a", 1L, 10.0, "+I"), ("a", 1L, 10.0, "-U"),
      ("a", 2L, 15.0, "+U"), ("b", 1L, 7.0, "+I"), ("b", 1L, 7.0, "-D")))
  }

  test("agg into pk sink: UPDATE_BEFORE dropped, -D on death, compacted") {
    val agg = GroupAgg(Source(srcDf, seqCols = Seq("seq")), Seq("k"), "v")
    val sink = Sink(agg, primaryKey = Some(Seq("k")))
    val inf = infer(sink)
    assert(inf.sinkMode == Upsert)
    assert(inf.produced(agg) == Upsert && !inf.emitUpdateBefore(agg))
    // the stream an upsert consumer would see: no -U anywhere
    val stream = ChangelogAgg.updateStream(srcDf, Seq("k"), "v",
      Seq(col("seq")), K, emitUpdateBefore = false, emitSeq = false)
    val kinds = stream.select(col(K)).as[String].collect().toSeq
    assert(!kinds.contains("-U") && kinds.contains("-D"))
    // sink compaction: only a's live state remains
    val state = ChangelogInference.execute(sink).select(col("k"), col("cnt"), col("sum_val"))
      .as[(String, Long, Double)].collect().toSet
    assert(state == Set(("a", 2L, 15.0)))
  }

  test("agg over agg: inner stage forced to retract even under a pk sink") {
    val inner = GroupAgg(Source(srcDf, seqCols = Seq("seq")), Seq("k"), "v")
    val outer = GroupAgg(inner, Seq("cnt"), "sum_val")
    val inf = infer(Sink(outer, primaryKey = Some(Seq("cnt"))))
    assert(inf.produced(inner) == Retract && inf.emitUpdateBefore(inner))
    assert(inf.produced(outer) == Upsert && !inf.emitUpdateBefore(outer))
  }

  test("pk not matching the update key engages the upsert materializer") {
    val agg = GroupAgg(Source(srcDf, seqCols = Seq("seq")), Seq("k"), "v")
    val sink = Sink(agg, primaryKey = Some(Seq("cnt")))
    val inf = infer(sink)
    // sink key cnt ≠ update key k: the aggregate must emit the full
    // retract stream and the sink materializes (SinkUpsertMaterializer)
    assert(inf.sinkMaterialize && inf.sinkMode == Upsert)
    assert(inf.produced(agg) == Retract && inf.emitUpdateBefore(agg))
    val state = ChangelogInference.execute(sink)
      .select(col("k"), col("cnt"), col("sum_val"))
      .as[(String, Long, Double)].collect().toSet
    // live contents: only a's final (2, 15); b's states all netted away
    assert(state == Set(("a", 2L, 15.0)))
  }

  test("materializer beats last-writer-wins on out-of-key-order deletes") {
    // two rows share sink key p; the OLDER one is deleted LAST — naive
    // last-writer-wins would drop the key entirely, the materializer
    // keeps the newer live row (the reference SinkUpsertMaterializer
    // scenario)
    val df = Seq(
      ("x", "p", 1.0, "+I", 1L),
      ("y", "p", 2.0, "+I", 2L),
      ("x", "p", 1.0, "-D", 3L)
    ).toDF("id", "pk", "v", K, "seq")
    val sink = Sink(Source(df, seqCols = Seq("seq")),
      primaryKey = Some(Seq("pk")))
    val inf = infer(sink)
    assert(inf.sinkMaterialize)
    val state = ChangelogInference.execute(sink)
      .select(col("id"), col("pk"), col("v"))
      .as[(String, String, Double)].collect().toSet
    assert(state == Set(("y", "p", 2.0)))
  }

  test("source with a declared key compacts last-writer-wins, no materializer") {
    // a keyed upsert changelog: one live row per id at any time
    val df = Seq(
      ("x", 1.0, "+I", 1L),
      ("x", 2.0, "+U", 2L),
      ("y", 9.0, "+I", 3L),
      ("y", 9.0, "-D", 4L)
    ).toDF("id", "v", K, "seq")
    val sink = Sink(
      Source(df, seqCols = Seq("seq"), key = Some(Seq("id"))),
      primaryKey = Some(Seq("id")))
    val inf = infer(sink)
    assert(!inf.sinkMaterialize && inf.sinkMode == Upsert)
    val state = ChangelogInference.execute(sink)
      .select(col("id"), col("v")).as[(String, Double)].collect().toSet
    assert(state == Set(("x", 2.0)))
  }

  test("calc dropping the update key is rejected at execute") {
    val agg = GroupAgg(Source(srcDf, seqCols = Seq("seq")), Seq("k"), "v")
    val calc = Calc(agg, _.drop("k"))
    val e = intercept[IllegalArgumentException](
      ChangelogInference.execute(Sink(calc, primaryKey = Some(Seq("k")))))
    assert(e.getMessage.contains("update-key"))
  }

  test("join mode inference: inner-append stays append, updating side retracts") {
    val a = Source(Seq(("a", 1.0, 1L)).toDF("k", "v", "seq"),
      insertOnly = true, seqCols = Seq("seq"))
    val b = Source(Seq(("a", 2.0, 2L)).toDF("k2", "w", "seq2"),
      insertOnly = true, seqCols = Seq("seq2"))
    val innerAppend = Join(a, b, "k", "k2", "inner")
    assert(infer(Sink(innerAppend)).sinkMode == InsertOnly)
    // an updating left side makes the join output a retract stream
    val upd = Source(srcDf.withColumnRenamed("k", "k1"),
      seqCols = Seq("seq"))
    val j = Join(upd, b, "k1", "k2", "inner")
    val inf = infer(Sink(j))
    assert(inf.produced(j) == Retract && inf.sinkMode == Retract)
    // and an outer join updates even over append inputs
    assert(infer(Sink(Join(a, b, "k", "k2", "left"))).sinkMode == Retract)
  }

  test("statement set: shared agg forced to retract, upsert branch drops -U") {
    val agg = GroupAgg(Source(srcDf, seqCols = Seq("seq")), Seq("k"), "v")
    val up = Sink(agg, primaryKey = Some(Seq("k")))
    val ret = Sink(agg) // keyless retract sink, SAME agg instance
    val inf = infer(Seq(up, ret))
    // the shared aggregate must emit the superset (retract) because one
    // branch needs -U; the upsert branch drops them at its own edge
    assert(inf.produced(agg) == Retract && inf.emitUpdateBefore(agg))
    assert(inf.sinkModes == Seq(Upsert, Retract))
    assert(inf.branchDropsUpdateBefore == Seq(true, false))
    val results = ChangelogInference.execute(Seq(up, ret))
    val state = results(0).select(col("k"), col("cnt"), col("sum_val"))
      .as[(String, Long, Double)].collect().toSet
    // identical to the single-sink upsert run — the branch drop must
    // not change the compacted state
    assert(state == Set(("a", 2L, 15.0)))
    val kinds = results(1).select(col(K)).as[String].collect().toSeq
    assert(kinds.contains("-U") && kinds.contains("-D"))
  }

  test("executeReleasable: shared agg checkpoints once, release drops the blocks") {
    val agg = GroupAgg(Source(srcDf, seqCols = Seq("seq")), Seq("k"), "v")
    val up = Sink(agg, primaryKey = Some(Seq("k")))
    val ret = Sink(agg)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (results, release) = ChangelogInference.executeReleasable(Seq(up, ret))
    // the shared stateful node materialized eagerly as a tracked
    // localCheckpoint — new persisted blocks exist before any sink runs
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty, "shared agg must be checkpointed at execute()")
    // outputs (reading the checkpoint) stay correct
    val state = results(0).select(col("k"), col("cnt"), col("sum_val"))
      .as[(String, Long, Double)].collect().toSet
    assert(state == Set(("a", 2L, 15.0)))
    assert(results(1).count() > 0)
    release()
    // eventually consistent (unpersist is async); poll briefly
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (System.nanoTime() < deadline &&
      (spark.sparkContext.getPersistentRDDs.keySet & added).nonEmpty)
      Thread.sleep(50)
    assert((spark.sparkContext.getPersistentRDDs.keySet & added).isEmpty,
      "release() must unpersist exactly the shared checkpoints")
    // single-sink runs keep their lazy, checkpoint-free shape
    val b2 = spark.sparkContext.getPersistentRDDs.keySet
    ChangelogInference.execute(Sink(
      GroupAgg(Source(srcDf, seqCols = Seq("seq")), Seq("k"), "v"),
      primaryKey = Some(Seq("k"))))
    assert(spark.sparkContext.getPersistentRDDs.keySet == b2,
      "unshared plans must not checkpoint")
  }

  test("stateful subtrees under a changelog join materialize once") {
    // the changelog join reads each input once (one union), so a
    // single-sink join over two GroupAgg inputs checkpoints nothing and
    // its plan computes each input aggregate exactly once
    val l = Calc(GroupAgg(Source(srcDf, seqCols = Seq("seq")), Seq("k"), "v"),
      _.withColumnRenamed("cnt", "lc").withColumnRenamed("sum_val", "lv"))
    val rDf = Seq(("a", 1.0, "+I", 1L), ("b", 2.0, "+I", 2L))
      .toDF("k2", "w", K, "seq")
    val r = Calc(GroupAgg(Source(rDf, seqCols = Seq("seq")), Seq("k2"), "w"),
      _.withColumnRenamed("cnt", "rc").withColumnRenamed("sum_val", "rv"))
    val j = Join(l, r, "k", "k2", "inner")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val single = ChangelogInference.execute(Sink(j))
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "a join input consumed once must not checkpoint")
    val p = single.queryExecution.executedPlan.toString
    assert("LocalTableScan".r.findAllIn(p).size == 2,
      s"each input aggregate is computed once:\n$p")
    assert(single.count() > 0)
    // one Join instance feeding two sinks (a diamond) materializes once,
    // and release() drops exactly that checkpoint
    val (results, release) =
      ChangelogInference.executeReleasable(Seq(Sink(j), Sink(j)))
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty, "the shared join must checkpoint at execute()")
    assert(results.forall(_.count() > 0))
    release()
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (System.nanoTime() < deadline &&
      (spark.sparkContext.getPersistentRDDs.keySet & added).nonEmpty)
      Thread.sleep(50)
    assert((spark.sparkContext.getPersistentRDDs.keySet & added).isEmpty)
    // a join over PLAIN sources (leaf scans, no explode/agg/window in
    // the wrapped plan) must not checkpoint: a rescan of a leaf really
    // is cheaper than a checkpoint write
    val b2 = spark.sparkContext.getPersistentRDDs.keySet
    val pl = Source(srcDf.withColumnRenamed("k", "k1"), seqCols = Seq("seq"))
    val pr = Source(rDf.withColumnRenamed("k2", "k3")
      .withColumnRenamed("seq", "seq2"), seqCols = Seq("seq2"))
    ChangelogInference.execute(Sink(Join(pl, pr, "k1", "k3", "inner")))
    assert(spark.sparkContext.getPersistentRDDs.keySet == b2,
      "source-fed joins must stay lazy")
  }

  test("statement set: pass-through branch re-derives the merged mode") {
    val agg = GroupAgg(Source(srcDf, seqCols = Seq("seq")), Seq("k"), "v")
    val calc = Calc(agg, _.withColumn("doubled", col("sum_val") * 2))
    val inf = infer(Seq(Sink(calc, primaryKey = Some(Seq("k"))), Sink(agg)))
    // the Calc sits on the upsert branch but its input was merged to
    // retract by the other branch — pass 2 must re-propagate that
    assert(inf.produced(calc) == Retract)
    assert(inf.branchDropsUpdateBefore == Seq(true, false))
  }

  test("diamond plan: one source instance feeds both join sides") {
    // the eq-keyed maps + build cache must treat the SHARED source as
    // one node and the two structurally-identical Calcs as TWO distinct
    // operators (case-class equality would collide them)
    val src = Source(Seq(
      ("a", 1.0, "+I", 1L), ("a", 2.0, "+I", 2L), ("a", 1.0, "-D", 3L)
    ).toDF("k", "v", K, "seq"), seqCols = Seq("seq"))
    // both Calcs keep seq + __row_kind (the Calc contract) and rename
    // only the payload, making the two sides' payloads disjoint; the
    // self-join's tie rule (left first at equal seq) makes the replay
    // deterministic
    val leftC = Calc(src, _.withColumnRenamed("k", "lk")
      .withColumnRenamed("v", "lv"))
    val rightC = Calc(src, _.withColumnRenamed("k", "rk")
      .withColumnRenamed("v", "rv"))
    val j = Join(leftC, rightC, "lk", "rk", "inner")
    val inf = infer(Sink(j))
    assert(inf.produced(j) == Retract)
    assert(inf.produced(leftC) == Retract && inf.produced(rightC) == Retract)
    // execution: net left rows {a:2.0} x net right rows {a:2.0} -> one
    // surviving pair; the emitted stream must net to exactly that
    val out = ChangelogInference.execute(Sink(j))
    val net = ChangelogAgg.materialize(
        out.select(col("lk").as("g"), col("rv").as("s"), col(K)),
        Seq("g"), "s")
      .select(col("g"), col("cnt")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(net == Set(("a", 1L)))
  }

  test("insert-only source into insert-only sink needs no kinds at all") {
    val src = Source(Seq(("a", 1.0)).toDF("k", "v"), insertOnly = true)
    val inf = infer(Sink(src))
    assert(inf.sinkMode == InsertOnly)
  }

  test("executed pk-sink state equals the net materialization") {
    // chain: agg -> enrich join -> agg -> pk sink, vs direct netting
    val dim = Seq(("a", "g1"), ("b", "g2")).toDF("dk", "grp")
    val chain = Sink(
      GroupAgg(
        EnrichJoin(
          GroupAgg(Source(srcDf, seqCols = Seq("seq")), Seq("k"), "v"),
          dim, "k", "dk"),
        Seq("grp"), "sum_val"),
      primaryKey = Some(Seq("grp")))
    val got = ChangelogInference.execute(chain).select(col("grp"), col("cnt"), col("sum_val"))
      .as[(String, Long, Double)].collect().toSet
    // net state: a lives with sum 15 in g1; b died, so g2 has no rows
    assert(got == Set(("g1", 1L, 15.0)))
  }
}
