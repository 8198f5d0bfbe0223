package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructType}
import graft.QueryDef
import graft.cdc.{ChangelogAgg, ChangelogFormats, ChangelogInference}
import Q._

/** Changelog ⋈ changelog joins and statement sets — reference:
  * StreamingJoinOperator.java + OuterJoinRecordStateViews.java (see
  * graft.cdc.ChangelogJoin), diamond statement sets over shared join
  * instances, and the deepest inference chain the reference plans
  * (GroupAgg → Join ← GroupAgg → GroupAgg → upsert sink). Shared
  * synthetic changelogs live in [[CdcData]].
  */
object CdcJoinQueries {

  val defs: Seq[QueryDef] = Seq(


    // Changelog ⋈ changelog with BOTH sides updating (reference
    // StreamingJoinOperator): the order changelog (price doublings,
    // deletions) joins the customer changelog (nation reassignments,
    // deletions); every change on either side probes the other side's
    // state as of its arrival. The inference decides: Join over two
    // updating sources → retract stream; GroupAgg over the join →
    // requires retract; PK sink on the agg key → the agg drops -U.
    // Oracle: the emitted stream's net must equal joining the two NET
    // states — a wrong multiplicity, a missed retraction, or a
    // mis-ordered probe anywhere hash-mismatches.
    QueryDef("q_cdc_join_infer", (s, dir) => {
      import ChangelogInference._
      val plan = Sink(
        GroupAgg(
          Join(
            Source(CdcData.orderChangelog(s, dir), seqCols = Seq("seq", "stage")),
            Source(CdcData.customerChangelog(s, dir), seqCols = Seq("seq", "stage")),
            "o_custkey", "c_custkey", "inner"),
          Seq("c_nationkey"), "v"),
        primaryKey = Some(Seq("c_nationkey")))
      val inf = infer(plan)
      require(inf.sinkMode == Upsert && !inf.sinkMaterialize,
        "agg-keyed pk sink must be plain upsert")
      ChangelogInference.execute(plan)
        .select(col("c_nationkey").cast("int").as("nationkey"),
          col("cnt").as("n_pairs"),
          col("sum_val").cast("double").as("sum_v"))
        .orderBy(col("nationkey"))
    }, Some(s"""
      WITH olive AS (
        SELECT o_custkey,
          CASE WHEN o_orderkey % 10 = 0 THEN ${moneySql("o_totalprice")} * 2
               ELSE ${moneySql("o_totalprice")} END AS v
        FROM orders WHERE o_orderkey % 10 <> 1),
      clive AS (
        SELECT c_custkey,
          CAST(CASE WHEN c_custkey % 7 = 0 THEN (c_nationkey + 1) % 25
               ELSE c_nationkey END AS INTEGER) AS nationkey
        FROM customer WHERE c_custkey % 7 <> 1)
      SELECT nationkey, COUNT(*) AS n_pairs,
        CAST(SUM(v) AS DOUBLE) AS sum_v
      FROM olive JOIN clive ON olive.o_custkey = clive.c_custkey
      GROUP BY nationkey
      ORDER BY nationkey""")),


    // LEFT OUTER changelog join: association counting
    // (OuterJoinRecordStateViews) decides when the null-padded
    // (customer, NULL) rows appear and disappear — a customer whose
    // orders all die gets its padding back, a first order retracts it.
    // The padded rows flow through the same retractable aggregate
    // (SUM skips the null v, COUNT includes the row).
    QueryDef("q_cdc_join_outer", (s, dir) => {
      import ChangelogInference._
      val plan = Sink(
        GroupAgg(
          Join(
            Source(CdcData.customerChangelog(s, dir), seqCols = Seq("seq", "stage")),
            Source(CdcData.orderChangelog(s, dir), seqCols = Seq("seq", "stage")),
            "c_custkey", "o_custkey", "left"),
          Seq("c_nationkey"), "v"),
        primaryKey = Some(Seq("c_nationkey")))
      ChangelogInference.execute(plan)
        .select(col("c_nationkey").cast("int").as("nationkey"),
          col("cnt").as("n_rows"),
          col("sum_val").cast("double").as("sum_v"))
        .orderBy(col("nationkey"))
    }, Some(s"""
      WITH olive AS (
        SELECT o_custkey,
          CASE WHEN o_orderkey % 10 = 0 THEN ${moneySql("o_totalprice")} * 2
               ELSE ${moneySql("o_totalprice")} END AS v
        FROM orders WHERE o_orderkey % 10 <> 1),
      clive AS (
        SELECT c_custkey,
          CAST(CASE WHEN c_custkey % 7 = 0 THEN (c_nationkey + 1) % 25
               ELSE c_nationkey END AS INTEGER) AS nationkey
        FROM customer WHERE c_custkey % 7 <> 1)
      SELECT nationkey, COUNT(*) AS n_rows,
        CAST(SUM(v) AS DOUBLE) AS sum_v
      FROM clive LEFT JOIN olive ON clive.c_custkey = olive.o_custkey
      GROUP BY nationkey
      ORDER BY nationkey""")),


    // The SAME left-outer chain as q_cdc_join_outer, kept as its own
    // oracled query: both run the one changelog join
    // (ChangelogJoin.updateStream, the per-key replay of the streaming
    // operator's state machine) on the same plan and oracle.
    QueryDef("q_cdc_join_replay", (s, dir) => {
      import ChangelogInference._
      val plan = Sink(
        GroupAgg(
          Join(
            Source(CdcData.customerChangelog(s, dir), seqCols = Seq("seq", "stage")),
            Source(CdcData.orderChangelog(s, dir), seqCols = Seq("seq", "stage")),
            "c_custkey", "o_custkey", "left"),
          Seq("c_nationkey"), "v"),
        primaryKey = Some(Seq("c_nationkey")))
      ChangelogInference.execute(plan)
        .select(col("c_nationkey").cast("int").as("nationkey"),
          col("cnt").as("n_rows"),
          col("sum_val").cast("double").as("sum_v"))
        .orderBy(col("nationkey"))
    }, Some(s"""
      WITH olive AS (
        SELECT o_custkey,
          CASE WHEN o_orderkey % 10 = 0 THEN ${moneySql("o_totalprice")} * 2
               ELSE ${moneySql("o_totalprice")} END AS v
        FROM orders WHERE o_orderkey % 10 <> 1),
      clive AS (
        SELECT c_custkey,
          CAST(CASE WHEN c_custkey % 7 = 0 THEN (c_nationkey + 1) % 25
               ELSE c_nationkey END AS INTEGER) AS nationkey
        FROM customer WHERE c_custkey % 7 <> 1)
      SELECT nationkey, COUNT(*) AS n_rows,
        CAST(SUM(v) AS DOUBLE) AS sum_v
      FROM clive LEFT JOIN olive ON clive.c_custkey = olive.o_custkey
      GROUP BY nationkey
      ORDER BY nationkey""")),


    // Aggregate ⋈ aggregate: BOTH join inputs are themselves derived
    // retract streams (per-customer order totals on the left, the
    // per-customer live dimension value recovered through a
    // retractable SUM on the right), the join re-pairs on every
    // upstream -U/+U, and the outer aggregate re-groups by a VALUE
    // that itself updates (a nation reassignment retracts the
    // customer's totals from the old nation and adds them to the new
    // one). This is the deepest inference chain the reference plans:
    // GroupAgg → Join ← GroupAgg, then GroupAgg → upsert sink. The
    // oracle is the batch query over the NET live states — any
    // mis-netted association count or leaked retraction
    // hash-mismatches the compacted sink.
    QueryDef("q_cdc_agg_join_agg", (s, dir) => {
      import ChangelogInference._
      val ordersAgg = Calc(
        GroupAgg(
          Source(CdcData.orderChangelog(s, dir), seqCols = Seq("seq", "stage")),
          Seq("o_custkey"), "v"),
        df => df.withColumnRenamed("cnt", "n_ord")
          .withColumnRenamed("sum_val", "sum_v"))
      // the right aggregate recovers each customer's LIVE nationkey:
      // one live row per customer, so SUM(nationkey) IS the value
      val custAgg = Calc(
        GroupAgg(
          Source(CdcData.customerChangelog(s, dir), seqCols = Seq("seq", "stage")),
          Seq("c_custkey"), "c_nationkey"),
        df => df.withColumn("nationkey", col("sum_val").cast("int"))
          .drop("cnt", "sum_val"))
      val plan = Sink(
        GroupAgg(
          Join(ordersAgg, custAgg, "o_custkey", "c_custkey", "inner"),
          Seq("nationkey"), "sum_v"),
        primaryKey = Some(Seq("nationkey")))
      val inf = infer(plan)
      require(inf.sinkMode == Upsert && !inf.sinkMaterialize,
        "agg-keyed pk sink must be plain upsert")
      ChangelogInference.execute(plan)
        .select(col("nationkey"), col("cnt").as("n_cust"),
          col("sum_val").cast("double").as("total_v"))
        .orderBy(col("nationkey"))
    }, Some(s"""
      WITH olive AS (
        SELECT o_custkey,
          CASE WHEN o_orderkey % 10 = 0 THEN ${moneySql("o_totalprice")} * 2
               ELSE ${moneySql("o_totalprice")} END AS v
        FROM orders WHERE o_orderkey % 10 <> 1),
      oagg AS (
        SELECT o_custkey, COUNT(*) AS n_ord, SUM(v) AS sum_v
        FROM olive GROUP BY 1),
      clive AS (
        SELECT c_custkey,
          CAST(CASE WHEN c_custkey % 7 = 0 THEN (c_nationkey + 1) % 25
               ELSE c_nationkey END AS INTEGER) AS nationkey
        FROM customer WHERE c_custkey % 7 <> 1)
      SELECT nationkey, COUNT(*) AS n_cust,
        CAST(SUM(sum_v) AS DOUBLE) AS total_v
      FROM oagg JOIN clive ON o_custkey = c_custkey
      GROUP BY nationkey
      ORDER BY nationkey""")),


    // DIAMOND statement set: ONE shared changelog-join INSTANCE
    // feeding two DIFFERENT aggregates (per-nation and per-order-count
    // band) into two upsert sinks — the reference's multi-statement
    // plan reuse where an expensive stream-stream join materializes
    // once and each branch derives its own mode from it. The join is
    // built exactly once (Ref-keyed shared-subtree map); both
    // aggregates consume its retract stream. Each branch is
    // independently ORACLE-checked against the net-state batch query,
    // so a shared-instance rebuild or a cross-branch demand leak shows
    // up as a hash mismatch on either branch.
    QueryDef("q_cdc_join_diamond", (s, dir) => {
      import ChangelogInference._
      val shared = Join(
        Calc(
          GroupAgg(
            Source(CdcData.orderChangelog(s, dir), seqCols = Seq("seq", "stage")),
            Seq("o_custkey"), "v"),
          df => df.withColumnRenamed("cnt", "n_ord")
            .withColumnRenamed("sum_val", "sum_v")),
        Calc(
          GroupAgg(
            Source(CdcData.customerChangelog(s, dir), seqCols = Seq("seq", "stage")),
            Seq("c_custkey"), "c_nationkey"),
          df => df.withColumn("nationkey", col("sum_val").cast("int"))
            .drop("cnt", "sum_val")),
        "o_custkey", "c_custkey", "inner")
      val byNation = Sink(
        GroupAgg(shared, Seq("nationkey"), "sum_v"),
        primaryKey = Some(Seq("nationkey")))
      val byBand = Sink(
        GroupAgg(
          Calc(shared, df => df.withColumn("ord_band",
            least(col("n_ord"), lit(5L)))),
          Seq("ord_band"), "sum_v"),
        primaryKey = Some(Seq("ord_band")))
      val inf = infer(Seq(byNation, byBand))
      require(inf.produced(shared) == Retract,
        "the shared join must feed both branches the retract stream")
      val Seq(nat, band) = ChangelogInference.execute(Seq(byNation, byBand))
      nat.select(lit("nation").as("part"),
          col("nationkey").cast("long").as("key"),
          col("cnt").as("n"), col("sum_val").cast("double").as("total_v"))
        .unionByName(band.select(lit("band").as("part"),
          col("ord_band").as("key"), col("cnt").as("n"),
          col("sum_val").cast("double").as("total_v")))
        .orderBy(col("part"), col("key"))
    }, Some(s"""
      WITH olive AS (
        SELECT o_custkey,
          CASE WHEN o_orderkey % 10 = 0 THEN ${moneySql("o_totalprice")} * 2
               ELSE ${moneySql("o_totalprice")} END AS v
        FROM orders WHERE o_orderkey % 10 <> 1),
      oagg AS (
        SELECT o_custkey, COUNT(*) AS n_ord, SUM(v) AS sum_v
        FROM olive GROUP BY 1),
      clive AS (
        SELECT c_custkey,
          CAST(CASE WHEN c_custkey % 7 = 0 THEN (c_nationkey + 1) % 25
               ELSE c_nationkey END AS INTEGER) AS nationkey
        FROM customer WHERE c_custkey % 7 <> 1),
      j AS (
        SELECT nationkey, n_ord, sum_v
        FROM oagg JOIN clive ON o_custkey = c_custkey)
      SELECT 'nation' AS part, CAST(nationkey AS BIGINT) AS key,
        COUNT(*) AS n, CAST(SUM(sum_v) AS DOUBLE) AS total_v
      FROM j GROUP BY 2
      UNION ALL
      SELECT 'band', LEAST(n_ord, 5), COUNT(*),
        CAST(SUM(sum_v) AS DOUBLE)
      FROM j GROUP BY 2
      ORDER BY part, key""")),


    // STATEMENT SET over ONE shared aggregate feeding two sinks with
    // DIFFERENT changelog demands (the reference's EXECUTE STATEMENT
    // SET + per-statement changelog-mode inference): the PK sink alone
    // would get DropUpdateBefore inside the aggregate, but the retract
    // sink forces the shared operator to emit the superset, so the
    // upsert branch drops -U at its OWN edge instead. Output: the
    // compacted state summarized, plus the retract branch's emission
    // profile per row kind — the oracle REPLAYS the running aggregate
    // with window functions, so a -U leaking into the upsert branch, a
    // death mislabeled, or a missed emission all hash-mismatch.
    QueryDef("q_cdc_statement_set", (s, dir) => {
      import ChangelogInference._
      val k = ChangelogFormats.RowKindCol
      val shared = GroupAgg(
        Source(CdcData.orderChangelog(s, dir), seqCols = Seq("seq", "stage")),
        Seq("o_custkey"), "v")
      val up = Sink(shared, primaryKey = Some(Seq("o_custkey")))
      val ret = Sink(shared)
      val inf = infer(Seq(up, ret))
      require(inf.produced(shared) == Retract &&
        inf.emitUpdateBefore(shared), "shared agg must emit retract")
      require(inf.branchDropsUpdateBefore == Seq(true, false),
        "upsert branch drops -U, retract branch keeps it")
      val results = ChangelogInference.execute(Seq(up, ret))
      val statePart = results(0).agg(
          count(lit(1)).as("n"),
          sum(col("cnt")).as("sum_cnt"),
          sum(col("sum_val")).cast("double").as("sum_v"))
        .select(lit("state").as("part"), lit("+S").as("kind"),
          col("n"), col("sum_cnt"), col("sum_v"))
      val streamPart = results(1).groupBy(col(k).as("kind"))
        .agg(count(lit(1)).as("n"),
          sum(col("cnt")).as("sum_cnt"),
          sum(col("sum_val")).cast("double").as("sum_v"))
        .select(lit("stream").as("part"), col("kind"), col("n"),
          col("sum_cnt"), col("sum_v"))
      statePart.unionByName(streamPart)
        .orderBy(col("part"), col("kind"))
    }, Some(s"""
      WITH changes AS (
        SELECT o_custkey, ${moneySql("o_totalprice")} AS v, 1 AS w,
          o_orderkey AS seq, 0 AS stage
        FROM orders
        UNION ALL
        SELECT o_custkey, ${moneySql("o_totalprice")}, -1, o_orderkey, 1
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_custkey, ${moneySql("o_totalprice")} * 2, 1, o_orderkey, 2
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_custkey, ${moneySql("o_totalprice")}, -1, o_orderkey, 3
        FROM orders WHERE o_orderkey % 10 = 1),
      run AS (
        SELECT o_custkey,
          ROW_NUMBER() OVER w AS rn,
          SUM(w) OVER w AS cnt,
          SUM(w * v) OVER w AS s
        FROM changes
        WINDOW w AS (PARTITION BY o_custkey ORDER BY seq, stage
          ROWS UNBOUNDED PRECEDING)),
      ctx AS (
        SELECT *, LAG(cnt) OVER w2 AS pcnt, LAG(s) OVER w2 AS ps
        FROM run
        WINDOW w2 AS (PARTITION BY o_custkey ORDER BY rn)),
      em AS (
        -- the retraction of the previous state: -U mid-life, -D death
        SELECT CASE WHEN cnt > 0 THEN '-U' ELSE '-D' END AS kind,
          pcnt AS ecnt, ps AS es
        FROM ctx WHERE rn > 1 AND pcnt > 0
        UNION ALL
        -- the new state: +I when the previous state was dead (first
        -- change OR revival after a death), +U for a live group
        SELECT CASE WHEN rn = 1 OR pcnt <= 0 THEN '+I' ELSE '+U' END,
          cnt, s
        FROM ctx WHERE cnt > 0),
      state AS (
        SELECT o_custkey, SUM(w) AS cnt, SUM(w * v) AS s
        FROM changes GROUP BY o_custkey HAVING SUM(w) > 0)
      SELECT 'state' AS part, '+S' AS kind, COUNT(*) AS n,
        CAST(SUM(cnt) AS BIGINT) AS sum_cnt,
        CAST(SUM(s) AS DOUBLE) AS sum_v
      FROM state
      UNION ALL
      SELECT 'stream', kind, COUNT(*),
        CAST(SUM(ecnt) AS BIGINT), CAST(SUM(es) AS DOUBLE)
      FROM em GROUP BY kind
      ORDER BY part, kind"""))
  )
}
