package graft.queries

import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.operators.AsOfJoin
import Q._

/** Join surface — reference: hash/sort-merge/nested-loop batch joins
  * (flink-table-runtime/.../operators/join/HashJoinOperator.java:67,
  * SortMergeJoinFunction.java:56), semi/anti rewrites
  * (FlinkStreamRuleSets.scala SEMI_JOIN_RULES), interval join
  * (.../join/interval/TimeIntervalJoin.java:52), window join
  * (.../join/window/WindowJoinOperator.java:66), temporal as-of join
  * (.../join/temporal/TemporalRowTimeJoinOperator.java:78).
  *
  * Scale notes: dimension tables (region/nation/customer/supplier/part)
  * are broadcast — no shuffle of the fact table for dim joins. Fact-fact
  * joins shuffle once on the join key; Catalyst + AQE pick
  * broadcast/shuffled-hash/sort-merge and handle skew at runtime.
  */
object JoinQueries {

  val defs: Seq[QueryDef] = Seq(

    // Inner equi-join chain, TPC-H Q3 shape, dims broadcast.
    QueryDef("q_join_inner", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      // fact-fact join shuffles on the key (orders wouldn't be
      // broadcastable at scale); only the true dimension is broadcast
      l.join(o, col("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(sum(revenue(col("l_extendedprice"), col("l_discount")))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    }, Some(s"""
      SELECT c_mktsegment,
        CAST(SUM(${revenueSql("l_extendedprice", "l_discount")}) AS DOUBLE) AS revenue,
        COUNT(*) AS n_items
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment""")),

    // Left outer join with nullable probe side.
    QueryDef("q_join_left", (s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer").filter(col("c_acctbal") > 5000)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"), "left")
        .select(col("o_orderkey"), col("o_custkey"), col("c_name"),
          col("c_acctbal"))
    }, Some("""
      SELECT o_orderkey, o_custkey, c_name, c_acctbal
      FROM orders
      LEFT JOIN (SELECT c_custkey, c_name, c_acctbal FROM customer
                 WHERE c_acctbal > 5000) c
        ON o_custkey = c_custkey""")),

    // Full outer join.
    QueryDef("q_join_full", (s, dir) => {
      val n = t(s, dir, "nation")
      val rich = t(s, dir, "customer").filter(col("c_acctbal") > 9000)
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_rich"))
      n.join(rich, n("n_nationkey") === rich("c_nationkey"), "full")
        .select(col("n_name"), col("n_nationkey"), col("n_rich"))
    }, Some("""
      SELECT n_name, n_nationkey, n_rich
      FROM nation
      FULL JOIN (SELECT c_nationkey, COUNT(*) AS n_rich FROM customer
                 WHERE c_acctbal > 9000 GROUP BY c_nationkey) c
        ON n_nationkey = c_nationkey""")),

    // Left semi join (EXISTS — reference SEMI_JOIN_RULES decorrelation).
    QueryDef("q_join_semi", (s, dir) => {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem").filter(col("l_quantity") > 49)
      o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), col("o_totalprice"))
    }, Some("""
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_quantity > 49)""")),

    // Left anti join (NOT EXISTS).
    QueryDef("q_join_anti", (s, dir) => {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem").filter(col("l_quantity") > 49)
      o.join(l, o("o_orderkey") === l("l_orderkey"), "left_anti")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
    }, Some("""
      SELECT o_orderstatus, COUNT(*) AS n FROM orders
      WHERE NOT EXISTS (SELECT 1 FROM lineitem
                        WHERE l_orderkey = o_orderkey AND l_quantity > 49)
      GROUP BY o_orderstatus""")),

    // Non-equi theta join → BroadcastNestedLoopJoin (reference:
    // BatchExecNestedLoopJoin.java). Supplier side is tiny → broadcast.
    QueryDef("q_join_nonequi", (s, dir) => {
      val sup = t(s, dir, "supplier")
      val c = t(s, dir, "customer")
      c.join(broadcast(sup), c("c_acctbal") > sup("s_acctbal"))
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_pairs"))
    }, Some("""
      SELECT s_nationkey, COUNT(*) AS n_pairs
      FROM customer JOIN supplier ON c_acctbal > s_acctbal
      GROUP BY s_nationkey""")),

    // 6-table star join, TPC-H Q5 shape.
    QueryDef("q_join_multi", (s, dir) => {
      val r = t(s, dir, "region")
      val n = t(s, dir, "nation")
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      val sup = t(s, dir, "supplier")
      l.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(revenue(col("l_extendedprice"), col("l_discount")))
          .cast("double").as("revenue"))
    }, Some(s"""
      SELECT r_name, n_name,
        CAST(SUM(${revenueSql("l_extendedprice", "l_discount")}) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
        AND c_nationkey = s_nationkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name""")),

    // As-of join: each purchase gets the latest prior click per user,
    // both sides derived from ONE events frame (the as-of operator
    // re-aliases the right side). The clicks are clustered by user_id
    // before their pre-aggregation, so one exchange serves both the
    // aggregate and the join (in both as-of queries). Reference:
    // TemporalRowTimeJoinOperator.java:78; DuckDB oracle uses its
    // native ASOF JOIN.
    QueryDef("q_asof_join", (s, dir) => {
      val e = t(s, dir, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val clicks = e.filter(col("event_type") === "click")
        .repartition(col("user_id"))
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("click_value"))
      AsOfJoin.backward(purchases, clicks, "user_id", "ts",
        Seq("click_value"))
    }, Some("""
      SELECT e.event_id, e.user_id, e.ts, e.value, c.click_value
      FROM (SELECT event_id, user_id, ts, value FROM events
            WHERE event_type = 'purchase') e
      ASOF LEFT JOIN (SELECT user_id, ts, MAX(value) AS click_value
                      FROM events WHERE event_type = 'click'
                      GROUP BY user_id, ts) c
        ON e.user_id = c.user_id AND e.ts >= c.ts""")),

    // The same as-of join over two separately loaded events frames
    // (graft.plans.AsOfJoinExec: LogicalPlan + SparkStrategy + SparkPlan,
    // co-partitioned single-pass merge).
    QueryDef("q_asof_join_planned", (s, dir) => {
      val e1 = t(s, dir, "events")
      val e2 = t(s, dir, "events")
      val purchases = e1.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val clicks = e2.filter(col("event_type") === "click")
        .repartition(col("user_id"))
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("click_value"))
      AsOfJoin.backward(purchases, clicks, "user_id", "ts",
        Seq("click_value"))
    }, Some("""
      SELECT e.event_id, e.user_id, e.ts, e.value, c.click_value
      FROM (SELECT event_id, user_id, ts, value FROM events
            WHERE event_type = 'purchase') e
      ASOF LEFT JOIN (SELECT user_id, ts, MAX(value) AS click_value
                      FROM events WHERE event_type = 'click'
                      GROUP BY user_id, ts) c
        ON e.user_id = c.user_id AND e.ts >= c.ts""")),

    // The same temporal join through the `FOR SYSTEM_TIME AS OF` SQL
    // surface (graft.api.TemporalJoinSql -> AsOfJoinExec).
    QueryDef("q_asof_sql", (s, dir) => {
      val e = t(s, dir, "events")
      e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        .createOrReplaceTempView("asof_purchases")
      e.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("click_value"))
        .createOrReplaceTempView("asof_clicks")
      graft.api.TableEnv(s).executeSql("""
        SELECT p.event_id, p.user_id, p.ts, p.value, c.click_value
        FROM asof_purchases p
        LEFT JOIN asof_clicks FOR SYSTEM_TIME AS OF p.ts AS c
        ON p.user_id = c.user_id""")
    }, Some("""
      SELECT e.event_id, e.user_id, e.ts, e.value, c.click_value
      FROM (SELECT event_id, user_id, ts, value FROM events
            WHERE event_type = 'purchase') e
      ASOF LEFT JOIN (SELECT user_id, ts, MAX(value) AS click_value
                      FROM events WHERE event_type = 'click'
                      GROUP BY user_id, ts) c
        ON e.user_id = c.user_id AND e.ts >= c.ts""")),

    // Interval join (reference TimeIntervalJoin.java:52): event pairs of
    // the same user within 5 minutes. Equi key + range predicate — Spark
    // plans a shuffled join on user_id with the range as post-filter.
    QueryDef("q_interval_join", (s, dir) => {
      val e = t(s, dir, "events")
      val a = e.select(col("user_id"), col("event_id").as("a_id"),
        col("ts").as("a_ts"), col("event_type").as("a_type"))
      val b = e.select(col("user_id").as("b_user"),
        col("event_id").as("b_id"), col("ts").as("b_ts"),
        col("event_type").as("b_type"))
      a.join(b, col("user_id") === col("b_user") &&
          col("a_id") < col("b_id") &&
          col("b_ts") >= col("a_ts") - expr("INTERVAL 5 MINUTES") &&
          col("b_ts") <= col("a_ts") + expr("INTERVAL 5 MINUTES"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"))
    }, Some("""
      SELECT a.user_id, COUNT(*) AS n_pairs
      FROM events a JOIN events b
        ON a.user_id = b.user_id AND a.event_id < b.event_id
        AND b.ts >= a.ts - INTERVAL 5 MINUTE
        AND b.ts <= a.ts + INTERVAL 5 MINUTE
      GROUP BY a.user_id""")),

    // Lookup join SQL route (api.LookupJoinSql): FOR SYSTEM_TIME AS OF a
    // PROCTIME() attribute executes through LookupJoin.perPartition over
    // a broadcast dim snapshot — probes never shuffle. The oracle is the
    // equivalent current-version equi-join.
    QueryDef("q_lookup_join", (s, dir) => {
      val env = graft.api.TableEnv(s)
      env.createTable("lkq_orders", graft.api.TableSpec(
        path = s"$dir/orders.parquet", proctime = Some("pt")))
      env.createTable("lkq_customer", graft.api.TableSpec(
        path = s"$dir/customer.parquet"))
      env.executeSql("""
        SELECT o.o_orderkey, o.o_custkey, c.c_name, c.c_nationkey
        FROM lkq_orders AS o
        JOIN lkq_customer FOR SYSTEM_TIME AS OF o.pt AS c
        ON o.o_custkey = c.c_custkey
        WHERE o.o_orderkey < 2000""")
    }, Some("""
      SELECT o.o_orderkey, o.o_custkey, c.c_name, c.c_nationkey
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE o.o_orderkey < 2000""")),

    // Keyless range join via bucketization (operators.RangeJoin): ship
    // events matched into promotion windows with NO equi key — the
    // bucket trick turns the nested-loop theta join into one hash
    // shuffle on a dense integer key + exact residual.
    QueryDef("q_range_join", (s, dir) => {
      val day = 86400L * 1000000L
      val pts = t(s, dir, "lineitem")
        .select(unix_micros(col("l_shipdate").cast("timestamp")).as("p"), col("l_quantity"))
      val iv = t(s, dir, "orders")
        .filter(col("o_orderkey") % 500 === 0)
        .select(col("o_orderkey"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("s"),
          unix_micros((col("o_orderdate") + expr("INTERVAL 14 DAYS")).cast("timestamp")).as("e"))
      // w = 2 days: 8 bucket replicas per 14-day interval, but ~1000
      // distinct bucket keys over the date range instead of ~140 — finer
      // keys spread the per-bucket cross product across all reducers
      // (with w = 14d this query was the slowest in the whole bench; the
      // width knob IS the perf story of the operator)
      graft.operators.RangeJoin.pointInInterval(pts, "p", iv, "s", "e", 2 * day)
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n_pts"), dsum(col("l_quantity")).as("sum_qty"))
    }, Some(s"""
      SELECT o_orderkey, COUNT(*) AS n_pts,
        ${dsumSql("l_quantity")} AS sum_qty
      FROM lineitem
      JOIN (SELECT o_orderkey, o_orderdate AS st,
              o_orderdate + INTERVAL 14 DAY AS en
            FROM orders WHERE o_orderkey % 500 = 0) iv
        ON l_shipdate BETWEEN st AND en
      GROUP BY o_orderkey""")),

    // Window join (reference WindowJoinOperator.java:66): clicks and
    // purchases bucketed into the same tumbling hour, equi-joined on
    // (window, user) — both sides pre-aggregated per bucket so the join
    // key is dense; scales as two window aggs + one co-partitioned join.
    QueryDef("q_window_join", (s, dir) => {
      val e = t(s, dir, "events")
      val clicks = e.filter(col("event_type") === "click")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_clicks"))
        .select(col("w.start").as("window_start"), col("user_id"),
          col("n_clicks"))
      val buys = e.filter(col("event_type") === "purchase")
        .groupBy(window(col("ts"), "1 hour").as("w"),
          col("user_id").as("b_user"))
        .agg(count(lit(1)).as("n_buys"))
        .select(col("w.start").as("b_start"), col("b_user"), col("n_buys"))
      clicks.join(buys, col("window_start") === col("b_start") &&
          col("user_id") === col("b_user"))
        .select(col("window_start"), col("user_id"), col("n_clicks"),
          col("n_buys"))
    }, Some("""
      WITH c AS (SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
                   user_id, COUNT(*) AS n_clicks
                 FROM events WHERE event_type = 'click' GROUP BY 1, 2),
           b AS (SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
                   user_id, COUNT(*) AS n_buys
                 FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
      SELECT c.window_start, c.user_id, c.n_clicks, b.n_buys
      FROM c JOIN b ON c.window_start = b.window_start
        AND c.user_id = b.user_id"""))
  )
}
