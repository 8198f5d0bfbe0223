package graft.api

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.functions._

class TemporalJoinSqlSpec extends SparkSpec {

  private def setup(): TableEnv = {
    val e = Tables.load(spark, sfDir, "events")
    e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .createOrReplaceTempView("tj_purchases")
    e.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("click_value"))
      .createOrReplaceTempView("tj_clicks")
    TableEnv(spark)
  }

  test("LEFT JOIN FOR SYSTEM_TIME AS OF plans AsOfJoinExec and matches the API result") {
    val env = setup()
    val sqlOut = env.executeSql("""
      SELECT p.event_id, p.user_id, c.click_value
      FROM tj_purchases p
      LEFT JOIN tj_clicks FOR SYSTEM_TIME AS OF p.ts AS c
      ON p.user_id = c.user_id""")
    assert(sqlOut.queryExecution.executedPlan.toString.contains("AsOfJoin"))
    val api = graft.operators.AsOfJoin.backward(
      spark.table("tj_purchases"), spark.table("tj_clicks"),
      "user_id", "ts", Seq("click_value"))
      .select(col("event_id"), col("user_id"), col("click_value"))
    assert(sqlOut.exceptAll(api).isEmpty && api.exceptAll(sqlOut).isEmpty)
  }

  test("inner JOIN drops left rows with no prior version") {
    val env = setup()
    val left = env.executeSql("""
      SELECT p.event_id FROM tj_purchases p
      LEFT JOIN tj_clicks FOR SYSTEM_TIME AS OF p.ts AS c
      ON p.user_id = c.user_id""").count()
    val inner = env.executeSql("""
      SELECT p.event_id FROM tj_purchases p
      JOIN tj_clicks FOR SYSTEM_TIME AS OF p.ts AS c
      ON p.user_id = c.user_id""").count()
    val matched = env.executeSql("""
      SELECT p.event_id FROM tj_purchases p
      LEFT JOIN tj_clicks FOR SYSTEM_TIME AS OF p.ts AS c
      ON p.user_id = c.user_id
      WHERE c.click_value IS NOT NULL""").count()
    assert(inner == matched && inner <= left && inner > 0)
  }

  test("right columns colliding with left names resolve via alias rewrite") {
    val env = setup()
    // c.ts collides with p.ts -> internally __r_ts; user SQL unchanged
    val out = env.executeSql("""
      SELECT p.event_id, p.ts, c.ts, c.click_value
      FROM tj_purchases p
      JOIN tj_clicks FOR SYSTEM_TIME AS OF p.ts AS c
      ON p.user_id = c.user_id""")
    assert(out.columns.toSeq == Seq("event_id", "ts", "__r_ts", "click_value"))
    // the matched version's time never exceeds the probe time
    assert(out.filter(col("__r_ts") > col("ts")).count() == 0)
  }
}
