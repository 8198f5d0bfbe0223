package graft.plans

import graft.SparkSpec
import graft.core.Tables
import graft.operators.AsOfJoin
import org.apache.spark.sql.functions._

class AsOfJoinPlanSpec extends SparkSpec {

  private def purchases = Tables.load(spark, sfDir, "events")
    .filter(col("event_type") === "purchase")
    .select(col("event_id"), col("user_id"), col("ts"), col("value"))
  private def clicks = Tables.load(spark, sfDir, "events")
    .filter(col("event_type") === "click")
    .groupBy(col("user_id"), col("ts"))
    .agg(max(col("value")).as("click_value"))

  test("planned as-of join matches the union-sort formulation") {
    val planned = AsOfJoin.backward(purchases, clicks,
      "user_id", "ts", Seq("click_value"))
    // reference: a plain left range join on the key with r.ts <= l.ts,
    // then the click_value of the largest r.ts per left row (clicks are
    // unique per (user_id, ts))
    val p = purchases.as("l")
    val reference = p
      .join(clicks.as("r"), col("l.user_id") === col("r.user_id") &&
        col("r.ts") <= col("l.ts"), "left")
      .groupBy(p.columns.map(c => col(s"l.$c")): _*)
      .agg(max_by(col("r.click_value"), col("r.ts")).as("click_value"))
    assert(planned.count() == purchases.count())
    assert(planned.exceptAll(reference).isEmpty &&
      reference.exceptAll(planned).isEmpty)
  }

  test("physical plan is AsOfJoinExec with exchanges and sorts") {
    val planned = AsOfJoin.backward(purchases, clicks,
      "user_id", "ts", Seq("click_value"))
    val p = planned.queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin ")) // nodeName (Spark strips "Exec")
    assert(p.contains("Sort ["))
    assert(p.contains("Exchange hashpartitioning"))
  }

  test("left rows before any version get nulls") {
    import spark.implicits._
    val l = Seq((1L, 100L, 5.0), (2L, 300L, 6.0))
      .toDF("id", "k", "v")
      .withColumn("ts", org.apache.spark.sql.functions
        .timestamp_millis(col("id") * 1000))
      .select(col("k"), col("ts"), col("id"), col("v"))
    val r = Seq((100L, 1L, 7.0)).toDF("k", "rid", "rv")
      .withColumn("ts", org.apache.spark.sql.functions
        .timestamp_millis(col("rid") * 2000))
      .select(col("k"), col("ts"), col("rv"))
    val out = AsOfJoin.backward(l, r, "k", "ts", Seq("rv"))
      .collect().map(row => row.getAs[Long]("k") -> Option(row.get(4)))
      .toMap
    assert(out(100L) == None)      // right ts 2000 > left ts 1000
    assert(out(300L) == None)      // no right rows for key 300
  }

  test("rejects key or timestamp columns of different types") {
    import spark.implicits._
    val l = Seq((1L, 10L)).toDF("k", "ts")
    val r = Seq((1L, 10, 2.0)).toDF("k", "ts", "rv") // int ts vs bigint
    intercept[IllegalArgumentException](
      AsOfJoin.backward(l, r, "k", "ts", Seq("rv")))
  }
}
