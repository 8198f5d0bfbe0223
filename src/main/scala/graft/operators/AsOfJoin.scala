package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.plans.{AsOfJoinPlan, AsOfJoinStrategy}

/** Batch as-of (temporal) join — reference: temporal/versioned-table join
  * `FOR SYSTEM_TIME AS OF` (flink-table-runtime/.../operators/join/temporal/
  * TemporalRowTimeJoinOperator.java:78).
  *
  * For each left row, attach the latest right row whose timestamp is <=
  * the left row's timestamp, per key ("backward", inclusive), or nulls.
  * Null keys and timestamps never match (SQL semantics).
  *
  * Plans [[graft.plans.AsOfJoinPlan]]: both sides hash-distributed on the
  * key and sorted by (key, ts), then one linear merge pass per partition
  * (graft.plans.AsOfJoinExec). Timestamps may be of any orderable type.
  *
  * The right side must be unique per (key, ts); pre-aggregate if not.
  */
object AsOfJoin {

  /** @param left       probe side
    * @param right      versioned side, unique per (key, ts)
    * @param key        join key column name (same name both sides)
    * @param ts         event-time column name (same name both sides)
    * @param rightVals  right columns to carry onto left rows
    */
  def backward(left: DataFrame, right: DataFrame, key: String, ts: String,
      rightVals: Seq[String]): DataFrame =
    backward(left, right, key, key, ts, ts, rightVals)

  /** General form with distinct column names per side (the SQL
    * `FOR SYSTEM_TIME AS OF` surface needs this). Registers the strategy
    * on the session (idempotent). */
  def backward(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, leftTs: String, rightTs: String,
      rightVals: Seq[String]): DataFrame = {
    val spark: SparkSession = left.sparkSession
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
    val lPlan = ColumnBridge.analyzedPlan(left)
    // re-alias the right side so its attribute ids can never collide
    // with the left's (both sides often derive from the same base
    // DataFrame; ambiguous ids would let the optimizer collapse the
    // right key/ts onto the left's and mis-prune the right child)
    val rPlanRaw = ColumnBridge.analyzedPlan(right)
    val rPlan: LogicalPlan =
      Project(rPlanRaw.output.map(a => Alias(a, a.name)()), rPlanRaw)
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"no column $n"))
    val (lk, rk) = (attr(lPlan, leftKey), attr(rPlan, rightKey))
    val (lts, rts) = (attr(lPlan, leftTs), attr(rPlan, rightTs))
    // the merge compares both sides with one ordering per column pair
    Seq(lk -> rk, lts -> rts).foreach { case (l, r) =>
      require(l.dataType == r.dataType, s"as-of join: ${l.name} is " +
        s"${l.dataType.simpleString} but ${r.name} is ${r.dataType.simpleString}")
    }
    val plan = AsOfJoinPlan(lPlan, rPlan, lk, rk, lts, rts,
      rightVals.map(attr(rPlan, _)))
    ColumnBridge.ofRows(spark, plan)
  }
}
