package graft.api

import scala.util.matching.Regex

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** `FOR SYSTEM_TIME AS OF` SQL surface — reference: Flink's event-time
  * temporal table join (LogicalCorrelateToJoinFromTemporalTableRule in
  * FlinkStreamRuleSets.scala; runtime TemporalRowTimeJoinOperator.java).
  *
  * Supported form:
  * {{{
  * SELECT <cols>
  * FROM <left> [AS] l
  * [LEFT] JOIN <right> FOR SYSTEM_TIME AS OF l.<ts> [AS] r
  * ON l.<key> = r.<key>
  * [WHERE <pred>]
  * }}}
  * Plans the as-of join operator ([[graft.operators.AsOfJoin.backward]]:
  * co-partitioned single-pass merge, graft.plans.AsOfJoinExec). The
  * versioned table must be unique per (key, version time). The right
  * side's version-time column is the table's declared watermark column
  * when registered via TableEnv.createTable, else the column named like
  * the left time attribute.
  *
  * Inner JOIN drops rows with no prior version (Flink semantics); LEFT
  * JOIN null-pads. Right columns whose names collide with left columns
  * are exposed as `__r_<name>` internally; the outer SELECT's `r.x`
  * references are rewritten accordingly, so user SQL stays unchanged.
  */
object TemporalJoinSql {

  private[api] val P: Regex =
    ("""(?is)^\s*SELECT\s+(.*?)\s+FROM\s+([\w.]+)(?:\s+AS)?\s+(\w+)\s+""" +
      """(LEFT\s+)?JOIN\s+([\w.]+)\s+FOR\s+SYSTEM_TIME\s+AS\s+OF\s+""" +
      """(\w+)\.(\w+)(?:\s+AS)?\s+(\w+)\s+""" +
      """ON\s+(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)""" +
      """(?:\s+WHERE\s+(.*?))?\s*;?\s*$""").r

  def matches(sql: String): Boolean =
    sql.toUpperCase.contains("FOR SYSTEM_TIME AS OF")

  def execute(spark: SparkSession, sql: String,
      rightTsLookup: String => Option[String]): DataFrame = {
    val m = P.findFirstMatchIn(sql).getOrElse(throw new IllegalArgumentException(
      "FOR SYSTEM_TIME AS OF: expected SELECT ... FROM t [AS] a " +
        "[LEFT] JOIN v FOR SYSTEM_TIME AS OF a.ts [AS] b ON a.k = b.k [WHERE ...]"))
    val outerSelect = m.group(1).trim
    val (leftTable, leftAlias) = (m.group(2), m.group(3))
    val leftOuter = m.group(4) != null
    val (rightTable, rightAlias) = (m.group(5), m.group(8))
    val (tsAlias, leftTs) = (m.group(6), m.group(7))
    val (onA, onACol, onB, onBCol) = (m.group(9), m.group(10), m.group(11), m.group(12))
    val whereClause = Option(m.group(13)).map(_.trim)

    if (tsAlias != leftAlias) throw new IllegalArgumentException(
      s"FOR SYSTEM_TIME AS OF must reference the left time attribute " +
        s"($tsAlias vs $leftAlias)")
    val (leftKey, rightKey) =
      if (onA == leftAlias && onB == rightAlias) (onACol, onBCol)
      else if (onA == rightAlias && onB == leftAlias) (onBCol, onACol)
      else throw new IllegalArgumentException(
        s"ON clause must equate $leftAlias.<col> = $rightAlias.<col>")

    val left = spark.table(leftTable)
    val right0 = spark.table(rightTable)
    val rightTs0 = rightTsLookup(rightTable).getOrElse(leftTs)
    if (!right0.columns.contains(rightTs0)) throw new IllegalArgumentException(
      s"versioned table $rightTable has no time column $rightTs0 " +
        "(declare a watermark via TableEnv.createTable)")

    // rename right columns that collide with left columns
    val leftCols = left.columns.toSet
    val renames = right0.columns.filter(leftCols.contains)
      .map(c => c -> s"__r_$c").toMap
    val right = renames.foldLeft(right0) { case (df, (o, n)) =>
      df.withColumnRenamed(o, n)
    }
    val rightKey2 = renames.getOrElse(rightKey, rightKey)
    val rightTs2 = renames.getOrElse(rightTs0, rightTs0)

    val joined0 = graft.operators.AsOfJoin.backward(left, right,
      leftKey, rightKey2, leftTs, rightTs2, right.columns.toSeq)
    // inner temporal join drops left rows with no prior version; the
    // (non-null) right key doubles as the match marker
    val joined = if (leftOuter) joined0
      else joined0.filter(col(rightKey2).isNotNull)

    def rewrite(s: String): String = {
      var out = s
      out = out.replaceAll(s"(?i)\\b${Regex.quote(rightAlias)}\\.(\\w+)", "__R__$1")
      out = out.replaceAll(s"(?i)\\b${Regex.quote(leftAlias)}\\.(\\w+)", "$1")
      renames.foreach { case (o, n) =>
        out = out.replaceAll(s"__R__${Regex.quote(o)}\\b", n)
      }
      out.replaceAll("__R__", "")
    }

    val v = s"__tj_${java.util.UUID.randomUUID.toString.replace("-", "")}"
    joined.createOrReplaceTempView(v)
    val where = whereClause.map(w => s" WHERE ${rewrite(w)}").getOrElse("")
    // analysis resolves the view subtree eagerly — drop the scratch
    // view so repeated statements don't grow the session catalog
    val out = spark.sql(s"SELECT ${rewrite(outerSelect)} FROM $v$where")
    spark.catalog.dropTempView(v)
    out
  }
}
