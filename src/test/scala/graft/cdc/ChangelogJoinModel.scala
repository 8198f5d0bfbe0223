package graft.cdc

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The test reference for the changelog ⋈ changelog join: a
  * single-threaded simulator of the streaming join operator (state
  * multisets + outer association counting, events processed in
  * (seq, side) order — StreamingJoinOperator/OuterJoinRecordStateViews
  * semantics), written apart from [[ChangelogJoinKernel]]. A change
  * under a null join key never matches and never associates: it only
  * pads. */
object ChangelogJoinModel {

  /** A payload: (key, tag); its identity is the pair. */
  type P = (String, Int)
  /** A change event: (side 0|1, key, tag, kind, seq). */
  type Event = (Int, String, Int, String, Long)
  /** One emitted row: (driving seq, driving side, left payload or
    * None, right payload or None, kind). */
  type Emit = (Long, Int, Option[P], Option[P], String)

  def simulate(events: Seq[Event], joinType: String): Seq[Emit] = {
    def w(kind: String) = if (kind == "+I" || kind == "+U") 1 else -1
    // state per side: key -> content(tag) -> net count
    val state = Array.fill(2)(mutable.Map.empty[String, mutable.Map[Int, Int]])
    val padsLeft = joinType == "left" || joinType == "full"
    val padsRight = joinType == "right" || joinType == "full"
    val out = mutable.ArrayBuffer.empty[Emit]
    // process in (seq, side): left first on equal seq
    for ((side, key, tag, kind, seq) <- events.sortBy(e => (e._5, e._1))) {
      val padsOwn = if (side == 0) padsLeft else padsRight
      def padded: Emit =
        if (side == 0) (seq, side, Some((key, tag)), None, kind)
        else (seq, side, None, Some((key, tag)), kind)
      if (key == null) {
        if (padsOwn) out += padded
      } else {
        val mine = state(side).getOrElseUpdate(key, mutable.Map.empty)
        val other = state(1 - side).getOrElse(key, mutable.Map.empty[Int, Int])
        val live = other.toSeq.filter(_._2 > 0)
        if (live.nonEmpty) {
          for ((oTag, cnt) <- live; _ <- 1 to cnt) out +=
            (if (side == 0) (seq, side, Some((key, tag)), Some((key, oTag)), kind)
            else (seq, side, Some((key, oTag)), Some((key, tag)), kind))
        } else if (padsOwn) {
          // no live match: the null-padded row in the event's kind
          out += padded
        }
        // association-count transition for the OTHER side's padding
        val cb = mine.values.sum
        val ca = cb + w(kind)
        val otherPads = if (side == 0) padsRight else padsLeft
        val transKind =
          if (!otherPads) None
          else if (cb == 0 && w(kind) > 0) Some("-U")
          else if (ca == 0 && w(kind) < 0) Some("+U")
          else None
        transKind.foreach { tk =>
          for ((oTag, cnt) <- live; _ <- 1 to cnt) out +=
            (if (side == 0) (seq, side, None, Some((key, oTag)), tk)
            else (seq, side, Some((key, oTag)), None, tk))
        }
        // apply the event to its own state
        mine(tag) = mine.getOrElse(tag, 0) + w(kind)
      }
    }
    out.toSeq
  }

  /** The events as the two sides' changelogs: (lk, ltag, kind, lseq)
    * and (rk, rtag, kind, rseq). */
  def frames(spark: SparkSession, events: Seq[Event]): (DataFrame, DataFrame) = {
    import spark.implicits._
    def side(s: Int, k: String, tag: String, seq: String): DataFrame =
      events.filter(_._1 == s).map(e => (e._2, e._3, e._4, e._5))
        .toDF(k, tag, ChangelogFormats.RowKindCol, seq)
    (side(0, "lk", "ltag", "lseq"), side(1, "rk", "rtag", "rseq"))
  }

  /** The joined stream of [[frames]] as emissions; a side is present
    * when its tag is (its key may be null). */
  def emissions(df: DataFrame): Seq[Emit] =
    df.collect().toSeq.map { row =>
      def opt(k: String, t: String): Option[P] =
        if (row.isNullAt(row.fieldIndex(t))) None
        else Some((row.getString(row.fieldIndex(k)),
          row.getInt(row.fieldIndex(t))))
      (row.getLong(row.fieldIndex("__seq_0")),
        row.getInt(row.fieldIndex("__side")),
        opt("lk", "ltag"), opt("rk", "rtag"),
        row.getString(row.fieldIndex(ChangelogFormats.RowKindCol)))
    }

  def multiset[T](xs: Seq[T]): Map[T, Int] =
    xs.groupBy(identity).view.mapValues(_.size).toMap
}
