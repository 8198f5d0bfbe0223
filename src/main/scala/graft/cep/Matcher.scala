package graft.cep

import scala.collection.mutable

/** Backtracking pattern matcher — the execution core of the CEP
  * operator, equivalent in expressive power to the reference's NFA
  * (flink-libraries/flink-cep/.../nfa/NFA.java) for the Pattern subset
  * we support: the compiled NFA and a backtracking scan accept the same
  * language; the NFA is an optimization for one-pass streaming, while we
  * re-scan the (watermark-bounded) buffer per key — simpler, and the
  * per-key buffers are small because `within` prunes them.
  */
object Matcher {

  /** AFTER MATCH skip strategies (reference: AfterMatchSkipStrategy,
    * flink-cep/.../nfa/aftermatch/). */
  sealed trait Skip extends Serializable
  object Skip {
    case object PastLastRow extends Skip
    case object ToNextRow extends Skip
    /** Resume at the first row bound to `v` (exclusive of the match
      * start — a non-advancing target raises, as the reference does). */
    final case class ToFirst(v: String) extends Skip
    /** Resume at the last row bound to `v`. */
    final case class ToLast(v: String) extends Skip
  }

  /** All matches over an event sequence (must be time-ordered), using
    * after-match SKIP PAST LAST ROW: the scan resumes after the last
    * event of each match. Leftmost-first; quantifier greediness follows
    * each step's flag. */
  def findMatches[T](events: IndexedSeq[T], tsOf: T => Long,
      pattern: Pattern[T]): Seq[Map[String, Seq[T]]] =
    findMatchesAlt(events, tsOf, Seq(pattern))

  /** Alternation (SQL `PATTERN (A B | A C)`): at each start position the
    * branches are tried in order — leftmost branch priority, as in the
    * standard — and the first that matches wins; the scan then resumes
    * per the skip strategy (SKIP PAST LAST ROW default). */
  def findMatchesAlt[T](events: IndexedSeq[T], tsOf: T => Long,
      patterns: Seq[Pattern[T]],
      skipToNextRow: Boolean = false): Seq[Map[String, Seq[T]]] =
    findMatchesSkip(events, tsOf, patterns,
      if (skipToNextRow) Skip.ToNextRow else Skip.PastLastRow).map(_._1)

  /** Core scan with a full skip strategy. Each match yields its
    * per-symbol bindings plus the ordered (symbol, eventIndex) trace —
    * the trace drives SKIP TO FIRST/LAST and RUNNING measure
    * semantics. */
  def findMatchesSkip[T](events: IndexedSeq[T], tsOf: T => Long,
      patterns: Seq[Pattern[T]], skip: Skip)
      : Seq[(Map[String, Seq[T]], Seq[(String, Int)])] = {
    def fail(msg: String): Nothing = throw new IllegalStateException(
      s"AFTER MATCH $msg")
    val out = mutable.ArrayBuffer.empty[(Map[String, Seq[T]], Seq[(String, Int)])]
    var i = 0
    while (i < events.length) {
      val hit = patterns.iterator
        .map(p => tryFromIdx(events, i, tsOf, p))
        .collectFirst { case Some(m) => m }
      hit match {
        case Some((endExclusive, bindings, idxs)) =>
          val trace = idxs.toSeq
            .flatMap { case (name, is) => is.map(j => (name, j)) }
            .sortBy(_._2)
          out += ((bindings, trace))
          i = skip match {
            case Skip.PastLastRow => math.max(endExclusive, i + 1)
            case Skip.ToNextRow => i + 1
            case Skip.ToFirst(v) =>
              val j = idxs.getOrElse(v, Seq.empty).headOption.getOrElse(
                fail(s"SKIP TO FIRST $v: variable bound no rows in match"))
              if (j <= i) fail(s"SKIP TO FIRST $v would not advance " +
                "(infinite loop)")
              j
            case Skip.ToLast(v) =>
              val j = idxs.getOrElse(v, Seq.empty).lastOption.getOrElse(
                fail(s"SKIP TO LAST $v: variable bound no rows in match"))
              if (j <= i) fail(s"SKIP TO LAST $v would not advance " +
                "(infinite loop)")
              j
          }
        case None => i += 1
      }
    }
    out.toSeq
  }

  /** Attempt one match starting exactly at `start` (the first step's
    * first event must be events(start) unless the first step is
    * optional). Returns (end index exclusive, bindings). */
  def tryFrom[T](events: IndexedSeq[T], start: Int, tsOf: T => Long,
      pattern: Pattern[T]): Option[(Int, Map[String, Seq[T]])] =
    tryFromIdx(events, start, tsOf, pattern).map { case (e, b, _) => (e, b) }

  /** As tryFrom, also returning the bound event INDICES per symbol.
    *
    * Execution is a continuation-passing backtracking scan: each element
    * (single step or quantified GROUP) consumes events and calls the
    * continuation with the advanced state; a group is a loop over its
    * sub-sequence — the NFA loop state of the reference's GroupPattern
    * (flink-cep/.../nfa/compiler/NFACompiler.java group states), NOT an
    * unrolling, so `(A B)+` works unbounded. `events` must be ordered
    * by `tsOf` ascending: a step's scan stops at the first event past
    * `within`. */
  def tryFromIdx[T](events: IndexedSeq[T], start: Int, tsOf: T => Long,
      pattern: Pattern[T])
      : Option[(Int, Map[String, Seq[T]], Map[String, Seq[Int]])] = {
    type Res = Option[(Int, Map[String, Seq[T]], Map[String, Seq[Int]])]
    // continuation: (pos, firstTs, bindings, boundIndices)
    type K = (Int, Long, Map[String, Seq[T]], Map[String, Seq[Int]]) => Res

    // fold negated steps into the FOLLOWING positive step as a
    // forbidden-gap predicate (reference: notFollowedBy / notNext NFA
    // edges; strict = notNext checks only the immediately-next event)
    sealed trait ExecElem
    case class ExecStep(step: Step[T],
        forbidden: Option[(T, Map[String, Seq[T]]) => Boolean],
        forbiddenStrict: Boolean) extends ExecElem
    case class ExecGroup(group: GroupStep[T], sub: Vector[ExecElem])
        extends ExecElem

    def fold(elems: Vector[PElem[T]]): Vector[ExecElem] = {
      elems.lastOption.foreach {
        case s: Step[T] => require(!s.negated,
          "notFollowedBy/notNext cannot be the last pattern step")
        case _ =>
      }
      val out = Vector.newBuilder[ExecElem]
      var pendingNeg: Option[(T, Map[String, Seq[T]]) => Boolean] = None
      var pendingNegStrict = false
      elems.foreach {
        case s: Step[T] if s.negated =>
          pendingNeg = Some(s.predicate); pendingNegStrict = s.strict
        case s: Step[T] =>
          out += ExecStep(s, pendingNeg, pendingNegStrict)
          pendingNeg = None; pendingNegStrict = false
        case g: GroupStep[T] =>
          require(pendingNeg.isEmpty,
            "notFollowedBy/notNext directly before a pattern group is " +
              "not supported — put the absence step inside the group")
          out += ExecGroup(g, fold(g.sub))
      }
      out.result()
    }
    val topElems = fold(pattern.steps)
    val withinMs = pattern.withinMs

    // `anchored`: the first element's first event must be events(pos)
    // (pattern start, strict contiguity, or a group copy that must not
    // slide)
    def matchSeq(elems: Vector[ExecElem], idx: Int, pos: Int, firstTs: Long,
        acc: Map[String, Seq[T]], accIdx: Map[String, Seq[Int]],
        anchored: Boolean)(k: K): Res = {
      if (idx == elems.length) return k(pos, firstTs, acc, accIdx)
      val anchorHere = anchored && idx == 0
      elems(idx) match {
        case eg: ExecGroup =>
          matchGroup(eg, pos, firstTs, acc, accIdx, anchorHere) {
            (p2, f2, a2, ai2) =>
              matchSeq(elems, idx + 1, p2, f2, a2, ai2, anchored)(k)
          }
        case es: ExecStep =>
          matchStep(es, pos, firstTs, acc, accIdx, anchorHere) {
            (p2, f2, a2, ai2) =>
              matchSeq(elems, idx + 1, p2, f2, a2, ai2, anchored)(k)
          }
      }
    }

    /** Loop over the group's sub-sequence min..max times (greedy tries
      * one-more-copy before stopping; reluctant the reverse). A copy
      * that consumes no events ends the loop — an empty body can never
      * advance the NFA (guards optional-only groups from spinning). */
    def matchGroup(eg: ExecGroup, pos: Int, firstTs: Long,
        acc: Map[String, Seq[T]], accIdx: Map[String, Seq[Int]],
        anchored: Boolean)(k: K): Res = {
      val g = eg.group
      def loop(count: Int, p: Int, f: Long,
          a: Map[String, Seq[T]], ai: Map[String, Seq[Int]]): Res = {
        def stop: Res = if (count >= g.minRepeat) k(p, f, a, ai) else None
        def more: Res =
          if (count >= g.maxRepeat) None
          else matchSeq(eg.sub, 0, p, f, a, ai,
              anchored =
                if (count == 0) anchored || g.strict else g.copiesStrict) {
            (p2, f2, a2, ai2) =>
              if (p2 == p) None // empty copy: stop the loop
              else loop(count + 1, p2, f2, a2, ai2)
          }
        if (g.greedy) more.orElse(stop) else stop.orElse(more)
      }
      loop(0, pos, firstTs, acc, accIdx)
    }

    def matchStep(es: ExecStep, pos: Int, firstTs: Long,
        acc: Map[String, Seq[T]], accIdx: Map[String, Seq[Int]],
        anchored: Boolean)(k: K): Res = {
      val step = es.step
      def withinOk(e: T, f: Long): Boolean =
        f == Long.MinValue || tsOf(e) - f <= withinMs
      def untilHit(e: T): Boolean = step.until.exists(_(e, acc))
      // notNext: the event immediately after the previous step may not
      // match the forbidden condition (regardless of where this step
      // eventually matches)
      if (es.forbiddenStrict) {
        es.forbidden.foreach { f =>
          if (pos < events.length && f(events(pos), acc)) return None
        }
      }
      // where may this step's run begin?
      val startPositions: Iterator[Int] =
        if (anchored || step.strict) Iterator.single(pos)
        else Iterator.range(pos, events.length + 1) // +1 allows empty-at-end
      for (sp <- startPositions) {
        // events are time-ordered: once a start lies past `within`, so
        // does every later one, and a non-optional step binds nothing
        if (step.minRepeat > 0 && sp < events.length &&
            !withinOk(events(sp), firstTs)) return None
        // notFollowedBy: the gap skipped over may not contain a
        // forbidden event; once one appears, no later start can work
        if (!es.forbiddenStrict) es.forbidden.foreach { f =>
          if ((pos until sp).exists(i => f(events(i), acc))) return None
        }
        // candidate repeat positions from sp: consecutive by default;
        // with relaxedRepeat, non-matching events in between are skipped
        // (Flink's skip-till-next inside loops); `until` ends the run
        val runIdx = scala.collection.mutable.ArrayBuffer.empty[Int]
        if (step.relaxedRepeat && !step.strict) {
          var j = sp
          var stop = false
          while (!stop && j < events.length && runIdx.length < step.maxRepeat) {
            val e = events(j)
            if (!withinOk(e, firstTs) || untilHit(e)) stop = true
            else {
              if (step.predicate(e, acc)) runIdx += j
              // an anchored first step must take events(start) itself;
              // only LATER repeat elements may skip over non-matches
              else if (anchored && runIdx.isEmpty) stop = true
              j += 1
            }
          }
        } else {
          var j = sp
          while (j < events.length && runIdx.length < step.maxRepeat && {
            val e = events(j)
            step.predicate(e, acc) && withinOk(e, firstTs) && !untilHit(e)
          }) { runIdx += j; j += 1 }
        }
        val maxRun = runIdx.length
        if (maxRun >= step.minRepeat || step.minRepeat == 0) {
          val lo = math.max(step.minRepeat, 0)
          val hi = math.min(maxRun, step.maxRepeat)
          val counts: Seq[Int] =
            if (hi < lo) Seq.empty
            else if (step.greedy) hi to lo by -1 else lo to hi
          val candidateCounts =
            if (step.minRepeat == 0 && !counts.contains(0)) counts :+ 0
            else counts
          for (c <- candidateCounts) {
            val takenIdx = runIdx.take(c).toSeq
            val taken = takenIdx.map(events)
            val f2 =
              if (firstTs != Long.MinValue) firstTs
              else if (c > 0) tsOf(taken.head)
              else Long.MinValue
            // APPEND to any earlier binding of the same name — a symbol
            // repeats across group-loop iterations
            k(if (c > 0) runIdx(c - 1) + 1 else sp, f2,
                acc.updated(step.name,
                  acc.getOrElse(step.name, Seq.empty) ++ taken),
                accIdx.updated(step.name,
                  accIdx.getOrElse(step.name, Seq.empty) ++ takenIdx)) match {
              case s @ Some(_) => return s
              case None =>
            }
          }
        }
        // a strict step (or the anchored first step) may not slide
        if (anchored || step.strict) return None
      }
      None
    }

    matchSeq(topElems, 0, start, Long.MinValue, Map.empty, Map.empty,
      anchored = true) { (pos, _, acc, accIdx) =>
      if (acc.valuesIterator.exists(_.nonEmpty)) Some((pos, acc, accIdx))
      else None
    }
  }
}
