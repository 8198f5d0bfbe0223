package graft.api

import scala.util.matching.Regex

/** Flink SQL dialect shim: translates the reference's SQL extensions to
  * Spark SQL so existing queries run unchanged through
  * `TableEnv.executeSql`. Reference grammar: the FMPP-extended Calcite
  * parser (flink-table/flink-sql-parser/src/main/codegen/; window TVFs
  * in FlinkSqlOperatorTable.java).
  *
  * Supported rewrites:
  *  - `TABLE(TUMBLE(TABLE t, DESCRIPTOR(ts), INTERVAL 'n' UNIT))` →
  *    subquery projecting window_start / window_end via `window()`
  *  - `TABLE(HOP(TABLE t, DESCRIPTOR(ts), slide, size))` → same with
  *    sliding `window()` (Spark's TimeWindowing rule expands each row
  *    into its windows, the TVF semantics)
  *  - `TABLE(CUMULATE(TABLE t, DESCRIPTOR(ts), step, max))` → explode
  *    of cumulative window ends (graft.operators.TimeWindows shape)
  *  - legacy group windows: `GROUP BY TUMBLE/HOP/SESSION(ts, i)` →
  *    `window()`/`session_window()` grouping, with the
  *    `TUMBLE_/HOP_/SESSION_START|END` selectors → grouping-struct
  *    fields and `*_ROWTIME` → end − 1 ms (the reference's rowtime
  *    attribute)
  *  - `PROCTIME()` → `current_timestamp()`
  *  - `LISTAGG(x)` → `concat_ws(',', collect_list(x))`
  *  - `SPLIT_INDEX` passes through (registered native function)
  *
  * Not translated HERE (routed upstream): `MATCH_RECOGNIZE` →
  * `cep.MatchRecognize` and `FOR SYSTEM_TIME AS OF` →
  * `api.TemporalJoinSql`; `TableEnv.executeSql` dispatches both before
  * dialect rewriting, so they only throw if this object is called
  * directly (the message points at executeSql).
  */
object FlinkSqlDialect {

  private val IntervalP = """INTERVAL\s+'(\d+)'\s+(\w+)"""

  // trailing optional interval: the TVF `offset` argument
  // (SliceAssigners.java:46 — shifts the window alignment; Spark's
  // window() exposes the same knob as startTime)
  private val OffsetP = """(?:\s*,\s*INTERVAL\s+'(\d+)'\s+(\w+))?"""

  private val Tumble: Regex =
    ("""(?is)TABLE\s*\(\s*TUMBLE\s*\(\s*TABLE\s+(\w+)\s*,\s*""" +
      """DESCRIPTOR\s*\(\s*(\w+)\s*\)\s*,\s*""" + IntervalP + OffsetP +
      """\s*\)\s*\)""").r

  private val Hop: Regex =
    ("""(?is)TABLE\s*\(\s*HOP\s*\(\s*TABLE\s+(\w+)\s*,\s*""" +
      """DESCRIPTOR\s*\(\s*(\w+)\s*\)\s*,\s*""" + IntervalP + """\s*,\s*""" +
      IntervalP + OffsetP + """\s*\)\s*\)""").r

  private val Cumulate: Regex =
    ("""(?is)TABLE\s*\(\s*CUMULATE\s*\(\s*TABLE\s+(\w+)\s*,\s*""" +
      """DESCRIPTOR\s*\(\s*(\w+)\s*\)\s*,\s*""" + IntervalP + """\s*,\s*""" +
      IntervalP + """\s*\)\s*\)""").r

  private val Session: Regex =
    ("""(?is)TABLE\s*\(\s*SESSION\s*\(\s*TABLE\s+(\w+)""" +
      """(?:\s+PARTITION\s+BY\s+([\w]+(?:\s*,\s*[\w]+)*))?\s*,\s*""" +
      """DESCRIPTOR\s*\(\s*(\w+)\s*\)\s*,\s*""" + IntervalP + """\s*\)\s*\)""").r

  private def seconds(n: String, unit: String): Long = {
    val mult = unit.toUpperCase match {
      case "SECOND" | "SECONDS" => 1L
      case "MINUTE" | "MINUTES" => 60L
      case "HOUR" | "HOURS" => 3600L
      case "DAY" | "DAYS" => 86400L
      case u => throw new IllegalArgumentException(s"interval unit $u")
    }
    n.toLong * mult
  }

  /** SQL SIMILAR TO pattern -> Java regex: % -> .* and _ -> . and
    * literal-dot escaping apply OUTSIDE bracket character classes only;
    * everything inside [...] is copied verbatim (SQL and Java regex
    * classes agree). A '\'-escaped character is copied through. */
  private[api] def similarToRegex(p: String): String = {
    val sb = new StringBuilder
    var inClass = false
    var i = 0
    while (i < p.length) {
      val c = p.charAt(i)
      if (c == '\\' && i + 1 < p.length) { // escaped char passes through
        sb.append(c).append(p.charAt(i + 1)); i += 1
      } else if (inClass) {
        sb.append(c)
        if (c == ']') inClass = false
      } else c match {
        case '[' => inClass = true; sb.append(c)
        case '%' => sb.append(".*")
        case '_' => sb.append('.')
        case '.' => sb.append("\\.")
        case other => sb.append(other)
      }
      i += 1
    }
    sb.toString
  }

  def translate(sql: String): String = {
    require(!sql.toUpperCase.contains("MATCH_RECOGNIZE"),
      "MATCH_RECOGNIZE: route through TableEnv.executeSql " +
        "(graft.cep.MatchRecognize)")
    require(!sql.toUpperCase.contains("FOR SYSTEM_TIME AS OF"),
      "temporal join: use graft.operators.AsOfJoin / graft.streaming.StreamingAsOf")

    var out = sql

    // EXPLAIN [PLAN FOR | <ExplainDetail,...>] <query> — reference
    // docs/.../sql/explain.md. ESTIMATED_COST → Spark EXPLAIN COST,
    // JSON_EXECUTION_PLAN → EXPLAIN FORMATTED; CHANGELOG_MODE /
    // PLAN_ADVICE have no Spark analogue — raise, don't silently drop.
    out = out.replaceAll("(?is)^\\s*EXPLAIN\\s+PLAN\\s+FOR\\s+", "EXPLAIN ")
    if ("""(?is)^\s*EXPLAIN\s""".r.findFirstIn(out).isDefined) {
      require(!"""(?i)\bCHANGELOG_MODE\b""".r.findFirstIn(out).isDefined,
        "EXPLAIN CHANGELOG_MODE: Spark plans carry no changelog kinds — " +
          "inspect the graft.cdc operators' __row_kind column instead")
      require(!"""(?i)\bPLAN_ADVICE\b""".r.findFirstIn(out).isDefined,
        "EXPLAIN PLAN_ADVICE: no Spark analogue — use EXPLAIN " +
          "ESTIMATED_COST (cost-based details) or Spark's AQE logs")
      out = out.replaceAll("(?is)^(\\s*EXPLAIN)\\s+ESTIMATED_COST\\s+",
        "$1 COST ")
      out = out.replaceAll("(?is)^(\\s*EXPLAIN)\\s+JSON_EXECUTION_PLAN\\s+",
        "$1 FORMATTED ")
    }

    // Join hints (reference docs/content/docs/dev/table/sql/queries/
    // hints.md): BROADCAST and SHUFFLE_HASH share Spark's hint names and
    // pass through; the other two map onto Spark's equivalents. LOOKUP /
    // STATE_TTL / OPTIONS are streaming-runtime hints with no Spark
    // analogue — raise with a pointer instead of silently dropping them.
    // Both the guards and the renames operate ONLY inside /*+ ... */
    // hint blocks (anywhere in the block, not just leading position), so
    // string literals and identifiers that happen to contain a hint name
    // are never touched.
    val hintBlock = """(?s)/\*\+.*?\*/""".r
    hintBlock.findAllIn(out).foreach { block =>
      require(!"""(?i)\bOPTIONS\s*\(""".r.findFirstIn(block).isDefined,
        "OPTIONS hint: dynamic table options are applied by " +
          "TableEnv.executeSql (table-registry context) — route the " +
          "query through a TableEnv instead of FlinkSqlDialect.translate")
      require(!"""(?i)\bLOOKUP\s*\(""".r.findFirstIn(block).isDefined,
        "LOOKUP hint: supported only on a lookup join — SELECT /*+ " +
          "LOOKUP(...) */ ... JOIN dim FOR SYSTEM_TIME AS OF o.<proctime> " +
          "via TableEnv.executeSql (api.LookupJoinSql); or use " +
          "graft.operators.LookupJoin / AsyncLookupJoin directly")
      require(!"""(?i)\bSTATE_TTL\s*\(""".r.findFirstIn(block).isDefined,
        "STATE_TTL hint: this SQL surface executes batch semantics " +
          "where state TTL has no meaning; on streams use the operator " +
          "knobs — StreamingChangelogJoin.join(stateTtlMs=...), " +
          "StreamingChangelogAgg.updateStream(stateTtlMs=...), " +
          "StatefulOps.keepLast(stateTtlMs=...)")
    }
    out = hintBlock.replaceAllIn(out, m =>
      Regex.quoteReplacement(m.matched
        .replaceAll("(?i)\\bSHUFFLE_MERGE\\s*\\(", "MERGE(")
        .replaceAll("(?i)\\bNEST_LOOP\\s*\\(", "SHUFFLE_REPLICATE_NL(")))

    // CROSS JOIN UNNEST (reference docs .../sql/queries/joins.md "Array
    // Expansion"): Spark spells it LATERAL VIEW — explode for a single
    // output column, inline for array-of-row expanded to n columns.
    val unnestArgs = """UNNEST\s*\(([^()]*(?:\([^()]*\)[^()]*)*)\)"""
    // WITH ORDINALITY (reference: value column first, 1-BASED ordinal
    // last) has no direct LATERAL VIEW form — posexplode's pos is
    // 0-based and column-first, and its alias can't re-order columns.
    // Rewrite instead to inline over the array zipped with a 1-based
    // index: arrays_zip(e, sequence(1, size(e))) pairs each element
    // with its ordinal in (value, ord) order, which inline expands into
    // two named columns. sequence(1, 0) would DESCEND for an empty
    // array (arrays_zip null-pads to the longer side), so the sequence
    // is floored at one element and the zip sliced back to size(e) —
    // empty arrays and NULL arrays both yield zero rows, matching
    // CROSS JOIN UNNEST.
    val UnnestOrd =
      ("""(?is)CROSS\s+JOIN\s+""" + unnestArgs +
        """\s+WITH\s+ORDINALITY\s+AS\s+(\w+)\s*\((\w+(?:\s*,\s*\w+)*)\)""").r
    UnnestOrd.findAllMatchIn(out).foreach { m =>
      val cols = m.group(3).split(",").map(_.trim)
      require(cols.length == 2,
        s"UNNEST WITH ORDINALITY AS ${m.group(2)}(${m.group(3)}): " +
          "supported for single-column arrays — AS alias(value, ord); " +
          "for array-of-row expansion use posexplode + field access " +
          "directly")
      val rest = out.substring(m.end)
      require(!"""(?is)^\s*(?:(?:LEFT|RIGHT|FULL|INNER|CROSS)\s+)*(?:OUTER\s+)?JOIN\b"""
          .r.findFirstIn(rest).isDefined,
        "CROSS JOIN UNNEST followed by another JOIN: Spark's LATERAL " +
          "VIEW must come after all join relations — move the UNNEST " +
          "clause after the other joins")
    }
    out = UnnestOrd.replaceAllIn(out, m => {
      val (expr, alias) = (m.group(1), m.group(2))
      val Array(v, ord) = m.group(3).split(",").map(_.trim)
      Regex.quoteReplacement(
        s"LATERAL VIEW inline(slice(arrays_zip($expr, " +
          s"sequence(1, greatest(size($expr), 1))), 1, " +
          s"greatest(size($expr), 0))) $alias AS $v, $ord")
    })
    // any surviving ordinality form (no column list) cannot be rewritten
    require(!("""(?is)""" + unnestArgs + """\s+WITH\s+ORDINALITY""").r
        .findFirstIn(out).isDefined,
      "UNNEST WITH ORDINALITY: add a column list — AS alias(value, ord) " +
        "— so the rewrite can name the exploded and ordinal columns")
    val Unnest =
      ("""(?is)CROSS\s+JOIN\s+""" + unnestArgs +
        """\s+AS\s+(\w+)\s*\((\w+(?:\s*,\s*\w+)*)\)""").r
    // Spark accepts LATERAL VIEW only after ALL join relations: a JOIN
    // following the UNNEST clause would rewrite into SQL Spark cannot
    // parse — raise instead (reorder the query so UNNEST comes last).
    Unnest.findAllMatchIn(out).foreach { m =>
      val rest = out.substring(m.end)
      require(!"""(?is)^\s*(?:(?:LEFT|RIGHT|FULL|INNER|CROSS)\s+)*(?:OUTER\s+)?JOIN\b"""
          .r.findFirstIn(rest).isDefined,
        "CROSS JOIN UNNEST followed by another JOIN: Spark's LATERAL " +
          "VIEW must come after all join relations — move the UNNEST " +
          "clause after the other joins")
    }
    // an UNNEST alias WITHOUT a column list has no LATERAL VIEW
    // equivalent we can infer names for — raise rather than silently
    // passing the unrewritten SQL to Spark
    val UnnestNoCols =
      ("""(?is)CROSS\s+JOIN\s+""" + unnestArgs + """\s+AS\s+(\w+)(?!\s*\()""").r
    UnnestNoCols.findFirstMatchIn(out).foreach { m =>
      throw new IllegalArgumentException(
        s"CROSS JOIN UNNEST(...) AS ${m.group(2)}: add a column list — " +
          "AS alias(col [, col...]) — so the rewrite can name the " +
          "exploded column(s)")
    }
    out = Unnest.replaceAllIn(out, m => {
      val (expr, alias, cols) = (m.group(1), m.group(2), m.group(3))
      val fn = if (cols.contains(",")) "inline" else "explode"
      Regex.quoteReplacement(s"LATERAL VIEW $fn($expr) $alias AS $cols")
    })

    out = Tumble.replaceAllIn(out, m => {
      val (t, ts, n, u) = (m.group(1), m.group(2), m.group(3), m.group(4))
      val s = seconds(n, u)
      val off = Option(m.group(5)).map(o => seconds(o, m.group(6))).getOrElse(0L)
      val w = s"window($ts, '$s seconds', '$s seconds', '$off seconds')"
      Regex.quoteReplacement(
        s"""(SELECT *, $w.start AS window_start,
            $w.end AS window_end FROM $t)""")
    })

    out = Hop.replaceAllIn(out, m => {
      val (t, ts) = (m.group(1), m.group(2))
      val slide = seconds(m.group(3), m.group(4))
      val size = seconds(m.group(5), m.group(6))
      val off = Option(m.group(7)).map(o => seconds(o, m.group(8))).getOrElse(0L)
      val w = s"window($ts, '$size seconds', '$slide seconds', '$off seconds')"
      Regex.quoteReplacement(
        s"""(SELECT *, $w.start AS window_start,
            $w.end AS window_end FROM $t)""")
    })

    out = Cumulate.replaceAllIn(out, m => {
      val (t, ts) = (m.group(1), m.group(2))
      val step = seconds(m.group(3), m.group(4)) * 1000000L
      val max = seconds(m.group(5), m.group(6)) * 1000000L
      Regex.quoteReplacement(
        s"""(SELECT *,
            timestamp_micros((unix_micros($ts) DIV $max) * $max)
              AS window_start,
            explode(transform(
              sequence((unix_micros($ts) DIV $step) * $step + $step,
                       (unix_micros($ts) DIV $max) * $max + $max, $step),
              x -> timestamp_micros(x))) AS window_end FROM $t)""")
    })

    // SESSION TVF (reference UnsliceAssigners.java:47, session merge in
    // MergingWindowSet.java:255): gaps-and-islands in pure Spark SQL —
    // a new session starts when the gap to the previous event exceeds
    // the interval; window_end is last event + gap, matching both the
    // reference and Spark's session_window().
    out = Session.replaceAllIn(out, m => {
      val (t, pk, ts) = (m.group(1), Option(m.group(2)), m.group(3))
      val gapUs = seconds(m.group(4), m.group(5)) * 1000000L
      val part = pk.map(p => s"PARTITION BY $p ").getOrElse("")
      val sidPart = pk.map(p => s"$p, ").getOrElse("")
      Regex.quoteReplacement(
        s"""(SELECT *,
              MIN($ts) OVER (PARTITION BY $sidPart __sid) AS window_start,
              timestamp_micros(unix_micros(
                MAX($ts) OVER (PARTITION BY $sidPart __sid)) + $gapUs)
                AS window_end
            FROM (SELECT *,
              SUM(__new_sess) OVER ($part ORDER BY $ts
                ROWS UNBOUNDED PRECEDING) AS __sid
            FROM (SELECT *,
              CASE WHEN unix_micros($ts) - LAG(unix_micros($ts))
                OVER ($part ORDER BY $ts) <= $gapUs
                THEN 0 ELSE 1 END AS __new_sess FROM $t)))""")
    })

    // ---- legacy group-window syntax (pre-TVF; reference
    // StreamExecGroupWindowAggregate.java and the TUMBLE_/HOP_/SESSION_
    // auxiliary functions in FlinkSqlOperatorTable.java) ----
    // `GROUP BY TUMBLE(ts, i)` → `GROUP BY window(ts, 'n seconds')`; the
    // *_START/_END selectors become fields of Spark's grouping struct
    // (named `window` / `session_window`); *_ROWTIME is the reference's
    // end-minus-1ms rowtime attribute. Selectors are rewritten first;
    // the TVF forms above were already consumed (they require TABLE(...)
    // so these regexes cannot re-match them).
    val iv = """INTERVAL\s+'\d+'\s+\w+"""
    out = out.replaceAll(
      s"""(?i)\\bTUMBLE_START\\s*\\(\\s*[\\w.]+\\s*,\\s*$iv\\s*\\)""",
      "window.start")
    out = out.replaceAll(
      s"""(?i)\\bTUMBLE_END\\s*\\(\\s*[\\w.]+\\s*,\\s*$iv\\s*\\)""",
      "window.end")
    out = out.replaceAll(
      s"""(?i)\\bTUMBLE_ROWTIME\\s*\\(\\s*[\\w.]+\\s*,\\s*$iv\\s*\\)""",
      "window.end - INTERVAL '0.001' SECOND")
    out = out.replaceAll(
      s"""(?i)\\bHOP_START\\s*\\(\\s*[\\w.]+\\s*,\\s*$iv\\s*,\\s*$iv\\s*\\)""",
      "window.start")
    out = out.replaceAll(
      s"""(?i)\\bHOP_END\\s*\\(\\s*[\\w.]+\\s*,\\s*$iv\\s*,\\s*$iv\\s*\\)""",
      "window.end")
    out = out.replaceAll(
      s"""(?i)\\bHOP_ROWTIME\\s*\\(\\s*[\\w.]+\\s*,\\s*$iv\\s*,\\s*$iv\\s*\\)""",
      "window.end - INTERVAL '0.001' SECOND")
    out = out.replaceAll(
      s"""(?i)\\bSESSION_START\\s*\\(\\s*[\\w.]+\\s*,\\s*$iv\\s*\\)""",
      "session_window.start")
    out = out.replaceAll(
      s"""(?i)\\bSESSION_END\\s*\\(\\s*[\\w.]+\\s*,\\s*$iv\\s*\\)""",
      "session_window.end")
    val GwTumble =
      ("""(?i)\bTUMBLE\s*\(\s*([\w.]+)\s*,\s*""" + IntervalP + """\s*\)""").r
    out = GwTumble.replaceAllIn(out, m => Regex.quoteReplacement(
      s"window(${m.group(1)}, '${seconds(m.group(2), m.group(3))} seconds')"))
    val GwHop =
      ("""(?i)\bHOP\s*\(\s*([\w.]+)\s*,\s*""" + IntervalP + """\s*,\s*""" +
        IntervalP + """\s*\)""").r
    out = GwHop.replaceAllIn(out, m => {   // HOP(ts, slide, size)
      val slide = seconds(m.group(2), m.group(3))
      val size = seconds(m.group(4), m.group(5))
      Regex.quoteReplacement(
        s"window(${m.group(1)}, '$size seconds', '$slide seconds')")
    })
    val GwSession =
      ("""(?i)\bSESSION\s*\(\s*([\w.]+)\s*,\s*""" + IntervalP + """\s*\)""").r
    out = GwSession.replaceAllIn(out, m => Regex.quoteReplacement(
      s"session_window(${m.group(1)}, " +
        s"'${seconds(m.group(2), m.group(3))} seconds')"))

    out = out.replaceAll("""(?i)PROCTIME\s*\(\s*\)""", "current_timestamp()")
    // simple-argument LISTAGG only (column or dotted reference)
    out = out.replaceAll("""(?i)LISTAGG\s*\(\s*([\w.]+)\s*\)""",
      "concat_ws(',', collect_list($1))")
    // COLLECT -> MULTISET as count-map (reference
    // BuiltInFunctionDefinitions.COLLECT; MULTISET ≡ MAP<elem, INT>
    // convention per SURVEY §1.2); CARDINALITY on the result is Spark's
    // native cardinality() over maps, no rewrite needed
    out = out.replaceAll("""(?i)\bCOLLECT\s*\(\s*([\w.]+)\s*\)""",
      "collect_multiset($1)")
    // SUM0: null-as-zero sum (reference BuiltInFunctionDefinitions SUM0)
    out = out.replaceAll("""(?i)\bSUM0\s*\(\s*([\w.]+)\s*\)""",
      "coalesce(sum($1), 0)")
    // RAND_INTEGER(n) -> uniform int in [0, n)
    out = out.replaceAll("""(?i)\bRAND_INTEGER\s*\(\s*(\w+)\s*\)""",
      "CAST(floor(rand() * $1) AS INT)")
    // SIMILAR TO: SQL pattern -> Java regex via rlike. Handles the SQL
    // wildcards % and _; character classes [...] pass through unchanged
    // (the tokenizer below skips substitution inside them, so '[a_b]'
    // keeps its literal underscore). Literal-pattern operand only
    // (the common form).
    out = out.replaceAll(
      """(?i)\b([\w.]+)\s+SIMILAR\s+TO\s+'([^']*)'""", "SIMILARTO($1,'$2')")
    out = """SIMILARTO\(([\w.]+),'([^']*)'\)""".r.replaceAllIn(out, m => {
      val target = m.group(1)
      val rx = similarToRegex(m.group(2))
      Regex.quoteReplacement(s"$target rlike '^$rx$$'")
    })
    // JSON constructors (reference JSON_OBJECT/JSON_ARRAY and their
    // aggregate forms). KEY k VALUE v syntax -> to_json over structs;
    // the agg forms build from collect_list.
    out = out.replaceAll(
      """(?i)\bJSON_OBJECT\s*\(\s*KEY\s+'(\w+)'\s+VALUE\s+([\w.]+)\s*\)""",
      "to_json(struct($2 AS $1))")
    out = out.replaceAll("""(?i)\bJSON_ARRAY\s*\(\s*([\w.,\s]+?)\s*\)""",
      "to_json(array($1))")
    out = out.replaceAll("""(?i)\bJSON_ARRAYAGG\s*\(\s*([\w.]+)\s*\)""",
      "to_json(collect_list($1))")
    out = out.replaceAll(
      """(?i)\bJSON_OBJECTAGG\s*\(\s*KEY\s+([\w.]+)\s+VALUE\s+([\w.]+)\s*\)""",
      "to_json(map_from_entries(collect_list(struct($1, $2))))")
    // long-tail name mappings (reference BuiltInFunctionDefinitions):
    // TRANSLATE3 is Flink's spelling of 3-arg translate
    out = out.replaceAll("""(?i)\bTRANSLATE3\s*\(""", "translate(")
    // MAP_UNION -> map_concat (last-wins on duplicate keys, both engines)
    out = out.replaceAll("""(?i)\bMAP_UNION\s*\(""", "map_concat(")
    // CURRENT_ROW_TIMESTAMP() -> per-row proc time approximation
    // (SURVEY §2.7 sanctions current_timestamp here)
    out = out.replaceAll("""(?i)\bCURRENT_ROW_TIMESTAMP\s*\(\s*\)""",
      "current_timestamp()")
    // JSON_QUOTE/JSON_UNQUOTE (MySQL-style, in Flink 1.20):
    // quote = JSON string literal of x (escape via to_json on a
    // 1-element array, then strip the brackets — Spark's to_json does
    // not accept a bare string); unquote = JSON-path identity extract
    out = out.replaceAll("""(?i)\bJSON_QUOTE\s*\(\s*([\w.]+)\s*\)""",
      "substring(to_json(array($1)), 2, length(to_json(array($1))) - 2)")
    out = out.replaceAll("""(?i)\bJSON_UNQUOTE\s*\(\s*([\w.]+)\s*\)""",
      "get_json_object($1, '\\$')")
    out
  }
}
