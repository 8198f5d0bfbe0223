package graft.api

import scala.util.matching.Regex

import org.apache.spark.sql.types._

/** Flink `CREATE TABLE` DDL — reference: the DDL grammar in
  * flink-table/flink-sql-parser (SqlCreateTable) and its planner
  * handling: connector options resolve a DynamicTableSource, the
  * WATERMARK clause becomes the source watermark
  * (StreamExecWatermarkAssigner.java), PRIMARY KEY feeds upsert
  * semantics.
  *
  * Supported subset:
  * {{{
  * CREATE TABLE [IF NOT EXISTS] name (
  *   col TYPE [, ...]
  *   [, WATERMARK FOR tscol AS tscol - INTERVAL 'n' UNIT]
  *   [, PRIMARY KEY (c1 [, c2...]) NOT ENFORCED]
  * ) WITH ('connector' = 'filesystem', 'path' = '...', 'format' = '...')
  * }}}
  * Only the filesystem connector exists in this environment; other
  * connector values raise. The parsed spec lands in [[TableSpec]], so
  * `TableEnv.from` / `fromStreaming` (watermark applied) and the CDC
  * layer (primary key) behave as the reference's DDL promises.
  */
object FlinkDdl {

  final case class Ddl(name: String, ifNotExists: Boolean, spec: TableSpec)

  private val CreateP: Regex =
    ("""(?is)^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*\(""").r

  def matches(sql: String): Boolean =
    """(?is)^\s*CREATE\s+TABLE\b""".r.findFirstIn(sql).isDefined

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"CREATE TABLE: $msg")

  /** Plain `name TYPE` column definitions, comma-separated (ALTER
    * TABLE ADD/MODIFY bodies). */
  private[api] def parseColumnDefs(body: String): Seq[StructField] = {
    val colP = """(?s)^`?(\w+)`?\s+(.+)$""".r
    splitTop(body).map {
      case colP(cname, ctype) => StructField(cname, sqlType(ctype))
      case other => fail(s"malformed column definition: $other")
    }
  }

  /** Split `s` on commas at nesting depth 0 (w.r.t. `<>` and `()`). */
  private def splitTop(s: String): Seq[String] = {
    val out = Vector.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    s.foreach {
      case c @ ('<' | '(') => depth += 1; cur += c
      case c @ ('>' | ')') => depth -= 1; cur += c
      case ',' if depth == 0 => out += cur.toString; cur.clear()
      case c => cur += c
    }
    if (cur.nonEmpty) out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** The full §1.2 type lattice incl. constructed types — reference
    * grammar flink-sql-parser (SqlTableColumn.java) over the lattice in
    * flink-table-common/.../logical/LogicalTypeRoot.java:53-141.
    * ARRAY/MAP/ROW/MULTISET nest arbitrarily; `NOT NULL` is honored on
    * ROW fields (elsewhere Spark's read-path nullability governs).
    * Documented deltas (SURVEY §1.2): TIME → IntegerType millis-of-day;
    * MULTISET<T> → MapType(T, IntegerType) count-map convention. */
  def sqlType(t: String): DataType = sqlTypeNullable(t)._1

  private def sqlTypeNullable(t0: String): (DataType, Boolean) = {
    val t = t0.trim
    // trailing nullability marker (Flink: nullable unless NOT NULL)
    val notNullP = """(?is)^(.*?)\s+NOT\s+NULL\s*$""".r
    val nullP = """(?is)^(.*?)\s+NULL\s*$""".r
    t match {
      case notNullP(inner) => (sqlType(inner), false)
      case nullP(inner) => (sqlType(inner), true)
      case _ => (sqlTypeBase(t), true)
    }
  }

  private def sqlTypeBase(t: String): DataType = {
    val up = t.toUpperCase
    def inner(prefix: String): String = {
      val open = t.indexOf('<')
      val close = t.lastIndexOf('>')
      if (open < 0 || close <= open)
        fail(s"malformed $prefix type: $t (expected $prefix<...>)")
      t.substring(open + 1, close)
    }
    val decP = """DECIMAL\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)""".r
    up match {
      case "BIGINT" => LongType
      case "INT" | "INTEGER" => IntegerType
      case "SMALLINT" => ShortType
      case "TINYINT" => ByteType
      case "DOUBLE" => DoubleType
      case "FLOAT" | "REAL" => FloatType
      case "BOOLEAN" => BooleanType
      case "DATE" => DateType
      case "BYTES" | "VARBINARY" | "BINARY" => BinaryType
      case "STRING" => StringType
      case decP(p, s) => DecimalType(p.toInt, s.toInt)
      case _ if up.startsWith("ARRAY") && up.contains("<") =>
        val (et, en) = sqlTypeNullable(inner("ARRAY"))
        ArrayType(et, containsNull = en)
      case _ if up.startsWith("MULTISET") && up.contains("<") =>
        // SURVEY §1.2: multiset as element → count map
        MapType(sqlType(inner("MULTISET")), IntegerType,
          valueContainsNull = false)
      case _ if up.startsWith("MAP") && up.contains("<") =>
        splitTop(inner("MAP")) match {
          case Seq(k, v) =>
            val (vt, vn) = sqlTypeNullable(v)
            MapType(sqlType(k), vt, valueContainsNull = vn)
          case other =>
            fail(s"MAP needs exactly two type arguments, got $other")
        }
      case _ if up.startsWith("ROW") && (up.contains("<") || up.contains("(")) =>
        // ROW<name type, ...> (also accepts the ROW(name type, ...)
        // paren form the reference grammar allows); the OUTER delimiter
        // is whichever bracket immediately follows ROW — the body may
        // nest the other kind
        val afterRow = t.substring(3).trim
        val body =
          if (afterRow.startsWith("<"))
            afterRow.substring(1, afterRow.lastIndexOf('>'))
          else if (afterRow.startsWith("("))
            afterRow.substring(1, afterRow.lastIndexOf(')'))
          else fail(s"malformed ROW type: $t")
        val fieldP = """(?s)^`?(\w+)`?\s+(.+)$""".r
        StructType(splitTop(body).map {
          case fieldP(fname, ftype) =>
            val (ft, fn) = sqlTypeNullable(ftype)
            StructField(fname, ft, nullable = fn)
          case other => fail(s"malformed ROW field: $other")
        })
      case _ if up.startsWith("VARCHAR") || up.startsWith("CHAR") => StringType
      case _ if up.startsWith("TIMESTAMP_LTZ") => TimestampType
      case _ if up.startsWith("TIMESTAMP") => TimestampType
      case _ if up.startsWith("TIME") =>
        // documented delta (SURVEY §1.2): no Spark time-of-day type —
        // millis-of-day as INT
        IntegerType
      case other => fail(s"unsupported type $other")
    }
  }

  def parse(sql: String): Ddl = {
    val m = CreateP.findFirstMatchIn(sql).getOrElse(
      fail("expected CREATE TABLE [IF NOT EXISTS] name (...) WITH (...)"))
    val ifNotExists = m.group(1) != null
    val name = m.group(2)
    // balanced-paren scan for the column list
    val openAt = m.end - 1
    var depth = 0
    var i = openAt
    var closeAt = -1
    var quote = false
    while (i < sql.length && closeAt < 0) {
      sql.charAt(i) match {
        case '\'' => quote = !quote
        case '(' if !quote => depth += 1
        case ')' if !quote => depth -= 1; if (depth == 0) closeAt = i
        case _ =>
      }
      i += 1
    }
    if (closeAt < 0) fail("unbalanced parentheses in column list")
    val colsBody = sql.substring(openAt + 1, closeAt)
    val tail = sql.substring(closeAt + 1)

    // split column list on top-level commas. Angle brackets nest type
    // arguments (MAP<STRING, INT> must not split) — but ONLY outside
    // computed-column expressions, where `<` is the comparison operator
    // (`flag AS v < 10`); a computed item is recognized by an ` AS `
    // already accumulated in the current item.
    val items = {
      val out = Vector.newBuilder[String]
      val cur = new StringBuilder
      var d = 0
      var q = false
      def inComputedExpr: Boolean =
        """(?is)^\s*\w+\s+AS\s""".r.findFirstIn(cur).isDefined
      colsBody.foreach {
        case '\'' => q = !q; cur += '\''
        case '(' if !q => d += 1; cur += '('
        case ')' if !q => d -= 1; cur += ')'
        case '<' if !q && !inComputedExpr => d += 1; cur += '<'
        case '>' if !q && !inComputedExpr => d -= 1; cur += '>'
        case ',' if !q && d == 0 => out += cur.toString; cur.clear()
        case c => cur += c
      }
      if (cur.nonEmpty) out += cur.toString
      out.result().map(_.trim).filter(_.nonEmpty)
    }

    val wmP = ("""(?is)^WATERMARK\s+FOR\s+(\w+)\s+AS\s+(\w+)\s*-\s*""" +
      """INTERVAL\s+'(\d+)'\s+(\w+)$""").r
    val pkP = """(?is)^PRIMARY\s+KEY\s*\(([\w,\s]+)\)\s*(?:NOT\s+ENFORCED)?$""".r
    // computed processing-time attribute (reference: proctime attribute
    // in SqlCreateTable computed columns) — virtual, not stored; feeds
    // the lookup-join route (FOR SYSTEM_TIME AS OF <proctime>)
    val ptP = """(?is)^(\w+)\s+AS\s+PROCTIME\s*\(\s*\)$""".r
    // general computed column `c AS <expr>` (reference SqlComputedColumn,
    // SqlCreateTable.java:237) — any Spark SQL expression; virtual,
    // evaluated on read, may reference earlier columns (incl. other
    // computed ones in declaration order)
    val compP = """(?is)^(\w+)\s+AS\s+(.+)$""".r
    // METADATA column (reference SqlMetadataColumn, SqlTableColumn
    // .java:136): `c TYPE METADATA [FROM 'key'] [VIRTUAL]` — key
    // defaults to the column name
    val metaP = ("""(?is)^(\w+)\s+(.+?)\s+METADATA""" +
      """(?:\s+FROM\s+'([^']+)')?(?:\s+VIRTUAL)?$""").r
    val colP = """(?s)^(\w+)\s+(.+)$""".r

    var fields = Vector.empty[StructField]
    var watermark: Option[(String, String)] = None
    var primaryKey: Seq[String] = Nil
    var proctime: Option[String] = None
    var computed = Vector.empty[(String, String)]
    var metaCols = Vector.empty[(String, String)]
    items.foreach {
      case wmP(c, src, n, unit) =>
        // the watermark expression column must be the watermarked
        // column itself (Spark's withWatermark model: col + delay); the
        // COLUMN may be computed — declared earlier via `c AS expr`
        if (!c.equalsIgnoreCase(src)) fail(
          s"WATERMARK FOR $c AS $src: the watermark expression must be " +
            s"on $c itself (declare a computed column for derived " +
            "event time, then watermark that column)")
        val u = unit.toLowerCase
        watermark = Some((c, s"$n $u" + (if (n == "1") "" else
          if (u.endsWith("s")) "" else "s")))
      case pkP(cols) =>
        primaryKey = cols.split(",").map(_.trim).toSeq
      case ptP(c) =>
        proctime = Some(c)
      case metaP(cname, ctype, key) =>
        // the declared type documents intent; the materialized value
        // takes Spark's _metadata field type (validated in TableEnv)
        sqlType(ctype) // raises early on a malformed type
        metaCols :+= (cname, Option(key).getOrElse(cname))
      case compP(cname, expr0) =>
        computed :+= (cname, expr0.trim)
      case colP(cname, ctype) =>
        fields :+= StructField(cname, sqlType(ctype))
      case other => fail(s"unrecognized table element: $other")
    }

    val options = parseWithOptions(tail)
    val partitions = parsePartitionedBy(tail)
    val (path, format) = pathFormat(options)

    Ddl(name, ifNotExists, TableSpec(
      path = path, format = format,
      schema = if (fields.isEmpty) None else Some(StructType(fields)),
      watermark = watermark, primaryKey = primaryKey,
      partitions = partitions, proctime = proctime,
      computed = computed, metadataCols = metaCols,
      options = options -- Seq("connector", "path", "format")))
  }

  /** `PARTITIONED BY (c1, c2)` — reference filesystem-connector
    * partitioned tables (SqlCreateTable PARTITIONED BY clause). */
  private[api] def parsePartitionedBy(tail: String): Seq[String] =
    """(?is)\bPARTITIONED\s+BY\s*\(([\w,\s]+)\)""".r
      .findFirstMatchIn(tail)
      .map(_.group(1).split(",").map(_.trim).toSeq.filter(_.nonEmpty))
      .getOrElse(Nil)

  /** WITH ('k' = 'v', ...) — shared by CREATE TABLE and CTAS. */
  private[api] def parseWithOptions(tail: String): Map[String, String] = {
    val withP = """(?is)\bWITH\s*\(""".r
    withP.findFirstMatchIn(tail).map { wm =>
      var d = 0
      var j = wm.end - 1
      var close = -1
      var q = false
      while (j < tail.length && close < 0) {
        tail.charAt(j) match {
          case '\'' => q = !q
          case '(' if !q => d += 1
          case ')' if !q => d -= 1; if (d == 0) close = j
          case _ =>
        }
        j += 1
      }
      if (close < 0) fail("unbalanced WITH options")
      val body = tail.substring(wm.end, close)
      val optP = """'([^']*)'\s*=\s*'([^']*)'""".r
      optP.findAllMatchIn(body).map(o => o.group(1) -> o.group(2)).toMap
    }.getOrElse(Map.empty)
  }

  private[api] def pathFormat(options: Map[String, String]): (String, String) = {
    val connector = options.getOrElse("connector", "filesystem")
    if (connector != "filesystem")
      fail(s"connector '$connector' is not available in this environment " +
        "(filesystem only)")
    val path = options.getOrElse("path", fail("filesystem connector needs 'path'"))
    (path, options.getOrElse("format", "parquet"))
  }

  /** `CREATE TABLE [IF NOT EXISTS] t [PARTITIONED BY (...)] WITH (...)
    * AS <query>` — reference CTAS (FLIP-218, SqlCreateTableAs). Returns
    * (name, ifNotExists, spec-sans-schema, query). */
  final case class Ctas(name: String, ifNotExists: Boolean, spec: TableSpec,
      query: String)

  private val CtasP =
    ("""(?is)^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*""" +
      """((?:PARTITIONED\s+BY\s*\([\w,\s]+\)\s*)?WITH\s*\(.*?\))\s+AS\s+(SELECT.*)$""").r

  def matchesCtas(sql: String): Boolean = CtasP.pattern.matcher(sql).matches()

  def parseCtas(sql: String): Ctas = sql match {
    case CtasP(ine, name, head, query) =>
      val options = parseWithOptions(head)
      val (path, format) = pathFormat(options)
      Ctas(name, ine != null,
        TableSpec(path = path, format = format,
          partitions = parsePartitionedBy(head)),
        query)
    case _ => fail("not a CREATE TABLE ... AS SELECT statement")
  }
}
