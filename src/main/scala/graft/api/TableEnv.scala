package graft.api

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Table-environment facade — the layer-1 surface of SURVEY.md §7.1,
  * mirroring the reference's TableEnvironment (flink-table-api-java/.../
  * TableEnvironmentImpl.java: executeSql / from / createTemporaryView /
  * fromValues) on top of a SparkSession. Catalyst replaces the Calcite
  * planner chain (SURVEY.md §3.1: stages 1-5 are Spark built-ins).
  *
  * Table metadata the reference declares in DDL (watermark clause,
  * primary key) is carried here as [[TableSpec]] and applied on read:
  * the watermark becomes `withWatermark` on streaming reads; the primary
  * key feeds upsert/changelog operators (graft.cdc).
  */
final case class TableSpec(
    path: String,
    format: String = "parquet",
    schema: Option[StructType] = None,
    watermark: Option[(String, String)] = None, // (eventTimeCol, delay)
    primaryKey: Seq[String] = Nil,
    partitions: Seq[String] = Nil, // PARTITIONED BY columns (hive-style dirs)
    proctime: Option[String] = None, // computed col declared AS PROCTIME()
    // general computed columns `c AS <expr>` (reference SqlComputedColumn,
    // SqlCreateTable.java:237) — virtual, evaluated on read in
    // declaration order (later exprs may reference earlier columns)
    computed: Seq[(String, String)] = Nil,
    // METADATA columns `c TYPE METADATA [FROM 'key'] [VIRTUAL]`
    // (reference SqlMetadataColumn, SqlTableColumn.java:136) — for the
    // filesystem connector the keys map onto Spark's _metadata struct:
    // file.path / file.name / file.size / file.modification-time
    metadataCols: Seq[(String, String)] = Nil, // (colName, metadataKey)
    // the DDL's other WITH options (Flink keys, e.g. 'csv.field-delimiter'
    // or 'maxFilesPerTrigger'), applied as reader options on streaming
    // reads
    options: Map[String, String] = Map.empty)

/** ANALYZE TABLE output: row count plus per-column (nullCount, ndv). */
final case class TableStats(rowCount: Long,
    columns: Map[String, (Long, Long)])

final class TableEnv(val spark: SparkSession) {

  graft.functions.register(spark)

  private val specs = scala.collection.mutable.Map.empty[String, TableSpec]

  /** CREATE VIEW statements' defining SQL, kept so COMPILE PLAN can
    * persist views alongside table specs (plan files must replay in a
    * fresh session). */
  private[api] val viewSqlMap =
    scala.collection.mutable.Map.empty[String, String]

  // ---- catalogs (reference CatalogManager): the built-in session
  // catalog plus any CREATE CATALOG ('type'='hive') registrations;
  // while a hive catalog is active, DDL tables are ALSO persisted to
  // the metastore (see HiveCatalog) ----
  private val hiveCatalogNames = scala.collection.mutable.Set.empty[String]
  private var activeCatalog: String = "default_catalog"
  private def persistToHive: Boolean = hiveCatalogNames.contains(activeCatalog)

  /** ANALYZE TABLE results for session-catalog tables (reference
    * analyze.md stats; hive-catalog tables use the metastore instead). */
  private val tableStatsMap =
    scala.collection.mutable.Map.empty[String, TableStats]
  def tableStats(name: String): Option[TableStats] = tableStatsMap.get(name)

  /** CREATE TABLE analogue: register a named external table. A sink
    * table whose path doesn't exist yet registers as an empty view with
    * the declared schema (filled by INSERT INTO later). Only the
    * path-not-found case falls back to the empty view — a wrong format
    * option or schema mismatch must FAIL here, not silently register an
    * empty table that makes downstream queries return empty results. */
  def createTable(name: String, spec: TableSpec): Unit = {
    specs(name) = spec
    try batchRead(spec).createOrReplaceTempView(name)
    catch {
      case e: org.apache.spark.sql.AnalysisException if isPathNotFound(e) =>
        spec.schema match {
          case Some(schema) =>
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[Row], schema)
              .createOrReplaceTempView(name)
          case None => throw e
        }
    }
    // active hive catalog: also write the metastore entry so the table
    // outlives this session (the point of a catalog vs temp views)
    if (persistToHive) HiveCatalog.persist(spark, name, spec)
  }

  private[api] def isPathNotFound(e: org.apache.spark.sql.AnalysisException): Boolean =
    Option(e.getCondition).exists(_.contains("PATH_NOT_FOUND")) ||
      Option(e.getMessage).exists(_.contains("Path does not exist"))

  def tableSpec(name: String): Option[TableSpec] = specs.get(name)

  // ---- lookup-join function registry (reference: a connector's
  // LookupTableSource provides LookupFunction / AsyncLookupFunction;
  // here the user registers them per table name; filesystem tables
  // fall back to a broadcast snapshot — see LookupJoinSql) ----
  private val syncLookupFns =
    scala.collection.mutable.Map.empty[String, graft.operators.LookupJoin.LookupFn[Any, Row]]
  private val asyncLookupFns =
    scala.collection.mutable.Map.empty[String, graft.operators.AsyncLookupJoin.AsyncLookupFn[Any, Row]]

  /** Register a per-partition lookup function for a dimension table
    * (the external-store case — opened once per partition, LRU-cached).
    * A null fn unregisters. */
  def registerLookupFunction(table: String,
      fn: graft.operators.LookupJoin.LookupFn[Any, Row]): Unit =
    if (fn == null) syncLookupFns.remove(table) else syncLookupFns(table) = fn

  /** Register an async lookup function for a dimension table (used by
    * `/*+ LOOKUP('table'='...', 'async'='true') */`). A null fn
    * unregisters. */
  def registerAsyncLookupFunction(table: String,
      fn: graft.operators.AsyncLookupJoin.AsyncLookupFn[Any, Row]): Unit =
    if (fn == null) asyncLookupFns.remove(table) else asyncLookupFns(table) = fn

  private[api] def lookupFn(table: String): Option[graft.operators.LookupJoin.LookupFn[Any, Row]] =
    syncLookupFns.get(table)
  private[api] def asyncLookupFn(table: String): Option[graft.operators.AsyncLookupJoin.AsyncLookupFn[Any, Row]] =
    asyncLookupFns.get(table)

  private[api] def registeredTables: Set[String] = specs.keySet.toSet

  /** Re-point a registered table's temp view at a fresh read of its
    * backing path (after a write, or to drop a cache re-pointing). */
  private[api] def refreshTable(name: String): Unit =
    specs.get(name).foreach(spec =>
      batchRead(spec).createOrReplaceTempView(name))

  /** Reference TableEnvironment.createStatementSet — collect several
    * INSERTs and execute them as one batch with shared sources scanned
    * once (see [[StatementSet]]). */
  def createStatementSet(shareSources: Boolean = true): StatementSet =
    new StatementSet(this, shareSources)

  /** Batch `from` — reference Table.java `from(path)`. */
  def from(name: String): DataFrame = spark.table(name)

  /** Streaming `from`: file-monitoring source with the declared
    * watermark applied (reference: watermark DDL + pushdown,
    * StreamExecWatermarkAssigner.java) and the DDL's WITH options as
    * reader options — e.g. 'maxFilesPerTrigger' bounds each trigger. */
  def fromStreaming(name: String): DataFrame = {
    val spec = specs.getOrElse(name,
      throw new IllegalArgumentException(s"unknown table $name"))
    val virtual = TableEnv.virtualCols(spec)
    val schema = spec.schema.getOrElse(StructType(batchRead(spec).schema
      .filterNot(f => virtual.contains(f.name))))
    val df0 = spark.readStream.schema(schema).format(spec.format)
      .options(readerOptions(spec.options, spec.format)).load(spec.path)
    // virtual columns first (a computed column may BE the watermarked
    // event-time column — the reference's computed-watermark idiom),
    // then the watermark
    val df = TableEnv.applyVirtual(df0, spec)
    spec.watermark.fold(df) { case (c, d) => df.withWatermark(c, d) }
  }

  /** SQL entry point — reference TableEnvironmentImpl.executeSql.
    * Accepts Flink SQL directly: MATCH_RECOGNIZE routes to the CEP
    * compiler; other dialect extensions (window TVFs, PROCTIME, LISTAGG)
    * are rewritten to Spark SQL by FlinkSqlDialect. */
  private val InsertP =
    """(?is)^\s*INSERT\s+(INTO|OVERWRITE)\s+([\w.]+)\s+(.*)$""".r

  private val DropP =
    """(?is)^\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?([\w.]+)\s*$""".r
  private val ShowViewsP = """(?is)^\s*SHOW\s+VIEWS\s*$""".r
  private val ShowFunctionsP = """(?is)^\s*SHOW\s+FUNCTIONS\s*$""".r
  private val AlterRenameP =
    """(?is)^\s*ALTER\s+TABLE\s+(IF\s+EXISTS\s+)?([\w.]+)\s+RENAME\s+TO\s+([\w.]+)\s*$""".r
  private val AlterSetP =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+SET\s*\((.*)\)\s*$""".r
  private val AlterAddP =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+ADD\s*\((.+)\)\s*$""".r
  private val AlterAdd1P =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+(?!\()(\w+\s+[^,]+?)\s*$""".r
  private val AlterModifyP =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+MODIFY\s*\((.+)\)\s*$""".r
  private val AlterModify1P =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+MODIFY\s+(?!\()(\w+\s+[^,]+?)\s*$""".r
  private val AlterDropColP =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+DROP\s*\(([\w,\s]+)\)\s*$""".r
  private val AlterDropCol1P =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+(?!\()(\w+)\s*$""".r
  private val AlterOtherP = """(?is)^\s*ALTER\s+TABLE\b.*$""".r
  private val CreateFunctionP =
    ("""(?is)^\s*CREATE\s+(?:TEMPORARY\s+)?(?:SYSTEM\s+)?FUNCTION\s+""" +
      """(IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s+AS\s+'([^']+)'""" +
      """(?:\s+LANGUAGE\s+(?:JAVA|SCALA))?\s*;?\s*$""").r
  private val DropFunctionP =
    ("""(?is)^\s*DROP\s+(?:TEMPORARY\s+)?(?:SYSTEM\s+)?FUNCTION\s+""" +
      """(IF\s+EXISTS\s+)?([\w.]+)\s*;?\s*$""").r
  private val SetP = """(?is)^\s*SET\s+'([^']+)'\s*=\s*'([^']*)'\s*;?\s*$""".r
  private val SetListP = """(?is)^\s*SET\s*;?\s*$""".r
  private val ResetP = """(?is)^\s*RESET\s+'([^']+)'\s*;?\s*$""".r
  private val TruncateP =
    """(?is)^\s*TRUNCATE\s+TABLE\s+([\w.]+)\s*$""".r
  private val ShowJobsP = """(?is)^\s*SHOW\s+JOBS\s*;?\s*$""".r
  private val AnalyzeP =
    ("""(?is)^\s*ANALYZE\s+TABLE\s+([\w.]+)\s+COMPUTE\s+STATISTICS""" +
      """(\s+FOR\s+ALL\s+COLUMNS|\s+FOR\s+COLUMNS\s+([\w,\s]+))?\s*$""").r
  private val CreateCatalogP =
    """(?is)^\s*CREATE\s+CATALOG\s+(\w+)\s+WITH\s*\((.*)\)\s*$""".r
  private val UseCatalogP = """(?is)^\s*USE\s+CATALOG\s+(\w+)\s*;?\s*$""".r
  private val ShowCatalogsP = """(?is)^\s*SHOW\s+CATALOGS\s*;?\s*$""".r
  private val ShowCurrentCatalogP =
    """(?is)^\s*SHOW\s+CURRENT\s+CATALOG\s*;?\s*$""".r
  private val ShowCurrentDatabaseP =
    """(?is)^\s*SHOW\s+CURRENT\s+DATABASE\s*;?\s*$""".r
  private val DescribeJobP =
    """(?is)^\s*DESCRIBE\s+JOB\s+'([^']+)'\s*;?\s*$""".r
  private val StopJobP =
    """(?is)^\s*STOP\s+JOB\s+'([^']+)'(\s+WITH\s+SAVEPOINT)?\s*;?\s*$""".r
  private val ShowCreateP =
    """(?is)^\s*SHOW\s+CREATE\s+TABLE\s+([\w.]+)\s*$""".r
  private val ShowTablesP = """(?is)^\s*SHOW\s+TABLES\s*$""".r
  private val DescribeP =
    """(?is)^\s*DESC(?:RIBE)?\s+(?!EXTENDED\b)([\w.]+)\s*$""".r
  private val CreateViewP =
    """(?is)^\s*CREATE\s+(?:TEMPORARY\s+)?VIEW\s+(IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s+AS\s+(SELECT.*)$""".r
  private val CreateLikeP =
    ("""(?is)^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*""" +
      """(WITH\s*\(.*?\)\s*)?LIKE\s+([\w.]+)\s*$""").r

  /** Reconstruct the Flink DDL for a registered table (reference
    * ShowCreateUtil) — from the stored TableSpec, including watermark /
    * primary key / partitioning. */
  def showCreateTable(name: String): String = {
    val spec = specs.getOrElse(name,
      throw new IllegalArgumentException(s"unknown table $name"))
    val schema = spec.schema.getOrElse(batchRead(spec).schema)
    def ddlType(dt: org.apache.spark.sql.types.DataType): String = dt match {
      case org.apache.spark.sql.types.LongType => "BIGINT"
      case org.apache.spark.sql.types.IntegerType => "INT"
      case org.apache.spark.sql.types.DoubleType => "DOUBLE"
      case org.apache.spark.sql.types.FloatType => "FLOAT"
      case org.apache.spark.sql.types.StringType => "STRING"
      case org.apache.spark.sql.types.BooleanType => "BOOLEAN"
      case org.apache.spark.sql.types.DateType => "DATE"
      case org.apache.spark.sql.types.BinaryType => "BYTES"
      case d: org.apache.spark.sql.types.DecimalType => s"DECIMAL(${d.precision}, ${d.scale})"
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType => "TIMESTAMP(6)"
      case other => other.sql
    }
    // an inferred schema (no DDL schema) already contains the virtual
    // columns (proctime/computed/metadata) — keep them out of the
    // physical column list
    val cols = schema.fields
      .filterNot(f => TableEnv.virtualCols(spec).contains(f.name))
      .map(f => s"  ${f.name} ${ddlType(f.dataType)}")
    val pt = spec.proctime.map(c => s"  $c AS PROCTIME()") ++
      spec.metadataCols.map { case (c, k) => s"  $c STRING METADATA FROM '$k'" } ++
      spec.computed.map { case (c, e) => s"  $c AS $e" }
    val wm = spec.watermark.map { case (c, d) =>
      val (n, u) = d.split(" ") match { case Array(a, b) => (a, b.stripSuffix("s").toUpperCase) }
      s"  WATERMARK FOR $c AS $c - INTERVAL '$n' $u"
    }
    val pk = if (spec.primaryKey.nonEmpty)
      Some(s"  PRIMARY KEY (${spec.primaryKey.mkString(", ")}) NOT ENFORCED")
    else None
    val part = if (spec.partitions.nonEmpty)
      s"\nPARTITIONED BY (${spec.partitions.mkString(", ")})" else ""
    s"""CREATE TABLE $name (
       |${(cols ++ pt ++ wm ++ pk).mkString(",\n")}
       |)$part
       |WITH (
       |${(Seq("connector" -> "filesystem", "path" -> spec.path,
             "format" -> spec.format) ++ spec.options.toSeq.sorted)
           .map { case (k, v) => s"  '$k' = '$v'" }.mkString(",\n")}
       |)""".stripMargin
  }

  private val CompilePlanP =
    ("""(?is)^\s*COMPILE\s+(AND\s+EXECUTE\s+)?PLAN\s+(IF\s+NOT\s+EXISTS\s+)?""" +
      """'([^']+)'\s+FOR\s+((?:INSERT|EXECUTE\s+STATEMENT\s+SET)\b.*)$""").r
  private val ExecutePlanP =
    """(?is)^\s*EXECUTE\s+PLAN\s+'([^']+)'\s*;?\s*$""".r

  // `FROM t /*+ OPTIONS('k'='v') */` — the reference's dynamic table
  // options hint (flink-table-planner/.../hint/FlinkHints.java:51,
  // HINT_NAME_OPTIONS): per-query connector-option overrides on one
  // table reference. Rewritten BEFORE dispatch: each hinted ref becomes
  // a temp view reading the table with the overridden options.
  private val OptionsHintP =
    """(?is)\b(FROM|JOIN)\s+([\w.]+)\s*/\*\+\s*OPTIONS\s*\(([^)]*)\)\s*\*/""".r
  private val optionsViewCounter =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Flink format-option names → Spark reader options (the common CSV
    * surface); unknown keys pass through as Spark reader options. */
  private def readerOption(key: String, value: String): (String, String) =
    key match {
      case "field-delimiter" => ("sep", value)
      case "ignore-parse-errors" =>
        ("mode", if (value == "true") "DROPMALFORMED" else "FAILFAST")
      case "null-literal" => ("nullValue", value)
      case "allow-comments" => ("comment", if (value == "true") "#" else "")
      case other => (other, value)
    }

  /** WITH options of a `fmt` table → Spark reader options:
    * 'csv.field-delimiter'-style keys strip their format prefix. */
  private def readerOptions(opts: Map[String, String],
      fmt: String): Map[String, String] =
    opts.map { case (k, v) =>
      readerOption(if (k.startsWith(fmt + ".")) k.substring(fmt.length + 1)
        else k, v)
    }

  private def optionsView(table: String, optsBody: String): String = {
    val spec = specs.getOrElse(table, throw new IllegalArgumentException(
      s"OPTIONS hint: $table is not a DDL-registered table"))
    val opts = """'([^']*)'\s*=\s*'([^']*)'""".r.findAllMatchIn(optsBody)
      .map(o => o.group(1) -> o.group(2)).toMap
    require(opts.get("connector").forall(_ == "filesystem"),
      "OPTIONS hint: only the filesystem connector is supported")
    val path = opts.getOrElse("path", spec.path)
    val fmt = opts.getOrElse("format", spec.format)
    val reader = readerOptions(opts -- Seq("path", "format", "connector"), fmt)
    val r0 = spark.read.format(fmt).options(reader)
    // the declared schema only applies while the format is unchanged
    val r = if (fmt == spec.format) spec.schema.fold(r0)(s => r0.schema(s))
      else r0
    val df = TableEnv.applyVirtual(r.load(path), spec)
    val vname = s"${table.replace('.', '_')}__options_" +
      optionsViewCounter.incrementAndGet()
    df.createOrReplaceTempView(vname)
    vname
  }

  def executeSql(sql: String): DataFrame = {
    // COMPILE PLAN keeps its statements verbatim — an OPTIONS hint in a
    // compiled statement must resolve at EXECUTE PLAN time (in the
    // executing session), not bake this session's temp view name into
    // the durable plan file
    val rewritten =
      if (CompilePlanP.pattern.matcher(sql).matches()) sql
      else OptionsHintP.replaceAllIn(sql, m =>
        scala.util.matching.Regex.quoteReplacement(
          s"${m.group(1)} ${optionsView(m.group(2), m.group(3))}"))
    executeSqlDispatch(rewritten)
  }

  private def executeSqlDispatch(sql: String): DataFrame =
    if (CompilePlanP.pattern.matcher(sql).matches()) {
      // COMPILE [AND EXECUTE] PLAN '<file>' [IF NOT EXISTS] FOR
      // <insert>|<statement set> (reference exec-plan serde; see
      // graft.api.CompiledPlan for what is persisted and why)
      val m = CompilePlanP.findFirstMatchIn(sql).get
      val (andExec, ifNotExists, path, body) =
        (m.group(1) != null, m.group(2) != null, m.group(3),
          m.group(4).trim)
      val exists = java.nio.file.Files.exists(
        java.nio.file.Paths.get(CompiledPlan.stripScheme(path)))
      if (!(ifNotExists && exists)) {
        val (stmts, kind) =
          if (StatementSet.matches(body))
            (StatementSet.statements(body), "statement_set")
          else (Seq(body), "insert")
        CompiledPlan.compile(this, path, stmts, kind)
      }
      if (andExec) CompiledPlan.execute(this, path) else spark.emptyDataFrame
    } else if (ExecutePlanP.pattern.matcher(sql).matches()) {
      CompiledPlan.execute(this,
        ExecutePlanP.findFirstMatchIn(sql).get.group(1))
    } else if (StatementSet.matches(sql)) {
      // EXECUTE STATEMENT SET BEGIN ...; ...; END → one multi-sink batch
      val set = createStatementSet()
      StatementSet.statements(sql).foreach(set.addInsertSql)
      set.execute()
      spark.emptyDataFrame
    } else if (DropP.pattern.matcher(sql).matches()) {
      val m = DropP.findFirstMatchIn(sql).get
      val (ifExists, name) = (m.group(1) != null, m.group(2))
      if (!specs.contains(name) && !spark.catalog.tableExists(name) && !ifExists)
        throw new IllegalArgumentException(s"DROP TABLE: unknown table $name")
      specs.remove(name)
      viewSqlMap.remove(name)
      spark.catalog.dropTempView(name)
      if (persistToHive) HiveCatalog.unpersist(spark, name)
      spark.emptyDataFrame
    } else if (CreateViewP.pattern.matcher(sql).matches()) {
      // CREATE [TEMPORARY] VIEW (reference SqlCreateView): every view is
      // session-scoped here, like the reference's temporary views.
      // An existing name RAISES (as the reference does) unless IF NOT
      // EXISTS — silently clobbering a DDL-registered table would leave
      // reads (the view) and writes (the spec's path) pointing at
      // different objects.
      val m = CreateViewP.findFirstMatchIn(sql).get
      val (ifNotExists, name, query) = (m.group(1) != null, m.group(2), m.group(3))
      val exists = specs.contains(name) || spark.catalog.tableExists(name)
      if (exists && !ifNotExists)
        throw new IllegalArgumentException(
          s"CREATE VIEW: $name already exists (use IF NOT EXISTS, or DROP it)")
      if (!exists) {
        executeSql(query).createOrReplaceTempView(name)
        viewSqlMap(name) = query // retained for COMPILE PLAN serde
      }
      spark.emptyDataFrame
    } else if (CreateLikeP.pattern.matcher(sql).matches()) {
      // CREATE TABLE ... [WITH (...)] LIKE base (reference SqlTableLike,
      // FLIP-110): clone the base table's spec — schema, watermark,
      // primary key, partitioning — with WITH options overriding the
      // connector properties (path/format). The subset implemented is
      // the default merge (INCLUDING ALL, OVERWRITING OPTIONS).
      val m = CreateLikeP.findFirstMatchIn(sql).get
      val (ifNotExists, name, withClause, base) =
        (m.group(1) != null, m.group(2), Option(m.group(3)), m.group(4))
      val baseSpec = specs.getOrElse(base, throw new IllegalArgumentException(
        s"CREATE TABLE LIKE: unknown base table $base"))
      val opts = withClause.map(FlinkDdl.parseWithOptions).getOrElse(Map.empty)
      // raise on options this clone can't honor — a silently-dropped
      // 'connector' override would write to the base's path instead of
      // the connector the user asked for
      val unsupported = opts.keySet -- Set("path", "format", "connector")
      require(unsupported.isEmpty,
        s"CREATE TABLE LIKE: unsupported WITH options $unsupported " +
          "(supported: path, format, connector='filesystem')")
      require(opts.get("connector").forall(_ == "filesystem"),
        "CREATE TABLE LIKE: only the filesystem connector is supported")
      val spec = baseSpec.copy(
        path = opts.getOrElse("path", baseSpec.path),
        format = opts.getOrElse("format", baseSpec.format),
        schema = baseSpec.schema.orElse(Some(batchRead(baseSpec).schema)))
      if (!(ifNotExists && spark.catalog.tableExists(name)))
        createTable(name, spec)
      spark.emptyDataFrame
    } else if (ShowViewsP.pattern.matcher(sql).matches()) {
      // reference ShowViewsOperation (docs/dev/table/sql/show.md): the
      // session's views — temp views NOT backed by a DDL TableSpec
      import spark.implicits._
      spark.catalog.listTables().collect().map(_.name)
        .filterNot(specs.contains).toSeq.sorted.toDF("view name")
    } else if (ShowFunctionsP.pattern.matcher(sql).matches()) {
      // reference ShowFunctionsOperation: built-ins + registered UDFs
      import spark.implicits._
      spark.catalog.listFunctions().collect().map(_.name)
        .toSeq.sorted.toDF("function name")
    } else if (AlterRenameP.pattern.matcher(sql).matches()) {
      // ALTER TABLE [IF EXISTS] a RENAME TO b (reference alter.md)
      val m = AlterRenameP.findFirstMatchIn(sql).get
      val (ifExists, from, to) = (m.group(1) != null, m.group(2), m.group(3))
      specs.get(from) match {
        case None =>
          if (!ifExists) throw new IllegalArgumentException(
            s"ALTER TABLE: unknown table $from")
        case Some(spec) =>
          require(!specs.contains(to) && !spark.catalog.tableExists(to),
            s"ALTER TABLE RENAME: $to already exists")
          specs.remove(from)
          spark.catalog.dropTempView(from)
          createTable(to, spec)
      }
      spark.emptyDataFrame
    } else if (AlterSetP.pattern.matcher(sql).matches()) {
      // ALTER TABLE t SET ('k'='v'): connector-option updates — the
      // filesystem connector honors path/format re-pointing
      val m = AlterSetP.findFirstMatchIn(sql).get
      val (name, body) = (m.group(1), m.group(2))
      val spec = specs.getOrElse(name, throw new IllegalArgumentException(
        s"ALTER TABLE: unknown table $name"))
      val opts = """'([^']*)'\s*=\s*'([^']*)'""".r.findAllMatchIn(body)
        .map(o => o.group(1) -> o.group(2)).toMap
      val unsupported = opts.keySet -- Set("path", "format", "connector")
      require(unsupported.isEmpty,
        s"ALTER TABLE SET: unsupported option(s) $unsupported " +
          "(supported: path, format, connector='filesystem')")
      require(opts.get("connector").forall(_ == "filesystem"),
        "ALTER TABLE SET: only the filesystem connector is supported")
      createTable(name, spec.copy(
        path = opts.getOrElse("path", spec.path),
        format = opts.getOrElse("format", spec.format)))
      spark.emptyDataFrame
    } else if (AlterAddP.pattern.matcher(sql).matches() ||
        AlterAdd1P.pattern.matcher(sql).matches()) {
      // ALTER TABLE t ADD (c TYPE, ...) — reference SqlAlterTableAdd
      // .java:51. Filesystem semantics: schema merge on read — rows in
      // files written before the ADD read the new column as NULL
      // (parquet/orc missing-column fill), new INSERTs carry it.
      val m = AlterAddP.findFirstMatchIn(sql)
        .getOrElse(AlterAdd1P.findFirstMatchIn(sql).get)
      alterSchema(m.group(1)) { (spec, schema) =>
        val added = parseColumnDefs(m.group(2))
        val clash = added.map(_.name).filter(c =>
          schema.fieldNames.contains(c) ||
            TableEnv.virtualCols(spec).contains(c))
        require(clash.isEmpty, s"ALTER TABLE ADD: column(s) " +
          s"${clash.mkString(", ")} already exist")
        StructType(schema.fields ++ added)
      }
      spark.emptyDataFrame
    } else if (AlterModifyP.pattern.matcher(sql).matches() ||
        AlterModify1P.pattern.matcher(sql).matches()) {
      // ALTER TABLE t MODIFY (c TYPE, ...) — reference
      // SqlAlterTableSchema. Type changes apply on read; the new type
      // must be one the format can read the stored values as (parquet:
      // widening INT->BIGINT, FLOAT->DOUBLE, precision growth) — an
      // incompatible change fails at the next read, not silently.
      val m = AlterModifyP.findFirstMatchIn(sql)
        .getOrElse(AlterModify1P.findFirstMatchIn(sql).get)
      alterSchema(m.group(1)) { (_, schema) =>
        val mods = parseColumnDefs(m.group(2))
        val missing = mods.map(_.name).filterNot(schema.fieldNames.contains)
        require(missing.isEmpty, s"ALTER TABLE MODIFY: unknown column(s) " +
          s"${missing.mkString(", ")}")
        val byName = mods.map(f => f.name -> f).toMap
        StructType(schema.fields.map(f => byName.getOrElse(f.name, f)))
      }
      spark.emptyDataFrame
    } else if (AlterDropColP.pattern.matcher(sql).matches() ||
        AlterDropCol1P.pattern.matcher(sql).matches()) {
      // ALTER TABLE t DROP (c, ...) — projection on read; the stored
      // files keep the data (the reference's filesystem tables behave
      // the same: DDL is metadata-only)
      val m = AlterDropColP.findFirstMatchIn(sql)
        .getOrElse(AlterDropCol1P.findFirstMatchIn(sql).get)
      val dropped = m.group(2).split(",").map(_.trim).toSeq.filter(_.nonEmpty)
      alterSchema(m.group(1)) { (spec, schema) =>
        val missing = dropped.filterNot(schema.fieldNames.contains)
        require(missing.isEmpty, s"ALTER TABLE DROP: unknown column(s) " +
          s"${missing.mkString(", ")}")
        val load = dropped.filter(c => spec.primaryKey.contains(c) ||
          spec.partitions.contains(c) ||
          spec.watermark.exists(_._1 == c))
        require(load.isEmpty, s"ALTER TABLE DROP: column(s) " +
          s"${load.mkString(", ")} are load-bearing (primary key / " +
          "partition / watermark) — drop those declarations first")
        StructType(schema.fields.filterNot(f => dropped.contains(f.name)))
      }
      spark.emptyDataFrame
    } else if (AlterOtherP.pattern.matcher(sql).matches()) {
      throw new IllegalArgumentException(
        "ALTER TABLE: supported forms are RENAME TO, SET ('k'='v'), " +
          "ADD (c TYPE, ...), MODIFY (c TYPE, ...), DROP (c, ...)")
    } else if (CreateFunctionP.pattern.matcher(sql).matches()) {
      // CREATE [TEMPORARY] [SYSTEM] FUNCTION name AS 'identifier' —
      // reference SqlCreateFunction.java:40. The identifier must name
      // an ALREADY-REGISTERED session function (a graft built-in from
      // graft.functions.register or a Spark built-in): a documented
      // allowlist binding instead of the reference's arbitrary
      // class loading (no user classpath exists in this environment).
      val m = CreateFunctionP.findFirstMatchIn(sql).get
      val (ifNotExists, name, ident) =
        (m.group(1) != null, m.group(2), m.group(3))
      val registry = spark.sessionState.functionRegistry
      val target = org.apache.spark.sql.catalyst.FunctionIdentifier(
        name.toLowerCase)
      if (!(ifNotExists && registry.functionExists(target))) {
        val src = org.apache.spark.sql.catalyst.FunctionIdentifier(
          ident.toLowerCase)
        val builder = registry.lookupFunctionBuilder(src).getOrElse(
          throw new IllegalArgumentException(
            s"CREATE FUNCTION: '$ident' is not a registered function — " +
              "the identifier must name a session function (graft " +
              "built-ins or Spark built-ins; see SHOW FUNCTIONS). " +
              "Arbitrary class loading is not supported here."))
        val info = registry.lookupFunction(src).getOrElse(
          new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
            getClass.getName, name.toLowerCase))
        registry.registerFunction(target, info, builder)
      }
      spark.emptyDataFrame
    } else if (DropFunctionP.pattern.matcher(sql).matches()) {
      val m = DropFunctionP.findFirstMatchIn(sql).get
      val (ifExists, name) = (m.group(1) != null, m.group(2))
      val id = org.apache.spark.sql.catalyst.FunctionIdentifier(
        name.toLowerCase)
      val registry = spark.sessionState.functionRegistry
      if (!registry.dropFunction(id) && !ifExists)
        throw new IllegalArgumentException(
          s"DROP FUNCTION: unknown function $name")
      spark.emptyDataFrame
    } else if (TruncateP.pattern.matcher(sql).matches()) {
      // TRUNCATE TABLE (reference truncate.md, batch-only): delete all
      // rows, keep the table registered
      val name = TruncateP.findFirstMatchIn(sql).get.group(1)
      val spec = specs.getOrElse(name, throw new IllegalArgumentException(
        s"TRUNCATE TABLE: $name is not a registered table"))
      val schema = spec.schema.getOrElse(spark.table(name).schema)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          StructType(schema.filterNot(f =>
            TableEnv.virtualCols(spec).contains(f.name))))
        .write.format(spec.format).mode("overwrite").save(spec.path)
      refreshTable(name)
      spark.emptyDataFrame
    } else if (SetP.pattern.matcher(sql).matches()) {
      // SET 'key' = 'value' (reference set.md): session configuration
      val m = SetP.findFirstMatchIn(sql).get
      spark.conf.set(m.group(1), m.group(2))
      spark.emptyDataFrame
    } else if (SetListP.pattern.matcher(sql).matches()) {
      // bare SET lists the configuration
      import spark.implicits._
      spark.conf.getAll.toSeq.sorted.toDF("key", "value")
    } else if (ResetP.pattern.matcher(sql).matches()) {
      // RESET 'key' (reference reset.md) — key-level reset; a bare
      // RESET (reset everything) is not supported, name the key
      spark.conf.unset(ResetP.findFirstMatchIn(sql).get.group(1))
      spark.emptyDataFrame
    } else if (AnalyzeP.pattern.matcher(sql).matches()) {
      // ANALYZE TABLE ... COMPUTE STATISTICS [FOR ALL COLUMNS|FOR
      // COLUMNS c,...] (reference analyze.md, batch-only, manual).
      // With a hive catalog active the statement delegates to Spark's
      // native ANALYZE (stats land in the metastore and feed CBO/AQE);
      // otherwise stats are computed into the session spec registry,
      // visible via DESCRIBE EXTENDED-style inspection (tableStats).
      val m = AnalyzeP.findFirstMatchIn(sql).get
      val name = m.group(1)
      require(specs.contains(name) || spark.catalog.tableExists(name),
        s"ANALYZE TABLE: unknown table $name")
      if (persistToHive) spark.sql(sql)
      else {
        val df = spark.table(name)
        val cols: Seq[String] =
          if (m.group(2) == null) Nil
          else Option(m.group(3))
            .map(_.split(",").map(_.trim).toSeq.filter(_.nonEmpty))
            .getOrElse(df.columns.toSeq)
        val rowCount = df.count()
        val colStats = cols.map { c =>
          val r = df.select(
            org.apache.spark.sql.functions.count(col(c)),
            org.apache.spark.sql.functions.count_distinct(col(c)))
            .head()
          c -> (rowCount - r.getLong(0), r.getLong(1)) // (nulls, ndv)
        }.toMap
        tableStatsMap(name) = TableStats(rowCount, colStats)
      }
      spark.emptyDataFrame
    } else if (CreateCatalogP.pattern.matcher(sql).matches()) {
      // CREATE CATALOG c WITH ('type' = 'hive') — reference
      // hive_catalog.md. Requires a hive-enabled session (the catalog
      // implementation is fixed per JVM; see HiveCatalog.session).
      val m = CreateCatalogP.findFirstMatchIn(sql).get
      val (cname, body) = (m.group(1), m.group(2))
      val opts = """'([^']*)'\s*=\s*'([^']*)'""".r.findAllMatchIn(body)
        .map(o => o.group(1) -> o.group(2)).toMap
      opts.get("type") match {
        case Some("hive") =>
          require(HiveCatalog.available,
            "CREATE CATALOG: hive metastore classes not on the classpath")
          require(HiveCatalog.isHiveSession(spark),
            "CREATE CATALOG ('type'='hive') needs a hive-enabled " +
              "session — build it with graft.api.HiveCatalog.session(" +
              "warehouseDir, metastoreDir) (the catalog implementation " +
              "is fixed per JVM at first-session creation)")
          hiveCatalogNames += cname
        case other => throw new IllegalArgumentException(
          s"CREATE CATALOG: unsupported type $other (supported: hive)")
      }
      spark.emptyDataFrame
    } else if (UseCatalogP.pattern.matcher(sql).matches()) {
      val cname = UseCatalogP.findFirstMatchIn(sql).get.group(1)
      require(cname == "default_catalog" || hiveCatalogNames.contains(cname),
        s"USE CATALOG: unknown catalog $cname")
      activeCatalog = cname
      spark.emptyDataFrame
    } else if (ShowCatalogsP.pattern.matcher(sql).matches()) {
      import spark.implicits._
      ("default_catalog" +: hiveCatalogNames.toSeq.sorted)
        .toDF("catalog name")
    } else if (ShowCurrentCatalogP.pattern.matcher(sql).matches()) {
      // reference show.md: SHOW CURRENT CATALOG
      import spark.implicits._
      Seq(activeCatalog).toDF("current catalog name")
    } else if (ShowCurrentDatabaseP.pattern.matcher(sql).matches()) {
      // reference show.md: SHOW CURRENT DATABASE
      import spark.implicits._
      Seq(spark.catalog.currentDatabase).toDF("current database name")
    } else if (ShowJobsP.pattern.matcher(sql).matches()) {
      // reference job.md SHOW JOBS: the running streaming jobs — here
      // the session's active Structured Streaming queries
      import spark.implicits._
      spark.streams.active.toSeq
        .map(q => (q.id.toString, Option(q.name).getOrElse(""),
          if (q.isActive) "RUNNING" else "FINISHED"))
        .toDF("job id", "job name", "status")
    } else if (DescribeJobP.pattern.matcher(sql).matches()) {
      val id = DescribeJobP.findFirstMatchIn(sql).get.group(1)
      val q = spark.streams.active.find(q =>
        q.id.toString == id || q.runId.toString == id ||
          Option(q.name).contains(id))
        .getOrElse(throw new IllegalArgumentException(
          s"DESCRIBE JOB: no active job '$id'"))
      import spark.implicits._
      Seq((q.id.toString, Option(q.name).getOrElse(""),
        if (q.isActive) "RUNNING" else "FINISHED",
        Option(q.lastProgress).map(_.timestamp).getOrElse("")))
        .toDF("job id", "job name", "status", "last progress")
    } else if (StopJobP.pattern.matcher(sql).matches()) {
      // STOP JOB 'id': graceful stop. WITH SAVEPOINT maps to Spark's
      // checkpoint story — state lives in the query's checkpointLocation
      // already, so the stop itself is the "savepoint" (documented
      // delta: no separate savepoint artifact path is produced).
      val id = StopJobP.findFirstMatchIn(sql).get.group(1)
      val q = spark.streams.active.find(q =>
        q.id.toString == id || q.runId.toString == id ||
          Option(q.name).contains(id))
        .getOrElse(throw new IllegalArgumentException(
          s"STOP JOB: no active job '$id'"))
      q.stop()
      spark.emptyDataFrame
    } else if (ShowTablesP.pattern.matcher(sql).matches()) {
      // reference ShowTablesOperation: every table visible in the
      // session — DDL-registered specs plus plain temp views
      import spark.implicits._
      val names = (specs.keySet ++
        spark.catalog.listTables().collect().map(_.name)).toSeq.sorted
      names.toDF("table name")
    } else if (DescribeP.pattern.matcher(sql).matches()) {
      // reference DescribeTableOperation output shape: name / type /
      // null / key / extras / watermark
      val name = DescribeP.findFirstMatchIn(sql).get.group(1)
      val spec = specs.get(name)
      val schema = spec.flatMap(_.schema)
        .getOrElse(spark.table(name).schema)
      import spark.implicits._
      schema.fields.toSeq.map { f =>
        val key = if (spec.exists(_.primaryKey.contains(f.name)))
          "PRI NOT ENFORCED" else null
        val wm = spec.flatMap(_.watermark).filter(_._1 == f.name)
          .map { case (c, d) => s"`$c` - INTERVAL '$d'" }.orNull
        (f.name, f.dataType.sql, f.nullable, key, wm)
      }.toDF("name", "type", "null", "key", "watermark")
    } else if (ShowCreateP.pattern.matcher(sql).matches()) {
      val name = ShowCreateP.findFirstMatchIn(sql).get.group(1)
      import spark.implicits._
      Seq(showCreateTable(name)).toDF("result")
    } else if (FlinkDdl.matchesCtas(sql)) {
      // CTAS (reference FLIP-218): run the query, write it as the new
      // table's data (partitioned if declared), register with the
      // result's schema
      val ctas = FlinkDdl.parseCtas(sql)
      if (!(ctas.ifNotExists && spark.catalog.tableExists(ctas.name))) {
        val result = executeSql(ctas.query)
        val w0 = result.write.format(ctas.spec.format).mode("overwrite")
        val w = if (ctas.spec.partitions.nonEmpty)
          w0.partitionBy(ctas.spec.partitions: _*) else w0
        w.save(ctas.spec.path)
        createTable(ctas.name, ctas.spec)
      }
      spark.emptyDataFrame
    } else if (FlinkDdl.matches(sql)) {
      val ddl = FlinkDdl.parse(sql)
      if (!(ddl.ifNotExists && spark.catalog.tableExists(ddl.name)))
        createTable(ddl.name, ddl.spec)
      spark.emptyDataFrame
    } else if (InsertP.findFirstMatchIn(sql).isDefined) {
      // INSERT INTO/OVERWRITE a DDL-registered table: run the query and
      // write to the table's path in its format (the reference's
      // TableEnvironment.executeSql DML path → DynamicTableSink)
      val m = InsertP.findFirstMatchIn(sql).get
      val (mode, name, query) = (m.group(1).toUpperCase, m.group(2), m.group(3))
      val spec = specs.getOrElse(name, throw new IllegalArgumentException(
        s"INSERT target $name is not a registered table (use CREATE TABLE)"))
      val resultRaw = executeSql(query)
      // Flink binds INSERT columns by POSITION, not name (SqlValidator
      // appendPartitionAndNullsProjects): rename + cast the query result
      // to the declared schema so `INSERT INTO t VALUES (...)` (col1,
      // col2, ...) and positional SELECTs land in the right columns.
      // Changelog-tagged results (__row_kind) keep their names — that
      // convention is name-based by design.
      val result0 = spec.schema match {
        case Some(sch)
            if !resultRaw.columns.contains(graft.cdc.ChangelogFormats.RowKindCol) =>
          // arity mismatches must RAISE (Flink's validator rejects them)
          // — silently falling back to name-based binding would land
          // values in the wrong columns or drop them
          if (resultRaw.columns.length != sch.length)
            throw new IllegalArgumentException(
              s"INSERT INTO $name: query produces " +
                s"${resultRaw.columns.length} column(s) but the declared " +
                s"schema has ${sch.length} — positional binding requires " +
                "matching arity (INSERT INTO t (col, ...) column lists " +
                "are not supported)")
          resultRaw.toDF(sch.fieldNames: _*)
            .select(sch.fields.map(f =>
              col(f.name).cast(f.dataType)): _*)
        case _ => resultRaw
      }
      // changelog-mode inference (reference
      // FlinkChangelogModeInferenceProgram): an upsert sink — primary
      // key declared — keys on the PK and needs no -U pre-images, so
      // they are dropped before the write. Two storage modes:
      //  * declared schema INCLUDES __row_kind -> the sink stores the
      //    changelog itself (the reference's retract-visible sink);
      //  * declared schema OMITS __row_kind -> true upsert sink: the
      //    store stays an append-only changelog tagged with a batch
      //    epoch + intra-batch sequence, and batchRead materializes
      //    latest-per-PK with deletes applied (compaction-on-read, the
      //    compacted-topic shape — append-only writes scale; the
      //    single PK shuffle happens at read)
      val kindCol = graft.cdc.ChangelogFormats.RowKindCol
      val declaresKind = spec.schema.exists(_.fieldNames.contains(kindCol))
      val result =
        if (spec.primaryKey.nonEmpty && result0.columns.contains(kindCol)) {
          val dropped = graft.cdc.ChangelogFormats.dropUpdateBefore(result0)
          if (declaresKind) dropped
          else dropped
            .withColumn(TableEnv.EpochCol,
              org.apache.spark.sql.functions.lit(TableEnv.nextEpoch()))
            .withColumn(TableEnv.SeqCol,
              org.apache.spark.sql.functions.monotonically_increasing_id())
        } else result0
      val writer0 = result.write.format(spec.format)
        .mode(if (mode == "INTO") "append" else "overwrite")
      // PARTITIONED BY → hive-style partition directories, so selective
      // reads prune whole directories (reference: filesystem connector
      // partitioned tables, partition commit)
      val writer = if (spec.partitions.nonEmpty)
        writer0.partitionBy(spec.partitions: _*) else writer0
      writer.save(spec.path)
      batchRead(spec).createOrReplaceTempView(name) // refresh the view
      spark.emptyDataFrame
    } else if (graft.cep.MatchRecognize.matches(sql))
      graft.cep.MatchRecognize.execute(spark, sql)
    else if (TemporalJoinSql.matches(sql)) {
      // FOR SYSTEM_TIME AS OF: a processing-time attribute (or an
      // explicit LOOKUP hint) means a lookup join against the dim's
      // current version; an event-time attribute means the versioned
      // as-of join (reference: StreamExecLookupJoin vs
      // StreamExecTemporalJoin split on the time attribute kind)
      if (LookupJoinSql.isLookupJoin(sql,
          name => specs.get(name).flatMap(_.proctime)))
        LookupJoinSql.execute(this, sql)
      else TemporalJoinSql.execute(spark, sql,
        name => specs.get(name).flatMap(_.watermark).map(_._1))
    } else if (CurrentWatermarkSql.matches(sql))
      // CURRENT_WATERMARK(rowtime): per-row operator watermark via the
      // zero-state transformWithState pass-through (reference
      // BuiltInFunctionDefinitions.CURRENT_WATERMARK)
      CurrentWatermarkSql.execute(this, sql)
    else spark.sql(FlinkSqlDialect.translate(sql))

  /** Reference Table.createTemporaryView. */
  def createTemporaryView(name: String, df: DataFrame): Unit =
    df.createOrReplaceTempView(name)

  /** Reference TableEnvironmentImpl.fromValues (Values exec node). */
  def fromValues(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toList), schema)

  /** ALTER TABLE schema-evolution core: transform the declared (or
    * inferred-physical) schema and re-register — metadata-only, the
    * stored files are untouched; reads apply the merge. */
  private def alterSchema(name: String)(
      f: (TableSpec, StructType) => StructType): Unit = {
    val spec = specs.getOrElse(name, throw new IllegalArgumentException(
      s"ALTER TABLE: unknown table $name"))
    val base = spec.schema.getOrElse(StructType(
      batchRead(spec).schema.filterNot(fld =>
        TableEnv.virtualCols(spec).contains(fld.name))))
    createTable(name, spec.copy(schema = Some(f(spec, base))))
  }

  private def parseColumnDefs(body: String) = FlinkDdl.parseColumnDefs(body)

  private def batchRead(spec: TableSpec): DataFrame = {
    import org.apache.spark.sql.functions.{col, row_number}
    // virtual columns (PROCTIME attribute, computed columns, METADATA
    // columns) are materialized on read, never stored
    def withProctime(df: DataFrame): DataFrame =
      TableEnv.applyVirtual(df, spec)
    def forced: DataFrame = withProctime {
      val r = spark.read.format(spec.format)
      spec.schema.fold(r)(s => r.schema(s)).load(spec.path)
    }
    val kindCol = graft.cdc.ChangelogFormats.RowKindCol
    val declaresKind = spec.schema.exists(_.fieldNames.contains(kindCol))
    if (spec.primaryKey.isEmpty || declaresKind) forced
    else {
      // upsert materialization (see executeSql INSERT): latest row per
      // PK by (batch epoch, intra-batch seq), delete tombstones applied,
      // internal columns projected away. One shuffle on the PK — the
      // same cost as any log compaction, and it happens at read, not on
      // the append-only write path.
      val raw = spark.read.format(spec.format).load(spec.path)
      val internal = Set(kindCol, TableEnv.EpochCol, TableEnv.SeqCol)
      if (!internal.subsetOf(raw.columns.toSet)) forced
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(spec.primaryKey.map(col): _*)
          .orderBy(col(TableEnv.EpochCol).desc, col(TableEnv.SeqCol).desc)
        val declared = spec.schema.map(_.fieldNames.toSeq)
          .getOrElse(raw.columns.toSeq.filterNot(internal))
        withProctime(raw.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1 && col(kindCol) =!= "-D")
          .select(declared.map(col): _*))
      }
    }
  }
}

object TableEnv {
  /** Internal storage columns of the upsert-sink changelog store. */
  val EpochCol = "__upsert_epoch"
  val SeqCol = "__upsert_seq"

  /** Names of a spec's virtual (never-stored) columns. */
  private[api] def virtualCols(spec: TableSpec): Set[String] =
    spec.proctime.toSet ++ spec.computed.map(_._1) ++
      spec.metadataCols.map(_._1)

  /** Filesystem-connector metadata keys → Spark's `_metadata` struct
    * fields (the hidden file-source metadata column). */
  private[api] def metadataExpr(key: String): org.apache.spark.sql.Column = {
    val field = key match {
      case "file.path" | "filepath" => "file_path"
      case "file.name" => "file_name"
      case "file.size" => "file_size"
      case "file.modification-time" | "timestamp" => "file_modification_time"
      case other => throw new IllegalArgumentException(
        s"METADATA FROM '$other': the filesystem connector exposes " +
          "file.path, file.name, file.size, file.modification-time")
    }
    org.apache.spark.sql.functions.col(s"_metadata.$field")
  }

  /** Materialize a spec's virtual columns on a freshly-read DataFrame:
    * PROCTIME attribute, then METADATA columns, then computed columns
    * in declaration order (later expressions may reference earlier
    * columns, including other virtual ones). */
  private[api] def applyVirtual(df: DataFrame, spec: TableSpec): DataFrame = {
    import org.apache.spark.sql.functions.{current_timestamp, expr}
    val withPt = spec.proctime.fold(df)(pt =>
      df.withColumn(pt, current_timestamp()))
    val withMeta = spec.metadataCols.foldLeft(withPt) {
      case (d, (cname, key)) => d.withColumn(cname, metadataExpr(key))
    }
    spec.computed.foldLeft(withMeta) {
      case (d, (cname, e)) => d.withColumn(cname, expr(e))
    }
  }

  // strictly increasing batch epochs even when two INSERTs land within
  // the same millisecond (wall time is only the starting point); cross-
  // process writers would need transactional table storage — out of
  // scope, single-writer semantics documented in USAGE.md
  private val epochCounter = new java.util.concurrent.atomic.AtomicLong(0L)
  private[api] def nextEpoch(): Long =
    epochCounter.updateAndGet(prev => math.max(prev + 1, System.currentTimeMillis()))

  def apply(spark: SparkSession): TableEnv = new TableEnv(spark)
}
