package graft.api

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class FlinkDdlSpec extends SparkSpec {

  test("parse extracts schema, watermark, primary key, options") {
    val ddl = FlinkDdl.parse("""
      CREATE TABLE IF NOT EXISTS my_orders (
        o_orderkey BIGINT,
        o_totalprice DOUBLE,
        o_flag VARCHAR(1),
        o_dec DECIMAL(12, 2),
        ts TIMESTAMP(3),
        WATERMARK FOR ts AS ts - INTERVAL '5' SECOND,
        PRIMARY KEY (o_orderkey) NOT ENFORCED
      ) WITH (
        'connector' = 'filesystem',
        'path' = '/tmp/orders',
        'format' = 'parquet'
      )""")
    assert(ddl.name == "my_orders" && ddl.ifNotExists)
    assert(ddl.spec.path == "/tmp/orders" && ddl.spec.format == "parquet")
    assert(ddl.spec.schema.get == StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_totalprice", DoubleType),
      StructField("o_flag", StringType),
      StructField("o_dec", DecimalType(12, 2)),
      StructField("ts", TimestampType))))
    assert(ddl.spec.watermark.contains(("ts", "5 seconds")))
    assert(ddl.spec.primaryKey == Seq("o_orderkey"))
  }

  test("executeSql DDL registers a readable table with the declared watermark") {
    val env = TableEnv(spark)
    env.executeSql(s"""
      CREATE TABLE ddl_events (
        event_id BIGINT,
        ts BIGINT,
        user_id BIGINT,
        event_type STRING,
        value DOUBLE,
        props STRING,
        WATERMARK FOR ts AS ts - INTERVAL '10' SECOND
      ) WITH ('connector' = 'filesystem',
              'path' = '$sfDir/events.parquet',
              'format' = 'parquet')""")
    val n = env.from("ddl_events").count()
    assert(n > 0)
    assert(env.tableSpec("ddl_events").exists(_.watermark
      .contains(("ts", "10 seconds"))))
    // batch SQL over the registered view works
    val c = env.executeSql(
      "SELECT COUNT(*) AS n FROM ddl_events WHERE event_type = 'click'")
      .collect().head.getLong(0)
    assert(c > 0 && c < n)
  }

  test("unknown connector raises with a clear message") {
    val e = intercept[IllegalArgumentException] {
      FlinkDdl.parse("""CREATE TABLE t (a INT) WITH (
        'connector' = 'kafka', 'topic' = 'x')""")
    }
    assert(e.getMessage.contains("kafka"))
  }

  test("INSERT INTO appends and INSERT OVERWRITE replaces") {
    val env = TableEnv(spark)
    graft.core.Tables.registerAll(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("ddl_sink").toString
    env.executeSql(s"""
      CREATE TABLE nation_sink (
        n_nationkey BIGINT,
        n_name STRING
      ) WITH ('connector' = 'filesystem', 'path' = '$dir/nation_sink',
              'format' = 'parquet')""")
    env.executeSql(
      "INSERT INTO nation_sink SELECT n_nationkey, n_name FROM nation")
    val n1 = env.from("nation_sink").count()
    assert(n1 > 0)
    env.executeSql(
      "INSERT INTO nation_sink SELECT n_nationkey, n_name FROM nation")
    assert(env.from("nation_sink").count() == 2 * n1)
    env.executeSql(
      "INSERT OVERWRITE nation_sink SELECT n_nationkey, n_name FROM nation " +
        "WHERE n_nationkey < 5")
    assert(env.from("nation_sink").count() == 5)
  }

  test("upsert sink (primary key) drops -U rows on INSERT - changelog inference") {
    val env = TableEnv(spark)
    import spark.implicits._
    Seq((1L, "a", "+I"), (1L, "a", "-U"), (1L, "b", "+U"), (2L, "c", "+I"))
      .toDF("pk", "v", graft.cdc.ChangelogFormats.RowKindCol)
      .createOrReplaceTempView("cl_src")
    val dir = java.nio.file.Files.createTempDirectory("upsert_sink").toString
    env.executeSql(s"""
      CREATE TABLE upsert_sink (
        pk BIGINT, v STRING, __row_kind STRING,
        PRIMARY KEY (pk) NOT ENFORCED
      ) WITH ('connector' = 'filesystem', 'path' = '$dir/t',
              'format' = 'parquet')""")
    env.executeSql("INSERT INTO upsert_sink SELECT * FROM cl_src")
    val kinds = env.from("upsert_sink")
      .select(graft.cdc.ChangelogFormats.RowKindCol).collect()
      .map(_.getString(0)).sorted.toSeq
    assert(kinds == Seq("+I", "+I", "+U"))  // -U inferred away

    // a sink WITHOUT a primary key keeps the full changelog
    env.executeSql(s"""
      CREATE TABLE retract_sink (
        pk BIGINT, v STRING, __row_kind STRING
      ) WITH ('connector' = 'filesystem', 'path' = '$dir/t2',
              'format' = 'parquet')""")
    env.executeSql("INSERT INTO retract_sink SELECT * FROM cl_src")
    assert(env.from("retract_sink").count() == 4)
  }

  test("upsert sink without __row_kind in schema materializes latest per PK") {
    val env = TableEnv(spark)
    import spark.implicits._
    val kind = graft.cdc.ChangelogFormats.RowKindCol
    Seq((1L, "a", "+I"), (1L, "a", "-U"), (1L, "b", "+U"),
        (2L, "c", "+I"), (3L, "d", "+I"))
      .toDF("pk", "v", kind).coalesce(1).createOrReplaceTempView("up_src1")
    val dir = java.nio.file.Files.createTempDirectory("upsert_mat").toString
    env.executeSql(s"""
      CREATE TABLE upsert_mat (
        pk BIGINT, v STRING,
        PRIMARY KEY (pk) NOT ENFORCED
      ) WITH ('connector' = 'filesystem', 'path' = '$dir/t',
              'format' = 'parquet')""")
    env.executeSql("INSERT INTO upsert_mat SELECT * FROM up_src1")
    // second batch: update pk=2, delete pk=3
    Seq((2L, "c2", "+U"), (3L, "d", "-D"))
      .toDF("pk", "v", kind).coalesce(1).createOrReplaceTempView("up_src2")
    env.executeSql("INSERT INTO upsert_mat SELECT * FROM up_src2")
    // read-back is the materialized table: declared schema (no internal
    // columns), latest value per PK, deleted key gone
    assert(env.from("upsert_mat").columns.toSeq == Seq("pk", "v"))
    val rows = env.from("upsert_mat").as[(Long, String)].collect().sorted.toSeq
    assert(rows == Seq((1L, "b"), (2L, "c2")))
  }

  test("PARTITIONED BY writes hive-style dirs and reads prune partitions") {
    val env = TableEnv(spark)
    val dir = java.nio.file.Files.createTempDirectory("ddl_part").toString
    env.executeSql(s"""
      CREATE TABLE part_docs (
        doc_id BIGINT, text STRING, lang STRING
      ) PARTITIONED BY (lang)
      WITH ('connector' = 'filesystem', 'path' = '$dir/t',
            'format' = 'parquet')""")
    assert(env.tableSpec("part_docs").get.partitions == Seq("lang"))
    env.createTemporaryView("part_src",
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text", "lang"))
    env.executeSql("INSERT INTO part_docs SELECT * FROM part_src")
    // hive-style partition directories exist
    val dirs = new java.io.File(s"$dir/t").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.exists(_.startsWith("lang=")), dirs.toString)
    // read-back matches and a lang filter prunes whole directories
    val total = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(env.from("part_docs").count() == total)
    val pruned = env.from("part_docs").filter(col("lang") === "en")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(lang"), scan)
  }

  test("CTAS creates, writes and registers a table from a query") {
    val env = TableEnv(spark)
    val dir = java.nio.file.Files.createTempDirectory("ddl_ctas").toString
    env.createTemporaryView("ctas_src",
      spark.read.parquet(s"$sfDir/nation.parquet"))
    env.executeSql(s"""
      CREATE TABLE ctas_regions
      WITH ('connector' = 'filesystem', 'path' = '$dir/t', 'format' = 'parquet')
      AS SELECT n_regionkey, COUNT(*) AS n_nations
         FROM ctas_src GROUP BY n_regionkey""")
    assert(env.from("ctas_regions").count() == 5)
    assert(env.from("ctas_regions").columns.toSeq ==
      Seq("n_regionkey", "n_nations"))
    // IF NOT EXISTS on an existing table is a no-op (does not rewrite)
    env.executeSql(s"""
      CREATE TABLE IF NOT EXISTS ctas_regions
      WITH ('connector' = 'filesystem', 'path' = '$dir/t', 'format' = 'parquet')
      AS SELECT 1 AS x""")
    assert(env.from("ctas_regions").count() == 5)
  }

  test("CTAS with PARTITIONED BY lays out partition directories") {
    val env = TableEnv(spark)
    val dir = java.nio.file.Files.createTempDirectory("ddl_ctasp").toString
    env.createTemporaryView("ctasp_src",
      spark.read.parquet(s"$sfDir/documents.parquet"))
    env.executeSql(s"""
      CREATE TABLE ctas_by_lang
      PARTITIONED BY (lang)
      WITH ('connector' = 'filesystem', 'path' = '$dir/t', 'format' = 'parquet')
      AS SELECT doc_id, lang FROM ctasp_src""")
    val dirs = new java.io.File(s"$dir/t").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.exists(_.startsWith("lang=")), dirs.toString)
    assert(env.from("ctas_by_lang").count() ==
      spark.read.parquet(s"$sfDir/documents.parquet").count())
  }

  test("SHOW CREATE TABLE round-trips the DDL; DROP TABLE unregisters") {
    val env = TableEnv(spark)
    val dir = java.nio.file.Files.createTempDirectory("ddl_show").toString
    env.executeSql(s"""
      CREATE TABLE show_t (
        k BIGINT, v STRING, ts TIMESTAMP(3),
        WATERMARK FOR ts AS ts - INTERVAL '5' SECOND,
        PRIMARY KEY (k) NOT ENFORCED
      ) PARTITIONED BY (v)
      WITH ('connector' = 'filesystem', 'path' = '$dir/t',
            'format' = 'parquet')""")
    val ddl = env.executeSql("SHOW CREATE TABLE show_t")
      .collect().head.getString(0)
    // the emitted DDL parses back to the same spec
    val re = FlinkDdl.parse(ddl)
    assert(re.name == "show_t")
    assert(re.spec.primaryKey == Seq("k"))
    assert(re.spec.watermark.contains(("ts", "5 seconds")))
    assert(re.spec.partitions == Seq("v"))
    assert(re.spec.path == s"$dir/t")
    env.executeSql("DROP TABLE show_t")
    intercept[Exception] { env.from("show_t").collect() }
    // DROP of a missing table: IF EXISTS is a no-op, plain form raises
    env.executeSql("DROP TABLE IF EXISTS show_t")
    intercept[IllegalArgumentException] { env.executeSql("DROP TABLE show_t") }
  }

  test("SHOW TABLES lists registered tables; DESCRIBE reports schema + pk + watermark") {
    val env = TableEnv(spark)
    val dir = java.nio.file.Files.createTempDirectory("ddl_show").toString
    spark.range(3).select(col("id").as("k"), col("id").cast("double").as("v"),
        current_timestamp().as("ts"))
      .write.mode("overwrite").parquet(s"$dir/t")
    env.executeSql(s"""
      CREATE TABLE desc_t (
        k BIGINT,
        v DOUBLE,
        ts TIMESTAMP(3),
        WATERMARK FOR ts AS ts - INTERVAL '5' SECOND,
        PRIMARY KEY (k) NOT ENFORCED
      ) WITH ('connector' = 'filesystem', 'path' = '$dir/t',
              'format' = 'parquet')""")
    val tables = env.executeSql("SHOW TABLES")
      .collect().map(_.getString(0))
    assert(tables.contains("desc_t"))
    val desc = env.executeSql("DESCRIBE desc_t").collect()
      .map(r => r.getString(0) ->
        (r.getString(1), r.getBoolean(2), r.getString(3), r.getString(4)))
      .toMap
    assert(desc("k")._1 == "BIGINT")
    assert(desc("k")._3 == "PRI NOT ENFORCED")
    assert(desc("v") == (("DOUBLE", true, null, null)))
    assert(desc("ts")._4 != null && desc("ts")._4.contains("ts"))
    // DESC shorthand routes the same way
    assert(env.executeSql("DESC desc_t").count() == 3)
    env.executeSql("DROP TABLE desc_t")
  }

  test("CREATE VIEW registers a queryable view; CREATE TABLE LIKE clones the spec") {
    val env = TableEnv(spark)
    val dir = java.nio.file.Files.createTempDirectory("ddl_like").toString
    spark.range(5).select(col("id").as("k"), (col("id") * 2).as("v"))
      .write.mode("overwrite").parquet(s"$dir/base")
    env.executeSql(s"""
      CREATE TABLE like_base (
        k BIGINT,
        v BIGINT,
        PRIMARY KEY (k) NOT ENFORCED
      ) WITH ('connector' = 'filesystem', 'path' = '$dir/base',
              'format' = 'parquet')""")
    // view over dialect SQL
    env.executeSql(
      "CREATE TEMPORARY VIEW like_v AS SELECT k, v FROM like_base WHERE k >= 2")
    assert(env.from("like_v").count() == 3)
    // LIKE with a path override: clones schema + pk, points elsewhere
    env.executeSql(s"""
      CREATE TABLE like_clone WITH ('path' = '$dir/clone') LIKE like_base""")
    val clone = env.tableSpec("like_clone").get
    assert(clone.path == s"$dir/clone")
    assert(clone.format == "parquet")
    assert(clone.primaryKey == Seq("k"))
    assert(clone.schema.get.fieldNames.toSeq == Seq("k", "v"))
    // the clone starts empty (new path) and accepts INSERT
    assert(env.from("like_clone").count() == 0)
    env.executeSql("INSERT INTO like_clone SELECT k, v FROM like_base")
    assert(env.from("like_clone").count() == 5)
    // plain LIKE with no WITH shares the base path
    env.executeSql("CREATE TABLE like_alias LIKE like_base")
    assert(env.tableSpec("like_alias").get.path == s"$dir/base")
    assert(env.from("like_alias").count() == 5)
    // unknown base fails loudly
    intercept[IllegalArgumentException] {
      env.executeSql("CREATE TABLE nope LIKE no_such_base")
    }
    Seq("like_clone", "like_alias", "like_base").foreach(t =>
      env.executeSql(s"DROP TABLE $t"))
  }

  test("INSERT INTO ... VALUES writes literal rows") {
    val env = TableEnv(spark)
    val dir = java.nio.file.Files.createTempDirectory("ddl_vals").toString
    env.executeSql(s"""
      CREATE TABLE vals_t (
        k BIGINT,
        v STRING
      ) WITH ('connector' = 'filesystem', 'path' = '$dir/t',
              'format' = 'parquet')""")
    env.executeSql("INSERT INTO vals_t VALUES (1, 'a'), (2, 'b')")
    env.executeSql("INSERT INTO vals_t VALUES (3, 'c')")
    val got = env.from("vals_t").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // positional binding REJECTS arity mismatches (Flink's validator
    // does too) instead of silently falling back to name-based binding
    val e = intercept[IllegalArgumentException] {
      env.executeSql("INSERT INTO vals_t VALUES (4, 'd', 'extra')")
    }
    assert(e.getMessage.contains("arity") ||
      e.getMessage.contains("column"))
    env.executeSql("DROP TABLE vals_t")
  }

  test("SHOW VIEWS / SHOW FUNCTIONS / SET / RESET / ALTER / TRUNCATE") {
    val env = TableEnv(spark)
    val dir = java.nio.file.Files.createTempDirectory("ddl_misc").toString
    env.executeSql(s"""
      CREATE TABLE misc_t (k BIGINT, v STRING)
      WITH ('connector' = 'filesystem', 'path' = '$dir/t',
            'format' = 'parquet')""")
    env.executeSql("INSERT INTO misc_t VALUES (1, 'a'), (2, 'b')")
    env.executeSql("CREATE TEMPORARY VIEW misc_v AS SELECT k FROM misc_t")
    // SHOW VIEWS lists views, not DDL tables
    val views = env.executeSql("SHOW VIEWS").collect().map(_.getString(0))
    assert(views.contains("misc_v") && !views.contains("misc_t"))
    // SHOW FUNCTIONS includes the registered graft UDFs
    val fns = env.executeSql("SHOW FUNCTIONS").collect().map(_.getString(0))
    assert(fns.contains("collect_multiset") && fns.contains("split_index"))
    // SET writes session conf; bare SET lists it; RESET unsets
    env.executeSql("SET 'graft.test.flag' = 'on'")
    assert(spark.conf.get("graft.test.flag") == "on")
    val listed = env.executeSql("SET").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(listed.get("graft.test.flag").contains("on"))
    env.executeSql("RESET 'graft.test.flag'")
    assert(spark.conf.getOption("graft.test.flag").isEmpty)
    // ALTER TABLE RENAME moves the spec and the view
    env.executeSql("ALTER TABLE misc_t RENAME TO misc_t2")
    assert(env.tableSpec("misc_t").isEmpty &&
      env.tableSpec("misc_t2").isDefined)
    assert(env.from("misc_t2").count() == 2)
    // unsupported ALTER forms raise with a pointer
    val e = intercept[IllegalArgumentException](
      env.executeSql("ALTER TABLE misc_t2 RESET ('format')"))
    assert(e.getMessage.contains("RENAME"))
    // TRUNCATE deletes rows, keeps the table
    env.executeSql("TRUNCATE TABLE misc_t2")
    assert(env.from("misc_t2").count() == 0)
    assert(env.tableSpec("misc_t2").isDefined)
    env.executeSql("DROP TABLE misc_t2")
  }

  test("ANALYZE TABLE computes row and column statistics") {
    val env = TableEnv(spark)
    env.executeSql(s"""
      CREATE TABLE an_t (r_regionkey BIGINT, r_name STRING, r_comment STRING)
      WITH ('connector' = 'filesystem', 'path' = '$sfDir/region.parquet',
            'format' = 'parquet')""")
    env.executeSql("ANALYZE TABLE an_t COMPUTE STATISTICS")
    assert(env.tableStats("an_t").exists(s =>
      s.rowCount == 5 && s.columns.isEmpty))
    env.executeSql("ANALYZE TABLE an_t COMPUTE STATISTICS FOR COLUMNS r_name")
    val st = env.tableStats("an_t").get
    assert(st.columns("r_name") == ((0L, 5L))) // no nulls, 5 distinct
    env.executeSql("ANALYZE TABLE an_t COMPUTE STATISTICS FOR ALL COLUMNS")
    assert(env.tableStats("an_t").get.columns.size == 3)
    intercept[IllegalArgumentException](
      env.executeSql("ANALYZE TABLE nope_t COMPUTE STATISTICS"))
    env.executeSql("DROP TABLE an_t")
  }

  test("SHOW JOBS / DESCRIBE JOB / STOP JOB manage streaming queries") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val env = TableEnv(spark)
    val ms = MemoryStream[Long]
    ms.addData(1L, 2L, 3L)
    val q = ms.toDF().writeStream.queryName("graft_job_q")
      .format("memory").start()
    try {
      q.processAllAvailable()
      val jobs = env.executeSql("SHOW JOBS").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      assert(jobs.exists(j => j._2 == "graft_job_q" && j._3 == "RUNNING"))
      val d = env.executeSql("DESCRIBE JOB 'graft_job_q'").collect().head
      assert(d.getString(2) == "RUNNING")
      env.executeSql("STOP JOB 'graft_job_q'")
      assert(!spark.streams.active.exists(x =>
        Option(x.name).contains("graft_job_q")))
      val e = intercept[IllegalArgumentException](
        env.executeSql("DESCRIBE JOB 'graft_job_q'"))
      assert(e.getMessage.contains("no active job"))
    } finally if (q.isActive) q.stop()
  }

  test("complex types: ARRAY/MAP/ROW/MULTISET nest arbitrarily") {
    assert(FlinkDdl.sqlType("ARRAY<STRING>") == ArrayType(StringType))
    assert(FlinkDdl.sqlType("MAP<STRING, INT>") ==
      MapType(StringType, IntegerType))
    assert(FlinkDdl.sqlType("ROW<a INT, b STRING>") == StructType(Seq(
      StructField("a", IntegerType), StructField("b", StringType))))
    // nesting + NOT NULL on a ROW field + the paren ROW form
    assert(FlinkDdl.sqlType("ARRAY<MAP<STRING, ARRAY<INT>>>") ==
      ArrayType(MapType(StringType, ArrayType(IntegerType))))
    assert(FlinkDdl.sqlType(
      "ROW<id BIGINT NOT NULL, tags ARRAY<STRING>, kv MAP<STRING, DOUBLE>>")
      == StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("tags", ArrayType(StringType)),
        StructField("kv", MapType(StringType, DoubleType)))))
    assert(FlinkDdl.sqlType("ROW(a INT, b ROW<c STRING>)") == StructType(Seq(
      StructField("a", IntegerType),
      StructField("b", StructType(Seq(StructField("c", StringType)))))))
    // MULTISET → count map; TIME → millis-of-day INT (documented deltas)
    assert(FlinkDdl.sqlType("MULTISET<STRING>") ==
      MapType(StringType, IntegerType, valueContainsNull = false))
    assert(FlinkDdl.sqlType("TIME") == IntegerType)
    assert(FlinkDdl.sqlType("DECIMAL(10, 2) NOT NULL") == DecimalType(10, 2))
    val e = intercept[IllegalArgumentException](
      FlinkDdl.sqlType("MAP<STRING>"))
    assert(e.getMessage.contains("two type arguments"))
  }

  test("sqlType round-trips randomly nested DDL types (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val scalarGen: Gen[(String, DataType)] = Gen.oneOf(
      "BIGINT" -> LongType, "INT" -> IntegerType, "SMALLINT" -> ShortType,
      "TINYINT" -> ByteType, "DOUBLE" -> DoubleType, "FLOAT" -> FloatType,
      "BOOLEAN" -> BooleanType, "DATE" -> DateType, "STRING" -> StringType,
      "BYTES" -> BinaryType, "DECIMAL(10, 2)" -> DecimalType(10, 2))
    def typeGen(depth: Int): Gen[(String, DataType)] =
      if (depth <= 0) scalarGen
      else Gen.frequency(
        3 -> scalarGen,
        1 -> typeGen(depth - 1).map { case (s, t) =>
          (s"ARRAY<$s>", ArrayType(t)) },
        1 -> Gen.zip(scalarGen, typeGen(depth - 1)).map { case ((ks, kt), (vs, vt)) =>
          (s"MAP<$ks, $vs>", MapType(kt, vt)) },
        1 -> Gen.zip(typeGen(depth - 1), typeGen(depth - 1), Gen.oneOf(true, false))
          .map { case ((as, at), (bs, bt), bn) =>
            val bNull = if (bn) "" else " NOT NULL"
            (s"ROW<f1 $as, f2 $bs$bNull>", StructType(Seq(
              StructField("f1", at), StructField("f2", bt, nullable = bn))))
          })
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200),
      Prop.forAll(typeGen(3)) { case (ddl, want) =>
        val got = FlinkDdl.sqlType(ddl)
        if (got != want) println(s"MISMATCH ddl=$ddl got=$got want=$want")
        got == want
      })
    assert(res.passed, res.status.toString)
  }

  test("a declared ARRAY/MAP/ROW table reads back through SQL") {
    val env = TableEnv(spark)
    val dir = java.nio.file.Files.createTempDirectory("ddl_complex").toString
    import spark.implicits._
    Seq(
      (1L, Seq("a", "b"), Map("x" -> 1.0), ("n1", 10)),
      (2L, Seq("c"), Map("y" -> 2.0), ("n2", 20)))
      .toDF("id", "tags", "props", "nested")
      .write.mode("overwrite").parquet(s"$dir/t")
    env.executeSql(s"""
      CREATE TABLE complex_t (
        id BIGINT,
        tags ARRAY<STRING>,
        props MAP<STRING, DOUBLE>,
        nested ROW<_1 STRING, _2 INT>
      ) WITH ('connector' = 'filesystem', 'path' = '$dir/t',
              'format' = 'parquet')""")
    val got = env.executeSql(
      "SELECT id, size(tags) AS nt, props['x'] AS px, nested._2 AS nv " +
        "FROM complex_t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        Option(r.get(2)), r.getInt(3))).toSeq
    assert(got == Seq((1L, 2, Some(1.0), 10), (2L, 1, None, 20)))
  }

  test("computed and METADATA columns materialize on read") {
    val env = TableEnv(spark)
    val dir = java.nio.file.Files.createTempDirectory("ddl_virtual").toString
    import spark.implicits._
    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/t")
    val ddl = s"""
      CREATE TABLE virt_t (
        id BIGINT,
        v DOUBLE,
        v2 AS v * 2,
        v3 AS v2 + id,
        fname STRING METADATA FROM 'file.name',
        fsize BIGINT METADATA FROM 'file.size'
      ) WITH ('connector' = 'filesystem', 'path' = '$dir/t',
              'format' = 'parquet')"""
    // parse surface
    val spec = FlinkDdl.parse(ddl).spec
    assert(spec.computed == Seq("v2" -> "v * 2", "v3" -> "v2 + id"))
    assert(spec.metadataCols ==
      Seq("fname" -> "file.name", "fsize" -> "file.size"))
    assert(spec.schema.get.fieldNames.toSeq == Seq("id", "v"))
    // read surface: computed chain + file metadata
    env.executeSql(ddl)
    val rows = env.executeSql(
      "SELECT id, v2, v3, fname, fsize FROM virt_t ORDER BY id").collect()
    assert(rows.map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .toSeq == Seq((1L, 20.0, 21.0), (2L, 40.0, 42.0)))
    assert(rows.forall(r => r.getString(3).endsWith(".parquet") &&
      r.getLong(4) > 0))
    // virtual columns stay out of SHOW CREATE's physical list
    val show = env.showCreateTable("virt_t")
    assert(show.contains("v2 AS v * 2") &&
      show.contains("fname STRING METADATA FROM 'file.name'"))
    val e = intercept[IllegalArgumentException](
      env.createTable("bad_meta", TableSpec(path = s"$dir/t",
        metadataCols = Seq("m" -> "no.such.key"))))
    assert(e.getMessage.contains("file.path"))
  }

  test("watermark on a computed event-time column (streaming read)") {
    val env = TableEnv(spark)
    val dir = java.nio.file.Files.createTempDirectory("ddl_wm").toString
    import spark.implicits._
    Seq((1L, 1700000000L), (2L, 1700000005L)).toDF("id", "epoch")
      .write.mode("overwrite").parquet(s"$dir/t")
    env.executeSql(s"""
      CREATE TABLE wm_t (
        id BIGINT,
        epoch BIGINT,
        ets AS timestamp_seconds(epoch),
        WATERMARK FOR ets AS ets - INTERVAL '10' SECOND
      ) WITH ('connector' = 'filesystem', 'path' = '$dir/t',
              'format' = 'parquet')""")
    val sdf = env.fromStreaming("wm_t")
    assert(sdf.isStreaming)
    assert(sdf.schema("ets").dataType == TimestampType)
    // the watermark landed on the COMPUTED column
    assert(sdf.queryExecution.analyzed.toString
      .contains("EventTimeWatermark"))
    // and a windowed aggregate over it runs to completion
    val q = sdf.groupBy(window(col("ets"), "10 seconds"))
      .count().writeStream.format("memory").queryName("wm_t_q")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      assert(spark.table("wm_t_q").count() > 0)
    } finally q.stop()
    // a watermark expression on a DIFFERENT column raises at parse
    val e = intercept[IllegalArgumentException](FlinkDdl.parse("""
      CREATE TABLE bad_wm (ts TIMESTAMP(3), o TIMESTAMP(3),
        WATERMARK FOR ts AS o - INTERVAL '5' SECOND
      ) WITH ('path' = '/tmp/x')"""))
    assert(e.getMessage.contains("computed column"))
  }

  test("WITH reader options reach streaming reads (maxFilesPerTrigger)") {
    val env = TableEnv(spark)
    val dir = java.nio.file.Files.createTempDirectory("ddl_opts").toString
    import spark.implicits._
    (0 until 3).foreach { i =>
      Seq((i.toLong, i * 10L)).toDF("id", "v").coalesce(1)
        .write.mode("append").parquet(s"$dir/t")
    }
    env.executeSql(s"""
      CREATE TABLE opts_t (id BIGINT, v BIGINT)
      WITH ('connector' = 'filesystem', 'path' = '$dir/t',
            'format' = 'parquet', 'maxFilesPerTrigger' = '1')""")
    assert(env.tableSpec("opts_t").get.options ==
      Map("maxFilesPerTrigger" -> "1"))
    assert(env.showCreateTable("opts_t").contains("'maxFilesPerTrigger' = '1'"))
    val q = env.fromStreaming("opts_t").writeStream.format("memory")
      .queryName("opts_t_q")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination()
      assert(q.recentProgress.count(_.numInputRows > 0) == 3,
        "one staged file per micro-batch")
      assert(spark.table("opts_t_q").count() == 3L)
    } finally q.stop()
  }

  test("CREATE FUNCTION binds registered names; DROP removes them") {
    val env = TableEnv(spark)
    // graft-registered function under a user alias
    env.executeSql("CREATE TEMPORARY FUNCTION my_split AS 'split_index'")
    assert(env.executeSql("SELECT my_split('a-b-c', '-', 1) AS r")
      .collect().head.getString(0) == "b")
    // Spark built-in under an alias; IF NOT EXISTS is idempotent
    env.executeSql("CREATE FUNCTION IF NOT EXISTS my_up AS 'upper'")
    env.executeSql("CREATE FUNCTION IF NOT EXISTS my_up AS 'upper'")
    assert(env.executeSql("SELECT my_up('ab') AS r")
      .collect().head.getString(0) == "AB")
    // allowlist: arbitrary class identifiers raise with the policy
    val e = intercept[IllegalArgumentException](env.executeSql(
      "CREATE FUNCTION evil AS 'com.example.NotAllowed'"))
    assert(e.getMessage.contains("not a registered function"))
    env.executeSql("DROP FUNCTION my_up")
    val e2 = intercept[Exception](
      env.executeSql("SELECT my_up('ab') AS r").collect())
    assert(e2.getMessage.toLowerCase.contains("my_up"))
    env.executeSql("DROP FUNCTION IF EXISTS my_up") // idempotent
    val e3 = intercept[IllegalArgumentException](
      env.executeSql("DROP FUNCTION my_up"))
    assert(e3.getMessage.contains("unknown function"))
  }

  test("ALTER TABLE ADD/MODIFY/DROP COLUMN: schema merge on read") {
    val env = TableEnv(spark)
    val dir = java.nio.file.Files.createTempDirectory("ddl_evolve").toString
    env.executeSql(s"""
      CREATE TABLE ev_t (id BIGINT, v INT)
      WITH ('connector' = 'filesystem', 'path' = '$dir/t',
            'format' = 'parquet')""")
    env.executeSql("INSERT INTO ev_t SELECT 1L, 10")
    // ADD: rows written before the column read it as NULL
    env.executeSql("ALTER TABLE ev_t ADD (tag STRING, score DOUBLE)")
    assert(env.tableSpec("ev_t").get.schema.get.fieldNames.toSeq ==
      Seq("id", "v", "tag", "score"))
    val r1 = env.executeSql("SELECT id, v, tag, score FROM ev_t")
      .collect().head
    assert(r1.getLong(0) == 1L && r1.isNullAt(2) && r1.isNullAt(3))
    // new INSERTs carry the added columns (positional, full arity)
    env.executeSql("INSERT INTO ev_t SELECT 2L, 20, 'x', 0.5")
    assert(env.executeSql(
      "SELECT COUNT(*) AS n FROM ev_t WHERE tag = 'x'")
      .collect().head.getLong(0) == 1L)
    // MODIFY: widening INT -> BIGINT applies on read
    env.executeSql("ALTER TABLE ev_t MODIFY v BIGINT")
    assert(env.from("ev_t").schema("v").dataType == LongType)
    assert(env.executeSql("SELECT SUM(v) AS s FROM ev_t")
      .collect().head.getLong(0) == 30L)
    // DROP: projection on read; load-bearing columns are protected
    env.executeSql("ALTER TABLE ev_t DROP (score)")
    assert(!env.from("ev_t").columns.contains("score"))
    val e = intercept[Exception](
      env.executeSql("ALTER TABLE ev_t DROP nope"))
    assert(e.getMessage.contains("unknown column"))
    env.executeSql(s"""
      CREATE TABLE ev_pk (k BIGINT, v INT, PRIMARY KEY (k) NOT ENFORCED)
      WITH ('path' = '$dir/pk')""")
    val e2 = intercept[Exception](
      env.executeSql("ALTER TABLE ev_pk DROP k"))
    assert(e2.getMessage.contains("load-bearing"))
  }

  test("OPTIONS hint overrides CSV parse options for one query") {
    val env = TableEnv(spark)
    val dir = java.nio.file.Files.createTempDirectory("ddl_opts").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/c"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/c/part.csv"), "1;alpha\n2;beta\n")
    env.executeSql(s"""
      CREATE TABLE opt_t (id BIGINT, name STRING)
      WITH ('connector' = 'filesystem', 'path' = '$dir/c',
            'format' = 'csv')""")
    // default comma delimiter cannot split the rows: name stays null
    assert(env.executeSql(
      "SELECT COUNT(*) AS n FROM opt_t WHERE name IS NOT NULL")
      .collect().head.getLong(0) == 0L)
    // per-query delimiter override via the reference's OPTIONS hint
    val got = env.executeSql("""
      SELECT id, name FROM opt_t /*+ OPTIONS('csv.field-delimiter'=';') */
      WHERE name IS NOT NULL ORDER BY id""").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "alpha"), (2L, "beta")))
    // the base table is untouched after the hinted query
    assert(env.executeSql(
      "SELECT COUNT(*) AS n FROM opt_t WHERE name IS NOT NULL")
      .collect().head.getLong(0) == 0L)
    val e = intercept[IllegalArgumentException](env.executeSql(
      "SELECT * FROM nowhere_t /*+ OPTIONS('a'='b') */"))
    assert(e.getMessage.contains("not a DDL-registered table"))
  }

  test("createTable falls back to an empty view only on path-not-found") {
    val env = TableEnv(spark)
    // path-not-found with declared schema -> empty view (sink table)
    val schema = StructType(Seq(StructField("a", LongType)))
    env.createTable("no_such_path_t", TableSpec(
      path = "/definitely/not/here", schema = Some(schema)))
    assert(env.from("no_such_path_t").count() == 0)
    // any other analysis error must propagate, not register empty
    assert(env.isPathNotFound(new org.apache.spark.sql.AnalysisException(
      "PATH_NOT_FOUND", Map("path" -> "x"))))
    assert(!env.isPathNotFound(new org.apache.spark.sql.AnalysisException(
      "UNABLE_TO_INFER_SCHEMA", Map("format" -> "json"))))
  }
}
