package graft.api

import java.nio.file.Files

import graft.SparkSpec

/** COMPILE PLAN / EXECUTE PLAN round trip: the plan file must replay in
  * a FRESH TableEnv with zero DDL — the reference's restart contract. */
class CompiledPlanSpec extends SparkSpec {

  private def ddl(env: TableEnv, tmp: String): Unit = {
    env.executeSql(s"""
      CREATE TABLE cp_region (
        r_regionkey BIGINT, r_name STRING, r_comment STRING
      ) WITH ('connector' = 'filesystem',
              'path' = '$sfDir/region.parquet', 'format' = 'parquet',
              'maxFilesPerTrigger' = '1')""")
    env.executeSql(s"""
      CREATE TABLE cp_sink (rk BIGINT, rn STRING)
      WITH ('connector' = 'filesystem',
            'path' = '$tmp/sink', 'format' = 'parquet')""")
  }

  test("compile plan, execute in a fresh session-state env") {
    val tmp = Files.createTempDirectory("cplan").toString
    val env1 = TableEnv(spark)
    ddl(env1, tmp)
    env1.executeSql(s"""
      COMPILE PLAN '$tmp/plan.json' FOR
      INSERT INTO cp_sink
      SELECT r_regionkey AS rk, r_name AS rn FROM cp_region
      WHERE r_regionkey < 3""")
    val json = Files.readString(java.nio.file.Paths.get(s"$tmp/plan.json"))
    assert(json.contains("graftPlanVersion"))
    assert(json.contains("cp_region") && json.contains("cp_sink"))

    // fresh env: no createTable calls — the plan must carry the DDL
    val env2 = TableEnv(spark)
    assert(env2.tableSpec("cp_sink").isEmpty)
    env2.executeSql(s"EXECUTE PLAN '$tmp/plan.json'")
    assert(env2.tableSpec("cp_region").get.options ==
      Map("maxFilesPerTrigger" -> "1"), "reader options replay with the DDL")
    val got = spark.read.parquet(s"$tmp/sink")
    assert(got.count() == 3)
    assert(got.columns.toSeq == Seq("rk", "rn"))
  }

  test("compile and execute in one statement; IF NOT EXISTS keeps the file") {
    val tmp = Files.createTempDirectory("cplan2").toString
    val env = TableEnv(spark)
    ddl(env, tmp)
    env.executeSql(s"""
      COMPILE AND EXECUTE PLAN '$tmp/plan.json' FOR
      INSERT INTO cp_sink
      SELECT r_regionkey AS rk, r_name AS rn FROM cp_region""")
    assert(spark.read.parquet(s"$tmp/sink").count() == 5)
    val before = Files.readString(java.nio.file.Paths.get(s"$tmp/plan.json"))
    // IF NOT EXISTS: a second compile against an existing file is a no-op
    env.executeSql(s"""
      COMPILE PLAN IF NOT EXISTS '$tmp/plan.json' FOR
      INSERT INTO cp_sink SELECT r_regionkey, 'x' FROM cp_region
      WHERE r_regionkey = 0""")
    assert(Files.readString(
      java.nio.file.Paths.get(s"$tmp/plan.json")) == before)
  }

  test("statement sets compile as multi-statement plans") {
    val tmp = Files.createTempDirectory("cplan3").toString
    val env = TableEnv(spark)
    ddl(env, tmp)
    env.executeSql(s"""
      CREATE TABLE cp_sink2 (rn STRING)
      WITH ('connector' = 'filesystem',
            'path' = '$tmp/sink2', 'format' = 'parquet')""")
    env.executeSql(s"""
      COMPILE PLAN '$tmp/set.json' FOR
      EXECUTE STATEMENT SET BEGIN
      INSERT INTO cp_sink SELECT r_regionkey AS rk, r_name AS rn FROM cp_region;
      INSERT INTO cp_sink2 SELECT r_name AS rn FROM cp_region;
      END""")
    val env2 = TableEnv(spark)
    env2.executeSql(s"EXECUTE PLAN '$tmp/set.json'")
    assert(spark.read.parquet(s"$tmp/sink").count() == 5)
    assert(spark.read.parquet(s"$tmp/sink2").count() == 5)
  }

  test("views referenced by the plan are persisted and replayed") {
    val tmp = Files.createTempDirectory("cplan5").toString
    val env = TableEnv(spark)
    ddl(env, tmp)
    env.executeSql(
      "CREATE VIEW cp_big3 AS SELECT r_regionkey, r_name FROM cp_region " +
        "WHERE r_regionkey >= 2")
    env.executeSql(s"""
      COMPILE PLAN '$tmp/vplan.json' FOR
      INSERT INTO cp_sink SELECT r_regionkey AS rk, r_name AS rn FROM cp_big3""")
    val json = Files.readString(java.nio.file.Paths.get(s"$tmp/vplan.json"))
    assert(json.contains("cp_big3") && json.contains("views"))
    // fresh env, view dropped from the session: the plan must rebuild it
    spark.catalog.dropTempView("cp_big3")
    val env2 = TableEnv(spark)
    env2.executeSql(s"EXECUTE PLAN '$tmp/vplan.json'")
    assert(spark.read.parquet(s"$tmp/sink").count() == 3)
  }

  test("compiling against an untracked session temp view raises") {
    val tmp = Files.createTempDirectory("cplan6").toString
    val env = TableEnv(spark)
    ddl(env, tmp)
    spark.sql("SELECT 1 AS rk, 'x' AS rn").createOrReplaceTempView("cp_rogue")
    val e = intercept[IllegalArgumentException] {
      env.executeSql(s"""
        COMPILE PLAN '$tmp/rplan.json' FOR
        INSERT INTO cp_sink SELECT rk, rn FROM cp_rogue""")
    }
    assert(e.getMessage.contains("outside executeSql"))
    spark.catalog.dropTempView("cp_rogue")
  }

  test("unknown plan version and missing file raise") {
    val tmp = Files.createTempDirectory("cplan4").toString
    val env = TableEnv(spark)
    val e1 = intercept[IllegalArgumentException] {
      env.executeSql(s"EXECUTE PLAN '$tmp/nope.json'")
    }
    assert(e1.getMessage.contains("no plan file"))
    Files.writeString(java.nio.file.Paths.get(s"$tmp/bad.json"),
      """{"graftPlanVersion": 99, "statements": ["SELECT 1"], "tables": []}""")
    val e2 = intercept[IllegalArgumentException] {
      env.executeSql(s"EXECUTE PLAN '$tmp/bad.json'")
    }
    assert(e2.getMessage.contains("unsupported plan version"))
  }
}
