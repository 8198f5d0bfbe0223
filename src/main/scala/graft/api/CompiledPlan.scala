package graft.api

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{DataType, StructType}

/** COMPILE PLAN / EXECUTE PLAN — reference: the ExecNode JSON serde
  * (flink-table/flink-table-planner/.../plan/nodes/exec/serde/) behind
  * `COMPILE PLAN '<file>' FOR <insert>` and `EXECUTE PLAN '<file>'`
  * (docs/content/docs/dev/table/concepts/overview.md:281), which pin a
  * table program to a restart-stable artifact.
  *
  * What the reference serializes is its OPTIMIZED physical graph; on
  * Spark the physical plan belongs to Catalyst and re-deriving it at
  * execute time is exactly what version stability wants (AQE re-plans
  * per run anyway). So the persisted artifact here is the LOGICAL
  * program: the insert statement(s) plus the full DDL state they touch
  * (path/format/schema/watermark/PK/partitions/proctime per table,
  * schemas in Spark's stable DataType JSON). EXECUTE PLAN re-registers
  * any table absent from the session (session registrations win) and
  * runs the statements — a plan file survives a fresh session with no
  * DDL replay, the reference's restart contract. */
object CompiledPlan {

  val Version = 1

  private def mapper = new ObjectMapper()

  private def referencedIn(text: String, name: String): Boolean =
    ("""(?i)\b""" + java.util.regex.Pattern.quote(name) + """\b""").r
      .findFirstIn(text).isDefined

  /** Serialize `statements` (INSERTs, or one statement set) plus every
    * registered table AND tracked view they reference (transitively
    * through view definitions — a plan file must carry its whole DDL
    * closure to replay in a fresh session). A referenced temp view
    * whose defining SQL the TableEnv never saw (created directly on the
    * SparkSession) cannot be persisted and RAISES rather than writing a
    * plan that would fail at EXECUTE time. */
  def compile(env: TableEnv, planPath: String, statements: Seq[String],
      kind: String): Unit = {
    // fixed-point closure over statements + pulled-in view bodies
    var text = statements.mkString("\n")
    var views = Map.empty[String, String]
    var grew = true
    while (grew) {
      val add = env.viewSqlMap.toMap
        .filter { case (n, _) => !views.contains(n) && referencedIn(text, n) }
      grew = add.nonEmpty
      views ++= add
      text += add.values.mkString("\n", "\n", "")
    }
    val touched = env.registeredTables.filter(referencedIn(text, _)).toSeq.sorted
    require(touched.nonEmpty,
      "COMPILE PLAN: the statement references no registered table")
    val untracked = env.spark.catalog.listTables().collect()
      .map(_.name)
      .filter(n => !env.registeredTables.contains(n) &&
        !views.contains(n) && !n.startsWith("__") &&
        referencedIn(statements.mkString("\n"), n))
    require(untracked.isEmpty,
      s"COMPILE PLAN: ${untracked.mkString(", ")} are session temp views " +
        "created outside executeSql — their definitions cannot be " +
        "persisted; register them via CREATE VIEW / CREATE TABLE first")
    val root = new java.util.LinkedHashMap[String, Object]()
    root.put("graftPlanVersion", Integer.valueOf(Version))
    root.put("kind", kind)
    root.put("statements", statements.asJava)
    val tables = touched.map { name =>
      val spec = env.tableSpec(name).get
      val t = new java.util.LinkedHashMap[String, Object]()
      t.put("name", name)
      t.put("path", spec.path)
      t.put("format", spec.format)
      t.put("schema", spec.schema.map(_.json).orNull)
      t.put("watermark",
        spec.watermark.map(w => Seq(w._1, w._2).asJava).orNull)
      t.put("primaryKey", spec.primaryKey.asJava)
      t.put("partitions", spec.partitions.asJava)
      t.put("proctime", spec.proctime.orNull)
      t.put("computed",
        spec.computed.map(c => Seq(c._1, c._2).asJava).asJava)
      t.put("metadataCols",
        spec.metadataCols.map(c => Seq(c._1, c._2).asJava).asJava)
      t.put("options", spec.options.asJava)
      t
    }
    root.put("tables", tables.asJava)
    val viewsJ = views.toSeq.sortBy(_._1).map { case (n, q) =>
      val v = new java.util.LinkedHashMap[String, Object]()
      v.put("name", n); v.put("sql", q); v
    }
    root.put("views", viewsJ.asJava)
    val json = mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
    val p = Paths.get(stripScheme(planPath))
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, json.getBytes(StandardCharsets.UTF_8))
  }

  /** Load a plan file, re-register missing tables, run the statements.
    * Returns the last statement's result. */
  def execute(env: TableEnv, planPath: String): DataFrame = {
    val p = Paths.get(stripScheme(planPath))
    require(Files.exists(p), s"EXECUTE PLAN: no plan file at $planPath")
    val root = mapper.readTree(Files.readString(p))
    val version = root.path("graftPlanVersion").asInt(-1)
    require(version >= 1 && version <= Version,
      s"EXECUTE PLAN: unsupported plan version $version")
    root.path("tables").elements().asScala.foreach { t =>
      val name = t.path("name").asText()
      if (!env.registeredTables.contains(name)) {
        val schema = Option(t.path("schema").asText(null))
          .map(DataType.fromJson(_).asInstanceOf[StructType])
        val wm = t.path("watermark") match {
          case n if n.isArray && n.size == 2 =>
            Some((n.get(0).asText(), n.get(1).asText()))
          case _ => None
        }
        env.createTable(name, TableSpec(
          path = t.path("path").asText(),
          format = t.path("format").asText("parquet"),
          schema = schema,
          watermark = wm,
          primaryKey =
            t.path("primaryKey").elements().asScala.map(_.asText()).toSeq,
          partitions =
            t.path("partitions").elements().asScala.map(_.asText()).toSeq,
          proctime = Option(t.path("proctime").asText(null)),
          computed = t.path("computed").elements().asScala
            .map(n => (n.get(0).asText(), n.get(1).asText())).toSeq,
          metadataCols = t.path("metadataCols").elements().asScala
            .map(n => (n.get(0).asText(), n.get(1).asText())).toSeq,
          options = t.path("options").properties().asScala
            .map(e => e.getKey -> e.getValue.asText()).toMap))
      }
    }
    // views after tables; retry to honor view-on-view dependency order
    var pending = root.path("views").elements().asScala
      .map(v => v.path("name").asText() -> v.path("sql").asText()).toSeq
      .filter { case (n, _) => !env.registeredTables.contains(n) &&
        !env.spark.catalog.tableExists(n) }
    var progress = true
    while (pending.nonEmpty && progress) {
      val (ok, failed) = pending.partition { case (n, q) =>
        try {
          env.executeSql(s"CREATE VIEW $n AS $q"); true
        } catch { case _: Exception => false }
      }
      progress = ok.nonEmpty
      pending = failed
    }
    require(pending.isEmpty,
      s"EXECUTE PLAN: could not re-create view(s) ${pending.map(_._1).mkString(", ")}")
    val statements =
      root.path("statements").elements().asScala.map(_.asText()).toSeq
    require(statements.nonEmpty, "EXECUTE PLAN: plan has no statements")
    statements.map(env.executeSql).last
  }

  /** `file:///x/y` → `/x/y` (only the local scheme is supported). */
  private[api] def stripScheme(path: String): String =
    if (path.startsWith("file://")) path.stripPrefix("file://") else path
}
