package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}

import graft.catalog.CatalogScanner
import graft.config.{BuilderConfig, Configs}
import graft.engine.{BuildResult, SchemaBuilderEngine}
import graft.generate.{Trifecta, YamlDocs}
import graft.model.{App, RawSchema, Relation}

/** The `schema_build` workload: `SchemaBuilderEngine.buildApp` per app over
  * the seeded wide lake, first cold (fresh output dir, raw dirs never
  * loaded), then as repeated regenerations with the prior YAML in place.
  *
  * Constructing it is the workload's set-up: the project config is loaded
  * and the engine objects a build uses are initialised.
  *
  * A traced run also runs [[replay]] passes, which make `buildApp`'s layer
  * calls one by one under spans; a traced `buildApp` is stack-sampled, so
  * the engine's own share of it is measured within the build itself. */
final class SchemaBuild(spark: SparkSession, wide: Path, outRoot: Path) {
  import SchemaBuild._

  private val project = wide.resolve("project").toString
  private val resolve: (String, String) => String =
    (_, schema) => wide.resolve("raw").resolve(schema).toString
  private val apps = Configs.loadFromDir(project).schemaConfig.keys.toSeq.sorted
  // initialise the engine objects a build uses: their first-use cost is set-up
  Seq[AnyRef](CatalogScanner, Relation, RawSchema, Trifecta, YamlDocs)

  def run(r: Main.Run, seconds: Double): Unit = {
    val tr = r.tracer
    val rng = new Random(r.seed)
    val results = mutable.Map.empty[String, BuildResult]
    val firstYaml = mutable.Map.empty[String, Seq[String]]
    val yamlDrift = mutable.LinkedHashSet.empty[String]

    def build(app: String): Unit = {
      val cfg = tr.span("config.load") { Configs.loadFromDir(project) }
      results(app) = tr.span("engine.build") {
        tr.sampled("graft.engine.") {
          new SchemaBuilderEngine(spark, cfg, resolve, outRoot.toString)
            .buildApp(app, cfg.schemaConfig(app))
        }
      }
    }
    def replayOp(app: String, kind: String, pass: Int): Unit =
      r.op(app, Obj, kind, pass) { replay(spark, tr, project, app, outRoot, resolve) }

    // a traced cold pass replays the layers, so first-touch costs
    // (catalog footers, lake-table plans) land in their own spans
    r.setTracing(r.traced)
    r.timedPass(0, "cold") {
      rng.shuffle(apps).foreach { app =>
        if (r.traced) replayOp(app, "cold", 0) else r.op(app, Obj, "cold", 0) { build(app) }
        firstYaml(app) = yamlFiles(outRoot, app).map(Files.readString)
      }
    }
    r.setTracing(false)
    def sameYaml(app: String): Unit =
      if (yamlFiles(outRoot, app).map(Files.readString) != firstYaml(app)) yamlDrift += app
    r.warmLoop(seconds, SettlePasses, WarmPasses, replay = Some(pass =>
      rng.shuffle(apps).foreach { app => replayOp(app, "replay", pass); sameYaml(app) })) {
      (kind, pass) =>
        rng.shuffle(apps).foreach { app => r.op(app, Obj, kind, pass) { build(app) }; sameYaml(app) }
    }
    r.check("regenerated YAML is byte-identical to the first build's", yamlDrift.isEmpty,
      yamlDrift.mkString(", "))
    invariants(r, Configs.loadFromDir(project), results.toMap, resolve, outRoot)
  }
}

object SchemaBuild {

  val Obj = "SchemaBuilderEngine"

  /** Settle passes after the cold pass: regenerations keep speeding up
    * over the first three. */
  val SettlePasses = 3
  /** Measured warm passes (90 builds): this workload's cold pass takes
    * half as long as `curation`'s, so its run affords a longer window. */
  val WarmPasses = 15

  def yamlFiles(outRoot: Path, appDest: String): Seq[Path] = {
    val Array(db, app) = appDest.split("\\.", 2)
    Seq(outRoot.resolve(db).resolve(app).resolve(s"$app.yml"),
      outRoot.resolve("downstream").resolve(db).resolve(s"$app.yml"))
  }

  /** `buildApp`'s call sequence, one layer call per span (same inputs,
    * same outputs: the whole build that follows must find its YAML
    * unchanged). */
  def replay(spark: SparkSession, tr: Tracer, project: String, appDest: String, outRoot: Path,
      resolve: (String, String) => String): Unit = {
    val cfg = tr.span("config.load") { Configs.loadFromDir(project) }
    val engine = new SchemaBuilderEngine(spark, cfg, resolve, outRoot.toString)
    val Array(destDatabase, appName) = appDest.split("\\.", 2)
    val appPath = outRoot.resolve(destDatabase).resolve(appName)
    Files.createDirectories(appPath)
    val designFile = appPath.resolve(s"$appName.yml")
    val downstreamFile = outRoot.resolve("downstream").resolve(destDatabase).resolve(s"$appName.yml")
    val (curRaw, curDown) = tr.span("generate.yaml_read") {
      (YamlDocs.read(designFile), YamlDocs.read(downstreamFile))
    }
    val rawSchemas = cfg.schemaConfig(appDest).map { case (src, opts) =>
      val Array(srcDb, srcSchema) = src.split("\\.", 2)
      val schema = RawSchema.fromConfig(srcDb, srcSchema, opts)
      val schemaDir = resolve(srcDb, srcSchema)
      val rows = tr.span("catalog.scan") {
        CatalogScanner.run(spark, srcSchema, schemaDir, cfg.bannedColumnNames)
      }
      tr.count("catalog.columns", rows.size)
      tr.count("catalog.tables", rows.map(_.tableName).distinct.size)
      schema.relations = tr.span("model.relations") {
        CatalogScanner.getRelations(rows).map { case (table, cols) =>
          Relation(table, cols, appName, appPath.toString, cfg.keywords, cfg.unmanagedTables,
            cfg.redactions, cfg.downstreamSourcesAllowList, schema.prefix)
        }.toSeq
      }
      (schema, schemaDir)
    }.toSeq
    val app = tr.span("model.relations") {
      new App(rawSchemas.map(_._1), appName, appPath.toString, designFile.toString, curRaw, curDown,
        destDatabase)
    }
    tr.span("generate.render_sql") { engine.cleanSqlFiles(appName, appPath.toString) }
    var bytes = 0L
    rawSchemas.foreach { case (schema, schemaDir) =>
      val kept = tr.span("model.relations") { schema.filterRelations() }
      tr.count("model.scanned", schema.relations.size)
      tr.count("model.kept", kept.size)
      kept.foreach { relation =>
        tr.span("model.relations") {
          val (raw, safe, pii) = relation.findInCurrentSources(curRaw, curDown)
          app.addSourceToNewSchema(raw, relation, schema)
          app.addTableToDownstreamSources(relation, safe, pii)
          app.updateTrifectaModels(relation)
        }
        if (!relation.isUnmanaged) {
          bytes += tr.span("generate.render_sql") { writeSql(relation, schema, cfg) }
          val source = tr.span("tables.load") {
            graft.Tables.load(spark, schemaDir, relation.sourceRelationName)
          }
          tr.span("generate.views") {
            val safe = Trifecta.safeView(source, relation, schema)
            safe.createOrReplaceTempView(relation.newSafeRelationName)
            val pii = Trifecta.piiView(source, relation, schema)
            pii.createOrReplaceTempView(relation.newPiiRelationName)
            tr.recordPlan("safe_view", safe.queryExecution)
            tr.recordPlan("pii_view", pii.queryExecution)
          }
        }
      }
    }
    tr.span("generate.yaml_write") {
      YamlDocs.write(designFile, app.newSchema)
      app.checkDownstreamSourcesForDupes()
      YamlDocs.write(downstreamFile, app.newDownstreamSources)
    }
    tr.count("generate.bytes_written", bytes + Files.size(designFile) + Files.size(downstreamFile))
  }

  /** The engine's SAFE/PII model SQL files for one relation; returns bytes. */
  private def writeSql(relation: Relation, schema: RawSchema, cfg: BuilderConfig): Long = {
    val dict = relation.prepMetaData
    Seq("SAFE", "PII").map { viewType =>
      val dir = if (viewType == "SAFE") Paths.get(relation.appPath, relation.app)
        else Paths.get(relation.appPath, s"${relation.app}_$viewType")
      Files.createDirectories(dir)
      val sql = Trifecta.renderSql(relation.app, viewType, dict, schema, cfg.redactions)
      Files.writeString(dir.resolve(s"${relation.getModelName(viewType)}.sql"), sql)
      sql.length.toLong
    }.sum
  }

  /** Trifecta invariants over each app's last build. */
  def invariants(r: Main.Run, cfg: BuilderConfig, results: Map[String, BuildResult],
      resolve: (String, String) => String, outRoot: Path): Unit = {
    val spark = r.spark
    val banned = cfg.bannedColumnNames.toSet
    val bad = mutable.Map.empty[String, String]
    def fail(kind: String, what: String): Unit = if (!bad.contains(kind)) bad(kind) = what
    results.foreach { case (appDest, res) =>
      val appName = res.app.app
      res.app.rawSchemas.foreach { schema =>
        val dir = resolve(schema.database, schema.schemaName)
        schema.filterRelations().filterNot(_.isUnmanaged).foreach { rel =>
          // a table name present in two raw schemas of one app registers
          // the view of the last one processed; check that one only
          if (res.relations.reverseIterator.find(_.newSafeRelationName == rel.newSafeRelationName)
              .exists(_ eq rel)) {
            val id = s"$appName.${rel.sourceRelationName}"
            val rawCols = graft.Tables.load(spark, dir, rel.sourceRelationName).columns.toSeq
              .filterNot(banned)
            val safe = res.safeViews(rel.newSafeRelationName)
            val pii = res.piiViews(rel.newPiiRelationName)
            if (safe.columns.toSeq != rawCols || pii.columns.toSeq != rawCols || rel.metaData != rawCols)
              fail("SAFE, PII and RAW share column count and order", id)
            val safePlan = safe.queryExecution.analyzed
            val piiPlan = pii.queryExecution.analyzed
            val redacted = cfg.redactions.getOrElse(
              s"${appName.toUpperCase}.${rel.relation.toUpperCase}", Map.empty).keySet
            def literalCols(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
              plan.collectFirst { case p: Project => p.projectList }.getOrElse(Nil).collect {
                case Alias(_: Literal, name) => name.toUpperCase
              }.toSet
            val expected = rel.prepMetaData.columns.filter(redacted).toSet
            if (literalCols(safePlan) != expected || literalCols(piiPlan).nonEmpty)
              fail("redacted columns are literals in SAFE only", id)
            val softDelete = schema.softDeleteColumnName.exists(c =>
              rel.metaData.exists(_.equalsIgnoreCase(c)))
            def filtered(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
              plan.exists(_.isInstanceOf[Filter])
            if (filtered(safePlan) != softDelete || filtered(piiPlan) != softDelete)
              fail("soft-delete WHERE exactly where the column exists", id)
          }
        }
      }
      yamlFiles(outRoot, appDest).foreach { p =>
        val text = Files.readString(p)
        if (YamlDocs.read(p).map(YamlDocs.emit).forall(_ != text))
          fail("YAML round-trips through YamlDocs.read", p.toString)
      }
    }
    Seq("SAFE, PII and RAW share column count and order", "redacted columns are literals in SAFE only",
      "soft-delete WHERE exactly where the column exists", "YAML round-trips through YamlDocs.read")
      .foreach(k => r.check(k, !bad.contains(k), bad.getOrElse(k, "")))
  }

}
