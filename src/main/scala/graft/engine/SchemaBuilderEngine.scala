package graft.engine

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.CatalogScanner
import graft.config.BuilderConfig
import graft.generate.{Trifecta, YamlDocs}
import graft.model.{App, RawSchema, Relation, SchemaDoc}

/** Result of building one application: the registered trifecta views plus
  * the generated documents. */
final case class BuildResult(
    app: App,
    relations: Seq[Relation],
    safeViews: Map[String, DataFrame],
    piiViews: Map[String, DataFrame],
    dupes: Seq[String])

/** Orchestration — port of `build_app`
  * (/root/reference/dbt_schema_builder/builder.py:476-577), collapsed with
  * the downstream `dbt run` step: each generated projection is immediately
  * registered as a Spark temp view, so the trifecta is queryable in the same
  * session (SURVEY §3.3).
  *
  * Scale note: everything here is metadata-sized (catalogs, YAML docs); the
  * data itself never moves. The registered views are lazy DataFrames whose
  * projections/filters Catalyst pushes down to the Parquet scans, so a view
  * over a 100 TB table costs nothing until queried, and then scans only the
  * columns/rows the downstream query needs.
  */
final class SchemaBuilderEngine(
    spark: SparkSession,
    config: BuilderConfig,
    resolveSchemaDir: (String, String) => String,
    outputRoot: String,
    noPii: Boolean = false,
    piiOnly: Boolean = false,
    registerViews: Boolean = true) {

  require(!(noPii && piiOnly),
    "piionly and nopii are mutually exlusive and both have been specified")

  /** Run every app in schema_config (builder.py:615-625). */
  def run(): Seq[BuildResult] =
    config.schemaConfig.map { case (appName, appConfig) =>
      buildApp(appName, appConfig)
    }.toSeq

  def buildApp(appDest: String, appConfig: Map[String, graft.config.SourceSchemaOptions]): BuildResult = {
    // "DB.APP" split (builder.py:482-485)
    val Array(destDatabase, appName) = appDest.split("\\.", 2)
    val appPath = buildAppPath(destDatabase, appName)
    val designFilePath = Paths.get(appPath, s"$appName.yml")
    val downstreamDir = Paths.get(outputRoot, "downstream", destDatabase)
    val downstreamFilePath = downstreamDir.resolve(s"$appName.yml")

    // prior-run state (builder.py:499-503)
    val currentRawSources: Option[SchemaDoc] = YamlDocs.read(designFilePath)
    val currentDownstreamSources: Option[SchemaDoc] = YamlDocs.read(downstreamFilePath)

    // per raw schema: catalog scan -> Relations (builder.py:508-523)
    val rawSchemas = appConfig.map { case (sourceSchemaPath, opts) =>
      val Array(srcDb, srcSchema) = sourceSchemaPath.split("\\.", 2)
      val schema = RawSchema.fromConfig(srcDb, srcSchema, opts)
      val schemaDir = resolveSchemaDir(srcDb, srcSchema)
      val catalogRows = CatalogScanner.run(spark, srcSchema, schemaDir, config.bannedColumnNames)
      val relations = CatalogScanner.getRelations(catalogRows).map { case (table, cols) =>
        Relation(table, cols, appName, appPath, config.keywords,
          config.unmanagedTables, config.redactions,
          config.downstreamSourcesAllowList, schema.prefix)
      }.toSeq
      schema.relations = relations
      (schema, schemaDir)
    }.toSeq

    val app = new App(rawSchemas.map(_._1), appName, appPath, designFilePath.toString,
      currentRawSources, currentDownstreamSources, destDatabase, noPii, piiOnly)

    cleanSqlFiles(appName, appPath)

    var safeViews = Map.empty[String, DataFrame]
    var piiViews = Map.empty[String, DataFrame]
    val processed = Seq.newBuilder[Relation]

    // filter + generate per relation (builder.py:536-565)
    rawSchemas.foreach { case (schema, schemaDir) =>
      schema.filterRelations().foreach { relation =>
        processed += relation
        val (raw, safe, pii) = relation.findInCurrentSources(
          currentRawSources, currentDownstreamSources)
        app.addSourceToNewSchema(raw, relation, schema)
        app.addTableToDownstreamSources(relation, safe, pii)
        app.updateTrifectaModels(relation)
        writeSql(relation, schema)
        if (registerViews && !relation.isUnmanaged) {
          val source = graft.Tables.load(spark, schemaDir, relation.sourceRelationName)
          if (app.addSafe) {
            val v = Trifecta.safeView(source, relation, schema)
            v.createOrReplaceTempView(relation.newSafeRelationName)
            safeViews += relation.newSafeRelationName -> v
          }
          if (app.addPii) {
            val v = Trifecta.piiView(source, relation, schema)
            v.createOrReplaceTempView(relation.newPiiRelationName)
            piiViews += relation.newPiiRelationName -> v
          }
        }
      }
    }

    // sinks (builder.py:566-577)
    YamlDocs.write(designFilePath, app.newSchema)
    val dupes = app.checkDownstreamSourcesForDupes()
    YamlDocs.write(downstreamFilePath, app.newDownstreamSources)

    BuildResult(app, processed.result(), safeViews, piiViews, dupes)
  }

  /** Render + write the SAFE/PII model SQL parity artifacts
    * (relation.py:251-288). */
  private def writeSql(relation: Relation, schema: RawSchema): Unit = {
    if (relation.isUnmanaged) return
    val viewTypes =
      if (noPii) Seq("SAFE") else if (piiOnly) Seq("PII") else Seq("SAFE", "PII")
    val relationDict = relation.prepMetaData
    viewTypes.foreach { viewType =>
      val dir = if (viewType == "SAFE") Paths.get(relation.appPath, relation.app)
        else Paths.get(relation.appPath, s"${relation.app}_$viewType")
      Files.createDirectories(dir)
      val sql = Trifecta.renderSql(relation.app, viewType, relationDict, schema,
        config.redactions)
      Files.writeString(dir.resolve(s"${relation.getModelName(viewType)}.sql"), sql)
    }
  }

  /** Orphan sweep (builder.py:378-387): drop generated .sql under `{APP}/`
    * and `{APP}_PII/` (never `_MANUAL`). */
  def cleanSqlFiles(appName: String, appPath: String): Unit =
    Seq("_PII", "").foreach { suffix =>
      val dir = Paths.get(appPath, appName + suffix)
      if (Files.isDirectory(dir))
        Files.list(dir).iterator().asScala
          .filter(_.getFileName.toString.endsWith(".sql"))
          .foreach(Files.delete(_))
    }

  /** builder.py:394-404 */
  private def buildAppPath(db: String, schemaName: String): String = {
    val p = Paths.get(outputRoot, db, schemaName)
    Files.createDirectories(p)
    p.toString
  }
}
