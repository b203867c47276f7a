package graft.config

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.yaml.snakeyaml.Yaml

/** Raised on any structurally-invalid builder configuration.
  *
  * Mirrors the reference's `InvalidConfigurationException`
  * (/root/reference/dbt_schema_builder/schema.py:116).
  */
class InvalidConfigurationException(msg: String) extends RuntimeException(msg)

/** Raised when a configured source database/schema directory does not exist.
  * Mirrors `InvalidDatabaseException` (builder.py:36-37). */
class InvalidDatabaseException(msg: String) extends RuntimeException(msg)

/** Reserved SQL keywords that force aliasing/quoting of table and column
  * names in generated models.
  *
  * The reference ships this as data
  * (/root/reference/dbt_schema_builder/snowflake_keywords.yml:3-92) and
  * loads it in builder.py:389-392. The words themselves are the public
  * Snowflake/ANSI reserved-word list.
  */
object ReservedKeywords {
  val all: Set[String] = Set(
    "ACCOUNT", "ALL", "ALTER", "AND", "ANY", "AS", "BETWEEN", "BY", "CASE",
    "CAST", "CHECK", "COLUMN", "CONNECT", "CONNECTION", "CONSTRAINT",
    "CREATE", "CROSS", "CURRENT", "CURRENT_DATE", "CURRENT_TIME",
    "CURRENT_TIMESTAMP", "CURRENT_USER", "DATABASE", "DELETE", "DISTINCT",
    "DROP", "ELSE", "EXISTS", "FALSE", "FOLLOWING", "FOR", "FROM", "FULL",
    "GRANT", "GROUP", "GSCLUSTER", "HAVING", "ILIKE", "IN", "INCREMENT",
    "INNER", "INSERT", "INTERSECT", "INTO", "IS", "ISSUE", "JOIN", "LATERAL",
    "LEFT", "LIKE", "LOCALTIME", "LOCALTIMESTAMP", "MINUS", "NATURAL", "NOT",
    "NULL", "OF", "ON", "OR", "ORDER", "ORGANIZATION", "REGEXP", "REVOKE",
    "RIGHT", "RLIKE", "ROW", "ROWS", "SAMPLE", "SCHEMA", "SELECT", "SET",
    "SOME", "START", "TABLE", "TABLESAMPLE", "THEN", "TO", "TRIGGER", "TRUE",
    "TRY_CAST", "UNION", "UNIQUE", "UPDATE", "USING", "VALUES", "VIEW",
    "WHEN", "WHENEVER", "WHERE", "WITH")
}

/** Parsed view of the six YAML config files the builder consumes.
  *
  * Loading behavior mirrors SchemaBuilder.__init__
  * (/root/reference/dbt_schema_builder/builder.py:181-210, 271-339):
  * missing-but-optional files degrade to empty; structural validation
  * happens eagerly at load.
  *
  * @param schemaConfig  destination `DB.APP` -> (source `DB.SCHEMA` -> raw options)
  * @param redactions    `APP.TABLE` -> (COLUMN -> opaque SQL literal text)
  * @param bannedColumnNames columns that must never appear in any artifact
  * @param unmanagedTables `SCHEMA.TABLE_REGEX` entries excluded from generation
  * @param downstreamSourcesAllowList None = allow all; Some(list) = only these
  * @param keywords      reserved words forcing rename/quoting
  */
final case class BuilderConfig(
    schemaConfig: Map[String, Map[String, SourceSchemaOptions]],
    redactions: Map[String, Map[String, String]],
    bannedColumnNames: Seq[String],
    unmanagedTables: Seq[String],
    downstreamSourcesAllowList: Option[Seq[String]],
    keywords: Set[String] = ReservedKeywords.all)

/** Per-raw-schema options under one destination app
  * (schema.py:45-81 `Schema.from_config` input shape). */
final case class SourceSchemaOptions(
    include: Seq[String] = Nil,
    exclude: Seq[String] = Nil,
    softDelete: Option[(String, String)] = None,
    prefix: Option[String] = None)

object Configs {

  /** `DB.SCHEMA` shape required of every schema_config key
    * (builder.py:220 `database_schema_pattern`). */
  private val DatabaseSchemaPattern = "^[A-Za-z0-9_$]+\\.[A-Za-z0-9_$]+$".r
  private val ValidKeys = Set("EXCLUDE", "INCLUDE", "SOFT_DELETE", "PREFIX")

  /** Structural validation of the schema_config document; port of
    * builder.py:212-269 including its error messages. */
  def validateSchemaConfig(config: Map[String, Any]): Boolean = {
    config.foreach { case (destinationSchema, destConfig) =>
      if (DatabaseSchemaPattern.findFirstIn(destinationSchema).isEmpty)
        throw new InvalidConfigurationException(
          "Invalid destination schema path in schema_config.yml. " +
            "These must be in the format <DATABASE_NAME>.<SCHEMA_NAME>. " +
            s"Found $destinationSchema")
      val sources = asMap(destConfig)
      sources.foreach { case (sourceSchema, sourceConfigAny) =>
        if (DatabaseSchemaPattern.findFirstIn(sourceSchema).isEmpty)
          throw new InvalidConfigurationException(
            "Invalid source schema path in schema_config.yml. " +
              "These must be in the format <DATABASE_NAME>.<SCHEMA_NAME>. " +
              s"Found $sourceSchema")
        val sourceConfig = asMap(sourceConfigAny)
        if (sourceConfig.nonEmpty) {
          val keys = sourceConfig.keySet
          if (keys.contains("EXCLUDE") && keys.contains("INCLUDE"))
            throw new InvalidConfigurationException(
              s"$sourceSchema has both an EXCLUDE and INCUDE section")
          if (keys.contains("SOFT_DELETE")) {
            sourceConfig("SOFT_DELETE") match {
              case m: java.util.Map[_, _] =>
                if (m.size != 1)
                  throw new InvalidConfigurationException(
                    s"The SOFT_DELETE key in $sourceSchema must only have one key/value pair")
              case m: Map[_, _] =>
                if (m.size != 1)
                  throw new InvalidConfigurationException(
                    s"The SOFT_DELETE key in $sourceSchema must only have one key/value pair")
              case _ =>
                throw new InvalidConfigurationException(
                  s"The SOFT_DELETE key in $sourceSchema must map to the following " +
                    "format 'SOFT_DELETE_COLUMN_NAME': 'SOFT_DELETE_VALUE'")
            }
          }
          keys.foreach { key =>
            if (!ValidKeys.contains(key))
              throw new InvalidConfigurationException(s"$key is not a valid key")
          }
        }
      }
    }
    true
  }

  /** `SCHEMA.TABLE_OR_REGEX` validation; port of builder.py:341-376. */
  def validateUnmanagedTables(tableIdentifiers: Seq[String]): Boolean = {
    if (tableIdentifiers == null || tableIdentifiers.isEmpty) return true
    val idRegex = "^([A-Za-z0-9_$]+)\\.(.*)".r
    tableIdentifiers.foreach { ident =>
      idRegex.findFirstMatchIn(ident) match {
        case None =>
          throw new InvalidConfigurationException(
            s"""Entry "$ident" in unmanaged_files.yml is not formatted correctly.""" +
              "It must be in one of the following formats: " +
              "SCHEMA_NAME.TABLE_NAME or SCHEMA_NAME.VALID_REGEX")
        case Some(m) =>
          try java.util.regex.Pattern.compile(m.group(2))
          catch {
            case _: java.util.regex.PatternSyntaxException =>
              throw new InvalidConfigurationException(
                s"""Entry "$ident" in unmanaged_files.yml contains an invalid regular expression""")
          }
      }
    }
    true
  }

  /** downstream_sources_allow_list.yml semantics (builder.py:297-322):
    * absent file -> None (allow everything); present-but-empty or
    * non-list -> error. */
  def validateAllowList(loaded: Option[Any]): Option[Seq[String]] =
    loaded.map {
      case l: java.util.List[_] if !l.isEmpty =>
        l.asScala.toSeq.map(String.valueOf)
      case l: Seq[_] if l.nonEmpty => l.map(String.valueOf)
      case _ =>
        throw new IllegalArgumentException(
          "downstream_sources_allow_list.yml must contain a non-empty list.")
    }

  // ---------------------------------------------------------------- loading

  def loadFromDir(projectDir: String): BuilderConfig = {
    val dir = Paths.get(projectDir)
    val schemaCfgRaw = loadYamlMap(dir.resolve("schema_config.yml"))
      .getOrElse(throw new InvalidConfigurationException(
        s"schema_config.yml not found under $projectDir"))
    validateSchemaConfig(schemaCfgRaw)
    val unmanaged = loadYamlList(dir.resolve("unmanaged_tables.yml")).getOrElse(Nil)
    validateUnmanagedTables(unmanaged)
    val allowList = validateAllowList(loadYamlAny(dir.resolve("downstream_sources_allow_list.yml")))
    BuilderConfig(
      schemaConfig = parseSchemaConfig(schemaCfgRaw),
      redactions = loadYamlMap(dir.resolve("redactions.yml")).getOrElse(Map.empty)
        .map { case (k, v) => k -> asMap(v).map { case (c, lit) => c -> String.valueOf(lit) } },
      bannedColumnNames = loadYamlList(dir.resolve("banned_column_names.yml")).getOrElse(Nil),
      unmanagedTables = unmanaged,
      downstreamSourcesAllowList = allowList)
  }

  /** Parse an already-validated schema_config document into typed options. */
  def parseSchemaConfig(raw: Map[String, Any]): Map[String, Map[String, SourceSchemaOptions]] =
    raw.map { case (dest, destCfg) =>
      dest -> asMap(destCfg).map { case (src, srcCfg) =>
        src -> parseSourceOptions(asMap(srcCfg))
      }
    }

  /** Schema.from_config field extraction (schema.py:55-81). */
  def parseSourceOptions(cfg: Map[String, Any]): SourceSchemaOptions = {
    val include = cfg.get("INCLUDE").map(asStringList).getOrElse(Nil)
    val exclude = cfg.get("EXCLUDE").map(asStringList).getOrElse(Nil)
    val softDelete = cfg.get("SOFT_DELETE").map { sd =>
      val m = asMap(sd)
      // Reference iterates the (single-entry) dict keeping the last pair
      // (schema.py:63-66).
      val (k, v) = m.last
      (k, if (v == null) null else String.valueOf(v))
    }
    val prefix = cfg.get("PREFIX").map(String.valueOf)
    SourceSchemaOptions(include, exclude, softDelete, prefix)
  }

  // ------------------------------------------------------------- yaml utils

  private def loadYamlAny(p: Path): Option[Any] =
    if (Files.exists(p)) Option(new Yaml().load[Any](Files.readString(p))) else None

  def loadYamlMap(p: Path): Option[Map[String, Any]] =
    loadYamlAny(p).map(asMap)

  def loadYamlList(p: Path): Option[Seq[String]] =
    loadYamlAny(p).map(asStringList)

  def parseYamlMap(text: String): Map[String, Any] =
    asMap(new Yaml().load[Any](text))

  /** Normalize snakeyaml's java.util collections to Scala. */
  def asMap(v: Any): Map[String, Any] = v match {
    case null => Map.empty
    case m: java.util.Map[_, _] =>
      // preserve insertion order (snakeyaml uses LinkedHashMap)
      val b = scala.collection.immutable.ListMap.newBuilder[String, Any]
      m.asScala.foreach { case (k, value) => b += (String.valueOf(k) -> value) }
      b.result()
    case m: Map[_, _] =>
      val b = scala.collection.immutable.ListMap.newBuilder[String, Any]
      m.foreach { case (k, value) => b += (String.valueOf(k) -> value) }
      b.result()
    case other =>
      throw new InvalidConfigurationException(s"Expected a YAML mapping, got: $other")
  }

  def asStringList(v: Any): Seq[String] = v match {
    case null => Nil
    case l: java.util.List[_] => l.asScala.toSeq.map(String.valueOf)
    case l: Seq[_] => l.map(String.valueOf)
    case other =>
      throw new InvalidConfigurationException(s"Expected a YAML list, got: $other")
  }
}
