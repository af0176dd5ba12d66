package graft.core.config

import java.time.ZoneId

import graft.core.window.Durations

/** Load methods and their write dispositions — `config.py:34-55`. */
sealed abstract class LoadMethod(val name: String) {
  /** APPEND → WRITE_APPEND; REPLACE* → WRITE_TRUNCATE; MERGE has none. */
  def writeDisposition: WriteDisposition = this match {
    case LoadMethod.Append => WriteDisposition.WriteAppend
    case LoadMethod.Replace | LoadMethod.ReplaceMerge | LoadMethod.ReplaceAll =>
      WriteDisposition.WriteTruncate
    case _ => throw new IllegalStateException(
      "write disposition is only for APPEND and REPLACE load method")
  }
}

object LoadMethod {
  case object Append extends LoadMethod("APPEND")
  case object Replace extends LoadMethod("REPLACE")
  case object ReplaceMerge extends LoadMethod("REPLACE_MERGE")
  case object ReplaceAll extends LoadMethod("REPLACE_ALL")
  case object Merge extends LoadMethod("MERGE")

  val all: Seq[LoadMethod] = Seq(Append, Replace, ReplaceMerge, ReplaceAll, Merge)

  def fromString(s: String): LoadMethod =
    all.find(_.name == s).getOrElse(
      throw new IllegalArgumentException(s"unknown load method: $s"))
}

sealed trait WriteDisposition
object WriteDisposition {
  /** → DataFrameWriter mode "append" */
  case object WriteAppend extends WriteDisposition
  /** → DataFrameWriter mode "overwrite" */
  case object WriteTruncate extends WriteDisposition
}

sealed trait QueryPriority
object QueryPriority {
  case object Interactive extends QueryPriority
  case object Batch extends QueryPriority
}

/** Task configuration — the contract of `config.py:58-192` (env) and
  * `config.py:321-435` (INI `properties.cfg`), with identical keys,
  * defaults, and validations (`config.py:289-318`).
  */
final case class TaskConfig(
    destinationProject: String,
    destinationDataset: String,
    destinationTableName: String,
    sqlType: String,
    loadMethod: LoadMethod,
    executionProject: String,
    timezone: String = "UTC",
    useSpillover: Boolean = true,
    concurrency: Int = 1,
    allowFieldAddition: Boolean = false,
    filterExpression: Option[String] = None,
    queryPriority: QueryPriority = QueryPriority.Interactive,
    windowSize: Option[String] = None,
    windowOffset: Option[String] = None,
    windowTruncateUpto: Option[String] = None) {

  /** `config.py:76-77` */
  def destinationTable: String =
    s"$destinationProject.$destinationDataset.$destinationTableName"
}

object TaskConfig {

  private def boolFromStr(s: String): Boolean = s.toLowerCase match {
    case "true" => true
    case "false" => false
    case _ => throw new IllegalArgumentException("value should be a string true or false")
  }

  private def validateGreaterThanZero(v: Int): Int = {
    if (v > 0) v
    else throw new IllegalArgumentException("value should be integer and greater than 0")
  }

  private def validateTimezone(tz: String): String = { ZoneId.of(tz); tz }

  private def validateNotEmpty(v: String, key: String): String = {
    if (v != null && v.nonEmpty) v
    else throw new IllegalArgumentException(s"value should not be empty: $key")
  }

  private def validateWindowSize(v: String): String = {
    if (Durations.parse(v).isZero)
      throw new IllegalArgumentException(s"invalid window size: $v")
    v
  }

  private def build(get: String => Option[String]): TaskConfig = {
    def required(k: String) = validateNotEmpty(
      get(k).getOrElse(throw new IllegalArgumentException(s"missing required config: $k")), k)
    def optional(k: String, default: String) = get(k).getOrElse(default)

    val project = required("PROJECT")
    TaskConfig(
      destinationProject = project,
      destinationDataset = required("DATASET"),
      destinationTableName = required("TABLE"),
      sqlType = optional("SQL_TYPE", "STANDARD"),
      loadMethod = LoadMethod.fromString(required("LOAD_METHOD")),
      executionProject = optional("EXECUTION_PROJECT", project),
      timezone = validateTimezone(optional("TIMEZONE", "UTC")),
      useSpillover = boolFromStr(optional("USE_SPILLOVER", "true")),
      concurrency = validateGreaterThanZero(optional("CONCURRENCY", "1").toInt),
      allowFieldAddition = boolFromStr(optional("ALLOW_FIELD_ADDITION", "false")),
      filterExpression = get("PARTITION_FILTER"),
      queryPriority =
        if (optional("QUERY_PRIORITY", "INTERACTIVE") == "BATCH") QueryPriority.Batch
        else QueryPriority.Interactive,
      windowSize = get("WINDOW_SIZE").map(validateWindowSize),
      windowOffset = get("WINDOW_OFFSET"),
      windowTruncateUpto = get("WINDOW_TRUNCATE_UPTO"))
  }

  /** `TaskConfigFromEnv` — `config.py:114-192`. */
  def fromEnv(env: Map[String, String]): TaskConfig =
    build(k => env.get(k).filter(_.nonEmpty))

  /** `TaskConfigFromFile` — `config.py:321-435`: INI sections flattened,
    * values stripped of surrounding double quotes, case-preserving keys.
    */
  def fromIni(raw: String): TaskConfig = {
    val props = IniParser.parse(raw)
    val cfg = build(k => props.get(k).map(_.stripPrefix("\"").stripSuffix("\"")))
    // file-based configs carry the window spec (required there)
    if (cfg.windowSize.isEmpty)
      throw new IllegalArgumentException("missing required config: WINDOW_SIZE")
    cfg
  }
}

/** Minimal INI reader matching python `configparser` as the reference
  * uses it (`allow_no_value=True`, `optionxform=str` → keys keep case;
  * `;`-comments; all sections flattened into one namespace).
  */
object IniParser {
  def parse(raw: String): Map[String, String] = {
    val out = scala.collection.mutable.LinkedHashMap[String, String]()
    raw.linesIterator.foreach { line0 =>
      val line = line0.takeWhile(_ != ';').trim
      if (line.nonEmpty && !line.startsWith("[") && !line.startsWith("#")) {
        line.split("=", 2) match {
          case Array(k, v) => out(k.trim) = v.trim
          case Array(k) => out(k.trim) = null
        }
      }
    }
    out.toMap
  }
}
