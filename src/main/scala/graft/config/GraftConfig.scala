package graft.config

import scala.io.Source

/** Run configuration — the reference's YAML surface (`config/config.go:
  * 60-196` + config.example.yml) re-expressed as a case class with the same
  * defaults-injection semantics (`ValidateConfig`, config.go:138-196).
  *
  * Parsing is a dependency-free subset of YAML sufficient for the
  * reference's flat two-level config shape: `key: value`, one level of
  * nesting, inline `[a, b]` lists, `- item` block lists, `#` comments.
  */
final case class GraftConfig(
    sourceUrl: String = "",
    targetUrl: String = "",
    concurrency: Int = 4,                  // config.go default 10, clamped
    useTableList: Seq[String] = Nil,       // whitelist (metadata.go:89-104)
    excludeTableList: Seq[String] = Nil,   // blacklist (metadata.go:107-122)
    truncateBeforeSync: Boolean = false,
    validateData: Boolean = true,
    lowercaseColumns: Boolean = false,     // config.go:67
    testOnly: Boolean = false,
    stages: Seq[String] = Seq("schema", "data", "validate"),
    enableFileLogging: Boolean = false,    // config.go:87 (RunConfig)
    logFilePath: String = "graft_run.log",
    errorLogPath: String = "graft_error.log",
    showConsoleLogs: Boolean = true,
    showLogInConsole: Boolean = false) {

  def toPipelineConfig: graft.pipeline.Pipeline.Config =
    graft.pipeline.Pipeline.Config(
      includeTables = useTableList,
      excludeTables = excludeTableList,
      truncateBeforeSync = truncateBeforeSync,
      validateData = validateData,
      concurrency = concurrency,
      stages = stages,
      lowercaseColumns = lowercaseColumns)

  def toRunLog: graft.pipeline.RunLog = new graft.pipeline.RunLog(
    enableFileLogging = enableFileLogging,
    logFilePath = logFilePath,
    errorLogPath = errorLogPath,
    showConsoleLogs = showConsoleLogs,
    showLogInConsole = showLogInConsole)
}

object GraftConfig {

  def load(path: String): GraftConfig = {
    val src = Source.fromFile(path)
    try parse(src.getLines().toSeq) finally src.close()
  }

  def parseString(yaml: String): GraftConfig = parse(yaml.linesIterator.toSeq)

  private def parse(lines: Seq[String]): GraftConfig = {
    var cfg = GraftConfig()
    var section = ""
    var pendingListKey: Option[String] = None
    var pendingList = List.empty[String]

    def flushList(): Unit = {
      pendingListKey.foreach(k => cfg = setList(cfg, k, pendingList.reverse))
      pendingListKey = None
      pendingList = Nil
    }

    lines.foreach { raw =>
      val noComment = raw.replaceAll("(?<!\\S)#.*$", "").stripLineEnd
      val line = noComment.trim
      if (line.nonEmpty) {
        val indented = noComment.startsWith(" ") || noComment.startsWith("\t")
        if (line.startsWith("- ") && pendingListKey.isDefined) {
          pendingList ::= strip(line.drop(2))
        } else {
          flushList()
          line.split(":", 2) match {
            case Array(k, v) =>
              val key = k.trim
              val value = v.trim
              if (!indented) section = if (value.isEmpty) key else ""
              if (value.isEmpty && isListKey(key)) pendingListKey = Some(key)
              else if (value.nonEmpty) cfg = set(cfg, section, key, value)
            case _ =>
          }
        }
      }
    }
    flushList()
    validate(cfg)
  }

  private def isListKey(k: String): Boolean =
    k == "use_table_list" || k == "exclude_table_list" || k == "stages"

  private def strip(v: String): String =
    v.trim.stripPrefix("\"").stripSuffix("\"").stripPrefix("'").stripSuffix("'")

  private def parseInlineList(v: String): Seq[String] =
    v.stripPrefix("[").stripSuffix("]").split(",").map(strip).filter(_.nonEmpty).toSeq

  private def setList(c: GraftConfig, key: String, items: Seq[String]): GraftConfig =
    key match {
      case "use_table_list"     => c.copy(useTableList = items)
      case "exclude_table_list" => c.copy(excludeTableList = items)
      case "stages"             => c.copy(stages = items)
      case _ => c
    }

  private def set(c: GraftConfig, section: String, key: String, value0: String): GraftConfig = {
    val value = strip(value0)
    def bool = value.equalsIgnoreCase("true") || value == "1" || value.equalsIgnoreCase("yes")
    def int = value.toIntOption.getOrElse(throw new IllegalArgumentException(
      s"config key '$key' must be an integer, got '$value'"))
    (section, key) match {
      case (_, "source_url") | ("source", "url") => c.copy(sourceUrl = value)
      case (_, "target_url") | ("target", "url") => c.copy(targetUrl = value)
      case (_, "concurrency")       => c.copy(concurrency = int)
      case (_, "truncate_before_sync") => c.copy(truncateBeforeSync = bool)
      case (_, "validate_data")     => c.copy(validateData = bool)
      case (_, "lowercase_columns") => c.copy(lowercaseColumns = bool)
      case (_, "test_only")         => c.copy(testOnly = bool)
      case (_, "enable_file_logging")  => c.copy(enableFileLogging = bool)
      case (_, "log_file_path")        => c.copy(logFilePath = value)
      case (_, "error_log_path")       => c.copy(errorLogPath = value)
      case (_, "show_console_logs")    => c.copy(showConsoleLogs = bool)
      case (_, "show_log_in_console")  => c.copy(showLogInConsole = bool)
      case (_, "use_table_list") if value0.startsWith("[") =>
        c.copy(useTableList = parseInlineList(value0))
      case (_, "exclude_table_list") if value0.startsWith("[") =>
        c.copy(excludeTableList = parseInlineList(value0))
      case (_, "stages") if value0.startsWith("[") =>
        c.copy(stages = parseInlineList(value0))
      case _ => c
    }
  }

  /** Defaults injection + clamping (config.go:138-196 semantics). */
  def validate(c: GraftConfig): GraftConfig = {
    var out = c
    if (out.concurrency < 1) out = out.copy(concurrency = 1)
    if (out.concurrency > 50) out = out.copy(concurrency = 50)     // README.md:85
    out
  }
}
