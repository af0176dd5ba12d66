package graft.core.macros

import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

/** Go-text/template-subset renderer — the reference's `compiler.go:16-57`:
  * `{{.NAME}}` substitution plus the `Date` filter
  * (`{{ .DSTART | Date }}`: RFC3339 → `2006-01-02`), output trimmed.
  */
object TemplateCompiler {

  private val placeholder = raw"\{\{\s*\.([A-Za-z0-9_]+)\s*(\|\s*Date\s*)?\}\}".r

  def compileOne(content: String, context: Map[String, String]): String = {
    val rendered = placeholder.replaceAllIn(content, m => {
      val key = m.group(1)
      val value = context.getOrElse(key,
        throw new IllegalArgumentException(s"unable to render template: missing key $key"))
      val out = if (m.group(2) != null) dateFn(value) else value
      java.util.regex.Matcher.quoteReplacement(out)
    })
    rendered.trim
  }

  /** `dateFn` — `compiler.go:51-57`: parse RFC3339, format `2006-01-02`. */
  def dateFn(timeStr: String): String =
    java.time.OffsetDateTime.parse(timeStr, DateTimeFormatter.ISO_OFFSET_DATE_TIME)
      .format(DateTimeFormatter.ofPattern("yyyy-MM-dd"))

  def compile(templates: Map[String, String], context: Map[String, String]): Map[String, String] =
    templates.map { case (name, content) => name -> compileOne(content, context) }
}

/** Per-partition query splitting — `main.go:88-168` (`CompileAssets`):
  * REPLACE with window > 1 day → render the query template once per
  * daily `[dstart, dend)` slice and join with the break marker.
  */
object AssetCompiler {
  val BreakMarker = "\n--*--optimus-break-marker--*--\n"
  val QueryFileName = "query.sql"

  private val rfc3339 = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ssX")

  def fmtRfc3339(t: LocalDateTime): String =
    t.atOffset(ZoneOffset.UTC).format(rfc3339)

  /** Returns the asset map with query.sql replaced by the sliced render
    * when applicable (load method REPLACE and window > 24h), else the
    * input assets unchanged — matching `main.go:88-168`.
    */
  def compileAssets(loadMethod: String, assets: Map[String, String],
      envContext: Map[String, String], dstart: LocalDateTime,
      dend: LocalDateTime): Map[String, String] = {
    if (loadMethod != "REPLACE") return assets
    val partitionDelta = java.time.Duration.ofHours(24)
    if (java.time.Duration.between(dstart, dend).compareTo(partitionDelta) <= 0) return assets

    val slices = Iterator.iterate(dstart)(_.plus(partitionDelta))
      .takeWhile(_.isBefore(dend)).toSeq
    val parsed = slices.map { s =>
      val ctx = envContext ++ Map(
        "DSTART" -> fmtRfc3339(s),
        "DEND" -> fmtRfc3339(s.plus(partitionDelta)))
      TemplateCompiler.compile(assets, ctx)(QueryFileName)
    }
    assets + (QueryFileName -> parsed.mkString(BreakMarker))
  }

  /** Split a pre-compiled multi-slice query back into per-partition
    * queries — `transformation.py:388-405`.
    */
  def splitOnMarker(sql: String): Seq[String] =
    sql.split(java.util.regex.Pattern.quote("--*--optimus-break-marker--*--"))
      .map(_.trim).filter(_.nonEmpty).toSeq
}
