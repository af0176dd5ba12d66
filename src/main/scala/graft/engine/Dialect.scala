package graft.engine

/** Rendering-time rewrites for the BigQuery Standard-SQL constructs the
  * corpus uses that Spark SQL spells differently (SURVEY §7.3 "BigQuery
  * dialect deltas"). Applied to SQL text after macro rendering, before
  * `spark.sql`. Deliberately conservative, token-aware regexes — the
  * corpus surface is small and pinned by tests. Every pass reads quotes,
  * backticks, comments and brackets through [[SqlLex]], the one lexer
  * the engine has, and finds its trigger regex through one of the two
  * loops [[SqlLex]] keeps for every text edit of the engine,
  * [[SqlLex.spliceOutside]] and [[SqlLex.replaceOutside]], which alone
  * decide that a match inside a literal or comment is left alone. A new
  * pass still has to be wired into `rewriteUncached`.
  *
  * Every trigger is declared with [[trigger]], which pairs the regex with
  * its anchors (`UNNEST`, `QUALIFY`, `|>`, `[`, `0X`) and lists it for
  * `DialectFuzzSpec`, which checks over its texts that each anchor is a
  * substring of every match. A pass with no regex loop opens with the
  * same [[SqlLex.absent]] check.
  */
object Dialect {

  import scala.util.matching.Regex

  import SqlLex.{Trigger, absent, replaceOutside, spliceOutside}

  /** Declares a trigger of this object, for the gate spec. */
  private val trigger = new SqlLex.Triggers

  /** Every trigger the object declares, for the gate spec. */
  private[engine] lazy val triggers: Seq[Trigger] = trigger.all

  /** `x [NOT] IN UNNEST(arr)` → `[NOT ]array_contains(arr, x)`
    * (`query.py:29`). The optional NOT group must be explicit: without it
    * the operand capture would swallow the NOT keyword itself.
    */
  private val inUnnest =
    trigger(raw"(?i)([\w.`]+)\s+(NOT\s+)?IN\s+UNNEST\s*\(((?:[^()]|\([^()]*\))*)\)", "UNNEST")

  /** `DATE(ts, 'Asia/Jakarta')` → tz-aware date
    * (`weekly_partitioned/query.sql:2`).
    */
  private val dateTz =
    trigger(raw"(?i)\bDATE\s*\(\s*([\w.`]+)\s*,\s*'([^']+)'\s*\)", "DATE")

  /** BigQuery `TIMESTAMP('2021-09-01T01:02:03')` literal-ish call works
    * in Spark as `to_timestamp(...)`; `T` separator needs normalizing.
    */
  private val timestampCall =
    trigger(raw"(?i)\bTIMESTAMP\s*\(\s*'([^']+)'\s*\)", "TIMESTAMP")

  /** `SELECT AS STRUCT a, b` → `SELECT struct(a, b)` (only used in
    * scalar-subquery SET position — `query.py:17`).
    */
  private val selectAsStruct = trigger(raw"(?i)SELECT\s+AS\s+STRUCT\b", "STRUCT")
  private val selectAsValueRe = trigger(raw"(?i)\bSELECT\s+AS\s+VALUE\b", "VALUE")

  private val windowDefRe = trigger(raw"(?i)\bWINDOW\s+([A-Za-z_]\w*)\s+AS\s*\(", "WINDOW")
  private val overRefRe = trigger(raw"(?i)\bOVER\s*\(\s*([A-Za-z_]\w*)\b", "OVER")
  // `, w2 AS (` continuing a WINDOW list; the window name opening a spec
  private val windowContRe = raw"(?is)^\s*,\s*([A-Za-z_]\w*)\s+AS\s*\(".r
  private val leadingNameRe = raw"(?is)^\s*([A-Za-z_]\w*)\b".r

  /** BigQuery window EXTENSION: `OVER (w ORDER BY …)` and window-on-
    * window definitions (`WINDOW w2 AS (w1 ORDER BY x)`) splice the
    * referenced window's spec inline — Spark parses only the bare
    * `OVER w` reference form. Plain named windows pass through.
    */
  private def rewriteWindowExtensions(sql0: String): String = {
    var sql = sql0
    // collect definitions (balance-parsed, including comma-continued
    // ones: `WINDOW a AS (…), b AS (…)`); specEnd = the CLOSING paren
    def defs(s: String): Seq[(String, Int, Int)] = {
      val out = Seq.newBuilder[(String, Int, Int)]
      // a visit, not a rewrite: every definition declines its splice
      spliceOutside(windowDefRe, s) { (_, m) =>
        var name = m.group(1).toUpperCase
        var open = m.end - 1
        var continue = true
        while (continue) {
          val close = SqlLex.close(s, open)
          if (close < 0) continue = false
          else {
            out += ((name, open + 1, close))
            windowContRe.findFirstMatchIn(s.substring(close + 1)) match {
              case Some(cm) =>
                name = cm.group(1).toUpperCase
                open = close + cm.end
              case scala.None => continue = false
            }
          }
        }
        scala.None
      }
      out.result()
    }
    // pass 1: inline names at the head of OTHER window definitions
    var changed = true
    var guard = 0
    while (changed && guard < 16) {
      changed = false
      guard += 1
      val d = defs(sql)
      val byName = d.map(t => t._1 -> sql.substring(t._2, t._3)).toMap
      // a definition whose spec STARTS with another window's name
      d.foreach { case (_, s0, e0) =>
        if (!changed) {
          val spec = sql.substring(s0, e0)
          leadingNameRe.findFirstMatchIn(spec)
            .map(_.group(1).toUpperCase)
            .filter(byName.contains)
            .foreach { ref =>
              val inlined = byName(ref) + " " +
                leadingNameRe.replaceFirstIn(spec, "")
              sql = sql.substring(0, s0) + inlined + sql.substring(e0)
              changed = true
            }
        }
      }
    }
    // pass 2: inline extensions at OVER sites
    val byName = defs(sql).map(t => t._1 -> sql.substring(t._2, t._3)).toMap
    if (byName.isEmpty) sql
    else spliceOutside(overRefRe, sql) { (cur, m) =>
      val open = cur.indexOf('(', m.start)
      val close = SqlLex.close(cur, open)
      byName.get(m.group(1).toUpperCase).filter(_ => close >= 0).map { spec =>
        val rest = leadingNameRe.replaceFirstIn(cur.substring(open + 1, close), "")
        (open + 1, close, spec + " " + rest)
      }
    }
  }

  private val jsonLitKw = trigger(raw"(?i)\bJSON\s*(?=')", "JSON")
  // a hex literal never follows an identifier char or '.' (0x1A in
  // `tab0x1A` or a float's mantissa must not rewrite)
  private val hexIntLit = trigger(raw"(?<![\w.$$])0[xX]([0-9A-Fa-f]+)\b", "0X")
  private val trailingSelectComma = trigger(raw"(?i),(\s*)\bFROM\b", "FROM")
  private val extractAtTzRe =
    trigger(raw"(?i)\bEXTRACT\s*\(\s*(\w+(?:\s*\(\s*\w+\s*\))?)\s+FROM\s+" +
      raw"([^()]+?)\s+AT\s+TIME\s+ZONE\s+('[^']*'|[\w.]+)\s*\)", "ZONE")
  private val timeLitKw = trigger(raw"(?i)\bTIME\s*(?=')", "TIME")

  /** `TIME '15:30:45'` typed literal → the bare string (TIME values are
    * 'HH:mm:ss' strings in this engine; Spark has no TIME type).
    * Literal-aware like the JSON rewrite: the word `time` at the END of
    * a string literal ('day time') or a literal equal to 'TIME' must
    * not be touched, so only matches OUTSIDE every literal span whose
    * following quote OPENS a literal are stripped.
    */
  private val rangeLitRe =
    trigger(raw"(?i)\bRANGE\s*<\s*(DATE|DATETIME|TIMESTAMP)\s*>\s*'([^']*)'", "RANGE")

  /** BigQuery RANGE<T> typed literal `RANGE<DATE> '[lo, hi)'` → the
    * engine's range representation `STRUCT<range_start T, range_end T>`
    * (half-open, NULL bound = UNBOUNDED). Literal-span-aware.
    */
  private def rewriteRangeLiteral(sql: String): String =
    replaceOutside(rangeLitRe, sql) { m =>
      val t = m.group(1).toUpperCase match {
        case "DATETIME" => "TIMESTAMP_NTZ"
        case other => other
      }
      val body = m.group(2).trim
      if (!body.startsWith("[") || !body.endsWith(")")) m.matched // loud downstream
      else {
        val parts = body.substring(1, body.length - 1).split(",", 2).map(_.trim)
        if (parts.length != 2) m.matched
        else {
          def bound(b: String) =
            if (b.equalsIgnoreCase("UNBOUNDED") || b.equalsIgnoreCase("NULL"))
              s"CAST(NULL AS $t)"
            else s"CAST('$b' AS $t)"
          s"named_struct('range_start', ${bound(parts(0))}, " +
            s"'range_end', ${bound(parts(1))})"
        }
      }
    }

  private val mixedIntervalRe =
    trigger(raw"(?i)\bINTERVAL\s+'([^']*)'\s+(YEAR|MONTH|DAY|HOUR|MINUTE)\s+TO\s+(MONTH|DAY|HOUR|MINUTE|SECOND)\b",
      "INTERVAL")
  private val ymRe = raw"^(-?)(\d+)-(\d+)$$".r
  private val numRe = raw"^(-?)(\d+)$$".r
  private val unitIdx = Map("YEAR" -> 0, "MONTH" -> 1, "DAY" -> 2,
    "HOUR" -> 3, "MINUTE" -> 4, "SECOND" -> 5)

  /** BigQuery mixed-range INTERVAL literals. Spark's ANSI interval
    * classes split at the month/day boundary, so `INTERVAL '1-2 3
    * 4:5:6' YEAR TO SECOND` (and any out-of-range component like `'29
    * 49:00:00' DAY TO SECOND` — BigQuery parts are independent) cannot
    * parse natively. Those forms lower to make_interval, whose
    * CalendarInterval result holds months/days/micros independently —
    * BigQuery's exact model. Literals Spark parses natively (day-time
    * pairs with in-range components) pass through untouched, keeping
    * their orderable ANSI types. Unparseable text also passes through
    * → Spark's own loud error.
    */
  private def rewriteMixedInterval(sql: String): String =
    replaceOutside(mixedIntervalRe, sql) { m =>
      mixedIntervalExpr(m.group(1).trim, m.group(2).toUpperCase,
        m.group(3).toUpperCase).getOrElse(m.matched)
    }

  private def mixedIntervalExpr(v: String, from: String, to: String): Option[String] = {
    val fi = unitIdx(from); val ti = unitIdx(to)
    if (fi >= ti) return scala.None
    val parts = v.split("\\s+").filter(_.nonEmpty)
    var idx = 0
    var years = 0L; var months = 0L; var days = 0L
    var hours = 0L; var mins = 0L; var secs = "0"
    def next(): Option[String] =
      if (idx < parts.length) { idx += 1; Some(parts(idx - 1)) } else scala.None
    try {
      if (from == "YEAR") next() match {
        case Some(ymRe(sg, y, mo)) =>
          val s = if (sg == "-") -1 else 1
          years = s * y.toLong; months = s * mo.toLong
        case _ => return scala.None
      }
      else if (from == "MONTH") next() match {
        case Some(numRe(sg, mo)) =>
          months = (if (sg == "-") -1 else 1) * mo.toLong
        case _ => return scala.None
      }
      if (fi <= 2 && ti >= 2) next() match {
        case Some(numRe(sg, d)) => days = (if (sg == "-") -1 else 1) * d.toLong
        case _ => return scala.None
      }
      if (ti >= 3) {
        val seg = next().getOrElse(return scala.None)
        val tSign = if (seg.startsWith("-")) -1 else 1
        val cols = (if (tSign < 0) seg.substring(1) else seg).split(":")
        val firstUnit = math.max(fi, 3)
        if (cols.length != ti - firstUnit + 1) return scala.None
        var u = firstUnit
        cols.foreach { c =>
          u match {
            case 3 => hours = tSign * c.toLong
            case 4 => mins = tSign * c.toLong
            case 5 =>
              if (!c.matches(raw"\d+(\.\d+)?")) return scala.None
              secs = (if (tSign < 0) "-" else "") + c
          }
          u += 1
        }
      }
      if (idx != parts.length) return scala.None
    } catch { case _: NumberFormatException => return scala.None }
    // Spark parses day-time and year-month pairs natively when every
    // non-leading component is in range — keep those (orderable types)
    val secsD = secs.toDouble
    val nativeOk =
      if (fi >= 2)
        (fi >= 4 || (mins >= 0 && mins <= 59)) &&
        (fi >= 3 || (hours >= 0 && hours <= 23)) &&
        (secsD >= 0 && secsD < 60) && days >= 0 && hours >= 0 && mins >= 0
      else if (from == "YEAR" && to == "MONTH")
        months >= 0 && months <= 11 && years >= 0
      else false
    if (nativeOk) scala.None
    else Some(s"make_interval($years, $months, 0, $days, $hours, $mins, $secs)")
  }

  private def rewriteTimeLiteral(sql: String): String =
    spliceOutside(timeLitKw, sql)((_, m) => Some((m.start, m.end, "")))

  /** `JSON '<text>'` typed literal → `to_json(parse_json('<text>'))`
    * (the engine's JSON representation is the canonical string — same
    * route as the PARSE_JSON function). Only keywords OUTSIDE string
    * literals rewrite, and only when a literal actually follows.
    */
  private def rewriteJsonLiteral(sql: String): String =
    spliceOutside(jsonLitKw, sql) { (s, m) =>
      val e0 = SqlLex.regionEnd(s, m.end)
      Some((m.start, e0, s"to_json(parse_json(${s.substring(m.end, e0)}))"))
    }

  /** BigQuery `SELECT AS VALUE <struct expr> [FROM …]` (value table of
    * structs): the enclosing query sees the struct's FIELDS as columns.
    * `inline(array(expr))` is Spark's exact equivalent for the struct
    * case; non-struct value tables have no named columns to reference
    * and fail loud in analysis.
    */
  /** `(SELECT AS STRUCT …)` in an EXPRESSION context — scalar subquery
    * or ARRAY(SELECT AS STRUCT …) — yields ONE struct value in
    * BigQuery; the select list wraps in struct(…). Table contexts
    * (FROM/JOIN/IN/EXISTS subqueries) are value tables and keep the
    * flatten that runs later. Context = the char before the subquery's
    * opening paren: a FROM-ish keyword means table, anything else
    * (operator, comma, ARRAY, a function name) means expression.
    */
  private val tableCtxKeywords =
    Set("FROM", "JOIN", "EXISTS", "IN", "UNNEST", "LATERAL", "USING", "TABLE",
      // set-op branches are value tables too: (…) UNION ALL (SELECT AS STRUCT …)
      "UNION", "ALL", "EXCEPT", "INTERSECT", "DISTINCT",
      // `name AS (SELECT AS STRUCT …)` — a CTE definition (and CTAS):
      // value-table semantics, keep the flatten (caught by CteProbe in
      // r11 after the balanced-paren rework; aliases never take a
      // parenthesized body, so AS-then-paren is always a defining
      // position)
      "AS")

  /** Classify the group opening at `open` ('('): TABLE context
    * (FROM/JOIN/set-op branch — keep the later value-table flatten) vs
    * EXPRESSION context (select-list item, function argument, scalar
    * position — wrap the select list in struct(…)). A preceding comma
    * or '(' is AMBIGUOUS — `FROM t, (…)` vs `SELECT id, (…)`;
    * `((…) UNION ALL …)` vs `IF(c, (…), …)` — so scan back past
    * balanced parens to the governing clause keyword, or recurse on the
    * enclosing opener, and classify that instead. (The round-10 flat
    * ','/'(' → table rule broke non-first select-list items and
    * function arguments — r10 ADVICE.)
    */
  private def isTableContext(cur: String, open: Int): Boolean = {
    lazy val spans = SqlLex.spans(cur)
    var q = open - 1
    while (q >= 0 && cur.charAt(q).isWhitespace) q -= 1
    if (q < 0) return true // statement-level group: set-op branch shape
    val c = cur.charAt(q)
    if (c.isLetterOrDigit || c == '_') {
      var w = q
      while (w >= 0 && (cur.charAt(w).isLetterOrDigit || cur.charAt(w) == '_')) w -= 1
      // a bare identifier before '(' is a function call → expression
      tableCtxKeywords.contains(cur.substring(w + 1, q + 1).toUpperCase)
    } else if (c == '(') {
      isTableContext(cur, q)
    } else if (c == ',') {
      // list-member scan: walk left at the comma's paren depth; the
      // first clause keyword seen governs the list (FROM-list → table,
      // select/BY/SET/etc. list → expression); hitting the enclosing
      // opener first delegates to that group's own classification
      val tableKw = Set("FROM", "JOIN", "USING", "UNNEST", "LATERAL",
        "TABLE", "IN", "EXISTS", "UNION", "EXCEPT", "INTERSECT")
      val exprKw = Set("SELECT", "BY", "SET", "WHEN", "THEN", "ELSE",
        "ON", "WHERE", "HAVING", "VALUES", "RETURNING", "RETURNS")
      var depth = 0
      var j = q - 1
      while (j >= 0) {
        val ss = spans.literalStart(j)
        if (ss >= 0) j = ss - 1
        else {
          val ch = cur.charAt(j)
          if (ch == ')') { depth += 1; j -= 1 }
          else if (ch == '(') {
            if (depth == 0) return isTableContext(cur, j)
            depth -= 1; j -= 1
          } else if (depth == 0 && (ch.isLetterOrDigit || ch == '_')) {
            var w = j
            while (w >= 0 && (cur.charAt(w).isLetterOrDigit || cur.charAt(w) == '_')) w -= 1
            val tok = cur.substring(w + 1, j + 1).toUpperCase
            if (tableKw.contains(tok)) return true
            if (exprKw.contains(tok)) return false
            j = w // AS/DISTINCT/aliases/operands: keep scanning left
          } else j -= 1
        }
      }
      true // ran off the front: bare FROM-list shape (old behavior)
    } else false // operator/'='/etc. → scalar expression position
  }

  private val structListEnd =
    Set("FROM", "WHERE", "GROUP", "ORDER", "LIMIT", "HAVING", "UNION", "QUALIFY", "WINDOW")

  private def rewriteStructSubquery(sql: String): String =
    spliceOutside(selectAsStruct, sql) { (cur, m) =>
      var p = m.start - 1
      while (p >= 0 && cur.charAt(p).isWhitespace) p -= 1
      if (p < 0 || cur.charAt(p) != '(' || isTableContext(cur, p) ||
          SqlLex.close(cur, p) < 0) scala.None
      else {
        // select list ends at the first top-level clause keyword or the
        // subquery's closing paren
        val listEnd =
          SqlLex.clauseEnd(cur, m.end)(i => structListEnd(SqlLex.wordAt(cur, i)))
        val list = cur.substring(m.end, listEnd).trim
        if (list.isEmpty) scala.None
        else Some((m.start, listEnd, s"SELECT struct($list) "))
      }
    }

  private val valueListEnd = Set("FROM", "UNION", "INTERSECT", "EXCEPT", "ORDER", "LIMIT")

  private def rewriteSelectAsValue(sql: String): String =
    spliceOutside(selectAsValueRe, sql) { (s, m) =>
      // a word reached by field access (`v.limit`) is a name, not a clause
      val exprEnd = SqlLex.clauseEnd(s, m.end)(i => s.charAt(i) == ';' ||
        (s.charAt(i - 1) != '.' && valueListEnd(SqlLex.wordAt(s, i))))
      Some((m.start, exprEnd, s"SELECT inline(array(${s.substring(m.end, exprEnd).trim})) "))
    }

  /** BigQuery-style 3-part source references after FROM/JOIN/USING/INTO
    * — bare `p.d.t`, fully backticked, or per-part backticked, hyphens
    * allowed — mapped to the warehouse catalog name `p__d.t` (the same
    * mapping `TransformRunner.catalogName` applies to destinations).
    * Only 3-part names are touched, so Spark-native `db.table`
    * references and `USING parquet` clauses pass through unchanged.
    */
  private val fqnRef =
    trigger(raw"(?i)\b(FROM|JOIN|USING|INTO|TABLE)\s+(`[^`]+`(?:\s*\.\s*`[^`]+`)*|[\w$$.-]+)",
      "FROM", "JOIN", "USING", "INTO", "TABLE")

  /** Words that put a following FROM in EXPRESSION position, where a
    * 3-part path is `alias.struct.field`, not a table: EXTRACT units
    * (`EXTRACT(YEAR FROM …)`), `IS [NOT] DISTINCT FROM`, and
    * TRIM specifiers (`TRIM(BOTH ' ' FROM …)`).
    */
  private val exprUnits = Set("YEAR", "ISOYEAR", "QUARTER", "MONTH", "WEEK",
    "ISOWEEK", "DAY", "DAYOFWEEK", "DAYOFYEAR", "HOUR", "MINUTE", "SECOND",
    "MILLISECOND", "MICROSECOND", "NANOSECOND", "EPOCH", "DATE", "TIME",
    "DATETIME", "LEADING", "TRAILING", "BOTH")

  /** Decide from the literal-aware token stream whether the keyword at
    * `kwIdx` is an expression-position FROM: the unit keyword sits right
    * after the function's opening paren, however much literal text or
    * whitespace separates it from the FROM (`TRIM(BOTH '…long…' FROM x)`
    * tokenizes to `TRIM ( BOTH FROM`), with `WEEK(MONDAY)` closing one
    * paren group first.
    */
  private def isExprPositionFrom(toks: Vector[(String, Int)], kwIdx: Int): Boolean = {
    if (kwIdx < 1) return false
    if (toks(kwIdx - 1)._1 == "DISTINCT") {
      val j = if (kwIdx >= 2 && toks(kwIdx - 2)._1 == "NOT") kwIdx - 3 else kwIdx - 2
      return j >= 0 && toks(j)._1 == "IS"
    }
    var i = kwIdx - 1
    if (toks(i)._1 == ")") { // WEEK(MONDAY) FROM …
      var depth = 0
      var done = false
      while (i >= 0 && !done) {
        toks(i)._1 match {
          case ")" => depth += 1
          case "(" => depth -= 1; if (depth == 0) done = true
          case _ =>
        }
        if (!done) i -= 1
      }
      if (!done) return false
      i -= 1
    }
    i >= 1 && exprUnits(toks(i)._1) && toks(i - 1)._1 == "("
  }

  /** Known limitation: only the FIRST table after a FROM is mapped —
    * comma-join lists (`FROM p.d.a, p.d.b`) are not, because a comma
    * also separates SELECT-list struct paths and mapping those would
    * corrupt expressions. Use ANSI JOIN syntax for multi-table FQNs.
    */
  /** `FROM fqn [alias], 3.part.fqn` — a legacy comma join whose SECOND
    * table the mapper would silently leave unmapped (the comma also
    * separates SELECT-list struct paths, so mapping after commas would
    * corrupt expressions). Fail loud instead of wrong-catalog errors.
    */
  private val commaJoinFqn =
    trigger(raw"(?is)\bFROM\s+(?:`[^`]+`|[\w$$.-]+)(?:\s+(?:AS\s+)?[A-Za-z_]\w*)?" +
      raw"\s*,\s*((?:`[^`]+`|[\w-]+)(?:\s*\.\s*(?:`[^`]+`|[\w-]+)){2})(?!\s*\()", "FROM")

  def mapSourceFqns(sql: String): String = {
    val toks = SqlLex.tokens(sql)
    def tableFrom(m: Regex.Match) = {
      val kwIdx = toks.indexWhere(_._2 == m.start)
      !(kwIdx >= 0 && isExprPositionFrom(toks, kwIdx))
    }
    spliceOutside(commaJoinFqn, sql) { (_, m) =>
      if (tableFrom(m)) throw new IllegalArgumentException(
        s"comma-join table list with a fully-qualified name ('${m.group(1)}') is " +
          "not supported: only the first table after FROM is catalog-mapped. " +
          "Rewrite with ANSI JOIN syntax (FROM a CROSS JOIN b / JOIN b ON ...)")
      scala.None
    }
    replaceOutside(fqnRef, sql) { m =>
      m.group(2).replace("`", "").replaceAll("\\s", "").split("\\.") match {
        case Array(p, d, t) if tableFrom(m) =>
          s"${m.group(1)} ${p.replace("-", "_")}__${d.replace("-", "_")}.`$t`"
        case _ => m.matched
      }
    }
  }

  /** `mapFqns = false` is for lineage parsing, which must see the
    * ORIGINAL BigQuery identifiers (its output is BigQuery URNs).
    */
  private val systemTimeRe = trigger(raw"(?is)\bFOR\s+SYSTEM_TIME\s+AS\s+OF\b", "SYSTEM_TIME")

  /** The window of the OVER clause whose keyword is the next word from
    * `from` (blanks and comments skipped): the span `[start, end)` of its
    * `( … )` specification or named-window reference, or None when the
    * next word is not OVER.
    */
  private def overWindow(sql: String, from: Int): Option[(Int, Int)] = {
    val k = SqlLex.skipBlank(sql, from)
    if (SqlLex.wordAt(sql, k) != "OVER") return scala.None
    val w = SqlLex.skipBlank(sql, k + 4)
    val end =
      if (w < sql.length && sql.charAt(w) == '(') {
        val close = SqlLex.close(sql, w)
        if (close < 0) throw new IllegalArgumentException(
          "unbalanced OVER ( … ) window specification")
        close + 1
      } else w + SqlLex.wordAt(sql, w).length
    if (end == w) throw new IllegalArgumentException(
      "OVER must be followed by ( … ) or a named window")
    Some((w, end))
  }

  /** The trimmed arguments of the call whose `(` ends `m`, and the index
    * past its `)`.
    */
  private def callArgs(sql: String, m: Regex.Match,
      fn: String): (Seq[String], Int) = {
    val close = SqlLex.close(sql, m.end - 1)
    if (close < 0) throw new IllegalArgumentException(s"unbalanced $fn call")
    (SqlLex.splitTopLevel(sql.substring(m.end, close)).map(_.trim), close + 1)
  }

  private val vectorSearchRe = trigger(raw"(?is)\bFROM\s+VECTOR_SEARCH\s*\(", "VECTOR_SEARCH")

  /** BigQuery `VECTOR_SEARCH(TABLE base, 'col', (query), top_k => N,
    * distance_type => 'EUCLIDEAN'|'COSINE')` → a brute-force top-k
    * join producing BigQuery's result shape (query STRUCT, base
    * STRUCT, distance) — the same semantics BigQuery itself gives an
    * unindexed table. The distance folds are sequential `aggregate`
    * built-ins (codegen, engine-reproducible); tie-break is the full
    * base row struct so results are deterministic. The scale path —
    * IVF/PQ candidate routing instead of the cross join — is the
    * [[graft.ops.Embeddings]] API; this surface keeps the SQL
    * contract.
    */
  private def rewriteVectorSearch(text: String): String =
    spliceOutside(vectorSearchRe, text) { (sql, m0) =>
      val (args, callEnd) = callArgs(sql, m0, "VECTOR_SEARCH")
      if (args.length < 3)
        throw new IllegalArgumentException(
          "VECTOR_SEARCH needs (TABLE base, 'column', (query), ...)")
      val baseRef = {
        val t = args(0)
        if (!t.toUpperCase.startsWith("TABLE"))
          throw new IllegalArgumentException(
            s"VECTOR_SEARCH first argument must be TABLE <name>, got: $t")
        t.drop(5).trim
      }
      val colName = args(1).stripPrefix("'").stripSuffix("'")
      val querySql = args(2)
      var topK = 10
      var distType = "EUCLIDEAN"
      args.drop(3).foreach { opt =>
        val kv = opt.split("=>").map(_.trim)
        kv(0).toLowerCase match {
          case "top_k" => topK = kv(1).toInt
          case "distance_type" =>
            distType = kv(1).stripPrefix("'").stripSuffix("'").toUpperCase
          case other => throw new IllegalArgumentException(
            s"unsupported VECTOR_SEARCH option: $other")
        }
      }
      def fold(pairs: String) =
        s"aggregate($pairs, cast(0.0 as double), (a, x) -> a + x)"
      val qc = s"__vs_q.`$colName`"
      val bc = s"__vs_b.`$colName`"
      val dist = distType match {
        case "EUCLIDEAN" => "sqrt(" + fold(
          s"zip_with($qc, $bc, (x, y) -> (cast(x as double) - cast(y as double))" +
            " * (cast(x as double) - cast(y as double)))") + ")"
        case "COSINE" =>
          val dot = fold(s"zip_with($qc, $bc, (x, y) -> cast(x as double) * cast(y as double))")
          val nq = fold(s"transform($qc, x -> cast(x as double) * cast(x as double))")
          val nb = fold(s"transform($bc, x -> cast(x as double) * cast(x as double))")
          s"1.0 - $dot / (sqrt($nq) * sqrt($nb))"
        case other => throw new IllegalArgumentException(
          s"unsupported VECTOR_SEARCH distance_type: $other")
      }
      val repl =
        s"""FROM (SELECT query, base, distance FROM (
           |  SELECT struct(__vs_q.*) AS query, struct(__vs_b.*) AS base,
           |    $dist AS distance,
           |    row_number() OVER (PARTITION BY struct(__vs_q.*)
           |      ORDER BY $dist, struct(__vs_b.*)) AS __vs_rn
           |  FROM $querySql __vs_q CROSS JOIN $baseRef __vs_b
           |) WHERE __vs_rn <= $topK)""".stripMargin
      Some((m0.start, callEnd, repl))
    }

  private val rangeSessionizeRe =
    trigger(raw"(?is)\bFROM\s+RANGE_SESSIONIZE\s*\(", "RANGE_SESSIONIZE")

  /** BigQuery `FROM RANGE_SESSIONIZE(TABLE t, 'range_col',
    * ['p1', …][, 'MEETS'|'OVERLAPS'])` — merges a partition's
    * overlapping (OVERLAPS) or overlapping-or-touching (MEETS, the
    * default) ranges into sessions and returns the input rows plus a
    * `session_range` column. Pure window SQL: a running max of
    * range_end (NULL end = unbounded, tracked by a separate flag since
    * max() skips NULLs) decides session breaks; the break flags
    * prefix-sum into a session id; min/max over the session window
    * build the session range. One plan, no joins — scales like any
    * windowed aggregation (shuffle on the partition columns).
    */
  private def rewriteRangeSessionize(text: String): String =
    spliceOutside(rangeSessionizeRe, text) { (sql, m0) =>
      val (args, callEnd) = callArgs(sql, m0, "RANGE_SESSIONIZE")
      if (args.length < 3 || args.length > 4)
        throw new IllegalArgumentException(
          "RANGE_SESSIONIZE needs (TABLE t, 'range_col', [partition_cols][, mode])")
      val tableRef = {
        val t = args(0)
        if (!t.toUpperCase.startsWith("TABLE"))
          throw new IllegalArgumentException(
            s"RANGE_SESSIONIZE first argument must be TABLE <name>, got: $t")
        t.drop(5).trim
      }
      val rcol = "`" + args(1).stripPrefix("'").stripSuffix("'") + "`"
      val partArg = args(2)
      if (!partArg.startsWith("[") || !partArg.endsWith("]"))
        throw new IllegalArgumentException(
          s"RANGE_SESSIONIZE partition columns must be an array literal, got: $partArg")
      val pcols = SqlLex.splitTopLevel(partArg.substring(1, partArg.length - 1))
        .map(_.trim).filter(_.nonEmpty)
        .map(p => "`" + p.stripPrefix("'").stripSuffix("'") + "`")
      val cmp = args.lift(3).map(_.stripPrefix("'").stripSuffix("'").toUpperCase) match {
        case scala.None | Some("MEETS") => "<=" // touching ranges merge
        case Some("OVERLAPS") => "<"
        case Some(other) => throw new IllegalArgumentException(
          s"unsupported RANGE_SESSIONIZE mode: $other")
      }
      val pBy = if (pcols.isEmpty) "" else s"PARTITION BY ${pcols.mkString(", ")} "
      val ord = "ORDER BY __rs_o1, __rs_o2, __rs_o3, __rs_o4"
      val pw = s"OVER ($pBy$ord ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
      val sw = s"OVER (PARTITION BY ${(pcols :+ "__rs_sid").mkString(", ")})"
      val endNull = s"CASE WHEN $rcol.range_end IS NULL THEN 1 ELSE 0 END"
      val repl =
        s"""FROM (
           |  SELECT * EXCEPT(__rs_o1, __rs_o2, __rs_o3, __rs_o4, __rs_sid),
           |    named_struct(
           |      'range_start', CASE WHEN max(CASE WHEN $rcol.range_start IS NULL THEN 1 ELSE 0 END) $sw = 1
           |        THEN NULL ELSE min($rcol.range_start) $sw END,
           |      'range_end', CASE WHEN max($endNull) $sw = 1
           |        THEN NULL ELSE max($rcol.range_end) $sw END) AS session_range
           |  FROM (
           |    SELECT * EXCEPT(__rs_new),
           |      sum(__rs_new) OVER ($pBy$ord ROWS UNBOUNDED PRECEDING) AS __rs_sid
           |    FROM (
           |      SELECT *,
           |        CASE WHEN max($endNull) $pw IS NULL THEN 1
           |             WHEN max($endNull) $pw = 1 THEN 0
           |             WHEN $rcol.range_start IS NULL THEN 0
           |             WHEN $rcol.range_start $cmp max($rcol.range_end) $pw THEN 0
           |             ELSE 1 END AS __rs_new
           |      FROM (
           |        SELECT *,
           |          CASE WHEN $rcol.range_start IS NULL THEN 0 ELSE 1 END AS __rs_o1,
           |          $rcol.range_start AS __rs_o2,
           |          CASE WHEN $rcol.range_end IS NULL THEN 1 ELSE 0 END AS __rs_o3,
           |          $rcol.range_end AS __rs_o4
           |        FROM $tableRef
           |      )
           |    )
           |  )
           |)""".stripMargin
      Some((m0.start, callEnd, repl))
    }

  private val fixedIntervalRe =
    raw"(?is)^\s*INTERVAL\s+(\d+)\s+(SECOND|MINUTE|HOUR|DAY|WEEK)\s*$$".r

  /** `INTERVAL n SECOND…WEEK` as microseconds; None for any other text. */
  private def fixedIntervalMicros(w: String): Option[Long] =
    fixedIntervalRe.findFirstMatchIn(w).map { m =>
      m.group(1).toLong * (m.group(2).toUpperCase match {
        case "SECOND" => 1000000L
        case "MINUTE" => 60000000L
        case "HOUR" => 3600000000L
        case "DAY" => 86400000000L
        case "WEEK" => 604800000000L
      })
    }

  private val gapFillRe = trigger(raw"(?is)\bFROM\s+GAP_FILL\s*\(", "GAP_FILL")

  /** BigQuery `FROM GAP_FILL(TABLE t, ts_column => 'ts',
    * bucket_width => INTERVAL n unit[, partitioning_columns => [...]]
    * [, value_columns => [('v', 'null'|'locf'|'linear'), …]])` —
    * materializes the missing time buckets between each partition's
    * min and max timestamp and fills the value columns per method:
    * null (leave), locf (last observed carried forward), linear
    * (interpolation between the observed neighbors, NULL at the
    * edges, as BigQuery defines). Without `origin`, the input's
    * timestamps must already be bucket-aligned (BigQuery's own
    * precondition). With `origin => <timestamp>`, buckets are
    * origin + k*width (bucket START, like TIMESTAMP_BUCKET) and each
    * input row is re-aligned into its bucket — two rows of one
    * partition landing in the same bucket FAIL LOUD; the re-aligned
    * column is emitted as TIMESTAMP, and only micros-expressible
    * widths (SECOND…WEEK) are accepted (calendar months have no fixed
    * micros — loud). `ignore_null_values` (default true) controls
    * whether locf/linear skip NULL observations (true: a NULL value is
    * as-if-absent) or treat an existing row's NULL as a real
    * observation (false: locf carries it, linear anchors on it and
    * yields NULL across it).
    * Shape: one groupBy for the bucket spans, one explode, one LEFT
    * JOIN back on (partition, ts), per-row window fills — scales like
    * any windowed aggregation.
    */
  private def rewriteGapFill(text: String): String =
    spliceOutside(gapFillRe, text) { (sql, m0) =>
      val (args, callEnd) = callArgs(sql, m0, "GAP_FILL")
      if (args.isEmpty || !args(0).toUpperCase.startsWith("TABLE"))
        throw new IllegalArgumentException(
          "GAP_FILL first argument must be TABLE <name>")
      val tableRef = args(0).drop(5).trim
      var tsCol: Option[String] = scala.None
      var width: Option[String] = scala.None
      var pcols: Seq[String] = Seq.empty
      var vcols: Seq[(String, String)] = Seq.empty
      var origin: Option[String] = scala.None
      var ignoreNulls = true
      def unq(s: String) = s.trim.stripPrefix("'").stripSuffix("'")
      args.drop(1).foreach { a =>
        val kv = a.split("=>", 2).map(_.trim)
        if (kv.length != 2) throw new IllegalArgumentException(
          s"GAP_FILL arguments must be named (ts_column => …), got: $a")
        kv(0).toLowerCase match {
          case "ts_column" => tsCol = Some(unq(kv(1)))
          case "bucket_width" => width = Some(kv(1))
          case "partitioning_columns" =>
            val body = kv(1).stripPrefix("[").stripSuffix("]")
            pcols = SqlLex.splitTopLevel(body).map(unq).filter(_.nonEmpty)
          case "value_columns" =>
            val body = kv(1).trim.stripPrefix("[").stripSuffix("]")
            vcols = SqlLex.splitTopLevel(body).map(_.trim).filter(_.nonEmpty).map { p =>
              val inner = p.stripPrefix("(").stripSuffix(")")
              val parts = SqlLex.splitTopLevel(inner).map(unq)
              if (parts.length != 2 ||
                  !Set("null", "locf", "linear").contains(parts(1).toLowerCase))
                throw new IllegalArgumentException(
                  s"GAP_FILL value_columns entries are ('col', 'null'|'locf'|'linear'): $p")
              (parts(0), parts(1).toLowerCase)
            }
          case "origin" => origin = Some(kv(1))
          case "ignore_null_values" => kv(1).trim.toLowerCase match {
            case "true" => ignoreNulls = true
            case "false" => ignoreNulls = false
            case other => throw new IllegalArgumentException(
              s"GAP_FILL ignore_null_values must be the literal true or false, got: $other")
          }
          case other => throw new IllegalArgumentException(
            s"unsupported GAP_FILL argument: $other")
        }
      }
      val ts = "`" + tsCol.getOrElse(throw new IllegalArgumentException(
        "GAP_FILL needs ts_column => '…'")) + "`"
      val w = width.getOrElse(throw new IllegalArgumentException(
        "GAP_FILL needs bucket_width => INTERVAL …"))
      val pq = pcols.map(p => "`" + p + "`")
      val pSel = if (pq.isEmpty) "" else pq.mkString(", ") + ", "
      val pBy =
        if (pq.isEmpty) ""
        else s"PARTITION BY ${pq.map(p => s"__gf_b.$p").mkString(", ")} "
      // a bucket row came from a REAL input row iff the join key matched
      val exists = s"__gf_i.$ts IS NOT NULL"
      val prevWin = s"($pBy ORDER BY __gf_b.$ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
      val nextWin = s"($pBy ORDER BY __gf_b.$ts ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)"
      val fills = vcols.map { case (c0, method) =>
        val c = "`" + c0 + "`"
        (method, ignoreNulls) match {
          case ("null", _) => s"__gf_i.$c AS $c"
          case ("locf", true) =>
            s"last_value(__gf_i.$c, true) OVER $prevWin AS $c"
          case ("locf", false) =>
            // carry the last EXISTING row's value even when that value is
            // NULL: the struct wrapper distinguishes "no row" (struct
            // NULL, skipped) from "row with NULL value" (struct non-NULL)
            s"(last_value(CASE WHEN $exists THEN named_struct('v', __gf_i.$c) END, true) " +
              s"OVER $prevWin).v AS $c"
          case ("linear", true) =>
            val prevV = s"last_value(__gf_i.$c, true) OVER $prevWin"
            val nextV = s"first_value(__gf_i.$c, true) OVER $nextWin"
            val prevT = s"last_value(CASE WHEN __gf_i.$c IS NOT NULL THEN __gf_b.$ts END, true) OVER $prevWin"
            val nextT = s"first_value(CASE WHEN __gf_i.$c IS NOT NULL THEN __gf_b.$ts END, true) OVER $nextWin"
            s"(CASE WHEN __gf_i.$c IS NOT NULL THEN CAST(__gf_i.$c AS DOUBLE) " +
              s"WHEN $prevV IS NULL OR $nextV IS NULL THEN CAST(NULL AS DOUBLE) " +
              s"ELSE CAST($prevV AS DOUBLE) + (CAST($nextV AS DOUBLE) - CAST($prevV AS DOUBLE)) " +
              s"* (unix_micros(CAST(__gf_b.$ts AS TIMESTAMP)) - unix_micros(CAST($prevT AS TIMESTAMP))) " +
              s"/ (unix_micros(CAST($nextT AS TIMESTAMP)) - unix_micros(CAST($prevT AS TIMESTAMP))) END) AS $c"
          case ("linear", false) =>
            // anchors are the nearest EXISTING rows; a NULL anchor value
            // propagates NULL through the interpolation arithmetic
            val anchor = s"named_struct('v', CAST(__gf_i.$c AS DOUBLE), 't', CAST(__gf_b.$ts AS TIMESTAMP))"
            val prevS = s"last_value(CASE WHEN $exists THEN $anchor END, true) OVER $prevWin"
            val nextS = s"first_value(CASE WHEN $exists THEN $anchor END, true) OVER $nextWin"
            s"(CASE WHEN $exists THEN CAST(__gf_i.$c AS DOUBLE) " +
              s"ELSE ($prevS).v + (($nextS).v - ($prevS).v) " +
              s"* (unix_micros(CAST(__gf_b.$ts AS TIMESTAMP)) - unix_micros(($prevS).t)) " +
              s"/ (unix_micros(($nextS).t) - unix_micros(($prevS).t)) END) AS $c"
        }
      }
      val fillSel = if (fills.isEmpty) "" else ", " + fills.mkString(", ")
      val onCond = (pq :+ ts)
        .map(c => s"__gf_b.$c = __gf_i.$c").mkString(" AND ")
      // origin => re-align each input row into its origin + k*width bucket
      // (bucket START). Only micros-expressible widths: calendar months
      // have no fixed micros — loud. Two rows in one (partition, bucket)
      // fail loud; the check rides the join-key column so pruning cannot
      // drop it.
      val inCte = origin match {
        case scala.None => s"__gf_in AS (SELECT * FROM $tableRef),"
        case Some(o) =>
          val wm = fixedIntervalMicros(w).getOrElse(throw new IllegalArgumentException(
              s"GAP_FILL origin needs a SECOND…WEEK bucket_width (fixed micros), got: $w"))
          val oMic = s"unix_micros(CAST(($o) AS TIMESTAMP))"
          val bucket = s"timestamp_micros($oMic + CAST(FLOOR((unix_micros(CAST($ts AS TIMESTAMP)) - $oMic) / ${wm}.0) AS BIGINT) * ${wm}L)"
          s"""__gf_in0 AS (SELECT * FROM $tableRef),
             |  __gf_al AS (SELECT * EXCEPT ($ts), $bucket AS $ts FROM __gf_in0),
             |  __gf_in AS (SELECT * EXCEPT ($ts),
             |    CASE WHEN count(1) OVER (PARTITION BY ${(pq :+ ts).mkString(", ")}) > 1
             |         THEN CAST(raise_error('GAP_FILL: multiple input rows fall into one bucket after origin re-alignment') AS TIMESTAMP)
             |         ELSE $ts END AS $ts FROM __gf_al),""".stripMargin
      }
      val repl =
        s"""FROM (
           |  WITH $inCte
           |  __gf_span AS (
           |    SELECT ${pSel}min($ts) AS __gf_lo, max($ts) AS __gf_hi
           |    FROM __gf_in${if (pq.isEmpty) "" else s" GROUP BY ${pq.mkString(", ")}"}
           |  ),
           |  __gf_b AS (
           |    SELECT ${pSel}explode(sequence(__gf_lo, __gf_hi, $w)) AS $ts
           |    FROM __gf_span
           |  )
           |  SELECT ${pq.map(p => s"__gf_b.$p AS $p").mkString(", ")}${if (pq.isEmpty) "" else ", "}__gf_b.$ts AS $ts$fillSel
           |  FROM __gf_b LEFT JOIN __gf_in __gf_i ON $onCond
           |)""".stripMargin
      Some((m0.start, callEnd, repl))
    }

  /** Dataset-qualified persistent-UDF CALL SITES → their flattened
    * registered names (FnRegistry). Only names a CREATE FUNCTION
    * registered this session are touched; the registry is empty
    * otherwise and this is a no-op fold.
    */
  private def mapPersistentFns(sql: String): String =
    FnRegistry.entries.foldLeft(sql) { case (acc, (canon, flat)) =>
      // left boundary: a longer identifier ending in the canonical name
      // (x_p.d.f) must not match its tail
      val t = new Trigger(("(?i)(?<![A-Za-z0-9_.])`?" +
        java.util.regex.Pattern.quote(canon) + raw"`?\s*\(").r,
        Seq(canon.toUpperCase(java.util.Locale.ROOT)))
      replaceOutside(t, acc)(_ => s"$flat(")
    }

  private val pipeRenameRe = trigger(raw"(?i)\|>\s*RENAME\b", "|>")
  private val renameItemRe = raw"(?is)^(`?[\w]+`?)\s+AS\s+(`?[\w]+`?)$$".r

  /** End of a pipe operator's operand list from `from`: the next
    * top-level `|>`, or the `)` closing an enclosing group.
    */
  private def pipeOperandEnd(sql: String, from: Int): Int =
    SqlLex.clauseEnd(sql, from)(i => sql.startsWith("|>", i))

  /** BigQuery pipe-syntax `|> RENAME old AS new, …` — the one pipe
    * operator Spark 4.1 doesn't parse. Rewritten to
    * `|> SELECT * EXCEPT (olds), old AS new, …` (same deviation as the
    * star-REPLACE rewrite: renamed columns move to the END of the
    * projection; names and values identical). The rest of the pipe
    * vocabulary — WHERE, SELECT, EXTEND, SET, DROP, AGGREGATE…GROUP BY,
    * ORDER BY, LIMIT, JOIN, PIVOT/UNPIVOT, UNION, TABLESAMPLE — is
    * Spark-native (probe wave 17) with BigQuery-matching semantics,
    * including rejecting aggregates inside `|> SELECT`.
    */
  private def rewritePipeRename(text: String): String =
    spliceOutside(pipeRenameRe, text) { (sql, m0) =>
      val end = pipeOperandEnd(sql, m0.end)
      val prs = SqlLex.splitTopLevel(sql.substring(m0.end, end))
        .map(_.trim).filter(_.nonEmpty).map { it =>
          renameItemRe.findFirstMatchIn(it)
            .map(mm => (mm.group(1), mm.group(2)))
            .getOrElse(throw new IllegalArgumentException(
              s"|> RENAME items are `old AS new`: $it"))
        }
      val repl = s"|> SELECT * EXCEPT (${prs.map(_._1).mkString(", ")}), " +
        prs.map { case (o, n) => s"$o AS $n" }.mkString(", ") + " "
      Some((m0.start, end, repl))
    }

  private val pipeAssertRe = trigger(raw"(?i)\|>\s*ASSERT\b", "|>")

  /** BigQuery `|> ASSERT condition [, message]` — rows pass through
    * unchanged; any row failing the condition errors the query. Lowered
    * to `|> WHERE (CASE WHEN cond THEN TRUE ELSE raise_error(…) END)` —
    * a filter predicate is evaluated per row and can never be pruned
    * away (an EXTEND+DROP form could be column-pruned before the check
    * ran).
    */
  private def rewritePipeAssert(text: String): String =
    spliceOutside(pipeAssertRe, text) { (sql, m0) =>
      val end = pipeOperandEnd(sql, m0.end)
      val parts = SqlLex.splitTopLevel(sql.substring(m0.end, end)).map(_.trim)
      val cond = parts.head
      val msg =
        if (parts.length > 1) s"CAST((${parts(1)}) AS STRING)"
        else "'" + cond.replace("'", "''").replace("\\", "\\\\") + "'"
      val repl = s"|> WHERE (CASE WHEN ($cond) THEN TRUE " +
        s"ELSE CAST(raise_error(CONCAT('ASSERT failed: ', $msg)) AS BOOLEAN) END) "
      Some((m0.start, end, repl))
    }

  private val mlAnalyticRe =
    trigger(raw"(?i)\bML\s*\.\s*(STANDARD_SCALER|MIN_MAX_SCALER|IMPUTER|QUANTILE_BUCKETIZE)\s*\(",
      "SCALER", "IMPUTER", "BUCKETIZE")

  /** BigQuery ML analytic preprocessing functions — rewritten into the
    * equivalent window-aggregate compositions over the SAME OVER clause
    * (pure codegen'd expressions, one window pass):
    * ML.STANDARD_SCALER(x) OVER w → (x - avg)/stddev_samp (BigQuery uses
    * sample stddev; a constant partition yields IEEE NaN in both this
    * engine and the DuckDB oracle), ML.MIN_MAX_SCALER → (x-min)/(max-min),
    * ML.IMPUTER(x, 'mean'|'median'|'most_frequent') → coalesce with the
    * window statistic. The OVER clause must be inline parens (BigQuery
    * requires OVER() on these too). ML.QUANTILE_BUCKETIZE(x, n) (r12,
    * converts the last ML-namespace skip) bucketizes by EXACT
    * interpolated quantile boundaries — percentile(x, i/n) OVER w for
    * i = 1..n-1, bin = 1 + Σ(x > bᵢ) — NOT ntile, which splits equal
    * values across buckets; a value EQUAL to a boundary lands in the
    * lower bucket (upper-inclusive bins). n must be an integer literal
    * so the expansion is static.
    */
  private def rewriteMlAnalytic(text: String): String =
    spliceOutside(mlAnalyticRe, text) { (sql, m0) =>
      val fn = m0.group(1).toUpperCase
      val close = SqlLex.close(sql, m0.end - 1)
      if (close < 0) throw new IllegalArgumentException(s"ML.$fn: unbalanced call")
      val args = SqlLex.splitTopLevel(sql.substring(m0.end, close)).map(_.trim)
      val (k, wEnd) = overWindow(sql, close + 1).getOrElse(throw new IllegalArgumentException(
        s"ML.$fn is an analytic function and requires OVER (…)"))
      if (sql.charAt(k) != '(')
        throw new IllegalArgumentException(
          s"ML.$fn OVER must use an inline (…) window specification")
      val w = sql.substring(k, wEnd)
      val x = s"(${args(0)})"
      val repl = fn match {
        case "STANDARD_SCALER" if args.length == 1 =>
          s"(($x - avg($x) OVER $w) / stddev_samp($x) OVER $w)"
        case "MIN_MAX_SCALER" if args.length == 1 =>
          s"(($x - min($x) OVER $w) / (max($x) OVER $w - min($x) OVER $w))"
        case "IMPUTER" if args.length == 2 =>
          strLit(args(1)).map(_.toLowerCase) match {
            case Some("mean") => s"coalesce($x, avg($x) OVER $w)"
            case Some("median") => s"coalesce($x, percentile($x, 0.5) OVER $w)"
            case Some("most_frequent") => s"coalesce($x, mode($x) OVER $w)"
            case _ => throw new IllegalArgumentException(
              "ML.IMPUTER strategy must be the literal 'mean', 'median' or 'most_frequent'")
          }
        case "QUANTILE_BUCKETIZE" if args.length == 2 =>
          val nb = try args(1).trim.toInt catch {
            case _: NumberFormatException => throw new IllegalArgumentException(
              "ML.QUANTILE_BUCKETIZE: num_buckets must be an integer literal")
          }
          if (nb < 2 || nb > 100) throw new IllegalArgumentException(
            s"ML.QUANTILE_BUCKETIZE: num_buckets must be in [2, 100], got $nb")
          val sums = (1 until nb).map { i =>
            s"(CASE WHEN $x > percentile($x, ${i.toDouble / nb}d) OVER $w " +
              "THEN 1 ELSE 0 END)"
          }
          s"concat('bin_', CAST((1 + ${sums.mkString(" + ")}) AS STRING))"
        case other => throw new IllegalArgumentException(
          s"ML.$other: unsupported form")
      }
      Some((m0.start, wEnd, repl))
    }

  private val hllMergeOverRe = trigger(raw"(?i)\bHLL_COUNT\s*\.\s*MERGE\s*\(", "HLL_COUNT")

  /** `HLL_COUNT.MERGE(sketch) OVER w` (the r10-documented loud edge):
    * the aggregate-position lowering wraps the union aggregate in
    * hll_sketch_estimate, which is scalar — an OVER after it fails
    * analysis. This pass captures the OVER clause and moves it INSIDE
    * the wrapper: estimate(union_agg(x) OVER w). Only the window form
    * matches (a plain call keeps the callRewrites lowering).
    */
  private def rewriteHllMergeOver(sql: String): String =
    spliceOutside(hllMergeOverRe, sql) { (s, m0) =>
      val close = SqlLex.close(s, m0.end - 1)
      // malformed: leave for the loud path
      if (close < 0) scala.None
      else overWindow(s, close + 1).map { case (w, wEnd) =>
        (m0.start, wEnd, s"hll_sketch_estimate(hll_union_agg((${s.substring(m0.end, close)}), " +
          s"true) OVER ${s.substring(w, wEnd)})")
      }
    }

  private val pdiscRe = trigger(raw"(?i)\bPERCENTILE_DISC\s*\(", "PERCENTILE_DISC")

  /** `PERCENTILE_DISC(x, f) [OVER w]` → Spark's percentile_disc, with
    * BigQuery's input-type preservation restored (r10 ask #6): Spark
    * widens the result to DOUBLE, but the selected value is an actual
    * input element, so `graft_cast_like(result, x)` casts it back
    * exactly. The pass (not callRewrites) owns this form because the
    * OVER clause must land INSIDE the wrapper — the wrapper itself is
    * scalar. Aggregate position borrows the type from `first(x)` (bare
    * x would be an unaggregated reference there); the window form uses
    * x directly. Non-literal fractions (incl. RESPECT/IGNORE NULLS
    * suffixes, which land in the fraction arg) fail loud.
    */
  private def rewritePercentileDisc(text: String): String =
    spliceOutside(pdiscRe, text) { (sql, m0) =>
      val close = SqlLex.close(sql, m0.end - 1)
      if (close < 0)
        throw new IllegalArgumentException("PERCENTILE_DISC: unbalanced call")
      // Spark's own `percentile_disc(f) WITHIN GROUP (…)`, this pass's output
      if (SqlLex.wordAt(sql, SqlLex.skipBlank(sql, close + 1)) == "WITHIN") scala.None
      else {
        val args = SqlLex.splitTopLevel(sql.substring(m0.end, close)).map(_.trim)
        if (args.length != 2 || !args(1).matches("""[0-9.]+"""))
          throw new IllegalArgumentException(
            "PERCENTILE_DISC needs (value, literal fraction); " +
              "RESPECT/IGNORE NULLS is not supported")
        val x = args(0)
        val pick = s"graft_cast_like(percentile_disc(${args(1)}) WITHIN GROUP (ORDER BY $x)"
        Some(overWindow(sql, close + 1) match {
          case Some((w, wEnd)) => (m0.start, wEnd, s"$pick OVER ${sql.substring(w, wEnd)}, $x)")
          case scala.None => (m0.start, close + 1, s"$pick, first($x))")
        })
      }
    }

  private val searchFnRe = trigger(raw"(?i)\bSEARCH\s*\(", "SEARCH")

  /** Java/RE2-compatible class of BigQuery's published LOG_ANALYZER
    * delimiters (space/tab/newline + `[ ] < > ( ) { } | ! ; , ' " * &
    * ? + / : = @ . - $ % \ _`); the doubled backslashes survive
    * Spark's string-literal escape processing so the regex reaches
    * the engine intact.
    */
  private val logAnalyzerDelimSql =
    """[\\s\\[\\]<>(){}|!;,\'"*&?+/:=@.\\-$%\\\\_]+"""
  private val logAnalyzerDelimJava =
    """[\s\[\]<>(){}|!;,'"*&?+/:=@.\-$%\\_]+"""

  /** BigQuery full-text `SEARCH(data, 'query'[, analyzer =>
    * 'LOG_ANALYZER'|'NO_OP_ANALYZER'])` → an inline token-containment
    * predicate. LOG_ANALYZER (the default) splits both sides on the
    * published delimiter set and matches case-insensitively: every
    * query token must appear among the data's tokens — pure codegen
    * array built-ins, no UDF, scales with the scan. NO_OP_ANALYZER
    * treats the whole value as one token (case-insensitive equality).
    * The query must be a string literal (it is tokenized at rewrite
    * time); PATTERN_ANALYZER and backtick-quoted exact-phrase syntax
    * stay loud-unsupported rather than silently approximate.
    */
  private def rewriteSearchFn(text: String): String =
    spliceOutside(searchFnRe, text) { (sql, m0) =>
      val (args, callEnd) = callArgs(sql, m0, "SEARCH")
      if (args.length < 2)
        throw new IllegalArgumentException(
          "SEARCH needs (data, 'query'[, analyzer => '...'])")
      val dataExpr = args(0)
      val qLit = args(1)
      if (!(qLit.startsWith("'") && qLit.endsWith("'")))
        throw new IllegalArgumentException(
          s"SEARCH query must be a string literal, got: $qLit")
      val query = qLit.substring(1, qLit.length - 1).replace("\\'", "'")
      if (query.contains("`"))
        throw new IllegalArgumentException(
          "SEARCH backtick-quoted phrase matching is not supported")
      var analyzer = "LOG_ANALYZER"
      args.drop(2).foreach { opt =>
        val kv = opt.split("=>").map(_.trim)
        kv(0).toLowerCase match {
          case "analyzer" =>
            analyzer = kv(1).stripPrefix("'").stripSuffix("'").toUpperCase
          case other => throw new IllegalArgumentException(
            s"unsupported SEARCH option: $other")
        }
      }
      val repl = analyzer match {
        case "LOG_ANALYZER" =>
          val terms = query.toLowerCase.split(logAnalyzerDelimJava)
            .filter(_.nonEmpty).distinct
          if (terms.isEmpty) throw new IllegalArgumentException(
            "SEARCH query tokenizes to nothing under LOG_ANALYZER")
          val termArr = terms.map(t => s"'$t'").mkString("array(", ", ", ")")
          s"forall($termArr, __st -> array_contains(" +
            s"filter(split(lower($dataExpr), '$logAnalyzerDelimSql'), " +
            s"__sx -> __sx <> ''), __st))"
        case "NO_OP_ANALYZER" =>
          s"(lower($dataExpr) = '${query.toLowerCase.replace("'", "\\'")}')"
        case other => throw new IllegalArgumentException(
          s"unsupported SEARCH analyzer: $other")
      }
      Some((m0.start, callEnd, "(" + repl + ")"))
    }

  /** BigQuery time travel (`FROM t FOR SYSTEM_TIME AS OF <ts expr>`),
    * resolved against the full pre-write images the staged-swap commit
    * protocol retains ([[PartitionCommit]] snapshots): the clause's
    * table ref is replaced by the snapshot directory that was current
    * at the requested time (a direct parquet path scan), by the table
    * itself when no later rewrite exists, or by an empty projection
    * when the table held nothing then. The timestamp expression is
    * evaluated through the dialect, so literals and TIMESTAMP_SUB
    * arithmetic both work. Span of support: whole-table rewrites (DML
    * DELETE/UPDATE/MERGE, REPLACE loads) create boundaries; APPENDs
    * don't; a partition-level load between the requested time and the
    * nearest snapshot fails loud in the resolver. Alias the clause
    * with AS — a bare trailing alias reads as expression text.
    */
  private def rewriteSystemTimeClauses(sql: String): String =
    spliceOutside(systemTimeRe, sql) { (acc, m) =>
      val spark = org.apache.spark.sql.SparkSession.getActiveSession.getOrElse(
        throw new IllegalStateException(
          "FOR SYSTEM_TIME AS OF needs an active SparkSession to resolve snapshots"))
      // table ref = the whitespace-delimited token ending before FOR
      var e = m.start
      while (e > 0 && acc.charAt(e - 1).isWhitespace) e -= 1
      var b = e
      def refChar(c: Char) = c.isLetterOrDigit || c == '_' || c == '.' ||
        c == '`' || c == '$' || c == '-'
      while (b > 0 && refChar(acc.charAt(b - 1))) b -= 1
      val ref = acc.substring(b, e)
      if (ref.isEmpty)
        throw new UnsupportedOperationException(
          "FOR SYSTEM_TIME AS OF must follow a plain table reference")
      // timestamp expression: consume balanced text up to a depth-0
      // clause boundary (keyword, comma, closing paren, semicolon)
      val stopWords = Set("WHERE", "GROUP", "ORDER", "LIMIT", "HAVING",
        "QUALIFY", "WINDOW", "JOIN", "LEFT", "RIGHT", "FULL", "INNER",
        "CROSS", "UNION", "EXCEPT", "INTERSECT", "ON", "USING", "AS")
      var exprStart = m.end
      while (exprStart < acc.length && acc.charAt(exprStart).isWhitespace) exprStart += 1
      val j = SqlLex.clauseEnd(acc, exprStart)(i => acc.charAt(i) == ',' ||
        acc.charAt(i) == ';' || (i > exprStart && stopWords(SqlLex.wordAt(acc, i))))
      val tsExpr = acc.substring(exprStart, j).trim
      if (tsExpr.isEmpty)
        throw new IllegalArgumentException(
          "empty FOR SYSTEM_TIME AS OF expression")
      val row = spark.sql(rewrite(
        s"SELECT CAST(unix_millis(CAST(($tsExpr) AS TIMESTAMP)) AS BIGINT)"))
        .collect()(0)
      if (row.isNullAt(0))
        throw new IllegalArgumentException(
          s"FOR SYSTEM_TIME AS OF expression evaluated to NULL: $tsExpr")
      val repl = PartitionCommit.resolveAsOf(spark, ref, row.getLong(0)) match {
        case PartitionCommit.AsOfCurrent => ref
        case PartitionCommit.AsOfEmpty => s"(SELECT * FROM $ref WHERE 1=0)"
        case PartitionCommit.AsOfSnapshot(p) => s"parquet.`$p`"
      }
      Some((b, j, repl))
    }

  /** BigQuery literal forms Spark lacks, normalized to standard
    * single-line quoted literals before any other pass runs:
    *  - raw strings `r'…'` / `R"…"` (no escape processing inside) →
    *    standard literal with every backslash doubled;
    *  - triple-quoted `'''…'''` / `"""…"""` (multiline, escapes active,
    *    bare quotes of the delimiter kind allowed) → standard literal of
    *    the same kind with bare inner quotes escaped.
    * The scanner copies normal literals and backticked identifiers
    * verbatim, so a `r'x'` INSIDE a string stays untouched.
    */
  private[engine] def normalizeLiteralForms(sql: String): String = {
    val sb = new StringBuilder
    var i = 0
    def tripleAt(j: Int): Boolean = j + 2 < sql.length &&
      (sql.charAt(j) == '\'' || sql.charAt(j) == '"') &&
      sql.charAt(j + 1) == sql.charAt(j) && sql.charAt(j + 2) == sql.charAt(j)
    def copyEscaped(q: Char, from: Int, until: Int): Unit = {
      var j = from
      while (j < until) {
        val c = sql.charAt(j)
        if (c == '\\' && j + 1 < until) { sb.append(c).append(sql.charAt(j + 1)); j += 2 }
        else if (c == q) { sb.append('\\').append(q); j += 1 }
        else { sb.append(c); j += 1 }
      }
    }
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (tripleAt(i)) {
        val q = c
        // find the closing triple: skip backslash escapes, and lex
        // greedily — in a run of >3 quotes the LAST three close
        // ('''a'''' has content a'), matching BigQuery/Python
        var j = i + 3
        var close = -1
        while (close < 0 && j < sql.length) {
          val cj = sql.charAt(j)
          if (cj == '\\' && j + 1 < sql.length) j += 2
          else if (cj == q && j + 2 < sql.length &&
              sql.charAt(j + 1) == q && sql.charAt(j + 2) == q &&
              (j + 3 >= sql.length || sql.charAt(j + 3) != q)) close = j
          else j += 1
        }
        val end = if (close < 0) sql.length else close
        sb.append(q); copyEscaped(q, i + 3, end); sb.append(q)
        i = if (close < 0) sql.length else close + 3
      } else if ((c == 'b' || c == 'B') && i + 1 < sql.length &&
          (sql.charAt(i + 1) == '\'' || sql.charAt(i + 1) == '"') &&
          (i == 0 || (!Character.isLetterOrDigit(sql.charAt(i - 1)) &&
            sql.charAt(i - 1) != '_'))) {
        // bytes literal b'…' → binary cast of the UTF-8 text. Escape
        // sequences (\xNN, \n, …) would need byte-level decoding Spark
        // literals can't express — fail loud rather than corrupt bytes.
        val q = sql.charAt(i + 1)
        var j = i + 2
        while (j < sql.length && sql.charAt(j) != q) {
          if (sql.charAt(j) == '\\')
            throw new UnsupportedOperationException(
              "bytes literals with escape sequences (b'…\\…') are not " +
                "supported; use FROM_HEX('…') for arbitrary bytes")
          j += 1
        }
        sb.append(s"CAST($q").append(sql.substring(i + 2, math.min(j, sql.length)))
          .append(s"$q AS BINARY)")
        i = if (j < sql.length) j + 1 else sql.length
      } else if ((c == 'r' || c == 'R') && i + 1 < sql.length &&
          (sql.charAt(i + 1) == '\'' || sql.charAt(i + 1) == '"') &&
          (i == 0 || (!Character.isLetterOrDigit(sql.charAt(i - 1)) &&
            sql.charAt(i - 1) != '_'))) {
        val q = sql.charAt(i + 1)
        // backslash is literal in raw strings, but `\q` does not close
        // the literal (BQ: a raw string can't end with odd backslashes)
        var j = i + 2
        while (j < sql.length && sql.charAt(j) != q) {
          if (sql.charAt(j) == '\\' && j + 1 < sql.length) j += 2 else j += 1
        }
        sb.append(q)
        sql.substring(i + 2, math.min(j, sql.length)).foreach {
          case '\\'         => sb.append("\\\\")
          case ch if ch == q => sb.append('\\').append(q)
          case ch           => sb.append(ch)
        }
        sb.append(q)
        i = if (j < sql.length) j + 1 else sql.length
      } else {
        // a plain literal, backticked name or comment passes verbatim
        val e = SqlLex.regionEnd(sql, i)
        if (e >= 0) { sb.append(sql.substring(i, e)); i = e }
        else { sb.append(c); i += 1 }
      }
    }
    sb.toString
  }

  // ---- rewrite memoization (r9 ask #7 / r10 ask #4): rewrite() is ~40
  // ordered text passes, and scripted gates re-submit structurally
  // identical statements (loop bodies, per-partition task SQL, macro
  // outputs), so a bounded cache keyed by (UDF-registry epoch, mapFqns,
  // statement) removes the repeated fixed cost. rewrite() is a pure
  // text function EXCEPT for two inputs: the persistent-UDF call-site
  // mapping (captured by FnRegistry.epoch in the key) and FOR
  // SYSTEM_TIME clauses, which resolve against the mutable snapshot
  // store — those statements bypass the cache entirely.
  //
  // CACHE SOUNDNESS INVARIANT (r12, fuzz-pinned in DialectFuzzSpec):
  // the key deliberately does NOT include session state — CREATE TEMP
  // TABLE, temp views, and external-table re-registration do not bump
  // any epoch. That is sound today because rewrite() maps NAMES
  // textually and never consults the catalog: a statement referencing
  // a temp object rewrites to the same text whether or not the object
  // exists, and RESOLUTION happens at spark.sql time inside each
  // session. Any future pass that makes the output depend on catalog
  // or session state (object existence, schemas, confs) must either
  // bypass the cache like SYSTEM_TIME does, or carry that state's own
  // epoch in the key — otherwise two sessions sharing this process
  // would read each other's stale rewrites.
  private val rewriteCache =
    scala.collection.concurrent.TrieMap[(Long, Boolean, String), String]()

  def rewrite(sql0: String, mapFqns: Boolean = true): String = {
    if (!absent(sql0, systemTimeRe.anchors: _*) &&
        systemTimeRe.re.findFirstIn(sql0).isDefined)
      return rewriteUncached(sql0, mapFqns)
    val key = (FnRegistry.epoch, mapFqns, sql0)
    rewriteCache.getOrElse(key, {
      // bound like ExternalTables.resolveCache: clear-on-overflow is
      // fine — the cache exists for within-script repetition
      if (rewriteCache.size > 2048) rewriteCache.clear()
      val out = rewriteUncached(sql0, mapFqns)
      rewriteCache.put(key, out)
      out
    })
  }

  /** BigQuery type spellings → Spark's, applied in this order. BigQuery
    * NUMERIC is DECIMAL(38,9) where Spark's NUMERIC keyword means
    * DECIMAL(10,0); BIGNUMERIC is 76 digits in BigQuery and Spark
    * decimals cap at 38, so 38,18 keeps the wider fraction. TIME/BYTES
    * cast targets are mapped inside the CAST/SAFE_CAST handlers
    * (mapCastTailType): a full-text `AS TIME` rule would also rename a
    * select-list alias `x AS time`.
    */
  private val typeSpellings: Seq[(Trigger, String)] = Seq(
    // `DATETIME '…'` (wall-clock, no zone) is Spark's TIMESTAMP_NTZ; so
    // is DATETIME as a cast target
    trigger(raw"""(?i)\bDATETIME\b(?=\s*(?:['"]|$$))""", "DATETIME") -> "TIMESTAMP_NTZ",
    trigger(raw"(?i)(?<=\bAS)\s+DATETIME\b", "DATETIME") -> " TIMESTAMP_NTZ",
    // parameterized NUMERIC(p,s)/BIGNUMERIC(p,s) keep their parameters;
    // the bare keywords take BigQuery's defaults
    trigger(raw"(?i)\bBIGNUMERIC\s*\(", "BIGNUMERIC") -> "DECIMAL(",
    trigger(raw"(?i)\bNUMERIC\s*\(", "NUMERIC") -> "DECIMAL(",
    trigger(raw"(?i)\bBIGNUMERIC\b", "BIGNUMERIC") -> "DECIMAL(38,18)",
    trigger(raw"(?i)\bNUMERIC\b", "NUMERIC") -> "DECIMAL(38,9)",
    trigger(raw"(?i)\bINT64\b", "INT64") -> "BIGINT",
    trigger(raw"(?i)\bFLOAT64\b", "FLOAT64") -> "DOUBLE",
    // BOOL the type keyword — not BOOL(json), the strict converter
    trigger(raw"(?i)\bBOOL\b(?!\s*\()", "BOOL") -> "BOOLEAN",
    // STRING(L) → VARCHAR(L): Spark enforces the length on write, as
    // BigQuery does. BYTES(L) → plain BINARY: Spark has no parameterized
    // binary, so the length is not enforced. Only digit arguments:
    // STRING(json_expr) is the conversion function.
    trigger(raw"(?i)\bSTRING(?=\s*\(\s*\d+\s*\))", "STRING") -> "VARCHAR",
    trigger(raw"(?i)\bBYTES\s*\(\s*\d+\s*\)", "BYTES") -> "BINARY",
    // BigQuery TABLESAMPLE SYSTEM (n PERCENT) → Spark TABLESAMPLE
    trigger(raw"(?i)\bTABLESAMPLE\s+SYSTEM\s*\(", "TABLESAMPLE") -> "TABLESAMPLE (")

  private val numLit = trigger(raw"(?i)\b(BIGNUMERIC|NUMERIC)\s*'((?:[^'\\]|\\.)*)'", "NUMERIC")

  private def rewriteUncached(sql0: String, mapFqns: Boolean): String = {
    // typed NUMERIC/BIGNUMERIC literals first: Spark has no decimal
    // typed-literal syntax, so `NUMERIC '1.5'` must become a CAST before
    // the bare-keyword spelling would leave invalid `DECIMAL(38,9) '1.5'`
    val sqlNum = replaceOutside(numLit, normalizeLiteralForms(sql0)) { m =>
      val t = if (m.group(1).equalsIgnoreCase("BIGNUMERIC")) "DECIMAL(38,18)"
        else "DECIMAL(38,9)"
      s"CAST('${m.group(2)}' AS $t)"
    }
    val vs = rewriteGapFill(rewriteRangeSessionize(rewriteVectorSearch(
      rewriteMlAnalytic(rewritePercentileDisc(rewriteHllMergeOver(
        rewritePipeRename(rewritePipeAssert(
          mapPersistentFns(sqlNum)))))))))
    val mapped = if (mapFqns) mapSourceFqns(vs) else vs
    // time travel after FQN mapping, so the clause's table is a
    // Spark-catalog name the snapshot resolver can DESCRIBE; the
    // lineage path (mapFqns = false) leaves the text untouched — the
    // extractor reads the clause's table as a plain source
    val travelled = if (mapFqns) rewriteSystemTimeClauses(mapped) else mapped
    var out = rewriteSafeNetPrefix(typeSpellings.foldLeft(travelled) {
      case (acc, (re, to)) => replaceOutside(re, acc)(_ => to)
    })
    // BigQuery hex integer literals (0x1A) → decimal (Spark has none);
    // and BigQuery's legal trailing comma in the SELECT list (`SELECT
    // a, b, FROM t`) → dropped
    out = replaceOutside(hexIntLit, out)(m => BigInt(m.group(1), 16).toString)
    out = replaceOutside(trailingSelectComma, out)(m => m.group(1) + " FROM")
    out = rewriteTypedStruct(out)
    // BigQuery: IN UNNEST(NULL) is FALSE (NOT IN → TRUE), never NULL —
    // bare array_contains(NULL, x) would yield NULL (probe wave 20).
    // NULL ELEMENTS keep IN's three-valued logic on both engines.
    out = replaceOutside(inUnnest, out) { m =>
      if (m.group(2) != null)
        s"((${m.group(3)}) IS NULL OR NOT array_contains(${m.group(3)}, ${m.group(1)}))"
      else
        s"((${m.group(3)}) IS NOT NULL AND array_contains(${m.group(3)}, ${m.group(1)}))"
    }
    // expression-context SELECT AS STRUCT first: the comprehension and
    // flatten passes below must see the already-struct-wrapped list
    out = rewriteStructSubquery(out)
    out = rewriteArrayComprehension(out)
    out = rewriteFromUnnest(out)
    out = replaceOutside(dateTz, out)(m =>
      s"to_date(from_utc_timestamp(${m.group(1)}, '${m.group(2)}'))")
    out = replaceOutside(timestampCall, out)(m =>
      s"to_timestamp(replace('${m.group(1)}', 'T', ' '))")
    // TIME typed literal (DATETIME ran first so no \bTIME\b overlap;
    // SYSTEM_TIME's underscore blocks the boundary)
    out = rewriteTimeLiteral(out)
    // RANGE<T> typed literal → struct<range_start, range_end>; before
    // rewriteCalls so the emitted CASTs pass through the CAST handler
    // as plain Spark types
    out = rewriteRangeLiteral(out)
    // mixed-range INTERVAL literals (YEAR TO SECOND etc.) → make_interval
    // where Spark's split interval classes cannot hold the value; before
    // rewriteCalls so CAST(… AS STRING) can see the make_interval source
    out = rewriteMixedInterval(out)
    out = replaceOutside(selectAsStruct, out)(_ => "SELECT ")
    out = rewriteSelectAsValue(out)
    // EXTRACT(part FROM ts AT TIME ZONE 'tz') → shift into the zone
    // first (the tz is itself a literal: only the match's start must be
    // outside literals; simple-expression forms only — nested
    // parens stay loud on the unconsumed AT)
    out = replaceOutside(extractAtTzRe, out)(m =>
      s"EXTRACT(${m.group(1)} FROM from_utc_timestamp(${m.group(2)}, ${m.group(3)}))")
    out = rewriteCalls(out)
    out = rewriteIntervalExpr(out)
    out = rewriteArrayLiteral(out)
    out = rewriteArrayAccess(out)
    out = rewriteStarReplace(out)
    out = rewriteQualify(out)
    out = rewriteWindowExtensions(out)
    // JSON literal: `JSON '{"a": 1}'` → the canonical JSON string via
    // the PARSE_JSON round-trip (validates + canonicalizes). AFTER
    // rewriteCalls, so the emitted parse_json is not re-mapped by the
    // PARSE_JSON handler; literal-aware, so `format = 'JSON'` in
    // EXPORT options cannot trigger.
    out = rewriteJsonLiteral(out)
    // LAST: SEARCH() emits split/filter/forall calls that must not
    // re-enter the function mappers (SPLIT would literal-quote the
    // delimiter class); its arguments have already been mapped above
    rewriteSearchFn(out)
  }

  private val safeNetPrefixRe =
    trigger(raw"(?i)\b(SAFE|NET|HLL_COUNT|AEAD|KEYS|ML|KLL_QUANTILES)\s*\.\s*([A-Za-z_][A-Za-z0-9_]*)(?=\s*\()",
      "SAFE", "NET", "HLL_COUNT", "AEAD", "KEYS", "ML", "KLL_QUANTILES")

  /** SAFE. error-suppressing prefix → SAFE_ spelling handled by the call
    * rewriter (SAFE_CAST, SAFE_PARSE_x, SAFE_SUBSTR…); same for the NET.
    * and HLL_COUNT. namespaces. Rewritten ONLY when the dotted name is a
    * call to a known SAFE_/NET_/HLL_COUNT_ function — an alias or struct
    * path named safe/net (e.g. `SELECT net.amount FROM ledger net`) must
    * survive untouched.
    */
  // Spark's builtin scalar-function names — the generic SAFE. fallback
  // only strips the prefix for a name Spark itself resolves, so an
  // alias or UDF schema named `safe` still can't be rewritten blindly
  private lazy val sparkBuiltinFns: Set[String] =
    org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin
      .listFunction().map(_.funcName.toUpperCase).toSet

  /** Double-prefixed calls (SAFE.AEAD.DECRYPT_STRING) resolve in two
    * passes: the inner namespace maps first (AEAD.X → AEAD_X), then the
    * SAFE. prefix sees the underscored name. Bounded fixpoint.
    */
  private def rewriteSafeNetPrefix(sql: String): String = {
    var cur = sql
    var i = 0
    while (i < 3) {
      val next = rewriteSafeNetPrefixOnce(cur)
      if (next == cur) return cur
      cur = next
      i += 1
    }
    cur
  }

  private def rewriteSafeNetPrefixOnce(sql: String): String =
    replaceOutside(safeNetPrefixRe, sql) { m =>
      val underscored = s"${m.group(1)}_${m.group(2)}".toUpperCase
      val bare = m.group(2).toUpperCase
      if (callRewrites.contains(underscored))
        s"${m.group(1).toUpperCase}_${m.group(2)}"
      // generic SAFE.: BigQuery's error-suppressing prefix over any
      // scalar function. Spark's non-ANSI math already returns NULL
      // on domain errors (LOG(-1), LN(0), …), so stripping the
      // prefix IS the SAFE semantic here; functions with a dedicated
      // SAFE_ handler took the branch above. The NaN-producing set
      // (SQRT(-1), ASIN(2)…) additionally maps to the SAFE_NANVL_
      // marker, which the call rewriter wraps in nanvl → NULL.
      else if (m.group(1).equalsIgnoreCase("SAFE") && safeNanFns.contains(bare))
        s"SAFE_NANVL_${m.group(2)}"
      // handlers whose LOWERING can throw at eval time (raise_error
      // branches, strict decode kernels, ANSI casts): bare prefix
      // stripping would error where BigQuery's SAFE. returns NULL —
      // route through a marker the call rewriter wraps in graft_try
      // (Catalyst TryEval: any eval-time exception → NULL)
      else if (m.group(1).equalsIgnoreCase("SAFE") && safeWrapFns.contains(bare))
        s"GRAFT_SAFE_WRAP_${m.group(2)}"
      else if (m.group(1).equalsIgnoreCase("SAFE") &&
          (callRewrites.contains(bare) || sparkBuiltinFns.contains(bare)))
        m.group(2)
      else m.matched
    }

  // Spark returns NaN (BigQuery: error / SAFE → NULL) for these
  private val safeNanFns = Set("SQRT", "ASIN", "ACOS", "ACOSH", "ATANH",
    "POW", "POWER", "CBRT")

  /** Spherical haversine in meters on BigQuery's R = 6371010 m sphere.
    * Degree→radian via explicit multiply by the double nearest π/180
    * (NOT radians(): Java's toRadians divides by 180 first, C libm
    * multiplies — different last-ulp, which breaks the cross-engine
    * hash); squares via self-multiply (pow() libm variance).
    */
  private def haversineSql(p1: String, p2: String): String = {
    val d2r = "0.017453292519943295d"
    def lat(p: String) = s"(($p).lat * $d2r)"
    def lon(p: String) = s"(($p).lon * $d2r)"
    val sdlat = s"sin((${lat(p2)} - ${lat(p1)}) / 2.0d)"
    val sdlon = s"sin((${lon(p2)} - ${lon(p1)}) / 2.0d)"
    s"(2.0d * 6371010.0d * asin(least(1.0d, sqrt($sdlat * $sdlat + " +
      s"cos(${lat(p1)}) * cos(${lat(p2)}) * $sdlon * $sdlon))))"
  }

  /** Handlers whose lowering deliberately raises on bad input (the SAFE.
    * semantic must suppress that): FROM_BASE32 (invalid chars/padding),
    * RANGE/RANGE_INTERSECT (raise_error on empty/disjoint),
    * GENERATE_ARRAY (zero step), CODE_POINTS_TO_STRING/BYTES (range
    * checks), PARSE_NUMERIC/PARSE_BIGNUMERIC (ANSI string→decimal cast).
    * NOT listed: FORMAT %T / non-literal REGEXP_EXTRACT raises — those
    * signal THIS ENGINE's unsupported shapes, and SAFE. must not turn a
    * missing feature into a silent NULL.
    */
  private val safeWrapFns = Set("FROM_BASE32", "RANGE", "RANGE_INTERSECT",
    "GENERATE_ARRAY", "CODE_POINTS_TO_STRING", "CODE_POINTS_TO_BYTES",
    "PARSE_NUMERIC", "PARSE_BIGNUMERIC", "STRING",
    "AEAD_ENCRYPT", "AEAD_DECRYPT_STRING", "AEAD_DECRYPT_BYTES",
    "DETERMINISTIC_ENCRYPT", "DETERMINISTIC_DECRYPT_STRING",
    "DETERMINISTIC_DECRYPT_BYTES")

  private val starReplaceRe = trigger(raw"(?is)\*\s*REPLACE\s*\(", "REPLACE")

  /** `SELECT [t.]* REPLACE (expr AS col, …)` → `* EXCEPT (col, …),
    * expr AS col, …`. Deviation: the replaced columns move to the END of
    * the projection (BigQuery keeps their position); names and values
    * are identical.
    */
  private def rewriteStarReplace(text: String): String =
    spliceOutside(starReplaceRe, text) { (sql, m) =>
      val open = sql.indexOf('(', m.start + 1)
      val close = SqlLex.close(sql, open)
      // split each item on its LAST top-level AS (the expr itself may
      // contain CAST(x AS T))
      val pairs = if (close < 0) Seq(scala.None)
        else SqlLex.splitTopLevel(sql.substring(open + 1, close)).map(_.trim).map { it =>
          val asPos = lastTopLevelAs(it)
          if (asPos < 0) scala.None
          else Some((it.substring(0, asPos).trim, it.substring(asPos + 2).trim))
        }
      if (pairs.exists(_.isEmpty)) scala.None // malformed: let Spark report
      else {
        val ps = pairs.flatten
        val names = ps.map(_._2).mkString(", ")
        val repls = ps.map { case (e, n) => s"$e AS $n" }.mkString(", ")
        Some((m.start, close + 1, s"* EXCEPT ($names), $repls"))
      }
    }

  private val typedStructRe = trigger(raw"(?is)\bSTRUCT\s*<", "STRUCT")
  private val structFieldRe = raw"(?is)^([A-Za-z_]\w*)\s+(\S.*)$$".r

  /** Typed struct constructor `STRUCT<a INT64, b STRING>(1, 'x')` →
    * `named_struct('a', CAST(1 AS BIGINT), …)` — the field names live in
    * the TYPE list, so dropping it would lose them. Name-less type lists
    * (`STRUCT<INT64>(1)`) fall back to struct(). Type text is already
    * Spark-spelled (INT64→BIGINT ran first). Non-constructor STRUCT<…>
    * (DECLARE/CAST type positions) is left for the type mapper.
    */
  private def rewriteTypedStruct(text: String): String =
    spliceOutside(typedStructRe, text) { (sql, m) =>
      val lt = sql.indexOf('<', m.start)
      var i = lt; var depth = 0; var gt = -1
      while (i < sql.length && gt < 0) {
        sql.charAt(i) match {
          case '<' => depth += 1
          case '>' => depth -= 1; if (depth == 0) gt = i
          case _ =>
        }
        i += 1
      }
      // a type position (CAST, DECLARE) has no `(` after the type list
      val k = if (gt < 0) sql.length else SqlLex.skipBlank(sql, gt + 1)
      val close = if (k < sql.length && sql.charAt(k) == '(') SqlLex.close(sql, k) else -1
      if (close < 0) scala.None
      else {
        val fields = SqlLex.splitTopLevel(sql.substring(lt + 1, gt)).map(_.trim)
        val args = SqlLex.splitTopLevel(sql.substring(k + 1, close)).map(_.trim)
        val named = fields.map {
          case structFieldRe(n, t) => Some((n, t))
          case _ => Option.empty[(String, String)]
        }
        val repl =
          if (named.forall(_.isDefined) && named.size == args.size) {
            val parts = named.flatten.zip(args)
              .map { case ((n, t), a) => s"'$n', CAST($a AS $t)" }
            s"named_struct(${parts.mkString(", ")})"
          } else s"struct(${args.mkString(", ")})"
        Some((m.start, close + 1, repl))
      }
    }

  /** Keywords after which a `[` opens an array LITERAL, not element
    * access (`SELECT [1,2]`, `THEN [1]`, `IN UNNEST([…])` …).
    */
  private val literalPrecedingKeywords = Set(
    "SELECT", "THEN", "ELSE", "WHEN", "CASE", "AND", "OR", "NOT", "IN",
    "AS", "ON", "WHERE", "BY", "RETURN", "RETURNS", "SET", "VALUES",
    "DEFAULT", "UNION", "ALL", "DISTINCT", "FROM", "END", "USING",
    "HAVING", "INTERVAL", "BETWEEN", "IS", "LIKE", "STRUCT", "ROW")

  /** BigQuery bare array literals `[1, 2, 3]` (and the typed
    * `ARRAY<T>[…]` form, type prefix dropped) → `array(1, 2, 3)`.
    * A bracket directly following an identifier/`)`/`]` is ELEMENT
    * ACCESS (BigQuery requires OFFSET/ORDINAL there; Spark-native
    * `a[0]` passes through unharmed), everything else is a literal.
    */
  private val arrayPrefixRe = trigger(raw"(?i)\bARRAY\s*(?:<(?:[^<>]|<[^<>]*>)*>)?\s*\[", "ARRAY")

  private def rewriteArrayLiteral(sql: String): String = {
    if (absent(sql, "[")) return sql
    val in = replaceOutside(arrayPrefixRe, sql)(_ => "[")
    SqlLex.copyWalk(in) { (i, sb) =>
      val c = in.charAt(i)
      if (c != '[') { sb += c; i + 1 }
      else {
        var p = sb.length - 1
        while (p >= 0 && sb.charAt(p).isWhitespace) p -= 1
        // preceding word: identifier → access; SQL keyword → literal
        val postfix = p >= 0 && { val ch = sb.charAt(p)
          if (ch == ')' || ch == ']' || ch == '`') true
          else if (ch.isLetterOrDigit || ch == '_') {
            var w = p
            while (w > 0 && { val wc = sb.charAt(w - 1)
              wc.isLetterOrDigit || wc == '_' }) w -= 1
            !literalPrecedingKeywords(sb.substring(w, p + 1).toUpperCase)
          } else false }
        val close = if (postfix) -1 else SqlLex.close(in, i)
        if (close < 0) { sb += c; i + 1 }
        else {
          val inner = rewriteArrayLiteral(in.substring(i + 1, close))
          sb ++= s"array(${inferStructNames(inner)})"
          close + 1
        }
      }
    }
  }

  private val structCallRe = raw"(?is)^struct\s*\(".r
  private val plainNameRe = raw"^[A-Za-z_][A-Za-z0-9_]*$$|^`[^`]+`$$".r

  /** BigQuery positional struct-name inference in array literals:
    * `[STRUCT(1 AS a, 2 AS b), STRUCT(3, 4)]` takes the later
    * elements' field names from the first element. By this point the
    * elements are `struct(…)` calls; later elements with NO aliases
    * and the first element's arity get its names appended — Spark
    * would otherwise reject the array over struct<a,b> vs
    * struct<col1,col2>. Any partially-named or arity-mismatched shape
    * passes through to Spark's own loud error.
    */
  private def inferStructNames(inner: String): String = {
    val items = SqlLex.splitTopLevel(inner).map(_.trim)
    if (items.length < 2) return inner
    def argsOf(it: String): Option[Seq[String]] =
      structCallRe.findFirstMatchIn(it) match {
        case Some(m) if SqlLex.close(it, m.end - 1) == it.length - 1 =>
          Some(SqlLex.splitTopLevel(it.substring(m.end, it.length - 1)).map(_.trim))
        case _ => scala.None
      }
    if (!items.forall(it => structCallRe.findFirstMatchIn(it).isDefined)) return inner
    val firstNames = argsOf(items.head) match {
      case Some(args) =>
        val ns = args.map { a =>
          val p = lastTopLevelAs(a)
          if (p < 0) "" else {
            val n = a.substring(p + 2).trim
            if (plainNameRe.findFirstIn(n).isDefined) n else ""
          }
        }
        if (ns.exists(_.isEmpty)) return inner
        ns
      case scala.None => return inner
    }
    val rest = items.tail.map { it =>
      argsOf(it) match {
        case Some(args) if args.length == firstNames.length &&
            args.forall(a => lastTopLevelAs(a) < 0) =>
          args.zip(firstNames).map { case (a, n) => s"$a AS $n" }
            .mkString("struct(", ", ", ")")
        case _ => it
      }
    }
    (items.head +: rest).mkString(", ")
  }

  private val arrayAccessRe =
    trigger(raw"(?is)\[\s*(OFFSET|ORDINAL|SAFE_OFFSET|SAFE_ORDINAL)\s*\(", "[")

  /** BigQuery array element access: `arr[OFFSET(i)]` (0-based, errors
    * out-of-bounds — matches Spark's ANSI bracket), `arr[ORDINAL(i)]`
    * (1-based), and the SAFE_ variants (NULL out-of-bounds →
    * try_element_at, which is 1-based). SAFE_ needs the base expression
    * and handles identifier-path bases; other shapes pass through.
    */
  private def rewriteArrayAccess(text: String): String =
    spliceOutside(arrayAccessRe, text) { (sql, m) =>
      val open = sql.indexOf('(', m.end - 1)
      val close = SqlLex.close(sql, open)
      val k = if (close < 0) sql.length else SqlLex.skipBlank(sql, close + 1)
      if (k >= sql.length || sql.charAt(k) != ']') scala.None
      else {
        val e = sql.substring(open + 1, close).trim
        m.group(1).toUpperCase match {
          case "OFFSET" => Some((m.start, k + 1, s"[($e)]"))
          case "ORDINAL" => Some((m.start, k + 1, s"[($e) - 1]"))
          case safe =>
            var b = m.start
            // the base may END with a balanced (…)/[…] group — a call
            // result, a rewritten array literal, or a nested access —
            // with an optional identifier prefix before it
            if (b > 0 && (sql.charAt(b - 1) == ')' || sql.charAt(b - 1) == ']')) {
              val closeCh = sql.charAt(b - 1)
              val openCh = if (closeCh == ')') '(' else '['
              var depth = 0
              var p = b - 1
              var stop = -1
              while (p >= 0 && stop < 0) {
                val ch = sql.charAt(p)
                if (ch == closeCh) depth += 1
                else if (ch == openCh) { depth -= 1; if (depth == 0) stop = p }
                p -= 1
              }
              if (stop >= 0) b = stop
            }
            while (b > 0 && { val ch = sql.charAt(b - 1)
              ch.isLetterOrDigit || ch == '_' || ch == '.' || ch == '`' }) b -= 1
            val base = sql.substring(b, m.start)
            val pos = if (safe == "SAFE_OFFSET") s"($e) + 1" else s"($e)"
            if (base.isEmpty) scala.None
            else Some((b, k + 1, s"try_element_at($base, $pos)"))
        }
      }
    }

  // ===== BigQuery function vocabulary beyond the corpus ==============
  //
  // A BigQuery user switching to this engine brings a working function
  // vocabulary (COUNTIF, SAFE_DIVIDE, TIMESTAMP_DIFF, FORMAT_DATE,
  // STRING_AGG, QUALIFY, FROM-UNNEST…) that Spark spells differently.
  // These rewrites are call-shape-aware (balanced parens, literal- and
  // comment-skipping, innermost-first), not bare keyword regexes, so
  // nested calls and Spark-native spellings pass through unharmed.

  /** BigQuery returns NULL from ARRAY_AGG/STRING_AGG over ZERO input
    * rows where Spark's collect_list/listagg give [] / '' — reachable
    * from a global aggregate over an empty relation (GROUP BY never
    * emits empty groups, so the guard is semantically inert everywhere
    * else) and from an empty WINDOW FRAME (e.g. ROWS BETWEEN 5
    * PRECEDING AND 1 PRECEDING on the first row). The OVER form (r12,
    * closes the second half of the r11 probe row) duplicates the
    * window clause onto a count(1) guard — Catalyst collapses
    * identical window specs into one Window operator, so the guard
    * adds no exchange; named windows ride `OVER w` the same way.
    */
  private val emptyInputNullAggs = Set("ARRAY_AGG", "STRING_AGG")

  /** The window `[w, end)` of an OVER clause with its calls rewritten:
    * the inside of a `( … )` specification, or a named-window reference
    * as it is.
    */
  private def captureOverClause(sql: String, w: Int, end: Int): String =
    if (sql.charAt(w) == '(') s"(${rewriteCalls(sql.substring(w + 1, end - 1))})"
    else sql.substring(w, end)

  /** Rewrite calls of mapped functions, innermost-first. A mapper
    * returning None keeps the original spelling (args still rewritten),
    * so ambiguous shapes (e.g. Spark-native `date_trunc('week', x)`)
    * fall through untouched.
    */
  private def rewriteCalls(sql: String): String =
    SqlLex.copyWalk(sql) { (i, out) =>
      val c = sql.charAt(i)
      if (!(c.isLetter || c == '_')) { out += c; i + 1 }
      else {
        var j = i
        while (j < sql.length && SqlLex.isWordChar(sql.charAt(j))) j += 1
        val name = sql.substring(i, j)
        var k = j
        while (k < sql.length && sql.charAt(k).isWhitespace) k += 1
        val fn = callRewrites.get(name.toUpperCase)
        val dotted = i > 0 && sql.charAt(i - 1) == '.'
        val close =
          if (fn.isDefined && !dotted && k < sql.length && sql.charAt(k) == '(') SqlLex.close(sql, k)
          else -1
        if (close < 0) { out ++= name; j }
        else {
          val inner = rewriteCalls(sql.substring(k + 1, close))
          val args = SqlLex.splitTopLevel(inner).map(_.trim)
          val rewritten = fn.get(args).getOrElse(s"$name($inner)")
          if (!emptyInputNullAggs.contains(name.toUpperCase)) { out ++= rewritten; close + 1 }
          else overWindow(sql, close + 1) match {
            case Some((w, after)) =>
              val win = captureOverClause(sql, w, after)
              out ++= s"(CASE WHEN count(1) OVER $win = 0 THEN NULL " +
                s"ELSE $rewritten OVER $win END)"
              after
            case scala.None =>
              out ++= s"(CASE WHEN count(1) = 0 THEN NULL ELSE $rewritten END)"
              close + 1
          }
        }
      }
    }

  private val strfMap = Map('Y' -> "yyyy", 'y' -> "yy", 'm' -> "MM",
    'd' -> "dd", 'e' -> "d", 'H' -> "HH", 'I' -> "hh", 'M' -> "mm",
    'S' -> "ss", 'F' -> "yyyy-MM-dd", 'j' -> "DDD", 'A' -> "EEEE",
    'a' -> "EEE", 'B' -> "MMMM", 'b' -> "MMM", 'h' -> "MMM", 'p' -> "a",
    'T' -> "HH:mm:ss", 'R' -> "HH:mm", 'Q' -> "q",
    // strftime %z = +0000 offset ↔ java 'Z'; %Z = zone NAME ↔ java 'z'
    'z' -> "Z", 'Z' -> "z", 'D' -> "MM/dd/yy")

  /** strftime → java.time pattern; None on an unsupported directive
    * (the call is then left unrewritten rather than silently wrong).
    * Literal runs containing pattern-reserved characters are
    * single-quoted so letters in them can't act as pattern characters;
    * plain punctuation stays unquoted.
    */
  private[engine] def javaPattern(f: String): Option[String] = {
    val sb = new StringBuilder
    val lit = new StringBuilder
    def flush(): Unit = if (lit.nonEmpty) {
      val s = lit.toString
      if (s.exists(c => c.isLetter || "'#{}[]".contains(c)))
        sb ++= "'" + s.replace("'", "''") + "'"
      else sb ++= s
      lit.clear()
    }
    var i = 0
    while (i < f.length) {
      val c = f.charAt(i)
      if (c == '%' && i + 1 < f.length) {
        val d = f.charAt(i + 1)
        if (d == '%') lit += '%'
        else if (d == 'n') lit += '\n'
        else if (d == 't') lit += '\t'
        else strfMap.get(d) match {
          case Some(p) => flush(); sb ++= p
          case scala.None => return scala.None
        }
        i += 2
      } else { lit += c; i += 1 }
    }
    flush()
    Some(sb.toString)
  }

  private val intervalArg = raw"(?is)^INTERVAL\s+(.+?)\s+([A-Za-z]+)$$".r
  private val dateUnits = Set("DAY", "WEEK", "ISOWEEK", "MONTH", "QUARTER",
    "YEAR", "ISOYEAR")
  private val timeUnits = Set("MICROSECOND", "MILLISECOND", "SECOND",
    "MINUTE", "HOUR") ++ dateUnits

  /** Regex-quote a literal delimiter for use inside a Spark SQL string
    * literal (backslashes doubled for the SQL-level escape).
    */
  private def regexQuoteSql(d: String): String =
    d.flatMap {
      case c if "\\.[]{}()*+?^$|".indexOf(c.toInt) >= 0 => s"\\\\$c"
      case '\'' => "\\'"
      case c => c.toString
    }

  /** Count capture groups in a regex literal's SOURCE text (escape- and
    * char-class-aware) — decides BigQuery REGEXP_EXTRACT's group-vs-
    * whole-match behavior statically.
    */
  private def captureGroups(p: String): Int = {
    var i = 0; var n = 0; var inClass = false
    while (i < p.length) {
      p.charAt(i) match {
        case '\\' => i += 1
        case '[' => inClass = true
        case ']' => inClass = false
        case '(' if !inClass && (i + 1 >= p.length || p.charAt(i + 1) != '?') => n += 1
        case _ =>
      }
      i += 1
    }
    n
  }

  /** (java pattern, value expr) of a BigQuery (format, value) pair. */
  private def fmtPattern(a: Seq[String]): Option[(String, String)] =
    for {
      f <- if (a.length == 2) a.headOption.flatMap(strLit) else scala.None
      p <- javaPattern(f)
    } yield (p.replace("'", "''"), a(1))

  private def normalizeCall(a: Seq[String], casefold: Boolean): Option[String] = {
    if (a.isEmpty || a.length > 2) return scala.None
    val form = if (a.length == 2) a(1).trim.toUpperCase else "NFC"
    if (!Set("NFC", "NFKC", "NFD", "NFKD").contains(form)) return scala.None
    val n = s"graft_normalize(${a(0)}, '$form')"
    Some(if (casefold) s"lower($n)" else n)
  }

  /** Literal content of a quoted SQL string argument, normalized to
    * single-quote form (BigQuery strings may be double-quoted; the
    * handlers re-emit content inside single quotes, so a double-quoted
    * source has its inner apostrophes escaped and its escaped double
    * quotes unescaped).
    */
  private def strLit(a: String): Option[String] =
    if (a.length >= 2 && a.head == '\'' && a.last == '\'')
      Some(a.substring(1, a.length - 1))
    else if (a.length >= 2 && a.head == '"' && a.last == '"')
      // unescape the double-quoted source's backslash escapes FIRST —
      // "don\'t" must become don\'t (one backslash), not don\\'t where
      // the doubled backslash lets the quote terminate the literal
      Some(a.substring(1, a.length - 1)
        .replace("\\\"", "\"").replace("\\'", "'").replace("'", "\\'"))
    else scala.None

  private def isBareUnit(a: String, allowed: Set[String]): Boolean =
    allowed.contains(a.trim.toUpperCase)

  /** Offset of a top-level `ORDER BY` in `s`, or -1. */
  private def topLevelOrderBy(s: String): Int = {
    val ts = SqlLex.tokens(s)
    var depth = 0
    var idx = 0
    while (idx < ts.length) {
      ts(idx)._1 match {
        case "(" => depth += 1
        case ")" => depth -= 1
        case "ORDER" if depth == 0 && idx + 1 < ts.length &&
          ts(idx + 1)._1 == "BY" => return ts(idx)._2
        case _ =>
      }
      idx += 1
    }
    -1
  }

  // argument shapes of the aggregate rewrites below: ORDER BY tails (one
  // key, an optional direction, a LIMIT that STRING_AGG requires and
  // ARRAY_AGG may take), DISTINCT, IGNORE|RESPECT NULLS and HAVING MAX|MIN
  private val keyDirLimitRe = raw"(?is)^(.*?)(?:\s+(ASC|DESC))?\s+LIMIT\s+(\d+)$$".r
  private val keyDirOptLimitRe = raw"(?is)^(.*?)(?:\s+(ASC|DESC))?(?:\s+LIMIT\s+(\d+))?$$".r
  private val keyDirRe = raw"(?is)^(.*?)(?:\s+(ASC|DESC))?$$".r
  private val distinctRe = raw"(?is)^DISTINCT\s+(.+)$$".r
  private val ignoreNullsRe = raw"(?is)^(.*?)\s+(IGNORE|RESPECT)\s+NULLS\s*$$".r
  private val havingRe = raw"(?is)^(.+?)\s+HAVING\s+(MAX|MIN)\s+(.+)$$".r

  /** STRING_AGG(x[, sep][ ORDER BY …]) → listagg WITHIN GROUP when
    * ordered, string_agg otherwise (both BigQuery-compatible:
    * unordered STRING_AGG is nondeterministic in BigQuery too).
    */
  private def stringAgg(a: Seq[String]): Option[String] = {
    if (a.isEmpty || a.length > 2) return scala.None
    val obPos = topLevelOrderBy(a.last)
    val (lastExpr, orderBy) =
      if (obPos >= 0) (a.last.substring(0, obPos).trim,
        Some(a.last.substring(obPos).replaceFirst(raw"(?is)^ORDER\s+BY\s+", "").trim))
      else (a.last, scala.None)
    val args = a.init :+ lastExpr
    val (v, sep) = args match {
      case Seq(x) => (x, "','")
      case Seq(x, s2) => (x, s2)
      case _ => return scala.None
    }
    orderBy match {
      case Some(ob) =>
        // `ORDER BY key [ASC|DESC] LIMIT n` — listagg has no LIMIT, so
        // the limited form routes through the ordered-collect + slice
        // shape ARRAY_AGG uses (single sort key, like arrayAgg)
        ob match {
          case keyDirLimitRe(key, dir, lim) if key.trim.nonEmpty =>
            val base = s"transform(array_sort(collect_list(" +
              s"struct(${key.trim} AS _o, $v AS _v))), s -> s._v)"
            val ordered =
              if (dir != null && dir.equalsIgnoreCase("DESC")) s"reverse($base)" else base
            Some(s"array_join(slice($ordered, 1, $lim), $sep)")
          case _ => Some(s"listagg($v, $sep) WITHIN GROUP (ORDER BY $ob)")
        }
      case scala.None => Some(s"string_agg($v, $sep)")
    }
  }

  /** ARRAY_AGG(x ORDER BY k) — Spark's array_agg has no ORDER BY, so
    * the ordered form becomes a sort over collected (key, value)
    * structs. Only the simple shape (one ORDER BY key, no
    * DISTINCT/LIMIT/IGNORE NULLS) rewrites; everything else passes
    * through to Spark's native array_agg.
    */
  /** `fn(expr IGNORE|RESPECT NULLS)` (BigQuery keeps the modifier
    * inside the parens) → Spark's boolean-argument form.
    */
  private def ignoreNullsArg(fn: String): Seq[String] => Option[String] = { a =>
    if (a.length != 1) scala.None
    else ignoreNullsRe.findFirstMatchIn(a(0))
      .map(m => s"$fn(${m.group(1)}, ${m.group(2).equalsIgnoreCase("IGNORE")})")
  }

  private def arrayAgg(a0: Seq[String]): Option[String] = {
    if (a0.length != 1) return scala.None
    // `IGNORE NULLS` (suffix of the value part, per BQ grammar) is
    // Spark collect_list/array_agg's default behavior — strip it
    val obPos0 = topLevelOrderBy(a0.head)
    val (v0, tail0) =
      if (obPos0 < 0) (a0.head, "") else a0.head.splitAt(obPos0)
    val vStripped = v0.replaceFirst(raw"(?is)\s+IGNORE\s+NULLS\s*$$", "")
    val ignoreStripped = vStripped != v0
    val a = Seq(vStripped + (if (tail0.isEmpty) "" else " " + tail0))
    val obPos = topLevelOrderBy(a.head)
    if (obPos < 0)
      return if (ignoreStripped) Some(s"array_agg(${a.head.trim})") else scala.None
    val v = a.head.substring(0, obPos).trim
    val ob0 = a.head.substring(obPos).replaceFirst(raw"(?is)^ORDER\s+BY\s+", "").trim
    if (v.isEmpty || ob0.isEmpty) return scala.None
    // DISTINCT + ORDER BY: only the order-by-the-value-itself shape has
    // a set-based rewrite (the struct trick would defeat dedup); other
    // keys stay loud-unresolved
    distinctRe.findFirstMatchIn(v).foreach { dm =>
      val dv = dm.group(1).trim
      return ob0 match {
        case keyDirRe(key, dir) if key.trim == dv =>
          val base = s"array_sort(collect_set($dv))"
          Some(if (dir != null && dir.equalsIgnoreCase("DESC")) s"reverse($base)" else base)
        case _ => scala.None
      }
    }
    // single key with optional ASC|DESC and LIMIT n (multi-key forms
    // were comma-split before reaching here and stay loud-unresolved)
    ob0 match {
      case keyDirOptLimitRe(key, dir, lim) if key.trim.nonEmpty =>
        val base0 =
          s"transform(array_sort(collect_list(struct(${key.trim} AS _o, $v AS _v))), s -> s._v)"
        // collect_list drops null INPUTS but the struct wrapper is
        // non-null even when _v is — an IGNORE NULLS must drop those
        // elements explicitly or the modifier is silently ignored
        val base = if (ignoreStripped)
          s"filter($base0, __e -> __e IS NOT NULL)" else base0
        val ordered =
          if (dir != null && dir.equalsIgnoreCase("DESC")) s"reverse($base)" else base
        Some(if (lim != null) s"slice($ordered, 1, $lim)" else ordered)
      case _ => scala.None
    }
  }

  /** ANY_VALUE(x HAVING MAX y) → max_by(x, y) (and MIN → min_by);
    * plain ANY_VALUE passes through to Spark's own.
    */
  private def anyValueHaving(a: Seq[String]): Option[String] = {
    if (a.length != 1) return scala.None
    a.head match {
      case havingRe(v, kind, k) =>
        val fn = if (kind.toUpperCase == "MAX") "max_by" else "min_by"
        Some(s"$fn(${v.trim}, ${k.trim})")
      case _ => scala.None
    }
  }

  /** BigQuery DATE_DIFF counts unit-BOUNDARY crossings (not elapsed
    * full units): DATE_DIFF('2024-02-01','2024-01-31', MONTH) = 1.
    */
  private def dateDiff(a: Seq[String]): Option[String] = {
    if (a.length != 3) return scala.None
    val (x, y) = (a(0), a(1))
    // WEEK(<WEEKDAY>): boundary count with weeks starting that day
    a(2).trim.toUpperCase.replaceAll("\\s", "") match {
      case weekAnyDay(day) =>
        val k = weekdayIndex(day.toUpperCase)
        return Some(s"(datediff(date_sub($x, (dayofweek($x) - $k + 7) % 7), " +
          s"date_sub($y, (dayofweek($y) - $k + 7) % 7)) div 7)")
      case _ =>
    }
    if (!isBareUnit(a(2), dateUnits)) return scala.None
    a(2).trim.toUpperCase match {
      case "DAY" => Some(s"datediff($x, $y)")
      case "WEEK" => Some(
        s"(datediff(date_sub($x, dayofweek($x) - 1), date_sub($y, dayofweek($y) - 1)) div 7)")
      case "ISOWEEK" => Some(
        s"(datediff(date_sub($x, (dayofweek($x) + 5) % 7), date_sub($y, (dayofweek($y) + 5) % 7)) div 7)")
      case "MONTH" => Some(s"((year($x) * 12 + month($x)) - (year($y) * 12 + month($y)))")
      case "QUARTER" => Some(s"((year($x) * 4 + quarter($x)) - (year($y) * 4 + quarter($y)))")
      case "YEAR" => Some(s"(year($x) - year($y))")
      case "ISOYEAR" => Some(s"(extract(yearofweek from $x) - extract(yearofweek from $y))")
      case _ => scala.None
    }
  }

  /** DATE_ADD/DATE_SUB(d, INTERVAL n unit) — BigQuery date arithmetic.
    * `sign` = 1 for ADD, -1 for SUB.
    */
  private def dateAddSub(sign: Int)(a: Seq[String]): Option[String] = {
    if (a.length != 2) return scala.None
    a(1) match {
      case intervalArg(n, unit) =>
        val s = if (sign < 0) s"-($n)" else s"($n)"
        // date_add's count parameter is INT-typed; BigQuery arithmetic
        // is INT64, so a non-literal count arrives as BIGINT — cast
        val si = if (n.matches(raw"\d+")) s else s"cast($s as int)"
        unit.toUpperCase match {
          case "DAY" => Some(s"date_add(${a(0)}, $si)")
          case "WEEK" => Some(s"date_add(${a(0)}, 7 * $si)")
          case "MONTH" => Some(s"add_months(${a(0)}, $si)")
          case "QUARTER" => Some(s"add_months(${a(0)}, 3 * $si)")
          case "YEAR" => Some(s"add_months(${a(0)}, 12 * $si)")
          case _ => scala.None
        }
      case _ => scala.None
    }
  }

  private def tsAddSub(sign: Int)(a: Seq[String]): Option[String] = {
    if (a.length != 2) return scala.None
    a(1) match {
      case intervalArg(n, unit) if timeUnits.contains(unit.toUpperCase) =>
        val s = if (sign < 0) s"-($n)" else s"($n)"
        Some(s"timestampadd(${unit.toUpperCase}, $s, ${a(0)})")
      case _ => scala.None
    }
  }

  // TIME ('HH:mm:ss' string) anchored on the epoch date for timestamp
  // arithmetic; sub-day units are the only legal TIME parts
  private val subDayUnits =
    Set("MICROSECOND", "MILLISECOND", "SECOND", "MINUTE", "HOUR")
  private def timeAnchor(t: String): String =
    s"cast(concat('1970-01-01 ', $t) as timestamp_ntz)"
  private def timeAddSub(sign: Int)(a: Seq[String]): Option[String] = {
    if (a.length != 2) return scala.None
    a(1) match {
      case intervalArg(n, unit) if subDayUnits.contains(unit.toUpperCase) =>
        val s = if (sign < 0) s"-($n)" else s"($n)"
        Some(s"date_format(timestampadd(${unit.toUpperCase}, $s, " +
          s"${timeAnchor(a(0))}), 'HH:mm:ss')")
      case _ => scala.None
    }
  }

  // BigQuery INITCAP's documented default delimiters: whitespace plus
  // the punctuation set below (SQL-literal escaped: \t \n \\ active)
  private val initcapDefaultDelims =
    "' \\t\\n\\r[](){}/|\\\\<>!?@\"^#$&~_,.:;*%+-'"

  /** A JSON value's encoding as text (null-preserving): to_json wraps
    * the value in a one-field struct, the fixed `{"v":` frame strips
    * off arithmetically.
    */
  private def jsonEncode(e: String): String = {
    val j = s"to_json(named_struct('v', $e), map('ignoreNullFields', 'false'))"
    s"substr($j, 6, length($j) - 6)"
  }

  private val castFmtRe =
    raw"(?is)^(.*?)\s+AS\s+([\w]+(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)\s+FORMAT\s+('(?:[^'\\]|\\.|'')*')\s*$$".r
  // BigQuery cast-format date elements → java.time (longest first);
  // matched-case of the WORD tokens (MONTH/DAY/…) controls output case
  private val castFmtTokens = Seq(
    "YYYY" -> "yyyy", "YY" -> "yy", "MONTH" -> "MMMM", "MON" -> "MMM",
    "MM" -> "MM", "DAY" -> "EEEE", "DY" -> "EEE", "DD" -> "dd",
    "HH24" -> "HH", "HH12" -> "hh", "HH" -> "hh", "MI" -> "mm",
    "SS" -> "ss", "AM" -> "a", "PM" -> "a")
  private val castFmtWordTokens = Set("MONTH", "MON", "DAY", "DY")

  private val castTailTypeRe = raw"(?is)^\s*(TIME|BYTES)\b".r

  /** Cast-target types Spark lacks, mapped INSIDE a parsed CAST /
    * SAFE_CAST argument: `expr AS TIME` → STRING (TIME values are
    * 'HH:mm:ss' strings in this engine), `expr AS BYTES` → BINARY.
    * The cast type is the LAST top-level AS in the argument (an AS
    * inside a subquery or nested call sits behind parens; nested CASTs
    * were already rewritten because rewriteCalls recurses
    * innermost-first), so a select-list alias is never renamed.
    */
  /** Position of the last top-level (paren-depth-0, unquoted) `AS`
    * keyword in a CAST argument, or -1 — the split between the source
    * expression and the target type.
    */
  private def lastTopLevelAs(arg: String): Int = {
    var depth = 0
    var last = -1
    SqlLex.tokens(arg).foreach {
      case ("(", _) => depth += 1
      case (")", _) => depth -= 1
      case ("AS", pos) if depth == 0 => last = pos
      case _ =>
    }
    last
  }

  /** CAST/SAFE_CAST `… AS BIGINT` → graft_int64[_safe]: BigQuery rounds
    * FLOAT64/NUMERIC→INT64 half AWAY FROM ZERO and errors (SAFE_CAST:
    * NULL) on bad input; Spark's legacy cast truncates and nulls —
    * both silently wrong data (see functions/NumCasts.scala).
    */
  private def int64Cast(a: Seq[String], safe: Boolean): Option[String] = {
    if (a.length != 1) return scala.None
    val last = lastTopLevelAs(a(0))
    if (last < 0) return scala.None
    val tail = a(0).substring(last + 2).trim
    if (!tail.equalsIgnoreCase("BIGINT")) return scala.None
    val fn = if (safe) "graft_int64_safe" else "graft_int64"
    Some(s"$fn(${a(0).substring(0, last).trim})")
  }

  /** CAST(x AS STRING) → the type-dispatching kernel (BqCastString):
    * a BINARY child must strictly UTF-8 decode (BigQuery errors on
    * invalid bytes; Spark's cast substitutes U+FFFD silently — r11
    * probe); every other type keeps the codegen'd Cast via the
    * RuntimeReplaceable replacement. Runs AFTER intervalStrCast, which
    * claims interval-typed sources textually.
    */
  private def stringCast(a: Seq[String], safe: Boolean): Option[String] = {
    if (a.length != 1) return scala.None
    val last = lastTopLevelAs(a(0))
    if (last < 0) return scala.None
    if (!a(0).substring(last + 2).trim.equalsIgnoreCase("STRING")) return scala.None
    val inner = s"graft_cast_string(${a(0).substring(0, last).trim})"
    Some(if (safe) s"graft_try($inner)" else inner)
  }

  /** CAST(<interval expr> AS STRING) → BigQuery's canonical
    * `Y-M D H:M:S` rendering (Spark renders CalendarInterval as
    * `1 years 2 months …`, and cannot cast it to STRING at all in some
    * positions). Textual type inference: the source is an interval when
    * it is an INTERVAL literal, a make_interval call (what mixed-range
    * literals and expression intervals lower to), or a justify kernel —
    * the only interval-producing forms the dialect emits.
    */
  private def intervalStrCast(a: Seq[String]): Option[String] = {
    if (a.length != 1) return scala.None
    val last = lastTopLevelAs(a(0))
    if (last < 0) return scala.None
    if (!a(0).substring(last + 2).trim.equalsIgnoreCase("STRING")) return scala.None
    val src = a(0).substring(0, last).trim
    val isInterval = src.matches(raw"(?is)^INTERVAL\b.*") ||
      src.matches(raw"(?is)^(make_interval|graft_justify_\w+)\(.*")
    if (isInterval) Some(s"graft_interval_str($src)") else scala.None
  }

  private def mapCastTailType(arg: String): String = {
    val last = lastTopLevelAs(arg)
    if (last < 0) return arg
    val after = arg.substring(last + 2)
    castTailTypeRe.findFirstMatchIn(after) match {
      case Some(m) =>
        val repl = if (m.group(1).equalsIgnoreCase("TIME")) "STRING" else "BINARY"
        arg.substring(0, last + 2) + after.substring(0, m.start(1)) +
          repl + after.substring(m.end(1))
      case scala.None => arg
    }
  }

  /** `CAST(x AS <type> FORMAT '<fmt>')`: numeric formats (digits-only
    * elements) ride Spark's to_char; date/time formats translate the
    * BigQuery element language to java.time, with all-upper/all-lower
    * word elements wrapping the result in upper()/lower() (BigQuery's
    * element-case rule). Unknown elements return None → the untouched
    * CAST fails loud in Spark's parser rather than rendering wrong.
    */
  private def castWithFormat(a: Seq[String], safe: Boolean): Option[String] = {
    if (a.length != 1) return scala.None
    a(0) match {
      case castFmtRe(e, tpe0, fmtLit) =>
        val f = fmtLit.substring(1, fmtLit.length - 1)
        val tpe = tpe0.trim.toUpperCase
        if (f.matches("[09.,$%Ss]+")) {
          // numeric rendering/parsing — Spark shares the element set
          // (rendering can't fail, so SAFE_CAST only guards the parse)
          if (tpe == "STRING") Some(s"to_char($e, '$f')")
          else if (safe) Some(s"cast(try_to_number($e, '$f') as $tpe0)")
          else Some(s"cast(to_number($e, '$f') as $tpe0)")
        } else {
          // date/time element translation
          val out = new StringBuilder
          var i = 0
          var wrap = ""
          while (i < f.length) {
            val rest = f.substring(i)
            castFmtTokens.find(t => rest.toUpperCase.startsWith(t._1)) match {
              case Some((tok, java)) =>
                val matched = rest.substring(0, tok.length)
                if (castFmtWordTokens(tok)) {
                  if (matched == matched.toUpperCase) wrap = "upper"
                  else if (matched == matched.toLowerCase) wrap = "lower"
                }
                out ++= java
                i += tok.length
              case scala.None =>
                val c = f.charAt(i)
                if (c.isLetter) return scala.None // unknown element: loud
                out += c
                i += 1
            }
          }
          val pat = s"'${out.result()}'"
          val core = tpe match {
            case "STRING" => Some(s"date_format($e, $pat)")
            case "DATE" =>
              if (safe) Some(s"cast(try_to_timestamp($e, $pat) as date)")
              else Some(s"to_date($e, $pat)")
            case "TIMESTAMP" | "TIMESTAMP_NTZ" | "DATETIME" =>
              if (safe) Some(s"try_to_timestamp($e, $pat)")
              else Some(s"to_timestamp($e, $pat)")
            case _ => scala.None
          }
          core.map(c => if (wrap.nonEmpty && tpe == "STRING") s"$wrap($c)" else c)
        }
      case _ => scala.None
    }
  }

  /** LAX numeric coercion source: JSON booleans → 1/0, quoted strings
    * unwrap, everything else is the canonical text itself.
    */
  private def laxNumText(j: String): String =
    s"CASE WHEN $j = 'true' THEN '1' WHEN $j = 'false' THEN '0'" +
      s""" WHEN left($j, 1) = '"' THEN get_json_object($j, '$$')""" +
      s" ELSE $j END"

  /** BigQuery DATE_TRUNC(d, WEEK) is Sunday-start; Spark's 'week' is
    * Monday-start, so WEEK gets explicit Sunday arithmetic and
    * WEEK(MONDAY)/ISOWEEK map to Spark's trunc. Spark-native
    * `date_trunc('unit', x)` (literal first arg) passes through.
    */
  private def dateTrunc(a: Seq[String]): Option[String] = {
    if (a.length != 2 || strLit(a(0)).isDefined) return scala.None
    val u = a(1).trim.toUpperCase.replaceAll("\\s", "")
    u match {
      case "WEEK" | "WEEK(SUNDAY)" =>
        Some(s"date_sub(to_date(${a(0)}), dayofweek(to_date(${a(0)})) - 1)")
      case "WEEK(MONDAY)" | "ISOWEEK" =>
        Some(s"cast(date_trunc('WEEK', ${a(0)}) as date)")
      case weekAnyDay(day) =>
        // WEEK(<WEEKDAY>): step back to the most recent such weekday
        val k = weekdayIndex(day.toUpperCase)
        Some(s"date_sub(to_date(${a(0)}), (dayofweek(to_date(${a(0)})) - $k + 7) % 7)")
      case _ if dateUnits.contains(u) =>
        Some(s"cast(date_trunc('$u', ${a(0)}) as date)")
      case _ => scala.None
    }
  }

  private val weekAnyDay = raw"(?i)^WEEK\((SUNDAY|MONDAY|TUESDAY|WEDNESDAY|THURSDAY|FRIDAY|SATURDAY)\)$$".r
  private val weekdayIndex = Map("SUNDAY" -> 1, "MONDAY" -> 2, "TUESDAY" -> 3,
    "WEDNESDAY" -> 4, "THURSDAY" -> 5, "FRIDAY" -> 6, "SATURDAY" -> 7)

  /** TIMESTAMP_TRUNC / DATETIME_TRUNC: BigQuery's WEEK is SUNDAY-start
    * (Spark's 'week' is Monday), WEEK(<WEEKDAY>) starts on that day,
    * and the 3-arg form truncates in the given TIMEZONE (convert in,
    * trunc, convert back).
    */
  private def tsTrunc(a: Seq[String]): Option[String] = {
    if (a.length < 2 || a.length > 3) return scala.None
    def truncOf(ts: String): Option[String] =
      a(1).trim.toUpperCase.replaceAll("\\s", "") match {
        case "WEEK" => Some(s"timestampadd(DAY, -((dayofweek($ts) - 1 + 7) % 7), " +
          s"date_trunc('DAY', $ts))") // Sunday-start
        case weekAnyDay(day) =>
          val k = weekdayIndex(day.toUpperCase)
          Some(s"timestampadd(DAY, -((dayofweek($ts) - $k + 7) % 7), " +
            s"date_trunc('DAY', $ts))")
        case "ISOWEEK" => Some(s"date_trunc('WEEK', $ts)") // ISO = Monday
        case "ISOYEAR" => scala.None // no Spark unit: stays loud, never NULL
        case _ if isBareUnit(a(1), timeUnits) =>
          Some(s"date_trunc('${a(1).trim.toUpperCase}', $ts)")
        case _ => scala.None
      }
    if (a.length == 2) truncOf(a(0))
    else truncOf(s"from_utc_timestamp(${a(0)}, ${a(2)})")
      .map(t => s"to_utc_timestamp($t, ${a(2)})")
  }

  private def renameTo(n: String): Seq[String] => Option[String] =
    a => Some(s"$n(${a.mkString(", ")})")

  /** JSON array extraction through variant: pull the array at `path`,
    * cast to array<variant>, map each element with `elem` (over `v`).
    * Default path is the document root.
    */
  private def jsonArray(elem: String): Seq[String] => Option[String] = a => {
    val path =
      if (a.length == 2) Some(a(1))
      else if (a.length == 1) Some("'$'")
      else scala.None
    path.map(p => s"transform(cast(variant_get(parse_json(${a(0)}), $p) " +
      s"as array<variant>), v -> $elem)")
  }

  /** LAX boolean coercion over a canonical-JSON text `j`: JSON
    * true/false and quoted 'true'/'false' (case-insensitive) convert;
    * everything else is NULL.
    */
  private def laxBoolText(j: String): String =
    s"CASE WHEN $j IN ('true', 'false') THEN $j = 'true'" +
      s""" WHEN left($j, 1) = '"' THEN""" +
      s" CASE lower(get_json_object($j, '$$'))" +
      s" WHEN 'true' THEN true WHEN 'false' THEN false END" +
      s" ELSE cast(NULL AS boolean) END"

  /** BigQuery null-propagating variadic (LEAST/GREATEST): NULL if any
    * argument is NULL, else the Spark function.
    */
  private def nullPropagating(n: String): Seq[String] => Option[String] =
    a => if (a.length < 2) scala.None
    else Some(s"(CASE WHEN ${a.map(x => s"($x) IS NULL").mkString(" OR ")} " +
      s"THEN NULL ELSE $n(${a.mkString(", ")}) END)")

  /** Uniform JSON output canonicalization (the engine's PARSE_JSON
    * round-trip: sorted keys, minified) for the mutator family.
    */
  private def canonicalJson(e: String): String = s"to_json(parse_json($e))"

  // `INTERVAL <expr> <unit>` where <expr> is parenthesized or a bare
  // identifier — BigQuery allows any INT64 expression there; Spark's
  // INTERVAL syntax takes only literals (numeric-literal forms stay
  // native). Runs AFTER rewriteCalls, so the *_ADD/_SUB handlers have
  // already consumed their own INTERVAL arguments.
  private val intervalExprRe =
    trigger(raw"(?i)\bINTERVAL\s+(\((?:[^()']|'[^']*'|\([^()]*\))*\)|[A-Za-z_]\w*)" +
      raw"\s+(YEAR|QUARTER|MONTH|WEEK|DAY|HOUR|MINUTE|SECOND|MILLISECOND|MICROSECOND)\b",
      "INTERVAL")

  private def rewriteIntervalExpr(sql: String): String =
    replaceOutside(intervalExprRe, sql) { m =>
      val e = m.group(1)
      val slots = Array("0", "0", "0", "0", "0", "0", "0")
      m.group(2).toUpperCase match {
        case "YEAR" => slots(0) = e
        case "QUARTER" => slots(1) = s"(($e) * 3)"
        case "MONTH" => slots(1) = e
        case "WEEK" => slots(2) = e
        case "DAY" => slots(3) = e
        case "HOUR" => slots(4) = e
        case "MINUTE" => slots(5) = e
        case "SECOND" => slots(6) = e
        case "MILLISECOND" => slots(6) = s"(($e) / 1000.0)"
        case "MICROSECOND" => slots(6) = s"(($e) / 1000000.0)"
      }
      s"make_interval(${slots.mkString(", ")})"
    }

  private val eachElementRe = raw"(?is)^\s*(?:insert|append)_each_element\s*=>\s*(.+)$$".r

  /** JSON_ARRAY_INSERT / JSON_ARRAY_APPEND: (json, path, value) pairs
    * chain; the optional `insert_each_element`/`append_each_element`
    * named argument becomes the kernel's 4th child (BigQuery default
    * true: an array value spreads element-by-element).
    */
  private def jsonArrayMutator(fnName: String): Seq[String] => Option[String] = { a =>
    val (named, pos) = a.partition(s => eachElementRe.findFirstIn(s).isDefined)
    val each = named.headOption.collect { case eachElementRe(v) => v }.getOrElse("true")
    if (named.length > 1 || pos.length < 3 || pos.length % 2 == 0 ||
        pos.exists(_.contains("=>"))) scala.None
    else Some(canonicalJson(pos.tail.grouped(2).foldLeft(pos.head) {
      case (acc, Seq(p, v)) => s"$fnName($acc, $p, $v, $each)"
      case (acc, _) => acc
    }))
  }

  /** baseRewrites plus the GRAFT_SAFE_WRAP_ aliases: SAFE.<fn> over a
    * throwing lowering (safeWrapFns) re-runs the underlying handler and
    * wraps its output in graft_try — TryEval returns NULL on any
    * eval-time exception, which IS BigQuery's SAFE. contract.
    */
  // BigQuery's documented KLL_QUANTILES default precision
  private val KllDefaultPrecision = 1000

  // the bucket widths TIMESTAMP/DATETIME_BUCKET and DATE_BUCKET accept
  private val subWeekIntervalRe = raw"(?is)^\s*INTERVAL\s+(\d+)\s+(SECOND|MINUTE|HOUR|DAY)\s*$$".r
  private val dayWeekIntervalRe = raw"(?is)^\s*INTERVAL\s+(\d+)\s+(DAY|WEEK)\s*$$".r

  // the EXTRACT parts whose Spark spelling differs
  private val extractWeek = raw"(?is)^WEEK\s+FROM\s+(.+)$$".r
  private val extractWeekDay = raw"(?is)^WEEK\s*\(\s*(\w+)\s*\)\s+FROM\s+(.+)$$".r
  private val extractIsoWeek = raw"(?is)^ISOWEEK\s+FROM\s+(.+)$$".r
  private val extractDate = raw"(?is)^DATE\s+FROM\s+(.+)$$".r
  private val extractDatetime = raw"(?is)^DATETIME\s+FROM\s+(.+)$$".r
  private val extractTime = raw"(?is)^TIME\s+FROM\s+(.+)$$".r
  private val extractDayOfYear = raw"(?is)^DAYOFYEAR\s+FROM\s+(.+)$$".r

  // the static patterns of the handlers below
  private val fmtSpecRe = raw"%(?:[-+ #0,']*\d*(?:\.\d+)?([a-zA-Z])|%)".r
  private val fmtGroupRe = raw"%([-+ #0]*)(?:\\'|''|')".r
  private val wktLineRe = raw"(?i)^\s*LINESTRING\s*\((.*)\)\s*$$".r
  private val wktPolyRe = raw"(?is)^\s*POLYGON\s*\((.*)\)\s*$$".r
  private val featAsRe = raw"(?is)^(.*?)\s+AS\s+([A-Za-z_][A-Za-z0-9_]*)$$".r
  private val featBareRe = raw"^(?:[A-Za-z_][A-Za-z0-9_]*\.)*([A-Za-z_][A-Za-z0-9_]*)$$".r
  private val selectHeadRe = raw"(?is)^\s*SELECT\b".r
  private val stripNullsArgRe = raw"(?is)^\s*(include_arrays|remove_empty)\s*=>\s*(.+)$$".r
  private val jsonModeArgRe = raw"(?is)^\s*mode\s*=>\s*(.+)$$".r
  private val intervalArgRe = raw"(?is)^\s*(year|month|day|hour|minute|second)\s*=>\s*(.+)$$".r

  private lazy val callRewrites: Map[String, Seq[String] => Option[String]] =
    baseRewrites ++ safeWrapFns.map { n =>
      s"GRAFT_SAFE_WRAP_$n" -> ((a: Seq[String]) =>
        Some(s"graft_try(${baseRewrites(n)(a).getOrElse(s"$n(${a.mkString(", ")})")})"))
    }

  private lazy val baseRewrites: Map[String, Seq[String] => Option[String]] =
    Map[String, Seq[String] => Option[String]](
    "COUNTIF" -> renameTo("count_if"),
    "LOGICAL_AND" -> renameTo("bool_and"),
    "LOGICAL_OR" -> renameTo("bool_or"),
    "REGEXP_CONTAINS" -> renameTo("regexp_like"),
    "SAFE_CAST" -> { a0 =>
      val a = a0.map(mapCastTailType)
      castWithFormat(a, safe = true)
        .orElse(int64Cast(a, safe = true))
        .orElse(intervalStrCast(a))
        .orElse(stringCast(a, safe = true))
        .orElse(Some(s"try_cast(${a.mkString(", ")})"))
    },
    "CAST" -> { a0 =>
      val a = a0.map(mapCastTailType)
      castWithFormat(a, safe = false)
        .orElse(int64Cast(a, safe = false))
        .orElse(intervalStrCast(a))
        .orElse(stringCast(a, safe = false))
        .orElse(
          // plain CAST passes through unless the tail type was remapped
          if (a == a0) scala.None else Some(s"CAST(${a.mkString(", ")})"))
    },
    // BigQuery L/R/TRIM(value, set) vs Spark's SWAPPED 2-arg form
    // ltrim(trimStr, str) — passing through would silently trim the
    // wrong operand (probe: LTRIM('xxhixx', 'x') returned '').
    "LTRIM" -> { a =>
      if (a.length == 2) Some(s"ltrim(${a(1)}, ${a(0)})") else scala.None },
    "RTRIM" -> { a =>
      if (a.length == 2) Some(s"rtrim(${a(1)}, ${a(0)})") else scala.None },
    "TRIM" -> { a =>
      if (a.length == 2) Some(s"trim(${a(1)}, ${a(0)})") else scala.None },
    // reciprocal-hyperbolic trio Spark lacks (BigQuery math pack)
    "COTH" -> { a =>
      if (a.length == 1) Some(s"(cast(1 as double) / tanh(${a(0)}))") else scala.None },
    "CSCH" -> { a =>
      if (a.length == 1) Some(s"(cast(1 as double) / sinh(${a(0)}))") else scala.None },
    "SECH" -> { a =>
      if (a.length == 1) Some(s"(cast(1 as double) / cosh(${a(0)}))") else scala.None },
    "TO_BASE32" -> renameTo("graft_to_base32"),
    "FROM_BASE32" -> renameTo("graft_from_base32"),
    // Postgres-lineage interval normalization (functions/IntervalKernels)
    "JUSTIFY_DAYS" -> renameTo("graft_justify_days"),
    "JUSTIFY_HOURS" -> renameTo("graft_justify_hours"),
    "JUSTIFY_INTERVAL" -> renameTo("graft_justify_interval"),
    // --- RANGE<T> family: struct<range_start, range_end>, half-open,
    // NULL bound = unbounded (see functions/RangeKernels.scala) -------
    "RANGE" -> { a =>
      // two bare integer literals = Spark's range() TVF (BigQuery's
      // RANGE constructor only takes date/datetime/timestamp bounds)
      if (a.length != 2 ||
          a.forall(_.trim.matches(raw"\d+"))) scala.None
      else Some(s"(CASE WHEN (${a(0)}) IS NULL OR (${a(1)}) IS NULL OR " +
        s"(${a(0)}) < (${a(1)}) THEN named_struct('range_start', (${a(0)}), " +
        s"'range_end', (${a(1)})) ELSE raise_error(" +
        "'RANGE start must be strictly less than end') END)")
    },
    "RANGE_START" -> { a =>
      if (a.length == 1) Some(s"(${a(0)}).range_start") else scala.None },
    "RANGE_END" -> { a =>
      if (a.length == 1) Some(s"(${a(0)}).range_end") else scala.None },
    // point-vs-range second argument needs the resolved type → kernel
    "RANGE_CONTAINS" -> { a =>
      if (a.length == 2) Some(s"graft_range_contains(${a(0)}, ${a(1)})")
      else scala.None },
    "RANGE_OVERLAPS" -> { a =>
      if (a.length != 2) scala.None
      else {
        val (sa, ea) = (s"(${a(0)}).range_start", s"(${a(0)}).range_end")
        val (sb, eb) = (s"(${a(1)}).range_start", s"(${a(1)}).range_end")
        Some(s"(($sa IS NULL OR $eb IS NULL OR $sa < $eb) AND " +
          s"($sb IS NULL OR $ea IS NULL OR $sb < $ea))")
      }
    },
    "RANGE_INTERSECT" -> { a =>
      if (a.length != 2) scala.None
      else {
        val (sa, ea) = (s"(${a(0)}).range_start", s"(${a(0)}).range_end")
        val (sb, eb) = (s"(${a(1)}).range_start", s"(${a(1)}).range_end")
        val overlaps = s"(($sa IS NULL OR $eb IS NULL OR $sa < $eb) AND " +
          s"($sb IS NULL OR $ea IS NULL OR $sb < $ea))"
        val lo = s"(CASE WHEN $sa IS NULL THEN $sb WHEN $sb IS NULL THEN $sa " +
          s"WHEN $sa >= $sb THEN $sa ELSE $sb END)"
        val hi = s"(CASE WHEN $ea IS NULL THEN $eb WHEN $eb IS NULL THEN $ea " +
          s"WHEN $ea <= $eb THEN $ea ELSE $eb END)"
        Some(s"(CASE WHEN $overlaps THEN named_struct('range_start', $lo, " +
          s"'range_end', $hi) ELSE raise_error(" +
          "'RANGE_INTERSECT: ranges do not overlap') END)")
      }
    },
    // step parsed to micros here; element-type dispatch (DATE vs
    // TIMESTAMP range) happens in the kernel on the resolved type
    "GENERATE_RANGE_ARRAY" -> { a =>
      if (a.length < 2 || a.length > 3) scala.None
      else fixedIntervalMicros(a(1)).flatMap { micros =>
        val inc = if (a.length == 3) a(2).trim.toUpperCase else "TRUE"
        if (inc != "TRUE" && inc != "FALSE") scala.None
        else Some(s"graft_gen_range_array(${a(0)}, ${micros}L, $inc)")
      }
    },
    "ARRAY_LENGTH" -> renameTo("array_size"),
    "ARRAY_TO_STRING" -> renameTo("array_join"),
    "ARRAY_CONCAT" -> renameTo("concat"),
    "ARRAY_REVERSE" -> renameTo("reverse"),
    // BigQuery GENERATE_ARRAY returns [] when the step points away from
    // the end (e.g. (5, 1) with default +1); Spark's 2-arg sequence
    // auto-descends and the 3-arg form throws — guard both.
    "GENERATE_ARRAY" -> { a =>
      // FLOAT64 ranges (any argument a decimal/exponent literal):
      // Spark's sequence is integral/temporal-only — build by index.
      // The epsilon absorbs fp step accumulation at the inclusive end.
      val floatish = a.exists(_.trim.matches(raw"-?\d*\.\d+([eE][-+]?\d+)?|-?\d+[eE][-+]?\d+"))
      if (a.length >= 2 && a.length <= 3 && floatish) {
        val lo = s"CAST(${a(0)} AS DOUBLE)"
        val hi = s"CAST(${a(1)} AS DOUBLE)"
        val st = if (a.length == 3) s"CAST(${a(2)} AS DOUBLE)" else "1.0d"
        Some(s"(CASE WHEN $st = 0 THEN raise_error('GENERATE_ARRAY: step must be nonzero') " +
          s"WHEN ($st > 0 AND $lo > $hi) OR ($st < 0 AND $lo < $hi) THEN array() " +
          s"ELSE transform(sequence(0, CAST(floor(($hi - $lo) / $st + 1e-9) AS INT)), " +
          s"i -> $lo + i * $st) END)")
      }
      else if (a.length == 2)
        Some(s"(CASE WHEN (${a(0)}) <= (${a(1)}) THEN sequence(${a(0)}, ${a(1)}) " +
          s"ELSE array() END)")
      else if (a.length == 3)
        Some(s"(CASE WHEN ((${a(2)}) > 0 AND (${a(0)}) <= (${a(1)})) OR " +
          s"((${a(2)}) < 0 AND (${a(0)}) >= (${a(1)})) " +
          s"THEN sequence(${a(0)}, ${a(1)}, ${a(2)}) ELSE array() END)")
      else scala.None
    },
    // 2-arg TIMESTAMP(civil_datetime, tz): the instant that wall-clock
    // names in that zone (1-arg literal form is a separate rewrite)
    "TIMESTAMP" -> { a =>
      if (a.length == 2)
        Some(s"to_utc_timestamp(CAST(${a(0)} AS TIMESTAMP), ${a(1)})")
      else scala.None
    },
    // BigQuery FORMAT is printf-style; %t (canonical text of any value)
    // maps to %s with the argument cast to STRING. %T (SQL-literal
    // form) stays loud-unsupported — quoting rules differ per type.
    "FORMAT" -> { a =>
      if (a.isEmpty) scala.None
      else strLit(a(0)) match {
        case Some(f) if f.contains("%T") => Some(
          "raise_error('FORMAT %T (SQL-literal rendering) is not supported; " +
            "use %t or TO_JSON_STRING')")
        case Some(f) =>
          // f is the original literal's content verbatim (escapes
          // intact). Args CAST per conversion spec: java's Formatter
          // rejects Spark Decimals on %f and BigQuery's %i/%u/%t have
          // no java spelling — numeric specs coerce, %t stringifies.
          val convs = fmtSpecRe.findAllMatchIn(f).flatMap(m => Option(m.group(1))).toList
          // BigQuery's grouped-digits flag is ' (C printf); java's is ,
          // — the quote may arrive escaped (\') from literal
          // normalization of a double-quoted format string
          val fg = fmtGroupRe.replaceAllIn(f, mm => java.util.regex.Matcher.quoteReplacement(
              s"%${mm.group(1)},"))
          val fmt = "'" +
            fg.replace("%t", "%s").replace("%i", "%d").replace("%u", "%d") + "'"
          val args = if (convs.length == a.tail.length)
            a.tail.zip(convs).map {
              case (arg, "t") => s"cast($arg as string)"
              case (arg, c) if "diuoxX".contains(c) => s"CAST($arg AS BIGINT)"
              case (arg, c) if "eEfgG".contains(c) => s"CAST($arg AS DOUBLE)"
              case (arg, _) => arg
            }
          else a.tail
          Some(if (args.isEmpty) s"format_string($fmt)"
            else s"format_string($fmt, ${args.mkString(", ")})")
        case scala.None => Some(s"format_string(${a.mkString(", ")})")
      }
    },
    "GENERATE_UUID" -> renameTo("uuid"),
    // Unicode normalization via the native graft_normalize expression
    // (registered by every engine entry point); the BQ form argument is
    // a bare keyword → string literal. CASEFOLD approximated by lower().
    "NORMALIZE" -> (a => normalizeCall(a, casefold = false)),
    "NORMALIZE_AND_CASEFOLD" -> (a => normalizeCall(a, casefold = true)),
    "EDIT_DISTANCE" -> renameTo("levenshtein"),
    "UNICODE" -> renameTo("ascii"), // Spark's ascii returns the full code point
    "IS_NAN" -> renameTo("isnan"),
    "IS_INF" -> (a => if (a.length == 1)
      Some(s"(abs(CAST(${a(0)} AS DOUBLE)) = CAST('Infinity' AS DOUBLE))")
      else scala.None),
    // true IEEE semantics: ±Inf on /0, NaN on 0/0 (Spark's / yields NULL)
    "IEEE_DIVIDE" -> (a => if (a.length == 2)
      Some(s"(CASE WHEN (${a(1)}) = 0 THEN " +
        s"CASE WHEN (${a(0)}) > 0 THEN CAST('Infinity' AS DOUBLE) " +
        s"WHEN (${a(0)}) < 0 THEN CAST('-Infinity' AS DOUBLE) " +
        s"ELSE CAST('NaN' AS DOUBLE) END " +
        s"ELSE CAST(${a(0)} AS DOUBLE) / CAST(${a(1)} AS DOUBLE) END)")
      else scala.None),
    // TEXT_ANALYZE(text[, analyzer => '...']) (r12): BigQuery's
    // standalone tokenizer — EXACTLY the SEARCH tokenizer (published
    // LOG_ANALYZER delimiter class, lowercased, empties dropped, order
    // and duplicates preserved); NO_OP_ANALYZER yields the whole value
    // as one token. PATTERN_ANALYZER stays loud (custom regex options
    // would be silently approximate).
    "TEXT_ANALYZE" -> { a =>
      if (a.isEmpty || a.length > 2) scala.None
      else {
        val analyzer =
          if (a.length == 1) "LOG_ANALYZER"
          else {
            val kv = a(1).split("=>").map(_.trim)
            if (kv.length != 2 || !kv(0).equalsIgnoreCase("analyzer"))
              throw new IllegalArgumentException(
                s"TEXT_ANALYZE: unsupported option '${a(1)}' " +
                  "(only analyzer => '...')")
            kv(1).stripPrefix("'").stripSuffix("'").toUpperCase
          }
        analyzer match {
          case "LOG_ANALYZER" => Some(
            s"filter(split(lower(${a(0)}), '$logAnalyzerDelimSql'), " +
              "__tx -> __tx <> '')")
          case "NO_OP_ANALYZER" => Some(s"array(${a(0)})")
          case other => throw new IllegalArgumentException(
            s"unsupported TEXT_ANALYZE analyzer: $other")
        }
      }
    },
    // reciprocal trig (r12): BigQuery ships SEC/CSC/SECH/CSCH/COTH,
    // Spark only COT/COSH/SINH — compose the reciprocals; the exact
    // poles (CSC(0) etc.) raise ANSI division-by-zero, which is
    // BigQuery's behavior too
    "SEC" -> (a => if (a.length == 1)
      Some(s"(CAST(1 AS DOUBLE) / cos(CAST(${a(0)} AS DOUBLE)))") else scala.None),
    "CSC" -> (a => if (a.length == 1)
      Some(s"(CAST(1 AS DOUBLE) / sin(CAST(${a(0)} AS DOUBLE)))") else scala.None),
    "SECH" -> (a => if (a.length == 1)
      Some(s"(CAST(1 AS DOUBLE) / cosh(CAST(${a(0)} AS DOUBLE)))") else scala.None),
    "CSCH" -> (a => if (a.length == 1)
      Some(s"(CAST(1 AS DOUBLE) / sinh(CAST(${a(0)} AS DOUBLE)))") else scala.None),
    "COTH" -> (a => if (a.length == 1)
      Some(s"(cosh(CAST(${a(0)} AS DOUBLE)) / sinh(CAST(${a(0)} AS DOUBLE)))")
      else scala.None),
    // index = #boundaries ≤ point (array must be sorted, as in BQ)
    "RANGE_BUCKET" -> (a => if (a.length == 2)
      Some(s"(CASE WHEN (${a(0)}) IS NULL THEN NULL " +
        s"ELSE size(filter(${a(1)}, __rb -> __rb <= (${a(0)}))) END)")
      else scala.None),
    // case-insensitive contains; BQ's NFKC normalization approximated
    // by lower() (exact for the ASCII/Latin corpora this engine targets)
    "CONTAINS_SUBSTR" -> (a => if (a.length == 2)
      Some(s"(instr(lower(${a(0)}), lower(${a(1)})) > 0)") else scala.None),
    "TO_CODE_POINTS" -> (a => if (a.length == 1)
      Some(s"transform(split(${a(0)}, ''), __c -> ascii(__c))") else scala.None),
    // Spark char() wraps at 256, so the full-Unicode mapping encodes
    // UTF-8 bytes itself — per code point, pure integer math to the
    // byte hex, then ONE unhex + decode over the concatenation. All
    // codegen built-ins, no UDF. Invalid code points (negative, beyond
    // U+10FFFF, surrogates) fail loud, as BigQuery errors there.
    "CODE_POINTS_TO_STRING" -> (a => if (a.length == 1) {
      val hexOf =
        "CASE " +
          "WHEN __c < 0 OR __c > 1114111 OR (__c BETWEEN 55296 AND 57343) " +
          "THEN raise_error(concat('CODE_POINTS_TO_STRING: invalid code point ', __c)) " +
          "WHEN __c < 128 THEN lpad(hex(__c), 2, '0') " +
          "WHEN __c < 2048 THEN concat(" +
          "lpad(hex(192 + __c div 64), 2, '0'), " +
          "lpad(hex(128 + __c % 64), 2, '0')) " +
          "WHEN __c < 65536 THEN concat(" +
          "lpad(hex(224 + __c div 4096), 2, '0'), " +
          "lpad(hex(128 + (__c div 64) % 64), 2, '0'), " +
          "lpad(hex(128 + __c % 64), 2, '0')) " +
          "ELSE concat(" +
          "lpad(hex(240 + __c div 262144), 2, '0'), " +
          "lpad(hex(128 + (__c div 4096) % 64), 2, '0'), " +
          "lpad(hex(128 + (__c div 64) % 64), 2, '0'), " +
          "lpad(hex(128 + __c % 64), 2, '0')) END"
      Some(s"decode(unhex(concat_ws('', transform(${a(0)}, __c -> $hexOf))), 'UTF-8')")
    } else scala.None),
    // BigQuery TO_HEX emits LOWERCASE hex; Spark's hex is uppercase
    "TO_HEX" -> (a =>
      if (a.length == 1) Some(s"lower(hex(${a(0)}))") else scala.None),
    "FROM_HEX" -> renameTo("unhex"),
    // BigQuery hash functions return BYTES (Spark's md5/sha return hex
    // STRINGs) — wrap in unhex so TO_HEX/TO_BASE64 compositions and
    // BYTES comparisons keep BigQuery semantics
    "MD5" -> (a => if (a.length == 1) Some(s"unhex(md5(${a(0)}))") else scala.None),
    "SHA1" -> (a => if (a.length == 1) Some(s"unhex(sha1(${a(0)}))") else scala.None),
    "SHA256" -> (a => if (a.length == 1) Some(s"unhex(sha2(${a(0)}, 256))") else scala.None),
    "SHA512" -> (a => if (a.length == 1) Some(s"unhex(sha2(${a(0)}, 512))") else scala.None),
    "TO_BASE64" -> renameTo("base64"),
    "FROM_BASE64" -> renameTo("unbase64"),
    "BYTE_LENGTH" -> renameTo("octet_length"),
    "ERROR" -> renameTo("raise_error"),
    "DIV" -> (a =>
      if (a.length == 2) Some(s"((${a(0)}) div (${a(1)}))") else scala.None),
    // BigQuery SPLIT splits on a LITERAL delimiter (default ','); Spark
    // split takes a REGEX — quote metacharacters (literal delimiters) or
    // wrap runtime delimiters in \Q…\E
    "SPLIT" -> { a =>
      if (a.length == 1) Some(s"split(${a(0)}, ',')")
      else if (a.length == 2) Some(strLit(a(1)) match {
        case Some(d) => s"split(${a(0)}, '${regexQuoteSql(d)}')"
        case scala.None => s"split(${a(0)}, concat('\\\\Q', ${a(1)}, '\\\\E'))"
      })
      else scala.None
    },
    // BigQuery REGEXP_EXTRACT returns NULL on no match and extracts the
    // single capture group when present (whole match otherwise); Spark's
    // regexp_extract returns '' on no match. first-of-extract_all has
    // the exact semantics. Literal patterns only (group count is static).
    "REGEXP_EXTRACT" -> regexpExtractFirst,
    "REGEXP_SUBSTR" -> regexpExtractFirst, // BigQuery alias of REGEXP_EXTRACT
    "REGEXP_EXTRACT_ALL" -> { a =>
      if (a.length == 2) strLit(a(1)).map { p =>
        val idx = if (captureGroups(p) > 0) 1 else 0
        s"regexp_extract_all(${a(0)}, ${a(1)}, $idx)"
      } else scala.None
    },
    // SAFE.PARSE_x → NULL on unparseable input (prefix pre-mapped to
    // SAFE_ by rewrite); SAFE_SUBSTR never errors in Spark anyway
    "SAFE_PARSE_DATE" -> (a =>
      fmtPattern(a).map { case (p, v) => s"to_date(try_to_timestamp($v, '$p'))" }),
    "SAFE_PARSE_DATETIME" -> (a =>
      fmtPattern(a).map { case (p, v) => s"try_to_timestamp($v, '$p')" }),
    "SAFE_PARSE_TIMESTAMP" -> (a =>
      fmtPattern(a).map { case (p, v) => s"try_to_timestamp($v, '$p')" }),
    "SAFE_SUBSTR" -> renameTo("substr"),
    // STRUCT(a, b AS n) constructor → struct() (Spark keeps aliases);
    // the typed STRUCT<...>(…) form has its prefix dropped in rewrite
    "STRUCT" -> renameTo("struct"),
    // NET.HOST/NET.REG_DOMAIN (dots pre-mapped to NET_): parse_url with
    // a scheme-prefixed retry so bare 'example.com' inputs resolve like
    // BigQuery's parser
    // TIME(h, m, s) / TIME(ts[, tz]) — TIME values are 'HH:mm:ss'
    // strings in this engine
    "TIME" -> { a =>
      a.length match {
        case 3 => Some(s"format_string('%02d:%02d:%02d', ${a(0)}, ${a(1)}, ${a(2)})")
        case 1 => Some(s"date_format(${a(0)}, 'HH:mm:ss')")
        case 2 => Some(s"date_format(from_utc_timestamp(${a(0)}, ${a(1)}), 'HH:mm:ss')")
        case _ => scala.None
      }
    },
    // DATETIME constructors → TIMESTAMP_NTZ: 6-part civil time,
    // DATE+TIME composition, timestamp[+timezone] conversion. The
    // 2-arg form disambiguates at RUNTIME (a TIME value is an
    // 'HH:mm:ss' string; anything else is a timezone name).
    "DATETIME" -> { a =>
      a.length match {
        case 6 => Some(s"make_timestamp_ntz(${a.mkString(", ")})")
        case 1 => Some(s"cast(${a(0)} as timestamp_ntz)")
        case 2 => Some(
          s"(CASE WHEN CAST(${a(1)} AS STRING) RLIKE '^[0-9]{2}:' " +
            s"THEN to_timestamp_ntz(concat(cast(${a(0)} as string), ' ', ${a(1)})) " +
            s"ELSE convert_timezone(${a(1)}, ${a(0)}) END)")
        case _ => scala.None
      }
    },
    "CODE_POINTS_TO_BYTES" -> (a => if (a.length == 1) Some(
      s"unhex(concat_ws('', transform(${a(0)}, __c -> " +
        "CASE WHEN __c BETWEEN 0 AND 255 THEN lpad(hex(__c), 2, '0') " +
        "ELSE raise_error(concat('CODE_POINTS_TO_BYTES: byte out of range ', " +
        "CAST(__c AS STRING))) END)))") else scala.None),
    // GEOGRAPHY point subset (closes the last round-9 namespace skip for
    // the shapes a data pipeline actually uses): points are
    // STRUCT<lon DOUBLE, lat DOUBLE>; ST_DISTANCE is the spherical
    // haversine on BigQuery's sphere (R = 6371010 m — BigQuery measures
    // on a sphere, not the WGS84 ellipsoid). Degree→radian conversion
    // is an explicit multiply by the double nearest π/180 so the engine
    // and the DuckDB oracle share every IEEE step (radians() builtins
    // differ: Java divides by 180 first). Non-point WKT and the wider
    // ST_* vocabulary stay loud (unresolved names / parse errors).
    "ST_GEOGPOINT" -> { a =>
      if (a.length != 2) scala.None
      else Some(s"named_struct('lon', CAST((${a(0)}) AS DOUBLE), " +
        s"'lat', CASE WHEN abs(CAST((${a(1)}) AS DOUBLE)) > 90.0d " +
        "THEN CAST(raise_error('ST_GEOGPOINT: latitude must be in [-90, 90]') AS DOUBLE) " +
        s"ELSE CAST((${a(1)}) AS DOUBLE) END)")
    },
    // typed kernels, not bare field access: `.lon` on a LINESTRING
    // (array of points) silently maps over the elements — BigQuery
    // errors, and so must we (GeoKernels.PointFieldExpr)
    "ST_X" -> (a => if (a.length == 1) Some(s"graft_st_x(${a(0)})") else scala.None),
    "ST_Y" -> (a => if (a.length == 1) Some(s"graft_st_y(${a(0)})") else scala.None),
    // typed kernel (r12 ADVICE): the old text-level `.lon` lowering
    // silently MAPPED over a linestring's points and CAST the array —
    // GeogAsTextExpr dispatches on the static shape (point/linestring/
    // polygon WKT) and fails analysis loud on anything else; point
    // formatting is bit-identical to the old CAST-AS-STRING shape
    "ST_ASTEXT" -> (a =>
      if (a.length == 1) Some(s"graft_st_astext(${a(0)})") else scala.None),
    // metadata/accessor family (r12): typed kernels — shape-directed
    // results, analysis-loud misuse (element_at on a polygon would
    // silently return a ring, the mapped-array hazard class)
    // geohash pair (r12): public base-32 bisection encoding, pinned to
    // the published vectors; decode returns the CELL CENTER point.
    // BigQuery's default maxchars is 20 (full double precision).
    "ST_GEOHASH" -> (a =>
      if (a.length == 1) Some(s"graft_st_geohash(${a(0)}, 20)")
      else if (a.length == 2) Some(s"graft_st_geohash(${a(0)}, ${a(1)})")
      else scala.None),
    "ST_GEOGPOINTFROMGEOHASH" -> (a =>
      if (a.length == 1) Some(s"graft_st_fromgeohash(${a(0)})") else scala.None),
    "ST_GEOMETRYTYPE" -> (a =>
      if (a.length == 1) Some(s"graft_st_geometrytype(${a(0)})") else scala.None),
    "ST_NUMPOINTS" -> (a =>
      if (a.length == 1) Some(s"graft_st_numpoints(${a(0)})") else scala.None),
    "ST_NPOINTS" -> (a => // BigQuery alias
      if (a.length == 1) Some(s"graft_st_numpoints(${a(0)})") else scala.None),
    "ST_DIMENSION" -> (a =>
      if (a.length == 1) Some(s"graft_st_dimension(${a(0)})") else scala.None),
    "ST_POINTN" -> (a =>
      if (a.length == 2) Some(s"graft_st_pointn(${a(0)}, ${a(1)})") else scala.None),
    "ST_STARTPOINT" -> (a =>
      if (a.length == 1) Some(s"graft_st_pointn(${a(0)}, 1)") else scala.None),
    "ST_ENDPOINT" -> (a =>
      if (a.length == 1) Some(s"graft_st_pointn(${a(0)}, -1)") else scala.None),
    "ST_GEOGFROMTEXT" -> { a =>
      // literal LINESTRING/POLYGON WKT parses at rewrite time into
      // ARRAY<point> / ARRAY<ARRAY<point>> constants (static dispatch —
      // see the linestring/polygon blocks below); everything else takes
      // the point path, where a non-match extracts '' and the ANSI
      // double cast fails loud, like BigQuery's parse error
      def pointSql(p: String, shape: String): String = {
        val xy = p.trim.split("\\s+")
        if (xy.length != 2) throw new IllegalArgumentException(
          s"ST_GEOGFROMTEXT: malformed $shape coordinate '$p'")
        // java-parse so bad numbers fail HERE, at rewrite time
        val (lon, lat) = (xy(0).toDouble, xy(1).toDouble)
        s"named_struct('lon', CAST('$lon' AS DOUBLE), 'lat', CAST('$lat' AS DOUBLE))"
      }
      val lsLit = if (a.length == 1) strLit(a(0)).flatMap { s =>
        wktLineRe.findFirstMatchIn(s).map { g =>
          val pts = g.group(1).split(",").map(pointSql(_, "LINESTRING"))
          if (pts.length < 2) throw new IllegalArgumentException(
            "ST_GEOGFROMTEXT: LINESTRING needs at least 2 points")
          s"array(${pts.mkString(", ")})"
        }
      } else scala.None
      val polyLit = if (a.length == 1) strLit(a(0)).flatMap { s =>
        wktPolyRe.findFirstMatchIn(s).map { g =>
          // rings are parenthesized coordinate lists: (r1), (r2), …
          val body = g.group(1).trim
          val rings = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < body.length) {
            val ch = body.charAt(i)
            if (ch == '(') {
              val close = body.indexOf(')', i)
              if (close < 0) throw new IllegalArgumentException(
                "ST_GEOGFROMTEXT: unbalanced POLYGON ring")
              val pts = body.substring(i + 1, close).split(",")
                .map(pointSql(_, "POLYGON"))
              if (pts.length < 4) throw new IllegalArgumentException(
                "ST_GEOGFROMTEXT: a POLYGON ring needs at least 4 points " +
                  "(closed: first = last)")
              rings += s"array(${pts.mkString(", ")})"
              i = close + 1
            } else if (ch == ',' || ch.isWhitespace) i += 1
            else throw new IllegalArgumentException(
              s"ST_GEOGFROMTEXT: malformed POLYGON at '${body.substring(i)}'")
          }
          if (rings.isEmpty) throw new IllegalArgumentException(
            "ST_GEOGFROMTEXT: POLYGON needs at least one ring")
          s"array(${rings.mkString(", ")})"
        }
      } else scala.None
      lazy val pointForm = {
        val re = "'^ *POINT *\\\\( *(-?[0-9.Ee+-]+) +(-?[0-9.Ee+-]+) *\\\\) *$$'"
        if (a.length == 1) Some(
          s"named_struct('lon', CAST(regexp_extract(${a(0)}, $re, 1) AS DOUBLE), " +
            s"'lat', CAST(regexp_extract(${a(0)}, $re, 2) AS DOUBLE))")
        else scala.None
      }
      lsLit.orElse(polyLit).orElse(pointForm)
    },
    "ST_DISTANCE" -> { a =>
      if (a.length != 2) scala.None
      else Some(Dialect.haversineSql(a(0), a(1)))
    },
    "ST_DWITHIN" -> { a =>
      if (a.length != 3) scala.None
      else Some(s"(${Dialect.haversineSql(a(0), a(1))} <= CAST((${a(2)}) AS DOUBLE))")
    },
    // GEOGRAPHY linestring increment (r10 ask #8): a linestring is
    // ARRAY<point-struct>. ST_MAKELINE's array-of-points form is the
    // identity under that representation (the data-driven construction
    // path); ST_GEOGFROMTEXT gains a LITERAL-WKT LINESTRING overload
    // (static type dispatch — a dynamic string's return type can't
    // depend on its runtime prefix). ST_LENGTH sums haversine segment
    // lengths on the same R = 6371010 m sphere, left-to-right (the
    // fold order is deterministic, so the oracle can restate the exact
    // IEEE sum). Polygons and set-theoretic ST_* stay loud.
    "ST_MAKELINE" -> (a => if (a.length == 1) Some(s"(${a(0)})") else scala.None),
    // polygons are ARRAY<ARRAY<point>> — shell first, holes after — a
    // deliberately different shape from linestrings so ST_LENGTH on a
    // polygon / ST_AREA on a linestring fail analysis loud. ST_AREA is
    // the exact spherical excess (van Oosterom–Strackee fan sum, see
    // functions/SphericalGeo); ST_PERIMETER sums auto-closed ring
    // circumferences. ST_MAKEPOLYGON wraps a (closed or auto-closable)
    // linestring as the single shell ring.
    "ST_MAKEPOLYGON" -> (a =>
      if (a.length == 1) Some(s"array((${a(0)}))") else scala.None),
    "ST_AREA" -> (a =>
      if (a.length == 1) Some(s"graft_st_area(${a(0)})") else scala.None),
    "ST_PERIMETER" -> (a =>
      if (a.length == 1) Some(s"graft_st_perimeter(${a(0)})") else scala.None),
    // polygon × point predicates (tangent-frame winding — see
    // GeoKernels); COVERS ≡ CONTAINS here (boundary membership is
    // documented-undefined), WITHIN is the argument flip. Other shape
    // pairings fail analysis. ST_INTERSECTS (r12) is its own
    // shape-dispatching symmetric kernel: point/line/polygon pairings
    // via great-circle segment crossing + winding containment.
    // set-theoretic constructors: permanently adjudicated loud
    // (COVERAGE.md r12 row — the result is a data-dependent geometry
    // collection a statically-typed shape encoding cannot carry, and
    // constructed boundary geometry is unoracleable). The predicates
    // below cover every pairing a pipeline joins on.
    "ST_INTERSECTION" -> (_ => throw new IllegalArgumentException(
      "ST_INTERSECTION is not supported: constructed geometry collections " +
        "are out of scope (permanent, see COVERAGE.md) — use the " +
        "ST_INTERSECTS/ST_CONTAINS predicate family instead")),
    "ST_UNION" -> (_ => throw new IllegalArgumentException(
      "ST_UNION is not supported: constructed geometry collections are " +
        "out of scope (permanent, see COVERAGE.md)")),
    "ST_DIFFERENCE" -> (_ => throw new IllegalArgumentException(
      "ST_DIFFERENCE is not supported: constructed geometry collections " +
        "are out of scope (permanent, see COVERAGE.md)")),
    "ST_CONTAINS" -> (a =>
      if (a.length == 2) Some(s"graft_st_contains(${a(0)}, ${a(1)})") else scala.None),
    "ST_COVERS" -> (a =>
      if (a.length == 2) Some(s"graft_st_contains(${a(0)}, ${a(1)})") else scala.None),
    "ST_INTERSECTS" -> (a =>
      if (a.length == 2) Some(s"graft_st_intersects(${a(0)}, ${a(1)})") else scala.None),
    "ST_WITHIN" -> (a =>
      if (a.length == 2) Some(s"graft_st_contains(${a(1)}, ${a(0)})") else scala.None),
    "ST_COVEREDBY" -> (a =>
      if (a.length == 2) Some(s"graft_st_contains(${a(1)}, ${a(0)})") else scala.None),
    "ST_BOUNDINGBOX" -> (a =>
      if (a.length == 1) Some(s"graft_st_bbox(${a(0)})") else scala.None),
    "ST_LENGTH" -> { a =>
      if (a.length != 1) scala.None
      else {
        val g = s"(${a(0)})"
        val seg = Dialect.haversineSql(
          s"element_at($g, __i)", s"element_at($g, __i + 1)")
        Some(s"aggregate(sequence(1, size($g) - 1), CAST(0 AS DOUBLE), " +
          s"(__acc, __i) -> __acc + $seg)")
      }
    },
    // ML scalar preprocessing/vector functions (the analytic forms live
    // in rewriteMlAnalytic). All pure codegen'd higher-order array
    // built-ins — no UDF in the hot path, identical IEEE arithmetic to
    // the DuckDB oracle restatements.
    "ML_DISTANCE" -> { a =>
      def dot(u: String, v: String) =
        s"aggregate(zip_with($u, $v, (__x, __y) -> CAST(__x AS DOUBLE) * __y), " +
          "CAST(0 AS DOUBLE), (__a, __v) -> __a + __v)"
      def norm(u: String) =
        s"sqrt(aggregate($u, CAST(0 AS DOUBLE), (__a, __x) -> __a + CAST(__x AS DOUBLE) * __x))"
      if (a.length != 3) scala.None
      else strLit(a(2)).map(_.toUpperCase) match {
        case Some("COSINE") =>
          Some(s"(1.0d - ${dot(a(0), a(1))} / (${norm(a(0))} * ${norm(a(1))}))")
        case Some("EUCLIDEAN") => Some(
          s"sqrt(aggregate(zip_with(${a(0)}, ${a(1)}, " +
            "(__x, __y) -> (CAST(__x AS DOUBLE) - __y) * (CAST(__x AS DOUBLE) - __y)), " +
            "CAST(0 AS DOUBLE), (__a, __v) -> __a + __v))")
        case Some("MANHATTAN") => Some(
          s"aggregate(zip_with(${a(0)}, ${a(1)}, " +
            "(__x, __y) -> abs(CAST(__x AS DOUBLE) - __y)), " +
            "CAST(0 AS DOUBLE), (__a, __v) -> __a + __v)")
        case _ => throw new IllegalArgumentException(
          "ML.DISTANCE type must be the literal 'COSINE', 'EUCLIDEAN' or 'MANHATTAN'")
      }
    },
    "ML_LP_NORM" -> { a =>
      if (a.length != 2) scala.None
      else {
        val p = a(1).trim
        if (!p.matches(raw"\d+(\.\d+)?")) throw new IllegalArgumentException(
          "ML.LP_NORM degree must be a numeric literal >= 1")
        val pd = p.toDouble
        if (pd < 1) throw new IllegalArgumentException(
          "ML.LP_NORM degree must be >= 1")
        if (pd == 1.0) Some(
          s"aggregate(${a(0)}, CAST(0 AS DOUBLE), (__a, __x) -> __a + abs(CAST(__x AS DOUBLE)))")
        else if (pd == 2.0) Some(
          s"sqrt(aggregate(${a(0)}, CAST(0 AS DOUBLE), (__a, __x) -> __a + CAST(__x AS DOUBLE) * __x))")
        else Some(
          s"power(aggregate(${a(0)}, CAST(0 AS DOUBLE), " +
            s"(__a, __x) -> __a + power(abs(CAST(__x AS DOUBLE)), ${pd}d)), 1.0d / ${pd}d)")
      }
    },
    // ML.NGRAMS(tokens, [n_min[, n_max]][, separator]): contiguous
    // n-grams joined by the separator, all lengths concatenated (the
    // range must be an integer-literal array — the per-n transforms are
    // unrolled at rewrite time)
    "ML_NGRAMS" -> { a =>
      if (a.length < 2 || a.length > 3) scala.None
      else {
        val arr = a(0)
        val rng = a(1).trim
        if (!rng.startsWith("[") || !rng.endsWith("]"))
          throw new IllegalArgumentException(
            "ML.NGRAMS range must be an integer-literal array like [1, 2]")
        val ns = rng.stripPrefix("[").stripSuffix("]").split(",").map(_.trim)
        if (ns.isEmpty || ns.length > 2 || !ns.forall(_.matches(raw"\d+")))
          throw new IllegalArgumentException(
            "ML.NGRAMS range must be [n] or [n_min, n_max] integer literals")
        val (mn, mx) = (ns.head.toInt, ns.last.toInt)
        if (mn < 1 || mx < mn) throw new IllegalArgumentException(
          "ML.NGRAMS range must satisfy 1 <= n_min <= n_max")
        val sep = if (a.length == 3) a(2) else "' '"
        val parts = (mn to mx).map { n =>
          s"(CASE WHEN size($arr) >= $n THEN transform(sequence(0, size($arr) - $n), " +
            s"__i -> array_join(slice($arr, __i + 1, $n), $sep)) " +
            "ELSE array() END)"
        }
        Some(if (parts.length == 1) parts.head
             else s"concat(${parts.mkString(", ")})")
      }
    },
    // ML.BUCKETIZE(f, [s1, s2, …]): 'bin_1' below s1, 'bin_i+1' in
    // [s_i, s_i+1), 'bin_k+1' at/after the last split; NULL stays NULL.
    // exclude_boundaries=TRUE stays loud (silently different binning).
    "ML_BUCKETIZE" -> { a =>
      if (a.length < 2 || a.length > 3) scala.None
      else {
        if (a.length == 3 && !a(2).trim.equalsIgnoreCase("FALSE"))
          throw new IllegalArgumentException(
            "ML.BUCKETIZE exclude_boundaries is not supported (only FALSE)")
        val sp = a(1).trim
        if (!sp.startsWith("[") || !sp.endsWith("]"))
          throw new IllegalArgumentException(
            "ML.BUCKETIZE split_points must be an array literal like [10, 20]")
        val splits = SqlLex.splitTopLevel(sp.stripPrefix("[").stripSuffix("]")).map(_.trim)
        if (splits.isEmpty) throw new IllegalArgumentException(
          "ML.BUCKETIZE needs at least one split point")
        val f = s"(${a(0)})"
        val whens = splits.zipWithIndex.map { case (s, i) =>
          s"WHEN $f < ($s) THEN 'bin_${i + 1}'"
        }
        Some(s"(CASE WHEN $f IS NULL THEN CAST(NULL AS STRING) " +
          whens.mkString(" ") + s" ELSE 'bin_${splits.length + 1}' END)")
      }
    },
    // ML.FEATURE_CROSS(STRUCT(f1 [AS n1], …)[, degree]) (r12, converts
    // the FEATURE_CROSS skip): STATIC expansion to a named_struct of
    // every size-2..degree combination — field name n1_X_n2…, value the
    // '_'-joined feature values, exactly BigQuery's crossing layout.
    // The struct must be inline (names are needed at rewrite time) and
    // degree a literal in [2, 10] bounded by the feature count; the
    // original 1-degree features are NOT echoed (BigQuery omits them).
    "ML_FEATURE_CROSS" -> { a =>
      if (a.isEmpty || a.length > 2) scala.None
      else {
        val s0 = a(0).trim
        val up = s0.toUpperCase
        if (!(up.startsWith("STRUCT") &&
          s0.drop(6).dropWhile(_.isWhitespace).startsWith("(")))
          throw new IllegalArgumentException(
            "ML.FEATURE_CROSS: the first argument must be an inline " +
              "STRUCT(…) of features (field names drive the crossed names)")
        val open = s0.indexOf('(')
        val close = SqlLex.close(s0, open)
        if (close != s0.length - 1) throw new IllegalArgumentException(
          "ML.FEATURE_CROSS: unbalanced STRUCT(…)")
        val fields = SqlLex.splitTopLevel(s0.substring(open + 1, close)).map(_.trim).map {
          case featAsRe(e, n) => (e.trim, n)
          case featBareRe(n) => (n, n)
          case other => throw new IllegalArgumentException(
            s"ML.FEATURE_CROSS: feature '$other' needs an AS name")
        }
        if (fields.length < 2) throw new IllegalArgumentException(
          "ML.FEATURE_CROSS needs at least 2 features")
        val degree =
          if (a.length == 1) 2
          else try a(1).trim.toInt catch {
            case _: NumberFormatException => throw new IllegalArgumentException(
              "ML.FEATURE_CROSS: degree must be an integer literal")
          }
        if (degree < 2 || degree > 10 || degree > fields.length)
          throw new IllegalArgumentException(
            s"ML.FEATURE_CROSS: degree must be in [2, ${math.min(10, fields.length)}], got $degree")
        val entries = (2 to degree).flatMap(k =>
          fields.indices.combinations(k).map { idx =>
            val name = idx.map(i => fields(i)._2).mkString("_X_")
            // concat (not concat_ws): a NULL feature makes the cross
            // NULL instead of silently dropping the separator
            val value = idx.map(i => s"CAST((${fields(i)._1}) AS STRING)")
              .mkString("concat(", ", '_', ", ")")
            s"'$name', $value"
          })
        Some(s"named_struct(${entries.mkString(", ")})")
      }
    },
    // AEAD/KEYS/DETERMINISTIC_* encryption surface (AeadKernels.scala;
    // keyset-typed dispatch, authenticated AAD, SAFE. → NULL via the
    // wrap set). Namespace dots pre-mapped to underscores.
    "KEYS_NEW_KEYSET" -> (a =>
      if (a.length == 1) Some(s"graft_keys_new_keyset(${a(0)})") else scala.None),
    // KEYS rotation family (r11 — closes the documented KEYS.* skip):
    // keysets hold multiple 32-byte keys, primary last; see AeadKernels
    "KEYS_ROTATE_KEYSET" -> (a =>
      if (a.length == 2) Some(s"graft_keys_rotate(${a(0)}, ${a(1)})") else scala.None),
    "KEYS_ADD_KEY_FROM_RAW_BYTES" -> (a =>
      if (a.length == 3) Some(s"graft_keys_add_raw(${a(0)}, ${a(1)}, ${a(2)})")
      else scala.None),
    "KEYS_KEYSET_LENGTH" -> (a =>
      if (a.length == 1) Some(s"graft_keys_length(${a(0)})") else scala.None),
    // Tink interop + envelope surface (r12 — keysets are real Tink
    // protos now; the KMS layer is a local resource-derived-KEK
    // stand-in, see KmsStandin). KEYSET_CHAIN is pure structure — the
    // crypto kernels unwrap it at the keyset argument slot.
    "KEYS_KEYSET_TO_JSON" -> (a =>
      if (a.length == 1) Some(s"graft_keys_to_json(${a(0)})") else scala.None),
    "KEYS_KEYSET_FROM_JSON" -> (a =>
      if (a.length == 1) Some(s"graft_keys_from_json(${a(0)})") else scala.None),
    "KEYS_NEW_WRAPPED_KEYSET" -> (a =>
      if (a.length == 2) Some(s"graft_keys_new_wrapped(${a(0)}, ${a(1)})")
      else scala.None),
    "KEYS_REWRAP_KEYSET" -> (a =>
      if (a.length == 3) Some(s"graft_keys_rewrap(${a(0)}, ${a(1)}, ${a(2)})")
      else scala.None),
    "KEYS_KEYSET_CHAIN" -> (a =>
      if (a.length == 2) Some(s"named_struct('kms_resource_name', ${a(0)}, " +
        s"'first_level_keyset', ${a(1)})") else scala.None),
    "AEAD_ENCRYPT" -> (a =>
      if (a.length == 3) Some(s"graft_aead_encrypt(${a.mkString(", ")})") else scala.None),
    "AEAD_DECRYPT_STRING" -> (a =>
      if (a.length == 3) Some(s"graft_aead_decrypt_string(${a.mkString(", ")})") else scala.None),
    "AEAD_DECRYPT_BYTES" -> (a =>
      if (a.length == 3) Some(s"graft_aead_decrypt_bytes(${a.mkString(", ")})") else scala.None),
    "DETERMINISTIC_ENCRYPT" -> (a =>
      if (a.length == 3) Some(s"graft_det_encrypt(${a.mkString(", ")})") else scala.None),
    "DETERMINISTIC_DECRYPT_STRING" -> (a =>
      if (a.length == 3) Some(s"graft_det_decrypt_string(${a.mkString(", ")})") else scala.None),
    "DETERMINISTIC_DECRYPT_BYTES" -> (a =>
      if (a.length == 3) Some(s"graft_det_decrypt_bytes(${a.mkString(", ")})") else scala.None),
    // NET domain kernels (functions/PublicSuffix.scala): HOST is the
    // best-effort RFC 3986 extraction; PUBLIC_SUFFIX/REG_DOMAIN match
    // the bundled ICANN public-suffix list exactly like BigQuery
    // (Punycode-normalized match, original-case result, no implicit *)
    "NET_HOST" -> (a => if (a.length == 1)
      Some(s"graft_net_host(${a(0)})") else scala.None),
    "NET_PUBLIC_SUFFIX" -> (a => if (a.length == 1)
      Some(s"graft_net_public_suffix(${a(0)})") else scala.None),
    "NET_REG_DOMAIN" -> (a => if (a.length == 1)
      Some(s"graft_net_reg_domain(${a(0)})") else scala.None),
    // NET IP kernels (functions/NetKernels.scala): strict local parse,
    // no resolver.
    "NET_IP_FROM_STRING" -> (a =>
      if (a.length == 1) Some(s"graft_net_ip_from_string(${a(0)})") else scala.None),
    "NET_SAFE_IP_FROM_STRING" -> (a =>
      if (a.length == 1) Some(s"graft_net_safe_ip_from_string(${a(0)})") else scala.None),
    "NET_IP_TO_STRING" -> (a =>
      if (a.length == 1) Some(s"graft_net_ip_to_string(${a(0)})") else scala.None),
    "NET_IPV4_TO_INT64" -> (a =>
      if (a.length == 1) Some(s"graft_net_ipv4_to_int64(${a(0)})") else scala.None),
    "NET_IPV4_FROM_INT64" -> (a =>
      if (a.length == 1) Some(s"graft_net_ipv4_from_int64(CAST(${a(0)} AS BIGINT))")
      else scala.None),
    "APPROX_COUNT_DISTINCT" -> renameTo("approx_count_distinct"),
    // --- pack 6: approximate top-k + analytic percentiles ------------
    // APPROX_TOP_COUNT(x, n) / APPROX_TOP_SUM(x, w, n) → the native
    // Space-Saving aggregate (functions/TopCount.scala): O(cap) bounded
    // mergeable buffers, map-side combine. n must be a literal (the
    // sketch capacity is fixed at plan time) — anything else stays
    // unresolved, loud. The weight is cast to BIGINT (BQ also allows
    // FLOAT64 weights; integral only here, documented deviation).
    "APPROX_TOP_COUNT" -> { a =>
      if (a.length == 2 && a(1).trim.matches("""\d+"""))
        Some(s"graft_top_count(${a(0)}, ${a(1).trim})")
      else scala.None
    },
    "APPROX_TOP_SUM" -> { a =>
      if (a.length == 3 && a(2).trim.matches("""\d+"""))
        Some(s"graft_top_sum(${a(0)}, CAST(${a(1)} AS BIGINT), ${a(2).trim})")
      else scala.None
    },
    // TIMESTAMP_BUCKET / DATE_BUCKET: fixed-width bucketing to an
    // origin (default 1950-01-01 per BQ). pmod keeps the floor
    // semantics for values BEFORE the origin; only fixed-width units
    // rewrite (MONTH+ widths vary — loud-unresolved). DATETIME_BUCKET
    // is intentionally not mapped (engine has no separate DATETIME).
    "TIMESTAMP_BUCKET" -> { a =>
      if (a.length < 2 || a.length > 3) scala.None
      else a(1) match {
        case subWeekIntervalRe(n, unit) =>
          val mult = unit.toUpperCase match {
            case "SECOND" => 1000000L
            case "MINUTE" => 60000000L
            case "HOUR" => 3600000000L
            case "DAY" => 86400000000L
          }
          val w = n.toLong * mult
          val o = if (a.length == 3) s"unix_micros(CAST(${a(2)} AS TIMESTAMP))"
            else "unix_micros(TIMESTAMP '1950-01-01 00:00:00Z')"
          Some(s"timestamp_micros(unix_micros(${a(0)}) - " +
            s"pmod(unix_micros(${a(0)}) - $o, ${w}L))")
        case _ => scala.None
      }
    },
    // DATETIME_BUCKET: same micros arithmetic as TIMESTAMP_BUCKET (the
    // session runs UTC, so the NTZ↔TZ casts are value-identity) with
    // the result cast back to Spark's DATETIME spelling (timestamp_ntz)
    "DATETIME_BUCKET" -> { a =>
      if (a.length < 2 || a.length > 3) scala.None
      else a(1) match {
        case subWeekIntervalRe(n, unit) =>
          val mult = unit.toUpperCase match {
            case "SECOND" => 1000000L
            case "MINUTE" => 60000000L
            case "HOUR" => 3600000000L
            case "DAY" => 86400000000L
          }
          val w = n.toLong * mult
          val x = s"unix_micros(CAST(${a(0)} AS TIMESTAMP))"
          val o = if (a.length == 3) s"unix_micros(CAST(${a(2)} AS TIMESTAMP))"
            else "unix_micros(TIMESTAMP '1950-01-01 00:00:00Z')"
          Some(s"cast(timestamp_micros($x - pmod($x - $o, ${w}L)) as timestamp_ntz)")
        case _ => scala.None
      }
    },
    "DATE_BUCKET" -> { a =>
      if (a.length < 2 || a.length > 3) scala.None
      else a(1) match {
        case dayWeekIntervalRe(n, unit) =>
          val days = n.toLong * (if (unit.equalsIgnoreCase("WEEK")) 7L else 1L)
          val o = if (a.length == 3) a(2) else "DATE '1950-01-01'"
          Some(s"date_sub(${a(0)}, pmod(datediff(${a(0)}, $o), $days))")
        case _ => scala.None
      }
    },
    // BQ analytic percentiles (window-only there; Spark aggregates work
    // in both positions). PERCENTILE_CONT(x, f) → percentile(x, f) —
    // Spark's exact interpolated percentile, same linear-interpolation
    // semantics, FLOAT64 result in both engines. PERCENTILE_DISC(x, f)
    // → the WITHIN GROUP form (first value whose cume_dist ≥ f, BQ
    // semantics); Spark widens the result to DOUBLE where BQ keeps the
    // input type — numerically identical on the selected element.
    // A RESPECT/IGNORE NULLS suffix lands inside the fraction arg and
    // matches neither guard → stays unresolved, loud.
    "PERCENTILE_CONT" -> { a =>
      if (a.length == 2 && a(1).trim.matches("""[0-9.]+"""))
        Some(s"percentile(${a(0)}, ${a(1).trim})")
      else scala.None
    },
    // PERCENTILE_DISC is handled by rewritePercentileDisc in the
    // prelude chain (it must capture the OVER clause to type-preserve
    // the result through graft_cast_like — r10 ask #6)
    // BigQuery LEAST/GREATEST return NULL if ANY argument is NULL;
    // Spark's skip NULLs — guard explicitly
    "LEAST" -> nullPropagating("least"),
    "GREATEST" -> nullPropagating("greatest"),
    // 3-arg ROUND with an explicit rounding_mode (NUMERIC rounding):
    // ROUND_HALF_EVEN is Spark's bround, ROUND_HALF_AWAY_FROM_ZERO is
    // Spark's round (BigQuery's default). 1/2-arg forms pass through.
    "ROUND" -> { a =>
      if (a.length != 3) scala.None
      else strLit(a(2)).map(_.toUpperCase) match {
        case Some("ROUND_HALF_EVEN") => Some(s"bround(${a(0)}, ${a(1)})")
        case Some("ROUND_HALF_AWAY_FROM_ZERO") => Some(s"round(${a(0)}, ${a(1)})")
        case _ => throw new IllegalArgumentException(
          "ROUND rounding_mode must be the literal 'ROUND_HALF_EVEN' or " +
            "'ROUND_HALF_AWAY_FROM_ZERO'")
      }
    },
    // BigQuery SIGN preserves the input type (SIGN(INT64) is INT64);
    // Spark's sign always returns DOUBLE — silently different type.
    // The CASE keeps the argument's own type via coercion. Spark orders
    // NaN above every number (`NaN > 0` is TRUE), so an explicit isnan
    // guard must run FIRST for NaN to return NaN like BigQuery; the
    // double(x)-typed guard check keeps integer inputs out of isnan.
    "SIGN" -> (a => if (a.length == 1) Some(
      s"(CASE WHEN isnan(CAST((${a(0)}) AS DOUBLE)) THEN (${a(0)}) " +
        s"WHEN (${a(0)}) > 0 THEN 1 WHEN (${a(0)}) < 0 THEN -1 " +
        s"ELSE (${a(0)}) * 0 END)") else scala.None),
    // ARRAY_INCLUDES family (probe wave 15)
    "ARRAY_INCLUDES" -> (a =>
      if (a.length == 2) Some(s"array_contains(${a(0)}, ${a(1)})") else scala.None),
    "ARRAY_INCLUDES_ANY" -> (a =>
      if (a.length == 2) Some(s"arrays_overlap(${a(0)}, ${a(1)})") else scala.None),
    "ARRAY_INCLUDES_ALL" -> (a =>
      if (a.length == 2) Some(
        s"forall(${a(1)}, __e -> array_contains(${a(0)}, __e))") else scala.None),
    // SPLIT_SUBSTR(value, delimiter, start_split[, count]): the substring
    // spanning `count` splits from the 1-based start (negative counts
    // from the end, clamped like BigQuery; out-of-range → ''). Literal
    // delimiters only — the split is Spark's regex split, so the
    // delimiter is regex-quoted like the SPLIT handler does.
    "SPLIT_SUBSTR" -> { a =>
      if (a.length < 3 || a.length > 4) scala.None
      else strLit(a(1)).map { d =>
        val parts = s"split(${a(0)}, '${regexQuoteSql(d)}')"
        val n = s"size($parts)"
        val st = s"(${a(2)})"
        // negative start counts from the end (clamped to 1); positive
        // start beyond the last split yields the empty string
        val begin = s"(CASE WHEN $st < 0 THEN greatest($n + $st + 1, 1) " +
          s"WHEN $st = 0 THEN 1 ELSE $st END)"
        val cnt = if (a.length == 4) s"least((${a(3)}), $n - $begin + 1)"
          else s"($n - $begin + 1)"
        s"(CASE WHEN $begin > $n OR $cnt <= 0 THEN '' " +
          s"ELSE array_join(slice($parts, $begin, $cnt), ${a(1)}) END)"
      }
    },
    // DATE(y, m, d) constructor; 1-arg DATE(x) is Spark-native and the
    // 2-arg timezone form is handled by the dateTz pass before this
    "DATE" -> (a =>
      if (a.length == 3) Some(s"make_date(${a(0)}, ${a(1)}, ${a(2)})")
      else scala.None),
    "STARTS_WITH" -> renameTo("startswith"),
    "ENDS_WITH" -> renameTo("endswith"),
    "STRPOS" -> renameTo("instr"), // both 1-based, 0 = not found
    // BigQuery 3/4-arg INSTR (position may be negative = backward
    // search; occurrence-th match) → native graft_instr; the 2-arg
    // form passes through — Spark's instr is semantically identical
    "INSTR" -> (a =>
      if (a.length == 3) Some(s"graft_instr(${a(0)}, ${a(1)}, ${a(2)}, 1)")
      else if (a.length == 4) Some(s"graft_instr(${a(0)}, ${a(1)}, ${a(2)}, ${a(3)})")
      else scala.None),
    // FarmHash Fingerprint64 (public spec) as signed INT64 — the
    // native expression is bit-identical to BigQuery for the same bytes
    "FARM_FINGERPRINT" -> renameTo("graft_farm_fingerprint"),
    // JSON_EXTRACT returns JSON-encoded text (string scalars KEEP their
    // quotes: '"b"'); get_json_object strips them, which is the
    // JSON_EXTRACT_SCALAR/JSON_VALUE behavior. Route JSON_EXTRACT
    // through variant so scalars stay JSON-encoded.
    "JSON_EXTRACT" -> (a =>
      if (a.length == 2)
        Some(s"to_json(variant_get(parse_json(${a(0)}), ${a(1)}))")
      else scala.None),
    "JSON_QUERY" -> (a =>
      if (a.length == 2)
        Some(s"to_json(variant_get(parse_json(${a(0)}), ${a(1)}))")
      else scala.None),
    // 1-arg form defaults the path to '$' (BigQuery)
    "JSON_EXTRACT_SCALAR" -> { a =>
      if (a.length == 1) Some(s"get_json_object(${a(0)}, '$$')")
      else Some(s"get_json_object(${a.mkString(", ")})") },
    "JSON_VALUE" -> { a =>
      if (a.length == 1) Some(s"get_json_object(${a(0)}, '$$')")
      else Some(s"get_json_object(${a.mkString(", ")})") },
    // array extraction: elements stay JSON-encoded (…_ARRAY) or decode
    // to strings (…_STRING_ARRAY), per BigQuery
    "JSON_EXTRACT_ARRAY" -> jsonArray("to_json(v)"),
    "JSON_QUERY_ARRAY" -> jsonArray("to_json(v)"),
    "JSON_EXTRACT_STRING_ARRAY" -> jsonArray("cast(v as string)"),
    "JSON_VALUE_ARRAY" -> jsonArray("cast(v as string)"),
    "SAFE_ADD" -> renameTo("try_add"),
    "SAFE_SUBTRACT" -> renameTo("try_subtract"),
    "SAFE_MULTIPLY" -> renameTo("try_multiply"),
    "SAFE_NEGATE" -> (a =>
      if (a.length == 1) Some(s"try_multiply(${a(0)}, -1)") else scala.None),
    // BigQuery LOG(x, base); Spark log(base, x) — SWAPPED argument order
    // (1-arg LOG = ln in both, passes through)
    "LOG" -> (a =>
      if (a.length == 2) Some(s"log(${a(1)}, ${a(0)})") else scala.None),
    // BigQuery TRUNC is NUMERIC truncation toward zero; Spark's trunc is
    // date-only. A string-literal 2nd arg ('MM' …) is the Spark date
    // idiom and passes through.
    "TRUNC" -> { a =>
      if (a.length < 1 || a.length > 2 ||
        (a.length == 2 && strLit(a(1)).isDefined)) scala.None
      else {
        val n = if (a.length == 2) a(1) else "0"
        Some(s"(CASE WHEN (${a(0)}) >= 0 THEN floor((${a(0)}) * pow(10, $n)) " +
          s"ELSE ceil((${a(0)}) * pow(10, $n)) END / pow(10, $n))")
      }
    },
    // BigQuery regex replacements use \1 backrefs and literal $; Java
    // (Spark) uses $1 and needs \$ — convert literal replacement args
    "REGEXP_REPLACE" -> { a =>
      if (a.length != 3) scala.None
      else strLit(a(2)).map { rep =>
        val sb = new StringBuilder
        var i = 0
        while (i < rep.length) {
          val c = rep.charAt(i)
          if (c == '\\' && i + 1 < rep.length && rep.charAt(i + 1).isDigit) {
            // raw-literal backref: r'\1'
            sb += '$' += rep.charAt(i + 1); i += 2
          } else if (c == '\\' && i + 2 < rep.length && rep.charAt(i + 1) == '\\' &&
              rep.charAt(i + 2).isDigit) {
            // standard-literal backref: '\\1' (escaped backslash + digit)
            sb += '$' += rep.charAt(i + 2); i += 3
          } else if (c == '\\' && i + 1 < rep.length) {
            sb += c += rep.charAt(i + 1); i += 2
          } else if (c == '$') { sb ++= "\\\\$"; i += 1 }
          else { sb += c; i += 1 }
        }
        s"regexp_replace(${a(0)}, ${a(1)}, '$sb')"
      }
    },
    "ARRAY_AGG" -> arrayAgg,
    // BigQuery `expr IGNORE NULLS` INSIDE the analytic call's parens;
    // Spark takes it as a boolean second argument
    "FIRST_VALUE" -> ignoreNullsArg("first_value"),
    "LAST_VALUE" -> ignoreNullsArg("last_value"),
    // BigQuery ARRAY(SELECT …) subquery → scalar collect_list subquery.
    // Element order is engine-chosen (as for ARRAY_CONCAT_AGG) and
    // NULL elements are dropped rather than erroring — BigQuery errors
    // on both NULLs and multi-column projections; the single-column
    // contract is enforced by the generated column-list alias.
    "ARRAY" -> { a =>
      val inner = a.mkString(", ")
      if (selectHeadRe.findFirstIn(inner).isDefined)
        Some(s"(SELECT collect_list(__graft_arr_c) FROM ($inner) " +
          "AS __graft_arr_sub(__graft_arr_c))")
      else scala.None // ARRAY(1, 2) literal-function form stays as-is
    },
    // BigQuery CURRENT_DATE(tz): today in that zone (zero-arg form
    // passes through to Spark's own current_date)
    "CURRENT_DATE" -> { a =>
      if (a.length == 1 && a(0).trim.nonEmpty)
        Some(s"to_date(convert_timezone(${a(0)}, current_timestamp()))")
      else scala.None
    },
    // BigQuery CURRENT_DATETIME([tz]) → civil-time (no zone) value
    "CURRENT_DATETIME" -> { a =>
      if (a.isEmpty || (a.length == 1 && a(0).isEmpty)) Some("localtimestamp()")
      else if (a.length == 1)
        Some(s"convert_timezone(${a(0)}, current_timestamp())")
      else scala.None
    },
    // BigQuery ARRAY_CONCAT_AGG(arr): concatenate array-typed rows into
    // one array. Element order across rows is engine-chosen in BigQuery
    // too (no ORDER BY support here), so flatten(collect_list(..)) is
    // the faithful mapping.
    "ARRAY_CONCAT_AGG" -> (a =>
      if (a.length == 1) Some(s"flatten(collect_list(${a(0)}))") else scala.None),
    "ANY_VALUE" -> anyValueHaving,
    "TO_JSON_STRING" -> (a =>
      if (a.length == 1) Some(s"to_json(${a(0)})")
      // 2-arg pretty form: Spark's to_json has the same pretty option
      else if (a.length == 2)
        Some(s"to_json(${a(0)}, map('pretty', cast(${a(1)} as string)))")
      else scala.None),
    // TO_JSON(value) returns the JSON TYPE — in this engine canonical
    // JSON text (sorted keys, minified, like the PARSE_JSON
    // round-trip). jsonEncode handles scalars too (Spark's bare
    // to_json accepts only struct/array/map); stringify_wide_numbers
    // stays loud — BigQuery's default false matches this encoding.
    "TO_JSON" -> (a =>
      if (a.length == 1)
        Some(s"to_json(parse_json(${jsonEncode(a(0))}))")
      else scala.None),
    // BigQuery CHR is CODE-POINT based (CHR(960) = 'π'); Spark's chr
    // truncates to one byte mod 256 — silently different above 255
    "CHR" -> (a => if (a.length == 1) Some(
      s"(CASE WHEN (${a(0)}) = 0 THEN '' ELSE " +
        s"${callRewrites("CODE_POINTS_TO_STRING")(Seq(s"array(${a(0)})")).get} END)")
      else scala.None),
    // JSON constructors over the canonical-string representation
    "JSON_ARRAY" -> (a => Some(
      if (a.isEmpty || (a.length == 1 && a(0).trim.isEmpty)) "'[]'"
      else s"concat('[', concat_ws(',', ${a.map(jsonEncode).mkString(", ")}), ']')")),
    "JSON_OBJECT" -> { a =>
      if (a.length == 1 && a(0).trim.isEmpty) Some("'{}'")
      else if (a.isEmpty) Some("'{}'")
      else if (a.length % 2 != 0) scala.None // key list w/o values: loud
      else Some(s"to_json(named_struct(${a.mkString(", ")}), " +
        "map('ignoreNullFields', 'false'))")
    },
    "JSON_TYPE" -> (a => if (a.length == 1) Some(
      s"CASE WHEN ${a(0)} IS NULL THEN NULL" +
        s" WHEN left(${a(0)}, 1) = '{' THEN 'object'" +
        s" WHEN left(${a(0)}, 1) = '[' THEN 'array'" +
        s""" WHEN left(${a(0)}, 1) = '"' THEN 'string'""" +
        s" WHEN ${a(0)} IN ('true', 'false') THEN 'boolean'" +
        s" WHEN ${a(0)} = 'null' THEN 'null'" +
        s" ELSE 'number' END") else scala.None),
    // strict converter: BOOL(json). INT64/FLOAT64 need no entry — the
    // type-spelling chain already turned them into Spark's bigint()/
    // double() cast functions, which error on non-numeric JSON text
    // exactly like BigQuery's strict converters.
    "BOOL" -> (a =>
      if (a.length == 1) Some(s"cast(${a(0)} as boolean)") else scala.None),
    // STRING(x): type-dispatched at analysis time (BqStringOf) — a
    // STRING child is a JSON value (strict converter: must be a JSON
    // string, loud otherwise), any other child takes the cast path
    // (timestamp overload). STRING(L) type parameters became VARCHAR(L)
    // in the earlier type-spelling pass and never reach here.
    "STRING" -> (a =>
      if (a.length == 1) Some(s"graft_string_of(${a(0)})") else scala.None),
    // LAX converters: best-effort coercion, NULL when impossible
    "LAX_STRING" -> (a => if (a.length == 1) Some(
      s"CASE WHEN ${a(0)} IS NULL OR ${a(0)} = 'null' THEN NULL" +
        s" WHEN left(${a(0)}, 1) IN ('{', '[') THEN NULL" +
        s""" WHEN left(${a(0)}, 1) = '"' THEN get_json_object(${a(0)}, '$$')""" +
        s" ELSE ${a(0)} END") else scala.None),
    "LAX_INT64" -> (a => if (a.length == 1) Some(
      s"cast(round(try_cast(${laxNumText(a(0))} as double)) as bigint)")
      else scala.None),
    "LAX_FLOAT64" -> (a => if (a.length == 1) Some(
      s"try_cast(${laxNumText(a(0))} as double)") else scala.None),
    "LAX_BOOL" -> (a => if (a.length == 1) Some(laxBoolText(a(0)))
      else scala.None),
    // typed-array converters over JSON arrays: strict mirrors the
    // scalar INT64()/FLOAT64()/BOOL() cast semantics, LAX mirrors the
    // scalar LAX_* element rules — element-wise through the same
    // variant machinery as JSON_EXTRACT_ARRAY
    "INT64_ARRAY" -> jsonArray("cast(to_json(v) as bigint)"),
    "FLOAT64_ARRAY" -> jsonArray("cast(to_json(v) as double)"),
    "BOOL_ARRAY" -> jsonArray("cast(to_json(v) as boolean)"),
    "STRING_ARRAY" -> jsonArray("cast(v as string)"),
    "LAX_INT64_ARRAY" -> jsonArray(
      s"cast(round(try_cast(${laxNumText("to_json(v)")} as double)) as bigint)"),
    "LAX_FLOAT64_ARRAY" -> jsonArray(
      s"try_cast(${laxNumText("to_json(v)")} as double)"),
    "LAX_BOOL_ARRAY" -> jsonArray(laxBoolText("to_json(v)")),
    "LAX_STRING_ARRAY" -> jsonArray("cast(v as string)"),
    // BigQuery's JSON type: this engine's JSON representation is the
    // CANONICAL JSON STRING, so PARSE_JSON validates (invalid text
    // throws, as in BigQuery) and canonicalizes through Spark's
    // variant round-trip; the result feeds JSON_VALUE/JSON_QUERY and
    // friends unchanged.
    // wide_number_mode => 'round' is Spark parse_json's own behavior
    // (doubles round); 'exact' (BigQuery's default errors on precision
    // loss) has no Spark counterpart → loud, never silently rounded
    "PARSE_JSON" -> (a =>
      if (a.length == 1) Some(s"to_json(parse_json(${a(0)}))")
      else if (a.length == 2 && a(1).trim.matches(
        raw"(?is)wide_number_mode\s*=>\s*'round'"))
        Some(s"to_json(parse_json(${a(0)}))")
      else scala.None),
    // SAFE.PARSE_JSON → NULL on invalid text
    "SAFE_PARSE_JSON" -> (a =>
      if (a.length == 1) Some(s"to_json(try_parse_json(${a(0)}))")
      else if (a.length == 2 && a(1).trim.matches(
        raw"(?is)wide_number_mode\s*=>\s*'round'"))
        Some(s"to_json(try_parse_json(${a(0)}))")
      else scala.None),
    // ---- JSON mutators (graft.functions.JsonMutators kernel). Output
    // rides the same PARSE_JSON round-trip as every JSON producer, so
    // canonicalization (sorted keys, minified) stays uniform. Unknown
    // named arguments leave the call unrewritten → Spark fails loud.
    "JSON_SET" -> { a =>
      if (a.length < 3 || a.length % 2 == 0 || a.exists(_.contains("=>")))
        scala.None
      else Some(canonicalJson(a.tail.grouped(2).foldLeft(a.head) {
        case (acc, Seq(p, v)) => s"graft_json_set($acc, $p, $v)"
        case (acc, _) => acc
      }))
    },
    "JSON_REMOVE" -> { a =>
      if (a.length < 2 || a.exists(_.contains("=>"))) scala.None
      else Some(canonicalJson(
        a.tail.foldLeft(a.head)((acc, p) => s"graft_json_remove($acc, $p)")))
    },
    "JSON_STRIP_NULLS" -> { a =>
      val (named, pos) = a.partition(s => stripNullsArgRe.findFirstIn(s).isDefined)
      if (pos.isEmpty || pos.length > 2) scala.None
      else {
        var ia = "true" // BigQuery defaults
        var re = "false"
        named.foreach { case stripNullsArgRe(k, v) =>
          if (k.equalsIgnoreCase("include_arrays")) ia = v else re = v
        }
        Some(canonicalJson(s"graft_json_strip_nulls(${pos(0)}, " +
          s"${pos.lift(1).getOrElse("'" + "$" + "'")}, $ia, $re)"))
      }
    },
    "JSON_ARRAY_INSERT" -> jsonArrayMutator("graft_json_array_insert"),
    "JSON_ARRAY_APPEND" -> jsonArrayMutator("graft_json_array_append"),
    // JSON_KEYS(json [, max_depth] [, mode => 'strict'|'lax'|'lax recursive'])
    // → sorted dotted key paths (ARRAY<STRING>); non-object root → NULL
    "JSON_KEYS" -> { a =>
      val (named, pos) = a.partition(s => jsonModeArgRe.findFirstIn(s).isDefined)
      val mode = named.headOption.collect { case jsonModeArgRe(v) => v }.getOrElse("'strict'")
      if (named.length > 1 || pos.isEmpty || pos.length > 2 ||
          pos.exists(_.contains("=>"))) scala.None
      else Some(s"graft_json_keys(${pos(0)}, " +
        s"CAST(${pos.lift(1).getOrElse(Int.MaxValue.toString)} AS INT), $mode)")
    },
    // BigQuery collation names → Spark's: 'und:ci' is the documented
    // case-insensitive collation spec
    "COLLATE" -> { a =>
      if (a.length != 2) scala.None
      else {
        val spec = a(1).trim.toLowerCase match {
          case "'und:ci'" => "'UNICODE_CI'"
          case "''" | "'binary'" => "'UTF8_BINARY'"
          case _ => a(1)
        }
        Some(s"collate(${a(0)}, $spec)")
      }
    },
    "SAFE_DIVIDE" -> (a =>
      if (a.length == 2) Some(s"try_divide(${a(0)}, ${a(1)})") else scala.None),
    // bytes → string with invalid UTF-8 replaced by U+FFFD (native
    // kernel — Spark 4's decode throws on malformed input instead)
    "SAFE_CONVERT_BYTES_TO_STRING" -> (a =>
      if (a.length == 1) Some(s"graft_bytes_to_string(${a(0)})") else scala.None),
    // PARSE_NUMERIC/PARSE_BIGNUMERIC: string → decimal with BigQuery's
    // default precision/scale; whitespace-tolerant, exponent-capable
    // (Spark's string→decimal cast shares the literal grammar)
    "PARSE_NUMERIC" -> (a =>
      if (a.length == 1) Some(s"CAST(trim(${a(0)}) AS DECIMAL(38,9))") else scala.None),
    "PARSE_BIGNUMERIC" -> (a =>
      if (a.length == 1) Some(s"CAST(trim(${a(0)}) AS DECIMAL(38,18))") else scala.None),
    // MAKE_INTERVAL([year][, month][, day][, hour][, minute][, second])
    // with BigQuery's named arguments (`day => 3`) — Spark's
    // make_interval is positional-only and adds a weeks slot
    "MAKE_INTERVAL" -> { a =>
      val slots = Array("0", "0", "0", "0", "0", "0")
      val order = Seq("year", "month", "day", "hour", "minute", "second")
      var pos = 0
      var named = false
      var ok = a.length <= 6 // 7-slot = already Spark's positional form
      if (ok) a.foreach {
        case intervalArgRe(k, v) =>
          named = true
          slots(order.indexOf(k.toLowerCase)) = v
        case p if !named => slots(pos) = p; pos += 1
        case _ => ok = false // positional AFTER named: BigQuery rejects
      }
      if (!ok) scala.None
      else Some(s"make_interval(${slots(0)}, ${slots(1)}, 0, ${slots(2)}, " +
        s"${slots(3)}, ${slots(4)}, ${slots(5)})")
    },
    "GENERATE_TIMESTAMP_ARRAY" -> { a =>
      if (a.length == 3) a(2) match {
        case intervalArg(n, u) => Some(
          s"sequence(cast(${a(0)} as timestamp), cast(${a(1)} as timestamp), interval $n $u)")
        case _ => scala.None
      } else scala.None
    },
    "GENERATE_DATE_ARRAY" -> { a =>
      if (a.length == 2)
        Some(s"sequence(to_date(${a(0)}), to_date(${a(1)}), interval 1 day)")
      else if (a.length == 3) a(2) match {
        case intervalArg(n, u) =>
          Some(s"sequence(to_date(${a(0)}), to_date(${a(1)}), interval $n $u)")
        case _ => scala.None
      } else scala.None
    },
    // --- pack 5: BQ sketch namespace onto Spark's native DataSketches
    //     HLL (codegen'd, mergeable — the 100 TB path). BQ precision =
    //     lgConfigK; Spark caps at 21 vs BQ's 24 — out-of-range fails
    //     loud rather than silently re-bucketing.
    "HLL_COUNT_INIT" -> { a =>
      if (a.length == 1) Some(s"hll_sketch_agg(${a(0)}, 15)") // BQ default precision 15
      else if (a.length == 2) Some(s"hll_sketch_agg(${a(0)}, ${a(1)})")
      else scala.None
    },
    "HLL_COUNT_MERGE" -> (a =>
      if (a.length == 1) Some(s"hll_sketch_estimate(hll_union_agg(${a(0)}, true))")
      else scala.None),
    "HLL_COUNT_MERGE_PARTIAL" -> (a =>
      if (a.length == 1) Some(s"hll_union_agg(${a(0)}, true)") else scala.None),
    "HLL_COUNT_EXTRACT" -> (a =>
      if (a.length == 1) Some(s"hll_sketch_estimate(${a(0)})") else scala.None),
    // KLL_QUANTILES.* (r12): mergeable quantile sketches
    // (KllSketch.scala — level-compaction, EXACT below precision,
    // engine-local 'KLL1' bytes, not DataSketches wire-compatible).
    // INT64 spellings tag the sketch and cast extraction back; the
    // double carrier is exact for |x| ≤ 2^53 (documented).
    "KLL_QUANTILES_INIT_INT64" -> { a =>
      if (a.length == 1) Some(s"graft_kll_init(${a(0)}, ${KllDefaultPrecision}, true)")
      else if (a.length == 2) Some(s"graft_kll_init(${a(0)}, ${a(1)}, true)")
      else scala.None
    },
    "KLL_QUANTILES_INIT_FLOAT64" -> { a =>
      if (a.length == 1) Some(s"graft_kll_init(${a(0)}, ${KllDefaultPrecision}, false)")
      else if (a.length == 2) Some(s"graft_kll_init(${a(0)}, ${a(1)}, false)")
      else scala.None
    },
    "KLL_QUANTILES_MERGE_PARTIAL" -> (a =>
      if (a.length == 1) Some(s"graft_kll_merge(${a(0)})") else scala.None),
    "KLL_QUANTILES_MERGE_INT64" -> (a =>
      if (a.length == 2) Some(
        s"transform(graft_kll_extract(graft_kll_merge(${a(0)}), ${a(1)}), " +
          "__kq -> CAST(__kq AS BIGINT))")
      else scala.None),
    "KLL_QUANTILES_MERGE_FLOAT64" -> (a =>
      if (a.length == 2)
        Some(s"graft_kll_extract(graft_kll_merge(${a(0)}), ${a(1)})")
      else scala.None),
    "KLL_QUANTILES_MERGE_POINT_INT64" -> (a =>
      if (a.length == 2) Some(
        s"CAST(graft_kll_point(graft_kll_merge(${a(0)}), ${a(1)}) AS BIGINT)")
      else scala.None),
    "KLL_QUANTILES_MERGE_POINT_FLOAT64" -> (a =>
      if (a.length == 2)
        Some(s"graft_kll_point(graft_kll_merge(${a(0)}), ${a(1)})")
      else scala.None),
    "KLL_QUANTILES_EXTRACT_INT64" -> (a =>
      if (a.length == 2) Some(
        s"transform(graft_kll_extract(${a(0)}, ${a(1)}), " +
          "__kq -> CAST(__kq AS BIGINT))")
      else scala.None),
    "KLL_QUANTILES_EXTRACT_FLOAT64" -> (a =>
      if (a.length == 2) Some(s"graft_kll_extract(${a(0)}, ${a(1)})")
      else scala.None),
    "KLL_QUANTILES_EXTRACT_POINT_INT64" -> (a =>
      if (a.length == 2)
        Some(s"CAST(graft_kll_point(${a(0)}, ${a(1)}) AS BIGINT)")
      else scala.None),
    "KLL_QUANTILES_EXTRACT_POINT_FLOAT64" -> (a =>
      if (a.length == 2) Some(s"graft_kll_point(${a(0)}, ${a(1)})")
      else scala.None),
    // APPROX_QUANTILES(x, n) → n+1 evenly spaced quantiles. The
    // fraction array must be foldable for percentile_approx, so only a
    // literal n compiles — anything else stays unresolved (loud).
    "APPROX_QUANTILES" -> { a =>
      if (a.length == 2 && a(1).trim.matches("""\d+""")) {
        val n = a(1).trim.toInt
        if (n < 1 || n > 1000) scala.None
        else {
          val fr = (0 to n).map(i => s"${i.toDouble / n}").mkString("array(", ", ", ")")
          Some(s"percentile_approx(${a(0)}, $fr, 10000)")
        }
      } else scala.None
    },
    // BQ vector-search distance functions over ARRAY<FLOAT64> — pure
    // higher-order built-ins, stay inside whole-stage codegen
    "COSINE_DISTANCE" -> (a =>
      if (a.length == 2) Some(
        s"(1.0D - aggregate(zip_with(${a(0)}, ${a(1)}, (__va, __vb) -> CAST(__va AS DOUBLE) * __vb), 0D, (__s, __v) -> __s + __v) " +
        s"/ (sqrt(aggregate(${a(0)}, 0D, (__s, __v) -> __s + CAST(__v AS DOUBLE) * __v)) " +
        s"* sqrt(aggregate(${a(1)}, 0D, (__s, __v) -> __s + CAST(__v AS DOUBLE) * __v))))")
      else scala.None),
    "EUCLIDEAN_DISTANCE" -> (a =>
      if (a.length == 2) Some(
        s"sqrt(aggregate(zip_with(${a(0)}, ${a(1)}, (__va, __vb) -> (CAST(__va AS DOUBLE) - __vb) * (CAST(__va AS DOUBLE) - __vb)), 0D, (__s, __v) -> __s + __v))")
      else scala.None),
    // 2-arg LAST_DAY(d, part); the 1-arg form is Spark-native (month)
    "LAST_DAY" -> { a =>
      if (a.length != 2) scala.None
      else a(1).trim.toUpperCase.replaceAll("\\s+", "") match {
        case "MONTH" => Some(s"last_day(${a(0)})")
        case "YEAR" => Some(s"make_date(year(${a(0)}), 12, 31)")
        case "QUARTER" =>
          Some(s"date_sub(add_months(date_trunc('QUARTER', ${a(0)}), 3), 1)")
        // WEEK = Sunday-start → ends Saturday; ISOWEEK ends Sunday
        case "WEEK" | "WEEK(SUNDAY)" =>
          Some(s"date_add(cast(${a(0)} as date), 7 - dayofweek(${a(0)}))")
        case "ISOWEEK" =>
          Some(s"date_add(cast(${a(0)} as date), 7 - ((dayofweek(${a(0)}) + 5) % 7 + 1))")
        case weekAnyDay(day) =>
          // week starts on <day> → ends 6 days after that week's start
          val k = weekdayIndex(day.toUpperCase)
          Some(s"date_add(cast(${a(0)} as date), 6 - ((dayofweek(${a(0)}) - $k + 7) % 7))")
        case _ => scala.None
      }
    },
    "DATE_FROM_UNIX_DATE" -> (a =>
      if (a.length == 1) Some(s"date_add(DATE'1970-01-01', cast(${a(0)} as int))")
      else scala.None),
    "UNIX_DATE" -> (a =>
      if (a.length == 1) Some(s"datediff(${a(0)}, DATE'1970-01-01')")
      else scala.None),
    "FORMAT_DATE" -> fmtCall("date_format"),
    "FORMAT_DATETIME" -> fmtCall("date_format"),
    "FORMAT_TIMESTAMP" -> fmtCall("date_format"),
    "PARSE_DATE" -> fmtCall("to_date"),
    "PARSE_DATETIME" -> fmtCall("to_timestamp"),
    "PARSE_TIMESTAMP" -> fmtCall("to_timestamp"),
    "TIMESTAMP_DIFF" -> tsDiff, "DATETIME_DIFF" -> datetimeDiff,
    "DATE_DIFF" -> dateDiff,
    // ---- TIME type family (TIME is an 'HH:mm:ss' string here; ops
    // anchor it on 1970-01-01, compute in timestamp space, and format
    // the time-of-day back — which also gives BigQuery's wrap-around
    // on TIME_ADD/TIME_SUB past midnight) --------------------------
    "TIME_TRUNC" -> { a =>
      if (a.length == 2 && isBareUnit(a(1), subDayUnits))
        Some(s"date_format(date_trunc('${a(1).trim.toUpperCase}', " +
          s"${timeAnchor(a(0))}), 'HH:mm:ss')")
      else scala.None
    },
    "TIME_ADD" -> timeAddSub(1), "TIME_SUB" -> timeAddSub(-1),
    "TIME_DIFF" -> { a =>
      if (a.length == 3 && isBareUnit(a(2), subDayUnits))
        Some(s"timestampdiff(${a(2).trim.toUpperCase}, " +
          s"${timeAnchor(a(1))}, ${timeAnchor(a(0))})")
      else scala.None
    },
    "CURRENT_TIME" -> { a =>
      if (a.isEmpty || (a.length == 1 && a(0).isEmpty))
        Some("date_format(localtimestamp(), 'HH:mm:ss')")
      else if (a.length == 1)
        Some(s"date_format(convert_timezone(${a(0)}, current_timestamp()), 'HH:mm:ss')")
      else scala.None
    },
    "FORMAT_TIME" -> { a =>
      for {
        f <- if (a.length == 2) a.headOption.flatMap(strLit) else scala.None
        p <- javaPattern(f)
      } yield s"date_format(${timeAnchor(a(1))}, '${p.replace("'", "''")}')"
    },
    "PARSE_TIME" -> { a =>
      for {
        f <- if (a.length == 2) a.headOption.flatMap(strLit) else scala.None
        p <- javaPattern(f)
      } yield s"date_format(to_timestamp(${a(1)}, '${p.replace("'", "''")}'), 'HH:mm:ss')"
    },
    // BigQuery REGEXP_INSTR: up to (value, regexp, position, occurrence,
    // occurrence_position). Spark's own regexp_instr reads the 3rd arg
    // as a GROUP INDEX, so every 3+-arg form must route to the native
    // kernel; 2-arg routes too, for uniform code-point semantics.
    "REGEXP_INSTR" -> { a =>
      if (a.length < 2 || a.length > 5) scala.None
      else {
        val pos = if (a.length >= 3) a(2) else "1"
        val occ = if (a.length >= 4) a(3) else "1"
        val op = if (a.length >= 5) a(4) else "0"
        Some(s"graft_regexp_instr(${a(0)}, ${a(1)}, $pos, $occ, $op)")
      }
    },
    // BigQuery INITCAP word-breaks on a documented delimiter SET (not
    // just spaces like Spark's initcap); 2-arg takes a custom set
    "INITCAP" -> { a =>
      if (a.length == 1) Some(s"graft_initcap(${a(0)}, $initcapDefaultDelims)")
      else if (a.length == 2) Some(s"graft_initcap(${a(0)}, ${a(1)})")
      else scala.None
    },
    "ARRAY_FIRST" -> (a =>
      if (a.length == 1) Some(s"element_at(${a(0)}, 1)") else scala.None),
    "ARRAY_LAST" -> (a =>
      if (a.length == 1) Some(s"element_at(${a(0)}, -1)") else scala.None),
    // ARRAY_SLICE(arr, start, end): zero-based INCLUSIVE offsets,
    // negatives count from the end; out-of-range → clamped/empty
    "ARRAY_SLICE" -> { a =>
      if (a.length != 3) scala.None
      else {
        val (arr, s, e) = (a(0), a(1), a(2))
        def oneBased(o: String) =
          s"(CASE WHEN ($o) >= 0 THEN ($o) + 1 ELSE size($arr) + ($o) + 1 END)"
        val s1 = s"greatest(${oneBased(s)}, 1)"
        Some(s"slice($arr, $s1, greatest(${oneBased(e)} - $s1 + 1, 0))")
      }
    },
    "DATE_ADD" -> dateAddSub(1), "DATE_SUB" -> dateAddSub(-1),
    "TIMESTAMP_ADD" -> tsAddSub(1), "TIMESTAMP_SUB" -> tsAddSub(-1),
    "DATETIME_ADD" -> tsAddSub(1), "DATETIME_SUB" -> tsAddSub(-1),
    "DATE_TRUNC" -> dateTrunc,
    "DATETIME_TRUNC" -> tsTrunc, "TIMESTAMP_TRUNC" -> tsTrunc,
    "STRING_AGG" -> stringAgg,
    // BigQuery EXTRACT(WEEK …) counts SUNDAY-start weeks with week 0
    // before the year's first Sunday; Spark's WEEK field is ISO. ISOWEEK
    // maps to Spark's WEEK; all other fields agree and pass through.
    "EXTRACT" -> { a =>
      if (a.length != 1) scala.None
      else {
        a(0) match {
          case extractWeek(x) => Some(
            s"((dayofyear($x) + 6 - ((8 - dayofweek(date_trunc('YEAR', $x))) % 7)) div 7)")
          case extractWeekDay(day, x) if weekdayIndex.contains(day.toUpperCase) =>
            // same week-0-before-first-<day> convention, start-day shifted
            val k = weekdayIndex(day.toUpperCase)
            Some(s"((dayofyear($x) + 6 - ((7 + $k - dayofweek(date_trunc('YEAR', $x))) % 7)) div 7)")
          case extractIsoWeek(x) => Some(s"extract(WEEK FROM $x)")
          // EXTRACT(DATE/DATETIME/TIME FROM ts) — part extractions
          // Spark's extract has no field for
          case extractDate(x) => Some(s"cast($x as date)")
          case extractDatetime(x) => Some(s"cast($x as timestamp_ntz)")
          case extractTime(x) => Some(s"date_format($x, 'HH:mm:ss')")
          // Spark spells the day-of-year field DOY
          case extractDayOfYear(x) => Some(s"extract(DOY FROM $x)")
          case _ => scala.None
        }
      }
    }
  ) ++ safeNanFns.map { fn =>
    // SAFE.<NaN-producing math fn> → nanvl(fn(…), NULL): BigQuery's
    // SAFE prefix yields NULL where Spark yields NaN (SQRT(-1)…)
    s"SAFE_NANVL_$fn" -> { (a: Seq[String]) =>
      Some(s"nanvl(${fn.toLowerCase}(${a.mkString(", ")}), cast(null as double))")
    }
  }.toMap

  /** BigQuery REGEXP_EXTRACT/REGEXP_SUBSTR: NULL on no match, extracts
    * the single capture group when present (whole match otherwise);
    * Spark's regexp_extract returns '' on no match, so route through
    * first-of-extract_all. Whether the GROUP or the WHOLE match is
    * returned depends on the pattern text, so a non-literal pattern is
    * statically undecidable — and Spark 4 resolves both names natively
    * with different semantics, which would be silently wrong. Fail loud
    * instead.
    */
  private def regexpExtractFirst: Seq[String] => Option[String] = a =>
    if (a.length >= 2 && a.length <= 4) Some(strLit(a(1)) match {
      case Some(p) =>
        val idx = if (captureGroups(p) > 0) 1 else 0
        // 3rd arg = 1-based start position (substr is character-based,
        // matching BigQuery's position semantics); 4th = occurrence
        val src = if (a.length >= 3) s"substr(${a(0)}, ${a(2)})" else a(0)
        val occ = if (a.length == 4) a(3) else "1"
        s"try_element_at(regexp_extract_all($src, ${a(1)}, $idx), $occ)"
      case scala.None =>
        "raise_error('REGEXP_EXTRACT/REGEXP_SUBSTR with a non-literal " +
          "pattern: BigQuery group semantics depend on the pattern text " +
          "- use a literal pattern')"
    }) else scala.None

  private def tsDiff: Seq[String] => Option[String] = a =>
    if (a.length == 3 && isBareUnit(a(2), timeUnits))
      Some(s"timestampdiff(${a(2).trim.toUpperCase}, ${a(1)}, ${a(0)})")
    else scala.None

  /** DATETIME_DIFF counts date_part BOUNDARY crossings (same semantics
    * as DATE_DIFF — `DATETIME_DIFF('2024-01-02 00:10','2024-01-01
    * 23:50', DAY)` = 1), unlike TIMESTAMP_DIFF's elapsed-whole-units.
    * DAY-and-coarser route through the dateDiff boundary formulas on the
    * date part; sub-day units truncate both operands to the unit first,
    * which turns timestampdiff into a boundary count.
    */
  private def datetimeDiff: Seq[String] => Option[String] = a =>
    if (a.length != 3) scala.None
    else {
      val u = a(2).trim.toUpperCase
      if (dateUnits.contains(u))
        dateDiff(Seq(s"cast(${a(0)} as date)", s"cast(${a(1)} as date)", u))
      else if (timeUnits.contains(u))
        Some(s"timestampdiff($u, date_trunc('$u', ${a(1)}), date_trunc('$u', ${a(0)}))")
      else scala.None
    }

  /** FORMAT_x/PARSE_x with a literal strftime format → the Spark
    * function with a java.time pattern. BigQuery arg order is
    * (format, value); Spark's is (value, format).
    */
  /** Directives java.time patterns can't express — %V (ISO week),
    * %G (ISO year: the year of the week's Thursday), %u (ISO weekday,
    * Monday=1), %s (unix seconds) — compile to COMPUTED expressions;
    * the surrounding format runs stay date_format segments and the
    * whole thing concatenates. None when no computed directive appears
    * (the single date_format path wins) or a neighbor run has an
    * unsupported directive (loud, as before).
    */
  private def fmtComposite(e: String, f: String): Option[String] = {
    val computed = Set('V', 'G', 'u', 's')
    if (!f.sliding(2).exists(s =>
        s.length == 2 && s(0) == '%' && computed(s(1)))) return scala.None
    val parts = Seq.newBuilder[String]
    val buf = new StringBuilder
    var ok = true
    def flushBuf(): Unit = if (buf.nonEmpty) {
      javaPattern(buf.toString) match {
        case Some(p) if p.nonEmpty =>
          parts += s"date_format($e, '${p.replace("'", "''")}')"
        case Some(_) =>
        case scala.None => ok = false
      }
      buf.clear()
    }
    // ISO day-of-week from Spark's Sunday=1 dayofweek
    val isoDow = s"(((dayofweek($e) + 5) % 7) + 1)"
    var i = 0
    while (i < f.length && ok) {
      if (f.charAt(i) == '%' && i + 1 < f.length && computed(f.charAt(i + 1))) {
        flushBuf()
        parts += (f.charAt(i + 1) match {
          case 'V' => s"lpad(cast(weekofyear($e) as string), 2, '0')"
          case 'u' => s"cast($isoDow as string)"
          case 'G' =>
            s"cast(year(date_add(cast($e as date), 4 - $isoDow)) as string)"
          case _ => s"cast(unix_seconds(cast($e as timestamp)) as string)"
        })
        i += 2
      } else if (f.charAt(i) == '%' && i + 1 < f.length) {
        buf += '%' += f.charAt(i + 1); i += 2
      } else { buf += f.charAt(i); i += 1 }
    }
    flushBuf()
    if (!ok) scala.None
    else Some(s"concat(${parts.result().mkString(", ")})")
  }

  private def fmtCall(spark: String): Seq[String] => Option[String] = a =>
    if (a.length != 2) scala.None
    else a.headOption.flatMap(strLit) match {
      case Some(f) =>
        fmtComposite(a(1), f).orElse(
          javaPattern(f).map(p => s"$spark(${a(1)}, '${p.replace("'", "''")}')"))
      case scala.None => scala.None
    }

  /** BigQuery QUALIFY (top-level statements only): post-window filter.
    * `… SELECT <sel> FROM … QUALIFY <cond> [ORDER/LIMIT tail]` becomes
    * `… SELECT * EXCEPT(__qualify__) FROM (SELECT <sel>, (<cond>) AS
    * __qualify__ FROM …) WHERE __qualify__ [tail]` — the window
    * expressions in <cond> evaluate inside the subquery, the filter
    * outside, exactly BigQuery's evaluation order.
    */
  private def rewriteQualify(sql: String): String = {
    if (absent(sql, "QUALIFY")) return sql
    val ts = SqlLex.tokens(sql)
    var depth = 0
    var selPos = -1
    var fromPos = -1
    var qualPos = -1
    var i = 0
    while (i < ts.length && qualPos < 0) {
      ts(i)._1 match {
        case "(" => depth += 1
        case ")" => depth -= 1
        case "SELECT" if depth == 0 => selPos = ts(i)._2; fromPos = -1
        case "FROM" if depth == 0 && fromPos < 0 => fromPos = ts(i)._2
        case "QUALIFY" if depth == 0 => qualPos = ts(i)._2
        case _ =>
      }
      i += 1
    }
    if (qualPos < 0 || selPos < 0 || fromPos < 0) return sql
    var tailPos = sql.length
    depth = 0
    while (i < ts.length && tailPos == sql.length) {
      ts(i)._1 match {
        case "(" => depth += 1
        case ")" => depth -= 1
        case "ORDER" | "LIMIT" if depth == 0 => tailPos = ts(i)._2
        case _ =>
      }
      i += 1
    }
    val cond = sql.substring(qualPos + "QUALIFY".length, tailPos).trim
    val prefix = sql.substring(0, selPos)
    val selList = sql.substring(selPos + "SELECT".length, fromPos).trim
    val fromPart = sql.substring(fromPos, qualPos).trim
    val tail = sql.substring(tailPos)
    s"${prefix}SELECT * EXCEPT(__qualify__) FROM (SELECT $selList, ($cond) AS __qualify__ $fromPart) WHERE __qualify__ $tail"
  }

  private val arrayCompRe = trigger(raw"(?is)\bARRAY\s*\(\s*SELECT\b", "ARRAY")
  private val arrayCompSelRe =
    raw"(?is)^SELECT\s+(DISTINCT\s+)?(.+?)\s+FROM\s+UNNEST\s*\(".r
  private val arrayCompTailRe =
    raw"(?is)^(?:AS\s+)?([A-Za-z_]\w*)?\s*(?:WHERE\s+(.+))?$$".r

  /** BigQuery array comprehension `ARRAY(SELECT [DISTINCT] expr FROM
    * UNNEST(arr) [AS] v [WHERE cond])` → higher-order functions:
    * `[array_distinct(]transform(filter(arr, v -> cond), v -> expr)[)]`
    * — stays inside codegen, no subquery. Non-comprehension ARRAY(SELECT
    * …) subqueries pass through.
    */
  private def rewriteArrayComprehension(text: String): String =
    spliceOutside(arrayCompRe, text) { (sql, m) =>
      val open = sql.indexOf('(', m.start)
      val close = SqlLex.close(sql, open)
      val inner = if (close < 0) "" else sql.substring(open + 1, close).trim
      // a shape that is not a comprehension declines
      for {
        sm <- arrayCompSelRe.findFirstMatchIn(inner)
        uOpen = inner.indexOf('(', sm.end - 1)
        uClose = SqlLex.close(inner, uOpen)
        if uClose >= 0
        tm <- arrayCompTailRe.findFirstMatchIn(inner.substring(uClose + 1).trim)
      } yield {
        val arr = inner.substring(uOpen + 1, uClose).trim
        val distinct = sm.group(1) != null
        val sel = sm.group(2).trim
        val v = Option(tm.group(1)).getOrElse("__x")
        val cond = Option(tm.group(2))
        val base = cond.map(c => s"filter($arr, $v -> ($c))")
          .getOrElse(s"($arr)")
        val mapped =
          if (sel == v || sel == "*") base
          else s"transform($base, $v -> $sel)"
        (m.start, close + 1, if (distinct) s"array_distinct($mapped)" else mapped)
      }
    }

  private val unnestFrom =
    trigger(raw"(?is)(,|\bCROSS\s+JOIN\b|\bLEFT\s+(?:OUTER\s+)?JOIN\b|\bINNER\s+JOIN\b|\bFROM\b)\s*UNNEST\s*\(",
      "UNNEST")
  /** keywords that may directly follow an alias-less `UNNEST(e)` — the
    * alias capture must not swallow them (`FROM t, UNNEST(e) WHERE …`).
    */
  private val unnestStop =
    "(?!(?:WHERE|GROUP|ORDER|JOIN|ON|LIMIT|QUALIFY|HAVING|WINDOW|UNION|" +
      "EXCEPT|INTERSECT|LEFT|RIGHT|INNER|CROSS|FULL|OUTER|LATERAL|WITH|" +
      "SELECT|FROM|UNNEST|AS)\\b)"
  private val unnestAlias =
    raw"(?is)^\s*(?:(?:AS\s+)?$unnestStop([A-Za-z_]\w*))?(\s*WITH\s+OFFSET(?:\s+(?:AS\s+)?$unnestStop([A-Za-z_]\w*))?)?".r

  /** FROM-position UNNEST → LATERAL VIEW:
    * `FROM t, UNNEST(e) [AS] v [WITH OFFSET [AS] o]` →
    * `FROM t LATERAL VIEW [p]explode(e) __u AS [o,] v`; the LEFT JOIN
    * … ON TRUE form becomes LATERAL VIEW OUTER. `IN UNNEST` is already
    * rewritten away before this runs, so every remaining
    * comma/JOIN-adjacent UNNEST is the table operator.
    */
  private val leftOnTrue = raw"(?is)^\s*ON\s+TRUE".r

  private def rewriteFromUnnest(text: String): String =
    spliceOutside(unnestFrom, text) { (sql, m) =>
      val open = sql.indexOf('(', m.end - 1)
      val close = SqlLex.close(sql, open)
      // the alias pattern is all optional, so it matches wherever the call closes
      if (close < 0) scala.None
      else unnestAlias.findFirstMatchIn(sql.substring(close + 1)).map { am =>
        val arr = sql.substring(open + 1, close)
        // alias-less BigQuery form gets a synthesized alias (the
        // element column is then only addressable positionally, as
        // in BigQuery when the array is unaliased)
        val v = Option(am.group(1)).getOrElse("__unnest_col")
        val hasOff = am.group(2) != null
        val off = Option(am.group(3)).getOrElse("__offset")
        val kw = m.group(1).trim.toUpperCase
        val isLeft = kw.startsWith("LEFT")
        var until = close + 1 + am.end
        if (isLeft) until += leftOnTrue.findPrefixMatchOf(sql.substring(until)).fold(0)(_.end)
        var from = m.start
        while (from > 0 && sql.charAt(from - 1).isWhitespace) from -= 1
        // the alias-less form's zero-width match consumed the space
        // before the next keyword — restore the separator
        val sep = if (until == sql.length || sql.charAt(until).isWhitespace ||
          sql.charAt(until) == ',' || sql.charAt(until) == ')') "" else " "
        val gen =
          if (kw == "FROM") // UNNEST as the SOLE table: a derived table, no lateral base
            if (hasOff) s"FROM (SELECT posexplode($arr) AS ($off, $v))"
            else s"FROM (SELECT explode($arr) AS $v)"
          else {
            val lv = if (isLeft) "LATERAL VIEW OUTER" else "LATERAL VIEW"
            if (hasOff) s"$lv posexplode($arr) __u AS $off, $v"
            else s"$lv explode($arr) __u AS $v"
          }
        (from, until, s" $gen$sep")
      }
    }

  /** Normalize a BigQuery table identifier for the Spark catalog:
    * strip backticks; `$YYYYMMDD` partition decorators split off
    * (`loader.py:25-26`); `:` project separator → `.`
    * (`main.go:500-506`).
    */
  def normalizeTableName(name: String): (String, Option[String]) = {
    val clean = name.replace("`", "").replace(":", ".")
    clean.split("\\$", 2) match {
      case Array(t, dec) => (t, Some(dec))
      case Array(t) => (t, None)
    }
  }
}
