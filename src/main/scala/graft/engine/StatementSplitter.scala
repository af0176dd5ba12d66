package graft.engine

/** SQL script statement handling — port of the reference's
  * sqlparse-based splitting and DDL/body classification
  * (`query.py:155-179`).
  */
object StatementSplitter {

  /** Split a script into statements on `;` outside literals, backticked
    * names and comments (what `sqlparse.split` does for the corpus).
    */
  def split(script: String): Seq[String] = SqlLex.split(script)

  /** Uppercased word tokens and parens with char offsets, outside
    * literals and comments — the lexer for control-block detection.
    */
  def tokens(stmt: String): Vector[(String, Int)] = SqlLex.tokens(stmt)

  /** A token of a statement annotated with control-block nesting:
    * `depthBefore`/`depthAfter` track IF/WHILE/LOOP/BEGIN block depth;
    * `caseDepth` tracks CASE…END expressions (whose END must not close
    * a block). `endLen` covers two-word closers (END IF).
    */
  final case class Tok(text: String, pos: Int, depthBefore: Int,
      depthAfter: Int, caseDepth: Int, endLen: Int = 1)

  /** Annotate `stmt`'s tokens with block depth, starting at
    * `startDepth` (blocks span `;`-separated fragments; CASE cannot).
    */
  def annotate(stmt: String, startDepth: Int = 0): Vector[Tok] = {
    val ts = tokens(stmt)
    val out = Vector.newBuilder[Tok]
    var depth = startDepth
    var caseDepth = 0
    var i = 0
    var prev = "" // previous token — statement-position detector for IF
    // previous token was a plain word in statement position that opened
    // nothing — i.e. a candidate loop LABEL (`my_label: LOOP …`; the
    // lexer drops the colon, so the label is the word itself)
    var prevLabelPos = false
    while (i < ts.length) {
      val (t, pos) = ts(i)
      val next = if (i + 1 < ts.length) ts(i + 1)._1 else ""
      val before = depth
      var endLen = 1
      // a token is in STATEMENT position at fragment start, after `;`,
      // or right after a block keyword that introduces a body — the
      // only places a scripting IF can appear (`IF(` elsewhere is the
      // conditional function, even with a parenthesized condition).
      // REPEAT introduces its body with no DO, so it belongs here too.
      val stmtPos = (prev == "" || prev == ";" || prev == "THEN" ||
        prev == "ELSE" || prev == "DO" || prev == "BEGIN" ||
        prev == "REPEAT" || prev == "LOOP") && caseDepth == 0
      t match {
        // a CASE in statement position is the CASE…END CASE scripting
        // statement (a block); anywhere else it is the CASE expression
        case "CASE" if stmtPos => depth += 1
        case "CASE" => caseDepth += 1
        // `… AS end` is an identifier, not a closer (dotted `w.end` is
        // already excluded by the lexer's "." prefix). Inside a CASE
        // expression, END ALWAYS closes it — checked before the
        // two-word closers so `SELECT CASE…END, CASE…END` (where the
        // lexer drops the comma and END's next token is CASE) is two
        // expressions, not a spurious END CASE block closer.
        case "END" if prev != "AS" =>
          if (caseDepth > 0) caseDepth -= 1
          else if (next == "IF" || next == "WHILE" || next == "LOOP" ||
              next == "FOR" || next == "REPEAT" || next == "CASE") {
            depth -= 1; endLen = 2; i += 1
          } else depth -= 1 // BEGIN's END
        case "BEGIN" if next != "TRANSACTION" => depth += 1
        case "IF" if stmtPos => depth += 1
        case "WHILE" if stmtPos => depth += 1 // closer consumed by the END branch
        case "LOOP" if stmtPos => depth += 1
        case "FOR" if stmtPos => depth += 1 // FOR rec IN (...) DO … END FOR
        case "REPEAT" if stmtPos => depth += 1 // REPEAT body UNTIL cond END REPEAT
        // labeled loop: `label: LOOP` — the label word sat in statement
        // position, so the loop keyword itself no longer does
        case "LOOP" | "WHILE" | "FOR" | "REPEAT" if prevLabelPos => depth += 1
        case _ =>
      }
      out += Tok(t, pos, before, depth, caseDepth, endLen)
      prevLabelPos = stmtPos && caseDepth == 0 && depth == before &&
        t.nonEmpty && (t.head.isLetter || t.head == '_') && {
          // a label REQUIRES its colon (`my_label: LOOP`): the lexer
          // drops ':' so peek past blanks after this word — a bare word
          // in statement position (`WITH loop AS (…)`; LOOP is not
          // reserved) must NOT arm the label path or the LOOP token
          // would open a phantom block
          val k = SqlLex.skipBlank(stmt, pos + t.length)
          k < stmt.length && stmt.charAt(k) == ':'
        }
      prev = if (endLen == 2) "IF_CLOSED" else t
      i += 1
    }
    out.result()
  }

  /** Like [[split]], but re-joins fragments belonging to one control
    * block (IF…END IF, WHILE…END WHILE, LOOP…END LOOP, BEGIN…END), so
    * each returned element is a complete executable unit.
    */
  def splitBlocks(script: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val buf = new StringBuilder
    var depth = 0
    split(script).foreach { f =>
      val ann = annotate(f, depth)
      depth = ann.lastOption.map(_.depthAfter).getOrElse(depth)
      if (buf.nonEmpty) buf ++= ";\n"
      buf ++= f
      if (depth <= 0) { out += buf.result(); buf.clear(); depth = 0 }
    }
    if (buf.nonEmpty) out += buf.result()
    out.result()
  }

  private val ddlKeywords = Set("CREATE", "DROP", "ALTER", "DECLARE")

  /** First significant (non-comment) keyword of a statement. */
  def firstKeyword(stmt: String): String = {
    val start = SqlLex.skipBlank(stmt, 0)
    var end = start
    while (end < stmt.length && !stmt.charAt(end).isWhitespace &&
        !SqlLex.startsComment(stmt, end)) end += 1
    stmt.substring(start, end).toUpperCase
  }

  def isDdl(stmt: String): Boolean = ddlKeywords.contains(firstKeyword(stmt))

  /** `MergeReplaceQuery.parsed_sql` — `query.py:155-179`: split the
    * script into DDL headers + exactly one DML/CTE body; a single
    * statement is all body, no headers.
    */
  def parsedSql(script: String): (Seq[String], String) = {
    val stmts = split(script)
    if (stmts.length == 1) return (Seq.empty, stmts.head)
    val (headers, body) = stmts.partition(isDdl)
    if (body.length != 1)
      throw new IllegalArgumentException(
        "invalid replace query, should have exactly one DML/CTE statements")
    (headers, body.head)
  }
}
