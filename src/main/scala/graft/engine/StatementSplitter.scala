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

  /** A statement's head, read once from its leading words past blanks and
    * comments, so that every "what kind of statement is this" reads the
    * same answer.
    *  - `verb`: the statement's kind, its leading keywords without the OR
    *    REPLACE and IF [NOT] EXISTS modifiers or a preposition (INTO,
    *    FROM, OVERWRITE, TABLE after TRUNCATE), TEMPORARY spelled TEMP:
    *    "SELECT", "INSERT", "LOAD DATA", "CREATE TEMP TABLE",
    *    "DROP TABLE FUNCTION", "BEGIN TRANSACTION".
    *  - `name`: the table, view, routine, schema or loop label named right
    *    after those keywords, backticks removed.
    *  - `destructive`: the statement deletes the named table's files
    *    (DROP TABLE, CREATE OR REPLACE [SNAPSHOT] TABLE, LOAD DATA or
    *    INSERT with OVERWRITE).
    *  - `label`: the `label:` prefix of a loop.
    *  - `start`: where the verb begins; `intoAt`: where an INSERT that
    *    leaves out INTO names its table, else -1.
    */
  final case class Head(verb: String, name: Option[String], destructive: Boolean,
      label: Option[String], start: Int, intoAt: Int) {

    /** `stmt` from its verb on; an INSERT that names its table without
      * INTO gets the INTO written in.
      */
    def body(stmt: String): String =
      if (intoAt < 0) stmt.substring(start)
      else stmt.substring(start, intoAt) + "INTO " + stmt.substring(intoAt)
  }

  // the nouns of CREATE/DROP/ALTER, longest first
  private val nouns = Seq(Seq("TABLE", "FUNCTION"), Seq("MATERIALIZED", "VIEW"),
    Seq("EXTERNAL", "TABLE"), Seq("SNAPSHOT", "TABLE"), Seq("TEMP", "TABLE"),
    Seq("TEMPORARY", "TABLE"), Seq("TEMP", "FUNCTION"), Seq("TEMPORARY", "FUNCTION"),
    Seq("TABLE"), Seq("VIEW"), Seq("FUNCTION"), Seq("PROCEDURE"), Seq("SCHEMA"))
  private val loopWords = Set("LOOP", "WHILE", "FOR", "REPEAT")

  /** The [[Head]] of `stmt`. */
  def head(stmt: String): Head = {
    // the leading tokens: a name (word characters, `.`, `$`, `-` and
    // backticked parts) or one other character
    val ts = Vector.newBuilder[(String, Int)]
    var i = SqlLex.skipBlank(stmt, 0)
    var n = 0
    while (i < stmt.length && n < 9) {
      var j = i
      while (j < stmt.length && !SqlLex.startsComment(stmt, j) &&
          (SqlLex.isWordChar(stmt.charAt(j)) || ".$-`".indexOf(stmt.charAt(j)) >= 0))
        j = if (stmt.charAt(j) == '`') SqlLex.regionEnd(stmt, j) else j + 1
      if (j == i) j = i + 1
      ts += ((stmt.substring(i, j), i))
      n += 1
      i = SqlLex.skipBlank(stmt, j)
    }
    val t = ts.result()
    def up(k: Int) = if (k < t.length) t(k)._1.toUpperCase(java.util.Locale.ROOT) else ""
    var k = 0
    def take(ws: String*): Boolean =
      ws.indices.forall(j => up(k + j) == ws(j)) && { k += ws.length; true }
    val label =
      if (up(1) == ":" && loopWords(up(2))) { k = 2; Some(t(0)._1) } else None
    val start = if (k < t.length) t(k)._2 else stmt.length
    val first = up(k)
    k += 1
    var named = true
    var overwrite = false
    var orReplace = false
    var intoAt = -1
    val verb = first match {
      case "CREATE" | "DROP" | "ALTER" =>
        orReplace = take("OR", "REPLACE")
        nouns.find(ws => take(ws: _*)) match {
          case Some(noun) =>
            take("IF", "NOT", "EXISTS") || take("IF", "EXISTS")
            (first +: noun.map(w => if (w == "TEMPORARY") "TEMP" else w)).mkString(" ")
          case None => named = false; first
        }
      case "INSERT" =>
        overwrite = take("OVERWRITE")
        if (overwrite || take("INTO")) take("TABLE")
        else if (k < t.length) intoAt = t(k)._2
        first
      case "LOAD" if take("DATA") =>
        overwrite = take("OVERWRITE")
        named = overwrite || take("INTO")
        "LOAD DATA"
      case "MERGE" => take("INTO"); first
      case "DELETE" => take("FROM"); first
      case "TRUNCATE" => take("TABLE"); first
      case "UPDATE" | "CALL" | "BREAK" | "LEAVE" | "CONTINUE" | "ITERATE" => first
      case "BEGIN" if take("TRANSACTION") => "BEGIN TRANSACTION"
      case "EXECUTE" if take("IMMEDIATE") => named = false; "EXECUTE IMMEDIATE"
      case "EXPORT" if take("DATA") => named = false; "EXPORT DATA"
      case _ => named = false; first
    }
    val name = if (!named || k >= t.length) None else {
      val (raw, _) = t(k)
      if (SqlLex.isWordChar(raw.head) || raw.head == '`') Some(raw.replace("`", "")) else None
    }
    if (name.isEmpty) intoAt = -1
    val destructive = overwrite || verb == "DROP TABLE" ||
      (orReplace && (verb == "CREATE TABLE" || verb == "CREATE SNAPSHOT TABLE"))
    Head(verb, name, destructive, label, start, intoAt)
  }

  private val ddlKeywords = Set("CREATE", "DROP", "ALTER", "DECLARE")

  /** DDL by the first keyword of the statement's head. */
  def isDdl(stmt: String): Boolean = ddlKeywords.contains(head(stmt).verb.takeWhile(_ != ' '))

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
