package graft.engine

/** The one lexical grammar every SQL text pass of the engine shares — the
  * role sqlparse's lexer plays in the reference (`query.py:155-179`).
  * Regions:
  *  - `'…'` and `"…"` string literals, where a backslash escapes
  *    whatever follows it;
  *  - backticked names, which have no escapes;
  *  - `--` comments, which run through the newline, and `/* … */`
  *    comments.
  * A region left open runs to the end of the text. Every other character
  * is code; brackets are `(`/`)` and `[`/`]`, and the type-list split
  * also nests `<`/`>`. Raw, triple-quoted and bytes literals are not in
  * this grammar: [[Dialect.normalizeLiteralForms]] rewrites them to plain
  * literals before any other pass runs.
  *
  * Every regex edit of SQL text in the engine goes through one of two
  * loops, which alone decide that a match starting inside a literal or
  * comment is left alone: [[spliceOutside]] for a pass that rewrites a
  * construct and must know where to go on, [[replaceOutside]] for a
  * one-to-one swap. Both take a [[Trigger]], the regex paired with its
  * anchors: upper-case strings of which every match contains at least
  * one. The loops return the text untouched, with no regex run and no
  * lexing, when none of the anchors is in it ([[absent]]). A pattern
  * built from a runtime name takes that name as its anchor (`@A`,
  * `REC.N`, `S.`).
  */
object SqlLex {

  import scala.util.matching.Regex

  /** A pass's trigger regex and its anchors (see the header). */
  final class Trigger(val re: Regex, val anchors: Seq[String]) {
    require(anchors.nonEmpty && anchors.forall(a =>
      a.nonEmpty && a == a.toUpperCase(java.util.Locale.ROOT)), re.regex)
  }

  /** The static triggers an object declares, collected for the gate
    * spec: `apply` compiles and enrols one, `all` lists them.
    */
  final class Triggers {
    private val declared = Vector.newBuilder[Trigger]
    def apply(pattern: String, anchors: String*): Trigger = {
      val t = new Trigger(pattern.r, anchors)
      declared += t
      t
    }
    lazy val all: Seq[Trigger] = declared.result()
  }

  /** The name `name` as a whole, anchored at itself: a word boundary
    * guards each end that is a word character (`rec.n`, `@a`, `S.`).
    */
  def nameTrigger(name: String, ignoreCase: Boolean = false): Trigger = {
    def edge(c: Char) = if (isWordChar(c)) raw"\b" else ""
    new Trigger(((if (ignoreCase) "(?i)" else "") + edge(name.head) +
      java.util.regex.Pattern.quote(name) + edge(name.last)).r,
      Seq(name.toUpperCase(java.util.Locale.ROOT)))
  }

  // the upper-cased copy of the last text a gate read, per thread: a pass
  // that changes nothing hands on the same instance, so a run of skipped
  // passes upper-cases the text once
  private val lastUpper = ThreadLocal.withInitial[(String, String)](() => (null, ""))

  /** True when none of `anchors` is in `text`, case-insensitively. */
  def absent(text: String, anchors: String*): Boolean = {
    val (seen, up) = lastUpper.get
    val u = if (seen eq text) up else {
      val fresh = text.toUpperCase(java.util.Locale.ROOT)
      lastUpper.set((text, fresh))
      fresh
    }
    !anchors.exists(u.contains)
  }

  /** The one loop of the passes that rewrite a construct. Each match of
    * `t`'s regex that starts outside every literal and comment goes to
    * `f`, which returns a splice `(from, until, text)` or declines. After
    * a splice the search resumes at `from` on the new text, so a
    * construct nested in the spliced text rewrites too, and `f` must
    * decline its own output. After a decline it resumes just past the
    * match; after a match inside a literal or comment, one character on.
    * A scan that only reads the matches declines them all.
    */
  def spliceOutside(t: Trigger, sql: String)(
      f: (String, Regex.Match) => Option[(Int, Int, String)]): String = {
    if (absent(sql, t.anchors: _*)) return sql
    var cur = sql
    var spans: Spans = null // lexed at the first match of each text
    val mt = t.re.pattern.matcher(cur)
    var pos = 0
    while (mt.find(pos)) {
      if (spans == null) spans = SqlLex.spans(cur)
      if (spans.inLiteralOrComment(mt.start)) pos = mt.start + 1
      else f(cur, new Regex.Match(cur, mt, Nil).force) match {
        case Some((from, until, text)) =>
          cur = cur.substring(0, from) + text + cur.substring(until)
          spans = null
          mt.reset(cur)
          pos = from
        case None => pos = math.max(mt.end, mt.start + 1)
      }
    }
    cur
  }

  /** `re.replaceAllIn` that keeps every match starting inside a literal or
    * comment as it is; `f` gives the literal replacement text of the
    * others, which is not searched again. A text with no match comes
    * back as the same instance.
    */
  def replaceOutside(t: Trigger, sql: String)(f: Regex.Match => String): String = {
    if (absent(sql, t.anchors: _*)) return sql
    if (!t.re.pattern.matcher(sql).find()) return sql
    lazy val spans = SqlLex.spans(sql)
    t.re.replaceAllIn(sql, m => java.util.regex.Matcher.quoteReplacement(
      if (spans.inLiteralOrComment(m.start)) m.matched else f(m)))
  }

  /** End (exclusive) of the literal, backticked name or comment that
    * starts at `i`, or -1 when none starts there.
    */
  def regionEnd(s: String, i: Int): Int =
    if (i >= s.length) -1
    else s.charAt(i) match {
      case q @ ('\'' | '"') =>
        var j = i + 1
        while (j < s.length && s.charAt(j) != q)
          j += (if (s.charAt(j) == '\\') 2 else 1)
        math.min(j + 1, s.length)
      case '`' => endAfter(s.indexOf('`', i + 1), 1, s.length)
      case '-' if s.startsWith("--", i) => endAfter(s.indexOf('\n', i + 2), 1, s.length)
      case '/' if s.startsWith("/*", i) => endAfter(s.indexOf("*/", i + 2), 2, s.length)
      case _ => -1
    }

  private def endAfter(found: Int, len: Int, n: Int): Int =
    if (found < 0) n else found + len

  def startsComment(s: String, i: Int): Boolean =
    s.startsWith("--", i) || s.startsWith("/*", i)

  def isWordChar(c: Char): Boolean = c.isLetterOrDigit || c == '_'

  /** The literal spans and the comment spans of one text, sorted
    * `[start, end)` pairs; backticked names belong to neither.
    */
  final class Spans private[SqlLex] (litStarts: Array[Int], litEnds: Array[Int],
      comStarts: Array[Int], comEnds: Array[Int]) {
    def inLiteral(pos: Int): Boolean = literalStart(pos) >= 0
    def inComment(pos: Int): Boolean = SqlLex.containing(comStarts, comEnds, pos) >= 0
    def inLiteralOrComment(pos: Int): Boolean = inLiteral(pos) || inComment(pos)
    /** Start of the literal that holds `pos`, or -1. */
    def literalStart(pos: Int): Int = SqlLex.containing(litStarts, litEnds, pos)
    /** End of the literal that opens exactly at `pos`, or -1. */
    def literalEndAt(pos: Int): Int = {
      val k = java.util.Arrays.binarySearch(litStarts, pos)
      if (k >= 0) litEnds(k) else -1
    }
    def literals: Iterator[(Int, Int)] = litStarts.iterator.zip(litEnds.iterator)
  }

  /** O(log n): the start of the sorted span that holds `pos`, or -1. */
  private def containing(starts: Array[Int], ends: Array[Int], pos: Int): Int = {
    val k = java.util.Arrays.binarySearch(starts, pos)
    val idx = if (k >= 0) k else -k - 2
    if (idx >= 0 && pos < ends(idx)) starts(idx) else -1
  }

  def spans(s: String): Spans = {
    val ls, le, cs, ce = Array.newBuilder[Int]
    var i = 0
    while (i < s.length) {
      val e = regionEnd(s, i)
      if (e < 0) i += 1
      else {
        s.charAt(i) match {
          case '\'' | '"' => ls += i; le += e
          case '`' =>
          case _ => cs += i; ce += e
        }
        i = e
      }
    }
    new Spans(ls.result(), le.result(), cs.result(), ce.result())
  }

  /** Calls `f(i, depth)` at each code character from `from` on, with
    * `depth` the bracket nesting before `i` relative to `from`, until `f`
    * returns true; returns that index, or the text's length.
    */
  private def walk(s: String, from: Int, angle: Boolean)(f: (Int, Int) => Boolean): Int = {
    var depth = 0
    var i = from
    while (i < s.length) {
      val e = regionEnd(s, i)
      if (e >= 0) i = e
      else {
        if (f(i, depth)) return i
        s.charAt(i) match {
          case '(' | '[' => depth += 1
          case ')' | ']' => depth -= 1
          case '<' if angle => depth += 1
          case '>' if angle => depth -= 1
          case _ =>
        }
        i += 1
      }
    }
    s.length
  }

  private def isCloser(c: Char): Boolean = c == ')' || c == ']'

  /** The `)` or `]` that closes the bracket opening at `open`, or -1 when
    * the text ends first (or no bracket opens there).
    */
  def close(s: String, open: Int): Int =
    if (open < 0 || open >= s.length || !(s.charAt(open) == '(' || s.charAt(open) == '[')) -1
    else {
      val e = walk(s, open, angle = false)((i, d) => d == 1 && isCloser(s.charAt(i)))
      if (e < s.length) e else -1
    }

  /** The first code index from `from` on that sits at the nesting of
    * `from` and either satisfies `stop` or is a `)`/`]` closing an outer
    * group; the text's length when there is none.
    */
  def clauseEnd(s: String, from: Int)(stop: Int => Boolean): Int =
    walk(s, from, angle = false)((i, d) => d == 0 && (isCloser(s.charAt(i)) || stop(i)))

  /** Split on commas outside every region and bracket; `angle` also
    * nests `<`/`>`, which only a type list may ask for (`<` is less-than
    * in an expression). Pieces come back untrimmed, empty ones included.
    */
  def splitTopLevel(s: String, angle: Boolean = false): Seq[String] = {
    val out = Seq.newBuilder[String]
    var last = 0
    walk(s, 0, angle) { (i, d) =>
      if (d == 0 && s.charAt(i) == ',') { out += s.substring(last, i); last = i + 1 }
      false
    }
    (out += s.substring(last)).result()
  }

  /** The items of a comma list as SQL writes it: the top-level pieces,
    * trimmed, empty ones dropped.
    */
  def items(s: String, angle: Boolean = false): Seq[String] =
    splitTopLevel(s, angle).map(_.trim).filter(_.nonEmpty)

  /** Split a script into statements on `;` outside every region, as
    * `sqlparse.split` does; statements come back trimmed, empty ones
    * dropped.
    */
  def split(script: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var last = 0
    walk(script, 0, angle = false) { (i, _) =>
      if (script.charAt(i) == ';') { out += script.substring(last, i); last = i + 1 }
      false
    }
    out += script.substring(last)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Uppercased words and the `(`, `)` and `;` characters of the code,
    * with their offsets. A word reached by field access (`w.end`) comes
    * back with a "." prefix: it is an identifier, never a keyword.
    */
  def tokens(s: String): Vector[(String, Int)] = {
    val out = Vector.newBuilder[(String, Int)]
    var i = 0
    while (i < s.length) {
      val e = regionEnd(s, i)
      val c = s.charAt(i)
      if (e >= 0) i = e
      else if (c == '(' || c == ')' || c == ';') { out += ((c.toString, i)); i += 1 }
      else if (c.isLetter || c == '_') {
        var j = i + 1
        while (j < s.length && isWordChar(s.charAt(j))) j += 1
        val word = s.substring(i, j).toUpperCase
        out += ((if (i > 0 && s.charAt(i - 1) == '.') "." + word else word, i))
        i = j
      } else i += 1
    }
    out.result()
  }

  /** The uppercased word that starts at `i` — a letter or `_` not
    * preceded by a word character — or "" when none starts there.
    */
  def wordAt(s: String, i: Int): String =
    if (i >= s.length || !(s.charAt(i).isLetter || s.charAt(i) == '_') ||
        (i > 0 && isWordChar(s.charAt(i - 1)))) ""
    else {
      var j = i + 1
      while (j < s.length && isWordChar(s.charAt(j))) j += 1
      s.substring(i, j).toUpperCase
    }

  /** Index of the first character at or after `from` that is neither
    * whitespace nor inside a comment.
    */
  def skipBlank(s: String, from: Int): Int = {
    var i = from
    while (i < s.length && (s.charAt(i).isWhitespace || startsComment(s, i)))
      i = if (s.charAt(i).isWhitespace) i + 1 else regionEnd(s, i)
    i
  }

  /** Copy `s`, passing every region through verbatim; at each code
    * character `step(i, out)` appends what stands for the text from `i`
    * and returns the index to go on from, which must be past `i`.
    */
  def copyWalk(s: String)(step: (Int, StringBuilder) => Int): String = {
    val out = new StringBuilder(s.length + 16)
    var i = 0
    while (i < s.length) {
      val e = regionEnd(s, i)
      if (e >= 0) { out.underlying.append(s, i, e); i = e }
      else i = step(i, out)
    }
    out.toString
  }
}
