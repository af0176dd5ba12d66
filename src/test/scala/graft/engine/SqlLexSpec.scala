package graft.engine

import org.scalatest.funsuite.AnyFunSuite

/** The lexical grammar every text pass shares, pinned at its edges. */
class SqlLexSpec extends AnyFunSuite {

  test("a backslash escapes the next character in '…' and \"…\" but not in `…`") {
    assert(SqlLex.regionEnd("""'a\'b' x""", 0) == 6)
    assert(SqlLex.regionEnd(""""a\"b" x""", 0) == 6)
    assert(SqlLex.regionEnd("""'a\\' x""", 0) == 5) // an escaped backslash
    assert(SqlLex.regionEnd("""`a\`b`""", 0) == 4)
    assert(SqlLex.regionEnd("abc", 1) == -1)
  }

  test("an unterminated literal, name or block comment runs to the end of the text") {
    assert(SqlLex.regionEnd("'abc", 0) == 4)
    assert(SqlLex.regionEnd("""'ab\""", 0) == 4)
    assert(SqlLex.regionEnd("`ab", 0) == 3)
    assert(SqlLex.regionEnd("x /* a", 2) == 6)
    assert(SqlLex.regionEnd("/*/", 0) == 3, "`/*/` opens a comment and does not close it")
  }

  test("a -- comment runs through its newline, or to the end of the text") {
    assert(SqlLex.regionEnd("a -- b", 2) == 6)
    assert(SqlLex.regionEnd("-- b\nc", 0) == 5)
    assert(SqlLex.skipBlank("  -- x\n /* y */ OVER", 0) == 16)
  }

  test("brackets match across ( and [, skipping regions; an unbalanced open returns -1") {
    val s = "f([1, (2)], ')', x) y"
    assert(SqlLex.close(s, 1) == 18)
    assert(SqlLex.close(s, 2) == 9)
    assert(SqlLex.close(s, 6) == 8)
    assert(SqlLex.close("f((a) -- )\n", 1) == -1)
    assert(SqlLex.close("f(a", 1) == -1)
    assert(SqlLex.close("abc", 0) == -1, "no bracket opens there")
  }

  test("spans answer inside-literal and inside-comment; backticks are neither") {
    val s = "SELECT 'a', `b`, -- c\n \"d\" /* e */"
    val sp = SqlLex.spans(s)
    assert(sp.inLiteral(s.indexOf('a')) && sp.inLiteral(s.indexOf('d')))
    assert(!sp.inLiteral(s.indexOf('b')) && !sp.inComment(s.indexOf('b')))
    assert(sp.inComment(s.indexOf('c')) && sp.inComment(s.indexOf('e')))
    assert(!sp.inLiteralOrComment(0))
    assert(sp.literalEndAt(s.indexOf('\'')) == s.indexOf('\'') + 3)
    assert(sp.literals.toSeq.map { case (a, b) => s.substring(a, b) } == Seq("'a'", "\"d\""))
  }

  test("top-level comma split nests () and [] always, <> only for type lists") {
    assert(SqlLex.items("a = [1, 2], b = f(1, 2), c = 'x, y' -- d, e\n") ==
      Seq("a = [1, 2]", "b = f(1, 2)", "c = 'x, y' -- d, e"))
    assert(SqlLex.items("p STRUCT<a INT64, b STRING>, q INT64", angle = true) ==
      Seq("p STRUCT<a INT64, b STRING>", "q INT64"))
    assert(SqlLex.splitTopLevel("a, , b") == Seq("a", " ", " b"))
  }

  test("statement split, token stream and copy walk see only code") {
    assert(SqlLex.split("SELECT ';'; -- a;b\nSELECT 2 /* ; */;") ==
      Seq("SELECT ';'", "-- a;b\nSELECT 2 /* ; */"))
    assert(SqlLex.tokens("SELECT w.end, f('(') -- )\n") ==
      Vector(("SELECT", 0), ("W", 7), (".END", 9), ("F", 14), ("(", 15), (")", 19)))
    assert(SqlLex.copyWalk("a 'a' -- a\na") { (i, sb) =>
      sb += (if (SqlLex.wordAt("a 'a' -- a\na", i) == "A") 'b' else '_'); i + 1
    } == "b_'a'_-- a\nb")
  }
}
