package graft.engine

import org.scalatest.funsuite.AnyFunSuite

/** Port of the sqlparse-based splitting/classification semantics
  * (`query.py:155-179`) plus splitter edge cases.
  */
class StatementSplitterSpec extends AnyFunSuite {

  test("splits on semicolons") {
    assert(StatementSplitter.split("select 1; select 2 ; select 3") ==
      Seq("select 1", "select 2", "select 3"))
  }

  test("respects string literals and comments") {
    val script =
      """select ';' as semi; -- trailing; comment
        |select /* ; block */ 2;
        |select "a;b"""".stripMargin
    val parts = StatementSplitter.split(script)
    assert(parts.size == 3)
    assert(parts.head == "select ';' as semi")
    assert(parts(2) == "select \"a;b\"")
  }

  test("a loop label needs its colon: `WITH loop AS (…)` is not a label") {
    // LOOP is not a BigQuery reserved word, so `WITH loop AS (SELECT …)`
    // is a legal CTE name — without the colon check the LOOP token
    // opened a phantom block and the split hung waiting for END LOOP
    assert(StatementSplitter.split(
      "WITH loop AS (SELECT 1 AS x) SELECT x FROM loop; SELECT 2") ==
      Seq("WITH loop AS (SELECT 1 AS x) SELECT x FROM loop", "SELECT 2"))
    // real labels (colon present, comments/whitespace between) still arm
    val withLabel = StatementSplitter.splitBlocks(
      "lbl: LOOP SET x = 1; BREAK; END LOOP lbl; SELECT 3")
    assert(withLabel.size == 2, withLabel.toString)
    val spaced = StatementSplitter.splitBlocks(
      "lbl /* c */ : LOOP SET x = 1; BREAK; END LOOP; SELECT 3")
    assert(spaced.size == 2, spaced.toString)
  }

  test("single statement is all body, no headers") {
    val (headers, body) = StatementSplitter.parsedSql("SELECT * FROM t")
    assert(headers.isEmpty)
    assert(body == "SELECT * FROM t")
  }

  test("DDL headers split from the single body") {
    val script =
      """CREATE TEMP FUNCTION f(x INT64) AS (x + 1);
        |SELECT f(a) FROM t""".stripMargin
    val (headers, body) = StatementSplitter.parsedSql(script)
    assert(headers.size == 1)
    assert(headers.head.startsWith("CREATE TEMP FUNCTION"))
    assert(body == "SELECT f(a) FROM t")
  }

  test("two body statements raise (exactly-one rule)") {
    assertThrows[IllegalArgumentException] {
      StatementSplitter.parsedSql("SELECT 1; SELECT 2")
    }
  }

  test("DDL classification by first significant keyword") {
    assert(StatementSplitter.isDdl("CREATE TABLE x (a INT)"))
    assert(StatementSplitter.isDdl("-- note\nDROP TABLE x"))
    assert(StatementSplitter.isDdl("DECLARE v INT64"))
    assert(!StatementSplitter.isDdl("SELECT 1"))
    assert(!StatementSplitter.isDdl("WITH a AS (SELECT 1) SELECT * FROM a"))
    assert(!StatementSplitter.isDdl("MERGE INTO t USING s ON c WHEN MATCHED THEN DELETE"))
  }

  test("a statement's head: verb, named table and destructiveness, past comments") {
    import StatementSplitter.{Head, head}
    assert(head("-- c\n/* d */ CREATE OR REPLACE TEMPORARY TABLE IF NOT EXISTS `p.d.t` AS x") ==
      Head("CREATE TEMP TABLE", Some("p.d.t"), false, None, 13, -1))
    assert(head("CREATE OR REPLACE TABLE t AS SELECT 1").destructive)
    assert(head("DROP TABLE FUNCTION f") == Head("DROP TABLE FUNCTION", Some("f"), false, None, 0, -1))
    assert(head("DROP TABLE IF EXISTS t").destructive)
    assert(head("LOAD DATA OVERWRITE t FROM FILES()") ==
      Head("LOAD DATA", Some("t"), true, None, 0, -1))
    assert(head("INSERT OVERWRITE TABLE t SELECT 1").destructive)
    val bare = "  INSERT t VALUES (1)"
    assert(head(bare).body(bare) == "INSERT INTO t VALUES (1)")
    assert(head("lbl: WHILE TRUE DO BREAK lbl; END WHILE lbl") ==
      Head("WHILE", None, false, Some("lbl"), 5, -1))
    assert(head("BREAK lbl").name.contains("lbl"))
    assert(head("BEGIN TRANSACTION").verb == "BEGIN TRANSACTION")
    assert(head("BEGIN SELECT 1; END").verb == "BEGIN")
    assert(head("SELECT 1").name.isEmpty)
  }
}
