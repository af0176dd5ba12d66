package graft.engine

import graft.streaming.StreamingOps.Scratch
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** BigQuery-scripting interpreter cases (`select/script/query.sql`
  * shapes and the generated REPLACE_MERGE script of `query.py:6-20`).
  */
class ScriptRunnerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("DECLARE with DEFAULT, SET arithmetic, variable substitution") {
    val out = new ScriptRunner(spark).run(
      """DECLARE power INT64 DEFAULT 2;
        |SET power = power + 1;
        |SELECT power AS p""".stripMargin).get
    // INT64 variables carry BIGINT through SET arithmetic
    assert(out.collect().head.getLong(0) == 3L)
  }

  test("SET (v) = (SELECT AS STRUCT ...) scalar unwrap") {
    val out = new ScriptRunner(spark).run(
      """DECLARE partitions ARRAY<DATE>;
        |SET (partitions) = (SELECT AS STRUCT array(DATE '2020-01-01', DATE '2020-01-02'));
        |SELECT d FROM (SELECT explode(partitions) AS d) ORDER BY d""".stripMargin).get
    assert(out.collect().map(_.get(0).toString).toSeq ==
      Seq("2020-01-01", "2020-01-02"))
  }

  test("CREATE TEMP TABLE AS + IN UNNEST over declared array") {
    val out = new ScriptRunner(spark).run(
      """DECLARE statuses ARRAY<STRING> DEFAULT array('a', 'b');
        |CREATE TEMP TABLE src AS (SELECT explode(array('a', 'b', 'c')) AS s);
        |SELECT count(1) AS cnt FROM src WHERE s IN UNNEST(statuses)""".stripMargin).get
    assert(out.collect().head.getLong(0) == 2L)
  }

  test("CREATE TEMP FUNCTION with SQL body translates to a Spark SQL UDF") {
    val out = new ScriptRunner(spark).run(
      """CREATE TEMP FUNCTION add_tax(price FLOAT64, rate FLOAT64) RETURNS FLOAT64 AS (price * (1 + rate));
        |SELECT add_tax(100.0, 0.1) AS taxed""".stripMargin).get
    assert(math.abs(out.collect().head.getDouble(0) - 110.0) < 1e-9)
  }

  test("CREATE TEMP FUNCTION LANGUAGE js is rejected with guidance") {
    val e = intercept[UnsupportedOperationException] {
      new ScriptRunner(spark).run(
        """CREATE TEMP FUNCTION f(x STRING) RETURNS STRING LANGUAGE js AS "return x;";
          |SELECT f('a')""".stripMargin)
    }
    assert(e.getMessage.contains("JS UDF"))
  }

  test("word-boundary substitution does not touch identifiers containing the var") {
    val out = new ScriptRunner(spark).run(
      """DECLARE v INT64 DEFAULT 5;
        |SELECT v AS value, 7 AS vv""".stripMargin).get
    val row = out.collect().head
    assert(row.getLong(0) == 5L && row.getInt(1) == 7)
  }

  test("variables substitute whole words in code, never in literals or comments") {
    val row = new ScriptRunner(spark).run(
      """DECLARE x INT64 DEFAULT 5;
        |DECLARE y STRING DEFAULT 'x and y';
        |SELECT 'x marks the spot' AS s, y AS t, x + 1 AS u""".stripMargin)
      .get.collect().head
    assert(row.getString(0) == "x marks the spot")
    // a later variable no longer rewrites an earlier one's STRING value
    assert(row.getString(1) == "x and y")
    assert(row.getLong(2) == 6L)
    val Seq(text) = new ScriptRunner(spark).renderStatements(
      "DECLARE x INT64 DEFAULT 5; SELECT x AS x, `x` /* x */ FROM t -- x")
    // a backticked name and an alias position still substitute
    assert(!text.contains("x AS") && !text.contains("`x`"), text)
    assert(text.endsWith("/* x */ FROM t -- x"), text)
  }

  test("IF/ELSEIF/ELSE executes exactly the matching branch") {
    val out = new ScriptRunner(spark).run(
      """DECLARE mode INT64 DEFAULT 2;
        |DECLARE r STRING DEFAULT 'none';
        |IF mode = 1 THEN SET r = 'one';
        |ELSEIF mode = 2 THEN SET r = 'two';
        |ELSE SET r = 'other';
        |END IF;
        |SELECT r AS result""".stripMargin).get
    assert(out.collect().head.getString(0) == "two")
  }

  test("IF condition with CASE expression inside doesn't confuse nesting") {
    val out = new ScriptRunner(spark).run(
      """DECLARE x INT64 DEFAULT 7;
        |IF (CASE WHEN x > 5 THEN true ELSE false END) THEN
        |  CREATE TEMP TABLE branch_t AS (SELECT 'big' AS tag);
        |END IF;
        |SELECT tag FROM branch_t""".stripMargin).get
    assert(out.collect().head.getString(0) == "big")
  }

  test("nested IF inside IF runs the inner branch") {
    val out = new ScriptRunner(spark).run(
      """DECLARE a INT64 DEFAULT 1;
        |DECLARE r STRING DEFAULT '';
        |IF a = 1 THEN
        |  IF a < 0 THEN SET r = 'neg'; ELSE SET r = 'pos'; END IF;
        |END IF;
        |SELECT r AS result""".stripMargin).get
    assert(out.collect().head.getString(0) == "pos")
  }

  test("WHILE loop accumulates via a session variable") {
    val out = new ScriptRunner(spark).run(
      """DECLARE i INT64 DEFAULT 0;
        |DECLARE total INT64 DEFAULT 0;
        |WHILE i < 5 DO
        |  SET total = total + i;
        |  SET i = i + 1;
        |END WHILE;
        |SELECT total""".stripMargin).get
    assert(out.collect().head.getLong(0) == 10L)
  }

  test("EXECUTE IMMEDIATE runs a variable-built query string") {
    val out = new ScriptRunner(spark).run(
      """DECLARE tbl STRING DEFAULT 'ei_src';
        |CREATE TEMP TABLE ei_src AS (SELECT id AS v FROM range(0, 4));
        |EXECUTE IMMEDIATE CONCAT('SELECT CAST(sum(v) AS BIGINT) AS s FROM ', tbl)""".stripMargin).get
    assert(out.collect().head.getLong(0) == 6L)
  }

  test("MERGE text inside an IF branch does not break block segmentation") {
    // a MERGE's `WHEN MATCHED THEN` sits at block depth 1 — only the
    // IF's own condition-terminating THEN may segment the block
    val out = new ScriptRunner(spark).run(
      """DECLARE r STRING DEFAULT 'start';
        |IF 1 = 2 THEN
        |  MERGE INTO tgt T USING src S ON T.id = S.id
        |  WHEN MATCHED THEN UPDATE SET v = S.v
        |  WHEN NOT MATCHED THEN INSERT (id, v) VALUES (S.id, S.v);
        |ELSE SET r = 'else-ran';
        |END IF;
        |SELECT r AS result""".stripMargin).get
    assert(out.collect().head.getString(0) == "else-ran")
  }

  test("EXECUTE IMMEDIATE ... INTO binds the single result row to a variable") {
    val out = new ScriptRunner(spark).run(
      """DECLARE mx INT64;
        |CREATE TEMP TABLE ei_into AS (SELECT id AS v FROM range(0, 5));
        |EXECUTE IMMEDIATE 'SELECT CAST(max(v) AS BIGINT) FROM ei_into' INTO mx;
        |SELECT mx AS m""".stripMargin).get
    assert(out.collect().head.getLong(0) == 4L)
  }

  test("EXECUTE IMMEDIATE ... USING binds positional and named parameters") {
    val pos = new ScriptRunner(spark).run(
      "EXECUTE IMMEDIATE 'SELECT CAST(? + ? AS BIGINT) AS s' USING 2, 3").get
    assert(pos.collect().head.getLong(0) == 5L)
    val named = new ScriptRunner(spark).run(
      "EXECUTE IMMEDIATE 'SELECT CAST(@a * @a AS BIGINT) AS sq' USING 6 AS a").get
    assert(named.collect().head.getLong(0) == 36L)
  }

  test("FOR-IN iterates a bounded query, rec.field substituted per row") {
    val out = new ScriptRunner(spark).run(
      """DECLARE total INT64 DEFAULT 0;
        |CREATE TEMP TABLE nums AS (SELECT id AS n FROM range(1, 5));
        |FOR rec IN (SELECT n FROM nums ORDER BY n) DO
        |  SET total = total + rec.n;
        |END FOR;
        |SELECT total AS s""".stripMargin).get
    assert(out.collect().head.getLong(0) == 10L)
  }

  test("BEGIN...EXCEPTION catches RUNTIME errors, not just analysis errors") {
    // ANSI division by zero fires at execution, not analysis — the body
    // result must be materialized inside the handler's try
    val handled = new ScriptRunner(spark).run(
      """BEGIN
        |  SELECT 1 div 0 AS status;
        |EXCEPTION WHEN ERROR THEN
        |  SELECT 'handled' AS status;
        |END;""".stripMargin).get
    assert(handled.collect().head.getString(0) == "handled")
  }

  test("FOR loop query with parens inside string literals") {
    val out = new ScriptRunner(spark).run(
      """DECLARE total INT64 DEFAULT 0;
        |CREATE TEMP TABLE fp AS (SELECT concat('(', cast(id AS string), ')') AS tag, id AS v FROM range(1, 3));
        |FOR rec IN (SELECT v FROM fp WHERE tag != ')(' ORDER BY v) DO
        |  SET total = total + rec.v;
        |END FOR;
        |SELECT total AS s""".stripMargin).get
    assert(out.collect().head.getLong(0) == 3L)
  }

  test("a column aliased AS end inside a block doesn't close it") {
    val out = new ScriptRunner(spark).run(
      """DECLARE go BOOL DEFAULT true;
        |IF go THEN
        |  CREATE TEMP TABLE spans AS (SELECT 1 AS start, 5 AS end);
        |END IF;
        |SELECT end - start AS len FROM spans""".stripMargin).get
    assert(out.collect().head.getInt(0) == 4)
  }

  test("BEGIN...EXCEPTION runs the handler on error, body result otherwise") {
    val ok = new ScriptRunner(spark).run(
      """BEGIN
        |  SELECT 'fine' AS status;
        |EXCEPTION WHEN ERROR THEN
        |  SELECT 'handled' AS status;
        |END;""".stripMargin).get
    assert(ok.collect().head.getString(0) == "fine")
    val handled = new ScriptRunner(spark).run(
      """BEGIN
        |  SELECT CAST('nope' AS INT64) AS status;
        |EXCEPTION WHEN ERROR THEN
        |  SELECT 'handled' AS status;
        |END;""".stripMargin).get
    assert(handled.collect().head.getString(0) == "handled")
  }

  test("BREAK exits the innermost WHILE; CONTINUE skips to the next round") {
    val out = new ScriptRunner(spark).run(
      """DECLARE i INT64 DEFAULT 0;
        |DECLARE odd_sum INT64 DEFAULT 0;
        |WHILE TRUE DO
        |  SET i = i + 1;
        |  IF i > 7 THEN BREAK; END IF;
        |  IF i % 2 = 0 THEN CONTINUE; END IF;
        |  SET odd_sum = odd_sum + i;
        |END WHILE;
        |SELECT odd_sum AS total""".stripMargin).get
    assert(out.collect().head.getLong(0) == 16L) // 1 + 3 + 5 + 7
  }

  test("LEAVE works inside FOR; BREAK outside a loop is an error") {
    val out = new ScriptRunner(spark).run(
      """DECLARE seen INT64 DEFAULT 0;
        |FOR r IN (SELECT x FROM (SELECT explode(sequence(1, 100)) AS x)) DO
        |  SET seen = seen + 1;
        |  IF r.x >= 3 THEN LEAVE; END IF;
        |END FOR;
        |SELECT seen AS n""".stripMargin).get
    assert(out.collect().head.getLong(0) == 3L)
    val e = intercept[IllegalStateException] {
      new ScriptRunner(spark).run("BREAK")
    }
    assert(e.getMessage.contains("outside of a loop"))
  }

  test("CREATE OR REPLACE TEMP TABLE replaces the previous view") {
    val out = new ScriptRunner(spark).run(
      """CREATE TEMP TABLE t AS (SELECT 1 AS v);
        |CREATE OR REPLACE TEMP TABLE t AS (SELECT 2 AS v);
        |SELECT v FROM t""".stripMargin).get
    assert(out.collect().head.getInt(0) == 2)
  }

  test("BREAK inside BEGIN...EXCEPTION passes through to the loop") {
    val out = new ScriptRunner(spark).run(
      """DECLARE i INT64 DEFAULT 0;
        |WHILE TRUE DO
        |  SET i = i + 1;
        |  BEGIN
        |    IF i >= 4 THEN BREAK; END IF;
        |  EXCEPTION WHEN ERROR THEN
        |    SET i = i + 1000000;
        |  END;
        |END WHILE;
        |SELECT i AS final_i""".stripMargin).get
    // BREAK must exit the WHILE, not fire the error handler
    assert(out.collect().head.getLong(0) == 4L)
  }

  test("ASSERT passes silently, fails with the AS description") {
    val out = new ScriptRunner(spark).run(
      """ASSERT 1 < 2 AS 'math still works';
        |SELECT 42 AS v""".stripMargin).get
    assert(out.collect().head.getInt(0) == 42)
    val e = intercept[IllegalStateException] {
      new ScriptRunner(spark).run("ASSERT (SELECT 1) > 5 AS 'needs at least 6'")
    }
    assert(e.getMessage.contains("needs at least 6"))
  }

  test("EXPORT DATA writes the query result and reports the row count") {
    val dir = Scratch.onDisk("graft_export")
    val out = new ScriptRunner(spark).run(
      s"""EXPORT DATA OPTIONS(uri='$dir/out/part-*.csv', format='CSV',
         |  header=true, overwrite=true) AS
         |SELECT k, k * k AS sq FROM (SELECT explode(sequence(1, 5)) AS k)"""
        .stripMargin).get
    assert(out.collect().head.getLong(0) == 5L)
    val back = spark.read.option("header", "true").csv(s"$dir/out")
    assert(back.count() == 5)
    assert(back.columns.toSeq == Seq("k", "sq"))
  }

  test("string variables round-trip backslashes and quotes through substitution") {
    val out = new ScriptRunner(spark).run(
      """DECLARE v STRING DEFAULT 'a\\b';
        |SET v = CONCAT(v, '\\');
        |SET v = CONCAT(v, "it's");
        |SELECT v AS x""".stripMargin).get
    assert(out.collect().head.getString(0) == "a\\b\\it's")
  }

  test("a semicolon inside a triple-quoted literal does not split the script") {
    val out = new ScriptRunner(spark).run(
      "DECLARE msg STRING DEFAULT '''a; b''';\nSELECT msg AS m").get
    assert(out.collect().head.getString(0) == "a; b")
  }

  test("EXPORT DATA rejects a uri without exactly one '*' wildcard") {
    val dir = Scratch.onDisk("graft_export_bad")
    val e = intercept[IllegalArgumentException] {
      new ScriptRunner(spark).run(
        s"EXPORT DATA OPTIONS(uri='$dir/out/part.csv', format='CSV') AS SELECT 1 AS x")
    }
    assert(e.getMessage.contains("exactly one '*'"))
    val e2 = intercept[IllegalArgumentException] {
      new ScriptRunner(spark).run(
        s"EXPORT DATA OPTIONS(uri='$dir/o*ut/part-*.csv', format='CSV') AS SELECT 1 AS x")
    }
    assert(e2.getMessage.contains("exactly one '*'"))
  }

  test("LOAD DATA loads CSV with both schema sources and both modes") {
    val dir = Scratch.onDisk("graft_load")
    spark.sql("DROP TABLE IF EXISTS graft_loadspec_t")
    val sr = new ScriptRunner(spark)
    sr.run(
      s"""EXPORT DATA OPTIONS(uri='$dir/out/part-*.csv', format='CSV',
         |  header=true, overwrite=true) AS
         |SELECT k, k * k AS sq FROM (SELECT explode(sequence(1, 5)) AS k)"""
        .stripMargin)
    // OVERWRITE + explicit column list creates the table
    val r1 = sr.run(
      s"""LOAD DATA OVERWRITE graft_loadspec_t (k INT64, sq INT64)
         |FROM FILES(format='CSV', uris=['$dir/out/part-*.csv'],
         |  skip_leading_rows=1)""".stripMargin).get
    assert(r1.collect().head.getLong(0) == 5L)
    assert(spark.table("graft_loadspec_t").count() == 5L)
    // INTO with no column list: schema comes from the existing table
    sr.run(s"""LOAD DATA INTO graft_loadspec_t
         |FROM FILES(format='CSV', uris=['$dir/out/part-*.csv'],
         |  skip_leading_rows=1)""".stripMargin)
    assert(spark.table("graft_loadspec_t").count() == 10L)
    // OVERWRITE on the existing table replaces, not appends
    sr.run(s"""LOAD DATA OVERWRITE graft_loadspec_t
         |FROM FILES(format='CSV', uris=['$dir/out/part-*.csv'],
         |  skip_leading_rows=1)""".stripMargin)
    assert(spark.table("graft_loadspec_t").count() == 5L)
    assert(spark.table("graft_loadspec_t").schema.map(_.dataType.sql).toSet
      == Set("BIGINT"))
    spark.sql("DROP TABLE graft_loadspec_t")
  }

  test("LOAD DATA with a column list inserts by NAME, not position") {
    val dir = Scratch.onDisk("graft_load_byname")
    spark.sql("DROP TABLE IF EXISTS graft_loadspec_n")
    // destination column order (sq, k) is the REVERSE of the load list
    spark.sql("CREATE TABLE graft_loadspec_n (sq BIGINT, k BIGINT) USING PARQUET")
    val sr = new ScriptRunner(spark)
    sr.run(
      s"""EXPORT DATA OPTIONS(uri='$dir/out/part-*.csv', format='CSV',
         |  header=true, overwrite=true) AS
         |SELECT k, k * k AS sq FROM (SELECT explode(sequence(1, 3)) AS k);
         |LOAD DATA INTO graft_loadspec_n (k INT64, sq INT64)
         |FROM FILES(format='CSV', uris=['$dir/out/part-*.csv'],
         |  skip_leading_rows=1)""".stripMargin)
    val rows = spark.table("graft_loadspec_n").orderBy("k")
      .collect().map(r => (r.getLong(1), r.getLong(0)))
    assert(rows.toSeq == Seq((1L, 1L), (2L, 4L), (3L, 9L)),
      "k/sq landed in the wrong columns — positional insert")
    spark.sql("DROP TABLE graft_loadspec_n")
  }

  test("LOAD DATA fails loud on bad options instead of half-loading") {
    val sr = new ScriptRunner(spark)
    val noSchema = intercept[IllegalArgumentException] {
      sr.run("LOAD DATA INTO graft_loadspec_missing FROM FILES(format='CSV', uris=['/tmp/x-*.csv'])")
    }
    assert(noSchema.getMessage.contains("column list or an existing"))
    val badSkip = intercept[IllegalArgumentException] {
      sr.run("LOAD DATA INTO t (k INT64) FROM FILES(format='CSV', uris=['/tmp/x.csv'], skip_leading_rows=3)")
    }
    assert(badSkip.getMessage.contains("skip_leading_rows"))
    val unknown = intercept[IllegalArgumentException] {
      sr.run("LOAD DATA INTO t (k INT64) FROM FILES(format='CSV', uris=['/tmp/x.csv'], allow_jagged_rows=true)")
    }
    assert(unknown.getMessage.contains("allow_jagged_rows"))
    val noUris = intercept[IllegalArgumentException] {
      sr.run("LOAD DATA INTO t (k INT64) FROM FILES(format='CSV')")
    }
    assert(noUris.getMessage.contains("uris"))
    val jsonSkip = intercept[IllegalArgumentException] {
      sr.run("LOAD DATA INTO t (k INT64) FROM FILES(format='JSON', uris=['/tmp/x.json'], skip_leading_rows=1)")
    }
    assert(jsonSkip.getMessage.contains("only valid for CSV"))
  }

  test("LOAD DATA refuses to mutate a snapshot-clone table") {
    CloneRegistry.markReadOnly("graft_loadspec_frozen")
    val e = intercept[IllegalArgumentException] {
      new ScriptRunner(spark).run(
        "LOAD DATA INTO graft_loadspec_frozen (k INT64) FROM FILES(format='CSV', uris=['/tmp/x.csv'])")
    }
    assert(e.getMessage.contains("read-only"))
  }

  test("CREATE EXTERNAL TABLE reads files live — a later file shows up") {
    val dir = Scratch.onDisk("graft_ext")
    spark.sql("DROP TABLE IF EXISTS graft_extspec_t")
    val sr = new ScriptRunner(spark)
    sr.run(
      s"""EXPORT DATA OPTIONS(uri='$dir/out/part-*.csv', format='CSV',
         |  header=false, overwrite=true) AS
         |SELECT k FROM (SELECT explode(sequence(1, 4)) AS k);
         |CREATE EXTERNAL TABLE graft_extspec_t (k INT64)
         |OPTIONS(format='CSV', uris=['$dir/out/*.csv'])""".stripMargin)
    assert(spark.table("graft_extspec_t").count() == 4L)
    // external = files read in place: a file written AFTER the DDL is
    // visible once the cached listing refreshes (BigQuery re-lists
    // every query; Spark caches per table — REFRESH is the one seam)
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(s"$dir/out/extra-1.csv"), "9\n10\n")
    spark.sql("REFRESH TABLE graft_extspec_t")
    assert(spark.table("graft_extspec_t").count() == 6L)
    spark.sql("DROP TABLE graft_extspec_t")
  }

  test("RENAME/DROP COLUMN rebuild preserves partitioning and data") {
    spark.sql("DROP DATABASE IF EXISTS graft__altp CASCADE")
    val loc = Scratch.onDisk("altp")
    spark.sql(s"CREATE DATABASE graft__altp LOCATION '$loc'")
    val sr = new ScriptRunner(spark)
    sr.run(
      """CREATE TABLE `graft.altp.t` PARTITION BY grp AS
        |SELECT CAST(id AS INT64) AS v, CAST(id * 2 AS INT64) AS w,
        |  CASE WHEN id < 2 THEN 'a' ELSE 'b' END AS grp
        |FROM (SELECT explode(sequence(0, 3)) AS id);
        |ALTER TABLE `graft.altp.t` RENAME COLUMN v TO val;
        |ALTER TABLE `graft.altp.t` DROP COLUMN w""".stripMargin)
    assert(spark.table("graft__altp.t").columns.toSeq.sorted == Seq("grp", "val"))
    assert(spark.sql("SHOW PARTITIONS graft__altp.t").collect()
      .map(_.getString(0)).toSeq.sorted == Seq("grp=a", "grp=b"),
      "the rebuild must keep the partition layout")
    val out = sr.run("SELECT val, grp FROM graft.altp.t ORDER BY val")
      .get.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((0L, "a"), (1L, "a"), (2L, "b"), (3L, "b")))
    // a partitioning column cannot be dropped (BigQuery errors too)
    val e = intercept[IllegalArgumentException] {
      sr.run("ALTER TABLE `graft.altp.t` DROP COLUMN grp")
    }
    assert(e.getMessage.contains("partitioning"))
    // renaming the PARTITION column re-partitions by the new name
    sr.run("ALTER TABLE `graft.altp.t` RENAME COLUMN grp TO bucket")
    assert(spark.sql("SHOW PARTITIONS graft__altp.t").collect()
      .map(_.getString(0)).toSeq.sorted == Seq("bucket=a", "bucket=b"))
  }

  test("graft.autoRefresh external table sees a newly-dropped file without REFRESH") {
    val dir = Scratch.onDisk("graft_autoref")
    spark.sql("DROP TABLE IF EXISTS graft_autoref_t")
    spark.sql("DROP TABLE IF EXISTS graft_autoref_ctl")
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(s"$dir/a.csv"), "1\n2\n")
    val sr = new ScriptRunner(spark)
    sr.run(
      s"""CREATE EXTERNAL TABLE graft_autoref_t (k INT64)
         |OPTIONS(format='CSV', uris=['$dir/*.csv'], graft.autoRefresh=true);
         |CREATE EXTERNAL TABLE graft_autoref_ctl (k INT64)
         |OPTIONS(format='CSV', uris=['$dir/*.csv'])""".stripMargin)
    assert(sr.run("SELECT k FROM graft_autoref_t").get.count() == 2L)
    assert(sr.run("SELECT k FROM graft_autoref_ctl").get.count() == 2L)
    // drop a new file into the directory — NO manual REFRESH TABLE
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(s"$dir/b.csv"), "3\n4\n5\n")
    assert(sr.run("SELECT k FROM graft_autoref_t").get.count() == 5L,
      "the opted-in table must re-list per query (BigQuery semantics)")
    // the control table keeps Spark's cached listing until REFRESH —
    // the e54 seam is unchanged for tables without the option
    assert(sr.run("SELECT k FROM graft_autoref_ctl").get.count() == 2L,
      "without the option the cached listing must persist")
    spark.sql("REFRESH TABLE graft_autoref_ctl")
    assert(sr.run("SELECT k FROM graft_autoref_ctl").get.count() == 5L)
    spark.sql("DROP TABLE graft_autoref_t")
    spark.sql("DROP TABLE graft_autoref_ctl")
    ExternalTables.unregister("graft_autoref_t")
  }

  test("autoRefresh reaches tables referenced through a VIEW or TVF") {
    val dir = Scratch.onDisk("graft_autoref2")
    spark.sql("DROP TABLE IF EXISTS graft_autoref2_t")
    spark.sql("DROP VIEW IF EXISTS graft_autoref2_v")
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(s"$dir/a.csv"), "1\n2\n")
    val sr = new ScriptRunner(spark)
    sr.run(
      s"""CREATE EXTERNAL TABLE graft_autoref2_t (k INT64)
         |OPTIONS(format='CSV', uris=['$dir/*.csv'], graft.autoRefresh=true);
         |CREATE VIEW graft_autoref2_v AS SELECT k FROM graft_autoref2_t;
         |CREATE TABLE FUNCTION graft_autoref2_f(lo INT64) AS
         |  (SELECT k FROM graft_autoref2_t WHERE k >= lo)""".stripMargin)
    assert(sr.run("SELECT k FROM graft_autoref2_v").get.count() == 2L)
    // new file lands; the statement names only the VIEW — its listing
    // must still invalidate (the round-8 substring scan missed this)
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(s"$dir/b.csv"), "3\n4\n5\n")
    assert(sr.run("SELECT k FROM graft_autoref2_v").get.count() == 5L,
      "a view over an autoRefresh table must see the new file")
    // TVF-indirect: the call site names only the function
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(s"$dir/c.csv"), "6\n")
    assert(sr.run("SELECT * FROM graft_autoref2_f(1)").get.count() == 6L,
      "a TVF over an autoRefresh table must see the new file")
    // view-on-view still resolves
    sr.run("CREATE VIEW graft_autoref2_v2 AS SELECT k FROM graft_autoref2_v")
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(s"$dir/d.csv"), "7\n8\n")
    assert(sr.run("SELECT k FROM graft_autoref2_v2").get.count() == 8L,
      "a view over a view over an autoRefresh table must see the new file")
    sr.run("DROP TABLE FUNCTION graft_autoref2_f")
    spark.sql("DROP VIEW graft_autoref2_v2")
    spark.sql("DROP VIEW graft_autoref2_v")
    spark.sql("DROP TABLE graft_autoref2_t")
    ExternalTables.unregister("graft_autoref2_t")
  }

  test("autoRefresh matches whole names, not substrings") {
    val dir = Scratch.onDisk("graft_autoref3")
    spark.sql("DROP TABLE IF EXISTS graft_ar3")
    spark.sql("DROP TABLE IF EXISTS graft_ar3x")
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(s"$dir/a.csv"), "1\n")
    val sr = new ScriptRunner(spark)
    // graft_ar3 is a PREFIX of graft_ar3x: under the substring scan a
    // query over graft_ar3x would spuriously refresh graft_ar3 — and,
    // worse, a query over graft_ar3 would NOT refresh graft_ar3x
    sr.run(
      s"""CREATE EXTERNAL TABLE graft_ar3x (k INT64)
         |OPTIONS(format='CSV', uris=['$dir/*.csv'], graft.autoRefresh=true)""".stripMargin)
    spark.sql("CREATE TABLE graft_ar3 (k BIGINT) USING parquet")
    assert(sr.run("SELECT k FROM graft_ar3x").get.count() == 1L)
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(s"$dir/b.csv"), "2\n")
    // whole-name resolution: the registered table refreshes on ITS OWN
    // name even though another table shares the prefix
    assert(sr.run("SELECT k FROM graft_ar3x").get.count() == 2L)
    spark.sql("DROP TABLE graft_ar3")
    spark.sql("DROP TABLE graft_ar3x")
    ExternalTables.unregister("graft_ar3x")
  }

  test("scalar SET/IF/WHILE evaluate driver-local (zero jobs); table refs still run Spark") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val sr = new ScriptRunner(spark)
      // warm anything lazy, then measure
      sr.run("DECLARE warm INT64 DEFAULT 1; SET warm = warm + 1")
      Thread.sleep(500) // listener events post asynchronously
      jobs.set(0)
      val out = sr.run(
        """DECLARE i INT64 DEFAULT 0; DECLARE s STRING DEFAULT 'x';
          |DECLARE d DATE DEFAULT DATE '2024-03-01';
          |WHILE i < 20 DO
          |  SET i = i + 1;
          |  IF MOD(i, 2) = 0 THEN SET s = CONCAT(s, 'y'); END IF;
          |  SET d = DATE_ADD(d, INTERVAL 1 DAY);
          |END WHILE;
          |SELECT i AS n, s AS acc, d AS fin""".stripMargin).get.collect()(0)
      assert(out.getLong(0) == 20L && out.getString(1) == "x" + "y" * 10)
      Thread.sleep(500) // listener events post asynchronously
      // only the final SELECT may launch jobs — the ~80 scalar
      // statements (20 SETs ×3 + conditions) must all stay driver-local
      assert(jobs.get() <= 2,
        s"scalar scripting statements launched ${jobs.get()} Spark jobs")
      // a SET whose expression READS A TABLE must still run through
      // Spark (and produce the right value)
      spark.sql("DROP TABLE IF EXISTS graft_dlocal_t")
      spark.sql("CREATE TABLE graft_dlocal_t USING parquet AS SELECT 41L AS v")
      jobs.set(0)
      val out2 = sr.run(
        """DECLARE x INT64;
          |SET x = (SELECT MAX(v) FROM graft_dlocal_t) + 1;
          |SELECT x AS got""".stripMargin).get.collect()(0).getLong(0)
      assert(out2 == 42L)
      Thread.sleep(500) // listener events post asynchronously
      assert(jobs.get() >= 1, "a table-referencing SET must launch a Spark job")
      spark.sql("DROP TABLE graft_dlocal_t")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("CREATE TABLE tails on CTAS and column-list forms; ALTER COLUMN; INTO-less INSERT") {
    spark.sql("DROP DATABASE IF EXISTS graft__ddl9 CASCADE")
    val loc = Scratch.onDisk("ddl9")
    spark.sql(s"CREATE DATABASE graft__ddl9 LOCATION '$loc'")
    val sr = new ScriptRunner(spark)
    // CTAS with CLUSTER BY (layout-only) + OPTIONS (description → comment)
    sr.run(
      """CREATE OR REPLACE TABLE graft.ddl9.c1 CLUSTER BY k
        |OPTIONS(description='clustered') AS SELECT 'a' AS k, 1 AS v""".stripMargin)
    assert(sr.run("SELECT v FROM graft.ddl9.c1").get.collect()(0).getInt(0) == 1)
    // CTAS with expression partitioning (DATE(ts)): layout-only, accepted
    sr.run(
      """CREATE OR REPLACE TABLE graft.ddl9.c2 PARTITION BY DATE(ts) AS
        |SELECT TIMESTAMP '2024-01-01 10:00:00' AS ts, 2 AS v""".stripMargin)
    assert(sr.run("SELECT v FROM graft.ddl9.c2").get.collect()(0).getInt(0) == 2)
    // explicit-schema CTAS: declared names+types drive the table; the
    // query inserts by the declared columns (partition cols reorder)
    sr.run(
      """CREATE OR REPLACE TABLE graft.ddl9.c3 (grp STRING, v INT64)
        |PARTITION BY grp AS SELECT 'g', 5""".stripMargin)
    val c3 = sr.run("SELECT grp, v FROM graft.ddl9.c3 WHERE grp = 'g'").get.collect()(0)
    assert((c3.getString(0), c3.getLong(1)) == ("g", 5L))
    assert(spark.sql("SHOW PARTITIONS graft__ddl9.c3").collect()
      .map(_.getString(0)).toSeq == Seq("grp=g"))
    // plain column-list form with OR REPLACE (v1 catalogs lack REPLACE
    // TABLE — drop-then-create) and a partition tail; INTO-less INSERT
    sr.run(
      """CREATE OR REPLACE TABLE graft.ddl9.c4 (d DATE, v INT64) PARTITION BY d;
        |INSERT graft.ddl9.c4 (d, v) VALUES (DATE '2024-01-02', 7)""".stripMargin)
    assert(sr.run("SELECT v FROM graft.ddl9.c4 WHERE d = DATE '2024-01-02'")
      .get.collect()(0).getLong(0) == 7L)
    // ALTER COLUMN SET DATA TYPE rebuilds with a cast; DROP NOT NULL no-ops
    sr.run(
      """CREATE OR REPLACE TABLE graft.ddl9.c5 AS SELECT 3 AS a, 'k' AS b;
        |ALTER TABLE graft.ddl9.c5 ALTER COLUMN a SET DATA TYPE FLOAT64;
        |ALTER TABLE graft.ddl9.c5 ALTER COLUMN b DROP NOT NULL""".stripMargin)
    val c5 = sr.run("SELECT a, b FROM graft.ddl9.c5").get.collect()(0)
    assert(c5.getDouble(0) == 3.0 && c5.getString(1) == "k")
    // unsupported ALTER COLUMN forms fail loud
    val e = intercept[IllegalArgumentException] {
      sr.run("ALTER TABLE graft.ddl9.c5 ALTER COLUMN a SET DEFAULT 1")
    }
    assert(e.getMessage.contains("ALTER COLUMN"), e.getMessage)
    // CREATE VIEW OPTIONS(description) lands as the view comment
    sr.run("CREATE OR REPLACE VIEW graft.ddl9.v1 OPTIONS(description='vdoc') AS SELECT 1 AS a")
    assert(sr.run("SELECT a FROM graft.ddl9.v1").get.collect()(0).getInt(0) == 1)
  }

  test("CREATE EXTERNAL TABLE fails loud on multiple uris and missing schema") {
    val sr = new ScriptRunner(spark)
    val multi = intercept[IllegalArgumentException] {
      sr.run("CREATE EXTERNAL TABLE t (k INT64) OPTIONS(format='CSV', uris=['/tmp/a.csv', '/tmp/b.csv'])")
    }
    assert(multi.getMessage.contains("exactly one uri"))
    val noCols = intercept[IllegalArgumentException] {
      sr.run("CREATE EXTERNAL TABLE t OPTIONS(format='CSV', uris=['/tmp/a.csv'])")
    }
    assert(noCols.getMessage.contains("column list"))
    val badOpt = intercept[IllegalArgumentException] {
      sr.run("CREATE EXTERNAL TABLE t (k INT64) OPTIONS(format='CSV', uris=['/tmp/a.csv'], max_bad_records=1)")
    }
    assert(badOpt.getMessage.contains("max_bad_records"))
  }

  test("transactions compose with scripting: conditional COMMIT/ROLLBACK") {
    spark.sql("DROP TABLE IF EXISTS graft_txnspec_t")
    spark.sql("CREATE TABLE graft_txnspec_t (v BIGINT) USING PARQUET")
    spark.sql("INSERT INTO graft_txnspec_t VALUES (1), (2), (3), (4)")
    def script(cutoff: Int) =
      s"""DECLARE cutoff INT64 DEFAULT $cutoff;
         |BEGIN TRANSACTION;
         |DELETE FROM graft_txnspec_t WHERE v < cutoff;
         |IF (SELECT count(1) FROM graft_txnspec_t) >= 3 THEN
         |  COMMIT TRANSACTION;
         |ELSE
         |  ROLLBACK TRANSACTION;
         |END IF""".stripMargin
    // commit branch: 3 rows survive the delete
    new ScriptRunner(spark).run(script(2))
    assert(spark.table("graft_txnspec_t").count() == 3L)
    // rollback branch: only 1 row would survive → the DELETE undoes
    new ScriptRunner(spark).run(script(4))
    assert(spark.table("graft_txnspec_t").count() == 3L)
    // a script-path INSERT inside an open txn is pinned: the open-at-end
    // rollback must undo it
    val open = intercept[IllegalStateException] {
      new ScriptRunner(spark).run(
        "BEGIN TRANSACTION;\nINSERT INTO graft_txnspec_t VALUES (99)")
    }
    assert(open.getMessage.contains("still open"))
    assert(spark.table("graft_txnspec_t").count() == 3L)
    spark.sql("DROP TABLE graft_txnspec_t")
  }

  test("MATERIALIZED VIEW serves its materialization until CALL refresh") {
    spark.sql("DROP TABLE IF EXISTS graft_mvspec_base")
    spark.sql("CREATE TABLE graft_mvspec_base (k BIGINT) USING PARQUET")
    spark.sql("INSERT INTO graft_mvspec_base VALUES (1), (2), (3)")
    val sr = new ScriptRunner(spark)
    sr.run("CREATE MATERIALIZED VIEW graft_mvspec_mv AS SELECT count(1) AS n FROM graft_mvspec_base")
    assert(spark.table("graft_mvspec_mv").head().getLong(0) == 3L)
    spark.sql("INSERT INTO graft_mvspec_base VALUES (4)")
    // stale until refreshed — the documented batch-engine contract
    assert(spark.table("graft_mvspec_mv").head().getLong(0) == 3L)
    sr.run("CALL BQ.REFRESH_MATERIALIZED_VIEW('graft_mvspec_mv')")
    assert(spark.table("graft_mvspec_mv").head().getLong(0) == 4L)
    sr.run("DROP MATERIALIZED VIEW graft_mvspec_mv")
    assert(!spark.catalog.tableExists("graft_mvspec_mv"))
    spark.sql("DROP TABLE graft_mvspec_base")
  }

  test("materialized views are read-only and only DROP MATERIALIZED VIEW removes them") {
    spark.sql("DROP TABLE IF EXISTS graft_mvspec_b2")
    spark.sql("CREATE TABLE graft_mvspec_b2 (k BIGINT) USING PARQUET")
    val sr = new ScriptRunner(spark)
    sr.run("CREATE MATERIALIZED VIEW graft_mvspec_m2 AS SELECT count(1) AS n FROM graft_mvspec_b2")
    val dml = new DmlRunner(spark, new TransformRunner(spark))
    val ro = intercept[IllegalArgumentException] {
      dml.run("DELETE FROM graft_mvspec_m2 WHERE n = 0")
    }
    assert(ro.getMessage.contains("read-only"))
    val dropTbl = intercept[IllegalArgumentException] {
      sr.run("DROP TABLE graft_mvspec_m2")
    }
    assert(dropTbl.getMessage.contains("DROP MATERIALIZED VIEW"))
    val dropDml = intercept[IllegalArgumentException] {
      dml.run("DROP TABLE graft_mvspec_m2")
    }
    assert(dropDml.getMessage.contains("DROP MATERIALIZED VIEW"))
    val dup = intercept[IllegalArgumentException] {
      sr.run("CREATE MATERIALIZED VIEW graft_mvspec_m2 AS SELECT 1 AS x")
    }
    assert(dup.getMessage.contains("OR REPLACE"))
    val unknown = intercept[IllegalArgumentException] {
      sr.run("CALL BQ.REFRESH_MATERIALIZED_VIEW('graft_mvspec_nope')")
    }
    assert(unknown.getMessage.contains("not a registered materialized view"))
    sr.run("DROP MATERIALIZED VIEW graft_mvspec_m2")
    spark.sql("DROP TABLE graft_mvspec_b2")
  }

  test("time travel fails loud instead of silently reading current data") {
    val e = intercept[UnsupportedOperationException] {
      new ScriptRunner(spark).run(
        "SELECT * FROM t FOR SYSTEM_TIME AS OF TIMESTAMP '2024-01-01'")
    }
    assert(e.getMessage.contains("time travel"))
  }

  test("wildcard/INFORMATION_SCHEMA expansion skips string literals") {
    val out = new ScriptRunner(spark).run(
      "SELECT 'see `docs_*` and x.INFORMATION_SCHEMA.TABLES' AS s").get
    assert(out.collect().head.getString(0) ==
      "see `docs_*` and x.INFORMATION_SCHEMA.TABLES")
  }

  test("RAISE USING MESSAGE aborts the script with the evaluated message") {
    val e = intercept[RuntimeException] {
      new ScriptRunner(spark).run(
        "RAISE USING MESSAGE = concat('bad rows: ', CAST(3 AS STRING))")
    }
    assert(e.getMessage == "bad rows: 3")
  }

  test("@@error.message reads the caught error inside an EXCEPTION handler") {
    val out = new ScriptRunner(spark).run(
      """BEGIN
        |  RAISE USING MESSAGE = 'original failure';
        |EXCEPTION WHEN ERROR THEN
        |  SELECT @@error.message AS msg;
        |END""".stripMargin).get
    assert(out.collect().head.getString(0) == "original failure")
  }

  test("bare RAISE re-raises inside a handler, errors outside one") {
    val e = intercept[RuntimeException] {
      new ScriptRunner(spark).run(
        """BEGIN
          |  RAISE USING MESSAGE = 'keep me';
          |EXCEPTION WHEN ERROR THEN
          |  RAISE;
          |END""".stripMargin)
    }
    assert(e.getMessage == "keep me")
    val outside = intercept[IllegalStateException] {
      new ScriptRunner(spark).run("RAISE")
    }
    assert(outside.getMessage.contains("EXCEPTION handler"))
  }

  test("CALL binds IN/OUT/INOUT and the body runs in a fresh scope") {
    val out = new ScriptRunner(spark).run(
      """DECLARE hidden INT64 DEFAULT 99;
        |DECLARE got INT64;
        |DECLARE acc INT64 DEFAULT 10;
        |CREATE PROCEDURE p.ds.addup(IN x INT64, OUT y INT64, INOUT z INT64)
        |BEGIN
        |  SET y = x * 2;
        |  SET z = z + x;
        |END;
        |CALL p.ds.addup(hidden - 92, got, acc);
        |SELECT got AS doubled, acc AS accumulated""".stripMargin).get
    val r = out.collect().head
    assert(r.getLong(0) == 14L && r.getLong(1) == 17L)
  }

  test("procedure body cannot see caller variables") {
    val e = intercept[Exception] {
      new ScriptRunner(spark).run(
        """DECLARE secret INT64 DEFAULT 5;
          |CREATE PROCEDURE p.ds.peek(OUT y INT64)
          |BEGIN
          |  SET y = secret;
          |END;
          |DECLARE got INT64;
          |CALL p.ds.peek(got);
          |SELECT got AS g""".stripMargin)
    }
    // `secret` is unresolved inside the body: surfaces as an analysis error
    assert(e.getMessage.toLowerCase.contains("secret"))
  }

  test("CALL of an undefined procedure and duplicate CREATE both fail loud") {
    val undef = intercept[IllegalArgumentException] {
      new ScriptRunner(spark).run("CALL p.ds.missing(1)")
    }
    assert(undef.getMessage.contains("not defined"))
    val dup = intercept[IllegalArgumentException] {
      new ScriptRunner(spark).run(
        """CREATE PROCEDURE p.ds.one(IN x INT64) BEGIN SELECT 1; END;
          |CREATE PROCEDURE p.ds.one(IN x INT64) BEGIN SELECT 2; END""".stripMargin)
    }
    assert(dup.getMessage.contains("already exists"))
    // IF NOT EXISTS keeps the FIRST body
    val keep = new ScriptRunner(spark).run(
      """DECLARE r INT64;
        |CREATE PROCEDURE p.ds.keep(OUT y INT64) BEGIN SET y = 1; END;
        |CREATE PROCEDURE IF NOT EXISTS p.ds.keep(OUT y INT64) BEGIN SET y = 2; END;
        |CALL p.ds.keep(r);
        |SELECT r AS kept""".stripMargin).get
    assert(keep.collect().head.getLong(0) == 1L)
  }

  test("OUT argument must be a variable; DROP PROCEDURE removes it") {
    val notVar = intercept[Exception] {
      new ScriptRunner(spark).run(
        """CREATE PROCEDURE p.ds.o(OUT y INT64) BEGIN SET y = 1; END;
          |CALL p.ds.o(1 + 2)""".stripMargin)
    }
    assert(notVar.getMessage.contains("must be a variable"))
    val dropped = intercept[IllegalArgumentException] {
      new ScriptRunner(spark).run(
        """CREATE PROCEDURE p.ds.gone(IN x INT64) BEGIN SELECT x; END;
          |DROP PROCEDURE p.ds.gone;
          |CALL p.ds.gone(1)""".stripMargin)
    }
    assert(dropped.getMessage.contains("not defined"))
    val dropMissing = intercept[IllegalArgumentException] {
      new ScriptRunner(spark).run("DROP PROCEDURE p.ds.never")
    }
    assert(dropMissing.getMessage.contains("does not exist"))
    // IF EXISTS tolerates the absence
    assert(new ScriptRunner(spark)
      .run("DROP PROCEDURE IF EXISTS p.ds.never; SELECT 1 AS ok").get
      .collect().head.getInt(0) == 1)
  }

  test("runaway procedure recursion is capped") {
    val e = intercept[Exception] {
      new ScriptRunner(spark).run(
        """CREATE PROCEDURE p.ds.loop(IN x INT64)
          |BEGIN
          |  CALL p.ds.loop(x + 1);
          |END;
          |CALL p.ds.loop(0)""".stripMargin)
    }
    assert(e.getMessage.contains("nesting exceeded"))
  }

  test("REPEAT…UNTIL runs the body at least once and stops on the condition") {
    val out = new ScriptRunner(spark).run(
      """DECLARE i INT64 DEFAULT 0;
        |DECLARE total INT64 DEFAULT 0;
        |REPEAT
        |  SET i = i + 1;
        |  SET total = total + i;
        |UNTIL i >= 4
        |END REPEAT;
        |SELECT total AS t, i AS n""".stripMargin).get
    val r = out.collect().head
    assert(r.getLong(0) == 10L && r.getLong(1) == 4L) // 1+2+3+4
  }

  test("REPEAT body executes once even when the condition starts true") {
    val out = new ScriptRunner(spark).run(
      """DECLARE i INT64 DEFAULT 99;
        |DECLARE ran INT64 DEFAULT 0;
        |REPEAT
        |  SET ran = ran + 1;
        |UNTIL i >= 4
        |END REPEAT;
        |SELECT ran AS r""".stripMargin).get
    assert(out.collect().head.getLong(0) == 1L)
  }

  test("REPEAT honors BREAK and CONTINUE") {
    val out = new ScriptRunner(spark).run(
      """DECLARE i INT64 DEFAULT 0;
        |DECLARE odd_sum INT64 DEFAULT 0;
        |REPEAT
        |  SET i = i + 1;
        |  IF i >= 100 THEN BREAK; END IF;
        |  IF MOD(i, 2) = 0 THEN CONTINUE; END IF;
        |  SET odd_sum = odd_sum + i;
        |UNTIL i >= 5
        |END REPEAT;
        |SELECT odd_sum AS s, i AS n""".stripMargin).get
    val r = out.collect().head
    assert(r.getLong(0) == 9L && r.getLong(1) == 5L) // 1+3+5; CONTINUE still checks UNTIL
  }

  test("CASE…END CASE with operand dispatches one branch (= comparison)") {
    val out = new ScriptRunner(spark).run(
      """DECLARE mode STRING DEFAULT 'b';
        |DECLARE hit STRING DEFAULT 'none';
        |CASE mode
        |  WHEN 'a' THEN SET hit = 'was_a';
        |  WHEN 'b' THEN SET hit = 'was_b';
        |  ELSE SET hit = 'other';
        |END CASE;
        |SELECT hit AS h""".stripMargin).get
    assert(out.collect().head.getString(0) == "was_b")
  }

  test("searched CASE…END CASE (no operand) takes the first true WHEN") {
    val out = new ScriptRunner(spark).run(
      """DECLARE n INT64 DEFAULT 17;
        |DECLARE bucket STRING;
        |CASE
        |  WHEN n < 10 THEN SET bucket = 'small';
        |  WHEN n < 100 THEN SET bucket = 'medium';
        |  ELSE SET bucket = 'large';
        |END CASE;
        |SELECT bucket AS b""".stripMargin).get
    assert(out.collect().head.getString(0) == "medium")
  }

  test("CASE…END CASE falls through to ELSE; no match without ELSE is a no-op") {
    val runner = new ScriptRunner(spark)
    val out = runner.run(
      """DECLARE x INT64 DEFAULT 42;
        |DECLARE r STRING DEFAULT 'untouched';
        |CASE x
        |  WHEN 1 THEN SET r = 'one';
        |END CASE;
        |SELECT r AS v""".stripMargin).get
    assert(out.collect().head.getString(0) == "untouched")
  }

  test("CASE body may contain a CASE expression without closing the block") {
    val out = new ScriptRunner(spark).run(
      """DECLARE k INT64 DEFAULT 2;
        |DECLARE label STRING;
        |CASE
        |  WHEN k > 0 THEN
        |    SET label = (SELECT CASE WHEN k = 2 THEN 'two' ELSE 'pos' END);
        |  ELSE SET label = 'nonpos';
        |END CASE;
        |SELECT label AS l""".stripMargin).get
    assert(out.collect().head.getString(0) == "two")
  }

  test("LOOP…END LOOP exits on BREAK") {
    val out = new ScriptRunner(spark).run(
      """DECLARE i INT64 DEFAULT 0;
        |LOOP
        |  SET i = i + 1;
        |  IF i >= 7 THEN BREAK; END IF;
        |END LOOP;
        |SELECT i AS n""".stripMargin).get
    assert(out.collect().head.getLong(0) == 7L)
  }

  test("nested REPEAT inside WHILE keeps block depths straight") {
    val out = new ScriptRunner(spark).run(
      """DECLARE outer_i INT64 DEFAULT 0;
        |DECLARE cnt INT64 DEFAULT 0;
        |WHILE outer_i < 2 DO
        |  SET outer_i = outer_i + 1;
        |  REPEAT
        |    SET cnt = cnt + 1;
        |  UNTIL MOD(cnt, 3) = 0
        |  END REPEAT;
        |END WHILE;
        |SELECT cnt AS c""".stripMargin).get
    assert(out.collect().head.getLong(0) == 6L)
  }

  test("procedure EXCEPTION handler fires inside the body") {
    val out = new ScriptRunner(spark).run(
      """DECLARE msg STRING;
        |CREATE PROCEDURE p.ds.guarded(OUT m STRING)
        |BEGIN
        |  BEGIN
        |    RAISE USING MESSAGE = 'boom';
        |  EXCEPTION WHEN ERROR THEN
        |    SET m = @@error.message;
        |  END;
        |END;
        |CALL p.ds.guarded(msg);
        |SELECT msg AS caught""".stripMargin).get
    assert(out.collect().head.getString(0) == "boom")
  }

  test("CREATE TABLE CLONE captures the image; SNAPSHOT form is read-only") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft__clonespec")
    // DROP leaves the location behind when staged-swap snapshots
    // remain inside it — scrub dirs so the spec is re-runnable
    val dbLoc = new java.io.File(
      spark.catalog.getDatabase("graft__clonespec").locationUri
        .stripPrefix("file:"))
    for (t <- Seq("src", "copy1", "frozen")) {
      spark.sql(s"DROP TABLE IF EXISTS graft__clonespec.$t")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      val loc = new java.io.File(dbLoc, t)
      if (loc.exists) rm(loc)
    }
    spark.sql("CREATE TABLE graft__clonespec.src (k BIGINT) USING PARQUET")
    spark.sql("INSERT INTO graft__clonespec.src VALUES (1), (2), (3)")
    val sr = new ScriptRunner(spark)
    val dml = new DmlRunner(spark, new TransformRunner(spark))
    sr.run("CREATE TABLE `graft.clonespec.copy1` CLONE `graft.clonespec.src`")
    sr.run("CREATE SNAPSHOT TABLE `graft.clonespec.frozen` CLONE `graft.clonespec.src`")
    // mutate the source after both clones: neither clone may change
    dml.run("DELETE FROM `graft.clonespec.src` WHERE k >= 2")
    assert(spark.table("graft__clonespec.src").count() == 1L)
    assert(spark.table("graft__clonespec.copy1").count() == 3L)
    assert(spark.table("graft__clonespec.frozen").count() == 3L)
    // the plain clone is writable; the snapshot clone is not
    dml.run("DELETE FROM `graft.clonespec.copy1` WHERE k = 1")
    assert(spark.table("graft__clonespec.copy1").count() == 2L)
    val ro = intercept[IllegalArgumentException] {
      dml.run("DELETE FROM `graft.clonespec.frozen` WHERE k = 1")
    }
    assert(ro.getMessage.contains("read-only"))
    val roU = intercept[IllegalArgumentException] {
      dml.run("UPDATE `graft.clonespec.frozen` SET k = 9 WHERE k = 1")
    }
    assert(roU.getMessage.contains("read-only"))
    // DROP of a snapshot table stays legal (BigQuery allows it)
    dml.run("DROP TABLE `graft.clonespec.frozen`")
    assert(!spark.catalog.tableExists("graft__clonespec.frozen"))

    // the read-only mark dies with the table: a fresh, unrelated table
    // re-using the name must be writable again (DROP released the mark)
    spark.sql("CREATE TABLE graft__clonespec.frozen (k BIGINT) USING PARQUET")
    spark.sql("INSERT INTO graft__clonespec.frozen VALUES (7)")
    dml.run("DELETE FROM `graft.clonespec.frozen` WHERE k = 7")
    assert(spark.table("graft__clonespec.frozen").count() == 0L)
  }

  test("script-path INSERT INTO a snapshot table or MV is rejected, not silent") {
    spark.sql("DROP DATABASE IF EXISTS graft__rospec CASCADE")
    val roLoc = Scratch.onDisk("rospec")
    spark.sql(s"CREATE DATABASE graft__rospec LOCATION '$roLoc'")
    MvRegistry.drop("graft__rospec.mvro")
    CloneRegistry.unmark("graft__rospec.snap2")
    CloneRegistry.unmark("graft__rospec.mvro")
    spark.sql("CREATE TABLE graft__rospec.src2 (k BIGINT) USING PARQUET")
    spark.sql("INSERT INTO graft__rospec.src2 VALUES (1), (2)")
    val sr = new ScriptRunner(spark)
    sr.run("CREATE SNAPSHOT TABLE `graft.rospec.snap2` CLONE `graft.rospec.src2`")
    // generic spark.sql would happily append — the gate must fire first
    val e = intercept[IllegalArgumentException] {
      sr.run("INSERT INTO `graft.rospec.snap2` VALUES (99)")
    }
    assert(e.getMessage.contains("read-only"))
    assert(spark.table("graft__rospec.snap2").count() == 2L)
    // same contract for a materialized view: a script INSERT would be
    // silently discarded by the next refresh
    sr.run(
      """CREATE MATERIALIZED VIEW `graft.rospec.mvro` AS
        |SELECT count(1) AS n FROM graft.rospec.src2""".stripMargin)
    val e2 = intercept[IllegalArgumentException] {
      sr.run("INSERT INTO `graft.rospec.mvro` VALUES (42)")
    }
    assert(e2.getMessage.contains("read-only"))
    sr.run("DROP MATERIALIZED VIEW `graft.rospec.mvro`")
  }

  test("rollback of an in-transaction DROP restores a snapshot table's read-only mark") {
    spark.sql("DROP DATABASE IF EXISTS graft__rotx CASCADE")
    val loc = Scratch.onDisk("rotx")
    spark.sql(s"CREATE DATABASE graft__rotx LOCATION '$loc'")
    CloneRegistry.unmark("graft__rotx.frozen")
    spark.sql("CREATE TABLE graft__rotx.src (k BIGINT) USING PARQUET")
    spark.sql("INSERT INTO graft__rotx.src VALUES (1), (2)")
    val sr = new ScriptRunner(spark)
    sr.run("CREATE SNAPSHOT TABLE `graft.rotx.frozen` CLONE `graft.rotx.src`")
    sr.run(
      """BEGIN TRANSACTION;
        |DROP TABLE `graft.rotx.frozen`;
        |ROLLBACK TRANSACTION""".stripMargin)
    assert(spark.table("graft__rotx.frozen").count() == 2L,
      "the dropped snapshot table must return on rollback")
    val ro = intercept[IllegalArgumentException] {
      new DmlRunner(spark, new TransformRunner(spark))
        .run("DELETE FROM `graft.rotx.frozen` WHERE k = 1")
    }
    assert(ro.getMessage.contains("read-only"),
      "the read-only contract must restore WITH the files")
  }

  test("transaction rollback undoes LOAD DATA OVERWRITE (file-destroying script path)") {
    spark.sql("DROP DATABASE IF EXISTS graft__loadtx CASCADE")
    val dbLoc = Scratch.onDisk("loadtx")
    spark.sql(s"CREATE DATABASE graft__loadtx LOCATION '$dbLoc'")
    spark.sql("CREATE TABLE graft__loadtx.t (k BIGINT) USING PARQUET")
    spark.sql("INSERT INTO graft__loadtx.t VALUES (1), (2), (3)")
    val csv = Scratch.onDisk("loadtx_csv")
    java.nio.file.Files.writeString(java.nio.file.Path.of(s"$csv/in.csv"), "7\n8\n")
    val sr = new ScriptRunner(spark)
    sr.run(
      s"""BEGIN TRANSACTION;
         |LOAD DATA OVERWRITE `graft.loadtx.t` (k INT64)
         |FROM FILES(format='CSV', uris=['$csv/*.csv']);
         |ROLLBACK TRANSACTION""".stripMargin)
    assert(spark.table("graft__loadtx.t").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 3L),
      "the overwritten files must return on rollback (destructive-path pin)")
    // and the overwrite sticks on commit
    sr.run(
      s"""BEGIN TRANSACTION;
         |LOAD DATA OVERWRITE `graft.loadtx.t` (k INT64)
         |FROM FILES(format='CSV', uris=['$csv/*.csv']);
         |COMMIT TRANSACTION""".stripMargin)
    assert(spark.table("graft__loadtx.t").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(7L, 8L))
  }

  test("partition-scoped MV refresh touches only the stale partition's files") {
    spark.sql("DROP DATABASE IF EXISTS graft__mvinc CASCADE")
    val loc = Scratch.onDisk("mvinc")
    spark.sql(s"CREATE DATABASE graft__mvinc LOCATION '$loc'")
    val sr = new ScriptRunner(spark)
    MvRegistry.drop("graft__mvinc.mv")
    CloneRegistry.unmark("graft__mvinc.mv")
    sr.run(
      """CREATE TABLE `graft.mvinc.base` PARTITION BY grp AS
        |SELECT id, CAST(id AS INT64) AS v,
        |  CASE WHEN id < 5 THEN 'a' ELSE 'b' END AS grp
        |FROM (SELECT explode(sequence(0, 9)) AS id);
        |CREATE MATERIALIZED VIEW `graft.mvinc.mv` AS
        |SELECT grp, COUNT(1) AS n, SUM(v) AS total FROM graft.mvinc.base GROUP BY grp"""
        .stripMargin)
    def mvFiles(part: String): Set[String] = {
      val ml = PartitionCommit.tableLocation(spark, "graft__mvinc.mv")
      val fs = ml.getFileSystem(spark.sessionState.newHadoopConf())
      val pd = new org.apache.hadoop.fs.Path(ml, s"grp=$part")
      if (!fs.exists(pd)) Set.empty
      else fs.listStatus(pd).map(_.getPath.getName)
        .filterNot(_.startsWith("_")).toSet
    }
    val aFiles = mvFiles("a")
    assert(aFiles.nonEmpty, "the MV must materialize partitioned by grp")
    // mutate ONLY partition b, refresh: a's files must be untouched
    sr.run(
      """INSERT INTO graft.mvinc.base VALUES (100, 100, 'b');
        |CALL BQ.REFRESH_MATERIALIZED_VIEW('graft.mvinc.mv')""".stripMargin)
    val out = sr.run("SELECT grp, n, total FROM graft.mvinc.mv ORDER BY grp")
      .get.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq(("a", 5L, 10L), ("b", 6L, 135L)),
      s"refresh must fold the new row into b: $out")
    assert(mvFiles("a") == aFiles,
      "partition a was not stale — its files must be byte-identical (no rebuild)")
    // unchanged base: the CALL is a metadata no-op — b's files survive too
    val bFiles = mvFiles("b")
    sr.run("CALL BQ.REFRESH_MATERIALIZED_VIEW('graft.mvinc.mv')")
    assert(mvFiles("b") == bFiles && mvFiles("a") == aFiles,
      "a refresh over an unchanged base must rewrite nothing")
    // a brand-NEW base partition materializes as a new MV partition
    sr.run(
      """INSERT INTO graft.mvinc.base VALUES (200, 7, 'c');
        |CALL BQ.REFRESH_MATERIALIZED_VIEW('graft.mvinc.mv')""".stripMargin)
    val out2 = sr.run("SELECT grp, n, total FROM graft.mvinc.mv ORDER BY grp")
      .get.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out2 == Seq(("a", 5L, 10L), ("b", 6L, 135L), ("c", 1L, 7L)))
    assert(mvFiles("a") == aFiles, "existing partitions stay untouched")
  }

  test("MV incremental refresh handles Hive-escaped partition values") {
    spark.sql("DROP DATABASE IF EXISTS graft__mvesc CASCADE")
    val loc = Scratch.onDisk("mvesc")
    spark.sql(s"CREATE DATABASE graft__mvesc LOCATION '$loc'")
    MvRegistry.drop("graft__mvesc.mv")
    CloneRegistry.unmark("graft__mvesc.mv")
    val sr = new ScriptRunner(spark)
    // 'a b' lands on disk as grp=a%20b — the stale-partition filter
    // must use the REAL value, not the escaped directory spelling
    sr.run(
      """CREATE TABLE `graft.mvesc.base` PARTITION BY grp AS
        |SELECT CAST(id AS INT64) AS v,
        |  CASE WHEN id < 2 THEN 'a b' ELSE 'c' END AS grp
        |FROM (SELECT explode(sequence(0, 3)) AS id);
        |CREATE MATERIALIZED VIEW `graft.mvesc.mv` AS
        |SELECT grp, SUM(v) AS total FROM graft.mvesc.base GROUP BY grp;
        |INSERT INTO graft.mvesc.base VALUES (100, 'a b');
        |CALL BQ.REFRESH_MATERIALIZED_VIEW('graft.mvesc.mv')""".stripMargin)
    val out = sr.run("SELECT grp, total FROM graft.mvesc.mv ORDER BY grp")
      .get.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("a b", 101L), ("c", 5L)),
      s"the mutated escaped-value partition must recompute: $out")
  }

  test("MV incremental refresh recomputes a stale NULL base partition") {
    spark.sql("DROP DATABASE IF EXISTS graft__mvnull CASCADE")
    val loc = Scratch.onDisk("mvnull")
    spark.sql(s"CREATE DATABASE graft__mvnull LOCATION '$loc'")
    MvRegistry.drop("graft__mvnull.mv")
    CloneRegistry.unmark("graft__mvnull.mv")
    val sr = new ScriptRunner(spark)
    // the NULL partition lists as __HIVE_DEFAULT_PARTITION__; the stale
    // filter must turn that key into `grp IS NULL` — an IN ('…') filter
    // matches no NULL rows and would silently keep the stale image
    sr.run(
      """CREATE TABLE `graft.mvnull.base` PARTITION BY grp AS
        |SELECT CAST(id AS INT64) AS v,
        |  CASE WHEN id < 2 THEN NULL ELSE 'c' END AS grp
        |FROM (SELECT explode(sequence(0, 3)) AS id);
        |CREATE MATERIALIZED VIEW `graft.mvnull.mv` AS
        |SELECT grp, SUM(v) AS total FROM graft.mvnull.base GROUP BY grp;
        |INSERT INTO graft.mvnull.base VALUES (100, NULL);
        |CALL BQ.REFRESH_MATERIALIZED_VIEW('graft.mvnull.mv')""".stripMargin)
    val out = sr.run("SELECT grp, total FROM graft.mvnull.mv ORDER BY grp")
      .get.collect().map(r => (Option(r.getString(0)), r.getLong(1))).toSeq
    assert(out == Seq((None, 101L), (Some("c"), 5L)),
      s"the mutated NULL partition must recompute: $out")
  }

  test("MV incremental refresh commit is crash-atomic (journal heals)") {
    spark.sql("DROP DATABASE IF EXISTS graft__mvcr CASCADE")
    val loc = Scratch.onDisk("mvcr")
    spark.sql(s"CREATE DATABASE graft__mvcr LOCATION '$loc'")
    MvRegistry.drop("graft__mvcr.mv")
    CloneRegistry.unmark("graft__mvcr.mv")
    val sr = new ScriptRunner(spark)
    sr.run(
      """CREATE TABLE `graft.mvcr.base` PARTITION BY grp AS
        |SELECT CAST(id AS INT64) AS v, CASE WHEN id < 2 THEN 'a' ELSE 'b' END AS grp
        |FROM (SELECT explode(sequence(0, 3)) AS id);
        |CREATE MATERIALIZED VIEW `graft.mvcr.mv` AS
        |SELECT grp, SUM(v) AS total FROM graft.mvcr.base GROUP BY grp;
        |INSERT INTO graft.mvcr.base VALUES (100, 'b')""".stripMargin)
    PartitionCommit.crashAfterActions = 1 // die mid-swap of the refresh
    try intercept[IllegalStateException] {
      sr.run("CALL BQ.REFRESH_MATERIALIZED_VIEW('graft.mvcr.mv')")
    } finally PartitionCommit.crashAfterActions = -1
    PartitionCommit.recover(spark, "graft__mvcr.mv")
    val out = sr.run("SELECT grp, total FROM graft.mvcr.mv ORDER BY grp")
      .get.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("a", 1L), ("b", 105L)),
      s"recovery must complete the refreshed image: $out")
  }

  test("MV refresh falls back to full rebuild when the base was re-partitioned") {
    spark.sql("DROP DATABASE IF EXISTS graft__mvrp CASCADE")
    val loc = Scratch.onDisk("mvrp")
    spark.sql(s"CREATE DATABASE graft__mvrp LOCATION '$loc'")
    MvRegistry.drop("graft__mvrp.mv")
    CloneRegistry.unmark("graft__mvrp.mv")
    val sr = new ScriptRunner(spark)
    sr.run(
      """CREATE TABLE `graft.mvrp.base` PARTITION BY grp AS
        |SELECT CAST(id AS INT64) AS v, CASE WHEN id < 2 THEN 'a' ELSE 'b' END AS grp
        |FROM (SELECT explode(sequence(0, 3)) AS id);
        |CREATE MATERIALIZED VIEW `graft.mvrp.mv` AS
        |SELECT grp, SUM(v) AS total FROM graft.mvrp.base GROUP BY grp""".stripMargin)
    // recreate the base UNPARTITIONED with different contents: the
    // recorded contract (partition col grp) no longer holds — the
    // refresh must full-rebuild, never diff-and-drop the MV to empty
    sr.run(
      """DROP TABLE `graft.mvrp.base`;
        |CREATE TABLE `graft.mvrp.base` AS
        |SELECT CAST(10 AS INT64) AS v, 'z' AS grp;
        |CALL BQ.REFRESH_MATERIALIZED_VIEW('graft.mvrp.mv')""".stripMargin)
    val out = sr.run("SELECT grp, total FROM graft.mvrp.mv ORDER BY grp")
      .get.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("z", 10L)),
      s"a re-partitioned base must trigger a full rebuild, got $out")
  }

  test("CREATE SNAPSHOT TABLE IF NOT EXISTS must not freeze a pre-existing table") {
    spark.sql("DROP DATABASE IF EXISTS graft__rospec2 CASCADE")
    val roLoc = Scratch.onDisk("rospec2")
    spark.sql(s"CREATE DATABASE graft__rospec2 LOCATION '$roLoc'")
    CloneRegistry.unmark("graft__rospec2.plain3")
    spark.sql("CREATE TABLE graft__rospec2.src3 (k BIGINT) USING PARQUET")
    spark.sql("INSERT INTO graft__rospec2.src3 VALUES (1)")
    spark.sql("CREATE TABLE graft__rospec2.plain3 (k BIGINT) USING PARQUET")
    spark.sql("INSERT INTO graft__rospec2.plain3 VALUES (5)")
    val sr = new ScriptRunner(spark)
    // IF NOT EXISTS short-circuits: the unrelated existing table must
    // stay writable — no mark may land
    sr.run("CREATE SNAPSHOT TABLE IF NOT EXISTS `graft.rospec2.plain3` CLONE `graft.rospec2.src3`")
    sr.run("INSERT INTO `graft.rospec2.plain3` VALUES (6)")
    assert(spark.table("graft__rospec2.plain3").count() == 2L)
  }

  test("variables are script-scoped: a DECLARE must not leak into the next run") {
    val sr = new ScriptRunner(spark)
    sr.run("DECLARE x INT64 DEFAULT 42; SELECT x AS v")
    // a later script's alias `x` is an identifier, not the old variable
    val out = sr.run("SELECT x FROM UNNEST([7, 8]) AS x ORDER BY x")
      .get.collect().map(_.getInt(0)).toSeq
    assert(out == Seq(7, 8), s"leaked DECLARE rewrote the alias: $out")
  }

  test("RETURN exits the script cleanly at top level and inside IF") {
    val sr = new ScriptRunner(spark)
    // the division after RETURN must never execute
    assert(sr.run(
      """DECLARE x INT64 DEFAULT 1;
        |IF x = 1 THEN
        |  RETURN;
        |END IF;
        |SELECT 1/0 AS never""".stripMargin).isEmpty)
  }

  test("RETURN inside a procedure exits only the procedure") {
    val sr = new ScriptRunner(spark)
    val out = sr.run(
      """CREATE PROCEDURE earlyout(INOUT acc INT64)
        |BEGIN
        |  SET acc = acc + 1;
        |  IF acc > 0 THEN
        |    RETURN;
        |  END IF;
        |  SET acc = acc + 100;
        |END;
        |DECLARE a INT64 DEFAULT 0;
        |CALL earlyout(a);
        |SELECT a AS v""".stripMargin).get
    assert(out.collect().head.getLong(0) == 1L)
  }

  test("CREATE SCHEMA / use / DROP SCHEMA CASCADE round-trip") {
    val sr = new ScriptRunner(spark)
    sr.run("DROP SCHEMA IF EXISTS `graft.schspec` CASCADE")
    sr.run("CREATE SCHEMA `graft.schspec` OPTIONS(description = 'spec ds')")
    // idempotent with IF NOT EXISTS
    sr.run("CREATE SCHEMA IF NOT EXISTS `graft.schspec`")
    val out = sr.run(
      """CREATE TABLE `graft.schspec.t` AS SELECT 11 AS x;
        |SELECT x FROM graft.schspec.t""".stripMargin).get
    assert(out.collect().head.getInt(0) == 11)
    sr.run("DROP SCHEMA `graft.schspec` CASCADE")
    assert(!spark.catalog.databaseExists("graft__schspec"))
  }

  test("TVF expansion survives literal commas/parens, CTE references, and literal-lookalikes") {
    spark.sql("DROP DATABASE IF EXISTS tvfhard CASCADE")
    val loc = Scratch.onDisk("tvfhard")
    spark.sql(s"CREATE DATABASE tvfhard LOCATION '$loc'")
    spark.sql("CREATE TABLE tvfhard.t (k STRING, v BIGINT) USING parquet")
    spark.sql("INSERT INTO tvfhard.t VALUES ('a,b', 1), ('c(d', 2), ('lo', 3)")
    val sr = new ScriptRunner(spark)
    sr.run(
      """CREATE TABLE FUNCTION pick(name STRING, lo INT64) AS (
        |  SELECT k, v, 'lo and behold' AS tag
        |  FROM tvfhard.t WHERE k = name AND v >= lo
        |)""".stripMargin)
    // a string argument containing a comma must stay ONE argument
    assert(sr.run("SELECT v FROM pick('a,b', 0)").get.collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
    // ... and one containing an unbalanced paren
    assert(sr.run("SELECT v FROM pick('c(d', 1)").get.collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
    // nested call parens in an argument expression
    assert(sr.run("SELECT v FROM pick('lo', GREATEST(1, COALESCE(NULL, 2)))").get
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
    // the body literal containing the parameter name must be untouched
    assert(sr.run("SELECT tag FROM pick('lo', 1)").get.collect()
      .map(_.getString(0)).toSeq == Seq("lo and behold"))
    // a TVF referenced from a CTE expands there too
    val cte = sr.run(
      """WITH c AS (SELECT v FROM pick('a,b', 0))
        |SELECT SUM(v) AS s FROM c""".stripMargin).get
    assert(cte.collect().head.getLong(0) == 1L)
    // a 'FROM pick(' INSIDE a string literal is data, not a call site
    assert(sr.run("SELECT 'FROM pick(1)' AS s").get.collect()
      .head.getString(0) == "FROM pick(1)")
    // a TVF in a DML source expands too (DmlRunner has no registry)
    sr.run(
      """CREATE OR REPLACE TABLE tvfhard.m AS SELECT 'a,b' AS k, 0 AS nv;
        |MERGE INTO tvfhard.m T USING (SELECT k, v FROM pick('a,b', 0)) S
        |ON T.k = S.k WHEN MATCHED THEN UPDATE SET nv = S.v""".stripMargin)
    assert(sr.run("SELECT nv FROM tvfhard.m").get.collect()
      .head.getInt(0) == 1)
    sr.run("DROP TABLE FUNCTION pick")
  }

  test("CREATE TABLE FUNCTION expands in FROM with typed parameter substitution") {
    spark.sql("DROP DATABASE IF EXISTS tvfspec CASCADE")
    val loc = Scratch.onDisk("tvfspec")
    spark.sql(s"CREATE DATABASE tvfspec LOCATION '$loc'")
    spark.sql("CREATE TABLE tvfspec.t (k STRING, v BIGINT) USING parquet")
    spark.sql("INSERT INTO tvfspec.t VALUES ('a', 1), ('b', 2), ('c', 3)")
    val sr = new ScriptRunner(spark)
    sr.run(
      """CREATE TABLE FUNCTION scaled(m INT64, floor_v INT64) AS (
        |  SELECT k, v * m AS sv FROM tvfspec.t WHERE v >= floor_v
        |)""".stripMargin)
    // bare call, no alias
    val out1 = sr.run("SELECT sum(sv) AS s FROM scaled(10, 2)").get
    assert(out1.collect().head.getLong(0) == 50L)
    // aliased call + join position + expression argument
    val out2 = sr.run(
      """SELECT d.k, d.sv FROM scaled(2 + 3, 3) AS d ORDER BY d.k""".stripMargin)
      .get.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out2 == Seq(("c", 15L)))
    // wrong arity fails loud
    val e = intercept[IllegalArgumentException] {
      sr.run("SELECT * FROM scaled(1)")
    }
    assert(e.getMessage.contains("argument"))
    // DROP removes it; the name then fails as an unknown relation
    sr.run("DROP TABLE FUNCTION scaled")
    intercept[Exception] { sr.run("SELECT * FROM scaled(1, 2)") }
  }

  test("@@error.statement_text; FOR-IN nested struct field access") {
    val sr = new ScriptRunner(spark)
    val txt = sr.run(
      """BEGIN
        |  SELECT CAST('boom' AS INT64) AS bad;
        |EXCEPTION WHEN ERROR THEN
        |  SELECT @@error.statement_text AS v;
        |END""".stripMargin).get.collect()(0).getString(0)
    assert(txt.toUpperCase.contains("SELECT") && txt.contains("boom"),
      s"statement_text must carry the failing statement: $txt")
    // a single-field struct through the loop variable keeps its NAME
    // (literalOf's SET-semantics unwrap must not apply here)
    val s = sr.run(
      """DECLARE s INT64 DEFAULT 0;
        |FOR r IN (SELECT STRUCT(x AS a) AS st FROM UNNEST([1, 2]) x) DO
        |  SET s = s + r.st.a;
        |END FOR;
        |SELECT s AS v""".stripMargin).get.collect()(0).getLong(0)
    assert(s == 3L)
    // multi-field nested access too
    val s2 = sr.run(
      """DECLARE t STRING DEFAULT '';
        |FOR r IN (SELECT STRUCT(x AS a, CONCAT('v', CAST(x AS STRING)) AS b) AS st
        |          FROM UNNEST([1, 2]) x ORDER BY x) DO
        |  SET t = CONCAT(t, r.st.b);
        |END FOR;
        |SELECT t AS v""".stripMargin).get.collect()(0).getString(0)
    assert(s2 == "v1v2")
  }

  test("labeled loops: BREAK/CONTINUE with a label unwind to that loop") {
    val sr = new ScriptRunner(spark)
    // BREAK outer from INSIDE the inner loop kills both loops
    val out1 = sr.run(
      """DECLARE i INT64 DEFAULT 0; DECLARE n INT64 DEFAULT 0;
        |outer_l: WHILE i < 3 DO
        |  SET i = i + 1;
        |  inner_l: LOOP
        |    SET n = n + 1;
        |    IF n >= 2 THEN
        |      BREAK outer_l;
        |    END IF;
        |  END LOOP inner_l;
        |END WHILE outer_l;
        |SELECT i, n""".stripMargin).get.collect()(0)
    assert((out1.getLong(0), out1.getLong(1)) == (1L, 2L))
    // CONTINUE outer from the inner loop terminates the inner loop and
    // advances the outer one
    val out2 = sr.run(
      """DECLARE i INT64 DEFAULT 0; DECLARE n INT64 DEFAULT 0;
        |o2: WHILE i < 3 DO
        |  SET i = i + 1;
        |  LOOP
        |    SET n = n + 10;
        |    CONTINUE o2;
        |  END LOOP;
        |  SET n = n + 1000;
        |END WHILE o2;
        |SELECT n""".stripMargin).get.collect()(0).getLong(0)
    assert(out2 == 30L, s"inner loop must end and the +1000 line never run: $out2")
    // a mislabeled BREAK fails loud instead of silently breaking one level
    val e = intercept[IllegalStateException] { sr.run(
      """DECLARE i INT64 DEFAULT 0;
        |w: WHILE i < 1 DO
        |  SET i = i + 1;
        |  BREAK nosuch;
        |END WHILE w""".stripMargin) }
    assert(e.getMessage.contains("outside of a loop"))
  }

  test("SET (a, b) = tuple and = (SELECT AS STRUCT ...) assign positionally") {
    val sr = new ScriptRunner(spark)
    val out = sr.run(
      """DECLARE a INT64; DECLARE b STRING;
        |SET (a, b) = (7, 'x');
        |SELECT CONCAT(CAST(a AS STRING), b) AS v""".stripMargin)
      .get.collect()(0).getString(0)
    assert(out == "7x")
    val out2 = sr.run(
      """DECLARE lo INT64; DECLARE hi INT64;
        |SET (lo, hi) = (SELECT AS STRUCT MIN(x), MAX(x)
        |                FROM (SELECT explode(array(3, 9, 5)) AS x));
        |SELECT hi - lo AS d""".stripMargin).get.collect()(0).getLong(0)
    assert(out2 == 6L)
    // arity mismatch fails loud
    intercept[IllegalArgumentException] {
      sr.run("DECLARE a INT64; DECLARE b INT64;\nSET (a, b) = (1, 2, 3);\nSELECT 1")
    }
  }

  test("ALTER TABLE RENAME TO, ALTER SCHEMA/VIEW SET OPTIONS") {
    val sr = new ScriptRunner(spark)
    sr.run("DROP SCHEMA IF EXISTS `graft.alt9` CASCADE")
    sr.run(s"CREATE SCHEMA `graft.alt9` OPTIONS(location = " +
      s"'${Scratch.onDisk("alt9")}')")
    sr.run(
      """CREATE TABLE `graft.alt9.rn` AS SELECT 7 AS x;
        |ALTER TABLE `graft.alt9.rn` RENAME TO rn2""".stripMargin)
    assert(sr.run("SELECT x FROM graft.alt9.rn2").get.collect()(0).getInt(0) == 7)
    assert(!spark.catalog.tableExists("graft__alt9.rn"))
    // option DDL: description lands, unknown options drop, missing
    // targets respect IF EXISTS
    sr.run("ALTER SCHEMA `graft.alt9` SET OPTIONS(description = 'ds', labels = x)")
    sr.run("CREATE VIEW `graft.alt9.vv` AS SELECT 2 AS y")
    sr.run("ALTER VIEW `graft.alt9.vv` SET OPTIONS(description = 'v')")
    assert(sr.run("SELECT y FROM graft.alt9.vv").get.collect()(0).getInt(0) == 2)
    intercept[IllegalArgumentException] {
      sr.run("ALTER SCHEMA `graft.nosuch9` SET OPTIONS(description = 'x')")
    }
    sr.run("ALTER SCHEMA IF EXISTS `graft.nosuch9` SET OPTIONS(description = 'x')")
    sr.run("DROP SCHEMA `graft.alt9` CASCADE")
  }

  test("CREATE TABLE with BigQuery tail clauses (PARTITION BY expr, CLUSTER BY, OPTIONS)") {
    val sr = new ScriptRunner(spark)
    sr.run("DROP SCHEMA IF EXISTS `graft.ddl8` CASCADE")
    sr.run(s"CREATE SCHEMA `graft.ddl8` OPTIONS(location = " +
      s"'${Scratch.onDisk("ddl8")}')")
    // expression partitioning + options: layout hints drop, semantics hold
    sr.run(
      """CREATE TABLE `graft.ddl8.t1` (ts TIMESTAMP, v INT64)
        |PARTITION BY DATE(ts)
        |CLUSTER BY v
        |OPTIONS(description = 'hinted', expiration_timestamp = TIMESTAMP '2030-01-01');
        |INSERT INTO `graft.ddl8.t1` VALUES (TIMESTAMP '2024-01-01 10:00:00', 5)""".stripMargin)
    assert(sr.run("SELECT v FROM graft.ddl8.t1").get.collect()(0).getLong(0) == 5L)
    // plain-column PARTITION BY becomes a REAL partition column
    sr.run(
      """CREATE TABLE `graft.ddl8.t2` (v INT64, grp STRING) PARTITION BY grp;
        |INSERT INTO `graft.ddl8.t2` VALUES (1, 'a'), (2, 'b')""".stripMargin)
    assert(spark.catalog.listColumns("graft__ddl8.t2").collect()
      .exists(c => c.name == "grp" && c.isPartition))
    // column DEFAULT applies when the insert omits the column
    sr.run(
      """CREATE TABLE `graft.ddl8.t3` (a INT64, b STRING DEFAULT 'nil');
        |INSERT INTO `graft.ddl8.t3` (a) VALUES (2)""".stripMargin)
    val r3 = sr.run("SELECT a, b FROM graft.ddl8.t3").get.collect()(0)
    assert((r3.getLong(0), r3.getString(1)) == (2L, "nil"))
    // Spark's own column-list DDL (USING tail) still passes through
    sr.run("CREATE TABLE `graft.ddl8.t4` (a INT64) USING PARQUET")
    assert(spark.catalog.tableExists("graft__ddl8.t4"))
    // an unrecognized tail fails loud, never drops silently
    intercept[Exception] {
      sr.run("CREATE TABLE `graft.ddl8.t5` (a INT64) PARTITION BY a FROBNICATE")
    }
    sr.run("DROP SCHEMA `graft.ddl8` CASCADE")
  }

  test("column-list TEMP TABLE: writable, DML-able, fresh per script") {
    val sr = new ScriptRunner(spark)
    val out = sr.run(
      """CREATE TEMP TABLE wt13 (id INT64, s STRING(10), t TIMESTAMP DEFAULT CURRENT_TIMESTAMP());
        |INSERT INTO wt13 (id, s) VALUES (1, 'a');
        |UPDATE wt13 SET s = 'b' WHERE id = 1;
        |SELECT id, s, t IS NOT NULL AS has_default FROM wt13""".stripMargin).get
    assert(out.collect().head.toSeq.take(2) == Seq(1L, "b"))
    // a NEW script may re-create the same temp name (BigQuery scoping)
    val again = new ScriptRunner(spark).run(
      "CREATE TEMP TABLE wt13 (id INT64); SELECT COUNT(1) AS n FROM wt13").get
    assert(again.collect().head.getLong(0) == 0L)
    spark.sql("DROP TABLE IF EXISTS wt13")
  }

  test("@@project_id substitutes the configured project") {
    val out = new ScriptRunner(spark).run("SELECT @@project_id AS pid").get
    assert(out.collect().head.getString(0) == "graft-local")
  }

  test("@@project_id inside string literals and comments stays verbatim") {
    val out = new ScriptRunner(spark).run(
      "SELECT '@@project_id' AS lit, @@project_id AS pid -- @@project_id\n").get
    val r = out.collect().head
    assert(r.getString(0) == "@@project_id" && r.getString(1) == "graft-local")
  }

  test("CREATE TEMP TABLE refuses to clobber a permanent table; temp residue re-creates") {
    spark.sql("DROP TABLE IF EXISTS perm_keep")
    spark.sql("CREATE TABLE perm_keep (v BIGINT) USING parquet")
    spark.sql("INSERT INTO perm_keep VALUES (42)")
    val e = intercept[Exception] {
      new ScriptRunner(spark).run(
        "CREATE TEMP TABLE perm_keep (v INT64); SELECT 1 AS one").get.collect()
    }
    assert(e.getMessage.contains("permanent table"))
    // the permanent table's data survived
    assert(spark.table("perm_keep").collect().head.getLong(0) == 42L)
    spark.sql("DROP TABLE perm_keep")
    // a graft-created temp (marked) CAN be re-created by a later script
    new ScriptRunner(spark).run(
      "CREATE TEMP TABLE tmp_marked (v INT64); INSERT INTO tmp_marked VALUES (1); SELECT 1 AS one").get.collect()
    val out = new ScriptRunner(spark).run(
      "CREATE TEMP TABLE tmp_marked (v INT64); SELECT count(1) AS c FROM tmp_marked").get
    assert(out.collect().head.getLong(0) == 0L)
    spark.sql("DROP TABLE IF EXISTS tmp_marked")
  }

  test("UPDATE with a correlated scalar subquery in SET (and subquery WHERE)") {
    val out = new ScriptRunner(spark).run(
      """CREATE TEMP TABLE cu1 (k INT64, v INT64);
        |CREATE TEMP TABLE cu2 (k INT64, nv INT64);
        |INSERT INTO cu1 VALUES (1, 0), (2, 0), (3, 0);
        |INSERT INTO cu2 VALUES (1, 11), (2, 22);
        |UPDATE cu1 SET v = (SELECT nv FROM cu2 WHERE cu2.k = cu1.k)
        |WHERE k IN (SELECT k FROM cu2);
        |SELECT k, v FROM cu1 ORDER BY k""".stripMargin).get
    assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 11L), (2L, 22L), (3L, 0L)))
    // physical temp tables live under the session temp location — the
    // warehouse must not accumulate their dirs
    val wh = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    assert(!new java.io.File(wh, "cu1").exists)
  }

  test("NOT ENFORCED constraint DDL is metadata-only; ENFORCED stays loud") {
    val sr = new ScriptRunner(spark)
    val out = sr.run(
      """CREATE TEMP TABLE cst (k INT64, r INT64);
        |ALTER TABLE cst ADD PRIMARY KEY (k) NOT ENFORCED;
        |ALTER TABLE cst ADD CONSTRAINT fk1 FOREIGN KEY (r) REFERENCES cst (k) NOT ENFORCED;
        |INSERT INTO cst VALUES (1, 1);
        |ALTER TABLE cst DROP CONSTRAINT fk1;
        |ALTER TABLE cst DROP PRIMARY KEY;
        |SELECT count(1) AS c FROM cst""".stripMargin).get
    assert(out.collect().head.getLong(0) == 1L)
    val e = intercept[IllegalArgumentException] {
      sr.run("ALTER TABLE cst ADD PRIMARY KEY (k); SELECT 1 AS one")
    }
    assert(e.getMessage.contains("NOT ENFORCED"))
    spark.sql("DROP TABLE IF EXISTS cst")
  }

  test("persistent CREATE FUNCTION: bare + dataset-qualified names, DROP FUNCTION") {
    val sr = new ScriptRunner(spark)
    assert(sr.run(
      "CREATE OR REPLACE FUNCTION pf_spec(x INT64) RETURNS INT64 AS (x * 2); " +
        "SELECT pf_spec(21) AS v").get.collect().head.getLong(0) == 42L)
    // survives into a later script (session persistence)
    assert(new ScriptRunner(spark).run("SELECT pf_spec(5) AS v")
      .get.collect().head.getLong(0) == 10L)
    // dataset-qualified name: registered flattened, call sites rewritten
    assert(sr.run(
      "CREATE OR REPLACE FUNCTION `graft-local.ds9.qf`(x INT64) AS (x + 1); " +
        "SELECT `graft-local.ds9.qf`(41) AS v").get.collect().head.getLong(0) == 42L)
    // unbackticked call site of the same function
    assert(new ScriptRunner(spark).run("SELECT graft-local.ds9.qf(1) AS v")
      .get.collect().head.getLong(0) == 2L)
    // IF NOT EXISTS skips; plain CREATE on an existing name is loud
    sr.run("CREATE FUNCTION IF NOT EXISTS pf_spec(x INT64) AS (x * 100); SELECT 1 AS one")
    assert(new ScriptRunner(spark).run("SELECT pf_spec(2) AS v")
      .get.collect().head.getLong(0) == 4L)
    intercept[Exception] {
      sr.run("CREATE FUNCTION pf_spec(x INT64) AS (x); SELECT 1 AS one")
    }
    // DROP FUNCTION works on both; a later call is loud
    sr.run("DROP FUNCTION pf_spec; DROP FUNCTION `graft-local.ds9.qf`; SELECT 1 AS one")
    intercept[Exception] {
      new ScriptRunner(spark).run("SELECT pf_spec(1) AS v").get.collect()
    }
    // temp functions drop through the same statement
    assert(new ScriptRunner(spark).run(
      "CREATE TEMP FUNCTION tf_spec(x STRING) AS (UPPER(x)); " +
        "SELECT tf_spec('a') AS v; DROP FUNCTION tf_spec").isEmpty ||
      true) // DROP returns no frame; the SELECT ran without error
  }

  test("table functions may reference other table functions (bounded)") {
    spark.sql("DROP DATABASE IF EXISTS tvfspec2 CASCADE")
    val loc = Scratch.onDisk("tvfspec2")
    spark.sql(s"CREATE DATABASE tvfspec2 LOCATION '$loc'")
    spark.sql("CREATE TABLE tvfspec2.t (v BIGINT) USING parquet")
    spark.sql("INSERT INTO tvfspec2.t VALUES (1), (2)")
    val sr = new ScriptRunner(spark)
    val out = sr.run(
      """CREATE TABLE FUNCTION base(m INT64) AS SELECT v * m AS bv FROM tvfspec2.t;
        |CREATE TABLE FUNCTION layered(n INT64) AS SELECT bv + n AS lv FROM base(10);
        |SELECT sum(lv) AS s FROM layered(1)""".stripMargin).get
    // (1*10+1) + (2*10+1) = 32
    assert(out.collect().head.getLong(0) == 32L)
  }

  test("EXECUTE IMMEDIATE binds no ? inside an escaped literal or a comment") {
    val sr = new ScriptRunner(spark)
    // the dynamic text is SELECT 'it\'s ?' AS s, ? AS n
    val r1 = sr.run(
      """EXECUTE IMMEDIATE "SELECT 'it\\'s ?' AS s, ? AS n" USING 1""").get.head()
    assert(r1.getString(0) == "it's ?" && r1.getInt(1) == 1)
    val r2 = sr.run(
      """EXECUTE IMMEDIATE "SELECT -- why?\n ? AS n" USING 2""").get.head()
    assert(r2.getInt(0) == 2)
  }

  test("EXECUTE IMMEDIATE USING reads an escaped quote as part of one argument") {
    val r = new ScriptRunner(spark).run(
      """EXECUTE IMMEDIATE 'SELECT ? AS s, ? AS n' USING 'a\'b', 2""").get.head()
    assert(r.getString(0) == "a'b" && r.getInt(1) == 2)
  }

  test("SET (a, b) = tuple keeps an array literal's commas in one value") {
    val v = new ScriptRunner(spark).run(
      """DECLARE a ARRAY<INT64>; DECLARE b INT64;
        |SET (a, b) = ([1, 2], 3);
        |SELECT ARRAY_LENGTH(a) * 10 + b AS v""".stripMargin).get.head().get(0)
    assert(v.toString == "23")
  }

  test("a table function call inside a -- comment is not expanded") {
    val sr = new ScriptRunner(spark)
    sr.run(
      """CREATE TABLE FUNCTION cmt_tvf(n INT64) AS
        |  SELECT n AS v
        |  UNION ALL SELECT n + 1 AS v""".stripMargin)
    val s = sr.run(
      """-- SELECT * FROM cmt_tvf(1)
        |SELECT SUM(v) AS s FROM cmt_tvf(10)""".stripMargin).get.head().getLong(0)
    assert(s == 21L)
    sr.run("DROP TABLE FUNCTION cmt_tvf")
  }

  test("STRUCT<…> commas stay inside one ADD COLUMN type and one TVF parameter") {
    spark.sql("DROP DATABASE IF EXISTS graft__structcol CASCADE")
    val loc = Scratch.onDisk("structcol")
    spark.sql(s"CREATE DATABASE graft__structcol LOCATION '$loc'")
    val sr = new ScriptRunner(spark)
    sr.run("CREATE TABLE graft.structcol.t AS SELECT 1 AS k")
    sr.run("ALTER TABLE graft.structcol.t ADD COLUMN s STRUCT<a INT64, b STRING>, " +
      "ADD COLUMN n INT64")
    val fields = spark.table("graft__structcol.t").schema
    val st = fields("s").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(st.fields.map(f => (f.name.toLowerCase, f.dataType.simpleString)).toSeq ==
      Seq(("a", "bigint"), ("b", "string")))
    assert(fields("n").dataType.simpleString == "bigint")
    sr.run(
      """CREATE TABLE FUNCTION st_tvf(p STRUCT<a INT64, b STRING>, m INT64) AS
        |  SELECT p.a * m AS am, p.b AS b""".stripMargin)
    val r = sr.run("SELECT am, b FROM st_tvf(STRUCT(4 AS a, 'x' AS b), 3)").get.head()
    assert(r.getLong(0) == 12L && r.getString(1) == "x")
    sr.run("DROP TABLE FUNCTION st_tvf")
  }

  test("EXECUTE IMMEDIATE binds @name outside literals only") {
    val row = new ScriptRunner(spark).run(
      """EXECUTE IMMEDIATE "SELECT '@a' AS s, CAST(@a AS BIGINT) AS t" USING 6 AS a""")
      .get.collect().head
    assert((row.getString(0), row.getLong(1)) == (("@a", 6L)))
  }

  test("FOR record fields substitute outside literals only") {
    val v = new ScriptRunner(spark).run(
      """DECLARE lbl STRING DEFAULT '';
        |FOR rec IN (SELECT 1 AS n) DO
        |  SET lbl = CONCAT('rec.n=', CAST(rec.n AS STRING));
        |END FOR;
        |SELECT lbl AS v""".stripMargin).get.collect().head.getString(0)
    assert(v == "rec.n=1")
  }

  test("@@error.message inside a handler's literal stays text") {
    val row = new ScriptRunner(spark).run(
      """BEGIN
        |  RAISE USING MESSAGE = 'boom';
        |EXCEPTION WHEN ERROR THEN
        |  SELECT '@@error.message' AS k, @@error.message AS msg;
        |END""".stripMargin).get.collect().head
    assert((row.getString(0), row.getString(1)) == (("@@error.message", "boom")))
  }

  test("wildcard tables and INFORMATION_SCHEMA in \"…\" literals and -- comments stay text") {
    val out = new ScriptRunner(spark).run(
      """SELECT "`nowc.ev_*` nowc.INFORMATION_SCHEMA.TABLES" AS s
        |-- `nowc.ev_*` nowc.INFORMATION_SCHEMA.COLUMNS
        |""".stripMargin).get
    assert(out.collect().head.getString(0) == "`nowc.ev_*` nowc.INFORMATION_SCHEMA.TABLES")
  }

  test("a TVF parameter name inside a /* */ comment of the body stays text") {
    val sr = new ScriptRunner(spark)
    sr.run("CREATE TABLE FUNCTION tag_tvf(tag STRING) AS (SELECT tag AS v /* tag */)")
    // substituted into the comment, the argument's `*/` would close it early
    assert(sr.run("SELECT v FROM tag_tvf('*/')").get.collect().head.getString(0) == "*/")
    sr.run("DROP TABLE FUNCTION tag_tvf")
  }

  test("a table function with no parameters expands") {
    val sr = new ScriptRunner(spark)
    sr.run("CREATE TABLE FUNCTION none_tvf() AS (SELECT 1 AS x)")
    assert(sr.run("SELECT x FROM none_tvf()").get.collect().head.getInt(0) == 1)
    sr.run("DROP TABLE FUNCTION none_tvf")
  }

  test("a TVF argument is not searched for the other parameters' names") {
    val sr = new ScriptRunner(spark)
    sr.run("CREATE TABLE FUNCTION two_tvf(a INT64, b INT64) AS (SELECT a * 10 + b AS s)")
    val v = sr.run("DECLARE b INT64 DEFAULT 7; SELECT s FROM two_tvf(b, 2)")
      .get.collect().head.getLong(0)
    assert(v == 72L)
    sr.run("DROP TABLE FUNCTION two_tvf")
  }

  test("CREATE TABLE … CLONE reads FOR SYSTEM_TIME AS OF a script variable") {
    spark.sql("DROP DATABASE IF EXISTS clonevar CASCADE")
    spark.sql(s"CREATE DATABASE clonevar LOCATION '${Scratch.onDisk("clonevar")}'")
    spark.sql("CREATE TABLE clonevar.t (v BIGINT) USING PARQUET")
    spark.sql("INSERT INTO clonevar.t VALUES (1), (2), (3)")
    Thread.sleep(5) // commit boundaries are wall-clock millis
    new ScriptRunner(spark).run(
      """DECLARE t2 TIMESTAMP DEFAULT CURRENT_TIMESTAMP();
        |DELETE FROM clonevar.t WHERE v >= 2;
        |CREATE TABLE clonevar.c CLONE clonevar.t FOR SYSTEM_TIME AS OF t2""".stripMargin)
    assert(spark.table("clonevar.t").count() == 1L)
    assert(spark.table("clonevar.c").count() == 3L, "the clone reads the image as of t2")
  }

  test("a comment or blank lines before a statement's head change nothing, in both runners") {
    val csv = Scratch.onDisk("plant_csv")
    java.nio.file.Files.writeString(java.nio.file.Path.of(csv, "in.csv"), "d,4\n")
    val load = s"FROM FILES(format='CSV', uris=['$csv/*.csv'])"
    // one script per head family the classifier routes, and the rows of
    // plant.t it leaves; plant.snap is a read-only snapshot of plant.t
    val families = Seq(
      Seq("DECLARE n INT64 DEFAULT 2", "DELETE FROM plant.t WHERE v < n") -> "b=2 c=3",
      Seq("DECLARE n INT64", "SET n = 2", "DELETE FROM plant.t WHERE v < n") -> "b=2 c=3",
      Seq("MERGE INTO plant.t T USING (SELECT 'a' AS k, 10 AS v) S ON T.k = S.k " +
        "WHEN MATCHED THEN UPDATE SET v = S.v") -> "a=10 b=2 c=3",
      Seq("UPDATE plant.t SET v = v + 1 WHERE k = 'b'") -> "a=1 b=3 c=3",
      Seq("DELETE FROM plant.t WHERE k = 'a'") -> "b=2 c=3",
      Seq("TRUNCATE TABLE plant.t") -> "",
      Seq("INSERT plant.t VALUES ('d', 4)") -> "a=1 b=2 c=3 d=4",
      Seq("INSERT INTO plant.snap VALUES ('x', 9)") -> "a=1 b=2 c=3",
      Seq(s"LOAD DATA INTO plant.t $load") -> "a=1 b=2 c=3 d=4",
      Seq("DROP TABLE plant.t") -> "absent",
      Seq("CREATE TEMP TABLE stage AS SELECT k, v * 10 AS v FROM plant.t",
        "INSERT INTO plant.t SELECT * FROM stage WHERE v > 20") -> "a=1 b=2 c=3 c=30",
      Seq("CREATE TABLE plant.copy CLONE plant.t",
        "DELETE FROM plant.copy WHERE k = 'a'") -> "a=1 b=2 c=3",
      Seq("IF (SELECT count(*) FROM plant.t) = 3 THEN DELETE FROM plant.t WHERE k = 'a'; " +
        "END IF") -> "b=2 c=3",
      Seq("BEGIN TRANSACTION", "DELETE FROM plant.t WHERE k = 'a'",
        s"LOAD DATA OVERWRITE plant.t $load", "DROP TABLE plant.t",
        "ROLLBACK TRANSACTION") -> "a=1 b=2 c=3",
      Seq("BEGIN TRANSACTION", "UPDATE plant.t SET v = 0 WHERE k = 'c'",
        "COMMIT TRANSACTION") -> "a=1 b=2 c=0")
    def rows(t: String): String =
      if (!spark.catalog.tableExists(t)) "absent"
      else spark.table(t).collect().map(r => s"${r.get(0)}=${r.get(1)}").sorted.mkString(" ")
    // the outcome, the three tables, whether Spark holds a session
    // variable `n` (a DECLARE Spark ran itself) and the script's lineage
    def observe(script: String, run: String => Unit): Seq[String] = {
      spark.sql("DROP TEMPORARY VARIABLE IF EXISTS n")
      spark.sql("DROP DATABASE IF EXISTS plant CASCADE")
      spark.sql(s"CREATE DATABASE plant LOCATION '${Scratch.onDisk("plant")}'")
      spark.sql("CREATE TABLE plant.t (k STRING, v BIGINT) USING PARQUET")
      spark.sql("INSERT INTO plant.t VALUES ('a', 1), ('b', 2), ('c', 3)")
      spark.sql("CREATE TABLE plant.snap USING PARQUET AS SELECT * FROM plant.t")
      CloneRegistry.markReadOnly("plant.snap")
      val outcome = scala.util.Try(run(script))
        .fold(e => s"error ${e.getClass.getSimpleName}", _ => "ok")
      Seq(outcome, rows("plant.t"), rows("plant.snap"), rows("plant.copy"),
        scala.util.Try(spark.sql("SELECT n").collect()).isSuccess.toString,
        Lineage.findDependenciesInScript(spark, script, "plant.out")
          .dependencies.sorted.mkString(" "))
    }
    val runners = Seq[(String, String => Unit)](
      "ScriptRunner" -> { s => new ScriptRunner(spark).run(s); () },
      "DmlRunner" -> (s => new DmlRunner(spark, new TransformRunner(spark)).run(s)))
    // blank lines, a line comment and a block comment
    val plant = "\n\n-- c\n/* c */ "
    for ((family, want) <- families) {
      val expected = observe(family.mkString(";\n"), runners.head._2)
      assert(expected(1) == want, s"${expected.mkString(" | ")} after:\n$family")
      // unplanted, then planted before each head in turn
      val scripts = family.mkString(";\n") +: family.indices.map(i =>
        family.updated(i, plant + family(i)).mkString(";\n"))
      for ((name, run) <- runners; script <- scripts)
        assert(observe(script, run) == expected, s"$name on:\n$script")
    }
    CloneRegistry.unmark("plant.snap")
  }
}
