package graft.engine

import graft.streaming.StreamingOps.Scratch
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** MERGE/DELETE rewrite edge cases (beyond the e04/e09 gate flows):
  * conditional matched-update, conditional and unconditional
  * not-matched-by-source delete, insert with column subset, and the
  * generated ON FALSE form (`query.py:22-61`).
  */
class DmlRunnerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  private lazy val runner = new TransformRunner(spark)
  private lazy val dml = new DmlRunner(spark, runner)

  override def afterAll(): Unit = spark.stop()

  private def freshTable(rows: Seq[(String, Long)]): Unit = {
    spark.sql("DROP DATABASE IF EXISTS dmlspec CASCADE")
    val loc = Scratch.onDisk("dmlspec")
    spark.sql(s"CREATE DATABASE dmlspec LOCATION '$loc'")
    spark.sql("CREATE TABLE dmlspec.t (k STRING, v BIGINT) USING parquet")
    val values = rows.map { case (k, v) => s"('$k', $v)" }.mkString(", ")
    spark.sql(s"INSERT INTO dmlspec.t VALUES $values")
  }

  private def state(): Seq[(String, Long)] =
    spark.table("dmlspec.t").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted

  test("matched update with extra condition") {
    freshTable(Seq(("a", 1L), ("b", 2L), ("c", 3L)))
    dml.run(
      """MERGE INTO `dmlspec.t` T
        |USING (SELECT 'a' AS k, 10 AS v UNION ALL SELECT 'b', 20) S
        |ON T.k = S.k
        |WHEN MATCHED AND T.v > 1 THEN UPDATE SET v = S.v""".stripMargin)
    assert(state() == Seq(("a", 1L), ("b", 20L), ("c", 3L)))
  }

  test("not matched insert with column subset leaves others null-free here") {
    freshTable(Seq(("a", 1L)))
    dml.run(
      """MERGE INTO `dmlspec.t` T
        |USING (SELECT 'x' AS k, 9 AS v) S
        |ON T.k = S.k
        |WHEN NOT MATCHED THEN INSERT (`k`, `v`) VALUES (S.k, S.v)""".stripMargin)
    assert(state() == Seq(("a", 1L), ("x", 9L)))
  }

  test("not matched by source delete with condition (generated form)") {
    freshTable(Seq(("a", 1L), ("b", 2L), ("c", 3L)))
    dml.run(
      """MERGE INTO `dmlspec.t` T
        |USING (SELECT 'z' AS k, 100 AS v) S
        |ON FALSE
        |WHEN NOT MATCHED BY SOURCE AND T.v >= 2 THEN DELETE
        |WHEN NOT MATCHED THEN INSERT (`k`, `v`) VALUES (S.k, S.v)""".stripMargin)
    assert(state() == Seq(("a", 1L), ("z", 100L)))
  }

  test("unconditional by-source delete replaces table with source") {
    freshTable(Seq(("a", 1L), ("b", 2L)))
    dml.run(
      """MERGE INTO `dmlspec.t` T
        |USING (SELECT 'n' AS k, 7 AS v) S
        |ON FALSE
        |WHEN NOT MATCHED BY SOURCE THEN DELETE
        |WHEN NOT MATCHED THEN INSERT (`k`, `v`) VALUES (S.k, S.v)""".stripMargin)
    assert(state() == Seq(("n", 7L)))
  }

  test("DELETE FROM with predicate") {
    freshTable(Seq(("a", 1L), ("b", 2L), ("c", 3L)))
    dml.run("DELETE FROM `dmlspec.t` WHERE v < 3")
    assert(state() == Seq(("c", 3L)))
  }

  test("DELETE emptying a whole partition removes that partition") {
    // session default is dynamic partition overwrite (TransformRunner);
    // the self-overwrite must force static mode or the emptied partition's
    // rows would silently survive the DELETE
    spark.sql("DROP DATABASE IF EXISTS dmlspec CASCADE")
    val loc = Scratch.onDisk("dmlspecp")
    spark.sql(s"CREATE DATABASE dmlspec LOCATION '$loc'")
    spark.sql(
      "CREATE TABLE dmlspec.t (k STRING, v BIGINT) USING parquet PARTITIONED BY (p STRING)")
    spark.sql("INSERT INTO dmlspec.t PARTITION (p='x') VALUES ('a', 1), ('b', 2)")
    spark.sql("INSERT INTO dmlspec.t PARTITION (p='y') VALUES ('c', 3)")
    dml.run("DELETE FROM `dmlspec.t` WHERE p = 'x'")
    assert(spark.table("dmlspec.t").collect().map(_.getString(0)).toSeq == Seq("c"))
  }

  test("DROP TABLE") {
    freshTable(Seq(("a", 1L)))
    dml.run("DROP TABLE `dmlspec.t`")
    assert(!spark.catalog.tableExists("dmlspec.t"))
  }

  test("MERGE USING a bare table source") {
    freshTable(Seq(("a", 1L), ("b", 2L)))
    spark.sql("DROP TABLE IF EXISTS dmlspec.src")
    spark.sql("CREATE TABLE dmlspec.src (k STRING, v BIGINT) USING parquet")
    spark.sql("INSERT INTO dmlspec.src VALUES ('a', 100), ('z', 9)")
    dml.run(
      """MERGE INTO `dmlspec.t` T USING `dmlspec.src` S ON T.k = S.k
        |WHEN MATCHED THEN UPDATE SET v = S.v
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (S.k, S.v)""".stripMargin)
    assert(state() == Seq(("a", 100L), ("b", 2L), ("z", 9L)))
  }

  test("WHEN NOT MATCHED THEN INSERT ROW inserts all columns positionally") {
    freshTable(Seq(("a", 1L)))
    dml.run(
      """MERGE INTO `dmlspec.t` T
        |USING (SELECT 'x' AS c1, 9 AS c2 UNION ALL SELECT 'a', 5) S
        |ON T.k = S.c1
        |WHEN NOT MATCHED THEN INSERT ROW""".stripMargin)
    assert(state() == Seq(("a", 1L), ("x", 9L)))
  }

  test("UPDATE ... FROM joins the source; multi-match errors like BigQuery") {
    freshTable(Seq(("a", 1L), ("b", 2L), ("c", 3L)))
    dml.run(
      """UPDATE `dmlspec.t` SET v = s.nv
        |FROM (SELECT 'a' AS sk, 10 AS nv UNION ALL SELECT 'b', 20) s
        |WHERE t.k = s.sk""".stripMargin)
    assert(state() == Seq(("a", 10L), ("b", 20L), ("c", 3L)))
    val e = intercept[IllegalArgumentException] {
      dml.run(
        """UPDATE `dmlspec.t` SET v = s.nv
          |FROM (SELECT 'a' AS sk, 1 AS nv UNION ALL SELECT 'a', 2) s
          |WHERE t.k = s.sk""".stripMargin)
    }
    assert(e.getMessage.contains("at most one source row"))
  }

  test("UPDATE evaluates all SET right-hand sides against the OLD row") {
    // SQL UPDATE semantics: `SET k = v's text, v = old k's length` both
    // see pre-update values — a chained withColumn fold would feed the
    // second SET the first one's output
    spark.sql("DROP DATABASE IF EXISTS dmlspec CASCADE")
    val loc = Scratch.onDisk("dmlspec")
    spark.sql(s"CREATE DATABASE dmlspec LOCATION '$loc'")
    spark.sql("CREATE TABLE dmlspec.sw (a BIGINT, b BIGINT) USING parquet")
    spark.sql("INSERT INTO dmlspec.sw VALUES (1, 10), (2, 20)")
    dml.run("UPDATE `dmlspec.sw` SET a = b, b = a WHERE a = 1")
    val rows = spark.table("dmlspec.sw").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(rows == Seq((2L, 20L), (10L, 1L)), s"swap failed: $rows")
  }

  test("UPDATE WHERE references a SET column's OLD value") {
    spark.sql("DROP DATABASE IF EXISTS dmlspec CASCADE")
    val loc = Scratch.onDisk("dmlspec")
    spark.sql(s"CREATE DATABASE dmlspec LOCATION '$loc'")
    spark.sql("CREATE TABLE dmlspec.st (status STRING, note STRING) USING parquet")
    spark.sql("INSERT INTO dmlspec.st VALUES ('F', 'old'), ('X', 'keep')")
    dml.run("UPDATE `dmlspec.st` SET status = 'X', note = 'y' WHERE status = 'F'")
    val rows = spark.table("dmlspec.st").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    assert(rows == Seq(("X", "keep"), ("X", "y")), s"got: $rows")
  }

  test("plain UPDATE with ' FROM ' inside a string literal is not misrouted") {
    freshTable(Seq(("a", 1L), ("b", 2L)))
    dml.run("UPDATE `dmlspec.t` SET k = 'copied from audit' WHERE v = 1")
    assert(state() == Seq(("b", 2L), ("copied from audit", 1L)))
  }

  test("plain UPDATE with ' FROM ' inside a comment is not misrouted") {
    freshTable(Seq(("a", 1L), ("b", 2L)))
    dml.run("UPDATE `dmlspec.t` SET k = 'x' -- copied from audit\nWHERE v = 1")
    assert(state() == Seq(("b", 2L), ("x", 1L)))
  }

  test("plain UPDATE with ' FROM ' inside a double-quoted literal is not misrouted") {
    freshTable(Seq(("a", 1L), ("b", 2L)))
    dml.run("UPDATE `dmlspec.t` SET k = \"it's from audit\" WHERE v = 2")
    assert(state() == Seq(("a", 1L), ("it's from audit", 2L)))
  }

  test("UPDATE ... FROM matches a source row whose columns are all NULL") {
    freshTable(Seq(("a", 1L), ("b", 2L)))
    // the joined source row carries only a NULL column, but it IS a
    // match — matched-ness must not be inferred from source nullness
    dml.run(
      """UPDATE `dmlspec.t` SET v = 99
        |FROM (SELECT CAST(NULL AS STRING) AS sk) s
        |WHERE t.k = 'a' AND s.sk IS NULL""".stripMargin)
    assert(state() == Seq(("a", 99L), ("b", 2L)))
  }

  test("MERGE SET literal containing ' WHEN ' does not cut the clause list") {
    freshTable(Seq(("a", 1L), ("b", 2L)))
    // 'when matched then' inside the SET value: clause splitting must not
    // stop at the literal, and the following BY SOURCE DELETE must fire
    dml.run(
      """MERGE INTO `dmlspec.t` T
        |USING (SELECT 'a' AS k, 'x when matched then y' AS note) S
        |ON T.k = S.k
        |WHEN MATCHED THEN UPDATE SET k = S.note
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    assert(state() == Seq(("x when matched then y", 1L)))
  }

  test("MERGE VALUES literal containing ')' and ' WHEN ' inserts intact") {
    freshTable(Seq(("a", 1L)))
    dml.run(
      """MERGE INTO `dmlspec.t` T
        |USING (SELECT 'z' AS k) S
        |ON T.k = S.k
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (concat('lit)', ' when matched'), 99)""".stripMargin)
    assert(state() == Seq(("a", 1L), ("lit) when matched", 99L)))
  }

  test("MERGE source literal containing ' ON ' and ') S ON ' does not misparse USING") {
    freshTable(Seq(("a", 1L), ("b", 2L)))
    dml.run(
      """MERGE INTO `dmlspec.t` T
        |USING (SELECT 'a' AS k, 'join) S ON t.k' AS w) S
        |ON T.k = S.k
        |WHEN MATCHED THEN UPDATE SET k = S.w""".stripMargin)
    assert(state() == Seq(("b", 2L), ("join) S ON t.k", 1L)))
  }

  test("DELETE predicate literal containing ' WHEN MATCHED ' routes as DELETE") {
    freshTable(Seq(("x where when matched", 1L), ("b", 2L)))
    dml.run("DELETE FROM `dmlspec.t` WHERE k = 'x where when matched'")
    assert(state() == Seq(("b", 2L)))
  }

  test("UPDATE ... FROM a subquery source with its own WHERE parses at depth 0") {
    freshTable(Seq(("a", 1L), ("b", 2L), ("c", 3L)))
    dml.run(
      """UPDATE `dmlspec.t` SET v = v + src.bump
        |FROM (SELECT 'a' AS kk, 100 AS bump FROM (SELECT 1) WHERE 1 = 1) src
        |WHERE k = src.kk""".stripMargin)
    assert(state() == Seq(("a", 101L), ("b", 2L), ("c", 3L)))
  }

  test("UPDATE ... FROM parses when FROM/WHERE are followed by a newline or tab") {
    freshTable(Seq(("a", 1L), ("b", 2L)))
    dml.run(
      "UPDATE `dmlspec.t` SET v = v + src.bump FROM\n" +
        "(SELECT 'a' AS kk, 100 AS bump) src WHERE\tk = src.kk")
    assert(state() == Seq(("a", 101L), ("b", 2L)))
  }

  test("COMMIT TRANSACTION keeps every write since BEGIN") {
    freshTable(Seq(("a", 1L), ("b", 2L), ("c", 3L)))
    dml.run(
      """BEGIN TRANSACTION;
        |UPDATE `dmlspec.t` SET v = v + 10 WHERE k <> 'c';
        |DELETE FROM `dmlspec.t` WHERE k = 'c';
        |COMMIT TRANSACTION""".stripMargin)
    assert(state() == Seq(("a", 11L), ("b", 12L)))
  }

  test("ROLLBACK restores updates, deletes, truncates, and drops — DDL included") {
    freshTable(Seq(("a", 1L), ("b", 2L)))
    dml.run(
      """BEGIN TRANSACTION;
        |UPDATE `dmlspec.t` SET v = 0 WHERE k = 'a';
        |DELETE FROM `dmlspec.t` WHERE k = 'b';
        |TRUNCATE TABLE `dmlspec.t`;
        |DROP TABLE `dmlspec.t`;
        |ROLLBACK TRANSACTION""".stripMargin)
    assert(state() == Seq(("a", 1L), ("b", 2L)),
      "pre-transaction rows must survive a rollback across DML and DDL")
  }

  test("a table created inside the transaction is dropped on rollback") {
    freshTable(Seq(("a", 1L)))
    dml.run(
      """BEGIN TRANSACTION;
        |CREATE TABLE dmlspec.made AS SELECT 1 AS x;
        |ROLLBACK""".stripMargin)
    assert(!spark.catalog.tableExists("dmlspec.made"))
  }

  test("CREATE OR REPLACE TABLE inside a transaction rolls back to the original") {
    freshTable(Seq(("a", 1L), ("b", 2L)))
    dml.run(
      """BEGIN TRANSACTION;
        |CREATE OR REPLACE TABLE dmlspec.t AS SELECT 'z' AS k, CAST(9 AS BIGINT) AS v;
        |ROLLBACK TRANSACTION""".stripMargin)
    assert(state() == Seq(("a", 1L), ("b", 2L)),
      "the replaced table's definition and files must return on rollback")
    // and the replacement STICKS on commit
    dml.run(
      """BEGIN TRANSACTION;
        |CREATE OR REPLACE TABLE dmlspec.t AS SELECT 'z' AS k, CAST(9 AS BIGINT) AS v;
        |COMMIT""".stripMargin)
    assert(state() == Seq(("z", 9L)))
  }

  test("a failing statement inside a transaction auto-rolls back and surfaces") {
    freshTable(Seq(("a", 1L), ("b", 2L)))
    val e = intercept[Exception] {
      dml.run(
        """BEGIN TRANSACTION;
          |DELETE FROM `dmlspec.t` WHERE k = 'a';
          |UPDATE `dmlspec.t` SET v = no_such_col + 1 WHERE k = 'b';
          |COMMIT""".stripMargin)
    }
    assert(state() == Seq(("a", 1L), ("b", 2L)),
      s"the delete before the failure must be undone (got error: ${e.getMessage.take(80)})")
  }

  test("an open transaction at end of script rolls back and fails loud") {
    freshTable(Seq(("a", 1L)))
    val e = intercept[IllegalStateException] {
      dml.run(
        """BEGIN TRANSACTION;
          |UPDATE `dmlspec.t` SET v = 99 WHERE k = 'a'""".stripMargin)
    }
    assert(e.getMessage.contains("still open"))
    assert(state() == Seq(("a", 1L)))
  }

  test("transaction misuse fails loud: nested BEGIN, bare COMMIT/ROLLBACK") {
    freshTable(Seq(("a", 1L)))
    val nested = intercept[IllegalStateException] {
      dml.run("BEGIN TRANSACTION;\nBEGIN TRANSACTION;\nCOMMIT")
    }
    assert(nested.getMessage.contains("already active"))
    val bareCommit = intercept[IllegalStateException] { dml.run("COMMIT") }
    assert(bareCommit.getMessage.contains("without an active"))
    val bareRb = intercept[IllegalStateException] { dml.run("ROLLBACK") }
    assert(bareRb.getMessage.contains("without an active"))
  }

  test("WHEN MATCHED DELETE (with and without extra condition)") {
    freshTable(Seq(("a", 1L), ("b", 2L), ("c", 3L)))
    // conditional matched delete: only the matched row with v >= 2 drops
    dml.run(
      """MERGE INTO dmlspec.t T USING (SELECT 'b' AS k UNION ALL SELECT 'c') S
        |ON T.k = S.k
        |WHEN MATCHED AND T.v >= 3 THEN DELETE""".stripMargin)
    assert(state() == Seq(("a", 1L), ("b", 2L)))
    // unconditional matched delete
    dml.run(
      """MERGE INTO dmlspec.t T USING (SELECT 'b' AS k) S ON T.k = S.k
        |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(state() == Seq(("a", 1L)))
  }

  test("WHEN NOT MATCHED BY SOURCE UPDATE rewrites unmatched target rows") {
    freshTable(Seq(("a", 1L), ("b", 2L), ("c", 3L)))
    dml.run(
      """MERGE INTO dmlspec.t T USING (SELECT 'a' AS k) S ON T.k = S.k
        |WHEN NOT MATCHED BY SOURCE AND T.v < 3 THEN UPDATE SET v = -1""".stripMargin)
    // only b (unmatched, v<3) flips; a is matched, c fails the condition
    assert(state() == Seq(("a", 1L), ("b", -1L), ("c", 3L)))
  }

  test("matched DELETE composes with by-source DELETE and INSERT") {
    freshTable(Seq(("a", 1L), ("b", 2L), ("c", 3L)))
    dml.run(
      """MERGE INTO dmlspec.t T
        |USING (SELECT 'a' AS k, 10 AS v UNION ALL SELECT 'd', 40) S
        |ON T.k = S.k
        |WHEN MATCHED THEN DELETE
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (S.k, S.v)
        |WHEN NOT MATCHED BY SOURCE AND T.v > 2 THEN DELETE""".stripMargin)
    // a matched→deleted; d inserted; c unmatched v>2→deleted; b kept
    assert(state() == Seq(("b", 2L), ("d", 40L)))
  }

  test("aliased UPDATE and DELETE strip the alias from SET/WHERE") {
    freshTable(Seq(("a", 1L), ("b", 2L), ("c", 3L)))
    dml.run("UPDATE dmlspec.t AS x SET x.v = x.v + 10 WHERE x.k = 'a'")
    assert(state() == Seq(("a", 11L), ("b", 2L), ("c", 3L)))
    // bare (no AS) alias form
    dml.run("UPDATE dmlspec.t x SET v = v * 2 WHERE x.k = 'b'")
    assert(state() == Seq(("a", 11L), ("b", 4L), ("c", 3L)))
    dml.run("DELETE FROM dmlspec.t AS x WHERE x.v >= 11")
    assert(state() == Seq(("b", 4L), ("c", 3L)))
  }

  test("aliased UPDATE keeps correlation in a subquery SET (r10 ADVICE)") {
    // stripAlias over the whole statement used to turn `s.k = a.k` into
    // `s.k = k`, re-resolving against the INNER table (always-true) so
    // every row silently got the GLOBAL max instead of its per-key one
    freshTable(Seq(("a", 1L), ("b", 2L), ("c", 3L)))
    spark.sql("DROP TABLE IF EXISTS dmlspec.src")
    spark.sql("CREATE TABLE dmlspec.src (k STRING, nv BIGINT) USING parquet")
    spark.sql(
      "INSERT INTO dmlspec.src VALUES ('a', 100), ('a', 50), ('b', 7)")
    dml.run(
      """UPDATE dmlspec.t AS a
        |SET v = (SELECT MAX(s.nv) FROM dmlspec.src s WHERE s.k = a.k)
        |WHERE a.k IN ('a', 'b')""".stripMargin)
    assert(state() == Seq(("a", 100L), ("b", 7L), ("c", 3L)),
      "each row must take its own key's max, not the global max")
    // alias-qualified SET key on the subquery path
    dml.run(
      """UPDATE dmlspec.t x
        |SET x.v = (SELECT COUNT(*) FROM dmlspec.src s WHERE s.k = x.k)
        |WHERE x.k = 'a'""".stripMargin)
    assert(state() == Seq(("a", 2L), ("b", 7L), ("c", 3L)))
    spark.sql("DROP TABLE dmlspec.src")
  }

  test("DELETE without WHERE fails loud (BigQuery requires the clause)") {
    freshTable(Seq(("a", 1L)))
    intercept[IllegalArgumentException] { dml.run("DELETE FROM dmlspec.t") }
    assert(state() == Seq(("a", 1L)))
  }

  test("WHEN-clause precedence: earlier conditional UPDATE claims its rows") {
    freshTable(Seq(("a", 1L), ("b", 2L), ("c", 3L)))
    // BigQuery first-match-wins: a (v=1) takes the UPDATE; b (v=2) falls
    // through to the DELETE; c is unmatched and untouched
    dml.run(
      """MERGE INTO dmlspec.t T
        |USING (SELECT 'a' AS k, 10 AS v UNION ALL SELECT 'b', 20) S
        |ON T.k = S.k
        |WHEN MATCHED AND T.v < 2 THEN UPDATE SET v = S.v
        |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(state() == Seq(("a", 10L), ("c", 3L)))
  }

  test("WHEN-clause precedence: earlier conditional DELETE shields the UPDATE") {
    freshTable(Seq(("a", 1L), ("b", 2L)))
    dml.run(
      """MERGE INTO dmlspec.t T
        |USING (SELECT 'a' AS k, 10 AS v UNION ALL SELECT 'b', 20) S
        |ON T.k = S.k
        |WHEN MATCHED AND T.v >= 2 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = S.v""".stripMargin)
    assert(state() == Seq(("a", 10L)))
  }

  test("by-source precedence: conditional UPDATE before unconditional DELETE") {
    freshTable(Seq(("a", 1L), ("b", 2L), ("c", 3L)))
    dml.run(
      """MERGE INTO dmlspec.t T USING (SELECT 'a' AS k) S ON T.k = S.k
        |WHEN NOT MATCHED BY SOURCE AND T.v < 3 THEN UPDATE SET v = -1
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    // b (unmatched, v<3) takes the UPDATE and is NOT deleted; c drops
    assert(state() == Seq(("a", 1L), ("b", -1L)))
  }

  test("an unconditional clause before another of its group fails loud") {
    freshTable(Seq(("a", 1L)))
    val e = intercept[IllegalArgumentException] {
      dml.run(
        """MERGE INTO dmlspec.t T USING (SELECT 'a' AS k, 9 AS v) S ON T.k = S.k
          |WHEN MATCHED THEN UPDATE SET v = S.v
          |WHEN MATCHED THEN DELETE""".stripMargin)
    }
    assert(e.getMessage.contains("unreachable"), e.getMessage)
    assert(state() == Seq(("a", 1L)))
  }

  test("UPDATE...FROM accepts fully-qualified target references") {
    freshTable(Seq(("a", 1L)))
    // BigQuery allows the full table path in the join condition / SETs
    dml.run(
      """UPDATE dmlspec.t SET v = s.nv
        |FROM (SELECT 'a' AS k, 11 AS nv) s
        |WHERE dmlspec.t.k = s.k""".stripMargin)
    assert(state() == Seq(("a", 11L)))
  }

  test("DML writes align to the CATALOG column types (no wider-file corruption)") {
    spark.sql("DROP TABLE IF EXISTS dmlspec.ints")
    spark.sql("CREATE TABLE dmlspec.ints (k INT, v INT) USING parquet")
    spark.sql("INSERT INTO dmlspec.ints VALUES (1, 0)")
    // the SET expression is BIGINT; unchecked it would stage BIGINT
    // parquet files the INT table schema cannot read back
    dml.run("UPDATE dmlspec.ints SET v = CAST(7 AS BIGINT) WHERE k = 1")
    val r = spark.table("dmlspec.ints").collect()(0)
    assert((r.getInt(0), r.getInt(1)) == (1, 7))
    dml.run(
      """MERGE INTO dmlspec.ints T USING (SELECT 1 AS k, CAST(9 AS BIGINT) AS nv) S
        |ON T.k = S.k WHEN MATCHED THEN UPDATE SET v = S.nv""".stripMargin)
    assert(spark.table("dmlspec.ints").collect()(0).getInt(1) == 9)
    spark.sql("DROP TABLE dmlspec.ints")
  }

  test("struct-field SET updates the field in place; unknown SET columns fail loud") {
    spark.sql("DROP TABLE IF EXISTS dmlspec.sf")
    spark.sql("CREATE TABLE dmlspec.sf USING parquet AS " +
      "SELECT named_struct('x', 1L, 'y', 2L) AS s, 0L AS k")
    dml.run("UPDATE dmlspec.sf SET s.x = 9 WHERE k = 0")
    val r = spark.sql("SELECT s.x, s.y FROM dmlspec.sf").collect()(0)
    assert((r.getLong(0), r.getLong(1)) == (9L, 2L),
      "the field updates and its sibling survives")
    // MERGE matched-update on a struct field (with target-alias prefix)
    dml.run(
      """MERGE INTO dmlspec.sf T USING (SELECT 0 AS k, 7 AS nx) S ON T.k = S.k
        |WHEN MATCHED THEN UPDATE SET T.s.y = S.nx""".stripMargin)
    val r2 = spark.sql("SELECT s.x, s.y FROM dmlspec.sf").collect()(0)
    assert((r2.getLong(0), r2.getLong(1)) == (9L, 7L))
    // a typo'd SET column must never silently no-op
    val e = intercept[IllegalArgumentException] {
      dml.run("UPDATE dmlspec.sf SET nope = 1 WHERE k = 0")
    }
    assert(e.getMessage.contains("unknown column"), e.getMessage)
    spark.sql("DROP TABLE dmlspec.sf")
  }

  test("an unrecognized WHEN clause fails loud, never silently drops") {
    freshTable(Seq(("a", 1L)))
    val e = intercept[IllegalArgumentException] {
      dml.run(
        """MERGE INTO dmlspec.t T USING (SELECT 'a' AS k) S ON T.k = S.k
          |WHEN MATCHED THEN FROBNICATE""".stripMargin)
    }
    assert(e.getMessage.contains("recognized"), e.getMessage)
    // the table is untouched
    assert(state() == Seq(("a", 1L)))
  }

  test("MERGE UPDATE SET values holding commas equal the same update without one") {
    def merged(set: String): (String, Seq[Long]) = {
      spark.sql("DROP DATABASE IF EXISTS dmlspec CASCADE")
      val loc = Scratch.onDisk("dmlspec")
      spark.sql(s"CREATE DATABASE dmlspec LOCATION '$loc'")
      spark.sql("CREATE TABLE dmlspec.n (k STRING, note STRING, tags ARRAY<BIGINT>) USING parquet")
      spark.sql("INSERT INTO dmlspec.n VALUES ('a', 'old', array(0L))")
      dml.run(
        s"""MERGE INTO `dmlspec.n` T USING (SELECT 'a' AS k) S ON T.k = S.k
           |WHEN MATCHED THEN UPDATE SET $set""".stripMargin)
      val r = spark.table("dmlspec.n").head()
      (r.getString(1), r.getSeq[Long](2))
    }
    val cases = Seq(
      ("""note = "x, y"""", """note = CONCAT("x", CHR(44), " y")""", ("x, y", Seq(0L))),
      ("""note = 'it\'s, ok'""", """note = CONCAT('it\'s', CHR(44), ' ok')""",
        ("it's, ok", Seq(0L))),
      ("tags = [1, 2]", "tags = ARRAY_CONCAT([1], [2])", ("old", Seq(1L, 2L))))
    cases.foreach { case (withComma, without, expected) =>
      val got = merged(withComma)
      assert(got == merged(without), withComma)
      assert(got == expected, withComma)
    }
  }

  test("MERGE INSERT keeps the source alias inside a VALUES literal") {
    freshTable(Seq(("a", 1L)))
    dml.run(
      """MERGE INTO `dmlspec.t` T
        |USING (SELECT 'x' AS k, 9 AS v) S
        |ON T.k = S.k
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (concat(S.k, ' S.k'), S.v)""".stripMargin)
    assert(state() == Seq(("a", 1L), ("x S.k", 9L)))
  }

  test("UPDATE...FROM keeps the target's full name inside a literal") {
    freshTable(Seq(("a", 1L)))
    dml.run(
      """UPDATE dmlspec.t SET k = concat(s.k, ' dmlspec.t.k'), v = s.nv
        |FROM (SELECT 'a' AS k, 11 AS nv) s
        |WHERE dmlspec.t.k = s.k""".stripMargin)
    assert(state() == Seq(("a dmlspec.t.k", 11L)))
  }
}
