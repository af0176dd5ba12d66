package graft.engine

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Lineage of multi-statement scripts whose table references only
  * appear after DECLARE/SET variable substitution — the reference
  * handles these with fake-select probes (`main.go:282-323`); here the
  * ScriptRunner renders the substituted text and lineage scans it.
  */
class ScriptLineageSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val dest = "proj.ds.dest"

  /** Runs `run` from a cold relation cache, then again served from it:
    * the two results must agree.
    */
  private def twice(run: => Lineage.Result): Lineage.Result = {
    Lineage.clearRelationCache()
    val cold = run
    val warm = run
    assert(warm == cold, "a run served from the relation cache must match a cold run")
    cold
  }

  private def inScript(script: String, destination: String = dest): Lineage.Result =
    twice(Lineage.findDependenciesInScript(spark, script, destination))

  private def withCatalyst(query: String, destination: String = dest): Lineage.Result =
    twice(Lineage.findDependenciesWithCatalyst(spark, query, destination))

  test("tables inside control-flow blocks are discovered") {
    val script =
      """DECLARE n INT64 DEFAULT 0;
        |IF n = 0 THEN
        |  CREATE TEMP TABLE t AS (SELECT * FROM proj.ds.branch_a);
        |ELSE
        |  CREATE TEMP TABLE t AS (SELECT * FROM proj.ds.branch_b);
        |END IF;
        |SELECT * FROM t JOIN proj.ds.dim USING (id)""".stripMargin
    val r = inScript(script)
    // lineage is static: BOTH branches' tables are upstream deps
    assert(r.dependencies.toSet ==
      Set("proj.ds.branch_a", "proj.ds.branch_b", "proj.ds.dim"))
  }

  test("tables inside REPEAT and statement-CASE blocks are discovered") {
    val script =
      """DECLARE n INT64 DEFAULT 0;
        |REPEAT
        |  SET n = n + 1;
        |  CREATE TEMP TABLE acc AS (SELECT * FROM proj.ds.loop_src);
        |UNTIL n >= 2
        |END REPEAT;
        |CASE n
        |  WHEN 2 THEN SELECT * FROM proj.ds.case_a;
        |  ELSE SELECT * FROM proj.ds.case_b;
        |END CASE""".stripMargin
    val r = inScript(script)
    assert(r.dependencies.toSet ==
      Set("proj.ds.loop_src", "proj.ds.case_a", "proj.ds.case_b"))
  }

  test("a MERGE inside an IF keeps its USING source in lineage") {
    val script =
      """DECLARE go BOOL DEFAULT true;
        |IF go THEN
        |  MERGE `proj.ds.tgt` T USING (SELECT * FROM proj.ds.updates) S
        |  ON T.id = S.id
        |  WHEN MATCHED THEN UPDATE SET v = S.v
        |  WHEN NOT MATCHED THEN INSERT (id, v) VALUES (S.id, S.v);
        |END IF""".stripMargin
    val r = inScript(script, "proj.ds.tgt")
    assert(r.dependencies == Seq("proj.ds.updates"),
      s"MERGE WHEN/THEN must survive control-flow stripping, got ${r.dependencies}")
  }

  test("table reference built from script variables is discovered") {
    val script =
      """DECLARE src STRING DEFAULT 'proj.ds.hidden_events';
        |DECLARE run_q STRING DEFAULT CONCAT('SELECT * FROM ', src, ' WHERE d >= DATE "2024-01-01"');
        |EXECUTE IMMEDIATE run_q""".stripMargin
    val r = inScript(script)
    assert(r.dependencies == Seq("proj.ds.hidden_events"))
  }

  test("variables in predicate position don't hide the scanned table") {
    val script =
      """DECLARE cutoff DATE DEFAULT DATE '2024-02-01';
        |SELECT * FROM proj.ds.events WHERE d < cutoff""".stripMargin
    val r = inScript(script)
    assert(r.dependencies == Seq("proj.ds.events"))
  }

  test("a qualified upstream sharing a temp table's short name is kept") {
    val script =
      """CREATE TEMP TABLE stats AS (SELECT 1 AS x);
        |SELECT * FROM proj.ds.stats JOIN stats USING (x)""".stripMargin
    val r = withCatalyst(script)
    // only the UNQUALIFIED reference is the script's own temp table;
    // the 3-part proj.ds.stats is a genuine upstream dependency
    assert(r.dependencies.contains("proj.ds.stats"))
    assert(!r.dependencies.contains("stats"))
  }

  test("destination and @ignoreupstream are still excluded in script lineage") {
    val script =
      """DECLARE q STRING DEFAULT 'SELECT * FROM proj.ds.dest JOIN /* @ignoreupstream */ proj.ds.skipme ON 1=1 JOIN proj.ds.keep ON 1=1';
        |EXECUTE IMMEDIATE q""".stripMargin
    val r = inScript(script)
    assert(r.dependencies == Seq("proj.ds.keep"))
    assert(r.ignored.contains("proj.ds.skipme"))
  }

  test("a statement ending in a line comment keeps its own and the next one's tables") {
    val r = inScript("SELECT * FROM ds.a -- note\n;\nSELECT * FROM ds.b")
    assert(r.dependencies == Seq("ds.a", "ds.b"))
  }

  test("a temp table's query is parsed: its one- and two-part upstreams are kept") {
    val cases = Seq(
      "CREATE TEMP TABLE s AS SELECT * FROM ds.t;\nSELECT * FROM s" -> Seq("ds.t"),
      """CREATE TEMP TABLE s AS
        |WITH b AS (SELECT * FROM ds.t) SELECT * FROM b;
        |SELECT * FROM s""".stripMargin -> Seq("ds.t"),
      """CREATE OR REPLACE TEMP TABLE s AS (
        |  SELECT * FROM ds.t JOIN u USING (id));
        |SELECT * FROM s JOIN ds.v USING (id)""".stripMargin -> Seq("ds.t", "u", "ds.v"))
    cases.foreach { case (script, want) =>
      assert(inScript(script).dependencies == want, script)
      assert(withCatalyst(script).dependencies == want, script)
    }
  }

  test("a cached parse follows spark.sql.ansi.doubleQuotedIdentifiers") {
    val key = "spark.sql.ansi.doubleQuotedIdentifiers"
    val q = "SELECT * FROM \"ds\".\"t\""
    try {
      val answers = Seq("false", "true", "false").map { v =>
        spark.conf.set(key, v)
        val warm = Lineage.findDependenciesWithCatalyst(spark, q, dest)
        Lineage.clearRelationCache()
        val cold = Lineage.findDependenciesWithCatalyst(spark, q, dest)
        assert(warm == cold, s"$key=$v")
        cold.dependencies
      }
      // the flag decides the answer, so the cache must not carry one over
      assert(answers == Seq(Seq(), Seq("ds.t"), Seq()))
    } finally spark.conf.unset(key)
  }

  test("a statement with ${…} is never served from the relation cache") {
    val key = "graft.lineage.spec.src"
    val q = "SELECT * FROM ${" + key + "}"
    try {
      val got = Seq("ds.first", "ds.second", "ds.first").map { v =>
        spark.conf.set(key, v)
        Lineage.findDependenciesWithCatalyst(spark, q, dest).dependencies
      }
      assert(got == Seq(Seq("ds.first"), Seq("ds.second"), Seq("ds.first")))
    } finally spark.conf.unset(key)
  }

  test("every lineage corpus query, run again from the relation cache, keeps its answer") {
    LineageSpec.corpus.foreach(c => withCatalyst(c.query, LineageSpec.destination))
  }
}
