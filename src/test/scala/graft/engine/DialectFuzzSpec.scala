package graft.engine

import java.time.LocalDate

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Property-fuzz for the dialect rewriter's text passes: seeded-random
  * SQL built from the constructs the passes manipulate (string literals
  * stuffed with quotes/backslashes/keywords, comments, typed literals,
  * UNNEST nesting, OFFSET/ORDINAL access, SAFE./NET. names) must come
  * out of `Dialect.rewrite` still parseable by Spark AND evaluate to the
  * value the generator knows it built. ~240 generated cases; the seed is
  * fixed so a failure reproduces — paste the printed SQL into
  * DialectSpec as a regression.
  */
class DialectFuzzSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val rnd = new scala.util.Random(20260813L)

  /** Atoms chosen to collide with every text pass: quotes, backslashes,
    * keywords the passes key on, comment markers, macro-ish braces.
    */
  private val atoms = Vector(
    "a", "z", "0", " ", "'", "\\", "\"", "`", ",", "(", ")", "[", "]",
    "FROM", "SELECT", "DATETIME", "DATE '2024-01-01'", "--", "/*", "*/",
    "$", "{{.DSTART}}", "UNNEST", " IN ", ".", "*", "SAFE.", "NET.",
    "safe.cast", "net.host", "* REPLACE (", "OFFSET(0)", "TABLESAMPLE",
    "NUMERIC", "INT64", "ARRAY<INT64>")

  private def randomContent(n: Int): String =
    (1 to n).map(_ => atoms(rnd.nextInt(atoms.size))).mkString

  /** BigQuery/Spark shared literal escaping (backslash style). */
  private def esc(s: String): String =
    s.flatMap { case '\'' => "\\'"; case '\\' => "\\\\"; case c => c.toString }

  private def run(sql: String) = {
    graft.functions.BitSketchExpressions.register(spark)
    try spark.sql(Dialect.rewrite(sql)).collect()
    catch {
      case e: Throwable =>
        fail(s"rewrite output failed for:\n$sql\nrewritten:\n${Dialect.rewrite(sql)}", e)
    }
  }

  test("string literals survive the rewrite byte-for-byte (60 cases)") {
    for (_ <- 1 to 10) {
      val lits = Seq.fill(6)(randomContent(1 + rnd.nextInt(8)))
      val cols = lits.zipWithIndex
        .map { case (l, i) => s"'${esc(l)}' AS c$i" }.mkString(", ")
      val row = run(s"SELECT $cols").head
      lits.zipWithIndex.foreach { case (l, i) =>
        assert(row.getString(i) == l, s"literal $i corrupted in: SELECT $cols")
      }
    }
  }

  /** BigQuery double-quoted string escaping (same backslash style). */
  private def escDq(s: String): String =
    s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString }

  test("double-quoted string literals survive the rewrite byte-for-byte (30 cases)") {
    for (_ <- 1 to 10) {
      val lits = Seq.fill(3)(randomContent(1 + rnd.nextInt(8)))
      val cols = lits.zipWithIndex
        .map { case (l, i) => "\"" + escDq(l) + "\" AS c" + i }.mkString(", ")
      val row = run(s"SELECT $cols").head
      lits.zipWithIndex.foreach { case (l, i) =>
        assert(row.getString(i) == l, s"literal $i corrupted in: SELECT $cols")
      }
    }
  }

  test("raw and triple-quoted literals evaluate to their exact content (40 cases)") {
    for (_ <- 1 to 10) {
      // raw string: backslashes and quotes-of-the-other-kind are literal.
      // BQ forbids a raw literal ending in an odd backslash run (\' does
      // not close it) — pad such content like a user would have to.
      val rawContent0 = (1 to (1 + rnd.nextInt(6)))
        .map(_ => Vector("a", "\\", "\\d", "z", "\"", " ", "\\\\")(rnd.nextInt(7))).mkString
      val rawContent =
        if (rawContent0.reverse.takeWhile(_ == '\\').length % 2 == 1) rawContent0 + "z"
        else rawContent0
      val got = run(s"SELECT r'$rawContent' AS s").head.getString(0)
      assert(got == rawContent, s"raw literal corrupted: r'$rawContent'")
      // triple-quoted: bare quotes of the delimiter kind are fine inside
      val tq = (1 to (1 + rnd.nextInt(6)))
        .map(_ => Vector("a", "'", "z", " ", "\"x\"", "FROM")(rnd.nextInt(6))).mkString
        .replace("'''", "''")
      val got2 = run(s"SELECT '''$tq''' AS s").head.getString(0)
      assert(got2 == tq, s"triple-quoted literal corrupted: '''$tq'''")
      // raw regex actually reaches the regex engine unmangled
      val n = rnd.nextInt(900) + 100
      val got3 = run(s"SELECT REGEXP_EXTRACT('ab${n}cd', r'\\d+') AS m").head.getString(0)
      assert(got3 == n.toString)
      val got4 = run(s"SELECT REGEXP_CONTAINS('a.b', r'^a\\.b$$') AS m").head.getBoolean(0)
      assert(got4)
    }
  }

  test("hostile literals around FROM UNNEST keep the array semantics (30 cases)") {
    for (_ <- 1 to 30) {
      val ints = Seq.fill(1 + rnd.nextInt(6))(rnd.nextInt(1000))
      val lit = esc(randomContent(1 + rnd.nextInt(6)))
      val sql = s"SELECT x FROM UNNEST([${ints.mkString(", ")}]) AS x " +
        s"WHERE '$lit' <> '\\u0001' ORDER BY x"
      assert(run(sql).map(_.getInt(0)).toSeq == ints.sorted,
        s"UNNEST corrupted in: $sql")
    }
  }

  test("typed literals: DATETIME and DATE arithmetic stay exact (30 cases)") {
    for (_ <- 1 to 15) {
      val d = LocalDate.of(1996 + rnd.nextInt(30), 1 + rnd.nextInt(12), 1 + rnd.nextInt(28))
      val hms = f"${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:${rnd.nextInt(60)}%02d"
      val got = run(s"SELECT CAST(DATETIME '$d $hms' AS STRING) AS s").head.getString(0)
      assert(got == s"$d $hms")
      val n = rnd.nextInt(1000) - 500
      val got2 = run(s"SELECT CAST(DATE_ADD(DATE '$d', INTERVAL $n DAY) AS STRING) AS s")
        .head.getString(0)
      assert(got2 == d.plusDays(n).toString, s"DATE_ADD(DATE '$d', INTERVAL $n DAY)")
    }
  }

  test("hostile comments don't change results (30 cases)") {
    for (_ <- 1 to 30) {
      // block comments can hold anything except their terminator (and no
      // opener — Spark's parser nests bracketed comments, so an inner /*
      // makes the comment genuinely unterminated); line comments anything
      // except a newline
      val block = randomContent(1 + rnd.nextInt(6)).replace("*/", "**").replace("/*", "**")
      val line = randomContent(1 + rnd.nextInt(6)).replace("\n", " ")
      val n = rnd.nextInt(100000)
      val sql = s"/* $block */ SELECT /* x $block */ $n AS x -- $line"
      assert(run(sql).head.get(0).toString.toInt == n, s"comment corrupted: $sql")
    }
  }

  test("nested UNNEST aggregation under hostile literal noise (30 cases)") {
    for (_ <- 1 to 30) {
      val ints = Seq.fill(1 + rnd.nextInt(8))(rnd.nextInt(1000) - 500)
      val lit = esc(randomContent(1 + rnd.nextInt(5)))
      val sql = s"SELECT (SELECT SUM(x) FROM UNNEST([${ints.mkString(", ")}]) AS x) AS s, " +
        s"ARRAY_LENGTH([${ints.mkString(", ")}]) AS n, '$lit' AS lit"
      val row = run(sql).head
      assert(row.getLong(0) == ints.map(_.toLong).sum, s"SUM corrupted: $sql")
      assert(row.getInt(1) == ints.size, s"ARRAY_LENGTH corrupted: $sql")
    }
  }

  test("comment quotes never shift literal boundaries (30 cases)") {
    for (_ <- 1 to 30) {
      val lit = randomContent(1 + rnd.nextInt(6))
      val junk = randomContent(1 + rnd.nextInt(4))
        .replace("*/", "**").replace("/*", "**").replace("\n", " ")
      val n = rnd.nextInt(100000)
      // line comment with hostile content (quotes included) between a
      // rewrite-needing CAST and a literal that must survive verbatim
      val sql = s"SELECT CAST($n AS INT64) AS a, -- x$junk\n  '${esc(lit)}' AS s"
      val row = run(sql).head
      assert(row.getLong(0) == n.toLong, s"CAST corrupted: $sql")
      assert(row.getString(1) == lit, s"literal corrupted after comment: $sql")
    }
  }

  /** The text that sets off each rewrite pass, as a statement would
    * hold it.
    */
  private val triggers = Seq(
    "FROM VECTOR_SEARCH(TABLE t, 'v', (SELECT 1)", "FROM GAP_FILL(TABLE t,",
    "FROM RANGE_SESSIONIZE(TABLE t, 'r', ['p'])", "SEARCH(x, 'a b')",
    "|> RENAME a AS b", "|> ASSERT x > 0", "QUALIFY ROW_NUMBER() OVER () = 1",
    "ARRAY(SELECT x FROM UNNEST([1, 2]) AS x)",
    "RANGE<DATE> '[2024-01-01, 2024-02-01)'", "NUMERIC '1.5'", "COUNTIF(x > 0)",
    "FOR SYSTEM_TIME AS OF TIMESTAMP '2024-01-01'",
    "ARRAY<INT64>[1]", "ARRAY[1]", "a IN UNNEST(b)", "DATE(ts, 'UTC')",
    "TIMESTAMP('2021-01-01T00:00:00')", "EXTRACT(HOUR FROM ts AT TIME ZONE 'UTC')",
    "STRUCT<a INT64>(1)", "SELECT AS VALUE", "TIME '12:00:00'", "JSON '{}'",
    "* REPLACE (1 AS a)", "x[SAFE_OFFSET(0)]")

  test("rewrite triggers inside literals and comments stay inert (96 cases)") {
    val plain = run("SELECT 7 AS n, 'x' AS s").head
    triggers.foreach { t =>
      val noise = randomContent(1 + rnd.nextInt(4))
      val lit = noise + t + noise
      val row = run(s"SELECT '${esc(lit)}' AS s, \"${escDq(lit)}\" AS d").head
      assert(row.getString(0) == lit, s"'…' literal corrupted: $lit")
      assert(row.getString(1) == lit, s"\"…\" literal corrupted: $lit")
      val line = s"SELECT 7 AS n, -- $lit\n 'x' AS s"
      assert(run(line).head == plain, s"-- comment changed the result: $line")
      val block = s"SELECT /* ${lit.replace("*/", "**").replace("/*", "**")} */ 7 AS n, 'x' AS s"
      assert(run(block).head == plain, s"block comment changed the result: $block")
    }
  }

  test("SAFE./NET. rewrites don't touch same-named aliases (30 cases)") {
    for (_ <- 1 to 10) {
      val (m, n, k) = (rnd.nextInt(1000), rnd.nextInt(1000), 1 + rnd.nextInt(4))
      val r1 = run(s"SELECT net.v + $n AS r FROM (SELECT $m AS v) AS net").head
      assert(r1.getInt(0) == m + n)
      val r2 = run(s"SELECT safe.v FROM (SELECT $m AS v) safe").head
      assert(r2.getInt(0) == m)
      val ascii = (1 to 6).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
      val r3 = run(s"SELECT SAFE.SUBSTR('$ascii', 1, $k) AS s").head
      assert(r3.getString(0) == ascii.take(k), s"SAFE.SUBSTR('$ascii', 1, $k)")
    }
  }

  test("HLL_COUNT namespace under hostile aliases and literal noise (30 cases)") {
    for (_ <- 1 to 10) {
      val m = rnd.nextInt(1000)
      // a relation/column actually NAMED hll_count must survive untouched
      val r1 = run(s"SELECT hll_count.v FROM (SELECT $m AS v) AS hll_count").head
      assert(r1.getInt(0) == m, s"alias hll_count mangled (v=$m)")
      // the real namespace still rewrites with literal noise around it
      val lit = esc(randomContent(1 + rnd.nextInt(4)))
      val vals = Seq.fill(2 + rnd.nextInt(4))(rnd.nextInt(5))
      val union = vals.map(v => s"SELECT $v AS x").mkString(" UNION ALL ")
      val r2 = run(s"SELECT HLL_COUNT.EXTRACT(HLL_COUNT.INIT(x)) AS c, '$lit' AS s " +
        s"FROM ($union)").head
      assert(r2.getLong(0) == vals.distinct.size.toLong,
        s"HLL INIT/EXTRACT wrong for $vals")
      // prefix inside a string literal must not rewrite
      val r3 = run(s"SELECT 'HLL_COUNT.INIT(x)' AS s").head
      assert(r3.getString(0) == "HLL_COUNT.INIT(x)")
    }
  }

  test("array OFFSET/ORDINAL access under literal noise (30 cases)") {
    for (_ <- 1 to 30) {
      val ints = Seq.fill(2 + rnd.nextInt(5))(rnd.nextInt(1000))
      val i = rnd.nextInt(ints.size)
      val lit = esc(randomContent(1 + rnd.nextInt(5)))
      val sql = s"SELECT [${ints.mkString(", ")}][OFFSET($i)] AS a, " +
        s"[${ints.mkString(", ")}][ORDINAL(${i + 1})] AS b WHERE '$lit' IS NOT NULL"
      val row = run(sql).head
      assert(row.getInt(0) == ints(i) && row.getInt(1) == ints(i), s"corrupted: $sql")
    }
  }

  test("struct-subquery context classification under noise (40 cases)") {
    // r11's balanced-paren context scan: expression contexts must wrap
    // (one struct value), table contexts must flatten — with random
    // literal noise and aliasing around the subquery
    for (i <- 1 to 10) {
      val lit = esc(randomContent(1 + rnd.nextInt(5)))
      val n = rnd.nextInt(100)
      // non-first select-list item (',' is a SELECT-list comma)
      val r1 = run(s"SELECT '$lit' AS noise, (SELECT AS STRUCT $n AS a, ${n + 1} AS b) AS s").head
      assert(r1.getStruct(1).getInt(1) == n + 1, s"case $i select-list")
      // function argument (the '(' is a call opener)
      val r2 = run(s"SELECT IF(length('$lit') >= 0, (SELECT AS STRUCT $n AS a), NULL).a").head
      assert(r2.getInt(0) == n, s"case $i call-arg")
      // FROM-comma stays a value table (flattens)
      val r3 = run(s"SELECT x.a, y.k FROM (SELECT '$lit' AS k) y, (SELECT AS STRUCT $n AS a) AS x").head
      assert(r3.getInt(0) == n, s"case $i from-comma")
      // parenthesized set-op branches stay value tables
      val r4 = run(s"SELECT a FROM ((SELECT AS STRUCT $n AS a) UNION ALL " +
        s"(SELECT AS STRUCT ${n + 1} AS a)) ORDER BY a").map(_.getInt(0)).toSeq
      assert(r4 == Seq(n, n + 1), s"case $i set-op")
    }
  }

  test("rewrite memoization: repeat calls hit the cache and stay identical (30 cases)") {
    for (_ <- 1 to 30) {
      val lit = esc(randomContent(1 + rnd.nextInt(6)))
      val n = rnd.nextInt(1000)
      val sql = s"SELECT CAST($n AS INT64) AS v, '$lit' AS s, " +
        s"SAFE.SUBSTR('abc', 1, ${1 + rnd.nextInt(3)}) AS t"
      val first = Dialect.rewrite(sql)
      // second call takes the cached path — must be byte-identical
      assert(Dialect.rewrite(sql) == first, s"cache divergence for: $sql")
      assert(run(sql).head.getLong(0) == n.toLong)
    }
  }

  test("rewrite memoization: persistent-UDF registration invalidates the cache") {
    val sql = "SELECT proj.ds.cachefuzzfn(4) AS v"
    // before registration: the call site stays qualified (cacheable text)
    val before = Dialect.rewrite(sql)
    assert(before.contains("proj.ds.cachefuzzfn("), before)
    FnRegistry.register("proj.ds.cachefuzzfn")
    try {
      val after = Dialect.rewrite(sql)
      assert(after.contains("proj__ds__cachefuzzfn("),
        s"stale cached rewrite survived a CREATE FUNCTION: $after")
    } finally FnRegistry.remove("proj.ds.cachefuzzfn")
    // and dropping restores the unmapped spelling (epoch bumped again)
    assert(Dialect.rewrite(sql) == before)
  }

  test("rewrite memoization: temp-object DDL across sessions never stales the cache (r12)") {
    // the cache key is (FnRegistry.epoch, mapFqns, statement) — temp
    // views / CREATE TEMP TABLE bump NO epoch. Sound because rewrite()
    // is textual and resolution happens per session at spark.sql time:
    // the SAME statement must produce the SAME rewrite text before the
    // object exists, after each session defines a DIFFERENT object
    // under the name, and after one session drops its copy — while
    // execution keeps seeing each session's own object.
    graft.functions.BitSketchExpressions.register(spark)
    val s2 = spark.newSession()
    graft.functions.BitSketchExpressions.register(s2)
    val stmt = "SELECT CAST(SUM(v) AS INT64) AS s FROM cachefuzz_tmp"
    val before = Dialect.rewrite(stmt)
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW cachefuzz_tmp AS " +
      "SELECT explode(array(1, 2, 3)) AS v")
    s2.sql("CREATE OR REPLACE TEMPORARY VIEW cachefuzz_tmp AS " +
      "SELECT explode(array(10, 20, 30)) AS v")
    assert(Dialect.rewrite(stmt) == before,
      "temp-view DDL must not change the cached rewrite text")
    assert(spark.sql(Dialect.rewrite(stmt)).head().getLong(0) == 6L)
    assert(s2.sql(Dialect.rewrite(stmt)).head().getLong(0) == 60L)
    spark.sql("DROP VIEW cachefuzz_tmp")
    assert(s2.sql(Dialect.rewrite(stmt)).head().getLong(0) == 60L,
      "dropping one session's temp view must not leak into the other")
    assert(Dialect.rewrite(stmt) == before)
    // same through the script engine's CREATE TEMP TABLE path, with the
    // two sessions interleaving identical statements
    val scr1 = new ScriptRunner(spark)
    val scr2 = new ScriptRunner(s2)
    scr1.run("CREATE TEMP TABLE cachefuzz_ct AS SELECT 5 AS x")
    scr2.run("CREATE TEMP TABLE cachefuzz_ct AS SELECT 7 AS x")
    assert(scr1.run("SELECT CAST(MAX(x) AS INT64) AS m FROM cachefuzz_ct")
      .get.head().getLong(0) == 5L)
    assert(scr2.run("SELECT CAST(MAX(x) AS INT64) AS m FROM cachefuzz_ct")
      .get.head().getLong(0) == 7L)
  }

  test("rewrite memoization: FOR SYSTEM_TIME statements bypass the cache") {
    // resolution touches the mutable snapshot store — the rewrite must
    // be recomputed per call, so with NO active snapshot state the call
    // fails loud instead of returning a stale cached resolution
    val sql = "SELECT * FROM nowhere.t FOR SYSTEM_TIME AS OF TIMESTAMP '2024-01-01'"
    val e1 = intercept[Exception](Dialect.rewrite(sql))
    val e2 = intercept[Exception](Dialect.rewrite(sql))
    assert(e1.getClass == e2.getClass)
  }

  /** Samples that set off the triggers the statement-shaped list above
    * leaves out, so that every trigger matches somewhere below.
    */
  private val moreTriggers = Seq(
    "SELECT AS STRUCT 1 AS a", "WINDOW w AS (ORDER BY x)", "OVER (w ORDER BY y)",
    "0x1F", "a, FROM t", "INTERVAL '1-2 3' YEAR TO DAY", "FROM p.d.a x, p.d.b",
    "ML.STANDARD_SCALER(x) OVER ()", "HLL_COUNT.MERGE(s) OVER ()",
    "PERCENTILE_DISC(x, 0.5)", "DATETIME '2024-01-01 00:00:00'",
    "CAST(x AS DATETIME)", "BIGNUMERIC(10, 2)", "NUMERIC(5)", "BIGNUMERIC",
    "FLOAT64", "CAST(x AS BOOL)", "STRING(10)", "BYTES(10)",
    "TABLESAMPLE SYSTEM (10 PERCENT)", "SAFE.SQRT(x)", "INTERVAL n DAY",
    "FROM t, UNNEST(a) AS v")

  test("every trigger match holds one of its anchors, so a skipped pass had nothing to do") {
    val planted = (triggers ++ moreTriggers).flatMap { t =>
      val noise = randomContent(1 + rnd.nextInt(4))
      Seq(t, noise + t + noise, t.toLowerCase)
    }
    val texts = planted ++ Seq.fill(400)(randomContent(1 + rnd.nextInt(40)))
    Dialect.triggers.foreach { t =>
      var hits = 0
      texts.foreach { text =>
        t.re.findAllMatchIn(text).foreach { m =>
          hits += 1
          val up = m.matched.toUpperCase(java.util.Locale.ROOT)
          assert(t.anchors.exists(up.contains),
            s"match '${m.matched}' of ${t.re} holds none of ${t.anchors}")
        }
      }
      assert(hits > 0, s"no sample sets off ${t.re}")
    }
  }

  test("a trigger that only an earlier pass's output holds still rewrites") {
    // the SAFE. prefix meets AEAD_DECRYPT_STRING only after the AEAD.
    // namespace maps; the JSON keyword meets a quote only after the raw
    // literal is normalized
    assert(Dialect.rewrite("SELECT SAFE.AEAD.DECRYPT_STRING(k, c, 'a') AS p") ==
      "SELECT graft_try(graft_aead_decrypt_string(k, c, 'a')) AS p")
    assert(Dialect.rewrite("""SELECT JSON r'{"a": 1}' AS j""") ==
      """SELECT to_json(parse_json('{"a": 1}')) AS j""")
    assert(run("""SELECT JSON r'{"b": 2, "a": 1}' AS j""").head.getString(0) ==
      """{"a":1,"b":2}""")
  }

  test("an anchor with no real match comes back byte for byte") {
    val sqls = Seq(
      "SELECT unnest_n, qualify_flag, window_w, json_doc, interval_days, search_term, " +
        "array_len, struct_id, x0xff, safe_v, net_v FROM t WHERE note = 'a [b] |> c'",
      "SELECT a FROM t WINDOW w AS (ORDER BY a) -- x IN UNNEST(y), ARRAY[1]",
      "SELECT timestamp_col, date_col, time_col FROM t /* TIME '1' */ WHERE over_x > 0")
    sqls.foreach { sql =>
      assert(Dialect.rewrite(sql) == sql)
      assert(Dialect.rewrite(sql, mapFqns = false) == sql)
    }
  }

  /** Samples of the runners' text sites: the static triggers of
    * [[ScriptRunner]] and the per-name patterns of the FOR, EXECUTE
    * IMMEDIATE, TVF and MERGE/DELETE alias edits.
    */
  private val runnerSamples = Seq("@@error.message", "EXCEPTION WHEN ERROR THEN",
    "uris = ['gs://b/*.csv']", "FROM ds.t", "JOIN f(", "ds.INFORMATION_SCHEMA.TABLES",
    "`ds.ev_*`", "@a", "rec.n", "S.k", "lo")

  test("runner text sites: anchors hold, planted literals and comments come back byte for byte") {
    val sites = ScriptRunner.triggers ++ Seq(SqlLex.nameTrigger("@a"),
      SqlLex.nameTrigger("rec.n"), SqlLex.nameTrigger("S.", ignoreCase = true),
      SqlLex.nameTrigger("lo", ignoreCase = true))
    // noise that opens no region and joins no match across one
    val safe = Vector("a", "z", "0", " ", ",", "(", ")", "[", "]", "$")
    def noise = (1 to 1 + rnd.nextInt(4)).map(_ => safe(rnd.nextInt(safe.size))).mkString
    sites.foreach { t =>
      val samples = runnerSamples.filter(t.re.findFirstIn(_).isDefined)
      assert(samples.nonEmpty, s"no sample sets off ${t.re}")
      for (_ <- 1 to 5; sample <- samples) {
        val regions = Seq(s"'${esc(sample)}'", "\"" + escDq(sample) + "\"",
          s"-- $sample\n", s"/* $sample */")
        val text = regions.map(noise + " " + _).mkString + s" $sample " + noise
        t.re.findAllMatchIn(text).foreach { m =>
          assert(t.anchors.exists(m.matched.toUpperCase(java.util.Locale.ROOT).contains),
            s"match '${m.matched}' of ${t.re} holds none of ${t.anchors}")
        }
        val out = SqlLex.replaceOutside(t, text)(_ => "<X>")
        regions.foreach(r => assert(out.contains(r), s"$r rewritten in: $out"))
        assert(out.contains(" <X>"), s"the code copy of $sample kept in: $out")
        val spliced = SqlLex.spliceOutside(t, text)((_, m) => Some((m.start, m.end, "<X>")))
        assert(spliced == out, s"the two loops disagree on: $text")
      }
    }
    // the uris list an OPTIONS clause reads is the one its strip removes
    val opts = "description='uris=[x]', uris=['gs://b/*.csv'] /* uris=[y] */"
    assert(ScriptRunner.urisBody(opts).contains("'gs://b/*.csv'"))
  }
}
