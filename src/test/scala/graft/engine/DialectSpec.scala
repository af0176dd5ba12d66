package graft.engine

import org.scalatest.funsuite.AnyFunSuite

class DialectSpec extends AnyFunSuite {

  test("IN UNNEST rewrite, flat and nested-call arguments") {
    assert(Dialect.rewrite("WHERE x IN UNNEST(partitions)") ==
      "WHERE ((partitions) IS NOT NULL AND array_contains(partitions, x))")
    assert(Dialect.rewrite("WHERE s IN UNNEST(array('a', 'b'))") ==
      "WHERE ((array('a', 'b')) IS NOT NULL AND array_contains(array('a', 'b'), s))")
  }

  test("NOT IN UNNEST rewrites to negated array_contains") {
    assert(Dialect.rewrite("WHERE x NOT IN UNNEST(partitions)") ==
      "WHERE ((partitions) IS NULL OR NOT array_contains(partitions, x))")
  }

  test("keyword rewrites skip string literals") {
    assert(Dialect.rewrite("SELECT 'NUMERIC keypad', CAST(x AS NUMERIC)") ==
      "SELECT 'NUMERIC keypad', CAST(x AS DECIMAL(38,9))")
    assert(Dialect.rewrite("SELECT 'SELECT AS STRUCT' AS s") ==
      "SELECT 'SELECT AS STRUCT' AS s")
  }

  test("commented-out constructs don't trigger guards or rewrites") {
    // a commented-out time-travel clause must not throw
    val out = Dialect.rewrite(
      "SELECT 1 AS x -- FOR SYSTEM_TIME AS OF '2024-01-01'\nFROM t", mapFqns = false)
    assert(out.contains("SELECT 1 AS x"))
    // a star-replace inside a block comment stays text
    val out2 = Dialect.rewrite(
      "SELECT a /* * REPLACE (b AS c) */ FROM t", mapFqns = false)
    assert(out2 == "SELECT a /* * REPLACE (b AS c) */ FROM t")
  }

  test("a quote inside a comment cannot expose a literal to keyword rewrites") {
    val in = "SELECT CAST(1 AS INT64) AS a, -- don't\n  'keep INT64 here' AS s, CAST(2 AS INT64) AS b"
    val out = Dialect.rewrite(in, mapFqns = false)
    assert(out.contains("'keep INT64 here'"), s"literal corrupted: $out")
    assert(out.contains("graft_int64(1)") && out.contains("graft_int64(2)"))
    // block comments too, and array literals after a commented quote
    val in2 = "SELECT /* it's */ [1, 2] AS a, 'INT64 stays' AS s"
    val out2 = Dialect.rewrite(in2, mapFqns = false)
    assert(out2.contains("array(1, 2)") && out2.contains("'INT64 stays'"), out2)
    // a raw string AFTER a comment apostrophe still normalizes
    val out3 = Dialect.rewrite("SELECT 1 AS a, -- don't\n  r'\\d' AS p", mapFqns = false)
    assert(out3.contains("'\\\\d'"), out3)
  }

  test("bytes literals become binary casts; escaped ones fail loud") {
    assert(Dialect.rewrite("SELECT b'abc' AS x") == "SELECT CAST('abc' AS BINARY) AS x")
    assert(Dialect.rewrite("SELECT B\"ok\" AS x") == "SELECT CAST(\"ok\" AS BINARY) AS x")
    // a column named b followed by a literal is not a bytes prefix
    assert(Dialect.rewrite("SELECT tab 'x' FROM t", mapFqns = false) ==
      "SELECT tab 'x' FROM t")
    val e = intercept[UnsupportedOperationException] {
      Dialect.rewrite(raw"SELECT b'\x41' AS x")
    }
    assert(e.getMessage.contains("escape"))
  }

  test("typed NUMERIC/BIGNUMERIC literals become CASTs") {
    assert(Dialect.rewrite("SELECT NUMERIC '1.5' AS n") ==
      "SELECT CAST('1.5' AS DECIMAL(38,9)) AS n")
    assert(Dialect.rewrite("SELECT BIGNUMERIC '-2.75' AS n") ==
      "SELECT CAST('-2.75' AS DECIMAL(38,18)) AS n")
    // the words inside a string literal stay text
    assert(Dialect.rewrite("SELECT 'a NUMERIC \\'1\\' here' AS s") ==
      "SELECT 'a NUMERIC \\'1\\' here' AS s")
  }

  test("raw strings normalize to standard literals with doubled backslashes") {
    assert(Dialect.rewrite(raw"SELECT r'\d+' AS p") == raw"SELECT '\\d+' AS p")
    assert(Dialect.rewrite("SELECT R\"a\\.b\" AS p") == "SELECT \"a\\\\.b\" AS p")
    // \' inside a raw string is literal backslash + quote, not a closer
    assert(Dialect.rewrite(raw"SELECT r'it\'s' AS p") == raw"SELECT 'it\\\'s' AS p")
    // r'…' inside a NORMAL literal stays text
    assert(Dialect.rewrite(raw"SELECT 'use r\'x\' here' AS p") ==
      raw"SELECT 'use r\'x\' here' AS p")
    // an identifier ending in r followed by a literal is not a raw prefix
    assert(Dialect.rewrite("SELECT upper 'x' FROM t", mapFqns = false) ==
      "SELECT upper 'x' FROM t")
  }

  test("triple-quoted literals normalize to single-quoted form") {
    assert(Dialect.rewrite("SELECT '''it's ok''' AS s") == raw"SELECT 'it\'s ok' AS s")
    assert(Dialect.rewrite("SELECT \"\"\"say \"hi\" ok\"\"\" AS s") ==
      "SELECT \"say \\\"hi\\\" ok\" AS s")
    // multiline content survives; escapes already present stay intact
    assert(Dialect.rewrite("SELECT '''a\nb\\nc''' AS s") == "SELECT 'a\nb\\nc' AS s")
  }

  test("SAFE./NET. prefixes rewrite only known function calls") {
    // known namespace functions still map to their underscore spelling
    assert(Dialect.rewrite("SELECT SAFE.SUBSTR(s, 1, 2)").contains("substr("))
    assert(Dialect.rewrite("SELECT NET.HOST(u) FROM t").contains("graft_net_host"))
    // an alias or struct path named safe/net must survive untouched
    assert(Dialect.rewrite("SELECT net.amount FROM ledger net", mapFqns = false) ==
      "SELECT net.amount FROM ledger net")
    assert(Dialect.rewrite("SELECT safe.v FROM vault safe", mapFqns = false) ==
      "SELECT safe.v FROM vault safe")
    // even a call-shaped member on an unknown name stays put
    assert(Dialect.rewrite("SELECT net.lookup(x) FROM t", mapFqns = false) ==
      "SELECT net.lookup(x) FROM t")
  }

  test("DATE with timezone argument") {
    assert(Dialect.rewrite("SELECT DATE(created_time, 'Asia/Jakarta')") ==
      "SELECT to_date(from_utc_timestamp(created_time, 'Asia/Jakarta'))")
  }

  test("TIMESTAMP literal call with T separator") {
    assert(Dialect.rewrite("TIMESTAMP('2021-09-01T01:02:03')") ==
      "to_timestamp(replace('2021-09-01T01:02:03', 'T', ' '))")
  }

  test("SELECT AS STRUCT: expression context wraps, table context flattens") {
    // in an expression position the subquery yields ONE struct value
    // (ScriptRunner's SET unwraps single-struct rows positionally)
    assert(Dialect.rewrite("SET (p) = (SELECT AS STRUCT array_agg(x))")
      .contains("SELECT struct((CASE WHEN count(1) = 0 THEN NULL ELSE array_agg(x) END))"))
    // as a table (value table) the fields flatten to columns
    assert(Dialect.rewrite("SELECT a FROM (SELECT AS STRUCT 1 AS a)")
      .contains("FROM (SELECT  1 AS a)"))
  }

  test("3-part source FQNs map to warehouse catalog names") {
    assert(Dialect.mapSourceFqns("SELECT * FROM `proj`.`ds`.`t` JOIN proj.ds.u ON 1=1")
      == "SELECT * FROM proj__ds.`t` JOIN proj__ds.`u` ON 1=1")
    assert(Dialect.mapSourceFqns("FROM `my-proj.ds.t`")
      == "FROM my_proj__ds.`t`")
    // 1- and 2-part names, subqueries, and USING clauses are untouched
    assert(Dialect.mapSourceFqns("FROM orders JOIN db.t USING (id)")
      == "FROM orders JOIN db.t USING (id)")
    assert(Dialect.mapSourceFqns("CREATE TABLE x (a INT) USING parquet")
      == "CREATE TABLE x (a INT) USING parquet")
    assert(Dialect.mapSourceFqns("FROM (SELECT 1)") == "FROM (SELECT 1)")
    // struct field access in expressions is not a table ref
    assert(Dialect.mapSourceFqns("SELECT a.b.c FROM t") == "SELECT a.b.c FROM t")
    // expression-position FROM (EXTRACT units, IS DISTINCT FROM, TRIM
    // specifiers) must not treat the following path as a table
    assert(Dialect.mapSourceFqns("SELECT EXTRACT(YEAR FROM o.meta.ts) FROM proj.ds.orders")
      == "SELECT EXTRACT(YEAR FROM o.meta.ts) FROM proj__ds.`orders`")
    assert(Dialect.mapSourceFqns("WHERE x IS DISTINCT FROM a.b.c")
      == "WHERE x IS DISTINCT FROM a.b.c")
    assert(Dialect.mapSourceFqns("SELECT TRIM(BOTH ' ' FROM n.a.b) FROM t")
      == "SELECT TRIM(BOTH ' ' FROM n.a.b) FROM t")
    // a plain alias before FROM doesn't suppress the mapping
    assert(Dialect.mapSourceFqns("SELECT x AS day FROM proj.ds.t")
      == "SELECT x AS day FROM proj__ds.`t`")
    // the guard is token-based, not a fixed lookback window: a TRIM
    // literal or whitespace longer than 32 chars still suppresses it
    val longTrim = "SELECT TRIM(BOTH '========================================' FROM n.a.b) FROM t"
    assert(Dialect.mapSourceFqns(longTrim) == longTrim)
    val spaced = "SELECT EXTRACT(YEAR            \n              FROM o.meta.ts) FROM proj.ds.t"
    assert(Dialect.mapSourceFqns(spaced)
      == "SELECT EXTRACT(YEAR            \n              FROM o.meta.ts) FROM proj__ds.`t`")
    // WEEK(MONDAY) closes a paren group before its FROM
    assert(Dialect.mapSourceFqns("SELECT EXTRACT(WEEK(MONDAY) FROM o.meta.ts) FROM proj.ds.t")
      == "SELECT EXTRACT(WEEK(MONDAY) FROM o.meta.ts) FROM proj__ds.`t`")
    // a column merely NAMED like a unit keyword doesn't suppress mapping
    assert(Dialect.mapSourceFqns("SELECT year FROM proj.ds.t")
      == "SELECT year FROM proj__ds.`t`")
  }

  test("table name normalization: backticks, colon, decorator") {
    assert(Dialect.normalizeTableName("`p.d.t`") == ("p.d.t", None))
    assert(Dialect.normalizeTableName("p:d.t") == ("p.d.t", None))
    assert(Dialect.normalizeTableName("p.d.t$20190101") == ("p.d.t", Some("20190101")))
  }

  // ===== BigQuery function vocabulary ================================

  test("simple function renames") {
    assert(Dialect.rewrite("SELECT COUNTIF(x > 1), LOGICAL_AND(b), LOGICAL_OR(b)") ==
      "SELECT count_if(x > 1), bool_and(b), bool_or(b)")
    assert(Dialect.rewrite("WHERE REGEXP_CONTAINS(s, 'a.c')") ==
      "WHERE regexp_like(s, 'a.c')")
    assert(Dialect.rewrite("SELECT SAFE_CAST(x AS INT64)") ==
      "SELECT graft_int64_safe(x)")
    assert(Dialect.rewrite("SELECT ARRAY_LENGTH(a), ARRAY_TO_STRING(a, '-')") ==
      "SELECT array_size(a), array_join(a, '-')")
    assert(Dialect.rewrite("SELECT GENERATE_ARRAY(1, 10, 2)") ==
      "SELECT (CASE WHEN ((2) > 0 AND (1) <= (10)) OR ((2) < 0 AND (1) >= (10)) " +
        "THEN sequence(1, 10, 2) ELSE array() END)")
  }

  test("GENERATE_ARRAY guards the start > end case to an empty array") {
    // BigQuery returns [] for (5, 1); Spark's 2-arg sequence would
    // auto-descend to [5,4,3,2,1] — a silent wrong result
    assert(Dialect.rewrite("SELECT GENERATE_ARRAY(5, 1)") ==
      "SELECT (CASE WHEN (5) <= (1) THEN sequence(5, 1) ELSE array() END)")
  }

  test("nested mapped calls rewrite innermost-first") {
    assert(Dialect.rewrite("SELECT ARRAY_LENGTH(GENERATE_ARRAY(1, COUNTIF(b)))") ==
      "SELECT array_size((CASE WHEN (1) <= (count_if(b)) " +
        "THEN sequence(1, count_if(b)) ELSE array() END))")
  }

  test("SAFE_DIVIDE becomes try_divide") {
    assert(Dialect.rewrite("SELECT SAFE_DIVIDE(a + b, nullif(c, 0))") ==
      "SELECT try_divide(a + b, nullif(c, 0))")
  }

  test("function names in literals and comments stay put") {
    assert(Dialect.rewrite("SELECT 'COUNTIF(x)' AS s") == "SELECT 'COUNTIF(x)' AS s")
    assert(Dialect.rewrite("SELECT 1 -- COUNTIF(x)\n") == "SELECT 1 -- COUNTIF(x)\n")
    assert(Dialect.rewrite("SELECT 1 /* COUNTIF(x) */") == "SELECT 1 /* COUNTIF(x) */")
  }

  test("FORMAT_DATE / PARSE_DATE strftime mapping with quoted literals") {
    assert(Dialect.rewrite("SELECT FORMAT_DATE('%Y/%m/%d', d)") ==
      "SELECT date_format(d, 'yyyy/MM/dd')")
    assert(Dialect.rewrite("SELECT PARSE_DATE('%Y-%m-%d', s)") ==
      "SELECT to_date(s, 'yyyy-MM-dd')")
    // literal text runs with letters are pattern-quoted, and the quote
    // chars are SQL-escaped inside the literal
    assert(Dialect.rewrite("SELECT FORMAT_DATE('day %d', d)") ==
      "SELECT date_format(d, '''day ''dd')")
    // %G (ISO year) now compiles to the year of the week's Thursday
    // (was left-as-is before round 9; the execution-level suite covers
    // its semantics). A genuinely unsupported directive stays as-is:
    assert(Dialect.rewrite("SELECT FORMAT_DATE('%G', d)") ==
      "SELECT concat(cast(year(date_add(cast(d as date), " +
        "4 - (((dayofweek(d) + 5) % 7) + 1))) as string))")
    assert(Dialect.rewrite("SELECT FORMAT_DATE('%W', d)") ==
      "SELECT FORMAT_DATE('%W', d)")
  }

  test("TIMESTAMP_DIFF / DATE_DIFF semantics") {
    assert(Dialect.rewrite("SELECT TIMESTAMP_DIFF(a, b, HOUR)") ==
      "SELECT timestampdiff(HOUR, b, a)")
    assert(Dialect.rewrite("SELECT DATE_DIFF(a, b, DAY)") ==
      "SELECT datediff(a, b)")
    // boundary-crossing count, not elapsed months
    assert(Dialect.rewrite("SELECT DATE_DIFF(a, b, MONTH)") ==
      "SELECT ((year(a) * 12 + month(a)) - (year(b) * 12 + month(b)))")
  }

  test("DATE_ADD / DATE_SUB / TIMESTAMP_SUB interval forms") {
    assert(Dialect.rewrite("SELECT DATE_ADD(d, INTERVAL 5 DAY)") ==
      "SELECT date_add(d, (5))")
    assert(Dialect.rewrite("SELECT DATE_SUB(d, INTERVAL 30 day)") ==
      "SELECT date_add(d, -(30))")
    assert(Dialect.rewrite("SELECT DATE_ADD(d, INTERVAL 2 MONTH)") ==
      "SELECT add_months(d, (2))")
    assert(Dialect.rewrite("SELECT TIMESTAMP_SUB(ts, INTERVAL 15 MINUTE)") ==
      "SELECT timestampadd(MINUTE, -(15), ts)")
    // Spark-native 2-int form passes through
    assert(Dialect.rewrite("SELECT date_add(d, 5)") == "SELECT date_add(d, 5)")
  }

  test("DATE_TRUNC: BigQuery Sunday weeks vs Spark-native passthrough") {
    assert(Dialect.rewrite("SELECT DATE_TRUNC(d, WEEK)") ==
      "SELECT date_sub(to_date(d), dayofweek(to_date(d)) - 1)")
    assert(Dialect.rewrite("SELECT DATE_TRUNC(d, WEEK(MONDAY))") ==
      "SELECT cast(date_trunc('WEEK', d) as date)")
    assert(Dialect.rewrite("SELECT DATE_TRUNC(d, MONTH)") ==
      "SELECT cast(date_trunc('MONTH', d) as date)")
    // Spark spelling (literal unit first) is left alone
    assert(Dialect.rewrite("SELECT date_trunc('week', d)") ==
      "SELECT date_trunc('week', d)")
    assert(Dialect.rewrite("SELECT TIMESTAMP_TRUNC(ts, HOUR)") ==
      "SELECT date_trunc('HOUR', ts)")
  }

  test("STRING_AGG with and without ORDER BY") {
    // non-OVER positions carry the empty-input NULL guard (r12:
    // BigQuery returns NULL from a global aggregate over zero rows)
    def g(x: String) = s"(CASE WHEN count(1) = 0 THEN NULL ELSE $x END)"
    assert(Dialect.rewrite("SELECT STRING_AGG(s, ',')") ==
      s"SELECT ${g("string_agg(s, ',')")}")
    assert(Dialect.rewrite("SELECT STRING_AGG(s, '; ' ORDER BY s)") ==
      s"SELECT ${g("listagg(s, '; ') WITHIN GROUP (ORDER BY s)")}")
    assert(Dialect.rewrite("SELECT STRING_AGG(DISTINCT s, ',' ORDER BY s)") ==
      s"SELECT ${g("listagg(DISTINCT s, ',') WITHIN GROUP (ORDER BY s)")}")
    assert(Dialect.rewrite("SELECT STRING_AGG(s ORDER BY t)") ==
      s"SELECT ${g("listagg(s, ',') WITHIN GROUP (ORDER BY t)")}")
    // window position (r12): the clause duplicates onto a count(1)
    // guard — an empty frame yields NULL like BigQuery; Catalyst
    // collapses the identical specs into one Window operator
    assert(Dialect.rewrite("SELECT STRING_AGG(s, ',') OVER (ORDER BY s)") ==
      "SELECT (CASE WHEN count(1) OVER (ORDER BY s) = 0 THEN NULL " +
        "ELSE string_agg(s, ',') OVER (ORDER BY s) END)")
  }

  test("printf FORMAT, hex, and string-predicate renames") {
    // BigQuery TO_HEX is lowercase (Spark hex is uppercase)
    // FORMAT coerces args per conversion spec (java's Formatter rejects
    // Spark Decimals on %f; %d takes any integral via the BIGINT cast)
    assert(Dialect.rewrite("SELECT FORMAT('%d rows', n), TO_HEX(b), FROM_HEX(h)") ==
      "SELECT format_string('%d rows', CAST(n AS BIGINT)), lower(hex(b)), unhex(h)")
    assert(Dialect.rewrite("WHERE STARTS_WITH(s, 'a') AND ENDS_WITH(s, 'z')") ==
      "WHERE startswith(s, 'a') AND endswith(s, 'z')")
  }

  test("ARRAY_AGG: ordered form rewrites, plain/DISTINCT pass through") {
    // non-OVER positions carry the empty-input NULL guard (r12)
    def g(x: String) = s"(CASE WHEN count(1) = 0 THEN NULL ELSE $x END)"
    assert(Dialect.rewrite("SELECT ARRAY_AGG(x ORDER BY k)") ==
      s"SELECT ${g("transform(array_sort(collect_list(struct(k AS _o, x AS _v))), s -> s._v)")}")
    assert(Dialect.rewrite("SELECT ARRAY_AGG(x)") == s"SELECT ${g("ARRAY_AGG(x)")}")
    // DISTINCT ordered-by-the-value-itself dedups through a set
    assert(Dialect.rewrite("SELECT ARRAY_AGG(DISTINCT x ORDER BY x)") ==
      s"SELECT ${g("array_sort(collect_set(x))")}")
    // ...but a different order key stays loud-unresolved
    assert(Dialect.rewrite("SELECT ARRAY_AGG(DISTINCT x ORDER BY k)") ==
      s"SELECT ${g("ARRAY_AGG(DISTINCT x ORDER BY k)")}")
    assert(Dialect.rewrite("SELECT ARRAY_AGG(x ORDER BY k DESC)") ==
      s"SELECT ${g("reverse(transform(array_sort(collect_list(struct(k AS _o, x AS _v))), s -> s._v))")}")
    assert(Dialect.rewrite("SELECT ARRAY_AGG(x ORDER BY k LIMIT 3)") ==
      s"SELECT ${g("slice(transform(array_sort(collect_list(struct(k AS _o, x AS _v))), s -> s._v), 1, 3)")}")
    // multi-key ORDER BY was comma-split upstream — stays loud
    assert(Dialect.rewrite("SELECT ARRAY_AGG(x ORDER BY a, b)") ==
      s"SELECT ${g("ARRAY_AGG(x ORDER BY a, b)")}")
    // window position (r12): the clause duplicates onto a count(1)
    // guard so an empty frame yields NULL like BigQuery
    assert(Dialect.rewrite("SELECT ARRAY_AGG(x) OVER (ORDER BY x)") ==
      "SELECT (CASE WHEN count(1) OVER (ORDER BY x) = 0 THEN NULL " +
        "ELSE ARRAY_AGG(x) OVER (ORDER BY x) END)")
  }

  test("ANY_VALUE HAVING MAX/MIN, JSON extract, STRPOS, SAFE arithmetic") {
    assert(Dialect.rewrite("SELECT ANY_VALUE(name HAVING MAX price)") ==
      "SELECT max_by(name, price)")
    assert(Dialect.rewrite("SELECT ANY_VALUE(name HAVING MIN price)") ==
      "SELECT min_by(name, price)")
    assert(Dialect.rewrite("SELECT ANY_VALUE(x)") == "SELECT ANY_VALUE(x)")
    assert(Dialect.rewrite("SELECT JSON_EXTRACT_SCALAR(j, '$.a'), JSON_VALUE(j, '$.b')") ==
      "SELECT get_json_object(j, '$.a'), get_json_object(j, '$.b')")
    // JSON_EXTRACT keeps the JSON encoding (string scalars stay quoted),
    // so it routes through variant, not get_json_object
    assert(Dialect.rewrite("SELECT JSON_EXTRACT(j, '$.a')") ==
      "SELECT to_json(variant_get(parse_json(j), '$.a'))")
    assert(Dialect.rewrite("SELECT STRPOS(s, 'x'), SAFE_ADD(a, b), SAFE_MULTIPLY(a, b)") ==
      "SELECT instr(s, 'x'), try_add(a, b), try_multiply(a, b)")
  }

  test("QUALIFY rewrites to post-window subquery filter") {
    val in = "SELECT a, b FROM t WHERE a > 0 QUALIFY row_number() OVER (PARTITION BY a ORDER BY b) = 1 ORDER BY a LIMIT 5"
    assert(Dialect.rewrite(in) ==
      "SELECT * EXCEPT(__qualify__) FROM (SELECT a, b, (row_number() OVER (PARTITION BY a ORDER BY b) = 1) AS __qualify__ FROM t WHERE a > 0) WHERE __qualify__ ORDER BY a LIMIT 5")
    // CTE prefix stays outside the wrap
    val cte = "WITH c AS (SELECT 1 AS x) SELECT x FROM c QUALIFY rank() OVER (ORDER BY x) = 1"
    assert(Dialect.rewrite(cte) ==
      "WITH c AS (SELECT 1 AS x) SELECT * EXCEPT(__qualify__) FROM (SELECT x, (rank() OVER (ORDER BY x) = 1) AS __qualify__ FROM c) WHERE __qualify__ ")
  }

  test("FROM-position UNNEST becomes LATERAL VIEW") {
    assert(Dialect.rewrite("SELECT v FROM t, UNNEST(t.arr) AS v") ==
      "SELECT v FROM t LATERAL VIEW explode(t.arr) __u AS v")
    assert(Dialect.rewrite("SELECT v, o FROM t, UNNEST(arr) v WITH OFFSET AS o") ==
      "SELECT v, o FROM t LATERAL VIEW posexplode(arr) __u AS o, v")
    assert(Dialect.rewrite("SELECT v FROM t CROSS JOIN UNNEST(arr) AS v") ==
      "SELECT v FROM t LATERAL VIEW explode(arr) __u AS v")
    assert(Dialect.rewrite("SELECT v FROM t LEFT JOIN UNNEST(arr) AS v ON TRUE") ==
      "SELECT v FROM t LATERAL VIEW OUTER explode(arr) __u AS v")
    // IN UNNEST still wins (rewritten before FROM-UNNEST runs)
    assert(Dialect.rewrite("WHERE x IN UNNEST(a)") == "WHERE ((a) IS NOT NULL AND array_contains(a, x))")
  }

  test("alias-less FROM-UNNEST gets a synthesized alias, keywords not swallowed") {
    assert(Dialect.rewrite("SELECT 1 FROM t, UNNEST(e) WHERE x > 1") ==
      "SELECT 1 FROM t LATERAL VIEW explode(e) __u AS __unnest_col WHERE x > 1")
    assert(Dialect.rewrite("SELECT 1 FROM t, UNNEST(e)") ==
      "SELECT 1 FROM t LATERAL VIEW explode(e) __u AS __unnest_col")
    // alias-less WITH OFFSET: WITH must not be captured as the alias
    assert(Dialect.rewrite("SELECT 1 FROM t, UNNEST(e) WITH OFFSET o WHERE o < 2") ==
      "SELECT 1 FROM t LATERAL VIEW posexplode(e) __u AS o, __unnest_col WHERE o < 2")
    assert(Dialect.rewrite("SELECT v FROM t LEFT OUTER JOIN UNNEST(arr) AS v ON TRUE") ==
      "SELECT v FROM t LATERAL VIEW OUTER explode(arr) __u AS v")
  }

  test("DATETIME_DIFF counts boundary crossings, TIMESTAMP_DIFF elapsed units") {
    // 00:10 vs 23:50 the evening before: 1 day boundary crossed, 0 elapsed
    assert(Dialect.rewrite("SELECT DATETIME_DIFF(a, b, DAY)") ==
      "SELECT datediff(cast(a as date), cast(b as date))")
    assert(Dialect.rewrite("SELECT DATETIME_DIFF(a, b, MONTH)") ==
      "SELECT ((year(cast(a as date)) * 12 + month(cast(a as date))) - " +
        "(year(cast(b as date)) * 12 + month(cast(b as date))))")
    // sub-day: truncate both sides to the unit → boundary count
    assert(Dialect.rewrite("SELECT DATETIME_DIFF(a, b, HOUR)") ==
      "SELECT timestampdiff(HOUR, date_trunc('HOUR', b), date_trunc('HOUR', a))")
    // TIMESTAMP_DIFF keeps whole-elapsed-unit semantics
    assert(Dialect.rewrite("SELECT TIMESTAMP_DIFF(a, b, DAY)") ==
      "SELECT timestampdiff(DAY, b, a)")
  }

  test("TABLE-keyword statements map 3-part names; USING parquet untouched") {
    assert(Dialect.mapSourceFqns("ALTER TABLE proj.ds.t ADD COLUMNS (x INT)") ==
      "ALTER TABLE proj__ds.`t` ADD COLUMNS (x INT)")
    assert(Dialect.mapSourceFqns("TRUNCATE TABLE proj.ds.t") ==
      "TRUNCATE TABLE proj__ds.`t`")
    // non-3-part names and format clauses pass through
    assert(Dialect.mapSourceFqns("CREATE TABLE db.t (x INT) USING parquet") ==
      "CREATE TABLE db.t (x INT) USING parquet")
  }

  test("rewrite passes never corrupt string literals or pass-through SQL") {
    // every pass (array literals, comprehensions, UNNEST, calls, star
    // replace, typed structs) must leave literal text alone
    val nasty = Seq(
      "SELECT 'a [1,2] b' AS s",
      "SELECT 'ARRAY(SELECT x FROM UNNEST(y) x)' AS s",
      "SELECT '* REPLACE (a AS b)' AS s",
      "SELECT 'STRUCT<a INT64>(1)' AS s",
      "SELECT 'SPLIT(a, \\',\\')' AS s",
      "SELECT 'FOR SYSTEM_TIME AS OF' AS s",
      "SELECT 'GENERATE_ARRAY(5, 1)' AS s")
    nasty.foreach { q =>
      assert(Dialect.rewrite(q) == q, s"literal corrupted in: $q")
    }
    // Spark-native SQL that superficially resembles BigQuery constructs
    // passes through untouched
    assert(Dialect.rewrite("SELECT a[0] FROM t") == "SELECT a[0] FROM t")
    assert(Dialect.rewrite("SELECT transform(arr, x -> x + 1) FROM t") ==
      "SELECT transform(arr, x -> x + 1) FROM t")
    assert(Dialect.rewrite("SELECT named_struct('a', 1) FROM t") ==
      "SELECT named_struct('a', 1) FROM t")
  }

  test("keyword passes leave literal text byte for byte") {
    // a trigger inside a literal or comment is text, not a construct
    Seq("SELECT 'ARRAY<INT64>[1]' AS s",
      "SELECT 'ARRAY[1]' AS s",
      "SELECT 'a IN UNNEST(b)' AS s",
      "SELECT \"DATE(ts, 'UTC')\" AS s",
      "SELECT \"TIMESTAMP('2021-01-01T00:00:00')\" AS s",
      "SELECT \"EXTRACT(HOUR FROM ts AT TIME ZONE 'UTC')\" AS s",
      "SELECT 'x INT64 y' AS s -- a NUMERIC comment"
    ).foreach(q => assert(Dialect.rewrite(q) == q, s"literal corrupted in: $q"))
    // the same triggers in code still rewrite
    assert(Dialect.rewrite("SELECT ARRAY<INT64>[1] AS s") == "SELECT array(1) AS s")
    assert(Dialect.rewrite("SELECT DATE(ts, 'UTC') AS s") ==
      "SELECT to_date(from_utc_timestamp(ts, 'UTC')) AS s")
  }

  test("a window extension in a literal stays put; the real OVER site inlines") {
    val q = "SELECT 'OVER (w ORDER BY x)' AS s, sum(n) OVER (w ORDER BY n) AS t " +
      "FROM VALUES (1) AS v(n) WINDOW w AS (PARTITION BY n)"
    val out = Dialect.rewrite(q)
    assert(out.startsWith("SELECT 'OVER (w ORDER BY x)' AS s, " +
      "sum(n) OVER (PARTITION BY n  ORDER BY n) AS t"), out)
  }

  test("a declined match does not end the pass") {
    // STRUCT<…> in a type position declines; the constructor after it rewrites
    assert(Dialect.rewrite("SELECT CAST(NULL AS STRUCT<a INT64>) AS x, STRUCT<a INT64>(1) AS y") ==
      "SELECT CAST(NULL AS STRUCT<a BIGINT>) AS x, named_struct('a', graft_int64(1)) AS y")
  }

  test("comma-join with an unmapped 3-part FQN fails loud") {
    val e = intercept[IllegalArgumentException] {
      Dialect.mapSourceFqns("SELECT * FROM proj.ds.a, proj.ds.b WHERE a.id = b.id")
    }
    assert(e.getMessage.contains("ANSI JOIN"))
    // aliased first table still detected
    intercept[IllegalArgumentException] {
      Dialect.mapSourceFqns("SELECT * FROM proj.ds.a AS x, proj.ds.b")
    }
    // short-name comma joins are fine (Spark handles them natively)
    assert(Dialect.mapSourceFqns("SELECT * FROM orders, sel") ==
      "SELECT * FROM orders, sel")
    // comma + UNNEST is the table operator, not a comma join
    assert(Dialect.rewrite("SELECT v FROM proj.ds.a, UNNEST(e) AS v") ==
      "SELECT v FROM proj__ds.`a` LATERAL VIEW explode(e) __u AS v")
  }
}
