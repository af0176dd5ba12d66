package graft.engine

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Executes the trickier dialect rewrites on a real session — string
  * equality on the rewritten SQL can't prove Spark accepts the output
  * (variant functions, CASE array-type coercion, boundary-diff math).
  */
class DialectExecSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def one(sql: String): Any = {
    graft.functions.BitSketchExpressions.register(spark)
    spark.sql(Dialect.rewrite(sql)).collect()(0).get(0)
  }

  test("GENERATE_ARRAY: ascending, empty-descending, stepped, negative step") {
    assert(one("SELECT GENERATE_ARRAY(1, 4)") == Seq(1, 2, 3, 4))
    assert(one("SELECT GENERATE_ARRAY(5, 1)") == Seq())
    assert(one("SELECT GENERATE_ARRAY(1, 10, 3)") == Seq(1, 4, 7, 10))
    assert(one("SELECT GENERATE_ARRAY(5, 1, -2)") == Seq(5, 3, 1))
    // step pointing away from end → empty, not an error
    assert(one("SELECT GENERATE_ARRAY(1, 5, -1)") == Seq())
    assert(one("SELECT GENERATE_ARRAY(3, 3)") == Seq(3))
  }

  test("ARRAY_CONCAT_AGG flattens array rows into one array") {
    // single-row group → deterministic; multi-row asserted as a multiset
    assert(one("SELECT ARRAY_CONCAT_AGG(a) FROM (SELECT array(1, 2, 3) AS a)")
      == Seq(1, 2, 3))
    val ms = one(
      """SELECT SORT_ARRAY(ARRAY_CONCAT_AGG(a))
        |FROM (SELECT array(3, 1) AS a UNION ALL SELECT array(2, 4))""".stripMargin)
    assert(ms == Seq(1, 2, 3, 4))
    // inside GROUP BY with other aggregates
    val grouped = spark.sql(Dialect.rewrite(
      """SELECT k, SORT_ARRAY(ARRAY_CONCAT_AGG(a)) AS fl, COUNT(1) AS n
        |FROM (SELECT 1 AS k, array(5) AS a UNION ALL
        |      SELECT 1, array(6) UNION ALL SELECT 2, array(7))
        |GROUP BY k ORDER BY k""".stripMargin)).collect()
    assert(grouped(0).getSeq[Int](1) == Seq(5, 6) && grouped(1).getSeq[Int](1) == Seq(7))
  }

  test("JSON_EXTRACT keeps JSON encoding; JSON_EXTRACT_SCALAR strips it") {
    assert(one("""SELECT JSON_EXTRACT('{"a": "b"}', '$.a')""") == "\"b\"")
    assert(one("""SELECT JSON_EXTRACT('{"a": {"n": 1}}', '$.a')""") == """{"n":1}""")
    assert(one("""SELECT JSON_EXTRACT('{"a": 5}', '$.a')""") == "5")
    assert(one("""SELECT JSON_EXTRACT_SCALAR('{"a": "b"}', '$.a')""") == "b")
    assert(one("""SELECT JSON_EXTRACT('{"a": 1}', '$.missing')""") == null)
  }

  test("SPLIT treats the delimiter literally (default comma)") {
    assert(one("SELECT SPLIT('a,b,c')") == Seq("a", "b", "c"))
    assert(one("SELECT SPLIT('a.b.c', '.')") == Seq("a", "b", "c"))
    assert(one("SELECT SPLIT('a|b|c', '|')") == Seq("a", "b", "c"))
    // runtime (non-literal) delimiter still literal, via \Q…\E
    assert(one("SELECT SPLIT('x.y', substr('.z', 1, 1))") == Seq("x", "y"))
  }

  test("REGEXP_EXTRACT: NULL on no match, group-1 when pattern has a group") {
    assert(one("SELECT REGEXP_EXTRACT('ab123cd', '[0-9]+')") == "123")
    assert(one("SELECT REGEXP_EXTRACT('ab123cd', 'x([0-9]+)')") == null)
    assert(one("SELECT REGEXP_EXTRACT('ab123cd', 'b([0-9]+)c')") == "123")
    assert(one("SELECT REGEXP_EXTRACT('abc', '[0-9]+')") == null)
    assert(one("SELECT REGEXP_EXTRACT_ALL('a1b22c', '[0-9]+')") == Seq("1", "22"))
  }

  test("vocabulary pack 6: APPROX_TOP_COUNT/SUM, PERCENTILE_CONT/DISC") {
    import org.apache.spark.sql.Row
    // APPROX_TOP_COUNT: exact below sketch capacity, deterministic
    // (count DESC, value ASC) tie-break
    val tc = one("SELECT APPROX_TOP_COUNT(x, 2) FROM " +
      "(SELECT 'a' AS x UNION ALL SELECT 'b' UNION ALL SELECT 'a' " +
      "UNION ALL SELECT 'c' UNION ALL SELECT 'b' UNION ALL SELECT 'a')")
      .asInstanceOf[scala.collection.Seq[Row]].toSeq.map(r => (r.getString(0), r.getLong(1)))
    assert(tc == Seq(("a", 3L), ("b", 2L)))
    // APPROX_TOP_SUM: weighted; int weight auto-widens to BIGINT
    val ts = one("SELECT APPROX_TOP_SUM(x, w, 2) FROM " +
      "(SELECT 'a' AS x, 1 AS w UNION ALL SELECT 'b', 10 " +
      "UNION ALL SELECT 'a', 2 UNION ALL SELECT 'c', 5)")
      .asInstanceOf[scala.collection.Seq[Row]].toSeq.map(r => (r.getString(0), r.getLong(1)))
    assert(ts == Seq(("b", 10L), ("c", 5L)))
    // non-literal n stays unresolved — loud, not silently re-bucketed
    val bad = intercept[Exception] {
      one("SELECT APPROX_TOP_COUNT(x, 1 + 1) FROM (SELECT 'a' AS x)")
    }
    assert(bad.getMessage != null)
    // TIMESTAMP_BUCKET / DATE_BUCKET: fixed-width floor to the origin,
    // correct BEFORE the origin too (pmod, not truncating div)
    assert(one("SELECT CAST(TIMESTAMP_BUCKET(TIMESTAMP '2024-05-30 14:47:13Z', " +
      "INTERVAL 6 HOUR) AS STRING)") == "2024-05-30 12:00:00")
    assert(one("SELECT CAST(TIMESTAMP_BUCKET(TIMESTAMP '2024-05-30 14:47:13Z', " +
      "INTERVAL 90 MINUTE, TIMESTAMP '2024-05-30 00:15:00Z') AS STRING)")
      == "2024-05-30 13:45:00")
    assert(one("SELECT CAST(TIMESTAMP_BUCKET(TIMESTAMP '1900-02-03 01:02:03Z', " +
      "INTERVAL 1 DAY) AS STRING)") == "1900-02-03 00:00:00")
    assert(one("SELECT CAST(DATE_BUCKET(DATE '2024-06-05', INTERVAL 2 WEEK, " +
      "DATE '2024-05-02') AS STRING)") == "2024-05-30")
    assert(one("SELECT CAST(DATE_BUCKET(DATE '1949-12-30', INTERVAL 1 WEEK) AS STRING)")
      == "1949-12-25")
    // ordered ARRAY_AGG with DESC and LIMIT (single-key forms)
    assert(one("SELECT ARRAY_AGG(x ORDER BY k DESC) FROM (SELECT 'a' AS x, 1 AS k " +
      "UNION ALL SELECT 'b', 3 UNION ALL SELECT 'c', 2)") == Seq("b", "c", "a"))
    assert(one("SELECT ARRAY_AGG(x ORDER BY k LIMIT 2) FROM (SELECT 'a' AS x, 3 AS k " +
      "UNION ALL SELECT 'b', 1 UNION ALL SELECT 'c', 2)") == Seq("b", "c"))
    assert(one("SELECT ARRAY_AGG(x ORDER BY k DESC LIMIT 1) FROM (SELECT 'a' AS x, 1 AS k " +
      "UNION ALL SELECT 'b', 9)") == Seq("b"))
    // PERCENTILE_CONT interpolates; PERCENTILE_DISC takes the first
    // value with cume_dist >= f (both in BQ's analytic position)
    assert(one("SELECT DISTINCT PERCENTILE_CONT(x, 0.5) OVER () FROM " +
      "(SELECT 10 AS x UNION ALL SELECT 20 UNION ALL SELECT 30 UNION ALL SELECT 40)") == 25.0)
    assert(one("SELECT DISTINCT PERCENTILE_DISC(x, 0.5) OVER () FROM " +
      "(SELECT 10 AS x UNION ALL SELECT 20 UNION ALL SELECT 30 UNION ALL SELECT 40)") == 20.0)
    assert(one("SELECT DISTINCT PERCENTILE_DISC(x, 0.25) OVER () FROM " +
      "(SELECT 10 AS x UNION ALL SELECT 20 UNION ALL SELECT 30 UNION ALL SELECT 40)") == 10.0)
    // PERCENTILE_DISC preserves the input type like BigQuery (r10 ask
    // #6): INT64 in → INT64 out, DOUBLE in → DOUBLE out
    assert(one("SELECT DISTINCT PERCENTILE_DISC(x, 0.5) OVER () FROM " +
      "(SELECT CAST(10 AS INT64) AS x UNION ALL SELECT 20 UNION ALL SELECT 30)")
      === 20L)
    assert(one("SELECT DISTINCT PERCENTILE_DISC(x, 0.5) OVER () FROM " +
      "(SELECT CAST(1.5 AS FLOAT64) AS x UNION ALL SELECT 2.5)") === 1.5)
    // aggregate position (engine extension) type-preserves too
    assert(one("SELECT PERCENTILE_DISC(x, 0.5) FROM " +
      "(SELECT CAST(7 AS INT64) AS x UNION ALL SELECT 9)") === 7L)
    // named-window form survives the OVER capture
    assert(one("SELECT DISTINCT PERCENTILE_DISC(x, 1.0) OVER w FROM " +
      "(SELECT CAST(3 AS INT64) AS x UNION ALL SELECT 8) WINDOW w AS ()")
      === 8L)
  }

  test("CAST(BYTES AS STRING) is a strict UTF-8 decode (r11)") {
    // valid UTF-8 decodes; every other child type keeps plain Cast
    assert(one("SELECT CAST(CAST('héllo' AS BYTES) AS STRING)") == "héllo")
    assert(one("SELECT CAST(42 AS STRING)") == "42")
    assert(one("SELECT CAST(DATE '2024-01-02' AS STRING)") == "2024-01-02")
    assert(one("SELECT CAST(TRUE AS STRING)") == "true")
    // invalid UTF-8: BigQuery errors (Spark's cast substituted U+FFFD)
    intercept[Exception] { one("SELECT CAST(FROM_HEX('ff') AS STRING)") }
    // SAFE_CAST → NULL; the replacing decode stays available
    assert(one("SELECT SAFE_CAST(FROM_HEX('ff') AS STRING) IS NULL") == true)
    assert(one("SELECT SAFE_CONVERT_BYTES_TO_STRING(FROM_HEX('61ff62'))") == "a�b")
  }

  test("TO_JSON returns canonical JSON; CHR is code-point based (r11)") {
    // TO_JSON = the JSON type's canonical text (sorted keys, minified)
    assert(one("SELECT TO_JSON(STRUCT(2 AS b, 1 AS a))") == """{"a":1,"b":2}""")
    assert(one("SELECT TO_JSON(5)") == "5")
    assert(one("SELECT TO_JSON('x')") == "\"x\"")
    assert(one("SELECT TO_JSON([1, 2])") == "[1,2]")
    assert(one("SELECT JSON_VALUE(TO_JSON(STRUCT('v' AS k)), '$.k')") == "v")
    // CHR: BigQuery is code-point based; Spark's chr is byte-mod-256
    assert(one("SELECT CHR(97)") == "a")
    assert(one("SELECT CHR(960)") == "π")
    assert(one("SELECT CHR(0)") == "")
    intercept[Exception] { one("SELECT CHR(-1)") }
  }

  test("HLL_COUNT.MERGE works in an OVER clause (closes the r10 edge)") {
    // per-partition merged estimate: sketches are exact far below
    // capacity, so the estimate equals the exact distinct count
    val r = spark.sql(Dialect.rewrite(
      """SELECT DISTINCT g, HLL_COUNT.MERGE(sk) OVER (PARTITION BY g) AS n
        |FROM (SELECT g, HLL_COUNT.INIT(v) AS sk FROM (
        |  SELECT 0 AS g, 'a' AS v UNION ALL SELECT 0, 'b' UNION ALL
        |  SELECT 0, 'b' UNION ALL SELECT 1, 'c') GROUP BY g, v)
        |ORDER BY g""".stripMargin))
    val rows = r.collect()
    assert(rows.map(x => (x.getInt(0), x.getLong(1))).toSeq == Seq((0, 2L), (1, 1L)))
    // aggregate position unchanged
    assert(one("SELECT HLL_COUNT.MERGE(sk) FROM (SELECT HLL_COUNT.INIT(v) AS sk " +
      "FROM (SELECT 'a' AS v UNION ALL SELECT 'b') GROUP BY v)") == 2L)
  }

  test("vocabulary pack 3: IEEE math, buckets, code points, uuid") {
    assert(one("SELECT IEEE_DIVIDE(1, 0)") == Double.PositiveInfinity)
    assert(one("SELECT IEEE_DIVIDE(-1, 0)") == Double.NegativeInfinity)
    assert(one("SELECT IEEE_DIVIDE(0, 0)").asInstanceOf[Double].isNaN)
    assert(one("SELECT IEEE_DIVIDE(6, 4)") == 1.5)
    assert(one("SELECT IS_INF(IEEE_DIVIDE(1, 0))") == true)
    assert(one("SELECT IS_INF(2.5)") == false)
    assert(one("SELECT IS_NAN(IEEE_DIVIDE(0, 0))") == true)
    assert(one("SELECT RANGE_BUCKET(5, [0, 3, 6, 9])") == 2)
    assert(one("SELECT RANGE_BUCKET(-1, [0, 3, 6, 9])") == 0)
    assert(one("SELECT RANGE_BUCKET(9, [0, 3, 6, 9])") == 4)
    assert(one("SELECT EDIT_DISTANCE('kitten', 'sitting')") == 3)
    assert(one("SELECT CONTAINS_SUBSTR('Hello World', 'o w')") == true)
    assert(one("SELECT CONTAINS_SUBSTR('Hello', 'xyz')") == false)
    assert(one("SELECT TO_CODE_POINTS('hi')") == Seq(104, 105))
    assert(one("SELECT TO_CODE_POINTS('â你')") == Seq(226, 20320))
    assert(one("SELECT CODE_POINTS_TO_STRING([104, 105])") == "hi")
    // full Unicode: 2-byte (é U+00E9), 3-byte (中 U+4E2D), 4-byte
    // (😀 U+1F600) UTF-8 branches all round-trip
    assert(one("SELECT CODE_POINTS_TO_STRING([72, 233, 20013, 128512])")
      == "Hé中😀")
    assert(one("SELECT TO_CODE_POINTS(CODE_POINTS_TO_STRING([128512]))")
      == Seq(128512))
    val e = intercept[Exception] { one("SELECT CODE_POINTS_TO_STRING([1114112])") }
    assert(e.getMessage.contains("invalid code point"))
    val surr = intercept[Exception] { one("SELECT CODE_POINTS_TO_STRING([55296])") }
    assert(surr.getMessage.contains("invalid code point"))
    assert(one("SELECT UNICODE('â')") == 226)
    assert(one("SELECT length(GENERATE_UUID())") == 36)
    assert(one("SELECT ARRAY_AGG(x IGNORE NULLS) FROM (SELECT 1 AS x UNION ALL " +
      "SELECT NULL UNION ALL SELECT 2)")
      .asInstanceOf[scala.collection.Seq[_]].toSet == Set(1, 2))
  }

  test("NORMALIZE: composed and decomposed forms converge") {
    // decomposed e+combining-acute (65 CC 81) composes to e-acute (C3 A9)
    assert(one("SELECT NORMALIZE(decode(unhex('65CC81'), 'UTF-8')) = " +
      "decode(unhex('C3A9'), 'UTF-8')") == true)
    // NFD decomposes the precomposed form back to 2 code points
    assert(one("SELECT length(NORMALIZE(decode(unhex('C3A9'), 'UTF-8'), NFD))") == 2)
    // NFKC folds compatibility chars (fi ligature U+FB01 -> 'fi')
    assert(one("SELECT NORMALIZE(decode(unhex('EFAC81'), 'UTF-8'), NFKC)") == "fi")
    // casefold: E-acute -> e-acute
    assert(one("SELECT NORMALIZE_AND_CASEFOLD(decode(unhex('C389'), 'UTF-8')) = " +
      "decode(unhex('C3A9'), 'UTF-8')") == true)
    assert(one("SELECT NORMALIZE(CAST(NULL AS STRING))") == null)
  }

  test("vocabulary pack 4: backrefs, LOG order, numeric TRUNC, SAFE_NEGATE") {
    // BQ \1 backrefs → Java $1; literal $ survives
    assert(one(raw"SELECT REGEXP_REPLACE('ab', r'(a)(b)', '\2\1')") == "ba")
    assert(one(raw"SELECT REGEXP_REPLACE('price', 'p', '$$')") == "$rice")
    // escaped backslash in the replacement stays one literal backslash
    assert(one(raw"SELECT REGEXP_REPLACE('a-b', '-', '\\\\')") == "a\\b")
    // BQ LOG(x, base) — Spark's log takes (base, x)
    assert(one("SELECT LOG(8, 2)") == 3.0)
    assert(math.abs(one("SELECT LOG(1000, 10)").asInstanceOf[Double] - 3.0) < 1e-12)
    assert(math.abs(one("SELECT LOG(100)").asInstanceOf[Double] - math.log(100)) < 1e-12)
    // numeric truncation toward zero (date-idiom trunc passes through)
    assert(one("SELECT TRUNC(1.57, 1)") == 1.5)
    assert(one("SELECT TRUNC(-1.57, 1)") == -1.5)
    assert(one("SELECT TRUNC(2.9)") == 2.0)
    assert(one("SELECT CAST(TRUNC(DATE '2024-03-15', 'MM') AS STRING)") == "2024-03-01")
    assert(one("SELECT SAFE_NEGATE(7)") == -7)
    assert(one("SELECT STRPOS('banana', 'an')") == 2)
  }

  test("vocabulary pack 5: HLL_COUNT namespace, quantiles, vector distances, date vocab") {
    // HLL_COUNT.* onto Spark's native DataSketches HLL; exact at n=3
    assert(one("SELECT HLL_COUNT.EXTRACT(HLL_COUNT.INIT(x)) FROM " +
      "(SELECT 'a' AS x UNION ALL SELECT 'b' UNION ALL SELECT 'a' UNION ALL SELECT 'c')") == 3L)
    assert(one("SELECT HLL_COUNT.MERGE(s) FROM (" +
      "SELECT HLL_COUNT.INIT(x) AS s FROM (SELECT 'a' AS x UNION ALL SELECT 'b') " +
      "UNION ALL SELECT HLL_COUNT.INIT(x) FROM (SELECT 'b' AS x UNION ALL SELECT 'c'))") == 3L)
    assert(one("SELECT HLL_COUNT.EXTRACT(HLL_COUNT.MERGE_PARTIAL(s)) FROM (" +
      "SELECT HLL_COUNT.INIT(x, 14) AS s FROM (SELECT 'a' AS x) " +
      "UNION ALL SELECT HLL_COUNT.INIT(x, 14) FROM (SELECT 'b' AS x))") == 2L)
    // a non-function use of the name must NOT be prefix-mangled
    assert(Dialect.rewrite("SELECT hll_count.v FROM t hll_count")
      .contains("hll_count.v"))
    // APPROX_QUANTILES(x, n) → n+1 quantiles; exact on tiny input
    assert(one("SELECT APPROX_QUANTILES(x, 2) FROM " +
      "(SELECT 1 AS x UNION ALL SELECT 2 UNION ALL SELECT 3)") == Seq(1, 2, 3))
    // vector distances (BQ vector search surface)
    assert(one("SELECT COSINE_DISTANCE([1.0, 0.0], [0.0, 1.0])") == 1.0)
    assert(math.abs(one("SELECT COSINE_DISTANCE([1.0, 1.0], [1.0, 1.0])")
      .asInstanceOf[Double]) < 1e-12)
    assert(one("SELECT EUCLIDEAN_DISTANCE([0.0, 0.0], [3.0, 4.0])") == 5.0)
    // date vocabulary
    assert(one("SELECT CAST(LAST_DAY(DATE '2024-02-10') AS STRING)") == "2024-02-29")
    assert(one("SELECT CAST(LAST_DAY(DATE '2024-02-10', YEAR) AS STRING)") == "2024-12-31")
    assert(one("SELECT CAST(LAST_DAY(DATE '2024-02-10', QUARTER) AS STRING)") == "2024-03-31")
    // 2024-02-10 is a Saturday: Sunday-week ends that day, ISO week next day
    assert(one("SELECT CAST(LAST_DAY(DATE '2024-02-10', WEEK) AS STRING)") == "2024-02-10")
    assert(one("SELECT CAST(LAST_DAY(DATE '2024-02-10', ISOWEEK) AS STRING)") == "2024-02-11")
    assert(one("SELECT CAST(DATE_FROM_UNIX_DATE(19873) AS STRING)") == "2024-05-30")
    assert(one("SELECT UNIX_DATE(DATE '2024-05-30')") == 19873)
    assert(one("SELECT REGEXP_SUBSTR('plus-minus', '([a-z]+)-')") == "plus")
    // non-literal pattern: group-vs-whole-match is undecidable and
    // Spark's native regexp_substr would silently take over — must be
    // loud, not wrong
    val dyn = intercept[Exception] {
      one("SELECT REGEXP_EXTRACT('ab', concat('(', 'a', ')'))")
    }
    assert(dyn.getMessage.contains("literal pattern"),
      s"expected loud non-literal-pattern error, got: ${dyn.getMessage}")
  }

  test("hash functions return BYTES; TO_HEX is lowercase") {
    assert(one("SELECT TO_HEX(MD5('abc'))") == "900150983cd24fb0d6963f7d28e17f72")
    assert(one("SELECT TO_HEX(SHA256('abc'))") ==
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
    assert(one("SELECT TO_BASE64(MD5('abc'))") == "kAFQmDzST7DWlj99KOF/cg==")
    assert(one("SELECT BYTE_LENGTH('héllo')") == 6)
  }

  test("array element access: OFFSET 0-based, ORDINAL 1-based, SAFE_ → NULL") {
    assert(spark.sql(Dialect.rewrite(
      "SELECT a[OFFSET(1)] FROM (SELECT array(10, 20, 30) AS a)")).collect()(0).getInt(0) == 20)
    assert(spark.sql(Dialect.rewrite(
      "SELECT a[ORDINAL(1)] FROM (SELECT array(10, 20, 30) AS a)")).collect()(0).getInt(0) == 10)
    // SAFE_ variants need an identifier base
    assert(spark.sql(Dialect.rewrite(
      "SELECT a[SAFE_OFFSET(5)] FROM (SELECT [1, 2] AS a)")).collect()(0).isNullAt(0))
    assert(spark.sql(Dialect.rewrite(
      "SELECT a[SAFE_ORDINAL(2)] FROM (SELECT [1, 2] AS a)")).collect()(0).getInt(0) == 2)
  }

  test("BigQuery array literals: bare, typed, nested; Spark access passes through") {
    assert(one("SELECT [1, 2, 3]") == Seq(1, 2, 3))
    assert(one("SELECT ARRAY<INT64>[1, 2]") == Seq(1L, 2L))
    assert(one("SELECT [[1], [2, 3]]") == Seq(Seq(1), Seq(2, 3)))
    assert(one("SELECT CASE WHEN 1 = 1 THEN ['a'] ELSE ['b'] END") == Seq("a"))
    assert(one("SELECT ARRAY_LENGTH([1, 2, 3])") == 3)
    // Spark-native 0-based access on an identifier is untouched
    assert(spark.sql(Dialect.rewrite(
      "SELECT a[0] FROM (SELECT array(7, 8) AS a)")).collect()(0).getInt(0) == 7)
  }

  test("ARRAY comprehension and sole-table FROM UNNEST") {
    assert(one("SELECT ARRAY(SELECT x * 2 FROM UNNEST([1, 2, 3]) AS x WHERE x > 1)") ==
      Seq(4, 6))
    assert(one("SELECT ARRAY(SELECT x FROM UNNEST([3, 1]) x)") == Seq(3, 1))
    assert(one("SELECT ARRAY(SELECT DISTINCT x FROM UNNEST([1, 1, 2]) x)") == Seq(1, 2))
    assert(spark.sql(Dialect.rewrite(
      "SELECT v FROM UNNEST([10, 20, 30]) v WHERE v > 15 ORDER BY v"))
      .collect().map(_.getInt(0)).toSeq == Seq(20, 30))
    assert(spark.sql(Dialect.rewrite(
      "SELECT o, v FROM UNNEST(['a', 'b']) v WITH OFFSET o ORDER BY o"))
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((0, "a"), (1, "b")))
  }

  test("SAFE. prefix: parse functions go NULL on bad input, DIV integer-divides") {
    assert(one("SELECT SAFE.PARSE_DATE('%Y-%m-%d', 'nope')") == null)
    assert(one("SELECT CAST(SAFE.PARSE_DATE('%Y-%m-%d', '2024-02-29') AS STRING)") ==
      "2024-02-29")
    assert(one("SELECT DIV(7, 2)") == 3)
  }

  test("STRUCT constructor and NET.HOST") {
    val r = spark.sql(Dialect.rewrite(
      "SELECT STRUCT(1 AS a, 'x' AS b)")).collect()(0).getStruct(0)
    assert(r.getInt(0) == 1 && r.getString(1) == "x")
    assert(one("SELECT STRUCT<a INT64>(5).a") == 5L)
    assert(one("SELECT NET.HOST('https://sub.example.com/p?q=1')") == "sub.example.com")
    assert(one("SELECT NET.HOST('example.com/path')") == "example.com")
  }

  test("NET.HOST / PUBLIC_SUFFIX / REG_DOMAIN over the public-suffix list") {
    // BigQuery's documented examples (net functions reference table)
    assert(one("SELECT NET.HOST('//user:password@a.b:80/path?query')") == "a.b")
    assert(one("SELECT NET.HOST('https://[::1]:80')") == "[::1]")
    assert(one("SELECT NET.HOST('    www.Example.Co.UK    ')") == "www.Example.Co.UK")
    assert(one("SELECT NET.HOST('filename.txt')") == "filename.txt")
    assert(one("SELECT NET.PUBLIC_SUFFIX('http://abc.xyz')") == "xyz")
    assert(one("SELECT NET.REG_DOMAIN('http://abc.xyz')") == "abc.xyz")
    // matching is lowercase; the RESULT keeps the original case
    assert(one("SELECT NET.PUBLIC_SUFFIX('www.Example.Co.UK')") == "Co.UK")
    assert(one("SELECT NET.REG_DOMAIN('www.Example.Co.UK')") == "Example.Co.UK")
    // multi-label ICANN suffix
    assert(one("SELECT NET.REG_DOMAIN('https://sub.example.co.uk/p')") == "example.co.uk")
    // host IS a public suffix → REG_DOMAIN NULL, PUBLIC_SUFFIX matches
    assert(one("SELECT NET.PUBLIC_SUFFIX('co.uk')") == "co.uk")
    assert(one("SELECT NET.REG_DOMAIN('co.uk') IS NULL") == true)
    // no implicit '*' rule: unlisted TLD → NULL (BigQuery delta from PSL)
    assert(one("SELECT NET.PUBLIC_SUFFIX('filename.txt') IS NULL") == true)
    assert(one("SELECT NET.REG_DOMAIN('a.b') IS NULL") == true)
    // wildcard *.ck with exception !www.ck
    assert(one("SELECT NET.PUBLIC_SUFFIX('foo.bar.ck')") == "bar.ck")
    assert(one("SELECT NET.REG_DOMAIN('foo.bar.ck')") == "foo.bar.ck")
    assert(one("SELECT NET.REG_DOMAIN('www.ck')") == "www.ck")
    // ICANN section only: private registry domains are not suffixes
    assert(one("SELECT NET.REG_DOMAIN('foo.blogspot.com')") == "blogspot.com")
    // unicode host matches the unicode PSL entry via Punycode
    assert(one("SELECT NET.PUBLIC_SUFFIX('http://例子.卷筒纸.中国')") == "中国")
    assert(one("SELECT NET.REG_DOMAIN('http://例子.卷筒纸.中国')") == "卷筒纸.中国")
    // middle adjacent dots disqualify; leading dot is stripped
    assert(one("SELECT NET.PUBLIC_SUFFIX('a..com') IS NULL") == true)
    assert(one("SELECT NET.PUBLIC_SUFFIX('.com')") == "com")
    // IP hosts have no suffix
    assert(one("SELECT NET.REG_DOMAIN('http://1.2.3.4/') IS NULL") == true)
  }

  test("SELECT * REPLACE substitutes the column, keeping the rest") {
    val rows = spark.sql(Dialect.rewrite(
      "SELECT * REPLACE (v * 10 AS v, CAST(k AS STRING) AS k) " +
        "FROM (SELECT 1 AS k, 2 AS v, 'z' AS w)")).collect()
    val r = rows(0)
    val schema = rows.head.schema.fieldNames.toSeq
    assert(schema.toSet == Set("k", "v", "w"), s"got $schema")
    assert(r.getAs[String]("k") == "1")
    assert(r.getAs[Int]("v") == 20)
    assert(r.getAs[String]("w") == "z")
  }

  test("EXTRACT(WEEK) is Sunday-start with week 0; ISOWEEK maps to ISO") {
    // 2024: Jan 1 is a Monday, first Sunday is Jan 7
    assert(one("SELECT EXTRACT(WEEK FROM DATE '2024-01-03')") == 0)
    assert(one("SELECT EXTRACT(WEEK FROM DATE '2024-01-07')") == 1)
    assert(one("SELECT EXTRACT(WEEK FROM DATE '2024-12-31')") == 52)
    // 2023: Jan 1 IS a Sunday — week 1 immediately
    assert(one("SELECT EXTRACT(WEEK FROM DATE '2023-01-01')") == 1)
    assert(one("SELECT EXTRACT(ISOWEEK FROM DATE '2024-01-03')") == 1)
    assert(one("SELECT EXTRACT(YEAR FROM DATE '2024-01-03')") == 2024)
    assert(one("SELECT CAST(EXTRACT(DATE FROM TIMESTAMP '2024-03-05 10:30:00') AS STRING)") ==
      "2024-03-05")
  }

  test("DATE_TRUNC WEEK(<weekday>) and GENERATE_TIMESTAMP_ARRAY") {
    // 2024-01-10 is a Wednesday
    assert(one("SELECT CAST(DATE_TRUNC(DATE '2024-01-10', WEEK(WEDNESDAY)) AS STRING)") ==
      "2024-01-10")
    assert(one("SELECT CAST(DATE_TRUNC(DATE '2024-01-10', WEEK(THURSDAY)) AS STRING)") ==
      "2024-01-04")
    assert(one("SELECT CAST(DATE_TRUNC(DATE '2024-01-10', WEEK(TUESDAY)) AS STRING)") ==
      "2024-01-09")
    assert(one("SELECT ARRAY_LENGTH(GENERATE_TIMESTAMP_ARRAY(" +
      "TIMESTAMP '2024-01-01 00:00:00', TIMESTAMP '2024-01-01 03:00:00', " +
      "INTERVAL 1 HOUR))") == 4)
  }

  test("LEAST/GREATEST propagate NULL; DATE(y,m,d); APPROX_COUNT_DISTINCT") {
    assert(one("SELECT GREATEST(1, 5, 3)") == 5)
    assert(one("SELECT GREATEST(1, CAST(NULL AS INT), 3)") == null)
    assert(one("SELECT LEAST(2, CAST(NULL AS INT))") == null)
    assert(one("SELECT CAST(DATE(2024, 2, 29) AS STRING)") == "2024-02-29")
    assert(one("SELECT APPROX_COUNT_DISTINCT(x) FROM (SELECT 1 AS x UNION ALL SELECT 2)") == 2L)
  }

  test("JSON array extraction: encoded elements vs decoded strings") {
    assert(one("""SELECT JSON_EXTRACT_ARRAY('{"a": [1, "x", {"b": 2}]}', '$.a')""") ==
      Seq("1", "\"x\"", """{"b":2}"""))
    assert(one("""SELECT JSON_EXTRACT_STRING_ARRAY('{"a": ["x", "y"]}', '$.a')""") ==
      Seq("x", "y"))
    assert(one("""SELECT JSON_EXTRACT_ARRAY('[1, 2]')""") == Seq("1", "2"))
    assert(one("""SELECT JSON_EXTRACT_ARRAY('{"a": 1}', '$.missing')""") == null)
  }

  test("DATETIME_DIFF boundary semantics vs TIMESTAMP_DIFF elapsed") {
    // 20 minutes apart across midnight: 1 day boundary, 0 elapsed days
    assert(one("SELECT DATETIME_DIFF(DATETIME '2024-01-02 00:10:00', " +
      "DATETIME '2024-01-01 23:50:00', DAY)") == 1)
    assert(one("SELECT TIMESTAMP_DIFF(TIMESTAMP '2024-01-02 00:10:00', " +
      "TIMESTAMP '2024-01-01 23:50:00', DAY)") == 0)
    // month boundary
    assert(one("SELECT DATETIME_DIFF(DATETIME '2024-02-01 00:00:01', " +
      "DATETIME '2024-01-31 23:59:59', MONTH)") == 1)
    // sub-day boundary: 2 minutes apart across an hour boundary
    assert(one("SELECT DATETIME_DIFF(DATETIME '2024-01-01 02:01:00', " +
      "DATETIME '2024-01-01 01:59:00', HOUR)") == 1)
    // same hour → 0 even when 59 minutes apart
    assert(one("SELECT DATETIME_DIFF(DATETIME '2024-01-01 01:59:00', " +
      "DATETIME '2024-01-01 01:00:00', HOUR)") == 0)
  }

  test("VECTOR_SEARCH: euclidean + cosine top-k, BigQuery result shape") {
    spark.sql(
      """SELECT * FROM VALUES
        |  (1, array(1.0D, 0.0D)), (2, array(0.0D, 1.0D)),
        |  (3, array(1.0D, 1.0D)), (4, array(2.0D, 0.0D))
        |  AS t(id, v)""".stripMargin)
      .createOrReplaceTempView("vs_base")
    // euclidean: nearest to (1,0) is itself (d=0); ids 3 and 4 tie at
    // d=1 and the struct tie-break keeps the lower id
    val eu = spark.sql(Dialect.rewrite(
      """SELECT query.id AS qid, base.id AS nid, round(distance, 3) AS d
        |FROM VECTOR_SEARCH(TABLE vs_base, 'v',
        |  (SELECT * FROM vs_base WHERE id = 1),
        |  top_k => 2, distance_type => 'EUCLIDEAN')
        |ORDER BY d""".stripMargin))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(eu == Seq((1, 1, 0.0), (1, 3, 1.0)))
    // cosine: (2,0) is colinear with (1,0) → both distance 0; the
    // deterministic struct tie-break keeps the lower id first
    val co = spark.sql(Dialect.rewrite(
      """SELECT base.id AS nid, round(distance, 3) AS d
        |FROM VECTOR_SEARCH(TABLE vs_base, 'v',
        |  (SELECT * FROM vs_base WHERE id = 1),
        |  top_k => 3, distance_type => 'COSINE')
        |ORDER BY d, nid""".stripMargin))
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq
    assert(co == Seq((1, 0.0), (4, 0.0), (3, 0.293)))
    // default top_k = 10, default distance EUCLIDEAN
    val all = spark.sql(Dialect.rewrite(
      """SELECT count(1) FROM VECTOR_SEARCH(TABLE vs_base, 'v',
        |  (SELECT * FROM vs_base))""".stripMargin)).collect()(0).getLong(0)
    assert(all == 16L)
    // unknown option fails loud, not silently ignored
    val bad = intercept[IllegalArgumentException] {
      Dialect.rewrite("SELECT 1 FROM VECTOR_SEARCH(TABLE t, 'v', " +
        "(SELECT 1), fraction_lists_to_search => 0.1)")
    }
    assert(bad.getMessage.contains("fraction_lists_to_search"))
    // the literal inside a string is not treated as a call site
    assert(one("SELECT 'FROM VECTOR_SEARCH(' ") == "FROM VECTOR_SEARCH(")
  }

  test("SEARCH: LOG_ANALYZER tokenization, NO_OP equality, loud edges") {
    // all query tokens must appear among the data's tokens,
    // case-insensitively, split on the delimiter set
    assert(one("SELECT SEARCH('Fast-scan: the MERGE path', 'merge SCAN')") == true)
    assert(one("SELECT SEARCH('fast scan merge', 'scan join')") == false)
    // query punctuation is delimiter noise, not match content
    assert(one("SELECT SEARCH('a.b/c', '[c, (B)]')") == true)
    // substrings of a token do NOT match (token-level, not LIKE)
    assert(one("SELECT SEARCH('scanner', 'scan')") == false)
    // underscore is a delimiter: snake_case splits
    assert(one("SELECT SEARCH('load_method', 'method')") == true)
    // NO_OP_ANALYZER: the whole value is one token
    assert(one("SELECT SEARCH('Exact Value', 'exact value', " +
      "analyzer => 'NO_OP_ANALYZER')") == true)
    assert(one("SELECT SEARCH('Exact Value more', 'exact value', " +
      "analyzer => 'NO_OP_ANALYZER')") == false)
    // non-literal query, phrase backticks, unknown analyzer: loud
    intercept[IllegalArgumentException] {
      Dialect.rewrite("SELECT SEARCH(x, y) FROM t")
    }
    intercept[IllegalArgumentException] {
      Dialect.rewrite("SELECT SEARCH(x, '`exact phrase`') FROM t")
    }
    intercept[IllegalArgumentException] {
      Dialect.rewrite("SELECT SEARCH(x, 'q', analyzer => 'PATTERN_ANALYZER') FROM t")
    }
  }

  test("PARSE_JSON validates and canonicalizes; accessors read the result") {
    assert(one("""SELECT JSON_VALUE(PARSE_JSON('{"a": {"b": "hit"}}'), '$.a.b')""")
      == "hit")
    assert(one("""SELECT PARSE_JSON('{"b":2,  "a": 1}')""") == """{"a":1,"b":2}""")
    // invalid JSON fails loud, as in BigQuery
    intercept[Exception] { one("SELECT PARSE_JSON('{not json')") }
  }

  test("COLLATE maps BigQuery collation specs to Spark collations") {
    assert(one("SELECT 'a' = COLLATE('A', 'und:ci')") == true)
    assert(one("SELECT 'a' = COLLATE('A', 'binary')") == false)
  }

  test("IGNORE NULLS inside FIRST_VALUE/LAST_VALUE maps to the boolean arg") {
    assert(one(
      """SELECT FIRST_VALUE(x IGNORE NULLS) OVER (ORDER BY o)
        |FROM (SELECT 1 AS o, CAST(NULL AS STRING) AS x
        |      UNION ALL SELECT 2, 'hit') LIMIT 1""".stripMargin) == null)
    assert(one(
      """SELECT max(f) FROM (SELECT FIRST_VALUE(x IGNORE NULLS)
        |  OVER (ORDER BY o ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS f
        |FROM (SELECT 1 AS o, CAST(NULL AS STRING) AS x UNION ALL SELECT 2, 'hit'))""".stripMargin)
      == "hit")
  }

  test("ARRAY(SELECT ...) subquery collects; empty result is an empty array") {
    assert(one("SELECT ARRAY_LENGTH(ARRAY(SELECT * FROM (SELECT 1 UNION ALL SELECT 2)))") == 2)
    assert(one("SELECT ARRAY_LENGTH(ARRAY(SELECT 1 WHERE 1 = 0))") == 0)
  }

  test("SAFE_OFFSET/SAFE_ORDINAL work on literal and call-result bases") {
    assert(one("SELECT [10, 20][SAFE_OFFSET(9)]") == null)
    assert(one("SELECT ARRAY[10, 20][SAFE_ORDINAL(1)]") == 10)
    assert(one("SELECT SPLIT('a,b', ',')[SAFE_OFFSET(1)]") == "b")
    assert(one("SELECT SPLIT('a,b', ',')[SAFE_OFFSET(5)]") == null)
  }

  test("CURRENT_DATETIME returns a civil timestamp, with and without a zone") {
    assert(one("SELECT CURRENT_DATETIME() IS NOT NULL") == true)
    assert(one("SELECT CURRENT_DATETIME('America/Los_Angeles') IS NOT NULL") == true)
  }

  test("INITCAP uses BigQuery's delimiter set (1-arg) and a custom set (2-arg)") {
    // hyphen and underscore break words in BigQuery, unlike Spark's initcap
    assert(one("SELECT INITCAP('hello world-foo_bar')") == "Hello World-Foo_Bar")
    assert(one("SELECT INITCAP('a.b/c,d')") == "A.B/C,D")
    // custom delimiters: only comma breaks; space is then a word char
    assert(one("SELECT INITCAP('a,b c', ',')") == "A,B c")
    assert(one("SELECT INITCAP(CAST(NULL AS STRING))") == null)
  }

  test("REGEXP_INSTR: position, occurrence, occurrence_position, code points") {
    assert(one("SELECT REGEXP_INSTR('ab12cd34', '[0-9]+')") == 3L)
    assert(one("SELECT REGEXP_INSTR('ab12cd34', '[0-9]+', 4)") == 4L)
    assert(one("SELECT REGEXP_INSTR('ab12cd34', '[0-9]+', 1, 2)") == 7L)
    // occurrence_position 1 → first position AFTER the match
    assert(one("SELECT REGEXP_INSTR('ab12cd34', '[0-9]+', 1, 1, 1)") == 5L)
    assert(one("SELECT REGEXP_INSTR('ab12cd34', 'xyz')") == 0L)
    // positions count CHARACTERS: the astral emoji is one character
    assert(one("SELECT REGEXP_INSTR(CONCAT(CODE_POINTS_TO_STRING([128512]), 'ab'), 'b')") == 3L)
    // invalid position/occurrence fail loud like BigQuery
    intercept[Exception](one("SELECT REGEXP_INSTR('a', 'a', 0)"))
    intercept[Exception](one("SELECT REGEXP_INSTR('a', 'a', 1, 0)"))
  }

  test("REGEXP_EXTRACT with position and occurrence") {
    assert(one("SELECT REGEXP_EXTRACT('ab12cd34', '[0-9]+', 3)") == "12")
    assert(one("SELECT REGEXP_EXTRACT('ab12cd34', '[0-9]+', 1, 2)") == "34")
    assert(one("SELECT REGEXP_EXTRACT('ab12cd34', '[0-9]+', 1, 9)") == null)
  }

  test("ARRAY_FIRST/ARRAY_LAST/ARRAY_SLICE (incl. negative offsets)") {
    assert(one("SELECT ARRAY_FIRST([4, 5, 6])") == 4)
    assert(one("SELECT ARRAY_LAST([4, 5, 6])") == 6)
    assert(one("SELECT ARRAY_SLICE([1, 2, 3, 4, 5], 1, 3)") == Seq(2, 3, 4))
    assert(one("SELECT ARRAY_SLICE([1, 2, 3, 4, 5], 0, 0)") == Seq(1))
    // negative offsets count from the end (inclusive)
    assert(one("SELECT ARRAY_SLICE([1, 2, 3, 4, 5], -3, -1)") == Seq(3, 4, 5))
    // start past end → empty
    assert(one("SELECT ARRAY_SLICE([1, 2, 3], 2, 1)") == Seq())
  }

  test("STRING_AGG with ORDER BY ... LIMIT") {
    assert(one("SELECT STRING_AGG(x, ',' ORDER BY x LIMIT 2) " +
      "FROM (SELECT explode(array('b', 'a', 'c')) AS x)") == "a,b")
    assert(one("SELECT STRING_AGG(x, '|' ORDER BY x DESC LIMIT 2) " +
      "FROM (SELECT explode(array('b', 'a', 'c')) AS x)") == "c|b")
  }

  test("TIME family: literal, CAST, add wrap-around, parse/format") {
    assert(one("SELECT TIME '15:30:45'") == "15:30:45")
    assert(one("SELECT CAST('07:08:09' AS TIME)") == "07:08:09")
    // wrap past midnight, like BigQuery TIME_ADD
    assert(one("SELECT TIME_ADD(TIME '23:30:00', INTERVAL 45 MINUTE)") == "00:15:00")
    assert(one("SELECT TIME_SUB(TIME '00:15:00', INTERVAL 30 MINUTE)") == "23:45:00")
    assert(one("SELECT FORMAT_TIME('%H', TIME '15:30:45')") == "15")
    assert(one("SELECT PARSE_TIME('%H:%M:%S', '15:30:45')") == "15:30:45")
    assert(one("SELECT CURRENT_TIME() IS NOT NULL") == true)
  }

  test("parameterized NUMERIC(p,s)/BIGNUMERIC(p,s) keep their parameters") {
    assert(one("SELECT CAST(1.239 AS NUMERIC(10, 2))").toString == "1.24")
    assert(one("SELECT CAST(2.5 AS BIGNUMERIC(20, 4))").toString == "2.5000")
    // bare forms keep BigQuery's defaults
    assert(one("SELECT CAST(1 AS NUMERIC)").toString == "1.000000000")
  }

  test("SELECT AS VALUE struct exposes its fields as columns") {
    assert(one("SELECT v FROM (SELECT AS VALUE STRUCT(5 AS v, 'x' AS w) FROM (SELECT 1))") == 5)
    assert(one("SELECT w FROM (SELECT AS VALUE STRUCT(5 AS v, 'x' AS w))") == "x")
  }

  test("JSON literal, JSON_TYPE, constructors, strict and LAX converters") {
    // the typed literal canonicalizes through the PARSE_JSON round-trip
    assert(one("""SELECT JSON '{"a" :  1}'""") == """{"a":1}""")
    assert(one("""SELECT JSON_TYPE(JSON '{"a": 1}')""") == "object")
    assert(one("SELECT JSON_TYPE(JSON '[1]')") == "array")
    assert(one("SELECT JSON_TYPE(JSON '\"x\"')") == "string")
    assert(one("SELECT JSON_TYPE(JSON 'true')") == "boolean")
    assert(one("SELECT JSON_TYPE(JSON '1.5')") == "number")
    assert(one("SELECT JSON_ARRAY(1, 'two', NULL)") == """[1,"two",null]""")
    assert(one("SELECT JSON_ARRAY()") == "[]")
    assert(one("SELECT JSON_OBJECT('a', 1, 'b', 'x')") == """{"a":1,"b":"x"}""")
    // strict converters (INT64/FLOAT64 ride the type-keyword casts)
    assert(one("SELECT INT64(JSON '42')") == 42L)
    assert(one("SELECT FLOAT64(JSON '1.5')") == 1.5)
    assert(one("SELECT BOOL(JSON 'true')") == true)
    // LAX: coercions succeed, impossible ones go NULL
    assert(one("""SELECT LAX_INT64(JSON '"42"')""") == 42L)
    assert(one("SELECT LAX_INT64(JSON '1.9')") == 2L)
    assert(one("SELECT LAX_INT64(JSON 'true')") == 1L)
    assert(one("""SELECT LAX_INT64(JSON '"abc"')""") == null)
    assert(one("SELECT LAX_STRING(JSON '7')") == "7")
    assert(one("""SELECT LAX_STRING(JSON '"hi"')""") == "hi")
    assert(one("""SELECT LAX_STRING(JSON '{"a": 1}')""") == null)
    assert(one("""SELECT LAX_BOOL(JSON '"TRUE"')""") == true)
    assert(one("SELECT LAX_BOOL(JSON '5')") == null)
    // a string containing the word JSON must not trigger the literal
    assert(one("SELECT 'format JSON here'") == "format JSON here")
  }

  test("CAST ... FORMAT: date rendering with element case, numeric, parse, SAFE_") {
    assert(one("SELECT CAST(DATE '2024-03-05' AS STRING FORMAT 'MONTH DD, YYYY')")
      == "MARCH 05, 2024")
    assert(one("SELECT CAST(DATE '2024-03-05' AS STRING FORMAT 'Month DD')")
      == "March 05")
    assert(one("SELECT CAST(DATE '2024-03-05' AS STRING FORMAT 'month')") == "march")
    assert(one("SELECT CAST(1234.5 AS STRING FORMAT '9,999.99')").toString.trim
      == "1,234.50")
    // reverse direction: parse with the same element language
    assert(one("SELECT CAST('05/03/2024' AS DATE FORMAT 'DD/MM/YYYY')").toString
      == "2024-03-05")
    assert(one("SELECT SAFE_CAST('garbage' AS DATE FORMAT 'DD/MM/YYYY')") == null)
    assert(one("SELECT CAST('1,234' AS INT64 FORMAT '9,999')") == 1234L)
    // unknown elements fail loud, never render wrong
    intercept[Exception](one("SELECT CAST(DATE '2024-01-01' AS STRING FORMAT 'QQ')"))
  }

  test("FORMAT %t renders any value as text; %T is loud") {
    assert(one("SELECT FORMAT('%t|%t', DATE '2024-01-01', 42)") == "2024-01-01|42")
    intercept[Exception](one("SELECT FORMAT('%T', 42)"))
  }

  test("ARRAY_AGG(DISTINCT x ORDER BY x) dedups then sorts") {
    assert(one("SELECT ARRAY_AGG(DISTINCT x ORDER BY x) " +
      "FROM (SELECT explode(array(2, 1, 2, 3)) AS x)") == Seq(1, 2, 3))
    assert(one("SELECT ARRAY_AGG(DISTINCT x ORDER BY x DESC) " +
      "FROM (SELECT explode(array(2, 1, 2)) AS x)") == Seq(2, 1))
    // ordering by a DIFFERENT key than the distinct value stays loud
    intercept[Exception](one("SELECT ARRAY_AGG(DISTINCT x ORDER BY y) " +
      "FROM (SELECT explode(array(2, 1)) AS x, 1 AS y)"))
  }

  test("named-window EXTENSION forms splice the referenced spec inline") {
    // OVER (w ORDER BY …) — Spark only parses the bare OVER w form
    val rows = spark.sql(Dialect.rewrite(
      "SELECT x, RANK() OVER (w1 ORDER BY x) AS r " +
        "FROM (SELECT explode(array(3, 1, 2)) AS x) " +
        "WINDOW w1 AS (PARTITION BY x % 2)")).collect()
      .map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
    assert(rows == Seq((1, 1), (2, 1), (3, 2)), rows.toString)
    // window-on-window definition
    val rows2 = spark.sql(Dialect.rewrite(
      "SELECT x, SUM(x) OVER w2 AS s " +
        "FROM (SELECT explode(array(1, 2, 3)) AS x) " +
        "WINDOW w1 AS (PARTITION BY x % 2), w2 AS (w1 ORDER BY x)")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq
    assert(rows2 == Seq((1, 1L), (2, 2L), (3, 4L)), rows2.toString)
    // the plain reference form still passes through
    assert(spark.sql(Dialect.rewrite(
      "SELECT SUM(x) OVER w AS s FROM (SELECT explode(array(1, 2)) AS x) " +
        "WINDOW w AS (ORDER BY x)")).collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 3L))
  }

  test("TO_JSON_STRING 2-arg pretty-prints") {
    val pretty = one("SELECT TO_JSON_STRING(STRUCT(1 AS a), true)").toString
    assert(pretty.contains("\n") && pretty.contains("\"a\" : 1"), pretty)
  }

  test("CAST AS BYTES maps to BINARY; `bytes`/`time` stay usable as aliases") {
    assert(java.util.Arrays.equals(
      one("SELECT CAST('ab' AS BYTES)").asInstanceOf[Array[Byte]],
      "ab".getBytes("UTF-8")))
    assert(one("SELECT 7 AS bytes") == 7)
    assert(one("SELECT 8 AS time") == 8)
  }

  test("TIME/BYTES aliases keep their NAMES (cast-scoped type mapping)") {
    // the full-text `AS TIME → AS STRING` rule would rename the output
    // column and break later references to it
    val df = spark.sql(Dialect.rewrite(
      "SELECT t AS time, b AS bytes FROM (SELECT 1 AS t, 2 AS b)"))
    assert(df.columns.toSeq == Seq("time", "bytes"))
    assert(one("SELECT time FROM (SELECT 5 AS time) GROUP BY time") == 5)
    // cast targets still map — including with a FORMAT tail and nesting
    assert(one("SELECT CAST(CAST('07:08:09' AS TIME) AS STRING)") == "07:08:09")
    assert(one("SELECT SAFE_CAST('07:08:09' AS TIME)") == "07:08:09")
  }

  test("JSON mutators: SET/REMOVE/STRIP_NULLS/ARRAY_INSERT/ARRAY_APPEND") {
    // SET: replace, create nested path, array index pad, conflict no-op
    assert(one("""SELECT JSON_SET(JSON '{"a":1}', '$.a', 5)""") == """{"a":5}""")
    assert(one("""SELECT JSON_SET(JSON '{"a":1}', '$.b.c', 'x')""") ==
      """{"a":1,"b":{"c":"x"}}""")
    assert(one("""SELECT JSON_SET(JSON '{"a":[1]}', '$.a[3]', 9)""") ==
      """{"a":[1,null,null,9]}""")
    assert(one("""SELECT JSON_SET(JSON '{"a":1}', '$.a.b', 2)""") == """{"a":1}""",
      "a path through a scalar must no-op")
    // multiple pairs chain left-to-right
    assert(one("""SELECT JSON_SET(JSON '{}', '$.a', 1, '$.b', true)""") ==
      """{"a":1,"b":true}""")
    // a string value that IS a JSON object splices as a subtree
    assert(one("""SELECT JSON_SET(JSON '{}', '$.o', JSON '{"k":2}')""") ==
      """{"o":{"k":2}}""")
    // REMOVE: field, array element (shifts), missing path no-op
    assert(one("""SELECT JSON_REMOVE(JSON '{"a":1,"b":2}', '$.a')""") == """{"b":2}""")
    assert(one("""SELECT JSON_REMOVE(JSON '{"a":[1,2,3]}', '$.a[1]')""") ==
      """{"a":[1,3]}""")
    assert(one("""SELECT JSON_REMOVE(JSON '{"a":1}', '$.zz')""") == """{"a":1}""")
    // STRIP_NULLS: objects always, arrays by flag, remove_empty prunes
    assert(one("""SELECT JSON_STRIP_NULLS(JSON '{"a":null,"b":[null,1]}')""") ==
      """{"b":[1]}""")
    assert(one("""SELECT JSON_STRIP_NULLS(JSON '{"a":null,"b":[null,1]}', include_arrays => false)""") ==
      """{"b":[null,1]}""")
    assert(one("""SELECT JSON_STRIP_NULLS(JSON '{"a":{"b":null}}', remove_empty => true)""") ==
      "null")
    // path-scoped strip leaves siblings alone
    assert(one("""SELECT JSON_STRIP_NULLS(JSON '{"a":{"x":null},"c":null}', '$.a')""") ==
      """{"a":{},"c":null}""")
    // ARRAY_INSERT / ARRAY_APPEND, spread vs single-element
    assert(one("""SELECT JSON_ARRAY_INSERT(JSON '{"a":[1,3]}', '$.a[1]', 2)""") ==
      """{"a":[1,2,3]}""")
    assert(one("""SELECT JSON_ARRAY_APPEND(JSON '{"a":[1]}', '$.a', 2)""") ==
      """{"a":[1,2]}""")
    assert(one("""SELECT JSON_ARRAY_APPEND(JSON '{"a":[1]}', '$.a', JSON '[2,3]')""") ==
      """{"a":[1,2,3]}""")
    assert(one("""SELECT JSON_ARRAY_APPEND(JSON '{"a":[1]}', '$.a', JSON '[2,3]', append_each_element => false)""") ==
      """{"a":[1,[2,3]]}""")
    // LAX interaction: read a mutated field back
    assert(one("""SELECT LAX_INT64(JSON_QUERY(JSON_SET(JSON '{}', '$.n', 7), '$.n'))""") == 7L)
  }

  test("SAFE_CONVERT_BYTES_TO_STRING / PARSE_NUMERIC / MAKE_INTERVAL named args") {
    assert(one("SELECT SAFE_CONVERT_BYTES_TO_STRING(CAST('ab' AS BYTES))") == "ab")
    // invalid UTF-8 replaces, never throws (the SAFE_ contract)
    assert(one("SELECT SAFE_CONVERT_BYTES_TO_STRING(FROM_HEX('ff'))")
      .toString.nonEmpty)
    assert(one("SELECT PARSE_NUMERIC(' 1.5e3 ')").toString == "1500.000000000")
    assert(one("SELECT PARSE_BIGNUMERIC('-12.34')").toString ==
      "-12.340000000000000000")
    assert(one("SELECT MAKE_INTERVAL(1, 2, 3)").toString.nonEmpty)
    assert(one("SELECT DATE '2024-01-01' + MAKE_INTERVAL(day => 3)")
      .toString.startsWith("2024-01-04"))
    assert(one("SELECT TIMESTAMP '2024-01-01 00:00:00' + MAKE_INTERVAL(1, minute => 30)")
      .toString.startsWith("2025-01-01 00:30:00"))
  }

  test("probe-wave fixes: ARRAY_AGG IGNORE NULLS w/ ORDER BY, backrefs, hex, trailing comma, CURRENT_DATE(tz)") {
    // ordered ARRAY_AGG must actually DROP nulls under IGNORE NULLS
    // (the struct wrapper defeats collect_list's own null-skipping)
    assert(one("SELECT ARRAY_AGG(x IGNORE NULLS ORDER BY x) FROM " +
      "(SELECT 1 AS x UNION ALL SELECT NULL UNION ALL SELECT 2)") == Seq(1, 2))
    // standard-literal backref '\\1' (escaped backslash + digit)
    assert(one(raw"SELECT REGEXP_REPLACE('ab', '(a)', '\\1x')") == "axb")
    assert(one(raw"SELECT REGEXP_REPLACE('ab', r'(a)', r'\1x')") == "axb")
    // BigQuery hex integer literals; not inside strings
    assert(one("SELECT 0x1A + 2") == 28)
    assert(one("SELECT '0x1A'") == "0x1A")
    // trailing comma in the SELECT list is legal BigQuery
    assert(one("SELECT 1 AS a, 2 AS b, FROM (SELECT 1)") == 1)
    // CURRENT_DATE with a timezone argument
    assert(one("SELECT CURRENT_DATE('Asia/Jakarta') IS NOT NULL") == true)
    // INTERVAL with a non-literal expression (BigQuery allows any INT64
    // expression; Spark only literals) — parenthesized and identifier
    assert(one("SELECT CAST(DATE '2024-01-01' + INTERVAL (2 * 3) DAY AS STRING)")
      == "2024-01-07")
    assert(one("SELECT CAST(d + INTERVAL n DAY AS STRING) FROM " +
      "(SELECT DATE '2024-01-01' AS d, 2 AS n)") == "2024-01-03")
    // numeric-literal intervals stay on Spark's native syntax
    assert(one("SELECT CAST(DATE '2024-01-01' + INTERVAL 1 DAY AS STRING)")
      == "2024-01-02")
  }

  test("date/time constructors, tz-aware TIMESTAMP_TRUNC, AT TIME ZONE, %s/%z codes") {
    assert(one("SELECT TIME(10, 20, 30)") == "10:20:30")
    assert(one("SELECT CAST(DATETIME(2024, 1, 15, 10, 20, 30) AS STRING)")
      == "2024-01-15 10:20:30")
    assert(one("SELECT CAST(DATETIME(DATE '2024-01-15', TIME '10:20:30') AS STRING)")
      == "2024-01-15 10:20:30")
    // DATETIME(ts, tz): civil time in that zone
    assert(one("SELECT CAST(DATETIME(TIMESTAMP '2024-01-15 10:00:00', 'Asia/Jakarta') AS STRING)")
      == "2024-01-15 17:00:00")
    // TIME(ts[, tz])
    assert(one("SELECT TIME(TIMESTAMP '2024-01-15 10:20:30')") == "10:20:30")
    assert(one("SELECT TIME(TIMESTAMP '2024-01-15 10:20:30', 'Asia/Jakarta')") == "17:20:30")
    // tz-aware truncation: LA midnight of Jan 14 = 08:00 UTC
    assert(one("SELECT CAST(TIMESTAMP_TRUNC(TIMESTAMP '2024-01-15 02:00:00', DAY, 'America/Los_Angeles') AS STRING)")
      == "2024-01-14 08:00:00")
    // BigQuery WEEK is SUNDAY-start (2024-01-18 is a Thursday)
    assert(one("SELECT CAST(TIMESTAMP_TRUNC(TIMESTAMP '2024-01-18 10:00:00', WEEK) AS STRING)")
      == "2024-01-14 00:00:00")
    assert(one("SELECT CAST(TIMESTAMP_TRUNC(TIMESTAMP '2024-01-18 10:00:00', WEEK(MONDAY)) AS STRING)")
      == "2024-01-15 00:00:00")
    assert(one("SELECT CAST(TIMESTAMP_TRUNC(TIMESTAMP '2024-01-18 10:00:00', ISOWEEK) AS STRING)")
      == "2024-01-15 00:00:00")
    // EXTRACT ... AT TIME ZONE
    assert(one("SELECT CAST(EXTRACT(DATE FROM TIMESTAMP '2024-01-15 02:00:00' AT TIME ZONE 'America/Los_Angeles') AS STRING)")
      == "2024-01-14")
    assert(one("SELECT EXTRACT(HOUR FROM TIMESTAMP '2024-01-15 10:00:00' AT TIME ZONE 'Asia/Jakarta')")
      == 17)
    // %s (unix seconds), %Z (zone name), %z (offset)
    assert(one("SELECT FORMAT_TIMESTAMP('%s', TIMESTAMP '1970-01-02 00:00:00')") == "86400")
    // ISO codes compile to computed segments: 2023-01-01 is a SUNDAY →
    // ISO week 52 of 2022, weekday 7
    assert(one("SELECT FORMAT_DATE('%G-W%V-%u', DATE '2023-01-01')") == "2022-W52-7")
    assert(one("SELECT FORMAT_DATE('%G|%V|%u', DATE '2024-01-01')") == "2024|01|1")
    assert(one("SELECT FORMAT_TIMESTAMP('at %s on %Y', TIMESTAMP '1970-01-02 00:00:00')")
      == "at 86400 on 1970")
    assert(one("SELECT FORMAT_TIMESTAMP('%Z', TIMESTAMP '2024-01-15 10:00:00')") == "UTC")
    assert(one("SELECT FORMAT_TIMESTAMP('%z', TIMESTAMP '2024-01-15 10:00:00')") == "+0000")
    // CODE_POINTS_TO_BYTES round-trips through the byte decoder
    assert(one("SELECT SAFE_CONVERT_BYTES_TO_STRING(CODE_POINTS_TO_BYTES([104, 105]))") == "hi")
  }

  test("FORMAT casts args per conversion spec (%f on NUMERIC, %i/%u/%x)") {
    assert(one("SELECT FORMAT('%08.3f|%+d|%x', 3.14159, 42, 255)")
      == "0003.142|+42|ff")
    assert(one("SELECT FORMAT('%i of %u', 7, 9)") == "7 of 9")
    assert(one("SELECT FORMAT('%.2f', CAST(2.5 AS NUMERIC))") == "2.50")
    assert(one("SELECT FORMAT('%d%%', 50)") == "50%")
  }

  test("NET IP kernels: parse/format/int64 round trips, strict vs SAFE") {
    assert(one("SELECT NET.IPV4_TO_INT64(NET.IP_FROM_STRING('192.168.0.1'))")
      == 3232235521L)
    assert(one("SELECT NET.IP_TO_STRING(NET.IPV4_FROM_INT64(3232235521))")
      == "192.168.0.1")
    assert(one("SELECT NET.IP_TO_STRING(NET.IP_FROM_STRING('2001:db8::1'))")
      == "2001:db8:0:0:0:0:0:1")
    assert(one("SELECT NET.SAFE_IP_FROM_STRING('not-an-ip') IS NULL") == true)
    assert(one("SELECT NET.SAFE_IP_FROM_STRING('999.1.1.1') IS NULL") == true)
    intercept[Exception] { one("SELECT NET.IP_FROM_STRING('nope')") }
  }

  test("JSON_KEYS: dotted paths, depth bound, strict vs lax array descent") {
    assert(one("""SELECT JSON_KEYS(JSON '{"b":1,"a":{"c":2}}')""") ==
      Seq("a", "a.c", "b"))
    assert(one("""SELECT JSON_KEYS(JSON '{"a":{"c":2}}', 1)""") == Seq("a"))
    // strict does NOT descend arrays; lax does; lax recursive unwraps
    // nested arrays too
    assert(one("""SELECT JSON_KEYS(JSON '{"a":[{"b":1}]}')""") == Seq("a"))
    assert(one("""SELECT JSON_KEYS(JSON '{"a":[{"b":1}]}', mode => 'lax')""") ==
      Seq("a", "a.b"))
    assert(one("""SELECT JSON_KEYS(JSON '{"a":[[{"b":1}]]}', mode => 'lax')""") ==
      Seq("a"))
    assert(one("""SELECT JSON_KEYS(JSON '{"a":[[{"b":1}]]}', mode => 'lax recursive')""") ==
      Seq("a", "a.b"))
    // non-object root → NULL
    assert(one("""SELECT JSON_KEYS(JSON '[1,2]') IS NULL""") == true)
  }

  test("LTRIM/RTRIM/TRIM 2-arg: BigQuery (value, set) order, not Spark's swapped form") {
    assert(one("SELECT LTRIM('xxhixx', 'x')") == "hixx")
    assert(one("SELECT RTRIM('xxhixx', 'x')") == "xxhi")
    assert(one("SELECT TRIM('xxhixx', 'x')") == "hi")
    // multi-char set = any of the characters
    assert(one("SELECT TRIM('xyhixy', 'xy')") == "hi")
    // 1-arg forms untouched
    assert(one("SELECT TRIM('  hi  ')") == "hi")
    assert(one("SELECT LTRIM('  hi')") == "hi")
  }

  test("CAST AS INT64: half-away-from-zero rounding; loud/NULL on bad input") {
    assert(one("SELECT CAST(2.5 AS INT64)") == 3L)
    assert(one("SELECT CAST(-2.5 AS INT64)") == -3L)
    assert(one("SELECT CAST(2.4 AS INT64)") == 2L)
    assert(one("SELECT CAST(CAST(2.5 AS FLOAT64) AS INT64)") == 3L)
    assert(one("SELECT CAST(CAST(-0.5 AS FLOAT64) AS INT64)") == -1L)
    // strings stay precise (no round-trip through DOUBLE)
    assert(one("SELECT CAST('9223372036854775807' AS INT64)") == Long.MaxValue)
    // BigQuery CAST errors on garbage; SAFE_CAST gives NULL
    intercept[Exception] { one("SELECT CAST('abc' AS INT64)") }
    assert(one("SELECT SAFE_CAST('abc' AS INT64) IS NULL") == true)
    assert(one("SELECT SAFE_CAST(2.5 AS INT64)") == 3L)
    assert(one("SELECT SAFE_CAST(CAST('nan' AS FLOAT64) AS INT64) IS NULL") == true)
    // bool / int passthrough unchanged
    assert(one("SELECT CAST(TRUE AS INT64)") == 1L)
    assert(one("SELECT CAST(7 AS INT64)") == 7L)
  }

  test("COTH/CSCH/SECH compose from Spark's hyperbolics") {
    assert(math.abs(one("SELECT COTH(1)").asInstanceOf[Double] - 1.0 / math.tanh(1)) < 1e-12)
    assert(math.abs(one("SELECT CSCH(1)").asInstanceOf[Double] - 1.0 / math.sinh(1)) < 1e-12)
    assert(math.abs(one("SELECT SECH(1)").asInstanceOf[Double] - 1.0 / math.cosh(1)) < 1e-12)
  }

  test("TO_BASE32 / FROM_BASE32 round-trip (RFC 4648)") {
    assert(one("SELECT TO_BASE32(b'abcde')") == "MFRGGZDF")
    assert(one("SELECT TO_BASE32(b'abc')") == "MFRGG===")
    assert(one("SELECT TO_BASE32(b'')") == "")
    assert(one("SELECT CAST(FROM_BASE32('MFRGGZDF') AS STRING)") == "abcde")
    assert(one("SELECT CAST(FROM_BASE32('MFRGG===') AS STRING)") == "abc")
    // round-trip arbitrary bytes
    assert(one("SELECT FROM_BASE32(TO_BASE32(X'00FF10')) = X'00FF10'") == true)
    intercept[Exception] { one("SELECT FROM_BASE32('!!!!')") }
  }

  test("DATETIME_BUCKET mirrors TIMESTAMP_BUCKET in NTZ space") {
    assert(one("SELECT CAST(DATETIME_BUCKET(DATETIME '2020-01-05 12:00:00', INTERVAL 7 DAY) AS STRING)")
      .toString.startsWith("2020-01-0"))
    // bucket start is stable: same value for any instant inside the bucket
    assert(one("SELECT DATETIME_BUCKET(DATETIME '2020-01-05 12:00:00', INTERVAL 1 DAY) = DATETIME '2020-01-05 00:00:00'") == true)
    assert(one("SELECT DATETIME_BUCKET(DATETIME '2020-01-05 12:34:00', INTERVAL 15 MINUTE) = DATETIME '2020-01-05 12:30:00'") == true)
  }

  test("GAP_FILL materializes missing buckets and fills locf/linear/null") {
    val rows = spark.sql(Dialect.rewrite(
      """SELECT p, CAST(ts AS STRING) AS t, CAST(v1 AS FLOAT64) AS v1, v2
        |FROM GAP_FILL(TABLE (
        |  SELECT 'a' AS p, TIMESTAMP '2020-01-01 00:00:00' AS ts, 10.0 AS v1, 10.0 AS v2
        |  UNION ALL SELECT 'a', TIMESTAMP '2020-01-01 03:00:00', 40.0, 40.0
        |  UNION ALL SELECT 'b', TIMESTAMP '2020-01-01 01:00:00', 5.0, 5.0
        |), ts_column => 'ts', bucket_width => INTERVAL 1 HOUR,
        |   partitioning_columns => ['p'],
        |   value_columns => [('v1', 'locf'), ('v2', 'linear')])
        |ORDER BY p, t""".stripMargin)).collect()
    assert(rows.length == 5) // a gets 4 hourly buckets, b keeps 1
    // locf carries 10.0 across the gap; linear walks 10 → 20 → 30 → 40
    assert(rows.take(4).map(r => (r.getDouble(2), r.getDouble(3))).toSeq ==
      Seq((10.0, 10.0), (10.0, 20.0), (10.0, 30.0), (40.0, 40.0)))
    // 'null' method leaves the gap NULL; no partitioning columns
    val np = spark.sql(Dialect.rewrite(
      """SELECT CAST(v AS FLOAT64) AS v FROM GAP_FILL(TABLE (
        |  SELECT TIMESTAMP '2020-01-01 00:00:00' AS ts, 1.0 AS v
        |  UNION ALL SELECT TIMESTAMP '2020-01-01 02:00:00', 3.0
        |), ts_column => 'ts', bucket_width => INTERVAL 1 HOUR,
        |   value_columns => [('v', 'null')])
        |ORDER BY ts""".stripMargin)).collect()
    assert(np.map(r => if (r.isNullAt(0)) null else r.getDouble(0)).toSeq ==
      Seq(1.0, null, 3.0))
  }

  test("GAP_FILL origin re-aligns input rows into origin + k*width buckets") {
    graft.functions.BitSketchExpressions.register(spark)
    // unaligned inputs (00:05, 02:35) with a :30 origin → buckets at :30
    val rows = spark.sql(Dialect.rewrite(
      """SELECT CAST(ts AS STRING) AS t, CAST(v AS FLOAT64) AS v
        |FROM GAP_FILL(TABLE (
        |  SELECT TIMESTAMP '2020-01-01 00:05:00' AS ts, 1.0 AS v
        |  UNION ALL SELECT TIMESTAMP '2020-01-01 02:35:00', 4.0
        |), ts_column => 'ts', bucket_width => INTERVAL 1 HOUR,
        |   origin => TIMESTAMP '2019-12-31 23:30:00',
        |   value_columns => [('v', 'locf')])
        |ORDER BY ts""".stripMargin)).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq(
      "2019-12-31 23:30:00", "2020-01-01 00:30:00",
      "2020-01-01 01:30:00", "2020-01-01 02:30:00"))
    assert(rows.map(_.getDouble(1)).toSeq == Seq(1.0, 1.0, 1.0, 4.0))
    // two rows landing in one bucket fail loud
    val e = intercept[Exception] {
      spark.sql(Dialect.rewrite(
        """SELECT * FROM GAP_FILL(TABLE (
          |  SELECT TIMESTAMP '2020-01-01 00:05:00' AS ts, 1.0 AS v
          |  UNION ALL SELECT TIMESTAMP '2020-01-01 00:10:00', 2.0
          |), ts_column => 'ts', bucket_width => INTERVAL 1 HOUR,
          |   origin => TIMESTAMP '2020-01-01 00:00:00',
          |   value_columns => [('v', 'locf')])""".stripMargin)).collect()
    }
    assert(e.getMessage.contains("one bucket") ||
      Option(e.getCause).exists(_.getMessage.contains("one bucket")))
    // calendar widths have no fixed micros — loud at rewrite time
    intercept[IllegalArgumentException] {
      Dialect.rewrite("SELECT 1 FROM GAP_FILL(TABLE t, ts_column => 'ts', " +
        "bucket_width => INTERVAL 1 MONTH, origin => TIMESTAMP '2020-01-01')")
    }
  }

  test("GAP_FILL ignore_null_values=false honors existing NULL observations") {
    val src =
      """(SELECT TIMESTAMP '2020-01-01 00:00:00' AS ts, CAST(0.0 AS DOUBLE) AS v
        | UNION ALL SELECT TIMESTAMP '2020-01-01 02:00:00', CAST(NULL AS DOUBLE)
        | UNION ALL SELECT TIMESTAMP '2020-01-01 04:00:00', 4.0)"""
    def run(method: String, inv: String) = spark.sql(Dialect.rewrite(
      s"""SELECT CAST(v AS FLOAT64) AS v FROM GAP_FILL(TABLE $src,
         | ts_column => 'ts', bucket_width => INTERVAL 1 HOUR,
         | value_columns => [('v', '$method')],
         | ignore_null_values => $inv)
         |ORDER BY ts""".stripMargin)).collect()
      .map(r => if (r.isNullAt(0)) null else r.getDouble(0)).toSeq
    // true (default): the existing NULL observation is as-if-absent
    assert(run("locf", "true") == Seq(0.0, 0.0, 0.0, 0.0, 4.0))
    assert(run("linear", "true") == Seq(0.0, 1.0, 2.0, 3.0, 4.0))
    // false: locf carries the existing row's NULL; linear anchors on the
    // existing rows, so a NULL anchor yields NULL across its gaps
    assert(run("locf", "false") == Seq(0.0, 0.0, null, null, 4.0))
    assert(run("linear", "false") == Seq(0.0, null, null, null, 4.0))
  }

  test("RANGE_SESSIONIZE merges overlapping/touching ranges per partition") {
    val rows = spark.sql(Dialect.rewrite(
      """SELECT k, p,
        |  CAST(RANGE_START(session_range) AS STRING) AS lo,
        |  CAST(RANGE_END(session_range) AS STRING) AS hi
        |FROM RANGE_SESSIONIZE(TABLE (
        |  SELECT 1 AS k, 'a' AS p, RANGE(DATE '2020-01-01', DATE '2020-01-10') AS r
        |  UNION ALL SELECT 2, 'a', RANGE(DATE '2020-01-10', DATE '2020-01-20')
        |  UNION ALL SELECT 3, 'a', RANGE(DATE '2020-02-01', DATE '2020-02-05')
        |  UNION ALL SELECT 4, 'b', RANGE(DATE '2020-01-05', DATE '2020-01-06')
        |), 'r', ['p'])
        |ORDER BY k""".stripMargin)).collect()
    // rows 1+2 touch (MEETS default) → one session [01-01, 01-20)
    assert(rows(0).getString(2) == "2020-01-01" && rows(0).getString(3) == "2020-01-20")
    assert(rows(1).getString(2) == "2020-01-01" && rows(1).getString(3) == "2020-01-20")
    assert(rows(2).getString(2) == "2020-02-01" && rows(2).getString(3) == "2020-02-05")
    assert(rows(3).getString(2) == "2020-01-05")
    // OVERLAPS mode: touching ranges do NOT merge
    val ov = spark.sql(Dialect.rewrite(
      """SELECT CAST(RANGE_END(session_range) AS STRING) AS hi
        |FROM RANGE_SESSIONIZE(TABLE (
        |  SELECT RANGE(DATE '2020-01-01', DATE '2020-01-10') AS r
        |  UNION ALL SELECT RANGE(DATE '2020-01-10', DATE '2020-01-20')
        |), 'r', [], 'OVERLAPS')
        |ORDER BY 1""".stripMargin)).collect()
    assert(ov.map(_.getString(0)).toSeq == Seq("2020-01-10", "2020-01-20"))
    // an unbounded end absorbs everything after it in the partition
    val un = spark.sql(Dialect.rewrite(
      """SELECT RANGE_END(session_range) IS NULL AS open
        |FROM RANGE_SESSIONIZE(TABLE (
        |  SELECT RANGE<DATE> '[2020-01-01, UNBOUNDED)' AS r
        |  UNION ALL SELECT RANGE(DATE '2021-01-01', DATE '2021-01-02')
        |), 'r', [])""".stripMargin)).collect()
    assert(un.forall(_.getBoolean(0)))
  }

  test("RANGE<T> family: literal, constructor, contains/overlaps/intersect, generate") {
    // typed literal → struct; UNBOUNDED → NULL bound
    assert(one("SELECT RANGE_CONTAINS(RANGE<DATE> '[2020-01-01, 2020-12-31)', DATE '2020-06-15')") == true)
    assert(one("SELECT RANGE_CONTAINS(RANGE<DATE> '[2020-01-01, 2020-12-31)', DATE '2020-12-31')") == false)
    assert(one("SELECT RANGE_CONTAINS(RANGE<DATE> '[2020-01-01, 2020-12-31)', DATE '2020-01-01')") == true)
    assert(one("SELECT RANGE_CONTAINS(RANGE<DATE> '[UNBOUNDED, 2020-12-31)', DATE '1900-01-01')") == true)
    assert(one("SELECT RANGE_CONTAINS(RANGE<DATE> '[2020-01-01, UNBOUNDED)', DATE '2999-01-01')") == true)
    // range-in-range containment
    assert(one("SELECT RANGE_CONTAINS(RANGE(DATE '2020-01-01', DATE '2021-01-01'), RANGE(DATE '2020-03-01', DATE '2020-04-01'))") == true)
    assert(one("SELECT RANGE_CONTAINS(RANGE(DATE '2020-03-01', DATE '2020-04-01'), RANGE(DATE '2020-01-01', DATE '2021-01-01'))") == false)
    // an unbounded inner side needs the outer side unbounded too
    assert(one("SELECT RANGE_CONTAINS(RANGE(DATE '2020-01-01', DATE '2021-01-01'), RANGE<DATE> '[2020-03-01, UNBOUNDED)')") == false)
    assert(one("SELECT RANGE_CONTAINS(RANGE<DATE> '[2020-01-01, UNBOUNDED)', RANGE<DATE> '[2020-03-01, UNBOUNDED)')") == true)
    // overlaps: half-open, so touching ranges do NOT overlap
    assert(one("SELECT RANGE_OVERLAPS(RANGE(DATE '2020-01-01', DATE '2020-06-01'), RANGE(DATE '2020-05-01', DATE '2020-12-31'))") == true)
    assert(one("SELECT RANGE_OVERLAPS(RANGE(DATE '2020-01-01', DATE '2020-06-01'), RANGE(DATE '2020-06-01', DATE '2020-12-31'))") == false)
    // start/end accessors
    assert(one("SELECT CAST(RANGE_START(RANGE(DATE '2020-01-01', DATE '2020-12-31')) AS STRING)") == "2020-01-01")
    assert(one("SELECT RANGE_END(RANGE<DATE> '[2020-01-01, UNBOUNDED)') IS NULL") == true)
    // intersect clips; non-overlap is loud; constructor rejects lo >= hi
    assert(one("SELECT CAST(RANGE_START(RANGE_INTERSECT(RANGE(DATE '2020-01-01', DATE '2020-06-01'), RANGE(DATE '2020-03-01', DATE '2020-12-31'))) AS STRING)") == "2020-03-01")
    assert(one("SELECT CAST(RANGE_END(RANGE_INTERSECT(RANGE<DATE> '[2020-03-01, UNBOUNDED)', RANGE(DATE '2020-01-01', DATE '2020-06-01'))) AS STRING)") == "2020-06-01")
    intercept[Exception] { one("SELECT RANGE_INTERSECT(RANGE(DATE '2020-01-01', DATE '2020-02-01'), RANGE(DATE '2020-03-01', DATE '2020-04-01'))") }
    intercept[Exception] { one("SELECT RANGE(DATE '2020-05-01', DATE '2020-01-01')") }
    // generate: 31 days / 7 → 4 full + 1 partial (kept by default)
    assert(one("SELECT ARRAY_LENGTH(GENERATE_RANGE_ARRAY(RANGE(DATE '2020-01-01', DATE '2020-02-01'), INTERVAL 7 DAY))") == 5)
    assert(one("SELECT ARRAY_LENGTH(GENERATE_RANGE_ARRAY(RANGE(DATE '2020-01-01', DATE '2020-02-01'), INTERVAL 7 DAY, FALSE))") == 4)
    // partial last subrange is clipped to the range end
    assert(one("SELECT CAST(RANGE_END(GENERATE_RANGE_ARRAY(RANGE(DATE '2020-01-01', DATE '2020-02-01'), INTERVAL 7 DAY)[OFFSET(4)]) AS STRING)") == "2020-02-01")
    // timestamp ranges step in micros space
    assert(one("SELECT ARRAY_LENGTH(GENERATE_RANGE_ARRAY(RANGE(TIMESTAMP '2020-01-01 00:00:00', TIMESTAMP '2020-01-01 03:30:00'), INTERVAL 1 HOUR))") == 4)
  }

  test("wave-14 fixes: generic SAFE. prefix, 2-arg TIMESTAMP, float GENERATE_ARRAY") {
    // SAFE. over any Spark-resolvable scalar fn: NULL (never NaN) on
    // domain errors; a dedicated SAFE_ handler still wins when present
    assert(one("SELECT SAFE.LOG(-1) IS NULL") == true)
    assert(one("SELECT SAFE.SQRT(-1) IS NULL") == true)
    assert(one("SELECT SAFE.ASIN(2) IS NULL") == true)
    assert(one("SELECT SAFE.SQRT(4)") == 2.0)
    assert(one("SELECT SAFE.DIVIDE(1, 0) IS NULL") == true)
    // an unknown dotted name stays loud, not silently stripped
    intercept[Exception] { one("SELECT SAFE.NO_SUCH_FN(1)") }
    // TIMESTAMP(civil, tz) = the instant that wall clock names there
    assert(one("SELECT TIMESTAMP(DATETIME '2020-01-02 03:04:05', 'Asia/Jakarta') = TIMESTAMP '2020-01-01 20:04:05'") == true)
    // FLOAT64 GENERATE_ARRAY: inclusive end, descending, empty cases
    assert(one("SELECT GENERATE_ARRAY(1.0, 2.0, 0.5)") == Seq(1.0, 1.5, 2.0))
    assert(one("SELECT GENERATE_ARRAY(2.0, 1.0, -0.5)") == Seq(2.0, 1.5, 1.0))
    assert(one("SELECT GENERATE_ARRAY(1.0, 0.0, 0.5)") == Seq())
    assert(one("SELECT ARRAY_LENGTH(GENERATE_ARRAY(0.0, 1.0, 0.1))") == 11)
  }

  test("wave-13 fixes: grouped FORMAT flag, typed JSON arrays, double-quoted format literals, parameterized STRING") {
    // BigQuery's ' grouping flag (C printf) → java's , — in both quote styles
    assert(one("SELECT FORMAT(\"%'d\", 1234567)") == "1,234,567")
    assert(one("SELECT FORMAT('%''d', 7654321)") != null) // escaped-quote form stays a literal
    // double-quoted strftime patterns now rewrite like single-quoted
    assert(one("SELECT FORMAT_DATE(\"%Y-%m\", DATE '2020-03-04')") == "2020-03")
    // typed JSON array converters, strict and LAX
    assert(one("SELECT INT64_ARRAY(JSON '[1, 2]')") == Seq(1L, 2L))
    assert(one("SELECT FLOAT64_ARRAY(JSON '[1.5, 2]')") == Seq(1.5, 2.0))
    assert(one("SELECT BOOL_ARRAY(JSON '[true, false]')") == Seq(true, false))
    assert(one("SELECT STRING_ARRAY(JSON '[\"a\", \"b\"]')") == Seq("a", "b"))
    assert(one("SELECT LAX_INT64_ARRAY(JSON '[1, \"2\", 2.6]')") == Seq(1L, 2L, 3L))
    assert(one("SELECT LAX_STRING_ARRAY(JSON '[1, \"a\"]')") == Seq("1", "a"))
    assert(one("SELECT LAX_BOOL_ARRAY(JSON '[true, \"TRUE\", 1]')") == Seq(true, true, null))
    // parameterized STRING(L) enforces on write as VARCHAR; BYTES(L) maps
    assert(one("SELECT CAST('ab' AS STRING(5))") == "ab")
  }

  test("wave-12 fixes: struct subqueries, BOOL type, JSON defaults, SAFE.PARSE_JSON") {
    // (SELECT AS STRUCT …) as a scalar subquery is ONE struct value
    assert(one("SELECT (SELECT AS STRUCT 1 AS a, 2 AS b).a") == 1)
    assert(one("SELECT (SELECT AS STRUCT 1 AS a, 2 AS b).b") == 2)
    // ARRAY(SELECT AS STRUCT …) comprehension keeps struct elements
    assert(one("SELECT ARRAY(SELECT AS STRUCT v AS x FROM UNNEST([10, 20]) AS v)[OFFSET(1)].x") == 20)
    // FROM (SELECT AS STRUCT …) stays a value table (flattens)
    assert(one("SELECT a FROM (SELECT AS STRUCT 7 AS a, 8 AS b)") == 7)
    // BOOL is a type keyword; BOOL(json) is the strict converter
    assert(one("SELECT CAST('true' AS BOOL)") == true)
    assert(one("SELECT BOOL(JSON 'true')") == true)
    assert(one("SELECT CAST(FALSE AS STRING)") == "false")
    // JSON_VALUE/JSON_EXTRACT_SCALAR default the path to '$'
    assert(one("SELECT JSON_VALUE('\"x\"')") == "x")
    assert(one("SELECT JSON_EXTRACT_SCALAR('5')") == "5")
    // SAFE.PARSE_JSON: NULL on invalid; PARSE_JSON wide_number_mode
    assert(one("SELECT SAFE.PARSE_JSON('{bad') IS NULL") == true)
    assert(one("SELECT SAFE.PARSE_JSON('{\"b\":1,\"a\":2}')") == """{"a":2,"b":1}""")
    assert(one("SELECT PARSE_JSON('2.5', wide_number_mode => 'round')") == "2.5")
    intercept[Exception] { one("SELECT PARSE_JSON('2.5', wide_number_mode => 'exact')") }
  }

  test("positional struct-name inference in array literals") {
    assert(one("SELECT [STRUCT(1 AS a, 2 AS b), STRUCT(3, 4)][OFFSET(1)].a") == 3)
    assert(one("SELECT [STRUCT(1 AS a), STRUCT(2), STRUCT(3)][OFFSET(2)].a") == 3)
    // nested expression args with their own AS inside CAST stay intact
    assert(one("SELECT [STRUCT(CAST(1 AS INT64) AS a), STRUCT(CAST(9 AS INT64))][OFFSET(1)].a") == 9L)
    // fully-named arrays untouched; arity mismatch stays loud
    assert(one("SELECT [STRUCT(1 AS a), STRUCT(2 AS a)][OFFSET(0)].a") == 1)
    intercept[Exception] { one("SELECT [STRUCT(1 AS a, 2 AS b), STRUCT(3)]") }
  }

  test("mixed-range INTERVAL literals and JUSTIFY_* normalization") {
    // YEAR TO SECOND crosses Spark's month/day split → make_interval
    assert(one("SELECT CAST(INTERVAL '1-2 3 4:5:6' YEAR TO SECOND AS STRING)") == "1-2 3 4:5:6")
    // independent parts: hour 49 is legal BigQuery (Spark rejects)
    assert(one("SELECT CAST(INTERVAL '29 49:00:00' DAY TO SECOND AS STRING)") == "0-0 29 49:0:0")
    assert(one("SELECT CAST(INTERVAL '2-10' YEAR TO MONTH AS STRING)") == "2-10 0 0:0:0")
    // negative segments
    assert(one("SELECT CAST(INTERVAL '-1-2 3 -4:5:6' YEAR TO SECOND AS STRING)") == "-1-2 3 -4:5:6")
    // in-range day-time literal stays native (orderable ANSI type)
    assert(one("SELECT INTERVAL '3 4' DAY TO HOUR > INTERVAL '3 3' DAY TO HOUR") == true)
    // JUSTIFY_DAYS: 30-day months; JUSTIFY_HOURS: 24-hour days
    assert(one("SELECT CAST(JUSTIFY_DAYS(INTERVAL 65 DAY) AS STRING)") == "0-2 5 0:0:0")
    assert(one("SELECT CAST(JUSTIFY_HOURS(INTERVAL 50 HOUR) AS STRING)") == "0-0 2 2:0:0")
    assert(one("SELECT CAST(JUSTIFY_INTERVAL(INTERVAL '29 49:20:30' DAY TO SECOND) AS STRING)") == "0-1 1 1:20:30")
    // Postgres-lineage sign borrowing
    assert(one("SELECT CAST(JUSTIFY_INTERVAL(MAKE_INTERVAL(month => 1, hour => -1)) AS STRING)") == "0-0 29 23:0:0")
    // fractional seconds render trimmed
    assert(one("SELECT CAST(INTERVAL '0 0:0:1.5' DAY TO SECOND AS STRING)") == "0-0 0 0:0:1.5")
  }

  test("SAFE. over throwing lowerings returns NULL (graft_try wrap)") {
    // FROM_BASE32 raises on invalid chars — SAFE. must suppress, not strip
    assert(one("SELECT SAFE.FROM_BASE32('!!') IS NULL") == true)
    assert(one("SELECT CAST(SAFE.FROM_BASE32('MZXW6YTB') AS STRING)") == "fooba")
    // RANGE raise_error on start >= end
    assert(one("SELECT SAFE.RANGE(DATE '2024-02-01', DATE '2024-01-01') IS NULL") == true)
    assert(one("SELECT SAFE.RANGE(DATE '2024-01-01', DATE '2024-02-01').range_end") ==
      java.sql.Date.valueOf("2024-02-01"))
    // disjoint RANGE_INTERSECT
    assert(one("SELECT SAFE.RANGE_INTERSECT(RANGE(DATE '2024-01-01', DATE '2024-01-05'), " +
      "RANGE(DATE '2024-03-01', DATE '2024-03-05')) IS NULL") == true)
    // zero step GENERATE_ARRAY: only the FLOAT64 branch raises (the
    // integer form yields [] for a zero step) — SAFE. suppresses it
    assert(one("SELECT SAFE.GENERATE_ARRAY(1.0, 5.0, CAST('0' AS FLOAT64)) IS NULL") == true)
    assert(one("SELECT SAFE.GENERATE_ARRAY(1, 3)") == Seq(1, 2, 3))
    // ANSI string→decimal parse
    assert(one("SELECT SAFE.PARSE_NUMERIC('nope') IS NULL") == true)
    assert(one("SELECT CAST(SAFE.PARSE_NUMERIC(' 1.5 ') AS STRING)") == "1.500000000")
    // invalid code point
    assert(one("SELECT SAFE.CODE_POINTS_TO_STRING([97, 2097152]) IS NULL") == true)
    assert(one("SELECT SAFE.CODE_POINTS_TO_BYTES([300]) IS NULL") == true)
  }

  test("STRING(x) dispatches: JSON strict converter vs timestamp cast") {
    // JSON string value → decoded (escapes unwrap)
    assert(one("""SELECT STRING(JSON '"foo"')""") == "foo")
    assert(one("""SELECT STRING(PARSE_JSON('"a\\nb"'))""") == "a\nb")
    assert(one("SELECT STRING(JSON 'null') IS NULL") == true)
    // non-string JSON is loud; SAFE. suppresses to NULL
    intercept[Exception] { one("SELECT STRING(JSON '123')") }
    assert(one("SELECT SAFE.STRING(JSON '123') IS NULL") == true)
    assert(one("""SELECT SAFE.STRING(JSON '"ok"')""") == "ok")
    // timestamp overload keeps the cast path
    assert(one("SELECT STRING(TIMESTAMP '2020-01-02 03:04:05')") ==
      "2020-01-02 03:04:05")
    // STRING(L) type parameter is untouched (VARCHAR path)
    assert(one("SELECT CAST('abcdef' AS STRING)") == "abcdef")
  }

  test("IN UNNEST over a NULL array is FALSE (NOT IN → TRUE), never NULL") {
    assert(one("SELECT 1 IN UNNEST(CAST(NULL AS ARRAY<INT64>))") == false)
    assert(one("SELECT 1 NOT IN UNNEST(CAST(NULL AS ARRAY<INT64>))") == true)
    assert(one("SELECT 2 IN UNNEST([1, 2])") == true)
    assert(one("SELECT 3 NOT IN UNNEST([1, 2])") == true)
    // NULL elements keep IN's three-valued logic
    assert(one("SELECT 3 IN UNNEST([1, NULL]) IS NULL") == true)
    assert(one("SELECT 3 NOT IN UNNEST([1, NULL]) IS NULL") == true)
  }

  test("pipe syntax: native operators pass through, |> RENAME rewrites") {
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW pipe_t AS " +
      "SELECT k, g, CAST(v AS DOUBLE) AS v FROM VALUES " +
      "(1, 'a', 10.0), (2, 'b', 20.0), (3, 'a', 30.0) AS t(k, g, v)")
    val agg = spark.sql(Dialect.rewrite(
      "FROM pipe_t |> AGGREGATE SUM(v) AS sv GROUP BY g |> ORDER BY g")).collect()
    assert(agg.map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      Seq(("a", 40.0), ("b", 20.0)))
    val ext = spark.sql(Dialect.rewrite(
      "FROM pipe_t |> EXTEND v * 2 AS v2 |> WHERE k > 1 |> SELECT k, v2 |> ORDER BY k"))
      .collect()
    assert(ext.map(r => (r.getInt(0), r.getDouble(1))).toSeq ==
      Seq((2, 40.0), (3, 60.0)))
    // RENAME is the one operator Spark lacks — rewritten via * EXCEPT
    val rn = spark.sql(Dialect.rewrite(
      "FROM pipe_t |> RENAME v AS val |> SELECT k, val |> ORDER BY k")).collect()
    assert(rn.map(_.getDouble(1)).toSeq == Seq(10.0, 20.0, 30.0))
    val rn2 = spark.sql(Dialect.rewrite(
      "FROM pipe_t |> RENAME v AS val, g AS grp |> WHERE grp = 'a' " +
        "|> AGGREGATE SUM(val) AS s")).collect()
    assert(rn2(0).getDouble(0) == 40.0)
    // |> ASSERT: passing rows flow through; a failing row is loud with
    // the message (or the condition text when no message is given)
    graft.functions.BitSketchExpressions.register(spark)
    val as1 = spark.sql(Dialect.rewrite(
      "FROM pipe_t |> ASSERT k > 0 |> SELECT k |> ORDER BY k")).collect()
    assert(as1.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    val e = intercept[Exception] {
      spark.sql(Dialect.rewrite(
        "FROM pipe_t |> ASSERT k > 1, 'k must exceed 1' |> SELECT k")).collect()
    }
    assert(e.getMessage.contains("k must exceed 1"))
    val e2 = intercept[Exception] {
      spark.sql(Dialect.rewrite("FROM pipe_t |> ASSERT k > 2 |> SELECT k")).collect()
    }
    assert(e2.getMessage.contains("k > 2"))
  }

  test("probe wave 15: 3-arg ROUND, typed SIGN, ARRAY_INCLUDES, SPLIT_SUBSTR") {
    // rounding_mode: HALF_EVEN → bround, HALF_AWAY (BigQuery default) → round
    assert(one("SELECT CAST(ROUND(2.5, 0, 'ROUND_HALF_EVEN') AS INT64)") == 2L)
    assert(one("SELECT CAST(ROUND(3.5, 0, 'ROUND_HALF_EVEN') AS INT64)") == 4L)
    assert(one("SELECT CAST(ROUND(2.5, 0, 'ROUND_HALF_AWAY_FROM_ZERO') AS INT64)") == 3L)
    intercept[Exception] { one("SELECT ROUND(2.5, 0, 'ROUND_UP')") }
    // SIGN preserves the input type (Spark's sign is always DOUBLE)
    assert(one("SELECT SIGN(-5)") == -1)
    assert(one("SELECT SIGN(0)") == 0)
    assert(one("SELECT SIGN(CAST(2.5 AS FLOAT64))") == 1.0)
    assert(one("SELECT SIGN(CAST(NULL AS INT64)) IS NULL") == true)
    // SIGN(NaN) is NaN in BigQuery; Spark orders NaN > 0, so without an
    // isnan guard the lowering returned 1 (r10 ADVICE)
    assert(one("SELECT isnan(SIGN(CAST('NaN' AS FLOAT64)))") == true)
    assert(one("SELECT SIGN(CAST('-Infinity' AS FLOAT64))") == -1.0)
    // ARRAY_INCLUDES family
    assert(one("SELECT ARRAY_INCLUDES([1, 2], 2)") == true)
    assert(one("SELECT ARRAY_INCLUDES_ANY([1, 2], [3, 2])") == true)
    assert(one("SELECT ARRAY_INCLUDES_ALL([1, 2, 3], [1, 3])") == true)
    assert(one("SELECT ARRAY_INCLUDES_ALL([1, 2], [1, 4])") == false)
    // SPLIT_SUBSTR: 1-based start, negative from the end (clamped),
    // out-of-range → '', count clamps to the remainder
    assert(one("SELECT SPLIT_SUBSTR('a,b,c,d', ',', 2, 2)") == "b,c")
    assert(one("SELECT SPLIT_SUBSTR('a,b,c,d', ',', 2)") == "b,c,d")
    assert(one("SELECT SPLIT_SUBSTR('a,b,c,d', ',', -2)") == "c,d")
    assert(one("SELECT SPLIT_SUBSTR('a,b,c,d', ',', -9, 2)") == "a,b")
    assert(one("SELECT SPLIT_SUBSTR('a,b,c,d', ',', 9, 2)") == "")
  }

  test("GEOGRAPHY point subset: constructors, accessors, spherical distance") {
    assert(one("SELECT ST_X(ST_GEOGPOINT(-122.35, 47.62))") == -122.35)
    assert(one("SELECT ST_Y(ST_GEOGPOINT(-122.35, 47.62))") == 47.62)
    assert(one("SELECT ST_ASTEXT(ST_GEOGPOINT(-122.35, 47.62))") == "POINT(-122.35 47.62)")
    assert(one("SELECT ST_ASTEXT(ST_GEOGPOINT(1, 2))") == "POINT(1 2)")
    assert(one("SELECT ST_X(ST_GEOGFROMTEXT('POINT(-10.5 20.25)'))") == -10.5)
    assert(one("SELECT ST_Y(ST_GEOGFROMTEXT(' POINT( -10.5  20.25 ) '))") == 20.25)
    // one degree of longitude at the equator on the R=6371010 sphere:
    // 2πR/360 ≈ 111194.93 m
    val d = one("SELECT ST_DISTANCE(ST_GEOGPOINT(0, 0), ST_GEOGPOINT(1, 0))")
      .asInstanceOf[Double]
    assert(math.abs(d - 2 * math.Pi * 6371010.0 / 360) < 0.01)
    assert(one("SELECT ST_DISTANCE(ST_GEOGPOINT(5, 5), ST_GEOGPOINT(5, 5))") == 0.0)
    assert(one("SELECT ST_DWITHIN(ST_GEOGPOINT(0, 0), ST_GEOGPOINT(1, 0), 112000)") == true)
    assert(one("SELECT ST_DWITHIN(ST_GEOGPOINT(0, 0), ST_GEOGPOINT(1, 0), 111000)") == false)
    // invalid latitude and non-point WKT are loud
    intercept[Exception] { one("SELECT ST_GEOGPOINT(0, 91)") }
    intercept[Exception] { one("SELECT ST_X(ST_GEOGFROMTEXT('LINESTRING(0 0, 1 1)'))") }
  }

  test("GEOGRAPHY r12: typed ST_ASTEXT + shape-dispatching ST_INTERSECTS") {
    // ST_ASTEXT renders all three shapes (the old `.lon` lowering
    // silently mapped over a linestring's points — r11 ADVICE)
    assert(one("SELECT ST_ASTEXT(ST_GEOGFROMTEXT('LINESTRING(0 0, 1.5 0, 1.5 2.25)'))") ==
      "LINESTRING(0 0, 1.5 0, 1.5 2.25)")
    assert(one("SELECT ST_ASTEXT(ST_GEOGFROMTEXT('POLYGON((0 0, 2 0, 2 1, 0 0))'))") ==
      "POLYGON((0 0, 2 0, 2 1, 0 0))")
    intercept[Exception] { one("SELECT ST_ASTEXT(42)") }
    // shape mismatches fail analysis loud, not with unsafe reinterprets
    intercept[Exception] {
      one("SELECT ST_AREA(ST_GEOGFROMTEXT('LINESTRING(0 0, 1 1)'))") }
    intercept[Exception] { one(
      "SELECT ST_CONTAINS(ST_GEOGFROMTEXT('LINESTRING(0 0, 1 1)'), ST_GEOGPOINT(0, 0))") }
    // ST_INTERSECTS is symmetric like BigQuery's (r11 ADVICE: the
    // flipped point-first form used to die on a runtime cast)
    val poly = "ST_GEOGFROMTEXT('POLYGON((0 0, 2 0, 2 1, 0 1, 0 0))')"
    assert(one(s"SELECT ST_INTERSECTS(ST_GEOGPOINT(1, 0.5), $poly)") == true)
    assert(one(s"SELECT ST_INTERSECTS($poly, ST_GEOGPOINT(1, 0.5))") == true)
    assert(one(s"SELECT ST_INTERSECTS(ST_GEOGPOINT(3, 0.5), $poly)") == false)
    // point × point: exact coordinate equality
    assert(one("SELECT ST_INTERSECTS(ST_GEOGPOINT(1, 2), ST_GEOGPOINT(1, 2))") == true)
    assert(one("SELECT ST_INTERSECTS(ST_GEOGPOINT(1, 2), ST_GEOGPOINT(1, 2.5))") == false)
    // line × line: proper great-circle crossing
    assert(one("SELECT ST_INTERSECTS(" +
      "ST_GEOGFROMTEXT('LINESTRING(-0.5 0.5, 2.5 0.5)'), " +
      "ST_GEOGFROMTEXT('LINESTRING(1 0, 1 1)'))") == true)
    assert(one("SELECT ST_INTERSECTS(" +
      "ST_GEOGFROMTEXT('LINESTRING(-0.5 0.5, 2.5 0.5)'), " +
      "ST_GEOGFROMTEXT('LINESTRING(1 0.75, 1 1)'))") == false)
    // line × polygon: edge crossing / fully interior / fully exterior
    assert(one(s"SELECT ST_INTERSECTS(" +
      s"ST_GEOGFROMTEXT('LINESTRING(-0.5 0.5, 2.5 0.5)'), $poly)") == true)
    assert(one(s"SELECT ST_INTERSECTS(" +
      s"ST_GEOGFROMTEXT('LINESTRING(0.5 0.4, 1.5 0.6)'), $poly)") == true)
    assert(one(s"SELECT ST_INTERSECTS(" +
      s"ST_GEOGFROMTEXT('LINESTRING(0.5 2.4, 1.5 2.6)'), $poly)") == false)
    // polygon × polygon: overlap / containment (both orders) / disjoint
    val shifted = "ST_GEOGFROMTEXT('POLYGON((1 0.5, 3 0.5, 3 1.5, 1 1.5, 1 0.5))')"
    val inner = "ST_GEOGFROMTEXT('POLYGON((0.5 0.25, 1.5 0.25, 1.5 0.75, 0.5 0.75, 0.5 0.25))')"
    val far = "ST_GEOGFROMTEXT('POLYGON((5 0, 7 0, 7 1, 5 1, 5 0))')"
    assert(one(s"SELECT ST_INTERSECTS($poly, $shifted)") == true)
    assert(one(s"SELECT ST_INTERSECTS($poly, $inner)") == true)
    assert(one(s"SELECT ST_INTERSECTS($inner, $poly)") == true)
    assert(one(s"SELECT ST_INTERSECTS($poly, $far)") == false)
    // point × linestring is boundary membership: documented-undefined, loud
    intercept[Exception] { one("SELECT ST_INTERSECTS(ST_GEOGPOINT(0, 0), " +
      "ST_GEOGFROMTEXT('LINESTRING(0 0, 1 1)'))") }
  }

  test("GEOGRAPHY r12: ST_CONTAINS over polygon×linestring / polygon×polygon") {
    val poly = "ST_GEOGFROMTEXT('POLYGON((0 0, 2 0, 2 1, 0 1, 0 0))')"
    // holed: 2°×1° shell with hole [0.5..1.0]×[0.25..0.75]
    val holed = "ST_GEOGFROMTEXT('POLYGON((0 0, 2 0, 2 1, 0 1, 0 0), " +
      "(0.5 0.25, 1 0.25, 1 0.75, 0.5 0.75, 0.5 0.25))')"
    // line interior to the shell
    assert(one(s"SELECT ST_CONTAINS($poly, " +
      "ST_GEOGFROMTEXT('LINESTRING(0.25 0.5, 1.75 0.5)'))") == true)
    // same line crosses the hole's meridian edges → not contained
    assert(one(s"SELECT ST_CONTAINS($holed, " +
      "ST_GEOGFROMTEXT('LINESTRING(0.25 0.5, 1.75 0.5)'))") == false)
    // line wholly inside the hole: vertices not interior
    assert(one(s"SELECT ST_CONTAINS($holed, " +
      "ST_GEOGFROMTEXT('LINESTRING(0.75 0.4, 0.75 0.6)'))") == false)
    // beside the hole: contained
    assert(one(s"SELECT ST_CONTAINS($holed, " +
      "ST_GEOGFROMTEXT('LINESTRING(1.25 0.4, 1.75 0.6)'))") == true)
    // exiting line: vertex outside
    assert(one(s"SELECT ST_CONTAINS($poly, " +
      "ST_GEOGFROMTEXT('LINESTRING(1 0.5, 3 0.5)'))") == false)
    // polygon × polygon: interior / overlapping / far / hole-spanning
    val inner = "ST_GEOGFROMTEXT('POLYGON((1.25 0.25, 1.75 0.25, 1.75 0.75, 1.25 0.75, 1.25 0.25))')"
    assert(one(s"SELECT ST_CONTAINS($poly, $inner)") == true)
    assert(one(s"SELECT ST_CONTAINS($inner, $poly)") == false)
    assert(one(s"SELECT ST_CONTAINS($poly, " +
      "ST_GEOGFROMTEXT('POLYGON((1 0.5, 3 0.5, 3 1.5, 1 1.5, 1 0.5))'))") == false)
    assert(one(s"SELECT ST_CONTAINS($poly, " +
      "ST_GEOGFROMTEXT('POLYGON((5 0, 7 0, 7 1, 5 1, 5 0))'))") == false)
    // b spans the hole: the a-hole-vertex-inside-b test fires
    assert(one(s"SELECT ST_CONTAINS($holed, " +
      "ST_GEOGFROMTEXT('POLYGON((0.25 0.1, 1.25 0.1, 1.25 0.9, 0.25 0.9, 0.25 0.1))'))") == false)
    // beside the hole under the holed shell: contained
    assert(one(s"SELECT ST_CONTAINS($holed, $inner)") == true)
    // a hole of a nested inside a hole of b still contains (b's region
    // excludes its own hole, so a's hole sitting inside b's HOLE is
    // fine — the a-hole vertices are NOT interior to b's region)
    val aSmallHole = "ST_GEOGFROMTEXT('POLYGON((0 0, 2 0, 2 1, 0 1, 0 0), " +
      "(0.8 0.4, 1 0.4, 1 0.6, 0.8 0.6, 0.8 0.4))')"
    val bBigHole = "ST_GEOGFROMTEXT('POLYGON((0.25 0.1, 1.75 0.1, 1.75 0.9, 0.25 0.9, 0.25 0.1), " +
      "(0.6 0.3, 1.2 0.3, 1.2 0.7, 0.6 0.7, 0.6 0.3))')"
    assert(one(s"SELECT ST_CONTAINS($aSmallHole, $bBigHole)") == true)
    // flipped spellings dispatch the same way
    assert(one(s"SELECT ST_WITHIN(" +
      s"ST_GEOGFROMTEXT('LINESTRING(0.25 0.5, 1.75 0.5)'), $poly)") == true)
    assert(one(s"SELECT ST_COVERS($poly, $inner)") == true)
    assert(one(s"SELECT ST_COVEREDBY($inner, $poly)") == true)
    // point/linestring CONTAINER stays loud (boundary membership)
    intercept[Exception] { one("SELECT ST_CONTAINS(" +
      "ST_GEOGFROMTEXT('LINESTRING(0 0, 1 1)'), " +
      "ST_GEOGFROMTEXT('LINESTRING(0 0, 1 1)'))") }
  }

  test("GEOGRAPHY r12: metadata/accessor family (TYPE/NUMPOINTS/DIMENSION/POINTN)") {
    val line = "ST_GEOGFROMTEXT('LINESTRING(0 0, 1.5 0, 1.5 2.25)')"
    val poly = "ST_GEOGFROMTEXT('POLYGON((0 0, 2 0, 2 1, 0 1, 0 0))')"
    val holed = "ST_GEOGFROMTEXT('POLYGON((0 0, 2 0, 2 1, 0 1, 0 0), " +
      "(0.5 0.25, 1 0.25, 1 0.75, 0.5 0.75, 0.5 0.25))')"
    assert(one("SELECT ST_GEOMETRYTYPE(ST_GEOGPOINT(1, 2))") == "ST_Point")
    assert(one(s"SELECT ST_GEOMETRYTYPE($line)") == "ST_LineString")
    assert(one(s"SELECT ST_GEOMETRYTYPE($poly)") == "ST_Polygon")
    // NUMPOINTS counts distinct vertices (closing duplicates dropped)
    assert(one("SELECT ST_NUMPOINTS(ST_GEOGPOINT(1, 2))") == 1L)
    assert(one(s"SELECT ST_NUMPOINTS($line)") == 3L)
    assert(one(s"SELECT ST_NUMPOINTS($poly)") == 4L)
    assert(one(s"SELECT ST_NPOINTS($holed)") == 8L)
    assert(one("SELECT ST_DIMENSION(ST_GEOGPOINT(1, 2))") == 0L)
    assert(one(s"SELECT ST_DIMENSION($line)") == 1L)
    assert(one(s"SELECT ST_DIMENSION($holed)") == 2L)
    // POINTN: 1-based, negative from the end; START/END through it
    assert(one(s"SELECT ST_X(ST_POINTN($line, 2))") == 1.5)
    assert(one(s"SELECT ST_Y(ST_POINTN($line, -1))") == 2.25)
    assert(one(s"SELECT ST_X(ST_STARTPOINT($line))") == 0.0)
    assert(one(s"SELECT ST_Y(ST_ENDPOINT($line))") == 2.25)
    // out-of-range / zero index and non-line shapes are loud
    intercept[Exception] { one(s"SELECT ST_POINTN($line, 4)") }
    intercept[Exception] { one(s"SELECT ST_POINTN($line, 0)") }
    intercept[Exception] { one(s"SELECT ST_POINTN($poly, 1)") }
    intercept[Exception] { one("SELECT ST_NUMPOINTS(42)") }
  }

  test("ARRAY_AGG/STRING_AGG over zero input rows return NULL (r12)") {
    // BigQuery: a global aggregate over an empty relation yields NULL,
    // not []/'' (Spark's collect_list/listagg defaults)
    assert(one("SELECT ARRAY_AGG(x) IS NULL FROM (SELECT 1 AS x) WHERE FALSE") == true)
    assert(one("SELECT STRING_AGG(s) IS NULL FROM (SELECT 'a' AS s) WHERE FALSE") == true)
    assert(one("SELECT STRING_AGG(s, '|' ORDER BY s) IS NULL " +
      "FROM (SELECT 'a' AS s) WHERE FALSE") == true)
    assert(one("SELECT ARRAY_AGG(x ORDER BY x LIMIT 2) IS NULL " +
      "FROM (SELECT 1 AS x) WHERE FALSE") == true)
    assert(one("SELECT ARRAY_AGG(DISTINCT x) IS NULL " +
      "FROM (SELECT 1 AS x) WHERE FALSE") == true)
    // non-empty inputs are unchanged by the guard
    assert(one("SELECT ARRAY_AGG(x ORDER BY x)[OFFSET(0)] " +
      "FROM (SELECT 2 AS x UNION ALL SELECT 1)") == 1)
    assert(one("SELECT STRING_AGG(s, '-' ORDER BY s) " +
      "FROM (SELECT 'b' AS s UNION ALL SELECT 'a')") == "a-b")
    // OVER forms still aggregate normally (the guard clause collapses
    // into the same Window operator)
    assert(one("SELECT max(size(a)) FROM (SELECT ARRAY_AGG(id) OVER " +
      "(ORDER BY id) AS a FROM (SELECT 1 AS id UNION ALL SELECT 2))") == 2)
    assert(one("SELECT max(length(sa)) FROM (SELECT STRING_AGG(s) OVER " +
      "(ORDER BY s) AS sa FROM (SELECT 'a' AS s UNION ALL SELECT 'b'))") == 3)
    // r12, the second half: an EMPTY window frame yields NULL like
    // BigQuery (the first row's 2-PRECEDING..1-PRECEDING frame is empty)
    assert(one("SELECT ARRAY_AGG(id) OVER (ORDER BY id " +
      "ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING) IS NULL " +
      "FROM (SELECT 1 AS id UNION ALL SELECT 2) QUALIFY id = 1") == true)
    assert(one("SELECT STRING_AGG(s) OVER (ORDER BY s " +
      "ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING) IS NULL " +
      "FROM (SELECT 'a' AS s UNION ALL SELECT 'b') QUALIFY s = 'a'") == true)
    // ...and a NON-empty trailing frame is unchanged
    assert(one("SELECT STRING_AGG(s) OVER (ORDER BY s " +
      "ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING) " +
      "FROM (SELECT 'a' AS s UNION ALL SELECT 'b') QUALIFY s = 'b'") == "a")
    // named windows carry the guard through the WINDOW clause
    assert(one("SELECT ARRAY_AGG(id) OVER w IS NULL " +
      "FROM (SELECT 1 AS id UNION ALL SELECT 2) " +
      "WINDOW w AS (ORDER BY id ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING) " +
      "QUALIFY id = 1") == true)
    // the count(1) guard collapses into the SAME Window operator as
    // the aggregate — no extra exchange or window pass
    val plan = spark.sql(Dialect.rewrite(
      "SELECT ARRAY_AGG(id) OVER (ORDER BY id) AS a " +
        "FROM (SELECT 1 AS id UNION ALL SELECT 2)"))
      .queryExecution.executedPlan.toString
    assert(plan.split('\n').count(_.contains("Window")) == 1,
      s"guard must share the aggregate's Window operator:\n$plan")
  }

  test("ML scalar functions: DISTANCE, LP_NORM, NGRAMS, BUCKETIZE") {
    assert(one("SELECT ML.DISTANCE([3.0, 4.0], [0.0, 0.0], 'EUCLIDEAN')") == 5.0)
    assert(one("SELECT ML.DISTANCE([1.0, 2.0], [4.0, 6.0], 'MANHATTAN')") == 7.0)
    // parallel vectors → cosine distance 0; orthogonal → 1
    assert(math.abs(one("SELECT ML.DISTANCE([1.0, 0.0], [2.0, 0.0], 'COSINE')")
      .asInstanceOf[Double]) < 1e-12)
    assert(math.abs(one("SELECT ML.DISTANCE([1.0, 0.0], [0.0, 3.0], 'COSINE')")
      .asInstanceOf[Double] - 1.0) < 1e-12)
    intercept[Exception] { one("SELECT ML.DISTANCE([1.0], [1.0], 'CHEBYSHEV')") }
    assert(one("SELECT ML.LP_NORM([3.0, -4.0], 2)") == 5.0)
    assert(one("SELECT ML.LP_NORM([3.0, -4.0], 1)") == 7.0)
    assert(math.abs(one("SELECT ML.LP_NORM([2.0, 2.0, 2.0], 3)")
      .asInstanceOf[Double] - math.pow(24.0, 1.0 / 3)) < 1e-12)
    assert(one("SELECT ML.NGRAMS(['a', 'b', 'c'], [2], '-')") == Seq("a-b", "b-c"))
    assert(one("SELECT ML.NGRAMS(['a', 'b', 'c'], [1, 2], '_')") ==
      Seq("a", "b", "c", "a_b", "b_c"))
    assert(one("SELECT ML.NGRAMS(['a'], [2], '-')") == Seq())
    assert(one("SELECT ML.BUCKETIZE(5, [10, 20])") == "bin_1")
    assert(one("SELECT ML.BUCKETIZE(10, [10, 20])") == "bin_2")
    assert(one("SELECT ML.BUCKETIZE(25, [10, 20])") == "bin_3")
    assert(one("SELECT ML.BUCKETIZE(CAST(NULL AS INT64), [10]) IS NULL") == true)
  }

  test("ML analytic functions expand over the shared OVER clause") {
    graft.functions.BitSketchExpressions.register(spark)
    val rows = spark.sql(Dialect.rewrite(
      """SELECT id,
        |  ML.STANDARD_SCALER(v) OVER () AS ss,
        |  ML.MIN_MAX_SCALER(v) OVER () AS mm,
        |  ML.IMPUTER(miss, 'mean') OVER () AS imean,
        |  ML.IMPUTER(cat, 'most_frequent') OVER () AS imode
        |FROM (SELECT 1 AS id, CAST(10.0 AS FLOAT64) AS v, CAST(NULL AS FLOAT64) AS miss, 'x' AS cat
        |      UNION ALL SELECT 2, CAST(20.0 AS FLOAT64), CAST(4.0 AS FLOAT64), 'x'
        |      UNION ALL SELECT 3, CAST(30.0 AS FLOAT64), CAST(8.0 AS FLOAT64), CAST(NULL AS STRING))
        |ORDER BY id""".stripMargin)).collect()
    assert(rows.map(_.getDouble(1)).toSeq == Seq(-1.0, 0.0, 1.0)) // stddev_samp = 10
    assert(rows.map(_.getDouble(2)).toSeq == Seq(0.0, 0.5, 1.0))
    assert(rows.map(_.getDouble(3)).toSeq == Seq(6.0, 4.0, 8.0))
    assert(rows.map(_.getString(4)).toSeq == Seq("x", "x", "x"))
    // analytic form without OVER is loud
    intercept[IllegalArgumentException] {
      Dialect.rewrite("SELECT ML.STANDARD_SCALER(v) FROM t")
    }
  }

  test("ML.QUANTILE_BUCKETIZE: exact quantile boundaries, lower-bucket ties (r12)") {
    graft.functions.BitSketchExpressions.register(spark)
    // 1..8, 4 buckets: boundaries at percentile .25/.5/.75 of 1..8 =
    // 2.75/4.5/6.25 — every value strictly between boundaries, so each
    // bin decision is unambiguous: {1,2} {3,4} {5,6} {7,8}
    val rows = spark.sql(Dialect.rewrite(
      """SELECT x, ML.QUANTILE_BUCKETIZE(x, 4) OVER () AS b
        |FROM UNNEST(GENERATE_ARRAY(1, 8)) AS x ORDER BY x""".stripMargin)).collect()
    assert(rows.map(_.getString(1)).toSeq ==
      Seq("bin_1", "bin_1", "bin_2", "bin_2", "bin_3", "bin_3", "bin_4", "bin_4"))
    // a value EQUAL to a boundary lands in the LOWER bucket (the pinned
    // tie rule — ntile would split the equal values across buckets):
    // [1,2,2,2,3,4] with 2 buckets has median boundary exactly 2.0
    val ties = spark.sql(Dialect.rewrite(
      """SELECT off, ML.QUANTILE_BUCKETIZE(v, 2) OVER () AS b
        |FROM UNNEST([1, 2, 2, 2, 3, 4]) AS v WITH OFFSET off
        |ORDER BY off""".stripMargin)).collect()
    assert(ties.map(_.getString(1)).toSeq ==
      Seq("bin_1", "bin_1", "bin_1", "bin_1", "bin_2", "bin_2"))
    // partitioned windows bucketize per group
    val part = spark.sql(Dialect.rewrite(
      """SELECT g, v, ML.QUANTILE_BUCKETIZE(v, 2) OVER (PARTITION BY g) AS b
        |FROM (SELECT 1 AS g, 1 AS v UNION ALL SELECT 1, 10
        |      UNION ALL SELECT 2, 100 UNION ALL SELECT 2, 1000)
        |ORDER BY g, v""".stripMargin)).collect()
    assert(part.map(_.getString(2)).toSeq == Seq("bin_1", "bin_2", "bin_1", "bin_2"))
    // num_buckets must be a static integer literal in range
    intercept[IllegalArgumentException] {
      Dialect.rewrite("SELECT ML.QUANTILE_BUCKETIZE(v, n) OVER () FROM t") }
    intercept[IllegalArgumentException] {
      Dialect.rewrite("SELECT ML.QUANTILE_BUCKETIZE(v, 1) OVER () FROM t") }
  }

  test("ST_GEOHASH / ST_GEOGPOINTFROMGEOHASH: published vectors (r12)") {
    // the canonical published vector: (-5.6, 42.6) → 'ezs42'
    assert(one("SELECT ST_GEOHASH(ST_GEOGPOINT(-5.6, 42.6), 5)") == "ezs42")
    // other well-known vectors
    assert(one("SELECT ST_GEOHASH(ST_GEOGPOINT(-0.1, 51.5), 6)") == "gcpuvx")
    assert(one("SELECT ST_GEOHASH(ST_GEOGPOINT(139.7, 35.68), 7)") == "xn76fzq")
    // decode returns the cell center: re-encoding at the same length
    // is the identity (center is inside its own cell)
    assert(one("SELECT ST_GEOHASH(ST_GEOGPOINTFROMGEOHASH('ezs42'), 5)") == "ezs42")
    assert(one("SELECT ST_GEOHASH(ST_GEOGPOINTFROMGEOHASH('xn76fzq'), 7)") ==
      "xn76fzq")
    // center of 'ezs42' is inside the published decode box
    val lon = one("SELECT ST_X(ST_GEOGPOINTFROMGEOHASH('ezs42'))")
      .asInstanceOf[Double]
    val lat = one("SELECT ST_Y(ST_GEOGPOINTFROMGEOHASH('ezs42'))")
      .asInstanceOf[Double]
    assert(lon > -5.625 && lon < -5.58 && lat > 42.58 && lat < 42.627,
      s"($lon, $lat)")
    // loud: bad length, bad characters, non-point shapes
    intercept[Exception] { one("SELECT ST_GEOHASH(ST_GEOGPOINT(0, 0), 0)") }
    intercept[Exception] { one("SELECT ST_GEOGPOINTFROMGEOHASH('ab!c')") }
    intercept[Exception] { one(
      "SELECT ST_GEOHASH(ST_GEOGFROMTEXT('LINESTRING(0 0, 1 1)'), 5)") }
  }

  test("KLL_QUANTILES: mergeable quantile sketches, exact below precision (r12)") {
    graft.functions.BitSketchExpressions.register(spark)
    // n=18 < default precision 1000 → exact order statistics: the
    // median of 1..18 at ceil(.5*18)=rank 9, quartiles likewise
    assert(one("SELECT KLL_QUANTILES.EXTRACT_POINT_INT64(" +
      "KLL_QUANTILES.INIT_INT64(x), 0.5) " +
      "FROM UNNEST(GENERATE_ARRAY(1, 18)) AS x") == 9L)
    assert(one("SELECT KLL_QUANTILES.EXTRACT_INT64(" +
      "KLL_QUANTILES.INIT_INT64(x), 4) " +
      "FROM UNNEST(GENERATE_ARRAY(1, 16)) AS x") == Seq(1L, 4L, 8L, 12L, 16L))
    // FLOAT64 twin keeps doubles
    assert(one("SELECT KLL_QUANTILES.EXTRACT_POINT_FLOAT64(" +
      "KLL_QUANTILES.INIT_FLOAT64(CAST(x AS FLOAT64) / 2), 1.0) " +
      "FROM UNNEST(GENERATE_ARRAY(1, 9)) AS x") == 4.5)
    // MERGE_PARTIAL union law: two half-sketches == one full sketch
    // (both exact below precision, so equality is deterministic)
    assert(one(
      """SELECT KLL_QUANTILES.EXTRACT_POINT_INT64(
        |  KLL_QUANTILES.MERGE_PARTIAL(sk), 0.5) FROM (
        |  SELECT KLL_QUANTILES.INIT_INT64(x) AS sk
        |  FROM UNNEST(GENERATE_ARRAY(1, 9)) AS x
        |  UNION ALL
        |  SELECT KLL_QUANTILES.INIT_INT64(x)
        |  FROM UNNEST(GENERATE_ARRAY(10, 18)) AS x)""".stripMargin) == 9L)
    // MERGE_POINT / MERGE_INT64 compose merge + extract
    assert(one(
      """SELECT KLL_QUANTILES.MERGE_POINT_INT64(sk, 0.25) FROM (
        |  SELECT KLL_QUANTILES.INIT_INT64(x, 500) AS sk
        |  FROM UNNEST(GENERATE_ARRAY(1, 16)) AS x)""".stripMargin) == 4L)
    // above precision the sketch stays bounded and the estimate lands
    // near the true median: 50 copies of each of 1..100 at precision
    // 200 (compaction active from level 0 up)
    val est = one(
      """SELECT KLL_QUANTILES.EXTRACT_POINT_INT64(
        |  KLL_QUANTILES.INIT_INT64(MOD(x, 100) + 1, 200), 0.5)
        |FROM UNNEST(GENERATE_ARRAY(1, 5000)) AS x""".stripMargin)
      .asInstanceOf[Long]
    assert(est >= 40L && est <= 60L, s"median estimate $est out of range")
    // loud edges: bad precision, bad phi, non-sketch bytes
    intercept[Exception] { one("SELECT KLL_QUANTILES.INIT_INT64(x, 2) " +
      "FROM UNNEST([1, 2]) AS x") }
    intercept[Exception] { one("SELECT KLL_QUANTILES.EXTRACT_POINT_INT64(" +
      "KLL_QUANTILES.INIT_INT64(x), 1.5) FROM UNNEST([1, 2]) AS x") }
    intercept[Exception] { one(
      "SELECT KLL_QUANTILES.EXTRACT_POINT_INT64(b'notasketch', 0.5)") }
    // empty input → NULL sketch → NULL extraction
    assert(one("SELECT KLL_QUANTILES.INIT_INT64(x) IS NULL " +
      "FROM (SELECT 1 AS x) WHERE FALSE") == true)
    // scale posture: the sketch aggregates through Spark's partial
    // merge (map-side sketch per partition, one exchange of sketch
    // bytes — not rows)
    val plan = spark.sql(Dialect.rewrite(
      """SELECT g, KLL_QUANTILES.EXTRACT_POINT_INT64(
        |  KLL_QUANTILES.INIT_INT64(x), 0.5)
        |FROM (SELECT MOD(x, 3) AS g, x FROM UNNEST(GENERATE_ARRAY(1, 30)) AS x)
        |GROUP BY g""".stripMargin)).queryExecution.executedPlan.toString
    assert(plan.contains("partial_graft_kll_init") ||
      plan.toLowerCase.contains("partial"), s"expected partial aggregation:\n$plan")
  }

  test("TEXT_ANALYZE: standalone tokenizer shares the SEARCH analyzers (r12)") {
    // LOG_ANALYZER: published delimiter class, lowercased, empties
    // dropped, order and duplicates preserved
    assert(one("SELECT TEXT_ANALYZE('a.b-c_D e')") ==
      Seq("a", "b", "c", "d", "e"))
    assert(one("SELECT TEXT_ANALYZE('x,x;x')") == Seq("x", "x", "x"))
    assert(one("SELECT TEXT_ANALYZE('Foo http://h/p?q=1')") ==
      Seq("foo", "http", "h", "p", "q", "1"))
    assert(one("SELECT SIZE(TEXT_ANALYZE('...'))") == 0)
    // the explicit analyzer spellings
    assert(one("SELECT TEXT_ANALYZE('A b', analyzer => 'LOG_ANALYZER')") ==
      Seq("a", "b"))
    assert(one("SELECT TEXT_ANALYZE('A b', analyzer => 'NO_OP_ANALYZER')") ==
      Seq("A b"))
    // PATTERN_ANALYZER / unknown options stay loud
    intercept[IllegalArgumentException] {
      Dialect.rewrite("SELECT TEXT_ANALYZE(t, analyzer => 'PATTERN_ANALYZER') FROM x") }
    intercept[IllegalArgumentException] {
      Dialect.rewrite("SELECT TEXT_ANALYZE(t, foo => 'x') FROM x") }
    // tokenization agrees with SEARCH's delimiter class: the value's
    // own tokens all hit as SEARCH terms
    assert(one("SELECT TEXT_ANALYZE('Spark-Graft engine_v2')") ==
      Seq("spark", "graft", "engine", "v2"))
    assert(one("SELECT SEARCH('Spark-Graft engine_v2', 'graft v2')") == true)
  }

  test("reciprocal trig: SEC/CSC/SECH/CSCH/COTH (r12)") {
    // exact identities at representable points
    assert(one("SELECT SEC(0)") == 1.0)
    assert(one("SELECT SECH(0)") == 1.0)
    assert(one("SELECT CSC(ACOS(-1) / 2)") == 1.0) // sin(π/2) == 1.0 exactly
    val coth1 = one("SELECT COTH(1)").asInstanceOf[Double]
    assert(math.abs(coth1 - (math.cosh(1.0) / math.sinh(1.0))) == 0.0)
    // poles: the session's ANSI division errors — exactly BigQuery's
    // behavior (CSC(0)/CSCH(0)/COTH(0) raise division-by-zero there too)
    intercept[Exception] { one("SELECT CSC(0)") }
    intercept[Exception] { one("SELECT CSCH(0)") }
    intercept[Exception] { one("SELECT COTH(0)") }
  }

  test("ML.FEATURE_CROSS: static crossing expansion (r12)") {
    graft.functions.BitSketchExpressions.register(spark)
    // degree 2 default: only the pairwise crossings, '_'-joined values
    val r = spark.sql(Dialect.rewrite(
      "SELECT ML.FEATURE_CROSS(STRUCT('us' AS country, 'en' AS lang)) AS fc"))
      .selectExpr("fc.country_X_lang").head()
    assert(r.getString(0) == "us_en")
    // degree 3 over 3 features: three pairs + the triple; bare column
    // names become the feature names
    val r3 = spark.sql(Dialect.rewrite(
      """SELECT ML.FEATURE_CROSS(STRUCT(a, b, CAST(7 AS STRING) AS c), 3) AS fc
        |FROM (SELECT 'x' AS a, 'y' AS b)""".stripMargin))
      .selectExpr("fc.a_X_b", "fc.a_X_c", "fc.b_X_c", "fc.a_X_b_X_c").head()
    assert((r3.getString(0), r3.getString(1), r3.getString(2), r3.getString(3)) ==
      ("x_y", "x_7", "y_7", "x_y_7"))
    // NULL features NULL the cross (concat, not concat_ws)
    assert(spark.sql(Dialect.rewrite(
      "SELECT ML.FEATURE_CROSS(STRUCT('a' AS p, CAST(NULL AS STRING) AS q)).p_X_q IS NULL"))
      .head().getBoolean(0))
    // loud forms: non-inline struct, unnameable feature, bad degree
    intercept[IllegalArgumentException] {
      Dialect.rewrite("SELECT ML.FEATURE_CROSS(s) FROM t") }
    intercept[IllegalArgumentException] {
      Dialect.rewrite("SELECT ML.FEATURE_CROSS(STRUCT(UPPER(a), b)) FROM t") }
    intercept[IllegalArgumentException] {
      Dialect.rewrite("SELECT ML.FEATURE_CROSS(STRUCT(a, b), 3) FROM t") }
    intercept[IllegalArgumentException] {
      Dialect.rewrite("SELECT ML.FEATURE_CROSS(STRUCT(a, b), n) FROM t") }
  }

  test("AEAD/KEYS/DETERMINISTIC_* encryption surface") {
    graft.functions.BitSketchExpressions.register(spark)
    // roundtrip laws through a keyset carried on the row
    val r = spark.sql(Dialect.rewrite(
      """SELECT
        |  AEAD.DECRYPT_STRING(k, AEAD.ENCRYPT(k, 'secret', 'ad'), 'ad') AS rt,
        |  CAST(AEAD.DECRYPT_BYTES(k, AEAD.ENCRYPT(k, b'raw', 'x'), 'x') AS STRING) AS rtb,
        |  DETERMINISTIC_DECRYPT_STRING(dk, DETERMINISTIC_ENCRYPT(dk, 'det', 'a'), 'a') AS drt,
        |  DETERMINISTIC_ENCRYPT(dk, 'same', 'a') = DETERMINISTIC_ENCRYPT(dk, 'same', 'a') AS det_stable,
        |  AEAD.ENCRYPT(k, 'same', 'a') = AEAD.ENCRYPT(k, 'same', 'a') AS aead_fresh,
        |  SAFE.AEAD.DECRYPT_STRING(k, AEAD.ENCRYPT(k, 's', 'good'), 'BAD') IS NULL AS bad_aad
        |FROM (SELECT KEYS.NEW_KEYSET('AEAD_AES_GCM_256') AS k,
        |             KEYS.NEW_KEYSET('DETERMINISTIC_AEAD_AES_SIV_CMAC_256') AS dk)""".stripMargin))
      .collect()(0)
    assert(r.getString(0) == "secret" && r.getString(1) == "raw" && r.getString(2) == "det")
    assert(r.getBoolean(3) === true)   // deterministic: equal ciphertexts
    assert(r.getBoolean(4) === false)  // AEAD: fresh nonce per call
    assert(r.getBoolean(5) === true)   // wrong AAD → SAFE. gives NULL
    // keyset-type dispatch is loud both ways; unknown key types loud
    intercept[Exception] { one(
      "SELECT DETERMINISTIC_ENCRYPT(KEYS.NEW_KEYSET('AEAD_AES_GCM_256'), 'x', 'a')") }
    intercept[Exception] { one(
      "SELECT AEAD.ENCRYPT(KEYS.NEW_KEYSET('DETERMINISTIC_AEAD_AES_SIV_CMAC_256'), 'x', 'a')") }
    intercept[Exception] { one("SELECT KEYS.NEW_KEYSET('AEAD_AES_CTR_HMAC_SHA256')") }
    // wrong AAD without SAFE. is loud
    intercept[Exception] { one(
      """SELECT AEAD.DECRYPT_STRING(k, AEAD.ENCRYPT(k, 's', 'good'), 'BAD')
        |FROM (SELECT KEYS.NEW_KEYSET('AEAD_AES_GCM_256') AS k)""".stripMargin) }
  }

  test("KEYS rotation family: ROTATE_KEYSET / ADD_KEY_FROM_RAW_BYTES / KEYSET_LENGTH (r11)") {
    graft.functions.BitSketchExpressions.register(spark)
    val r = spark.sql(Dialect.rewrite(
      """SELECT
        |  KEYS.KEYSET_LENGTH(k) AS n0,
        |  KEYS.KEYSET_LENGTH(KEYS.ROTATE_KEYSET(k, 'AEAD_AES_GCM_256')) AS n1,
        |  KEYS.KEYSET_LENGTH(KEYS.ADD_KEY_FROM_RAW_BYTES(k, 'AES_GCM',
        |    CAST(REPEAT('k', 32) AS BYTES))) AS n2,
        |  AEAD.DECRYPT_STRING(KEYS.ROTATE_KEYSET(k, 'AEAD_AES_GCM_256'),
        |    AEAD.ENCRYPT(k, 'pt', 'ad'), 'ad') AS rot_rt,
        |  AEAD.DECRYPT_STRING(KEYS.ADD_KEY_FROM_RAW_BYTES(k, 'AES_GCM',
        |    CAST(REPEAT('k', 32) AS BYTES)),
        |    AEAD.ENCRYPT(k, 'pt2', 'ad'), 'ad') AS add_rt,
        |  DETERMINISTIC_DECRYPT_STRING(
        |    KEYS.ROTATE_KEYSET(dk, 'DETERMINISTIC_AEAD_AES_SIV_CMAC_256'),
        |    DETERMINISTIC_ENCRYPT(dk, 'dpt', 'a'), 'a') AS det_rot_rt,
        |  SAFE.AEAD.DECRYPT_STRING(k2,
        |    AEAD.ENCRYPT(KEYS.ROTATE_KEYSET(k2, 'AEAD_AES_GCM_256'), 'x', 'a'),
        |    'a') IS NULL AS fresh_invisible
        |FROM (SELECT KEYS.NEW_KEYSET('AEAD_AES_GCM_256') AS k,
        |             KEYS.NEW_KEYSET('AEAD_AES_GCM_256') AS k2,
        |             KEYS.NEW_KEYSET('DETERMINISTIC_AEAD_AES_SIV_CMAC_256') AS dk)"""
        .stripMargin)).collect()(0)
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L && r.getLong(2) == 2L)
    assert(r.getString(3) == "pt", "old ciphertext must survive rotation")
    assert(r.getString(4) == "pt2", "adding a raw key must not change the primary")
    assert(r.getString(5) == "dpt", "deterministic keysets rotate too")
    assert(r.getBoolean(6) === true,
      "a ciphertext under the rotated primary is invisible to the old keyset")
    // loud: mismatched rotate type, raw add on a det keyset, short raw key
    intercept[Exception] { one(
      "SELECT KEYS.ROTATE_KEYSET(KEYS.NEW_KEYSET('AEAD_AES_GCM_256'), " +
        "'DETERMINISTIC_AEAD_AES_SIV_CMAC_256')") }
    intercept[Exception] { one(
      "SELECT KEYS.ADD_KEY_FROM_RAW_BYTES(" +
        "KEYS.NEW_KEYSET('DETERMINISTIC_AEAD_AES_SIV_CMAC_256'), 'AES_GCM', b'x')") }
    // 16-byte AES-128 raw keys are supported since r12 (Tink AesGcmKey
    // allows both AES-128 and AES-256); a non-AES length stays loud
    assert(one(
      "SELECT KEYS.KEYSET_LENGTH(KEYS.ADD_KEY_FROM_RAW_BYTES(" +
        "KEYS.NEW_KEYSET('AEAD_AES_GCM_256'), 'AES_GCM', " +
        "CAST(REPEAT('k', 16) AS BYTES)))") == 2L)
    intercept[Exception] { one(
      "SELECT KEYS.ADD_KEY_FROM_RAW_BYTES(KEYS.NEW_KEYSET('AEAD_AES_GCM_256'), " +
        "'AES_GCM', CAST(REPEAT('k', 8) AS BYTES))") }
  }

  test("AES_CBC_PKCS raw keys decrypt external ciphertexts (r12)") {
    graft.functions.BitSketchExpressions.register(spark)
    // simulate an external system: AES-128-CBC with PKCS#7 padding,
    // IV prepended — the layout BigQuery's AES_CBC_PKCS raw keys accept
    val key = Array.tabulate[Byte](16)(i => (i * 7 + 3).toByte)
    val iv = Array.tabulate[Byte](16)(i => (i * 13 + 1).toByte)
    val c = javax.crypto.Cipher.getInstance("AES/CBC/PKCS5Padding")
    c.init(javax.crypto.Cipher.ENCRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(key, "AES"),
      new javax.crypto.spec.IvParameterSpec(iv))
    val ct = iv ++ c.doFinal("legacy cbc payload".getBytes("UTF-8"))
    val b64 = java.util.Base64.getEncoder
    val r = spark.sql(Dialect.rewrite(
      s"""SELECT
         |  AEAD.DECRYPT_STRING(kc, FROM_BASE64('${b64.encodeToString(ct)}'),
         |    'aad is ignored for cbc') AS cbc_pt,
         |  AEAD.DECRYPT_STRING(kc, AEAD.ENCRYPT(kc, 'gcm still works', 'ad'),
         |    'ad') AS gcm_rt,
         |  KEYS.KEYSET_LENGTH(kc) AS n
         |FROM (SELECT KEYS.ADD_KEY_FROM_RAW_BYTES(
         |  KEYS.NEW_KEYSET('AEAD_AES_GCM_256'), 'AES_CBC_PKCS',
         |  FROM_BASE64('${b64.encodeToString(key)}')) AS kc)""".stripMargin))
      .head()
    assert(r.getString(0) == "legacy cbc payload")
    assert(r.getString(1) == "gcm still works",
      "a CBC key in the keyset must not break GCM roundtrips")
    assert(r.getLong(2) == 2L)
    // a 24-byte CBC key is accepted; 24-byte GCM stays loud (Tink
    // AesGcm takes only 128/256-bit keys)
    assert(one(
      "SELECT KEYS.KEYSET_LENGTH(KEYS.ADD_KEY_FROM_RAW_BYTES(" +
        "KEYS.NEW_KEYSET('AEAD_AES_GCM_256'), 'AES_CBC_PKCS', " +
        "CAST(REPEAT('k', 24) AS BYTES)))") == 2L)
    intercept[Exception] { one(
      "SELECT KEYS.ADD_KEY_FROM_RAW_BYTES(KEYS.NEW_KEYSET('AEAD_AES_GCM_256'), " +
        "'AES_GCM', CAST(REPEAT('k', 24) AS BYTES))") }
    // a wrong ciphertext still fails loud through the CBC candidates
    intercept[Exception] { spark.sql(Dialect.rewrite(
      s"""SELECT AEAD.DECRYPT_STRING(KEYS.ADD_KEY_FROM_RAW_BYTES(
         |  KEYS.NEW_KEYSET('AEAD_AES_GCM_256'), 'AES_CBC_PKCS',
         |  FROM_BASE64('${b64.encodeToString(key)}')),
         |  CAST(REPEAT('z', 48) AS BYTES), '')""".stripMargin)).head() }
  }

  test("Tink keyset interop surface: JSON, wrapped keysets, KEYSET_CHAIN (r12)") {
    graft.functions.BitSketchExpressions.register(spark)
    val r = spark.sql(Dialect.rewrite(
      """SELECT
        |  JSON_VALUE(KEYS.KEYSET_TO_JSON(k), '$.key[0].keyData.typeUrl') AS gcm_url,
        |  JSON_VALUE(KEYS.KEYSET_TO_JSON(dk), '$.key[0].keyData.typeUrl') AS siv_url,
        |  JSON_VALUE(KEYS.KEYSET_TO_JSON(k), '$.key[0].outputPrefixType') AS prefix,
        |  KEYS.KEYSET_LENGTH(KEYS.KEYSET_FROM_JSON(KEYS.KEYSET_TO_JSON(k))) AS json_rt,
        |  AEAD.DECRYPT_STRING(KEYS.KEYSET_FROM_JSON(KEYS.KEYSET_TO_JSON(k)),
        |    AEAD.ENCRYPT(k, 'pt', 'ad'), 'ad') AS json_key_rt,
        |  AEAD.DECRYPT_STRING(KEYS.KEYSET_CHAIN('kms://res-a', w),
        |    AEAD.ENCRYPT(KEYS.KEYSET_CHAIN('kms://res-a', w), 'env', 'ad'),
        |    'ad') AS chain_rt,
        |  AEAD.DECRYPT_STRING(
        |    KEYS.KEYSET_CHAIN('kms://res-b',
        |      KEYS.REWRAP_KEYSET('kms://res-a', 'kms://res-b', w)),
        |    AEAD.ENCRYPT(KEYS.KEYSET_CHAIN('kms://res-a', w), 'moved', 'ad'),
        |    'ad') AS rewrap_rt,
        |  SAFE.AEAD.DECRYPT_STRING(KEYS.KEYSET_CHAIN('kms://WRONG', w),
        |    AEAD.ENCRYPT(KEYS.KEYSET_CHAIN('kms://res-a', w), 'x', 'ad'),
        |    'ad') IS NULL AS wrong_resource
        |FROM (SELECT KEYS.NEW_KEYSET('AEAD_AES_GCM_256') AS k,
        |             KEYS.NEW_KEYSET('DETERMINISTIC_AEAD_AES_SIV_CMAC_256') AS dk,
        |             KEYS.NEW_WRAPPED_KEYSET('kms://res-a', 'AEAD_AES_GCM_256') AS w)"""
        .stripMargin)).collect()(0)
    assert(r.getString(0) == "type.googleapis.com/google.crypto.tink.AesGcmKey")
    assert(r.getString(1) == "type.googleapis.com/google.crypto.tink.AesSivKey")
    assert(r.getString(2) == "TINK")
    assert(r.getLong(3) == 1L)
    assert(r.getString(4) == "pt")
    assert(r.getString(5) == "env")
    assert(r.getString(6) == "moved")
    assert(r.getBoolean(7) === true)
    // a Tink AES-GCM ciphertext carries the TINK output prefix:
    // 0x01 ∥ big-endian key id, then iv(12) ∥ ct ∥ tag(16)
    val ct = spark.sql(Dialect.rewrite(
      """SELECT AEAD.ENCRYPT(k, 'p', 'a') AS c,
        |  KEYS.KEYSET_TO_JSON(k) AS j
        |FROM (SELECT KEYS.NEW_KEYSET('AEAD_AES_GCM_256') AS k)""".stripMargin))
      .collect()(0)
    val cbytes = ct.getAs[Array[Byte]](0)
    assert(cbytes(0) == 1.toByte)
    assert(cbytes.length == 5 + 12 + 1 + 16)
    val keyId = java.lang.Long.parseLong(
      """"keyId":(\d+)""".r.findFirstMatchIn(ct.getString(1)).get.group(1))
    val prefixId = ((cbytes(1) & 0xffL) << 24) | ((cbytes(2) & 0xffL) << 16) |
      ((cbytes(3) & 0xffL) << 8) | (cbytes(4) & 0xffL)
    assert(prefixId == keyId, "ciphertext prefix must carry the primary key id")
  }

  test("GEOGRAPHY linestrings: ST_MAKELINE, literal WKT, ST_LENGTH (r11)") {
    // one degree of longitude at the equator ≈ 2πR/360
    val deg = 2 * math.Pi * 6371010.0 / 360
    val len = one("SELECT ST_LENGTH(ST_GEOGFROMTEXT('LINESTRING(0 0, 1 0)'))")
      .asInstanceOf[Double]
    assert(math.abs(len - deg) < 0.01)
    val two = one("SELECT ST_LENGTH(ST_MAKELINE([ST_GEOGPOINT(0, 0), " +
      "ST_GEOGPOINT(1, 0), ST_GEOGPOINT(1, 1)]))").asInstanceOf[Double]
    assert(two > len * 1.9 && two < len * 2.1, s"two-segment length $two vs $len")
    // accessors on the wrong shape are loud, both directions
    intercept[Exception] { one("SELECT ST_X(ST_GEOGFROMTEXT('LINESTRING(0 0, 1 1)'))") }
    intercept[Exception] { one("SELECT ST_LENGTH(ST_GEOGPOINT(0, 0))") }
    // malformed linestring literals fail at rewrite time
    intercept[Exception] { Dialect.rewrite("SELECT ST_GEOGFROMTEXT('LINESTRING(0 0)')") }
    intercept[Exception] { Dialect.rewrite("SELECT ST_GEOGFROMTEXT('LINESTRING(0 0, 1)')") }
  }

  test("GEOGRAPHY polygons: ST_AREA spherical excess, ST_PERIMETER, holes (r11)") {
    val R = 6371010.0
    // analytic anchor: the lune between meridians 0° and 90° over the
    // full sphere has area πR²/2·... use the octant (0,0)-(90,0)-(0,90):
    // a spherical triangle with three right angles = 1/8 of the sphere
    val octant = one("SELECT ST_AREA(ST_GEOGFROMTEXT(" +
      "'POLYGON((0 0, 90 0, 0 90, 0 0))'))").asInstanceOf[Double]
    assert(math.abs(octant - 4 * math.Pi * R * R / 8) / octant < 1e-12,
      s"octant area $octant vs ${4 * math.Pi * R * R / 8}")
    // a 1°×1° quad at the equator ≈ the lat-band closed form
    // R²·Δλ·(sin φ₂ − sin φ₁); geodesic-vs-parallel top edge differs
    // by < 0.01% at this size
    val quad = one("SELECT ST_AREA(ST_GEOGFROMTEXT(" +
      "'POLYGON((0 0, 1 0, 1 1, 0 1, 0 0))'))").asInstanceOf[Double]
    val band = R * R * (math.Pi / 180) * math.sin(math.Pi / 180)
    assert(math.abs(quad - band) / band < 1e-4, s"quad $quad vs band $band")
    // orientation-independent; ring closure optional
    val rev = one("SELECT ST_AREA(ST_GEOGFROMTEXT(" +
      "'POLYGON((0 0, 0 1, 1 1, 1 0, 0 0))'))").asInstanceOf[Double]
    assert(rev == quad)
    // holes subtract
    val holed = one("SELECT ST_AREA(ST_GEOGFROMTEXT(" +
      "'POLYGON((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))'))")
      .asInstanceOf[Double]
    val outer = one("SELECT ST_AREA(ST_GEOGFROMTEXT(" +
      "'POLYGON((0 0, 4 0, 4 4, 0 4, 0 0))'))").asInstanceOf[Double]
    val inner = one("SELECT ST_AREA(ST_GEOGFROMTEXT(" +
      "'POLYGON((1 1, 2 1, 2 2, 1 2, 1 1))'))").asInstanceOf[Double]
    assert(math.abs(holed - (outer - inner)) < 1.0)
    // ST_MAKEPOLYGON wraps a linestring ring; perimeter ≈ 4 equatorial
    // degree-edges (the two lat-1 edges are a hair shorter)
    val per = one("SELECT ST_PERIMETER(ST_MAKEPOLYGON(ST_MAKELINE(" +
      "[ST_GEOGPOINT(0,0), ST_GEOGPOINT(1,0), ST_GEOGPOINT(1,1), ST_GEOGPOINT(0,1)])))")
      .asInstanceOf[Double]
    val deg = 2 * math.Pi * R / 360
    assert(per > 3.99 * deg && per < 4.01 * deg, s"perimeter $per vs 4×$deg")
    // wrong shapes are loud in both directions
    intercept[Exception] { one("SELECT ST_AREA(ST_GEOGFROMTEXT('LINESTRING(0 0, 1 1)'))") }
    intercept[Exception] { one("SELECT ST_LENGTH(ST_GEOGFROMTEXT('POLYGON((0 0, 1 0, 0 1, 0 0))'))") }
    intercept[Exception] { Dialect.rewrite("SELECT ST_GEOGFROMTEXT('POLYGON((0 0, 1 0, 0 0))')") }
  }

  test("GEOGRAPHY predicates: ST_CONTAINS/WITHIN over polygon x point (r11)") {
    def in(poly: String, pt: String) =
      one(s"SELECT ST_CONTAINS(ST_GEOGFROMTEXT('$poly'), ST_GEOGPOINT($pt))")
    val quad = "POLYGON((10 10, 14 10, 14 13, 10 13, 10 10))"
    assert(in(quad, "12, 11.5") == true)
    assert(in(quad, "15, 11.5") == false)
    assert(in(quad, "12, 14") == false)
    // orientation must not matter (smaller-region convention)
    assert(in("POLYGON((10 10, 10 13, 14 13, 14 10, 10 10))", "12, 11.5") == true)
    // holes exclude; shell-not-hole stays in
    val holed = "POLYGON((0 0, 8 0, 8 8, 0 8, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))"
    assert(in(holed, "3, 3") == false)
    assert(in(holed, "6, 6") == true)
    // big polygon: the octant contains its centroid-ish point
    assert(in("POLYGON((0 0, 90 0, 0 90, 0 0))", "30, 30") == true)
    assert(in("POLYGON((0 0, 90 0, 0 90, 0 0))", "-30, -30") == false)
    // aliases and the flipped forms
    assert(one(s"SELECT ST_WITHIN(ST_GEOGPOINT(12, 11.5), ST_GEOGFROMTEXT('$quad'))") == true)
    assert(one(s"SELECT ST_COVERS(ST_GEOGFROMTEXT('$quad'), ST_GEOGPOINT(12, 11.5))") == true)
    assert(one(s"SELECT ST_INTERSECTS(ST_GEOGFROMTEXT('$quad'), ST_GEOGPOINT(15, 11.5))") == false)
    // wrong shape pairings are loud
    intercept[Exception] { one("SELECT ST_CONTAINS(ST_GEOGPOINT(0, 0), ST_GEOGPOINT(0, 0))") }
    intercept[Exception] { one(
      s"SELECT ST_CONTAINS(ST_GEOGFROMTEXT('LINESTRING(0 0, 1 1)'), ST_GEOGPOINT(0, 0))") }
    // ST_BOUNDINGBOX over every shape class
    assert(one("SELECT ST_BOUNDINGBOX(ST_GEOGPOINT(3, 4)).xmin") == 3.0)
    assert(one("SELECT ST_BOUNDINGBOX(ST_GEOGFROMTEXT('LINESTRING(1 2, 5 -3)')).ymax") == 2.0)
    assert(one(s"SELECT ST_BOUNDINGBOX(ST_GEOGFROMTEXT('$quad')).xmax") == 14.0)
    assert(one(s"SELECT ST_BOUNDINGBOX(ST_GEOGFROMTEXT('$quad')).ymin") == 10.0)
    intercept[Exception] { one("SELECT ST_BOUNDINGBOX('not a geography')") }
  }

  test("double-quoted literals with escaped apostrophes re-emit correctly") {
    // "don\'t" must become 'don\'t' (one backslash), not 'don\\'t'
    assert(one("SELECT FORMAT(\"don\\'t %d\", 5)") == "don't 5")
    assert(one("SELECT REGEXP_REPLACE('ab', 'b', \"\\'\")") == "a'")
  }

  test("value-table forms keep the flatten: FROM t, (SELECT AS STRUCT …)") {
    // comma-separated FROM item is TABLE context — flatten, not struct-wrap
    val r = spark.sql(Dialect.rewrite(
      "SELECT x.a FROM (SELECT 1 AS k), (SELECT AS STRUCT 2 AS a) AS x")).collect()
    assert(r(0).getInt(0) == 2)
    // parenthesized set-op branches are table context too
    val u = spark.sql(Dialect.rewrite(
      "SELECT a FROM ((SELECT AS STRUCT 1 AS a) UNION ALL (SELECT AS STRUCT 2 AS a)) ORDER BY a"))
      .collect()
    assert(u.map(_.getInt(0)).toSeq == Seq(1, 2))
    // expression context still wraps to ONE struct value
    assert(one("SELECT (SELECT AS STRUCT 1 AS a, 2 AS b).b") == 2)
  }

  test("struct subquery after ','/'(' in EXPRESSION context wraps (r10 ADVICE)") {
    // non-first select-list item: the ',' belongs to a SELECT list, not
    // a FROM list — r10's flat ','→table rule silently un-wrapped it
    val r = spark.sql(Dialect.rewrite(
      "SELECT 0 AS id, (SELECT AS STRUCT 1 AS a, 2 AS b) AS s")).collect()
    assert(r(0).getStruct(1).getInt(1) == 2, "multi-field struct survives")
    // single-field form: shape must stay a struct, not a bare scalar
    val r1 = spark.sql(Dialect.rewrite(
      "SELECT 0 AS id, (SELECT AS STRUCT 5 AS a) AS s")).collect()
    assert(r1(0).getStruct(1).getInt(0) == 5)
    // function argument: the '(' is a call opener, not a set-op branch
    assert(one("SELECT IF(true, (SELECT AS STRUCT 3 AS a, 4 AS b), NULL).b") == 4)
    // first-argument comma form
    assert(one(
      "SELECT IF(false, NULL, (SELECT AS STRUCT 6 AS a, 7 AS b)).a") == 6)
    // GROUP-BY-adjacent select list with aliasing noise still wraps
    val g = spark.sql(Dialect.rewrite(
      "SELECT k AS kk, (SELECT AS STRUCT MAX(9) AS m) AS s FROM (SELECT 1 AS k) GROUP BY k"))
      .collect()
    assert(g(0).getStruct(1).getInt(0) == 9)
    // and the table contexts beside commas STILL flatten
    val t = spark.sql(Dialect.rewrite(
      "SELECT x.a FROM (SELECT 1 AS k) t, (SELECT AS STRUCT 2 AS a) AS x")).collect()
    assert(t(0).getInt(0) == 2)
    // CTE definitions are value tables: `name AS (…)` keeps the flatten
    // (the r11 balanced-paren rework briefly struct-wrapped these)
    val c = spark.sql(Dialect.rewrite(
      "WITH y AS (SELECT AS STRUCT 2 AS a, 3 AS b) SELECT a, b FROM y")).collect()
    assert((c(0).getInt(0), c(0).getInt(1)) == (2, 3))
  }

  test("TIME typed-literal rewrite is string-literal-aware") {
    // the word TIME at the end of (or as) a literal must survive
    assert(one("SELECT 'TIME'") == "TIME")
    assert(one("SELECT 'day time'") == "day time")
    assert(one("SELECT x FROM (SELECT 'TIME' AS x) WHERE x = 'TIME'") == "TIME")
    // the genuine typed literal still strips, even after another literal
    assert(one("SELECT CONCAT('at ', TIME '09:10:11')") == "at 09:10:11")
  }

  test("a pass goes on past a type position or a literal holding its trigger") {
    graft.functions.BitSketchExpressions.register(spark)
    val st = spark.sql(Dialect.rewrite(
      "SELECT CAST(NULL AS STRUCT<a INT64>) AS x, STRUCT<a INT64>(1) AS y")).collect()(0)
    assert(st.isNullAt(0) && st.getStruct(1).getLong(0) == 1L)
    val v = spark.sql(Dialect.rewrite("WITH t AS (SELECT 'SELECT AS VALUE' AS s) " +
      "SELECT AS VALUE STRUCT(s AS s) FROM t")).collect()(0)
    assert(v.getString(0) == "SELECT AS VALUE")
    val w = spark.sql(Dialect.rewrite("SELECT 'OVER (w ORDER BY x)' AS s, " +
      "sum(n) OVER (w ORDER BY n) AS t FROM VALUES (1) AS v(n) " +
      "WINDOW w AS (PARTITION BY n)")).collect()(0)
    assert(w.getString(0) == "OVER (w ORDER BY x)" && w.getLong(1) == 1L)
    Seq("SELECT 'ARRAY<INT64>[1]' AS s", "SELECT 'a IN UNNEST(b)' AS s",
      "SELECT \"DATE(ts, 'UTC')\" AS s",
      "SELECT \"TIMESTAMP('2021-01-01T00:00:00')\" AS s").foreach { q =>
      val lit = q.substring(8, q.length - 6)
      assert(one(q) == lit, s"literal corrupted in: $q")
    }
  }
}
