package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The public ops API on arbitrary in-memory DataFrames — not the test
  * tables — proving the operators are a reusable library surface
  * (custom column names, any source) and their core invariants hold.
  */
class OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  import scala.jdk.CollectionConverters._
  private def docs(rows: (Long, String)*) = {
    import org.apache.spark.sql.{Row, types => T}
    spark.createDataFrame(
      rows.map { case (i, t) => Row(i, t) }.asJava,
      T.StructType(Seq(
        T.StructField("id", T.LongType), T.StructField("body", T.StringType))))
  }

  test("exactDedup groups identical content under custom column names") {
    val df = docs(1L -> "alpha beta", 2L -> "alpha beta", 3L -> "gamma")
    val out = TextDedup.exactDedup(df, idCol = "id", textCol = "body").collect()
    assert(out.length == 2)
    val dup = out.find(_.getLong(2) == 2L).get
    assert(dup.getLong(1) == 1L) // smallest id retained
  }

  test("sharedSpans measures the exact longest verbatim span on a shifted diagonal") {
    // doc 2 embeds tokens 3..22 of doc 1 (a 20-token span) behind a
    // 2-token head: 13 consecutive window matches on diagonal -1 →
    // max_span must be exactly 13 + 7 = 20
    val span = (1 to 20).map(i => s"w$i").mkString(" ")
    val df = docs(
      1L -> s"lead1 lead2 $span tail1 tail2",
      2L -> s"head1 $span end9",
      3L -> "completely different words nothing shared here at all now")
    val out = TextDedup.sharedSpans(df, idCol = "id", textCol = "body").collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getLong(0), r.getLong(1)) == (1L, 2L))
    assert(r.getLong(2) == 20L, s"expected exact 20-token span, got $r")
    assert(r.getLong(3) == 1L)
  }

  test("minhashLshPairs finds a planted near-duplicate") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val df = docs(
      1L -> base,
      2L -> (base + " extra"),
      3L -> "completely different words in this unrelated document here now")
    val pairs = TextDedup.minhashLshPairs(df, idCol = "id", textCol = "body")
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).contains((1L, 2L)))
    assert(pairs.forall(r => r.getLong(0) != 3L && r.getLong(1) != 3L))
  }

  test("minhashLshPairs bucketCap bounds hot buckets without throwing (r12)") {
    // 5 identical docs share every LSH bucket; cap = 2 keeps at most 2
    // ids per bucket (cap+1 rows reach the aggregate, the slice drops
    // the detector row), so pairs are the capped subset and the capped-
    // bucket observation fires instead of an executor OOM. Recall loss
    // past the cap is the documented trade; the pipeline must not fail.
    val df = docs((1L to 5L).map(i =>
      i -> "same exact text repeated in every single document body here"): _*)
    val capped = TextDedup.minhashLshPairs(df, idCol = "id", textCol = "body",
      bucketCap = 2).collect()
    // only the (1, 2) pair fits under cap = 2 — lowest sorted ids win
    assert(capped.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    // uncapped finds all 10 pairs of the 5-clique
    val full = TextDedup.minhashLshPairs(df, idCol = "id", textCol = "body")
      .collect()
    assert(full.length == 10)
  }

  test("incrementalDedup verdicts: exact > near > keep") {
    val history = docs(1L -> "one two three four five six seven eight nine")
    val batch = docs(
      10L -> "one two three four five six seven eight nine",           // exact
      11L -> "one two three four five six seven eight nine ten",       // near
      12L -> "totally fresh content with no overlap at all whatsoever") // keep
    val out = TextDedup.incrementalDedup(history, batch, idCol = "id", textCol = "body")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(10L) == ("exact_dup", 1L))
    assert(out(11L) == ("near_dup", 1L))
    assert(out(12L) == ("keep", -1L))
  }

  test("packSequences conserves tokens and packs in id order") {
    val df = docs((1L to 40L).map(i => i -> ("tok " * 600).trim): _*)
    val packs = Corpus.packSequences(df, idCol = "id", textCol = "body",
      budget = 2048, numBuckets = 4).collect()
    val totalTokens = packs.map(_.getLong(3)).sum
    assert(totalTokens == 40L * 600, s"token conservation broke: $totalTokens")
    // within a bucket, pack ids are dense from 0 and doc ranges don't overlap
    packs.groupBy(_.getLong(0)).foreach { case (_, ps) =>
      val sorted = ps.sortBy(_.getLong(1))
      assert(sorted.head.getLong(1) == 0L)
      sorted.sliding(2).foreach {
        case Array(p1, p2) => assert(p1.getLong(5) < p2.getLong(4)) // last_doc < next first_doc
        case _ =>
      }
    }
  }

  test("mixtureWeights sum to 1 and allocations to the budget") {
    val df = docs(
      1L -> "a b c d e", 2L -> "a b c", 3L -> "a b c d e f g h",
      4L -> "x y", 5L -> "x y z w v u t s r q p o n m")
      .withColumn("dom", when(col("id") <= 3, "d1").otherwise("d2"))
    val w = Corpus.mixtureWeights(df, domainCol = "dom", textCol = "body",
      budgetTokens = 1e6).collect()
    val sumW = w.map(_.getDouble(3)).sum
    assert(math.abs(sumW - 1.0) < 1e-5, s"weights sum $sumW")
    val sumAlloc = w.map(_.getLong(4)).sum
    assert(math.abs(sumAlloc - 1e6) < 2, s"allocation sum $sumAlloc")
  }

  test("quantizeInt8 bounds and reconstruction") {
    import org.apache.spark.sql.{Row, types => T}
    val df = spark.createDataFrame(
      Seq(Row(1L, Seq(0.5f, -1.0f, 0.25f)), Row(2L, Seq(2.0f, 1.0f, -0.5f))).asJava,
      T.StructType(Seq(T.StructField("vid", T.LongType),
        T.StructField("v", T.ArrayType(T.FloatType)))))
    val q = Embeddings.quantizeInt8(df, idCol = "vid", vecCol = "v")
      .selectExpr("vec_id", "scale", "q", "array_max(q) qmax", "array_min(q) qmin")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(q.values.forall(r => r.getLong(3) <= 127 && r.getLong(4) >= -127))
    // the max-|x| component always quantizes to ±127 exactly
    assert(q(1L).getSeq[Long](2) == Seq(64L, -127L, 32L))
    assert(q(2L).getSeq[Long](2) == Seq(127L, 64L, -32L))
  }

  test("bruteForceTopK ranks the true nearest neighbor first") {
    import org.apache.spark.sql.{Row, types => T}
    val vecs = spark.createDataFrame(
      Seq(
        Row(1L, Seq(1.0f, 0.0f)), Row(2L, Seq(0.9f, 0.1f)),
        Row(3L, Seq(0.0f, 1.0f)), Row(4L, Seq(-1.0f, 0.0f))).asJava,
      T.StructType(Seq(T.StructField("vec_id", T.LongType),
        T.StructField("embedding", T.ArrayType(T.FloatType)))))
    val q = Embeddings.quantized(vecs)
    val top = Embeddings.bruteForceTopK(q, q.where(col("vec_id") === 1), k = 2)
      .orderBy(col("rank")).collect()
    assert(top(0).getLong(2) == 2L) // closest direction
    assert(top(1).getLong(2) == 3L) // orthogonal beats opposite
  }

  test("redactPii scrubs emails, IPs, phones, digit runs — in that order") {
    val df = spark.createDataFrame(Seq(
      (1L, "mail a.b@x.co ip 10.0.0.1 tel +1-555-0000 acct 4111111111111111"),
      (2L, "clean text with short 12345 number"))).toDF("doc_id", "text")
    val out = graft.ops.Corpus.redactPii(df).orderBy("doc_id").collect()
    assert(out(0).getAs[String]("redacted") ==
      "mail [EMAIL] ip [IP] tel [PHONE] acct [NUM]")
    assert(out(0).getAs[Int]("n_email") == 1 && out(0).getAs[Int]("n_ip") == 1 &&
      out(0).getAs[Int]("n_phone") == 1 && out(0).getAs[Int]("n_num") == 1)
    assert(out(1).getAs[String]("redacted").contains("short 12345 number"))
    assert(out(1).getAs[Int]("n_num") == 0)
  }

  test("semanticDedup drops intra-cell near-duplicates, keep-first") {
    import org.apache.spark.sql.{Row, types => T}
    val vecs = spark.createDataFrame(
      Seq(
        Row(1L, Seq(1.0f, 0.0f)),   // cell A representative
        Row(2L, Seq(0.999f, 0.01f)), // near-dup of 1 → dropped, near_id 1
        Row(3L, Seq(0.0f, 1.0f)),   // cell B representative
        Row(4L, Seq(0.6f, 0.8f))    // cell B, far from 3 → kept
      ).asJava,
      T.StructType(Seq(T.StructField("vec_id", T.LongType),
        T.StructField("embedding", T.ArrayType(T.FloatType)))))
    val q = Embeddings.quantized(vecs)
    val cents = q.where(col("vec_id") === 1 || col("vec_id") === 3)
      .select(col("vec_id").as("cent_id"), col("q").as("cq"), col("nrm").as("cnrm"))
    val out = Embeddings.semanticDedup(q, cents, 0.99)
      .orderBy(col("vec_id")).collect()
    assert(out.map(r => r.getLong(0) -> r.getBoolean(2)).toSeq ==
      Seq(1L -> true, 2L -> false, 3L -> true, 4L -> true))
    assert(out(1).getLong(3) == 1L) // suppressed by the representative
  }

  test("spanPairs surfaces docs sharing a long exact token span") {
    val span = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val df = docs(
      1L -> (span + " original tail content here"),
      2L -> ("prefix words first then " + span),
      3L -> "entirely unrelated vocabulary with no shared windows at all present today")
    val pairs = TextDedup.spanPairs(df, idCol = "id", textCol = "body")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
    assert(pairs.forall(p => p._1 != 3L && p._2 != 3L))
  }

  test("containmentPairs finds the short doc inside its wrapper, both roles typed") {
    val article = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val df = docs(
      1L -> article,
      2L -> (article + " with appended editorial commentary following the quoted body"),
      3L -> "entirely unrelated vocabulary with no shared shingles at all present today")
    val out = TextDedup.containmentPairs(df, idCol = "id", textCol = "body")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.contains((1L, 2L)), s"1 is contained in 2: ${out.mkString(",")}")
    assert(!out.contains((2L, 1L)), "containment is asymmetric — the wrapper is not contained")
    assert(out.forall(p => p._1 != 3L && p._2 != 3L))
  }

  test("spanPairs stop-window pruning drops boilerplate phrases") {
    // the same 8-token phrase in every doc exceeds dfCap=2 → no pairs
    val phrase = "one two three four five six seven eight"
    val df = docs(1L -> phrase, 2L -> phrase, 3L -> phrase, 4L -> phrase)
    assert(TextDedup.spanPairs(df, idCol = "id", textCol = "body",
      dfCap = 2, minShared = 1).count() == 0)
  }

  test("bloomDedupStats: no false negatives, fp bound holds") {
    val history = docs((1L to 50L).map(i => i -> s"historical doc number $i body"): _*)
    val batch = docs(
      (101L to 110L).map(i => i -> s"historical doc number ${i - 100} body") ++ // 10 exact dups
      (201L to 230L).map(i => i -> s"fresh unseen content item $i"): _*)        // 30 new
    val row = TextDedup.bloomDedupStats(history, batch, textCol = "body")
      .collect()(0)
    assert(row.getLong(0) == 40L)      // n_new
    assert(row.getLong(1) == 10L)      // n_exact_dups
    assert(row.getBoolean(2))          // no false negatives — guaranteed
    assert(row.getBoolean(3))          // fp count within the sized bound
  }

  test("bm25Terms: rarer term outranks commoner term at equal tf") {
    val df = docs(
      1L -> "apple banana banana cherry",
      2L -> "apple durian durian elderberry",
      3L -> "apple fig fig grape")
    // per doc, the doubled term has top tf; 'apple' (df=3) never wins
    val top1 = Corpus.bm25Terms(df, idCol = "id", textCol = "body", topK = 1)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(top1 == Map(1L -> "banana", 2L -> "durian", 3L -> "fig"))
  }

  test("chunked covers every token once per stride and hashes slices") {
    val text = (1 to 10).map(i => s"t$i").mkString(" ") // 10 tokens
    val out = Corpus.chunked(docs(1L -> text), idCol = "id", textCol = "body",
      chunkTokens = 4, overlap = 2).orderBy(col("chunk_id")).collect()
    // stride 2 → starts 0,2,4,6,8 → 5 chunks; last is the 2-token tail
    assert(out.length == 5)
    assert(out.map(_.getLong(3)).toSeq == Seq(4L, 4L, 4L, 4L, 2L))
    assert(out.map(_.getLong(2)).toSeq == Seq(0L, 2L, 4L, 6L, 8L))
  }

  test("weightedSample is deterministic and k-bounded per group") {
    val rows = (1L to 40L).map(i => (i, s"g${i % 2}", 10.0 + i))
    import org.apache.spark.sql.{Row, types => T}
    val df = spark.createDataFrame(
      rows.map { case (i, g, w) => Row(i, g, w) }.asJava,
      T.StructType(Seq(T.StructField("id", T.LongType),
        T.StructField("grp", T.StringType), T.StructField("wt", T.DoubleType))))
    val a = Corpus.weightedSample(df, "grp", col("wt"), idCol = "id", k = 3)
      .orderBy(col("grp"), col("rank")).collect()
    val b = Corpus.weightedSample(df, "grp", col("wt"), idCol = "id", k = 3)
      .orderBy(col("grp"), col("rank")).collect()
    assert(a.length == 6) // 3 per group × 2 groups
    assert(a.map(_.getLong(1)).toSeq == b.map(_.getLong(1)).toSeq) // reproducible
  }

  test("luhnValid accepts published test card numbers and rejects off-by-one twins") {
    import spark.implicits._
    // standard network test numbers (public): Visa, Mastercard, Amex
    val rows = Seq(
      ("4532015112830366", true), ("4532015112830367", false),
      ("4111111111111111", true), ("4111111111111112", false),
      ("5500005555555559", true), ("378282246310005", true),
      ("1234567812345678", false))
    val df = rows.toDF("num", "want")
    val got = df.withColumn("ok", Corpus.luhnValid(col("num")))
      .where(col("ok") =!= col("want")).count()
    assert(got == 0L)
  }

  test("cardCandidates counts digit runs and Luhn-valid subset per doc") {
    val df = docs(
      1L -> "pay with 4532015112830366 or order 1234567812345678",
      2L -> "no numbers here", 3L -> "short 123456 digits only")
    val out = Corpus.cardCandidates(df, idCol = "id", textCol = "body")
      .orderBy(col("id")).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 2L, 1L), (2L, 0L, 0L), (3L, 0L, 0L)))
    assert(out.head.getBoolean(3)) // has_valid_card on doc 1
  }

  test("preferencePairs pairs best with worst rank-for-rank under a margin") {
    import org.apache.spark.sql.{Row, types => T}
    val rows = (1L to 6L).map(i => Row(i, "g", i.toDouble)) :+ Row(7L, "h", 1.0)
    val df = spark.createDataFrame(rows.asJava,
      T.StructType(Seq(T.StructField("id", T.LongType),
        T.StructField("grp", T.StringType), T.StructField("sc", T.DoubleType))))
    val out = Corpus.preferencePairs(df, Seq("grp"), "sc", idCol = "id",
        k = 2, minMargin = 3.0).orderBy(col("grp"), col("rk")).collect()
    // g: rank1 pairs 6↔1 (margin 5), rank2 pairs 5↔2 (margin 3);
    // h has one row → chosen==rejected, excluded
    assert(out.map(r => (r.getAs[Long]("chosen_id"),
      r.getAs[Long]("rejected_id"), r.getAs[Double]("margin"))).toSeq ==
      Seq((6L, 1L, 5.0), (5L, 2L, 3.0)))
  }

  test("tokenEntropy: uniform tokens score log2(n), repeats score 0 and flag") {
    val df = docs(1L -> "a b c d", 2L -> "spam spam spam spam", 3L -> "x x y y")
    val out = Corpus.tokenEntropy(df, idCol = "id", textCol = "body")
      .orderBy(col("id")).collect()
    assert(out(0).getAs[Double]("entropy_bits") == 2.0) // 4 uniform → 2 bits
    assert(out(1).getAs[Double]("entropy_bits") == 0.0)
    assert(out(1).getAs[Boolean]("is_low_entropy"))
    assert(out(2).getAs[Double]("entropy_bits") == 1.0)
    assert(!out(0).getAs[Boolean]("is_low_entropy"))
    assert(out(0).getAs[Double]("ttr") == 1.0 && out(1).getAs[Double]("ttr") == 0.25)
  }

  test("spanCutRewrite removes exactly the shared span from the higher-id doc") {
    val span = (1 to 20).map(i => s"w$i").mkString(" ")
    val df = docs(
      1L -> s"lead1 lead2 $span tail1 tail2",
      2L -> s"head1 $span end9",
      3L -> "completely different words nothing shared here at all now")
    val out = TextDedup.spanCutRewrite(df, idCol = "id", textCol = "body").collect()
    assert(out.length == 1) // only doc 2 (higher id of the pair) is cut
    val r = out.head
    assert(r.getAs[Long]("doc_id") == 2L)
    assert(r.getAs[Long]("n_toks") == 22L)
    assert(r.getAs[Long]("n_spans") == 1L)
    assert(r.getAs[Long]("n_removed_toks") == 20L)
    // surviving text is exactly "head1 end9"
    val expect = java.security.MessageDigest.getInstance("MD5")
      .digest("head1 end9".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(r.getAs[String]("new_md5") == expect)
  }

  test("pqEncode assigns each block to its nearest centroid with exact int L2") {
    import org.apache.spark.sql.{Row, types => T}
    def vecs(rows: (Long, Seq[Long])*) = spark.createDataFrame(
      rows.map { case (i, q) => Row(i, q) }.asJava,
      T.StructType(Seq(T.StructField("vec_id", T.LongType),
        T.StructField("q", T.ArrayType(T.LongType)))))
    val corpus = vecs(10L -> Seq(1L, 0L, 9L, 9L), 11L -> Seq(9L, 10L, 1L, 1L))
    val cb = vecs(0L -> Seq(0L, 0L, 10L, 10L), 1L -> Seq(10L, 10L, 0L, 0L))
      .select(col("vec_id").as("cent_id"), col("q").as("cq"))
    val out = Embeddings.pqEncode(corpus, cb, m = 2)
      .orderBy(col("vec_id")).collect()
    assert(out(0).getAs[scala.collection.Seq[Long]]("codes").toSeq == Seq(0L, 0L))
    assert(out(0).getAs[Long]("sqerr") == 3L)  // 1 + 2
    assert(out(1).getAs[scala.collection.Seq[Long]]("codes").toSeq == Seq(1L, 1L))
    assert(out(1).getAs[Long]("sqerr") == 3L)  // 1 + 2
  }

  test("pqAdcTopK ranks by summed lookup-table distances, self excluded") {
    import org.apache.spark.sql.{Row, types => T}
    def vecs(rows: (Long, Seq[Long])*) = spark.createDataFrame(
      rows.map { case (i, q) => Row(i, q) }.asJava,
      T.StructType(Seq(T.StructField("vec_id", T.LongType),
        T.StructField("q", T.ArrayType(T.LongType)))))
    // centroids are the axes; A sits on c0, B on c1, C between
    val cb = vecs(0L -> Seq(0L, 0L, 10L, 10L), 1L -> Seq(10L, 10L, 0L, 0L))
      .select(col("vec_id").as("cent_id"), col("q").as("cq"))
    val corpus = vecs(
      10L -> Seq(0L, 0L, 10L, 10L),   // codes (0,0)
      11L -> Seq(10L, 10L, 0L, 0L),   // codes (1,1)
      12L -> Seq(1L, 0L, 10L, 10L))   // codes (0,0)
    val q = vecs(10L -> Seq(0L, 0L, 10L, 10L))
    val out = Embeddings.pqAdcTopK(corpus, q, cb, m = 2, k = 2)
      .orderBy(col("rank")).collect()
    // ADC dist(10→12) = 0 (same codes, query on centroid); 10→11 = 400
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(12L, 11L))
    assert(out(0).getAs[Long]("adc_dist") == 0L)
    assert(out(1).getAs[Long]("adc_dist") == 400L)
  }

  test("ivfPqTopK scores only probed lists, ADC over residual codes") {
    import org.apache.spark.sql.{Row, types => T}
    def vecs(rows: (Long, Seq[Long])*) = spark.createDataFrame(
      rows.map { case (i, q) => Row(i, q) }.asJava,
      T.StructType(Seq(T.StructField("vec_id", T.LongType),
        T.StructField("q", T.ArrayType(T.LongType)))))
    val coarse = vecs(0L -> Seq(0L, 0L, 0L, 0L), 1L -> Seq(100L, 100L, 100L, 100L))
      .select(col("vec_id").as("cent_id"), col("q").as("cq"))
    val pqCb = vecs(0L -> Seq(0L, 0L, 0L, 0L), 1L -> Seq(2L, 2L, 2L, 2L))
      .select(col("vec_id").as("cent_id"), col("q").as("cq"))
    val corpus = vecs(
      10L -> Seq(1L, 1L, 0L, 0L),       // list 0, resid (1,1,0,0)
      11L -> Seq(99L, 99L, 100L, 100L), // list 1 — outside the probe
      12L -> Seq(0L, 0L, 2L, 2L))       // list 0, resid codes (0,1)
    val q = vecs(10L -> Seq(1L, 1L, 0L, 0L))
    val out = Embeddings.ivfPqTopK(corpus, q, coarse, pqCb,
      m = 2, nProbe = 1, k = 5).collect()
    // nProbe=1 probes list 0 only: vec 11 must NOT score at all;
    // vec 12's ADC = LUT(block0, code0)=2 + LUT(block1, code1)=8
    assert(out.length == 1)
    assert(out.head.getAs[Long]("neighbor_id") == 12L)
    assert(out.head.getAs[Long]("adc_dist") == 10L)
  }

  private def sited(rows: (Long, String, String)*) = {
    import org.apache.spark.sql.{Row, types => T}
    spark.createDataFrame(
      rows.map { case (i, site, t) => Row(i, site, t) }.asJava,
      T.StructType(Seq(
        T.StructField("id", T.LongType), T.StructField("site", T.StringType),
        T.StructField("body", T.StringType))))
  }

  test("boilerplateLines cuts a line repeated across minDf docs of a site only") {
    val df = sited(
      ((1L to 5L).map(i => (i, "a", s"unique prose $i\nshared footer")) :+
        ((6L, "b", "unique prose 6\nshared footer"))): _*)
    val out = TextDedup.boilerplateLines(df, idCol = "id", textCol = "body",
        groupCol = "site", minDf = 5).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // site a: the footer appears in 5 distinct docs → cut everywhere
    assert(out(1L) == ((2L, 1L, 1L)))
    // site b: same footer but only 1 doc there → kept (df is per-site)
    assert(out(6L) == ((2L, 2L, 0L)))
  }

  test("rankAuc matches the closed-form pairwise AUC with average-rank ties") {
    import org.apache.spark.sql.{Row, types => T}
    val df = spark.createDataFrame(
      Seq(Row(0.9, 1), Row(0.5, 1), Row(0.5, 0), Row(0.1, 0)).asJava,
      T.StructType(Seq(T.StructField("s", T.DoubleType),
        T.StructField("y", T.IntegerType))))
    val r = Corpus.rankAuc(df, "s", "y").collect().head
    // pairs: (.9>.5)=1, (.9>.1)=1, (.5=.5)=½, (.5>.1)=1 → 3.5/4
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 0.875)
  }

  test("bradleyTerry: exact win/game counts, dominance-ordered strengths, mean 1") {
    val sess = spark
    import sess.implicits._
    val m = Seq(("a", "b"), ("a", "b"), ("b", "c"), ("a", "c"))
      .toDF("winner", "loser")
    val out = Corpus.bradleyTerry(m, iters = 2).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out("a")._1 == 3L && out("a")._2 == 3L)
    assert(out("b")._1 == 1L && out("b")._2 == 3L)
    assert(out("c")._1 == 0L && out("c")._2 == 2L)
    assert(out("a")._3 > out("b")._3 && out("b")._3 > out("c")._3)
    assert(out("c")._3 == 0.0) // zero wins pins π at the MM fixpoint floor
    assert(math.abs(out.values.map(_._3).sum - 3.0) < 1e-5)
  }

  test("encodingArtifacts counts double-encoding signatures and U+FFFD") {
    val df = docs(
      1L -> "cafÃ© twice cafÃ© and �",
      2L -> "clean ascii text")
    val out = Corpus.encodingArtifacts(df, idCol = "id", textCol = "body")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(4))))
      .toMap
    assert(out(1L) == ((2L, 1L, true)))
    assert(out(2L) == ((0L, 0L, false)))
  }

  test("curriculumSchedule: root pacing unlocks the easy half in epoch 1") {
    val df = sited((1L, "g", "one"), (2L, "g", "one two"),
      (3L, "g", "one two three"), (4L, "g", "one two three four"))
    val out = Corpus.curriculumSchedule(df,
        difficulty = size(split(col("body"), " ")),
        groupCol = "site", idCol = "id", epochs = 4)
      .select("id", "rnk", "first_epoch").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // thresholds for n=4: ⌈4√(e/4)⌉ = 2, 3, 4, 4
    assert(out(1L) == ((1L, 1L)) && out(2L) == ((2L, 1L)))
    assert(out(3L) == ((3L, 2L)) && out(4L) == ((4L, 3L)))
  }

  test("labelPropagation: seed verdicts sweep their dup neighborhood, ties hold") {
    val sess = spark
    import sess.implicits._
    // chain 1-2-3 seeded +1 at its head; pair 5-6 seeded -1; pair 8-9
    // unlabeled — must stay neutral, not invent a label
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L)).toDF("a", "b")
    val seeds = Seq((1L, 1), (5L, -1)).toDF("node", "lab")
    val out = TextDedup.labelPropagation(pairs, seeds, iters = 3).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getBoolean(2)))).toMap
    assert(out(1L) == ((1, true)))
    assert(out(2L) == ((1, false)) && out(3L) == ((1, false))) // 2 hops
    assert(out(5L) == ((-1, true)) && out(6L) == ((-1, false)))
    assert(out(8L) == ((0, false)) && out(9L) == ((0, false)))
  }

  test("edgeCache feeds labelPropagation AND connectedComponents — one pair pass") {
    val sess = spark
    import sess.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L)).toDF("a", "b")
    val seeds = Seq((1L, 1), (5L, -1)).toDF("node", "lab")
    val edges = TextDedup.edgeCache(pairs)
    // identical results to the raw-pairs path (dispatch is by shape)
    val viaCache = TextDedup.labelPropagation(edges, seeds, iters = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSet
    val viaPairs = TextDedup.labelPropagation(pairs, seeds, iters = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSet
    assert(viaCache == viaPairs)
    val ccCache = TextDedup.connectedComponents(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ccPairs = TextDedup.connectedComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ccCache == ccPairs)
    assert(ccCache.groupBy(_._2).size == 3, "three components: {1,2,3},{5,6},{8,9}")
  }

  test("winnowing: a shared w+k-1-token run yields a shared fingerprint") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta" // 8 = w+k-1
    val df = docs(
      1L -> s"unique one two three $shared",
      2L -> s"$shared different tail words here")
    val fp = TextDedup.winnowingFingerprints(df, idCol = "id", textCol = "body")
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    assert((fp(1L) & fp(2L)).nonEmpty,
      "the winnowing guarantee: one shared fingerprint per shared run")
  }

  test("winnowing rightmost-min tie rule: uniform grams select window tails") {
    // 10 identical tokens → 7 identical grams → 3 windows; the
    // rightmost-min rule must pick index p+w-1 of each window
    val df = docs(1L -> Seq.fill(10)("x").mkString(" "))
    val pos = TextDedup.winnowingFingerprints(df, idCol = "id", textCol = "body")
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(pos == Seq(5L, 6L, 7L))
  }

  test("winnowingPairs surfaces docs sharing a long run, not disjoint docs") {
    val shared = (1 to 20).map(i => s"tok$i").mkString(" ")
    val df = docs(
      1L -> s"preamble words here $shared",
      2L -> s"$shared completely other ending",
      3L -> "nothing in common with anyone at all here today")
    val out = TextDedup.winnowingPairs(df, idCol = "id", textCol = "body")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((1L, 2L)))
    assert(!out.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("kmvOverlap estimates snapshot intersection from tiny sketches") {
    val a = docs((1L to 6L).map(i => i -> s"snapshot doc number $i"): _*)
    val b = docs((4L to 9L).map(i => i -> s"snapshot doc number $i"): _*)
    val r = Corpus.kmvOverlap(a, b, textCol = "body", k = 256)
      .collect().head
    assert(r.getLong(0) == 6L && r.getLong(1) == 6L) // exact distincts
    val sharedBelow = r.getLong(3)
    assert(sharedBelow >= 2L && sharedBelow <= 3L) // θ may clip one
    assert(r.getDouble(4) > 0.0)
  }

  test("cohenKappa: closed-form 2x2 agreement with chance correction") {
    import org.apache.spark.sql.{Row, types => T}
    val rows = Seq.fill(4)(Row(true, true)) ++ Seq(Row(true, false)) ++
      Seq(Row(false, true)) ++ Seq.fill(4)(Row(false, false))
    val df = spark.createDataFrame(rows.asJava,
      T.StructType(Seq(T.StructField("a", T.BooleanType),
        T.StructField("b", T.BooleanType))))
    val r = Corpus.cohenKappa(df, col("a"), col("b")).collect().head
    // po = 8/10, pe = (5·5 + 5·5)/100 = 0.5 → κ = 0.3/0.5 = 0.6
    assert(r.getLong(0) == 10L && r.getLong(1) == 4L && r.getLong(4) == 4L)
    assert(r.getDouble(5) == 0.8 && r.getDouble(6) == 0.5)
    assert(r.getDouble(7) == 0.6)
  }

  test("langTokenStats: multi-byte scripts show bytes-per-char > 1") {
    val df = sited((1L, "en", "ab cd"), (2L, "zh", "你好"))
    val out = Corpus.langTokenStats(df, langCol = "site", textCol = "body")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(6)))).toMap
    assert(out("en") == ((2L, 5L, 5L, 1.0)))
    assert(out("zh") == ((1L, 2L, 6L, 3.0))) // 2 Han chars, 3 bytes each
  }

  test("scriptProfile counts per-script code points and picks the dominant") {
    val df = docs(
      1L -> "hello world", 2L -> "привет мир z", 3L -> "γειά κόσμος",
      4L -> "你好世界", 5L -> "مرحبا بالعالم")
    val out = Corpus.scriptProfile(df, idCol = "id", textCol = "body")
      .orderBy(col("id")).collect()
    assert(out.map(_.getAs[String]("dominant_script")).toSeq ==
      Seq("latin", "cyrillic", "greek", "han", "arabic"))
    assert(out(1).getAs[Long]("n_cyrillic") == 9L) // привет(6) + мир(3)
    assert(out(1).getAs[Long]("n_latin") == 1L)    // the z
    assert(out(3).getAs[Long]("n_han") == 4L)
  }

  test("dataConstrainedPlan: dedup feeds U, decay fit, under-epoch branch") {
    val df = sited(
      (1L, "a", "w x y z"), (2L, "a", "w x y z"), // exact dup: U_a = 4
      (3L, "b", "one two three four five six seven eight nine ten eleven twelve"))
    val out = Corpus.dataConstrainedPlan(df, textCol = "body",
        srcCol = "site").orderBy(col("source")).collect()
    // total U = 16, 2 sources, slice = 4·16/2 = 32
    val a = out(0)
    assert(a.getLong(1) == 1L && a.getLong(2) == 4L) // dup collapsed
    assert(a.getDouble(3) == 32.0 && a.getDouble(4) == 8.0) // epochs
    val expectedEff = 4.0 * (1.0 + 15.4 * (1.0 - math.exp(7.0 * (-1.0 / 15.4))))
    assert(math.abs(a.getDouble(5) - expectedEff) < 1e-3)
    // a slice under one epoch is all-unique: eff = slice, utilization 1
    val tight = Corpus.dataConstrainedPlan(
        sited((1L, "a", "w x y z"),
          (2L, "b", (1 to 28).map(i => s"t$i").mkString(" "))),
        textCol = "body", srcCol = "site",
        budgetMult = 0.5).orderBy(col("source")).collect()
    assert(tight(1).getDouble(3) == 8.0)   // slice = 0.5·32/2 = 8 < U_b
    assert(tight(1).getDouble(5) == 8.0)   // eff = slice (all unique)
    assert(tight(1).getDouble(6) == 1.0)   // utilization
  }

  test("thresholdSweep: cumulative confusion counts over the score grid") {
    import org.apache.spark.sql.{Row, types => T}
    val df = spark.createDataFrame(Seq(
        Row(0.1, true), Row(0.1, false), Row(0.6, true), Row(0.9, true)).asJava,
      T.StructType(Seq(T.StructField("score", T.DoubleType),
        T.StructField("lab", T.BooleanType))))
    val out = Corpus.thresholdSweep(df, col("score"), col("lab"),
      nBuckets = 10).orderBy(col("bucket")).collect()
    assert(out.length == 10)
    val b0 = out(0) // threshold 0: everything predicted positive
    assert(b0.getLong(2) == 3L && b0.getLong(3) == 1L &&
      b0.getLong(4) == 0L && b0.getLong(5) == 0L)
    assert(b0.getDouble(6) == 0.75 && b0.getDouble(7) == 1.0)
    val b2 = out(2) // threshold 0.2: the two 0.1 docs drop out
    assert(b2.getLong(2) == 2L && b2.getLong(3) == 0L && b2.getLong(4) == 1L
      && b2.getLong(5) == 1L)
    assert(b2.getDouble(6) == 1.0 && b2.getDouble(7) == 0.666667)
    assert(b2.getDouble(8) == 0.8) // f1 = 4/5
    val b9 = out(9) // only the 0.9 doc predicted positive
    assert(b9.getLong(2) == 1L && b9.getLong(3) == 0L && b9.getLong(4) == 2L)
  }

  test("softDedupWeights: a cluster of c copies weighs in at ⌊1e6/c⌋ each") {
    val df = sited((1L, "s1", "x y z"), (2L, "s2", "x y z"), (3L, "s1", "a b"))
    val out = Corpus.softDedupWeights(df, idCol = "id", textCol = "body",
        srcCol = "site").orderBy(col("id")).collect()
    assert(out(0).getLong(2) == 2L && out(0).getLong(3) == 500000L)
    assert(out(1).getLong(2) == 2L && out(1).getLong(3) == 500000L)
    assert(out(2).getLong(2) == 1L && out(2).getLong(3) == 1000000L)
    assert(out(0).getLong(4) == 3L && out(2).getLong(4) == 2L) // n_toks
  }

  test("kneserNeyBigrams: continuation counts price tokens by context variety") {
    val df = docs(1L -> "san francisco san jose")
    val out = Corpus.kneserNeyBigrams(df, idCol = "id", textCol = "body")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(8))
      .toMap
    // bigrams: (san,francisco) (francisco,san) (san,jose); N1+(··)=3
    // P(francisco|san) = (max(1−.75,0) + .75·2·(1/3)) / 2 = 0.375
    assert(math.abs(out(("san", "francisco")) - 0.375) < 1e-9)
    assert(math.abs(out(("san", "jose")) - 0.375) < 1e-9)
    // P(san|francisco) = (0.25 + .75·1·(1/3)) / 1 = 0.5
    assert(math.abs(out(("francisco", "san")) - 0.5) < 1e-9)
    // probabilities out of each context sum below 1 (mass reserved
    // for unseen continuations is the point of the discount)
    val outOfSan = out(("san", "francisco")) + out(("san", "jose"))
    assert(outOfSan < 1.0)
    // a single-token doc must not crash the bigram builder
    assert(Corpus.kneserNeyBigrams(docs(1L -> "solo", 2L -> "a b"),
      idCol = "id", textCol = "body").count() == 1L)
  }

  test("bitextCandidates: cross-language pairs on rare numerals, df-capped") {
    import org.apache.spark.sql.{Row, types => T}
    def frame(rows: (Long, String, String)*) = spark.createDataFrame(
      rows.map { case (i, l, t) => Row(i, l, t) }.asJava,
      T.StructType(Seq(T.StructField("id", T.LongType),
        T.StructField("lg", T.StringType), T.StructField("body", T.StringType))))
    val df = frame(
      (1L, "en", "report 12345 and 67890 plus 555"),
      (2L, "fr", "rapport 12345 et 67890 avec 555"),
      (3L, "en", "other 99911 22200"),
      (4L, "de", "anders 99911"), // one shared numeral < minShared
      (5L, "en", "common 444555"), (6L, "fr", "commun 444555"),
      (7L, "it", "comune 444555")) // df 3 > cap 2 → dropped
    val out = Corpus.bitextCandidates(df, idCol = "id", textCol = "body",
        langCol = "lg", minShared = 2, dfCap = 2).collect()
    assert(out.length == 1)
    assert(out(0).getLong(0) == 1L && out(0).getLong(2) == 2L)
    assert(out(0).getString(1) == "en" && out(0).getString(3) == "fr")
    assert(out(0).getLong(4) == 3L) // 12345, 67890, 555
  }

  test("exactNgramContamination: verbatim n-gram hit flags the train doc") {
    import org.apache.spark.sql.{Row, types => T}
    def frame(rows: (Long, String)*) = spark.createDataFrame(
      rows.map { case (i, t) => Row(i, t) }.asJava,
      T.StructType(Seq(T.StructField("doc_id", T.LongType),
        T.StructField("text", T.StringType))))
    val eval = frame((100L, "the quick brown fox jumps"))
    val train = frame(
      // contains the eval 3-gram "quick brown fox" verbatim
      (1L, "a very quick brown fox runs home"),
      // same words, different order — no verbatim 3-gram
      (2L, "fox brown quick the jumps"),
      // too short for any 3-gram
      (3L, "quick brown"))
    val out = TextDedup.exactNgramContamination(train, eval, n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 5L, 1L))) // 5 distinct 3-grams, 1 hit
  }
}
